package graft

import java.nio.file.{Files, Paths}

import graft.operators.{Dedup, Similarity}
import graft.sinks.VectorStoreWriter
import graft.streaming.StreamingIngest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainUtils, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Records the plans of every SQL action and every write input of a set
  * of store calls, one file per call. Copy into src/test/scala/graft of
  * each checkout and run with the same arguments on both:
  *   sbt "Test/runMain graft.PlanEvidence <outDir> <before|after> <sf0.001 dir> <empty work dir>" */
object PlanEvidence {
  def main(args: Array[String]): Unit = {
    val Array(outDir, suffix, testdata, work) = args
    Files.createDirectories(Paths.get(outDir))
    val spark = SparkSession.builder().master("local[2]").appName("plans")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val buf = new StringBuilder
    def finalPlan(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case o => o
    }
    def fmt(p: SparkPlan): String = { val sb = new StringBuilder; ExplainUtils.processPlan(p, s => { sb.append(s); () }); sb.toString }
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, d: Long): Unit = buf.synchronized {
        qe.executedPlan.collectFirst { case w: DataWritingCommandExec => w } match {
          case Some(w) =>
            val parts = w.cmd match {
              case c: InsertIntoHadoopFsRelationCommand => c.partitionColumns.toString
              case c => c.getClass.getSimpleName
            }
            buf.append(s"== write input, partitionBy $parts ==\n").append(fmt(finalPlan(w.child))).append("\n")
          case None =>
            buf.append(s"== action $funcName ==\n").append(fmt(finalPlan(qe.executedPlan))).append("\n")
        }
      }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = buf.synchronized {
        buf.append(s"== failed $funcName: ${e.getMessage} ==\n")
      }
    })
    def drain(): Unit = {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
    def capture(name: String)(body: => Unit): Unit = {
      drain(); buf.synchronized(buf.clear())
      body
      drain()
      val text = buf.synchronized(buf.toString)
        .replace(testdata, "<testdata>").replace(work, "<work>")
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), text)
      println(s"[plans] $name: ${text.split("\n").count(_.startsWith("== "))} sections")
    }

    val docs = spark.read.parquet(s"$testdata/documents.parquet").select(col("doc_id"), col("text"))
    val emb = spark.read.parquet(s"$testdata/embeddings.parquet").select(col("vec_id"), col("embedding"))
    def records(lo: Int, hi: Int): DataFrame = VectorStoreWriter.toVectorRecords(
      docs.where(col("doc_id").between(lo, hi)).select(col("doc_id"), lit(0).as("chunk_id"),
        col("text").as("content"), lit("").as("context")), 16)

    val store = s"$work/store"
    capture("writeWithLayout_seed")(VectorStoreWriter.writeWithLayout(records(0, 99), store))
    capture("writeWithLayout_upsert")(VectorStoreWriter.writeWithLayout(records(50, 149), store))

    val ivf = s"$work/ivf"
    capture("writeIvfIndex")(Similarity.writeIvfIndex(emb.where(col("vec_id") < 400), ivf, nLists = 16))
    capture("appendToIvfIndex")(Similarity.appendToIvfIndex(spark, ivf, emb.where(col("vec_id").between(400, 419))))
    capture("maybeRetrainIvfIndex") {
      val got = Similarity.maybeRetrainIvfIndex(spark, ivf, minMeanCos = 2.0)
      println(s"[plans] retrained lists: $got")
    }

    val idx = s"$work/dedup"
    capture("writeDedupIndex")(Dedup.writeDedupIndex(docs.where(col("doc_id") < 200), idx))
    capture("appendToDedupIndex")(Dedup.appendToDedupIndex(spark, idx, docs.where(col("doc_id").between(200, 249))))
    capture("probeDedupIndex") {
      val n = Dedup.probeDedupIndex(spark, idx,
        docs.where(col("doc_id").between(250, 299)).unionByName(docs.where(col("doc_id") < 10)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))).collect().length
      println(s"[plans] probe pairs: $n")
    }
    capture("compactDedupIndex")(Dedup.compactDedupIndex(spark, idx))
    capture("removeFromDedupIndex") {
      val n = Dedup.removeFromDedupIndex(spark, idx, docs.where(col("doc_id") < 10).select(col("doc_id")))
      println(s"[plans] retraction rewrote $n files")
    }

    val snap = s"$work/snap"
    docs.where(col("doc_id") < 50).write.parquet(snap)
    val cdcIn = Files.createDirectories(Paths.get(work, "cdc_in"))
    Files.writeString(cdcIn.resolve("b1.json"),
      """{"seq":10,"op":"U","doc_id":1,"text":"one v1"}
        |{"seq":11,"op":"U","doc_id":1,"text":"one v2"}
        |{"seq":12,"op":"D","doc_id":2,"text":""}
        |{"seq":13,"op":"I","doc_id":900,"text":"nine hundred"}""".stripMargin)
    val cdcSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "seq BIGINT, op STRING, doc_id BIGINT, text STRING")
    capture("cdcStream_batch") {
      StreamingIngest.cdcStream(spark.readStream.schema(cdcSchema).json(cdcIn.toString), snap,
        s"$work/cdc_ckpt").start().awaitTermination()
    }

    val curIn = s"$work/curate_in"
    docs.where(col("doc_id") < 50).unionByName(docs.where(col("doc_id") < 5)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"))).coalesce(1).write.parquet(curIn)
    capture("curateStream_batch") {
      StreamingIngest.curateStream(spark.readStream.schema(docs.schema).parquet(curIn),
        s"$work/curate_idx", s"$work/curate_accept", s"$work/curate_ckpt").start().awaitTermination()
    }
    spark.stop()
  }
}
