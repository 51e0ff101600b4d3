package graft

import java.nio.file.{Files, Paths}

import graft.operators.TextAnalysis
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainUtils, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Plans of every action of the three token-hash operators. Copy into
  * src/test/scala/graft of each checkout and run:
  *   sbt "Test/runMain graft.TextPlans <outDir> <before|after> <sf0.001 dir>" */
object TextPlans {
  def main(args: Array[String]): Unit = {
    val Array(outDir, suffix, testdata) = args
    Files.createDirectories(Paths.get(outDir))
    val spark = SparkSession.builder().master("local[2]").appName("plans")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val buf = new StringBuilder
    def fmt(p: SparkPlan): String = { val sb = new StringBuilder; ExplainUtils.processPlan(p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan; case o => o }, s => { sb.append(s); () }); sb.toString }
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = buf.synchronized {
        buf.append(s"== action $f ==\n").append(fmt(qe.executedPlan)).append("\n") }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    def drain(): Unit = { val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc); bus.getClass.getMethod("waitUntilEmpty").invoke(bus) }
    val docs = spark.read.parquet(s"$testdata/documents.parquet")
    val ref = docs.where(col("doc_id") % 2 === 0)
    for ((name, run) <- Seq[(String, () => Unit)](
      "unigramScore" -> (() => TextAnalysis.unigramScore(docs, ref).collect()),
      "bigramScore" -> (() => TextAnalysis.bigramScore(docs, ref).collect()),
      "naiveBayesClassify" -> (() => TextAnalysis.naiveBayesClassify(docs, ref, labelCol = "lang").collect()))) {
      drain(); buf.synchronized(buf.clear()); run(); drain()
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), buf.synchronized(buf.toString).replace(testdata, "<testdata>"))
    }
    spark.stop()
  }
}
