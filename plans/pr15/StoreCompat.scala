package graft

import graft.operators.{Dedup, Similarity}
import graft.sinks.VectorStoreWriter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** StoreCompat write <dir> <testdata> | StoreCompat use <dir> <testdata> */
object StoreCompat {
  def main(args: Array[String]): Unit = {
    val Array(phase, dir, testdata) = args
    val spark = SparkSession.builder().master("local[2]").config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$testdata/documents.parquet").select(col("doc_id"), col("text"))
    val emb = spark.read.parquet(s"$testdata/embeddings.parquet").select(col("vec_id"), col("embedding"))
    def recs(lo: Int, hi: Int) = VectorStoreWriter.toVectorRecords(docs.where(col("doc_id").between(lo, hi))
      .select(col("doc_id"), lit(0).as("chunk_id"), col("text").as("content"), lit("").as("context")), 16)
    phase match {
      case "write" =>
        VectorStoreWriter.writeWithLayout(recs(0, 99), s"$dir/store")
        Similarity.writeIvfIndex(emb.where(col("vec_id") < 300), s"$dir/ivf", nLists = 8)
        Similarity.appendToIvfIndex(spark, s"$dir/ivf", emb.where(col("vec_id").between(300, 309)))
        Dedup.writeDedupIndex(docs.where(col("doc_id") < 150), s"$dir/dedup")
      case "use" =>
        VectorStoreWriter.writeWithLayout(recs(50, 149), s"$dir/store")
        val store = spark.read.parquet(s"$dir/store")
        println(s"[compat] store rows=${store.count()} distinct docs=${store.select("documentid").distinct().count()}")
        Similarity.appendToIvfIndex(spark, s"$dir/ivf", emb.where(col("vec_id").between(310, 319)))
        val gens = spark.read.parquet(s"$dir/ivf/drift").select("generation").distinct().orderBy("generation").collect().map(_.getLong(0)).toSeq
        println(s"[compat] drift generations=$gens")
        val q = emb.where(col("vec_id") === 5).head().getSeq[Float](1).toArray
        println(s"[compat] ivf probe top=${Similarity.probeIvfIndex(spark, s"$dir/ivf", q, k = 3).collect().map(_.getLong(0)).toSeq}")
        val pairs = Dedup.probeDedupIndex(spark, s"$dir/dedup", docs.where(col("doc_id") < 5)
          .select((col("doc_id") + 10000).as("doc_id"), col("text"))).count()
        println(s"[compat] dedup probe pairs=$pairs")
        Dedup.appendToDedupIndex(spark, s"$dir/dedup", docs.where(col("doc_id").between(150, 199)))
        println(s"[compat] retrain=${Similarity.maybeRetrainIvfIndex(spark, s"$dir/ivf", 2.0)}")
    }
    spark.stop()
  }
}
