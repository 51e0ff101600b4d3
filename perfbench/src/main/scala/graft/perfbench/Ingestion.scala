package graft.perfbench

import graft.pipeline.IngestionPipeline
import graft.sinks.VectorStoreWriter
import graft.sources.DocumentSource
import graft.streaming.StreamingIngest
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col

/** Calls into graft's ingestion layers. */
object Ingestion {
  /** Bulk load: reader → canonical pipeline → vector records → a store
    * with a persisted bucket layout. */
  def bulk(spark: SparkSession, corpusDir: Path, store: Path, glob: String = "*.md"): Unit =
    IngestionPipeline.canonical.runWith(spark,
      DocumentSource.readDir(spark, corpusDir.toString, glob), { chunks =>
        VectorStoreWriter.writeWithLayout(VectorStoreWriter.toVectorRecords(chunks,
          metadataCols = IngestionPipeline.metadataColumns(chunks)), store.toString)
      })

  /** Drain every new JSONL file under `inDir` into `store` (AvailableNow). */
  def drain(spark: SparkSession, inDir: Path, store: Path, checkpoint: Path): Unit = {
    val q = StreamingIngest.incrementalWriter(StreamingIngest.chunkStream(spark, inDir.toString),
      store.toString, checkpoint.toString).start()
    q.awaitTermination()
  }

  /** Chunk count of a corpus of (doc_id, text) under the default chunker. */
  def chunkCount(spark: SparkSession, docs: Seq[(Long, String)]): Long = {
    import spark.implicits._
    IngestionPipeline().chunks(spark, docs.toDF("doc_id", "text")).count()
  }

  def storeRows(spark: SparkSession, store: Path): Seq[Checks.StoreRow] =
    spark.read.parquet(store.toString).select(col("key"), col("documentid"), col("context"))
      .collect().map(r => Checks.StoreRow(r.getString(0), r.getString(1), r.getString(2))).toSeq
}

/** Files and rows read by the file scans of an executed query. */
object ScanStats extends AdaptiveSparkPlanHelper {
  def of(df: DataFrame): (Long, Long) = {
    val scans = collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    (scans.map(s => s.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum,
      scans.map(s => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum)
  }
}
