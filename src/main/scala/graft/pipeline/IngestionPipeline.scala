package graft.pipeline

import graft.model.Chunk
import graft.operators.{Chunkers, ChunkerOptions, Processors}
import graft.sinks.VectorStoreWriter
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Per-stage pipeline metrics, collected via `Dataset.observe` taps at
  * every stage boundary (reader → each document processor → chunker →
  * each chunk processor). Row counts materialize with the pipeline's
  * terminal action; reading them before any action has run blocks, so
  * only consult [[rowCounts]] after the write/collect completes.
  */
final case class PipelineMetrics(stages: Seq[(String, Observation)]) {
  /** Stage name → exact output row count of that stage. */
  def rowCounts: Map[String, Long] =
    stages.map { case (name, obs) =>
      name -> obs.get("rows").asInstanceOf[Long]
    }.toMap
}

/** The pipeline composer — graft's twin of IngestionPipeline.cs:
  * reader → documentProcessors* → chunker → chunkProcessors* → writer.
  *
  * Where the reference threads one document at a time through
  * IAsyncEnumerable stages, graft composes DataFrame transforms: the
  * whole pipeline is ONE lazy plan, so Catalyst sees every stage at
  * once (it can prune document columns the chunker never reads, push
  * document filters into the scan, etc.) and the job runs as a single
  * map-only stage until the writer.
  *
  * Stage contracts (column-level):
  *  - document processor: DataFrame(doc_id, text, …) → same shape
  *  - chunker:            documents → (doc_id, chunk_id, content, context, token_count)
  *  - chunk processor:    chunks → chunks (+ metadata columns)
  *  - writer:             chunks → sink
  */
final case class IngestionPipeline(
    documentProcessors: Seq[DataFrame => DataFrame] = Seq.empty,
    chunker: (SparkSession, DataFrame) => DataFrame = IngestionPipeline.defaultChunker,
    chunkProcessors: Seq[DataFrame => DataFrame] = Seq.empty
) {

  def withDocumentProcessor(p: DataFrame => DataFrame): IngestionPipeline =
    copy(documentProcessors = documentProcessors :+ p)

  def withChunker(c: (SparkSession, DataFrame) => DataFrame): IngestionPipeline =
    copy(chunker = c)

  def withChunkProcessor(p: DataFrame => DataFrame): IngestionPipeline =
    copy(chunkProcessors = chunkProcessors :+ p)

  /** The one walk over the stages: reader → each document processor →
    * chunker → each chunk processor, with `tap(df, stage, index)`
    * applied at every stage boundary (`index` numbers the processors
    * of one kind). */
  private def walk(spark: SparkSession, documents: DataFrame)(
      tap: (DataFrame, String, Option[Int]) => DataFrame): DataFrame = {
    val processed = documentProcessors.zipWithIndex.foldLeft(
      tap(documents, "reader", None)) { case (df, (p, i)) =>
      tap(p(df), "documentProcessor", Some(i))
    }
    chunkProcessors.zipWithIndex.foldLeft(
      tap(chunker(spark, processed), "chunker", None)) { case (df, (p, i)) =>
      tap(p(df), "chunkProcessor", Some(i))
    }
  }

  /** Compose the full lazy plan: documents in, enriched chunks out. */
  def chunks(spark: SparkSession, documents: DataFrame): DataFrame =
    walk(spark, documents)((df, _, _) => df)

  /** `chunks` with per-stage observability — graft's twin of the
    * reference's per-stage Activity spans + document/chunk tags
    * (IngestionPipeline.cs:100-170, DiagnosticsConstants.cs). Each
    * stage boundary is tapped with `Dataset.observe`, so exact
    * output-row counts per stage ride along with the terminal action —
    * ZERO extra jobs and no break in the single lazy plan (an eager
    * `count()` per stage would run the pipeline once per stage).
    * Per-stage wall time deliberately does not exist here: stages fuse
    * into one WholeStageCodegen pass, which is the point of the
    * architecture — the Spark UI's stage/task timeline is the
    * execution-time profile.
    */
  def observedChunks(spark: SparkSession,
                     documents: DataFrame): (DataFrame, PipelineMetrics) = {
    val taps = Seq.newBuilder[(String, Observation)]
    val df = walk(spark, documents) { (df, stage, i) =>
      val obs = Observation() // auto-named; stage label kept alongside
      taps += i.fold(stage)(n => s"$stage[$n]") -> obs
      df.observe(obs, count(lit(1)).as("rows"))
    }
    (df, PipelineMetrics(taps.result()))
  }

  /** Run with a custom terminal writer AND per-stage metrics: the
    * writer's action materializes the observations, so the returned
    * metrics are ready immediately after.
    */
  def runObserved(spark: SparkSession, documents: DataFrame,
                  writer: DataFrame => Unit): PipelineMetrics = {
    val (df, metrics) = observedChunks(spark, documents)
    writer(df)
    metrics
  }

  /** Stage taps as NAMED observations — the streaming-compatible
    * variant of [[observedChunks]] (`Observation` handles only batch
    * queries): per-micro-batch row counts arrive in every
    * `StreamingQueryProgress.observedMetrics` under keys
    * `graft_reader`, `graft_documentProcessor_<i>`, `graft_chunker`,
    * `graft_chunkProcessor_<i>`, each a row with a `rows` field.
    */
  def namedObservedChunks(spark: SparkSession, documents: DataFrame): DataFrame =
    walk(spark, documents) { (df, stage, i) =>
      df.observe(i.fold(s"graft_$stage")(n => s"graft_${stage}_$n"),
        count(lit(1)).as("rows"))
    }

  /** Run end-to-end into a vector store path. Enricher outputs (any
    * column beyond the chunk contract) ride along as record metadata.
    */
  def run(spark: SparkSession, documents: DataFrame, sinkPath: String,
          dim: Int = 64): Unit =
    runWith(spark, documents, { chunked =>
      val out = VectorStoreWriter.toVectorRecords(chunked, dim,
        metadataCols = IngestionPipeline.metadataColumns(chunked))
      VectorStoreWriter.writeWithLayout(out, sinkPath)
    })

  /** Run with a CUSTOM terminal writer — the twin of the reference's
    * pluggable IngestionChunkWriter extension point (the samples'
    * QAWriter, Samples/FAQ.cs:10, derives new records per chunk and
    * writes them to its own collection). Any chunks→sink function
    * terminates the pipeline; the composed plan stays lazy until the
    * writer acts.
    */
  def runWith(spark: SparkSession, documents: DataFrame,
              writer: DataFrame => Unit): Unit =
    writer(chunks(spark, documents))
}

object IngestionPipeline {
  /** Chunk-contract columns; anything else on a chunk DataFrame is
    * enricher metadata destined for the vector record. page_number and
    * metadata are part of the contract (provenance, not enrichment) —
    * without them here every pipeline write would auto-append them as
    * record columns and an incremental re-ingest into a store written
    * before they existed would fail the survivors' column re-select.
    * Callers that WANT provenance persisted pass them via
    * `toVectorRecords(…, metadataCols = …)` explicitly.
    */
  val ChunkColumns: Set[String] =
    Set("doc_id", "chunk_id", "content", "context", "token_count",
      "page_number", "metadata")

  def metadataColumns(chunks: DataFrame): Seq[String] =
    chunks.columns.toSeq.filterNot(ChunkColumns.contains)

  /** Default chunker: header-aware chunking (the reference's most
    * featureful structural chunker).
    */
  def defaultChunker(spark: SparkSession, documents: DataFrame): DataFrame =
    Chunkers.headerChunks(spark, documents, ChunkerOptions()).toDF()

  /** The reference Samples' canonical pipeline: remove footers, chunk
    * by headers, enrich with summary+sentiment, embed, write.
    */
  def canonical: IngestionPipeline =
    IngestionPipeline()
      .withChunkProcessor(df => Processors.withSummary(df))
      .withChunkProcessor(df => Processors.withSentiment(df))
}
