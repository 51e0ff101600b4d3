package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, TimestampType}
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import scala.util.Using

/** Stream-batch parity harness: runs a BATCH corpus through a real
  * Structured Streaming execution (file source → watermarked stateful
  * operator → file sink) and hands the finalized output back as a
  * batch DataFrame, so the driver's DuckDB oracle can hash-compare a
  * STREAMING execution against the exact SQL the batch twin already
  * passes — the classic stream-batch parity proof (the Dataflow/
  * Structured-Streaming correctness argument, SIGMOD'18 §3: one
  * declarative query, incrementalized, must equal its batch answer).
  * The reference pipeline is itself an async stream over documents
  * (/root/reference/src/DataIngestion/IngestionPipeline.cs:117-170),
  * so streaming execution is a first-class surface here, not an
  * appendix.
  *
  * Mechanics — why sentinels: append-mode watermarked operators only
  * EMIT state the watermark has passed, so a drained stream would
  * keep its youngest windows/sessions open forever. The harness
  * stages the corpus as [[DataBatches]] TIME-SLICED micro-batch
  * files (equal slices of the event-time range, one file each,
  * strictly increasing mtimes — the file source's batch order, one
  * file per trigger), then two far-future sentinel rows as the final
  * micro-batches: the first advances the watermark past every real
  * event, the second executes under it and flushes every remaining
  * session timeout / open window. Time-ordered slices make the
  * incremental execution REAL — sessions and windows straddle batch
  * boundaries and state carries across triggers, mid-stream
  * finalization fires as the watermark advances — while proving no
  * late drops: every batch-(i+1) event is newer than the slice
  * boundary, which is newer than the watermark batch i left
  * (max_i − delay < boundary_i). Sentinel rows are tagged (negative
  * user, reserved event_type) and filtered from the returned result.
  * State stays bounded the whole way: one open session per user /
  * one row per open window — arrival-cardinality, never stream
  * length, exactly as the same query would run unbounded at cluster
  * scale.
  */
object StreamBatchParity {

  /** Far enough that `sentinel1 − watermarkDelay` clears every real
    * event's session timeout (end + gap) and window close: one day. */
  private val SentinelGapSec = 86400L

  /** The reserved event_type (and any other string column) of a
    * sentinel row. */
  private val SentinelTag = "\u0000sentinel"

  /** Time slices the corpus stages as — each is one real micro-batch
    * carrying state over to the next. */
  // private[graft] (not [streaming]): SparkEntry.streamCurateSql unrolls
  // exactly this many batch CTEs — deriving it here keeps the oracle and
  // the harness from silently diverging if the batch count changes
  private[graft] val DataBatches = 4

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Using.resource(Files.walk(p)) {
        _.sorted(java.util.Comparator.reverseOrder()).forEach(f => { Files.deleteIfExists(f); () })
      }

  /** Run `body` (a streaming drain whose per-trigger batch jobs
    * inherit the session shuffle width) at the data-derived width
    * [[StreamingIngest.statePartitionsFor]] computes — coalesce-down
    * only, restored afterwards so batch queries are untouched. */
  private def withStreamWidth[A](spark: SparkSession, nRows: Long)(body: => A): A = {
    val confKey = "spark.sql.shuffle.partitions"
    val previous = spark.conf.get(confKey)
    spark.conf.set(confKey,
      StreamingIngest.statePartitionsFor(spark, nRows).toString)
    try body finally spark.conf.set(confKey, previous)
  }

  /** One parity stream's staging area under a fresh work directory:
    * the stream reads `in/`, and every sink, index and checkpoint of
    * the row lives beside it ([[path]]). `corpus` is pinned once — the
    * bounds agg, the slice staging and any extra batch all read it;
    * without the checkpoint every consumer re-executed the whole
    * corpus pipeline (r12 optimization round, guide §5). Rows whose
    * slice key is null are dropped first: no slice can hold them.
    *
    * A TIMESTAMP `key` slices the event-time range (bounds in epoch
    * seconds, slice i holds [b_i, b_{i+1}), first/last unbounded
    * below/above, so the slices partition the corpus whatever min/max
    * are) and closes with the sentinel pair; an integer `key` slices
    * the id/seq range [lo, hi] the same way (slice i covers
    * [lo + range*i/n, lo + range*(i+1)/n), the cuts
    * SparkEntry.streamCurateSqlFor unrolls). */
  private[graft] final class StagedStream(spark: SparkSession, corpus: DataFrame,
                                          keyName: String, json: Boolean = false) {
    private val timeSliced = corpus.schema(keyName).dataType == TimestampType
    private val key =
      if (timeSliced) unix_seconds(col(keyName)) else col(keyName)
    private val format = if (json) "json" else "parquet"
    private val work: Path = Files.createTempDirectory("graft-parity")
    val in: Path = Files.createDirectory(work.resolve("in"))
    val pinned: DataFrame = corpus.where(key.isNotNull).localCheckpoint(true)
    private val t0 = System.currentTimeMillis()
    // ONE job computes the key bounds AND the row count (the stream
    // width below); was a bounds agg over the UN-pinned corpus, then a
    // count over the pinned one (r13 round)
    private val bounds = pinned.agg(min(key), max(key), count(lit(1))).head()
    private val lo = bounds.getLong(0)
    /** Largest slice key staged (epoch seconds for a time-sliced row). */
    val hi: Long = bounds.getLong(1)
    private val nRows = bounds.getLong(2)
    private val range = if (timeSliced) hi - lo else hi - lo + 1

    /** Slice index of every pinned row. */
    val slice: Column =
      (1 until DataBatches).foldRight(lit(DataBatches - 1)) { (i, acc) =>
        when(key < lo + range * i / DataBatches, lit(i - 1)).otherwise(acc)
      }

    def path(name: String): String = work.resolve(name).toString

    /** The parquet sink `name` the stream wrote under the work dir. */
    def sink(name: String = "out"): DataFrame = spark.read.parquet(path(name))

    /** The sentinel row at event time `s1`: every column takes the
      * value its type reserves (−1 ids, the [[SentinelTag]] string,
      * 0.0, the far-future timestamp). */
    private def sentinel(s1: Long): DataFrame =
      spark.range(1).select(corpus.schema.fields.toSeq.map { f =>
        (f.dataType match {
          case LongType => lit(-1L)
          case StringType => lit(SentinelTag)
          case DoubleType => lit(0.0)
          case TimestampType => timestamp_seconds(lit(s1))
          case other => throw new IllegalArgumentException(
            s"no sentinel value for column ${f.name}: $other")
        }).as(f.name)
      }: _*)

    /** Stage `slices` of the pinned corpus, plus the extra batch that
      * follows them (a time-sliced row's sentinel, else `revision` of
      * the pinned corpus, if any), as ONE file per batch in `in/` with
      * mtime-ordered position — the file source's batch order — via a
      * SINGLE Spark job: a hash repartition on the slice value means
      * exactly one task writes each slice, the partitioned write lays
      * each out under `__slice=i/`, and the driver then just renames
      * the part files into place (r13 optimization round, guide §1.2:
      * the per-slice filter+coalesce(1) staging paid one full
      * plan→job cycle per micro-batch file — 4-6 driver round-trips per
      * parity query — for work one partitioned write does in one pass).
      * A slice with no rows (the curate harness stages a deliberate
      * id-gap batch) produces no directory; it falls back to a
      * single-file empty write so the staged batch SEQUENCE — and with
      * it batch ids, watermark advancement and checkpoint offsets — is
      * identical whatever the data. The sentinel is staged twice: the
      * first advances the watermark past every real event, the second
      * runs under it and flushes all remaining state; the second is
      * byte-identical, so it is a driver-side file copy, not another
      * Spark job. */
    def stage(slices: Seq[Int],
              revision: Option[DataFrame => DataFrame] = None): Unit = {
      val extra =
        if (timeSliced) Some(sentinel(hi + SentinelGapSec))
        else revision.map(_(pinned))
      val batches = extra.foldLeft(
        pinned.withColumn("__slice", slice).where(col("__slice").isin(slices: _*))) {
        (df, e) => df.unionByName(e.withColumn("__slice", lit(DataBatches)))
      }
      val ext = s".$format"
      val staging = Files.createTempDirectory("graft-parity-stage")
      try {
        batches.repartition(col("__slice"))
          .write.mode("overwrite").partitionBy("__slice").format(format)
          .save(staging.toString)
        val files = slices.map(i => (i, f"$i%03d$ext", t0 + i * 60000L)) ++
          extra.map(_ => (DataBatches, s"900$ext", t0 + 600000L))
        for ((idx, name, mtimeMs) <- files) {
          val pdir = staging.resolve(s"__slice=$idx")
          if (!Files.exists(pdir))
            batches.drop("__slice").where(lit(false)).coalesce(1)
              .write.format(format).save(pdir.toString)
          val part = Using.resource(Files.list(pdir)) {
            _.filter(_.getFileName.toString.endsWith(ext)).findFirst()
              .orElseThrow(() => new IllegalStateException(s"no $ext part for batch $idx"))
          }
          Files.move(part, in.resolve(name))
          Files.setLastModifiedTime(in.resolve(name), FileTime.fromMillis(mtimeMs))
        }
        if (timeSliced) {
          val s2 = Files.copy(in.resolve(s"900$ext"), in.resolve(s"901$ext"))
          Files.setLastModifiedTime(s2, FileTime.fromMillis(t0 + 1200000L))
        }
      } finally deleteRecursively(staging)
    }

    /** Open the staged files as a stream, one file per trigger, start
      * the query `start` builds over it and drain everything staged.
      * The query runs at a data-derived state width
      * ([[StreamingIngest.statePartitionsFor]] — streaming has no AQE
      * coalescing, and this harness creates a fresh checkpoint per
      * run, so the width is free to follow the staged corpus size);
      * restored after the drain so batch queries are untouched. */
    def drain(start: (DataFrame, StagedStream) => DataStreamWriter[Row]): Unit = {
      val stream = spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .format(format).load(in.toString)
      withStreamWidth(spark, nRows) {
        val query = start(stream, this).start()
        try query.processAllAvailable() finally query.stop()
      }
    }

    def close(): Unit = {
      pinned.unpersist()
      deleteRecursively(work)
    }
  }

  /** The staged-stream driver every parity row runs on: pin `corpus`,
    * stage all [[DataBatches]] slices of `key` plus the extra batch
    * ([[StagedStream.stage]]), drain the query `start` builds
    * ([[StagedStream.drain]]), and return `result` — the row's
    * projection of what the stream left behind — pinned via
    * localCheckpoint so the temp tree can be deleted before the
    * caller materializes. */
  private def stagedStream(spark: SparkSession, corpus: DataFrame, key: String,
                           json: Boolean = false,
                           revision: Option[DataFrame => DataFrame] = None)(
      start: (DataFrame, StagedStream) => DataStreamWriter[Row])(
      result: StagedStream => DataFrame): DataFrame = {
    val staged = new StagedStream(spark, corpus, key, json)
    try {
      staged.stage(0 until DataBatches, revision)
      staged.drain(start)
      result(staged).localCheckpoint(true)
    } finally staged.close()
  }

  /** An append-mode parquet sink `out/` over a plain streaming
    * transform. */
  private def appendSink(df: DataFrame, s: StagedStream): DataStreamWriter[Row] =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", s.path("ckpt"))
      .option("path", s.path("out"))
      .format("parquet")

  /** Streaming sessionization of a batch events corpus, returned in
    * the q_sessionize shape (user_id, session_id, n_events, start_sec,
    * end_sec): [[StreamingIngest.sessionizeStream]] closes sessions by
    * gap and event-time timeout across micro-batches; session ids are
    * then numbered per user in start order — deterministic because a
    * user's sessions are disjoint by construction (> gap apart).
    * `events` must carry (user_id: long, sec: long epoch seconds).
    */
  def sessionizeParity(spark: SparkSession, events: DataFrame,
                       gapSeconds: Long = 1800): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val corpus = events
      .select(col("user_id").cast("long").as("user_id"),
        timestamp_seconds(col("sec")).as("ts"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("start_sec"))
    stagedStream(spark, corpus, "ts") { (st, s) =>
      appendSink(StreamingIngest.sessionizeStream(spark, st, gapSeconds,
        watermarkDelay = "30 minutes").toDF(), s)
    } {
      _.sink().where(col("user_id") >= 0)
        .withColumn("session_id", row_number().over(w).cast("long"))
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("start_sec"), col("end_sec"))
        .orderBy(col("user_id"), col("session_id"))
    }
  }

  /** Streaming tumbling-window counts of a batch events corpus,
    * returned in the q_event_windows shape (hour_start, event_type,
    * n_events, sum_value): [[StreamingIngest.eventWindowCounts]] with
    * 1-hour windows, finalized by watermark, sentinel window dropped.
    * `events` must carry (event_type: string, value: double,
    * sec: long epoch seconds).
    */
  def windowCountsParity(spark: SparkSession, events: DataFrame): DataFrame = {
    val corpus = events
      .select(col("event_type").cast("string").as("event_type"),
        col("value").cast("double").as("value"),
        timestamp_seconds(col("sec")).as("ts"))
    stagedStream(spark, corpus, "ts") { (st, s) =>
      appendSink(StreamingIngest.eventWindowCounts(st,
        windowLen = "1 hour", watermark = "30 minutes"), s)
    } { s =>
      s.sink()
        .select(unix_seconds(col("window_start")).as("hour_start"),
          col("event_type"), col("n_events"),
          col("sum_value").cast("double").as("sum_value"))
        .where(col("hour_start") <= s.hi && col("event_type") =!= SentinelTag)
        .orderBy(col("hour_start"), col("event_type"))
    }
  }

  /** Streaming dedup of an at-least-once event feed, returned in
    * exact-dedup shape (event_id, user_id, event_type):
    * [[StreamingIngest.dedupStream]] over the corpus plus INJECTED
    * re-deliveries — an exact same-timestamp copy for ids ≡0 (mod 3)
    * and a 60-second-later redelivery for ids ≡0 (mod 5), the two
    * shapes an at-least-once source actually produces. Both are
    * provably dropped whatever the batch boundaries: a redelivery's
    * previous-batch max event time can exceed the first arrival by at
    * most one 60 s redelivery lag (time-ordered slices), far under
    * the 2×30 min watermark-delay bound state eviction needs — so the
    * streaming answer is exactly the original (unique-keyed) corpus,
    * and the oracle is a plain scan of it. Dedup state is one row per
    * key inside the delay window — arrival rate × delay, never stream
    * length. `events` must carry (event_id, user_id: long,
    * event_type: string, sec: long epoch seconds).
    */
  def dedupParity(spark: SparkSession, events: DataFrame): DataFrame = {
    val original = events.select(
      col("event_id").cast("long").as("event_id"),
      col("user_id").cast("long").as("user_id"),
      col("event_type").cast("string").as("event_type"),
      timestamp_seconds(col("sec")).as("ts"))
    val corpus = original
      .unionByName(original.where(col("event_id") % 3 === 0))
      .unionByName(original.where(col("event_id") % 5 === 0)
        .withColumn("ts", timestamp_seconds(unix_seconds(col("ts")) + 60)))
    stagedStream(spark, corpus, "ts") { (st, s) =>
      appendSink(StreamingIngest.dedupStream(st, Seq("event_id"),
        tsCol = "ts", watermarkDelay = "30 minutes"), s)
    } {
      // ts stays out of the result: which arrival survives a same-batch
      // race is engine-internal, but its key attributes are identical
      _.sink().where(col("event_id") >= 0)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy(col("event_id"))
    }
  }

  /** The documentSchema columns of a documents corpus. */
  private def documentColumns(documents: DataFrame): DataFrame =
    documents.select(col("doc_id").cast("long"),
      col("text").cast("string"), col("lang").cast("string"),
      col("source").cast("string"))

  /** Streaming execution of the INGESTION PIPELINE itself — the
    * reference's own shape (its pipeline is an async stream over
    * documents): the documents corpus staged as id-range json
    * micro-batch files, run through the canonical pipeline
    * (reader → chunker → enrichers, one micro-batch per file, as
    * [[StreamingIngest.chunkStream]] runs it) into an
    * append parquet sink, and the chunk rows returned so the driver
    * hash-gates them against the SAME batch SQL i_pipeline_e2e
    * passes. The pipeline is stateless per document, so parity here
    * is pure plumbing-correctness: schema through the json hop,
    * checkpointed exactly-once sink, per-batch chunker/enricher
    * execution. `documents` must carry the documentSchema columns
    * (doc_id, text, lang, source).
    */
  def ingestParity(spark: SparkSession, documents: DataFrame): DataFrame =
    stagedStream(spark, documentColumns(documents), "doc_id", json = true) { (st, s) =>
      appendSink(graft.pipeline.IngestionPipeline.canonical.chunks(spark, st), s)
    }(_.sink())

  /** Streaming UPSERT-writer parity — the reference's incremental
    * ingestion under streaming execution: the corpus staged as four
    * id-range json micro-batches, then a FIFTH batch re-ingesting
    * revised copies of every 10th document (text + " rev2");
    * [[StreamingIngest.incrementalWriter]] runs the vector-store
    * writer's dynamic-partition-overwrite per micro-batch, so the
    * revised documents must REPLACE their previous records and the
    * final store must equal the batch writer's output over the
    * revised corpus — which is exactly what the driver's SQL oracle
    * computes. Proves replace-by-documentid semantics survive
    * incremental execution, checkpointing, and the copy-on-write
    * bucket rewrite. `documents` must carry the documentSchema
    * columns.
    */
  def upsertWriterParity(spark: SparkSession, documents: DataFrame): DataFrame = {
    import graft.operators.{ChunkerOptions, Chunkers}
    // the re-ingestion batch: revised copies under the SAME ids — the
    // incremental writer must replace, not append
    val revised = (docs: DataFrame) => docs.where(col("doc_id") % 10 === 0)
      .withColumn("text", concat(col("text"), lit(" rev2")))
    stagedStream(spark, documentColumns(documents), "doc_id", json = true,
        revision = Some(revised)) { (st, s) =>
      val chunks = Chunkers.tokenChunks(st,
          ChunkerOptions(maxTokens = 64, overlap = 16))
        .withColumn("context", lit(""))
      StreamingIngest.incrementalWriter(chunks, s.path("out"), s.path("ckpt"),
        dim = 16)
    }(_.sink())
  }

  /** Stream-stream interval join parity, in the view→purchase
    * attribution shape: left = 'view' events, right = 'purchase'
    * events of the same user within one hour, both sides derived
    * from ONE staged corpus stream (a streaming self-join).
    * [[StreamingIngest.streamStreamJoin]] emits matches eagerly as
    * the later side arrives; state eviction only discards a buffered
    * row once the watermark proves no future match can exist, and the
    * time-ordered slices prove nothing arrives late — so the emitted
    * pair set is exactly the batch interval join, which is the oracle.
    * Join state is bounded by arrival rate × (interval + delay),
    * never stream length. `events` must carry (event_id, user_id:
    * long, event_type: string, sec: long epoch seconds).
    */
  def joinParity(spark: SparkSession, events: DataFrame): DataFrame = {
    val corpus = events.select(
      col("event_id").cast("long").as("event_id"),
      col("user_id").cast("long").as("user_id"),
      col("event_type").cast("string").as("event_type"),
      timestamp_seconds(col("sec")).as("ts"))
    stagedStream(spark, corpus, "ts") { (st, s) =>
      appendSink(StreamingIngest.streamStreamJoin(
        st.where(col("event_type") === "view").drop("event_type"),
        st.where(col("event_type") === "purchase").drop("event_type"),
        "user_id", within = "1 hour", watermark = "30 minutes"), s)
    } {
      _.sink().select(col("event_id").as("view_id"),
          col("r_event_id").as("purchase_id"), col("user_id"),
          unix_seconds(col("ts")).as("view_sec"),
          unix_seconds(col("r_ts")).as("purchase_sec"))
        .orderBy(col("view_id"), col("purchase_id"))
    }
  }

  /** Stream-static enrichment parity: the events corpus streamed
    * against a STATIC per-user profile dimension derived batch-side
    * from the same corpus (n_total events, first-seen second), via
    * [[StreamingIngest.streamStaticEnrich]] — the broadcast map-side
    * join runs once per micro-batch, and the enriched row set must
    * equal the batch join. Stateless, so parity proves the per-batch
    * dimension attach path (re-read + broadcast each trigger), the
    * standard way metadata reaches an event stream at any scale.
    * `events` must carry (event_id, user_id: long, event_type:
    * string, sec: long epoch seconds).
    */
  def enrichParity(spark: SparkSession, events: DataFrame): DataFrame = {
    val corpus = events.select(
      col("event_id").cast("long").as("event_id"),
      col("user_id").cast("long").as("user_id"),
      col("event_type").cast("string").as("event_type"),
      timestamp_seconds(col("sec")).as("ts"))
    // the static dimension is pinned ONCE: streamStaticEnrich re-reads
    // its static side every micro-batch, and without the checkpoint
    // each trigger re-ran the whole corpus aggregate (r13 round,
    // guide §5: reuse > recompute)
    val dim = corpus.groupBy(col("user_id")).agg(
      count(lit(1)).as("n_total"),
      min(unix_seconds(col("ts"))).as("first_seen_sec"))
      .localCheckpoint(true)
    stagedStream(spark, corpus, "ts") { (st, s) =>
      appendSink(StreamingIngest.streamStaticEnrich(st, dim, "user_id"), s)
    } {
      _.sink().where(col("event_id") >= 0)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("n_total"), col("first_seen_sec"))
        .orderBy(col("event_id"))
    }
  }

  /** Streaming CDC apply: the changelog staged as seq-range micro-
    * batches (the replayable, seq-ordered source the CDC contract
    * assumes), MERGEd incrementally into a parquet snapshot by
    * [[StreamingIngest.cdcStream]]'s foreachBatch, and the FINAL
    * snapshot returned — so the driver oracle hash-compares an
    * incremental sequence of copy-on-write merges against the batch
    * last-writer-wins SQL. Ops for one doc may straddle batch
    * boundaries (seq-range slicing cuts mid-doc); cross-batch
    * last-writer-wins must still converge to the same snapshot, which
    * is exactly the invariant a lakehouse MERGE pipeline relies on.
    * `base` must carry (doc_id: long, text: string); `changes`
    * (doc_id, seq: long, op: I/U/D, text).
    */
  def cdcParity(spark: SparkSession, base: DataFrame,
                changes: DataFrame): DataFrame =
    stagedStream(spark, changes, "seq") { (st, s) =>
      // the snapshot the changelog merges into starts as `base`
      base.select(col("doc_id"), col("text"))
        .write.mode("overwrite").parquet(s.path("snap"))
      StreamingIngest.cdcStream(st, s.path("snap"), s.path("ckpt"))
    }(_.sink("snap"))

  /** Streaming drift monitor over a batch events corpus, returned as
    * finalized per-window PSI rows (hour_start, n_bins, t_new, psi):
    * [[StreamingIngest.driftMonitor]] with 1-hour windows against the
    * corpus's own overall value histogram as the static baseline —
    * the foreachBatch (writer-shaped) streaming operator, so parity
    * here also proves the batch-side join/smoothing inside the sink
    * callback, not just the watermarked window state. `events` must
    * carry (event_type: string, sec: long epoch seconds).
    */
  def driftMonitorParity(spark: SparkSession, events: DataFrame): DataFrame = {
    val corpus = events
      .select(col("event_type").cast("string").as("event_type"),
        timestamp_seconds(col("sec")).as("ts"))
    val baseline = corpus.select(col("event_type"))
    stagedStream(spark, corpus, "ts") { (st, s) =>
      StreamingIngest.driftMonitor(st, baseline, "event_type",
        sinkPath = s.path("out"), checkpoint = s.path("ckpt"),
        windowLen = "1 hour", watermark = "30 minutes")
    } { s =>
      s.sink()
        .select(unix_seconds(col("window_start")).as("hour_start"),
          col("n_bins"), col("t_new"), col("psi"))
        .where(col("hour_start") <= s.hi)
        .orderBy(col("hour_start"))
    }
  }

  /** The (doc_id, text) columns the curation rows stream. */
  private def curateColumns(documents: DataFrame): DataFrame =
    documents.select(col("doc_id").cast("long"), col("text").cast("string"))

  private def curateQuery(st: DataFrame, s: StagedStream): DataStreamWriter[Row] =
    StreamingIngest.curateStream(st, s.path("idx"), s.path("accept"), s.path("ckpt"))

  /** The final accept set (doc_id, batch) of a curation stream. */
  private def accepted(s: StagedStream): DataFrame =
    s.sink("accept")
      .select(col("doc_id"), col("batch").cast("int").as("batch"))
      .orderBy(col("doc_id"))

  /** Streaming index-backed curation parity — continuous near-dup
    * admission control under real incremental execution: the corpus
    * staged as four id-range micro-batches, each foreachBatch probing
    * the persisted MinHash-LSH index for pairs vs everything already
    * accepted, dropping matched batch docs, and appending only the
    * survivors to the index ([[StreamingIngest.curateStream]]). The
    * final accept set (doc_id, batch) is hash-gated against the same
    * four-step admission sequence unrolled in SQL — proving the
    * index's build/append/probe lifecycle composes with checkpointed
    * streaming to the exact batch-sequential answer. `documents`
    * must carry (doc_id: long, text: string).
    */
  def curateParity(spark: SparkSession, documents: DataFrame): DataFrame =
    stagedStream(spark, curateColumns(documents), "doc_id")(curateQuery)(accepted)

  /** [[curateParity]] with a RETRACTION between the seed batch and the
    * rest of the stream — the right-to-be-forgotten composition
    * (driver row x_stream_retract): batch 0 admits and seeds the
    * index; then every EVEN id of the batch-0 slice retracts via
    * [[graft.operators.Dedup.removeFromDedupIndex]] (ids that were
    * dropped or never indexed no-op, so the request needs no knowledge
    * of what survived); the stream then RESUMES from the same
    * checkpoint over batches 1..n. Later batches must dedup against
    * the REDUCED index — a re-arrival of a retracted text admits, a
    * re-arrival of a kept survivor still drops — while the retracted
    * docs keep their batch-0 accept rows (retraction removes index
    * signal, not history). The SQL oracle unrolls the same sequence
    * with the batch-0 store contribution filtered to odd ids. */
  def curateRetractParity(spark: SparkSession, documents: DataFrame): DataFrame = {
    // pinned once: both staging passes read it (and the retraction
    // re-filters the seed slice for the victim ids)
    val staged = new StagedStream(spark, curateColumns(documents), "doc_id")
    try {
      // run 1: the seed batch alone
      staged.stage(Seq(0))
      staged.drain(curateQuery)
      // the mid-stream retraction request
      graft.operators.Dedup.removeFromDedupIndex(spark, staged.path("idx"),
        staged.pinned.where(staged.slice === 0 && col("doc_id") % 2 === 0)
          .select(col("doc_id")))
      // run 2: the rest of the stream resumes from the checkpoint
      staged.stage(1 until DataBatches)
      staged.drain(curateQuery)
      accepted(staged).localCheckpoint(true)
    } finally staged.close()
  }

  /** Streaming IVF maintenance parity — the ANN-index twin of
    * [[curateParity]]: embeddings staged as four id-range
    * micro-batches (the first seeds the index and freezes its
    * centroids), then a FIFTH batch re-ingesting NEGATED copies of
    * every 10th vector under the same ids — the upsert must REPLACE
    * them, visibly flipping their cosines. The final ANN answer is
    * computed from the persisted store alone through the production
    * read path ([[graft.operators.Similarity.probeIvfIndex]] —
    * partition-pruned list scans), and is hash-gated against the
    * whole sequence replayed in SQL: centroids from the batch-0
    * id-range slice, every FINAL vector (re-ingested ids carrying
    * their revised embeddings) assigned to its frozen nearest
    * centroid, queries probing their top-nProbe lists. `embeddings`
    * must carry (vec_id: long, embedding: array<float>).
    */
  def ivfUpsertParity(spark: SparkSession, embeddings: DataFrame,
                      nLists: Int = 8, nProbe: Int = 4,
                      k: Int = 5): DataFrame = {
    import graft.operators.Similarity
    // the re-ingestion batch: negated copies under the SAME ids
    val negated = (vecs: DataFrame) => vecs.where(col("vec_id") % 10 === 0)
      .withColumn("embedding",
        transform(col("embedding"), x => (-x).cast("float")))
    stagedStream(spark, embeddings.select(col("vec_id").cast("long"), col("embedding")),
        "vec_id", revision = Some(negated)) { (st, s) =>
      // retrainEvery = 0: this harness hash-gates the FROZEN-centroid
      // upsert semantics against a SQL oracle that replays exactly
      // that; the in-loop re-train policy (r12) is spec-gated
      // separately (IvfFramesSpec) where the partial Lloyd step can
      // be asserted against the operator itself rather than unrolled
      // in SQL
      StreamingIngest.ivfUpsertStream(st, s.path("idx"), s.path("ckpt"),
        nLists, retrainEvery = 0)
    } { s =>
      val idx = s.path("idx")
      // final answer from the persisted store through the production
      // probe path: per query, the top-nProbe lists' partitions scan
      // (self row dropped — cos(q,q)=1 always leads, so k+1 covers it)
      val queries = spark.read.parquet(s"$idx/lists")
        .where(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      // k+1 then drop self: cos(q,q) = 1 strictly leads (random
      // floats admit no other exact-1 cosine), so exactly k remain.
      // All queries probe in ONE batched pass (r13: the per-query
      // probeIvfIndex loop re-collected the centroid table and
      // re-scanned shared list directories once per query) — row-
      // identical to the loop by probeIvfIndexBatch's order contract.
      val hits = Similarity.probeIvfIndexBatch(spark, idx,
        queries.toSeq, k = k + 1, nProbe = nProbe)
        .where(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("nbr_id"), col("cos"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("nbr_id"))
      hits
        .withColumn("rank", row_number().over(w))
        .select(col("query_id"), col("rank"), col("nbr_id"),
          round(col("cos"), 6).as("cos"))
        .orderBy(col("query_id"), col("rank"))
    }
  }
}
