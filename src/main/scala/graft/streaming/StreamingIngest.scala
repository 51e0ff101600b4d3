package graft.streaming

import graft.pipeline.IngestionPipeline
import graft.sinks.VectorStoreWriter
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured-Streaming ingestion: the reference pipeline's
  * directory-watching mode (IngestionPipeline.ProcessAsync(DirectoryInfo)
  * — IngestionPipeline.cs:48) becomes a file-source stream, so new
  * documents are chunked/enriched/embedded continuously with
  * exactly-once sink semantics from checkpointing.
  *
  * Because every ingestion stage is a narrow column transform, the
  * whole pipeline is trivially streamable — no state, no watermark
  * needed; stateful pieces (windowed event aggregation) live in
  * `eventWindowCounts`.
  */
object StreamingIngest {

  /** Does `child` exist under `root`? Resolved through the Hadoop
    * FileSystem bound to the path's scheme (like
    * [[graft.operators.Dedup.maybeCompactDedupIndex]]), so index
    * stores on hdfs:// or s3a:// — the 100 TB production shape — are
    * detected correctly; a java.nio check would see only local disk
    * and silently re-seed the index every micro-batch. */
  private def storeExists(spark: SparkSession, root: String,
                          child: String): Boolean = {
    import org.apache.hadoop.fs.Path
    val p = new Path(root, child)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Scale-adaptive shuffle/state partition count for a streaming
    * query whose staged input holds `nRows` arrivals (r12 optimization
    * round). Streaming state stores have no AQE partition coalescing:
    * the count fixes into the checkpoint at the first micro-batch and
    * every trigger then pays a per-partition state-commit (and, for a
    * stream-stream join, FOUR state stores per partition), so a width
    * inherited from the core count over-partitions small stages —
    * hundreds of near-empty state files per trigger. ~64k arrivals per
    * partition, floored at 4 for parallelism, CAPPED at the session's
    * configured shuffle width: the cluster-scale setting stays
    * authoritative, this only coalesces DOWN, exactly what AQE would
    * do to a batch plan of the same size.
    */
  def statePartitionsFor(spark: SparkSession, nRows: Long): Int = {
    val configured = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.min(configured, math.max(4, math.ceil(nRows / 65536.0).toInt))
  }

  val documentSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType)
  ))

  /** Watch a directory of json documents and emit enriched chunks.
    * `maxFilesPerTrigger` bounds micro-batch size: steady memory at
    * any backlog (the default processes a 32-file backlog in one
    * trigger; the stress spec drops it to 1 to measure per-batch
    * throughput).
    */
  def chunkStream(spark: SparkSession, inputDir: String,
                  pipeline: IngestionPipeline = IngestionPipeline.canonical,
                  maxFilesPerTrigger: Int = 32): DataFrame =
    pipeline.chunks(spark, documentStream(spark, inputDir, maxFilesPerTrigger))

  /** The json document stream [[chunkStream]] and
    * [[observedChunkStream]] read. */
  private def documentStream(spark: SparkSession, inputDir: String,
                             maxFilesPerTrigger: Int): DataFrame =
    spark.readStream
      .schema(documentSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(inputDir)

  /** `chunkStream` with per-stage observability: stage boundaries are
    * tapped with named observe() calls, so every micro-batch's
    * StreamingQueryProgress.observedMetrics carries exact per-stage row
    * counts (`graft_reader`, `graft_chunker`, …) — the streaming twin
    * of IngestionPipeline.observedChunks and of the reference's
    * per-stage Activity spans. Zero extra jobs, monitoring rides the
    * progress events a production stream already emits.
    */
  def observedChunkStream(spark: SparkSession, inputDir: String,
                          pipeline: IngestionPipeline = IngestionPipeline.canonical,
                          maxFilesPerTrigger: Int = 32): DataFrame =
    pipeline.namedObservedChunks(spark,
      documentStream(spark, inputDir, maxFilesPerTrigger))

  /** Crawl-shaped streaming ingest: watch a directory of MIXED-format
    * binary documents (markdown / HTML / DOCX / PDF), route each file
    * through the magic-byte reader ([[graft.sources.AutoElementReader]]),
    * pack its elements into chunks, and run the pipeline's chunk
    * processors — the streaming twin of the i_auto_elements driver row.
    * The reader+chunker stage is the FUSED flatMap
    * ([[graft.operators.Chunkers.autoElementChunks]]): `flatMapGroups`
    * is illegal on a stream and unnecessary here because one file IS
    * one document, so the whole pipeline stays stateless — no
    * watermark, no state store, per-stage rows observable via
    * `graft_*` named metrics on every micro-batch progress.
    * Note the document rows are binary: `pipeline.documentProcessors`
    * here must expect (doc_id, content, source), not (doc_id, text) —
    * the canonical pipeline has none, only chunk processors.
    */
  def autoChunkStream(spark: SparkSession, inputDir: String,
                      pipeline: IngestionPipeline = IngestionPipeline.canonical,
                      maxFilesPerTrigger: Int = 32): DataFrame = {
    val docs = graft.sources.DocumentSource.streamBinaryDir(
      spark, inputDir, maxFilesPerTrigger = maxFilesPerTrigger)
    pipeline.withChunker((sp, d) =>
        graft.operators.Chunkers.autoElementChunks(sp, d,
          metaCols = Seq("source")).toDF())
      .namedObservedChunks(spark, docs)
  }

  /** Write the chunk stream as vector records (append mode, checkpointed). */
  def writer(chunks: DataFrame, sinkPath: String, checkpoint: String,
             dim: Int = 64): DataStreamWriter[org.apache.spark.sql.Row] =
    VectorStoreWriter.toVectorRecords(chunks, dim,
        metadataCols = IngestionPipeline.metadataColumns(chunks))
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .option("path", sinkPath)
      .trigger(Trigger.AvailableNow())
      .format("parquet")

  /** Incremental (upsert) streaming writer: each micro-batch runs the
    * batch writer's dynamic-partition overwrite, so re-ingested
    * documents REPLACE their previous records instead of appending —
    * the reference's IncrementalIngestion option in streaming mode.
    * foreachBatch + checkpoint gives exactly-once per batch.
    */
  def incrementalWriter(chunks: DataFrame, sinkPath: String, checkpoint: String,
                        dim: Int = 64): DataStreamWriter[org.apache.spark.sql.Row] =
    VectorStoreWriter.toVectorRecords(chunks, dim,
        metadataCols = IngestionPipeline.metadataColumns(chunks))
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // layout-aware write: bucket count chosen from the SEED batch
        // (scale-adaptive) and persisted, so every later micro-batch
        // hashes under the same modulus (replace-by-documentid's
        // correctness invariant) — see VectorStoreWriter.writeWithLayout
        VectorStoreWriter.writeWithLayout(batch, sinkPath)
      }

  /** Streaming CDC apply: each micro-batch of changelog rows (seq, op
    * ∈ {I,U,D}, doc_id, text) MERGEs into the parquet snapshot at
    * `snapshotPath` via [[graft.operators.Corpus.applyChangelog]] —
    * ops within the batch resolve last-writer-wins first, then the
    * whole snapshot rewrites copy-on-write (the no-table-format
    * stand-in for a Delta/Iceberg MERGE; at lakehouse scale the same
    * batch function calls MERGE INTO). foreachBatch + checkpoint
    * gives exactly-once per batch; AvailableNow drains the backlog.
    * Cross-batch ordering relies on the source's batch order (a
    * replayable, seq-ordered changelog — the CDC contract).
    */
  def cdcStream(changes: DataFrame, snapshotPath: String,
                checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
    changes.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val base = spark.read.parquet(snapshotPath)
          .select(col("doc_id"), col("text"))
        val next = graft.operators.Corpus.applyChangelog(base, batch)
          .select(col("doc_id"), col("text"))
          // materialize BEFORE the overwrite: the plan reads the
          // files the write is about to replace
          .localCheckpoint(true)
        next.write.mode("overwrite").parquet(snapshotPath)
        next.unpersist()
        ()
      }

  /** Watermarked tumbling-window event aggregation: the canonical
    * stateful-streaming operator (SIGMOD'18 Structured Streaming
    * windowed aggregation shape). 10-minute windows, 20-minute
    * watermark for late data.
    */
  def eventWindowCounts(events: DataFrame,
                        windowLen: String = "10 minutes",
                        watermark: String = "20 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).as("sum_value")
      )
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value")
      )

  /** Stream-static enrichment: join a stream against a slowly-changing
    * dimension table. The static side is broadcast, so the stream never
    * shuffles and the join is map-side per micro-batch — the standard
    * way to attach user/tenant/document metadata to an event stream at
    * any scale (the dimension is re-read per batch, so an updated
    * parquet dimension is picked up without restarting the query).
    */
  def streamStaticEnrich(stream: DataFrame, dim: DataFrame,
                         key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Streaming drift monitor — per-window Population Stability Index
    * of a categorical column against a static baseline histogram, the
    * streaming twin of [[graft.operators.Profiler.drift]]: the
    * data-quality alarm that fires while ingestion runs, instead of a
    * batch audit after the fact.
    *
    * Shape: the only streaming state is the watermarked tumbling-
    * window value histogram (bounded by |values| × open windows, not
    * by stream length). Each micro-batch of FINALIZED window
    * histograms joins the broadcast baseline batch-side inside
    * foreachBatch — a per-window full outer, so baseline-only bins
    * keep their Laplace-smoothed mass exactly like the batch gate —
    * and appends one (window_start, n_bins, t_new, psi) row per
    * closed window to the sink. Callers set a trigger on the returned
    * writer if they need one.
    */
  def driftMonitor(stream: DataFrame, baseline: DataFrame, valueCol: String,
                   sinkPath: String, checkpoint: String,
                   windowLen: String = "10 minutes",
                   watermark: String = "20 minutes"): DataStreamWriter[org.apache.spark.sql.Row] = {
    val base = baseline
      .groupBy(coalesce(col(valueCol).cast("string"), lit("<null>")).as("value"))
      .agg(count(lit(1)).as("n_old"))
    val winCounts = stream.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen),
        coalesce(col(valueCol).cast("string"), lit("<null>")).as("value"))
      .agg(count(lit(1)).as("n_new"))
      .select(col("window.start").as("window_start"), col("value"), col("n_new"))
    winCounts.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val bins = batch.select(col("window_start")).distinct()
          .crossJoin(broadcast(base))
          .join(batch, Seq("window_start", "value"), "full_outer")
          .select(col("window_start"), col("value"),
            coalesce(col("n_old"), lit(0L)).as("n_old"),
            coalesce(col("n_new"), lit(0L)).as("n_new"))
        val totals = bins.groupBy(col("window_start")).agg(
          sum(col("n_old")).as("t_old"), sum(col("n_new")).as("t_new"),
          count(lit(1)).as("n_bins"))
        val pOld = (col("n_old") + lit(1)) / (col("t_old") + col("n_bins"))
        val pNew = (col("n_new") + lit(1)) / (col("t_new") + col("n_bins"))
        bins.join(broadcast(totals), Seq("window_start"))
          .select(col("window_start"), col("n_bins"), col("t_new"),
            ((pNew - pOld) * log(pNew / pOld)).as("term"))
          .groupBy(col("window_start"))
          .agg(first(col("n_bins")).as("n_bins"),
            first(col("t_new")).as("t_new"),
            round(sum(col("term")), 6).as("psi"))
          .write.mode("append").parquet(sinkPath)
      }
  }

  /** Stream-stream inner join within a time bound: right events match
    * left events with the same key whose timestamp falls in
    * [left.ts, left.ts + within]. Both sides are watermarked, so the
    * join state store holds only rows inside watermark + interval —
    * bounded by arrival rate × window, not stream length. Right-side
    * columns come back prefixed (both sides often share ts/key names).
    */
  def streamStreamJoin(left: DataFrame, right: DataFrame, key: String,
                       tsCol: String = "ts",
                       within: String = "1 hour",
                       watermark: String = "30 minutes",
                       rightPrefix: String = "r_"): DataFrame = {
    val l = left.withWatermark(tsCol, watermark)
    val renamed = right.columns.foldLeft(right)(
      (df, c) => df.withColumnRenamed(c, rightPrefix + c))
    val r = renamed.withWatermark(rightPrefix + tsCol, watermark)
    l.join(r,
      col(key) === col(rightPrefix + key) &&
        col(rightPrefix + tsCol) >= col(tsCol) &&
        col(rightPrefix + tsCol) <= col(tsCol) + expr(s"INTERVAL $within"))
  }

  /** Streaming dedup with bounded state: drops re-deliveries of the
    * same key whose event times fall within the watermark delay of the
    * first arrival; state for a key is evicted once the watermark
    * passes it, so state size is bounded by the key-arrival rate ×
    * delay window, not the stream length. This is the streaming twin of
    * `Dedup.exactDedup` for at-least-once upstream sources.
    */
  def dedupStream(stream: DataFrame, keyCols: Seq[String],
                  tsCol: String = "ts",
                  watermarkDelay: String = "30 minutes"): DataFrame =
    stream
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Streaming index-backed CURATION — continuous corpus ingestion
    * with near-duplicate admission control, the production shape of a
    * crawl pipeline at 100 TB (the reference's incremental-ingestion
    * option fused with its dedup intent): each micro-batch of
    * documents (doc_id, text)
    *
    *  1. PROBES the persisted MinHash-LSH index at `indexPath`
    *     ([[graft.operators.Dedup.probeDedupIndex]]) for verified
    *     near-dup pairs against everything already ACCEPTED plus
    *     within the batch itself — stored corpus text is never read,
    *     so per-batch cost is O(batch + matched index buckets) even
    *     when the accumulated corpus is 1000× every batch;
    *  2. DROPS a batch document that pairs with any stored survivor,
    *     or with a smaller-id document of its own batch (the
    *     deterministic first-wins admission rule — pessimistic: the
    *     greater of a within-batch pair drops even if its partner is
    *     itself dropped by a store pair);
    *  3. APPENDS only the survivors' band/signature rows to the index
    *     ([[graft.operators.Dedup.appendToDedupIndex]] — append cost
    *     O(batch), pre-existing index files untouched; rejected
    *     documents are NOT indexed, so a later near-dup of a rejected
    *     document is admitted unless it also matches a survivor);
    *  4. EMITS (doc_id, batch) accept records via dynamic-partition
    *     overwrite keyed on the batch id, so a replayed micro-batch
    *     rewrites its own partition instead of duplicating (the index
    *     append itself is exactly-once only under the checkpoint's
    *     no-replay happy path — a lakehouse MERGE owns that at
    *     production, same caveat as [[cdcStream]]).
    *
    * The first non-empty micro-batch has no index yet: its within-batch
    * pairs come from the delta-delta leg alone (identical
    * candidate+verify semantics to [[graft.operators.Dedup
    * .minhashLshPairs]]) and its survivors seed the index. Either way
    * the batch's signature rows are computed ONCE and shared between
    * the probe and the index write — one text scan per batch.
    */
  def curateStream(docs: DataFrame, indexPath: String, acceptPath: String,
                   checkpoint: String,
                   threshold: Double = 0.8): DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.operators.Dedup
        val spark = batch.sparkSession
        val pinned = batch.select(col("doc_id"), col("text"))
          .localCheckpoint(true) // anti-join + accept write share it
        if (!pinned.isEmpty) {
          val hasStore = storeExists(spark, indexPath, "bands")
          // ONE signature pass per batch: the same materialized rows
          // feed the probe AND the survivors' index append — the batch
          // text is scanned and shingled once, not twice
          val rows = Dedup.indexRows(pinned).localCheckpoint(true)
          // the pair set feeds exactly ONE consumer now (the dropped-id
          // projection below), so it needs no checkpoint of its own —
          // one saved per-micro-batch driver job (r13 round)
          val pairs =
            if (hasStore) Dedup.probeDedupIndexRows(spark, indexPath, rows,
              threshold)
            else Dedup.selfPairsFromRows(rows, threshold)
          val bids = pinned.select(col("doc_id"))
          // pair sides flagged by batch membership (ids + booleans on
          // the exchange; AQE broadcasts the pair side) — `b` is the
          // greater id by the pair contract, so within-batch pairs
          // drop b, and a store pair drops whichever side is in-batch.
          // ONE pass picks the dropped id per pair (the two filter
          // legs + union it replaces selected the same set: b_in → b;
          // a_in && !b_in → a)
          val flagged = pairs
            .join(bids.select(col("doc_id").as("a"), lit(true).as("a_in")),
              Seq("a"), "left")
            .join(bids.select(col("doc_id").as("b"), lit(true).as("b_in")),
              Seq("b"), "left")
            .select(col("a"), col("b"),
              coalesce(col("a_in"), lit(false)).as("a_in"),
              coalesce(col("b_in"), lit(false)).as("b_in"))
          val dropped = flagged.where(col("b_in") || col("a_in"))
            .select(when(col("b_in"), col("b")).otherwise(col("a")).as("doc_id"))
            .distinct()
          val survivors = pinned.join(dropped, Seq("doc_id"), "left_anti")
            .localCheckpoint(true) // index write + accept write share it
          // blank-text documents have no indexRows (they never
          // shingle), so they can neither pair nor index — they admit
          // without touching the store, and an all-blank seed batch
          // writes no zero-file index a later read would choke on
          val survivorRows = rows
            .join(survivors.select(col("doc_id")), Seq("doc_id"), "left_semi")
          if (!survivorRows.isEmpty) {
            if (hasStore) Dedup.appendRowsToDedupIndex(survivorRows, indexPath)
            else Dedup.writeRowsAsDedupIndex(survivorRows, indexPath)
          }
          survivors.select(col("doc_id"), lit(batchId).as("batch"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch").parquet(acceptPath)
          survivors.unpersist()
          rows.unpersist()
        }
        pinned.unpersist()
        ()
      }

  /** Streaming IVF index maintenance — the ANN-side twin of
    * [[curateStream]]: each micro-batch of (vec_id, embedding) rows
    * UPSERTs into the persisted IVF index at `indexPath`. The first
    * non-empty batch seeds the index ([[graft.operators.Similarity
    * .writeIvfIndex]] — centroids sampled from that batch and then
    * FROZEN, the standard IVF maintenance trade); every later batch
    * assigns against the frozen centroids and replaces re-ingested
    * vec_ids wherever their stale copies live
    * ([[graft.operators.Similarity.appendToIvfIndex]] — copy-on-write
    * touched-partition rewrite, untouched list directories
    * byte-identical, per-list centroid drift recorded to
    * `indexPath/drift` for the re-train policy to consume offline).
    * Per-batch cost is O(batch + touched lists), never O(index), so
    * the stream sustains continuous embedding ingestion however large
    * the accumulated store. Exactly-once caveat as [[cdcStream]]: a
    * replayed batch re-appends; a lakehouse MERGE owns that at
    * production.
    *
    * The frozen-centroid trade is NOT permanent: after each append the
    * drift-triggered partial re-train policy runs in-loop
    * ([[graft.operators.Similarity.maybeRetrainIvfIndex]] — its
    * trigger check reads only the drift table, so per-batch cost is
    * index METADATA, and a fire re-assigns only the drifted lists'
    * vectors with copy-on-write partition rewrites). `retrainEvery`
    * spaces the check for operators who want re-train on a coarser
    * cadence than ingestion (0 disables — the pre-r12 offline-only
    * behavior); `retrainMinMeanCos` is the policy threshold.
    */
  def ivfUpsertStream(vecs: DataFrame, indexPath: String, checkpoint: String,
                      nLists: Int = 16,
                      retrainEvery: Int = 1,
                      retrainMinMeanCos: Double = 0.98)
      : DataStreamWriter[org.apache.spark.sql.Row] = {
    // local batch counter, not batchId: a restarted stream's first
    // batch must be eligible regardless of checkpoint offsets
    val appendsSinceCheck = new java.util.concurrent.atomic.AtomicInteger(0)
    vecs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import graft.operators.Similarity
        val spark = batch.sparkSession
        val pinned = batch.select(col("vec_id"), col("embedding"))
          .localCheckpoint(true)
        if (!pinned.isEmpty) {
          val hasStore = storeExists(spark, indexPath, "centroids")
          if (hasStore) {
            Similarity.appendToIvfIndex(spark, indexPath, pinned)
            if (retrainEvery > 0 &&
              appendsSinceCheck.incrementAndGet() >= retrainEvery) {
              appendsSinceCheck.set(0)
              Similarity.maybeRetrainIvfIndex(spark, indexPath,
                retrainMinMeanCos)
              ()
            }
          } else Similarity.writeIvfIndex(pinned, indexPath, nLists)
        }
        pinned.unpersist()
        ()
      }
  }

  /** One closed user session. */
  final case class ClosedSession(user_id: Long, start_sec: Long, end_sec: Long, n_events: Long)

  /** An open session per user, carried across micro-batches. */
  final case class SessionState(start_sec: Long, end_sec: Long, n_events: Long)

  /** Stateful streaming sessionization via flatMapGroupsWithState —
    * the custom-state operator the gap-based batch query (q_sessionize)
    * can't express on an unbounded stream. Sessions close when the gap
    * to the next event exceeds `gapSeconds`, or when the event-time
    * watermark passes the open session (timeout).
    *
    * State per user is O(1) (one open session), so state store size is
    * bounded by the active-user cardinality, not the stream length.
    */
  def sessionizeStream(spark: SparkSession, events: DataFrame,
                       gapSeconds: Long = 1800,
                       watermarkDelay: String = "30 minutes"): Dataset[ClosedSession] = {
    import spark.implicits._
    val typed = events
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id").cast("long").as("user_id"),
        unix_seconds(col("ts")).as("sec"), col("ts"))
      .as[(Long, Long, java.sql.Timestamp)]

    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(userId, s.start_sec, s.end_sec, s.n_events))
          } else {
            val secs = rows.map(_._2).toArray.sorted
            val closed = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
            var cur = state.getOption
            for (sec <- secs) {
              cur match {
                case Some(s) if sec - s.end_sec <= gapSeconds &&
                    s.start_sec - sec <= gapSeconds =>
                  // min/max merge: events are sorted within a batch but a
                  // late (within-watermark) event in a LATER batch can
                  // precede the open session — never move end_sec backward.
                  // Both bounds checked: an event more than gapSeconds
                  // BEFORE the open session's start must not merge either
                  // (watermarkDelay > gapSeconds makes that reachable).
                  cur = Some(SessionState(math.min(s.start_sec, sec),
                    math.max(s.end_sec, sec), s.n_events + 1))
                case Some(s) if sec < s.start_sec =>
                  // too-late event preceding the open session by > gap:
                  // it is its own (already gap-closed) session
                  closed += ClosedSession(userId, sec, sec, 1)
                case Some(s) =>
                  closed += ClosedSession(userId, s.start_sec, s.end_sec, s.n_events)
                  cur = Some(SessionState(sec, sec, 1))
                case None =>
                  cur = Some(SessionState(sec, sec, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // close the open session once the watermark passes its
              // gap; a very late event can put end+gap at or before the
              // current watermark, and setTimeoutTimestamp THROWS on
              // non-future timestamps (killing the query) — clamp it
              state.setTimeoutTimestamp(
                math.max((s.end_sec + gapSeconds) * 1000,
                  state.getCurrentWatermarkMs() + 1))
            }
            closed.iterator
          }
      }
  }
}
