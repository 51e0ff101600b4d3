package graft
package queries

import graft.operators._
import graft.pipeline.IngestionPipeline
import graft.queries.Inputs._
import graft.queries.SqlText._
import org.apache.spark.sql.functions._

/** Streaming: every x_ row runs as a stream and is checked against the
  * batch oracle it must match. Each [[QuerySpec]] holds a query's Spark
  * closure and, right after it, the DuckDB SQL its result must match. */
private[graft] object StreamQueries extends QueryFamily {
  val prefix = "x"

  /** x_stream_curate oracle: the four-batch index-backed admission
    * sequence unrolled in SQL. Batch CTEs replicate curateParity's
    * id-range staging (integer-division boundaries); per batch i,
    * candidates come from the accumulated SURVIVORS' band rows (the
    * index contents — rejected docs never index) plus the batch's own
    * banded self-join, verified by exact shingle Jaccard ≥ 0.8; a
    * batch doc drops when paired with any stored survivor or with a
    * smaller-id doc of its own batch. Id-range staging makes every
    * store id smaller than every later batch id, so the batch side of
    * a cross pair is always the greater (`b`) — the unroll relies on
    * that staging invariant.
    */
  private lazy val streamCurateSql: String = streamCurateSqlFor(false)

  /** x_stream_retract oracle: [[streamCurateSql]] with the mid-stream
    * retraction modeled — the batch-0 contribution to every later
    * store side keeps ODD survivors only (the harness retracts every
    * even id of the seed slice after batch 0 commits). Batch 0's own
    * accept rows are untouched: retraction removes index signal, not
    * admission history. */
  private lazy val streamRetractSql: String = streamCurateSqlFor(true)

  private def streamCurateSqlFor(retractEvenSeed: Boolean): String = {
    val nB = graft.streaming.StreamBatchParity.DataBatches
    def inter(sa: String, sb: String) = s"len(list_intersect($sa.hashes, $sb.hashes))"
    def jac(sa: String, sb: String) =
      s"CAST(${inter(sa, sb)} AS DOUBLE) / " +
        s"(len($sa.hashes) + len($sb.hashes) - ${inter(sa, sb)}) >= 0.8"
    val stats =
      "stc AS (SELECT min(doc_id) AS lo0, max(doc_id) - min(doc_id) + 1 AS rng FROM corpus)"
    val batches = (0 until nB).map { i =>
      val lo = s"(SELECT lo0 + (rng * $i) // $nB FROM stc)"
      val hi = s"(SELECT lo0 + (rng * ${i + 1}) // $nB FROM stc)"
      val cond = if (i == nB - 1) s"doc_id >= $lo"
        else s"doc_id >= $lo AND doc_id < $hi"
      s"b$i AS (SELECT doc_id, text FROM corpus WHERE $cond)"
    }
    val banded = (0 until nB).map(i => minhashBandedCtes(s"c${i}_", s"b$i"))
    val seed =
      s"""dd0 AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM c0_banded x
         |  JOIN c0_banded y ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
         |drop0 AS (
         |  SELECT DISTINCT b AS doc_id FROM dd0
         |  JOIN c0_sigs sa ON sa.doc_id = dd0.a
         |  JOIN c0_sigs sb ON sb.doc_id = dd0.b
         |  WHERE ${jac("sa", "sb")}),
         |s0 AS (SELECT doc_id FROM b0
         |  WHERE doc_id NOT IN (SELECT doc_id FROM drop0))""".stripMargin
    val steps = (1 until nB).map { i =>
      // the retraction variant drops the seed batch's EVEN survivors
      // from every later store side (their band rows left the index
      // between batch 0 and batch 1)
      val storeBanded = (0 until i).map { j =>
        val keep =
          if (retractEvenSeed && j == 0) "SELECT doc_id FROM s0 WHERE doc_id % 2 <> 0"
          else s"SELECT doc_id FROM s$j"
        s"SELECT doc_id, band, key FROM c${j}_banded WHERE doc_id IN ($keep)"
      }.mkString("\n  UNION ALL ")
      val sigs = (0 to i).map(j => s"SELECT doc_id, hashes FROM c${j}_sigs")
        .mkString("\n  UNION ALL ")
      s"""stb$i AS (
         |  $storeBanded),
         |sg$i AS (
         |  $sigs),
         |cr$i AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM stb$i x
         |  JOIN c${i}_banded y ON x.band = y.band AND x.key = y.key),
         |dd$i AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM c${i}_banded x
         |  JOIN c${i}_banded y ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
         |drop$i AS (
         |  SELECT DISTINCT b AS doc_id FROM cr$i
         |  JOIN sg$i sa ON sa.doc_id = cr$i.a
         |  JOIN sg$i sb ON sb.doc_id = cr$i.b
         |  WHERE ${jac("sa", "sb")}
         |  UNION
         |  SELECT DISTINCT b AS doc_id FROM dd$i
         |  JOIN sg$i sa ON sa.doc_id = dd$i.a
         |  JOIN sg$i sb ON sb.doc_id = dd$i.b
         |  WHERE ${jac("sa", "sb")}),
         |s$i AS (SELECT doc_id FROM b$i
         |  WHERE doc_id NOT IN (SELECT doc_id FROM drop$i))""".stripMargin
    }
    val accepts = (0 until nB)
      .map(i => s"SELECT doc_id, $i AS batch FROM s$i").mkString("\n  UNION ALL ")
    s"""WITH corpus AS ($corpusWithDupsSql),
       |$stats,
       |${batches.mkString(",\n")},
       |${banded.mkString(",\n")},
       |$seed,
       |${steps.mkString(",\n")}
       |SELECT doc_id, CAST(batch AS INTEGER) AS batch FROM (
       |  $accepts)
       |ORDER BY doc_id""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("x_sql_surface", (s, dir) => {
      // the SparkSessionExtensions surface: pure SQL over registered
      // graft_* native kernels (what a BI tool / SQL notebook would run)
      GraftExtensions.register(s)
      tbl(s, dir, "documents").createOrReplaceTempView("graft_docs")
      s.sql("""SELECT doc_id, graft_poly_hash(text) AS fp,
              |       graft_token_count(text) AS n_tokens
              |FROM graft_docs ORDER BY doc_id""".stripMargin)
    }, oracleSql =
      s"""SELECT doc_id, ${sqlHash("text")} AS fp,
         |  CAST(len(${sqlToks("text")}) AS INT) AS n_tokens
         |FROM documents ORDER BY doc_id""".stripMargin),

    QuerySpec("x_stream_sessionize", (s, dir) => {
      // STREAMING execution of sessionization (file-source micro-
      // batches → flatMapGroupsWithState → watermark-flushed sink),
      // hash-gated against the SAME oracle the batch q_sessionize
      // passes — the stream-batch parity proof for the custom-state
      // operator (state is one open session per user at any scale)
      graft.streaming.StreamBatchParity.sessionizeParity(
        s, events(s, dir).select(col("user_id"), col("sec")))
    },
    // stream-batch parity: the STREAMING sessionization must equal the
    // exact batch-SQL answer — same oracle text as q_sessionize
    oracleSql = sessionizeSql),

    QuerySpec("x_stream_windows", (s, dir) => {
      // STREAMING execution of watermarked tumbling-window counts,
      // finalized by watermark advance and hash-gated against the
      // batch hour-bucket oracle shape (q_event_windows's twin with
      // the streaming aggregate's decimal(18,6) sum contract)
      graft.streaming.StreamBatchParity.windowCountsParity(
        s, events(s, dir).select(col("event_type"), col("value"), col("sec")))
    },
    // stream-batch parity: streaming windowed aggregation vs the batch
    // hour-bucket SQL (decimal(18,6) — the streaming aggregate's sum
    // type — instead of q_event_windows's 18,4)
    oracleSql =
      """SELECT (epoch_us(ts) // 1000000 // 3600) * 3600 AS hour_start, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    QuerySpec("x_stream_drift", (s, dir) => {
      // STREAMING execution of the per-window PSI drift monitor
      // (watermarked window histograms + the batch-side Laplace-
      // smoothed baseline join inside foreachBatch), hash-gated
      // against the same fixed-shape PSI SQL the batch q_drift gate
      // uses — parity for the writer-shaped streaming operator class
      graft.streaming.StreamBatchParity.driftMonitorParity(
        s, events(s, dir).select(col("event_type"), col("sec")))
    },
    // stream-batch parity: the streaming drift monitor's finalized
    // windows vs the same Laplace-smoothed PSI unrolled in SQL (every
    // window scores against the corpus's overall event_type histogram)
    oracleSql =
      """WITH base AS (
        |  SELECT event_type AS value, CAST(count(*) AS BIGINT) AS n_old
        |  FROM events GROUP BY 1),
        |wins AS (
        |  SELECT (epoch_us(ts) // 1000000 // 3600) * 3600 AS h,
        |    event_type AS value, CAST(count(*) AS BIGINT) AS n_new
        |  FROM events GROUP BY 1, 2),
        |hours AS (SELECT DISTINCT h FROM wins),
        |bins AS (
        |  SELECT hours.h, base.value, base.n_old,
        |    COALESCE(wins.n_new, 0) AS n_new
        |  FROM hours CROSS JOIN base
        |  LEFT JOIN wins ON wins.h = hours.h AND wins.value = base.value),
        |tot AS (
        |  SELECT h, CAST(sum(n_old) AS BIGINT) AS t_old,
        |    CAST(sum(n_new) AS BIGINT) AS t_new,
        |    CAST(count(*) AS BIGINT) AS n_bins
        |  FROM bins GROUP BY h)
        |SELECT bins.h AS hour_start, tot.n_bins, tot.t_new,
        |  round(sum(
        |    ((n_new + 1) / CAST(t_new + n_bins AS DOUBLE) -
        |     (n_old + 1) / CAST(t_old + n_bins AS DOUBLE)) *
        |    ln(((n_new + 1) / CAST(t_new + n_bins AS DOUBLE)) /
        |       ((n_old + 1) / CAST(t_old + n_bins AS DOUBLE)))), 6) AS psi
        |FROM bins JOIN tot USING (h)
        |GROUP BY 1, tot.n_bins, tot.t_new
        |ORDER BY 1""".stripMargin),

    QuerySpec("x_stream_dedup", (s, dir) => {
      // STREAMING execution of bounded-state dedup
      // (dropDuplicatesWithinWatermark) over the events corpus plus
      // injected at-least-once re-deliveries (same-ts copies and 60 s
      // redelivered copies — both provably inside the eviction bound
      // at every batch boundary), hash-gated against a plain scan of
      // the unique-keyed original corpus: the streaming twin of exact
      // dedup must drop every injected copy and nothing else
      graft.streaming.StreamBatchParity.dedupParity(
        s, events(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"), col("sec")))
    },
    // stream-batch parity: streaming bounded-state dedup of the
    // redelivery-injected corpus must return exactly the original
    // unique-keyed events table
    oracleSql =
      """SELECT event_id, user_id, event_type
        |FROM events ORDER BY event_id""".stripMargin),

    QuerySpec("x_stream_cdc", (s, dir) => {
      // STREAMING execution of the CDC MERGE: the d_cdc_apply
      // changelog staged as seq-range micro-batches, each foreachBatch
      // copy-on-write-merged into a parquet snapshot, and the FINAL
      // snapshot hash-gated against the same batch last-writer-wins
      // SQL — ops for one doc may straddle batch boundaries, so this
      // proves cross-batch merge convergence, the invariant an
      // incremental lakehouse pipeline rests on
      val base = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.streaming.StreamBatchParity.cdcParity(s, base, cdcChangelog(base))
        .select(col("doc_id"), sha2(col("text"), 256).as("digest"))
        .orderBy(col("doc_id"))
    },
    // stream-batch parity: the incrementally-MERGEd CDC snapshot must
    // equal the batch last-writer-wins application — same changelog
    // CTEs as d_cdc_apply, snapshot content only (the streamed
    // snapshot carries no origin column)
    oracleSql =
      s"""WITH $cdcChangelogCtes,
         |last AS (
         |  SELECT doc_id, op, text FROM (
         |    SELECT doc_id, op, text, row_number() OVER (
         |      PARTITION BY doc_id ORDER BY seq DESC, op DESC, text DESC) AS rk
         |    FROM ch) WHERE rk = 1),
         |merged AS (
         |  SELECT b.doc_id, b.text FROM base b
         |  WHERE NOT EXISTS (SELECT 1 FROM last l WHERE l.doc_id = b.doc_id)
         |  UNION ALL SELECT doc_id, text FROM last WHERE op <> 'D')
         |SELECT doc_id, sha256(text) AS digest
         |FROM merged ORDER BY doc_id""".stripMargin),

    QuerySpec("x_stream_enrich", (s, dir) => {
      // STREAMING execution of stream-static enrichment: each event
      // micro-batch map-side-joins a broadcast per-user profile
      // dimension (derived batch-side from the same corpus), and the
      // enriched row set is hash-gated against the batch join SQL —
      // the standard metadata-attach path for an event stream
      graft.streaming.StreamBatchParity.enrichParity(
        s, events(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"), col("sec")))
    },
    // stream-batch parity: per-micro-batch broadcast dimension attach
    // vs the batch join (dimension = per-user profile from the corpus)
    oracleSql =
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |    epoch_us(ts) // 1000000 AS sec FROM events),
        |d AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_total,
        |    min(sec) AS first_seen_sec
        |  FROM e GROUP BY 1)
        |SELECT e.event_id, e.user_id, e.event_type,
        |  d.n_total, d.first_seen_sec
        |FROM e JOIN d USING (user_id)
        |ORDER BY e.event_id""".stripMargin),

    QuerySpec("x_stream_upsert", (s, dir) => {
      // STREAMING execution of incremental (upsert) vector-store
      // ingestion: corpus micro-batches then a re-ingestion batch of
      // revised docs; the dynamic-partition-overwrite writer must
      // REPLACE the revised documents' records, so the final store
      // hash-equals the batch writer's output over the revised corpus
      graft.streaming.StreamBatchParity.upsertWriterParity(
        s, tbl(s, dir, "documents"))
        .select(col("key"), col("content"), col("context"), col("documentid"),
          posexplode(col("embedding")).as(Seq("dim", "val")))
        .withColumn("val", col("val").cast("double"))
        .orderBy(col("documentid").cast("long"), col("key"), col("dim"))
    },
    // stream-batch parity: after the re-ingestion micro-batch, the
    // incrementally-written store must equal the batch vector records
    // over the REVISED corpus — replace-by-documentid, not append
    oracleSql =
      s"""WITH revised AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 10 = 0 THEN text || ' rev2' ELSE text END AS text
         |  FROM documents),
         |${vectorRecordsCtes("revised")}
         |SELECT key, content, context, documentid,
         |  CAST(r.range - 1 AS INT) AS dim,
         |  CAST(embedding[CAST(r.range AS INT)] AS DOUBLE) AS val
         |FROM vr CROSS JOIN range(1, 17) r
         |ORDER BY CAST(documentid AS BIGINT), key, dim""".stripMargin),

    QuerySpec("x_stream_ingest", (s, dir) => {
      // STREAMING execution of the ingestion pipeline itself — the
      // reference's own shape (IngestionPipeline.cs is an async
      // stream over documents): documents staged as id-range json
      // micro-batches through chunkStream (reader → chunker →
      // enrichers per trigger, checkpointed sink), final chunk rows
      // hash-gated against the SAME batch SQL i_pipeline_e2e passes
      graft.streaming.StreamBatchParity.ingestParity(
        s, tbl(s, dir, "documents"))
        .select(col("doc_id"), col("chunk_id"), col("token_count"),
          col("summary"), col("sentiment"))
        .orderBy(col("doc_id"), col("chunk_id"))
    },
    // stream-batch parity: the STREAMING pipeline execution must
    // satisfy the identical SQL the batch pipeline passes
    oracleSql = pipelineE2eOracle),

    QuerySpec("x_stream_join", (s, dir) => {
      // STREAMING execution of the bounded-state interval join in the
      // view→purchase attribution shape (a streaming SELF-join: both
      // sides filtered from one staged corpus stream), hash-gated
      // against the batch interval-join SQL — eager inner-join
      // emission plus provably-no-late-arrivals staging means the
      // emitted pair set is exactly the batch answer
      graft.streaming.StreamBatchParity.joinParity(
        s, events(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"), col("sec")))
    },
    // stream-batch parity: the streaming interval self-join's emitted
    // pair set vs the batch interval join (truncated-second event
    // times on both sides, the events-family convention)
    oracleSql =
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |    epoch_us(ts) // 1000000 AS sec FROM events)
        |SELECT a.event_id AS view_id, b.event_id AS purchase_id,
        |  a.user_id, a.sec AS view_sec, b.sec AS purchase_sec
        |FROM e a JOIN e b ON a.user_id = b.user_id
        |  AND b.sec >= a.sec AND b.sec <= a.sec + 3600
        |WHERE a.event_type = 'view' AND b.event_type = 'purchase'
        |ORDER BY view_id, purchase_id""".stripMargin),

    QuerySpec("x_stream_curate", (s, dir) => {
      // STREAMING index-backed curation — the continuous-crawl
      // admission loop: the dup-injected corpus staged as four
      // id-range micro-batches (the originals, an empty gap slice,
      // then the exact copies at +1e8 and the near copies at +2e8,
      // so rejections happen CROSS-batch against the persisted LSH
      // index, not within one probe); each foreachBatch probes the
      // index vs everything accepted so far, drops matched docs, and
      // appends only survivors; the final accept set is hash-gated
      // against the same admission sequence unrolled in SQL —
      // proving the index build/append/probe lifecycle composes with
      // checkpointed streaming to the exact batch-sequential answer
      graft.streaming.StreamBatchParity.curateParity(
        s, corpusWithDups(tbl(s, dir, "documents")))
    },
    // stream-batch parity: the streaming curation loop's accept set
    // vs the four-batch admission sequence unrolled in SQL
    oracleSql = streamCurateSql),

    QuerySpec("x_stream_retract", (s, dir) => {
      // RIGHT-TO-BE-FORGOTTEN composed with streaming curation (r12):
      // batch 0 admits and seeds the index; every even id of the seed
      // slice then RETRACTS via removeFromDedupIndex (file-level COW;
      // non-indexed ids no-op, so the request needs no knowledge of
      // what survived); the stream RESUMES from its checkpoint over
      // batches 1..3, whose admissions must reflect the reduced index
      // — retracted texts re-admit, kept survivors still block — while
      // batch 0's accept rows stay untouched (retraction removes index
      // signal, not admission history). Hash-gated against the same
      // sequence unrolled in SQL with the seed batch's store
      // contribution filtered to odd survivors.
      graft.streaming.StreamBatchParity.curateRetractParity(
        s, corpusWithDups(tbl(s, dir, "documents")))
    }, oracleSql = streamRetractSql),

    QuerySpec("x_stream_ivf", (s, dir) => {
      // STREAMING IVF index maintenance — the ANN twin of
      // x_stream_curate: embeddings staged as id-range micro-batches
      // (batch 0 seeds the index and FREEZES its centroids), then a
      // re-ingestion batch of NEGATED copies of every 10th vector
      // under the same ids; the final ANN answer, read from the
      // persisted store alone through the partition-pruned probe
      // path, is hash-gated against the whole sequence replayed in
      // SQL — frozen-centroid assignment, upsert-by-id replacement,
      // and the COW store all survive checkpointed streaming
      graft.streaming.StreamBatchParity.ivfUpsertParity(
        s, tbl(s, dir, "embeddings").select(col("vec_id"), col("embedding")))
    },
    // stream-batch parity: the streaming IVF upsert's final probe
    // answer vs the frozen-centroid / replace-by-id sequence in SQL
    // (centroids sampled from the batch-0 id-range slice exactly as
    // writeIvfIndex's modulo selection; every 10th vector carries its
    // re-ingested NEGATED embedding)
    oracleSql =
      s"""WITH bounds AS (
         |  SELECT min(vec_id) AS lo0, max(vec_id) - min(vec_id) + 1 AS rng
         |  FROM embeddings),
         |b0 AS (
         |  SELECT vec_id, embedding FROM embeddings, bounds
         |  WHERE vec_id >= lo0 AND vec_id < lo0 + rng // 4),
         |params AS (SELECT greatest(1, count(*) // 8) AS step FROM b0),
         |centroids AS (
         |  SELECT vec_id AS list_id, embedding AS centroid FROM b0, params
         |  WHERE vec_id % params.step = 0 ORDER BY vec_id LIMIT 8),
         |final AS (
         |  SELECT vec_id, CASE WHEN vec_id % 10 = 0
         |    THEN list_transform(embedding, x -> CAST(-x AS FLOAT))
         |    ELSE embedding END AS embedding FROM embeddings),
         |corpus_assign AS (
         |  SELECT vec_id AS nbr_id, embedding AS nbr_emb, list_id FROM (
         |    SELECT f.vec_id, f.embedding, c.list_id,
         |      row_number() OVER (PARTITION BY f.vec_id
         |        ORDER BY ${sqlCos("f.embedding", "c.centroid")} DESC, c.list_id) AS r
         |    FROM final f, centroids c)
         |  WHERE r = 1),
         |query_assign AS (
         |  SELECT vec_id AS query_id, embedding AS q_emb, list_id FROM (
         |    SELECT f.vec_id, f.embedding, c.list_id,
         |      row_number() OVER (PARTITION BY f.vec_id
         |        ORDER BY ${sqlCos("f.embedding", "c.centroid")} DESC, c.list_id) AS r
         |    FROM final f, centroids c WHERE f.vec_id < 5)
         |  WHERE r <= 4),
         |scored AS (
         |  SELECT DISTINCT query_id, nbr_id, ${sqlCos("q_emb", "nbr_emb")} AS cos
         |  FROM query_assign q JOIN corpus_assign n USING (list_id)
         |  WHERE query_id <> nbr_id),
         |ranked AS (
         |  SELECT query_id, nbr_id, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, nbr_id) AS INT) AS rank
         |  FROM scored)
         |SELECT query_id, rank, nbr_id, round(cos, 6) AS cos FROM ranked
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)
  )
}
