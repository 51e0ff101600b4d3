package graft

import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators._
import graft.pipeline.IngestionPipeline
import graft.sinks.{VectorStoreWriter => VSW}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every `queries` entry is one operator from the inventory; entries
  * with a DuckDB-portable result also appear in `oracleSql`. Oracle
  * portability rules (SURVEY §6): decimal casts before SUM (exact,
  * order-independent), integer arithmetic for threshold compares,
  * explicit ORDER BY with unique tiebreaks, identical left-fold
  * sequences for float math, no engine-specific hash functions in
  * compared values.
  */
object SparkEntry {

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Chunk contract columns that are safe on the driver-compared surface
    * (scalars only — the metadata map is deliberately excluded).
    */
  private val chunkScalarCols: Seq[Column] = Seq(
    col("doc_id"), col("chunk_id"), col("content"), col("context"),
    col("token_count"), col("page_number"))

  /** events table with a uniform `sec` column (epoch seconds, exact
    * integer division — matches DuckDB `epoch_us(ts) // 1000000`).
    * Type-adaptive on `ts`: driver generations have stored it both as
    * parquet TIMESTAMP(NANOS) (readable only as a nanos long under the
    * legacy flag) and as TIMESTAMP(MICROS) (a native Spark timestamp);
    * every downstream query consumes `sec` only, so both layouts
    * produce identical results.
    */
  private def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val e = tbl(s, dir, "events")
    val sec = e.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000000000")
      // TIMESTAMP or TIMESTAMP_NTZ; the session timezone is pinned to
      // UTC (GraftSession), so the NTZ→TZ cast is the identity and
      // `sec` matches DuckDB's naive-timestamp epoch_us exactly
      case _ => expr("unix_micros(cast(ts as timestamp)) div 1000000")
    }
    e.withColumn("sec", sec)
  }

  /** Deterministic CDC changelog over the documents corpus, shared by
    * d_cdc_apply and d_scd2_build: ids ≡0 (mod 7) get two updates
    * (seq 10·id " v1", 10·id+1 " v2"), ids ≡0 (mod 11) a delete at
    * 10·id+2 (outranking both updates where they coincide), ids ≡0
    * (mod 13) an insert under id+5M at 10·id+3.
    */
  private def cdcChangelog(base: DataFrame): DataFrame =
    base.where(col("doc_id") % 7 === 0)
      .select(col("doc_id"), (col("doc_id") * 10).as("seq"), lit("U").as("op"),
        concat(col("text"), lit(" v1")).as("text"))
    .unionByName(base.where(col("doc_id") % 7 === 0)
      .select(col("doc_id"), (col("doc_id") * 10 + 1).as("seq"), lit("U").as("op"),
        concat(col("text"), lit(" v2")).as("text")))
    .unionByName(base.where(col("doc_id") % 11 === 0)
      .select(col("doc_id"), (col("doc_id") * 10 + 2).as("seq"), lit("D").as("op"),
        lit("").as("text")))
    .unionByName(base.where(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 500000000L).as("doc_id"),
        (col("doc_id") * 10 + 3).as("seq"), lit("I").as("op"),
        concat(lit("inserted "), col("doc_id").cast("string")).as("text")))

  /** Documents corpus with induced duplicates, shared by the dedup
    * queries (the synthetic corpus has no natural dups): every 10th doc
    * reappears verbatim at id+10^8 (exact dup) and with one token
    * appended at id+2*10^8 (near dup; offsets clear GenData's real
    * id range, which reaches ~10^6 at sf10 — colliding offsets
    * silently misclassify real rows as injected dups, r8 find).
    */
  private def corpusWithDups(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    base
      .union(base.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000000L).as("doc_id"), col("text")))
      .union(base.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 200000000L).as("doc_id"),
          concat(col("text"), lit(" graftdup")).as("text")))
  }

  /** Embeddings with induced near-dups: every 10th vector reappears at
    * id+10^8 scaled by 1.01 (same direction ⇒ cosine 1, same LSH
    * bucket) — the synthetic random vectors have no natural high-cosine
    * pairs, so without this the pairwise queries would be 0-row.
    */
  private def vecsWithDups(emb: DataFrame): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"))
    base.union(
      base.where(col("vec_id") % 10 === 0).select(
        (col("vec_id") + 100000000L).as("vec_id"),
        transform(col("embedding"), x => (x * lit(1.01)).cast("float")).as("embedding")))
  }

  // NOTE: CAST(1.01 AS DOUBLE) is load-bearing — a bare 1.01 literal
  // is DECIMAL(3,2) in DuckDB, and the decimal×float path rounds
  // ~0.07% of coordinates to a different float than Spark's
  // double-math `x * lit(1.01)`; at sf1 scale those last-ulp copy
  // divergences flipped micro-cosine ties in s_mutual_knn (r8).
  private val vecsWithDupsSql =
    """SELECT vec_id, embedding FROM embeddings
      |UNION ALL SELECT vec_id + 100000000,
      |  list_transform(embedding, x -> CAST(x * CAST(1.01 AS DOUBLE) AS FLOAT))
      |FROM embeddings WHERE vec_id % 10 = 0""".stripMargin

  private val corpusWithDupsSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL SELECT doc_id + 100000000, text FROM documents WHERE doc_id % 10 = 0
      |UNION ALL SELECT doc_id + 200000000, text || ' graftdup' FROM documents WHERE doc_id % 10 = 0""".stripMargin

  /** Fixed merge table for the t_bpe_encode query (rank = position).
    * Drawn from the corpus's real top character pairs; the last two
    * are second-order (they merge PIECES made by earlier ranks), so
    * the query exercises the iterative min-rank encode, not just one
    * pass. One Seq feeds both the Spark kernel and the generated
    * DuckDB CASE arms — they cannot drift.
    */
  private val BpeQueryMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("i", "n"), ("o", "w"), ("s", "t"),
    ("t", "a"), ("l", "e"), ("ta", "b"), ("tab", "le"))

  /** DuckDB twin of TextFunctions.tokens. */
  private def sqlToks(textExpr: String): String =
    s"list_filter(regexp_split_to_array($textExpr, '\\s+'), x -> length(x) > 0)"

  /** Shared BM25 CTE chain (ends in `bm_ranked`, rank unbounded):
    * postings with doc length riding along, df restricted to the
    * doc_id<3 first-four-token queries, Lucene idf, 6-dp-rounded
    * score. Used by s_bm25 and as the lexical arm of s_hybrid_rrf.
    */
  private lazy val bm25RankedCte: String =
    s"""dtoks AS (SELECT doc_id, ${sqlToks("lower(text)")} AS t FROM documents),
       |bm_stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |                 avg(CAST(len(t) AS DOUBLE)) AS avgdl FROM dtoks),
       |post AS (
       |  SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf FROM (
       |    SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM dtoks)
       |  GROUP BY doc_id, dl, term),
       |qt AS (
       |  SELECT DISTINCT doc_id AS query_id, unnest(t[1:4]) AS term
       |  FROM dtoks WHERE doc_id < 3),
       |dfs AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM post
       |  WHERE term IN (SELECT term FROM qt) GROUP BY term),
       |qidf AS (
       |  SELECT query_id, term,
       |    ln(1.0 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5)) AS idf
       |  FROM qt JOIN dfs USING (term), bm_stats),
       |bm_scored AS (
       |  SELECT query_id, doc_id,
       |    round(sum(idf * (tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6)
       |      AS score
       |  FROM post JOIN qidf USING (term), bm_stats
       |  GROUP BY query_id, doc_id),
       |bm_ranked AS (
       |  SELECT query_id, doc_id, score,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS INT) AS rank
       |  FROM bm_scored)""".stripMargin

  /** Shared ngram near-dup pair CTE chain (ends in `dup_pairs`):
    * shingle hashes (3-gram, portable hash), distinct per doc;
    * pairwise intersection via self-join, integer jaccard threshold.
    * Used by d_dedup_ngram and as the edge set of d_dedup_clusters.
    */
  private lazy val ngramPairsCte: String =
    s"""corpus AS ($corpusWithDupsSql),
       |toks AS (SELECT doc_id, ${sqlToks("text")} AS t FROM corpus),
       |sh AS (
       |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN [${sqlHash("array_to_string(t, ' ')")}]
       |    ELSE list_transform(range(0, len(t) - 2),
       |         i -> ${sqlHash("array_to_string(t[i+1:i+3], ' ')")}) END) AS hashes
       |  FROM toks),
       |ex AS (SELECT doc_id, len(hashes) AS n_sh, unnest(hashes) AS shingle FROM sh),
       |capped AS (
       |  SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY shingle) AS df FROM ex)
       |  WHERE df <= 1000),
       |pairs AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b, x.n_sh AS na, y.n_sh AS nb, count(*) AS inter
       |  FROM capped x JOIN capped y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2, 3, 4),
       |dup_pairs AS (
       |  SELECT a, b, inter, na, nb FROM pairs
       |  WHERE inter * 10000 >= 8000 * (na + nb - inter))""".stripMargin

  /** Language-ID prediction replay ending in `lang_pred_t` (doc_id,
    * lang, lang_pred) — the stopword-hit argmax twin of
    * TextAnalysis.langId, shared by t_lang_id and t_lang_confusion.
    */
  private lazy val langPredCte: String = {
    def hits(words: Seq[String]) =
      s"len(list_filter(${sqlToks("lower(text)")}, x -> list_contains([${words.map(w => s"'$w'").mkString(",")}], x)))"
    val de = hits(TextAnalysis.Stopwords("de"))
    val en = hits(TextAnalysis.Stopwords("en"))
    val es = hits(TextAnalysis.Stopwords("es"))
    val fr = hits(TextAnalysis.Stopwords("fr"))
    s"""lang_pred_t AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN cde = 0 AND cen = 0 AND ces = 0 AND cfr = 0 THEN 'und'
       |         WHEN cde >= cen AND cde >= ces AND cde >= cfr THEN 'de'
       |         WHEN cen >= ces AND cen >= cfr THEN 'en'
       |         WHEN ces >= cfr THEN 'es'
       |         ELSE 'fr' END AS lang_pred
       |  FROM (SELECT doc_id, lang, $de AS cde, $en AS cen, $es AS ces,
       |        $fr AS cfr FROM documents))""".stripMargin
  }

  /** MinHash-LSH pair replay ending in `mh_pairs` (a, b, inter, na,
    * nb) — expects a `corpus` CTE in scope (mh_-prefixed names so it
    * composes with [[ngramPairsCte]] in the same WITH chain). Twin of
    * Dedup.minhashLshPairs(n=3, k=16, rowsPerBand=4, threshold=0.8).
    */
  /** The minhash derivation chain (toks → shingle hashes → signatures
    * → banded keys) over CTE `source` with name prefix `p` — shared by
    * the self-join dedup oracles and the persisted-index probe oracle,
    * which runs the chain over two corpora. */
  private def minhashBandedCtes(p: String, source: String): String = {
    val k = 16; val rpb = 4
    val sigParts = (0 until k).map { i =>
      val a = 2L * i + 1
      val b = 12582917L * (i + 1) % 1000000007L
      s"list_min(list_transform(hashes, x -> (x * $a + $b) % 1000000007))"
    }.mkString(", ")
    val bandKeys = (0 until k / rpb).map { band =>
      s"list_reduce(list_concat([CAST($band AS BIGINT)], sig[${band * rpb + 1}:${band * rpb + rpb}]), (acc, x) -> (acc * 31 + x) % 1000000007)"
    }.mkString(", ")
    s"""${p}toks AS (SELECT doc_id, ${sqlToks("text")} AS t FROM $source),
       |${p}sh AS (
       |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN [${sqlHash("array_to_string(t, ' ')")}]
       |    ELSE list_transform(range(0, len(t) - 2),
       |         i -> ${sqlHash("array_to_string(t[i+1:i+3], ' ')")}) END) AS hashes
       |  FROM ${p}toks WHERE len(t) > 0),
       |${p}sigs AS (SELECT doc_id, hashes, [$sigParts] AS sig FROM ${p}sh WHERE len(hashes) > 0),
       |${p}banded AS (SELECT doc_id, hashes, unnest([$bandKeys]) AS key,
       |           unnest(range(0, ${k / rpb})) AS band FROM ${p}sigs)""".stripMargin
  }

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

  private lazy val minhashPairsCte: String = {
    s"""${minhashBandedCtes("mh_", "corpus")},
       |mh_cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM mh_banded x JOIN mh_banded y ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
       |mh_verified AS (
       |  SELECT a, b,
       |    len(list_intersect(sa.hashes, sb.hashes)) AS inter,
       |    len(sa.hashes) AS na, len(sb.hashes) AS nb
       |  FROM mh_cand JOIN mh_sigs sa ON sa.doc_id = a JOIN mh_sigs sb ON sb.doc_id = b),
       |mh_pairs AS (
       |  SELECT a, b, inter, na, nb FROM mh_verified
       |  WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8)""".stripMargin
  }

  /** DuckDB twin of native.hyperplaneBucket(vec, nPlanes) on a 64-dim
    * embedding column: the ±1 plane weights are deterministic constants
    * (same integer mix as the kernel), inlined so the SQL fold adds the
    * same doubles in the same order.
    */
  private def sqlBucket(embExpr: String, nPlanes: Int, seed: Int = 0, dim: Int = 64): String = {
    val planes = (0 until nPlanes).map { p =>
      val terms = (0 until dim).map { i =>
        // signs come from the SAME function the kernel evaluates
        // (native.planeSign, the r8 avalanche mix), inlined as ±1
        // constants so the SQL fold adds the same doubles in order
        val sign = if (graft.functions.native.planeSign(p, i, seed)) "1.0" else "-1.0"
        s"CAST($embExpr[${i + 1}] AS DOUBLE) * $sign"
      }.mkString(" + ")
      s"(CASE WHEN ($terms) > 0 THEN ${1L << p} ELSE 0 END)"
    }
    planes.mkString("(", " + ", ")")
  }

  /** DuckDB twin of native.cosine between two dim-length float arrays
    * (sequential folds, denom = sqrt(na)*sqrt(nb), 0 on zero denom).
    */
  private def sqlCos(a: String, b: String, dim: Int = 64): String = {
    def fold(expr: String) =
      s"list_reduce(list_concat([CAST(0.0 AS DOUBLE)], list_transform(range(1, ${dim + 1}), i -> $expr)), (x, y) -> x + y)"
    val dot = fold(s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)")
    val na = s"sqrt(${fold(s"CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE)")})"
    val nb = s"sqrt(${fold(s"CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)")})"
    s"(CASE WHEN $na * $nb = 0 THEN 0.0 ELSE $dot / ($na * $nb) END)"
  }

  /** The semantic-search demo query text; embedded with the same
    * deterministic embedder as the vector records on both sides.
    */
  private val searchQueryText = "spark streaming window aggregation query"
  private def queryVec(dim: Int): Array[Float] =
    graft.operators.Chunkers.embed(searchQueryText, dim).map(_.toFloat)

  /** Shared DuckDB CTE chain producing `vr(key, embedding, content,
    * context, documentid)` — the vector-store record set (chunks
    * replicated from the i_chunk_token oracle; embedding = feature-hash
    * histogram, dim 16, L2-normalized, float-exact: integer counts,
    * double norm, round-to-nearest float cast).
    */
  private lazy val vectorRecordsCte: String = vectorRecordsCtes("documents")

  /** The vector-record derivation chain over `source` — shared by the
    * batch store oracles and the streaming-upsert parity oracle, which
    * runs it over a revised corpus. */
  private def vectorRecordsCtes(source: String): String = {
    val step = 48; val maxT = 64
    s"""toks AS (
       |  SELECT doc_id, ${sqlToks("text")} AS t FROM $source),
       |n AS (SELECT doc_id, t, len(t) AS n FROM toks),
       |chunks AS (
       |  SELECT doc_id, CAST(u.i AS INT) AS chunk_id,
       |    array_to_string(t[u.i*$step+1 : u.i*$step+$maxT], ' ') AS content
       |  FROM n, unnest(range(0, greatest(CAST(ceil(n / $step.0) AS BIGINT), 1))) AS u(i)),
       |kept AS (SELECT * FROM chunks WHERE length(content) > 0),
       |bucketed AS (
       |  SELECT doc_id, chunk_id, content,
       |    list_transform(${sqlToks("content")}, tk -> ${sqlHash("tk")} % 16) AS bks
       |  FROM kept),
       |counted AS (
       |  SELECT doc_id, chunk_id, content,
       |    list_transform(range(0, 16), i -> len(list_filter(bks, b -> b = i))) AS cnts
       |  FROM bucketed),
       |normed AS (
       |  SELECT doc_id, chunk_id, content, cnts,
       |    sqrt(list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
       |      list_transform(cnts, c -> CAST(c AS DOUBLE) * CAST(c AS DOUBLE))), (x, y) -> x + y)) AS nrm
       |  FROM counted),
       |vr AS (
       |  SELECT CAST(doc_id AS VARCHAR) || ':' || CAST(chunk_id AS VARCHAR) AS key,
       |    list_transform(cnts, c -> CAST(CASE WHEN nrm > 0 THEN CAST(c AS DOUBLE) / nrm ELSE 0.0 END AS FLOAT)) AS embedding,
       |    content, '' AS context, CAST(doc_id AS VARCHAR) AS documentid
       |  FROM normed)""".stripMargin
  }

  /** Shared oracle for the header/section/semantic chunkers: on a
    * structureless single-paragraph corpus all three produce the same
    * 64-token windows under an empty context (header stack empty, no
    * h1 sections, a single element has no semantic split points).
    */
  private lazy val structuralChunkOracle: String = {
    val maxT = 64
    s"""WITH toks AS (
       |  SELECT doc_id, ${sqlToks("text")} AS t FROM documents),
       |n AS (SELECT doc_id, t, len(t) AS n FROM toks),
       |chunks AS (
       |  SELECT doc_id, CAST(u.i AS INT) AS chunk_id,
       |    array_to_string(t[u.i*$maxT+1 : u.i*$maxT+$maxT], ' ') AS content
       |  FROM n, unnest(range(0, greatest(CAST(ceil(n / $maxT.0) AS BIGINT), 1))) AS u(i))
       |SELECT doc_id, chunk_id, content, '' AS context,
       |  CAST(len(${sqlToks("content")}) AS INT) AS token_count,
       |  CAST(NULL AS INT) AS page_number
       |FROM chunks WHERE length(content) > 0
       |ORDER BY doc_id, chunk_id""".stripMargin
  }

  /** DuckDB twin of TextFunctions.portableHash (polynomial char hash). */
  private def sqlHash(strExpr: String): String =
    s"list_reduce(list_concat([CAST(0 AS BIGINT)], list_transform(list_filter(regexp_split_to_array($strExpr, ''), c -> length(c) > 0), c -> CAST(unicode(c) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007)"

  /** DuckDB twin of native.polyHash2 (second family: base 131 mod
    * 998244353); h31 * 998244353 + h131 is the span/window 60-bit
    * combiner (sqlHash60).
    */
  private def sqlHash2(strExpr: String): String =
    s"list_reduce(list_concat([CAST(0 AS BIGINT)], list_transform(list_filter(regexp_split_to_array($strExpr, ''), c -> length(c) > 0), c -> CAST(unicode(c) AS BIGINT))), (acc, c) -> (acc * 131 + c) % 998244353)"

  /** DuckDB twin of native.polyHash3 (third family: base 257 mod
    * 1000000009). The low 20 bits of families 1|2|3 concatenated are
    * native.tokenHash60, the simhash token hash (per-bit-uniform,
    * unlike the product combiner — see NativeExpressions.tokenHash60).
    */
  private def sqlHash3(strExpr: String): String =
    s"list_reduce(list_concat([CAST(0 AS BIGINT)], list_transform(list_filter(regexp_split_to_array($strExpr, ''), c -> length(c) > 0), c -> CAST(unicode(c) AS BIGINT))), (acc, c) -> (acc * 257 + c) % 1000000009)"

  /** DuckDB twin of the wide (~60-bit) window hash used by the span /
    * decontamination family: h31 * P2 + h131 < 2^60, no 64-bit
    * wrapping arithmetic needed.
    */
  private def sqlHash60(strExpr: String): String =
    s"(${sqlHash(strExpr)} * 998244353 + ${sqlHash2(strExpr)})"

  /** DuckDB twin of TextAnalysis.corpusFilterKeep(text) — the same
    * derived signals and inclusive-threshold compare as the
    * t_corpus_filter oracle's reason = 'ok' arm, as one boolean.
    */
  private def sqlKeep(t: String): String = {
    val nTok = s"len(${sqlToks(t)})"
    val meanTokLen =
      s"(CASE WHEN $nTok > 0 THEN CAST(length(regexp_replace($t, '\\s+', '', 'g')) AS DOUBLE) / $nTok ELSE 0.0 END)"
    val symbolRatio =
      s"(CASE WHEN length($t) > 0 THEN CAST(length(regexp_replace($t, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length($t) ELSE 0.0 END)"
    s"($nTok >= 25 AND $nTok <= 50000 AND $meanTokLen >= 2.0 AND $meanTokLen <= 12.0 AND $symbolRatio <= 0.3)"
  }

  /** DuckDB twin of TextAnalysis.langId(text) (stopword-hit argmax
    * with the operator's de>en>es>fr tie order), parameterized on the
    * text expression so it composes into any CTE (langPredCte is the
    * documents-table instance).
    */
  private def sqlLangPred(t: String): String = {
    def hits(words: Seq[String]) =
      s"len(list_filter(${sqlToks(s"lower($t)")}, x -> list_contains([${words.map(w => s"'$w'").mkString(",")}], x)))"
    val de = hits(TextAnalysis.Stopwords("de"))
    val en = hits(TextAnalysis.Stopwords("en"))
    val es = hits(TextAnalysis.Stopwords("es"))
    val fr = hits(TextAnalysis.Stopwords("fr"))
    s"""(CASE WHEN $de = 0 AND $en = 0 AND $es = 0 AND $fr = 0 THEN 'und'
       |      WHEN $de >= $en AND $de >= $es AND $de >= $fr THEN 'de'
       |      WHEN $en >= $es AND $en >= $fr THEN 'en'
       |      WHEN $es >= $fr THEN 'es'
       |      ELSE 'fr' END)""".stripMargin
  }

  /** Unrolled fixed-iteration PageRank twin of Graph.pageRank over
    * the deterministic 3-regular dense-index edge construction: same float
    * op sequence per node per round ((1-d)/n + d·Σ rank/deg; dangling
    * mass is structurally zero here since every node has out-degree
    * 3, and the operator's +d·0/n term is float-identity).
    */
  private lazy val pageRankSql: String = {
    val D = "CAST(0.85 AS DOUBLE)"
    val body = (1 to 8).map { i =>
      s"""r$i AS (
         |  SELECT nd.node,
         |    (CAST(1.0 AS DOUBLE) - $D) / (SELECT n FROM nn)
         |      + $D * coalesce(s.m, CAST(0.0 AS DOUBLE)) AS rank
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.rank / dg.deg) AS m
         |    FROM r${i - 1} r JOIN edges e ON r.node = e.src
         |      JOIN deg dg ON dg.src = e.src
         |    GROUP BY e.dst) s ON nd.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH nodes AS (
       |  SELECT CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS node
       |  FROM documents),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n, count(*) AS ni FROM nodes),
       |edges AS (
       |  SELECT node AS src,
       |    (node * 31 + k * 7919) % (SELECT ni FROM nn) AS dst
       |  FROM nodes, unnest([1, 2, 3]) AS t(k)),
       |deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM edges GROUP BY src),
       |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes),
       |""".stripMargin + body +
      "\nSELECT node, rank FROM r8 ORDER BY node"
  }

  /** Unrolled sync-LPA twin of Graph.labelPropagation over the
    * planted-block graph: identical symmetrize-distinct edge set,
    * identical vote (count per neighbor label) and identical
    * tie-break (cnt desc, label asc) per round — all-integer, so the
    * replay is exact with no float contract needed.
    */
  /** Planted-block community graph — the ONE construction every LPA
    * oracle replays, so no driver row can desynchronize from it:
    * blocks of 10 form rings (+1/+2 within the block), blocks chain
    * weakly through their first member. Two flavors of the SAME
    * formula: `wrap = Some(n)` is the contiguous-range form
    * (g_communities / g_modularity — nodes 0..n-1, ring clamped and
    * bridge wrapped so the node space is closed), `wrap = None` is
    * the id-keyed form (d_sample_community — ids need not be
    * contiguous and edge targets needn't exist as rows; every id is
    * still a src, so every row gets a label). */
  private def plantedBlockEdges(ids: DataFrame,
                                wrap: Option[Long]): DataFrame = {
    val ring0 = ids
      .select(col("id").as("src"),
        explode(array(lit(1L), lit(2L))).as("j"))
      .select(col("src"),
        ((col("src") - col("src") % 10) + (col("src") % 10 + col("j")) % 10)
          .as("dst"))
    val ring = wrap.map(n => ring0.where(col("dst") < n)).getOrElse(ring0)
    val bridge0 = ids.where(col("id") % 10 === 0)
    val bridge = wrap match {
      case Some(n) =>
        bridge0.select(col("id").as("src"), ((col("id") + 10) % n).as("dst"))
      case None =>
        bridge0.select(col("id").as("src"), (col("id") + 10).as("dst"))
    }
    ring.union(bridge)
  }

  private def plantedBlockEdges(s: SparkSession, nDocs: Long): DataFrame =
    plantedBlockEdges(s.range(nDocs).select(col("id")), Some(nDocs))

  /** ring/bridge CTE pair for the planted-block graph — the SQL twin
    * of [[plantedBlockEdges]], emitted from one builder for the same
    * no-desync reason. `src`/`idc` name the id CTE and column; `wrap`
    * is the SQL expression for n in the contiguous form. */
  private def plantedBlockSql(src: String, idc: String,
                              wrap: Option[String]): String = {
    val target = s"($idc - $idc % 10) + ($idc % 10 + k) % 10"
    val ringWhere = wrap.map(n => s"\n  WHERE $target < $n").getOrElse("")
    val bridgeDst = wrap.map(n => s"($idc + 10) % $n").getOrElse(s"$idc + 10")
    s"""ring AS (
       |  SELECT $idc AS src, $target AS dst
       |  FROM $src, unnest([1, 2]) AS t(k)$ringWhere),
       |bridge AS (
       |  SELECT $idc AS src, $bridgeDst AS dst FROM $src WHERE $idc % 10 = 0)""".stripMargin
  }

  /** The sync-LPA round unroll (v_i vote / l_i arg-max CTE chain) —
    * shared by every oracle that replays Graph.labelPropagation;
    * expects `und` (symmetrized distinct edges) and `l0` upstream. */
  private def lpaUnroll(rounds: Int): String =
    (1 to rounds).map { i =>
      s"""v$i AS (
         |  SELECT u.src AS node, l.label, count(*) AS cnt
         |  FROM und u JOIN l${i - 1} l ON l.node = u.dst
         |  GROUP BY 1, 2),
         |l$i AS (
         |  SELECT node, label FROM (
         |    SELECT node, label, row_number() OVER (PARTITION BY node
         |      ORDER BY cnt DESC, label) AS rk FROM v$i)
         |  WHERE rk = 1)""".stripMargin
    }.mkString(",\n")

  private lazy val lpaCtes: String = {
    val body = lpaUnroll(3)
    s"""WITH nodes AS (
       |  SELECT CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS node
       |  FROM documents),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |${plantedBlockSql("nodes", "node", Some("(SELECT n FROM nn)"))},
       |e0 AS (SELECT src, dst FROM ring UNION ALL SELECT src, dst FROM bridge),
       |und AS (SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM e0 WHERE src <> dst
       |  UNION ALL
       |  SELECT dst AS src, src AS dst FROM e0 WHERE src <> dst)),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM und),
       |""".stripMargin + body
  }

  private lazy val lpaSql: String =
    lpaCtes + "\nSELECT node, label FROM l3 ORDER BY node"

  /** Per-community modularity decomposition over the LPA partition:
    * exact-integer m / e_in / deg_c, one fixed-shape double q term
    * per row — no cross-row float accumulation, so rows hash-compare
    * engine-exactly.
    */
  private lazy val modularitySql: String =
    lpaCtes + s""",
      |eu AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |  FROM e0 WHERE src <> dst),
      |mm AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM eu),
      |degs AS (SELECT node, count(*) AS deg FROM (
      |  SELECT a AS node FROM eu UNION ALL SELECT b AS node FROM eu)
      |  GROUP BY 1),
      |tagged AS (SELECT la.label AS lab_a, lb.label AS lab_b
      |  FROM eu JOIN l3 la ON la.node = eu.a JOIN l3 lb ON lb.node = eu.b),
      |intra AS (SELECT lab_a AS label, CAST(count(*) AS BIGINT) AS internal_edges
      |  FROM tagged WHERE lab_a = lab_b GROUP BY 1),
      |per AS (SELECT l3.label, CAST(count(*) AS BIGINT) AS nodes,
      |  CAST(sum(coalesce(d.deg, 0)) AS BIGINT) AS degree_sum
      |  FROM l3 LEFT JOIN degs d ON d.node = l3.node GROUP BY 1)
      |SELECT per.label, per.nodes,
      |  CAST(coalesce(i.internal_edges, 0) AS BIGINT) AS internal_edges,
      |  per.degree_sum,
      |  round(CAST(coalesce(i.internal_edges, 0) AS DOUBLE) / (SELECT m FROM mm)
      |    - (CAST(per.degree_sum AS DOUBLE) / (2 * (SELECT m FROM mm)))
      |      * (CAST(per.degree_sum AS DOUBLE) / (2 * (SELECT m FROM mm))), 6)
      |    AS q_term
      |FROM per LEFT JOIN intra i ON i.label = per.label
      |ORDER BY per.label""".stripMargin

  /** Unrolled HITS twin of Graph.hits over the same edge
    * construction: raw linear updates (auth = Σ in-hub, hub = Σ
    * out-auth — normalization commutes, applied once at the end via
    * window max); the 3-term float sums follow the pageRank
    * association contract. Every CTE is referenced once except the
    * final a5 (twice) — DuckDB's CTE inlining stays linear.
    */
  private lazy val hitsSql: String = {
    val body = (1 to 5).map { i =>
      s"""a$i AS (
         |  SELECT nd.node, coalesce(s.v, CAST(0.0 AS DOUBLE)) AS auth
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst AS node, sum(h.hub) AS v
         |    FROM h${i - 1} h JOIN edges e ON h.node = e.src
         |    GROUP BY e.dst) s ON nd.node = s.node),
         |h$i AS (
         |  SELECT nd.node, coalesce(s.v, CAST(0.0 AS DOUBLE)) AS hub
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.src AS node, sum(a.auth) AS v
         |    FROM a$i a JOIN edges e ON a.node = e.dst
         |    GROUP BY e.src) s ON nd.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH nodes AS (
       |  SELECT CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS node
       |  FROM documents),
       |nn AS (SELECT count(*) AS ni FROM nodes),
       |edges AS (
       |  SELECT node AS src,
       |    (node * 31 + k * 7919) % (SELECT ni FROM nn) AS dst
       |  FROM nodes, unnest([1, 2, 3]) AS t(k)),
       |h0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS hub FROM nodes),
       |""".stripMargin + body + """
       |SELECT node, auth / max(auth) OVER () AS auth,
       |  hub / max(hub) OVER () AS hub
       |FROM (SELECT a5.node, a5.auth, h5.hub
       |      FROM a5 JOIN h5 ON a5.node = h5.node)
       |ORDER BY node""".stripMargin
  }

  // ==================================================================
  // Flagship: 5-way star join (region⋈nation⋈customer⋈orders⋈lineitem
  // ⋈supplier) with broadcast dims — driver smoke-checks rows > 0.
  // ==================================================================
  def entry(spark: SparkSession): DataFrame =
    q05(spark, "/root/testdata/sf0.001")

  private def q05(s: SparkSession, dir: String): DataFrame = {
    val region = tbl(s, dir, "region").where(col("r_name") === "ASIA")
    val nation = tbl(s, dir, "nation")
    val customer = tbl(s, dir, "customer")
    val supplier = tbl(s, dir, "supplier")
    val orders = tbl(s, dir, "orders")
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
        && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val lineitem = tbl(s, dir, "lineitem")
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey")
        && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      // decimal-exact sum internally; the final compared column is cast
      // to double (exact below 2^53) because the driver's hash comparer
      // stringifies Spark decimals scale-faithfully ("380456.00") but
      // DuckDB decimals via float ("380456.0") — any trailing zero at
      // the cast scale hash-mismatches despite equal values. Same
      // convention for every compared decimal column in `queries`.
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  // ==================================================================
  /** What Bench times. Identical to [[queries]] except where a
    * CORRECTNESS entry folds oracle-contract VERIFICATION work (exact
    * re-aggregation / a second corpus scan that only exists to prove
    * an accuracy bound to the driver) into the result: there the bench
    * twin times the production operator alone, so BENCH reflects what
    * a user pays, and Verify keeps the self-checking contract.
    */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] =
    queries ++ Map(
      "q_approx_sketch" -> ((s, dir) => {
        // the production shape: one pass, fixed-size sketch state
        // through the shuffle — no exact countDistinct, no rank-check
        // rescan (those are the CORRECTNESS entry's contract proof)
        tbl(s, dir, "orders")
          .groupBy(col("o_orderpriority"))
          .agg(
            approx_count_distinct(col("o_custkey"), 0.02).as("approx_custs"),
            percentile_approx(col("o_totalprice"), lit(0.5), lit(1000)).as("p50_approx"),
            count(lit(1)).as("n_orders"))
          .orderBy(col("o_orderpriority"))
      }))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------------------------------------- relational core
    "q01_pricing_summary" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          // decimal-exact sums internally, double on the compared
          // surface (see q05 note — sums here stay below 2^53 so the
          // double is exact and both engines convert identically)
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          // scale-4 / scale-6 casts: the products of 2-decimal values have
          // exactly 4 (resp. 6) true decimal digits, so casting at (or
          // above) that scale is never a rounding tie and Spark's exact
          // BigDecimal conversion agrees bit-for-bit with DuckDB's
          // scaled-double conversion. Scale-2 casts of these products DID
          // diverge (half-up vs scaled-double ties).
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("sum_disc_price"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))
            .cast("decimal(18,6)")).cast("double").as("sum_charge"),
          count(lit(1)).as("count_order")
        )
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    "q03_top_orders" -> ((s, dir) => {
      val customer = tbl(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      val orders = tbl(s, dir, "orders")
        .where(col("o_orderdate") < lit("1998-06-01").cast("timestamp"))
      val lineitem = tbl(s, dir, "lineitem")
        .where(col("l_shipdate") > lit("1998-06-01").cast("timestamp"))
      lineitem
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
        .select(col("l_orderkey"), col("revenue"),
          col("o_orderdate").cast("date").as("o_orderdate"), col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    "q05_region_revenue" -> ((s, dir) => q05(s, dir)),

    "q06_forecast_filter" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1998-01-01").cast("timestamp")
          && col("l_discount") >= 0.03 && col("l_discount") <= 0.07
          && col("l_quantity") < 25)
        .agg(
          sum((col("l_extendedprice") * col("l_discount")).cast("decimal(18,4)"))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items")
        )
    }),

    "q_semi_join" -> ((s, dir) => {
      val bigOrders = tbl(s, dir, "orders").where(col("o_totalprice") > 400000)
      tbl(s, dir, "customer")
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    "q_anti_join" -> ((s, dir) => {
      tbl(s, dir, "customer")
        .join(tbl(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    "q_window_rank" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      tbl(s, dir, "customer")
        .withColumn("rnk", rank().over(w))
        .where(col("rnk") <= 3)
        .select(col("c_nationkey"), col("rnk"), col("c_custkey"), col("c_acctbal"))
        .orderBy(col("c_nationkey"), col("rnk"), col("c_custkey"))
    }),

    "q_window_running" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      tbl(s, dir, "orders")
        .where(col("o_custkey") < 150)
        .withColumn("running_total",
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double"))
        .select(col("o_custkey"), col("o_orderkey"), col("running_total"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    "q_distinct_agg" -> ((s, dir) => {
      tbl(s, dir, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(
          countDistinct(col("c_nationkey")).as("n_nations"),
          sum(when(col("c_acctbal") > 0, 1L).otherwise(0L)).as("n_positive"),
          sum(when(col("c_acctbal") <= 0, 1L).otherwise(0L)).as("n_nonpositive"),
          count(lit(1)).as("n_customers")
        )
        .orderBy(col("c_mktsegment"))
    }),

    "q13_custdist" -> ((s, dir) => {
      // TPC-H Q13's shape — the outer-join count DISTRIBUTION: count
      // per-customer orders through a LEFT join (customers with no
      // orders must survive as c_count = 0), then the distribution of
      // those counts. The two-level aggregate is the canonical
      // "aggregate of an aggregate" plan: the first groupBy shuffles
      // on the join key it already has (AQE broadcasts the customer
      // side), the second shuffles |distinct counts| rows — the wide
      // fact table never moves twice. Filter: only open-or-filled
      // orders count toward a customer's tally (the Q13 comment-filter
      // stand-in on this schema).
      val cust = tbl(s, dir, "customer").select(col("c_custkey"))
      val ord = tbl(s, dir, "orders")
        .where(col("o_orderstatus") =!= "P")
        .select(col("o_custkey"), col("o_orderkey"))
      val perCust = cust
        .join(ord, cust("c_custkey") === ord("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
      perCust
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    "q21_sole_late" -> ((s, dir) => {
      // TPC-H Q21's shape — the EXISTS / NOT-EXISTS chain ("suppliers
      // who kept orders waiting": a supplier with a late line on a
      // multi-supplier order where NO OTHER supplier was late),
      // re-expressed as the one-pass double-aggregate rewrite instead
      // of two correlated self-joins: per-(order, supplier) late
      // flags, per-order supplier/late-supplier counts, then the
      // qualifying pairs filter — lineitem shuffles once on
      // (orderkey, suppkey) and the second aggregate moves only the
      // collapsed per-pair rows. l_shipdate past a fixed cutoff
      // stands in for receipt-past-commit on this schema.
      val li = tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") > lit("1997-06-30 00:00:00")).as("late"))
      val perOS = li.groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(col("late")).as("late"))
      val perO = perOS.groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_supp"),
          sum(when(col("late"), 1L).otherwise(0L)).as("n_late"))
      perOS.where(col("late"))
        .join(perO, Seq("l_orderkey"))
        .where(col("n_supp") > 1 && col("n_late") === 1)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("l_suppkey"))
    }),

    "q_rollup" -> ((s, dir) => {
      tbl(s, dir, "customer")
        .join(broadcast(tbl(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(tbl(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
    }),

    "q_cube" -> ((s, dir) => {
      tbl(s, dir, "customer")
        .join(broadcast(tbl(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .cube(col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("sum_bal"))
        .orderBy(asc_nulls_first("n_name"), asc_nulls_first("c_mktsegment"))
    }),

    "q_grouping_sets" -> ((s, dir) => {
      // explicit GROUPING SETS (cube minus the grand total): the
      // arbitrary-subset sibling of rollup/cube — one shuffle, all
      // grouping combinations computed from a single expanded pass
      tbl(s, dir, "customer")
        .join(broadcast(tbl(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupingSets(
          Seq(Seq(col("n_name"), col("c_mktsegment")), Seq(col("n_name")),
            Seq(col("c_mktsegment"))),
          col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("sum_bal"))
        .orderBy(asc_nulls_first("n_name"), asc_nulls_first("c_mktsegment"))
    }),

    "q_attribution" -> ((s, dir) => {
      // first/last-touch conversion attribution: each purchase
      // credits the user's FIRST and MOST-RECENT preceding
      // non-purchase event type — the marketing readout next to
      // q_funnel. ONE user-keyed window pass in deterministic
      // (sec, event_id) order, then a ≤|types|-row aggregate;
      // revenue is cents-exact.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("sec"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val touch = when(col("event_type") =!= "purchase", col("event_type"))
      events(s, dir)
        .select(col("user_id"), col("sec"), col("event_id"),
          col("event_type"), col("value"))
        .withColumn("first_touch", first(touch, ignoreNulls = true).over(w))
        .withColumn("last_touch", last(touch, ignoreNulls = true).over(w))
        .where(col("event_type") === "purchase")
        .groupBy(coalesce(col("last_touch"), lit("none")).as("last_touch"))
        .agg(count(lit(1)).as("n_conversions"),
          countDistinct(col("user_id")).as("n_users"),
          sum(round(col("value") * 100).cast("long")).as("revenue_cents"),
          sum(when(col("first_touch") === col("last_touch"), 1L)
            .otherwise(0L)).as("n_first_equals_last"))
        .orderBy(col("last_touch"))
    }),

    "q_funnel" -> ((s, dir) => {
      // ordered conversion funnel view→click→signup→purchase, each
      // step within 2h of the previous step's FIRST occurrence —
      // computed as ONE pass: per user, a greedy fold over the
      // time-sorted event list advances the step clock (greedy-first
      // = min-in-window since the list is sorted, which is what the
      // DuckDB oracle's 4-way join replay computes independently).
      // Scale shape: one filtered scan, one user-keyed shuffle, a
      // codegen'd HOF fold, then a 4-long final agg — vs the naive
      // per-step-join formulation's 10 scans. Per-user arrays are
      // bounded by that user's funnel-type events (whale users are
      // the caveat, as in any collect-based sessionization).
      val S = 4000000000000000000L
      val e = events(s, dir)
        .where(col("event_type").isin("view", "click", "signup", "purchase"))
        .select(col("user_id"),
          struct(col("sec"), col("event_type").as("tp"), col("event_id")).as("ev"))
      val folded = e.groupBy(col("user_id"))
        .agg(sort_array(collect_list(col("ev"))).as("evs"))
        .select(aggregate(col("evs"),
          array(lit(S), lit(S), lit(S), lit(S)),
          (st, ev) => {
            val Seq(t1, t2, t3, t4) = (1 to 4).map(i => element_at(st, i))
            val sec = ev.getField("sec"); val tp = ev.getField("tp")
            def adv(t: Column, prev: Column, et: String) =
              when(t === S && prev =!= S && tp === et &&
                sec > prev && sec <= prev + 7200, sec).otherwise(t)
            array(
              when(t1 === S && tp === "view", sec).otherwise(t1),
              adv(t2, t1, "click"), adv(t3, t2, "signup"), adv(t4, t3, "purchase"))
          }).as("st"))
      val nCols = (1 to 4).map(i =>
        sum(when(element_at(col("st"), i) =!= S, 1L).otherwise(0L)).as(s"n$i"))
      val counts = folded.agg(nCols.head, nCols.tail: _*)
      counts
        .select(col("n1"), expr(
          "stack(4, '1_view', n1, '2_click', n2, '3_signup', n3, '4_purchase', n4) AS (step, n_users)"))
        .select(col("step"), col("n_users"),
          (col("n_users").cast("double") / col("n1")).as("rate"))
        .orderBy(col("step"))
    }),

    "q_retention" -> ((s, dir) => {
      // weekly cohort retention: cohort = epoch-week of the user's
      // first event, n_active distinct users at week offsets 0..8.
      // The corpus reduces to distinct (user, week) BEFORE the
      // user-keyed join, so the join is activity-bounded, not
      // event-bounded.
      val e = events(s, dir)
        .select(col("user_id"), expr("sec div 604800").as("wk")).distinct()
      val first = e.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      val act = e.join(first, "user_id")
        .select(col("user_id"), col("cohort_wk"), (col("wk") - col("cohort_wk")).as("offset"))
        .where(col("offset") <= 8)
      val cohortSize = first.groupBy(col("cohort_wk"))
        .agg(countDistinct(col("user_id")).as("n_cohort"))
      act.groupBy(col("cohort_wk"), col("offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .join(cohortSize, "cohort_wk")
        .select(col("cohort_wk"), col("offset"), col("n_active"), col("n_cohort"),
          (col("n_active").cast("double") / col("n_cohort")).as("rate"))
        .orderBy(col("cohort_wk"), col("offset"))
    }),

    "q_outliers" -> ((s, dir) => {
      // per-event-type z-score outliers (|z| > 3): value is 2-decimal
      // data, so summing exact integer CENTS (round(v*100)) makes the
      // group moments exact integers and every later float op a
      // bit-identical IEEE expression in both engines — a hash-exact
      // oracle for a statistic that is normally float-fragile.
      // Scale: map-side-combined moment agg (5 rows), broadcast back,
      // map-only z filter; no window, no collect.
      val e = events(s, dir).select(col("event_id"), col("event_type"), col("value"),
        round(col("value") * 100).cast("long").as("cents"))
      val m = e.groupBy(col("event_type")).agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("cents")).cast("double").as("ssum"),
        // decimal-exact square sum: a LONG Σcents² overflows around
        // 10× sf1 under ANSI mode; decimal(38,0) is exact to 10³⁸ and
        // the value (cast to double) is bit-identical where both fit
        sum((col("cents") * col("cents")).cast("decimal(38,0)")).cast("double").as("ssq"))
      val z = (col("cents").cast("double") - col("ssum") / col("n")) /
        sqrt((col("ssq") - col("ssum") * col("ssum") / col("n")) / col("n"))
      e.join(broadcast(m), "event_type")
        .select(col("event_id"), col("event_type"), col("value"), z.as("z"))
        .where(abs(col("z")) > 3.0)
        .orderBy(col("event_id"))
    }),

    "q_seasonality" -> ((s, dir) => {
      // calendar profile: event volume + mean value per (day-of-week,
      // hour-of-day) — the load/seasonality heat-map behind capacity
      // planning and anomaly baselines. dow from epoch days ((d+4)%7,
      // 1970-01-01 = Thursday), all exact integer arithmetic; mean is
      // one fixed-shape division of exact cents. Map-only derivation,
      // map-combined ≤168-row aggregate.
      events(s, dir)
        .select(
          expr("(sec div 86400 + 4) % 7").as("dow"),
          expr("(sec div 3600) % 24").as("hour"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("dow"), col("hour"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sm"))
        .select(col("dow"), col("hour"), col("n"),
          round(col("sm").cast("double") /
            (col("n").cast("double") * lit(100.0)), 6).as("mean_value"))
        .orderBy(col("dow"), col("hour"))
    }),

    "q_trend" -> ((s, dir) => {
      // per-type linear trend of daily revenue: OLS slope/intercept/R²
      // of exact daily cents against the epoch-day index — the "is
      // this metric growing" row behind every dashboard sparkline and
      // the input to capacity forecasts. Two bounded aggregates:
      // events map-combine to (type, day, cents); the |types|·|days|
      // table reduces to exact decimal(38,0) sufficient statistics;
      // slope/intercept/R² are fixed-shape doubles over casts of
      // exact integers — bit-identical across engines (the
      // q_correlation contract).
      val d38 = "decimal(38,0)"
      val daily = events(s, dir)
        .select(col("event_type"), expr("sec div 86400").as("day"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("cents")).as("y"))
      val st = daily.select(col("event_type"),
          col("day").cast(d38).as("x"), col("y").cast(d38).as("y"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast(d38).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
      val varx = col("n") * col("sxx") - col("sx") * col("sx")
      val vary = col("n") * col("syy") - col("sy") * col("sy")
      val num = col("n") * col("sxy") - col("sx") * col("sy")
      val slope = num.cast("double") / varx.cast("double")
      st.select(col("event_type"), col("n").cast("long").as("n_days"),
          when(varx > 0, slope).as("slope_cents_per_day"),
          when(varx > 0,
            (col("sy").cast("double") - slope * col("sx").cast("double"))
              / col("n").cast("double")).as("intercept_cents"),
          when(varx > 0 && vary > 0,
            (num.cast("double") * num.cast("double"))
              / (varx.cast("double") * vary.cast("double"))).as("r2"))
        .orderBy(col("event_type"))
    }),

    "q_abtest" -> ((s, dir) => {
      // one-vs-rest two-sample z-test per event type (the A/B-test
      // primitive: is this variant's mean value different from
      // everything else?): group and global moments are exact
      // integers (cents; decimal-exact square sums), every later op
      // is a fixed-shape double expression — so z and the 1.96 cut
      // are bit-identical across engines. Scale: one map-combined
      // |types|-row moment aggregate + a broadcast 1-row total.
      val e = events(s, dir)
        .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
      val perT = e.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"), sum(col("cents")).as("sm"),
        sum((col("cents") * col("cents")).cast("decimal(38,0)")).as("sq"))
      val tot = perT.agg(sum(col("n")).as("tn"), sum(col("sm")).as("tsm"),
        sum(col("sq")).as("tsq"))
      val rn = col("tn") - col("n")
      val rsm = col("tsm") - col("sm")
      val rsq = (col("tsq") - col("sq")).cast("double")
      def mean(nc: Column, smc: Column) = smc.cast("double") / nc.cast("double")
      val mt = mean(col("n"), col("sm"))
      val vT = col("sq").cast("double") / col("n").cast("double") - mt * mt
      val mR = rsm.cast("double") / rn.cast("double")
      val vR = rsq / rn.cast("double") - mR * mR
      val z = (mt - mR) /
        sqrt(vT / col("n").cast("double") + vR / rn.cast("double"))
      perT.crossJoin(broadcast(tot))
        .select(col("event_type"), col("n"),
          round(mt, 6).as("mean"), round(mR, 6).as("mean_rest"),
          round(z, 6).as("z"),
          (abs(z) > 1.96).as("significant"))
        .orderBy(col("event_type"))
    }),

    "q_bin_histogram" -> ((s, dir) => {
      // numeric equi-width histogram per event type (the distribution
      // half of the profiling trio: q_profile exact stats, q_histogram
      // top-k categorical, this one numeric shape): fixed 5.00-unit
      // bins on exact integer cents — data-independent edges, so the
      // binning is one map-only integer division and the aggregate
      // map-side combines to |types|·|bins| rows
      events(s, dir)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        // cents are non-negative (value > 0), where `div` (truncate)
        // and the oracle's `//` (floor) agree; a signed metric would
        // need explicit floor() on both sides
        .withColumn("bin", expr("cents div 500"))
        .groupBy(col("event_type"), col("bin"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"), col("bin"),
          (col("bin") * 5.0).as("lo"), ((col("bin") + 1) * 5.0).as("hi"),
          col("n"))
        .orderBy(col("event_type"), col("bin"))
    }),

    "q_decay" -> ((s, dir) => {
      // half-life-decayed user value (recency-weighted activity
      // score, half-life = 1 week): events reduce map-side to exact
      // integer cents per (user, week); the decay weight 2^-age is
      // an exact power of two (scales the double exponent only, so
      // each term cents·2^-age is exact), and the per-user sum folds
      // the bounded week list in ascending-age order — the contracted
      // association order the oracle replays exactly. Scale: the only
      // corpus shuffle is the (user, week) reduce; per-user lists are
      // ≤ #weeks long.
      val wk = events(s, dir)
        .select(col("user_id"), expr("sec div 604800").as("wk"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("user_id"), col("wk"))
        .agg(sum(col("cents")).as("wcents"))
      val mx = wk.agg(max(col("wk")).as("mxwk"))
      wk.crossJoin(broadcast(mx))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_weeks"),
          sum(col("wcents")).as("total_cents"),
          sort_array(collect_list(struct(
            (col("mxwk") - col("wk")).as("age"), col("wcents").as("c")))).as("a"))
        .select(col("user_id"), col("n_weeks"), col("total_cents"),
          round(aggregate(col("a"), lit(0.0), (acc, t) =>
            acc + t.getField("c").cast("double") *
              pow(lit(2.0), -t.getField("age").cast("double"))), 6)
            .as("decayed_score"))
        .orderBy(col("user_id"))
    }),

    "q_changepoint" -> ((s, dir) => {
      // CUSUM changepoint scan per event type over its hourly series
      // (cumulative deviation from the series mean; |cusum| > 3σ
      // flags a level shift). Exact-integer contract: hourly sums are
      // integer CENTS, and the scaled cusum C_i = N·P_i − i·S (P =
      // prefix sum, S/N = series total/length) stays exact BIGINT, so
      // the flag (C_i)² > 9·(N·Q − S²) compares doubles built from
      // identical exact integers in both engines — hash-exact for a
      // normally float-fragile sequential statistic. Scale: events
      // reduce map-side to (type, hour); moments are |types| rows
      // broadcast back; the running window partitions by type over
      // the bounded hourly series.
      import org.apache.spark.sql.expressions.Window
      val hourly = events(s, dir)
        .select(col("event_type"), expr("sec div 3600").as("hr"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("hr"))
        .agg(sum(col("cents")).as("x"))
      val m = hourly.groupBy(col("event_type")).agg(
        count(lit(1)).as("nh"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("qx"))
      val wRun = Window.partitionBy(col("event_type")).orderBy(col("hr"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wIdx = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      val c = col("nh") * col("p") - col("i") * col("sx")
      // the flag compares the PER-HOUR cusum against 3σ in divide-first
      // double shapes: nh·qx and sx² as BIGINTs overflow at ~30× sf0.1
      // (caught by the sf3 probe under ANSI mode), while nh·p and i·sx
      // stay far inside int64 at any realistic series length — so C is
      // exact and only the σ² comparison rounds, identically in both
      // engines
      val cusum = c.cast("double") / col("nh").cast("double")
      val mean = col("sx").cast("double") / col("nh").cast("double")
      val varN = col("qx").cast("double") / col("nh").cast("double") - mean * mean
      hourly.join(broadcast(m), "event_type")
        .withColumn("p", sum(col("x")).over(wRun))
        .withColumn("i", row_number().over(wIdx).cast("long"))
        .select(col("event_type"), col("hr"), col("x"),
          round(cusum, 6).as("cusum"),
          (cusum * cusum > lit(9.0) * varN).as("is_change"))
        .orderBy(col("event_type"), col("hr"))
    }),

    "q_anomaly" -> ((s, dir) => {
      // seasonal anomaly flags: each event scored against its
      // (day-of-week × hour-of-day) baseline (the q_seasonality
      // profile turned into a gate — "is THIS value abnormal for a
      // Tuesday 3pm?"). Exact-integer contract: per-bin moments are
      // exact (cents sums; decimal-exact square sums, the sf3
      // overflow class), z = (v − mean)/σ is a fixed-shape double
      // expression over casts of those exact integers — bit-identical
      // across engines. Scale: one map-combined ≤168-row moment
      // aggregate broadcast back over the corpus; the corpus pass is
      // map-only (no event-level shuffle at all).
      val e = events(s, dir)
        .select(col("event_id"),
          expr("(sec div 86400 + 4) % 7").as("dow"),
          expr("(sec div 3600) % 24").as("hour"),
          round(col("value") * 100).cast("long").as("cents"))
      val m = e.groupBy(col("dow"), col("hour")).agg(
        count(lit(1)).as("n"), sum(col("cents")).as("sm"),
        sum((col("cents") * col("cents")).cast("decimal(38,0)")).as("sq"))
      val mean = col("sm").cast("double") / col("n").cast("double")
      val varN = greatest(
        col("sq").cast("double") / col("n").cast("double") - mean * mean,
        lit(0.0))
      val z = (col("cents").cast("double") - mean) / sqrt(varN)
      e.join(broadcast(m), Seq("dow", "hour"))
        .where(col("n") >= 2 && varN > 0 &&
          (col("cents").cast("double") - mean) * (col("cents").cast("double") - mean)
            > lit(9.0) * varN)
        .select(col("event_id"), col("dow"), col("hour"), col("cents"),
          round(mean, 6).as("bin_mean"), round(z, 6).as("z"))
        .orderBy(col("event_id"))
    }),

    "q_ks_test" -> ((s, dir) => {
      // two-sample Kolmogorov–Smirnov drift test on order value:
      // finished orders ('F') vs the rest — the CONTINUOUS-column
      // drift gate beside q_drift's categorical PSI. D = max_v
      // |F₁(v) − F₂(v)| is computed as an exact integer numerator
      // max|c₁·n₂ − c₂·n₁| (decimal-exact products), so the argmax
      // value and the rejection cut are deterministic; only the final
      // D and the 1.358·√((n₁+n₂)/(n₁n₂)) comparison are fixed-shape
      // doubles over the same exact integers. Scale: the corpus
      // reduces map-side to one row per distinct price; for a
      // CONTINUOUS column distinct values ≈ rows, so the CDF prefix
      // sums run as a distributed two-phase scan (PrefixSum: range
      // buckets → partitioned per-bucket cumsum → broadcast bucket
      // offsets) — no single-partition global window anywhere
      // (r6 verdict item; PlanSpec-asserted).
      val o = tbl(s, dir, "orders")
        .select(round(col("o_totalprice") * 100).cast("long").as("cents"),
          (col("o_orderstatus") === "F").as("s1"))
      val perV = o.groupBy(col("cents")).agg(
        sum(when(col("s1"), 1L).otherwise(0L)).as("c1"),
        sum(when(col("s1"), 0L).otherwise(1L)).as("c2"))
      val cum = operators.PrefixSum.prefixSums(perV, Seq(col("cents")),
          Seq("f1" -> col("c1"), "f2" -> col("c2")))
        .select(col("cents"), col("f1"), col("f2"))
      val tot = perV.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      val num = abs(col("f1").cast("decimal(38,0)") * col("n2") -
        col("f2").cast("decimal(38,0)") * col("n1"))
      val scored = cum.crossJoin(broadcast(tot))
        .select(col("n1"), col("n2"), col("cents"), num.as("num"))
      val mx = scored.groupBy(col("n1"), col("n2"))
        .agg(max(col("num")).as("d_num"))
      val d = col("d_num").cast("double") /
        (col("n1").cast("double") * col("n2").cast("double"))
      scored.join(broadcast(mx), Seq("n1", "n2"))
        .where(col("num") === col("d_num"))
        .groupBy(col("n1"), col("n2"), col("d_num"))
        .agg(min(col("cents")).as("at_value"))
        .select(col("n1"), col("n2"), col("d_num").cast("double").as("d_num"),
          col("at_value"), round(d, 8).as("d"),
          (d > lit(1.358) * sqrt((col("n1") + col("n2")).cast("double") /
            (col("n1").cast("double") * col("n2").cast("double")))).as("reject_05"))
    }),

    "q_transition" -> ((s, dir) => {
      // event-type Markov transition matrix: per-user time-ordered
      // lead, then (from, to) counts and row-normalized probabilities.
      // Scale: ONE user-keyed shuffle for the lead window; the pair
      // agg map-side-combines to ≤ |types|² rows and the normalizing
      // window runs on that bounded table, never the corpus.
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
      val cnt = events(s, dir)
        .select(col("user_id"), col("event_id"), col("sec"), col("event_type"))
        .withColumn("to_type", lead(col("event_type"), 1).over(byUser))
        .where(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val byFrom = Window.partitionBy(col("from_type"))
      cnt
        .select(col("from_type"), col("to_type"), col("n"),
          (col("n").cast("double") / sum(col("n")).over(byFrom).cast("double")).as("p"))
        .orderBy(col("from_type"), col("to_type"))
    }),

    "q_rfm" -> ((s, dir) => {
      // RFM (recency / frequency / monetary) segmentation: per-user
      // aggregates, exact tercile thresholds, 1-3 scores. Thresholds
      // interpolate between INTEGER order statistics, so the <=
      // bucket comparisons are bit-robust across engines even where
      // the interpolated double's last bit could differ (an integer
      // beats or ties the lower neighbor regardless of the fraction).
      // Scale: events reduce map-side to one row per user; the
      // percentile agg and every later step run on user-bounded
      // tables; the threshold row broadcasts back.
      val e = events(s, dir).select(col("user_id"), col("sec"),
        round(col("value") * 100).cast("long").as("cents"))
      val per = e.groupBy(col("user_id")).agg(
        max(col("sec")).as("last_sec"),
        count(lit(1)).as("frequency"),
        sum(col("cents")).as("monetary_cents"))
      val mx = per.agg(max(col("last_sec")).as("mx"))
      val rfm = per.crossJoin(broadcast(mx))
        .select(col("user_id"), (col("mx") - col("last_sec")).as("recency_sec"),
          col("frequency"), col("monetary_cents"))
      val th = rfm.agg(
        expr("percentile(recency_sec, array(1.0D/3.0D, 2.0D/3.0D))").as("rt"),
        expr("percentile(frequency, array(1.0D/3.0D, 2.0D/3.0D))").as("ft"),
        expr("percentile(monetary_cents, array(1.0D/3.0D, 2.0D/3.0D))").as("mt"))
      def lowGood(v: Column, t: Column) = // recent = small recency = best
        when(v.cast("double") <= element_at(t, 1), 3)
          .when(v.cast("double") <= element_at(t, 2), 2).otherwise(1)
      def highGood(v: Column, t: Column) =
        when(v.cast("double") <= element_at(t, 1), 1)
          .when(v.cast("double") <= element_at(t, 2), 2).otherwise(3)
      rfm.crossJoin(broadcast(th))
        .select(col("user_id"), col("recency_sec"), col("frequency"),
          col("monetary_cents"),
          lowGood(col("recency_sec"), col("rt")).as("r_score"),
          highGood(col("frequency"), col("ft")).as("f_score"),
          highGood(col("monetary_cents"), col("mt")).as("m_score"))
        .withColumn("segment", concat(col("r_score").cast("string"),
          col("f_score").cast("string"), col("m_score").cast("string")))
        .orderBy(col("user_id"))
    }),

    "q_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
      val run = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("sec"))
        .withColumn("prev", lag(col("sec"), 1).over(byUser))
        .withColumn("is_new",
          when(col("prev").isNull || col("sec") - col("prev") > 1800, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("is_new")).over(run))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("sec")).as("start_sec"), max(col("sec")).as("end_sec"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    "q_event_windows" -> ((s, dir) => {
      val hourStart = expr("(sec div 3600) * 3600")
      events(s, dir)
        .select(col("event_type"), col("value"), hourStart.as("hour_start"))
        .groupBy(col("hour_start"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
        .orderBy(col("hour_start"), col("event_type"))
    }),

    "q_json_extract" -> ((s, dir) => {
      // semi-structured path: parse the props JSON column, extract a
      // typed field, aggregate on it (from_json → codegen'd JsonToStructs)
      events(s, dir)
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").as("k"))
        .where(col("k").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k").cast("long")).as("sum_k"),
          max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    }),

    "q_topk_per_group" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("p_brand"))
        .orderBy(col("p_retailprice").desc, col("p_partkey"))
      tbl(s, dir, "part")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("p_brand"), col("rn"), col("p_partkey"), col("p_retailprice"))
        .orderBy(col("p_brand"), col("rn"))
    }),

    "q_union_dedup" -> ((s, dir) => {
      tbl(s, dir, "customer").select(col("c_nationkey").cast("int").as("nationkey"))
        .union(tbl(s, dir, "supplier").select(col("s_nationkey").cast("int").as("nationkey")))
        .distinct()
        .orderBy(col("nationkey"))
    }),

    "q_unpivot" -> ((s, dir) => {
      // unpivot/melt (pivot's inverse): wide measure columns → long
      // (metric, value) rows, then per-metric profile — decimal-exact
      // sums on the compared surface (quantity/discount/tax are
      // ≤2-decimal by construction)
      tbl(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "metric", "value")
        .groupBy(col("metric"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total"),
          min(col("value")).as("vmin"), max(col("value")).as("vmax"))
        .orderBy(col("metric"))
    }),

    "q_pivot" -> ((s, dir) => {
      // pivot: one column per market segment, decimal-exact balances
      // internally, double on the compared surface (see q05 note)
      val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
      tbl(s, dir, "customer")
        .groupBy(col("c_nationkey").cast("int").as("nationkey"))
        .pivot("c_mktsegment", segs)
        .agg(sum(col("c_acctbal").cast("decimal(18,2)")))
        .select(col("nationkey") +: segs.map(sg => col(sg).cast("double").as(sg)): _*)
        .orderBy(col("nationkey"))
    }),

    "q_intersect" -> ((s, dir) => {
      // nations that have BOTH a customer and a supplier
      tbl(s, dir, "customer").select(col("c_nationkey").cast("int").as("nationkey"))
        .intersect(tbl(s, dir, "supplier").select(col("s_nationkey").cast("int").as("nationkey")))
        .orderBy(col("nationkey"))
    }),

    "q_except" -> ((s, dir) => {
      // customers minus big-spenders (set difference, distinct rows)
      tbl(s, dir, "customer").select(col("c_mktsegment"))
        .except(tbl(s, dir, "customer").where(col("c_acctbal") > 9990)
          .select(col("c_mktsegment")))
        .orderBy(col("c_mktsegment"))
    }),

    "q_window_range" -> ((s, dir) => {
      // RANGE frame: per-user rolling 1-hour event count by value range
      // over integer seconds (rows-frames are elsewhere; this exercises
      // the range-frame window path)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("sec"))
        .rangeBetween(-3600L, 0L)
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("sec"))
        .withColumn("n_last_hour", count(lit(1)).over(w))
        .orderBy(col("user_id"), col("sec"), col("event_id"))
    }),

    "q_gap_fill" -> ((s, dir) => {
      // forward-fill: carry the last known value over gaps ('error'
      // events report no value) — last(ignoreNulls) over a running
      // rows-frame, the standard sensor/telemetry gap-fill
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("sec"),
          when(col("event_type") =!= "error", col("value")).as("v"))
        .withColumn("v_filled", last(col("v"), ignoreNulls = true).over(w))
        .orderBy(col("user_id"), col("sec"), col("event_id"))
    }),

    "q_asof_join" -> ((s, dir) => {
      // each purchase → the latest click by the same user at-or-before
      // it; ord = sec<<32 | event_id (unique time-then-id order; exact
      // for sec < 2^31 and event_id < 2^32 — decimal packing with a
      // 10^7 multiplier would silently corrupt at >=10M events)
      val e = events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("sec"))
        .withColumn("ord", shiftleft(col("sec"), 32) + col("event_id"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("sec"), col("ord"))
      val clicks = e.where(col("event_type") === "click")
        .select(col("user_id"), col("ord"),
          col("event_id").as("click_event_id"), col("sec").as("click_sec"))
      Joins.asOfJoin(purchases, clicks, "user_id", "ord",
          Seq("click_event_id", "click_sec"))
        .select(col("event_id"), col("user_id"), col("sec"),
          col("asof_click_event_id"), col("asof_click_sec"))
        .orderBy(col("event_id"))
    }),

    "q_range_join" -> ((s, dir) => {
      import s.implicits._
      val bands = Seq(
        ("low", 0.0, 5.0), ("mid", 5.0, 10.0),
        ("high", 10.0, 20.0), ("xhigh", 20.0, 1e9)).toDF("band", "lo", "hi")
      Joins.bandJoin(events(s, dir), bands, "value")
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .orderBy(col("band"))
    }),

    "q_correlation" -> ((s, dir) => {
      // pairwise Pearson correlation matrix per group in ONE
      // map-combined aggregate pass (Profiler.correlationMatrix) —
      // the cross-column relationship row of the profiling family.
      // Integer bases (qty, cents) make every sufficient statistic an
      // exact decimal(38,0); the final r is a fixed-shape double over
      // casts of exact integers — bit-identical across engines.
      val li = tbl(s, dir, "lineitem").select(col("l_returnflag"),
        col("l_quantity").cast("long").as("qty"),
        round(col("l_extendedprice") * 100).cast("long").as("price_c"),
        round(col("l_discount") * 100).cast("long").as("disc_c"))
      Profiler.correlationMatrix(li, col("l_returnflag"),
          Seq("qty", "price_c", "disc_c"))
        .orderBy(col("grp"), col("col_x"), col("col_y"))
    }),

    "q_interval_join" -> ((s, dir) => {
      // interval-overlap join with NO equi-key: 10-minute error
      // windows × ±5-minute purchase windows, per-error overlap count
      // + total overlap seconds. The naive plan is a nested-loop
      // (O(n·m)); Joins.intervalOverlapJoin tiles time so it becomes
      // one hash equi-join on tile with ≤2× fan-out per side and NO
      // dedup shuffle (each pair is emitted only by the tile owning
      // max(start_l, start_r)). Overlap lengths are exact integer
      // seconds.
      val ev = events(s, dir)
      val errs = ev.where(col("event_type") === "error")
        .select(col("event_id").as("l_id"), col("sec").as("l_start"),
          (col("sec") + 600).as("l_end"))
      val purch = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("r_id"), (col("sec") - 300).as("r_start"),
          (col("sec") + 300).as("r_end"))
      Joins.intervalOverlapJoin(errs, purch, tile = 600)
        .groupBy(col("l_id").as("error_id"))
        .agg(count(lit(1)).as("n_overlap"),
          sum(least(col("l_end"), col("r_end"))
            - greatest(col("l_start"), col("r_start"))).as("overlap_secs"))
        .orderBy(col("error_id"))
    }),

    "q_scalar_subquery" -> ((s, dir) => {
      // global-avg scalar via a broadcast 1-row cross join (l_quantity
      // is integral, so the double avg is order-independent and exact)
      val li = tbl(s, dir, "lineitem")
      val avgQty = li.agg(avg(col("l_quantity")).as("avg_qty"))
      li.crossJoin(broadcast(avgQty))
        .where(col("l_quantity") > col("avg_qty"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .orderBy(col("l_returnflag"))
    }),

    "q_salted_join" -> ((s, dir) => {
      // same rows as a plain lineitem⋈orders — salting only spreads a
      // hot orderkey over 8 reducers (oracle is the unsalted join)
      val li = tbl(s, dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
      val ord = tbl(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
      Joins.saltedJoin(li, ord, "o_orderkey", hash(col("l_linenumber")), nSalts = 8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("revenue"))
        .orderBy(col("o_orderpriority"))
    }),

    "q_percentile" -> ((s, dir) => {
      // exact interpolated percentiles over integer cents (both engines
      // interpolate lower + (upper-lower)*frac on exact integers)
      tbl(s, dir, "customer")
        .withColumn("cents", round(col("c_acctbal") * 100).cast("long"))
        .groupBy(col("c_mktsegment"))
        .agg(expr("percentile(cents, array(0.5D, 0.9D))").as("pcts"),
          count(lit(1)).as("n_customers"))
        .select(col("c_mktsegment"),
          element_at(col("pcts"), 1).as("p50_cents"),
          element_at(col("pcts"), 2).as("p90_cents"),
          col("n_customers"))
        .orderBy(col("c_mktsegment"))
    }),

    "q_streaks" -> ((s, dir) => {
      // longest consecutive-day activity streak per user (the
      // gaps-and-islands classic; the engagement metric next to
      // q_rolling_dau): day − row_number is constant within a
      // consecutive run, so islands fall out of one user-keyed window
      // + two bounded aggregates — no iteration, no self-join.
      import org.apache.spark.sql.expressions.Window
      val ud = events(s, dir)
        .select(col("user_id"), expr("sec div 86400").as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val isl = ud.withColumn("grp", col("day") - row_number().over(w))
        .groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("len"))
      isl.groupBy(col("user_id"))
        .agg(sum(col("len")).as("n_active_days"),
          max(col("len")).as("longest_streak"),
          count(lit(1)).as("n_streaks"))
        .orderBy(col("user_id"))
    }),

    "q_basket" -> ((s, dir) => {
      // market-basket association rules (support / confidence /
      // lift): basket = a user's set of event types — item-pair
      // co-occurrence with real signal at every scale (the lineitem
      // parts are assigned uniformly, so part pairs carry none). The
      // within-basket pair fan-out is ≤ C(|types|, 2) per user by
      // construction; all metrics are exact integer ratios divided
      // once at the end.
      val li = events(s, dir)
        .select(col("user_id").as("ok"), col("event_type").as("pk"))
        .distinct()
        .localCheckpoint(true)
      val nOrders = li.agg(countDistinct(col("ok")).as("n"))
      val nA = li.groupBy(col("pk")).agg(count(lit(1)).as("na"))
      val pairs = li.select(col("ok"), col("pk").as("pa"))
        .join(li.select(col("ok"), col("pk").as("pb")), Seq("ok"))
        .where(col("pa") < col("pb"))
        .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("n_ab"))
      pairs
        .join(nA.select(col("pk").as("pa"), col("na").as("n_a")), Seq("pa"))
        .join(nA.select(col("pk").as("pb"), col("na").as("n_b")), Seq("pb"))
        .crossJoin(broadcast(nOrders))
        .select(col("pa"), col("pb"), col("n_ab"),
          round(col("n_ab").cast("double") / col("n").cast("double"), 6)
            .as("support"),
          round(col("n_ab").cast("double") / col("n_a").cast("double"), 6)
            .as("confidence"),
          round(col("n_ab").cast("double") * col("n").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double")), 6)
            .as("lift"))
        .orderBy(col("pa"), col("pb"))
    }),

    "q_churn" -> ((s, dir) => {
      // weekly cohort accounting: actives, new (first-ever week),
      // returning, and churned-into-next-week counts — the retention
      // dashboard's top row (q_retention slices cohorts, this tracks
      // the population). One (user, week) distinct reduce; new via a
      // broadcast-joined first-week table; churn via a self
      // left-anti-shaped join on (user, week+1). All exact counts.
      val uw = events(s, dir)
        .select(col("user_id"), expr("sec div 604800").as("wk"))
        .distinct()
        .localCheckpoint(true)
      val first = uw.groupBy(col("user_id")).agg(min(col("wk")).as("fw"))
      val nxt = uw.select(col("user_id"), (col("wk") - 1).as("wk"),
        lit(1L).as("ret"))
      val mx = uw.agg(max(col("wk")).as("mxwk"))
      uw.join(first, Seq("user_id"))
        .join(nxt, Seq("user_id", "wk"), "left")
        .crossJoin(broadcast(mx))
        .groupBy(col("wk"))
        .agg(count(lit(1)).as("actives"),
          sum(when(col("fw") === col("wk"), 1L).otherwise(0L)).as("new_users"),
          sum(when(col("fw") < col("wk"), 1L).otherwise(0L)).as("returning"),
          // churned = active this week, absent next (last week: n/a → 0
          // by the mxwk guard so the trailing edge isn't misread)
          sum(when(col("ret").isNull && col("wk") < col("mxwk"), 1L)
            .otherwise(0L)).as("churned_next"))
        .orderBy(col("wk"))
    }),

    "d_sample_neyman" -> ((s, dir) => {
      // Neyman-allocated stratified sample plan: per-source quotas
      // ∝ N_h·σ_h (variance-proportional — the statistically optimal
      // allocation for a fixed budget, vs d_sample_balanced's equal
      // quotas), with largest-remainder rounding so quotas sum
      // EXACTLY to the budget. Moments are decimal-exact; σ_h and the
      // weights are fixed-shape doubles; the remainder ranking breaks
      // ties deterministically. Everything after the one corpus
      // reduce is |strata|-bounded.
      import org.apache.spark.sql.expressions.Window
      val budget = 200L
      val st = tbl(s, dir, "documents")
        .select(col("source"),
          size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("x"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("nh"), sum(col("x")).as("sx"),
          sum((col("x") * col("x")).cast("decimal(38,0)")).as("qx"))
      val mean = col("sx").cast("double") / col("nh").cast("double")
      val varN = greatest(
        col("qx").cast("double") / col("nh").cast("double") - mean * mean,
        lit(0.0))
      val wgt = col("nh").cast("double") * sqrt(varN)
      val weighted = st.withColumn("w", wgt)
      val tot = weighted.agg(sum(col("w")).as("tw"),
        count(lit(1)).as("nstrata"))
      val exact = col("w") * lit(budget.toDouble) / col("tw")
      val flo = floor(exact).cast("long")
      val wRem = Window.orderBy((exact - flo.cast("double")).desc, col("source"))
      val alloc = weighted.crossJoin(broadcast(tot))
        .withColumn("flo", flo)
        .withColumn("rk", row_number().over(wRem))
      val short = alloc.agg((lit(budget) - sum(col("flo"))).as("rem"))
      alloc.crossJoin(broadcast(short))
        .select(col("source"), col("nh"),
          round(sqrt(varN), 6).as("sigma"),
          (col("flo") + when(col("rk") <= col("rem"), 1L).otherwise(0L))
            .as("quota"))
        .orderBy(col("source"))
    }),

    "q_wow" -> ((s, dir) => {
      // week-over-week report per event type: weekly revenue, the WoW
      // delta/percent change, and the type's weekly revenue rank with
      // its movement — the standing dashboard table. Exact cents
      // throughout; pct is one fixed-shape division rounded 6dp.
      // Events map-combine to (type, week); windows run on that
      // bounded series.
      import org.apache.spark.sql.expressions.Window
      val wk = events(s, dir)
        .select(col("event_type"), expr("sec div 604800").as("wk"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("wk"))
        .agg(sum(col("cents")).as("rev"))
      val byType = Window.partitionBy(col("event_type")).orderBy(col("wk"))
      val byWeek = Window.partitionBy(col("wk"))
        .orderBy(col("rev").desc, col("event_type"))
      wk.withColumn("prev", lag(col("rev"), 1).over(byType))
        .withColumn("rnk", rank().over(byWeek))
        .withColumn("prev_rnk", lag(col("rnk"), 1).over(byType))
        .select(col("event_type"), col("wk"), col("rev"),
          (col("rev") - col("prev")).as("delta"),
          // zero guard: Spark's non-ANSI x/0 is NULL while DuckDB's
          // IEEE float division is inf — make both engines emit NULL
          // by construction on a zero-revenue week (r6 ADVICE item).
          when(col("prev") =!= 0,
            round((col("rev") - col("prev")).cast("double") /
              abs(col("prev").cast("double")), 6)).as("pct_change"),
          col("rnk"), (col("prev_rnk") - col("rnk")).as("rank_gain"))
        .orderBy(col("event_type"), col("wk"))
    }),

    "q_forecast_eval" -> ((s, dir) => {
      // seasonal-naive forecast backtest per event type (the baseline
      // every real forecaster must beat, and the standard data-drift
      // canary): prediction for day d = actual at d−7; MAE / bias
      // over all evaluable days in exact integer cents, divided once
      // at the end. Events map-combine to the (type, day) table; the
      // lag join and error aggregate run on that bounded series.
      val daily = events(s, dir)
        .select(col("event_type"), expr("sec div 86400").as("day"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("cents")).as("a"))
      val pred = daily.select(col("event_type"),
        (col("day") + 7).as("day"), col("a").as("p"))
      daily.join(pred, Seq("event_type", "day"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum(abs(col("a") - col("p"))).as("sae"),
          sum(col("a") - col("p")).as("sbias"))
        .select(col("event_type"), col("n_days"),
          round(col("sae").cast("double") /
            (col("n_days").cast("double") * 100.0), 6).as("mae"),
          round(col("sbias").cast("double") /
            (col("n_days").cast("double") * 100.0), 6).as("bias"))
        .orderBy(col("event_type"))
    }),

    "q_paths" -> ((s, dir) => {
      // top user journeys: each user's first three event types as a
      // path (the Sankey / onboarding-flow table). Window rank ≤ 3
      // per user (WindowGroupLimit pre-prunes map-side), path
      // assembly per user, then a ≤|types|³-bounded path count.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("sec"), col("event_type"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .groupBy(col("user_id"))
        .agg(array_join(transform(
          sort_array(collect_list(struct(col("rn"), col("event_type").as("t")))),
          x => x.getField("t")), ">").as("path"))
        .groupBy(col("path"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_users").desc, col("path"))
    }),

    "q_json_profile" -> ((s, dir) => {
      // JSON schema discovery over the semi-structured props column
      // (the "what keys are actually in this payload" pass every
      // ingestion run does before declaring a schema): per key, the
      // occurrence count and a value-type histogram inferred from the
      // string form. The synthetic props carry one key, so every 3rd
      // event gets two induced extra fields (tag/flag — the
      // corpusWithDups pattern: deterministic variety where the
      // generator has none). Map-only parse + explode, one
      // |keys|-bounded aggregate.
      val e = events(s, dir).select(col("event_id"), col("user_id"), col("props"))
        .withColumn("j", when(col("event_id") % 3 === 0,
          concat(expr("substring(props, 1, length(props) - 1)"),
            lit(", \"tag\": \"t"), (col("user_id") % 5).cast("string"),
            lit("\", \"flag\": "),
            when(col("event_id") % 2 === 0, "true").otherwise("false"),
            lit("}"))).otherwise(col("props")))
      e.select(explode(expr("from_json(j, 'map<string,string>')")).as(Seq("key", "v")))
        .groupBy(col("key"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("v").rlike("^-?[0-9]+$"), 1L).otherwise(0L)).as("n_int"),
          sum(when(col("v").rlike("^-?[0-9]*\\.[0-9]+$"), 1L).otherwise(0L)).as("n_float"),
          sum(when(col("v").isin("true", "false"), 1L).otherwise(0L)).as("n_bool"),
          sum(when(col("v").rlike("^-?[0-9]+$") ||
            col("v").rlike("^-?[0-9]*\\.[0-9]+$") ||
            col("v").isin("true", "false"), 0L).otherwise(1L)).as("n_str"))
        .orderBy(col("key"))
    }),

    "q_gap_stats" -> ((s, dir) => {
      // inter-arrival-time distribution per event type (capacity /
      // bot-cadence analysis): consecutive same-user gaps via one
      // user-keyed lag window, then exact interpolated percentiles
      // in scaled integer units (median doubles, p90 tenths — the
      // q_mad exactness contract). One corpus window shuffle + a
      // |types|-row aggregate.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("sec"), col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("event_type"), col("event_id"), col("sec"))
        .withColumn("prev", lag(col("sec"), 1).over(w))
        .where(col("prev").isNotNull)
        .select(col("event_type"), (col("sec") - col("prev")).as("gap"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"),
          round(expr("percentile(gap, 0.5D)") * 2).cast("long").as("med2"),
          round(expr("percentile(gap, 0.9D)") * 10).cast("long").as("p9010"))
        .select(col("event_type"), col("n_gaps"),
          (col("med2").cast("double") / 2.0).as("median_gap_sec"),
          (col("p9010").cast("double") / 10.0).as("p90_gap_sec"))
        .orderBy(col("event_type"))
    }),

    "d_strip_boilerplate" -> ((s, dir) => {
      // the ACTION for t_boilerplate's report: remove each source's
      // dominant line (when it appears in ≥ 20% of the source's docs)
      // from every document, with per-doc token accounting. The
      // boilerplate table is |sources|-sized and broadcasts; the
      // strip is a per-row HOF (split → filter → rejoin) — map-only
      // over the corpus.
      import org.apache.spark.sql.expressions.Window
      val docs = tbl(s, dir, "documents")
      val lines = docs
        .select(col("source"), col("doc_id"),
          explode(split(col("text"), "\n")).as("l"))
        .where(length(trim(col("l"))) > 0)
        .select(col("source"), col("doc_id"), trim(col("l")).as("line"))
        .distinct()
      val counts = lines.groupBy(col("source"),
          graft.functions.TextFunctions.portableHash(col("line")).as("h"))
        .agg(count(lit(1)).as("nw"), min(col("line")).as("line"))
      val nd = docs.groupBy(col("source")).agg(count(lit(1)).as("ndocs"))
      val w = Window.partitionBy(col("source")).orderBy(col("nw").desc, col("h"))
      val bp = counts.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .join(nd, Seq("source"))
        .where(col("nw") * 5 >= col("ndocs"))
        .select(col("source"), col("line").as("bp"))
      def ntok(c: Column) =
        size(graft.functions.TextFunctions.tokens(c)).cast("long")
      docs.join(broadcast(bp), Seq("source"), "left")
        .withColumn("cleaned", when(col("bp").isNull, col("text")).otherwise(
          array_join(filter(split(col("text"), "\n"),
            l => trim(l) =!= col("bp")), "\n")))
        .select(col("doc_id"), ntok(col("text")).as("tokens_before"),
          ntok(col("cleaned")).as("tokens_after"))
        .withColumn("tokens_removed", col("tokens_before") - col("tokens_after"))
        .orderBy(col("doc_id"))
    }),

    "t_rouge" -> ((s, dir) => {
      // ROUGE-1/2 between each doc and its near-copy (the evaluation
      // metric behind every summarization/paraphrase pipeline, gated
      // on the corpusWithDups pairs where the expected score is
      // known-high): multiset n-gram overlap in exact integers — for
      // counts, F1 = 2·overlap/(na+nb) is an exact rational — P/R/F
      // divided once and rounded 6dp. Grams shuffle as 8-byte window
      // hashes (the span-family kernel), never strings.
      val corpus = corpusWithDups(tbl(s, dir, "documents"))
      val a = corpus.where(col("doc_id") < 100000000L && col("doc_id") % 10 === 0)
        .select(col("doc_id").as("pid"), col("text"))
      val b = corpus.where(col("doc_id") >= 200000000L)
        .select((col("doc_id") - 200000000L).as("pid"), col("text"))
      def grams(side: DataFrame, n: Int, cnt: String) = side
        .select(col("pid"), explode(
          graft.functions.native.positionalWindowHashes(col("text"), n, wide = true))
          .as("h"))
        .groupBy(col("pid"), col("h")).agg(count(lit(1)).as(cnt))
      def stats(n: Int, suf: String) = {
        val ga = grams(a, n, "ca"); val gb = grams(b, n, "cb")
        val ov = ga.join(gb, Seq("pid", "h"))
          .groupBy(col("pid"))
          .agg(sum(least(col("ca"), col("cb"))).as(s"ov$suf"))
        ga.groupBy(col("pid")).agg(sum(col("ca")).as(s"na$suf"))
          .join(gb.groupBy(col("pid")).agg(sum(col("cb")).as(s"nb$suf")), Seq("pid"))
          .join(ov, Seq("pid"), "left")
          .na.fill(0L, Seq(s"ov$suf"))
      }
      stats(1, "1").join(stats(2, "2"), Seq("pid"))
        .select(col("pid").as("doc_id"),
          round(col("ov1").cast("double") / col("nb1").cast("double"), 6).as("rouge1_p"),
          round(col("ov1").cast("double") / col("na1").cast("double"), 6).as("rouge1_r"),
          round(col("ov1").cast("double") * 2 /
            (col("na1") + col("nb1")).cast("double"), 6).as("rouge1_f"),
          round(col("ov2").cast("double") * 2 /
            (col("na2") + col("nb2")).cast("double"), 6).as("rouge2_f"))
        .orderBy(col("doc_id"))
    }),

    "t_boilerplate" -> ((s, dir) => {
      // per-source boilerplate detection: the most repeated LINE in
      // each source and the share of that source's docs carrying it —
      // crawl headers/footers/cookie banners show up exactly here
      // (CCNet dedups lines globally; this is the per-source REPORT
      // that says which template to strip). Lines shuffle as 8-byte
      // hashes with one representative string via min() — a top-1
      // WindowGroupLimit pre-pruned pick per source.
      import org.apache.spark.sql.expressions.Window
      val lines = tbl(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          explode(split(col("text"), "\n")).as("line"))
        .where(length(trim(col("line"))) > 0)
        .select(col("source"), col("doc_id"), trim(col("line")).as("line"))
        .distinct() // count each line once per doc
      val counts = lines
        .groupBy(col("source"),
          graft.functions.TextFunctions.portableHash(col("line")).as("h"))
        .agg(count(lit(1)).as("n_docs_with"), min(col("line")).as("line"))
      val nd = tbl(s, dir, "documents").groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_docs_with").desc, col("h"))
      counts.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .join(broadcast(nd), Seq("source"))
        .select(col("source"), col("line"), col("n_docs_with"), col("n_docs"),
          (col("n_docs_with") * 5 >= col("n_docs")).as("is_boilerplate"))
        .orderBy(col("source"))
    }),

    "t_collocations" -> ((s, dir) => {
      // PMI-ranked collocations: adjacent token pairs that co-occur
      // far above chance (log(n_ab·N / n_a·n_b)) — the corpus-
      // analysis table behind tokenizer merge sanity checks and
      // phrase mining. Counts are exact integers; bigrams and
      // unigrams shuffle as hashed longs with min() representative
      // strings; PMI is one fixed-shape double over casts, min-count
      // 10 kills noise pairs. Output is frequency-bounded
      // (≤ distinct bigrams over the cut).
      val toks = tbl(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokens(lower(col("text"))).as("t"))
      val bi = toks.select(explode(expr(
        "transform(sequence(0, size(t) - 2), i -> struct(t[i] as a, t[i+1] as b))"))
        .as("p"))
        .select(col("p.a"), col("p.b"))
      val uni = toks.select(explode(col("t")).as("a"))
        .groupBy(col("a")).agg(count(lit(1)).as("na"))
      val nTot = toks.agg(sum(size(col("t"))).as("nt"))
      val pairs = bi.groupBy(col("a"), col("b")).agg(count(lit(1)).as("nab"))
        .where(col("nab") >= 10)
      pairs
        .join(uni, Seq("a"))
        .join(uni.select(col("a").as("b"), col("na").as("nb")), Seq("b"))
        .crossJoin(broadcast(nTot))
        .select(col("a"), col("b"), col("nab"),
          round(log(col("nab").cast("double") * col("nt").cast("double") /
            (col("na").cast("double") * col("nb").cast("double"))), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("a"), col("b"))
    }),

    "t_heavy_hitters" -> ((s, dir) => {
      // exact heavy-hitter tokens through a bounded-memory plan: a
      // native Misra–Gries TypedImperativeAggregate (≤ k counters per
      // task, mergeable — never the full vocab in a shuffle) proposes
      // candidates, one broadcast-filtered exact pass verifies — the
      // guarantee makes the verified output exact and deterministic,
      // so the oracle is simply the exact frequency threshold.
      TextAnalysis.heavyHitters(tbl(s, dir, "documents"), k = 64)
        .orderBy(col("token"))
    }),

    "q_calendar_gaps" -> ((s, dir) => {
      // series completeness: per event type, the expected vs observed
      // day count over its own [min, max] span and the missing-day
      // list (capped at 5) — the "did ingestion skip a day" DQ gate
      // behind every time-series consumer. One map-combined (type,
      // day) reduce; the gap scan explodes the |span| day range of
      // the BOUNDED per-type summary, never the corpus.
      val td = events(s, dir)
        .select(col("event_type"), expr("sec div 86400").as("day"))
        .distinct()
      val span = td.groupBy(col("event_type"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"),
          count(lit(1)).as("observed"))
      val missing = span
        .select(col("event_type"), explode(sequence(col("d0"), col("d1"))).as("day"))
        .join(td, Seq("event_type", "day"), "left_anti")
        .groupBy(col("event_type"))
        .agg(sort_array(collect_list(col("day"))).as("md"))
        .select(col("event_type"), slice(col("md"), 1, 5).as("missing_days"))
      span.join(missing, Seq("event_type"), "left")
        .select(col("event_type"),
          (col("d1") - col("d0") + 1).as("expected_days"),
          col("observed").as("observed_days"),
          (col("d1") - col("d0") + 1 - col("observed")).as("n_missing"),
          // driver-compare contract (SURVEY §6): arrays never reach the
          // pandas hash-compare raw — join to a scalar string.
          array_join(
            coalesce(col("missing_days"), array().cast("array<bigint>"))
              .cast("array<string>"), ",").as("missing_days"))
        .orderBy(col("event_type"))
    }),

    "q_interval_merge" -> ((s, dir) => {
      // merge overlapping intervals per user (each event opens a
      // 5-minute validity window; touching windows coalesce) — the
      // interval-UNION op behind on-call schedules, IP-range
      // compaction, and session stitching (q_sessionize gaps on
      // inactivity; this unions explicit spans). Islands via the
      // running-max-end trick: one user-keyed window, no self-join.
      import org.apache.spark.sql.expressions.Window
      val iv = events(s, dir)
        .select(col("user_id"), col("sec").as("st"), (col("sec") + 300).as("en"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("st"), col("en"))
      val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
      iv.withColumn("pmax", max(col("en")).over(wPrev))
        .withColumn("isl", sum(
          when(col("pmax").isNull || col("st") > col("pmax"), 1L).otherwise(0L))
          .over(w))
        .groupBy(col("user_id"), col("isl"))
        .agg(min(col("st")).as("span_start"), max(col("en")).as("span_end"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("span_start"), col("span_end"),
          col("n_events"))
        .orderBy(col("user_id"), col("span_start"))
    }),

    "q_set_ops_all" -> ((s, dir) => {
      // multiset set ops (INTERSECT ALL / EXCEPT ALL — bag semantics
      // the DISTINCT variants q_intersect/q_except don't pin): order
      // priorities of two customer segments compared as bags; output
      // is the per-op row count plus the bag-min/bag-diff per key.
      val a = tbl(s, dir, "orders").where(col("o_custkey") % 3 === 0)
        .select(col("o_orderpriority").as("p"))
      val b = tbl(s, dir, "orders").where(col("o_custkey") % 2 === 0)
        .select(col("o_orderpriority").as("p"))
      val ia = a.intersectAll(b).groupBy(col("p"))
        .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
      val ea = a.exceptAll(b).groupBy(col("p"))
        .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
      ia.unionByName(ea)
        .select(col("op"), col("p"), col("n"))
        .orderBy(col("op"), col("p"))
    }),

    "q_pareto" -> ((s, dir) => {
      // revenue concentration: the 80/20 table (how many parts cover
      // 80% of revenue) + the exact Gini coefficient — the
      // concentration row of the profiling family. Gini is the exact
      // rational Σ(2i−n−1)·x₍ᵢ₎ / (n·Σx) over revenue-ascending
      // order (numerator folds in decimal-exact integers). Parts grow
      // with SF (~2B at 100 TB TPC-H scale), so the global order runs
      // as a distributed two-phase scan (PrefixSum) — rank i and the
      // ascending running sum in ONE pass, the descending cumulative
      // derived as t − cum_asc + rev (exact integers; tied revenues
      // permute within the tie, which leaves the partial-sum SEQUENCE
      // — and hence n80 and Gini — identical). No single-partition
      // window (r6 verdict item; PlanSpec-asserted).
      val per = tbl(s, dir, "lineitem")
        .select(col("l_partkey"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .groupBy(col("l_partkey")).agg(sum(col("cents")).as("rev"))
      val tot = per.agg(count(lit(1)).as("n"), sum(col("rev")).as("t"))
      val ranked = operators.PrefixSum.prefixSums(per,
          Seq(col("rev"), col("l_partkey")),
          Seq("cum_asc" -> col("rev")), rowNum = Some("i"))
        .crossJoin(broadcast(tot))
        .withColumn("cum_desc", col("t") - col("cum_asc") + col("rev"))
        .localCheckpoint(true)
      val gnum = ranked.agg(sum(
        ((col("i") * 2 - col("n") - 1) * col("rev")).cast("decimal(38,0)"))
        .as("gn"))
      val n80 = ranked.where(col("cum_desc") * 5 >= col("t") * 4)
        .agg(min(col("n") - col("i") + 1).as("n80"))
      tot.crossJoin(broadcast(gnum)).crossJoin(broadcast(n80))
        .select(col("n").as("n_parts"), col("t").as("total_cents"),
          col("n80").as("parts_for_80pct"),
          round(col("n80").cast("double") / col("n").cast("double"), 6)
            .as("share_of_parts"),
          round(col("gn").cast("double") /
            (col("n").cast("double") * col("t").cast("double")), 6).as("gini"))
    }),

    "q_integrity" -> ((s, dir) => {
      // referential-integrity audit across the star schema (the DQ
      // gate an ingestion run publishes before exposing tables):
      // per relationship, child rows / distinct child keys / orphan
      // rows (child keys with no parent). Orphans via LEFT ANTI join
      // — at scale each check is one hash join on the key, parent
      // side broadcast when small (dims), AQE otherwise; counts
      // map-side combine.
      def check(name: String, child: DataFrame, key: String,
                parent: DataFrame, pkey: String) = {
        val c = child.select(col(key).as("k"))
        val orphans = c.join(parent.select(col(pkey).as("k")).distinct(),
          Seq("k"), "left_anti")
        c.agg(count(lit(1)).as("n_child"),
          countDistinct(col("k")).as("n_keys"))
          .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
          .select(lit(name).as("relationship"), col("n_child"),
            col("n_keys"), col("n_orphans"))
      }
      val li = tbl(s, dir, "lineitem"); val o = tbl(s, dir, "orders")
      val c = tbl(s, dir, "customer"); val su = tbl(s, dir, "supplier")
      val p = tbl(s, dir, "part"); val n = tbl(s, dir, "nation")
      check("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey")
        .unionByName(check("lineitem.l_partkey->part", li, "l_partkey", p, "p_partkey"))
        .unionByName(check("lineitem.l_suppkey->supplier", li, "l_suppkey", su, "s_suppkey"))
        .unionByName(check("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey"))
        .unionByName(check("customer.c_nationkey->nation", c, "c_nationkey", n, "n_nationkey"))
        .orderBy(col("relationship"))
    }),

    "q_cumulative_distinct" -> ((s, dir) => {
      // cumulative unique users per event type by day (the "total
      // users reached" growth curve): distinct-over-running-window
      // without a window distinct — each (type, user) contributes on
      // its FIRST day only (one map-combined min aggregate), daily
      // first-appearance counts then cumsum over the bounded
      // (type × days) table. The corpus shuffle is the (type, user)
      // reduce; everything after is days-bounded.
      import org.apache.spark.sql.expressions.Window
      val firstDay = events(s, dir)
        .select(col("event_type"), col("user_id"), expr("sec div 86400").as("day"))
        .groupBy(col("event_type"), col("user_id"))
        .agg(min(col("day")).as("day"))
      val daily = firstDay.groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("new_users"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .select(col("event_type"), col("day"), col("new_users"),
          sum(col("new_users")).over(w).as("cum_users"))
        .orderBy(col("event_type"), col("day"))
    }),

    "q_rolling_dau" -> ((s, dir) => {
      // 7-day rolling distinct active users per day (WAU — THE
      // engagement series): rolling DISTINCT has no window form, so
      // each (user, day) activity row covers days d..d+6 via a 7-way
      // explode, distinct coverage, then a per-day count. Work is
      // 7×|user-days| rows of two longs — linear, no window over the
      // corpus; the final count map-combines per day.
      val ud = events(s, dir)
        .select(col("user_id"), expr("sec div 86400").as("day"))
        .distinct()
      val mx = ud.agg(max(col("day")).as("mxd"))
      ud.withColumn("d",
          explode(sequence(col("day"), col("day") + 6)))
        .select(col("user_id"), col("d")).distinct()
        .crossJoin(broadcast(mx))
        .where(col("d") <= col("mxd")) // don't report past the data edge
        .groupBy(col("d").as("day"))
        .agg(count(lit(1)).as("wau")) // (user, d) already distinct
        .orderBy(col("day"))
    }),

    "q07_volume_shipping" -> ((s, dir) => {
      // TPC-H Q7 shape (volume shipping): revenue flowing between two
      // nations in both directions by ship year — the multi-dimension
      // star join with a symmetric pair filter. Exactness: cents ×
      // (10000 − discount basis points) keeps revenue an exact
      // decimal integer; the division to cents happens once at the
      // end. Dims broadcast; the fact side shuffles once for the
      // orders join.
      val sn = tbl(s, dir, "supplier")
        .join(tbl(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cn = tbl(s, dir, "customer")
        .join(tbl(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      tbl(s, dir, "lineitem")
        .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
        .join(tbl(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cn), col("o_custkey") === col("c_custkey"))
        .where((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
          (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
        .select(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("ship_year"),
          (round(col("l_extendedprice") * 100).cast("decimal(38,0)") *
            (lit(10000) - round(col("l_discount") * 10000).cast("int")))
            .as("rev"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("ship_year"))
        .agg(count(lit(1)).as("n_items"), sum(col("rev")).as("revx"))
        .select(col("supp_nation"), col("cust_nation"), col("ship_year"),
          col("n_items"),
          round(col("revx").cast("double") / 10000.0, 2).as("revenue_cents"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("ship_year"))
    }),

    "q11_stock_value" -> ((s, dir) => {
      // TPC-H Q11 shape: per-part stock value within one nation (NATION_7), kept
      // if it exceeds a fraction of the GLOBAL total (group-vs-global
      // scalar HAVING): exact cents value, the global total broadcast
      // as one row, threshold compare in pure integers
      // (value·10000 > total). Dims broadcast into the fact scan.
      val ps = tbl(s, dir, "supplier")
        .join(tbl(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .where(col("n_name") === "NATION_7")
        .select(col("s_suppkey"))
      val li = tbl(s, dir, "lineitem")
        .join(broadcast(ps), col("l_suppkey") === col("s_suppkey"))
        .select(col("l_partkey"),
          (round(col("l_extendedprice") * 100).cast("long") *
            col("l_quantity").cast("long")).as("v"))
      val per = li.groupBy(col("l_partkey")).agg(sum(col("v")).as("value"))
      // scale-free HAVING: TPC-H's 0.0001/SF fraction is scale-DEPENDENT
      // (0 rows at 10x); value > 2x the mean part value keeps the
      // group-vs-global-scalar shape non-degenerate at any SF. Pure
      // integer compare: value*n_parts > 2*total.
      val tot = per.agg(sum(col("value")).as("total"),
        count(lit(1)).as("n_parts"))
      per.crossJoin(broadcast(tot))
        .where(col("value") * col("n_parts") > col("total") * 2)
        .select(col("l_partkey"), col("value"), col("total"))
        .orderBy(col("value").desc, col("l_partkey"))
    }),

    "q18_large_orders" -> ((s, dir) => {
      // TPC-H Q18 shape (large-volume orders): orders whose total
      // lineitem quantity exceeds a threshold — the HAVING-subquery
      // pattern, expressed as an aggregate + broadcast-joined keeper
      // set so the fact table is scanned once. Exact integer
      // quantities.
      val big = tbl(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
        .where(col("total_qty") > 150)
      tbl(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("price_cents"),
          col("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey"))
    }),

    "q_window_suite" -> ((s, dir) => {
      // the full ranking-window surface in one table (percent_rank /
      // cume_dist / ntile / nth_value / first-last) over per-type
      // daily revenue — the remaining window functions the inventory
      // hadn't pinned; every value is an exact integer or a ratio of
      // exact integers. Windows run on the bounded (type × day)
      // series.
      import org.apache.spark.sql.expressions.Window
      val daily = events(s, dir)
        .select(col("event_type"), expr("sec div 86400").as("day"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("cents")).as("rev"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("rev"), col("day"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      daily
        .select(col("event_type"), col("day"), col("rev"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"),
          ntile(4).over(w).as("quartile"),
          nth_value(col("rev"), 3).over(wf).as("third_lowest"),
          first(col("rev")).over(wf).as("min_rev"),
          last(col("rev")).over(wf).as("max_rev"))
        .orderBy(col("event_type"), col("day"))
    }),

    "q_mad" -> ((s, dir) => {
      // robust outlier stats per event type: median + MAD (median
      // absolute deviation) and the |x − med| > 3·1.4826·MAD count —
      // the heavy-tail-safe twin of q_outliers' z-scores (one wild
      // value moves a mean/σ gate, not a median/MAD gate). Exactness:
      // doubled units keep both medians' interpolation halves
      // integral (med2 = 2·median, mad4 = 2·median of doubled
      // deviations are exact BIGINTs), so the outlier rule is the
      // pure integer compare dev2·10⁴ > 22239·mad4. Two grouped
      // exact-percentile passes + broadcast |types|-row joins.
      val e = events(s, dir)
        .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
      val m1 = e.groupBy(col("event_type"))
        .agg(expr("percentile(cents, 0.5D)").as("med"), count(lit(1)).as("n"))
        .withColumn("med2", round(col("med") * 2).cast("long"))
      val dev = e.join(broadcast(m1), "event_type")
        .withColumn("dev2", abs(col("cents") * 2 - col("med2")))
      val m2 = dev.groupBy(col("event_type"))
        .agg(expr("percentile(dev2, 0.5D)").as("mad2"))
        .withColumn("mad4", round(col("mad2") * 2).cast("long"))
      dev.join(broadcast(m2), "event_type")
        .groupBy(col("event_type"), col("n"), col("med2"), col("mad4"))
        .agg(sum(when(col("dev2") * 10000 > col("mad4") * 22239, 1L)
          .otherwise(0L)).as("n_outliers"))
        .select(col("event_type"), col("n"),
          (col("med2").cast("double") / 200.0).as("median_value"),
          (col("mad4").cast("double") / 400.0).as("mad_value"),
          col("n_outliers"))
        .orderBy(col("event_type"))
    }),

    "d_data_card" -> ((s, dir) => {
      // the DATA CARD: the one-table corpus summary a dataset release
      // ships (docs/tokens/sources/langs, exact-dup rate, quality
      // keep rate, length median) — every metric an exact integer so
      // the card is bit-reproducible. ONE corpus pass computes all
      // per-doc signals map-side (token count, content hash, lang,
      // quality keep); one aggregate + an in-row unpivot.
      val d = tbl(s, dir, "documents").select(
        col("source"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("ntok"),
        graft.functions.native.contentHash60(col("text")).as("h"),
        TextAnalysis.langId(col("text")).as("lang"),
        TextAnalysis.corpusFilterKeep(col("text")).cast("long").as("keep"))
      d.agg(
        count(lit(1)).as("n_docs"),
        sum(col("ntok")).as("n_tokens"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        (count(lit(1)) - countDistinct(col("h"))).as("exact_dup_docs"),
        sum(col("keep")).as("quality_keep_docs"),
        round(expr("percentile(ntok, 0.5D)") * 2).cast("long").as("median_tokens_x2"))
        .select(expr(
          """stack(7,
            |'n_docs', n_docs,
            |'n_tokens', n_tokens,
            |'n_sources', n_sources,
            |'n_langs', n_langs,
            |'exact_dup_docs', exact_dup_docs,
            |'quality_keep_docs', quality_keep_docs,
            |'median_tokens_x2', median_tokens_x2) AS (metric, value)""".stripMargin))
        .orderBy(col("metric"))
    }),

    "d_epoch_shuffle" -> ((s, dir) => {
      // deterministic per-epoch training-order shuffle: every doc gets
      // a pseudo-random rank from the portable hash of (doc_id,
      // epoch), giving a DIFFERENT but fully reproducible global
      // order each epoch — the data-ordering op between shard
      // manifests and the trainer (RNG-free, so any worker can
      // recompute any position). Output is the complete (epoch, doc,
      // shard, pos) mapping for 2 epochs. Scale: the hash is map-only;
      // within-shard positions come from the per-(epoch, shard) sort
      // the shard WRITER performs anyway — at 100 TB this is
      // repartitionByRange + sortWithinPartitions at write time, the
      // window here is its position-index twin.
      import org.apache.spark.sql.expressions.Window
      val d = tbl(s, dir, "documents").select(col("doc_id"))
        .crossJoin(s.range(2).select(col("id").cast("int").as("epoch")))
        .withColumn("rk", graft.functions.TextFunctions.portableHash(
          concat(col("doc_id").cast("string"), lit(":"), col("epoch").cast("string"))))
        .withColumn("shard", pmod(col("rk"), lit(8)).cast("int"))
      val w = Window.partitionBy(col("epoch"), col("shard"))
        .orderBy(col("rk"), col("doc_id"))
      d.withColumn("pos", row_number().over(w).cast("long"))
        .select(col("epoch"), col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("epoch"), col("doc_id"))
    }),

    "d_split_grouped" -> ((s, dir) => {
      // GROUP-aware train/val/test split: the hash is taken over the
      // doc's SOURCE, not its id, so every document of a source lands
      // in the same split — the leakage rule real corpora need
      // (near-dups cluster within a source; an id-hash split leaks
      // them across the boundary, which d_split_leakage measures).
      // Output is the per-split audit + the structural guarantee
      // (leaked_sources ≡ 0). One doc-keyed aggregate + two bounded
      // aggregates; the leak check is a |sources|-row pass.
      val d = tbl(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("ntok"))
        .withColumn("h",
          pmod(graft.functions.TextFunctions.portableHash(col("source")), lit(100)))
        .withColumn("split",
          when(col("h") < 80, "train").when(col("h") < 90, "val")
            .otherwise("test"))
      val leak = d.groupBy(col("source"))
        .agg(countDistinct(col("split")).as("k"))
        .agg(sum(when(col("k") > 1, 1L).otherwise(0L)).as("leaked_sources"))
      d.groupBy(col("split"))
        .agg(countDistinct(col("source")).as("n_sources"),
          count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"))
        .crossJoin(broadcast(leak))
        .orderBy(col("split"))
    }),

    // ---------------------------------------------- ingestion surface
    "i_markdown_elements" -> ((s, dir) => {
      graft.sources.MarkdownElementReader.elements(s, tbl(s, dir, "documents"))
        .toDF()
        .select(col("doc_id"), col("seq"), col("kind"), col("level"), col("text"))
        .orderBy(col("doc_id"), col("seq"))
    }),

    "i_html_elements" -> ((s, dir) => {
      // the in-process HTML reader (HtmlElementReader — the
      // MarkItDownReader twin) over a deterministic HTML rendering of
      // the documents corpus: title header, entity-escaped body
      // paragraph, a metadata list, a standalone image, and an
      // hr-then-footer — headers/paragraphs/lists/images/footers all
      // exercised corpus-wide with a corpus-exact oracle (structure
      // depth is spec-tested in HtmlReaderSpec). Parsing is one typed
      // flatMap: map-only at any corpus size, like the markdown reader.
      val esc = regexp_replace(regexp_replace(regexp_replace(
        col("text"), lit("&"), lit("&amp;")), lit("<"), lit("&lt;")),
        lit(">"), lit("&gt;"))
      val htmlDocs = tbl(s, dir, "documents").select(col("doc_id"), concat(
        lit("<html><head><title>t</title><style>p{x:0}</style></head><body>"),
        lit("<h1>Doc "), col("doc_id"), lit("</h1>"),
        lit("<p>body: "), esc, lit("</p>"),
        lit("<ul><li>lang: "), col("lang"), lit("</li><li>source: "),
        col("source"), lit("</li></ul>"),
        lit("<img src=\"img"), col("doc_id"), lit(".png\" alt=\"fig "),
        col("doc_id"), lit("\"/>"),
        lit("<hr/><p>end of doc "), col("doc_id"), lit("</p></body></html>"))
        .as("html"))
      graft.sources.HtmlElementReader.elements(s, htmlDocs).toDF()
        .select(col("doc_id"), col("seq"), col("kind"), col("level"), col("text"))
        .orderBy(col("doc_id"), col("seq"))
    }),

    "i_docx_elements" -> ((s, dir) => {
      // the in-process DOCX reader (DocxElementReader — the OOXML leg
      // of the MarkItDownReader twin, r7 verdict item 2) over a
      // deterministic DOCX packaging of the documents corpus:
      // Heading1 title, body paragraph, numbered list (lang/source),
      // standalone image with alt text, a 2×2 stats table, and a
      // Footer-styled paragraph — headers/paragraphs/lists/images/
      // TABLES/footers all exercised corpus-wide with a corpus-exact
      // oracle (structural and robustness edge cases are spec-tested
      // in DocxReaderSpec). Packaging (zip+XML synthesis) and parsing
      // both run inside typed map/flatMap stages: map-only, no
      // shuffle, at any corpus size.
      import s.implicits._
      import graft.sources.DocxElementReader
      import graft.sources.DocxElementReader._
      val base = tbl(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .as[(Long, String, String, String, Long)]
      val docxDocs = base.map { case (id, text, lang, source, nChars) =>
        (id, DocxElementReader.synthesize(Seq(
          SHeading(1, s"Doc $id"),
          SPara("body: " + Option(text).getOrElse("")),
          SList(Seq("lang: " + lang, "source: " + source)),
          SImage(s"fig $id"),
          STable(Seq(Seq("stat", "value"), Seq("n_chars", nChars.toString))),
          SFooterPara(s"end of doc $id"))))
      }.toDF("doc_id", "content")
      DocxElementReader.elements(s, docxDocs).toDF()
        .select(col("doc_id"), col("seq"), col("kind"), col("level"), col("text"))
        .orderBy(col("doc_id"), col("seq"))
    }),

    "i_xlsx_elements" -> ((s, dir) => {
      // the in-process XLSX reader (XlsxElementReader — the
      // spreadsheet leg of the MarkItDownReader twin, r11 verdict
      // item 1) over a deterministic SpreadsheetML packaging of the
      // documents corpus: a two-sheet workbook per document whose
      // "meta" sheet exercises a MERGED title row (value duplicated
      // into the covered cell — the reader must blank it), shared
      // strings, inline strings, and a numeric cell, and whose "body"
      // sheet carries the document text in a cell — sheet order,
      // value decoding, and merged-cell normalization all hash-gated
      // corpus-wide (structural and hostile-input cases are
      // spec-tested in XlsxReaderSpec). Packaging (zip+XML synthesis)
      // and parsing both run inside typed map/flatMap stages:
      // map-only, no shuffle, at any corpus size.
      import s.implicits._
      import graft.sources.XlsxElementReader
      import graft.sources.XlsxElementReader._
      val base = tbl(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .as[(Long, String, String, String, Long)]
      val xlsxDocs = base.map { case (id, text, lang, source, nChars) =>
        (id, XlsxElementReader.synthesize(Seq(
          SSheet("meta", Seq(
            Seq(SShared(s"Doc $id"), SShared(s"Doc $id")),
            Seq(SShared("field"), SShared("value")),
            Seq(SShared("lang"), SShared(lang)),
            Seq(SShared("source"), SInline(source)),
            Seq(SShared("n_chars"), SNum(nChars.toString))),
            merges = Seq("A1:B1")),
          SSheet("body", Seq(
            Seq(SInline("text"), SInline(Option(text).getOrElse(""))))))))
      }.toDF("doc_id", "content")
      XlsxElementReader.elements(s, xlsxDocs).toDF()
        .select(col("doc_id"), col("seq"), col("kind"), col("level"), col("text"))
        .orderBy(col("doc_id"), col("seq"))
    }),

    "i_pptx_elements" -> ((s, dir) => {
      // the in-process PPTX reader (PptxElementReader — the
      // presentation leg of the MarkItDownReader twin, r11 verdict
      // item 2) over a deterministic PresentationML packaging of the
      // documents corpus: slide 1 carries title/body/image
      // placeholders, slide 2 a table plus speaker NOTES (resolved
      // through the slide's own rels part and emitted as footers) —
      // titles/paragraphs/images/tables/notes and slide-as-page
      // numbering all hash-gated corpus-wide (placeholder and
      // robustness cases are spec-tested in PptxReaderSpec).
      // Packaging and parsing run in typed map/flatMap stages:
      // map-only, no shuffle, at any corpus size.
      import s.implicits._
      import graft.sources.PptxElementReader
      import graft.sources.PptxElementReader._
      val base = tbl(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .as[(Long, String, String, String, Long)]
      val pptxDocs = base.map { case (id, text, lang, source, nChars) =>
        (id, PptxElementReader.synthesize(Seq(
          PSlide(Seq(
            PTitle(s"Doc $id"),
            PBody(Seq("body: " + Option(text).getOrElse(""),
              "lang: " + lang, "source: " + source)),
            PImage(s"fig $id"))),
          PSlide(Seq(
            PTitle("stats"),
            PTable(Seq(Seq("stat", "value"),
              Seq("n_chars", nChars.toString)))),
            notes = Seq(s"end of doc $id")))))
      }.toDF("doc_id", "content")
      PptxElementReader.elements(s, pptxDocs).toDF()
        .select(col("doc_id"), col("seq"), col("kind"), col("level"),
          col("text"), col("page_number"))
        .orderBy(col("doc_id"), col("seq"))
    }),

    "i_pdf_elements" -> ((s, dir) => {
      // the in-process PDF reader (PdfElementReader — the third leg
      // of the MarkItDownReader twin, r8: tolerant COS scanner +
      // Flate/ObjStm decode + BT/ET text interpreter + font-size
      // structure inference) over a deterministic two-page PDF
      // packaging of the documents corpus: an H1 title + body
      // paragraph on page 1, lang/source/end paragraphs on page 2 —
      // headers, paragraphs, PAGE NUMBERS, and the Flate content
      // path all exercised corpus-wide against a corpus-exact
      // oracle (COS syntax, CMaps, and hostile-input behavior are
      // spec-tested in PdfReaderSpec). Packaging and parsing run in
      // typed map/flatMap stages: map-only, no shuffle, at any
      // corpus size.
      import s.implicits._
      import graft.sources.PdfElementReader
      import graft.sources.PdfElementReader._
      val base = tbl(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
        .as[(Long, String, String, String)]
      // page 2 ends with a RULED table (r9): synthesize draws the
      // grid with m/l strokes and the reader's bordered-grid detector
      // (detectRuledTable) must recover the same pipe-markdown table
      // element the DOCX/HTML readers emit — corpus-wide, hash-exact.
      // EVEN docs additionally place an image XObject on page 1
      // (r11 verdict item 3): the Do-placement scan must emit the
      // `image` element with its /Alt text in reading order on even
      // docs and NOTHING on odd docs — presence and absence both
      // hash-gated (i_enrich_imagealt's PDF-sourced path)
      val pdfDocs = base.map { case (id, text, lang, source) =>
        val page1 = Seq(SHeading(1, s"Doc $id"),
          SPara("body: " + Option(text).getOrElse(""))) ++
          (if (id % 2 == 0) Seq(SImage(s"fig $id")) else Nil)
        (id, PdfElementReader.synthesize(Seq(
          page1,
          Seq(SPara("lang: " + lang), SPara("source: " + source),
            SPara(s"end of doc $id"),
            STable(Seq(Seq("field", "value"),
              Seq("lang", lang), Seq("source", source)))))))
      }.toDF("doc_id", "content")
      PdfElementReader.elements(s, pdfDocs).toDF()
        .select(col("doc_id"), col("seq"), col("kind"), col("level"),
          col("text"), col("page_number"))
        .orderBy(col("doc_id"), col("seq"))
    }),

    "i_pdf_rowrules" -> ((s, dir) => {
      // row-rules-only PDF tables (r9 verdict item 2 — the booktabs/
      // LaTeX report shape): synthesize draws ONLY three horizontal
      // rules (toprule / midrule / bottomrule, no verticals); the
      // reader recovers rows from text baselines between the rules
      // and columns from repeated x-start clustering
      // (PdfElementReader.detectRowRuleTables), emitting the same
      // pipe-markdown table element as the bordered-grid / DOCX /
      // HTML paths — corpus-wide, hash-exact. The reference reaches
      // this shape through hosted layout analysis
      // (DocumentIntelligenceReader.cs Table elements); graft parses
      // it in-process. Map-only at any corpus size.
      import s.implicits._
      import graft.sources.PdfElementReader
      import graft.sources.PdfElementReader._
      val base = tbl(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"))
        .as[(Long, String, String)]
      val pdfDocs = base.map { case (id, lang, source) =>
        (id, PdfElementReader.synthesize(Seq(Seq(
          SHeading(1, s"Doc $id"),
          SRowRuleTable(Seq(Seq("field", "value"),
            Seq("lang", lang), Seq("source", source))),
          SPara(s"end of doc $id")))))
      }.toDF("doc_id", "content")
      PdfElementReader.elements(s, pdfDocs).toDF()
        .select(col("doc_id"), col("seq"), col("kind"), col("level"),
          col("text"), col("page_number"))
        .orderBy(col("doc_id"), col("seq"))
    }),

    "i_pdf_borderless" -> ((s, dir) => {
      // borderless whitespace-aligned PDF tables (r10 verdict item 2
      // — the no-rules report shape): synthesize draws NOTHING — cells
      // sit at repeated column x-starts on uniform-pitch baselines,
      // and the reader recovers the grid from geometry alone
      // (PdfElementReader.detectBorderlessTables: strict cluster
      // alignment + uniform pitch + the short-cell guard), emitting
      // the same pipe-markdown table element as every other table
      // path. The reference reaches this shape only through hosted
      // layout analysis (DocumentIntelligenceReader.cs Table
      // elements); graft parses it in-process. Map-only at any
      // corpus size.
      import s.implicits._
      import graft.sources.PdfElementReader
      import graft.sources.PdfElementReader._
      val base = tbl(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"))
        .as[(Long, String, String)]
      val pdfDocs = base.map { case (id, lang, source) =>
        (id, PdfElementReader.synthesize(Seq(Seq(
          SHeading(1, s"Doc $id"),
          SBorderlessTable(Seq(Seq("field", "value"),
            Seq("lang", lang), Seq("source", source))),
          SPara(s"end of doc $id")))))
      }.toDF("doc_id", "content")
      PdfElementReader.elements(s, pdfDocs).toDF()
        .select(col("doc_id"), col("seq"), col("kind"), col("level"),
          col("text"), col("page_number"))
        .orderBy(col("doc_id"), col("seq"))
    }),

    "i_pdf_continuation" -> ((s, dir) => {
      // multi-page table continuation (r11): page 1 ends with a
      // ledger table, and for even doc_ids page 2 begins with the
      // SAME header repeated — the reader stitches ONE table element
      // spanning the break (repeated header dropped, first page
      // number kept); odd doc_ids continue under a DIFFERENT header,
      // which must NOT stitch — both behaviors hash-gated in one
      // corpus. In-process recovery of the flowing report-table
      // shape the reference reaches only through hosted layout
      // analysis (DocumentIntelligenceReader.cs Table elements).
      // Map-only at any corpus size.
      import s.implicits._
      import graft.sources.PdfElementReader
      import graft.sources.PdfElementReader._
      val base = tbl(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"))
        .as[(Long, String, String)]
      val pdfDocs = base.map { case (id, lang, source) =>
        val hdr = Seq("field", "value")
        val hdr2 = if (id % 2 == 0) hdr else Seq("key", "detail")
        (id, PdfElementReader.synthesize(Seq(
          Seq(SPara(s"ledger for doc $id"),
            STable(Seq(hdr, Seq("lang", lang)))),
          Seq(STable(Seq(hdr2, Seq("source", source))),
            SPara(s"end of doc $id")))))
      }.toDF("doc_id", "content")
      PdfElementReader.elements(s, pdfDocs).toDF()
        .select(col("doc_id"), col("seq"), col("kind"), col("level"),
          col("text"), col("page_number"))
        .orderBy(col("doc_id"), col("seq"))
    }),

    "i_auto_elements" -> ((s, dir) => {
      // format-sniffing reader router (AutoElementReader, r8; OOXML
      // three-way discrimination r12): the documents corpus is
      // packaged into a MIXED-format binary column — doc_id % 6
      // selects markdown / HTML / DOCX / PDF / XLSX / PPTX — and one
      // elements() call routes each row by magic bytes (the three
      // OOXML families all start "PK" and are told apart by their
      // [Content_Types].xml declaration). The oracle is the
      // strongest form of the reader-agnostic claim: the SAME two
      // canonical rows per document REGARDLESS of which format
      // carried it (xlsx differs only in the body row's kind — a
      // sheet has no paragraph concept, its table IS the body), so
      // any reader diverging from the shared element contract fails
      // the hash. Packaging + detection + parsing fuse into one typed
      // map/flatMap — map-only at any corpus size.
      import s.implicits._
      import graft.sources.{AutoElementReader, DocxElementReader,
        PdfElementReader, PptxElementReader, XlsxElementReader}
      val base = tbl(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
      val mixed = base.map { case (id, textRaw) =>
        val text = Option(textRaw).getOrElse("")
        val title = s"Doc $id"
        val body = "body: " + text
        val bytes = (id % 6) match {
          case 0 => s"# $title\n\n$body"
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          case 1 => s"<html><body><h1>$title</h1><p>$body</p></body></html>"
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          case 2 => DocxElementReader.synthesize(Seq(
            DocxElementReader.SHeading(1, title),
            DocxElementReader.SPara(body)))
          case 3 => PdfElementReader.synthesize(Seq(Seq(
            PdfElementReader.SHeading(1, title),
            PdfElementReader.SPara(body))))
          case 4 => XlsxElementReader.synthesize(Seq(
            XlsxElementReader.SSheet(title,
              Seq(Seq(XlsxElementReader.SInline(body))))))
          case _ => PptxElementReader.synthesize(Seq(
            PptxElementReader.PSlide(Seq(
              PptxElementReader.PTitle(title),
              PptxElementReader.PBody(Seq(body))))))
        }
        (id, bytes)
      }.toDF("doc_id", "content")
      AutoElementReader.elements(s, mixed).toDF()
        .select(col("doc_id"), col("seq"), col("kind"), col("level"),
          col("text"), col("metadata")("format").as("format"))
        .orderBy(col("doc_id"), col("seq"))
    }),

    "i_pipeline_html" -> ((s, dir) => {
      // the reader-agnostic claim proven END-TO-END over the HTML leg
      // (r7 verdict item 4): HTML corpus → HtmlElementReader elements
      // → ElementsChunker packing → summary + sentiment enrichers —
      // the canonical pipeline with only the READER swapped, its
      // output corpus-exact against a DuckDB replay of the whole
      // template → elements → pack → enrich path. One lazy plan:
      // render/parse/pack fuse into a map-only stage, the enrichers
      // are per-row expressions on top.
      val esc = regexp_replace(regexp_replace(regexp_replace(
        col("text"), lit("&"), lit("&amp;")), lit("<"), lit("&lt;")),
        lit(">"), lit("&gt;"))
      val htmlDocs = tbl(s, dir, "documents").select(col("doc_id"), concat(
        lit("<html><head><title>t</title></head><body>"),
        lit("<h1>Doc "), col("doc_id"), lit("</h1>"),
        lit("<p>body: "), esc, lit("</p>"),
        lit("<ul><li>lang: "), col("lang"), lit("</li><li>source: "),
        col("source"), lit("</li></ul>"),
        lit("<img src=\"img"), col("doc_id"), lit(".png\" alt=\"fig "),
        col("doc_id"), lit("\"/>"),
        lit("<hr/><p>end of doc "), col("doc_id"), lit("</p></body></html>"))
        .as("html"))
      val htmlPipeline = IngestionPipeline.canonical.withChunker(
        (sp, docs) => Chunkers.elementChunks(sp,
          graft.sources.HtmlElementReader.elements(sp, docs, textCol = "html"))
          .toDF())
      htmlPipeline.chunks(s, htmlDocs)
        .select(col("doc_id"), col("chunk_id"), col("token_count"),
          col("summary"), col("sentiment"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    "i_removal_processor" -> ((s, dir) => {
      val elems = graft.sources.MarkdownElementReader.elements(s, tbl(s, dir, "documents")).toDF()
      Processors.removeEmpty(Processors.removeFooters(elems))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_elements"))
        .orderBy(col("doc_id"))
    }),

    "i_chunk_token" -> ((s, dir) => {
      Chunkers.tokenChunks(tbl(s, dir, "documents"), ChunkerOptions(maxTokens = 64, overlap = 16))
        .select(col("doc_id"), col("chunk_id"), col("content"), col("token_count"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    "i_chunk_page_meta" -> ((s, dir) => {
      // page + metadata provenance end-to-end: a synthetic per-document
      // page number and a (lang, source) metadata map ride through the
      // chunker onto every chunk (reference IngestionDocument.cs:106,116)
      val paged = tbl(s, dir, "documents")
        .withColumn("page_number", (col("doc_id") % 7 + 1).cast("int"))
        .withColumn("metadata", map(lit("lang"), col("lang"), lit("source"), col("source")))
      Chunkers.tokenChunks(paged, ChunkerOptions(maxTokens = 64, overlap = 16),
          carryCols = Seq("page_number", "metadata"))
        .select(col("doc_id"), col("chunk_id"), col("token_count"), col("page_number"),
          element_at(col("metadata"), "lang").as("meta_lang"),
          element_at(col("metadata"), "source").as("meta_source"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // The four structural chunkers below are rows-only checks, but the
    // compared surface must still be pandas-sortable scalars: project the
    // chunk contract columns and keep the metadata map OFF the surface
    // (map cells crash the driver's sort_values — same rule as keywords/
    // embeddings; page_number stays: nullable ints sort fine).
    "i_chunk_header" -> ((s, dir) => {
      Chunkers.headerChunks(s, tbl(s, dir, "documents"), ChunkerOptions(maxTokens = 64, overlap = 0))
        .toDF()
        .select(chunkScalarCols: _*)
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    "i_chunk_section" -> ((s, dir) => {
      Chunkers.sectionChunks(s, tbl(s, dir, "documents"), ChunkerOptions(maxTokens = 64, overlap = 0))
        .toDF()
        .select(chunkScalarCols: _*)
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    "i_chunk_markdown" -> ((s, dir) => {
      Chunkers.markdownChunks(s, tbl(s, dir, "documents"))
        .toDF()
        .select(chunkScalarCols: _*)
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    "i_chunk_semantic" -> ((s, dir) => {
      Chunkers.semanticChunks(s, tbl(s, dir, "documents"), ChunkerOptions(maxTokens = 64, overlap = 0))
        .toDF()
        .select(chunkScalarCols: _*)
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    "i_chunk_recursive" -> ((s, dir) => {
      // LangChain-style recursive splitter over a deterministically
      // re-structured corpus (the synthetic docs are flat token runs:
      // inject a sentence end every 7th token — suppressed every
      // 35th, so some sentences exceed the budget and hard-split —
      // and a paragraph break every 23rd); budget 8 exercises all
      // three cascade levels (whole paragraphs, sentence bundles,
      // token-window hard splits)
      val toks = TextFunctions.tokens(col("text"))
      val structured = array_join(transform(toks, (t, i) =>
        when((i + 1) % 23 === 0, concat(t, lit(".\n\n")))
          .when((i + 1) % 7 === 0 && (i + 1) % 35 =!= 0, concat(t, lit(".")))
          .otherwise(t)), " ")
      Chunkers.recursiveChunks(
        tbl(s, dir, "documents").select(col("doc_id"), structured.as("text")),
        maxTokens = 8)
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    "i_enrich_summary" -> ((s, dir) => {
      Processors.withSummary(tbl(s, dir, "documents"), textCol = "text", maxWords = 20)
        .select(col("doc_id"), col("summary"))
        .orderBy(col("doc_id"))
    }),

    "i_enrich_keywords" -> ((s, dir) => {
      // compared surface is a joined string: the driver's pandas
      // comparer can't sort/hash array cells (same for the exploded
      // vector queries below)
      Processors.withKeywords(tbl(s, dir, "documents"),
          vocabulary = Seq("spark", "data", "join", "query", "stream", "table", "vector", "window"),
          textCol = "text", maxKeywords = 5)
        .select(col("doc_id"), array_join(col("keywords"), ",").as("keywords"))
        .orderBy(col("doc_id"))
    }),

    "i_enrich_classification" -> ((s, dir) => {
      Processors.withClassification(tbl(s, dir, "documents"),
          classes = Map(
            "analytics" -> Seq("query", "join", "agg", "group", "sort"),
            "storage" -> Seq("table", "row", "column", "part", "key"),
            "streaming" -> Seq("stream", "batch", "window", "watermark")
          ),
          textCol = "text")
        .select(col("doc_id"), col("classification"))
        .orderBy(col("doc_id"))
    }),

    "i_enrich_sentiment" -> ((s, dir) => {
      Processors.withSentiment(tbl(s, dir, "documents"), textCol = "text",
          positive = Seq("fast", "small", "big"), negative = Seq("slow", "dup"))
        .select(col("doc_id"), col("sentiment"))
        .orderBy(col("doc_id"))
    }),

    "i_enrich_imagealt" -> ((s, dir) => {
      // ImageAlternativeTextEnricher.cs over a mixed element set built
      // from the documents table: empty-alt images gain the
      // deterministic "image:<url>" caption, images with alt text and
      // non-image elements are untouched
      val elems = tbl(s, dir, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 3 === 2, lit("paragraph")).otherwise(lit("image")).as("kind"),
        concat(lit("![]("), col("source"), lit(")")).as("markdown"),
        when(col("doc_id") % 3 === 1, concat(lit("alt"), col("doc_id")))
          .otherwise(lit("")).as("text"))
      Processors.withImageAltText(elems)
        .select(col("doc_id"), col("kind"), col("text"))
        .orderBy(col("doc_id"))
    }),

    "i_vector_store" -> ((s, dir) => {
      val chunks = Chunkers.tokenChunks(tbl(s, dir, "documents"),
        ChunkerOptions(maxTokens = 64, overlap = 16))
        .withColumn("context", lit(""))
      // explode the (bit-reproducible) embedding to one (dim, val) row
      // per element — float→double is exact, so no rounding is needed
      // and the compared columns are all scalars
      VSW.toVectorRecords(chunks, dim = 16)
        .select(col("key"), col("content"), col("context"), col("documentid"),
          posexplode(col("embedding")).as(Seq("dim", "val")))
        .withColumn("val", col("val").cast("double"))
        .orderBy(col("documentid").cast("long"), col("key"), col("dim"))
    }),

    "i_pipeline_e2e" -> ((s, dir) => {
      IngestionPipeline.canonical.chunks(s, tbl(s, dir, "documents"))
        .select(col("doc_id"), col("chunk_id"), col("token_count"),
          col("summary"), col("sentiment"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    "q_approx_sketch" -> ((s, dir) => {
      // sketch aggregates: HLL distinct + t-digest style percentile —
      // at 100 TB these shuffle fixed-size sketches instead of keys.
      // Sketch VALUES are engine-specific, so the hard oracle checks
      // each sketch against its accuracy contract: HLL (rsd=0.02)
      // within 5% of exact distinct; approx p50 (accuracy=1000) has
      // rank inside [0.45n, 0.55n], verified by COUNTING rows around
      // the returned value in a second scan — an exact percentile() in
      // the same agg would buffer every group value in one reducer,
      // precisely the thing that cannot run at 100 TB. Sketches are
      // deterministic on fixed input, so the booleans are stable rows
      // the driver hash-compares against literal TRUE.
      val orders = tbl(s, dir, "orders")
      val sketched = orders
        .groupBy(col("o_orderpriority"))
        .agg(
          approx_count_distinct(col("o_custkey"), 0.02).as("approx_custs"),
          countDistinct(col("o_custkey")).as("exact_custs"),
          percentile_approx(col("o_totalprice"), lit(0.5), lit(1000)).as("p50_approx"),
          count(lit(1)).as("n_orders"))
        .localCheckpoint(true) // a handful of rows; consumed by both join sides
      val ranks = orders
        .join(broadcast(sketched.select(col("o_orderpriority"), col("p50_approx"))),
          Seq("o_orderpriority"))
        .groupBy(col("o_orderpriority"))
        .agg(
          sum(when(col("o_totalprice") < col("p50_approx"), 1L).otherwise(0L)).as("n_lt"),
          sum(when(col("o_totalprice") <= col("p50_approx"), 1L).otherwise(0L)).as("n_le"))
      sketched.join(ranks, Seq("o_orderpriority"))
        .select(
          col("o_orderpriority"), col("n_orders"), col("exact_custs"),
          (abs(col("approx_custs") - col("exact_custs")).cast("double")
            <= col("exact_custs").cast("double") * 0.05).as("hll_ok"),
          // the returned value's rank interval [n_lt, n_le] must
          // intersect the contract window around the true median
          (col("n_lt") <= col("n_orders") * 0.55
            && col("n_le") >= col("n_orders") * 0.45).as("p50_ok"))
        .orderBy(col("o_orderpriority"))
    }),

    // ---------------------------------------------- dedup family
    "d_dedup_exact" -> ((s, dir) => {
      Dedup.exactGroups(corpusWithDups(tbl(s, dir, "documents")))
        .orderBy(col("keeper"))
    }),

    "d_dedup_keep" -> ((s, dir) => {
      // full-corpus exact dedup: the SURVIVING rows (min doc_id per
      // distinct text), not just the duplicate groups
      Dedup.exactDedup(corpusWithDups(tbl(s, dir, "documents")))
        .select(col("doc_id"), length(col("text")).as("n_chars"))
        .orderBy(col("doc_id"))
    }),

    "d_dedup_url" -> ((s, dir) => {
      // URL-canonical dedup groups. The synthetic corpus has no URLs,
      // so derive scheme/www/case/query/trailing-slash VARIANTS of a
      // shared page key (doc_id mod 37 × mod 11) — the oracle mirrors
      // the derivation, the operator under test is the canonicalizer.
      val withUrl = tbl(s, dir, "documents").select(
        col("doc_id"),
        concat(
          when(col("doc_id") % 3 === 0, lit("http://"))
            .when(col("doc_id") % 3 === 1, lit("https://www."))
            .otherwise(lit("HTTPS://")),
          lit("ex"), (col("doc_id") % 37).cast("string"), lit(".com/p/"),
          (col("doc_id") % 11).cast("string"),
          when(col("doc_id") % 2 === 0, lit("?utm_source=feed")).otherwise(lit("/"))
        ).as("url"))
      Dedup.urlDedupGroups(withUrl).orderBy(col("canon_url"))
    }),

    "d_dedup_ngram" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(corpusWithDups(tbl(s, dir, "documents")), n = 3, threshold = 0.8)
        .orderBy(col("a"), col("b"))
    }),

    "d_dedup_recall" -> ((s, dir) => {
      // dedup-method calibration (the dedup twin of s_knn_recall):
      // MinHash-LSH pairs measured against the exact n-gram-Jaccard
      // ground truth on the same corpus + threshold — recall pins the
      // banding sensitivity (k=16, r=4 ⇒ s-curve midpoint ≈0.72 <
      // 0.8, so near-total recall is the contract), precision pins
      // the verify step. Both pipelines are the production operators;
      // the comparison joins two pair-sized tables, and recall_ok is
      // an exact integer inequality (n_hit·10 ≥ n_truth·9).
      val corpus = corpusWithDups(tbl(s, dir, "documents"))
      val truth = Dedup.ngramJaccardPairs(corpus, n = 3, threshold = 0.8)
        .select(col("a"), col("b")).localCheckpoint(true)
      val cand = Dedup.minhashLshPairs(corpus, n = 3, k = 16, rowsPerBand = 4,
          threshold = 0.8)
        .select(col("a"), col("b")).localCheckpoint(true)
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
        .crossJoin(truth.join(cand, Seq("a", "b"), "left_semi")
          .agg(count(lit(1)).as("n_hit")))
        .select(col("n_truth"), col("n_candidates"), col("n_hit"),
          round(col("n_hit").cast("double") / col("n_truth").cast("double"), 6)
            .as("recall"),
          round(col("n_hit").cast("double") / col("n_candidates").cast("double"), 6)
            .as("precision"),
          (col("n_hit") * 10 >= col("n_truth") * 9).as("recall_ok"))
    }),

    "d_dedup_sweep" -> ((s, dir) => {
      // threshold-tuning curve: pair/doc counts at 50..90% jaccard
      // from one candidate pass over the dup-injected corpus
      Dedup.dedupSweep(corpusWithDups(tbl(s, dir, "documents")), n = 3)
        .orderBy(col("t_bps"))
    }),

    "d_dedup_fuzzy" -> ((s, dir) => {
      // small-edit near-dups: every 10th doc reappears with one char
      // substituted at head position 5 (edit distance 1) on top of
      // corpusWithDups' exact (+1e6) and suffix-append (+2e6,
      // head-identical) variants — the typo'd-recrawl shape that
      // token-level Jaccard misses
      val docs = tbl(s, dir, "documents")
      val corpus = corpusWithDups(docs).union(
        docs.where(col("doc_id") % 10 === 0).select(
          (col("doc_id") + 3000000L).as("doc_id"),
          concat(substring(col("text"), 1, 4), lit("Z"),
            expr("substring(text, 6)")).as("text")))
      Dedup.fuzzyEditPairs(corpus, headLen = 64, segments = 3, maxDist = 2)
        .orderBy(col("a"), col("b"))
    }),

    "d_dedup_minhash" -> ((s, dir) => {
      Dedup.minhashLshPairs(corpusWithDups(tbl(s, dir, "documents")),
          n = 3, k = 16, rowsPerBand = 4, threshold = 0.8)
        .select(col("a"), col("b"), col("inter"), col("na"), col("nb"))
        .orderBy(col("a"), col("b"))
    }),

    "d_dedup_clusters" -> ((s, dir) => {
      // pairs → transitive dedup clusters: a~b and b~c must land in
      // ONE cluster even when (a,c) was never emitted as a pair
      val pairs = Dedup.ngramJaccardPairs(
        corpusWithDups(tbl(s, dir, "documents")), n = 3, threshold = 0.8)
      Dedup.connectedComponents(pairs).orderBy(col("doc_id"))
    }),

    "d_dedup_audit" -> ((s, dir) => {
      // the dedup REPORT: cluster-size histogram + removable-doc
      // counts (every production dedup run publishes this table
      // before anyone signs off on deleting data). Composes pairs →
      // transitive clusters → |cluster| histogram; singletons (docs
      // in no pair) are one anti-join count, so the histogram always
      // accounts for the whole corpus. All stages past pair-gen are
      // cluster-bounded.
      val corpus = corpusWithDups(tbl(s, dir, "documents"))
      val pairs = Dedup.ngramJaccardPairs(corpus, n = 3, threshold = 0.8)
      // cc feeds BOTH the histogram and the singleton anti-join —
      // without materializing it the whole pair-gen + CC loop would
      // execute twice (the §5 materialize-once rule; measured 13.5s →
      // ~3s at sf0.1). The table is docs-in-pairs-sized.
      val cc = Dedup.connectedComponents(pairs).localCheckpoint(true)
      val sizes = cc.groupBy(col("cluster")).agg(count(lit(1)).as("sz"))
      val hist = sizes.groupBy(col("sz").as("csize"))
        .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("docs"),
          sum(col("sz") - 1).as("removable"))
      val singles = corpus.select(col("doc_id"))
        .join(cc.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n"))
      hist.unionByName(singles.where(col("n") > 0)
          .select(lit(1L).as("csize"), col("n").as("n_clusters"),
            col("n").as("docs"), lit(0L).as("removable")))
        .orderBy(col("csize"))
    }),

    "d_split_hash" -> ((s, dir) => {
      // deterministic train/val/test split (80/10/10) by portable
      // content-id hash — reproducible across runs and cluster sizes,
      // no RNG; the standard leakage-safe split for training corpora
      tbl(s, dir, "documents")
        .withColumn("h",
          pmod(graft.functions.TextFunctions.portableHash(col("doc_id").cast("string")), lit(100)))
        .select(col("doc_id"),
          when(col("h") < 80, "train").when(col("h") < 90, "val")
            .otherwise("test").as("split"))
        .orderBy(col("doc_id"))
    }),

    "d_dedup_survivors" -> ((s, dir) => {
      // near-dup dedup END-TO-END: pairs → transitive clusters → keep
      // the cluster-min survivor, unpaired documents pass through
      // untouched (the full dedupByPairs path a pipeline actually runs)
      val corpus = corpusWithDups(tbl(s, dir, "documents"))
      val pairs = Dedup.ngramJaccardPairs(corpus, n = 3, threshold = 0.8)
      Dedup.dedupByPairs(corpus, pairs)
        .select(col("doc_id"), length(col("text")).as("n_chars"))
        .orderBy(col("doc_id"))
    }),

    "d_decontaminate" -> ((s, dir) => {
      // benchmark decontamination: every 25th document stands in for a
      // held-out eval set; any corpus doc (incl. the induced dups of
      // those docs) sharing an 8-gram with it is flagged
      val docs = tbl(s, dir, "documents")
      Corpus.decontaminate(
        corpusWithDups(docs), docs.where(col("doc_id") % 25 === 0), n = 8)
        .orderBy(col("doc_id"))
    }),

    "d_decontaminate_semantic" -> ((s, dir) => {
      // embedding-similarity decontamination: every 200th embedding
      // stands in for the eval set; any corpus vector (incl. the
      // induced scaled dups) with cosine >= 0.9 to ANY eval vector is
      // flagged — the paraphrase-catching companion to the n-gram
      // check in d_decontaminate
      val emb = tbl(s, dir, "embeddings")
      Corpus.decontaminateSemantic(
        vecsWithDups(emb), emb.where(col("vec_id") % 200 === 0), threshold = 0.9)
        .orderBy(col("vec_id"))
    }),

    "d_cut_spans" -> ((s, dir) => {
      // flag → cut end-to-end: remove every cross-document repeated
      // 8-token span from the dup-injected corpus; unflagged documents
      // pass through (whitespace-normalized), and the removed-token
      // count is part of the compared surface
      val corpus = corpusWithDups(tbl(s, dir, "documents"))
      Corpus.cutSpans(corpus, Corpus.repeatedSpans(corpus, n = 8, minDocs = 2))
        .orderBy(col("doc_id"))
    }),

    "d_dedup_lines" -> ((s, dir) => {
      // C4-style line dedup over a lineified dup-injected corpus:
      // texts re-wrapped at 8 tokens per line, so every full line of a
      // %10 doc recurs in its base/+1e6/+2e6 variants (3 distinct docs
      // = minDocs) and gets cut, while the +2e6 variant's trailing
      // " graftdup" keeps its last line unique
      val corpus = corpusWithDups(tbl(s, dir, "documents"))
        .withColumn("t", graft.functions.TextFunctions.tokens(col("text")))
        .select(col("doc_id"),
          array_join(transform(
            sequence(lit(0), greatest(lit(1), expr("(size(t) + 7) div 8")) - 1),
            i => array_join(slice(col("t"), i * lit(8) + lit(1), lit(8)), " ")),
            "\n").as("text"))
        // materialized once: the lineification is query-side input
        // synthesis (real corpora store lines on disk); without this
        // the tokens+slice chain re-evaluates for each of the
        // operator's three passes over its input
        .localCheckpoint(true)
      Corpus.dedupLines(corpus, minDocs = 3).orderBy(col("doc_id"))
    }),

    "d_decontaminate_spans" -> ((s, dir) => {
      // span-level decontamination: the exact token ranges overlapping
      // the eval set's 8-grams (same benchmark derivation as
      // d_decontaminate — every 25th doc stands in for the eval set)
      val docs = tbl(s, dir, "documents")
      Corpus.decontaminateSpans(
        corpusWithDups(docs), docs.where(col("doc_id") % 25 === 0), n = 8)
        .orderBy(col("doc_id"), col("span_start"))
    }),

    "d_repeated_spans" -> ((s, dir) => {
      // substring-level dedup: 8-token windows repeated across >= 2
      // documents, merged into maximal per-document spans — the induced
      // dup corpus repeats every 10th doc verbatim and with one token
      // appended, so those documents flag end-to-end spans
      Corpus.repeatedSpans(corpusWithDups(tbl(s, dir, "documents")), n = 8, minDocs = 2)
        .orderBy(col("doc_id"), col("span_start"))
    }),

    "d_pack_sequences" -> ((s, dir) => {
      // training-sequence packing: 256-token budget, 8 shards (each
      // shard packs independently — no global window at any scale)
      Corpus.packSequences(tbl(s, dir, "documents"), tokensPerSeq = 256, nShards = 8)
        .orderBy(col("doc_id"))
    }),

    "d_pack_bins" -> ((s, dir) => {
      // FFD whole-document packing, d_pack_sequences' budget — 64
      // shards (not 8): the oracle replays the per-shard first-fit
      // fold with a recursive CTE whose depth is the LARGEST SHARD,
      // so shard count bounds oracle cost at validation scales
      Corpus.packBins(tbl(s, dir, "documents"), tokensPerBin = 256, nShards = 64)
        .orderBy(col("doc_id"))
    }),

    "d_sample_mix" -> ((s, dir) => {
      // stratified corpus mixing: per-language keep rates in basis
      // points, deterministic hash membership (en all, zh default)
      Corpus.stratifiedSample(tbl(s, dir, "documents"), "lang",
        Map("en" -> 10000, "de" -> 5000, "fr" -> 2500, "es" -> 1000),
        defaultBps = 500)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    "d_split_leakage" -> ((s, dir) => {
      // split-leakage audit: near-dup pairs that STRADDLE the
      // hash-split boundary — each one leaks train text into eval.
      // Pure composition: ngram pairs ⋈ split assignment twice (both
      // joins are pairs-bounded, so AQE broadcasts them), demonstrating
      // why dedup must run before (or be checked against) the split.
      val docs = corpusWithDups(tbl(s, dir, "documents"))
      val split = docs.select(col("doc_id"),
        when(pmod(graft.functions.TextFunctions.portableHash(
          col("doc_id").cast("string")), lit(100)) < 80, "train")
          .when(pmod(graft.functions.TextFunctions.portableHash(
            col("doc_id").cast("string")), lit(100)) < 90, "val")
          .otherwise("test").as("split"))
      Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.8)
        .join(split.select(col("doc_id").as("a"), col("split").as("split_a")), Seq("a"))
        .join(split.select(col("doc_id").as("b"), col("split").as("split_b")), Seq("b"))
        .where(col("split_a") =!= col("split_b"))
        .select(col("a"), col("b"), col("split_a"), col("split_b"))
        .orderBy(col("a"), col("b"))
    }),

    "d_dedup_incremental" -> ((s, dir) => {
      // incremental dedup: every 10th doc re-arrives at id+5M as an
      // exact copy — pairs touch the delta only; the existing corpus
      // is scanned, never self-paired (old↔old dups do NOT appear)
      val docs = tbl(s, dir, "documents")
      val delta = docs.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 500000000L).as("doc_id"), col("text"))
      Dedup.incrementalNgramPairs(docs, delta, n = 3, threshold = 0.8)
        .orderBy(col("a"), col("b"))
    }),

    "d_dedup_retract" -> ((s, dir) => {
      // the index DELETE leg (r12), oracle-gated end-to-end: build a
      // scratch index over the WHOLE corpus, RETRACT every doc_id%7==1
      // (removeFromDedupIndex — file-level COW, victims' band keys
      // recomputed from their stored signatures), then probe a delta
      // that includes RE-ARRIVALS of the retracted texts. The oracle
      // replays build+probe in SQL over a store that never contained
      // the victims — so the hash proves retraction leaves the index
      // observationally identical to never having indexed them: victim
      // re-arrivals pair only with surviving near-dups, never with the
      // retracted ids.
      val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val victims = docs.where(col("doc_id") % 7 === 1).select(col("doc_id"))
      val delta = docs
        .where(col("doc_id") % 10 === 0 || col("doc_id") % 7 === 1)
        .select((col("doc_id") + 500000000L).as("doc_id"), col("text"))
      val idx = java.nio.file.Files.createTempDirectory("graft-dedup-retract")
      try {
        Dedup.writeDedupIndex(docs, idx.toString)
        Dedup.removeFromDedupIndex(s, idx.toString, victims)
        Dedup.probeDedupIndex(s, idx.toString, delta)
          .orderBy(col("a"), col("b"))
          .localCheckpoint(true) // pin before the scratch index deletes
      } finally {
        java.nio.file.Files.walk(idx)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      }
    }),

    "d_dedup_index" -> ((s, dir) => {
      // persisted-LSH-index probe: the corpus's band keys + shingle
      // signatures are built ONCE into a scratch index (one text
      // pass), then the delta (every 10th doc re-arriving at +5e8)
      // dedups purely against stored index rows — corpus text is
      // never read during the probe, the property that makes
      // incremental dedup O(delta + index) instead of O(corpus text)
      // at 100 TB. Same (a,b,inter,na,nb) contract as d_dedup_minhash;
      // the oracle replays build + probe from both corpora in SQL.
      val docs = tbl(s, dir, "documents")
      val delta = docs.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 500000000L).as("doc_id"), col("text"))
      val idx = java.nio.file.Files.createTempDirectory("graft-dedup-index")
      try {
        Dedup.writeDedupIndex(docs, idx.toString)
        Dedup.probeDedupIndex(s, idx.toString, delta)
          .orderBy(col("a"), col("b"))
          .localCheckpoint(true) // pin before the scratch index deletes
      } finally {
        java.nio.file.Files.walk(idx)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      }
    }),

    "d_snapshot_diff" -> ((s, dir) => {
      // incremental-ingestion delta plan: v2 drops ids ≡3 (mod 17),
      // revises text on ids ≡5 (mod 11), adds ids ≡7 (mod 13) under
      // id+10M — the diff classifies every non-identical id. Digest
      // compare in Spark (sha-256, text never joins); the oracle
      // compares text directly
      val old = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val v2 = old.where(col("doc_id") % 17 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 5, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")).as("text"))
        .unionByName(old.where(col("doc_id") % 13 === 7)
          .select((col("doc_id") + lit(1000000000L)).as("doc_id"), col("text")))
      Corpus.snapshotDiff(old, v2).orderBy(col("doc_id"))
    }),

    "d_cdc_apply" -> ((s, dir) => {
      // lakehouse-MERGE twin: deterministic changelog over documents —
      // ids ≡0 (mod 7) get TWO updates (seq 10·id and 10·id+1; the
      // later " v2" text must win), ids ≡0 (mod 11) a delete at
      // 10·id+2 (for ids ≡0 (mod 77) it outranks both updates —
      // last-writer-wins across op kinds), ids ≡0 (mod 13) an insert
      // under id+5M. applyChangelog picks the highest-seq op per id
      // via a WindowGroupLimit-pre-pruned window over the DELTA only;
      // the base branch anti-joins the touched keys, corpus unshuffled
      val base = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      Corpus.applyChangelog(base, cdcChangelog(base))
        .select(col("doc_id"), col("origin"), sha2(col("text"), 256).as("digest"))
        .orderBy(col("doc_id"))
    }),

    "d_scd2_build" -> ((s, dir) => {
      // SCD-2 history over the same induced changelog: one version
      // row per op with [valid_from_seq, valid_to_seq) intervals,
      // open-ended + non-delete ⇒ is_current — the temporal twin of
      // d_cdc_apply (audit / point-in-time reads). One delta-keyed
      // window; the corpus is never touched.
      val base = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      Corpus.scd2(cdcChangelog(base))
        .orderBy(col("doc_id"), col("version"))
    }),

    "q_time_travel" -> ((s, dir) => {
      // point-in-time reads off the SCD-2 history (the payoff of
      // d_scd2_build: "what did the table look like at seq T"): state
      // at T = versions with valid_from ≤ T < valid_to, reported at
      // half-history and full-history marks — live/deleted/inserted/
      // untouched accounting that must tie out to the base count.
      // The history table is changes-sized (≪ corpus); the base is
      // touched only for one count and one anti-set cardinality.
      val base = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val hist = Corpus.scd2(cdcChangelog(base)).localCheckpoint(true)
      val tdf = hist.agg(max(col("valid_from_seq")).as("sm"))
        .select(explode(array(expr("sm div 2"), col("sm"))).as("as_of"))
      val baseN = base.agg(count(lit(1)).as("n_base"))
      val cur = hist.crossJoin(broadcast(tdf))
        .where(col("valid_from_seq") <= col("as_of") &&
          (col("valid_to_seq").isNull || col("valid_to_seq") > col("as_of")))
        .groupBy(col("as_of"))
        .agg(sum(when(col("op") =!= "D" && col("doc_id") < 500000000L, 1L)
          .otherwise(0L)).as("n_live_changed"),
          sum(when(col("op") === "D", 1L).otherwise(0L)).as("n_deleted"),
          sum(when(col("op") =!= "D" && col("doc_id") >= 500000000L, 1L)
            .otherwise(0L)).as("n_inserted"))
      val touched = hist.where(col("doc_id") < 500000000L)
        .crossJoin(broadcast(tdf))
        .where(col("valid_from_seq") <= col("as_of"))
        .groupBy(col("as_of"))
        .agg(countDistinct(col("doc_id")).as("n_touched"))
      cur.join(touched, Seq("as_of"))
        .crossJoin(broadcast(baseN))
        .select(col("as_of"), col("n_live_changed"), col("n_deleted"),
          col("n_inserted"),
          (col("n_base") - col("n_touched")).as("n_untouched"),
          (col("n_base") - col("n_touched") + col("n_live_changed") +
            col("n_inserted")).as("total_live"))
        .orderBy(col("as_of"))
    }),

    "q_benford" -> ((s, dir) => {
      // first-significant-digit distribution vs Benford's law + χ²
      // (the classic fabricated-numbers audit): digit via exact
      // string head (no float log), observed shares and the literal
      // Benford expectations, χ² folded over the 9-digit table in
      // CONTRACTED digit order (t_entropy float contract). One
      // map-combined 9-row aggregate.
      val e = tbl(s, dir, "orders")
        .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("cents") > 0)
        .select(expr("cast(substring(cast(cents as string), 1, 1) as int)").as("digit"))
      val obs = e.groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val tot = obs.agg(sum(col("n")).as("nt"))
      val pExpr = (1 to 9).map(d => (d, math.log10(1.0 + 1.0 / d)))
        .map { case (d, p) => s"WHEN digit = $d THEN ${p}D" }
        .mkString("CASE ", " ", " END")
      val withP = obs.crossJoin(broadcast(tot))
        .withColumn("p", expr(pExpr))
        .withColumn("term",
          (col("n").cast("double") - col("nt").cast("double") * col("p")) *
            (col("n").cast("double") - col("nt").cast("double") * col("p")) /
            (col("nt").cast("double") * col("p")))
      val chi2 = withP
        .agg(sort_array(collect_list(struct(col("digit"), col("term").as("t"))))
          .as("a"))
        .select(aggregate(col("a"), lit(0.0),
          (acc, x) => acc + x.getField("t")).as("chi2"))
      withP.crossJoin(broadcast(chi2))
        .select(col("digit"), col("n"),
          round(col("n").cast("double") / col("nt").cast("double"), 6).as("pct"),
          round(col("p"), 6).as("benford_pct"),
          round(col("chi2"), 6).as("chi2"),
          (col("chi2") > 15.507).as("reject_benford"))
        .orderBy(col("digit"))
    }),

    "d_corpus_overlap" -> ((s, dir) => {
      // provenance audit: pairwise 8-gram fingerprint overlap between
      // sources — shared distinct windows, per-source totals, Jaccard
      // (rounded 6 dp; the division operands are exact integers)
      Corpus.corpusOverlap(tbl(s, dir, "documents"), groupCol = "source", n = 8)
        .orderBy(col("src_a"), col("src_b"))
    }),

    "d_sample_balanced" -> ((s, dir) => {
      // quota sampling: at most 40 docs per language, lowest portable
      // content-id hashes win — the count-budget twin of d_sample_mix
      Corpus.balancedSample(tbl(s, dir, "documents"), "lang", cap = 40)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("lang"), col("doc_id"))
    }),

    "d_sample_community" -> ((s, dir) => {
      // community-quota subsample — the cross-family composition the
      // two pieces exist for: LPA communities (graph built on the
      // documents' OWN doc_ids — blocks of 10, weak bridges; ids need
      // not be contiguous, edge targets needn't be real docs, every
      // doc is a src so every doc gets a label) cap representation at
      // 4 docs per community, membership by lowest portable hash —
      // the RNG-free balancedSample rule, stratified by DISCOVERED
      // community instead of a given column (per-domain caps in crawl
      // curation work exactly like this).
      val docs = tbl(s, dir, "documents")
      val ids = docs.select(col("doc_id").cast("long").as("id"))
      val labels = Graph.labelPropagation(
        plantedBlockEdges(ids, wrap = None), rounds = 3)
      val tagged = docs.join(
        labels.select(col("node").as("doc_id"), col("label").as("community")),
        Seq("doc_id"))
      Corpus.balancedSample(tagged, "community", cap = 4)
        .select(col("doc_id"), col("community"), col("lang"))
        .orderBy(col("community"), col("doc_id"))
    }),

    "d_sample_weighted" -> ((s, dir) => {
      // A-Res weighted reservoir: 30 docs per source, inclusion
      // probability proportional to token count — the token-budget
      // sample (weight = a quality/DSIR score works the same way)
      Corpus.weightedSample(tbl(s, dir, "documents"),
          TextAnalysis.tokenCount(col("text")), k = 30, stratumCol = "source")
        .orderBy(col("source"), col("rk"))
    }),

    "d_sample_temperature" -> ((s, dir) => {
      // XLM-R-style temperature mixing: α=0.5 flattens the language
      // head; quotas from the driver-side contracted-order fold,
      // membership = lowest portable hashes (RNG-free, reproducible)
      Corpus.temperatureSample(tbl(s, dir, "documents"), "lang",
          alpha = 0.5, target = 300L)
        .orderBy(col("doc_id"))
    }),

    "d_dedup_containment" -> ((s, dir) => {
      // corpus + induced excerpts: every 20th doc reappears at
      // id+3000000 as its first 12 tokens. A verbatim excerpt of a long
      // doc has tiny symmetric jaccard (union ≈ the long doc) but
      // containment 1.0 — exactly the quote/boilerplate case this
      // operator exists to catch.
      val docs = tbl(s, dir, "documents")
      val excerpts = docs.where(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          array_join(slice(graft.functions.TextFunctions.tokens(col("text")), 1, 12), " ").as("text"))
      Dedup.containmentPairs(corpusWithDups(docs).unionByName(excerpts),
          n = 3, threshold = 0.9)
        .orderBy(col("a"), col("b"))
    }),

    "d_dedup_simhash" -> ((s, dir) => {
      Dedup.simhashPairs(corpusWithDups(tbl(s, dir, "documents")), maxHamming = 3)
        .orderBy(col("a"), col("b"))
    }),

    "d_dedup_embedding" -> ((s, dir) => {
      Dedup.embeddingCosinePairs(vecsWithDups(tbl(s, dir, "embeddings")),
          threshold = 0.9, nPlanes = 8)
        .select(col("a"), col("b"), round(col("cos"), 6).as("cos"))
        .orderBy(col("a"), col("b"))
    }),

    "d_dedup_semantic" -> ((s, dir) => {
      // SemDeDup over the dup-injected vector table: within-cluster
      // cosine ε-ball dedup, lowest id survives. Cluster count scales
      // as ⌈√N⌉ (floor 16) — expected cluster size √N keeps the
      // within-cluster pair work at N^1.5/2 total instead of N²/2C
      // with a fixed C, the knob the paper turns for web scale. The
      // oracle re-derives the count-dependent centroid set (sqrt/ceil
      // are IEEE-exact in both engines), the argmax assignment, and
      // the NOT-IN survivor rule; output is integers only, so the
      // gate needs no float rounding at all
      val v = vecsWithDups(tbl(s, dir, "embeddings"))
      val c = math.max(16, math.ceil(math.sqrt(v.count().toDouble)).toInt)
      Dedup.semanticDedup(v, nClusters = c, threshold = 0.95)
        .orderBy(col("vec_id"))
    }),

    // ---------------------------------------------- similarity search
    "s_knn_bruteforce" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val query = emb.where(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      Similarity.knnBruteForce(emb, query, k = 10)
        .select(col("vec_id"), round(col("cos"), 6).as("cos"))
    }),

    "s_knn_lsh" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      // nPlanes pinned for oracle parity (the library default 0
      // auto-scales from a corpus count — Similarity.autoPlanes)
      Similarity.knnLsh(emb, queries, dim = 64, k = 5, nPlanes = 8)
        .select(col("query_id"), col("rank"), col("nbr_id"), round(col("cos"), 6).as("cos"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "s_knn_ivf" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      Similarity.knnIvf(emb, emb.where(col("vec_id") < 5), k = 5, nLists = 8, nProbe = 4)
        .select(col("query_id"), col("rank"), col("nbr_id"), round(col("cos"), 6).as("cos"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "s_knn_ivf_trained" -> ((s, dir) => {
      // Lloyd-trained IVF (trainIters > 0): same search plan as
      // s_knn_ivf, centroids refined by two training iterations — the
      // oracle re-derives the training (2 unrolled assign/mean rounds)
      // so the trained path is hash-gated end-to-end, not just rows>0
      val emb = tbl(s, dir, "embeddings")
      Similarity.knnIvf(emb, emb.where(col("vec_id") < 5), k = 5, nLists = 8,
          nProbe = 4, trainIters = 2)
        .select(col("query_id"), col("rank"), col("nbr_id"), round(col("cos"), 6).as("cos"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "s_mutual_knn" -> ((s, dir) => {
      // reciprocal nearest neighbors: pairs where EACH side ranks the
      // other in its LSH top-5 — the high-precision near-dup gate
      // (one-directional kNN flags hub vectors as neighbors of
      // everything; mutuality kills that asymmetry — the mutual-NN
      // filter of image-dedup and SemDeDup pipelines). Ranking is on
      // the exact integer micro-cosine (Similarity.mutualKnn) — a
      // near-dup corpus puts a vector and its scaled copy within
      // 1e-9 cosine of third parties, where raw double ordering is
      // last-ulp noise across engines.
      // maxDocsPerBucket = MaxValue: the DuckDB oracle self-joins ALL
      // bucket members, so the neighbor-side hot-bucket cap must be
      // provably inert here — an Int.MaxValue cap makes `hot` empty by
      // construction at ANY gated scale (no bucket can exceed it), so
      // Spark and oracle candidate sets are identical and the capped
      // path can never silently diverge the hash gate. The cap path
      // itself is spec-covered (DedupSimilaritySpec "mutualKnn cap").
      Similarity.mutualKnn(vecsWithDups(tbl(s, dir, "embeddings")), k = 5, nPlanes = 12,
          maxDocsPerBucket = Int.MaxValue)
        .orderBy(col("a"), col("b"))
    }),

    "s_mutual_knn_capped" -> ((s, dir) => {
      // the PRODUCTION hot-bucket guard, oracle-faced (r9 verdict
      // item 5): a deliberately coarse 4-plane space (16 buckets —
      // mean occupancy ≥34 at every gated scale, so the cap BINDS
      // everywhere) with maxDocsPerBucket = 16. The oracle replays
      // the deterministic keep-rule — per (table, bucket), neighbors
      // are the top-16 by (portableHash(vec_id:":":table), vec_id) —
      // in SQL, so capped-path exactness is hash-gated, not spec-only
      // (s_mutual_knn keeps the cap provably inert for full-recall
      // parity; this row proves the guard itself).
      Similarity.mutualKnn(vecsWithDups(tbl(s, dir, "embeddings")), k = 5,
          nPlanes = 4, maxDocsPerBucket = 16)
        .orderBy(col("a"), col("b"))
    }),

    "s_embedding_outliers" -> ((s, dir) => {
      // embedding OOD audit: per-vector sum of squared per-dimension
      // z-scores (the diagonal-Mahalanobis screen for corrupted /
      // out-of-family vectors — a zeroed, clipped, or wrong-model
      // embedding lights up immediately), top 20. Exactness: coords
      // quantize to exact integer micros; per-dim moments are
      // decimal-exact; each dim's term is the exact-integer ratio
      // (n·m − S)²/(n·Q − S²) folded in ascending-dim order
      // (contracted). Map-only + a broadcast 64-row stat fold +
      // TakeOrdered.
      val emb = tbl(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"),
            x => round(x.cast("double") * 1000000.0).cast("long")).as("m"))
      val st = emb.select(posexplode(col("m")).as(Seq("d", "x")))
        .groupBy(col("d")).agg(count(lit(1)).as("n"),
          sum(col("x")).as("sm"),
          sum((col("x") * col("x")).cast("decimal(38,0)")).as("q"))
      val stRow = st
        .agg(sort_array(collect_list(struct(col("d"), col("n"), col("sm"),
          col("q")))).as("s"))
        .select(col("s")(0).getField("n").as("n"),
          transform(col("s"), t => t.getField("sm")).as("sms"),
          transform(col("s"), t => t.getField("q").cast("double")).as("qs"))
      val score = aggregate(
        sequence(lit(0), size(col("m")) - 1), lit(0.0), (acc, i) => {
          val mi = element_at(col("m"), i + 1).cast("double")
          val si = element_at(col("sms"), i + 1).cast("double")
          val qi = element_at(col("qs"), i + 1)
          val nD = col("n").cast("double")
          val den = nD * qi - si * si
          acc + when(den > 0, (nD * mi - si) * (nD * mi - si) / den)
            .otherwise(lit(0.0))
        })
      emb.crossJoin(broadcast(stRow))
        .select(col("vec_id"), round(score, 6).as("ood_score"))
        .orderBy(col("ood_score").desc, col("vec_id"))
        .limit(20)
    }),

    "s_sq8" -> ((s, dir) => {
      // int8 scalar-quantization audit on the known near-dup pairs:
      // full-precision vs dequantized cosine and the gap — the "is 4×
      // embedding compression safe" table (Similarity.sq8Audit; FAISS
      // SQ8 shape). Dim stats broadcast; the cosine pass is
      // pairs-bounded.
      val vecs = vecsWithDups(tbl(s, dir, "embeddings"))
      val pairs = vecs.where(col("vec_id") >= 100000000L)
        .select((col("vec_id") - 100000000L).as("a"), col("vec_id").as("b"))
      Similarity.sq8Audit(vecs, pairs).orderBy(col("a"))
    }),

    "s_silhouette" -> ((s, dir) => {
      // cluster-quality audit of the IVF partitioning itself:
      // simplified silhouette (nearest vs runner-up centroid) per
      // list over the same modulo-sampled centroids s_knn_ivf
      // searches — low mean_sil lists are boundary-heavy and explain
      // ANN recall loss. Micro-integer aggregates (order-free);
      // corpus work is map-only + one bounded aggregate.
      Similarity.silhouette(tbl(s, dir, "embeddings"), nLists = 8)
        .orderBy(col("list_id"))
    }),

    "s_knn_pq" -> ((s, dir) => {
      // product quantization: corpus collapses to m=8 sub-codes over a
      // 16-entry deterministic codebook; ADC distance ranks. The
      // oracle re-derives codebooks, encoding, and the ADC sums with
      // identical fold order — hash-exact, like s_knn_ivf
      val emb = tbl(s, dir, "embeddings")
      Similarity.knnPq(emb, emb.where(col("vec_id") < 5), k = 5,
          m = 8, nCodes = 16, dim = 64)
        .select(col("query_id"), col("rank"), col("nbr_id"),
          round(col("dist"), 6).as("dist"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "s_knn_ivfpq" -> ((s, dir) => {
      // the FAISS-style composition: IVF list pruning × PQ codes,
      // ADC-scored — oracle composes the two exact derivations
      val emb = tbl(s, dir, "embeddings")
      Similarity.knnIvfPq(emb, emb.where(col("vec_id") < 5), k = 5,
          nLists = 8, nProbe = 4, m = 8, nCodes = 16, dim = 64)
        .select(col("query_id"), col("rank"), col("nbr_id"),
          round(col("dist"), 6).as("dist"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "s_mmr_rerank" -> ((s, dir) => {
      // MMR-diversified top-5 from a 20-candidate pool, λ=0.7 — the
      // oracle unrolls the 5 greedy picks as plain CTE steps; output
      // is ids-only, so the hash gate pins the entire scoring path
      val emb = tbl(s, dir, "embeddings")
      Similarity.mmrSearch(emb, emb.where(col("vec_id") < 5),
          k = 5, poolSize = 20, lambda = 0.7)
        .orderBy(col("query_id"), col("rank"))
    }),

    "s_bm25" -> ((s, dir) => {
      // BM25 lexical retrieval, the keyword twin of the ANN family:
      // queries are the first-four-token prefixes of docs 0-2, scored
      // over the whole corpus. Ranking is over the 6-dp-rounded score
      // (the per-doc sum's association order is engine-dependent),
      // ties to the lowest doc_id — reproducible across engines
      val docs = tbl(s, dir, "documents")
      val queries = docs.where(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"),
          array_join(slice(TextFunctions.tokens(lower(col("text"))), 1, 4), " ")
            .as("text"))
      Retrieval.bm25Search(docs, queries, k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    "s_hybrid_rrf" -> ((s, dir) => {
      // hybrid search: BM25 lexical ranks fused with brute-force
      // cosine vector ranks by reciprocal-rank fusion (1/(60+rank) —
      // exact rationals, fixed two-term sum → bit-deterministic, no
      // rounding). Queries 0-2 drive both sources; the two corpora
      // (documents, embeddings) share the low id range, so the fused
      // list genuinely interleaves both signals
      val docs = tbl(s, dir, "documents")
      val emb = tbl(s, dir, "embeddings")
      val qTxt = docs.where(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"),
          array_join(slice(TextFunctions.tokens(lower(col("text"))), 1, 4), " ")
            .as("text"))
      val lex = Retrieval.bm25Search(docs, qTxt, k = 10)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val vec = Similarity.knnBruteForceBatch(emb, emb.where(col("vec_id") < 3), k = 10)
        .select(col("query_id"), col("nbr_id").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(lex, vec, k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    "s_knn_recall" -> ((s, dir) => {
      // ANN recall contract: LSH and IVF top-k overlap against the
      // brute-force ground truth, per query — the accuracy twin of
      // q_approx_sketch's sketch contract. The oracle recomputes the
      // same integers, and the booleans pin the recall floor the
      // bucketing must clear (bucketing is oracle-exact elsewhere;
      // recall is the property a USER cares about).
      val emb = tbl(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 10)
      val k = 10
      val ground = Similarity.knnBruteForceBatch(emb, queries, k)
        .select(col("query_id"), col("nbr_id"))
      def overlap(ann: DataFrame, name: String) = ann
        .select(col("query_id"), col("nbr_id"))
        .join(ground, Seq("query_id", "nbr_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as(name))
      // bucketing sized to the corpus: 2^4 buckets x 4 independent
      // tables (8 planes over a few hundred vectors leaves ~1 vector
      // per bucket and near-zero candidates — the first thing this
      // contract caught); 5 of 8 IVF lists probed
      val lsh = overlap(
        Similarity.knnLsh(emb, queries, dim = 64, k = k, nPlanes = 4, nTables = 8),
        "lsh_overlap")
      val ivf = overlap(Similarity.knnIvf(emb, queries, k = k, nLists = 8, nProbe = 5),
        "ivf_overlap")
      // floors, not aspirations: the synthetic embeddings are near-
      // uniform random, so true cosine neighbors sit barely above the
      // noise floor and NO bucketing scheme recalls them like it would
      // clustered real-world vectors — measured at sf0.01: lsh 3-6/10
      // (16x candidate reduction), ivf 6-10/10 (5 of 8 lists probed).
      // The booleans pin those floors so a bucketing regression
      // (wrong seed, nested tables, empty probe) trips the oracle.
      queries.select(col("vec_id").as("query_id"))
        .join(lsh, Seq("query_id"), "left")
        .join(ivf, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("lsh_overlap"), lit(0L)).as("lsh_overlap"),
          coalesce(col("ivf_overlap"), lit(0L)).as("ivf_overlap"),
          (coalesce(col("lsh_overlap"), lit(0L)) >= 3).as("lsh_ok"),
          (coalesce(col("ivf_overlap"), lit(0L)) >= 5).as("ivf_ok"))
        .orderBy(col("query_id"))
    }),

    "s_rank_metrics" -> ((s, dir) => {
      // retrieval-quality metrics: reciprocal rank + average
      // precision of the LSH ranking against the brute-force cosine
      // ground truth — s_knn_recall counts WHAT was found, this
      // scores WHERE it landed (the MRR/MAP row a retrieval change
      // is judged by). Same bucketing as s_knn_recall; metric math
      // is queries×k-bounded with contracted-order term folds
      // (Eval.rankMetrics), so the doubles are bit-exact.
      val emb = tbl(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 10)
      val k = 10
      val ground = Similarity.knnBruteForceBatch(emb, queries, k)
        .select(col("query_id"), col("nbr_id"))
      val lsh = Similarity.knnLsh(emb, queries, dim = 64, k = k,
          nPlanes = 4, nTables = 8)
        .select(col("query_id"), col("nbr_id"), col("rank"))
      queries.select(col("vec_id").as("query_id"))
        .join(Eval.rankMetrics(lsh, ground, k), Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_rel"), lit(0L)).as("n_rel"),
          coalesce(col("rr"), lit(0.0)).as("rr"),
          coalesce(col("ap"), lit(0.0)).as("ap"))
        .orderBy(col("query_id"))
    }),

    "s_ivf_probe_curve" -> ((s, dir) => {
      // the IVF TUNING CURVE: recall@10 vs nProbe ∈ {1,2,4,8} against
      // brute-force ground truth — the "how many probes buy 95%
      // recall" table every ANN deployment reads before picking its
      // latency/recall point. Four probe settings share one ground-
      // truth pass; recall is an exact integer ratio divided once.
      val emb = tbl(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 10)
      val k = 10
      val ground = Similarity.knnBruteForceBatch(emb, queries, k)
        .select(col("query_id"), col("nbr_id"))
        .localCheckpoint(true)
      val nq = ground.select(col("query_id")).distinct().count()
      Seq(1, 2, 4, 8).map { probe =>
        Similarity.knnIvf(emb, queries, k = k, nLists = 8, nProbe = probe)
          .select(col("query_id"), col("nbr_id"))
          .join(ground, Seq("query_id", "nbr_id"), "left_semi")
          .agg(count(lit(1)).as("n_hit"))
          .select(lit(probe).as("n_probe"), lit(nq).as("n_queries"),
            col("n_hit"),
            round(col("n_hit").cast("double") /
              lit((nq * k).toDouble), 6).as("recall"))
      }.reduce(_ unionByName _)
        .orderBy(col("n_probe"))
    }),

    "s_ndcg" -> ((s, dir) => {
      // nDCG@10 of the LSH ranking vs brute-force ground truth — the
      // position-discounted metric beside s_rank_metrics' MRR/AP
      // (Eval.ndcg; ln-shaped discounts so both engines compute the
      // same doubles, contracted folds, 6dp). Same bucketing as
      // s_knn_recall; metric work queries×k-bounded.
      val emb = tbl(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 10)
      val k = 10
      val ground = Similarity.knnBruteForceBatch(emb, queries, k)
        .select(col("query_id"), col("nbr_id"))
      val lsh = Similarity.knnLsh(emb, queries, dim = 64, k = k,
          nPlanes = 4, nTables = 8)
        .select(col("query_id"), col("nbr_id"), col("rank"))
      queries.select(col("vec_id").as("query_id"))
        .join(Eval.ndcg(lsh, ground, k), Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_rel"), lit(0L)).as("n_rel"),
          coalesce(col("ndcg"), lit(0.0)).as("ndcg"))
        .orderBy(col("query_id"))
    }),

    "s_semantic_search" -> ((s, dir) => {
      // end-to-end RAG search (reference SemanticSearch.cs): ingest →
      // vector records → embed the query text → top-10 by cosine
      val chunks = Chunkers.tokenChunks(tbl(s, dir, "documents"),
        ChunkerOptions(maxTokens = 64, overlap = 16))
        .withColumn("context", lit(""))
      Similarity.semanticSearch(VSW.toVectorRecords(chunks, dim = 16),
          queryVec(16), k = 10)
        .select(col("key"), round(col("cos"), 6).as("cos"))
    }),

    "s_pairwise_dups" -> ((s, dir) => {
      // nPlanes pinned for oracle parity (library default auto-scales)
      Dedup.embeddingCosinePairs(vecsWithDups(tbl(s, dir, "embeddings")),
          threshold = 0.85, nPlanes = 8)
        .select(col("a"), col("b"), round(col("cos"), 6).as("cos"))
        .orderBy(col("a"), col("b"))
    }),

    "s_dim_stats" -> ((s, dir) => {
      // embedding-health audit: per-dim mean/variance/extremes over
      // exact micro-integer moments (order-free) — run before ANN
      Similarity.dimStats(tbl(s, dir, "embeddings"))
    }),

    "s_label_centroids" -> ((s, dir) => {
      // class prototypes + cohesion audit (SemDeDup screening / drift
      // monitoring); float-rounded centroid means, exact micro-cosine
      // moments — see Similarity.labelCentroids
      Similarity.labelCentroids(tbl(s, dir, "embeddings"), "label")
        .orderBy(col("label"))
    }),

    // ---------------------------------------------- text analysis
    "t_token_count" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      d.select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.regexTokenCount(col("text")).as("n_pieces"),
        length(col("text")).as("n_chars")
      ).orderBy(col("doc_id"))
    }),

    "q_profile" -> ((s, dir) => {
      // per-column dataset profile (the DESCRIBE pass): one Expand-based
      // exact multi-distinct aggregate, unpivoted in-row
      graft.operators.Profiler.profile(tbl(s, dir, "documents"),
          Seq("doc_id", "lang", "source", "n_chars"))
        .orderBy(col("column"))
    }),

    "q_histogram" -> ((s, dir) => {
      // top-5 values per column with counts: skew/drift/junk-sentinel
      // detection; deterministic (cnt desc, value asc) total order
      graft.operators.Profiler.histogram(tbl(s, dir, "documents"),
          Seq("lang", "source", "n_chars"), k = 5)
        .orderBy(col("column"), col("rank"))
    }),

    "q_drift" -> ((s, dir) => {
      // PSI drift gate between snapshots: v2 drops ids ≡3 (mod 17)
      // and re-sources ids ≡7 (mod 13) into 'src_new' — lang shifts
      // mildly, source grows a bin. Integer n_bins/t_old/t_new anchor
      // the gate; psi rounds to 6 dp
      val docs = tbl(s, dir, "documents")
      val v2 = docs.where(col("doc_id") % 17 =!= 3)
        .unionByName(docs.where(col("doc_id") % 13 === 7)
          .withColumn("source", lit("src_new")))
      graft.operators.Profiler.drift(docs, v2, Seq("lang", "source"))
        .orderBy(col("column"))
    }),

    "t_entropy" -> ((s, dir) => {
      // code-point Shannon entropy (map-only native kernel) + the
      // low-entropy junk flag at the corpus median
      tbl(s, dir, "documents")
        .withColumn("entropy", TextAnalysis.charEntropy(col("text")))
        .select(col("doc_id"), col("entropy"),
          (col("entropy") < 2.8).cast("int").as("low_entropy"))
        .orderBy(col("doc_id"))
    }),

    "t_lang_id" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    }),

    "t_lang_confusion" -> ((s, dir) => {
      // classifier evaluation: lang-ID confusion matrix against the
      // corpus's ground-truth label — (truth, pred, n, per-truth
      // fraction). Scale: map-only prediction, map-combined
      // ≤|langs|²-row aggregate, tiny normalizing window.
      import org.apache.spark.sql.expressions.Window
      val cnt = tbl(s, dir, "documents")
        .select(col("lang"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred")).agg(count(lit(1)).as("n"))
      cnt.select(col("lang"), col("lang_pred"), col("n"),
        round(col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("lang"))).cast("double"), 6)
          .as("frac"))
        .orderBy(col("lang"), col("lang_pred"))
    }),

    "t_score_auc" -> ((s, dir) => {
      // score-quality evaluation: exact ROC AUC (Mann-Whitney with
      // average-rank ties) of the English-stopword-hit score against
      // the ground-truth lang=='en' label, per source — "does this
      // score actually rank English above non-English?" is the claim
      // every heuristic filter score makes; this measures it. Scale:
      // ONE map-combined (source, score) histogram bounds everything
      // downstream by score cardinality, not corpus size (Eval.auc).
      Eval.auc(tbl(s, dir, "documents"),
          col("source"),
          graft.functions.native.vocabHits(col("text"),
            TextAnalysis.Stopwords("en")),
          (col("lang") === "en").cast("int"))
        .select(col("grp").as("source"), col("n_pos"), col("n_neg"),
          col("u2").cast("double").as("u2"), col("auc"))
        .orderBy(col("source"))
    }),

    "t_quality_score" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    }),

    "t_fingerprint" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    "t_bpe_pairs" -> ((s, dir) => {
      // tokenizer training, iteration-1 statistic: adjacent-character
      // pair counts weighted by word frequency, top 20 — the full
      // iterative merge loop is spec-tested (training's argmax loop
      // has no SQL twin; the ENCODE side does — see t_bpe_encode's
      // recursive-CTE oracle)
      Corpus.bpePairCounts(Corpus.bpeInitialSymbols(tbl(s, dir, "documents")))
        .orderBy(col("pair_count").desc, col("a"), col("b"))
        .limit(20)
    }),

    "t_bpe_encode" -> ((s, dir) => {
      // tokenizer APPLY: encode every word against a fixed 8-merge
      // table (two second-order merges — tab, table — exercise the
      // iterative min-rank path). The DuckDB twin replays the encode
      // exactly with a recursive CTE: replace() is leftmost-first
      // non-overlapping, the same one-round rewrite as the kernel
      Corpus.bpeEncode(tbl(s, dir, "documents"), BpeQueryMerges)
        .select(col("doc_id"), col("word_idx"), col("word"),
          array_join(col("pieces"), " ").as("pieces"),
          size(col("pieces")).as("n_pieces"))
        .orderBy(col("doc_id"), col("word_idx"))
    }),

    "t_bpe_fertility" -> ((s, dir) => {
      // tokenizer-eval metric: pieces per word by language under the
      // fixed 8-merge table — English words hit the en-drawn merges
      // more often, so its fertility lands visibly below the others
      Corpus.bpeFertility(tbl(s, dir, "documents"), BpeQueryMerges, "lang")
        .orderBy(col("lang"))
    }),

    "t_vocab_stats" -> ((s, dir) => {
      // per-source corpus-health row: tokens, types, hapaxes, TTR —
      // the Heaps/Zipf diagnostic read per crawl slice
      TextAnalysis.vocabStats(tbl(s, dir, "documents"), "source")
        .orderBy(col("source"))
    }),

    "t_unigram_lm" -> ((s, dir) => {
      // rare-token quality signal: score the full corpus against the
      // unigram distribution of a reference half (even doc ids) —
      // integer sufficient statistics, so the gate is exact
      val docs = tbl(s, dir, "documents")
      TextAnalysis.unigramScore(docs, docs.where(col("doc_id") % 2 === 0))
        .orderBy(col("doc_id"))
    }),

    "t_bigram_lm" -> ((s, dir) => {
      // CCNet-style LM filter statistic, one order up from unigram:
      // bigram hits + Katz-backoff mass against the even-id reference
      // half — integer sufficient statistics, so the gate is exact
      val docs = tbl(s, dir, "documents")
      TextAnalysis.bigramScore(docs, docs.where(col("doc_id") % 2 === 0))
        .orderBy(col("doc_id"))
    }),

    "t_dsir_weights" -> ((s, dir) => {
      // DSIR importance weights: hashed-bigram (4096 buckets)
      // log-likelihood ratio of the English slice vs the whole corpus
      // — the "tilt the raw corpus toward the target domain" score.
      // n_feat anchors the gate exactly; log_weight rounds to 6 dp
      TextAnalysis.dsirWeights(tbl(s, dir, "documents"),
          isTarget = col("lang") === "en", nBuckets = 4096)
        .orderBy(col("doc_id"))
    }),

    "t_nb_classifier" -> ((s, dir) => {
      // trained linear filter, the DCLM/RefinedWeb curation shape:
      // multinomial NB over portable token hashes, trained on the
      // even-id half labeled by lang, argmax class per document.
      // Integer n_tokens/n_hits anchor the gate; score rounds to 6 dp
      val docs = tbl(s, dir, "documents")
      TextAnalysis.naiveBayesClassify(
          docs, docs.where(col("doc_id") % 2 === 0), labelCol = "lang")
        .orderBy(col("doc_id"))
    }),

    "t_tfidf_keywords" -> ((s, dir) => {
      // corpus-statistical keyword extraction: top-3 tf·ln(N/df)
      // terms per document, rank over the rounded score (a single
      // deterministic product per term — no sum-order sensitivity)
      Retrieval.tfidfKeywords(tbl(s, dir, "documents"), k = 3)
        .orderBy(col("doc_id"), col("rank"))
    }),

    "t_quality_buckets" -> ((s, dir) => {
      // CCNet head/middle/tail corpus partition at the rank-exact 1/3
      // and 2/3 points of the integer OOV-rate distribution
      val docs = tbl(s, dir, "documents")
      TextAnalysis.qualityBuckets(docs, docs.where(col("doc_id") % 2 === 0))
        .orderBy(col("doc_id"))
    }),

    "t_clean_text" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.cleanText(col("text")).as("clean"))
        .withColumn("n_chars_clean", length(col("clean")))
        .orderBy(col("doc_id"))
    }),

    "t_repetition" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.lineStats(col("text")).as("ls"))
        .select(col("doc_id"), col("ls.n_lines"), col("ls.n_distinct_lines"))
        .orderBy(col("doc_id"))
    }),

    "t_pii_redact" -> ((s, dir) => {
      // induced PII (the synthetic corpus contains none): every 5th doc
      // gains a deterministic contact block with an e-mail, a phone
      // number and an IPv4 — varied by doc_id so outputs aren't constant
      val docs = tbl(s, dir, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" contact a"), (col("doc_id") % 7).cast("string"),
            lit("@ex"), (col("doc_id") % 3).cast("string"),
            lit(".com or 555-123-4567 node 10.0."), (col("doc_id") % 9).cast("string"),
            lit(".25 end")))
          .otherwise(col("text")).as("text"))
      docs
        .select(col("doc_id"),
          TextAnalysis.piiCounts(col("text")).as("pc"),
          TextAnalysis.piiRedact(col("text")).as("redacted"))
        .select(col("doc_id"), col("pc.n_emails"), col("pc.n_phones"),
          col("pc.n_ips"), col("redacted"))
        .orderBy(col("doc_id"))
    }),

    "t_corpus_filter" -> ((s, dir) => {
      TextAnalysis.corpusFilter(tbl(s, dir, "documents")).orderBy(col("doc_id"))
    }),

    "t_zipf_fit" -> ((s, dir) => {
      // Zipf slope/R² per language over the top-1000 token ranks —
      // the corpus-health fit (natural text ≈ −1)
      TextAnalysis.zipfFit(tbl(s, dir, "documents"), "lang", topV = 1000)
        .orderBy(col("lang"))
    }),

    "t_code_detect" -> ((s, dir) => {
      // code-vs-prose routing (mixed-crawl separation): structural
      // heuristics over exact integer counts, map-only
      TextAnalysis.codeDetect(tbl(s, dir, "documents")).orderBy(col("doc_id"))
    }),

    "t_readability" -> ((s, dir) => {
      // Flesch reading ease + FK grade from vowel-group syllables —
      // map-only counting expressions, exact-integer inputs
      TextAnalysis.readability(tbl(s, dir, "documents")).orderBy(col("doc_id"))
    }),

    "t_vocab_coverage" -> ((s, dir) => {
      // top-k vocabulary coverage curve (vocab-sizing diagnostic);
      // top-k via TakeOrdered, no full-vocab single-partition sort
      TextAnalysis.vocabCoverage(tbl(s, dir, "documents"))
    }),

    "t_gopher_rules" -> ((s, dir) => {
      // the published Gopher/MassiveText rule set with the paper's
      // thresholds; line/word-structure signals + first failing rule
      TextAnalysis.gopherRules(tbl(s, dir, "documents")).orderBy(col("doc_id"))
    }),

    "q_correlated_subquery" -> ((s, dir) => {
      // correlated scalar subquery, submitted AS SQL so Catalyst's
      // decorrelation rewrites it (RewriteCorrelatedScalarSubquery →
      // one per-customer aggregate joined back — the plan a user
      // would otherwise hand-write; nothing is evaluated per-row).
      // The comparison basis is avg over exact integer cents: the
      // sum is exact, the single division correctly rounded — the
      // same double in both engines, so the > cut is deterministic.
      tbl(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT o_custkey, count(*) AS n_above,
          |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
          |    AS above_cents
          |FROM orders_v o1
          |WHERE CAST(round(o_totalprice * 100) AS BIGINT) > (
          |  SELECT avg(CAST(round(o2.o_totalprice * 100) AS BIGINT))
          |  FROM orders_v o2 WHERE o2.o_custkey = o1.o_custkey)
          |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)
    }),

    "x_sql_surface" -> ((s, dir) => {
      // the SparkSessionExtensions surface: pure SQL over registered
      // graft_* native kernels (what a BI tool / SQL notebook would run)
      GraftExtensions.register(s)
      tbl(s, dir, "documents").createOrReplaceTempView("graft_docs")
      s.sql("""SELECT doc_id, graft_poly_hash(text) AS fp,
              |       graft_token_count(text) AS n_tokens
              |FROM graft_docs ORDER BY doc_id""".stripMargin)
    }),

    "x_stream_sessionize" -> ((s, dir) => {
      // STREAMING execution of sessionization (file-source micro-
      // batches → flatMapGroupsWithState → watermark-flushed sink),
      // hash-gated against the SAME oracle the batch q_sessionize
      // passes — the stream-batch parity proof for the custom-state
      // operator (state is one open session per user at any scale)
      graft.streaming.StreamBatchParity.sessionizeParity(
        s, events(s, dir).select(col("user_id"), col("sec")))
    }),

    "x_stream_windows" -> ((s, dir) => {
      // STREAMING execution of watermarked tumbling-window counts,
      // finalized by watermark advance and hash-gated against the
      // batch hour-bucket oracle shape (q_event_windows's twin with
      // the streaming aggregate's decimal(18,6) sum contract)
      graft.streaming.StreamBatchParity.windowCountsParity(
        s, events(s, dir).select(col("event_type"), col("value"), col("sec")))
    }),

    "x_stream_drift" -> ((s, dir) => {
      // STREAMING execution of the per-window PSI drift monitor
      // (watermarked window histograms + the batch-side Laplace-
      // smoothed baseline join inside foreachBatch), hash-gated
      // against the same fixed-shape PSI SQL the batch q_drift gate
      // uses — parity for the writer-shaped streaming operator class
      graft.streaming.StreamBatchParity.driftMonitorParity(
        s, events(s, dir).select(col("event_type"), col("sec")))
    }),

    "x_stream_dedup" -> ((s, dir) => {
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
    }),

    "x_stream_cdc" -> ((s, dir) => {
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
    }),

    "x_stream_enrich" -> ((s, dir) => {
      // STREAMING execution of stream-static enrichment: each event
      // micro-batch map-side-joins a broadcast per-user profile
      // dimension (derived batch-side from the same corpus), and the
      // enriched row set is hash-gated against the batch join SQL —
      // the standard metadata-attach path for an event stream
      graft.streaming.StreamBatchParity.enrichParity(
        s, events(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"), col("sec")))
    }),

    "x_stream_upsert" -> ((s, dir) => {
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
    }),

    "x_stream_ingest" -> ((s, dir) => {
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
    }),

    "x_stream_join" -> ((s, dir) => {
      // STREAMING execution of the bounded-state interval join in the
      // view→purchase attribution shape (a streaming SELF-join: both
      // sides filtered from one staged corpus stream), hash-gated
      // against the batch interval-join SQL — eager inner-join
      // emission plus provably-no-late-arrivals staging means the
      // emitted pair set is exactly the batch answer
      graft.streaming.StreamBatchParity.joinParity(
        s, events(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"), col("sec")))
    }),

    "x_stream_curate" -> ((s, dir) => {
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
    }),

    "x_stream_retract" -> ((s, dir) => {
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
    }),

    "x_stream_ivf" -> ((s, dir) => {
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
    }),

    // ---------------------------------------------- multimodal
    "m_binary_dedup" -> ((s, dir) => {
      // exact binary dedup over media bytes (CDN copies / mirrored
      // assets): content-addressed sha-256 groups, keeper = min id;
      // the dup-injected corpus's verbatim copies (+1M ids) group,
      // the one-token near-dups (+2M) correctly do NOT
      val media = corpusWithDups(tbl(s, dir, "documents"))
        .select(col("doc_id").as("media_id"), encode(col("text"), "UTF-8").as("content"))
      Multimodal.binaryDuplicates(media).orderBy(col("media_id"))
    }),

    "m_phash_dedup" -> ((s, dir) => {
      // perceptual near-dup groups on the 64-bit average hash over
      // media bytes (aHash shape; a real image pipeline hashes the
      // decoded grayscale grid through the same column). Verbatim
      // copies group; the one-token near-dups usually shift a block
      // mean and correctly stay out — the signal between sha-256
      // equality and embedding cosine.
      val media = corpusWithDups(tbl(s, dir, "documents"))
        .select(col("doc_id").as("media_id"),
          encode(col("text"), "UTF-8").as("content"))
      Multimodal.perceptualDuplicates(media).orderBy(col("media_id"))
    }),

    "m_alignment" -> ((s, dir) => {
      // image–caption ALIGNMENT filter (the CLIP-score shape behind
      // LAION-style pair filtering: embed both sides, keep pairs
      // above a cosine floor): alt text = the item's own leading
      // tokens normally, but every 7th item carries an induced junk
      // caption ("stock photo watermark…" — the classic boilerplate
      // alt) that must score below the floor. Embedders are the
      // hermetic hash embedder on BOTH sides (a production CLIP swaps
      // in behind the same two-column contract); the whole op is
      // map-only over the pair table.
      val docs = tbl(s, dir, "documents")
      val alt = when(col("doc_id") % 7 === 0,
        concat(lit("stock photo watermark banner "), col("doc_id").cast("string")))
        .otherwise(array_join(slice(
          graft.functions.TextFunctions.tokens(col("text")), 1, 8), " "))
      docs.select(col("doc_id").as("media_id"), alt.as("alt_text"), col("text"))
        .select(col("media_id"),
          round(graft.functions.VectorFunctions.cosine(
            graft.functions.VectorFunctions.hashEmbed(col("alt_text"), 16),
            graft.functions.VectorFunctions.hashEmbed(col("text"), 16)), 6)
            .as("score"))
        .select(col("media_id"), col("score"),
          (col("score") >= 0.5).as("keep"))
        .orderBy(col("media_id"))
    }),

    "m_multimodal_meta" -> ((s, dir) => {
      val media = tbl(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("content"),
        lit("text/plain").as("media_type")
      )
      Multimodal.mediaMetadata(media)
        .select(col("media_id"), col("byte_length"), col("sniffed_type"))
        .orderBy(col("media_id"))
    }),

    "m_frame_sample" -> ((s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("content"),
        lit("video/raw").as("media_type"),
        lit("").as("alt_text")
      ).as[Multimodal.MediaRecord]
      Multimodal.sampleFrames(s, media, nFrames = 4)
        .toDF()
        .select(col("media_id"), col("frame_idx"), length(col("frame")).as("frame_len"))
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    "m_resize_meta" -> ((s, dir) => {
      import s.implicits._
      // resize stub: bytes pass through, target size recorded — the
      // row contract a real re-encoder slots into
      val media = tbl(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("content"),
        lit("image/raw").as("media_type"),
        lit("").as("alt_text")
      ).as[Multimodal.MediaRecord]
      Multimodal.resizeStub(media, 224, 224)
        .select(col("media_id"), length(col("content")).as("byte_length"),
          col("target_width"), col("target_height"))
        .orderBy(col("media_id"))
    }),

    "m_audio_segments" -> ((s, dir) => {
      import s.implicits._
      // the corpus is pure ASCII, so encode(text) bytes == char codes —
      // the oracle recomputes window energies from unicode(char)
      val media = tbl(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("content"),
        lit("audio/pcm").as("media_type"),
        lit("").as("alt_text")
      ).as[Multimodal.MediaRecord]
      Multimodal.segmentAudio(s, media, windowBytes = 64, meanEnergyThreshold = 100)
        .toDF()
        .select(col("media_id"), col("seg_idx"), col("start_byte"), col("end_byte"),
          col("energy"), col("voiced").cast("int").as("voiced"))
        .orderBy(col("media_id"), col("seg_idx"))
    }),

    "m_image_features" -> ((s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("content"),
        lit("application/octet-stream").as("media_type"),
        lit("").as("alt_text")
      ).as[Multimodal.MediaRecord]
      Multimodal.extractFeatures(s, media)
        .toDF()
        .select(col("media_id"), col("byte_length"), col("sniffed_type"),
          posexplode(col("feature")).as(Seq("dim", "val")))
        .withColumn("val", col("val").cast("double"))
        .orderBy(col("media_id"), col("dim"))
    }),

    // ---------------------------------------------- graph / curation
    "g_pagerank" -> ((s, dir) => {
      // link-graph authority prior (the original corpus-quality
      // signal). The synthetic corpus has no hyperlinks, so the edge
      // list is a deterministic 3-regular construction over DENSE
      // node indices 0..n-1 (n = |documents|; index space, not raw
      // doc_ids — those need not be contiguous). The operator under
      // test is Graph.pageRank — two exchanges per iteration,
      // dangling redistribution, checkpoint-truncated lineage.
      val nDocs = tbl(s, dir, "documents").count()
      val edges = s.range(nDocs)
        .select(col("id").as("src"),
          explode(array(lit(1L), lit(2L), lit(3L))).as("k"))
        .select(col("src"),
          ((col("src") * 31 + col("k") * 7919) % nDocs).as("dst"))
      Graph.pageRank(edges, iters = 8, damping = 0.85).orderBy(col("node"))
    }),

    "g_hits" -> ((s, dir) => {
      // HITS hub/authority over the same deterministic 3-regular
      // link graph as g_pagerank — the second classic link-quality
      // prior (hubs find link farms PageRank smears). Max-normalized
      // per half-step so every normalizer is an exact scalar
      // (Graph.hits); oracle unrolls all 5 iterations.
      val nDocs = tbl(s, dir, "documents").count()
      val edges = s.range(nDocs)
        .select(col("id").as("src"),
          explode(array(lit(1L), lit(2L), lit(3L))).as("k"))
        .select(col("src"),
          ((col("src") * 31 + col("k") * 7919) % nDocs).as("dst"))
      Graph.hits(edges, iters = 5).orderBy(col("node"))
    }),

    "g_shortest_path" -> ((s, dir) => {
      // multi-source BFS hop labels over the same deterministic
      // 3-regular link graph (TrustRank-style seed distance: "how
      // many links from a trusted seed is this page"). Seeds = nodes
      // ≡ 0 (mod 97). Frontier-based expansion — O(|E|) total join
      // work across all rounds (Graph.bfsHops); oracle is a
      // WITH RECURSIVE replay with the same hop bound.
      val nDocs = tbl(s, dir, "documents").count()
      val edges = s.range(nDocs)
        .select(col("id").as("src"),
          explode(array(lit(1L), lit(2L), lit(3L))).as("k"))
        .select(col("src"),
          ((col("src") * 31 + col("k") * 7919) % nDocs).as("dst"))
      val seeds = s.range(nDocs).where(col("id") % 97 === 0)
        .select(col("id").as("node"))
      Graph.bfsHops(edges, seeds, maxHops = 6).orderBy(col("node"))
    }),

    "g_kcore" -> ((s, dir) => {
      // 6-core extraction on a planted-nucleus graph (iterative
      // peeling, Graph.kCore): nodes 0..49 form a dense circulant
      // core (links to (i+j) mod 50, j=1..4 → undirected degree 8);
      // every other node hangs off the core by ONE link. The 6-core
      // must peel the entire degree-1 fringe (and the core degrees it
      // inflated) and return exactly the 50 nucleus nodes at their
      // internal degree — the link-farm/dense-nest extraction
      // centrality pipelines run first. (The pagerank 3-regular graph
      // is exactly 6-regular — nothing to peel — so this query uses
      // its own construction.) Peeling is edge-proportional on a
      // shrinking subgraph, checkpointed, early-exit at fixpoint;
      // oracle unrolls all 8 rounds.
      val nDocs = tbl(s, dir, "documents").count()
      val core = s.range(50)
        .select(col("id").as("src"),
          explode(array(lit(1L), lit(2L), lit(3L), lit(4L))).as("j"))
        .select(col("src"), ((col("src") + col("j")) % 50).as("dst"))
      val fringe = s.range(50, nDocs)
        .select(col("id").as("src"), (col("id") % 50).as("dst"))
      Graph.kCore(core.unionByName(fringe), k = 6, maxRounds = 8)
        .orderBy(col("node"))
    }),

    "g_triangles" -> ((s, dir) => {
      // per-node triangle counts over the undirected 3-regular link
      // graph (local clustering — triangle-dense neighborhoods are
      // mutually-linking cliques, the link-farm signal HITS hubs
      // smear). Degree-oriented wedge join: O(|E|^{3/2}) worst-case
      // work regardless of skew (Graph.triangleCounts); the oracle
      // re-derives triangles independently as ordered a<b<c triples.
      val nDocs = tbl(s, dir, "documents").count()
      val edges = s.range(nDocs)
        .select(col("id").as("src"),
          explode(array(lit(1L), lit(2L), lit(3L))).as("k"))
        .select(col("src"),
          ((col("src") * 31 + col("k") * 7919) % nDocs).as("dst"))
      Graph.triangleCounts(edges).orderBy(col("node"))
    }),

    "g_communities" -> ((s, dir) => {
      // synchronous label propagation over a planted-block graph
      // (community detection — the host/domain clustering pass run
      // before per-community quotas or contamination sweeps): blocks
      // of 10 nodes form rings (each node links +1/+2 within its
      // block), blocks chain weakly through their first node. Three
      // sync rounds, most-frequent-neighbor-label votes, ties to the
      // smallest label — every step an exact integer computation, so
      // the DuckDB oracle unrolls the identical rounds and the result
      // is hash-exact at any parallelism (Graph.labelPropagation).
      Graph.labelPropagation(
          plantedBlockEdges(s, tbl(s, dir, "documents").count()), rounds = 3)
        .orderBy(col("node"))
    }),

    "g_modularity" -> ((s, dir) => {
      // per-community modularity decomposition of the LPA partition
      // (Graph.communityStats): member count, internal undirected
      // edges, degree sum, and q = e_in/m − (deg_c/2m)² per label —
      // the partition-quality audit run before per-community quotas
      // key on the clustering. m/e_in/deg_c are exact integers; q is
      // one fixed-shape double per ROW (no cross-row float sums), so
      // the oracle unrolls LPA and recomputes the same integers.
      val edges = plantedBlockEdges(s, tbl(s, dir, "documents").count())
      Graph.communityStats(edges, Graph.labelPropagation(edges, rounds = 3))
        .orderBy(col("label"))
    }),

    "d_dedup_cdc_chunks" -> ((s, dir) => {
      // content-defined chunk dedup over the induced-dup corpus:
      // boundaries where the 4-token window hash ≡ 0 (mod 64) — cuts
      // move with CONTENT, so the ' graftdup'-suffixed near-copies
      // share every chunk except the last (the insertion-robustness
      // that fixed-offset chunking provably lacks). Raw text never
      // shuffles (Dedup.cdcChunkDedup); oracle replays cuts, chunk
      // assembly, and first-occurrence ownership in SQL.
      Dedup.cdcChunkDedup(corpusWithDups(tbl(s, dir, "documents")))
        .orderBy(col("doc_id"))
    }),

    "d_zorder" -> ((s, dir) => {
      // Z-order (Morton) data layout vs the natural insert order,
      // judged by FILE SKIPPING — the data-layout operator behind
      // Delta/Iceberg OPTIMIZE ZORDER BY. Each lineitem row gets a
      // 32-bit Morton code interleaving the low 16 bits of
      // (l_partkey, l_suppkey); files are fixed Z-ranges (top 8 bits
      // = quadtree cells, deterministic — no sampled range
      // boundaries), the natural layout files on l_orderkey ranges.
      // For the 2-D predicate p∈[100,200] ∧ s∈[10,20] the report
      // compares files whose min/max bbox intersects the box — the
      // exact pruning decision a parquet reader makes from footer
      // stats. Everything is map-only row math + two file-count-
      // bounded aggregates; the interleave is a 16-term integer
      // expression inside whole-stage codegen.
      // dimensions normalize to 8 bits against their (broadcast 1-row)
      // max, so the 16×16 Z-cell grid is scale-free — the same report
      // shape at sf0.01 and at 100 TB (a real writer picks cell depth
      // from target file size instead of a fixed 256)
      def morton(p: Column, q: Column): Column =
        (0 until 8).map { i =>
          shiftleft(shiftright(p, i).bitwiseAND(lit(1L)), 2 * i) +
            shiftleft(shiftright(q, i).bitwiseAND(lit(1L)), 2 * i + 1)
        }.reduce(_ + _)
      val li = tbl(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey").as("p"), col("l_suppkey").as("sk"))
      val mx = li.agg(max(col("p")).as("mp"), max(col("sk")).as("ms"),
        max(col("l_orderkey")).as("mo"))
      val tagged = li.crossJoin(broadcast(mx)).select(col("p"), col("sk"),
        expr("l_orderkey * 256 div (mo + 1)").as("f_nat"),
        shiftright(morton(expr("p * 256 div (mp + 1)"),
          expr("sk * 256 div (ms + 1)")), 8).as("f_z"))
      def layout(name: String, fcol: Column) = tagged
        .groupBy(fcol.as("f"))
        .agg(count(lit(1)).as("rows"),
          min(col("p")).as("p0"), max(col("p")).as("p1"),
          min(col("sk")).as("s0"), max(col("sk")).as("s1"))
        .withColumn("hit",
          (col("p0") <= 200 && col("p1") >= 100 &&
            col("s0") <= 20 && col("s1") >= 10).cast("long"))
        .agg(count(lit(1)).as("n_files"),
          sum(col("hit")).as("files_hit"),
          sum(col("hit") * col("rows")).as("rows_scanned"),
          round(avg((col("p1") - col("p0")).cast("double")), 6).as("avg_part_span"),
          round(avg((col("s1") - col("s0")).cast("double")), 6).as("avg_supp_span"))
        .select(lit(name).as("layout"), col("n_files"), col("files_hit"),
          col("rows_scanned"), col("avg_part_span"), col("avg_supp_span"))
      layout("natural", col("f_nat")).unionByName(layout("zorder", col("f_z")))
        .orderBy(col("layout"))
    }),

    "q_skyline" -> ((s, dir) => {
      // supplier efficiency frontier: 2-D skyline maximizing revenue,
      // minimizing lineitem count (the Pareto / BNL-skyline operator
      // of classic OLAP). Two-phase distributed shape: (1) corpus
      // reduces map-side to the supplier-sized (rev, n) table;
      // (2) coarse rev-bucket min-n table (bucket-count-sized,
      // broadcast) prunes every point dominated by a strictly higher
      // bucket's best — the surviving candidate set is frontier-dense;
      // (3) the exact pass sorts candidates once (per-rev min-n, then
      // a strict-prefix running min over descending rev). All exact
      // integers (cents, counts); equal (rev, n) points all survive,
      // by the standard strict-dominance definition.
      import org.apache.spark.sql.expressions.Window
      val per = tbl(s, dir, "lineitem")
        .select(col("l_suppkey"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .groupBy(col("l_suppkey"))
        .agg(sum(col("cents")).as("rev"), count(lit(1)).as("n_items"))
        .withColumn("b", expr("rev div 100000000"))
      val wb = Window.orderBy(col("b").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val bmin = per.groupBy(col("b")).agg(min(col("n_items")).as("bn"))
        .select(col("b"), min(col("bn")).over(wb).as("dom_n"))
      val cand = per.join(broadcast(bmin), Seq("b"))
        .where(col("dom_n").isNull || col("n_items") < col("dom_n"))
      val wRev = Window.orderBy(col("rev").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val frontier = cand.groupBy(col("rev")).agg(min(col("n_items")).as("n_items"))
        .select(col("rev"), col("n_items"),
          min(col("n_items")).over(wRev).as("pmin"))
        .where(col("pmin").isNull || col("pmin") > col("n_items"))
        .select(col("rev"), col("n_items"))
      cand.join(broadcast(frontier), Seq("rev", "n_items"))
        .select(col("l_suppkey"), col("rev"), col("n_items"))
        .orderBy(col("l_suppkey"))
    }),

    "t_source_audit" -> ((s, dir) => {
      TextAnalysis.sourceAudit(tbl(s, dir, "documents")).orderBy(col("source"))
    }),

    "d_shard_manifest" -> ((s, dir) => {
      // shard integrity manifest over the same 8-shard layout as
      // d_pack_sequences: counts + id range + order-independent
      // XOR-of-content-hash digest per shard
      Corpus.shardManifest(tbl(s, dir, "documents"), nShards = 8)
        .orderBy(col("shard"))
    }),

    "d_token_budget" -> ((s, dir) => {
      // mixture planning: 1M-token budget at temperature alpha=0.5
      // over the per-source token masses (the table between
      // t_source_audit and d_sample_temperature)
      Corpus.tokenBudget(tbl(s, dir, "documents"), targetTokens = 1000000L,
        alpha = 0.5).orderBy(col("source"))
    }),

    "d_curate_e2e" -> ((s, dir) => {
      // the flagship composition: lang → quality → exact dedup →
      // decontamination, reported as the per-stage survival funnel.
      // Corpus = dup-injected documents; benchmark = every 25th doc
      // (same contamination setup as d_decontaminate).
      val corpus = corpusWithDups(tbl(s, dir, "documents"))
      val bench = tbl(s, dir, "documents").where(col("doc_id") % 25 === 0)
        .select(col("text"))
      Corpus.curate(corpus, bench, targetLang = "en", n = 8)
        .orderBy(col("stage"))
    })
  )

  // ==================================================================
  /** The canonical-pipeline oracle, shared verbatim by the batch row
    * (i_pipeline_e2e) and its streaming-parity twin (x_stream_ingest):
    * the parity claim IS that both executions satisfy one SQL. */
  private lazy val pipelineE2eOracle: String = {
    val posList = graft.operators.Processors.PositiveWords.map(w => s"'$w'").mkString(",")
    val negList = graft.operators.Processors.NegativeWords.map(w => s"'$w'").mkString(",")
    s"""WITH chunks AS (
       |  SELECT doc_id, CAST(0 AS INT) AS chunk_id, text AS content,
       |    CAST(len(${sqlToks("text")}) AS INT) AS token_count
       |  FROM documents WHERE length(trim(text)) > 0),
       |scored AS (
       |  SELECT doc_id, chunk_id, content, token_count,
       |    len(list_filter(${sqlToks("lower(content)")}, x -> list_contains([$posList], x))) AS p,
       |    len(list_filter(${sqlToks("lower(content)")}, x -> list_contains([$negList], x))) AS n
       |  FROM chunks)
       |SELECT doc_id, chunk_id, token_count,
       |  array_to_string((${sqlToks("content")})[1:100], ' ') AS summary,
       |  CASE WHEN p + n = 0 THEN 'Unknown'
       |       WHEN p > n THEN 'Positive'
       |       WHEN n > p THEN 'Negative'
       |       ELSE 'Neutral' END AS sentiment
       |FROM scored ORDER BY doc_id, chunk_id""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q03_top_orders" ->
      """SELECT l_orderkey,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,

    "q05_region_revenue" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |JOIN supplier ON s_nationkey = n_nationkey
        |JOIN lineitem ON l_suppkey = s_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey AND c_nationkey = s_nationkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "q06_forecast_filter" ->
      """SELECT
        |  CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount >= 0.03 AND l_discount <= 0.07
        |  AND l_quantity < 25""".stripMargin,

    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_window_rank" ->
      """SELECT c_nationkey, rnk, c_custkey, c_acctbal FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |    rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rnk
        |  FROM customer)
        |WHERE rnk <= 3
        |ORDER BY c_nationkey, rnk, c_custkey""".stripMargin,

    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        |FROM orders WHERE o_custkey < 150
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_distinct_agg" ->
      """SELECT c_mktsegment,
        |  count(DISTINCT c_nationkey) AS n_nations,
        |  CAST(sum(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
        |  CAST(sum(CASE WHEN c_acctbal <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonpositive,
        |  count(*) AS n_customers
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // TPC-H Q13 shape: LEFT-join count distribution — zero-order
    // customers must appear in the c_count = 0 bucket
    "q13_custdist" ->
      """WITH per_cust AS (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c LEFT JOIN orders o
        |    ON o.o_custkey = c.c_custkey AND o.o_orderstatus <> 'P'
        |  GROUP BY c.c_custkey)
        |SELECT c_count, count(*) AS custdist FROM per_cust
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    // TPC-H Q21 shape: EXISTS/NOT-EXISTS chain as the double-aggregate
    // rewrite — sole late supplier on a multi-supplier order
    "q21_sole_late" ->
      """WITH per_os AS (
        |  SELECT l_orderkey, l_suppkey,
        |    max(CASE WHEN l_shipdate > TIMESTAMP '1997-06-30 00:00:00'
        |      THEN 1 ELSE 0 END) = 1 AS late
        |  FROM lineitem GROUP BY 1, 2),
        |per_o AS (
        |  SELECT l_orderkey, count(*) AS n_supp,
        |    CAST(sum(CASE WHEN late THEN 1 ELSE 0 END) AS BIGINT) AS n_late
        |  FROM per_os GROUP BY 1)
        |SELECT l_suppkey, count(*) AS numwait
        |FROM per_os JOIN per_o USING (l_orderkey)
        |WHERE late AND n_supp > 1 AND n_late = 1
        |GROUP BY l_suppkey ORDER BY numwait DESC, l_suppkey""".stripMargin,

    "q_rollup" ->
      """SELECT r_name, n_name, count(*) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,

    "q_cube" ->
      """SELECT n_name, c_mktsegment, count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY CUBE (n_name, c_mktsegment)
        |ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST""".stripMargin,

    "q_grouping_sets" ->
      """SELECT n_name, c_mktsegment, count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((n_name, c_mktsegment), (n_name), (c_mktsegment))
        |ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST""".stripMargin,

    // z replay: cents are exact integers, every float op afterwards is
    // the same IEEE expression shape — keep the parenthesization
    "q_outliers" ->
      """WITH e AS (
        |  SELECT event_id, event_type, value,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |m AS (
        |  SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(cents) AS DOUBLE) AS ssum,
        |    CAST(sum(cents * cents) AS DOUBLE) AS ssq
        |  FROM e GROUP BY 1)
        |SELECT event_id, event_type, value,
        |  (CAST(cents AS DOUBLE) - ssum / n) /
        |    sqrt((ssq - ssum * ssum / n) / n) AS z
        |FROM e JOIN m USING (event_type)
        |WHERE abs((CAST(cents AS DOUBLE) - ssum / n) /
        |    sqrt((ssq - ssum * ssum / n) / n)) > 3.0
        |ORDER BY event_id""".stripMargin,

    "q_seasonality" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) // 1000000 AS sec,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |g AS (
        |  SELECT (sec // 86400 + 4) % 7 AS dow, (sec // 3600) % 24 AS hour,
        |    count(*) AS n, CAST(sum(cents) AS BIGINT) AS sm
        |  FROM e GROUP BY 1, 2)
        |SELECT dow, hour, n,
        |  round(CAST(sm AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0), 6)
        |    AS mean_value
        |FROM g ORDER BY dow, hour""".stripMargin,

    // OLS replay in HUGEINT sufficient statistics; slope/intercept/R²
    // keep the identical double shapes (q_correlation contract)
    "q_trend" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) // 1000000 // 86400 AS day,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |daily AS (
        |  SELECT event_type, day, CAST(sum(cents) AS BIGINT) AS y
        |  FROM e GROUP BY 1, 2),
        |st AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(day) AS sx, sum(y) AS sy,
        |    sum(day * day) AS sxx, sum(y * y) AS syy, sum(day * y) AS sxy
        |  FROM daily GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n_days,
        |  CASE WHEN n*sxx - sx*sx > 0 THEN
        |    CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
        |  END AS slope_cents_per_day,
        |  CASE WHEN n*sxx - sx*sx > 0 THEN
        |    (CAST(sy AS DOUBLE)
        |      - (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE))
        |        * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
        |  END AS intercept_cents,
        |  CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0 THEN
        |    (CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE))
        |      / (CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE))
        |  END AS r2
        |FROM st ORDER BY event_type""".stripMargin,

    "q_abtest" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |t AS (
        |  SELECT event_type, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sm,
        |    sum(cents * cents) AS sq
        |  FROM e GROUP BY 1),
        |g AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(sm) AS BIGINT) AS tsm,
        |    sum(sq) AS tsq FROM t),
        |r AS (
        |  SELECT event_type, n, sm, sq, tn - n AS rn, tsm - sm AS rsm,
        |    CAST(tsq - sq AS DOUBLE) AS rsq
        |  FROM t, g),
        |zc AS (
        |  SELECT event_type, n,
        |    CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) AS mt,
        |    CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) -
        |      (CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      (CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)) AS vt,
        |    CAST(rsm AS DOUBLE) / CAST(rn AS DOUBLE) AS mr,
        |    rsq / CAST(rn AS DOUBLE) -
        |      (CAST(rsm AS DOUBLE) / CAST(rn AS DOUBLE)) *
        |      (CAST(rsm AS DOUBLE) / CAST(rn AS DOUBLE)) AS vr,
        |    CAST(n AS DOUBLE) AS nd, CAST(rn AS DOUBLE) AS rnd
        |  FROM r)
        |SELECT event_type, n,
        |  round(mt, 6) AS mean, round(mr, 6) AS mean_rest,
        |  round((mt - mr) / sqrt(vt / nd + vr / rnd), 6) AS z,
        |  abs((mt - mr) / sqrt(vt / nd + vr / rnd)) > 1.96 AS significant
        |FROM zc ORDER BY event_type""".stripMargin,

    "q_bin_histogram" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |b AS (
        |  SELECT event_type, cents // 500 AS bin, count(*) AS n
        |  FROM e GROUP BY 1, 2)
        |SELECT event_type, bin,
        |  CAST(bin * 5 AS DOUBLE) AS lo, CAST((bin + 1) * 5 AS DOUBLE) AS hi, n
        |FROM b ORDER BY event_type, bin""".stripMargin,

    "q_decay" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 1000000 // 604800 AS wk,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |w AS (
        |  SELECT user_id, wk, CAST(sum(cents) AS BIGINT) AS wcents
        |  FROM e GROUP BY 1, 2),
        |mx AS (SELECT max(wk) AS mxwk FROM w),
        |g AS (
        |  SELECT user_id, count(*) AS n_weeks,
        |    CAST(sum(wcents) AS BIGINT) AS total_cents,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(CAST(wcents AS DOUBLE) * pow(2.0, -CAST(mxwk - wk AS DOUBLE))
        |           ORDER BY mxwk - wk)),
        |      (a, b) -> a + b) AS ds
        |  FROM w, mx GROUP BY user_id)
        |SELECT user_id, n_weeks, total_cents, round(ds, 6) AS decayed_score
        |FROM g ORDER BY user_id""".stripMargin,

    "q_changepoint" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) // 1000000 // 3600 AS hr,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |h AS (
        |  SELECT event_type, hr, CAST(sum(cents) AS BIGINT) AS x
        |  FROM e GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, count(*) AS nh, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(x * x) AS BIGINT) AS qx FROM h GROUP BY 1),
        |r AS (
        |  SELECT event_type, hr, x, nh, sx, qx,
        |    CAST(sum(x) OVER (PARTITION BY event_type ORDER BY hr
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY hr)
        |      AS BIGINT) AS i
        |  FROM h JOIN m USING (event_type))
        |SELECT event_type, hr, x,
        |  round(CAST(nh * p - i * sx AS DOUBLE) / CAST(nh AS DOUBLE), 6) AS cusum,
        |  (CAST(nh * p - i * sx AS DOUBLE) / CAST(nh AS DOUBLE)) *
        |    (CAST(nh * p - i * sx AS DOUBLE) / CAST(nh AS DOUBLE)) >
        |    9.0 * (CAST(qx AS DOUBLE) / CAST(nh AS DOUBLE) -
        |      (CAST(sx AS DOUBLE) / CAST(nh AS DOUBLE)) *
        |      (CAST(sx AS DOUBLE) / CAST(nh AS DOUBLE))) AS is_change
        |FROM r ORDER BY event_type, hr""".stripMargin,

    // seasonal z replay: decimal square sums (HUGEINT here), divide-first
    // double moments, identical flag shape (q_changepoint contract)
    "q_anomaly" ->
      """WITH e AS (
        |  SELECT event_id,
        |    (epoch_us(ts) // 1000000 // 86400 + 4) % 7 AS dow,
        |    (epoch_us(ts) // 1000000 // 3600) % 24 AS hour,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |m AS (
        |  SELECT dow, hour, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sm,
        |    sum(cents * cents) AS sq
        |  FROM e GROUP BY 1, 2),
        |r AS (
        |  SELECT event_id, dow, hour, cents, n,
        |    CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |    greatest(CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) -
        |      (CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      (CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)), 0.0) AS varn
        |  FROM e JOIN m USING (dow, hour))
        |SELECT event_id, dow, hour, cents,
        |  round(mean, 6) AS bin_mean,
        |  round((CAST(cents AS DOUBLE) - mean) / sqrt(varn), 6) AS z
        |FROM r
        |WHERE n >= 2 AND varn > 0 AND
        |  (CAST(cents AS DOUBLE) - mean) * (CAST(cents AS DOUBLE) - mean)
        |    > 9.0 * varn
        |ORDER BY event_id""".stripMargin,

    // KS replay: exact HUGEINT numerator, min-value argmax, fixed-shape
    // double D and rejection cut
    "q_ks_test" ->
      """WITH o AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    (o_orderstatus = 'F') AS s1 FROM orders),
        |v AS (
        |  SELECT cents,
        |    CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN s1 THEN 0 ELSE 1 END) AS BIGINT) AS c2
        |  FROM o GROUP BY 1),
        |cum AS (
        |  SELECT cents,
        |    CAST(sum(c1) OVER (ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS f1,
        |    CAST(sum(c2) OVER (ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS f2
        |  FROM v),
        |t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |             CAST(sum(c2) AS BIGINT) AS n2 FROM v),
        |sc AS (
        |  SELECT n1, n2, cents,
        |    abs(CAST(f1 AS HUGEINT) * n2 - CAST(f2 AS HUGEINT) * n1) AS num
        |  FROM cum, t),
        |mx AS (SELECT n1, n2, max(num) AS d_num FROM sc GROUP BY 1, 2)
        |SELECT n1, n2, CAST(d_num AS DOUBLE) AS d_num,
        |  min(cents) AS at_value,
        |  round(CAST(d_num AS DOUBLE) /
        |    (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 8) AS d,
        |  CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) >
        |    1.358 * sqrt(CAST(n1 + n2 AS DOUBLE) /
        |      (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))) AS reject_05
        |FROM sc JOIN mx USING (n1, n2)
        |WHERE num = d_num
        |GROUP BY n1, n2, d_num""".stripMargin,

    "q_transition" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(ts) // 1000000 AS sec FROM events),
        |l AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY sec, event_id)
        |      AS to_type FROM e),
        |c AS (
        |  SELECT from_type, to_type, count(*) AS n FROM l
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  CAST(n AS DOUBLE) /
        |    CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin,

    "q_rfm" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 1000000 AS sec,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |per AS (
        |  SELECT user_id, max(sec) AS last_sec, count(*) AS frequency,
        |    CAST(sum(cents) AS BIGINT) AS monetary_cents FROM e GROUP BY 1),
        |mx AS (SELECT max(last_sec) AS mx FROM per),
        |rfm AS (
        |  SELECT user_id, mx - last_sec AS recency_sec, frequency,
        |    monetary_cents FROM per, mx),
        |th AS (
        |  SELECT quantile_cont(recency_sec, [1.0/3, 2.0/3]) AS rt,
        |    quantile_cont(frequency, [1.0/3, 2.0/3]) AS ft,
        |    quantile_cont(monetary_cents, [1.0/3, 2.0/3]) AS mt FROM rfm),
        |sc AS (
        |  SELECT user_id, recency_sec, frequency, monetary_cents,
        |    CASE WHEN CAST(recency_sec AS DOUBLE) <= rt[1] THEN 3
        |         WHEN CAST(recency_sec AS DOUBLE) <= rt[2] THEN 2
        |         ELSE 1 END AS r_score,
        |    CASE WHEN CAST(frequency AS DOUBLE) <= ft[1] THEN 1
        |         WHEN CAST(frequency AS DOUBLE) <= ft[2] THEN 2
        |         ELSE 3 END AS f_score,
        |    CASE WHEN CAST(monetary_cents AS DOUBLE) <= mt[1] THEN 1
        |         WHEN CAST(monetary_cents AS DOUBLE) <= mt[2] THEN 2
        |         ELSE 3 END AS m_score
        |  FROM rfm, th)
        |SELECT user_id, recency_sec, frequency, monetary_cents,
        |  r_score, f_score, m_score,
        |  concat(CAST(r_score AS VARCHAR), CAST(f_score AS VARCHAR),
        |    CAST(m_score AS VARCHAR)) AS segment
        |FROM sc ORDER BY user_id""".stripMargin,

    "q_attribution" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, value,
        |    epoch_us(ts) // 1000000 AS sec FROM events),
        |t AS (
        |  SELECT user_id, event_id, event_type, value,
        |    first_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY sec, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_touch,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY sec, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch
        |  FROM e)
        |SELECT coalesce(last_touch, 'none') AS last_touch,
        |  CAST(count(*) AS BIGINT) AS n_conversions,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  CAST(sum(CASE WHEN first_touch = last_touch THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_first_equals_last
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) // 1000000 AS sec FROM events),
        |v AS (SELECT user_id, min(sec) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(sec) AS t2 FROM e JOIN v USING (user_id)
        |  WHERE event_type = 'click' AND sec > t1 AND sec <= t1 + 7200 GROUP BY 1),
        |sg AS (SELECT e.user_id, min(sec) AS t3 FROM e JOIN c USING (user_id)
        |  WHERE event_type = 'signup' AND sec > t2 AND sec <= t2 + 7200 GROUP BY 1),
        |p AS (SELECT e.user_id, min(sec) AS t4 FROM e JOIN sg USING (user_id)
        |  WHERE event_type = 'purchase' AND sec > t3 AND sec <= t3 + 7200 GROUP BY 1),
        |steps AS (
        |  SELECT '1_view' AS step, CAST(count(*) AS BIGINT) AS n_users FROM v
        |  UNION ALL SELECT '2_click', CAST(count(*) AS BIGINT) FROM c
        |  UNION ALL SELECT '3_signup', CAST(count(*) AS BIGINT) FROM sg
        |  UNION ALL SELECT '4_purchase', CAST(count(*) AS BIGINT) FROM p)
        |SELECT step, n_users,
        |  CAST(n_users AS DOUBLE) / (SELECT count(*) FROM v) AS rate
        |FROM steps ORDER BY step""".stripMargin,

    "q_retention" ->
      """WITH e AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 1000000 // 604800 AS wk FROM events),
        |f AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY 1),
        |a AS (SELECT e.user_id, cohort_wk, wk - cohort_wk AS "offset"
        |  FROM e JOIN f USING (user_id) WHERE wk - cohort_wk <= 8),
        |cs AS (SELECT cohort_wk, CAST(count(DISTINCT user_id) AS BIGINT) AS n_cohort
        |  FROM f GROUP BY 1),
        |na AS (SELECT cohort_wk, "offset", CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
        |  FROM a GROUP BY 1, 2)
        |SELECT cohort_wk, "offset", n_active, n_cohort,
        |  CAST(n_active AS DOUBLE) / n_cohort AS rate
        |FROM na JOIN cs USING (cohort_wk)
        |ORDER BY cohort_wk, "offset"""".stripMargin,

    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS sec FROM events),
        |l AS (
        |  SELECT user_id, event_id, sec,
        |    lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS prev FROM e),
        |s AS (
        |  SELECT user_id, event_id, sec,
        |    CASE WHEN prev IS NULL OR sec - prev > 1800 THEN 1 ELSE 0 END AS is_new FROM l),
        |g AS (
        |  SELECT user_id, sec,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY sec, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM s)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(sec) AS start_sec, max(sec) AS end_sec
        |FROM g GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "q_event_windows" ->
      """SELECT (epoch_us(ts) // 1000000 // 3600) * 3600 AS hour_start, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // stream-batch parity: the STREAMING sessionization must equal the
    // exact batch-SQL answer — same oracle text as q_sessionize
    "x_stream_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS sec FROM events),
        |l AS (
        |  SELECT user_id, event_id, sec,
        |    lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS prev FROM e),
        |s AS (
        |  SELECT user_id, event_id, sec,
        |    CASE WHEN prev IS NULL OR sec - prev > 1800 THEN 1 ELSE 0 END AS is_new FROM l),
        |g AS (
        |  SELECT user_id, sec,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY sec, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM s)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(sec) AS start_sec, max(sec) AS end_sec
        |FROM g GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    // stream-batch parity: streaming windowed aggregation vs the batch
    // hour-bucket SQL (decimal(18,6) — the streaming aggregate's sum
    // type — instead of q_event_windows's 18,4)
    "x_stream_windows" ->
      """SELECT (epoch_us(ts) // 1000000 // 3600) * 3600 AS hour_start, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // stream-batch parity: the streaming drift monitor's finalized
    // windows vs the same Laplace-smoothed PSI unrolled in SQL (every
    // window scores against the corpus's overall event_type histogram)
    "x_stream_drift" ->
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
        |ORDER BY 1""".stripMargin,

    // stream-batch parity: streaming bounded-state dedup of the
    // redelivery-injected corpus must return exactly the original
    // unique-keyed events table
    "x_stream_dedup" ->
      """SELECT event_id, user_id, event_type
        |FROM events ORDER BY event_id""".stripMargin,

    // stream-batch parity: the incrementally-MERGEd CDC snapshot must
    // equal the batch last-writer-wins application — same changelog
    // CTEs as d_cdc_apply, snapshot content only (the streamed
    // snapshot carries no origin column)
    "x_stream_cdc" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |ch AS (
        |  SELECT doc_id, doc_id * 10 AS seq, 'U' AS op,
        |    text || ' v1' AS text FROM base WHERE doc_id % 7 = 0
        |  UNION ALL SELECT doc_id, doc_id * 10 + 1, 'U', text || ' v2'
        |    FROM base WHERE doc_id % 7 = 0
        |  UNION ALL SELECT doc_id, doc_id * 10 + 2, 'D', ''
        |    FROM base WHERE doc_id % 11 = 0
        |  UNION ALL SELECT doc_id + 500000000, doc_id * 10 + 3, 'I',
        |    'inserted ' || CAST(doc_id AS VARCHAR)
        |    FROM base WHERE doc_id % 13 = 0),
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
        |FROM merged ORDER BY doc_id""".stripMargin,

    "q_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        |  max(CAST(json_extract(props, '$.k') AS INT)) AS max_k
        |FROM events
        |WHERE json_extract(props, '$.k') IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_topk_per_group" ->
      """SELECT p_brand, rn, p_partkey, p_retailprice FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |    row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn
        |  FROM part)
        |WHERE rn <= 3 ORDER BY p_brand, rn""".stripMargin,

    "q_union_dedup" ->
      """SELECT DISTINCT nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION ALL SELECT s_nationkey FROM supplier)
        |ORDER BY nationkey""".stripMargin,

    "q_pivot" -> {
      val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
      val cols = segs.map(sg =>
        s"""CAST(sum(CASE WHEN c_mktsegment = '$sg' THEN CAST(c_acctbal AS DECIMAL(18,2)) END) AS DOUBLE) AS "$sg"""")
        .mkString(",\n|  ")
      s"""SELECT CAST(c_nationkey AS INT) AS nationkey,
         |  $cols
         |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "q_unpivot" ->
      """SELECT metric, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  min(value) AS vmin, max(value) AS vmax
        |FROM (
        |  UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
        |           FROM lineitem)
        |  ON l_quantity, l_discount, l_tax INTO NAME metric VALUE value)
        |GROUP BY metric ORDER BY metric""".stripMargin,

    "q_intersect" ->
      """SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
        |INTERSECT
        |SELECT CAST(s_nationkey AS INT) FROM supplier
        |ORDER BY nationkey""".stripMargin,

    "q_except" ->
      """SELECT c_mktsegment FROM customer
        |EXCEPT
        |SELECT c_mktsegment FROM customer WHERE c_acctbal > 9990
        |ORDER BY c_mktsegment""".stripMargin,

    "q_window_range" ->
      """SELECT user_id, event_id, sec,
        |  count(*) OVER (PARTITION BY user_id ORDER BY sec
        |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_last_hour
        |FROM (SELECT user_id, event_id, epoch_us(ts) // 1000000 AS sec FROM events)
        |ORDER BY user_id, sec, event_id""".stripMargin,

    "q_gap_fill" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS sec,
        |    CASE WHEN event_type <> 'error' THEN value END AS v
        |  FROM events)
        |SELECT user_id, event_id, sec, v,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY sec, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
        |FROM e ORDER BY user_id, sec, event_id""".stripMargin,

    "q_asof_join" ->
      // independent formulation: correlated max over the click stream
      // (the Spark side is the merge/window construction)
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |    epoch_us(ts) // 1000000 AS sec,
        |    (epoch_us(ts) // 1000000) * 4294967296 + event_id AS ord
        |  FROM events),
        |p AS (SELECT * FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT * FROM e WHERE event_type = 'click'),
        |m AS (
        |  SELECT p.event_id AS pid, max(c.ord) AS mord
        |  FROM p JOIN c ON c.user_id = p.user_id AND c.ord <= p.ord
        |  GROUP BY p.event_id)
        |SELECT p.event_id, p.user_id, p.sec,
        |  CAST(m.mord % 4294967296 AS BIGINT) AS asof_click_event_id,
        |  CAST(m.mord // 4294967296 AS BIGINT) AS asof_click_sec
        |FROM p LEFT JOIN m ON m.pid = p.event_id
        |ORDER BY p.event_id""".stripMargin,

    "q_range_join" ->
      """WITH bands(band, lo, hi) AS (VALUES
        |  ('low', 0.0, 5.0), ('mid', 5.0, 10.0),
        |  ('high', 10.0, 20.0), ('xhigh', 20.0, 1000000000.0))
        |SELECT band, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN bands ON value >= lo AND value < hi
        |GROUP BY band ORDER BY band""".stripMargin,

    // exact-integer Pearson replay: sums run in HUGEINT (Spark:
    // decimal(38,0)) so every sufficient statistic is exact; the r
    // expression has the same double shape in both engines
    "q_correlation" -> {
      def arm(x: String, y: String, sx: String, sy: String,
              ssx: String, ssy: String, sp: String) =
        s"""  SELECT grp, '$x' AS col_x, '$y' AS col_y, CAST(n AS BIGINT) AS n,
           |    CASE WHEN n*$ssx - $sx*$sx > 0 AND n*$ssy - $sy*$sy > 0 THEN
           |      CAST(n*$sp - $sx*$sy AS DOUBLE) /
           |        (sqrt(CAST(n*$ssx - $sx*$sx AS DOUBLE)) *
           |         sqrt(CAST(n*$ssy - $sy*$sy AS DOUBLE)))
           |    END AS corr FROM a""".stripMargin
      s"""WITH b AS (
         |  SELECT l_returnflag AS grp,
         |    CAST(l_quantity AS BIGINT) AS qty,
         |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
         |    CAST(round(l_discount * 100) AS BIGINT) AS disc_c
         |  FROM lineitem),
         |a AS (
         |  SELECT grp, count(*) AS n,
         |    sum(qty) AS s_qty, sum(price_c) AS s_price, sum(disc_c) AS s_disc,
         |    sum(qty*qty) AS ss_qty, sum(price_c*price_c) AS ss_price,
         |    sum(disc_c*disc_c) AS ss_disc,
         |    sum(qty*price_c) AS sp_qp, sum(qty*disc_c) AS sp_qd,
         |    sum(price_c*disc_c) AS sp_pd
         |  FROM b GROUP BY grp)
         |SELECT * FROM (
         |${arm("qty", "price_c", "s_qty", "s_price", "ss_qty", "ss_price", "sp_qp")}
         |  UNION ALL
         |${arm("qty", "disc_c", "s_qty", "s_disc", "ss_qty", "ss_disc", "sp_qd")}
         |  UNION ALL
         |${arm("price_c", "disc_c", "s_price", "s_disc", "ss_price", "ss_disc", "sp_pd")})
         |ORDER BY grp, col_x, col_y""".stripMargin
    },

    // the oracle is the straight inequality join (DuckDB's IEJoin
    // handles it); the tiled rewrite must produce the identical bag
    "q_interval_join" ->
      """WITH e AS (
        |  SELECT event_id, event_type,
        |    epoch_us(ts) // 1000000 AS sec FROM events),
        |errs AS (
        |  SELECT event_id AS l_id, sec AS l_start, sec + 600 AS l_end
        |  FROM e WHERE event_type = 'error'),
        |purch AS (
        |  SELECT event_id AS r_id, sec - 300 AS r_start, sec + 300 AS r_end
        |  FROM e WHERE event_type = 'purchase')
        |SELECT l_id AS error_id, count(*) AS n_overlap,
        |  CAST(sum(least(l_end, r_end) - greatest(l_start, r_start)) AS BIGINT)
        |    AS overlap_secs
        |FROM errs JOIN purch ON l_start < r_end AND r_start < l_end
        |GROUP BY l_id ORDER BY l_id""".stripMargin,

    "q_scalar_subquery" ->
      """SELECT l_returnflag, count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_quantity > (SELECT avg(l_quantity) FROM lineitem)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_salted_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_percentile" ->
      """SELECT c_mktsegment,
        |  quantile_cont(cents, 0.5) AS p50_cents,
        |  quantile_cont(cents, 0.9) AS p90_cents,
        |  count(*) AS n_customers
        |FROM (SELECT c_mktsegment,
        |        CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |      FROM customer)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_approx_sketch" ->
      // sketch values are engine-specific; the gate is the exact
      // aggregates plus the sketch-accuracy booleans, which must be
      // TRUE when Spark's HLL/percentile sketches meet their contracts
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_custs,
        |  true AS hll_ok, true AS p50_ok
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "i_removal_processor" ->
      """SELECT doc_id, CAST(1 AS BIGINT) AS n_elements FROM documents
        |WHERE length(trim(text)) > 0 ORDER BY doc_id""".stripMargin,

    "i_chunk_token" -> {
      val step = 48; val maxT = 64; val overlap = 16
      s"""WITH toks AS (
         |  SELECT doc_id, ${sqlToks("text")} AS t FROM documents),
         |n AS (SELECT doc_id, t, len(t) AS n FROM toks),
         |chunks AS (
         |  SELECT doc_id, CAST(u.i AS INT) AS chunk_id,
         |    array_to_string(t[u.i*$step+1 : u.i*$step+$maxT], ' ') AS content
         |  FROM n, unnest(range(0, greatest(CAST(ceil(n / $step.0) AS BIGINT), 1))) AS u(i))
         |SELECT doc_id, chunk_id, content,
         |  CAST(len(${sqlToks("content")}) AS INT) AS token_count
         |FROM chunks WHERE length(content) > 0
         |ORDER BY doc_id, chunk_id""".stripMargin
    },

    "i_chunk_page_meta" -> {
      val step = 48; val maxT = 64
      s"""WITH toks AS (
         |  SELECT doc_id, lang, source, ${sqlToks("text")} AS t FROM documents),
         |n AS (SELECT doc_id, lang, source, t, len(t) AS n FROM toks),
         |chunks AS (
         |  SELECT doc_id, lang, source, CAST(u.i AS INT) AS chunk_id,
         |    array_to_string(t[u.i*$step+1 : u.i*$step+$maxT], ' ') AS content
         |  FROM n, unnest(range(0, greatest(CAST(ceil(n / $step.0) AS BIGINT), 1))) AS u(i))
         |SELECT doc_id, chunk_id,
         |  CAST(len(${sqlToks("content")}) AS INT) AS token_count,
         |  CAST(doc_id % 7 + 1 AS INT) AS page_number,
         |  lang AS meta_lang, source AS meta_source
         |FROM chunks WHERE length(content) > 0
         |ORDER BY doc_id, chunk_id""".stripMargin
    },

    // The four structural chunkers and the markdown reader have exact
    // SQL twins FOR THIS CORPUS: the synthetic documents are single
    // single-spaced word sequences (verified: no headers, tables,
    // sentence punctuation, double spaces, or empty texts at any SF),
    // so parseBlocks yields exactly one paragraph per document and the
    // packers degenerate to 64-token windows under an empty context —
    // fully expressible in DuckDB. The STRUCTURAL semantics (header
    // stacks, section splits, table row-splitting, semantic distance
    // splits) stay covered by ChunkersSpec / MarkdownReaderSpec, which
    // mirror the reference's own unit tests; these oracles hash-gate
    // the whole parse→split→pack path end-to-end on real data.
    "i_markdown_elements" ->
      """SELECT doc_id, CAST(0 AS INT) AS seq, 'paragraph' AS kind,
        |  CAST(0 AS INT) AS level, text
        |FROM documents WHERE length(trim(text)) > 0
        |ORDER BY doc_id, seq""".stripMargin,

    // replay of the deterministic HTML wrapping: the reader must
    // decode the entity escapes back to the original text and collapse
    // HTML whitespace runs; element order is fixed by the template
    "i_html_elements" ->
      """WITH base AS (SELECT doc_id, text, lang, source FROM documents)
        |SELECT doc_id, CAST(seq AS INT) AS seq, kind,
        |  CAST(level AS INT) AS level, text FROM (
        |  SELECT doc_id, 0 AS seq, 'header' AS kind, 1 AS level,
        |    'Doc ' || doc_id AS text FROM base
        |  UNION ALL SELECT doc_id, 1, 'paragraph', 0,
        |    trim(regexp_replace('body: ' || text, '\s+', ' ', 'g')) FROM base
        |  UNION ALL SELECT doc_id, 2, 'paragraph', 0, 'lang: ' || lang FROM base
        |  UNION ALL SELECT doc_id, 3, 'paragraph', 0, 'source: ' || source FROM base
        |  UNION ALL SELECT doc_id, 4, 'image', 0, 'fig ' || doc_id FROM base
        |  UNION ALL SELECT doc_id, 5, 'footer', 0, 'end of doc ' || doc_id FROM base)
        |ORDER BY doc_id, seq""".stripMargin,

    // replay of the deterministic DOCX packaging: the reader must
    // unzip, parse WordprocessingML, decode XML escapes back to the
    // original text, and collapse whitespace; element order is fixed
    // by the synthesis template (table text = cells joined in row
    // order, like the HTML table contract)
    "i_docx_elements" ->
      """WITH base AS (SELECT doc_id, text, lang, source, n_chars FROM documents)
        |SELECT doc_id, CAST(seq AS INT) AS seq, kind,
        |  CAST(level AS INT) AS level, text FROM (
        |  SELECT doc_id, 0 AS seq, 'header' AS kind, 1 AS level,
        |    'Doc ' || doc_id AS text FROM base
        |  UNION ALL SELECT doc_id, 1, 'paragraph', 0,
        |    trim(regexp_replace('body: ' || text, '\s+', ' ', 'g')) FROM base
        |  UNION ALL SELECT doc_id, 2, 'paragraph', 0, 'lang: ' || lang FROM base
        |  UNION ALL SELECT doc_id, 3, 'paragraph', 0, 'source: ' || source FROM base
        |  UNION ALL SELECT doc_id, 4, 'image', 0, 'fig ' || doc_id FROM base
        |  UNION ALL SELECT doc_id, 5, 'table', 0,
        |    'stat value n_chars ' || n_chars FROM base
        |  UNION ALL SELECT doc_id, 6, 'footer', 0,
        |    'end of doc ' || doc_id FROM base)
        |ORDER BY doc_id, seq""".stripMargin,

    // replay of the deterministic XLSX packaging: the reader must
    // unzip, resolve sheets through the workbook rels, decode shared/
    // inline/numeric cells, and blank the merged-covered title cell;
    // element order is fixed by the synthesis template (table text =
    // non-empty cells joined in row-major order)
    "i_xlsx_elements" ->
      """WITH base AS (SELECT doc_id, text, lang, source, n_chars FROM documents)
        |SELECT doc_id, CAST(seq AS INT) AS seq, kind,
        |  CAST(level AS INT) AS level, text FROM (
        |  SELECT doc_id, 0 AS seq, 'header' AS kind, 1 AS level,
        |    'meta' AS text FROM base
        |  UNION ALL SELECT doc_id, 1, 'table', 0,
        |    'Doc ' || doc_id || ' field value lang ' || lang ||
        |    ' source ' || source || ' n_chars ' || n_chars FROM base
        |  UNION ALL SELECT doc_id, 2, 'header', 1, 'body' FROM base
        |  UNION ALL SELECT doc_id, 3, 'table', 0,
        |    trim(regexp_replace('text ' || text, '\s+', ' ', 'g')) FROM base)
        |ORDER BY doc_id, seq""".stripMargin,

    // replay of the deterministic PPTX packaging: the reader must
    // unzip, order slides through the presentation rels, map the
    // placeholder types, recover the table grid, and resolve the
    // notes part through the slide's own rels; slide = page
    "i_pptx_elements" ->
      """WITH base AS (SELECT doc_id, text, lang, source, n_chars FROM documents)
        |SELECT doc_id, CAST(seq AS INT) AS seq, kind,
        |  CAST(level AS INT) AS level, text,
        |  CAST(page AS INT) AS page_number FROM (
        |  SELECT doc_id, 0 AS seq, 'header' AS kind, 1 AS level,
        |    'Doc ' || doc_id AS text, 1 AS page FROM base
        |  UNION ALL SELECT doc_id, 1, 'paragraph', 0,
        |    trim(regexp_replace('body: ' || text, '\s+', ' ', 'g')), 1 FROM base
        |  UNION ALL SELECT doc_id, 2, 'paragraph', 0, 'lang: ' || lang, 1 FROM base
        |  UNION ALL SELECT doc_id, 3, 'paragraph', 0, 'source: ' || source, 1 FROM base
        |  UNION ALL SELECT doc_id, 4, 'image', 0, 'fig ' || doc_id, 1 FROM base
        |  UNION ALL SELECT doc_id, 5, 'header', 1, 'stats', 2 FROM base
        |  UNION ALL SELECT doc_id, 6, 'table', 0,
        |    'stat value n_chars ' || n_chars, 2 FROM base
        |  UNION ALL SELECT doc_id, 7, 'footer', 0,
        |    'end of doc ' || doc_id, 2 FROM base)
        |ORDER BY doc_id, seq""".stripMargin,

    // replay of the deterministic PDF packaging: the reader must
    // scan the COS objects, inflate the content streams, interpret
    // the text operators, and re-derive structure from font sizes;
    // element order and page split are fixed by the synthesis
    // template (whitespace collapses exactly like the other readers)
    "i_pdf_elements" ->
      """WITH base AS (SELECT doc_id, text, lang, source,
        |  CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS img FROM documents)
        |SELECT doc_id, CAST(seq AS INT) AS seq, kind,
        |  CAST(level AS INT) AS level, text,
        |  CAST(page AS INT) AS page_number FROM (
        |  SELECT doc_id, 0 AS seq, 'header' AS kind, 1 AS level,
        |    'Doc ' || doc_id AS text, 1 AS page FROM base
        |  UNION ALL SELECT doc_id, 1, 'paragraph', 0,
        |    trim(regexp_replace('body: ' || text, '\s+', ' ', 'g')), 1 FROM base
        |  UNION ALL SELECT doc_id, 2, 'image', 0,
        |    'fig ' || doc_id, 1 FROM base WHERE img = 1
        |  UNION ALL SELECT doc_id, 2 + img, 'paragraph', 0, 'lang: ' || lang, 2 FROM base
        |  UNION ALL SELECT doc_id, 3 + img, 'paragraph', 0, 'source: ' || source, 2 FROM base
        |  UNION ALL SELECT doc_id, 4 + img, 'paragraph', 0,
        |    'end of doc ' || doc_id, 2 FROM base
        |  UNION ALL SELECT doc_id, 5 + img, 'table', 0,
        |    'field value lang ' || lang || ' source ' || source, 2 FROM base)
        |ORDER BY doc_id, seq""".stripMargin,

    // row-rules replay: header, the recovered 2-column table (cells in
    // reading order), trailing paragraph — single page
    "i_pdf_rowrules" ->
      """WITH base AS (SELECT doc_id, lang, source FROM documents)
        |SELECT doc_id, CAST(seq AS INT) AS seq, kind,
        |  CAST(level AS INT) AS level, text,
        |  CAST(page AS INT) AS page_number FROM (
        |  SELECT doc_id, 0 AS seq, 'header' AS kind, 1 AS level,
        |    'Doc ' || doc_id AS text, 1 AS page FROM base
        |  UNION ALL SELECT doc_id, 1, 'table', 0,
        |    'field value lang ' || lang || ' source ' || source, 1 FROM base
        |  UNION ALL SELECT doc_id, 2, 'paragraph', 0,
        |    'end of doc ' || doc_id, 1 FROM base)
        |ORDER BY doc_id, seq""".stripMargin,

    // same roundtrip contract as i_pdf_rowrules, with NOTHING drawn:
    // the recovered grid comes from whitespace geometry alone
    "i_pdf_borderless" ->
      """WITH base AS (SELECT doc_id, lang, source FROM documents)
        |SELECT doc_id, CAST(seq AS INT) AS seq, kind,
        |  CAST(level AS INT) AS level, text,
        |  CAST(page AS INT) AS page_number FROM (
        |  SELECT doc_id, 0 AS seq, 'header' AS kind, 1 AS level,
        |    'Doc ' || doc_id AS text, 1 AS page FROM base
        |  UNION ALL SELECT doc_id, 1, 'table', 0,
        |    'field value lang ' || lang || ' source ' || source, 1 FROM base
        |  UNION ALL SELECT doc_id, 2, 'paragraph', 0,
        |    'end of doc ' || doc_id, 1 FROM base)
        |ORDER BY doc_id, seq""".stripMargin,

    // continuation replay: even docs stitch into one table whose text
    // carries the header cells once; odd docs keep two tables
    "i_pdf_continuation" ->
      """WITH base AS (SELECT doc_id, lang, source FROM documents)
        |SELECT doc_id, CAST(seq AS INT) AS seq, kind,
        |  CAST(level AS INT) AS level, text,
        |  CAST(page AS INT) AS page_number FROM (
        |  SELECT doc_id, 0 AS seq, 'paragraph' AS kind, 0 AS level,
        |    'ledger for doc ' || doc_id AS text, 1 AS page FROM base
        |  UNION ALL SELECT doc_id, 1, 'table', 0,
        |    CASE WHEN doc_id % 2 = 0
        |      THEN 'field value lang ' || lang || ' source ' || source
        |      ELSE 'field value lang ' || lang END, 1 FROM base
        |  UNION ALL SELECT doc_id, 2, 'table', 0,
        |    'key detail source ' || source, 2 FROM base WHERE doc_id % 2 = 1
        |  UNION ALL SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 3 END, 'paragraph', 0,
        |    'end of doc ' || doc_id, 2 FROM base)
        |ORDER BY doc_id, seq""".stripMargin,

    // mixed-format routing replay: whichever of the four formats
    // carried the document (doc_id % 4), the canonical element rows
    // are identical — only the detected-format audit column varies
    "i_auto_elements" ->
      """WITH base AS (SELECT doc_id, text,
        |  CASE CAST(doc_id % 6 AS INT) WHEN 0 THEN 'markdown'
        |    WHEN 1 THEN 'html' WHEN 2 THEN 'docx' WHEN 3 THEN 'pdf'
        |    WHEN 4 THEN 'xlsx' ELSE 'pptx' END AS format
        |  FROM documents)
        |SELECT doc_id, CAST(seq AS INT) AS seq, kind,
        |  CAST(level AS INT) AS level, text, format FROM (
        |  SELECT doc_id, 0 AS seq, 'header' AS kind, 1 AS level,
        |    'Doc ' || doc_id AS text, format FROM base
        |  UNION ALL SELECT doc_id, 1,
        |    CASE WHEN format = 'xlsx' THEN 'table' ELSE 'paragraph' END, 0,
        |    trim(regexp_replace('body: ' || text, '\s+', ' ', 'g')),
        |    format FROM base)
        |ORDER BY doc_id, seq""".stripMargin,

    // full HTML-pipeline replay: the packed chunk content is the six
    // template elements' semantic texts joined by newlines (headers/
    // paragraphs/footers use markdown — identical to plain text for
    // this corpus — images use alt text), all under the default
    // 2000-token budget so each document is exactly one chunk; the
    // summary/sentiment enrichers then run over that content with
    // their default vocabularies (the i_pipeline_e2e contract, HTML
    // reader swapped in)
    "i_pipeline_html" -> {
      val posList = graft.operators.Processors.PositiveWords.map(w => s"'$w'").mkString(",")
      val negList = graft.operators.Processors.NegativeWords.map(w => s"'$w'").mkString(",")
      s"""WITH content AS (
         |  SELECT doc_id, CAST(0 AS INT) AS chunk_id,
         |    '# Doc ' || doc_id || chr(10) ||
         |    trim(regexp_replace('body: ' || text, '\\s+', ' ', 'g')) || chr(10) ||
         |    'lang: ' || lang || chr(10) || 'source: ' || source || chr(10) ||
         |    'fig ' || doc_id || chr(10) || 'end of doc ' || doc_id AS content
         |  FROM documents),
         |scored AS (
         |  SELECT doc_id, chunk_id, content,
         |    CAST(len(${sqlToks("content")}) AS INT) AS token_count,
         |    len(list_filter(${sqlToks("lower(content)")}, x -> list_contains([$posList], x))) AS p,
         |    len(list_filter(${sqlToks("lower(content)")}, x -> list_contains([$negList], x))) AS n
         |  FROM content)
         |SELECT doc_id, chunk_id, token_count,
         |  array_to_string((${sqlToks("content")})[1:100], ' ') AS summary,
         |  CASE WHEN p + n = 0 THEN 'Unknown'
         |       WHEN p > n THEN 'Positive'
         |       WHEN n > p THEN 'Negative'
         |       ELSE 'Neutral' END AS sentiment
         |FROM scored ORDER BY doc_id, chunk_id""".stripMargin
    },

    "i_chunk_header" -> structuralChunkOracle,
    "i_chunk_section" -> structuralChunkOracle,
    "i_chunk_semantic" -> structuralChunkOracle,

    // recursive-splitter replay: the same three-level cascade —
    // structured text, blank-line blocks, SEP-rewrite sentence split,
    // budget-start bundles via running window, token-window hard
    // splits — with 1-based range indices standing in for posexplode
    "i_chunk_recursive" ->
      s"""WITH st AS (
         |  SELECT doc_id, array_to_string(list_transform(range(1, len(t) + 1), i ->
         |    CASE WHEN i % 23 = 0 THEN t[i] || '.' || chr(10) || chr(10)
         |         WHEN i % 7 = 0 AND i % 35 <> 0 THEN t[i] || '.'
         |         ELSE t[i] END), ' ') AS text
         |  FROM (SELECT doc_id, ${sqlToks("text")} AS t FROM documents)),
         |bl AS (
         |  SELECT doc_id, u.i AS block_idx, l[u.i] AS block
         |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\n{2,}'),
         |          x -> length(trim(x)) > 0) AS l FROM st) t,
         |       unnest(range(1, len(l) + 1)) AS u(i)),
         |pc AS (
         |  SELECT doc_id, block_idx, u.i AS piece_idx, pl[u.i] AS piece
         |  FROM (SELECT doc_id, block_idx,
         |          CASE WHEN len(${sqlToks("block")}) <= 8 THEN [block]
         |               ELSE string_split(regexp_replace(block, '([.!?])\\s+',
         |                 '\\1' || chr(1), 'g'), chr(1)) END AS pl
         |        FROM bl) t,
         |       unnest(range(1, len(pl) + 1)) AS u(i)),
         |sb AS (
         |  SELECT doc_id, block_idx, piece_idx, u.i AS sub_idx, sl[u.i] AS sub,
         |    CAST(len(${sqlToks("sl[u.i]")}) AS BIGINT) AS n_tok
         |  FROM (SELECT doc_id, block_idx, piece_idx,
         |          CASE WHEN len(${sqlToks("piece")}) <= 8 THEN [piece]
         |               ELSE list_transform(range(0, (len(${sqlToks("piece")}) + 7) // 8),
         |                    i -> array_to_string((${sqlToks("piece")})[i*8+1 : i*8+8], ' ')) END AS sl
         |        FROM pc) t,
         |       unnest(range(1, len(sl) + 1)) AS u(i)),
         |bu AS (
         |  SELECT doc_id, block_idx, piece_idx, sub_idx, sub, n_tok,
         |    (CAST(sum(n_tok) OVER (PARTITION BY doc_id, block_idx
         |       ORDER BY piece_idx, sub_idx
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      - n_tok) // 8 AS bundle
         |  FROM sb),
         |ck AS (
         |  SELECT doc_id, block_idx, bundle,
         |    array_to_string(list(sub ORDER BY piece_idx, sub_idx), ' ') AS content,
         |    CAST(sum(n_tok) AS BIGINT) AS token_count
         |  FROM bu GROUP BY 1, 2, 3)
         |SELECT doc_id,
         |  CAST(row_number() OVER (PARTITION BY doc_id
         |    ORDER BY block_idx, bundle) AS BIGINT) - 1 AS chunk_id,
         |  content, token_count
         |FROM ck ORDER BY doc_id, chunk_id""".stripMargin,

    "i_chunk_markdown" ->
      // no level<=3 headers in the corpus → one chunk per document:
      // the whole text under an empty context
      s"""SELECT doc_id, CAST(0 AS INT) AS chunk_id, text AS content,
         |  '' AS context, CAST(len(${sqlToks("text")}) AS INT) AS token_count,
         |  CAST(NULL AS INT) AS page_number
         |FROM documents WHERE length(trim(text)) > 0
         |ORDER BY doc_id, chunk_id""".stripMargin,

    // canonical pipeline at default options (maxTokens=2000): every
    // document is one chunk (text verbatim), then the summary and
    // sentiment enrichers run over chunk content with their default
    // vocabularies
    "i_pipeline_e2e" -> pipelineE2eOracle,

    // stream-batch parity: per-micro-batch broadcast dimension attach
    // vs the batch join (dimension = per-user profile from the corpus)
    "x_stream_enrich" ->
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
        |ORDER BY e.event_id""".stripMargin,

    // stream-batch parity: the STREAMING pipeline execution must
    // satisfy the identical SQL the batch pipeline passes
    "x_stream_ingest" -> pipelineE2eOracle,

    // stream-batch parity: after the re-ingestion micro-batch, the
    // incrementally-written store must equal the batch vector records
    // over the REVISED corpus — replace-by-documentid, not append
    "x_stream_upsert" ->
      s"""WITH revised AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 10 = 0 THEN text || ' rev2' ELSE text END AS text
         |  FROM documents),
         |${vectorRecordsCtes("revised")}
         |SELECT key, content, context, documentid,
         |  CAST(r.range - 1 AS INT) AS dim,
         |  CAST(embedding[CAST(r.range AS INT)] AS DOUBLE) AS val
         |FROM vr CROSS JOIN range(1, 17) r
         |ORDER BY CAST(documentid AS BIGINT), key, dim""".stripMargin,

    // stream-batch parity: the streaming interval self-join's emitted
    // pair set vs the batch interval join (truncated-second event
    // times on both sides, the events-family convention)
    "x_stream_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |    epoch_us(ts) // 1000000 AS sec FROM events)
        |SELECT a.event_id AS view_id, b.event_id AS purchase_id,
        |  a.user_id, a.sec AS view_sec, b.sec AS purchase_sec
        |FROM e a JOIN e b ON a.user_id = b.user_id
        |  AND b.sec >= a.sec AND b.sec <= a.sec + 3600
        |WHERE a.event_type = 'view' AND b.event_type = 'purchase'
        |ORDER BY view_id, purchase_id""".stripMargin,

    // stream-batch parity: the streaming curation loop's accept set
    // vs the four-batch admission sequence unrolled in SQL
    "x_stream_curate" -> streamCurateSql,
    "x_stream_retract" -> streamRetractSql,

    // stream-batch parity: the streaming IVF upsert's final probe
    // answer vs the frozen-centroid / replace-by-id sequence in SQL
    // (centroids sampled from the batch-0 id-range slice exactly as
    // writeIvfIndex's modulo selection; every 10th vector carries its
    // re-ingested NEGATED embedding)
    "x_stream_ivf" ->
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
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // coalesce: DuckDB array_to_string([]) is NULL where Spark
    // array_join(empty) is '' — zero-hit documents (sf1 has 348 of
    // them for the keyword vocabulary) otherwise hash-mismatch
    "i_enrich_summary" ->
      s"""SELECT doc_id,
         |  coalesce(array_to_string((${sqlToks("text")})[1:20], ' '), '') AS summary
         |FROM documents ORDER BY doc_id""".stripMargin,

    "i_enrich_keywords" -> {
      val vocab = Seq("data", "join", "query", "spark", "stream", "table", "vector", "window")
      val scored = vocab.sorted.map(w =>
        s"{'negc': -len(list_filter(toks, x -> x = '$w')), 'word': '$w'}").mkString(", ")
      s"""WITH t AS (SELECT doc_id, ${sqlToks("lower(text)")} AS toks FROM documents),
         |c AS (SELECT doc_id, [$scored] AS scored FROM t)
         |SELECT doc_id,
         |  coalesce(array_to_string(
         |    list_transform(list_slice(list_sort(list_filter(scored, s -> s.negc < 0)), 1, 5),
         |                   s -> s.word), ','), '') AS keywords
         |FROM c ORDER BY doc_id""".stripMargin
    },

    "i_enrich_classification" -> {
      def hits(words: Seq[String]) =
        s"len(list_filter(${sqlToks("lower(text)")}, x -> list_contains([${words.map(w => s"'$w'").mkString(",")}], x)))"
      val a = hits(Seq("query", "join", "agg", "group", "sort"))
      val st = hits(Seq("table", "row", "column", "part", "key"))
      val sm = hits(Seq("stream", "batch", "window", "watermark"))
      s"""SELECT doc_id,
         |  CASE WHEN ca = 0 AND cst = 0 AND csm = 0 THEN 'Unknown'
         |       WHEN ca >= cst AND ca >= csm THEN 'analytics'
         |       WHEN cst >= csm THEN 'storage'
         |       ELSE 'streaming' END AS classification
         |FROM (SELECT doc_id, $a AS ca, $st AS cst, $sm AS csm FROM documents)
         |ORDER BY doc_id""".stripMargin
    },

    "i_enrich_sentiment" -> {
      val pos = s"len(list_filter(${sqlToks("lower(text)")}, x -> list_contains(['fast','small','big'], x)))"
      val neg = s"len(list_filter(${sqlToks("lower(text)")}, x -> list_contains(['slow','dup'], x)))"
      s"""SELECT doc_id,
         |  CASE WHEN p + n = 0 THEN 'Unknown'
         |       WHEN p > n THEN 'Positive'
         |       WHEN n > p THEN 'Negative'
         |       ELSE 'Neutral' END AS sentiment
         |FROM (SELECT doc_id, $pos AS p, $neg AS n FROM documents)
         |ORDER BY doc_id""".stripMargin
    },

    "i_enrich_imagealt" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 2 THEN 'paragraph' ELSE 'image' END AS kind,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image:' || source
        |       WHEN doc_id % 3 = 1 THEN 'alt' || doc_id
        |       ELSE '' END AS text
        |FROM documents ORDER BY doc_id""".stripMargin,

    "i_vector_store" ->
      s"""WITH $vectorRecordsCte
         |SELECT key, content, context, documentid,
         |  CAST(r.range - 1 AS INT) AS dim,
         |  CAST(embedding[CAST(r.range AS INT)] AS DOUBLE) AS val
         |FROM vr CROSS JOIN range(1, 17) r
         |ORDER BY CAST(documentid AS BIGINT), key, dim""".stripMargin,

    "s_semantic_search" -> {
      // SemanticSearch.cs path: embed the query text with the SAME
      // embedder (literal vector inlined from Chunkers.embed), score
      // every vector record, top-10 by (cos desc, key)
      val qlit = queryVec(16).map(f => s"CAST($f AS FLOAT)").mkString("[", ", ", "]")
      s"""WITH $vectorRecordsCte,
         |q AS (SELECT $qlit AS v),
         |scored AS (
         |  SELECT key, ${sqlCos("embedding", "q.v", dim = 16)} AS c FROM vr, q)
         |SELECT key, round(c, 6) AS cos FROM scored
         |ORDER BY c DESC, key LIMIT 10""".stripMargin
    },

    "d_dedup_exact" ->
      s"""WITH corpus AS ($corpusWithDupsSql)
         |SELECT min(doc_id) AS keeper, count(*) AS dup_count
         |FROM corpus GROUP BY text HAVING count(*) > 1
         |ORDER BY keeper""".stripMargin,

    "d_dedup_keep" ->
      s"""WITH corpus AS ($corpusWithDupsSql)
         |SELECT doc_id, CAST(length(text) AS INT) AS n_chars FROM corpus
         |WHERE doc_id IN (SELECT min(doc_id) FROM corpus GROUP BY text)
         |ORDER BY doc_id""".stripMargin,

    "d_dedup_ngram" ->
      s"""WITH $ngramPairsCte
         |SELECT a, b, inter, na, nb FROM dup_pairs
         |ORDER BY a, b""".stripMargin,

    // threshold sweep over the shared unfiltered `pairs` stage —
    // same integer basis-point acceptance as the production operators
    "d_dedup_sweep" ->
      s"""WITH $ngramPairsCte,
         |ths AS (SELECT unnest([5000, 6000, 7000, 8000, 9000]) AS t_bps),
         |ex2 AS (
         |  SELECT t.t_bps, unnest([p.a, p.b]) AS d
         |  FROM pairs p JOIN ths t
         |    ON p.inter * 10000 >= t.t_bps * (p.na + p.nb - p.inter)),
         |ag AS (
         |  SELECT t_bps, CAST(count(*) // 2 AS BIGINT) AS n_pairs,
         |    CAST(count(DISTINCT d) AS BIGINT) AS n_docs
         |  FROM ex2 GROUP BY t_bps)
         |SELECT t.t_bps, coalesce(n_pairs, 0) AS n_pairs,
         |  coalesce(n_docs, 0) AS n_docs
         |FROM ths t LEFT JOIN ag USING (t_bps)
         |ORDER BY t_bps""".stripMargin,

    // segment-blocked Levenshtein replay: same 64-char heads, same
    // three 21-char slices, same <=1000-per-segment hot guard,
    // distinct candidates, then exact edit distance <= 2
    "d_dedup_fuzzy" ->
      s"""WITH corpus AS ($corpusWithDupsSql
         |  UNION ALL SELECT doc_id + 3000000,
         |    substr(text, 1, 4) || 'Z' || substr(text, 6)
         |  FROM documents WHERE doc_id % 10 = 0),
         |h AS (SELECT doc_id, substr(text, 1, 64) AS head FROM corpus),
         |sl AS (
         |  SELECT doc_id, head, s.slot, substr(head, s.slot * 21 + 1, 21) AS seg
         |  FROM h, (SELECT unnest([0, 1, 2]) AS slot) s
         |  WHERE length(substr(head, s.slot * 21 + 1, 21)) > 0),
         |ok AS (SELECT slot, seg FROM sl GROUP BY slot, seg HAVING count(*) <= 1000),
         |c AS (SELECT sl.* FROM sl JOIN ok USING (slot, seg)),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.head AS ha, y.head AS hb
         |  FROM c x JOIN c y ON x.slot = y.slot AND x.seg = y.seg AND x.doc_id < y.doc_id)
         |SELECT a, b, CAST(levenshtein(ha, hb) AS BIGINT) AS dist
         |FROM cand WHERE levenshtein(ha, hb) <= 2
         |ORDER BY a, b""".stripMargin,

    "d_dedup_url" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 3 = 0 THEN 'http://'
        |          WHEN doc_id % 3 = 1 THEN 'https://www.'
        |          ELSE 'HTTPS://' END)
        |    || 'ex' || CAST(doc_id % 37 AS VARCHAR) || '.com/p/' || CAST(doc_id % 11 AS VARCHAR)
        |    || (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed' ELSE '/' END) AS url
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(lower(url),
        |      '^https?://', ''), '^(www\.)+', ''), '[?#].*$', ''), '/+$', '') AS canon_url
        |  FROM u)
        |SELECT canon_url, min(doc_id) AS keeper, count(*) AS dup_count
        |FROM c GROUP BY canon_url HAVING count(*) > 1
        |ORDER BY canon_url""".stripMargin,

    "q_streaks" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    epoch_us(ts) // 1000000 // 86400 AS day FROM events),
        |isl AS (
        |  SELECT user_id,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
        |  FROM ud),
        |st AS (
        |  SELECT user_id, grp, count(*) AS len FROM isl GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
        |  CAST(max(len) AS BIGINT) AS longest_streak,
        |  count(*) AS n_streaks
        |FROM st GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_basket" ->
      """WITH li AS (
        |  SELECT DISTINCT user_id AS ok, event_type AS pk FROM events),
        |no AS (SELECT count(DISTINCT ok) AS n FROM li),
        |na AS (SELECT pk, count(*) AS na FROM li GROUP BY pk),
        |pr AS (
        |  SELECT x.pk AS pa, y.pk AS pb, count(*) AS n_ab
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
        |  GROUP BY 1, 2)
        |SELECT pa, pb, CAST(n_ab AS BIGINT) AS n_ab,
        |  round(CAST(n_ab AS DOUBLE) / CAST(n AS DOUBLE), 6) AS support,
        |  round(CAST(n_ab AS DOUBLE) / CAST(a.na AS DOUBLE), 6) AS confidence,
        |  round(CAST(n_ab AS DOUBLE) * CAST(n AS DOUBLE) /
        |    (CAST(a.na AS DOUBLE) * CAST(b.na AS DOUBLE)), 6) AS lift
        |FROM pr JOIN na a ON a.pk = pr.pa JOIN na b ON b.pk = pr.pb, no
        |ORDER BY pa, pb""".stripMargin,

    "q_churn" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    epoch_us(ts) // 1000000 // 604800 AS wk FROM events),
        |f AS (SELECT user_id, min(wk) AS fw FROM uw GROUP BY 1),
        |mx AS (SELECT max(wk) AS mxwk FROM uw),
        |j AS (
        |  SELECT u.wk, u.user_id, f.fw,
        |    CASE WHEN n.user_id IS NULL THEN NULL ELSE 1 END AS ret
        |  FROM uw u JOIN f USING (user_id)
        |  LEFT JOIN uw n ON n.user_id = u.user_id AND n.wk = u.wk + 1)
        |SELECT wk, count(*) AS actives,
        |  CAST(sum(CASE WHEN fw = wk THEN 1 ELSE 0 END) AS BIGINT)
        |    AS new_users,
        |  CAST(sum(CASE WHEN fw < wk THEN 1 ELSE 0 END) AS BIGINT)
        |    AS returning,
        |  CAST(sum(CASE WHEN ret IS NULL AND wk < (SELECT mxwk FROM mx)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS churned_next
        |FROM j GROUP BY wk ORDER BY wk""".stripMargin,

    // Neyman replay: decimal-exact moments, identical double σ/weight
    // shapes, largest-remainder ranking with the same tie-break
    "d_sample_neyman" ->
      s"""WITH st AS (
         |  SELECT source, count(*) AS nh,
         |    CAST(sum(x) AS BIGINT) AS sx, sum(x * x) AS qx
         |  FROM (SELECT source,
         |          CAST(len(${sqlToks("text")}) AS BIGINT) AS x
         |        FROM documents)
         |  GROUP BY source),
         |w AS (
         |  SELECT source, nh,
         |    greatest(CAST(qx AS DOUBLE) / CAST(nh AS DOUBLE) -
         |      (CAST(sx AS DOUBLE) / CAST(nh AS DOUBLE)) *
         |      (CAST(sx AS DOUBLE) / CAST(nh AS DOUBLE)), 0.0) AS varn
         |  FROM st),
         |w2 AS (
         |  SELECT source, nh, varn,
         |    CAST(nh AS DOUBLE) * sqrt(varn) AS wgt FROM w),
         |t AS (SELECT sum(wgt) AS tw FROM w2),
         |a AS (
         |  SELECT source, nh, varn,
         |    wgt * 200.0 / tw AS exact,
         |    CAST(floor(wgt * 200.0 / tw) AS BIGINT) AS flo
         |  FROM w2, t),
         |r AS (
         |  SELECT source, nh, varn, flo,
         |    row_number() OVER (ORDER BY exact - floor(exact) DESC, source)
         |      AS rk
         |  FROM a),
         |sh AS (SELECT 200 - CAST(sum(flo) AS BIGINT) AS rem FROM a)
         |SELECT source, nh, round(sqrt(varn), 6) AS sigma,
         |  flo + CASE WHEN rk <= rem THEN 1 ELSE 0 END AS quota
         |FROM r, sh ORDER BY source""".stripMargin,

    "q_wow" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) // 1000000 // 604800 AS wk,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |w AS (
        |  SELECT event_type, wk, CAST(sum(cents) AS BIGINT) AS rev
        |  FROM e GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, wk, rev,
        |    lag(rev) OVER (PARTITION BY event_type ORDER BY wk) AS prev,
        |    CAST(rank() OVER (PARTITION BY wk
        |      ORDER BY rev DESC, event_type) AS INT) AS rnk
        |  FROM w),
        |r2 AS (
        |  SELECT event_type, wk, rev, prev, rnk,
        |    lag(rnk) OVER (PARTITION BY event_type ORDER BY wk) AS prev_rnk
        |  FROM r)
        |SELECT event_type, wk, rev,
        |  rev - prev AS delta,
        |  CASE WHEN prev <> 0 THEN
        |    round(CAST(rev - prev AS DOUBLE) / abs(CAST(prev AS DOUBLE)), 6)
        |  END AS pct_change,
        |  rnk, prev_rnk - rnk AS rank_gain
        |FROM r2 ORDER BY event_type, wk""".stripMargin,

    "q_forecast_eval" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) // 1000000 // 86400 AS day,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |daily AS (
        |  SELECT event_type, day, CAST(sum(cents) AS BIGINT) AS a
        |  FROM e GROUP BY 1, 2),
        |j AS (
        |  SELECT d.event_type, d.a, p.a AS p
        |  FROM daily d JOIN daily p
        |    ON p.event_type = d.event_type AND p.day = d.day - 7)
        |SELECT event_type, count(*) AS n_days,
        |  round(CAST(sum(abs(a - p)) AS DOUBLE) /
        |    (CAST(count(*) AS DOUBLE) * 100.0), 6) AS mae,
        |  round(CAST(sum(a - p) AS DOUBLE) /
        |    (CAST(count(*) AS DOUBLE) * 100.0), 6) AS bias
        |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_paths" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) // 1000000, event_id) AS rn
        |  FROM events),
        |p AS (
        |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM e WHERE rn <= 3 GROUP BY user_id)
        |SELECT path, count(*) AS n_users
        |FROM p GROUP BY path ORDER BY n_users DESC, path""".stripMargin,

    // JSON profile replay: identical induced-variety string surgery,
    // keys via json_keys, values via json_extract_string, same regexes
    "q_json_profile" ->
      """WITH e AS (
        |  SELECT CASE WHEN event_id % 3 = 0 THEN
        |      substr(props, 1, length(props) - 1) || ', "tag": "t' ||
        |      CAST(user_id % 5 AS VARCHAR) || '", "flag": ' ||
        |      CASE WHEN event_id % 2 = 0 THEN 'true' ELSE 'false' END || '}'
        |    ELSE props END AS j
        |  FROM events),
        |kv AS (
        |  SELECT u.k AS key, json_extract_string(j, '$.' || u.k) AS v
        |  FROM e, unnest(json_keys(j)) AS u(k))
        |SELECT key, count(*) AS n,
        |  CAST(sum(CASE WHEN regexp_matches(v, '^-?[0-9]+$')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_int,
        |  CAST(sum(CASE WHEN regexp_matches(v, '^-?[0-9]*\.[0-9]+$')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_float,
        |  CAST(sum(CASE WHEN v IN ('true', 'false')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_bool,
        |  CAST(sum(CASE WHEN regexp_matches(v, '^-?[0-9]+$')
        |      OR regexp_matches(v, '^-?[0-9]*\.[0-9]+$')
        |      OR v IN ('true', 'false')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS n_str
        |FROM kv GROUP BY key ORDER BY key""".stripMargin,

    "q_gap_stats" ->
      """WITH e AS (
        |  SELECT user_id, event_type, event_id,
        |    epoch_us(ts) // 1000000 AS sec FROM events),
        |g AS (
        |  SELECT event_type, sec - prev AS gap FROM (
        |    SELECT event_type, sec,
        |      lag(sec) OVER (PARTITION BY user_id, event_type
        |        ORDER BY sec, event_id) AS prev
        |    FROM e)
        |  WHERE prev IS NOT NULL)
        |SELECT event_type, count(*) AS n_gaps,
        |  CAST(round(quantile_cont(gap, 0.5) * 2) AS BIGINT) / 2.0
        |    AS median_gap_sec,
        |  CAST(round(quantile_cont(gap, 0.9) * 10) AS BIGINT) / 10.0
        |    AS p90_gap_sec
        |FROM g GROUP BY event_type ORDER BY event_type""".stripMargin,

    // strip replay: same top-line pick + ≥20% gate, list-filter strip,
    // identical token accounting
    "d_strip_boilerplate" ->
      s"""WITH lines AS (
         |  SELECT DISTINCT source, doc_id, trim(l) AS line
         |  FROM (SELECT source, doc_id, unnest(string_split(text, chr(10))) AS l
         |        FROM documents)
         |  WHERE length(trim(l)) > 0),
         |c AS (
         |  SELECT source, ${sqlHash("line")} AS h,
         |    count(*) AS nw, min(line) AS line
         |  FROM lines GROUP BY 1, 2),
         |nd AS (SELECT source, count(*) AS ndocs FROM documents GROUP BY 1),
         |bp AS (
         |  SELECT source, line AS bp FROM (
         |    SELECT source, h, nw, line,
         |      row_number() OVER (PARTITION BY source
         |        ORDER BY nw DESC, h) AS rn
         |    FROM c) JOIN nd USING (source)
         |  WHERE rn = 1 AND nw * 5 >= ndocs),
         |cl AS (
         |  SELECT doc_id, text,
         |    CASE WHEN bp IS NULL THEN text ELSE
         |      array_to_string(list_filter(string_split(text, chr(10)),
         |        l -> trim(l) <> bp), chr(10)) END AS cleaned
         |  FROM documents LEFT JOIN bp USING (source))
         |SELECT doc_id,
         |  CAST(len(${sqlToks("text")}) AS BIGINT) AS tokens_before,
         |  CAST(len(${sqlToks("cleaned")}) AS BIGINT) AS tokens_after,
         |  CAST(len(${sqlToks("text")}) - len(${sqlToks("cleaned")}) AS BIGINT)
         |    AS tokens_removed
         |FROM cl ORDER BY doc_id""".stripMargin,

    // ROUGE replay: same window-hash grams, least() multiset overlap,
    // identical rational shapes
    "t_rouge" -> {
      def gramCte(src: String, n: Int, name: String) =
        s"""$name AS (
           |  SELECT pid, ${sqlHash60(s"array_to_string(t[u.i+1 : u.i+$n], ' ')")} AS h,
           |    count(*) AS c
           |  FROM (SELECT pid, ${sqlToks("text")} AS t FROM $src) s,
           |    unnest(range(0, len(t) - ${n - 1})) AS u(i)
           |  WHERE len(t) >= $n
           |  GROUP BY 1, 2)""".stripMargin
      s"""WITH corpus AS ($corpusWithDupsSql),
         |a AS (SELECT doc_id AS pid, text FROM corpus
         |      WHERE doc_id < 100000000 AND doc_id % 10 = 0),
         |b AS (SELECT doc_id - 200000000 AS pid, text FROM corpus
         |      WHERE doc_id >= 200000000),
         |${gramCte("a", 1, "ga1")},
         |${gramCte("b", 1, "gb1")},
         |${gramCte("a", 2, "ga2")},
         |${gramCte("b", 2, "gb2")},
         |s1 AS (
         |  SELECT x.pid,
         |    CAST(sum(x.c) AS BIGINT) AS na1 FROM ga1 x GROUP BY 1),
         |s1b AS (
         |  SELECT x.pid, CAST(sum(x.c) AS BIGINT) AS nb1 FROM gb1 x GROUP BY 1),
         |o1 AS (
         |  SELECT x.pid, CAST(sum(least(x.c, y.c)) AS BIGINT) AS ov1
         |  FROM ga1 x JOIN gb1 y ON y.pid = x.pid AND y.h = x.h GROUP BY 1),
         |s2 AS (
         |  SELECT x.pid, CAST(sum(x.c) AS BIGINT) AS na2 FROM ga2 x GROUP BY 1),
         |s2b AS (
         |  SELECT x.pid, CAST(sum(x.c) AS BIGINT) AS nb2 FROM gb2 x GROUP BY 1),
         |o2 AS (
         |  SELECT x.pid, CAST(sum(least(x.c, y.c)) AS BIGINT) AS ov2
         |  FROM ga2 x JOIN gb2 y ON y.pid = x.pid AND y.h = x.h GROUP BY 1)
         |SELECT s1.pid AS doc_id,
         |  round(CAST(coalesce(ov1, 0) AS DOUBLE) / CAST(nb1 AS DOUBLE), 6)
         |    AS rouge1_p,
         |  round(CAST(coalesce(ov1, 0) AS DOUBLE) / CAST(na1 AS DOUBLE), 6)
         |    AS rouge1_r,
         |  round(CAST(coalesce(ov1, 0) AS DOUBLE) * 2 /
         |    CAST(na1 + nb1 AS DOUBLE), 6) AS rouge1_f,
         |  round(CAST(coalesce(ov2, 0) AS DOUBLE) * 2 /
         |    CAST(na2 + nb2 AS DOUBLE), 6) AS rouge2_f
         |FROM s1 JOIN s1b USING (pid) LEFT JOIN o1 USING (pid)
         |JOIN s2 USING (pid) JOIN s2b USING (pid) LEFT JOIN o2 USING (pid)
         |ORDER BY doc_id""".stripMargin
    },

    "t_boilerplate" ->
      s"""WITH lines AS (
         |  SELECT DISTINCT source, doc_id, trim(l) AS line
         |  FROM (SELECT source, doc_id, unnest(string_split(text, chr(10))) AS l
         |        FROM documents)
         |  WHERE length(trim(l)) > 0),
         |c AS (
         |  SELECT source, ${sqlHash("line")} AS h,
         |    count(*) AS n_docs_with, min(line) AS line
         |  FROM lines GROUP BY 1, 2),
         |nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
         |r AS (
         |  SELECT source, h, n_docs_with, line,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY n_docs_with DESC, h) AS rn
         |  FROM c)
         |SELECT source, line, CAST(n_docs_with AS BIGINT) AS n_docs_with,
         |  CAST(n_docs AS BIGINT) AS n_docs,
         |  n_docs_with * 5 >= n_docs AS is_boilerplate
         |FROM r JOIN nd USING (source) WHERE rn = 1
         |ORDER BY source""".stripMargin,

    // collocations replay: same adjacency pairs, exact counts, ln PMI
    // (DuckDB log() is log10 — ln() here matches Spark's log)
    "t_collocations" ->
      s"""WITH toks AS (
         |  SELECT doc_id, ${sqlToks("lower(text)")} AS t FROM documents),
         |bi AS (
         |  SELECT t[u.i + 1] AS a, t[u.i + 2] AS b
         |  FROM toks, unnest(range(0, len(t) - 1)) AS u(i)
         |  WHERE len(t) >= 2),
         |uni AS (
         |  SELECT unnest(t) AS a FROM toks),
         |un AS (SELECT a, count(*) AS na FROM uni GROUP BY a),
         |nt AS (SELECT CAST(sum(len(t)) AS BIGINT) AS nt FROM toks),
         |pr AS (
         |  SELECT a, b, count(*) AS nab FROM bi GROUP BY 1, 2
         |  HAVING count(*) >= 10)
         |SELECT pr.a, pr.b, CAST(nab AS BIGINT) AS nab,
         |  round(ln(CAST(nab AS DOUBLE) * CAST(nt AS DOUBLE) /
         |    (CAST(x.na AS DOUBLE) * CAST(y.na AS DOUBLE))), 6) AS pmi
         |FROM pr JOIN un x ON x.a = pr.a JOIN un y ON y.a = pr.b, nt
         |ORDER BY pmi DESC, pr.a, pr.b""".stripMargin,

    // heavy-hitter oracle: the MG sweep is exact-after-verify, so the
    // replay is just the exact frequency threshold n·65 > N
    "t_heavy_hitters" ->
      s"""WITH t AS (
         |  SELECT unnest(${sqlToks("text")}) AS tok FROM documents),
         |tot AS (SELECT count(*) AS nt FROM t),
         |c AS (SELECT tok, count(*) AS n FROM t GROUP BY tok)
         |SELECT tok AS token, CAST(n AS BIGINT) AS n,
         |  CAST(nt AS BIGINT) AS n_total
         |FROM c, tot WHERE n * 65 > nt ORDER BY token""".stripMargin,

    "q_calendar_gaps" ->
      """WITH td AS (
        |  SELECT DISTINCT event_type,
        |    epoch_us(ts) // 1000000 // 86400 AS day FROM events),
        |sp AS (
        |  SELECT event_type, min(day) AS d0, max(day) AS d1,
        |    count(*) AS observed
        |  FROM td GROUP BY 1),
        |mi AS (
        |  SELECT g.event_type, list(g.day ORDER BY g.day)[1:5] AS missing_days
        |  FROM (SELECT sp.event_type, CAST(u.d AS BIGINT) AS day
        |        FROM sp, unnest(range(d0, d1 + 1)) AS u(d)) g
        |  LEFT JOIN td ON td.event_type = g.event_type AND td.day = g.day
        |  WHERE td.day IS NULL GROUP BY 1)
        |SELECT sp.event_type,
        |  CAST(d1 - d0 + 1 AS BIGINT) AS expected_days,
        |  CAST(observed AS BIGINT) AS observed_days,
        |  CAST(d1 - d0 + 1 - observed AS BIGINT) AS n_missing,
        |  coalesce(array_to_string(missing_days, ','), '') AS missing_days
        |FROM sp LEFT JOIN mi USING (event_type)
        |ORDER BY event_type""".stripMargin,

    "q_interval_merge" ->
      """WITH iv AS (
        |  SELECT DISTINCT user_id, sec AS st, sec + 300 AS en
        |  FROM (SELECT user_id, epoch_us(ts) // 1000000 AS sec FROM events)),
        |m AS (
        |  SELECT user_id, st, en,
        |    max(en) OVER (PARTITION BY user_id ORDER BY st, en
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM iv),
        |i2 AS (
        |  SELECT user_id, st, en,
        |    sum(CASE WHEN pmax IS NULL OR st > pmax THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY st, en) AS isl
        |  FROM m)
        |SELECT user_id, CAST(min(st) AS BIGINT) AS span_start,
        |  CAST(max(en) AS BIGINT) AS span_end, count(*) AS n_events
        |FROM i2 GROUP BY user_id, isl
        |ORDER BY user_id, span_start""".stripMargin,

    "q_set_ops_all" ->
      """WITH a AS (
        |  SELECT o_orderpriority AS p FROM orders WHERE o_custkey % 3 = 0),
        |b AS (
        |  SELECT o_orderpriority AS p FROM orders WHERE o_custkey % 2 = 0),
        |ia AS (SELECT p FROM a INTERSECT ALL SELECT p FROM b),
        |ea AS (SELECT p FROM a EXCEPT ALL SELECT p FROM b)
        |SELECT op, p, n FROM (
        |  SELECT 'intersect_all' AS op, p, count(*) AS n FROM ia GROUP BY p
        |  UNION ALL
        |  SELECT 'except_all', p, count(*) FROM ea GROUP BY p)
        |ORDER BY op, p""".stripMargin,

    "q_pareto" ->
      """WITH per AS (
        |  SELECT l_partkey, CAST(sum(CAST(round(l_extendedprice * 100)
        |    AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT count(*) AS n, CAST(sum(rev) AS BIGINT) AS t FROM per),
        |r AS (
        |  SELECT l_partkey, rev,
        |    CAST(row_number() OVER (ORDER BY rev, l_partkey) AS BIGINT) AS i,
        |    -- tiebreak DESC so (position n-i+1, cum_desc) describe ONE
        |    -- consistent descending order: the pre-r7 (rev DESC,
        |    -- l_partkey ASC) cum mixed two orders on tied revenues and
        |    -- could shift n80 by a row or two (caught at sf1, where the
        |    -- copy-scaled corpus makes revenue ties dense)
        |    CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_desc
        |  FROM per),
        |g AS (SELECT sum((2 * i - n - 1) * rev) AS gn FROM r, tot),
        |n8 AS (
        |  SELECT CAST(min(n - i + 1) AS BIGINT) AS n80
        |  FROM r, tot WHERE cum_desc * 5 >= t * 4)
        |SELECT CAST(n AS BIGINT) AS n_parts, t AS total_cents,
        |  n80 AS parts_for_80pct,
        |  round(CAST(n80 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS share_of_parts,
        |  round(CAST(gn AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE)), 6)
        |    AS gini
        |FROM tot, g, n8""".stripMargin,

    "q_integrity" -> {
      def rel(name: String, child: String, key: String,
              parent: String, pkey: String) =
        s"""SELECT '$name' AS relationship,
           |  count(*) AS n_child, count(DISTINCT $key) AS n_keys,
           |  (SELECT count(*) FROM $child c2 WHERE NOT EXISTS
           |    (SELECT 1 FROM $parent p2 WHERE p2.$pkey = c2.$key))
           |    AS n_orphans
           |FROM $child""".stripMargin
      Seq(
        rel("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
          "orders", "o_orderkey"),
        rel("lineitem.l_partkey->part", "lineitem", "l_partkey",
          "part", "p_partkey"),
        rel("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
          "supplier", "s_suppkey"),
        rel("orders.o_custkey->customer", "orders", "o_custkey",
          "customer", "c_custkey"),
        rel("customer.c_nationkey->nation", "customer", "c_nationkey",
          "nation", "n_nationkey"))
        .mkString("(", ")\nUNION ALL\n(", ")\nORDER BY relationship")
    },

    "q_cumulative_distinct" ->
      """WITH e AS (
        |  SELECT event_type, user_id,
        |    epoch_us(ts) // 1000000 // 86400 AS day FROM events),
        |f AS (
        |  SELECT event_type, user_id, min(day) AS day FROM e GROUP BY 1, 2),
        |d AS (
        |  SELECT event_type, day, count(*) AS new_users FROM f GROUP BY 1, 2)
        |SELECT event_type, day, new_users,
        |  CAST(sum(new_users) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM d ORDER BY event_type, day""".stripMargin,

    "q_rolling_dau" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    epoch_us(ts) // 1000000 // 86400 AS day FROM events),
        |mx AS (SELECT max(day) AS mxd FROM ud),
        |cov AS (
        |  SELECT DISTINCT user_id, day + t.o AS d
        |  FROM ud, unnest(range(0, 7)) AS t(o))
        |SELECT d AS day, count(*) AS wau
        |FROM cov, mx WHERE d <= mxd
        |GROUP BY d ORDER BY day""".stripMargin,

    "q07_volume_shipping" ->
      """WITH sn AS (
        |  SELECT s_suppkey, n_name AS supp_nation FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey),
        |cn AS (
        |  SELECT c_custkey, n_name AS cust_nation FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey),
        |j AS (
        |  SELECT supp_nation, cust_nation,
        |    year(l_shipdate) AS ship_year,
        |    CAST(round(l_extendedprice * 100) AS HUGEINT) *
        |      (10000 - CAST(round(l_discount * 10000) AS INT)) AS rev
        |  FROM lineitem
        |  JOIN sn ON l_suppkey = s_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN cn ON o_custkey = c_custkey
        |  WHERE (supp_nation = 'NATION_3' AND cust_nation = 'NATION_7')
        |     OR (supp_nation = 'NATION_7' AND cust_nation = 'NATION_3'))
        |SELECT supp_nation, cust_nation, CAST(ship_year AS INT) AS ship_year,
        |  count(*) AS n_items,
        |  round(CAST(sum(rev) AS DOUBLE) / 10000.0, 2) AS revenue_cents
        |FROM j GROUP BY 1, 2, 3
        |ORDER BY supp_nation, cust_nation, ship_year""".stripMargin,

    "q11_stock_value" ->
      """WITH ps AS (
        |  SELECT s_suppkey FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_7'),
        |li AS (
        |  SELECT l_partkey,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) *
        |      CAST(l_quantity AS BIGINT) AS v
        |  FROM lineitem JOIN ps ON l_suppkey = s_suppkey),
        |per AS (
        |  SELECT l_partkey, CAST(sum(v) AS BIGINT) AS value
        |  FROM li GROUP BY 1),
        |t AS (SELECT CAST(sum(value) AS BIGINT) AS total,
        |         count(*) AS n_parts FROM per)
        |SELECT l_partkey, value, total
        |FROM per, t WHERE value * n_parts > total * 2
        |ORDER BY value DESC, l_partkey""".stripMargin,

    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
        |    AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 150)
        |SELECT c_custkey, o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents, total_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey""".stripMargin,

    "q_window_suite" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 1000000 // 86400 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day, rev,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cume,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  nth_value(rev, 3) OVER wf AS third_lowest,
        |  first_value(rev) OVER wf AS min_rev,
        |  last_value(rev) OVER wf AS max_rev
        |FROM daily
        |WINDOW w AS (PARTITION BY event_type ORDER BY rev, day),
        |  wf AS (PARTITION BY event_type ORDER BY rev, day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY event_type, day""".stripMargin,

    // MAD replay: identical doubled-unit integer medians + the pure
    // integer outlier compare
    "q_mad" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |m1 AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(round(quantile_cont(cents, 0.5) * 2) AS BIGINT) AS med2
        |  FROM e GROUP BY 1),
        |d AS (
        |  SELECT e.event_type, n, med2, abs(cents * 2 - med2) AS dev2
        |  FROM e JOIN m1 USING (event_type)),
        |m2 AS (
        |  SELECT event_type,
        |    CAST(round(quantile_cont(dev2, 0.5) * 2) AS BIGINT) AS mad4
        |  FROM d GROUP BY 1)
        |SELECT event_type, n,
        |  CAST(med2 AS DOUBLE) / 200.0 AS median_value,
        |  CAST(mad4 AS DOUBLE) / 400.0 AS mad_value,
        |  CAST(sum(CASE WHEN dev2 * 10000 > mad4 * 22239 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM d JOIN m2 USING (event_type)
        |GROUP BY event_type, n, med2, mad4
        |ORDER BY event_type""".stripMargin,

    // data-card replay: same per-doc signals, same exact-integer
    // metrics, UNION-ALL unpivot
    "d_data_card" ->
      s"""WITH d AS (
         |  SELECT source,
         |    CAST(len(${sqlToks("text")}) AS BIGINT) AS ntok,
         |    ${sqlHash60("text")} AS h,
         |    ${sqlLangPred("text")} AS lang,
         |    CASE WHEN ${sqlKeep("text")} THEN 1 ELSE 0 END AS keep
         |  FROM documents),
         |a AS (
         |  SELECT count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens,
         |    count(DISTINCT source) AS n_sources,
         |    count(DISTINCT lang) AS n_langs,
         |    count(*) - count(DISTINCT h) AS exact_dup_docs,
         |    CAST(sum(keep) AS BIGINT) AS quality_keep_docs,
         |    CAST(round(quantile_cont(ntok, 0.5) * 2) AS BIGINT)
         |      AS median_tokens_x2
         |  FROM d)
         |SELECT metric, value FROM (
         |  SELECT 'n_docs' AS metric, n_docs AS value FROM a
         |  UNION ALL SELECT 'n_tokens', n_tokens FROM a
         |  UNION ALL SELECT 'n_sources', n_sources FROM a
         |  UNION ALL SELECT 'n_langs', n_langs FROM a
         |  UNION ALL SELECT 'exact_dup_docs', exact_dup_docs FROM a
         |  UNION ALL SELECT 'quality_keep_docs', quality_keep_docs FROM a
         |  UNION ALL SELECT 'median_tokens_x2', median_tokens_x2 FROM a)
         |ORDER BY metric""".stripMargin,

    // epoch-shuffle replay: identical (doc_id:epoch) hash rank, shard,
    // and within-shard row_number
    "d_epoch_shuffle" ->
      s"""WITH d AS (
         |  SELECT doc_id, e.epoch,
         |    ${sqlHash("CAST(doc_id AS VARCHAR) || ':' || CAST(e.epoch AS VARCHAR)")} AS rk
         |  FROM documents, (VALUES (0), (1)) AS e(epoch)),
         |p AS (
         |  SELECT epoch, doc_id, CAST(rk % 8 AS INT) AS shard,
         |    row_number() OVER (PARTITION BY epoch, rk % 8
         |      ORDER BY rk, doc_id) AS pos
         |  FROM d)
         |SELECT epoch, doc_id, shard, CAST(pos AS BIGINT) AS pos
         |FROM p ORDER BY epoch, doc_id""".stripMargin,

    // grouped-split replay: source-hash split, per-split audit, and
    // the structural zero leak count
    "d_split_grouped" -> {
      val split = s"""CASE WHEN ${sqlHash("source")} % 100 < 80 THEN 'train'
                     |  WHEN ${sqlHash("source")} % 100 < 90 THEN 'val'
                     |  ELSE 'test' END""".stripMargin
      s"""WITH d AS (
         |  SELECT source, doc_id,
         |    CAST(len(${sqlToks("text")}) AS BIGINT) AS ntok,
         |    $split AS split
         |  FROM documents),
         |leak AS (
         |  SELECT CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS leaked_sources
         |  FROM (SELECT source, count(DISTINCT split) AS k FROM d GROUP BY 1))
         |SELECT split, count(DISTINCT source) AS n_sources,
         |  count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens,
         |  leaked_sources
         |FROM d, leak
         |GROUP BY split, leaked_sources ORDER BY split""".stripMargin
    },

    "d_split_hash" ->
      s"""SELECT doc_id,
         |  CASE WHEN ${sqlHash("CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
         |       WHEN ${sqlHash("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin,

    "d_dedup_survivors" ->
      s"""WITH RECURSIVE $ngramPairsCte,
         |edges AS (
         |  SELECT a AS src, b AS dst FROM dup_pairs
         |  UNION ALL SELECT b, a FROM dup_pairs),
         |reach(node, peer) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.peer),
         |losers AS (
         |  SELECT node AS doc_id FROM reach GROUP BY node
         |  HAVING least(node, min(peer)) <> node)
         |SELECT doc_id, CAST(length(text) AS INT) AS n_chars
         |FROM corpus WHERE doc_id NOT IN (SELECT doc_id FROM losers)
         |ORDER BY doc_id""".stripMargin,

    "d_decontaminate" ->
      s"""WITH corpus AS ($corpusWithDupsSql),
         |toks AS (SELECT doc_id, ${sqlToks("text")} AS t FROM corpus),
         |sh AS (
         |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 8 THEN [${sqlHash60("array_to_string(t, ' ')")}]
         |    ELSE list_transform(range(0, len(t) - 7),
         |         i -> ${sqlHash60("array_to_string(t[i+1:i+8], ' ')")}) END) AS hashes
         |  FROM toks),
         |bt AS (SELECT ${sqlToks("text")} AS t FROM documents WHERE doc_id % 25 = 0),
         |bsh AS (
         |  SELECT DISTINCT unnest(CASE WHEN len(t) < 8 THEN [${sqlHash60("array_to_string(t, ' ')")}]
         |    ELSE list_transform(range(0, len(t) - 7),
         |         i -> ${sqlHash60("array_to_string(t[i+1:i+8], ' ')")}) END) AS shingle
         |  FROM bt),
         |ex AS (SELECT doc_id, unnest(hashes) AS shingle FROM sh)
         |SELECT doc_id, CAST(count(DISTINCT ex.shingle) AS BIGINT) AS n_shared
         |FROM ex JOIN bsh USING (shingle)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // C4 line-dedup replay: identical 8-token lineification, distinct-
    // doc line frequency, cut-by-position HOF; coalesce('') because
    // array_to_string of an empty list is NULL in DuckDB where Spark
    // array_join is ''
    "d_dedup_lines" ->
      s"""WITH corpus AS ($corpusWithDupsSql),
         |toks AS (SELECT doc_id, ${sqlToks("text")} AS t FROM corpus),
         |lined AS (
         |  SELECT doc_id,
         |    array_to_string(list_transform(range(0, greatest(1, (len(t) + 7) // 8)),
         |      i -> array_to_string(t[i*8+1 : i*8+8], ' ')), chr(10)) AS text
         |  FROM toks),
         |ls AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM lined),
         |l AS (
         |  SELECT doc_id, CAST(u.i AS INT) AS pos, arr[u.i + 1] AS line
         |  FROM ls, unnest(range(0, len(arr))) AS u(i)),
         |hot AS (SELECT line FROM l GROUP BY line HAVING count(DISTINCT doc_id) >= 3),
         |cuts AS (
         |  SELECT doc_id, list_sort(list(pos)) AS cut_pos
         |  FROM l JOIN hot USING (line) GROUP BY doc_id)
         |SELECT c.doc_id,
         |  coalesce(array_to_string(
         |    list_filter(arr, (x, i) -> NOT list_contains(coalesce(cut_pos, []), i - 1)),
         |    chr(10)), '') AS text,
         |  CAST(coalesce(len(cut_pos), 0) AS INT) AS n_removed
         |FROM ls c LEFT JOIN cuts USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // brute-force cosine vs the broadcast eval set, norms hoisted per
    // vector (bit-identical to the per-pair kernel: same fold order,
    // same na*nb product order), count+max over matching pairs only
    "d_decontaminate_semantic" -> {
      def fold(expr: String) =
        s"list_reduce(list_concat([CAST(0.0 AS DOUBLE)], list_transform(range(1, 65), i -> $expr)), (x, y) -> x + y)"
      def nrm(v: String) = s"sqrt(${fold(s"CAST($v[i] AS DOUBLE) * CAST($v[i] AS DOUBLE)")})"
      s"""WITH v AS ($vecsWithDupsSql),
         |c AS (SELECT vec_id, embedding, ${nrm("embedding")} AS nrm FROM v),
         |bench AS (SELECT embedding AS be, ${nrm("embedding")} AS bnrm
         |  FROM embeddings WHERE vec_id % 200 = 0),
         |pairs AS (
         |  SELECT x.vec_id,
         |    CASE WHEN x.nrm * b.bnrm = 0 THEN 0.0
         |         ELSE ${fold("CAST(x.embedding[i] AS DOUBLE) * CAST(b.be[i] AS DOUBLE)")} / (x.nrm * b.bnrm) END AS cos
         |  FROM c x, bench b)
         |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_matched,
         |  round(max(cos), 6) AS max_cos
         |FROM pairs WHERE cos >= 0.9
         |GROUP BY vec_id ORDER BY vec_id""".stripMargin
    },

    "d_cut_spans" -> {
      val inCut = "i - 1 >= s.a AND i - 1 <= s.b" // DuckDB lambda index is 1-based
      val keptFilter =
        s"list_filter(t, (tok, i) -> len(list_filter(coalesce(cuts, []::STRUCT(a INTEGER, b INTEGER)[]), s -> $inCut)) = 0)"
      s"""WITH corpus AS ($corpusWithDupsSql),
         |toks AS (SELECT doc_id, ${sqlToks("text")} AS t FROM corpus),
         |w AS (
         |  SELECT doc_id, CAST(u.i AS INT) AS pos,
         |    ${sqlHash60("array_to_string(t[u.i+1 : u.i+8], ' ')")} AS h
         |  FROM toks, unnest(range(0, len(t) - 7)) AS u(i)
         |  WHERE len(t) >= 8),
         |hot AS (SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
         |f AS (SELECT doc_id, pos FROM w WHERE h IN (SELECT h FROM hot)),
         |isl AS (
         |  SELECT doc_id, pos,
         |    sum(CASE WHEN prev IS NULL OR pos - prev > 8 THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
         |  FROM (SELECT doc_id, pos,
         |          lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM f)),
         |spans AS (
         |  SELECT doc_id, CAST(min(pos) AS INT) AS a, CAST(max(pos) + 7 AS INT) AS b
         |  FROM isl GROUP BY doc_id, island),
         |cutsets AS (SELECT doc_id, list(struct_pack(a := a, b := b)) AS cuts
         |            FROM spans GROUP BY doc_id),
         |joined AS (
         |  SELECT t.doc_id, t.t, c.cuts FROM toks t LEFT JOIN cutsets c USING (doc_id))
         |SELECT doc_id,
         |  coalesce(array_to_string($keptFilter, ' '), '') AS text,
         |  CAST(len(t) - len($keptFilter) AS INT) AS n_removed
         |FROM joined ORDER BY doc_id""".stripMargin
    },

    "d_decontaminate_spans" ->
      s"""WITH corpus AS ($corpusWithDupsSql),
         |toks AS (SELECT doc_id, ${sqlToks("text")} AS t FROM corpus),
         |w AS (
         |  SELECT doc_id, CAST(u.i AS INT) AS pos,
         |    ${sqlHash60("array_to_string(t[u.i+1 : u.i+8], ' ')")} AS h
         |  FROM toks, unnest(range(0, len(t) - 7)) AS u(i)
         |  WHERE len(t) >= 8),
         |bt AS (SELECT ${sqlToks("text")} AS t FROM documents WHERE doc_id % 25 = 0),
         |bh AS (
         |  SELECT DISTINCT unnest(list_transform(range(0, len(t) - 7),
         |    i -> ${sqlHash60("array_to_string(t[i+1:i+8], ' ')")})) AS h
         |  FROM bt WHERE len(t) >= 8),
         |f AS (SELECT doc_id, pos FROM w WHERE h IN (SELECT h FROM bh)),
         |isl AS (
         |  SELECT doc_id, pos,
         |    sum(CASE WHEN prev IS NULL OR pos - prev > 8 THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
         |  FROM (SELECT doc_id, pos,
         |          lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM f))
         |SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
         |  CAST(max(pos) + 7 AS INT) AS span_end,
         |  CAST(count(*) AS BIGINT) AS n_hits
         |FROM isl GROUP BY doc_id, island
         |ORDER BY doc_id, span_start""".stripMargin,

    "d_repeated_spans" ->
      s"""WITH corpus AS ($corpusWithDupsSql),
         |toks AS (SELECT doc_id, ${sqlToks("text")} AS t FROM corpus),
         |w AS (
         |  SELECT doc_id, CAST(u.i AS INT) AS pos,
         |    ${sqlHash60("array_to_string(t[u.i+1 : u.i+8], ' ')")} AS h
         |  FROM toks, unnest(range(0, len(t) - 7)) AS u(i)
         |  WHERE len(t) >= 8),
         |hot AS (SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
         |f AS (SELECT doc_id, pos FROM w WHERE h IN (SELECT h FROM hot)),
         |isl AS (
         |  SELECT doc_id, pos,
         |    sum(CASE WHEN prev IS NULL OR pos - prev > 8 THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
         |  FROM (SELECT doc_id, pos,
         |          lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM f))
         |SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
         |  CAST(max(pos) + 7 AS INT) AS span_end,
         |  CAST(count(*) AS BIGINT) AS n_hits
         |FROM isl GROUP BY doc_id, island
         |ORDER BY doc_id, span_start""".stripMargin,

    "d_pack_sequences" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(len(${sqlToks("text")}) AS BIGINT) AS n_tok,
         |    CAST(${sqlHash("CAST(doc_id AS VARCHAR)")} % 8 AS INT) AS shard
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, shard, n_tok,
         |    CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS cum
         |  FROM t)
         |SELECT doc_id, shard, n_tok, cum,
         |  (cum - n_tok) // 256 AS start_seq,
         |  (cum - 1) // 256 AS end_seq
         |FROM c WHERE n_tok > 0 ORDER BY doc_id""".stripMargin,

    // exact FFD replay: the recursive CTE walks each shard's
    // (n_tok desc, doc_id) rank order carrying the open-bin loads as
    // list state; list_position(fits, true) IS first-fit (it yields
    // 0, not NULL, when nothing fits — normalized via coalesce), and
    // no-fit opens bin len(bins) — the same 0-based id the Spark
    // fold assigns
    "d_pack_bins" ->
      s"""WITH RECURSIVE t AS (
         |  SELECT doc_id,
         |    CAST(len(${sqlToks("text")}) AS BIGINT) AS n_tok,
         |    CAST(${sqlHash("CAST(doc_id AS VARCHAR)")} % 64 AS INT) AS shard
         |  FROM documents),
         |ord AS (
         |  SELECT doc_id, n_tok, shard,
         |    CAST(row_number() OVER (PARTITION BY shard ORDER BY n_tok DESC, doc_id) AS INT) AS i
         |  FROM t WHERE n_tok > 0),
         |pack AS (
         |  SELECT shard, i, doc_id, n_tok, CAST(0 AS BIGINT) AS bin, [n_tok] AS bins
         |  FROM ord WHERE i = 1
         |  UNION ALL
         |  SELECT shard, i, doc_id, n_tok,
         |    CASE WHEN idx = 0 THEN len(bins) ELSE idx - 1 END AS bin,
         |    CASE WHEN idx = 0 THEN list_append(bins, n_tok)
         |         ELSE list_transform(range(1, len(bins) + 1),
         |                j -> CASE WHEN j = idx THEN bins[j] + n_tok ELSE bins[j] END)
         |    END AS bins
         |  FROM (
         |    SELECT o.shard, o.i, o.doc_id, o.n_tok, p.bins,
         |      coalesce(list_position(
         |        list_transform(p.bins, b -> b + o.n_tok <= 256), true), 0) AS idx
         |    FROM pack p JOIN ord o ON o.shard = p.shard AND o.i = p.i + 1))
         |SELECT doc_id, shard, n_tok, CAST(bin AS INT) AS bin
         |FROM pack ORDER BY doc_id""".stripMargin,

    "d_sample_mix" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${sqlHash("CAST(doc_id AS VARCHAR)")} % 10000 <
         |  CASE lang WHEN 'en' THEN 10000 WHEN 'de' THEN 5000
         |            WHEN 'fr' THEN 2500 WHEN 'es' THEN 1000 ELSE 500 END
         |ORDER BY doc_id""".stripMargin,

    "d_split_leakage" ->
      s"""WITH $ngramPairsCte,
         |split AS (
         |  SELECT doc_id,
         |    CASE WHEN ${sqlHash("CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
         |         WHEN ${sqlHash("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM corpus)
         |SELECT p.a, p.b, sa.split AS split_a, sb.split AS split_b
         |FROM dup_pairs p
         |JOIN split sa ON sa.doc_id = p.a
         |JOIN split sb ON sb.doc_id = p.b
         |WHERE sa.split <> sb.split
         |ORDER BY p.a, p.b""".stripMargin,

    "d_dedup_incremental" ->
      s"""WITH delta AS (
         |  SELECT doc_id + 500000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0),
         |comb AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id, text FROM delta),
         |toks AS (SELECT doc_id, ${sqlToks("text")} AS t FROM comb),
         |sh AS (
         |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN [${sqlHash("array_to_string(t, ' ')")}]
         |    ELSE list_transform(range(0, len(t) - 2),
         |         i -> ${sqlHash("array_to_string(t[i+1:i+3], ' ')")}) END) AS hashes
         |  FROM toks),
         |ex AS (SELECT doc_id, len(hashes) AS n_sh, unnest(hashes) AS shingle FROM sh),
         |capped AS (
         |  SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY shingle) AS df FROM ex)
         |  WHERE df <= 1000),
         |pairs AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, x.n_sh AS na, y.n_sh AS nb, count(*) AS inter
         |  FROM capped x JOIN capped y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         |  WHERE y.doc_id >= 500000000
         |  GROUP BY 1, 2, 3, 4)
         |SELECT a, b, inter, na, nb FROM pairs
         |WHERE inter * 10000 >= 8000 * (na + nb - inter)
         |ORDER BY a, b""".stripMargin,

    "d_cdc_apply" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |ch AS (
        |  SELECT doc_id, doc_id * 10 AS seq, 'U' AS op,
        |    text || ' v1' AS text FROM base WHERE doc_id % 7 = 0
        |  UNION ALL SELECT doc_id, doc_id * 10 + 1, 'U', text || ' v2'
        |    FROM base WHERE doc_id % 7 = 0
        |  UNION ALL SELECT doc_id, doc_id * 10 + 2, 'D', ''
        |    FROM base WHERE doc_id % 11 = 0
        |  UNION ALL SELECT doc_id + 500000000, doc_id * 10 + 3, 'I',
        |    'inserted ' || CAST(doc_id AS VARCHAR)
        |    FROM base WHERE doc_id % 13 = 0),
        |last AS (
        |  SELECT doc_id, op, text FROM (
        |    SELECT doc_id, op, text, row_number() OVER (
        |      PARTITION BY doc_id ORDER BY seq DESC, op DESC, text DESC) AS rk
        |    FROM ch) WHERE rk = 1),
        |merged AS (
        |  SELECT b.doc_id, b.text, 'base' AS origin FROM base b
        |  WHERE NOT EXISTS (SELECT 1 FROM last l WHERE l.doc_id = b.doc_id)
        |  UNION ALL SELECT doc_id, text, 'upsert' FROM last WHERE op <> 'D')
        |SELECT doc_id, origin, sha256(text) AS digest
        |FROM merged ORDER BY doc_id""".stripMargin,

    "d_scd2_build" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |ch AS (
        |  SELECT doc_id, doc_id * 10 AS seq, 'U' AS op,
        |    text || ' v1' AS text FROM base WHERE doc_id % 7 = 0
        |  UNION ALL SELECT doc_id, doc_id * 10 + 1, 'U', text || ' v2'
        |    FROM base WHERE doc_id % 7 = 0
        |  UNION ALL SELECT doc_id, doc_id * 10 + 2, 'D', ''
        |    FROM base WHERE doc_id % 11 = 0
        |  UNION ALL SELECT doc_id + 500000000, doc_id * 10 + 3, 'I',
        |    'inserted ' || CAST(doc_id AS VARCHAR)
        |    FROM base WHERE doc_id % 13 = 0),
        |v AS (
        |  SELECT doc_id, op, seq,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY seq, op, text) AS INTEGER) AS version,
        |    lead(seq) OVER (PARTITION BY doc_id
        |      ORDER BY seq, op, text) AS valid_to_seq
        |  FROM ch)
        |SELECT doc_id, version, op, seq AS valid_from_seq, valid_to_seq,
        |  (valid_to_seq IS NULL AND op <> 'D') AS is_current
        |FROM v ORDER BY doc_id, version""".stripMargin,

    // as-of replay over the same changelog + interval build
    "q_time_travel" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |ch AS (
        |  SELECT doc_id, doc_id * 10 AS seq, 'U' AS op,
        |    text || ' v1' AS text FROM base WHERE doc_id % 7 = 0
        |  UNION ALL SELECT doc_id, doc_id * 10 + 1, 'U', text || ' v2'
        |    FROM base WHERE doc_id % 7 = 0
        |  UNION ALL SELECT doc_id, doc_id * 10 + 2, 'D', ''
        |    FROM base WHERE doc_id % 11 = 0
        |  UNION ALL SELECT doc_id + 500000000, doc_id * 10 + 3, 'I',
        |    'inserted ' || CAST(doc_id AS VARCHAR)
        |    FROM base WHERE doc_id % 13 = 0),
        |v AS (
        |  SELECT doc_id, op, seq,
        |    lead(seq) OVER (PARTITION BY doc_id ORDER BY seq, op, text)
        |      AS valid_to_seq
        |  FROM ch),
        |sm AS (SELECT max(seq) AS sm FROM ch),
        |t AS (SELECT sm // 2 AS as_of FROM sm UNION ALL SELECT sm FROM sm),
        |cur AS (
        |  SELECT t.as_of,
        |    CAST(sum(CASE WHEN op <> 'D' AND doc_id < 500000000
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_live_changed,
        |    CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_deleted,
        |    CAST(sum(CASE WHEN op <> 'D' AND doc_id >= 500000000
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted
        |  FROM v, t
        |  WHERE v.seq <= t.as_of AND
        |    (valid_to_seq IS NULL OR valid_to_seq > t.as_of)
        |  GROUP BY 1),
        |tou AS (
        |  SELECT t.as_of, count(DISTINCT doc_id) AS n_touched
        |  FROM ch, t WHERE doc_id < 500000000 AND seq <= t.as_of GROUP BY 1),
        |bn AS (SELECT count(*) AS n_base FROM base)
        |SELECT as_of, n_live_changed, n_deleted, n_inserted,
        |  CAST(n_base - n_touched AS BIGINT) AS n_untouched,
        |  CAST(n_base - n_touched + n_live_changed + n_inserted AS BIGINT)
        |    AS total_live
        |FROM cur JOIN tou USING (as_of), bn ORDER BY as_of""".stripMargin,

    // Benford replay: identical string-head digit, the SAME double
    // literals for expectations (string-cast to dodge DECIMAL literal
    // parsing), chi2 folded in digit order
    "q_benford" -> {
      val cases = (1 to 9).map(d =>
        s"WHEN digit = $d THEN CAST('${math.log10(1.0 + 1.0 / d)}' AS DOUBLE)")
        .mkString("CASE ", " ", " END")
      s"""WITH e AS (
         |  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit
         |  FROM (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
         |        FROM orders) WHERE cents > 0),
         |obs AS (SELECT digit, count(*) AS n FROM e GROUP BY 1),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM obs),
         |wp AS (
         |  SELECT digit, n, nt, $cases AS p,
         |    (CAST(n AS DOUBLE) - CAST(nt AS DOUBLE) * ($cases)) *
         |    (CAST(n AS DOUBLE) - CAST(nt AS DOUBLE) * ($cases)) /
         |    (CAST(nt AS DOUBLE) * ($cases)) AS term
         |  FROM obs, tot),
         |c2 AS (
         |  SELECT list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
         |    list(term ORDER BY digit)), (x, y) -> x + y) AS chi2 FROM wp)
         |SELECT digit, CAST(n AS BIGINT) AS n,
         |  round(CAST(n AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS pct,
         |  round(p, 6) AS benford_pct,
         |  round(chi2, 6) AS chi2,
         |  chi2 > 15.507 AS reject_benford
         |FROM wp, c2 ORDER BY digit""".stripMargin
    },

    "d_snapshot_diff" ->
      s"""WITH old AS (SELECT doc_id, text FROM documents),
         |nw AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 11 = 5 THEN text || ' rev2' ELSE text END AS text
         |  FROM old WHERE doc_id % 17 <> 3
         |  UNION ALL
         |  SELECT doc_id + 1000000000, text FROM old WHERE doc_id % 13 = 7),
         |j AS (
         |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         |    CASE WHEN o.doc_id IS NULL THEN 'added'
         |         WHEN n.doc_id IS NULL THEN 'removed'
         |         WHEN o.text <> n.text THEN 'changed'
         |         ELSE 'unchanged' END AS status
         |  FROM old o FULL OUTER JOIN nw n ON o.doc_id = n.doc_id)
         |SELECT doc_id, status FROM j WHERE status <> 'unchanged'
         |ORDER BY doc_id""".stripMargin,

    "d_corpus_overlap" ->
      s"""WITH toks AS (SELECT source AS g, ${sqlToks("text")} AS t FROM documents),
         |fp AS (
         |  SELECT DISTINCT g, unnest(CASE WHEN len(t) < 8 THEN [${sqlHash60("array_to_string(t, ' ')")}]
         |    ELSE list_transform(range(0, len(t) - 7),
         |         i -> ${sqlHash60("array_to_string(t[i+1:i+8], ' ')")}) END) AS h
         |  FROM toks),
         |tot AS (SELECT g, count(*) AS n_fp FROM fp GROUP BY 1),
         |sh AS (
         |  SELECT a.g AS src_a, b.g AS src_b, count(*) AS shared
         |  FROM fp a JOIN fp b ON a.h = b.h AND a.g < b.g GROUP BY 1, 2),
         |pr AS (
         |  SELECT ta.g AS src_a, tb.g AS src_b, ta.n_fp AS n_a, tb.n_fp AS n_b
         |  FROM tot ta JOIN tot tb ON ta.g < tb.g)
         |SELECT src_a, src_b, CAST(coalesce(shared, 0) AS BIGINT) AS shared,
         |  n_a, n_b,
         |  round(CAST(coalesce(shared, 0) AS BIGINT)
         |    / (n_a + n_b - CAST(coalesce(shared, 0) AS BIGINT)), 6) AS jaccard
         |FROM pr LEFT JOIN sh USING (src_a, src_b)
         |ORDER BY src_a, src_b""".stripMargin,

    "d_sample_balanced" ->
      s"""SELECT doc_id, lang, source FROM (
         |  SELECT doc_id, lang, source,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ${sqlHash("CAST(doc_id AS VARCHAR)")}, doc_id) AS rk
         |  FROM documents)
         |WHERE rk <= 40
         |ORDER BY lang, doc_id""".stripMargin,

    // community-quota replay: LPA unroll over doc_id-keyed edges, then
    // the balancedSample hash-rank window stratified by the label
    "d_sample_community" ->
      s"""WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
         |${plantedBlockSql("ids", "id", None)},
         |e0 AS (SELECT src, dst FROM ring UNION ALL SELECT src, dst FROM bridge),
         |und AS (SELECT DISTINCT src, dst FROM (
         |  SELECT src, dst FROM e0 WHERE src <> dst
         |  UNION ALL
         |  SELECT dst AS src, src AS dst FROM e0 WHERE src <> dst)),
         |l0 AS (SELECT DISTINCT src AS node, src AS label FROM und),
         |${lpaUnroll(3)}
         |SELECT doc_id, community, lang FROM (
         |  SELECT d.doc_id, l.label AS community, d.lang,
         |    row_number() OVER (PARTITION BY l.label
         |      ORDER BY ${sqlHash("CAST(d.doc_id AS VARCHAR)")}, d.doc_id) AS rk
         |  FROM documents d JOIN l3 l ON l.node = d.doc_id)
         |WHERE rk <= 4
         |ORDER BY community, doc_id""".stripMargin,

    // A-Res replay: u from the portable id hash (exact in a double),
    // key = ln(u)/w computed identically in both engines, 6-dp-rounded
    "d_sample_weighted" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    greatest(CAST(len(${sqlToks("text")}) AS DOUBLE), 1e-9) AS w,
         |    CAST(${sqlHash("CAST(doc_id AS VARCHAR)")} + 1 AS DOUBLE) / 1000000008.0 AS u
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, source, ln(u) / w AS key,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY ln(u) / w DESC, doc_id) AS rk
         |  FROM t)
         |SELECT doc_id, source, CAST(rk AS INT) AS rk,
         |  round(key, 6) AS ares_key
         |FROM r WHERE rk <= 30
         |ORDER BY source, rk""".stripMargin,

    "d_sample_temperature" ->
      s"""WITH ws AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
         |tot AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list(power(n, 0.5) ORDER BY lang)), (a, b) -> a + b) AS s FROM ws),
         |q AS (SELECT lang, CAST(least(n, greatest(1,
         |    CAST(floor(300 * (power(n, 0.5) / s)) AS BIGINT))) AS BIGINT) AS quota
         |  FROM ws, tot),
         |rk AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
         |    ORDER BY ${sqlHash("CAST(doc_id AS VARCHAR)")}, doc_id) AS rk
         |  FROM documents)
         |SELECT doc_id, lang, quota FROM rk JOIN q USING (lang)
         |WHERE rk <= quota
         |ORDER BY doc_id""".stripMargin,

    "d_dedup_containment" ->
      s"""WITH corpus AS ($corpusWithDupsSql
         |UNION ALL SELECT doc_id + 3000000,
         |  coalesce(array_to_string((${sqlToks("text")})[1:12], ' '), '')
         |FROM documents WHERE doc_id % 20 = 0),
         |toks AS (SELECT doc_id, ${sqlToks("text")} AS t FROM corpus),
         |sh AS (
         |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN [${sqlHash("array_to_string(t, ' ')")}]
         |    ELSE list_transform(range(0, len(t) - 2),
         |         i -> ${sqlHash("array_to_string(t[i+1:i+3], ' ')")}) END) AS hashes
         |  FROM toks),
         |ex AS (SELECT doc_id, len(hashes) AS n_sh, unnest(hashes) AS shingle FROM sh),
         |capped AS (
         |  SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY shingle) AS df FROM ex)
         |  WHERE df <= 1000),
         |pairs AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, x.n_sh AS na, y.n_sh AS nb, count(*) AS inter
         |  FROM capped x JOIN capped y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2, 3, 4)
         |SELECT a, b, inter, na, nb FROM pairs
         |WHERE inter * 10000 >= 9000 * least(na, nb)
         |ORDER BY a, b""".stripMargin,

    "d_dedup_clusters" ->
      // transitive closure of the undirected near-dup pair graph via a
      // recursive CTE; cluster = min reachable id (incl. self)
      s"""WITH RECURSIVE $ngramPairsCte,
         |edges AS (
         |  SELECT a AS src, b AS dst FROM dup_pairs
         |  UNION ALL SELECT b, a FROM dup_pairs),
         |reach(node, peer) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.peer)
         |SELECT node AS doc_id, CAST(least(node, min(peer)) AS BIGINT) AS cluster
         |FROM reach GROUP BY node
         |ORDER BY doc_id""".stripMargin,

    // dedup-report replay: same closure as d_dedup_clusters, grouped
    // to the size histogram; singletons = corpus minus clustered
    "d_dedup_audit" ->
      s"""WITH RECURSIVE $ngramPairsCte,
         |edges AS (
         |  SELECT a AS src, b AS dst FROM dup_pairs
         |  UNION ALL SELECT b, a FROM dup_pairs),
         |reach(node, peer) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.peer),
         |cc AS (
         |  SELECT node AS doc_id, least(node, min(peer)) AS cluster
         |  FROM reach GROUP BY node),
         |sizes AS (SELECT cluster, count(*) AS sz FROM cc GROUP BY cluster),
         |hist AS (
         |  SELECT sz AS csize, CAST(count(*) AS BIGINT) AS n_clusters,
         |    CAST(sum(sz) AS BIGINT) AS docs,
         |    CAST(sum(sz - 1) AS BIGINT) AS removable
         |  FROM sizes GROUP BY sz),
         |singles AS (
         |  SELECT (SELECT count(*) FROM corpus) - (SELECT count(*) FROM cc) AS n)
         |SELECT * FROM hist
         |UNION ALL
         |SELECT CAST(1 AS BIGINT), n, n, CAST(0 AS BIGINT) FROM singles WHERE n > 0
         |ORDER BY csize""".stripMargin,

    "d_dedup_minhash" ->
      s"""WITH corpus AS ($corpusWithDupsSql),
         |$minhashPairsCte
         |SELECT a, b, inter, na, nb FROM mh_pairs
         |ORDER BY a, b""".stripMargin,

    // persisted-index probe replay: the same minhash chain runs over
    // the store and the delta separately; candidates are store↔delta
    // and delta↔delta band-key collisions, verified by exact shingle
    // intersection — byte-for-byte the contract probeDedupIndex
    // computes from stored rows
    // retraction replay: the store side simply NEVER CONTAINS the
    // victims — probing the post-delete index must hash-match probing
    // an index that never indexed them (the right-to-be-forgotten
    // observational contract)
    "d_dedup_retract" ->
      s"""WITH store AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 1),
         |delta AS (
         |  SELECT doc_id + 500000000 AS doc_id, text FROM documents
         |  WHERE doc_id % 10 = 0 OR doc_id % 7 = 1),
         |${minhashBandedCtes("s_", "store")},
         |${minhashBandedCtes("d_", "delta")},
         |cand AS (
         |  SELECT DISTINCT least(x.doc_id, y.doc_id) AS a,
         |    greatest(x.doc_id, y.doc_id) AS b
         |  FROM s_banded x JOIN d_banded y
         |    ON x.band = y.band AND x.key = y.key AND x.doc_id <> y.doc_id
         |  UNION
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM d_banded x JOIN d_banded y
         |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
         |sigs AS (
         |  SELECT doc_id, hashes FROM s_sigs
         |  UNION ALL SELECT doc_id, hashes FROM d_sigs),
         |verified AS (
         |  SELECT a, b,
         |    len(list_intersect(sa.hashes, sb.hashes)) AS inter,
         |    len(sa.hashes) AS na, len(sb.hashes) AS nb
         |  FROM cand JOIN sigs sa ON sa.doc_id = a
         |    JOIN sigs sb ON sb.doc_id = b)
         |SELECT a, b, inter, na, nb FROM verified
         |WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8
         |ORDER BY a, b""".stripMargin,

    "d_dedup_index" ->
      s"""WITH store AS (SELECT doc_id, text FROM documents),
         |delta AS (
         |  SELECT doc_id + 500000000 AS doc_id, text FROM documents
         |  WHERE doc_id % 10 = 0),
         |${minhashBandedCtes("s_", "store")},
         |${minhashBandedCtes("d_", "delta")},
         |cand AS (
         |  SELECT DISTINCT least(x.doc_id, y.doc_id) AS a,
         |    greatest(x.doc_id, y.doc_id) AS b
         |  FROM s_banded x JOIN d_banded y
         |    ON x.band = y.band AND x.key = y.key AND x.doc_id <> y.doc_id
         |  UNION
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM d_banded x JOIN d_banded y
         |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
         |sigs AS (
         |  SELECT doc_id, hashes FROM s_sigs
         |  UNION ALL SELECT doc_id, hashes FROM d_sigs),
         |verified AS (
         |  SELECT a, b,
         |    len(list_intersect(sa.hashes, sb.hashes)) AS inter,
         |    len(sa.hashes) AS na, len(sb.hashes) AS nb
         |  FROM cand JOIN sigs sa ON sa.doc_id = a
         |    JOIN sigs sb ON sb.doc_id = b)
         |SELECT a, b, inter, na, nb FROM verified
         |WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8
         |ORDER BY a, b""".stripMargin,

    // method-calibration replay: both production pipelines re-derived
    // independently (ngram ground truth + minhash candidates), joined
    // pair-for-pair; recall_ok is an exact integer inequality
    "d_dedup_recall" ->
      s"""WITH $ngramPairsCte,
         |$minhashPairsCte,
         |tp AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM dup_pairs),
         |cd AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM mh_pairs),
         |ht AS (SELECT CAST(count(*) AS BIGINT) AS n_hit FROM dup_pairs d
         |  JOIN mh_pairs m ON d.a = m.a AND d.b = m.b)
         |SELECT n_truth, n_candidates, n_hit,
         |  round(CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE), 6) AS recall,
         |  round(CAST(n_hit AS DOUBLE) / CAST(n_candidates AS DOUBLE), 6)
         |    AS precision,
         |  n_hit * 10 >= n_truth * 9 AS recall_ok
         |FROM tp, cd, ht""".stripMargin,

    "d_dedup_simhash" -> {
      // hard oracle: recompute every 60-bit signature from the raw text
      // (dual-polynomial token hash — bit-for-bit the native kernel),
      // then brute-force ALL pairs with bit_count(xor) <= 3. The Spark
      // side finds pairs via pigeonhole block bucketing, which is
      // complete for hamming <= maxHamming, so the sets must be equal
      // (the df-cut cannot trip at sf0.01: maxDocsPerBucket=1000 > corpus).
      val tokHash = s"((${sqlHash("tok")} % 1048576) + (${sqlHash2("tok")} % 1048576) * 1048576 + (${sqlHash3("tok")} % 1048576) * 1099511627776)"
      s"""WITH corpus AS ($corpusWithDupsSql),
         |toks AS (SELECT doc_id, ${sqlToks("text")} AS t FROM corpus),
         |hashed AS (SELECT doc_id, list_transform(t, tok -> $tokHash) AS hs FROM toks),
         |sims AS (
         |  SELECT doc_id,
         |    list_reduce(list_concat([CAST(0 AS BIGINT)], list_transform(range(0, 60), b ->
         |      CASE WHEN 2 * len(list_filter(hs, h -> (h >> b) & 1 = 1)) > len(hs)
         |           THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE CAST(0 AS BIGINT) END)),
         |      (x, y) -> x + y) AS sim
         |  FROM hashed)
         |SELECT x.doc_id AS a, y.doc_id AS b,
         |  CAST(bit_count(xor(x.sim, y.sim)) AS INT) AS hamming
         |FROM sims x JOIN sims y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.sim, y.sim)) <= 3
         |ORDER BY a, b""".stripMargin
    },

    "d_dedup_embedding" ->
      s"""WITH v AS ($vecsWithDupsSql),
         |b AS (SELECT vec_id, embedding, ${sqlBucket("embedding", 8)} AS bucket FROM v)
         |SELECT x.vec_id AS a, y.vec_id AS b, round(${sqlCos("x.embedding", "y.embedding")}, 6) AS cos
         |FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
         |WHERE ${sqlCos("x.embedding", "y.embedding")} >= 0.9
         |ORDER BY a, b""".stripMargin,

    // SemDeDup replay: same centroid modulo sample as s_knn_ivf but
    // with the ⌈√N⌉-scaled cluster count (sqrt/ceil are IEEE-exact in
    // both engines), top-1 argmax assignment, then the survivor rule
    // as NOT IN over the within-cluster ε-ball pairs — integers only,
    // no float rounding
    "d_dedup_semantic" ->
      s"""WITH v AS ($vecsWithDupsSql),
         |params AS (
         |  SELECT greatest(16, CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) AS c,
         |    greatest(1, count(*) // greatest(16, CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT))) AS step
         |  FROM v),
         |centroids AS (
         |  SELECT list_id, centroid FROM (
         |    SELECT x.vec_id AS list_id, x.embedding AS centroid,
         |      row_number() OVER (ORDER BY x.vec_id) AS r
         |    FROM v x, params
         |    WHERE x.vec_id % params.step = 0), params
         |  WHERE r <= params.c),
         |best AS (
         |  -- hash-agg argmax, NOT a window over the v × centroids
         |  -- materialization: lexicographic struct max over
         |  -- (cos, -list_id) ≡ row_number ORDER BY cos DESC, list_id
         |  -- (same doubles, same tie-break) but streams in O(groups)
         |  -- memory — the window form spills ~100 GB at sf10
         |  SELECT x.vec_id,
         |    max(struct_pack(cs := ${sqlCos("x.embedding", "c.centroid")},
         |                    nl := -c.list_id)) AS m
         |  FROM v x, centroids c
         |  GROUP BY x.vec_id),
         |assign AS (
         |  SELECT b.vec_id, v.embedding,
         |    CAST(-struct_extract(b.m, 'nl') AS BIGINT) AS list_id
         |  FROM best b JOIN v ON v.vec_id = b.vec_id),
         |dropped AS (
         |  SELECT DISTINCT y.vec_id
         |  FROM assign x JOIN assign y
         |    ON x.list_id = y.list_id AND x.vec_id < y.vec_id
         |  WHERE ${sqlCos("x.embedding", "y.embedding")} >= 0.95)
         |SELECT a.vec_id, a.list_id FROM assign a
         |WHERE a.vec_id NOT IN (SELECT vec_id FROM dropped)
         |ORDER BY a.vec_id""".stripMargin,

    "s_pairwise_dups" ->
      s"""WITH v AS ($vecsWithDupsSql),
         |b AS (SELECT vec_id, embedding, ${sqlBucket("embedding", 8)} AS bucket FROM v)
         |SELECT x.vec_id AS a, y.vec_id AS b, round(${sqlCos("x.embedding", "y.embedding")}, 6) AS cos
         |FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
         |WHERE ${sqlCos("x.embedding", "y.embedding")} >= 0.85
         |ORDER BY a, b""".stripMargin,

    // per-dim moment replay over exact micro-integers: sums are exact
    // BIGINTs on both engines; mean/variance divide those sums through
    // identical double shapes (divide-first — sq·n would overflow)
    "s_dim_stats" ->
      """WITH m AS (
        |  SELECT CAST(u.d - 1 AS INTEGER) AS d,
        |    CAST(round(CAST(embedding[u.d] AS DOUBLE) * 1000000) AS BIGINT) AS mv
        |  FROM embeddings, unnest(range(1, 65)) AS u(d)),
        |g AS (
        |  SELECT d, count(*) AS n, CAST(sum(mv) AS BIGINT) AS sm,
        |    sum(mv * mv) AS sq,
        |    min(mv) AS mnv, max(mv) AS mxv
        |  FROM m GROUP BY d)
        |SELECT d, n,
        |  round(CAST(sm AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0), 6) AS mean,
        |  round((CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) -
        |    (CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)) *
        |    (CAST(sm AS DOUBLE) / CAST(n AS DOUBLE))) / 1.0e12, 6) AS variance,
        |  round(CAST(mnv AS DOUBLE) / 1000000.0, 6) AS min_v,
        |  round(CAST(mxv AS DOUBLE) / 1000000.0, 6) AS max_v
        |FROM g ORDER BY d""".stripMargin,

    // class-prototype replay: per-(label, dim) double mean cast FLOAT
    // (the trained-IVF mean contract — float rounding absorbs
    // double-sum association noise), member cosines via the shared
    // ordered fold, cohesion moments over exact micro-cosine integers
    "s_label_centroids" ->
      s"""WITH sums AS (
         |  SELECT label, u.d AS d,
         |    sum(CAST(embedding[u.d] AS DOUBLE)) AS sv, count(*) AS n
         |  FROM embeddings, unnest(range(1, 65)) AS u(d)
         |  GROUP BY label, u.d),
         |cents AS (
         |  SELECT label, list(CAST(sv / CAST(n AS DOUBLE) AS FLOAT) ORDER BY d)
         |    AS centroid
         |  FROM sums GROUP BY label),
         |mc AS (
         |  SELECT e.label,
         |    CAST(round(${sqlCos("e.embedding", "c.centroid")} * 1000000.0) AS BIGINT)
         |      AS mc
         |  FROM embeddings e JOIN cents c ON e.label = c.label)
         |SELECT label, count(*) AS n_vecs,
         |  round(CAST(sum(mc) AS DOUBLE) /
         |    (CAST(count(*) AS DOUBLE) * 1000000.0), 6) AS avg_cos,
         |  round(CAST(min(mc) AS DOUBLE) / 1000000.0, 6) AS min_cos,
         |  round(CAST(max(mc) AS DOUBLE) / 1000000.0, 6) AS max_cos
         |FROM mc GROUP BY label ORDER BY label""".stripMargin,

    // BM25 replay: postings with doc length riding along, df over the
    // corpus restricted to query terms, Lucene idf, identical literal
    // arithmetic to Retrieval.bm25Search (1.2 + 1.0, 1.0 - 0.75 + ...
    // — never pre-folded, so the doubles match bit-for-bit); the rank
    // runs over the 6-dp-ROUNDED score on both engines
    "s_bm25" ->
      s"""WITH $bm25RankedCte
         |SELECT query_id, rank, doc_id, score FROM bm_ranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    // hybrid-search replay: the shared BM25 CTE chain fused with a
    // brute-force cosine ranking by RRF — 1/(60+rank) terms are exact
    // rationals and the two-term sum has a fixed association, so rrf
    // is bit-identical across engines with no rounding anywhere
    "s_hybrid_rrf" ->
      s"""WITH $bm25RankedCte,
         |lex AS (SELECT query_id, doc_id, rank FROM bm_ranked WHERE rank <= 10),
         |vec AS (
         |  SELECT query_id, nbr_id AS doc_id, rank FROM (
         |    SELECT q.vec_id AS query_id, e.vec_id AS nbr_id,
         |      CAST(row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${sqlCos("q.embedding", "e.embedding")} DESC, e.vec_id) AS INT) AS rank
         |    FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
         |    WHERE q.vec_id < 3)
         |  WHERE rank <= 10),
         |fused AS (
         |  SELECT query_id, doc_id,
         |    coalesce(1.0 / (60 + l.rank), 0.0) + coalesce(1.0 / (60 + v.rank), 0.0) AS rrf
         |  FROM lex l FULL OUTER JOIN vec v USING (query_id, doc_id)),
         |rrf_ranked AS (
         |  SELECT query_id, doc_id, rrf,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS INT) AS rank
         |  FROM fused)
         |SELECT query_id, rank, doc_id, rrf FROM rrf_ranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    "s_knn_lsh" ->
      s"""WITH banded AS (
         |  SELECT 0 AS tbl, vec_id, embedding, ${sqlBucket("embedding", 8, seed = 0)} AS bucket FROM embeddings
         |  UNION ALL
         |  SELECT 1 AS tbl, vec_id, embedding, ${sqlBucket("embedding", 8, seed = 1)} AS bucket FROM embeddings),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS query_id, y.vec_id AS nbr_id
         |  FROM banded x JOIN banded y ON x.tbl = y.tbl AND x.bucket = y.bucket
         |  WHERE x.vec_id < 5 AND x.vec_id <> y.vec_id),
         |scored AS (
         |  SELECT query_id, nbr_id, ${sqlCos("q.embedding", "e.embedding")} AS cos
         |  FROM cand JOIN embeddings q ON q.vec_id = query_id
         |  JOIN embeddings e ON e.vec_id = nbr_id),
         |ranked AS (
         |  SELECT query_id, nbr_id, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id) AS INT) AS rank
         |  FROM scored)
         |SELECT query_id, rank, nbr_id, round(cos, 6) AS cos
         |FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    // mutual-kNN replay: LSH candidate pairs, MICRO-cosine ranking
    // (ties → lower id), self-joined on swapped (query, nbr) with
    // both ranks ≤ 5
    "s_mutual_knn" ->
      s"""WITH vecs AS ($vecsWithDupsSql),
         |banded AS (
         |  SELECT 0 AS tbl, vec_id, embedding, ${sqlBucket("embedding", 12, seed = 0)} AS bucket FROM vecs
         |  UNION ALL
         |  SELECT 1 AS tbl, vec_id, embedding, ${sqlBucket("embedding", 12, seed = 1)} AS bucket FROM vecs),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS query_id, y.vec_id AS nbr_id
         |  FROM banded x JOIN banded y ON x.tbl = y.tbl AND x.bucket = y.bucket
         |  WHERE x.vec_id <> y.vec_id),
         |scored AS (
         |  SELECT query_id, nbr_id,
         |    CAST(round(${sqlCos("q.embedding", "e.embedding")} * 1000000)
         |      AS BIGINT) AS micro
         |  FROM cand JOIN vecs q ON q.vec_id = query_id
         |  JOIN vecs e ON e.vec_id = nbr_id),
         |ranked AS MATERIALIZED (
         |  SELECT query_id, nbr_id, micro,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY micro DESC, nbr_id) AS INT) AS rank
         |  FROM scored)
         |SELECT r1.query_id AS a, r1.nbr_id AS b,
         |  r1.rank AS rank_ab, r2.rank AS rank_ba,
         |  CAST(r1.micro AS DOUBLE) / 1000000.0 AS cos
         |FROM ranked r1 JOIN ranked r2
         |  ON r2.query_id = r1.nbr_id AND r2.nbr_id = r1.query_id
         |WHERE r1.rank <= 5 AND r2.rank <= 5 AND r1.query_id < r1.nbr_id
         |ORDER BY a, b""".stripMargin,

    // capped-path replay: 4-plane buckets; the neighbor side of EVERY
    // bucket keeps only the top-16 rows by (portableHash(id:":":tbl),
    // id) — identical to Spark's hot-subset row_number because cold
    // buckets (cnt ≤ 16) pass whole either way; query side complete
    "s_mutual_knn_capped" ->
      s"""WITH vecs AS ($vecsWithDupsSql),
         |banded AS (
         |  SELECT 0 AS tbl, vec_id, embedding, ${sqlBucket("embedding", 4, seed = 0)} AS bucket FROM vecs
         |  UNION ALL
         |  SELECT 1 AS tbl, vec_id, embedding, ${sqlBucket("embedding", 4, seed = 1)} AS bucket FROM vecs),
         |nbrs AS (
         |  SELECT tbl, bucket, vec_id FROM (
         |    SELECT tbl, bucket, vec_id,
         |      row_number() OVER (PARTITION BY tbl, bucket
         |        ORDER BY ${sqlHash("CAST(vec_id AS VARCHAR) || ':' || CAST(tbl AS VARCHAR)")}, vec_id) AS rk
         |    FROM banded)
         |  WHERE rk <= 16),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS query_id, y.vec_id AS nbr_id
         |  FROM banded x JOIN nbrs y ON x.tbl = y.tbl AND x.bucket = y.bucket
         |  WHERE x.vec_id <> y.vec_id),
         |scored AS (
         |  SELECT query_id, nbr_id,
         |    CAST(round(${sqlCos("q.embedding", "e.embedding")} * 1000000)
         |      AS BIGINT) AS micro
         |  FROM cand JOIN vecs q ON q.vec_id = query_id
         |  JOIN vecs e ON e.vec_id = nbr_id),
         |ranked AS MATERIALIZED (
         |  SELECT query_id, nbr_id, micro,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY micro DESC, nbr_id) AS INT) AS rank
         |  FROM scored)
         |SELECT r1.query_id AS a, r1.nbr_id AS b,
         |  r1.rank AS rank_ab, r2.rank AS rank_ba,
         |  CAST(r1.micro AS DOUBLE) / 1000000.0 AS cos
         |FROM ranked r1 JOIN ranked r2
         |  ON r2.query_id = r1.nbr_id AND r2.nbr_id = r1.query_id
         |WHERE r1.rank <= 5 AND r2.rank <= 5 AND r1.query_id < r1.nbr_id
         |ORDER BY a, b""".stripMargin,

    // OOD replay: same micro quantization, decimal-exact moments,
    // identical per-dim term shapes folded in dim order
    "s_embedding_outliers" ->
      """WITH m AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS m
        |  FROM embeddings),
        |st AS (
        |  SELECT u.i AS d, count(*) AS n,
        |    CAST(sum(m[u.i]) AS BIGINT) AS sm, sum(m[u.i] * m[u.i]) AS q
        |  FROM m, unnest(range(1, 65)) AS u(i) GROUP BY 1),
        |sr AS (
        |  SELECT max(n) AS n, list(sm ORDER BY d) AS sms,
        |    list(CAST(q AS DOUBLE) ORDER BY d) AS qs FROM st),
        |sc AS (
        |  SELECT vec_id,
        |    round(list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
        |      list_transform(range(1, 65), i ->
        |        CASE WHEN CAST(n AS DOUBLE) * qs[i] -
        |            CAST(sms[i] AS DOUBLE) * CAST(sms[i] AS DOUBLE) > 0
        |        THEN (CAST(n AS DOUBLE) * CAST(m[i] AS DOUBLE) -
        |              CAST(sms[i] AS DOUBLE)) *
        |             (CAST(n AS DOUBLE) * CAST(m[i] AS DOUBLE) -
        |              CAST(sms[i] AS DOUBLE)) /
        |             (CAST(n AS DOUBLE) * qs[i] -
        |              CAST(sms[i] AS DOUBLE) * CAST(sms[i] AS DOUBLE))
        |        ELSE 0.0 END)), (a, b) -> a + b), 6) AS ood_score
        |  FROM m, sr)
        |SELECT vec_id, ood_score FROM sc
        |ORDER BY ood_score DESC, vec_id LIMIT 20""".stripMargin,

    // SQ8 replay: identical per-dim min/max quantizer, dequantized
    // doubles, same cosine folds
    "s_sq8" -> {
      def fold(expr: String) =
        s"list_reduce(list_concat([CAST(0.0 AS DOUBLE)], list_transform(range(1, 65), i -> $expr)), (x, y) -> x + y)"
      def cos(a: String, b: String) = {
        val dot = fold(s"$a[i] * $b[i]")
        val na = s"sqrt(${fold(s"$a[i] * $a[i]")})"
        val nb = s"sqrt(${fold(s"$b[i] * $b[i]")})"
        s"(CASE WHEN $na * $nb = 0 THEN 0.0 ELSE $dot / ($na * $nb) END)"
      }
      val dqa = """list_transform(range(1, 65), i -> CASE
                  |    WHEN mxs[i] = mns[i] THEN CAST(ea[i] AS DOUBLE)
                  |    ELSE mns[i] + round((CAST(ea[i] AS DOUBLE) - mns[i]) * 255 /
                  |      (mxs[i] - mns[i])) * (mxs[i] - mns[i]) / 255 END)""".stripMargin
      val dqb = dqa.replace("ea[i]", "eb[i]")
      s"""WITH vecs AS ($vecsWithDupsSql),
         |st AS (
         |  SELECT u.i AS d, min(embedding[u.i]) AS mn, max(embedding[u.i]) AS mx
         |  FROM vecs, unnest(range(1, 65)) AS u(i) GROUP BY 1),
         |sr AS (
         |  SELECT list(CAST(mn AS DOUBLE) ORDER BY d) AS mns,
         |         list(CAST(mx AS DOUBLE) ORDER BY d) AS mxs FROM st),
         |pr AS (
         |  SELECT v2.vec_id - 100000000 AS a, v2.vec_id AS b,
         |    va.embedding AS ea, v2.embedding AS eb
         |  FROM vecs v2 JOIN vecs va ON va.vec_id = v2.vec_id - 100000000
         |  WHERE v2.vec_id >= 100000000),
         |q AS (
         |  SELECT a, b,
         |    list_transform(range(1, 65), i -> CAST(ea[i] AS DOUBLE)) AS fa,
         |    list_transform(range(1, 65), i -> CAST(eb[i] AS DOUBLE)) AS fb,
         |    $dqa AS da,
         |    $dqb AS db
         |  FROM pr, sr),
         |c AS (
         |  SELECT a, b, round(${cos("fa", "fb")}, 6) AS cos_full,
         |    round(${cos("da", "db")}, 6) AS cos_sq8
         |  FROM q)
         |SELECT a, b, cos_full, cos_sq8,
         |  round(abs(cos_full - cos_sq8), 6) AS err
         |FROM c ORDER BY a""".stripMargin
    },

    // silhouette replay: same modulo centroid sample + double-cosine
    // ranking as s_knn_ivf; micro-integer silhouette/cohesion means
    "s_silhouette" ->
      s"""WITH params AS (
         |  SELECT greatest(1, count(*) // 8) AS step FROM embeddings),
         |centroids AS (
         |  SELECT e.vec_id AS list_id, e.embedding AS centroid
         |  FROM embeddings e, params
         |  WHERE e.vec_id % params.step = 0
         |  ORDER BY e.vec_id LIMIT 8),
         |ranked AS (
         |  SELECT e.vec_id, c.list_id,
         |    CAST(round(${sqlCos("e.embedding", "c.centroid")} * 1000000) AS BIGINT) AS m,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${sqlCos("e.embedding", "c.centroid")} DESC, c.list_id) AS rn
         |  FROM embeddings e, centroids c),
         |per AS (
         |  SELECT vec_id,
         |    max(CASE WHEN rn = 1 THEN list_id END) AS list_id,
         |    max(CASE WHEN rn = 1 THEN m END) AS m1,
         |    max(CASE WHEN rn = 2 THEN m END) AS m2
         |  FROM ranked WHERE rn <= 2 GROUP BY vec_id),
         |sm AS (
         |  SELECT list_id, m1,
         |    CASE WHEN m2 >= 1000000 THEN 0
         |      ELSE CAST(round(CAST(m1 - m2 AS DOUBLE) * 1000000.0 /
         |        (1000000.0 - CAST(m2 AS DOUBLE))) AS BIGINT) END AS s
         |  FROM per)
         |SELECT list_id, count(*) AS n,
         |  round(CAST(sum(s) AS DOUBLE) /
         |    (CAST(count(*) AS DOUBLE) * 1000000.0), 6) AS mean_sil,
         |  round(CAST(sum(1000000 - m1) AS DOUBLE) /
         |    (CAST(count(*) AS DOUBLE) * 1000000.0), 6) AS mean_dist
         |FROM sm GROUP BY list_id ORDER BY list_id""".stripMargin,

    "s_knn_ivf" ->
      // centroid sample: vec_id % step == 0 (step = N/8), exactly the
      // distributed modulo selection in Similarity.knnIvf
      s"""WITH params AS (
         |  SELECT greatest(1, count(*) // 8) AS step FROM embeddings),
         |centroids AS (
         |  SELECT e.vec_id AS list_id, e.embedding AS centroid
         |  FROM embeddings e, params
         |  WHERE e.vec_id % params.step = 0
         |  ORDER BY e.vec_id LIMIT 8),
         |corpus_assign AS (
         |  SELECT vec_id AS nbr_id, embedding AS nbr_emb, list_id FROM (
         |    SELECT e.vec_id, e.embedding, c.list_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${sqlCos("e.embedding", "c.centroid")} DESC, c.list_id) AS r
         |    FROM embeddings e, centroids c)
         |  WHERE r = 1),
         |query_assign AS (
         |  SELECT vec_id AS query_id, embedding AS q_emb, list_id FROM (
         |    SELECT e.vec_id, e.embedding, c.list_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${sqlCos("e.embedding", "c.centroid")} DESC, c.list_id) AS r
         |    FROM embeddings e, centroids c WHERE e.vec_id < 5)
         |  WHERE r <= 4),
         |scored AS (
         |  SELECT DISTINCT query_id, nbr_id, ${sqlCos("q_emb", "nbr_emb")} AS cos
         |  FROM query_assign q JOIN corpus_assign n USING (list_id)
         |  WHERE query_id <> nbr_id),
         |ranked AS (
         |  SELECT query_id, nbr_id, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id) AS INT) AS rank
         |  FROM scored)
         |SELECT query_id, rank, nbr_id, round(cos, 6) AS cos
         |FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    // MMR replay: the greedy loop unrolls to 5 CTE steps (pen_s = max
    // pairwise cosine vs the selected set; pick = row_number over
    // 0.7·rel − (1 − 0.7)·pen, ties → lowest id). Identical double
    // expressions to the kernel: same cosine folds, same literal
    // arithmetic — so the ids-only output hash-matches
    "s_mmr_rerank" -> {
      val lam = "0.7"
      val steps = (2 to 5).map { s =>
        s"""pen$s AS (
           |  SELECT pr.query_id, pr.a AS nbr_id, max(pr.cos) AS mx
           |  FROM pairs pr JOIN selected${s - 1} sl
           |    ON pr.query_id = sl.query_id AND pr.b = sl.nbr_id
           |  GROUP BY pr.query_id, pr.a),
           |sel$s AS (
           |  SELECT query_id, nbr_id, $s AS rank FROM (
           |    SELECT p.query_id, p.nbr_id,
           |      row_number() OVER (PARTITION BY p.query_id
           |        ORDER BY $lam * p.rel - (1 - $lam) * pen.mx DESC, p.nbr_id) AS r
           |    FROM pool p JOIN pen$s pen
           |      ON pen.query_id = p.query_id AND pen.nbr_id = p.nbr_id
           |    WHERE NOT EXISTS (SELECT 1 FROM selected${s - 1} s2
           |      WHERE s2.query_id = p.query_id AND s2.nbr_id = p.nbr_id))
           |  WHERE r = 1),
           |selected$s AS (
           |  SELECT query_id, nbr_id FROM selected${s - 1}
           |  UNION ALL SELECT query_id, nbr_id FROM sel$s)""".stripMargin
      }.mkString(",\n")
      s"""WITH pool AS (
         |  SELECT query_id, nbr_id, rel FROM (
         |    SELECT q.vec_id AS query_id, e.vec_id AS nbr_id,
         |      ${sqlCos("q.embedding", "e.embedding")} AS rel,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${sqlCos("q.embedding", "e.embedding")} DESC, e.vec_id) AS r
         |    FROM embeddings q, embeddings e
         |    WHERE q.vec_id < 5 AND q.vec_id <> e.vec_id)
         |  WHERE r <= 20),
         |pairs AS (
         |  SELECT p1.query_id, p1.nbr_id AS a, p2.nbr_id AS b,
         |    ${sqlCos("ea.embedding", "eb.embedding")} AS cos
         |  FROM pool p1 JOIN pool p2 USING (query_id)
         |  JOIN embeddings ea ON ea.vec_id = p1.nbr_id
         |  JOIN embeddings eb ON eb.vec_id = p2.nbr_id
         |  WHERE p1.nbr_id <> p2.nbr_id),
         |sel1 AS (
         |  SELECT query_id, nbr_id, 1 AS rank FROM (
         |    SELECT query_id, nbr_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, nbr_id) AS r
         |    FROM pool)
         |  WHERE r = 1),
         |selected1 AS (SELECT query_id, nbr_id FROM sel1),
         |$steps
         |SELECT query_id, CAST(rank AS INT) AS rank, nbr_id
         |FROM (SELECT * FROM sel1 UNION ALL SELECT * FROM sel2
         |  UNION ALL SELECT * FROM sel3 UNION ALL SELECT * FROM sel4
         |  UNION ALL SELECT * FROM sel5)
         |ORDER BY query_id, rank""".stripMargin
    },

    // exact PQ replay: codebook = the modulo sample in id order (code
    // = rank), encode = per-(vector, subspace) argmin of L2² (ties →
    // lowest code), ADC = nested list_reduce folds seeded with 0.0 —
    // the same left-to-right summation order as the Spark aggregate/
    // zip_with expressions, so doubles match bit-for-bit pre-round
    "s_knn_pq" -> {
      def sq(a: String, b: String) = s"(CAST($a AS DOUBLE) - CAST($b AS DOUBLE)) * (CAST($a AS DOUBLE) - CAST($b AS DOUBLE))"
      val encD = sq("e.embedding[u.mi*8 + i]", "c.embedding[u.mi*8 + i]")
      val adcD = sq("q.embedding[mi*8 + i]", "b.bl[n.cs[mi + 1] + 1][mi*8 + i]")
      s"""WITH params AS (SELECT greatest(1, count(*) // 16) AS step FROM embeddings),
         |cbrows AS (
         |  SELECT e.vec_id, e.embedding FROM embeddings e, params
         |  WHERE e.vec_id % params.step = 0 ORDER BY e.vec_id LIMIT 16),
         |cb AS (SELECT vec_id, embedding,
         |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code FROM cbrows),
         |books AS (SELECT list(embedding ORDER BY code) AS bl FROM cb),
         |subd AS (
         |  SELECT e.vec_id, u.mi, c.code,
         |    list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
         |      list_transform(range(1, 9), i -> $encD)), (x, y) -> x + y) AS d
         |  FROM embeddings e, unnest(range(0, 8)) AS u(mi), cb c),
         |enc AS (
         |  SELECT vec_id, mi, code FROM (
         |    SELECT vec_id, mi, code,
         |      row_number() OVER (PARTITION BY vec_id, mi ORDER BY d, code) AS r FROM subd)
         |  WHERE r = 1),
         |codes AS (SELECT vec_id AS nbr_id, list(code ORDER BY mi) AS cs FROM enc GROUP BY vec_id),
         |scored AS (
         |  SELECT q.vec_id AS query_id, n.nbr_id,
         |    list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
         |      list_transform(range(0, 8), mi ->
         |        list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
         |          list_transform(range(1, 9), i -> $adcD)), (x, y) -> x + y))),
         |      (x, y) -> x + y) AS dist
         |  FROM embeddings q, codes n, books b
         |  WHERE q.vec_id < 5 AND q.vec_id <> n.nbr_id),
         |ranked AS (SELECT query_id, nbr_id, dist,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, nbr_id) AS INT) AS rank
         |  FROM scored)
         |SELECT query_id, rank, nbr_id, round(dist, 6) AS dist
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },

    // IVF-PQ = the s_knn_ivf coarse-assignment CTEs composed with the
    // s_knn_pq codebook/encode/ADC CTEs; candidates come from probed
    // lists instead of the full code scan
    "s_knn_ivfpq" -> {
      def sq(a: String, b: String) = s"(CAST($a AS DOUBLE) - CAST($b AS DOUBLE)) * (CAST($a AS DOUBLE) - CAST($b AS DOUBLE))"
      val encD = sq("e.embedding[u.mi*8 + i]", "c.embedding[u.mi*8 + i]")
      val adcD = sq("q.q_emb[mi*8 + i]", "b.bl[n.cs[mi + 1] + 1][mi*8 + i]")
      s"""WITH ivfparams AS (SELECT greatest(1, count(*) // 8) AS step FROM embeddings),
         |centroids AS (
         |  SELECT e.vec_id AS list_id, e.embedding AS centroid
         |  FROM embeddings e, ivfparams
         |  WHERE e.vec_id % ivfparams.step = 0
         |  ORDER BY e.vec_id LIMIT 8),
         |corpus_assign AS (
         |  SELECT vec_id AS nbr_id, list_id FROM (
         |    SELECT e.vec_id, c.list_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${sqlCos("e.embedding", "c.centroid")} DESC, c.list_id) AS r
         |    FROM embeddings e, centroids c)
         |  WHERE r = 1),
         |query_assign AS (
         |  SELECT vec_id AS query_id, q_emb, list_id FROM (
         |    SELECT e.vec_id, e.embedding AS q_emb, c.list_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${sqlCos("e.embedding", "c.centroid")} DESC, c.list_id) AS r
         |    FROM embeddings e, centroids c WHERE e.vec_id < 5)
         |  WHERE r <= 4),
         |pqparams AS (SELECT greatest(1, count(*) // 16) AS step FROM embeddings),
         |cbrows AS (
         |  SELECT e.vec_id, e.embedding FROM embeddings e, pqparams
         |  WHERE e.vec_id % pqparams.step = 0 ORDER BY e.vec_id LIMIT 16),
         |cb AS (SELECT vec_id, embedding,
         |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code FROM cbrows),
         |books AS (SELECT list(embedding ORDER BY code) AS bl FROM cb),
         |subd AS (
         |  SELECT e.vec_id, u.mi, c.code,
         |    list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
         |      list_transform(range(1, 9), i -> $encD)), (x, y) -> x + y) AS d
         |  FROM embeddings e, unnest(range(0, 8)) AS u(mi), cb c),
         |enc AS (
         |  SELECT vec_id, mi, code FROM (
         |    SELECT vec_id, mi, code,
         |      row_number() OVER (PARTITION BY vec_id, mi ORDER BY d, code) AS r FROM subd)
         |  WHERE r = 1),
         |codes AS (SELECT vec_id AS nbr_id, list(code ORDER BY mi) AS cs FROM enc GROUP BY vec_id),
         |scored AS (
         |  SELECT DISTINCT q.query_id, n.nbr_id,
         |    list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
         |      list_transform(range(0, 8), mi ->
         |        list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
         |          list_transform(range(1, 9), i -> $adcD)), (x, y) -> x + y))),
         |      (x, y) -> x + y) AS dist
         |  FROM query_assign q
         |  JOIN corpus_assign ca USING (list_id)
         |  JOIN codes n ON n.nbr_id = ca.nbr_id
         |  CROSS JOIN books b
         |  WHERE q.query_id <> n.nbr_id),
         |ranked AS (SELECT query_id, nbr_id, dist,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, nbr_id) AS INT) AS rank
         |  FROM scored)
         |SELECT query_id, rank, nbr_id, round(dist, 6) AS dist
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },

    "s_knn_bruteforce" -> {
      val dot = "list_reduce(list_concat([CAST(0.0 AS DOUBLE)], list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))), (x, y) -> x + y)"
      val na = "sqrt(list_reduce(list_concat([CAST(0.0 AS DOUBLE)], list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))), (x, y) -> x + y))"
      val nb = "sqrt(list_reduce(list_concat([CAST(0.0 AS DOUBLE)], list_transform(range(1, 65), i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))), (x, y) -> x + y))"
      s"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, round(CASE WHEN $na * $nb = 0 THEN 0.0 ELSE $dot / ($na * $nb) END, 6) AS cos
         |FROM embeddings e, q
         |ORDER BY CASE WHEN $na * $nb = 0 THEN 0.0 ELSE $dot / ($na * $nb) END DESC, e.vec_id
         |LIMIT 10""".stripMargin
    },

    "s_knn_ivf_trained" -> {
      // two unrolled Lloyd iterations over the sampled seeds, then the
      // s_knn_ivf search against the trained centroids. Means mirror
      // the Spark formulation exactly: per-(list, dim) double sum /
      // count, cast to float; empty lists keep the previous centroid.
      def lloyd(i: Int, prev: String): String =
        s"""assign$i AS (
           |  SELECT vec_id, embedding, list_id FROM (
           |    SELECT e.vec_id, e.embedding, c.list_id,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${sqlCos("e.embedding", "c.centroid")} DESC, c.list_id) AS r
           |    FROM embeddings e, $prev c)
           |  WHERE r = 1),
           |sums$i AS (
           |  SELECT list_id, u.d AS d,
           |    sum(CAST(embedding[u.d] AS DOUBLE)) AS s, count(*) AS c
           |  FROM assign$i, unnest(range(1, 65)) AS u(d)
           |  GROUP BY list_id, u.d),
           |means$i AS (
           |  SELECT list_id, list(CAST(s / c AS FLOAT) ORDER BY d) AS centroid
           |  FROM sums$i GROUP BY list_id),
           |cents$i AS (
           |  SELECT list_id, centroid FROM means$i
           |  UNION ALL
           |  SELECT list_id, centroid FROM $prev
           |  WHERE list_id NOT IN (SELECT list_id FROM means$i))""".stripMargin
      s"""WITH params AS (
         |  SELECT greatest(1, count(*) // 8) AS step FROM embeddings),
         |cents0 AS (
         |  SELECT e.vec_id AS list_id, e.embedding AS centroid
         |  FROM embeddings e, params
         |  WHERE e.vec_id % params.step = 0
         |  ORDER BY e.vec_id LIMIT 8),
         |${lloyd(1, "cents0")},
         |${lloyd(2, "cents1")},
         |corpus_assign AS (
         |  SELECT vec_id AS nbr_id, embedding AS nbr_emb, list_id FROM (
         |    SELECT e.vec_id, e.embedding, c.list_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${sqlCos("e.embedding", "c.centroid")} DESC, c.list_id) AS r
         |    FROM embeddings e, cents2 c)
         |  WHERE r = 1),
         |query_assign AS (
         |  SELECT vec_id AS query_id, embedding AS q_emb, list_id FROM (
         |    SELECT e.vec_id, e.embedding, c.list_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${sqlCos("e.embedding", "c.centroid")} DESC, c.list_id) AS r
         |    FROM embeddings e, cents2 c WHERE e.vec_id < 5)
         |  WHERE r <= 4),
         |scored AS (
         |  SELECT DISTINCT query_id, nbr_id, ${sqlCos("q_emb", "nbr_emb")} AS cos
         |  FROM query_assign q JOIN corpus_assign n USING (list_id)
         |  WHERE query_id <> nbr_id),
         |ranked AS (
         |  SELECT query_id, nbr_id, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id) AS INT) AS rank
         |  FROM scored)
         |SELECT query_id, rank, nbr_id, round(cos, 6) AS cos
         |FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    },

    "s_knn_recall" ->
      s"""WITH banded AS (
         |${(0 until 8).map(t =>
        s"  SELECT $t AS tbl, vec_id, embedding, ${sqlBucket("embedding", 4, seed = t)} AS bucket FROM embeddings")
        .mkString("", "\n  UNION ALL\n", "),")}
         |lsh_cand AS (
         |  SELECT DISTINCT x.vec_id AS query_id, y.vec_id AS nbr_id
         |  FROM banded x JOIN banded y ON x.tbl = y.tbl AND x.bucket = y.bucket
         |  WHERE x.vec_id < 10 AND x.vec_id <> y.vec_id),
         |lsh_top AS (
         |  SELECT query_id, nbr_id FROM (
         |    SELECT query_id, nbr_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY ${sqlCos("q.embedding", "e.embedding")} DESC, nbr_id) AS r
         |    FROM lsh_cand JOIN embeddings q ON q.vec_id = query_id
         |    JOIN embeddings e ON e.vec_id = nbr_id)
         |  WHERE r <= 10),
         |params AS (
         |  SELECT greatest(1, count(*) // 8) AS step FROM embeddings),
         |centroids AS (
         |  SELECT e.vec_id AS list_id, e.embedding AS centroid
         |  FROM embeddings e, params
         |  WHERE e.vec_id % params.step = 0
         |  ORDER BY e.vec_id LIMIT 8),
         |corpus_assign AS (
         |  SELECT vec_id AS nbr_id, embedding AS nbr_emb, list_id FROM (
         |    SELECT e.vec_id, e.embedding, c.list_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${sqlCos("e.embedding", "c.centroid")} DESC, c.list_id) AS r
         |    FROM embeddings e, centroids c)
         |  WHERE r = 1),
         |query_assign AS (
         |  SELECT vec_id AS query_id, embedding AS q_emb, list_id FROM (
         |    SELECT e.vec_id, e.embedding, c.list_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${sqlCos("e.embedding", "c.centroid")} DESC, c.list_id) AS r
         |    FROM embeddings e, centroids c WHERE e.vec_id < 10)
         |  WHERE r <= 5),
         |ivf_top AS (
         |  SELECT query_id, nbr_id FROM (
         |    SELECT query_id, nbr_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id) AS r
         |    FROM (
         |      SELECT DISTINCT query_id, nbr_id, ${sqlCos("q_emb", "nbr_emb")} AS cos
         |      FROM query_assign q JOIN corpus_assign n USING (list_id)
         |      WHERE query_id <> nbr_id))
         |  WHERE r <= 10),
         |ground AS (
         |  SELECT query_id, nbr_id FROM (
         |    SELECT q.vec_id AS query_id, e.vec_id AS nbr_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${sqlCos("q.embedding", "e.embedding")} DESC, e.vec_id) AS r
         |    FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
         |    WHERE q.vec_id < 10)
         |  WHERE r <= 10),
         |lsh_o AS (
         |  SELECT query_id, count(*) AS lsh_overlap
         |  FROM lsh_top JOIN ground USING (query_id, nbr_id) GROUP BY query_id),
         |ivf_o AS (
         |  SELECT query_id, count(*) AS ivf_overlap
         |  FROM ivf_top JOIN ground USING (query_id, nbr_id) GROUP BY query_id)
         |SELECT q.vec_id AS query_id,
         |  CAST(coalesce(l.lsh_overlap, 0) AS BIGINT) AS lsh_overlap,
         |  CAST(coalesce(i.ivf_overlap, 0) AS BIGINT) AS ivf_overlap,
         |  coalesce(l.lsh_overlap, 0) >= 3 AS lsh_ok,
         |  coalesce(i.ivf_overlap, 0) >= 5 AS ivf_ok
         |FROM embeddings q
         |LEFT JOIN lsh_o l ON l.query_id = q.vec_id
         |LEFT JOIN ivf_o i ON i.query_id = q.vec_id
         |WHERE q.vec_id < 10
         |ORDER BY query_id""".stripMargin,

    // rank-metrics replay: same LSH candidate derivation as
    // s_knn_recall but retaining the rank; AP terms hits@r/r are
    // single exact-integer divisions summed in list_reduce's
    // ascending-rank order — the same fold sequence as Spark's
    // aggregate(sort_array(...)), so the doubles are bit-identical
    "s_rank_metrics" ->
      s"""WITH banded AS (
         |${(0 until 8).map(t =>
        s"  SELECT $t AS tbl, vec_id, embedding, ${sqlBucket("embedding", 4, seed = t)} AS bucket FROM embeddings")
        .mkString("", "\n  UNION ALL\n", "),")}
         |lsh_cand AS (
         |  SELECT DISTINCT x.vec_id AS query_id, y.vec_id AS nbr_id
         |  FROM banded x JOIN banded y ON x.tbl = y.tbl AND x.bucket = y.bucket
         |  WHERE x.vec_id < 10 AND x.vec_id <> y.vec_id),
         |lsh_top AS (
         |  SELECT query_id, nbr_id, r AS rank FROM (
         |    SELECT query_id, nbr_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY ${sqlCos("q.embedding", "e.embedding")} DESC, nbr_id) AS r
         |    FROM lsh_cand JOIN embeddings q ON q.vec_id = query_id
         |    JOIN embeddings e ON e.vec_id = nbr_id)
         |  WHERE r <= 10),
         |ground AS (
         |  SELECT query_id, nbr_id FROM (
         |    SELECT q.vec_id AS query_id, e.vec_id AS nbr_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${sqlCos("q.embedding", "e.embedding")} DESC, e.vec_id) AS r
         |    FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
         |    WHERE q.vec_id < 10)
         |  WHERE r <= 10),
         |rel AS (
         |  SELECT l.query_id, l.rank,
         |    CASE WHEN g.nbr_id IS NOT NULL THEN 1 ELSE 0 END AS rel
         |  FROM lsh_top l LEFT JOIN ground g
         |    ON g.query_id = l.query_id AND g.nbr_id = l.nbr_id),
         |terms AS (
         |  SELECT query_id, rank, rel,
         |    sum(rel) OVER (PARTITION BY query_id ORDER BY rank) AS hits
         |  FROM rel),
         |perq AS (
         |  SELECT query_id,
         |    CAST(sum(rel) AS BIGINT) AS n_rel,
         |    min(CASE WHEN rel = 1 THEN rank END) AS first_rel,
         |    list(CASE WHEN rel = 1 THEN CAST(hits AS DOUBLE) / rank
         |              ELSE CAST(0.0 AS DOUBLE) END ORDER BY rank) AS ts
         |  FROM terms GROUP BY query_id)
         |SELECT q.vec_id AS query_id,
         |  coalesce(p.n_rel, 0) AS n_rel,
         |  coalesce(CAST(1.0 AS DOUBLE) / p.first_rel, CAST(0.0 AS DOUBLE)) AS rr,
         |  coalesce(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), p.ts),
         |      (a, b) -> a + b), CAST(0.0 AS DOUBLE))
         |    / CAST(10.0 AS DOUBLE) AS ap
         |FROM embeddings q
         |LEFT JOIN perq p ON p.query_id = q.vec_id
         |WHERE q.vec_id < 10
         |ORDER BY query_id""".stripMargin,

    // probe-curve replay: shared centroid/corpus-assign/ground CTEs
    // (MATERIALIZED — referenced once per probe setting), one
    // query-assign → score → rank → hit-count block per nProbe
    "s_ivf_probe_curve" -> {
      def block(p: Int) =
        s"""qa$p AS (
           |  SELECT vec_id AS query_id, embedding AS q_emb, list_id FROM (
           |    SELECT e.vec_id, e.embedding, c.list_id,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${sqlCos("e.embedding", "c.centroid")} DESC, c.list_id) AS r
           |    FROM embeddings e, centroids c WHERE e.vec_id < 10)
           |  WHERE r <= $p),
           |rk$p AS (
           |  SELECT query_id, nbr_id FROM (
           |    SELECT query_id, nbr_id,
           |      row_number() OVER (PARTITION BY query_id
           |        ORDER BY cos DESC, nbr_id) AS rank
           |    FROM (SELECT DISTINCT query_id, nbr_id,
           |            ${sqlCos("q.q_emb", "n.nbr_emb")} AS cos
           |          FROM qa$p q JOIN corpus_assign n USING (list_id)
           |          WHERE query_id <> nbr_id) s)
           |  WHERE rank <= 10),
           |hit$p AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_hit
           |  FROM rk$p JOIN ground USING (query_id, nbr_id))""".stripMargin
      def row(p: Int) =
        s"""SELECT $p AS n_probe,
           |  (SELECT count(DISTINCT query_id) FROM ground) AS n_queries,
           |  n_hit,
           |  round(CAST(n_hit AS DOUBLE) /
           |    CAST((SELECT count(*) FROM ground) AS DOUBLE), 6) AS recall
           |FROM hit$p""".stripMargin
      s"""WITH params AS (
         |  SELECT greatest(1, count(*) // 8) AS step FROM embeddings),
         |centroids AS MATERIALIZED (
         |  SELECT e.vec_id AS list_id, e.embedding AS centroid
         |  FROM embeddings e, params
         |  WHERE e.vec_id % params.step = 0
         |  ORDER BY e.vec_id LIMIT 8),
         |corpus_assign AS MATERIALIZED (
         |  SELECT vec_id AS nbr_id, embedding AS nbr_emb, list_id FROM (
         |    SELECT e.vec_id, e.embedding, c.list_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${sqlCos("e.embedding", "c.centroid")} DESC, c.list_id) AS r
         |    FROM embeddings e, centroids c)
         |  WHERE r = 1),
         |ground AS MATERIALIZED (
         |  SELECT query_id, nbr_id FROM (
         |    SELECT q.vec_id AS query_id, e.vec_id AS nbr_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${sqlCos("q.embedding", "e.embedding")} DESC, e.vec_id) AS r
         |    FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
         |    WHERE q.vec_id < 10)
         |  WHERE r <= 10),
         |${Seq(1, 2, 4, 8).map(block).mkString(",\n")}
         |${Seq(1, 2, 4, 8).map(row).mkString("(", ")\nUNION ALL\n(", ")")}
         |ORDER BY n_probe""".stripMargin
    },

    // nDCG replay: same banded/ground CTEs as s_rank_metrics, ln-shaped
    // discounts, ordered-list folds
    "s_ndcg" ->
      s"""WITH banded AS (
         |${(0 until 8).map(t =>
        s"  SELECT $t AS tbl, vec_id, embedding, ${sqlBucket("embedding", 4, seed = t)} AS bucket FROM embeddings")
        .mkString("", "\n  UNION ALL\n", "),")}
         |lsh_cand AS (
         |  SELECT DISTINCT x.vec_id AS query_id, y.vec_id AS nbr_id
         |  FROM banded x JOIN banded y ON x.tbl = y.tbl AND x.bucket = y.bucket
         |  WHERE x.vec_id < 10 AND x.vec_id <> y.vec_id),
         |lsh_top AS (
         |  SELECT query_id, nbr_id, r AS rank FROM (
         |    SELECT query_id, nbr_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY ${sqlCos("q.embedding", "e.embedding")} DESC, nbr_id) AS r
         |    FROM lsh_cand JOIN embeddings q ON q.vec_id = query_id
         |    JOIN embeddings e ON e.vec_id = nbr_id)
         |  WHERE r <= 10),
         |ground AS (
         |  SELECT query_id, nbr_id FROM (
         |    SELECT q.vec_id AS query_id, e.vec_id AS nbr_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${sqlCos("q.embedding", "e.embedding")} DESC, e.vec_id) AS r
         |    FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
         |    WHERE q.vec_id < 10)
         |  WHERE r <= 10),
         |rel AS (
         |  SELECT l.query_id, l.rank,
         |    CASE WHEN g.nbr_id IS NOT NULL THEN 1 ELSE 0 END AS rel
         |  FROM lsh_top l LEFT JOIN ground g
         |    ON g.query_id = l.query_id AND g.nbr_id = l.nbr_id),
         |gsz AS (
         |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel_total
         |  FROM ground GROUP BY 1),
         |perq AS (
         |  SELECT query_id, CAST(sum(rel) AS BIGINT) AS n_rel,
         |    list(CASE WHEN rel = 1 THEN ln(2.0) / ln(CAST(rank + 1 AS DOUBLE))
         |              ELSE CAST(0.0 AS DOUBLE) END ORDER BY rank) AS ts
         |  FROM rel GROUP BY query_id),
         |sc AS (
         |  SELECT perq.query_id, n_rel,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ts),
         |      (a, b) -> a + b) AS dcg,
         |    CASE WHEN coalesce(n_rel_total, 0) > 0 THEN
         |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |        list_transform(range(1, CAST(least(n_rel_total, 10) AS INT) + 1),
         |          i -> ln(2.0) / ln(CAST(i + 1 AS DOUBLE)))),
         |        (a, b) -> a + b)
         |      ELSE CAST(0.0 AS DOUBLE) END AS idcg
         |  FROM perq LEFT JOIN gsz ON gsz.query_id = perq.query_id)
         |SELECT q.vec_id AS query_id,
         |  coalesce(sc.n_rel, 0) AS n_rel,
         |  coalesce(round(CASE WHEN sc.idcg > 0 THEN sc.dcg / sc.idcg
         |    ELSE 0.0 END, 6), CAST(0.0 AS DOUBLE)) AS ndcg
         |FROM embeddings q LEFT JOIN sc ON sc.query_id = q.vec_id
         |WHERE q.vec_id < 10 ORDER BY query_id""".stripMargin,

    "t_token_count" ->
      s"""SELECT doc_id,
         |  CAST(len(${sqlToks("text")}) AS INT) AS n_tokens,
         |  CAST(len(list_filter(regexp_split_to_array(text, '[^A-Za-z0-9]+'), x -> length(x) > 0))
         |    + length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS INT) AS n_pieces,
         |  CAST(length(text) AS INT) AS n_chars
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_profile" -> {
      val cols = Seq("doc_id", "lang", "source", "n_chars")
      cols.map { c =>
        s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(*) - count($c) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_value,
           |  CAST(max($c) AS VARCHAR) AS max_value
           |FROM documents""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },

    "q_histogram" -> {
      val cols = Seq("lang", "source", "n_chars")
      val per = cols.map { c =>
        s"""SELECT '$c' AS "column", coalesce(CAST($c AS VARCHAR), '<null>') AS value,
           |  CAST(count(*) AS BIGINT) AS cnt
           |FROM documents GROUP BY 2""".stripMargin
      }.mkString("(", ")\nUNION ALL\n(", ")")
      s"""WITH counts AS ($per),
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY "column"
         |    ORDER BY cnt DESC, value ASC) AS INT) AS rank
         |  FROM counts)
         |SELECT "column", value, cnt, rank FROM ranked
         |WHERE rank <= 5
         |ORDER BY "column", rank""".stripMargin
    },

    "q_drift" -> {
      val mk = (src: String, cnt: String) => Seq("lang", "source").map { c =>
        s"""SELECT '$c' AS "column", coalesce(CAST($c AS VARCHAR), '<null>') AS value,
           |  count(*) AS $cnt FROM $src GROUP BY 2""".stripMargin
      }.mkString("(", ")\nUNION ALL\n(", ")")
      s"""WITH oldd AS (SELECT lang, source FROM documents),
         |nw AS (SELECT lang, source FROM documents WHERE doc_id % 17 <> 3
         |  UNION ALL
         |  SELECT lang, 'src_new' FROM documents WHERE doc_id % 13 = 7),
         |po AS (${mk("oldd", "n_old")}),
         |pn AS (${mk("nw", "n_new")}),
         |bins AS (
         |  SELECT coalesce(po."column", pn."column") AS "column",
         |    coalesce(po.value, pn.value) AS value,
         |    CAST(coalesce(n_old, 0) AS BIGINT) AS n_old,
         |    CAST(coalesce(n_new, 0) AS BIGINT) AS n_new
         |  FROM po FULL OUTER JOIN pn
         |    ON po."column" = pn."column" AND po.value = pn.value),
         |tot AS (SELECT "column", CAST(sum(n_old) AS BIGINT) AS t_old,
         |    CAST(sum(n_new) AS BIGINT) AS t_new, count(*) AS n_bins
         |  FROM bins GROUP BY 1)
         |SELECT "column", n_bins, t_old, t_new,
         |  round(sum(((n_new + 1) / (t_new + n_bins) - (n_old + 1) / (t_old + n_bins))
         |    * ln(((n_new + 1) / (t_new + n_bins)) / ((n_old + 1) / (t_old + n_bins)))), 6) AS psi
         |FROM bins JOIN tot USING ("column")
         |GROUP BY 1, 2, 3, 4
         |ORDER BY "column"""".stripMargin
    },

    // entropy terms are folded in ASCENDING code-point order on both
    // engines (list(c ORDER BY cp) here, sorted-key loop in the
    // kernel) so the doubles agree to the gate's 10 significant digits
    "t_entropy" ->
      """WITH chars AS (
        |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, ''), c -> length(c) > 0)) AS ch
        |  FROM documents),
        |cc AS (SELECT doc_id, unicode(ch) AS cp, CAST(count(*) AS DOUBLE) AS c FROM chars GROUP BY 1, 2),
        |agg AS (SELECT doc_id, list(c ORDER BY cp) AS cs, sum(c) AS n FROM cc GROUP BY doc_id),
        |e AS (SELECT doc_id,
        |  list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
        |    list_transform(cs, c -> -(c / n) * ln(c / n))), (a, b) -> a + b) AS entropy
        |  FROM agg)
        |SELECT d.doc_id, coalesce(e.entropy, 0.0) AS entropy,
        |  CAST(coalesce(e.entropy, 0.0) < 2.8 AS INT) AS low_entropy
        |FROM documents d LEFT JOIN e ON d.doc_id = e.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "t_lang_id" ->
      s"""WITH $langPredCte
         |SELECT doc_id, lang_pred FROM lang_pred_t ORDER BY doc_id""".stripMargin,

    // classifier-evaluation replay: the shared prediction CTE grouped
    // against the ground-truth label; frac is one exact-int division
    "t_lang_confusion" ->
      s"""WITH $langPredCte,
         |c AS (
         |  SELECT lang, lang_pred, count(*) AS n
         |  FROM lang_pred_t GROUP BY 1, 2)
         |SELECT lang, lang_pred, n,
         |  round(CAST(n AS DOUBLE) /
         |    CAST(sum(n) OVER (PARTITION BY lang) AS DOUBLE), 6) AS frac
         |FROM c ORDER BY lang, lang_pred""".stripMargin,

    // exact Mann-Whitney AUC replay over the same (source, score)
    // histogram: 2U = Σ np·(2·cum_neg + nn) stays integral (average-
    // rank ties doubled out), one fixed-shape double division at the
    // end — bit-identical across engines
    "t_score_auc" -> {
      val en = TextAnalysis.Stopwords("en").map(w => s"'$w'").mkString(",")
      s"""WITH scored AS (
         |  SELECT source,
         |    CAST(len(list_filter(${sqlToks("lower(text)")},
         |      x -> list_contains([$en], x))) AS BIGINT) AS score,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
         |  FROM documents),
         |hist AS (
         |  SELECT source, score, count(*) AS n, sum(pos) AS np,
         |    count(*) - sum(pos) AS nn
         |  FROM scored GROUP BY 1, 2),
         |cum AS (
         |  SELECT *, coalesce(sum(nn) OVER (PARTITION BY source ORDER BY score
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_neg
         |  FROM hist)
         |SELECT source, CAST(sum(np) AS BIGINT) AS n_pos,
         |  CAST(sum(nn) AS BIGINT) AS n_neg,
         |  CAST(sum(np * (2 * cum_neg + nn)) AS DOUBLE) AS u2,
         |  CASE WHEN sum(np) > 0 AND sum(nn) > 0 THEN
         |    CAST(sum(np * (2 * cum_neg + nn)) AS DOUBLE) /
         |      (CAST(2.0 AS DOUBLE) * sum(np) * sum(nn))
         |  END AS auc
         |FROM cum GROUP BY source ORDER BY source""".stripMargin
    },

    "t_quality_score" -> {
      val allStop = TextAnalysis.Stopwords.values.flatten.toSeq.distinct
        .map(w => s"'$w'").mkString(",")
      s"""SELECT doc_id, CAST(
         |  (CASE WHEN n_tok >= 20 AND n_tok <= 5000 THEN 40.0 WHEN n_tok > 0 THEN 20.0 ELSE 0.0 END)
         |  + (CASE WHEN n_chars = 0 THEN 0.0
         |          WHEN punct / n_chars <= 0.1 THEN 30.0
         |          WHEN punct / n_chars <= 0.3 THEN 15.0 ELSE 0.0 END)
         |  + (CASE WHEN n_tok = 0 THEN 0.0
         |          WHEN stop_hits / n_tok >= 0.05 THEN 30.0
         |          WHEN stop_hits > 0 THEN 15.0 ELSE 0.0 END) AS INT) AS quality
         |FROM (
         |  SELECT doc_id,
         |    CAST(len(${sqlToks("text")}) AS DOUBLE) AS n_tok,
         |    CAST(length(text) AS DOUBLE) AS n_chars,
         |    CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) AS punct,
         |    CAST(len(list_filter(${sqlToks("lower(text)")}, x -> list_contains([$allStop], x))) AS DOUBLE) AS stop_hits
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin
    },

    "t_clean_text" ->
      """SELECT doc_id,
        |  trim(regexp_replace(
        |    regexp_replace(
        |      regexp_replace(text, 'https?://[^\s]+', '', 'g'),
        |      '[^\s]+@[^\s]+\.[^\s]+', '', 'g'),
        |    '\s+', ' ', 'g')) AS clean,
        |  CAST(length(trim(regexp_replace(
        |    regexp_replace(
        |      regexp_replace(text, 'https?://[^\s]+', '', 'g'),
        |      '[^\s]+@[^\s]+\.[^\s]+', '', 'g'),
        |    '\s+', ' ', 'g'))) AS INT) AS n_chars_clean
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t_repetition" ->
      """SELECT doc_id,
        |  CAST(len(lines) AS INT) AS n_lines,
        |  CAST(len(list_distinct(lines)) AS INT) AS n_distinct_lines
        |FROM (
        |  SELECT doc_id,
        |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
        |                l -> length(l) > 0) AS lines
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "t_pii_redact" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' contact a' || CAST(doc_id % 7 AS VARCHAR)
        |      || '@ex' || CAST(doc_id % 3 AS VARCHAR) || '.com or 555-123-4567 node 10.0.'
        |      || CAST(doc_id % 9 AS VARCHAR) || '.25 end' ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS INT) AS n_phones,
        |  CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ips,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted
        |FROM d ORDER BY doc_id""".stripMargin,

    "t_corpus_filter" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    len(${sqlToks("text")}) AS n_tok,
         |    length(text) AS n_chars,
         |    length(regexp_replace(text, '\\s+', '', 'g')) AS tok_chars,
         |    length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS symbols
         |  FROM documents),
         |sig AS (
         |  SELECT doc_id, n_tok, CAST(n_chars AS BIGINT) AS n_chars,
         |    CASE WHEN n_tok > 0 THEN CAST(tok_chars AS DOUBLE) / n_tok ELSE 0.0 END AS mean_tok_len,
         |    CASE WHEN n_chars > 0 THEN CAST(symbols AS DOUBLE) / n_chars ELSE 0.0 END AS symbol_ratio
         |  FROM t),
         |r AS (
         |  SELECT doc_id, n_tok, n_chars, mean_tok_len, symbol_ratio,
         |    CASE WHEN n_tok < 25 THEN 'too_short'
         |         WHEN n_tok > 50000 THEN 'too_long'
         |         WHEN mean_tok_len < 2.0 THEN 'tokens_too_short'
         |         WHEN mean_tok_len > 12.0 THEN 'tokens_too_long'
         |         WHEN symbol_ratio > 0.3 THEN 'too_many_symbols'
         |         ELSE 'ok' END AS reason
         |  FROM sig)
         |SELECT doc_id, CAST(n_tok AS INT) AS n_tok, n_chars, mean_tok_len, symbol_ratio,
         |  reason, CAST(CASE WHEN reason = 'ok' THEN 1 ELSE 0 END AS INT) AS keep
         |FROM r ORDER BY doc_id""".stripMargin,

    // Zipf replay: identical rank table, sums folded by ordered
    // list_reduce (the contracted-order float contract), identical
    // arithmetic shape for slope/intercept/r2
    "t_zipf_fit" ->
      s"""WITH toks AS (
         |  SELECT lang, unnest(${sqlToks("text")}) AS tok FROM documents),
         |tc AS (SELECT lang, tok, count(*) AS c FROM toks GROUP BY lang, tok),
         |rk AS (SELECT lang, c, row_number() OVER (PARTITION BY lang
         |    ORDER BY c DESC, tok) AS r FROM tc),
         |top AS (SELECT lang, r, ln(CAST(r AS DOUBLE)) AS x,
         |    ln(CAST(c AS DOUBLE)) AS y
         |  FROM rk WHERE r <= 1000),
         |s AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS v,
         |    CAST(count(*) AS DOUBLE) AS vd,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(x ORDER BY r)), (a, b) -> a + b) AS sx,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(y ORDER BY r)), (a, b) -> a + b) AS sy,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(x * y ORDER BY r)), (a, b) -> a + b) AS sxy,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(x * x ORDER BY r)), (a, b) -> a + b) AS sxx,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(y * y ORDER BY r)), (a, b) -> a + b) AS syy
         |  FROM top GROUP BY lang HAVING count(*) >= 3)
         |SELECT lang, v,
         |  (vd * sxy - sx * sy) / (vd * sxx - sx * sx) AS slope,
         |  (sy - ((vd * sxy - sx * sy) / (vd * sxx - sx * sx)) * sx) / vd AS intercept,
         |  ((vd * sxy - sx * sy) * (vd * sxy - sx * sy)) /
         |    ((vd * sxx - sx * sx) * (vd * syy - sy * sy)) AS r2
         |FROM s ORDER BY lang""".stripMargin,

    "t_code_detect" ->
      s"""WITH ls AS (
         |  SELECT doc_id, text, string_split(text, chr(10)) AS lines
         |  FROM documents),
         |c AS (
         |  SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(length(text) -
         |      length(regexp_replace(text, '[{}\\[\\]();=<>]', '', 'g')) AS BIGINT)
         |      AS n_sym,
         |    CAST(len(list_filter(lines, l -> length(trim(l)) > 0)) AS BIGINT)
         |      AS n_lines,
         |    CAST(len(list_filter(lines, l -> regexp_matches(l, '^(\\t|  )')))
         |      AS BIGINT) AS n_indent,
         |    CAST(len(list_filter(lines, l -> regexp_matches(l, ';\\s*$$')))
         |      AS BIGINT) AS n_semi,
         |    CAST(${TextAnalysis.CodeKeywords.map(k =>
                 s"CASE WHEN regexp_matches(lower(text), '\\b$k\\b') THEN 1 ELSE 0 END")
                .mkString("(", " + ", ")")} AS BIGINT) AS kw_hits
         |  FROM ls),
         |r AS (
         |  SELECT doc_id, n_sym, n_lines, n_indent, n_semi, kw_hits,
         |    CASE WHEN n_chars > 0
         |      THEN CAST(n_sym AS DOUBLE) / CAST(n_chars AS DOUBLE)
         |      ELSE 0.0 END AS sym_ratio,
         |    CASE WHEN n_lines > 0
         |      THEN CAST(n_indent AS DOUBLE) / CAST(n_lines AS DOUBLE)
         |      ELSE 0.0 END AS indent_frac,
         |    CASE WHEN n_lines > 0
         |      THEN CAST(n_semi AS DOUBLE) / CAST(n_lines AS DOUBLE)
         |      ELSE 0.0 END AS semi_frac
         |  FROM c)
         |SELECT doc_id, n_sym, n_lines, n_indent, n_semi, kw_hits,
         |  round(sym_ratio, 6) AS sym_ratio,
         |  round(indent_frac, 6) AS indent_frac,
         |  round(semi_frac, 6) AS semi_frac,
         |  (sym_ratio > 0.03 OR indent_frac > 0.4 OR
         |    (kw_hits >= 3 AND semi_frac > 0.2)) AS is_code
         |FROM r ORDER BY doc_id""".stripMargin,

    "t_readability" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(len(${sqlToks("text")}) AS BIGINT) AS n_words,
         |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
         |      AS n_sentences,
         |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
         |      AS n_syllables
         |  FROM documents)
         |SELECT doc_id, n_words, n_sentences, n_syllables,
         |  CASE WHEN n_words > 0 THEN
         |    round(206.835
         |      - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
         |      - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 6)
         |  END AS flesch_ease,
         |  CASE WHEN n_words > 0 THEN
         |    round(0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
         |      + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
         |      - 15.59, 6)
         |  END AS fk_grade
         |FROM t ORDER BY doc_id""".stripMargin,

    "t_vocab_coverage" ->
      s"""WITH toks AS (
         |  SELECT unnest(${sqlToks("lower(text)")}) AS tok FROM documents),
         |tc AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM tc),
         |rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r FROM tc),
         |ks AS (SELECT unnest([100, 1000, 10000]) AS k),
         |cov AS (
         |  SELECT k,
         |    CAST(sum(CASE WHEN r <= k THEN 1 ELSE 0 END) AS BIGINT) AS n_types,
         |    CAST(sum(CASE WHEN r <= k THEN c ELSE 0 END) AS BIGINT) AS covered
         |  FROM rk, ks GROUP BY k)
         |SELECT k, n_types, covered, total,
         |  round(CAST(covered AS DOUBLE) / CAST(total AS DOUBLE), 6) AS coverage
         |FROM cov, tot ORDER BY k""".stripMargin,

    // Gopher rule replay: every signal is a count of list_filter hits
    // or a replace()-delta, fractions are single divisions of exact
    // integer-valued doubles; CASE order mirrors the paper's rule order
    "t_gopher_rules" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    len(${sqlToks("text")}) AS n_words,
         |    length(regexp_replace(text, '\\s+', '', 'g')) AS tok_chars,
         |    length(text) - length(regexp_replace(text, '#', '', 'g')) AS n_hash,
         |    (length(text) - length(regexp_replace(text, '\\.\\.\\.', '', 'g'))) / 3 AS n_ell3,
         |    length(text) - length(regexp_replace(text, '…', '', 'g')) AS n_ellu,
         |    len(list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0)) AS n_lines,
         |    len(list_filter(string_split(text, chr(10)), l -> regexp_matches(l, '^\\s*[-*•]'))) AS n_bullet,
         |    len(list_filter(string_split(text, chr(10)), l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$$'))) AS n_ell_lines,
         |    len(list_filter(regexp_split_to_array(text, '\\s+'), w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
         |    ${TextAnalysis.GopherStopwords.map(s =>
              s"CASE WHEN regexp_matches(lower(text), '\\b$s\\b') THEN 1 ELSE 0 END")
             .mkString("(", " + ", ")")} AS n_stop
         |  FROM documents),
         |sig AS (
         |  SELECT doc_id, n_words,
         |    CASE WHEN n_words > 0 THEN CAST(tok_chars AS DOUBLE) / n_words ELSE 0.0 END AS mean_word_len,
         |    CASE WHEN n_words > 0 THEN (CAST(n_hash AS DOUBLE) + n_ell3 + CAST(n_ellu AS DOUBLE)) / n_words ELSE 0.0 END AS symbol_ratio,
         |    CASE WHEN n_lines > 0 THEN CAST(n_bullet AS DOUBLE) / CAST(n_lines AS DOUBLE) ELSE 0.0 END AS bullet_frac,
         |    CASE WHEN n_lines > 0 THEN CAST(n_ell_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) ELSE 0.0 END AS ellipsis_frac,
         |    CASE WHEN n_words > 0 THEN CAST(n_alpha AS DOUBLE) / n_words ELSE 0.0 END AS alpha_frac,
         |    n_stop
         |  FROM t),
         |r AS (
         |  SELECT *, CASE WHEN n_words < 50 THEN 'too_few_words'
         |    WHEN n_words > 100000 THEN 'too_many_words'
         |    WHEN mean_word_len < 3.0 THEN 'word_len_low'
         |    WHEN mean_word_len > 10.0 THEN 'word_len_high'
         |    WHEN symbol_ratio > 0.1 THEN 'symbol_ratio'
         |    WHEN bullet_frac > 0.9 THEN 'bullet_lines'
         |    WHEN ellipsis_frac > 0.3 THEN 'ellipsis_lines'
         |    WHEN alpha_frac < 0.8 THEN 'non_alpha_words'
         |    WHEN n_stop < 2 THEN 'few_stopwords'
         |    ELSE 'ok' END AS reason
         |  FROM sig)
         |SELECT doc_id, CAST(n_words AS INT) AS n_words, mean_word_len,
         |  symbol_ratio, bullet_frac, ellipsis_frac, alpha_frac,
         |  CAST(n_stop AS INT) AS n_stopwords, reason,
         |  CAST(CASE WHEN reason = 'ok' THEN 1 ELSE 0 END AS INT) AS keep
         |FROM r ORDER BY doc_id""".stripMargin,

    "t_fingerprint" ->
      s"""SELECT doc_id, ${sqlHash("text")} AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,

    "t_bpe_pairs" ->
      s"""WITH w AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM (
         |    SELECT unnest(${sqlToks("lower(text)")}) AS tok FROM documents)
         |  GROUP BY tok),
         |chars AS (
         |  SELECT list_filter(regexp_split_to_array(tok, ''), x -> length(x) > 0) AS cs, c
         |  FROM w),
         |pairs AS (
         |  SELECT cs[u.i + 1] AS a, cs[u.i + 2] AS b, c
         |  FROM chars, unnest(range(0, len(cs) - 1)) AS u(i)
         |  WHERE len(cs) >= 2)
         |SELECT a, b, CAST(sum(c) AS BIGINT) AS pair_count
         |FROM pairs GROUP BY a, b
         |ORDER BY pair_count DESC, a, b LIMIT 20""".stripMargin,

    // exact replay of the iterative min-rank BPE encode: each
    // recursion step merges the lowest-rank pair present (CASE arms in
    // rank order = min-rank selection; replace() on the chr(1)-joined
    // symbol string is leftmost-first non-overlapping, the kernel's
    // one-round rewrite). Fixpoint rows (no learned pair left) are the
    // final encodes. Assumes chr(1) never occurs in a word.
    "t_bpe_encode" -> {
      val bestCase = BpeQueryMerges.zipWithIndex.map { case ((a, b), i) =>
        s"WHEN contains(j, '$a' || chr(1) || '$b') THEN $i"
      }.mkString("CASE ", " ", " ELSE -1 END")
      val rewriteCase = BpeQueryMerges.zipWithIndex.map { case ((a, b), i) =>
        s"WHEN $i THEN replace(j, '$a' || chr(1) || '$b', '$a$b')"
      }.mkString("CASE best ", " ", " END")
      s"""WITH RECURSIVE w AS (
         |  SELECT doc_id, CAST(u.i AS INT) AS word_idx, t[u.i + 1] AS word
         |  FROM (SELECT doc_id, ${sqlToks("lower(text)")} AS t FROM documents),
         |       unnest(range(0, len(t))) AS u(i)),
         |enc AS (
         |  SELECT doc_id, word_idx, word,
         |    array_to_string(list_filter(regexp_split_to_array(word, ''), c -> length(c) > 0), chr(1)) AS j
         |  FROM w
         |  UNION ALL
         |  SELECT doc_id, word_idx, word, $rewriteCase AS j
         |  FROM (SELECT *, $bestCase AS best FROM enc) WHERE best >= 0)
         |SELECT doc_id, word_idx, word,
         |  replace(j, chr(1), ' ') AS pieces,
         |  CAST(len(string_split(j, chr(1))) AS INT) AS n_pieces
         |FROM (SELECT *, $bestCase AS best FROM enc) WHERE best < 0
         |ORDER BY doc_id, word_idx""".stripMargin
    },

    // fertility replay: same recursive-CTE encode as t_bpe_encode but
    // over the DISTINCT (lang, word) frequency table, weighted by
    // count — mirroring the operator's vocab-bounded shape exactly
    "t_bpe_fertility" -> {
      val bestCase = BpeQueryMerges.zipWithIndex.map { case ((a, b), i) =>
        s"WHEN contains(j, '$a' || chr(1) || '$b') THEN $i"
      }.mkString("CASE ", " ", " ELSE -1 END")
      val rewriteCase = BpeQueryMerges.zipWithIndex.map { case ((a, b), i) =>
        s"WHEN $i THEN replace(j, '$a' || chr(1) || '$b', '$a$b')"
      }.mkString("CASE best ", " ", " END")
      s"""WITH RECURSIVE wf AS (
         |  SELECT lang, word, CAST(count(*) AS BIGINT) AS n
         |  FROM (SELECT lang, unnest(${sqlToks("lower(text)")}) AS word FROM documents)
         |  GROUP BY lang, word),
         |enc AS (
         |  SELECT lang, word, n,
         |    array_to_string(list_filter(regexp_split_to_array(word, ''), c -> length(c) > 0), chr(1)) AS j
         |  FROM wf
         |  UNION ALL
         |  SELECT lang, word, n, $rewriteCase AS j
         |  FROM (SELECT *, $bestCase AS best FROM enc) WHERE best >= 0),
         |fin AS (
         |  SELECT lang, n, CAST(len(string_split(j, chr(1))) AS BIGINT) AS np
         |  FROM (SELECT *, $bestCase AS best FROM enc) WHERE best < 0)
         |SELECT lang, CAST(sum(n) AS BIGINT) AS n_words,
         |  CAST(sum(n * np) AS BIGINT) AS n_pieces,
         |  round(CAST(sum(n * np) AS DOUBLE) / sum(n), 6) AS fertility
         |FROM fin GROUP BY lang ORDER BY lang""".stripMargin
    },

    "t_vocab_stats" ->
      s"""WITH toks AS (
         |  SELECT source, unnest(${sqlToks("text")}) AS tok FROM documents),
         |tc AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY source, tok),
         |st AS (
         |  SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
         |    CAST(count(*) AS BIGINT) AS n_types,
         |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
         |  FROM tc GROUP BY source),
         |d AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM documents GROUP BY source)
         |SELECT d.source, n_docs,
         |  coalesce(n_tokens, 0) AS n_tokens,
         |  coalesce(n_types, 0) AS n_types,
         |  coalesce(n_hapax, 0) AS n_hapax,
         |  CASE WHEN coalesce(n_tokens, 0) > 0
         |       THEN round(CAST(n_types AS DOUBLE) / n_tokens, 6)
         |       ELSE 0.0 END AS ttr
         |FROM d LEFT JOIN st USING (source)
         |ORDER BY source""".stripMargin,

    "t_unigram_lm" ->
      s"""WITH rt AS (
         |  SELECT unnest(${sqlToks("lower(text)")}) AS tok
         |  FROM documents WHERE doc_id % 2 = 0),
         |v AS (SELECT ${sqlHash("tok")} AS h, count(*) AS cnt FROM rt GROUP BY 1),
         |dt AS (
         |  SELECT doc_id, ${sqlHash("tok")} AS h FROM (
         |    SELECT doc_id, unnest(${sqlToks("lower(text)")}) AS tok FROM documents))
         |SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |  CAST(sum(coalesce(cnt, 0)) AS BIGINT) AS freq_sum,
         |  CAST(min(coalesce(cnt, 0)) AS BIGINT) AS min_freq
         |FROM dt LEFT JOIN v USING (h)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "t_bigram_lm" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_transform(${sqlToks("lower(text)")}, t -> ${sqlHash("t")}) AS hs
         |  FROM documents),
         |rb AS (SELECT hs[u.i] AS h1, hs[u.i + 1] AS h2
         |  FROM toks, unnest(range(1, len(hs))) AS u(i) WHERE doc_id % 2 = 0),
         |bv AS (SELECT h1, h2, count(*) AS bg_cnt FROM rb GROUP BY 1, 2),
         |uv AS (SELECT h2, count(*) AS uni_cnt FROM (
         |  SELECT unnest(hs) AS h2 FROM toks WHERE doc_id % 2 = 0) GROUP BY 1),
         |db AS (SELECT doc_id, hs[u.i] AS h1, hs[u.i + 1] AS h2
         |  FROM toks, unnest(range(1, len(hs))) AS u(i))
         |SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(CASE WHEN bg_cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bg_oov,
         |  CAST(sum(coalesce(bg_cnt, 0)) AS BIGINT) AS bg_freq_sum,
         |  CAST(sum(CASE WHEN bg_cnt IS NULL THEN coalesce(uni_cnt, 0) ELSE 0 END) AS BIGINT)
         |    AS backoff_freq_sum
         |FROM db LEFT JOIN bv USING (h1, h2) LEFT JOIN uv USING (h2)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // tf-idf replay: same postings CTE shape as s_bm25; the score is
    // one product per (doc, term) so round(…, 6) + the term tie-break
    // pins the rank across engines
    "t_tfidf_keywords" ->
      s"""WITH dtoks AS (SELECT doc_id, ${sqlToks("lower(text)")} AS t FROM documents),
         |stats AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dtoks),
         |post AS (
         |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
         |    SELECT doc_id, unnest(t) AS term FROM dtoks)
         |  GROUP BY doc_id, term),
         |dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY term),
         |scored AS (
         |  SELECT doc_id, term, round(tf * ln(CAST(n AS DOUBLE) / df), 6) AS tfidf
         |  FROM post JOIN dfs USING (term), stats),
         |ranked AS (
         |  SELECT doc_id, term, tfidf,
         |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INT) AS rank
         |  FROM scored)
         |SELECT doc_id, rank, term, tfidf FROM ranked WHERE rank <= 3
         |ORDER BY doc_id, rank""".stripMargin,

    // DSIR replay: hashed-bigram bucket model (the d_repeated_spans
    // window-hash twin at n=2, folded mod 4096), add-one-smoothed
    // target/raw log-ratio summed per document. The ln-term sum is the
    // only float and rounds to 6 dp; n_feat anchors the gate exactly
    "t_nb_classifier" ->
      s"""WITH tr AS (
         |  SELECT lang AS cls, doc_id, text FROM documents WHERE doc_id % 2 = 0),
         |trt AS (SELECT cls, ${sqlHash("tok")} AS h FROM (
         |  SELECT cls, unnest(${sqlToks("lower(text)")}) AS tok FROM tr)),
         |model AS (SELECT cls, h, count(*) AS cnt FROM trt GROUP BY 1, 2),
         |cstat AS (SELECT cls, sum(cnt) AS n_tok FROM model GROUP BY 1),
         |prior AS (SELECT cls, count(*) AS n_docs FROM tr GROUP BY 1),
         |vsz AS (SELECT count(DISTINCT h) AS v FROM model),
         |nd AS (SELECT count(*) AS n FROM tr),
         |dt AS (SELECT doc_id, ${sqlHash("tok")} AS h FROM (
         |  SELECT doc_id, unnest(${sqlToks("lower(text)")}) AS tok FROM documents)),
         |dc AS (SELECT doc_id, count(*) AS n_tokens FROM dt GROUP BY 1),
         |hits AS (
         |  SELECT doc_id, cls, sum(ln(cnt + 1.0)) AS hit_sum, count(*) AS n_hits
         |  FROM dt JOIN model USING (h) GROUP BY 1, 2),
         |scored AS (
         |  SELECT dc.doc_id, c.cls,
         |    CAST(dc.n_tokens AS BIGINT) AS n_tokens,
         |    CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |    round(ln(p.n_docs) - ln(nd.n) + coalesce(h.hit_sum, 0)
         |      - dc.n_tokens * ln(c.n_tok + vsz.v), 6) AS score
         |  FROM dc CROSS JOIN cstat c CROSS JOIN vsz CROSS JOIN nd
         |  JOIN prior p ON p.cls = c.cls
         |  LEFT JOIN hits h ON h.doc_id = dc.doc_id AND h.cls = c.cls)
         |SELECT doc_id, cls AS pred_label, score, n_tokens, n_hits
         |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
         |        ORDER BY score DESC, cls) AS rk FROM scored)
         |WHERE rk = 1 ORDER BY doc_id""".stripMargin,

    "t_dsir_weights" ->
      s"""WITH toks AS (
         |  SELECT doc_id, lang = 'en' AS is_target, ${sqlToks("lower(text)")} AS t
         |  FROM documents),
         |feats AS (
         |  SELECT doc_id, is_target,
         |    ${sqlHash60("array_to_string(t[u.i+1 : u.i+2], ' ')")} % 4096 AS bucket
         |  FROM toks, unnest(range(0, len(t) - 1)) AS u(i)
         |  WHERE len(t) >= 2),
         |model AS (
         |  SELECT bucket,
         |    CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS tc,
         |    CAST(count(*) AS BIGINT) AS rc
         |  FROM feats GROUP BY bucket),
         |tot AS (SELECT CAST(sum(tc) AS BIGINT) AS t_tot,
         |               CAST(sum(rc) AS BIGINT) AS r_tot FROM model)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feat,
         |  round(sum(ln((tc + 1.0) / (t_tot + 4096.0)) - ln((rc + 1.0) / (r_tot + 4096.0))), 6)
         |    AS log_weight
         |FROM feats JOIN model USING (bucket), tot
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "t_quality_buckets" ->
      s"""WITH rt AS (
         |  SELECT unnest(${sqlToks("lower(text)")}) AS tok
         |  FROM documents WHERE doc_id % 2 = 0),
         |v AS (SELECT ${sqlHash("tok")} AS h, count(*) AS cnt FROM rt GROUP BY 1),
         |dt AS (
         |  SELECT doc_id, ${sqlHash("tok")} AS h FROM (
         |    SELECT doc_id, unnest(${sqlToks("lower(text)")}) AS tok FROM documents)),
         |stats AS (
         |  SELECT doc_id, count(*) AS n_tokens,
         |    sum(CASE WHEN cnt IS NULL THEN 1 ELSE 0 END) AS n_oov
         |  FROM dt LEFT JOIN v USING (h) GROUP BY doc_id),
         |scored AS (SELECT doc_id, (n_oov * 1000000) // n_tokens AS score FROM stats),
         |dist AS (SELECT score, count(*) AS cnt FROM scored GROUP BY 1),
         |cumt AS (SELECT score, sum(cnt) OVER (ORDER BY score) AS cum FROM dist),
         |th AS (SELECT
         |    min(CASE WHEN cum * 3 >= n THEN score END) AS t1,
         |    min(CASE WHEN cum * 3 >= 2 * n THEN score END) AS t2
         |  FROM cumt, (SELECT count(*) AS n FROM scored))
         |SELECT doc_id, CAST(score AS BIGINT) AS score,
         |  CASE WHEN score <= t1 THEN 'head'
         |       WHEN score <= t2 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM scored, th ORDER BY doc_id""".stripMargin,

    "x_sql_surface" ->
      s"""SELECT doc_id, ${sqlHash("text")} AS fp,
         |  CAST(len(${sqlToks("text")}) AS INT) AS n_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,

    // the same correlated text DuckDB runs natively (its own
    // decorrelation); avg over exact cents makes the > cut the same
    // double in both engines
    "q_correlated_subquery" ->
      """SELECT o_custkey, count(*) AS n_above,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
        |    AS above_cents
        |FROM orders o1
        |WHERE CAST(round(o_totalprice * 100) AS BIGINT) > (
        |  SELECT avg(CAST(round(o2.o_totalprice * 100) AS BIGINT))
        |  FROM orders o2 WHERE o2.o_custkey = o1.o_custkey)
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "m_frame_sample" ->
      """SELECT doc_id AS media_id, CAST(u.i AS INT) AS frame_idx,
        |  CAST(octet_length(encode(text)) * (u.i + 1) // 4
        |     - octet_length(encode(text)) * u.i // 4 AS INT) AS frame_len
        |FROM documents, unnest(range(0, 4)) AS u(i)
        |WHERE octet_length(encode(text)) > 0
        |ORDER BY media_id, frame_idx""".stripMargin,

    "m_resize_meta" ->
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(encode(text)) AS INT) AS byte_length,
        |  CAST(224 AS INT) AS target_width, CAST(224 AS INT) AS target_height
        |FROM documents ORDER BY media_id""".stripMargin,

    "m_audio_segments" ->
      // the corpus is pure ASCII (verified ≤ U+0079 at every SF), so
      // window energy over bytes == sum of unicode(char) over the same
      // char window — no hex round-trip needed
      """WITH b AS (
        |  SELECT doc_id AS media_id, text, octet_length(encode(text)) AS blen
        |  FROM documents),
        |seg AS (
        |  SELECT media_id, CAST(u.i AS INT) AS seg_idx,
        |    CAST(u.i * 64 AS INT) AS start_byte,
        |    CAST(least((u.i + 1) * 64, blen) AS INT) AS end_byte,
        |    list_reduce(list_concat([CAST(0 AS BIGINT)],
        |      list_transform(
        |        list_filter(regexp_split_to_array(substr(text, CAST(u.i * 64 + 1 AS INT), 64), ''),
        |                    c -> length(c) > 0),
        |        c -> CAST(unicode(c) AS BIGINT))), (x, y) -> x + y) AS energy
        |  FROM b, unnest(range(0, CAST(ceil(blen / 64.0) AS BIGINT))) AS u(i)
        |  WHERE blen > 0)
        |SELECT media_id, seg_idx, start_byte, end_byte, energy,
        |  CAST(CASE WHEN energy >= 100 * (end_byte - start_byte) THEN 1 ELSE 0 END AS INT) AS voiced
        |FROM seg ORDER BY media_id, seg_idx""".stripMargin,

    "m_image_features" ->
      // high nibble of byte i = hex digit at (0-based) position 2i of
      // the hex-encoded blob; histogram over 16 nibble values,
      // L2-normalized exactly like decodeStub (double div, float cast)
      s"""WITH b AS (
         |  SELECT doc_id AS media_id, hex(encode(text)) AS h,
         |         octet_length(encode(text)) AS blen, text
         |  FROM documents),
         |cnt AS (
         |  SELECT media_id, blen, text,
         |    list_transform(range(0, 16), v -> CAST(len(list_filter(range(0, blen),
         |      i -> substr(h, CAST(2*i+1 AS INT), 1)
         |           = substr('0123456789ABCDEF', CAST(v+1 AS INT), 1))) AS DOUBLE)) AS cnts
         |  FROM b),
         |normed AS (
         |  SELECT media_id, blen, text, cnts,
         |    sqrt(list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
         |      list_transform(cnts, c -> c * c)), (x, y) -> x + y)) AS nrm
         |  FROM cnt)
         |SELECT media_id, CAST(blen AS INT) AS byte_length,
         |  CASE WHEN text LIKE 'GIF%' THEN 'image/gif'
         |       WHEN text LIKE 'RIFF%' THEN 'audio/wav'
         |       WHEN starts_with(text, '%PDF') THEN 'application/pdf'
         |       ELSE 'application/octet-stream' END AS sniffed_type,
         |  CAST(r.range - 1 AS INT) AS dim,
         |  CAST(CAST(CASE WHEN nrm > 0
         |        THEN cnts[CAST(r.range AS INT)] / nrm ELSE 0.0 END AS FLOAT) AS DOUBLE) AS val
         |FROM normed CROSS JOIN range(1, 17) r
         |ORDER BY media_id, dim""".stripMargin,

    "m_binary_dedup" ->
      s"""WITH corpus AS ($corpusWithDupsSql),
         |m AS (
         |  SELECT doc_id AS media_id, sha256(text) AS digest,
         |    CAST(octet_length(encode(text)) AS INT) AS byte_length
         |  FROM corpus),
         |w AS (
         |  SELECT media_id, digest, byte_length,
         |    CAST(count(*) OVER (PARTITION BY digest) AS BIGINT) AS group_size,
         |    min(media_id) OVER (PARTITION BY digest) AS keeper_id
         |  FROM m)
         |SELECT media_id, digest, byte_length, group_size, keeper_id
         |FROM w WHERE group_size > 1 ORDER BY media_id""".stripMargin,

    // avgHash64 replay: per-byte values (ASCII corpus: unicode(char)
    // == byte), block index (p·64)//n, bit = exact cross-multiply
    // blockSum·n > total·blockLen; bits assemble in HUGEINT (1<<63
    // is UB territory in int64) and convert to the signed long via
    // an explicit two's-complement fold
    "m_phash_dedup" ->
      s"""WITH corpus AS ($corpusWithDupsSql),
         |b AS (
         |  SELECT doc_id AS media_id, text,
         |    CAST(octet_length(encode(text)) AS BIGINT) AS n
         |  FROM corpus),
         |ch AS (
         |  SELECT media_id, n, u.p AS p,
         |    CAST(unicode(substr(text, CAST(u.p + 1 AS INT), 1)) AS BIGINT) AS v
         |  FROM b, unnest(range(0, n)) AS u(p)
         |  WHERE n > 0),
         |blk AS (
         |  SELECT media_id, n, (p * 64) // n AS blk,
         |    CAST(sum(v) AS BIGINT) AS bs, count(*) AS cnt
         |  FROM ch GROUP BY 1, 2, 3),
         |tot AS (
         |  SELECT media_id, CAST(sum(bs) AS BIGINT) AS total
         |  FROM blk GROUP BY 1),
         |ph0 AS (
         |  SELECT k.media_id,
         |    sum(CASE WHEN k.bs * k.n > t.total * k.cnt
         |      THEN CAST(1 AS HUGEINT) << CAST(k.blk AS INT)
         |      ELSE CAST(0 AS HUGEINT) END) AS s
         |  FROM blk k JOIN tot t USING (media_id) GROUP BY 1),
         |ph AS (
         |  SELECT media_id,
         |    CAST(CASE WHEN s >= 9223372036854775808 THEN
         |      s - 18446744073709551616 ELSE s END AS BIGINT) AS phash
         |  FROM ph0
         |  UNION ALL
         |  SELECT media_id, CAST(0 AS BIGINT) FROM b WHERE n = 0),
         |g AS (
         |  SELECT p.media_id, p.phash, CAST(b2.n AS INT) AS byte_length,
         |    CAST(count(*) OVER (PARTITION BY p.phash) AS BIGINT) AS group_size,
         |    min(p.media_id) OVER (PARTITION BY p.phash) AS keeper_id
         |  FROM ph p JOIN b b2 ON b2.media_id = p.media_id)
         |SELECT media_id, phash, byte_length, group_size, keeper_id
         |FROM g WHERE group_size > 1 ORDER BY media_id""".stripMargin,

    // alignment replay: same induced junk captions, same feature-hash
    // histograms (vectorRecordsCte embedding shape) on both sides,
    // dot of L2-normalized 16-dim vectors
    "m_alignment" -> {
      def cnts(src: String) =
        s"""list_transform(range(0, 16), i -> len(list_filter(
           |      list_transform(${sqlToks(src)}, tk -> ${sqlHash("tk")} % 16),
           |      b -> b = i)))""".stripMargin
      def nrm(c: String) =
        s"""sqrt(list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
           |      list_transform($c, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
           |      (x, y) -> x + y))""".stripMargin
      def unit(c: String, n: String) =
        s"""list_transform($c, x -> CAST(CASE WHEN $n > 0
           |      THEN CAST(x AS DOUBLE) / $n ELSE 0.0 END AS FLOAT))""".stripMargin
      s"""WITH pairs AS (
         |  SELECT doc_id AS media_id,
         |    CASE WHEN doc_id % 7 = 0 THEN
         |      'stock photo watermark banner ' || CAST(doc_id AS VARCHAR)
         |    ELSE array_to_string((${sqlToks("text")})[1:8], ' ') END AS alt_text,
         |    text
         |  FROM documents),
         |b1 AS (
         |  SELECT media_id, ${cnts("alt_text")} AS ca, ${cnts("text")} AS cb
         |  FROM pairs),
         |n1 AS (
         |  SELECT media_id, ca, cb, ${nrm("ca")} AS na, ${nrm("cb")} AS nb
         |  FROM b1),
         |e1 AS (
         |  SELECT media_id, ${unit("ca", "na")} AS ea, ${unit("cb", "nb")} AS eb
         |  FROM n1)
         |SELECT media_id,
         |  round(${sqlCos("ea", "eb", 16)}, 6) AS score,
         |  round(${sqlCos("ea", "eb", 16)}, 6) >= 0.5 AS keep
         |FROM e1 ORDER BY media_id""".stripMargin
    },

    "m_multimodal_meta" ->
      // ASCII-expressible magic prefixes must be sniffed here too (the
      // Spark side sniffs magic bytes; a text starting with GIF/RIFF/
      // %PDF would otherwise diverge)
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(encode(text)) AS INT) AS byte_length,
        |  CASE WHEN text LIKE 'GIF%' THEN 'image/gif'
        |       WHEN text LIKE 'RIFF%' THEN 'audio/wav'
        |       WHEN starts_with(text, '%PDF') THEN 'application/pdf'
        |       ELSE 'application/octet-stream' END AS sniffed_type
        |FROM documents ORDER BY media_id""".stripMargin,

    "g_pagerank" -> pageRankSql,
    "g_communities" -> lpaSql,
    "g_modularity" -> modularitySql,
    "g_hits" -> hitsSql,

    // recursive-CTE BFS replay over the same 3-regular construction;
    // UNION dedups (node, hop) states, min(hop) collapses to the true
    // BFS distance, hop bound matches maxHops = 6
    "g_shortest_path" ->
      """WITH RECURSIVE nodes AS (
        |  SELECT CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS node
        |  FROM documents),
        |nn AS (SELECT count(*) AS ni FROM nodes),
        |edges AS (
        |  SELECT node AS src,
        |    (node * 31 + k * 7919) % (SELECT ni FROM nn) AS dst
        |  FROM nodes, unnest([1, 2, 3]) AS t(k)),
        |bfs(node, hop) AS (
        |  SELECT node, 0 FROM nodes WHERE node % 97 = 0
        |  UNION
        |  SELECT e.dst, b.hop + 1
        |  FROM bfs b JOIN edges e ON e.src = b.node WHERE b.hop < 6)
        |SELECT node, CAST(min(hop) AS INT) AS hop
        |FROM bfs GROUP BY node ORDER BY node""".stripMargin,

    // k-core replay: 8 unrolled peel rounds (degree → alive ≥ k →
    // edge restriction), identical final degree filter
    "g_kcore" -> {
      val rounds = (1 to 8).map { i =>
        // MATERIALIZED: each e_i is referenced three times (twice in
        // d_{i+1}, once in e_{i+1}) — without it DuckDB inlines the
        // chain 3^8-fold (the hits-oracle CTE lesson)
        s"""d$i AS (SELECT node, count(*) AS d FROM (
           |  SELECT a AS node FROM e${i - 1}
           |  UNION ALL SELECT b FROM e${i - 1}) GROUP BY node),
           |a$i AS (SELECT node FROM d$i WHERE d >= 6),
           |e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e
           |  JOIN a$i x ON x.node = e.a JOIN a$i y ON y.node = e.b)""".stripMargin
      }.mkString(",\n")
      s"""WITH nodes AS (
         |  SELECT CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS node
         |  FROM documents),
         |nn AS (SELECT count(*) AS ni FROM nodes),
         |raw AS (
         |  SELECT node AS src, (node + j) % 50 AS dst
         |  FROM nodes, unnest([1, 2, 3, 4]) AS t(j) WHERE node < 50
         |  UNION ALL
         |  SELECT node, node % 50 FROM nodes WHERE node >= 50),
         |e0 AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM raw WHERE src <> dst),
         |$rounds
         |SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
         |  SELECT a AS node FROM e8 UNION ALL SELECT b FROM e8)
         |GROUP BY node HAVING count(*) >= 6 ORDER BY node""".stripMargin
    },

    // independent triangle replay: undirected simple edges with a<b,
    // triangles as ordered a<b<c triples (each found once), per-node
    // credit via UNION ALL of the three corners
    "g_triangles" ->
      """WITH nodes AS (
        |  SELECT CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS node
        |  FROM documents),
        |nn AS (SELECT count(*) AS ni FROM nodes),
        |raw AS (
        |  SELECT node AS src,
        |    (node * 31 + k * 7919) % (SELECT ni FROM nn) AS dst
        |  FROM nodes, unnest([1, 2, 3]) AS t(k)),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM raw WHERE src <> dst),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM und e1
        |  JOIN und e2 ON e2.a = e1.b
        |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
        |corners AS (
        |  SELECT x AS node FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri),
        |cnt AS (SELECT node, count(*) AS n_tri FROM corners GROUP BY node),
        |gn AS (SELECT a AS node FROM und UNION SELECT b FROM und)
        |SELECT gn.node, CAST(coalesce(cnt.n_tri, 0) AS BIGINT) AS n_tri
        |FROM gn LEFT JOIN cnt USING (node)
        |ORDER BY node""".stripMargin,

    // CDC replay: window hashes → cut set → running-sum chunk ids →
    // string_agg chunk text → hash60 ownership by (doc_id, chunk_idx)
    "d_dedup_cdc_chunks" ->
      s"""WITH corpus AS ($corpusWithDupsSql),
         |toks AS (SELECT doc_id, ${sqlToks("text")} AS t FROM corpus),
         |w AS (
         |  SELECT doc_id, CAST(u.i AS INT) AS pos,
         |    ${sqlHash60("array_to_string(t[u.i+1 : u.i+4], ' ')")} AS h
         |  FROM toks, unnest(range(0, len(t) - 3)) AS u(i)
         |  WHERE len(t) >= 4),
         |cuts AS (SELECT doc_id, pos FROM w WHERE pos >= 1 AND h % 64 = 0),
         |p AS (
         |  SELECT doc_id, CAST(u.i AS INT) AS i, t[u.i + 1] AS tok
         |  FROM toks, unnest(range(0, len(t))) AS u(i)),
         |pc AS (
         |  SELECT p.doc_id, p.i, p.tok,
         |    sum(CASE WHEN c.pos IS NULL THEN 0 ELSE 1 END)
         |      OVER (PARTITION BY p.doc_id ORDER BY p.i) AS chunk_idx
         |  FROM p LEFT JOIN cuts c ON c.doc_id = p.doc_id AND c.pos = p.i),
         |ch AS (
         |  SELECT doc_id, chunk_idx, count(*) AS len,
         |    ${sqlHash60("string_agg(tok, ' ' ORDER BY i)")} AS h60
         |  FROM pc GROUP BY doc_id, chunk_idx),
         |own AS (
         |  SELECT doc_id, chunk_idx, len,
         |    (first_value(doc_id) OVER wo <> doc_id OR
         |     first_value(chunk_idx) OVER wo <> chunk_idx) AS dup
         |  FROM ch WINDOW wo AS (PARTITION BY h60 ORDER BY doc_id, chunk_idx
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
         |SELECT doc_id, count(*) AS n_chunks,
         |  CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |  CAST(sum(CASE WHEN dup THEN len ELSE 0 END) AS BIGINT) AS dup_tokens
         |FROM own GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // layout replay: identical unrolled Morton interleave + fixed
    // Z-range / orderkey-range file ids, same bbox-intersection rule
    "d_zorder" -> {
      val morton = (0 until 8).map(i =>
        s"((((p8 >> $i) & 1) << ${2 * i}) + (((s8 >> $i) & 1) << ${2 * i + 1}))")
        .mkString(" + ")
      s"""WITH li AS (
         |  SELECT l_orderkey, l_partkey AS p, l_suppkey AS sk FROM lineitem),
         |mx AS (SELECT max(p) AS mp, max(sk) AS ms, max(l_orderkey) AS mo FROM li),
         |n8 AS (
         |  SELECT p, sk, l_orderkey * 256 // (mo + 1) AS f_nat,
         |    p * 256 // (mp + 1) AS p8, sk * 256 // (ms + 1) AS s8
         |  FROM li, mx),
         |tagged AS (
         |  SELECT p, sk, f_nat, ($morton) >> 8 AS f_z
         |  FROM n8),
         |pf AS (
         |  SELECT 'natural' AS layout, f_nat AS f, count(*) AS rows,
         |    min(p) AS p0, max(p) AS p1, min(sk) AS s0, max(sk) AS s1
         |  FROM tagged GROUP BY 1, 2
         |  UNION ALL
         |  SELECT 'zorder', f_z, count(*), min(p), max(p), min(sk), max(sk)
         |  FROM tagged GROUP BY 1, 2),
         |h AS (
         |  SELECT layout, f, rows, p1 - p0 AS psp, s1 - s0 AS ssp,
         |    CASE WHEN p0 <= 200 AND p1 >= 100 AND s0 <= 20 AND s1 >= 10
         |      THEN 1 ELSE 0 END AS hit
         |  FROM pf)
         |SELECT layout, count(*) AS n_files,
         |  CAST(sum(hit) AS BIGINT) AS files_hit,
         |  CAST(sum(hit * rows) AS BIGINT) AS rows_scanned,
         |  round(avg(CAST(psp AS DOUBLE)), 6) AS avg_part_span,
         |  round(avg(CAST(ssp AS DOUBLE)), 6) AS avg_supp_span
         |FROM h GROUP BY layout ORDER BY layout""".stripMargin
    },

    // dominance replay: per-(rev, n) NOT EXISTS strict dominance over
    // the supplier aggregate, joined back to supplier rows
    "q_skyline" ->
      """WITH per AS (
        |  SELECT l_suppkey, CAST(sum(CAST(round(l_extendedprice * 100)
        |      AS BIGINT)) AS BIGINT) AS rev,
        |    count(*) AS n_items
        |  FROM lineitem GROUP BY 1),
        |pts AS (SELECT DISTINCT rev, n_items FROM per),
        |sky AS (
        |  SELECT rev, n_items FROM pts p
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM pts q
        |    WHERE q.rev >= p.rev AND q.n_items <= p.n_items
        |      AND (q.rev > p.rev OR q.n_items < p.n_items)))
        |SELECT l_suppkey, rev, n_items
        |FROM per JOIN sky USING (rev, n_items)
        |ORDER BY l_suppkey""".stripMargin,

    "t_source_audit" ->
      s"""WITH k AS (
         |  SELECT source, len(${sqlToks("text")}) AS n_tok, ${sqlHash("text")} AS h,
         |    CASE WHEN ${sqlKeep("text")} THEN 1 ELSE 0 END AS keep
         |  FROM documents)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(count(DISTINCT h) AS BIGINT) AS n_distinct,
         |  CAST(count(*) - count(DISTINCT h) AS BIGINT) AS n_exact_dups,
         |  round(avg(CAST(keep AS DOUBLE)), 6) AS keep_rate
         |FROM k GROUP BY source ORDER BY source""".stripMargin,

    "d_shard_manifest" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(len(${sqlToks("text")}) AS BIGINT) AS n_tok,
         |    CAST(${sqlHash("CAST(doc_id AS VARCHAR)")} % 8 AS INT) AS shard,
         |    ${sqlHash60("text")} AS h
         |  FROM documents)
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
         |  bit_xor(h) AS digest
         |FROM t GROUP BY shard ORDER BY shard""".stripMargin,

    "d_token_budget" ->
      s"""WITH ps AS (
         |  SELECT source, CAST(sum(len(${sqlToks("text")})) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |w AS (SELECT source, n_tokens,
         |  pow(CAST(n_tokens AS DOUBLE), 0.5) AS raw_w FROM ps),
         |t AS (SELECT sum(raw_w) AS w_total FROM w)
         |SELECT source, n_tokens, round(raw_w / w_total, 6) AS weight,
         |  round(CAST(1000000 AS DOUBLE) * (raw_w / w_total), 3) AS alloc_tokens,
         |  round(CAST(1000000 AS DOUBLE) * (raw_w / w_total)
         |    / CAST(n_tokens AS DOUBLE), 6) AS epochs
         |FROM w, t ORDER BY source""".stripMargin,

    // curation funnel: flags in one pass; keeper/dirty sets computed on
    // quality survivors only (as the operator does); the funnel is 5
    // conditional aggregates over the same flag table
    "d_curate_e2e" ->
      s"""WITH corpus AS ($corpusWithDupsSql),
         |flags AS (
         |  SELECT doc_id, text, len(${sqlToks("text")}) AS n_tok,
         |    ${sqlLangPred("text")} = 'en' AS pass_lang,
         |    (${sqlLangPred("text")} = 'en' AND ${sqlKeep("text")}) AS pass_q
         |  FROM corpus),
         |keepers AS (
         |  SELECT min(doc_id) AS doc_id FROM flags WHERE pass_q GROUP BY text),
         |qtoks AS (SELECT doc_id, ${sqlToks("text")} AS t FROM flags WHERE pass_q),
         |qsh AS (
         |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 8 THEN [${sqlHash60("array_to_string(t, ' ')")}]
         |    ELSE list_transform(range(0, len(t) - 7),
         |         i -> ${sqlHash60("array_to_string(t[i+1:i+8], ' ')")}) END) AS hashes
         |  FROM qtoks),
         |bt AS (SELECT ${sqlToks("text")} AS t FROM documents WHERE doc_id % 25 = 0),
         |bsh AS (
         |  SELECT DISTINCT unnest(CASE WHEN len(t) < 8 THEN [${sqlHash60("array_to_string(t, ' ')")}]
         |    ELSE list_transform(range(0, len(t) - 7),
         |         i -> ${sqlHash60("array_to_string(t[i+1:i+8], ' ')")}) END) AS shingle
         |  FROM bt),
         |dirty AS (
         |  SELECT DISTINCT doc_id
         |  FROM (SELECT doc_id, unnest(hashes) AS shingle FROM qsh) ex
         |  JOIN bsh USING (shingle)),
         |st AS (
         |  SELECT f.doc_id, f.n_tok, f.pass_lang, f.pass_q,
         |    (f.pass_q AND kp.doc_id IS NOT NULL) AS pass_dedup,
         |    (f.pass_q AND kp.doc_id IS NOT NULL AND dt.doc_id IS NULL) AS pass_clean
         |  FROM flags f
         |  LEFT JOIN keepers kp ON f.doc_id = kp.doc_id
         |  LEFT JOIN dirty dt ON f.doc_id = dt.doc_id)
         |SELECT stage, docs, tokens FROM (
         |  SELECT '0_input' AS stage, CAST(count(*) AS BIGINT) AS docs,
         |    CAST(sum(n_tok) AS BIGINT) AS tokens FROM st
         |  UNION ALL SELECT '1_lang', CAST(sum(CASE WHEN pass_lang THEN 1 ELSE 0 END) AS BIGINT),
         |    CAST(sum(CASE WHEN pass_lang THEN n_tok ELSE 0 END) AS BIGINT) FROM st
         |  UNION ALL SELECT '2_quality', CAST(sum(CASE WHEN pass_q THEN 1 ELSE 0 END) AS BIGINT),
         |    CAST(sum(CASE WHEN pass_q THEN n_tok ELSE 0 END) AS BIGINT) FROM st
         |  UNION ALL SELECT '3_exact_dedup', CAST(sum(CASE WHEN pass_dedup THEN 1 ELSE 0 END) AS BIGINT),
         |    CAST(sum(CASE WHEN pass_dedup THEN n_tok ELSE 0 END) AS BIGINT) FROM st
         |  UNION ALL SELECT '4_decontaminate', CAST(sum(CASE WHEN pass_clean THEN 1 ELSE 0 END) AS BIGINT),
         |    CAST(sum(CASE WHEN pass_clean THEN n_tok ELSE 0 END) AS BIGINT) FROM st)
         |ORDER BY stage""".stripMargin
  )
}
