package graft
package queries

import graft.operators.TextAnalysis

/** SQL-text builders shared by the oracles of several query families:
  * DuckDB twins of graft's kernels (tokens, hashes, cosine, LSH buckets)
  * and the CTE chains more than one oracle replays. */
private[queries] object SqlText {

  // NOTE: CAST(1.01 AS DOUBLE) is load-bearing — a bare 1.01 literal
  // is DECIMAL(3,2) in DuckDB, and the decimal×float path rounds
  // ~0.07% of coordinates to a different float than Spark's
  // double-math `x * lit(1.01)`; at sf1 scale those last-ulp copy
  // divergences flipped micro-cosine ties in s_mutual_knn (r8).
  val vecsWithDupsSql =
    """SELECT vec_id, embedding FROM embeddings
      |UNION ALL SELECT vec_id + 100000000,
      |  list_transform(embedding, x -> CAST(x * CAST(1.01 AS DOUBLE) AS FLOAT))
      |FROM embeddings WHERE vec_id % 10 = 0""".stripMargin

  val corpusWithDupsSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL SELECT doc_id + 100000000, text FROM documents WHERE doc_id % 10 = 0
      |UNION ALL SELECT doc_id + 200000000, text || ' graftdup' FROM documents WHERE doc_id % 10 = 0""".stripMargin

  /** SQL twin of [[Inputs.cdcChangelog]]: CTEs `base` (the documents)
    * and `ch` (the changelog over it), for a WITH chain. */
  val cdcChangelogCtes: String =
    """base AS (SELECT doc_id, text FROM documents),
      |ch AS (
      |  SELECT doc_id, doc_id * 10 AS seq, 'U' AS op,
      |    text || ' v1' AS text FROM base WHERE doc_id % 7 = 0
      |  UNION ALL SELECT doc_id, doc_id * 10 + 1, 'U', text || ' v2'
      |    FROM base WHERE doc_id % 7 = 0
      |  UNION ALL SELECT doc_id, doc_id * 10 + 2, 'D', ''
      |    FROM base WHERE doc_id % 11 = 0
      |  UNION ALL SELECT doc_id + 500000000, doc_id * 10 + 3, 'I',
      |    'inserted ' || CAST(doc_id AS VARCHAR)
      |    FROM base WHERE doc_id % 13 = 0)""".stripMargin

  /** Gap sessionization (a new session after 1800 s of silence) of
    * the events — one answer for q_sessionize and its streaming twin
    * x_stream_sessionize. */
  val sessionizeSql: String =
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
      |ORDER BY user_id, session_id""".stripMargin

  /** DuckDB twin of TextFunctions.tokens. */
  def sqlToks(textExpr: String): String =
    s"list_filter(regexp_split_to_array($textExpr, '\\s+'), x -> length(x) > 0)"

  /** The minhash derivation chain (toks → shingle hashes → signatures
    * → banded keys) over CTE `source` with name prefix `p` — shared by
    * the self-join dedup oracles and the persisted-index probe oracle,
    * which runs the chain over two corpora. */
  def minhashBandedCtes(p: String, source: String): String = {
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

  /** DuckDB twin of native.hyperplaneBucket(vec, nPlanes) on a 64-dim
    * embedding column: the ±1 plane weights are deterministic constants
    * (same integer mix as the kernel), inlined so the SQL fold adds the
    * same doubles in the same order.
    */
  def sqlBucket(embExpr: String, nPlanes: Int, seed: Int = 0, dim: Int = 64): String = {
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

  /** Left fold (x, y) -> x + y from 0.0 of `expr` over i = 1..dim —
    * the summation order of graft's vector kernels. */
  def rangeSum(expr: String, dim: Int = 64): String =
    s"list_reduce(list_concat([CAST(0.0 AS DOUBLE)], list_transform(range(1, ${dim + 1}), i -> $expr)), (x, y) -> x + y)"

  /** DuckDB twin of native.cosine between two dim-length float arrays
    * (sequential folds, denom = sqrt(na)*sqrt(nb), 0 on zero denom).
    */
  def sqlCos(a: String, b: String, dim: Int = 64): String = {
    val dot = rangeSum(s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)", dim)
    val na = s"sqrt(${rangeSum(s"CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE)", dim)})"
    val nb = s"sqrt(${rangeSum(s"CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)", dim)})"
    s"(CASE WHEN $na * $nb = 0 THEN 0.0 ELSE $dot / ($na * $nb) END)"
  }

  /** Shared DuckDB CTE chain producing `vr(key, embedding, content,
    * context, documentid)` — the vector-store record set (chunks
    * replicated from the i_chunk_token oracle; embedding = feature-hash
    * histogram, dim 16, L2-normalized, float-exact: integer counts,
    * double norm, round-to-nearest float cast).
    */
  lazy val vectorRecordsCte: String = vectorRecordsCtes("documents")

  /** The vector-record derivation chain over `source` — shared by the
    * batch store oracles and the streaming-upsert parity oracle, which
    * runs it over a revised corpus. */
  def vectorRecordsCtes(source: String): String = {
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

  /** DuckDB twin of TextFunctions.portableHash (polynomial char hash). */
  def sqlHash(strExpr: String): String = polyHash(strExpr, 31, 1000000007)

  /** Polynomial char hash of `strExpr`: fold of code points,
    * acc * base + c mod m, from 0. */
  private def polyHash(strExpr: String, base: Int, m: Int): String =
    s"list_reduce(list_concat([CAST(0 AS BIGINT)], list_transform(list_filter(regexp_split_to_array($strExpr, ''), c -> length(c) > 0), c -> CAST(unicode(c) AS BIGINT))), (acc, c) -> (acc * $base + c) % $m)"

  /** DuckDB twin of native.polyHash2 (second family: base 131 mod
    * 998244353); h31 * 998244353 + h131 is the span/window 60-bit
    * combiner (sqlHash60).
    */
  def sqlHash2(strExpr: String): String = polyHash(strExpr, 131, 998244353)

  /** DuckDB twin of native.polyHash3 (third family: base 257 mod
    * 1000000009). The low 20 bits of families 1|2|3 concatenated are
    * native.tokenHash60, the simhash token hash (per-bit-uniform,
    * unlike the product combiner — see NativeExpressions.tokenHash60).
    */
  def sqlHash3(strExpr: String): String = polyHash(strExpr, 257, 1000000009)

  /** DuckDB twin of the wide (~60-bit) window hash used by the span /
    * decontamination family: h31 * P2 + h131 < 2^60, no 64-bit
    * wrapping arithmetic needed.
    */
  def sqlHash60(strExpr: String): String =
    s"(${sqlHash(strExpr)} * 998244353 + ${sqlHash2(strExpr)})"

  /** DuckDB twin of TextAnalysis.corpusFilterKeep(text) — the same
    * derived signals and inclusive-threshold compare as the
    * t_corpus_filter oracle's reason = 'ok' arm, as one boolean.
    */
  def sqlKeep(t: String): String = {
    val nTok = s"len(${sqlToks(t)})"
    val meanTokLen =
      s"(CASE WHEN $nTok > 0 THEN CAST(length(regexp_replace($t, '\\s+', '', 'g')) AS DOUBLE) / $nTok ELSE 0.0 END)"
    val symbolRatio =
      s"(CASE WHEN length($t) > 0 THEN CAST(length(regexp_replace($t, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length($t) ELSE 0.0 END)"
    s"($nTok >= 25 AND $nTok <= 50000 AND $meanTokLen >= 2.0 AND $meanTokLen <= 12.0 AND $symbolRatio <= 0.3)"
  }

  /** Number of tokens of lower(`t`) found in `words`. */
  def wordHits(t: String, words: Seq[String]): String =
    s"len(list_filter(${sqlToks(s"lower($t)")}, x -> list_contains([${words.map(w => s"'$w'").mkString(",")}], x)))"

  /** Stopword hits of lower(`t`) for de, en, es and fr — langId's
    * tie order. */
  def langHits(t: String): Seq[String] =
    Seq("de", "en", "es", "fr").map(l => wordHits(t, TextAnalysis.Stopwords(l)))

  /** DuckDB twin of TextAnalysis.langId(text) (stopword-hit argmax
    * with the operator's de>en>es>fr tie order), parameterized on the
    * text expression so it composes into any CTE (langPredCte is the
    * documents-table instance).
    */
  def sqlLangPred(t: String): String = {
    val Seq(de, en, es, fr) = langHits(t)
    s"""(CASE WHEN $de = 0 AND $en = 0 AND $es = 0 AND $fr = 0 THEN 'und'
       |      WHEN $de >= $en AND $de >= $es AND $de >= $fr THEN 'de'
       |      WHEN $en >= $es AND $en >= $fr THEN 'en'
       |      WHEN $es >= $fr THEN 'es'
       |      ELSE 'fr' END)""".stripMargin
  }

  /** ring/bridge CTE pair for the planted-block graph — the SQL twin
    * of [[plantedBlockEdges]], emitted from one builder for the same
    * no-desync reason. `src`/`idc` name the id CTE and column; `wrap`
    * is the SQL expression for n in the contiguous form. */
  def plantedBlockSql(src: String, idc: String, wrap: Option[String]): String = {
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
  def lpaUnroll(rounds: Int): String =
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

  /** Positive and negative word hits (p, n) of a `content` column —
    * the sentiment enricher's default vocabularies. */
  lazy val sentimentHits: String =
    s"""${wordHits("content", graft.operators.Processors.PositiveWords)} AS p,
       |    ${wordHits("content", graft.operators.Processors.NegativeWords)} AS n""".stripMargin

  /** The summary and sentiment enrichers over CTE `scored` (doc_id,
    * chunk_id, content, token_count, p, n). */
  lazy val enrichedChunksSelect: String =
    s"""SELECT doc_id, chunk_id, token_count,
       |  array_to_string((${sqlToks("content")})[1:100], ' ') AS summary,
       |  CASE WHEN p + n = 0 THEN 'Unknown'
       |       WHEN p > n THEN 'Positive'
       |       WHEN n > p THEN 'Negative'
       |       ELSE 'Neutral' END AS sentiment
       |FROM scored ORDER BY doc_id, chunk_id""".stripMargin

  /** The canonical-pipeline oracle, shared verbatim by the batch row
    * (i_pipeline_e2e) and its streaming-parity twin (x_stream_ingest):
    * the parity claim IS that both executions satisfy one SQL. */
  lazy val pipelineE2eOracle: String = {
    s"""WITH chunks AS (
       |  SELECT doc_id, CAST(0 AS INT) AS chunk_id, text AS content,
       |    CAST(len(${sqlToks("text")}) AS INT) AS token_count
       |  FROM documents WHERE length(trim(text)) > 0),
       |scored AS (
       |  SELECT doc_id, chunk_id, content, token_count,
       |    $sentimentHits
       |  FROM chunks)
       |$enrichedChunksSelect""".stripMargin
  }
}
