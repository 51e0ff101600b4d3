package graft
package queries

import graft.functions.TextFunctions
import graft.operators._
import graft.queries.Inputs._
import graft.queries.SqlText._
import graft.sinks.{VectorStoreWriter => VSW}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search: brute-force, LSH, IVF and PQ nearest neighbours,
  * retrieval and ranking metrics. Each [[QuerySpec]] holds a query's
  * Spark closure and, right after it, the DuckDB SQL its result must
  * match. */
private[graft] object SimilarityQueries extends QueryFamily {
  val prefix = "s"

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

  /** The semantic-search demo query text; embedded with the same
    * deterministic embedder as the vector records on both sides.
    */
  private val searchQueryText = "spark streaming window aggregation query"

  private def queryVec(dim: Int): Array[Float] =
    graft.operators.Chunkers.embed(searchQueryText, dim).map(_.toFloat)

  /** The embeddings, the ten query vectors vec_id < 10 of the recall
    * and ranking rows, and their brute-force top-`k` ground truth
    * (query_id, nbr_id). */
  private def groundTruth(s: SparkSession, dir: String,
                          k: Int): (DataFrame, DataFrame, DataFrame) = {
    val emb = tbl(s, dir, "embeddings")
    val queries = emb.where(col("vec_id") < 10)
    (emb, queries, Similarity.knnBruteForceBatch(emb, queries, k)
      .select(col("query_id"), col("nbr_id")))
  }

  /** The LSH ranking (query_id, nbr_id, rank) the ranking-metric rows
    * score against [[groundTruth]]. */
  private def lshRanking(emb: DataFrame, queries: DataFrame, k: Int): DataFrame =
    Similarity.knnLsh(emb, queries, dim = 64, k = k, nPlanes = 4, nTables = 8)
      .select(col("query_id"), col("nbr_id"), col("rank"))

  /** Mutual-kNN replay over the dup-injected embeddings `vecs`: two
    * LSH tables of `nPlanes` planes (`banded`), the caller's candidate
    * CTEs ending in `cand` (query_id, nbr_id), then MICRO-cosine
    * ranking (ties → lower id) self-joined on swapped (query, nbr)
    * with both ranks ≤ 5. */
  private def mutualKnnSql(nPlanes: Int, candCtes: String): String =
    s"""WITH vecs AS ($vecsWithDupsSql),
       |banded AS (
       |  SELECT 0 AS tbl, vec_id, embedding, ${sqlBucket("embedding", nPlanes, seed = 0)} AS bucket FROM vecs
       |  UNION ALL
       |  SELECT 1 AS tbl, vec_id, embedding, ${sqlBucket("embedding", nPlanes, seed = 1)} AS bucket FROM vecs),
       |$candCtes,
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
       |ORDER BY a, b""".stripMargin

  /** CTE `params`: the IVF seed stride, one in every N/8 vectors. */
  private val ivfParamsCte: String =
    """params AS (
      |  SELECT greatest(1, count(*) // 8) AS step FROM embeddings)""".stripMargin

  /** Body of the IVF seed-centroid CTE: vec_id % step == 0 (step from
    * CTE `params`), the first 8 in id order — exactly the distributed
    * modulo selection in Similarity.knnIvf. */
  private def ivfSeeds(params: String): String =
    s"""(
       |  SELECT e.vec_id AS list_id, e.embedding AS centroid
       |  FROM embeddings e, $params
       |  WHERE e.vec_id % $params.step = 0
       |  ORDER BY e.vec_id LIMIT 8)""".stripMargin

  /** Body of an IVF list-assignment CTE: each embedding's lists of
    * centroid CTE `cents` ranked `r` by cosine (ties to the lower
    * list_id), kept where `keep` holds; `inner` and `where` shape the
    * ranked rows, `cols` the CTE's columns. */
  private def ivfAssign(cols: String, cents: String, keep: String, where: String = "",
                        inner: String = "e.vec_id, e.embedding, c.list_id"): String =
    s"""(
       |  SELECT $cols FROM (
       |    SELECT $inner,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqlCos("e.embedding", "c.centroid")} DESC, c.list_id) AS r
       |    FROM embeddings e, $cents c$where)
       |  WHERE $keep)""".stripMargin

  /** Body of the `corpus_assign` CTE (nbr_id, nbr_emb, list_id):
    * every embedding's nearest list of centroid CTE `cents`. */
  private def corpusAssign(cents: String): String =
    ivfAssign("vec_id AS nbr_id, embedding AS nbr_emb, list_id", cents, "r = 1")

  /** Body of a `query_assign` CTE (query_id, q_emb, list_id): the
    * `nProbe` nearest lists of centroid CTE `cents` for each of the
    * query vectors vec_id < `nQueries`. */
  private def queryAssign(cents: String, nQueries: Int, nProbe: Int): String =
    ivfAssign("vec_id AS query_id, embedding AS q_emb, list_id", cents, s"r <= $nProbe",
      where = s" WHERE e.vec_id < $nQueries")

  /** Top 5 of CTE `scored` (query_id, nbr_id, cos) by cosine, ties
    * to the lower id, cosine rounded to 6 dp. */
  private val cosTop5: String =
    """ranked AS (
      |  SELECT query_id, nbr_id, cos,
      |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id) AS INT) AS rank
      |  FROM scored)
      |SELECT query_id, rank, nbr_id, round(cos, 6) AS cos
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** s_knn_ivf's search over `query_assign` and `corpus_assign`:
    * probed candidates scored by cosine, top 5 per query. */
  private lazy val ivfTop5: String =
    s"""scored AS (
       |  SELECT DISTINCT query_id, nbr_id, ${sqlCos("q_emb", "nbr_emb")} AS cos
       |  FROM query_assign q JOIN corpus_assign n USING (list_id)
       |  WHERE query_id <> nbr_id),
       |$cosTop5""".stripMargin

  /** Body of the `ground` CTE: brute-force cosine top-10 (query_id,
    * nbr_id) of the ten query vectors vec_id < 10 — SQL twin of
    * [[groundTruth]]. */
  private lazy val groundTop10: String =
    s"""(
       |  SELECT query_id, nbr_id FROM (
       |    SELECT q.vec_id AS query_id, e.vec_id AS nbr_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${sqlCos("q.embedding", "e.embedding")} DESC, e.vec_id) AS r
       |    FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
       |    WHERE q.vec_id < 10)
       |  WHERE r <= 10)""".stripMargin

  /** LSH replay of knnLsh(nPlanes = 4, nTables = 8) for the ten query
    * vectors: `banded` (bucket per table), `lsh_cand` (bucket
    * collisions) and `lsh_top` (top-10 candidates by cosine, selecting
    * `topCols` from query_id, nbr_id and rank r). */
  private def lshTop10Ctes(topCols: String): String =
    s"""banded AS (
       |${(0 until 8).map(t =>
      s"  SELECT $t AS tbl, vec_id, embedding, ${sqlBucket("embedding", 4, seed = t)} AS bucket FROM embeddings")
      .mkString("", "\n  UNION ALL\n", "),")}
       |lsh_cand AS (
       |  SELECT DISTINCT x.vec_id AS query_id, y.vec_id AS nbr_id
       |  FROM banded x JOIN banded y ON x.tbl = y.tbl AND x.bucket = y.bucket
       |  WHERE x.vec_id < 10 AND x.vec_id <> y.vec_id),
       |lsh_top AS (
       |  SELECT $topCols FROM (
       |    SELECT query_id, nbr_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY ${sqlCos("q.embedding", "e.embedding")} DESC, nbr_id) AS r
       |    FROM lsh_cand JOIN embeddings q ON q.vec_id = query_id
       |    JOIN embeddings e ON e.vec_id = nbr_id)
       |  WHERE r <= 10)""".stripMargin

  /** Squared difference of two float cells, in double. */
  private def sq(a: String, b: String) =
    s"(CAST($a AS DOUBLE) - CAST($b AS DOUBLE)) * (CAST($a AS DOUBLE) - CAST($b AS DOUBLE))"

  /** Exact PQ replay (m = 8, 16 codes): stride CTE `params`, codebook =
    * the modulo sample in id order (code = rank), encode = per-(vector,
    * subspace) argmin of L2² (ties → lowest code), ending in `books`
    * (bl: the codebook list) and `codes` (nbr_id, cs). */
  private def pqCodeCtes(params: String): String = {
    val encD = sq("e.embedding[u.mi*8 + i]", "c.embedding[u.mi*8 + i]")
    s"""$params AS (SELECT greatest(1, count(*) // 16) AS step FROM embeddings),
       |cbrows AS (
       |  SELECT e.vec_id, e.embedding FROM embeddings e, $params
       |  WHERE e.vec_id % $params.step = 0 ORDER BY e.vec_id LIMIT 16),
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
       |codes AS (SELECT vec_id AS nbr_id, list(code ORDER BY mi) AS cs FROM enc GROUP BY vec_id)""".stripMargin
  }

  /** ADC distance of query embedding `qEmb` to the codes `n.cs` over
    * codebook `b.bl`: nested list_reduce folds seeded with 0.0 — the
    * same left-to-right summation order as the Spark aggregate/zip_with
    * expressions, so doubles match bit-for-bit. */
  private def pqAdc(qEmb: String): String = {
    val adcD = sq(s"$qEmb[mi*8 + i]", "b.bl[n.cs[mi + 1] + 1][mi*8 + i]")
    s"""list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
       |      list_transform(range(0, 8), mi ->
       |        list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
       |          list_transform(range(1, 9), i -> $adcD)), (x, y) -> x + y))),
       |      (x, y) -> x + y)""".stripMargin
  }

  /** Top 5 of CTE `scored` (query_id, nbr_id, dist) by ascending ADC
    * distance, ties to the lower id. */
  private val adcTop5: String =
    """ranked AS (SELECT query_id, nbr_id, dist,
      |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, nbr_id) AS INT) AS rank
      |  FROM scored)
      |SELECT query_id, rank, nbr_id, round(dist, 6) AS dist
      |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // ---------------------------------------------- similarity search
    QuerySpec("s_knn_bruteforce", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val query = emb.where(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      Similarity.knnBruteForce(emb, query, k = 10)
        .select(col("vec_id"), round(col("cos"), 6).as("cos"))
    }, oracleSql = {
      val dot = rangeSum("CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)")
      val na = s"sqrt(${rangeSum("CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)")})"
      val nb = s"sqrt(${rangeSum("CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)")})"
      s"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, round(CASE WHEN $na * $nb = 0 THEN 0.0 ELSE $dot / ($na * $nb) END, 6) AS cos
         |FROM embeddings e, q
         |ORDER BY CASE WHEN $na * $nb = 0 THEN 0.0 ELSE $dot / ($na * $nb) END DESC, e.vec_id
         |LIMIT 10""".stripMargin
    }),

    QuerySpec("s_knn_lsh", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      // nPlanes pinned for oracle parity (the library default 0
      // auto-scales from a corpus count — Similarity.autoPlanes)
      Similarity.knnLsh(emb, queries, dim = 64, k = 5, nPlanes = 8)
        .select(col("query_id"), col("rank"), col("nbr_id"), round(col("cos"), 6).as("cos"))
        .orderBy(col("query_id"), col("rank"))
    }, oracleSql =
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
         |$cosTop5""".stripMargin),

    QuerySpec("s_knn_ivf", (s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      Similarity.knnIvf(emb, emb.where(col("vec_id") < 5), k = 5, nLists = 8, nProbe = 4)
        .select(col("query_id"), col("rank"), col("nbr_id"), round(col("cos"), 6).as("cos"))
        .orderBy(col("query_id"), col("rank"))
    }, oracleSql =
      // centroid sample: vec_id % step == 0 (step = N/8), exactly the
      // distributed modulo selection in Similarity.knnIvf
      s"""WITH $ivfParamsCte,
         |centroids AS ${ivfSeeds("params")},
         |corpus_assign AS ${corpusAssign("centroids")},
         |query_assign AS ${queryAssign("centroids", 5, 4)},
         |$ivfTop5""".stripMargin),

    QuerySpec("s_knn_ivf_trained", (s, dir) => {
      // Lloyd-trained IVF (trainIters > 0): same search plan as
      // s_knn_ivf, centroids refined by two training iterations — the
      // oracle re-derives the training (2 unrolled assign/mean rounds)
      // so the trained path is hash-gated end-to-end, not just rows>0
      val emb = tbl(s, dir, "embeddings")
      Similarity.knnIvf(emb, emb.where(col("vec_id") < 5), k = 5, nLists = 8,
          nProbe = 4, trainIters = 2)
        .select(col("query_id"), col("rank"), col("nbr_id"), round(col("cos"), 6).as("cos"))
        .orderBy(col("query_id"), col("rank"))
    }, oracleSql = {
      // two unrolled Lloyd iterations over the sampled seeds, then the
      // s_knn_ivf search against the trained centroids. Means mirror
      // the Spark formulation exactly: per-(list, dim) double sum /
      // count, cast to float; empty lists keep the previous centroid.
      def lloyd(i: Int, prev: String): String =
        s"""assign$i AS ${ivfAssign("vec_id, embedding, list_id", prev, "r = 1")},
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
      s"""WITH $ivfParamsCte,
         |cents0 AS ${ivfSeeds("params")},
         |${lloyd(1, "cents0")},
         |${lloyd(2, "cents1")},
         |corpus_assign AS ${corpusAssign("cents2")},
         |query_assign AS ${queryAssign("cents2", 5, 4)},
         |$ivfTop5""".stripMargin
    }),

    QuerySpec("s_mutual_knn", (s, dir) => {
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
    },
    // mutual-kNN replay: LSH candidate pairs, MICRO-cosine ranking
    // (ties → lower id), self-joined on swapped (query, nbr) with
    // both ranks ≤ 5
    oracleSql =
      mutualKnnSql(12,
        """cand AS (
          |  SELECT DISTINCT x.vec_id AS query_id, y.vec_id AS nbr_id
          |  FROM banded x JOIN banded y ON x.tbl = y.tbl AND x.bucket = y.bucket
          |  WHERE x.vec_id <> y.vec_id)""".stripMargin)),

    QuerySpec("s_mutual_knn_capped", (s, dir) => {
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
    },
    // capped-path replay: 4-plane buckets; the neighbor side of EVERY
    // bucket keeps only the top-16 rows by (portableHash(id:":":tbl),
    // id) — identical to Spark's hot-subset row_number because cold
    // buckets (cnt ≤ 16) pass whole either way; query side complete
    oracleSql =
      mutualKnnSql(4,
        s"""nbrs AS (
           |  SELECT tbl, bucket, vec_id FROM (
           |    SELECT tbl, bucket, vec_id,
           |      row_number() OVER (PARTITION BY tbl, bucket
           |        ORDER BY ${sqlHash("CAST(vec_id AS VARCHAR) || ':' || CAST(tbl AS VARCHAR)")}, vec_id) AS rk
           |    FROM banded)
           |  WHERE rk <= 16),
           |cand AS (
           |  SELECT DISTINCT x.vec_id AS query_id, y.vec_id AS nbr_id
           |  FROM banded x JOIN nbrs y ON x.tbl = y.tbl AND x.bucket = y.bucket
           |  WHERE x.vec_id <> y.vec_id)""".stripMargin)),

    QuerySpec("s_embedding_outliers", (s, dir) => {
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
    },
    // OOD replay: same micro quantization, decimal-exact moments,
    // identical per-dim term shapes folded in dim order
    oracleSql =
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
        |ORDER BY ood_score DESC, vec_id LIMIT 20""".stripMargin),

    QuerySpec("s_sq8", (s, dir) => {
      // int8 scalar-quantization audit on the known near-dup pairs:
      // full-precision vs dequantized cosine and the gap — the "is 4×
      // embedding compression safe" table (Similarity.sq8Audit; FAISS
      // SQ8 shape). Dim stats broadcast; the cosine pass is
      // pairs-bounded.
      val vecs = vecsWithDups(tbl(s, dir, "embeddings"))
      val pairs = vecs.where(col("vec_id") >= 100000000L)
        .select((col("vec_id") - 100000000L).as("a"), col("vec_id").as("b"))
      Similarity.sq8Audit(vecs, pairs).orderBy(col("a"))
    },
    // SQ8 replay: identical per-dim min/max quantizer, dequantized
    // doubles, same cosine folds
    oracleSql = {
      def cos(a: String, b: String) = {
        val dot = rangeSum(s"$a[i] * $b[i]")
        val na = s"sqrt(${rangeSum(s"$a[i] * $a[i]")})"
        val nb = s"sqrt(${rangeSum(s"$b[i] * $b[i]")})"
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
    }),

    QuerySpec("s_silhouette", (s, dir) => {
      // cluster-quality audit of the IVF partitioning itself:
      // simplified silhouette (nearest vs runner-up centroid) per
      // list over the same modulo-sampled centroids s_knn_ivf
      // searches — low mean_sil lists are boundary-heavy and explain
      // ANN recall loss. Micro-integer aggregates (order-free);
      // corpus work is map-only + one bounded aggregate.
      Similarity.silhouette(tbl(s, dir, "embeddings"), nLists = 8)
        .orderBy(col("list_id"))
    },
    // silhouette replay: same modulo centroid sample + double-cosine
    // ranking as s_knn_ivf; micro-integer silhouette/cohesion means
    oracleSql =
      s"""WITH $ivfParamsCte,
         |centroids AS ${ivfSeeds("params")},
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
         |FROM sm GROUP BY list_id ORDER BY list_id""".stripMargin),

    QuerySpec("s_knn_pq", (s, dir) => {
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
    },
    // exact PQ replay: codebook = the modulo sample in id order (code
    // = rank), encode = per-(vector, subspace) argmin of L2² (ties →
    // lowest code), ADC = nested list_reduce folds seeded with 0.0 —
    // the same left-to-right summation order as the Spark aggregate/
    // zip_with expressions, so doubles match bit-for-bit pre-round
    oracleSql =
      s"""WITH ${pqCodeCtes("params")},
         |scored AS (
         |  SELECT q.vec_id AS query_id, n.nbr_id,
         |    ${pqAdc("q.embedding")} AS dist
         |  FROM embeddings q, codes n, books b
         |  WHERE q.vec_id < 5 AND q.vec_id <> n.nbr_id),
         |$adcTop5""".stripMargin),

    QuerySpec("s_knn_ivfpq", (s, dir) => {
      // the FAISS-style composition: IVF list pruning × PQ codes,
      // ADC-scored — oracle composes the two exact derivations
      val emb = tbl(s, dir, "embeddings")
      Similarity.knnIvfPq(emb, emb.where(col("vec_id") < 5), k = 5,
          nLists = 8, nProbe = 4, m = 8, nCodes = 16, dim = 64)
        .select(col("query_id"), col("rank"), col("nbr_id"),
          round(col("dist"), 6).as("dist"))
        .orderBy(col("query_id"), col("rank"))
    },
    // IVF-PQ = the s_knn_ivf coarse-assignment CTEs composed with the
    // s_knn_pq codebook/encode/ADC CTEs; candidates come from probed
    // lists instead of the full code scan
    oracleSql = {
      val corpusLists = ivfAssign("vec_id AS nbr_id, list_id", "centroids", "r = 1",
        inner = "e.vec_id, c.list_id")
      val queryLists = ivfAssign("vec_id AS query_id, q_emb, list_id", "centroids", "r <= 4",
        where = " WHERE e.vec_id < 5", inner = "e.vec_id, e.embedding AS q_emb, c.list_id")
      s"""WITH ivfparams AS (SELECT greatest(1, count(*) // 8) AS step FROM embeddings),
         |centroids AS ${ivfSeeds("ivfparams")},
         |corpus_assign AS $corpusLists,
         |query_assign AS $queryLists,
         |${pqCodeCtes("pqparams")},
         |scored AS (
         |  SELECT DISTINCT q.query_id, n.nbr_id,
         |    ${pqAdc("q.q_emb")} AS dist
         |  FROM query_assign q
         |  JOIN corpus_assign ca USING (list_id)
         |  JOIN codes n ON n.nbr_id = ca.nbr_id
         |  CROSS JOIN books b
         |  WHERE q.query_id <> n.nbr_id),
         |$adcTop5""".stripMargin
    }),

    QuerySpec("s_mmr_rerank", (s, dir) => {
      // MMR-diversified top-5 from a 20-candidate pool, λ=0.7 — the
      // oracle unrolls the 5 greedy picks as plain CTE steps; output
      // is ids-only, so the hash gate pins the entire scoring path
      val emb = tbl(s, dir, "embeddings")
      Similarity.mmrSearch(emb, emb.where(col("vec_id") < 5),
          k = 5, poolSize = 20, lambda = 0.7)
        .orderBy(col("query_id"), col("rank"))
    },
    // MMR replay: the greedy loop unrolls to 5 CTE steps (pen_s = max
    // pairwise cosine vs the selected set; pick = row_number over
    // 0.7·rel − (1 − 0.7)·pen, ties → lowest id). Identical double
    // expressions to the kernel: same cosine folds, same literal
    // arithmetic — so the ids-only output hash-matches
    oracleSql = {
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
    }),

    QuerySpec("s_bm25", (s, dir) => {
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
    },
    // BM25 replay: postings with doc length riding along, df over the
    // corpus restricted to query terms, Lucene idf, identical literal
    // arithmetic to Retrieval.bm25Search (1.2 + 1.0, 1.0 - 0.75 + ...
    // — never pre-folded, so the doubles match bit-for-bit); the rank
    // runs over the 6-dp-ROUNDED score on both engines
    oracleSql =
      s"""WITH $bm25RankedCte
         |SELECT query_id, rank, doc_id, score FROM bm_ranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin),

    QuerySpec("s_hybrid_rrf", (s, dir) => {
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
    },
    // hybrid-search replay: the shared BM25 CTE chain fused with a
    // brute-force cosine ranking by RRF — 1/(60+rank) terms are exact
    // rationals and the two-term sum has a fixed association, so rrf
    // is bit-identical across engines with no rounding anywhere
    oracleSql =
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
         |ORDER BY query_id, rank""".stripMargin),

    QuerySpec("s_knn_recall", (s, dir) => {
      // ANN recall contract: LSH and IVF top-k overlap against the
      // brute-force ground truth, per query — the accuracy twin of
      // q_approx_sketch's sketch contract. The oracle recomputes the
      // same integers, and the booleans pin the recall floor the
      // bucketing must clear (bucketing is oracle-exact elsewhere;
      // recall is the property a USER cares about).
      val k = 10
      val (emb, queries, ground) = groundTruth(s, dir, k)
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
    }, oracleSql =
      s"""WITH ${lshTop10Ctes("query_id, nbr_id")},
         |$ivfParamsCte,
         |centroids AS ${ivfSeeds("params")},
         |corpus_assign AS ${corpusAssign("centroids")},
         |query_assign AS ${queryAssign("centroids", 10, 5)},
         |ivf_top AS (
         |  SELECT query_id, nbr_id FROM (
         |    SELECT query_id, nbr_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id) AS r
         |    FROM (
         |      SELECT DISTINCT query_id, nbr_id, ${sqlCos("q_emb", "nbr_emb")} AS cos
         |      FROM query_assign q JOIN corpus_assign n USING (list_id)
         |      WHERE query_id <> nbr_id))
         |  WHERE r <= 10),
         |ground AS $groundTop10,
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
         |ORDER BY query_id""".stripMargin),

    QuerySpec("s_rank_metrics", (s, dir) => {
      // retrieval-quality metrics: reciprocal rank + average
      // precision of the LSH ranking against the brute-force cosine
      // ground truth — s_knn_recall counts WHAT was found, this
      // scores WHERE it landed (the MRR/MAP row a retrieval change
      // is judged by). Same bucketing as s_knn_recall; metric math
      // is queries×k-bounded with contracted-order term folds
      // (Eval.rankMetrics), so the doubles are bit-exact.
      val k = 10
      val (emb, queries, ground) = groundTruth(s, dir, k)
      val lsh = lshRanking(emb, queries, k)
      queries.select(col("vec_id").as("query_id"))
        .join(Eval.rankMetrics(lsh, ground, k), Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_rel"), lit(0L)).as("n_rel"),
          coalesce(col("rr"), lit(0.0)).as("rr"),
          coalesce(col("ap"), lit(0.0)).as("ap"))
        .orderBy(col("query_id"))
    },
    // rank-metrics replay: same LSH candidate derivation as
    // s_knn_recall but retaining the rank; AP terms hits@r/r are
    // single exact-integer divisions summed in list_reduce's
    // ascending-rank order — the same fold sequence as Spark's
    // aggregate(sort_array(...)), so the doubles are bit-identical
    oracleSql =
      s"""WITH ${lshTop10Ctes("query_id, nbr_id, r AS rank")},
         |ground AS $groundTop10,
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
         |ORDER BY query_id""".stripMargin),

    QuerySpec("s_ivf_probe_curve", (s, dir) => {
      // the IVF TUNING CURVE: recall@10 vs nProbe ∈ {1,2,4,8} against
      // brute-force ground truth — the "how many probes buy 95%
      // recall" table every ANN deployment reads before picking its
      // latency/recall point. Four probe settings share one ground-
      // truth pass; recall is an exact integer ratio divided once.
      val k = 10
      val (emb, queries, truth) = groundTruth(s, dir, k)
      val ground = truth.localCheckpoint(true)
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
    },
    // probe-curve replay: shared centroid/corpus-assign/ground CTEs
    // (MATERIALIZED — referenced once per probe setting), one
    // query-assign → score → rank → hit-count block per nProbe
    oracleSql = {
      def block(p: Int) =
        s"""qa$p AS ${queryAssign("centroids", 10, p)},
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
      s"""WITH $ivfParamsCte,
         |centroids AS MATERIALIZED ${ivfSeeds("params")},
         |corpus_assign AS MATERIALIZED ${corpusAssign("centroids")},
         |ground AS MATERIALIZED $groundTop10,
         |${Seq(1, 2, 4, 8).map(block).mkString(",\n")}
         |${Seq(1, 2, 4, 8).map(row).mkString("(", ")\nUNION ALL\n(", ")")}
         |ORDER BY n_probe""".stripMargin
    }),

    QuerySpec("s_ndcg", (s, dir) => {
      // nDCG@10 of the LSH ranking vs brute-force ground truth — the
      // position-discounted metric beside s_rank_metrics' MRR/AP
      // (Eval.ndcg; ln-shaped discounts so both engines compute the
      // same doubles, contracted folds, 6dp). Same bucketing as
      // s_knn_recall; metric work queries×k-bounded.
      val k = 10
      val (emb, queries, ground) = groundTruth(s, dir, k)
      val lsh = lshRanking(emb, queries, k)
      queries.select(col("vec_id").as("query_id"))
        .join(Eval.ndcg(lsh, ground, k), Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_rel"), lit(0L)).as("n_rel"),
          coalesce(col("ndcg"), lit(0.0)).as("ndcg"))
        .orderBy(col("query_id"))
    },
    // nDCG replay: same banded/ground CTEs as s_rank_metrics, ln-shaped
    // discounts, ordered-list folds
    oracleSql =
      s"""WITH ${lshTop10Ctes("query_id, nbr_id, r AS rank")},
         |ground AS $groundTop10,
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
         |WHERE q.vec_id < 10 ORDER BY query_id""".stripMargin),

    QuerySpec("s_semantic_search", (s, dir) => {
      // end-to-end RAG search (reference SemanticSearch.cs): ingest →
      // vector records → embed the query text → top-10 by cosine
      val chunks = Chunkers.tokenChunks(tbl(s, dir, "documents"),
        ChunkerOptions(maxTokens = 64, overlap = 16))
        .withColumn("context", lit(""))
      Similarity.semanticSearch(VSW.toVectorRecords(chunks, dim = 16),
          queryVec(16), k = 10)
        .select(col("key"), round(col("cos"), 6).as("cos"))
    }, oracleSql = {
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
    }),

    QuerySpec("s_pairwise_dups", (s, dir) => {
      // nPlanes pinned for oracle parity (library default auto-scales)
      Dedup.embeddingCosinePairs(vecsWithDups(tbl(s, dir, "embeddings")),
          threshold = 0.85, nPlanes = 8)
        .select(col("a"), col("b"), round(col("cos"), 6).as("cos"))
        .orderBy(col("a"), col("b"))
    }, oracleSql =
      s"""WITH v AS ($vecsWithDupsSql),
         |b AS (SELECT vec_id, embedding, ${sqlBucket("embedding", 8)} AS bucket FROM v)
         |SELECT x.vec_id AS a, y.vec_id AS b, round(${sqlCos("x.embedding", "y.embedding")}, 6) AS cos
         |FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
         |WHERE ${sqlCos("x.embedding", "y.embedding")} >= 0.85
         |ORDER BY a, b""".stripMargin),

    QuerySpec("s_dim_stats", (s, dir) => {
      // embedding-health audit: per-dim mean/variance/extremes over
      // exact micro-integer moments (order-free) — run before ANN
      Similarity.dimStats(tbl(s, dir, "embeddings"))
    },
    // per-dim moment replay over exact micro-integers: sums are exact
    // BIGINTs on both engines; mean/variance divide those sums through
    // identical double shapes (divide-first — sq·n would overflow)
    oracleSql =
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
        |FROM g ORDER BY d""".stripMargin),

    QuerySpec("s_label_centroids", (s, dir) => {
      // class prototypes + cohesion audit (SemDeDup screening / drift
      // monitoring); float-rounded centroid means, exact micro-cosine
      // moments — see Similarity.labelCentroids
      Similarity.labelCentroids(tbl(s, dir, "embeddings"), "label")
        .orderBy(col("label"))
    },
    // class-prototype replay: per-(label, dim) double mean cast FLOAT
    // (the trained-IVF mean contract — float rounding absorbs
    // double-sum association noise), member cosines via the shared
    // ordered fold, cohesion moments over exact micro-cosine integers
    oracleSql =
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
         |FROM mc GROUP BY label ORDER BY label""".stripMargin)
  )
}
