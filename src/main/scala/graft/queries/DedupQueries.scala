package graft
package queries

import graft.operators._
import graft.queries.Inputs._
import graft.queries.SqlText._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Curation and dedup: exact, near-duplicate and semantic dedup,
  * decontamination, sampling and the curation funnel. Each
  * [[QuerySpec]] holds a query's Spark closure and, right after it, the
  * DuckDB SQL its result must match. */
private[graft] object DedupQueries extends QueryFamily {
  val prefix = "d"

  /** The span family's 8-token windows: CTEs corpus (dup-injected),
    * toks and w (doc_id, pos, h = 60-bit window hash). */
  private lazy val spanWindowCtes: String =
    s"""corpus AS ($corpusWithDupsSql),
       |toks AS (SELECT doc_id, ${sqlToks("text")} AS t FROM corpus),
       |w AS (
       |  SELECT doc_id, CAST(u.i AS INT) AS pos,
       |    ${sqlHash60("array_to_string(t[u.i+1 : u.i+8], ' ')")} AS h
       |  FROM toks, unnest(range(0, len(t) - 7)) AS u(i)
       |  WHERE len(t) >= 8)""".stripMargin

  /** CTE `isl`: the flagged window starts of CTE `f` (doc_id, pos)
    * numbered into islands — runs of starts at most 8 apart. */
  private val spanIslandsCte: String =
    """isl AS (
      |  SELECT doc_id, pos,
      |    sum(CASE WHEN prev IS NULL OR pos - prev > 8 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM (SELECT doc_id, pos,
      |          lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM f))""".stripMargin

  /** One span row per island of `isl`: its first and last token and
    * its flagged-window count. */
  private val spanRowsSelect: String =
    """SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
      |  CAST(max(pos) + 7 AS INT) AS span_end,
      |  CAST(count(*) AS BIGINT) AS n_hits
      |FROM isl GROUP BY doc_id, island
      |ORDER BY doc_id, span_start""".stripMargin

  /** `build` over a fresh scratch index directory; its result is
    * pinned (localCheckpoint) before the directory is deleted. */
  private def withScratchIndex(prefix: String)(build: String => DataFrame): DataFrame = {
    val idx = java.nio.file.Files.createTempDirectory(prefix)
    try build(idx.toString).localCheckpoint(true)
    finally {
      java.nio.file.Files.walk(idx)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
    }
  }

  /** The 3-gram candidate chain over CTE `source` (doc_id, text):
    * toks → sh (distinct shingle hashes per doc) → ex → capped (drops
    * shingles found in more than 1000 docs) → pairs (a, b, na, nb,
    * inter), with `pairsWhere` as an extra filter on the pair join.
    * The oracles of d_dedup_ngram, d_dedup_incremental and
    * d_dedup_containment differ only in source and acceptance test. */
  private def ngramPairCtes(source: String, pairsWhere: String = ""): String = {
    val where = if (pairsWhere.isEmpty) "" else s"\n  WHERE $pairsWhere"
    s"""toks AS (SELECT doc_id, ${sqlToks("text")} AS t FROM $source),
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
       |  FROM capped x JOIN capped y ON x.shingle = y.shingle AND x.doc_id < y.doc_id$where
       |  GROUP BY 1, 2, 3, 4)""".stripMargin
  }

  /** Shared ngram near-dup pair CTE chain (ends in `dup_pairs`):
    * shingle hashes (3-gram, portable hash), distinct per doc;
    * pairwise intersection via self-join, integer jaccard threshold.
    * Used by d_dedup_ngram and as the edge set of d_dedup_clusters.
    */
  private lazy val ngramPairsCte: String =
    s"""corpus AS ($corpusWithDupsSql),
       |${ngramPairCtes("corpus")},
       |dup_pairs AS (
       |  SELECT a, b, inter, na, nb FROM pairs
       |  WHERE inter * 10000 >= 8000 * (na + nb - inter))""".stripMargin

  /** [[ngramPairsCte]] plus the transitive closure of its undirected
    * pair graph: `reach` (node, peer) holds every peer reachable from
    * node — for a WITH RECURSIVE chain. */
  private lazy val ngramReachCtes: String =
    s"""$ngramPairsCte,
       |edges AS (
       |  SELECT a AS src, b AS dst FROM dup_pairs
       |  UNION ALL SELECT b, a FROM dup_pairs),
       |reach(node, peer) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.peer)""".stripMargin

  /** MinHash-LSH pair replay ending in `mh_pairs` (a, b, inter, na,
    * nb) — expects a `corpus` CTE in scope (mh_-prefixed names so it
    * composes with [[ngramPairsCte]] in the same WITH chain). Twin of
    * Dedup.minhashLshPairs(n=3, k=16, rowsPerBand=4, threshold=0.8).
    */
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

  /** Persisted-index probe replay: the same minhash chain runs over
    * the store (`storeSql`) and the delta (the documents matching
    * `deltaWhere`, re-arriving at id+5e8) separately; candidates are
    * store↔delta and delta↔delta band-key collisions, verified by exact
    * shingle intersection — byte-for-byte the contract probeDedupIndex
    * computes from stored rows. */
  private def dedupProbeSql(storeSql: String, deltaWhere: String): String =
    s"""WITH store AS ($storeSql),
       |delta AS (
       |  SELECT doc_id + 500000000 AS doc_id, text FROM documents
       |  WHERE $deltaWhere),
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
       |ORDER BY a, b""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("d_sample_neyman", (s, dir) => {
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
    },
    // Neyman replay: decimal-exact moments, identical double σ/weight
    // shapes, largest-remainder ranking with the same tie-break
    oracleSql =
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
         |FROM r, sh ORDER BY source""".stripMargin),

    QuerySpec("d_strip_boilerplate", (s, dir) => {
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
    },
    // strip replay: same top-line pick + ≥20% gate, list-filter strip,
    // identical token accounting
    oracleSql =
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
         |FROM cl ORDER BY doc_id""".stripMargin),

    QuerySpec("d_data_card", (s, dir) => {
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
    },
    // data-card replay: same per-doc signals, same exact-integer
    // metrics, UNION-ALL unpivot
    oracleSql =
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
         |ORDER BY metric""".stripMargin),

    QuerySpec("d_epoch_shuffle", (s, dir) => {
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
    },
    // epoch-shuffle replay: identical (doc_id:epoch) hash rank, shard,
    // and within-shard row_number
    oracleSql =
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
         |FROM p ORDER BY epoch, doc_id""".stripMargin),

    QuerySpec("d_split_grouped", (s, dir) => {
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
    },
    // grouped-split replay: source-hash split, per-split audit, and
    // the structural zero leak count
    oracleSql = {
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
    }),

    // ---------------------------------------------- dedup family
    QuerySpec("d_dedup_exact", (s, dir) => {
      Dedup.exactGroups(corpusWithDups(tbl(s, dir, "documents")))
        .orderBy(col("keeper"))
    }, oracleSql =
      s"""WITH corpus AS ($corpusWithDupsSql)
         |SELECT min(doc_id) AS keeper, count(*) AS dup_count
         |FROM corpus GROUP BY text HAVING count(*) > 1
         |ORDER BY keeper""".stripMargin),

    QuerySpec("d_dedup_keep", (s, dir) => {
      // full-corpus exact dedup: the SURVIVING rows (min doc_id per
      // distinct text), not just the duplicate groups
      Dedup.exactDedup(corpusWithDups(tbl(s, dir, "documents")))
        .select(col("doc_id"), length(col("text")).as("n_chars"))
        .orderBy(col("doc_id"))
    }, oracleSql =
      s"""WITH corpus AS ($corpusWithDupsSql)
         |SELECT doc_id, CAST(length(text) AS INT) AS n_chars FROM corpus
         |WHERE doc_id IN (SELECT min(doc_id) FROM corpus GROUP BY text)
         |ORDER BY doc_id""".stripMargin),

    QuerySpec("d_dedup_url", (s, dir) => {
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
    }, oracleSql =
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
        |ORDER BY canon_url""".stripMargin),

    QuerySpec("d_dedup_ngram", (s, dir) => {
      Dedup.ngramJaccardPairs(corpusWithDups(tbl(s, dir, "documents")), n = 3, threshold = 0.8)
        .orderBy(col("a"), col("b"))
    }, oracleSql =
      s"""WITH $ngramPairsCte
         |SELECT a, b, inter, na, nb FROM dup_pairs
         |ORDER BY a, b""".stripMargin),

    QuerySpec("d_dedup_recall", (s, dir) => {
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
    },
    // method-calibration replay: both production pipelines re-derived
    // independently (ngram ground truth + minhash candidates), joined
    // pair-for-pair; recall_ok is an exact integer inequality
    oracleSql =
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
         |FROM tp, cd, ht""".stripMargin),

    QuerySpec("d_dedup_sweep", (s, dir) => {
      // threshold-tuning curve: pair/doc counts at 50..90% jaccard
      // from one candidate pass over the dup-injected corpus
      Dedup.dedupSweep(corpusWithDups(tbl(s, dir, "documents")), n = 3)
        .orderBy(col("t_bps"))
    },
    // threshold sweep over the shared unfiltered `pairs` stage —
    // same integer basis-point acceptance as the production operators
    oracleSql =
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
         |ORDER BY t_bps""".stripMargin),

    QuerySpec("d_dedup_fuzzy", (s, dir) => {
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
    },
    // segment-blocked Levenshtein replay: same 64-char heads, same
    // three 21-char slices, same <=1000-per-segment hot guard,
    // distinct candidates, then exact edit distance <= 2
    oracleSql =
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
         |ORDER BY a, b""".stripMargin),

    QuerySpec("d_dedup_minhash", (s, dir) => {
      Dedup.minhashLshPairs(corpusWithDups(tbl(s, dir, "documents")),
          n = 3, k = 16, rowsPerBand = 4, threshold = 0.8)
        .select(col("a"), col("b"), col("inter"), col("na"), col("nb"))
        .orderBy(col("a"), col("b"))
    }, oracleSql =
      s"""WITH corpus AS ($corpusWithDupsSql),
         |$minhashPairsCte
         |SELECT a, b, inter, na, nb FROM mh_pairs
         |ORDER BY a, b""".stripMargin),

    QuerySpec("d_dedup_clusters", (s, dir) => {
      // pairs → transitive dedup clusters: a~b and b~c must land in
      // ONE cluster even when (a,c) was never emitted as a pair
      val pairs = Dedup.ngramJaccardPairs(
        corpusWithDups(tbl(s, dir, "documents")), n = 3, threshold = 0.8)
      Dedup.connectedComponents(pairs).orderBy(col("doc_id"))
    }, oracleSql =
      // transitive closure of the undirected near-dup pair graph via a
      // recursive CTE; cluster = min reachable id (incl. self)
      s"""WITH RECURSIVE $ngramReachCtes
         |SELECT node AS doc_id, CAST(least(node, min(peer)) AS BIGINT) AS cluster
         |FROM reach GROUP BY node
         |ORDER BY doc_id""".stripMargin),

    QuerySpec("d_dedup_audit", (s, dir) => {
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
    },
    // dedup-report replay: same closure as d_dedup_clusters, grouped
    // to the size histogram; singletons = corpus minus clustered
    oracleSql =
      s"""WITH RECURSIVE $ngramReachCtes,
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
         |ORDER BY csize""".stripMargin),

    QuerySpec("d_split_hash", (s, dir) => {
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
    }, oracleSql =
      s"""SELECT doc_id,
         |  CASE WHEN ${sqlHash("CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
         |       WHEN ${sqlHash("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin),

    QuerySpec("d_dedup_survivors", (s, dir) => {
      // near-dup dedup END-TO-END: pairs → transitive clusters → keep
      // the cluster-min survivor, unpaired documents pass through
      // untouched (the full dedupByPairs path a pipeline actually runs)
      val corpus = corpusWithDups(tbl(s, dir, "documents"))
      val pairs = Dedup.ngramJaccardPairs(corpus, n = 3, threshold = 0.8)
      Dedup.dedupByPairs(corpus, pairs)
        .select(col("doc_id"), length(col("text")).as("n_chars"))
        .orderBy(col("doc_id"))
    }, oracleSql =
      s"""WITH RECURSIVE $ngramReachCtes,
         |losers AS (
         |  SELECT node AS doc_id FROM reach GROUP BY node
         |  HAVING least(node, min(peer)) <> node)
         |SELECT doc_id, CAST(length(text) AS INT) AS n_chars
         |FROM corpus WHERE doc_id NOT IN (SELECT doc_id FROM losers)
         |ORDER BY doc_id""".stripMargin),

    QuerySpec("d_decontaminate", (s, dir) => {
      // benchmark decontamination: every 25th document stands in for a
      // held-out eval set; any corpus doc (incl. the induced dups of
      // those docs) sharing an 8-gram with it is flagged
      val docs = tbl(s, dir, "documents")
      Corpus.decontaminate(
        corpusWithDups(docs), docs.where(col("doc_id") % 25 === 0), n = 8)
        .orderBy(col("doc_id"))
    }, oracleSql =
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
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    QuerySpec("d_decontaminate_semantic", (s, dir) => {
      // embedding-similarity decontamination: every 200th embedding
      // stands in for the eval set; any corpus vector (incl. the
      // induced scaled dups) with cosine >= 0.9 to ANY eval vector is
      // flagged — the paraphrase-catching companion to the n-gram
      // check in d_decontaminate
      val emb = tbl(s, dir, "embeddings")
      Corpus.decontaminateSemantic(
        vecsWithDups(emb), emb.where(col("vec_id") % 200 === 0), threshold = 0.9)
        .orderBy(col("vec_id"))
    },
    // brute-force cosine vs the broadcast eval set, norms hoisted per
    // vector (bit-identical to the per-pair kernel: same fold order,
    // same na*nb product order), count+max over matching pairs only
    oracleSql = {
      def nrm(v: String) = s"sqrt(${rangeSum(s"CAST($v[i] AS DOUBLE) * CAST($v[i] AS DOUBLE)")})"
      s"""WITH v AS ($vecsWithDupsSql),
         |c AS (SELECT vec_id, embedding, ${nrm("embedding")} AS nrm FROM v),
         |bench AS (SELECT embedding AS be, ${nrm("embedding")} AS bnrm
         |  FROM embeddings WHERE vec_id % 200 = 0),
         |pairs AS (
         |  SELECT x.vec_id,
         |    CASE WHEN x.nrm * b.bnrm = 0 THEN 0.0
         |         ELSE ${rangeSum("CAST(x.embedding[i] AS DOUBLE) * CAST(b.be[i] AS DOUBLE)")} / (x.nrm * b.bnrm) END AS cos
         |  FROM c x, bench b)
         |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_matched,
         |  round(max(cos), 6) AS max_cos
         |FROM pairs WHERE cos >= 0.9
         |GROUP BY vec_id ORDER BY vec_id""".stripMargin
    }),

    QuerySpec("d_cut_spans", (s, dir) => {
      // flag → cut end-to-end: remove every cross-document repeated
      // 8-token span from the dup-injected corpus; unflagged documents
      // pass through (whitespace-normalized), and the removed-token
      // count is part of the compared surface
      val corpus = corpusWithDups(tbl(s, dir, "documents"))
      Corpus.cutSpans(corpus, Corpus.repeatedSpans(corpus, n = 8, minDocs = 2))
        .orderBy(col("doc_id"))
    }, oracleSql = {
      val inCut = "i - 1 >= s.a AND i - 1 <= s.b" // DuckDB lambda index is 1-based
      val keptFilter =
        s"list_filter(t, (tok, i) -> len(list_filter(coalesce(cuts, []::STRUCT(a INTEGER, b INTEGER)[]), s -> $inCut)) = 0)"
      s"""WITH $spanWindowCtes,
         |hot AS (SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
         |f AS (SELECT doc_id, pos FROM w WHERE h IN (SELECT h FROM hot)),
         |$spanIslandsCte,
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
    }),

    QuerySpec("d_dedup_lines", (s, dir) => {
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
    },
    // C4 line-dedup replay: identical 8-token lineification, distinct-
    // doc line frequency, cut-by-position HOF; coalesce('') because
    // array_to_string of an empty list is NULL in DuckDB where Spark
    // array_join is ''
    oracleSql =
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
         |ORDER BY doc_id""".stripMargin),

    QuerySpec("d_decontaminate_spans", (s, dir) => {
      // span-level decontamination: the exact token ranges overlapping
      // the eval set's 8-grams (same benchmark derivation as
      // d_decontaminate — every 25th doc stands in for the eval set)
      val docs = tbl(s, dir, "documents")
      Corpus.decontaminateSpans(
        corpusWithDups(docs), docs.where(col("doc_id") % 25 === 0), n = 8)
        .orderBy(col("doc_id"), col("span_start"))
    }, oracleSql =
      s"""WITH $spanWindowCtes,
         |bt AS (SELECT ${sqlToks("text")} AS t FROM documents WHERE doc_id % 25 = 0),
         |bh AS (
         |  SELECT DISTINCT unnest(list_transform(range(0, len(t) - 7),
         |    i -> ${sqlHash60("array_to_string(t[i+1:i+8], ' ')")})) AS h
         |  FROM bt WHERE len(t) >= 8),
         |f AS (SELECT doc_id, pos FROM w WHERE h IN (SELECT h FROM bh)),
         |$spanIslandsCte
         |$spanRowsSelect""".stripMargin),

    QuerySpec("d_repeated_spans", (s, dir) => {
      // substring-level dedup: 8-token windows repeated across >= 2
      // documents, merged into maximal per-document spans — the induced
      // dup corpus repeats every 10th doc verbatim and with one token
      // appended, so those documents flag end-to-end spans
      Corpus.repeatedSpans(corpusWithDups(tbl(s, dir, "documents")), n = 8, minDocs = 2)
        .orderBy(col("doc_id"), col("span_start"))
    }, oracleSql =
      s"""WITH $spanWindowCtes,
         |hot AS (SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
         |f AS (SELECT doc_id, pos FROM w WHERE h IN (SELECT h FROM hot)),
         |$spanIslandsCte
         |$spanRowsSelect""".stripMargin),

    QuerySpec("d_pack_sequences", (s, dir) => {
      // training-sequence packing: 256-token budget, 8 shards (each
      // shard packs independently — no global window at any scale)
      Corpus.packSequences(tbl(s, dir, "documents"), tokensPerSeq = 256, nShards = 8)
        .orderBy(col("doc_id"))
    }, oracleSql =
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
         |FROM c WHERE n_tok > 0 ORDER BY doc_id""".stripMargin),

    QuerySpec("d_pack_bins", (s, dir) => {
      // FFD whole-document packing, d_pack_sequences' budget — 64
      // shards (not 8): the oracle replays the per-shard first-fit
      // fold with a recursive CTE whose depth is the LARGEST SHARD,
      // so shard count bounds oracle cost at validation scales
      Corpus.packBins(tbl(s, dir, "documents"), tokensPerBin = 256, nShards = 64)
        .orderBy(col("doc_id"))
    },
    // exact FFD replay: the recursive CTE walks each shard's
    // (n_tok desc, doc_id) rank order carrying the open-bin loads as
    // list state; list_position(fits, true) IS first-fit (it yields
    // 0, not NULL, when nothing fits — normalized via coalesce), and
    // no-fit opens bin len(bins) — the same 0-based id the Spark
    // fold assigns
    oracleSql =
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
         |FROM pack ORDER BY doc_id""".stripMargin),

    QuerySpec("d_sample_mix", (s, dir) => {
      // stratified corpus mixing: per-language keep rates in basis
      // points, deterministic hash membership (en all, zh default)
      Corpus.stratifiedSample(tbl(s, dir, "documents"), "lang",
        Map("en" -> 10000, "de" -> 5000, "fr" -> 2500, "es" -> 1000),
        defaultBps = 500)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }, oracleSql =
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${sqlHash("CAST(doc_id AS VARCHAR)")} % 10000 <
         |  CASE lang WHEN 'en' THEN 10000 WHEN 'de' THEN 5000
         |            WHEN 'fr' THEN 2500 WHEN 'es' THEN 1000 ELSE 500 END
         |ORDER BY doc_id""".stripMargin),

    QuerySpec("d_split_leakage", (s, dir) => {
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
    }, oracleSql =
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
         |ORDER BY p.a, p.b""".stripMargin),

    QuerySpec("d_dedup_incremental", (s, dir) => {
      // incremental dedup: every 10th doc re-arrives at id+5M as an
      // exact copy — pairs touch the delta only; the existing corpus
      // is scanned, never self-paired (old↔old dups do NOT appear)
      val docs = tbl(s, dir, "documents")
      val delta = docs.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 500000000L).as("doc_id"), col("text"))
      Dedup.incrementalNgramPairs(docs, delta, n = 3, threshold = 0.8)
        .orderBy(col("a"), col("b"))
    }, oracleSql =
      s"""WITH delta AS (
         |  SELECT doc_id + 500000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0),
         |comb AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id, text FROM delta),
         |${ngramPairCtes("comb", "y.doc_id >= 500000000")}
         |SELECT a, b, inter, na, nb FROM pairs
         |WHERE inter * 10000 >= 8000 * (na + nb - inter)
         |ORDER BY a, b""".stripMargin),

    QuerySpec("d_dedup_retract", (s, dir) => {
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
      withScratchIndex("graft-dedup-retract") { idx =>
        Dedup.writeDedupIndex(docs, idx)
        Dedup.removeFromDedupIndex(s, idx, victims)
        Dedup.probeDedupIndex(s, idx, delta).orderBy(col("a"), col("b"))
      }
    },
    // retraction replay: the store side simply NEVER CONTAINS the
    // victims — probing the post-delete index must hash-match probing
    // an index that never indexed them (the right-to-be-forgotten
    // observational contract)
    oracleSql = dedupProbeSql(
      "SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 1",
      "doc_id % 10 = 0 OR doc_id % 7 = 1")),

    QuerySpec("d_dedup_index", (s, dir) => {
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
      withScratchIndex("graft-dedup-index") { idx =>
        Dedup.writeDedupIndex(docs, idx)
        Dedup.probeDedupIndex(s, idx, delta).orderBy(col("a"), col("b"))
      }
    }, oracleSql = dedupProbeSql("SELECT doc_id, text FROM documents", "doc_id % 10 = 0")),

    QuerySpec("d_snapshot_diff", (s, dir) => {
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
    }, oracleSql =
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
         |ORDER BY doc_id""".stripMargin),

    QuerySpec("d_cdc_apply", (s, dir) => {
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
    }, oracleSql =
      s"""WITH $cdcChangelogCtes,
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
         |FROM merged ORDER BY doc_id""".stripMargin),

    QuerySpec("d_scd2_build", (s, dir) => {
      // SCD-2 history over the same induced changelog: one version
      // row per op with [valid_from_seq, valid_to_seq) intervals,
      // open-ended + non-delete ⇒ is_current — the temporal twin of
      // d_cdc_apply (audit / point-in-time reads). One delta-keyed
      // window; the corpus is never touched.
      val base = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      Corpus.scd2(cdcChangelog(base))
        .orderBy(col("doc_id"), col("version"))
    }, oracleSql =
      s"""WITH $cdcChangelogCtes,
         |v AS (
         |  SELECT doc_id, op, seq,
         |    CAST(row_number() OVER (PARTITION BY doc_id
         |      ORDER BY seq, op, text) AS INTEGER) AS version,
         |    lead(seq) OVER (PARTITION BY doc_id
         |      ORDER BY seq, op, text) AS valid_to_seq
         |  FROM ch)
         |SELECT doc_id, version, op, seq AS valid_from_seq, valid_to_seq,
         |  (valid_to_seq IS NULL AND op <> 'D') AS is_current
         |FROM v ORDER BY doc_id, version""".stripMargin),

    QuerySpec("d_corpus_overlap", (s, dir) => {
      // provenance audit: pairwise 8-gram fingerprint overlap between
      // sources — shared distinct windows, per-source totals, Jaccard
      // (rounded 6 dp; the division operands are exact integers)
      Corpus.corpusOverlap(tbl(s, dir, "documents"), groupCol = "source", n = 8)
        .orderBy(col("src_a"), col("src_b"))
    }, oracleSql =
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
         |ORDER BY src_a, src_b""".stripMargin),

    QuerySpec("d_sample_balanced", (s, dir) => {
      // quota sampling: at most 40 docs per language, lowest portable
      // content-id hashes win — the count-budget twin of d_sample_mix
      Corpus.balancedSample(tbl(s, dir, "documents"), "lang", cap = 40)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("lang"), col("doc_id"))
    }, oracleSql =
      s"""SELECT doc_id, lang, source FROM (
         |  SELECT doc_id, lang, source,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ${sqlHash("CAST(doc_id AS VARCHAR)")}, doc_id) AS rk
         |  FROM documents)
         |WHERE rk <= 40
         |ORDER BY lang, doc_id""".stripMargin),

    QuerySpec("d_sample_community", (s, dir) => {
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
    },
    // community-quota replay: LPA unroll over doc_id-keyed edges, then
    // the balancedSample hash-rank window stratified by the label
    oracleSql =
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
         |ORDER BY community, doc_id""".stripMargin),

    QuerySpec("d_sample_weighted", (s, dir) => {
      // A-Res weighted reservoir: 30 docs per source, inclusion
      // probability proportional to token count — the token-budget
      // sample (weight = a quality/DSIR score works the same way)
      Corpus.weightedSample(tbl(s, dir, "documents"),
          TextAnalysis.tokenCount(col("text")), k = 30, stratumCol = "source")
        .orderBy(col("source"), col("rk"))
    },
    // A-Res replay: u from the portable id hash (exact in a double),
    // key = ln(u)/w computed identically in both engines, 6-dp-rounded
    oracleSql =
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
         |ORDER BY source, rk""".stripMargin),

    QuerySpec("d_sample_temperature", (s, dir) => {
      // XLM-R-style temperature mixing: α=0.5 flattens the language
      // head; quotas from the driver-side contracted-order fold,
      // membership = lowest portable hashes (RNG-free, reproducible)
      Corpus.temperatureSample(tbl(s, dir, "documents"), "lang",
          alpha = 0.5, target = 300L)
        .orderBy(col("doc_id"))
    }, oracleSql =
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
         |ORDER BY doc_id""".stripMargin),

    QuerySpec("d_dedup_containment", (s, dir) => {
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
    }, oracleSql =
      s"""WITH corpus AS ($corpusWithDupsSql
         |UNION ALL SELECT doc_id + 3000000,
         |  coalesce(array_to_string((${sqlToks("text")})[1:12], ' '), '')
         |FROM documents WHERE doc_id % 20 = 0),
         |${ngramPairCtes("corpus")}
         |SELECT a, b, inter, na, nb FROM pairs
         |WHERE inter * 10000 >= 9000 * least(na, nb)
         |ORDER BY a, b""".stripMargin),

    QuerySpec("d_dedup_simhash", (s, dir) => {
      Dedup.simhashPairs(corpusWithDups(tbl(s, dir, "documents")), maxHamming = 3)
        .orderBy(col("a"), col("b"))
    }, oracleSql = {
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
    }),

    QuerySpec("d_dedup_embedding", (s, dir) => {
      Dedup.embeddingCosinePairs(vecsWithDups(tbl(s, dir, "embeddings")),
          threshold = 0.9, nPlanes = 8)
        .select(col("a"), col("b"), round(col("cos"), 6).as("cos"))
        .orderBy(col("a"), col("b"))
    }, oracleSql =
      s"""WITH v AS ($vecsWithDupsSql),
         |b AS (SELECT vec_id, embedding, ${sqlBucket("embedding", 8)} AS bucket FROM v)
         |SELECT x.vec_id AS a, y.vec_id AS b, round(${sqlCos("x.embedding", "y.embedding")}, 6) AS cos
         |FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
         |WHERE ${sqlCos("x.embedding", "y.embedding")} >= 0.9
         |ORDER BY a, b""".stripMargin),

    QuerySpec("d_dedup_semantic", (s, dir) => {
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
    },
    // SemDeDup replay: same centroid modulo sample as s_knn_ivf but
    // with the ⌈√N⌉-scaled cluster count (sqrt/ceil are IEEE-exact in
    // both engines), top-1 argmax assignment, then the survivor rule
    // as NOT IN over the within-cluster ε-ball pairs — integers only,
    // no float rounding
    oracleSql =
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
         |ORDER BY a.vec_id""".stripMargin),

    QuerySpec("d_dedup_cdc_chunks", (s, dir) => {
      // content-defined chunk dedup over the induced-dup corpus:
      // boundaries where the 4-token window hash ≡ 0 (mod 64) — cuts
      // move with CONTENT, so the ' graftdup'-suffixed near-copies
      // share every chunk except the last (the insertion-robustness
      // that fixed-offset chunking provably lacks). Raw text never
      // shuffles (Dedup.cdcChunkDedup); oracle replays cuts, chunk
      // assembly, and first-occurrence ownership in SQL.
      Dedup.cdcChunkDedup(corpusWithDups(tbl(s, dir, "documents")))
        .orderBy(col("doc_id"))
    },
    // CDC replay: window hashes → cut set → running-sum chunk ids →
    // string_agg chunk text → hash60 ownership by (doc_id, chunk_idx)
    oracleSql =
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
         |FROM own GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    QuerySpec("d_zorder", (s, dir) => {
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
    },
    // layout replay: identical unrolled Morton interleave + fixed
    // Z-range / orderkey-range file ids, same bbox-intersection rule
    oracleSql = {
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
    }),

    QuerySpec("d_shard_manifest", (s, dir) => {
      // shard integrity manifest over the same 8-shard layout as
      // d_pack_sequences: counts + id range + order-independent
      // XOR-of-content-hash digest per shard
      Corpus.shardManifest(tbl(s, dir, "documents"), nShards = 8)
        .orderBy(col("shard"))
    }, oracleSql =
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
         |FROM t GROUP BY shard ORDER BY shard""".stripMargin),

    QuerySpec("d_token_budget", (s, dir) => {
      // mixture planning: 1M-token budget at temperature alpha=0.5
      // over the per-source token masses (the table between
      // t_source_audit and d_sample_temperature)
      Corpus.tokenBudget(tbl(s, dir, "documents"), targetTokens = 1000000L,
        alpha = 0.5).orderBy(col("source"))
    }, oracleSql =
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
         |FROM w, t ORDER BY source""".stripMargin),

    QuerySpec("d_curate_e2e", (s, dir) => {
      // the flagship composition: lang → quality → exact dedup →
      // decontamination, reported as the per-stage survival funnel.
      // Corpus = dup-injected documents; benchmark = every 25th doc
      // (same contamination setup as d_decontaminate).
      val corpus = corpusWithDups(tbl(s, dir, "documents"))
      val bench = tbl(s, dir, "documents").where(col("doc_id") % 25 === 0)
        .select(col("text"))
      Corpus.curate(corpus, bench, targetLang = "en", n = 8)
        .orderBy(col("stage"))
    },
    // curation funnel: flags in one pass; keeper/dirty sets computed on
    // quality survivors only (as the operator does); the funnel is 5
    // conditional aggregates over the same flag table
    oracleSql =
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
         |ORDER BY stage""".stripMargin)
  )
}
