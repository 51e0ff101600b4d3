package graft
package queries

import graft.operators._
import graft.queries.Inputs._
import graft.queries.SqlText._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Text analysis: tokenizers, quality and language signals, classifiers
  * and corpus statistics. Each [[QuerySpec]] holds a query's Spark
  * closure and, right after it, the DuckDB SQL its result must match. */
private[graft] object TextQueries extends QueryFamily {
  val prefix = "t"

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

  /** Language-ID prediction replay ending in `lang_pred_t` (doc_id,
    * lang, lang_pred) — the stopword-hit argmax twin of
    * TextAnalysis.langId, shared by t_lang_id and t_lang_confusion.
    */
  private lazy val langPredCte: String = {
    val Seq(de, en, es, fr) = langHits("text")
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

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("t_rouge", (s, dir) => {
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
    },
    // ROUGE replay: same window-hash grams, least() multiset overlap,
    // identical rational shapes
    oracleSql = {
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
    }),

    QuerySpec("t_boilerplate", (s, dir) => {
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
    }, oracleSql =
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
         |ORDER BY source""".stripMargin),

    QuerySpec("t_collocations", (s, dir) => {
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
    },
    // collocations replay: same adjacency pairs, exact counts, ln PMI
    // (DuckDB log() is log10 — ln() here matches Spark's log)
    oracleSql =
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
         |ORDER BY pmi DESC, pr.a, pr.b""".stripMargin),

    QuerySpec("t_heavy_hitters", (s, dir) => {
      // exact heavy-hitter tokens through a bounded-memory plan: a
      // native Misra–Gries TypedImperativeAggregate (≤ k counters per
      // task, mergeable — never the full vocab in a shuffle) proposes
      // candidates, one broadcast-filtered exact pass verifies — the
      // guarantee makes the verified output exact and deterministic,
      // so the oracle is simply the exact frequency threshold.
      TextAnalysis.heavyHitters(tbl(s, dir, "documents"), k = 64)
        .orderBy(col("token"))
    },
    // heavy-hitter oracle: the MG sweep is exact-after-verify, so the
    // replay is just the exact frequency threshold n·65 > N
    oracleSql =
      s"""WITH t AS (
         |  SELECT unnest(${sqlToks("text")}) AS tok FROM documents),
         |tot AS (SELECT count(*) AS nt FROM t),
         |c AS (SELECT tok, count(*) AS n FROM t GROUP BY tok)
         |SELECT tok AS token, CAST(n AS BIGINT) AS n,
         |  CAST(nt AS BIGINT) AS n_total
         |FROM c, tot WHERE n * 65 > nt ORDER BY token""".stripMargin),

    // ---------------------------------------------- text analysis
    QuerySpec("t_token_count", (s, dir) => {
      val d = tbl(s, dir, "documents")
      d.select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.regexTokenCount(col("text")).as("n_pieces"),
        length(col("text")).as("n_chars")
      ).orderBy(col("doc_id"))
    }, oracleSql =
      s"""SELECT doc_id,
         |  CAST(len(${sqlToks("text")}) AS INT) AS n_tokens,
         |  CAST(len(list_filter(regexp_split_to_array(text, '[^A-Za-z0-9]+'), x -> length(x) > 0))
         |    + length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS INT) AS n_pieces,
         |  CAST(length(text) AS INT) AS n_chars
         |FROM documents ORDER BY doc_id""".stripMargin),

    QuerySpec("t_entropy", (s, dir) => {
      // code-point Shannon entropy (map-only native kernel) + the
      // low-entropy junk flag at the corpus median
      tbl(s, dir, "documents")
        .withColumn("entropy", TextAnalysis.charEntropy(col("text")))
        .select(col("doc_id"), col("entropy"),
          (col("entropy") < 2.8).cast("int").as("low_entropy"))
        .orderBy(col("doc_id"))
    },
    // entropy terms are folded in ASCENDING code-point order on both
    // engines (list(c ORDER BY cp) here, sorted-key loop in the
    // kernel) so the doubles agree to the gate's 10 significant digits
    oracleSql =
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
        |ORDER BY d.doc_id""".stripMargin),

    QuerySpec("t_lang_id", (s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    }, oracleSql =
      s"""WITH $langPredCte
         |SELECT doc_id, lang_pred FROM lang_pred_t ORDER BY doc_id""".stripMargin),

    QuerySpec("t_lang_confusion", (s, dir) => {
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
    },
    // classifier-evaluation replay: the shared prediction CTE grouped
    // against the ground-truth label; frac is one exact-int division
    oracleSql =
      s"""WITH $langPredCte,
         |c AS (
         |  SELECT lang, lang_pred, count(*) AS n
         |  FROM lang_pred_t GROUP BY 1, 2)
         |SELECT lang, lang_pred, n,
         |  round(CAST(n AS DOUBLE) /
         |    CAST(sum(n) OVER (PARTITION BY lang) AS DOUBLE), 6) AS frac
         |FROM c ORDER BY lang, lang_pred""".stripMargin),

    QuerySpec("t_score_auc", (s, dir) => {
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
    },
    // exact Mann-Whitney AUC replay over the same (source, score)
    // histogram: 2U = Σ np·(2·cum_neg + nn) stays integral (average-
    // rank ties doubled out), one fixed-shape double division at the
    // end — bit-identical across engines
    oracleSql = {
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
    }),

    QuerySpec("t_quality_score", (s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    }, oracleSql = {
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
    }),

    QuerySpec("t_fingerprint", (s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }, oracleSql =
      s"""SELECT doc_id, ${sqlHash("text")} AS fp
         |FROM documents ORDER BY doc_id""".stripMargin),

    QuerySpec("t_bpe_pairs", (s, dir) => {
      // tokenizer training, iteration-1 statistic: adjacent-character
      // pair counts weighted by word frequency, top 20 — the full
      // iterative merge loop is spec-tested (training's argmax loop
      // has no SQL twin; the ENCODE side does — see t_bpe_encode's
      // recursive-CTE oracle)
      Corpus.bpePairCounts(Corpus.bpeInitialSymbols(tbl(s, dir, "documents")))
        .orderBy(col("pair_count").desc, col("a"), col("b"))
        .limit(20)
    }, oracleSql =
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
         |ORDER BY pair_count DESC, a, b LIMIT 20""".stripMargin),

    QuerySpec("t_bpe_encode", (s, dir) => {
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
    },
    // exact replay of the iterative min-rank BPE encode: each
    // recursion step merges the lowest-rank pair present (CASE arms in
    // rank order = min-rank selection; replace() on the chr(1)-joined
    // symbol string is leftmost-first non-overlapping, the kernel's
    // one-round rewrite). Fixpoint rows (no learned pair left) are the
    // final encodes. Assumes chr(1) never occurs in a word.
    oracleSql = {
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
    }),

    QuerySpec("t_bpe_fertility", (s, dir) => {
      // tokenizer-eval metric: pieces per word by language under the
      // fixed 8-merge table — English words hit the en-drawn merges
      // more often, so its fertility lands visibly below the others
      Corpus.bpeFertility(tbl(s, dir, "documents"), BpeQueryMerges, "lang")
        .orderBy(col("lang"))
    },
    // fertility replay: same recursive-CTE encode as t_bpe_encode but
    // over the DISTINCT (lang, word) frequency table, weighted by
    // count — mirroring the operator's vocab-bounded shape exactly
    oracleSql = {
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
    }),

    QuerySpec("t_vocab_stats", (s, dir) => {
      // per-source corpus-health row: tokens, types, hapaxes, TTR —
      // the Heaps/Zipf diagnostic read per crawl slice
      TextAnalysis.vocabStats(tbl(s, dir, "documents"), "source")
        .orderBy(col("source"))
    }, oracleSql =
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
         |ORDER BY source""".stripMargin),

    QuerySpec("t_unigram_lm", (s, dir) => {
      // rare-token quality signal: score the full corpus against the
      // unigram distribution of a reference half (even doc ids) —
      // integer sufficient statistics, so the gate is exact
      val docs = tbl(s, dir, "documents")
      TextAnalysis.unigramScore(docs, docs.where(col("doc_id") % 2 === 0))
        .orderBy(col("doc_id"))
    }, oracleSql =
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
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    QuerySpec("t_bigram_lm", (s, dir) => {
      // CCNet-style LM filter statistic, one order up from unigram:
      // bigram hits + Katz-backoff mass against the even-id reference
      // half — integer sufficient statistics, so the gate is exact
      val docs = tbl(s, dir, "documents")
      TextAnalysis.bigramScore(docs, docs.where(col("doc_id") % 2 === 0))
        .orderBy(col("doc_id"))
    }, oracleSql =
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
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    QuerySpec("t_dsir_weights", (s, dir) => {
      // DSIR importance weights: hashed-bigram (4096 buckets)
      // log-likelihood ratio of the English slice vs the whole corpus
      // — the "tilt the raw corpus toward the target domain" score.
      // n_feat anchors the gate exactly; log_weight rounds to 6 dp
      TextAnalysis.dsirWeights(tbl(s, dir, "documents"),
          isTarget = col("lang") === "en", nBuckets = 4096)
        .orderBy(col("doc_id"))
    }, oracleSql =
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
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    QuerySpec("t_nb_classifier", (s, dir) => {
      // trained linear filter, the DCLM/RefinedWeb curation shape:
      // multinomial NB over portable token hashes, trained on the
      // even-id half labeled by lang, argmax class per document.
      // Integer n_tokens/n_hits anchor the gate; score rounds to 6 dp
      val docs = tbl(s, dir, "documents")
      TextAnalysis.naiveBayesClassify(
          docs, docs.where(col("doc_id") % 2 === 0), labelCol = "lang")
        .orderBy(col("doc_id"))
    },
    // DSIR replay: hashed-bigram bucket model (the d_repeated_spans
    // window-hash twin at n=2, folded mod 4096), add-one-smoothed
    // target/raw log-ratio summed per document. The ln-term sum is the
    // only float and rounds to 6 dp; n_feat anchors the gate exactly
    oracleSql =
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
         |WHERE rk = 1 ORDER BY doc_id""".stripMargin),

    QuerySpec("t_tfidf_keywords", (s, dir) => {
      // corpus-statistical keyword extraction: top-3 tf·ln(N/df)
      // terms per document, rank over the rounded score (a single
      // deterministic product per term — no sum-order sensitivity)
      Retrieval.tfidfKeywords(tbl(s, dir, "documents"), k = 3)
        .orderBy(col("doc_id"), col("rank"))
    },
    // tf-idf replay: same postings CTE shape as s_bm25; the score is
    // one product per (doc, term) so round(…, 6) + the term tie-break
    // pins the rank across engines
    oracleSql =
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
         |ORDER BY doc_id, rank""".stripMargin),

    QuerySpec("t_quality_buckets", (s, dir) => {
      // CCNet head/middle/tail corpus partition at the rank-exact 1/3
      // and 2/3 points of the integer OOV-rate distribution
      val docs = tbl(s, dir, "documents")
      TextAnalysis.qualityBuckets(docs, docs.where(col("doc_id") % 2 === 0))
        .orderBy(col("doc_id"))
    }, oracleSql =
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
         |FROM scored, th ORDER BY doc_id""".stripMargin),

    QuerySpec("t_clean_text", (s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.cleanText(col("text")).as("clean"))
        .withColumn("n_chars_clean", length(col("clean")))
        .orderBy(col("doc_id"))
    }, oracleSql =
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
        |FROM documents ORDER BY doc_id""".stripMargin),

    QuerySpec("t_repetition", (s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.lineStats(col("text")).as("ls"))
        .select(col("doc_id"), col("ls.n_lines"), col("ls.n_distinct_lines"))
        .orderBy(col("doc_id"))
    }, oracleSql =
      """SELECT doc_id,
        |  CAST(len(lines) AS INT) AS n_lines,
        |  CAST(len(list_distinct(lines)) AS INT) AS n_distinct_lines
        |FROM (
        |  SELECT doc_id,
        |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
        |                l -> length(l) > 0) AS lines
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin),

    QuerySpec("t_pii_redact", (s, dir) => {
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
    }, oracleSql =
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
        |FROM d ORDER BY doc_id""".stripMargin),

    QuerySpec("t_corpus_filter", (s, dir) => {
      TextAnalysis.corpusFilter(tbl(s, dir, "documents")).orderBy(col("doc_id"))
    }, oracleSql =
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
         |FROM r ORDER BY doc_id""".stripMargin),

    QuerySpec("t_zipf_fit", (s, dir) => {
      // Zipf slope/R² per language over the top-1000 token ranks —
      // the corpus-health fit (natural text ≈ −1)
      TextAnalysis.zipfFit(tbl(s, dir, "documents"), "lang", topV = 1000)
        .orderBy(col("lang"))
    },
    // Zipf replay: identical rank table, sums folded by ordered
    // list_reduce (the contracted-order float contract), identical
    // arithmetic shape for slope/intercept/r2
    oracleSql =
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
         |FROM s ORDER BY lang""".stripMargin),

    QuerySpec("t_code_detect", (s, dir) => {
      // code-vs-prose routing (mixed-crawl separation): structural
      // heuristics over exact integer counts, map-only
      TextAnalysis.codeDetect(tbl(s, dir, "documents")).orderBy(col("doc_id"))
    }, oracleSql =
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
         |FROM r ORDER BY doc_id""".stripMargin),

    QuerySpec("t_readability", (s, dir) => {
      // Flesch reading ease + FK grade from vowel-group syllables —
      // map-only counting expressions, exact-integer inputs
      TextAnalysis.readability(tbl(s, dir, "documents")).orderBy(col("doc_id"))
    }, oracleSql =
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
         |FROM t ORDER BY doc_id""".stripMargin),

    QuerySpec("t_vocab_coverage", (s, dir) => {
      // top-k vocabulary coverage curve (vocab-sizing diagnostic);
      // top-k via TakeOrdered, no full-vocab single-partition sort
      TextAnalysis.vocabCoverage(tbl(s, dir, "documents"))
    }, oracleSql =
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
         |FROM cov, tot ORDER BY k""".stripMargin),

    QuerySpec("t_gopher_rules", (s, dir) => {
      // the published Gopher/MassiveText rule set with the paper's
      // thresholds; line/word-structure signals + first failing rule
      TextAnalysis.gopherRules(tbl(s, dir, "documents")).orderBy(col("doc_id"))
    },
    // Gopher rule replay: every signal is a count of list_filter hits
    // or a replace()-delta, fractions are single divisions of exact
    // integer-valued doubles; CASE order mirrors the paper's rule order
    oracleSql =
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
         |FROM r ORDER BY doc_id""".stripMargin),

    QuerySpec("t_source_audit", (s, dir) => {
      TextAnalysis.sourceAudit(tbl(s, dir, "documents")).orderBy(col("source"))
    }, oracleSql =
      s"""WITH k AS (
         |  SELECT source, len(${sqlToks("text")}) AS n_tok, ${sqlHash("text")} AS h,
         |    CASE WHEN ${sqlKeep("text")} THEN 1 ELSE 0 END AS keep
         |  FROM documents)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(count(DISTINCT h) AS BIGINT) AS n_distinct,
         |  CAST(count(*) - count(DISTINCT h) AS BIGINT) AS n_exact_dups,
         |  round(avg(CAST(keep AS DOUBLE)), 6) AS keep_rate
         |FROM k GROUP BY source ORDER BY source""".stripMargin)
  )
}
