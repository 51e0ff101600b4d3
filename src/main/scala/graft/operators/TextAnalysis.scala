package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines: token
  * counting, language ID, quality scoring, fingerprinting. All pure
  * column expressions — map-only at any scale, and each has a DuckDB
  * twin so the driver oracle verifies values exactly.
  */
object TextAnalysis {

  /** Whitespace token count (native one-pass scan). */
  def tokenCount(text: Column): Column = graft.functions.native.tokenCount(text)

  /** BPE-ish token count: alphanumeric runs + individual
    * punctuation/symbol characters — approximates BPE piece counts
    * without engine-specific regex features (no lookarounds: the
    * DuckDB oracle's RE2 has none). Native one-pass scan
    * (property-tested against the defining two-regex formulation,
    * which rebuilt a token array and a stripped text copy per row).
    */
  def regexTokenCount(text: Column): Column =
    graft.functions.native.pieceCount(text)

  /** Tiny per-language stopword lists for the n-gram/stopword language
    * heuristic. Deliberately small + deterministic.
    */
  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "des", "que"),
    "es" -> Seq("el", "la", "los", "y", "es", "una", "de", "que")
  )

  /** Language ID: count stopword hits per language; highest count wins
    * (ties: alphabetical language code), "und" (undetermined) when no
    * stopword appears.
    */
  def langId(text: Column, stopwords: Map[String, Seq[String]] = Stopwords): Column =
    graft.functions.native.bestLabel(text, stopwords.toSeq, fallback = "und")

  /** Quality score in [0,100]: rewards mid-length docs, penalizes
    * punctuation/symbol density, rewards (any-language) stopword
    * presence. Integer arithmetic where possible so Spark and DuckDB
    * agree bit-for-bit.
    */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val nChars = length(text).cast("double")
    val punct = length(regexp_replace(text, "[A-Za-z0-9\\s]", "")).cast("double")
    val allStop = Stopwords.values.flatten.toSeq.distinct
    val stopHits = graft.functions.native.vocabHits(text, allStop).cast("double")
    val lengthScore = when(nTok >= 20 && nTok <= 5000, 40.0)
      .when(nTok > 0, 20.0).otherwise(0.0)
    val punctScore = when(nChars === 0, 0.0)
      .when(punct / nChars <= 0.1, 30.0)
      .when(punct / nChars <= 0.3, 15.0)
      .otherwise(0.0)
    val stopScore = when(nTok === 0, 0.0)
      .when(stopHits / nTok >= 0.05, 30.0)
      .when(stopHits > 0, 15.0)
      .otherwise(0.0)
    (lengthScore + punctScore + stopScore).cast("int")
  }

  /** Zipf-law fit per group: least-squares slope / intercept / R² of
    * ln(freq) against ln(rank) over the group's `topV` most frequent
    * tokens — the corpus-health statistic (natural language tracks
    * slope ≈ −1; template/boilerplate or machine-generated corpora
    * deviate, so a drifting slope between snapshots is a cheap
    * ingestion alarm).
    *
    * Scale shape: the corpus reduces to a (group, token, count) table
    * (one shuffle, map-side combined); rank-within-group filters at a
    * LITERAL topV so Spark 4 rewrites it to WindowGroupLimit (map
    * tasks pre-prune before the exchange); the regression then runs
    * over ≤ topV rows per group. Float contract: the five sums fold
    * over a rank-SORTED collected array (contracted association
    * order, the t_entropy contract), so DuckDB's ordered list_reduce
    * replays them term-for-term — the only cross-engine noise is
    * ln() ulps, absorbed by the 10-significant-digit compare.
    */
  def zipfFit(docs: DataFrame, groupCol: String = "lang",
              topV: Int = 1000): DataFrame = {
    require(topV >= 3, "need at least 3 ranks to fit")
    val tc = docs
      .select(col(groupCol).as("g"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy(col("g"), col("tok")).agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("c").desc, col("tok").asc)
    val top = tc.withColumn("r", row_number().over(w)).where(col("r") <= topV)
      .select(col("g"), col("r"),
        log(col("r").cast("double")).as("x"), log(col("c").cast("double")).as("y"))
    val folded = top.groupBy(col("g")).agg(
      count(lit(1)).as("v"),
      sort_array(collect_list(struct(col("r"), col("x"), col("y")))).as("a"))
    def fld(e: Column => Column): Column =
      aggregate(col("a"), lit(0.0), (acc, s) => acc + e(s))
    val sums = folded
      .select(col("g"), col("v"), col("v").cast("double").as("vd"),
        fld(_.getField("x")).as("sx"), fld(_.getField("y")).as("sy"),
        fld(s => s.getField("x") * s.getField("y")).as("sxy"),
        fld(s => s.getField("x") * s.getField("x")).as("sxx"),
        fld(s => s.getField("y") * s.getField("y")).as("syy"))
      .where(col("v") >= 3)
    // the same literal arithmetic SHAPE as the DuckDB oracle — operand
    // order matters for bit-level agreement, don't refactor
    val slope = (col("vd") * col("sxy") - col("sx") * col("sy")) /
      (col("vd") * col("sxx") - col("sx") * col("sx"))
    sums.select(col("g").as(groupCol), col("v"),
      slope.as("slope"),
      ((col("sy") - slope * col("sx")) / col("vd")).as("intercept"),
      (((col("vd") * col("sxy") - col("sx") * col("sy")) *
        (col("vd") * col("sxy") - col("sx") * col("sy"))) /
        ((col("vd") * col("sxx") - col("sx") * col("sx")) *
          (col("vd") * col("syy") - col("sy") * col("sy")))).as("r2"))
  }

  /** Gopher stopwords (Rae et al. 2021, MassiveText appendix A1.1):
    * a document must contain at least `minStopwords` of these to pass
    * the rule set.
    */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher/MassiveText quality rule set (Rae et al. 2021 appendix
    * A1.1) — the published heuristic filter for web-scale pretraining
    * corpora, complementing [[corpusFilter]]'s generic length/symbol
    * bounds with the line- and word-STRUCTURE signals: fraction of
    * lines starting with a bullet, fraction ending in an ellipsis,
    * fraction of words containing an alphabetic character, and
    * required-stopword presence. Emits every signal plus the FIRST
    * failing rule (rules applied in the paper's order), so a corpus
    * operator can audit *why* mass was dropped, not just how much.
    *
    * Scale shape: pure column expressions over each row (split/filter
    * HOFs and regexes, all codegen'd) — map-only at any scale, no
    * shuffle, no UDF. Fractions are single divisions of exact
    * integer-valued doubles, so the DuckDB oracle matches
    * bit-for-bit.
    */
  def gopherRules(docs: DataFrame,
                  minWords: Int = 50, maxWords: Int = 100000,
                  minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                  maxSymbolRatio: Double = 0.1,
                  maxBulletFrac: Double = 0.9, maxEllipsisFrac: Double = 0.3,
                  minAlphaFrac: Double = 0.8, minStopwords: Int = 2): DataFrame = {
    val text = col("text")
    val nWords = tokenCount(text)
    val tokChars = length(regexp_replace(text, "\\s+", ""))
    // Gopher's "symbols": '#' plus ellipses (both the three-dot and the
    // unicode form), as a ratio to WORDS not characters. replace() is
    // leftmost non-overlapping in both engines, so the '...' count is
    // the same integer everywhere.
    val nHash = length(text) - length(regexp_replace(text, "#", ""))
    val nEll3 = (length(text) - length(regexp_replace(text, "\\.\\.\\.", ""))) / lit(3)
    val nEllU = length(text) - length(regexp_replace(text, "…", ""))
    val lines = split(text, "\n", -1)
    val nLines = size(filter(lines, l => length(trim(l)) > 0))
    val nBullet = size(filter(lines, l => l.rlike("^\\s*[-*•]")))
    val nEllLines = size(filter(lines, l => l.rlike("(\\.\\.\\.|…)\\s*$")))
    val nAlpha = size(filter(split(text, "\\s+", -1), w => w.rlike("[A-Za-z]")))
    val nStop = GopherStopwords
      .map(s => when(lower(text).rlike("\\b" + s + "\\b"), 1).otherwise(0))
      .reduce(_ + _)
    docs
      .withColumn("n_words", nWords)
      .withColumn("mean_word_len",
        when(col("n_words") > 0, tokChars.cast("double") / col("n_words")).otherwise(0.0))
      .withColumn("symbol_ratio",
        when(col("n_words") > 0,
          (nHash.cast("double") + nEll3 + nEllU.cast("double")) / col("n_words"))
          .otherwise(0.0))
      .withColumn("bullet_frac",
        when(nLines > 0, nBullet.cast("double") / nLines.cast("double")).otherwise(0.0))
      .withColumn("ellipsis_frac",
        when(nLines > 0, nEllLines.cast("double") / nLines.cast("double")).otherwise(0.0))
      .withColumn("alpha_frac",
        when(col("n_words") > 0, nAlpha.cast("double") / col("n_words")).otherwise(0.0))
      .withColumn("n_stopwords", nStop)
      .withColumn("reason",
        when(col("n_words") < minWords, "too_few_words")
          .when(col("n_words") > maxWords, "too_many_words")
          .when(col("mean_word_len") < minMeanWordLen, "word_len_low")
          .when(col("mean_word_len") > maxMeanWordLen, "word_len_high")
          .when(col("symbol_ratio") > maxSymbolRatio, "symbol_ratio")
          .when(col("bullet_frac") > maxBulletFrac, "bullet_lines")
          .when(col("ellipsis_frac") > maxEllipsisFrac, "ellipsis_lines")
          .when(col("alpha_frac") < minAlphaFrac, "non_alpha_words")
          .when(col("n_stopwords") < minStopwords, "few_stopwords")
          .otherwise("ok"))
      .withColumn("keep", (col("reason") === "ok").cast("int"))
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("symbol_ratio"), col("bullet_frac"), col("ellipsis_frac"),
        col("alpha_frac"), col("n_stopwords"), col("reason"), col("keep"))
  }

  /** Document fingerprint: portable polynomial rolling hash (see
    * TextFunctions.portableHash for the DuckDB twin).
    */
  def fingerprint(text: Column): Column = TextFunctions.fingerprint(text)

  /** Code-point Shannon entropy (nats) — the cheap junk detector:
    * base64/minified blobs score high, stutter and padding boilerplate
    * score low. One-pass native kernel ([[graft.functions.native.charEntropy]]),
    * codegen-inlined, map-only at any scale.
    */
  def charEntropy(text: Column): Column = graft.functions.native.charEntropy(text)

  /** C4-style cleaning: strip URLs and e-mail addresses, collapse
    * whitespace runs, trim. Pure regex column ops (codegen'd).
    */
  def cleanText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(text, "https?://[^\\s]+", ""),
        "[^\\s]+@[^\\s]+\\.[^\\s]+", ""),
      "\\s+", " "))

  /** Gopher-style repetition signal: total vs distinct non-empty lines
    * (a doc dominated by repeated lines is boilerplate). Returns a
    * struct (n_lines, n_distinct_lines).
    */
  def lineStats(text: Column): Column = {
    val lines = filter(transform(split(text, "\n"), l => trim(l)), l => length(l) > 0)
    struct(
      size(lines).as("n_lines"),
      size(array_distinct(lines)).as("n_distinct_lines")
    )
  }

  /** PII patterns, deliberately restricted to syntax shared by Java
    * regex and RE2 (the DuckDB oracle): no lookarounds, ASCII word
    * boundaries only.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Per-category PII match counts on the ORIGINAL text (order-
    * independent, so counts don't depend on redaction sequence).
    */
  def piiCounts(text: Column): Column = struct(
    regexp_count(text, lit(EmailPattern)).as("n_emails"),
    regexp_count(text, lit(PhonePattern)).as("n_phones"),
    regexp_count(text, lit(Ipv4Pattern)).as("n_ips")
  )

  /** PII redaction: replace e-mail addresses, NANP-style phone numbers
    * and IPv4 addresses with typed placeholders. Fixed application
    * order (email → phone → ip) because redaction output feeds the next
    * pattern; the phone pattern cannot match inside an IPv4 (needs a
    * 4-digit run after the second separator) so the order is total.
    * Pure regex column ops — map-only, codegen'd, no shuffle at any
    * scale (the standard C4/Dolma-style scrub pass).
    */
  def piiRedact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "<EMAIL>"),
        PhonePattern, "<PHONE>"),
      Ipv4Pattern, "<IP>")

  /** Composite C4/Gopher-style corpus filter: token-count window, mean
    * token length window, symbol-density cap. Emits every document with
    * its signals, an integer keep flag and the FIRST failing rule (or
    * 'ok') — the audit-friendly shape: a 100 TB filter run wants "why
    * was this dropped" attached to every row, not a silent subset.
    * All signals are single-pass column expressions; the filter is
    * map-only at any scale.
    */
  /** Per-source corpus audit — the "domain mix" table every web-scale
    * data report opens with: how much of the corpus each source
    * contributes (docs, tokens), how internally duplicated it is, and
    * what fraction passes the quality gate. Read next to
    * [[vocabStats]] (type/hapax health) and Corpus.corpusOverlap
    * (cross-source n-gram sharing) when deciding per-source sampling
    * weights (Corpus.temperatureSample).
    *
    * Scale shape: ONE aggregate. Every signal is a map-only column
    * expression (native tokenCount, corpusFilterKeep, polyHash);
    * distinct texts are counted on the 8-byte content hash, so the
    * shuffle carries (source, longs) — raw text never moves. Output
    * is |sources| rows.
    */
  def sourceAudit(docs: DataFrame, sourceCol: String = "source"): DataFrame =
    docs
      .select(col(sourceCol).as("source"),
        tokenCount(col("text")).as("n_tok"),
        graft.functions.native.polyHash(col("text")).as("h"),
        corpusFilterKeep(col("text")).cast("int").as("keep"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok").cast("long")).as("n_tokens"),
        countDistinct(col("h")).as("n_distinct"),
        (count(lit(1)) - countDistinct(col("h"))).as("n_exact_dups"),
        round(avg(col("keep").cast("double")), 6).as("keep_rate"))

  /** Column-level twin of [[corpusFilter]]'s keep decision — the same
    * rules as one boolean expression, for pipelines (Corpus.curate)
    * that want the gate riding an existing projection instead of a
    * separate audit DataFrame. Rule thresholds are compared the exact
    * same way (strict inequalities on the same derived signals), so
    * `corpusFilterKeep(text)` ⇔ `corpusFilter(df).keep = 1` row-wise.
    */
  def corpusFilterKeep(text: Column,
                       minTokens: Int = 25, maxTokens: Int = 50000,
                       minMeanTokLen: Double = 2.0, maxMeanTokLen: Double = 12.0,
                       maxSymbolRatio: Double = 0.3): Column = {
    val nTok = tokenCount(text)
    val nChars = length(text)
    val tokChars = length(regexp_replace(text, "\\s+", ""))
    val symbols = length(regexp_replace(text, "[A-Za-z0-9\\s]", ""))
    val meanTokLen = when(nTok > 0, tokChars.cast("double") / nTok).otherwise(0.0)
    val symbolRatio = when(nChars > 0, symbols.cast("double") / nChars.cast("double")).otherwise(0.0)
    nTok >= minTokens && nTok <= maxTokens &&
      meanTokLen >= minMeanTokLen && meanTokLen <= maxMeanTokLen &&
      symbolRatio <= maxSymbolRatio
  }

  def corpusFilter(docs: DataFrame,
                   minTokens: Int = 25, maxTokens: Int = 50000,
                   minMeanTokLen: Double = 2.0, maxMeanTokLen: Double = 12.0,
                   maxSymbolRatio: Double = 0.3): DataFrame = {
    val nTok = tokenCount(col("text"))
    val nChars = length(col("text"))
    // non-whitespace chars = total token length (whitespace tokenizer)
    val tokChars = length(regexp_replace(col("text"), "\\s+", ""))
    val symbols = length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", ""))
    docs
      .withColumn("n_tok", nTok)
      .withColumn("n_chars", nChars.cast("long"))
      .withColumn("mean_tok_len",
        when(col("n_tok") > 0, tokChars.cast("double") / col("n_tok")).otherwise(0.0))
      .withColumn("symbol_ratio",
        when(nChars > 0, symbols.cast("double") / nChars.cast("double")).otherwise(0.0))
      .withColumn("reason",
        when(col("n_tok") < minTokens, "too_short")
          .when(col("n_tok") > maxTokens, "too_long")
          .when(col("mean_tok_len") < minMeanTokLen, "tokens_too_short")
          .when(col("mean_tok_len") > maxMeanTokLen, "tokens_too_long")
          .when(col("symbol_ratio") > maxSymbolRatio, "too_many_symbols")
          .otherwise("ok"))
      .withColumn("keep", (col("reason") === "ok").cast("int"))
      .select(col("doc_id"), col("n_tok"), col("n_chars"), col("mean_tok_len"),
        col("symbol_ratio"), col("reason"), col("keep"))
  }

  /** Per-group corpus vocabulary statistics — the corpus-health
    * dashboard row (Heaps/Zipf diagnostics): token count, distinct
    * type count, hapax-legomena count (types occurring exactly once),
    * and type-token ratio per group. A collapsing TTR or a hapax
    * spike is the standard early-warning for template spam or
    * boilerplate floods in a crawl slice, read per source/snapshot.
    *
    * Scale shape: ONE map-side-combined (group, token) aggregate
    * reduces the corpus to its vocabulary (≤ |groups|·|vocab| rows ≪
    * corpus); the per-group rollup and the doc-count aggregate are
    * both bounded, joined at |groups| rows. Types are counted on the
    * raw token STRINGS — a hashed vocabulary would undercount types
    * by its collision rate, and tokens are short enough that the one
    * vocab shuffle is immaterial.
    */
  def vocabStats(docs: DataFrame, groupCol: String = "source"): DataFrame = {
    val tc = docs
      .select(col(groupCol).as("g"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy(col("g"), col("tok")).agg(count(lit(1)).as("c"))
    val stats = tc.groupBy(col("g")).agg(
      sum(col("c")).as("n_tokens"),
      count(lit(1)).as("n_types"),
      sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
    docs.groupBy(col(groupCol).as("g")).agg(count(lit(1)).as("n_docs"))
      .join(stats, Seq("g"), "left")
      .select(col("g").as(groupCol), col("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_types"), lit(0L)).as("n_types"),
        coalesce(col("n_hapax"), lit(0L)).as("n_hapax"),
        when(coalesce(col("n_tokens"), lit(0L)) > 0,
          round(col("n_types").cast("double") / col("n_tokens"), 6))
          .otherwise(0.0).as("ttr"))
  }

  /** `cols` of `df` with one row per token of its `text`, the
    * token's hash as column `hashCol`. Fused kernel: lower + tokenize
    * + per-token hash in one scan-stage pass — no per-token UTF8String
    * materialization (hash values are polyHash bit-for-bit). */
  private def hashedTokens(df: DataFrame, hashCol: String, cols: Column*): DataFrame =
    df.select(cols :+ explode(graft.functions.native
      .tokenPolyHashes(col("text"), lowercase = true)).as(hashCol): _*)

  /** Unigram corpus-frequency scoring — the CCNet-style "how rare are
    * this document's tokens against a reference corpus" quality signal
    * (CCNet scores with a wiki-trained KenLM; with no model downloads,
    * the unigram distribution of a reference corpus is the hermetic
    * stand-in, and the sufficient statistics below are exact integers
    * so the oracle gate is bit-precise — callers derive any smoothed
    * log-prob score from them). Output per document: n_tokens, n_oov
    * (tokens unseen in the reference), freq_sum (sum of reference
    * frequencies), min_freq (rarest token's frequency, 0 if OOV).
    *
    * Scale shape: the vocabulary aggregate is map-side combined into
    * ≤|vocab| rows (≪ corpus); both sides key on the 8-byte portable
    * token hash, so the frequency join shuffles (doc_id, hash) longs —
    * never token strings — and AQE broadcasts the vocab side whenever
    * it fits. Self-scoring (reference = documents) is the common
    * corpus-stats pass; a curated reference corpus plugs in unchanged.
    */
  def unigramScore(documents: DataFrame, reference: DataFrame): DataFrame = {
    val vocab = hashedTokens(reference, "h")
      .groupBy(col("h")).agg(count(lit(1)).as("cnt"))
    hashedTokens(documents, "h", col("doc_id"))
      .join(vocab, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("cnt").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(coalesce(col("cnt"), lit(0L))).as("freq_sum"),
        min(coalesce(col("cnt"), lit(0L))).as("min_freq"))
  }

  /** Bigram-LM scoring with unigram backoff — the CCNet-style
    * perplexity-filter statistic one step up from [[unigramScore]]
    * (Wenzek et al., "CCNet: Extracting High Quality Monolingual
    * Datasets from Web Crawl Data" filters corpora by reference-LM
    * perplexity; a count-based bigram model is its distributed,
    * engine-exact core). Emits INTEGER sufficient statistics per
    * document — n_bigrams, n_bg_oov (bigrams unseen in the
    * reference), bg_freq_sum (sum of reference bigram counts), and
    * backoff_freq_sum (for OOV bigrams, the reference unigram count
    * of the continuation token — the Katz-backoff mass) — from which
    * any smoothing formula is a deterministic map-only function;
    * keeping floats out of the operator keeps the cross-engine gate
    * exact. Documents with fewer than 2 tokens have no bigram and no
    * output row.
    *
    * Scale shape: both vocab tables aggregate map-side to ≤|vocab|
    * rows (≪ corpus) and join the document side by AQE broadcast —
    * the corpus-sized stream of (doc_id, h1, h2) longs (token text
    * never leaves the scan) flows shuffle-free into the single
    * groupBy(doc_id) exchange. Bigram identity is the exact
    * (h1, h2) pair of two portable token hashes — no combined
    * bigram hash, so no birthday-collision surface at 10^10+
    * distinct bigrams.
    */
  def bigramScore(documents: DataFrame, reference: DataFrame): DataFrame = {
    def hashedBigrams(df: DataFrame, cols: Column*): DataFrame = {
      val hs = graft.functions.native.tokenPolyHashes(col("text"), lowercase = true)
      df.select(cols :+ hs.as("hs"): _*)
        .where(size(col("hs")) >= 2)
        .select(cols :+ explode(transform(sequence(lit(0), size(col("hs")) - 2),
          i => struct(element_at(col("hs"), i + 1).as("h1"),
            element_at(col("hs"), i + 2).as("h2")))).as("b"): _*)
        .select(cols :+ col("b.h1") :+ col("b.h2"): _*)
    }
    val bgVocab = hashedBigrams(reference)
      .groupBy(col("h1"), col("h2")).agg(count(lit(1)).as("bg_cnt"))
    val uniVocab = hashedTokens(reference, "h2")
      .groupBy(col("h2")).agg(count(lit(1)).as("uni_cnt"))
    hashedBigrams(documents, col("doc_id"))
      .join(bgVocab, Seq("h1", "h2"), "left")
      .join(uniVocab, Seq("h2"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("bg_cnt").isNull, 1L).otherwise(0L)).as("n_bg_oov"),
        sum(coalesce(col("bg_cnt"), lit(0L))).as("bg_freq_sum"),
        sum(when(col("bg_cnt").isNull, coalesce(col("uni_cnt"), lit(0L)))
          .otherwise(0L)).as("backoff_freq_sum"))
  }

  /** DSIR importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling"): score every raw
    * document by the log-likelihood ratio of two hashed-bigram
    * bag-of-words models — one fit on the TARGET distribution
    * (`isTarget` rows, e.g. a curated high-quality slice), one on the
    * full raw corpus — with add-one smoothing over the `nBuckets`
    * feature space. Resampling by these weights tilts a web-scale
    * corpus toward the target domain; the weight is
    * Σ_features [ln p_target(b) − ln p_raw(b)].
    *
    * Hash-bucket collisions are PART of the model (the paper's hashed
    * n-gram features), not corruption — so the ~60-bit window hash
    * folds to `nBuckets` by plain modulo and the bucket model is the
    * estimand itself. Emits (doc_id, n_feat, log_weight): n_feat is
    * the exact integer anchor; log_weight rounds to 6 dp because the
    * per-document sum of ln terms is association-order sensitive
    * across engines. Documents with < 2 tokens have no feature and no
    * output row.
    *
    * Scale shape: one corpus pass aggregates the bucket model
    * map-side into ≤ `nBuckets` rows (checkpointed once — totals and
    * the scoring join both read it); the scoring pass joins the
    * corpus feature stream against that broadcast table and folds
    * into the single groupBy(doc_id) exchange, which moves one
    * (doc_id, double, long) triple per map-side-combined document.
    */
  def dsirWeights(documents: DataFrame, isTarget: Column,
                  nBuckets: Int = 4096): DataFrame = {
    def feats = documents
      .select(col("doc_id"), isTarget.as("is_target"),
        explode(graft.functions.native.positionalWindowHashes(
          lower(col("text")), 2, wide = true)).as("h"))
      .select(col("doc_id"), col("is_target"),
        pmod(col("h"), lit(nBuckets.toLong)).as("bucket"))
    val model = feats.groupBy(col("bucket"))
      .agg(
        sum(when(col("is_target"), 1L).otherwise(0L)).as("tc"),
        count(lit(1)).as("rc"))
      .localCheckpoint(true)
    // two exact-integer totals to the driver from the bounded model
    // table (the corpus never collects)
    val tot = model.agg(sum(col("tc")), sum(col("rc"))).head()
    val (tTot, rTot) = (tot.getLong(0), tot.getLong(1))
    feats.join(broadcast(model), Seq("bucket"))
      .select(col("doc_id"),
        (log((col("tc") + lit(1.0)) / lit((tTot + nBuckets).toDouble)) -
          log((col("rc") + lit(1.0)) / lit((rTot + nBuckets).toDouble))).as("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feat"),
        round(sum(col("term")), 6).as("log_weight"))
  }

  /** CCNet-style corpus partition into head/middle/tail quality
    * buckets (Wenzek et al. split each language's corpus at the 1/3
    * and 2/3 points of the per-document LM score distribution and
    * train on the head). Score: per-document OOV rate vs the
    * reference vocabulary in parts-per-million — an INTEGER in
    * [0, 1e6], so thresholds and buckets are engine-exact. Bucket
    * boundaries are rank-defined (no engine percentile formula):
    * t_k = the smallest score with at least ceil(k·n/3) documents at
    * or below it; head = score ≤ t1 (lowest OOV = most reference-like,
    * the CCNet convention), middle ≤ t2, else tail.
    *
    * Scale shape: NOT a global ntile window (that single-partitions
    * the corpus). The score distribution aggregates to ≤ 1e6+1
    * (score, count) rows — bounded by the score RANGE, not the corpus
    * — so the cumulative rank runs on a bounded table, the two
    * thresholds reduce to one broadcast row, and bucketing is a
    * map-only comparison. Documents with zero tokens have no score
    * and no output row (unigramScore drops them).
    */
  def qualityBuckets(documents: DataFrame, reference: DataFrame): DataFrame = {
    // materialized once (16 bytes/doc — doc-proportional, not
    // token-proportional): three consumers below (distribution, corpus
    // count, final bucket join) would otherwise re-execute the full
    // vocab-join scoring scan per consumer — same trade as the ngram
    // pair checkpoint (Dedup.ngramJaccardPairs)
    val scored = unigramScore(documents, reference)
      .select(col("doc_id"),
        expr("n_oov * 1000000 div n_tokens").as("score"))
      .localCheckpoint(true)
    val dist = scored.groupBy(col("score")).agg(count(lit(1)).as("cnt"))
    val cum = dist.withColumn("cum",
      sum(col("cnt")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("score"))))
    val thresholds = cum
      .crossJoin(broadcast(scored.agg(count(lit(1)).as("n"))))
      .agg(
        min(when(col("cum") * 3 >= col("n"), col("score"))).as("t1"),
        min(when(col("cum") * 3 >= col("n") * 2, col("score"))).as("t2"))
    scored.crossJoin(broadcast(thresholds))
      .select(col("doc_id"), col("score"),
        when(col("score") <= col("t1"), "head")
          .when(col("score") <= col("t2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Multinomial Naive Bayes text classifier, train + score in one
    * operator: learn per-class token distributions from a labeled
    * training set, score every document against every class with
    * Laplace-smoothed log-likelihoods, and return each document's
    * argmax class — the cheap-linear-classifier filter shape modern
    * curation pipelines run corpus-wide (DCLM / RefinedWeb gate on a
    * fasttext-style bag-of-words model; count-based NB is its
    * engine-exact, training-included core, and doubles as a learned
    * language ID next to [[languageId]]'s fixed heuristic).
    *
    * score(d,c) = ln P(c) + Σ_{t∈d matched in c} ln(cnt_{c,t}+1)
    *              − |d|·ln(n_c + V)
    * (Laplace numerator for an unmatched token is 0+1, so it adds
    * ln(1) = 0 — the inner join over matched (token, class) rows IS
    * the full smoothed sum; no per-missing-token bookkeeping.)
    *
    * Scale shape: the model is one map-side-combined aggregate over
    * the TRAINING set — ≤ |classes|·|vocab| rows ≪ corpus — joined to
    * the corpus token stream by the 8-byte portable token hash (AQE
    * broadcasts the model when it fits; token strings never shuffle).
    * Vocab size and the training doc count are the only driver
    * scalars, both from bounded tables. The score matrix is
    * |docs|·|classes| rows; the argmax is a row_number-=-1 filter,
    * which Spark 4 rewrites to WindowGroupLimit so map tasks pre-prune
    * to their local best class per doc before the exchange. Scores
    * round to 6 dp (the [[dsirWeights]] float contract); ties break
    * by class name ascending. Zero-token documents have no score and
    * no output row.
    */
  def naiveBayesClassify(documents: DataFrame, train: DataFrame,
                         labelCol: String = "label"): DataFrame = {
    val model = hashedTokens(train, "h", col(labelCol).as("cls"))
      .groupBy(col("cls"), col("h"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true) // consumers: class totals, vocab size, score join
    val classStats = model.groupBy(col("cls")).agg(sum(col("cnt")).as("n_tok"))
    val priors = train.groupBy(col(labelCol).as("cls"))
      .agg(count(lit(1)).as("n_docs"))
    val vocabSize = model.select(countDistinct(col("h"))).head().getLong(0)
    val totalDocs = train.count()
    val docToks = hashedTokens(documents, "h", col("doc_id"))
    val docCounts = docToks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"))
    val hits = docToks.join(model, Seq("h"))
      .groupBy(col("doc_id"), col("cls"))
      .agg(sum(log(col("cnt") + lit(1.0))).as("hit_sum"),
        count(lit(1)).as("n_hits"))
    val scored = docCounts
      .crossJoin(broadcast(classStats.join(priors, Seq("cls"))))
      .join(hits, Seq("doc_id", "cls"), "left")
      .select(col("doc_id"), col("cls"), col("n_tokens"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(log(col("n_docs")) - log(lit(totalDocs.toDouble)) +
          coalesce(col("hit_sum"), lit(0.0)) -
          col("n_tokens") * log(col("n_tok") + lit(vocabSize)), 6).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("cls").asc)
    scored.withColumn("__rk", row_number().over(w))
      .where(col("__rk") === 1)
      .select(col("doc_id"), col("cls").as("pred_label"), col("score"),
        col("n_tokens"), col("n_hits"))
  }

  /** Keywords for the code-detection heuristic — language-agnostic
    * high-precision tokens (matching any 3+ alongside structural
    * signals flags code). One Seq feeds both the Spark expression and
    * the generated DuckDB CASE arms.
    */
  val CodeKeywords: Seq[String] = Seq(
    "def", "return", "import", "class", "function",
    "const", "var", "void", "public", "static")

  /** Code-vs-prose routing signal — the corpus-separation step of a
    * mixed crawl (code corpora get different dedup thresholds, quality
    * rules, and tokenizers than prose; see CodeParrot/StarCoder
    * pipeline preludes). Pure structural heuristics: symbol density,
    * indented-line fraction, semicolon-line fraction, keyword hits —
    * all exact integer counts, so the fractions and the rule are
    * bit-identical IEEE expressions in both engines. Map-only at any
    * scale.
    */
  def codeDetect(docs: DataFrame): DataFrame = {
    val lines = split(col("text"), "\n")
    val kw = CodeKeywords.map(k =>
      when(lower(col("text")).rlike("\\b" + k + "\\b"), 1).otherwise(0))
      .reduce(_ + _).cast("long")
    val counted = docs.select(col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      (length(col("text")) -
        length(regexp_replace(col("text"), "[{}\\[\\]();=<>]", ""))).cast("long")
        .as("n_sym"),
      size(filter(lines, l => length(trim(l)) > 0)).cast("long").as("n_lines"),
      size(filter(lines, l => l.rlike("^(\t|  )"))).cast("long").as("n_indent"),
      size(filter(lines, l => l.rlike(";\\s*$"))).cast("long").as("n_semi"),
      kw.as("kw_hits"))
    val symRatio = when(col("n_chars") > 0,
      col("n_sym").cast("double") / col("n_chars").cast("double")).otherwise(0.0)
    val indentFrac = when(col("n_lines") > 0,
      col("n_indent").cast("double") / col("n_lines").cast("double")).otherwise(0.0)
    val semiFrac = when(col("n_lines") > 0,
      col("n_semi").cast("double") / col("n_lines").cast("double")).otherwise(0.0)
    counted
      .withColumn("sym_ratio", symRatio)
      .withColumn("indent_frac", indentFrac)
      .withColumn("semi_frac", semiFrac)
      .select(col("doc_id"), col("n_sym"), col("n_lines"), col("n_indent"),
        col("n_semi"), col("kw_hits"),
        round(col("sym_ratio"), 6).as("sym_ratio_r"),
        round(col("indent_frac"), 6).as("indent_frac_r"),
        round(col("semi_frac"), 6).as("semi_frac_r"),
        (col("sym_ratio") > 0.03 || col("indent_frac") > 0.4 ||
          (col("kw_hits") >= 3 && col("semi_frac") > 0.2)).as("is_code"))
      .withColumnRenamed("sym_ratio_r", "sym_ratio")
      .withColumnRenamed("indent_frac_r", "indent_frac")
      .withColumnRenamed("semi_frac_r", "semi_frac")
  }

  /** Flesch readability per document (Flesch reading ease +
    * Flesch–Kincaid grade) — the classic length/complexity quality
    * signal, still a standard corpus-filtering feature alongside the
    * Gopher rules. Syllables use the vowel-group approximation
    * (maximal [aeiouy]+ runs — the textbook heuristic; exact
    * dictionary syllabification is not regex-expressible), sentences
    * are maximal [.!?]+ runs floored at 1 so headline-style fragments
    * count as one sentence.
    *
    * Map-only at any scale: three counting expressions per row, no
    * shuffle. All three counts are exact integers, so the fixed-shape
    * formula is a bit-identical IEEE expression in Spark and the
    * DuckDB oracle; scores round to 6 dp (the shared float contract).
    * Zero-word documents emit NULL scores (no sentences to rate).
    */
  def readability(docs: DataFrame): DataFrame = {
    val nWords = size(TextFunctions.tokens(col("text"))).cast("long")
    val nSentences = greatest(
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))), lit(1)).cast("long")
    val nSyllables = size(
      regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0))).cast("long")
    val wps = col("n_words").cast("double") / col("n_sentences").cast("double")
    val spw = col("n_syllables").cast("double") / col("n_words").cast("double")
    docs
      .select(col("doc_id"), nWords.as("n_words"), nSentences.as("n_sentences"),
        nSyllables.as("n_syllables"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
        when(col("n_words") > 0,
          round(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw, 6))
          .as("flesch_ease"),
        when(col("n_words") > 0,
          round(lit(0.39) * wps + lit(11.8) * spw - lit(15.59), 6))
          .as("fk_grade"))
  }

  /** Vocabulary coverage curve: for each k in `ks`, the fraction of
    * all token occurrences covered by the k most frequent types — the
    * tokenizer/vocab-sizing diagnostic (how much of the corpus a
    * k-entry vocab explains, the first question of any vocab budget).
    * Output one row per k: (k, n_types = |top-k actually present|,
    * covered, total, coverage 6 dp).
    *
    * Scale shape: the corpus reduces to a map-side-combined (token,
    * count) vocab table; the top-max(k) cut is orderBy+limit — a
    * TakeOrderedAndProject, each map task pre-prunes to its local
    * top-max(k) before a single bounded merge (NO full-vocab
    * single-partition sort: the only global window runs over the
    * ≤ max(k) surviving rows). The grand total comes from a separate
    * scalar aggregate of the vocab table. Deterministic: rank ties
    * break (count desc, token asc).
    */
  def vocabCoverage(docs: DataFrame,
                    ks: Seq[Int] = Seq(100, 1000, 10000)): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ > 0))
    val spark = docs.sparkSession
    import spark.implicits._
    val tc = docs
      .select(explode(TextFunctions.tokens(lower(col("text")))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // two consumers: total + top-k cut
    val total = tc.agg(sum(col("c")).as("total"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("tok").asc)
    val top = tc.orderBy(col("c").desc, col("tok").asc).limit(ks.max)
      .withColumn("r", row_number().over(w))
    top.crossJoin(ks.toDF("k"))
      .groupBy(col("k"))
      .agg(sum(when(col("r") <= col("k"), 1L).otherwise(0L)).as("n_types"),
        sum(when(col("r") <= col("k"), col("c")).otherwise(0L)).as("covered"))
      .crossJoin(broadcast(total))
      .select(col("k"), col("n_types"), col("covered"), col("total"),
        round(col("covered").cast("double") / col("total").cast("double"), 6)
          .as("coverage"))
      .orderBy(col("k"))
  }

  /** Exact heavy-hitter tokens via a bounded-memory two-pass plan:
    * (1) a Misra–Gries candidate sweep ([[graft.functions
    * .MisraGriesAgg]] — a native TypedImperativeAggregate whose
    * per-task state is ≤ k counters, vs. the full vocabulary an exact
    * groupBy shuffles); (2) one exact counting pass FILTERED to the ≤
    * k broadcast candidates. MG guarantees every token with frequency
    * > N/(k+1) is among the candidates under any partitioning, so
    * after the exact threshold filter the output is deterministic and
    * exact — the sketch only bounds memory, never the answer.
    *
    * Returns (token, n, n_total) for tokens with n·(k+1) > N.
    */
  def heavyHitters(docs: DataFrame, k: Int = 64): DataFrame = {
    val toks = docs.select(
      explode(TextFunctions.tokens(col("text"))).as("tok"))
    val sweep = toks.agg(
      graft.functions.MisraGriesAgg.misraGries(col("tok"), k).as("cands"),
      count(lit(1)).as("nt"))
    toks.crossJoin(broadcast(sweep))
      .where(array_contains(col("cands"), col("tok")))
      .groupBy(col("tok"), col("nt")).agg(count(lit(1)).as("n"))
      .where(col("n") * (k + 1) > col("nt"))
      .select(col("tok").as("token"), col("n"), col("nt").as("n_total"))
  }
}
