package graft

import graft.operators.{Corpus, TextAnalysis}
import org.apache.spark.sql.functions._

class CorpusSpec extends SparkSpecBase {
  import spark.implicits._

  test("decontaminate: docs sharing an n-gram with the benchmark are flagged") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river"),
      (2L, "completely unrelated text about spark shuffle partitions and joins"),
      (3L, "prefix words then the quick brown fox jumps over the lazy dog too")
    ).toDF("doc_id", "text")
    val benchmark = Seq(
      (100L, "the quick brown fox jumps over the lazy dog")
    ).toDF("doc_id", "text")
    val got = Corpus.decontaminate(corpus, benchmark, n = 8)
      .orderBy("doc_id").collect()
    // docs 1 and 3 contain the benchmark 8-gram; doc 2 is clean
    assert(got.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 3L))
    assert(got.forall(_.getAs[Long]("n_shared") >= 1L))
  }

  test("repeatedSpans: cross-document spans found, merged, and bounded exactly") {
    // docs 1 and 2 share a 10-token run at different offsets; doc 3 is
    // clean; doc 4 is too short to hold any window
    val shared = (1 to 10).map(i => s"dup$i").mkString(" ")
    val corpus = Seq(
      (1L, s"a1 a2 a3 $shared z1 z2"),                 // span at tokens 3..12
      (2L, s"$shared tail1 tail2 tail3"),              // span at tokens 0..9
      (3L, "totally unrelated words that repeat nothing of interest here"),
      (4L, "tiny doc")
    ).toDF("doc_id", "text")
    val got = Corpus.repeatedSpans(corpus, n = 8, minDocs = 2)
      .orderBy("doc_id", "span_start").collect()
    assert(got.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L))
    val d1 = got(0); val d2 = got(1)
    // 3 flagged windows (offsets 3,4,5) merge into ONE maximal span
    assert(d1.getAs[Int]("span_start") == 3 && d1.getAs[Int]("span_end") == 12)
    assert(d1.getAs[Long]("n_hits") == 3L)
    assert(d2.getAs[Int]("span_start") == 0 && d2.getAs[Int]("span_end") == 9)
  }

  test("repeatedSpans: far-apart repeats stay separate spans; within-doc repeats don't count") {
    val boiler = (1 to 8).map(i => s"b$i").mkString(" ")
    val filler = (1 to 20).map(i => s"f$i").mkString(" ") // unique to doc 1
    val inner = (1 to 20).map(i => s"x$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$boiler $filler $boiler"), // two flagged regions, gap 20 > n
      (2L, s"$boiler end"),
      (3L, s"$inner $inner")            // repeats only within itself → not flagged
    ).toDF("doc_id", "text")
    val got = Corpus.repeatedSpans(corpus, n = 8, minDocs = 2)
      .orderBy("doc_id", "span_start").collect()
    val d1 = got.filter(_.getAs[Long]("doc_id") == 1L)
    assert(d1.length == 2, s"expected two separate spans, got ${d1.toSeq}")
    assert(d1(0).getAs[Int]("span_start") == 0 && d1(0).getAs[Int]("span_end") == 7)
    assert(d1(1).getAs[Int]("span_start") == 28 && d1(1).getAs[Int]("span_end") == 35)
    assert(!got.exists(_.getAs[Long]("doc_id") == 3L))
  }

  test("decontaminateSpans: flags exactly the contaminated token range, keeps the rest") {
    val benchItem = (1 to 10).map(i => s"q$i").mkString(" ")
    val corpus = Seq(
      (1L, s"clean prefix words here $benchItem and a clean tail"),
      (2L, "entirely clean document with nothing quoted")
    ).toDF("doc_id", "text")
    val benchmark = Seq((100L, benchItem)).toDF("doc_id", "text")
    val got = Corpus.decontaminateSpans(corpus, benchmark, n = 8).collect()
    assert(got.length == 1 && got.head.getAs[Long]("doc_id") == 1L)
    // bench 10-gram at tokens 4..13 → flagged 8-windows at 4,5,6 → one span
    assert(got.head.getAs[Int]("span_start") == 4)
    assert(got.head.getAs[Int]("span_end") == 13)
  }

  test("decontaminateSpans: benchmark items shorter than n tokens are excluded (contract)") {
    // a 3-token eval item has no 8-token window — it must NOT flag the
    // doc that quotes it verbatim (shingleHashes' whole-text fallback
    // hash used to enter the probe set here; it can never equal an
    // n-token window hash, only add collision surface)
    val corpus = Seq(
      (1L, "some document that quotes short answer verbatim in passing text")
    ).toDF("doc_id", "text")
    val benchmark = Seq((100L, "short answer verbatim")).toDF("doc_id", "text")
    assert(Corpus.decontaminateSpans(corpus, benchmark, n = 8).isEmpty)
    // ...but doc-level decontaminate still catches it: both sides take
    // the whole-text fallback shingle when under n tokens
    val shortDoc = Seq((2L, "short answer verbatim")).toDF("doc_id", "text")
    assert(Corpus.decontaminate(shortDoc, benchmark, n = 8).count() == 1L)
  }

  test("cutSpans: flagged ranges removed, untouched docs pass through normalized") {
    val corpus = Seq(
      (1L, "k1 k2 c1 c2 c3 k3"),
      (2L, "clean words only here")
    ).toDF("doc_id", "text")
    val spans = Seq((1L, 2, 4, 1L)).toDF("doc_id", "span_start", "span_end", "n_hits")
    val got = Corpus.cutSpans(corpus, spans).orderBy("doc_id")
      .select("text", "n_removed").as[(String, Int)].collect()
    assert(got(0) == (("k1 k2 k3", 3)))
    assert(got(1) == (("clean words only here", 0)))
  }

  test("cutSpans composes with repeatedSpans: duplicated docs empty out, unique docs survive") {
    val shared = (1 to 12).map(i => s"s$i").mkString(" ")
    val corpus = Seq(
      (1L, shared), (2L, shared), // full-doc duplicates
      (3L, s"unique head $shared unique tail"),
      (4L, "nothing repeated in this document at all")
    ).toDF("doc_id", "text")
    val cut = Corpus.cutSpans(corpus, Corpus.repeatedSpans(corpus, n = 8, minDocs = 2))
      .orderBy("doc_id").select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(cut(1L) == "" && cut(2L) == "") // whole doc was a repeated span
    assert(cut(3L) == "unique head unique tail")
    assert(cut(4L) == "nothing repeated in this document at all")
  }

  test("bpeMerges: learns the classic subword merges in frequency order") {
    // Sennrich-style toy corpus: 'lo' dominates, then 'low'
    val corpus = Seq(
      (1L, "low low low low low lower lower newest newest"),
      (2L, "newest newest newest newest widest widest widest")
    ).toDF("doc_id", "text")
    val merges = Corpus.bpeMerges(corpus, nMerges = 4)
    // pair counts, iter 1: (e,s)=9+... est appears in newest(6)+widest(3)=9,
    // (s,t)=9, (l,o)=7, (n,e)=6, (w,e)=6+... exact argmax order checked:
    assert(merges.length == 4)
    assert(merges.head == ("e", "s")) // 9, ties (s,t) broken by a asc
    assert(merges(1) == ("es", "t"))  // after merge 1, (es,t)=9 dominates
    assert(merges.contains(("l", "o")))
    // determinism: same corpus → identical merge list
    assert(Corpus.bpeMerges(corpus, nMerges = 4) == merges)
  }

  test("bpeMerges: stops early when no pair reaches minPairCount") {
    val corpus = Seq((1L, "ab cd ef")).toDF("doc_id", "text")
    assert(Corpus.bpeMerges(corpus, nMerges = 10, minPairCount = 2).isEmpty)
    // ...on the distributed path too
    assert(Corpus.bpeMerges(corpus, nMerges = 10, minPairCount = 2,
      localVocabThreshold = 0).isEmpty)
  }

  test("bpeMerges: driver gate produces the distributed loop's exact merge list, O(1) jobs") {
    val corpus = Seq(
      (1L, "low low low low low lower lower newest newest"),
      (2L, "newest newest newest newest widest widest widest"),
      (3L, "wide wide wider widest lowest newest est est set")
    ).toDF("doc_id", "text")
    val distributed = Corpus.bpeMerges(corpus, nMerges = 12, localVocabThreshold = 0)
    // count the Spark jobs the local path schedules: must not scale
    // with nMerges (the whole point of the gate — 30k merges as jobs
    // would be 60k+ scheduled stages over a driver-sized table)
    val (local, jobs) = jobsOf(Corpus.bpeMerges(corpus, nMerges = 12))
    assert(local == distributed, s"paths diverged:\nlocal       = $local\ndistributed = $distributed")
    assert(local.length == 12)
    // checkpoint + count + collect cost a constant handful of jobs;
    // the bound only has to be well under one-job-PER-MERGE (12+)
    assert(jobs <= 8, s"local path scheduled $jobs jobs for 12 merges")
  }

  test("bpeEncode: iterative min-rank greedy, multi-level merges, leftmost-first rounds") {
    val merges = Seq(("t", "a"), ("l", "e"), ("ta", "b"), ("tab", "le"))
    val got = Corpus.bpeEncode(
      Seq((1L, "Table stable aaa tale")).toDF("doc_id", "text"), merges)
      .orderBy("word_idx")
      .select("word", "pieces").as[(String, Seq[String])].collect().toMap
    // table: ta|b|l|e → ta|b|le → tab|le → table (second-order chain)
    assert(got("table") == Seq("table"))
    // stable: s,ta,b,l,e → s,ta,b,le → s,tab,le → s + table? (tab,le)
    // merges to table only via rank 3 — s|table
    assert(got("stable") == Seq("s", "table"))
    // no learned pair in 'aaa' → code-point symbols survive
    assert(got("aaa") == Seq("a", "a", "a"))
    // tale: t,a,l,e → ta,l,e (rank 0) → ta,le (rank 1); (ta,le) unlearned
    assert(got("tale") == Seq("ta", "le"))
  }

  test("bpeEncode: a later merge recreating an earlier-rank pair still gets it applied") {
    // ranks: 0=(b,c)  1=(a,b)  — word 'abc': pairs (a,b)=1, (b,c)=0;
    // min-rank first merges (b,c) → a|bc; (a,bc) unlearned → a|bc.
    // word 'aabc': (a,a)=∅ (a,b)=1 (b,c)=0 → a,a,bc → (a,a)∅ (a,bc)∅ done
    val merges = Seq(("b", "c"), ("a", "b"))
    val got = Corpus.bpeEncode(
      Seq((1L, "abc aabc abab")).toDF("doc_id", "text"), merges)
      .select("word", "pieces").as[(String, Seq[String])].collect().toMap
    assert(got("abc") == Seq("a", "bc"))
    assert(got("aabc") == Seq("a", "a", "bc"))
    // abab: (a,b) everywhere → one round leftmost-first merges BOTH
    assert(got("abab") == Seq("ab", "ab"))
  }

  test("packBins: first-fit-decreasing order, bin reuse, oversize doc gets its own bin") {
    // sizes 200, 100, 100, 50, 300 at cap 256, one shard. FFD order:
    // 300 → new bin0 (oversize, alone); 200 → bin1; 100 → bin2;
    // 100 → bin2 (100+100 ≤ 256); 50 → bin1 (200+50 ≤ 256)
    def words(n: Int) = (1 to n).map(_ => "w").mkString(" ")
    val docs = Seq(
      (1L, words(200)), (2L, words(100)), (3L, words(100)),
      (4L, words(50)), (5L, words(300))
    ).toDF("doc_id", "text")
    val got = Corpus.packBins(docs, tokensPerBin = 256, nShards = 1)
      .orderBy("doc_id")
      .select("doc_id", "n_tok", "bin").as[(Long, Long, Int)].collect().toSeq
    assert(got == Seq(
      (1L, 200L, 1), (2L, 100L, 2), (3L, 100L, 2), (4L, 50L, 1), (5L, 300L, 0)))
    // determinism across runs
    val again = Corpus.packBins(docs, tokensPerBin = 256, nShards = 1)
      .orderBy("doc_id").select("doc_id", "n_tok", "bin")
      .as[(Long, Long, Int)].collect().toSeq
    assert(again == got)
  }

  test("packSequences: cumulative layout, boundary straddling, per-shard namespacing") {
    // single shard (nShards=1) for predictable layout: docs of 100
    // tokens each, 256-token sequences
    val text100 = (1 to 100).map(i => s"w$i").mkString(" ")
    val docs = (1L to 5L).map(i => (i, text100)).toDF("doc_id", "text")
    val got = Corpus.packSequences(docs, tokensPerSeq = 256, nShards = 1)
      .orderBy("doc_id").collect()
    assert(got.map(_.getAs[Long]("cum")).toSeq == Seq(100L, 200L, 300L, 400L, 500L))
    // doc 3 spans tokens [200,300): straddles the 256 boundary → seqs 0..1
    assert(got.map(r => (r.getAs[Long]("start_seq"), r.getAs[Long]("end_seq"))).toSeq ==
      Seq((0L, 0L), (0L, 0L), (0L, 1L), (1L, 1L), (1L, 1L)))
    // deterministic: a second run yields identical rows
    val again = Corpus.packSequences(docs, tokensPerSeq = 256, nShards = 1)
      .orderBy("doc_id").collect()
    assert(got.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // empty docs never occupy a sequence
    val withEmpty = docs.union(Seq((9L, "")).toDF("doc_id", "text"))
    assert(Corpus.packSequences(withEmpty, 256, 1).count() == 5)
  }

  test("stratifiedSample: full rate keeps stratum, zero drops it, default applies") {
    val docs = (1L to 200L).map(i =>
      (i, if (i % 2 == 0) "en" else "zh", s"doc $i")).toDF("doc_id", "lang", "text")
    val kept = Corpus.stratifiedSample(docs, "lang",
      Map("en" -> 10000, "zh" -> 0), defaultBps = 0)
    assert(kept.count() == 100) // all en, no zh
    assert(kept.where(col("lang") === "zh").count() == 0)
    // default rate applies to unlisted strata and is deterministic
    val some = Corpus.stratifiedSample(docs, "lang", Map("en" -> 0), defaultBps = 5000)
    val n1 = some.count()
    assert(n1 > 0 && n1 < 100) // ~half the zh docs
    assert(some.count() == n1)
  }

  test("weightedSample: exact A-Res top-k replay; partitioning-invariant") {
    // weights 1..200 (token counts of i repeated-word docs)
    val docs = (1L to 200L).map(i =>
      (i, if (i % 3 == 0) "web" else "book",
        (1L to i).map(_ => "w").mkString(" "))).toDF("doc_id", "src", "text")
    val got = Corpus.weightedSample(docs,
        graft.operators.TextAnalysis.tokenCount(col("text")), k = 20, stratumCol = "src")
      .select("src", "rk", "doc_id").as[(String, Int, Long)].collect()
    assert(got.count(_._1 == "web") == 20 && got.count(_._1 == "book") == 20)
    assert(got.filter(_._1 == "web").map(_._2).sorted.toSeq == (1 to 20))
    // replay ln(u)/w on the driver and compare the exact member sets
    val mod = graft.functions.TextFunctions.HashMod
    def polyHash(s: String): Long =
      s.foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % mod)
    val expected = (1L to 200L).groupBy(i => if (i % 3 == 0) "web" else "book")
      .map { case (src, ids) =>
        src -> ids.sortBy { i =>
          (-math.log((polyHash(i.toString) + 1).toDouble / (mod + 1).toDouble) / i.toDouble, i)
        }.take(20).toSet
      }
    for (src <- Seq("web", "book"))
      assert(got.filter(_._1 == src).map(_._3).toSet == expected(src), src)
    // reproducible under a different physical partitioning
    val re = Corpus.weightedSample(docs.repartition(13),
        graft.operators.TextAnalysis.tokenCount(col("text")), k = 20, stratumCol = "src")
      .select("src", "rk", "doc_id").as[(String, Int, Long)].collect()
    assert(re.toSet == got.toSet)
  }

  test("balancedSample: caps each stratum at the lowest-hash members, deterministically") {
    val docs = (1L to 200L).map(i =>
      (i, if (i % 4 == 0) "de" else "en", s"doc $i")).toDF("doc_id", "lang", "text")
    val got = Corpus.balancedSample(docs, "lang", cap = 30)
    // en has 150 members → capped at 30; de has 50 → capped at 30
    val byLang = got.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(byLang == Map("en" -> 30L, "de" -> 30L))
    // membership = the cap lowest portable hashes of each stratum
    val enIds = got.where(col("lang") === "en").select("doc_id").as[Long].collect().toSet
    val expected = docs.where(col("lang") === "en")
      .select(col("doc_id"),
        graft.functions.TextFunctions.portableHash(col("doc_id").cast("string")).as("h"))
      .orderBy(col("h"), col("doc_id")).limit(30)
      .select("doc_id").as[Long].collect().toSet
    assert(enIds == expected)
    // a stratum smaller than the cap passes through whole
    assert(Corpus.balancedSample(docs, "lang", cap = 500).count() == 200)
  }

  test("temperatureSample: alpha flattens the head; quotas floor-exact with min 1") {
    // 160 en / 36 de / 4 zh — heavily headed
    val docs = ((1L to 160L).map((_, "en")) ++ (161L to 196L).map((_, "de")) ++
      (197L to 200L).map((_, "zh"))).map { case (i, l) => (i, l, s"doc $i") }
      .toDF("doc_id", "lang", "text")
    val got = Corpus.temperatureSample(docs, "lang", alpha = 0.5, target = 100L)
    val byLang = got.groupBy("lang").count().as[(String, Long)].collect().toMap
    // sqrt weights: (sqrt160, sqrt36, sqrt4)/(sum≈20.649) → quotas
    // 61/29/min(4,9) — alpha=0.5 lifts zh above its proportional share,
    // and the stratum-size cap keeps quotas realizable
    val s = math.sqrt(160.0) + math.sqrt(36.0) + math.sqrt(4.0)
    def q(n: Double) = math.floor(100L * (math.sqrt(n) / s)).toLong
    assert(byLang == Map("en" -> q(160), "de" -> q(36), "zh" -> math.min(4L, q(4))))
    assert(math.min(4L, q(4)) > 4L * 100L / 200L) // flatter than proportional
    // quota column rides along and matches the realized count
    val quotas = got.select("lang", "quota").distinct().as[(String, Long)].collect().toMap
    assert(quotas == byLang)
    // alpha→0 degenerates toward equal quotas (floor puts each at
    // target/strata ± 1) regardless of the 160/36/4 skew
    val flat = Corpus.temperatureSample(docs, "lang", alpha = 0.001, target = 9L)
    val flatCounts = flat.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(flatCounts.values.forall(c => c == 2L || c == 3L), flatCounts.toString)
  }

  test("shardManifest: digest is order/partitioning-invariant and detects a 1-doc change") {
    val docs = (1L to 200L).map(i => (i, s"document number $i with body tok$i"))
      .toDF("doc_id", "text")
    val base = Corpus.shardManifest(docs, nShards = 4).orderBy("shard").collect()
    assert(base.map(_.getAs[Long]("n_docs")).sum == 200)
    // shuffled row order + different partitioning → identical manifest
    // (XOR digest is commutative; counts/ranges are aggregates)
    val reshuffled = Corpus.shardManifest(
      docs.orderBy(rand(7)).repartition(13), nShards = 4).orderBy("shard").collect()
    assert(base.map(_.toString).toSeq == reshuffled.map(_.toString).toSeq)
    // flipping one document changes exactly that shard's digest
    val mutated = docs.withColumn("text",
      when(col("doc_id") === 57L, lit("corrupted")).otherwise(col("text")))
    val after = Corpus.shardManifest(mutated, nShards = 4).orderBy("shard").collect()
    val diffs = base.zip(after).filter { case (a, b) =>
      a.getAs[Long]("digest") != b.getAs[Long]("digest") }
    assert(diffs.size == 1, s"expected exactly one shard digest to move, got ${diffs.size}")
  }

  test("tokenBudget: weights sum to 1, epochs = alloc/mass, alpha flattens the head") {
    // sources with 4/16/64-token masses (exact sqrt weights 2:4:8)
    def mk(n: Int) = ("tok " * n).trim
    val docs = Seq((1L, mk(4), "a"), (2L, mk(16), "b"), (3L, mk(64), "c"))
      .toDF("doc_id", "text", "source")
    val got = Corpus.tokenBudget(docs, targetTokens = 1400L, alpha = 0.5)
      .orderBy("source").collect()
    val w = got.map(_.getAs[Double]("weight"))
    assert(math.abs(w.sum - 1.0) < 1e-5)
    assert(w.toSeq == Seq(2.0 / 14, 4.0 / 14, 8.0 / 14).map(x =>
      math.rint(x * 1e6) / 1e6)) // sqrt(4):sqrt(16):sqrt(64) normalized
    got.foreach { r =>
      val epochs = r.getAs[Double]("epochs")
      val expect = r.getAs[Double]("alloc_tokens") / r.getAs[Long]("n_tokens")
      assert(math.abs(epochs - expect) < 1e-3, r.toString)
    }
    // temperature lifts the tail past proportional: source a has 4/84
    // of the mass but 2/14 of the budget
    assert(w(0) > 4.0 / 84.0 && w(2) < 64.0 / 84.0)
  }

  test("snapshotDiff: classifies added/removed/changed and drops unchanged ids") {
    val old = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val v2 = Seq((1L, "alpha"), (2L, "beta revised"), (4L, "delta")).toDF("doc_id", "text")
    val got = Corpus.snapshotDiff(old, v2).orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("status"))).toSeq
    assert(got == Seq((2L, "changed"), (3L, "removed"), (4L, "added")))
  }

  test("corpusOverlap: identical groups share every window; disjoint pairs still appear") {
    val docs = Seq(
      (1L, "g1", "one two three four five six seven eight nine ten"),
      (2L, "g2", "one two three four five six seven eight nine ten"),
      (3L, "g3", "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "g", "text")
    val got = Corpus.corpusOverlap(docs, "g", n = 8).collect()
    assert(got.length == 3) // all pairs emitted, including zero-overlap ones
    val m = got.map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
      ((r.getAs[Long]("shared"), r.getAs[Long]("n_a"), r.getAs[Double]("jaccard")))).toMap
    // 10 tokens, n=8 → 3 windows per doc; g1 ≡ g2 → jaccard exactly 1
    assert(m(("g1", "g2")) == ((3L, 3L, 1.0)))
    assert(m(("g1", "g3"))._1 == 0L && m(("g1", "g3"))._3 == 0.0)
  }

  test("corpusOverlap: empty input, null groups, and non-string group columns") {
    // empty corpus: no groups → no pairs, not an exception
    val empty = Seq.empty[(Long, String, String)].toDF("doc_id", "g", "text")
    assert(Corpus.corpusOverlap(empty, "g", n = 8).collect().isEmpty)
    // null group rows are ignored (the old self-join's null-propagating
    // comparisons dropped them silently); remaining pair unaffected
    val withNull = Seq(
      (1L, "g1", "one two three four five six seven eight nine ten"),
      (2L, "g2", "one two three four five six seven eight nine ten"),
      (3L, null.asInstanceOf[String], "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "g", "text")
    val gotNull = Corpus.corpusOverlap(withNull, "g", n = 8).collect()
    assert(gotNull.length == 1)
    assert(gotNull.head.getAs[Long]("shared") == 3L)
    // non-string group column: both branches emit STRING group values
    // with lexicographic pair orientation ("10" < "2")
    val numeric = Seq(
      (1L, 2L, "one two three four five six seven eight nine ten"),
      (2L, 10L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "g", "text")
    val gotNum = Corpus.corpusOverlap(numeric, "g", n = 8).collect()
    assert(gotNum.length == 1)
    assert(gotNum.head.getAs[String]("src_a") == "10" &&
      gotNum.head.getAs[String]("src_b") == "2")
  }

  test("naiveBayesClassify: argmax picks the dominant class; all-OOV ties break by name") {
    val train = Seq(
      ("en", "the cat sat on the mat"), ("en", "the dog ate the food"),
      ("fr", "le chat est sur le tapis"), ("fr", "le chien mange le pain")
    ).toDF("label", "text")
    val docs = Seq(
      (1L, "the cat ate"), (2L, "le chat mange"), (3L, "zzz qqq")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.naiveBayesClassify(docs, train, "label")
      .orderBy("doc_id").collect()
    val byId = got.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(1L).getAs[String]("pred_label") == "en")
    assert(byId(2L).getAs[String]("pred_label") == "fr")
    assert(byId(1L).getAs[Long]("n_tokens") == 3L)
    assert(byId(1L).getAs[Long]("n_hits") == 3L) // the/cat/ate all in the en model
    // doc 3 is fully OOV and both classes have equal priors and token
    // totals → identical smoothed scores → ascending-name tie-break
    assert(byId(3L).getAs[String]("pred_label") == "en")
    assert(byId(3L).getAs[Long]("n_hits") == 0L)
  }

  test("bpeFertility: weighted pieces per word, per language") {
    val merges = Seq(("a", "b"), ("ab", "c"))
    val docs = Seq(
      (1L, "abc abc xy", "en"),  // abc→[abc] (1 piece) ×2, xy→[x,y] (2)
      (2L, "abc", "en"),
      (3L, "zzz", "fr")          // zzz→[z,z,z] (3 pieces)
    ).toDF("doc_id", "text", "lang")
    val got = Corpus.bpeFertility(docs, merges, "lang").orderBy("lang").collect()
    val en = got(0)
    // en: 4 words, pieces = 3×1 (abc) + 2 (xy) = 5 → fertility 1.25
    assert(en.getAs[Long]("n_words") == 4L && en.getAs[Long]("n_pieces") == 5L)
    assert(en.getAs[Double]("fertility") == 1.25)
    val fr = got(1)
    assert(fr.getAs[Long]("n_words") == 1L && fr.getAs[Double]("fertility") == 3.0)
  }

  test("dedupLines: boilerplate lines cut, unique lines survive in order") {
    val docs = Seq(
      (1L, "cookie banner\nreal content one\nfooter text"),
      (2L, "cookie banner\nreal content two\nfooter text"),
      (3L, "cookie banner\nreal content three\nfooter text"),
      (4L, "totally unique document\nwith its own lines")
    ).toDF("doc_id", "text")
    val got = Corpus.dedupLines(docs, minDocs = 3).orderBy("doc_id").collect()
    // banner+footer occur in 3 distinct docs → cut; content lines survive
    assert(got.map(_.getAs[String]("text")).toSeq == Seq(
      "real content one", "real content two", "real content three",
      "totally unique document\nwith its own lines"))
    assert(got.map(_.getAs[Int]("n_removed")).toSeq == Seq(2, 2, 2, 0))
  }

  test("dedupLines: within-doc repeats don't count toward the doc threshold") {
    val docs = Seq(
      (1L, "repeat me\nrepeat me\nrepeat me\nkeep this"),
      (2L, "other stuff\nentirely different")
    ).toDF("doc_id", "text")
    val got = Corpus.dedupLines(docs, minDocs = 3).orderBy("doc_id").collect()
    // "repeat me" occurs 3× but only in ONE distinct doc → kept
    assert(got.head.getAs[String]("text") == "repeat me\nrepeat me\nrepeat me\nkeep this")
    assert(got.map(_.getAs[Int]("n_removed")).sum == 0)
  }

  test("dedupLines: a fully-boilerplate document empties but still appears") {
    val docs = Seq(
      (1L, "shared line"), (2L, "shared line"), (3L, "shared line"),
      (4L, "shared line\nplus own content")
    ).toDF("doc_id", "text")
    val got = Corpus.dedupLines(docs, minDocs = 3).orderBy("doc_id").collect()
    assert(got.length == 4)
    assert(got.take(3).forall(r =>
      r.getAs[String]("text") == "" && r.getAs[Int]("n_removed") == 1))
    assert(got.last.getAs[String]("text") == "plus own content")
  }

  test("decontaminateSemantic: cosine-near vectors flagged, orthogonal ones clean") {
    val corpus = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),       // exact benchmark member
      (2L, Array(0.99f, 0.01f, 0f, 0f)), // near-dup of benchmark vec
      (3L, Array(0f, 1f, 0f, 0f)),       // orthogonal → clean
      (4L, Array(0.7f, 0.7f, 0f, 0f))    // cos ≈ 0.707 < 0.9 → clean
    ).toDF("vec_id", "embedding")
    val bench = Seq((100L, Array(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val got = Corpus.decontaminateSemantic(corpus, bench, threshold = 0.9)
      .orderBy("vec_id").collect()
    assert(got.map(_.getAs[Long]("vec_id")).toSeq == Seq(1L, 2L))
    assert(got.head.getAs[Double]("max_cos") == 1.0)
    assert(got.forall(_.getAs[Long]("n_matched") == 1L))
  }

  test("decontaminateSemantic: n_matched counts every matching benchmark vector") {
    val corpus = Seq((1L, Array(1f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val bench = Seq(
      (100L, Array(1f, 1f, 0f, 0f)),
      (101L, Array(2f, 2f, 0f, 0f)),      // same direction, different norm
      (102L, Array(0f, 0f, 1f, 0f))       // orthogonal
    ).toDF("vec_id", "embedding")
    val got = Corpus.decontaminateSemantic(corpus, bench, threshold = 0.9).collect()
    assert(got.length == 1)
    assert(got.head.getAs[Long]("n_matched") == 2L)
    assert(got.head.getAs[Double]("max_cos") == 1.0)
  }

  test("applyChangelog: idempotent under re-application (exactly-once replay safety)") {
    import spark.implicits._
    val base = Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("doc_id", "text")
    val ch = Seq(
      (10L, "U", 1L, "one v1"), (11L, "U", 1L, "one v2"), // last-wins
      (12L, "D", 2L, ""),                                  // delete
      (13L, "I", 9L, "nine")                               // insert
    ).toDF("seq", "op", "doc_id", "text")
    def snap(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
      df.select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1).toSeq
    val once = Corpus.applyChangelog(base, ch)
    val expected = Seq((1L, "one v2"), (3L, "three"), (9L, "nine"))
    assert(snap(once) == expected)
    // a CDC consumer that replays a batch after a retry must converge:
    // re-applying the same changelog to the merged snapshot is a no-op
    val twice = Corpus.applyChangelog(
      once.select(col("doc_id"), col("text")), ch)
    assert(snap(twice) == expected)
  }

  test("scd2: validity intervals chain and only the open non-delete is current") {
    import spark.implicits._
    val ch = Seq(
      (10L, "U", 1L, "a"), (11L, "U", 1L, "b"), (12L, "D", 1L, ""),
      (20L, "I", 2L, "x")
    ).toDF("seq", "op", "doc_id", "text")
    val got = Corpus.scd2(ch)
      .orderBy("doc_id", "version")
      .select("doc_id", "version", "op", "valid_from_seq", "valid_to_seq", "is_current")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Long]), r.getBoolean(5)))
      .toSeq
    assert(got == Seq(
      (1L, 1, "U", 10L, Some(11L), false),
      (1L, 2, "U", 11L, Some(12L), false),
      (1L, 3, "D", 12L, None, false), // deleted: open interval, NOT current
      (2L, 1, "I", 20L, None, true)))
  }
}
