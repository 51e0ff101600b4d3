package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

class DedupSimilaritySpec extends SparkSpecBase {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bank now"),   // near dup of 1
    (4L, "completely different content about spark clusters and shuffle partitions"),
    (5L, "another unrelated document mentioning window functions and broadcast joins")
  ).toDF("doc_id", "text")

  test("urlDedupGroups: scheme/www/case/query/slash variants collapse to one page") {
    val urls = Seq(
      (1L, "http://Ex.com/a"),
      (2L, "https://www.ex.com/a/"),
      (3L, "HTTPS://EX.COM/a?utm_source=feed#frag"),
      (4L, "https://ex.com/other"),
      (5L, "ex.com/a") // already canonical (no scheme)
    ).toDF("doc_id", "url")
    val got = Dedup.urlDedupGroups(urls).collect()
    assert(got.length == 1)
    assert(got.head.getAs[String]("canon_url") == "ex.com/a")
    assert(got.head.getAs[Long]("keeper") == 1L)
    assert(got.head.getAs[Long]("dup_count") == 4L)
  }

  test("urlCanonical is idempotent over adversarial variants") {
    // a canonicalizer that isn't a fixpoint re-dedups differently on a
    // second pass; drive scheme/www/query/fragment/slash/case combos
    // (incl. doubled and empty forms) through canon twice
    val parts = for {
      scheme <- Seq("", "http://", "https://", "HTTP://", "hTtPs://")
      www <- Seq("", "www.", "WWW.", "www.www.")
      host <- Seq("ex.com", "EX.com", "")
      path <- Seq("", "/", "//", "/P/1", "/p/1/")
      q <- Seq("", "?", "?a=1", "#f", "?a=1#f")
    } yield scheme + www + host + path + q
    val df = parts.zipWithIndex.map { case (u, i) => (i.toLong, u) }.toDF("doc_id", "url")
    val once = Dedup.urlCanonical(col("url"))
    val twice = Dedup.urlCanonical(once)
    assert(df.where(not(twice <=> once)).isEmpty,
      df.select(col("url"), once, twice).where(not(twice <=> once)).collect().mkString("\n"))
  }

  test("cleanText and piiRedact are idempotent over adversarial PII/URL mixes") {
    import graft.operators.TextAnalysis
    // mixes where a first pass could expose new matches to a second:
    // adjacent tokens joined by URL stripping, placeholders abutting
    // digits, doubled schemes, emails inside URLs
    val samples = for {
      a <- Seq("", "see ", "mail x@y.com ", "http://a.b ")
      b <- Seq("http://ex.com/p?q=1", "x@y.zz", "123-456-7890", "10.0.0.1",
        "httphttp://://x.com", "a@b@c.dd", "1.2.3.4.5.6", "999-999-99999")
      c <- Seq("", " tail", "0 suffix", ".com", " x@", "@y.zz")
    } yield s"$a$b$c"
    val df = samples.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for (fn <- Seq(TextAnalysis.cleanText(_), TextAnalysis.piiRedact(_))) {
      val once = fn(col("text")); val twice = fn(once)
      assert(df.where(not(twice <=> once)).isEmpty,
        df.select(col("text"), once, twice).where(not(twice <=> once)).collect().mkString("\n"))
    }
  }

  test("exactGroups finds the verbatim pair, keeps min id") {
    val got = Dedup.exactGroups(corpus).collect()
    assert(got.length == 1)
    assert(got.head.getAs[Long]("keeper") == 1L)
    assert(got.head.getAs[Long]("dup_count") == 2L)
  }

  test("exactDedup keeps one representative per text") {
    val kept = Dedup.exactDedup(corpus).select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L, 4L, 5L))
  }

  test("ngramJaccardPairs finds exact and near dups, no false pairs") {
    val got = Dedup.ngramJaccardPairs(corpus, n = 3, threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)) && got.contains((1L, 3L)) && got.contains((2L, 3L)))
    assert(!got.exists { case (a, b) => a >= 4L || b >= 4L })
  }

  test("ngramJaccardPairs: the shingle exchange keeps spark.sql.shuffle.partitions partitions") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    val nParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val plans = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan; () }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // jobsOf drains the listener bus, so every plan has arrived
    try jobsOf(Dedup.ngramJaccardPairs(corpus, n = 3, threshold = 0.5).collect())
    finally spark.listenerManager.unregister(listener)
    def shingleStage(p: SparkPlan): Boolean = p match {
      case s: ShuffleQueryStageExec => s.shuffle.outputPartitioning match {
        case h: HashPartitioning => h.expressions.exists(_.references.exists(_.name == "shingle"))
        case _ => false
      }
      case _ => false
    }
    object Walk extends AdaptiveSparkPlanHelper
    val stages = plans.toSeq.flatMap(p => Walk.collect(p) {
      case s: ShuffleQueryStageExec if shingleStage(s) => s.shuffle.numPartitions
    })
    // a reader over the shingle stage would be AQE merging its partitions
    val reads = plans.toSeq.flatMap(p => Walk.collect(p) {
      case r: AQEShuffleReadExec if shingleStage(r.child) => r.partitionSpecs.size
    })
    assert(stages.nonEmpty, "no shingle exchange ran")
    assert((stages ++ reads).forall(_ == nParts),
      s"shingle stage partitions ${stages.mkString(",")}, read as ${reads.mkString(",")}; want $nParts")
  }

  test("ngramJaccardPairs: the df-cut drops a shingle held by more than maxDocsPerShingle docs") {
    val text = "alpha beta gamma delta epsilon"
    // four copies share every shingle; one more pair shares its own
    val docs = ((1L to 4L).map(i => (i, text)) ++ Seq(
      (5L, "one two three four five six"), (6L, "one two three four five six"))
    ).toDF("doc_id", "text")
    def pairs(cap: Int): Set[(Long, Long)] =
      Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5, maxDocsPerShingle = cap)
        .select("a", "b").as[(Long, Long)].collect().toSet
    val copies = for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b)
    assert(pairs(4) == copies.toSet + ((5L, 6L))) // a run of exactly cap docs pairs
    assert(pairs(3) == Set((5L, 6L)))
    assert(pairs(1).isEmpty)
  }

  test("dedupSweep counts agree with per-threshold ngramJaccardPairs") {
    val ths = Seq(5000, 6000, 7000, 8000, 9000)
    val got = Dedup.dedupSweep(corpus, n = 3, thresholdsBps = ths)
      .orderBy("t_bps").as[(Int, Long, Long)].collect()
    assert(got.map(_._1).toSeq == ths) // every threshold gets a row, even zero-count
    for ((t, nPairs, nDocs) <- got) {
      val pairs = Dedup.ngramJaccardPairs(corpus, n = 3, threshold = t / 10000.0)
        .select("a", "b").as[(Long, Long)].collect()
      assert(nPairs == pairs.length.toLong, s"pair count at $t bps")
      assert(nDocs == pairs.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong,
        s"doc count at $t bps")
    }
    // the curve is monotone: raising the threshold never adds pairs
    assert(got.map(_._2).toSeq == got.map(_._2).toSeq.sorted.reverse)
  }

  test("containmentPairs flags an excerpt symmetric jaccard misses") {
    // doc 20 = a verbatim 12-token excerpt of the 60-token doc 21:
    // jaccard = 10/58 ≈ 0.17 (invisible at 0.8) but containment = 1.0
    val long = (1 to 60).map(i => s"w$i").mkString(" ")
    val excerpt = (1 to 12).map(i => s"w$i").mkString(" ")
    val other = (100 to 140).map(i => s"x$i").mkString(" ")
    val docs = Seq((20L, excerpt), (21L, long), (22L, other)).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, n = 3, threshold = 0.9)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(cont == Set((20L, 21L)))
    val jac = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(jac.isEmpty) // the same pair is invisible to symmetric jaccard
  }

  test("minhashLshPairs candidates verified by true jaccard") {
    val got = Dedup.minhashLshPairs(corpus, n = 3, k = 16, rowsPerBand = 4, threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L))) // identical shingle sets always collide
    assert(!got.exists { case (a, b) => b >= 4L && a >= 4L })
  }

  test("simhashPairs finds near-identical docs only") {
    val got = Dedup.simhashPairs(corpus, maxHamming = 3)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)))
    assert(!got.contains((1L, 4L)) && !got.contains((4L, 5L)))
  }

  test("connectedComponents: transitive chains collapse to one cluster") {
    // chain 1-2, 2-3, 3-4 (diameter 3 → needs multiple rounds) plus a
    // separate pair 10-11; cluster label = component min
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents: long drift chain converges via pointer jumping") {
    // 40-link chain needs ~39 plain min-label rounds; path halving must
    // converge it well inside the default maxRounds=25. threshold=0
    // forces the DISTRIBUTED path (the default would take local
    // union-find for a graph this small).
    val pairs = (1L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    val got = Dedup.connectedComponents(pairs, localEdgeThreshold = 0)
      .as[(Long, Long)].collect()
    assert(got.length == 40 && got.forall(_._2 == 1L))
  }

  test("connectedComponents: local union-find path matches the distributed path") {
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(120)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .toDF("a", "b")
    val local = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toSet
    val dist = Dedup.connectedComponents(pairs, localEdgeThreshold = 0)
      .as[(Long, Long)].collect().toSet
    assert(local == dist && local.nonEmpty)
  }

  test("knnIvf: non-dense id domain (all odd) still searches, never zero centroids") {
    val odd = (0 until 40).map(i => (2L * i + 1, Array.tabulate(4)(j => if (j == i % 4) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.knnIvf(odd, odd.where(col("vec_id") === 1), k = 3, nLists = 4, nProbe = 4)
    assert(got.count() > 0)
    // PQ codebooks come from the same sample and its first-N fallback
    val q = odd.where(col("vec_id") === 1)
    assert(Similarity.knnPq(odd, q, k = 3, m = 2, nCodes = 4, dim = 4).count() > 0)
    assert(Similarity.knnIvfPq(odd, q, k = 3, nLists = 4, nProbe = 4,
      m = 2, nCodes = 4, dim = 4).count() > 0)
  }

  test("dedupByPairs keeps one survivor per cluster, unpaired docs untouched") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val kept = Dedup.dedupByPairs(corpus, pairs).select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 4L, 5L))
  }

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.99f, 0.1f, 0.0f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    (3L, Array(0.0f, 0.98f, 0.2f, 0.0f)),
    (4L, Array(0.0f, 0.0f, 0.0f, 1.0f))
  ).toDF("vec_id", "embedding")

  test("semanticDedup: within-cluster ε-ball keeps the lowest id") {
    // nClusters=2 → centroid sample picks vec_ids 0 and 2 (step=2);
    // cluster 0 holds {0,1,4} (4 ties 0-cos to both, lowest list id
    // wins), cluster 2 holds {2,3}; (0,1) and (2,3) are ≥0.9 cosine
    val got = Dedup.semanticDedup(vecs, nClusters = 2, threshold = 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(got == Set(0L, 2L, 4L))
  }

  test("semanticDedup: orthogonal vectors all survive") {
    val ortho = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    assert(Dedup.semanticDedup(ortho, nClusters = 2, threshold = 0.9).count() == 4)
  }

  test("simhashPairs honors larger maxHamming via more blocks (regression)") {
    // identical docs (hamming 0) must be found at any maxHamming
    val got = Dedup.simhashPairs(corpus, maxHamming = 5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)))
  }

  test("hyperplane LSH tables are independent families (regression)") {
    import graft.functions.VectorFunctions
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val buckets = emb.select(
      VectorFunctions.hyperplaneBucket(col("embedding"), 8, seed = 0).as("b0"),
      VectorFunctions.hyperplaneBucket(col("embedding"), 8, seed = 1).as("b1"))
    // a nested family would make b1 a deterministic refinement of b0;
    // independent seeds must disagree on bucketing for many vectors
    assert(buckets.where(col("b0") =!= col("b1")).count() > 0)
    // and the pairing (b0 -> b1) must not be a function (true independence)
    val fnLike = buckets.groupBy("b0").agg(countDistinct("b1").as("n"))
      .where(col("n") > 1).count()
    assert(fnLike > 0)
  }

  test("simhashPairs: hot block buckets are dropped by maxDocsPerBucket") {
    // with a cap of 1 every bucket holding a candidate pair is "hot",
    // so the df-cut must eliminate all pairs (quadratic-fan-out guard)
    assert(Dedup.simhashPairs(corpus, maxHamming = 3, maxDocsPerBucket = 1).count() == 0)
  }

  test("embeddingCosinePairs: hot buckets are dropped by maxDocsPerBucket") {
    assert(Dedup.embeddingCosinePairs(vecs, threshold = 0.9, nPlanes = 4,
      maxDocsPerBucket = 1).count() == 0)
  }

  test("mutualKnn cap: hot-bucket neighbor side is sampled, inert cap is exact") {
    // 30 colinear vectors: identical sign pattern → one LSH bucket in
    // every table, cosine exactly 1.0 for all pairs (scaled copies),
    // so micro ties break on nbr_id and the uncapped mutual graph is
    // fully determined: top-5 of any query = the 5 lowest other ids,
    // mutual pairs = all pairs within {0..5} = C(6,2) = 15
    val colinear = (0 until 30).map { i =>
      (i.toLong, Array((1.0f + i * 0.001f), 0.0f, 0.0f, 0.0f))
    }.toDF("vec_id", "embedding")
    val uncapped = Similarity.mutualKnn(colinear, k = 5, nPlanes = 4,
      maxDocsPerBucket = Int.MaxValue)
    assert(uncapped.count() == 15)
    // cap = 10 < 30: both endpoints of every surviving pair must come
    // from the hash-ordered neighbor sample (≤ cap ids per table, 2
    // tables) — strictly fewer distinct ids than the corpus proves the
    // cap actually bound, and two runs must agree (deterministic sample)
    def pairs() = Similarity.mutualKnn(colinear, k = 5, nPlanes = 4,
      maxDocsPerBucket = 10).select("a", "b").as[(Long, Long)].collect().toSet
    val got = pairs()
    val ids = got.flatMap(p => Seq(p._1, p._2))
    assert(ids.size <= 20, s"cap did not bind: ${ids.size} distinct ids")
    assert(got == pairs(), "capped mutualKnn is not deterministic")
  }

  test("embeddingCosinePairs: same-direction vectors pair up") {
    val got = Dedup.embeddingCosinePairs(vecs, threshold = 0.9, nPlanes = 4)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // (0,1) and (2,3) are >0.9 cosine; LSH same-bucket is guaranteed for
    // identical sign patterns, which these share
    assert(got.contains((0L, 1L)))
    assert(got.contains((2L, 3L)))
    assert(!got.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("semanticSearch: documentIdFilter restricts to one document") {
    val records = Seq(
      ("1:0", Array(1.0f, 0.0f, 0.0f, 0.0f), "d1"),
      ("1:1", Array(0.9f, 0.1f, 0.0f, 0.0f), "d1"),
      ("2:0", Array(1.0f, 0.0f, 0.0f, 0.0f), "d2")
    ).toDF("key", "embedding", "documentid")
    val q = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val all = Similarity.semanticSearch(records, q, k = 2)
      .select("key").as[String].collect().toSeq
    assert(all == Seq("1:0", "2:0")) // cos tie → key order
    val only2 = Similarity.semanticSearch(records, q, k = 2, documentIdFilter = Some("d2"))
      .select("key").as[String].collect().toSeq
    assert(only2 == Seq("2:0"))
    // empty filter = no filter (SemanticSearch.cs: Length > 0 guard)
    assert(Similarity.semanticSearch(records, q, k = 2, documentIdFilter = Some(""))
      .count() == 2)
  }

  test("knnBruteForce: exact ranking by cosine") {
    val got = Similarity.knnBruteForce(vecs, Array(1.0f, 0.0f, 0.0f, 0.0f), k = 3)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == Seq(0L, 1L, 2L)) // cos: 1.0, ~0.995, 0.0 (ties → min id)
  }

  test("knnBruteForceBatch: per-query top-k, self excluded") {
    val queries = vecs.where(col("vec_id") < 2)
    val got = Similarity.knnBruteForceBatch(vecs, queries, k = 2)
      .select("query_id", "rank", "nbr_id").as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(got(0L).head == 1L) // nearest to e1 is its near-copy
    assert(got(1L).head == 0L)
    assert(got.values.forall(_.length == 2))
  }

  test("knnPq: full codebook (nCodes >= N) reproduces exact L2 ranking") {
    // every vector is its own code → ADC distance = true L2² — PQ's
    // accuracy-limit case, which pins encode + ADC arithmetic exactly
    val vs = (0 until 12).map(i =>
      (i.toLong, Array.tabulate(8)(j => ((i * 7 + j * 3) % 5 - 2).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = vs.where(col("vec_id") < 3)
    val got = Similarity.knnPq(vs, queries, k = 4, m = 4, nCodes = 12, dim = 8)
      .select("query_id", "rank", "nbr_id", "dist")
      .as[(Long, Int, Long, Double)].collect()
    val emb = vs.as[(Long, Seq[Float])].collect().toMap
    def l2(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble) }.sum
    val expect = (0L until 3L).flatMap { q =>
      emb.keys.filter(_ != q).toSeq
        .map(n => (q, n, l2(emb(q), emb(n))))
        .sortBy { case (_, n, d) => (d, n) }.take(4).zipWithIndex
        .map { case ((qq, n, d), r) => (qq, r + 1, n, d) }
    }.toSet
    assert(got.map(t => (t._1, t._2, t._3, t._4)).toSet == expect)
  }

  test("knnIvfPq: probing every list reproduces plain PQ exactly") {
    // with nProbe = nLists the coarse quantizer prunes nothing, so the
    // composition must equal knnPq bit-for-bit — pins that IVF
    // assignment and PQ encoding compose without disturbing either
    val vs = (0 until 24).map(i =>
      (i.toLong, Array.tabulate(8)(j => ((i * 5 + j * 7) % 9 - 4).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = vs.where(col("vec_id") < 3)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "nbr_id", "dist")
      .as[(Long, Int, Long, Double)].collect().toSet
    val full = rows(Similarity.knnIvfPq(vs, queries, k = 4,
      nLists = 4, nProbe = 4, m = 4, nCodes = 6, dim = 8))
    val pq = rows(Similarity.knnPq(vs, queries, k = 4, m = 4, nCodes = 6, dim = 8))
    assert(full == pq && full.nonEmpty)
  }

  test("mmrSearch: near-duplicate of the first pick is demoted below a diverse candidate") {
    // query along e1 (NOT equal to any candidate — a first pick equal
    // to the query makes rel ≡ sim-to-pick-1 and MMR degenerates to
    // relevance order at any λ). rel: 10 ≈ .994, 11 ≈ .993, 12 = .6;
    // step 2 at λ=0.5: 11 scores .5(.993 − .99995) < 0, 12 scores
    // .5(.6 − .508) > 0 → the diverse candidate wins
    val vs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), // the query
      (10L, Array(0.9f, 0.1f, 0f, 0f)),
      (11L, Array(0.9f, 0.11f, 0f, 0f)),
      (12L, Array(0.6f, -0.8f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.mmrSearch(vs, vs.where(col("vec_id") === 0),
      k = 3, poolSize = 10, lambda = 0.5)
      .orderBy("rank").select("nbr_id").as[Long].collect().toSeq
    assert(got == Seq(10L, 12L, 11L))
    // pure relevance control: brute force ranks the near-dup second
    val rel = Similarity.knnBruteForceBatch(vs, vs.where(col("vec_id") === 0), k = 3)
      .orderBy("rank").select("nbr_id").as[Long].collect().toSeq
    assert(rel == Seq(10L, 11L, 12L))
  }

  test("incrementalNgramPairs: pairs touch the delta; existing corpus never self-pairs") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // old↔old dup — must NOT appear
      (3L, "totally different content words here now")
    ).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"), // copy of 1 and 2
      (11L, "alpha beta gamma delta epsilon zeta"), // new↔new dup with 10
      (12L, "unrelated fresh text with novel tokens")
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalNgramPairs(corpus, delta, n = 3, threshold = 0.8)
    val pairs = got.select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L), (10L, 11L)))
    // 6 tokens, n=3 → 4 shingles; identical docs → inter = na = nb = 4
    val row = got.where(col("a") === 1L && col("b") === 10L).collect().head
    assert((row.getAs[Long]("inter"), row.getAs[Int]("na"), row.getAs[Int]("nb"))
      == ((4L, 4, 4)))
  }

  test("incrementalNgramPairs equals ngramJaccardPairs over corpus ∪ delta, on pairs touching the delta") {
    // disjoint ids: 1 and 4 exist, 2, 3 and 5 arrive — old×new (1,2),
    // (1,3) and new×new (2,3) pairs all cross the split
    val old = corpus.where(col("doc_id") % 3 === 1)
    val delta = corpus.where(col("doc_id") % 3 =!= 1)
    val deltaIds = delta.select("doc_id").as[Long].collect().toSet
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b", "inter", "na", "nb").collect().toSet
    val inc = rows(Dedup.incrementalNgramPairs(old, delta, n = 3, threshold = 0.8))
    val full = rows(Dedup.ngramJaccardPairs(old.unionByName(delta), n = 3, threshold = 0.8))
      .filter(r => deltaIds(r.getLong(0)) || deltaIds(r.getLong(1)))
    assert(full.nonEmpty)
    assert(inc == full, s"incremental-only: ${inc -- full}\nfull-only: ${full -- inc}")
  }

  test("knnPq: coarse codebook still ranks the near-copy first") {
    val got = Similarity.knnPq(vecs, vecs.where(col("vec_id") === 0),
      k = 2, m = 2, nCodes = 3, dim = 4).orderBy("rank")
      .select("nbr_id").as[Long].collect()
    assert(got.nonEmpty) // quantized search returns ranked candidates
  }

  test("fuzzyEditPairs: substitution typo pairs, unrelated heads rejected") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq(
      (1L, base),
      (2L, base.replace("beta", "bXta")),    // 1 substitution inside the head
      (3L, base),                            // exact duplicate of 1
      (4L, "totally different words that share no head segment at all ok")
    ).toDF("doc_id", "text")
    val got = Dedup.fuzzyEditPairs(docs, headLen = 64, segments = 3, maxDist = 2)
    val pairs = got.select("a", "b", "dist").as[(Long, Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L, 1L), (1L, 3L, 0L), (2L, 3L, 1L)))
    // a head shorter than the segment count has zero-width slices,
    // which would block nothing and silently return no pairs
    intercept[IllegalArgumentException](
      Dedup.fuzzyEditPairs(docs, headLen = 2, segments = 3, maxDist = 2))
  }

  test("fuzzyEditPairs: edits in different slices still block via the untouched slice") {
    // two substitutions, one in slice 0 and one in slice 2 → only
    // slice 1 is shared; pigeonhole blocking must still find the pair
    val base = "one two three four five six seven eight nine ten eleven twelve!"
    val edited = "Xne two three four five six seven eight nine ten eleven twelvX!"
    val docs = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val got = Dedup.fuzzyEditPairs(docs, headLen = 64, segments = 3, maxDist = 2)
      .collect()
    assert(got.length == 1 && got.head.getAs[Long]("dist") == 2L)
  }

  test("fuzzyEditPairs: hot segments are dropped by maxDocsPerSegment") {
    val docs = (1L to 10L).map(i => (i, "identical boilerplate prefix shared by every single document here"))
      .toDF("doc_id", "text")
    val capped = Dedup.fuzzyEditPairs(docs, maxDocsPerSegment = 5)
    assert(capped.count() == 0L) // all segments over the cap → no candidates
    val uncapped = Dedup.fuzzyEditPairs(docs, maxDocsPerSegment = 100)
    assert(uncapped.count() == 45L) // all C(10,2) identical-head pairs
  }

  test("knnLsh: returns correctly-scored subset with ranks") {
    val got = Similarity.knnLsh(vecs, vecs.where(col("vec_id") === 0), dim = 4, k = 3)
      .collect()
    assert(got.nonEmpty)
    // rank 1 must be the true nearest among candidates, and cosines exact
    val byRank = got.sortBy(_.getAs[Int]("rank"))
    assert(byRank.head.getAs[Long]("nbr_id") == 1L)
    assert(math.abs(byRank.head.getAs[Double]("cos") - 0.99 / math.sqrt(0.99 * 0.99 + 0.01)) < 1e-6)
  }

  test("cdcChunkDedup matches a driver-side reference model on a synthetic corpus") {
    import graft.operators.Dedup
    // independent reference: char-level dual-polynomial window hash +
    // the same cut rule, computed with plain Scala collections
    val P1 = 1000000007L; val P2 = 998244353L
    def h1(s: String) = s.foldLeft(0L)((a, c) => (a * 31 + c) % P1)
    def h2(s: String) = s.foldLeft(0L)((a, c) => (a * 131 + c) % P2)
    def h60(s: String) = h1(s) * P2 + h2(s)
    def model(docs: Seq[(Long, String)]): Map[Long, (Long, Long, Long)] = {
      val chunks = docs.flatMap { case (id, text) =>
        val t = text.split("\\s+").filter(_.nonEmpty)
        if (t.isEmpty) Seq.empty
        else {
          val wh = (0 to t.length - 4).map(i => h60(t.slice(i, i + 4).mkString(" ")))
          val cuts = (1 until wh.length).filter(i => wh(i) % 64 == 0)
          val bs = 0 +: cuts :+ t.length
          bs.init.zip(bs.tail).zipWithIndex.map { case ((a, b), ci) =>
            (id, ci, b - a, h60(t.slice(a, b).mkString(" ")))
          }
        }
      }
      val owner = chunks.groupBy(_._4).view
        .mapValues(_.map(c => (c._1, c._2)).min).toMap
      chunks.groupBy(_._1).map { case (id, cs) =>
        val dups = cs.filter(c => owner(c._4) != ((c._1, c._2)))
        id -> (cs.size.toLong, dups.size.toLong, dups.map(_._3.toLong).sum)
      }
    }
    // deterministic varied corpus: LCG tokens, exact + mutated copies
    def words(seed: Long, n: Int) = {
      var x = seed
      (0 until n).map { _ => x = (x * 6364136223846793005L + 1442695040888963407L)
        s"w${(x >>> 33) % 1499}" }.mkString(" ")
    }
    val docs = (0L until 20L).map(i => (i, words(i + 1, 150 + (i * 17 % 100).toInt))) ++
      Seq((100L, words(3, 201)), (101L, "tail added " + words(5, 219)))
    val got = Dedup.cdcChunkDedup(docs.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == model(docs), s"mismatch:\n got=$got\n exp=${model(docs)}")
    assert(got.values.map(_._1).sum > docs.size, "multiple chunks expected")
    assert(got(100L)._2 > 0, "exact copy must carry duplicate chunks")
  }

  test("cdcChunkDedup: content-defined cuts survive prefix insertion and suffix append") {
    import graft.operators.Dedup
    // deterministic 500-token doc with varied tokens → several cuts
    val base = (0 until 500).map(i => s"w${(i * 7919 + 13) % 977}").mkString(" ")
    val docs = Seq(
      (0L, base),
      (1L, base + " trailing suffix appended"),
      (2L, "inserted prefix " + base)
    ).toDF("doc_id", "text")
    val got = Dedup.cdcChunkDedup(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (na, da) = got(0L)
    assert(na >= 3, s"expected several chunks, got $na") // cuts actually fire
    assert(da == 0) // doc 0 owns all its content
    // suffix: every chunk except the LAST is content-identical to doc 0's
    val (nb, db) = got(1L)
    assert(db == nb - 1, s"suffix copy: $db dup of $nb")
    // prefix insertion: cuts re-synchronize after the first cut — every
    // chunk except the FIRST matches doc 0 (the fixed-offset failure mode)
    val (nc, dc) = got(2L)
    assert(dc == nc - 1, s"prefix copy: $dc dup of $nc")
  }
}
