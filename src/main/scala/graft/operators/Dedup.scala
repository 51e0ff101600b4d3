package graft.operators

import graft.functions.{TextFunctions, VectorFunctions}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * Scale posture: none of these ever materializes all-pairs. Exact
  * dedup is one hash aggregate; the near-dup family shuffles once on a
  * derived key (shingle hash, LSH band, simhash block, hyperplane
  * bucket) and generates candidate pairs only *within* buckets, so the
  * join fan-out is bounded by bucket size, not corpus size. This is
  * the standard MinHash-LSH construction (Broder; Leskovec et al.,
  * Mining of Massive Datasets ch. 3).
  */
object Dedup {

  /** Exact duplicates: group by content, keep the smallest id as the
    * canonical representative. Output one row per duplicate *group*
    * (keeper, dup_count) — at 100 TB this is a single map-side-combined
    * hash aggregate on a fingerprint, never on the raw text.
    */
  def exactGroups(documents: DataFrame): DataFrame =
    documents
      // group on a 256-bit digest, not the text: the map-side partial
      // aggregate then shuffles 32-byte keys instead of whole documents
      // (collision probability ~0 at any corpus size)
      .groupBy(sha2(col("text"), 256).as("digest"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("dup_count"))
      .where(col("dup_count") > 1)
      .select(col("keeper"), col("dup_count"))

  /** Exact-dedup the corpus: keep one row (min doc_id) per distinct
    * text. The winner set is computed over digests; the corpus itself
    * shuffles once on (digest, doc_id) for the semi join — co-locating
    * survivors with winner-ness is the one unavoidable corpus shuffle
    * of any exact dedup that returns full rows.
    */
  def exactDedup(documents: DataFrame): DataFrame = {
    // null text → sentinel digest: sha2(null) is null and null keys
    // never match in a join, which would silently DROP null-text rows;
    // the sentinel groups them like SQL's null-grouping semantics
    val digested = documents.withColumn("digest",
      coalesce(sha2(col("text"), 256), lit("<null-text>")))
    val keep = digested.groupBy(col("digest")).agg(min(col("doc_id")).as("doc_id"))
    digested.join(keep, Seq("digest", "doc_id"), "left_semi").drop("digest")
  }

  /** N-gram Jaccard near-duplicate pairs (a < b, jaccard ≥ threshold).
    *
    * Plan: distinct shingle hashes per doc → explode → self-join on
    * shingle (co-occurrence count per pair) → jaccard from
    * |A∩B| / (|A|+|B|-|A∩B|) with integer arithmetic. The explode/join
    * shuffles on the shingle hash; hot shingles are capped by
    * `maxDocsPerShingle` (drop shingles shared by too many docs — they
    * carry no discriminative signal and would otherwise create
    * quadratic fan-out; standard df-cut).
    */
  def ngramJaccardPairs(documents: DataFrame, n: Int = 3,
                        threshold: Double = 0.8,
                        maxDocsPerShingle: Int = 1000): DataFrame =
    ngramPairCounts(documents, n, maxDocsPerShingle)
      .where(jaccardAtLeast(lit((threshold * 10000).round)))
      .select(col("a"), col("b"), col("inter"), col("na"), col("nb"))

  /** jaccard >= t  ⇔  inter >= t * (na + nb - inter), over the
    * (inter, na, nb) columns of a sized pair set, with `tBps` the
    * threshold in basis points: the scaling keeps integer arithmetic
    * without quantizing the caller's threshold to whole percents. The
    * one acceptance test of every n-gram Jaccard operator. */
  private def jaccardAtLeast(tBps: Column): Column =
    col("inter") * lit(10000) >= tBps * (col("na") + col("nb") - col("inter"))

  /** Dedup-aggressiveness sweep: pair and affected-document counts at
    * several Jaccard thresholds from ONE candidate pass — the tuning
    * curve an operator reads before committing a threshold to a
    * 100 TB dedup run (re-running the full pairing per candidate
    * threshold would cost the corpus-sized stages |thresholds|
    * times). Output (t_bps, n_pairs, n_docs), one row per requested
    * threshold in basis points, zero-count thresholds included.
    *
    * Scale shape: the shared [[ngramJaccardPairs]] candidate stage
    * runs once; the tiny threshold table broadcasts into an
    * inequality join against the pairs-bounded counts, and the
    * acceptance test is the production operators' own integer
    * basis-point inequality — no float threshold can disagree with
    * what [[ngramJaccardPairs]] would actually keep.
    */
  def dedupSweep(documents: DataFrame, n: Int = 3,
                 thresholdsBps: Seq[Int] = Seq(5000, 6000, 7000, 8000, 9000),
                 maxDocsPerShingle: Int = 1000): DataFrame = {
    require(thresholdsBps.nonEmpty)
    import documents.sparkSession.implicits._
    val tdf = thresholdsBps.toDF("t_bps")
    val hits = ngramPairCounts(documents, n, maxDocsPerShingle)
      .join(broadcast(tdf), jaccardAtLeast(col("t_bps")))
      .select(col("t_bps"), explode(array(col("a"), col("b"))).as("d"))
    val ag = hits.groupBy(col("t_bps")).agg(
      (count(lit(1)) / 2).cast("long").as("n_pairs"),
      countDistinct(col("d")).as("n_docs"))
    tdf.join(ag, Seq("t_bps"), "left")
      .select(col("t_bps"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
  }

  /** Asymmetric near-dup pairs by Jaccard CONTAINMENT (Broder):
    * |A∩B| / min(|A|,|B|) >= threshold — flags a short document whose
    * shingles sit (almost) entirely inside a longer one (an excerpt, a
    * quotation, a page wrapped in boilerplate). Symmetric Jaccard
    * misses exactly these: an excerpt of a long doc has tiny
    * |A∩B|/|A∪B| however verbatim the copy is. Same candidate
    * machinery and scale shape as [[ngramJaccardPairs]] — only the
    * acceptance inequality differs (min instead of union), so the df-cut,
    * bare-id buckets and pairs-bounded size rejoins all carry over.
    */
  def containmentPairs(documents: DataFrame, n: Int = 3,
                       threshold: Double = 0.9,
                       maxDocsPerShingle: Int = 1000): DataFrame =
    ngramPairCounts(documents, n, maxDocsPerShingle)
      // containment >= t  ⇔  inter >= t * min(na, nb)
      .where(col("inter") * lit(10000) >= lit((threshold * 10000).round) * least(col("na"), col("nb")))
      .select(col("a"), col("b"), col("inter"), col("na"), col("nb"))

  /** Incremental near-dup pairs: every near-duplicate pair that
    * TOUCHES a new snapshot delta — delta↔existing and delta↔delta —
    * without re-pairing the existing corpus against itself. The
    * incremental-ingestion composition partner of
    * [[Corpus.snapshotDiff]]: at 100 TB, re-running full n-gram dedup
    * for a 1% daily delta re-shuffles the whole corpus; here the
    * existing corpus is only SCANNED, never self-paired. Delta ids
    * must be disjoint from corpus ids (re-ingested ids belong in
    * [[Corpus.snapshotDiff]]'s `changed` set first).
    *
    * Scale shape: the corpus pass semi-joins its shingle stream
    * against the delta's distinct shingles — AQE broadcasts the delta
    * side whenever it fits, making the corpus branch MAP-ONLY (zero
    * corpus shuffle). Everything downstream (touched occurrences,
    * df-cut, candidate pairs, size rejoins) is delta-proportional.
    * The df-cut counts holders among touched ∪ delta occurrences,
    * which for any delta shingle equals its full combined-corpus
    * document frequency — the same protection semantics as
    * [[ngramJaccardPairs]]'s bucket cap, restricted to the shingles
    * that can matter. Acceptance inequality and output schema match
    * [[ngramJaccardPairs]] ((a,b) = (least, greatest)), so callers
    * can union incremental batches with a one-time full pairing.
    *
    * Crossover: the win is delta-proportionality, not constants — at
    * sf0.1 a 1% delta runs ~2× faster than re-pairing (semi join
    * broadcast, corpus branch map-only) while a 10% delta is SLOWER
    * than one full pairing (the delta shingle set outgrows the
    * broadcast cap and the extra stages cost more than they save);
    * prefer full [[ngramJaccardPairs]] once deltas approach ~5-10%.
    */
  def incrementalNgramPairs(corpus: DataFrame, delta: DataFrame, n: Int = 3,
                            threshold: Double = 0.8,
                            maxDocsPerShingle: Int = 1000): DataFrame = {
    def sh(df: DataFrame) = df.select(col("doc_id"),
      explode(TextFunctions.shingleHashes(col("text"), n)).as("shingle"))
    def sizes(df: DataFrame) = df.select(col("doc_id"),
      size(TextFunctions.shingleHashes(col("text"), n)).as("n_sh"))
    val deltaSh = sh(delta).localCheckpoint(true) // small; three consumers
    val touched = sh(corpus)
      .join(deltaSh.select(col("shingle")).distinct(), Seq("shingle"), "left_semi")
    val occ = touched.withColumn("is_new", lit(false))
      .unionByName(deltaSh.withColumn("is_new", lit(true)))
      .localCheckpoint(true) // delta-proportional; feeds df-cut + both pair legs
    val keep = occ.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDocsPerShingle)
    val capped = occ.join(keep.select(col("shingle")), Seq("shingle"))
    val newSide = capped.where(col("is_new"))
      .select(col("shingle"), col("doc_id").as("y"))
    val pairsRaw = capped
      .select(col("shingle"), col("doc_id").as("x"), col("is_new"))
      .join(newSide, Seq("shingle"))
      // old×new kept once (y is always the delta side); new×new
      // deduped by x < y, which also drops self-pairs
      .where((!col("is_new") && col("x") =!= col("y")) ||
        (col("is_new") && col("x") < col("y")))
    sizedPairs(
      pairsRaw
        .groupBy(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b"))
        .agg(count(lit(1)).as("inter")),
      sizes(corpus).unionByName(sizes(delta)))
      .where(jaccardAtLeast(lit((threshold * 10000).round)))
      .select(col("a"), col("b"), col("inter"), col("na"), col("nb"))
  }

  /** Shared candidate stage for [[ngramJaccardPairs]] /
    * [[containmentPairs]]: every unordered doc pair sharing ≥1
    * surviving shingle, with intersection and both distinct-shingle
    * sizes attached. */
  private def ngramPairCounts(documents: DataFrame, n: Int,
                              maxDocsPerShingle: Int): DataFrame = {
    import documents.sparkSession.implicits._
    val shingled = documents.where(col("doc_id").isNotNull)
      .select(col("doc_id"), explode(TextFunctions.shingleHashes(col("text"), n)).as("shingle"))
    // per-doc distinct-shingle counts: computed map-only straight from
    // the corpus (tiny (doc_id, n_sh) rows) and joined back AFTER pair
    // generation, so the per-shingle buckets below carry bare doc ids —
    // one long each — instead of (doc_id, n_sh) structs.
    val sizes = documents.select(
      col("doc_id"), size(TextFunctions.shingleHashes(col("text"), n)).as("n_sh"))
    // ONE corpus shuffle: the (shingle, doc_id) stream hash-partitions
    // and sorts on the shingle, and each run of one shingle — its
    // bucket — yields its doc pairs in a single streaming pass that
    // holds at most maxDocsPerShingle + 1 ids (the df-cut, which
    // doubles as skew protection: a hot shingle is dropped, never
    // paired). A self-join formulation would scan + shuffle the
    // shingles twice and a count-window df-cut can't skew-split under
    // AQE; a collect_list aggregate builds, serializes and merges one
    // buffer per shingle, three times the CPU of the sorted pass. The
    // exchange has an explicit partition count (the session's
    // spark.sql.shuffle.partitions): AQE sizes shuffle partitions by
    // BYTES and would merge this one — a few bytes per shingle
    // occurrence — into a single partition, but the pairing above it is
    // CPU-bound per byte, and on one task it leaves every other task
    // slot idle.
    val pairs = shingled
      .repartition(
        documents.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        col("shingle"))
      .sortWithinPartitions(col("shingle"))
      .select(col("shingle"), col("doc_id")).as[(Long, Long)]
      .mapPartitions(rows => bucketPairs(rows, maxDocsPerShingle))
      .toDF("a", "b")
    sizedPairs(pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter")), sizes)
  }

  /** The doc pairs of a shingle-sorted (shingle, doc_id) stream: for
    * each run of one shingle holding 2 to `cap` docs, every unordered
    * pair of them as (least, greatest); a longer run is dropped. Holds
    * at most cap + 1 ids, whatever the run length. */
  private def bucketPairs(rows: Iterator[(Long, Long)], cap: Int): Iterator[(Long, Long)] = {
    val in = rows.buffered
    val held = new scala.collection.mutable.ArrayBuffer[Long]
    Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
      val shingle = in.head._1
      held.clear()
      var docs = 0
      while (in.hasNext && in.head._1 == shingle) {
        val d = in.next()._2
        if (docs <= cap) held += d
        docs += 1
      }
      if (docs < 2 || docs > cap) Iterator.empty
      else {
        val ids = held.toArray
        for (i <- ids.indices.iterator; j <- (i + 1 until ids.length).iterator)
          yield (math.min(ids(i), ids(j)), math.max(ids(i), ids(j)))
      }
    }
  }

  /** The size tail shared by [[ngramPairCounts]] and
    * [[incrementalNgramPairs]]: an (a, b, inter) pair set with both
    * sides' distinct-shingle counts attached as (na, nb), from a
    * (doc_id, n_sh) table. */
  private def sizedPairs(counts: DataFrame, sizes: DataFrame): DataFrame = {
    // pairCounts has THREE consumers below (both pairDocs legs + the
    // final join input). ReuseExchange only dedups the shuffle WRITE —
    // the candidate stage (e.g. the collect_list bucket aggregate and
    // the pair-gen explode) sits ABOVE its exchange and would
    // re-execute per consumer (measured: 5 copies of the pair-gen
    // pipeline in the un-checkpointed plan). Materializing the
    // (a,b,inter) pair set — tiny relative to the corpus — runs the
    // expensive stage exactly once.
    val pairCounts = counts.localCheckpoint(true)
    // Semi-join pruning: `sizes` is corpus-cardinality, so joining it to
    // the candidate pairs directly only stays broadcast while the CORPUS
    // fits the broadcast cap. Restricting sizes to doc ids that survived
    // pair generation first (pair set ≪ corpus after the shingle pass)
    // usually keeps the final joins broadcast-sized. No broadcast hint on
    // the pruning join: in a dup-heavy corpus pairDocs can approach
    // corpus cardinality, and a forced hint would hard-fail at the
    // broadcast cap where AQE's runtime-size choice (pairDocs is
    // post-shuffle, so its size is measured, not estimated) degrades
    // gracefully to a shuffle semi-join.
    val pairDocs = pairCounts.select(col("a").as("doc_id"))
      .union(pairCounts.select(col("b").as("doc_id"))).distinct()
    // checkpointed for the same reason: prunedSizes feeds both the a-
    // and b-side rejoins, and without materialization the corpus-wide
    // shingle-size scan would execute once per side
    val prunedSizes = sizes.join(pairDocs, Seq("doc_id"), "left_semi")
      .localCheckpoint(true)
    pairCounts
      .join(prunedSizes.select(col("doc_id").as("a"), col("n_sh").as("na")), Seq("a"))
      .join(prunedSizes.select(col("doc_id").as("b"), col("n_sh").as("nb")), Seq("b"))
  }

  /** MinHash + LSH near-duplicate pairs: k-minhash signature, banded
    * into `k/rowsPerBand` keys; docs sharing a band key are candidates;
    * candidates are verified with true shingle Jaccard. One shuffle on
    * band keys (tiny rows), one candidate-pair verify join. These are
    * the self-pairs of the persisted index's rows ([[indexRows]]), so
    * the index probe and the streaming seed batch find the same pairs.
    */
  def minhashLshPairs(documents: DataFrame, n: Int = 3, k: Int = 16,
                      rowsPerBand: Int = 4, threshold: Double = 0.8): DataFrame =
    // rows materialized ONCE: four consumers (both sides of the banded
    // self-join + both verify rejoins) would otherwise each re-run the
    // full shingle+minhash+band pipeline (plus partial re-evaluations
    // as inferred DataFilters pushed into the text scan). One
    // materialization of (doc_id, shingles, bands) trades a
    // corpus-sized spill for 4× the signature compute — the same trade
    // a 1000-executor run wants.
    selfPairsFromRows(indexRows(documents, n, k, rowsPerBand).localCheckpoint(true),
      threshold)

  /** SimHash near-duplicate pairs (Manku et al., "Detecting
    * Near-Duplicates for Web Crawling" — the multi-table wide-key
    * scheme): the 60-bit signature splits into `maxHamming + 3`
    * blocks, and each table keys on a COMBINATION of 3 blocks. A pair
    * within hamming distance d has its ≤ d differing bits in ≤ d
    * blocks, leaving ≥ 3 blocks untouched — so some 3-block combo
    * matches exactly and completeness holds with ~30-bit keys.
    *
    * Why combos instead of the naive d+1 single blocks: real corpora
    * are template-heavy, so signature bits CORRELATE across documents
    * and 15-bit single-block keys concentrate (measured at sf1: 53k of
    * 60k docs piled into three hot top-block buckets under the naive
    * scheme, and the df-cut silently dropped 20% of true pairs). A
    * 30-bit combined key spreads the same corpus ~2^15× further, so
    * the quadratic-guard cap stays a pathology guard instead of a
    * recall tax. C(d+3, 3) tables (20 at d = 3) cost a wider explode
    * of tiny rows; candidate quality is sharper, so the verify join
    * shrinks by the same factor the keys widened.
    */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 3,
                   maxDocsPerBucket: Int = 1000): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32, "maxHamming must be in [0, 32)")
    val nBlocks = maxHamming + 3
    val bounds = (0 to nBlocks).map(b => b * 60 / nBlocks)
    val hashed = documents.select(
      col("doc_id"),
      TextFunctions.simHash64(col("text")).as("sim")
    )
      // materialized ONCE (16 bytes/row): three consumers below (hot-
      // bucket aggregate + both join sides) would otherwise each re-scan
      // the corpus and re-run the one-pass simhash kernel
      .localCheckpoint(true)
    // every 3-of-nBlocks combination is one table; its key packs the
    // three block values at 21-bit strides (block width ≤ 20, so the
    // pack is exact — no key collisions beyond true block equality)
    val combos = (0 until nBlocks).combinations(3).toSeq
    val blocks = hashed.select(
      col("doc_id"), col("sim"),
      explode(array(combos.zipWithIndex.map { case (blks, i) =>
        val key = blks.zipWithIndex.map { case (b, j) =>
          val width = bounds(b + 1) - bounds(b)
          val mask = (1L << width) - 1
          shiftleft(shiftright(col("sim"), bounds(b)).bitwiseAND(mask), 21 * j)
        }.reduce(_ + _)
        struct(lit(i).as("blk"), key.as("key"))
      }: _*)).as("b")
    ).select(col("doc_id"), col("sim"), col("b.blk"), col("b.key"))
    // df-cut: a dup-heavy corpus puts every copy of a popular page in
    // the same block bucket → quadratic fan-out in one join task. The
    // bucket key space is bounded (nBlocks * 2^blockWidth, ≤ 256K for
    // maxHamming=3) so the over-cap set is tiny
    val capped = dropHotBuckets(blocks, Seq("blk", "key"), maxDocsPerBucket)
    val a = capped.select(col("blk"), col("key"), col("doc_id").as("a"), col("sim").as("sima"))
    val b = capped.select(col("blk"), col("key"), col("doc_id").as("b"), col("sim").as("simb"))
    a.join(b, Seq("blk", "key"))
      .where(col("a") < col("b"))
      // verify BEFORE the pair-dedup shuffle (minhash-style): hamming is
      // deterministic per pair, so filtering first means dropDuplicates
      // shuffles only surviving (a, b, hamming) triples
      .withColumn("hamming", TextFunctions.hamming64(col("sima"), col("simb")))
      .where(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming"))
      .dropDuplicates("a", "b")
  }

  /** `df` without the rows of buckets (rows sharing `keys`) holding
    * more than `cap` rows — the quadratic-fan-out guard of every
    * bucketed pair join. The bucket count is map-side combined over
    * the keys alone and the over-cap set broadcasts into a left_anti
    * join; dropping hot buckets is the standard df-cut trade (their
    * pairs are overwhelmingly exact dups — catch them with exactDedup
    * first). */
  private def dropHotBuckets(df: DataFrame, keys: Seq[String], cap: Int): DataFrame = {
    val hot = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("cnt")).where(col("cnt") > cap)
      .select(keys.map(col): _*)
    df.join(broadcast(hot), keys, "left_anti")
  }

  /** Connected components over a near-duplicate pair set — the step
    * that turns pairwise matches into dedup CLUSTERS so a pipeline can
    * keep one survivor per component (a transitive chain a~b~c must
    * dedup as ONE group even when (a,c) itself was never emitted).
    *
    * Iterative min-label propagation WITH pointer jumping: each round
    * every node adopts the min label among itself and its neighbors,
    * then additionally its label's own label (path halving) — the same
    * shortcutting idea as large-star/small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond"), giving
    * O(log diameter) rounds even on drift chains. Each round is two
    * shuffle-joins + an aggregate over the PAIR set (not the corpus),
    * and `localCheckpoint` truncates lineage so round N never replays
    * rounds 1..N-1 (only the live round's checkpoint is retained).
    *
    * Like a broadcast join, the strategy is adaptive: a pair set small
    * enough for the driver (≤ `localEdgeThreshold`, default 4M pairs ≈
    * 64 MB) runs a local union-find — identical output, none of the
    * per-round job overhead; anything larger takes the distributed
    * loop. The iterative path is the 100 TB path; the local path is
    * the common case after LSH pre-filtering (pairs ≪ corpus).
    *
    * Input: (a, b) pairs. Output: (doc_id, cluster), cluster = the
    * component's minimum doc id (deterministic canonical member).
    */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 25,
                          localEdgeThreshold: Long = 4L << 20): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // materialize the UNDIRECTED pair set once; the both-directions
    // doubling is only built (from this cheap materialized scan) on the
    // distributed path — the local union-find adds both endpoints per
    // pair anyway, so doubling before the collect would just double the
    // checkpoint and the driver pull
    val undirected = pairs
      .select(col("a").cast("long").as("src"), col("b").cast("long").as("dst"))
      .localCheckpoint(true)
    val nPairs = undirected.count() // materialized above; this is a cached count
    if (nPairs <= localEdgeThreshold) {
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      for (row <- undirected.as[(Long, Long)].collect()) {
        val (a, b) = row
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        // union by MIN root so the representative is the component min
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      val rows = parent.keysIterator.map(n => (n, find(n))).toSeq
      undirected.unpersist()
      return rows.toDF("doc_id", "cluster")
    }
    val edges = undirected
      .union(undirected.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)
    undirected.unpersist()
    // seed with the min of (self, neighbors) instead of self: round 0's
    // neighbor-min join is fused into the label build (one aggregate
    // over the edge set either way), so every run starts one full
    // round ahead — on LSH-shaped pair sets (star-like components)
    // most nodes are already final before the first iteration
    var labels = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("mn"))
      .select(col("src").as("node"), least(col("src"), col("mn")).as("label"))
      .localCheckpoint(true)
    var round = 0
    var changed = 1L
    while (changed > 0 && round < maxRounds) {
      val nbr = edges
        .join(labels.select(col("node").as("dst"), col("label").as("dlabel")), "dst")
        .groupBy(col("src").as("node"))
        .agg(min(col("dlabel")).as("nlabel"))
      val propagated = labels
        .join(nbr, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
      // the self-join below references `propagated` twice; its shuffle
      // exchanges are deduplicated by Spark's ReuseExchange, so no
      // explicit persist is needed (measured: a persist here made the
      // 1M-edge stress SLOWER by adding a full materialization pass)
      // pointer jumping (path halving): also adopt our label's OWN
      // label — every label value is itself a node, so one extra
      // self-join per round turns O(diameter) convergence into
      // O(log diameter); a 1000-link drift chain converges in ~10
      // rounds instead of 1000
      val updated = propagated.as("x")
        .join(propagated.select(col("node").as("label"), col("label").as("l2")), Seq("label"), "left")
        .select(col("node"), least(col("label"), coalesce(col("l2"), col("label"))).as("label"))
        .localCheckpoint(true)
      propagated.unpersist()
      // labels only ever decrease, so "any row changed" ⇔ "some label shrank"
      changed = updated.join(labels.withColumnRenamed("label", "prev"), Seq("node"))
        .where(col("label") < col("prev")).count()
      labels.unpersist() // bound retained checkpoints to the live round
      labels = updated
      round += 1
    }
    edges.unpersist()
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    if (changed > 0)
      log.warn(
        s"connectedComponents: not converged after $maxRounds rounds " +
          "(pathological component diameter); clusters may be split — raise maxRounds")
    else
      log.info(s"connectedComponents: converged in $round rounds ($nPairs pairs)")
    labels.select(col("node").as("doc_id"), col("label").as("cluster"))
  }

  /** Keep one survivor (min doc_id) per near-dup cluster: drop every
    * non-canonical member; unpaired documents pass through untouched.
    */
  def dedupByPairs(documents: DataFrame, pairs: DataFrame): DataFrame = {
    val losers = connectedComponents(pairs)
      .where(col("doc_id") =!= col("cluster")).select(col("doc_id"))
    documents.join(losers, Seq("doc_id"), "left_anti")
  }

  /** URL-canonical duplicate groups over a (doc_id, url) table — the
    * standard web-corpus first pass (CCNet-style): two fetches of the
    * same page under scheme/www/query-string/trailing-slash/case
    * variants are the same document. Canonicalization is a fixed regex
    * chain (lowercase → strip scheme → strip www. → strip query and
    * fragment → strip trailing slash), then one hash aggregate on the
    * canonical key — map-side combined, no raw-URL shuffle beyond the
    * grouping, same 100 TB shape as exactGroups.
    */
  def urlCanonical(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(lower(url), "^https?://", ""),
          // repeated prefix too ("www.www.ex.com"), same fixpoint
          // reasoning as the trailing slashes below
          "^(www\\.)+", ""),
        "[?#].*$", ""),
      // ALL trailing slashes: "/$" stripped one per pass, so "ex.com//"
      // and "ex.com/" canonicalized to DIFFERENT keys and escaped the
      // dedup (caught by the idempotence property in DedupSimilaritySpec)
      "/+$", "")

  def urlDedupGroups(docs: DataFrame): DataFrame =
    docs
      .groupBy(urlCanonical(col("url")).as("canon_url"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("dup_count"))
      .where(col("dup_count") > 1)
      .select(col("canon_url"), col("keeper"), col("dup_count"))

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster the embedding
    * space, then deduplicate WITHIN clusters only — the cluster
    * assignment bounds the otherwise-quadratic pair search to
    * O(Σ cluster²) instead of O(N²), which is the whole reason the
    * method works at web scale. A vector survives iff no LOWER-id
    * vector in its cluster sits within `threshold` cosine (the paper
    * keeps one representative per ε-ball; lowest-id is the
    * deterministic stand-in for its random choice).
    *
    * Plan shape: centroid sample + fold reuse [[Similarity.knnIvf]]'s
    * machinery — the assignment is a map-only argmax over one
    * broadcast centroid row (zero corpus exchanges, the property
    * PlanSpec pins for IVF). The assigned table materializes once and
    * the within-cluster self-join shuffles on `list_id` alone; cluster
    * sizes bound the join fan-out, so `nClusters` must scale with the
    * corpus exactly like [[embeddingCosinePairs]]'s `nPlanes`
    * (√N-ish clusters keeps expected cluster size √N).
    *
    * Returns survivors as (vec_id, list_id) — integers only, so the
    * oracle gate is hash-exact with no float rounding in the output.
    */
  def semanticDedup(vectors: DataFrame,
                    nClusters: Int = 16,
                    threshold: Double = 0.95): DataFrame = {
    val centroidSet = Similarity
      .foldCentroids(Similarity.sampleCentroids(vectors, nClusters))
      .localCheckpoint(true)
    // (vec_id, emb, list_id), map-only; materialized once because the
    // pair join consumes it twice (bare ids), the embedding rejoins
    // twice more, and the survivor anti-join once — re-planning would
    // redo the centroid argmax per consumer
    val assigned = Similarity
      .assignFolded(vectors, centroidSet, "vec_id", "emb", probes = 1)
      .localCheckpoint(true)
    // bare-id cluster self-join (2 longs/row on the list_id exchange);
    // embeddings re-attach via pairs-bounded rejoins — the
    // embeddingCosinePairs/mutualKnn discipline (r6 verdict item)
    val a = assigned.select(col("list_id"), col("vec_id").as("a"))
    val b = assigned.select(col("list_id"), col("vec_id").as("b"))
    val cand = a.join(b, Seq("list_id"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"))
    val dropped = cand
      .join(assigned.select(col("vec_id").as("a"), col("emb").as("ea")), Seq("a"))
      .join(assigned.select(col("vec_id").as("b"), col("emb").as("eb")), Seq("b"))
      .where(VectorFunctions.cosine(col("ea"), col("eb")) >= threshold)
      .select(col("b").as("vec_id"))
      .distinct()
    assigned.select(col("vec_id"), col("list_id"))
      .join(dropped, Seq("vec_id"), "left_anti")
  }

  /** Fuzzy (edit-distance) near-duplicate pairs over a fixed-length
    * document head: (a, b, dist) with levenshtein(head_a, head_b) <=
    * maxDist, the classic small-edit catch (typo'd re-crawls, trailing
    * tweak variants) that token-level Jaccard misses because a one-char
    * edit rewrites a whole token. Candidates are blocked on exact
    * equality of one of `segments` fixed-width head slices —
    * pigeonhole: <= maxDist substitutions with segments > maxDist
    * leave at least one slice untouched, so substitution-only recall
    * is total for heads that fill all `segments` slices (shorter
    * heads expose fewer slices to the pigeonhole — KernelPropsSpec
    * pins the algebra); insert/delete edits shift alignment past the edit
    * point, so indel recall is partial (the trade every segment-
    * blocking edit join makes short of full PassJoin-style shift
    * enumeration, documented here as the operator's contract).
    *
    * Scale shape: one shuffle on the (slot, segment) key carrying
    * (doc_id, head) — heads are `headLen` chars, never whole
    * documents. Per-key fan-out is s² for a segment shared by s docs,
    * so boilerplate-prefix hot segments are dropped by the shared
    * [[dropHotBuckets]] guard. Catalyst
    * pushes the Levenshtein predicate INTO the candidate join (it is
    * a deterministic filter over the final grouping columns), so the
    * verify runs per candidate co-occurrence — at most `segments`×
    * per pair — and only VERIFIED pairs shuffle into the distinct
    * aggregate. That is the right trade at corpus scale: the
    * O(headLen²) verify is cheap CPU inside the join stage, while
    * deduping first would shuffle every raw candidate pair with two
    * heads of payload (PlanSpec pins this shape).
    */
  def fuzzyEditPairs(documents: DataFrame, headLen: Int = 64,
                     segments: Int = 3, maxDist: Int = 2,
                     maxDocsPerSegment: Int = 1000): DataFrame = {
    require(segments > maxDist, "pigeonhole blocking needs segments > maxDist")
    require(headLen >= segments, "each of the segments needs at least one head char")
    val width = headLen / segments
    val slots = documents
      .select(col("doc_id"), substring(col("text"), 1, headLen).as("head"))
      .select(col("doc_id"), col("head"),
        explode(sequence(lit(0), lit(segments - 1))).as("slot"))
      .withColumn("seg", expr(s"substring(head, slot * $width + 1, $width)"))
      .where(length(col("seg")) > 0)
    val capped = dropHotBuckets(slots, Seq("slot", "seg"), maxDocsPerSegment)
    val a = capped.select(col("slot"), col("seg"), col("doc_id").as("a"), col("head").as("ha"))
    val b = capped.select(col("slot"), col("seg"), col("doc_id").as("b"), col("head").as("hb"))
    a.join(b, Seq("slot", "seg"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"), col("ha"), col("hb")).distinct()
      .withColumn("dist", levenshtein(col("ha"), col("hb")).cast("long"))
      .where(col("dist") <= maxDist)
      .select(col("a"), col("b"), col("dist"))
  }

  /** Embedding-cosine near-duplicate pairs over a vector table
    * (vec_id, embedding): random-hyperplane LSH buckets (same-bucket
    * candidates only) verified by exact cosine.
    *
    * `nPlanes` trades recall for bucket size and MUST scale with the
    * corpus: 2^nPlanes buckets means the within-bucket verify join is
    * O((N/2^nPlanes)²) expected work. Size it so N/2^nPlanes stays near
    * `maxDocsPerBucket` — 8 planes is for ~10⁵ vectors; a 100 TB corpus
    * (10⁹–10¹⁰ vectors) needs ≥ 20–24 planes. `maxDocsPerBucket` is the
    * backstop for skewed buckets (embedding-space hot spots): over-cap
    * buckets are dropped via a broadcast anti-join (the bucket-count
    * aggregate is map-side combined into ≤ 2^nPlanes rows).
    */
  def embeddingCosinePairs(vectors: DataFrame,
                           threshold: Double = 0.95,
                           nPlanes: Int = 0,
                           maxDocsPerBucket: Int = 10000,
                           knownCount: Long = 0L): DataFrame = {
    // nPlanes = 0 (default): auto-scaled from one eager count, see
    // Similarity.lshPlanes
    val planes = Similarity.lshPlanes(vectors, nPlanes, knownCount)
    // Embeddings ride EXACTLY ONE corpus-linear exchange (the bucket
    // shuffle, each embedding once per join side) and are scored
    // IN-JOIN, so no candidate-proportional stream ever materializes
    // an array. This reverses the r6 bare-id + rejoin formulation
    // deliberately, on measurement: the r8 sf10 probe clocked the
    // rejoin plan at 67.5s (vs 0.9s at sf3) because with occupancy
    // target B the candidate table is N·B/2 rows ≫ N, and the first
    // rejoin's output carries the embedding array onto the second
    // rejoin's exchange — candidate-proportional array traffic
    // (~8 GB at sf10; at 10⁹ × 768-dim it's petabytes where the
    // bucket exchange is ~2× corpus volume). Bucket-local scoring
    // runs the same probe point in ~4s. PlanSpec asserts the refined
    // invariant: every array-carrying shuffle is the bucket exchange.
    val bucketed = vectors.select(
      col("vec_id"), col("embedding"),
      VectorFunctions.hyperplaneBucket(col("embedding"), planes).as("bucket")
    )
      // materialized ONCE: the hot-bucket aggregate and both join sides
      // would otherwise each re-scan the vector table and re-project the
      // nPlanes dot products per row
      .localCheckpoint(true)
    // the hot-bucket count aggregate is map-side partial on (bucket)
    // alone — no array reaches its exchange
    val capped = dropHotBuckets(bucketed, Seq("bucket"), maxDocsPerBucket)
    val a = capped.select(col("bucket"), col("vec_id").as("a"),
      col("embedding").as("ea"))
    val b = capped.select(col("bucket"), col("vec_id").as("b"),
      col("embedding").as("eb"))
    // each vector has exactly ONE bucket (single signature table), so
    // every candidate pair is emitted once — no dedup shuffle needed;
    // cosine + threshold evaluate in the join stage and only
    // (a, b, cos) survivors flow downstream. Worst-case task skew is
    // bounded by maxDocsPerBucket²/2 pairs in one bucket — the cap is
    // the pathology guard, autoPlanes keeps typical occupancy ~2⁸.
    a.join(b, Seq("bucket"))
      .where(col("a") < col("b"))
      .withColumn("cos", VectorFunctions.cosine(col("ea"), col("eb")))
      .where(col("cos") >= threshold)
      .select(col("a"), col("b"), col("cos"))
  }

  /** Content-defined chunk dedup (the FastCDC/Rabin SHAPE): cut each
    * document where the n-token window hash ≡ 0 (mod `modulus`) —
    * boundaries are functions of LOCAL CONTENT, not byte offsets, so
    * an insertion upstream shifts positions but every later cut (and
    * hence every later chunk hash) survives, which is exactly why
    * storage dedup and incremental-crawl pipelines chunk this way
    * instead of at fixed offsets. Duplicate chunks are detected by
    * chunk content hash across the corpus; the first occurrence in
    * (doc_id, chunk_idx) order owns the content.
    *
    * Returns per-doc (doc_id, n_chunks, n_dup, dup_tokens).
    *
    * Scale: chunking is one pass of the native window-hash kernel +
    * per-row HOFs (no shuffle); chunk TEXT is dropped before any
    * exchange — the only corpus-sized shuffles carry (hash60, doc_id,
    * chunk_idx, len) longs: the ownership aggregate (map-side
    * combined) and the hash-keyed rejoin. Expected chunk length =
    * `modulus` tokens, so chunk rows ≈ corpus tokens / modulus.
    */
  def cdcChunkDedup(docs: DataFrame, n: Int = 4, modulus: Int = 64): DataFrame = {
    val h = graft.functions.native.positionalWindowHashes(col("text"), n, wide = true)
    val t = TextFunctions.tokens(col("text"))
    // cut BEFORE token i for window start i ∈ [1, nWindows-1] with
    // h[i] ≡ 0: the cut is determined by the n tokens that FOLLOW it
    val cuts = when(size(col("h")) >= lit(2),
      filter(sequence(lit(1), size(col("h")) - 1),
        i => element_at(col("h"), i + 1) % modulus === 0))
      .otherwise(array().cast("array<int>"))
    val chunkRows = docs
      .select(col("doc_id"), t.as("t"), h.as("h"))
      .where(size(col("t")) > 0) // token-less docs have no chunks
      .withColumn("bs",
        concat(array(lit(0)), cuts, array(size(col("t")))))
      .select(col("doc_id"), explode(
        transform(sequence(lit(0), size(col("bs")) - 2), j => struct(
          j.as("chunk_idx"),
          (element_at(col("bs"), j + 2) - element_at(col("bs"), j + 1)).as("len"),
          graft.functions.native.contentHash60(
            array_join(slice(col("t"), element_at(col("bs"), j + 1) + 1,
              element_at(col("bs"), j + 2) - element_at(col("bs"), j + 1)), " "))
            .as("h60")))).as("c"))
      .select(col("doc_id"), col("c.chunk_idx"), col("c.len"), col("c.h60"))
    val owner = chunkRows.groupBy(col("h60"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("own"))
    chunkRows.join(owner, Seq("h60"))
      .withColumn("dup",
        (struct(col("doc_id"), col("chunk_idx")) =!= col("own")).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"), sum(col("dup")).as("n_dup"),
        sum(col("dup") * col("len")).as("dup_tokens"))
  }

  // ------------------------------------------------------------------
  // Persisted MinHash-LSH dedup index — the dedup-side twin of the
  // persisted IVF index (Similarity.writeIvfIndex): shingles and band
  // keys are computed ONCE per document and stored columnar, so
  // deduplicating a delta batch against a 100 TB corpus probes fixed-
  // width index rows instead of re-reading and re-shingling corpus
  // text (incrementalNgramPairs' remaining scale cost). Layout:
  //   <path>/bands       (key, doc_id) partitioned by band, files
  //                      sorted by key → parquet row-group min/max
  //                      stats skip non-matching buckets at scan time
  //   <path>/signatures  (doc_id, sh: array<bigint>) the distinct
  //                      shingle-hash sets — fixed-width longs (~half
  //                      the text bytes), enough for EXACT Jaccard
  //                      verification without touching text again
  // ------------------------------------------------------------------

  /** The index's LSH shape: word 3-gram shingles, 16 minhashes cut
    * into bands of 4 rows. Fixed for every build, append, probe and
    * retraction: under another shape a probe computes band keys no
    * stored key matches and silently misses candidates. */
  private val IndexN = 3
  private val IndexK = 16
  private val IndexRowsPerBand = 4

  /** Hashed signature+band rows for `documents` — the persisted
    * index's unit of storage and the probe's unit of work.
    * [[minhashLshPairs]] pairs these same rows, so a probe against the
    * store reproduces the batch pipeline's candidates exactly.
    * private[graft] so the streaming curation loop can compute a
    * batch's rows ONCE and share them between probe and append: the
    * batch text is scanned and shingled a single time, which at
    * continuous-ingestion scale halves the curation path's CPU. */
  private[graft] def indexRows(documents: DataFrame, n: Int = IndexN, k: Int = IndexK,
                               rowsPerBand: Int = IndexRowsPerBand): DataFrame =
    documents
      // cheap pushdown-able predicate (text has a non-ws char ⇔ tokens
      // exist); filtering on size(sh) would push the whole shingle
      // expression into the scan as a DataFilter and re-evaluate it
      .where(col("text").rlike("\\S"))
      .select(col("doc_id"),
        TextFunctions.shingleHashes(col("text"), n).as("sh"))
      .withColumn("bands", bandKeys(col("sh"), k, rowsPerBand))

  /** LSH band keys of a shingle-hash set: the k-minhash signature cut
    * into `k/rowsPerBand` bands. Index rows and retraction both derive
    * keys here, so a retracted doc's recomputed keys match its stored
    * ones. */
  private def bandKeys(sh: Column, k: Int, rowsPerBand: Int): Column =
    TextFunctions.lshBandKeys(TextFunctions.minHashSignature(sh, k), k, rowsPerBand)

  /** (doc_id, band, key): one row per band of each index row. */
  private def banded(rows: DataFrame): DataFrame =
    rows.select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "key")))

  /** Build the persisted index at `path`. One pass over the corpus
    * text, then the text is never needed again: probes and appends
    * touch only hashed longs. */
  def writeDedupIndex(documents: DataFrame, path: String): Unit =
    writeIndex(documents, path, Tables.WriteMode.Overwrite)

  private def writeIndex(documents: DataFrame, path: String, mode: Tables.WriteMode): Unit = {
    val rows = indexRows(documents)
      .localCheckpoint(true) // two writes below share one signature pass
    writeIndexRows(rows, path, mode)
    rows.unpersist()
  }

  /** Write precomputed (already materialized) [[indexRows]] as the
    * index's two tables. private[graft] for the curation loop: the
    * same rows that fed its probe land in the store without a second
    * text scan. */
  private[graft] def writeIndexRows(rows: DataFrame, path: String,
                                    mode: Tables.WriteMode): Unit = {
    Tables.write(banded(rows), s"$path/bands", mode, Some("band"), Seq("key"))
    Tables.write(rows.select(col("doc_id"), col("sh")), s"$path/signatures", mode)
  }

  /** APPEND new documents to a persisted index. Append-only contract:
    * doc_ids must be new (a changed document is a new id or a rebuild
    * — the CDC snapshot path owns replacement); every pre-existing
    * file stays byte-identical, because new band rows and signatures
    * land in fresh files inside the same partitions. Append cost is
    * O(batch), never O(index).
    */
  def appendToDedupIndex(spark: SparkSession, path: String,
                         newDocuments: DataFrame): Unit =
    writeIndex(newDocuments, path, Tables.WriteMode.Append)

  /** DELETE documents from a persisted index — the retraction leg the
    * lifecycle was missing (a CDC `D` op or right-to-be-forgotten
    * request must be able to LEAVE the index, not just never enter
    * it). Copy-on-write at FILE granularity, the analogue of
    * `Similarity.appendToIvfIndex`'s touched-partition rewrite — a
    * band PARTITION can't be the COW unit here because every doc owns
    * one row in every band, so any delete touches all partitions;
    * files are the honest unit:
    *
    *   1. the deleted ids' signatures are fetched by semi-join and
    *      their band keys RECOMPUTED from the stored shingle hashes
    *      (the index is self-describing — no text needed), giving the
    *      same per-band key bounds the probe pushes into the store
    *      scan, so locating victims reads matched buckets, not bands;
    *   2. band/signature FILES holding victim rows are identified via
    *      input_file_name (driver-bounded: a file list, the same
    *      order of metadata maybeCompactDedupIndex lists);
    *   3. only those files rewrite (survivors re-append key-sorted
    *      into the same partition dirs, one file per touched band),
    *      then the originals delete — every untouched file stays
    *      byte-identical.
    *
    * Crash caveat (documented, same family as the append-replay
    * note): between the survivor write and the original-file delete a
    * reader can see victim rows twice; the probe's pair-level dedup
    * absorbs the fan-out and a re-run of the delete converges.
    * Returns the number of files rewritten (0 = nothing matched).
    */
  def removeFromDedupIndex(spark: SparkSession, path: String,
                           docIds: DataFrame): Int = {
    if (!Tables.hasData(spark, s"$path/bands")) return 0
    val ids = docIds.select(col(docIds.columns.head).cast("long").as("doc_id"))
      .distinct().localCheckpoint(true)
    try {
      // victims' stored signatures → recomputed band keys → the same
      // pushed per-band bounds the probe uses, observed on the one job
      // that reads the victims (the rows themselves have no other
      // consumer, so they drop right away)
      val (victims, bounds) = pinWithBounds(Tables.read(spark, s"$path/signatures")
        .join(ids, Seq("doc_id"), "left_semi")
        .withColumn("bands", bandKeys(col("sh"), IndexK, IndexRowsPerBand)))
      victims.unpersist()
      val prune = bounds match {
        case Some(p) => p
        case None => return 0
      }

      // one table's COW cycle: find victim files, re-append survivors,
      // drop originals. Sorting restores the band table's row-group-
      // stat skipping; the signature table has no sort contract.
      def rewrite(table: String, pruneExpr: Option[Column],
                  partitionCol: Option[String], sortCol: String): Int = {
        val base = s"$path/$table"
        val scan0 = spark.read.option("basePath", base).parquet(base)
        val scan = pruneExpr.map(scan0.where).getOrElse(scan0)
        val files = scan.withColumn("__f", input_file_name())
          .join(ids, Seq("doc_id"), "left_semi")
          .select(col("__f")).distinct().collect().map(_.getString(0))
        if (files.isEmpty) return 0
        val survivors = spark.read.option("basePath", base)
          .parquet(files: _*)
          .join(ids, Seq("doc_id"), "left_anti")
          .localCheckpoint(true) // materialize before mutating the source
        Tables.write(survivors, base, Tables.WriteMode.Append, partitionCol, Seq(sortCol))
        survivors.unpersist()
        Tables.delete(spark, files.toSeq)
        files.length
      }
      rewrite("bands", Some(prune), Some("band"), "key") +
        rewrite("signatures", None, None, "doc_id")
    } finally ids.unpersist()
  }

  /** Compact the index — the OPTIMIZE step after many appends: each
    * band partition's accumulated small files rewrite into key-sorted
    * files (restoring the row-group-stat skipping writeDedupIndex
    * guarantees), and the signature table coalesces likewise. Probe
    * results are identical before and after (spec-asserted); cost is
    * one pass over INDEX rows, never text. Run it on the lakehouse
    * compaction cadence, not per append.
    */
  def compactDedupIndex(spark: SparkSession, path: String): Unit = {
    Tables.rewrite(spark, s"$path/bands", Some("band"), Seq("key"))(
      _.select(col("band"), col("key"), col("doc_id")))
    Tables.rewrite(spark, s"$path/signatures")(identity)
  }

  /** OPTIMIZE-cadence policy for [[compactDedupIndex]] — the decision
    * twin of `Similarity.maybeRetrainIvfIndex`: compact when
    * accumulated appends have fragmented any band partition (or the
    * signature table) past `maxFilesPerPartition` files, the point
    * where the key-sorted row-group skipping [[writeDedupIndex]]
    * guarantees degrades into per-small-file open overhead. The
    * trigger check is a filesystem LISTING only (driver-bounded:
    * nBands + 1 directories, no data read), so it can run after every
    * append. Returns true iff a compaction ran.
    */
  def maybeCompactDedupIndex(spark: SparkSession, path: String,
                             maxFilesPerPartition: Int = 8): Boolean = {
    if (!Tables.hasData(spark, s"$path/bands")) return false // nothing indexed yet
    val worst = (Tables.filesPerDirectory(spark, s"$path/bands") ++
      Tables.filesPerDirectory(spark, s"$path/signatures")).max
    if (worst <= maxFilesPerPartition) false
    else { compactDedupIndex(spark, path); true }
  }

  /** Probe the index with a delta batch: near-duplicate pairs between
    * delta and store (plus within the delta itself), verified by
    * EXACT shingle Jaccard — the same (a, b, inter, na, nb) contract
    * as [[minhashLshPairs]], computed without reading any corpus
    * text. Candidate generation joins the delta's banded keys against
    * the stored band rows (ids + 2 longs on the exchange, key-sorted
    * files so row-group stats prune non-matching buckets); the verify
    * leg fetches stored signatures for CANDIDATE ids only
    * (pairs-bounded semi-join, AQE broadcasts the pair side). The
    * per-band key bounds pushed into the store scan come from
    * [[pinWithBounds]]: they are observed on the job that materializes
    * the delta's index rows, so they cost no job of their own.
    */
  def probeDedupIndex(spark: SparkSession, path: String, delta: DataFrame,
                      threshold: Double = 0.8): DataFrame = {
    // banded probe + delta-side verify share the materialized rows
    val (deltaRows, bounds) = pinWithBounds(indexRows(delta))
    probeDedupIndexRows(spark, path, deltaRows, bounds, threshold)
  }

  /** [[probeDedupIndex]] from precomputed [[indexRows]] and their
    * bounds, both from [[pinWithBounds]] — lets the curation loop share
    * one signature pass between probe and append. */
  private[graft] def probeDedupIndexRows(spark: SparkSession, path: String,
                                         deltaRows: DataFrame,
                                         bounds: Option[Column],
                                         threshold: Double): DataFrame = {
    val prune = bounds match {
      case Some(p) => p
      case None => // blank or empty delta: nothing can pair
        import spark.implicits._
        return Seq.empty[(Long, Long, Int, Int, Int)]
          .toDF("a", "b", "inter", "na", "nb")
    }
    val deltaBanded = banded(deltaRows)
    val storeBanded = Tables.read(spark, s"$path/bands")
      .where(prune)
      .select(col("band"), col("key"), col("doc_id"))
    // ONE candidate join: every band row that can pair — stored and
    // delta, tagged by side — against the delta's band rows. A store
    // doc pairs with any other doc (x ≠ y; store↔store pairs never
    // form, that dedup already ran at build); a delta doc only with a
    // greater id (x < y, so a delta-internal pair appears once and
    // self-pairs drop)
    val candidates = storeBanded.withColumn("stored", lit(true))
      .unionByName(deltaBanded.withColumn("stored", lit(false)))
      .select(col("band"), col("key"), col("doc_id").as("x"), col("stored"))
      .join(deltaBanded.select(col("band"), col("key"), col("doc_id").as("y")),
        Seq("band", "key"))
      .where((col("stored") && col("x") =!= col("y")) ||
        (!col("stored") && col("x") < col("y")))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .distinct()
    val sigs = Tables.read(spark, s"$path/signatures")
      .unionByName(deltaRows.select(col("doc_id"), col("sh")))
    verifyJaccard(candidates, sigs, threshold)
      // a replayed (non-idempotent) append can leave a doc's signature
      // row in the store twice with identical content; the verify joins
      // then fan each such candidate into duplicate pair rows. Dedup
      // HERE, on the already-thresholded pair set (pairs-bounded, not
      // O(store) — deduping the signature scan itself would shuffle the
      // whole index). Duplicates are byte-identical by the append
      // contract, so keying on (a, b) is exact.
      .dropDuplicates("a", "b")
  }

  /** Within-set near-dup pairs of (already materialized)
    * [[indexRows]] — the delta-internal pairs of [[probeDedupIndexRows]]
    * standing alone, and the whole of [[minhashLshPairs]]. The curation
    * loop's SEED batch (no store yet) calls it on the rows it also
    * writes as the index. */
  private[graft] def selfPairsFromRows(rows: DataFrame,
                                       threshold: Double): DataFrame = {
    // candidate generation on BARE IDS: the (band, key) self-join
    // moves 3 longs per banded row — shingle arrays never enter the
    // bucket exchange (they used to ride both sides, ~nBands × corpus
    // shingle volume through the biggest shuffle of the pipeline).
    val bandRows = banded(rows)
    val candidates = bandRows.select(col("band"), col("key"), col("doc_id").as("a"))
      .join(bandRows.select(col("band"), col("key"), col("doc_id").as("b")),
        Seq("band", "key"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"))
      // a pair can collide in ≤ k/rowsPerBand bands → dedup BEFORE the
      // array verify so each pair fetches its shingle sets once; this
      // shuffle carries 2 longs per row
      .distinct()
    verifyJaccard(candidates, rows.select(col("doc_id"), col("sh")), threshold)
  }

  /** Exact shingle-Jaccard verify of (a, b) candidate pairs against a
    * (doc_id, sh) signature table: (a, b, inter, na, nb) for every
    * pair at or above `threshold`. Two pairs-bounded rejoins:
    * candidates ≪ corpus × bands after LSH, so AQE broadcasts the pair
    * side and the signature table never shuffles; the sort-merge
    * fallback (a pathological boilerplate corpus) moves each shingle
    * set once per rejoin — still ~4× less array volume than a banded
    * self-join carrying shingles at nBands = 4. */
  private def verifyJaccard(candidates: DataFrame, sigs: DataFrame,
                            threshold: Double): DataFrame =
    candidates
      .join(sigs.select(col("doc_id").as("a"), col("sh").as("sha")), Seq("a"))
      .join(sigs.select(col("doc_id").as("b"), col("sh").as("shb")), Seq("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("sha"), col("shb"))).as("inter"),
        size(col("sha")).as("na"), size(col("shb")).as("nb"))
      .where(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")) >= threshold)

  /** `rows` (any frame with the k/rowsPerBand-key `bands` column of
    * [[indexRows]]) materialized, with their per-band key bounds as one
    * predicate for the bands-table scan, or None when `rows` is empty.
    * The bounds are a `Dataset.observe` on the job that materializes
    * the rows, so they add no job (a grouped min/max would add two).
    * Band is the partition column and key the files' sort order, so
    * partition pruning + parquet row-group min/max stats skip bucket
    * ranges no key of `rows` can touch — a JOIN alone would scan every
    * band file in full. The probe, the curation loop and the
    * retraction all take their bounds here. */
  private[graft] def pinWithBounds(rows: DataFrame, k: Int = IndexK,
                                   rowsPerBand: Int = IndexRowsPerBand): (DataFrame, Option[Column]) = {
    val nBands = k / rowsPerBand
    val obs = Observation()
    val aggs = (0 until nBands).flatMap(b =>
      Seq(min(col("bands")(b)).as(s"lo$b"), max(col("bands")(b)).as(s"hi$b")))
    val pinned = rows.observe(obs, aggs.head, aggs.tail: _*).localCheckpoint(true)
    val m = obs.get
    val perBand = (0 until nBands).flatMap(b => Option(m(s"lo$b")).map(lo =>
      col("band") === b && col("key") >= lo && col("key") <= m(s"hi$b")))
    (pinned, perBand.reduceOption(_ || _))
  }
}
