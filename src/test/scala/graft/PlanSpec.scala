package graft

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

/** Plan-shape assertions — the 100 TB posture, checked in CI:
  * filters reach the parquet scan, projections prune columns, small
  * dims broadcast, dedup plans contain no cartesian product, and the
  * hot relational path stays inside whole-stage codegen.
  */
class PlanSpec extends SparkSpecBase {

  /** Plan for structural asserts, with AQE OFF. Under AQE the
    * un-executed executedPlan is an AdaptiveSparkPlanExec whose
    * inputPlan has NOT been through EnsureRequirements — it contains
    * no exchanges at all, so both "no Exchange" and "this exchange
    * carries X" asserts pass vacuously. Disabling AQE for the plan
    * access yields the fully-prepared physical plan (exchanges
    * inserted, deterministic), which is what these tests must walk.
    * executedPlan is a lazy val, so it must be FIRST accessed inside
    * the conf window; `extra` lets a test also e.g. zero the broadcast
    * threshold to see the plan a non-broadcastable corpus would get.
    */
  private def nonAdaptive[T](extra: (String, String)*)(f: => T): T = {
    val confs = ("spark.sql.adaptive.enabled" -> "false") +: extra
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def executed(df: DataFrame): SparkPlan =
    nonAdaptive() { df.queryExecution.executedPlan }

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("native kernels are inlined in whole-stage generated code") {
    import org.apache.spark.sql.execution.debug._
    val df = spark.read.parquet(sf() + "/documents.parquet")
      .select(
        graft.functions.native.polyHash(col("text")).as("fp"),
        graft.functions.native.hashEmbed(col("text"), 16).as("emb"),
        graft.functions.native.simHash64(col("text")).as("sh"),
        graft.functions.native.positionalWindowHashes(col("text"), 8).as("pw"),
        graft.functions.native.charEntropy(col("text")).as("ent"))
    df.collect() // a Janino failure would fall back (and fail the asserts)
    val code = df.queryExecution.debug.codegenToSeq().map(_._2).mkString
    // real doGenCode: the generated Java calls the kernels directly —
    // a CodegenFallback would instead show an `.eval(` reference call
    assert(code.contains("graft.functions.Kernels.polyHash"), "polyHash not inlined")
    assert(code.contains("graft.functions.Kernels.hashEmbed"), "hashEmbed not inlined")
    assert(code.contains("graft.functions.Kernels.simHash64"), "simHash64 not inlined")
    assert(code.contains("graft.functions.Kernels.positionalWindowHashes"),
      "positionalWindowHashes not inlined")
    assert(code.contains("graft.functions.Kernels.charEntropy"), "charEntropy not inlined")
  }

  test("q06: filters pushed to the parquet scan, columns pruned") {
    val df = SparkEntry.queries("q06_forecast_filter")(spark, sf())
    val plan = formatted(df)
    assert(plan.contains("PushedFilters:"))
    assert(plan.contains("l_shipdate"), "shipdate filter should reach the scan")
    // projection pruning: the scan must not read all 11 lineitem columns
    val readSchema = plan.linesIterator.find(_.trim.startsWith("ReadSchema:")).get
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_orderkey"))
  }

  test("semanticSearch documentIdFilter pushes into the parquet record scan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sem-push").toString
    Seq(("1:0", Array(1.0f, 0.0f), "c", "", "d1"), ("2:0", Array(0.0f, 1.0f), "c", "", "d2"))
      .toDF("key", "embedding", "content", "context", "documentid")
      .write.mode("overwrite").parquet(dir)
    val records = spark.read.parquet(dir)
    val plan = formatted(graft.operators.Similarity.semanticSearch(
      records, Array(1.0f, 0.0f), k = 5, documentIdFilter = Some("d1")))
    // one-document search over a 100 TB store must prune at the scan
    val pushed = plan.linesIterator.find(_.trim.startsWith("PushedFilters:")).getOrElse("")
    assert(pushed.contains("documentid"), s"filter not pushed:\n$plan")
  }

  test("q05: dimension joins are broadcast, no shuffle of small sides") {
    val plan = executed(SparkEntry.queries("q05_region_revenue")(spark, sf())).toString
    assert(plan.contains("BroadcastHashJoin"))
    // the single fact-fact join (lineitem ⋈ orders) may shuffle; dims must not
    assert(!plan.contains("CartesianProduct"))
  }

  test("q13: outer-join count distribution — fact scan pruned, no cartesian, two bounded aggregates") {
    val df = SparkEntry.queries("q13_custdist")(spark, sf())
    val plan = formatted(df)
    assert(!plan.contains("CartesianProduct"))
    // the orders scan reads only the join key + counted key + filter col
    val readSchemas = plan.linesIterator.filter(_.trim.startsWith("ReadSchema:")).toSeq
    assert(readSchemas.exists(s => s.contains("o_custkey") && !s.contains("o_totalprice")),
      s"orders scan should prune to join/count/filter columns:\n$readSchemas")
    // the status filter reaches the orders scan
    assert(plan.contains("o_orderstatus"), "status filter should appear in the plan")
    // both aggregates are partial before their exchanges (map-side combine)
    assert(plan.contains("partial_count"), "expected map-side partial aggregation")
  }

  test("q01: partial (map-side) aggregation before the shuffle") {
    val plan = executed(SparkEntry.queries("q01_pricing_summary")(spark, sf())).toString
    assert(plan.contains("HashAggregate"))
    assert("partial_sum".r.findFirstIn(plan).isDefined, "map-side combine expected")
    // AQE plans don't render codegen spans until finalized; check the
    // codegen explain instead
    val codegen = SparkEntry.queries("q01_pricing_summary")(spark, sf())
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(codegen.contains("WholeStageCodegen"), "agg path should be codegen'd")
  }

  test("driver contract: entry() returns rows; every query key has a runnable plan") {
    assert(SparkEntry.entry(spark).count() > 0)
    // every oracle key must reference an existing query
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs),
      s"orphan oracles: ${SparkEntry.oracleSql.keySet -- qs}")
  }

  test("ngram dedup: pair-gen pipeline runs exactly once, only size rejoins") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val plan = executed(Dedup.ngramJaccardPairs(docs, 3, 0.8)).toString
    // pairCounts and prunedSizes are checkpointed, so the expensive
    // shingle-bucket pipeline AND the corpus-wide size scan must appear
    // ZERO times in the final plan (each already ran exactly once at
    // checkpoint time); downstream is just the two tiny size rejoins
    assert(!plan.contains("collect_list"),
      s"pair generation must be materialized once, not re-planned per consumer:\n$plan")
    assert(!plan.contains("shinglehashes"),
      s"corpus size scan must be materialized once, not once per join side:\n$plan")
    val joins = "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r.findAllIn(plan).size
    assert(joins <= 2, s"expected only the two size rejoins:\n$plan")
    assert(!plan.contains("CartesianProduct"))
    // the incremental path ends in the same size tail, so its pair set
    // and pruned sizes are materialized the same way
    val delta = docs.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 500000000L).as("doc_id"), col("text"))
    val inc = executed(Dedup.incrementalNgramPairs(docs, delta, 3, 0.8)).toString
    assert(!inc.contains("shinglehashes"),
      s"corpus and delta size scans must be materialized once:\n$inc")
    val incJoins = "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r.findAllIn(inc).size
    assert(incJoins <= 2, s"expected only the two size rejoins:\n$inc")
    assert(!inc.contains("CartesianProduct"))
  }

  test("dedup plans never contain a cartesian product") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val delta = docs.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 500000000L).as("doc_id"), col("text"))
    for (df <- Seq(
      Dedup.ngramJaccardPairs(docs, 3, 0.8),
      Dedup.incrementalNgramPairs(docs, delta, 3, 0.8),
      Dedup.minhashLshPairs(docs, 3, 16, 4, 0.8),
      Dedup.simhashPairs(docs, 3),
      Dedup.fuzzyEditPairs(docs))) {
      val plan = executed(df).toString
      assert(!plan.contains("CartesianProduct"), "bucketed join expected, got cartesian")
    }
  }

  test("runtime bloom filter prunes the fact side of a selective dim join") {
    // at 100 TB this fires on the DEFAULT thresholds (fact scan >10 GB,
    // filtered dim <10 MB): Spark's InjectRuntimeFilter builds a bloom
    // filter from the filtered dim keys and applies might_contain on
    // the fact scan BEFORE the join shuffle — engine-level row pruning
    // the design relies on. Local data is below the application-side
    // threshold, so the test lowers it to prove the rule fires and
    // lock the shape against config/plan regressions.
    val plan = nonAdaptive(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val li = spark.read.parquet(s"${sf("sf0.01")}/lineitem.parquet")
      val o = spark.read.parquet(s"${sf("sf0.01")}/orders.parquet")
        .where(col("o_orderpriority") === "1-URGENT")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .queryExecution.optimizedPlan.toString
    }
    assert(plan.contains("might_contain") || plan.contains("bloom"),
      s"expected an injected bloom filter on the fact side:\n${plan.take(4000)}")
  }

  test("intervalOverlapJoin plans as an equi-join on tile, never a nested loop") {
    import spark.implicits._
    val l = (0L until 200L).map(i => (i, i * 13 % 5000, i * 13 % 5000 + 40))
      .toDF("l_id", "l_start", "l_end")
    val r = (0L until 200L).map(i => (i, i * 17 % 5000 - 20, i * 17 % 5000 + 20))
      .toDF("r_id", "r_start", "r_end")
    val plan = executed(
      graft.operators.Joins.intervalOverlapJoin(l, r, tile = 64)).toString
    // the whole point of the tiling rewrite: a pure inequality join
    // would plan as BroadcastNestedLoopJoin/CartesianProduct (O(n·m));
    // tiles turn it into a hash-partitionable equi-join
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"tiled rewrite must not fall back to a nested loop:\n$plan")
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r
      .findAllIn(plan).nonEmpty, s"expected an equi-join on tile:\n$plan")
  }

  test("balancedSample pre-prunes each map task via WindowGroupLimit") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val plan = executed(graft.operators.Corpus.balancedSample(docs, "lang", 40)).toString
    // the row_number<=cap filter must be rewritten to WindowGroupLimit
    // in Partial mode below the stratum exchange (map tasks keep only
    // their local top-cap per stratum) and Final mode above it — the
    // difference between shuffling ≤cap×strata×tasks rows and the corpus
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2,
      s"expected partial+final WindowGroupLimit, got:\n$plan")
    assert(plan.contains("Partial"), s"expected a map-side partial group limit:\n$plan")
  }

  test("weightedSample and zipfFit pre-prune via WindowGroupLimit") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    // same row_number<=literal contract as balancedSample: map tasks
    // keep local top-k per stratum before the exchange
    val ws = executed(graft.operators.Corpus.weightedSample(
      docs, graft.operators.TextAnalysis.tokenCount(col("text")), 30, "source")).toString
    assert("WindowGroupLimit".r.findAllIn(ws).size >= 2 && ws.contains("Partial"),
      s"expected partial+final WindowGroupLimit in weightedSample:\n$ws")
    val zf = executed(graft.operators.TextAnalysis.zipfFit(docs, "lang", 1000)).toString
    assert("WindowGroupLimit".r.findAllIn(zf).size >= 2 && zf.contains("Partial"),
      s"expected partial+final WindowGroupLimit in zipfFit:\n$zf")
  }

  test("latestOps (CDC last-writer-wins) pre-prunes via WindowGroupLimit") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id"), (col("doc_id") * 10).as("seq"),
        lit("U").as("op"), col("text"))
    val plan = executed(graft.operators.Corpus.latestOps(docs)).toString
    // rank<=1 over (doc_id, seq desc) must rewrite to WindowGroupLimit:
    // map tasks keep only their local latest op per doc before the
    // changelog exchange — the difference between shuffling ~1 row per
    // touched doc and the whole multi-version changelog
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2,
      s"expected partial+final WindowGroupLimit, got:\n$plan")
    assert(plan.contains("Partial"), s"expected a map-side partial group limit:\n$plan")
  }

  test("decontaminateSemantic: corpus never shuffles; bench side broadcasts") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val df = graft.operators.Corpus.decontaminateSemantic(
      emb, emb.where(col("vec_id") % 200 === 0), threshold = 0.9)
    val plan = executed(df)
    val txt = plan.toString
    // the whole point of the operator: brute force over a BROADCAST
    // eval set — a sort-merge or shuffled-hash formulation would
    // shuffle 100 TB of corpus embeddings
    assert(txt.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast nested-loop over the eval set:\n$txt")
    assert(!txt.contains("SortMergeJoin") && !txt.contains("CartesianProduct"),
      s"corpus embeddings must not shuffle into the join:\n$txt")
    // the only row shuffle allowed is the final per-vec_id aggregate,
    // fed by matching pairs only (and map-side combined)
    val rowShuffles = plan.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
    }
    assert(rowShuffles.size == 1,
      s"expected exactly the final aggregate exchange, got ${rowShuffles.size}:\n$txt")
  }

  test("fuzzyEditPairs: Levenshtein verify is pushed into the candidate join") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val plan = executed(Dedup.fuzzyEditPairs(docs)).toString
    // the verify predicate must sit IN the join condition, below the
    // distinct aggregate: only verified pairs then shuffle into the
    // dedup, instead of every raw candidate pair carrying two heads
    // of payload (the verify itself is cheap CPU inside the join
    // stage — at most `segments`× per true pair)
    val joinLine = plan.linesIterator.find(l =>
      l.contains("Join") && l.contains("levenshtein")).getOrElse("")
    assert(joinLine.nonEmpty,
      s"levenshtein must be part of the candidate join condition:\n$plan")
    val aggIdx = plan.indexOf("HashAggregate")
    val levIdx = plan.indexOf("levenshtein")
    assert(aggIdx >= 0 && aggIdx < levIdx, // top-down: dedup agg ABOVE the verify
      s"distinct agg must consume verified pairs only:\n$plan")
    assert(!plan.contains("CartesianProduct"), "segment-blocked join expected")
  }

  test("token chunker is a shuffle-free narrow plan") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val plan = executed(graft.operators.Chunkers.tokenChunks(docs)).toString
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
  }

  test("ingestion pipeline plan is map-only until the sink") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val plan = executed(
      graft.pipeline.IngestionPipeline.canonical.chunks(spark, docs)).toString
    assert(!plan.contains("Exchange"), s"pipeline must not shuffle:\n$plan")
  }

  test("PDF reader legs (ruled / row-rules / borderless) are map-only flatMaps") {
    // synthesize→parse is per-row work: no exchange may appear before
    // the element stream (the readers must scale as a scan stage)
    import graft.sources.PdfElementReader
    import graft.sources.PdfElementReader._
    import spark.implicits._
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id"), col("lang")).as[(Long, String)]
      .map { case (id, lang) =>
        (id, PdfElementReader.synthesize(Seq(Seq(
          SHeading(1, s"Doc $id"),
          STable(Seq(Seq("a", "b"), Seq("1", "2"))),
          SRowRuleTable(Seq(Seq("x", "y"), Seq("3", "4"), Seq("5", "6"))),
          SBorderlessTable(Seq(Seq("field", "value"),
            Seq("lang", lang), Seq("k", "v"))),
          SPara("tail")))))
      }.toDF("doc_id", "content")
    val plan = executed(PdfElementReader.elements(spark, docs).toDF()).toString
    assert(!plan.contains("Exchange"), s"PDF parse must not shuffle:\n$plan")
  }

  private def physical(df: DataFrame): SparkPlan = executed(df)

  private def shuffles(df: DataFrame) = physical(df).collect {
    case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
  }

  test("curate funnel exchanges never carry raw text; pageRank shuffles scalars only") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val funnel = graft.operators.Corpus.curate(
      docs.select(col("doc_id"), col("text")),
      docs.where(col("doc_id") % 50 === 0).select(col("text")))
    // post-flag stages shuffle digests / shingle longs / flag rows —
    // the document text itself must never ride an exchange
    val textCarrying = shuffles(funnel).filter(_.output.exists(_.name == "text"))
    assert(textCarrying.isEmpty,
      s"curate shuffles raw text:\n${textCarrying.map(_.output.mkString(", ")).mkString("\n")}")

    import spark.implicits._
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val pr = graft.operators.Graph.pageRank(
      Seq((0L, 1L), (1L, 2L), (2L, 0L), (0L, 2L)).toDF("src", "dst"), iters = 2)
    val wide = shuffles(pr).filter(_.output.exists(a =>
      a.dataType.isInstanceOf[ArrayType] || a.dataType == StringType))
    assert(wide.isEmpty,
      s"pageRank shuffles non-scalar columns:\n${wide.map(_.output.mkString(", ")).mkString("\n")}")
  }

  test("IVF corpus-to-list assignment is map-only (no exchange before scoring)") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val centroids = emb.where(col("vec_id") % 25 === 0).limit(4)
      .select(col("vec_id").as("list_id"), col("embedding").as("centroid"))
    val assigned = graft.operators.Similarity.assignLists(
      emb, centroids, "nbr_id", "nbr_emb", probes = 1)
    // the corpus branch must be scan → broadcast-join(1-row centroid
    // fold) → project/explode; the ONLY shuffle allowed anywhere is the
    // SinglePartition fold of the ≤nLists centroid rows
    val bad = shuffles(assigned).filterNot(
      _.outputPartitioning == org.apache.spark.sql.catalyst.plans.physical.SinglePartition)
    assert(bad.isEmpty,
      s"corpus list assignment must not shuffle:\n${physical(assigned)}")
    assert(assigned.count() == emb.count(), "every vector lands in exactly one list")
  }

  test("ANN candidate dedup/top-k exchanges carry ids + score, never embeddings") {
    import org.apache.spark.sql.types.ArrayType
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 3)
    for ((name, df) <- Seq(
      "knnLsh" -> graft.operators.Similarity.knnLsh(emb, queries, dim = 64, k = 5),
      "knnIvf" -> graft.operators.Similarity.knnIvf(emb, queries, k = 5, nLists = 4, nProbe = 2),
      "knnBruteForceBatch" -> graft.operators.Similarity.knnBruteForceBatch(emb, queries, k = 5),
      "knnPq" -> graft.operators.Similarity.knnPq(emb, queries, k = 5, m = 8, nCodes = 4, dim = 64),
      "knnIvfPq" -> graft.operators.Similarity.knnIvfPq(emb, queries, k = 5,
        nLists = 4, nProbe = 2, m = 8, nCodes = 4, dim = 64))) {
      // no repartitioning exchange may carry an array column: candidate
      // pairs are scored first, so dedup + window shuffle (ids, cos)
      // only. (SinglePartition folds — the ≤nLists centroid collect —
      // are bounded by construction and exempt.)
      val offending = shuffles(df).filter { s =>
        s.outputPartitioning != org.apache.spark.sql.catalyst.plans.physical.SinglePartition &&
          s.output.exists(_.dataType.isInstanceOf[ArrayType])
      }
      assert(offending.isEmpty,
        s"$name shuffles embedding arrays:\n${offending.map(_.output.mkString(", ")).mkString("\n")}")
    }
  }

  test("embedding dedup: arrays ride only corpus-linear exchanges, never candidate-proportional ones") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.types.ArrayType
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    // r8 refinement (measured at the sf10 probe): embeddingCosinePairs
    // scores bucket-locally — the ONLY shuffles allowed to carry an
    // embedding array are the bucket exchanges feeding the self-join
    // (corpus-linear: each embedding exactly once per side). The r6
    // bare-id + rejoin shape put the array on a candidate-proportional
    // exchange instead (N·B/2 rows), which the probe clocked at 67.5s
    // vs ~4s for this plan at sf10. semanticDedup keeps its own
    // invariant: no array on any non-single-partition exchange.
    val ec = graft.operators.Dedup.embeddingCosinePairs(
      emb, threshold = 0.9, nPlanes = 4)
    // at spec scale the checkpointed sides auto-broadcast (no shuffle
    // at all); disable broadcast to surface the at-scale sort-merge
    // shape this invariant is about
    val ecPlan = nonAdaptive(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      ec.queryExecution.executedPlan
    }
    val arrayShuffles = ecPlan.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
    }.filter(_.output.exists(_.dataType.isInstanceOf[ArrayType]))
    assert(arrayShuffles.nonEmpty, "expected the bucket exchange to exist")
    arrayShuffles.foreach { s =>
      val onBucket = s.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.forall(_.references.forall(_.name == "bucket"))
        case _ => false
      }
      assert(onBucket,
        s"array-carrying shuffle not the bucket exchange: ${s.outputPartitioning} / ${s.output.mkString(", ")}")
    }
    val sd = graft.operators.Dedup.semanticDedup(
      emb, nClusters = 4, threshold = 0.9)
    val offending = shuffles(sd).filter { s =>
      s.outputPartitioning != org.apache.spark.sql.catalyst.plans.physical.SinglePartition &&
        s.output.exists(_.dataType.isInstanceOf[ArrayType])
    }
    assert(offending.isEmpty,
      s"semanticDedup shuffles embedding arrays:\n${offending.map(_.output.mkString(", ")).mkString("\n")}")
  }

  test("minhash bucket join shuffles bare ids — shingle arrays stay out of band exchanges") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.types.ArrayType
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    // structural half with auto-broadcast ALSO off: at spec scale the
    // checkpointed signature table is tiny and every join broadcasts,
    // leaving no bucket exchange to inspect — zeroing the threshold
    // shows the plan a corpus too big to broadcast would get.
    // Candidate generation: every exchange partitioned on the band key
    // must carry (band, key, doc_id) longs only — the r5 plan moved the
    // full shingle set of both sides through here, ~nBands × corpus
    // shingle volume.
    val bucketExchanges = nonAdaptive("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val big = graft.operators.Dedup.minhashLshPairs(docs, 3, 16, 4, 0.8)
      big.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if (s.outputPartitioning match {
              case h: HashPartitioning =>
                h.expressions.exists(_.references.exists(_.name == "band"))
              case _ => false
            }) => s
      }
    }
    assert(bucketExchanges.nonEmpty, "expected a (band, key) bucket shuffle")
    for (e <- bucketExchanges)
      assert(!e.output.exists(_.dataType.isInstanceOf[ArrayType]),
        s"bucket exchange carries an array payload: ${e.output.mkString(", ")}")
    val pairs = graft.operators.Dedup.minhashLshPairs(docs, 3, 16, 4, 0.8)
    // the verify rejoins are pairs-bounded: after execution AQE must
    // have realized them as broadcasts, leaving NO array-carrying
    // shuffle anywhere in the final adaptive plan
    pairs.collect() // executes THIS QueryExecution, finalizing its adaptive plan
    val finalPlan = pairs.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val arrayShuffles = finalPlan.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if s.output.exists(_.dataType.isInstanceOf[ArrayType]) => s
    }
    assert(arrayShuffles.isEmpty,
      s"verify rejoin shuffled shingle arrays instead of broadcasting pairs:\n" +
        arrayShuffles.map(_.output.mkString(", ")).mkString("\n"))
  }

  test("LM scoring exchanges carry hashed longs, never token strings") {
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    for ((name, df) <- Seq(
      "unigramScore" -> graft.operators.TextAnalysis.unigramScore(
        docs, docs.where(col("doc_id") % 2 === 0)),
      "bigramScore" -> graft.operators.TextAnalysis.bigramScore(
        docs, docs.where(col("doc_id") % 2 === 0)))) {
      // tokens are hashed inside the scan stage: every exchange in any
      // realizable plan (vocab aggregates, doc-side joins if the vocab
      // ever exceeds broadcast size, the final groupBy) moves 8-byte
      // hashes and counts — raw text/token strings stay columnar
      val offending = shuffles(df).filter(_.output.exists(a =>
        a.dataType == StringType ||
          (a.dataType match {
            case ArrayType(StringType, _) => true
            case _ => false
          })))
      assert(offending.isEmpty,
        s"$name shuffles token strings:\n${offending.map(_.output.mkString(", ")).mkString("\n")}")
    }
  }

  test("brute-force knn batch broadcasts the query side") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val plan = executed(graft.operators.Similarity.knnBruteForceBatch(
      emb, emb.where(col("vec_id") < 3), k = 5)).toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"))
  }

  test("bm25 scoring side: query-term join broadcasts; score exchanges carry no strings") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.types.StringType
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val queries = docs.where(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("text"))
    val df = graft.operators.Retrieval.bm25Search(docs, queries, k = 10)
    // the (query_id, term, idf) table is KBs and must broadcast into
    // the postings scan — the corpus-sized postings never shuffle to
    // meet the query terms
    assert(executed(df).toString.contains("BroadcastHashJoin"),
      "query-term scoring join must broadcast")
    // downstream of the scoring join, the per-query exchanges (score
    // sum + top-k window) repartition on query_id and move ids + one
    // double — the term strings stay behind the broadcast. (The
    // query-side qterms distinct also partitions on query_id but keys
    // on the term STRING — that exchange is query-sized by contract
    // and exempt, filtered out by the string-free partition key.)
    val scoring = shuffles(df).filter(_.outputPartitioning match {
      case h: HashPartitioning =>
        h.expressions.exists(_.references.exists(_.name == "query_id")) &&
          !h.expressions.exists(_.references.exists(_.dataType == StringType))
      case _ => false
    })
    assert(scoring.nonEmpty, "expected query_id-partitioned score exchanges")
    for (e <- scoring)
      assert(!e.output.exists(_.dataType == StringType),
        s"score exchange carries term strings: ${e.output.mkString(", ")}")
  }

  test("dsir scoring exchanges carry bucket longs, never token strings") {
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val df = graft.operators.TextAnalysis.dsirWeights(
      docs, isTarget = col("lang") === "en")
    // window hashes fold to buckets inside the scan stage: the model
    // aggregate and the per-document sum shuffle (bucket|doc_id,
    // counts, partial double) — raw text never leaves the scan
    val offending = shuffles(df).filter(_.output.exists(a =>
      a.dataType == StringType ||
        (a.dataType match {
          case ArrayType(StringType, _) => true
          case _ => false
        })))
    assert(offending.isEmpty,
      s"dsirWeights shuffles strings:\n${offending.map(_.output.mkString(", ")).mkString("\n")}")
  }

  test("mutual-kNN exchanges carry ids + micro long, never embeddings") {
    import org.apache.spark.sql.types.ArrayType
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val df = graft.operators.Similarity.mutualKnn(emb, k = 3)
    // embeddings are consumed at the bucket-join scoring projection;
    // the candidate dedup, rank window, and mutual self-join move
    // (query_id, nbr_id, micro, rank) scalars only
    val offending = shuffles(df).filter(_.output.exists(
      _.dataType.isInstanceOf[ArrayType]))
    assert(offending.isEmpty,
      s"mutualKnn shuffles arrays:\n${offending.map(_.output.mkString(", ")).mkString("\n")}")
    // the BINDING-cap path (s_mutual_knn_capped shape) adds the
    // hot-subset rank window — its exchange moves (vec_id, t, bucket)
    // scalars, so the discipline must hold there too
    val capped = graft.operators.Similarity.mutualKnn(
      emb, k = 3, nPlanes = 4, maxDocsPerBucket = 4)
    val offending2 = shuffles(capped).filter(_.output.exists(
      _.dataType.isInstanceOf[ArrayType]))
    assert(offending2.isEmpty,
      s"capped mutualKnn shuffles arrays:\n${offending2.map(_.output.mkString(", ")).mkString("\n")}")
  }

  test("cdc chunk dedup: chunk text is dropped before every exchange") {
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id"), col("text"))
    val df = graft.operators.Dedup.cdcChunkDedup(docs)
    // chunking is per-row; the ownership aggregate and rejoin move
    // (hash60, doc_id, chunk_idx, len) longs only — never the chunk
    // text or the token array
    val offending = shuffles(df).filter(_.output.exists(a =>
      a.dataType == StringType || a.dataType.isInstanceOf[ArrayType]))
    assert(offending.isEmpty,
      s"cdcChunkDedup shuffles text/arrays:\n${offending.map(_.output.mkString(", ")).mkString("\n")}")
  }

  test("triangle counting and silhouette exchanges carry scalars only") {
    import spark.implicits._
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val tri = graft.operators.Graph.triangleCounts(
      Seq((0L, 1L), (1L, 2L), (2L, 0L), (0L, 3L)).toDF("src", "dst"))
    val triBad = shuffles(tri).filter(_.output.exists(a =>
      a.dataType == StringType || a.dataType.isInstanceOf[ArrayType]))
    assert(triBad.isEmpty,
      s"triangleCounts shuffles non-scalars:\n${triBad.map(_.output.mkString(", ")).mkString("\n")}")

    // silhouette: embeddings are consumed map-side (broadcast centroid
    // join + cosine projection); the per-vector window and per-list
    // aggregate shuffle (vec_id, list_id, cos/micro) scalars only.
    // SinglePartition folds (the ≤nLists centroid collect) are exempt.
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val sil = graft.operators.Similarity.silhouette(emb, nLists = 4)
    val silBad = shuffles(sil).filter { s =>
      s.outputPartitioning != org.apache.spark.sql.catalyst.plans.physical.SinglePartition &&
        s.output.exists(_.dataType.isInstanceOf[ArrayType])
    }
    assert(silBad.isEmpty,
      s"silhouette shuffles embedding arrays:\n${silBad.map(_.output.mkString(", ")).mkString("\n")}")
  }

  test("no single-partition global window outside the bounded whitelist") {
    import org.apache.spark.sql.execution.window.WindowExec
    // A WindowExec with NO partitionSpec moves its whole input to one
    // partition — lethal when the input grows with SF (the r6 verdict
    // flagged q_ks_test/q_pareto; both now run on PrefixSum's two-phase
    // scan). This sweep locks the rest of the inventory: a new query
    // may only carry a global window if its input is bounded by
    // construction and its name is adjudicated here.
    val bounded = Set(
      // windows over the |strata|-row moment table (strata = source
      // values; one corpus reduce precedes)
      "d_sample_neyman",
      // windows over the coarse-bucket-pruned frontier residual
      // (dominated points already dropped by the broadcast min-table)
      "q_skyline",
      // window over the bounded (score, count) integer-ppm
      // distribution table (score domain ≤ 10⁶ ppm values)
      "t_quality_buckets",
      // window over the TakeOrdered top-max(k) vocab cut (≤ 10⁴ rows
      // by the literal k)
      "t_vocab_coverage")
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val bad =
        try nonAdaptive() {
          SparkEntry.queries(name)(spark, sf()).queryExecution.executedPlan
            .collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
            .nonEmpty
        }
        catch { case _: Throwable => false } // runtime issues: other gates' job
      if (bad && !bounded(name)) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"unadjudicated single-partition global windows in: $offenders")
  }
}
