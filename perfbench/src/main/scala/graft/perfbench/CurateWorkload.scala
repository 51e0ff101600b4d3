package graft.perfbench

import graft.operators.{Corpus, Dedup}
import graft.sources.DocumentSource
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, pmod, lit}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import scala.collection.mutable.ArrayBuffer

/** `curate_dedup`: shuffle-bound global operators over a JSONL corpus
  * with known injections. One pass runs, in order: the curation funnel,
  * MinHash-LSH pairs and dedup by their components, exact n-gram Jaccard
  * pairs, and the persisted dedup index (build on the base, probe and
  * append two deltas in turn). Passes repeat while time allows. The
  * probe and append of one delta are the workload's incremental update. A pass
  * starts only if it is expected to end inside the window. */
final class CurateWorkload extends Workload {
  // 400 base documents of ~300 tokens (~500 documents with the
  // injections): one pass is then mostly per-job overhead, near 6.5 s on
  // 4 cores, so a 25 s window makes four passes, the fewest whose
  // median and p90 hold steady from run to run.
  val NBase = 400
  val MinPasses = 4
  val Tokens = 300
  val Threshold = 0.8

  private def dir(run: Run) = run.work.resolve("curate")
  private def pq(run: Run, name: String) = dir(run).resolve(name).toString
  private var gen: Gen.CurateInputs = _
  /** (pass seconds, traced) */
  private val passes = ArrayBuffer.empty[(Double, Boolean)]
  private val steps = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private var funnel = Map.empty[String, Long]
  private val minhashPairs = ArrayBuffer.empty[Long]
  private val ngramPairs = ArrayBuffer.empty[Set[(Long, Long)]]
  private val ngramShuffled = ArrayBuffer.empty[Long]
  private var recall = 0.0

  private val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))

  def setup(run: Run): Unit = {
    val spark = run.spark
    Run.wipe(dir(run))
    gen = Gen.curateInputs(dir(run), run.seed, NBase, Tokens)
    val corpus = DocumentSource.readJsonl(spark, dir(run).resolve("corpus").toString,
      idField = Some("doc_id"), schema = Some(schema))
    corpus.write.parquet(pq(run, "corpus.parquet"))
    val stored = spark.read.parquet(pq(run, "corpus.parquet"))
    // the index path builds on four fifths and adds the rest as two
    // deltas, each probed against the index and then appended to it
    stored.where(pmod(col("doc_id"), lit(5)) =!= 0).write.parquet(pq(run, "base.parquet"))
    stored.where(pmod(col("doc_id"), lit(10)) === 0).write.parquet(pq(run, "delta_0.parquet"))
    stored.where(pmod(col("doc_id"), lit(10)) === 5).write.parquet(pq(run, "delta_1.parquet"))
    DocumentSource.readJsonl(spark, dir(run).resolve("benchmark.jsonl").toString)
      .select(col("text")).write.parquet(pq(run, "benchmark.parquet"))
  }

  /** One unrecorded pass, so the measured passes reuse its compiled plans. */
  def warmUp(run: Run): Unit = pass(run, inputs(run), record = false)

  private def inputs(run: Run) = CurateWorkload.Inputs(run.spark.read.parquet(pq(run, "corpus.parquet")),
    run.spark.read.parquet(pq(run, "benchmark.parquet")), run.spark.read.parquet(pq(run, "base.parquet")),
    Seq(0, 1).map(i => run.spark.read.parquet(pq(run, s"delta_$i.parquet"))), pq(run, "dedup_index"))

  /** One pass of the four steps; `record` keeps its results. */
  private def pass(run: Run, data: CurateWorkload.Inputs, record: Boolean): Unit = {
    import data._
    val spark = run.spark
    def step[T](name: String)(body: => T): T = {
      val (r, t) = Run.timed(body)
      if (record) steps.getOrElseUpdate(name, ArrayBuffer.empty) += t
      r
    }
    run.op("curate")(run.span("curate.funnel")(step("curate") {
      val f = Corpus.curate(corpus, bench).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      if (record) funnel = f
    }))
    run.op("minhash dedup")(run.span("dedup.minhash") {
      val pairs = step("minhash")(Dedup.minhashLshPairs(corpus, threshold = Threshold).localCheckpoint(true))
      val n = pairs.count()
      if (record) minhashPairs += n
      step("components")(Run.force(Dedup.dedupByPairs(corpus, pairs)))
      pairs.unpersist()
    })
    run.op("ngram pairs")(run.span("dedup.ngram")(step("ngram") {
      val p = Dedup.ngramJaccardPairs(corpus, threshold = Threshold).select(col("a"), col("b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      if (record) ngramPairs += p
    }))
    run.op("dedup index")(run.span("dedup.index") {
      step("index_write")(Dedup.writeDedupIndex(base, index))
      deltas.foreach { delta =>
        step("index_probe")(Run.force(Dedup.probeDedupIndex(spark, index, delta, threshold = Threshold)))
        step("index_append")(Dedup.appendToDedupIndex(spark, index, delta))
      }
    })
  }

  def measure(run: Run): Unit = {
    val data = inputs(run)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var n = 0
    while (n < MinPasses || elapsed * (n + 1) / n <= run.seconds) {
      val traced = run.tracer.isDefined && n % 2 == 1
      run.tracing = traced
      run.probeHost()
      val (_, t) = Run.timed(pass(run, data, record = true))
      passes += ((t, traced))
      run.log(f"pass $n took $t%.2f s")
      n += 1
    }
    run.tracing = run.tracer.isDefined
    run.tracer.foreach(tr => ngramShuffled ++= tr.calls("dedup.ngram").map(_.counters.shuffleRecords))
  }

  def check(run: Run): Unit = {
    run.check("curation funnel")(Checks.funnel(funnel, gen.exactCopies, gen.contaminated))
    val want = gen.nearDups.count(_.jaccard >= Threshold)
    val found = ngramPairs.map { pairs =>
      val missing = Checks.missingPairs(pairs, gen.nearDups, Threshold)
      run.check("n-gram pairs contain every injected pair")(
        missing.take(3).map(p => f"missing pair (${p.a}, ${p.b}) at Jaccard ${p.jaccard}%.3f"))
      want - missing.size
    }
    recall = if (want == 0 || found.isEmpty) 0.0 else found.map(_.toDouble / want).sum / found.size
    val docs = gen.docs.size
    run.named ++= Seq(
      "curate_docs_per_s" -> (docs / Stats.median(passes.map(_._1).toSeq), "docs/s"),
      "near_dup_recall" -> (recall, "ratio"),
      "passes" -> (passes.size.toDouble, "count"))
  }

  def endToEnd(run: Run): Map[String, Double] = {
    val lat = passes.map(_._1 * 1000).toSeq
    // the incremental update: probe the index with a delta, append it
    val updates = steps("index_probe").zip(steps("index_append")).map { case (p, a) => (p + a) * 1000 }
    Map(
      "update_p50_ms" -> Stats.median(updates.toSeq),
      "throughput_per_s" -> gen.docs.size / Stats.median(passes.map(_._1).toSeq),
      "latency_p50_ms" -> Stats.quantile(lat, 0.5),
      "latency_p90_ms" -> Stats.quantile(lat, 0.9),
      "recall" -> recall)
  }

  def layers(run: Run): Map[String, Double] = {
    def s(name: String) = Stats.medianOrZero(steps.getOrElse(name, ArrayBuffer.empty[Double]).toSeq)
    def f(stage: String) = funnel.getOrElse(stage, 0L).toDouble
    val nPairs = ngramPairs.lastOption.map(_.size.toDouble).getOrElse(0.0)
    Map(
      "corpus.curate_s" -> s("curate"),
      "corpus.funnel_input" -> f("0_input"),
      "corpus.funnel_lang" -> f("1_lang"),
      "corpus.funnel_quality" -> f("2_quality"),
      "corpus.funnel_exact_dedup" -> f("3_exact_dedup"),
      "corpus.funnel_decontaminate" -> f("4_decontaminate"),
      "dedup.minhash_s" -> s("minhash"),
      "dedup.minhash_pairs" -> minhashPairs.lastOption.map(_.toDouble).getOrElse(0.0),
      "dedup.components_s" -> s("components"),
      "dedup.ngram_s" -> s("ngram"),
      "dedup.ngram_pairs" -> nPairs,
      "dedup.ngram_pairs_per_shuffled_record" ->
        (if (ngramShuffled.isEmpty) 0.0 else nPairs / Stats.mean(ngramShuffled.map(_.toDouble).toSeq)),
      "dedup.index_write_s" -> s("index_write"),
      "dedup.index_probe_s" -> s("index_probe"),
      "dedup.index_append_s" -> s("index_append"),
      "trace.overhead_ratio" -> Workloads.overhead(passes.toSeq))
  }
}

object CurateWorkload {
  /** The tables one pass reads, and the dedup index it writes. */
  final case class Inputs(corpus: DataFrame, bench: DataFrame, base: DataFrame,
                          deltas: Seq[DataFrame], index: String)
}
