package graft

import graft.operators.Similarity
import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._

/** Similarity.autoPlanes — the executable form of the documented LSH
  * scale rule (nPlanes ≈ log₂(N / target bucket)). The load-bearing
  * property: MEAN BUCKET OCCUPANCY STAYS FLAT as the corpus grows,
  * because occupancy drives the within-bucket candidate stage
  * (Θ(Σ bucket²)) that made fixed-plane runs quadratic (mutualKnn's
  * measured 4s→145s from 1k→66k vectors at fixed 8 planes).
  */
class AutoPlanesSpec extends SparkSpecBase {
  import spark.implicits._

  private def vectors(n: Int) =
    // per-doc token sets must be DIVERSE: a shared-prefix corpus
    // ("doc 1", "doc 2", …) collapses every hash embedding onto the
    // shared tokens' direction and all vectors land in one bucket —
    // the same degenerate geometry as the r6 simhash signature bug
    (0 until n).map(i => i.toLong).toDF("vec_id")
      .select(col("vec_id"),
        VectorFunctions.hashEmbed(concat(
          lit("a"), col("vec_id") * 7 % 997,
          lit(" b"), col("vec_id") * 13 % 991,
          lit(" c"), col("vec_id") * 29 % 983,
          lit(" d"), col("vec_id") * 31 % 977), 32).as("embedding"))

  test("autoPlanes formula: log2(N/target), floored at 4") {
    assert(Similarity.autoPlanes(100, 256) == 4) // tiny corpus -> floor
    assert(Similarity.autoPlanes(256 * 16, 256) == 4)
    assert(Similarity.autoPlanes(256 * 1024, 256) == 10)
    assert(Similarity.autoPlanes(1L << 40, 256) == 32) // 10^12 vectors
  }

  test("bucket occupancy stays bounded across 16x corpus growth") {
    val target = 64
    def occOf(n: Int, planes: Int): Double = vectors(n)
      .select(VectorFunctions.hyperplaneBucket(col("embedding"), planes)
        .as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("c"))
      .agg(avg(col("c"))).head().getDouble(0)
    val occupancy = for (n <- Seq(1024, 4096, 16384)) yield {
      val planes = Similarity.autoPlanes(n, target)
      (n, planes, occOf(n, planes))
    }
    // real embeddings are anisotropic (many hyperplane cells stay
    // empty), so "flat" means SUB-LINEAR with a bounded constant, not
    // exactly the target: over a 16x corpus step the auto path must
    // grow far slower than the corpus …
    val first = occupancy.head._3
    val last = occupancy.last._3
    assert(last < first * 8,
      s"occupancy tracked corpus size under autoPlanes: $occupancy")
    // … and beat the fixed-plane baseline on the SAME data decisively
    // (this is the quadratic-candidate-stage guard the knob exists for)
    val fixedAtBig = occOf(16384, Similarity.autoPlanes(1024, target))
    assert(last * 2 < fixedAtBig,
      s"auto occupancy $last not clearly below fixed-plane $fixedAtBig")
  }

  test("nPlanes = 0 entry points run end-to-end on the auto path") {
    val v = vectors(512)
    // just exercises the auto path (count aggregate + derived planes);
    // results themselves are corpus-dependent
    assert(Similarity.knnLsh(v, v.where(col("vec_id") < 2), dim = 32, k = 3)
      .count() >= 0)
    assert(graft.operators.Dedup.embeddingCosinePairs(v, threshold = 0.999)
      .count() >= 0)
    assert(Similarity.mutualKnn(v, k = 2).count() >= 0)
  }

  test("knownCount suppresses the eager count job at construction time") {
    // r7 advice: the auto path's corpus.count() is an eager job per
    // operator. Some entry points are eager for OTHER deliberate
    // reasons (mutualKnn / embeddingCosinePairs localCheckpoint their
    // materialize-once stages), so the robust assertion is the DELTA:
    // auto-path construction schedules exactly one more job (the
    // count) than knownCount construction of the same operator.
    val v = vectors(512).localCheckpoint(true) // materialize input off the clock
    // knnLsh is fully lazy apart from the count: knownCount ⇒ 0 jobs
    val q = v.where(col("vec_id") < 2)
    assert(jobsOf(Similarity.knnLsh(v, q, dim = 32, k = 3, knownCount = 512L))._2 == 0)
    // (a count under AQE may schedule 1-2 jobs, so deltas assert >)
    val lshDelta = jobsOf(Similarity.knnLsh(v, q, dim = 32, k = 3))._2
    assert(lshDelta >= 1, s"knnLsh auto path ran $lshDelta jobs (want the count job)")
    val mkKnown = jobsOf(Similarity.mutualKnn(v, k = 2, knownCount = 512L))._2
    val mkAuto = jobsOf(Similarity.mutualKnn(v, k = 2))._2
    assert(mkAuto > mkKnown,
      s"mutualKnn: auto $mkAuto vs known $mkKnown jobs (count not suppressed)")
    val ecKnown = jobsOf(graft.operators.Dedup.embeddingCosinePairs(
      v, threshold = 0.999, knownCount = 512L))._2
    val ecAuto = jobsOf(graft.operators.Dedup.embeddingCosinePairs(v, threshold = 0.999))._2
    assert(ecAuto > ecKnown,
      s"embeddingCosinePairs: auto $ecAuto vs known $ecKnown jobs (count not suppressed)")
    // and the derived plane count must equal the counted path's
    assert(Similarity.autoPlanes(512L) == Similarity.autoPlanes(v.count()))
  }
}
