package graft
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap

/** Benchmark main: times every SparkEntry query at the given SF and
  * prints ONE JSON line {"metric","value","unit","queries","sf"}.
  * Failures are recorded in "errors" (and the run keeps going) rather
  * than silently timing an exception.
  *
  * Starvation guard: this host has sporadic vCPU-starvation windows
  * (30-160 s, root-caused in SURVEY §5) that inflate 1-3 random
  * queries per full run and mask real regressions. After the main
  * loop, any query whose wall exceeds 2.5× its family median (family =
  * first key character: q/i/d/s/t/m/x/g — q01/q03 must share the q
  * family or they'd be un-retimeable singletons) is re-timed once and
  * the MINIMUM is reported; the re-timed values are surfaced in a
  * "retimed" map so the artifact shows exactly which numbers were
  * corrected. The multiplier is deliberately aggressive (measured: a
  * 5× threshold let an 81%-inflated query through because the noisy
  * run inflated its family median too): a heavyweight query exceeding
  * it while quiet just gets one cheap extra timing, the safe direction.
  */
object Bench {

  private def timeOne(spark: SparkSession, sfDir: String,
                      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                      onError: Throwable => Unit): Double = {
    val t0 = System.nanoTime()
    // noop sink: materializes EVERY output column (count() would let
    // Catalyst prune unobserved ones and under-report map-only queries)
    try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => onError(e) }
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = GraftSession.sfDir("sf0.1")
    val spark = GraftSession.get()
    spark.range(1000).selectExpr("sum(id)").collect() // session warm-up off the clock
    var errors = List.empty[String]
    val only = args.toSet // optional subset filter (driver passes none)
    val unknown = only.diff(SparkEntry.benchQueries.keySet)
    if (unknown.nonEmpty) { // a typo'd subset must not time nothing, successfully
      System.err.println(s"[bench] unknown queries: ${unknown.mkString(", ")}")
      sys.exit(1)
    }
    val selected = SparkEntry.benchQueries.toSeq.sortBy(_._1)
      .filter(q => only.isEmpty || only(q._1))
    var failed = Set.empty[String]
    val first = ListMap(selected: _*).map { case (name, fn) =>
      name -> timeOne(spark, sfDir, fn,
        e => { errors ::= s"$name: ${e.getClass.getSimpleName}"; failed += name })
    }

    // identify starvation suspects: > 2.5× the family median (a family
    // of one is never suspect — v > 2.5v is false); re-time worst-first,
    // bounded so a systemically-slow run can't double its own wall
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    def family(k: String): String = k.substring(0, 1)
    val famMedian = first.toSeq.groupBy(kv => family(kv._1))
      .map { case (f, qs) => f -> median(qs.map(_._2)) }
    // retime EVERY suspect (no fixed cap): a quiet run has only a
    // handful and a noisy one needs all of them retimed — a cap lets
    // whichever spikes rank 9th survive into the committed artifact
    val suspects = first.toSeq
      .filter { case (k, v) => !failed(k) && v > 2.5 * famMedian(family(k)) }
      .sortBy { case (k, v) => -(v / famMedian(family(k))) }
      .map(_._1)
    val fnByName = selected.toMap
    val retimed = suspects.flatMap { name =>
      // a FAILED retime returns time-to-exception — drop it entirely so
      // that tiny number never replaces a successful first-pass
      // measurement (and never reaches the printed "retimed" map)
      var retimeFailed = false
      val t = timeOne(spark, sfDir, fnByName(name),
        e => { retimeFailed = true; errors ::= s"$name(retime): ${e.getClass.getSimpleName}" })
      if (retimeFailed) None else Some(name -> t)
    }.toMap
    val results = first.map { case (k, v) =>
      k -> math.min(v, retimed.getOrElse(k, v))
    }

    // milliseconds are far below host noise; round per-query values
    // FIRST and derive the total from the rounded values, so a
    // consumer summing the artifact's per-query map reproduces
    // `value` exactly (r10 advice: independently-rounded total could
    // drift from the map's sum by up to n·0.0005)
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    val rounded = results.map { case (k, v) => k -> r3(v) }
    def jmap(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val errJson = errors.map(e => "\"" + e.replace("\"", "'") + "\"").mkString("[", ",", "]")
    val total = r3(rounded.values.sum)
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":${jmap(rounded)},"retimed":${jmap(retimed.map { case (k, v) => k -> r3(v) })},"sf":"$sfDir","errors":$errJson}"""
    // The driver captures only the TAIL of stdout and json-parses it:
    // a 210-query map overflows that capture, so the full artifact
    // goes to a file (override via SPARK_GRAFT_BENCH_OUT) and stdout
    // carries a SHORT line — total, per-family subtotals, and the
    // path to the full map — that always fits and always parses
    // (r10 verdict item 3: "parsed": null two rounds running).
    val outPath = new java.io.File(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")).getAbsolutePath
    val wrote =
      try { java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), full + "\n"); true }
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $outPath: ${e.getMessage}"); false }
    val famTotals = rounded.toSeq.groupBy(kv => family(kv._1)).toSeq.sortBy(_._1)
      .map { case (f, qs) => f -> r3(qs.map(_._2).sum) }
    val short = s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","n_queries":${rounded.size},"families":${jmap(famTotals)},"n_retimed":${retimed.size},"queries_file":${if (wrote) "\"" + outPath + "\"" else "null"},"errors":$errJson}"""
    // full line first (stderr, for a human tailing the run), short
    // parseable line LAST on stdout (what the driver's capture keeps)
    System.err.println(full)
    println(short)
    spark.stop()
  }
}
