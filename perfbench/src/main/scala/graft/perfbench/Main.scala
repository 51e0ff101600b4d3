package graft.perfbench

import java.nio.file.{Files, Paths}

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>`.
  *
  * Sets the workload up three times (the median is `setup_s`), warms it
  * up once, measures for the given seconds, checks every output, and prints one JSON line
  * last on stdout: the end-to-end metrics untraced, the per-layer
  * metrics traced. Everything else goes to stderr and to files under
  * `<out>/results`; scratch data lives under `<out>/work` during the run. */
object Main {
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "15").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val out = Paths.get(opts.getOrElse("out", ".bench_build")).toAbsolutePath
    val workload = Workloads(name)
    val work = out.resolve("work").resolve(name)
    Run.wipe(work)
    Files.createDirectories(work)

    val spark = graft.GraftSession.builder()
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val runId = s"$name-seed$seed-trace${if (trace) 1 else 0}"
    val tracer = if (trace) Some(new Tracer(spark, runId)) else None
    tracer.foreach(_.start())
    val run = new Run(spark, work, seed, seconds, tracer)
    var exit = 0
    try {
      run.tracing = false
      def phase(what: String): Unit =
        run.log(f"$what at ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")
      phase("session ready")
      val setupTimes = (0 until SetupRepeats).map(_ => Run.timed(workload.setup(run))._2)
      run.sampleHeap()
      phase("set-up done")
      run.named += "warmup_s" -> (Run.timed(workload.warmUp(run))._2, "s")
      (0 until 3).foreach(_ => run.probeHost())
      run.hostProbes.clear()
      run.tracing = trace
      workload.measure(run)
      run.sampleHeap()
      phase("measurement done")
      workload.check(run)
      run.sampleHeap()
      phase("checks done")
      val setupS = Stats.median(setupTimes)
      run.named ++= Seq("host_probe_s" -> (Stats.median(run.hostProbes.toSeq), "s"),
        "host_probe_max_s" -> (run.hostProbes.max, "s"), "host_probe_min_s" -> (run.hostProbes.min, "s"))
      run.named ++= Seq("setup_s" -> (setupS, "s"), "peak_heap_mb" -> (run.peakHeapMb, "MB"),
        "failed_ratio" -> (run.failed.toDouble / math.max(1L, run.attempted), "ratio"))
      val metrics: Seq[(String, Double, String)] =
        if (!trace) {
          val e2e = workload.endToEnd(run) ++ Map("setup_s" -> setupS, "peak_heap_mb" -> run.peakHeapMb)
          Metrics.EndToEnd.map { case (m, u) => (m, e2e(m), u) }
        } else {
          val t = tracer.get
          val spans = Tracer.SpanNames.flatMap { s =>
            val calls = t.calls(s)
            Tracer.CounterNames.map { case (c, _) =>
              s"$s.$c" -> Stats.mean(calls.map(Tracer.counterValue(_, c)))
            }
          }.toMap
          val layer = spans ++ workload.layers(run)
          Metrics.PerLayer.map { case (m, u) => (m, layer.getOrElse(m, 0.0), u) }
        }
      tracer.foreach(_.stop())
      val results = out.resolve("results")
      Files.createDirectories(results)
      tracer.foreach(t => Gen.write(results.resolve(s"$runId.spans.jsonl"), t.spansJson))
      run.named.foreach { case (m, (v, u)) => run.log(f"$m%-22s $v%.6f $u") }
      Gen.write(results.resolve(s"$runId.json"), resultJson(run, metrics, named = true))
      println(resultJson(run, metrics, named = false))
    } catch {
      case e: Throwable =>
        run.log(s"run aborted: $e")
        e.printStackTrace()
        exit = 1
    } finally {
      spark.stop()
      Run.wipe(work)
    }
    System.out.flush()
    sys.exit(exit)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  /** The result line; with `named`, the documentation-named metrics too. */
  def resultJson(run: Run, metrics: Seq[(String, Double, String)], named: Boolean): String = {
    val m = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    val extra = if (!named) "" else ", \"named\": {" + run.named.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ") + "}"
    s"""{"correct": ${run.failed == 0}, "attempted": ${run.attempted}, "failed": ${run.failed}, "metrics": {$m}$extra}"""
  }
}
