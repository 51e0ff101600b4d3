package graft.perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** State of one benchmark run: the session, the work directory, the
  * seed, the operation and check tallies, and the tracer of a traced
  * run. */
final class Run(val spark: SparkSession, val work: Path, val seed: Long,
                val seconds: Double, val tracer: Option[Tracer]) {
  var attempted = 0L
  var failed = 0L
  /** Whether the current operation is traced. A traced run alternates
    * traced and untraced operations, so it measures its own overhead. */
  var tracing: Boolean = tracer.isDefined
  /** Metrics under the names of the workload's own documentation,
    * written to the run's result file next to the printed metrics. */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  private var peakHeap = 0L

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** One attempted operation; an exception counts it as failed. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        log(s"$what failed: $e")
        None
    }
  }

  /** One output check; any failure counts it as a failed operation. */
  def check(what: String)(failures: => Seq[String]): Unit = {
    attempted += 1
    val f = try failures catch { case e: Exception => Seq(e.toString) }
    if (f.nonEmpty) {
      failed += 1
      log(s"check $what failed: ${f.mkString("; ")}")
    }
  }

  def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) if tracing => t.span(name)(body)
    case _ => body
  }

  /** Heap in use right after a full collection; the run reports the
    * largest such sample, taken at each phase boundary. */
  def sampleHeap(): Unit = {
    // the second collection also frees what Spark's cleaner released
    // after the first one (unreferenced shuffles and checkpoints)
    System.gc()
    Thread.sleep(200)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peakHeap = math.max(peakHeap, used)
  }
  def peakHeapMb: Double = peakHeap / (1024.0 * 1024.0)

  /** Seconds each host-speed probe took. */
  val hostProbes = mutable.ArrayBuffer.empty[Double]

  /** Time a fixed CPU and memory kernel on every core at once; it runs
    * no graft or Spark code, so it moves only with the host's speed. */
  def probeHost(): Unit = {
    val n = Runtime.getRuntime.availableProcessors
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val t0 = System.nanoTime()
      val fs = (0 until n).map(i => pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = Run.kernel(i)
      }))
      var sink = 0L
      fs.foreach(f => sink ^= f.get())
      hostProbes += (System.nanoTime() - t0) / 1e9 + (if (sink == 42L) 1e-12 else 0.0)
    } finally pool.shutdown()
  }
}

object Run {
  /** A fixed amount of integer work over a 2 MB table. */
  def kernel(seed: Int): Long = {
    val table = new Array[Long](1 << 18)
    var x = 0x9e3779b97f4a7c15L + seed
    var i = 0
    var acc = 0L
    while (i < 4000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      val j = (x & ((1 << 18) - 1)).toInt
      table(j) += x
      acc += table((j * 31) & ((1 << 18) - 1))
      i += 1
    }
    acc
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def wipe(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  /** Force a lazy result without collecting it. */
  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** (files, bytes) of the parquet data files under `p`. */
  def parquetFiles(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try {
      val files = s.filter(f => f.getFileName.toString.endsWith(".parquet")).toArray.map(_.asInstanceOf[Path])
      (files.length.toLong, files.map(f => Files.size(f)).sum)
    } finally s.close()
  }
}

/** One workload: set up (run several times; the median is `setup_s`),
  * warm up once, measure for the run's seconds, check the outputs. */
trait Workload {
  /** Prepare the inputs: generate them and load what graft reads. */
  def setup(run: Run): Unit
  /** Exercise every measured call once on a small input, so JIT
    * compilation and code generation finish before timing starts (a
    * long-lived service pays them once, not per request). */
  def warmUp(run: Run): Unit
  def measure(run: Run): Unit
  def check(run: Run): Unit
  /** The end-to-end metrics other than setup_s and peak_heap_mb. */
  def endToEnd(run: Run): Map[String, Double]
  /** The per-layer metrics this workload moves (all others read 0). */
  def layers(run: Run): Map[String, Double]
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "ingest_rag" => new IngestRagWorkload
    case "curate_dedup" => new CurateWorkload
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
  val Names: Seq[String] = Seq("ingest_rag", "curate_dedup")

  /** Median traced latency over median untraced latency, minus one. */
  def overhead(latencies: Seq[(Double, Boolean)]): Double = {
    val (on, off) = latencies.partition(_._2)
    if (on.isEmpty || off.isEmpty) 0.0
    else Stats.median(on.map(_._1)) / Stats.median(off.map(_._1)) - 1
  }
}
