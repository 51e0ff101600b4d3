package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** Counters of one span call, summed over the Spark tasks of the jobs
  * the call started. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var execCpuNs = 0L
  var execRunMs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  /** [start, end] wall-clock milliseconds of each job. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** One recorded span: name, start, end, parent, run id, and the Spark
  * counters of the jobs started inside it. */
final case class Span(id: Int, name: String, parent: Option[Int], runId: String,
                      startMs: Long, endMs: Long, wallS: Double, counters: Counters) {
  /** Span wall time minus the time any of its jobs was running. */
  def driverS: Double = {
    val iv = counters.jobIntervals.map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    math.max(0.0, wallS - busy / 1000.0)
  }
}

/** In-memory tracer: spans recorded by the benchmark around each call
  * into a graft layer, plus a SparkListener and a StreamingQueryListener
  * that attribute every job, task and micro-batch to the span that
  * started it (through a thread-local job property, which streaming and
  * broadcast threads inherit). Spans are kept in memory and written out
  * when the run ends. */
final class Tracer(spark: SparkSession, val runId: String) {
  private val sc = spark.sparkContext
  private val Key = "perfbench.span"
  private val byCall = mutable.HashMap.empty[String, Counters]
  private val stageCall = mutable.HashMap.empty[Int, String]
  private val jobCall = mutable.HashMap.empty[Int, (String, Long)]
  val spans = mutable.ArrayBuffer.empty[Span]
  /** (span call, progress) of every micro-batch that read input. */
  val progress = mutable.ArrayBuffer.empty[(String, StreamingQueryListener.QueryProgressEvent)]
  private var stack = List.empty[Int]
  private var nextId = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach { call =>
        jobCall(e.jobId) = (call, e.time)
        e.stageIds.foreach(s => stageCall(s) = call)
        byCall.getOrElseUpdate(call, new Counters).jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobCall.remove(e.jobId).foreach { case (call, start) =>
        byCall(call).jobIntervals += ((start, e.time))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (call <- stageCall.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = byCall.getOrElseUpdate(call, new Counters)
        c.tasks += 1
        c.execCpuNs += m.executorCpuTime
        c.execRunMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        c.spillBytes += m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
        c.outputRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        if (e.progress.numInputRows > 0) stack.headOption.foreach { id =>
          progress += ((callName(id), e))
        }
      }
  }

  private def callName(id: Int): String = s"$runId#$id"

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    org.apache.spark.PerfbenchListenerBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  /** Run `body` as span `name`, a child of the enclosing span. */
  def span[T](name: String)(body: => T): T = {
    val id = synchronized { val i = nextId; nextId += 1; i }
    val parent = stack.headOption
    val previous = sc.getLocalProperty(Key)
    synchronized { stack = id :: stack }
    sc.setLocalProperty(Key, callName(id))
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      sc.setLocalProperty(Key, previous)
      org.apache.spark.PerfbenchListenerBus.drain(sc)
      synchronized {
        stack = stack.tail
        spans += Span(id, name, parent, runId, startMs, endMs, wall,
          byCall.getOrElse(callName(id), new Counters))
      }
    }
  }

  def calls(name: String): Seq[Span] = synchronized(spans.filter(_.name == name).toSeq)

  /** Micro-batch progress events recorded inside spans named `name`. */
  def progressOf(name: String): Seq[StreamingQueryListener.QueryProgressEvent] = synchronized {
    val ids = spans.filter(_.name == name).map(s => callName(s.id)).toSet
    progress.collect { case (c, e) if ids(c) => e }.toSeq
  }

  /** Spans as JSON lines: name, start, end, parent, run id, counters. */
  def spansJson: String = synchronized {
    spans.sortBy(_.id).map { s =>
      val c = s.counters
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent.getOrElse("null")},"run_id":"${s.runId}",""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.wallS},"driver_s":${s.driverS},""" +
        s""""jobs":${c.jobs},"tasks":${c.tasks},"exec_cpu_s":${c.execCpuNs / 1e9},"exec_run_s":${c.execRunMs / 1e3},""" +
        s""""gc_s":${c.gcMs / 1e3},"input_bytes":${c.inputBytes},"shuffle_bytes":${c.shuffleBytes},""" +
        s""""spill_bytes":${c.spillBytes},"output_bytes":${c.outputBytes},"output_records":${c.outputRecords}}"""
    }.mkString("", "\n", "\n")
  }
}

object Tracer {
  /** The per-span counters every traced run reports, averaged per call. */
  val SpanNames: Seq[String] = Seq("ingest.bulk", "ingest.upsert", "rag.brute", "rag.filtered",
    "rag.ivf", "curate.funnel", "dedup.minhash", "dedup.ngram", "dedup.index")
  val CounterNames: Seq[(String, String)] = Seq("jobs" -> "count", "tasks" -> "count",
    "exec_cpu_s" -> "s", "exec_run_s" -> "s", "gc_s" -> "s", "driver_s" -> "s",
    "input_bytes" -> "bytes", "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes")

  def counterValue(s: Span, name: String): Double = {
    val c = s.counters
    name match {
      case "jobs" => c.jobs.toDouble
      case "tasks" => c.tasks.toDouble
      case "exec_cpu_s" => c.execCpuNs / 1e9
      case "exec_run_s" => c.execRunMs / 1e3
      case "gc_s" => c.gcMs / 1e3
      case "driver_s" => s.driverS
      case "input_bytes" => c.inputBytes.toDouble
      case "shuffle_bytes" => c.shuffleBytes.toDouble
      case "spill_bytes" => c.spillBytes.toDouble
    }
  }
}
