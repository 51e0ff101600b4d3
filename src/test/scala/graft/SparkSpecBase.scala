package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (sessions are
  * expensive; every suite reuses this one).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", // keep saveAsTable data out of the repo
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf(path: String = "sf0.001"): String = s"/root/testdata/$path"

  /** Runs `body` and returns its value with the number of Spark jobs it
    * started. Listener events are async, so the bus is drained before
    * and after (a fixed sleep races under a loaded executor):
    * LiveListenerBus.waitUntilEmpty() is private[spark], reached via
    * reflection. Any eager job inside `body` has completed by the time
    * it returns, so a drained bus gives exact counts. */
  def jobsOf[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def drainListenerBus(): Unit = {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
    drainListenerBus()
    spark.sparkContext.addSparkListener(listener)
    try {
      val result = body
      drainListenerBus()
      (result, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
