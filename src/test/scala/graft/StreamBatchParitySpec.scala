package graft

import graft.streaming.StreamBatchParity.{DataBatches, StagedStream}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** The staged-stream driver behind every x_stream_* parity row: what it
  * stages for a time-sliced and for an id-sliced corpus.
  */
class StreamBatchParitySpec extends SparkSpecBase {
  import spark.implicits._

  /** Staged file names in mtime order, checking the mtimes strictly
    * increase (the file source's batch order). */
  private def stagedInOrder(s: StagedStream): Seq[Path] = {
    val files = Using.resource(Files.list(s.in))(_.iterator().asScala.toList)
      .map(p => p -> Files.getLastModifiedTime(p).toMillis).sortBy(_._2)
    val mtimes = files.map(_._2)
    assert(mtimes.distinct == mtimes, s"mtimes not strictly increasing: $files")
    files.map(_._1)
  }

  /** Keys per slice under the cut rule: slice i holds
    * [lo + range*i/n, lo + range*(i+1)/n), the first and last slice
    * unbounded below and above. */
  private def sliceSizes(keys: Seq[Long], range: Long): Seq[Int] = {
    val cuts = Long.MinValue +: (1 until DataBatches).map(i =>
      keys.min + range * i / DataBatches) :+ Long.MaxValue
    (0 until DataBatches).map(i => keys.count(k => k >= cuts(i) && k < cuts(i + 1)))
  }

  test("time-sliced staging: event-time slices in order, a byte-identical sentinel pair, null ts dropped") {
    val secs = Seq(1000L, 1010L, 1100L, 1500L, 2000L, 2999L, 3000L, 4000L, 4600L, 5000L)
    val corpus = (secs.map(s => (s, Option(s))) :+ ((99L, Option.empty[Long])))
      .toDF("user_id", "sec")
      .select(col("user_id"), timestamp_seconds(col("sec")).as("ts"))
    val s = new StagedStream(spark, corpus, "ts")
    try {
      s.stage(0 until DataBatches)
      val files = stagedInOrder(s)
      assert(files.map(_.getFileName.toString) ==
        Seq("000.parquet", "001.parquet", "002.parquet", "003.parquet",
          "900.parquet", "901.parquet"))
      val batches = files.map(f => spark.read.parquet(f.toString))
      val data = batches.take(DataBatches)
      assert(data.map(_.count().toInt) == sliceSizes(secs, secs.max - secs.min))
      assert(sliceSizes(secs, secs.max - secs.min) == Seq(4, 2, 1, 3))
      // the null-ts row is in no slice
      assert(data.map(_.where(col("user_id") === 99L).count()).sum == 0)
      assert(Files.mismatch(files(DataBatches), files(DataBatches + 1)) == -1L)
      val sentinel = batches(DataBatches)
        .select(col("user_id"), unix_seconds(col("ts"))).as[(Long, Long)].collect()
      assert(sentinel.toSeq == Seq((-1L, secs.max + 86400L)))
    } finally s.close()
  }

  test("id-sliced staging: id-range slices in order, an empty slice still staged, revision batch last, null id dropped") {
    // lo 10, hi 40, range 31: cuts at 17, 25, 33 (integer division)
    val ids = Seq(10L, 11L, 12L, 13L, 25L, 31L, 39L, 40L)
    val corpus = (ids.map(i => (Option(i), s"doc $i")) :+ ((Option.empty[Long], "orphan")))
      .toDF("doc_id", "text")
    val s = new StagedStream(spark, corpus, "doc_id", json = true)
    try {
      s.stage(0 until DataBatches, revision = Some(
        _.where(col("doc_id") % 10 === 0).withColumn("text", concat(col("text"), lit(" rev2")))))
      val files = stagedInOrder(s)
      assert(files.map(_.getFileName.toString) ==
        Seq("000.json", "001.json", "002.json", "003.json", "900.json"))
      val lines = files.map(f => Files.readAllLines(f).asScala.toSeq)
      assert(lines.take(DataBatches).map(_.size) == sliceSizes(ids, ids.max - ids.min + 1))
      assert(sliceSizes(ids, ids.max - ids.min + 1) == Seq(4, 0, 2, 2))
      assert(!lines.flatten.exists(_.contains("orphan")))
      assert(lines(DataBatches).sorted ==
        Seq("""{"doc_id":10,"text":"doc 10 rev2"}""", """{"doc_id":40,"text":"doc 40 rev2"}"""))
    } finally s.close()
  }
}
