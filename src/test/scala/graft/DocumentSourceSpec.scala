package graft

import graft.sources.DocumentSource
import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

/** Every directory reader keys a file the same way, so a corpus can move
  * between the text and the binary readers (batch or stream) on one
  * store without leaving each old record beside its new copy. */
class DocumentSourceSpec extends SparkSpecBase {

  private def corpus(): String = {
    val dir = Files.createTempDirectory("graft-docsource").toString
    Files.write(Path.of(dir, "a.md"), "# A\n\nalpha".getBytes("UTF-8"))
    Files.write(Path.of(dir, "b.md"), "# B\n\nbeta".getBytes("UTF-8"))
    dir
  }

  private def keys(df: DataFrame): Set[(Long, String)] =
    df.select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  private def streamed(df: DataFrame, name: String): Set[(Long, String)] = {
    val q = df.select("doc_id", "source").writeStream.format("memory")
      .queryName(name).outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    keys(spark.table(name))
  }

  test("readDir and readBinaryDir give one file the same doc_id and source") {
    val dir = corpus()
    val text = keys(DocumentSource.readDir(spark, dir))
    assert(text.size == 2)
    assert(text.forall(_._2.endsWith(".md")), text)
    assert(keys(DocumentSource.readBinaryDir(spark, dir, "*.md")) == text)
  }

  test("streamDir and streamBinaryDir give one file the same doc_id and source") {
    val dir = corpus()
    val text = streamed(DocumentSource.streamDir(spark, dir), "graft_docsource_text")
    assert(text.size == 2)
    assert(streamed(DocumentSource.streamBinaryDir(spark, dir, "*.md"),
      "graft_docsource_binary") == text)
    assert(text == keys(DocumentSource.readDir(spark, dir)))
  }
}
