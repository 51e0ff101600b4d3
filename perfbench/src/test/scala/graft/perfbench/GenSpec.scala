package graft.perfbench

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def digest(root: Path): Map[String, String] = {
    val s = Files.walk(root)
    try s.toArray.map(_.asInstanceOf[Path]).filter(Files.isRegularFile(_)).map { p =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      root.relativize(p).toString -> md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
    }.toMap
    finally s.close()
  }

  private def generated(seed: Long)(gen: Path => Unit): Map[String, String] = {
    val dir = Files.createTempDirectory("perfbench-gen")
    try { gen(dir); digest(dir) } finally Run.wipe(dir)
  }

  test("the same seed gives byte-identical ingest inputs") {
    // the edits' doc ids hash the bulk files' absolute paths, so both
    // generations write to the same directory
    val dir = Files.createTempDirectory("perfbench-ingest")
    try {
      Gen.ingestInputs(dir, 7, 30, 3, 6)
      val first = digest(dir)
      Run.wipe(dir)
      Gen.ingestInputs(dir, 7, 30, 3, 6)
      assert(digest(dir) == first)
      Run.wipe(dir)
      Gen.ingestInputs(dir, 8, 30, 3, 6)
      assert(digest(dir) != first)
    } finally Run.wipe(dir)
  }

  test("the same seed gives byte-identical curation and query inputs") {
    val a = generated(7)(d => Gen.curateInputs(d, 7, 60, 120))
    assert(a.size == Gen.CurateShards + 2)
    assert(generated(7)(d => Gen.curateInputs(d, 7, 60, 120)) == a)
    assert(generated(8)(d => Gen.curateInputs(d, 8, 60, 120)) != a)
    assert(Gen.queries(7, 5) == Gen.queries(7, 5))
  }

  test("every seed's bulk corpus has the same document sizes, in its own order") {
    assert(Gen.corpusSizes(1, 50).sorted == Gen.corpusSizes(2, 50).sorted)
    assert(Gen.corpusSizes(1, 50) != Gen.corpusSizes(2, 50))
    assert(Gen.corpusSizes(1, 50) == Gen.corpusSizes(1, 50))
  }

  test("an edit carries the doc id graft's file reader gives the bulk file") {
    val dir = Files.createTempDirectory("perfbench-ids")
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val in = Gen.ingestInputs(dir, 4, 5, 1, 2)
      val read = graft.sources.DocumentSource.readDir(spark, in.bulkDir.toString)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(read == in.bulkIds.toSet)
    } finally { spark.stop(); Run.wipe(dir) }
  }

  test("upserts mix new documents with edits that grow or shrink a bulk document") {
    val dir = Files.createTempDirectory("perfbench-ingest")
    try {
      val in = Gen.ingestInputs(dir, 3, 40, 4, 10)
      in.batches.foreach { b =>
        assert(b.count(_.isEdit) == 5)
        assert(b.filter(_.isEdit).map(_.docId).distinct.size == 5)
        b.filter(_.isEdit).foreach(u => assert(in.bulkIds.contains(u.docId)))
      }
      val sizes = in.bulkIds.zip(in.bulkTexts.map(_.length)).toMap
      val edits = in.batches.flatten.filter(u => u.isEdit && u.rev == 1)
      assert(edits.exists(u => u.text.length > sizes(u.docId)))
      assert(edits.exists(u => u.text.length < sizes(u.docId)))
    } finally Run.wipe(dir)
  }

  test("injected near-duplicates lie in the Jaccard band, and the truth counts every injection") {
    val dir = Files.createTempDirectory("perfbench-curate")
    try {
      val in = Gen.curateInputs(dir, 5, 200, 300)
      val near = in.nearDups.filter(_.jaccard < 1.0)
      assert(near.nonEmpty)
      near.foreach(p => assert(p.jaccard >= 0.85 && p.jaccard <= 0.95))
      assert(in.nearDups.count(_.jaccard == 1.0) == in.exactCopies)
      assert(Seq(in.exactCopies, in.contaminated, in.nonEnglish, in.lowQuality, in.excerpts).forall(_ == 10))
      assert(Files.readString(dir.resolve("truth.json")).contains("\"contaminated\":10"))
    } finally Run.wipe(dir)
  }
}
