package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** The persisted MinHash-LSH dedup index (Dedup.writeDedupIndex /
  * appendToDedupIndex / probeDedupIndex) — the dedup-side twin of the
  * persisted IVF index: equivalence to the from-scratch batch
  * pipeline, append-only file immutability, and degenerate inputs.
  */
class DedupIndexSpec extends SparkSpecBase {
  import spark.implicits._

  private def docs = spark.read.parquet(s"${sf()}/documents.parquet")
    .select(col("doc_id"), col("text"))

  /** (relative path -> (length, mtime)) of every parquet file under
    * `dir` — the byte-identity fingerprint the COW specs compare. */
  private def fileSnapshot(dir: String): Map[String, (Long, Long)] = {
    val root = java.nio.file.Paths.get(dir)
    val out = scala.collection.mutable.Map[String, (Long, Long)]()
    java.nio.file.Files.walk(root).forEach { pth =>
      val f = pth.toFile
      if (f.isFile && f.getName.endsWith(".parquet"))
        out(root.relativize(pth).toString) = (f.length(), f.lastModified())
    }
    out.toMap
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int, Int, Int)] =
    df.select(col("a"), col("b"), col("inter"), col("na"), col("nb"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getInt(4)))
      .toSet

  test("probeDedupIndex equals the from-scratch pipeline, store pairs excluded") {
    val dir = java.nio.file.Files.createTempDirectory("graft-didx").toString
    val store = docs.where(col("doc_id") % 3 =!= 0)
    // delta: re-arrivals of store docs (exact dups) plus docs the
    // store never saw — both under fresh ids
    val delta = docs.where(col("doc_id") % 3 === 0)
      .unionByName(docs.where(col("doc_id") % 7 === 1))
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    Dedup.writeDedupIndex(store, dir)
    val probe = pairSet(Dedup.probeDedupIndex(spark, dir, delta))
    // the batch pipeline over store ∪ delta finds the same pairs, plus
    // store-internal ones the probe correctly does not re-derive
    val full = pairSet(Dedup.minhashLshPairs(store.unionByName(delta))
      .where(col("a") >= 1000000L || col("b") >= 1000000L))
    assert(probe == full,
      s"probe-only: ${probe -- full}\nbatch-only: ${full -- probe}")
    assert(probe.nonEmpty) // the re-arrivals guarantee exact-dup pairs
    // the per-band key bounds must reach the store scan as pushed
    // filters (partition pruning on band + row-group stats on key) —
    // the property that keeps probe IO sub-index at 100 TB
    val plan = Dedup.probeDedupIndex(spark, dir, delta)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.replaceAll("\\s+", " ").matches("(?s).*PushedFilters: \\[[^\\]]*key[^\\]]*\\].*"),
      s"expected key bounds pushed into the bands scan:\n$plan")
  }

  test("appendToDedupIndex: pre-existing files byte-identical, probe equals full rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("graft-didx-app").toString
    val part1 = docs.where(col("doc_id") % 2 === 0)
    val part2 = docs.where(col("doc_id") % 2 === 1)
    val delta = docs.where(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    Dedup.writeDedupIndex(part1, dir)
    def snapshot(): Map[String, (Long, Long)] = {
      val root = java.nio.file.Paths.get(dir)
      val out = scala.collection.mutable.Map[String, (Long, Long)]()
      java.nio.file.Files.walk(root).forEach { p =>
        val f = p.toFile
        if (f.isFile && f.getName.endsWith(".parquet"))
          out(root.relativize(p).toString) = (f.length(), f.lastModified())
      }
      out.toMap
    }
    val before = snapshot()
    Dedup.appendToDedupIndex(spark, dir, part2)
    val after = snapshot()
    // append-only: every pre-existing file untouched, new files appeared
    before.foreach { case (path, sig) =>
      assert(after.get(path).contains(sig), s"pre-existing $path changed")
    }
    assert(after.size > before.size, "append added no files")
    // probing the appended index ≡ probing a from-scratch full index
    val rebuilt = java.nio.file.Files.createTempDirectory("graft-didx-rb").toString
    Dedup.writeDedupIndex(part1.unionByName(part2), rebuilt)
    assert(pairSet(Dedup.probeDedupIndex(spark, dir, delta)) ==
      pairSet(Dedup.probeDedupIndex(spark, rebuilt, delta)))
  }

  test("compactDedupIndex: small files merge, probe results identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft-didx-cmp").toString
    val delta = docs.where(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    Dedup.writeDedupIndex(docs.where(col("doc_id") % 4 === 0), dir)
    // three appends → each band partition accumulates extra files
    (1 to 3).foreach { m =>
      Dedup.appendToDedupIndex(spark, dir, docs.where(col("doc_id") % 4 === m))
    }
    def nFiles(): Int = {
      var n = 0
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).forEach { p =>
        if (p.toFile.isFile && p.toFile.getName.endsWith(".parquet")) n += 1
      }
      n
    }
    val before = pairSet(Dedup.probeDedupIndex(spark, dir, delta))
    val filesBefore = nFiles()
    Dedup.compactDedupIndex(spark, dir)
    assert(nFiles() < filesBefore, s"compaction did not reduce $filesBefore files")
    assert(pairSet(Dedup.probeDedupIndex(spark, dir, delta)) == before)
  }

  test("maybeCompactDedupIndex: listing-only trigger fires past the file cap, not before") {
    val dir = java.nio.file.Files.createTempDirectory("graft-didx-pol").toString
    val delta = docs.where(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    Dedup.writeDedupIndex(docs.where(col("doc_id") % 4 === 0), dir)
    def mtimes(): Map[String, Long] = {
      val out = scala.collection.mutable.Map[String, Long]()
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).forEach { p =>
        if (p.toFile.isFile && p.toFile.getName.endsWith(".parquet"))
          out(p.toString) = p.toFile.lastModified()
      }
      out.toMap
    }
    // one append: below the cap — the policy must NOT touch the store
    Dedup.appendToDedupIndex(spark, dir, docs.where(col("doc_id") % 4 === 1))
    val before = mtimes()
    assert(!Dedup.maybeCompactDedupIndex(spark, dir, maxFilesPerPartition = 8))
    assert(mtimes() == before, "no-fire compaction modified files")
    val probeBefore = pairSet(Dedup.probeDedupIndex(spark, dir, delta))
    // two more appends push a partition past the cap → fires, files
    // merge, probe results identical
    (2 to 3).foreach { m =>
      Dedup.appendToDedupIndex(spark, dir, docs.where(col("doc_id") % 4 === m))
    }
    assert(Dedup.maybeCompactDedupIndex(spark, dir, maxFilesPerPartition = 3))
    val probeAfter = pairSet(Dedup.probeDedupIndex(spark, dir, delta))
    // post-compaction the full index probes identically to pre-compaction
    // for the shared store subset… the full rebuild check: probe equals a
    // from-scratch index over the same four quarters
    val rebuilt = java.nio.file.Files.createTempDirectory("graft-didx-pol-rb").toString
    Dedup.writeDedupIndex(docs, rebuilt)
    assert(probeAfter == pairSet(Dedup.probeDedupIndex(spark, rebuilt, delta)))
    assert(probeBefore.subsetOf(probeAfter))
    // and a compacted store is back under the cap: the trigger re-arms
    assert(!Dedup.maybeCompactDedupIndex(spark, dir, maxFilesPerPartition = 8))
  }

  test("curateStream: cross-run admission, survivor-only index, restart resume") {
    import java.nio.file.{Files, Paths}
    val work = Files.createTempDirectory("graft-curate")
    val in = Files.createDirectory(work.resolve("in"))
    val idx = work.resolve("idx").toString
    val accept = work.resolve("accept").toString
    val ckpt = work.resolve("ckpt").toString
    // one parquet file per staged arrival (the file source's batch unit)
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-curate-stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, in.resolve(name)); ()
    }
    val a = (1 to 40).map(i => s"alpha$i").mkString(" ")
    val bT = (1 to 40).map(i => s"beta$i").mkString(" ")
    val cT = (1 to 40).map(i => s"gamma$i").mkString(" ")
    def run(): Unit = {
      val stream = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))))
        .option("maxFilesPerTrigger", 1).parquet(in.toString)
      graft.streaming.StreamingIngest.curateStream(stream, idx, accept, ckpt)
        .start().awaitTermination()
    }
    // run 1: within-batch dup drops (greater id), survivors seed the index
    stage(Seq((0L, a), (5L, a), (15L, bT)).toDF("doc_id", "text"), "001.parquet")
    run()
    def acceptedSet(): Set[(Long, Int)] =
      spark.read.parquet(accept)
        .select(col("doc_id"), col("batch").cast("int"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(acceptedSet() == Set((0L, 0), (15L, 0)))
    // run 2 (a RESTART against the same checkpoint — only the new file
    // processes): dups of batch-0 survivors drop against the PERSISTED
    // index, a blank doc admits without indexing, fresh content admits
    stage(Seq((22L, bT), (25L, " "), (33L, cT), (38L, a)).toDF("doc_id", "text"),
      "002.parquet")
    run()
    assert(acceptedSet() ==
      Set((0L, 0), (15L, 0), (25L, 1), (33L, 1)))
    // the index holds SURVIVORS only — dropped ids never indexed, the
    // blank admit never indexed (so a later near-dup of a REJECTED doc
    // would admit unless it also matches a survivor)
    val indexed = spark.read.parquet(s"$idx/signatures")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(indexed == Set(0L, 15L, 33L))
    Files.walk(work).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { Files.deleteIfExists(p); () })
  }

  test("curateStream: an index directory left by an interrupted seed write reads as no index") {
    import java.nio.file.Files
    val work = Files.createTempDirectory("graft-curate-tmp")
    val in = work.resolve("in").toString
    val idx = work.resolve("idx").toString
    val accept = work.resolve("accept").toString
    // an interrupted first index write: bands/ holds only the
    // committer's staging directory
    Files.createDirectories(work.resolve("idx/bands/_temporary/0"))
    val a = (1 to 40).map(i => s"alpha$i").mkString(" ")
    val bT = (1 to 40).map(i => s"beta$i").mkString(" ")
    Seq((0L, a), (5L, a), (15L, bT)).toDF("doc_id", "text").coalesce(1).write.parquet(in)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
      .parquet(in)
    graft.streaming.StreamingIngest.curateStream(stream, idx, accept, work.resolve("ckpt").toString)
      .start().awaitTermination()
    // the batch ran as the seed: its within-batch dup dropped, its
    // survivors accepted and indexed
    val accepted = spark.read.parquet(accept)
      .select(col("doc_id"), col("batch").cast("int")).as[(Long, Int)].collect().toSet
    assert(accepted == Set((0L, 0), (15L, 0)))
    assert(spark.read.parquet(s"$idx/signatures").select(col("doc_id")).as[Long]
      .collect().toSet == Set(0L, 15L))
    Files.walk(work).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { Files.deleteIfExists(p); () })
  }

  test("curateParity: id-range staging admits first-seen across batch boundaries") {
    // ids 0..38 slice at 9/19/29 → batches {0,5},{12,15},{22,25},{33,38}
    val a = (1 to 40).map(i => s"alpha$i").mkString(" ")
    val bT = (1 to 40).map(i => s"beta$i").mkString(" ")
    val cT = (1 to 40).map(i => s"gamma$i").mkString(" ")
    val corpus = Seq(
      (0L, a),    // batch 0 survivor
      (5L, a),    // within-batch dup of 0 → dropped
      (12L, a),   // batch 1: dup of the indexed survivor → dropped
      (15L, bT),  // batch 1 survivor
      (22L, bT),  // batch 2: dup of the batch-1 APPENDED survivor → dropped
      (25L, " "), // batch 2: blank — admitted, never indexed
      (33L, cT),  // batch 3 survivor
      (38L, a)    // batch 3: dup of the batch-0 survivor, three appends later
    ).toDF("doc_id", "text")
    val got = graft.streaming.StreamBatchParity.curateParity(spark, corpus)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == Set((0L, 0), (15L, 1), (25L, 2), (33L, 3)))
    // empty middle slices (the corpusWithDups id-gap shape): ids 0..39
    // put nothing in batches 1-2, and numbering still lands by range
    val gappy = Seq((0L, a), (5L, bT), (39L, a)).toDF("doc_id", "text")
    val got2 = graft.streaming.StreamBatchParity.curateParity(spark, gappy)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got2 == Set((0L, 0), (5L, 0)))
  }

  test("probeDedupIndex: blank-text and empty deltas degrade cleanly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-didx-edge").toString
    Dedup.writeDedupIndex(docs.limit(50), dir)
    val blank = Seq((9000001L, "   "), (9000002L, "")).toDF("doc_id", "text")
    assert(Dedup.probeDedupIndex(spark, dir, blank).isEmpty)
    val empty = docs.where(lit(false))
    val got = Dedup.probeDedupIndex(spark, dir, empty)
    assert(got.isEmpty)
    assert(got.columns.toSeq == Seq("a", "b", "inter", "na", "nb"))
  }

  test("probeDedupIndex: a warm probe runs five jobs — bounds ride the delta checkpoint, one candidate join") {
    val dir = java.nio.file.Files.createTempDirectory("graft-didx-jobs").toString
    val delta = docs.where(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    Dedup.writeDedupIndex(docs.where(col("doc_id") % 3 =!= 0), dir)
    def probe(): Unit = Dedup.probeDedupIndex(spark, dir, delta)
      .write.format("noop").mode("overwrite").save()
    probe() // cold run off the count
    // one job materializes the delta's index rows (and observes their
    // per-band key bounds); the candidate join and the verify take the
    // other four — no grouped-bounds jobs, no second candidate join
    val (_, jobs) = jobsOf(probe())
    assert(jobs == 5, s"warm probe ran $jobs jobs")
  }

  test("pinWithBounds: bounds cost no job and admit exactly each band's [min, max] keys") {
    val rows = Dedup.indexRows(docs.where(col("doc_id") % 4 === 0))
    val plainJobs = jobsOf(rows.localCheckpoint(true))._2
    val ((pinned, bounds), jobs) = jobsOf(Dedup.pinWithBounds(rows))
    assert(jobs == plainJobs, s"bounds added ${jobs - plainJobs} jobs")
    // reference: the grouped per-band min/max of the pinned rows' keys
    val ref = pinned.select(posexplode(col("bands")).as(Seq("band", "key")))
      .groupBy(col("band")).agg(min(col("key")), max(col("key")))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(ref.length == 4)
    val edges = ref.toSeq.flatMap { case (b, lo, hi) =>
      Seq((b, lo - 1, false), (b, lo, true), (b, hi, true), (b, hi + 1, false))
    } :+ ((4, ref.head._2, false)) // a band the rows do not have
    val admitted = edges.toDF("band", "key", "want").where(bounds.get)
      .select(col("band"), col("key")).as[(Int, Long)].collect().toSet
    assert(admitted == edges.filter(_._3).map(e => (e._1, e._2)).toSet)
    pinned.unpersist()
    // blank or empty rows have no bounds
    val blank = Seq((1L, "  "), (2L, "")).toDF("doc_id", "text")
    assert(Dedup.pinWithBounds(Dedup.indexRows(blank))._2.isEmpty)
    assert(Dedup.pinWithBounds(Dedup.indexRows(docs.where(lit(false))))._2.isEmpty)
  }

  test("curateParity: an all-blank batch against a live index admits without touching it") {
    // ids 0..38 slice at 9/19/29 → batches {0,5},{12,15},{22},{38}
    val a = (1 to 40).map(i => s"alpha$i").mkString(" ")
    val bT = (1 to 40).map(i => s"beta$i").mkString(" ")
    val cT = (1 to 40).map(i => s"gamma$i").mkString(" ")
    val corpus = Seq(
      (0L, a), (5L, bT), // batch 0 seeds the index
      (12L, " "), (15L, ""), // batch 1: no index rows, so no bounds — admitted, never indexed
      (22L, a), // batch 2: dup of the batch-0 survivor → dropped
      (38L, cT) // batch 3 survivor
    ).toDF("doc_id", "text")
    val got = graft.streaming.StreamBatchParity.curateParity(spark, corpus)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == Set((0L, 0), (5L, 0), (12L, 1), (15L, 1), (38L, 3)))
  }

  test("removeFromDedupIndex: probe-after-delete equals rebuild-without, untouched files byte-identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft-didx-del").toString
    val store = docs.where(col("doc_id") % 3 =!= 0)
    val victims = store.where(col("doc_id") % 5 === 1).select(col("doc_id"))
    val delta = docs.where(col("doc_id") % 3 === 0)
      .unionByName(docs.where(col("doc_id") % 5 === 1))
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    Dedup.writeDedupIndex(store, dir)
    // fragment the index first so deletion has untouched files to spare
    Dedup.appendToDedupIndex(spark, dir,
      docs.where(col("doc_id") % 3 === 2)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
    val beforeFiles = fileSnapshot(dir)
    val rewritten = Dedup.removeFromDedupIndex(spark, dir, victims)
    assert(rewritten > 0)
    val afterFiles = fileSnapshot(dir)
    // COW: every surviving pre-delete file is byte-identical; some
    // pre-delete files are gone (the rewritten ones)
    val surviving = beforeFiles.keySet.intersect(afterFiles.keySet)
    assert(surviving.nonEmpty, "delete rewrote every file — no COW")
    surviving.foreach { pth =>
      assert(afterFiles(pth) == beforeFiles(pth), s"untouched $pth changed")
    }
    assert((beforeFiles.keySet -- afterFiles.keySet).nonEmpty,
      "no victim file was removed")
    // semantics: probe(after delete) == probe(rebuild without victims)
    val rebuilt = java.nio.file.Files.createTempDirectory("graft-didx-del-rb").toString
    val keptStore = store.join(victims, Seq("doc_id"), "left_anti")
      .unionByName(docs.where(col("doc_id") % 3 === 2)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
    Dedup.writeDedupIndex(keptStore, rebuilt)
    assert(pairSet(Dedup.probeDedupIndex(spark, dir, delta)) ==
      pairSet(Dedup.probeDedupIndex(spark, rebuilt, delta)))
    // the store no longer signals against the deleted docs: a delta
    // re-arrival of a victim text must produce NO store pair with the
    // victim id
    val pairs = Dedup.probeDedupIndex(spark, dir, delta)
    val victimIds = victims.collect().map(_.getLong(0)).toSet
    val offenders = pairs.select(col("a"), col("b")).collect()
      .filter(r => victimIds(r.getLong(0)) || victimIds(r.getLong(1)))
    assert(offenders.isEmpty, s"deleted ids still pair: ${offenders.toSeq}")
  }

  test("removeFromDedupIndex: unknown ids and missing index are no-ops") {
    val dir = java.nio.file.Files.createTempDirectory("graft-didx-noop").toString
    assert(Dedup.removeFromDedupIndex(spark, s"$dir/never-built",
      Seq(1L).toDF("doc_id")) == 0)
    Dedup.writeDedupIndex(docs.limit(50), dir)
    val before = fileSnapshot(dir)
    assert(Dedup.removeFromDedupIndex(spark, dir,
      Seq(999999999L).toDF("doc_id")) == 0)
    val after = fileSnapshot(dir)
    assert(after == before, "a no-op delete mutated the index")
  }

  test("removeFromDedupIndex composes with curateStream: a retraction mid-stream unblocks re-admission") {
    import java.nio.file.Files
    val work = Files.createTempDirectory("graft-curate-del")
    val in = Files.createDirectory(work.resolve("in"))
    val idx = work.resolve("idx").toString
    val accept = work.resolve("accept").toString
    val ckpt = work.resolve("ckpt").toString
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-curate-del-stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, in.resolve(name)); ()
    }
    def run(): Unit = {
      val stream = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))))
        .option("maxFilesPerTrigger", 1).parquet(in.toString)
      graft.streaming.StreamingIngest.curateStream(stream, idx, accept, ckpt)
        .start().awaitTermination()
    }
    val a = (1 to 40).map(i => s"alpha$i").mkString(" ")
    val bT = (1 to 40).map(i => s"beta$i").mkString(" ")
    // batch 0: two survivors seed the index
    stage(Seq((1L, a), (2L, bT)).toDF("doc_id", "text"), "001.parquet")
    run()
    // right-to-be-forgotten: retract doc 1 from the index mid-stream
    assert(graft.operators.Dedup.removeFromDedupIndex(spark, idx,
      Seq(1L).toDF("doc_id")) > 0)
    // batch 1: a re-arrival of the RETRACTED text must now ADMIT (the
    // index no longer holds doc 1); a re-arrival of the kept text must
    // still DROP against survivor 2
    stage(Seq((10L, a), (11L, bT)).toDF("doc_id", "text"), "002.parquet")
    run()
    val accepted = spark.read.parquet(accept)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(accepted == Set(1L, 2L, 10L),
      s"retraction did not unblock re-admission: $accepted")
    // and the re-admitted doc took doc 1's place in the index
    val indexed = spark.read.parquet(s"$idx/signatures")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(indexed == Set(2L, 10L))
    Files.walk(work).sorted(java.util.Comparator.reverseOrder())
      .forEach(pth => { Files.deleteIfExists(pth); () })
  }
}
