package graft

import graft.operators.Processors
import graft.pipeline.IngestionPipeline
import graft.sinks.VectorStoreWriter
import graft.streaming.StreamingIngest
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Pipeline composition + vector-store writer, mirroring the reference's
  * IngestionPipelineTests: reader → processors → chunker → enrichers →
  * writer, incremental re-ingestion replaces a document's records.
  */
class PipelineSpec extends SparkSpecBase {
  import spark.implicits._

  private val docs = Seq(
    (1L, "# Title\n\ngood content here\n\n## Sub\n\nmore good text"),
    (2L, "plain document with bad and broken words")
  ).toDF("doc_id", "text")

  test("canonical pipeline: chunks carry summary + sentiment") {
    val out = IngestionPipeline.canonical.chunks(spark, docs)
    val rows = out.orderBy("doc_id", "chunk_id").collect()
    assert(rows.nonEmpty)
    assert(out.columns.contains("summary") && out.columns.contains("sentiment"))
    val d2 = rows.filter(_.getAs[Long]("doc_id") == 2L)
    assert(d2.forall(_.getAs[String]("sentiment") == "Negative"))
  }

  test("document processors run before the chunker") {
    val p = IngestionPipeline()
      .withDocumentProcessor(df => df.where(col("doc_id") === 1L))
    val rows = p.chunks(spark, docs).select("doc_id").as[Long].collect()
    assert(rows.nonEmpty && rows.forall(_ == 1L))
  }

  test("toVectorRecords: schema, deterministic keys, unit-norm embeddings") {
    val chunks = Seq((1L, 0, "hello world", "ctx")).toDF("doc_id", "chunk_id", "content", "context")
    val rec = VectorStoreWriter.toVectorRecords(chunks, dim = 16).head()
    assert(rec.getAs[String]("key") == "1:0")
    assert(rec.getAs[String]("documentid") == "1")
    val emb = rec.getSeq[Float](rec.fieldIndex("embedding"))
    assert(emb.length == 16)
    assert(math.abs(emb.map(v => v.toDouble * v).sum - 1.0) < 1e-6)
  }

  test("toVectorRecords carries enricher metadata columns through") {
    val chunks = Seq((1L, 0, "good text", "ctx", "a summary", "Positive"))
      .toDF("doc_id", "chunk_id", "content", "context", "summary", "sentiment")
    val rec = VectorStoreWriter.toVectorRecords(chunks, dim = 16,
      metadataCols = Seq("summary", "sentiment")).head()
    assert(rec.getAs[String]("summary") == "a summary")
    assert(rec.getAs[String]("sentiment") == "Positive")
  }

  test("document quality/language gates filter before chunking") {
    val docs = Seq(
      (1L, (1 to 30).map(_ => "the good and of words").mkString(" ")),
      (2L, "@@@@ ####"),
      (3L, "der die das und ist nicht ein zu ".repeat(10))
    ).toDF("doc_id", "text")
    val q = Processors.filterByQuality(docs, minScore = 60).select("doc_id").as[Long].collect()
    assert(q.contains(1L) && !q.contains(2L))
    val en = Processors.filterByLanguage(docs, Seq("en")).select("doc_id").as[Long].collect()
    assert(en.toSeq == Seq(1L))
  }

  test("incremental write: re-ingesting a document replaces its records") {
    val dir = Files.createTempDirectory("graft-vsw").toString
    val batch1 = Seq((1L, 0, "v1 content", ""), (2L, 0, "other doc", ""))
      .toDF("doc_id", "chunk_id", "content", "context")
    VectorStoreWriter.writeWithLayout(VectorStoreWriter.toVectorRecords(batch1, 16), dir)
    // re-ingest doc 1 with different content (its records are
    // replaced; doc 2's survive, shared bucket or not)
    val batch2 = Seq((1L, 0, "v2 content", ""))
      .toDF("doc_id", "chunk_id", "content", "context")
    VectorStoreWriter.writeWithLayout(VectorStoreWriter.toVectorRecords(batch2, 16), dir)
    val after = spark.read.parquet(dir)
    val contents = after.select("documentid", "content").as[(String, String)].collect().toMap
    assert(contents("1") == "v2 content")
    assert(contents("2") == "other doc")
  }

  /** Pin a new store at `dir` to a one-bucket layout. */
  private def oneBucketLayout(dir: String): Unit = {
    Files.writeString(java.nio.file.Paths.get(dir, "_layout.json"), """{"numBuckets":1}""")
    ()
  }

  test("incremental write preserves other docs in the SAME bucket (regression)") {
    val dir = Files.createTempDirectory("graft-vsw-bucket").toString
    def recs(rows: (Long, Int, String, String)*) =
      VectorStoreWriter.toVectorRecords(
        rows.toSeq.toDF("doc_id", "chunk_id", "content", "context"), 16)
    // a one-bucket layout forces every document into one bucket
    oneBucketLayout(dir)
    VectorStoreWriter.writeWithLayout(
      recs((1L, 0, "doc one v1", ""), (2L, 0, "doc two", "")), dir)
    VectorStoreWriter.writeWithLayout(recs((1L, 0, "doc one v2", "")), dir)
    val contents = spark.read.parquet(dir)
      .select("documentid", "content").as[(String, String)].collect().toMap
    assert(contents("1") == "doc one v2")
    assert(contents("2") == "doc two") // survived the shared-bucket rewrite
  }

  test("writeWithLayout: bucket count chosen at creation, persisted, and honored by appends") {
    val dir = Files.createTempDirectory("graft-vsw-layout").toString
    def recs(rows: (Long, Int, String, String)*) =
      VectorStoreWriter.toVectorRecords(
        rows.toSeq.toDF("doc_id", "chunk_id", "content", "context"), 16)
    // the sizing policy itself: floor, target-row scaling, power of 2, cap
    assert(VectorStoreWriter.chooseNumBuckets(0L) == VectorStoreWriter.MinBuckets)
    assert(VectorStoreWriter.chooseNumBuckets(1000L) == VectorStoreWriter.MinBuckets)
    assert(VectorStoreWriter.chooseNumBuckets(
      VectorStoreWriter.TargetRowsPerBucket * 20) == 32) // 20 → next pow2
    assert(VectorStoreWriter.chooseNumBuckets(Long.MaxValue / 4)
      == VectorStoreWriter.MaxBuckets)
    // seed write records the layout...
    VectorStoreWriter.writeWithLayout(
      recs((1L, 0, "doc one v1", ""), (2L, 0, "doc two", "")), dir)
    val layout = new String(Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_layout.json")), "UTF-8")
    assert(layout == s"""{"numBuckets":${VectorStoreWriter.MinBuckets}}""")
    // ...and the replace-by-documentid contract holds across later
    // writes (same modulus → the old records are found and replaced)
    VectorStoreWriter.writeWithLayout(recs((1L, 0, "doc one v2", "")), dir)
    val contents = spark.read.parquet(dir)
      .select("documentid", "content").as[(String, String)].collect().toMap
    assert(contents == Map("1" -> "doc one v2", "2" -> "doc two"))
    // bucket-directory cardinality is the recorded layout's
    val bucketDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("doc_bucket="))
    assert(bucketDirs.length <= VectorStoreWriter.MinBuckets)
  }

  test("incremental write: a mid-write failure leaves the store intact (crash safety)") {
    // the reference deletes stale keys only AFTER inserting new chunks
    // (VectorStoreWriter.cs:70-80) to avoid a delete-then-fail window;
    // graft's copy-on-write union must be at least as safe: a batch
    // that fails during evaluation (poison row) must not clobber any
    // bucket, because dynamic partition overwrite only swaps files at
    // job commit and survivors are localCheckpointed before the write
    val dir = Files.createTempDirectory("graft-vsw-crash").toString
    def recs(rows: (Long, Int, String, String)*) =
      VectorStoreWriter.toVectorRecords(
        rows.toSeq.toDF("doc_id", "chunk_id", "content", "context"), 16)
    oneBucketLayout(dir)
    VectorStoreWriter.writeWithLayout(
      recs((1L, 0, "doc one v1", ""), (2L, 0, "doc two", "")), dir)
    val poison = recs((1L, 0, "doc one v2", ""))
      .withColumn("content",
        when(col("key") === "1:0", raise_error(lit("simulated mid-write crash")))
          .otherwise(col("content")))
    intercept[Exception] {
      VectorStoreWriter.writeWithLayout(poison, dir)
    }
    val contents = spark.read.parquet(dir)
      .select("documentid", "content").as[(String, String)].collect().toMap
    assert(contents == Map("1" -> "doc one v1", "2" -> "doc two"))
  }

  test("incremental write: replaces buckets without touching the session's partitionOverwriteMode") {
    // the session conf is shared by every thread on the session: a
    // static rebuild running beside the upsert must keep seeing the
    // caller's value, so the UDF reads it from inside the write's tasks
    val key = "spark.sql.sources.partitionOverwriteMode"
    val dir = Files.createTempDirectory("graft-vsw-conf").toString
    def recs(rows: (Long, Int, String, String)*) =
      VectorStoreWriter.toVectorRecords(
        rows.toSeq.toDF("doc_id", "chunk_id", "content", "context"), 16)
    oneBucketLayout(dir)
    VectorStoreWriter.writeWithLayout(
      recs((1L, 0, "doc one v1", ""), (2L, 0, "doc two", "")), dir)
    val callerValue = spark.conf.get(key)
    OverwriteModeProbe.session = spark
    OverwriteModeProbe.seen.clear()
    val probe = udf { (s: String) =>
      OverwriteModeProbe.seen.add(OverwriteModeProbe.session.conf.get(key))
      s
    }
    VectorStoreWriter.writeWithLayout(
      recs((1L, 0, "doc one v2", "")).withColumn("content", probe(col("content"))), dir)
    val seen = OverwriteModeProbe.seen.toArray.toSet
    assert(seen == Set(callerValue), s"tasks saw $seen, the caller set $callerValue")
    assert(spark.conf.get(key) == callerValue)
    // ...and the upsert still replaced only document 1
    val contents = spark.read.parquet(dir)
      .select("documentid", "content").as[(String, String)].collect().toMap
    assert(contents == Map("1" -> "doc one v2", "2" -> "doc two"))
  }

  test("runWith: custom terminal writer receives the composed chunk plan (reference QAWriter shape)") {
    val dir = Files.createTempDirectory("graft-custom-writer").toString
    // a QAWriter-style custom sink: derive new records per chunk (here a
    // deterministic "question" per chunk) and write its own collection
    IngestionPipeline.canonical.runWith(spark, docs, { chunked =>
      chunked.select(
        col("doc_id"), col("chunk_id"),
        concat(lit("What is '"), substring(col("content"), 1, 12), lit("' about?")).as("question"),
        col("summary")
      ).write.mode("overwrite").parquet(dir)
    })
    val got = spark.read.parquet(dir)
    assert(got.count() > 0)
    assert(got.columns.toSet == Set("doc_id", "chunk_id", "question", "summary"))
    assert(got.where(col("question").startsWith("What is '")).count() == got.count())
  }

  test("pipeline run carries enricher metadata into the store") {
    val dir = Files.createTempDirectory("graft-e2e-meta").toString
    IngestionPipeline.canonical.run(spark, docs, dir, dim = 16)
    val out = spark.read.parquet(dir)
    assert(out.columns.contains("summary") && out.columns.contains("sentiment"))
  }

  test("pipeline run end-to-end writes vector records") {
    val dir = Files.createTempDirectory("graft-e2e").toString
    IngestionPipeline.canonical.run(spark, docs, dir, dim = 16)
    val out = spark.read.parquet(dir)
    assert(out.count() > 0)
    assert(out.columns.toSet.contains("embedding"))
  }

  test("pipeline run then streaming upsert: one bucket layout, no stale records") {
    // run and incrementalWriter write through the same persisted
    // layout, so the upsert finds and replaces every seeded record
    val dir = Files.createTempDirectory("graft-run-upsert").toString
    val in = Files.createTempDirectory("graft-run-upsert-in")
    val ckpt = Files.createTempDirectory("graft-run-upsert-ckpt").toString
    val ids = 1L to 40L
    IngestionPipeline.canonical.run(spark,
      ids.map(i => (i, s"# Doc $i\n\nfirst version of document $i")).toDF("doc_id", "text"),
      dir)
    Files.writeString(in.resolve("revised.json"), ids.map(i =>
      s"""{"doc_id":$i,"text":"# Doc $i\\n\\nsecond version of document $i","lang":"en","source":"t"}"""
    ).mkString("\n"))
    StreamingIngest.incrementalWriter(StreamingIngest.chunkStream(spark, in.toString),
      dir, ckpt).start().awaitTermination()
    val store = spark.read.parquet(dir)
    assert(store.select("key").distinct().count() == store.count())
    assert(store.select("documentid").distinct().count() == ids.size)
    assert(store.where(col("content").contains("first version")).isEmpty)
    assert(store.where(col("content").contains("second version")).count() == ids.size)
  }

  // ------------------------------------------------- observability
  test("observedChunks reports exact per-stage row counts with zero extra jobs") {
    val three = Seq(
      (1L, "alpha beta gamma"),
      (2L, ""), // dropped by the document processor
      (3L, (1 to 120).map(i => s"w$i").mkString(" ")) // 2 chunks at maxTokens=64
    ).toDF("doc_id", "text")
    val pipeline = IngestionPipeline()
      .withDocumentProcessor(df => df.where(length(col("text")) > 0))
      .withChunker((s, d) => graft.operators.Chunkers.headerChunks(s, d,
        graft.operators.ChunkerOptions(maxTokens = 64, overlap = 0)).toDF())
      .withChunkProcessor(df => Processors.withSummary(df))
    val (out, metrics) = pipeline.observedChunks(spark, three)
    out.write.format("noop").mode("overwrite").save() // ONE terminal action
    val counts = metrics.rowCounts
    assert(counts("reader") == 3)
    assert(counts("documentProcessor[0]") == 2)
    assert(counts("chunker") == 3) // doc1 → 1 chunk, doc3 → 2 chunks
    assert(counts("chunkProcessor[0]") == 3)
  }

  test("runObserved returns metrics materialized by the writer's action") {
    val dir = Files.createTempDirectory("graft-observed").toString
    val metrics = IngestionPipeline.canonical.runObserved(spark, docs,
      _.write.mode("overwrite").parquet(dir))
    val counts = metrics.rowCounts
    assert(counts("reader") == 2)
    assert(counts("chunker") >= 2)
    assert(counts("chunkProcessor[0]") == counts("chunker")) // enrichers are 1:1
    assert(counts("chunkProcessor[1]") == counts("chunker"))
    assert(spark.read.parquet(dir).count() == counts("chunkProcessor[1]"))
  }

  // --------------------------------------------- writer options
  test("VectorStoreWriterOptions: collection sub-path, validation, incremental knob") {
    import graft.sinks.VectorStoreWriterOptions
    val root = Files.createTempDirectory("graft-collections").toString
    val records = VectorStoreWriter.toVectorRecords(
      IngestionPipeline.canonical.chunks(spark, docs), dim = 16)
    VectorStoreWriter.write(records, root, VectorStoreWriterOptions()) // default "chunks"
    VectorStoreWriter.write(records, root,
      VectorStoreWriterOptions(collectionName = "faq", incrementalIngestion = false))
    assert(spark.read.parquet(s"$root/chunks").count() == records.count())
    assert(spark.read.parquet(s"$root/faq").count() == records.count())
    // reference VectorStoreWriterOptions.cs:18 throws on empty name
    intercept[IllegalArgumentException](VectorStoreWriterOptions(collectionName = ""))
    intercept[IllegalArgumentException](VectorStoreWriterOptions(distanceFunction = "hamming"))
    // incremental re-ingest into a named collection replaces records
    val v2 = records.withColumn("content", lit("v2"))
    VectorStoreWriter.write(v2, root, VectorStoreWriterOptions(collectionName = "faq"))
    val faq = spark.read.parquet(s"$root/faq")
    assert(faq.count() == records.count())
    assert(faq.where(col("content") === "v2").count() == records.count())
  }

  test("distanceFunction drives search scoring (cosine / dot / euclidean)") {
    import graft.operators.Similarity
    val records = Seq(
      ("1:0", Array(1.0f, 0.0f), "a", "", "1"),
      ("2:0", Array(10.0f, 0.0f), "b", "", "2"),
      ("3:0", Array(0.0f, 1.0f), "c", "", "3")
    ).toDF("key", "embedding", "content", "context", "documentid")
    val q = Array(1.0f, 0.0f)
    def top(fn: String) =
      Similarity.semanticSearch(records, q, k = 3, distanceFunction = fn)
        .select("key").as[String].collect().toSeq
    // cosine: direction only → 1:0 and 2:0 tie at 1.0 (key tiebreak)
    assert(top(VectorStoreWriter.Cosine).take(2) == Seq("1:0", "2:0"))
    // dot: magnitude wins → 2:0 first
    assert(top(VectorStoreWriter.Dot).head == "2:0")
    // euclidean (higher-is-closer orientation): exact match wins
    assert(top(VectorStoreWriter.Euclidean).head == "1:0")
    intercept[IllegalArgumentException](
      VectorStoreWriter.distance("hamming", col("embedding"), col("embedding")))
  }
}

/** The driver session, for a UDF that reads the session conf from inside
  * a task: local mode runs tasks in the driver's JVM. */
private object OverwriteModeProbe {
  @volatile var session: org.apache.spark.sql.SparkSession = _
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
