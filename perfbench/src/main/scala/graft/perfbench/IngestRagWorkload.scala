package graft.perfbench

import graft.functions.VectorFunctions
import graft.operators.Similarity
import graft.pipeline.IngestionPipeline
import graft.sinks.VectorStoreWriter
import graft.sources.DocumentSource
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable.ArrayBuffer

/** `ingest_rag`: the write path and the read path, in rounds.
  *
  * Set-up generates the inputs, bulk-loads the corpus into the query
  * store and builds an IVF index over it. Each measured round then runs,
  * one call after another from a single client thread:
  *  1. Bulk: the markdown corpus loaded into a fresh store.
  *  2. Upsert: one JSONL batch, half new documents and half edits,
  *     drained by the streaming writer into the first round's store.
  *  3. Query: one client waiting on each top-10 query against the query
  *     store, rotating whole-store `semanticSearch`, `semanticSearch`
  *     restricted to one document, and `probeIvfIndex`.
  *
  * Rounds repeat while the window allows, so the samples of every
  * metric spread over the whole window and a slow spell of the host
  * touches all of them alike instead of one phase. Nothing runs
  * concurrently: the query calls see idle ingestion layers and are
  * bound by per-job and per-file overheads. */
final class IngestRagWorkload extends Workload {
  // 400 documents (~1.5 MB of markdown, ~2k records) keep a warm bulk
  // load near 1.3 s on 4 cores; 20 documents per batch keep a drain near
  // 1.5 s; nine queries take about 1.5 s. A round is then about 4.5 s,
  // so a 25 s window holds five rounds. More batches are generated than
  // any run drains.
  val NBulk = 400
  val NBatches = 16
  val BatchDocs = 20
  val MinRounds = 3
  val QueriesPerRound = 9
  // 16 lists: hash embeddings of random text have no cluster structure,
  // so IVF recall is low unless half the lists are probed; 8 of 16 keeps
  // recall high enough to be steady from seed to seed.
  val NQueries = 120
  val K = 10
  val NLists = 16
  val NProbe = 8
  val Kinds = Seq("brute", "filtered", "ivf")

  private var in: Gen.IngestInputs = _
  private var queryVecs: IndexedSeq[Array[Float]] = _
  private def dir(run: Run) = run.work.resolve("ingest_rag")
  private def store(run: Run, i: Int) = dir(run).resolve(s"store_$i")
  private def ragStore(run: Run) = dir(run).resolve("rag_store")
  private def ivf(run: Run) = dir(run).resolve("ivf").toString

  private val bulkTimes = ArrayBuffer.empty[Double]
  /** (seconds, traced) of each drained batch */
  private val upsertTimes = ArrayBuffer.empty[(Double, Boolean)]
  private var rounds = 0
  private var ivfBuildS = 0.0
  private var records: DataFrame = _
  private var filterDocs: IndexedSeq[String] = _
  /** (kind, query, latency s, traced, result keys or vec ids, files, rows) */
  private val samples = ArrayBuffer.empty[(String, Int, Double, Boolean, Seq[String], Long, Long)]
  private var storeRows = 0L
  private var upsertStoreRows = 0L
  private var ivfRecall = 0.0
  private var prefixS = Map.empty[String, Double]

  /** Inputs, the embedded query set, and the store and IVF index the
    * queries read. */
  def setup(run: Run): Unit = {
    Run.wipe(dir(run))
    in = Gen.ingestInputs(dir(run), run.seed, NBulk, NBatches, BatchDocs)
    import run.spark.implicits._
    queryVecs = Gen.queries(run.seed, NQueries).toDF("text")
      .select(VectorFunctions.hashEmbed(col("text"), 64)).collect()
      .map(_.getSeq[Float](0).toArray).toIndexedSeq
    Ingestion.bulk(run.spark, in.bulkDir, ragStore(run))
    ivfBuildS = Run.timed(buildIvf(run, ragStore(run), ivf(run)))._2
  }

  /** A quarter of the corpus bulk-loaded and one batch drained into a
    * scratch store, and two queries of each kind. */
  def warmUp(run: Run): Unit = {
    val warm = dir(run).resolve("warm")
    val warmStore = warm.resolve("store")
    Ingestion.bulk(run.spark, in.bulkDir, warmStore, "doc_000*.md")
    Files.createDirectories(warm.resolve("in"))
    Files.copy(in.batchFiles.head, warm.resolve("in").resolve("batch.json"))
    Ingestion.drain(run.spark, warm.resolve("in"), warmStore, warm.resolve("ckpt"))
    val handle = run.spark.read.parquet(ragStore(run).toString)
    val doc = in.bulkIds.head.toString
    for (kind <- Kinds; q <- 0 until 2) query(run, handle, kind, q, doc).collect()
  }

  private def buildIvf(run: Run, from: Path, to: String): Unit =
    Similarity.writeIvfIndex(run.spark.read.parquet(from.toString)
      .select(xxhash64(col("key")).as("vec_id"), col("embedding")), to, NLists)

  private def query(run: Run, records: DataFrame, kind: String, q: Int, doc: String): DataFrame =
    kind match {
      case "brute" => Similarity.semanticSearch(records, queryVecs(q), K)
      case "filtered" => Similarity.semanticSearch(records, queryVecs(q), K, documentIdFilter = Some(doc))
      case "ivf" => Similarity.probeIvfIndex(run.spark, ivf(run), queryVecs(q), K, NProbe)
    }

  def measure(run: Run): Unit = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val inDir = dir(run).resolve("stream_in")
    Files.createDirectories(inDir)
    // one store handle for the query loop, as a RAG backend holds it
    records = run.spark.read.parquet(ragStore(run).toString)
    val r = new SplittableRandom(run.seed * 13 + 1)
    filterDocs = (0 until NQueries).map(_ => in.bulkIds(r.nextInt(NBulk)).toString)
    val order = Array.tabulate(NQueries)(identity)
    Gen.shuffle(r, order)
    var n = 0
    // another round only if it is expected to end inside the window
    while (rounds < MinRounds || (rounds < NBatches && elapsed * (rounds + 1) / rounds <= run.seconds)) {
      val traced = run.tracer.isDefined && rounds % 2 == 1
      run.tracing = traced
      run.probeHost()
      val (bulk, tb) = Run.timed(run.op(s"bulk load $rounds")(
        run.span("ingest.bulk")(Ingestion.bulk(run.spark, in.bulkDir, store(run, rounds)))))
      if (bulk.isDefined) bulkTimes += tb
      val b = rounds
      val (up, tu) = Run.timed(run.op(s"upsert batch $b")(run.span("ingest.upsert") {
        Files.copy(in.batchFiles(b), inDir.resolve(in.batchFiles(b).getFileName))
        Ingestion.drain(run.spark, inDir, store(run, 0), dir(run).resolve("ckpt"))
      }))
      if (up.isDefined) upsertTimes += ((tu, traced))
      (0 until QueriesPerRound).foreach { _ =>
        val kind = Kinds(n % 3)
        val q = order((n / 3) % NQueries)
        val (res, t) = Run.timed(run.op(s"$kind query $q")(run.span(s"rag.$kind") {
          val df = query(run, records, kind, q, filterDocs(q))
          val rows = df.collect()
          val keys = if (kind == "ivf") rows.map(_.getAs[Long]("vec_id").toString).toSeq
            else rows.map(_.getAs[String]("key")).toSeq
          (keys, df)
        }))
        res.foreach { case (keys, df) =>
          val (files, scanned) = if (traced) ScanStats.of(df) else (0L, 0L)
          samples += ((kind, q, t, traced, keys, files, scanned))
        }
        n += 1
      }
      rounds += 1
    }
    run.tracing = run.tracer.isDefined
  }

  /** Exact cosine ranking of `records` against a query, best first,
    * ties by key (the order graft's search uses). */
  private def ranking(records: Seq[(String, String, Array[Float])], q: Array[Float],
                      depth: Int): Seq[(String, Double)] = {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { val x = a(i).toDouble; val y = b(i).toDouble; d += x * y; na += x * x; nb += y * y; i += 1 }
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den == 0.0) 0.0 else d / den
    }
    records.map(rec => (rec._1, cos(rec._3, q))).sortBy { case (k, s) => (-s, k) }.take(depth)
  }

  def check(run: Run): Unit = {
    val spark = run.spark
    val bulkDocs = in.bulkIds.zip(in.bulkTexts)
    run.check("bulk store integrity") {
      Checks.storeIntegrity(Ingestion.storeRows(spark, store(run, 1)), in.bulkIds.map(_.toString).toSet,
        Map.empty, Ingestion.chunkCount(spark, bulkDocs))
    }
    val finalDocs = scala.collection.mutable.LinkedHashMap(bulkDocs: _*)
    val latestRev = scala.collection.mutable.HashMap.empty[String, Int]
    in.batches.take(rounds).foreach(_.foreach { u =>
      finalDocs(u.docId) = u.text
      if (u.isEdit) latestRev(u.docId.toString) = u.rev
    })
    run.check("store integrity after upserts") {
      val rows = Ingestion.storeRows(spark, store(run, 0))
      upsertStoreRows = rows.size
      Checks.storeIntegrity(rows, finalDocs.keys.map(_.toString).toSet, latestRev.toMap, Ingestion.chunkCount(spark, finalDocs.toSeq))
    }

    // exact rankings, computed on the driver from the collected records
    val recs = records.select(col("key"), col("documentid"), col("embedding")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getSeq[Float](2).toArray)).toSeq
    storeRows = recs.size
    val byDoc = recs.groupBy(_._2)
    val exact = (0 until NQueries).map(q => ranking(recs, queryVecs(q), K + 20))
    val truth = new StringBuilder(s"""{"store_records":${recs.size},"exact_top10":[""")
    truth ++= exact.zipWithIndex.map { case (rk, q) =>
      s"""{"query":$q,"keys":[${rk.take(K).map(k => "\"" + k._1 + "\"").mkString(",")}]}"""
    }.mkString(",")
    truth ++= "]}\n"
    Gen.write(dir(run).resolve("truth_queries.json"), truth.toString)
    // recall over every query of the set, from one batched probe of the
    // measured index, so it does not depend on how many queries the
    // window held; each measured probe must return the batch's rows
    val probed = Similarity.probeIvfIndexBatch(run.spark, ivf(run),
        queryVecs.indices.map(q => (q.toLong, queryVecs(q))), K, NProbe)
      .collect().groupBy(_.getLong(0)).map { case (q, rs) => q.toInt -> rs.map(_.getLong(1).toString).toSet }
    samples.foreach { case (kind, q, _, _, keys, _, _) =>
      kind match {
        case "brute" => run.check(s"brute query $q")(Checks.topK(keys, exact(q), K))
        case "filtered" =>
          val doc = byDoc.getOrElse(filterDocs(q), Nil)
          run.check(s"filtered query $q")(Checks.topK(keys, ranking(doc, queryVecs(q), doc.size), K))
        case "ivf" =>
          run.check(s"IVF query $q")(
            if (keys.toSet == probed.getOrElse(q, Set.empty)) Nil else Seq("differs from the batched probe"))
      }
    }
    ivfRecall = Stats.mean(queryVecs.indices.map { q =>
      val want = exact(q).take(K).map(k => XXH64.hashUTF8String(UTF8String.fromString(k._1), 42L).toString).toSet
      probed.getOrElse(q, Set.empty).count(want).toDouble / K
    })

    val lat = samples.map(_._3 * 1000).toSeq
    run.named ++= Seq(
      "ingest_docs_per_s" -> (NBulk / Stats.median(bulkTimes.toSeq), "docs/s"),
      "upsert_p50_s" -> (Stats.median(upsertTimes.map(_._1).toSeq), "s"),
      "upsert_docs_per_s" -> (upsertTimes.size * BatchDocs / upsertTimes.map(_._1).sum, "docs/s"),
      "query_p50_ms" -> (Stats.quantile(lat, 0.5), "ms"),
      "query_p90_ms" -> (Stats.quantile(lat, 0.9), "ms"),
      "queries_per_s" -> (samples.size / samples.map(_._3).sum, "1/s"),
      "ivf_recall_at_10" -> (ivfRecall, "ratio"),
      "rounds" -> (rounds.toDouble, "count"),
      "queries" -> (samples.size.toDouble, "count"))
    if (run.tracer.isDefined) prefixS = prefixPipelines(run)
  }

  /** Prefix pipelines over the bulk corpus, each forced by a noop sink
    * (the last writes a fresh store): reader, +chunker, +enrichers,
    * +embedding, +writer. The stages fuse into one pass, so a layer's
    * self time is the difference between consecutive prefixes. */
  private def prefixPipelines(run: Run): Map[String, Double] = {
    val spark = run.spark
    def docs = DocumentSource.readDir(spark, in.bulkDir.toString)
    def enriched = IngestionPipeline.canonical.chunks(spark, docs)
    val prefixes: Seq[(String, () => Unit)] = Seq(
      "reader" -> (() => Run.force(docs)),
      "chunker" -> (() => Run.force(IngestionPipeline().chunks(spark, docs))),
      "enrichers" -> (() => Run.force(enriched)),
      "embed" -> (() => {
        val e = enriched
        Run.force(VectorStoreWriter.toVectorRecords(e, metadataCols = IngestionPipeline.metadataColumns(e)))
      }),
      "write" -> (() => Ingestion.bulk(spark, in.bulkDir, dir(run).resolve(s"prefix_store_${System.nanoTime()}"))))
    prefixes.map { case (name, body) =>
      val times = (0 until 2).map(_ => Run.timed(run.span(s"prefix.$name")(body()))._2)
      name -> times.min
    }.toMap
  }

  def endToEnd(run: Run): Map[String, Double] = {
    val lat = samples.map(_._3 * 1000).toSeq
    Map(
      "throughput_per_s" -> NBulk / Stats.median(bulkTimes.toSeq),
      "latency_p50_ms" -> Stats.quantile(lat, 0.5),
      "latency_p90_ms" -> Stats.quantile(lat, 0.9),
      "update_p50_ms" -> Stats.median(upsertTimes.map(_._1 * 1000).toSeq),
      "recall" -> ivfRecall)
  }

  def layers(run: Run): Map[String, Double] = {
    val t = run.tracer.get
    val reader = t.calls("prefix.reader")
    val (files, bytes) = Run.parquetFiles(store(run, 1))
    val corpusBytes = in.bulkTexts.map(_.getBytes("UTF-8").length.toLong).sum
    val chunks = Ingestion.chunkCount(run.spark, in.bulkIds.zip(in.bulkTexts))
    // per traced upsert batch: bytes and rows written against the
    // batch's own new records
    val (_, finalBytes) = Run.parquetFiles(store(run, 0))
    val recordBytes = finalBytes.toDouble / math.max(1L, upsertStoreRows)
    val upserts = t.calls("ingest.upsert")
    val tracedBatches = (0 until rounds).filter(_ % 2 == 1).take(upserts.size)
    val perBatch = upserts.zip(tracedBatches).map { case (s, b) =>
      val newRecords = Ingestion.chunkCount(run.spark, in.batches(b).map(u => (u.docId, u.text)))
      (s.counters.outputBytes / (newRecords * recordBytes), (s.counters.outputRecords - newRecords).toDouble)
    }
    val progress = t.progressOf("ingest.upsert").map(_.progress)
    def dur(k: String) = Stats.medianOrZero(progress.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    val traced = samples.filter(_._4)
    def p50(kind: String) = Stats.medianOrZero(traced.filter(_._1 == kind).map(_._3 * 1000).toSeq)
    val p = prefixS
    Map(
      "sources.read_s" -> p("reader"),
      "sources.files" -> NBulk.toDouble,
      "sources.bytes_read" -> Stats.mean(reader.map(_.counters.inputBytes.toDouble)),
      "sources.input_partitions" -> Stats.mean(reader.map(_.counters.tasks.toDouble)),
      "chunkers.self_s" -> (p("chunker") - p("reader")),
      "chunkers.chunks" -> chunks.toDouble,
      "chunkers.chunks_per_doc" -> chunks.toDouble / NBulk,
      "processors.self_s" -> (p("enrichers") - p("chunker")),
      "functions.embed_self_s" -> (p("embed") - p("enrichers")),
      "sinks.write_s" -> (p("write") - p("embed")),
      "sinks.files_written" -> files.toDouble,
      "sinks.bytes_written" -> bytes.toDouble,
      "sinks.store_bytes_per_input_byte" -> bytes.toDouble / corpusBytes,
      "sinks.upsert_write_amp" -> Stats.medianOrZero(perBatch.map(_._1)),
      "sinks.upsert_rows_rewritten" -> Stats.medianOrZero(perBatch.map(_._2)),
      "streaming.trigger_ms" -> dur("triggerExecution"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.latest_offset_ms" -> dur("latestOffset"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.rows_per_batch" -> Stats.medianOrZero(progress.map(_.numInputRows.toDouble)),
      "similarity.brute_p50_ms" -> p50("brute"),
      "similarity.filtered_p50_ms" -> p50("filtered"),
      "similarity.ivf_p50_ms" -> p50("ivf"),
      "similarity.files_read_per_query" -> Stats.mean(traced.map(_._6.toDouble).toSeq),
      "similarity.rows_scanned_per_query" -> Stats.mean(traced.map(_._7.toDouble).toSeq) / math.max(1L, storeRows),
      "similarity.ivf_build_s" -> ivfBuildS,
      "trace.overhead_ratio" -> Workloads.overhead(samples.map(s => (s._3, s._4)).toSeq))
  }
}
