package graft

import graft.operators.{Multimodal, Similarity}
import org.apache.spark.sql.functions._

class IvfFramesSpec extends SparkSpecBase {
  import spark.implicits._

  /** (list_id, centroid) rows of the index at `dir`, read from disk. */
  private def centroidsOnDisk(dir: String): Seq[(Long, Array[Float])] =
    spark.read.parquet(s"$dir/centroids")
      .select(col("list_id").cast("long"), col("centroid"))
      .as[(Long, Array[Float])].collect().toSeq

  /** The lists a probe of `q` scans under `cents`: its `nProbe`
    * nearest centroids by cosine, ties to the lower list id. */
  private def nearestLists(cents: Seq[(Long, Array[Float])], q: Array[Float],
                           nProbe: Int): Seq[Long] = {
    def cos(c: Array[Float]): Double = {
      val dot = q.zip(c).map { case (a, b) => a.toDouble * b }.sum
      val den = math.sqrt(q.map(v => v.toDouble * v).sum) * math.sqrt(c.map(v => v.toDouble * v).sum)
      if (den == 0.0) 0.0 else dot / den
    }
    cents.map { case (id, c) => (id, cos(c)) }
      .sortBy { case (id, c) => (-c, id) }.take(nProbe).map(_._1)
  }

  /** Exact top-k vec_ids, (cos desc, vec_id asc), over the given lists
    * of the index at `dir` (every list when `lists` is None). */
  private def exactTopK(dir: String, q: Array[Float], lists: Option[Seq[Long]],
                        k: Int = 5): Seq[Long] = {
    val all = spark.read.parquet(s"$dir/lists")
    lists.map(ls => all.where(col("list_id").isin(ls: _*))).getOrElse(all)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.cosine(col("embedding"),
          typedlit(q.toSeq)).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc).limit(k)
      .as[(Long, Double)].collect().map(_._1).toSeq
  }

  /** After the index at `dir` was rewritten, a probe follows the
    * centroids now on disk, not the `stale` ones it was probed under
    * before: for a stored vector whose one-list probe under the stale
    * centroids would scan another list and return other rows, the
    * probe equals the exact top-k over the list the current centroids
    * pick; and a full probe equals brute force over the new contents. */
  private def assertProbesFresh(dir: String, stale: Seq[(Long, Array[Float])],
                                nLists: Int): Unit = {
    val fresh = centroidsOnDisk(dir)
    val stored = spark.read.parquet(s"$dir/lists")
      .select("embedding").as[Array[Float]].collect()
    val q = stored.find { v =>
      val (now, before) = (nearestLists(fresh, v, 1), nearestLists(stale, v, 1))
      now != before && exactTopK(dir, v, Some(now)) != exactTopK(dir, v, Some(before))
    }
    assert(q.isDefined, "no stored vector tells stale centroids from fresh ones")
    val got = Similarity.probeIvfIndex(spark, dir, q.get, k = 5, nProbe = 1)
      .as[(Long, Double)].collect().map(_._1).toSeq
    assert(got == exactTopK(dir, q.get, Some(nearestLists(fresh, q.get, 1))),
      "probe used stale centroids")
    val full = Similarity.probeIvfIndex(spark, dir, q.get, k = 5, nProbe = nLists)
      .as[(Long, Double)].collect().map(_._1).toSeq
    assert(full == exactTopK(dir, q.get, None))
  }

  test("knnIvf with full probing matches brute force exactly") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 3)
    val ivf = Similarity.knnIvf(emb, queries, k = 5, nLists = 8, nProbe = 8)
      .select("query_id", "rank", "nbr_id").as[(Long, Int, Long)].collect().toSet
    val bf = Similarity.knnBruteForceBatch(emb, queries, k = 5)
      .select("query_id", "rank", "nbr_id").as[(Long, Int, Long)].collect().toSet
    assert(ivf == bf)
  }

  test("writeIvfIndex/probeIvfIndex: persisted lists prune at the partition level") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-index").toString
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    Similarity.writeIvfIndex(emb, dir, nLists = 8)
    val query = emb.where(col("vec_id") === 0)
      .select("embedding").as[Array[Float]].head()
    val probe = Similarity.probeIvfIndex(spark, dir, query, k = 5, nProbe = 2)
    // partition pruning: the list_id IN (...) filter must reach the
    // scan's PartitionFilters — unprobed lists are never even listed
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("list_id"),
      s"expected list_id partition pruning in:\n$plan")
    val got = probe.collect()
    // the query vector itself lives in a probed list and must rank #1
    assert(got.head.getLong(0) == 0L && got.head.getDouble(1) > 0.999999)
    assert(got.length == 5)
    // self-consistency: probing ALL lists reproduces exact brute force
    val all = Similarity.probeIvfIndex(spark, dir, query, k = 5, nProbe = 8)
      .as[(Long, Double)].collect().map(_._1).toSeq
    val bf = emb.select(col("vec_id"),
        graft.functions.VectorFunctions.cosine(col("embedding"),
          typedlit(query.toSeq)).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc).limit(5)
      .as[(Long, Double)].collect().map(_._1).toSeq
    assert(all == bf)
    // a warm probe of an unchanged index runs ONE job, the pruned scan:
    // its centroids come from the driver memo and its lists open
    // without a schema-inference job; its rows are the batched probe's
    val (warm, warmJobs) = jobsOf(
      Similarity.probeIvfIndex(spark, dir, query, k = 5, nProbe = 2).collect().toSeq)
    assert(warmJobs == 1, s"warm probe ran $warmJobs jobs")
    val batched = Similarity.probeIvfIndexBatch(spark, dir, Seq((7L, query)),
        k = 5, nProbe = 2)
      .orderBy(col("cos").desc, col("vec_id").asc)
      .select("vec_id", "cos").collect().toSeq
    assert(warm == batched)
    // the memo is not stale: overwrite the same path with other vectors
    val stale = centroidsOnDisk(dir)
    Similarity.writeIvfIndex(emb.where(col("vec_id") % 2 === 1), dir, nLists = 8)
    assertProbesFresh(dir, stale, nLists = 8)
  }

  test("appendToIvfIndex: copy-on-write lists, rebuild-equal probe, drift recorded") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-append").toString
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val base = emb.where(col("vec_id") < 400)
    val batch = emb.where(col("vec_id") >= 400 && col("vec_id") < 403) // 3 vectors → ≤3 touched lists
    Similarity.writeIvfIndex(base, dir, nLists = 8)
    def listFiles(): Map[String, Set[(String, Long, Long)]] = {
      val root = new java.io.File(s"$dir/lists")
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("list_id="))
        .map(d => d.getName ->
          d.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => (f.getName, f.length(), f.lastModified())).toSet)
        .toMap
    }
    val before = listFiles()
    Similarity.appendToIvfIndex(spark, dir, batch)
    val after = listFiles()
    // exactly base ∪ batch, each vector once
    val lists = spark.read.parquet(s"$dir/lists")
    assert(lists.count() == 403 && lists.select("vec_id").distinct().count() == 403)
    // drift audit: generation 0, one row per touched list, n_added sums
    // to the batch, mean_cos a valid cosine
    val drift = spark.read.parquet(s"$dir/drift").collect()
    assert(drift.nonEmpty && drift.forall(_.getAs[Long]("generation") == 0L))
    assert(drift.map(_.getAs[Long]("n_added")).sum == 3L)
    assert(drift.forall { r =>
      val c = r.getAs[Double]("mean_cos"); c >= -1.0001 && c <= 1.0001 })
    val touched = drift.map(r => s"list_id=${r.getAs[Long]("list_id")}").toSet
    // copy-on-write: only the touched partitions changed; every
    // untouched list directory keeps its files byte-identical
    assert(touched.size <= 3 && touched.size < before.size)
    before.foreach { case (part, files) =>
      if (!touched.contains(part))
        assert(after(part) == files, s"untouched $part was rewritten")
      else assert(after(part) != files, s"touched $part was not rewritten")
    }
    // full-probe over the appended index ≡ brute force over the union
    // (and therefore ≡ a full rebuild probed at nProbe = nLists)
    val query = emb.where(col("vec_id") === 0)
      .select("embedding").as[Array[Float]].head()
    val got = Similarity.probeIvfIndex(spark, dir, query, k = 5, nProbe = 8)
      .as[(Long, Double)].collect().map(_._1).toSeq
    val bf = base.union(batch).select(col("vec_id"),
        graft.functions.VectorFunctions.cosine(col("embedding"),
          typedlit(query.toSeq)).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc).limit(5)
      .as[(Long, Double)].collect().map(_._1).toSeq
    assert(got == bf)
    // pruning still file-listing-level after the append
    val probe = Similarity.probeIvfIndex(spark, dir, query, k = 5, nProbe = 2)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("list_id"), plan)
    // a second append records the next generation
    Similarity.appendToIvfIndex(spark, dir,
      emb.where(col("vec_id") >= 403 && col("vec_id") < 405))
    val gens = spark.read.parquet(s"$dir/drift")
      .select("generation").distinct().as[Long].collect().sorted.toSeq
    assert(gens == Seq(0L, 1L))
    assert(spark.read.parquet(s"$dir/lists").count() == 405)
    // UPSERT: re-ingesting an existing vec_id with a CHANGED embedding
    // replaces the stale version (wherever its old list was) instead
    // of duplicating it — the reference's incremental replace-by-id
    val newEmb = emb.where(col("vec_id") === 450)
      .select("embedding").as[Array[Float]].head()
    Similarity.appendToIvfIndex(spark, dir,
      Seq((0L, newEmb)).toDF("vec_id", "embedding"))
    val lists2 = spark.read.parquet(s"$dir/lists")
    assert(lists2.count() == 405) // replaced, not appended
    val rows0 = lists2.where(col("vec_id") === 0)
      .select("embedding").as[Array[Float]].collect()
    assert(rows0.length == 1 && rows0.head.sameElements(newEmb))
    // and the replacement is what probing now sees
    val probeNew = Similarity.probeIvfIndex(spark, dir, newEmb,
      k = 3, nProbe = 8).as[(Long, Double)].collect()
    assert(probeNew.count(_._1 == 0L) == 1)
    assert(probeNew.find(_._1 == 0L).get._2 > 0.999999)
  }

  test("appendToIvfIndex: in-batch duplicate ids, stale-only drift rows, emptied lists dropped") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-upsert").toString
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    Similarity.writeIvfIndex(emb.where(col("vec_id") < 100), dir, nLists = 4)
    val byList = spark.read.parquet(s"$dir/lists")
      .select(col("list_id").cast("long"), col("vec_id"))
      .as[(Long, Long)].collect().groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).sorted.toSeq }
    // two distinct non-empty lists to play donor/victim
    val lists = byList.filter(_._2.size >= 2).keys.toSeq.sorted
    assert(lists.size >= 2, s"need 2 lists with >=2 vectors, got $byList")
    val victim = lists.head; val donor = lists.last
    val donorEmb = spark.read.parquet(s"$dir/lists")
      .where(col("list_id") === donor && col("vec_id") === byList(donor).head)
      .select("embedding").as[Array[Float]].head()

    // (1) in-batch duplicate vec_id resolves to ONE stored row,
    // deterministically the lexicographically-greater embedding
    val dupA = donorEmb.clone(); dupA(0) = -100f
    val dupB = donorEmb.clone(); dupB(0) = 100f
    Similarity.appendToIvfIndex(spark, dir,
      Seq((9000L, dupA), (9000L, dupB)).toDF("vec_id", "embedding"))
    val stored = spark.read.parquet(s"$dir/lists").where(col("vec_id") === 9000L)
      .select("embedding").as[Array[Float]].collect()
    assert(stored.length == 1, s"dup id stored ${stored.length} times")
    assert(stored.head(0) == 100f, "dedupe must keep the greater embedding")

    // (2) a list touched ONLY by stale-copy removal (one id moves out,
    // nothing moves in) still records a drift row, with n_added = 0
    val gen2 = {
      val moved = byList(victim).head
      Similarity.appendToIvfIndex(spark, dir,
        Seq((moved, donorEmb)).toDF("vec_id", "embedding"))
      val drift = spark.read.parquet(s"$dir/drift")
      val g = drift.agg(max(col("generation"))).head().getLong(0)
      val rows = drift.where(col("generation") === g)
        .select(col("list_id").cast("long"), col("n_added"))
        .as[(Long, Long)].collect().toMap
      assert(rows.get(victim).contains(0L),
        s"stale-only list $victim missing its n_added=0 drift row: $rows")
      assert(rows(donor) >= 1L, rows.toString)
      g
    }

    // (3) re-ingesting EVERY remaining id of the victim list (all
    // assigned elsewhere) must DELETE its partition directory — under
    // plain dynamic overwrite the all-stale files would survive and
    // probes would return dead copies
    val remaining = byList(victim).tail
    Similarity.appendToIvfIndex(spark, dir,
      remaining.map(id => (id, donorEmb)).toDF("vec_id", "embedding"))
    assert(!new java.io.File(s"$dir/lists/list_id=$victim").exists(),
      s"emptied list_id=$victim directory must be dropped")
    val all = spark.read.parquet(s"$dir/lists")
    // every id exactly once — no stale duplicates anywhere
    assert(all.count() == all.select("vec_id").distinct().count())
    assert(all.where(col("vec_id").isin(byList(victim): _*))
      .select(col("list_id").cast("long")).distinct()
      .as[Long].collect().toSeq == Seq(donor))
    // drift generations advanced monotonically
    val gens = spark.read.parquet(s"$dir/drift")
      .select("generation").distinct().as[Long].collect().sorted.toSeq
    assert(gens == (0L to (gen2 + 1)).toSeq, gens.toString)
  }

  test("Tables.read: spark.read.parquet's schema and errors, without its inference job") {
    import graft.sources.Tables
    val work = java.nio.file.Files.createTempDirectory("graft-tables").toString
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    Similarity.writeIvfIndex(emb.where(col("vec_id") < 100), s"$work/ivf", nLists = 4)
    // vector stores, float and double embeddings, written twice so the
    // second write's survivor read goes through Tables.read too
    def records(docs: Range, double: Boolean) = {
      val e = typedlit(Seq(0.5f, -1.25f, 2f))
      docs.map(d => (s"$d:0", s"text $d", "", d.toString)).toDF("key", "content", "context", "documentid")
        .withColumn("embedding", if (double) e.cast("array<double>") else e)
    }
    for (double <- Seq(false, true)) {
      val store = s"$work/store_$double"
      graft.sinks.VectorStoreWriter.writeWithLayout(records(0 until 20, double), store)
      graft.sinks.VectorStoreWriter.writeWithLayout(records(10 until 30, double), store)
    }
    val tables = Seq("ivf/lists", "ivf/centroids", "store_false", "store_true")
    for (t <- tables) {
      val path = s"$work/$t"
      val (opened, jobs) = jobsOf(Tables.read(spark, path))
      assert(jobs == 0, s"$t: opening ran $jobs jobs")
      val inferred = spark.read.parquet(path)
      assert(opened.schema == inferred.schema, s"$t: ${opened.schema} vs ${inferred.schema}")
      assert(opened.count() == inferred.count())
    }
    assert(spark.read.parquet(s"$work/store_true").schema("embedding").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))
    assert(spark.read.parquet(s"$work/store_false").count() == 30)
    // no data file: the same error as spark.read.parquet
    val empty = java.nio.file.Files.createDirectory(java.nio.file.Paths.get(work, "empty"))
    val successOnly = java.nio.file.Files.createDirectory(java.nio.file.Paths.get(work, "success"))
    java.nio.file.Files.createFile(successOnly.resolve("_SUCCESS"))
    for (dir <- Seq(empty.toString, successOnly.toString, s"$work/missing")) {
      val want = intercept[org.apache.spark.sql.AnalysisException](spark.read.parquet(dir))
      val got = intercept[org.apache.spark.sql.AnalysisException](Tables.read(spark, dir))
      assert(got.getMessage == want.getMessage)
    }
    // a session that merges schemas gets the merged schema, as before
    val mixed = s"$work/mixed"
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$mixed/part=1")
    Seq((2L, 2.0)).toDF("id", "d").write.parquet(s"$mixed/part=2")
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try assert(Tables.read(spark, mixed).schema == spark.read.parquet(mixed).schema &&
      Tables.read(spark, mixed).columns.toSet == Set("id", "s", "d", "part"))
    finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    assert(Tables.read(spark, mixed).schema == spark.read.parquet(mixed).schema)
  }

  test("appendToIvfIndex: an empty embedding counts in its list's n_added and list_n") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-empty").toString
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    Similarity.writeIvfIndex(emb.where(col("vec_id") < 100), dir, nLists = 4)
    Similarity.appendToIvfIndex(spark, dir,
      Seq((9100L, Array.empty[Float])).toDF("vec_id", "embedding"))
    val home = spark.read.parquet(s"$dir/lists").where(col("vec_id") === 9100L)
      .select(col("list_id").cast("long")).as[Long].collect()
    assert(home.length == 1, s"empty-embedding vector stored ${home.length} times")
    val listSize = spark.read.parquet(s"$dir/lists")
      .where(col("list_id") === home.head).count()
    val drift = spark.read.parquet(s"$dir/drift")
      .select(col("list_id").cast("long"), col("n_added"), col("list_n"))
      .as[(Long, Long, Long)].collect()
    assert(drift.toSeq == Seq((home.head, 1L, listSize)), drift.toSeq.toString)
  }

  test("appendToIvfIndex: a retry after a failed drift write uses a generation no earlier append used") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-gen").toString
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    Similarity.writeIvfIndex(emb.where(col("vec_id") < 100), dir, nLists = 4)
    Similarity.appendToIvfIndex(spark, dir, emb.where(col("vec_id").between(100, 102)))
    // a FILE where the drift write's staging directory goes: the lists
    // rewrite and the generation claim succeed, the drift append throws
    val blocker = new java.io.File(s"$dir/drift/_temporary")
    assert(blocker.createNewFile())
    val batch = emb.where(col("vec_id").between(103, 105))
    intercept[Exception](Similarity.appendToIvfIndex(spark, dir, batch))
    blocker.delete()
    def gens() = spark.read.parquet(s"$dir/drift")
      .select(col("generation")).distinct().as[Long].collect().sorted.toSeq
    assert(gens() == Seq(0L), "the failed append wrote drift rows")
    Similarity.appendToIvfIndex(spark, dir, batch)
    // the failed attempt claimed generation 1; the retry must not reuse it
    assert(gens() == Seq(0L, 2L), gens().toString)
    val lists = spark.read.parquet(s"$dir/lists")
    assert(lists.count() == 106 && lists.select("vec_id").distinct().count() == 106)
  }

  test("maybeRetrainIvfIndex: a drift log holding only a failed first append reads as no drift") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-gen0").toString
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    Similarity.writeIvfIndex(emb.where(col("vec_id") < 100), dir, nLists = 4)
    // the blocker on the FIRST drift append: the generation claim
    // lands, no drift row does, so drift/ holds `_gen` and no data
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/drift"))
    val blocker = new java.io.File(s"$dir/drift/_temporary")
    assert(blocker.createNewFile())
    val batch = emb.where(col("vec_id").between(100, 102))
    intercept[Exception](Similarity.appendToIvfIndex(spark, dir, batch))
    assert(new java.io.File(s"$dir/drift/_gen").isFile)
    assert(Similarity.maybeRetrainIvfIndex(spark, dir, minMeanCos = 2.0) == Nil)
    blocker.delete()
    assert(Similarity.maybeRetrainIvfIndex(spark, dir, minMeanCos = 2.0) == Nil)
    // the retry appends past the claimed generation, and the policy
    // then reads its drift rows
    Similarity.appendToIvfIndex(spark, dir, batch)
    val gens = spark.read.parquet(s"$dir/drift")
      .select(col("generation")).distinct().as[Long].collect().toSeq
    assert(gens == Seq(1L), gens.toString)
    assert(Similarity.maybeRetrainIvfIndex(spark, dir, minMeanCos = 2.0).nonEmpty)
  }

  test("writeIvfIndex: a rebuild drops the old index's drift log and generation marker") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-rebuild").toString
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val base = emb.where(col("vec_id") < 100)
    Similarity.writeIvfIndex(base, dir, nLists = 4)
    Similarity.appendToIvfIndex(spark, dir,
      emb.where(col("vec_id") >= 400 && col("vec_id") < 450))
    // a threshold the old drift log fires at
    val thr = spark.read.parquet(s"$dir/drift")
      .agg(min(col("mean_cos"))).head().getDouble(0) + 1e-9
    // the same vectors sample the same list ids: only a stale drift
    // log could make the fresh index re-train
    Similarity.writeIvfIndex(base, dir, nLists = 4)
    val retrained = Similarity.maybeRetrainIvfIndex(spark, dir, thr)
    assert(retrained.isEmpty, s"the rebuilt index re-trained lists $retrained")
    assert(!new java.io.File(s"$dir/drift").exists())
    // the next append opens the new log at generation 0
    Similarity.appendToIvfIndex(spark, dir,
      emb.where(col("vec_id") >= 400 && col("vec_id") < 403))
    val gens = spark.read.parquet(s"$dir/drift")
      .select("generation").distinct().as[Long].collect().toSeq
    assert(gens == Seq(0L))
  }

  test("maybeRetrainIvfIndex: fires only past the drift threshold, re-trains only drifted lists") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-retrain").toString
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    Similarity.writeIvfIndex(emb.where(col("vec_id") < 100), dir, nLists = 4)
    Similarity.appendToIvfIndex(spark, dir,
      emb.where(col("vec_id") >= 400 && col("vec_id") < 450))
    def listFiles(): Map[String, Set[(String, Long)]] = {
      val root = new java.io.File(s"$dir/lists")
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("list_id="))
        .map(d => d.getName ->
          d.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => (f.getName, f.length())).toSet).toMap
    }
    def latestDrift(): Map[Long, Double] = {
      val d = spark.read.parquet(s"$dir/drift")
      val g = d.groupBy(col("list_id").cast("long").as("l"))
        .agg(max(col("generation")).as("g"))
      d.select(col("list_id").cast("long").as("l"), col("generation").as("g"),
          col("mean_cos"))
        .join(g, Seq("l", "g"))
        .select(col("l"), col("mean_cos")).as[(Long, Double)].collect().toMap
    }
    val obs = latestDrift()
    assert(obs.nonEmpty)
    val minCos = obs.values.min

    // NOT firing: threshold below every observation — index untouched
    val before = listFiles()
    val centBefore = spark.read.parquet(s"$dir/centroids")
      .select(col("list_id").cast("long"), col("centroid"))
      .as[(Long, Array[Float])].collect().toMap
    assert(Similarity.maybeRetrainIvfIndex(spark, dir, minCos - 1e-9).isEmpty)
    assert(listFiles() == before, "no-fire must leave every list file alone")

    // FIRING: threshold just above the worst list — exactly the lists
    // below it re-train
    val thr = minCos + 1e-9
    val expectDrifted = obs.filter(_._2 < thr).keys.toSeq.sorted
    // a probe before the re-train holds the old centroids in the memo
    Similarity.probeIvfIndex(spark, dir, centBefore.head._2, k = 5, nProbe = 1).collect()
    val got = Similarity.maybeRetrainIvfIndex(spark, dir, thr)
    assert(got == expectDrifted && got.nonEmpty, s"got $got vs $expectDrifted")
    // re-trained centroid moved; untouched lists' files are byte-identical
    val centAfter = spark.read.parquet(s"$dir/centroids")
      .select(col("list_id").cast("long"), col("centroid"))
      .as[(Long, Array[Float])].collect().toMap
    got.foreach(l => assert(!centAfter(l).sameElements(centBefore(l)),
      s"drifted list $l centroid did not move"))
    val after = listFiles()
    val gen = spark.read.parquet(s"$dir/drift")
      .agg(max(col("generation"))).head().getLong(0)
    val touched = spark.read.parquet(s"$dir/drift")
      .where(col("generation") === gen)
      .select(col("list_id").cast("long")).as[Long].collect().toSet
    before.keys.foreach { part =>
      val id = part.stripPrefix("list_id=").toLong
      if (!touched(id) && after.contains(part))
        assert(after(part) == before(part), s"untouched $part was rewritten")
      if (!got.contains(id))
        assert(centAfter(id).sameElements(centBefore(id)),
          s"non-drifted list $id centroid changed")
    }
    // index integrity: every id exactly once, nothing lost
    val all = spark.read.parquet(s"$dir/lists")
    assert(all.count() == 150 && all.select("vec_id").distinct().count() == 150)
    // full probe still exact brute force over the corpus
    val query = emb.where(col("vec_id") === 0)
      .select("embedding").as[Array[Float]].head()
    val probed = Similarity.probeIvfIndex(spark, dir, query, k = 5, nProbe = 4)
      .as[(Long, Double)].collect().map(_._1).toSeq
    val bf = emb.where(col("vec_id") < 100)
      .union(emb.where(col("vec_id") >= 400 && col("vec_id") < 450))
      .select(col("vec_id"),
        graft.functions.VectorFunctions.cosine(col("embedding"),
          typedlit(query.toSeq)).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc).limit(5)
      .as[(Long, Double)].collect().map(_._1).toSeq
    assert(probed == bf)
    // … and a partial probe follows the re-trained centroids
    assertProbesFresh(dir, centBefore.toSeq, nLists = 4)
    // the trigger reset: the re-trained lists do not fire again at the
    // same threshold (their centroid now sits on their mean)
    val second = Similarity.maybeRetrainIvfIndex(spark, dir, thr)
    assert(second.intersect(got).isEmpty, s"retrained lists fired again: $second")
  }

  test("ivfUpsertStream: seed freezes centroids, restart upserts replace by id") {
    import java.nio.file.{Files, Paths}
    val work = Files.createTempDirectory("graft-ivfup")
    val in = Files.createDirectory(work.resolve("in"))
    val idx = work.resolve("idx").toString
    val ckpt = work.resolve("ckpt").toString
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-ivfup-stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, in.resolve(name)); ()
    }
    def vec(seed: Int): Array[Float] =
      Array.tabulate(4)(d => (((seed * 31 + d * 7) % 19) - 9).toFloat)
    def run(): Unit = {
      val stream = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("vec_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("embedding",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType)))))
        .option("maxFilesPerTrigger", 1).parquet(in.toString)
      // retrainEvery = 0: this test documents the bare frozen-centroid
      // upsert semantics; the in-loop re-train policy has its own spec
      graft.streaming.StreamingIngest.ivfUpsertStream(stream, idx, ckpt,
        nLists = 4, retrainEvery = 0).start().awaitTermination()
    }
    // run 1 seeds: centroids sampled from THIS batch, then frozen
    stage((0L until 10L).map(i => (i, vec(i.toInt).toSeq)).toDF("vec_id", "embedding"),
      "001.parquet")
    run()
    val frozen = spark.read.parquet(s"$idx/centroids")
      .orderBy(col("list_id"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    assert(frozen.nonEmpty && frozen.size <= 4)
    // run 2 (restart, same checkpoint): new ids append, id 5 re-ingests
    // NEGATED — the upsert must replace its stored row, not add one
    val neg5 = vec(5).map(x => -x)
    stage(((10L until 20L).map(i => (i, vec(i.toInt).toSeq)) :+ ((5L, neg5.toSeq)))
      .toDF("vec_id", "embedding"), "002.parquet")
    run()
    val store = spark.read.parquet(s"$idx/lists")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    assert(store.map(_._1).sorted.toSeq == (0L until 20L), "one row per id")
    assert(store.toMap.apply(5L).toSeq == neg5.toSeq, "re-ingested id replaced")
    // centroids FROZEN: byte-for-byte the seed batch's sample
    val after = spark.read.parquet(s"$idx/centroids")
      .orderBy(col("list_id"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    assert(after == frozen, "append moved the frozen centroids")
    Files.walk(work).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { Files.deleteIfExists(p); () })
  }

  test("ivfUpsertStream: an index directory left by an interrupted seed write reads as no index") {
    import java.nio.file.Files
    val work = Files.createTempDirectory("graft-ivfup-tmp")
    val in = Files.createDirectory(work.resolve("in"))
    val idx = work.resolve("idx").toString
    // an interrupted first writeIvfIndex: centroids/ holds only the
    // committer's staging directory
    Files.createDirectories(work.resolve("idx/centroids/_temporary/0"))
    Seq.tabulate(10)(i => (i.toLong, Array.tabulate(4)(d => ((i * 7 + d * 3) % 11 - 5).toFloat).toSeq))
      .toDF("vec_id", "embedding").coalesce(1).write.parquet(in.resolve("b1").toString)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))))
      .parquet(in.resolve("b1").toString)
    graft.streaming.StreamingIngest.ivfUpsertStream(stream, idx, work.resolve("ckpt").toString,
      nLists = 4, retrainEvery = 0).start().awaitTermination()
    // the batch seeded the index
    assert(spark.read.parquet(s"$idx/lists").select(col("vec_id")).as[Long].collect().sorted.toSeq
      == (0L until 10L))
    assert(spark.read.parquet(s"$idx/centroids").count() > 0)
    Files.walk(work).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { Files.deleteIfExists(p); () })
  }

  test("trainCentroids: Lloyd iterations converge to well-separated cluster centers") {
    // three tight clusters on orthogonal axes; a bad seed (all three
    // seeds inside cluster A) must still migrate two centroids out
    def jitter(base: Array[Float], i: Int): Array[Float] =
      base.zipWithIndex.map { case (v, d) => v + (if (d == (i % 3) + 3) 0.01f * (i % 5) else 0f) }
    val a = Array(1f, 0f, 0f, 0f, 0f, 0f); val b = Array(0f, 1f, 0f, 0f, 0f, 0f)
    val c = Array(0f, 0f, 1f, 0f, 0f, 0f)
    val corpus = ((0 until 20).map(i => (i.toLong, jitter(a, i))) ++
      (20 until 40).map(i => (i.toLong, jitter(b, i))) ++
      (40 until 60).map(i => (i.toLong, jitter(c, i)))).toDF("vec_id", "embedding")
    val seed = corpus.where(col("vec_id") < 3) // all seeds in cluster A
      .select(col("vec_id").as("list_id"), col("embedding").as("centroid"))
    val trained = Similarity.trainCentroids(corpus, seed, iters = 5)
      .select("centroid").as[Array[Float]].collect()
    assert(trained.length == 3)
    // each true center must have SOME trained centroid highly aligned
    for (center <- Seq(a, b, c)) {
      def cos(x: Array[Float], y: Array[Float]): Double = {
        val dot = x.zip(y).map { case (p, q) => p.toDouble * q }.sum
        dot / (math.sqrt(x.map(v => v.toDouble * v).sum) * math.sqrt(y.map(v => v.toDouble * v).sum))
      }
      assert(trained.exists(t => cos(t, center) > 0.99),
        s"no trained centroid near ${center.toSeq}")
    }
  }

  test("knnIvf with trained centroids and full probing still matches brute force") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 3)
    val ivf = Similarity.knnIvf(emb, queries, k = 5, nLists = 8, nProbe = 8, trainIters = 2)
      .select("query_id", "rank", "nbr_id").as[(Long, Int, Long)].collect().toSet
    val bf = Similarity.knnBruteForceBatch(emb, queries, k = 5)
      .select("query_id", "rank", "nbr_id").as[(Long, Int, Long)].collect().toSet
    assert(ivf == bf)
  }

  test("knnIvf with partial probing returns correctly-ranked subset") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 3)
    val got = Similarity.knnIvf(emb, queries, k = 5, nLists = 8, nProbe = 2).collect()
    assert(got.nonEmpty)
    val byQuery = got.groupBy(_.getAs[Long]("query_id"))
    for ((_, rows) <- byQuery) {
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      // ranks contiguous from 1, cosines non-increasing
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to sorted.length))
      val cs = sorted.map(_.getAs[Double]("cos"))
      assert(cs.zip(cs.tail).forall { case (x, y) => x >= y })
    }
  }

  test("sampleFrames: even fan-out, bytes partition the blob") {
    val media = Seq(
      Multimodal.MediaRecord(1L, (0 until 103).map(_.toByte).toArray, "video/mp4", ""),
      Multimodal.MediaRecord(2L, Array.empty[Byte], "video/mp4", "")
    ).toDS()
    val frames = Multimodal.sampleFrames(spark, media, nFrames = 4).collect()
    assert(frames.forall(_.media_id == 1L)) // empty blob yields no frames
    assert(frames.length == 4)
    assert(frames.map(_.frame.length).sum == 103) // frames partition the blob
    val rejoined = frames.sortBy(_.frame_idx).flatMap(_.frame)
    assert(rejoined.toSeq == (0 until 103).map(_.toByte).toSeq)
  }

  test("resizeStub keeps the row contract and records the target size") {
    val media = Seq(Multimodal.MediaRecord(1L, "abc".getBytes, "image/png", "")).toDS()
    val out = Multimodal.resizeStub(media, 224, 224).head()
    assert(out.getAs[Int]("target_width") == 224)
    assert(out.getAs[Array[Byte]]("content").sameElements("abc".getBytes))
  }

  test("ivfUpsertStream: in-loop drift policy fires one partial re-train; no-fire appends leave centroids byte-identical") {
    import java.nio.file.Files
    val work = Files.createTempDirectory("graft-ivfrt")
    val in = Files.createDirectory(work.resolve("in"))
    val idx = work.resolve("idx").toString
    val ckpt = work.resolve("ckpt").toString
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-ivfrt-stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, in.resolve(name)); ()
    }
    def run(): Unit = {
      val stream = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("vec_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("embedding",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType)))))
        .option("maxFilesPerTrigger", 1).parquet(in.toString)
      // DEFAULT wiring: policy check after every append
      graft.streaming.StreamingIngest.ivfUpsertStream(stream, idx, ckpt,
        nLists = 2).start().awaitTermination()
    }
    def jit(i: Long): Float = ((i % 5) * 0.01).toFloat
    // two tight clusters on orthogonal axes
    val clusterA = (0L until 10L).map(i => (i, Seq(10f, 0f, 0f, jit(i))))
    val clusterB = (10L until 20L).map(i => (i, Seq(0f, 10f, 0f, jit(i))))
    stage((clusterA ++ clusterB).toDF("vec_id", "embedding"), "001.parquet")
    run()
    def centroids(): Seq[(Long, Seq[Float])] =
      spark.read.parquet(s"$idx/centroids").orderBy(col("list_id"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val frozen = centroids()
    // drifting upsert: every A vector rotates halfway toward e2 — it
    // stays nearest its old list, but that list's mean swings to
    // cos ≈ 0.7 against the frozen centroid, far below the 0.98 gate
    val rotated = (0L until 10L).map(i => (i, Seq(7f, 0f, 7f, jit(i))))
    stage(rotated.toDF("vec_id", "embedding"), "002.parquet")
    run()
    val after = centroids()
    assert(after != frozen, "drift did not fire an in-loop re-train")
    // PARTIAL: at least one centroid is byte-equal to its frozen value
    // (the undrifted cluster's list is never touched)
    val frozenMap = frozen.toMap
    assert(after.exists { case (id, c) => frozenMap.get(id).contains(c) },
      s"re-train touched every centroid: $frozen -> $after")
    // exactly ONE re-train ran: generations are 0 (the append) and 1
    // (the re-train log), nothing more
    val maxGen = spark.read.parquet(s"$idx/drift")
      .agg(max(col("generation"))).head().getLong(0)
    assert(maxGen == 1L, s"expected generations 0,1 — got max $maxGen")
    // probes stay EXACT through the production path after the re-train
    val q = Array(7f, 0f, 7f, 0f)
    val got = Similarity.probeIvfIndex(spark, idx, q, k = 5, nProbe = 2)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
    val store = spark.read.parquet(s"$idx/lists")
      .select(col("vec_id"),
        graft.functions.VectorFunctions.cosine(col("embedding"),
          typedlit(q.toSeq)).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc).limit(5)
      .collect().map(_.getLong(0)).toSeq
    assert(got == store)
    // no-fire batch: fresh ids aligned with a CURRENT list mean — the
    // policy check runs and declines; the centroid files stay
    // byte-identical (values AND mtimes)
    def centroidFiles(): Map[String, (Long, Long)] = {
      val root = java.nio.file.Paths.get(idx, "centroids")
      val out = scala.collection.mutable.Map[String, (Long, Long)]()
      java.nio.file.Files.walk(root).forEach { pth =>
        val f = pth.toFile
        if (f.isFile && f.getName.endsWith(".parquet"))
          out(root.relativize(pth).toString) = (f.length(), f.lastModified())
      }
      out.toMap
    }
    val filesBefore = centroidFiles()
    val aligned = (100L until 103L).map(i => (i, Seq(0f, 10f, 0f, jit(i))))
    stage(aligned.toDF("vec_id", "embedding"), "003.parquet")
    run()
    assert(centroidFiles() == filesBefore,
      "a no-drift append mutated the centroids")
    Files.walk(work).sorted(java.util.Comparator.reverseOrder())
      .forEach(pth => { Files.deleteIfExists(pth); () })
  }
}
