package graft.perfbench

/** Output checks. Each returns the list of failures (empty = passed);
  * every failed check counts as one failed operation. They take plain
  * collections so a test can plant a fault without a Spark session. */
object Checks {

  final case class StoreRow(key: String, documentId: String, context: String)

  private val RevMarker = "\\brev(\\d+)\\b".r

  /** Vector-store integrity after a bulk load and its upserts: keys are
    * unique, the document ids are exactly the corpus's, every edited
    * document carries only its latest revision (the revision is named in
    * the h1, so in every chunk's header context), and the record count
    * equals the chunk count of the final corpus. */
  def storeIntegrity(rows: Seq[StoreRow], expectedDocIds: Set[String],
                     latestRev: Map[String, Int], expectedRecords: Long): Seq[String] = {
    val out = Seq.newBuilder[String]
    val dupKeys = rows.groupBy(_.key).collect { case (k, rs) if rs.size > 1 => k }
    if (dupKeys.nonEmpty)
      out += s"${dupKeys.size} duplicated keys, e.g. ${dupKeys.take(3).mkString(", ")}"
    val ids = rows.map(_.documentId).toSet
    val missing = expectedDocIds -- ids
    val extra = ids -- expectedDocIds
    if (missing.nonEmpty) out += s"${missing.size} documents missing from the store"
    if (extra.nonEmpty) out += s"${extra.size} unexpected documents in the store"
    val stale = rows.filter { r =>
      latestRev.get(r.documentId).exists { rev =>
        !RevMarker.findAllMatchIn(r.context).map(_.group(1).toInt).contains(rev)
      }
    }
    if (stale.nonEmpty)
      out += s"${stale.size} records of edited documents do not carry the latest revision, e.g. ${stale.head.key}"
    if (rows.size.toLong != expectedRecords)
      out += s"store holds ${rows.size} records, the final corpus chunks into $expectedRecords"
    out.result()
  }

  /** A top-k search result against the exact ranking (key, score),
    * best first, which extends past position k. Keys may differ from
    * the exact top k only where scores tie within `tol` of the k-th
    * score (float summation order). */
  def topK(result: Seq[String], ranked: Seq[(String, Double)], k: Int,
           tol: Double = 1e-6): Seq[String] = {
    val want = math.min(k, ranked.size)
    if (result.size != want) return Seq(s"${result.size} results, expected $want")
    if (want == 0) return Nil
    val kth = ranked(want - 1)._2
    val score = ranked.toMap
    val wrong = result.filter(key => score.get(key).forall(_ < kth - tol))
    val lost = ranked.take(want).collect { case (key, s) if s > kth + tol && !result.contains(key) => key }
    if (wrong.nonEmpty || lost.nonEmpty)
      Seq(s"top-$k differs from the exact ranking: ${(wrong ++ lost).take(3).mkString(", ")}")
    else Nil
  }

  /** The curation funnel's dedup and decontamination stages drop exactly
    * the injected exact copies and contaminated documents. */
  def funnel(stageDocs: Map[String, Long], exactCopies: Int, contaminated: Int): Seq[String] = {
    val out = Seq.newBuilder[String]
    def d(s: String) = stageDocs.getOrElse(s, -1L)
    val dedupDrop = d("2_quality") - d("3_exact_dedup")
    val decontamDrop = d("3_exact_dedup") - d("4_decontaminate")
    if (dedupDrop != exactCopies) out += s"exact dedup dropped $dedupDrop documents, expected $exactCopies"
    if (decontamDrop != contaminated)
      out += s"decontamination dropped $decontamDrop documents, expected $contaminated"
    out.result()
  }

  /** Injected pairs at or above the threshold that the pair set lacks. */
  def missingPairs(found: Set[(Long, Long)], injected: Seq[Gen.NearDup],
                   threshold: Double): Seq[Gen.NearDup] =
    injected.filter(p => p.jaccard >= threshold &&
      !found((math.min(p.a, p.b), math.max(p.a, p.b))))
}
