package graft.sinks

import graft.functions.VectorFunctions
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Vector-store writer — the Spark twin of Writers/VectorStoreWriter.cs.
  *
  * The reference embeds each chunk's content and upserts records with
  * columns (key, embedding, content, context, documentid) — lowercase,
  * no special characters, for cross-store compatibility
  * (VectorStoreWriter.cs:15-20). Its IncrementalIngestion option
  * deletes a document's previous records before writing new ones.
  *
  * graft writes the same record schema to parquet partitioned by a
  * *bucket* of the document id (never by raw documentid — billions of
  * one-file partitions would kill any file listing at 100 TB). With
  * dynamic partition overwrite, re-ingesting a batch atomically
  * replaces the buckets it touches; per-document upsert inside a
  * bucket is the job of a table format (Delta/Iceberg MERGE) or the
  * target vector store's own upsert — `key` is deterministic
  * (documentid:chunkid) precisely so that upsert is idempotent.
  */
/** Writer options — the twin of VectorStoreWriterOptions.cs:10-30.
  * `collectionName` (reference default "chunks") becomes a sub-path of
  * the store root, so one store holds many collections like a vector
  * DB does; `distanceFunction` is recorded per collection and drives
  * the scoring expression search uses (see
  * [[VectorStoreWriter.distance]]); `incrementalIngestion` mirrors the
  * reference's delete-before-insert replace semantics (reference
  * default false; graft keeps its historical default true — upsert is
  * the common ingestion mode at scale).
  */
final case class VectorStoreWriterOptions(
    collectionName: String = "chunks",
    distanceFunction: String = VectorStoreWriter.Cosine,
    incrementalIngestion: Boolean = true) {
  require(collectionName.nonEmpty, "collectionName must not be empty") // VectorStoreWriterOptions.cs:18
  require(VectorStoreWriter.DistanceFunctions.contains(distanceFunction),
    s"unknown distanceFunction '$distanceFunction' " +
      s"(supported: ${VectorStoreWriter.DistanceFunctions.mkString(", ")})")
}

object VectorStoreWriter {

  /** Scale-adaptive creation-time layout (r12 optimization round):
    * sizing targets for [[chooseNumBuckets]]. ~64k records/bucket is
    * 100-300 MB of parquet at typical chunk+embedding row widths (the
    * guide's 128 MB - 1 GB file-size band); the floor keeps enough
    * buckets for parallel reads of a small store, the cap bounds
    * partition-directory cardinality at any corpus size.
    */
  val TargetRowsPerBucket = 65536L
  val MinBuckets = 8
  val MaxBuckets = 65536

  /** Bucket count for a store whose seed batch has `nRows` records:
    * smallest power of two whose buckets stay under
    * [[TargetRowsPerBucket]], clamped to [MinBuckets, MaxBuckets].
    * Power of two so a later re-bucketing compaction can split or
    * merge buckets pairwise without re-hashing every record.
    */
  def chooseNumBuckets(nRows: Long): Int = {
    val need = math.max(1L, (nRows + TargetRowsPerBucket - 1) / TargetRowsPerBucket)
    val capped = math.min(need, MaxBuckets.toLong).toInt
    val p2 = Integer.highestOneBit(capped)
    val up = if (p2.toLong < need && p2 < MaxBuckets) p2 << 1 else p2
    math.max(MinBuckets, math.min(MaxBuckets, up))
  }

  val Cosine = "cosine"
  val Dot = "dot"
  val Euclidean = "euclidean"
  val DistanceFunctions: Set[String] = Set(Cosine, Dot, Euclidean)

  /** Similarity expression for a configured distance function, oriented
    * so HIGHER is always closer (euclidean is negated) — one ordering
    * convention for every top-k search regardless of the collection's
    * metric, like the reference's VectorData.DistanceFunction abstraction.
    */
  def distance(fn: String, a: org.apache.spark.sql.Column,
               b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = fn match {
    case Cosine => VectorFunctions.cosine(a, b)
    case Dot    => VectorFunctions.dot(a, b)
    case Euclidean =>
      -sqrt(aggregate(
        zip_with(a, b, (x, y) => (x.cast("double") - y.cast("double"))
          * (x.cast("double") - y.cast("double"))),
        lit(0.0), (acc, v) => acc + v))
    case other => throw new IllegalArgumentException(s"unknown distanceFunction '$other'")
  }

  /** The store's layout file, beside its data. */
  private val LayoutFile = "_layout.json"

  /** Root-relative path of a collection. */
  def collectionPath(root: String, options: VectorStoreWriterOptions): String =
    s"$root/${options.collectionName}"

  /** Write records into the options' collection under `root` — the
    * twin of the reference writer's collection-scoped upsert.
    */
  def write(records: DataFrame, root: String,
            options: VectorStoreWriterOptions): Unit =
    writeWithLayout(records, collectionPath(root, options),
      incremental = options.incrementalIngestion)

  /** Chunks (doc_id, chunk_id, content, context) → vector records.
    * Embedding is the hermetic hash embedder (swap for a model UDF in
    * production).
    */
  def toVectorRecords(chunks: DataFrame, dim: Int = 64,
                      metadataCols: Seq[String] = Nil): DataFrame = {
    // enricher outputs ride along as extra record fields, like the
    // reference's "...metadata" columns (VectorStoreWriter.cs:15-20);
    // kept as real columns (not a map) so stores can index them and
    // Catalyst can prune them
    val extras = metadataCols.map(c => col(c))
    chunks.select(Seq(
      concat(col("doc_id").cast("string"), lit(":"), col("chunk_id").cast("string")).as("key"),
      VectorFunctions.hashEmbed(col("content"), dim).as("embedding"),
      col("content"),
      coalesce(col("context"), lit("")).as("context"),
      col("doc_id").cast("string").as("documentid")
    ) ++ extras: _*)
  }

  /** Write records into the store at `path` with a creation-time
    * PERSISTED bucket layout — the one store write that the pipeline
    * run, the collection write and the streaming upsert all go through
    * (r12 optimization round). `incremental` replaces re-ingested
    * documents' records (see [[writeBucketed]]); off, the batch is
    * appended as is. The bucket count is a correctness invariant of
    * the store, not a tuning knob: `pmod(xxhash64(documentid), n)`
    * must be stable across every batch or a re-ingested document's old
    * records (hashed under a different modulus) would never be
    * replaced. So the count is chosen ONCE, from the seed batch's size
    * ([[chooseNumBuckets]] — scale-adaptive instead of a constant 256
    * directories for stores of any size), recorded in
    * `_layout.json` (underscore-prefixed: parquet readers ignore it),
    * and every later write reuses the recorded value. The layout file
    * is written BEFORE the seed data so a crash between the two
    * leaves an empty store with a pinned layout that a re-run honors.
    */
  def writeWithLayout(records: DataFrame, path: String,
                      incremental: Boolean = true): Unit = {
    val session = records.sparkSession
    val n = Tables.readState(session, path, LayoutFile) match {
      case Some(txt) =>
        "\"numBuckets\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(txt)
          .map(_.group(1).toInt)
          .getOrElse(throw new IllegalStateException(
            s"unreadable store layout at $path/$LayoutFile: $txt"))
      case None =>
        val chosen = chooseNumBuckets(records.count())
        Tables.writeState(session, path, LayoutFile, s"""{"numBuckets":$chosen}""")
        chosen
    }
    writeBucketed(records, path, incremental, n)
  }

  /** Write records bucketed by document. Incremental mode is a
    * copy-on-write upsert: records of re-ingested documents are
    * replaced, every other document's records survive — including ones
    * that merely share a bucket with this batch (a blind
    * dynamic-partition overwrite would wipe them). Rewrite cost is
    * bounded by the touched buckets, not the store size.
    */
  private def writeBucketed(records: DataFrame, path: String,
                            incremental: Boolean, buckets: Int): Unit = {
    val session = records.sparkSession
    val bucketed = records
      .withColumn("doc_bucket", pmod(xxhash64(col("documentid")), lit(buckets)))
    // data presence, not directory presence: metadata files
    // (_layout.json, _SUCCESS) alone must not trigger the survivor
    // read of an empty store
    val toWrite =
      if (!incremental || !Tables.hasData(session, path)) bucketed
      else {
        // survivors: rows in touched buckets that belong to OTHER
        // documents; materialized (localCheckpoint) so we never
        // overwrite a path we are still lazily reading from
        val touched = bucketed.select(col("doc_bucket")).distinct()
        val reingested = bucketed.select(col("documentid")).distinct()
        val survivors = Tables.read(session, path)
          .join(broadcast(touched), Seq("doc_bucket"), "left_semi")
          .join(reingested, Seq("documentid"), "left_anti")
          .select(bucketed.columns.map(col): _*)
          .localCheckpoint(true)
        bucketed.union(survivors)
      }
    // one file per bucket, clustered by (documentid, key): row-group
    // stats then prune the incremental path's per-document replace
    Tables.write(toWrite, path,
      if (incremental) Tables.WriteMode.ReplacePartitions else Tables.WriteMode.Append,
      Some("doc_bucket"), Seq("documentid", "key"))
  }
}
