package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spark-side inputs shared by the query families: table reads and the
  * deterministic fixtures (dup-injected corpora, the CDC changelog, the
  * planted-block graph) whose SQL twins live in [[SqlText]]. */
private[queries] object Inputs {

  def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** events table with a uniform `sec` column (epoch seconds, exact
    * integer division — matches DuckDB `epoch_us(ts) // 1000000`).
    * Type-adaptive on `ts`: driver generations have stored it both as
    * parquet TIMESTAMP(NANOS) (readable only as a nanos long under the
    * legacy flag) and as TIMESTAMP(MICROS) (a native Spark timestamp);
    * every downstream query consumes `sec` only, so both layouts
    * produce identical results.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val e = tbl(s, dir, "events")
    val sec = e.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000000000")
      // TIMESTAMP or TIMESTAMP_NTZ; the session timezone is pinned to
      // UTC (GraftSession), so the NTZ→TZ cast is the identity and
      // `sec` matches DuckDB's naive-timestamp epoch_us exactly
      case _ => expr("unix_micros(cast(ts as timestamp)) div 1000000")
    }
    e.withColumn("sec", sec)
  }

  /** Deterministic CDC changelog over the documents corpus, shared by
    * the CDC rows (SQL twin: [[SqlText.cdcChangelogCtes]]): ids ≡0
    * (mod 7) get two updates (seq 10·id " v1", 10·id+1 " v2"), ids ≡0
    * (mod 11) a delete at 10·id+2 (outranking both updates where they
    * coincide), ids ≡0 (mod 13) an insert under id+5M at 10·id+3.
    */
  def cdcChangelog(base: DataFrame): DataFrame =
    base.where(col("doc_id") % 7 === 0)
      .select(col("doc_id"), (col("doc_id") * 10).as("seq"), lit("U").as("op"),
        concat(col("text"), lit(" v1")).as("text"))
    .unionByName(base.where(col("doc_id") % 7 === 0)
      .select(col("doc_id"), (col("doc_id") * 10 + 1).as("seq"), lit("U").as("op"),
        concat(col("text"), lit(" v2")).as("text")))
    .unionByName(base.where(col("doc_id") % 11 === 0)
      .select(col("doc_id"), (col("doc_id") * 10 + 2).as("seq"), lit("D").as("op"),
        lit("").as("text")))
    .unionByName(base.where(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 500000000L).as("doc_id"),
        (col("doc_id") * 10 + 3).as("seq"), lit("I").as("op"),
        concat(lit("inserted "), col("doc_id").cast("string")).as("text")))

  /** Documents corpus with induced duplicates, shared by the dedup
    * queries (the synthetic corpus has no natural dups): every 10th doc
    * reappears verbatim at id+10^8 (exact dup) and with one token
    * appended at id+2*10^8 (near dup; offsets clear GenData's real
    * id range, which reaches ~10^6 at sf10 — colliding offsets
    * silently misclassify real rows as injected dups, r8 find).
    */
  def corpusWithDups(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    base
      .union(base.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000000L).as("doc_id"), col("text")))
      .union(base.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 200000000L).as("doc_id"),
          concat(col("text"), lit(" graftdup")).as("text")))
  }

  /** Embeddings with induced near-dups: every 10th vector reappears at
    * id+10^8 scaled by 1.01 (same direction ⇒ cosine 1, same LSH
    * bucket) — the synthetic random vectors have no natural high-cosine
    * pairs, so without this the pairwise queries would be 0-row.
    */
  def vecsWithDups(emb: DataFrame): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"))
    base.union(
      base.where(col("vec_id") % 10 === 0).select(
        (col("vec_id") + 100000000L).as("vec_id"),
        transform(col("embedding"), x => (x * lit(1.01)).cast("float")).as("embedding")))
  }

  /** Planted-block community graph — the ONE construction every LPA
    * oracle replays, so no driver row can desynchronize from it:
    * blocks of 10 form rings (+1/+2 within the block), blocks chain
    * weakly through their first member. Two flavors of the SAME
    * formula: `wrap = Some(n)` is the contiguous-range form
    * (g_communities / g_modularity — nodes 0..n-1, ring clamped and
    * bridge wrapped so the node space is closed), `wrap = None` is
    * the id-keyed form (d_sample_community — ids need not be
    * contiguous and edge targets needn't exist as rows; every id is
    * still a src, so every row gets a label). */
  def plantedBlockEdges(ids: DataFrame, wrap: Option[Long]): DataFrame = {
    val ring0 = ids
      .select(col("id").as("src"),
        explode(array(lit(1L), lit(2L))).as("j"))
      .select(col("src"),
        ((col("src") - col("src") % 10) + (col("src") % 10 + col("j")) % 10)
          .as("dst"))
    val ring = wrap.map(n => ring0.where(col("dst") < n)).getOrElse(ring0)
    val bridge0 = ids.where(col("id") % 10 === 0)
    val bridge = wrap match {
      case Some(n) =>
        bridge0.select(col("id").as("src"), ((col("id") + 10) % n).as("dst"))
      case None =>
        bridge0.select(col("id").as("src"), (col("id") + 10).as("dst"))
    }
    ring.union(bridge)
  }

  def plantedBlockEdges(s: SparkSession, nDocs: Long): DataFrame =
    plantedBlockEdges(s.range(nDocs).select(col("id")), Some(nDocs))
}
