package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §2 for the inventory.
  *
  * Every query is one operator from the inventory, declared as one
  * [[graft.queries.QuerySpec]] in its family's file under
  * `graft.queries`: the Spark closure behind `queries` (and
  * `benchQueries`) next to the DuckDB SQL behind `oracleSql`. Oracle
  * portability rules (SURVEY §6): decimal casts before SUM (exact,
  * order-independent), integer arithmetic for threshold compares,
  * explicit ORDER BY with unique tiebreaks, identical left-fold
  * sequences for float math, no engine-specific hash functions in
  * compared values.
  */
object SparkEntry {

  /** The query families, one file each under `graft.queries`. */
  private[graft] val families: Seq[QueryFamily] = Seq(
    RelationalQueries, IngestQueries, DedupQueries, TextQueries,
    SimilarityQueries, MultimodalQueries, GraphQueries, StreamQueries)

  private lazy val specs: Seq[QuerySpec] = families.flatMap(_.specs)

  // ==================================================================
  // Flagship: 5-way star join (region⋈nation⋈customer⋈orders⋈lineitem
  // ⋈supplier) with broadcast dims — driver smoke-checks rows > 0.
  // ==================================================================
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.q05(spark, "/root/testdata/sf0.001")

  /** What Bench times. Identical to [[queries]] except where a
    * CORRECTNESS entry folds oracle-contract VERIFICATION work (exact
    * re-aggregation / a second corpus scan that only exists to prove
    * an accuracy bound to the driver) into the result: there the bench
    * twin times the production operator alone, so BENCH reflects what
    * a user pays, and Verify keeps the self-checking contract.
    */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.benchRun).toMap

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.run).toMap

  def oracleSql: Map[String, String] =
    specs.map(q => q.name -> q.oracleSql).toMap
}
