package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: its Spark closure `run` (called with the session
  * and the scale-factor directory), the DuckDB SQL whose result `run`
  * must hash-match, and `benchRun`, what Bench times — `run` itself
  * unless the closure folds oracle-contract verification work into its
  * result, in which case `benchRun` is the production operator alone. */
final case class QuerySpec(name: String, run: QuerySpec.Run, oracleSql: String,
                           benchRun: QuerySpec.Run)

object QuerySpec {
  type Run = (SparkSession, String) => DataFrame

  def apply(name: String, run: Run, oracleSql: String): QuerySpec =
    QuerySpec(name, run, oracleSql, run)
}

/** One file's worth of queries: every name in `specs` starts with
  * `prefix`. */
private[graft] trait QueryFamily {
  def prefix: String
  def specs: Seq[QuerySpec]
}
