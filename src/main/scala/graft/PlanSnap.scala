package graft
import java.nio.file.{Files, Paths}

/** Optimization-round evidence tool: dump `.explain("formatted")` for the
  * named queries to <outDir>/<query>_<suffix>.txt (one file per query).
  *
  *   tools/run_main.sh graft.PlanSnap plans/r12 before q01_pricing_summary ...
  *
  * Uses the same session/config as Bench so the captured plan is the plan
  * the bench actually runs (AQE initial plan; the formatted dump shows
  * Exchange placement, join strategy, PushedFilters/ReadSchema).
  * Data dir comes from SPARK_GRAFT_SF_DIR like Bench.
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanSnap <outDir> <suffix> <query...>")
    val outDir = Paths.get(args(0))
    Files.createDirectories(outDir)
    val suffix = args(1)
    val names = args.drop(2)
    val sfDir = GraftSession.sfDir("sf0.1")
    val spark = GraftSession.get()
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), txt)
      println(s"[plansnap] wrote ${name}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
