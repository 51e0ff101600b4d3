package graft

import org.apache.spark.sql.SparkSession

/** Session factory with graft's scale posture baked in (SURVEY §5):
  * AQE on with skew-join splitting and partition coalescing, so the
  * same plans that run at local[32] re-plan themselves on a real
  * cluster; shuffle partitions default to the local core count and are
  * expected to be overridden (or left to AQE) at cluster scale.
  */
object GraftSession {

  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
              shufflePartitions: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt): SparkSession.Builder = {
    // defaults, not mandates: a -Dspark.* system property (e.g. via
    // SPARK_GRAFT_JAVA_OPTS) wins over every default below, so perf
    // experiments don't need a code change
    def cfg(b: SparkSession.Builder, k: String, v: String) =
      b.config(k, sys.props.getOrElse(k, v))
    var b = SparkSession.builder().master(master)
    b = cfg(b, "spark.sql.shuffle.partitions", shufflePartitions.toString)
    b = cfg(b, "spark.sql.session.timeZone", "UTC")
    b = cfg(b, "spark.sql.adaptive.enabled", "true")
    b = cfg(b, "spark.sql.adaptive.coalescePartitions.enabled", "true")
    b = cfg(b, "spark.sql.adaptive.skewJoin.enabled", "true")
    // ingestion rows can be fat (whole documents): keep scan splits
    // at the default 128m but cap broadcasts at a safe 64m
    b = cfg(b, "spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
    // push filterless MIN/MAX/COUNT to parquet footer statistics (off
    // by default): a bare count over a 100 TB table — e.g. knnIvf's
    // corpus-size probe — becomes a metadata read instead of a scan
    b = cfg(b, "spark.sql.parquet.aggregatePushdown", "true")
    cfg(b, "spark.ui.enabled", "false")
  }

  /** The scale-factor data directory of the harness mains (Bench,
    * PlanSnap, PlanDump) and of the smoke query `SparkEntry.entry`:
    * SPARK_GRAFT_SF_DIR when set, else the `scale` set under the
    * test-data root (TESTDATA.md). */
  private[graft] def sfDir(scale: String): String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", s"/root/testdata/$scale")

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
