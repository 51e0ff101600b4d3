package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Columns the driver's pandas hash-compare cannot sort/hash
    * (array/map/struct cells, at ANY nesting depth — a struct wrapping
    * scalars is just as unhashable as a top-level array, and an array
    * buried inside a struct would slip a shallow check) — any query
    * emitting one must array_join or explode it first (SURVEY §6).
    * Spec-tested in VerifySpec. */
  def nonScalarColumns(schema: org.apache.spark.sql.types.StructType): Seq[String] = {
    import org.apache.spark.sql.types._
    def nonScalar(dt: DataType): Boolean = dt match {
      case _: ArrayType | _: MapType | _: StructType => true
      case _ => false
    }
    schema.fields.toSeq.collect {
      case f if nonScalar(f.dataType) => s"${f.name}:${f.dataType.simpleString}"
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    val only = args.drop(2).toSet // optional subset (driver passes none)
    val unknown = only.diff(SparkEntry.queries.keySet)
    if (unknown.nonEmpty) { // a typo'd subset must not verify nothing, successfully
      System.err.println(s"[verify] unknown queries: ${unknown.mkString(", ")}")
      sys.exit(1)
    }
    val spark = GraftSession.get()
    new java.io.File(outDir).mkdirs()
    var schemaViolations = List.empty[String]
    SparkEntry.queries
      .filter(q => only.isEmpty || only(q._1))
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // Driver-compare portability guard (SURVEY §6): the driver's
        // pandas hash-compare cannot sort array/map cells — any such
        // column must be array_join'ed or exploded BEFORE it gets here.
        // Fail fast (and loudly, below) instead of passing locally and
        // crashing only in the driver's compare (the q_calendar_gaps
        // class, round 6).
        val bad = nonScalarColumns(df.schema)
        if (bad.nonEmpty) {
          schemaViolations ::= s"$name(${bad.mkString(", ")})"
          System.err.println(
            s"[verify] $name emits non-scalar columns the driver compare " +
            s"cannot hash: ${bad.mkString(", ")} — array_join/explode them")
        } else df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // pairs sorted by name, so a changed key moves only its own pair
    // and the file's bytes pin the oracle texts alone
    val json = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (schemaViolations.nonEmpty)
      System.err.println(s"[verify] ${schemaViolations.size} quer" +
        s"${if (schemaViolations.size == 1) "y" else "ies"} with non-scalar " +
        s"output (no parquet written): ${schemaViolations.mkString("; ")}")
    spark.stop()
  }
}
