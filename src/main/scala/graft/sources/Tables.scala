package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

import scala.util.Try

/** Opens the parquet tables graft itself persists (IVF lists, centroids
  * and drift, dedup-index bands and signatures, vector stores,
  * snapshots) without Spark's schema-inference job, and writes the
  * partitioned ones ([[write]]).
  *
  * `spark.read.parquet(dir)` runs one Spark job per open just to read a
  * footer: with `mergeSchema` off, Spark's inferred data schema is the
  * schema Spark stored under the footer key
  * `org.apache.spark.sql.parquet.row.metadata` of the first data file
  * in path order. [[read]] reads that same footer on the driver and
  * hands the schema to `spark.read.schema(…)`; partition columns are
  * still discovered from the directory names, so the result schema is
  * the one `spark.read.parquet` gives. On an interactive read path (an
  * IVF probe, a store upsert) that job is a large share of the latency.
  */
object Tables {

  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** `spark.read.parquet(path)`, minus the schema-inference job. Falls
    * back to exactly that call when the session merges schemas, when
    * the table has a summary file (`_metadata`, `_common_metadata`:
    * Spark infers from those instead of a data file), when it has no
    * data file, or when the footer carries no Spark schema, so
    * behaviour and errors in those cases are unchanged. */
  def read(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** How [[write]] treats the files already in the table. */
  private[graft] sealed abstract class WriteMode(val saveMode: SaveMode)
  private[graft] object WriteMode {
    /** New files beside the existing ones. */
    case object Append extends WriteMode(SaveMode.Append)
    /** The whole table replaced (a rebuild). */
    case object Overwrite extends WriteMode(SaveMode.Overwrite)
    /** Only the partitions the written rows fall in replaced: the
      * copy-on-write upsert of the vector store and the IVF lists. */
    case object ReplacePartitions extends WriteMode(SaveMode.Overwrite)
  }

  /** Write `df` as a parquet table partitioned by `partitionCol`, each
    * partition one file sorted by `sortCols`. Rows are hash-clustered
    * by partition before the write: otherwise every input task opens a
    * file in every partition it holds rows of, O(tasks × partitions)
    * near-empty files per write that the next read lists and opens.
    * The sort lets parquet row-group stats prune point lookups and
    * semi-joins on the leading sort column.
    *
    * Static or dynamic partition overwrite is the writer's own option,
    * never the session's `spark.sql.sources.partitionOverwriteMode`:
    * that conf is shared by every thread on the session, so setting it
    * around one write would change what a concurrent rebuild deletes. */
  private[graft] def write(df: DataFrame, path: String, partitionCol: String,
                           sortCols: Seq[String], mode: WriteMode): Unit = {
    val writer = df.repartition(col(partitionCol))
      .sortWithinPartitions((partitionCol +: sortCols).map(col): _*)
      .write.mode(mode.saveMode).partitionBy(partitionCol)
    (mode match {
      case WriteMode.Append => writer
      case WriteMode.Overwrite => writer.option("partitionOverwriteMode", "static")
      case WriteMode.ReplacePartitions => writer.option("partitionOverwriteMode", "dynamic")
    }).parquet(path)
  }

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] =
    if (spark.conf.get("spark.sql.parquet.mergeSchema").toBoolean) None
    else Try {
      val conf = spark.sparkContext.hadoopConfiguration
      val root = new Path(path)
      val fs = root.getFileSystem(conf)
      firstDataFile(fs, root).flatMap { file =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
        val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey)
          finally reader.close()
        Option(json).map(DataType.fromJson(_).asInstanceOf[StructType])
      }
    }.toOption.flatten

  /** The first data file under `dir` in full-path order, the file
    * Spark's inference reads. Children sort by name, directories with a
    * trailing `/`, so the depth-first walk visits leaves in path order;
    * hidden names are skipped as Spark's file listing skips them. */
  private def firstDataFile(fs: FileSystem, dir: Path): Option[FileStatus] = {
    val children = fs.listStatus(dir)
    // a summary file ends the walk: footerSchema's Try falls back
    if (children.exists { st =>
        val n = st.getPath.getName
        n.startsWith("_metadata") || n.startsWith("_common_metadata") })
      throw new IllegalStateException(s"$dir has a parquet summary file")
    children
      .filterNot { st =>
        val n = st.getPath.getName
        (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_")
      }
      .sortBy(st => if (st.isDirectory) st.getPath.getName + "/" else st.getPath.getName)
      .iterator
      .map(st => if (st.isDirectory) firstDataFile(fs, st.getPath) else Some(st))
      .collectFirst { case Some(f) => f }
  }
}
