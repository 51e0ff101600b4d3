package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

import scala.util.Try

/** Every file of the parquet tables graft itself persists (IVF lists,
  * centroids and drift, dedup-index bands and signatures, vector
  * stores, snapshots) is read, written, listed and deleted here: the
  * operators, sinks and streams that own a store decide what to write,
  * and this module decides how its files change.
  *
  * [[read]] opens a table without Spark's schema-inference job.
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

  /** Write `df` as the parquet table at `path`.
    *
    * Partitioned (`partitionCol` given): each partition is one file
    * sorted by `sortCols`. Rows are hash-clustered by partition before
    * the write: otherwise every input task opens a file in every
    * partition it holds rows of, O(tasks × partitions) near-empty files
    * per write that the next read lists and opens. The sort lets
    * parquet row-group stats prune point lookups and semi-joins on the
    * leading sort column.
    *
    * Unpartitioned: the frame is written as it stands, sorted within
    * its partitions only when `sortCols` are given, so the write keeps
    * the input's plan.
    *
    * Static or dynamic partition overwrite is the writer's own option,
    * never the session's `spark.sql.sources.partitionOverwriteMode`:
    * that conf is shared by every thread on the session, so setting it
    * around one write would change what a concurrent rebuild deletes. */
  private[graft] def write(df: DataFrame, path: String, mode: WriteMode,
                           partitionCol: Option[String] = None,
                           sortCols: Seq[String] = Nil): Unit = {
    require(mode != WriteMode.ReplacePartitions || partitionCol.isDefined,
      "ReplacePartitions needs a partition column")
    val laidOut = partitionCol match {
      case Some(p) => df.repartition(col(p)).sortWithinPartitions((p +: sortCols).map(col): _*)
      case None if sortCols.nonEmpty => df.sortWithinPartitions(sortCols.map(col): _*)
      case None => df
    }
    val writer = laidOut.write.mode(mode.saveMode)
    val moded = mode match {
      case WriteMode.Append => writer
      case WriteMode.Overwrite => writer.option("partitionOverwriteMode", "static")
      case WriteMode.ReplacePartitions => writer.option("partitionOverwriteMode", "dynamic")
    }
    partitionCol.fold(moded)(moded.partitionBy(_)).parquet(path)
  }

  /** Rewrite the whole table at `path` as `f` of its content. The
    * result is materialized before the overwrite, because its plan
    * reads the files the overwrite replaces, and released after it. */
  private[graft] def rewrite(spark: SparkSession, path: String,
                             partitionCol: Option[String] = None,
                             sortCols: Seq[String] = Nil)(f: DataFrame => DataFrame): Unit = {
    val next = f(read(spark, path)).localCheckpoint(true)
    write(next, path, WriteMode.Overwrite, partitionCol, sortCols)
    next.unpersist()
  }

  /** Does `path` hold data: a file or partition directory whose name
    * Spark's file listing reads? False when the path is missing, and
    * when it holds only state files or an interrupted write's
    * `_temporary`, which `spark.read.parquet` cannot open either. */
  private[graft] def hasData(spark: SparkSession, path: String): Boolean = {
    val dir = new Path(path)
    val fs = fileSystem(spark, dir)
    fs.exists(dir) && fs.listStatus(dir).exists(st => !hidden(st.getPath.getName))
  }

  /** The small state file `name` beside the data of the table at
    * `path` (a store's layout, an index's drift generation), as UTF-8
    * text; None when it is absent. A state file's name starts with
    * `_`, so Spark's listing, [[read]] and [[hasData]] skip it. */
  private[graft] def readState(spark: SparkSession, path: String, name: String): Option[String] = {
    val file = new Path(path, name)
    val fs = fileSystem(spark, file)
    Option.when(fs.exists(file)) {
      val in = fs.open(file)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
  }

  /** Replace the state file `name` of the table at `path` with `text`
    * (UTF-8), creating the table directory if needed. */
  private[graft] def writeState(spark: SparkSession, path: String, name: String,
                                text: String): Unit = {
    val file = new Path(path, name)
    val out = fileSystem(spark, file).create(file, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** Delete each of `paths` (a table, a partition directory or a data
    * file, as `input_file_name()` gives it) with everything under it;
    * a missing path is skipped. */
  private[graft] def delete(spark: SparkSession, paths: Seq[String]): Unit =
    paths.map(new Path(_)).foreach(p => fileSystem(spark, p).delete(p, true))

  /** The qualified path of `dir` and the (name, length, mtime) of each
    * entry in it, sorted; no entries when it is missing. A rewrite of a
    * table writes new part files, so this listing changes with the
    * table's content and can key a driver-side cache of it. */
  private[graft] def listing(spark: SparkSession, dir: String): (String, Seq[(String, Long, Long)]) = {
    val p = new Path(dir)
    val fs = fileSystem(spark, p)
    val entries = Try(fs.listStatus(p)).getOrElse(Array.empty[FileStatus])
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime)).sorted.toSeq
    (fs.makeQualified(p).toString, entries)
  }

  /** Parquet files directly under the table root, then under each of
    * its partition directories; empty when the table is missing. How
    * fragmented a table is, from a listing alone. */
  private[graft] def filesPerDirectory(spark: SparkSession, path: String): Seq[Int] = {
    val root = new Path(path)
    val fs = fileSystem(spark, root)
    def parquetFiles(entries: Array[FileStatus]): Int =
      entries.count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    if (!fs.exists(root)) Nil
    else {
      val entries = fs.listStatus(root)
      parquetFiles(entries) +: entries.toSeq
        .filter(st => st.isDirectory && !hidden(st.getPath.getName))
        .map(st => parquetFiles(fs.listStatus(st.getPath)))
    }
  }

  private def fileSystem(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Names Spark's file listing skips: `_`-prefixed ones other than
    * partition directories, `.`-prefixed ones and in-flight copies. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] =
    if (spark.conf.get("spark.sql.parquet.mergeSchema").toBoolean) None
    else Try {
      val conf = spark.sparkContext.hadoopConfiguration
      val root = new Path(path)
      firstDataFile(fileSystem(spark, root), root).flatMap { file =>
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
      .filterNot(st => hidden(st.getPath.getName))
      .sortBy(st => if (st.isDirectory) st.getPath.getName + "/" else st.getPath.getName)
      .iterator
      .map(st => if (st.isDirectory) firstDataFile(fs, st.getPath) else Some(st))
      .collectFirst { case Some(f) => f }
  }
}
