package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-based document loading — the Spark twin of the reference's
  * file readers (MarkdownReader.ReadAsync(FileInfo),
  * IngestionPipeline.ProcessAsync(DirectoryInfo)): a directory of
  * markdown/text files becomes a `documents` DataFrame, one row per
  * file.
  *
  * `wholetext` keeps one file per row (a document is the parse unit);
  * Spark still parallelizes across files and a 100 TB corpus of small
  * files is bounded by listing + IO, not by this operator. The stable
  * document id is a 64-bit hash of the file's full URI
  * (`input_file_name()`, e.g. `file:///data/a.md`) so re-ingestion of
  * the same file overwrites rather than duplicates (the reference's
  * incremental-ingestion key is the source file identity too,
  * VectorStoreWriter.cs IncrementalIngestion). All four directory
  * readers — text or binary, batch or stream — key a file the same
  * way, through [[fileDocument]].
  */
object DocumentSource {

  /** (doc_id, <content>, source) for a file-source row: source is the
    * file URI `input_file_name()` gives, doc_id its xxhash64. The one
    * document identity of [[readDir]], [[streamDir]], [[readBinaryDir]]
    * and [[streamBinaryDir]] (binaryFile's own `path` column spells the
    * same file `file:/data/a.md`, which would key it twice). */
  private def fileDocument(content: Column): Seq[Column] =
    Seq(xxhash64(input_file_name()).as("doc_id"), content,
      input_file_name().as("source"))

  /** Read every file matching `glob` under `dir` as one document row:
    * (doc_id, text, source), keyed by [[fileDocument]].
    */
  def readDir(spark: SparkSession, dir: String, glob: String = "*.md"): DataFrame =
    spark.read
      .option("wholetext", "true")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .text(dir)
      .select(fileDocument(col("value").as("text")): _*)

  /** JSONL corpus reader — one JSON object per line, the dominant
    * interchange format for LLM training corpora. `textField` becomes
    * the `text` column; every other top-level field rides along as a
    * column (provenance, labels, scores). `doc_id` comes from
    * `idField` when the objects carry one, else a 64-bit hash of the
    * text (stable across re-reads; exact duplicates collide, which the
    * exact-dedup path treats as the same document anyway). Pass
    * `schema` at scale — schema inference samples the whole input.
    */
  def readJsonl(spark: SparkSession, path: String,
                textField: String = "text",
                idField: Option[String] = None,
                schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val reader = spark.read
    val raw = schema.map(reader.schema).getOrElse(reader).json(path)
    val withId = idField match {
      // derivation chosen from the id column's TYPE, not per row: a
      // per-row coalesce(cast-to-long, hash) would mix two id spaces in
      // one corpus and deterministically collide distinct string ids
      // that normalize to the same long ('123', '0123', ' 123') —
      // silently merging distinct documents in dedup grouping and joins
      case Some(f) =>
        import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
        raw.schema(f).dataType match {
          case ByteType | ShortType | IntegerType | LongType =>
            raw.withColumn("doc_id", col(f).cast("long"))
          case _ =>
            raw.withColumn("doc_id", xxhash64(col(f).cast("string")))
        }
      case None    => raw.withColumn("doc_id", xxhash64(col(textField)))
    }
    if (textField == "text") withId
    else withId.withColumn("text", col(textField).cast("string")).drop(textField)
  }

  /** Read every file under `dir` as one BINARY document row:
    * (doc_id, content, source) — the mixed-format corpus shape
    * [[AutoElementReader.elements]] consumes (a crawl dump where the
    * format is a per-row property, not a directory-level one). */
  def readBinaryDir(spark: SparkSession, dir: String,
                    glob: String = "*"): DataFrame =
    spark.read
      .format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(dir)
      .select(fileDocument(col("content")): _*)

  /** Streaming variant of [[readBinaryDir]]: watch `dir` and emit new
    * binary files as (doc_id, content, source) rows. */
  def streamBinaryDir(spark: SparkSession, dir: String, glob: String = "*",
                      maxFilesPerTrigger: Int = 32): DataFrame =
    spark.readStream
      .format("binaryFile")
      // the binaryFile schema is FIXED by the format, but a streaming
      // file source refuses to start without one declared up front
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("modificationTime",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("length",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content",
          org.apache.spark.sql.types.BinaryType))))
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(dir)
      .select(fileDocument(col("content")): _*)

  /** Streaming variant: watch `dir` and emit new files as documents. */
  def streamDir(spark: SparkSession, dir: String, glob: String = "*.md",
                maxFilesPerTrigger: Int = 32): DataFrame =
    spark.readStream
      .option("wholetext", "true")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(dir)
      .select(fileDocument(col("value").as("text")): _*)
}
