package graft.sources

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import scala.reflect.runtime.universe.TypeTag

/** Adapter for external document-conversion services — the Spark twin
  * of the reference's MarkItDownReader / AzureAIDocumentIntelligence
  * Reader / LlamaParseReader, which all do "document bytes → markdown"
  * through an external engine and then share the markdown element
  * pipeline.
  *
  * The converter runs inside mapPartitions with explicit batches: a
  * real client amortizes connection/model setup per batch and applies
  * backpressure by partition count (each partition is one client). The
  * shipped converter is a deterministic stub (UTF-8 passthrough) —
  * this container has no external services — but the row contract,
  * batching shape and error channel are the production ones.
  */
object ExternalReader {

  /** bytes → markdown. Implementations must be Serializable (shipped
    * to executors) and thread-compatible within a partition.
    */
  trait MarkdownConverter extends Serializable {
    def convert(content: Array[Byte], mediaType: String): String
  }

  /** Deterministic stand-in: decode bytes as UTF-8 markdown. */
  object PassthroughConverter extends MarkdownConverter {
    def convert(content: Array[Byte], mediaType: String): String =
      new String(content, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** bytes → one markdown body per PAGE, for services that paginate
    * (the reference's LlamaParseReader/DocumentIntelligenceReader set
    * IngestionDocumentElement.PageNumber from the service response).
    */
  trait PagedMarkdownConverter extends Serializable {
    def convertPages(content: Array[Byte], mediaType: String): Seq[String]
  }

  /** Deterministic paged stand-in: split the UTF-8 body at form-feed
    * characters (\f, the conventional page break in extracted text).
    */
  object FormFeedPagedConverter extends PagedMarkdownConverter {
    def convertPages(content: Array[Byte], mediaType: String): Seq[String] = {
      val s = new String(content, java.nio.charset.StandardCharsets.UTF_8)
      s.split("\f", -1).toSeq
    }
  }

  final case class RawFile(file_id: Long, content: Array[Byte], media_type: String, source: String)
  final case class ConvertedDoc(doc_id: Long, text: String, source: String, error: String)
  final case class ConvertedPage(doc_id: Long, page: Int, text: String, source: String, error: String)

  /** The batched conversion loop both readers share: each partition
    * is one client, fed `batchSize` files at a time, every file turned
    * into its output rows by `convert`. */
  private def converted[T <: Product : TypeTag](files: DataFrame, batchSize: Int)(
      convert: RawFile => Seq[T]): DataFrame = {
    import files.sparkSession.implicits._
    files.select(col("file_id"), col("content"), col("media_type"), col("source"))
      .as[RawFile]
      .mapPartitions { rows =>
        // per-partition client setup would happen here
        rows.grouped(batchSize).flatMap(_.flatMap(convert))
      }(Encoders.product[T])
      .toDF()
  }

  /** Convert raw files to documents: (doc_id, text, source, error).
    * Conversion failures land in `error` instead of killing the job —
    * at corpus scale some documents are always malformed.
    */
  def read(spark: SparkSession, files: DataFrame,
           converter: MarkdownConverter = PassthroughConverter,
           batchSize: Int = 16): DataFrame =
    converted(files, batchSize) { f =>
      try Seq(ConvertedDoc(f.file_id, converter.convert(f.content, f.media_type), f.source, null))
      // e.toString, not getMessage: a null message would make the
      // failure row indistinguishable from a success with null text
      catch { case e: Exception => Seq(ConvertedDoc(f.file_id, null, f.source, e.toString)) }
    }

  /** Paged conversion: one output row per (document, page), 1-based
    * page numbers — feed straight into
    * `MarkdownElementReader.elements(…, pageCol = Some("page"),
    * metaCols = Seq("source"))` so every element (and, via
    * `Chunkers.elementChunks`, every chunk) carries page provenance.
    * Failures yield a single page-0 error row per document.
    */
  def readPaged(spark: SparkSession, files: DataFrame,
                converter: PagedMarkdownConverter = FormFeedPagedConverter,
                batchSize: Int = 16): DataFrame =
    converted(files, batchSize) { f =>
      try converter.convertPages(f.content, f.media_type).zipWithIndex.map {
        case (page, i) => ConvertedPage(f.file_id, i + 1, page, f.source, null)
      }
      catch { case e: Exception =>
        Seq(ConvertedPage(f.file_id, 0, null, f.source, e.toString))
      }
    }
}
