package graft

import graft.operators.{ChunkerOptions, Chunkers}
import graft.sources._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** The row contract every reader entry point shares, checked once per
  * entry point over the same three-row input (doc 1: content, a null
  * `tag`; doc 2: null content; doc 3: content, both metadata columns
  * set): a null-content row yields nothing, a null metadata value is
  * left out of the map, numbering runs 0..n-1 per input row, a
  * `pageCol` reaches every element of the readers that take one, and
  * the paged formats (PDF pages, PPTX slides) keep their own page. */
class ReaderContractSpec extends SparkSpecBase {
  private val utf8 = java.nio.charset.StandardCharsets.UTF_8

  /** (doc_id, seq, page, metadata) per output row. */
  private type Out = (Long, Int, Option[Int], Map[String, String])

  private sealed trait PageRule
  /** The reader takes a `pageCol`: every element carries the row's page. */
  private case object FromPageCol extends PageRule
  /** The format has its own pages, 1..n in document order. */
  private case object OwnPages extends PageRule
  /** No page at all. */
  private case object NoPage extends PageRule

  private final case class Entry(name: String, content: Array[Byte],
      binary: Boolean, pages: PageRule, run: DataFrame => Seq[Out])

  private val meta = Seq("src", "tag")
  private def els(ds: org.apache.spark.sql.Dataset[graft.model.DocElement]): Seq[Out] =
    ds.collect().toSeq.map(e => (e.doc_id, e.seq, e.page_number, e.metadata))

  private val pdf = PdfElementReader.synthesize(Seq(
    Seq(PdfElementReader.SHeading(1, "Title"), PdfElementReader.SPara("page one body")),
    Seq(PdfElementReader.SPara("page two body"))))

  private val entries = Seq(
    Entry("markdown", "# Title\n\nfirst para\n\nsecond para".getBytes(utf8),
      binary = false, FromPageCol,
      df => els(MarkdownElementReader.elements(spark, df, textCol = "content",
        pageCol = Some("page"), metaCols = meta))),
    Entry("html", "<h1>Title</h1><p>first para</p><p>second para</p>".getBytes(utf8),
      binary = false, FromPageCol,
      df => els(HtmlElementReader.elements(spark, df, textCol = "content",
        pageCol = Some("page"), metaCols = meta))),
    Entry("docx", DocxElementReader.synthesize(Seq(DocxElementReader.SHeading(1, "Title"),
      DocxElementReader.SPara("first para"), DocxElementReader.SPara("second para"))),
      binary = true, FromPageCol,
      df => els(DocxElementReader.elements(spark, df, pageCol = Some("page"),
        metaCols = meta))),
    Entry("xlsx", XlsxElementReader.synthesize(Seq(
      XlsxElementReader.SSheet("One", Seq(Seq(XlsxElementReader.SShared("a"),
        XlsxElementReader.SShared("b")))),
      XlsxElementReader.SSheet("Two", Seq(Seq(XlsxElementReader.SInline("c")))))),
      binary = true, NoPage,
      df => els(XlsxElementReader.elements(spark, df, metaCols = meta))),
    Entry("pptx", PptxElementReader.synthesize(Seq(
      PptxElementReader.PSlide(Seq(PptxElementReader.PTitle("Slide one"),
        PptxElementReader.PBody(Seq("first point")))),
      PptxElementReader.PSlide(Seq(PptxElementReader.PTitle("Slide two"))))),
      binary = true, OwnPages,
      df => els(PptxElementReader.elements(spark, df, metaCols = meta))),
    Entry("pdf", pdf, binary = true, OwnPages,
      df => els(PdfElementReader.elements(spark, df, metaCols = meta))),
    Entry("auto", pdf, binary = true, OwnPages,
      df => els(AutoElementReader.elements(spark, df, metaCols = meta))),
    // one chunk per PDF page at this budget: chunk_id plays seq's part
    Entry("autoElementChunks", pdf, binary = true, OwnPages,
      df => Chunkers.autoElementChunks(spark, df, metaCols = meta,
        opts = ChunkerOptions(maxTokens = 200, overlap = 0)).collect().toSeq
        .map(c => (c.doc_id, c.chunk_id, c.page_number, c.metadata)))
  )

  private def input(e: Entry): DataFrame = {
    val contentType = if (e.binary) BinaryType else StringType
    def content(id: Long): Any =
      if (id == 2L) null else if (e.binary) e.content else new String(e.content, utf8)
    val rows = Seq(
      Row(1L, content(1L), 7, "s1", null),
      Row(2L, content(2L), 8, "s2", "t2"),
      Row(3L, content(3L), 9, "s3", "t3"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), StructType(Seq(
      StructField("doc_id", LongType), StructField("content", contentType),
      StructField("page", IntegerType), StructField("src", StringType),
      StructField("tag", StringType))))
  }

  for (e <- entries) test(s"reader contract: ${e.name}") {
    val out = e.run(input(e))
    val byDoc = out.groupBy(_._1)
    // doc 2's content is null: no rows (Auto degrades empty bytes to Nil)
    assert(byDoc.keySet == Set(1L, 3L), out)
    for ((id, rows) <- byDoc) {
      assert(rows.size >= 2, rows)
      assert(rows.map(_._2).sorted == rows.indices, rows)
      // null metadata values are left out; set ones are copied
      rows.foreach { case (_, _, _, m) =>
        assert(m("src") == s"s$id", m)
        assert(m.get("tag") == (if (id == 1L) None else Some(s"t$id")), m)
      }
      val pages = rows.map(_._3)
      e.pages match {
        case FromPageCol => assert(pages.forall(_.contains(if (id == 1L) 7 else 9)), pages)
        case OwnPages =>
          assert(pages.forall(_.isDefined) && pages.flatten.distinct.sorted == Seq(1, 2), pages)
        case NoPage => assert(pages.forall(_.isEmpty), pages)
      }
    }
  }
}
