package graft

import graft.sources.{AutoElementReader, DocxElementReader, PdfElementReader}

/** AutoElementReader — magic-byte routing over a mixed-format corpus:
  * detection, uniform element output across all four readers for the
  * same logical document, format metadata, and degrade behavior.
  */
class AutoReaderSpec extends SparkSpecBase {

  private val utf8 = java.nio.charset.StandardCharsets.UTF_8

  test("detect: magic bytes route pdf/docx/html/markdown") {
    assert(AutoElementReader.detect("%PDF-1.4\nx".getBytes(utf8)) == "pdf")
    assert(AutoElementReader.detect(
      Array[Byte]('P', 'K', 3, 4, 0, 0)) == "docx")
    assert(AutoElementReader.detect("<html><p>x</p>".getBytes(utf8)) == "html")
    assert(AutoElementReader.detect(
      "  \n\t <!DOCTYPE html><p>x".getBytes(utf8)) == "html")
    // UTF-8 BOM then tag
    assert(AutoElementReader.detect(
      Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte, '<', 'p', '>')) == "html")
    assert(AutoElementReader.detect("# heading\ntext".getBytes(utf8)) == "markdown")
    assert(AutoElementReader.detect(Array.empty[Byte]) == "markdown")
    // 'PK' but not a local-file-header zip signature → not docx
    assert(AutoElementReader.detect("PKX rest".getBytes(utf8)) == "markdown")
  }

  test("null bytes read as empty input: no elements, no exception") {
    assert(AutoElementReader.docElements(7L, null).isEmpty)
    assert(AutoElementReader.parseBlocks(null).isEmpty)
    assert(AutoElementReader.docElements(7L, Array.empty[Byte]).isEmpty)
  }

  test("detect: %PDF- within the first 1024 bytes routes pdf (junk header)") {
    // ISO 32000-1 tolerance: producers may emit junk before the
    // header; Acrobat scans the first KB for %PDF-
    val junked = ("\u0000\u0001garbage bytes before header\n" +
      "%PDF-1.7\nrest").getBytes(utf8)
    assert(AutoElementReader.detect(junked) == "pdf")
    // and a junk-prefixed synthesized PDF still parses end-to-end
    val pdf = PdfElementReader.synthesize(Seq(Seq(
      PdfElementReader.SHeading(1, "J"), PdfElementReader.SPara("body"))))
    val prefixed = "junk-prefix\n".getBytes(utf8) ++ pdf
    assert(AutoElementReader.detect(prefixed) == "pdf")
    assert(AutoElementReader.parseBlocks(prefixed).map(b => (b._1, b._4)) ==
      Seq(("header", "J"), ("paragraph", "body")))
    // past the 1 KB window → not sniffed as pdf
    val far = (" " * 2000 + "%PDF-1.7").getBytes(utf8)
    assert(AutoElementReader.detect(far) == "markdown")
    // zip magic at offset 0 wins even if the payload contains %PDF-
    val pk = Array[Byte]('P', 'K', 3, 4) ++ "%PDF-1.4".getBytes(utf8)
    assert(AutoElementReader.detect(pk) == "docx")
  }

  test("all four formats emit the same canonical rows for one logical doc") {
    val title = "Doc 7"
    val body = "body: spark scans fast"
    val md = s"# $title\n\n$body".getBytes(utf8)
    val html = s"<html><body><h1>$title</h1><p>$body</p></body></html>".getBytes(utf8)
    val docx = DocxElementReader.synthesize(Seq(
      DocxElementReader.SHeading(1, title), DocxElementReader.SPara(body)))
    val pdf = PdfElementReader.synthesize(Seq(Seq(
      PdfElementReader.SHeading(1, title), PdfElementReader.SPara(body))))
    val expected = Seq(("header", 1, title), ("paragraph", 0, body))
    for ((bytes, fmt) <- Seq(md -> "markdown", html -> "html",
      docx -> "docx", pdf -> "pdf")) {
      assert(AutoElementReader.detect(bytes) == fmt, fmt)
      val got = AutoElementReader.parseBlocks(bytes).map(b => (b._1, b._2, b._4))
      assert(got == expected, s"format $fmt: $got")
    }
  }

  test("elements(): mixed corpus → uniform table with format metadata") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, "# Doc 0\n\nbody: zero".getBytes(utf8)),
      (1L, "<h1>Doc 1</h1><p>body: one</p>".getBytes(utf8)),
      (2L, DocxElementReader.synthesize(Seq(
        DocxElementReader.SHeading(1, "Doc 2"),
        DocxElementReader.SPara("body: two")))),
      (3L, PdfElementReader.synthesize(Seq(Seq(
        PdfElementReader.SHeading(1, "Doc 3"),
        PdfElementReader.SPara("body: three")))))
    ).toDF("doc_id", "content")
    val got = AutoElementReader.elements(spark, docs).collect()
      .sortBy(e => (e.doc_id, e.seq))
    assert(got.length == 8)
    assert(got.map(_.kind).toSeq ==
      Seq("header", "paragraph", "header", "paragraph",
        "header", "paragraph", "header", "paragraph"))
    assert(got.map(_.metadata("format")).distinct.toSeq ==
      Seq("markdown", "html", "docx", "pdf"))
    // only the PDF leg carries page provenance
    assert(got.filter(_.doc_id == 3L).forall(_.page_number.contains(1)))
    assert(got.filter(_.doc_id < 3L).forall(_.page_number.isEmpty))
  }

  test("misrouted text doc recovers down the text path with format_fallback") {
    // r9 verdict item 1: the tolerant first-KB %PDF- sniff routes a
    // markdown/HTML doc that merely MENTIONS the magic string to the
    // PDF parser, which degrades to zero elements — without the
    // fallback the whole document silently vanished
    val md = ("# PDF internals\n\nThe header magic is %PDF-1.7 and " +
      "parsers scan the first KB for it.\n\nMore prose survives.").getBytes(utf8)
    assert(AutoElementReader.detect(md) == "pdf") // misrouted sniff
    val els = AutoElementReader.docElements(9L, md)
    assert(els.map(e => (e.kind, e.text)) == Seq(
      ("header", "PDF internals"),
      ("paragraph", "The header magic is %PDF-1.7 and parsers scan the first KB for it."),
      ("paragraph", "More prose survives.")))
    assert(els.forall(_.metadata("format") == "markdown"))
    assert(els.forall(_.metadata("format_fallback") == "pdf"))
    // HTML flavor recovers to the html reader
    val html = ("<html><body><h1>About %PDF-1.4</h1><p>tag soup body" +
      "</p></body></html>").getBytes(utf8)
    assert(AutoElementReader.detect(html) == "pdf")
    val hels = AutoElementReader.docElements(10L, html)
    assert(hels.map(e => (e.kind, e.text)) == Seq(
      ("header", "About %PDF-1.4"), ("paragraph", "tag soup body")))
    assert(hels.forall(e => e.metadata("format") == "html" &&
      e.metadata("format_fallback") == "pdf"))
    // a REAL junk-prefixed PDF still parses as pdf, no fallback flag
    val pdf = PdfElementReader.synthesize(Seq(Seq(
      PdfElementReader.SHeading(1, "J"), PdfElementReader.SPara("body"))))
    val prefixed = "junk-prefix\n".getBytes(utf8) ++ pdf
    val pels = AutoElementReader.docElements(11L, prefixed)
    assert(pels.map(_.kind) == Seq("header", "paragraph"))
    assert(pels.forall(e => e.metadata("format") == "pdf" &&
      !e.metadata.contains("format_fallback")))
  }

  test("unparseable binary emits ONE unparsed marker, loss is countable") {
    // a real zip container without word/document.xml: sniffs docx,
    // parses to zero, bytes are binary → no text recovery possible.
    // The marker element makes the loss observable in pipeline metrics
    // instead of the document silently vanishing.
    val bos = new java.io.ByteArrayOutputStream
    val z = new java.util.zip.ZipOutputStream(bos)
    z.putNextEntry(new java.util.zip.ZipEntry("other.bin"))
    z.write(Array.fill[Byte](64)(0x03)); z.closeEntry(); z.close()
    val els = AutoElementReader.docElements(12L, bos.toByteArray)
    assert(els.map(e => (e.kind, e.text)) == Seq(("unparsed", "")))
    assert(els.head.metadata("parse_failed") == "true")
    assert(els.head.metadata("format") == "docx")
    // empty / whitespace-only text stays empty — nothing was lost
    assert(AutoElementReader.docElements(13L, Array.empty[Byte]).isEmpty)
    assert(AutoElementReader.docElements(14L, "  \n ".getBytes(utf8)).isEmpty)
  }

  test("zip that is not a DOCX degrades to empty, garbage never throws") {
    // a real zip container without word/document.xml
    val bos = new java.io.ByteArrayOutputStream
    val z = new java.util.zip.ZipOutputStream(bos)
    z.putNextEntry(new java.util.zip.ZipEntry("other.txt"))
    z.write("hi".getBytes(utf8)); z.closeEntry(); z.close()
    assert(AutoElementReader.detect(bos.toByteArray) == "docx")
    assert(AutoElementReader.parseBlocks(bos.toByteArray).isEmpty)
    val rnd = new scala.util.Random(7)
    AutoElementReader.parseBlocks(
      Array.fill[Byte](50000)(rnd.nextInt(256).toByte)) // must not throw
  }

  test("OOXML routing: Content_Types discriminates docx/xlsx/pptx") {
    import graft.sources.{DocxElementReader => D, XlsxElementReader => X, PptxElementReader => P}
    val docx = D.synthesize(Seq(D.SHeading(1, "w")))
    val xlsx = X.synthesize(Seq(X.SSheet("s", Seq(Seq(X.SInline("v"))))))
    val pptx = P.synthesize(Seq(P.PSlide(Seq(P.PTitle("t")))))
    assert(AutoElementReader.detect(docx) == "docx")
    assert(AutoElementReader.detect(xlsx) == "xlsx")
    assert(AutoElementReader.detect(pptx) == "pptx")
    // parseBlocks dispatches to the right reader; pptx carries slide
    // numbers as pages, the pageless formats carry None
    assert(AutoElementReader.parseBlocks(xlsx).map(b => (b._1, b._4, b._5)) ==
      Seq(("header", "s", None), ("table", "v", None)))
    assert(AutoElementReader.parseBlocks(pptx).map(b => (b._1, b._4, b._5)) ==
      Seq(("header", "t", Some(1))))
    // docElements records the discriminated format in metadata
    assert(AutoElementReader.docElements(1L, xlsx).head.metadata("format") == "xlsx")
    assert(AutoElementReader.docElements(2L, pptx).head.metadata("format") == "pptx")
  }

  test("OOXML routing falls back to part names when Content_Types is absent") {
    val noCt = graft.sources.Ooxml.zipPackage(Seq(
      "xl/workbook.xml" ->
        """<workbook xmlns:r="r"><sheets><sheet name="n" sheetId="1" r:id="rId1"/></sheets></workbook>""",
      "xl/_rels/workbook.xml.rels" ->
        """<Relationships><Relationship Id="rId1" Target="worksheets/sheet1.xml"/></Relationships>""",
      "xl/worksheets/sheet1.xml" ->
        """<worksheet><sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>z</t></is></c></row></sheetData></worksheet>"""))
    assert(AutoElementReader.detect(noCt) == "xlsx")
    assert(AutoElementReader.parseBlocks(noCt).map(_._4) == Seq("n", "z"))
  }
}
