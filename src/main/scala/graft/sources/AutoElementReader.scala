package graft.sources

import graft.model.DocElement
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Format-sniffing reader router: one ingest entry point for a mixed
  * corpus of markdown / HTML / DOCX / XLSX / PPTX / PDF binaries, dispatching each
  * row to the matching in-process reader by magic bytes. The
  * reference wires exactly one IngestionDocumentReader per pipeline
  * (DataIngestionPipeline ctor takes a single reader;
  * MarkItDownReader.cs covers many formats precisely so the pipeline
  * doesn't have to care) — in a crawl-scale corpus the format is a
  * per-ROW property, so the router is the Spark-native form of the
  * same idea: a single `elements()` call over a binary column,
  * format detection and parsing fused into one typed flatMap —
  * map-only, no shuffle, at any corpus size.
  *
  * Detection (first bytes, after whitespace where textual):
  *   - `%PDF-`            → [[PdfElementReader]]
  *   - `PK`   → OOXML container → [[DocxElementReader]] /
  *     [[XlsxElementReader]] / [[PptxElementReader]], discriminated
  *     by the package's OWN type declaration ([Content_Types].xml
  *     Override content types — the OPC-correct sniff) with a
  *     part-name fallback (word/document.xml | xl/workbook.xml |
  *     ppt/presentation.xml) when that part is missing or
  *     unparseable; an unrecognized zip routes to DOCX and degrades
  *     to empty there (the same contract as a corrupt DOCX)
  *   - leading `<`        → [[HtmlElementReader]] (covers `<!DOCTYPE`,
  *     `<html`, fragments)
  *   - anything else      → [[MarkdownElementReader]] (UTF-8 text)
  *
  * Every reader emits the same (kind, level, markdown, text) stream
  * and turns it into rows through the one [[ElementFrame]] (row
  * projection, numbering, table render, whitespace collapse), so a
  * mixed corpus yields ONE uniform element table — the reader-agnostic
  * claim made structural (the i_auto_elements driver row proves the
  * readers emit identical canonical rows for the same logical
  * document).
  */
object AutoElementReader {

  /** Sniff the source format from leading bytes. */
  def detect(bytes: Array[Byte]): String = {
    if (bytes == null || bytes.isEmpty) return "markdown"
    // zip magic at offset 0 is decisive (checked FIRST: a DOCX's
    // compressed payload can coincidentally contain "%PDF-" in its
    // first KB, and no real PDF starts with a local-file header)
    if (bytes.length >= 4 && bytes(0) == 'P' && bytes(1) == 'K' &&
      bytes(2) == 3 && bytes(3) == 4) return detectOoxml(bytes)
    // %PDF- anywhere in the first 1024 bytes, not just offset 0: the
    // PDF spec (ISO 32000-1 §7.5.2 note; Acrobat's documented
    // tolerance) allows junk before the header, and real crawl files
    // use it — a strict offset-0 match routed such files to the
    // markdown reader, emitting binary garbage as text elements
    // instead of parsing (or cleanly degrading) as PDF
    val scan = math.min(bytes.length - 4, 1024)
    var p = 0
    while (p < scan) {
      if (bytes(p) == '%' && bytes(p + 1) == 'P' && bytes(p + 2) == 'D' &&
        bytes(p + 3) == 'F' && bytes(p + 4) == '-') return "pdf"
      p += 1
    }
    // textual: the shared text router (BOM/ws skip, tag-open check)
    detectText(bytes)
  }

  /** Discriminate the three OOXML families inside a zip container.
    * Primary: the package's own [Content_Types].xml Override content
    * types (the OPC-correct sniff — part names are conventional, the
    * content-type declaration is normative). Fallback when that part
    * is missing/unparseable/bomb-capped: the conventional main part
    * names. A zip that is neither (a plain archive, an epub, a jar)
    * routes to DOCX, whose parser degrades to zero elements — the
    * same observable contract as a corrupt DOCX, and the zero-element
    * fallback in [[docElements]] then marks the loss. */
  private[sources] def detectOoxml(bytes: Array[Byte]): String = {
    val ct = Ooxml.zipParts(bytes, _ == "[Content_Types].xml")
      .get("[Content_Types].xml").flatMap(Ooxml.parseXml)
    ct match {
      case Some(types) =>
        val declared = Ooxml.kids(types, "Override")
          .flatMap(_.attrs.get("ContentType"))
        if (declared.exists(_.contains("wordprocessingml"))) return "docx"
        if (declared.exists(_.contains("spreadsheetml"))) return "xlsx"
        if (declared.exists(_.contains("presentationml"))) return "pptx"
      case None =>
    }
    val names = Ooxml.zipEntryNames(bytes).toSet
    if (names.contains("word/document.xml")) "docx"
    else if (names.contains("xl/workbook.xml")) "xlsx"
    else if (names.contains("ppt/presentation.xml")) "pptx"
    else "docx"
  }

  /** Does the prefix read as text? Used to decide whether a document
    * whose SNIFFED binary format parsed to zero elements can be
    * recovered down the text path (a markdown/HTML doc that merely
    * MENTIONS `%PDF-` in its first KB) or is genuinely unparseable
    * binary. Textual = no control bytes outside \t \n \r \f (beyond a
    * 5% tolerance for stray high-bit sequences in the sample). */
  private[sources] def looksTextual(bytes: Array[Byte]): Boolean = {
    if (bytes == null || bytes.isEmpty) return false
    val n = math.min(bytes.length, 4096)
    var bin = 0
    var i = 0
    while (i < n) {
      val c = bytes(i) & 0xff
      if (c < 0x20 && c != '\t' && c != '\n' && c != '\r' && c != 0x0c)
        bin += 1
      i += 1
    }
    bin * 20 < n
  }

  /** Textual-format detection ONLY (the tail of [[detect]] without the
    * binary sniffs) — the fallback router for recovered text. */
  private[sources] def detectText(bytes: Array[Byte]): String = {
    var i = 0
    if (bytes.length >= 3 && (bytes(0) & 0xff) == 0xef &&
      (bytes(1) & 0xff) == 0xbb && (bytes(2) & 0xff) == 0xbf) i = 3
    while (i < bytes.length && (bytes(i) == ' ' || bytes(i) == '\n' ||
      bytes(i) == '\r' || bytes(i) == '\t')) i += 1
    if (i < bytes.length && bytes(i) == '<') "html" else "markdown"
  }

  /** One document's elements in a KNOWN format, numbered by the shared
    * [[ElementFrame]] helpers — the per-format dispatch shared by
    * [[parseBlocks]] and both paths of [[docElements]]. */
  private def elementsAs(fmt: String, id: Long, bytes: Array[Byte],
                         meta: Map[String, String]): Seq[DocElement] = {
    // null reads as empty input, as the frame reads null content
    def utf8 = if (bytes == null) "" else new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    fmt match {
      case "pdf" => ElementFrame.paged(id, PdfElementReader.parseBlocks(bytes), meta)
      case "pptx" => ElementFrame.paged(id, PptxElementReader.parseBlocks(bytes), meta)
      case "docx" => ElementFrame.numbered(id, DocxElementReader.parseBlocks(bytes), None, meta)
      case "xlsx" => ElementFrame.numbered(id, XlsxElementReader.parseBlocks(bytes), None, meta)
      case "html" => ElementFrame.numbered(id, HtmlElementReader.parseBlocks(utf8), None, meta)
      case _ => ElementFrame.numbered(id, MarkdownElementReader.parseBlocks(utf8), None, meta)
    }
  }

  /** Parse one binary into the shared element tuple stream (page is
    * None for the pageless formats, the PDF page or PPTX slide number
    * otherwise). Sniff-and-parse only — the zero-element fallback lives
    * in [[docElements]] where recovery can be recorded in metadata. */
  def parseBlocks(
      bytes: Array[Byte]): Seq[(String, Int, String, String, Option[Int])] =
    elementsAs(detect(bytes), 0L, bytes, Map.empty)
      .map(e => (e.kind, e.level, e.markdown, e.text, e.page_number))

  /** One binary document → its ordered [[DocElement]]s (detected
    * format recorded in metadata under "format") — the per-row body of
    * [[elements]], shared with the fused streaming chunker
    * ([[graft.operators.Chunkers.autoElementChunks]]).
    *
    * Zero-element fallback: magic-byte sniffing is tolerant by design
    * (the `%PDF-` first-KB scan per ISO 32000-1 §7.5.2's junk-header
    * note), so a textual document that merely MENTIONS a magic string
    * can be misrouted to a binary parser, which degrades to zero
    * elements — and without a fallback the document's entire content
    * silently vanishes. When the sniffed format parses to zero
    * elements:
    *   - bytes that read as text re-parse down the text path
    *     (html/markdown by [[detectText]]); recovered elements carry
    *     `format` = the format that actually parsed and
    *     `format_fallback` = the misrouted sniff, so pipeline metrics
    *     can count recoveries;
    *   - genuinely unparseable binary emits ONE `unparsed` marker
    *     element (empty text, `parse_failed` = "true") so the loss is
    *     countable downstream instead of invisible.
    * Well-formed documents never reach either branch, so existing
    * corpora hash identically. */
  def docElements(id: Long, bytes: Array[Byte],
                  baseMeta: Map[String, String] = Map.empty): Seq[DocElement] = {
    val fmt = detect(bytes)
    val sniffed = elementsAs(fmt, id, bytes, baseMeta + ("format" -> fmt))
    if (sniffed.nonEmpty) sniffed
    // markdown is the terminal text path: zero elements there means
    // genuinely empty/whitespace content — nothing was lost
    else if (fmt == "markdown" || bytes.isEmpty) Nil
    else {
      val recovered: Option[Seq[DocElement]] =
        if (!looksTextual(bytes)) None
        else {
          // try the text formats in sniff order, markdown last (it is
          // terminal: any non-whitespace text yields elements there)
          val fb0 = detectText(bytes)
          val candidates =
            (if (fb0 == fmt) Nil else Seq(fb0)) :+ "markdown"
          candidates.distinct.iterator
            .map(fb => elementsAs(fb, id, bytes,
              baseMeta ++ Map("format" -> fb, "format_fallback" -> fmt)))
            .find(_.nonEmpty)
        }
      recovered.getOrElse(
        Seq(DocElement(id, 0, "unparsed", 0, "", "", None,
          baseMeta ++ Map("format" -> fmt, "parse_failed" -> "true"))))
    }
  }

  /** documents(doc_id, content: binary) → Dataset[DocElement] — the
    * shared reader contract over a MIXED-format corpus. The detected
    * format is recorded in each element's metadata under "format" so
    * downstream stages can filter/audit by source type. */
  def elements(spark: SparkSession, documents: DataFrame,
               idCol: String = "doc_id", contentCol: String = "content",
               metaCols: Seq[String] = Nil): Dataset[DocElement] =
    ElementFrame.binary(documents, idCol, contentCol, None, metaCols) {
      (id, bytes, _, meta) => docElements(id, bytes, meta)
    }
}
