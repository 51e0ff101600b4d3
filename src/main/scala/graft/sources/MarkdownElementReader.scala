package graft.sources

import graft.model.DocElement
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Markdown → structural elements, the Spark twin of the reference's
  * MarkdownReader (src/Microsoft.Extensions.DataIngestion.Markdown/
  * MarkdownReader.cs), which parses with Markdig and maps blocks to
  * IngestionDocumentElement rows.
  *
  * graft parses inside a typed flatMap: one document row in, N element
  * rows out — a narrow transform with no shuffle, so parsing 100 TB of
  * markdown is a map-only stage bounded by scan IO. A hand-rolled
  * line-based block parser replaces Markdig (ATX + setext headers,
  * fenced code, pipe tables, block quotes and lists flattened to their
  * child elements, images, footers after thematic breaks, paragraphs —
  * the block types MarkdownReader.cs:128-146 maps, seen through the
  * EnumerateContent flattening every consumer uses).
  */
object MarkdownElementReader {

  // Precompiled block-shape patterns: String.matches would recompile
  // its regex on EVERY line of EVERY document — at 100 TB that is the
  // parse loop's entire budget.
  private val AtxHeader = java.util.regex.Pattern.compile("^#{1,6}\\s.*")
  private val SetextUnderline = java.util.regex.Pattern.compile("^(=+|-+)$")
  private val ThematicBreak = java.util.regex.Pattern.compile("^(-{3,}|\\*{3,}|_{3,})$")
  private val TableSeparator = java.util.regex.Pattern.compile("^\\|?[\\s:|-]+\\|?$")
  private val StandaloneImage = java.util.regex.Pattern.compile("^!\\[[^\\]]*\\]\\([^)]*\\)$")
  private val ListItem = java.util.regex.Pattern.compile("^([-*+]|\\d+[.)])\\s.*")
  private val OrderedItem = java.util.regex.Pattern.compile("^\\d+[.)]\\s.*")
  private val UnorderedItem = java.util.regex.Pattern.compile("^[-*+]\\s.*")
  private val ListMarkerPrefix = java.util.regex.Pattern.compile("^([-*+]|\\d+[.)])\\s+")

  private def matches(p: java.util.regex.Pattern, s: String): Boolean =
    p.matcher(s).matches()

  /** Parse one markdown body into ordered (kind, level, markdown, text).
    *
    * Container blocks mirror the reference's Section flattening: the
    * reference wraps lists and quotes in IngestionDocumentSection
    * (MarkdownReader.cs MapListBlock:179, MapQuoteBlock:206) but
    * EnumerateContent (IngestionDocument.cs:42-67) yields only the
    * section CHILDREN — so graft emits one element per list item and
    * recurses into quote bodies, which is the stream every reference
    * chunker/processor actually sees. Setext headers (===/--- under a
    * paragraph) parse as headers like Markdig's HeadingBlock, and a
    * paragraph right after a thematic break is a `footer`
    * (MarkdownReader.cs:152-155 previousWasBreak). Raw HTML blocks
    * become paragraphs (the reference throws NotSupportedException on
    * HtmlBlock — one bad document must not kill a 100 TB job).
    */
  def parseBlocks(md: String): Seq[(String, Int, String, String)] =
    parseBlocks(md, depth = 0)

  // one recursion level per quote nesting level, bounded: a scraped
  // line of 10k '>' chars must not StackOverflowError the task (Error,
  // not Exception — it would kill the job, not the row)
  private val MaxQuoteDepth = 16

  private def parseBlocks(md: String, depth: Int): Seq[(String, Int, String, String)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int, String, String)]
    val lines = md.split("\n", -1)
    var i = 0
    val para = new StringBuilder
    // MarkdownReader.cs:104-107: a thematic break marks the NEXT
    // paragraph as a footer; emitting any element clears the flag
    var afterBreak = false

    def emit(kind: String, level: Int, mdBlock: String, text: String): Unit = {
      out += ((kind, level, mdBlock, text))
      afterBreak = false
    }

    def flushPara(): Unit = {
      val p = para.toString.trim
      if (p.nonEmpty) emit(if (afterBreak) "footer" else "paragraph", 0, p, stripInline(p))
      para.clear()
    }

    while (i < lines.length) {
      val line = lines(i)
      val t = line.trim
      if (t.isEmpty) { flushPara(); i += 1 }
      else if (t.startsWith("```")) { // fenced code block
        flushPara()
        val buf = new StringBuilder(line)
        i += 1
        var closed = false
        while (i < lines.length && !closed) {
          buf.append('\n').append(lines(i))
          if (lines(i).trim.startsWith("```")) closed = true
          i += 1
        }
        val mdBlock = buf.toString
        val body = mdBlock.split("\n").drop(1).dropRight(if (closed) 1 else 0).mkString("\n")
        emit("code", 0, mdBlock, body)
      } else if (matches(AtxHeader, t)) { // ATX header
        flushPara()
        val level = t.takeWhile(_ == '#').length
        emit("header", level, t, stripInline(t.dropWhile(_ == '#').trim))
        i += 1
      } else if (para.nonEmpty && matches(SetextUnderline, t)) {
        // setext header: the pending paragraph IS the heading content
        // (Markdig HeadingBlock; = → level 1, - → level 2). Checked
        // before ThematicBreak so "---" under text is a heading, not a
        // break.
        val p = para.toString.trim
        para.clear()
        emit("header", if (t.charAt(0) == '=') 1 else 2, p + "\n" + t, stripInline(p))
        i += 1
      } else if (matches(ThematicBreak, t)) { // thematic break: skipped
        flushPara(); afterBreak = true; i += 1 // (MarkdownReader.cs:104-109)
      } else if (t.startsWith("|") && i + 1 < lines.length &&
                 matches(TableSeparator, lines(i + 1).trim) &&
                 lines(i + 1).contains("-")) { // pipe table
        flushPara()
        val buf = scala.collection.mutable.ArrayBuffer(line)
        i += 1
        while (i < lines.length && lines(i).trim.startsWith("|")) {
          buf += lines(i); i += 1
        }
        val mdBlock = buf.mkString("\n")
        val cellText = buf.zipWithIndex
          .filter(_._2 != 1) // drop separator row
          .map(_._1)
          .flatMap(_.split("\\|").map(_.trim).filter(_.nonEmpty))
          .mkString(" ")
        emit("table", 0, mdBlock, stripInline(cellText))
      } else if (matches(StandaloneImage, t)) { // standalone image
        flushPara()
        val alt = t.substring(2, t.indexOf(']'))
        // reference ordering (MarkdownReader.cs MapLeafBlockToElement):
        // the footer case precedes the image case, so a standalone image
        // that is the first block after a thematic break is a FOOTER
        if (afterBreak) emit("footer", 0, t, stripInline(t))
        else emit("image", 0, t, alt)
        i += 1
      } else if (t.startsWith(">")) { // block quote: recurse, emit children
        flushPara()
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (i < lines.length && lines(i).trim.startsWith(">")) {
          // past the depth cap, strip ALL remaining quote markers so the
          // body degrades to a flat paragraph instead of recursing again
          val stripped = lines(i).trim.stripPrefix(">").stripPrefix(" ")
          buf += (if (depth + 1 >= MaxQuoteDepth)
                    stripped.dropWhile(c => c == '>' || c == ' ')
                  else stripped)
          i += 1
        }
        // Section flattening: children parsed with full block rules
        // (headers, nested quotes, lists inside quotes all work)
        for ((kind, level, mdBlock, text) <- parseBlocks(buf.mkString("\n"), depth + 1))
          emit(kind, level, mdBlock, text)
      } else if (matches(ListItem, t)) { // list: one element per item
        flushPara()
        // an ordered marker ends an unordered list and vice versa (CommonMark)
        val ordered = matches(OrderedItem, t)
        val marker = if (ordered) OrderedItem else UnorderedItem
        val items = scala.collection.mutable.ArrayBuffer.empty[StringBuilder]
        while (i < lines.length && (matches(marker, lines(i).trim) ||
               (lines(i).startsWith("  ") && lines(i).trim.nonEmpty && items.nonEmpty))) {
          val lt = lines(i).trim
          if (matches(marker, lt))
            items += new StringBuilder(ListMarkerPrefix.matcher(lt).replaceFirst(""))
          else { // continuation (incl. nested sub-items, kept as item text)
            items.last.append(' ').append(ListMarkerPrefix.matcher(lt).replaceFirst(""))
          }
          i += 1
        }
        // MapListBlock:179 wraps items in a Section; enumeration yields
        // the item leaves — an image item stays an image element
        for (item <- items) {
          val s = item.toString.trim
          if (matches(StandaloneImage, s))
            emit("image", 0, s, s.substring(2, s.indexOf(']')))
          else emit("paragraph", 0, s, stripInline(s))
        }
      } else {
        if (para.nonEmpty) para.append(' ')
        para.append(t)
        i += 1
      }
    }
    flushPara()
    out.toSeq
  }

  // Inline-markdown strippers, precompiled and applied in order.
  private val InlinePatterns: Array[java.util.regex.Pattern] = Array(
    "!\\[([^\\]]*)\\]\\([^)]*\\)",
    "\\[([^\\]]*)\\]\\([^)]*\\)",
    "`([^`]*)`",
    "\\*\\*([^*]+)\\*\\*",
    "__([^_]+)__",
    "\\*([^*]+)\\*",
    "(?<![A-Za-z0-9])_([^_]+)_(?![A-Za-z0-9])"
  ).map(java.util.regex.Pattern.compile)
  // first char a match of InlinePatterns(i) must contain — most text
  // has no inline markup, so an indexOf miss skips the matcher
  private val InlineTriggers = Array('!', '[', '`', '*', '_', '*', '_')

  /** Strip inline markdown (emphasis, links, images, code spans). */
  def stripInline(s: String): String = {
    var cur = s
    var i = 0
    while (i < InlinePatterns.length) {
      if (cur.indexOf(InlineTriggers(i)) >= 0)
        cur = InlinePatterns(i).matcher(cur).replaceAll("$1")
      i += 1
    }
    cur.trim
  }

  /** documents(doc_id, text) → Dataset[DocElement], one row per block.
    *
    * Paged inputs (one row per page, like the reference's
    * DocumentIntelligence/LlamaParse readers that set
    * IngestionDocumentElement.PageNumber — IngestionDocument.cs:106)
    * pass `pageCol`: every parsed element inherits that row's page.
    * `metaCols` names document columns copied into every element's
    * metadata map (provenance that must survive chunking at scale).
    * Plain markdown has neither → None / empty map.
    */
  def elements(spark: SparkSession, documents: DataFrame,
               idCol: String = "doc_id", textCol: String = "text",
               pageCol: Option[String] = None,
               metaCols: Seq[String] = Nil): Dataset[DocElement] =
    ElementFrame.text(documents, idCol, textCol, pageCol, metaCols) {
      (id, text, page, meta) => ElementFrame.numbered(id, parseBlocks(text), page, meta)
    }
}
