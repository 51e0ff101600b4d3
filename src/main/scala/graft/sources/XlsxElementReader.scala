package graft.sources

import graft.model.DocElement
import graft.sources.ElementFrame.{collapse, tableFromGrid}
import graft.sources.Ooxml._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** XLSX → structural elements, in-process and dependency-free: the
  * spreadsheet leg of the MarkItDownReader twin (the reference routes
  * xlsx through the markitdown CLI — src/Microsoft.Extensions
  * .DataIngestion.MarkItDown/MarkItDownReader.cs:51-74 — which
  * converts each sheet to a markdown table and re-parses;
  * [[DocxElementReader]] and [[PdfElementReader]] closed the other
  * legs the same way). SpreadsheetML is another OOXML zip, so the
  * shared secured container+StAX machinery ([[Ooxml]]) covers it —
  * no new dependency.
  *
  * Emits the SAME (kind, level, markdown, text) element stream as the
  * other readers, so every processor/chunker/enricher downstream is
  * reader-agnostic. Parsing runs inside a typed flatMap: one binary
  * workbook row in, N element rows out — a narrow, shuffle-free
  * transform at any corpus size.
  *
  * Mapping (SpreadsheetML → elements, mirroring what markitdown's
  * openpyxl-based conversion feeds MarkdownReader.cs):
  *   - each sheet, in workbook order → a `header` element (level 1,
  *     text = sheet name) followed by ONE `table` element (pipe
  *     markdown, first row = header — the same rendering contract as
  *     the DOCX/HTML table paths; text = cells joined)
  *   - cell values: shared strings (t="s", rich-text runs
  *     concatenated), inline strings (t="inlineStr"), formula-string
  *     cells (t="str"), booleans (t="b" → TRUE/FALSE), errors (t="e",
  *     the literal error text), and numbers (the raw stored lexical
  *     value — no number-format/date rendering, documented: style
  *     parsing is out of scope, a serial date reads as its number)
  *   - sparse rows: absent cells inside the used width render as
  *     empty pads (cell references give the true column), keeping
  *     column alignment exactly like the DOCX gridSpan path; rows
  *     absent from sheetData are skipped (nothing to show)
  *   - merged ranges (mergeCells): covered non-anchor cells render
  *     empty even when a producer duplicated the value into them —
  *     the vMerge-continuation normalization of the DOCX path
  *   - an empty sheet (no cells) emits its header element only
  *
  * Robustness contract (one bad workbook must degrade, never throw):
  * corrupt zip, missing workbook.xml, malformed XML, or a zip-bomb
  * part all yield the elements parsed so far; the per-sheet width is
  * capped at [[MaxCols]] (a crafted XFD-wide row must not build a
  * 16k-column markdown line per row).
  */
object XlsxElementReader {

  /** Rendered columns per sheet cap: real tables are narrow; Excel's
    * limit is 16384 and a hostile sheet can claim all of it per row. */
  val MaxCols = 256

  /** "B3" → 0-based column index (None when the ref is malformed). */
  private[graft] def colIndex(ref: String): Option[Int] = {
    var i = 0; var c = 0; var any = false
    while (i < ref.length && ref.charAt(i).isLetter) {
      c = c * 26 + (ref.charAt(i).toUpper - 'A' + 1); i += 1; any = true
    }
    if (any && c > 0) Some(c - 1) else None
  }

  /** "B3" → 1-based row number (the digit tail). */
  private def rowIndex(ref: String): Option[Int] = {
    val d = ref.dropWhile(_.isLetter)
    d.toIntOption.filter(_ > 0)
  }

  /** xl/sharedStrings.xml → indexed strings (rich-text runs concat). */
  private def parseSharedStrings(bytes: Array[Byte]): IndexedSeq[String] =
    parseXml(bytes) match {
      case Some(root) => kids(root, "si").map(allText).toIndexedSeq
      case None => IndexedSeq.empty
    }

  /** One `c` node → rendered cell text. */
  private def cellText(c: XNode, shared: IndexedSeq[String]): String = {
    def v: String = first(c, "v").map(allText).getOrElse("")
    c.attrs.getOrElse("t", "n") match {
      case "s" =>
        v.trim.toIntOption.filter(i => i >= 0 && i < shared.length)
          .map(shared).getOrElse("")
      case "inlineStr" => first(c, "is").map(allText).getOrElse("")
      case "b" => if (v.trim == "1") "TRUE" else "FALSE"
      case _ => v // n (numbers: raw lexical), str, e
    }
  }

  /** One worksheet part → the dense (markdown, text) cell grid.
    * Merged ranges blank covered non-anchor cells. */
  private def sheetGrid(bytes: Array[Byte],
                        shared: IndexedSeq[String]): Seq[Seq[(String, String)]] = {
    val root = parseXml(bytes).getOrElse(return Nil)
    val data = first(root, "sheetData").getOrElse(return Nil)
    // covered = merged-range cells other than the top-left anchor
    val covered = first(root, "mergeCells").map { mc =>
      val set = scala.collection.mutable.HashSet.empty[(Int, Int)]
      kids(mc, "mergeCell").foreach { m =>
        m.attrs.get("ref").foreach { ref =>
          ref.split(":") match {
            case Array(a, b) =>
              for (r0 <- rowIndex(a); c0 <- colIndex(a);
                   r1 <- rowIndex(b); c1 <- colIndex(b)) {
                var r = math.min(r0, r1)
                val rEnd = math.max(r0, r1)
                val cLo = math.min(c0, c1); val cHi = math.min(math.max(c0, c1), MaxCols - 1)
                while (r <= rEnd && set.size < (1 << 16)) {
                  var cc = cLo
                  while (cc <= cHi) {
                    if (r != math.min(r0, r1) || cc != cLo) set += ((r, cc))
                    cc += 1
                  }
                  r += 1
                }
              }
            case _ =>
          }
        }
      }
      set
    }.getOrElse(scala.collection.mutable.HashSet.empty[(Int, Int)])
    val rows = ArrayBuffer.empty[(Int, ArrayBuffer[(Int, String)])]
    var nextRowNum = 1
    kids(data, "row").foreach { row =>
      val rn = row.attrs.get("r").flatMap(_.toIntOption).getOrElse(nextRowNum)
      nextRowNum = rn + 1
      val cells = ArrayBuffer.empty[(Int, String)]
      var nextCol = 0
      kids(row, "c").foreach { c =>
        val ci = c.attrs.get("r").flatMap(colIndex).getOrElse(nextCol)
        nextCol = ci + 1
        if (ci < MaxCols) {
          val t = if (covered.contains((rn, ci))) "" else cellText(c, shared)
          cells += ((ci, t))
        }
      }
      if (cells.nonEmpty) rows += ((rn, cells))
    }
    if (rows.isEmpty) return Nil
    val width = rows.iterator.flatMap(_._2.iterator.map(_._1)).max + 1
    rows.map { case (_, cells) =>
      val dense = Array.fill(width)("")
      cells.foreach { case (ci, t) => dense(ci) = t }
      dense.toSeq.map { t => val ct = collapse(t); (ct, ct) }
    }.toSeq
  }

  /** Parse one XLSX binary into ordered (kind, level, markdown, text) —
    * the same tuple stream the other readers emit. */
  def parseBlocks(xlsx: Array[Byte]): Seq[(String, Int, String, String)] = {
    if (xlsx == null || xlsx.length < 4) return Nil
    val fixed = Set("xl/workbook.xml", "xl/_rels/workbook.xml.rels",
      "xl/sharedStrings.xml")
    val parts = zipParts(xlsx,
      name => fixed(name) || name.startsWith("xl/worksheets/"))
    val wb = parts.get("xl/workbook.xml").flatMap(parseXml)
      .getOrElse(return Nil)
    val rels = parts.get("xl/_rels/workbook.xml.rels")
      .map(parseRels).getOrElse(Map.empty)
    val shared = parts.get("xl/sharedStrings.xml")
      .map(parseSharedStrings).getOrElse(IndexedSeq.empty)
    val sheets = first(wb, "sheets").map(kids(_, "sheet")).getOrElse(Nil)
    val out = ArrayBuffer.empty[(String, Int, String, String)]
    sheets.foreach { sh =>
      val name = collapse(sh.attrs.getOrElse("name", ""))
      // r:id parses to local name "id"; sheets without a resolvable
      // part still contribute their header (the name is content)
      val target = sh.attrs.get("id").flatMap(rels.get)
        .map(resolveTarget("xl/", _))
      if (name.nonEmpty) out += (("header", 1, s"# $name", name))
      target.flatMap(parts.get).foreach { sheetBytes =>
        tableFromGrid(sheetGrid(sheetBytes, shared)).foreach(out += _)
      }
    }
    out.toSeq
  }

  /** documents(doc_id, content: binary) → Dataset[DocElement] — the
    * shared reader contract ([[DocxElementReader.elements]] twin). */
  def elements(spark: SparkSession, documents: DataFrame,
               idCol: String = "doc_id", contentCol: String = "content",
               metaCols: Seq[String] = Nil): Dataset[DocElement] =
    ElementFrame.binary(documents, idCol, contentCol, None, metaCols) {
      (id, bytes, _, meta) => ElementFrame.numbered(id, parseBlocks(bytes), None, meta)
    }

  // ------------------------------------------------------------------
  // Deterministic synthesis (specs + the i_xlsx_elements driver row):
  // a minimal valid SpreadsheetML package built from sheet
  // descriptions — the same fixture-free oracle pattern as
  // DocxElementReader.synthesize.
  // ------------------------------------------------------------------
  sealed trait SCell
  /** A string cell routed through xl/sharedStrings.xml (t="s"). */
  final case class SShared(text: String) extends SCell
  /** A string cell stored inline (t="inlineStr"). */
  final case class SInline(text: String) extends SCell
  /** A numeric cell (raw lexical value, no t attribute). */
  final case class SNum(value: String) extends SCell
  /** A boolean cell (t="b"). */
  final case class SBool(value: Boolean) extends SCell
  /** An absent cell (no c element is written — sparse-row pad). */
  case object SEmpty extends SCell

  final case class SSheet(name: String, rows: Seq[Seq[SCell]],
                          merges: Seq[String] = Nil)

  private def colRef(c: Int): String = {
    var n = c + 1; val sb = new StringBuilder
    while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  /** Build a minimal XLSX package (deterministic bytes for fixed
    * input: shared strings in first-use order, pinned zip times). */
  def synthesize(sheets: Seq[SSheet]): Array[Byte] = {
    val shared = ArrayBuffer.empty[String]
    val sharedIdx = scala.collection.mutable.HashMap.empty[String, Int]
    def sIdx(t: String): Int = sharedIdx.getOrElseUpdate(t, {
      shared += t; shared.size - 1
    })
    val sheetXmls = sheets.map { sheet =>
      val rowsXml = sheet.rows.zipWithIndex.map { case (cells, r) =>
        val cellsXml = cells.zipWithIndex.collect {
          case (cell, c) if cell != SEmpty =>
            val ref = s"${colRef(c)}${r + 1}"
            cell match {
              case SShared(t) => s"""<c r="$ref" t="s"><v>${sIdx(t)}</v></c>"""
              case SInline(t) =>
                s"""<c r="$ref" t="inlineStr"><is><t xml:space="preserve">${xesc(t)}</t></is></c>"""
              case SNum(v) => s"""<c r="$ref"><v>${xesc(v)}</v></c>"""
              case SBool(v) => s"""<c r="$ref" t="b"><v>${if (v) 1 else 0}</v></c>"""
              case SEmpty => ""
            }
        }.mkString
        s"""<row r="${r + 1}">$cellsXml</row>"""
      }.mkString
      val mergeXml =
        if (sheet.merges.isEmpty) ""
        else s"""<mergeCells count="${sheet.merges.size}">""" +
          sheet.merges.map(m => s"""<mergeCell ref="$m"/>""").mkString +
          "</mergeCells>"
      XmlDecl +
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
        s"<sheetData>$rowsXml</sheetData>$mergeXml</worksheet>"
    }
    val sheetsXml = sheets.zipWithIndex.map { case (sh, i) =>
      s"""<sheet name="${xesc(sh.name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
    }.mkString
    val workbookXml =
      XmlDecl +
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"""" +
        """ xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
        s"<sheets>$sheetsXml</sheets></workbook>"
    val sstXml =
      XmlDecl +
        s"""<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${shared.size}" uniqueCount="${shared.size}">""" +
        shared.map(t => s"""<si><t xml:space="preserve">${xesc(t)}</t></si>""").mkString +
        "</sst>"
    zipPackage(
      Seq("[Content_Types].xml" -> contentTypesXml("/xl/workbook.xml",
          "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"),
        "xl/workbook.xml" -> workbookXml,
        "xl/_rels/workbook.xml.rels" -> relsXml(sheets.indices.map { i =>
          (s"rId${i + 1}", "worksheet", s"worksheets/sheet${i + 1}.xml")
        }),
        "xl/sharedStrings.xml" -> sstXml) ++
        sheetXmls.zipWithIndex.map { case (xml, i) =>
          s"xl/worksheets/sheet${i + 1}.xml" -> xml
        })
  }
}
