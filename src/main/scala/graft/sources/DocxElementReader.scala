package graft.sources

import graft.model.DocElement
import graft.sources.ElementFrame.{collapse, tableFromGrid}
import graft.sources.Ooxml._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** DOCX → structural elements, in-process and dependency-free: the
  * second leg of the MarkItDownReader twin (the reference shells out
  * to the `markitdown` CLI for HTML/DOCX/PDF —
  * src/Microsoft.Extensions.DataIngestion.MarkItDown/
  * MarkItDownReader.cs:51-74 — and re-parses the markdown;
  * [[HtmlElementReader]] closed the HTML leg in r7, this closes DOCX).
  * OOXML is just a zip containing XML parts, so the JDK covers it:
  * `java.util.zip` for the container, StAX (`javax.xml.stream`) for
  * `word/document.xml` — no new dependency, which is the whole point
  * ([[PdfElementReader]] closes the common-case PDF leg the same way;
  * full-fidelity PDF stays behind [[ExternalReader]]).
  *
  * Emits the SAME (kind, level, markdown, text) element stream as the
  * markdown and HTML readers, so every processor/chunker/enricher
  * downstream is reader-agnostic. Parsing runs inside a typed flatMap:
  * one binary document row in, N element rows out — a narrow,
  * shuffle-free transform; 100 TB of DOCX is a map-only stage bounded
  * by scan IO.
  *
  * Mapping (WordprocessingML → elements, mirroring what markitdown's
  * mammoth-based conversion feeds MarkdownReader.cs:128-146):
  *   - w:p with pStyle Heading1..6 (or Title)  → header (level n; Title → 1);
  *                                               pStyle ids that point at a
  *                                               custom style resolve through
  *                                               word/styles.xml — by the
  *                                               style's w:name ("heading 1")
  *                                               or its w:basedOn chain
  *   - plain w:p                               → paragraph (inline markdown:
  *                                               bold/italic/code runs,
  *                                               hyperlinks via the rels part,
  *                                               inline images as ![alt](target))
  *   - w:p with w:numPr                        → one paragraph element per item
  *                                               (list-item leaves, like the
  *                                               HTML reader's <li> handling)
  *   - w:p whose runs hold only a w:drawing    → image (text = docPr alt text,
  *                                               the reference's AlternativeText)
  *   - w:tbl                                   → one table element (pipe
  *                                               markdown, first row = header;
  *                                               text = cells joined)
  *   - pStyle Footer                           → footer
  *   - pStyle Code / HTMLPreformatted          → code (fenced markdown)
  *   - sectPr / proofing / bookmarks / fields  → ignored
  *
  * Robustness contract (one bad document must degrade, never throw):
  * corrupt zip, missing `word/document.xml`, malformed XML, or a
  * zip-bomb entry (decompressed cap [[MaxPartBytes]]) all yield the
  * elements parsed so far (usually none) instead of failing the task.
  * XML is parsed with DTD support OFF and external entities OFF (XXE
  * is a real risk on crawled documents), and the element tree is
  * depth-capped like the HTML DOM ([[MaxDepth]]).
  */
object DocxElementReader {

  /** Decompression cap per zip part (shared OOXML guard — see
    * [[Ooxml.MaxPartBytes]]); re-exported because the bomb specs and
    * scaladoc reference it here. */
  val MaxPartBytes: Int = Ooxml.MaxPartBytes

  // ------------------------------------------------------------------
  // WordprocessingML walk
  // ------------------------------------------------------------------
  private val HeadingStyle = java.util.regex.Pattern.compile(
    "(?i)heading([1-9])")

  /** pStyle value → (kind, headerLevel). Spaces are stripped first so
    * Word's built-in style NAMES ("heading 1", "HTML Preformatted")
    * match the same patterns as their ids. */
  private def styleKind(style0: String): (String, Int) = {
    val style = style0.replace(" ", "")
    val m = HeadingStyle.matcher(style)
    if (m.matches()) ("header", math.min(m.group(1).toInt, 6))
    else if (style.equalsIgnoreCase("Title")) ("header", 1)
    else if (style.equalsIgnoreCase("Footer")) ("footer", 0)
    else if (style.equalsIgnoreCase("Code") ||
             style.equalsIgnoreCase("HTMLPreformatted")) ("code", 0)
    else ("paragraph", 0)
  }

  /** word/styles.xml: styleId → (w:name val, w:basedOn val). */
  private final case class StyleDef(name: String, basedOn: Option[String])

  private def parseStyles(bytes: Array[Byte]): Map[String, StyleDef] =
    parseXml(bytes) match {
      case Some(root) =>
        kids(root, "style").flatMap { st =>
          st.attrs.get("styleId").map { id =>
            id -> StyleDef(
              first(st, "name").flatMap(_.attrs.get("val")).getOrElse(""),
              first(st, "basedOn").flatMap(_.attrs.get("val")))
          }
        }.toMap
      case None => Map.empty
    }

  /** Resolve a pStyle id through styles.xml: real documents rarely
    * carry the literal built-in id on the paragraph — they point at a
    * custom style whose w:name is the built-in ("heading 1") or that
    * is basedOn a heading style. Checks, in order, the id itself, the
    * style's display name, then the basedOn chain (cycle-capped), the
    * same lookup order Word's own style resolution uses. */
  private def resolveStyleKind(style: String,
                               styles: Map[String, StyleDef]): (String, Int) = {
    var cur = style
    var hops = 0
    while (cur.nonEmpty && hops < 12) {
      val direct = styleKind(cur)
      if (direct._1 != "paragraph") return direct
      styles.get(cur) match {
        case Some(sd) =>
          val byName = styleKind(sd.name)
          if (byName._1 != "paragraph") return byName
          cur = sd.basedOn.getOrElse("")
        case None => cur = ""
      }
      hops += 1
    }
    ("paragraph", 0)
  }

  /** A run-level toggle property (w:b, w:i) is ON unless w:val says
    * otherwise (`<w:b/>` means bold; `<w:b w:val="0"/>` means not). */
  private def toggleOn(rPr: Option[XNode], name: String): Boolean =
    rPr.flatMap(first(_, name)) match {
      case Some(p) =>
        !p.attrs.get("val").exists(v => v == "0" || v.equalsIgnoreCase("false"))
      case None => false
    }

  /** Render one w:r (or the runs under w:hyperlink) → (markdown, text).
    * Text content comes from w:t; w:br / w:tab / w:cr read as spaces;
    * an inline w:drawing reads as ![alt](target). */
  private def renderRun(run: XNode, rels: Map[String, String]): (String, String) = {
    val rPr = first(run, "rPr")
    val sb = new StringBuilder; val st = new StringBuilder
    run.children.foreach {
      case s: String => // only under w:t via the tree shape below
      case c: XNode => c.name match {
        case "t" =>
          val t = c.children.collect { case s: String => s }.mkString
          sb.append(t); st.append(t)
        case "br" | "tab" | "cr" => sb.append(' '); st.append(' ')
        case "drawing" | "pict" | "object" =>
          val (md, tx) = renderDrawing(c, rels)
          sb.append(md); st.append(tx)
        case _ =>
      }
      case _ =>
    }
    var md = sb.toString
    val inner = md.trim
    if (inner.nonEmpty) {
      val code = rPr.flatMap(first(_, "rStyle"))
        .flatMap(_.attrs.get("val")).exists(_.equalsIgnoreCase("CodeChar"))
      if (code) md = s"`$inner`"
      else {
        if (toggleOn(rPr, "i")) md = s"*$inner*"
        if (toggleOn(rPr, "b")) md = s"**${md.trim}**"
      }
    }
    (md, st.toString)
  }

  /** w:drawing → (![alt](target), alt): alt text from wp:docPr
    * @descr (Word's "Alt Text") falling back to @name; target from
    * the a:blip r:embed relationship. */
  private def renderDrawing(drawing: XNode,
                            rels: Map[String, String]): (String, String) = {
    def find(n: XNode, name: String): Option[XNode] =
      if (n.name == name) Some(n)
      else kids(n).iterator.flatMap(find(_, name)).nextOption()
    val alt = find(drawing, "docPr").flatMap { d =>
      d.attrs.get("descr").filter(_.nonEmpty).orElse(d.attrs.get("name"))
    }.getOrElse("")
    val target = find(drawing, "blip")
      .flatMap(_.attrs.get("embed")).flatMap(rels.get).getOrElse("")
    (s"![$alt]($target)", alt)
  }

  /** One w:p → (markdown, text, onlyDrawings, firstAlt). */
  private def renderParagraph(p: XNode, rels: Map[String, String])
      : (String, String, Boolean, String) = {
    val md = new StringBuilder; val tx = new StringBuilder
    var sawDrawing = false; var sawText = false; var firstAlt = ""
    def handleRun(r: XNode): Unit = {
      if (first(r, "t").exists(_.children.exists {
        case s: String => s.trim.nonEmpty; case _ => false
      })) sawText = true
      val hadDrawing = kids(r).exists(c =>
        c.name == "drawing" || c.name == "pict" || c.name == "object")
      if (hadDrawing) {
        sawDrawing = true
        if (firstAlt.isEmpty) {
          val d = kids(r).find(c =>
            c.name == "drawing" || c.name == "pict" || c.name == "object").get
          firstAlt = renderDrawing(d, rels)._2
        }
      }
      val (m, t) = renderRun(r, rels)
      md.append(m); tx.append(t)
    }
    p.children.foreach {
      case c: XNode => c.name match {
        case "r" => handleRun(c)
        case "hyperlink" =>
          val target = c.attrs.get("id").flatMap(rels.get)
            .orElse(c.attrs.get("anchor").map("#" + _))
          val innerMd = new StringBuilder; val innerTx = new StringBuilder
          kids(c, "r").foreach { r =>
            val (m, t) = renderRun(r, rels)
            innerMd.append(m); innerTx.append(t)
            if (first(r, "t").isDefined) sawText = true
          }
          val im = innerMd.toString.trim
          target match {
            case Some(u) if im.nonEmpty => md.append(s"[$im]($u)")
            case _ => md.append(innerMd)
          }
          tx.append(innerTx)
        case "smartTag" | "ins" => // transparent containers
          kids(c, "r").foreach(handleRun)
        case _ => // pPr, proofErr, bookmarkStart, fldSimple internals …
      }
      case _ =>
    }
    (md.toString, tx.toString, sawDrawing && !sawText, firstAlt)
  }

  /** w:tbl → one ("table", 0, pipeMarkdown, joinedCellText) element
    * (same rendering contract as the HTML reader's tableElement:
    * first row is the header, `---` separator, cells joined for text). */
  private def tableElement(tbl: XNode, rels: Map[String, String])
      : Option[(String, Int, String, String)] = {
    val rows = kids(tbl, "tr").map { tr =>
      kids(tr, "tc").flatMap { tc =>
        val cellMd = new StringBuilder; val cellTx = new StringBuilder
        kids(tc).foreach { child =>
          // p → rendered runs; a NESTED w:tbl flattens to its joined
          // cell text (pipe markdown inside a cell would break the
          // outer table's rendering; losing the text would be worse) —
          // recursion is bounded by the XML parse depth cap
          val (m, t) = child.name match {
            case "p" =>
              val (m0, t0, _, _) = renderParagraph(child, rels)
              (m0, t0)
            case "tbl" =>
              val t0 = tableElement(child, rels).map(_._4).getOrElse("")
              (t0, t0)
            case _ => ("", "")
          }
          if (cellMd.nonEmpty && m.nonEmpty) cellMd.append(' ')
          if (cellTx.nonEmpty && t.nonEmpty) cellTx.append(' ')
          cellMd.append(m); cellTx.append(t)
        }
        // merged cells (real Word exports use them constantly):
        // w:gridSpan=N keeps column alignment via N-1 empty pads;
        // a w:vMerge continuation (no val, or val="continue") renders
        // empty — its text already appeared in the "restart" cell above
        val pr = first(tc, "tcPr")
        val span = pr.flatMap(first(_, "gridSpan"))
          .flatMap(_.attrs.get("val")).flatMap(_.toIntOption)
          .getOrElse(1).max(1).min(64)
        val vCont = pr.flatMap(first(_, "vMerge"))
          .exists(!_.attrs.get("val").contains("restart"))
        val cell =
          if (vCont) ("", "")
          else (collapse(cellMd.toString), collapse(cellTx.toString))
        cell +: Seq.fill(span - 1)(("", ""))
      }
    }
    tableFromGrid(rows)
  }

  /** Parse one DOCX binary into ordered (kind, level, markdown, text) —
    * the same tuple stream [[MarkdownElementReader.parseBlocks]] and
    * [[HtmlElementReader.parseBlocks]] emit. */
  def parseBlocks(docx: Array[Byte]): Seq[(String, Int, String, String)] = {
    if (docx == null || docx.length < 4) return Nil
    val parts = zipParts(docx,
      Set("word/document.xml", "word/_rels/document.xml.rels",
        "word/styles.xml"))
    val docXml = parts.get("word/document.xml").flatMap(parseXml)
    if (docXml.isEmpty) return Nil
    val rels = parts.get("word/_rels/document.xml.rels")
      .map(parseRels).getOrElse(Map.empty)
    val styles = parts.get("word/styles.xml")
      .map(parseStyles).getOrElse(Map.empty)
    val body = first(docXml.get, "body").getOrElse(docXml.get)
    val out = ArrayBuffer.empty[(String, Int, String, String)]

    def walkBlocks(container: XNode): Unit = kids(container).foreach { c =>
      c.name match {
        case "p" =>
          val style = first(c, "pPr").flatMap(first(_, "pStyle"))
            .flatMap(_.attrs.get("val")).getOrElse("")
          val (kind, level) = resolveStyleKind(style, styles)
          val (mdRaw, txRaw, onlyDrawings, alt) = renderParagraph(c, rels)
          if (kind == "code") {
            val bodyTx = txRaw.replaceAll("^\\n|\\n$", "")
            if (bodyTx.trim.nonEmpty)
              out += (("code", 0, "```\n" + bodyTx + "\n```", bodyTx))
          } else if (onlyDrawings) {
            // standalone image paragraph (the markdown reader's
            // StandaloneImage): alt text is the element text, like the
            // reference's AlternativeText
            out += (("image", 0, collapse(mdRaw), collapse(alt)))
          } else {
            val md = collapse(mdRaw); val tx = collapse(txRaw)
            if (md.nonEmpty || tx.nonEmpty) {
              val hdMd =
                if (kind == "header") ("#" * level) + " " + md else md
              out += ((kind, level, hdMd, tx))
            }
          }
        case "tbl" => tableElement(c, rels).foreach(out += _)
        case "sdt" => // structured document tag: content is transparent
          first(c, "sdtContent").foreach(walkBlocks)
        case _ => // sectPr, bookmarks, proofing state …
      }
    }
    walkBlocks(body)
    out.toSeq
  }

  /** documents(doc_id, content: binary) → Dataset[DocElement], one row
    * per block — the same contract as [[MarkdownElementReader.elements]]
    * / [[HtmlElementReader.elements]] (page and metadata provenance
    * included), so the whole downstream pipeline is reader-agnostic. */
  def elements(spark: SparkSession, documents: DataFrame,
               idCol: String = "doc_id", contentCol: String = "content",
               pageCol: Option[String] = None,
               metaCols: Seq[String] = Nil): Dataset[DocElement] =
    ElementFrame.binary(documents, idCol, contentCol, pageCol, metaCols) {
      (id, bytes, page, meta) => ElementFrame.numbered(id, parseBlocks(bytes), page, meta)
    }

  // ------------------------------------------------------------------
  // Deterministic synthesis (specs + the i_docx_elements driver row):
  // a minimal valid OOXML package built from block descriptions. The
  // writer exists so the reader can be exercised corpus-wide against
  // a hash-exact oracle without binary fixtures in the repo.
  // ------------------------------------------------------------------
  sealed trait SynthBlock
  final case class SHeading(level: Int, text: String) extends SynthBlock
  final case class SPara(runs: Seq[SRun]) extends SynthBlock
  final case class SList(items: Seq[String]) extends SynthBlock
  final case class SImage(alt: String) extends SynthBlock
  final case class STable(rows: Seq[Seq[String]]) extends SynthBlock
  final case class SFooterPara(text: String) extends SynthBlock
  final case class SCode(text: String) extends SynthBlock
  final case class SRun(text: String, bold: Boolean = false,
                        italic: Boolean = false, link: Option[String] = None)
  object SPara {
    def apply(text: String): SPara = SPara(Seq(SRun(text)))
  }

  /** Build a minimal DOCX package (deterministic bytes for fixed
    * input: zip entry times pinned, insertion order fixed). */
  def synthesize(blocks: Seq[SynthBlock]): Array[Byte] = {
    val rels = ArrayBuffer.empty[(String, String, String)] // id, type, target
    var nextRel = 1
    def relId(tpe: String, target: String): String = {
      val id = s"rId$nextRel"; nextRel += 1
      rels += ((id, tpe, target)); id
    }
    def runXml(r: SRun): String = {
      val props =
        (if (r.bold) "<w:b/>" else "") + (if (r.italic) "<w:i/>" else "")
      val rPr = if (props.nonEmpty) s"<w:rPr>$props</w:rPr>" else ""
      val run = s"""<w:r>$rPr<w:t xml:space="preserve">${xesc(r.text)}</w:t></w:r>"""
      r.link match {
        case Some(url) =>
          val id = relId("hyperlink", url)
          s"""<w:hyperlink r:id="$id">$run</w:hyperlink>"""
        case None => run
      }
    }
    def pXml(style: Option[String], numbered: Boolean, runs: Seq[SRun]): String = {
      val ppr = {
        val s = style.map(v => s"""<w:pStyle w:val="$v"/>""").getOrElse("")
        val n = if (numbered)
          """<w:numPr><w:ilvl w:val="0"/><w:numId w:val="1"/></w:numPr>"""
        else ""
        if (s.nonEmpty || n.nonEmpty) s"<w:pPr>$s$n</w:pPr>" else ""
      }
      s"<w:p>$ppr${runs.map(runXml).mkString}</w:p>"
    }
    val bodyXml = blocks.map {
      case SHeading(level, text) =>
        pXml(Some(s"Heading$level"), numbered = false, Seq(SRun(text)))
      case SPara(runs) => pXml(None, numbered = false, runs)
      case SList(items) =>
        items.map(t => pXml(None, numbered = true, Seq(SRun(t)))).mkString
      case SImage(alt) =>
        val id = relId("image", "media/image1.png")
        s"""<w:p><w:r><w:drawing><wp:inline><wp:docPr id="1" name="Picture 1" descr="${xesc(alt)}"/>""" +
          s"""<a:graphic><a:graphicData><pic:pic><pic:blipFill><a:blip r:embed="$id"/>""" +
          """</pic:blipFill></pic:pic></a:graphicData></a:graphic></wp:inline></w:drawing></w:r></w:p>"""
      case STable(rows) =>
        val trs = rows.map { cells =>
          "<w:tr>" + cells.map(c =>
            s"<w:tc>${pXml(None, numbered = false, Seq(SRun(c)))}</w:tc>").mkString +
            "</w:tr>"
        }.mkString
        s"<w:tbl>$trs</w:tbl>"
      case SFooterPara(text) =>
        pXml(Some("Footer"), numbered = false, Seq(SRun(text)))
      case SCode(text) =>
        pXml(Some("Code"), numbered = false, Seq(SRun(text)))
    }.mkString
    val documentXml =
      XmlDecl +
        """<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"""" +
        """ xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"""" +
        """ xmlns:wp="http://schemas.openxmlformats.org/drawingml/2006/wordprocessingDrawing"""" +
        """ xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"""" +
        """ xmlns:pic="http://schemas.openxmlformats.org/drawingml/2006/picture">""" +
        s"<w:body>$bodyXml</w:body></w:document>"
    zipPackage(Seq(
      "[Content_Types].xml" -> contentTypesXml("/word/document.xml",
        "application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"),
      "word/document.xml" -> documentXml,
      "word/_rels/document.xml.rels" -> relsXml(rels.toSeq)))
  }
}
