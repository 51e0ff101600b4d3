package graft.sources

import graft.model.DocElement
import graft.sources.ElementFrame.{collapse, tableFromGrid}
import graft.sources.Ooxml._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** PPTX → structural elements, in-process and dependency-free: the
  * presentation leg of the MarkItDownReader twin (the reference routes
  * pptx through the markitdown CLI — src/Microsoft.Extensions
  * .DataIngestion.MarkItDown/MarkItDownReader.cs:51-74 — which walks
  * slides into markdown and re-parses; this closes the last common
  * OOXML format graft could not read in-process). PresentationML is
  * another OOXML zip, covered by the shared secured container+StAX
  * machinery ([[Ooxml]]) — no new dependency.
  *
  * Emits the SAME (kind, level, markdown, text) element stream as the
  * other readers, with the slide number carried as the page number
  * (slides are the natural page unit, exactly like the PDF leg), so
  * every processor/chunker/enricher downstream is reader-agnostic.
  * Parsing runs inside a typed flatMap: map-only, no shuffle, at any
  * corpus size.
  *
  * Mapping (PresentationML → elements), slides in p:sldIdLst order:
  *   - title placeholder (p:ph type="title"|"ctrTitle") → `header`
  *     level 1 (a slide title is the slide's H1)
  *   - body placeholders and plain text shapes → one `paragraph`
  *     element per a:p (bullet levels flatten — list-item leaves,
  *     like the DOCX numPr path); bold/italic run properties render
  *     as markdown
  *   - a:tbl inside a graphicFrame → one `table` element (pipe
  *     markdown, first row = header — the shared table contract)
  *   - p:pic → `image` element (text = cNvPr @descr alt falling back
  *     to @name — the reference's AlternativeText, mirroring
  *     DocumentIntelligenceReader.cs:182-190)
  *   - ph type="ftr" → `footer`; dt / sldNum placeholders are
  *     machine furniture and are skipped
  *   - group shapes (p:grpSp) walk transparently in document order
  *   - notes (ppt/notesSlides via each slide's rels) → `footer`
  *     elements after the slide's content, one per a:p (the
  *     footer-or-paragraph choice documented: notes annotate the
  *     slide the way a footer annotates a page)
  *
  * Robustness contract (one bad deck must degrade, never throw):
  * corrupt zip, missing presentation.xml, malformed slide XML, or a
  * zip-bomb part all yield the elements parsed so far; a slide whose
  * part is missing contributes nothing.
  */
object PptxElementReader {

  private def relsTyped(bytes: Array[Byte]): Seq[(String, String, String)] =
    parseXml(bytes) match {
      case Some(root) =>
        kids(root, "Relationship").flatMap { rel =>
          for (id <- rel.attrs.get("Id"); tpe <- rel.attrs.get("Type");
               t <- rel.attrs.get("Target")) yield (id, tpe, t)
        }
      case None => Nil
    }

  /** One a:r → (markdown, text): a:t content, b/i run props as
    * markdown, a:br as a space. */
  private def renderRun(r: XNode): (String, String) = {
    val tx = kids(r, "t").map(allText).mkString
    if (tx.isEmpty) return ("", "")
    val rPr = first(r, "rPr")
    def flag(k: String) = rPr.exists(_.attrs.get(k).exists(v => v == "1" || v == "true"))
    var md = tx
    val inner = md.trim
    if (inner.nonEmpty) {
      if (flag("i")) md = s"*$inner*"
      if (flag("b")) md = s"**${md.trim}**"
    }
    (md, tx)
  }

  /** One a:p → (markdown, text) with runs and breaks in order. */
  private def renderPara(p: XNode): (String, String) = {
    val md = new StringBuilder; val tx = new StringBuilder
    p.children.foreach {
      case c: XNode => c.name match {
        case "r" =>
          val (m, t) = renderRun(c); md.append(m); tx.append(t)
        case "br" => md.append(' '); tx.append(' ')
        case "fld" => // slide-number/date fields: machine furniture
        case _ =>
      }
      case _ =>
    }
    (collapse(md.toString), collapse(tx.toString))
  }

  /** The placeholder type of a shape (p:nvSpPr/p:nvPr/p:ph @type),
    * "" when the shape is a plain text box. */
  private def phType(sp: XNode): String =
    first(sp, "nvSpPr").flatMap(first(_, "nvPr")).flatMap(first(_, "ph"))
      .flatMap(_.attrs.get("type")).getOrElse("")

  /** a:tbl → pipe-markdown table element via the shared grid
    * contract; each a:tc's paragraphs join with spaces. */
  private def tableElement(tbl: XNode): Option[(String, Int, String, String)] = {
    val rows = kids(tbl, "tr").map { tr =>
      kids(tr, "tc").map { tc =>
        val cell = first(tc, "txBody").map { tb =>
          kids(tb, "p").map(renderPara).filter(_._2.nonEmpty)
        }.getOrElse(Nil)
        (collapse(cell.map(_._1).mkString(" ")),
          collapse(cell.map(_._2).mkString(" ")))
      }
    }
    tableFromGrid(rows)
  }

  /** Walk one spTree (slide or notes) in document order. `noteMode`
    * maps every text paragraph to footer (the notes contract). */
  private def walkTree(tree: XNode, rels: Map[String, String],
                       noteMode: Boolean,
                       out: ArrayBuffer[(String, Int, String, String)]): Unit = {
    kids(tree).foreach { c =>
      c.name match {
        case "sp" =>
          val tpe = phType(c)
          val isTitle = tpe == "title" || tpe == "ctrTitle"
          val skip = tpe == "sldNum" || tpe == "dt" ||
            (noteMode && tpe != "body" && tpe.nonEmpty)
          if (!skip) {
            val paras = first(c, "txBody")
              .map(tb => kids(tb, "p").map(renderPara)).getOrElse(Nil)
              .filter(p => p._1.nonEmpty || p._2.nonEmpty)
            if (isTitle && !noteMode) {
              val md = collapse(paras.map(_._1).mkString(" "))
              val tx = collapse(paras.map(_._2).mkString(" "))
              if (tx.nonEmpty) out += (("header", 1, s"# $md", tx))
            } else {
              val kind = if (noteMode || tpe == "ftr") "footer" else "paragraph"
              paras.foreach { case (md, tx) => out += ((kind, 0, md, tx)) }
            }
          }
        case "pic" =>
          if (!noteMode) {
            val cNvPr = first(c, "nvPicPr").flatMap(first(_, "cNvPr"))
            val alt = cNvPr.flatMap(p => p.attrs.get("descr").filter(_.nonEmpty)
              .orElse(p.attrs.get("name"))).getOrElse("")
            def find(n: XNode, name: String): Option[XNode] =
              if (n.name == name) Some(n)
              else kids(n).iterator.flatMap(find(_, name)).nextOption()
            val target = find(c, "blip").flatMap(_.attrs.get("embed"))
              .flatMap(rels.get).getOrElse("")
            out += (("image", 0, s"![$alt]($target)", collapse(alt)))
          }
        case "graphicFrame" =>
          def findTbl(n: XNode): Option[XNode] =
            if (n.name == "tbl") Some(n)
            else kids(n).iterator.flatMap(findTbl).nextOption()
          findTbl(c).flatMap(tableElement).foreach(out += _)
        case "grpSp" => walkTree(c, rels, noteMode, out)
        case _ =>
      }
    }
  }

  /** Parse one PPTX binary into ordered
    * (kind, level, markdown, text, slide) — the PDF-leg tuple stream
    * with the slide number as the page. */
  def parseBlocks(pptx: Array[Byte]): Seq[(String, Int, String, String, Int)] = {
    if (pptx == null || pptx.length < 4) return Nil
    val fixed = Set("ppt/presentation.xml", "ppt/_rels/presentation.xml.rels")
    val parts = zipParts(pptx, name => fixed(name) ||
      name.startsWith("ppt/slides/") || name.startsWith("ppt/notesSlides/"))
    val pres = parts.get("ppt/presentation.xml").flatMap(parseXml)
      .getOrElse(return Nil)
    val presRels = parts.get("ppt/_rels/presentation.xml.rels")
      .map(parseRels).getOrElse(Map.empty)
    val slideTargets = first(pres, "sldIdLst")
      .map(kids(_, "sldId")).getOrElse(Nil)
      .flatMap(_.attrs.get("id").flatMap(presRels.get))
      .map(resolveTarget("ppt/", _))
    val out = ArrayBuffer.empty[(String, Int, String, String, Int)]
    slideTargets.zipWithIndex.foreach { case (target, i) =>
      val slideNo = i + 1
      val slideDir = target.substring(0, target.lastIndexOf('/') + 1)
      val relsName = slideDir + "_rels/" +
        target.substring(target.lastIndexOf('/') + 1) + ".rels"
      val slideRels = parts.get(relsName).map(relsTyped).getOrElse(Nil)
      val relMap = slideRels.map { case (id, _, t) =>
        id -> resolveTarget(slideDir, t)
      }.toMap
      val blocks = ArrayBuffer.empty[(String, Int, String, String)]
      parts.get(target).flatMap(parseXml).foreach { sld =>
        first(sld, "cSld").flatMap(first(_, "spTree"))
          .foreach(walkTree(_, relMap, noteMode = false, blocks))
      }
      // notes after the slide content, as footer elements
      slideRels.find(_._2.endsWith("/notesSlide")).foreach { case (_, _, t) =>
        val notesName = resolveTarget(slideDir, t)
        parts.get(notesName).flatMap(parseXml).foreach { nt =>
          first(nt, "cSld").flatMap(first(_, "spTree"))
            .foreach(walkTree(_, relMap, noteMode = true, blocks))
        }
      }
      blocks.foreach { case (k, l, m, t) => out += ((k, l, m, t, slideNo)) }
    }
    out.toSeq
  }

  /** documents(doc_id, content: binary) → Dataset[DocElement], slide
    * number as page_number — the [[PdfElementReader.elements]] twin. */
  def elements(spark: SparkSession, documents: DataFrame,
               idCol: String = "doc_id", contentCol: String = "content",
               metaCols: Seq[String] = Nil): Dataset[DocElement] =
    ElementFrame.binary(documents, idCol, contentCol, None, metaCols) {
      (id, bytes, _, meta) => ElementFrame.paged(id, parseBlocks(bytes), meta)
    }

  // ------------------------------------------------------------------
  // Deterministic synthesis (specs + the i_pptx_elements driver row) —
  // the same fixture-free oracle pattern as the DOCX/XLSX writers.
  // ------------------------------------------------------------------
  sealed trait PBlock
  final case class PTitle(text: String) extends PBlock
  final case class PBody(paras: Seq[String]) extends PBlock
  final case class PImage(alt: String) extends PBlock
  final case class PTable(rows: Seq[Seq[String]]) extends PBlock
  final case class PSlide(blocks: Seq[PBlock], notes: Seq[String] = Nil)

  private def para(text: String): String =
    s"""<a:p><a:r><a:t>${xesc(text)}</a:t></a:r></a:p>"""

  private def sp(ph: String, id: Int, paras: Seq[String]): String = {
    val phXml = if (ph.isEmpty) "" else s"""<p:ph type="$ph"/>"""
    s"""<p:sp><p:nvSpPr><p:cNvPr id="$id" name="Shape $id"/><p:cNvSpPr/>""" +
      s"""<p:nvPr>$phXml</p:nvPr></p:nvSpPr><p:spPr/>""" +
      s"""<p:txBody><a:bodyPr/>${paras.map(para).mkString}</p:txBody></p:sp>"""
  }

  /** Build a minimal PPTX package (deterministic bytes for fixed
    * input: pinned zip times, fixed part order). */
  def synthesize(slides: Seq[PSlide]): Array[Byte] = {
    val slideParts = ArrayBuffer.empty[(String, String)]
    slides.zipWithIndex.foreach { case (slide, i) =>
      val n = i + 1
      var shapeId = 1
      val shapes = slide.blocks.map { b =>
        shapeId += 1
        b match {
          case PTitle(t) => sp("title", shapeId, Seq(t))
          case PBody(ps) => sp("body", shapeId, ps)
          case PImage(alt) =>
            s"""<p:pic><p:nvPicPr><p:cNvPr id="$shapeId" name="Picture $shapeId" descr="${xesc(alt)}"/>""" +
              """<p:cNvPicPr/><p:nvPr/></p:nvPicPr><p:blipFill>""" +
              s"""<a:blip r:embed="rIdImg$n"/></p:blipFill><p:spPr/></p:pic>"""
          case PTable(rows) =>
            val trs = rows.map { cells =>
              """<a:tr h="370840">""" + cells.map(c =>
                s"""<a:tc><a:txBody><a:bodyPr/>${para(c)}</a:txBody></a:tc>""").mkString +
                "</a:tr>"
            }.mkString
            s"""<p:graphicFrame><p:nvGraphicFramePr><p:cNvPr id="$shapeId" name="Table $shapeId"/>""" +
              """<p:cNvGraphicFramePr/><p:nvPr/></p:nvGraphicFramePr>""" +
              """<a:graphic><a:graphicData uri="http://schemas.openxmlformats.org/drawingml/2006/table">""" +
              s"""<a:tbl>$trs</a:tbl></a:graphicData></a:graphic></p:graphicFrame>"""
        }
      }.mkString
      val slideXml =
        XmlDecl +
          """<p:sld xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main"""" +
          """ xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"""" +
          """ xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
          s"""<p:cSld><p:spTree>$shapes</p:spTree></p:cSld></p:sld>"""
      slideParts += (s"ppt/slides/slide$n.xml" -> slideXml)
      if (slide.notes.nonEmpty) {
        val notesXml =
          XmlDecl +
            """<p:notes xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main"""" +
            """ xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main">""" +
            s"""<p:cSld><p:spTree>${sp("body", 2, slide.notes)}</p:spTree></p:cSld></p:notes>"""
        slideParts += (s"ppt/notesSlides/notesSlide$n.xml" -> notesXml)
        slideParts += (s"ppt/slides/_rels/slide$n.xml.rels" ->
          relsXml(Seq((s"rIdN$n", "notesSlide", s"../notesSlides/notesSlide$n.xml"))))
      }
    }
    val sldIds = slides.indices.map { i =>
      s"""<p:sldId id="${256 + i}" r:id="rId${i + 1}"/>"""
    }.mkString
    val presXml =
      XmlDecl +
        """<p:presentation xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main"""" +
        """ xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
        s"""<p:sldIdLst>$sldIds</p:sldIdLst></p:presentation>"""
    zipPackage(
      Seq("[Content_Types].xml" -> contentTypesXml("/ppt/presentation.xml",
          "application/vnd.openxmlformats-officedocument.presentationml.presentation.main+xml"),
        "ppt/presentation.xml" -> presXml,
        "ppt/_rels/presentation.xml.rels" -> relsXml(slides.indices.map { i =>
          (s"rId${i + 1}", "slide", s"slides/slide${i + 1}.xml")
        })) ++ slideParts)
  }
}
