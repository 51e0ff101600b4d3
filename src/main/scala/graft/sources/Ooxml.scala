package graft.sources

import scala.collection.mutable.ArrayBuffer

/** Shared OOXML plumbing for the in-process Office readers
  * ([[DocxElementReader]], [[XlsxElementReader]], [[PptxElementReader]]).
  * The reference reaches all three formats through one MarkItDown
  * conversion step (src/Microsoft.Extensions.DataIngestion.MarkItDown/
  * MarkItDownReader.cs:51-74); graft parses each in-process, and every
  * OOXML format is the same physical shape — a zip of XML parts — so
  * the container handling, the secured StAX parse, the
  * namespace-stripped tree and the synthesizers' package parts live
  * here once.
  *
  * Security contract (crawled documents are untrusted): per-part
  * decompression is capped ([[MaxPartBytes]] — zip bombs), DTDs and
  * external entities are OFF (XXE), and tree depth is capped
  * ([[MaxDepth]] — stack abuse). Any damage degrades to
  * what-parsed-so-far, never an exception.
  */
private[graft] object Ooxml {

  /** Decompression cap per zip part — a crawl-sourced zip bomb must
    * not OOM an executor; a real OOXML part is a few MB. */
  val MaxPartBytes: Int = 64 << 20

  /** XML tree depth cap (flatten beyond): OOXML nests shallowly in
    * practice; a crafted deep document must not blow the parse or
    * walker stack (same guard as the HTML reader). */
  val MaxDepth = 256

  // ------------------------------------------------------------------
  // Zip container
  // ------------------------------------------------------------------
  /** Extract the zip parts matching `wanted`, bounded by
    * [[MaxPartBytes]] each. Returns what was readable — a corrupt
    * central directory or truncated stream yields the entries decoded
    * before the damage. */
  def zipParts(bytes: Array[Byte],
               wanted: String => Boolean): Map[String, Array[Byte]] = {
    val out = Map.newBuilder[String, Array[Byte]]
    val zin = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      var entry = zin.getNextEntry
      while (entry != null) {
        val name = entry.getName
        if (wanted(name)) {
          val buf = new java.io.ByteArrayOutputStream
          val chunk = new Array[Byte](8192)
          var n = zin.read(chunk)
          var ok = true
          while (n >= 0 && ok) {
            buf.write(chunk, 0, n)
            if (buf.size > MaxPartBytes) ok = false // bomb guard: drop part
            else n = zin.read(chunk)
          }
          if (ok) out += name -> buf.toByteArray
        }
        entry = zin.getNextEntry
      }
    } catch { case _: Exception => /* truncated/corrupt: keep what we have */ }
    finally zin.close()
    out.result()
  }

  /** Zip entry NAMES only (headers are read, payloads are skipped
    * undecompressed) — the cheap first pass format sniffing uses. */
  def zipEntryNames(bytes: Array[Byte], max: Int = 4096): Seq[String] = {
    val names = ArrayBuffer.empty[String]
    val zin = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      var entry = zin.getNextEntry
      while (entry != null && names.size < max) {
        names += entry.getName
        entry = zin.getNextEntry
      }
    } catch { case _: Exception => /* truncated: keep what we have */ }
    finally zin.close()
    names.toSeq
  }

  // ------------------------------------------------------------------
  // Minimal XML tree (StAX, secured)
  // ------------------------------------------------------------------
  final case class XNode(name: String,
                         attrs: Map[String, String],
                         children: ArrayBuffer[AnyRef]) // XNode | String

  // one factory per executor thread: XMLInputFactory.newInstance()
  // runs an SPI classpath scan — per-DOCUMENT it dominated the parse
  // (the sf1 i_docx_elements row spent ~20s of a 380s inventory in
  // factory lookups); factories aren't guaranteed thread-safe, so
  // ThreadLocal rather than a shared val
  private val xmlFactoryTL =
    ThreadLocal.withInitial[javax.xml.stream.XMLInputFactory] { () =>
      val f = javax.xml.stream.XMLInputFactory.newInstance()
      // XXE hardening: crawled OOXML is untrusted content
      f.setProperty(javax.xml.stream.XMLInputFactory.SUPPORT_DTD, false)
      f.setProperty(javax.xml.stream.XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
      f
    }

  /** Parse XML bytes into a namespace-stripped tree (local names only:
    * OOXML prefixes are fixed in practice, and keying on local names
    * keeps walkers independent of prefix spelling). Whitespace-only
    * character runs are kept only under text-bearing leaves (w:t /
    * a:t / t — Word, Drawing, and SpreadsheetML share the local
    * name). Malformed XML → None. */
  def parseXml(bytes: Array[Byte]): Option[XNode] = {
    import javax.xml.stream.XMLStreamConstants._
    try {
      val r = xmlFactoryTL.get().createXMLStreamReader(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val root = XNode("#root", Map.empty, ArrayBuffer.empty)
        var stack: List[XNode] = List(root)
        var depth = 0
        // opens appended-but-not-pushed past the depth cap: their
        // matching closes must be swallowed, not pop real ancestors
        // (else one >MaxDepth spike re-parents the rest of the body)
        var skippedDepth = 0
        while (r.hasNext) {
          r.next() match {
            case START_ELEMENT =>
              val attrs = (0 until r.getAttributeCount).map { i =>
                r.getAttributeLocalName(i) -> r.getAttributeValue(i)
              }.toMap
              val node = XNode(r.getLocalName, attrs, ArrayBuffer.empty)
              stack.head.children += node
              // depth cap: append-but-don't-push flattens crafted nesting
              if (depth < MaxDepth) { stack = node :: stack; depth += 1 }
              else skippedDepth += 1
            case END_ELEMENT =>
              if (skippedDepth > 0) skippedDepth -= 1
              else if (stack.tail.nonEmpty) { stack = stack.tail; depth -= 1 }
            case CHARACTERS | CDATA =>
              if (!r.isWhiteSpace || stack.head.name == "t")
                stack.head.children += r.getText
            case _ =>
          }
        }
        root.children.collectFirst { case n: XNode => n }
      } finally r.close()
    } catch { case _: Exception => None }
  }

  def kids(n: XNode): Seq[XNode] =
    n.children.collect { case c: XNode => c }.toSeq
  def kids(n: XNode, name: String): Seq[XNode] =
    n.children.collect { case c: XNode if c.name == name => c }.toSeq
  def first(n: XNode, name: String): Option[XNode] =
    n.children.collectFirst { case c: XNode if c.name == name => c }

  /** All character data under `n`, concatenated in document order —
    * the text of a rich-text run container (xlsx `si`, pptx `a:p`). */
  def allText(n: XNode): String = {
    val sb = new StringBuilder
    def walk(x: XNode): Unit = x.children.foreach {
      case s: String => sb.append(s)
      case c: XNode => walk(c)
    }
    walk(n)
    sb.toString
  }

  /** OPC relationships part → Id → Target. */
  def parseRels(bytes: Array[Byte]): Map[String, String] =
    parseXml(bytes) match {
      case Some(root) =>
        kids(root, "Relationship").flatMap { rel =>
          for (id <- rel.attrs.get("Id"); t <- rel.attrs.get("Target"))
            yield id -> t
        }.toMap
      case None => Map.empty
    }

  /** Resolve a relationship target against the part directory it is
    * relative to ("worksheets/sheet1.xml" under "xl/" →
    * "xl/worksheets/sheet1.xml"; a leading "/" is package-absolute). */
  def resolveTarget(baseDir: String, target: String): String = {
    if (target.startsWith("/")) target.drop(1)
    else {
      // normalize ../ hops (slides → notesSlides rels use them)
      var parts = (baseDir.split("/").filter(_.nonEmpty) ++
        target.split("/")).toList
      val out = ArrayBuffer.empty[String]
      parts.foreach {
        case ".." => if (out.nonEmpty) out.remove(out.size - 1)
        case "." =>
        case p => out += p
      }
      out.mkString("/")
    }
  }

  /** XML-escape for the deterministic synthesizers. */
  def xesc(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case '"' => sb.append("&quot;")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** The XML declaration every synthesized part starts with. */
  val XmlDecl = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""

  /** `[Content_Types].xml` for a synthesized package: xml parts by
    * default, plus the one main part's override. */
  def contentTypesXml(mainPart: String, contentType: String): String =
    XmlDecl +
      """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
      """<Default Extension="xml" ContentType="application/xml"/>""" +
      s"""<Override PartName="$mainPart" ContentType="$contentType"/>""" +
      "</Types>"

  /** An OPC relationships part from (id, type, target) triples; `type`
    * is the last segment of the officeDocument relationship URI
    * ("hyperlink", "image", "worksheet", "slide", "notesSlide"). */
  def relsXml(rels: Seq[(String, String, String)]): String =
    XmlDecl +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      rels.map { case (id, tpe, target) =>
        s"""<Relationship Id="$id" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/$tpe" Target="$target"/>"""
      }.mkString + "</Relationships>"

  /** Deterministic zip writer for the synthesizers: pinned entry
    * times, fixed insertion order, BEST_SPEED (the parse side still
    * exercises inflate; default compression made corpus-wide
    * packaging the most expensive bench row). */
  def zipPackage(entries: Seq[(String, String)]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream
    val zos = new java.util.zip.ZipOutputStream(bos)
    zos.setLevel(java.util.zip.Deflater.BEST_SPEED)
    entries.foreach { case (name, content) =>
      val e = new java.util.zip.ZipEntry(name)
      e.setTime(0L) // pinned: byte-identical output for fixed input
      zos.putNextEntry(e)
      zos.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }
}
