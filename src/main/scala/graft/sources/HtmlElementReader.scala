package graft.sources

import graft.model.DocElement
import graft.sources.ElementFrame.{collapse, tableFromGrid}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** HTML → structural elements: the in-process twin of the reference's
  * MarkItDownReader (src/Microsoft.Extensions.DataIngestion.MarkItDown/
  * MarkItDownReader.cs), which shells out to the `markitdown` CLI to
  * turn HTML/DOCX/PDF into markdown and then parses that markdown into
  * the element tree. graft keeps the same contract — HTML in, the SAME
  * element rows [[MarkdownElementReader]] emits out (header/paragraph/
  * table/image/footer/code, with a markdown rendering per element) —
  * but parses in-process with a dependency-free tolerant HTML parser,
  * so the first real-world format a user hits works without any
  * external service. (The [[ExternalReader]] seam remains the adapter
  * for formats that genuinely need one — PDF, DOCX.)
  *
  * Like the markdown reader, parsing runs inside a typed flatMap: one
  * document row in, N element rows out — a narrow, shuffle-free
  * transform, so parsing 100 TB of HTML is a map-only stage bounded by
  * scan IO.
  *
  * Mapping (mirrors MarkdownReader.cs:128-146 through the
  * EnumerateContent flattening every reference consumer sees):
  *   - h1..h6                  → header (level = n), markdown `#`·n
  *   - p / bare inline runs    → paragraph (inline markdown rendered:
  *                               links, bold, italic, code spans, imgs)
  *   - table                   → one table element (pipe markdown;
  *                               text = cells joined, like the
  *                               markdown reader's cellText)
  *   - img (block position)    → image (text = alt, the reference's
  *                               AlternativeText; after an <hr> it is
  *                               a footer — MapLeafBlockToElement's
  *                               footer-before-image ordering)
  *   - pre                     → code (fenced markdown, body verbatim)
  *   - ul / ol                 → one element per <li> (the reference
  *                               wraps lists in a Section and
  *                               enumeration yields the item leaves —
  *                               MapListBlock:179)
  *   - blockquote / div / section / article / main / body … → children
  *                               flattened (Section semantics)
  *   - <footer> container      → its paragraphs emit as footer kind
  *   - hr                      → skipped; marks the NEXT paragraph/
  *                               image as footer (MarkdownReader.cs:
  *                               104-109 previousWasBreak, so HTML and
  *                               markdown agree on the footer idiom)
  *   - head / script / style / template / comments → dropped
  *
  * Whitespace: HTML collapses runs of whitespace; every non-`pre`
  * element's markdown/text is whitespace-collapsed and trimmed —
  * deterministic and engine-replayable (the i_html_elements oracle
  * replays it as regexp_replace(text, '\s+', ' ')).
  */
object HtmlElementReader {

  // ------------------------------------------------------------------
  // Tolerant DOM: real-crawl HTML is full of unclosed <p>/<li>, stray
  // close tags and unquoted attributes — a strict parser would reject
  // half the corpus. One bad document must degrade, never throw.
  // ------------------------------------------------------------------
  private sealed trait Node
  private final case class Elem(tag: String,
                                attrs: Map[String, String],
                                children: ArrayBuffer[Node]) extends Node
  private final case class Txt(s: String) extends Node

  private val VoidTags = Set("br", "hr", "img", "meta", "link", "input",
    "area", "base", "col", "embed", "source", "track", "wbr", "param")
  private val RawTextTags = Set("script", "style", "template", "textarea")
  private val DroppedTags = Set("script", "style", "template", "head",
    "noscript", "iframe", "textarea", "svg", "canvas", "object", "button",
    "select", "nav")
  // an opening tag in the value set implicitly closes an open key tag
  // (the tolerant-parser core: crawl HTML omits these close tags)
  private val ImplicitClose: Map[String, Set[String]] = Map(
    "p" -> Set("p", "div", "section", "article", "table", "ul", "ol",
      "li", "blockquote", "pre", "h1", "h2", "h3", "h4", "h5", "h6",
      "header", "footer", "main", "aside", "form", "hr"),
    "li" -> Set("li"),
    "tr" -> Set("tr"),
    "td" -> Set("td", "th", "tr"),
    "th" -> Set("td", "th", "tr"),
    "option" -> Set("option"),
    "dt" -> Set("dt", "dd"),
    "dd" -> Set("dt", "dd"))

  private def isNameStart(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  /** Real-crawl pathological nesting guard (tens of thousands of
    * unclosed `<div>`s — ImplicitClose covers p/li/tr but div/section
    * nest freely): beyond this depth new elements are APPENDED but not
    * PUSHED, so they flatten into the capped ancestor instead of
    * growing the open stack. Bounds both the parse stack and every
    * recursive consumer (walk / inlineMd / rawText) — without it a
    * 100k-deep document throws StackOverflowError inside the flatMap
    * and fails the whole task (r7 verdict item 3; fuzz-spec'd). */
  private val MaxDepth = 256

  /** Parse into a tolerant DOM rooted at a synthetic <root>. */
  private def parseDom(html: String): Elem = {
    val root = Elem("root", Map.empty, ArrayBuffer.empty)
    var stack = List(root)
    // open-order stamp per real frame (parallel to `stack`): closes
    // resolve INNERMOST-first across real and retired-virtual opens,
    // and "innermost" is exactly "most recently opened"
    var seqStack: List[Long] = List(0L)
    var seqCounter = 0L
    var depth = 0 // stack.length - 1, tracked to keep the cap O(1)
    // open tags appended-but-not-pushed past the depth cap, innermost
    // first, with their open stamps: their matching closes must be
    // swallowed here, not matched against a real same-named ancestor
    // (else a >MaxDepth spike of nested <div>s pops genuine ancestors
    // all the way to the root and everything after the spike
    // re-parents near the top)
    var skipped: List[(String, Long)] = Nil
    // closes still EXPECTED for unpushed opens whose element was
    // already auto-closed (by a real or implicit pop of the frame they
    // attached under): tag → open stamps, newest first. A late close
    // for one of these is swallowed ONLY while the retired open is
    // newer than every real same-named frame — so it can neither pop
    // a genuine ancestor (the r9 wipe bug) nor shadow the close of a
    // same-named element opened AFTER the retire (the r10 review
    // finding). Bounded at 4×MaxDepth stamps total so crafted bombs
    // can't grow it; past the bound the degrade is the documented
    // flatten.
    val pendingClose = scala.collection.mutable.Map.empty[String, List[Long]]
    var pendingTotal = 0
    def retire(entries: List[(String, Long)]): Unit =
      entries.foreach { case (nm, sq) =>
        if (pendingTotal < 4 * MaxDepth) {
          val (newer, older) = pendingClose.getOrElse(nm, Nil).span(_ > sq)
          pendingClose(nm) = newer ::: sq :: older // keep newest-first
          pendingTotal += 1
        }
      }
    val n = html.length
    var i = 0
    val text = new StringBuilder

    def flushText(): Unit = {
      if (text.nonEmpty) {
        stack.head.children += Txt(text.toString)
        text.clear()
      }
    }

    while (i < n) {
      val c = html.charAt(i)
      if (c == '<' && i + 1 < n) {
        val c1 = html.charAt(i + 1)
        if (c1 == '!' || c1 == '?') { // comment / doctype / PI
          flushText()
          if (html.startsWith("<!--", i)) {
            val end = html.indexOf("-->", i + 4)
            i = if (end < 0) n else end + 3
          } else {
            val end = html.indexOf('>', i)
            i = if (end < 0) n else end + 1
          }
        } else if (c1 == '/') { // close tag
          flushText()
          val end = html.indexOf('>', i)
          val name = (if (end < 0) html.substring(i + 2)
                      else html.substring(i + 2, end)).trim.toLowerCase
          // a close matching an unpushed over-cap open consumes that
          // open (and any unclosed unpushed opens nested inside it)
          // without touching the real stack
          if (skipped.exists(_._1 == name)) {
            // inner unclosed unpushed opens auto-close with this one,
            // but their closes may still arrive — retire, don't drop
            retire(skipped.takeWhile(_._1 != name))
            skipped = skipped.dropWhile(_._1 != name).tail
          } else {
            // innermost-match across real frames and retired virtual
            // opens: the newest same-named open wins this close
            val real = stack.zip(seqStack).find {
              case (e, _) => (e ne root) && e.tag == name
            }
            val pending = pendingClose.getOrElse(name, Nil)
            val virtualWins = pending.headOption.exists(ps =>
              real.forall { case (_, rs) => ps > rs })
            if (virtualWins) {
              // late close for an unpushed open already auto-closed,
              // still the innermost candidate: swallow
              pendingClose(name) = pending.tail
              pendingTotal -= 1
              if (pendingClose(name).isEmpty) pendingClose.remove(name)
            } else if (real.isDefined) {
              // pop to the nearest matching open tag
              while (stack.head.tag != name && stack.head.tag != "root") {
                stack = stack.tail; seqStack = seqStack.tail; depth -= 1
              }
              if (stack.head.tag == name && stack.head.tag != "root") {
                stack = stack.tail; seqStack = seqStack.tail; depth -= 1
              }
              // unpushed opens were descendants of the closed subtree:
              // their elements auto-close, their closes stay expected
              retire(skipped); skipped = Nil
            } // else: stray close, no-op
          }
          i = if (end < 0) n else end + 1
        } else if (isNameStart(c1)) { // open tag
          flushText()
          var j = i + 1
          while (j < n && (isNameStart(html.charAt(j)) ||
            (html.charAt(j) >= '0' && html.charAt(j) <= '9'))) j += 1
          val name = html.substring(i + 1, j).toLowerCase
          // attributes: scan to the closing '>', honoring quotes
          val attrs = Map.newBuilder[String, String]
          var selfClose = false
          var done = false
          while (j < n && !done) {
            html.charAt(j) match {
              case '>' => done = true; j += 1
              case '/' if j + 1 < n && html.charAt(j + 1) == '>' =>
                selfClose = true; done = true; j += 2
              case w if w.isWhitespace => j += 1
              case _ =>
                var k = j
                while (k < n && html.charAt(k) != '=' && html.charAt(k) != '>' &&
                  html.charAt(k) != '/' && !html.charAt(k).isWhitespace) k += 1
                val aname = html.substring(j, k).toLowerCase
                var aval = ""
                if (k < n && html.charAt(k) == '=') {
                  k += 1
                  while (k < n && html.charAt(k).isWhitespace) k += 1
                  if (k < n && (html.charAt(k) == '"' || html.charAt(k) == '\'')) {
                    val q = html.charAt(k)
                    val e2 = html.indexOf(q, k + 1)
                    aval = if (e2 < 0) html.substring(k + 1) else html.substring(k + 1, e2)
                    k = if (e2 < 0) n else e2 + 1
                  } else { // unquoted value
                    val s2 = k
                    while (k < n && !html.charAt(k).isWhitespace && html.charAt(k) != '>') k += 1
                    aval = html.substring(s2, k)
                  }
                }
                if (aname.nonEmpty) attrs += aname -> decodeEntities(aval)
                // guaranteed progress: a bare '/' not followed by '>'
                // (e.g. "<p / x>") consumes no name chars and no '='
                j = if (k > j) k else j + 1
            }
          }
          i = j
          if (RawTextTags.contains(name)) {
            // raw-text content: everything to the matching close tag,
            // dropped (script/style/template) — never parsed as markup.
            // Case-insensitive scan WITHOUT lowercasing the whole
            // document (that would be O(n²) on script-heavy pages).
            val close = "</" + name
            var end = -1
            var k = i
            while (end < 0 && k <= n - close.length) {
              if (html.regionMatches(true, k, close, 0, close.length)) end = k
              else k += 1
            }
            i = if (end < 0) n else {
              val gt = html.indexOf('>', end)
              if (gt < 0) n else gt + 1
            }
          } else if (VoidTags.contains(name) || selfClose) {
            // voids run the implicit-close loop too: browsers close an
            // open <p> at <hr> (and any void that ImplicitClose names),
            // so `<p>text<hr><p>footer` makes the <hr> a SIBLING — the
            // hr-marks-next-block-as-footer idiom survives crawl HTML
            // (r7 advice: the 'hr' entry was unreachable dead code when
            // voids bypassed this loop)
            while (ImplicitClose.get(stack.head.tag).exists(_.contains(name))) {
              stack = stack.tail; seqStack = seqStack.tail; depth -= 1
              retire(skipped); skipped = Nil
            }
            stack.head.children += Elem(name, attrs.result(), ArrayBuffer.empty)
          } else {
            // implicit closes (unclosed <p>, <li>, <tr>, <td> …)
            while (ImplicitClose.get(stack.head.tag).exists(_.contains(name))) {
              stack = stack.tail; seqStack = seqStack.tail; depth -= 1
              retire(skipped); skipped = Nil
            }
            val e = Elem(name, attrs.result(), ArrayBuffer.empty)
            stack.head.children += e
            seqCounter += 1
            // depth cap: append-but-don't-push flattens pathological
            // nesting — children of over-deep elements attach to the
            // capped ancestor, content is kept, recursion stays bounded
            if (depth < MaxDepth) {
              stack = e :: stack; seqStack = seqCounter :: seqStack
              depth += 1
            }
            // bound the ledger at MaxDepth entries so the scans on the
            // close path stay O(MaxDepth) against crafted bombs; past
            // 2×MaxDepth nesting the degrade is the documented flatten
            // (close falls through to the ancestor match)
            else if (skipped.length < MaxDepth)
              skipped = (name, seqCounter) :: skipped
          }
        } else { // '<' followed by junk: literal text
          text.append(c); i += 1
        }
      } else {
        text.append(c); i += 1
      }
    }
    flushText()
    root
  }

  // ------------------------------------------------------------------
  // Entities
  // ------------------------------------------------------------------
  private val Named = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"",
    "apos" -> "'", "nbsp" -> " ", "copy" -> "©", "reg" -> "®",
    "mdash" -> "—", "ndash" -> "–", "hellip" -> "…",
    "lsquo" -> "‘", "rsquo" -> "’", "ldquo" -> "“",
    "rdquo" -> "”", "times" -> "×", "middot" -> "·")

  private val EntityPattern =
    java.util.regex.Pattern.compile("&(#x?[0-9a-fA-F]+|[a-zA-Z][a-zA-Z0-9]{1,30});")

  /** Decode HTML entities (named subset + numeric). Unknown entities
    * pass through verbatim — crawl text is full of bare ampersands. */
  def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val m = EntityPattern.matcher(s)
    // java.lang.StringBuilder: the Scala one lacks the 3-arg
    // (CharSequence, from, to) append and would stringify a tuple
    val sb = new java.lang.StringBuilder
    var last = 0
    while (m.find()) {
      sb.append(s, last, m.start())
      val body = m.group(1)
      val rep =
        if (body.charAt(0) == '#') {
          val cp = try {
            if (body.length > 1 && (body.charAt(1) == 'x' || body.charAt(1) == 'X'))
              Integer.parseInt(body.substring(2), 16)
            else Integer.parseInt(body.substring(1))
          } catch { case _: NumberFormatException => -1 }
          if (cp >= 0 && cp <= 0x10ffff && Character.isValidCodePoint(cp))
            new String(Character.toChars(cp))
          else m.group(0)
        } else Named.getOrElse(body, m.group(0))
      sb.append(rep)
      last = m.end()
    }
    sb.append(s, last, s.length)
    sb.toString
  }

  // ------------------------------------------------------------------
  // Inline rendering: markdown + plain text
  // ------------------------------------------------------------------
  private def inlineMd(n: Node): String = n match {
    case Txt(s) => decodeEntities(s)
    case e: Elem => e.tag match {
      case "br" => " "
      case "img" =>
        val alt = e.attrs.getOrElse("alt", "")
        val src = e.attrs.getOrElse("src", "")
        s"![$alt]($src)"
      case "a" =>
        val inner = e.children.map(inlineMd).mkString
        e.attrs.get("href") match {
          case Some(h) if h.nonEmpty => s"[$inner]($h)"
          case _ => inner
        }
      case "strong" | "b" =>
        val inner = e.children.map(inlineMd).mkString.trim
        if (inner.isEmpty) "" else s"**$inner**"
      case "em" | "i" =>
        val inner = e.children.map(inlineMd).mkString.trim
        if (inner.isEmpty) "" else s"*$inner*"
      case "code" | "kbd" | "samp" =>
        val inner = e.children.map(inlineMd).mkString.trim
        if (inner.isEmpty) "" else s"`$inner`"
      case t if DroppedTags.contains(t) => ""
      case _ => e.children.map(inlineMd).mkString
    }
  }

  private def inlineText(n: Node): String = n match {
    case Txt(s) => decodeEntities(s)
    case e: Elem => e.tag match {
      case "br" => " "
      case "img" => e.attrs.getOrElse("alt", "")
      case t if DroppedTags.contains(t) => ""
      case _ => e.children.map(inlineText).mkString
    }
  }

  // raw text (for <pre>): entities decoded, whitespace PRESERVED
  private def rawText(n: Node): String = n match {
    case Txt(s) => decodeEntities(s)
    case e: Elem => e.children.map(rawText).mkString
  }

  private val BlockTags = Set("h1", "h2", "h3", "h4", "h5", "h6", "p",
    "div", "section", "article", "main", "aside", "header", "footer",
    "table", "ul", "ol", "dl", "li", "blockquote", "pre", "hr", "form",
    "fieldset", "figure", "figcaption", "details", "summary", "address",
    "body", "html")

  /** Is this node a block-level element (vs inline content)? An <img>
    * is inline here by default; block-POSITION images (a <p>/<li>
    * holding only one img, or a direct container child) are recognized
    * positionally by the walker, like the markdown reader's
    * StandaloneImage. */
  private def isBlock(n: Node): Boolean = n match {
    case e: Elem => BlockTags.contains(e.tag)
    case _ => false
  }

  // ------------------------------------------------------------------
  // Block walker
  // ------------------------------------------------------------------
  /** Parse one HTML body into ordered (kind, level, markdown, text) —
    * the same tuple stream [[MarkdownElementReader.parseBlocks]] emits,
    * so every chunker/processor downstream is source-agnostic. */
  def parseBlocks(html: String): Seq[(String, Int, String, String)] = {
    val out = ArrayBuffer.empty[(String, Int, String, String)]
    var afterBreak = false

    def emit(kind: String, level: Int, md: String, text: String): Unit = {
      out += ((kind, level, md, text))
      afterBreak = false
    }

    def tableElement(t: Elem): Unit = {
      // collect rows depth-first (thead/tbody/tfoot transparent),
      // normalizing the grid: colspan=N pads N-1 empty cells so
      // columns stay aligned, rowspan=N reserves the column in the
      // next N-1 rows (the spanning text appears once, continuation
      // slots render empty — the standard markdown degrade)
      val rows = ArrayBuffer.empty[Seq[(String, String)]] // (md, text) per cell
      val carry = scala.collection.mutable.Map.empty[Int, Int] // col → rows left
      def intAttr(c: Elem, name: String): Int =
        c.attrs.get(name).flatMap(_.trim.toIntOption)
          .getOrElse(1).max(1).min(64)
      def collectRows(e: Elem): Unit = e.children.foreach {
        case tr: Elem if tr.tag == "tr" =>
          val cells = ArrayBuffer.empty[(String, String)]
          var col = 0
          def claimCarried(): Unit =
            while (carry.getOrElse(col, 0) > 0) {
              carry(col) -= 1; if (carry(col) == 0) carry.remove(col)
              cells += (("", "")); col += 1
            }
          tr.children.foreach {
            case c: Elem if c.tag == "td" || c.tag == "th" =>
              claimCarried()
              val span = intAttr(c, "colspan")
              val rspan = intAttr(c, "rowspan")
              cells += ((collapse(c.children.map(inlineMd).mkString),
                collapse(c.children.map(inlineText).mkString)))
              if (rspan > 1) carry(col) = rspan - 1
              col += 1
              var k = 1
              while (k < span) {
                cells += (("", ""))
                if (rspan > 1) carry(col) = rspan - 1
                col += 1; k += 1
              }
            case _ =>
          }
          claimCarried() // trailing columns held by a rowspan
          // ragged row shorter than a carried column (gap before the
          // reservation): claimCarried stops at the first gap, so
          // consume every remaining carry at index >= col explicitly,
          // padding the gap cells — otherwise the reservation slips
          // down an extra row and misaligns every later row
          carry.keys.filter(_ >= col).toSeq.sorted.foreach { k =>
            while (col < k) { cells += (("", "")); col += 1 }
            carry(k) -= 1; if (carry(k) == 0) carry.remove(k)
            cells += (("", "")); col += 1
          }
          if (cells.nonEmpty) rows += cells.toSeq
        case g: Elem if Set("thead", "tbody", "tfoot").contains(g.tag) =>
          carry.clear() // rowspan cannot cross a row-group boundary
          collectRows(g)
        case _ =>
      }
      collectRows(t)
      tableFromGrid(rows.toSeq).foreach { case (kind, level, md, text) =>
        emit(kind, level, md, text)
      }
    }

    def walk(children: Seq[Node], inFooter: Boolean): Unit = {
      val para = ArrayBuffer.empty[Node] // pending inline run

      def flushPara(): Unit = {
        if (para.nonEmpty) {
          val md = collapse(para.map(inlineMd).mkString)
          val tx = collapse(para.map(inlineText).mkString)
          if (tx.nonEmpty || md.nonEmpty) {
            val kind = if (inFooter || afterBreak) "footer" else "paragraph"
            emit(kind, 0, md, tx)
          }
          para.clear()
        }
      }

      def paragraphOf(e: Elem): Unit = {
        val md = collapse(e.children.map(inlineMd).mkString)
        val tx = collapse(e.children.map(inlineText).mkString)
        if (tx.nonEmpty || md.nonEmpty)
          emit(if (inFooter || afterBreak) "footer" else "paragraph", 0, md, tx)
      }

      children.foreach {
        case t: Txt => para += t
        case e: Elem => e.tag match {
          case tag if DroppedTags.contains(tag) => // dropped wholesale
          case tag if tag.length == 2 && tag.charAt(0) == 'h' &&
            tag.charAt(1) >= '1' && tag.charAt(1) <= '6' =>
            flushPara()
            val level = tag.charAt(1) - '0'
            val inner = collapse(e.children.map(inlineMd).mkString)
            emit("header", level, ("#" * level) + " " + inner,
              collapse(e.children.map(inlineText).mkString))
          case "p" =>
            flushPara()
            // a <p> whose only content is one <img> is a standalone
            // image (the markdown reader's StandaloneImage); after an
            // <hr> the footer case wins (MapLeafBlockToElement order)
            e.children.filter {
              case Txt(s) => collapse(s).nonEmpty
              case _ => true
            }.toSeq match {
              case Seq(img: Elem) if img.tag == "img" =>
                // footer text mirrors the markdown reader's
                // stripInline("![alt](src)") = alt
                if (inFooter || afterBreak)
                  emit("footer", 0, inlineMd(img),
                    collapse(img.attrs.getOrElse("alt", "")))
                else emit("image", 0, inlineMd(img),
                  collapse(img.attrs.getOrElse("alt", "")))
              case _ => paragraphOf(e)
            }
          case "hr" =>
            flushPara(); afterBreak = true
          case "pre" =>
            flushPara()
            val body = rawText(e).replaceAll("^\\n|\\n$", "")
            emit("code", 0, "```\n" + body + "\n```", body)
          case "img" =>
            // direct container child: standalone image if it STARTS a
            // block (no pending inline run); an img mid-run ("text
            // <img> more") stays inline in its paragraph, like the
            // markdown reader's inline-vs-StandaloneImage split
            if (para.nonEmpty) para += e
            else if (inFooter || afterBreak)
              emit("footer", 0, inlineMd(e),
                collapse(e.attrs.getOrElse("alt", "")))
            else emit("image", 0, inlineMd(e),
              collapse(e.attrs.getOrElse("alt", "")))
          case "table" =>
            flushPara(); tableElement(e)
          case "ul" | "ol" | "dl" =>
            flushPara()
            e.children.foreach {
              case li: Elem if li.tag == "li" || li.tag == "dt" || li.tag == "dd" =>
                li.children.filter {
                  case Txt(s) => collapse(s).nonEmpty
                  case _ => true
                }.toSeq match {
                  case Seq(img: Elem) if img.tag == "img" =>
                    // an image item stays an image element
                    // (MapListBlock → item leaves)
                    emit("image", 0, inlineMd(img),
                      collapse(img.attrs.getOrElse("alt", "")))
                  case kids =>
                    // split the item into its inline run + nested
                    // blocks (nested <ul> items emit as their own
                    // elements — Section flattening)
                    val (blocks, inline) = kids.partition(isBlock)
                    val md = collapse(inline.map(inlineMd).mkString)
                    val tx = collapse(inline.map(inlineText).mkString)
                    if (tx.nonEmpty || md.nonEmpty)
                      emit(if (inFooter) "footer" else "paragraph", 0, md, tx)
                    if (blocks.nonEmpty) walk(blocks.toSeq, inFooter)
                }
              case _ => // stray non-li content in a list: skip
            }
          case "footer" =>
            flushPara(); walk(e.children.toSeq, inFooter = true)
          case "blockquote" | "div" | "section" | "article" | "main" |
               "aside" | "header" | "body" | "html" | "form" | "fieldset" |
               "figure" | "details" | "address" | "li" =>
            // container: if it holds ONLY inline content it reads as a
            // paragraph; otherwise flatten children (Section semantics)
            val meaningful = e.children.filter {
              case Txt(s) => collapse(s).nonEmpty
              case _ => true
            }.toSeq
            if (meaningful.nonEmpty && !meaningful.exists(isBlock)) {
              flushPara()
              meaningful match {
                case Seq(img: Elem) if img.tag == "img" =>
                  if (inFooter || afterBreak)
                    emit("footer", 0, inlineMd(img),
                      collapse(img.attrs.getOrElse("alt", "")))
                  else emit("image", 0, inlineMd(img),
                    collapse(img.attrs.getOrElse("alt", "")))
                case _ =>
                  paragraphOf(e)
              }
            } else {
              flushPara()
              walk(e.children.toSeq, inFooter)
            }
          case "figcaption" | "summary" =>
            flushPara(); paragraphOf(e)
          case _ => // inline element: joins the pending paragraph run
            para += e
        }
      }
      flushPara()
    }

    walk(parseDom(html).children.toSeq, inFooter = false)
    out.toSeq
  }

  /** documents(doc_id, html) → Dataset[DocElement], one row per block —
    * the same contract as [[MarkdownElementReader.elements]] (page and
    * metadata provenance included), so the whole pipeline downstream
    * (processors, chunkers, enrichers, writer) is reader-agnostic. */
  def elements(spark: SparkSession, documents: DataFrame,
               idCol: String = "doc_id", textCol: String = "html",
               pageCol: Option[String] = None,
               metaCols: Seq[String] = Nil): Dataset[DocElement] =
    ElementFrame.text(documents, idCol, textCol, pageCol, metaCols) {
      (id, html, page, meta) => ElementFrame.numbered(id, parseBlocks(html), page, meta)
    }
}
