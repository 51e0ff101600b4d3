package graft.sources

import graft.model.DocElement
import graft.sources.ElementFrame.{collapse, tableFromGrid}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** PDF → structural elements, in-process and dependency-free: the
  * third leg of the MarkItDownReader twin (the reference shells out
  * to the `markitdown` CLI — src/Microsoft.Extensions.DataIngestion
  * .MarkItDown/MarkItDownReader.cs:51-74 — or to hosted parsers
  * (Azure.AI.DocumentIntelligence.DocumentReader, LlamaParse) for
  * PDF; [[HtmlElementReader]] closed the HTML leg in r7 and
  * [[DocxElementReader]] the OOXML leg in r8 — this closes the
  * common-case PDF leg with the JDK alone: `java.util.zip.Inflater`
  * for FlateDecode and a hand-rolled COS parser/interpreter).
  *
  * Scope — the honest dependency-free subset, chosen to cover what
  * ordinary text-bearing PDFs (office exports, LaTeX, report
  * generators) actually use:
  *   - COS object syntax incl. literal/hex strings, dicts, arrays,
  *     indirect refs; objects located by a tolerant sequential
  *     scanner (works with classic xref tables, xref streams, linear
  *     and incrementally-updated files alike — the xref is never
  *     needed);
  *   - FlateDecode streams (bounded by [[MaxStreamBytes]]); object
  *     streams (/Type/ObjStm, PDF 1.5+) expanded;
  *   - page tree walk with attribute inheritance (/Resources),
  *     falling back to /Type/Page objects in file order when the
  *     catalog is unreachable;
  *   - text extraction from BT/ET blocks: Tf/Td/TD/Tm/TL and T*
  *     state, Tj/TJ/'/" shows, q/Q state stack; TJ kerning gaps become
  *     spaces; y-position changes become line breaks;
  *   - simple fonts decode via /ToUnicode when present (bfchar +
  *     bfrange, incl. array form), else via /Encoding —
  *     WinAnsi/MacRoman base tables plus /Differences glyph-name
  *     overrides resolved through an Adobe-Glyph-List subset
  *     (ISO 32000-1 §9.6.6, Annex D) — else as Latin-1; Type0
  *     (2-byte) fonts WITHOUT /ToUnicode are skipped rather than
  *     emitting glyph-id garbage;
  *   - structure inferred from font sizes: the corpus-dominant size
  *     is body text, larger sizes become headers leveled by size
  *     rank — the same structural stream every other reader emits.
  *
  * Documented out of scope (degrade, never throw): encrypted files,
  * non-Flate filters for TEXT content (DCT/JBIG2/... are image data
  * anyway — image XObjects are placed as `image` elements by their
  * Do operators without decoding pixels, alt text from /Alt), exotic
  * CMaps, rotated/columnar layout analysis, tables (ambiguous
  * without ruling-line analysis — a PDF "table" is just positioned
  * text). Malformed or unsupported input yields the
  * elements parsed so far — one bad crawl document must not fail a
  * 100 TB job. Parsing runs inside a typed flatMap: one binary row
  * in, N element rows out — narrow, shuffle-free, map-only at any
  * corpus size.
  */
object PdfElementReader {

  /** Decompression cap per stream — a crawl-sourced flate bomb must
    * not OOM an executor; real content streams are KBs to a few MB. */
  val MaxStreamBytes: Int = 64 << 20

  /** Dict/array recursion cap (crafted deep nesting must not blow the
    * parser stack) and page-tree walk cap. */
  private val MaxDepth = 64

  /** Upper bound on scanned objects — runaway guard on crafted input. */
  private val MaxObjects = 100000

  /** Thrown when nesting/size caps trip: the enclosing object is
    * dropped wholesale (scan resumes after its header) instead of the
    * cap path chewing through the rest of the file a byte at a time. */
  private final class Bail extends RuntimeException(null, null, false, false)

  // ------------------------------------------------------------------
  // COS object model
  // ------------------------------------------------------------------
  private sealed trait PObj
  private case object PNull extends PObj
  private final case class PBool(v: Boolean) extends PObj
  private final case class PNum(v: Double) extends PObj
  private final case class PStr(bytes: Array[Byte]) extends PObj
  private final case class PName(v: String) extends PObj
  private final case class PArr(items: Vector[PObj]) extends PObj
  private final case class PDict(m: Map[String, PObj]) extends PObj
  private final case class PRef(num: Int) extends PObj // generation ignored
  private final case class PStream(dict: PDict, raw: Array[Byte]) extends PObj

  // ------------------------------------------------------------------
  // Lexer / parser over a byte array
  // ------------------------------------------------------------------
  private final class Lexer(val b: Array[Byte], var pos: Int) {
    def end: Int = b.length
    def peek: Int = if (pos < end) b(pos) & 0xff else -1
    def at(i: Int): Int = if (i < end) b(i) & 0xff else -1

    private def isWs(c: Int) =
      c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' || c == 0
    private def isDelim(c: Int) =
      c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
        c == '{' || c == '}' || c == '/' || c == '%'
    def isRegular(c: Int): Boolean = c >= 0 && !isWs(c) && !isDelim(c)

    def skipWs(): Unit = {
      var go = true
      while (go) {
        while (isWs(peek)) pos += 1
        if (peek == '%') { // comment to EOL
          while (pos < end && peek != '\n' && peek != '\r') pos += 1
        } else go = false
      }
    }

    def matches(s: String): Boolean =
      pos + s.length <= end &&
        (0 until s.length).forall(i => b(pos + i) == s.charAt(i).toByte)

    /** Consume a bare keyword (regular chars) if present. */
    def keyword(): String = {
      val s = pos
      while (isRegular(peek)) pos += 1
      new String(b, s, pos - s, java.nio.charset.StandardCharsets.ISO_8859_1)
    }

    def parseName(): PName = { // at '/'
      pos += 1
      val sb = new StringBuilder
      while (isRegular(peek)) {
        val c = peek
        if (c == '#' && isHex(at(pos + 1)) && isHex(at(pos + 2))) {
          sb.append(((hexVal(at(pos + 1)) << 4) | hexVal(at(pos + 2))).toChar)
          pos += 3
        } else { sb.append(c.toChar); pos += 1 }
      }
      PName(sb.toString)
    }

    private def isHex(c: Int) =
      (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
    private def hexVal(c: Int) =
      if (c <= '9') c - '0' else (c | 0x20) - 'a' + 10

    def parseLiteralString(): PStr = { // at '('
      pos += 1
      val out = new java.io.ByteArrayOutputStream
      var depth = 1
      while (depth > 0 && pos < end) {
        val c = peek; pos += 1
        c match {
          case '\\' =>
            val e = peek
            e match {
              case 'n' => out.write('\n'); pos += 1
              case 'r' => out.write('\r'); pos += 1
              case 't' => out.write('\t'); pos += 1
              case 'b' => out.write('\b'); pos += 1
              case 'f' => out.write('\f'); pos += 1
              case '(' => out.write('('); pos += 1
              case ')' => out.write(')'); pos += 1
              case '\\' => out.write('\\'); pos += 1
              case '\r' => pos += 1; if (peek == '\n') pos += 1 // line continuation
              case '\n' => pos += 1
              case d if d >= '0' && d <= '7' =>
                var v = 0; var n = 0
                while (n < 3 && peek >= '0' && peek <= '7') {
                  v = v * 8 + (peek - '0'); pos += 1; n += 1
                }
                out.write(v & 0xff)
              case _ => // unknown escape: keep the char
                if (e >= 0) { out.write(e); pos += 1 }
            }
          case '(' => depth += 1; out.write('(')
          case ')' => depth -= 1; if (depth > 0) out.write(')')
          case _ => out.write(c)
        }
      }
      PStr(out.toByteArray)
    }

    def parseHexString(): PStr = { // at '<' (single)
      pos += 1
      val out = new java.io.ByteArrayOutputStream
      var hi = -1
      while (pos < end && peek != '>') {
        val c = peek
        if (isHex(c)) {
          if (hi < 0) hi = hexVal(c)
          else { out.write((hi << 4) | hexVal(c)); hi = -1 }
        }
        pos += 1
      }
      if (hi >= 0) out.write(hi << 4) // odd digit: pad 0
      if (peek == '>') pos += 1
      PStr(out.toByteArray)
    }

    def parseNumber(): Option[PNum] = {
      val s = pos
      if (peek == '+' || peek == '-') pos += 1
      var digits = false
      while (peek >= '0' && peek <= '9') { pos += 1; digits = true }
      if (peek == '.') {
        pos += 1
        while (peek >= '0' && peek <= '9') { pos += 1; digits = true }
      }
      if (!digits) { pos = s; None }
      else Some(PNum(new String(b, s, pos - s,
        java.nio.charset.StandardCharsets.ISO_8859_1).toDouble))
    }

    /** Parse one object. Integer followed by `<int> R` folds into a
      * PRef. Unparseable input advances one byte and yields PNull so a
      * tolerant caller always makes progress. */
    def parseObject(depth: Int): PObj = {
      if (depth > MaxDepth) throw new Bail
      skipWs()
      peek match {
        case -1 => PNull
        case '/' => parseName()
        case '(' => parseLiteralString()
        case '[' =>
          pos += 1
          val items = Vector.newBuilder[PObj]
          skipWs()
          var n = 0
          while (peek != ']' && peek != -1) {
            if (n >= 65536) throw new Bail
            items += parseObject(depth + 1); skipWs(); n += 1
          }
          if (peek == ']') pos += 1
          PArr(items.result())
        case '<' =>
          if (at(pos + 1) == '<') {
            pos += 2
            val m = Map.newBuilder[String, PObj]
            skipWs()
            var n = 0
            while (!(peek == '>' && at(pos + 1) == '>') && peek != -1) {
              if (n >= 65536) throw new Bail
              if (peek == '/') {
                val k = parseName().v
                m += k -> parseObject(depth + 1)
              } else pos += 1 // junk key: skip a byte, stay tolerant
              skipWs(); n += 1
            }
            if (peek == '>') pos += 2
            PDict(m.result())
          } else parseHexString()
        case c if c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9') =>
          val num = parseNumber().getOrElse { pos += 1; return PNull }
          // <int> <int> R  →  reference
          if (num.v >= 0 && num.v == num.v.floor) {
            val save = pos
            skipWs()
            parseNumber() match {
              case Some(g) if g.v >= 0 && g.v == g.v.floor =>
                skipWs()
                if (peek == 'R' && !isRegular(at(pos + 1))) {
                  pos += 1
                  return PRef(num.v.toInt)
                }
                pos = save
              case _ => pos = save
            }
          }
          num
        case _ =>
          keyword() match {
            case "true" => PBool(true)
            case "false" => PBool(false)
            case "null" => PNull
            case "" => pos += 1; PNull
            case _ => PNull // bare operator keyword (content streams)
          }
      }
    }
  }

  // ------------------------------------------------------------------
  // File-level scan: objnum → object (sequential, xref-free)
  // ------------------------------------------------------------------
  private def indexOfBytes(hay: Array[Byte], needle: String, from: Int): Int = {
    val n = needle.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    var i = math.max(0, from)
    val last = hay.length - n.length
    while (i <= last) {
      var j = 0
      while (j < n.length && hay(i + j) == n(j)) j += 1
      if (j == n.length) return i
      i += 1
    }
    -1
  }

  private def scanObjects(bytes: Array[Byte]): Map[Int, PObj] = {
    val out = scala.collection.mutable.Map.empty[Int, PObj]
    var cursor = 0
    var found = 0
    while (cursor < bytes.length && found < MaxObjects) {
      val at = indexOfBytes(bytes, "obj", cursor)
      if (at < 0) { cursor = bytes.length }
      else {
        // backtrack over "<int> <int> obj" — both ints required
        var p = at - 1
        def skipBackWs(): Unit =
          while (p >= 0 && (bytes(p) == ' ' || bytes(p) == '\r' ||
            bytes(p) == '\n' || bytes(p) == '\t')) p -= 1
        def backInt(): Option[Int] = {
          val e = p
          while (p >= 0 && bytes(p) >= '0' && bytes(p) <= '9') p -= 1
          if (e == p) None
          else Some(new String(bytes, p + 1, e - p,
            java.nio.charset.StandardCharsets.ISO_8859_1).toInt)
        }
        skipBackWs()
        val gen = backInt()
        skipBackWs()
        val num = backInt()
        val okBoundary = {
          val after = if (at + 3 < bytes.length) bytes(at + 3) & 0xff else -1
          after == -1 || after == ' ' || after == '\r' || after == '\n' ||
            after == '\t' || after == '<' || after == '[' || after == '/'
        }
        if (num.isEmpty || gen.isEmpty || !okBoundary) cursor = at + 3
        else {
          val lx = new Lexer(bytes, at + 3)
          try {
            val obj = lx.parseObject(0)
            lx.skipWs()
            val stored =
              if (lx.matches("stream")) {
                lx.pos += "stream".length
                if (lx.peek == '\r') lx.pos += 1
                if (lx.peek == '\n') lx.pos += 1
                val dict = obj match { case d: PDict => d; case _ => PDict(Map.empty) }
                val start = lx.pos
                val declared = dict.m.get("Length") match {
                  case Some(PNum(n)) if n >= 0 && n <= bytes.length - start =>
                    val endAt = start + n.toInt
                    // trust /Length only if "endstream" actually follows
                    val tail = indexOfBytes(bytes, "endstream", endAt)
                    if (tail >= 0 && tail - endAt < 4) Some(endAt) else None
                  case _ => None
                }
                val dataEnd = declared.getOrElse {
                  val e = indexOfBytes(bytes, "endstream", start)
                  if (e < 0) start else e
                }
                lx.pos = dataEnd
                PStream(dict, java.util.Arrays.copyOfRange(bytes, start, dataEnd))
              } else obj
            out(num.get) = stored // later definition wins (incremental updates)
            found += 1
            cursor = math.max(lx.pos, at + 3)
          } catch {
            case _: Exception => cursor = at + 3
          }
        }
      }
    }
    out.toMap
  }

  private def inflate(data: Array[Byte]): Option[Array[Byte]] = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(data)
      val out = new java.io.ByteArrayOutputStream(math.min(data.length * 4, 1 << 20))
      val buf = new Array[Byte](8192)
      while (!inf.finished() && !inf.needsInput() && out.size <= MaxStreamBytes) {
        val n = inf.inflate(buf)
        if (n == 0 && !inf.finished()) return Some(out.toByteArray) // truncated
        out.write(buf, 0, n)
      }
      if (out.size > MaxStreamBytes) None // bomb guard
      else Some(out.toByteArray)
    } catch { case _: Exception => None }
    finally inf.end()
  }

  /** Decode a stream's bytes: no filter → raw; FlateDecode (single or
    * in a filter array, applied left to right) → inflated; any other
    * filter → None (image/exotic data we don't parse). */
  private def decodeStream(ps: PStream,
                           resolve: PObj => PObj): Option[Array[Byte]] = {
    val filters: Seq[String] = resolve(ps.dict.m.getOrElse("Filter", PNull)) match {
      case PName(n) => Seq(n)
      case PArr(items) => items.map(resolve).collect { case PName(n) => n }
      case _ => Nil
    }
    filters.foldLeft(Option(ps.raw)) {
      case (Some(d), "FlateDecode") => inflate(d)
      case (Some(d), "Fl") => inflate(d)
      case (_, _) => None
    }
  }

  // ------------------------------------------------------------------
  // ToUnicode CMap (bfchar / bfrange)
  // ------------------------------------------------------------------
  private def parseToUnicode(cmap: Array[Byte]): Map[Int, String] = {
    val s = new String(cmap, java.nio.charset.StandardCharsets.ISO_8859_1)
    val out = Map.newBuilder[Int, String]
    def hexToInt(h: String): Int = java.lang.Long.parseLong(h, 16).toInt
    def hexToStr(h: String): String = {
      // UTF-16BE code units
      val sb = new StringBuilder
      var i = 0
      while (i + 4 <= h.length) {
        sb.append(hexToInt(h.substring(i, i + 4)).toChar); i += 4
      }
      sb.toString
    }
    val hex = "<([0-9a-fA-F]+)>"
    val charBlock = ("(?s)beginbfchar(.*?)endbfchar").r
    val pair = (hex + "\\s*" + hex).r
    for (m <- charBlock.findAllMatchIn(s); p <- pair.findAllMatchIn(m.group(1)))
      try out += hexToInt(p.group(1)) -> hexToStr(p.group(2))
      catch { case _: Exception => }
    val rangeBlock = ("(?s)beginbfrange(.*?)endbfrange").r
    val triple = (hex + "\\s*" + hex + "\\s*(?:" + hex + "|\\[([^\\]]*)\\])").r
    for (m <- rangeBlock.findAllMatchIn(s); t <- triple.findAllMatchIn(m.group(1)))
      try {
        val lo = hexToInt(t.group(1)); val hi = hexToInt(t.group(2))
        if (hi - lo <= 65535) {
          if (t.group(3) != null) {
            val base = t.group(3)
            // increment applies to the LAST code unit (PDF spec)
            val prefix = base.substring(0, math.max(0, base.length - 4))
            val lastStart = hexToInt(base.substring(math.max(0, base.length - 4)))
            for (c <- lo to hi)
              out += c -> (hexToStr(prefix) + (lastStart + (c - lo)).toChar)
          } else {
            val dsts = hex.r.findAllMatchIn(t.group(4)).map(_.group(1)).toVector
            for ((c, i) <- (lo to hi).zipWithIndex if i < dsts.length)
              out += c -> hexToStr(dsts(i))
          }
        }
      } catch { case _: Exception => }
    out.result()
  }

  // ------------------------------------------------------------------
  // Simple-font /Encoding (ISO 32000-1 §9.6.6, Annex D): a name
  // (/WinAnsiEncoding, /MacRomanEncoding) or a dict with /BaseEncoding
  // + /Differences [ code name name ... code name ... ]. Real office
  // exports routinely write WinAnsi base + Differences overrides;
  // decoding them through the glyph list (instead of falling back to
  // Latin-1) is what keeps é/•/— from turning into mojibake.
  // ------------------------------------------------------------------

  /** Adobe Glyph List subset → unicode. Letters/digits map to
    * themselves by the AGL naming rule; the literal table covers ASCII
    * punctuation, Latin-1 supplement, and the WinAnsi typography range
    * (the names any /Differences array from an office exporter uses).
    * `uniXXXX` / `uXXXX(XX)` names decode per the AGL algorithm. */
  private val glyphList: Map[String, String] = {
    val letters =
      (('A' to 'Z') ++ ('a' to 'z')).map(c => c.toString -> c.toString)
    val digits = Seq("zero", "one", "two", "three", "four", "five", "six",
      "seven", "eight", "nine").zipWithIndex.map { case (n, i) =>
      n -> ('0' + i).toChar.toString
    }
    val table = Seq(
      "space" -> 0x20, "exclam" -> 0x21, "quotedbl" -> 0x22,
      "numbersign" -> 0x23, "dollar" -> 0x24, "percent" -> 0x25,
      "ampersand" -> 0x26, "quotesingle" -> 0x27, "parenleft" -> 0x28,
      "parenright" -> 0x29, "asterisk" -> 0x2a, "plus" -> 0x2b,
      "comma" -> 0x2c, "hyphen" -> 0x2d, "period" -> 0x2e,
      "slash" -> 0x2f, "colon" -> 0x3a, "semicolon" -> 0x3b,
      "less" -> 0x3c, "equal" -> 0x3d, "greater" -> 0x3e,
      "question" -> 0x3f, "at" -> 0x40, "bracketleft" -> 0x5b,
      "backslash" -> 0x5c, "bracketright" -> 0x5d,
      "asciicircum" -> 0x5e, "underscore" -> 0x5f, "grave" -> 0x60,
      "braceleft" -> 0x7b, "bar" -> 0x7c, "braceright" -> 0x7d,
      "asciitilde" -> 0x7e,
      // Latin-1 supplement
      "exclamdown" -> 0xa1, "cent" -> 0xa2, "sterling" -> 0xa3,
      "currency" -> 0xa4, "yen" -> 0xa5, "brokenbar" -> 0xa6,
      "section" -> 0xa7, "dieresis" -> 0xa8, "copyright" -> 0xa9,
      "ordfeminine" -> 0xaa, "guillemotleft" -> 0xab,
      "logicalnot" -> 0xac, "registered" -> 0xae, "macron" -> 0xaf,
      "degree" -> 0xb0, "plusminus" -> 0xb1, "twosuperior" -> 0xb2,
      "threesuperior" -> 0xb3, "acute" -> 0xb4, "mu" -> 0xb5,
      "paragraph" -> 0xb6, "periodcentered" -> 0xb7, "cedilla" -> 0xb8,
      "onesuperior" -> 0xb9, "ordmasculine" -> 0xba,
      "guillemotright" -> 0xbb, "onequarter" -> 0xbc, "onehalf" -> 0xbd,
      "threequarters" -> 0xbe, "questiondown" -> 0xbf,
      "Agrave" -> 0xc0, "Aacute" -> 0xc1, "Acircumflex" -> 0xc2,
      "Atilde" -> 0xc3, "Adieresis" -> 0xc4, "Aring" -> 0xc5,
      "AE" -> 0xc6, "Ccedilla" -> 0xc7, "Egrave" -> 0xc8,
      "Eacute" -> 0xc9, "Ecircumflex" -> 0xca, "Edieresis" -> 0xcb,
      "Igrave" -> 0xcc, "Iacute" -> 0xcd, "Icircumflex" -> 0xce,
      "Idieresis" -> 0xcf, "Eth" -> 0xd0, "Ntilde" -> 0xd1,
      "Ograve" -> 0xd2, "Oacute" -> 0xd3, "Ocircumflex" -> 0xd4,
      "Otilde" -> 0xd5, "Odieresis" -> 0xd6, "multiply" -> 0xd7,
      "Oslash" -> 0xd8, "Ugrave" -> 0xd9, "Uacute" -> 0xda,
      "Ucircumflex" -> 0xdb, "Udieresis" -> 0xdc, "Yacute" -> 0xdd,
      "Thorn" -> 0xde, "germandbls" -> 0xdf,
      "agrave" -> 0xe0, "aacute" -> 0xe1, "acircumflex" -> 0xe2,
      "atilde" -> 0xe3, "adieresis" -> 0xe4, "aring" -> 0xe5,
      "ae" -> 0xe6, "ccedilla" -> 0xe7, "egrave" -> 0xe8,
      "eacute" -> 0xe9, "ecircumflex" -> 0xea, "edieresis" -> 0xeb,
      "igrave" -> 0xec, "iacute" -> 0xed, "icircumflex" -> 0xee,
      "idieresis" -> 0xef, "eth" -> 0xf0, "ntilde" -> 0xf1,
      "ograve" -> 0xf2, "oacute" -> 0xf3, "ocircumflex" -> 0xf4,
      "otilde" -> 0xf5, "odieresis" -> 0xf6, "divide" -> 0xf7,
      "oslash" -> 0xf8, "ugrave" -> 0xf9, "uacute" -> 0xfa,
      "ucircumflex" -> 0xfb, "udieresis" -> 0xfc, "yacute" -> 0xfd,
      "thorn" -> 0xfe, "ydieresis" -> 0xff,
      // WinAnsi typography range + common extras
      "Euro" -> 0x20ac, "quotesinglbase" -> 0x201a, "florin" -> 0x192,
      "quotedblbase" -> 0x201e, "ellipsis" -> 0x2026,
      "dagger" -> 0x2020, "daggerdbl" -> 0x2021, "circumflex" -> 0x2c6,
      "perthousand" -> 0x2030, "Scaron" -> 0x160,
      "guilsinglleft" -> 0x2039, "OE" -> 0x152, "Zcaron" -> 0x17d,
      "quoteleft" -> 0x2018, "quoteright" -> 0x2019,
      "quotedblleft" -> 0x201c, "quotedblright" -> 0x201d,
      "bullet" -> 0x2022, "endash" -> 0x2013, "emdash" -> 0x2014,
      "tilde" -> 0x2dc, "trademark" -> 0x2122, "scaron" -> 0x161,
      "guilsinglright" -> 0x203a, "oe" -> 0x153, "zcaron" -> 0x17e,
      "Ydieresis" -> 0x178,
      "minus" -> 0x2212, "fraction" -> 0x2044, "fi" -> 0xfb01,
      "fl" -> 0xfb02, "dotlessi" -> 0x131, "Lslash" -> 0x141,
      "lslash" -> 0x142, "ring" -> 0x2da, "breve" -> 0x2d8,
      "caron" -> 0x2c7, "ogonek" -> 0x2db, "hungarumlaut" -> 0x2dd,
      "dotaccent" -> 0x2d9
    ).map { case (n, cp) => n -> new String(Character.toChars(cp)) }
    (letters ++ digits ++ table).toMap
  }

  private val UniName = java.util.regex.Pattern.compile("uni([0-9A-F]{4})")
  private val UName = java.util.regex.Pattern.compile("u([0-9A-F]{4,6})")

  private def glyphToUnicode(name: String): Option[String] =
    glyphList.get(name).orElse {
      val m = UniName.matcher(name)
      if (m.matches()) Some(Integer.parseInt(m.group(1), 16).toChar.toString)
      else {
        val m2 = UName.matcher(name)
        if (m2.matches())
          try Some(new String(Character.toChars(Integer.parseInt(m2.group(1), 16))))
          catch { case _: Exception => None }
        else None
      }
    }

  /** Base-encoding tables via the JVM's own charsets (cp1252 ships
    * everywhere; MacRoman on every mainstream JDK — absent charset →
    * empty map → Latin-1 fallback, the pre-existing degrade). */
  private def baseEncoding(name: String): Map[Int, String] = {
    val charset = name match {
      case "WinAnsiEncoding" => "windows-1252"
      case "MacRomanEncoding" => "x-MacRoman"
      case _ => return Map.empty // StandardEncoding ≈ Latin-1 fallback
    }
    try {
      val cs = java.nio.charset.Charset.forName(charset)
      (0 until 256).flatMap { code =>
        val s = new String(Array(code.toByte), cs)
        // drop undecodable slots so the Latin-1 fallback applies there
        if (s.length == 1 && s.charAt(0) != '�') Some(code -> s)
        else None
      }.toMap
    } catch { case _: Exception => Map.empty }
  }

  /** /Encoding entry → code → unicode overlay (Differences win over
    * the base table; unmappable glyph names fall through to base). */
  private def parseEncoding(enc: PObj,
                            resolve: PObj => PObj): Map[Int, String] =
    resolve(enc) match {
      case PName(n) => baseEncoding(n)
      case d: PDict =>
        val base = d.m.get("BaseEncoding") match {
          case Some(PName(n)) => baseEncoding(n)
          case _ => Map.empty[Int, String]
        }
        val diffs = resolve(d.m.getOrElse("Differences", PNull)) match {
          case PArr(items) =>
            val b = Map.newBuilder[Int, String]
            var code = -1
            items.foreach {
              case PNum(n) => code = n.toInt
              case PName(g) if code >= 0 && code < 256 =>
                glyphToUnicode(g).foreach(u => b += code -> u)
                code += 1
              case PName(_) => // differences before any code: skip
              case _ =>
            }
            b.result()
          case _ => Map.empty[Int, String]
        }
        base ++ diffs
      case _ => Map.empty
    }

  private final case class FontInfo(toUnicode: Map[Int, String],
                                    twoByte: Boolean,
                                    encoding: Map[Int, String] = Map.empty)

  // ------------------------------------------------------------------
  // Content-stream text interpreter
  // ------------------------------------------------------------------
  private final case class Line(y: Double, size: Double, text: String)

  /** One text-showing op: start position + effective size + decoded
    * text — the cell-assignment granularity for ruled-table detection
    * (lines aggregate shows; a table needs per-show x). */
  private final case class Show(x: Double, y: Double, size: Double,
                                text: String)

  /** One painted path segment (from re edges or m/l strokes) — the
    * ruling-line raw material for table detection. */
  private final case class Seg(x1: Double, y1: Double,
                               x2: Double, y2: Double)

  /** One image XObject placement (a Do of an /Subtype/Image name):
    * device-space x and TOP y from the CTM at the Do (top = f + |d| —
    * the image unit square maps its height onto d; rotation is out of
    * scope, documented). */
  private final case class ImgPlace(x: Double, topY: Double, name: String)

  private def interpretContent(content: Array[Byte],
                               fonts: Map[String, FontInfo],
                               imageNames: Set[String])
      : (Seq[Line], Seq[Show], Seq[Seg], Seq[ImgPlace]) = {
    val lx = new Lexer(content, 0)
    val lines = ArrayBuffer.empty[Line]
    val shows = ArrayBuffer.empty[Show]
    val segs = ArrayBuffer.empty[Seg]
    val images = ArrayBuffer.empty[ImgPlace]
    val pending = ArrayBuffer.empty[Seg] // path under construction
    val sb = new StringBuilder
    var curFont: FontInfo = FontInfo(Map.empty, twoByte = false)
    var fontSize = 0.0
    var tmScale = 1.0
    var xScale = 1.0
    var x = 0.0
    var y = 0.0
    var pathX = 0.0
    var pathY = 0.0
    var leading = 0.0
    var maxSize = 0.0
    var haveLine = false
    // current transformation matrix [a b 0; c d 0; e f 1] — tracked
    // ONLY to place image Do operators; text positioning keeps its
    // original Td/Tm model (the r8-exact path)
    var ctm = Array(1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
    var stack = List.empty[(FontInfo, Double, Double, Double, Array[Double])]

    def flushLine(): Unit = {
      if (haveLine && sb.nonEmpty)
        lines += Line(y, maxSize, sb.toString)
      sb.clear(); maxSize = 0.0; haveLine = false
    }
    def moveY(newY: Double): Unit = {
      if (haveLine && math.abs(newY - y) > 0.5) flushLine()
      y = newY
    }
    def effSize: Double = math.abs(fontSize * tmScale)

    def showBytes(bytes: Array[Byte]): Unit = {
      haveLine = true
      if (effSize > maxSize) maxSize = effSize
      val mark = sb.length
      if (curFont.twoByte) {
        var i = 0
        while (i + 1 < bytes.length) {
          val code = ((bytes(i) & 0xff) << 8) | (bytes(i + 1) & 0xff)
          curFont.toUnicode.get(code).foreach(sb.append)
          // no ToUnicode → skip: glyph ids are not text
          i += 2
        }
      } else {
        var i = 0
        while (i < bytes.length) {
          val code = bytes(i) & 0xff
          // priority: ToUnicode CMap > /Encoding (base + Differences)
          // > Latin-1 fallback — the ISO 32000 text-extraction order
          curFont.toUnicode.get(code) match {
            case Some(u) => sb.append(u)
            case None => curFont.encoding.get(code) match {
              case Some(u) => sb.append(u)
              case None => sb.append(code.toChar) // Latin-1 fallback
            }
          }
          i += 1
        }
      }
      val t = sb.substring(mark)
      if (t.nonEmpty) shows += Show(x, y, effSize, t)
    }

    val operands = ArrayBuffer.empty[PObj]
    def num(i: Int): Double = operands.lift(operands.length - i) match {
      case Some(PNum(v)) => v
      case _ => 0.0
    }
    var steps = 0
    while (lx.pos < lx.end && steps < 4000000) {
      steps += 1
      lx.skipWs()
      val c = lx.peek
      if (c == -1) { lx.pos = lx.end }
      else if (c == '/' || c == '(' || c == '[' || c == '<' ||
        c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9')) {
        try operands += lx.parseObject(0)
        catch { case _: Bail => lx.pos += 1 } // hostile nesting: skip on
      } else if (lx.isRegular(c)) {
        val op = lx.keyword()
        op match {
          case "Tf" =>
            fontSize = num(1)
            operands.lift(operands.length - 2) match {
              case Some(PName(f)) =>
                curFont = fonts.getOrElse(f, FontInfo(Map.empty, twoByte = false))
              case _ =>
            }
          case "Td" =>
            x += num(2) * xScale
            moveY(y + num(1) * tmScale)
          case "TD" =>
            x += num(2) * xScale
            leading = -num(1) * tmScale; moveY(y + num(1) * tmScale)
          case "TL" => leading = num(1) * tmScale
          case "T*" => moveY(y - (if (leading != 0) leading else effSize * 1.2))
          case "Tm" =>
            // operands: a b c d e f — a/d scale x/y, e/f are offsets
            val a = num(6); val d = num(3); val e = num(2); val f = num(1)
            xScale = math.max(math.abs(a), 1e-9)
            tmScale = math.max(math.abs(d), 1e-9)
            x = e
            moveY(f)
          case "Tj" =>
            operands.lastOption.collect { case PStr(b) => showBytes(b) }
          case "'" =>
            moveY(y - (if (leading != 0) leading else effSize * 1.2))
            operands.lastOption.collect { case PStr(b) => showBytes(b) }
          case "\"" =>
            moveY(y - (if (leading != 0) leading else effSize * 1.2))
            operands.lastOption.collect { case PStr(b) => showBytes(b) }
          case "TJ" =>
            operands.lastOption.collect { case PArr(items) =>
              items.foreach {
                case PStr(b) => showBytes(b)
                case PNum(k) =>
                  // large negative kerning = inter-word gap (mirrored
                  // onto the last Show so the shows stream rebuilds
                  // the same line text when a table consumes siblings)
                  if (k < -180 && haveLine &&
                    sb.nonEmpty && !sb.last.isWhitespace) {
                    sb.append(' ')
                    if (shows.nonEmpty) {
                      val last = shows.last
                      shows(shows.length - 1) =
                        last.copy(text = last.text + " ")
                    }
                  }
                case _ =>
              }
            }
          case "BT" =>
            flushLine(); x = 0.0; y = 0.0
            xScale = 1.0; tmScale = 1.0; leading = 0.0
          case "ET" => flushLine()
          // path construction (ruling lines for table detection);
          // curves (c/v/y) are never table rules — skipped below
          case "m" => pathX = num(2); pathY = num(1)
          case "l" =>
            val nx = num(2); val ny = num(1)
            pending += Seg(pathX, pathY, nx, ny)
            pathX = nx; pathY = ny
          case "re" =>
            // x y w h re → the rect's four edges are candidate rules
            val rx = num(4); val ry = num(3); val rw = num(2); val rh = num(1)
            pending += Seg(rx, ry, rx + rw, ry)
            pending += Seg(rx, ry + rh, rx + rw, ry + rh)
            pending += Seg(rx, ry, rx, ry + rh)
            pending += Seg(rx + rw, ry, rx + rw, ry + rh)
          case "S" | "s" | "B" | "B*" | "b" | "b*" | "f" | "f*" | "F" =>
            segs ++= pending; pending.clear() // painted: rules are real
          case "n" => pending.clear() // no-op paint (clip path): discard
          case "BI" =>
            // inline image: raw binary after ID until EI — skip it
            // wholesale so image bytes can't masquerade as operators
            val id = indexOfBytes(lx.b, "ID", lx.pos)
            val ei = if (id >= 0) indexOfBytes(lx.b, "EI", id + 2) else -1
            lx.pos = if (ei >= 0) ei + 2 else lx.end
          case "cm" =>
            // CTM' = M · CTM (matrix pre-concatenation, ISO 32000-1 §8.3.4)
            val (a2, b2, c2, d2, e2, f2) =
              (num(6), num(5), num(4), num(3), num(2), num(1))
            ctm = Array(
              a2 * ctm(0) + b2 * ctm(2), a2 * ctm(1) + b2 * ctm(3),
              c2 * ctm(0) + d2 * ctm(2), c2 * ctm(1) + d2 * ctm(3),
              e2 * ctm(0) + f2 * ctm(2) + ctm(4),
              e2 * ctm(1) + f2 * ctm(3) + ctm(5))
          case "Do" =>
            // image XObject placement in reading order; Form XObjects
            // (and unknown names) are skipped — their nested content
            // is out of scope, documented
            operands.lastOption.collect {
              case PName(nm) if imageNames(nm) =>
                images += ImgPlace(ctm(4), ctm(5) + math.abs(ctm(3)), nm)
            }
          case "q" =>
            stack = (curFont, fontSize, tmScale, xScale, ctm) :: stack
          case "Q" => stack match {
            case (f, s, t, xs, m) :: rest =>
              curFont = f; fontSize = s; tmScale = t; xScale = xs
              ctm = m
              stack = rest
            case Nil =>
          }
          case _ => // remaining painting/color operators: irrelevant
        }
        operands.clear()
      } else lx.pos += 1
    }
    flushLine()
    (lines.toSeq, shows.toSeq, segs.toSeq, images.toSeq)
  }

  // ------------------------------------------------------------------
  // Ruled-table detection (r8 verdict item 7 — the SIMPLE bordered
  // case only): the content stream already draws the grid (re/m/l +
  // paint ops); cluster those rules into row/column boundaries and
  // bucket text shows into the cells, emitting the same pipe-markdown
  // table element the DOCX/HTML readers produce. CONSERVATIVE by
  // contract: each connected rule component must form ONE full grid
  // (every rule spans the whole grid, ≥2 columns and ≥2 non-empty
  // cells); components that don't, and grids whose boxes overlap
  // another grid (nested/ambiguous layout), degrade to the plain
  // paragraph path (a fake table is worse than none). Multiple
  // DISJOINT grids per page are each emitted (r9 — the two-tables-
  // per-report-page shape). Borderless / whitespace-aligned layout
  // analysis stays documented out of scope.
  // ------------------------------------------------------------------
  private final case class RuledTable(topY: Double, x0: Double,
                                      md: String, text: String)
  /** Grid bounding box, for the overlap (nested-layout) degrade. */
  private final case class GridBox(x0: Double, xm: Double,
                                   yBot: Double, yTop: Double) {
    def overlaps(o: GridBox): Boolean =
      x0 < o.xm && o.x0 < xm && yBot < o.yTop && o.yBot < yTop
  }

  /** Partition painted segments into connected components (segments
    * touching within tol are one component — a drawn grid is always
    * one component, two separate tables are two) and run the
    * single-grid detector on each. Quadratic connectivity is bounded:
    * past MaxTableSegs the whole page falls back to the one-component
    * path (the r8 behavior — degrade, never slow down unboundedly). */
  private val MaxTableSegs = 512
  private def detectRuledTables(shows: Seq[Show], segs: Seq[Seg])
      : (Seq[RuledTable], Set[Int]) = {
    if (segs.isEmpty) return (Nil, Set.empty)
    val comps: Seq[Seq[Seg]] =
      if (segs.size > MaxTableSegs) Seq(segs)
      else {
        val tol = 1.5
        val n = segs.size
        val parent = Array.tabulate(n)(identity)
        def find(i: Int): Int = {
          var r = i; while (parent(r) != r) r = parent(r)
          var c = i
          while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
          r
        }
        def touch(a: Seg, b: Seg): Boolean = {
          val (ax0, ax1) = (math.min(a.x1, a.x2) - tol, math.max(a.x1, a.x2) + tol)
          val (ay0, ay1) = (math.min(a.y1, a.y2) - tol, math.max(a.y1, a.y2) + tol)
          val (bx0, bx1) = (math.min(b.x1, b.x2), math.max(b.x1, b.x2))
          val (by0, by1) = (math.min(b.y1, b.y2), math.max(b.y1, b.y2))
          ax0 <= bx1 && bx0 <= ax1 && ay0 <= by1 && by0 <= ay1
        }
        var i = 0
        while (i < n) {
          var j = i + 1
          while (j < n) {
            if (find(i) != find(j) && touch(segs(i), segs(j)))
              parent(find(i)) = find(j)
            j += 1
          }
          i += 1
        }
        segs.indices.groupBy(find).toSeq.sortBy(_._1)
          .map { case (_, idx) => idx.map(segs) }
      }
    val gridHits = comps.zipWithIndex.flatMap { case (cs, i) =>
      detectGridIn(shows, cs).map(i -> _)
    }
    // row-rules-only tables (booktabs/report shape): built from the
    // horizontal rules of components that produced NO grid — each
    // full-width rule is its own connected component, so this pass is
    // page-level by construction
    val gridCompIdx = gridHits.map(_._1).toSet
    val leftover = comps.zipWithIndex.collect {
      case (cs, i) if !gridCompIdx(i) => cs
    }.flatten
    val found = gridHits.map(_._2) ++ detectRowRuleTables(shows, leftover, segs)
    // nested/overlapping grids are ambiguous layout: degrade BOTH
    val kept = found.filter(g =>
      !found.exists(o => (o ne g) && g._3.overlaps(o._3)))
    val tables = kept.map(_._1).sortBy(t => (-t.topY, t.x0))
    (tables, kept.flatMap(_._2).toSet)
  }

  /** Cluster near-coincident parallel rules (double-stroked borders)
    * by position, unioning their spans. Input tuples are
    * (position, spanLo, spanHi); output is position-ascending. */
  private def clusterRules(
      rules: Seq[(Double, Double, Double)]): Seq[(Double, Double, Double)] = {
    val out = ArrayBuffer.empty[(Double, Double, Double)]
    rules.sortBy(_._1).foreach { case (p, lo, hi) =>
      if (out.nonEmpty && p - out.last._1 <= 1.5) {
        val l = out.last
        out(out.length - 1) = (l._1, math.min(l._2, lo), math.max(l._3, hi))
      } else out += ((p, lo, hi))
    }
    out.toSeq
  }

  // ------------------------------------------------------------------
  // Row-rules-only table detection (r9 verdict item 2 — the booktabs/
  // LaTeX report shape): horizontal rules only (toprule / midrule /
  // bottomrule, optionally per-row rules), NO verticals; rows are the
  // text baselines between the top and bottom rules, columns come
  // from x-position clustering of the show start positions across
  // those lines (left-aligned column starts repeat across rows — the
  // behavior DocumentIntelligenceReader.cs recovers as Table elements
  // from layout analysis). Same CONSERVATIVE degrade contract as the
  // bordered-grid detector — ambiguity reads as paragraphs:
  //   - needs ≥3 span-aligned full rules (the booktabs signature; a
  //     lone <hr> pair never fires),
  //   - any vertical rule crossing the band → grid territory, skip,
  //   - any text in the band starting OUTSIDE the rule span (side
  //     text, wrapped margin notes) → ambiguous layout, skip,
  //   - a column start must repeat in ≥2 distinct lines (a one-off x
  //     is a kerned continuation show, not a column), ≥2 columns and
  //     ≥2 non-empty cells required,
  //   - a stack splits at PROSE slabs (a band between consecutive
  //     rules that is empty or whose every line occupies <2 repeated
  //     columns) so two stacked same-width tables never merge and
  //     the prose between them stays paragraphs,
  //   - a slab with more than MaxLinesPerSlab baselines reads as
  //     running text (no real table packs that many rows between two
  //     rules) and splits the stack there like a prose slab.
  // KNOWN BOUNDARY (shared by any geometry-only detector): a
  // two-column PROSE page whose every line starts at the same two x
  // positions, bracketed by ≥3 full-width decorative rules, is
  // geometrically indistinguishable from a 2-column borderless table
  // — it will read as one. Disambiguating that needs font/semantic
  // cues (the hosted layout-analysis territory documented out of
  // scope); the slab-line cap bounds the damage to short bands.
  // ------------------------------------------------------------------
  /** Real tables never pack more baselines than this between two
    * rules; a denser band is running text (two-column prose, quoted
    * listings) and the stack degrades to paragraphs. */
  private val MaxLinesPerSlab = 64

  /** Group band shows into text baselines (reading order: y desc,
    * then x), carrying each show's index for consumption tracking. */
  private def bandLines(slab: Seq[(Show, Int)]): Seq[Seq[(Show, Int)]] = {
    val lines = ArrayBuffer.empty[ArrayBuffer[(Show, Int)]]
    slab.sortBy { case (s, _) => (-s.y, s.x) }.foreach { case (s, i) =>
      if (lines.nonEmpty && math.abs(lines.last.last._1.y - s.y) <= 0.5)
        lines.last += ((s, i))
      else lines += ArrayBuffer((s, i))
    }
    lines.map(_.toSeq).toSeq
  }

  /** Chain-cluster show x-starts across lines; returns the starts of
    * clusters repeating in ≥2 distinct lines (a one-off x is a kerned
    * continuation show, not a column). The ONE column definition both
    * the stack-split test and cell extraction use. */
  private def repeatedColumnStarts(lines: Seq[Seq[(Show, Int)]],
                                   tol: Double): Seq[Double] = {
    val xsAll = lines.zipWithIndex
      .flatMap { case (ln, li) => ln.map(p => (p._1.x, li)) }
      .sortBy(_._1)
    val cl = ArrayBuffer.empty[(Double, Double, scala.collection.mutable.Set[Int])]
    xsAll.foreach { case (x, li) =>
      if (cl.nonEmpty && x - cl.last._2 <= tol) {
        val l = cl.last
        cl(cl.length - 1) = (l._1, x, l._3 += li)
      } else cl += ((x, x, scala.collection.mutable.Set(li)))
    }
    cl.filter(_._3.size >= 2).map(_._1).toSeq
  }

  /** Column index of an x-start among kept column starts. */
  private def columnOf(starts: Seq[Double], x: Double, tol: Double): Int = {
    var c = 0
    var i = 1
    while (i < starts.size && x >= starts(i) - tol) { c = i; i += 1 }
    c
  }

  private def detectRowRuleTables(shows: Seq[Show], leftover: Seq[Seg],
                                  all: Seq[Seg])
      : Seq[(RuledTable, Set[Int], GridBox)] = {
    val hs0 = leftover.collect {
      case s if math.abs(s.y1 - s.y2) <= 0.3 && math.abs(s.x2 - s.x1) > 2 =>
        ((s.y1 + s.y2) / 2, math.min(s.x1, s.x2), math.max(s.x1, s.x2))
    }
    if (hs0.size < 3) return Nil
    val hs = clusterRules(hs0)
    if (hs.size < 3) return Nil
    val tol = 3.0
    // group span-aligned rules, y-descending within each group
    val groups = ArrayBuffer.empty[ArrayBuffer[(Double, Double, Double)]]
    hs.sortBy(-_._1).foreach { r =>
      groups.find(g => math.abs(g.head._2 - r._2) <= tol &&
        math.abs(g.head._3 - r._3) <= tol) match {
        case Some(g) => g += r
        case None => groups += ArrayBuffer(r)
      }
    }
    groups.toSeq.filter(_.size >= 3).flatMap { g0 =>
      // split the stack at PROSE slabs — a slab (band between two
      // consecutive rules) that is empty, or whose every text line
      // occupies <2 repeated column clusters, reads as prose between
      // two stacked tables, not table content (the grid detector gets
      // this separation for free from segment connectivity; rules
      // alone don't connect). A table slab always holds ≥1 line on
      // ≥2 columns (header band, body band, per-row bands alike), so
      // a single table never splits; the known limit is a multi-show
      // kerned prose line wide enough to touch 2 clusters — the
      // conservative failure is a merged table, never lost text.
      val g = g0.toSeq // y desc
      val yTop = g.head._1; val yBot = g.last._1
      val lines = bandLines(shows.zipWithIndex.filter {
        case (s, _) => s.y < yTop - 0.5 && s.y > yBot + 0.5
      })
      val kept = repeatedColumnStarts(lines, tol)
      def tabular(ln: Seq[(Show, Int)]): Boolean =
        kept.size >= 2 &&
          ln.map(p => columnOf(kept, p._1.x, tol)).distinct.size >= 2
      val stacks = ArrayBuffer(ArrayBuffer(g.head))
      g.sliding(2).foreach {
        case Seq(a, b) =>
          val slab = lines.filter(ln =>
            ln.head._1.y < a._1 && ln.head._1.y > b._1)
          val prose = slab.isEmpty || slab.size > MaxLinesPerSlab ||
            slab.forall(ln => !tabular(ln))
          if (prose) stacks += ArrayBuffer(b) else stacks.last += b
        case _ =>
      }
      stacks.toSeq.filter(_.size >= 3)
        .flatMap(st => detectRowRuleIn(shows, st.toSeq, all))
    }
  }

  private def detectRowRuleIn(shows: Seq[Show],
                              rules: Seq[(Double, Double, Double)],
                              all: Seq[Seg])
      : Option[(RuledTable, Set[Int], GridBox)] = {
    val tol = 3.0
    val x0 = rules.map(_._2).min
    val xm = rules.map(_._3).max
    val yTop = rules.head._1
    val yBot = rules.last._1
    // a vertical rule crossing the band means this is (broken-)grid
    // territory, not a row-rules table: degrade
    val hasVert = all.exists { s =>
      math.abs(s.x1 - s.x2) <= 0.3 && math.abs(s.y2 - s.y1) > 2 && {
        val x = (s.x1 + s.x2) / 2
        val (lo, hi) = (math.min(s.y1, s.y2), math.max(s.y1, s.y2))
        x >= x0 - tol && x <= xm + tol && lo < yTop && hi > yBot
      }
    }
    if (hasVert) return None
    val slab = shows.zipWithIndex.filter {
      case (s, _) => s.y < yTop - 0.5 && s.y > yBot + 0.5
    }
    if (slab.isEmpty) return None
    // text starting outside the rule span within the band: side text,
    // ambiguous layout — a fake table is worse than none
    if (slab.exists { case (s, _) => s.x < x0 - tol || s.x > xm + tol })
      return None
    // rows = text baselines; columns = repeated x-start clusters (the
    // same definitions the stack-split test used)
    val lines = bandLines(slab)
    if (lines.size < 2) return None // header + at least one body row
    val colStarts = repeatedColumnStarts(lines, tol)
    if (colStarts.size < 2) return None
    val nCols = colStarts.size
    val rows = lines.map { ln =>
      val cells = Array.fill(nCols)(ArrayBuffer.empty[Show])
      ln.foreach { case (s, _) => cells(columnOf(colStarts, s.x, tol)) += s }
      cells.map(cell =>
        collapse(cell.sortBy(_.x).map(_.text).mkString(" "))).toSeq
    }.toSeq
    gridTable(rows).map { case (md, text) =>
      (RuledTable(yTop, x0, md, text), slab.map(_._2).toSet, GridBox(x0, xm, yBot, yTop))
    }
  }

  // ------------------------------------------------------------------
  // Borderless (whitespace-aligned) table detection (r10 verdict item
  // 2 — the NO-RULES report shape): columns exist only as repeated
  // x-start clusters, rows only as uniform-pitch baselines — what
  // DocumentIntelligenceReader.cs recovers from hosted layout
  // analysis for tables nothing was drawn around. Runs AFTER the
  // ruled/row-rules detectors on the shows they did not consume.
  // Same CONSERVATIVE degrade contract; the candidate bar is strictly
  // higher than the ruled shapes because there is no ink to anchor
  // on:
  //   - a maximal run of ≥3 consecutive multi-show baselines (a
  //     1-show line is prose; a 2-line run is a caption pair),
  //   - UNIFORM row pitch (every gap within ±30% of the median —
  //     report tables are typeset on a fixed leading; mixed prose
  //     is not),
  //   - every show starts ON a repeated column cluster (kerned prose
  //     emits arbitrary x-starts → degrade), every line spans ≥2
  //     clusters,
  //   - the SHORT-CELL guard: a show's estimated glyph run
  //     (0.55 em/char — Helvetica-ish average) must end before the
  //     next column's start. This is what separates a real table
  //     from justified two-column prose, whose lines FILL the column
  //     and cross the next start under any metric estimate,
  //   - NO painted rule within one row pitch of the run: ink nearby
  //     means the ruled/row-rules detectors already adjudicated this
  //     region (possibly degrading it as ambiguous) — re-claiming it
  //     here would undo their refusal,
  //   - the MaxLinesPerSlab cap, as everywhere: no real table packs
  //     64+ rows on one page; denser runs read as running text.
  // KNOWN BOUNDARY: a page of row-aligned short two-band lines (a
  // two-column LIST typeset on shared baselines) is geometrically a
  // 2-column borderless table and reads as one — disambiguating that
  // needs semantics, not geometry (hosted-layout territory).
  // ------------------------------------------------------------------
  private def estShowEnd(s: Show): Double =
    s.x + s.text.length * s.size * 0.55

  private def detectBorderlessTables(showsIdx: Seq[(Show, Int)],
                                     segs: Seq[Seg])
      : Seq[(RuledTable, Set[Int], GridBox)] = {
    if (showsIdx.size < 6) return Nil
    val lines = bandLines(showsIdx)
    val isCand = lines.map(_.size >= 2)
    val out = ArrayBuffer.empty[(RuledTable, Set[Int], GridBox)]
    var i = 0
    while (i < lines.size) {
      if (!isCand(i)) i += 1
      else {
        var j = i
        while (j + 1 < lines.size && isCand(j + 1)) j += 1
        borderlessFromRun(lines.slice(i, j + 1), segs).foreach(out += _)
        i = j + 1
      }
    }
    out.toSeq
  }

  private def borderlessFromRun(run: Seq[Seq[(Show, Int)]], segs: Seq[Seg])
      : Option[(RuledTable, Set[Int], GridBox)] = {
    val tol = 3.0
    if (run.size < 3 || run.size > MaxLinesPerSlab) return None
    val ys = run.map(_.head._1.y)
    val gaps = ys.zip(ys.tail).map { case (a, b) => a - b }
    val med = gaps.sorted.apply(gaps.size / 2)
    if (med <= 0.5) return None
    if (!gaps.forall(g => g >= med * 0.7 && g <= med * 1.3)) return None
    val starts = repeatedColumnStarts(run, tol)
    if (starts.size < 2) return None
    def colOf(s: Show): Int = columnOf(starts, s.x, tol)
    // strict alignment: every show sits ON a cluster start
    if (!run.forall(_.forall { case (s, _) =>
        math.abs(s.x - starts(colOf(s))) <= tol })) return None
    // every row genuinely spans ≥2 columns
    if (!run.forall(ln => ln.map(p => colOf(p._1)).distinct.size >= 2))
      return None
    // short-cell guard: no cell's glyph estimate crosses the next column
    if (!run.forall(_.forall { case (s, _) =>
        val c = colOf(s)
        c == starts.size - 1 || estShowEnd(s) <= starts(c + 1) - 2.0 }))
      return None
    val x0 = starts.head
    val xm = run.flatMap(_.map(p => estShowEnd(p._1))).max
    val yTop = ys.head; val yBot = ys.last
    // rule-free contract: any ink within a row pitch of the run is the
    // ruled detectors' (already-adjudicated) territory
    val crossed = segs.exists { s =>
      val (sx0, sx1) = (math.min(s.x1, s.x2), math.max(s.x1, s.x2))
      val (sy0, sy1) = (math.min(s.y1, s.y2), math.max(s.y1, s.y2))
      sx0 <= xm + tol && sx1 >= x0 - tol &&
        sy0 <= yTop + med && sy1 >= yBot - med
    }
    if (crossed) return None
    val nCols = starts.size
    val rows = run.map { ln =>
      val cells = Array.fill(nCols)(ArrayBuffer.empty[Show])
      ln.foreach { case (s, _) => cells(colOf(s)) += s }
      cells.map(cell =>
        collapse(cell.sortBy(_.x).map(_.text).mkString(" "))).toSeq
    }
    // topY one pitch above the first baseline — where a top rule would
    // sit — so the table splices before the blocks below it
    gridTable(rows).map { case (md, text) =>
      (RuledTable(yTop + med, x0, md, text), run.flatten.map(_._2).toSet,
        GridBox(x0, xm, yBot, yTop))
    }
  }

  // ------------------------------------------------------------------
  // Two-column reading order (r10 verdict item 3 — the academic-paper
  // shape): when the page's remaining shows form two disjoint x-bands
  // whose baselines interleave, y-order interleaves the columns
  // sentence-by-sentence; reading order is left column, then right.
  // CONSERVATIVE: fire only when the WHOLE remaining page partitions
  // — a full-width line (title, caption) spanning the gutter keeps
  // y-order, as does any ambiguity below. Degrade is always the
  // existing y-order, never lost text.
  //   - the gutter is the widest x-gap no show's glyph estimate
  //     crosses, ≥18pt wide, in the central half of the text span,
  //   - ≥3 baselines per band, bands VERTICALLY overlapping by ≥50%
  //     of the shorter band (side-by-side, not stacked blocks),
  //   - bands whose baselines are mostly row-ALIGNED are a table/
  //     list shape (the borderless detector's territory, or genuinely
  //     ambiguous): keep y-order.
  // ------------------------------------------------------------------
  private def twoColumnSplit(rest: Seq[Show]): Option[(Seq[Show], Seq[Show])] = {
    if (rest.size < 6) return None
    val xLo = rest.map(_.x).min
    val xHi = rest.map(estShowEnd).max
    if (xHi - xLo < 100) return None
    val iv = rest.map(s => (s.x, estShowEnd(s))).sortBy(_._1)
    var curEnd = iv.head._2
    var bestGap = 0.0; var bestAt = 0.0
    iv.tail.foreach { case (a, b) =>
      if (a > curEnd && a - curEnd > bestGap) {
        bestGap = a - curEnd; bestAt = (a + curEnd) / 2
      }
      curEnd = math.max(curEnd, b)
    }
    if (bestGap < 18.0) return None
    val frac = (bestAt - xLo) / (xHi - xLo)
    if (frac < 0.25 || frac > 0.75) return None
    val (l, r) = rest.partition(_.x < bestAt)
    def baselines(ss: Seq[Show]): Seq[Double] =
      ss.map(s => math.rint(s.y * 2) / 2).distinct.sorted
    val lb = baselines(l); val rb = baselines(r)
    if (lb.size < 3 || rb.size < 3) return None
    val overlap = math.min(lb.max, rb.max) - math.max(lb.min, rb.min)
    val minSpan = math.min(lb.max - lb.min, rb.max - rb.min)
    if (minSpan <= 0 || overlap < 0.5 * minSpan) return None
    val aligned = lb.count(y => rb.exists(z => math.abs(z - y) <= 0.5))
    if (aligned * 2 > math.min(lb.size, rb.size)) return None
    Some((l.sortBy(s => (-s.y, s.x)), r.sortBy(s => (-s.y, s.x))))
  }

  private def detectGridIn(shows: Seq[Show], segs: Seq[Seg])
      : Option[(RuledTable, Set[Int], GridBox)] = {
    if (segs.isEmpty) return None
    // split into horizontal / vertical rules (axis-aligned only)
    val hs0 = segs.collect {
      case s if math.abs(s.y1 - s.y2) <= 0.3 && math.abs(s.x2 - s.x1) > 2 =>
        ((s.y1 + s.y2) / 2, math.min(s.x1, s.x2), math.max(s.x1, s.x2))
    }
    val vs0 = segs.collect {
      case s if math.abs(s.x1 - s.x2) <= 0.3 && math.abs(s.y2 - s.y1) > 2 =>
        ((s.x1 + s.x2) / 2, math.min(s.y1, s.y2), math.max(s.y1, s.y2))
    }
    if (hs0.size < 2 || vs0.size < 2) return None
    val hs = clusterRules(hs0) // by y, ascending
    val vs = clusterRules(vs0) // by x, ascending
    if (hs.size < 2 || vs.size < 2 || (hs.size - 1) * (vs.size - 1) < 2)
      return None
    val ys = hs.map(_._1); val xs = vs.map(_._1)
    val (x0, xm) = (xs.head, xs.last)
    val (yBot, yTop) = (ys.head, ys.last)
    val tol = 3.0
    // full-border contract: every rule spans the whole grid
    if (!hs.forall(h => h._2 <= x0 + tol && h._3 >= xm - tol) ||
        !vs.forall(v => v._2 <= yBot + tol && v._3 >= yTop - tol))
      return None
    val rowTops = ys.reverse // descending: row r spans (rowTops(r+1), rowTops(r))
    val nRows = rowTops.size - 1
    val nCols = xs.size - 1
    val cells = Array.fill(nRows, nCols)(ArrayBuffer.empty[Show])
    val consumed = scala.collection.mutable.Set.empty[Int]
    shows.zipWithIndex.foreach { case (s, i) =>
      if (s.x >= x0 && s.x <= xm && s.y >= yBot && s.y <= yTop) {
        var r = 0
        while (r < nRows - 1 && s.y < rowTops(r + 1)) r += 1
        var c = 0
        while (c < nCols - 1 && s.x >= xs(c + 1)) c += 1
        cells(r)(c) += s
        consumed += i
      }
    }
    val rows = cells.map(_.map(cell =>
      collapse(cell.sortBy(s => (-s.y, s.x)).map(_.text).mkString(" "))).toSeq).toSeq
    gridTable(rows).map { case (md, text) =>
      (RuledTable(yTop, x0, md, text), consumed.toSet, GridBox(x0, xm, yBot, yTop))
    }
  }

  /** Rebuild lines from the shows a detected table did NOT consume —
    * the same flush-on-y-move grouping [[interpretContent]] applies
    * while streaming (only invoked when a table was found, so
    * table-free documents keep the original line stream bit-exact). */
  private def rebuildLines(shows: Seq[Show]): Seq[Line] = {
    val out = ArrayBuffer.empty[Line]
    val cur = ArrayBuffer.empty[Show]
    def flush(): Unit = if (cur.nonEmpty) {
      val t = cur.map(_.text).mkString("")
      if (t.nonEmpty) out += Line(cur.last.y, cur.map(_.size).max, t)
      cur.clear()
    }
    shows.foreach { s =>
      if (cur.nonEmpty && math.abs(s.y - cur.last.y) > 0.5) flush()
      cur += s
    }
    flush()
    out.toSeq
  }

  // ------------------------------------------------------------------
  // Document assembly
  // ------------------------------------------------------------------
  /** A detected grid's (markdown, text) through the shared table
    * render, or None when fewer than two cells hold text — a fake
    * table is worse than none. Every row has the grid's column count. */
  private def gridTable(rows: Seq[Seq[String]]): Option[(String, String)] =
    if (rows.flatten.count(_.nonEmpty) < 2) None
    else tableFromGrid(rows.map(_.map(c => (c, c)))).map(t => (t._3, t._4))

  /** Parse one PDF binary into ordered
    * (kind, level, markdown, text, page) tuples — the shared reader
    * stream plus the page number the reference's paged readers set. */
  def parseBlocks(pdf: Array[Byte]): Seq[(String, Int, String, String, Int)] = {
    if (pdf == null || pdf.length < 8) return Nil
    try parseBlocksUnsafe(pdf)
    catch { case _: Exception => Nil } // degrade, never throw
  }

  private def parseBlocksUnsafe(
      pdf: Array[Byte]): Seq[(String, Int, String, String, Int)] = {
    var objects = scanObjects(pdf)
    if (objects.isEmpty) return Nil

    def resolve(o: PObj, depth: Int = 0): PObj = o match {
      case PRef(n) if depth < 16 =>
        resolve(objects.getOrElse(n, PNull), depth + 1)
      case other => other
    }

    // expand object streams (PDF 1.5+): their members are first-class
    // objects that the scanner can't see inside the flate data
    val objStms = objects.values.collect {
      case s @ PStream(PDict(m), _) if m.get("Type").contains(PName("ObjStm")) => s
    }.toVector
    objStms.foreach { s =>
      for {
        data <- decodeStream(s, resolve(_))
        n <- resolve(s.dict.m.getOrElse("N", PNull)) match {
          case PNum(v) => Some(v.toInt); case _ => None }
        first <- resolve(s.dict.m.getOrElse("First", PNull)) match {
          case PNum(v) => Some(v.toInt); case _ => None }
      } {
        val hdr = new Lexer(data, 0)
        val entries = ArrayBuffer.empty[(Int, Int)]
        var i = 0
        var ok = true
        while (i < n && ok) {
          hdr.skipWs()
          (hdr.parseNumber(), { hdr.skipWs(); hdr.parseNumber() }) match {
            case (Some(on), Some(off)) => entries += ((on.v.toInt, off.v.toInt))
            case _ => ok = false
          }
          i += 1
        }
        entries.foreach { case (objNum, off) =>
          if (!objects.contains(objNum) && first + off < data.length) {
            val sub = new Lexer(data, first + off)
            try objects += objNum -> sub.parseObject(0)
            catch { case _: Exception => }
          }
        }
      }
    }

    def dictOf(o: PObj): Option[PDict] = resolve(o) match {
      case d: PDict => Some(d)
      case PStream(d, _) => Some(d)
      case _ => None
    }

    // page list: catalog → pages tree (with /Resources inheritance);
    // fall back to /Type/Page objects in object-number order
    val catalog = objects.values.flatMap(dictOf).find(
      _.m.get("Type").contains(PName("Catalog")))
    val pages = ArrayBuffer.empty[(PDict, Option[PDict])] // (page, inherited res)
    val visited = scala.collection.mutable.Set.empty[Int]
    def walk(node: PObj, inheritedRes: Option[PDict], depth: Int): Unit = {
      if (depth > MaxDepth) return
      val nodeNum = node match { case PRef(n) => Some(n); case _ => None }
      if (nodeNum.exists(!visited.add(_))) return // cycle guard
      dictOf(node).foreach { d =>
        val res = dictOf(d.m.getOrElse("Resources", PNull)).orElse(inheritedRes)
        d.m.get("Type") match {
          case Some(PName("Pages")) =>
            resolve(d.m.getOrElse("Kids", PNull)) match {
              case PArr(kids) => kids.foreach(walk(_, res, depth + 1))
              case _ =>
            }
          case Some(PName("Page")) => pages += ((d, res))
          case _ =>
        }
      }
    }
    catalog.foreach(c => walk(c.m.getOrElse("Pages", PNull), None, 0))
    if (pages.isEmpty)
      objects.toSeq.sortBy(_._1).foreach { case (_, o) =>
        dictOf(o).filter(_.m.get("Type").contains(PName("Page")))
          .foreach(d => pages += ((d,
            dictOf(d.m.getOrElse("Resources", PNull)))))
      }
    if (pages.isEmpty) return Nil

    def fontsOf(res: Option[PDict]): Map[String, FontInfo] =
      (for {
        r <- res.toSeq
        fontDict <- dictOf(r.m.getOrElse("Font", PNull)).toSeq
        (name, fRef) <- fontDict.m.toSeq
        f <- dictOf(fRef).toSeq
      } yield {
        val twoByte = f.m.get("Subtype").contains(PName("Type0"))
        val toUni = resolve(f.m.getOrElse("ToUnicode", PNull)) match {
          case s: PStream =>
            decodeStream(s, resolve(_)).map(parseToUnicode).getOrElse(Map.empty)
          case _ => Map.empty[Int, String]
        }
        val enc =
          if (twoByte) Map.empty[Int, String] // Type0 /Encoding is a CMap, not a table
          else parseEncoding(f.m.getOrElse("Encoding", PNull), resolve(_))
        name -> FontInfo(toUni, twoByte, enc)
      }).toMap

    // /Resources /XObject entries whose dict says /Subtype /Image:
    // name -> alt text (/Alt string when present, decoded Latin-1 —
    // the reference's AlternativeText surface,
    // DocumentIntelligenceReader.cs:182-190). Pixels are never decoded.
    def imageAltsOf(res: Option[PDict]): Map[String, String] =
      (for {
        r <- res.toSeq
        xDict <- dictOf(r.m.getOrElse("XObject", PNull)).toSeq
        (name, xRef) <- xDict.m.toSeq
        x <- dictOf(xRef).toSeq
        if x.m.get("Subtype").contains(PName("Image"))
      } yield {
        val alt = resolve(x.m.getOrElse("Alt", PNull)) match {
          case PStr(b) => new String(b, java.nio.charset.StandardCharsets.ISO_8859_1)
          case _ => ""
        }
        name -> alt
      }).toMap

    // per page: decode contents (single stream or array), interpret
    val pageContent: Seq[(Seq[Line], Seq[RuledTable], Seq[(Double, Double, String)])] =
      pages.toSeq.map { case (page, res) =>
      val imageAlts = imageAltsOf(res)
      val streams = resolve(page.m.getOrElse("Contents", PNull)) match {
        case s: PStream => Seq(s)
        case PArr(items) => items.map(resolve(_)).collect { case s: PStream => s }
        case _ => Nil
      }
      val content = streams.flatMap(decodeStream(_, resolve(_))) match {
        case Nil => Array.empty[Byte]
        case parts => // streams concatenate with a separating space
          val out = new java.io.ByteArrayOutputStream
          parts.foreach { p => out.write(p); out.write('\n') }
          out.toByteArray
      }
      if (content.isEmpty)
        (Nil: Seq[Line], Nil: Seq[RuledTable],
          Nil: Seq[(Double, Double, String)])
      else {
        val (lines, shows, segs, places) =
          interpretContent(content, fontsOf(res), imageAlts.keySet)
        // (topY, x, alt) per placement, reading order resolved later
        val imgs = places.map(pl => (pl.topY, pl.x,
          imageAlts.getOrElse(pl.name, "")))
        val (ruled, ruledConsumed) = detectRuledTables(shows, segs)
        // borderless tables only compete for shows the ruled/row-rules
        // detectors left behind
        val borderless = detectBorderlessTables(
          shows.zipWithIndex.filterNot(p => ruledConsumed(p._2)), segs)
        val consumed = ruledConsumed ++ borderless.flatMap(_._2)
        val tables = (ruled ++ borderless.map(_._1))
          .sortBy(t => (-t.topY, t.x0))
        val rest = shows.zipWithIndex.collect {
          case (s, i) if !consumed(i) => s
        }
        val twoCol = twoColumnSplit(rest)
        val ordered = twoCol match {
          case Some((left, right)) => left ++ right // column reading order
          case None => rest // stream order (the r10-exact path)
        }
        if (tables.nonEmpty || twoCol.isDefined)
          // table text leaves the line stream (and the body-size
          // vote): remaining shows rebuild with the same grouping
          (rebuildLines(ordered), tables, imgs)
        else (lines, Nil, imgs)
      }
    }

    // body size = dominant size weighted by text length; headers are
    // larger sizes, leveled by rank
    val allLines = pageContent.flatMap(_._1)
    if (allLines.isEmpty && pageContent.forall(_._2.isEmpty) &&
      pageContent.forall(_._3.isEmpty)) return Nil
    def sizeKey(s: Double): Double = math.rint(s * 2) / 2 // 0.5pt classes
    val weightBySize = allLines.groupBy(l => sizeKey(l.size))
      .map { case (s, ls) => s -> ls.map(_.text.length).sum }
    val bodySize =
      if (weightBySize.isEmpty) 0.0 // table-only document: no lines
      else weightBySize.maxBy { case (s, w) => (w, -s) }._1
    val headerSizes = weightBySize.keys.filter(_ > bodySize + 0.6).toSeq
      .sorted.reverse
    val levelOf = headerSizes.zipWithIndex.map {
      case (s, i) => s -> math.min(i + 1, 6) }.toMap

    val out = ArrayBuffer.empty[(String, Int, String, String, Int)]
    pageContent.zipWithIndex.foreach { case ((lines, tables, images), pageIdx) =>
      // group consecutive lines into blocks: same size class AND a
      // y-gap under ~1.8× the size reads as one paragraph
      val blocks = ArrayBuffer.empty[ArrayBuffer[Line]]
      lines.foreach { l =>
        val startNew = blocks.isEmpty || {
          val prev = blocks.last.last
          sizeKey(prev.size) != sizeKey(l.size) ||
            math.abs(prev.y - l.y) > math.max(l.size, 1.0) * 1.8
        }
        if (startNew) blocks += ArrayBuffer(l) else blocks.last += l
      }
      // elements stay in ENCOUNTER order (unchanged when no table); a
      // detected table splices in before the first block below its top
      // rule (PDF y grows upward: reading order is descending y)
      val elems = ArrayBuffer.empty[(Double, (String, Int, String, String, Int))]
      blocks.foreach { bls =>
        val text = collapse(bls.map(_.text).mkString(" "))
        if (text.nonEmpty) {
          val sz = sizeKey(bls.head.size)
          val elem = levelOf.get(sz) match {
            case Some(level) =>
              ("header", level, ("#" * level) + " " + text, text, pageIdx + 1)
            case None =>
              ("paragraph", 0, text, text, pageIdx + 1)
          }
          elems += ((bls.head.y, elem))
        }
      }
      // tables arrive sorted (topY desc, x0 asc): sequential insertion
      // keeps both the vertical reading order and a deterministic
      // left-to-right order for side-by-side grids
      tables.foreach { t =>
        val at = elems.indexWhere(_._1 < t.topY)
        val elem = ((t.topY, ("table", 0, t.md, t.text, pageIdx + 1)))
        if (at < 0) elems += elem else elems.insert(at, elem)
      }
      // image placements splice in the same way (top-y reading order,
      // left-to-right for side-by-side figures); text = alt, like the
      // DOCX/HTML image legs — i_enrich_imagealt's PDF-sourced path
      images.sortBy { case (topY, x, _) => (-topY, x) }.foreach {
        case (topY, _, alt) =>
          val at = elems.indexWhere(_._1 < topY)
          val elem = ((topY,
            ("image", 0, s"![${collapse(alt)}]()", collapse(alt), pageIdx + 1)))
          if (at < 0) elems += elem else elems.insert(at, elem)
      }
      out ++= elems.map(_._2)
    }
    stitchContinuationTables(out.toSeq)
  }

  /** Multi-page table continuation (the report/ledger shape a hosted
    * layout service also resolves: a long table flows across a page
    * break, conventionally repeating its header row on the new page).
    * Conservative stitch: a table that is the LAST element of its page
    * merges with a table that is the FIRST element of the NEXT page
    * only when the continuation repeats the header row AND the column
    * separator EXACTLY (same cells, same column count) — the repeated
    * header is dropped and the body rows append, keeping the first
    * page's number. Any other adjacency — a caption between them, a
    * differing header, a column-count change, a page gap — keeps both
    * tables (ambiguity degrades, the house reader contract). Chains
    * fold left, so a three-page table stitches into one element.
    * Detector-agnostic: ruled, row-rules, and borderless tables all
    * emit the same pipe-markdown, so a table may continue under a
    * different ink style than it started with.
    *
    * Documented boundary: two INDEPENDENT tables with identical
    * headers sitting flush against a shared page break (no caption,
    * no intervening text) are indistinguishable from a continuation
    * and read as one — the same resolution hosted layout analysis
    * applies.
    */
  private def stitchContinuationTables(
      elems: Seq[(String, Int, String, String, Int)])
    : Seq[(String, Int, String, String, Int)] = {
    val n = elems.length
    if (n < 2) return elems
    // first/last-of-page flags on ORIGINAL positions: merging can only
    // consume a whole page-leading table, so the flags stay valid for
    // every later fold step (a merged run's tail keeps its own flag)
    val firstOf = Array.tabulate(n)(i => i == 0 || elems(i - 1)._5 != elems(i)._5)
    val lastOf = Array.tabulate(n)(i => i == n - 1 || elems(i + 1)._5 != elems(i)._5)
    def mdLines(md: String): Array[String] = md.split("\n", -1)
    def headerRepeats(a: String, b: String): Boolean = {
      val (la, lb) = (mdLines(a), mdLines(b))
      la.length >= 3 && lb.length >= 3 && la(0) == lb(0) && la(1) == lb(1)
    }
    val out = ArrayBuffer.empty[((String, Int, String, String, Int), Int)]
    elems.zipWithIndex.foreach { case (e, i) =>
      val mergeable = out.nonEmpty && {
        val (prev, tailIdx) = out.last
        prev._1 == "table" && e._1 == "table" &&
          lastOf(tailIdx) && firstOf(i) &&
          e._5 == elems(tailIdx)._5 + 1 &&
          headerRepeats(prev._3, e._3)
      }
      if (mergeable) {
        val (prev, _) = out.last
        val bLines = mdLines(e._3)
        val md = prev._3 + "\n" + bLines.drop(2).mkString("\n")
        // the text field repeats the header cells at its front (it was
        // built rows-first) — strip that prefix when it matches, keep
        // the whole text otherwise (never silently lose cell text)
        val headText = collapse(bLines(0).stripPrefix("|").stripSuffix("|")
          .split("\\|", -1).map(_.trim).filter(_.nonEmpty).mkString(" "))
        val bodyText =
          if (headText.nonEmpty && e._4.startsWith(headText))
            e._4.drop(headText.length).trim
          else e._4
        val text = if (bodyText.isEmpty) prev._4
          else prev._4 + " " + bodyText
        out(out.length - 1) = ((prev._1, prev._2, md, text, prev._5), i)
      } else out += ((e, i))
    }
    out.map(_._1).toSeq
  }

  /** documents(doc_id, content: binary) → Dataset[DocElement] — the
    * same contract as the markdown/HTML/DOCX readers, with
    * page_number derived from the PDF's own page tree. */
  def elements(spark: SparkSession, documents: DataFrame,
               idCol: String = "doc_id", contentCol: String = "content",
               metaCols: Seq[String] = Nil): Dataset[DocElement] =
    ElementFrame.binary(documents, idCol, contentCol, None, metaCols) {
      (id, bytes, _, meta) => ElementFrame.paged(id, parseBlocks(bytes), meta)
    }

  // ------------------------------------------------------------------
  // Deterministic synthesis (specs + the i_pdf_elements driver row):
  // a minimal classic-xref PDF built from per-page block lists, with
  // Flate-compressed content streams so the decode path is exercised
  // corpus-wide. Latin-1 text only (chars beyond U+00FF become '?' —
  // PDF literal strings are byte strings; the reader's ToUnicode path
  // is spec-tested with hand-built CMaps instead).
  // ------------------------------------------------------------------
  sealed trait SynthBlock
  final case class SHeading(level: Int, text: String) extends SynthBlock
  final case class SPara(text: String) extends SynthBlock
  /** An image XObject placement (q cm /ImN Do Q) with /Alt alt text —
    * exactly the shape the reader's Do scan emits as an `image`
    * element. The pixel payload is a tiny constant gray square (the
    * reader never decodes pixels). */
  final case class SImage(alt: String) extends SynthBlock
  /** A fully-bordered ruled table: the grid is DRAWN (m/l strokes)
    * and each cell's text placed inside it — what a report-style
    * exporter emits, and exactly the shape [[detectRuledTable]]
    * recovers. First row reads as the header. */
  final case class STable(rows: Seq[Seq[String]]) extends SynthBlock
  /** A row-rules-only table (the booktabs/LaTeX report shape): only
    * three horizontal rules are drawn — toprule, midrule under the
    * header row, bottomrule — body rows separated by baseline position
    * alone, columns by left-aligned x starts. Exactly the shape
    * [[detectRowRuleTables]] recovers. Needs ≥2 rows to emit (a
    * 1-row table collapses midrule onto bottomrule). */
  final case class SRowRuleTable(rows: Seq[Seq[String]]) extends SynthBlock
  /** A borderless whitespace-aligned table: NOTHING is drawn — cells
    * sit at repeated column x-starts on uniform-pitch baselines.
    * Exactly the shape [[detectBorderlessTables]] recovers. Needs
    * ≥3 rows (the detector's minimum run). */
  final case class SBorderlessTable(rows: Seq[Seq[String]]) extends SynthBlock
  /** Two-column prose (the academic-paper shape): left/right display
    * lines in disjoint x-bands with interleaved (half-pitch offset,
    * deliberately NOT row-aligned) baselines. Exactly the shape
    * [[twoColumnSplit]] reorders into column-major reading order. */
  final case class STwoColPara(left: Seq[String], right: Seq[String]) extends SynthBlock

  /** Font sizes the synthesis uses: body 11pt, headings 20/17/15/14/
    * 13/12.5 — all above the reader's body+0.6 header threshold and
    * strictly rank-ordered. */
  def headingSize(level: Int): Double = level match {
    case 1 => 20.0
    case 2 => 17.0
    case 3 => 15.0
    case 4 => 14.0
    case 5 => 13.0
    case _ => 12.5
  }
  val BodySize: Double = 11.0

  private def escapeLiteral(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '(' => sb.append("\\(")
      case ')' => sb.append("\\)")
      case c if c > 0xff => sb.append('?')
      case c => sb.append(c)
    }
    sb.toString
  }

  def synthesize(pages: Seq[Seq[SynthBlock]]): Array[Byte] = {
    val latin1 = java.nio.charset.StandardCharsets.ISO_8859_1
    // image XObjects registered during content generation: alt text
    // per name, names unique across the whole file (shared Resources)
    val imageAlts = ArrayBuffer.empty[String]
    def contentFor(blocks: Seq[SynthBlock]): Array[Byte] = {
      val sb = new StringBuilder
      var y = 760.0
      // Double.toString is locale-independent (f"" is not)
      def fmt(v: Double): String = (math.rint(v * 10) / 10).toString
      blocks.foreach {
        case STable(rows0) =>
          val rows = rows0.filter(_.nonEmpty)
          if (rows.nonEmpty) {
            val nCols = rows.map(_.size).max
            val colW = 120.0; val rowH = 22.0
            val x0 = 72.0
            val top = y
            val bot = top - rows.size * rowH
            val x1 = x0 + nCols * colW
            // grid rules: horizontal per row boundary, vertical per col
            for (r <- 0 to rows.size)
              sb.append(s"${fmt(x0)} ${fmt(top - r * rowH)} m ${fmt(x1)} ${fmt(top - r * rowH)} l S\n")
            for (c <- 0 to nCols)
              sb.append(s"${fmt(x0 + c * colW)} ${fmt(bot)} m ${fmt(x0 + c * colW)} ${fmt(top)} l S\n")
            // cell text: placed inside its cell, body size
            val szT = fmt(BodySize)
            for ((row, r) <- rows.zipWithIndex; (cell, c) <- row.zipWithIndex
                 if cell.nonEmpty) {
              val cx = fmt(x0 + c * colW + 5)
              val cy = fmt(top - r * rowH - 15)
              sb.append(s"BT /F1 $szT Tf $cx $cy Td (${escapeLiteral(cell)}) Tj ET\n")
            }
            y = bot - BodySize * 2.5
            if (y < 40) y = 760.0
          }
        case SRowRuleTable(rows0) =>
          val rows = rows0.filter(_.nonEmpty)
          if (rows.size >= 2) {
            val nCols = rows.map(_.size).max
            val colW = 120.0; val rowH = 22.0
            val x0 = 72.0
            val top = y
            val bot = top - rows.size * rowH
            val x1 = x0 + nCols * colW
            // booktabs shape: toprule, midrule under the header,
            // bottomrule — NO verticals, body rows by baseline only
            for (ry <- Seq(top, top - rowH, bot))
              sb.append(s"${fmt(x0)} ${fmt(ry)} m ${fmt(x1)} ${fmt(ry)} l S\n")
            val szT = fmt(BodySize)
            for ((row, r) <- rows.zipWithIndex; (cell, c) <- row.zipWithIndex
                 if cell.nonEmpty) {
              val cx = fmt(x0 + c * colW + 5)
              val cy = fmt(top - r * rowH - 15)
              sb.append(s"BT /F1 $szT Tf $cx $cy Td (${escapeLiteral(cell)}) Tj ET\n")
            }
            y = bot - BodySize * 2.5
            if (y < 40) y = 760.0
          }
        case SBorderlessTable(rows0) =>
          val rows = rows0.filter(_.nonEmpty)
          if (rows.size >= 3) {
            val nCols = rows.map(_.size).max
            val colW = 120.0; val rowH = 16.0 // uniform pitch, no ink
            val x0 = 72.0
            val top = y
            val szT = fmt(BodySize)
            for ((row, r) <- rows.zipWithIndex; (cell, c) <- row.zipWithIndex
                 if cell.nonEmpty) {
              val cx = fmt(x0 + c * colW)
              val cy = fmt(top - r * rowH - 12)
              sb.append(s"BT /F1 $szT Tf $cx $cy Td (${escapeLiteral(cell)}) Tj ET\n")
            }
            y = top - rows.size * rowH - BodySize * 2.5
            if (y < 40) y = 760.0
          }
        case STwoColPara(left, right) =>
          val pitch = 13.0
          val szT = fmt(BodySize)
          val top = y
          left.zipWithIndex.foreach { case (t, i) =>
            sb.append(s"BT /F1 $szT Tf 72 ${fmt(top - 12 - i * pitch)} Td (${escapeLiteral(t)}) Tj ET\n")
          }
          // right band at x=330 (past any ≤36-char left line's glyph
          // estimate), baselines offset half a pitch: interleaved, not
          // row-aligned
          right.zipWithIndex.foreach { case (t, i) =>
            sb.append(s"BT /F1 $szT Tf 330 ${fmt(top - 12 - 6.0 - i * pitch)} Td (${escapeLiteral(t)}) Tj ET\n")
          }
          y = top - (math.max(left.size, right.size) * pitch + 18.0) - BodySize * 2.5
          if (y < 40) y = 760.0
        case SImage(alt) =>
          imageAlts += alt
          val n = imageAlts.size
          val h = 48.0; val w = 64.0
          val bottom = y - h
          sb.append(s"q ${fmt(w)} 0 0 ${fmt(h)} 72 ${fmt(bottom)} cm /Im$n Do Q\n")
          y = bottom - BodySize * 2.5
          if (y < 40) y = 760.0
        case b =>
          val (size, text) = b match {
            case SHeading(l, t) => (headingSize(l), t)
            case SPara(t) => (BodySize, t)
            case _ => (BodySize, "")
          }
          sb.append(s"BT /F1 ${fmt(size)} Tf 72 ${fmt(y)} Td (${escapeLiteral(text)}) Tj ET\n")
          y -= size * 2.5 // inter-block gap > the reader's 1.8× split
          if (y < 40) y = 760.0 // overflow: keep coordinates sane
      }
      val raw = sb.toString.getBytes(latin1)
      // BEST_SPEED: packaging is per-row work in the driver rows; the
      // reader's inflate path is exercised regardless of level
      val d = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED)
      try {
        d.setInput(raw); d.finish()
        val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
        val buf = new Array[Byte](8192)
        while (!d.finished()) out.write(buf, 0, d.deflate(buf))
        out.toByteArray
      } finally d.end()
    }

    // object layout: 1 Catalog, 2 Pages, 3 Font, then per page i:
    // (4+2i) Page, (5+2i) its content stream; image XObjects (if any)
    // follow from 4+2*nPages, one per SImage in encounter order
    val nPages = pages.length
    val objs = ArrayBuffer.empty[(Int, Array[Byte])]
    val kidRefs = (0 until nPages).map(i => s"${4 + 2 * i} 0 R").mkString(" ")
    objs += 1 -> "<< /Type /Catalog /Pages 2 0 R >>".getBytes(latin1)
    objs += 3 -> "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>".getBytes(latin1)
    pages.zipWithIndex.foreach { case (blocks, i) =>
      val content = contentFor(blocks)
      objs += (4 + 2 * i) ->
        s"<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 612 792 ] /Contents ${5 + 2 * i} 0 R >>".getBytes(latin1)
      val streamObj = new java.io.ByteArrayOutputStream
      streamObj.write(
        s"<< /Length ${content.length} /Filter /FlateDecode >>\nstream\n".getBytes(latin1))
      streamObj.write(content)
      streamObj.write("\nendstream".getBytes(latin1))
      objs += (5 + 2 * i) -> streamObj.toByteArray
    }
    val imgBase = 4 + 2 * nPages
    imageAlts.zipWithIndex.foreach { case (alt, k) =>
      // 4 gray pixels, flate-compressed — valid but never decoded
      val px = {
        val d = new java.util.zip.Deflater()
        d.setInput(Array[Byte](0x60, 0x60, 0x60, 0x60)); d.finish()
        val out = new java.io.ByteArrayOutputStream
        val buf = new Array[Byte](64)
        while (!d.finished()) out.write(buf, 0, d.deflate(buf))
        d.end(); out.toByteArray
      }
      val streamObj = new java.io.ByteArrayOutputStream
      streamObj.write((s"<< /Type /XObject /Subtype /Image /Width 2 /Height 2 " +
        s"/ColorSpace /DeviceGray /BitsPerComponent 8 " +
        s"/Alt (${escapeLiteral(alt)}) /Filter /FlateDecode " +
        s"/Length ${px.length} >>\nstream\n").getBytes(latin1))
      streamObj.write(px)
      streamObj.write("\nendstream".getBytes(latin1))
      objs += (imgBase + k) -> streamObj.toByteArray
    }
    val xobjDict =
      if (imageAlts.isEmpty) ""
      else " /XObject << " + imageAlts.indices.map(k =>
        s"/Im${k + 1} ${imgBase + k} 0 R").mkString(" ") + " >>"
    objs += 2 -> (s"<< /Type /Pages /Kids [ $kidRefs ] /Count $nPages " +
      s"/Resources << /Font << /F1 3 0 R >>$xobjDict >> >>").getBytes(latin1)

    val out = new java.io.ByteArrayOutputStream
    out.write("%PDF-1.5\n%âãÏÓ\n".getBytes(latin1))
    val offsets = scala.collection.mutable.Map.empty[Int, Int]
    objs.sortBy(_._1).foreach { case (num, body) =>
      offsets(num) = out.size
      out.write(s"$num 0 obj\n".getBytes(latin1))
      out.write(body)
      out.write("\nendobj\n".getBytes(latin1))
    }
    val xrefAt = out.size
    val maxObj = objs.map(_._1).max
    out.write(s"xref\n0 ${maxObj + 1}\n".getBytes(latin1))
    out.write("0000000000 65535 f \n".getBytes(latin1))
    (1 to maxObj).foreach { n =>
      val off = offsets.getOrElse(n, 0).toString
      out.write((("0" * (10 - off.length)) + off + " 00000 n \n").getBytes(latin1))
    }
    out.write(
      s"trailer\n<< /Size ${maxObj + 1} /Root 1 0 R >>\nstartxref\n$xrefAt\n%%EOF\n"
        .getBytes(latin1))
    out.toByteArray
  }
}
