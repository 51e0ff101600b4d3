package graft

import graft.sources.{DocxElementReader => D, PdfElementReader => P,
  PptxElementReader => S, XlsxElementReader => X}
import org.scalatest.funsuite.AnyFunSuite

/** The synthesizers feed the `i_*` driver rows and every reader spec,
  * so their bytes are part of the oracle contract: one package per
  * format, exercising every block kind its writer knows, is pinned by
  * sha256. A refactor of the package writers must keep these bytes;
  * an intended format change updates the pin. The pins hold for the
  * JDK's deflater at BEST_SPEED (JDK 17); zip entry times are fixed. */
class SynthesizerPinsSpec extends AnyFunSuite {

  private def sha256(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .map(b => f"${b & 0xff}%02x").mkString

  private val docx = D.synthesize(Seq(
    D.SHeading(1, "Title & <more>"),
    D.SPara(Seq(D.SRun("plain "), D.SRun("bold", bold = true),
      D.SRun(" italic", italic = true),
      D.SRun(" link", link = Some("https://example.com/a?b=1&c=2")))),
    D.SList(Seq("one", "two")),
    D.SImage("a \"quoted\" alt"),
    D.STable(Seq(Seq("h1", "h2"), Seq("a", "b"))),
    D.SFooterPara("footer text"),
    D.SCode("val x = 1")))

  private val xlsx = X.synthesize(Seq(
    X.SSheet("Sheet <1>", Seq(
      Seq(X.SShared("name"), X.SInline("value & co"), X.SShared("name")),
      Seq(X.SNum("1.5"), X.SEmpty, X.SBool(true)),
      Seq(X.SBool(false), X.SShared("tail"))), merges = Seq("A3:B3")),
    X.SSheet("Second", Seq(Seq(X.SInline("only"))))))

  private val pptx = S.synthesize(Seq(
    S.PSlide(Seq(S.PTitle("Deck <title>"), S.PBody(Seq("point a", "point b")),
      S.PImage("chart & alt"), S.PTable(Seq(Seq("k", "v"), Seq("x", "1")))),
      notes = Seq("speaker note")),
    S.PSlide(Seq(S.PTitle("Second slide")))))

  private val pdf = P.synthesize(Seq(
    Seq(P.SHeading(1, "Report (draft)"), P.SPara("body text \\ with escapes"),
      P.SImage("figure alt"), P.STable(Seq(Seq("h1", "h2"), Seq("a", "b")))),
    Seq(P.SRowRuleTable(Seq(Seq("c1", "c2"), Seq("r1", "r2"), Seq("s1", "s2"))),
      P.SBorderlessTable(Seq(Seq("x", "y"), Seq("1", "2"), Seq("3", "4"))),
      P.STwoColPara(Seq("left one", "left two"), Seq("right one", "right two")))))

  test("synthesized DOCX, XLSX, PPTX and PDF packages are byte-pinned") {
    val got = Map("docx" -> sha256(docx), "xlsx" -> sha256(xlsx),
      "pptx" -> sha256(pptx), "pdf" -> sha256(pdf))
    assert(got == Map(
      "docx" -> "c07afb64513b6b23aee1ff02717182208a22ba3296dcc4b37971f4f3e902a84f",
      "xlsx" -> "9ea41d99320093f1710b59cba584fa1d715f0ae1b3de55c85be58ef51f628e8e",
      "pptx" -> "8d36bb35ef3076b26827c13b4b2802637fa1d0d6b1e987ca7cf1a94a2e504525",
      "pdf" -> "60d863097ebcf2e9d86c2a3ea26b6326e71e3744445d4b38d3cae9906595941c"))
  }
}
