package graft.operators

import graft.model.{Chunk, DocElement}
import graft.sources.{AutoElementReader, ElementFrame, MarkdownElementReader}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Chunker options — defaults mirror the reference
  * (Chunkers/IngestionChunkerOptions.cs:12-14: maxTokensPerChunk=2000,
  * overlap=500). `tokenCounter` mirrors the reference's pluggable
  * `Microsoft.ML.Tokenizers.Tokenizer` (IngestionChunkerOptions.cs:
  * 16-21, counted per element in ElementsChunker.cs:13,26): every
  * budget-based chunker counts with it, so swapping in a BPE-style
  * counter shifts chunk boundaries exactly as a real tokenizer would
  * (a whitespace count under-reads a BPE budget by ~30-50%). The
  * counter must be serializable — it ships to executors.
  * (tokenChunks' WINDOWS stay whitespace tokens — windowing needs the
  * token strings themselves, not just a count; see tokenChunks.)
  */
final case class ChunkerOptions(maxTokens: Int = 2000,
    overlap: Int = ChunkerOptions.DefaultOverlap,
    tokenCounter: String => Int = ChunkerOptions.WhitespaceCounter) {
  require(tokenCounter != null, "tokenCounter is required") // ChunkerOptionsTests.TokenizerIsRequired
  require(maxTokens > 0, "maxTokens must be positive")
  /** The overlap actually applied. An UNSET overlap mirrors the
    * reference's adaptive default (ChunkerOptionsTests.
    * DefaultOverlapTokensIsZeroForSmallMaxTokensPerChunk): 500, but 0
    * when the chunk budget is too small to fit it — so
    * `ChunkerOptions(maxTokens = 100)` works instead of throwing. An
    * EXPLICIT overlap is validated strictly: 0 ≤ overlap < maxTokens.
    */
  val overlapTokens: Int =
    if (overlap == ChunkerOptions.DefaultOverlap) (if (maxTokens > 500) 500 else 0)
    else overlap
  require(overlapTokens >= 0 && overlapTokens < maxTokens,
    s"overlap must be in [0, maxTokens): got $overlapTokens for budget $maxTokens")
}

object ChunkerOptions {
  /** Sentinel for "overlap not set" — resolved to the reference's
    * adaptive default (500, or 0 when maxTokens ≤ 500) at
    * construction. Any real overlap is non-negative, so the sentinel
    * can never collide with an explicit value.
    */
  val DefaultOverlap: Int = Int.MinValue

  /** Default counter: ASCII-whitespace tokens — the same tokenizer as
    * TextFunctions.tokens / native.tokenCount, so chunk token_count
    * never diverges from the column-level counters.
    */
  val WhitespaceCounter: String => Int =
    s => if (s == null) 0 else graft.functions.native.tokenOffsets(s).length / 2

  // precompiled: this runs per element of every document
  private val RegexTokenSplit =
    java.util.regex.Pattern.compile("(?=[^A-Za-z0-9])|(?<=[^A-Za-z0-9])")

  /** BPE-ish counter (Scala twin of TextFunctions.regexTokens): word
    * runs, digits and punctuation counted as separate pieces — a cheap
    * approximation of a subword vocab's higher counts for sizing
    * chunks against a real model's context window.
    */
  val RegexBpeCounter: String => Int =
    s => if (s == null || s.isEmpty) 0
         else RegexTokenSplit.split(s).count(t => t.trim.nonEmpty)
}

/** Document chunkers, re-expressed for Spark.
  *
  * Every chunker is a narrow transform: one document row in, N chunk
  * rows out, parsing and packing inside the row — no shuffle anywhere
  * in the chunking path, so it scales linearly with input splits.
  *
  * Reference semantics ported from:
  *  - Chunkers/DocumentTokenChunker.cs (flat token windows + overlap)
  *  - HeaderChunker.cs (header-path context, level stack)
  *  - SectionChunker.cs (per-section chunks, first-header context)
  *  - MarkdownChunker.cs (split at header level ≤ N, "h1;h2" context)
  *  - SemanticSimilarityChunker.cs (percentile cosine-distance split)
  *  - ElementsChunker.cs (token-budget packing, oversized-element split)
  */
object Chunkers {

  private val SentenceBoundary = java.util.regex.Pattern.compile("(?<=[.!?])\\s+")

  // ---------------------------------------------------------------- token
  /** DocumentTokenChunker as pure column ops (whole-stage codegen,
    * SQL-oracle verifiable): overlapping whitespace-token windows.
    * Output: (doc_id, chunk_id, content, token_count).
    */
  def tokenChunks(documents: DataFrame, opts: ChunkerOptions = ChunkerOptions(),
                  carryCols: Seq[String] = Nil): DataFrame = {
    val step = opts.maxTokens - opts.overlapTokens
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    // carryCols: document columns (page_number, metadata maps, …)
    // copied onto every chunk — provenance survives chunking without a
    // join back to the corpus
    documents
      .select(Seq(col("doc_id"), toks.as("toks")) ++ carryCols.map(col): _*)
      .select(
        Seq(col("doc_id")) ++ carryCols.map(col) :+
        posexplode(
          transform(
            // reference loop: for (i = 0; i < n; i += step) — a trailing
            // overlap-only window IS emitted (DocumentTokenChunker.cs:54-57)
            sequence(lit(0), greatest(ceil(size(col("toks")).cast("double") / step).cast("int") - 1, lit(0))),
            i => array_join(slice(col("toks"), i * step + 1, lit(opts.maxTokens)), " ")
          )
        ).as(Seq("chunk_id", "content")): _*
      )
      .where(length(col("content")) > 0)
      .withColumn("token_count", size(graft.functions.TextFunctions.tokens(col("content"))))
  }

  // ------------------------------------------------------------- elements
  /** Scala-side token count — the SAME tokenizer as
    * TextFunctions.tokens / native.tokenCount (ASCII whitespace), so
    * chunk token_count never diverges from the column-level counters.
    */
  private def countTokens(s: String): Int =
    graft.functions.native.tokenOffsets(s).length / 2

  /** ElementsChunker.cs re-expressed: greedily pack elements into
    * chunks of ≤ maxTokens (counting the context prefix), splitting an
    * oversized paragraph by sentence and an oversized table by row
    * (repeating its header row), exactly the two "split intelligently"
    * cases of ElementsChunker.cs:33-36.
    */
  private[graft] def packElements(
      docId: Long,
      context: String,
      elements: Seq[(String, String)], // (kind, semanticText)
      opts: ChunkerOptions,
      startId: Int,
      page: Option[Int] = None,
      metadata: Map[String, String] = Map.empty
  ): Seq[Chunk] = {
    val countTokens = opts.tokenCounter
    // An oversized header context would leave no budget; the reference
    // throws (ElementsChunker.cs ThrowTokenCountExceeded), but one
    // pathological document must not abort a 100 TB job — truncate the
    // context to half the budget instead (deviation documented). The
    // cut lands on a whitespace boundary, then is re-counted with the
    // configured counter.
    val rawCtxTokens = countTokens(context)
    val (ctx, ctxTokens) =
      if (rawCtxTokens < opts.maxTokens) (context, rawCtxTokens)
      else {
        val keep = math.max(1, opts.maxTokens / 2)
        val offs = graft.functions.native.tokenOffsets(context)
        var cut =
          if (offs.length >= 2)
            context.substring(0, offs(2 * math.min(keep, offs.length / 2) - 1))
          else context // no whitespace boundary to cut at
        // halve by characters until the CONFIGURED counter fits the
        // budget — a whitespace cut alone can leave an oversized
        // context under a subword counter, and the reported
        // token_count must stay honest for any counter
        while (countTokens(cut) >= opts.maxTokens && cut.length > 1)
          cut = cut.substring(0, cut.length / 2)
        (cut, countTokens(cut))
      }
    // floor of 1: maxTokens=1 with any context leaves 0, and a zero
    // budget would blow up the giant-sentence splitter (grouped(0))
    val budget = math.max(1, opts.maxTokens - ctxTokens)
    val out = scala.collection.mutable.ArrayBuffer.empty[Chunk]
    val cur = new StringBuilder
    var curTokens = 0
    var nextId = startId

    def commit(): Unit = {
      if (cur.nonEmpty) {
        val content =
          if (ctx.nonEmpty) ctx + "\n" + cur.toString else cur.toString
        out += Chunk(docId, nextId, content, ctx, curTokens + ctxTokens, page, metadata)
        nextId += 1
        cur.clear(); curTokens = 0
      }
    }
    def append(piece: String, tokens: Int): Unit = {
      if (cur.nonEmpty) cur.append('\n')
      cur.append(piece); curTokens += tokens
    }

    for ((kind, text) <- elements if text.nonEmpty) {
      val n = countTokens(text)
      if (curTokens + n <= budget) append(text, n)
      else if (kind == "table") {
        val rows = text.split("\n").toSeq
        val header = rows.take(2) // header + separator
        val headerTok = countTokens(header.mkString(" "))
        commit()
        var acc = scala.collection.mutable.ArrayBuffer(header: _*)
        var accTok = headerTok
        for (row <- rows.drop(2)) {
          val rt = countTokens(row)
          if (accTok + rt > budget && acc.length > 2) {
            append(acc.mkString("\n"), accTok); commit()
            acc = scala.collection.mutable.ArrayBuffer(header: _*); accTok = headerTok
          }
          acc += row; accTok += rt
        }
        // >= 2: a header-only table (no data rows) is still emitted,
        // matching ElementsChunker.cs:142 which appends the final
        // tableBuilder unconditionally
        if (acc.length >= 2) { append(acc.mkString("\n"), accTok); commit() }
      } else {
        // split by sentence boundaries, then hard-split any giant sentence
        val sentences = SentenceBoundary.split(text).toSeq.flatMap { s =>
          val st = countTokens(s)
          if (st <= budget) Seq(s)
          else s.split("\\s+").grouped(budget).map(_.mkString(" ")).toSeq
        }
        for (s <- sentences) {
          val st = countTokens(s)
          if (curTokens + st > budget) commit()
          append(s, st)
        }
      }
      if (curTokens >= budget) commit()
    }
    commit()
    out.toSeq
  }

  /** What the packer packs, per ElementsChunker.cs:55-66: images use
    * their alt/OCR text (markdown `![alt](url)` is useless for
    * embedding); every other element uses its MARKDOWN — crucially
    * keeping tables' newline-separated rows so the oversized-table
    * row-splitter can operate.
    */
  private def semanticText(kind: String, md: String, text: String): String =
    if (kind == "image") text else md

  // ------------------------------------------------------- typed elements
  /** ElementsChunker.cs over an existing elements Dataset (the output
    * of a reader): one shuffle groups each document's elements, then
    * consecutive same-page runs are packed under an empty context.
    * Chunks inherit the run's `page_number` and a first-wins merge of
    * its elements' metadata — page provenance from paged readers
    * (DocumentIntelligenceReader.cs sections-per-page) survives into
    * every chunk. Within a document, order is (page, seq): paged
    * readers emit one input row per page, so `seq` restarts per page.
    */
  def elementChunks(spark: SparkSession, elements: Dataset[DocElement],
                    opts: ChunkerOptions = ChunkerOptions()): Dataset[Chunk] = {
    import spark.implicits._
    elements.groupByKey(_.doc_id).flatMapGroups { (id, it) =>
      packDocElements(id, it.toSeq, opts)
    }
  }

  /** Pack ONE document's elements into chunks — the per-group body of
    * [[elementChunks]], also the per-ROW body of the fused streaming
    * path ([[autoElementChunks]]) where a file already is a whole
    * document, so the two paths are identical by construction. */
  def packDocElements(id: Long, elems: Seq[DocElement],
                      opts: ChunkerOptions = ChunkerOptions()): Seq[Chunk] = {
    val sorted = elems.toArray.sortBy(e => (e.page_number.getOrElse(0), e.seq))
    val out = scala.collection.mutable.ArrayBuffer.empty[Chunk]
    var nextId = 0
    var i = 0
    while (i < sorted.length) {
      val page = sorted(i).page_number
      val run = scala.collection.mutable.ArrayBuffer.empty[DocElement]
      while (i < sorted.length && sorted(i).page_number == page) {
        run += sorted(i); i += 1
      }
      // first-wins metadata merge across the run's elements
      val meta = run.foldLeft(Map.empty[String, String])((acc, e) => e.metadata ++ acc)
      val packed = packElements(id, "",
        run.map(e => (e.kind, semanticText(e.kind, e.markdown, e.text))).toSeq,
        opts, nextId, page, meta)
      nextId += packed.size
      out ++= packed
    }
    out.toSeq
  }

  /** Reader + chunker FUSED for mixed-format binary corpora — the
    * streaming-legal form of AutoElementReader → [[elementChunks]]:
    * `flatMapGroups` is unsupported on a stream, and unnecessary here,
    * because one binary file IS one document — format sniffing, parse,
    * and chunk packing all happen in a single stateless flatMap call
    * (no shuffle, no state store, map-only at any corpus size; the
    * batch and streaming plans are the same narrow stage). */
  def autoElementChunks(spark: SparkSession, documents: DataFrame,
                        idCol: String = "doc_id",
                        contentCol: String = "content",
                        metaCols: Seq[String] = Nil,
                        opts: ChunkerOptions = ChunkerOptions()): Dataset[Chunk] =
    ElementFrame.binary(documents, idCol, contentCol, None, metaCols) {
      (id, bytes, _, meta) =>
        packDocElements(id, AutoElementReader.docElements(id, bytes, meta), opts)
    }

  // --------------------------------------------------------------- header
  /** HeaderChunker.cs: walk elements in order; headers update a level
    * stack (clearing deeper levels) and become context ("h1 h2 h3"
    * joined by spaces), never content; element runs between headers are
    * packed by the elements packer.
    */
  def headerChunks(spark: SparkSession, documents: DataFrame,
                   opts: ChunkerOptions = ChunkerOptions()): Dataset[Chunk] = {
    import spark.implicits._
    documents.select("doc_id", "text").as[(Long, String)].flatMap { case (id, text) =>
      val blocks = MarkdownElementReader.parseBlocks(Option(text).getOrElse(""))
      val headers = new Array[String](11)
      val out = scala.collection.mutable.ArrayBuffer.empty[Chunk]
      val run = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var nextId = 0
      def flush(): Unit = if (run.nonEmpty) {
        val ctx = headers.filter(h => h != null && h.nonEmpty).mkString(" ")
        val chunks = packElements(id, ctx, run.toSeq, opts, nextId)
        nextId += chunks.size
        out ++= chunks
        run.clear()
      }
      for ((kind, level, md, txt) <- blocks) {
        if (kind == "header") {
          flush()
          val lvl = math.min(level, 10)
          headers(lvl) = md
          for (l <- lvl + 1 to 10) headers(l) = null
        } else run += ((kind, semanticText(kind, md, txt)))
      }
      flush()
      out.toSeq
    }
  }

  // -------------------------------------------------------------- section
  /** SectionChunker.cs: one chunk run per section; a section's leading
    * header becomes (appends to) the context. Markdown has no explicit
    * sections, so graft treats each h1 boundary (and the preamble) as a
    * section — the same observable behavior for documents whose
    * sections are h1-delimited.
    */
  def sectionChunks(spark: SparkSession, documents: DataFrame,
                    opts: ChunkerOptions = ChunkerOptions()): Dataset[Chunk] = {
    import spark.implicits._
    documents.select("doc_id", "text").as[(Long, String)].flatMap { case (id, text) =>
      val blocks = MarkdownElementReader.parseBlocks(Option(text).getOrElse(""))
      val out = scala.collection.mutable.ArrayBuffer.empty[Chunk]
      var nextId = 0
      var context = ""
      val run = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      def flush(): Unit = if (run.nonEmpty) {
        val chunks = packElements(id, context, run.toSeq, opts, nextId)
        nextId += chunks.size
        out ++= chunks
        run.clear()
      }
      for ((kind, level, md, txt) <- blocks) {
        if (kind == "header" && level == 1) {
          flush()
          context = md // new section; header is its context (SectionChunker.cs:49-54)
        } else {
          run += ((kind, semanticText(kind, md, txt)))
        }
      }
      flush()
      out.toSeq
    }
  }

  // ------------------------------------------------------------- markdown
  /** MarkdownChunker.cs: split whenever a header of level ≤ N appears;
    * context is the ";"-joined chain of ancestor headers (h1;h2;…).
    * stripHeaders=false prepends the context to the content.
    */
  def markdownChunks(spark: SparkSession, documents: DataFrame,
                     headerLevelToSplitOn: Int = 3,
                     stripHeaders: Boolean = true): Dataset[Chunk] = {
    import spark.implicits._
    documents.select("doc_id", "text").as[(Long, String)].flatMap { case (id, text) =>
      val blocks = MarkdownElementReader.parseBlocks(Option(text).getOrElse(""))
      val out = scala.collection.mutable.ArrayBuffer.empty[Chunk]
      val chain = new Array[String](headerLevelToSplitOn + 1) // chain(l) = last header at level l
      var nextId = 0
      val cur = new StringBuilder
      def ctx(): String = chain.filter(h => h != null && h.nonEmpty).mkString(";")
      def flush(): Unit = {
        val body = cur.toString.trim
        if (body.nonEmpty) {
          val c = ctx()
          val content = if (stripHeaders) body else (if (c.nonEmpty) c + "\n" + body else body)
          out += Chunk(id, nextId, content, c, countTokens(content))
          nextId += 1
        }
        cur.setLength(0)
      }
      for ((kind, level, md, txt) <- blocks) {
        if (kind == "header" && level <= headerLevelToSplitOn) {
          flush()
          chain(level) = md
          for (l <- level + 1 to headerLevelToSplitOn) chain(l) = null
        } else {
          if (cur.nonEmpty) cur.append('\n')
          cur.append(md)
        }
      }
      flush()
      out.toSeq
    }
  }

  // ------------------------------------------------------------- semantic
  /** SemanticSimilarityChunker.cs: embed each element, compute cosine
    * distance between consecutive elements, split where distance
    * exceeds the P-th percentile (linear interpolation, exactly
    * SemanticSimilarityChunker.cs:117-140), then pack each group.
    * Embeddings come from the deterministic feature-hashing embedder;
    * a model-backed embedder swaps in per partition.
    */
  def semanticChunks(spark: SparkSession, documents: DataFrame,
                     opts: ChunkerOptions = ChunkerOptions(),
                     thresholdPercentile: Double = 95.0,
                     dim: Int = 64): Dataset[Chunk] = {
    import spark.implicits._
    require(thresholdPercentile >= 0 && thresholdPercentile <= 100)
    documents.select("doc_id", "text").as[(Long, String)].flatMap { case (id, text) =>
      val blocks = MarkdownElementReader.parseBlocks(Option(text).getOrElse(""))
        .filter(_._4.nonEmpty)
      if (blocks.isEmpty) Seq.empty[Chunk]
      else {
        val embs = blocks.map(b => embed(b._4, dim))
        // distance[i] between element i and i+1; last element has none
        val distances = embs.indices.map { i =>
          if (i == embs.length - 1) 0.0
          else 1.0 - cosineD(embs(i), embs(i + 1))
        }
        val threshold = percentile(distances.dropRight(1), thresholdPercentile) match {
          case Some(t) => t
          case None    => Double.MaxValue // single element: one group
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[Chunk]
        val run = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        var nextId = 0
        for (i <- blocks.indices) {
          run += ((blocks(i)._1, semanticText(blocks(i)._1, blocks(i)._3, blocks(i)._4)))
          if (i < blocks.length - 1 && distances(i) > threshold) {
            val chunks = packElements(id, "", run.toSeq, opts, nextId)
            nextId += chunks.size; out ++= chunks; run.clear()
          }
        }
        if (run.nonEmpty) out ++= packElements(id, "", run.toSeq, opts, nextId)
        out.toSeq
      }
    }
  }

  /** Deterministic per-string feature-hash embedding (Scala twin of
    * VectorFunctions.hashEmbed — same bucketing, local evaluation).
    */
  private[graft] def embed(text: String, dim: Int): Array[Double] = {
    // same tokenizer + hash as native.hashEmbed — one implementation
    // of the bucketing, double precision for the splitter's distances
    val v = new Array[Double](dim)
    val offs = graft.functions.native.tokenOffsets(text)
    var t = 0
    while (t < offs.length) {
      v((graft.functions.native.polyHash(text, offs(t), offs(t + 1), 0L) % dim).toInt) += 1.0
      t += 2
    }
    val norm = math.sqrt(v.map(x => x * x).sum)
    if (norm > 0) v.map(_ / norm) else v
  }

  private def cosineD(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); i += 1 }
    d // inputs are L2-normalized
  }

  /** Recursive-split chunking — the LangChain
    * RecursiveCharacterTextSplitter shape, re-expressed as a
    * declarative three-level cascade so it stays a narrow map-only
    * transform at any corpus size: paragraphs (blank-line blocks)
    * that fit the token budget chunk whole; an oversized paragraph
    * splits at sentence boundaries ([.!?] + whitespace, via a
    * backreference-SEP rewrite — portable to engines without
    * lookbehind) and consecutive sentences pack into budget-start
    * bundles — a sentence whose START token offset falls in window
    * [k·B, (k+1)·B) joins bundle k, the window-expressible packing
    * rule (a bundle can overflow by at most one sentence: the bounded
    * trade that keeps packing a pure column expression instead of a
    * sequential greedy fold); a single sentence over the budget
    * hard-splits into exact token windows. Bundle members re-join
    * with single spaces. Output: (doc_id, chunk_id, content,
    * token_count), chunk_id 0-based per document in text order.
    *
    * Scale shape: three Generate/Project stages and ONE
    * (doc_id, block)-keyed window + aggregate — per-document state
    * only, no corpus-wide shuffle key, embarrassingly parallel.
    */
  def recursiveChunks(documents: DataFrame, maxTokens: Int = 64): DataFrame = {
    require(maxTokens > 0, "maxTokens must be positive")
    val B = maxTokens
    val SEP = "\u0001" // control char: never occurs in text
    def tc(c: Column): Column = graft.functions.native.tokenCount(c)
    val blocks = documents.select(col("doc_id"),
      posexplode(filter(split(col("text"), "\\n{2,}"), b => length(trim(b)) > 0))
        .as(Seq("block_idx", "block")))
    val pieces = blocks.select(col("doc_id"), col("block_idx"),
      posexplode(
        when(tc(col("block")) <= B, array(col("block")))
          .otherwise(split(
            regexp_replace(col("block"), "([.!?])\\s+", "$1" + SEP), SEP)))
        .as(Seq("piece_idx", "piece")))
    val pieceToks = graft.functions.TextFunctions.tokens(col("piece"))
    val nWindows = floor((tc(col("piece")).cast("double") + (B - 1)) / B).cast("int")
    val subs = pieces.select(col("doc_id"), col("block_idx"), col("piece_idx"),
      posexplode(
        when(tc(col("piece")) <= B, array(col("piece")))
          .otherwise(transform(sequence(lit(0), nWindows - 1),
            i => array_join(slice(pieceToks, i * B + 1, lit(B)), " "))))
        .as(Seq("sub_idx", "sub")))
      .withColumn("n_tok", tc(col("sub")).cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"), col("block_idx"))
      .orderBy(col("piece_idx"), col("sub_idx"))
    val chunks = subs
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("bundle", expr(s"(cum - n_tok) div $B"))
      .groupBy(col("doc_id"), col("block_idx"), col("bundle"))
      .agg(sort_array(collect_list(struct(
        col("piece_idx"), col("sub_idx"), col("sub")))).as("parts"),
        sum(col("n_tok")).as("token_count"))
      .select(col("doc_id"), col("block_idx"), col("bundle"),
        array_join(transform(col("parts"), p => p.getField("sub")), " ")
          .as("content"),
        col("token_count"))
    val wId = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("block_idx"), col("bundle"))
    chunks
      .withColumn("chunk_id", (row_number().over(wId) - 1).cast("long"))
      .select(col("doc_id"), col("chunk_id"), col("content"), col("token_count"))
  }

  /** Linear-interpolation percentile (SemanticSimilarityChunker.cs:117). */
  private[graft] def percentile(xs: Seq[Double], p: Double): Option[Double] =
    if (xs.isEmpty) None
    else if (xs.length == 1) Some(xs.head)
    else {
      val sorted = xs.sorted.toArray
      val i = (p / 100.0) * (sorted.length - 1)
      val i0 = i.toInt
      val i1 = math.min(i0 + 1, sorted.length - 1)
      Some(sorted(i0) + (i - i0) * (sorted(i1) - sorted(i0)))
    }
}
