package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Seeded input generator for both workloads.
  *
  * Every input is a pure function of (seed, sizes): the same seed gives
  * byte-identical files. The one exception is the doc id carried by an
  * upsert edit, which must equal the id graft derives for the bulk file
  * it replaces (a hash of the file's absolute URI), so it also depends
  * on the directory the corpus is written to.
  *
  * Why each input property was chosen:
  *  - Zipf(1) words over a large vocabulary, mixed with English
  *    stopwords: natural-language term statistics, so shingle document
  *    frequencies, hash-embedding collisions and the language and
  *    quality heuristics see realistic input, and every base document
  *    is clearly English.
  *  - Markdown with h1-h3 headers, lists, pipe tables and a footer: the
  *    header chunker keeps a header stack and packs element runs, so
  *    structure (not text volume alone) sets the chunk count.
  *  - Log-normal sizes around 3 KB with a tail past the 2,000-token
  *    chunk budget: most sections fit one chunk, the tail forces the
  *    paragraph and sentence splitting paths. The bulk corpus draws its
  *    sizes once for all seeds, so every seed loads the same number of
  *    bytes: a seed changes the content, not the amount of work.
  *  - Upsert batches of half new documents and half edits that double
  *    or halve a bulk document: edits both grow and shrink chunk counts,
  *    so replace-by-document must delete records, not only add them.
  *  - Curation corpus injections (exact copies, near-duplicates at
  *    3-gram Jaccard 0.85-0.95, excerpts, non-English and low-quality
  *    documents, benchmark-contaminated documents) with known answers:
  *    each curation stage has a non-trivial, exactly known effect.
  */
object Gen {

  val EnglishStopwords: Array[String] = Array(
    "the", "and", "of", "to", "a", "in", "is", "that", "it", "for", "on",
    "with", "as", "was", "be", "by", "this", "are", "or", "from")
  val GermanWords: Array[String] = Array(
    "der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "auf",
    "sich", "dem", "den", "von", "haus", "zeit", "jahr", "stadt", "arbeit")

  /** Words no vocabulary word may be: the injected stopwords and every
    * stopword graft's language ID knows. */
  lazy val reserved: Set[String] =
    (EnglishStopwords ++ GermanWords ++ graft.operators.TextAnalysis.Stopwords.values.flatten).toSet

  /** Zipf(1) sampler over a seeded synthetic vocabulary. */
  final class Words(seed: Long, vocabSize: Int) {
    val vocab: Array[String] = {
      val r = new SplittableRandom(seed ^ 0x5eedL)
      val seen = new java.util.HashSet[String]()
      val out = new Array[String](vocabSize)
      var i = 0
      while (i < vocabSize) {
        val len = 3 + r.nextInt(7)
        val sb = new StringBuilder
        var j = 0
        while (j < len) { sb += ('a' + r.nextInt(26)).toChar; j += 1 }
        val w = sb.toString
        // keep vocabulary words distinct from each other and from every
        // stopword, so language ID only counts the injected stopwords
        if (!Gen.reserved.contains(w) && seen.add(w)) { out(i) = w; i += 1 }
      }
      out
    }
    private val cdf: Array[Double] = {
      val c = new Array[Double](vocabSize)
      var acc = 0.0
      var i = 0
      while (i < vocabSize) { acc += 1.0 / (i + 1); c(i) = acc; i += 1 }
      i = 0
      while (i < vocabSize) { c(i) /= acc; i += 1 }
      c
    }
    def word(r: SplittableRandom): String = {
      val u = r.nextDouble()
      var idx = java.util.Arrays.binarySearch(cdf, u)
      if (idx < 0) idx = -idx - 1
      vocab(math.min(idx, vocabSize - 1))
    }
    /** English running text: about one token in three is a stopword. */
    def english(r: SplittableRandom, n: Int): Array[String] =
      Array.fill(n)(if (r.nextInt(3) == 0) EnglishStopwords(r.nextInt(EnglishStopwords.length)) else word(r))
    def sentence(r: SplittableRandom, n: Int): String = {
      val ws = english(r, n)
      ws(0) = ws(0).capitalize
      ws.mkString(" ") + "."
    }
    def paragraph(r: SplittableRandom, nTok: Int): String = {
      val out = new ArrayBuffer[String]
      var left = nTok
      while (left > 0) {
        val n = math.min(left, 6 + r.nextInt(18))
        out += sentence(r, n)
        left -= n
      }
      out.mkString(" ")
    }
  }

  // ------------------------------------------------------------ markdown
  /** One markdown document of about `targetBytes` bytes whose h1 carries
    * the document name and its revision, so every chunk's header context
    * names the revision it came from. */
  def markdownDoc(w: Words, r: SplittableRandom, name: String, rev: Int,
                  targetBytes: Int): String = {
    val sb = new StringBuilder
    sb ++= s"# ${w.word(r).capitalize} ${w.word(r)} $name rev$rev\n\n"
    sb ++= w.paragraph(r, 20 + r.nextInt(40)) ++= "\n\n"
    var h2 = 0
    while (sb.length < targetBytes) {
      h2 += 1
      sb ++= s"## ${w.word(r).capitalize} ${w.word(r)} $h2\n\n"
      r.nextInt(4) match {
        case 0 =>
          val items = 3 + r.nextInt(5)
          (0 until items).foreach(_ => sb ++= "- " ++= w.sentence(r, 4 + r.nextInt(8)) ++= "\n")
          sb ++= "\n"
        case 1 =>
          sb ++= "| name | value | note |\n|---|---|---|\n"
          (0 until 2 + r.nextInt(5)).foreach { _ =>
            sb ++= s"| ${w.word(r)} | ${r.nextInt(10000)} | ${w.word(r)} ${w.word(r)} |\n"
          }
          sb ++= "\n"
        case _ => ()
      }
      // long sections (the size tail) overflow the chunk token budget
      val remaining = math.max(0, targetBytes - sb.length)
      val paraTok = math.max(15, math.min(remaining / 6, 120 + r.nextInt(200)))
      sb ++= w.paragraph(r, paraTok) ++= "\n\n"
      if (r.nextInt(3) == 0) {
        sb ++= s"### ${w.word(r).capitalize} detail\n\n"
        sb ++= w.paragraph(r, 30 + r.nextInt(80)) ++= "\n\n"
      }
    }
    sb ++= "---\n\nCopyright Example Corp. All rights reserved. Contact the maintainers for help.\n"
    sb.toString
  }

  /** Log-normal document size around 3 KB; about 2 % exceed 12 KB, i.e.
    * more than 2,000 whitespace tokens in a single section. */
  def docBytes(r: SplittableRandom): Int = {
    val z = gaussian(r)
    math.max(600, math.min(40000, math.exp(math.log(3000.0) + 0.7 * z))).toInt
  }

  /** The document sizes of an `n`-file corpus: one fixed draw of
    * `docBytes` that every seed shares, in the seed's order. The seed
    * changes the words and which document is long, not the corpus's
    * total size or its size tail, so runs of different seeds do the same
    * amount of work. */
  def corpusSizes(seed: Long, n: Int): IndexedSeq[Int] = {
    val fixed = new SplittableRandom(0x512e5L)
    val sizes = Array.fill(n)(docBytes(fixed))
    shuffle(new SplittableRandom(seed * 7 + 5), sizes)
    sizes.toIndexedSeq
  }

  /** Fisher-Yates shuffle in place. */
  def shuffle[T](r: SplittableRandom, a: Array[T]): Unit = {
    var i = a.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
  }

  def gaussian(r: SplittableRandom): Double = {
    // Box-Muller, one value: SplittableRandom has no nextGaussian
    val u1 = math.max(1e-12, r.nextDouble())
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** The id graft's file reader gives a file: xxhash64 of its URI. */
  def fileDocId(file: Path): Long = {
    val uri = "file://" + file.toAbsolutePath.normalize.toUri.getRawPath
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
      org.apache.spark.unsafe.types.UTF8String.fromString(uri), 42L)
  }

  def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(UTF_8))
  }

  def jsonStr(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  // -------------------------------------------------------------- ingest
  /** A markdown corpus: `n` files `doc_NNNNN.md` under `dir`. Returns the
    * texts in file order. */
  def writeCorpus(dir: Path, seed: Long, n: Int): IndexedSeq[String] = {
    val w = new Words(seed, 50000)
    val r = new SplittableRandom(seed)
    val sizes = corpusSizes(seed, n)
    (0 until n).map { i =>
      val text = markdownDoc(w, r, f"d$i%05d", 0, sizes(i))
      write(dir.resolve(f"doc_$i%05d.md"), text)
      text
    }
  }

  final case class Upsert(docId: Long, name: String, rev: Int, text: String, isEdit: Boolean)

  /** Ingest inputs: the bulk corpus under `dir/bulk`, and `nBatches`
    * JSONL upsert batches under `dir/batches`, each half new documents
    * and half edits of bulk documents (an edit doubles or halves the
    * document). Returns the batches; the ground truth goes to
    * `dir/truth.json`. */
  final case class IngestInputs(bulkDir: Path, bulkTexts: IndexedSeq[String],
                                bulkIds: IndexedSeq[Long],
                                batches: IndexedSeq[IndexedSeq[Upsert]],
                                batchFiles: IndexedSeq[Path])

  def ingestInputs(dir: Path, seed: Long, nBulk: Int, nBatches: Int,
                   batchDocs: Int): IngestInputs = {
    val bulkDir = dir.resolve("bulk")
    val bulkTexts = writeCorpus(bulkDir, seed, nBulk)
    val bulkIds = (0 until nBulk).map(i => fileDocId(bulkDir.resolve(f"doc_$i%05d.md")))
    val w = new Words(seed, 50000)
    val r = new SplittableRandom(seed * 31 + 7)
    val rev = new Array[Int](nBulk)
    val size = bulkTexts.map(_.length).toArray
    var newIdx = 0
    val batches = (0 until nBatches).map { _ =>
      val touched = new Array[Boolean](nBulk)
      (0 until batchDocs).map { j =>
        if (j % 2 == 0) {
          val name = f"n$newIdx%05d"
          newIdx += 1
          // new-document ids come from the seed, in a range no file hash
          // realistically reaches twice
          Upsert(r.nextLong(), name, 0, markdownDoc(w, r, name, 0, docBytes(r)), isEdit = false)
        } else {
          // one edit per document per batch: two revisions of a document
          // in one batch would have no defined winner
          var i = r.nextInt(nBulk)
          while (touched(i)) i = r.nextInt(nBulk)
          touched(i) = true
          rev(i) += 1
          val grow = r.nextBoolean()
          size(i) = math.max(600, math.min(40000, if (grow) size(i) * 2 else size(i) / 2))
          Upsert(bulkIds(i), f"d$i%05d", rev(i), markdownDoc(w, r, f"d$i%05d", rev(i), size(i)),
            isEdit = true)
        }
      }
    }
    val batchFiles = batches.zipWithIndex.map { case (docs, b) =>
      val p = dir.resolve("batches").resolve(f"batch_$b%03d.json")
      write(p, docs.map(u =>
        s"""{"doc_id":${u.docId},"text":${jsonStr(u.text)},"lang":"en","source":"${u.name}"}""")
        .mkString("", "\n", "\n"))
      p
    }
    val truth = new StringBuilder
    truth ++= s"""{"workload":"ingest_rag","seed":$seed,"bulk_docs":$nBulk,"batches":$nBatches,"batch_docs":$batchDocs,"edits":["""
    truth ++= batches.zipWithIndex.flatMap { case (docs, b) =>
      docs.filter(_.isEdit).map(u => s"""{"batch":$b,"doc":"${u.name}","doc_id":${u.docId},"rev":${u.rev}}""")
    }.mkString(",")
    truth ++= "]}\n"
    write(dir.resolve("truth.json"), truth.toString)
    IngestInputs(bulkDir, bulkTexts, bulkIds, batches, batchFiles)
  }

  // ----------------------------------------------------------------- rag
  /** Query texts: short Zipfian keyword strings. */
  def queries(seed: Long, n: Int): IndexedSeq[String] = {
    val w = new Words(seed, 50000)
    val r = new SplittableRandom(seed * 17 + 3)
    (0 until n).map(_ => w.english(r, 4 + r.nextInt(8)).mkString(" "))
  }

  // ------------------------------------------------------- curate_dedup
  final case class CurateDoc(docId: Long, text: String)
  final case class NearDup(a: Long, b: Long, jaccard: Double)
  final case class CurateInputs(docs: IndexedSeq[CurateDoc],
                                exactCopies: Int, contaminated: Int,
                                nearDups: IndexedSeq[NearDup], nonEnglish: Int,
                                lowQuality: Int, excerpts: Int)

  /** Word 3-gram Jaccard on whitespace tokens — the set semantics
    * `Dedup.ngramJaccardPairs` implements over hashed shingles. */
  def jaccard3(a: String, b: String): Double = {
    def sh(s: String): Set[String] = {
      val t = s.split("\\s+").filter(_.nonEmpty)
      if (t.length < 3) Set(t.mkString(" ")) else t.sliding(3).map(_.mkString(" ")).toSet
    }
    val x = sh(a); val y = sh(b)
    val inter = x.count(y.contains)
    inter.toDouble / (x.size + y.size - inter)
  }

  /** The curation corpus. Base documents are English, ~`tokens` tokens
    * long, clean; injections are applied to disjoint base documents so
    * every stage's expected effect is exact:
    *  - exact copies (a new id, the same text): exact-dedup drops them;
    *  - near-duplicates (a few word substitutions, Jaccard 0.85-0.95);
    *  - excerpts (a contiguous 40-60 % slice; below the pair threshold);
    *  - non-English (German stopwords only): the language stage drops them;
    *  - low quality (under 25 tokens): the quality stage drops them;
    *  - contaminated (a 12-token passage of a benchmark text spliced in):
    *    the decontamination stage drops them. */
  val CurateShards = 8

  def curateInputs(dir: Path, seed: Long, nBase: Int, tokens: Int): CurateInputs = {
    val w = new Words(seed, 50000)
    val r = new SplittableRandom(seed * 131 + 11)
    var nextId = 1L
    def id(): Long = { val i = nextId; nextId += 1; i }
    val bench = (0 until 20).map(_ => w.english(r, 60).mkString(" "))
    val base = (0 until nBase).map(_ => CurateDoc(id(), w.paragraph(r, tokens / 2 + r.nextInt(tokens))))
    val docs = ArrayBuffer[CurateDoc]() ++= base
    // disjoint slices of the base set for each injection kind
    val perKind = math.max(1, nBase / 20)
    val order = base.indices.toArray
    shuffle(r, order)
    def slice(k: Int) = order.slice(k * perKind, (k + 1) * perKind).map(base)
    val copies = slice(0).map(d => CurateDoc(id(), d.text))
    val near = slice(1).flatMap { d =>
      val toks = d.text.split(" ")
      var best: Option[(CurateDoc, Double)] = None
      var attempt = 0
      while (best.isEmpty && attempt < 8) {
        val t = toks.clone()
        val subs = math.max(1, (t.length * (0.012 + 0.012 * r.nextDouble())).toInt)
        (0 until subs).foreach(_ => t(r.nextInt(t.length)) = w.word(r))
        val txt = t.mkString(" ")
        val j = jaccard3(d.text, txt)
        if (j >= 0.85 && j <= 0.95) best = Some((CurateDoc(id(), txt), j))
        attempt += 1
      }
      best.map { case (nd, j) => (nd, NearDup(d.docId, nd.docId, j)) }
    }
    val excerpts = slice(2).map { d =>
      val t = d.text.split(" ")
      val len = (t.length * (0.4 + 0.2 * r.nextDouble())).toInt
      val from = r.nextInt(t.length - len + 1)
      CurateDoc(id(), t.slice(from, from + len).mkString(" "))
    }
    val german = (0 until perKind).map { _ =>
      CurateDoc(id(), Array.fill(tokens)(
        if (r.nextInt(3) == 0) GermanWords(r.nextInt(GermanWords.length)) else w.word(r)).mkString(" "))
    }
    val short = (0 until perKind).map(_ => CurateDoc(id(), w.sentence(r, 8 + r.nextInt(10))))
    // contamination replaces base documents in place (same id, spliced text)
    val dirty = slice(3).map { d =>
      val t = d.text.split(" ")
      val b = bench(r.nextInt(bench.length)).split(" ")
      val from = r.nextInt(b.length - 12)
      val at = r.nextInt(t.length)
      CurateDoc(d.docId, (t.take(at) ++ b.slice(from, from + 12) ++ t.drop(at)).mkString(" "))
    }
    val dirtyIds = dirty.map(_.docId).toSet
    val all = docs.map(d => if (dirtyIds(d.docId)) dirty.find(_.docId == d.docId).get else d) ++
      copies ++ near.map(_._1) ++ excerpts ++ german ++ short
    val nearPairs = near.map(_._2).toIndexedSeq ++
      slice(0).zip(copies).map { case (o, c) => NearDup(o.docId, c.docId, 1.0) }
    // eight JSONL shards, documents dealt round-robin: a corpus arrives
    // as several files, and the shard count sets the scan parallelism
    val lines = all.map(d => s"""{"doc_id":${d.docId},"text":${jsonStr(d.text)}}""")
    (0 until CurateShards).foreach { k =>
      write(dir.resolve("corpus").resolve(f"part-$k%05d.jsonl"),
        lines.indices.filter(_ % CurateShards == k).map(lines).mkString("", "\n", "\n"))
    }
    write(dir.resolve("benchmark.jsonl"),
      bench.map(t => s"""{"text":${jsonStr(t)}}""").mkString("", "\n", "\n"))
    val in = CurateInputs(all.toIndexedSeq, copies.length, dirty.length,
      nearPairs, german.length, short.length, excerpts.length)
    val truth = new StringBuilder
    truth ++= s"""{"workload":"curate_dedup","seed":$seed,"docs":${all.length},"exact_copies":${copies.length},"contaminated":${dirty.length},"""
    truth ++= s""""non_english":${german.length},"low_quality":${short.length},"excerpts":${excerpts.length},"near_dup_pairs":["""
    truth ++= nearPairs.map(p => f"""{"a":${p.a},"b":${p.b},"jaccard":${p.jaccard}%.6f}""").mkString(",")
    truth ++= "]}\n"
    write(dir.resolve("truth.json"), truth.toString)
    in
  }
}
