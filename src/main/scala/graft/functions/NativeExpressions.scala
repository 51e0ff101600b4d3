package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for graft's hot text/vector kernels.
  *
  * The composable higher-order-function versions in TextFunctions /
  * VectorFunctions are correct but evaluate one interpreted lambda per
  * array element; for per-character work (polynomial hashing) or
  * per-(token × bit) work (simhash votes) that costs 10-100× a fused
  * loop. Each expression here is the same function as its HOF twin —
  * bit-for-bit, so the DuckDB oracles and specs are unchanged — but
  * evaluated in one tight JVM pass per row. They are deterministic,
  * null-propagating scalar expressions, so Catalyst can still push
  * filters around them, prune inputs, and pipeline them inside the
  * scan stage; `mapPartitions` would hide all of that.
  */
object native {

  val P: Long = 1000000007L

  private def isWs(c: Char): Boolean = // Java regex \s (ASCII), the twin of split(text, "\\s+")
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Polynomial code-point hash, the kernel of TextFunctions.portableHash. */
  def polyHash(s: String, from: Int, until: Int, init: Long): Long = {
    var acc = init
    var i = from
    while (i < until) {
      val cp = s.codePointAt(i)
      acc = (acc * 31 + cp) % P
      i += Character.charCount(cp)
    }
    acc
  }

  def polyHash(s: String): Long = polyHash(s, 0, s.length, 0L)

  /** Token [start, end) offsets under ASCII-whitespace splitting. */
  def tokenOffsets(s: String): Array[Int] = {
    val out = new scala.collection.mutable.ArrayBuffer[Int](16)
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && isWs(s.charAt(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !isWs(s.charAt(i))) i += 1
        out += start; out += i
      }
    }
    out.toArray
  }

  /** One-pass twin of the BPE-ish regex piece count
    * (`size(filter(split(text, "[^A-Za-z0-9]+"), length > 0)) +
    * length(regexp_replace(text, "[A-Za-z0-9\\s]", ""))`): number of
    * maximal ASCII-alphanumeric runs plus number of code points that
    * are neither ASCII-alphanumeric nor ASCII whitespace. Counting is
    * per CODE POINT (an astral char is one piece), matching Spark's
    * `length` over the regexp_replace remainder and the DuckDB
    * oracle's RE2/length semantics. The regex formulation rebuilt a
    * token array and a stripped copy of every document per row —
    * 20× slower than the sibling single-pass scans at sf1.
    */
  def pieceCount(s: String): Int = {
    var pieces = 0
    var inRun = false
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      val alnum = (cp >= '0' && cp <= '9') || (cp >= 'A' && cp <= 'Z') ||
        (cp >= 'a' && cp <= 'z')
      if (alnum) {
        if (!inRun) pieces += 1
        inRun = true
      } else {
        inRun = false
        if (cp >= 128 || !isWs(cp.toChar)) pieces += 1
      }
      i += Character.charCount(cp)
    }
    pieces
  }

  /** Shannon entropy (nats) over the text's code-point frequency
    * distribution — the classic cheap junk detector: base64 blobs and
    * minified markup score high, stutter/boilerplate ("aaaa…", repeated
    * padding) scores low, prose sits in a narrow band. One pass to a
    * code-point histogram, then -Σ p·ln(p) accumulated in ASCENDING
    * code-point order: the fold order is part of the contract so the
    * DuckDB oracle (same terms, same order, via list(c ORDER BY cp))
    * reproduces the double bit-for-bit-ish (gate compares 10
    * significant digits). Empty text → 0.0.
    */
  def charEntropy(s: String): Double = {
    if (s.isEmpty) return 0.0
    val counts = scala.collection.mutable.LongMap.empty[Long]
    var i = 0
    var n = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      counts(cp.toLong) = counts.getOrElse(cp.toLong, 0L) + 1L
      n += 1
      i += Character.charCount(cp)
    }
    val keys = counts.keysIterator.toArray
    java.util.Arrays.sort(keys)
    var h = 0.0
    var j = 0
    while (j < keys.length) {
      val p = counts(keys(j)).toDouble / n
      h -= p * math.log(p)
      j += 1
    }
    h
  }

  /** 64-bit average hash over raw bytes — the perceptual-hash SHAPE
    * (aHash) on the byte stream: 64 equal blocks, bit i set iff block
    * i's mean exceeds the global mean. For real images a decoder maps
    * pixels → grayscale grid first (decodeStub's seam); over raw
    * bytes it is still a deterministic locality signal: re-encoded or
    * length-padded copies that byte-equality (sha-256) misses can
    * keep their block profile. Integer-exact: the comparison is the
    * cross-multiplication blockSum·n > total·blockLen, so the bits
    * are reproducible in ANSI SQL (no division). Overflow-safe to
    * n < ~4·10⁸ bytes per object (255·n·(n/64+1) < 2⁶³).
    */
  def avgHash64(bytes: Array[Byte]): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    var p = 0
    while (p < n) {
      val i = ((p.toLong * 64L) / n).toInt
      sums(i) += (bytes(p) & 0xFF)
      cnts(i) += 1
      p += 1
    }
    var total = 0L
    var i = 0
    while (i < 64) { total += sums(i); i += 1 }
    var out = 0L
    i = 0
    while (i < 64) {
      if (sums(i) * n > total * cnts(i)) out |= (1L << i)
      i += 1
    }
    out
  }

  /** Distinct hashed word n-gram shingles (twin of
    * TextFunctions.shingleHashes): windows of n tokens joined by a
    * single space, polynomial-hashed; texts with fewer than n tokens
    * yield ONE shingle of all tokens (hash 0 for empty text, matching
    * the HOF/DuckDB behavior). `wide = true` spreads each window hash
    * over ~60 bits (h31 * P2 + h131, the same dual-polynomial scheme
    * as tokenHash60) — use it whenever hash EQUALITY is the match
    * criterion over a large corpus (decontamination, span dedup):
    * a single ~30-bit family birthday-collides at ~2^15 windows,
    * which at 10^8+ windows means millions of false matches. The
    * narrow family stays for minhash, where hashes feed a min over
    * k permutations (h*(2i+1)+b must not overflow a Long) and a
    * collision only perturbs one of k signature slots.
    */
  def shingleHashes(s: String, n: Int): Array[Long] = shingleHashes(s, n, wide = false)

  def shingleHashes(s: String, n: Int, wide: Boolean): Array[Long] = {
    val offs = tokenOffsets(s)
    val nTok = offs.length / 2
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val space = ' '.toInt
    def windowHash(from: Int, len: Int): Long = {
      var acc = 0L
      var acc2 = 0L
      var t = from
      while (t < from + len) {
        if (t > from) {
          acc = (acc * 31 + space) % P
          if (wide) acc2 = (acc2 * 131 + space) % P2
        }
        acc = polyHash(s, offs(2 * t), offs(2 * t + 1), acc)
        if (wide) acc2 = polyHash2(s, offs(2 * t), offs(2 * t + 1), acc2)
        t += 1
      }
      if (wide) acc * P2 + acc2 else acc
    }
    if (nTok < n) seen.add(windowHash(0, nTok))
    else {
      var w = 0
      while (w <= nTok - n) { seen.add(windowHash(w, n)); w += 1 }
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  /** POSITIONAL window hashes: the hash of every n-token window in
    * document order (index = token offset of the window start; length
    * = nTok - n + 1, empty when nTok < n). Same per-window polynomial
    * as shingleHashes (space-joined token chain), but positions are
    * kept and nothing is deduplicated — the kernel of repeated-SPAN
    * detection, where the offset is the payload. `wide` as in
    * [[shingleHashes]]; span detection always passes true (a false
    * positional match CUTS text, so collision resistance is a
    * correctness property, not a tuning knob).
    */
  def positionalWindowHashes(s: String, n: Int): Array[Long] =
    positionalWindowHashes(s, n, wide = false)

  def positionalWindowHashes(s: String, n: Int, wide: Boolean): Array[Long] = {
    val offs = tokenOffsets(s)
    val nTok = offs.length / 2
    if (nTok < n) return Array.emptyLongArray
    val space = ' '.toInt
    val out = new Array[Long](nTok - n + 1)
    var w = 0
    while (w <= nTok - n) {
      var acc = 0L
      var acc2 = 0L
      var t = w
      while (t < w + n) {
        if (t > w) {
          acc = (acc * 31 + space) % P
          if (wide) acc2 = (acc2 * 131 + space) % P2
        }
        acc = polyHash(s, offs(2 * t), offs(2 * t + 1), acc)
        if (wide) acc2 = polyHash2(s, offs(2 * t), offs(2 * t + 1), acc2)
        t += 1
      }
      out(w) = if (wide) acc * P2 + acc2 else acc
      w += 1
    }
    out
  }

  /** k-permutation MinHash signature (twin of
    * TextFunctions.minHashSignature): min over (x*(2i+1) + b_i) mod P.
    */
  def minHashSig(shingles: ArrayData, k: Int): Array[Long] = {
    val n = shingles.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val x = shingles.getLong(j)
      var i = 0
      while (i < k) {
        val a = 2L * i + 1
        val b = 12582917L * (i + 1) % P
        val h = (x * a + b) % P
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      j += 1
    }
    mins
  }

  val P2: Long = 998244353L

  /** Second independent polynomial family (base 131 mod P2) — combined
    * with the base-31 family below to spread a portable token hash over
    * 60 bits.
    */
  def polyHash2(s: String, from: Int, until: Int): Long =
    polyHash2(s, from, until, 0L)

  def polyHash2(s: String, from: Int, until: Int, init: Long): Long = {
    var acc = init
    var i = from
    while (i < until) {
      val cp = s.codePointAt(i)
      acc = (acc * 131 + cp) % P2
      i += Character.charCount(cp)
    }
    acc
  }

  /** Whole-document ~60-bit content hash: the wide dual-polynomial
    * family (h31·P2 + h131) the span/decontamination kernels use,
    * applied to the full string — the portable fingerprint for
    * manifests/digests where a 30-bit family would birthday-collide
    * (DuckDB twin: sqlHash60 over the whole text).
    */
  def contentHash60(s: String): Long =
    polyHash(s) * 998244353L + polyHash2(s, 0, s.length)

  val P3: Long = 1000000009L

  /** Third independent polynomial family (base 257 mod P3). */
  def polyHash3(s: String, from: Int, until: Int): Long = {
    var acc = 0L
    var i = from
    while (i < until) {
      val cp = s.codePointAt(i)
      acc = (acc * 257 + cp) % P3
      i += Character.charCount(cp)
    }
    acc
  }

  /** Portable 60-bit token hash with PER-BIT uniformity: the low 20
    * bits of three independent polynomial families, concatenated.
    *
    * Why not `h31 * P2 + h131` (the span/window combiner)? A product
    * of mod-prime hashes is collision-resistant — which is all that
    * hash-EQUALITY matching needs — but its high bits are biased
    * (the value is uniform over [0, P·P2), not over [0, 2^60)), and
    * simhash takes a MAJORITY VOTE per bit: any per-bit bias makes
    * that bit of every long document's signature deterministic.
    * Measured at sf1: the top 16-bit block of 53k of 60k signatures
    * collapsed into three values, blowing every pigeonhole bucket
    * past the df-cut and silently dropping ~20% of true pairs. Low
    * bits of a mod-P polynomial hash have bias ≤ 2^j / P (≤ 2^-10 at
    * j < 20), so a vote only goes deterministic past ~10^6 tokens per
    * document. Still exactly reproducible in ANSI SQL: three
    * list_reduce folds, `% 1048576`, two multiplies.
    */
  def tokenHash60(s: String, from: Int, until: Int): Long =
    (polyHash(s, from, until, 0L) & 0xFFFFFL) |
      ((polyHash2(s, from, until) & 0xFFFFFL) << 20) |
      ((polyHash3(s, from, until) & 0xFFFFFL) << 40)

  /** SimHash (twin of TextFunctions.simHash64): portable 60-bit token
    * hash per whitespace token, per-bit ±1 votes, sign → bit. Bits
    * 60-63 are structurally zero; 60 well-mixed bits lose nothing
    * measurable against 64 for near-dup hamming at any corpus size,
    * and DuckDB can recompute the signature bit-for-bit (the
    * d_dedup_simhash oracle brute-forces pairs from re-derived
    * signatures with bit_count(xor(...))).
    */
  def simHash64(s: String): Long = {
    val offs = tokenOffsets(s)
    val votes = new Array[Int](60)
    var t = 0
    while (t < offs.length) {
      val h = tokenHash60(s, offs(t), offs(t + 1))
      var bit = 0
      while (bit < 60) {
        if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
        bit += 1
      }
      t += 2
    }
    var out = 0L
    var bit = 0
    while (bit < 60) {
      if (votes(bit) > 0) out |= (1L << bit)
      bit += 1
    }
    out
  }

  /** ±1 plane weight for (plane, coordinate, seed) — a full
    * splitmix64-style avalanche so weights are INDEPENDENT across
    * planes. The previous mix, parity of (p·c1 + i·c2) mod 1000003,
    * made consecutive planes' sign vectors differ only where the mod
    * wrapped (P≈0.42): correlated planes collapse the effective bit
    * count and skew bucket occupancy (measured at 200k vectors,
    * 10 planes: only 256 of 1024 cells occupied, max bucket 9426 vs
    * target 256, Σ C(b,2) ≈ 6·10⁸ candidate pairs per table — the r8
    * sf10 mutual-kNN cliff). With avalanched weights the same corpus
    * fills the cells and the candidate stage returns to its designed
    * N·target/2 volume. Seed salts the family for multi-table LSH.
    */
  def planeSign(p: Int, i: Int, seed: Int): Boolean = {
    var z = p * 0x9E3779B97F4A7C15L + i * 0xC2B2AE3D27D4EB4FL +
      seed * 0x165667B19E3779F9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    ((z ^ (z >>> 31)) & 1L) == 0L
  }

  /** Random-hyperplane LSH bucket (twin of
    * VectorFunctions.hyperplaneBucket): deterministic ±1 plane weights
    * from [[planeSign]], mirrored constant-for-constant by the oracle
    * replay (queries.SqlText.sqlBucket inlines the signs this emits).
    */
  def hyperplaneBucket(vec: ArrayData, isDouble: Boolean, nPlanes: Int,
                       seed: Int): Long = {
    val dim = vec.numElements()
    var bucket = 0L
    var p = 0
    while (p < nPlanes) {
      var proj = 0.0
      var i = 0
      while (i < dim) {
        val v = if (isDouble) vec.getDouble(i) else vec.getFloat(i).toDouble
        proj += (if (planeSign(p, i, seed)) v else -v)
        i += 1
      }
      if (proj > 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  /** Feature-hash embedding (twin of VectorFunctions.hashEmbed):
    * token → bucket polyHash(token) mod dim, counts L2-normalized.
    */
  def hashEmbed(s: String, dim: Int): Array[Float] = {
    val offs = tokenOffsets(s)
    val counts = new Array[Double](dim)
    var t = 0
    while (t < offs.length) {
      val h = polyHash(s, offs(t), offs(t + 1), 0L)
      counts((h % dim).toInt) += 1.0
      t += 2
    }
    var norm2 = 0.0
    var i = 0
    while (i < dim) { norm2 += counts(i) * counts(i); i += 1 }
    val norm = math.sqrt(norm2)
    val out = new Array[Float](dim)
    if (norm > 0) {
      i = 0
      while (i < dim) { out(i) = (counts(i) / norm).toFloat; i += 1 }
    }
    out
  }

  /** Cosine similarity with the HOF's exact accumulation order:
    * sequential left-fold dot and norms, denom = sqrt(na)*sqrt(nb),
    * 0.0 on zero denom.
    */
  def cosine(a: ArrayData, aDouble: Boolean, b: ArrayData, bDouble: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (aDouble) a.getDouble(i) else a.getFloat(i).toDouble
      val y = if (bDouble) b.getDouble(i) else b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** The `probes` nearest centroid list-ids for one vector (cosine
    * desc, list_id asc tie-break — the exact ordering of the former
    * window-argmax formulation). `cents` is array<struct<list_id:long,
    * centroid:array<float|double>>>; this turns IVF list assignment
    * into a single scan-stage projection over the broadcast centroid
    * set — no per-row fan-out, no shuffle (a crossJoin+row_number
    * argmax shuffles corpus × nLists rows, each carrying the full
    * embedding: a scale-killer at 10⁹ vectors).
    */
  def nearestCentroids(vec: ArrayData, vDouble: Boolean, cents: ArrayData,
                       cDouble: Boolean, probes: Int): Array[Long] = {
    val n = cents.numElements()
    val ids = new Array[Long](n)
    val sims = new Array[Double](n)
    var i = 0
    while (i < n) {
      val c = cents.getStruct(i, 2)
      ids(i) = c.getLong(0)
      sims(i) = cosine(vec, vDouble, c.getArray(1), cDouble)
      i += 1
    }
    val k = math.min(probes, n)
    val out = new Array[Long](k)
    val taken = new Array[Boolean](n)
    var p = 0
    while (p < k) { // selection by (cos desc, list_id asc): probes ≪ nLists
      var best = -1
      var j = 0
      while (j < n) {
        if (!taken(j) && (best < 0 || sims(j) > sims(best) ||
            (sims(j) == sims(best) && ids(j) < ids(best)))) best = j
        j += 1
      }
      taken(best) = true
      out(p) = ids(best)
      p += 1
    }
    out
  }

  /** Count tokens (of the lowercased text when `lowercase`) that are
    * members of `words` — the kernel behind vocabulary hit counting
    * (sentiment/quality/classification), replacing one filter pass per
    * vocabulary word with one tokenize pass + hash lookups.
    */
  def vocabHits(s: String, words: java.util.HashSet[String]): Long = {
    val offs = tokenOffsets(s)
    var hits = 0L
    var t = 0
    while (t < offs.length) {
      if (words.contains(s.substring(offs(t), offs(t + 1)))) hits += 1
      t += 2
    }
    hits
  }

  /** Argmax label by vocabulary hits: groups iterated in the caller's
    * (alphabetical) order, strict-greater updates — so ties keep the
    * alphabetically-first label and zero hits yield `fallback`,
    * matching the struct-sort HOF formulation.
    */
  def bestLabel(s: String, groups: Array[(String, java.util.HashSet[String])],
                fallback: String): String = {
    val offs = tokenOffsets(s)
    val counts = new Array[Long](groups.length)
    var t = 0
    while (t < offs.length) {
      val tok = s.substring(offs(t), offs(t + 1))
      var g = 0
      while (g < groups.length) {
        if (groups(g)._2.contains(tok)) counts(g) += 1
        g += 1
      }
      t += 2
    }
    var bestHits = 0L
    var best = fallback
    var g = 0
    while (g < groups.length) {
      if (counts(g) > bestHits) { bestHits = counts(g); best = groups(g)._1 }
      g += 1
    }
    best
  }

  /** Top-k vocabulary terms by in-document frequency (ties:
    * alphabetical, vocab pre-sorted), tf=0 terms excluded — the kernel
    * of KeywordEnricher.
    */
  def keywordsTopK(s: String, vocab: Array[String],
                   index: java.util.HashMap[String, Integer], k: Int): Array[UTF8String] = {
    val offs = tokenOffsets(s)
    val counts = new Array[Long](vocab.length)
    var t = 0
    while (t < offs.length) {
      val i = index.get(s.substring(offs(t), offs(t + 1)))
      if (i != null) counts(i.intValue()) += 1
      t += 2
    }
    vocab.indices
      .filter(i => counts(i) > 0)
      .sortBy(i => (-counts(i), vocab(i)))
      .take(k)
      .map(i => UTF8String.fromString(vocab(i)))
      .toArray
  }

  /** Maximal-marginal-relevance selection (Carbonell & Goldstein) over
    * one query's candidate pool: greedily pick `k` candidates by
    * score = λ·rel − (1−λ)·max cosine(candidate, already-selected)
    * (first pick: penalty 0 → argmax rel), ties to the lowest id.
    * `cands` is array<struct<nbr_id:long, rel:double,
    * emb:array<float>>> — POSITIONAL contract, field names free.
    * Order-insensitive (argmax with a total tie-break), so an
    * unordered collect_list feeds it safely. Returns selected ids in
    * pick order.
    */
  def mmrSelect(cands: ArrayData, k: Int, lambda: Double): Array[Long] = {
    val n = cands.numElements()
    val ids = new Array[Long](n)
    val rel = new Array[Double](n)
    val embs = new Array[ArrayData](n)
    var i = 0
    while (i < n) {
      val r = cands.getStruct(i, 3)
      ids(i) = r.getLong(0)
      rel(i) = r.getDouble(1)
      embs(i) = r.getArray(2)
      i += 1
    }
    val beta = 1.0 - lambda
    val taken = new Array[Boolean](n)
    val out = new scala.collection.mutable.ArrayBuffer[Long](math.min(k, n))
    val sel = new scala.collection.mutable.ArrayBuffer[Int](math.min(k, n))
    while (out.length < math.min(k, n)) {
      var best = -1
      var bestScore = Double.NegativeInfinity
      var c = 0
      while (c < n) {
        if (!taken(c)) {
          // max-sim penalty over the selected set; -inf seed (cosines
          // can be negative — a zero seed would silently floor them)
          var pen = Double.NegativeInfinity
          var s = 0
          while (s < sel.length) {
            pen = math.max(pen,
              cosine(embs(c), aDouble = false, embs(sel(s)), bDouble = false))
            s += 1
          }
          val score =
            if (sel.isEmpty) lambda * rel(c) else lambda * rel(c) - beta * pen
          if (best < 0 || score > bestScore ||
            (score == bestScore && ids(c) < ids(best))) {
            best = c; bestScore = score
          }
        }
        c += 1
      }
      taken(best) = true
      sel += best
      out += ids(best)
    }
    out.toArray
  }

  /** Sennrich BPE encode of ONE whitespace token against a learned
    * merge table (rank = training order, keyed "a b"): start from
    * code-point symbols and repeatedly merge the LOWEST-RANK adjacent
    * pair present — leftmost-first, non-overlapping within a round,
    * the same rewrite as [[graft.operators.Corpus.bpeMerges]]'
    * training loop — until no learned pair remains. Iterative
    * min-rank selection (not one sequential pass per merge) so a
    * later merge that recreates an earlier-rank pair still gets that
    * earlier merge applied, matching the reference BPE encoders.
    */
  def bpeEncodeWord(word: String,
                    ranks: java.util.HashMap[String, Integer]): Array[UTF8String] = {
    var syms = {
      val out = new scala.collection.mutable.ArrayBuffer[String](word.length)
      var i = 0
      while (i < word.length) {
        val cc = Character.charCount(word.codePointAt(i))
        out += word.substring(i, i + cc)
        i += cc
      }
      out
    }
    var done = syms.length < 2
    while (!done) {
      var best = Int.MaxValue
      var bi = -1
      var j = 0
      while (j < syms.length - 1) {
        val r = ranks.get(syms(j) + " " + syms(j + 1))
        if (r != null && r.intValue() < best) { best = r.intValue(); bi = j }
        j += 1
      }
      if (bi < 0) done = true
      else {
        val a = syms(bi); val b = syms(bi + 1)
        val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
        var k = 0
        while (k < syms.length) {
          if (k + 1 < syms.length && syms(k) == a && syms(k + 1) == b) {
            out += a + b; k += 2
          } else { out += syms(k); k += 1 }
        }
        syms = out
        done = syms.length < 2
      }
    }
    syms.iterator.map(UTF8String.fromString).toArray
  }

  /** One-pass twin of `explode(tokens(text))` + per-token
    * [[polyHash]]: the portable hash of every whitespace token, in
    * token order — the (doc_id, token-hash) stream every LM-statistic
    * operator keys on (unigram/bigram vocab joins, NB classifier,
    * DSIR-adjacent scoring). The HOF chain materializes a UTF8String
    * per token just to hash it; this hashes straight from the source
    * string's offsets ([[tokenOffsets]] split semantics — Java \s,
    * empties removed), allocating only the output array. Hash values
    * are [[polyHash]] bit-for-bit, so every DuckDB oracle and spec is
    * unchanged. */
  def tokenPolyHashes(s: String): Array[Long] = {
    val off = tokenOffsets(s)
    val out = new Array[Long](off.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = polyHash(s, off(2 * i), off(2 * i + 1), 0L)
      i += 1
    }
    out
  }

  /** PQ-encode one vector against a fixed codebook set: for each of
    * the m subspaces, the 0-based index of the codebook entry with the
    * minimal squared L2 to the vector's slice. Bit-identical to the
    * HOF formulation it replaces (`array_position(dists,
    * array_min(dists)) - 1` over per-entry `l2sq` folds): each
    * distance sums (x − y)² left-to-right in index order with doubles
    * throughout, and strict `<` keeps the FIRST minimum — the
    * lowest-code tie-break. A slice shorter than the vector contract
    * clamps at the vector's end (the HOF's zip_with would null the
    * whole distance there; neither shape occurs under the fixed-dim
    * contract). */
  def pqEncode(emb: ArrayData, isDouble: Boolean,
               books: Array[Array[Array[Float]]]): Array[Int] = {
    val m = books.length
    val nEmb = emb.numElements()
    val out = new Array[Int](m)
    var mi = 0
    var off = 0
    while (mi < m) {
      val book = books(mi)
      val sub = if (book.length > 0) book(0).length else 0
      var best = 0
      var bestD = Double.PositiveInfinity
      var ci = 0
      while (ci < book.length) {
        val entry = book(ci)
        var s = 0.0
        var j = 0
        val lim = math.min(sub, nEmb - off)
        while (j < lim) {
          val x = if (isDouble) emb.getDouble(off + j) else emb.getFloat(off + j).toDouble
          val d = x - entry(j).toDouble
          s += d * d
          j += 1
        }
        if (s < bestD) { bestD = s; best = ci }
        ci += 1
      }
      out(mi) = best
      off += sub
      mi += 1
    }
    out
  }

  /** Asymmetric PQ distance for one (query, codes) pair: Σ over
    * subspaces of the squared L2 between the query's slice and the
    * coded entry. Same association as the HOF aggregate it replaces:
    * each subspace sums its own subtotal left-to-right, subtotals add
    * in subspace order. */
  def pqAdc(q: ArrayData, isDouble: Boolean, codes: ArrayData,
            books: Array[Array[Array[Float]]]): Double = {
    val m = books.length
    val nQ = q.numElements()
    var total = 0.0
    var mi = 0
    var off = 0
    while (mi < m) {
      val book = books(mi)
      val sub = if (book.length > 0) book(0).length else 0
      val entry = book(codes.getInt(mi))
      var s = 0.0
      var j = 0
      val lim = math.min(sub, nQ - off)
      while (j < lim) {
        val x = if (isDouble) q.getDouble(off + j) else q.getFloat(off + j).toDouble
        val d = x - entry(j).toDouble
        s += d * d
        j += 1
      }
      total += s
      off += sub
      mi += 1
    }
    total
  }

  /** Spark's exact double `round(x)` at scale 0 (Round codegen for
    * DoubleType: BigDecimal.valueOf → setScale(0, HALF_UP) →
    * doubleValue — NaN/±Inf pass through untouched). */
  private def sparkRound0(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Fused SQ8-audit cosines for one vector pair: returns
    * [cos_full, cos_sq8] where cos_full is the full-precision cosine
    * and cos_sq8 the cosine of both vectors after int8 scalar
    * quantization against per-dimension [mn, mx] bounds (`stats` =
    * mns ++ mxs, 2×dim doubles). Bit-identical to the HOF chain it
    * replaces: each of the six accumulators (dot/na/nb, full and
    * dequantized) sums left-to-right in index order with doubles
    * throughout; the dequantize is `mn + round((x−mn)·255/(mx−mn)) ·
    * (mx−mn)/255` with Spark's exact double round (HALF_UP via
    * BigDecimal.valueOf), and the mx==mn dimension passes x through.
    * Tail dimensions beyond min(|a|,|b|) feed only their own norm
    * (the HOF's zip_with(a,a)/zip_with(b,b) shape); dimensions beyond
    * the stats width pass through unquantized — neither shape occurs
    * under the fixed-dim contract. */
  def sq8Cos(ea: ArrayData, eb: ArrayData, isDouble: Boolean,
             stats: ArrayData): Array[Double] = {
    val nA = ea.numElements()
    val nB = eb.numElements()
    val dim = stats.numElements() / 2
    @inline def get(a: ArrayData, i: Int): Double =
      if (isDouble) a.getDouble(i) else a.getFloat(i).toDouble
    @inline def dq(x: Double, i: Int): Double =
      if (i >= dim) x
      else {
        val mn = stats.getDouble(i)
        val mx = stats.getDouble(dim + i)
        if (mx == mn) x
        else mn + sparkRound0((x - mn) * 255 / (mx - mn)) * (mx - mn) / 255
      }
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var qdot = 0.0; var qna = 0.0; var qnb = 0.0
    val lim = math.min(nA, nB)
    var i = 0
    while (i < lim) {
      val xa = get(ea, i); val xb = get(eb, i)
      dot += xa * xb; na += xa * xa; nb += xb * xb
      val qa = dq(xa, i); val qb = dq(xb, i)
      qdot += qa * qb; qna += qa * qa; qnb += qb * qb
      i += 1
    }
    while (i < nA) { // a-only tail: norms see the full array
      val xa = get(ea, i); na += xa * xa
      val qa = dq(xa, i); qna += qa * qa; i += 1
    }
    i = lim
    while (i < nB) {
      val xb = get(eb, i); nb += xb * xb
      val qb = dq(xb, i); qnb += qb * qb; i += 1
    }
    @inline def cos(d: Double, n1: Double, n2: Double): Double = {
      val s1 = math.sqrt(n1); val s2 = math.sqrt(n2)
      if (s1 * s2 == 0) 0.0 else d / (s1 * s2)
    }
    Array(cos(dot, na, nb), cos(qdot, qna, qnb))
  }

  // ---------------------------------------------------------------- exprs
  //
  // Every expression implements BOTH eval (nullSafeEval) and real
  // doGenCode that emits a single static-kernel call, so the whole
  // operator stays inside one WholeStageCodegen stage (CodegenFallback
  // would force an InternalRow materialization per call). Vocabulary /
  // group configs ride along as codegen reference objects.

  private val N = "graft.functions.Kernels"
  private val GAD = "org.apache.spark.sql.catalyst.util.GenericArrayData"

  case class PolyHashExpr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override protected def nullSafeEval(input: Any): Any =
      polyHash(input.asInstanceOf[UTF8String].toString)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$N.polyHash($c.toString())")
    override protected def withNewChildInternal(newChild: Expression): PolyHashExpr =
      copy(child = newChild)
  }

  case class ContentHash60Expr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override protected def nullSafeEval(input: Any): Any =
      contentHash60(input.asInstanceOf[UTF8String].toString)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$N.contentHash60($c.toString())")
    override protected def withNewChildInternal(newChild: Expression): ContentHash60Expr =
      copy(child = newChild)
  }

  case class ShingleHashesExpr(child: Expression, n: Int, wide: Boolean = false)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def nullSafeEval(input: Any): Any =
      new GenericArrayData(shingleHashes(input.asInstanceOf[UTF8String].toString, n, wide))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"new $GAD($N.shingleHashes($c.toString(), $n, $wide))")
    override protected def withNewChildInternal(newChild: Expression): ShingleHashesExpr =
      copy(child = newChild)
  }

  case class PositionalWindowHashesExpr(child: Expression, n: Int, wide: Boolean = false)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def nullSafeEval(input: Any): Any =
      new GenericArrayData(
        positionalWindowHashes(input.asInstanceOf[UTF8String].toString, n, wide))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"new $GAD($N.positionalWindowHashes($c.toString(), $n, $wide))")
    override protected def withNewChildInternal(newChild: Expression): PositionalWindowHashesExpr =
      copy(child = newChild)
  }

  case class MinHashSigExpr(child: Expression, k: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def nullSafeEval(input: Any): Any =
      new GenericArrayData(minHashSig(input.asInstanceOf[ArrayData], k))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"new $GAD($N.minHashSig($c, $k))")
    override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
      copy(child = newChild)
  }

  case class SimHash64Expr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override protected def nullSafeEval(input: Any): Any =
      simHash64(input.asInstanceOf[UTF8String].toString)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$N.simHash64($c.toString())")
    override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
      copy(child = newChild)
  }

  case class HyperplaneBucketExpr(child: Expression, nPlanes: Int, seed: Int = 0)
      extends UnaryExpression {
    private lazy val isDouble =
      child.dataType.asInstanceOf[ArrayType].elementType == DoubleType
    override def dataType: DataType = LongType
    override protected def nullSafeEval(input: Any): Any =
      hyperplaneBucket(input.asInstanceOf[ArrayData], isDouble, nPlanes, seed)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$N.hyperplaneBucket($c, $isDouble, $nPlanes, $seed)")
    override protected def withNewChildInternal(newChild: Expression): HyperplaneBucketExpr =
      copy(child = newChild)
  }

  case class HashEmbedExpr(child: Expression, dim: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(FloatType, containsNull = false)
    override protected def nullSafeEval(input: Any): Any =
      new GenericArrayData(hashEmbed(input.asInstanceOf[UTF8String].toString, dim))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"new $GAD($N.hashEmbed($c.toString(), $dim))")
    override protected def withNewChildInternal(newChild: Expression): HashEmbedExpr =
      copy(child = newChild)
  }

  case class CosineExpr(left: Expression, right: Expression) extends BinaryExpression {
    private lazy val lDouble =
      left.dataType.asInstanceOf[ArrayType].elementType == DoubleType
    private lazy val rDouble =
      right.dataType.asInstanceOf[ArrayType].elementType == DoubleType
    override def dataType: DataType = DoubleType
    override protected def nullSafeEval(a: Any, b: Any): Any =
      cosine(a.asInstanceOf[ArrayData], lDouble, b.asInstanceOf[ArrayData], rDouble)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$N.cosine($a, $lDouble, $b, $rDouble)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): CosineExpr =
      copy(left = newLeft, right = newRight)
  }

  case class NearestCentroidsExpr(left: Expression, right: Expression, probes: Int)
      extends BinaryExpression {
    private def isVec(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    // analysis-time validation instead of a runtime ClassCastException /
    // silent garbage: a SQL caller can hand this any shape (INT
    // list_id, missing struct field, non-numeric centroid)
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      val ok = isVec(left.dataType) && (right.dataType match {
        case ArrayType(s: StructType, _) if s.fields.length == 2 =>
          s.fields(0).dataType == LongType && isVec(s.fields(1).dataType)
        case _ => false
      })
      if (ok) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        "nearestCentroids expects (array<float|double>, " +
          "array<struct<list_id: bigint, centroid: array<float|double>>>), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }
    private lazy val vDouble =
      left.dataType.asInstanceOf[ArrayType].elementType == DoubleType
    private lazy val cDouble =
      right.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
        .fields(1).dataType.asInstanceOf[ArrayType].elementType == DoubleType
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def nullSafeEval(v: Any, c: Any): Any =
      new GenericArrayData(nearestCentroids(
        v.asInstanceOf[ArrayData], vDouble, c.asInstanceOf[ArrayData], cDouble, probes))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (v, c) =>
        s"new $GAD($N.nearestCentroids($v, $vDouble, $c, $cDouble, $probes))")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): NearestCentroidsExpr =
      copy(left = newLeft, right = newRight)
  }

  /** `$c.toLowerCase()` when the kernel matches lowercased text. */
  private def genText(c: String, lowercase: Boolean): String =
    if (lowercase) s"$c.toLowerCase().toString()" else s"$c.toString()"

  case class VocabHitsExpr(child: Expression, words: Seq[String], lowercase: Boolean)
      extends UnaryExpression {
    @transient private lazy val set = {
      val s = new java.util.HashSet[String]()
      words.foreach(s.add)
      s
    }
    override def dataType: DataType = LongType
    override protected def nullSafeEval(input: Any): Any = {
      val u = input.asInstanceOf[UTF8String]
      vocabHits((if (lowercase) u.toLowerCase else u).toString, set)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("graftVocabSet", set, "java.util.HashSet")
      defineCodeGen(ctx, ev, c => s"$N.vocabHits(${genText(c, lowercase)}, $ref)")
    }
    override protected def withNewChildInternal(newChild: Expression): VocabHitsExpr =
      copy(child = newChild)
  }

  case class BestLabelExpr(child: Expression, groups: Seq[(String, Seq[String])],
                           fallback: String, lowercase: Boolean)
      extends UnaryExpression {
    @transient private lazy val built = groups.sortBy(_._1).map { case (label, words) =>
      val s = new java.util.HashSet[String]()
      words.foreach(s.add)
      (label, s)
    }.toArray
    override def dataType: DataType = StringType
    override protected def nullSafeEval(input: Any): Any = {
      val u = input.asInstanceOf[UTF8String]
      UTF8String.fromString(
        bestLabel((if (lowercase) u.toLowerCase else u).toString, built, fallback))
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val groupsRef = ctx.addReferenceObj("graftGroups", built, "scala.Tuple2[]")
      val fallbackRef = ctx.addReferenceObj("graftFallback", fallback, "java.lang.String")
      defineCodeGen(ctx, ev, c =>
        s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
          s"$N.bestLabel(${genText(c, lowercase)}, $groupsRef, $fallbackRef))")
    }
    override protected def withNewChildInternal(newChild: Expression): BestLabelExpr =
      copy(child = newChild)
  }

  case class KeywordsTopKExpr(child: Expression, vocabulary: Seq[String], k: Int,
                              lowercase: Boolean)
      extends UnaryExpression {
    @transient private lazy val sortedVocab = vocabulary.distinct.sorted.toArray
    @transient private lazy val index = {
      val m = new java.util.HashMap[String, Integer]()
      sortedVocab.zipWithIndex.foreach { case (w, i) => m.put(w, i) }
      m
    }
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override protected def nullSafeEval(input: Any): Any = {
      val u = input.asInstanceOf[UTF8String]
      new GenericArrayData(
        keywordsTopK((if (lowercase) u.toLowerCase else u).toString, sortedVocab, index, k)
          .asInstanceOf[Array[Any]])
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val vocabRef = ctx.addReferenceObj("graftVocab", sortedVocab, "java.lang.String[]")
      val idxRef = ctx.addReferenceObj("graftVocabIdx", index, "java.util.HashMap")
      defineCodeGen(ctx, ev, c =>
        s"new $GAD((Object[]) $N.keywordsTopK(${genText(c, lowercase)}, $vocabRef, $idxRef, $k))")
    }
    override protected def withNewChildInternal(newChild: Expression): KeywordsTopKExpr =
      copy(child = newChild)
  }

  case class TokenPolyHashesExpr(child: Expression, lowercase: Boolean)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def nullSafeEval(input: Any): Any = {
      val u = input.asInstanceOf[UTF8String]
      new GenericArrayData(
        tokenPolyHashes((if (lowercase) u.toLowerCase else u).toString))
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"new $GAD($N.tokenPolyHashes(${genText(c, lowercase)}))")
    override protected def withNewChildInternal(newChild: Expression): TokenPolyHashesExpr =
      copy(child = newChild)
  }

  case class PqEncodeExpr(child: Expression, books: Seq[Seq[Seq[Float]]])
      extends UnaryExpression {
    @transient private lazy val built: Array[Array[Array[Float]]] =
      books.map(_.map(_.toArray).toArray).toArray
    private lazy val isDouble =
      child.dataType.asInstanceOf[ArrayType].elementType == DoubleType
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override protected def nullSafeEval(input: Any): Any =
      new GenericArrayData(pqEncode(input.asInstanceOf[ArrayData], isDouble, built))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("graftPqBooks", built, "float[][][]")
      defineCodeGen(ctx, ev, c => s"new $GAD($N.pqEncode($c, $isDouble, $ref))")
    }
    override protected def withNewChildInternal(newChild: Expression): PqEncodeExpr =
      copy(child = newChild)
  }

  case class PqAdcExpr(left: Expression, right: Expression,
                       books: Seq[Seq[Seq[Float]]])
      extends BinaryExpression {
    @transient private lazy val built: Array[Array[Array[Float]]] =
      books.map(_.map(_.toArray).toArray).toArray
    private lazy val isDouble =
      left.dataType.asInstanceOf[ArrayType].elementType == DoubleType
    override def dataType: DataType = DoubleType
    override protected def nullSafeEval(q: Any, codes: Any): Any =
      pqAdc(q.asInstanceOf[ArrayData], isDouble, codes.asInstanceOf[ArrayData], built)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("graftPqBooks", built, "float[][][]")
      defineCodeGen(ctx, ev, (q, codes) => s"$N.pqAdc($q, $isDouble, $codes, $ref)")
    }
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): PqAdcExpr =
      copy(left = newLeft, right = newRight)
  }

  case class Sq8CosExpr(first: Expression, second: Expression,
                        third: Expression) extends TernaryExpression {
    private lazy val isDouble =
      first.dataType.asInstanceOf[ArrayType].elementType == DoubleType
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override protected def nullSafeEval(a: Any, b: Any, st: Any): Any =
      new GenericArrayData(sq8Cos(a.asInstanceOf[ArrayData],
        b.asInstanceOf[ArrayData], isDouble, st.asInstanceOf[ArrayData]))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        (a, b, st) => s"new $GAD($N.sq8Cos($a, $b, $isDouble, $st))")
    override protected def withNewChildrenInternal(
        newFirst: Expression, newSecond: Expression,
        newThird: Expression): Sq8CosExpr =
      copy(first = newFirst, second = newSecond, third = newThird)
  }

  case class MmrSelectExpr(child: Expression, k: Int, lambda: Double)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def nullSafeEval(input: Any): Any =
      new GenericArrayData(mmrSelect(input.asInstanceOf[ArrayData], k, lambda))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"new $GAD($N.mmrSelect($c, $k, $lambda))")
    override protected def withNewChildInternal(newChild: Expression): MmrSelectExpr =
      copy(child = newChild)
  }

  case class BpeEncodeExpr(child: Expression, merges: Seq[(String, String)])
      extends UnaryExpression {
    @transient private lazy val ranks = {
      val m = new java.util.HashMap[String, Integer]()
      merges.zipWithIndex.foreach { case ((a, b), i) =>
        // first occurrence wins: training order is the rank
        m.putIfAbsent(a + " " + b, i)
      }
      m
    }
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override protected def nullSafeEval(input: Any): Any =
      new GenericArrayData(
        bpeEncodeWord(input.asInstanceOf[UTF8String].toString, ranks)
          .asInstanceOf[Array[Any]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ranksRef = ctx.addReferenceObj("graftBpeRanks", ranks, "java.util.HashMap")
      defineCodeGen(ctx, ev, c =>
        s"new $GAD((Object[]) $N.bpeEncodeWord($c.toString(), $ranksRef))")
    }
    override protected def withNewChildInternal(newChild: Expression): BpeEncodeExpr =
      copy(child = newChild)
  }

  case class AvgHash64Expr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override protected def nullSafeEval(input: Any): Any =
      avgHash64(input.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$N.avgHash64($c)")
    override protected def withNewChildInternal(newChild: Expression): AvgHash64Expr =
      copy(child = newChild)
  }

  case class PieceCountExpr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = IntegerType
    override protected def nullSafeEval(input: Any): Any =
      pieceCount(input.asInstanceOf[UTF8String].toString)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$N.pieceCount($c.toString())")
    override protected def withNewChildInternal(newChild: Expression): PieceCountExpr =
      copy(child = newChild)
  }

  case class CharEntropyExpr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override protected def nullSafeEval(input: Any): Any =
      charEntropy(input.asInstanceOf[UTF8String].toString)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$N.charEntropy($c.toString())")
    override protected def withNewChildInternal(newChild: Expression): CharEntropyExpr =
      copy(child = newChild)
  }

  case class TokenCountExpr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = IntegerType
    override protected def nullSafeEval(input: Any): Any =
      tokenOffsets(input.asInstanceOf[UTF8String].toString).length / 2
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$N.tokenCount($c.toString())")
    override protected def withNewChildInternal(newChild: Expression): TokenCountExpr =
      copy(child = newChild)
  }

  // ------------------------------------------------------------- columns

  private def ex(c: Column): Expression = ColumnBridge.expression(c)
  private def col(e: Expression): Column = ColumnBridge.column(e)

  def polyHash(s: Column): Column = col(PolyHashExpr(ex(s)))
  def contentHash60(s: Column): Column = col(ContentHash60Expr(ex(s)))
  def shingleHashes(text: Column, n: Int, wide: Boolean = false): Column =
    col(ShingleHashesExpr(ex(text), n, wide))
  def positionalWindowHashes(text: Column, n: Int, wide: Boolean = false): Column =
    col(PositionalWindowHashesExpr(ex(text), n, wide))
  def minHashSig(shingles: Column, k: Int): Column = col(MinHashSigExpr(ex(shingles), k))
  def simHash64(text: Column): Column = col(SimHash64Expr(ex(text)))
  def hyperplaneBucket(vec: Column, nPlanes: Int, seed: Int = 0): Column =
    col(HyperplaneBucketExpr(ex(vec), nPlanes, seed))
  def hashEmbed(text: Column, dim: Int): Column = col(HashEmbedExpr(ex(text), dim))
  def cosine(a: Column, b: Column): Column = col(CosineExpr(ex(a), ex(b)))
  def nearestCentroids(vec: Column, cents: Column, probes: Int): Column =
    col(NearestCentroidsExpr(ex(vec), ex(cents), probes))
  def vocabHits(text: Column, words: Seq[String], lowercase: Boolean = true): Column =
    col(VocabHitsExpr(ex(text), words, lowercase))
  def bestLabel(text: Column, groups: Seq[(String, Seq[String])], fallback: String,
                lowercase: Boolean = true): Column =
    col(BestLabelExpr(ex(text), groups, fallback, lowercase))
  def keywordsTopK(text: Column, vocabulary: Seq[String], k: Int,
                   lowercase: Boolean = true): Column =
    col(KeywordsTopKExpr(ex(text), vocabulary, k, lowercase))
  def tokenCount(text: Column): Column = col(TokenCountExpr(ex(text)))
  def charEntropy(text: Column): Column = col(CharEntropyExpr(ex(text)))
  def pieceCount(text: Column): Column = col(PieceCountExpr(ex(text)))
  def avgHash64(content: Column): Column = col(AvgHash64Expr(ex(content)))
  def bpeEncode(word: Column, merges: Seq[(String, String)]): Column =
    col(BpeEncodeExpr(ex(word), merges))
  def mmrSelect(cands: Column, k: Int, lambda: Double): Column =
    col(MmrSelectExpr(ex(cands), k, lambda))
  def tokenPolyHashes(text: Column, lowercase: Boolean = false): Column =
    col(TokenPolyHashesExpr(ex(text), lowercase))
  def pqEncode(emb: Column, books: Seq[Seq[Seq[Float]]]): Column =
    col(PqEncodeExpr(ex(emb), books))
  def pqAdc(q: Column, codes: Column, books: Seq[Seq[Seq[Float]]]): Column =
    col(PqAdcExpr(ex(q), ex(codes), books))
  def sq8Cos(ea: Column, eb: Column, stats: Column): Column =
    col(Sq8CosExpr(ex(ea), ex(eb), ex(stats)))
}
