package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text primitives.
  *
  * Everything here is composed from `org.apache.spark.sql.functions`
  * (no UDFs): each function returns a Column expression that Catalyst
  * can optimize, push down around, and evaluate without serialization
  * overhead. Higher-order functions (transform/aggregate/filter) keep
  * per-document work narrow — a 100 TB corpus runs these as a map-only
  * stage.
  *
  * Hash choices: every hash here is deliberately *portable* — a
  * 31-base polynomial over unicode code points mod 1e9+7
  * (`portableHash`), plus a second 131-base family mod 998244353
  * combined into the 60-bit simhash token hash — so DuckDB can
  * replicate each one with list_reduce and the driver's oracle
  * verifies fingerprints, minhash, AND simhash byte-for-byte. The hot
  * paths run as fused native kernels (graft.functions.native), whose
  * algebra is property-tested against independent BigInt models
  * (KernelPropsSpec).
  */
object TextFunctions {

  val HashMod: Long = 1000000007L

  /** Whitespace tokens, empties removed. */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** BPE-ish subword-count approximation: word-chars runs, digits and
    * punctuation counted separately (a cheap stand-in for a real BPE
    * vocab: counts regex token pieces, not bytes).
    */
  def regexTokens(text: Column): Column =
    filter(
      split(text, "(?=[^A-Za-z0-9])|(?<=[^A-Za-z0-9])"),
      t => length(trim(t)) > 0
    )

  /** Portable polynomial string hash: fold chars, acc = (acc*31 + codepoint) mod 1e9+7.
    * DuckDB equivalent:
    *   list_reduce(list_concat([0], [unicode(c) for c in regexp_split_to_array(s,'')]),
    *               (acc, c) -> (acc*31 + c) % 1000000007)
    */
  def portableHash(s: Column): Column = native.polyHash(s)

  /** Word n-gram shingles as strings ("w1 w2 ... wn"). */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) < n, array(array_join(toks, " "))).otherwise(
      transform(
        sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " ")
      )
    )
  }

  /** Distinct hashed shingles (the MinHash input set) — fused
    * tokenize+window+hash native expression (one pass per row).
    */
  def shingleHashes(text: Column, n: Int): Column = native.shingleHashes(text, n)

  /** MinHash signature: for each of k affine re-hashes of the shingle
    * set, keep the minimum. Deterministic (a_i, b_i) derived from i so
    * Spark and the DuckDB oracle agree. Returns array<bigint> length k.
    */
  def minHashSignature(shingles: Column, k: Int): Column =
    native.minHashSig(shingles, k)

  /** LSH band keys: signature split into bands of `rowsPerBand`, each
    * band reduced to a single portable hash. Returns array<bigint> of
    * length k/rowsPerBand. Two docs sharing any band key are candidates.
    */
  def lshBandKeys(signature: Column, k: Int, rowsPerBand: Int): Column = {
    val keys = (0 until k / rowsPerBand).map { band =>
      val slice0 = slice(signature, band * rowsPerBand + 1, rowsPerBand)
      // fold band rows into one key; include band index so bands don't collide
      aggregate(
        slice0,
        lit(band.toLong),
        (acc, x) => pmod(acc * 31 + x, lit(HashMod))
      )
    }
    array(keys: _*)
  }

  /** SimHash over whitespace tokens: portable 60-bit dual-polynomial
    * token hash, sign of per-bit vote sum — reproducible in DuckDB SQL
    * bit-for-bit (hard oracle for d_dedup_simhash).
    */
  def simHash64(text: Column): Column = native.simHash64(text)

  /** Hamming distance between two long bitmasks. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Jaccard similarity of two pre-hashed shingle arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, 0.0).otherwise(inter / uni)
  }

  /** Rolling-hash document fingerprint: portable polynomial hash over
    * the whole text (chars), mod 1e9+7 — see portableHash docs for the
    * DuckDB twin.
    */
  def fingerprint(text: Column): Column = portableHash(text)
}
