package graft
package queries

import graft.operators._
import graft.queries.Inputs._
import graft.queries.SqlText._
import org.apache.spark.sql.functions._

/** Multimodal: image and audio records through the same
  * reader/processor surface. Each [[QuerySpec]] holds a query's Spark
  * closure and, right after it, the DuckDB SQL its result must match. */
private[graft] object MultimodalQueries extends QueryFamily {
  val prefix = "m"

  val specs: Seq[QuerySpec] = Seq(
    // ---------------------------------------------- multimodal
    QuerySpec("m_binary_dedup", (s, dir) => {
      // exact binary dedup over media bytes (CDN copies / mirrored
      // assets): content-addressed sha-256 groups, keeper = min id;
      // the dup-injected corpus's verbatim copies (+1M ids) group,
      // the one-token near-dups (+2M) correctly do NOT
      val media = corpusWithDups(tbl(s, dir, "documents"))
        .select(col("doc_id").as("media_id"), encode(col("text"), "UTF-8").as("content"))
      Multimodal.binaryDuplicates(media).orderBy(col("media_id"))
    }, oracleSql =
      s"""WITH corpus AS ($corpusWithDupsSql),
         |m AS (
         |  SELECT doc_id AS media_id, sha256(text) AS digest,
         |    CAST(octet_length(encode(text)) AS INT) AS byte_length
         |  FROM corpus),
         |w AS (
         |  SELECT media_id, digest, byte_length,
         |    CAST(count(*) OVER (PARTITION BY digest) AS BIGINT) AS group_size,
         |    min(media_id) OVER (PARTITION BY digest) AS keeper_id
         |  FROM m)
         |SELECT media_id, digest, byte_length, group_size, keeper_id
         |FROM w WHERE group_size > 1 ORDER BY media_id""".stripMargin),

    QuerySpec("m_phash_dedup", (s, dir) => {
      // perceptual near-dup groups on the 64-bit average hash over
      // media bytes (aHash shape; a real image pipeline hashes the
      // decoded grayscale grid through the same column). Verbatim
      // copies group; the one-token near-dups usually shift a block
      // mean and correctly stay out — the signal between sha-256
      // equality and embedding cosine.
      val media = corpusWithDups(tbl(s, dir, "documents"))
        .select(col("doc_id").as("media_id"),
          encode(col("text"), "UTF-8").as("content"))
      Multimodal.perceptualDuplicates(media).orderBy(col("media_id"))
    },
    // avgHash64 replay: per-byte values (ASCII corpus: unicode(char)
    // == byte), block index (p·64)//n, bit = exact cross-multiply
    // blockSum·n > total·blockLen; bits assemble in HUGEINT (1<<63
    // is UB territory in int64) and convert to the signed long via
    // an explicit two's-complement fold
    oracleSql =
      s"""WITH corpus AS ($corpusWithDupsSql),
         |b AS (
         |  SELECT doc_id AS media_id, text,
         |    CAST(octet_length(encode(text)) AS BIGINT) AS n
         |  FROM corpus),
         |ch AS (
         |  SELECT media_id, n, u.p AS p,
         |    CAST(unicode(substr(text, CAST(u.p + 1 AS INT), 1)) AS BIGINT) AS v
         |  FROM b, unnest(range(0, n)) AS u(p)
         |  WHERE n > 0),
         |blk AS (
         |  SELECT media_id, n, (p * 64) // n AS blk,
         |    CAST(sum(v) AS BIGINT) AS bs, count(*) AS cnt
         |  FROM ch GROUP BY 1, 2, 3),
         |tot AS (
         |  SELECT media_id, CAST(sum(bs) AS BIGINT) AS total
         |  FROM blk GROUP BY 1),
         |ph0 AS (
         |  SELECT k.media_id,
         |    sum(CASE WHEN k.bs * k.n > t.total * k.cnt
         |      THEN CAST(1 AS HUGEINT) << CAST(k.blk AS INT)
         |      ELSE CAST(0 AS HUGEINT) END) AS s
         |  FROM blk k JOIN tot t USING (media_id) GROUP BY 1),
         |ph AS (
         |  SELECT media_id,
         |    CAST(CASE WHEN s >= 9223372036854775808 THEN
         |      s - 18446744073709551616 ELSE s END AS BIGINT) AS phash
         |  FROM ph0
         |  UNION ALL
         |  SELECT media_id, CAST(0 AS BIGINT) FROM b WHERE n = 0),
         |g AS (
         |  SELECT p.media_id, p.phash, CAST(b2.n AS INT) AS byte_length,
         |    CAST(count(*) OVER (PARTITION BY p.phash) AS BIGINT) AS group_size,
         |    min(p.media_id) OVER (PARTITION BY p.phash) AS keeper_id
         |  FROM ph p JOIN b b2 ON b2.media_id = p.media_id)
         |SELECT media_id, phash, byte_length, group_size, keeper_id
         |FROM g WHERE group_size > 1 ORDER BY media_id""".stripMargin),

    QuerySpec("m_alignment", (s, dir) => {
      // image–caption ALIGNMENT filter (the CLIP-score shape behind
      // LAION-style pair filtering: embed both sides, keep pairs
      // above a cosine floor): alt text = the item's own leading
      // tokens normally, but every 7th item carries an induced junk
      // caption ("stock photo watermark…" — the classic boilerplate
      // alt) that must score below the floor. Embedders are the
      // hermetic hash embedder on BOTH sides (a production CLIP swaps
      // in behind the same two-column contract); the whole op is
      // map-only over the pair table.
      val docs = tbl(s, dir, "documents")
      val alt = when(col("doc_id") % 7 === 0,
        concat(lit("stock photo watermark banner "), col("doc_id").cast("string")))
        .otherwise(array_join(slice(
          graft.functions.TextFunctions.tokens(col("text")), 1, 8), " "))
      docs.select(col("doc_id").as("media_id"), alt.as("alt_text"), col("text"))
        .select(col("media_id"),
          round(graft.functions.VectorFunctions.cosine(
            graft.functions.VectorFunctions.hashEmbed(col("alt_text"), 16),
            graft.functions.VectorFunctions.hashEmbed(col("text"), 16)), 6)
            .as("score"))
        .select(col("media_id"), col("score"),
          (col("score") >= 0.5).as("keep"))
        .orderBy(col("media_id"))
    },
    // alignment replay: same induced junk captions, same feature-hash
    // histograms (vectorRecordsCte embedding shape) on both sides,
    // dot of L2-normalized 16-dim vectors
    oracleSql = {
      def cnts(src: String) =
        s"""list_transform(range(0, 16), i -> len(list_filter(
           |      list_transform(${sqlToks(src)}, tk -> ${sqlHash("tk")} % 16),
           |      b -> b = i)))""".stripMargin
      def nrm(c: String) =
        s"""sqrt(list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
           |      list_transform($c, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
           |      (x, y) -> x + y))""".stripMargin
      def unit(c: String, n: String) =
        s"""list_transform($c, x -> CAST(CASE WHEN $n > 0
           |      THEN CAST(x AS DOUBLE) / $n ELSE 0.0 END AS FLOAT))""".stripMargin
      s"""WITH pairs AS (
         |  SELECT doc_id AS media_id,
         |    CASE WHEN doc_id % 7 = 0 THEN
         |      'stock photo watermark banner ' || CAST(doc_id AS VARCHAR)
         |    ELSE array_to_string((${sqlToks("text")})[1:8], ' ') END AS alt_text,
         |    text
         |  FROM documents),
         |b1 AS (
         |  SELECT media_id, ${cnts("alt_text")} AS ca, ${cnts("text")} AS cb
         |  FROM pairs),
         |n1 AS (
         |  SELECT media_id, ca, cb, ${nrm("ca")} AS na, ${nrm("cb")} AS nb
         |  FROM b1),
         |e1 AS (
         |  SELECT media_id, ${unit("ca", "na")} AS ea, ${unit("cb", "nb")} AS eb
         |  FROM n1)
         |SELECT media_id,
         |  round(${sqlCos("ea", "eb", 16)}, 6) AS score,
         |  round(${sqlCos("ea", "eb", 16)}, 6) >= 0.5 AS keep
         |FROM e1 ORDER BY media_id""".stripMargin
    }),

    QuerySpec("m_multimodal_meta", (s, dir) => {
      val media = tbl(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("content"),
        lit("text/plain").as("media_type")
      )
      Multimodal.mediaMetadata(media)
        .select(col("media_id"), col("byte_length"), col("sniffed_type"))
        .orderBy(col("media_id"))
    }, oracleSql =
      // ASCII-expressible magic prefixes must be sniffed here too (the
      // Spark side sniffs magic bytes; a text starting with GIF/RIFF/
      // %PDF would otherwise diverge)
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(encode(text)) AS INT) AS byte_length,
        |  CASE WHEN text LIKE 'GIF%' THEN 'image/gif'
        |       WHEN text LIKE 'RIFF%' THEN 'audio/wav'
        |       WHEN starts_with(text, '%PDF') THEN 'application/pdf'
        |       ELSE 'application/octet-stream' END AS sniffed_type
        |FROM documents ORDER BY media_id""".stripMargin),

    QuerySpec("m_frame_sample", (s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("content"),
        lit("video/raw").as("media_type"),
        lit("").as("alt_text")
      ).as[Multimodal.MediaRecord]
      Multimodal.sampleFrames(s, media, nFrames = 4)
        .toDF()
        .select(col("media_id"), col("frame_idx"), length(col("frame")).as("frame_len"))
        .orderBy(col("media_id"), col("frame_idx"))
    }, oracleSql =
      """SELECT doc_id AS media_id, CAST(u.i AS INT) AS frame_idx,
        |  CAST(octet_length(encode(text)) * (u.i + 1) // 4
        |     - octet_length(encode(text)) * u.i // 4 AS INT) AS frame_len
        |FROM documents, unnest(range(0, 4)) AS u(i)
        |WHERE octet_length(encode(text)) > 0
        |ORDER BY media_id, frame_idx""".stripMargin),

    QuerySpec("m_resize_meta", (s, dir) => {
      import s.implicits._
      // resize stub: bytes pass through, target size recorded — the
      // row contract a real re-encoder slots into
      val media = tbl(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("content"),
        lit("image/raw").as("media_type"),
        lit("").as("alt_text")
      ).as[Multimodal.MediaRecord]
      Multimodal.resizeStub(media, 224, 224)
        .select(col("media_id"), length(col("content")).as("byte_length"),
          col("target_width"), col("target_height"))
        .orderBy(col("media_id"))
    }, oracleSql =
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(encode(text)) AS INT) AS byte_length,
        |  CAST(224 AS INT) AS target_width, CAST(224 AS INT) AS target_height
        |FROM documents ORDER BY media_id""".stripMargin),

    QuerySpec("m_audio_segments", (s, dir) => {
      import s.implicits._
      // the corpus is pure ASCII, so encode(text) bytes == char codes —
      // the oracle recomputes window energies from unicode(char)
      val media = tbl(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("content"),
        lit("audio/pcm").as("media_type"),
        lit("").as("alt_text")
      ).as[Multimodal.MediaRecord]
      Multimodal.segmentAudio(s, media, windowBytes = 64, meanEnergyThreshold = 100)
        .toDF()
        .select(col("media_id"), col("seg_idx"), col("start_byte"), col("end_byte"),
          col("energy"), col("voiced").cast("int").as("voiced"))
        .orderBy(col("media_id"), col("seg_idx"))
    }, oracleSql =
      // the corpus is pure ASCII (verified ≤ U+0079 at every SF), so
      // window energy over bytes == sum of unicode(char) over the same
      // char window — no hex round-trip needed
      """WITH b AS (
        |  SELECT doc_id AS media_id, text, octet_length(encode(text)) AS blen
        |  FROM documents),
        |seg AS (
        |  SELECT media_id, CAST(u.i AS INT) AS seg_idx,
        |    CAST(u.i * 64 AS INT) AS start_byte,
        |    CAST(least((u.i + 1) * 64, blen) AS INT) AS end_byte,
        |    list_reduce(list_concat([CAST(0 AS BIGINT)],
        |      list_transform(
        |        list_filter(regexp_split_to_array(substr(text, CAST(u.i * 64 + 1 AS INT), 64), ''),
        |                    c -> length(c) > 0),
        |        c -> CAST(unicode(c) AS BIGINT))), (x, y) -> x + y) AS energy
        |  FROM b, unnest(range(0, CAST(ceil(blen / 64.0) AS BIGINT))) AS u(i)
        |  WHERE blen > 0)
        |SELECT media_id, seg_idx, start_byte, end_byte, energy,
        |  CAST(CASE WHEN energy >= 100 * (end_byte - start_byte) THEN 1 ELSE 0 END AS INT) AS voiced
        |FROM seg ORDER BY media_id, seg_idx""".stripMargin),

    QuerySpec("m_image_features", (s, dir) => {
      import s.implicits._
      val media = tbl(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("content"),
        lit("application/octet-stream").as("media_type"),
        lit("").as("alt_text")
      ).as[Multimodal.MediaRecord]
      Multimodal.extractFeatures(s, media)
        .toDF()
        .select(col("media_id"), col("byte_length"), col("sniffed_type"),
          posexplode(col("feature")).as(Seq("dim", "val")))
        .withColumn("val", col("val").cast("double"))
        .orderBy(col("media_id"), col("dim"))
    }, oracleSql =
      // high nibble of byte i = hex digit at (0-based) position 2i of
      // the hex-encoded blob; histogram over 16 nibble values,
      // L2-normalized exactly like decodeStub (double div, float cast)
      s"""WITH b AS (
         |  SELECT doc_id AS media_id, hex(encode(text)) AS h,
         |         octet_length(encode(text)) AS blen, text
         |  FROM documents),
         |cnt AS (
         |  SELECT media_id, blen, text,
         |    list_transform(range(0, 16), v -> CAST(len(list_filter(range(0, blen),
         |      i -> substr(h, CAST(2*i+1 AS INT), 1)
         |           = substr('0123456789ABCDEF', CAST(v+1 AS INT), 1))) AS DOUBLE)) AS cnts
         |  FROM b),
         |normed AS (
         |  SELECT media_id, blen, text, cnts,
         |    sqrt(list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
         |      list_transform(cnts, c -> c * c)), (x, y) -> x + y)) AS nrm
         |  FROM cnt)
         |SELECT media_id, CAST(blen AS INT) AS byte_length,
         |  CASE WHEN text LIKE 'GIF%' THEN 'image/gif'
         |       WHEN text LIKE 'RIFF%' THEN 'audio/wav'
         |       WHEN starts_with(text, '%PDF') THEN 'application/pdf'
         |       ELSE 'application/octet-stream' END AS sniffed_type,
         |  CAST(r.range - 1 AS INT) AS dim,
         |  CAST(CAST(CASE WHEN nrm > 0
         |        THEN cnts[CAST(r.range AS INT)] / nrm ELSE 0.0 END AS FLOAT) AS DOUBLE) AS val
         |FROM normed CROSS JOIN range(1, 17) r
         |ORDER BY media_id, dim""".stripMargin)
  )
}
