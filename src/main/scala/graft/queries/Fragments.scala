package graft.queries

import graft.Q.t
import graft.multimodal.Multimodal.MediaRow
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col

/** Registry fragments that rows in more than one query file share, one
  * definition each so the copies cannot drift. Oracle fragments are used
  * only by oracles and Spark fragments only by Spark rows: no oracle text is
  * derived from Spark code, so every oracle stays an independent
  * implementation.
  */
private[queries] object Fragments {

  // ---- DuckDB oracle fragments ----

  /** CTEs `toks(doc_id, t)`, `sh0` and `sh(doc_id, sh)`: the distinct word
    * 4-gram shingles of each document, mirroring
    * Dedup.shingles(_, "doc_id", "text", 4).
    */
  val shingleCtes: String = """toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents
    ), sh0 AS (
      SELECT doc_id, unnest(list_transform(range(1, len(t) - 2),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS sh
      FROM toks WHERE len(t) >= 4
    ), sh AS (SELECT DISTINCT doc_id, sh FROM sh0)"""

  /** CTEs `edges`, `reach` and `comp(node, component_id)`: the connected
    * components of the undirected pair CTE `pairs(a_id, b_id)`, each labeled
    * by its min member, as a recursive closure (the enclosing WITH must be
    * RECURSIVE).
    */
  def closureCtes(pairs: String): String = s"""edges AS (SELECT a_id AS src, b_id AS dst FROM $pairs
                  UNION SELECT b_id, a_id FROM $pairs),
        reach(node, r) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src),
        comp AS (SELECT node, LEAST(node, MIN(r)) AS component_id
                 FROM reach GROUP BY node)"""

  /** CTEs `<p>dims`, `<p>grid`, `<p>luma` and `<p>bits(doc_id, dhash)`: the
    * 64-bit dHash of each [[phashMedia]] image, replayed from its pixel
    * formula over the 9x8 sampling grid. */
  def dhashCtes(p: String): String = s"""${p}dims AS (
          SELECT doc_id, (doc_id % 25) % 12 + 9 AS w,
                 ((doc_id % 25) * 3) % 10 + 8 AS h
          FROM documents),
        ${p}grid AS (
          SELECT doc_id, x.g AS x, y.g AS y,
                 (x.g * w) // 9 AS sx, (y.g * h) // 8 AS sy
          FROM ${p}dims, generate_series(0, 8) x(g), generate_series(0, 7) y(g)),
        ${p}luma AS (
          SELECT doc_id, x, y,
                 (299 * ((sx * ((doc_id % 25) % 9 + 2) * 13 + sy * 3) % 150)
                  + 587 * ((2 * sx + sy * ((doc_id % 25) % 5 + 3) * 11) % 150)
                  + 114 * ((3 * sx + sy) % 150)) // 1000 AS l
          FROM ${p}grid),
        ${p}bits AS (
          SELECT a.doc_id,
                 -- bit 63 as the signed minimum: DuckDB raises on 1 << 63,
                 -- Spark's 1L << 63 wraps to -2^63; summing the signed
                 -- value reproduces the two's-complement hash exactly
                 SUM(CASE WHEN b.l > a.l
                          THEN CASE WHEN a.y * 8 + a.x = 63
                                    THEN -9223372036854775807 - 1
                                    ELSE CAST(1 AS BIGINT) << (a.y * 8 + a.x)
                               END
                          ELSE 0 END) AS dhash
          FROM ${p}luma a JOIN ${p}luma b
            ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
          WHERE a.x < 8
          GROUP BY a.doc_id)"""

  /** CTEs `<p>n`, `<p>s`, `<p>e`, `<p>b` and `<p>fp(doc_id, fp)`: the 31-bit
    * energy-band fingerprint of each [[audioMedia]] clip, replayed from its
    * sample formula (the gain cancels). */
  def audioFpCtes(p: String): String = s"""${p}n AS (
          SELECT doc_id, doc_id % 20 AS c, (doc_id % 20) * 40 + 640 AS ns
          FROM documents),
        ${p}s AS (
          SELECT doc_id, ns, i.g AS i,
                 ((c * 31 + i.g * 40503) % 10000) - 5000 AS v
          FROM ${p}n, generate_series(0, 1399) i(g)
          WHERE i.g < (ns // 32) * 32),
        ${p}e AS (
          SELECT doc_id, i // (ns // 32) AS k, SUM(v * v) AS e
          FROM ${p}s GROUP BY doc_id, k),
        ${p}b AS (
          SELECT doc_id, k, e,
                 lead(e) OVER (PARTITION BY doc_id ORDER BY k) AS ne
          FROM ${p}e),
        ${p}fp AS (
          SELECT doc_id,
                 CAST(SUM(CASE WHEN ne > e
                               THEN CAST(1 AS BIGINT) << k ELSE 0 END)
                      AS BIGINT) AS fp
          FROM ${p}b WHERE k < 31 GROUP BY doc_id)"""

  // ---- Spark fragments ----

  /** One BMP per doc for the perceptual-hash rows: pattern and dims from
    * its content class doc_id % 25, brightness from doc_id / 25 % 3, so each
    * class has three byte-distinct variants that share one dHash. */
  def phashMedia(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val c = (id % 25).toInt
        val w = c % 12 + 9
        val h = (c * 3) % 10 + 8
        val bright = ((id / 25) % 3).toInt * 10
        val rgb = new Array[Byte](w * h * 3)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = (y * w + x) * 3
            rgb(p) = ((x * (c % 9 + 2) * 13 + y * 3) % 150 + bright).toByte
            rgb(p + 1) = ((2 * x + y * (c % 5 + 3) * 11) % 150 + bright).toByte
            rgb(p + 2) = ((3 * x + y) % 150 + bright).toByte
            x += 1
          }
          y += 1
        }
        MediaRow(id, graft.multimodal.MediaCodecs.encodeBmpRgb(w, h, rgb))
      }
  }

  /** One 16-bit WAV per doc for the audio-fingerprint rows: waveform class
    * doc_id % 20 sets length and samples, gain doc_id / 20 % 3 + 1 makes
    * three byte-distinct masters per class. */
  def audioMedia(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val c = (id % 20).toInt
        val n = c * 40 + 640
        val gain = ((id / 20) % 3).toInt + 1
        val samples = new Array[Short](n)
        var i = 0
        while (i < n) {
          samples(i) = ((((c * 31 + i.toLong * 40503) % 10000) - 5000)
            * gain).toShort
          i += 1
        }
        MediaRow(id, graft.multimodal.MediaCodecs.encodeWavPcm16(16000, samples))
      }
  }
}
