package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video travel as opaque `binary`
  * columns with typed metadata structs; decode / feature-extract runs
  * batch-wise in executors via mapPartitions.
  *
  * Decode: PNG and BMP headers are parsed FOR REAL ([[MediaCodecs]] — pure
  * JVM byte-offset reads, no image libs needed); payloads in any other
  * format fall back to [[StubCodec]], which derives deterministic fake
  * metadata from the bytes (this container has no full image/audio codecs).
  * The Spark-side surface — schema, batch iteration shape, executor-local
  * codec initialization, partition sizing — is identical either way;
  * swapping the stub tail for a JNI/FFmpeg binding changes no plan.
  *
  * Scale: binary payloads stay columnar in parquet; `maxPartitionBytes`
  * bounds decode batch memory; features come back as array<float> feeding
  * straight into operators.Similarity.
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, media: Array[Byte])
  final case class MediaMeta(width: Int, height: Int, n_frames: Int, codec: String)
  final case class DecodedRow(doc_id: Long, n_bytes: Long, meta: MediaMeta,
                              features: Array[Float])
  /** PCM audio metadata: rate in Hz, depth in bits, n_samples per channel. */
  final case class AudioMeta(sample_rate: Int, channels: Int, bit_depth: Int,
                             n_samples: Long, codec: String)
  final case class DecodedAudioRow(doc_id: Long, n_bytes: Long, meta: AudioMeta,
                                   duration_ms: Long)
  /** MP4 movie-header metadata: duration is in `timescale` units/second. */
  final case class VideoMeta(timescale: Int, duration: Long, codec: String)
  final case class DecodedVideoRow(doc_id: Long, n_bytes: Long, meta: VideoMeta,
                                   duration_ms: Long)
  /** EXIF audit: orientation 1..8 (1 when absent), has_gps = a GPSInfo IFD
    * pointer exists — the image-location-PII flag.
    */
  final case class ExifMeta(width: Int, height: Int, orientation: Int,
                            has_gps: Boolean)
  final case class ExifRow(doc_id: Long, n_bytes: Long, meta: ExifMeta)

  /** The stand-in decoder: one instance per partition (mirrors how a real
    * codec handle would be opened once per task, not per row).
    */
  final class StubCodec {
    def decode(bytes: Array[Byte]): (MediaMeta, Array[Float]) = {
      val n = bytes.length
      val meta = MediaMeta(n % 640, n * 7 % 480, n / 100, if (n % 2 == 0) "raw" else "rle")
      // deterministic fake "embedding": 16-bin byte histogram, L1-normalized
      val hist = new Array[Float](16)
      var i = 0
      while (i < n) { hist((bytes(i) & 0xff) / 16) += 1f; i += 1 }
      val tot = math.max(n, 1).toFloat
      (meta, hist.map(_ / tot))
    }
  }

  /** Attach a binary media column derived from text (fixture stand-in for
    * real image bytes — the fixtures carry no binary column).
    */
  def asMedia(df: DataFrame, idCol: String, textCol: String): Dataset[MediaRow] = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast(LongType).as("doc_id"),
              encode(col(textCol), "UTF-8").as("media")).as[MediaRow]
  }

  /** Batch decode: one codec per partition, rows streamed through it.
    * PNG/BMP payloads get their REAL header metadata; anything else falls
    * back to the deterministic stub. Features are the byte histogram in
    * both paths (a real embedding model is the out-of-container seam).
    */
  def decode(media: Dataset[MediaRow]): Dataset[DecodedRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      val codec = new StubCodec
      rows.map { r =>
        val (stubMeta, feats) = codec.decode(r.media)
        val meta = MediaCodecs.parseMeta(r.media).getOrElse(stubMeta)
        DecodedRow(r.doc_id, r.media.length.toLong, meta, feats)
      }
    }
  }

  /** Batch audio decode (same executor shape as [[decode]]): RIFF/WAVE
    * headers are parsed FOR REAL ([[MediaCodecs.parseWav]]); non-WAV
    * payloads are dropped (an audio pipeline routes unrecognized bytes to a
    * quarantine, not a fake decode). duration_ms is floor-integer math so
    * the value is engine-exact for the oracle.
    */
  def decodeAudio(media: Dataset[MediaRow]): Dataset[DecodedAudioRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        MediaCodecs.parseWav(r.media).map { meta =>
          DecodedAudioRow(r.doc_id, r.media.length.toLong, meta,
            meta.n_samples * 1000L / meta.sample_rate)
        }
      }
    }
  }

  /** Batch EXIF privacy audit (same executor shape as [[decode]]): TIFF
    * containers yield dimensions, orientation, and the GPS-presence flag a
    * training-data pipeline gates location-PII on; non-TIFF payloads drop
    * out (audit what can carry EXIF, don't guess about the rest).
    */
  def exifAudit(media: Dataset[MediaRow]): Dataset[ExifRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        MediaCodecs.parseExif(r.media).map(m =>
          ExifRow(r.doc_id, r.media.length.toLong, m))
      }
    }
  }

  /** Batch video decode (same executor shape as [[decode]]): ISO BMFF
    * movie headers are parsed FOR REAL ([[MediaCodecs.parseMp4]] box walk);
    * non-MP4 payloads are dropped, as in [[decodeAudio]]. duration_ms is
    * floor-integer math so the value is engine-exact for the oracle.
    */
  def decodeVideo(media: Dataset[MediaRow]): Dataset[DecodedVideoRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        MediaCodecs.parseMp4(r.media).map { meta =>
          DecodedVideoRow(r.doc_id, r.media.length.toLong, meta,
            meta.duration * 1000L / meta.timescale)
        }
      }
    }
  }

  /** Uniform frame-sample PLAN from REAL parsed movie headers: `k` sample
    * timestamps per video at floor(i·duration_ms / k), i in [0, k) — the
    * distributed half of frame extraction (deciding WHICH frames to pull is
    * metadata arithmetic over the whole corpus; pulling the pixels is the
    * out-of-container codec seam). Integer math end-to-end so the plan is
    * engine-exact, and a narrow explode — the corpus never shuffles to be
    * scheduled.
    */
  def frameSamplePlan(media: Dataset[MediaRow], k: Int): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    decodeVideo(media).toDF()
      .select(col("doc_id"), col("duration_ms"),
        explode(sequence(lit(0L), lit((k - 1).toLong))).as("frame_idx"))
      .withColumn("sample_ms", expr(s"frame_idx * duration_ms DIV $k"))
  }

  final case class FrameStatsRow(doc_id: Long, sample_idx: Long,
                                 frame_idx: Long, n_frames: Long,
                                 width: Long, height: Long,
                                 sum_r: Long, sum_g: Long, sum_b: Long,
                                 max_luma: Long)

  /** REAL video frame extraction — the half [[frameSamplePlan]] could not
    * do while frames had no decodable bytes: walk each AVI/Motion-JPEG
    * container to its '00dc' frame chunks, sample `k` frames at the plan's
    * own stride (`frame_idx = j·n DIV k`), raster-decode ONLY the sampled
    * frames through the baseline JPEG pipeline, and fold each to the
    * [[imageStats]] channel statistics. Undecodable containers and frames
    * drop (quarantine seam).
    *
    * Scale: purely map-side (mapPartitions, one pass); only sampled frames
    * pay decode cost — a 10 000-frame video with k=3 Huffman-decodes 3
    * JPEGs — and only fixed-width stat rows shuffle, never pixels.
    */
  def sampleFrameStats(media: Dataset[MediaRow], k: Int): Dataset[FrameStatsRow] = {
    require(k > 0, s"k must be > 0, got $k")
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        MediaCodecs.parseAviMjpegFrames(r.media).toSeq.flatMap {
          case (_, _, _, frames) =>
            val n = frames.length
            (0 until k).flatMap { j =>
              val fi = j * n / k
              MediaCodecs.parseJpegPixels(frames(fi)).map { case (w, h, rgb) =>
                var sr = 0L; var sg = 0L; var sb = 0L; var maxLuma = 0L
                var i = 0
                while (i < rgb.length) {
                  val cr = rgb(i) & 0xff; val cg = rgb(i + 1) & 0xff
                  val cb = rgb(i + 2) & 0xff
                  sr += cr; sg += cg; sb += cb
                  val luma = (299L * cr + 587L * cg + 114L * cb) / 1000L
                  if (luma > maxLuma) maxLuma = luma
                  i += 3
                }
                FrameStatsRow(r.doc_id, j.toLong, fi.toLong, n.toLong,
                  w.toLong, h.toLong, sr, sg, sb, maxLuma)
              }
            }
        }
      }
    }
  }

  /** Sample `k` frame indexes at the plan stride from a parsed frame list
    * and fold each decoded raster to the [[imageStats]] channel statistics
    * — the shared back half of every container's frame-extraction path.
    */
  private def sampledJpegFrameStats(docId: Long, frames: Vector[Array[Byte]],
                                    k: Int): Seq[FrameStatsRow] = {
    val n = frames.length
    (0 until k).flatMap { j =>
      val fi = j * n / k
      MediaCodecs.parseJpegPixels(frames(fi)).map { case (w, h, rgb) =>
        var sr = 0L; var sg = 0L; var sb = 0L; var maxLuma = 0L
        var i = 0
        while (i < rgb.length) {
          val cr = rgb(i) & 0xff; val cg = rgb(i + 1) & 0xff
          val cb = rgb(i + 2) & 0xff
          sr += cr; sg += cg; sb += cb
          val luma = (299L * cr + 587L * cg + 114L * cb) / 1000L
          if (luma > maxLuma) maxLuma = luma
          i += 3
        }
        FrameStatsRow(docId, j.toLong, fi.toLong, n.toLong,
          w.toLong, h.toLong, sr, sg, sb, maxLuma)
      }
    }
  }

  /** [[sampleFrameStats]] for the web's dominant container: walk each
    * unfragmented MP4's sample tables (stsd 'jpeg', stts, stsc/stsz/stco —
    * [[MediaCodecs.parseMp4Samples]]) to the per-sample JPEG byte ranges,
    * sample `k` frames at the plan stride, and raster-decode only those.
    * Same quarantine seam and map-side scale posture as the AVI path; the
    * sample-table walk is the part that generalizes to real H.26x MP4s
    * (the schedule is codec-agnostic — only the per-frame decode isn't).
    */
  def sampleFrameStatsMp4(media: Dataset[MediaRow], k: Int): Dataset[FrameStatsRow] = {
    require(k > 0, s"k must be > 0, got $k")
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        MediaCodecs.parseMp4Samples(r.media).toSeq.flatMap(s =>
          sampledJpegFrameStats(r.doc_id, s.frames, k))
      }
    }
  }

  /** [[sampleFrameStatsMp4]] for FRAGMENTED MP4s (DASH/HLS segments):
    * samples are enumerated from the moof/traf/trun fragment walk
    * ([[MediaCodecs.parseMp4FragSamples]]) instead of the moov sample
    * tables — the other half of real-world MP4, where the schedule lives
    * in the fragments a streaming origin emits.
    */
  def sampleFrameStatsMp4Frag(media: Dataset[MediaRow], k: Int): Dataset[FrameStatsRow] = {
    require(k > 0, s"k must be > 0, got $k")
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        MediaCodecs.parseMp4FragSamples(r.media).toSeq.flatMap(s =>
          sampledJpegFrameStats(r.doc_id, s.frames, k))
      }
    }
  }

  final case class ResizedRow(doc_id: Long, in_w: Long, in_h: Long,
                              out_w: Long, out_h: Long, out_bytes: Long,
                              px_sum: Long)

  /** REAL pixel-level image transform: decode each 24-bit BMP payload to its
    * RGB raster ([[MediaCodecs.parseBmpPixels]] — bottom-up rows, BGR order,
    * 4-byte padding handled for real), nearest-neighbor resample to
    * `ow`×`oh` (floor mapping, integer math), and re-encode. Emits byte-level
    * accounting — output size and the RGB byte sum of the RESIZED raster —
    * so an arithmetic oracle can check the whole decode→resample→encode
    * chain end-to-end. Non-BMP / hostile payloads are dropped (quarantine
    * seam, as in [[decodeAudio]]).
    *
    * Scale: purely map-side (mapPartitions, one pass, no codec state); the
    * raster never leaves the task — only the fixed-width accounting row
    * shuffles. Partition memory is bounded by `maxPartitionBytes` exactly as
    * for decode.
    */
  def resizeBmp(media: Dataset[MediaRow], ow: Int, oh: Int): Dataset[ResizedRow] = {
    require(ow > 0 && oh > 0, s"output dims must be positive ($ow x $oh)")
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        MediaCodecs.parseBmpPixels(r.media).map { case (w, h, rgb) =>
          val rz = MediaCodecs.resizeNearestRgb(rgb, w, h, ow, oh)
          val enc = MediaCodecs.encodeBmpRgb(ow, oh, rz)
          var s = 0L; var i = 0
          while (i < rz.length) { s += rz(i) & 0xff; i += 1 }
          ResizedRow(r.doc_id, w.toLong, h.toLong, ow.toLong, oh.toLong,
            enc.length.toLong, s)
        }
      }
    }
  }

  final case class ImageStatsRow(doc_id: Long, width: Long, height: Long,
                                 sum_r: Long, sum_g: Long, sum_b: Long,
                                 max_luma: Long)

  /** REAL raster-level image feature extraction: decode each 24-bit BMP to
    * its RGB raster and compute integer channel statistics — per-channel
    * byte sums (the mean numerators) and the peak integer luma
    * ((299·R + 587·G + 114·B) DIV 1000, the ITU-R 601 weights in
    * parts-per-thousand) — the normalize/threshold decisions an image
    * pipeline makes before a model sees pixels. All integer math, so an
    * arithmetic oracle verifies the full byte-layout decode; non-BMP
    * payloads are dropped (quarantine seam). Purely map-side.
    */
  def imageStats(media: Dataset[MediaRow]): Dataset[ImageStatsRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        // raster decode: uncompressed BMP, deflate+defilter PNG, or
        // LZW+palette GIF
        MediaCodecs.parseBmpPixels(r.media)
          .orElse(MediaCodecs.parsePngPixels(r.media))
          .orElse(MediaCodecs.parseGifPixels(r.media))
          .orElse(MediaCodecs.parseJpegPixels(r.media)).map { case (w, h, rgb) =>
          var sr = 0L; var sg = 0L; var sb = 0L; var maxLuma = 0L
          var i = 0
          while (i < rgb.length) {
            val cr = rgb(i) & 0xff; val cg = rgb(i + 1) & 0xff; val cb = rgb(i + 2) & 0xff
            sr += cr; sg += cg; sb += cb
            val luma = (299L * cr + 587L * cg + 114L * cb) / 1000L
            if (luma > maxLuma) maxLuma = luma
            i += 3
          }
          ImageStatsRow(r.doc_id, w.toLong, h.toLong, sr, sg, sb, maxLuma)
        }
      }
    }
  }

  final case class PHashRow(doc_id: Long, width: Long, height: Long, dhash: Long)

  /** Perceptual difference-hash (dHash) over a decoded raster: the image
    * is nearest-neighbor-sampled onto a 9×8 integer-luma grid (sample at
    * (x·w DIV 9, y·h DIV 8)) and each of the 64 bits records whether luma
    * rises between horizontal grid neighbors. Uniform brightness shifts
    * drop out EXACTLY (the 299/587/114 luma weights sum to 1000, so +b on
    * every channel adds precisely b to the integer luma and leaves every
    * comparison unchanged) — the content key image-dedup pipelines bucket
    * on, robust to re-encoding and exposure tweaks where a byte hash is
    * not. All-integer arithmetic, so a SQL oracle replays the 64 bits.
    * Map-side decode+fold like [[imageStats]]; undecodable media dropped.
    */
  def dHash(media: Dataset[MediaRow]): Dataset[PHashRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        MediaCodecs.parseBmpPixels(r.media)
          .orElse(MediaCodecs.parsePngPixels(r.media))
          .orElse(MediaCodecs.parseGifPixels(r.media))
          .orElse(MediaCodecs.parseJpegPixels(r.media)).map { case (w, h, rgb) =>
          val g = Array.ofDim[Long](8, 9)
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 9) {
              val p = ((y * h / 8) * w + (x * w / 9)) * 3
              g(y)(x) = (299L * (rgb(p) & 0xff) + 587L * (rgb(p + 1) & 0xff) +
                114L * (rgb(p + 2) & 0xff)) / 1000L
              x += 1
            }
            y += 1
          }
          var hash = 0L
          y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              if (g(y)(x + 1) > g(y)(x)) hash |= 1L << (y * 8 + x)
              x += 1
            }
            y += 1
          }
          PHashRow(r.doc_id, w.toLong, h.toLong, hash)
        }
      }
    }
  }

  final case class AudioFpRow(doc_id: Long, n_samples: Long, fp: Long)

  /** Gain-invariant audio fingerprint (the dHash idea on the time axis):
    * decode the 16-bit PCM payload, split it into `windows` equal windows
    * (tail remainder ignored), take integer energy Σv² per window, and
    * record a rise bit per adjacent window pair — uniform gain scales
    * every energy by g² and leaves all comparisons unchanged EXACTLY, so
    * re-mastered volume variants of a clip share one fingerprint while a
    * byte hash separates them. Map-side decode+fold; clips shorter than
    * one sample per window are dropped.
    */
  def audioFingerprint(media: Dataset[MediaRow], windows: Int = 32): Dataset[AudioFpRow] = {
    require(windows >= 2 && windows <= 64, s"windows must be in [2, 64]: $windows")
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        MediaCodecs.parseWavPcm16(r.media)
          .filter(_._2.length >= windows).map { case (_, samples) =>
          val n = samples.length
          val wlen = n / windows
          val e = new Array[Long](windows)
          var k = 0
          while (k < windows) {
            var i = k * wlen; val end = i + wlen; var s = 0L
            while (i < end) { val v = samples(i).toLong; s += v * v; i += 1 }
            e(k) = s; k += 1
          }
          var fp = 0L; k = 0
          while (k < windows - 1) {
            if (e(k + 1) > e(k)) fp |= 1L << k
            k += 1
          }
          AudioFpRow(r.doc_id, n.toLong, fp)
        }
      }
    }
  }

  final case class AudioFeatureRow(doc_id: Long, n_samples: Long, peak: Long,
                                   sum_sq: Long, zero_crossings: Long)

  /** REAL sample-level audio feature extraction: decode each 16-bit mono
    * PCM WAV payload to its sample array ([[MediaCodecs.parseWavPcm16]] —
    * the actual chunk walk + little-endian int16 reads), then compute the
    * standard integer signal features: peak |amplitude|, energy (sum of
    * squared samples — the RMS numerator, exact in int64), and
    * zero-crossing count (sign changes with 0 counted positive — the
    * classic voiced/unvoiced + noisiness signal). All integer math, so an
    * arithmetic oracle can verify the whole decode→feature chain; non-WAV
    * payloads are dropped (quarantine seam, as in [[decodeAudio]]).
    *
    * Scale: purely map-side; the sample array never leaves the task — only
    * the fixed-width feature row shuffles.
    */
  def audioFeatures(media: Dataset[MediaRow]): Dataset[AudioFeatureRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        MediaCodecs.parseWavPcm16(r.media).map { case (_, samples) =>
          var peak = 0L; var sumSq = 0L; var zc = 0L
          var i = 0
          while (i < samples.length) {
            val v = samples(i).toLong
            val a = math.abs(v)
            if (a > peak) peak = a
            sumSq += v * v
            if (i > 0 && ((v >= 0) != (samples(i - 1) >= 0))) zc += 1
            i += 1
          }
          AudioFeatureRow(r.doc_id, samples.length.toLong, peak, sumSq, zc)
        }
      }
    }
  }
}
