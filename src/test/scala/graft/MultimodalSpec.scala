package graft

import graft.multimodal.Multimodal
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("binary media column round-trips through the batch decode seam") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents").limit(50)
    val media = Multimodal.asMedia(docs, "doc_id", "text")
    val decoded = Multimodal.decode(media).collect()
    assert(decoded.length == 50)
    decoded.foreach { d =>
      assert(d.n_bytes > 0)
      assert(d.meta.width == (d.n_bytes % 640).toInt)
      assert(d.features.length == 16)
      assert(math.abs(d.features.sum - 1.0f) < 1e-3) // L1-normalized histogram
    }
  }

  test("decode is deterministic (same bytes, same metadata and features)") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents").limit(10)
    val m = Multimodal.asMedia(docs, "doc_id", "text")
    val a = Multimodal.decode(m).collect().map(d => (d.doc_id, d.meta, d.features.toSeq)).toSet
    val b = Multimodal.decode(m).collect().map(d => (d.doc_id, d.meta, d.features.toSeq)).toSet
    assert(a == b)
  }

  test("dHash: exact brightness invariance, content sensitivity, hostile bytes dropped") {
    import spark.implicits._
    import graft.multimodal.{MediaCodecs, Multimodal}
    def bmp(id: Long, w: Int, h: Int, px: (Int, Int) => (Int, Int, Int)): Multimodal.MediaRow = {
      val rgb = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        val (r, g, b) = px(x, y); val p = (y * w + x) * 3
        rgb(p) = r.toByte; rgb(p + 1) = g.toByte; rgb(p + 2) = b.toByte
      }
      Multimodal.MediaRow(id, MediaCodecs.encodeBmpRgb(w, h, rgb))
    }
    val base = bmp(1L, 18, 12, (x, y) => ((x * 7) % 140, (y * 5) % 140, (x + y) % 140))
    val brighter = bmp(2L, 18, 12, (x, y) => ((x * 7) % 140 + 40, (y * 5) % 140 + 40, (x + y) % 140 + 40))
    val different = bmp(3L, 18, 12, (x, y) => ((y * 7) % 140, (x * 5) % 140, (x * y) % 140))
    val hostile = Multimodal.MediaRow(4L, Array[Byte](1, 2, 3))
    val out = Multimodal.dHash(spark.createDataset(Seq(base, brighter, different, hostile)))
      .collect().map(r => r.doc_id -> r.dhash).toMap
    assert(out.size == 3)                 // hostile bytes dropped, no throw
    assert(out(1L) == out(2L))            // +40 on every channel: exact invariance
    assert(out(1L) != out(3L))            // different content flips bits
  }

  test("audio fingerprint: exact gain invariance, content sensitivity, short clips dropped") {
    import spark.implicits._
    import graft.multimodal.{MediaCodecs, Multimodal}
    def wav(id: Long, n: Int, f: Int => Int): Multimodal.MediaRow =
      Multimodal.MediaRow(id,
        MediaCodecs.encodeWavPcm16(16000, Array.tabulate(n)(i => f(i).toShort)))
    val base = wav(1L, 800, i => (i * 37) % 8000 - 4000)
    val louder = wav(2L, 800, i => ((i * 37) % 8000 - 4000) * 2)
    val other = wav(3L, 800, i => (i * 91) % 8000 - 4000)
    val short0 = wav(4L, 8, _ => 100) // < one sample per window at 32 windows
    val out = Multimodal.audioFingerprint(
        spark.createDataset(Seq(base, louder, other, short0)))
      .collect().map(r => r.doc_id -> r.fp).toMap
    assert(out.size == 3)
    assert(out(1L) == out(2L)) // x2 gain: energies x4 uniformly, bits identical
    assert(out(1L) != out(3L)) // different waveform flips bits
  }

  test("MJPEG frame extraction decodes exactly the sampled frames, hand-computed stats") {
    import spark.implicits._
    import graft.multimodal.MediaCodecs
    // 7 frames of 8x8 constant gray v = 10*f + 5 -> DC-exact roundtrip;
    // k=3 samples frames 0, 2, 4 (j*7 DIV 3); sums = 64*v, max_luma = v
    val frames = (0 until 7).map { f =>
      MediaCodecs.encodeJpegGray(8, 8, Array.fill[Byte](64)((10 * f + 5).toByte), quant = 8)
    }
    val avi = MediaCodecs.encodeAviMjpeg(8, 8, 25, frames)
    val junk = Array.tabulate[Byte](100)(i => (i * 3).toByte)
    val media = Seq(
      Multimodal.MediaRow(1L, avi),
      Multimodal.MediaRow(2L, junk) // undecodable container drops
    ).toDS()
    val got = Multimodal.sampleFrameStats(media, 3).collect()
      .map(r => (r.sample_idx, r.frame_idx, r.n_frames, r.width, r.height,
        r.sum_r, r.max_luma)).sortBy(_._1)
    assert(got.length == 3)
    assert(got.map(_._2).toSeq == Seq(0L, 2L, 4L))
    got.foreach { case (_, fi, n, w, h, sr, ml) =>
      val v = 10 * fi + 5
      assert((n, w, h) == ((7L, 8L, 8L)))
      assert(sr == 64L * v && ml == v, s"frame $fi")
    }
  }
}
