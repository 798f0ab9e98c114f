package graft

import graft.TestSpark.{persisted, persistedSince}
import graft.streaming.Streams
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Storage hygiene of the streaming gates' commit protocol: every local
  * checkpoint a gate batch takes is released before the batch returns — on
  * commit, on a replay of a committed batch, on a crash replay and when the
  * sink write throws. Leaked blocks would otherwise pile up once per
  * micro-batch until a driver GC lets the ContextCleaner find them.
  */
class StreamsReleaseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String) = java.nio.file.Files.createTempDirectory(prefix).toString

  private val texts = Seq(
    1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    2L -> "one two three four five six seven eight nine ten eleven twelve",
    3L -> "one two three four five six seven eight nine ten eleven twelve thirteen",
    4L -> "north south east west up down left right front back")

  /** One gate batch over a fresh warehouse, given (warehouse, outDir, batchId). */
  private type Gate = (graft.airbnb.Warehouse, String, Long) => Boolean

  /** Each gate's factory builds its inputs (the k-means fit included)
    * before the test takes its storage baseline. */
  private val gates: Seq[(String, () => Gate)] = Seq(
    "corpusIngestBatch" -> { () =>
      val docs = texts.toDF("doc_id", "text")
      (wh, out, b) => Streams.corpusIngestBatch(docs, wh, out, b, "doc_id", "text", 5, 4)
    },
    "nearDupGateBatch" -> { () =>
      val docs = texts.toDF("doc_id", "text")
      (wh, out, b) => Streams.nearDupGateBatch(docs, wh, "nd_idx", out, b, "doc_id", "text", 4)
    },
    "substringGateBatch" -> { () =>
      val docs = texts.toDF("doc_id", "text")
      (wh, out, b) => Streams.substringGateBatch(docs, wh, "anchor_idx", out, b,
        "doc_id", "text", k = 4, minSpanTokens = 6)
    },
    "knnGraphGateBatch" -> { () =>
      val vecs = Seq(1L -> Array(1.0f, 0.0f), 2L -> Array(0.0f, 1.0f),
        3L -> Array(0.95f, 0.05f), 4L -> Array(0.05f, 0.95f))
        .toDF("vec_id", "embedding")
      val cents = graft.operators.KMeans.train(vecs, "vec_id", "embedding", 2, 2)
      (wh, out, b) => Streams.knnGraphGateBatch(vecs, wh, cents, "kg_graph", "kg_vecs",
        out, b, "vec_id", "embedding", degree = 2)
    })

  gates.foreach { case (name, mkGate) =>
    test(s"$name releases its checkpoints on commit, replay and crash replay") {
      val gate = mkGate()
      val wh = graft.airbnb.Warehouse(spark, tmp("graft-rel-wh"))
      val out = tmp("graft-rel-out")
      val before = persisted
      assert(gate(wh, out, 0L))
      assert(persistedSince(before) == 0, s"$name leaked checkpoint blocks on commit")
      assert(!gate(wh, out, 0L))
      assert(persistedSince(before) == 0, s"$name leaked checkpoint blocks on replay")
      // crash replay: the output is gone but the index writes stay, so the
      // batch runs its whole body (and its checkpoints) again
      val dir = new Path(out, "batch-000000000")
      assert(dir.getFileSystem(spark.sessionState.newHadoopConf()).delete(dir, true))
      assert(gate(wh, out, 0L))
      assert(persistedSince(before) == 0, s"$name leaked checkpoint blocks on crash replay")
    }

    test(s"$name releases its checkpoints when the sink write throws") {
      val gate = mkGate()
      val wh = graft.airbnb.Warehouse(spark, tmp("graft-rel-wh"))
      // a regular file where the sink expects a directory: the sink's
      // parquet write under it fails after the gate's checkpoints are taken
      val out = java.io.File.createTempFile("graft-rel-out", ".file").toString
      val before = persisted
      intercept[Exception](gate(wh, out, 0L))
      assert(persistedSince(before) == 0, s"$name leaked checkpoint blocks when the write threw")
    }
  }
}
