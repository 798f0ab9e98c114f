package graft

import graft.TestSpark.{persisted, persistedSince}
import graft.operators.CorpusPipeline
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CorpusPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val goodText =
    "the analysis of large corpora requires careful attention to quality " +
    "signals and duplicate structure across many different documents that " +
    "were collected from the open web over several years by teams today"

  test("pipeline gates quality, scrubs, dedups exact+near, splits, accounts") {
    val docs = Seq(
      (1L, goodText),                                  // keeps
      (2L, goodText),                                  // exact dup of 1 → dropped
      (3L, goodText.replace("today", "tomorrow")),     // near dup of 1 → dropped
      (4L, "too short"),                               // quality: token floor
      (5L, ("spam spam spam " * 20).trim),             // quality: repetition
      (6L, "contact me at someone@example.org or 555-1234 about the corpus " +
           "quality analysis work we discussed during the previous meeting " +
           "early this week ok"))
      .toDF("doc_id", "text")
    // The near-dup losers are the MinHash-LSH operator's own on the docs
    // that survive the gate, scrub and exact dedup (1, 3 and the scrubbed
    // 6): the sketch's Jaccard estimate is deterministic but
    // permutation-dependent, so it is read off the operator, not computed
    // by hand.
    val expectedLosers = graft.operators.Dedup
      .minhashLshPairs(docs.filter($"doc_id".isin(1L, 3L, 6L))
          .withColumn("text", graft.functions.TextFns.piiScrub($"text")),
        "doc_id", "text", 4, 0.85)
      .select("b_id").collect().map(_.getLong(0)).toSet
    assert(expectedLosers == Set(3L),
      s"fixture's near dup is not an LSH loser — the near-dup check is vacuous: $expectedLosers")
    val r = CorpusPipeline.prepare(docs, "doc_id", "text")
    val kept = r.corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 6L), s"kept=$kept")
    assert(r.droppedQuality == 2)  // 4 and 5
    assert(r.droppedExactDup == 1) // 2
    assert(r.droppedNearDup == 1)  // 3
    val scrubbed = r.corpus.filter($"doc_id" === 6L)
      .select("text").collect().head.getString(0)
    assert(scrubbed.contains("[EMAIL]") && scrubbed.contains("[PHONE]"), scrubbed)
    val splits = r.corpus.select("split").distinct().collect().map(_.getString(0)).toSet
    assert(splits.subsetOf(Set("train", "test")))
  }

  test("minhash-lsh default leg drops exactly the operator's losers") {
    // A fixture where the gate, scrub, and exact dedup are all identity
    // (long all-distinct texts, no PII, no exact copies), so the
    // pipeline's near-dup drop set must equal Dedup.minhashLshPairs'
    // loser set on the same docs — the wiring check for the new default
    // leg (the operator itself is oracle-gated by q_dedup_minhash_lsh).
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base.replace("tok30", "changed")),  // 1-token middle edit
      (3L, base.replace("tok30", "altered") + " extra tail"),
      (4L, (101 to 160).map(i => s"w$i").mkString(" ")))  // unrelated
      .toDF("doc_id", "text")
    val expectedLosers = graft.operators.Dedup
      .minhashLshPairs(docs, "doc_id", "text", 4, 0.85)
      .select("b_id").collect().map(_.getLong(0)).toSet
    assert(expectedLosers.nonEmpty,
      "fixture produced no LSH losers — the wiring check is vacuous")
    val r = CorpusPipeline.prepare(docs, "doc_id", "text")
    val kept = r.corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L, 4L) -- expectedLosers, s"kept=$kept")
    assert(r.droppedNearDup == expectedLosers.size)
    assert(r.droppedQuality == 0 && r.droppedExactDup == 0)
    r.unpersist()
  }

  test("accounting rides observed metrics — no separate raw-input count job") {
    // Every materializing action in prepare() is accounted for; the raw
    // input, gate-survivor and exact-survivor counts must NOT add actions of
    // their own (they ride the near-dup survivor count as observed
    // metrics), so the pipeline runs one action. Jobs are NOT a stable unit
    // (AQE materializes shuffle stages as extra jobs) — QueryExecutions are.
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        actions.incrementAndGet(); ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    val docs = Seq((1L, goodText), (2L, goodText + " extra tail tokens here"))
      .toDF("doc_id", "text")
    spark.listenerManager.register(listener)
    try {
      val r = CorpusPipeline.prepare(docs, "doc_id", "text")
      assert(r.droppedQuality == 0 && r.droppedExactDup == 0)
      // listener events post asynchronously — wait for the count to settle
      var last = -1
      var settled = 0
      while (settled < 4) {                 // 4 × 100 ms of no new events
        Thread.sleep(100)
        if (actions.get() == last) settled += 1 else { last = actions.get(); settled = 0 }
      }
      assert(actions.get() <= 3,
        s"prepare() ran ${actions.get()} actions — accounting regrew a separate count")
    } finally spark.listenerManager.unregister(listener)
  }

  test("Result.unpersist releases the pipeline's cached stage") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
      .select($"doc_id", $"text").limit(100)
    val before = persisted
    val r = CorpusPipeline.prepare(docs, "doc_id", "text")
    assert(persistedSince(before) > 0,
      "prepare() no longer persists its survivor stage — test is vacuous")
    r.unpersist()
    assert(persistedSince(before) == 0,
      "unpersist() left the survivor stage cached (round-4 warm-slower-than-cold leak)")
  }

  test("pipeline is deterministic end-to-end (same input, same output)") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
      .select($"doc_id", $"text").limit(200)
    def run() = CorpusPipeline.withPrepared(docs, "doc_id", "text")(
      _.corpus.select("doc_id", "split").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet)
    assert(run() == run())
  }

  test("withPrepared loan releases the cache even when the body throws") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
      .select($"doc_id", $"text").limit(100)
    val before = persisted
    val n = CorpusPipeline.withPrepared(docs, "doc_id", "text")(_.corpus.count())
    assert(n > 0)
    assert(persistedSince(before) == 0,
      "withPrepared leaked the survivor stage on the normal path")
    intercept[RuntimeException] {
      CorpusPipeline.withPrepared(docs, "doc_id", "text") { _ =>
        throw new RuntimeException("boom")
      }
    }
    assert(persistedSince(before) == 0,
      "withPrepared leaked the survivor stage on the exception path")
  }
}
