package graft

import graft.functions.TextFns
import graft.operators.{CountMin, Curation, Dedup}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed cases for the corpus-hygiene family: C4 structural rules,
  * cross-document line dedup, duplicated-substring coverage, Count-Min
  * sketch, and winnowing fingerprints.
  */
class CorpusOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---------- C4 ruleset ----------

  test("c4 rules: line retention, sentence floor, lorem and brace rejection") {
    val df = Seq(
      // line1 ends '.', 5 words -> kept; line2 no punct -> dropped; line3
      // ends '.' but 3 words -> dropped. 3 periods -> floor met -> keep.
      (1L, "one two three four five.\nsix seven eight nine ten\nmore. and more."),
      // terminal '.' lines but 4 words each -> no kept line -> keep = false
      (2L, "one two three four.\nanother line too. x.."),
      // lorem ipsum -> rejected regardless of structure
      (3L, "lorem ipsum dolor sit amet.\nperfectly fine line here ok.\nx.."),
      // brace -> rejected
      (4L, "a code block follows now {\ngood line with five words.\ny.."),
      // only 2 sentences -> below floor
      (5L, "good line with five words.\nanother good line right here.")
    ).toDF("doc_id", "text")
    val out = Curation.c4QualitySignals(df, "doc_id", "text",
        minLineWords = 5L, minSentences = 3L)
      .orderBy("doc_id")
      .select("doc_id", "n_lines", "n_kept_lines", "n_sentences",
        "has_lorem", "has_brace", "keep")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getBoolean(5), r.getBoolean(6)))
    assert(out.toSeq == Seq(
      (1L, 3L, 1L, 3L, false, false, true),
      (2L, 2L, 0L, 4L, false, false, false),
      (3L, 3L, 2L, 4L, true, false, false),
      (4L, 3L, 1L, 3L, false, true, false),
      (5L, 2L, 2L, 2L, false, false, false)))
  }

  // ---------- cross-doc line dedup ----------

  test("line dedup keeps exactly the global first occurrence of each line") {
    val lines = Seq(
      (1L, 0L, "a b c"), (1L, 1L, "d e f"), (1L, 2L, "a b c"), // within-doc dup
      (2L, 0L, "a b c"), (2L, 1L, "g h i"),                    // cross-doc dup
      (3L, 0L, "d e f"), (3L, 1L, "j k l")
    ).toDF("doc_id", "pos", "line")
    val out = Dedup.dedupLines(lines, "doc_id", "pos", "line")
      .select("doc_id", "pos", "kept").orderBy("doc_id", "pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq == Seq(
      (1L, 0L, true), (1L, 1L, true), (1L, 2L, false),
      (2L, 0L, false), (2L, 1L, true),
      (3L, 0L, false), (3L, 1L, true)))
  }

  test("line dedup is deterministic under repartitioning") {
    val lines = (0L until 200L)
      .map(i => (i % 7, i, s"line ${i % 13}")).toDF("doc_id", "pos", "line")
    val a = Dedup.dedupLines(lines, "doc_id", "pos", "line")
      .filter(col("kept")).orderBy("doc_id", "pos").collect().toSeq
    val b = Dedup.dedupLines(lines.repartition(13), "doc_id", "pos", "line")
      .filter(col("kept")).orderBy("doc_id", "pos").collect().toSeq
    assert(a == b)
    // exactly one kept occurrence per distinct line
    assert(a.size == 13)
  }

  test("dedupLineStats matches the row-level dedupLines accounting") {
    val lines = (0L until 300L)
      .map(i => (i % 9, i, s"line ${i % 17}")).toDF("doc_id", "pos", "line")
    val viaRows = Dedup.dedupLines(lines, "doc_id", "pos", "line")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        count(when(col("kept"), lit(1))).as("n_kept"))
      .orderBy("doc_id").collect().toSeq
    val viaStats = Dedup.dedupLineStats(lines, "doc_id", "pos", "line")
      .orderBy("doc_id").collect().toSeq
    assert(viaRows == viaStats)
    // a doc whose every line first occurred elsewhere reports n_kept = 0
    val allDup = Seq((1L, 0L, "x"), (2L, 0L, "x")).toDF("doc_id", "pos", "line")
    val stats = Dedup.dedupLineStats(allDup, "doc_id", "pos", "line")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(stats.toSeq == Seq((1L, 1L, 1L), (2L, 1L, 0L)))
  }

  // ---------- duplicated-substring coverage ----------

  test("substring coverage counts positions whose k-gram crosses documents") {
    // doc 1: "a b c d"  -> 3-grams at pos 1,2: "a b c", "b c d"
    // doc 2: "a b c x"  -> "a b c", "b c x"
    // doc 3: "p q r s"  -> no overlap
    // "a b c" is in docs 1,2 -> 1 dup position each; others unique.
    val df = Seq(
      (1L, "a b c d"), (2L, "a b c x"), (3L, "p q r s")
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedShingleCoverage(df, "doc_id", "text", 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 2L, 1L), (2L, 2L, 1L), (3L, 2L, 0L)))
  }

  test("substring coverage counts within-doc repeats of a cross-doc gram per position") {
    // "x y x y x" has 3-grams: "x y x", "y x y", "x y x" — the repeated
    // cross-doc gram counts BOTH its positions.
    val df = Seq(
      (1L, "x y x y x"), (2L, "x y x z z")
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedShingleCoverage(df, "doc_id", "text", 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 3L, 2L), (2L, 3L, 1L)))
  }

  // ---------- Count-Min sketch ----------

  test("count-min never under-estimates and is exact at collision-free width") {
    val toks = (Seq.fill(5)("alpha") ++ Seq.fill(3)("beta") ++ Seq("gamma"))
      .toDF("token")
    // wide sketch: no collisions among 3 tokens -> estimates exact
    val wide = CountMin.estimateAll(toks, "token", depth = 4, width = 1024)
      .orderBy("token").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(wide.toSeq == Seq(("alpha", 5L, 5L), ("beta", 3L, 3L), ("gamma", 1L, 1L)))
    // narrow sketch: collisions possible, but NEVER an under-estimate
    val narrow = CountMin.estimateAll(toks, "token", depth = 2, width = 2)
      .collect()
    assert(narrow.forall(r => r.getLong(2) >= r.getLong(1)))
    // total over all cells of one row equals the stream length
    val cells = CountMin.sketch(toks, "token", depth = 2, width = 2)
    val perRow = cells.groupBy("r").agg(sum("cnt").as("n"))
      .orderBy("r").collect().map(r => r.getLong(1))
    assert(perRow.toSeq == Seq(9L, 9L))
  }

  test("estimateAll's derived cells match the one-pass sketch bit-for-bit") {
    // estimateAll aggregates the corpus once and DERIVES the cells from the
    // per-token exact counts; this pins that its estimates equal min over
    // the streaming sketch's real cells.
    def polyhash(s: String): Long =
      s.foldLeft(7L)((acc, c) => (acc * 31 + c.toInt) % 2147483647L)
    val toks = (0 until 400).map(i => s"w${i % 23}").toDF("token")
    val cellMap = CountMin.sketch(toks, "token", 3, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val ests = CountMin.estimateAll(toks, "token", 3, 8).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val viaSketch = ests.keys.map { tok =>
      val h = polyhash(tok)
      tok -> (0 until 3).map { r =>
        val (a, b) = TextFns.minhashPerms(r)
        cellMap((r.toLong, (h * a + b) % TextFns.minhashP % 8))
      }.min
    }.toMap
    assert(ests == viaSketch)
  }

  test("count-min sketches merge distributively: merge(sk(A), sk(B)) = sk(A u B)") {
    val a = (0 until 120).map(i => s"w${i % 11}").toDF("token")
    val b = (0 until 80).map(i => s"w${i % 7}").toDF("token")
    val merged = CountMin.merge(
        CountMin.sketch(a, "token", 3, 8), CountMin.sketch(b, "token", 3, 8))
      .orderBy("r", "bucket").collect().toSeq
    val whole = CountMin.sketch(a.unionByName(b), "token", 3, 8)
      .orderBy("r", "bucket").collect().toSeq
    assert(merged == whole)
  }

  test("count-min estimates are deterministic under repartitioning") {
    val toks = (0 until 500).map(i => s"tok${i % 37}").toDF("token")
    val a = CountMin.estimateAll(toks, "token", 4, 16)
      .orderBy("token").collect().toSeq
    val b = CountMin.estimateAll(toks.repartition(11), "token", 4, 16)
      .orderBy("token").collect().toSeq
    assert(a == b)
  }

  // ---------- winnowing ----------

  test("winnow selects window minima; short streams fall back to global min") {
    val df = Seq((1L, Seq(9L, 3L, 7L, 5L, 2L, 8L))).toDF("id", "hs")
    // w=3 windows: [9,3,7]->3 [3,7,5]->3 [7,5,2]->2 [5,2,8]->2  -> {3,2}
    val out = df.select(TextFns.winnowExpr("hs", 3).as("f"))
      .collect()(0).getSeq[Long](0)
    assert(out == Seq(3L, 2L))
    // stream shorter than one window -> its global min
    val short = Seq((1L, Seq(9L, 4L))).toDF("id", "hs")
      .select(TextFns.winnowExpr("hs", 3).as("f")).collect()(0).getSeq[Long](0)
    assert(short == Seq(4L))
    // empty stream -> no fingerprints
    val empty = Seq((1L, Seq.empty[Long])).toDF("id", "hs")
      .select(TextFns.winnowExpr("hs", 3).as("f")).collect()(0).getSeq[Long](0)
    assert(empty.isEmpty)
  }

  test("winnow matches a reference model on random hash streams (fixed seed)") {
    val rnd = new scala.util.Random(20260814L)
    def reference(hs: Seq[Long], w: Int): Seq[Long] =
      if (hs.isEmpty) Seq.empty
      else if (hs.size < w) Seq(hs.min)
      else hs.sliding(w).map(_.min).toSeq.distinct
    val cases = (0 until 40).map { _ =>
      val n = rnd.nextInt(12)
      (0 until n).map(_ => rnd.nextInt(50).toLong)
    } :+ Seq.fill(6)(7L) // all-equal stream: one fingerprint
    for (w <- Seq(1, 3, 4)) {
      val df = cases.zipWithIndex.map { case (hs, i) => (i.toLong, hs) }
        .toDF("id", "hs")
      val got = df.select(col("id"), TextFns.winnowExpr("hs", w).as("f"))
        .orderBy("id").collect()
        .map(r => r.getSeq[Long](1).toList).toList
      val want = cases.map(hs => reference(hs, w).toList).toList
      assert(got == want, s"w=$w")
    }
  }

  test("winnow guarantee: docs sharing a >= w+k-1 token run share a fingerprint") {
    val k = 3; val w = 4
    // the shared run is exactly w+k-1 = 6 tokens
    val df = Seq(
      (1L, "p q r s t u v w alpha beta gamma delta eps zeta"),
      (2L, "alpha beta gamma delta eps zeta m n o different tail here")
    ).toDF("doc_id", "text")
    val fps = df
      .select(col("doc_id"), TextFns.tokens(col("text")).as("t"))
      .withColumn("sh", TextFns.shingleExpr("t", k))
      .withColumn("hs", TextFns.polyHashEach("sh"))
      .select(col("doc_id"), TextFns.winnowExpr("hs", w).as("f"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSet)).toMap
    assert((fps(1L) & fps(2L)).nonEmpty)
  }
}
