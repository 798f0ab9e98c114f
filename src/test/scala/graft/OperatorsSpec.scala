package graft

import graft.operators.{AsOfJoin, Dedup, Profile, Similarity, Tuning, Upsert}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OperatorsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("JL sign projection roughly preserves pairwise squared distances") {
    // E[||ya-yb||^2] = m * ||a-b||^2 for a ±1 sign matrix (Achlioptas 2003);
    // deterministic fixture, so the mean ratio over all 45 pairs is a fixed
    // number — bounds are generous (the variance at m=8 is real).
    val vecs = (0 until 10).map { i =>
      (i.toLong, Array.tabulate(16)(d => ((i * 31 + d * 7) % 11 - 5) / 5.0f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val m = 8
    val proj = df.select(col("vec_id") +: (0 until m).map(j =>
        graft.functions.VectorFns.signProjection("embedding", j)
          .cast(org.apache.spark.sql.types.DoubleType).as(s"y$j")): _*)
      .collect().map(r => r.getLong(0) -> (0 until m).map(j => r.getDouble(j + 1)))
      .toMap
    val ratios = for {
      a <- 0 until 10; b <- (a + 1) until 10
      dx = vecs(a)._2.zip(vecs(b)._2).map { case (x, y) => (x - y).toDouble * (x - y) }.sum
      if dx > 0
      dy = proj(a.toLong).zip(proj(b.toLong)).map { case (x, y) => (x - y) * (x - y) }.sum
    } yield dy / (m * dx)
    val mean = ratios.sum / ratios.size
    assert(mean > 0.4 && mean < 1.6, s"mean distance ratio $mean outside [0.4, 1.6]")
  }

  test("HLL distinct sketch: within 3% of exact, deterministic under repartitioning") {
    // 20k rows over ~7.5k distinct values — enough cardinality for the
    // sketch to be genuinely estimating, not exact-small-set counting
    val df = spark.range(20000)
      .selectExpr("CAST(id % 2 AS INT) AS g", "concat('v', id % 7513) AS v")
    def est(d: org.apache.spark.sql.DataFrame): Map[Int, (Long, Long)] =
      d.groupBy("g").agg(
          countDistinct(col("v")).as("ex"),
          approx_count_distinct(col("v"), 0.01).as("ap"))
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val a = est(df)
    a.values.foreach { case (ex, ap) =>
      assert(math.abs(ap - ex) * 100 <= ex * 3, s"estimate $ap vs exact $ex drifts >3%")
    }
    // HLL merge is a per-register max — order- and partitioning-independent
    val b = est(df.repartition(17, col("v")))
    assert(a == b, "sketch estimate changed under repartitioning")
  }

  test("pagerank: hand-computed two-iteration ranks on a 3-node cycle+chord") {
    // nodes {1,2,3}; edges 1->2, 1->3, 2->3, 3->1; outdeg 1:2, 2:1, 3:1;
    // n=3, r0=333333, base=150000 DIV 3=50000, damping 850/1000.
    // it1: r1=50000+850*333333 DIV 1000=333333
    //      r2=50000+850*(333333 DIV 2) DIV 1000=191666
    //      r3=50000+850*(166666+333333) DIV 1000=474999
    // it2: r1=50000+850*474999 DIV 1000=453749
    //      r2=191666 (unchanged input), r3=50000+850*(166666+191666) DIV 1000=354582
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (1L, 1L), (1L, 2L))
      .toDF("src", "dst") // self-loop + duplicate edge must be dropped
    val got = graft.operators.LinkGraph.pageRank(edges, "src", "dst", iters = 2)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 453749L), (2L, 191666L), (3L, 354582L)))
    // the periodic-truncation path computes identical ranks (5 rounds,
    // checkpoints firing at rounds 2 and 4 vs never)
    val lazy5 = graft.operators.LinkGraph
      .pageRank(edges, "src", "dst", iters = 5, truncateEvery = 1000)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val ckpt5 = graft.operators.LinkGraph
      .pageRank(edges, "src", "dst", iters = 5, truncateEvery = 2)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(lazy5 == ckpt5)
  }

  test("pagerankAuto: driver fast path is bit-identical to the distributed loop both sides of the gate") {
    // denser random-ish graph than the hand-checked fixture: 40 nodes,
    // deterministic synthetic edges with out-degrees 1..5 and dangling nodes
    val edges = spark.range(4000).selectExpr(
      "id % 40 AS src",
      "((id DIV 40) % (1 + (id % 40) % 5) + 7 * (id % 40)) % 40 AS dst")
    def ranks(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val dist = ranks(graft.operators.LinkGraph.pageRank(edges, "src", "dst", iters = 3))
    val fast = ranks(graft.operators.LinkGraph.pageRankAuto(edges, "src", "dst", iters = 3))
    assert(fast == dist, "driver fast path diverged from the distributed loop")
    // a gate smaller than the distinct edge count must route to the
    // distributed loop (still identical output)
    val gated = ranks(graft.operators.LinkGraph
      .pageRankAuto(edges, "src", "dst", iters = 3, maxDriverEdges = 5))
    assert(gated == dist, "over-gate fallback diverged")
    // the fast path returns a LOCAL relation: no exchanges, broadcastable
    val plan = graft.operators.LinkGraph.pageRankAuto(edges, "src", "dst", iters = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"fast path should be shuffle-free:\n$plan")
  }

  test("gated driver graph ops: empty and self-loop-only graphs yield empty, typed results") {
    import org.apache.spark.sql.types._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val loops = Seq((1L, 1L), (2L, 2L)).toDF("src", "dst") // all dropped
    val seeds = Seq(1L).toDF("node")
    for (edges <- Seq(empty, loops)) {
      val pr = graft.operators.LinkGraph.pageRankAuto(edges, "src", "dst", iters = 2)
      assert(pr.schema == StructType(Seq(
        StructField("node", LongType, false), StructField("rank_ppm", LongType, false))))
      assert(pr.count() == 0L)
      val bfs = graft.operators.LinkGraph
        .bfsHopsAuto(edges, "src", "dst", seeds, "node", maxHops = 2)
      assert(bfs.columns.toSeq == Seq("node", "hops"))
      // seeds themselves are still reported at hop 0 (distributed-loop parity)
      assert(bfs.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 0L)))
    }
    // empty SEEDS: no frontier, empty result
    val noSeeds = graft.operators.LinkGraph.bfsHopsAuto(
      Seq((1L, 2L)).toDF("src", "dst"), "src", "dst",
      Seq.empty[Long].toDF("node"), "node", maxHops = 2)
    assert(noSeeds.count() == 0L)
  }

  test("bfsHopsAuto: driver fast path matches the distributed loop both sides of the gate") {
    val edges = spark.range(4000).selectExpr(
      "id % 40 AS src",
      "((id DIV 40) % (1 + (id % 40) % 5) + 7 * (id % 40)) % 40 AS dst")
    val seeds = spark.range(6).selectExpr("id * 7 % 40 AS node")
    def hops(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val dist = hops(graft.operators.LinkGraph
      .bfsHops(edges, "src", "dst", seeds, "node", maxHops = 3))
    val fast = hops(graft.operators.LinkGraph
      .bfsHopsAuto(edges, "src", "dst", seeds, "node", maxHops = 3))
    assert(fast == dist, "driver BFS diverged from the distributed loop")
    val gated = hops(graft.operators.LinkGraph
      .bfsHopsAuto(edges, "src", "dst", seeds, "node", maxHops = 3, maxDriverEdges = 5))
    assert(gated == dist, "over-gate fallback diverged")
    val plan = graft.operators.LinkGraph
      .bfsHopsAuto(edges, "src", "dst", seeds, "node", maxHops = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"fast path should be shuffle-free:\n$plan")
  }

  test("bfsHopsAuto: null / uncastable seeds dropped identically on both sides of the gate") {
    // a NULL seed must vanish (not NPE the driver fast path, not emit a
    // (null, 0) row in the distributed loop); malformed strings still throw
    // loudly under ANSI cast — only genuine NULLs are dropped
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val seeds = Seq(Some(1L), None).toDF("node")
    def hops(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val fast = hops(graft.operators.LinkGraph
      .bfsHopsAuto(edges, "src", "dst", seeds, "node", maxHops = 2))
    val dist = hops(graft.operators.LinkGraph
      .bfsHopsAuto(edges, "src", "dst", seeds, "node", maxHops = 2, maxDriverEdges = 1))
    assert(fast == Seq((1L, 0L), (2L, 1L), (3L, 2L)))
    assert(dist == fast, "null-seed handling diverged across the gate")
  }

  test("pageRankAuto/bfsHopsAuto fallback checkpoints are freed when the scope closes") {
    // Past the gate, the fallback result references internal localCheckpoint
    // blocks; they belong to the caller's Materialize scope and are freed
    // when it closes (long-running-scheduler hygiene).
    val edges = spark.range(200).selectExpr("id % 20 AS src", "(id * 7) % 20 AS dst")
    val seeds = spark.range(3).selectExpr("id AS node")
    def rdds(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
      df.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd }
    val held = graft.Materialize.scope {
      val pr = graft.operators.LinkGraph
        .pageRankAuto(edges, "src", "dst", iters = 2, maxDriverEdges = 5)
      val bfs = graft.operators.LinkGraph
        .bfsHopsAuto(edges, "src", "dst", seeds, "node", maxHops = 2, maxDriverEdges = 5)
      pr.count(); bfs.count()
      val cur = rdds(pr) ++ rdds(bfs)
      assert(cur.nonEmpty && cur.forall(_.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE),
        "fallback should carry live checkpoint blocks inside the scope")
      cur
    }
    assert(held.forall(_.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE),
      "fallback checkpoint blocks outlived the scope")
  }
  test("BFS hops: min distance from a multi-source seed set, hop-capped, unreachable absent") {
    // chain 1->2->3->4->5, plus 9->3 (shorter path to 3 from second seed 9),
    // and isolated 7->8 unreachable from seeds {1, 9}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (9L, 3L), (7L, 8L))
      .toDF("src", "dst")
    val seeds = Seq(1L, 9L).toDF("node")
    val got = graft.operators.LinkGraph
      .bfsHops(edges, "src", "dst", seeds, "node", maxHops = 3)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    // 3 is 1 hop from seed 9 (not 2 from seed 1); 5 is 3 hops via 9->3->4->5;
    // 7/8 unreachable; hop cap already satisfied by the 9-path
    assert(got.toSeq == Seq(
      (1L, 0L), (2L, 1L), (3L, 1L), (4L, 2L), (5L, 3L), (9L, 0L)))
    // cap cuts the frontier: maxHops=1 stops after the first ring
    val capped = graft.operators.LinkGraph
      .bfsHops(edges, "src", "dst", seeds, "node", maxHops = 1)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.toSeq == Seq((1L, 0L), (2L, 1L), (3L, 1L), (9L, 0L)))
  }

  test("J7 upsert: latest-wins with insert/update/keep action tags") {
    val current = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "bal")
    val staging = Seq((2L, "b", 99.0), (4L, "d", 40.0)).toDF("id", "name", "bal")
    val m = Upsert.merge(staging, current, Seq("id"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getString(3)))
    assert(m.toSeq == Seq(
      (1L, 10.0, "keep"), (2L, 99.0, "update"), (3L, 30.0, "keep"), (4L, 40.0, "insert")))
  }

  test("J7 upsert: duplicate staging key absent from current is an insert, once") {
    val current = Seq((1L, "a", 10.0)).toDF("id", "name", "bal")
    val staging = Seq((4L, "d", 40.0), (4L, "d", 41.0), (1L, "a", 11.0))
      .toDF("id", "name", "bal")
    val m = Upsert.merge(staging, current, Seq("id"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getString(3)))
    // key 4 staged twice, not in current → ONE row, action insert, and the
    // survivor is the deterministic tie-break winner (smallest bal)
    assert(m.toSeq == Seq((1L, 11.0, "update"), (4L, 40.0, "insert")))
  }

  test("dedup exact: NULL vs empty and column boundaries never collide") {
    val df = Seq((1L, Option.empty[String], Option("c")),
                 (2L, Option(""), Option("c")),
                 (3L, Option("ab"), Option("c")),
                 (4L, Option("a"), Option("bc")),
                 (5L, Option.empty[String], Option("c")))
      .toDF("id", "x", "y")
    val got = Dedup.exact(df, "id", Seq("x", "y")).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // NULLs group together (ids 1,5); '' is its own group; ab|c ≠ a|bc
    assert(got.toSeq == Seq((1L, 2L), (2L, 1L), (3L, 1L), (4L, 1L)))
  }

  test("as-of join carries the matched right row atomically (NULL value cols)") {
    val left = Seq((1L, 10L), (2L, 10L)).toDF("k", "lt")
    val right = Seq((1L, 5L, Option("a"), "x"), (1L, 8L, Option.empty[String], "y"))
      .toDF("k", "rt", "v1", "v2")
    val out = AsOfJoin.asof(left, right, "k", "lt", "rt", Seq("v1", "v2"))
    val rows = out.collect()
    // k=2 has no match → dropped by inner; k=1 matches the rt=8 row WHOLE:
    // v1 must be NULL (not backfilled from the older rt=5 row), v2 = "y",
    // and the row survives inner-ness despite the NULL value column
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("k") == 1L)
    assert(r.getAs[String]("asof_v1") == null)
    assert(r.getAs[String]("asof_v2") == "y")
    val outer = AsOfJoin.asof(left, right, "k", "lt", "rt", Seq("v1", "v2"), inner = false)
    assert(outer.count() == 2)
    val unmatched = outer.filter($"k" === 2).collect().head
    assert(unmatched.getAs[String]("asof_v2") == null)
  }

  test("as-of join: forward direction and tolerance boundaries are exact") {
    val left = Seq((1L, 10L, 100L), (1L, 2L, 200L), (2L, 10L, 300L)).toDF("k", "lt", "lid")
    val right = Seq((1L, 5L, "r5"), (1L, 10L, "r10"), (1L, 20L, "r20"))
      .toDF("k", "rt", "v")
    def res(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"lid").collect().map(r => (r.getLong(2), r.getString(3))).toSeq
    // backward: lt=10 matches rt=10 (inclusive), lt=2 has no prior → dropped
    assert(res(AsOfJoin.asof(left, right, "k", "lt", "rt", Seq("v")))
      == Seq((100L, "r10")))
    // forward: lt=10 matches rt=10 (inclusive, NOT r20); lt=2 matches r5
    assert(res(AsOfJoin.asof(left, right, "k", "lt", "rt", Seq("v"), forward = true))
      == Seq((100L, "r10"), (200L, "r5")))
    // tolerance: lt=2's nearest forward match r5 is 3 away — tol=3 keeps it,
    // tol=2 drops it (boundary is inclusive <=)
    assert(res(AsOfJoin.asof(left, right, "k", "lt", "rt", Seq("v"),
        forward = true, tolerance = Some(lit(3L))))
      == Seq((100L, "r10"), (200L, "r5")))
    assert(res(AsOfJoin.asof(left, right, "k", "lt", "rt", Seq("v"),
        forward = true, tolerance = Some(lit(2L))))
      == Seq((100L, "r10")))
  }

  test("numericProfile matches pandas describe() semantics in one pass") {
    val df = Seq(1.0, 2.0, 3.0, 4.0).toDF("v")
    val p = Profile.numericProfile(df, Seq("v")).collect().head
    assert(p.getAs[String]("column") == "v")
    assert(p.getAs[Double]("n_nonnull") == 4.0)
    assert(math.abs(p.getAs[Double]("mean") - 2.5) < 1e-12)
    // sample std (ddof=1) of 1..4 = sqrt(5/3)
    assert(math.abs(p.getAs[Double]("std") - math.sqrt(5.0 / 3.0)) < 1e-12)
    assert(p.getAs[Double]("min_value") == 1.0)
    assert(p.getAs[Double]("median") >= 2.0 && p.getAs[Double]("median") <= 3.0)
    assert(p.getAs[Double]("max_value") == 4.0)
  }

  test("profile functions survive hostile column names (spaces, dots, quotes)") {
    val df = Seq((1.0, "a"), (2.0, "b"), (3.0, null))
      .toDF("unit price.usd", "o'hare `select`")
    val p = Profile.profile(df).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(p("unit price.usd") == 0L)
    assert(p("o'hare `select`") == 1L)
    val np = Profile.numericProfile(df, Seq("unit price.usd")).collect().head
    assert(np.getAs[String]("column") == "unit price.usd")
    assert(math.abs(np.getAs[Double]("mean") - 2.0) < 1e-12)
  }

  test("tuning knobs: session-config override and corpus-scaled defaults") {
    assert(Tuning.maxShingleDocFreq(50_000_000L) == math.sqrt(1e8).toLong)
  }

  test("minhash LSH with 4 bands still finds the planted pair (param band count)") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val near = base.replace("mu", "nu")
    val other = "one two three four five six seven eight nine ten eleven twelve"
    val df = Seq((1L, base), (2L, near), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(df, "doc_id", "text", 4, 0.3, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("dedup exact keeps min-id survivor per identical content") {
    val df = Seq((10L, "x y z"), (3L, "x y z"), (7L, "unique text here"))
      .toDF("id", "text")
    val got = Dedup.exact(df, "id", Seq("text")).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((3L, 2L), (7L, 1L)))
  }

  test("ngram Jaccard finds planted near-duplicates and not unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = base.replace("today", "tomorrow")
    val other = "completely different content about spark query engines at scale now"
    val df = Seq((1L, base), (2L, near), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(df, "doc_id", "text", 4, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("minhash LSH surfaces the same planted near-duplicate pair") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val near = base.replace("mu", "nu")
    val other = "one two three four five six seven eight nine ten eleven twelve"
    val df = Seq((1L, base), (2L, near), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(df, "doc_id", "text", 4, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash: identical docs collide, different docs don't") {
    val df = Seq((1L, "red green blue yellow purple orange"),
                 (2L, "red green blue yellow purple orange"),
                 (3L, "cats dogs birds fish hamsters snakes lizards")).toDF("doc_id", "text")
    val sh = Dedup.simhash(df, "doc_id", "text", 16).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    assert(sh(1L) != sh(3L))
  }

  test("simhash hamming pairs: banding finds every pair brute force finds") {
    // 60 docs around 3 content clusters plus noise docs: band-blocked
    // candidate generation + popcount verify must equal the brute-force
    // popcount filter exactly (pigeonhole: d=3 < 4 bands).
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi")
    val docs = (1L to 60L).map { i =>
      val c = (i % 3).toInt
      val body = (0 until 10).map(j => words((c * 3 + j * (c + 1)) % words.length))
      val tail = if (i % 5 == 0) Seq(s"tail${i}") else Seq(words((i % 7).toInt))
      (i, (body ++ tail).mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    // narrow (28-bit, 7-bit bands) and wide (60-bit, 15-bit bands — the
    // registry's parameterization) must BOTH equal brute force exactly
    Seq(28, 60).foreach { bits =>
      val banded = Dedup.simhashNearDupPairs(df, "doc_id", "text", bits, 3, 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val sims = Dedup.simhash(df, "doc_id", "text", bits).collect()
        .map(r => r.getLong(0) -> r.getLong(1))
      val brute = (for {
        (a, ha) <- sims; (b, hb) <- sims if a < b
        d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
      } yield (a, b, d.toLong)).toSet
      assert(banded == brute, s"bits=$bits: banded ${banded.size} vs brute ${brute.size}")
      assert(brute.nonEmpty, s"bits=$bits: fixture produced no near pairs — test is vacuous")
    }
    // the widened signature carries signal above bit 30 (a constant high
    // half would re-create the all-in-one-bucket hot band this fixes)
    val wide = Dedup.simhash(df, "doc_id", "text", 60).collect().map(_.getLong(1))
    assert(wide.map(_ >>> 31).distinct.length > 1, "high 29 bits are constant")
  }

  test("brute-force cosine top-k ranks an identical vector first") {
    val e = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val q = e.filter($"vec_id" === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("qe"))
    val planted = e.filter($"vec_id" === 0)
      .select(lit(10000L).as("c_id"), $"embedding".as("ce"))
    val c = e.select($"vec_id".as("c_id"), $"embedding".as("ce")).unionByName(planted)
    val top = Similarity.cosineTopK(q, c, 3).orderBy("rank").collect()
    assert(top.head.getLong(1) == 10000L) // the planted copy of vec 0
    assert(math.abs(top.head.getDouble(2) - 1.0) < 1e-9)
  }

  test("document-frequency cutoff bounds shingle fan-out but keeps true near-dups") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = base.replace("today", "tomorrow")
    // a ubiquitous boilerplate shingle shared by everything
    val boiler = "standard footer text common to all documents here"
    val df = (Seq((1L, s"$base $boiler"), (2L, s"$near $boiler")) ++
      (3L to 30L).map(i => (i, s"doc number $i unique content piece $boiler")))
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(df, "doc_id", "text", 4, 0.3, maxDocFreq = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)),
      s"expected only the planted pair, got ${pairs.toSeq}")
  }

  test("repeatedSpans finds one MAXIMAL planted span with exact offsets") {
    val span = "s1 s2 s3 s4 s5 s6 s7 s8"
    val df = Seq(
      (1L, s"a1 a2 a3 a4 $span a5 a6"), // span at 1-based pos 5
      (2L, s"$span b1 b2 b3 b4"),       // span at pos 1
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),
      // within-doc repetition only — must NOT pair with itself
      (5L, "e1 e2 s9 s10 s11 s12 s13 s14 e3 s9 s10 s11 s12 s13 s14"))
      .toDF("doc_id", "text")
    val got = Dedup.repeatedSpans(df, "doc_id", "text", 4, 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // 5 consecutive shared 4-grams on one diagonal merge into ONE 8-token
    // span — not five 4-gram rows, not sub-spans
    assert(got.toSeq == Seq((1L, 2L, 5L, 1L, 8L)), s"got ${got.toSeq}")
    // below the minimum span length → silent
    val none = Dedup.repeatedSpans(df, "doc_id", "text", 4, 10).count()
    assert(none == 0L)
  }

  test("repeatedSpans occurrence cap drops over-shared anchors like the DF cutoff") {
    val span = "s1 s2 s3 s4 s5 s6 s7 s8"
    val df = Seq((1L, s"a1 a2 $span"), (2L, s"$span b1 b2"), (4L, span))
      .toDF("doc_id", "text")
    // every span 4-gram occurs 3 times; cap at 2 removes all anchors
    assert(Dedup.repeatedSpans(df, "doc_id", "text", 4, 6, maxOccurrences = 2L)
      .count() == 0L)
    // cap at 3 keeps them: pairs (1,2), (1,4), (2,4)
    val got = Dedup.repeatedSpans(df, "doc_id", "text", 4, 6, maxOccurrences = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  test("repeatedSpansWithinDoc finds internal repeats, never cross-doc pairs") {
    val df = Seq(
      // "h1 h2 h3" repeats at 1-based positions 1 and 7 → one maximal
      // 3-token pair; the shorter "x y" repeat (4-5, 10-11) also emits
      (1L, "h1 h2 h3 x y a1 h1 h2 h3 x y"),
      // doc 2 contains doc 1's phrase — must NOT pair across docs
      (2L, "h1 h2 h3 unique tail content here"),
      (3L, "n1 n2 n3 n4 n5 n6 n7")).toDF("doc_id", "text")
    val got = Dedup.repeatedSpansWithinDoc(df, "doc_id", "text", 2, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // spans: "h1 h2 h3 x y" actually repeats as a WHOLE 5-token block
    // (positions 1-5 vs 7-11) — maximality must merge it into ONE pair
    assert(got.toSeq == Seq((1L, 1L, 7L, 5L)), s"got ${got.toSeq}")
  }

  test("compactAnchorIndex re-applies the occurrence cap corpus-wide") {
    val b0 = Seq((1L, "w1 w2 w3 w4 w5")).toDF("doc_id", "text")
    val b1 = Seq((2L, "w1 w2 w3 w4 w5")).toDF("doc_id", "text")
    val merged = Dedup.anchorIndex(b0, "doc_id", "text", 4, maxOccurrences = 1L)
      .unionByName(Dedup.anchorIndex(b1, "doc_id", "text", 4, maxOccurrences = 1L))
    // each batch respected cap=1 but the merged index holds every hash
    // twice — the cross-batch drift the compaction pass exists to fix
    assert(merged.groupBy("sh").count().filter(col("count") > 1).count() > 0L)
    val compacted = Dedup.compactAnchorIndex(merged, 1L)
    assert(compacted.count() == 0L) // every hash now over the global cap
    // a cap the merged index satisfies passes everything through
    assert(Dedup.compactAnchorIndex(merged, 2L).count() == merged.count())
  }

  test("repeatedSpansSparse equals the dense operator (winnowing guarantee)") {
    // property on REAL data: the sparse-candidate path must reproduce the
    // dense span set exactly whenever minSpanTokens >= w + k - 1
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val dense = rows(Dedup.repeatedSpans(docs, "doc_id", "text", 4, 6))
    val sparse = rows(Dedup.repeatedSpansSparse(docs, "doc_id", "text", 4, 6, 3))
    assert(sparse == dense, s"sparse missed ${(dense -- sparse).take(3)} / " +
      s"extra ${(sparse -- dense).take(3)}")
    assert(dense.nonEmpty, "fixture must exercise the equivalence")
    // the guarantee's precondition is enforced
    intercept[IllegalArgumentException] {
      Dedup.repeatedSpansSparse(docs, "doc_id", "text", 4, 5, 3)
    }
  }

  test("winnowAnchors: every w-window holds a selection, ~1/w density") {
    val text = (0 until 200).map(i => s"t${(i * 37) % 150}").mkString(" ")
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val (k, w) = (4, 3)
    val anchors = Dedup.sparseAnchors(df, "doc_id", "text", k, w)
      .collect().map(_.getLong(1)).sorted // 1-based positions
    val m = 200 - k + 1
    // coverage: every window [j, j+w) of k-gram positions has an anchor
    (1 to m - w + 1).foreach { j =>
      assert(anchors.exists(p => p >= j && p < j + w),
        s"window at $j has no anchor")
    }
    // sparsity: far fewer anchors than positions (expected ~2/(w+1) density)
    assert(anchors.length < m, "selection must be sparse")
    assert(anchors.length <= m / 2 + 1, s"too dense: ${anchors.length} of $m")
  }

  test("tagSpansAgainstIndex: batch docs report spans vs history only") {
    val span = "s1 s2 s3 s4 s5 s6 s7 s8"
    val hist = Seq((1L, s"a1 a2 a3 a4 $span a5 a6"),
      (2L, "h1 h2 h3 h4 h5 h6 h7 h8")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, s"$span b1 b2"),            // shares the 8-token span with doc 1
      (11L, "n1 n2 n3 n4 n5 n6 n7 n8"), // novel — no row
      // shares a span with ANOTHER BATCH doc only — the one-sided gate
      // must NOT flag intra-batch overlap (that's the batch's own
      // repeatedSpans pass)
      (12L, "q1 q2 q3 q4 q5 q6 q7 q8 q9"),
      (13L, "q1 q2 q3 q4 q5 q6 q7 q8 q9")).toDF("doc_id", "text")
    val idx = Dedup.anchorIndex(hist, "doc_id", "text", 4)
    val got = Dedup.tagSpansAgainstIndex(batch, idx, "doc_id", "text", 4, 6)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((10L, 1L, 8L)), s"got ${got.toSeq}")
    // build-time occurrence cap: capping at 0 occurrences per k-gram is
    // impossible-to-hit only via maxOccurrences >= 1; cap 1 keeps doc 1's
    // anchors (each k-gram once in history) so the gate still fires
    val idxCap = Dedup.anchorIndex(hist, "doc_id", "text", 4, maxOccurrences = 1L)
    assert(Dedup.tagSpansAgainstIndex(batch, idxCap, "doc_id", "text", 4, 6)
      .count() == 1L)
    // broadcast-probe tier (r20): same rows through the tripwired
    // broadcast direction
    assert(Dedup.tagSpansAgainstIndex(batch, idx, "doc_id", "text", 4, 6,
        maxBroadcastAnchors = 1L << 20)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((10L, 1L, 8L)))
  }

  test("tagSpansSplit == anchorIndex + tagSpansAgainstIndex, cap included") {
    // the one-corpus split operator (r20) must reproduce the composed
    // form row for row, including the history-side occurrence cap
    val span = "s1 s2 s3 s4 s5 s6 s7 s8"
    val docs = Seq(
      (1L, s"a1 a2 a3 a4 $span a5 a6"),
      (2L, "h1 h2 h3 h4 h5 h6 h7 h8"),
      (3L, s"c1 $span c2 c3"), // second history carrier → cap 1 drops the span's anchors
      (10L, s"$span b1 b2"),
      (11L, "n1 n2 n3 n4 n5 n6 n7 n8"),
      (12L, "q1 q2 q3 q4 q5 q6 q7 q8 q9"),
      (13L, "q1 q2 q3 q4 q5 q6 q7 q8 q9")).toDF("doc_id", "text")
    val hist = docs.filter(col("doc_id") < 10L)
    val batch = docs.filter(col("doc_id") >= 10L)
    def res(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    for (cap <- Seq(0L, 1L, 64L)) {
      val composed = res(Dedup.tagSpansAgainstIndex(batch,
        Dedup.anchorIndex(hist, "doc_id", "text", 4, maxOccurrences = cap),
        "doc_id", "text", 4, 6))
      val split = res(Dedup.tagSpansSplit(docs, col("doc_id") < 10L,
        "doc_id", "text", 4, 6, maxOccurrences = cap))
      assert(split == composed, s"cap=$cap: $split vs $composed")
    }
  }

  test("scrubRepeatedSpans keep-first: later docs lose covered ranges, earliest untouched") {
    val span = "s1 s2 s3 s4 s5 s6 s7 s8"
    val df = Seq(
      (1L, s"a1 a2 a3 a4 $span a5 a6"),
      (2L, s"$span b1 b2 b3 b4"),
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),
      (4L, span)) // fully covered by earlier docs
      .toDF("doc_id", "text")
    val got = Dedup.scrubRepeatedSpans(df, "doc_id", "text", 4, 6)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // doc 1 is the earliest holder of the span — untouched, NOT in output;
    // doc 2 keeps only its unique tail; doc 4 is fully covered → empty text
    assert(got.toSeq == Seq(
      (2L, 12L, 4L, 8L, md5hex("b1 b2 b3 b4")),
      (4L, 8L, 0L, 8L, md5hex(""))), s"got ${got.toSeq}")
  }

  test("LSH ANN achieves reasonable recall@10 vs brute force") {
    val e = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val q = e.filter($"vec_id" < 10).select($"vec_id".as("q_id"), $"embedding".as("qe"))
    val c = e.select($"vec_id".as("c_id"), $"embedding".as("ce"))
    val exact = Similarity.cosineTopK(q, c, 10).select("q_id", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(q, c, 3, 10).select("q_id", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // fixture vectors are iid random (near-orthogonal), so "neighbors" are
    // weak and sign-LSH recall is intrinsically coarse — the assertion guards
    // the plumbing (bucketing + rerank beats chance), not ANN quality
    assert(recall > 0.1, s"recall=$recall")
  }

  test("IVF ANN: deterministic index, full-probe equals brute force, recall sane") {
    val e = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val q = e.filter($"vec_id" < 5).select($"vec_id".as("q_id"), $"embedding".as("qe"))
    val c = e.select($"vec_id".as("c_id"), $"embedding".as("ce"))
    val exact = Similarity.cosineTopK(q, c, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // probing ALL cells must recover the exact result
    val full = Similarity.ivfTopK(q, c, 8, 8, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact)
    // probing 3/8 cells: approximate but overlapping
    val approx = Similarity.ivfTopK(q, c, 8, 3, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall > 0.3, s"recall=$recall")
    // the serving path over an already-trained matrix returns exactly the
    // inline result
    val cents = Similarity.ivfIndex(c.select($"ce".as("embedding")), "embedding", 8)
    val inline = Similarity.ivfTopK(q, c, 8, 3, 5)
      .collect().map(_.toSeq).toSeq
    val served = Similarity.ivfTopKWith(q, c, cents, 3, 5)
      .collect().map(_.toSeq).toSeq
    assert(served == inline)
  }

  test("PQ units path: codes bounded, deterministic, full-rerank equals brute force") {
    val e = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val q = e.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("qe"))
    val c = e.select($"vec_id".as("c_id"), $"embedding".as("ce"))
    val n = c.count().toInt
    def train() = Similarity.pqTrainUnits(
      c.select($"c_id", $"ce".as("embedding")), "c_id", "embedding",
      m = 8, kCent = 16, sampleSize = 256, iters = 2)
    val books = train()
    // codebooks: m=8 subspaces × 16 centroids × 8 unit-long dims, repeatable
    assert(books.length == 8 && books.forall(b => b.length == 16 && b.forall(_.length == 8)))
    assert(books.flatten.flatten.toSeq == train().flatten.flatten.toSeq)
    // codes bounded to [0, kCent)
    val codes = c.select(Similarity.pqEncodeUnits(
        graft.functions.VectorFns.quantize($"ce"), books).as("codes"))
      .collect().map(_.getSeq[Long](0))
    assert(codes.forall(cs => cs.length == 8 && cs.forall(x => x >= 0 && x < 16)))
    // full-width shortlist: the integer-ADC cut cannot drop anyone, so the
    // exact re-rank must equal brute-force cosine top-k exactly
    val exact = Similarity.cosineTopK(q, c, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Similarity.pqTopKUnits(q, c, books, 5, rerank = n)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact)
    // tight shortlist keeps exactly rerank candidates per query pre-rank
    val tight = Similarity.pqTopKUnits(q, c, books, 5, rerank = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & tight).size.toDouble / exact.size
    assert(recall > 0.3, s"recall=$recall")
  }

  test("IVF and PQ re-ranks order near-tied cosines by round(cos, 9), then c_id") {
    // Two candidates whose double cosines to the query agree to 9 decimals
    // but differ in the last bits (one float ulp on one component). The
    // oracles rank by (round(cos, 9) DESC, c_id), so the lower c_id comes
    // first although the higher c_id holds the higher unrounded cosine.
    val rnd = new scala.util.Random(11)
    val trials = (0 until 64).map { t =>
      val q = Array.fill(8)(rnd.nextGaussian().toFloat)
      val a = Array.fill(8)(rnd.nextGaussian().toFloat)
      (t, q, a, a.updated(0, Math.nextUp(a(0))))
    }.toDF("t", "q", "a", "b")
    val tie = Seq("q", "a", "b").foldLeft(trials)((d, v) => Similarity.withNorm(d, v, s"${v}n"))
      .withColumn("ca", Similarity.cosinePre("q", "a", $"qn", $"an"))
      .withColumn("cb", Similarity.cosinePre("q", "b", $"qn", $"bn"))
      .filter(round($"ca", 9) === round($"cb", 9) && $"ca" =!= $"cb")
      .orderBy("t").select("q", "a", "b", "ca", "cb").head()
    val (lower, higher) =
      if (tie.getDouble(3) < tie.getDouble(4)) (tie.getSeq[Float](1), tie.getSeq[Float](2))
      else (tie.getSeq[Float](2), tie.getSeq[Float](1))
    val q = Seq((0L, tie.getSeq[Float](0))).toDF("q_id", "qe")
    val c = Seq((1L, lower), (2L, higher)).toDF("c_id", "ce")
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("rank").collect().map(_.getLong(1)).toSeq
    // full probe: one centroid holds both candidates
    assert(ranked(Similarity.ivfTopKWith(q, c, Array(Array.fill(8)(0.0)), 1, 2)) ==
      Seq(1L, 2L))
    // full re-rank: the shortlist keeps the whole corpus
    val books = Similarity.pqTrainUnits(c.select($"c_id", $"ce".as("embedding")),
      "c_id", "embedding", m = 2, kCent = 2, iters = 1)
    assert(ranked(Similarity.pqTopKUnits(q, c, books, 2, rerank = 2)) == Seq(1L, 2L))
  }

  test("IVF-PQ units: shapes, determinism, full-probe full-rerank equals brute force") {
    val e = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val q = e.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("qe"))
    val c = e.select($"vec_id".as("c_id"), $"embedding".as("ce"))
    val n = c.count().toInt
    def train() = Similarity.ivfpqTrainUnits(
      c.select($"c_id", $"ce".as("embedding")), "c_id", "embedding",
      nLists = 8, m = 8, kCent = 16, sampleSize = 256, iters = 2)
    val (coarse, books) = train()
    assert(coarse.length == 8 && coarse.forall(_.length == 64))
    assert(books.length == 8 && books.forall(b => b.length == 16 && b.forall(_.length == 8)))
    val (coarse2, books2) = train()
    assert(coarse.flatten.toSeq == coarse2.flatten.toSeq &&
      books.flatten.flatten.toSeq == books2.flatten.flatten.toSeq)
    // index: cell in [0, nLists), codes in [0, kCent)
    val idx = Similarity.ivfpqIndex(c, coarse, books).collect()
    assert(idx.length == n)
    assert(idx.forall { r =>
      val cell = r.getLong(1); val cs = r.getSeq[Long](2)
      cell >= 0 && cell < 8 && cs.length == 8 && cs.forall(x => x >= 0 && x < 16)
    })
    // probing EVERY cell with a full-width shortlist makes the exact
    // re-rank total: IVF cannot drop a candidate and ADC cannot cut one,
    // so the result must equal brute-force cosine top-k exactly
    val exact = Similarity.cosineTopK(q, c, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Similarity.ivfpqTopKUnits(q, c, coarse, books,
        nProbe = 8, k = 5, rerank = n)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact)
    // production shape (nProbe=2, rerank=40): bounded output, sane recall
    val tight = Similarity.ivfpqTopKUnits(q, c, coarse, books,
        nProbe = 2, k = 5, rerank = 40)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & tight).size.toDouble / exact.size
    assert(recall > 0.2, s"recall=$recall")
  }

  test("IVF-PQ index persists through the warehouse and serves identically") {
    val e = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val q = e.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("qe"))
    val c = e.select($"vec_id".as("c_id"), $"embedding".as("ce"))
    val (coarse, books) = Similarity.ivfpqTrainUnits(
      c.select($"c_id", $"ce".as("embedding")), "c_id", "embedding",
      nLists = 8, m = 8, kCent = 16, sampleSize = 256, iters = 2)
    val wh = graft.airbnb.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("wh-ivfpqidx").toString)
    wh.write("ivfpq_index", Similarity.ivfpqIndex(c, coarse, books))
    wh.write("ivfpq_coarse", graft.operators.KMeans.centroidsToDf(spark, coarse))
    wh.write("ivfpq_books", Similarity.pqCodebooksUnitsDf(spark, books))
    // reload cold: both fit frames roundtrip exactly, serving == inline
    val coarse2 = graft.operators.KMeans.centroidsFromDf(wh.read("ivfpq_coarse"))
    val books2 = Similarity.pqCodebooksUnitsFromDf(wh.read("ivfpq_books"))
    assert(coarse.flatten.toSeq == coarse2.flatten.toSeq &&
      books.flatten.flatten.toSeq == books2.flatten.flatten.toSeq)
    def res(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val inline = res(Similarity.ivfpqTopKUnits(q, c, coarse, books,
      nProbe = 2, k = 5, rerank = 40))
    val served = res(Similarity.ivfpqTopKWithIndex(q, wh.read("ivfpq_index"),
      c, coarse2, books2, nProbe = 2, k = 5, rerank = 40))
    assert(served == inline)
    // declared-shape contract: a frame that lost its whole trailing
    // subspace (or trailing coarse cluster) fails loudly, not silently
    intercept[IllegalArgumentException](Similarity.pqCodebooksUnitsFromDf(
      wh.read("ivfpq_books").filter($"subspace" =!= 7)))
    // explicit shape parameters catch it on a legacy frame without them
    intercept[IllegalArgumentException](Similarity.pqCodebooksUnitsFromDf(
      wh.read("ivfpq_books").filter($"subspace" =!= 7).drop("m", "k_cent", "subdim"),
      expectedM = 8, expectedKCent = 16, expectedSubdim = 8))
    intercept[IllegalArgumentException](graft.operators.KMeans.centroidsFromDf(
      wh.read("ivfpq_coarse").filter($"cluster" =!= 7)))
  }

  test("sparse incremental substring gate equals the uncapped dense gate") {
    val d = Tables.load(spark, TestSpark.sfDir, "documents")
    val mid = d.agg(expr("coalesce(MAX(doc_id) DIV 2, 0L)"))
      .collect()(0).getLong(0)
    val hist = d.filter($"doc_id" < mid)
    val fresh = d.filter($"doc_id" >= mid)
    def res(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val dense = res(graft.operators.Dedup.tagSpansAgainstIndex(fresh,
      graft.operators.Dedup.anchorIndex(hist, "doc_id", "text", 4),
      "doc_id", "text", 4, minSpanTokens = 6))
    val sparse = res(graft.operators.Dedup.tagSpansAgainstIndexSparse(fresh,
      graft.operators.Dedup.sparseAnchors(hist, "doc_id", "text", 4, 3),
      hist, "doc_id", "text", 4, minSpanTokens = 6, w = 3))
    assert(dense.nonEmpty, "fixture must exercise shared spans")
    assert(sparse == dense)
    // the exactness precondition is enforced loudly, not silently lossy
    intercept[IllegalArgumentException](
      graft.operators.Dedup.tagSpansAgainstIndexSparse(fresh,
        graft.operators.Dedup.sparseAnchors(hist, "doc_id", "text", 4, 3),
        hist, "doc_id", "text", 4, minSpanTokens = 5, w = 3))
    // the SERVE shape — history as a pre-built anchorRows artifact, no
    // history tokenization inside the gate — reproduces the same exact
    // output, through BOTH tiers (maxDriverRows = 0 forces the
    // distributed fallback)
    val idxRows = graft.operators.Dedup.anchorRowsFrame(
      hist, "doc_id", "text", 4, 3).localCheckpoint(true)
    val served = res(graft.operators.Dedup.tagSpansAgainstIndexSparseServe(
      fresh, idxRows, "doc_id", "text", 4, minSpanTokens = 6, w = 3))
    assert(served == dense)
    val servedDist = res(graft.operators.Dedup.tagSpansAgainstIndexSparseServe(
      fresh, idxRows, "doc_id", "text", 4, minSpanTokens = 6, w = 3,
      maxDriverRows = 0))
    assert(servedDist == dense)
    // and the artifact's flagged subset is exactly the sparse index
    val viaFlag = idxRows.filter($"sparse")
      .select($"doc_id", $"pos", $"sh").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaSparse = graft.operators.Dedup.sparseAnchors(
        hist, "doc_id", "text", 4, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaFlag == viaSparse)
    // the SPLIT (one-kernel-pass) inline form — one anchorRowsFrame
    // checkpoint feeds index, probe, and both verify legs — reproduces
    // the same exact output through BOTH tiers, and enforces the
    // winnowing precondition loudly
    val split = res(graft.operators.Dedup.tagSpansSplitSparse(
      d, $"doc_id" < mid, "doc_id", "text", 4, minSpanTokens = 6, w = 3))
    assert(split == dense)
    val splitDist = res(graft.operators.Dedup.tagSpansSplitSparse(
      d, $"doc_id" < mid, "doc_id", "text", 4, minSpanTokens = 6, w = 3,
      maxDriverCand = 0))
    assert(splitDist == dense)
    intercept[IllegalArgumentException](
      graft.operators.Dedup.tagSpansSplitSparse(
        d, $"doc_id" < mid, "doc_id", "text", 4, minSpanTokens = 5, w = 3))
  }

  test("table diff: insert/delete/update classified, null-safe, unchanged dropped") {
    val old = Seq((1L, Some("a"), 10.0), (2L, None, 20.0), (3L, Some("c"), 30.0),
        (4L, Some("d"), 40.0))
      .toDF("k", "v", "x")
    val neu = Seq((1L, Some("a"), 10.0),          // unchanged → no row
        (2L, Some("b"), 20.0),                    // null → value: update
        (4L, Some("d"), 41.0),                    // value change: update
        (5L, None, 50.0))                         // new key (with a null): insert
      .toDF("k", "v", "x")                        // key 3 absent: delete
    val got = graft.operators.TableDiff.diff(old, neu, Seq("k"))
      .orderBy($"k").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((2L, "update"), (3L, "delete"), (4L, "update"), (5L, "insert")))
  }

  test("quality checks run in one aggregate and count NULL-predicate rows sanely") {
    val df = Seq((1L, 5.0), (2L, -1.0), (3L, Double.NaN)).toDF("id", "v")
    val got = graft.operators.QualityChecks.run(df, Seq(
        "negative" -> ($"v" < 0), "null_id" -> $"id".isNull))
      .orderBy($"check_name").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("negative", 1L), ("null_id", 0L)))
    intercept[IllegalArgumentException] {
      graft.operators.QualityChecks.run(df, Seq("a" -> lit(true), "a" -> lit(false)))
    }
  }

  test("incremental near-dup gate: persisted band index equals recompute path") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
      .select($"doc_id", $"text")
    val old = docs.filter($"doc_id" < 200)
    val fresh = docs.filter($"doc_id" >= 200 && $"doc_id" < 400)
    val direct = Dedup.tagNearDupAgainstIndex(fresh, old, "doc_id", "text", 4)
      .orderBy($"doc_id").collect().map(r => (r.getLong(0), r.getBoolean(1)))
    // the production shape: index written to the warehouse, read back cold
    val wh = graft.airbnb.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("wh-bandidx").toString)
    wh.write("band_index", Dedup.bandIndex(old, "doc_id", "text", 4))
    val viaTable = Dedup.tagAgainstBandIndex(fresh, wh.read("band_index"),
        "doc_id", "text", 4)
      .orderBy($"doc_id").collect().map(r => (r.getLong(0), r.getBoolean(1)))
    assert(viaTable.toSeq == direct.toSeq)
    assert(direct.nonEmpty)
    // append-merge re-index: old index ⊕ fresh batch == index of the union
    // corpus (only the batch pays sketch cost), through a warehouse roundtrip
    wh.write("band_index",
      Dedup.mergeBandIndex(wh.read("band_index"), fresh, "doc_id", "text", 4))
    val merged = wh.read("band_index")
      .orderBy($"band_idx", $"band_key")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    val full = Dedup.bandIndex(old.unionByName(fresh), "doc_id", "text", 4)
      .orderBy($"band_idx", $"band_key")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(merged.toSeq == full.toSeq)
  }

  test("index tags: one row per new doc over a duplicated index, one novel of two") {
    val seen = "alpha beta gamma delta epsilon zeta eta theta"
    // a union: a batch gathered from two sources
    val fresh = Seq(1L -> seen).toDF("doc_id", "text")
      .unionByName(Seq(2L -> "one two three four five six seven eight").toDF("doc_id", "text"))
    // hand-built indexes that hold every entry twice
    val fps = Seq(seen).toDF("text").select(md5($"text").as("fp"))
    val tagged = Dedup.tagAgainstIndex(fresh, fps.unionByName(fps), "text")
      .select($"doc_id", $"is_novel").collect()
    assert(tagged.map(r => r.getLong(0) -> r.getBoolean(1)).sortBy(_._1).toSeq ==
      Seq(1L -> false, 2L -> true))
    assert(Dedup.novelAgainstIndex(fresh, fps.unionByName(fps), "text")
      .select($"doc_id").collect().map(_.getLong(0)).toSeq == Seq(2L))
    // a NULL text has a NULL fingerprint, which no index holds
    val noText = Seq(3L -> Option.empty[String]).toDF("doc_id", "text")
    assert(Dedup.tagAgainstIndex(noText, fps, "text").select($"is_novel")
      .collect().map(_.getBoolean(0)).toSeq == Seq(true))
    val bands = Dedup.bandIndex(fresh.filter($"doc_id" === 1L), "doc_id", "text", 4)
    val index = bands.unionByName(bands)
    val nearDup = Dedup.tagAgainstBandIndex(fresh, index, "doc_id", "text", 4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1))
    assert(nearDup.sortBy(_._1).toSeq == Seq(1L -> true, 2L -> false))
    val novel = fresh.join(Dedup.bandIndexHits(fresh, index, "doc_id", "text", 4),
        Seq("doc_id"), "left_anti")
      .select($"doc_id").collect().map(_.getLong(0))
    assert(novel.toSeq == Seq(2L))
  }

  test("wide (124-bit) simhash hamming pairs find planted dups, and only them") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
      .select($"doc_id", $"text").filter($"doc_id" < 40)
    // plant an exact copy (hamming 0) and a one-token-appended copy (small
    // but usually nonzero hamming) of doc 1
    val corpus = docs
      .unionByName(docs.filter($"doc_id" === 1)
        .select(lit(90001L).as("doc_id"), $"text"))
      .unionByName(docs.filter($"doc_id" === 1)
        .select(lit(90002L).as("doc_id"), concat($"text", lit(" ztail")).as("text")))
    val pairs = Dedup.simhashNearDupPairsWide(corpus, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val exactCopy = pairs.find(p => p._1 == 1L && p._2 == 90001L)
    assert(exactCopy.contains((1L, 90001L, 0L)), s"got ${pairs.toSeq}")
    // every reported pair involves doc 1 and its copies — 124-bit hamming <= 3
    // must not fire on unrelated fixture docs
    val clique = Set(1L, 90001L, 90002L)
    assert(pairs.forall(p => clique.contains(p._1) && clique.contains(p._2)),
      s"unrelated pair reported: ${pairs.toSeq}")
  }

  test("salted join equals its unsalted form") {
    val big = Tables.load(spark, TestSpark.sfDir, "lineitem")
      .select($"l_orderkey", $"l_quantity")
    val small = Tables.load(spark, TestSpark.sfDir, "orders")
      .select($"o_orderkey".as("l_orderkey"), $"o_orderpriority")
    val plain = big.join(small, "l_orderkey").count()
    assert(graft.operators.SkewJoin.saltedJoin(big, small, "l_orderkey", 8).count() == plain)
  }

  test("approx_count_distinct lands within 5% of exact (opt-in sketch surface)") {
    val li = Tables.load(spark, TestSpark.sfDir, "lineitem")
    val row = li.agg(
      countDistinct($"l_orderkey").as("exact"),
      approx_count_distinct($"l_orderkey", 0.02).as("approx")).collect().head
    val (exact, approx) = (row.getLong(0), row.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.05, s"exact=$exact approx=$approx")
  }

  test("fixed-point k-means: hand-computed Lloyd pass reassigns the boundary point") {
    // 2-D, k=2, seeds = ids 0,1 → centroids (0,0) and (0.1,0) in 1e-6 units.
    // After one update: c0 = trunc-mean{(0,0),(0,0.1)} = (0, 50000 units),
    // c1 = trunc-mean{(0.1,0),(10,10),(10.1,10)} = (6733333, 6666666).
    // The second assignment pass MOVES id 1 from its own seed cluster into
    // c0 — the spec pins a real Lloyd reassignment, not a fixed partition.
    val df = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(0.1f, 0.0f)), (2L, Array(0.0f, 0.1f)),
      (3L, Array(10.0f, 10.0f)), (4L, Array(10.1f, 10.0f)))
      .toDF("vec_id", "embedding")
    val one = graft.operators.KMeans.assignments(df, "vec_id", "embedding", 2, 1)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(one == Seq((0L, 0L), (1L, 1L), (2L, 0L), (3L, 1L), (4L, 1L)))
    val two = graft.operators.KMeans.assignments(df, "vec_id", "embedding", 2, 2)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(two.map(t => (t._1, t._2)) ==
      Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L)))
    // exact unit² distances against the updated centroids
    assert(two(0)._3 == 50000L * 50000L)                       // (0,0) vs (0,50000)
    assert(two(1)._3 == 100000L * 100000L + 50000L * 50000L)   // (100000,0)
    val dx = 10000000L - 6733333L; val dy = 10000000L - 6666666L
    assert(two(3)._3 == dx * dx + dy * dy)
  }

  test("k-means inertia and cluster cap agree with the assignment") {
    val df = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(0.1f, 0.0f)), (2L, Array(0.0f, 0.1f)),
      (3L, Array(10.0f, 10.0f)), (4L, Array(10.1f, 10.0f)))
      .toDF("vec_id", "embedding")
    val inert = graft.operators.KMeans.inertia(df, "vec_id", "embedding", 2, 2)
      .orderBy("cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // cluster 0 = {0,1,2} vs centroid (0, 50000): 2.5e9 + 1.25e10 + 2.5e9
    val c0inertia = 2500000000L + 12500000000L + 2500000000L
    assert(inert(0) == (0L, 3L, c0inertia, c0inertia / 3))
    assert(inert(1)._2 == 2L)
    // cap at 2 per cluster: Knuth-hash order is id order here (small ids)
    val cap = graft.operators.KMeans.clusterCap(df, "vec_id", "embedding", 2, 2, 2)
      .orderBy("cluster", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(cap.toSeq == Seq((0L, 0L, 1L), (0L, 1L, 2L), (1L, 3L, 1L), (1L, 4L, 2L)))
  }

  test("source overlap counts distinct shared fingerprints per source pair") {
    // content X in s1 (twice — must count once) and s2; content Y in all
    // three; content Z only in s3. Whitespace variants of X must collapse
    // (fingerprint normalizes). Expected: (s1,s2)=2, (s1,s3)=1, (s2,s3)=1.
    val df = Seq(
      (1L, "X alpha", "s1"), (2L, "X  alpha ", "s1"), (3L, "X alpha", "s2"),
      (4L, "Y beta", "s1"), (5L, "Y beta", "s2"), (6L, "Y beta", "s3"),
      (7L, "Z gamma", "s3")).toDF("doc_id", "text", "source")
    val got = graft.operators.Dedup.sourceOverlap(df, "text", "source")
      .orderBy("src_a", "src_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(("s1", "s2", 2L), ("s1", "s3", 1L), ("s2", "s3", 1L)))
  }

  test("SemDeDup keeps the pair member farthest from its centroid") {
    // k=2, passes=1 → centroids ARE the two lowest-id vectors. Cell 0 holds
    // {0 (1,0), 2 (0.99,0.1), 4 (2,0)} — all pairwise cosine ≥ 0.99 — and
    // cell 1 holds {1 (10,10), 3 (10.1,10)} at cosine ≈ 0.99997. Every pair
    // is above the 0.9 threshold, so each cell collapses to ONE survivor:
    // the member farthest from its centroid (id 4 at 1e12 units², id 3 at
    // 1e10). A min-id survivorship would have kept {0, 1} — this pins the
    // keep-lowest-centroid-similarity rule, not just dedup.
    val df = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(10.0f, 10.0f)),
      (2L, Array(0.99f, 0.1f)), (3L, Array(10.1f, 10.0f)),
      (4L, Array(2.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = graft.operators.Dedup.semDedup(df, "vec_id", "embedding",
        k = 2, passes = 1, threshold = 0.9)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((3L, 1L), (4L, 0L)))
    // raise the threshold past any possible cosine: nothing drops
    val all = graft.operators.Dedup.semDedup(df, "vec_id", "embedding",
        k = 2, passes = 1, threshold = 1.1)
      .count()
    assert(all == 5L)
    // the same vectors under string ids "v0".."v4": the pair join's
    // hash(id) salt is total over any id type, so the survivors match
    val byName = graft.operators.Dedup.semDedup(
        df.select(concat(lit("v"), $"vec_id").as("vec_id"), $"embedding"),
        "vec_id", "embedding", k = 2, passes = 1, threshold = 0.9)
      .orderBy("vec_id").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(byName.toSeq == Seq(("v3", 1L), ("v4", 0L)))
  }

  test("contrastive triplets pick best positive and hardest in-band negative per anchor") {
    // Same cells as the SemDeDup fixture. Cell 0 cosines: (0,4) = 1.0
    // exactly (collinear), (0,2) = (2,4) ≈ 0.9949. With pos >= 0.999 and
    // neg in [0.9, 0.999): anchors 0 and 4 pair as positives and take 2 as
    // the hard negative; anchor 2 has no positive (both its pairs are in
    // the neg band) and drops; cell 1's only pair (1,3) ≈ 0.99997 is above
    // the neg band, so those anchors have no negative and drop too.
    val df = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(10.0f, 10.0f)),
      (2L, Array(0.99f, 0.1f)), (3L, Array(10.1f, 10.0f)),
      (4L, Array(2.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = graft.operators.Similarity.contrastiveTriplets(df, "vec_id",
        "embedding", k = 2, passes = 1,
        posThreshold = 0.999, negLo = 0.9, negHi = 0.999)
      .orderBy("anchor").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.map(t => (t._1, t._2, t._4)).toSeq == Seq((0L, 4L, 2L), (4L, 0L, 2L)))
    assert(got.forall(_._3 == 1.0)) // the collinear positive scores exactly 1
    // string ids pick the same triplets
    val byName = graft.operators.Similarity.contrastiveTriplets(
        df.select(concat(lit("v"), $"vec_id").as("vec_id"), $"embedding"),
        "vec_id", "embedding", k = 2, passes = 1,
        posThreshold = 0.999, negLo = 0.9, negHi = 0.999)
      .orderBy("anchor").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(3)))
    assert(byName.toSeq == Seq(("v0", "v4", "v2"), ("v4", "v0", "v2")))
  }

  test("k-means centroids roundtrip through a frame; assignWith matches assignments") {
    val df = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(0.1f, 0.0f)), (2L, Array(0.0f, 0.1f)),
      (3L, Array(10.0f, 10.0f)), (4L, Array(10.1f, 10.0f)))
      .toDF("vec_id", "embedding")
    val cents = graft.operators.KMeans.train(df, "vec_id", "embedding", 2, 2)
    val back = graft.operators.KMeans.centroidsFromDf(
      graft.operators.KMeans.centroidsToDf(spark, cents))
    assert(back.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq)
    // the persisted-fit path assigns a "new batch" (here: the same rows)
    // exactly as the single-shot training path does
    val viaFit = graft.operators.KMeans.assignWith(df, "vec_id", "embedding", back)
      .select("vec_id", "cluster", "dist").orderBy("vec_id").collect().map(_.toSeq)
    val direct = graft.operators.KMeans.assignments(df, "vec_id", "embedding", 2, 2)
      .orderBy("vec_id").collect().map(_.toSeq)
    assert(viaFit.toSeq == direct.toSeq)
    // a frame with a hole fails loudly instead of mis-assigning
    val holed = graft.operators.KMeans.centroidsToDf(spark, cents)
      .filter(!(col("cluster") === 1L && col("pos") === 0L))
    intercept[IllegalArgumentException](graft.operators.KMeans.centroidsFromDf(holed))
    // ... including the loss of the ENTIRE trailing cluster, invisible to
    // max(cluster)+1 derivation (rows.size == k*dim still holds with the
    // shrunken k) — the persisted (k, dim) columns catch it
    val tailLost = graft.operators.KMeans.centroidsToDf(spark, cents)
      .filter(col("cluster") =!= (cents.length - 1).toLong)
    intercept[IllegalArgumentException](graft.operators.KMeans.centroidsFromDf(tailLost))
    // explicit shape parameters catch it on a legacy frame without k/dim
    val legacy = tailLost.drop("k", "dim")
    intercept[IllegalArgumentException](graft.operators.KMeans.centroidsFromDf(
      legacy, expectedK = cents.length, expectedDim = cents.head.length))
    // multi-probe assignment: the nProbe nearest cells in (dist, index)
    // order, with nProbe = 1 collapsing to assignWith's nearest cell and
    // nProbe = k enumerating every cell exactly once per id
    val probes2 = graft.operators.KMeans.assignProbes(
        df, "vec_id", "embedding", back, 2)
      .select("vec_id", "cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(probes2.length == 5 * 2 &&
      probes2.groupBy(_._1).forall(_._2.map(_._2).distinct.length == 2))
    val near1 = graft.operators.KMeans.assignProbes(
        df, "vec_id", "embedding", back, 1)
      .select("vec_id", "cluster").orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(near1 == viaFit.map(s =>
      (s(0).asInstanceOf[Long], s(1).asInstanceOf[Long])).toSeq)
    // probes beyond k are impossible: slice caps at the matrix size
    assert(graft.operators.KMeans.assignProbes(
      df, "vec_id", "embedding", back, 99).count() == 5 * back.length)
  }

  test("heavy hitters: eviction path, MG superset guarantee, partition independence") {
    import graft.operators.HeavyHitters
    // 3 hot tokens + 50 singletons, capacity 8 << 53 distinct tokens: the
    // decrement-all eviction fires constantly. n = 290, n/capacity ≈ 36,
    // and every hot count (100/80/60) exceeds it — the MG guarantee holds,
    // so the top-3 must be EXACT under any partitioning.
    val words = Seq.fill(100)("hot1") ++ Seq.fill(80)("hot2") ++
      Seq.fill(60)("hot3") ++ (0 until 50).map(i => s"junk$i")
    val df = new scala.util.Random(7).shuffle(words)
      .grouped(10).map(_.mkString(" ")).toSeq.toDF("text")
    val expected = Seq(("hot1", 100L), ("hot2", 80L), ("hot3", 60L))
    for (parts <- Seq(2, 7)) {
      val got = HeavyHitters.topTokens(df.repartition(parts), "text", 3, 8)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == expected, s"parts=$parts")
    }
    // the candidate union is a superset of every token above n/capacity
    import spark.implicits._
    val toks = df.select(explode(graft.functions.TextFns.tokens($"text")).as("t"))
      .as[String]
    val cands = HeavyHitters.mgCandidates(toks.repartition(5), 8).toSet
    assert(Set("hot1", "hot2", "hot3").subsetOf(cands))
    assert(cands.size <= 8 * 5 + 3)
  }

  test("blocked fuzzy match equals the broadcast cross join, cross-band pairs included") {
    // lengths chosen so qualifying pairs STRADDLE length bands (width
    // maxDist+1 = 3): "kitten"(6)/"sitten"(6) same band, "kitten"/
    // "kitte"(5) adjacent bands (5 DIV 3 = 1, 6 DIV 3 = 2) — missing the
    // neighbor probe would silently drop exactly these; a null key and a
    // far string must not pair at all
    val df = Seq("kitten", "sitten", "kitte", "sittin", "zzzzzzzzzzzz", null)
      .toDF("name")
    val got = graft.operators.Dedup.fuzzyMatchBlocked(df, "name", 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val want = df.select(col("name").as("a")).filter(col("a").isNotNull)
      .crossJoin(df.select(col("name").as("b")).filter(col("b").isNotNull))
      .filter(col("a") < col("b"))
      .withColumn("d", levenshtein(col("a"), col("b")).cast("long"))
      .filter(col("d") <= 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want)
    assert(got.contains(("kitte", "kitten", 1L)), "cross-band pair missing")
    assert(got.exists(_._1 == "kitten") && !got.exists(t =>
      t._1 == "zzzzzzzzzzzz" || t._2 == "zzzzzzzzzzzz"))
  }

  test("graph ANN: beam search walks the neighbor chain exactly as far as hops allow") {
    // five unit-ish 2-D vectors at increasing angles; with degree=1 the
    // kNN graph is the angular chain 1->2->3->4->5, the query sits at
    // id 5's angle, and the entry set is {1} — so the best answer is
    // reachable ONLY by walking edges: hops=0 must answer the entry,
    // hops=4 must answer id 5. Beam=2 exercises eviction along the way.
    def vec(deg: Double) = Array(
      math.cos(math.toRadians(deg)).toFloat, math.sin(math.toRadians(deg)).toFloat)
    val cand = Seq(1L -> vec(0), 2L -> vec(15), 3L -> vec(25),
        4L -> vec(33), 5L -> vec(40))
      .toDF("c_id", "ce")
    val g = graft.operators.Similarity.knnGraph(
      cand.select(col("c_id").as("vec_id"), col("ce").as("embedding")),
      "vec_id", "embedding", k = 1, passes = 1, degree = 1)
    val edges = g.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(edges == Map(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 4L))
    val q = Seq(9L -> vec(40)).toDF("q_id", "qe")
    def top1(hops: Int): Long =
      graft.operators.Similarity.graphTopK(q, cand, g,
          entryK = 1, beam = 2, hops = hops, k = 1)
        .collect().head.getLong(1)
    assert(top1(0) == 1L, "hops=0 must answer from the entry set")
    assert(top1(2) == 3L, "two hops reach exactly two edges from the entry")
    assert(top1(4) == 5L, "four hops reach the true nearest neighbor")
    // the coarse entry layer (id % 5 == 0 -> {5}) starts the beam at the
    // query's best LAYER member, so the true neighbor is reached with ZERO
    // hops where the lowest-id entry needed four — the HNSW-upper-layer
    // serving benefit the layered variant exists for
    val layered0 = graft.operators.Similarity.graphTopKLayered(q, cand, g,
        sampleMod = 5L, beam = 2, hops = 0, k = 1)
      .collect().head.getLong(1)
    assert(layered0 == 5L, "layer entry must answer the nearest directly")
    // the PQ-scored walk (DiskANN shape) must still reach the true
    // neighbor over four hops: the approximate ADC ordering drives the
    // walk, the exact re-rank orders the answer
    val books = graft.operators.Similarity.pqTrainUnits(
      cand.select(col("c_id"), col("ce").as("embedding")), "c_id", "embedding",
      m = 2, kCent = 4, sampleSize = 5, iters = 2)
    val pq4 = graft.operators.Similarity.graphTopKPQ(q, cand, g, books,
        entryK = 1, beam = 2, hops = 4, k = 1)
      .collect().head.getLong(1)
    assert(pq4 == 5L, "PQ-scored beam must reach the true nearest neighbor")
  }

  test("graph ANN: incremental merge equals the full rebuild under frozen centroids") {
    // 11 planted 2-D vectors over THREE angular clusters; history =
    // ids 1-5 (clusters A/B) plus 9-11 (cluster C), batch = 6-8 landing
    // in A and B only, so the merge must (a) give batch nodes ranked
    // edges, (b) let history nodes adopt closer batch neighbors, and
    // (c) pass the UNTOUCHED cell C's edges through the map-side
    // anti-join branch verbatim — all checked at once by edge-set
    // equality with knnGraphWith over the union. (Pre-r19 the fixture
    // had no history-only cell, so (c)'s pass-through was unexercised.)
    def vec(deg: Double) = Array(
      math.cos(math.toRadians(deg)).toFloat, math.sin(math.toRadians(deg)).toFloat)
    val hist = Seq(1L -> vec(0), 2L -> vec(12), 3L -> vec(24),
        4L -> vec(80), 5L -> vec(95),
        9L -> vec(180), 10L -> vec(190), 11L -> vec(201))
      .toDF("vec_id", "embedding")
    val batch = Seq(6L -> vec(6), 7L -> vec(88), 8L -> vec(101))
      .toDF("vec_id", "embedding")
    val cents = graft.operators.KMeans.train(hist, "vec_id", "embedding",
      k = 3, passes = 3)
    // the fixture's premise: the batch touches exactly two of three cells
    val bCells = graft.operators.KMeans.assignWith(batch, "vec_id",
      "embedding", cents).select("cluster").distinct().collect()
      .map(_.getLong(0)).toSet
    val cCell = graft.operators.KMeans.assignWith(
      hist.filter($"vec_id" >= 9L), "vec_id", "embedding", cents)
      .select("cluster").distinct().collect().map(_.getLong(0)).toSet
    assert(bCells.size == 2 && cCell.size == 1 && !bCells.contains(cCell.head),
      s"fixture drift: batch cells $bCells must exclude the history-only cell $cCell")
    val g0 = graft.operators.Similarity.knnGraphWith(hist, "vec_id",
      "embedding", cents, degree = 2)
    def edges(df: org.apache.spark.sql.DataFrame) = df.select("node", "nbr", "sim")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val merged = edges(graft.operators.Similarity.mergeKnnGraph(
      g0, hist, batch, "vec_id", "embedding", cents, degree = 2))
    val rebuilt = edges(graft.operators.Similarity.knnGraphWith(
      hist.unionByName(batch), "vec_id", "embedding", cents, degree = 2))
    assert(merged == rebuilt)
    // the merge actually changed history edges (a batch node adopted):
    assert(merged != edges(g0))
    assert(merged.exists { case (n, nb, _) => n <= 5 && nb >= 6 },
      "no history node adopted a batch neighbor — the reverse leg is dead")
    // (c) explicitly: the untouched cell's stored edges survive verbatim
    val cIds = Set(9L, 10L, 11L)
    assert(merged.filter(e => cIds(e._1)) == edges(g0).filter(e => cIds(e._1)),
      "untouched-cell edges were not passed through unchanged")

    // the CELL-PARTITIONED variant returns replacement content for the
    // touched cells only, cell attached, equal to the full merge
    // restricted to those cells
    val g0c = graft.operators.KMeans.assignWith(hist, "vec_id", "embedding",
        cents).select($"vec_id".as("node"), $"cluster".as("cell"))
      .join(g0, Seq("node"))
    def assigned(d: org.apache.spark.sql.DataFrame) = graft.operators.KMeans
      .assignWith(d, "vec_id", "embedding", cents).select("vec_id", "cluster", "__u")
    // as Streams.knnGraphGateBatch calls it: the batch already
    // checkpointed, its cells known driver-side
    val touchedContent = graft.operators.Similarity.mergeKnnGraphTouchedCellsAssigned(
      g0c.filter($"cell".isin(bCells.toSeq: _*)), assigned(hist),
      graft.Materialize.eager(assigned(batch)), "vec_id", degree = 2,
      batchMaterialized = true, touchedCellsHint = Some(bCells.toSeq))
    assert(touchedContent.select("cell").distinct().collect()
      .map(_.getLong(0)).toSet == bCells,
      "touched-cell content must cover exactly the batch's cells")
    val touchedIds = graft.operators.KMeans.assignWith(
        hist.unionByName(batch), "vec_id", "embedding", cents)
      .filter($"cluster".isin(bCells.toSeq: _*))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(edges(touchedContent) == rebuilt.filter(e => touchedIds(e._1)))

    // requireCapped: an over-degree stored graph fails LOUDLY instead of
    // passing untouched nodes through uncapped (the documented
    // precondition made enforceable); the well-formed table passes
    val overfull = g0.unionByName(
      g0.select($"node", ($"nbr" + 1000L).as("nbr"), ($"sim" - 0.5).as("sim")))
    val ex = intercept[IllegalStateException] {
      graft.operators.Similarity.mergeKnnGraph(overfull, hist, batch,
        "vec_id", "embedding", cents, degree = 2, requireCapped = true).count()
    }
    assert(ex.getMessage.contains("re-cap"))
    assert(edges(graft.operators.Similarity.mergeKnnGraph(g0, hist, batch,
      "vec_id", "embedding", cents, degree = 2, requireCapped = true)) == rebuilt)
  }

  test("profile reports nulls, distincts and min/max per column") {
    val df = Seq((1L, Some("a")), (2L, None), (3L, Some("b"))).toDF("id", "v")
    val p = Profile.profile(df).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(4))).toMap
    assert(p("id") == (0L, 3L))
    assert(p("v") == (1L, 2L))
    assert(Profile.highNullColumns(df, 0.5).isEmpty)
    assert(Profile.highNullColumns(df, 0.2) == Seq("v"))
    assert(Profile.duplicateRowCount(df.union(df)) == 3L)
  }
}
