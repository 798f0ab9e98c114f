package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph centrality for crawl prioritization — the classic "which
  * domains/pages deserve crawl budget" signal (PageRank / OPIC family).
  * Everything is exact integer ppm arithmetic so a SQL oracle replays the
  * iteration bit-for-bit: no doubles, no convergence test — a FIXED
  * iteration count, the shape production crawl schedulers actually run
  * (rank stabilizes in a few passes and the scheduler wants bounded cost).
  *
  * Scale: the per-iteration work is one join of the rank frame against the
  * edge list on `src` plus one hash-agg on `dst` — both shuffles key on
  * node ids (longs); the Pregel/GraphX message shape without the framework.
  * The edge list is checkpointed ONCE (the naive lazy foldLeft re-expanded
  * the shared edge/degree subtrees into 22 parquet scans at 3 iterations);
  * the rank lineage between checkpoints grows LINEARLY (unlike the
  * components loop, `prev` feeds exactly one branch per round), so rank
  * frames are truncated only every `truncateEvery` rounds — enough to
  * bound analysis depth and fault-recovery cost on long runs without
  * paying a materialization job per round. Superseded rank checkpoints are
  * freed as newer ones land.
  *
  * EAGER CONTRACT: construction materializes the edge checkpoint and runs
  * one node-count job (plus one rank materialization per `truncateEvery`
  * rounds). The returned frame's plan references the edge-checkpoint
  * blocks, which live until the caller's [[graft.Materialize.scope]]
  * closes.
  */
object LinkGraph {

  /** Fixed-iteration integer PageRank over a directed edge list.
    *
    * Self-loops are dropped and duplicate edges collapse (a multigraph
    * would double-count contributions); dangling nodes (no out-edges)
    * simply leak their mass — the standard simplification, documented
    * rather than patched, because crawl graphs prune dangling leaves
    * before ranking anyway.
    *
    * rank_0 = 10^6 DIV n per node; each iteration:
    * rank' = 150000 DIV n + 850 · Σ_in (rank_src DIV outdeg_src) DIV 1000
    * (damping 0.85 in ppm). Returns (node, rank_ppm), one row per node
    * that appears in any surviving edge.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, truncateEvery: Int = 8): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(truncateEvery >= 1, s"truncateEvery must be >= 1: $truncateEvery")
    // The out-degree is LOOP-INVARIANT: computing it once and checkpointing
    // it WITH the edge list (src, dst, deg) deletes one join — a shuffle
    // stage — from every iteration (3 stages at iters=3; at toy scale each
    // materialized AQE stage costs ~30 ms of launch overhead, and at 100 TB
    // each is a full edge-list shuffle).
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
                   col(dstCol).cast("long").as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
    val e = Components.truncate(
      e0.join(e0.groupBy(col("src")).agg(count(lit(1)).as("deg")), "src"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    // node count as driver literals: one bounded job over the edge
    // checkpoint; inlining kills the per-branch broadcast subplan the lazy
    // 1-row count frame would re-derive in every iteration
    val n = math.max(nodes.count(), 1L)
    val init = 1000000L / n
    val base = 150000L / n
    var ranks = nodes.select(col("node"), lit(init).as("r"))
    var lastCkpt: Option[DataFrame] = None
    for (i <- 1 to iters) {
      val contribs = e
        .join(ranks.select(col("node").as("src"), col("r")), "src")
        .select(col("dst").as("node"), expr("r DIV deg").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("c"))
      val next = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          expr(s"CAST($base + 850 * coalesce(c, 0L) DIV 1000 AS BIGINT)")
            .as("r"))
      ranks =
        if (i % truncateEvery == 0 && i < iters) {
          // a newer checkpoint cuts every plan's lineage to it — the
          // previously checkpointed rank frame is unreachable, free it
          val t = Components.truncate(next)
          lastCkpt.foreach(graft.Materialize.release(_))
          lastCkpt = Some(t)
          t
        } else next
    }
    ranks.select(col("node"), col("r").as("rank_ppm"))
  }

  /** Graphs whose distinct edge list fits under this row count take the
    * driver fast path in [[pageRankAuto]]. 2^20 (src, dst, deg) triples is
    * ~24 MB on the driver — the same bound the gated union-find in
    * [[Components.connected]] uses for collecting an edge list.
    */
  val MaxDriverEdges: Long = 1L << 20

  /** [[pageRank]] with a count-gated driver fast path for NODE-SCALE
    * graphs — the crawl-scheduling shape, where nodes are domains (or
    * hosts), never pages: the distinct domain-to-domain edge list of even a
    * 100 TB frontier is a few million rows, while the distributed loop pays
    * iters × (join + agg) Spark jobs regardless of graph size.
    *
    * The gate costs ONE Spark job: the distinct edge pairs come back
    * through a `LIMIT maxDriverEdges+1` collect — a full result within the
    * gate, a cheap over-the-limit tripwire beyond it (no count job, no
    * checkpoint). Within the gate, out-degrees and the fixed-point
    * iterations run as plain driver arithmetic over the collected pairs —
    * bit-identical to the distributed loop, which is pure integer DIV/sum
    * over exactly these rows — and the result returns as a broadcastable
    * LOCAL relation (zero further jobs, and the scheduling join against it
    * needs no shuffle), with no storage for the caller to manage. Beyond
    * the gate it falls back to [[pageRank]] unchanged (one re-scan of
    * `edges` — negligible against the iteration cost that dominates the
    * corpus-scale path), keeping pageRank's eager contract: its
    * checkpoints belong to the caller's [[graft.Materialize.scope]] (the
    * driver fast path has no storage to manage).
    */
  def pageRankAuto(edges: DataFrame, srcCol: String, dstCol: String,
                   iters: Int, maxDriverEdges: Long = MaxDriverEdges): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(maxDriverEdges < Int.MaxValue, s"gate must fit an array: $maxDriverEdges")
    val spark = edges.sparkSession
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
                   col(dstCol).cast("long").as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
    val rows = e0.limit(maxDriverEdges.toInt + 1).collect()
    if (rows.length > maxDriverEdges) {
      pageRank(edges, srcCol, dstCol, iters)
    } else {
      val deg = new java.util.HashMap[Long, Long]()
      val nodes = new java.util.TreeSet[java.lang.Long]()
      rows.foreach { r =>
        deg.merge(r.getLong(0), 1L, (a, b) => a + b)
        nodes.add(r.getLong(0)); nodes.add(r.getLong(1))
      }
      val n = math.max(nodes.size.toLong, 1L)
      val init = 1000000L / n
      val base = 150000L / n
      val ranks = new java.util.HashMap[Long, Long]()
      nodes.forEach(nd => ranks.put(nd, init))
      for (_ <- 1 to iters) {
        // same recurrence as the distributed loop: all Longs nonnegative,
        // so Scala / == SQL DIV on every step
        val contribs = new java.util.HashMap[Long, Long]()
        rows.foreach { r =>
          val c = ranks.get(r.getLong(0)) / deg.get(r.getLong(0))
          contribs.merge(r.getLong(1), c, (a, b) => a + b)
        }
        nodes.forEach { nd =>
          ranks.put(nd, base + 850L * contribs.getOrDefault(nd, 0L) / 1000L)
        }
      }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](nodes.size)
      nodes.forEach(nd => out += ((nd.longValue, ranks.get(nd.longValue))))
      import spark.implicits._
      out.toSeq.toDF("node", "rank_ppm")
    }
  }

  /** Multi-source BFS hop distance over a directed edge list: for every
    * node reachable from `seeds` within `maxHops`, the MINIMUM hop count
    * (seeds are 0). Unreachable nodes are absent from the output — the
    * crawl-depth / "how far is this domain from the trusted frontier"
    * signal, and the bounded-depth reachability query schedulers gate on.
    *
    * Scale: classic frontier BFS — each round joins the CURRENT frontier
    * (not the whole distance table) against the edge checkpoint on src,
    * then anti-joins the known set; both shuffles key on node ids. The
    * distance table is re-checkpointed every round (it feeds two branches
    * per round, so lineage would otherwise double per hop — the components
    * loop's lesson); superseded checkpoints are freed as newer ones land.
    *
    * EAGER CONTRACT: like [[pageRank]] — the edge list and each round's
    * distance table materialize at construction, owned by the caller's
    * [[graft.Materialize.scope]].
    */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              seeds: DataFrame, seedCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0: $maxHops")
    val e = Components.truncate(
      edges.select(col(srcCol).cast("long").as("src"),
                   col(dstCol).cast("long").as("dst"))
        .filter(col("src") =!= col("dst")).distinct())
    // NULL seeds (or seeds whose cast('long') yields NULL) are dropped —
    // a null node id is never a graph node, and keeping the row would make
    // getLong blow up on the driver fast path in [[bfsHopsAuto]]
    var dist = Components.truncate(
      seeds.select(col(seedCol).cast("long").as("node"),
        lit(0L).as("hops")).filter(col("node").isNotNull).distinct())
    var prev = dist
    for (h <- 1 to maxHops) {
      val frontier = dist.filter(col("hops") === (h - 1).toLong)
      val discovered = frontier.select(col("node").as("src"))
        .join(e, "src").select(col("dst").as("node")).distinct()
        .join(dist.select(col("node")), Seq("node"), "left_anti")
        .select(col("node"), lit(h.toLong).as("hops"))
      dist = Components.truncate(dist.unionByName(discovered))
      graft.Materialize.release(prev)
      prev = dist
    }
    // the returned table is its own checkpoint — the edge blocks are no
    // longer reachable from it
    graft.Materialize.release(e)
    dist
  }

  /** [[bfsHops]] with the same count-gated driver fast path as
    * [[pageRankAuto]]: the crawl-scheduling BFS runs over the DOMAIN
    * graph, whose distinct edge list (and seed set) is node-scale, while
    * the distributed loop pays maxHops × (join + anti-join + checkpoint)
    * Spark jobs regardless of graph size. Two LIMIT-guarded collect jobs
    * (edges, seeds); within the gate the frontier expansion is plain
    * driver BFS over the collected pairs — bit-identical to the
    * distributed loop (min hop, seeds 0, unreachable absent) — returned
    * as a broadcastable LOCAL relation with no storage to manage. Beyond
    * the gate it falls back to [[bfsHops]] unchanged.
    */
  def bfsHopsAuto(edges: DataFrame, srcCol: String, dstCol: String,
                  seeds: DataFrame, seedCol: String, maxHops: Int,
                  maxDriverEdges: Long = MaxDriverEdges): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0: $maxHops")
    require(maxDriverEdges < Int.MaxValue, s"gate must fit an array: $maxDriverEdges")
    val spark = edges.sparkSession
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
                   col(dstCol).cast("long").as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
    val eRows = e0.limit(maxDriverEdges.toInt + 1).collect()
    // null-cast seeds dropped to match [[bfsHops]] (and because getLong
    // NPEs on null); the edge side is already null-free via the src=!=dst
    // filter (a null comparison is null → filtered)
    val s0 = seeds.select(col(seedCol).cast("long").as("node"))
      .filter(col("node").isNotNull).distinct()
    val sRows = s0.limit(maxDriverEdges.toInt + 1).collect()
    if (eRows.length > maxDriverEdges || sRows.length > maxDriverEdges) {
      bfsHops(edges, srcCol, dstCol, seeds, seedCol, maxHops)
    } else {
      val adj = new java.util.HashMap[Long, java.util.ArrayList[Long]]()
      eRows.foreach { r =>
        adj.computeIfAbsent(r.getLong(0), _ => new java.util.ArrayList[Long]())
          .add(r.getLong(1))
      }
      val hops = new java.util.TreeMap[Long, Long]()
      var frontier = new java.util.ArrayList[Long]()
      sRows.foreach { r =>
        if (!hops.containsKey(r.getLong(0))) {
          hops.put(r.getLong(0), 0L); frontier.add(r.getLong(0))
        }
      }
      for (h <- 1 to maxHops) {
        val next = new java.util.ArrayList[Long]()
        frontier.forEach { n =>
          val out = adj.get(n)
          if (out != null) out.forEach { d =>
            if (!hops.containsKey(d)) { hops.put(d, h.toLong); next.add(d) }
          }
        }
        frontier = next
      }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](hops.size)
      hops.forEach((n, h) => out += ((n.longValue, h.longValue)))
      import spark.implicits._
      out.toSeq.toDF("node", "hops")
    }
  }
}
