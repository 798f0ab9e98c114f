package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the closure step every
  * near-dedup pipeline needs after pair generation: LSH/Jaccard emit PAIRS,
  * but survivorship must be decided per CLUSTER (a~b, b~c ⇒ {a,b,c} keep one
  * representative), and pairwise keep-the-smaller would over- or under-delete.
  *
  * Algorithm: iterative min-label propagation. Every node starts labeled with
  * its own id; each round a node adopts the minimum label among itself and
  * its neighbors; fixpoint = components labeled by their minimum member id.
  * Rounds needed = graph diameter (near-dup clusters are shallow — dozens of
  * members, diameter a handful), each round is one join + one min-aggregate,
  * both shuffling on the node id only. The edge set is persisted once and
  * reused every round.
  *
  * Round cost discipline: each round runs exactly ONE job — the eager
  * checkpoint that materializes the new label set — with the convergence
  * count riding on it as an observed metric (`CollectMetrics`), not a second
  * driver-side probe job. The superseded round's checkpoint blocks are freed
  * explicitly the moment the new round is materialized; leaving them to GC
  * accumulates every round's label set in executor storage across the loop
  * (measured at sf0.1: q_dedup_survivors 13.0 s warm vs 5.6 s cold purely
  * from stale blocks).
  *
  * At 100 TB scale the same loop holds: edges ≪ corpus (pairs only exist
  * where content overlaps), and the alternative single-pass formulations
  * (recursive closure, GraphX pregel) either blow up quadratically on big
  * components or add a dependency; bounded-round label propagation is the
  * standard Spark-native answer. On a real cluster set
  * `sparkContext.setCheckpointDir(...)` — the loop then uses reliable
  * checkpoints, which survive executor loss (local checkpoint blocks do not:
  * losing one mid-loop fails the job).
  */
object Components {

  /** Truncate lineage for one propagation round (the logical plan would
    * otherwise DOUBLE per round — labels feeds both the join and the union
    * branch — 2^rounds plan nodes, which blows up analysis long before data
    * does). Reliable checkpoint when the context has a checkpoint dir
    * (cluster posture: survives executor loss); local checkpoint otherwise
    * (fastest; single-process testing).
    */
  private[operators] def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = true)
    else graft.Materialize.eager(df)

  /** Edge-count threshold below which closure runs as driver union-find
    * instead of the distributed loop — the broadcast-join pattern applied
    * to graph closure. After LSH banding the pair set is orders of
    * magnitude smaller than the corpus (pairs exist only where content
    * overlaps), so the common case even at 100 TB is an edge set that fits
    * comfortably on the driver: 1M edges × 16 bytes = 16 MB, far under any
    * sane driver heap, collected only AFTER the count proves it's small —
    * the collect is bounded by construction. The distributed loop remains
    * the automatic fallback above the threshold.
    */
  val LocalEdgeThreshold: Long = 1L << 20

  /** Rounds propagated per checkpoint in the distributed loop. Each lazy
    * round references the label set twice (join + union), so the analyzed
    * plan grows 2^k between checkpoints — k=3 bounds that at 8 plan copies
    * while cutting the loop's job count (and its per-round scheduling
    * overhead, the measured cost at small scale) by 3×. Convergence is
    * still exact: labels only decrease, so "no change in the batch's LAST
    * round" is a fixpoint regardless of what earlier rounds in the batch
    * did.
    */
  private val RoundsPerCheckpoint = 3

  /** @return (node, component_id) for every node appearing in `pairs`,
    *         component_id = minimum node id of the component. Deterministic.
    *         Small edge sets (≤ `localThreshold` directed edges) close via
    *         driver union-find in one pass; larger ones run bounded-round
    *         min-label propagation and read from the final checkpoint.
    *         Throws if the label set has not converged after `maxIters`
    *         rounds (rounds needed = component diameter).
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIters: Int = 20,
                          localThreshold: Long = LocalEdgeThreshold): DataFrame = {
    // UNDIRECTED pair set, one pass: the previous shape mirrored via
    // self-union — two consumers of the whole pair-generation subtree, no
    // shared exchange boundary between the map-only legs, so the pair join
    // (this operator's dominant upstream cost at every call site) executed
    // twice per closure (the round-22 mergeKnnGraph newEdges finding, same
    // fix). Union-find doesn't care about direction, so the local path
    // collects HALF the rows; the distributed path mirrors map-side off the
    // persisted undirected set with explode(array(fwd, rev)) — identical
    // row multiset to the old union, distinct unchanged above it.
    val undirected = graft.Materialize.lazily(pairs
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .distinct())
    // One job sizes the edge set (and materializes the persist for either
    // path); the size decides the strategy, exactly like a broadcast
    // threshold decides a join's. 2× because the old threshold counted
    // DIRECTED edges (the collect/propagation working-set bound).
    val nPairs = undirected.count()
    if (2L * nPairs <= localThreshold) {
      val result = localClosure(pairs.sparkSession, undirected)
      graft.Materialize.release(undirected)
      result
    } else {
      val edges = graft.Materialize.lazily(undirected.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("__e"))
        .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
        .distinct())
      val result = distributedClosure(edges, maxIters)
      graft.Materialize.release(undirected)
      result
    }
  }

  /** Driver union-find over a proven-small UNDIRECTED pair set (union-find
    * is direction-blind, so the collect moves half the mirrored set's
    * bytes): one collect (bounded by the caller's threshold check),
    * path-halving find, union by min id so the representative IS the
    * component minimum. O(E α(E)).
    */
  private def localClosure(spark: org.apache.spark.sql.SparkSession,
                           edges: DataFrame): DataFrame = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) {
        parent.put(r, parent.get(parent.get(r)))
        r = parent.get(r)
      }
      r
    }
    // One job; the array is ≤ threshold × 16 bytes by the caller's count
    // check (toLocalIterator would be smaller-footprint but runs one job
    // PER PARTITION — 32 sequential jobs of scheduling overhead).
    edges.select(col("src"), col("dst")).collect().foreach { row =>
      val a = row.getLong(0); val b = row.getLong(1)
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        // Union by min id: the surviving root is the smaller id, which
        // makes the final root per component its minimum member directly.
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val labels = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
    parent.keySet.forEach(n => labels += ((n, find(n))))
    import spark.implicits._
    spark.createDataset(labels.toSeq).toDF("node", "component_id")
  }

  /** Bounded-round min-label propagation, checkpointing (and observing
    * convergence) every [[RoundsPerCheckpoint]] rounds.
    */
  private def distributedClosure(edges: DataFrame, maxIters: Int): DataFrame = {
    var labels = truncate(
      edges.select(col("src").as("node")).distinct().withColumn("label", col("node")))
    var prevRound = labels
    var converged = false
    var iters = 0
    while (!converged && iters < maxIters) {
      val k = math.min(RoundsPerCheckpoint, maxIters - iters)
      // Neighbors' labels flow along edges; the node's OWN previous label
      // rides along tagged (__own) so convergence needs no join against the
      // previous round: after the min-aggregate, a row changed iff
      // min-over-all < min-over-own. k lazy rounds stack into ONE
      // checkpoint job; the observed changed-count of the LAST round rides
      // on it (labels are monotone, so 0 changes there = global fixpoint).
      val obs = Observation()
      var prop: DataFrame = null
      for (r <- 1 to k) {
        val round = edges.join(labels, col("src") === col("node"))
          .select(col("dst").as("node"), col("label"), lit(0).as("__own"))
          .union(labels.withColumn("__own", lit(1)))
          .groupBy(col("node"))
          .agg(min(col("label")).as("label"),
            min(when(col("__own") === 1, col("label"))).as("__prev"))
        prop = if (r == k)
          truncate(round.observe(obs, count(when(col("label") < col("__prev"), 1)).as("changed")))
        else null
        labels =
          (if (r == k) prop else round).select(col("node"), col("label"))
      }
      converged = obs.get("changed").asInstanceOf[Long] == 0L
      graft.Materialize.release(prevRound)
      prevRound = prop
      iters += k
    }
    graft.Materialize.release(edges)
    // Fail loudly rather than return silently split components: an
    // unconverged label set would make survivors() emit multiple
    // "representatives" per true cluster — a wrong deletion list. (Rounds
    // needed = graph diameter; raise maxIters for pathological chains.)
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIters rounds — " +
      "component diameter exceeds maxIters; raise it (rounds = diameter)")
    labels.select(col("node"), col("label").as("component_id"))
  }

  /** Cluster survivors: one representative (min id) per component plus the
    * cluster size — the deletion list is every clustered node that is not its
    * component's representative.
    */
  def survivors(components: DataFrame): DataFrame =
    components.groupBy(col("component_id"))
      .agg(count(lit(1)).as("n_members"))
      .select(col("component_id").as("survivor_id"), col("n_members"))

  /** Quality-aware survivorship — the FineWeb/DataComp refinement of
    * min-id survivorship: per near-dup component keep the member with the
    * HIGHEST quality score (ties → lowest id, so the choice is total and
    * engine-exact). When copies genuinely differ (OCR noise, truncation,
    * trailing boilerplate), the cleanest phrasing should survive, not the
    * accidentally-lowest id. Returns
    * (component_id, survivor_id, survivor_score, n_members).
    *
    * Scale: one id-keyed join of the component map (clustered nodes only —
    * orders of magnitude smaller than the corpus) against the score frame,
    * then a component-keyed struct-max aggregate with map-side combine;
    * no windows, no second pass. The struct max (score, -id, id) is the
    * lexicographic argmax with the deterministic tiebreak.
    *
    * Scores are read as INTEGERS (`cast('long')`) — the engine-exact
    * fixed-point posture every scorer in this library follows; a caller
    * with fractional scores must pre-scale to fixed point, or the cast
    * truncates and manufactures ties the real scores don't have. Members
    * MISSING from `scored` (or whose score casts to NULL) still count
    * toward `n_members` and can still survive — via the LEFT join they
    * carry a sentinel minimal score (Long.MinValue), so an unscored member
    * wins only when NO member of its component is scored (then lowest id,
    * keeping the choice total and deterministic).
    */
  def survivorsByQuality(components: DataFrame, scored: DataFrame,
                         idCol: String, scoreCol: String): DataFrame =
    components.join(
        scored.select(col(idCol).cast("long").as("node"),
          col(scoreCol).cast("long").as("__s")), Seq("node"), "left")
      .withColumn("__s", coalesce(col("__s"), lit(Long.MinValue)))
      .groupBy(col("component_id"))
      .agg(
        max(struct(col("__s").as("s"), (-col("node")).as("negid"),
          col("node").as("sid"))).as("__m"),
        count(lit(1)).as("n_members"))
      .select(col("component_id"), col("__m.sid").as("survivor_id"),
        col("__m.s").as("survivor_score"), col("n_members"))
}
