package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.LongType

/** Whole-operator extension (tier (c) of the ladder: LogicalPlan + Strategy
  * + SparkPlan, SURVEY §7.3): per-group bounded top-k with rank.
  *
  * The built-in way to get "top k rows per group" is a window `row_number`
  * plus filter, which SORTS every group in full — O(n log n) per partition
  * and the sort buffers/spills the whole input. This operator keeps a bounded
  * k-row heap per group instead: O(n log k) time, O(groups·k) memory, nothing
  * spilled. For ANN top-k over 100 TB of candidates (k≈10, groups≈probe set)
  * the difference is the whole sort.
  *
  * Distribution: declares `ClusteredDistribution(groupExprs)` so
  * EnsureRequirements plans exactly one hash exchange on the group keys —
  * the same shuffle the window strategy needs, minus its sort.
  */
case class TopKPerGroupPlan(
    groupExprs: Seq[Expression],
    sortOrder: Seq[SortOrder],
    k: Int,
    child: LogicalPlan,
    rankAttr: Attribute = AttributeReference("rank", LongType, nullable = false)())
  extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroupPlan =
    copy(child = newChild)
}

object TopKPerGroupStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupPlan(g, so, k, child, rank) =>
      // Grouped top-k plans as PARTIAL → exchange → FINAL (round 22, guide
      // §2.3 "aggregate before you shuffle"): the partial node runs the
      // same bounded per-group heap over each MAP partition, so at most
      // k rows per (group, partition) cross the group-key exchange that
      // EnsureRequirements inserts between the two — instead of the full
      // scored pair stream (the knnGraph/semantic family shuffles O(cell²)
      // pair rows without it). Top-k is a semilattice (local top-k then
      // merged top-k = global top-k), and every caller's sort order is a
      // total order over its rows (id tie-breaks — the oracle's hash-exact
      // gate pins that), so the final heap over partial survivors emits
      // exactly the single-phase selection.
      TopKPerGroupExec(g, so, k, rank,
        if (g.isEmpty) planLater(child)
        else TopKPerGroupPartialExec(g, so, k, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Map-side partial of [[TopKPerGroupExec]]: the identical bounded per-group
  * heap run over each input partition AS-IS (no required distribution, no
  * rank emitted). Placed under the final exec so the exchange between them
  * carries at most k rows per (group, map partition).
  */
case class TopKPerGroupPartialExec(
    groupExprs: Seq[Expression],
    sortOrder: Seq[SortOrder],
    k: Int,
    child: SparkPlan)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val childOut = child.output
    val gExprs = groupExprs
    val so = sortOrder
    val kk = k
    val numOutputRows = longMetric("numOutputRows")
    child.execute().mapPartitions { iter =>
      val heaps = TopKPerGroup.perKeyHeaps(iter, UnsafeProjection.create(gExprs, childOut),
        RowOrdering.create(so, childOut), kk, "TopKPerGroupPartialExec")
      heaps.iterator.flatMap { case (_, heap) =>
        heap.dequeueAll.iterator.map { (r: InternalRow) => numOutputRows += 1; r }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupPartialExec =
    copy(child = newChild)
}

case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    sortOrder: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    child: SparkPlan)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numGroups" -> SQLMetrics.createMetric(sparkContext, "number of groups"))

  override def requiredChildDistribution: Seq[Distribution] =
    // Empty groupExprs = GLOBAL top-k. We still accept any child distribution:
    // doExecute runs a bounded local top-k per input partition (≤ k rows out)
    // and merges the ≤ k·numPartitions survivors in one final task — never
    // the single-partition full sort a global window needs.
    if (groupExprs.isEmpty) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val childOut = child.output
    val gExprs = groupExprs
    val so = sortOrder
    val kk = k
    val outTypes = output.map(_.dataType).toArray
    val numOutputRows = longMetric("numOutputRows")
    val numGroups = longMetric("numGroups")

    // Bounded local top-k of one iterator: max-heap whose head is the current
    // worst of the best-k. O(n log k) time, O(k) state.
    def localTopK(iter: Iterator[InternalRow], baseOrd: Ordering[InternalRow])
        : scala.collection.mutable.PriorityQueue[InternalRow] = {
      implicit val ord: Ordering[InternalRow] = baseOrd
      val heap = scala.collection.mutable.PriorityQueue.empty[InternalRow]
      iter.foreach { row =>
        if (heap.size < kk) heap.enqueue(row.copy())
        else if (baseOrd.compare(row, heap.head) < 0) {
          heap.dequeue(); heap.enqueue(row.copy())
        }
      }
      heap
    }

    def emit(heap: scala.collection.mutable.PriorityQueue[InternalRow],
             joined: JoinedRow, outProj: UnsafeProjection): Iterator[InternalRow] = {
      // dequeueAll yields worst-first for a max-heap; reverse → rank order
      val ranked: Seq[InternalRow] = heap.dequeueAll.reverse.toSeq
      ranked.iterator.zipWithIndex.map { pair =>
        numOutputRows += 1
        outProj(joined(pair._1, InternalRow((pair._2 + 1).toLong))): InternalRow
      }
    }

    if (gExprs.isEmpty) {
      // Global top-k, two-phase: per-partition bounded heaps, then ONE merge
      // task over ≤ k·numPartitions pre-filtered rows (rank assigned there).
      val partial = child.execute().mapPartitions { iter =>
        val o = RowOrdering.create(so, childOut)
        val ord: Ordering[InternalRow] = (a: InternalRow, b: InternalRow) => o.compare(a, b)
        localTopK(iter, ord).iterator
      }
      partial.repartition(1).mapPartitions { iter =>
        val o = RowOrdering.create(so, childOut)
        val ord: Ordering[InternalRow] = (a: InternalRow, b: InternalRow) => o.compare(a, b)
        val joined = new JoinedRow
        val outProj = UnsafeProjection.create(outTypes)
        numGroups += 1
        emit(localTopK(iter, ord), joined, outProj)
      }
    } else {
      child.execute().mapPartitions { iter =>
        val heaps = TopKPerGroup.perKeyHeaps(iter, UnsafeProjection.create(gExprs, childOut),
          RowOrdering.create(so, childOut), kk, "TopKPerGroupExec")
        numGroups += heaps.size
        val joined = new JoinedRow
        val outProj = UnsafeProjection.create(outTypes)
        heaps.iterator.flatMap { case (_, heap) => emit(heap, joined, outProj) }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

object TopKPerGroup {

  /** Belt-and-braces state guard: the operator's memory is O(groups·k) per
    * partition, so more groups than this in one partition fail loudly
    * instead of OOMing an executor.
    */
  private val MaxGroupsPerPartition = 50000000L

  /** The bounded per-key heap loop both execs run over one partition: a
    * max-heap per group key whose head is the current worst of the best
    * `k` rows. O(n log k) time, O(groups·k) state.
    */
  private[plans] def perKeyHeaps(iter: Iterator[InternalRow], keyProj: UnsafeProjection,
      o: Ordering[InternalRow], k: Int, exec: String)
      : scala.collection.mutable.HashMap[UnsafeRow, scala.collection.mutable.PriorityQueue[InternalRow]] = {
    implicit val ord: Ordering[InternalRow] = o
    val heaps = scala.collection.mutable.HashMap
      .empty[UnsafeRow, scala.collection.mutable.PriorityQueue[InternalRow]]
    iter.foreach { row =>
      val key = keyProj(row)
      heaps.get(key) match {
        case Some(heap) =>
          if (heap.size < k) heap.enqueue(row.copy())
          else if (o.compare(row, heap.head) < 0) {
            heap.dequeue(); heap.enqueue(row.copy())
          }
        case None =>
          if (heaps.size >= MaxGroupsPerPartition) {
            throw new IllegalStateException(
              s"$exec: more than $MaxGroupsPerPartition groups in one partition " +
                "(O(groups*k) state would exceed memory); repartition finer")
          }
          val heap = scala.collection.mutable.PriorityQueue.empty[InternalRow]
          heap.enqueue(row.copy())
          heaps.put(key.copy(), heap)
      }
    }
    heaps
  }

  /** Registers the strategy on the session (idempotent). Also injectable via
    * GraftExtensions for config-time wiring.
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!s.experimental.extraStrategies.contains(TopKPerGroupStrategy))
      s.experimental.extraStrategies = s.experimental.extraStrategies :+ TopKPerGroupStrategy
  }

  /** Top `k` rows per group of `groupCols`, ordered by `orderCols`
    * ((name, descending)); appends a 1-based `rank` column.
    */
  def topK(df: DataFrame, groupCols: Seq[String], orderCols: Seq[(String, Boolean)],
           k: Int): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    register(spark)
    val child = df.queryExecution.analyzed
    def attr(n: String): Attribute = child.output.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(s"no column $n in ${child.output.map(_.name)}"))
    val so = orderCols.map { case (n, desc) =>
      SortOrder(attr(n), if (desc) Descending else Ascending)
    }
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      TopKPerGroupPlan(groupCols.map(attr), so, k, child))
  }
}
