package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Deterministic storage hygiene for queries that RETURN a checkpointed
  * frame (corpus pipeline, connected components): the caller holds the
  * frame, so the query can't free its own blocks — and the ContextCleaner
  * only reclaims them at some later driver GC. Across a 116-query × 2-pass
  * bench that nondeterministic reclaim shows up as warm runs slower than
  * cold (executor storage carries every previous invocation's blocks).
  *
  * [[cycle]] registers the frame under a stable key and frees the PREVIOUS
  * frame registered under that key — each query invocation cleans up after
  * its predecessor, bounding live checkpoint storage at one invocation per
  * key without touching the frame the current caller holds.
  *
  * CONTRACT — single live frame per (session, key): cycling key K frees the
  * blocks of the frame previously cycled under K, whose lineage is truncated
  * (localCheckpoint) and CANNOT recompute. A caller that still holds the
  * earlier frame must not re-execute it after a newer frame is cycled under
  * the same key; use distinct keys for concurrently-live results. Keys are
  * scoped to the owning SparkSession, so identically-named queries in
  * different sessions (tests vs mains) never unpersist across sessions.
  */
object CkptCycle {

  private val last =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), DataFrame]()
  private val lastCached =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.SparkSession, String), DataFrame]()

  /** Free the blocks of EVERY frame registered for `spark` and forget the
    * keys — inter-query hygiene for a harness (Bench) that knows no cycled
    * frame will be re-executed. Same single-live-frame contract as [[cycle]]:
    * after release, a previously returned frame cannot recompute; the next
    * invocation of its query builds and registers a fresh one.
    */
  def releaseAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    val it = last.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq spark) {
        if (!spark.sparkContext.isStopped) release(e.getValue)
        it.remove()
      }
    }
    val itC = lastCached.entrySet().iterator()
    while (itC.hasNext) {
      val e = itC.next()
      if (e.getKey._1 eq spark) {
        if (!spark.sparkContext.isStopped) e.getValue.unpersist(blocking = false)
        itC.remove()
      }
    }
  }

  /** A stable PER-CALL-SITE key: `<prefix>@<callerClass>:<line>`. Repeated
    * invocations from the same source line share the key (so [[cycle]]
    * still frees the predecessor's blocks), while two DIFFERENT call sites
    * never collide — the safe default for operators that checkpoint
    * internally, where a shared default key would let two concurrently-live
    * results silently free each other's truncated-lineage blocks.
    * `skipClassPrefixes` names the operator's own classes so the key lands
    * on its caller, not on an internal frame.
    */
  def callSiteKey(prefix: String, skipClassPrefixes: String*): String = {
    val st = Thread.currentThread().getStackTrace
    val f = st.drop(1).find { e =>
      val cn = e.getClassName
      !cn.startsWith("java.") && !cn.startsWith("jdk.") &&
      !cn.startsWith("graft.CkptCycle") &&
      !skipClassPrefixes.exists(cn.startsWith)
    }.getOrElse(st.last)
    s"$prefix@${f.getClassName}:${f.getLineNumber}"
  }

  /** The LAZY-cache sibling of [[cycle]] for multi-consumer frames whose
    * FIRST consumer scans the whole frame anyway (e.g. a probe broadcast
    * over the full batch): `persist` fills inside that consumer's job, so
    * no dedicated materialization job is ever launched — where an eager
    * localCheckpoint pays one — and the lineage stays intact (an evicted
    * block recomputes instead of failing). Same single-live-frame cycling:
    * registering key K unpersists the frame previously registered under K.
    */
  def cycleCached(key: String, df: DataFrame): DataFrame = {
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val prev = lastCached.put((df.sparkSession, key), df)
    if (prev != null && (prev ne df) && !prev.sparkSession.sparkContext.isStopped)
      prev.unpersist(blocking = false)
    df
  }

  def cycle(key: String, df: DataFrame): DataFrame = {
    val prev = last.put((df.sparkSession, key), df)
    // A stopped context has already dropped all blocks — and unpersist
    // against it throws; skip rather than crash the successor query.
    if (prev != null && (prev ne df) && !prev.sparkSession.sparkContext.isStopped)
      release(prev)
    df
  }

  /** Free the executor blocks behind every local checkpoint in `df`'s plan
    * except those that `keep`'s plans also reach (a caller's inputs). A
    * checkpointed plan is a LogicalRDD leaf over cached blocks that are
    * otherwise dropped only when the ContextCleaner notices the RDD is
    * unreachable (whenever a driver GC happens to run). A released frame
    * cannot recompute. Reliable-checkpoint RDDs are files, not blocks;
    * unpersist on them is a harmless no-op.
    */
  def release(df: DataFrame, keep: DataFrame*): Unit = {
    val kept = keep.flatMap(_.queryExecution.analyzed.collect {
      case lr: LogicalRDD => lr.rdd.id
    }).toSet
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD if !kept(lr.rdd.id) => lr.rdd.unpersist(blocking = false)
      case _                                  => ()
    }
  }
}
