package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer

/** The one owner of intermediate materializations. Operators pin a stage
  * with [[eager]] (a local checkpoint, materialized now) or [[lazily]] (a
  * MEMORY_AND_DISK persist that fills inside its first consumer's job);
  * whoever runs the action opens a [[scope]] around the build and the
  * action, and the scope frees every frame made inside it when it closes.
  *
  * LIFETIME RULE — a frame lives until the innermost scope open on the
  * thread that made it closes, on normal exit and on throw. Nested scopes
  * free only their own frames. A frame made outside any scope is not
  * tracked: the ContextCleaner reclaims its blocks once it is unreachable,
  * like any other RDD. A checkpointed frame cannot recompute after its
  * scope closes, so consume it (collect / write / count) inside the scope.
  *
  * Scopes are per thread: a frame materialized on another thread belongs
  * to that thread's scope (or to none) until [[own]] records it here.
  */
object Materialize {

  /** How to free each frame of each scope open on this thread, innermost
    * scope first. */
  private val open = new ThreadLocal[List[ArrayBuffer[() => Unit]]] {
    override def initialValue(): List[ArrayBuffer[() => Unit]] = Nil
  }

  /** Register `free` with the innermost scope open on this thread, if any.
    * A stopped context has already dropped every block. */
  private def record(df: DataFrame)(free: => Unit): Unit =
    open.get.headOption.foreach(_ += (() => if (!df.sparkSession.sparkContext.isStopped) free))

  /** Materialize `df` now as a local checkpoint (lineage truncated). */
  def eager(df: DataFrame): DataFrame = own(df.localCheckpoint(true))

  /** Persist `df` (MEMORY_AND_DISK) without running a job: the first
    * consumer's action fills the blocks, and an evicted block recomputes. */
  def lazily(df: DataFrame): DataFrame = {
    val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    record(cached)(cached.unpersist(blocking = false))
    cached
  }

  /** Free the storage of a frame [[eager]] or [[lazily]] made, now — for
    * iterative loops that drop the previous round, and stages consumed
    * before the scope closes. Only the frame's own blocks go (a checkpoint
    * then cannot recompute); frames it was built from are untouched.
    * Reliable-checkpoint RDDs are files, not blocks; unpersist on them is
    * a harmless no-op.
    */
  def release(df: DataFrame): Unit =
    if (df.storageLevel != StorageLevel.NONE) df.unpersist(blocking = false)
    else df.queryExecution.analyzed match {
      case ckpt: LogicalRDD => ckpt.rdd.unpersist(blocking = false)
      case _                => ()
    }

  /** Run `body`, then free every frame [[eager]] and [[lazily]] made on
    * this thread inside it, however `body` exits. */
  def scope[A](body: => A): A = {
    val frees = ArrayBuffer.empty[() => Unit]
    val outer = open.get
    open.set(frees :: outer)
    try body
    finally {
      open.set(outer)
      frees.reverseIterator.foreach(_())
    }
  }

  /** Record `ckpt` — a frame [[eager]] made, possibly on another thread —
    * in the scope open on this thread, if any. */
  private[graft] def own(ckpt: DataFrame): DataFrame = {
    record(ckpt)(release(ckpt))
    ckpt
  }
}
