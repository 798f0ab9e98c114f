package perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchSql, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed call into a layer. Times are epoch milliseconds with a
  * fractional part taken from the monotonic clock.
  */
final case class Span(id: Long, name: String, parent: Long, start: Double,
                      end: Double)

/** Engine work attributed to one span: the jobs it fired and their tasks. */
final class Counts {
  var jobs, stages, tasks, failedTasks = 0L
  var cpuNs, gcMs, shuffleBytes, spillBytes = 0L
  var stageIntervals = List.empty[(Long, Long)]
}

/** One SQL execution (an action or a write command). */
final class Execution(val id: Long) {
  var start, end = 0L
  var span = 0L
  var table: Option[String] = None
  var bytes, files, rows = 0L
  var optimizerMs, planningMs, rulesNs = 0.0
  var topkPartialRows = 0L
  var action = ""
  var nodes = Set.empty[String]
  /** graft codegen kernels (expressions of `graft.plans`) in the plan */
  var kernels = Set.empty[String]
}

/** Spans kept in memory plus the listener-side counts, attributed to spans
  * through the `perfbench.span` local property that every job a span's
  * call fires inherits. SQL executions join their spans through their jobs'
  * `spark.sql.execution.id`; each write execution names its table by the
  * output path of its write command. With tracing off every method is a cheap no-op
  * apart from `span`'s two clock reads.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List(0L)
  private var nextId = 1L
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  private def nowMs = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  // listener state, written on the bus thread and read after `drain`
  private val counts = mutable.HashMap.empty[Long, Counts]
  val executions = mutable.LinkedHashMap.empty[Long, Execution]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val rddBlocks = mutable.HashMap.empty[String, Long]
  val rddsStored = mutable.HashSet.empty[Int]
  var storedBytes, peakStoredBytes = 0L

  // generated-code compilations since the session started: count, and
  // milliseconds estimated from the histogram's mean
  private def codegen = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean)
  }
  private val codegenAtStart = codegen
  def codegenSinceStart: (Long, Double) = {
    val (n, ms) = codegen
    (n - codegenAtStart._1, ms - codegenAtStart._2)
  }

  private def countsOf(span: Long) = counts.getOrElseUpdate(span, new Counts)
  private def execOf(id: Long) = executions.getOrElseUpdate(id, new Execution(id))

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties).getOrElse(new Properties)
      val span = Option(props.getProperty("perfbench.span")).map(_.toLong).getOrElse(0L)
      countsOf(span).jobs += 1
      e.stageIds.foreach(stageSpan(_) = span)
      Option(props.getProperty("spark.sql.execution.id")).foreach { x =>
        val ex = execOf(x.toLong); if (ex.span == 0L) ex.span = span
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val c = countsOf(stageSpan.getOrElse(e.stageInfo.stageId, 0L))
      c.stages += 1
      for (s <- e.stageInfo.submissionTime; t <- e.stageInfo.completionTime)
        c.stageIntervals ::= (s, t)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val c = countsOf(stageSpan.getOrElse(e.stageId, 0L))
      c.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val info = e.blockUpdatedInfo
      info.blockId.asRDDId.foreach { rdd =>
        val key = info.blockId.name
        val bytes = info.memSize + info.diskSize
        storedBytes += bytes - rddBlocks.getOrElse(key, 0L)
        if (bytes > 0) { rddBlocks(key) = bytes; rddsStored += rdd.rddId }
        else rddBlocks.remove(key)
        peakStoredBytes = math.max(peakStoredBytes, storedBytes)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          val ex = execOf(s.executionId)
          ex.start = s.time
          ex.action = s.description
        case s: SparkListenerSQLExecutionEnd =>
          val ex = execOf(s.executionId)
          ex.end = s.time
          PerfbenchSql.queryExecution(s).foreach(record(ex, _))
        case _ =>
      }
    }
  }

  private def record(ex: Execution, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    ex.optimizerMs += phases.get("optimization").map(_.durationMs.toDouble).getOrElse(0.0)
    ex.planningMs += phases.get("planning").map(_.durationMs.toDouble).getOrElse(0.0)
    ex.rulesNs += qe.tracker.rules.collect {
      case (rule, s) if rule.startsWith("graft.") => s.totalTimeNs.toDouble
    }.sum
    val nodes = Trace.collectAll(qe.executedPlan)
    ex.nodes ++= nodes.map(_.nodeName)
    ex.kernels ++= nodes.flatMap(_.expressions.flatMap(_.collect {
      case e if e.getClass.getName.startsWith("graft.plans.") => e.getClass.getSimpleName
    }))
    nodes.foreach {
      case w: DataWritingCommandExec =>
        w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand =>
            ex.table = Some(i.outputPath.getName.stripSuffix("__tmp"))
          case _ =>
        }
        val m = w.cmd.metrics
        ex.bytes += m.get("numOutputBytes").map(_.value).getOrElse(0L)
        ex.files += m.get("numFiles").map(_.value).getOrElse(0L)
        ex.rows += m.get("numOutputRows").map(_.value).getOrElse(0L)
      case _ =>
    }
    nodes.foreach { p =>
      if (p.nodeName.startsWith("TopKPerGroupPartial"))
        ex.topkPartialRows += p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }
  }

  if (enabled) {
    sc.addSparkListener(Listener)
  }

  /** Run `f` as a span named `name`, a child of the enclosing span. */
  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.head
      stack = id :: stack
      sc.setLocalProperty("perfbench.span", id.toString)
      val start = nowMs
      try f
      finally {
        val end = nowMs
        stack = stack.tail
        sc.setLocalProperty("perfbench.span",
          if (stack.head == 0L) null else stack.head.toString)
        spans += Span(id, name, parent, start, end)
      }
    }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = if (enabled) PerfbenchBus.drain(sc)

  /** Ids of `root` and every span below it. */
  def subtree(root: Long): Set[Long] = {
    val kids = spans.groupBy(_.parent)
    def walk(id: Long): Set[Long] =
      kids.getOrElse(id, Nil).foldLeft(Set(id))((acc, s) => acc ++ walk(s.id))
    walk(root)
  }

  /** Counts summed over `ids`. */
  def total(ids: Iterable[Long]): Counts = synchronized {
    val t = new Counts
    ids.flatMap(counts.get).foreach { c =>
      t.jobs += c.jobs; t.stages += c.stages; t.tasks += c.tasks
      t.failedTasks += c.failedTasks; t.cpuNs += c.cpuNs; t.gcMs += c.gcMs
      t.shuffleBytes += c.shuffleBytes; t.spillBytes += c.spillBytes
      t.stageIntervals = c.stageIntervals ::: t.stageIntervals
    }
    t
  }

  /** Executions attributed to any of `ids`. */
  def executionsIn(ids: Set[Long]): Seq[Execution] = synchronized {
    executions.values.filter(e => ids(e.span)).toSeq
  }
}

/** Jobs started and bytes written by tasks, counted in every run (tracing
  * or not): the two numbers the end-to-end metrics use besides time.
  */
final class WorkCounter(sc: SparkContext) extends SparkListener {
  @volatile private var jobs, bytes = 0L
  sc.addSparkListener(this)
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) bytes += e.taskMetrics.outputMetrics.bytesWritten
  def snapshot(): (Long, Long) = { PerfbenchBus.drain(sc); (jobs, bytes) }
  /** Jobs and bytes since `before`, after the bus has drained. */
  def since(before: (Long, Long)): (Long, Long) = {
    val (j, b) = snapshot(); (j - before._1, b - before._2)
  }
}

object Trace {
  /** Plan nodes including those inside adaptive query stages. */
  def collectAll(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.CommandResultExec
    import org.apache.spark.sql.execution.adaptive._
    plan.flatMap {
      case a: AdaptiveSparkPlanExec => a +: collectAll(a.executedPlan)
      case q: QueryStageExec => q +: collectAll(q.plan)
      case c: CommandResultExec => c +: collectAll(c.commandPhysicalPlan)
      case p => Seq(p)
    }
  }

  /** Length of the union of [start, end] intervals. */
  def covered(intervals: Seq[(Double, Double)]): Double =
    intervals.sortBy(_._1).foldLeft((0.0, Double.NegativeInfinity)) {
      case ((acc, reach), (s, e)) =>
        if (e <= reach) (acc, reach)
        else (acc + e - math.max(s, reach), e)
    }._1
}
