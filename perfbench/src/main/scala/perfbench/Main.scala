package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

final case class Timed[T](value: T, wall: Double, cpu: Double)

/** State shared by a workload run: the session, where inputs and outputs
  * live, the sample sinks, and the failure ledger.
  */
final class Ctx(val spark: SparkSession, val data: String, val work: String,
                val seconds: Double, val seed: Long, val trace: Trace) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  var attempted, failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val checkFailures = mutable.ArrayBuffer.empty[String]
  private var started = System.nanoTime()
  private var opWallS, opCpuS = 0.0
  private val counter = new WorkCounter(spark.sparkContext)
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def add(metric: String, v: Double): Unit =
    samples.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += v
  /** Start the timed region: `timeLeft` counts `seconds` from here. */
  def startClock(): Unit = started = System.nanoTime()
  def timeLeft: Boolean = (System.nanoTime() - started) / 1e9 < seconds

  /** Wall seconds `f` takes. */
  def wallS(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }

  /** One attempted operation, timed: its result with wall seconds and the
    * process's CPU seconds (all threads: tasks, the driver, JIT and GC). A
    * throw counts as failed and is printed with its class and message; the
    * caller gets None and carries on.
    */
  def op[T](name: String)(f: => T): Option[Timed[T]] = {
    attempted += 1
    val before = counter.snapshot()
    val (c0, t0) = (os.getProcessCpuTime, System.nanoTime())
    try {
      val r = trace.span(name)(f)
      Some(Timed(r, (System.nanoTime() - t0) / 1e9, (os.getProcessCpuTime - c0) / 1e9))
    } catch {
      case NonFatal(e) =>
        failed += 1
        val msg = s"$name: ${e.getClass.getName}: ${e.getMessage}"
        failures += msg
        System.err.println(s"[perfbench] FAILED $msg")
        None
    } finally {
      opWallS += (System.nanoTime() - t0) / 1e9
      opCpuS += (os.getProcessCpuTime - c0) / 1e9
      // the op's work, counted once the listener bus has delivered its events
      val (jobs, bytes) = counter.since(before)
      add("jobs", jobs.toDouble)
      add("bytes_written", bytes.toDouble)
      sampleHeap()
    }
  }

  /** Close the workload's fixed work (its bulk operation and its minimum
    * number of steady-state ones): record their summed wall and CPU time and
    * the bytes they read and wrote.
    */
  def fixedWorkDone(): Unit = {
    values("work_s") = opWallS
    values("work_cpu_s") = opCpuS
    values("work_bytes_written") = samples("bytes_written").sum
    values("work_input_bytes") = samples("input_bytes").sum
  }

  /** Old-generation occupancy right after a full collection, sampled after
    * every operation, outside its timing.
    */
  private def sampleHeap(): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        p.getName.toLowerCase.contains("old"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    add("heap_mb", used / 1048576.0)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val cpus = Runtime.getRuntime.availableProcessors()
    val work = new File(opts("work")).getAbsolutePath
    val (spark, sessionS) = {
      val t0 = System.nanoTime()
      val s = session(cpus, work)
      (s, (System.nanoTime() - t0) / 1e9)
    }
    var exit = 0
    try {
      val trace = new Trace(spark, opts("trace") == "1")
      val ctx = new Ctx(spark, opts("data"), work, opts("seconds").toDouble,
        opts("seed").toLong, trace)
      val floorStart = floorProbe(spark, 0)
      Main.log("workload start")
      Workloads.all(workload)(ctx)
      Main.log("workload end")
      trace.drain()
      val floorEnd = floorProbe(spark, 100)
      val header = Map(
        "workload" -> workload, "seed" -> ctx.seed, "trace" -> trace.enabled,
        "nproc" -> cpus, "master" -> spark.sparkContext.master,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
        "java_version" -> System.getProperty("java.version"),
        "spark_version" -> spark.version,
        "spark_conf" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap,
        "session_start_s" -> sessionS,
        "floor_probe_start_s" -> floorStart, "floor_probe_end_s" -> floorEnd)
      val out = Map(
        "header" -> header, "samples" -> ctx.samples.map { case (k, v) => k -> v.toSeq }.toMap,
        "values" -> ctx.values.toMap, "layers" -> ctx.layers.toMap,
        "attempted" -> ctx.attempted, "failed" -> ctx.failed,
        "failures" -> ctx.failures.toSeq, "check_failures" -> ctx.checkFailures.toSeq,
        "peak_heap_mb" -> ctx.samples("heap_mb").max)
      write(new File(work, "result.json"), json(out))
      if (trace.enabled) {
        Main.write(new File(work, "executions.json"), json(trace.executions.values.map { e =>
          Map("id" -> e.id, "span" -> e.span, "action" -> e.action, "table" -> e.table,
            "start_ms" -> e.start, "end_ms" -> e.end, "rows" -> e.rows, "bytes" -> e.bytes,
            "files" -> e.files, "nodes" -> e.nodes.toSeq.sorted,
            "kernels" -> e.kernels.toSeq.sorted)
        }))
        val pw = new PrintWriter(new File(work, "spans.jsonl"))
        val run = s"$workload-${ctx.seed}"
        try trace.spans.sortBy(_.start).foreach { s =>
          pw.println(json(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
            "start_ms" -> s.start, "end_ms" -> s.end, "run" -> run)))
        } finally pw.close()
      }
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        exit = 1
    } finally spark.stop()
    sys.exit(exit)
  }

  /** The session graft.Bench builds (AQE, UTC, graft's extensions, no UI),
    * with every scratch directory inside the benchmark's work directory.
    */
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop-tmp").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // one warning per locally checkpointed RDD would bury the log's signal
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    s
  }

  /** graft.Bench's fixed-cost floor: median of five trivial one-job
    * queries, each with a distinct literal so nothing is reused.
    */
  def floorProbe(spark: SparkSession, offset: Int): Double = {
    val samples = (1 to 5).map { i =>
      val t0 = System.nanoTime()
      spark.range(0, 5, 1, 1).filter(col("id") >= i - offset).limit(1).count()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    samples(samples.size / 2)
  }

  private val t0 = System.nanoTime()
  /** A progress line on stderr, stamped with seconds since the JVM's main started. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s $msg")

  def write(f: File, s: String): Unit = {
    val pw = new PrintWriter(f); try pw.println(s) finally pw.close()
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def json(v: Any): String = mapper.writeValueAsString(v)
}
