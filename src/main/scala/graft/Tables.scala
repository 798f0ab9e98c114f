package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers for the driver-generated parquet fixtures (TESTDATA.md).
  *
  * Mirrors the reference's source layer (SURVEY §2.1 S1–S5): the reference
  * globs csv.gz feeds (/root/reference/modules/data_analyzer.py:57-74) and
  * reads them schema-on-read; here the fixtures are parquet so the scan is a
  * columnar vectorized read with filter pushdown + column pruning for free.
  *
  * Scale note: a plain `spark.read.parquet(dir)` is already the right shape
  * for 100 TB — file listing and row-group pruning are distributed; nothing
  * here collects to the driver.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Schema-inference cache. `spark.read.parquet(path)` re-reads footers to
    * infer the schema on EVERY call — measured ~0.1 s per DataFrame
    * construction, the single largest slice of the suite's per-query fixed
    * cost. The fixtures are immutable for a session, so the inferred schema
    * is cached per path and passed explicitly — the same shape a metastore
    * catalog gives a production table (schema from metadata, never from
    * footer scans).
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Resolved-DataFrame cache. Every `spark.read.schema(s).parquet(path)`
    * builds a fresh file index (a filesystem listing) and a fresh analyzed
    * plan. On local disk with single-file fixtures that costs ~nothing
    * (measured: no warm-time change), but against an object store a listing
    * is a remote call per table per query — so the frame is cached per
    * (session, path) and reused, the exact service a metastore catalog's
    * cached relation provides in production. DataFrames are immutable and
    * the fixtures don't change within a session; keyed by session so
    * concurrently active sessions (tests vs mains) never cross wires.
    */
  private val frameCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Serializes every nanosAsLong probe-then-maybe-restore across the JVM:
    * the conf is session-global, so an unsynchronized restore could land
    * between another probe's set and its footer read. Genuinely-nanos reads
    * keep the flag set on exit — the lock scopes the PROBE, not the
    * scan-time requirement.
    */
  private val nanosProbeLock = new Object

  /** Drop cached frames whose owning session has stopped — otherwise the
    * strong (session → plan) references keep dead sessions reachable for
    * the life of the JVM (sbt test + mains run many sessions per JVM).
    * O(live entries) per call; the map holds ~tables × sessions entries.
    */
  private def evictStopped(): Unit =
    frameCache.keySet.removeIf(k => k._1.sparkContext.isStopped)

  private def readCached(spark: SparkSession, path: String): DataFrame = {
    evictStopped()
    frameCache.computeIfAbsent((spark, path), { case (s, p) =>
      val schema = schemaCache.computeIfAbsent(p, q => s.read.parquet(q).schema)
      s.read.schema(schema).parquet(p)
    })
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else readCached(spark, s"$dir/$name.parquet")

  /** `events.ts` has shipped as both parquet TIMESTAMP(NANOS) — which Spark
    * cannot read natively (PARQUET_TYPE_ILLEGAL) — and plain timestamp[us],
    * depending on the fixture generation. Normalize both to TIMESTAMP_NTZ:
    * with `nanosAsLong` set (harmless for micros files) a nanos column
    * infers as LongType and is truncated to micros — exactly what DuckDB
    * does when casting ns → TIMESTAMP; a micros column infers as a
    * timestamp and only needs the NTZ cast.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val key = (spark, s"$dir/events.parquet#ts_micros")
    // NOT computeIfAbsent: the builder itself reads through frameCache
    // (readCached), and a nested computeIfAbsent on the same map throws
    // "Recursive update" whenever the two keys land in one bin. Plain
    // get / putIfAbsent is race-safe here — frames are equivalent, so a
    // lost race just builds one redundant frame.
    val cached = frameCache.get(key)
    if (cached != null) cached
    else {
      // Must be set before the read: schema inference on a nanos file fails
      // outright without it; for a micros file it is a no-op. Scoped: when
      // the file turns out to be micros the previous value is RESTORED, so
      // the probe doesn't leak a session-wide behavior change (an unrelated
      // nanos read would then silently infer LongType instead of failing
      // loudly). When the file IS nanos the flag must stay set — the lazy
      // frame's parquet scan re-reads it at every action. The probe+restore
      // is serialized under nanosProbeLock: two concurrent probes (tests
      // and mains share sessions per JVM) could otherwise interleave one
      // probe's restore between the other's set and read.
      val base = Tables.nanosProbeLock.synchronized {
        val prevNanos = spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val b = readCached(spark, s"$dir/events.parquet")
        if (b.schema("ts").dataType != org.apache.spark.sql.types.LongType)
          prevNanos match {
            case Some(v) => spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", v)
            case None    => spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
          }
        b
      }
      val isNanos = base.schema("ts").dataType == org.apache.spark.sql.types.LongType
      val tsExpr =
        if (isNanos) expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
        else col("ts").cast("timestamp_ntz")
      val df = base.withColumn("ts", tsExpr)
      frameCache.putIfAbsent(key, df)
      frameCache.get(key)
    }
  }

  /** Spread map-heavy per-row compute off an UNSPLITTABLE narrow scan.
    *
    * Whole-stage codegen fuses a scan with everything map-side above it —
    * the right call when the scan parallelizes, but a single-row-group
    * parquet file plans ONE input partition, so a cheap serial read drags
    * hundreds of ms of fused tokenize/shingle/hash work into one task
    * (measured: the 1-task 200–500 ms stages on every documents-heavy
    * query; DuckDB pays the same serial scan but parallelizes the pipeline
    * above it). One row-level shuffle of the raw rows (KBs–MBs for the
    * fixtures) re-opens the parallelism.
    *
    * CONDITIONAL so it stays scale-honest: only fires when the plan's
    * input parallelism is under half the session's cores. At 100 TB the
    * scan is thousands of splits wide and this is the identity — the
    * operator never pays a corpus-wide text shuffle where the scan already
    * parallelizes (the measured rejection that kept a plain repartition
    * out of the shingle family).
    *
    * The gate reads the LOGICAL plan, never `df.rdd`: materializing `.rdd`
    * under AQE finalizes the adaptive plan and eagerly EXECUTES any
    * upstream exchange stages, whose results the separate repartitioned
    * execution then cannot reuse — a derived input would pay its upstream
    * shuffle twice. Parallelism is estimated from the plan shape instead:
    * a plan that already contains an exchange-inducing operator (join,
    * aggregate, window, sort, repartition) executes its map side at the
    * session's shuffle parallelism, so spread is the identity; a
    * narrow-only plan's parallelism is its leaves' — file split counts for
    * scans (size over `maxPartitionBytes`, the planner's own rule) and the
    * existing partition count for checkpointed [[LogicalRDD]] frames
    * (already materialized, so inspecting it launches nothing).
    */
  def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val want = spark.sparkContext.defaultParallelism
    if (planParallelism(df.queryExecution.optimizedPlan, spark) * 2L >= want) df
    else df.repartition(want)
  }

  private def planParallelism(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      spark: SparkSession): Long = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    // TOP-DOWN: the OUTPUT parallelism is set by the topmost partitioning
    // operator on each path — an exchange-inducing node above a limit
    // restores full parallelism (its output is session-managed), while a
    // GlobalLimit above everything collapses to ONE partition (the serial
    // case spread exists to fix — ADVICE r17, refined r18: the first cut
    // gave the limit unconditional priority, so limit-UNDER-join plans
    // were mis-estimated at 1 and spread added a redundant repartition)
    def walk(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Long =
      p match {
        case _: Join | _: Aggregate | _: Window | _: Sort | _: Distinct |
             _: Deduplicate | _: RepartitionOperation => Long.MaxValue
        case _: GlobalLimit => 1L
        case lr: LogicalRelation => lr.relation match {
          case fsr: HadoopFsRelation =>
            val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
            math.max(fsr.location.inputFiles.length.toLong,
              (fsr.location.sizeInBytes + maxBytes - 1) / maxBytes)
          case _ => Long.MaxValue
        }
        case lr: LogicalRDD => lr.rdd.getNumPartitions.toLong
        case leaf if leaf.children.isEmpty => Long.MaxValue
        case other => other.children.map(walk).foldLeft(Long.MaxValue)(math.min)
      }
    walk(plan)
  }
}
