package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, explode, length, lit, md5, sequence}

import graft.airbnb.{AirbnbEtl, Views, Warehouse}
import graft.functions.{SketchFns, TextFns}
import graft.operators.CorpusPipeline
import graft.streaming.Streams

/** The two workloads. Each runs `Main.SetupReps` timed set-ups, then its
  * fixed work (a bulk operation and a minimum number of steady-state ones),
  * then more steady-state operations while inputs remain and `--seconds`
  * have not passed since the fixed work began, then its correctness checks,
  * untimed. Samples and values:
  *   - `setup_s`: one per set-up;
  *   - `bulk_s`: the bulk operation (first load, corpus backfill);
  *   - `op_ms`: each steady-state operation (rerun day, ingest batch);
  *   - `work_s`, `work_cpu_s`: the fixed work's summed operation time, wall
  *     and the JVM's CPU;
  *   - `input_bytes`: the generated input each operation read.
  * The traced run of corpus_curation also runs [[RegistryProbes]] after its
  * operations, which price the layers of the workloads this benchmark
  * leaves out.
  */
object Workloads {
  val all: Map[String, Ctx => Unit] = Map(
    "etl_daily" -> etlDaily, "corpus_curation" -> corpusCuration)

  private def manifest(c: Ctx): JsonNode =
    new ObjectMapper().readTree(new File(c.data, "manifest.json"))

  private def sizeOf(path: String): Long = FileUtils.sizeOf(new File(path))

  private def setup(c: Ctx)(rep: Int => Unit): Unit =
    (0 until Main.SetupReps).foreach { r =>
      c.add("setup_s", c.wallS(c.trace.span("setup")(rep(r))))
    }

  private def check(c: Ctx, ok: Boolean, what: => String): Unit =
    if (!ok) {
      c.checkFailures += what
      System.err.println(s"[perfbench] CHECK FAILED $what")
    }

  private def fresh(c: Ctx, name: String): String = {
    val f = new File(c.work, name); FileUtils.deleteDirectory(f); f.mkdirs()
    f.getAbsolutePath
  }

  private def bytesUnder(path: String): Long =
    FileUtils.listFiles(new File(path), Array("parquet"), true).asScala.map(_.length).sum

  // ------------------------------------------------------------- etl_daily

  private val tableLayer = Map(
    "dim_listings" -> "airbnb.merge", "fact_calendar" -> "airbnb.calendar",
    "fact_reviews" -> "airbnb.reviews", "dim_listing_id_map" -> "airbnb.dims",
    "dim_hosts" -> "airbnb.dims", "dim_dates" -> "airbnb.dims",
    "dim_listings_enriched" -> "airbnb.enrich", "dim_hosts_enriched" -> "airbnb.enrich",
    "fact_reviews_enriched" -> "functions.langid")

  def etlDaily(c: Ctx): Unit = {
    val m = manifest(c)
    val days = m.get("days").size - 1 // rerun days
    def feed(d: Int, kind: String) = s"${c.data}/day$d/$kind/*.csv.gz"
    // one day: the ETL run, then validate and the three views, materialized
    // to parquet (the last day's are re-computed by DuckDB in the check)
    def day(whRoot: String, d: Int): (AirbnbEtl.Result, Map[String, Long]) = {
      val r = c.trace.span("airbnb.run") {
        AirbnbEtl.run(c.spark, whRoot, feed(d, "listings"), feed(d, "calendar"),
          feed(d, "reviews"))
      }
      val bad = c.trace.span("airbnb.audit") {
        val v = AirbnbEtl.validate(r.wh)
        val dl = r.wh.read("dim_listings_enriched")
        Seq("vw_local_foreign_analysis" -> Views.localForeignAnalysis(dl),
          "vw_neighborhood_performance" -> Views.neighborhoodPerformance(dl),
          "vw_host_activity" -> Views.hostActivity(dl)).foreach { case (n, v) =>
          v.write.mode("overwrite").parquet(s"${c.work}/views/$n")
        }
        v
      }
      (r, bad)
    }
    // input load: parse day 0's three feeds, as the first load's clean step does
    setup(c) { _ =>
      Seq("listings", "calendar", "reviews").foreach(k =>
        c.noop(graft.airbnb.Sources.readRawCsv(c.spark, feed(0, k))))
    }
    // fixed work: day 0 and rerun day 1; then more rerun days, if any were
    // generated, until `seconds` have passed since day 0 began
    val whRoot = fresh(c, "etl-wh")
    c.startClock()
    var d = 0
    var ok = true
    while (ok && d <= days && (d <= 1 || c.timeLeft)) {
      c.add("input_bytes", sizeOf(s"${c.data}/day$d").toDouble)
      c.op(if (d == 0) "etl.first_load" else "etl.rerun")(day(whRoot, d)) match {
        case Some(Timed((r, bad), s, cpu)) =>
          if (d == 0) { c.add("bulk_s", s); c.add("bulk_cpu_s", cpu) }
          else { c.add("op_ms", s * 1e3); c.add("op_cpu_ms", cpu * 1e3) }
          checkDay(c, m.get("days").get(d), r, bad, d)
          c.values("warehouse") = whRoot
          c.values("wh_bytes_per_feed_byte") =
            bytesUnder(whRoot).toDouble / m.get("days").get(d).get("gzip_bytes").asLong
        case None => ok = false // a failed day leaves no warehouse to build on
      }
      if (d == 1) c.fixedWorkDone()
      d += 1
    }
    Main.log(s"ran $d days")
    if (c.trace.enabled) {
      etlLayersReport(c, m)
      c.values("kernels_found") = c.trace.executions.values.flatMap(_.kernels).toSeq.distinct.sorted
    }
  }

  private def checkDay(c: Ctx, exp: JsonNode, r: AirbnbEtl.Result,
                       bad: Map[String, Long], d: Int): Unit = {
    check(c, bad.values.forall(_ == 0L), s"day $d: validate reported $bad")
    val newL = exp.get("new_listings").asLong
    val expActions =
      if (d == 0) Map("insert" -> newL)
      else Map("insert" -> newL, "update" -> (exp.get("listings").asLong - newL))
    check(c, r.mergeActions == expActions,
      s"day $d: merge actions ${r.mergeActions} != $expActions")
    val expStats = Map("dim_listings" -> exp.get("listings").asLong,
      "fact_calendar" -> exp.get("calendar_weeks").asLong,
      "fact_reviews" -> exp.get("reviews").asLong)
    expStats.foreach { case (t, n) =>
      check(c, r.stats.get(t).contains(n), s"day $d: $t rows ${r.stats.get(t)} != $n")
    }
  }

  /** Per-day layer times: each write is attributed to its table's layer by
    * its output path; the run's wall time outside every action is the
    * driver's. The attributed executions also become child spans.
    */
  private def etlLayersReport(c: Ctx, m: JsonNode): Unit = {
    val t = c.trace
    t.drain()
    val dayOps = t.spans.filter(s => s.name == "etl.first_load" || s.name == "etl.rerun").toSeq
    val acc = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    var rerunWritten, rerunChanged = 0.0
    var d = 0
    dayOps.foreach { op =>
      d = if (op.name == "etl.first_load") 0 else d + 1
      val kids = t.spans.filter(_.parent == op.id)
      kids.find(_.name == "airbnb.audit").foreach(a => acc("airbnb.audit.ms") += a.end - a.start)
      kids.find(_.name == "airbnb.run").foreach { run =>
        val ex = t.executionsIn(t.subtree(run.id)).filter(e => e.end > 0)
        val intervals = ex.map { e =>
          val layer = e.table.flatMap(tableLayer.get).getOrElse("airbnb.actions")
          acc(s"$layer.ms") += e.end - e.start
          acc("airbnb.bytes_written") += e.bytes
          acc("airbnb.files_written") += e.files
          t.spans += Span(-e.id, layer, run.id, e.start.toDouble, e.end.toDouble)
          (e.start.toDouble, e.end.toDouble)
        }
        acc("airbnb.driver.ms") += (run.end - run.start) - Trace.covered(intervals)
        if (op.name == "etl.rerun") {
          rerunWritten += ex.map(_.rows).sum
          // the day's inserted and updated listings plus its new reviews
          rerunChanged += m.get("days").get(d).get("listings").asLong +
            m.get("days").get(d).get("new_reviews").asLong
        }
      }
    }
    val n = math.max(dayOps.size, 1).toDouble
    acc.foreach { case (k, v) => c.layers(k) = v / n }
    if (rerunChanged > 0) c.layers("airbnb.rewrite_ratio") = rerunWritten / rerunChanged
    engineLayers(c, dayOps)
  }

  /** Engine counts per timed operation over `ops` and their subtrees. */
  private def engineLayers(c: Ctx, ops: Seq[Span]): Unit = {
    val t = c.trace
    t.drain()
    val ids = ops.flatMap(o => t.subtree(o.id)).toSet
    val tot = t.total(ids)
    val n = math.max(ops.size, 1).toDouble
    c.layers("spark.jobs") = tot.jobs / n
    c.layers("spark.stages") = tot.stages / n
    c.layers("spark.tasks") = tot.tasks / n
    c.layers("spark.failed_tasks") = tot.failedTasks.toDouble
    c.layers("spark.cpu_ms") = tot.cpuNs / 1e6 / n
    c.layers("spark.gc_ms") = tot.gcMs / n
    c.layers("spark.shuffle_bytes") = tot.shuffleBytes / n
    c.layers("spark.spill_bytes") = tot.spillBytes / n
    val wall = ops.map(o => o.end - o.start).sum
    val staged = Trace.covered(tot.stageIntervals.map { case (s, e) => (s.toDouble, e.toDouble) })
    c.layers("spark.non_stage_ms") = math.max(0.0, wall - staged) / n
    val ex = t.executionsIn(ids)
    c.layers("sql.optimizer_ms") = ex.map(_.optimizerMs).sum / n
    c.layers("sql.planning_ms") = ex.map(_.planningMs).sum / n
    c.layers("plans.rules_ms") = ex.map(_.rulesNs).sum / 1e6 / n
    c.layers("plans.topk.partial_rows") = ex.map(_.topkPartialRows).sum / n
    val (compiles, compileMs) = t.codegenSinceStart
    c.layers("spark.codegen_count") = compiles.toDouble
    c.layers("spark.codegen_ms") = compileMs
    c.layers("ckpt.materializations") = t.rddsStored.size.toDouble
    c.layers("ckpt.peak_bytes") = t.peakStoredBytes.toDouble
  }

  // ------------------------------------------------------- corpus_curation

  val MinBatches = 3

  def corpusCuration(c: Ctx): Unit = {
    val m = manifest(c)
    val spark = c.spark
    val backfill = spark.read.parquet(s"${c.data}/documents.parquet").select("doc_id", "text")
    val batches = m.get("batches").asScala.zipWithIndex.map { case (_, i) =>
      spark.read.parquet(f"${c.data}/batches/b$i%03d.parquet")
    }.toSeq
    val (minTokens, shingleK) = (20, 4)
    def prepare(out: String): Unit = {
      val r = c.trace.span("operators.pipeline.build") {
        CorpusPipeline.prepare(backfill, "doc_id", "text")
      }
      try c.trace.span("operators.pipeline.exec") {
        r.corpus.write.mode("overwrite").parquet(out)
      } finally r.unpersist()
    }
    // input load plus a warm-up of the ingest gate's text kernels
    setup(c)(_ => c.noop(batches.foldLeft(backfill)(_ union _).select(
      TextFns.tokenCount(col("text")), md5(TextFns.piiScrub(col("text"))))))
    // fixed work: the backfill, seeding the ingest indexes from its
    // survivors, and `MinBatches` ingest batches; then more batches until
    // `seconds` have passed since the backfill began
    val root = fresh(c, "corpus-cycle")
    c.startClock()
    c.add("input_bytes", sizeOf(s"${c.data}/documents.parquet").toDouble)
    c.op("corpus.backfill")(prepare(s"$root/survivors"))
      .foreach { t => c.add("bulk_s", t.wall); c.add("bulk_cpu_s", t.cpu) }
    val wh = Warehouse(spark, s"$root/wh")
    c.op("corpus.seed")(Streams.corpusIngestBatch(
      spark.read.parquet(s"$root/survivors").select("doc_id", "text"), wh,
      s"$root/sink", 0L, "doc_id", "text", minTokens, shingleK))
    val done = batches.zipWithIndex.iterator
      .takeWhile { case (_, i) => i < MinBatches || c.timeLeft }.map { case (b, i) =>
        c.add("input_bytes", sizeOf(f"${c.data}/batches/b$i%03d.parquet").toDouble)
        c.op("streaming.ingest")(Streams.corpusIngestBatch(b, wh, s"$root/sink",
          i + 1L, "doc_id", "text", minTokens, shingleK))
          .foreach { t => c.add("op_ms", t.wall * 1e3); c.add("op_cpu_ms", t.cpu * 1e3) }
        if (c.trace.enabled) {
          c.add("streaming.index_rows",
            Seq("fp_index", "band_index").map(wh.read(_).count()).sum.toDouble)
          c.add("streaming.index_bytes", bytesUnder(s"$root/wh").toDouble)
        }
        if (i == MinBatches - 1) c.fixedWorkDone()
        i
      }.toList
    Main.log(s"ingested ${done.size} batches")
    // checks: the survivors and each ingested batch's accepted ids
    c.values("corpus_survivors") = s"$root/survivors"
    c.values("corpus_accepted") = done.map { i =>
      spark.read.parquet(f"$root/sink/batch-${i + 1}%09d").select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
    }
    val oracle = (name: String) =>
      graft.SparkEntry.registry.find(_.name == name).flatMap(_.oracle).get
    Main.write(new File(c.work, "corpus_oracle.sql"), oracle("q_corpus_pipeline"))
    // the ingest gate's constants, for its DuckDB replay in the check
    Main.write(new File(c.work, "gate.json"), Main.json(Map(
      "poly_hash_sql" -> TextFns.polyHashSql("sh"), "p" -> TextFns.minhashP,
      "perms" -> TextFns.minhashPerms.map { case (a, b) => Seq(a, b) },
      "email_re" -> TextFns.emailRe, "phone_re" -> TextFns.phoneRe,
      "min_tokens" -> minTokens, "shingle_k" -> shingleK)))
    if (c.trace.enabled) {
      val t = c.trace
      t.drain()
      val ingest = t.spans.filter(_.name == "streaming.ingest").toSeq
      engineLayers(c, ingest)
      c.layers("streaming.ingest.jobs") = c.layers("spark.jobs")
      val ids = ingest.flatMap(o => t.subtree(o.id)).toSet
      c.layers("streaming.ingest.commit_ms") = t.executionsIn(ids)
        .filter(e => e.table.isDefined && e.end > 0).map(e => e.end - e.start).sum.toDouble /
        math.max(ingest.size, 1)
      c.layers("operators.pipeline.build_ms") = spanMs(t, "operators.pipeline.build")
      c.layers("operators.pipeline.exec_ms") = spanMs(t, "operators.pipeline.exec")
      Seq("streaming.index_rows", "streaming.index_bytes").foreach { k =>
        c.layers(k) = c.samples(k).last
      }
      // kernels in the plans the workload ran (before the probes add theirs)
      val kernels = t.executions.values.flatMap(_.kernels).toSet
      RegistryProbes.run(c, oracle)
      RegistryProbes.priceKernels(c, kernels)
    }
  }

  def spanMs(t: Trace, name: String): Double = {
    val s = t.spans.filter(_.name == name)
    s.map(x => x.end - x.start).sum / math.max(s.size, 1)
  }
}

/** Registry rows and kernels priced in corpus_curation's traced run only.
  * They stand in for the two workloads this benchmark leaves out
  * (warehouse_queries, vector_serving): a handful of registry rows over the
  * run's own generated `documents` and `embeddings` tables give the
  * `queries.*` and `operators.ann*` layers, and each graft codegen kernel in
  * the workload's plans is priced per row on the workload's own columns.
  * None of this is timed end to end.
  */
object RegistryProbes {
  /** Text rows, then the graph-ANN rows (k-means, build + serve, merge). */
  val Rows = Seq("q_text_tokens", "q_dedup_minhash_lsh", "q_mix_weights",
    "q_corpus_pipeline", "q_vec_kmeans", "q_ann_graph_topk", "q_ann_graph_serve",
    "q_ann_graph_merge")
  val AnnServe = Set("q_ann_graph_topk", "q_ann_graph_serve")
  val AnnInsert = "q_ann_graph_merge"

  /** Each row: `prepare` untimed, then `Q.run` (build), `executedPlan`
    * (plan) and its result written to parquet (exec) as child spans of one
    * operation; the DuckDB oracle check reads the parquet afterwards.
    */
  def run(c: Ctx, oracle: String => String): Unit = {
    val t = c.trace
    val reg = graft.SparkEntry.registry.map(q => q.name -> q).toMap
    val rowSpans = Rows.flatMap { name =>
      val q = reg(name)
      q.prepare.foreach(p => c.op(s"queries.prepare")(p(c.spark, c.data)))
      val before = t.spans.size
      c.op("queries.row") {
        val df = t.span("queries.build")(q.run(c.spark, c.data))
        t.span("queries.plan")(df.queryExecution.executedPlan)
        t.span("queries.exec")(df.write.mode("overwrite").parquet(s"${c.work}/queries/$name"))
      }
      t.spans.drop(before).find(_.name == "queries.row").map(name -> _)
    }
    Main.write(new File(c.work, "query_oracles.json"),
      Main.json(rowSpans.map { case (n, _) => n -> oracle(n) }.toMap))
    c.values("query_rows") = rowSpans.map(_._1)
    t.drain()
    def kids(name: String) = t.spans.filter(s => s.name == name && rowSpans.exists(_._2.id == s.parent))
    def mean(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val n = math.max(rowSpans.size, 1).toDouble
    c.layers("queries.build_ms") = mean(kids("queries.build").map(s => s.end - s.start))
    c.layers("queries.eager_jobs") = kids("queries.build").map(s => t.total(Seq(s.id)).jobs).sum / n
    c.layers("queries.plan_ms") = mean(kids("queries.plan").map(s => s.end - s.start))
    c.layers("queries.exec_ms") = mean(kids("queries.exec").map(s => s.end - s.start))
    val serve = rowSpans.filter(r => AnnServe(r._1)).map(_._2)
    c.layers("operators.ann.jobs") = mean(serve.map(s => t.total(t.subtree(s.id)).jobs.toDouble))
    c.layers("operators.ann.exec_ms") = mean(serve.map(s => s.end - s.start))
    c.layers("plans.topk.partial_rows") =
      t.executionsIn(serve.flatMap(s => t.subtree(s.id)).toSet).map(_.topkPartialRows).sum.toDouble
    rowSpans.find(_._1 == AnnInsert).foreach { case (_, s) =>
      c.layers("operators.ann_insert.jobs") = t.total(t.subtree(s.id)).jobs.toDouble
    }
  }

  /** Kernel -> (its `functions` wrapper on the documents' `text`, the
    * built-in HOF form where one exists).
    */
  private def textKernels: Map[String, (Column, Option[Column])] = {
    val text = col("text"); val tok = TextFns.tokens(text)
    Map(
      "WsTokens" -> (tok, Some(TextFns.tokensHof(text))),
      "NormalizeText" -> (TextFns.normalizeText(text), None),
      "ShingleHashes" -> (SketchFns.shingleHashes(tok, 4), None),
      "ShinglesDistinct" -> (SketchFns.shinglesDistinct(tok, 4), None),
      "MinHashSig" -> (SketchFns.minhashSig(tok, 4), None),
      "PolyHashEach" -> (SketchFns.polyHashEach(tok), None))
  }

  /** ns per row of each kernel in `found`: the median of three no-op scans
    * of a cached copy of the documents' text (eight copies of each row) with
    * the kernel applied, less the same scan computing only `length(text)`,
    * over the row count. Kernels without a wrapper here are listed in the
    * result, unpriced.
    */
  def priceKernels(c: Ctx, found: Set[String]): Unit = {
    val docs = c.spark.read.parquet(s"${c.data}/documents.parquet").select("text")
      .withColumn("r", explode(sequence(lit(1), lit(8)))).drop("r").persist()
    try {
      val rows = docs.count()
      def once(e: Column) = c.wallS(c.noop(docs.select(e.as("k"))))
      def median(e: Column) = (1 to 3).map(_ => once(e)).sorted.apply(1)
      val base = median(length(col("text")))
      def nsPerRow(e: Column) = math.max(0.0, (median(e) - base) * 1e9 / rows)
      val priced = textKernels.filter { case (k, _) => found(k) }
      priced.foreach { case (k, (e, hof)) =>
        c.layers(s"plans.$k.ns_per_row") = nsPerRow(e)
        hof.foreach(h => c.layers(s"plans.$k.hof_ns_per_row") = nsPerRow(h))
      }
      c.values("kernels_found") = found.toSeq.sorted
      c.values("kernels_unpriced") = (found -- priced.keys).toSeq.sorted
    } finally docs.unpersist()
  }
}
