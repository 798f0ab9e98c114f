package graft

import org.scalatest.funsuite.AnyFunSuite

/** Mechanical scale discipline: physical plans of every registered query are
  * checked for patterns that degrade catastrophically at 100 TB.
  */
class PlanLintSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def plan(name: String): String = {
    val q = SparkEntry.registry.find(_.name == name).get
    q.run(spark, TestSpark.sfDir).queryExecution.executedPlan.toString
  }

  test("no query's plan scans a table more than 7 times (subtree-duplication backstop)") {
    // A lazy one-row frame carried as a broadcast subplan can silently
    // re-derive its whole upstream subtree inside every consumer branch —
    // round 10 measured selectByTokenBudget at SIX full scoring scans
    // before its boundary row was collected to literals. The widest
    // legitimate NON-BEAM plan today is 6 scans (q_dedup_simhash_hamming_wide:
    // 3-way in-query corpus augmentation, both sides of a self-join); a
    // count past 7 means a new duplication bug, not a new query shape.
    //
    // EXCEPTION (round 22): the graph-ANN beam rows run their post-entry
    // hops LAZY — each hop's two consumers (neighbor join + union)
    // duplicate canonically identical subtrees whose exchanges AQE's stage
    // reuse materializes once at runtime (FixedCostProbe: 25/17/17 jobs vs
    // 35/37/23 with per-hop checkpoints, wall −15–25% on recall/serve).
    // The LOGICAL scan count is therefore intentionally high for exactly
    // these rows; each is pinned to its recorded count so a real
    // duplication regression (or a third consumer) still fails here.
    val lazyBeamBudget = Map(
      "q_ann_graph_topk" -> 10, "q_ann_graph_serve" -> 10,
      "q_ann_graph_layered" -> 10, "q_ann_graph_recall" -> 12,
      "q_ann_graph_pq" -> 9, "q_ann_graph_pq_serve" -> 9,
      "q_ann_graph_pq_recall" -> 11)
    SparkEntry.registry.foreach { q =>
      val p = q.run(spark, TestSpark.sfDir).queryExecution.executedPlan.toString
      val n = "Scan parquet".r.findAllIn(p).size
      assert(n <= lazyBeamBudget.getOrElse(q.name, 7),
        s"${q.name} plans $n parquet scans — duplicated subtree?")
    }
  }

  test("no query plans a CartesianProduct (unbroadcast cross join)") {
    SparkEntry.registry.foreach { q =>
      assert(!plan(q.name).contains("CartesianProduct"),
        s"${q.name} plans a CartesianProduct")
    }
  }

  test("dimension joins in the geo rollup are broadcast, not shuffled") {
    val p = plan("q_a2_geo_rollup")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("projection+range query prunes columns and pushes the filter") {
    val p = plan("q_p1_projection_range")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      "shipdate filter did not reach the parquet scan")
    assert(!p.contains("l_comment") && !p.contains("l_suppkey"),
      "scan reads columns the query never uses")
  }

  test("top-k is TakeOrderedAndProject, not a global sort") {
    assert(plan("q_o2_topk").contains("TakeOrderedAndProject"))
  }

  test("row_number<=k windows compile to the heap-based TopKPerGroupExec") {
    // GraftExtensions is active in every entry point (Verify/Bench/tests),
    // so the rewrite must fire wherever a query filters a row_number rank:
    // the full sort-per-group window never runs for these.
    Seq("q_w3_topk_per_group", "q_o6_global_topk", "q_text_tfidf").foreach { n =>
      val p = plan(n)
      assert(p.contains("TopKPerGroup"), s"$n did not plan TopKPerGroupExec")
      assert(!p.contains("RunningWindowFunction") || !p.contains("row_number"),
        s"$n still evaluates row_number via a window")
    }
  }

  test("dedup/LSH family never plans an all-pairs join (the 100 TB claim)") {
    // candidate pairs must come from shared shingles/bands/buckets — a
    // nested-loop join anywhere in these plans means the bound is gone
    Seq("q_dedup_exact", "q_dedup_ngram_jaccard", "q_dedup_minhash_lsh",
        "q_dedup_simhash", "q_dedup_simhash_hamming",
        "q_dedup_simhash_hamming_wide", "q_dedup_embedding",
        "q_ann_lsh_topk")
      .foreach { name =>
        val p = plan(name)
        assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
          s"$name plans an all-pairs join")
      }
  }

  test("sketch kernels keep signature computation map-side (no pre-join shuffle)") {
    // SimHash is a pure per-row sketch now: its plan must contain NO
    // aggregate at all (the old explode→groupBy form had two).
    val simhash = plan("q_dedup_simhash")
    assert(!simhash.contains("HashAggregate") && !simhash.contains("SortAggregate"),
      "simhash plan re-grew an aggregation — sketch is no longer per-row")
    assert(simhash.toLowerCase.contains("simhashbits"), "simhash kernel not in plan")
    // MinHash signatures likewise: the kernel must appear, and the only
    // aggregate allowed is the candidate-pair DISTINCT after the band join.
    val mh = plan("q_dedup_minhash_lsh")
    assert(mh.toLowerCase.contains("minhashsig"), "minhash kernel not in plan")
    // Vector queries run on quantized long arrays inside codegen.
    Seq("q_sim_cosine_topk", "q_ann_lsh_topk", "q_dedup_embedding")
      .foreach { name =>
        val p = plan(name).toLowerCase
        assert(p.contains("quantizevec") && p.contains("dotq"),
          s"$name no longer uses the quantized kernels")
      }
    assert(plan("q_ann_lsh_buckets").toLowerCase.contains("lshbucketq"))
  }

  test("simhash hamming pairs dedupe map-side (no distinct exchange)") {
    // a pair appears once per agreeing band; the first-agreeing-band filter
    // kills duplicates as a pure expression — the plan must contain NO
    // aggregate (a HashAggregate here means the (a_id,b_id) distinct is
    // back, paying an exchange over the full candidate set)
    Seq("q_dedup_simhash_hamming", "q_dedup_simhash_hamming_wide").foreach { n =>
      val p = plan(n)
      assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"),
        s"$n pair dedup re-grew a distinct exchange")
      assert(p.contains("SortMergeJoin"),
        s"$n band self-join is no longer sort-merge — the signature pipeline runs twice")
    }
  }

  test("decontaminate broadcasts the held-out side and shuffles hashed longs") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      "held-out shingle side is not broadcast — a 100 TB train side would sort-merge")
    // since round 12 the shingle hashes come from the ShingleHashes kernel,
    // not xxhash64 over materialized shingle strings
    assert(p.toLowerCase.contains("shinglehashes"),
      "shingle join key is not kernel-hashed to 64-bit")
  }

  test("bloom decontamination prefilter is a codegen expression, not a UDF") {
    val p = plan("q_decontaminate_bloom")
    assert(p.toLowerCase.contains("bloommightcontain"),
      "bloom prefilter is not the BloomMightContain expression")
    assert(!p.contains("UDF"),
      "q_decontaminate_bloom still plans a Scala UDF in the hot path")
  }

  test("boilerplate/ngram joins key on 64-bit hashes, not chunk/shingle strings") {
    // both moved to hash KERNELS in round 12 (no chunk/shingle string, no
    // interpreted transform inside GenerateExec): boilerplate accounting
    // hashes chunks via ChunkHashes, the jaccard base via ShingleHashes
    assert(plan("q_text_boilerplate").toLowerCase.contains("chunkhashes"),
      "q_text_boilerplate shuffles raw strings")
    assert(plan("q_dedup_ngram_jaccard").toLowerCase.contains("shinglehashes"),
      "q_dedup_ngram_jaccard shuffles raw strings")
  }

  test("IQR outlier fences ride the rank window's exchange — no join at all") {
    // r20: the quartiles are window aggregates over the SAME event_type
    // partitioning as the rank window and the outlier counts a groupBy on
    // the windowed frame, so the whole query is ONE exchange and zero
    // joins (the pre-r20 shape broadcast a bounds frame onto a second
    // scan of the fact table)
    val p = plan("q_outlier_iqr")
    assert(!p.contains("Join"), s"outlier plan regained a join:\n$p")
    // exactly two exchanges: the event_type hash exchange all windows + the
    // aggregate share, and the SinglePartition repartition over the bounded
    // per-type rows (r21 — a narrow coalesce(1) here serialized the whole
    // window+aggregate stage; see the serial-collapse backstop test)
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"outlier plans $exchanges exchanges:\n$p")
  }

  test("sessionization shares one user_id shuffle across windows and agg") {
    // lag window, running-sum window, and the (user_id, sess_id) group-by
    // must all ride the same hashpartitioning(user_id); only the final
    // presentation ORDER BY may add a range exchange
    val p = plan("q_sessionize_gap")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"sessionize plans $exchanges exchanges:\n$p")
  }

  test("vocabulary top-k is a TakeOrdered, not a global sort of the counts") {
    assert(plan("q_text_vocab").contains("TakeOrderedAndProject"))
  }

  test("BPE merge mining tops-k via TakeOrdered over one hash-agg") {
    assert(plan("q_text_bpe_merges").contains("TakeOrderedAndProject"))
  }

  test("rarity score shuffles hashed token longs, never token strings") {
    assert(plan("q_text_rarity").contains("xxhash64"),
      "rarity tf join keys on raw token strings")
  }

  test("diversity sample buckets map-side and caps on the heap operator") {
    val p = plan("q_sample_diverse")
    assert(p.toLowerCase.contains("lshbucketq"), "bucket kernel not in plan")
    assert(p.contains("TopKPerGroup"), "per-bucket cap is not the heap operator")
  }

  test("funnel shares one user_id exchange across all three stage windows") {
    // three chained conditional MIN windows + the per-user aggregate must
    // ride a single hashpartitioning(user_id); only the presentation
    // ORDER BY may add a range exchange
    val p = plan("q_funnel_steps")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"funnel plans $exchanges exchanges:\n$p")
  }

  test("source cap runs on the heap operator, never a per-source sort") {
    val p = plan("q_source_cap")
    assert(p.contains("TopKPerGroup"), "per-source cap is not the heap operator")
    assert(!p.contains("RunningWindowFunction"),
      "source cap fell back to a window sort")
  }

  test("k-means final assignment is map-side: no join in the plan") {
    // centroids ride as a literal matrix — any join/nested loop here means
    // the corpus is being shuffled to meet its own cluster centers
    val p = plan("q_vec_kmeans")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "k-means assignment plans a join against the centroids")
    assert(p.toLowerCase.contains("quantizevec"), "assignment skips the quantize kernel")
  }

  test("bigram LM shuffles hashed pair/prefix longs, never pair strings") {
    // lint the operator's LAZY form: the registry query shares the hashed
    // pair stream through a localCheckpoint, whose truncated lineage hides
    // the map-side hashing from the final plan string
    val p = graft.operators.Curation.bigramLmScore(
        graft.Tables.load(spark, TestSpark.sfDir, "documents"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("pairhashes"),
      "bigram count does not ride the PairHashes kernel — raw pair strings?")
  }

  test("BMP resize is one map-side pass (no shuffle before the accounting)") {
    val p = plan("q_mm_resize_bmp")
    assert(!p.contains("HashAggregate") && !p.contains("Join"),
      "resize plan grew a shuffle/join — the raster is leaving the task")
  }

  test("unicode normalization runs as the codegen kernel, map-side") {
    val p = plan("q_text_normalize")
    assert(p.toLowerCase.contains("normalizetext"), "kernel not in plan")
    assert(!p.contains("HashAggregate") && !p.contains("BatchEvalPython"),
      "normalization should be a pure projection")
  }

  test("no ETL loader plans a single-partition global window") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the physical plan before AQE wraps it: collect does not descend
    // into an AdaptiveSparkPlanExec root, so executedPlan shows no window
    def emptyPartWindows(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
    val staging = Seq(("101", "x"), ("abc-7", "y")).toDF("id", "junk")
    val existing = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      graft.airbnb.Schemas.dimListingIdMap)
    // the id-map loader was THE scale-killer (VERDICT r1 #2): its id
    // assignment must not be a Window with no partitioning
    assert(emptyPartWindows(graft.airbnb.Loaders.appendIdMap(staging, existing)).isEmpty)
    val listings = Seq((1L, "h", "c", "co", java.sql.Timestamp.valueOf("2025-01-01 00:00:00")))
      .toDF("host_id", "host_name", "host_city", "host_country", "updated_date")
    assert(emptyPartWindows(graft.airbnb.Loaders.loadHosts(listings)).isEmpty)
    val dates = Seq("2025-01-03", "2025-01-01", "not a date").toDF("date")
    assert(emptyPartWindows(graft.airbnb.Loaders.loadDates(dates, "date")).isEmpty)
  }

  test("contrastive triplets plan the pair join exactly once, nothing materialized") {
    // the pair subtree (scan → quantize → salted cell join → cosine) used
    // to feed two TopK legs and execute TWICE (VERDICT r15 finding #1); a
    // checkpoint would fix the duplication but MATERIALIZE the pair set
    // (O(pairs) storage — the ×10 soak measured 40× where streaming was
    // 7×). The one-pass form folds both top-1 selections into conditional
    // MIN aggregates over the single join, so the final plan scans the
    // embeddings once per join side (2) and contains exactly one pair join.
    val p = plan("q_vec_contrastive")
    assert("Scan parquet".r.findAllIn(p).size <= 2,
      "pair subtree duplicated: more than the join's two embedding scans")
    val joins = "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|BroadcastNestedLoopJoin".r
      .findAllIn(p).size
    assert(joins <= 1, s"expected a single pair join, planned $joins")
  }

  /** The physical plan (before AQE) of every SQL execution `f` runs,
    * eager materializations included. */
  private def executionPlans(f: => Unit): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.sparkPlan): Unit
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try { f; org.apache.spark.TestBus.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  test("each cell pair join runs once, its salted side exchanged at the session width") {
    // Similarity.cellPairs replicates its left side over the salts and
    // repartitions it at spark.sql.shuffle.partitions on (cluster, __salt).
    // Without that explicit width the streamed side keeps the scan's one
    // partition (or AQE coalesces it) and one task computes every cell's
    // |cell|² cosines. q_ann_graph_topk builds its graph inside an eager
    // materialization, so every execution of a row is checked, not only
    // the plan of its result.
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val width = spark.sessionState.conf.numShufflePartitions
    Seq("q_dedup_semantic", "q_dedup_semantic_curve", "q_vec_contrastive",
        "q_ann_graph_topk").foreach { name =>
      val q = SparkEntry.registry.find(_.name == name).get
      val pairJoins = executionPlans(q.run(spark, TestSpark.sfDir).collect(): Unit)
        .flatMap(_.collect {
          case j: BaseJoinExec if j.leftKeys.exists(_.references.exists(_.name == "__salt")) => j
        })
      assert(pairJoins.size == 1, s"$name runs ${pairJoins.size} cell pair joins")
      val salted = pairJoins.head.children.filter(_.exists(_.isInstanceOf[GenerateExec]))
      assert(salted.size == 1, s"$name: no single salt-replicated join side")
      val pin = salted.head.collectFirst { case e: ShuffleExchangeExec => e }
      assert(pin.exists(e => e.shuffleOrigin == REPARTITION_BY_NUM && (e.outputPartitioning match {
        case h: HashPartitioning => h.numPartitions == width &&
          h.expressions.flatMap(_.references.map(_.name)).toSet == Set("cluster", "__salt")
        case _ => false
      })), s"$name: the salted side is not repartitioned at width $width:\n${pairJoins.head}")
    }
  }

  test("matryoshka serve partition-prunes the prefix index and re-ranks without a shuffle join") {
    val q = SparkEntry.registry.find(_.name == "q_ann_matryoshka_serve").get
    // formatted explain reaches inside AQE's unfinalized stages, where a
    // plain executedPlan.collect sees only the adaptive root
    val s = q.run(spark, TestSpark.sfDir).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(s.contains("mrl_prefix_idx"), "prefix index scan not found")
    // the prefix-index probe must partition-prune to the queries' cells
    // (dynamic pruning from the broadcast query-assignment side)
    assert(s.contains("dynamicpruningexpression"),
      "prefix-index scan reads every cell — partition pruning lost")
    // the exact re-rank joins the shortlist against full vectors by id —
    // broadcast-shaped, never a sort-merge of the corpus
    assert(!s.contains("SortMergeJoin"),
      "matryoshka re-rank plans a sort-merge join")
  }

  test("no query plans a single-partition narrow coalesce (serial-collapse backstop)") {
    // ADVICE r20 (medium): a trailing .coalesce(1) is a NARROW dependency —
    // with no exchange between a window/aggregate and the coalesce, the
    // whole post-shuffle stage executes as ONE task, silently defeating any
    // upstream repartition (q_outlier_iqr measured its entire rank+quartile
    // +aggregate stage at 1 task). Bounded final outputs must use
    // repartition(1) + sortWithinPartitions (one tiny exchange) instead.
    import org.apache.spark.sql.execution.CoalesceExec
    SparkEntry.registry.foreach { q =>
      val serial = q.run(spark, TestSpark.sfDir).queryExecution.executedPlan.collect {
        case c: CoalesceExec if c.numPartitions == 1 => c
      }
      assert(serial.isEmpty,
        s"${q.name} plans a narrow coalesce(1) — the stage above it runs serial")
    }
  }

  test("sparse serve fast tier: no shuffle-hash verify join, InSet candidate filters") {
    // the fast tier broadcasts the (bounded) a-side dense anchors over the
    // index scan and filters candidate docs with InSet predicates — a
    // ShuffledHashJoin or extra LocalTableScan joins would mean the r18
    // job-cut regressed to the r17 shape
    val q = SparkEntry.registry.find(_.name == "q_dedup_incremental_sparse_serve").get
    val p = q.run(spark, TestSpark.sfDir).queryExecution.executedPlan.toString
    assert(!p.contains("ShuffledHashJoin"),
      "sparse serve fast tier plans a shuffle-hash verify join")
    assert(!p.contains("LocalTableScan"),
      "sparse serve fast tier still joins driver-local relations")
  }
}
