package graft

import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Components, CorpusPipeline, Curation, Dedup, HeavyHitters, KMeans,
  Similarity, SkewJoin, Tuning}
import graft.streaming.Streams

/** Scaling soak: replicates the SPARK_GRAFT_SF_DIR fixtures `factor`× (with
  * shifted keys and perturbed text so dedup semantics stay sane), then times
  * every row of the chosen sections at both scales. If an operator's plan is
  * sound, time grows ~linearly with data (modulo fixed JVM/codegen cost
  * measured by the warm run); superlinear growth flags a shuffle or
  * pair-explosion problem before a real cluster ever sees it.
  *
  * Usage: runMain graft.Soak [factor] [section|row-substring …]
  *
  * `factor` (default 10) applies to the whole run. Sections: registry (the
  * default when none is named), skew, etl, dedup, spine, gates. Any other
  * word keeps only the rows whose name contains it; a word that names no
  * section and matches no chosen row fails before anything is generated.
  * The small side is SPARK_GRAFT_SF_DIR (default sf0.1); each section
  * generates only the dataset it reads, under
  * /tmp/graft-soak/<sf name>-x<factor>/. Every row prints
  * `name small_warm big_warm ratio r/f`, r/f being ratio DIV factor.
  */
object Soak {

  /** One timed row. `setup` is untimed: it builds the row's state for one
    * side and returns the thunk that gets timed. `scale` is 1 on the small
    * side and the factor on the big side.
    */
  private final case class Row(name: String, setup: (String, Int) => () => Any)

  /** A row with no setup: the whole body is timed. */
  private def timed(name: String)(body: (String, Int) => Any): Row =
    Row(name, (dir, scale) => () => body(dir, scale))

  /** A named list of rows; `data` generates what the rows read (only what
    * is missing) and returns the (small, big) dirs.
    */
  private final case class Section(name: String, data: Layout => (String, String),
                                   rows: Seq[Row])

  /** One row's warm seconds at 1× and at ×factor. */
  final case class Timing(name: String, small: Double, big: Double)

  private[graft] val registryQueries = Seq(
    "q_p1_projection_range", // scan + pushdown
    "q_a1_weekly_agg",       // hash agg on events
    "q_a3_per_key_count",    // high-cardinality agg
    "q_j2_multi_join",       // 3-way join
    "q_w1_dedup_latest",     // window
    "q_j7_upsert_merge",     // merge rewrite
    "q_dedup_exact",         // content hash groupBy
    "q_text_quality",        // tokenization + HOFs
    "q_sim_cosine_topk",     // broadcast brute-force ANN
    "q_ann_lsh_topk",        // bucketed ANN
    "q_asof_join",           // union+window point-in-time join
    "q_range_join",          // banded range join
    "q_sessionize_gap",      // double-window sessionization on one shuffle
    "q_outlier_iqr",         // rank-quartiles + broadcast fence join
    "q_sample_diverse",      // map-side LSH buckets + heap cap
    "q_ann_lsh_multiprobe",  // probe-side-only bucket fan-out
    "q_vec_kmeans",          // map-side assignment + (cluster, dim) agg
    "q_source_cap",          // per-source heap cap (constant k, growing groups)
    "q_text_bigram_lm",      // two hashed-long count shuffles + joins
    "q_funnel_steps",        // chained stage windows on one user_id exchange
    "q_cohort_retention",    // two hash-aggs + user-keyed join
    "q_mm_audio_features",   // map-side PCM decode + feature fold
    "q_event_transitions",   // lag window + matrix agg on one exchange
    "q_resample_ffill",      // bounds-agg grid + per-group ffill window
    "q_ab_chi2",             // two hash-aggs, exact rational statistic
    "q_mix_apply",           // broadcast budgets + per-source cumsum window
    "q_text_heavy_hitters",  // map-side MG sketch + candidate-only count
    "q_text_collocations",   // pair/unigram hash-aggs + filtered joins
    "q_mm_image_stats",      // map-side BMP raster decode + channel fold
    "q_mm_image_stats_png",  // map-side inflate + defilter + channel fold
    "q_mm_decode_gif",       // map-side LZW decompress + palette fold (r10)
    "q_mm_decode_jpeg",      // map-side marker walk (r10)
    "q_warc_extract",        // crawl-file synth + record parse + HtmlFns (r10)
    "q_url_domain_stats",    // URL parse + domain-keyed policy agg (r10)
    "q_text_gopher_repetition", // map-side repetition HOFs (r10)
    "q_ann_pq_topk",         // fixed-point PQ train/encode/ADC (r10)
    "q_dedup_components",    // pair gen + closure (r10 local/dist strategy)
    "q_corpus_pipeline",     // end-to-end gate→dedup→split composition
    "q_crawl_pipeline",      // one-pass window-flag gate accounting (r11)
    "q_token_budget_select", // histogram cut + boundary cumsum (r11 shard)
    "q_text_gopher_quality", // map-side structural-quality HOFs (r11)
    "q_url_robots",          // map-side robots longest-match HOFs (r11)
    "q_link_pagerank",       // 3 iterations of join+agg on node ids (r11)
    "q_split_leakage_safe",  // pair gen + closure + split assignment (r11)
    "q_mm_curation",         // six-format decode + gates + distinct (r11)
    "q_text_hll_distinct",   // HLL registers vs exact distinct (r11)
    "q_text_c4_quality",     // map-side C4 structural rules (r11)
    "q_text_line_dedup",     // hashed-line first-occurrence aggs (r11)
    "q_dedup_substring",     // per-position cross-doc shingle probe (r11)
    "q_sketch_cms",          // one-pass vocab agg + derived cells (r11)
    "q_text_winnow_pairs",   // winnow fp pair join, DF-bounded (r11)
    "q_zorder_locality",     // min/max collect + map-side interleave (r11)
    "q_sketch_quantile",     // GK sketch + exact rank verification (r11)
    "q_sketch_join_card",    // CMS inner-product join-size estimate (r11)
    "q_sketch_hll_merge",    // per-source HLL union (r11)
    "q_agg_incremental",     // mergeable partials vs direct rollup (r11)
    "q_link_hops",           // frontier BFS, 3 rounds (r11)
    "q_dedup_semantic",      // SemDeDup cell-bounded pair prune (r11)
    "q_text_dsir_select",    // DSIR bucket counts + map-side scoring (r11)
    "q_dedup_source_overlap", // fp-keyed self-join, source-bounded fan-out (r11)
    "q_text_bpe_train",      // vocab-sized training rounds (r11)
    "q_vec_contrastive",     // shared pair subplan + two bounded heaps (r11)
    "q_decontaminate_bloom", // ckpt'd eval shingles + bloom prefilter (r12)
    "q_stream_semdedup_batch", // unrolled persisted-fit gate, cell-bounded (r12)
    "q_crawl_frontier",      // robots gate + gated-driver rank + heap cap (r13)
    // (q_dedup_rebalance is soaked in the dedup section on the copy-tagged
    // corpus — on THIS tail-suffix replication every long doc's 10 copies
    // are genuine mutual near-dups, so its pair set and closure are
    // quadratic in the factor BY CONSTRUCTION: the fixture artifact the
    // dedup generator's scaladoc documents, not a plan property.)
    "q_mm_trimodal_verdict", // dHash + audio fp + SemDeDup per-doc verdict (r13)
    "q_dedup_ngram_jaccard", // reused-exchange pair join (r13)
    "q_dedup_incremental_minhash", // literal batch boundary + persisted index (r13)
    "q_dedup_minhash_lsh",   // reused banded exchange (r13)
    "q_text_boilerplate_clean", // hash-only dfreq + struct-kernel probe (r14)
    // one-sided index probes: the tag join's index side is DISTINCT on its
    // key, so fan-out is bounded at 1 per new-batch row — linear on any
    // replication, unlike the pair-generating queries above
    "q_incremental_pipeline", // fp+band warehouse indexes + isqrt re-weight (r14)
    "q_xmodal_ivf_topk",     // train-once quantizer + full-probe serve (r14)
    "q_quality_percentile_gate", // (group,score) histogram + broadcast boundary (r15)
    "q_ann_ivfpq_topk",      // 256-sample train + map-side residual encode (r15)
    "q_quality_calibrated_curation", // shared feats ckpt: epochs + scoring + gate (r15)
    // (q_ann_ivfpq_recall is an EVAL row — its exact side is brute-force
    // by construction, the same reason q_ann_recall/q_ann_dim_curve are
    // not soaked; the production path it grades soaks via q_ann_ivfpq_topk)
    "q_data_card",           // one-scan CUBE expansion (r15)
    "q_quality_gate_matrix", // ckpt'd aug corpus + 4 gate legs + 1 agg (r15)
    // (q_dedup_audit rides the ngram-pair generator — on this tail-suffix
    // replication its pair set is quadratic BY CONSTRUCTION, the same
    // fixture artifact the q_dedup_rebalance note documents; the pair
    // family soaks on the copy-tagged dedup corpus instead)
    "q_token_budget_per_group", // (group, score) token histogram + boundary (r15)
    "q_stream_budget_batch",    // 2-batch spend unroll, batch-bounded windows (r15)
    "q_stream_percentile_batch", // history-calibrated thresholds + map-side gate (r15)
    "q_quality_drift",       // one-scan (lang, bin) conditional counts (r15)
    "q_embedding_drift",     // map-side cell assign + per-cell counts (r15)
    "q_quality_recalibrate", // drift bins + dual calibration + gate, one ckpt (r15)
    // serve-shaped incremental minhash gate: persisted DISTINCT band index,
    // one-sided probe — fan-out bounded at 1 per new row, linear (r16).
    // (q_dedup_incremental_substring/sparse_serve share the span-pair
    // generator's factor^2 fixture artifact documented below — their scale
    // evidence is the copy-tagged dedup soak, same as the inline rows.)
    "q_dedup_incremental_minhash_serve",
    "q_mm_image_stats_jpeg", // map-side Huffman+IDCT raster decode (r16)
    "q_mm_video_frames",     // AVI walk + sampled-frame JPEG decode (r16)
    // (q_ann_graph_topk/recall ride the same cell-bounded pair generator
    // as q_dedup_semantic — fixed-k quadratic on this replication BY
    // CONSTRUCTION; the graph family's scale posture is the knnGraph
    // build = the semDedup spine (k-scaled contract in the spine rows)
    // and a serving frontier bounded by |queries|*beam*degree.)
    // blocked fuzzy match: runs over the part DIMENSION (64 distinct
    // names, not replicated) — the soak row documents the dimension-bounded
    // cost staying flat while facts grow, the entity-resolution shape (r16)
    "q_text_fuzzy_block")
    // (q_dedup_incremental_sparse is span-pair-generating: on this
    // shifted-key replication every fresh copy shares its partner's spans
    // with EVERY history copy, so candidate volume grows with factor^2 BY
    // FIXTURE CONSTRUCTION — measured ratio 3.0 at x10, the same artifact
    // class as the q_dedup_rebalance/q_dedup_audit notes. The sparse
    // substring path's scale evidence is the copy-tagged x100 soak:
    // dedup_substring_sparse r/f 0.070.)

  def main(args: Array[String]): Unit = {
    val small = "/root/testdata/sf0.1"
    val spark = Session("graft-soak")
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", small), "/tmp/graft-soak", args.toSeq)
    finally spark.stop()
  }

  /** Parse the CLI words, fail on any that selects nothing, generate each
    * chosen section's dataset under `work` and time its rows. Every row of
    * every section goes through the same loop: per side, one row-level
    * Materialize scope around the setup, and inside it one untimed warm-up
    * call and one timed call, each in its own nested scope — warm on BOTH
    * sides, since timing the big side cold would fold plan codegen and
    * first-touch I/O into exactly the ratio this harness reports, and
    * scoped so no row times against an earlier row's (or call's) leaked
    * blocks.
    */
  def run(spark: SparkSession, src: String, work: String, args: Seq[String],
          queries: Seq[String] = registryQueries): Seq[Timing] = {
    val given = args.headOption.flatMap(_.toIntOption)
    val factor = given.getOrElse(10)
    require(factor >= 2, s"factor must be at least 2: $factor")
    val scratch = s"$work/tmp"
    val all = sections(spark, scratch, queries)
    val (named, filters) = args.drop(given.size).partition(w => all.exists(_.name == w))
    val chosen = all.filter(s => if (named.isEmpty) s.name == "registry" else named.contains(s.name))
    filters.find(f => !chosen.exists(_.rows.exists(_.name.contains(f)))).foreach { f =>
      throw new IllegalArgumentException(s"'$f' is not a section (${all.map(_.name)
        .mkString(", ")}) and matches no row of ${chosen.map(_.name).mkString(", ")}")
    }
    val layout = new Layout(spark, src, work, factor)
    try chosen.flatMap { section =>
      val rows = section.rows.filter(r => filters.isEmpty || filters.exists(r.name.contains))
      if (rows.isEmpty) Nil
      else {
        val (small, big) = section.data(layout)
        println(f"${section.name}%-34s ${"small_warm"}%10s ${"big_warm"}%10s ${"ratio"}%7s ${"r/f"}%5s (data x$factor)")
        rows.map { row =>
          def side(dir: String, scale: Int): Double = Materialize.scope {
            val call = row.setup(dir, scale)
            Materialize.scope(call())
            Materialize.scope {
              val t0 = System.nanoTime(); call(); (System.nanoTime() - t0) / 1e9
            }
          }
          val t = Timing(row.name, side(small, 1), side(big, factor))
          println(f"${t.name}%-34s ${t.small}%10.2f ${t.big}%10.2f ${t.big / t.small}%7.1f ${t.big / t.small / factor}%5.2f")
          t
        }
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new File(scratch))
  }

  private def sections(spark: SparkSession, scratch: String,
                       queries: Seq[String]): Seq[Section] = {
    def tmp(prefix: String): String = Files.createTempDirectory(
      Files.createDirectories(Paths.get(scratch)), prefix).toString
    def docs(dir: String) = Tables.load(spark, dir, "documents")
    def emb(dir: String) = Tables.load(spark, dir, "embeddings")
    def nRows(dir: String) = docs(dir).count()
    Seq(
      Section("registry", _.tables(Tables.names), queries.map { name =>
        val q = SparkEntry.registry.find(_.name == name).getOrElse(throw
          new IllegalArgumentException(s"soaked query $name is not in SparkEntry.registry"))
        // the untimed prepare, as Bench runs it: serve rows read persisted
        // artifacts whose build must not land in the timed run
        Row(name, (dir, _) => {
          q.prepare.foreach(_(spark, dir)); () => q.run(spark, dir).count()
        })
      }),
      Section("skew", _.tables(Seq("lineitem")), skewRows(spark)),
      Section("etl", _.feeds, etlRows(spark, tmp)),
      Section("dedup", _.corpus, dedupRows(spark, docs, nRows)),
      Section("spine", _.corpus, spineRows(docs, emb)),
      Section("gates", _.corpus, gateRows(spark, tmp, docs, emb)))
  }

  // ---- skewed-join remedies, measured (the 100 TB straggler case): 90%
  // of the big side shares ONE key, broadcast is disabled (the two-big-
  // tables scenario where skew actually bites), and the same join runs
  // three ways — plain sort-merge (the straggler), sort-merge with AQE's
  // skew split (thresholds lowered so it fires at fixture scale), and the
  // planner-independent salted form (SkewJoin.saltedJoin). Each row sets
  // its confs around its own call and restores them after.
  private def skewRows(spark: SparkSession): Seq[Row] = {
    def bigSide(dir: String) = Tables.load(spark, dir, "lineitem")
      .select(when(pmod(col("l_orderkey"), lit(100L)) < 99, lit(1L))
        .otherwise(col("l_orderkey")).as("k"), col("l_quantity"))
    def dimSide(dir: String) = bigSide(dir).select(col("k")).distinct()
      .withColumn("payload", col("k") * 2 + 1)
    def skew(name: String, split: Boolean, lowered: Boolean)(join: String => DataFrame): Row =
      timed(name) { (dir, _) =>
        val confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.skewJoin.enabled" -> split.toString) ++ (if (!lowered) Nil else Seq(
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8m",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4m"))
        val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        try join(dir).count()
        finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      }
    Seq(
      skew("skew_plain_smj", split = false, lowered = false)(dir =>
        bigSide(dir).join(dimSide(dir), "k")),
      skew("skew_plain_aqe_split", split = true, lowered = true)(dir =>
        bigSide(dir).join(dimSide(dir), "k")),
      skew("skew_salted_x8", split = false, lowered = true)(dir =>
        SkewJoin.saltedJoin(bigSide(dir), dimSide(dir), "k", 8)))
  }

  // ---- Airbnb ETL end-to-end (the reference's own workload shape) at
  // 1× vs ×factor: csv.gz feeds synthesized from the customer and orders
  // tables of each side (listings ← customer, calendar ← listings × 100
  // days, reviews ← orders), then the FULL warehouse pipeline (clean →
  // typed MERGE → id map → dims → week/year-partitioned facts →
  // enrichment) plus the one-job invariant validate. The rerun row runs
  // over an already loaded warehouse, so it exercises the upsert/anti-join
  // path against a populated warehouse. Proves the warehouse path, not
  // just the query registry, holds at the factor.
  private def etlRows(spark: SparkSession, tmp: String => String): Seq[Row] = {
    def etl(feeds: String, whRoot: String): Unit = {
      val r = graft.airbnb.AirbnbEtl.run(spark, whRoot,
        s"$feeds/listings/*.csv.gz", s"$feeds/calendar/*.csv.gz",
        s"$feeds/reviews/*.csv.gz")
      val bad = graft.airbnb.AirbnbEtl.validate(r.wh).filter(_._2 != 0)
      require(bad.isEmpty, s"warehouse invariants violated: $bad")
    }
    Seq(
      timed("etl_first_load")((feeds, _) => etl(feeds, tmp("soak-etl-wh"))),
      // re-run over the SAME warehouse: MERGE update path + review anti-join
      Row("etl_idempotent_rerun", (feeds, _) => {
        val wh = tmp("soak-etl-wh"); etl(feeds, wh); () => etl(feeds, wh)
      }))
  }

  // Dedup-family soak with the document-frequency shingle cutoff engaged
  // (the 100 TB lever): a replicated corpus multiplies every shingle's doc
  // frequency, so WITHOUT the cutoff the pair join fans out quadratically
  // by construction — the point of this section is showing the cutoff
  // keeps it ~linear.
  private def dedupRows(spark: SparkSession, docs: String => DataFrame,
                        nRows: String => Long): Seq[Row] = Seq(
    timed("dedup_ngram_dfcut") { (dir, _) =>
      Dedup.ngramJaccardPairs(docs(dir), "doc_id", "text", 4, 0.4,
        maxDocFreq = Tuning.maxShingleDocFreq(spark, nRows(dir))).count()
    },
    timed("dedup_simhash") { (dir, _) =>
      Dedup.simhash(docs(dir), "doc_id", "text", 16).count()
    },
    // per-row sketch + single exploded-band self-join: both stages are
    // linear in docs when no band key is hot (the copy-tagged corpus
    // guarantees bands never collide across copies)
    timed("dedup_minhash_lsh") { (dir, _) =>
      Dedup.minhashLshPairs(docs(dir), "doc_id", "text", 4, 0.5).count()
    },
    // banded hamming pairs (the registry's 60-bit/4-band parameters):
    // true pairs are copy-local and grow linearly; incidental band
    // collisions between unrelated docs are the n²/2^15-per-band term —
    // THE quantity this soak exists to measure (a corpus much past ~1M
    // docs needs a wider signature or wider bands; see SCALING.md)
    timed("dedup_simhash_hamming") { (dir, _) =>
      Dedup.simhashNearDupPairs(docs(dir), "doc_id", "text", 60, 3, 4).count()
    },
    // the two-long 124-bit form: 31-bit bands should erase the
    // n²/2^15-per-band incidental-collision term the row above pays
    timed("dedup_simhash_hamming_wide") { (dir, _) =>
      Dedup.simhashNearDupPairsWide(docs(dir), "doc_id", "text", 3).count()
    },
    // pair generation + bounded-round label propagation: components are
    // copy-local so rounds stay constant and cost tracks the pair count
    timed("dedup_components") { (dir, _) =>
      val pairs = Dedup.ngramJaccardPairs(docs(dir), "doc_id", "text", 4, 0.4,
        maxDocFreq = Tuning.maxShingleDocFreq(spark, nRows(dir)))
      Components.connectedComponents(pairs, "a_id", "b_id").count()
    },
    // incremental near-dup gate: second half of the corpus tagged against
    // the first half's band index — one-sided band join, fan-out bounded
    // by the DISTINCT index (at most `bands` hits per new doc)
    timed("dedup_incr_minhash") { (dir, _) =>
      val d = docs(dir)
      val mid = d.agg(expr("MAX(doc_id) DIV 2").as("mid"))
      val withMid = d.crossJoin(broadcast(mid))
      Dedup.tagNearDupAgainstIndex(
        withMid.filter(col("doc_id") >= col("mid")),
        withMid.filter(col("doc_id") < col("mid")),
        "doc_id", "text", 4).count()
    },
    // repeated-substring spans (r15): positional anchors are copy-local
    // on this corpus (no k-gram crosses copies), so true spans grow
    // linearly; the occurrence cap scales like the DF cutoff. The
    // island window stays bounded by one pair's overlap at any factor.
    timed("dedup_substring_spans") { (dir, _) =>
      Dedup.repeatedSpans(docs(dir), "doc_id", "text", 4, 6,
        maxOccurrences = Tuning.maxShingleDocFreq(spark, nRows(dir))).count()
    },
    // the rewrite half: adds the covered-position checkpoint (bounded
    // by duplicated-token volume) + (id, pos) anti-join + reassembly
    // of affected docs only
    timed("dedup_substring_scrub") { (dir, _) =>
      Dedup.scrubRepeatedSpans(docs(dir), "doc_id", "text", 4, 6,
        maxOccurrences = Tuning.maxShingleDocFreq(spark, nRows(dir))).count()
    },
    // the sparse-candidate path (r15): winnowed anchors (~1/3 the
    // positions) nominate pairs, dense anchors materialize only for
    // candidate docs — same answer (uncapped), index a third the size;
    // the interesting ratio is THIS row vs dedup_substring_spans
    timed("dedup_substring_sparse") { (dir, _) =>
      Dedup.repeatedSpansSparse(docs(dir), "doc_id", "text", 4, 6, 3).count()
    },
    // the r19 one-kernel-pass INLINE incremental gate (tagSpansSplitSparse):
    // one anchorRows checkpoint feeds index, probe, and both verify
    // legs; growth tracks the span-pair volume like its siblings
    timed("dedup_incr_split_sparse") { (dir, _) =>
      val d = docs(dir)
      val mid = d.agg(expr("coalesce(MAX(doc_id) DIV 2, 0L)"))
        .collect()(0).getLong(0)
      Dedup.tagSpansSplitSparse(d, col("doc_id") < mid,
        "doc_id", "text", 4, 6, 3).count()
    },
    // bottom-k containment sketch (r21, VERDICT r20 #6): the probe side
    // is <= bottomK rows per doc at any factor, the b side the distinct
    // hash stream; hashes are copy-local on this corpus, so candidate
    // fan-out per hash is the base corpus's and the join grows linearly
    timed("dedup_containment_sketch") { (dir, _) =>
      Dedup.containmentSketchPairs(docs(dir), "doc_id", "text", 4, 16, 0.9)
        .count()
    },
    // curation family on the same corpus: chunk-DF boilerplate accounting
    // (one chunk-key shuffle) and train/test shingle decontamination
    timed("curation_boilerplate") { (dir, _) =>
      Curation.boilerplateAccounting(
        docs(dir), "doc_id", "text", 8, maxDocFreq = 1L).count()
    },
    // the rewrite half: same two hashed shuffles plus the per-doc
    // reassembly aggregate (sort_array over each doc's surviving
    // chunks — cost is per-document, never a sort of the chunk stream)
    timed("curation_boilerplate_rm") { (dir, _) =>
      Curation.removeBoilerplate(
        docs(dir), "doc_id", "text", 8, maxDocFreq = 1L).count()
    },
    timed("curation_decontaminate") { (dir, _) =>
      val d = docs(dir)
      Curation.decontaminate(
        d.filter(col("source") =!= "src0"), d.filter(col("source") === "src0"),
        "doc_id", "text", 4).count()
    },
    // Bloom-prefiltered twin: the broadcast sketch gates the train side
    // map-side, so the exact join's input is overlap + fpp of the train
    // shingles — the bigger the train side, the more the sketch saves
    // (the ratio here should UNDERCUT curation_decontaminate's)
    timed("curation_decontam_bloom") { (dir, _) =>
      val d = docs(dir)
      Curation.decontaminateBloom(
        d.filter(col("source") =!= "src0"), d.filter(col("source") === "src0"),
        "doc_id", "text", 4).count()
    },
    // token-budget selection, budget scaled with the corpus (~half the
    // total tokens binds at every factor): three narrow scans + a
    // cumsum over the per-score histogram + ONE tie-group window
    timed("token_budget_select") { (dir, _) =>
      Curation.selectByTokenBudget(docs(dir), "doc_id", "text",
          Seq("a", "the"), budgetTokens = 25L * nRows(dir))
        .filter(col("selected")).count()
    },
    // worst case BY CONSTRUCTION: identical text → every doc ties at the
    // boundary score, the whole corpus lands in the single tie-group
    // ordered cumsum (the brute shape — the information-theoretic floor
    // for exact greedy). Bounds the operator's degenerate cost; the row
    // above is its typical cost.
    timed("token_budget_all_tie") { (dir, _) =>
      val d = docs(dir).withColumn("text",
        lit("alpha beta gamma delta epsilon zeta eta theta"))
      Curation.selectByTokenBudget(d, "doc_id", "text",
          Seq("a", "the"), budgetTokens = 4L * nRows(dir))
        .filter(col("selected")).count()
    },
    // end-to-end pipeline: gate → scrub → exact dedup → near-dup (cutoff
    // self-derived from the post-dedup corpus size) → split. Includes the
    // pipeline's own accounting actions; caches cleared per run so the
    // big run can't ride the small run's blocks.
    timed("corpus_pipeline") { (dir, _) =>
      CorpusPipeline.withPrepared(docs(dir), "doc_id",
        "text", CorpusPipeline.Config())(_.corpus.count())
    },
    // integer-exact TF-IDF: tf shuffle on (source, term), df from per-row
    // distinct, term-keyed join, heap top-k — vocabulary grows with the
    // copy-tagging, the token stream with the factor
    timed("text_tfidf_top5") { (dir, _) =>
      Curation.salientTerms(docs(dir), "doc_id", "text", "source", 5).count()
    },
    // map-side linear scorer + one accounting shuffle
    timed("quality_class") { (dir, _) =>
      Curation.qualityScore(docs(dir), "text", Seq("a", "the"), 250000L)
        .groupBy(col("source"))
        .agg(count(when(col("keep"), 1)).as("n_keep")).count()
    },
    // hashed-long token shuffle + per-doc agg (the TF-IDF join shape)
    timed("text_rarity") { (dir, _) =>
      Curation.rarityScore(docs(dir), "doc_id", "text").count()
    },
    // map-side pair explode + one hash-agg + TakeOrdered heap
    timed("text_bpe_merges") { (dir, _) =>
      Curation.bpeMergeCandidates(docs(dir), "text", 20).count()
    },
    // hashed pair/prefix count shuffles + joins; the pair vocabulary
    // grows with the copy-tagging, the stream with the factor
    timed("text_bigram_lm") { (dir, _) =>
      Curation.bigramLmScore(docs(dir), "doc_id", "text").count()
    },
    // map-side MG summaries + candidate-only exact count: the candidate
    // union grows with partitions x capacity, never with the corpus
    timed("text_heavy_hitters") { (dir, _) =>
      HeavyHitters.topTokens(docs(dir), "text", 20, 4096).count()
    },
    // pair + unigram hash-aggs, minCount filter before the joins
    // (scaled with the corpus so the filtered vocabulary stays bounded)
    timed("text_collocations") { (dir, _) =>
      Curation.collocations(docs(dir), "text", 20,
        minCount = 20L * (nRows(dir) / 5000L).max(1L)).count()
    },
    // fuzzy-dedup → re-balance capstone (r13): banded pair gen +
    // closure + survivor anti-join + per-source re-weighting. On the
    // copy-tagged corpus the pair set grows linearly, so this measures
    // the COMPOSITION's plan, not a fixture artifact (the tail-suffix
    // registry corpus makes every long doc's copies mutual near-dups
    // — quadratic truth by construction — which is why the registry
    // query is excluded from the registry sweep).
    timed("dedup_rebalance") { (dir, _) =>
      val d = docs(dir)
      val pairs = Dedup.minhashLshPairs(d, "doc_id", "text", 4, 0.5)
        .select(col("a_id"), col("b_id"))
      val comp = Components.connectedComponents(pairs, "a_id", "b_id")
      val losers = comp.filter(col("node") =!= col("component_id"))
        .select(col("node").as("doc_id"))
      d.join(losers, Seq("doc_id"), "left_anti")
        .groupBy(col("source")).agg(count(lit(1))).count()
    })

  // ---- dedup/ANN spine soak (cutoff engaged, k scaled): the measurement
  // the 100 TB design argument rests on, run at ×100 in SCALING.md. The
  // corpus is the copy-tagged one (no cross-copy shingle sharing — true
  // answer grows linearly; rotated embeddings, so copies are semantically
  // DISTINCT vectors, not factor-sized duplicate groups). Learned
  // operators scale their capacity with the corpus per their documented
  // contracts: SemDeDup k ×factor (constant cell size), IVF nLists ×factor
  // (constant list length). r/f is per-row cost growth; ≤ ~1.5 is the
  // linear-scaling bar — the local threads absorb part of the factor, so
  // per-row ratios can also land BELOW 1.
  private def spineRows(docs: String => DataFrame, emb: String => DataFrame): Seq[Row] = {
    def queries(e: DataFrame) = e.filter(col("vec_id") % M < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    def cands(e: DataFrame) = e.select(col("vec_id").as("c_id"), col("embedding").as("ce"))
    def semK(dir: String, k: Int): Long =
      Dedup.semDedup(emb(dir), "vec_id", "embedding", k, passes = 2, threshold = 0.2).count()
    def contrastive(dir: String, k: Int): Long =
      Similarity.contrastiveTriplets(emb(dir), "vec_id", "embedding", k, passes = 2,
        posThreshold = 0.25, negLo = 0.05, negHi = 0.15).count()
    def pipeline(dir: String): Long =
      CorpusPipeline.withPrepared(docs(dir), "doc_id", "text",
        CorpusPipeline.Config())(_.corpus.count())
    Seq(
      timed("spine_minhash_lsh")((dir, _) =>
        Dedup.minhashLshPairs(docs(dir), "doc_id", "text", 4, 0.5).count()),
      timed("spine_line_dedup") { (dir, _) =>
        val lines = docs(dir)
          .select(col("doc_id"), graft.functions.TextFns.tokens(col("text")).as("__t"))
          .filter(size(col("__t")) >= 1)
          .select(col("doc_id"),
            posexplode(graft.functions.TextFns.chunkExpr("__t", 3, 3)).as(Seq("pos", "line")))
        Dedup.dedupLineStats(lines, "doc_id", "pos", "line").count()
      },
      // SemDeDup/contrastive cell-size scaling: their pair joins are
      // quadratic in CELL population by design, so the operator contract
      // is that k scales with the corpus (constant cell size — the SemDeDup
      // paper runs 50k cells on LAION). The registry queries hold k=4 for
      // oracle reuse, which makes their soak ratio ~quadratic BY
      // CONSTRUCTION; the k4 rows show that, the k-scaled rows measure the
      // contract instead (cells back at 1× size). The k-scaled big side
      // landing near the small side (× the data factor for the map-side
      // passes) is the linearity evidence.
      timed("spine_semdedup_k")((dir, scale) => semK(dir, 4 * scale)),
      timed("semdedup_k4")((dir, _) => semK(dir, 4)),
      timed("contrastive_k4")((dir, _) => contrastive(dir, 4)),
      timed("contrastive_k_scaled")((dir, scale) => contrastive(dir, 4 * scale)),
      timed("spine_ivf_topk_k") { (dir, scale) =>
        val e = emb(dir)
        Similarity.ivfTopK(queries(e), cands(e), nLists = 8 * scale, nProbe = 8, k = 5).count()
      },
      // graph ANN under the cell-size contract: knnGraph's pair generator
      // is the semDedup spine (k scales with the corpus so cells stay
      // constant-size) and graphTopK's frontier is |queries|·beam·degree —
      // query-bounded, so at ×factor data the serve side should be ~flat
      // and only the graph BUILD grows (linearly, with k scaled)
      timed("spine_graph_topk_k") { (dir, scale) =>
        val e = emb(dir)
        val g = Similarity.knnGraph(e, "vec_id", "embedding", 4 * scale,
          passes = 2, degree = 6)
        Similarity.graphTopK(queries(e), cands(e), g, entryK = 4, beam = 8, hops = 2, k = 5)
          .count()
      },
      // COMPOSITION soaks (round-14 verdict #3): the two multi-stage shapes
      // users actually run end-to-end — the full corpus pipeline (gate →
      // scrub → exact dedup → LSH near-dup → split) and the near-dup CLOSURE
      // (LSH pairs → connected components → quality survivorship).
      // Copy-tagging keeps the TRUE answer linear (every token carries a
      // per-copy suffix, so no shingle crosses copies; see the corpus
      // generator), so a superlinear time ratio is a plan defect, not data
      // growth. The closure's BIG side FORCES the distributed
      // label-propagation loop (localThreshold = 0, the cutoff-engaged
      // 100 TB path) while the small side takes the default driver
      // union-find — one measured pair covers both sides of the gate.
      timed("compose_corpus_pipeline")((dir, _) => pipeline(dir)),
      timed("compose_dedup_closure") { (dir, scale) =>
        val pairs = Dedup.minhashLshPairs(docs(dir), "doc_id", "text", 4, 0.5)
        val comp = Components.connectedComponents(pairs, "a_id", "b_id",
          localThreshold = if (scale == 1) Components.LocalEdgeThreshold else 0L)
        val scored = docs(dir).select(col("doc_id"),
          graft.functions.TextFns.tokenCount(col("text")).cast("long").as("score"))
        Components.survivorsByQuality(comp, scored, "doc_id", "score").count()
      })
  }

  // ---- streaming gate maintenance soak (r16): the live gates' per-batch
  // ledger/index upkeep had no published scaling row. The corpus is the
  // copy-tagged one (no cross-copy shingle/content sharing, so gate work
  // grows with data, not with pair fan-out), split into 3 micro-batches by
  // doc_id mod 3 and pushed through the REAL foreachBatch bodies — budget
  // gate including the fold compaction, percentile gate with frozen
  // thresholds, substring gate including its per-batch index merge + swap.
  // Fresh state dirs per call (a reused dir would replay as a committed
  // no-op). Each row times one 3-batch call.
  private def gateRows(spark: SparkSession, tmp: String => String,
                       docs: String => DataFrame, emb: String => DataFrame): Seq[Row] = {
    def batch(dir: String, i: Int) = docs(dir).filter(pmod(col("doc_id"), lit(3)) === i)
    // kNN-graph maintenance gate: k scales with the corpus (the cell-size
    // contract every graph/semdedup soak applies), the frozen fit is
    // trained once per dir in setup, shared by the section's rows
    // (production's train/persist/assign split — per-batch cost is merge +
    // swap only)
    val fits = scala.collection.mutable.Map[String, Array[Array[Long]]]()
    def cents(dir: String, scale: Int): Array[Array[Long]] =
      fits.getOrElseUpdate(dir, KMeans.train(emb(dir), "vec_id", "embedding", 4 * scale, 2))
    def knnGraph(name: String, batches: (String, Int) => Int => DataFrame): Row =
      Row(name, (dir, scale) => {
        val c = cents(dir, scale)
        () => {
          val out = tmp("soak-kg-out")
          val wh = graft.airbnb.Warehouse(spark, tmp("soak-kg-wh"))
          (0 until 3).foreach { i =>
            Streams.knnGraphGateBatch(batches(dir, scale)(i), wh, c,
              "kg_graph", "kg_vecs", out, i.toLong, "vec_id", "embedding", degree = 6)
          }
        }
      })
    Seq(
      timed("gate_budget_ledger") { (dir, _) =>
        val out = tmp("soak-bud-out"); val rej = tmp("soak-bud-rej")
        val led = tmp("soak-bud-led")
        val budgets = docs(dir).select(col("lang"),
            graft.functions.TextFns.tokenCount(col("text")).cast("long").as("ntok"))
          .groupBy(col("lang"))
          .agg(expr("(SUM(ntok) * 600) DIV 1000").as("budget_tokens"))
        (0 until 3).foreach { i =>
          Streams.budgetGateBatch(batch(dir, i), budgets, out, rej, led,
            i.toLong, "doc_id", "text", "lang", Seq("a", "the"))
        }
        Streams.compactLedger(spark, led, "lang", uptoBatchId = 3L)
      },
      timed("gate_percentile") { (dir, _) =>
        val out = tmp("soak-pct-out"); val rej = tmp("soak-pct-rej")
        val thr = Materialize.eager(Curation.qualityScore(docs(dir), "text",
            Seq("a", "the"), keepThreshold = Long.MinValue)
          .groupBy(col("lang"))
          .agg(expr("CAST(percentile_approx(score, 0.5) AS BIGINT)")
            .as("score_threshold")))
        (0 until 3).foreach { i =>
          Streams.percentileGateBatch(batch(dir, i), thr, out, rej,
            i.toLong, "text", "lang", Seq("a", "the"))
        }
      },
      timed("gate_substring_index") { (dir, _) =>
        val out = tmp("soak-sub-out")
        val wh = graft.airbnb.Warehouse(spark, tmp("soak-sub-wh"))
        (0 until 3).foreach { i =>
          Streams.substringGateBatch(batch(dir, i), wh, "anchor_idx", out,
            i.toLong, "doc_id", "text", k = 4, minSpanTokens = 6,
            maxOccurrences = 64L)
        }
      },
      // CELL-LOCAL variant of the substring gate (r20, VERDICT r19 #6 —
      // the kNN localbatch design applied to the anchor index): the
      // corpus's anchors are ingested in setup, OUTSIDE the timed window,
      // and each timed batch is a CONSTANT-absolute-size held-out slice
      // (doc_id mod m == i with m = 97·F, so corpus/m is the same count at
      // 1x and xF). With the r20 broadcast probe the batch side broadcasts
      // over the index scan, so the expected per-batch anatomy is O(batch
      // kernel) + O(index SCAN, map-side, no exchange) + O(hits): a
      // residual ratio above ~1 here prices the unavoidable index scan —
      // exact substring gating reads its whole index per batch (hash keys
      // have no locality to prune on) — NOT an exchange term. Same
      // replay-drift caveat as the kNN localbatch row (fresh ids per call).
      Row("gate_substring_localbatch", (dir, scale) => {
        val m = 97 * scale
        val wh = graft.airbnb.Warehouse(spark, tmp("soak-subl-wh"))
        val out = tmp("soak-subl-out")
        val all = docs(dir)
        // held-out batches live in the row scope: warm-up and timed call
        // both read them
        val held = (0 until 3).map { i =>
          Materialize.eager(all.filter(pmod(col("doc_id"), lit(m)) === i))
        }
        // steady-state index: everything outside the held-out slices,
        // ingested once, untimed
        Streams.substringGateBatch(
          all.filter(pmod(col("doc_id"), lit(m)) >= 3), wh, "anchor_idx",
          out, 0L, "doc_id", "text", k = 4, minSpanTokens = 6,
          maxOccurrences = 64L)
        var seq = 0L
        () => (0 until 3).foreach { i =>
          seq += 1
          Streams.substringGateBatch(
            held(i).withColumn("doc_id", col("doc_id") + lit(seq << 41)),
            wh, "anchor_idx", out, seq, "doc_id", "text", k = 4,
            minSpanTokens = 6, maxOccurrences = 64L)
        }
      }),
      knnGraph("gate_knn_graph", (dir, _) => i =>
        emb(dir).filter(pmod(col("vec_id"), lit(3)) === i)),
      // FIXED-batch variant (r18 decomposition): batches are the same
      // ABSOLUTE size at 1x and xF (pmod 30 vs 30*F), so per-batch probe
      // work is constant and the small→big growth isolates the
      // O(corpus)-per-batch terms — the prior-graph scan + whole-table
      // graph swap. The production daily-gate shape is batch ≪ corpus,
      // which the corpus/3 batches of the main row cannot represent.
      knnGraph("gate_knn_graph_fixedbatch", (dir, scale) => i =>
        emb(dir).filter(pmod(col("vec_id"), lit(30 * scale)) === i)),
      // CELL-LOCAL batch variant (r19, VERDICT r18 #5): the 3-batch and
      // fixed-batch rows split the corpus across batches, so every batch
      // touches every cell and the touched-cell design's sublinearity
      // cannot show. Here the corpus is ingested in setup, OUTSIDE the
      // timed window (the daily gate's steady state), and each timed batch
      // is the held-out residue of ONE cell — and both the batch size and
      // the touched-cell size are CONSTANT across 1x and xF by construction
      // (batch_i = (vec_id % 97 == 0) ∩ cell i; cells number 4 at 1x and
      // 4F at xF, so one cell holds ~corpus/4F·F = corpus₁ₓ/4 vectors at
      // every scale). If per-batch cost is O(touched), the timed 3-merge
      // wall is FLAT as the corpus grows ×F (ratio ≈ 1, r/f ≈ 1/F); any
      // O(corpus) residue in the merge or the partition swap shows up as
      // ratio > 1 directly.
      Row("gate_knn_graph_localbatch", (dir, scale) => {
        val c = cents(dir, scale)
        val wh = graft.airbnb.Warehouse(spark, tmp("soak-kgl-wh"))
        val out = tmp("soak-kgl-out")
        val all = emb(dir)
        val tagged = Materialize.eager(KMeans.assignWith(all, "vec_id", "embedding", c)
          .filter(pmod(col("vec_id"), lit(97)) === 0 && col("cluster") < 3)
          .select(col("vec_id"), col("cluster")))
        val held = (0 until 3).map { i =>
          Materialize.eager(all.join(tagged.filter(col("cluster") === i).select("vec_id"),
            Seq("vec_id"), "left_semi"))
        }
        // steady-state corpus: everything outside the held-out batches,
        // ingested once, untimed
        Streams.knnGraphGateBatch(
          all.join(tagged.select("vec_id"), Seq("vec_id"), "left_anti"),
          wh, c, "kg_graph", "kg_vecs", out, 0L, "vec_id", "embedding", degree = 6)
        var seq = 0L
        () => (0 until 3).foreach { i =>
          seq += 1
          // fresh ids per call (the vec_id uniqueness contract — the
          // harness replays the same held-out vectors as NEW daily
          // arrivals); embeddings are unchanged, so each batch still
          // lands in exactly its one cell.
          //
          // CAVEAT (ADVICE r19): because replays accumulate, each call
          // grows the touched cells by ~3x batch vectors, so "touched-cell
          // size constant by construction" is exact only for the first
          // call. The bracket comparison survives anyway: the harness runs
          // the same warm-up + timed sequence at 1x and xF and the batch
          // size is the same ABSOLUTE count at both scales, so both sides
          // of the ratio carry the same additive growth (cell + k*3*batch
          // at call k) — an O(corpus) term would still read ~x10 while
          // this drift stays a few percent of a cell. SCALING.md's
          // localbatch row states the same caveat.
          Streams.knnGraphGateBatch(
            held(i).withColumn("vec_id", col("vec_id") + lit(seq << 41)),
            wh, c, "kg_graph", "kg_vecs", out, seq, "vec_id", "embedding", degree = 6)
        }
      }))
  }

  private val M = 100000000L

  /** Per-copy key shift of each replicated table; text gets a per-copy
    * suffix so content-hash dedup doesn't degenerate into factor-sized
    * duplicate groups. A table not listed is a dimension, copied once.
    */
  private val shifts: Map[String, (DataFrame, Int) => DataFrame] = Map(
    "lineitem" -> ((df, i) => df.withColumn("l_orderkey", col("l_orderkey") + i * M)),
    "orders" -> ((df, i) => df.withColumn("o_orderkey", col("o_orderkey") + i * M)
      .withColumn("o_custkey", col("o_custkey") + i * M)),
    "customer" -> ((df, i) => df.withColumn("c_custkey", col("c_custkey") + i * M)),
    "events" -> ((df, i) => df.withColumn("event_id", col("event_id") + i * M)
      .withColumn("user_id", col("user_id") + lit(i * 1000L))),
    "documents" -> ((df, i) => df.withColumn("doc_id", col("doc_id") + i * M)
      .withColumn("text", concat(col("text"), lit(s" copytoken$i")))),
    "embeddings" -> ((df, i) => df.withColumn("vec_id", col("vec_id") + i * M)))

  /** Write `path` unless a complete copy is there: Spark writes `_SUCCESS`
    * last, so a write that was interrupted is redone, not reused.
    */
  private def once(path: String)(write: String => Unit): Unit =
    if (!new File(s"$path/_SUCCESS").exists()) {
      write(path); println(s"generated $path")
    }

  /** Key-shifted replication of `names` from `src` into `dst` (see
    * [[shifts]]). Events go through `Tables.load` like every other table,
    * so the copy stores `ts` as micros TIMESTAMP_NTZ, which `Tables.events`
    * reads back unchanged.
    */
  private[graft] def generate(spark: SparkSession, src: String, dst: String, factor: Int,
                              names: Seq[String]): Unit = names.foreach { name =>
    once(s"$dst/$name.parquet") { out =>
      val base = Tables.load(spark, src, name)
      shifts.get(name).fold(base)(grow => (0 until factor).map(grow(base, _)).reduce(_ unionByName _))
        .write.mode("overwrite").parquet(out)
    }
  }

  /** The copy-tagged corpus: `factor` key-shifted copies of the documents,
    * every TOKEN suffixed per copy so no shingle (and no content hash)
    * crosses copies, while within a copy the shingle-sharing structure is
    * exactly the base corpus's — the true dedup answer and the candidate
    * pairs stay exactly `factor` × the base's. (A tail-suffix perturbation
    * instead makes all copies mutual near-dups — answer quadratic in factor
    * by construction, measuring the data, not the plan.) The embeddings are
    * norm-preserving cyclic rotations (+ sign flip past one full turn), so
    * copies are semantically DISTINCT vectors, not factor-sized duplicate
    * groups. Ratios are comparable only within one generation.
    */
  private def copyTagged(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    once(s"$dst/documents.parquet") { out =>
      val base = Tables.load(spark, src, "documents")
      (0 until factor).map(i =>
          base.withColumn("doc_id", col("doc_id") + i * M)
            .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1w$i")))
        .reduce(_ unionByName _)
        .repartition(64).write.mode("overwrite").parquet(out)
    }
    once(s"$dst/embeddings.parquet") { out =>
      val base = Tables.load(spark, src, "embeddings")
      val dim = 64
      (0 until factor).map { i =>
        val r = i % dim
        val sign = if ((i / dim) % 2 == 1) "-" else ""
        val rotated =
          if (r == 0) col("embedding")
          else expr(s"concat(slice(embedding, ${r + 1}, ${dim - r}), slice(embedding, 1, $r))")
        base.withColumn("vec_id", col("vec_id") + i * M)
          .withColumn("embedding", rotated)
          .withColumn("embedding", expr(s"transform(embedding, x -> CAST(${sign}x AS FLOAT))"))
      }.reduceLeft(_ unionByName _)
        .repartition(16).write.mode("overwrite").parquet(out)
    }
  }

  /** Airbnb-shaped csv.gz feeds from the customer and orders tables of
    * `tables` into `dst`; returns `dst`.
    */
  private def synthFeeds(spark: SparkSession, tables: String, dst: String): String = {
    def gz(sub: String)(df: => DataFrame): Unit = once(s"$dst/$sub")(out =>
      df.write.mode("overwrite").option("header", "true").option("compression", "gzip").csv(out))
    val cust = Tables.load(spark, tables, "customer")
    gz("listings")(cust.select(
      col("c_custkey").as("id"),
      pmod(col("c_custkey"), lit(500L)).as("host_id"),
      col("c_name").as("host_name"),
      concat(col("c_mktsegment"), lit(", United States")).as("host_location"),
      col("c_mktsegment").as("neighbourhood_cleansed"),
      (lit(40.0) + pmod(col("c_custkey"), lit(100L)) / 1000.0).as("latitude"),
      (lit(-74.0) - pmod(col("c_custkey"), lit(100L)) / 1000.0).as("longitude"),
      concat(lit("$"), (pmod(col("c_custkey"), lit(900L)) + 50).cast("string"),
        lit(".00")).as("price"),
      pmod(col("c_custkey"), lit(50L)).as("number_of_reviews"),
      round(lit(3.0) + pmod(col("c_custkey"), lit(200L)) / 100.0, 2)
        .as("review_scores_rating"),
      (pmod(col("c_custkey"), lit(5L)) + 1).as("calculated_host_listings_count")))
    val dates = spark.range(100).select(
      date_add(lit("2025-01-01").cast("date"), col("id").cast("int")).as("d"))
    gz("calendar")(cust.select(col("c_custkey").as("listing_id"))
      .crossJoin(broadcast(dates))
      .withColumn("available",
        when(pmod(col("listing_id") + dayofmonth(col("d")), lit(2)) === 0, "t")
          .otherwise("f"))
      .withColumn("price", concat(lit("$"),
        (pmod(col("listing_id"), lit(150L)) + 40).cast("string"), lit(".00")))
      .select(col("listing_id"),
        date_format(col("d"), "yyyy-MM-dd").as("date"),
        col("available"), col("price")))
    gz("reviews")(Tables.load(spark, tables, "orders").select(
      col("o_custkey").as("listing_id"),
      col("o_orderkey").as("id"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("date"),
      pmod(col("o_custkey") * 7, lit(100000L)).as("reviewer_id"),
      concat(lit("reviewer_"), col("o_custkey")).as("reviewer_name"),
      concat(lit("the stay was great and the host for order "),
        col("o_orderkey"), lit(" was very kind and the place is warm"))
        .as("comments")))
    dst
  }

  /** Where a run's datasets live: the small side is `src` itself, and
    * everything generated goes under `work/<src name>-x<f>/`, so a dir is
    * reused only for the same source and factor.
    */
  private final class Layout(spark: SparkSession, src: String, work: String, factor: Int) {
    private def at(f: Int, sub: String) = s"$work/${new File(src).getName}-x$f/$sub"
    def tables(names: Seq[String]): (String, String) = {
      generate(spark, src, at(factor, "tables"), factor, names)
      (src, at(factor, "tables"))
    }
    def corpus: (String, String) = {
      copyTagged(spark, src, at(factor, "corpus"), factor)
      (src, at(factor, "corpus"))
    }
    /** Feeds from the small side's tables and from their ×factor copy. */
    def feeds: (String, String) = {
      val (small, big) = tables(Seq("customer", "orders"))
      (synthFeeds(spark, small, at(1, "feeds")), synthFeeds(spark, big, at(factor, "feeds")))
    }
  }
}
