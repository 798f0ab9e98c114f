package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling soak: replicates the sf0.1 fixtures `factor`× (with shifted keys
  * and perturbed text so dedup semantics stay sane), then times a
  * representative query set at both scales. If an operator's plan is sound,
  * time grows ~linearly with data (modulo fixed JVM/codegen cost measured by
  * the warm run); superlinear growth flags a shuffle or pair-explosion
  * problem before a real cluster ever sees it.
  *
  * Usage: SPARK_GRAFT_SOAK_FACTOR=10 runMain graft.Soak
  */
object Soak {

  private val soakQueries = Seq(
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
    // (q_dedup_rebalance is soaked in the DEDUP section on the copy-tagged
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
    // family soaks on the copy-tagged DEDUP corpus instead)
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
    // evidence is the copy-tagged DEDUP soak, same as the inline rows.)
    "q_dedup_incremental_minhash_serve",
    "q_mm_image_stats_jpeg", // map-side Huffman+IDCT raster decode (r16)
    "q_mm_video_frames",     // AVI walk + sampled-frame JPEG decode (r16)
    // (q_ann_graph_topk/recall ride the same cell-bounded pair generator
    // as q_dedup_semantic — fixed-k quadratic on this replication BY
    // CONSTRUCTION; the graph family's scale posture is the knnGraph
    // build = the semDedup spine (k-scaled contract in the cell table)
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
    val factor = sys.env.getOrElse("SPARK_GRAFT_SOAK_FACTOR", "10").toInt
    val small = "/root/testdata/sf0.1"
    val big = s"/tmp/graft-soak-x$factor"
    val spark = Session("graft-soak")
    spark.sparkContext.setLogLevel("ERROR")

    if (!new java.io.File(s"$big/lineitem.parquet").exists()) generate(spark, small, big, factor)

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // SPARK_GRAFT_SOAK_SKIP_MAIN=1 skips the registry sweep so the gated
    // sections below can be re-measured alone after a targeted change
    if (!sys.env.get("SPARK_GRAFT_SOAK_SKIP_MAIN").contains("1")) {
      // optional positional args narrow the sweep by substring (the Bench
      // convention) — a local iteration aid for re-soaking changed queries
      val wanted = args.toSeq
      println(f"${"query"}%-24s ${"small_warm"}%10s ${"big_warm"}%10s ${"ratio"}%7s (data x$factor)")
      soakQueries.filter(n => wanted.isEmpty || wanted.exists(n.contains))
        .foreach { name =>
        val q = SparkEntry.registry.find(_.name == name).get
        // each timed run is its own Materialize scope (the Bench hygiene):
        // several queries checkpoint shared stages, and without a release
        // every LATER soak row times against the accumulated storage of
        // every earlier one
        def run(dir: String): Double = Materialize.scope(time(q.run(spark, dir).count()))
        run(small) // cold: codegen, discarded
        val tSmall = run(small)
        run(big)
        val tBig = run(big)
        println(f"$name%-24s $tSmall%10.2f $tBig%10.2f ${tBig / tSmall}%7.1f")
      }
    }

    // Dedup-family soak at an independently larger factor, with the
    // document-frequency shingle cutoff engaged (the 100 TB lever): a
    // replicated corpus multiplies every shingle's doc frequency, so WITHOUT
    // the cutoff the pair join fans out quadratically by construction — the
    // point of this section is showing the cutoff keeps it ~linear.
    val dedupFactor = sys.env.getOrElse("SPARK_GRAFT_SOAK_DEDUP", "0").toInt
    if (dedupFactor > 0) {
      import graft.operators.{Dedup, Tuning}
      val dbig = s"/tmp/graft-soak-docs-x$dedupFactor"
      if (!new java.io.File(s"$dbig/documents.parquet").exists()) {
        val base = Tables.load(spark, small, "documents")
        val M = 100000000L
        // Suffix every WORD with a per-copy token: every shingle then contains
        // copy-tagged words only, so no shingle is shared across copies, while
        // within a copy the shingle-sharing structure is exactly the base
        // corpus's. Each copy mirrors the base near-dup answer → true answer
        // and candidate pairs grow linearly with factor. (A tail-suffix
        // perturbation instead makes all copies mutual near-dups — answer
        // quadratic in factor by construction, measuring the data, not the
        // plan.)
        (0 until dedupFactor).map(i =>
            base.withColumn("doc_id", col("doc_id") + i * M)
              .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1w$i")))
          .reduce(_ unionByName _)
          .repartition(32).write.mode("overwrite").parquet(s"$dbig/documents.parquet")
        println(s"generated documents x$dedupFactor")
      }
      def docs(dir: String) = Tables.load(spark, dir, "documents")
      def nRows(dir: String) = docs(dir).count()
      val runs: Seq[(String, String => Long)] = Seq(
        "dedup_ngram_dfcut" -> { dir =>
          Dedup.ngramJaccardPairs(docs(dir), "doc_id", "text", 4, 0.4,
            maxDocFreq = Tuning.maxShingleDocFreq(spark, nRows(dir))).count()
        },
        "dedup_simhash" -> { dir =>
          Dedup.simhash(docs(dir), "doc_id", "text", 16).count()
        },
        // per-row sketch + single exploded-band self-join: both stages are
        // linear in docs when no band key is hot (the copy-tagged corpus
        // guarantees bands never collide across copies)
        "dedup_minhash_lsh" -> { dir =>
          Dedup.minhashLshPairs(docs(dir), "doc_id", "text", 4, 0.5).count()
        },
        // banded hamming pairs (the registry's 60-bit/4-band parameters):
        // true pairs are copy-local and grow linearly; incidental band
        // collisions between unrelated docs are the n²/2^15-per-band term —
        // THE quantity this soak exists to measure (a corpus much past ~1M
        // docs needs a wider signature or wider bands; see SCALING.md)
        "dedup_simhash_hamming" -> { dir =>
          Dedup.simhashNearDupPairs(docs(dir), "doc_id", "text", 60, 3, 4).count()
        },
        // the two-long 124-bit form: 31-bit bands should erase the
        // n²/2^15-per-band incidental-collision term the row above pays
        "dedup_simhash_hamming_wide" -> { dir =>
          Dedup.simhashNearDupPairsWide(docs(dir), "doc_id", "text", 3).count()
        },
        // pair generation + bounded-round label propagation: components are
        // copy-local so rounds stay constant and cost tracks the pair count
        "dedup_components" -> { dir =>
          val pairs = Dedup.ngramJaccardPairs(docs(dir), "doc_id", "text", 4, 0.4,
            maxDocFreq = Tuning.maxShingleDocFreq(spark, nRows(dir)))
          graft.operators.Components.connectedComponents(pairs, "a_id", "b_id").count()
        },
        // incremental near-dup gate: second half of the corpus tagged against
        // the first half's band index — one-sided band join, fan-out bounded
        // by the DISTINCT index (at most `bands` hits per new doc)
        "dedup_incr_minhash" -> { dir =>
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
        "dedup_substring_spans" -> { dir =>
          Dedup.repeatedSpans(docs(dir), "doc_id", "text", 4, 6,
            maxOccurrences = Tuning.maxShingleDocFreq(spark, nRows(dir))).count()
        },
        // the rewrite half: adds the covered-position checkpoint (bounded
        // by duplicated-token volume) + (id, pos) anti-join + reassembly
        // of affected docs only
        "dedup_substring_scrub" -> { dir =>
          Dedup.scrubRepeatedSpans(docs(dir), "doc_id", "text", 4, 6,
            maxOccurrences = Tuning.maxShingleDocFreq(spark, nRows(dir))).count()
        },
        // the sparse-candidate path (r15): winnowed anchors (~1/3 the
        // positions) nominate pairs, dense anchors materialize only for
        // candidate docs — same answer (uncapped), index a third the size;
        // the interesting ratio is THIS row vs dedup_substring_spans
        "dedup_substring_sparse" -> { dir =>
          Dedup.repeatedSpansSparse(docs(dir), "doc_id", "text", 4, 6, 3).count()
        },
        // the r19 one-kernel-pass INLINE incremental gate (tagSpansSplitSparse):
        // one anchorRows checkpoint feeds index, probe, and both verify
        // legs; growth tracks the span-pair volume like its siblings
        "dedup_incr_split_sparse" -> { dir =>
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
        "dedup_containment_sketch" -> { dir =>
          Dedup.containmentSketchPairs(docs(dir), "doc_id", "text", 4, 16, 0.9)
            .count()
        },
        // curation family on the same corpus: chunk-DF boilerplate accounting
        // (one chunk-key shuffle) and train/test shingle decontamination
        "curation_boilerplate" -> { dir =>
          graft.operators.Curation.boilerplateAccounting(
            docs(dir), "doc_id", "text", 8, maxDocFreq = 1L).count()
        },
        // the rewrite half: same two hashed shuffles plus the per-doc
        // reassembly aggregate (sort_array over each doc's surviving
        // chunks — cost is per-document, never a sort of the chunk stream)
        "curation_boilerplate_rm" -> { dir =>
          graft.operators.Curation.removeBoilerplate(
            docs(dir), "doc_id", "text", 8, maxDocFreq = 1L).count()
        },
        "curation_decontaminate" -> { dir =>
          val d = docs(dir)
          graft.operators.Curation.decontaminate(
            d.filter(col("source") =!= "src0"), d.filter(col("source") === "src0"),
            "doc_id", "text", 4).count()
        },
        // Bloom-prefiltered twin: the broadcast sketch gates the train side
        // map-side, so the exact join's input is overlap + fpp of the train
        // shingles — the bigger the train side, the more the sketch saves
        // (the ratio here should UNDERCUT curation_decontaminate's)
        "curation_decontam_bloom" -> { dir =>
          val d = docs(dir)
          graft.operators.Curation.decontaminateBloom(
            d.filter(col("source") =!= "src0"), d.filter(col("source") === "src0"),
            "doc_id", "text", 4).count()
        },
        // token-budget selection, budget scaled with the corpus (~half the
        // total tokens binds at every factor): three narrow scans + a
        // cumsum over the per-score histogram + ONE tie-group window
        "token_budget_select" -> { dir =>
          val d = docs(dir)
          graft.operators.Curation.selectByTokenBudget(d, "doc_id", "text",
              Seq("a", "the"), budgetTokens = 25L * nRows(dir))
            .filter(col("selected")).count()
        },
        // worst case BY CONSTRUCTION: identical text → every doc ties at the
        // boundary score, the whole corpus lands in the single tie-group
        // ordered cumsum (the brute shape — the information-theoretic floor
        // for exact greedy). Bounds the operator's degenerate cost; the row
        // above is its typical cost.
        "token_budget_all_tie" -> { dir =>
          val d = docs(dir).withColumn("text",
            lit("alpha beta gamma delta epsilon zeta eta theta"))
          graft.operators.Curation.selectByTokenBudget(d, "doc_id", "text",
              Seq("a", "the"), budgetTokens = 4L * nRows(dir))
            .filter(col("selected")).count()
        },
        // end-to-end pipeline: gate → scrub → exact dedup → near-dup (cutoff
        // self-derived from the post-dedup corpus size) → split. Includes the
        // pipeline's own accounting actions; caches cleared per run so the
        // big run can't ride the small run's blocks.
        "corpus_pipeline" -> { dir =>
          graft.operators.CorpusPipeline.withPrepared(docs(dir), "doc_id",
            "text", graft.operators.CorpusPipeline.Config())(_.corpus.count())
        },
        // integer-exact TF-IDF: tf shuffle on (source, term), df from per-row
        // distinct, term-keyed join, heap top-k — vocabulary grows with the
        // copy-tagging, the token stream with the factor
        "text_tfidf_top5" -> { dir =>
          graft.operators.Curation.salientTerms(docs(dir), "doc_id", "text",
            "source", 5).count()
        },
        // map-side linear scorer + one accounting shuffle
        "quality_class" -> { dir =>
          graft.operators.Curation.qualityScore(docs(dir), "text",
              Seq("a", "the"), 250000L)
            .groupBy(col("source"))
            .agg(count(when(col("keep"), 1)).as("n_keep")).count()
        },
        // hashed-long token shuffle + per-doc agg (the TF-IDF join shape)
        "text_rarity" -> { dir =>
          graft.operators.Curation.rarityScore(docs(dir), "doc_id", "text").count()
        },
        // map-side pair explode + one hash-agg + TakeOrdered heap
        "text_bpe_merges" -> { dir =>
          graft.operators.Curation.bpeMergeCandidates(docs(dir), "text", 20).count()
        },
        // hashed pair/prefix count shuffles + joins; the pair vocabulary
        // grows with the copy-tagging, the stream with the factor
        "text_bigram_lm" -> { dir =>
          graft.operators.Curation.bigramLmScore(docs(dir), "doc_id", "text").count()
        },
        // map-side MG summaries + candidate-only exact count: the candidate
        // union grows with partitions x capacity, never with the corpus
        "text_heavy_hitters" -> { dir =>
          graft.operators.HeavyHitters.topTokens(docs(dir), "text", 20, 4096).count()
        },
        // pair + unigram hash-aggs, minCount filter before the joins
        // (scaled with the corpus so the filtered vocabulary stays bounded)
        "text_collocations" -> { dir =>
          graft.operators.Curation.collocations(docs(dir), "text", 20,
            minCount = 20L * (nRows(dir) / 5000L).max(1L)).count()
        },
        // fuzzy-dedup → re-balance capstone (r13): banded pair gen +
        // closure + survivor anti-join + per-source re-weighting. On the
        // copy-tagged corpus the pair set grows linearly, so this measures
        // the COMPOSITION's plan, not a fixture artifact (the tail-suffix
        // main-soak corpus makes every long doc's copies mutual near-dups
        // — quadratic truth by construction — which is why the registry
        // query is excluded from the main sweep).
        "dedup_rebalance" -> { dir =>
          val d = docs(dir)
          val pairs = Dedup.minhashLshPairs(d, "doc_id", "text", 4, 0.5)
            .select(col("a_id"), col("b_id"))
          val comp = graft.operators.Components
            .connectedComponents(pairs, "a_id", "b_id")
          val losers = comp.filter(col("node") =!= col("component_id"))
            .select(col("node").as("doc_id"))
          d.join(losers, Seq("doc_id"), "left_anti")
            .groupBy(col("source")).agg(count(lit(1))).count()
        })
      println(f"${"dedup op"}%-24s ${"small_warm"}%10s ${"big_warm"}%10s ${"ratio"}%7s (docs x$dedupFactor, dfcut)")
      // SPARK_GRAFT_SOAK_DEDUP_ONLY=<substr>[,<substr>…] narrows the section
      // — a local iteration aid for re-soaking one family at a big factor
      // without paying the whole sweep (the main-sweep args convention)
      val only = sys.env.get("SPARK_GRAFT_SOAK_DEDUP_ONLY")
        .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
      runs.filter { case (n, _) => only.isEmpty || only.exists(n.contains) }
        .foreach { case (name, f) =>
        // warm BOTH sides: timing the big corpus cold would fold plan codegen
        // and first-touch I/O into exactly the ratio this section reports.
        // One Materialize scope per run (the main-sweep hygiene) so no row
        // times against an earlier row's leaked blocks.
        def run(dir: String): Double = Materialize.scope(time(f(dir)))
        run(small); val tSmall = run(small)
        run(dbig); val tBig = run(dbig)
        println(f"$name%-24s $tSmall%10.2f $tBig%10.2f ${tBig / tSmall}%7.1f")
      }
    }

    // ---- Airbnb ETL end-to-end (the reference's own workload shape) at
    // 1× vs 10×: csv.gz feeds synthesized from the fixture tables
    // (listings ← customer, calendar ← listings × 100 days ≈ 1.5M rows at
    // the big scale, reviews ← orders), then the FULL warehouse pipeline
    // (clean → typed MERGE → id map → dims → week/year-partitioned facts →
    // enrichment) plus the one-job invariant validate, twice — the second
    // run exercises the upsert/anti-join path against a populated
    // warehouse. Proves the warehouse path, not just the query registry,
    // holds at 10× fixture scale. Enable: SPARK_GRAFT_SOAK_ETL=1.
    if (sys.env.getOrElse("SPARK_GRAFT_SOAK_ETL", "0") == "1") {
      def synthFeeds(sfDir: String, tag: String): String = {
        val dir = s"/tmp/graft-soak-etl-$tag"
        if (!new java.io.File(s"$dir/reviews/_SUCCESS").exists()) {
          val cust = Tables.load(spark, sfDir, "customer")
          def gz(df: DataFrame, sub: String): Unit =
            df.write.mode("overwrite").option("header", "true")
              .option("compression", "gzip").csv(s"$dir/$sub")
          gz(cust.select(
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
              (pmod(col("c_custkey"), lit(5L)) + 1).as("calculated_host_listings_count")),
            "listings")
          val dates = spark.range(100).select(
            date_add(lit("2025-01-01").cast("date"), col("id").cast("int")).as("d"))
          gz(cust.select(col("c_custkey").as("listing_id"))
              .crossJoin(broadcast(dates))
              .withColumn("available",
                when(pmod(col("listing_id") + dayofmonth(col("d")), lit(2)) === 0, "t")
                  .otherwise("f"))
              .withColumn("price", concat(lit("$"),
                (pmod(col("listing_id"), lit(150L)) + 40).cast("string"), lit(".00")))
              .select(col("listing_id"),
                date_format(col("d"), "yyyy-MM-dd").as("date"),
                col("available"), col("price")),
            "calendar")
          gz(Tables.load(spark, sfDir, "orders").select(
              col("o_custkey").as("listing_id"),
              col("o_orderkey").as("id"),
              date_format(col("o_orderdate"), "yyyy-MM-dd").as("date"),
              pmod(col("o_custkey") * 7, lit(100000L)).as("reviewer_id"),
              concat(lit("reviewer_"), col("o_custkey")).as("reviewer_name"),
              concat(lit("the stay was great and the host for order "),
                col("o_orderkey"), lit(" was very kind and the place is warm"))
                .as("comments")),
            "reviews")
        }
        dir
      }
      def runEtl(feeds: String, whRoot: String): Double = time {
        val r = graft.airbnb.AirbnbEtl.run(spark, whRoot,
          s"$feeds/listings/*.csv.gz", s"$feeds/calendar/*.csv.gz",
          s"$feeds/reviews/*.csv.gz")
        val bad = graft.airbnb.AirbnbEtl.validate(r.wh).filter(_._2 != 0)
        require(bad.isEmpty, s"warehouse invariants violated: $bad")
      }
      val fS = synthFeeds("/root/testdata/sf0.01", "small")
      val fB = synthFeeds("/root/testdata/sf0.1", "big")
      val whS = java.nio.file.Files.createTempDirectory("soak-etl-wh-s").toString
      val whB = java.nio.file.Files.createTempDirectory("soak-etl-wh-b").toString
      println(f"${"airbnb etl"}%-24s ${"small (s)"}%10s ${"big (s)"}%10s ${"ratio"}%7s (feeds from sf0.01 vs sf0.1)")
      val s1 = runEtl(fS, whS); val b1 = runEtl(fB, whB)
      println(f"${"etl first load"}%-24s $s1%10.2f $b1%10.2f ${b1 / s1}%7.1f")
      // re-run over the SAME warehouse: MERGE update path + review anti-join
      val s2 = runEtl(fS, whS); val b2 = runEtl(fB, whB)
      println(f"${"etl idempotent rerun"}%-24s $s2%10.2f $b2%10.2f ${b2 / s2}%7.1f")
    }

    // ---- skewed-join remedies, measured (the 100 TB straggler case): 90%
    // of the big side shares ONE key, broadcast is disabled (the two-big-
    // tables scenario where skew actually bites), and the same join runs
    // three ways — plain sort-merge (the straggler), sort-merge with AQE's
    // skew split (thresholds lowered so it fires at fixture scale), and the
    // planner-independent salted form (SkewJoin.saltedJoin). Enable:
    // SPARK_GRAFT_SOAK_SKEW=1.
    if (sys.env.getOrElse("SPARK_GRAFT_SOAK_SKEW", "0") == "1") {
      def bigSide(dir: String) = Tables.load(spark, dir, "lineitem")
        .select(when(pmod(col("l_orderkey"), lit(100L)) < 99, lit(1L))
          .otherwise(col("l_orderkey")).as("k"), col("l_quantity"))
      def dimSide(dir: String) = bigSide(dir).select(col("k")).distinct()
        .withColumn("payload", col("k") * 2 + 1)
      def runSkew(name: String, f: String => Long): Unit = {
        f(small); val t1 = time(f(small)); f(big); val t2 = time(f(big))
        println(f"$name%-24s $t1%10.2f $t2%10.2f ${t2 / t1}%7.1f")
      }
      val conf = spark.conf
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        println(f"${"skew remedy"}%-24s ${"small (s)"}%10s ${"big (s)"}%10s ${"ratio"}%7s (99%% of rows on one key)")
        conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        runSkew("skew_plain_smj", dir =>
          bigSide(dir).join(dimSide(dir), "k").count())
        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        runSkew("skew_plain_aqe_split", dir =>
          bigSide(dir).join(dimSide(dir), "k").count())
        conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        runSkew("skew_salted_x8", dir => graft.operators.SkewJoin.saltedJoin(
          bigSide(dir), dimSide(dir), "k", 8).count())
      } finally {
        conf.unset("spark.sql.autoBroadcastJoinThreshold")
        conf.unset("spark.sql.adaptive.skewJoin.enabled")
        conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
        conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      }
    }

    // ---- SemDeDup/contrastive cell-size scaling: their pair joins are
    // quadratic in CELL population by design, so the operator contract is
    // that k scales with the corpus (constant cell size — the SemDeDup
    // paper runs 50k cells on LAION). The registry queries hold k=4 for
    // oracle reuse, which makes their x10 soak ratio ~quadratic BY
    // CONSTRUCTION; this section measures the contract instead: x10 data
    // with k=4 (cells 10×) vs k=40 (cells back at 1× size). The k=40
    // column landing near the small-corpus column (× the data factor for
    // the map-side passes) is the linearity evidence.
    // Enable: SPARK_GRAFT_SOAK_SEMK=1.
    if (sys.env.get("SPARK_GRAFT_SOAK_SEMK").contains("1")) {
      def emb(dir: String) = Tables.load(spark, dir, "embeddings")
      def sd(dir: String, k: Int): Long =
        graft.operators.Dedup.semDedup(emb(dir), "vec_id", "embedding",
          k, passes = 2, threshold = 0.2).count()
      def ct(dir: String, k: Int): Long =
        graft.operators.Similarity.contrastiveTriplets(emb(dir), "vec_id",
          "embedding", k, passes = 2,
          posThreshold = 0.25, negLo = 0.05, negHi = 0.15).count()
      val cellRuns: Seq[(String, (String, Int) => Long)] =
        Seq("semdedup" -> (sd _), "contrastive" -> (ct _))
      println(f"${"cell op"}%-24s ${"small k4"}%10s ${"big k4"}%10s ${"big k40"}%10s (data x$factor)")
      cellRuns.foreach { case (name, f) =>
        f(small, 4); val tS = time(f(small, 4))
        f(big, 4); val tB4 = time(f(big, 4))
        f(big, 40); val tB40 = time(f(big, 40))
        println(f"$name%-24s $tS%10.2f $tB4%10.2f $tB40%10.2f")
      }
    }

    // ---- 100× dedup/ANN spine soak (cutoff engaged, k scaled): the
    // measurement the 100 TB design argument rests on. The corpus is the
    // copy-tagged documents replication (no cross-copy shingle sharing —
    // true answer grows linearly); embeddings replicate with a
    // norm-preserving cyclic rotation (+ sign flip past one full turn) so
    // copies are semantically DISTINCT vectors, not factor-sized duplicate
    // groups. Learned operators scale their capacity with the corpus per
    // their documented contracts: SemDeDup k ×factor (constant cell size),
    // IVF nLists ×factor (constant list length). Reported: raw big/small
    // warm ratio AND ratio DIV factor (per-row cost growth; ≤ ~1.5 is the
    // linear-scaling bar — the 32 local threads absorb part of the factor,
    // so per-row ratios can also land BELOW 1).
    // Enable: SPARK_GRAFT_SOAK_SPINE=100 (any factor >= 2 works).
    val spineFactor = sys.env.getOrElse("SPARK_GRAFT_SOAK_SPINE", "0").toInt
    if (spineFactor > 1) {
      import graft.operators.{Dedup, Similarity}
      val M = 100000000L
      val dbig = ensureSpineDocs(spark, small, spineFactor)
      ensureSpineEmbeddings(spark, small, dbig, spineFactor)
      def docs(dir: String) = Tables.load(spark, dir, "documents")
      def emb(dir: String) = Tables.load(spark, dir, "embeddings")
      def lineStats(dir: String): Long = {
        val lines = docs(dir)
          .select(col("doc_id"), graft.functions.TextFns.tokens(col("text")).as("__t"))
          .filter(size(col("__t")) >= 1)
          .select(col("doc_id"),
            posexplode(graft.functions.TextFns.chunkExpr("__t", 3, 3)).as(Seq("pos", "line")))
        Dedup.dedupLineStats(lines, "doc_id", "pos", "line").count()
      }
      def semK(dir: String, k: Int): Long =
        Dedup.semDedup(emb(dir), "vec_id", "embedding", k,
          passes = 2, threshold = 0.2).count()
      def ivfK(dir: String, nLists: Int): Long = {
        val e = emb(dir)
        val q = e.filter(col("vec_id") % M < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
        val c = e.select(col("vec_id").as("c_id"), col("embedding").as("ce"))
        Similarity.ivfTopK(q, c, nLists = nLists, nProbe = 8, k = 5).count()
      }
      // graph ANN under the cell-size contract: knnGraph's pair generator
      // is the semDedup spine (k scales with the corpus so cells stay
      // constant-size) and graphTopK's frontier is |queries|·beam·degree —
      // query-bounded, so at ×factor data the serve side should be ~flat
      // and only the graph BUILD grows (linearly, with k scaled)
      def graphK(dir: String, k: Int): Long = {
        val e = emb(dir)
        val g = Similarity.knnGraph(e, "vec_id", "embedding", k,
          passes = 2, degree = 6)
        val q = e.filter(col("vec_id") % M < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
        val c = e.select(col("vec_id").as("c_id"), col("embedding").as("ce"))
        Similarity.graphTopK(q, c, g, entryK = 4, beam = 8, hops = 2, k = 5)
          .count()
      }
      val spineRuns: Seq[(String, String => Long)] = Seq(
        "spine_minhash_lsh" -> (dir => Dedup.minhashLshPairs(
          docs(dir), "doc_id", "text", 4, 0.5).count()),
        "spine_line_dedup" -> (dir => lineStats(dir)),
        "spine_semdedup_k" -> (dir =>
          semK(dir, if (dir == small) 4 else 4 * spineFactor)),
        "spine_ivf_topk_k" -> (dir =>
          ivfK(dir, if (dir == small) 8 else 8 * spineFactor)),
        "spine_graph_topk_k" -> (dir =>
          graphK(dir, if (dir == small) 4 else 4 * spineFactor)))
      println(f"${"spine op"}%-24s ${"small_warm"}%10s ${"big_warm"}%10s ${"ratio"}%7s ${"r/f"}%5s (data x$spineFactor, k scaled)")
      spineRuns.foreach { case (name, f) =>
        f(small); val tS = time(f(small))
        f(dbig); val tB = time(f(dbig))
        println(f"$name%-24s $tS%10.2f $tB%10.2f ${tB / tS}%7.1f ${tB / tS / spineFactor}%5.2f")
      }
    }
    // COMPOSITION soaks (round-14 verdict #3): the two multi-stage shapes
    // users actually run end-to-end — the full corpus pipeline (gate →
    // scrub → exact dedup → LSH near-dup → split) and the near-dup CLOSURE
    // (LSH pairs → connected components → quality survivorship) — at a
    // copy-tagged 100× factor. Copy-tagging keeps the TRUE answer linear
    // (every token carries a per-copy suffix, so no shingle crosses
    // copies; see the dedup-section note), so a superlinear time ratio is
    // a plan defect, not data growth. The closure's BIG side FORCES the
    // distributed label-propagation loop (localThreshold = 0, the
    // cutoff-engaged 100 TB path) while the small side takes the default
    // driver union-find — one measured pair covers both sides of the gate.
    // Enable: SPARK_GRAFT_SOAK_COMPOSE=100 (any factor >= 2 works).
    val composeFactor = sys.env.getOrElse("SPARK_GRAFT_SOAK_COMPOSE", "0").toInt
    if (composeFactor > 1) {
      import graft.operators.{Components, CorpusPipeline, Dedup}
      val dbig = ensureSpineDocs(spark, small, composeFactor)
      def docs(dir: String) = Tables.load(spark, dir, "documents")
      def pipeline(dir: String): Long =
        CorpusPipeline.withPrepared(docs(dir), "doc_id", "text",
          CorpusPipeline.Config())(_.corpus.count())
      def closure(dir: String): Long = {
        val pairs = Dedup.minhashLshPairs(docs(dir), "doc_id", "text", 4, 0.5)
        val comp = Components.connectedComponents(pairs, "a_id", "b_id",
          localThreshold = if (dir == small) Components.LocalEdgeThreshold else 0L)
        val scored = docs(dir).select(col("doc_id"),
          graft.functions.TextFns.tokenCount(col("text")).cast("long").as("score"))
        Components.survivorsByQuality(comp, scored, "doc_id", "score").count()
      }
      def run(f: String => Long, dir: String): Double = Materialize.scope(time(f(dir)))
      val runs: Seq[(String, String => Long)] = Seq(
        "compose_corpus_pipeline" -> (pipeline _),
        "compose_dedup_closure" -> (closure _))
      println(f"${"compose op"}%-26s ${"small_warm"}%10s ${"big_warm"}%10s ${"ratio"}%7s ${"r/f"}%5s (data x$composeFactor)")
      runs.foreach { case (name, f) =>
        run(f, small); val tS = run(f, small)
        run(f, dbig); val tB = run(f, dbig)
        println(f"$name%-26s $tS%10.2f $tB%10.2f ${tB / tS}%7.1f ${tB / tS / composeFactor}%5.2f")
      }
    }
    // ---- streaming gate maintenance soak (r16): the live gates' per-batch
    // ledger/index upkeep had no published scaling row. The corpus is the
    // copy-tagged spine replication (no cross-copy shingle/content sharing,
    // so gate work grows with data, not with pair fan-out), split into 3
    // micro-batches by doc_id mod 3 and pushed through the REAL foreachBatch
    // bodies — budget gate including the fold compaction, percentile gate
    // with frozen thresholds, substring gate including its per-batch index
    // merge + swap. Fresh state dirs per run (a reused dir would replay as
    // a committed no-op). Reported: 3-batch wall at 1x vs xF, ratio, r/f.
    // Enable: SPARK_GRAFT_SOAK_GATES=10.
    val gatesFactor = sys.env.getOrElse("SPARK_GRAFT_SOAK_GATES", "0").toInt
    if (gatesFactor > 1) {
      import graft.streaming.Streams
      val dbig = ensureSpineDocs(spark, small, gatesFactor)
      def docs(dir: String) = Tables.load(spark, dir, "documents")
      def batch(dir: String, i: Int) =
        docs(dir).filter(pmod(col("doc_id"), lit(3)) === i)
      def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
      def runBudget(dir: String): Unit = {
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
      }
      def runPercentile(dir: String): Unit = {
        val out = tmp("soak-pct-out"); val rej = tmp("soak-pct-rej")
        val thr0 = graft.operators.Curation.qualityScore(docs(dir), "text",
            Seq("a", "the"), keepThreshold = Long.MinValue)
          .groupBy(col("lang"))
          .agg(expr("CAST(percentile_approx(score, 0.5) AS BIGINT)")
            .as("score_threshold"))
        val thr = Materialize.eager(thr0)
        (0 until 3).foreach { i =>
          Streams.percentileGateBatch(batch(dir, i), thr, out, rej,
            i.toLong, "text", "lang", Seq("a", "the"))
        }
      }
      def runSubstring(dir: String): Unit = {
        val out = tmp("soak-sub-out")
        val wh = graft.airbnb.Warehouse(spark, tmp("soak-sub-wh"))
        (0 until 3).foreach { i =>
          Streams.substringGateBatch(batch(dir, i), wh, "anchor_idx", out,
            i.toLong, "doc_id", "text", k = 4, minSpanTokens = 6,
            maxOccurrences = 64L)
        }
      }
      // CELL-LOCAL variant of the substring gate (r20, VERDICT r19 #6 —
      // the kNN localbatch design applied to the anchor index): the
      // corpus's anchors are ingested OUTSIDE the timed window and each
      // timed batch is a CONSTANT-absolute-size held-out slice (doc_id mod
      // m == i with m = 97·F, so corpus/m is the same count at 1x and xF).
      // With the r20 broadcast probe the batch side broadcasts over the
      // index scan, so the expected per-batch anatomy is O(batch kernel) +
      // O(index SCAN, map-side, no exchange) + O(hits): a residual ratio
      // above ~1 here prices the unavoidable index scan — exact substring
      // gating reads its whole index per batch (hash keys have no
      // locality to prune on) — NOT an exchange term. Same replay-drift
      // caveat as the kNN localbatch row (fresh ids per invocation).
      val subLocalState = scala.collection.mutable.Map[String,
        (graft.airbnb.Warehouse, String, IndexedSeq[org.apache.spark.sql.DataFrame])]()
      var subLocalSeq = 0L
      def runSubstringLocal(dir: String): Unit = {
        val m = if (dir == small) 97 else 97 * gatesFactor
        val (wh, out, batches) = subLocalState.getOrElseUpdate(dir, {
          val wh0 = graft.airbnb.Warehouse(spark, tmp("soak-subl-wh"))
          val out0 = tmp("soak-subl-out")
          val all = docs(dir)
          val held = (0 until 3).map { i =>
            Materialize.eager(all.filter(pmod(col("doc_id"), lit(m)) === i))
          }
          // steady-state index: everything outside the held-out slices,
          // ingested once, untimed
          Streams.substringGateBatch(
            all.filter(pmod(col("doc_id"), lit(m)) >= 3), wh0, "anchor_idx",
            out0, 0L, "doc_id", "text", k = 4, minSpanTokens = 6,
            maxOccurrences = 64L)
          (wh0, out0, held)
        })
        (0 until 3).foreach { i =>
          subLocalSeq += 1
          Streams.substringGateBatch(
            batches(i).withColumn("doc_id",
              col("doc_id") + lit(subLocalSeq << 41)),
            wh, "anchor_idx", out, subLocalSeq, "doc_id", "text", k = 4,
            minSpanTokens = 6, maxOccurrences = 64L)
        }
      }
      // kNN-graph maintenance gate: k scales with the corpus (the cell-size
      // contract every graph/semdedup soak applies), the frozen fit is
      // trained once per dir OUTSIDE the timed run (production's
      // train/persist/assign split — per-batch cost is merge + swap only)
      ensureSpineEmbeddings(spark, small, dbig, gatesFactor)
      def emb(dir: String) = Tables.load(spark, dir, "embeddings")
      val kgCents = scala.collection.mutable.Map[String, Array[Array[Long]]]()
      def kgCentsFor(dir: String): Array[Array[Long]] =
        kgCents.getOrElseUpdate(dir, graft.operators.KMeans.train(emb(dir),
          "vec_id", "embedding", if (dir == small) 4 else 4 * gatesFactor, 2))
      def runKnnGraph(dir: String): Unit = {
        val out = tmp("soak-kg-out")
        val wh = graft.airbnb.Warehouse(spark, tmp("soak-kg-wh"))
        val cents = kgCentsFor(dir)
        (0 until 3).foreach { i =>
          Streams.knnGraphGateBatch(
            emb(dir).filter(pmod(col("vec_id"), lit(3)) === i), wh, cents,
            "kg_graph", "kg_vecs", out, i.toLong, "vec_id", "embedding",
            degree = 6)
        }
      }
      // FIXED-batch variant (r18 decomposition): batches are the same
      // ABSOLUTE size at 1x and xF (pmod 30 vs 30*F), so per-batch probe
      // work is constant and the small→big growth isolates the
      // O(corpus)-per-batch terms — the prior-graph scan + whole-table
      // graph swap. The production daily-gate shape is batch ≪ corpus,
      // which the corpus/3 batches of the main row cannot represent.
      def runKnnGraphFixed(dir: String): Unit = {
        val out = tmp("soak-kgf-out")
        val wh = graft.airbnb.Warehouse(spark, tmp("soak-kgf-wh"))
        val cents = kgCentsFor(dir)
        val m = if (dir == small) 30 else 30 * gatesFactor
        (0 until 3).foreach { i =>
          Streams.knnGraphGateBatch(
            emb(dir).filter(pmod(col("vec_id"), lit(m)) === i), wh, cents,
            "kg_graph", "kg_vecs", out, i.toLong, "vec_id", "embedding",
            degree = 6)
        }
      }
      // CELL-LOCAL batch variant (r19, VERDICT r18 #5): the 3-batch and
      // fixed-batch rows split the corpus across batches, so every batch
      // touches every cell and the touched-cell design's sublinearity
      // cannot show. Here the corpus is ingested OUTSIDE the timed window
      // (the daily gate's steady state) and each timed batch is the
      // held-out residue of ONE cell — and both the batch size and the
      // touched-cell size are CONSTANT across 1x and xF by construction
      // (batch_i = (vec_id % 97 == 0) ∩ cell i; cells number 4 at 1x and
      // 4F at xF, so one cell holds ~corpus/4F·F = corpus₁ₓ/4 vectors at
      // every scale). If per-batch cost is O(touched), the timed 3-merge
      // wall is FLAT as the corpus grows ×F (ratio ≈ 1, r/f ≈ 1/F); any
      // O(corpus) residue in the merge or the partition swap shows up as
      // ratio > 1 directly.
      val kgLocalState = scala.collection.mutable.Map[String,
        (graft.airbnb.Warehouse, String, IndexedSeq[org.apache.spark.sql.DataFrame])]()
      var kgLocalSeq = 0L
      def runKnnGraphLocal(dir: String): Unit = {
        val cents = kgCentsFor(dir)
        val (wh, out, batches) = kgLocalState.getOrElseUpdate(dir, {
          val wh0 = graft.airbnb.Warehouse(spark, tmp("soak-kgl-wh"))
          val out0 = tmp("soak-kgl-out")
          val all = emb(dir)
          val tagged0 = graft.operators.KMeans.assignWith(all, "vec_id",
              "embedding", cents)
            .filter(pmod(col("vec_id"), lit(97)) === 0 && col("cluster") < 3)
            .select(col("vec_id"), col("cluster"))
          val tagged = Materialize.eager(tagged0)
          val bs = (0 until 3).map { i =>
            Materialize.eager(all.join(tagged.filter(col("cluster") === i).select("vec_id"),
              Seq("vec_id"), "left_semi"))
          }
          // steady-state corpus: everything outside the held-out batches,
          // ingested once, untimed
          graft.streaming.Streams.knnGraphGateBatch(
            all.join(tagged.select("vec_id"), Seq("vec_id"), "left_anti"),
            wh0, cents, "kg_graph", "kg_vecs", out0, 0L, "vec_id",
            "embedding", degree = 6)
          (wh0, out0, bs)
        })
        (0 until 3).foreach { i =>
          kgLocalSeq += 1
          // fresh ids per invocation (the vec_id uniqueness contract —
          // the harness replays the same held-out vectors as NEW daily
          // arrivals); embeddings are unchanged, so each batch still
          // lands in exactly its one cell.
          //
          // CAVEAT (ADVICE r19): because replays accumulate, each
          // invocation grows the touched cells by ~3x batch vectors, so
          // "touched-cell size constant by construction" is exact only
          // for the first invocation. The bracket comparison survives
          // anyway: the harness runs the same warm-up + timed sequence
          // at 1x and xF and the batch size is the same ABSOLUTE count
          // at both scales, so both sides of the ratio carry the same
          // additive growth (cell + k*3*batch at invocation k) — an
          // O(corpus) term would still read ~x10 while this drift stays
          // a few percent of a cell. SCALING.md's localbatch row states
          // the same caveat.
          graft.streaming.Streams.knnGraphGateBatch(
            batches(i).withColumn("vec_id",
              col("vec_id") + lit(kgLocalSeq << 41)),
            wh, cents, "kg_graph", "kg_vecs", out, kgLocalSeq, "vec_id",
            "embedding", degree = 6)
        }
      }
      val gateRuns: Seq[(String, String => Unit)] = Seq(
        "gate_budget_ledger" -> (runBudget _),
        "gate_percentile" -> (runPercentile _),
        "gate_substring_index" -> (runSubstring _),
        "gate_substring_localbatch" -> (runSubstringLocal _),
        "gate_knn_graph" -> (runKnnGraph _),
        "gate_knn_graph_fixedbatch" -> (runKnnGraphFixed _),
        "gate_knn_graph_localbatch" -> (runKnnGraphLocal _))
      // SPARK_GRAFT_SOAK_GATE_ONLY=substr narrows to matching gate rows —
      // the isolated re-measurement aid (a full 7-row pass is ~10 min)
      val gateOnly = sys.env.getOrElse("SPARK_GRAFT_SOAK_GATE_ONLY", "")
      println(f"${"gate (3 batches)"}%-26s ${"small_warm"}%10s ${"big_warm"}%10s ${"ratio"}%7s ${"r/f"}%5s (data x$gatesFactor)")
      gateRuns.filter(r => gateOnly.isEmpty || r._1.contains(gateOnly))
        .foreach { case (name, f) =>
        f(small); val tS = time(f(small))
        f(dbig); val tB = time(f(dbig))
        println(f"$name%-26s $tS%10.2f $tB%10.2f ${tB / tS}%7.1f ${tB / tS / gatesFactor}%5.2f")
      }
    }

    spark.stop()
  }

  /** Norm-preserving scaled embeddings next to the spine docs: `factor`
    * cyclic-rotated (+ sign-flipped past one full turn) copies, so copies
    * are semantically DISTINCT vectors, not factor-sized duplicate groups.
    */
  private def ensureSpineEmbeddings(spark: SparkSession, small: String,
                                    dbig: String, factor: Int): Unit = {
    val M = 100000000L
    if (!new java.io.File(s"$dbig/embeddings.parquet").exists()) {
      val base = Tables.load(spark, small, "embeddings")
      val dim = 64
      (0 until factor).map { i =>
        val r = i % dim
        val sign = if ((i / dim) % 2 == 1) "-" else ""
        val rotated =
          if (r == 0) col("embedding")
          else expr(s"concat(slice(embedding, ${r + 1}, ${dim - r}), slice(embedding, 1, $r))")
        base.withColumn("vec_id", col("vec_id") + i * M)
          .withColumn("embedding", rotated)
          .withColumn("embedding", expr(
            s"transform(embedding, x -> CAST(${sign}x AS FLOAT))"))
      }.reduceLeft(_ unionByName _)
        .repartition(16).write.mode("overwrite").parquet(s"$dbig/embeddings.parquet")
      println(s"generated spine embeddings x$factor")
    }
  }

  /** The copy-tagged spine/compose documents fixture: `factor` key-shifted
    * copies of the sf0.1 documents table, every TOKEN suffixed per copy so
    * no shingle (and no content hash) crosses copies — the true dedup
    * answer stays exactly `factor` × the base answer. Shared by the
    * SPINE and COMPOSE soak sections; regenerated per /tmp lifetime, so
    * ratios are comparable only within one generation.
    */
  private def ensureSpineDocs(spark: SparkSession, small: String, factor: Int): String = {
    val M = 100000000L
    val dbig = s"/tmp/graft-soak-spine-x$factor"
    if (!new java.io.File(s"$dbig/documents.parquet").exists()) {
      val base = Tables.load(spark, small, "documents")
      (0 until factor).map(i =>
          base.withColumn("doc_id", col("doc_id") + i * M)
            .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1w$i")))
        .reduce(_ unionByName _)
        .repartition(64).write.mode("overwrite").parquet(s"$dbig/documents.parquet")
      println(s"generated spine documents x$factor")
    }
    dbig
  }

  /** Key-shifted replication; text gets a per-copy suffix so content-hash
    * dedup doesn't degenerate into factor-sized duplicate groups.
    */
  private def generate(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    def rep(name: String, grow: (DataFrame, Int) => DataFrame): Unit = {
      // events: keep ts as raw nanos-long so Tables.events' conversion still
      // applies when reading the soak copy
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val base =
        if (name == "events") spark.read.parquet(s"$src/events.parquet")
        else Tables.load(spark, src, name)
      val out = (0 until factor).map(i => grow(base, i)).reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"generated $name x$factor")
    }
    val M = 100000000L
    rep("lineitem", (df, i) => df.withColumn("l_orderkey", col("l_orderkey") + i * M))
    rep("orders", (df, i) => df.withColumn("o_orderkey", col("o_orderkey") + i * M)
      .withColumn("o_custkey", col("o_custkey") + i * M))
    rep("customer", (df, i) => df.withColumn("c_custkey", col("c_custkey") + i * M))
    rep("events", (df, i) => df.withColumn("event_id", col("event_id") + i * M)
      .withColumn("user_id", col("user_id") + lit(i * 1000L)))
    rep("documents", (df, i) => df.withColumn("doc_id", col("doc_id") + i * M)
      .withColumn("text", concat(col("text"), lit(s" copytoken$i"))))
    rep("embeddings", (df, i) => df.withColumn("vec_id", col("vec_id") + i * M))
    Seq("region", "nation", "supplier", "part").foreach { t =>
      Tables.load(spark, src, t).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
  }
}
