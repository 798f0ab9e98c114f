package graft.operators

import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end training-corpus preparation: quality gate → PII scrub → exact
  * dedup → near-dup removal → deterministic split → context-window chunking,
  * as ONE composable library call. Each stage is the oracle-checked operator
  * it names; this object only sequences them and keeps the row accounting.
  *
  * Scale shape: the quality gate and scrub are narrow (no shuffle); exact
  * dedup shuffles once on the content fingerprint; near-dup pair generation
  * is the bounded shared-shingle join (document-frequency cutoff from
  * [[Tuning]]); the survivor anti-join shuffles on doc id; split is a pure
  * expression; chunking is a narrow explode. Nothing in the pipeline holds
  * per-partition state beyond the dedup heaps, and nothing collects to the
  * driver.
  */
object CorpusPipeline {

  /** @param minTokens     drop docs shorter than this (whitespace tokens)
    * @param maxRepetition drop docs whose 3-gram repeat fraction exceeds this
    * @param scrubPii      replace emails/phones with typed placeholders
    * @param nearDupK      shingle width for near-dup removal (0 = skip)
    * @param nearDupJaccard near-dup threshold; the LOWER doc id survives
    * @param nearDupMethod "minhash-lsh" (default — sketch + band self-join,
    *                      the FineWeb/Gopher-style production leg: per-doc
    *                      map-side signatures, candidate shuffle bounded by
    *                      band collisions) or "ngram" (exact Jaccard over
    *                      the shared-shingle pair join — higher cost, exact
    *                      pair scores, document-frequency cutoff applied)
    * @param trainPct      deterministic hash split: bucket < trainPct → train
    * @param chunkSize     tokens per chunk (0 = no chunking)
    * @param chunkStride   tokens between chunk starts
    */
  final case class Config(
      minTokens: Int = 20,
      maxRepetition: Double = 0.5,
      scrubPii: Boolean = true,
      nearDupK: Int = 4,
      nearDupJaccard: Double = 0.85,
      nearDupMethod: String = "minhash-lsh",
      trainPct: Int = 80,
      chunkSize: Int = 0,
      chunkStride: Int = 0) {
    require(nearDupMethod == "minhash-lsh" || nearDupMethod == "ngram",
      s"nearDupMethod must be 'minhash-lsh' or 'ngram': $nearDupMethod")
  }

  /** `corpus`'s deduped parent stage stays persisted (MEMORY_AND_DISK) so
    * consuming it doesn't re-run the pair join; call [[Result.unpersist]]
    * once the corpus has been consumed — a leaked cache occupies executor
    * storage for the rest of the session and slows every later job.
    */
  final case class Result(corpus: DataFrame, droppedQuality: Long,
                          droppedExactDup: Long, droppedNearDup: Long)(
      private[operators] val releasable: DataFrame) {
    /** Free the pipeline's persisted survivor stage. The corpus can still be
      * consumed afterwards, but recomputes its lineage from the source.
      */
    def unpersist(): Unit = graft.Materialize.release(releasable)
  }

  /** Prepare `df` (must have `idCol`: long, `textCol`: string). Output keeps
    * the input columns plus `split`, and — when chunking is on — one row per
    * chunk with `chunk_idx`/`chunk` replacing `textCol`.
    */
  def prepare(df: DataFrame, idCol: String, textCol: String,
              cfg: Config = Config()): Result = {
    val spark = df.sparkSession
    val id = col(idCol)

    // 1. quality gate (narrow): token floor + repetition ceiling, via the
    // ShinglesDistinct codegen kernel. The interpreted-HOF form
    // (transform+array_distinct) is NOT a valid alternative here: the
    // optimizer inlines the whole tokenize→shingle chain into one Filter
    // conjunct (and into the scan's DataFilters), each copy evaluated
    // interpreted per row — measured 13 s vs 0.6 s on 5k docs at sf0.1.
    // rep = 1 - distinct/(n-2) shingles; docs with < 3 tokens count as 0
    // (CaseWhen is lazy, so the kernel never sees the short arrays, and it
    // returns an empty array below k anyway).
    val toks = TextFns.tokens(col(textCol))
    val rep = when(size(col("__tk")) >= 3,
      lit(1.0) - size(graft.functions.SketchFns.shinglesDistinct(col("__tk"), 3))
        .cast(DoubleType) / (size(col("__tk")) - 2))
      .otherwise(lit(0.0))
    // (A conditional small-input repartition was tried here in round 12 —
    // the sf0.1 corpus arrives as ONE parquet split, so the gate/scrub
    // chain runs on one core — and MEASURED WORSE: fanning the tiny input
    // to 32 partitions multiplied every downstream stage's task count
    // (65 → 845 tasks) and the scheduling overhead exceeded the
    // single-core compute it saved. At 100 TB the input has thousands of
    // natural splits and the question is moot.)
    // The raw-input row count rides the gate pass as an observed metric —
    // a separate df.count() would re-scan the whole input once more just
    // for the droppedQuality accounting.
    val obsIn = org.apache.spark.sql.Observation()
    val gated = df
      .observe(obsIn, count(lit(1)).as("n_in"))
      .withColumn("__tk", toks)
      .filter(size(col("__tk")) >= cfg.minTokens)
      .withColumn("__rep", rep)
      .filter(col("__rep") <= cfg.maxRepetition)
      .drop("__tk", "__rep")

    // 2. PII scrub (narrow). Persisted: every downstream stage (exact-dedup
    // survivors join reads it on BOTH sides, the near-dup pair join, the
    // final corpus) would otherwise re-run the gate + scrub lineage once per
    // consumer — the counts alone would pay it 3×. Scrub is 1:1 with the
    // gate's survivors, so the gate-survivor count rides the cache
    // materialization as a second observation (r10 verdict #2: a separate
    // scrubbed.count() job paid one more full pass just for accounting).
    val scrubbed0 =
      if (cfg.scrubPii) gated.withColumn(textCol, TextFns.piiScrub(col(textCol)))
      else gated
    val obsGated = org.apache.spark.sql.Observation()
    val scrubbed = graft.Materialize.lazily(scrubbed0
      .observe(obsGated, count(lit(1)).as("n_gated")))

    // 3. exact dedup: min-id survivor per identical content (one shuffle).
    // Persist reused stages: the drop-count actions and the final consumer
    // would otherwise re-execute the whole upstream lineage (the pair join —
    // the most expensive shuffle here — must run exactly once).
    //
    // The exact-survivor count needs a DEDICATED action only on the ngram
    // leg: there the near-dup stage's document-frequency cutoff
    // (Tuning.maxShingleDocFreq, mirrored by the oracle) needs nExact to
    // BUILD its plan. On the default minhash-lsh leg (and with near-dup
    // off) the number is pure accounting, so it rides the near-dup
    // survivor count as a third observation — one job fewer per pipeline
    // run, and the gate/scrub kernel stages that job re-raced now run once
    // under the single materializing action. (All observations sit below a
    // persist consumed twice in this plan; block-level write locking
    // computes each cached partition exactly once, so the metrics don't
    // double-fire.)
    val needEagerExact = cfg.nearDupK > 0 && cfg.nearDupMethod == "ngram"
    val obsExact = org.apache.spark.sql.Observation()
    val exactSurvivors = Dedup.exact(scrubbed, idCol, Seq(textCol)).select(id)
    val exactJoined = scrubbed.join(exactSurvivors, Seq(idCol), "left_semi")
    val exactDeduped = graft.Materialize.lazily(
      if (needEagerExact) exactJoined
      else exactJoined.observe(obsExact, count(lit(1)).as("n_exact")))
    val nExactEager = if (needEagerExact) exactDeduped.count() else -1L
    // On the eager leg the scrub cache is fully consumed by that count (the
    // near-dup stage reads the exact-dedup cache, not scrubbed) — release it
    // before the pair join runs. On the deferred leg it is consumed inside
    // the nNear count below and released after.
    if (needEagerExact) graft.Materialize.release(scrubbed)

    // 4. near-dup removal: bounded shared-shingle pair join, lower id wins.
    // With near-dup off the exact-dedup frame IS the output — keep its cache
    // (unpersisting the alias would uncache the returned corpus).
    var shingleStage: Option[DataFrame] = None
    val nearDeduped =
      if (cfg.nearDupK <= 0) exactDeduped
      else if (cfg.nearDupMethod == "minhash-lsh") {
        // DEFAULT LEG (round 14, replacing the exact-Jaccard pair join as
        // the pipeline's near-dup method): per-doc MinHash signatures are a
        // map-side kernel — no exploded shingle stage to persist, no
        // document-frequency cutoff to size — and the only shuffle is the
        // banded self-join whose fan-out is bounded by band collisions.
        // The r14 decomposition measured the ngram leg's persisted shingle
        // stage + spilling pair join as the pipeline's dominant cost
        // (~1.5 s of its ~3.3 s warm wall at sf0.1); the sketch leg is the
        // method production pipelines (Gopher/FineWeb) run at corpus scale
        // anyway. est_jaccard (signature agreement / 8) >= threshold; the
        // LOWER doc id survives, matching the ngram leg's survivorship.
        val losers = Dedup.minhashLshPairs(exactDeduped, idCol, textCol,
            cfg.nearDupK, cfg.nearDupJaccard)
          .select(col("b_id").as(idCol)).distinct()
        graft.Materialize.lazily(exactDeduped.join(losers, Seq(idCol), "left_anti"))
      } else {
        val maxDf = Tuning.maxShingleDocFreq(spark, nExactEager)
        // The exploded shingle stage is PERSISTED for the pair join's many
        // consumers: unshared, the tokenize→ShingleHashes chain re-evaluates
        // inside every exchange it feeds — the stage profile measured eight
        // ~600 ms single-task evaluations per run, the whole pipeline's
        // dominant cost and its variance source (each evaluation spills
        // independently). Cached it is (long, long, long) rows, a few MB
        // per million positions; lineage stays intact (plain persist, no
        // checkpoint), so Result's recompute-from-source contract holds.
        // Unpersisted right after the survivor count below materializes
        // `nearDeduped` — the cache never outlives the one job that
        // consumes it.
        val shN = graft.Materialize.lazily(Dedup.ngramShingleStage(exactDeduped, idCol,
          textCol, cfg.nearDupK, maxDocFreq = maxDf))
        shingleStage = Some(shN)
        val losers = Dedup.ngramJaccardPairsFrom(shN, idCol, cfg.nearDupJaccard)
          .select(col("b_id").as(idCol)).distinct()
        graft.Materialize.lazily(exactDeduped.join(losers, Seq(idCol), "left_anti"))
      }
    val nNear = nearDeduped.count()
    // Deferred accounting resolves here: the nNear count materialized every
    // cache below it, so the observations have fired by the time get()
    // blocks. The scrub cache is released only now — on the deferred leg
    // this count IS the job that fills it.
    val nExact =
      if (needEagerExact) nExactEager
      else obsExact.get("n_exact").asInstanceOf[Long]
    val nIn = obsIn.get("n_in").asInstanceOf[Long]
    val nGated = obsGated.get("n_gated").asInstanceOf[Long]
    if (!needEagerExact) graft.Materialize.release(scrubbed)
    shingleStage.foreach(graft.Materialize.release(_))
    if (!(nearDeduped eq exactDeduped)) graft.Materialize.release(exactDeduped)

    // 5. deterministic split (pure expression — reproducible on any engine)
    val bucket = pmod(TextFns.polyHash(s"CAST($idCol AS STRING)"), lit(100L))
    val split = nearDeduped.withColumn("split",
      when(bucket < cfg.trainPct, "train").otherwise("test"))

    // 6. context-window chunking (narrow explode); stride 0 (the default)
    // means the chunk size (non-overlapping) so Config(chunkSize = N) alone
    // is legal — but a NEGATIVE stride is a caller typo and must fail, not
    // silently coerce
    require(cfg.chunkStride >= 0, s"chunkStride must be >= 0, got ${cfg.chunkStride}")
    val stride = if (cfg.chunkStride == 0) cfg.chunkSize else cfg.chunkStride
    val out =
      if (cfg.chunkSize <= 0) split
      else split
        .withColumn("__tk", TextFns.tokens(col(textCol)))
        .select(col("*"),
          posexplode(TextFns.chunkExpr("__tk", cfg.chunkSize, stride)))
        .withColumn("chunk_idx", (col("pos") + 1).cast(LongType))
        .withColumnRenamed("col", "chunk")
        .drop("pos", "__tk", textCol)

    Result(out, nIn - nGated, nGated - nExact, nExact - nNear)(nearDeduped)
  }

  /** Loan wrapper around [[prepare]]: runs `f` and ALWAYS releases the
    * pipeline's persisted survivor stage afterwards — the un-forgettable
    * form of the `Result.unpersist` contract (a leaked cache occupies
    * executor storage for the rest of the session). Materialize what you
    * need (collect / write / localCheckpoint) INSIDE `f`: after release the
    * corpus frame recomputes from source on any later action.
    */
  def withPrepared[T](df: DataFrame, idCol: String, textCol: String,
                      cfg: Config = Config())(f: Result => T): T = {
    val r = prepare(df, idCol, textCol, cfg)
    try f(r) finally graft.Materialize.release(r.releasable)
  }
}
