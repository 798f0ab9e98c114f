package graft.streaming

import graft.Materialize
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

/** Streaming gates for the corpus side of the engine (SURVEY §2.9: the
  * reference is pure batch; these are the engine's streaming extension).
  * Each gate is a `*Batch` body — one micro-batch's work as plain batch
  * plans over the warehouse — and a `start*` entry point that runs that body
  * under `foreachBatch` through one shared commit protocol: exactly-once
  * output via batch-keyed directories and `_COMMITTED` markers, and
  * replay-safe index merges that only ever see strictly earlier batches.
  * The gates: the idempotent parquet sink, near-dup and exact-substring
  * dedup, eval-set decontamination, per-group percentile and token-budget
  * cuts, SemDeDup, the incremental kNN graph, and corpus and crawl ingest.
  *
  * Scale: a gate keeps its state in warehouse tables, not in the state
  * store, and collects at most small bounded key sets to the driver.
  */
object Streams {
  // ---------------------------------------------------------------------
  // Production sink: idempotent foreachBatch parquet upsert.
  //
  // Structured Streaming's contract after a crash is AT-LEAST-ONCE delivery
  // to foreachBatch: the last uncommitted batch is re-executed with the SAME
  // batchId and (for replayable sources) the same data. The sink below makes
  // the re-delivery invisible downstream: each batch lands in its own
  // batchId-keyed directory behind a park-promote swap (write to __tmp,
  // rename, then drop a _COMMITTED marker), and a replayed batchId whose
  // marker already exists is skipped outright. Readers go through
  // [[readCommitted]], which lists ONLY marker-bearing directories — a batch
  // that crashed mid-write (no marker) is invisible until its replay
  // completes it. Net: exactly-once OUTPUT on top of at-least-once delivery.
  //
  // Scale: one directory per micro-batch, no global state, no driver-side
  // data movement; the marker check is one namenode round-trip per batch.
  // ---------------------------------------------------------------------

  // Every gate below shares one commit protocol: [[commitOnce]] skips a
  // batch whose output marker exists and runs the rest in one
  // graft.Materialize scope (the batch's checkpoints are freed on every
  // exit), [[priorIndex]] shows the batch only index rows from strictly
  // earlier batches, and [[startGate]] is the one foreachBatch driver.

  /** The batch-keyed directory of `batchId` under `root` (sink output and
    * every side output: rejects, quarantine, spend ledger). */
  private def batchDir(root: String, batchId: Long) = new Path(root, f"batch-$batchId%09d")

  /** Run `body` in its own materialization scope unless `batchId` already
    * committed under `outDir`; a committed batch is a pure replay and
    * returns false. */
  private def commitOnce(spark: SparkSession, outDir: String, batchId: Long)
                        (body: => Boolean): Boolean = {
    val dir = batchDir(outDir, batchId)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    !fs.exists(new Path(dir, "_COMMITTED")) && Materialize.scope(body)
  }

  /** The index rows batch `batchId` may see: those of strictly earlier
    * batches. A replay that crashed after its own index merge then never
    * collides with its own contribution (the self-collision guard). */
  private def priorIndex(wh: graft.airbnb.Warehouse, table: String,
      schema: StructType, batchId: Long): DataFrame =
    wh.readOrEmpty(table, schema).filter(col("batch_id") < batchId)

  /** The one foreachBatch driver: every `start*` runs its batch body here.
    * `checkpointDir` carries the source offsets. */
  private def startGate(docs: DataFrame, checkpointDir: String, queryName: String)
                       (body: (DataFrame, Long) => Boolean): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .queryName(queryName)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        body(batch.toDF(), batchId): Unit
      }
      .start()

  /** Write one micro-batch idempotently (the foreachBatch body, callable
    * directly in tests). Returns true if the batch was written, false if it
    * was a replay of an already-committed batchId.
    */
  def writeBatchIdempotent(batch: Dataset[_], outDir: String, batchId: Long): Boolean =
    commitOnce(batch.sparkSession, outDir, batchId) {
      val dir = batchDir(outDir, batchId)
      val fs = dir.getFileSystem(batch.sparkSession.sessionState.newHadoopConf())
      val tmp = new Path(dir.toString + "__tmp")
      fs.delete(tmp, true) // stray from a crash mid-write
      batch.toDF().write.mode("overwrite").parquet(tmp.toString)
      fs.delete(dir, true) // stray unmarked dir from a crash pre-marker
      if (!fs.rename(tmp, dir))
        throw new java.io.IOException(s"sink: promote failed for batch $batchId")
      fs.create(new Path(dir, "_COMMITTED")).close()
      true
    }

  /** Start the idempotent parquet sink on a streaming frame. `checkpointDir`
    * carries the source offsets — the pair (checkpoint, outDir) is the unit
    * of exactly-once recovery.
    */
  def startParquetSink(df: DataFrame, outDir: String, checkpointDir: String,
                       queryName: String): StreamingQuery =
    startGate(df, checkpointDir, queryName)(writeBatchIdempotent(_, outDir, _))

  // ---------------------------------------------------------------------
  // Streaming near-dup gate: the daily-crawl dedup loop as a continuous
  // pipeline. Each micro-batch is probed against the PERSISTED MinHash band
  // index (Dedup.bandIndexHits, the semi-join form of the batch twin
  // Dedup.tagAgainstBandIndex), survivors land in the idempotent parquet
  // sink, and the survivors' bands are merged back into the index.
  // foreachBatch because the loop is read-index → probe → append-index —
  // a self-referential update no declarative streaming operator expresses.
  //
  // Exactly-once despite at-least-once replay, WITHOUT a transaction across
  // the index table and the sink: index rows carry the batch_id that first
  // contributed them (min-batch-id semantics), and tagging filters the index
  // to batch_id < currentBatchId. A replayed batch therefore never collides
  // with its own bands (the crash-between-index-merge-and-output-commit
  // window), and re-merging is a no-op (min over a set already containing
  // the value). Order inside a batch: marker check → tag (prior bands only)
  // → index merge (crash-recoverable swap) → output write → marker.
  //
  // Semantics match the batch gate: a doc is a near-dup iff a band collides
  // with the INGESTED corpus; only survivors extend the index (a dropped
  // dup's unshared bands must not disqualify future docs). Within-batch
  // mutual near-dups are not examined — same one-sided contract as
  // Dedup.tagNearDupAgainstIndex; compose minhashLshPairs per batch if
  // intra-batch dedup is also required.
  //
  // Scale: the probe moves (band_idx, band_key) rows only; the index
  // rewrite is the fixture-size shape — at 100 TB the index table is
  // partitioned by batch_id range and the merge appends a partition instead
  // of rewriting (Warehouse.write(partitionBy) + compactSmallFiles), with
  // identical replay semantics since batch_id still rides every row.
  // ---------------------------------------------------------------------

  /** Band-index table schema for the streaming gate. */
  val bandIndexSchema: StructType = StructType(Seq(
    StructField("band_idx", IntegerType), StructField("band_key", StringType),
    StructField("batch_id", LongType)))

  /** The foreachBatch body, callable directly in tests and replay drills.
    * Returns false when `batchId` was already fully committed (pure replay).
    */
  def nearDupGateBatch(batch: DataFrame, wh: graft.airbnb.Warehouse,
      indexTable: String, outDir: String, batchId: Long, idCol: String,
      textCol: String, k: Int, bands: Int = 2): Boolean =
    commitOnce(batch.sparkSession, outDir, batchId) {
      // one anti join on the ids whose band keys hit the index
      val kept = batch.join(graft.operators.Dedup.bandIndexHits(batch,
          priorIndex(wh, indexTable, bandIndexSchema, batchId), idCol, textCol, k, bands),
        Seq(idCol), "left_anti")
      // materialize survivors BEFORE the index swap: their lazy plan reads
      // the index table, whose files the swap below replaces — a post-swap
      // action on the un-checkpointed frame would FILE_NOT_EXIST.
      // Micro-batch-sized, so the checkpoint is small.
      val survivors = Materialize.eager(kept)
      // survivors' bands join the index under min-batch-id semantics; the
      // groupBy also re-distincts, so replays cannot grow the table
      val merged = wh.readOrEmpty(indexTable, bandIndexSchema).unionByName(
          graft.operators.Dedup.bandIndex(survivors, idCol, textCol, k, bands)
            .withColumn("batch_id", lit(batchId)))
        .groupBy(col("band_idx"), col("band_key"))
        .agg(min(col("batch_id")).as("batch_id"))
      wh.write(indexTable, merged)
      writeBatchIdempotent(survivors, outDir, batchId)
    }

  /** Start the streaming near-dup gate on a documents stream. The triple
    * (checkpointDir, outDir, index table) is the unit of exactly-once
    * recovery.
    */
  def startNearDupGate(docs: DataFrame, wh: graft.airbnb.Warehouse,
      indexTable: String, outDir: String, checkpointDir: String, idCol: String,
      textCol: String, k: Int, bands: Int = 2,
      queryName: String = "near_dup_gate"): StreamingQuery =
    startGate(docs, checkpointDir, queryName)(nearDupGateBatch(_, wh, indexTable,
      outDir, _, idCol, textCol, k, bands))

  // ---------------------------------------------------------------------
  // Streaming repeated-SUBSTRING gate: the operational form of the span
  // family (Dedup.repeatedSpans) — history's positional anchors persist as
  // a warehouse table, each arriving micro-batch is probed for verbatim
  // spans >= minSpanTokens against EARLIER batches' survivors, clean docs
  // flow to the idempotent sink and their anchors append the index. Same
  // crash-window protocol as the band gate: the index merge carries
  // min-batch-id semantics and the probe filters batch_id < batchId, so a
  // replay after a death between the index swap and the output marker
  // cannot self-collide or grow the table.
  //
  // Scale: the probe moves (sh, pos) longs only; per-batch anchors are
  // occurrence-capped at build. A hash that stays ubiquitous ACROSS
  // batches accumulates up to cap rows per batch — production deployments
  // re-apply the cap during periodic index compaction
  // (Warehouse.compactSmallFiles pass over the anchor table), which
  // changes no gate semantics since capped hashes only ever REMOVE probe
  // fan-out.
  // ---------------------------------------------------------------------

  /** Anchor-index table schema for the streaming substring gate. */
  val anchorIndexSchema: StructType = StructType(Seq(
    StructField("sh", LongType), StructField("doc_id", LongType),
    StructField("pos", LongType), StructField("batch_id", LongType)))

  /** The foreachBatch body, callable directly in tests and replay drills.
    * Returns false when `batchId` was already fully committed (pure replay).
    */
  def substringGateBatch(batch: DataFrame, wh: graft.airbnb.Warehouse,
      indexTable: String, outDir: String, batchId: Long, idCol: String,
      textCol: String, k: Int, minSpanTokens: Int,
      maxOccurrences: Long = 0L,
      maxBroadcastAnchors: Long = 4L << 20): Boolean =
    commitOnce(batch.sparkSession, outDir, batchId) {
      // maxBroadcastAnchors (r20): a micro-batch's anchors are bounded by
      // the trigger, so the probe broadcasts the BATCH side over the index
      // scan — the index is read, never exchanged, making per-batch shuffle
      // O(batch + hits) instead of O(index). 4M anchors ≈ ~100 MB
      // broadcast; a pathological replay batch above that falls back to
      // the shuffle join via the tripwire.
      val tags = graft.operators.Dedup.tagSpansAgainstIndex(batch,
        priorIndex(wh, indexTable, anchorIndexSchema, batchId)
          .select(col("doc_id").as(idCol), col("pos"), col("sh")),
        idCol, textCol, k, minSpanTokens,
        maxBroadcastAnchors = maxBroadcastAnchors)
      // materialize survivors once: they feed the index append AND the sink
      val clean = batch.join(tags.select(col(idCol)), Seq(idCol), "left_anti")
      val survivors = Materialize.eager(clean)
      // the index GROWS BY THE BATCH's anchors only, landed as an
      // idempotent batch_id partition (r18): the r17 shape re-read and
      // re-wrote the WHOLE index through a groupBy-dedupe + table swap
      // every batch — O(index) per batch, the dominant term of the gate's
      // ×10 soak growth. Cross-partition duplicates cannot arise (survivor
      // doc ids are unique across the stream, anchorIndex rows are unique
      // within a batch), and a replay overwrites its own partition. The
      // per-batch occurrence cap still applies at build time;
      // Dedup.compactAnchorIndex remains the periodic global re-cap.
      wh.writePartition(indexTable, "batch_id", batchId,
        graft.operators.Dedup.anchorIndex(survivors, idCol, textCol, k,
            maxOccurrences)
          .select(col(idCol).as("doc_id"), col("pos"), col("sh")))
      writeBatchIdempotent(survivors, outDir, batchId)
    }

  /** Start the streaming substring gate on a documents stream. The triple
    * (checkpointDir, outDir, index table) is the unit of exactly-once
    * recovery.
    */
  def startSubstringGate(docs: DataFrame, wh: graft.airbnb.Warehouse,
      indexTable: String, outDir: String, checkpointDir: String, idCol: String,
      textCol: String, k: Int, minSpanTokens: Int,
      maxOccurrences: Long = 0L,
      queryName: String = "substring_gate"): StreamingQuery =
    startGate(docs, checkpointDir, queryName)(substringGateBatch(_, wh,
      indexTable, outDir, _, idCol, textCol, k, minSpanTokens, maxOccurrences))

  // ---------------------------------------------------------------------
  // Streaming decontamination gate: the operational half of the
  // Curation.decontaminate family — an evaluation suite is shingled ONCE
  // into a persisted hash table (buildEvalShingleIndex), and every
  // arriving TRAINING micro-batch is checked against it map-side: clean
  // docs flow to the idempotent sink, contaminated docs land in a
  // batch-keyed quarantine with their evidence counts (the eval owner
  // audits the quarantine; silently dropping rows would hide systematic
  // contamination). The index is STATIC by contract — an eval suite does
  // not grow with the stream — so unlike the dedup gates there is no
  // merge step and no min-batch-id machinery: idempotence is the sink
  // marker alone, and a replayed batch re-derives exactly the same
  // partition of clean/contaminated rows.
  //
  // Scale: the batch side shingles at ShingleHashes-kernel speed and the
  // index side is a distinct hashed-long table (MBs for a real eval
  // suite) joined broadcast; the only per-batch aggregate is over the
  // contaminated subset. At the scale where even the hashed index no
  // longer broadcasts, prefilter with the Bloom path exactly as
  // decontaminateBloom does — the gate body composes either way.
  // ---------------------------------------------------------------------

  /** Shingle the held-out suite once into a distinct (sk) hash table —
    * persist via `wh.write(table, ...)` and serve every batch from it.
    */
  def buildEvalShingleIndex(test: DataFrame, idCol: String, textCol: String,
                            k: Int): DataFrame =
    graft.operators.Dedup.shingleHashes(test, idCol, textCol, k)
      .select(col("__sk")).distinct()

  /** The foreachBatch body of the decontamination gate, callable directly.
    * `idx` is the persisted eval-shingle index, loaded ONCE by the caller
    * (see [[startDecontaminateGate]]) — the index is static by contract,
    * so re-reading the warehouse table per micro-batch would pay a parquet
    * scan + broadcast build forever for a table that never changes.
    * Returns false when `batchId` was already fully committed.
    */
  def decontaminateGateBatch(batch: DataFrame, idx: DataFrame,
      outDir: String, quarantineDir: String,
      batchId: Long, idCol: String, textCol: String, k: Int): Boolean =
    commitOnce(batch.sparkSession, outDir, batchId) {
      val hits = graft.operators.Dedup.shingleHashes(batch, idCol, textCol, k)
        .join(broadcast(idx), "__sk")
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_shared_shingles"))
      // materialize the tagged batch ONCE (semDedupGateBatch's survivor
      // pattern): the quarantine and clean writes are two actions over it,
      // and uncached each would re-run the tokenize + ShingleHashes +
      // broadcast-join pipeline per write; micro-batch-sized blocks
      val tagged = Materialize.eager(batch.join(hits, Seq(idCol), "left"))
      val contaminated = tagged.filter(col("n_shared_shingles").isNotNull)
      val clean = tagged.filter(col("n_shared_shingles").isNull)
        .drop("n_shared_shingles")
      // quarantine first (evidence must exist before the sink marker says
      // the batch is done), then the marker-bearing clean write; a crash
      // between the two replays both — the quarantine write is a plain
      // batch-keyed overwrite, so the replay converges
      contaminated.write.mode("overwrite")
        .parquet(batchDir(quarantineDir, batchId).toString)
      writeBatchIdempotent(clean, outDir, batchId)
    }

  /** Start the streaming decontamination gate on a documents stream. The
    * eval-shingle index is loaded and MATERIALIZED once at start
    * (localCheckpoint — the static-index twin of startSemDedupGate's
    * centroid load); every micro-batch joins against the in-memory blocks
    * instead of re-scanning the warehouse table.
    */
  def startDecontaminateGate(docs: DataFrame, wh: graft.airbnb.Warehouse,
      indexTable: String, outDir: String, quarantineDir: String,
      checkpointDir: String, idCol: String, textCol: String, k: Int,
      queryName: String = "decontaminate_gate"): StreamingQuery = {
    val idx = Materialize.eager(wh.readOrEmpty(indexTable,
      StructType(Seq(StructField("__sk", LongType)))))
    startGate(docs, checkpointDir, queryName)(decontaminateGateBatch(_, idx,
      outDir, quarantineDir, _, idCol, textCol, k))
  }

  // ---------------------------------------------------------------------
  // Streaming percentile gate: the operational form of
  // Curation.percentileGate — per-group score thresholds are CALIBRATED
  // ONCE on history (Curation.percentileThresholds → a warehouse table,
  // the freeze-then-gate production shape FineWeb-style pipelines run) and
  // every arriving micro-batch is scored map-side and cut against the
  // broadcast thresholds.
  //
  // Two documented deviations from the batch operator, both forced by
  // stream semantics and both conservative: (1) rows AT the boundary score
  // are dropped (strict >) — the batch tie-take needs a total order over a
  // finite corpus, and a stream has none, so the gate never keeps more
  // than calibration promised; (2) a group with no threshold row (quota
  // floored to 0 on history, or a group history never saw) rejects
  // entirely — matching the batch operator's quota-0 semantics, and the
  // safe default for an uncalibrated group.
  //
  // Scale: the threshold table is one row per group (KBs), loaded and
  // localCheckpointed once at start; scoring and the cut are map-side —
  // the gate adds ZERO shuffles to the ingest path.
  // ---------------------------------------------------------------------

  /** Threshold-table schema for [[startPercentileGate]]'s readOrEmpty. */
  def thresholdSchema(groupCol: String): StructType = StructType(Seq(
    StructField(groupCol, StringType), StructField("score_threshold", LongType)))

  /** The foreachBatch body of the percentile gate, callable directly in
    * tests and replay drills. `thr` is the calibrated threshold frame
    * (load once; calibration never reruns per batch). Returns false when
    * `batchId` was already fully committed.
    */
  def percentileGateBatch(batch: DataFrame, thr: DataFrame, outDir: String,
      rejectDir: String, batchId: Long, textCol: String, groupCol: String,
      stopwords: Seq[String]): Boolean =
    commitOnce(batch.sparkSession, outDir, batchId) {
      val scored = graft.operators.Curation.qualityScore(batch, textCol,
        stopwords, keepThreshold = Long.MinValue).drop("keep")
      // materialize the scored+tagged batch ONCE (the decontaminate-gate
      // pattern): reject and clean writes are two actions over it
      // null-safe on the group key (the Curation boundary-join contract): a
      // CALIBRATED null group gates like any other; only a group with no
      // threshold row rejects
      val withThr = scored.join(
          broadcast(thr.withColumnRenamed(groupCol, "__g")),
          col(groupCol) <=> col("__g"), "left")
        .drop("__g")
      val tagged = Materialize.eager(withThr)
      val kept = tagged.filter(col("score_threshold").isNotNull &&
        col("score") > col("score_threshold")).drop("score_threshold")
      val rejected = tagged.filter(col("score_threshold").isNull ||
        col("score") <= col("score_threshold"))
      // reject evidence first, then the marker-bearing clean write; a
      // crash between the two replays both and the batch-keyed overwrite
      // converges
      rejected.write.mode("overwrite").parquet(batchDir(rejectDir, batchId).toString)
      writeBatchIdempotent(kept, outDir, batchId)
    }

  /** Start the streaming percentile gate on a documents stream. Thresholds
    * load and MATERIALIZE once at start (the static-index twin of
    * startDecontaminateGate's shingle load).
    */
  def startPercentileGate(docs: DataFrame, wh: graft.airbnb.Warehouse,
      thresholdTable: String, outDir: String, rejectDir: String,
      checkpointDir: String, textCol: String, groupCol: String,
      stopwords: Seq[String],
      queryName: String = "percentile_gate"): StreamingQuery = {
    val thr = Materialize.eager(wh.readOrEmpty(thresholdTable, thresholdSchema(groupCol)))
    startGate(docs, checkpointDir, queryName)(percentileGateBatch(_, thr,
      outDir, rejectDir, _, textCol, groupCol, stopwords))
  }

  // ---------------------------------------------------------------------
  // Streaming token-BUDGET gate: the stateful sibling of the percentile
  // gate above — per-group token budgets (the FineWeb2 per-language
  // allocation, e.g. from Curation.tokenBudgetPerGroup's planning run)
  // DEPLETE as batches arrive, the data-constrained ingestion shape: once
  // a language's budget is spent, later arrivals in that language are
  // rejected no matter their quality.
  //
  // State is a batch-keyed SPEND LEDGER, not a mutable table: each batch
  // overwrites its own ledger file (group, spent_tokens, batch_id), and
  // the remaining budget for batch B is initial − Σ ledger entries with
  // batch_id < B. Crash anywhere replays the batch against the SAME
  // remaining (its own entry is excluded by the < B filter), so decisions
  // are deterministic under replay — the band-gate crash-window protocol
  // applied to a running ledger. Ledger size is groups × batches rows
  // (KBs); a compaction pass can fold it into one row per group exactly
  // like the anchor-index compaction.
  //
  // Within a batch, spending is greedy by (score DESC, id ASC) per group —
  // the tokenBudgetPerGroup order. ACROSS batches, arrival order IS the
  // spend order: a stream cannot hold back today's arrivals hoping for
  // better documents tomorrow. That deviation from the batch operator's
  // global order is the documented cost of the streaming form (same class
  // as the SemDeDup gate's one-sided survivorship).
  // ---------------------------------------------------------------------

  /** Budget-table schema for [[startBudgetGate]]: (groupCol,
    * budget_tokens). */
  def budgetSchema(groupCol: String): StructType = StructType(Seq(
    StructField(groupCol, StringType), StructField("budget_tokens", LongType)))

  private def ledgerSchema(groupCol: String): StructType = StructType(Seq(
    StructField(groupCol, StringType), StructField("spent", LongType),
    StructField("batch_id", LongType)))

  /** The spend rows visible to batch `beforeBatchId`: the newest COMMITTED
    * fold (a `fold-N` directory carrying Spark's `_SUCCESS` marker, with
    * N <= beforeBatchId — folds appear atomically via directory rename in
    * [[compactLedger]], so a half-written compaction is invisible here)
    * plus the per-batch delta files with fold-start <= batch_id <
    * beforeBatchId. Stale pre-fold originals that a crashed compaction
    * cleanup left behind are EXCLUDED by the >= fold-start filter, so they
    * can never double-count against the fold's sums.
    *
    * The no-ledger-yet case is detected EXPLICITLY (directory absent /
    * empty glob), never by swallowing exceptions: a real read failure
    * (corrupt parquet, transient FS error) propagates so the batch retries
    * instead of silently deciding against a reset budget.
    */
  private def ledgerRows(spark: SparkSession, ledgerDir: String,
      groupCol: String, beforeBatchId: Long): DataFrame = {
    val schema = ledgerSchema(groupCol)
    val empty = spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    val base = new Path(ledgerDir)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(base)) return empty
    val folds = fs.listStatus(base).map(_.getPath)
      .filter(_.getName.startsWith("fold-"))
      .map(p => (p.getName.stripPrefix("fold-").toLong, p))
      .filter { case (n, p) =>
        n <= beforeBatchId && fs.exists(new Path(p, "_SUCCESS")) }
    val (foldStart, foldDf) =
      if (folds.isEmpty) (0L, empty)
      else {
        val (n, p) = folds.maxBy(_._1)
        (n, spark.read.schema(schema).parquet(p.toString))
      }
    val anyDelta = Option(fs.globStatus(new Path(base, "batch-*")))
      .exists(_.nonEmpty)
    val deltas =
      if (!anyDelta) empty
      else spark.read.schema(schema).parquet(s"$ledgerDir/batch-*")
        .filter(col("batch_id") >= foldStart && col("batch_id") < beforeBatchId)
    foldDf.unionByName(deltas)
  }

  /** The PURE decision half of the budget gate: score the batch, join the
    * per-group remaining-budget frame (`__remaining`, null = unbudgeted),
    * and tag each row `__selected` by the greedy within-batch prefix
    * (score DESC, id ASC) against the remaining budget. Lazy plan — shared
    * by the foreachBatch body and the batch-unrolled oracle row, so the
    * gate's selection semantics are oracle-gated, not just drilled.
    */
  def budgetSpendPlan(batch: DataFrame, remaining: DataFrame, idCol: String,
      textCol: String, groupCol: String, stopwords: Seq[String]): DataFrame =
    budgetDecidePlan(
      budgetScorePlan(batch, textCol, stopwords), remaining, idCol, groupCol)

  /** The SCORING half of [[budgetSpendPlan]]: quality score + token count
    * per row. Split out so the batch-unrolled oracle row can pay the
    * corpus's tokenize+score scan ONCE (checkpointed) and replay only the
    * decision half per unrolled batch — the live gate composes both halves
    * per micro-batch, where the batch IS scanned once anyway.
    */
  def budgetScorePlan(batch: DataFrame, textCol: String,
      stopwords: Seq[String]): DataFrame =
    graft.operators.Curation.qualityScore(batch, textCol,
        stopwords, keepThreshold = Long.MinValue).drop("keep")
      .withColumn("__ntok",
        size(graft.functions.TextFns.tokens(col(textCol))).cast(LongType))

  /** The DECISION half of [[budgetSpendPlan]], over a pre-scored batch. */
  def budgetDecidePlan(scored: DataFrame, remaining: DataFrame, idCol: String,
      groupCol: String): DataFrame = {
    // within-batch greedy prefix per group against the remaining budget:
    // the window is bounded by the MICRO-BATCH, never a corpus
    scored.join(
        broadcast(remaining.withColumnRenamed(groupCol, "__g")),
        col(groupCol) <=> col("__g"), "left")
      .drop("__g")
      .transform(budgetCumSelect(idCol, groupCol))
  }

  /** [[budgetDecidePlan]] with the remaining budgets as DRIVER-KNOWN
    * literals — the batch-unrolled oracle rows' shape, where the budgets
    * were just computed by a bounded collect. The per-group budget rides a
    * map LITERAL into the expression (null group via its own branch, since
    * a map literal cannot key on null), so the decide pays ZERO extra jobs:
    * in this Spark an AQE BroadcastQueryStage over even a LocalTableScan
    * submits a materialization job per join. Selection semantics are
    * identical to the null-safe left join: a group absent from `remaining`
    * gets a null budget and never selects.
    */
  def budgetDecidePlanLiteral(scored: DataFrame,
      remaining: Seq[(String, Long)], idCol: String,
      groupCol: String): DataFrame = {
    val nonNull = remaining.filter(_._1 != null)
    val nullRem = remaining.collectFirst { case (null, v) => v }
    // try_element_at, not element_at: under ANSI mode a group ABSENT from
    // the map must yield a null budget (unbudgeted -> never selects, the
    // left-join semantics), not a MAP_KEY_DOES_NOT_EXIST error
    val mapRem =
      if (nonNull.isEmpty) lit(null).cast(LongType)
      else try_element_at(typedLit(nonNull.toMap), col(groupCol))
    val remCol = nullRem.fold(mapRem)(v =>
      when(col(groupCol).isNull, lit(v)).otherwise(mapRem))
    scored.withColumn("__remaining", remCol)
      .transform(budgetCumSelect(idCol, groupCol))
  }

  private def budgetCumSelect(idCol: String, groupCol: String)
                             (withRem: DataFrame): DataFrame = {
    val wSpend = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("score").desc, col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    withRem
      .withColumn("__cum", sum(col("__ntok")).over(wSpend))
      .withColumn("__selected",
        col("__remaining").isNotNull && col("__cum") <= col("__remaining"))
  }

  /** The TWO-BATCH algebraic unroll of the budget gate's selection in ONE
    * distributed plan — what the bench/oracle row `q_stream_budget_batch`
    * runs. Semantically it IS two [[budgetDecidePlanLiteral]] invocations
    * composed through the ledger protocol (budgets = `budgetPermille`‰ of
    * each group's corpus tokens; batch 1's remaining = budget − batch 0's
    * selected spend), but expressed as window algebra over the scored
    * frame so no intermediate result is collected, checkpointed, or
    * broadcast: per-group budget and batch-0 spend are window sums over
    * `groupCol`, the within-batch greedy prefix is the [[budgetCumSelect]]
    * cumulative over (`groupCol`, `__batch`) — and because
    * HashPartitioning(groupCol) satisfies the clustered distribution of
    * every one of those window specs, all three windows (plus a downstream
    * per-(group, batch) aggregate) ride a SINGLE exchange. The pre-fusion
    * row paid a serial checkpoint plus two bounded collects and two
    * unrolled decide plans — 8 jobs, of which FixedCostProbe attributed
    * most of the warm wall to launch gaps. StreamsSpec pins the algebra:
    * this plan's decisions equal the composed per-batch literal decides
    * row for row.
    *
    * `batch0` marks batch-0 membership (the unroll's boundary predicate —
    * a driver-known watermark in production). Output: `scored` plus
    * `__batch` (0/1), `__cum`, `__remaining`, `__selected` — the
    * [[budgetCumSelect]] contract with the batch id attached.
    */
  def budgetUnrolledPlan(scored: DataFrame,
      batch0: org.apache.spark.sql.Column, idCol: String,
      groupCol: String, budgetPermille: Int): DataFrame = {
    val wG = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol), col("__batch"))
      .orderBy(col("score").desc, col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    scored
      .withColumn("__batch", when(batch0, 0L).otherwise(1L))
      // integer permille, same DIV arithmetic as tokenBudgetPerGroup /
      // the oracle (exact at any token volume — no double in the path)
      .withColumn("__gsum", sum(col("__ntok")).over(wG))
      .withColumn("__budget", expr(s"(__gsum * $budgetPermille) DIV 1000"))
      .withColumn("__cum", sum(col("__ntok")).over(wCum))
      .withColumn("__sel0",
        col("__batch") === 0L && col("__cum") <= col("__budget"))
      .withColumn("__spent0",
        coalesce(sum(when(col("__sel0"), col("__ntok"))).over(wG), lit(0L)))
      .withColumn("__remaining",
        when(col("__batch") === 0L, col("__budget"))
          .otherwise(col("__budget") - col("__spent0")))
      .withColumn("__selected",
        col("__remaining").isNotNull && col("__cum") <= col("__remaining"))
      .drop("__gsum", "__sel0", "__spent0")
  }

  /** The foreachBatch body of the budget gate. `budgets` is the initial
    * allocation frame (load once). Returns false on a fully-committed
    * replay.
    */
  def budgetGateBatch(batch: DataFrame, budgets: DataFrame, outDir: String,
      rejectDir: String, ledgerDir: String, batchId: Long, idCol: String,
      textCol: String, groupCol: String, stopwords: Seq[String]): Boolean =
    commitOnce(batch.sparkSession, outDir, batchId) {
      // remaining budget = initial − spend of STRICTLY EARLIER batches (own
      // entry excluded so a replay recomputes identical decisions); the
      // fold-aware read in ledgerRows detects the no-ledger-yet case
      // explicitly and lets real read failures propagate (retry, don't
      // decide against a reset budget)
      val spent = ledgerRows(batch.sparkSession, ledgerDir, groupCol, batchId)
        .groupBy(col(groupCol))
        .agg(sum(col("spent")).as("__spent"))
      // null-safe: a BUDGETED null group's ledger rows must decrement its
      // remaining budget — an equi-join would never match them back and
      // the null group's budget would never deplete across batches
      val remaining = budgets.join(
          spent.withColumnRenamed(groupCol, "__g"),
          col(groupCol) <=> col("__g"), "left")
        .drop("__g")
        .select(col(groupCol),
          (col("budget_tokens") - coalesce(col("__spent"), lit(0L)))
            .as("__remaining"))
      val decided = budgetSpendPlan(batch, remaining, idCol, textCol, groupCol, stopwords)
      val tagged = Materialize.eager(decided)
      val kept = tagged.filter(col("__selected"))
        .drop("__remaining", "__cum", "__selected")
      val rejected = tagged.filter(!col("__selected"))
        .drop("__remaining", "__cum", "__selected")
      // ledger first (replay must see its own spend overwritten, never
      // doubled), then reject evidence, then the marker-bearing clean
      // write
      kept.groupBy(col(groupCol)).agg(sum(col("__ntok")).as("spent"))
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite").parquet(batchDir(ledgerDir, batchId).toString)
      rejected.write.mode("overwrite").parquet(batchDir(rejectDir, batchId).toString)
      writeBatchIdempotent(kept, outDir, batchId)
    }

  /** Fold the spend ledger's per-batch delta files into ONE committed
    * `fold-uptoBatchId` generation (the anchor-index-compaction shape
    * applied to the ledger): all spend visible before `uptoBatchId` (the
    * previous fold, if any, plus deltas) is summed per group and promoted
    * ATOMICALLY by directory rename — the staged `.fold-tmp-*` directory
    * is invisible to [[ledgerRows]] (no reader matches a dot-name), and
    * the rename makes the fold and its `_SUCCESS` commit marker appear in
    * one step. Only after the fold is committed are the folded delta files
    * and older folds deleted; a crash ANYWHERE leaves the gate correct:
    * before the rename, readers still see the old fold + deltas; after it,
    * the >= fold-start filter in [[ledgerRows]] ignores the not-yet-deleted
    * originals, so spend is never double-counted (the crash window the
    * previous same-namespace staging had). Re-running with the same
    * uptoBatchId just finishes the cleanup.
    *
    * MUST only run while the gate is quiescent (between batches — the
    * maintenance window every compaction here uses); uptoBatchId must be
    * <= the next batch id, so no uncommitted batch's own entry is folded.
    */
  def compactLedger(spark: SparkSession, ledgerDir: String, groupCol: String,
                    uptoBatchId: Long): Unit = {
    require(uptoBatchId >= 1, s"uptoBatchId must be >= 1: $uptoBatchId")
    val base = new Path(ledgerDir)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(base)) return // nothing to compact
    val target = new Path(base, f"fold-$uptoBatchId%09d")
    if (!fs.exists(new Path(target, "_SUCCESS"))) {
      // folded sums pinned BEFORE any file mutation
      val folded = Materialize.eager(ledgerRows(spark, ledgerDir, groupCol, uptoBatchId)
        .groupBy(col(groupCol)).agg(sum(col("spent")).as("spent"))
        .withColumn("batch_id", lit(uptoBatchId - 1)))
      if (folded.isEmpty) return // no spend to fold
      val tmp = new Path(base, f".fold-tmp-$uptoBatchId%09d")
      fs.delete(tmp, true)
      folded.write.mode("overwrite").parquet(tmp.toString)
      fs.delete(target, true) // uncommitted remnant only (checked above)
      if (!fs.rename(tmp, target))
        throw new java.io.IOException(s"ledger compaction: promote failed")
    }
    // idempotent cleanup — the fold is committed, so readers already
    // ignore everything deleted here
    (0L until uptoBatchId).foreach(b => fs.delete(batchDir(ledgerDir, b), true))
    Option(fs.globStatus(new Path(base, "fold-*"))).getOrElse(Array.empty)
      .map(_.getPath)
      .filter(_.getName.stripPrefix("fold-").toLong < uptoBatchId)
      .foreach(p => fs.delete(p, true))
  }

  /** Start the streaming budget gate. Budgets load and materialize once;
    * the ledger is re-read per batch (bounded: groups × batches rows).
    */
  def startBudgetGate(docs: DataFrame, wh: graft.airbnb.Warehouse,
      budgetTable: String, outDir: String, rejectDir: String,
      ledgerDir: String, checkpointDir: String, idCol: String,
      textCol: String, groupCol: String, stopwords: Seq[String],
      queryName: String = "budget_gate"): StreamingQuery = {
    val budgets = Materialize.eager(wh.readOrEmpty(budgetTable, budgetSchema(groupCol)))
    startGate(docs, checkpointDir, queryName)(budgetGateBatch(_, budgets,
      outDir, rejectDir, ledgerDir, _, idCol, textCol, groupCol, stopwords))
  }

  // ---------------------------------------------------------------------
  // Streaming SemDeDup gate: assign each arriving micro-batch against a
  // PERSISTED k-means fit (KMeans.train → centroidsToDf → centroidsFromDf,
  // the train/persist/assign split) and drop arrivals whose cosine against
  // any INGESTED member of their cell reaches the threshold — the semantic
  // twin of the MinHash band-index gate above, with the same replay
  // design: cell rows carry the batch_id that first contributed them,
  // tagging filters to batch_id < current, and re-merges are no-ops (min
  // over a set already containing the value).
  //
  // One-sided contract, like tagNearDupAgainstIndex: the INCOMING vector
  // is the one dropped on a collision — the ingested corpus is committed
  // history a stream cannot retract — so survivorship deviates from batch
  // semDedup's keep-farthest-from-centroid rule exactly where retraction
  // would be required. Within-batch mutual near-dups are not examined;
  // run Dedup.semDedup on the batch first if intra-batch dedup is needed.
  // Same normalized-embedding precondition as Dedup.semDedup.
  //
  // Scale: assignment is map-side (the k×dim centroid matrix rides as a
  // codegen reference object — the corpus never shuffles to be assigned);
  // the only shuffle is the cluster-keyed join against the cell table,
  // bounded by cell population — k grows with the corpus to hold cell
  // size constant (the SemDeDup scale argument) — and at 100 TB the cell
  // table partitions by cluster range with batch-append merges, exactly
  // like the band index above.
  // ---------------------------------------------------------------------

  /** Cell-index table schema for the streaming SemDeDup gate. `vec_id` is
    * STRING: the audit column must survive any caller id type, and a
    * LongType cast of a string/UUID id would throw under ANSI mode (the
    * Spark 4 default) or silently null the whole audit trail without it —
    * the exact failure class the pair-join salt fix removed from
    * Dedup.semDedup. String cast is total and injective per source type.
    */
  val cellIndexSchema: StructType = StructType(Seq(
    StructField("vec_id", StringType), StructField("cluster", LongType),
    StructField("u", ArrayType(LongType, containsNull = false)),
    StructField("batch_id", LongType)))

  /** The foreachBatch body of the SemDeDup gate, callable directly in tests
    * and replay drills. `cents` is the persisted fit (load once via
    * [[graft.operators.KMeans.centroidsFromDf]] — training never reruns per
    * batch). Returns false when `batchId` was already fully committed.
    */
  def semDedupGateBatch(batch: DataFrame, wh: graft.airbnb.Warehouse,
      cents: Array[Array[Long]], cellTable: String, outDir: String,
      batchId: Long, idCol: String, embCol: String,
      threshold: Double): Boolean =
    commitOnce(batch.sparkSession, outDir, batchId) {
      import graft.functions.VectorFns
      val assigned = graft.operators.KMeans.assignWith(batch, idCol, embCol, cents)
        .withColumn("__n", sqrt(VectorFns.dotQDouble(col("__u"), col("__u"))))
      val idx = priorIndex(wh, cellTable, cellIndexSchema, batchId)
        .select(col("cluster"), col("u").as("__iu"))
        .withColumn("__in", sqrt(VectorFns.dotQDouble(col("__iu"), col("__iu"))))
      // cosine identical to Dedup.semDedup: exact quantized dot over
      // correctly-rounded norms, thresholded after round-to-6 — so a batch
      // oracle replays every drop decision bit-for-bit
      val dropped = assigned.join(idx, Seq("cluster"))
        .withColumn("cos",
          VectorFns.dotQDouble(col("__u"), col("__iu")) / (col("__n") * col("__in")))
        .filter(round(col("cos"), 6) >= threshold)
        .select(col(idCol)).distinct()
      // materialize survivors BEFORE the cell-table swap (same
      // FILE_NOT_EXIST hazard as the band gate); micro-batch-sized
      val kept = batch.join(
        assigned.join(dropped, Seq(idCol), "left_anti")
          .select(col(idCol), col("cluster"), col("__u")), Seq(idCol))
      val survivors = Materialize.eager(kept)
      // survivors' cells merge under min-batch-id semantics; the groupBy
      // also re-distincts, so replays cannot grow the table
      val merged = wh.readOrEmpty(cellTable, cellIndexSchema).unionByName(
          survivors.select(col(idCol).cast(StringType).as("vec_id"),
            col("cluster"), col("__u").as("u"), lit(batchId).as("batch_id")))
        .groupBy(col("vec_id"), col("cluster"), col("u"))
        .agg(min(col("batch_id")).as("batch_id"))
      wh.write(cellTable, merged)
      writeBatchIdempotent(survivors.drop("cluster", "__u"), outDir, batchId)
    }

  /** Start the streaming SemDeDup gate on an embeddings stream. The fit is
    * loaded ONCE from `centroidTable` at start (the persisted-fit path);
    * the triple (checkpointDir, outDir, cell table) is the unit of
    * exactly-once recovery.
    */
  def startSemDedupGate(docs: DataFrame, wh: graft.airbnb.Warehouse,
      centroidTable: String, cellTable: String, outDir: String,
      checkpointDir: String, idCol: String, embCol: String, threshold: Double,
      queryName: String = "semdedup_gate"): StreamingQuery = {
    val cents = graft.operators.KMeans.centroidsFromDf(wh.read(centroidTable))
    startGate(docs, checkpointDir, queryName)(semDedupGateBatch(_, wh, cents,
      cellTable, outDir, _, idCol, embCol, threshold))
  }

  // ---------------------------------------------------------------------
  // Streaming kNN-GRAPH gate: maintain the graph-ANN serving index
  // (Similarity.knnGraphWith's edge table) continuously as embeddings
  // arrive — the serving story for embeddings-at-ingest past the semdedup
  // gate. Each micro-batch folds in through Similarity.mergeKnnGraph
  // under a FROZEN persisted fit (only touched cells' history vectors are
  // re-read), so after every batch the persisted graph is edge-for-edge
  // the full rebuild over everything ingested so far — the merge's
  // equality contract, applied inductively.
  //
  // Crash-window protocol: unlike the band/anchor indexes the graph is a
  // RE-RANKED top-degree set, not a monotone union, so min-batch-id
  // merging cannot make a replayed merge a no-op — a re-merged batch edge
  // already present in the swapped table would seat the same neighbor
  // twice through the top-degree heap. Instead every graph PARTITION is
  // stamped with the batch that last wrote it; a replay re-merges only
  // the cells whose partitions still carry an older stamp (cells are
  // independent under one frozen assignment — every edge's endpoints
  // share a cell — so a cell-restricted merge equals the full merge
  // restricted to those cells) and re-runs the idempotent sink write.
  // The vectors table IS a monotone union and keeps the batch_id
  // partition-append discipline, and the merge reads history strictly
  // below the current batch, so a death in ANY window — including midway
  // through the multi-partition graph swap — replays into inputs that
  // converge to the same table.
  //
  // Scale (r19): the graph table is PARTITIONED BY CELL and only touched
  // cells' partitions are read or rewritten per batch
  // (Warehouse.writePartitions) — the r18 shape computed the merge
  // touched-node-only but still swapped the WHOLE edge table every batch,
  // the last O(corpus)-per-batch term of the gate-growth decomposition
  // (SCALING.md r18, the r/f-0.27 driver). Per batch the merge moves
  // batch×(touched-cell) pairs only (mergeKnnGraph's contract — at 100 TB
  // the vectors table partitions by cell too and the history fetch
  // partition-prunes); the re-rank is one pass over the touched cells'
  // old ∪ new edges.
  // ---------------------------------------------------------------------

  /** The foreachBatch body of the kNN-graph gate, callable directly in
    * tests and replay drills. `cents` is the persisted frozen fit (load
    * once — the train/persist/assign split). Ids must be unique across the
    * stream (the vec_id contract every vector table here shares). Returns
    * false when `batchId` was already fully committed.
    */
  def knnGraphGateBatch(batch: DataFrame, wh: graft.airbnb.Warehouse,
      cents: Array[Array[Long]], graphTable: String, vecTable: String,
      outDir: String, batchId: Long, idCol: String, embCol: String,
      degree: Int): Boolean =
    commitOnce(batch.sparkSession, outDir, batchId) {
      val idT = batch.schema(idCol).dataType
      // the vector table stores each vector's QUANTIZED form (`u` — the
      // exact-lattice representation every graph computation uses) and its
      // frozen-fit CELL, assigned once at ingest: per-batch history reads
      // then filter by cell and never re-run the k-means distance kernel —
      // the O(corpus·k·dim) map pass the r19 soak measured as the
      // corpus-batch gate's dominant residue
      val vecSchema = StructType(Seq(StructField(idCol, idT),
        StructField("u", ArrayType(LongType, containsNull = false)),
        StructField("cluster", LongType),
        StructField("batch_id", LongType)))
      val graphSchema = StructType(Seq(StructField("node", idT),
        StructField("nbr", idT), StructField("sim", DoubleType),
        StructField("batch_id", LongType),
        StructField("cell", LongType)))
      val vecHist = priorIndex(wh, vecTable, vecSchema, batchId)
      val g0 = wh.readOrEmpty(graphTable, graphSchema)
      // An empty micro-batch touches nothing; the sink marker alone commits.
      // (isEmpty is itself a Spark job — evaluate it once per batch.)
      if (!batch.isEmpty) {
        // assign the batch ONCE (batch-sized, checkpointed): it feeds the
        // touched-cells collect, the vector-table append, and the merge.
        val assigned = graft.operators.KMeans.assignWith(
            batch.select(col(idCol), col(embCol)), idCol, embCol, cents)
          .select(col(idCol), col("cluster"), col("__u"))
        val bAssign = Materialize.eager(assigned)
        // cells this batch lands in: one bounded collect (≤ k values — the
        // centroid matrix is already driver-sized), needed driver-side to
        // drive the partition-pruned read and the per-partition swap set
        val touchedCells: Array[Long] = bAssign.select(col("cluster"))
          .distinct().collect().map(_.getLong(0))
        // per-cell batch stamps, read from ONLY the touched partitions
        // (partition-pruned): cells already stamped with this batch committed
        // in a previous attempt's partial swap — skip them; re-merge the rest.
        val doneCells: Set[Long] =
          if (touchedCells.isEmpty) Set.empty
          else g0.filter(col("cell").cast(LongType).isin(touchedCells: _*))
            .groupBy(col("cell").cast(LongType).as("cell"))
            .agg(max(col("batch_id")).as("stamp"))
            .filter(col("stamp") >= batchId)
            .collect().map(_.getLong(0)).toSet
        val remainCells = touchedCells.filterNot(doneCells)
        if (remainCells.nonEmpty) {
          // history pre-assigned from STORED columns — cell filter + stored
          // quantized vectors, no distance kernel; at 100 TB the vector
          // table partitions by cell too and this read partition-prunes
          val histA = vecHist.filter(col("cluster").isin(remainCells: _*))
            .select(col(idCol), col("cluster"), col("u").as("__u"))
          // restrict the merge to the cells still at an older stamp: on a
          // first attempt that is every touched cell; on a partial-swap
          // replay only the unswapped ones (their partitions are fully old —
          // each partition swaps atomically, never mixes versions)
          val batchA =
            if (remainCells.length == touchedCells.length) bAssign
            else bAssign.filter(col("cluster").isin(remainCells: _*))
          val oldTouched = g0
            .filter(col("cell").cast(LongType).isin(remainCells: _*))
            .select(col("node"), col("nbr"), col("sim"),
              col("cell").cast(LongType).as("cell"))
          // materialize the merge BEFORE either table write (the band-gate
          // rule): it reads graphTable AND vecTable
          val merge = graft.operators.Similarity.mergeKnnGraphTouchedCellsAssigned(
              oldTouched, histA, batchA, idCol, degree,
              batchMaterialized = true,
              touchedCellsHint = Some(remainCells.toSeq))
            .withColumn("batch_id", lit(batchId))
          val merged = Materialize.eager(merge)
          // vectors APPEND as a batch_id partition — O(batch) bytes per
          // batch; a replay overwrites the same partition, so idempotence
          // needs no dedupe pass. Ids are unique across the stream (the
          // vec_id contract), so cross-partition duplicates cannot arise.
          // SORTED BY CLUSTER within the write: parquet row-group min/max
          // stats on `cluster` then answer the history read's touched-cell
          // filter — at production batch sizes (many row groups per file)
          // the filter row-group-prunes instead of scanning every vector's
          // cluster column, without the write amplification a fully
          // cell-partitioned vector store would pay on corpus-scale batches
          wh.writePartition(vecTable, "batch_id", batchId,
            bAssign.select(col(idCol), col("__u").as("u"), col("cluster"))
              .sortWithinPartitions(col("cluster")))
          // graph: touched-cell partitions ONLY, each swapped atomically
          // and stamped with this batch — untouched cells are never read
          // or rewritten (the r19 touched-range shape). Hash-partition by
          // cell first: a partitionBy write otherwise emits a file per
          // (task × cell) — tasks × touched-cells small files per batch,
          // whose open cost taxes every later read (the first soak of the
          // store measured it); with the exchange each cell lands as one
          // file (per-cell parallelism matters only when one cell exceeds
          // a task — then drop this or re-split by a secondary key)
          wh.writePartitions(graphTable, "cell",
            merged.repartition(col("cell")))
        }
      }
      writeBatchIdempotent(batch, outDir, batchId)
    }

  /** Start the streaming kNN-graph gate on an embeddings stream. The fit
    * is loaded ONCE from `centroidTable` at start (the persisted-fit
    * path); the quadruple (checkpointDir, outDir, graph table, vectors
    * table) is the unit of exactly-once recovery.
    */
  def startKnnGraphGate(docs: DataFrame, wh: graft.airbnb.Warehouse,
      centroidTable: String, graphTable: String, vecTable: String,
      outDir: String, checkpointDir: String, idCol: String, embCol: String,
      degree: Int, queryName: String = "knn_graph_gate"): StreamingQuery = {
    val cents = graft.operators.KMeans.centroidsFromDf(wh.read(centroidTable))
    startGate(docs, checkpointDir, queryName)(knnGraphGateBatch(_, wh, cents,
      graphTable, vecTable, outDir, _, idCol, embCol, degree))
  }

  // ---------------------------------------------------------------------
  // Streaming corpus ingestion: the FULL crawl-intake pipeline as one
  // continuous query — quality gate → PII scrub → intra-batch exact dedup
  // → cross-batch exact dedup (fingerprint index) → cross-batch near-dup
  // gate (MinHash band index) → idempotent sink — composing the
  // oracle-gated batch operators it names. This is what a 100 TB crawl
  // pipeline actually runs: only each day's batch pays sketch cost, the
  // corpus is never re-deduped, and both indexes grow by survivors only.
  //
  // Replay safety is the near-dup gate's min-batch-id design applied to
  // BOTH indexes: index rows carry the batch that first contributed them,
  // tagging filters to batch_id < current, and re-merges are no-ops.
  // Intra-batch near-dups are (deliberately) not examined — the same
  // one-sided contract as Dedup.tagNearDupAgainstIndex.
  // ---------------------------------------------------------------------

  /** Fingerprint-index table schema for the streaming ingest. */
  val fpIndexSchema: StructType = StructType(Seq(
    StructField("fp", StringType), StructField("batch_id", LongType)))

  /** The foreachBatch body of the corpus-ingest pipeline, callable directly.
    * Returns false when `batchId` was already fully committed.
    */
  def corpusIngestBatch(batch: DataFrame, wh: graft.airbnb.Warehouse,
      outDir: String, batchId: Long, idCol: String, textCol: String,
      minTokens: Int, shingleK: Int, bands: Int = 2): Boolean =
    commitOnce(batch.sparkSession, outDir, batchId) {
      import graft.functions.TextFns
      // 1-2. quality gate (map-side token floor) + PII scrub
      val gated = batch
        .filter(TextFns.tokenCount(col(textCol)) >= minTokens)
        .withColumn(textCol, TextFns.piiScrub(col(textCol)))
      // 3. intra-batch exact dedup: min-id survivor per identical content
      val survivorsIntra = gated.join(
        graft.operators.Dedup.exact(gated, idCol, Seq(textCol)).select(col(idCol)),
        Seq(idCol), "left_semi")
      // 4-5. cross-batch dedup in one pass: an anti join against the fp
      // index, then an anti join on the ids whose band keys hit the band
      // index; neither multiplies rows, so neither index is deduplicated.
      // Both index reads plan from the schema their last writePartition
      // cached, with no footer job (jobs per batch: ROADMAP item 2).
      val afterExact = graft.operators.Dedup.novelAgainstIndex(survivorsIntra,
        priorIndex(wh, "fp_index", fpIndexSchema, batchId), textCol)
      val novel = afterExact.join(graft.operators.Dedup.bandIndexHits(afterExact,
          priorIndex(wh, "band_index", bandIndexSchema, batchId), idCol, textCol,
          shingleK, bands), Seq(idCol), "left_anti")
      val accepted = Materialize.eager(novel) // feeds both index appends and the sink
      // both indexes grow by the batch's SURVIVOR contribution only,
      // landed as idempotent batch_id partitions (r18 — the r17 shape
      // rewrote each whole index through a groupBy-dedupe + swap every
      // batch). Cross-partition duplicates cannot arise by the gates' own
      // acceptance rules: an fp matching history is rejected by the exact
      // gate, and an accepted doc shares NO band key with history (a
      // shared band key is exactly what bandIndexHits returns); within-batch
      // duplicates are deduped here (fp distinct; bandIndex is distinct by
      // construction). Replays overwrite their own partitions.
      wh.writePartition("fp_index", "batch_id", batchId,
        accepted.select(md5(col(textCol)).as("fp")).distinct())
      wh.writePartition("band_index", "batch_id", batchId,
        graft.operators.Dedup.bandIndex(accepted, idCol, textCol, shingleK, bands))
      writeBatchIdempotent(accepted, outDir, batchId)
    }

  // ---------------------------------------------------------------------
  // Streaming crawl intake: a WARC spool directory (crawlers drop
  // .warc.gz files; the file source delivers each file exactly once) →
  // executor-side record parse (sources.Warc) → rejects quarantined to
  // their own idempotent batch dirs → HTML responses reduced to clean
  // text (HtmlFns) → the corpusIngestBatch discipline (gate → scrub →
  // both dedup indexes → idempotent sink). The continuous version of
  // q_warc_extract + q_corpus_pipeline composed.

  /** Fixed schema of Spark's binaryFile source (streaming reads REQUIRE an
    * explicit schema).
    */
  private val binaryFileSchema: StructType = StructType(Seq(
    StructField("path", StringType), StructField("modificationTime", TimestampType),
    StructField("length", LongType), StructField("content", BinaryType)))

  /** Streaming read of a crawl spool: every .warc.gz landing in `dir`
    * becomes parsed WARC rows in some micro-batch. One file = one parse
    * unit, memory bounded by one decompressed file (the batch reader's
    * contract, sources.Warc.parseFile).
    */
  def readWarc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.readStream.format("binaryFile").schema(binaryFileSchema)
      .option("pathGlobFilter", "*.warc.gz")
      .load(dir)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
      .flatMap { case (p, b) => graft.sources.Warc.parseFile(p, b) }
      .toDF()
  }

  /** One crawl micro-batch. Rejects land in `outDir/rejects/batch-<id>`
    * through [[writeBatchIdempotent]] (replay-safe independently of the
    * docs half — a crash between the two writes must not double the
    * quarantine on replay). Valid 200-status HTML responses become
    * (doc_id, url, text) — doc_id the 64-bit hash of the WARC record id,
    * stable across replays — and flow through [[corpusIngestBatch]].
    * Returns true iff the docs half wrote (false = replay no-op).
    */
  def crawlIngestBatch(records: DataFrame, wh: graft.airbnb.Warehouse,
      outDir: String, batchId: Long, minTokens: Int = 5, shingleK: Int = 4,
      bands: Int = 2): Boolean = {
    // the rejects write and the ingest half each run actions over this
    // lineage — unpersisted, every action would re-read and re-parse the
    // whole spool batch (binaryFile read + gunzip + record codec)
    Materialize.scope {
      Materialize.lazily(records)
      writeBatchIdempotent(records.filter(col("reject_reason").isNotNull)
        .select(col("file"), col("offset"), col("reject_reason")),
        s"$outDir/rejects", batchId)
      val docs = records.filter(col("reject_reason").isNull &&
          col("warc_type") === "response" && col("http_status") === 200)
        .select(
          xxhash64(col("record_id")).as("doc_id"),
          col("target_uri").as("url"),
          graft.functions.HtmlFns.cleanText(col("body")).as("text"))
      corpusIngestBatch(docs, wh, outDir, batchId, "doc_id", "text",
        minTokens, shingleK, bands)
    }
  }

  /** Start the streaming crawl-intake pipeline on a [[readWarc]] stream. */
  def startCrawlIngest(records: DataFrame, wh: graft.airbnb.Warehouse,
      outDir: String, checkpointDir: String, minTokens: Int = 5,
      shingleK: Int = 4, bands: Int = 2,
      queryName: String = "crawl_ingest"): StreamingQuery =
    startGate(records, checkpointDir, queryName)(crawlIngestBatch(_, wh,
      outDir, _, minTokens, shingleK, bands))

  /** Start the streaming corpus-ingest pipeline on a documents stream. */
  def startCorpusIngest(docs: DataFrame, wh: graft.airbnb.Warehouse,
      outDir: String, checkpointDir: String, idCol: String, textCol: String,
      minTokens: Int = 5, shingleK: Int = 4, bands: Int = 2,
      queryName: String = "corpus_ingest"): StreamingQuery =
    startGate(docs, checkpointDir, queryName)(corpusIngestBatch(_, wh,
      outDir, _, idCol, textCol, minTokens, shingleK, bands))

  /** Read the sink's committed output: only batch directories bearing the
    * _COMMITTED marker participate, so readers never observe a torn batch.
    */
  def readCommitted(spark: SparkSession, outDir: String): DataFrame = {
    val root = new Path(outDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val committed =
      if (!fs.exists(root)) Array.empty[String]
      else fs.listStatus(root)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch-"))
        .filter(s => fs.exists(new Path(s.getPath, "_COMMITTED")))
        .map(_.getPath.toString)
    require(committed.nonEmpty, s"no committed batches under $outDir")
    spark.read.parquet(committed.toIndexedSeq: _*)
  }
}
