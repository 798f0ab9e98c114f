package graft.operators

import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication family for large-scale text corpora: exact (hash-groupBy),
  * word n-gram Jaccard, MinHash+LSH, and SimHash. Generalizes the reference's
  * two window-dedups (SURVEY W1/W2, sql/data/02_load_hosts.sql:7-16 and
  * 05_load_reviews.sql:41) to content-based near-duplicate detection.
  *
  * Scale design:
  *   - nothing ever pairs documents by cross join — candidate pairs come only
  *     from shared shingles (ngram) or shared LSH bands (minhash), so the
  *     join fan-out is bounded by real content overlap;
  *   - all hashes are engine-portable integer arithmetic (TextFns.polyHash)
  *     so every path is DuckDB-oracle-checkable;
  *   - each stage shuffles on exactly one key (shingle, band, doc_id).
  * At 100 TB you'd additionally drop ubiquitous shingles (document-frequency
  * cutoff) before the pair join; that is a one-line filter on `shingles`.
  */
object Dedup {

  /** Exact dedup on a content hash; deterministic min-id survivor.
    * Returns (id, n_copies) — one row per distinct content.
    */
  def exact(df: DataFrame, idCol: String, contentCols: Seq[String]): DataFrame = {
    // Unambiguous multi-column encoding: each column is length-prefixed and
    // NULL gets a distinct sentinel, so ("ab","c") vs ("a","bc") and NULL vs
    // empty never collide (concat_ws silently drops NULLs, and a separator
    // char alone cannot distinguish NULL from the empty string). The groups
    // are exactly those of hashing each column independently, so the
    // single-column DuckDB oracle GROUP BY md5(text) (NULLs one group) still
    // matches.
    val enc = contentCols.map { c =>
      val s = col(c).cast(StringType)
      when(s.isNull, lit("N;")).otherwise(concat(lit("V"), length(s), lit(":"), s, lit(";")))
    }
    df.groupBy(md5(concat(enc: _*)).as("fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(col(idCol), col("n_copies"))
  }

  /** Cross-document exact LINE dedup — the C4 sentence-dedup shape (Raffel
    * et al. 2020 §2.2 dedupe "any three-sentence span occurring more than
    * once"): the corpus keeps only the globally-FIRST occurrence of every
    * distinct line; later occurrences anywhere (same doc or another doc)
    * are dropped. "First" is total and deterministic: minimum (id, pos).
    *
    * Input: one row per (id, pos, line). Output: the input plus a `kept`
    * flag.
    *
    * Scale: the first-occurrence tag is a groupBy-min on the line key —
    * partial aggregation combines map-side, so a line duplicated a million
    * times ships ONE candidate row per map partition (a window over the
    * line key would ship all of them to one reducer). The tag re-join is a
    * plain equi-join on the same key, so AQE can reuse the exchange.
    */
  def dedupLines(lines: DataFrame, idCol: String, posCol: String,
                 lineCol: String): DataFrame = {
    // Lines are keyed by 64-bit hash before either shuffle, so the agg and
    // the tag re-join move (long, long, long) rows, never line text. A
    // collision can only merge two distinct lines into one dedup group
    // (dropping a unique line as if duplicated) — vanishing at any
    // realistic corpus size, same trade ngramJaccardPairs documents.
    val keyed = lines.withColumn("__lh", xxhash64(col(lineCol)))
    val firsts = keyed
      .select(col("__lh"), struct(col(idCol), col(posCol)).as("__p"))
      .groupBy(col("__lh")).agg(min(col("__p")).as("__first"))
    keyed.join(firsts, "__lh")
      .withColumn("kept",
        col(idCol) === col("__first")(idCol) &&
        col(posCol) === col("__first")(posCol))
      .drop("__first", "__lh")
  }

  /** Per-document survivor counts of [[dedupLines]] — (id, n_lines, n_kept)
    * — WITHOUT the row-level tag re-join: a document's kept count is the
    * number of distinct lines whose global first occurrence lands in it,
    * so two hash-keyed aggregations (both with map-side combine) replace
    * the join. Use this when only the accounting is needed; use
    * [[dedupLines]] when the surviving rows themselves are.
    */
  def dedupLineStats(lines: DataFrame, idCol: String, posCol: String,
                     lineCol: String): DataFrame = {
    val keyed = lines.select(col(idCol), col(posCol),
      xxhash64(col(lineCol)).as("__lh"))
    val perDoc = keyed.groupBy(col(idCol)).agg(count(lit(1)).as("n_lines"))
    val keptPerDoc = keyed
      .groupBy(col("__lh"))
      .agg(min(struct(col(idCol), col(posCol))).as("__first"))
      .groupBy(col("__first")(idCol).as(idCol))
      .agg(count(lit(1)).as("n_kept"))
    perDoc.join(keptPerDoc, Seq(idCol), "left")
      .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
  }

  /** Duplicated-substring coverage (the measurement behind suffix-array
    * substring dedup, Lee et al. 2022 "Deduplicating Training Data Makes
    * Language Models Better"): for every token position, is the k-gram
    * starting there also present in ANOTHER document? Returns per-document
    * (id, n_pos, dup_pos, dup_ppm) — the fraction of a document covered by
    * cross-document repeated spans, the score substring-dedup gates on.
    *
    * Scale: positions and the cross-document shingle set join on the
    * 64-bit shingle hash only (strings never leave the map side); the
    * document-frequency aggregate is a groupBy (map-side combine), and the
    * join fan-out is 1:1 per position (each position probes one key). No
    * pair explosion exists anywhere — this is strictly cheaper than any
    * pairing dedup at the same k.
    */
  def duplicatedShingleCoverage(df: DataFrame, idCol: String, textCol: String,
                                k: Int): DataFrame = {
    val toks = df.select(col(idCol), TextFns.tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= k)
    // document frequency over DISTINCT per-doc shingles (the sketch kernel
    // distincts inside the row — no distinct() exchange)
    val docShingles = toks
      .select(col(idCol), explode(graft.functions.SketchFns
        .shinglesDistinct(col("t"), k)).as("sh"))
      .select(col(idCol), xxhash64(col("sh")).as("shh"))
    // every position's shingle (duplicates within a doc each count a position)
    val allPos = toks
      .select(col(idCol), explode(TextFns.shingleExpr("t", k)).as("sh"))
      .select(col(idCol), xxhash64(col("sh")).as("shh"))
    val crossDoc = docShingles.groupBy(col("shh"))
      .agg(count(lit(1)).as("__ndocs"))
      .filter(col("__ndocs") >= 2L)
      .select(col("shh"))
    val dupCounts = allPos.join(crossDoc, "shh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("dup_pos"))
    toks.select(col(idCol),
        (size(col("t")) - (k - 1)).cast(LongType).as("n_pos"))
      .join(dupCounts, Seq(idCol), "left")
      .withColumn("dup_pos", coalesce(col("dup_pos"), lit(0L)))
      .withColumn("dup_ppm",
        expr("dup_pos * 1000000L DIV greatest(n_pos, 1L)"))
  }

  /** Distinct shingle ARRAY per document (plus the token array pre-check) —
    * the per-row sketch kernel: distinctness is established inside the row,
    * so no `distinct()` exchange of the exploded shingle set is ever paid.
    */
  private def shingleArr(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol), TextFns.tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= k)
      .select(col(idCol),
        graft.functions.SketchFns.shinglesDistinct(col("t"), k).as("sha"))

  /** Distinct (id, k-gram shingle) pairs of a text column. */
  def shingles(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    shingleArr(df, idCol, textCol, k)
      .select(col(idCol), explode(col("sha")).as("sh"))

  /** Distinct (id, 64-bit shingle hash) pairs — the join-key-only twin of
    * [[shingles]] for operators that never surface the shingle text (the
    * decontamination family): the ShingleHashes kernel hashes each k-gram
    * in place, so no shingle string is ever built and no downstream
    * xxhash64 pass over string bytes is paid. Column `__sk`.
    */
  def shingleHashes(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol), TextFns.tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= k)
      .select(col(idCol),
        explode(graft.functions.SketchFns.shingleHashes(col("t"), k)).as("__sk"))

  /** Candidate pairs with exact n-gram Jaccard similarity >= threshold.
    * Output: (a_id, b_id, jaccard), a_id < b_id.
    *
    * @param maxDocFreq drop shingles appearing in more than this many
    *        documents before pairing (0 = off). THE scale lever: a shingle in
    *        d docs contributes d·(d-1)/2 pairs, so heavy-tailed corpora need
    *        a document-frequency cutoff to bound the join fan-out; dropping
    *        ubiquitous shingles barely moves Jaccard for true near-dups.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        k: Int, threshold: Double, maxDocFreq: Long = 0L): DataFrame = {
    val shN = ngramShingleStage(df, idCol, textCol, k, maxDocFreq)
    // SHUFFLE_HASH hint (the simhashNearDupPairs discipline, minus the
    // sort): a broadcast of the "small" side re-runs the whole
    // scan→tokenize→ShingleHashes pipeline once per join input; with both
    // sides shuffling on `sh` the canonicalized exchanges are equal and
    // ReusedExchange computes the shingle set ONCE, and hash join skips
    // the two sorts sort-merge would pay on the exploded set. At fact
    // scale both sides shuffle anyway, so the hint only changes the
    // toy-scale plan.
    shN.select(col(idCol).as("a_id"), col("sh"), col("nsh").as("na")).hint("shuffle_hash")
      .join(shN.select(col(idCol).as("b_id"), col("sh"), col("nsh").as("nb")), "sh")
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_common"), first(col("na")).as("na"), first(col("nb")).as("nb"))
      .withColumn("jaccard",
        col("n_common").cast(DoubleType) / (col("na") + col("nb") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** The exploded, cutoff-filtered (idCol, nsh, sh) shingle stage of
    * [[ngramJaccardPairs]] and [[ngramContainmentPairs]]: (long, long, long)
    * rows — the shingle TEXT never materializes, ~24 bytes per position.
    */
  private def ngramShingleStage(df: DataFrame, idCol: String, textCol: String,
                                k: Int, maxDocFreq: Long): DataFrame = {
    // Per-doc shingle counts are free row-local facts (size of the distinct
    // shingle array) — no window pass, no sizes re-join. Only the optional
    // document-frequency cutoff pays a shuffle (its count is inherently
    // cross-document), and when it fires the per-doc counts are recomputed
    // post-cutoff by window so the Jaccard denominator matches the surviving
    // shingle sets (same semantics the windowed formulation had).
    // Shingles are hashed to 64-bit keys BEFORE leaving the row: the DF
    // window, the pair self-join, and the pair aggregate all move
    // (long, long) rows, never k-gram strings — at 100 TB the candidate
    // join's shuffle bytes dominate this operator, and hashing cuts them
    // ~5-10× for typical 4-gram lengths. A 64-bit collision can only ADD a
    // spurious shared shingle between two documents (never remove one), a
    // vanishing overestimate of Jaccard at any realistic corpus size.
    // The hashes come from the ShingleHashes KERNEL, not
    // explode(transform(sha, xxhash64)): a higher-order function never
    // code-generates, and a generator's child is evaluated INTERPRETED per
    // row inside GenerateExec — jstack during q_corpus_pipeline's stalled
    // runs showed one executor thread alone in ArrayTransform.nullSafeEval
    // re-materializing shingle strings while 31 sat idle.
    // (A gated hash-repartition fan-out of the input before this kernel —
    // parallelizing the single-task toy-scale scan stage — was A/B'd in
    // round 14 and REJECTED: the repartition's map side still scans the
    // one-row-group parquet serially AND pays the raw-text shuffle write,
    // measured 405 ms of the fused stage's 554 ms, so the exchange cost
    // exceeded the kernel parallelism it bought: warm wall 873 → 1020 ms.
    // At 100 TB the question is moot — real inputs have natural splits.)
    val base = df.select(col(idCol), TextFns.tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= k)
      .select(col(idCol), graft.functions.SketchFns.shingleHashes(col("t"), k).as("sha"))
      .select(col(idCol), size(col("sha")).cast(LongType).as("nsh"),
        explode(col("sha")).as("sh"))
    if (maxDocFreq <= 0L) base
    else {
      // Hash-aggregates + joins instead of two whole-partition windows:
      // count(*) OVER (PARTITION BY ...) buffers and SORTS every
      // partition of the exploded shingle set twice (ExternalAppendOnly
      // row buffering showed up in stalled-run thread dumps); the
      // aggregate forms reduce map-side and their exchanges hash on the
      // same keys the downstream joins need.
      val dfreq = base.groupBy(col("sh")).agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxDocFreq).select(col("sh"))
      val kept = base.drop("nsh").join(dfreq, "sh")
      val nshPost = kept.groupBy(col(idCol)).agg(count(lit(1)).as("nsh"))
      kept.join(nshPost, Seq(idCol))
    }
  }

  /** MinHash signatures (8 permutations) per document — ONE narrow pass: the
    * MinHashSig kernel folds shingling, hashing, and the per-permutation min
    * into a per-row expression (min over duplicate shingles = min over
    * distinct, so the sketch needs neither a distinct set nor a groupBy).
    * The explode → distinct → groupBy formulation this replaces paid two
    * full shuffles of the exploded shingle set before any pair discovery.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val nPerms = TextFns.minhashPerms.size
    df.select(col(idCol), TextFns.tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= k)
      .withColumn("sig", graft.functions.SketchFns.minhashSig(col("t"), k))
      .select(col(idCol) +: (0 until nPerms).map(i => col("sig")(i).as(s"m$i")): _*)
  }

  /** Signatures exploded to one (band_idx, band_key) row per band — the
    * shared candidate-generation layout of [[minhashLshPairs]] (self-join)
    * and [[tagNearDupAgainstIndex]] (new-batch vs index join).
    */
  private def bandedSignatures(df: DataFrame, idCol: String, textCol: String,
                               k: Int, bands: Int): DataFrame = {
    val nPerms = TextFns.minhashPerms.size
    require(bands > 0 && nPerms % bands == 0, s"bands must divide $nPerms permutations")
    val rows = nPerms / bands
    val sig = minhashSignatures(df, idCol, textCol, k)
    val bandStructs = (0 until bands).map { bi =>
      struct(lit(bi).as("band_idx"),
             concat_ws("-", (bi * rows until (bi + 1) * rows).map(i => col(s"m$i")): _*)
               .as("band_key"))
    }
    sig.withColumn("b", explode(array(bandStructs: _*)))
      .select(col(idCol) +: (0 until nPerms).map(i => col(s"m$i")) :+
              col("b.band_idx").as("band_idx") :+ col("b.band_key").as("band_key"): _*)
  }

  /** LSH candidate pairs (`bands` bands × nPerms/bands rows each) with
    * estimated Jaccard (signature agreement fraction) >= threshold.
    *
    * Plan shape: signatures are computed ONCE and exploded to one
    * (band_idx, band_key) row per band, then a single self-equi-join on the
    * composite band key finds candidates across all bands. The naive
    * per-band self-join + union re-evaluates the whole shingle→hash→groupBy
    * signature pipeline once per join input (4× for 2 bands); the exploded
    * form has identical-modulo-alias join inputs, so at fact scale (both
    * sides shuffle on the band key) the canonicalized exchanges are equal and
    * ReusedExchange computes signatures ONCE. When one side is
    * broadcast-small the pipeline runs twice (bounded, and cheaper than the
    * broadcast is worth), and band count is a parameter instead of
    * hard-coded column names.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      k: Int, threshold: Double, bands: Int = 2): DataFrame = {
    val nPerms = TextFns.minhashPerms.size
    val banded = bandedSignatures(df, idCol, textCol, k, bands)
    def side(p: String) = banded.select(banded.columns.toIndexedSeq.map(c => col(c).as(p + c)): _*)
    val a = side("a_"); val b = side("b_")
    val cand = a.hint("shuffle_hash").join(b,
      col("a_band_idx") === col("b_band_idx") &&
        col("a_band_key") === col("b_band_key") &&
        col(s"a_$idCol") < col(s"b_$idCol"))
    val matches = (0 until nPerms)
      .map(i => when(col(s"a_m$i") === col(s"b_m$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .select(col(s"a_$idCol").as("a_id"), col(s"b_$idCol").as("b_id"),
              (matches.cast(DoubleType) / nPerms).as("est_jaccard"))
      .distinct()
      .filter(col("est_jaccard") >= threshold)
  }

  /** Asymmetric n-gram CONTAINMENT pairs — the subsumption signal
    * symmetric Jaccard misses: containment(A in B) = |A∩B| / |A|, so a
    * short document quoted wholesale inside a long one scores J =
    * |A|/|B| (arbitrarily small) but containment 1.0 — the
    * quote-inclusion / boilerplate-wrapper / subsumed-revision shape
    * (Broder's resemblance-vs-containment distinction). Returns one row
    * per unordered candidate pair with BOTH orientations
    * (a_id, b_id, n_common, cont_a_in_b, cont_b_in_a), kept when either
    * containment >= `threshold`.
    *
    * Scale: identical plan shape to [[ngramJaccardPairs]] — the same
    * shared-shingle hashed join with the same document-frequency cutoff
    * lever (`maxDocFreq`), one extra division per surviving pair. The
    * cutoff note applies doubly here: ubiquitous shingles are exactly the
    * boilerplate a containment check would otherwise count as "content".
    */
  def ngramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
                            k: Int, threshold: Double,
                            maxDocFreq: Long = 0L): DataFrame = {
    val shN = ngramShingleStage(df, idCol, textCol, k, maxDocFreq)
    shN.select(col(idCol).as("a_id"), col("sh"), col("nsh").as("na")).hint("shuffle_hash")
      .join(shN.select(col(idCol).as("b_id"), col("sh"), col("nsh").as("nb")), "sh")
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_common"), first(col("na")).as("na"), first(col("nb")).as("nb"))
      .withColumn("cont_a_in_b", col("n_common").cast(DoubleType) / col("na"))
      .withColumn("cont_b_in_a", col("n_common").cast(DoubleType) / col("nb"))
      .filter(col("cont_a_in_b") >= threshold || col("cont_b_in_a") >= threshold)
      .select(col("a_id"), col("b_id"), col("n_common"),
        col("cont_a_in_b"), col("cont_b_in_a"))
  }

  /** Sketch-estimated containment — the 100 TB path for
    * [[ngramContainmentPairs]]: exact containment pays the full
    * shared-shingle pair join, while the bottom-k sketch (Broder) probes
    * only `bottomK` hash rows per A-side document against the B-side's
    * distinct hashed shingle sets: est(A in B) = |bottomk(A) ∩ B| /
    * |bottomk(A)|, EXACT whenever A has ≤ bottomK distinct shingles.
    * Emits ORDERED pairs (every document is both an A and a B), so both
    * orientations of an overlapping pair appear with their own estimates.
    *
    * Scale: the A side shuffles ≤ bottomK rows per doc (constant sketch
    * bytes, the point); the B side is the same distinct-hash stream the
    * winnowing family shuffles; candidate fan-out is bounded by genuine
    * hash sharing. Hash values are the oracle-portable polyHash family,
    * so the selection of "the k smallest" replays in SQL exactly.
    */
  def containmentSketchPairs(df0: DataFrame, idCol: String, textCol: String,
                             k: Int, bottomK: Int, threshold: Double): DataFrame = {
    val df = graft.Tables.spread(df0)
    val toks = TextFns.tokens(col(textCol))
    // ONE tokenize+hash kernel pass (r20): both sketch legs derive from
    // the same distinct-hash array — the bottom-k sketch is exactly the
    // ascending prefix of the sorted distinct hashes (bottomKShingleHashes
    // ≡ slice(array_sort(winnowFingerprints(w=1)), 1, bk); KernelParitySpec
    // pins both kernels to the same shingleHash family) — so the
    // checkpointed (id, hashes) longs replace the second full
    // scan+tokenize leg the pre-r20 shape paid.
    // the checkpoint stores the hash set SORTED (r21): the bottom-k sketch
    // is the ascending prefix, so sorting once inside the 32-wide kernel
    // stage deletes the per-row array_sort the a-side join leg re-ran on
    // every doc's full hash array (FixedCostProbe priced that leg equal to
    // the b-side's full explode); the b side is order-insensitive (set).
    // EAGER localCheckpoint, deliberately NOT a lazy persist (r21 A/B): the
    // two join legs are submitted CONCURRENTLY by AQE, so a lazy cache
    // races its own fill — both legs computed the kernel pass and the
    // probe measured execute 0.84-1.09 s vs 0.39-0.63 s with the eager
    // form (the serve gate differs: its probe strictly precedes the
    // verify, so the lazy cache wins there).
    val hs = graft.Materialize.eager(df.select(col(idCol).as("__id"),
        array_sort(graft.functions.SketchFns.winnowFingerprints(toks, k, 1))
          .as("__hs"))
      .filter(size(col("__hs")) > 0))
    val a = hs.select(col("__id").as("a_id"),
        slice(col("__hs"), 1, bottomK).as("__bk"))
      .withColumn("nbk", size(col("__bk")).cast(LongType))
      .select(col("a_id"), col("nbk"), explode(col("__bk")).as("h"))
    val b = hs.select(col("__id").as("b_id"), explode(col("__hs")).as("h"))
    a.hint("shuffle_hash").join(b, "h")
      .filter(col("a_id") =!= col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_hit"), first(col("nbk")).as("nbk"))
      .withColumn("est_containment",
        col("n_hit").cast(DoubleType) / col("nbk"))
      .filter(col("est_containment") >= threshold)
      .select(col("a_id"), col("b_id"), col("n_hit"), col("nbk"),
        col("est_containment"))
  }

  /** Sketch-recall evaluation — the sizing check a pipeline owner runs
    * BEFORE committing a corpus to a banding (re-banding later re-sketches
    * everything): on a deterministic corpus sample, how much of the EXACT
    * n-gram-Jaccard pair set at `threshold` does the MinHash-LSH candidate
    * path recover, and how many extra candidates does it admit? Returns
    * ONE row (n_exact, n_lsh, n_recovered, recall_ppm); recall of an empty
    * exact set is vacuously 10^6.
    *
    * Scale contract: the EXACT leg is the expensive half (shared-shingle
    * pair join) — run it on a sample via `sampleMod` (keep doc_id % mod =
    * 0; deterministic, so the oracle replays it). Recall estimated on a
    * 1/1000 sample transfers to the corpus because band collision is a
    * per-PAIR property independent of corpus size; the sketch leg's extra
    * candidates (n_lsh − n_recovered) are what the downstream verify pass
    * pays for. Round-14 measurement on the fixture family: 100% recovered
    * at sf0.01, 97.6% at sf0.1 (threshold 0.85).
    */
  def lshRecallEval(df: DataFrame, idCol: String, textCol: String, k: Int,
                    threshold: Double, bands: Int = 2,
                    sampleMod: Long = 1L): DataFrame = {
    require(sampleMod >= 1, s"sampleMod must be >= 1: $sampleMod")
    val s0 = if (sampleMod == 1L) df
      else df.filter(pmod(col(idCol), lit(sampleMod)) === 0)
    // both legs tokenize the same sample: one spread checkpoint replaces
    // two serial scan+tokenize passes off the one-row-group fixture scan
    // (the 271 ms 1-task stage FixedCostProbe measured); sample-bounded,
    // and spread is identity where the scan already parallelizes
    val s = graft.Materialize.eager(graft.Tables.spread(s0.select(col(idCol), col(textCol))))
    val exact = ngramJaccardPairs(s, idCol, textCol, k, threshold)
      .select(col("a_id"), col("b_id"), lit(1).as("__e"))
    val lsh = minhashLshPairs(s, idCol, textCol, k, threshold, bands)
      .select(col("a_id"), col("b_id"), lit(1).as("__l"))
    exact.join(lsh, Seq("a_id", "b_id"), "full_outer")
      .agg(count(col("__e")).cast(LongType).as("n_exact"),
        count(col("__l")).cast(LongType).as("n_lsh"),
        count(when(col("__e").isNotNull && col("__l").isNotNull, 1))
          .cast(LongType).as("n_recovered"))
      .withColumn("recall_ppm", expr(
        "CASE WHEN n_exact = 0 THEN 1000000 " +
        "ELSE 1000000 * n_recovered DIV n_exact END"))
  }

  /** Per-document SimHash over token hashes (`bits` <= 63). Documents whose
    * simhash collides are near-duplicates at hamming distance 0.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String, bits: Int): DataFrame = {
    // Per-row sketch kernel: token hashing and the per-bit ±1 vote both
    // depend only on the row, so the explode → groupBy shuffle of the
    // token set is gone. The null-text filter preserves the exact output of
    // that formulation (explode over a null token array emitted no row).
    val toks = TextFns.tokens(col(textCol))
    df.filter(toks.isNotNull)
      .select(col(idCol),
        graft.functions.SketchFns.simhashBits(toks, bits).as("simhash"))
  }

  /** SimHash near-duplicate PAIRS at hamming distance <= `maxHamming` — the
    * part of simhash dedup that exact-signature collision (distance 0)
    * misses by construction. Bit-band blocking: the `bits`-bit signature is
    * split into `bands` contiguous slices; by pigeonhole, two signatures
    * within hamming distance d < bands agree EXACTLY on at least one slice,
    * so candidates come only from per-band equality joins (same banded
    * shape as MinHash-LSH: one explode, one self-equi-join on the composite
    * band key) and the exact popcount-of-XOR verification runs on that
    * bounded candidate set. Output: (a_id, b_id, hamming), a_id < b_id.
    *
    * Scale: band width picks the bucket count (2^(bits/bands) keys); the
    * shuffle moves (id, sig, band_key) longs only, and no all-pairs join
    * exists anywhere — fan-out is bounded by docs genuinely colliding on
    * a quarter of their simhash. Band width is the scale lever: callers
    * MUST keep bands wide (>= ~15 bits, i.e. >= 32k keys per band — e.g.
    * 60 bits / 4 bands); narrow bands (7 bits = 128 keys) make every band a
    * hot bucket and the candidate set quadratic. The hamming verification
    * runs on the raw banded join output BEFORE any exchange, so the ~99%
    * of candidates that fail the distance test never pay the dedup shuffle
    * and never carry their signatures through it.
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          bits: Int, maxHamming: Int, bands: Int = 4): DataFrame = {
    require(bands > 0 && bits % bands == 0, s"bands must divide bits ($bits/$bands)")
    require(maxHamming >= 0 && maxHamming < bands,
      s"pigeonhole guarantee needs maxHamming < bands ($maxHamming/$bands)")
    val w = bits / bands
    val mask = (1L << w) - 1L
    val sig = simhash(df, idCol, textCol, bits)
    val bandStructs = (0 until bands).map { bi =>
      struct(lit(bi).as("band_idx"),
        shiftright(col("simhash"), bi * w).bitwiseAND(lit(mask)).as("band_key"))
    }
    val banded = sig.select(col(idCol), col("simhash"),
        explode(array(bandStructs: _*)).as("b"))
      .select(col(idCol), col("simhash"),
        col("b.band_idx").as("band_idx"), col("b.band_key").as("band_key"))
    val a = banded.select(col(idCol).as("a_id"), col("simhash").as("a_sim"),
      col("band_idx"), col("band_key"))
    val b = banded.select(col(idCol).as("b_id"), col("simhash").as("b_sim"),
      col("band_idx"), col("band_key"))
    // A pair within distance d agrees on possibly SEVERAL bands and would
    // surface once per agreeing band. Both signatures ride the joined row,
    // so "is this the FIRST agreeing band?" is a pure expression — the
    // duplicates die map-side and the (a_id, b_id) distinct exchange the
    // naive form pays (on the full candidate set, at that) never exists.
    def bandOf(sig: Column, j: Int): Column =
      shiftright(sig, j * w).bitwiseAND(lit(mask))
    val firstAgreeingBand = (0 until bands).foldRight(lit(bands)) { (j, tail) =>
      when(bandOf(col("a_sim"), j) === bandOf(col("b_sim"), j), lit(j))
        .otherwise(tail)
    }
    // MERGE hint: a broadcast of the small side would re-run the whole
    // scan→tokenize→sketch pipeline once per join input; with both sides
    // shuffling on the band key the canonicalized exchanges are equal and
    // ReusedExchange computes the signatures ONCE (same shape as
    // minhashLshPairs). At fact scale sort-merge is what the planner picks
    // anyway, so the hint only changes the toy-scale plan.
    a.hint("merge").join(b, Seq("band_idx", "band_key"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("hamming",
        expr("CAST(bit_count(a_sim ^ b_sim) AS BIGINT)"))
      .filter(col("hamming") <= maxHamming)
      .filter(col("band_idx") === firstAgreeingBand)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** [[simhashNearDupPairs]] with the TWO-LONG 124-bit signature — the
    * documented scale path past ~1M docs, where 15-bit band keys run out of
    * room: two independent 62-bit signatures (base + re-mixed hash family)
    * give 4 disjoint 31-bit bands (~2·10^9 keys per band), so the incidental
    * band-collision term n²/2^31 stays negligible to corpus sizes the
    * one-long form cannot reach. Same plan shape as the narrow op (per-row
    * sketch kernels, one exploded-band self-join with a reused exchange,
    * hamming filter + first-agreeing-band dedup map-side, no distinct
    * exchange); hamming is the popcount sum over both longs, and the
    * pigeonhole guarantee holds because the 4 bands partition all 124 bits.
    */
  def simhashNearDupPairsWide(df: DataFrame, idCol: String, textCol: String,
                              maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      s"pigeonhole guarantee needs maxHamming < 4 bands, got $maxHamming")
    val mask = (1L << 31) - 1L
    val toks = TextFns.tokens(col(textCol))
    val sig = df.filter(toks.isNotNull)
      .select(col(idCol),
        graft.functions.SketchFns.simhashBits(toks, 62).as("s1"),
        graft.functions.SketchFns.simhashBitsAlt(toks, 62).as("s2"))
    // band j of the concatenated 124-bit signature: two 31-bit slices from
    // each long (bits 62/63 of each long are always clear and excluded)
    def bandOf(s1: Column, s2: Column, j: Int): Column = j match {
      case 0 => s1.bitwiseAND(lit(mask))
      case 1 => shiftright(s1, 31).bitwiseAND(lit(mask))
      case 2 => s2.bitwiseAND(lit(mask))
      case _ => shiftright(s2, 31).bitwiseAND(lit(mask))
    }
    val bandStructs = (0 until 4).map { j =>
      struct(lit(j).as("band_idx"),
        bandOf(col("s1"), col("s2"), j).as("band_key"))
    }
    val banded = sig.select(col(idCol), col("s1"), col("s2"),
        explode(array(bandStructs: _*)).as("b"))
      .select(col(idCol), col("s1"), col("s2"),
        col("b.band_idx").as("band_idx"), col("b.band_key").as("band_key"))
    val a = banded.select(col(idCol).as("a_id"), col("s1").as("a_s1"),
      col("s2").as("a_s2"), col("band_idx"), col("band_key"))
    val b = banded.select(col(idCol).as("b_id"), col("s1").as("b_s1"),
      col("s2").as("b_s2"), col("band_idx"), col("band_key"))
    val firstAgreeingBand = (0 until 4).foldRight(lit(4)) { (j, tail) =>
      when(bandOf(col("a_s1"), col("a_s2"), j) ===
           bandOf(col("b_s1"), col("b_s2"), j), lit(j))
        .otherwise(tail)
    }
    a.hint("merge").join(b, Seq("band_idx", "band_key"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("hamming",
        expr("CAST(bit_count(a_s1 ^ b_s1) + bit_count(a_s2 ^ b_s2) AS BIGINT)"))
      .filter(col("hamming") <= maxHamming)
      .filter(col("band_idx") === firstAgreeingBand)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** Incremental dedup — the operational 100 TB shape: a NEW batch is
    * checked against the fingerprint index of the already-ingested corpus
    * instead of re-deduping everything. Tags each new row `is_novel`; the
    * caller appends novel rows and their fingerprints to the index.
    *
    * Output: `fp`, then `newDf`'s columns, then `is_novel` — exactly one row
    * per new row, whatever the index holds: the batch's DISTINCT
    * fingerprints go through [[novelAgainstIndex]]'s anti join (which never
    * multiplies rows, so an fp the index holds twice still counts once) and
    * the novel ones are left-joined back.
    *
    * Scale: the index side is a single-column fingerprint table, read once
    * and never deduplicated or aggregated — the one distinct runs over the
    * batch's fingerprints; the index is broadcast while it fits
    * `spark.sql.autoBroadcastJoinThreshold`, else shuffled once for the
    * anti join. Corpus text never moves. A gate that keeps only the novel
    * rows needs no flag: [[novelAgainstIndex]] is the anti join alone.
    */
  def tagAgainstIndex(newDf: DataFrame, indexFps: DataFrame, textCol: String): DataFrame = {
    val probed = newDf.withColumn("fp", md5(col(textCol)))
    val novel = unindexed(probed.select(col("fp")).distinct(), col("fp"), indexFps)
      .withColumn("__novel", lit(true))
    probed.join(novel, Seq("fp"), "left")
      // a NULL fp (NULL text) is in no index, but joins back to nothing
      .withColumn("is_novel", col("__novel").isNotNull || col("fp").isNull)
      .drop("__novel")
  }

  /** The rows of `newDf` whose text fingerprint is not in `indexFps` — the
    * rows [[tagAgainstIndex]] flags `is_novel`, with `newDf`'s columns
    * only — as one anti join, which needs no distinct on either side.
    */
  def novelAgainstIndex(newDf: DataFrame, indexFps: DataFrame, textCol: String): DataFrame =
    unindexed(newDf, md5(col(textCol)), indexFps)

  /** `df`'s rows whose `fp` is not in the index: the one fingerprint probe. */
  private def unindexed(df: DataFrame, fp: Column, indexFps: DataFrame): DataFrame =
    df.join(indexFps.select(col("fp").as("__index_fp")), fp === col("__index_fp"), "left_anti")

  /** Incremental NEAR-dup gate: tag a new batch against an existing corpus's
    * MinHash band index — the daily-crawl shape where yesterday's corpus is
    * already sketched and only the new batch pays signature cost. A doc is a
    * near-dup suspect iff ANY of its LSH bands collides with an index band
    * (the one-sided version of [[minhashLshPairs]]'s candidate semantics).
    *
    * Returns (idCol, is_near_dup) for every new doc that HAS a signature
    * (>= k tokens); shorter docs have no sketch — callers left-join and
    * treat absent as novel. Scale shape: see [[tagAgainstBandIndex]]. In
    * production the index side is a persisted sketch table — recomputing
    * it here stands in for that read.
    */
  def tagNearDupAgainstIndex(newDf: DataFrame, indexDf: DataFrame, idCol: String,
                             textCol: String, k: Int, bands: Int = 2): DataFrame =
    tagAgainstBandIndex(newDf, bandIndex(indexDf, idCol, textCol, k, bands),
      idCol, textCol, k, bands)

  /** The corpus's MinHash band index as a standalone frame —
    * (band_idx, band_key), DISTINCT. PERSIST THIS (e.g.
    * `Warehouse.write("band_index", bandIndex(...))`): the daily
    * incremental gate then reads KBs of sketch instead of re-sketching
    * yesterday's corpus, which is the entire point of the incremental
    * shape. Append-merge on re-index is a distinct-union of band rows.
    */
  def bandIndex(df: DataFrame, idCol: String, textCol: String,
                k: Int, bands: Int = 2): DataFrame =
    bandedSignatures(df, idCol, textCol, k, bands)
      .select(col("band_idx"), col("band_key")).distinct()

  /** Append-merge re-index: the persisted [[bandIndex]] after ingesting a
    * new batch — distinct union of the existing band rows with the batch's.
    * Only the BATCH pays sketch cost; the existing index contributes its
    * (band_idx, band_key) rows as-is, so the daily re-index is
    * O(batch + index), never O(corpus). Write the result back via
    * `Warehouse.write("band_index", …)` to complete the cycle.
    */
  def mergeBandIndex(index: DataFrame, newDf: DataFrame, idCol: String,
                     textCol: String, k: Int, bands: Int = 2): DataFrame =
    index.select(col("band_idx"), col("band_key"))
      .unionByName(bandIndex(newDf, idCol, textCol, k, bands))
      .distinct()

  /** [[tagNearDupAgainstIndex]] against a pre-built (typically persisted)
    * [[bandIndex]] frame — the index side pays no sketch cost at all.
    *
    * Exactly one row per signed new doc, whatever the index holds: the
    * signed ids left-joined to the distinct ids of [[bandIndexHits]]. Scale
    * shape: as [[bandIndexHits]], plus two batch-side distincts over ids;
    * the batch is sketched once per branch. A gate that keeps only the
    * novel docs needs no flag: it anti-joins [[bandIndexHits]] on `idCol`.
    */
  def tagAgainstBandIndex(newDf: DataFrame, index: DataFrame, idCol: String,
                          textCol: String, k: Int, bands: Int = 2): DataFrame = {
    val banded = bandedSignatures(newDf, idCol, textCol, k, bands)
    banded.select(col(idCol)).distinct()
      .join(hitIds(banded, index, idCol).distinct().withColumn("is_near_dup", lit(true)),
        Seq(idCol), "left")
      .na.fill(false, Seq("is_near_dup"))
  }

  /** The ids of `newDf`'s docs that have at least one band key in `index` —
    * the docs [[tagAgainstBandIndex]] flags `is_near_dup`, one row per
    * hitting band, so an id can repeat. A semi or anti join on `idCol`
    * consumes it in one pass. Scale shape: the batch's (band_idx, band_key)
    * rows semi-join the index, which never multiplies rows, so the index is
    * never deduplicated; it is broadcast while it fits
    * `spark.sql.autoBroadcastJoinThreshold`, else shuffled once; corpus
    * text never moves.
    */
  def bandIndexHits(newDf: DataFrame, index: DataFrame, idCol: String,
                    textCol: String, k: Int, bands: Int = 2): DataFrame =
    hitIds(bandedSignatures(newDf, idCol, textCol, k, bands), index, idCol)

  private def hitIds(banded: DataFrame, index: DataFrame, idCol: String): DataFrame =
    banded.join(index.select(col("band_idx"), col("band_key")),
        Seq("band_idx", "band_key"), "left_semi")
      .select(col(idCol))

  /** Cross-source duplication matrix: for every pair of sources, how many
    * DISTINCT normalized-content fingerprints they share — the diagnostic a
    * mixing plan consults before weighting sources (a crawl snapshot that
    * substantially contains a curated source would otherwise be
    * double-counted by per-source token budgets).
    *
    * Scale shape: one distinct on (fp, source) — the exchange carries a
    * 16-byte hash plus a low-cardinality label, never text — then a
    * fingerprint-keyed self-join whose fan-out per fp is bounded by the
    * SOURCE COUNT (a content shared by all s sources yields s·(s−1)/2 pair
    * rows, independent of how many documents carry it), and a pair-keyed
    * count whose result is at most s² rows.
    */
  def sourceOverlap(df: DataFrame, textCol: String, srcCol: String): DataFrame = {
    val fps = df.select(TextFns.fingerprint(col(textCol)).as("fp"),
      col(srcCol).as("__src")).distinct()
    val a = fps.select(col("fp"), col("__src").as("src_a"))
    val b = fps.select(col("fp"), col("__src").as("src_b"))
    // SHUFFLE_HASH hint (the ngramJaccardPairs discipline): a broadcast
    // of the "small" side re-runs the scan→fingerprint→distinct subtree per
    // join input; with both sides shuffling on fp the canonicalized
    // exchanges are equal and ReusedExchange computes the fingerprint set
    // once. At fact scale both sides shuffle anyway.
    a.hint("shuffle_hash").join(b, Seq("fp")).filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).cast(LongType).as("n_shared"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup where
    * k-means cells bound the pair search instead of LSH buckets — cluster
    * the embeddings, score cosine only WITHIN a cell, and for every pair at
    * or above `threshold` drop the member NEARER its centroid (the paper's
    * keep-lowest-centroid-similarity rule: of a duplicate group the
    * outlying phrasing survives, preserving diversity). Ties on distance
    * drop the higher id, so survivorship is total-ordered and engine-exact.
    *
    * PRECONDITION — normalized embeddings: the drop key is squared L2
    * distance to the centroid, which ranks identically to (descending)
    * centroid cosine only when all embeddings share a norm (for unit
    * vectors, ‖x−c‖² = ‖c‖² + 1 − 2·cos·‖c‖ is monotone in cos per cell).
    * On unnormalized inputs survivorship deviates from the paper's
    * cosine rule — e.g. a vector collinear with its centroid but twice as
    * long has cosine 1.0 yet a large L2 distance. Embedding pipelines
    * L2-normalize before SemDeDup (the paper's own setup); feed this
    * operator normalized vectors.
    *
    * Returns the surviving (idCol, cluster, dist) rows — `dist` the exact
    * unit² distance to the winning centroid from the fixed-point Lloyd fit,
    * which is also the drop-rule key, so the decision is auditable per row.
    *
    * Engine-exact arithmetic end to end: assignments come from the
    * fixed-point [[KMeans.assignments]]; pair cosine is the exact decimal
    * quantized dot over correctly-rounded norms, thresholded after a
    * round-to-6 (the q_dedup_embedding discipline), so a DuckDB oracle
    * replays every drop decision bit-for-bit.
    *
    * Scale shape: one id-keyed join (assignment ⋈ quantized vectors), one
    * cluster-keyed self-join bounded by cell population, one distinct on
    * drop ids, one left-anti. This is WHY SemDeDup exists at 100 TB: k
    * grows with the corpus (the paper runs 50k clusters on LAION), holding
    * cell size — and thus pair fan-out — constant, where all-pairs cosine
    * is quadratic and LSH banding cannot rank within a collision group.
    * The k×dim centroid matrix stays a plan literal; the corpus never
    * shuffles to be assigned, only to pair within its cell.
    */
  def semDedup(df: DataFrame, idCol: String, embCol: String, k: Int,
               passes: Int, threshold: Double): DataFrame = {
    // assignmentsQ keeps the quantized vector: everything up to the pair
    // join is map-side off one scan — no id-keyed re-join of the corpus.
    // The assigned frame feeds THREE consumers (both pair-join sides, the
    // final anti-join), each of which otherwise re-runs the scan + quantize +
    // CellDistsQ assign as its own serial map stage (round 22 probe: three
    // ~230 ms 1-task stages per run at sf0.1 — the fixture scan is one row
    // group). Checkpoint it once — the method-matrix shared-base idiom; at
    // scale this is the SemDeDup assignment table every implementation
    // materializes (it is the index), and the eager form is required: AQE
    // submits the two sides' exchange jobs concurrently, so a lazy cache
    // races its own fill (the r21 containment A/B, commit 6eca6de).
    val m = graft.Materialize.eager(Similarity.withQNorm(
      KMeans.assignmentsQ(df, idCol, embCol, k, passes)))
    // `dist` rides the pair join as l_dist / r_dist: the drop-rule key
    val dropped = Similarity.cellPairs(m, idCol)
      .filter(col("l") < col("r") && col("cos") >= threshold)
      .select(when(col("l_dist") < col("r_dist") ||
          (col("l_dist") === col("r_dist") && col("l") > col("r")),
          col("l")).otherwise(col("r")).as("__drop_id"))
      .distinct()
    m.join(dropped, col(idCol) === col("__drop_id"), "left_anti")
      .select(col(idCol), col("cluster"), col("dist"))
  }

  /** Cross-document maximal repeated token-span detection — the
    * suffix-array exact-substring dedup of Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better") re-expressed Spark-first:
    * instead of one global suffix array (inherently sequential to build and
    * sort), every document emits its positional word k-gram hashes, shared
    * hashes pair up, and a pair's consecutive matches merge into maximal
    * spans with a per-(pair, diagonal) gaps-and-islands pass — the classic
    * anchor-chaining step of sequence alignment (same output as adjacent
    * suffix-array intervals for spans >= k tokens).
    *
    * Output: (a_id, b_id, start_a, start_b, len_tokens), a_id < b_id,
    * positions 1-based token offsets, one row per MAXIMAL shared span of at
    * least `minSpanTokens` tokens. A span of L >= k tokens appears as
    * L - k + 1 consecutive shared k-grams on one (a_id, b_id,
    * start_a - start_b) diagonal, so islands of consecutive positions on a
    * diagonal are exactly the maximal spans.
    *
    * Scale:
    *   - k-grams are hashed to 64-bit keys per row (ChunkHashes kernel,
    *     stride 1) — positional, codegen'd, no shingle string ever leaves
    *     the row; a 64-bit collision can only ADD a spurious shared k-gram
    *     (vanishing probability, and it must also land on an existing
    *     diagonal to perturb a span);
    *   - the occurrence-count prefilter (>= 2) drops the unique-hash tail —
    *     the overwhelming mass of a real corpus — before the self-join, and
    *     `maxOccurrences` is the fan-out lever: a hash occurring d times
    *     contributes <= d^2 join rows, so ubiquitous k-grams (boilerplate)
    *     are capped exactly like ngramJaccardPairs' document-frequency
    *     cutoff (the cutoff is mirrored by the oracle, so both engines
    *     split spans identically when it engages);
    *   - the island window partitions by (a_id, b_id, diagonal) — bounded
    *     by a single pair's overlap length, never a global or skewed key.
    */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String, k: Int,
                    minSpanTokens: Int, maxOccurrences: Long = 0L): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    require(minSpanTokens >= k, s"minSpanTokens must be >= k: $minSpanTokens < $k")
    // Positional full-length k-gram hashes: ChunkHashes(stride=1) emits one
    // hash per start position INCLUDING short tails; positions past n-k are
    // cut so every surviving hash covers exactly k tokens. posexplode gives
    // the 0-based start; +1 makes offsets 1-based (oracle list indexing).
    // Checkpointed ONCE: the
    // stage feeds the occurrence aggregate AND the prefilter join, and
    // unshared each consumer re-runs the serial scan→tokenize→ChunkHashes
    // kernel stage (FixedCostProbe measured it twice at 533 + 367 ms of a
    // 1.67 s warm). (long, long, long) rows cost ~24 bytes per token
    // position vs re-tokenizing the corpus once per consumer.
    // spread: the tokenize+ChunkHashes kernel is this family's heaviest map
    // stage; fused onto an unsplittable one-row-group scan it runs serial
    // (measured: 323 ms 1-task checkpoint stage; with the spread the same
    // stage runs wide). Scoped HERE, not inside positionalAnchors: the
    // incremental gates' probe/index sides sit behind broadcast-join plans
    // where an extra shuffle only adds jobs (A/B measured a wash-to-loss).
    // At scale the scan is wide and spread is the identity.
    val base = graft.Materialize.eager(
      positionalAnchors(graft.Tables.spread(df), idCol, textCol, k))
    val shared = base.groupBy(col("sh")).agg(count(lit(1)).as("__occ"))
      .filter(col("__occ") >= 2L &&
        (if (maxOccurrences > 0L) col("__occ") <= maxOccurrences else lit(true)))
      .select(col("sh"))
    // Both pair-join inputs shuffle on `sh` from the same prefiltered stage,
    // so the canonicalized exchange is computed once (ReusedExchange) and
    // hash join skips sort-merge's sorts of the exploded set — the
    // ngramJaccardPairs discipline.
    val kept = base.join(shared, "sh")
    val pairs = kept.select(col(idCol).as("a_id"), col("pos").as("pa"), col("sh"))
      .hint("shuffle_hash")
      .join(kept.select(col(idCol).as("b_id"), col("pos").as("pb"), col("sh")), "sh")
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), (col("pa") - col("pb")).as("diag"), col("pa"))
    mergeDiagIslands(pairs, k, minSpanTokens)
      .select(col("a_id"), col("b_id"), col("start_a"),
        (col("start_a") - col("diag")).as("start_b"), col("len_tokens"))
  }

  /** Gaps-and-islands merge of anchor matches into maximal spans: input
    * (a_id, b_id, diag, pa) — one row per shared k-gram anchor, UNIQUE per
    * (a_id, b_id, diag, pa) ((a_id, pa) determines the hash and
    * (b_id, diag) the partner position, so row_number islands are exact) —
    * output (a_id, b_id, diag, start_a, len_tokens) per maximal run of
    * consecutive pa on a diagonal. The window partitions by
    * (a_id, b_id, diag): bounded by one pair's overlap length, never a
    * global or skewed key.
    */
  private def mergeDiagIslands(pairs: DataFrame, k: Int,
                               minSpanTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("a_id"), col("b_id"), col("diag")).orderBy(col("pa"))
    pairs
      // ONE exchange for the whole island tail: hash on a_id satisfies —
      // by the subset rule — the clustered distribution of this window
      // (a_id, b_id, diag), of the island aggregate, and of the per-doc
      // rollup the incremental callers put on top (each otherwise its own
      // shuffle + AQE job). Partition count pinned so AQE's small-data
      // coalescing can't collapse the sort to one task (measured: the
      // unpinned form went serial and cost more than the exchanges it
      // saved). Partition size is bounded by one new doc's collisions
      // (occurrence-capped), never a corpus-scale key.
      .repartition(pairs.sparkSession.sparkContext.defaultParallelism,
        col("a_id"))
      .withColumn("__isl", col("pa") - row_number().over(w))
      .groupBy(col("a_id"), col("b_id"), col("diag"), col("__isl"))
      .agg(min(col("pa")).as("start_a"), count(lit(1)).as("__run"))
      .withColumn("len_tokens", col("__run") + lit((k - 1).toLong))
      .filter(col("len_tokens") >= minSpanTokens)
  }

  /** Positional anchor rows of a corpus — (sh, doc_id, pos), the
    * PERSISTABLE index side of the incremental substring gate (the
    * repeated-span analogue of [[bandIndex]]): write it once
    * (`Warehouse.write("anchor_index", …)`) and every later batch checks
    * for verbatim overlap against history without re-shingling the corpus.
    * One row per token position, three longs — the substring-granular
    * index is inherently position-dense (the suffix-array it replaces is
    * the same size class); `maxOccurrences` drops ubiquitous k-grams at
    * BUILD time, so probe fan-out is capped before any batch arrives.
    */
  def anchorIndex(df: DataFrame, idCol: String, textCol: String, k: Int,
                  maxOccurrences: Long = 0L): DataFrame = {
    val base = positionalAnchors(df, idCol, textCol, k)
    if (maxOccurrences <= 0L) base
    else {
      val ok = base.groupBy(col("sh")).agg(count(lit(1)).as("__occ"))
        .filter(col("__occ") <= maxOccurrences).select(col("sh"))
      base.join(ok, "sh")
    }
  }

  /** The positional k-gram hash stage shared by [[repeatedSpans]] and
    * [[anchorIndex]]: (idCol, pos, sh), 1-based full-length-k positions.
    */
  private def positionalAnchors(df: DataFrame, idCol: String, textCol: String,
                                k: Int): DataFrame =
    df.select(col(idCol), TextFns.tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= k)
      .select(col(idCol), size(col("__t")).as("__n"),
        posexplode(graft.functions.SketchFns.chunkHashes(col("__t"), k, 1)))
      .filter(col("pos") <= col("__n") - k)
      .select(col(idCol), (col("pos") + 1).cast(LongType).as("pos"),
        col("col").as("sh"))

  /** Incremental repeated-substring gate: maximal spans each NEW document
    * shares with the indexed HISTORY — the daily-batch shape of
    * [[repeatedSpans]], where yesterday's corpus is already a persisted
    * [[anchorIndex]] and only the batch pays anchor cost. Returns one row
    * per new doc with at least one qualifying span:
    * (idCol, n_spans, max_span_tokens); callers left-join and treat absent
    * as clean (same contract as [[tagAgainstBandIndex]]).
    *
    * Scale: the probe joins batch anchors against the index on `sh` —
    * fan-out bounded by the index's build-time occurrence cap; the island
    * window partitions per (new doc, index doc, diagonal).
    */
  def tagSpansAgainstIndex(newDf: DataFrame, index: DataFrame, idCol: String,
                           textCol: String, k: Int, minSpanTokens: Int,
                           maxBroadcastAnchors: Long = 0L): DataFrame = {
    // With the tripwire armed, the batch's anchors are CHECKPOINTED once
    // (ADVICE r20): the eager limit-count previously re-ran the whole
    // tokenize+anchor kernel over the batch, and the joined side then
    // recomputed it a third time — with micro-batches that was two extra
    // near-batch-size kernel passes per trigger. The checkpoint is
    // batch-bounded (three longs per token position), the count scans the
    // materialized blocks, and the join reads them again; the caller's
    // materialization scope frees them.
    val newA0 = positionalAnchors(newDf, idCol, textCol, k)
    val newA =
      if (maxBroadcastAnchors <= 0L) newA0
      else graft.Materialize.eager(newA0)
    // island columns: a_id = NEW doc (pa = its position), b_id = index doc
    val aSide = newA.select(col(idCol).as("a_id"), col("pos").as("pa"), col("sh"))
    val bSide = index.select(col(idCol).as("b_id"), col("pos").as("pb"), col("sh"))
    // Probe direction is THE per-batch scale term (r20, VERDICT r19 #6):
    // a plain join on `sh` exchanges BOTH sides, i.e. re-shuffles the
    // O(index) side on every batch — disk+network ∝ corpus per micro-batch.
    // When the batch's anchor set is bounded (`maxBroadcastAnchors` > 0 and
    // the limit-tripwire confirms — the sparseProbeVerify discipline), the
    // batch side broadcasts over the index SCAN instead: the index never
    // exchanges, and the only shuffle left is the collision rows' island
    // merge. The streaming gate turns this on (micro-batches are bounded
    // by the trigger); the inline/serve rows keep the shuffle default, as
    // their "batch" is half the corpus by construction.
    val joined =
      if (maxBroadcastAnchors > 0L &&
          newA.limit(math.min(maxBroadcastAnchors + 1, Int.MaxValue.toLong)
            .toInt).count() <= maxBroadcastAnchors)
        bSide.join(broadcast(aSide), "sh")
      else aSide.join(bSide, "sh")
    val pairs = joined
      .select(col("a_id"), col("b_id"), (col("pa") - col("pb")).as("diag"), col("pa"))
    mergeDiagIslands(pairs, k, minSpanTokens)
      .groupBy(col("a_id"))
      .agg(count(lit(1)).as("n_spans"), max(col("len_tokens")).as("max_span_tokens"))
      .select(col("a_id").as(idCol), col("n_spans"), col("max_span_tokens"))
  }

  /** Sparse positional anchors — the robust-winnowing selection of
    * [[positionalAnchors]]: (idCol, pos, sh) for ~1/w of the positions.
    * The 100 TB INDEX-SIZE path for substring dedup: the dense anchor
    * index carries three longs per token; this carries three longs per
    * SELECTED position, and the winnowing coverage guarantee (every
    * window of w consecutive k-gram positions holds a selection) makes
    * candidate generation from it EXACT for spans >= w + k - 1 tokens.
    */
  def sparseAnchors(df: DataFrame, idCol: String, textCol: String,
                    k: Int, w: Int): DataFrame =
    df.select(col(idCol), TextFns.tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= k)
      .select(col(idCol),
        explode(graft.functions.SketchFns.winnowAnchors(col("__t"), k, w)).as("__a"))
      .select(col(idCol), (col("__a.pos") + 1).cast(LongType).as("pos"),
        col("__a.h").as("sh"))

  /** [[repeatedSpans]] through a SPARSE candidate stage — exact by the
    * winnowing guarantee: two copies of the same >= w+k-1 token span
    * contain at least one full anchor window interior to the span, whose
    * rightmost-minimum selection depends only on the shared content, so
    * both copies select the same span-relative anchor and the pair
    * surfaces as a sparse-anchor collision. Dense anchors then
    * materialize ONLY for candidate documents and the island merge runs
    * only on candidate pairs — identical output to
    * `repeatedSpans(df, …, k, minSpanTokens)` (uncapped) whenever
    * `minSpanTokens >= w + k - 1`, at ~1/w the global index size.
    *
    * Scale: the sparse self-join is the only corpus-wide exchange; the
    * dense verify is bounded by candidate-document volume (true-duplicate
    * content plus sparse-hash coincidences). Production persists
    * `sparseAnchors` as the global index and runs the dense stage per
    * candidate batch.
    */
  def repeatedSpansSparse(df: DataFrame, idCol: String, textCol: String,
                          k: Int, minSpanTokens: Int, w: Int): DataFrame = {
    require(w >= 1, s"w must be >= 1: $w")
    require(minSpanTokens >= w + k - 1,
      s"winnowing guarantee needs minSpanTokens >= w + k - 1: $minSpanTokens < ${w + k - 1}")
    // spread at the corpus-wide call site only (see repeatedSpans note);
    // the incremental gates' batch probes stay unspread — their plans are
    // broadcast-bounded and an extra shuffle only adds job launches.
    val spreadDf = graft.Tables.spread(df)
    val sp = sparseAnchors(spreadDf, idCol, textCol, k, w)
    val candFrame = graft.Materialize.eager(sp.select(col(idCol).as("a_id"), col("sh"))
      .join(sp.select(col(idCol).as("b_id"), col("sh")), "sh")
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct())
    val candDocs = candFrame.select(col("a_id").as(idCol))
      .unionByName(candFrame.select(col("b_id").as(idCol))).distinct()
    // Dense verify off the SPREAD frame (round 22): joined against the raw
    // scan, the candidate-doc broadcast join streams the unsplittable
    // one-row-group fixture side and the dense tokenize+anchor kernel runs
    // as ONE task (FixedCostProbe: a 149 ms 1-task stage, the row's
    // largest). The spread exchange is already in the plan for the sparse
    // pass, spread is the identity on a scan that splits, and the
    // candidate filter rides the broadcast either way.
    val dense = positionalAnchors(
      spreadDf.join(broadcast(candDocs), Seq(idCol)), idCol, textCol, k)
    val pairs = dense.select(col(idCol).as("a_id"), col("pos").as("pa"), col("sh"))
      .hint("shuffle_hash")
      .join(dense.select(col(idCol).as("b_id"), col("pos").as("pb"), col("sh")), "sh")
      .join(candFrame.hint("broadcast"), Seq("a_id", "b_id"))
      .select(col("a_id"), col("b_id"), (col("pa") - col("pb")).as("diag"), col("pa"))
    mergeDiagIslands(pairs, k, minSpanTokens)
      .select(col("a_id"), col("b_id"), col("start_a"),
        (col("start_a") - col("diag")).as("start_b"), col("len_tokens"))
  }

  /** [[tagSpansAgainstIndex]] probed through a persisted SPARSE index —
    * the 100 TB shape the sparse family exists for: history's GLOBAL index
    * is [[sparseAnchors]] (three longs per ~w-th position, where the dense
    * [[anchorIndex]] is the same size class as a suffix array), the batch
    * probes it with its own sparse anchors to nominate candidate
    * (new, history) document pairs — EXACT for spans >= w + k − 1 by the
    * winnowing self-synchronization guarantee — and dense anchors
    * materialize only for candidate documents on BOTH sides (the history
    * text comes from the corpus table, `histDf`). Output contract matches
    * [[tagSpansAgainstIndex]] over an UNCAPPED dense index: one row per
    * new doc with a qualifying span, (idCol, n_spans, max_span_tokens).
    *
    * Scale: the probe join moves sparse rows only; the dense verify is
    * bounded by candidate-document volume (true shared-span content plus
    * sparse-hash coincidences); the island window partitions per
    * (new doc, history doc, diagonal).
    */
  def tagSpansAgainstIndexSparse(newDf: DataFrame, sparseIdx: DataFrame,
                                 histDf: DataFrame, idCol: String,
                                 textCol: String, k: Int, minSpanTokens: Int,
                                 w: Int, maxDriverCand: Int = 1 << 20): DataFrame = {
    require(w >= 1, s"w must be >= 1: $w")
    require(minSpanTokens >= w + k - 1,
      s"winnowing guarantee needs minSpanTokens >= w + k - 1: $minSpanTokens < ${w + k - 1}")
    val newSparse = sparseAnchors(newDf, idCol, textCol, k, w)
    val idType = newDf.schema(idCol).dataType
    sparseProbeVerify(
      sparseIdx.select(col(idCol).as("b_id"), col("sh")),
      newSparse.select(col(idCol).as("a_id"), col("sh")),
      fastA = ids => positionalAnchors(
        idSetFilter(newDf, idCol, idType, ids), idCol, textCol, k),
      fastB = ids => positionalAnchors(
        idSetFilter(histDf, idCol, idType, ids), idCol, textCol, k),
      distA = c => positionalAnchors(newDf.join(c, Seq(idCol)), idCol, textCol, k),
      distB = c => positionalAnchors(histDf.join(c, Seq(idCol)), idCol, textCol, k),
      idCol, k, minSpanTokens, maxDriverCand)
  }

  /** The shared two-tier candidate probe + dense verify of the sparse gate
    * family ([[tagSpansAgainstIndexSparse]] / [[tagSpansAgainstIndexSparseServe]]
    * / [[tagSpansSplitSparse]] — one copy of the tripwire/tier logic, so a
    * fix to either tier lands in all three). `idxSparse` (b_id, sh) is the
    * history-side winnowed index — the corpus-scale side, never exchanged;
    * `batchSparse` (a_id, sh) rides a BROADCAST over it (a daily batch's
    * winnowed anchors are MB-scale by construction: three longs per ~w-th
    * token). Raw collision rows — bounded by genuine shared-span content
    * plus sparse-hash coincidences, batch-scale never corpus-scale —
    * collect once under the limit(n+1) tripwire:
    *  - FAST tier: pairs dedupe ON THE DRIVER (no distinct exchange) and
    *    the candidate doc id sets reach the dense sides through
    *    `fastA`/`fastB` as InSet predicates fused into the scans (an AQE
    *    BroadcastQueryStage over even a LocalTableScan submits a
    *    materialization job in this Spark — the r17 fast path paid three).
    *    NO candidate-pair join: a non-candidate pair's shared spans are
    *    all < w + k − 1 <= minSpanTokens by the winnowing coverage
    *    guarantee, so the island length filter drops them unconditionally;
    *    the a-side (candidate-batch-bounded) broadcasts over the b-side
    *    verify scan.
    *  - DISTRIBUTED tier (tripwire trips): candidate pairs stay a
    *    checkpointed frame that bounds both dense sides via
    *    `distA`/`distB` (each receives the deduped one-column id frame);
    *    nothing batch-scale ever lands on the driver.
    */
  private def sparseProbeVerify(idxSparse: DataFrame, batchSparse: DataFrame,
      fastA: Array[Any] => DataFrame, fastB: Array[Any] => DataFrame,
      distA: DataFrame => DataFrame, distB: DataFrame => DataFrame,
      idCol: String, k: Int, minSpanTokens: Int, maxDriverCand: Int): DataFrame = {
    val probe = idxSparse.join(broadcast(batchSparse), "sh")
      .select(col("a_id"), col("b_id"))
    val rawHead = probe.limit(maxDriverCand + 1).collect()
    if (rawHead.length <= maxDriverCand) {
      val pairsLocal = rawHead.map(r => (r.get(0), r.get(1))).distinct
      sparseVerify(fastA(pairsLocal.map(_._1).distinct),
        fastB(pairsLocal.map(_._2).distinct), cand = None, idCol, k,
        minSpanTokens, broadcastA = true)
    } else {
      val cand = graft.Materialize.eager(probe.distinct()).hint("broadcast")
      sparseVerify(distA(cand.select(col("a_id").as(idCol)).distinct()),
        distB(cand.select(col("b_id").as(idCol)).distinct()),
        Some(cand), idCol, k, minSpanTokens)
    }
  }

  /** The one-corpus split shape of the DENSE incremental substring gate —
    * [[anchorIndex]] + [[tagSpansAgainstIndex]] when history and batch are
    * two halves of one frame (the inline fixture rows' shape; production
    * reads a persisted index instead). ONE positional-anchor kernel pass
    * over the whole corpus (checkpointed, spread off the unsplittable
    * scan) feeds the history side (occurrence-capped over the checkpointed
    * longs), the batch side, AND the probe — the naive composition paid
    * three serial scan+tokenize kernel stages (FixedCostProbe r20: three
    * 1-task 180–216 ms stages of q_dedup_incremental_substring's 781 ms
    * stage total). The probe broadcasts the batch anchors over the
    * history side, the gate's r20 direction (O(batch + hits) shuffle).
    * Output contract identical to [[tagSpansAgainstIndex]].
    */
  def tagSpansSplit(df: DataFrame, histPred: Column, idCol: String,
      textCol: String, k: Int, minSpanTokens: Int,
      maxOccurrences: Long = 0L): DataFrame = {
    val rows = graft.Materialize.eager(
      positionalAnchors(graft.Tables.spread(df), idCol, textCol, k)
        .withColumn("__hist", histPred))
    val idx0 = rows.filter(col("__hist"))
    val idx =
      if (maxOccurrences <= 0L) idx0
      else idx0.join(
        idx0.groupBy(col("sh")).agg(count(lit(1)).as("__occ"))
          .filter(col("__occ") <= maxOccurrences).select(col("sh")), "sh")
    val pairs = idx.select(col(idCol).as("b_id"), col("pos").as("pb"), col("sh"))
      .join(broadcast(rows.filter(!col("__hist"))
        .select(col(idCol).as("a_id"), col("pos").as("pa"), col("sh"))), "sh")
      .select(col("a_id"), col("b_id"), (col("pa") - col("pb")).as("diag"), col("pa"))
    mergeDiagIslands(pairs, k, minSpanTokens)
      .groupBy(col("a_id"))
      .agg(count(lit(1)).as("n_spans"), max(col("len_tokens")).as("max_span_tokens"))
      .select(col("a_id").as(idCol), col("n_spans"), col("max_span_tokens"))
  }

  /** [[tagSpansAgainstIndexSparse]] for the INLINE build+probe rows, over
    * ONE shared kernel pass: [[anchorRowsFrame]] runs once for the WHOLE
    * corpus (spread off the unsplittable scan, checkpointed) and every leg
    * — history's sparse index, the batch's probe anchors, and both
    * candidate dense-verify sides — is a filter of that checkpoint, so the
    * tokenize+hash kernel runs once where the compositional form ran it
    * four times (FixedCostProbe r19: four serial ~150 ms tokenize stages
    * were most of that row's stage time). `histPred` splits history from
    * batch by row and MUST reference only `idCol` — it is evaluated on
    * the anchor checkpoint, which carries (idCol, pos, sh, sparse) and
    * nothing else; a predicate over any other input column fails analysis
    * loudly (use the compositional form for those). Output identical to
    * `tagSpansAgainstIndexSparse(df.filter(!histPred),
    * sparseAnchors(df.filter(histPred), …), df.filter(histPred), …)` —
    * the sparse rows of the checkpoint are bit-identical to
    * [[sparseAnchors]] and its full set to the positional-anchor stage.
    *
    * Scale: same contract as the compositional form — the probe broadcasts
    * the batch's winnowed anchors over the history slice of the
    * checkpoint, candidates collect under the limit(n+1) tripwire, dense
    * verify is candidate-bounded (distributed tier kept for pathological
    * batches). At 100 TB the checkpoint is the per-batch artifact and
    * history's side reads the PERSISTED index instead — the `_serve` row's
    * shape; this form exists for the build+probe-in-one-query pricing.
    */
  def tagSpansSplitSparse(df: DataFrame, histPred: Column, idCol: String,
      textCol: String, k: Int, minSpanTokens: Int, w: Int,
      maxDriverCand: Int = 1 << 20): DataFrame = {
    require(w >= 1, s"w must be >= 1: $w")
    require(minSpanTokens >= w + k - 1,
      s"winnowing guarantee needs minSpanTokens >= w + k - 1: $minSpanTokens < ${w + k - 1}")
    val idType = df.schema(idCol).dataType
    val rows = graft.Materialize.eager(
      anchorRowsFrame(graft.Tables.spread(df), idCol, textCol, k, w)
        .withColumn("__hist", histPred))
    sparseProbeVerify(
      rows.filter(col("__hist") && col("sparse"))
        .select(col(idCol).as("b_id"), col("sh")),
      rows.filter(!col("__hist") && col("sparse"))
        .select(col(idCol).as("a_id"), col("sh")),
      fastA = ids => idSetFilter(rows.filter(!col("__hist")), idCol, idType, ids),
      fastB = ids => idSetFilter(rows.filter(col("__hist")), idCol, idType, ids),
      distA = c => rows.filter(!col("__hist")).join(c, Seq(idCol)),
      distB = c => rows.filter(col("__hist")).join(c, Seq(idCol)),
      idCol, k, minSpanTokens, maxDriverCand)
  }

  /** Id-set membership as an InSet predicate fused into the scan (with a
    * local-relation join fallback for very large sets, which are rare
    * under the callers' tripwires — the predicate keeps the expression
    * tree bounded).
    */
  private def idSetFilter(df: DataFrame, idCol: String,
                          idType: org.apache.spark.sql.types.DataType,
                          ids: Array[Any]): DataFrame =
    if (ids.length <= (1 << 16)) df.filter(col(idCol).isin(ids.toSeq: _*))
    else df.join(broadcast(df.sparkSession.createDataFrame(
      java.util.Arrays.asList(ids.map(org.apache.spark.sql.Row(_)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(idCol, idType))))), Seq(idCol))

  /** Dense positional anchors WITH the winnowing selection flagged —
    * (idCol, pos 1-based, sh, sparse), one kernel pass
    * ([[graft.plans.SketchKernels.anchorRows]]): the `sparse` rows are
    * bit-identical to [[sparseAnchors]] and the full set to the private
    * positional-anchor stage. This is BOTH sides of the serve-shaped
    * incremental substring gate in one artifact: persist it for history
    * (partitioned by `sparse`, so the probe's index read partition-prunes
    * to the winnowed ~1/w slice while the dense verify fetches candidate
    * docs' rows), and checkpoint it once per batch.
    */
  def anchorRowsFrame(df: DataFrame, idCol: String, textCol: String,
                      k: Int, w: Int): DataFrame =
    df.select(col(idCol), TextFns.tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= k)
      .select(col(idCol),
        explode(graft.functions.SketchFns.anchorRows(col("__t"), k, w)).as("__a"))
      .select(col(idCol), (col("__a.pos") + 1).cast(LongType).as("pos"),
        col("__a.h").as("sh"), col("__a.sparse").as("sparse"))

  /** [[tagSpansAgainstIndexSparse]] in the SERVE shape: history's side is
    * ONE pre-built artifact, `idx` = the persisted [[anchorRowsFrame]] —
    * its `sparse` partition is the global winnowed probe index
    * (partition-pruned on read) and its dense rows are the b-side verify,
    * fetched for CANDIDATE docs only, the way the ANN graph serve reads
    * persisted edges. No history tokenization happens at serve time; the
    * r17 shape re-ran the tokenize+hash kernel three times per serve
    * (probe anchors, then dense anchors over both candidate doc sets) —
    * this is the anatomy fix VERDICT r17 #1 asked for.
    *
    * The probe never moves batch-scale data to the driver: the batch's
    * winnowed anchors ride an executor-side broadcast over the index's
    * sparse partition, and only the COLLISION pairs — bounded by genuine
    * shared-span content plus sparse-hash coincidences — are collected.
    * Two verify tiers, chosen by the limit(n+1) tripwire on that collect
    * (the house LinkGraph/Components discipline):
    *   - FAST (collisions fit `maxDriverRows`): pairs dedupe ON THE DRIVER
    *     (no distinct exchange — at batch scale the dedup is cheaper in
    *     driver memory than as a shuffle stage), candidate pairs and both
    *     candidate doc sets become LocalTableScan broadcasts, the a-side
    *     dense anchors (candidate-batch-bounded) broadcast over the index
    *     scan, and the whole dense verify runs as ONE action: a fused
    *     scan-side join pipeline plus the island window's exchange — a
    *     serial chain of ~3 actions where the r17 shape paid 14 jobs.
    *   - DISTRIBUTED (tripwire trips): the batch's [[anchorRowsFrame]] is
    *     checkpointed ONCE (a single kernel pass feeding both the probe
    *     broadcast and the a-side verify), candidate pairs stay a
    *     checkpointed distributed frame joined shuffle-hash, and nothing
    *     batch-scale ever lands on the driver.
    *
    * Scale: the probe join broadcasts batch-side anchors over the index
    * scan — no index exchange at any scale; the dense verify is bounded by
    * candidate-document volume. The dense half of the artifact is the same
    * size class as the tokenized corpus (three longs + a flag per token);
    * storing it trades that space for never re-tokenizing history at serve
    * time — the suffix-array trade, made explicit. With the index
    * bucketed/partitioned by id range, the candidate fetch partition-prunes
    * too.
    *
    * Output contract identical to [[tagSpansAgainstIndexSparse]] (EXACT
    * vs the uncapped dense gate for spans >= w + k - 1).
    */
  def tagSpansAgainstIndexSparseServe(newDf: DataFrame, idx: DataFrame,
                                      idCol: String, textCol: String, k: Int,
                                      minSpanTokens: Int, w: Int,
                                      maxDriverRows: Int = 1 << 20): DataFrame = {
    require(w >= 1, s"w must be >= 1: $w")
    require(minSpanTokens >= w + k - 1,
      s"winnowing guarantee needs minSpanTokens >= w + k - 1: $minSpanTokens < ${w + k - 1}")
    val idType = newDf.schema(idCol).dataType
    // ONE kernel pass over the batch — lazily CACHED (r21), spread off the
    // unsplittable scan — feeds the probe broadcast AND the a-side verify
    // (the r17 shape tokenized the batch twice and history once per
    // serve). A lazy persist, not an eager localCheckpoint: the probe
    // broadcast scans the whole frame first anyway, so the cache fills
    // inside that job and the serve pays no dedicated materialization job
    // (FixedCostProbe: the eager form held an extra job + a 73 ms
    // checkpoint stage on this row's 7-8-job floor-priced anatomy).
    // (r21 A/B: dropping the spread saves one AQE job but serializes the
    // batch kernel onto the unsplittable scan — probe read 254 ms 1-task
    // vs 114 ms scan + 49 ms wide kernel; net wash locally, and at scale
    // spread is the identity. Kept.)
    val batchAnchors = graft.Materialize.lazily(
      anchorRowsFrame(graft.Tables.spread(newDf), idCol, textCol, k, w))
    sparseProbeVerify(
      idx.filter(col("sparse")).select(col(idCol).as("b_id"), col("sh")),
      batchAnchors.filter(col("sparse"))
        .select(col(idCol).as("a_id"), col("sh")),
      fastA = ids => idSetFilter(batchAnchors, idCol, idType, ids),
      fastB = ids => idSetFilter(idx, idCol, idType, ids),
      distA = c => batchAnchors.join(c, Seq(idCol)),
      distB = c => idx.join(c, Seq(idCol)),
      idCol, k, minSpanTokens, maxDriverRows)
  }

  /** The shared dense-verify tail of the sparse serve tiers: join of the
    * two candidate anchor sides on `sh` (the a-side broadcast when the
    * fast tier has bounded it, shuffle-hash otherwise), optionally
    * restricted to candidate pairs (a work bound only — non-candidate
    * pairs are sub-threshold by the winnowing guarantee), islands merged
    * and aggregated per new doc.
    */
  private def sparseVerify(denseA: DataFrame, denseB: DataFrame,
                           cand: Option[DataFrame], idCol: String, k: Int,
                           minSpanTokens: Int,
                           broadcastA: Boolean = false): DataFrame = {
    val aSide = denseA.select(col(idCol).as("a_id"), col("pos").as("pa"), col("sh"))
    val bSide = denseB.select(col(idCol).as("b_id"), col("pos").as("pb"), col("sh"))
    val joined =
      if (broadcastA) bSide.join(broadcast(aSide), "sh")
      else aSide.hint("shuffle_hash").join(bSide, "sh")
    val pairs = cand.fold(joined)(c => joined.join(c, Seq("a_id", "b_id")))
      .select(col("a_id"), col("b_id"), (col("pa") - col("pb")).as("diag"), col("pa"))
    mergeDiagIslands(pairs, k, minSpanTokens)
      .groupBy(col("a_id"))
      .agg(count(lit(1)).as("n_spans"), max(col("len_tokens")).as("max_span_tokens"))
      .select(col("a_id").as(idCol), col("n_spans"), col("max_span_tokens"))
  }

  /** Blocked fuzzy matching — the at-scale form of the edit-distance
    * entity-resolution primitive (q_text_fuzzy_match's scaladoc promise):
    * candidate pairs come from LENGTH-BAND blocks instead of a broadcast
    * cross join, and Levenshtein runs within a block only.
    *
    * EXACT, not approximate: `lev(a,b) <= maxDist` implies
    * `|len(a) − len(b)| <= maxDist`, and with band = len DIV (maxDist+1)
    * two lengths within maxDist can differ by at most one band — so the
    * probe side explodes each key to its band ± 1 and every qualifying
    * pair meets in exactly one block (at the left side's band). Output is
    * therefore identical to the cross-join form, row for row.
    *
    * Scale: the exchange moves (key, band) rows — never a cross join; each
    * block is one hash-join bucket and per-block work is |block|² in the
    * worst case. Skewed blocks (one dominant length) are the known limit:
    * the production levers are a positional q-gram prefilter inside the
    * block or a second blocking key, both of which trade exactness
    * guarantees for fan-out and belong to the caller's recall contract —
    * this operator keeps the exact semantics.
    *
    * Returns (a_key, b_key, dist), a_key < b_key, dist <= maxDist.
    */
  def fuzzyMatchBlocked(df: DataFrame, keyCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0: $maxDist")
    val width = maxDist + 1
    val keys = df.select(col(keyCol).as("a_key")).filter(col("a_key").isNotNull)
      .withColumn("__band", expr(s"CAST(length(a_key) AS BIGINT) DIV $width"))
    val probe = keys.select(col("a_key").as("b_key"),
        explode(array(col("__band") - 1, col("__band"), col("__band") + 1))
          .as("__band"))
    keys.join(probe, Seq("__band"))
      .filter(col("a_key") < col("b_key"))
      .withColumn("dist", levenshtein(col("a_key"), col("b_key")).cast(LongType))
      .filter(col("dist") <= maxDist)
      .select(col("a_key"), col("b_key"), col("dist"))
  }

  /** Re-apply the occurrence cap to a (possibly merged) [[anchorIndex]]
    * corpus-wide — the compaction pass the streaming substring gate's
    * scaladoc names: per-batch caps bound each batch's contribution, but a
    * hash that stays ubiquitous ACROSS batches accumulates up to cap rows
    * per batch; running this during periodic index maintenance (e.g.
    * alongside `Warehouse.compactSmallFiles`) restores the global bound.
    * Capping only ever REMOVES probe fan-out, so gate semantics cannot
    * change — a span that survives compaction was findable before it.
    * Extra columns (batch_id) pass through untouched.
    */
  def compactAnchorIndex(index: DataFrame, maxOccurrences: Long): DataFrame = {
    require(maxOccurrences > 0, s"maxOccurrences must be positive: $maxOccurrences")
    val ok = index.groupBy(col("sh")).agg(count(lit(1)).as("__occ"))
      .filter(col("__occ") <= maxOccurrences).select(col("sh"))
    index.join(ok, "sh")
  }

  /** WITHIN-document repeated span detection — the positional half of the
    * Gopher repetition signals (those report duplicate-line RATIOS; this
    * reports WHERE a document repeats itself): maximal pairs of identical
    * >= minSpanTokens token ranges inside one document, the
    * template/boilerplate-inside-a-document diagnostic (repeated headers,
    * footers, navigation blocks in a scraped page). Output
    * (idCol, start_a, start_b, len_tokens) with start_a < start_b, one row
    * per maximal repeated range pair; a range repeated r times yields
    * r·(r−1)/2 pairs (the oracle-exact convention — consumers dedupe on
    * start_a if they want occurrence groups).
    *
    * Same anchor/diagonal machinery as [[repeatedSpans]] with the pair
    * join confined WITHIN the document: anchors join on (id, sh), so the
    * shuffle keys on the document id and no cross-document pair ever
    * forms. `maxOccurrences` caps a hash's within-corpus occurrences
    * exactly as in [[repeatedSpans]].
    */
  def repeatedSpansWithinDoc(df: DataFrame, idCol: String, textCol: String,
                             k: Int, minSpanTokens: Int,
                             maxOccurrences: Long = 0L): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    require(minSpanTokens >= k, s"minSpanTokens must be >= k: $minSpanTokens < $k")
    val base = graft.Materialize.eager(
      positionalAnchors(graft.Tables.spread(df), idCol, textCol, k))
    val shared = base.groupBy(col("sh")).agg(count(lit(1)).as("__occ"))
      .filter(col("__occ") >= 2L &&
        (if (maxOccurrences > 0L) col("__occ") <= maxOccurrences else lit(true)))
      .select(col("sh"))
    val kept = base.join(shared, "sh")
    val pairs = kept.select(col(idCol), col("pos").as("pa"), col("sh"))
      .hint("shuffle_hash")
      .join(kept.select(col(idCol), col("pos").as("pb"), col("sh")),
        Seq(idCol, "sh"))
      .filter(col("pa") < col("pb"))
      .select(col(idCol).as("a_id"), col(idCol).as("b_id"),
        (col("pa") - col("pb")).as("diag"), col("pa"))
    mergeDiagIslands(pairs, k, minSpanTokens)
      .select(col("a_id").as(idCol), col("start_a"),
        (col("start_a") - col("diag")).as("start_b"), col("len_tokens"))
  }

  /** The keep-first coverage set of [[repeatedSpans]]: (idCol, pos) — the
    * union of 1-based token positions each LATER document shares with an
    * earlier one (overlapping spans from several earlier partners collapse
    * in the distinct). The shared spine of the scrub and the coverage
    * diagnostic. Checkpointed ONCE: downstream consumers (affected-doc prefilter, anti-join,
    * per-source accounting) would otherwise each re-evaluate the whole
    * span subtree — 14 parquet scans measured by PlanLintSpec on the
    * unshared scrub. The frame is bounded by the corpus's DUPLICATED
    * token volume, not the corpus.
    */
  def coveredPositions(df: DataFrame, idCol: String, textCol: String, k: Int,
                       minSpanTokens: Int,
                       maxOccurrences: Long = 0L): DataFrame = {
    val spans = repeatedSpans(df, idCol, textCol, k, minSpanTokens, maxOccurrences)
    graft.Materialize.eager(spans
      .select(col("b_id").as(idCol),
        explode(expr("sequence(start_b, start_b + len_tokens - 1)")).as("pos"))
      .distinct())
  }

  /** The rewrite half of [[repeatedSpans]] — Lee et al. 2022's keep-first
    * policy: every token range a LATER document (larger id) shares with an
    * earlier one is removed from the later document; the earliest document
    * in a duplication chain keeps its text untouched. Returns one row per
    * AFFECTED document: (idCol, n_tokens, n_kept, n_removed, clean_fp) with
    * clean_fp = md5 of the kept tokens rejoined by single spaces (the
    * whitespace-normalized rewrite; md5 keeps the verified row narrow). A
    * fully-covered document stays as an empty-text row (md5 of "") — the
    * boilerplate-removal precedent.
    *
    * Scale: the exploded covered-position set is proportional to the
    * DUPLICATED text volume (the operator's output), not the corpus; the
    * removal is one (id, pos)-keyed anti-join; reassembly aggregates only
    * affected documents' tokens.
    */
  def scrubRepeatedSpans(df: DataFrame, idCol: String, textCol: String, k: Int,
                         minSpanTokens: Int, maxOccurrences: Long = 0L): DataFrame = {
    val covered = coveredPositions(df, idCol, textCol, k, minSpanTokens,
      maxOccurrences)
    val affected = covered.select(col(idCol)).distinct()
    val docs = df.select(col(idCol), TextFns.tokens(col(textCol)).as("__t"))
      .join(affected, Seq(idCol))
      .select(col(idCol), size(col("__t")).cast(LongType).as("n_tokens"), col("__t"))
    val toks = docs
      .select(col(idCol), col("n_tokens"), posexplode(col("__t")))
      .select(col(idCol), col("n_tokens"),
        (col("pos") + 1).cast(LongType).as("pos"), col("col").as("tok"))
    val kept = toks.join(covered, Seq(idCol, "pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        expr("md5(array_join(transform(array_sort(collect_list(struct(pos, tok))), " +
             "x -> x.tok), ' '))").as("clean_fp"))
    docs.select(col(idCol), col("n_tokens"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_fp"), md5(lit(""))).as("clean_fp"))
  }
}
