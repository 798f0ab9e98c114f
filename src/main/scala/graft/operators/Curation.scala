package graft.operators

import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-curation operators a large-scale training-data pipeline needs
  * beyond dedup: boilerplate removal, train/test decontamination, sequence
  * packing, and deterministic stratified sampling. All are pure DataFrame
  * compositions whose only shuffles key on content hashes / strata — the
  * shapes that survive a 1000-executor 100 TB run.
  *
  * Reference lineage: the reference pipeline's nearest analogues are its
  * dedup windows and validity gates (sql/data/02_load_hosts.sql:7-16,
  * modules/data_loader.py:142-170); these operators generalize that intent to
  * corpus curation the way C4/Gopher-style pipelines do.
  */
object Curation {

  /** Non-overlapping `chunkTokens`-token chunks per document — the "line"
    * unit for boilerplate detection on corpora whose documents carry no
    * newline structure. (doc_id, pos, chunk).
    */
  def chunks(df: DataFrame, idCol: String, textCol: String, chunkTokens: Int): DataFrame =
    df.select(col(idCol), TextFns.tokens(col(textCol)).as("t"))
      .select(col(idCol),
        posexplode(TextFns.chunkExpr("t", chunkTokens, chunkTokens)))
      .select(col(idCol), (col("pos") + 1).cast(LongType).as("pos"), col("col").as("chunk"))

  /** C4-style boilerplate removal at chunk granularity: a chunk that appears
    * in more than `maxDocFreq` distinct documents is boilerplate; every
    * occurrence of it is dropped. Returns per-document accounting
    * (doc_id, n_chunks, n_kept) — the caller reassembles or filters.
    *
    * Scale: the chunk text is hashed to a 64-bit key (xxhash64) at the map
    * side, so both shuffles — the document-frequency count and the join
    * back — move (long, long) rows, never chunk strings; at 100 TB the
    * shuffle bytes ARE the bill. A 64-bit collision falsely merges two
    * chunks' document frequencies — vanishingly rare and conservative for
    * boilerplate detection (it can only over-flag, the same trade C4's own
    * hash-based dedup makes).
    */
  def boilerplateAccounting(df: DataFrame, idCol: String, textCol: String,
                            chunkTokens: Int, maxDocFreq: Long): DataFrame = {
    // Accounting never surfaces chunk text, so the chunks hash in place
    // via the ChunkHashes kernel — no chunk string is ever built and no
    // interpreted chunkExpr HOF runs inside the explode (the GenerateExec
    // single-thread stall pattern round 12 root-caused).
    val ch = df.select(col(idCol), TextFns.tokens(col(textCol)).as("t"))
      .select(col(idCol), explode(
        graft.functions.SketchFns.chunkHashes(col("t"), chunkTokens, chunkTokens)).as("__ck"))
    val dfreq = ch.groupBy(col("__ck"))
      .agg(countDistinct(col(idCol)).as("__df"))
    ch.join(dfreq, "__ck")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        count(when(col("__df") <= maxDocFreq, 1)).as("n_kept"))
  }

  /** The removal half of [[boilerplateAccounting]]: drop every occurrence of
    * a cross-document repeated chunk and REASSEMBLE each document's
    * surviving text in original chunk order — the C4 step that actually
    * rewrites the corpus (accounting only prices it). Documents whose every
    * chunk is boilerplate come back with empty text, not dropped — the
    * caller's empty-text gate decides their fate, keeping row accounting
    * intact.
    *
    * Scale: same two (long, long) hashed shuffles as the accounting
    * (chunk-DF count + join back), then one per-doc aggregate whose
    * `sort_array(struct(pos, chunk))` sorts only WITHIN a document's
    * surviving chunk list (array sort in the aggregate buffer — never a
    * relational ORDER BY of the chunk stream).
    *
    * Returns (idCol, clean_text, n_chunks, n_kept).
    */
  def removeBoilerplate(df: DataFrame, idCol: String, textCol: String,
                        chunkTokens: Int, maxDocFreq: Long): DataFrame = {
    // KEY-SPACE NOTE (round 14): __ck is now the ChunkHashStrings kernel's
    // shingleHash64 over the token slice — the SAME key space
    // boilerplateAccounting's ChunkHashes kernel emits, so the two halves
    // of the C4 operator flag identical chunk sets by construction (r13
    // they were different hash functions over coinciding equivalence
    // classes). The kernel replaces the interpreted chunkExpr HOF +
    // xxhash64-of-string pair that ran per row inside GenerateExec.
    //
    // The chunk stage feeds the document-frequency aggregate AND the
    // re-join probe — two differently-canonicalized exchanges, so the
    // tokenize evaluates twice unshared. The expensive half (chunk STRING
    // construction) no longer does: the dfreq side uses the HASH-ONLY
    // ChunkHashes kernel (it never needs text — the r14 decomposition
    // measured the two duplicated ~200 ms string-building stages as this
    // query's dominant cost), and only the probe side builds strings, via
    // the one-pass struct kernel. The operator stays a pure lazy plan.
    val toks = TextFns.tokens(col(textCol))
    val ch = df.select(col(idCol), posexplode(
        graft.functions.SketchFns.chunkHashStrings(toks, chunkTokens, chunkTokens)))
      .select(col(idCol), (col("pos") + 1).cast(LongType).as("pos"),
        col("col.ck").as("__ck"), col("col.chunk").as("chunk"))
    // hash-only scan: no chunk strings on the frequency side
    val dfreq = df.select(col(idCol), explode(
        graft.functions.SketchFns.chunkHashes(toks, chunkTokens, chunkTokens)).as("__ck"))
      .groupBy(col("__ck"))
      .agg(countDistinct(col(idCol)).as("__df"))
    ch.join(dfreq, "__ck")
      .groupBy(col(idCol))
      .agg(
        concat_ws(" ", expr(
          s"transform(sort_array(collect_list(CASE WHEN __df <= $maxDocFreq " +
          "THEN struct(pos, chunk) END)), s -> s.chunk)")).as("clean_text"),
        count(lit(1)).as("n_chunks"),
        count(when(col("__df") <= maxDocFreq, 1)).as("n_kept"))
  }

  /** Train/test decontamination: flags training documents that share at least
    * one word `k`-gram with any test document — the standard contamination
    * check run before an evaluation split is trusted. Returns
    * (train_id, n_shared_shingles, n_test_docs_hit).
    *
    * Scale: shingles on both sides are hashed to 64-bit keys at the map side
    * (the join and aggregate move (long, long) rows, never shingle strings),
    * and the held-out side is BROADCAST when its input is small enough —
    * which it always is in practice (an eval set is MBs against a TB-scale
    * train side), turning the whole check into a map-side join with zero
    * shuffle of the training corpus. The gate reads the test input's
    * planner size estimate against a fixed 32 MB bound (32 MB of input text
    * ≈ low hundreds of MB of hashed shingle rows); a genuinely large
    * held-out side falls back to the shuffled equi-join, whose fan-out is
    * bounded by real content overlap.
    */
  def decontaminate(train: DataFrame, test: DataFrame, idCol: String,
                    textCol: String, k: Int): DataFrame = {
    val trainSh = Dedup.shingleHashes(train, idCol, textCol, k)
      .select(col(idCol).as("train_id"), col("__sk"))
    val testShRaw = Dedup.shingleHashes(test, idCol, textCol, k)
      .select(col(idCol).as("test_id"), col("__sk"))
    val maxBytes = 32L << 20
    val testSh =
      if (test.queryExecution.optimizedPlan.stats.sizeInBytes <= maxBytes)
        broadcast(testShRaw)
      else testShRaw
    trainSh.join(testSh, "__sk")
      .groupBy(col("train_id"))
      .agg(count(lit(1)).as("n_shared_shingles"),
        countDistinct(col("test_id")).as("n_test_docs_hit"))
  }

  /** [[decontaminate]] for the scale where even the HASHED held-out shingle
    * set no longer broadcasts raw: a Bloom filter over the held-out shingle
    * hashes is broadcast instead (1% fpp ≈ 9.6 bits/key — ~1.2 GB for a
    * 10^9-shingle eval suite vs 8 GB of raw longs), the train side is
    * prefiltered map-side against the sketch, and the exact hashed equi-join
    * then runs on only the surviving fraction. Bloom filters have no false
    * negatives, so no contamination is missed; the exact join removes the
    * false positives — the RESULT IS IDENTICAL to [[decontaminate]] and is
    * gated by the same oracle. The membership probe is a scala UDF over one
    * long: no public codegen expression exposes sketch membership, and the
    * probe's cost is noise against the shuffle bytes it saves (only
    * ~overlap + fpp of the train shingles reach the join).
    */
  def decontaminateBloom(train: DataFrame, test: DataFrame, idCol: String,
                         textCol: String, k: Int, fpp: Double = 0.01): DataFrame = {
    val spark = train.sparkSession
    val trainSh = Dedup.shingleHashes(train, idCol, textCol, k)
      .select(col(idCol).as("train_id"), col("__sk"))
    // The hashed eval side is consumed THREE times (sizing count, sketch
    // build, exact join) — checkpoint it once so the test corpus is
    // shingled in one pass, not three (r10 verdict #7: the family paid
    // redundant scans). Bounded by assumption: the held-out side is the
    // small one (MBs of eval against TBs of train).
    //
    // Sketch sizing needs an EXACT row count BEFORE the sketch can be
    // allocated (an under-sized Bloom filter silently degenerates the
    // map-side prefilter toward fpp≈1 at exactly the 100 TB scale this
    // path exists for, and planner stats are pre-checkpoint estimates that
    // can be off by the compressed-parquet/row-width ratio). The count
    // RIDES the checkpoint materialization as an observed metric — the
    // CorpusPipeline accounting trick — so sizing costs zero extra jobs.
    val obsN = org.apache.spark.sql.Observation()
    val testSh = graft.Materialize.eager(Dedup.shingleHashes(test, idCol, textCol, k)
      .select(col(idCol).as("test_id"), col("__sk"))
      .observe(obsN, count(lit(1)).as("n")))
    val nTest = obsN.get("n").asInstanceOf[Long]
    val bloom = testSh.stat.bloomFilter("__sk", math.max(nTest, 64L), fpp)
    val bloomBc = spark.sparkContext.broadcast(bloom)
    // no broadcast hint on purpose: this path exists precisely because the
    // held-out side may exceed broadcast budget — both post-filter sides
    // are small (overlap + fpp of train; the eval suite), so the shuffled
    // equi-join moves (long, long) rows only, and AQE may still choose to
    // broadcast at demo scale
    trainSh.filter(graft.functions.SketchFns.bloomMightContain(col("__sk"), bloomBc))
      .join(testSh, "__sk")
      .groupBy(col("train_id"))
      .agg(count(lit(1)).as("n_shared_shingles"),
        countDistinct(col("test_id")).as("n_test_docs_hit"))
  }

  /** The eval-side mirror of [[decontaminate]]: per TEST document, the
    * fraction of its distinct shingles that appear anywhere in the training
    * corpus — the "is my eval clean" report an evaluation owner reads
    * before trusting a benchmark number (decontaminate's per-train-doc view
    * answers "what do I delete"; this answers "what is already burned").
    * Fraction is exact-integer ppm. Scale shape identical to decontaminate:
    * hashed shingle keys, train side reduced to DISTINCT hashes (the join
    * fans out at most once per test shingle), shuffles move longs.
    */
  def contaminationReport(train: DataFrame, test: DataFrame, idCol: String,
                          textCol: String, k: Int): DataFrame = {
    val trainSh = Dedup.shingleHashes(train, idCol, textCol, k)
      .select(col("__sk")).distinct()
      .withColumn("__hit", lit(1))
    val testSh = Dedup.shingleHashes(test, idCol, textCol, k)
      .select(col(idCol).as("test_id"), col("__sk"))
    testSh.join(trainSh, Seq("__sk"), "left")
      .groupBy(col("test_id"))
      .agg(count(lit(1)).as("n_shingles"),
        count(col("__hit")).as("n_leaked"))
      .withColumn("leak_ppm", expr("n_leaked * 1000000 DIV n_shingles"))
  }

  /** Greedy sequence packing: documents are laid out in deterministic order
    * within each shard and cut into fixed `ctxLen`-token context windows;
    * each document is assigned to the bin its first token lands in (documents
    * are not split across bins by this operator — the accounting variant
    * below counts boundary crossers).
    *
    * Returns one row per document: (shard, id, ntok, start_off, bin).
    *
    * Scale: the running offset is a per-shard window cumsum — shards
    * (source, date, hash-range …) bound the window partition, so nothing
    * global ever sorts. This is the map-side layout pass of a packed-sequence
    * writer; the bin id doubles as the write-partition key.
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    shardCol: String, ctxLen: Int): DataFrame = {
    val w = Window.partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(shardCol), col(idCol),
        size(TextFns.tokens(col(textCol))).cast(LongType).as("ntok"))
      .withColumn("start_off", sum(col("ntok")).over(w) - col("ntok"))
      .withColumn("bin", floor(col("start_off") / ctxLen).cast(LongType))
  }

  /** Per-row target keep rate (percent) for a stratum, from a literal map;
    * absent strata get 0.
    */
  def stratumRate(strataCol: String, rates: Map[String, Int]): Column =
    rates.toSeq.sortBy(_._1).foldLeft(lit(0)) { case (acc, (s, r)) =>
      when(col(strataCol) === s, lit(r)).otherwise(acc)
    }

  /** Deterministic stratified sampling: keep a row iff
    * pmod(id·1000003 + 17, 100) < rate(stratum). Pure integer arithmetic —
    * reproducible across engines and runs, no RNG state, no shuffle at all
    * (the filter is map-side; only the accounting aggregate shuffles).
    * `rates` maps stratum → percentage (0–100); absent strata keep nothing —
    * pmod (not %) keeps that true for negative ids, whose plain remainder
    * would be negative and therefore below every rate. Contract:
    * |id| < 9.2e12 (the multiplication must not wrap).
    */
  def stratifiedKeep(idCol: String, strataCol: String, rates: Map[String, Int]): Column =
    pmod(col(idCol) * 1000003L + 17L, lit(100L)) <
      stratumRate(strataCol, rates).cast(LongType)

  /** Per-group salient terms, ranked by an integer-exact TF-IDF-style score:
    * score = (tf · 10^6) DIV df. For a fixed corpus this is a monotone
    * transform of tf·idf (idf = ln(N/df) is monotone-decreasing in df), so
    * the RANKING matches classic TF-IDF while every value stays exact 64-bit
    * integer arithmetic — reproducible on any engine, no float log.
    *
    * Output: (group, rank, term, tf, df, score), rank 1..k per group.
    *
    * `minDf` (default 2) drops terms in fewer than that many documents
    * BEFORE the tf⋈df join. This is a semantic knob, not a pure
    * optimization — a term 5× in one single doc scores 5e6 and could crack
    * a thin group's top-k — but hapax "terms" in a web corpus are
    * overwhelmingly typos/serial numbers/markup shards with no salience
    * signal, and by Heaps' law they are roughly HALF the vocabulary: at
    * 100 TB, filtering them halves the join's probe side and its shuffle.
    * Pass `minDf = 1` for the unfiltered classic ranking.
    *
    * Scale: term frequency is one shuffle on (group, term); document
    * frequency needs no distinct() exchange — distinctness is established
    * inside each row (array_distinct before the explode), so the aggregate
    * is a plain count on term. The tf⋈df join keys on term (sort-merge; the
    * web-scale vocabulary is NOT broadcast-safe). The per-group top-k is a
    * bounded window the RewriteRowNumberTopK rule collapses to the
    * heap-based TopKPerGroupExec.
    */
  def salientTerms(df: DataFrame, idCol: String, textCol: String,
                   groupCol: String, k: Int, minDf: Long = 2L): DataFrame = {
    require(minDf >= 1, s"minDf must be >= 1, got $minDf")
    val toks = df.select(col(groupCol), col(idCol),
      TextFns.tokens(col(textCol)).as("t"))
    val tf = toks.select(col(groupCol), explode(col("t")).as("term"))
      .groupBy(col(groupCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = toks.select(explode(array_distinct(col("t"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term")
      .withColumn("score", expr("CAST((tf * 1000000) DIV df AS BIGINT)"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col(groupCol), col("rank"), col("term"), col("tf"), col("df"),
        col("score"))
  }

  /** Top-k most frequent ADJACENT token pairs — one training step of a BPE
    * tokenizer, distributed (the trainer repeatedly merges the most frequent
    * adjacent pair; this surfaces the merge candidates over the whole
    * corpus). Completes the tokenizer story: q_text_vocab builds the
    * vocabulary, BpeExpressions applies a merge table, and this mines the
    * merges. Ties at the cut rank break on the pair string, so the answer
    * is a total order both engines reproduce.
    *
    * Scale: pair explosion is map-side (narrow), the count is one hash-agg
    * shuffle with map-side partials keyed on the pair, and the top-k is a
    * TakeOrdered (per-partition heap + driver merge of k) — never a full
    * sort of the pair vocabulary.
    */
  def bpeMergeCandidates(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.withColumn("__t", TextFns.tokens(col(textCol)))
      .filter(size(col("__t")) >= 2)
      .select(explode(expr(
        "transform(slice(__t, 1, size(__t) - 1), (x, i) -> concat(x, ' ', element_at(__t, i + 2)))"))
        .as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(k)

  /** Collocation (phrase) mining: adjacent token pairs ranked by integer
    * LIFT — `10⁶·c(ab)·N DIV (c(a)·c(b))`, the log-free PMI proxy (lift ≈
    * 10⁶ under independence, far above it for true phrases) — the
    * word2vec-style phrase-detection step of a tokenization pipeline,
    * engine-exact: counts, DECIMAL(38) products (c(ab)·N can pass 2⁶³ on a
    * real corpus) and one integral division.
    *
    * `minCount` kills the noise tail BEFORE the join (a pair seen twice
    * with two rare words has huge lift and no value — the standard phrase
    * filter); top-k is a TakeOrdered heap with ties on the pair string.
    *
    * Scale: ONE corpus-wide shuffle. Each document's last token emits a
    * sentinel terminal pair (the standard LM end-marker), so every token
    * starts exactly one pair and the TRUE unigram counts derive from the
    * pair table — c(w) = Σ cab over pairs starting with w — exactly the
    * prefix-count derivation [[bigramLmScore]] uses. The unigram side
    * previously re-exploded and re-shuffled the whole corpus a second
    * time; now everything past the single pair hash-agg (map-side
    * partials) is vocab-sized, the unigram joins run on the
    * minCount-filtered pair vocabulary, and the 1-row total is broadcast.
    * The sentinel is U+0001. Whitespace tokenization does NOT strip
    * control characters, so a hostile document could emit a bare U+0001
    * token that masquerades as the terminal marker; sentinel-valued
    * tokens are therefore FILTERED OUT before pair construction — they
    * carry no phrase signal, and excluding them keeps the in-band marker
    * sound. On sentinel-free text (any real corpus) results are
    * bit-identical to the explicit two-shuffle form and gated by the same
    * oracle; on text containing U+0001 tokens the two forms differ
    * exactly by those tokens' pairs, which this form deliberately drops.
    */
  def collocations(df: DataFrame, textCol: String, k: Int, minCount: Long,
                   maxBroadcastVocab: Long = 0L): DataFrame = {
    require(k > 0 && minCount >= 1, s"bad k=$k / minCount=$minCount")
    val sent = "\u0001"
    // EAGER: the pair-count table feeds FOUR consumers (unigram
    // derivation, two unigram joins, the 1-row total, the filtered pair
    // branch); exchange reuse alone re-ran the pair-vocabulary hash
    // aggregate per consumer — pair strings barely compress in map-side
    // partials, so that re-aggregation was the measured dominant cost.
    // One localCheckpoint (pair-vocab-sized, ≪ corpus); don't construct
    // speculatively.
    // spread before tokenize+explode: the pair construction fused onto
    // the unsplittable scan ran serial (measured 424 ms 1-task stage)
    val allPairs = graft.Materialize.eager(graft.Tables.spread(df).withColumn("__t", TextFns.tokens(col(textCol)))
        // drop hostile sentinel-valued tokens (scaladoc): an in-corpus
        // U+0001 would otherwise collide with the terminal marker
        .withColumn("__t", expr(s"filter(__t, x -> x != '$sent')"))
        .filter(size(col("__t")) >= 1)
        .select(explode(expr(
          "concat(transform(slice(__t, 1, size(__t) - 1), " +
            "(x, i) -> concat(x, ' ', element_at(__t, i + 2))), " +
            s"array(concat(element_at(__t, -1), ' $sent')))")).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("cab")))
    val uni = allPairs
      .groupBy(substring_index(col("pair"), " ", 1).as("w"))
      .agg(sum(col("cab")).as("cw"))
    // n_total directly off the pair counts (sum cab == sum cw — every
    // pair is counted once under its w1), so `uni` feeds only the two
    // lookups; and those BROADCAST (r20) — the unigram side is
    // vocabulary-bounded while the pair side is the big one, so the
    // shuffle-join form re-exchanged pair-vocab rows twice per run
    // (11 jobs; now ~6). "Vocabulary-bounded" is not a priori
    // DRIVER-bounded at web scale (ADVICE r20), so the broadcast is
    // tripwired like the anchor probes: with maxBroadcastVocab > 0 a
    // bounded limit-count over the CHECKPOINTED pair table (cheap — the
    // blocks are already materialized) confirms the vocab fits, else both
    // lookups fall back to the shuffle join. 0 keeps the unconditional
    // broadcast (the local default; the bench-visible plan is unchanged).
    val total = allPairs.agg(sum(col("cab")).cast(LongType).as("n_total"))
    val bcast = maxBroadcastVocab <= 0L ||
      allPairs.limit(math.min(maxBroadcastVocab + 1, Int.MaxValue.toLong).toInt)
        .count() <= maxBroadcastVocab
    def lk(u: DataFrame): DataFrame =
      if (bcast) broadcast(u) else u.hint("shuffle_hash")
    allPairs
      .filter(substring_index(col("pair"), " ", -1) =!= sent)
      .filter(col("cab") >= minCount)
      .withColumn("w1", substring_index(col("pair"), " ", 1))
      .withColumn("w2", substring_index(col("pair"), " ", -1))
      .join(lk(uni.select(col("w").as("w1"), col("cw").as("c1"))), "w1")
      .join(lk(uni.select(col("w").as("w2"), col("cw").as("c2"))), "w2")
      .crossJoin(broadcast(total))
      .withColumn("lift_ppm", expr(
        """CAST((CAST(1000000 AS DECIMAL(38,0)) * cab * n_total)
           DIV (CAST(c1 AS DECIMAL(38,0)) * c2) AS BIGINT)"""))
      .select(col("pair"), col("cab").cast(LongType).as("cab"), col("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("pair")).limit(k)
  }

  /** Mean inverse-frequency rarity score per document — the perplexity
    * PROXY of a unigram LM without transcendental math: rarity of a token
    * is `corpusTokens DIV count(token)` (average tokens per occurrence —
    * high for rare vocabulary), and a document's score is the integer mean
    * over its tokens. The standard OOV/garbage detector of a pretraining
    * pipeline (OCR noise, codes, lorem-garbage score high; ordinary prose
    * low), engine-exact end-to-end: every step is counting and integer
    * division, so the DuckDB oracle reproduces it bit-for-bit where a
    * log-space perplexity would drift in the last ulps.
    *
    * Scale: one token-keyed shuffle (the tf join — the same shape as TF-IDF)
    * plus the per-doc aggregate; the 1-row token total is broadcast; text
    * never moves after the map-side explode.
    *
    * Returns (idCol, n_tokens, rarity) for every doc with >= 1 token.
    */
  def rarityScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // tokens are hashed to 64-bit keys map-side, so the count shuffle and
    // the tf join move (long, long) rows, never token strings — the same
    // discipline as the shingle family (collision odds ~vocab²/2⁻⁶⁴, and a
    // collision at fixture scale would fail the oracle gate loudly)
    val toks = df
      .select(col(idCol), explode(TextFns.tokens(col(textCol))).as("tok"))
      .select(col(idCol), xxhash64(col("tok")).as("__h"))
    val counts = toks.groupBy(col("__h")).agg(count(lit(1)).as("c"))
    val total = counts.agg(sum(col("c")).as("n_total"))
    toks.join(counts, "__h")
      .crossJoin(broadcast(total))
      .withColumn("inv", expr("n_total DIV c"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast(org.apache.spark.sql.types.LongType).as("n_tokens"),
        expr("CAST(SUM(inv) DIV COUNT(1) AS BIGINT)").as("rarity"))
  }

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1, the standard
    * pre-training repetition filters; also RefinedWeb/Dolma): documents
    * dominated by repeated content — boilerplate loops, scraped templates,
    * listing spam — are the single biggest quality leak exact dedup cannot
    * catch (the repetition is WITHIN the document). Per document, over its
    * token stream:
    *   - duplicate-line fraction (ppm): lines are fixed `lineLen`-token
    *     windows (the fixture corpus carries no newlines; real corpora
    *     would split on them first — the signals are line-source agnostic);
    *   - duplicate-line CHARACTER fraction (ppm): chars inside repeat
    *     occurrences — a few long duplicated lines matter more than many
    *     short ones;
    *   - top-bigram fraction (ppm): occurrences of the most frequent token
    *     bigram over all bigrams — the "of the of the" template signal.
    * `keep` = both duplicate-line and top-bigram ppm within thresholds.
    *
    * All integer arithmetic (engine-exact), pure map-side HOF projection —
    * no shuffle, no UDF. The per-doc bigram mode is O(distinct·n) HOF work;
    * documents are KB-bounded so this is fine at any corpus scale (work is
    * per-row, embarrassingly parallel); a custom codegen kernel is the
    * upgrade path if profiles ever show it hot.
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String,
                        lineLen: Int = 10,
                        maxDupLinePpm: Long = 150000L,
                        maxTopBigramPpm: Long = 180000L): DataFrame = {
    require(lineLen > 0, s"lineLen must be positive: $lineLen")
    df.withColumn("__t", TextFns.tokens(col(textCol)))
      .withColumn("__lines", TextFns.chunkExpr("__t", lineLen, lineLen))
      .withColumn("__dl", array_distinct(col("__lines")))
      .withColumn("n_tokens", size(col("__t")).cast(LongType))
      .withColumn("n_lines", size(col("__lines")).cast(LongType))
      .withColumn("dup_line_ppm", expr(
        "(n_lines - size(__dl)) * 1000000L DIV greatest(n_lines, 1L)"))
      .withColumn("dup_line_char_ppm", expr(
        """aggregate(__dl, 0L, (a, l) ->
             a + CAST(size(filter(__lines, x -> x = l)) - 1 AS BIGINT) * length(l))
           * 1000000L DIV
           greatest(aggregate(__lines, 0L, (a, l) -> a + CAST(length(l) AS BIGINT)), 1L)"""))
      .withColumn("__bg", expr(
        """CASE WHEN size(__t) < 2 THEN CAST(array() AS ARRAY<STRING>)
                ELSE transform(sequence(1, size(__t) - 1),
                       i -> concat(element_at(__t, i), ' ', element_at(__t, i + 1)))
           END"""))
      .withColumn("top_bigram_ppm", expr(
        """CASE WHEN size(__bg) = 0 THEN 0L
                ELSE array_max(transform(array_distinct(__bg),
                       b -> CAST(size(filter(__bg, x -> x = b)) AS BIGINT)))
                     * 1000000L DIV size(__bg)
           END"""))
      .withColumn("keep",
        col("dup_line_ppm") <= maxDupLinePpm &&
        col("top_bigram_ppm") <= maxTopBigramPpm)
      .drop("__t", "__lines", "__dl", "__bg")
  }

  /** The full Gopher document-quality ruleset (Rae et al. 2021 §A1.1) —
    * the structural filters beyond [[repetitionSignals]]: token-count
    * bounds, mean-word-length bounds, symbol-to-word ratio ('#' tokens and
    * '...' runs), bullet-start and ellipsis-end line fractions, the
    * alphabetic-word floor, and the required-stopword presence count (a
    * document with fewer than `minStopHits` of the eight English function
    * words is flagged as non-prose). All thresholds are exact-integer
    * (milli / ppm) so both engines agree bit-for-bit.
    *
    * Lines are the document's real newline lines (`split(text, '\n')`) —
    * the unit the bullet/ellipsis rules are defined over; token features
    * use the whitespace tokenizer, which sees newlines as separators.
    *
    * Pure map-side HOF projection: no shuffle, no UDF — at 100 TB this is
    * an embarrassingly parallel scan gated per row, the same posture as
    * [[repetitionSignals]].
    */
  def gopherQualitySignals(df: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String] = Seq("the", "be", "to", "of", "and", "that",
        "have", "with"),
      minTokens: Long = 50L, maxTokens: Long = 100000L,
      minMeanWordLenMilli: Long = 3000L, maxMeanWordLenMilli: Long = 10000L,
      maxSymbolPpm: Long = 100000L, maxBulletPpm: Long = 500000L,
      maxEllipsisPpm: Long = 300000L, minAlphaPpm: Long = 800000L,
      minStopHits: Long = 2L): DataFrame = {
    require(stopwords.nonEmpty && stopwords.forall(_.matches("[a-z]+")),
      "stopwords must be non-empty lowercase words")
    val stopArr = stopwords.map(s => s"'$s'").mkString("array(", ", ", ")")
    df.withColumn("__t", TextFns.tokens(col(textCol)))
      .withColumn("__lines", split(col(textCol), "\n"))
      .withColumn("n_tokens", size(col("__t")).cast(LongType))
      .withColumn("n_lines", size(col("__lines")).cast(LongType))
      .withColumn("mean_word_len_milli", expr(
        """aggregate(__t, 0L, (a, x) -> a + CAST(length(x) AS BIGINT)) * 1000L
           DIV greatest(n_tokens, 1L)"""))
      .withColumn("symbol_ppm", expr(
        """CAST(size(filter(__t, x -> x = '#' OR contains(x, '...'))) AS BIGINT)
           * 1000000L DIV greatest(n_tokens, 1L)"""))
      .withColumn("alpha_ppm", expr(
        """CAST(size(filter(__t, x -> x rlike '[a-z]')) AS BIGINT)
           * 1000000L DIV greatest(n_tokens, 1L)"""))
      .withColumn("bullet_ppm", expr(
        """CAST(size(filter(__lines, l -> startswith(ltrim(l), '- ')
                                       OR startswith(ltrim(l), '* '))) AS BIGINT)
           * 1000000L DIV greatest(n_lines, 1L)"""))
      .withColumn("ellipsis_ppm", expr(
        """CAST(size(filter(__lines, l -> endswith(rtrim(l), '...'))) AS BIGINT)
           * 1000000L DIV greatest(n_lines, 1L)"""))
      .withColumn("stop_hits", expr(
        s"CAST(size(filter($stopArr, w -> array_contains(__t, w))) AS BIGINT)"))
      .withColumn("keep",
        col("n_tokens").between(minTokens, maxTokens) &&
        col("mean_word_len_milli").between(minMeanWordLenMilli, maxMeanWordLenMilli) &&
        col("symbol_ppm") <= maxSymbolPpm &&
        col("bullet_ppm") <= maxBulletPpm &&
        col("ellipsis_ppm") <= maxEllipsisPpm &&
        col("alpha_ppm") >= minAlphaPpm &&
        col("stop_hits") >= minStopHits)
      .drop("__t", "__lines")
  }

  /** The C4 structural ruleset (Raffel et al. 2020 §2.2) — the OTHER
    * canonical web-corpus filter, complementary to
    * [[gopherQualitySignals]]: line-wise, a line is retained only when it
    * ends in a terminal punctuation mark AND carries at least
    * `minLineWords` words; document-wise, the page must contain at least
    * `minSentences` sentences and must not contain the "lorem ipsum"
    * placeholder or a curly brace (the code/JS tell). The per-line word
    * minimum uses the whitespace tokenizer; sentences are counted as
    * terminal-punctuation occurrences over the whole text.
    *
    * Output: n_lines, n_kept_lines (lines surviving the line rules),
    * kept_line_ppm, n_sentences, has_lorem, has_brace, keep. All counters
    * exact-integer BIGINT so oracles hash-match; keep mirrors C4: every
    * document rule passes and at least one line survives.
    *
    * Pure map-side HOF projection — no shuffle, no UDF; the same
    * embarrassingly-parallel 100 TB posture as [[gopherQualitySignals]].
    */
  def c4QualitySignals(df: DataFrame, idCol: String, textCol: String,
      minLineWords: Long = 5L, minSentences: Long = 3L): DataFrame =
    df.withColumn("__lines", split(col(textCol), "\n"))
      .withColumn("n_lines", size(col("__lines")).cast(LongType))
      .withColumn("n_kept_lines", expr(
        s"""CAST(size(filter(__lines, l ->
              (endswith(rtrim(l), '.') OR endswith(rtrim(l), '!')
               OR endswith(rtrim(l), '?') OR endswith(rtrim(l), '"'))
              AND size(split(trim(l), '\\\\s+')) >= ${minLineWords}L
              AND trim(l) != '')) AS BIGINT)"""))
      .withColumn("kept_line_ppm",
        expr("n_kept_lines * 1000000L DIV greatest(n_lines, 1L)"))
      .withColumn("n_sentences",
        (length(col(textCol)) -
          length(translate(col(textCol), ".!?", ""))).cast(LongType))
      .withColumn("has_lorem", lower(col(textCol)).contains("lorem ipsum"))
      .withColumn("has_brace", col(textCol).contains("{"))
      .withColumn("keep",
        col("n_sentences") >= minSentences && !col("has_lorem") &&
        !col("has_brace") && col("n_kept_lines") >= 1L)
      .drop("__lines")

  /** Linear quality classifier over engine-exact integer features — the
    * fasttext-style quality gate of a pretraining pipeline, reduced to
    * arithmetic both engines reproduce bit-for-bit: ratios are ppm-scaled
    * integer divisions (DIV), the score is an integer dot product, and the
    * keep decision is a threshold on that score. Features:
    *   - length credit: min(ntok, 200) — longer is better, capped;
    *   - lexical diversity: distinct-token ppm of ntok;
    *   - stopword pressure: stopword ppm of ntok (penalized).
    * score = 1000·min(ntok,200) + (500·distinct_ppm) DIV 1000
    *       − (300·stop_ppm) DIV 1000.
    * Returns (input columns…, score: long, keep: boolean). Purely map-side:
    * no shuffle, no UDF — one projection the optimizer can push around.
    */
  def qualityScore(df: DataFrame, textCol: String, stopwords: Seq[String],
                   keepThreshold: Long): DataFrame = {
    require(stopwords.nonEmpty && stopwords.forall(_.matches("[a-z]+")),
      "stopwords must be non-empty lowercase words")
    val stopList = stopwords.map(s => s"'$s'").mkString("(", ", ", ")")
    df.withColumn("__t", TextFns.tokens(col(textCol)))
      .withColumn("__n", greatest(size(col("__t")).cast(LongType), lit(1L)))
      .withColumn("__nd",
        size(graft.functions.SketchFns.shinglesDistinct(col("__t"), 1))
          .cast(LongType))
      .withColumn("__ns",
        expr(s"CAST(size(filter(__t, x -> x IN $stopList)) AS BIGINT)"))
      .withColumn("score", expr(
        """1000 * least(__n, 200)
           + (500 * ((__nd * 1000000) DIV __n)) DIV 1000
           - (300 * ((__ns * 1000000) DIV __n)) DIV 1000"""))
      .withColumn("keep", col("score") >= keepThreshold)
      .drop("__t", "__n", "__nd", "__ns")
  }

  /** Per-group percentile gate (FineWeb2-style per-language calibration,
    * Penedo et al. 2024): keep the top `keepPermille`/1000 of each group's
    * documents by (score DESC, id ASC). A single GLOBAL threshold
    * over-filters whatever group the scorer is mis-calibrated for (classic:
    * a quality classifier trained mostly on English guts the low-resource
    * languages); cutting at each group's own percentile keeps the selection
    * pressure equal across groups.
    *
    * Exact-count semantics: group quota = (n_group * keepPermille) DIV 1000
    * (floor; a group too small for one slot keeps nothing), ties at the
    * boundary score broken by lowest id — a total order both engines
    * reproduce.
    *
    * Scale (the selectByTokenBudget discipline, per group): the slim
    * (id, group, score) frame is checkpointed once and feeds BOTH the
    * histogram and the final gate; the per-group cumulative scan runs over
    * the (group, score) HISTOGRAM (one row per distinct score per group —
    * bounded state, never the corpus); the boundary frame is one row per
    * group and is broadcast, so the gate itself is map-side. Only the tie
    * group (docs AT the boundary score) sees a window, partitioned by
    * group and bounded by the tie-group size. No corpus-wide or per-group
    * corpus window anywhere.
    *
    * @param scored frame carrying (idCol, groupCol, scoreCol); scoreCol
    *               must be integral (exact comparisons — the engine-exact
    *               fixed-point score discipline). A NULL score is
    *               unscoreable: returned selected=false, excluded from the
    *               histogram (no quota consumed, boundary unshifted).
    * @return (groupCol, idCol, scoreCol as "score", selected) — every input
    *         row, gate verdict attached
    */
  def percentileGate(scored: DataFrame, idCol: String, groupCol: String,
                     scoreCol: String, keepPermille: Int): DataFrame = {
    require(keepPermille >= 0 && keepPermille <= 1000,
      s"keepPermille must be in [0, 1000]: $keepPermille")
    val ck = graft.Materialize.eager(scored.select(col(idCol), col(groupCol),
      col(scoreCol).cast(LongType).as("score")))
    // NULL-score rows are unscoreable: they never enter the histogram (so
    // they neither consume quota nor shift the boundary) and come back
    // selected=false — without this branch a null score fails BOTH the
    // off-boundary and tie filters (three-valued logic) and the row
    // silently vanishes, breaking the every-input-row contract.
    val boundary = histogramBoundary(ck.filter(col("score").isNotNull),
      groupCol, "score", keepPermille)
    // NULL-SAFE boundary join: the histogram groups a null key like any
    // other, but a plain equi-join would never match it back — null-group
    // rows would silently take the missing-row default instead of their
    // own computed boundary (caught by CurationSpec's null-group contract).
    val gated = ck.join(
        broadcast(boundary.withColumnRenamed(groupCol, "__g")),
        col(groupCol) <=> col("__g"), "left")
      .drop("__g")
    // off-boundary rows are decided map-side against the broadcast
    // threshold; only the tie group pays a (bounded) ranking window
    val off = gated.filter(col("score").isNull || col("__t").isNull ||
        col("score") =!= col("__t"))
      .withColumn("selected", col("score").isNotNull &&
        col("__t").isNotNull && col("score") > col("__t"))
    val wTie = Window.partitionBy(col(groupCol)).orderBy(col(idCol))
    val tie = gated.filter(col("score") === col("__t"))
      .withColumn("selected", row_number().over(wTie) <= col("__take"))
    off.unionByName(tie)
      .select(col(groupCol), col(idCol), col("score"), col("selected"))
  }

  /** The per-group boundary frame behind [[percentileGate]]: one row per
    * group with the boundary score (`__t`) and how many of its tie group
    * survive (`__take`). quota = 0 yields no row — the caller's inner/left
    * join semantics drop such groups entirely.
    */
  private def histogramBoundary(ck: DataFrame, groupCol: String,
                                scoreCol: String, keepPermille: Int): DataFrame = {
    // histogram: one row per (group, distinct score) — the bounded frame
    // every cumulative decision runs over
    val hist = ck.groupBy(col(groupCol), col(scoreCol))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col(groupCol)).orderBy(col(scoreCol).desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wTot = Window.partitionBy(col(groupCol))
    // boundary row per group: the unique histogram row where the running
    // count first reaches the quota; `take` is how many of ITS tie group
    // survive. Integer floor division — counts are non-negative so DIV ==
    // floor, matching the oracle's `//` exactly.
    hist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("__tot", sum(col("cnt")).over(wTot))
      .withColumn("quota", expr(s"(__tot * $keepPermille) DIV 1000"))
      .filter(col("cum") - col("cnt") < col("quota") &&
              col("quota") <= col("cum"))
      .select(col(groupCol), col(scoreCol).as("__t"),
        (col("quota") - (col("cum") - col("cnt"))).as("__take"))
  }

  /** Per-group boundary scores as a persistable frame — (groupCol,
    * score_threshold): the CALIBRATION step of the streaming percentile
    * gate (freeze thresholds on history once, gate arrivals forever).
    * A group whose quota floors to 0 has no row; a missing row means
    * "keep nothing from this group", matching [[percentileGate]].
    */
  def percentileThresholds(scored: DataFrame, groupCol: String,
                           scoreCol: String, keepPermille: Int): DataFrame = {
    require(keepPermille >= 0 && keepPermille <= 1000,
      s"keepPermille must be in [0, 1000]: $keepPermille")
    histogramBoundary(
        scored.select(col(groupCol), col(scoreCol).cast(LongType).as("score")),
        groupCol, "score", keepPermille)
      .select(col(groupCol), col("__t").as("score_threshold"))
  }

  /** Per-group TOKEN-budget selection — the per-language allocation step a
    * multilingual mix actually runs (FineWeb2-style: each language gets a
    * token budget, spent best-quality-first), completing the selection
    * symmetry: [[percentileGate]] cuts per-group DOC quotas,
    * [[selectByTokenBudget]] one GLOBAL token budget, this one per-group
    * token budgets. Greedy prefix semantics per group: docs in (score
    * DESC, id ASC) order are selected while the group's running token sum
    * stays within quota_g = (group_tokens · budgetPermille) DIV 1000 —
    * cumulative-sum-inclusive, so the first overflowing doc and everything
    * after it are rejected (the selectByTokenBudget contract, per group).
    *
    * Scale (the same histogram discipline as [[percentileGate]]): the slim
    * (id, group, score, ntok) frame is checkpointed once; the cumulative
    * decision runs over the (group, score) histogram with per-score token
    * sums; the one-row-per-group boundary frame broadcasts; only boundary
    * tie groups pay a (bounded) ordered cumsum window. A group with NO
    * boundary row fits entirely (quota >= its total) and is selected
    * map-side.
    *
    * @return (groupCol, idCol, score, ntok, selected) — every input row.
    *         A NULL score is unscoreable: returned selected=false and
    *         excluded from the histogram (no budget consumed).
    */
  def tokenBudgetPerGroup(scored: DataFrame, idCol: String, groupCol: String,
                          scoreCol: String, ntokCol: String,
                          budgetPermille: Int): DataFrame = {
    require(budgetPermille >= 0 && budgetPermille <= 1000,
      s"budgetPermille must be in [0, 1000]: $budgetPermille")
    val ck = graft.Materialize.eager(scored.select(col(idCol), col(groupCol),
      col(scoreCol).cast(LongType).as("score"),
      col(ntokCol).cast(LongType).as("ntok")))
    // NULL-score rows never enter the histogram (a null score would both
    // vanish from the output — it fails the off/tie filters under
    // three-valued logic — and corrupt the per-score token sums); they come
    // back selected=false below.
    val hist = ck.filter(col("score").isNotNull)
      .groupBy(col(groupCol), col("score"))
      .agg(sum(col("ntok")).as("stok"))
    val wCum = Window.partitionBy(col(groupCol)).orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wTot = Window.partitionBy(col(groupCol))
    // boundary: the HIGHEST score whose per-score token block does NOT
    // fully fit (monotone — all lower scores fail too). No row for a
    // group means the whole group fits.
    val boundary = hist
      .withColumn("cum", sum(col("stok")).over(wCum))
      .withColumn("__tot", sum(col("stok")).over(wTot))
      .withColumn("quota", expr(s"(__tot * $budgetPermille) DIV 1000"))
      .filter(col("cum") > col("quota") &&
              col("cum") - col("stok") <= col("quota"))
      .select(col(groupCol), col("score").as("__t"),
        (col("quota") - (col("cum") - col("stok"))).as("__budget"))
    // null-safe for the same reason as percentileGate: a null group's
    // boundary row must reach its rows, or they'd take the whole-group-
    // fits default and BYPASS the budget entirely
    val gated = ck.join(
        broadcast(boundary.withColumnRenamed(groupCol, "__g")),
        col(groupCol) <=> col("__g"), "left")
      .drop("__g")
    // a NULL score must not ride the __t-is-null "whole group fits" branch:
    // selected only when the score itself is present
    val off = gated.filter(col("score").isNull || col("__t").isNull ||
        col("score") =!= col("__t"))
      .withColumn("selected", col("score").isNotNull &&
        (col("__t").isNull || col("score") > col("__t")))
    val wTie = Window.partitionBy(col(groupCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    val tie = gated.filter(col("score") === col("__t"))
      .withColumn("selected", sum(col("ntok")).over(wTie) <= col("__budget"))
    off.unionByName(tie)
      .select(col(groupCol), col(idCol), col("score"), col("ntok"),
        col("selected"))
  }

  /** Diversity-preserving subsampling: keep `perBucket` documents from each
    * sign-LSH bucket of an embedding column — the cluster-balanced "cover
    * the semantic space, don't oversample the dense modes" selection a
    * training-data mix needs (uniform sampling keeps duplicatey dense
    * regions dense; this caps every region at the same budget).
    *
    * Within a bucket the kept rows are a deterministic pseudo-random order
    * (a Knuth multiplicative hash of the id — engine-portable integer
    * arithmetic, no engine RNG), so the sample is reproducible anywhere.
    *
    * Scale: bucketing is map-side (codegen'd quantized projections); the
    * per-bucket cap runs on the bounded-heap TopKPerGroup operator —
    * O(n log perBucket) with O(buckets·perBucket) state, no full sort, no
    * window spill. Returns (idCol, bucket, rank), rank 1..perBucket.
    */
  def diverseSample(df: DataFrame, idCol: String, embCol: String,
                    nBits: Int, perBucket: Int): DataFrame = {
    val scored = df
      .withColumn("bucket", Similarity.lshBucket(embCol, nBits))
      // id is reduced mod 2^31-1 BEFORE the Knuth multiply so the product
      // stays under Long.MaxValue for any id (a raw id above ~3.5e9 would
      // wrap Spark's multiply and diverge from the oracle's arithmetic).
      .withColumn("__ord", pmod(pmod(col(idCol), lit(2147483647L)) * lit(2654435761L),
        lit(2147483647L)))
      .select(col(idCol), col("bucket"), col("__ord"))
    graft.plans.TopKPerGroup.topK(scored, Seq("bucket"),
        Seq(("__ord", false), (idCol, false)), perBucket)
      .select(col("bucket"), col(idCol), col("rank"))
  }

  /** Per-source quota capping (the RefinedWeb/C4 "domain cap"): keep at most
    * `perSource` documents from each source, best-quality-first — the
    * anti-concentration step of a corpus mix (one over-crawled domain must
    * not dominate the training distribution). Ordering is (score DESC,
    * idCol ASC), so the cut is a total order both engines reproduce.
    *
    * Scale: scoring is the map-side [[qualityScore]] projection; the cap
    * runs on the bounded-heap TopKPerGroup operator — one hash exchange on
    * the source key, O(n log perSource) per partition, O(sources·perSource)
    * state, no window sort of the per-source groups (a hot domain with 10⁹
    * docs costs the heap, not a sort-and-spill).
    *
    * Returns (idCol, srcCol, score, rank), rank 1..perSource.
    */
  def sourceCap(df: DataFrame, idCol: String, textCol: String, srcCol: String,
                stopwords: Seq[String], perSource: Int): DataFrame = {
    require(perSource > 0, s"perSource must be positive: $perSource")
    val scored = qualityScore(df, textCol, stopwords, keepThreshold = Long.MinValue)
      .select(col(idCol), col(srcCol), col("score"))
    graft.plans.TopKPerGroup.topK(scored, Seq(srcCol),
        Seq(("score", true), (idCol, false)), perSource)
      .select(col(srcCol), col(idCol), col("score"), col("rank"))
  }

  /** Bigram-LM document score — the conditional-probability upgrade of
    * [[rarityScore]], still free of transcendental math: for every adjacent
    * token pair (w1, w2), `cond_ppm = (10⁶·c(w1 w2)) DIV c(w1 ·)` is the
    * integer parts-per-million estimate of P(w2|w1) under the corpus's own
    * bigram counts (c(w1 ·) counts bigrams starting with w1, the standard
    * conditional denominator), and a document's score is the integer mean of
    * its bigrams' cond_ppm. Fluent text built from common transitions scores
    * high; shuffled/garbage text scores low — the perplexity-filter decision,
    * engine-exact (counting + integer DIV only, so the DuckDB oracle matches
    * bit-for-bit where a log-space LM would drift in the last ulps).
    *
    * Scale: pair explosion is map-side and both count shuffles + both joins
    * key on 64-bit hashes of the pair/prefix (the exchanges move (long, long)
    * rows, never token strings — the shingle-family discipline; a collision
    * at fixture scale would fail the oracle gate loudly).
    *
    * Returns (idCol, n_bigrams, lm_ppm) for every doc with >= 2 tokens.
    */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String,
                    share: Boolean = false): DataFrame = {
    // PairHashes kernel (r21): one codegen pass emits both join keys per
    // position — the prior HOF transform ran INTERPRETED inside
    // GenerateExec, materialized every pair string, and paid two xxhash64
    // string passes on top. Same internal 64-bit key semantics (any
    // well-mixed hash of the pair / its prefix is interchangeable; the
    // oracle groups on the pair string).
    val pairs0 = graft.Tables.spread(df)
      .withColumn("__t", TextFns.tokens(col(textCol)))
      .filter(size(col("__t")) >= 2)
      .select(col(idCol), explode(
        graft.functions.SketchFns.pairHashes(col("__t"))).as("__p"))
      .select(col(idCol), col("__p.hp").as("__hp"), col("__p.hw").as("__hw"))
    // The hashed pair stream feeds TWO exchanges — the pair-count partial
    // and the final join's probe side — whose canonicalized forms differ
    // (one carries the partial agg), so the tokenize+explode map work
    // evaluates twice. With `share` the (id, __hp, __hw) stream — three
    // longs per bigram position, ~24 bytes where the text it came from is
    // hundreds — checkpoints once; without it the operator is a pure lazy
    // plan.
    val pairs = if (share) graft.Materialize.eager(pairs0) else pairs0
    // Prefix counts derive from the PAIR aggregate, not the raw pair
    // stream: c(w1) = Σ_{pairs starting w1} c(pair), so the second
    // aggregation runs over the distinct-pair vocabulary (≪ corpus) —
    // at 100 TB this deletes a corpus-wide shuffle on the prefix hash,
    // and locally the shared pairCounts subtree is computed once
    // (identical canonicalized exchange → ReusedExchange). first(__hw)
    // is well-defined: every row of an __hp group carries the same pair.
    val pairCounts = pairs.groupBy(col("__hp"))
      .agg(count(lit(1)).as("cp"), first(col("__hw")).as("__hw"))
    // The conditional denominator rides a vocab-sized WINDOW over the pair
    // table (partition by prefix hash), so the corpus joins ONCE, on __hp,
    // where the join's exchange is the pair-count exchange reused. Round
    // 11 joined a separate prefixCounts frame on __hw, which re-shuffled
    // every corpus pair row a second time.
    val wPre = Window.partitionBy(col("__hw"))
    val enriched = pairCounts
      .withColumn("cw", sum(col("cp")).over(wPre))
      .select(col("__hp"), col("cp"), col("cw"))
    pairs.drop("__hw").join(enriched, "__hp")
      .withColumn("ppm", expr("(1000000 * cp) DIV cw"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast(LongType).as("n_bigrams"),
        expr("CAST(SUM(ppm) DIV COUNT(1) AS BIGINT)").as("lm_ppm"))
  }

  /** DSIR-style importance scoring (Xie et al. 2023, arXiv:2302.03169):
    * score every RAW document by how much its hashed-unigram profile looks
    * like a TARGET sample — the data-selection step that tilts a 100 TB
    * crawl toward a quality/domain distribution without training a model.
    *
    * Mechanics, integer-exact so a DuckDB oracle replays every score:
    * tokens hash into `nBuckets` buckets (portable polyHash); bucket counts
    * over target and raw give each bucket an add-one-smoothed weight
    * `w(b) = (tc(b)+1)·1e6 DIV (rc(b)+1)` — a truncated-ppm proxy for the
    * paper's log-likelihood ratio that is monotone in p_target/p_raw per
    * bucket (the total-count normalizers are bucket-constant and cannot
    * reorder single-bucket comparisons, and the log is dropped in favor of
    * the raw ratio: Σ-of-ratios ranks dup-heavy targets slightly more
    * aggressively than Σ-of-logs, an accepted, documented deviation that
    * buys bit-exactness). A document's `score` is the sum of its tokens'
    * bucket weights; `mean_w = score DIV n_tokens` is the length-normalized
    * selection key.
    *
    * Scale shape: two (token → bucket) hash-aggs whose exchanges carry at
    * most `nBuckets` rows, ONE bounded driver collect (the ≤nBuckets weight
    * table — same contract as the k-means centroid literal), then scoring
    * is a pure map-side HOF over the token array with the weight table as a
    * plan literal: the corpus never shuffles to be scored. EAGER CONTRACT:
    * construction runs the two count jobs (the selectByTokenBudget
    * precedent) — don't build speculatively.
    *
    * Overflow: each weight ≤ (target tokens + 1)·1e6; with the intended
    * target ≪ raw and nBuckets ≥ 64 the per-doc sum sits orders of
    * magnitude under Long range (a 1e6-token target, ALL in one bucket,
    * with a 1e6-token doc still sums to 1e18 only in the degenerate
    * rc(b)=0 case, which cannot occur when target ⊆ raw).
    *
    * Returns (idCol, n_tokens, score, mean_w) for every raw row.
    */
  def importanceScores(raw: DataFrame, target: DataFrame, idCol: String,
                       textCol: String, nBuckets: Int = 1024): DataFrame =
    scoreWithWeights(raw, idCol, textCol,
      importanceWeights(raw, target, textCol, nBuckets))

  /** The DSIR training step alone: the add-one-smoothed per-bucket weight
    * table (see [[importanceScores]]). EAGER — runs one counting job: raw
    * and target union under a side tag, so the whole table comes back
    * from a single (bucket, side) agg; at 100 TB this halves the count
    * passes, and the exchange still carries at most 2·nBuckets rows.
    * Persist via [[weightsToDf]] and score later batches with
    * [[scoreWithWeights]] — training never reruns per batch.
    */
  def importanceWeights(raw: DataFrame, target: DataFrame, textCol: String,
                        nBuckets: Int = 1024): Array[Long] = {
    require(nBuckets > 0 && nBuckets <= 65536, s"nBuckets out of range: $nBuckets")
    def bucketed(df: DataFrame, side: Int): DataFrame =
      df.withColumn("__t", TextFns.tokens(col(textCol)))
        .select(graft.functions.SketchFns.polyHashEach(col("__t")).as("__h"))
        .select(explode(expr(s"transform(__h, h -> h % $nBuckets)")).as("b"),
          lit(side).as("side"))
    val counts = bucketed(raw, 0).unionByName(bucketed(target, 1))
      .groupBy(col("b"), col("side")).count()
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val rc = counts.collect { case ((b, 0), n) => b -> n }
    val tc = counts.collect { case ((b, 1), n) => b -> n }
    Array.tabulate(nBuckets) { b =>
      ((tc.getOrElse(b.toLong, 0L) + 1L) * 1000000L) / (rc.getOrElse(b.toLong, 0L) + 1L)
    }
  }

  /** Score documents against an ALREADY-TRAINED DSIR weight table — the
    * operational half of [[importanceScores]]: train the table once on a
    * reference crawl snapshot, persist it (`weightsToDf` ↔ `weightsFromDf`
    * roundtrip through any warehouse table), then score every incoming
    * batch map-side with zero counting jobs. Pure lazy plan builder — the
    * eager contract above belongs to training only.
    */
  def scoreWithWeights(df: DataFrame, idCol: String, textCol: String,
                       weights: Array[Long]): DataFrame = {
    val nBuckets = weights.length
    require(nBuckets > 0 && nBuckets <= 65536, s"bad weight table size: $nBuckets")
    df.withColumn("__t", TextFns.tokens(col(textCol)))
      .withColumn("__wl", array(weights.map(lit(_)): _*))
      .withColumn("__h", graft.functions.SketchFns.polyHashEach(col("__t")))
      .withColumn("score", expr(
        s"aggregate(transform(__h, h -> element_at(__wl, CAST(h % $nBuckets AS INT) + 1)), " +
        "0L, (a, x) -> a + x)"))
      .withColumn("n_tokens", size(col("__t")).cast(LongType))
      .withColumn("mean_w", expr("score DIV n_tokens"))
      .select(col(idCol), col("n_tokens"), col("score"), col("mean_w"))
  }

  /** The trained weight table as a (bucket, w, n_buckets) frame for
    * warehouse persistence; [[weightsFromDf]] inverts it. `n_buckets` is
    * the declared table size carried IN the data: without it a table that
    * lost its TRAILING buckets (e.g. bucket 255 of 256) is
    * indistinguishable from a complete 255-bucket table, and scoring would
    * silently bucket with the wrong modulus. */
  def weightsToDf(spark: org.apache.spark.sql.SparkSession,
                  weights: Array[Long]): DataFrame = {
    import spark.implicits._
    weights.zipWithIndex.map { case (w, b) => (b.toLong, w, weights.length.toLong) }
      .toSeq.toDF("bucket", "w", "n_buckets")
  }

  /** Rebuild the scoring table from a persisted (bucket, w[, n_buckets])
    * frame — bounded collect (≤65536 rows by the [[scoreWithWeights]]
    * contract). Missing buckets fail loudly — INCLUDING trailing holes: a
    * partial table would silently mis-score every document hashing into
    * the hole, and a trailing hole additionally shrinks the modulus. The
    * expected size comes from the frame's `n_buckets` column (written by
    * [[weightsToDf]]) or an explicit `expectedSize`; a legacy frame with
    * neither still rejects interior holes but cannot detect trailing ones.
    */
  def weightsFromDf(df: DataFrame, expectedSize: Int = -1): Array[Long] = {
    // the n_buckets column rides the ONE bounded collect (FitFrames contract)
    val hasN = df.columns.contains("n_buckets")
    val base = Seq(col("bucket").cast(LongType), col("w").cast(LongType))
    val sel = if (hasN) base :+ col("n_buckets").cast(LongType) else base
    val collected = df.select(sel: _*).collect()
    require(collected.nonEmpty, "empty weight table")
    val rows = collected.map(r => r.getLong(0) -> r.getLong(1)).toMap
    FitFrames.requireNoDuplicates("weight table", collected.length, rows.size)
    require(rows.size <= 65536, s"bad weight table: ${rows.size} rows")
    val declared = FitFrames.declared("n_buckets", expectedSize,
      if (hasN) Some(collected.map(_.getLong(2))) else None, rows.size)
    require(rows.size == declared && rows.keys.max.toInt + 1 == declared,
      s"weight table holes: ${rows.size} rows, max bucket ${rows.keys.max}, " +
        s"expected $declared")
    Array.tabulate(declared) { b =>
      rows.getOrElse(b.toLong,
        throw new IllegalArgumentException(s"weight table missing bucket $b"))
    }
  }

  /** Distributed BPE merge-table TRAINING (Sennrich et al. 2016) — the
    * other half of the engine's BPE surface: `plans.BpeExpressions` encodes
    * with a fixed table; this LEARNS the table from the corpus. Classic
    * algorithm, distributed shape: build the word-frequency dictionary
    * (ONE corpus-scale shuffle — training never touches the corpus again),
    * then each round (a) counts adjacent symbol pairs over the dictionary
    * weighted by word frequency (a vocab-sized agg, ≪ corpus), (b) takes
    * the 1-row argmax to the driver — ties broken (count DESC, pair ASC)
    * so training is deterministic — and (c) applies the merge map-side.
    *
    * Symbol sequences are stored DELIMITED — each symbol wrapped as
    * `(sym)` — so applying merge (a,b) is a plain `replace(seq,
    * "(a)(b)", "(ab)")`: string replace is leftmost non-overlapping in
    * both engines, which IS the BPE merge-pass rule, and the wrapping
    * makes cross-symbol false matches impossible ("(a)(bc)" does not
    * contain "(a)(b)"). That one representation choice is what makes the
    * whole training loop DuckDB-replayable bit-for-bit, unrolled round by
    * round. Only purely-alphabetic words train (the BpeKernel contract;
    * also keeps '(' and ')' out of symbol text).
    *
    * EAGER CONTRACT: construction runs `nMerges` bounded 1-row argmax
    * jobs plus the dictionary materialization (the selectByTokenBudget
    * precedent). Training state (the dictionary) is persisted once and
    * released before return; rounds after a pair-less dictionary (every
    * word a single symbol) stop early.
    *
    * Returns the rank-ordered merge table (round, lhs, rhs, freq) —
    * KB-scale by definition; feed it to a BpeKernel-style encoder.
    */
  def trainBpe(df: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    require(nMerges >= 1 && nMerges <= 64, s"nMerges out of range: $nMerges")
    val spark = df.sparkSession
    import spark.implicits._
    graft.Materialize.scope {
      val v0 = graft.Materialize.lazily(df.withColumn("__t", TextFns.tokens(col(textCol)))
        .select(explode(col("__t")).as("w"))
        .filter(col("w").rlike("^[a-z]+$"))
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
        .withColumn("seq",
          expr("array_join(transform(split(w, ''), c -> concat('(', c, ')')), '')"))
        .select(col("seq"), col("freq")))
      var cur = v0
      val merges = Seq.newBuilder[(Long, String, String, Long)]
      var round = 1
      var exhausted = false
      while (round <= nMerges && !exhausted) {
        val top = cur
          .withColumn("__s", expr("regexp_extract_all(seq, '\\\\(([^)]*)\\\\)', 1)"))
          .filter(size(col("__s")) >= 2)
          .select(col("freq"), explode(expr(
            "transform(slice(__s, 1, size(__s) - 1), (x, i) -> concat(x, ' ', element_at(__s, i + 2)))"))
            .as("pair"))
          .groupBy(col("pair")).agg(sum(col("freq")).as("n"))
          .orderBy(col("n").desc, col("pair")).limit(1)
          .collect()
        if (top.isEmpty) exhausted = true
        else {
          val Array(a, b) = top(0).getString(0).split(" ", 2)
          merges += ((round.toLong, a, b, top(0).getLong(1)))
          // lineage, not persist: each round is one map-side replace over
          // the cached dictionary — nMerges replaces stay trivially cheap
          cur = cur.withColumn("seq",
            replace(col("seq"), lit(s"($a)($b)"), lit(s"($a$b)")))
          round += 1
        }
      }
      merges.result().toDF("round", "lhs", "rhs", "freq")
    }
  }

  /** Deterministic DSIR selection: the top `keep` raw documents by
    * length-normalized importance (`mean_w` DESC, `idCol` ascending ties) —
    * a TakeOrdered heap over [[importanceScores]]'s map-side output, where
    * the paper samples proportionally (determinism is what makes the
    * selection oracle-checkable and re-runnable).
    */
  def importanceSelect(raw: DataFrame, target: DataFrame, idCol: String,
                       textCol: String, nBuckets: Int, keep: Int): DataFrame = {
    require(keep > 0, s"keep must be positive: $keep")
    importanceScores(raw, target, idCol, textCol, nBuckets)
      .orderBy(col("mean_w").desc, col(idCol))
      .limit(keep)
  }

  /** Tie-groups larger than this pay the sharded cumsum path in
    * [[selectByTokenBudget]] instead of a single ordered window. 2^20 rows
    * of (id, ntok) is a few tens of MB on one window partition — safely
    * inside an executor; anything bigger is a real skew risk.
    */
  val TieWindowMaxRows: Long = 1L << 20

  /** Greedy token-budget selection: whole score groups are taken in
    * descending-score order while they fit; the boundary score group fills
    * the remaining budget in ascending `idCol` order.
    *
    * EAGER CONTRACT: construction runs TWO Spark jobs — the scored-corpus
    * localCheckpoint materialization and the 1-row score-histogram
    * boundary max_by collect over it — so do not construct it
    * speculatively. The checkpoint is the measured-cheaper design: the
    * scoring subtree (tokenize + distinct-shingle + stopword HOFs over the
    * full text) feeds the histogram AND both output branches, so without
    * it the corpus is re-tokenized three times per run (six with a lazy
    * broadcast histogram — the round-11 regression); with it the corpus
    * pays tokenization once and every consumer reads the materialized
    * (columns, score, ntok) blocks. The boundary max_by rides the
    * checkpoint as the second, trivially-cheap job. The sharded-tie bucket
    * offsets, by contrast, ARE a lazy broadcast subplan (a ≤4097-row
    * windowed prefix) — they feed exactly one branch, so laziness folds
    * their scan into the execution job instead of paying a third
    * construction-time job.
    *
    * STORAGE CONTRACT — the returned frame reads the internal
    * checkpoint's blocks, which live until the caller's
    * [[graft.Materialize.scope]] closes (a freed frame cannot recompute —
    * its lineage is truncated). At 100 TB the checkpoint holds the
    * corpus once in executor memory-and-disk — the deliberate trade
    * against re-tokenizing the corpus once per consumer, and the same
    * posture as the corpus-pipeline operator.
    *
    * The tie-group cumsum is data-dependent in size — score granularity is
    * caller-controlled, so one popular score value can be a large fraction
    * of the corpus. Small groups use one ordered window; large groups use
    * a monotone id-bucket shard: bucket = (id - min) DIV width is
    * nondecreasing in id, so per-bucket windows plus an exclusive
    * bucket-prefix offset reproduce the global id-ordered cumsum exactly,
    * with every window partition bounded by the bucket width. The shard
    * path needs INTEGRAL ids (bucket arithmetic); a non-integral `idCol`
    * keeps the operator fully legal — it just always takes the
    * single-window path, whose partition is bounded only by tie width.
    */
  def selectByTokenBudget(df: DataFrame, idCol: String, textCol: String,
                          stopwords: Seq[String], budgetTokens: Long,
                          tieWindowMaxRows: Long = TieWindowMaxRows): DataFrame = {
    require(budgetTokens >= 0, s"budget must be >= 0: $budgetTokens")
    // NO spread on this checkpoint — A/B'd r19: the score kernel does run
    // serially inside the one-row-group scan (~320 ms), but the repartition
    // pays a raw-text shuffle + one extra job and measured wash-to-loss
    // (647 → 738 ms wall, stage Σ 418 → 347 but non-stage +160). Same
    // verdict as the incremental gates' probes (SCALING r16); bigram_lm
    // differs because its kernel is ~5× the scan.
    val scored = graft.Materialize.eager(
      qualityScore(df, textCol, stopwords, keepThreshold = Long.MinValue)
        .withColumn("ntok", TextFns.tokenCount(col(textCol)).cast(LongType)))
    // Integral ids get the sharded tie path; anything else (string ids are
    // legal and order lexicographically) sticks to the single window — a
    // CAST on a string id would order numerically (disagreeing with the
    // window path) and NULL out uncastable values into silent row drops.
    val idIsIntegral = scored.schema(idCol).dataType match {
      case _: org.apache.spark.sql.types.ByteType | _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.IntegerType | _: org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    // tiny frame: one row per distinct score value (count + id span ride
    // along so the boundary collect also sizes the tie group)
    val byScore = scored.groupBy(col("score").as("s"))
      .agg(sum(col("ntok")).as("stok"), count(lit(1)).as("snum"),
           (if (idIsIntegral) min(col(idCol).cast(LongType)) else lit(0L)).as("smin"),
           (if (idIsIntegral) max(col(idCol).cast(LongType)) else lit(0L)).as("smax"))
    val wDesc = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = byScore
      .withColumn("cum_above", coalesce(sum(col("stok")).over(wDesc), lit(0L)))
    // Boundary score: the highest score whose group does NOT fully fit
    // (monotone: once a group fails, every lower-scored group fails too).
    // The whole boundary row comes back from ONE 1-row max_by aggregate
    // over the failing histogram rows — round 11 derived it with a
    // broadcast self-join of the histogram, which executed the scoring
    // subtree twice (once to build the broadcast, once for the joined
    // collect) and regressed the bench cold 1.54 → 1.97 s.
    val bRow = cum
      .filter(col("cum_above") + col("stok") > budgetTokens)
      .agg(max_by(struct(col("s"),
        (lit(budgetTokens) - col("cum_above")).as("b_budget"),
        col("snum"), col("smin"), col("smax")), col("s")).as("r"))
      .select(col("r.s"), col("r.b_budget"), col("r.snum"), col("r.smin"),
        col("r.smax"))
    // ONE row by construction (a global aggregate), with a NULL struct when
    // the whole corpus fits. COLLECT it and inline the longs as literals —
    // the same bounded driver scalar the k-means/IVF trainers pay (see the
    // eager-contract scaladoc).
    val b = bRow.collect()
    val (bS, bBudget, bN, bMin, bMax) =
      if (b.isEmpty || b(0).isNullAt(0)) (Long.MinValue, 0L, 0L, 0L, 0L)
      else (b(0).getLong(0), b(0).getLong(1), b(0).getLong(2),
            b(0).getLong(3), b(0).getLong(4))
    val base = scored.drop("keep")
    // docs strictly better than the boundary score: selected map-side
    val offBoundary = base.filter(col("score") =!= bS)
      .withColumn("selected", col("score") > lit(bS))
    val tie = base.filter(col("score") === bS)
    val onBoundary =
      if (bN <= tieWindowMaxRows || !idIsIntegral) {
        // small tie group: one ordered cumsum over the GROUP (not the
        // corpus) — the constant partition key is bounded by bN
        val wTie = Window.partitionBy(lit(1)).orderBy(col(idCol))
          .rowsBetween(Window.unboundedPreceding, 0)
        tie.withColumn("selected", sum(col("ntok")).over(wTie) <= lit(bBudget))
      } else {
        // large tie group: monotone id-bucket shard (scaladoc). 4096
        // buckets over the group's actual id span keeps the offset frame
        // trivially collectable while dividing the window partitions.
        val nBuckets = 4096L
        val w = math.max(1L, (bMax - bMin) / nBuckets + 1L)
        val bucket = expr(
          s"CAST((CAST(`$idCol` AS BIGINT) - CAST($bMin AS BIGINT)) DIV CAST($w AS BIGINT) AS BIGINT)")
        val sharded = tie.withColumn("__bkt", bucket)
        // Exclusive bucket-prefix offsets: ≤ nBuckets+1 rows, derived
        // LAZILY with a single-partition window over the tiny per-bucket
        // totals frame and broadcast into the shard join. Round 11
        // collected the totals eagerly and replayed the prefix sum on the
        // driver — a whole extra construction-time job scanning the tie
        // group; as a broadcast subplan the same scan folds into the one
        // execution job. The 1-partition window is safe by construction:
        // its input is the ≤4097-row totals frame, never the corpus.
        val wOff = Window.orderBy(col("__bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offsets = sharded.groupBy(col("__bkt")).agg(sum(col("ntok")).as("__t"))
          .withColumn("__off", coalesce(sum(col("__t")).over(wOff), lit(0L)))
          .drop("__t")
        val wLoc = Window.partitionBy(col("__bkt")).orderBy(col(idCol))
          .rowsBetween(Window.unboundedPreceding, 0)
        sharded.join(broadcast(offsets), Seq("__bkt"))
          .withColumn("selected",
            col("__off") + sum(col("ntok")).over(wLoc) <= lit(bBudget))
          .drop("__bkt", "__off")
      }
    offBoundary.unionByName(onBoundary)
  }

  /** Curriculum schedule — quality-phased data ordering for LLM training
    * (Bengio et al. 2009's curriculum learning applied to pretraining-data
    * ordering): phase 0 holds the best-quality slice of the corpus, the last
    * phase the worst, and WITHIN a phase documents are deterministically
    * shuffled (Knuth multiplicative hash of the id) so each phase streams in
    * a reproducible pseudo-random order — quality-annealed epochs without an
    * engine RNG.
    *
    * Phase assignment avoids any per-document global rank (an unpartitioned
    * window over the corpus): [[qualityScore]] is integer-valued, so the
    * exact quantile boundaries come from the SCORE HISTOGRAM — group by
    * score (bounded by the finite integer score space, not the corpus),
    * cumulative count over that small frame, then
    * `phase = (docs_with_higher_score * nPhases) DIV n_docs` broadcast-joined
    * back. Score ties NEVER split across phases (the documented semantic —
    * the boundary snaps to the score-value boundary), which is what makes
    * the assignment one tiny window + one broadcast join instead of a
    * corpus-wide sort at any scale.
    *
    * Returns (idCol, score, phase, ord) — ord is the within-phase shuffle
    * key; consumers ORDER BY (phase, ord, id) to materialize the schedule.
    */
  def curriculumSchedule(df: DataFrame, idCol: String, textCol: String,
                         stopwords: Seq[String], nPhases: Int): DataFrame = {
    require(nPhases >= 1, s"nPhases must be >= 1: $nPhases")
    // The (id, score) frame feeds TWO consumers — the score histogram and
    // the phase-join probe — and unshared each would re-run the full
    // tokenize→score kernel scan (measured as the query's two dominant
    // stages: 631 + 453 ms of a 1.3 s warm at sf0.1). Checkpointed ONCE;
    // the frame is two longs
    // per document (the selectByTokenBudget discipline — cache the narrow
    // derived frame, never the corpus).
    val scored = graft.Materialize.eager(
      qualityScore(df, textCol, stopwords, keepThreshold = Long.MinValue)
        .select(col(idCol), col("score")))
    val hist = scored.groupBy(col("score")).agg(count(lit(1)).as("__c"))
    // The 1-partition window is safe by construction: its input is the
    // score histogram (distinct integer score values), never the corpus.
    val wCum = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = hist.agg(sum(col("__c")).as("__n"))
    val cuts = hist
      .withColumn("__start", coalesce(sum(col("__c")).over(wCum), lit(0L)))
      .crossJoin(broadcast(tot))
      .select(col("score"),
        expr(s"CAST((__start * $nPhases) DIV __n AS BIGINT)").as("phase"))
    scored.join(broadcast(cuts), Seq("score"))
      .withColumn("ord",
        pmod(pmod(col(idCol), lit(2147483647L)) * lit(2654435761L), lit(2147483647L)))
      .select(col(idCol), col("score"), col("phase"), col("ord"))
  }

  /** Epoch allocation under a token budget — the data-constrained scaling
    * decision (Muennighoff et al. 2023: when the budget exceeds the unique
    * corpus, sources REPEAT, and repeats stop helping past a few epochs):
    * each source's temperature share of the budget (isqrt weights — the
    * α = 0.5 mix of `mixWeights`) converts into full epochs + a partial-
    * epoch remainder, capped at `maxEpochs`; tokens the cap refuses are
    * reported as `leftover` (a production scheduler re-spreads them or
    * shrinks the run).
    *
    * All integer arithmetic (floor-sqrt weights, DIV shares) so the plan is
    * engine-exact; the budget is `totalTokens · num / den` — derived from
    * the corpus itself in the same 1-row broadcast that carries the weight
    * sum, so no constant needs retuning per scale factor.
    *
    * Scale: one per-source aggregate (map-side partials) + one 1-row
    * broadcast; everything after is a projection on sources-many rows.
    */
  def epochAllocation(df: DataFrame, srcCol: String, textCol: String,
                      budgetNum: Long, budgetDen: Long,
                      maxEpochs: Long): DataFrame = {
    require(budgetNum > 0 && budgetDen > 0 && maxEpochs > 0,
      "budgetNum, budgetDen, maxEpochs must be positive")
    val per = df
      .withColumn("__ntok", size(TextFns.tokens(col(textCol))).cast(LongType))
      .groupBy(col(srcCol)).agg(sum(col("__ntok")).as("tokens"))
      .withColumn("weight", floor(sqrt(col("tokens"))).cast(LongType))
    val tot = per.agg(sum(col("weight")).as("__tw"), sum(col("tokens")).as("__tt"))
    per.crossJoin(broadcast(tot))
      .withColumn("alloc_tokens",
        expr(s"CAST(((__tt * ${budgetNum}L) DIV ${budgetDen}L * weight) DIV __tw AS BIGINT)"))
      .withColumn("eff_tokens",
        least(col("alloc_tokens"), col("tokens") * lit(maxEpochs)))
      .withColumn("full_epochs", expr("CAST(eff_tokens DIV tokens AS BIGINT)"))
      .withColumn("partial_tokens", expr("CAST(eff_tokens % tokens AS BIGINT)"))
      .withColumn("leftover", col("alloc_tokens") - col("eff_tokens"))
      .select(col(srcCol), col("tokens"), col("weight"), col("alloc_tokens"),
        col("eff_tokens"), col("full_epochs"), col("partial_tokens"),
        col("leftover"))
  }

  /** Deterministic hash sharding with a balance report — the shard-writer
    * planning step of a training-data pipeline: every document lands in
    * `shard = knuth_hash(id) mod nShards`, and the report prices how even
    * the split came out in DOCUMENTS and in TOKENS (`tokens_ppm` =
    * shard-tokens · 10⁶ / corpus-tokens; exactly 10⁶/nShards means perfect
    * balance). Multiplicative hashing decorrelates the shard from any id
    * assignment pattern (sequential ids, per-source ranges), which plain
    * `id mod n` would leak straight into the split.
    *
    * Scale: one shard-keyed aggregate + a 1-row broadcast total; the shard
    * column itself is the map-side write-partition key for the actual
    * shard writer.
    */
  def shardBalance(df: DataFrame, idCol: String, textCol: String,
                   nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1: $nShards")
    val per = df
      .withColumn("__ntok", size(TextFns.tokens(col(textCol))).cast(LongType))
      .withColumn("shard",
        pmod(pmod(col(idCol), lit(2147483647L)) * lit(2654435761L),
          lit(2147483647L)) % nShards)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__ntok")).as("tokens"))
    val tot = per.agg(sum(col("tokens")).as("__tt"))
    per.crossJoin(broadcast(tot))
      .withColumn("tokens_ppm", expr("CAST((tokens * 1000000L) DIV __tt AS BIGINT)"))
      .select(col("shard"), col("n_docs"), col("tokens"), col("tokens_ppm"))
  }

  /** The distillation feature frame — (idCol, bucket, y), checkpointed:
    * hashed unigram-presence buckets [0, nBuckets), the bias bucket, 8
    * length buckets, 8 diversity buckets, with the teacher label riding
    * along. Exposed so a capstone can train AND score off ONE tokenize
    * pass (the frame feeds both the epoch aggregates and any later
    * margin-scoring join).
    */
  def perceptronFeatures(df: DataFrame, idCol: String, textCol: String,
                         stopwords: Seq[String], teacherThreshold: Long,
                         nBuckets: Int): DataFrame = {
    require(nBuckets >= 2, "nBuckets >= 2")
    val labeled = qualityScore(df, textCol, stopwords, keepThreshold = Long.MinValue)
      .select(col(idCol),
        when(col("score") >= teacherThreshold, 1L).otherwise(-1L).as("y"))
    val stats = df.select(col(idCol), TextFns.tokens(col(textCol)).as("__t"))
      .select(col(idCol), col("__t"),
        greatest(size(col("__t")).cast(LongType), lit(1L)).as("__n"),
        size(array_distinct(col("__t"))).cast(LongType).as("__nd"))
    val hashF = stats
      .select(col(idCol),
        explode(graft.functions.SketchFns.polyHashEach(col("__t"))).as("__h"))
      .select(col(idCol), pmod(col("__h"), lit(nBuckets.toLong)).as("bucket"))
      .distinct()
    val biasF = labeled.select(col(idCol), lit(nBuckets.toLong).as("bucket"))
    val lenF = stats.select(col(idCol),
      expr(s"CAST(${nBuckets + 1}L + LEAST(__n DIV 50L, 7L) AS BIGINT)").as("bucket"))
    val divF = stats.select(col(idCol),
      expr(s"CAST(${nBuckets + 9}L + " +
        "LEAST(((__nd * 1000000L) DIV __n) DIV 125000L, 7L) AS BIGINT)").as("bucket"))
    graft.Materialize.eager(
      hashF.unionByName(biasF).unionByName(lenF).unionByName(divF)
        .join(labeled, Seq(idCol)))
  }

  /** In-engine classifier distillation: train an integer batch perceptron
    * over hashed unigram-presence features to imitate a TEACHER rule (here
    * the [[qualityScore]] threshold gate) — the standard production move of
    * distilling an expensive heuristic ruleset into one fast linear model
    * the ingest path can apply map-side. Everything is exact integer
    * arithmetic with deterministic, engine-portable hashing, so the learned
    * weights and the final agreement are oracle-replayable bit-for-bit
    * (no floats, no RNG, no transcendental loss — the perceptron's
    * all-misclassified batch update is `w += Σ y·x`).
    *
    * Features: presence of polyHash(token) mod nBuckets; a constant bias
    * bucket (= nBuckets); 8 document-LENGTH buckets (n DIV 50, capped) at
    * nBuckets+1…+8; and 8 lexical-DIVERSITY buckets (distinct-token ppm
    * DIV 125000, capped) at nBuckets+9…+16 — without the structural
    * buckets a bag-of-hashed-words perceptron cannot express a
    * length/diversity teacher and collapses to the majority class
    * (measured: 63.0% agreement = exactly the base rate; with them it
    * learns genuinely). Epochs run the FULL-BATCH perceptron rule: docs
    * with `y·margin <= 0` contribute `y` to every feature bucket they
    * touch. Returns (bucket, weight, acc_ppm): one row per bucket with the
    * final weights and the teacher-agreement ppm of the trained model
    * riding every row (one extra 1-row aggregate).
    *
    * Scale: the feature frame is (doc, bucket) DISTINCT — checkpointed
    * once, reused across epochs; each epoch is two bucket/doc-keyed
    * aggregates plus a ≤ nBuckets+1-row driver collect (the DSIR
    * precedent: the MODEL is driver-sized, the data never is).
    */
  def distillPerceptron(df: DataFrame, idCol: String, textCol: String,
                        stopwords: Seq[String], teacherThreshold: Long,
                        nBuckets: Int, epochs: Int): DataFrame =
    distillPerceptronWith(
      perceptronFeatures(df, idCol, textCol, stopwords, teacherThreshold, nBuckets),
      idCol, nBuckets, epochs)

  /** [[distillPerceptron]] over an ALREADY-BUILT feature frame (see
    * [[perceptronFeatures]]) — the entry point for compositions that also
    * score with the learned weights and must not tokenize twice.
    */
  def distillPerceptronWith(feats: DataFrame, idCol: String,
                            nBuckets: Int, epochs: Int): DataFrame = {
    require(nBuckets >= 2 && epochs >= 1, "nBuckets >= 2, epochs >= 1")
    val spark = feats.sparkSession
    import spark.implicits._
    val nb1 = nBuckets + 17
    var w = new Array[Long](nb1)
    def weightsDf(arr: Array[Long]) = arr.zipWithIndex
      .map { case (wt, b) => (b.toLong, wt) }.toSeq.toDF("bucket", "__w")
    def margins(arr: Array[Long]) =
      feats.join(broadcast(weightsDf(arr)), Seq("bucket"))
        .groupBy(col(idCol), col("y")).agg(sum(col("__w")).as("__m"))
    // POCKET perceptron: the full-batch update oscillates (measured on the
    // fixture: per-epoch agreement swings 0.37–0.82), so each epoch's
    // weights are scored on the batch and the BEST epoch wins (strict >,
    // so ties keep the earliest — deterministic). Two bounded driver
    // collects per epoch: the ≤ nb1-row update and a 1-row score.
    var bestOk = -1L; var bestW = w; var n = 0L
    for (_ <- 0 until epochs) {
      // margin under the CURRENT weights; the all-zero first round makes
      // every doc misclassified (y·0 <= 0) — the standard cold start
      val upd = margins(w)
        .filter(col("y") * col("__m") <= 0L)
        .select(col(idCol), col("y"))
        .join(feats.select(col(idCol), col("bucket")), Seq(idCol))
        .groupBy(col("bucket")).agg(sum(col("y")).as("__du"))
        .collect()
      val next = w.clone()
      upd.foreach(r => next(r.getLong(0).toInt) += r.getLong(1))
      w = next
      val Array(okRow) = margins(w)
        .agg(sum(when(col("y") * col("__m") > 0L, 1L).otherwise(0L)).as("__ok"),
          count(lit(1)).as("__n"))
        .collect()
      n = okRow.getLong(1)
      if (okRow.getLong(0) > bestOk) { bestOk = okRow.getLong(0); bestW = w }
    }
    weightsDf(bestW).select(col("bucket"), col("__w").as("weight"))
      .withColumn("acc_ppm", lit(bestOk * 1000000L / math.max(n, 1L)))
  }

  /** Deterministic weighted Bernoulli sampling: keep a row with probability
    * proportional to its weight (`P(keep) = w / w_max`), decided by exact
    * integer arithmetic on an engine-portable hash — no RNG, no floating
    * point, reproducible on any engine: keep iff `h · w_max < P · w` with
    * `h = (id mod P) · 2654435761 mod P` (Knuth hash, uniform on [0, P),
    * P = 2³¹−1). The quality-weighted downsampling step of a corpus mix —
    * the probabilistic sibling of the best-first cut in [[sourceCap]] /
    * `selectByTokenBudget` (those take top-k; this preserves distributional
    * coverage of the low-quality tail in expectation).
    *
    * Scale: one 1-row min/max aggregate (a bounded driver collect — the
    * FitFrames class of collect) whose max is inlined as a literal; the
    * keep decision is a map-side filter. The preconditions — all weights
    * positive, w_max < 2³² so `h · w_max` stays in Long — are ENFORCED
    * here at runtime, not left to a scaladoc caller contract: a
    * non-positive weight would silently never be kept, and an overflowing
    * product would turn keep/drop into sign-dependent noise.
    */
  def weightedBernoulli(df: DataFrame, weightCol: String, idCol: String): DataFrame = {
    // the input feeds TWO consumers — the bounded min/max collect and the
    // keep filter — and is typically the output of a scoring kernel over
    // the corpus: unchecked, BOTH consumers re-run that whole upstream
    // pass (two corpus scans at scale; two serial ~350 ms kernel stages at
    // fixture scale, FixedCostProbe r19). Checkpoint once — the frame is
    // (id, weight)-shaped, far smaller than what produced it.
    val cached = graft.Materialize.eager(df)
    val stats = cached.agg(min(col(weightCol).cast(LongType)).as("__wmin"),
      max(col(weightCol).cast(LongType)).as("__wmax")).collect()(0)
    if (stats.isNullAt(0)) return cached // empty input: nothing to sample
    val (wmin, wmax) = (stats.getLong(0), stats.getLong(1))
    require(wmin > 0L,
      s"weightedBernoulli: weights must be positive (min weight = $wmin); " +
        "clamp with greatest(w, 1) upstream")
    require(wmax < (1L << 32),
      s"weightedBernoulli: max weight $wmax >= 2^32 would overflow the " +
        "Long keep-decision product; rescale weights upstream")
    cached.withColumn("__h",
        pmod(pmod(col(idCol), lit(2147483647L)) * lit(2654435761L), lit(2147483647L)))
      .filter(col("__h") * lit(wmax) < lit(2147483647L) * col(weightCol))
      .drop("__h")
  }
}
