package graft.queries

import graft.Q
import graft.Q._
import graft.functions.TextFns
import graft.operators.{Components, Curation, Dedup, Scd2}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-curation + warehouse-history operators, oracle-gated: C4-style
  * boilerplate accounting, train/test decontamination, sequence packing,
  * deterministic stratified sampling, and SCD2 change-log history.
  *
  * Scale posture mirrors the dedup family: curation shuffles key on content
  * strings (chunk, shingle) or strata; packing windows are per-shard (never
  * global); sampling is a map-side integer filter; SCD2 is one shuffle
  * reused by two windows.
  */
object CurationQueries {

  /** DuckDB tokens CTE (lower + trim + whitespace split) over documents,
    * carrying `cols`. */
  private def toksOf(cols: String): String =
    s"""toks AS (SELECT $cols,
      |  string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents)""".stripMargin
  private val toksCte = toksOf("doc_id, source")

  /** CTEs `g` and `sc`: Curation.qualityScore's integer `score` (stopwords
    * a, the) of each `toks` row, carrying `cols`, and `ntok` computed as
    * `ntokExpr` when one is given. */
  private def scoreCtes(cols: String, ntokExpr: String = ""): String = {
    val (gNtok, scNtok) =
      if (ntokExpr.isEmpty) ("", "") else (s" $ntokExpr AS ntok,", " ntok,")
    s"""g AS (SELECT $cols,$gNtok GREATEST(len(t), 1) AS n,
                len(list_distinct(t)) AS nd,
                len(list_filter(t, x -> x = 'a' OR x = 'the')) AS ns
              FROM toks),
        sc AS (SELECT $cols,$scNtok
                 1000 * LEAST(n, 200)
                   + (500 * ((nd * 1000000) // n)) // 1000
                   - (300 * ((ns * 1000000) // n)) // 1000 AS score
               FROM g)"""
  }

  /** CTEs `toks`, `sh0` and `sh(doc_id, source, sh)`: each document's
    * distinct word 4-gram shingles, tagged with its source. */
  private def sourceShingleCtes: String = {
    val terms = (0 until 4)
      .map(j => if (j == 0) "t[i]" else s"t[i+$j]").mkString(" || ' ' || ")
    s"""$toksCte,
        sh0 AS (SELECT doc_id, source,
                  unnest(list_transform(range(1, len(t) - 2), i -> $terms)) AS sh
                FROM toks WHERE len(t) >= 4),
        sh AS (SELECT DISTINCT doc_id, source, sh FROM sh0)"""
  }

  /** DuckDB oracle of train/test decontamination (exact and Bloom rows):
    * per train doc (source <> 'src0'), the shingles and held-out docs it
    * shares with the src0 slice. */
  private def decontaminateOracle: String = s"""
        WITH $sourceShingleCtes,
        tr AS (SELECT doc_id AS train_id, sh FROM sh WHERE source <> 'src0'),
        te AS (SELECT doc_id AS test_id, sh FROM sh WHERE source = 'src0')
        SELECT train_id, COUNT(*) AS n_shared_shingles,
               COUNT(DISTINCT test_id) AS n_test_docs_hit
        FROM tr JOIN te USING (sh)
        GROUP BY train_id ORDER BY train_id"""

  /** CTEs `toks`, `sh`, `pairs(a_id, b_id)` and `comp(node, component_id)`:
    * the word 4-gram Jaccard >= 0.4 near-dup pairs and their connected
    * components, mirroring Dedup.ngramJaccardPairs(_, 4, 0.4) composed with
    * Components.connectedComponents. The enclosing WITH must be RECURSIVE.
    */
  private val nearDupCompCtes: String = s"""${Fragments.shingleCtes},
        sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM sh GROUP BY doc_id),
        cand AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_common
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        pairs AS (
          SELECT a_id, b_id FROM cand
          JOIN sizes sa ON a_id = sa.doc_id
          JOIN sizes sb ON b_id = sb.doc_id
          WHERE CAST(n_common AS DOUBLE) / (sa.nsh + sb.nsh - n_common) >= 0.4),
        ${Fragments.closureCtes("pairs")}"""

  /** The perceptron-distillation replay as a CTE chain (g → … → bw): full
    * unroll of `epochs` data-dependent pocket-perceptron epochs over the
    * 64-hash + bias + 8-length + 8-diversity feature space against the
    * 250000-threshold teacher (the q_classifier_distill parameters — baked
    * in, the way the Spark call sites bake them). Requires `toks` in scope;
    * exposes `lab` (teacher labels), `f` (features), `best` (pocket epoch)
    * and `bw` (pocket weights) for the caller's SELECT. Shared by the
    * distill row and the calibrated-curation capstone so the two oracles
    * cannot drift.
    */
  private def distillCtes(epochs: Int): String = {
    // per-epoch blocks: margins under w_k score it (a_k) and drive the
    // next update (mis_k -> u_{k+1} -> w_{k+1})
    val blocks = (1 until epochs).map { k =>
      s"""m$k AS (SELECT doc_id, y, SUM(w$k.w) AS m
               FROM f JOIN w$k USING (bucket) GROUP BY doc_id, y),
        a$k AS (SELECT $k AS e, CAST(SUM(CASE WHEN y * m > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS ok FROM m$k),
        u${k + 1} AS (SELECT f.bucket, CAST(SUM(f.y) AS BIGINT) AS du
               FROM f JOIN (SELECT doc_id FROM m$k WHERE y * m <= 0) mis
                 USING (doc_id)
               GROUP BY f.bucket),
        w${k + 1} AS (SELECT w$k.bucket, w$k.w + COALESCE(u${k + 1}.du, 0) AS w
               FROM w$k LEFT JOIN u${k + 1} USING (bucket))"""
    }.mkString(",\n        ")
    val accUnion = (1 to epochs).map(k => s"SELECT e, ok FROM a$k")
      .mkString(" UNION ALL ")
    val wUnion = (1 to epochs)
      .map(k => s"SELECT $k AS e, bucket, w FROM w$k").mkString(" UNION ALL ")
    s"""g AS (SELECT doc_id, GREATEST(len(t), 1) AS n,
                len(list_distinct(t)) AS nd,
                len(list_filter(t, x -> x = 'a' OR x = 'the')) AS ns
              FROM toks),
        lab AS (SELECT doc_id,
                  CASE WHEN 1000 * LEAST(n, 200)
                         + (500 * ((nd * 1000000) // n)) // 1000
                         - (300 * ((ns * 1000000) // n)) // 1000 >= 250000
                       THEN 1 ELSE -1 END AS y
                FROM g),
        fb AS (SELECT DISTINCT doc_id,
                 ${TextFns.polyHashSql("tok")} % 64 AS bucket
               FROM (SELECT doc_id, unnest(t) AS tok FROM toks) q),
        f0 AS (SELECT doc_id, bucket FROM fb
               UNION ALL SELECT doc_id, 64 AS bucket FROM lab
               UNION ALL SELECT doc_id, 65 + LEAST(n // 50, 7) AS bucket FROM g
               UNION ALL SELECT doc_id,
                 73 + LEAST(((nd * 1000000) // n) // 125000, 7) AS bucket FROM g),
        f AS (SELECT f0.doc_id, f0.bucket, lab.y
              FROM f0 JOIN lab USING (doc_id)),
        w1 AS (SELECT bucket, CAST(SUM(y) AS BIGINT) AS w FROM f GROUP BY bucket),
        $blocks,
        m$epochs AS (SELECT doc_id, y, SUM(w$epochs.w) AS m
               FROM f JOIN w$epochs USING (bucket) GROUP BY doc_id, y),
        a$epochs AS (SELECT $epochs AS e,
                  CAST(SUM(CASE WHEN y * m > 0 THEN 1 ELSE 0 END) AS BIGINT) AS ok
                FROM m$epochs),
        accs AS ($accUnion),
        best AS (SELECT e, ok FROM accs ORDER BY ok DESC, e LIMIT 1),
        allw AS ($wUnion),
        bw AS (SELECT bucket, w FROM allw JOIN best USING (e))"""
  }

  val qs: Seq[Q] = Seq(

    // ----- C4-style boilerplate accounting: non-overlapping 8-token chunks
    // ("lines" for newline-free corpora); a chunk in >1 distinct doc is
    // boilerplate, every occurrence dropped. One shuffle on the chunk string.
    Q("q_text_boilerplate",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Curation.boilerplateAccounting(docs, "doc_id", "text", 8, maxDocFreq = 1L)
          .join(docs.select(col("doc_id"), col("source")), "doc_id")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chunks")).as("total_chunks"),
            sum(col("n_kept")).as("kept_chunks"),
            count(when(col("n_kept") < col("n_chunks"), 1)).as("docs_with_boilerplate"))
          .orderBy(col("source"))
      },
      Some(s"""
        WITH $toksCte,
        ch AS (SELECT doc_id, source,
                 unnest(list_transform(range(1, len(t) + 1, 8),
                   st -> array_to_string(t[st:st+7], ' '))) AS chunk
               FROM toks),
        dfreq AS (SELECT chunk, COUNT(DISTINCT doc_id) AS dfv FROM ch GROUP BY chunk),
        acct AS (
          SELECT ch.doc_id, any_value(ch.source) AS source,
                 COUNT(*) AS n_chunks,
                 COUNT(CASE WHEN dfreq.dfv <= 1 THEN 1 END) AS n_kept
          FROM ch JOIN dfreq USING (chunk) GROUP BY ch.doc_id)
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(n_chunks) AS BIGINT) AS total_chunks,
               CAST(SUM(n_kept) AS BIGINT) AS kept_chunks,
               COUNT(CASE WHEN n_kept < n_chunks THEN 1 END) AS docs_with_boilerplate
        FROM acct GROUP BY source ORDER BY source""")),

    // ----- the removal half of C4 boilerplate: drop every occurrence of a
    // cross-doc repeated chunk and REASSEMBLE the surviving text in chunk
    // order — all-boilerplate docs come back with empty text, not dropped.
    // The oracle rebuilds each document with an ordered string_agg, so a
    // wrong chunk order / lost occurrence / dropped row fails the gate.
    Q("q_text_boilerplate_clean",
      (s, dir) =>
        Curation.removeBoilerplate(t(s, dir, "documents"), "doc_id", "text",
            8, maxDocFreq = 1L)
          .select(col("doc_id"), col("clean_text"),
            col("n_chunks").cast(LongType).as("n_chunks"),
            col("n_kept").cast(LongType).as("n_kept"))
          .orderBy(col("doc_id")),
      Some(s"""
        WITH $toksCte,
        st AS (SELECT doc_id, t, unnest(range(1, len(t) + 1, 8)) AS st FROM toks),
        ch AS (SELECT doc_id, st, array_to_string(t[st:st+7], ' ') AS chunk FROM st),
        dfreq AS (SELECT chunk, COUNT(DISTINCT doc_id) AS dfv FROM ch GROUP BY chunk),
        clean AS (
          SELECT ch.doc_id,
                 COALESCE(string_agg(CASE WHEN dfv <= 1 THEN chunk END,
                   ' ' ORDER BY st), '') AS clean_text,
                 COUNT(*) AS n_chunks,
                 COUNT(CASE WHEN dfv <= 1 THEN 1 END) AS n_kept
          FROM ch JOIN dfreq USING (chunk) GROUP BY ch.doc_id)
        SELECT doc_id, clean_text, CAST(n_chunks AS BIGINT) AS n_chunks,
               CAST(n_kept AS BIGINT) AS n_kept
        FROM clean ORDER BY doc_id""")),

    // ----- train/test decontamination: training docs sharing any word
    // 4-gram with the held-out slice (source = 'src0'). Shingle equi-join —
    // fan-out bounded by true content overlap; test side broadcast at scale.
    Q("q_decontaminate",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Curation.decontaminate(
            docs.filter(col("source") =!= "src0"),
            docs.filter(col("source") === "src0"),
            "doc_id", "text", k = 4)
          .orderBy(col("train_id"))
      },
      Some(decontaminateOracle)),

    // ----- decontamination via broadcast Bloom sketch: the 100 TB path for
    // when even the hashed held-out shingle set exceeds broadcast budget.
    // No false negatives → the exact join on the prefiltered survivors
    // returns EXACTLY the decontaminate result, so the oracle is the same
    // brute-force shingle join.
    Q("q_decontaminate_bloom",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Curation.decontaminateBloom(
            docs.filter(col("source") =!= "src0"),
            docs.filter(col("source") === "src0"),
            "doc_id", "text", k = 4)
          .orderBy(col("train_id"))
      },
      Some(decontaminateOracle)),

    // ----- eval-side contamination report: per test doc, the ppm of its
    // distinct shingles already present in train (the mirror of
    // q_decontaminate's per-train-doc deletion view).
    Q("q_decontaminate_report",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Curation.contaminationReport(
            docs.filter(col("source") =!= "src0"),
            docs.filter(col("source") === "src0"),
            "doc_id", "text", k = 4)
          .orderBy(col("test_id"))
      },
      Some(s"""
        WITH $sourceShingleCtes,
        tr AS (SELECT DISTINCT sh FROM sh WHERE source <> 'src0'),
        te AS (SELECT doc_id AS test_id, sh FROM sh WHERE source = 'src0')
        SELECT test_id, COUNT(*) AS n_shingles,
               COUNT(tr.sh) AS n_leaked,
               COUNT(tr.sh) * 1000000 // COUNT(*) AS leak_ppm
        FROM te LEFT JOIN tr USING (sh)
        GROUP BY test_id ORDER BY test_id""")),

    // ----- sequence packing: per-shard (source) deterministic layout,
    // 512-token context windows; documents binned by first-token offset.
    // The cumsum window is per-shard — nothing ever sorts globally.
    Q("q_pack_sequences",
      (s, dir) =>
        Curation.packSequences(t(s, dir, "documents"), "doc_id", "text",
            "source", ctxLen = 512)
          .groupBy(col("source"), col("bin"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("ntok")).as("sum_tokens"),
            max(col("start_off")).as("max_start"))
          .orderBy(col("source"), col("bin")),
      Some(s"""
        WITH $toksCte,
        sized AS (SELECT doc_id, source, CAST(len(t) AS BIGINT) AS ntok FROM toks),
        off AS (SELECT source, doc_id, ntok,
                  CAST(SUM(ntok) OVER (PARTITION BY source ORDER BY doc_id
                         ROWS UNBOUNDED PRECEDING) - ntok AS BIGINT) AS start_off
                FROM sized)
        SELECT source, CAST(floor(start_off / 512.0) AS BIGINT) AS bin,
               COUNT(*) AS n_docs,
               CAST(SUM(ntok) AS BIGINT) AS sum_tokens,
               MAX(start_off) AS max_start
        FROM off GROUP BY source, bin ORDER BY source, bin""")),

    // ----- deterministic stratified sampling / domain mixing: keep rate per
    // stratum from pure integer arithmetic on the id — map-side filter, no
    // RNG state, reproducible on any engine or cluster size.
    Q("q_stratified_sample",
      (s, dir) => {
        val rates = (0 until 20).map(i => s"src$i" -> (10 + 6 * (i % 5))).toMap
        val rate = Curation.stratumRate("source", rates)
        t(s, dir, "documents")
          .withColumn("keep", Curation.stratifiedKeep("doc_id", "source", rates))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            count(when(col("keep"), 1)).as("n_kept"),
            max(rate.cast(LongType)).as("target_pct"))
          .orderBy(col("source"))
      },
      Some("""
        SELECT source, COUNT(*) AS n_docs,
               COUNT(CASE WHEN ((doc_id * 1000003 + 17) % 100 + 100) % 100 <
                 10 + 6 * (CAST(substr(source, 4) AS INT) % 5) THEN 1 END) AS n_kept,
               CAST(MAX(10 + 6 * (CAST(substr(source, 4) AS INT) % 5)) AS BIGINT) AS target_pct
        FROM documents GROUP BY source ORDER BY source""")),

    // ----- per-source salient terms: integer-exact TF-IDF ranking
    // (score = tf·10^6 DIV df — monotone in tf·idf for a fixed corpus, no
    // float log). tf shuffles on (source, term), df needs no distinct()
    // exchange (per-row array_distinct), top-5 per source is the bounded
    // window the TopK rewrite collapses to a heap.
    Q("q_text_tfidf",
      (s, dir) =>
        Curation.salientTerms(t(s, dir, "documents"), "doc_id", "text",
            "source", 5)
          .orderBy(col("source"), col("rank")),
      Some(s"""
        WITH $toksCte,
        tfc AS (SELECT source, unnest(t) AS term FROM toks),
        tf AS (SELECT source, term, COUNT(*) AS tf FROM tfc GROUP BY 1, 2),
        dfc AS (SELECT term, COUNT(*) AS df FROM
                  (SELECT doc_id, unnest(list_distinct(t)) AS term FROM toks)
                GROUP BY term
                HAVING COUNT(*) >= 2),  -- minDf: hapax pre-filter, see salientTerms
        scored AS (SELECT source, term, tf, df,
                     CAST((tf * 1000000) // df AS BIGINT) AS score
                   FROM tf JOIN dfc USING (term)),
        r AS (SELECT *, row_number() OVER (PARTITION BY source
                ORDER BY score DESC, term) AS rank FROM scored)
        SELECT source, CAST(rank AS BIGINT) AS rank, term, tf, df, score
        FROM r WHERE rank <= 5 ORDER BY source, rank""")),

    // ----- linear quality classifier (fasttext-style gate) on engine-exact
    // integer features: capped length credit + lexical-diversity ppm −
    // stopword-pressure ppm, thresholded. Purely map-side scoring; only the
    // per-source accounting aggregate shuffles.
    Q("q_text_quality_class",
      (s, dir) => {
        val scored = Curation.qualityScore(t(s, dir, "documents"), "text",
          Seq("a", "the"), keepThreshold = 250000L)
        scored.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            count(when(col("keep"), 1)).as("n_keep"),
            (sum(col("score")).cast(DoubleType) / count(lit(1))).as("avg_score"))
          .orderBy(col("source"))
      },
      Some(s"""
        WITH $toksCte,
        ${scoreCtes("source")}
        SELECT source, COUNT(*) AS n_docs,
               COUNT(CASE WHEN score >= 250000 THEN 1 END) AS n_keep,
               CAST(SUM(score) AS DOUBLE) / COUNT(*) AS avg_score
        FROM sc GROUP BY source ORDER BY source""")),

    // ----- per-group percentile gate (FineWeb2-style per-language score
    // calibration): keep the top 40% of each LANGUAGE by quality score —
    // one global threshold would let the scorer's English bias gut the
    // other languages; cutting at each group's own percentile equalizes
    // selection pressure. Quota = (n_group * 400) DIV 1000, boundary ties
    // by lowest doc_id. Spark decides off-boundary rows map-side against a
    // broadcast per-group boundary frame built from the (group, score)
    // histogram; the oracle replays the cut as a per-group rank window.
    Q("q_quality_percentile_gate",
      (s, dir) => {
        val scored = Curation.qualityScore(t(s, dir, "documents"), "text",
            Seq("a", "the"), keepThreshold = Long.MinValue)
          .select(col("doc_id"), col("lang"), col("score"))
        Curation.percentileGate(scored, "doc_id", "lang", "score",
            keepPermille = 400)
          .filter(col("selected"))
          .select(col("lang"), col("doc_id"), col("score"))
          .orderBy(col("lang"), col("doc_id"))
      },
      Some(s"""
        WITH ${toksOf("doc_id, lang")},
        g AS (SELECT doc_id, lang, GREATEST(len(t), 1) AS n,
                len(list_distinct(t)) AS nd,
                len(list_filter(t, x -> x = 'a' OR x = 'the')) AS ns
              FROM toks),
        sc AS (SELECT doc_id, lang,
                 CAST(1000 * LEAST(n, 200)
                   + (500 * ((nd * 1000000) // n)) // 1000
                   - (300 * ((ns * 1000000) // n)) // 1000 AS BIGINT) AS score
               FROM g),
        nn AS (SELECT lang, COUNT(*) AS n FROM sc GROUP BY lang),
        r AS (SELECT lang, doc_id, score,
                row_number() OVER (PARTITION BY lang
                  ORDER BY score DESC, doc_id) AS rk
              FROM sc)
        SELECT r.lang, r.doc_id, r.score FROM r JOIN nn USING (lang)
        WHERE rk <= (nn.n * 400) // 1000
        ORDER BY lang, doc_id""")),

    // ----- per-group TOKEN-budget selection (the FineWeb2 per-language
    // allocation): each language's token budget = 30% of its corpus
    // tokens, spent best-quality-first with greedy-prefix semantics —
    // completing the selection symmetry (per-group doc quota /
    // global token budget / per-group token budget). Spark decides
    // off-boundary score blocks map-side against the broadcast per-group
    // boundary built from the (group, score) token histogram; the oracle
    // replays the cut as a per-group ordered cumsum.
    Q("q_token_budget_per_group",
      (s, dir) => {
        val scored = Curation.qualityScore(t(s, dir, "documents"), "text",
            Seq("a", "the"), keepThreshold = Long.MinValue)
          .withColumn("ntok", size(TextFns.tokens(col("text"))).cast(LongType))
          .select(col("doc_id"), col("lang"), col("score"), col("ntok"))
        Curation.tokenBudgetPerGroup(scored, "doc_id", "lang", "score",
            "ntok", budgetPermille = 300)
          .filter(col("selected"))
          .select(col("lang"), col("doc_id"), col("ntok"))
          .orderBy(col("lang"), col("doc_id"))
      },
      Some(s"""
        WITH ${toksOf("doc_id, lang")},
        ${scoreCtes("doc_id, lang", "CAST(len(t) AS BIGINT)")},
        q AS (SELECT lang, (SUM(ntok) * 300) // 1000 AS quota
              FROM sc GROUP BY lang),
        r AS (SELECT lang, doc_id, ntok,
                SUM(ntok) OVER (PARTITION BY lang
                  ORDER BY score DESC, doc_id
                  ROWS UNBOUNDED PRECEDING) AS cum
              FROM sc)
        SELECT r.lang, r.doc_id, CAST(r.ntok AS BIGINT) AS ntok
        FROM r JOIN q USING (lang)
        WHERE cum <= quota
        ORDER BY lang, doc_id""")),

    // ----- streaming budget gate, batch-unrolled under the oracle (the
    // established _batch pattern: the gate's SELECTION semantics are
    // oracle-gated here, its crash/ledger protocol drilled in StreamsSpec):
    // two batches split at the MAX(doc_id)/2 boundary literal, per-language
    // budgets = 60% of each language's corpus tokens (the
    // tokenBudgetPerGroup allocation shape), batch 1 spending against what
    // batch 0 left. Both batch plans run through the SAME
    // Streams.budgetSpendPlan the live gate runs.
    Q("q_stream_budget_batch",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // ONE distributed plan (Streams.budgetUnrolledPlan, r20): budgets,
        // both batches' greedy prefixes, and batch 0's spend are window
        // sums sharing a single hash-exchange on lang, and the only driver
        // round-trip left is the batch-boundary scalar (a bounded 1-row
        // agg — production's boundary is a known ingestion watermark).
        // History of this row's anatomy: r17 joined budgets as
        // LocalTableScan broadcasts (one AQE materialization job each,
        // 11 jobs); r19 folded them to map literals over a checkpointed
        // scored frame (8 jobs — checkpoint + two bounded collects + two
        // unrolled decide plans, worst strict-tail row on the r19 judge
        // pair at 7.0x); r20 unrolls the ledger algebraically so the whole
        // row is mid-collect + spread + one lang exchange + result (~4
        // jobs). StreamsSpec pins the unroll == composed per-batch
        // literal decides, so the gate tie survives the fusion.
        val mid = graft.Fixtures.scalarLong(s, dir, "doc_mid") {
          docs.agg(expr("coalesce(MAX(doc_id) DIV 2, 0L)").as("m"))
            .collect()(0).getLong(0)
        }
        val scored = graft.streaming.Streams.budgetScorePlan(
            graft.Tables.spread(docs), "text", Seq("a", "the"))
          .select(col("lang"), col("doc_id"), col("score"), col("__ntok"))
        graft.streaming.Streams.budgetUnrolledPlan(scored,
            col("doc_id") < mid, "doc_id", "lang", budgetPermille = 600)
          .groupBy(col("lang"), col("__batch").as("batch"))
          .agg(count(lit(1)).cast(LongType).as("n_docs"),
            count(when(col("__selected"), 1)).cast(LongType).as("n_kept"),
            coalesce(sum(when(col("__selected"), col("__ntok"))), lit(0L))
              .cast(LongType).as("tokens_kept"))
          // groups x 2 rows: one-partition in-place sort instead of a
          // global orderBy's range-sampling job + exchange. repartition(1),
          // NOT coalesce(1) (ADVICE r20 medium): a narrow coalesce fuses
          // into the budget windows' stage and runs all three windows + the
          // aggregate as ONE task; the exchange moves only groups×2 rows.
          .repartition(1).sortWithinPartitions(col("lang"), col("batch"))
      },
      Some(s"""
        WITH ${toksOf("doc_id, lang")},
        ${scoreCtes("doc_id, lang", "CAST(len(t) AS BIGINT)")},
        mid AS (SELECT COALESCE(MAX(doc_id) // 2, 0) AS m FROM documents),
        bud AS (SELECT lang, (SUM(ntok) * 600) // 1000 AS b FROM sc GROUP BY lang),
        p0 AS (SELECT sc.*, SUM(ntok) OVER (PARTITION BY lang
                 ORDER BY score DESC, doc_id
                 ROWS UNBOUNDED PRECEDING) AS cum FROM sc, mid WHERE doc_id < m),
        s0 AS (SELECT p0.lang, p0.doc_id, p0.ntok, (cum <= b) AS sel
               FROM p0 JOIN bud USING (lang)),
        sp0 AS (SELECT lang, COALESCE(SUM(CASE WHEN sel THEN ntok END), 0) AS spent
                FROM s0 GROUP BY lang),
        p1 AS (SELECT sc.*, SUM(ntok) OVER (PARTITION BY lang
                 ORDER BY score DESC, doc_id
                 ROWS UNBOUNDED PRECEDING) AS cum FROM sc, mid WHERE doc_id >= m),
        s1 AS (SELECT p1.lang, p1.doc_id, p1.ntok,
                 (cum <= b - COALESCE(spent, 0)) AS sel
               FROM p1 JOIN bud USING (lang) LEFT JOIN sp0 USING (lang)),
        u AS (SELECT lang, 0 AS batch, doc_id, ntok, sel FROM s0
              UNION ALL SELECT lang, 1, doc_id, ntok, sel FROM s1)
        SELECT lang, CAST(batch AS BIGINT) AS batch,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(CASE WHEN sel THEN 1 END) AS BIGINT) AS n_kept,
               CAST(COALESCE(SUM(CASE WHEN sel THEN ntok END), 0) AS BIGINT)
                 AS tokens_kept
        FROM u GROUP BY lang, batch ORDER BY lang, batch""")),

    // ----- streaming percentile gate, batch-unrolled under the oracle:
    // thresholds CALIBRATED on the history half (doc_id < MAX/2, the same
    // percentileThresholds the live gate freezes through the warehouse),
    // arrivals gated with the gate's exact kept-filter semantics — strict
    // score > threshold, missing-threshold group keeps nothing. The
    // strict-> boundary deviation of the streaming form is thereby
    // oracle-PINNED, not just scaladoc'd.
    Q("q_stream_percentile_batch",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val mid = docs.agg(expr("coalesce(MAX(doc_id) DIV 2, 0)").as("mid"))
          .collect()(0).getLong(0)
        val scored = graft.Materialize.eager(
          Curation.qualityScore(docs, "text", Seq("a", "the"),
              keepThreshold = Long.MinValue)
            .select(col("doc_id"), col("lang"), col("score")))
        val thr = Curation.percentileThresholds(
          scored.filter(col("doc_id") < mid), "lang", "score",
          keepPermille = 400)
        scored.filter(col("doc_id") >= mid)
          .join(broadcast(thr), Seq("lang"), "left")
          .groupBy(col("lang"))
          .agg(count(lit(1)).cast(LongType).as("n_new"),
            count(when(col("score_threshold").isNotNull &&
              col("score") > col("score_threshold"), 1))
              .cast(LongType).as("n_kept"))
          .orderBy(col("lang"))
      },
      Some(s"""
        WITH ${toksOf("doc_id, lang")},
        ${scoreCtes("doc_id, lang")},
        mid AS (SELECT COALESCE(MAX(doc_id) // 2, 0) AS m FROM documents),
        hist AS (SELECT sc.* FROM sc, mid WHERE doc_id < m),
        nn AS (SELECT lang, COUNT(*) AS n FROM hist GROUP BY lang),
        rr AS (SELECT lang, score,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY score DESC, doc_id) AS rk
               FROM hist),
        thr AS (SELECT rr.lang, rr.score AS t
                FROM rr JOIN nn USING (lang)
                WHERE rk = (nn.n * 400) // 1000 AND (nn.n * 400) // 1000 >= 1),
        fresh AS (SELECT sc.* FROM sc, mid WHERE doc_id >= m)
        SELECT f.lang, CAST(COUNT(*) AS BIGINT) AS n_new,
               CAST(COUNT(CASE WHEN thr.t IS NOT NULL AND f.score > thr.t
                          THEN 1 END) AS BIGINT) AS n_kept
        FROM fresh f LEFT JOIN thr ON f.lang = thr.lang
        GROUP BY f.lang ORDER BY f.lang""")),

    // ----- quality-score DRIFT monitor (the re-calibration trigger that
    // pairs with the frozen-threshold gates: thresholds calibrated on
    // history go stale exactly when the arriving score distribution
    // drifts, and THIS is the measurement that says when). Per language:
    // L1 distance in ppm between the history half's and the fresh half's
    // score histograms (50k-wide integer bins — the total-variation
    // distance × 2, log-free and engine-exact by per-bin integer DIV).
    // ONE scan: the split is a conditional count per (lang, bin); totals
    // ride a lang-partitioned window over the HISTOGRAM (bounded rows),
    // never the corpus.
    Q("q_quality_drift",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val mid = docs.agg(expr("coalesce(MAX(doc_id) DIV 2, 0)").as("mid"))
          .collect()(0).getLong(0)
        val binned = Curation.qualityScore(docs, "text", Seq("a", "the"),
            keepThreshold = Long.MinValue)
          .select(col("doc_id"), col("lang"),
            expr("CAST(CASE WHEN score >= 0 THEN score DIV 50000 " +
                 "ELSE -((-score) DIV 50000) END AS BIGINT)").as("bin"))
        val wLang = Window.partitionBy(col("lang"))
        binned.groupBy(col("lang"), col("bin"))
          .agg(count(when(col("doc_id") < mid, 1)).as("nh"),
            count(when(col("doc_id") >= mid, 1)).as("nf"))
          .withColumn("__Nh", sum(col("nh")).over(wLang))
          .withColumn("__Nf", sum(col("nf")).over(wLang))
          .withColumn("__d", abs(
            expr("(nh * 1000000) DIV greatest(__Nh, 1)") -
            expr("(nf * 1000000) DIV greatest(__Nf, 1)")))
          .groupBy(col("lang"))
          .agg(count(lit(1)).cast(LongType).as("n_bins"),
            sum(col("__d")).cast(LongType).as("l1_ppm"))
          .orderBy(col("lang"))
      },
      Some(s"""
        WITH ${toksOf("doc_id, lang")},
        ${scoreCtes("doc_id, lang")},
        mid AS (SELECT COALESCE(MAX(doc_id) // 2, 0) AS m FROM documents),
        b AS (SELECT doc_id, lang,
                CASE WHEN score >= 0 THEN score // 50000
                     ELSE -((-score) // 50000) END AS bin
              FROM sc),
        h AS (SELECT lang, bin,
                COUNT(CASE WHEN doc_id < m THEN 1 END) AS nh,
                COUNT(CASE WHEN doc_id >= m THEN 1 END) AS nf
              FROM b, mid GROUP BY lang, bin),
        tt AS (SELECT lang, SUM(nh) AS th, SUM(nf) AS tf
               FROM h GROUP BY lang),
        d AS (SELECT h.lang,
                ABS((nh * 1000000) // GREATEST(th, 1)
                    - (nf * 1000000) // GREATEST(tf, 1)) AS dd
              FROM h JOIN tt USING (lang))
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_bins,
               CAST(SUM(dd) AS BIGINT) AS l1_ppm
        FROM d GROUP BY lang ORDER BY lang""")),

    // ----- drift-triggered RECALIBRATION capstone (the operational loop
    // the drift monitor exists for, closed under one oracle): measure each
    // language's score drift between history and the fresh window; where
    // drift crosses the alarm line (280k ppm — 3 of 5 fixture languages
    // fire), RECALIBRATE the percentile threshold on the fresh window,
    // otherwise keep the frozen history threshold; then gate the fresh
    // arrivals with whichever threshold applies and account per language.
    // Composes the drift bins, BOTH percentileThresholds calibrations, and
    // the gate's strict-> kept filter off ONE checkpointed scored frame.
    Q("q_quality_recalibrate",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val mid = docs.agg(expr("coalesce(MAX(doc_id) DIV 2, 0)").as("m"))
          .collect()(0).getLong(0)
        val scored = graft.Materialize.eager(
          Curation.qualityScore(docs, "text", Seq("a", "the"),
              keepThreshold = Long.MinValue)
            .select(col("doc_id"), col("lang"), col("score")))
        val hist = scored.filter(col("doc_id") < mid)
        val fresh = scored.filter(col("doc_id") >= mid)
        val tOld = Curation.percentileThresholds(hist, "lang", "score", 400)
          .withColumnRenamed("score_threshold", "t_old")
        val tNew = Curation.percentileThresholds(fresh, "lang", "score", 400)
          .withColumnRenamed("score_threshold", "t_new")
        val wLang = Window.partitionBy(col("lang"))
        val drift = scored
          .select(col("doc_id"), col("lang"),
            expr("CAST(CASE WHEN score >= 0 THEN score DIV 50000 " +
                 "ELSE -((-score) DIV 50000) END AS BIGINT)").as("bin"))
          .groupBy(col("lang"), col("bin"))
          .agg(count(when(col("doc_id") < mid, 1)).as("nh"),
            count(when(col("doc_id") >= mid, 1)).as("nf"))
          .withColumn("__th", sum(col("nh")).over(wLang))
          .withColumn("__tf", sum(col("nf")).over(wLang))
          .withColumn("__d", abs(
            expr("(nh * 1000000) DIV greatest(__th, 1)") -
            expr("(nf * 1000000) DIV greatest(__tf, 1)")))
          .groupBy(col("lang")).agg(sum(col("__d")).as("l1"))
        val ap = drift
          .join(tOld, Seq("lang"), "left").join(tNew, Seq("lang"), "left")
          .select(col("lang"), col("l1"),
            (col("l1") >= 280000L).as("recal"),
            when(col("l1") >= 280000L, col("t_new")).otherwise(col("t_old"))
              .as("t_applied"))
        fresh.join(broadcast(ap), Seq("lang"), "left")
          .groupBy(col("lang"))
          .agg(max(col("l1")).cast(LongType).as("l1_ppm"),
            max(col("recal")).as("recalibrated"),
            max(col("t_applied")).cast(LongType).as("t_applied"),
            count(lit(1)).cast(LongType).as("n_fresh"),
            count(when(col("t_applied").isNotNull &&
              col("score") > col("t_applied"), 1))
              .cast(LongType).as("n_kept"))
          .orderBy(col("lang"))
      },
      Some(s"""
        WITH ${toksOf("doc_id, lang")},
        ${scoreCtes("doc_id, lang")},
        mid AS (SELECT COALESCE(MAX(doc_id) // 2, 0) AS m FROM documents),
        hist AS (SELECT sc.* FROM sc, mid WHERE doc_id < m),
        fresh AS (SELECT sc.* FROM sc, mid WHERE doc_id >= m),
        b AS (SELECT doc_id, lang,
                CASE WHEN score >= 0 THEN score // 50000
                     ELSE -((-score) // 50000) END AS bin FROM sc),
        h AS (SELECT lang, bin,
                COUNT(CASE WHEN doc_id < m THEN 1 END) AS nh,
                COUNT(CASE WHEN doc_id >= m THEN 1 END) AS nf
              FROM b, mid GROUP BY lang, bin),
        tt AS (SELECT lang, SUM(nh) AS th, SUM(nf) AS tf FROM h GROUP BY lang),
        dr AS (SELECT h.lang, SUM(ABS((nh * 1000000) // GREATEST(th, 1)
                  - (nf * 1000000) // GREATEST(tf, 1))) AS l1
               FROM h JOIN tt USING (lang) GROUP BY h.lang),
        no_ AS (SELECT lang, COUNT(*) AS n FROM hist GROUP BY lang),
        ro_ AS (SELECT lang, score, row_number() OVER (PARTITION BY lang
                  ORDER BY score DESC, doc_id) AS rk FROM hist),
        to_ AS (SELECT ro_.lang, ro_.score AS t FROM ro_ JOIN no_ USING (lang)
                WHERE rk = (no_.n * 400) // 1000 AND (no_.n * 400) // 1000 >= 1),
        nn_ AS (SELECT lang, COUNT(*) AS n FROM fresh GROUP BY lang),
        rn_ AS (SELECT lang, score, row_number() OVER (PARTITION BY lang
                  ORDER BY score DESC, doc_id) AS rk FROM fresh),
        tn_ AS (SELECT rn_.lang, rn_.score AS t FROM rn_ JOIN nn_ USING (lang)
                WHERE rk = (nn_.n * 400) // 1000 AND (nn_.n * 400) // 1000 >= 1),
        ap AS (SELECT dr.lang, dr.l1, (dr.l1 >= 280000) AS recal,
                      CASE WHEN dr.l1 >= 280000 THEN tn_.t ELSE to_.t END AS t_applied
               FROM dr LEFT JOIN to_ USING (lang) LEFT JOIN tn_ USING (lang))
        SELECT f.lang, CAST(MAX(ap.l1) AS BIGINT) AS l1_ppm,
               BOOL_OR(ap.recal) AS recalibrated,
               CAST(MAX(ap.t_applied) AS BIGINT) AS t_applied,
               CAST(COUNT(*) AS BIGINT) AS n_fresh,
               CAST(COUNT(CASE WHEN ap.t_applied IS NOT NULL
                          AND f.score > ap.t_applied THEN 1 END) AS BIGINT)
                 AS n_kept
        FROM fresh f LEFT JOIN ap ON f.lang = ap.lang
        GROUP BY f.lang ORDER BY f.lang""")),

    // ----- in-engine classifier DISTILLATION: a full-batch integer
    // perceptron over hashed unigram-presence features (64 buckets + bias
    // + 8 length buckets + 8 diversity buckets — the structural features
    // without which a bag-of-words model provably collapses to the
    // majority class on a length/diversity teacher)
    // learns to imitate the rule-based quality gate in 3 epochs — the
    // "distill the heuristic ruleset into one fast map-side linear model"
    // production move, trained distributed with exact integer arithmetic.
    // The oracle unrolls all three data-dependent epochs (cold start: w=0
    // makes round 1 the all-docs update) and the learned weights plus the
    // final teacher-agreement ppm must match bit-for-bit.
    Q("q_classifier_distill",
      (s, dir) =>
        graft.operators.Curation.distillPerceptron(t(s, dir, "documents"),
            "doc_id", "text", Seq("a", "the"), teacherThreshold = 250000L,
            nBuckets = 64, epochs = 6)
          .orderBy(col("bucket")),
      Some(s"""
        WITH $toksCte,
        ${CurationQueries.distillCtes(6)},
        tot2 AS (SELECT COUNT(*) AS nn FROM lab)
        SELECT CAST(r.b AS BIGINT) AS bucket,
               CAST(COALESCE(bw.w, 0) AS BIGINT) AS weight,
               CAST((best.ok * 1000000) // tot2.nn AS BIGINT) AS acc_ppm
        FROM (SELECT unnest(range(0, 81)) AS b) r
        LEFT JOIN bw ON r.b = bw.bucket, best, tot2
        ORDER BY bucket"""),
      // The oracle unrolls SIX data-dependent training epochs as joins — a
      // correctness device, not a latency baseline: it prices at ~34 s in
      // DuckDB at sf0.1 vs ~2 s for Spark's driver-loop trainer, which
      // would single-handedly skew the headline pair IN OUR FAVOR. Excluded
      // like q_ann_pq_exact; the matched prices are published in
      // SCALING.md's iterative-training note instead.
      bench = false),

    // ----- CALIBRATED-CURATION capstone (the FineWeb-Edu production flow,
    // Penedo et al. 2024): distill the rule-based teacher into the pocket
    // perceptron, score EVERY document with the learned weights (map-side
    // join against the broadcast 81-weight model over the SAME checkpointed
    // feature frame the training epochs used — one tokenize pass total),
    // then cut each LANGUAGE at its own 40th percentile of the learned
    // score (per-group calibration; a single global threshold would let the
    // model's majority-language bias gut the others) and account survivors
    // per source. ONE oracle replays the entire flow: 6 unrolled epochs +
    // pocket selection (the shared distillCtes chain) + margin scoring +
    // per-language rank cut + accounting.
    Q("q_quality_calibrated_curation",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val feats = Curation.perceptronFeatures(docs, "doc_id", "text",
          Seq("a", "the"), teacherThreshold = 250000L, nBuckets = 64)
        val wdf = Curation.distillPerceptronWith(feats, "doc_id",
          nBuckets = 64, epochs = 6)
        val margins = feats.select(col("doc_id"), col("bucket"))
          .join(broadcast(wdf.select(col("bucket"), col("weight"))), Seq("bucket"))
          .groupBy(col("doc_id")).agg(sum(col("weight")).as("score"))
        val scored = margins
          .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        Curation.percentileGate(scored, "doc_id", "lang", "score",
            keepPermille = 400)
          .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
          .groupBy(col("source"))
          .agg(count(lit(1)).cast(LongType).as("n_docs"),
            count(when(col("selected"), 1)).cast(LongType).as("n_kept"),
            coalesce(sum(when(col("selected"), col("score"))), lit(0L))
              .cast(LongType).as("margin_kept"))
          .orderBy(col("source"))
      },
      Some(s"""
        WITH $toksCte,
        ${CurationQueries.distillCtes(6)},
        mm AS (SELECT f.doc_id, SUM(bw.w) AS score
               FROM f JOIN bw USING (bucket) GROUP BY f.doc_id),
        dl AS (SELECT doc_id, lang, source FROM documents),
        scl AS (SELECT mm.doc_id, dl.lang, dl.source, mm.score
                FROM mm JOIN dl USING (doc_id)),
        nn2 AS (SELECT lang, COUNT(*) AS n FROM scl GROUP BY lang),
        rr AS (SELECT lang, source, doc_id, score,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY score DESC, doc_id) AS rk
               FROM scl),
        sel AS (SELECT rr.doc_id, rr.source, rr.score,
                       CASE WHEN rk <= (nn2.n * 400) // 1000
                            THEN 1 ELSE 0 END AS selected
                FROM rr JOIN nn2 USING (lang))
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(CASE WHEN selected = 1 THEN 1 END) AS BIGINT) AS n_kept,
               CAST(COALESCE(SUM(CASE WHEN selected = 1 THEN score END), 0)
                    AS BIGINT) AS margin_kept
        FROM sel GROUP BY source ORDER BY source"""),
      // Same exclusion as q_classifier_distill: this oracle REPLAYS the six
      // unrolled epochs (71.7 s in DuckDB at sf0.1 vs 4.9 s warm for the
      // whole Spark capstone — measured, SCALING.md) — including it would
      // double the DuckDB baseline single-handedly and make the headline
      // ratio meaningless in our favor. The Spark plan's scale posture is
      // proven by the x10 soak row (ratio 1.6) instead.
      bench = false),

    // ----- one-job multi-dimensional data card: docs / tokens / mean
    // quality per (source × lang) under CUBE — per-source rows, per-lang
    // rows, per-cell rows AND the corpus total from ONE aggregate job over
    // ONE scan. At 100 TB the scan IS the bill: a reporting layer that runs
    // four GROUP BYs reads the corpus four times; grouping sets read it
    // once and expand map-side. NULL dims coalesce to 'ALL' so both
    // engines' rollup nulls hash identically; the mean is the truncated
    // integer DIV with the sign-adjusted oracle form (scores can go
    // negative under stopword pressure).
    Q("q_data_card",
      (s, dir) => {
        val scored = Curation.qualityScore(t(s, dir, "documents"), "text",
            Seq("a", "the"), keepThreshold = Long.MinValue)
          .withColumn("ntok", size(TextFns.tokens(col("text"))).cast(LongType))
        scored.cube(col("source"), col("lang"))
          .agg(count(lit(1)).cast(LongType).as("n_docs"),
            sum(col("ntok")).cast(LongType).as("n_tokens"),
            expr("CAST(SUM(score) DIV COUNT(1) AS BIGINT)").as("mean_score"))
          .select(coalesce(col("source"), lit("ALL")).as("source"),
            coalesce(col("lang"), lit("ALL")).as("lang"),
            col("n_docs"), col("n_tokens"), col("mean_score"))
          .orderBy(col("source"), col("lang"))
      },
      Some(s"""
        WITH ${toksOf("doc_id, source, lang")},
        ${scoreCtes("source, lang", "CAST(len(t) AS BIGINT)")}
        SELECT COALESCE(source, 'ALL') AS source, COALESCE(lang, 'ALL') AS lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(ntok) AS BIGINT) AS n_tokens,
               CAST(CASE WHEN SUM(score) >= 0 THEN SUM(score) // COUNT(*)
                         ELSE -((-SUM(score)) // COUNT(*)) END AS BIGINT)
                 AS mean_score
        FROM sc GROUP BY CUBE(source, lang)
        ORDER BY COALESCE(source, 'ALL'), COALESCE(lang, 'ALL')""")),

    // ----- BPE merge-candidate mining: the most frequent adjacent token
    // pairs over the corpus — one training step of a BPE tokenizer,
    // distributed. Top-k is a TakeOrdered heap; ties break on the pair.
    Q("q_text_bpe_merges",
      (s, dir) =>
        Curation.bpeMergeCandidates(t(s, dir, "documents"), "text", 20)
          .orderBy(col("n").desc, col("pair")),
      Some("""
        WITH tk AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS t
                    FROM documents),
        p AS (SELECT unnest(list_transform(range(1, len(t)),
                       i -> t[i] || ' ' || t[i+1])) AS pair
              FROM tk WHERE len(t) >= 2)
        SELECT pair, COUNT(*) AS n FROM p
        GROUP BY pair ORDER BY n DESC, pair LIMIT 20""")),

    // ----- unigram rarity score (perplexity proxy without logs): mean
    // inverse token frequency per doc — the OOV/garbage detector. Every
    // step is counting + integer DIV, bit-exact across engines.
    Q("q_text_rarity",
      (s, dir) =>
        Curation.rarityScore(t(s, dir, "documents"), "doc_id", "text")
          .orderBy(col("doc_id")),
      Some("""
        WITH tk AS (SELECT doc_id,
                      unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
                    FROM documents),
        c AS (SELECT tok, COUNT(*) AS c FROM tk GROUP BY tok),
        tot AS (SELECT SUM(c) AS n_total FROM c),
        j AS (SELECT doc_id, n_total // c AS inv
              FROM tk JOIN c USING (tok) CROSS JOIN tot)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(inv) // COUNT(*) AS BIGINT) AS rarity
        FROM j GROUP BY doc_id ORDER BY doc_id""")),

    // ----- per-source quota cap (RefinedWeb-style domain capping): at most
    // 10 best-quality docs per source, on the bounded-heap TopKPerGroup
    // operator — one source-keyed exchange, no per-group sort. The sf0.01
    // corpus has 25 docs/source, so the cap BINDS at gate scale.
    Q("q_source_cap",
      (s, dir) =>
        Curation.sourceCap(t(s, dir, "documents"), "doc_id", "text", "source",
            Seq("a", "the"), perSource = 10)
          .select(col("source"), col("doc_id"),
            col("score").cast(LongType).as("score"),
            col("rank").cast(LongType).as("rank"))
          .orderBy(col("source"), col("rank")),
      Some(s"""
        WITH $toksCte,
        ${scoreCtes("doc_id, source")},
        r AS (SELECT source, doc_id, score,
                row_number() OVER (PARTITION BY source
                  ORDER BY score DESC, doc_id) AS rank
              FROM sc)
        SELECT source, doc_id, CAST(score AS BIGINT) AS score,
               CAST(rank AS BIGINT) AS rank
        FROM r WHERE rank <= 10 ORDER BY source, rank""")),

    // ----- epoch allocation under a token budget (data-constrained
    // scaling, Muennighoff et al. 2023): each source's isqrt-temperature
    // share of a 3x-unique-corpus budget becomes full epochs + a partial
    // remainder, capped at 3 epochs; refused tokens surface as leftover.
    // The budget derives from the corpus total inside the same 1-row
    // broadcast, so the cap boundary lands INSIDE the per-source spread at
    // every scale factor (some sources cap, others don't — both branches
    // exercised).
    Q("q_mix_epochs",
      (s, dir) =>
        graft.operators.Curation.epochAllocation(t(s, dir, "documents"),
            "source", "text", budgetNum = 3L, budgetDen = 1L, maxEpochs = 3L)
          .orderBy(col("source")),
      Some(s"""
        WITH $toksCte,
        per AS (SELECT source, CAST(SUM(len(t)) AS BIGINT) AS tokens
                FROM toks GROUP BY source),
        w AS (SELECT source, tokens,
                CAST(floor(sqrt(tokens)) AS BIGINT) AS weight FROM per),
        tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS tw,
                       CAST(SUM(tokens) AS BIGINT) AS tt FROM w),
        a AS (SELECT source, tokens, weight,
                CAST((((tt * 3) // 1) * weight) // tw AS BIGINT) AS alloc_tokens
              FROM w, tot),
        e AS (SELECT *, LEAST(alloc_tokens, tokens * 3) AS eff_tokens FROM a)
        SELECT source, tokens, weight, alloc_tokens,
               CAST(eff_tokens AS BIGINT) AS eff_tokens,
               CAST(eff_tokens // tokens AS BIGINT) AS full_epochs,
               CAST(eff_tokens % tokens AS BIGINT) AS partial_tokens,
               CAST(alloc_tokens - eff_tokens AS BIGINT) AS leftover
        FROM e ORDER BY source""")),

    // ----- deterministic shard balance report: Knuth-hash shard assignment
    // (decorrelated from sequential / per-source id ranges, unlike id mod n)
    // priced in docs and tokens per shard — the planning step before the
    // shard writer uses `shard` as its write-partition key.
    Q("q_shard_balance",
      (s, dir) =>
        graft.operators.Curation.shardBalance(t(s, dir, "documents"),
            "doc_id", "text", nShards = 8)
          .orderBy(col("shard")),
      Some(s"""
        WITH $toksCte,
        sh AS (SELECT ((doc_id % 2147483647) * 2654435761) % 2147483647 % 8
                 AS shard, len(t) AS ntok
               FROM toks),
        per AS (SELECT shard, COUNT(*) AS n_docs,
                  CAST(SUM(ntok) AS BIGINT) AS tokens
                FROM sh GROUP BY shard),
        tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS tt FROM per)
        SELECT CAST(shard AS BIGINT) AS shard, CAST(n_docs AS BIGINT) AS n_docs,
               tokens, CAST((tokens * 1000000) // tt AS BIGINT) AS tokens_ppm
        FROM per, tot ORDER BY shard""")),

    // ----- curriculum schedule (quality-phased data ordering): phase 0 =
    // best-quality quartile, phase 3 = worst; deterministic Knuth-hash
    // shuffle within each phase. Phase boundaries come from the SCORE
    // HISTOGRAM (ties never split), so no per-document global rank exists
    // anywhere in the plan — the assignment is one tiny histogram window +
    // one broadcast join at any corpus size.
    Q("q_curriculum_schedule",
      (s, dir) =>
        graft.operators.Curation.curriculumSchedule(t(s, dir, "documents"),
            "doc_id", "text", Seq("a", "the"), nPhases = 4)
          .orderBy(col("phase"), col("ord"), col("doc_id")),
      Some(s"""
        WITH $toksCte,
        ${scoreCtes("doc_id")},
        hist AS (SELECT score, COUNT(*) AS c FROM sc GROUP BY score),
        cuts AS (SELECT score,
                   COALESCE(SUM(c) OVER (ORDER BY score DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
                 FROM hist),
        tot AS (SELECT COUNT(*) AS n FROM sc)
        SELECT s.doc_id, CAST(s.score AS BIGINT) AS score,
               CAST((c.st * 4) // tot.n AS BIGINT) AS phase,
               CAST(((s.doc_id % 2147483647) * 2654435761) % 2147483647
                    AS BIGINT) AS ord
        FROM sc s JOIN cuts c USING (score), tot
        ORDER BY phase, ord, s.doc_id""")),

    // ----- training-run data plan CAPSTONE (round-15 composition): the
    // curriculum scheduler's quality phases crossed with a second
    // independent Knuth-hash shard split, accounted in docs and tokens per
    // (phase, shard) cell under ONE oracle — the plan a shard writer
    // executes to stream a quality-annealed, evenly-sharded corpus. The
    // shard hash uses a DIFFERENT multiplier than the within-phase shuffle
    // so position-in-phase and shard are decorrelated.
    Q("q_training_plan",
      (s, dir) => {
        val sched = graft.operators.Curation.curriculumSchedule(
          t(s, dir, "documents"), "doc_id", "text", Seq("a", "the"), nPhases = 4)
        val docs = t(s, dir, "documents")
          .select(col("doc_id"),
            size(TextFns.tokens(col("text"))).cast(LongType).as("ntok"))
        val per = sched.join(docs, Seq("doc_id"))
          .withColumn("shard",
            pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(2246822519L),
              lit(2147483647L)) % 4)
          .groupBy(col("phase"), col("shard"))
          .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("tokens"))
        val tot = per.agg(sum(col("tokens")).as("__tt"))
        per.crossJoin(broadcast(tot))
          .withColumn("tokens_ppm",
            expr("CAST((tokens * 1000000L) DIV __tt AS BIGINT)"))
          .select(col("phase"), col("shard"), col("n_docs"), col("tokens"),
            col("tokens_ppm"))
          .orderBy(col("phase"), col("shard"))
      },
      Some(s"""
        WITH $toksCte,
        ${scoreCtes("doc_id", "len(t)")},
        hist AS (SELECT score, COUNT(*) AS c FROM sc GROUP BY score),
        cuts AS (SELECT score,
                   COALESCE(SUM(c) OVER (ORDER BY score DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
                 FROM hist),
        tot AS (SELECT COUNT(*) AS n FROM sc),
        ph AS (SELECT s.doc_id, s.ntok,
                 CAST((c.st * 4) // tot.n AS BIGINT) AS phase
               FROM sc s JOIN cuts c USING (score), tot),
        sh AS (SELECT phase,
                 ((doc_id % 2147483647) * 2246822519) % 2147483647 % 4 AS shard,
                 ntok
               FROM ph),
        per AS (SELECT phase, shard, COUNT(*) AS n_docs,
                  CAST(SUM(ntok) AS BIGINT) AS tokens
                FROM sh GROUP BY phase, shard),
        t2 AS (SELECT CAST(SUM(tokens) AS BIGINT) AS tt FROM per)
        SELECT phase, CAST(shard AS BIGINT) AS shard,
               CAST(n_docs AS BIGINT) AS n_docs, tokens,
               CAST((tokens * 1000000) // tt AS BIGINT) AS tokens_ppm
        FROM per, t2 ORDER BY phase, shard""")),

    // ----- deterministic weighted Bernoulli sample: P(keep) = w / w_max
    // decided by exact integer arithmetic on the Knuth id-hash — the
    // probabilistic sibling of the best-first source cap (keeps the
    // low-quality tail with proportional probability instead of cutting
    // it). One 1-row max broadcast; the keep decision is map-side.
    Q("q_sample_weighted",
      (s, dir) => {
        val scored = graft.operators.Curation.qualityScore(
            t(s, dir, "documents"), "text", Seq("a", "the"),
            keepThreshold = Long.MinValue)
          .select(col("doc_id"), col("source"),
            greatest(col("score"), lit(1L)).as("w"))
        graft.operators.Curation.weightedBernoulli(scored, "w", "doc_id")
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH $toksCte,
        g AS (SELECT doc_id, source, GREATEST(len(t), 1) AS n,
                len(list_distinct(t)) AS nd,
                len(list_filter(t, x -> x = 'a' OR x = 'the')) AS ns
              FROM toks),
        sc AS (SELECT doc_id, source,
                 GREATEST(1000 * LEAST(n, 200)
                   + (500 * ((nd * 1000000) // n)) // 1000
                   - (300 * ((ns * 1000000) // n)) // 1000, 1) AS w
               FROM g),
        mx AS (SELECT MAX(w) AS wmax FROM sc)
        SELECT doc_id, source, CAST(w AS BIGINT) AS w
        FROM sc, mx
        WHERE (((doc_id % 2147483647) * 2654435761) % 2147483647) * wmax
              < 2147483647 * w
        ORDER BY doc_id""")),

    // ----- bigram-LM document score: integer ppm estimate of mean
    // P(w2|w1) under the corpus's own bigram counts — the perplexity-filter
    // decision without transcendental math (counting + DIV only, so both
    // engines agree bit-for-bit). Shuffles key on 64-bit pair/prefix hashes.
    Q("q_text_bigram_lm",
      (s, dir) =>
        Curation.bigramLmScore(t(s, dir, "documents"), "doc_id", "text",
            share = true)
          // bounded per-doc output: in-place sort, not a range-sampled
          // orderBy (one job less; the scoring aggregate stage stays wide)
          .repartition(1).sortWithinPartitions(col("doc_id")),
      Some("""
        WITH tk AS (SELECT doc_id,
                      string_split_regex(lower(trim(text)), '\s+') AS t
                    FROM documents),
        p AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
                 i -> t[i] || ' ' || t[i+1])) AS pair
              FROM tk WHERE len(t) >= 2),
        p2 AS (SELECT doc_id, pair, string_split(pair, ' ')[1] AS w1 FROM p),
        cp AS (SELECT pair, COUNT(*) AS cp FROM p2 GROUP BY pair),
        cw AS (SELECT w1, COUNT(*) AS cw FROM p2 GROUP BY w1),
        j AS (SELECT doc_id, (1000000 * cp) // cw AS ppm
              FROM p2 JOIN cp USING (pair) JOIN cw USING (w1))
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(ppm) // COUNT(*) AS BIGINT) AS lm_ppm
        FROM j GROUP BY doc_id ORDER BY doc_id""")),

    // ----- token-budget corpus selection: greedy best-quality-first prefix
    // under a token budget ("fill the training budget"). The oracle is the
    // brute-force global ordered cumsum; the Spark plan reaches the SAME
    // answer with a per-score-value histogram + broadcast threshold and an
    // ordered window over only the boundary tie-group (never a global sort
    // of the corpus).
    Q("q_token_budget_select",
      (s, dir) => {
        // budget 15000 < the sf0.01 corpus's ~27.3k tokens, so the boundary
        // tie-group machinery (histogram → threshold → boundary cumsum) is
        // exercised by the gate, not just the everything-fits sentinel.
        // Every output column pinned to BIGINT on BOTH sides: DuckDB's
        // SUM(BIGINT) is HUGEINT, which hash-canonicalizes differently from
        // Spark's long in the driver's compare layer (the round-5 red row).
        Curation.selectByTokenBudget(t(s, dir, "documents"), "doc_id", "text",
            Seq("a", "the"), budgetTokens = 15000L)
          .groupBy(col("source"))
          .agg(count(lit(1)).cast(LongType).as("n_docs"),
            count(when(col("selected"), 1)).cast(LongType).as("n_selected"),
            sum(when(col("selected"), col("ntok")).otherwise(lit(0L)))
              .cast(LongType).as("tok_selected"))
          .orderBy(col("source"))
      },
      Some(s"""
        WITH $toksCte,
        ${scoreCtes("doc_id, source", "CAST(len(t) AS BIGINT)")},
        ord AS (SELECT *, SUM(ntok) OVER (ORDER BY score DESC, doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
                FROM sc)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(CASE WHEN cum <= 15000 THEN 1 END) AS BIGINT) AS n_selected,
               CAST(COALESCE(SUM(CASE WHEN cum <= 15000 THEN ntok END), 0) AS BIGINT)
                 AS tok_selected
        FROM ord GROUP BY source ORDER BY source""")),

    // ----- collocation mining: top-20 adjacent pairs by integer lift
    // (10⁶·c(ab)·N DIV c(a)c(b) — the log-free PMI), min pair count 20.
    // The phrase-detection step of a tokenizer pipeline; every quantity is
    // a count or an integral division, bit-exact across engines.
    Q("q_text_collocations",
      (s, dir) =>
        Curation.collocations(t(s, dir, "documents"), "text", k = 20,
            minCount = 20L)
          .orderBy(col("lift_ppm").desc, col("pair")),
      Some("""
        WITH tk AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS t
                    FROM documents),
        uni AS (SELECT w, COUNT(*) AS cw
                FROM (SELECT unnest(t) AS w FROM tk) GROUP BY w),
        tot AS (SELECT CAST(SUM(cw) AS BIGINT) AS n_total FROM uni),
        p AS (SELECT unnest(list_transform(range(1, len(t)),
                i -> t[i] || ' ' || t[i+1])) AS pair
              FROM tk WHERE len(t) >= 2),
        pc AS (SELECT pair, COUNT(*) AS cab FROM p GROUP BY pair
               HAVING COUNT(*) >= 20),
        j AS (SELECT pair, cab, string_split(pair, ' ')[1] AS w1,
                string_split(pair, ' ')[2] AS w2
              FROM pc)
        SELECT pair, CAST(cab AS BIGINT) AS cab,
               CAST((CAST(1000000 AS HUGEINT) * cab * n_total)
                    // (CAST(u1.cw AS HUGEINT) * u2.cw) AS BIGINT) AS lift_ppm
        FROM j JOIN uni u1 ON j.w1 = u1.w JOIN uni u2 ON j.w2 = u2.w
        CROSS JOIN tot
        ORDER BY lift_ppm DESC, pair LIMIT 20""")),

    // ----- bounded-memory heavy hitters: exact top-20 tokens via the
    // Misra–Gries sketch-then-verify two-phase plan — the same answer as a
    // full token-shuffle top-k, but the exchange carries only candidate
    // occurrences (the 100 TB shape; see HeavyHitters scaladoc). At gate
    // scale the 31-token vocabulary fits the 4096-counter summary, so the
    // gate checks the sketch→merge→verify plumbing end-to-end against the
    // exact oracle; the eviction path + the n/capacity guarantee are
    // pinned by OperatorsSpec on a corpus built to exercise them.
    Q("q_text_heavy_hitters",
      (s, dir) =>
        graft.operators.HeavyHitters.topTokens(
            t(s, dir, "documents"), "text", k = 20, capacity = 4096)
          .orderBy(col("n").desc, col("tok")),
      Some("""
        WITH tk AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
                    FROM documents)
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
        FROM tk GROUP BY tok ORDER BY n DESC, tok LIMIT 20""")),

    // ----- EXECUTING the mixing plan: q_mix_weights computes per-source
    // temperature allocations; this query materializes the mix — each
    // source's ppm share of a 15000-token target becomes its budget, spent
    // best-quality-first (score DESC, doc_id) by a per-source cumsum
    // window. Per-source budgets (~750 tokens vs ~1365 available) BIND at
    // gate scale. One source-partitioned window — partition-bounded, never
    // a global sort; the 20-row budget table is broadcast.
    Q("q_mix_apply",
      (s, dir) => {
        val scored = Curation.qualityScore(t(s, dir, "documents"), "text",
            Seq("a", "the"), keepThreshold = Long.MinValue)
          .withColumn("ntok", TextFns.tokenCount(col("text")).cast(LongType))
        val per = scored.groupBy(col("source")).agg(sum(col("ntok")).as("tokens"))
          .withColumn("weight", floor(sqrt(col("tokens"))).cast(LongType))
        val tot = per.agg(sum(col("weight")).as("total_w"))
        val budgets = per.crossJoin(broadcast(tot))
          .select(col("source"), expr(
            "CAST(((1000000 * weight) DIV total_w) * 15000 DIV 1000000 AS BIGINT)")
            .as("budget"))
        val w = Window.partitionBy(col("source"))
          .orderBy(col("score").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, 0)
        scored.join(broadcast(budgets), "source")
          .withColumn("cum", sum(col("ntok")).over(w))
          .withColumn("selected", col("cum") <= col("budget"))
          .groupBy(col("source"))
          .agg(max(col("budget")).cast(LongType).as("budget"),
            count(lit(1)).cast(LongType).as("n_docs"),
            count(when(col("selected"), 1)).cast(LongType).as("n_selected"),
            sum(when(col("selected"), col("ntok")).otherwise(lit(0L)))
              .cast(LongType).as("tok_selected"))
          .orderBy(col("source"))
      },
      Some(s"""
        WITH $toksCte,
        ${scoreCtes("doc_id, source", "CAST(len(t) AS BIGINT)")},
        per AS (SELECT source, SUM(ntok) AS tokens FROM sc GROUP BY source),
        wgt AS (SELECT source, CAST(floor(sqrt(tokens)) AS BIGINT) AS weight FROM per),
        tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS total_w FROM wgt),
        bud AS (SELECT source,
                  CAST(((1000000 * weight) // total_w) * 15000 // 1000000 AS BIGINT)
                    AS budget
                FROM wgt, tot),
        cums AS (SELECT sc.source, sc.ntok, bud.budget,
                   SUM(sc.ntok) OVER (PARTITION BY sc.source
                     ORDER BY sc.score DESC, sc.doc_id
                     ROWS UNBOUNDED PRECEDING) AS cum
                 FROM sc JOIN bud USING (source))
        SELECT source, CAST(MAX(budget) AS BIGINT) AS budget,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(CASE WHEN cum <= budget THEN 1 END) AS BIGINT) AS n_selected,
               CAST(COALESCE(SUM(CASE WHEN cum <= budget THEN ntok END), 0) AS BIGINT)
                 AS tok_selected
        FROM cums GROUP BY source ORDER BY source""")),

    // ----- dedup-cluster closure: near-dup PAIRS (4-gram Jaccard ≥ 0.4)
    // grouped into connected components labeled by their min member — the
    // survivorship unit (a~b, b~c ⇒ one representative for {a,b,c}).
    // Spark: bounded-round min-label propagation; oracle: recursive closure.
    Q("q_dedup_components",
      (s, dir) => {
        val pairs = Dedup.ngramJaccardPairs(t(s, dir, "documents"),
          "doc_id", "text", 4, 0.4)
        Components.connectedComponents(pairs, "a_id", "b_id")
          .orderBy(col("node"))
      },
      Some(s"""
        WITH RECURSIVE $nearDupCompCtes
        SELECT node, component_id FROM comp ORDER BY node""")),

    // ----- cluster survivorship: one representative (min id) per near-dup
    // component plus the cluster size — the actual deletion-list shape a
    // dedup pipeline ships (everything clustered that is not its component's
    // representative gets dropped).
    // ----- quality-aware survivorship (the FineWeb refinement): per
    // near-dup component keep the HIGHEST-quality member (ties → lowest
    // id) instead of the lowest id — when copies differ, the cleanest
    // phrasing survives. Composes the pair generation, closure, and the
    // integer quality score under one oracle; the oracle replays the
    // recursive closure and the argmax via a window.
    Q("q_dedup_survivor_quality",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 4, 0.4)
        val comp = Components.connectedComponents(pairs, "a_id", "b_id")
        val scored = Curation.qualityScore(docs, "text", Seq("a", "the"),
          keepThreshold = Long.MinValue)
        Components.survivorsByQuality(comp, scored, "doc_id", "score")
          .select(col("component_id"), col("survivor_id"),
            col("survivor_score").cast(LongType).as("survivor_score"),
            col("n_members").cast(LongType).as("n_members"))
          .orderBy(col("component_id"))
      },
      Some(s"""
        WITH RECURSIVE $nearDupCompCtes,
        ${scoreCtes("doc_id")},
        j AS (SELECT comp.component_id, comp.node, sc.score
              FROM comp JOIN sc ON comp.node = sc.doc_id),
        r AS (SELECT *,
                row_number() OVER (PARTITION BY component_id
                                   ORDER BY score DESC, node ASC) AS rn,
                COUNT(*) OVER (PARTITION BY component_id) AS n_members
              FROM j)
        SELECT component_id, node AS survivor_id,
               CAST(score AS BIGINT) AS survivor_score,
               CAST(n_members AS BIGINT) AS n_members
        FROM r WHERE rn = 1 ORDER BY component_id""")),

    // ----- dedup drop AUDIT (the explainability row a production dedup
    // ships next to its deletion list: for EVERY dropped document, which
    // survivor displaced it and by how much — "why was my doc dropped" is
    // answerable without re-running the pipeline). Composes the pair
    // generation, closure, and quality-argmax under one oracle; the
    // deficit column is the evidence (0 = pure id tiebreak, >0 = quality).
    Q("q_dedup_audit",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 4, 0.4)
        val comp = Components.connectedComponents(pairs, "a_id", "b_id")
        val scored = Curation.qualityScore(docs, "text", Seq("a", "the"),
            keepThreshold = Long.MinValue)
          .select(col("doc_id"), col("score"))
        val surv = Components.survivorsByQuality(comp, scored, "doc_id", "score")
        comp.join(surv, Seq("component_id"))
          .filter(col("node") =!= col("survivor_id"))
          .join(scored.withColumnRenamed("doc_id", "node")
            .withColumnRenamed("score", "dropped_score"), Seq("node"))
          .select(col("node").as("dropped_id"), col("survivor_id"),
            col("component_id"),
            col("dropped_score").cast(LongType).as("dropped_score"),
            col("survivor_score").cast(LongType).as("survivor_score"),
            (col("survivor_score") - col("dropped_score"))
              .cast(LongType).as("score_deficit"))
          .orderBy(col("dropped_id"))
      },
      Some(s"""
        WITH RECURSIVE $nearDupCompCtes,
        ${scoreCtes("doc_id")},
        j AS (SELECT comp.component_id, comp.node, sc.score
              FROM comp JOIN sc ON comp.node = sc.doc_id),
        srv AS (SELECT component_id, node AS survivor_id, score AS s_score
                FROM (SELECT *,
                        row_number() OVER (PARTITION BY component_id
                          ORDER BY score DESC, node ASC) AS rn
                      FROM j) x WHERE rn = 1)
        SELECT j.node AS dropped_id, srv.survivor_id, j.component_id,
               CAST(j.score AS BIGINT) AS dropped_score,
               CAST(srv.s_score AS BIGINT) AS survivor_score,
               CAST(srv.s_score - j.score AS BIGINT) AS score_deficit
        FROM j JOIN srv USING (component_id)
        WHERE j.node <> srv.survivor_id
        ORDER BY dropped_id""")),

    Q("q_dedup_survivors",
      (s, dir) => {
        val pairs = Dedup.ngramJaccardPairs(t(s, dir, "documents"),
          "doc_id", "text", 4, 0.4)
        Components.survivors(
          Components.connectedComponents(pairs, "a_id", "b_id"))
          .orderBy(col("survivor_id"))
      },
      Some(s"""
        WITH RECURSIVE $nearDupCompCtes
        SELECT component_id AS survivor_id, COUNT(*) AS n_members
        FROM comp GROUP BY component_id ORDER BY survivor_id""")),

    // ----- leakage-safe train/test split: a naive per-document hash split
    // puts near-duplicates on BOTH sides of the cut — the eval set then
    // scores memorization, not generalization. Here the split unit is the
    // near-dup CLUSTER: every document in a connected component shares its
    // component's fate (singletons are their own group), assigned by the
    // same engine-portable Knuth multiplicative hash the sampling operators
    // use — deterministic, reproducible anywhere, no RNG. Scale shape =
    // q_dedup_components (banded pair gen + closure) plus one broadcast-able
    // left join of the component map against the corpus.
    Q("q_split_leakage_safe",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 4, 0.4)
        val comp = Components.connectedComponents(pairs, "a_id", "b_id")
        docs.select(col("doc_id"))
          .join(comp.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
          .withColumn("group_id", coalesce(col("component_id"), col("doc_id")))
          .withColumn("split",
            when(pmod(pmod(col("group_id"), lit(2147483647L)) * lit(2654435761L),
                      lit(2147483647L)) % 10 < 8, "train").otherwise("test"))
          .select(col("doc_id"), col("group_id"), col("split"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH RECURSIVE $nearDupCompCtes
        SELECT d.doc_id,
               COALESCE(comp.component_id, d.doc_id) AS group_id,
               CASE WHEN (COALESCE(comp.component_id, d.doc_id) % 2147483647)
                         * 2654435761 % 2147483647 % 10 < 8
                    THEN 'train' ELSE 'test' END AS split
        FROM documents d LEFT JOIN comp ON d.doc_id = comp.node
        ORDER BY d.doc_id""")),

    // ----- temperature-style domain mixing weights (α = 0.5): weight each
    // source by isqrt(tokens) — exact integer arithmetic end-to-end (IEEE
    // sqrt is correctly rounded, floor makes it an integer in both engines),
    // so shares and token allocations are engine-exact. The corpus total
    // rides in on a broadcast cross join of a 1-row aggregate, not a global
    // window.
    Q("q_mix_weights",
      (s, dir) => {
        val per = t(s, dir, "documents")
          .withColumn("ntok", size(TextFns.tokens(col("text"))).cast(LongType))
          .groupBy(col("source")).agg(sum(col("ntok")).as("tokens"))
          .withColumn("weight", floor(sqrt(col("tokens"))).cast(LongType))
        val tot = per.agg(sum(col("weight")).as("total_w"))
        per.crossJoin(broadcast(tot))
          .withColumn("share",
            col("weight").cast(DoubleType) / col("total_w").cast(DoubleType))
          .withColumn("alloc_tokens", expr("CAST((1000000 * weight) DIV total_w AS BIGINT)"))
          .select(col("source"), col("tokens"), col("weight"), col("share"),
            col("alloc_tokens"))
          .orderBy(col("source"))
      },
      Some(s"""
        WITH $toksCte,
        per AS (SELECT source, CAST(SUM(len(t)) AS BIGINT) AS tokens
                FROM toks GROUP BY source),
        w AS (SELECT source, tokens,
                CAST(floor(sqrt(tokens)) AS BIGINT) AS weight FROM per),
        tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS total_w FROM w)
        SELECT source, tokens, weight,
               CAST(weight AS DOUBLE) / CAST(total_w AS DOUBLE) AS share,
               CAST((1000000 * weight) // total_w AS BIGINT) AS alloc_tokens
        FROM w, tot ORDER BY source""")),

    // ----- END-TO-END corpus preparation: the full CorpusPipeline (quality
    // gate → PII scrub → exact dedup → near-dup removal → deterministic
    // split) hash-checked as ONE oracle — every stage mirrored in SQL. The
    // strongest correctness statement in the registry: not just each
    // operator, but their composition. The near-dup leg is MinHash-LSH
    // (per-doc sketch + banded self-join — the method production
    // pipelines run at corpus scale), replayed in SQL as the 8-permutation
    // signature + 2-band candidate join. Exact-Jaccard near-dup removal is
    // oracle-covered at operator granularity (q_dedup_ngram_jaccard).
    Q("q_corpus_pipeline",
      (s, dir) => {
        // Loan wrapper: materialize the (small) projected answer eagerly
        // inside the loan, so the pipeline's persisted survivor stage is
        // ALWAYS released before the frame reaches the consumer — the caller
        // only ever sees checkpoint blocks, and the heavyweight cache never
        // outlives this function (a leaked cache made the warm bench run
        // SLOWER than cold in round 4).
        graft.operators.CorpusPipeline.withPrepared(
            t(s, dir, "documents"), "doc_id", "text") { r =>
          graft.Materialize.eager(r.corpus
            .select(col("doc_id"), md5(col("text")).as("text_fp"), col("split")))
        }.orderBy(col("doc_id"))
      },
      Some(s"""
        WITH t0 AS (SELECT doc_id, text,
                      string_split_regex(lower(trim(text)), '\\s+') AS t
                    FROM documents),
        gated AS (
          SELECT doc_id, text FROM t0
          WHERE len(t) >= 20 AND
            (CASE WHEN len(t) >= 3 THEN
               1.0 - CAST(len(list_distinct(list_transform(range(1, len(t) - 1),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS DOUBLE)
                     / (len(t) - 2)
             ELSE 0.0 END) <= 0.5),
        scrub AS (SELECT doc_id,
                    regexp_replace(regexp_replace(text,
                      '${graft.functions.TextFns.emailRe}', '[EMAIL]', 'g'),
                      '${graft.functions.TextFns.phoneRe}', '[PHONE]', 'g') AS text
                  FROM gated),
        keepers AS (SELECT MIN(doc_id) AS doc_id FROM scrub GROUP BY md5(text)),
        ex AS (SELECT doc_id, text FROM scrub
               WHERE doc_id IN (SELECT doc_id FROM keepers)),
        toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
                 FROM ex),
        sh0 AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 2),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS sh
                FROM toks WHERE len(t) >= 4),
        shd AS (SELECT DISTINCT doc_id, sh FROM sh0),
        hashed AS (SELECT doc_id, ${graft.functions.TextFns.polyHashSql("sh")} AS h
                   FROM shd),
        sig AS (SELECT doc_id,
                  ${graft.functions.TextFns.minhashPerms.zipWithIndex.map {
                    case ((a, b), i) =>
                      s"min((h * $a + $b) % ${graft.functions.TextFns.minhashP}) AS m$i"
                  }.mkString(",\n                  ")}
                FROM hashed GROUP BY doc_id),
        banded AS (SELECT *,
              concat_ws('-', m0, m1, m2, m3) AS band0,
              concat_ws('-', m4, m5, m6, m7) AS band1
            FROM sig),
        cand AS (${
          val matchSum = (0 until 8)
            .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
          (0 to 1).map { j =>
            s"""SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                CAST($matchSum AS DOUBLE) / 8 AS est_jaccard
              FROM banded a JOIN banded b
                ON a.band$j = b.band$j AND a.doc_id < b.doc_id"""
          }.mkString(" UNION ")}),
        losers AS (SELECT DISTINCT b_id AS doc_id FROM cand
                   WHERE est_jaccard >= 0.85),
        final AS (SELECT doc_id, text FROM ex
                  WHERE doc_id NOT IN (SELECT doc_id FROM losers))
        SELECT doc_id, md5(text) AS text_fp,
               CASE WHEN ${graft.functions.TextFns.polyHashSql("CAST(doc_id AS VARCHAR)")} % 100 < 80
                    THEN 'train' ELSE 'test' END AS split
        FROM final ORDER BY doc_id""")),

    // ----- SCD2 history from a change log: one row per state version with
    // [valid_from, valid_to) and is_current; consecutive duplicate states
    // collapse. Two windows over ONE (user_id) shuffle — no self-join.
    Q("q_scd2_history",
      (s, dir) =>
        Scd2.fromChangeLog(t(s, dir, "events"), "user_id", "ts", "event_id",
            "event_type")
          .orderBy(col("user_id"), col("valid_from"), col("event_id")),
      Some("""
        WITH ordered AS (
          SELECT user_id, ts, event_id, event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS prev
          FROM events),
        versions AS (
          SELECT user_id, event_type, ts AS valid_from, event_id
          FROM ordered WHERE prev IS NULL OR prev <> event_type),
        hist AS (
          SELECT user_id, event_type, valid_from, event_id,
                 lead(valid_from) OVER (PARTITION BY user_id
                   ORDER BY valid_from, event_id) AS valid_to
          FROM versions)
        SELECT user_id, event_type, valid_from, valid_to,
               (valid_to IS NULL) AS is_current, event_id
        FROM hist ORDER BY user_id, valid_from, event_id""")),

    // ----- DSIR-style importance selection (Xie et al. 2023): hashed
    // unigram bucket counts (256 buckets, portable polyHash) for the
    // English subset as TARGET vs the whole corpus as RAW; every doc scores
    // the integer sum of its tokens' add-one-smoothed ppm target/raw
    // ratios; top 64 by length-normalized mean selected deterministically.
    // The oracle replays buckets, counts, weights, scores, and the
    // (mean_w DESC, doc_id) cut bit-for-bit — the selection a 100 TB crawl
    // runs map-side with the ≤256-entry weight table as a plan literal.
    Q("q_text_dsir_select",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Curation.importanceSelect(docs, docs.filter(col("lang") === "en"),
            "doc_id", "text", nBuckets = 256, keep = 64)
          .orderBy(col("mean_w").desc, col("doc_id"))
      },
      Some(s"""
        WITH tok AS (SELECT doc_id, lang,
                            string_split_regex(lower(trim(text)), '\\s+') AS t
                     FROM documents),
        tl AS (SELECT doc_id, lang, unnest(t) AS w FROM tok),
        hb AS (SELECT doc_id, lang, ${TextFns.polyHashSql("w")} % 256 AS b FROM tl),
        rc AS (SELECT b, COUNT(*) AS rcnt FROM hb GROUP BY b),
        tcx AS (SELECT b, COUNT(*) AS tcnt FROM hb WHERE lang = 'en' GROUP BY b),
        g AS (SELECT CAST(gs.g AS BIGINT) AS b FROM generate_series(0, 255) gs(g)),
        wt AS (SELECT g.b,
                      ((COALESCE(tcnt, 0) + 1) * 1000000)
                        // (COALESCE(rcnt, 0) + 1) AS w
               FROM g LEFT JOIN rc ON g.b = rc.b LEFT JOIN tcx ON g.b = tcx.b),
        sc AS (SELECT hb.doc_id, SUM(wt.w) AS score, COUNT(*) AS n
               FROM hb JOIN wt ON hb.b = wt.b GROUP BY hb.doc_id)
        SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
               CAST(score AS BIGINT) AS score,
               CAST(score // n AS BIGINT) AS mean_w
        FROM sc ORDER BY mean_w DESC, doc_id LIMIT 64""")),

    // ----- distributed BPE merge-table TRAINING (Sennrich et al. 2016),
    // 4 rounds: word-frequency dictionary (one corpus shuffle), then each
    // round a vocab-sized weighted pair count + deterministic argmax +
    // map-side merge apply. The delimited `(sym)` representation makes the
    // merge pass a plain leftmost-non-overlapping `replace` on BOTH
    // engines, so the oracle unrolls all 4 data-dependent rounds and must
    // reproduce the learned table bit-for-bit.
    Q("q_text_bpe_train",
      (s, dir) =>
        Curation.trainBpe(t(s, dir, "documents"), "text", nMerges = 4)
          .orderBy(col("round")),
      Some {
        def sCte(i: Int) =
          s"s$i AS (SELECT freq, regexp_extract_all(seq, '\\(([^)]*)\\)', 1) AS s FROM v${i - 1})"
        def pCte(i: Int) =
          s"""p$i AS (SELECT u.pair, SUM(u.freq) AS n FROM (
                SELECT freq, unnest(list_transform(range(1, len(s)),
                  i2 -> s[i2] || ' ' || s[i2 + 1])) AS pair
                FROM s$i WHERE len(s) >= 2) u GROUP BY u.pair)"""
        def wCte(i: Int) =
          s"w$i AS (SELECT split_part(pair, ' ', 1) AS a, " +
          s"split_part(pair, ' ', 2) AS b, n FROM p$i ORDER BY n DESC, pair LIMIT 1)"
        def vCte(i: Int) =
          s"""v$i AS (SELECT replace(seq,
                '(' || (SELECT a FROM w$i) || ')(' || (SELECT b FROM w$i) || ')',
                '(' || (SELECT a FROM w$i) || (SELECT b FROM w$i) || ')') AS seq,
                freq FROM v${i - 1})"""
        val rounds = (1 to 4).flatMap(i =>
          Seq(sCte(i), pCte(i), wCte(i)) ++ (if (i < 4) Seq(vCte(i)) else Nil))
          .mkString(",\n        ")
        s"""
        WITH toks2 AS (SELECT string_split_regex(lower(trim(text)), '\\s+') AS t
                       FROM documents),
        words AS (SELECT unnest(t) AS w FROM toks2),
        vocab AS (SELECT w, COUNT(*) AS freq FROM words
                  WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY w),
        v0 AS (SELECT list_aggregate(list_transform(string_split(w, ''),
                 c -> '(' || c || ')'), 'string_agg', '') AS seq, freq
               FROM vocab),
        $rounds
        SELECT CAST(1 AS BIGINT) AS round, a AS lhs, b AS rhs,
               CAST(n AS BIGINT) AS freq FROM w1
        UNION ALL SELECT CAST(2 AS BIGINT), a, b, CAST(n AS BIGINT) FROM w2
        UNION ALL SELECT CAST(3 AS BIGINT), a, b, CAST(n AS BIGINT) FROM w3
        UNION ALL SELECT CAST(4 AS BIGINT), a, b, CAST(n AS BIGINT) FROM w4
        ORDER BY round"""
      })
  )
}
