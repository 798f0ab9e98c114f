package graft.queries

import graft.Q
import graft.Q._
import graft.functions.TextFns
import graft.operators.{CountMin, Curation, Dedup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-hygiene operators rounding out the training-data pipeline:
  * the C4 structural ruleset, cross-document line dedup (the C4
  * sentence-dedup shape), duplicated-substring coverage (the suffix-array
  * dedup measurement), Count-Min frequency sketching, and winnowing
  * fingerprints (the MOSS document-fingerprint selection).
  *
  * Scale posture mirrors the rest of the dedup family: map-side HOF
  * feature extraction, shuffles keyed only on content hashes / line keys
  * with map-side partial aggregation, and no pair explosion anywhere.
  * All arithmetic is engine-portable integers so every query is
  * hash-compared against its DuckDB oracle.
  */
object CorpusQueries {

  /** The fixture corpus has no newline structure, so line-rule queries
    * rebuild each document as 8-token lines IN-QUERY on both engines —
    * odd lines get a terminal period (the C4 line rule binds both ways),
    * and doc-level violations are planted by doc_id residue.
    */
  private val lineifySparkSql =
    """transform(sequence(1, size(__t0), 8),
         st -> concat(array_join(slice(__t0, st, 8), ' '),
                      IF(((st DIV 8) % 2) = 0, '.', '')))"""
  private val lineifyDuckSql =
    """list_transform(range(1, len(t0) + 1, 8),
         st -> array_to_string(t0[st:st+7], ' ')
               || CASE WHEN (st // 8) % 2 = 0 THEN '.' ELSE '' END)"""

  val qs: Seq[Q] = Seq(

    // ----- the C4 structural ruleset (Raffel et al. 2020 §2.2): terminal
    // punctuation + >=5 words per line, >=3 sentences per doc, lorem-ipsum
    // and curly-brace rejection. Lines are synthesized in-query on both
    // engines (see lineify*) so the line rules BIND at every fixture SF:
    // odd lines end in '.', even lines don't; every 11th doc gets a planted
    // lorem-ipsum line, every 13th a code line with a brace; natural short
    // docs fall under the 3-sentence floor.
    Q("q_text_c4_quality",
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
          .withColumn("__t0", TextFns.tokens(col("text")))
          .withColumn("__ls", expr(lineifySparkSql))
          .withColumn("text", concat(
            when(col("doc_id") % 11 === 0,
              lit("lorem ipsum dolor sit amet consectetur.\n")).otherwise(lit("")),
            array_join(col("__ls"), "\n"),
            when(col("doc_id") % 13 === 0,
              lit("\nfunction f() { return 1; }")).otherwise(lit(""))))
          .drop("__t0", "__ls")
        Curation.c4QualitySignals(docs, "doc_id", "text",
            minLineWords = 5L, minSentences = 3L)
          .select(col("doc_id"), col("n_lines"), col("n_kept_lines"),
            col("kept_line_ppm"), col("n_sentences"), col("has_lorem"),
            col("has_brace"), col("keep"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH base AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t0
          FROM documents),
        aug AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 11 = 0
                      THEN 'lorem ipsum dolor sit amet consectetur.' || chr(10)
                      ELSE '' END
                 || array_to_string($lineifyDuckSql, chr(10))
                 || CASE WHEN doc_id % 13 = 0
                         THEN chr(10) || 'function f() {{ return 1; }}'
                         ELSE '' END AS text
          FROM base),
        feat AS (
          SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM aug),
        sig AS (
          SELECT doc_id,
                 CAST(len(ls) AS BIGINT) AS n_lines,
                 CAST(len(list_filter(ls, l ->
                        (ends_with(rtrim(l), '.') OR ends_with(rtrim(l), '!')
                         OR ends_with(rtrim(l), '?') OR ends_with(rtrim(l), '"'))
                        AND len(string_split_regex(trim(l), '\\s+')) >= 5
                        AND trim(l) != '')) AS BIGINT) AS n_kept_lines,
                 CAST(length(text)
                      - length(replace(replace(replace(text, '.', ''),
                                               '!', ''), '?', ''))
                      AS BIGINT) AS n_sentences,
                 contains(lower(text), 'lorem ipsum') AS has_lorem,
                 contains(text, '{{') AS has_brace
          FROM feat)
        SELECT doc_id, n_lines, n_kept_lines,
               n_kept_lines * 1000000 // greatest(n_lines, 1) AS kept_line_ppm,
               n_sentences, has_lorem, has_brace,
               (n_sentences >= 3 AND NOT has_lorem AND NOT has_brace
                AND n_kept_lines >= 1) AS keep
        FROM sig ORDER BY doc_id""")),

    // ----- quality-GATE comparison matrix (the sibling of the dedup
    // granularity matrix): the four gate families — C4 structural, Gopher
    // structural, the linear classifier, and the per-language percentile
    // cut — priced on ONE shared augmented corpus as removal counts plus
    // every pairwise both-removed overlap, 10 rows from one flags frame.
    // The "which gate does my corpus need, and how redundant are they"
    // measurement run BEFORE committing a gate stack. Augmentation is the
    // union of the two structural rows' plantings minus the lorem/brace
    // legs (their oracle-side text literals differ from Spark's by brace
    // doubling — harmless for C4's own outputs, but Gopher's
    // mean-word-length WOULD see the extra byte; C4 still binds here via
    // the sentence floor). One checkpointed aug corpus feeds all four
    // legs; the matrix aggregate is one job.
    Q("q_quality_gate_matrix",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("text"))
          .withColumn("__t0", TextFns.tokens(col("text")))
          .withColumn("__ls", expr(lineifySparkSql))
          .withColumn("text", concat(
            when(col("doc_id") % 5 === 0,
              lit("- planted bullet item\n* second planted item\n"))
              .otherwise(lit("")),
            array_join(col("__ls"), "\n"),
            when(col("doc_id") % 7 === 0,
              lit("\nto be continued...\nread the next part..."))
              .otherwise(lit("")),
            when(col("doc_id") % 3 === 0, lit("\nthe and of that"))
              .otherwise(lit(""))))
          .drop("__t0", "__ls")
        // spread before the checkpoint: built off the unsplittable one-
        // row-group scan the aug corpus lands in ONE partition and all
        // four gate legs' tokenize/signal kernels run serial (measured
        // 195–451 ms 1-task stages); spread once, every leg parallelizes
        val aug = graft.Materialize.eager(graft.Tables.spread(docs))
        val c4 = Curation.c4QualitySignals(aug, "doc_id", "text",
            minLineWords = 5L, minSentences = 3L)
          .select(col("doc_id"), col("keep").as("k_c4"))
        val gop = Curation.gopherQualitySignals(aug, "doc_id", "text",
            minTokens = 30L)
          .select(col("doc_id"), col("keep").as("k_gop"))
        val scored = Curation.qualityScore(aug, "text", Seq("a", "the"),
          keepThreshold = 250000L)
        val cls = scored.select(col("doc_id"), col("keep").as("k_cls"))
        val pct = Curation.percentileGate(
            scored.select(col("doc_id"), col("lang"), col("score")),
            "doc_id", "lang", "score", keepPermille = 400)
          .select(col("doc_id"), col("selected").as("k_pct"))
        val flags = c4.join(gop, Seq("doc_id")).join(cls, Seq("doc_id"))
          .join(pct, Seq("doc_id"))
        val gates = Seq(("c4", "k_c4"), ("classifier", "k_cls"),
          ("gopher", "k_gop"), ("percentile", "k_pct"))
        val pairs = for {
          i <- gates.indices; j <- gates.indices if i <= j
        } yield (gates(i), gates(j))
        val aggCols = pairs.zipWithIndex.map { case (((_, ca), (_, cb)), ix) =>
          count(when(!col(ca) && !col(cb), 1)).cast(LongType).as(s"c$ix")
        }
        val stackSql = s"stack(${pairs.length}, " + pairs.zipWithIndex.map {
          case (((na, _), (nb, _)), ix) => s"'$na', '$nb', c$ix"
        }.mkString(", ") + ") AS (gate_a, gate_b, n_both_removed)"
        flags.agg(aggCols.head, aggCols.tail: _*)
          .select(expr(stackSql))
          .orderBy(col("gate_a"), col("gate_b"))
      },
      Some(s"""
        WITH base AS (
          SELECT doc_id, lang,
                 string_split_regex(lower(trim(text)), '\\s+') AS t0
          FROM documents),
        aug AS (
          SELECT doc_id, lang,
                 CASE WHEN doc_id % 5 = 0
                      THEN '- planted bullet item' || chr(10) ||
                           '* second planted item' || chr(10) ELSE '' END
                 || array_to_string($lineifyDuckSql, chr(10))
                 || CASE WHEN doc_id % 7 = 0
                         THEN chr(10) || 'to be continued...' || chr(10) ||
                              'read the next part...' ELSE '' END
                 || CASE WHEN doc_id % 3 = 0
                         THEN chr(10) || 'the and of that' ELSE '' END AS text
          FROM base),
        feat AS (
          SELECT doc_id, lang, text,
                 string_split_regex(lower(trim(text)), '\\s+') AS t,
                 string_split(text, chr(10)) AS ls
          FROM aug),
        c4 AS (
          SELECT doc_id,
                 (length(text)
                    - length(replace(replace(replace(text, '.', ''),
                                             '!', ''), '?', '')) >= 3
                  AND NOT contains(lower(text), 'lorem ipsum')
                  AND NOT contains(text, '{{')
                  AND len(list_filter(ls, l ->
                        (ends_with(rtrim(l), '.') OR ends_with(rtrim(l), '!')
                         OR ends_with(rtrim(l), '?') OR ends_with(rtrim(l), '"'))
                        AND len(string_split_regex(trim(l), '\\s+')) >= 5
                        AND trim(l) != '')) >= 1) AS k_c4
          FROM feat),
        gop AS (
          SELECT doc_id,
                 (len(t) BETWEEN 30 AND 100000
                  AND list_sum(list_transform(t, x -> length(x))) * 1000
                        // greatest(len(t), 1) BETWEEN 3000 AND 10000
                  AND len(list_filter(t, x -> x = '#' OR contains(x, '...')))
                        * 1000000 // greatest(len(t), 1) <= 100000
                  AND len(list_filter(ls, l -> starts_with(ltrim(l), '- ')
                                            OR starts_with(ltrim(l), '* ')))
                        * 1000000 // greatest(len(ls), 1) <= 500000
                  AND len(list_filter(ls, l -> ends_with(rtrim(l), '...')))
                        * 1000000 // greatest(len(ls), 1) <= 300000
                  AND len(list_filter(t, x -> regexp_matches(x, '[a-z]')))
                        * 1000000 // greatest(len(t), 1) >= 800000
                  AND len(list_filter(['the','be','to','of','and','that','have','with'],
                        w -> list_contains(t, w))) >= 2) AS k_gop
          FROM feat),
        sc AS (
          SELECT doc_id, lang,
                 1000 * LEAST(GREATEST(len(t), 1), 200)
                   + (500 * ((len(list_distinct(t)) * 1000000)
                             // GREATEST(len(t), 1))) // 1000
                   - (300 * ((len(list_filter(t, x -> x = 'a' OR x = 'the'))
                              * 1000000) // GREATEST(len(t), 1))) // 1000 AS score
          FROM feat),
        cls AS (SELECT doc_id, score >= 250000 AS k_cls FROM sc),
        nn AS (SELECT lang, COUNT(*) AS n FROM sc GROUP BY lang),
        rr AS (SELECT lang, doc_id,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY score DESC, doc_id) AS rk
               FROM sc),
        pct AS (SELECT rr.doc_id, rk <= (nn.n * 400) // 1000 AS k_pct
                FROM rr JOIN nn USING (lang)),
        flags AS (
          SELECT c4.doc_id, k_c4, k_gop, k_cls, k_pct
          FROM c4 JOIN gop USING (doc_id) JOIN cls USING (doc_id)
          JOIN pct USING (doc_id)),
        m AS (
          SELECT 'c4' AS gate_a, 'c4' AS gate_b,
                 COUNT(CASE WHEN NOT k_c4 AND NOT k_c4 THEN 1 END) AS n FROM flags
          UNION ALL SELECT 'c4', 'classifier',
                 COUNT(CASE WHEN NOT k_c4 AND NOT k_cls THEN 1 END) FROM flags
          UNION ALL SELECT 'c4', 'gopher',
                 COUNT(CASE WHEN NOT k_c4 AND NOT k_gop THEN 1 END) FROM flags
          UNION ALL SELECT 'c4', 'percentile',
                 COUNT(CASE WHEN NOT k_c4 AND NOT k_pct THEN 1 END) FROM flags
          UNION ALL SELECT 'classifier', 'classifier',
                 COUNT(CASE WHEN NOT k_cls AND NOT k_cls THEN 1 END) FROM flags
          UNION ALL SELECT 'classifier', 'gopher',
                 COUNT(CASE WHEN NOT k_cls AND NOT k_gop THEN 1 END) FROM flags
          UNION ALL SELECT 'classifier', 'percentile',
                 COUNT(CASE WHEN NOT k_cls AND NOT k_pct THEN 1 END) FROM flags
          UNION ALL SELECT 'gopher', 'gopher',
                 COUNT(CASE WHEN NOT k_gop AND NOT k_gop THEN 1 END) FROM flags
          UNION ALL SELECT 'gopher', 'percentile',
                 COUNT(CASE WHEN NOT k_gop AND NOT k_pct THEN 1 END) FROM flags
          UNION ALL SELECT 'percentile', 'percentile',
                 COUNT(CASE WHEN NOT k_pct AND NOT k_pct THEN 1 END) FROM flags)
        SELECT gate_a, gate_b, CAST(n AS BIGINT) AS n_both_removed
        FROM m ORDER BY gate_a, gate_b""")),

    // ----- cross-document exact line dedup (the C4 sentence-dedup shape):
    // keep only the globally-first occurrence of every distinct line.
    // Lines are 3-token chunks (the tiny fixture vocabulary makes 3-token
    // lines collide across documents naturally, so the dedup BINDS).
    // Spark tags first occurrences via groupBy-min (map-side combine — a
    // hot line ships one candidate per map partition, where a window
    // would ship every copy to one reducer); the oracle uses the
    // equivalent row_number formulation.
    Q("q_text_line_dedup",
      (s, dir) => {
        val lines = t(s, dir, "documents")
          .select(col("doc_id"), TextFns.tokens(col("text")).as("__t"))
          .filter(size(col("__t")) >= 1)
          .select(col("doc_id"),
            posexplode(TextFns.chunkExpr("__t", 3, 3)).as(Seq("pos", "line")))
        Dedup.dedupLineStats(lines, "doc_id", "pos", "line")
          .withColumn("removed_ppm",
            expr("(n_lines - n_kept) * 1000000L DIV greatest(n_lines, 1L)"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH base AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
          FROM documents WHERE len(string_split_regex(lower(trim(text)), '\s+')) >= 1),
        lines AS (
          SELECT doc_id, u.pos AS pos, u.line AS line FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t) + 1, 3),
                     st -> struct_pack(pos := st,
                                       line := array_to_string(t[st:st+2], ' ')))) AS u
            FROM base) q),
        marked AS (
          SELECT doc_id,
                 CASE WHEN row_number() OVER (PARTITION BY line
                                              ORDER BY doc_id, pos) = 1
                      THEN 1 END AS first_occ
          FROM lines)
        SELECT doc_id, COUNT(*) AS n_lines, COUNT(first_occ) AS n_kept,
               (COUNT(*) - COUNT(first_occ)) * 1000000
                 // greatest(COUNT(*), 1) AS removed_ppm
        FROM marked GROUP BY doc_id ORDER BY doc_id""")),

    // ----- duplicated-substring coverage (Lee et al. 2022): per document,
    // the fraction of token positions whose 3-gram also occurs in ANOTHER
    // document — the score substring-dedup gates on. No pair join exists:
    // positions probe the cross-document shingle set 1:1 on a 64-bit hash.
    Q("q_dedup_substring",
      (s, dir) =>
        Dedup.duplicatedShingleCoverage(t(s, dir, "documents"),
            "doc_id", "text", k = 3)
          .withColumn("keep", col("dup_ppm") <= lit(500000L))
          .select(col("doc_id"), col("n_pos"), col("dup_pos"),
            col("dup_ppm"), col("keep"))
          .orderBy(col("doc_id")),
      Some("""
        WITH base AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
          FROM documents WHERE len(string_split_regex(lower(trim(text)), '\s+')) >= 3),
        shg AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(t) - 1),
                   i -> array_to_string(t[i:i+2], ' '))) AS sh
          FROM base),
        crossdoc AS (
          SELECT sh FROM (
            SELECT sh, COUNT(DISTINCT doc_id) AS nd FROM shg GROUP BY sh) q
          WHERE nd >= 2),
        dup AS (
          SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS dup_pos
          FROM shg s JOIN crossdoc USING (sh) GROUP BY s.doc_id)
        SELECT b.doc_id, CAST(len(b.t) - 2 AS BIGINT) AS n_pos,
               COALESCE(d.dup_pos, 0) AS dup_pos,
               COALESCE(d.dup_pos, 0) * 1000000
                 // greatest(len(b.t) - 2, 1) AS dup_ppm,
               (COALESCE(d.dup_pos, 0) * 1000000
                 // greatest(len(b.t) - 2, 1)) <= 500000 AS keep
        FROM base b LEFT JOIN dup d USING (doc_id)
        ORDER BY b.doc_id""")),

    // ----- Count-Min sketch frequency estimation (Cormode & Muthukrishnan
    // 2005): depth-4 × width-64 sketch over the token stream, then every
    // distinct token's estimate vs its exact count. The oracle replays the
    // sketch bit-for-bit (portable affine hash family), and the row-wise
    // est_ge_exact asserts the sketch's structural one-sided-error
    // guarantee — if the estimate ever under-counts, the row reds loudly.
    // The 16-bucket width vs the fixture's ~31-token vocabulary forces real
    // collisions, so overcount > 0 rows exist at every SF.
    Q("q_sketch_cms",
      (s, dir) => {
        val toks = t(s, dir, "documents")
          .select(explode(TextFns.tokens(col("text"))).as("token"))
          .filter(col("token") =!= "")
        CountMin.estimateAll(toks, "token", depth = 4, width = 16)
          .withColumn("est_ge_exact", col("est") >= col("exact"))
          .select(col("token"), col("exact"), col("est"),
            col("overcount"), col("est_ge_exact"))
          .orderBy(col("token"))
      },
      Some {
        val h = "h"
        val cells = (0 until 4).map(r =>
          s"""SELECT $r AS r, ${CountMin.bucketSql(h, r, 16)} AS bucket,
                     CAST(COUNT(*) AS BIGINT) AS cnt
              FROM hashed GROUP BY 2""").mkString("\n          UNION ALL\n          ")
        val probes = (0 until 4).map(r =>
          s"""SELECT token, exact, $r AS r,
                     ${CountMin.bucketSql(h, r, 16)} AS bucket
              FROM exact""").mkString("\n          UNION ALL\n          ")
        s"""
        WITH tok AS (
          SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
          FROM documents),
        hashed AS (
          SELECT token, ${TextFns.polyHashSql("token")} AS h FROM tok
          WHERE token <> ''),
        cells AS (
          $cells),
        exact AS (
          SELECT token, CAST(COUNT(*) AS BIGINT) AS exact, min(h) AS h
          FROM hashed GROUP BY token),
        probes AS (
          $probes),
        est AS (
          SELECT token, exact, MIN(cnt) AS est
          FROM probes JOIN cells USING (r, bucket) GROUP BY token, exact)
        SELECT token, exact, est, est - exact AS overcount,
               est >= exact AS est_ge_exact
        FROM est ORDER BY token"""
      }),

    // ----- join-cardinality estimation from sketches (Cormode &
    // Muthukrishnan 2005 §4.2): the size of orders ⋈ customer predicted
    // from two Count-Min summaries as the min-over-rows cell inner
    // product, next to the exact join count. Every diagonal term is
    // present and every product non-negative, so est >= exact is
    // structural (asserted per run); the estimate itself is deterministic
    // integer arithmetic the oracle replays bit-for-bit. This is the
    // planner-side "how big is this join" answer a 100 TB engine keeps
    // per column at a few KB, instead of scanning either side.
    Q("q_sketch_join_card",
      (s, dir) => {
        val a = t(s, dir, "orders")
          .select(col("o_custkey").cast(StringType).as("token"))
        val b = t(s, dir, "customer")
          .select(col("c_custkey").cast(StringType).as("token"))
        val est = CountMin.joinCardinality(
          CountMin.sketch(a, "token", depth = 4, width = 16384),
          CountMin.sketch(b, "token", depth = 4, width = 16384))
        val exact = t(s, dir, "orders").join(t(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .agg(count(lit(1)).as("exact"))
        est.crossJoin(exact)
          .select(col("exact"), col("est"),
            (col("est") >= col("exact")).as("est_ge_exact"))
      },
      Some {
        def cellsCte(src: String, keyExpr: String) = {
          val h = TextFns.polyHashSql(s"CAST($keyExpr AS VARCHAR)")
          (0 until 4).map(r =>
            s"""SELECT $r AS r, ${CountMin.bucketSql("h", r, 16384)} AS bucket,
                       CAST(COUNT(*) AS BIGINT) AS cnt
                FROM (SELECT $h AS h FROM $src) GROUP BY 2""")
            .mkString("\n          UNION ALL\n          ")
        }
        s"""
        WITH ca AS (
          ${cellsCte("orders", "o_custkey")}),
        cb AS (
          ${cellsCte("customer", "c_custkey")}),
        ip AS (
          SELECT ca.r, SUM(ca.cnt * cb.cnt) AS ip
          FROM ca JOIN cb ON ca.r = cb.r AND ca.bucket = cb.bucket
          GROUP BY ca.r),
        est AS (SELECT CAST(MIN(ip) AS BIGINT) AS est FROM ip),
        ex AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS exact
          FROM orders JOIN customer ON o_custkey = c_custkey)
        SELECT exact, est, est >= exact AS est_ge_exact FROM est, ex"""
      }),

    // ----- HLL sketch MERGE across corpus shards (Apache DataSketches via
    // Spark's hll_sketch_agg / hll_union_agg): one sketch per source,
    // unioned into the corpus-wide distinct estimate — the sharded
    // counterpart of q_text_hll_distinct, and the reason sketches (not
    // exact distincts) survive a 1000-executor multi-day pipeline: shards
    // combine without re-reading data. The oracle pins the exact side and
    // the subadditivity/bound columns; if the union ever drifts past ±3%
    // of exact, within_3pct reds the row.
    Q("q_sketch_hll_merge",
      (s, dir) => {
        val toks = t(s, dir, "documents")
          .select(col("source"), explode(TextFns.tokens(col("text"))).as("token"))
          .filter(col("token") =!= "")
        val perSource = toks.groupBy(col("source"))
          .agg(hll_sketch_agg(col("token"), lit(12)).as("__sk"),
            countDistinct(col("token")).as("__n_src"))
        val est = perSource.agg(
          count(lit(1)).as("n_sources"),
          sum(col("__n_src")).cast(LongType).as("sum_source_exact"),
          hll_sketch_estimate(hll_union_agg(col("__sk"))).cast(LongType).as("__est"))
        val exact = toks.agg(countDistinct(col("token")).cast(LongType).as("n_exact"))
        est.crossJoin(exact)
          .select(col("n_sources"), col("n_exact"), col("sum_source_exact"),
            // per-shard distincts can only over-count the union
            (col("sum_source_exact") >= col("n_exact")).as("subadditive"),
            (abs(col("__est") - col("n_exact")) * 100 <= col("n_exact") * 3)
              .as("within_3pct"))
      },
      Some("""
        WITH tok AS (
          SELECT source, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
          FROM documents),
        tk AS (SELECT source, token FROM tok WHERE token <> ''),
        per_src AS (
          SELECT source, CAST(COUNT(DISTINCT token) AS BIGINT) AS n_src
          FROM tk GROUP BY source)
        SELECT CAST((SELECT COUNT(*) FROM per_src) AS BIGINT) AS n_sources,
               CAST((SELECT COUNT(DISTINCT token) FROM tk) AS BIGINT) AS n_exact,
               CAST((SELECT SUM(n_src) FROM per_src) AS BIGINT) AS sum_source_exact,
               true AS subadditive, true AS within_3pct""")),

    // ----- winnowing fingerprints (Schleimer et al. 2003, the MOSS
    // selection): per document, the set of window minima over w=4
    // consecutive 3-gram hashes — guaranteed to catch any shared run of
    // >= w+k-1 = 6 tokens — then the cross-document shared-fingerprint
    // fraction. The selection is pure map-side array arithmetic; only the
    // fingerprint sets (not text, not grams) reach the shuffle.
    Q("q_text_winnow",
      (s, dir) => {
        val (k, w) = (3, 4)
        // WinnowFingerprints kernel: one codegen call per row in place of
        // the interpreted shingleExpr → polyHashEach → winnowExpr lattice
        // (KernelParitySpec pins value equality against the HOF form);
        // n_grams = n_tokens − (k−1) is a row-local fact
        val fps = t(s, dir, "documents")
          .select(col("doc_id"), TextFns.tokens(col("text")).as("__t"))
          .filter(size(col("__t")) >= k)
          .withColumn("__fp",
            graft.functions.SketchFns.winnowFingerprints(col("__t"), k, w))
          .select(col("doc_id"),
            (size(col("__t")) - (k - 1)).cast(LongType).as("n_grams"),
            size(col("__fp")).cast(LongType).as("n_fp"), col("__fp"))
        val ex = fps.select(col("doc_id"), explode(col("__fp")).as("fp"))
        val sharedSet = ex.groupBy(col("fp"))
          .agg(count(lit(1)).as("__nd")).filter(col("__nd") >= 2L)
          .select(col("fp"))
        val perDoc = ex.join(sharedSet, "fp")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared_fp"))
        fps.select(col("doc_id"), col("n_grams"), col("n_fp"))
          .join(perDoc, Seq("doc_id"), "left")
          .withColumn("n_shared_fp", coalesce(col("n_shared_fp"), lit(0L)))
          .withColumn("shared_ppm",
            expr("n_shared_fp * 1000000L DIV greatest(n_fp, 1L)"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH base AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
          FROM documents WHERE len(string_split_regex(lower(trim(text)), '\\s+')) >= 3),
        g AS (
          SELECT doc_id, list_transform(range(1, len(t) - 1),
                   i -> array_to_string(t[i:i+2], ' ')) AS sh
          FROM base),
        hs AS (
          SELECT doc_id, ${TextFns.polyHashEachSql("sh")} AS hl FROM g),
        fp AS (
          SELECT doc_id, CAST(len(hl) AS BIGINT) AS n_grams,
                 ${TextFns.winnowSql("hl", 4)} AS f
          FROM hs),
        ex AS (
          SELECT doc_id, n_grams, CAST(len(f) AS BIGINT) AS n_fp,
                 unnest(f) AS fpv
          FROM fp),
        sharedset AS (
          SELECT fpv FROM (
            SELECT fpv, COUNT(*) AS nd FROM ex GROUP BY fpv) q
          WHERE nd >= 2),
        perdoc AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_fp
          FROM ex JOIN sharedset USING (fpv) GROUP BY doc_id),
        docs AS (
          SELECT DISTINCT doc_id, n_grams, n_fp FROM ex)
        SELECT d.doc_id, d.n_grams, d.n_fp,
               COALESCE(p.n_shared_fp, 0) AS n_shared_fp,
               COALESCE(p.n_shared_fp, 0) * 1000000
                 // greatest(d.n_fp, 1) AS shared_ppm
        FROM docs d LEFT JOIN perdoc p USING (doc_id)
        ORDER BY d.doc_id""")),

    // ----- winnowing PAIR detection (the MOSS use of the fingerprints):
    // rank document pairs by shared-fingerprint count. Pairs come ONLY from
    // shared fingerprints with document frequency in [2, 8] — the same
    // bounded-fan-out discipline as ngramJaccardPairs (a fingerprint in d
    // docs contributes d·(d-1)/2 pair rows; the cutoff is the scale lever,
    // and ubiquitous fingerprints carry no ranking signal anyway). Top-100
    // under a total order keeps the output bounded at any SF.
    Q("q_text_winnow_pairs",
      (s, dir) => {
        val (k, w) = (3, 4)
        // WinnowFingerprints kernel (see q_text_winnow): the pair query's
        // map side was the interpreted HOF lattice, paid inside the
        // checkpoint materialization
        val ex = t(s, dir, "documents")
          .select(col("doc_id"), TextFns.tokens(col("text")).as("__t"))
          .filter(size(col("__t")) >= k)
          .select(col("doc_id"),
            explode(graft.functions.SketchFns.winnowFingerprints(col("__t"), k, w)).as("fp"))
        // materialize the bounded (doc_id, fp) set ONCE: without it each
        // self-join side re-runs the winnow map work — the plan audit
        // showed 4 documents scans. Long pairs only; micro-frame-sized.
        // ONE kernel pass (round 22): the groupBy+join formulation fed
        // `ex` to the doc-frequency aggregate AND the prefilter join, and
        // column pruning makes the two subtrees canonically DIFFERENT
        // (the aggregate's scan drops doc_id), so no exchange is ever
        // reused — the winnow kernel ran twice as back-to-back serial
        // stages (112 + 109 ms of a 654 ms wall; the scan is one row
        // group). The frequency gate is instead a window COUNT over the
        // fp-partitioned frame: one exchange, one kernel pass, no second
        // leg. The explicit count keeps AQE from collapsing the
        // compute-bearing reader; at scale hashpartitioning(fp) is the
        // distribution the pair join needs anyway.
        val nPartW = s.sessionState.conf.numShufflePartitions
        val bounded = graft.Materialize.eager(
          ex.repartition(nPartW, col("fp"))
            .withColumn("__nd", count(lit(1)).over(
              org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
            .filter(col("__nd").between(2L, 8L))
            .select(col("doc_id"), col("fp")))
        // The self-join stays UNPINNED: the bounded set is micro-frame-
        // sized (df ∈ [2, 8] fingerprints only), and a round-22 A/B of a
        // 32-wide pinned pair join read execute +180 ms — pure scheduling
        // overhead on tiny tasks. The ckpt's 32 fp-hashed blocks give the
        // legs their parallelism; AQE sizes the join's exchanges.
        bounded.select(col("doc_id").as("a_id"), col("fp"))
          .join(bounded.select(col("doc_id").as("b_id"), col("fp")), "fp")
          .filter(col("a_id") < col("b_id"))
          .groupBy(col("a_id"), col("b_id"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 2L)
          .orderBy(col("n_shared").desc, col("a_id"), col("b_id"))
          .limit(100)
      },
      Some(s"""
        WITH base AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
          FROM documents WHERE len(string_split_regex(lower(trim(text)), '\\s+')) >= 3),
        g AS (
          SELECT doc_id, list_transform(range(1, len(t) - 1),
                   i -> array_to_string(t[i:i+2], ' ')) AS sh
          FROM base),
        hs AS (
          SELECT doc_id, ${TextFns.polyHashEachSql("sh")} AS hl FROM g),
        ex AS (
          SELECT doc_id, unnest(${TextFns.winnowSql("hl", 4)}) AS fpv
          FROM hs),
        bounded AS (
          SELECT doc_id, fpv FROM ex
          WHERE fpv IN (SELECT fpv FROM (
                          SELECT fpv, COUNT(*) AS nd FROM ex GROUP BY fpv) q
                        WHERE nd BETWEEN 2 AND 8))
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM bounded a JOIN bounded b
          ON a.fpv = b.fpv AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
        ORDER BY n_shared DESC, a_id, b_id LIMIT 100"""))
  )
}
