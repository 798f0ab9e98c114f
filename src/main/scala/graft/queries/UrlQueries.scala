package graft.queries

import graft.Q
import graft.Q._
import graft.functions.UrlFns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** URL analysis queries — the per-URL canonicalization + per-domain policy
  * steps of the crawl family (Warc → HtmlFns → UrlFns → domain policy).
  * The fixtures carry no URL column, so each query synthesizes a
  * deterministic URL per document — schemes, userinfo, subdomains,
  * two-level public suffixes, ports, path depths and tracking parameters
  * all exercised by construction — and the DuckDB oracle rebuilds the
  * IDENTICAL string (the MarkupQueries stand-in pattern), so parsing
  * itself is what the hash-compare checks.
  */
object UrlQueries {

  /** The synthesized per-row URL. Kept adjacent to [[synthUrlSql]] so the
    * two engines cannot drift.
    */
  private def synthUrl: Column = concat(
    expr("CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END"),
    expr("CASE WHEN doc_id % 10 = 0 THEN 'user:pw@' ELSE '' END"),
    expr("CASE doc_id % 3 WHEN 1 THEN 'www.' WHEN 2 THEN 'news.en.' ELSE '' END"),
    lit("site"), (col("doc_id") % 20).cast(StringType),
    expr("CASE doc_id % 4 WHEN 0 THEN '.co.uk' WHEN 1 THEN '.com' WHEN 2 THEN '.org' ELSE '.io' END"),
    expr("CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END"),
    expr("repeat('/seg', CAST(doc_id % 4 AS INT))"),
    expr("CASE WHEN doc_id % 2 = 0 " +
         "THEN '?utm_source=feed&id=' || doc_id || '&utm_campaign=x' " +
         "ELSE '?id=' || doc_id || '&fbclid=abc' || doc_id END"))

  /** DuckDB rendering of [[synthUrl]]. */
  private val synthUrlSql: String =
    "CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END" +
    " || CASE WHEN doc_id % 10 = 0 THEN 'user:pw@' ELSE '' END" +
    " || CASE doc_id % 3 WHEN 1 THEN 'www.' WHEN 2 THEN 'news.en.' ELSE '' END" +
    " || 'site' || CAST(doc_id % 20 AS VARCHAR)" +
    " || CASE doc_id % 4 WHEN 0 THEN '.co.uk' WHEN 1 THEN '.com' WHEN 2 THEN '.org' ELSE '.io' END" +
    " || CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END" +
    " || repeat('/seg', CAST(doc_id % 4 AS INT))" +
    " || CASE WHEN doc_id % 2 = 0" +
    " THEN '?utm_source=feed&id=' || doc_id || '&utm_campaign=x'" +
    " ELSE '?id=' || doc_id || '&fbclid=abc' || doc_id END"

  private val urlCte =
    s"WITH u AS (SELECT doc_id, $synthUrlSql AS url FROM documents)"

  /** Synthesized crawl-frontier fixture shared by q_url_robots and
    * q_crawl_frontier — the robots bodies and path shapes are the contract
    * BOTH queries' oracles encode, so the Spark builder exists exactly
    * once (editing one query's notion of the frontier cannot desync the
    * other's).
    */
  private def synthFrontier(docs: DataFrame): DataFrame = docs
    .withColumn("n", (col("doc_id") % 20).cast(LongType))
    .withColumn("domain",
      concat(lit("site"), col("n").cast(StringType), lit(".com")))
    .withColumn("path", expr(
      """CASE CAST(doc_id % 5 AS INT)
           WHEN 0 THEN '/private/data' || doc_id
           WHEN 1 THEN '/public/page' || doc_id
           WHEN 2 THEN '/tmp/x'
           WHEN 3 THEN '/private/ok/page'
           ELSE '/' END"""))
    .withColumn("robots",
      when(col("n") % 3 === 0, lit(
        "User-agent: *\nDisallow: /private\nAllow: /private/ok\nDisallow: /tmp"))
      .when(col("n") % 3 === 1, lit(
        "User-agent: *\nDisallow: /\nAllow: /public"))
      .otherwise(lit("User-agent: *\nDisallow:")))

  /** Synthesized domain link graph shared by q_link_pagerank and
    * q_crawl_frontier: the DIV-20 term varies dst within a src's residue
    * class and the src-dependent modulus (1 + src%5) gives out-degrees
    * 1..5 — ranks genuinely differentiate, and residues 0/10 end up
    * dangling (no out-edges), exercising the documented mass-leak path.
    */
  private def synthEdges(docs: DataFrame): DataFrame = docs.select(
    (col("doc_id") % 20).as("src"),
    expr("((doc_id DIV 20) % (1 + (doc_id % 20) % 5) + 3 * (doc_id % 20)) % 20")
      .as("dst"))

  /** DuckDB rendering of [[synthFrontier]]'s `domain`, `path` and
    * `robots` columns. */
  private val frontierSql: String =
    """'site' || CAST(doc_id % 20 AS VARCHAR) || '.com' AS domain,
                 CASE CAST(doc_id % 5 AS INT)
                   WHEN 0 THEN '/private/data' || doc_id
                   WHEN 1 THEN '/public/page' || doc_id
                   WHEN 2 THEN '/tmp/x'
                   WHEN 3 THEN '/private/ok/page'
                   ELSE '/' END AS path,
                 CASE CAST((doc_id % 20) % 3 AS INT)
                   WHEN 0 THEN 'User-agent: *' || chr(10) || 'Disallow: /private'
                        || chr(10) || 'Allow: /private/ok' || chr(10) || 'Disallow: /tmp'
                   WHEN 1 THEN 'User-agent: *' || chr(10) || 'Disallow: /'
                        || chr(10) || 'Allow: /public'
                   ELSE 'User-agent: *' || chr(10) || 'Disallow:' END AS robots"""

  /** DuckDB CTE `e0(src, dst)`: [[synthEdges]] without self-loops, distinct. */
  private val edgesSql: String = """e0 AS (
          SELECT DISTINCT doc_id % 20 AS src,
                 ((doc_id // 20) % (1 + (doc_id % 20) % 5)
                  + 3 * (doc_id % 20)) % 20 AS dst
          FROM documents
          WHERE doc_id % 20 <>
                ((doc_id // 20) % (1 + (doc_id % 20) % 5)
                 + 3 * (doc_id % 20)) % 20)"""

  /** DuckDB CTEs `deg`, `nodes`, `cnt`, `r0` and `it1`..`it3`: three
    * iterations of LinkGraph.pageRank's integer-ppm PageRank over `e0`,
    * ranks in `it3(node, r)`. */
  private val pageRankCtes: String = s"""deg AS (SELECT src, COUNT(*) AS deg FROM e0 GROUP BY src),
        nodes AS (SELECT DISTINCT node
                  FROM (SELECT src AS node FROM e0 UNION SELECT dst FROM e0)),
        cnt AS (SELECT COUNT(*) AS n FROM nodes),
        r0 AS (SELECT node, CAST(1000000 // n AS BIGINT) AS r
               FROM nodes CROSS JOIN cnt),
        ${(1 to 3).map { i =>
          val prev = if (i == 1) "r0" else s"it${i - 1}"
          s"""it$i AS (
          SELECT nd.node,
                 CAST(150000 // n + 850 * COALESCE(s.c, 0) // 1000 AS BIGINT) AS r
          FROM nodes nd CROSS JOIN cnt LEFT JOIN (
            SELECT e.dst AS node, SUM(r.r // d.deg) AS c
            FROM e0 e JOIN deg d ON e.src = d.src JOIN $prev r ON e.src = r.node
            GROUP BY e.dst) s ON nd.node = s.node)"""
        }.mkString(",\n        ")}"""

  val qs: Seq[Q] = Seq(

    // ----- per-URL parse + canonicalization: host (userinfo/port
    // stripped), registered domain (two-level suffix rule), path depth,
    // tracking-free canonical form — the row every URL-dedup / domain-
    // policy step starts from.
    Q("q_url_parse",
      (s, dir) =>
        t(s, dir, "documents")
          .withColumn("url", synthUrl)
          .select(
            col("doc_id"),
            UrlFns.host(col("url")).as("host"),
            UrlFns.registeredDomain(UrlFns.host(col("url"))).as("domain"),
            UrlFns.pathDepth(col("url")).as("path_depth"),
            UrlFns.stripTracking(col("url")).as("canonical_url"))
          .orderBy(col("doc_id")),
      Some(s"""
        $urlCte
        SELECT doc_id,
               ${UrlFns.hostSql("url")} AS host,
               ${UrlFns.registeredDomainSql(UrlFns.hostSql("url"))} AS domain,
               ${UrlFns.pathDepthSql("url")} AS path_depth,
               ${UrlFns.stripTrackingSql("url")} AS canonical_url
        FROM u ORDER BY doc_id""")),

    // ----- per-domain crawl accounting: the policy aggregation (crawl
    // budgets, source caps, robots grouping) shuffles on the REGISTERED
    // domain — subdomains and ports collapse into the policy key. One
    // hash-agg; map-side partials; top-k by volume.
    Q("q_url_domain_stats",
      (s, dir) =>
        t(s, dir, "documents")
          .withColumn("url", synthUrl)
          .withColumn("domain", UrlFns.registeredDomain(UrlFns.host(col("url"))))
          .groupBy(col("domain"))
          .agg(
            count(lit(1)).cast(LongType).as("n_urls"),
            countDistinct(UrlFns.host(col("url"))).cast(LongType).as("n_hosts"),
            sum(UrlFns.pathDepth(col("url"))).cast(LongType).as("sum_depth"),
            max(UrlFns.pathDepth(col("url"))).cast(LongType).as("max_depth"))
          .orderBy(col("n_urls").desc, col("domain"))
          .limit(20),
      Some(s"""
        $urlCte,
        p AS (SELECT doc_id,
                     ${UrlFns.hostSql("url")} AS host,
                     ${UrlFns.registeredDomainSql(UrlFns.hostSql("url"))} AS domain,
                     ${UrlFns.pathDepthSql("url")} AS path_depth
              FROM u)
        SELECT domain,
               CAST(COUNT(*) AS BIGINT) AS n_urls,
               CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
               CAST(SUM(path_depth) AS BIGINT) AS sum_depth,
               CAST(MAX(path_depth) AS BIGINT) AS max_depth
        FROM p GROUP BY domain
        ORDER BY n_urls DESC, domain LIMIT 20""")),

    // ----- robots.txt fetchability (RFC 9309 longest-match): per URL, the
    // longest matching Disallow and Allow prefixes from the domain's robots
    // section decide the crawl-politeness gate. Domains rotate through
    // three robots shapes (prefix rules + Allow override / block-all with
    // an Allow carve-out / the empty-Disallow allow-all idiom) and paths
    // through five shapes, so every rule interaction BINDS both ways —
    // including the Allow-overrides-Disallow tie case (/private/ok under
    // 'Disallow: /private' + 'Allow: /private/ok').
    Q("q_url_robots",
      (s, dir) => {
        // fetchable derives from the two already-computed match lengths
        // (the RFC decision is a pure function of them) — robotsAllowed
        // would re-run the whole parse per row for the same answer
        synthFrontier(t(s, dir, "documents"))
          .select(col("doc_id"), col("domain"), col("path"),
            UrlFns.robotsMatchLen(col("path"),
              UrlFns.robotsPrefixes(col("robots"), "Disallow")).as("disallow_len"),
            UrlFns.robotsMatchLen(col("path"),
              UrlFns.robotsPrefixes(col("robots"), "Allow")).as("allow_len"))
          .withColumn("fetchable",
            when(col("disallow_len").isNull, lit(true))
              .otherwise(coalesce(col("allow_len"), lit(-1L)) >= col("disallow_len")))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH d AS (
          SELECT doc_id,
                 $frontierSql
          FROM documents),
        p AS (
          SELECT doc_id, domain, path,
                 ${UrlFns.robotsPrefixesSql("robots", "Disallow")} AS dis,
                 ${UrlFns.robotsPrefixesSql("robots", "Allow")} AS alw
          FROM d),
        m AS (
          SELECT doc_id, domain, path,
                 ${UrlFns.robotsMatchLenSql("path", "dis")} AS disallow_len,
                 ${UrlFns.robotsMatchLenSql("path", "alw")} AS allow_len
          FROM p)
        SELECT doc_id, domain, path, disallow_len, allow_len,
               CASE WHEN disallow_len IS NULL THEN true
                    ELSE COALESCE(allow_len, -1) >= disallow_len END AS fetchable
        FROM m ORDER BY doc_id""")),

    // ----- domain link-graph PageRank (crawl prioritization): 3 fixed
    // iterations of exact integer-ppm PageRank over [[synthEdges]], whose
    // out-degrees range 1..5 and whose residues 0/10 are dangling — ranks
    // GENUINELY differentiate, so a degree-divisor, src/dst-swap, or
    // damping bug cannot hide behind a uniform fixed point (the original
    // (7·id+3) mod 20 fixture was a permutation graph: every rank stayed
    // 50000 and the gate was vacuous for rank values). The oracle replays
    // all three iterations bit-for-bit as chained CTEs.
    Q("q_link_pagerank",
      (s, dir) => {
        graft.operators.LinkGraph.pageRank(
          synthEdges(t(s, dir, "documents")), "src", "dst", iters = 3)
          .orderBy(col("node"))
      },
      Some(s"""
        WITH $edgesSql,
        $pageRankCtes
        SELECT node, r AS rank_ppm FROM it3 ORDER BY node""")),

    // ----- multi-source BFS hop distance over the same link graph: how
    // many hops each domain sits from the trusted seed set {0, 7, 14}
    // (crawl-depth gating / frontier distance). Frontier-only expansion
    // per round, hop cap 3; unreachable domains are absent by contract.
    // The oracle replays all three frontier rounds as chained CTEs.
    Q("q_link_hops",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val seeds = docs.select((col("doc_id") % 20).as("node"))
          .filter(col("node") % 7 === 0)
        // bfsHopsAuto: domain-scale graph (20 nodes) → gated driver BFS,
        // local-relation result, no checkpoint to free (see pageRankAuto
        // at q_crawl_frontier)
        graft.operators.LinkGraph.bfsHopsAuto(
            synthEdges(docs), "src", "dst", seeds, "node", maxHops = 3)
          .orderBy(col("node"))
      },
      Some(s"""
        WITH $edgesSql,
        d0 AS (SELECT DISTINCT doc_id % 20 AS node, 0 AS hops
               FROM documents WHERE (doc_id % 20) % 7 = 0),
        f1 AS (SELECT DISTINCT e.dst AS node
               FROM e0 e JOIN d0 ON e.src = d0.node
               WHERE e.dst NOT IN (SELECT node FROM d0)),
        d1 AS (SELECT node, hops FROM d0
               UNION ALL SELECT node, 1 FROM f1),
        f2 AS (SELECT DISTINCT e.dst AS node
               FROM e0 e JOIN d1 ON e.src = d1.node AND d1.hops = 1
               WHERE e.dst NOT IN (SELECT node FROM d1)),
        d2 AS (SELECT node, hops FROM d1
               UNION ALL SELECT node, 2 FROM f2),
        f3 AS (SELECT DISTINCT e.dst AS node
               FROM e0 e JOIN d2 ON e.src = d2.node AND d2.hops = 2
               WHERE e.dst NOT IN (SELECT node FROM d2)),
        d3 AS (SELECT node, hops FROM d2
               UNION ALL SELECT node, 3 FROM f3)
        SELECT node, CAST(hops AS BIGINT) AS hops FROM d3 ORDER BY node""")),

    // ----- crawl-frontier scheduling capstone: compose the three politeness
    // / prioritization primitives into the queue a crawler actually pops —
    // robots-fetchable URLs only, domains prioritized by link-graph
    // PageRank, a per-domain budget (politeness cap) taken shallowest-first.
    // The budget of 5 BINDS against ~15 eligible URLs/domain at sf0.01; the
    // domain-rank join is broadcast (a domain-rank table is KBs against a
    // frontier of billions); the per-domain cut runs on the bounded-heap
    // TopKPerGroup operator via the row_number rewrite rule.
    Q("q_crawl_frontier",
      (s, dir) => {
        val d = synthFrontier(t(s, dir, "documents"))
        // pageRankAuto: the rank graph here is DOMAIN-scale (nodes are the
        // 20 synthetic domains; a real frontier's domain graph is a few
        // million rows against a frontier of billions), so the count-gated
        // driver fast path turns the former 3-iteration join+agg subplan —
        // whose per-iteration job launches dominated this query's cold
        // time — into one edge-materialization job plus driver arithmetic,
        // and the rank table arrives as a LOCAL relation that broadcasts
        // for free into the scheduling join.
        val pr = graft.operators.LinkGraph.pageRankAuto(
          synthEdges(t(s, dir, "documents")), "src", "dst", iters = 3)
        val w = Window.partitionBy(col("domain"))
          .orderBy(col("depth"), col("doc_id"))
        // Robots gate stays FUSED in the scan's codegen stage (measured:
        // the per-row parse costs ~0.1 s at sf0.1 — building a distinct
        // rule table here added a whole extra scan+shuffle for nothing,
        // because this fixture carries the body per row). When robots
        // bodies arrive keyed by domain — the real 100 TB frontier shape —
        // parse them once per domain and broadcast-join via
        // [[UrlFns.robotsAllowedPre]] instead.
        d.filter(UrlFns.robotsAllowed(col("path"), col("robots")))
          .withColumn("depth",
            size(filter(split(col("path"), "/"), x => x =!= "")).cast(LongType))
          .join(broadcast(pr), col("n") === col("node"))
          .withColumn("rank", row_number().over(w).cast(LongType))
          .filter(col("rank") <= 5)
          .select(col("domain"), col("rank_ppm"), col("rank"), col("doc_id"),
            col("path"), col("depth"))
          .orderBy(col("rank_ppm").desc, col("domain"), col("rank"))
      },
      Some(s"""
        WITH $edgesSql,
        $pageRankCtes,
        u AS (
          SELECT doc_id, doc_id % 20 AS n,
                 $frontierSql
          FROM documents),
        p AS (
          SELECT doc_id, n, domain, path,
                 ${UrlFns.robotsPrefixesSql("robots", "Disallow")} AS dis,
                 ${UrlFns.robotsPrefixesSql("robots", "Allow")} AS alw
          FROM u),
        f AS (
          SELECT doc_id, n, domain, path,
                 CAST(len(list_filter(string_split(path, '/'), x -> x <> ''))
                      AS BIGINT) AS depth
          FROM p
          WHERE CASE WHEN ${UrlFns.robotsMatchLenSql("path", "dis")} IS NULL
                     THEN true
                     ELSE COALESCE(${UrlFns.robotsMatchLenSql("path", "alw")}, -1)
                          >= ${UrlFns.robotsMatchLenSql("path", "dis")} END),
        ranked AS (
          SELECT f.domain, it3.r AS rank_ppm,
                 CAST(row_number() OVER (PARTITION BY f.domain
                        ORDER BY f.depth, f.doc_id) AS BIGINT) AS rank,
                 f.doc_id, f.path, f.depth
          FROM f JOIN it3 ON f.n = it3.node)
        SELECT domain, rank_ppm, rank, doc_id, path, depth
        FROM ranked WHERE rank <= 5
        ORDER BY rank_ppm DESC, domain, rank"""))
  )
}
