package graft.queries

import graft.Q
import graft.Q._
import graft.functions.VectorFns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Rows over the `embeddings` fixture (array<float>, dim 64). The search
  * rows call the one implementation of each operator in
  * [[graft.operators.Similarity]]: exact cosine top-k (the baseline), LSH,
  * float IVF, fixed-point PQ and IVF-PQ, the k-NN graph family and
  * matryoshka prefix serving, and the recall rows that measure them
  * against the exact top-k. Beside them: random projection, norm and
  * centroid stats, k-means and cluster caps, embedding and semantic dedup,
  * contrastive triplets, diverse sampling, drift and the streaming
  * kNN/semdedup batches.
  *
  * Numeric parity strategy: dot products are computed in exact DECIMAL
  * arithmetic (float → double → DECIMAL(12,6) per element, exact products and
  * order-independent exact sums), then cast to DOUBLE for the final
  * sqrt/divide. Both engines therefore produce bit-identical doubles and the
  * top-k ranking cannot diverge on summation order.
  *
  * Scale posture: brute-force is O(Q·N) with the query side broadcast — the
  * right baseline shape on a cluster (no shuffle of the candidate side at
  * all). The LSH variant buckets candidates in one narrow pass; at 100 TB the
  * bucket id becomes the write-partition key so probes touch one partition.
  */
object VectorQueries {

  // ---- once-per-JVM persisted artifacts the SERVE rows read (and the
  // matching `prepare` hooks Bench runs untimed — VERDICT r18 #2) ----

  private def knnGraphFixture(s: SparkSession, dir: String): DataFrame =
    graft.Fixtures.read(s, dir, "knn_graph") {
      graft.operators.Similarity.knnGraph(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 4, passes = 2, degree = 6)
    }

  private def pqBooksFixture(s: SparkSession, dir: String): DataFrame =
    graft.Fixtures.read(s, dir, "pq_books") {
      val cc = t(s, dir, "embeddings")
        .select(col("vec_id").as("c_id"), col("embedding").as("ce"))
      graft.operators.Similarity.pqCodebooksUnitsDf(s,
        graft.operators.Similarity.pqTrainUnits(
          cc.select(col("c_id"), col("ce").as("embedding")), "c_id",
          "embedding", m = 8, kCent = 16, sampleSize = 256, iters = 2))
    }

  private def pqCodesFixture(s: SparkSession, dir: String): DataFrame = {
    val books = graft.operators.Similarity.pqCodebooksUnitsFromDf(
      pqBooksFixture(s, dir))
    graft.Fixtures.read(s, dir, "pq_codes") {
      t(s, dir, "embeddings")
        .select(col("vec_id").as("c_id"), graft.operators.Similarity
          .pqEncodeUnits(VectorFns.quantize(col("embedding")), books).as("codes"))
    }
  }

  /** Query side `(q_id, qe)`, the vectors vec_id < 5, and candidate side
    * `(c_id, ce)`, every vector, of embedding frame `e`. */
  private def querySides(e: DataFrame): (DataFrame, DataFrame) =
    (e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe")),
     e.select(col("vec_id").as("c_id"), col("embedding").as("ce")))

  /** An ANN operator's `(q_id, c_id, rank)` answer as `(q_id, c_id, rnk)`,
    * sorted in one partition. */
  private def rankedTop(df: DataFrame): DataFrame =
    df.select(col("q_id"), col("c_id"), col("rank").as("rnk"))
      .repartition(1).sortWithinPartitions(col("q_id"), col("rnk"))

  /** DuckDB brute-force top-5 `(q_id, c_id, rnk)` by rounded cosine of the
    * queries vec_id < 5: what an exact-by-construction ANN row returns. */
  private def bruteTop5Sql: String = s"""
        WITH e AS (SELECT vec_id, embedding,
                          sqrt(${VectorFns.dotSql("embedding", "embedding")}) AS norm
                   FROM embeddings),
        q AS (SELECT vec_id AS q_id, embedding AS qe, norm AS qn FROM e WHERE vec_id < 5),
        c AS (SELECT vec_id AS c_id, embedding AS ce, norm AS cn FROM e),
        p AS (
          SELECT q_id, c_id, ${VectorFns.dotSql("qe", "ce")} / (qn * cn) AS cos
          FROM q, c WHERE q_id <> c_id
        ), r AS (
          SELECT q_id, c_id,
                 CAST(row_number() OVER (PARTITION BY q_id
                        ORDER BY round(cos, 9) DESC, c_id) AS BIGINT) AS rnk
          FROM p)
        SELECT q_id, c_id, rnk FROM r WHERE rnk <= 5 ORDER BY q_id, rnk"""

  /** recall@5 per query: the hits of `approx(a_q, a_c)` among
    * `exact(q_id, c_id)` and their ppm. */
  private def recallPpm(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.join(approx,
        exact("q_id") === approx("a_q") && exact("c_id") === approx("a_c"),
        "left")
      .groupBy(col("q_id"))
      .agg(count(col("a_c")).as("n_hits"),
           expr("count(a_c) * 1000000L DIV 5").as("recall_ppm"))
      .repartition(1).sortWithinPartitions(col("q_id"))

  /** recall@5 of `approx(a_q, a_c)` against the exact quantized-cosine
    * top-5 of query side `qq(q_id, qe)` over candidates `cc(c_id, ce)`. */
  private def recallAt5(qq: DataFrame, cc: DataFrame,
      approx: DataFrame): DataFrame =
    recallPpm(graft.operators.Similarity.cosineTopK(qq, cc, 5)
      .select(col("q_id"), col("c_id")), approx)

  /** Embedding frame `e` with its quantized vector `qv`, its `bits`-bit
    * LSH `bucket` and the quantized `norm`. */
  private def withBucket(e: DataFrame, bits: Int): DataFrame =
    e.withColumn("qv", VectorFns.quantize(col("embedding")))
      .withColumn("bucket", VectorFns.lshBucketQ(col("qv"), bits))
      .withColumn("norm", sqrt(VectorFns.dotQDouble(col("qv"), col("qv"))))

  /** DuckDB `bits`-bit LSH bucket of `embedding`, mirroring
    * VectorFns.lshBucketQ: one bit per positive sign projection. */
  private def bucketSql(bits: Int): String = (0 until bits)
    .map(j => s"CASE WHEN ${VectorFns.signProjectionSql("embedding", j)} > 0 " +
              s"THEN ${1L << j} ELSE 0 END")
    .mkString(" + ")

  /** Embedding near-dup pairs `(a_id, b_id, cos)`: label-0 vectors in one
    * 8-bit LSH bucket whose rounded quantized cosine is >= 0.2. */
  private def embeddingPairs(s: SparkSession, dir: String): DataFrame = {
        val e = withBucket(t(s, dir, "embeddings").filter(col("label") === 0), 8)
        val a = e.select(col("vec_id").as("a_id"), col("qv").as("ae"),
                         col("norm").as("an"), col("bucket"))
        val b = e.select(col("vec_id").as("b_id"), col("qv").as("be"),
                         col("norm").as("bn"), col("bucket"))
    a.join(b, Seq("bucket")).filter(col("a_id") < col("b_id"))
      .withColumn("cos", VectorFns.dotQDouble(col("ae"), col("be")) / (col("an") * col("bn")))
      .filter(round(col("cos"), 6) >= 0.2)
  }

  /** DuckDB CTEs `e`, `a`, `b` and `p(a_id, b_id, cos)`: the label-0
    * vector pairs sharing an 8-bit LSH bucket, with their cosine (the
    * caller applies the 0.2 threshold). */
  private def embeddingPairCtes: String =
    s"""e AS (SELECT vec_id, embedding, CAST(${bucketSql(8)} AS BIGINT) AS bucket,
                          sqrt(${VectorFns.dotSql("embedding", "embedding")}) AS norm
                   FROM embeddings WHERE label = 0),
        a AS (SELECT vec_id AS a_id, embedding AS ae, norm AS an, bucket FROM e),
        b AS (SELECT vec_id AS b_id, embedding AS be, norm AS bn, bucket FROM e),
        p AS (
          SELECT a_id, b_id, ${VectorFns.dotSql("ae", "be")} / (an * bn) AS cos
          FROM a JOIN b USING (bucket) WHERE a_id < b_id)"""

  /** DuckDB top-5 `(q_id, c_id, rnk)` of the final beam `b2` of graph CTE
    * chain `ctes` (a [[graphCtes]]). */
  private def graphTop5Sql(ctes: String): String = s"""
        WITH $ctes
        SELECT q_id, c_id, CAST(rk AS BIGINT) AS rnk
        FROM (SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
                ORDER BY sim DESC, c_id) AS rk FROM b2) f
        WHERE rk <= 5 ORDER BY q_id, rnk"""

  /** DuckDB oracle of the PQ-scored graph walk (build and serve rows): the
    * final beam re-ranked by exact rounded cosine, top-5 per query. */
  private def graphPqOracle: String = s"""
        WITH ${graphPqCtes(degree = 6, entryK = 4, beam = 8, hops = 2)},
        fin AS (SELECT b.q_id, b.c_id,
                       ${VectorFns.dotSql("qq.embedding", "cc.embedding")}
                         / (qq.norm * cc.norm) AS cos
                FROM b2 b
                JOIN gn qq ON qq.vec_id = b.q_id
                JOIN gn cc ON cc.vec_id = b.c_id),
        frk AS (SELECT q_id, c_id,
                       CAST(row_number() OVER (PARTITION BY q_id
                              ORDER BY round(cos, 9) DESC, c_id) AS BIGINT) AS rnk
                FROM fin)
        SELECT q_id, c_id, rnk FROM frk WHERE rnk <= 5 ORDER BY q_id, rnk"""

  /** DuckDB kNN graph rebuild under frozen centroids `c1l(j, dim, cv)` (a
    * [[kmeansCtes]]): every vector assigned to its nearest centroid, then
    * the top-6 same-cell neighbors by rounded cosine per node. */
  private def frozenGraphSql: String =
    s"""qa AS (SELECT vec_id,
                      list_transform(embedding,
                        e -> CAST(CAST(CAST(e AS DOUBLE) AS DECIMAL(12,6)) * 1000000 AS BIGINT)) AS u
               FROM embeddings),
        qla AS (SELECT vec_id, d.g + 1 AS dim, u[d.g + 1] AS v
                FROM qa, generate_series(0, 63) d(g)),
        da AS (SELECT qla.vec_id, c.j, SUM((qla.v - c.cv) * (qla.v - c.cv)) AS dist
               FROM qla JOIN c1l c USING (dim) GROUP BY qla.vec_id, c.j),
        aa AS (SELECT vec_id, j FROM (
                 SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id
                   ORDER BY dist, j) AS rn FROM da) x WHERE rn = 1),
        gna AS (SELECT vec_id, embedding,
                       sqrt(${VectorFns.dotSql("embedding", "embedding")}) AS norm
                FROM embeddings),
        gpa AS (SELECT a.vec_id AS node, b.vec_id AS nbr,
                       round(${VectorFns.dotSql("na.embedding", "nb.embedding")}
                             / (na.norm * nb.norm), 6) AS sim
                FROM aa a JOIN aa b ON a.j = b.j AND a.vec_id <> b.vec_id
                JOIN gna na ON na.vec_id = a.vec_id
                JOIN gna nb ON nb.vec_id = b.vec_id)
        SELECT node, nbr, sim FROM (
          SELECT node, nbr, sim, row_number() OVER (PARTITION BY node
            ORDER BY sim DESC, nbr) AS rn FROM gpa) g
        WHERE rn <= 6 ORDER BY node, nbr"""

  /** DuckDB tail of a recall@5 oracle: the exact rounded-cosine top-5 of
    * the queries vec_id < 5 over norm table `norms(vec_id, embedding,
    * norm)`, left-joined by the approximate top-5 CTE `approx(a_q, a_c)`,
    * counted per query. */
  private def recallSql(norms: String, approx: String): String =
    s"""rx_pairs AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                       ${VectorFns.dotSql("q.embedding", "c.embedding")}
                         / (q.norm * c.norm) AS cos
                FROM $norms q, $norms c WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id),
        rx_exact AS (SELECT q_id, c_id FROM (
                 SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
                   ORDER BY round(cos, 9) DESC, c_id) AS rk
                 FROM rx_pairs) x WHERE rk <= 5)
        SELECT q_id, CAST(COUNT(a_c) AS BIGINT) AS n_hits,
               CAST(COUNT(a_c) * 1000000 // 5 AS BIGINT) AS recall_ppm
        FROM rx_exact LEFT JOIN $approx ON q_id = a_q AND c_id = a_c
        GROUP BY q_id ORDER BY q_id"""

  /** The IVF-PQ fixed-point replay as a CTE chain (qv → … → en → p → r):
    * coarse train (2 integer Lloyd iterations over the 256-lowest-id
    * sample), full-corpus cell assignment, residuals, residual-codebook
    * train, codes, nProbe=2 probes, integer ADC + coarse dot, rerank-40
    * shortlist, exact cosine re-rank ranks in `r`. Shared by
    * q_ann_ivfpq_topk and q_ann_ivfpq_recall so the two oracles cannot
    * drift; parameters (nLists=8, m=8, kCent=16, sample=256, iters=2)
    * are baked in the way the Spark call sites bake them.
    */
  private lazy val ivfpqCtes: String = s"""        qv AS (
          SELECT vec_id, list_transform(embedding,
                   e -> CAST(CAST(CAST(e AS DOUBLE) AS DECIMAL(12,6)) * 1000000 AS BIGINT)) AS u
          FROM embeddings),
        samp AS (SELECT vec_id, u, row_number() OVER (ORDER BY vec_id) AS rn
                 FROM qv ORDER BY vec_id LIMIT 256),
        fv AS (SELECT rn, d.g AS sd, u[d.g + 1] AS v
               FROM samp, generate_series(0, 63) d(g)),
        g0 AS (SELECT rn - 1 AS cent, sd, v FROM fv WHERE rn <= 8),
        gd1 AS (SELECT f.rn, c.cent, SUM((f.v - c.v) * (f.v - c.v)) AS dist
                FROM fv f JOIN g0 c USING (sd) GROUP BY f.rn, c.cent),
        ga1 AS (SELECT rn, cent FROM (
                  SELECT rn, cent, row_number() OVER (PARTITION BY rn ORDER BY dist, cent) AS rk
                  FROM gd1) t WHERE rk = 1),
        gu1 AS (SELECT a.cent, f.sd, SUM(f.v) AS sm, COUNT(*) AS n
                FROM fv f JOIN ga1 a USING (rn) GROUP BY a.cent, f.sd),
        g1 AS (SELECT c.cent, c.sd,
                      COALESCE(CASE WHEN u.sm >= 0 THEN u.sm // u.n
                                    ELSE -((-u.sm) // u.n) END, c.v) AS v
               FROM g0 c LEFT JOIN gu1 u ON c.cent = u.cent AND c.sd = u.sd),
        gd2 AS (SELECT f.rn, c.cent, SUM((f.v - c.v) * (f.v - c.v)) AS dist
                FROM fv f JOIN g1 c USING (sd) GROUP BY f.rn, c.cent),
        ga2 AS (SELECT rn, cent FROM (
                  SELECT rn, cent, row_number() OVER (PARTITION BY rn ORDER BY dist, cent) AS rk
                  FROM gd2) t WHERE rk = 1),
        gu2 AS (SELECT a.cent, f.sd, SUM(f.v) AS sm, COUNT(*) AS n
                FROM fv f JOIN ga2 a USING (rn) GROUP BY a.cent, f.sd),
        g2 AS (SELECT c.cent, c.sd,
                      COALESCE(CASE WHEN u.sm >= 0 THEN u.sm // u.n
                                    ELSE -((-u.sm) // u.n) END, c.v) AS v
               FROM g1 c LEFT JOIN gu2 u ON c.cent = u.cent AND c.sd = u.sd),
        ev AS (SELECT vec_id, d.g AS sd, u[d.g + 1] AS v
               FROM qv, generate_series(0, 63) d(g)),
        ed AS (SELECT e.vec_id, c.cent, SUM((e.v - c.v) * (e.v - c.v)) AS dist
               FROM ev e JOIN g2 c USING (sd) GROUP BY e.vec_id, c.cent),
        cellasg AS (SELECT vec_id, cent AS cell FROM (
                      SELECT vec_id, cent, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent) AS rk
                      FROM ed) t WHERE rk = 1),
        rv AS (SELECT e.vec_id, e.sd // 8 AS j, e.sd % 8 AS sd, e.v - g.v AS v
               FROM ev e JOIN cellasg ca USING (vec_id)
               JOIN g2 g ON g.cent = ca.cell AND g.sd = e.sd),
        sv AS (SELECT s.rn, r.j, r.sd, r.v FROM samp s JOIN rv r ON r.vec_id = s.vec_id),
        c0 AS (SELECT j, rn - 1 AS cent, sd, v FROM sv WHERE rn <= 16),
        d1 AS (SELECT s.rn, s.j, c.cent, SUM((s.v - c.v) * (s.v - c.v)) AS dist
               FROM sv s JOIN c0 c ON s.j = c.j AND s.sd = c.sd
               GROUP BY s.rn, s.j, c.cent),
        a1 AS (SELECT rn, j, cent FROM (
                 SELECT rn, j, cent, row_number() OVER (PARTITION BY rn, j ORDER BY dist, cent) AS rk
                 FROM d1) t WHERE rk = 1),
        u1 AS (SELECT s.j, a.cent, s.sd, SUM(s.v) AS sm, COUNT(*) AS n
               FROM sv s JOIN a1 a ON s.rn = a.rn AND s.j = a.j
               GROUP BY s.j, a.cent, s.sd),
        c1 AS (SELECT c.j, c.cent, c.sd,
                      COALESCE(CASE WHEN u.sm >= 0 THEN u.sm // u.n
                                    ELSE -((-u.sm) // u.n) END, c.v) AS v
               FROM c0 c LEFT JOIN u1 u ON c.j = u.j AND c.cent = u.cent AND c.sd = u.sd),
        d2 AS (SELECT s.rn, s.j, c.cent, SUM((s.v - c.v) * (s.v - c.v)) AS dist
               FROM sv s JOIN c1 c ON s.j = c.j AND s.sd = c.sd
               GROUP BY s.rn, s.j, c.cent),
        a2 AS (SELECT rn, j, cent FROM (
                 SELECT rn, j, cent, row_number() OVER (PARTITION BY rn, j ORDER BY dist, cent) AS rk
                 FROM d2) t WHERE rk = 1),
        u2 AS (SELECT s.j, a.cent, s.sd, SUM(s.v) AS sm, COUNT(*) AS n
               FROM sv s JOIN a2 a ON s.rn = a.rn AND s.j = a.j
               GROUP BY s.j, a.cent, s.sd),
        c2 AS (SELECT c.j, c.cent, c.sd,
                      COALESCE(CASE WHEN u.sm >= 0 THEN u.sm // u.n
                                    ELSE -((-u.sm) // u.n) END, c.v) AS v
               FROM c1 c LEFT JOIN u2 u ON c.j = u.j AND c.cent = u.cent AND c.sd = u.sd),
        cd AS (SELECT r.vec_id, r.j, c.cent, SUM((r.v - c.v) * (r.v - c.v)) AS dist
               FROM rv r JOIN c2 c ON r.j = c.j AND r.sd = c.sd
               GROUP BY r.vec_id, r.j, c.cent),
        codes AS (SELECT vec_id, j, cent FROM (
                    SELECT vec_id, j, cent, row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cent) AS rk
                    FROM cd) t WHERE rk = 1),
        probes AS (SELECT vec_id AS q_id, cent AS cell FROM (
                     SELECT vec_id, cent, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent) AS rk
                     FROM ed WHERE vec_id < 5) t WHERE rk <= 2),
        qcd AS (SELECT e.vec_id AS q_id, g.cent AS cell, SUM(e.v * g.v) AS cdot
                FROM ev e JOIN g2 g USING (sd) WHERE e.vec_id < 5
                GROUP BY e.vec_id, g.cent),
        lut AS (SELECT e.vec_id AS q_id, c.j, c.cent, SUM(e.v * c.v) AS dp
                FROM ev e JOIN c2 c ON c.j = e.sd // 8 AND c.sd = e.sd % 8
                WHERE e.vec_id < 5 GROUP BY e.vec_id, c.j, c.cent),
        ax AS (SELECT p.q_id, ca.vec_id AS c_id, ca.cell, SUM(l.dp) AS pq_dot
               FROM probes p
               JOIN cellasg ca ON ca.cell = p.cell AND ca.vec_id <> p.q_id
               JOIN codes co ON co.vec_id = ca.vec_id
               JOIN lut l ON l.q_id = p.q_id AND l.j = co.j AND l.cent = co.cent
               GROUP BY p.q_id, ca.vec_id, ca.cell),
        ax2 AS (SELECT a.q_id, a.c_id, a.pq_dot + qc.cdot AS approx_dot
                FROM ax a JOIN qcd qc ON qc.q_id = a.q_id AND qc.cell = a.cell),
        short AS (SELECT q_id, c_id FROM (
                    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
                      ORDER BY approx_dot DESC, c_id) AS rk
                    FROM ax2) t WHERE rk <= 40),
        en AS (SELECT vec_id, embedding,
                      sqrt(${VectorFns.dotSql("embedding", "embedding")}) AS norm
               FROM embeddings),
        p AS (SELECT s.q_id, s.c_id,
                     ${VectorFns.dotSql("qq.embedding", "cc.embedding")} / (qq.norm * cc.norm) AS cos
              FROM short s
              JOIN en qq ON qq.vec_id = s.q_id
              JOIN en cc ON cc.vec_id = s.c_id),
        r AS (SELECT q_id, c_id,
                     CAST(row_number() OVER (PARTITION BY q_id
                            ORDER BY round(cos, 9) DESC, c_id) AS BIGINT) AS rnk
              FROM p)"""

  val qs: Seq[Q] = Seq(

    // ----- brute-force cosine top-5 for query vectors vec_id < 5.
    // Norms are precomputed per vector (one self-dot each) instead of per
    // pair — at Q queries × N candidates that's N+Q dots of setup for Q·N
    // pair dots, not 3·Q·N. Exactness is unaffected: the decimal dots are
    // exact, so cos is bit-identical whenever it's computed.
    Q("q_sim_cosine_topk",
      (s, dir) => {
        val (q, c) = querySides(t(s, dir, "embeddings"))
        graft.operators.Similarity.cosineTopK(q, c, 5)
          .select(col("q_id"), col("c_id"), round(col("similarity"), 6).as("similarity"),
            col("rank"))
          .orderBy(col("q_id"), col("rank"))
      },
      Some(s"""
        WITH e AS (SELECT vec_id, embedding,
                          sqrt(${VectorFns.dotSql("embedding", "embedding")}) AS norm
                   FROM embeddings),
        q AS (SELECT vec_id AS q_id, embedding AS qe, norm AS qn FROM e WHERE vec_id < 5),
        c AS (SELECT vec_id AS c_id, embedding AS ce, norm AS cn FROM e),
        p AS (
          SELECT q_id, c_id, ${VectorFns.dotSql("qe", "ce")} / (qn * cn) AS cos
          FROM q, c WHERE q_id <> c_id
        ), r AS (
          SELECT q_id, c_id, cos,
                 CAST(row_number() OVER (PARTITION BY q_id
                        ORDER BY round(cos, 9) DESC, c_id) AS BIGINT) AS rank
          FROM p)
        SELECT q_id, c_id, round(cos, 6) AS similarity, rank
        FROM r WHERE rank <= 5 ORDER BY q_id, rank""")),

    // ----- end-to-end LSH ANN: score only within the query's 4-bit bucket,
    // then rerank exactly — the scale path (bucket equi-join, no cross join)
    Q("q_ann_lsh_topk",
      (s, dir) => {
        val (q, c) = querySides(t(s, dir, "embeddings"))
        graft.operators.Similarity.lshTopK(q, c, nBits = 4, k = 3)
          .select(col("q_id"), col("c_id"), round(col("similarity"), 6).as("similarity"),
            col("rank"))
          .orderBy(col("q_id"), col("rank"))
      },
      Some(s"""
        WITH e AS (SELECT vec_id, embedding, CAST(${bucketSql(4)} AS BIGINT) AS bucket,
                          sqrt(${VectorFns.dotSql("embedding", "embedding")}) AS norm
                   FROM embeddings),
        q AS (SELECT vec_id AS q_id, embedding AS qe, norm AS qn, bucket
              FROM e WHERE vec_id < 5),
        c AS (SELECT vec_id AS c_id, embedding AS ce, norm AS cn, bucket FROM e),
        p AS (
          SELECT q_id, c_id, ${VectorFns.dotSql("qe", "ce")} / (qn * cn) AS cos
          FROM q JOIN c USING (bucket) WHERE q_id <> c_id
        ), r AS (
          SELECT q_id, c_id, cos,
                 CAST(row_number() OVER (PARTITION BY q_id
                        ORDER BY round(cos, 9) DESC, c_id) AS BIGINT) AS rank
          FROM p)
        SELECT q_id, c_id, round(cos, 6) AS similarity, rank
        FROM r WHERE rank <= 3 ORDER BY q_id, rank""")),

    // ----- Johnson-Lindenstrauss random projection (dimensionality
    // reduction): project 64-dim embeddings to 8 dims with the
    // deterministic ±1 sign matrix the LSH family already uses — the
    // UN-thresholded projections (lshBucketQ thresholds these same values
    // into bucket bits). ±1-sign JL preserves pairwise distances in
    // expectation (Achlioptas 2003), making it the cheap pre-step before
    // clustering / ANN when the raw dimension is large; exact decimal
    // arithmetic end-to-end so both engines agree bit-for-bit (only the
    // final display round is double). Map-side projection; the kernel
    // upgrade path is the LshBucketQ codegen family.
    Q("q_vec_random_projection",
      (s, dir) => {
        val e = t(s, dir, "embeddings").filter(col("vec_id") < 50)
        e.select(col("vec_id") +: (0 until 8).map(j =>
            round(VectorFns.signProjection("embedding", j).cast(DoubleType), 6)
              .as(s"y$j")): _*)
          .orderBy(col("vec_id"))
      },
      Some {
        val cols = (0 until 8).map(j =>
          s"round(CAST(${VectorFns.signProjectionSql("embedding", j)} AS DOUBLE), 6) AS y$j")
          .mkString(",\n               ")
        s"""
        SELECT vec_id,
               $cols
        FROM embeddings WHERE vec_id < 50 ORDER BY vec_id"""
      }),

    // ----- ANN recall evaluation ("measure, don't guess"): recall@5 of the
    // 4-bit-bucket LSH path against the exact brute-force top-5, per query —
    // the acceptance test an ANN index must pass before it replaces exact
    // search in a production pipeline. The exact side runs over a SAMPLED
    // query set (here vec_id < 5) — on a cluster the eval cost is
    // Q_sample × N with the query side broadcast, never N²; the candidate
    // scan is shared by both sides via one common subplan.
    Q("q_ann_recall",
      (s, dir) => {
        val e = withBucket(t(s, dir, "embeddings"), 4)
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("qv").as("qe"),
                  col("norm").as("qn"), col("bucket").as("qb"))
        val c = e.select(col("vec_id").as("c_id"), col("qv").as("ce"),
                  col("norm").as("cn"), col("bucket").as("cb"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(round(col("cos"), 9).desc, col("c_id"))
        // one scored pair stream serves both sides: the exact top-5 comes
        // from all pairs, the LSH top-5 from the bucket-filtered subset —
        // the candidate side is scanned once, not twice
        val scored = c.crossJoin(broadcast(q))
          .filter(col("q_id") =!= col("c_id"))
          .withColumn("cos",
            VectorFns.dotQDouble(col("qe"), col("ce")) / (col("qn") * col("cn")))
        val exact = scored
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("q_id"), col("c_id"))
        val approx = scored.filter(col("qb") === col("cb"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select(col("q_id").as("a_q"), col("c_id").as("a_c"))
        recallPpm(exact, approx)
      },
      Some(s"""
        WITH e AS (SELECT vec_id, embedding, CAST(${bucketSql(4)} AS BIGINT) AS bucket,
                          sqrt(${VectorFns.dotSql("embedding", "embedding")}) AS norm
                   FROM embeddings),
        q AS (SELECT vec_id AS q_id, embedding AS qe, norm AS qn, bucket AS qb
              FROM e WHERE vec_id < 5),
        c AS (SELECT vec_id AS c_id, embedding AS ce, norm AS cn, bucket AS cb FROM e),
        p AS (
          SELECT q_id, c_id, qb, cb,
                 ${VectorFns.dotSql("qe", "ce")} / (qn * cn) AS cos
          FROM q, c WHERE q_id <> c_id
        ), exact AS (
          SELECT q_id, c_id FROM (
            SELECT q_id, c_id,
                   row_number() OVER (PARTITION BY q_id
                     ORDER BY round(cos, 9) DESC, c_id) AS rank
            FROM p) x WHERE rank <= 5
        ), approx AS (
          SELECT q_id AS a_q, c_id AS a_c FROM (
            SELECT q_id, c_id,
                   row_number() OVER (PARTITION BY q_id
                     ORDER BY round(cos, 9) DESC, c_id) AS rank
            FROM p WHERE qb = cb) x WHERE rank <= 5
        )
        SELECT q_id, COUNT(a_c) AS n_hits,
               COUNT(a_c) * 1000000 // 5 AS recall_ppm
        FROM exact LEFT JOIN approx ON q_id = a_q AND c_id = a_c
        GROUP BY q_id ORDER BY q_id""")),

    // ----- embedding-dimension recall curve (Matryoshka-style, Kusupati et
    // al. 2022): recall@5 of brute-force search run on PREFIX dims 8/16/32
    // of the 64-dim embedding vs the full-dim exact top-5 — the measurement
    // before committing a truncated-dimension index (storage and compute
    // scale linearly with kept dims; this query prices the recall cost).
    // One scored pair stream carries all four cosines; the per-dim top-5
    // membership test is a conditional count against the full-dim rank —
    // no per-dim joins. Query side sampled (vec_id < 5) and broadcast, the
    // cluster eval shape.
    Q("q_ann_dim_curve",
      (s, dir) => {
        val dims = Seq(8, 16, 32)
        def pfxNorm(d: Int): Column =
          sqrt(VectorFns.dotQDouble(slice(col("qv"), 1, d), slice(col("qv"), 1, d)))
        val e = t(s, dir, "embeddings")
          .withColumn("qv", VectorFns.quantize(col("embedding")))
          .withColumn("n64", sqrt(VectorFns.dotQDouble(col("qv"), col("qv"))))
        val eN = dims.foldLeft(e)((acc, d) => acc.withColumn(s"n$d", pfxNorm(d)))
        val q = eN.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id") +: col("qv").as("qe") +:
            (dims :+ 64).map(d => col(s"n$d").as(s"qn$d")): _*)
        val c = eN
          .select(col("vec_id").as("c_id") +: col("qv").as("ce") +:
            (dims :+ 64).map(d => col(s"n$d").as(s"cn$d")): _*)
        def cosAt(d: Int): Column =
          VectorFns.dotQDouble(slice(col("qe"), 1, d), slice(col("ce"), 1, d)) /
            (col(s"qn$d") * col(s"cn$d"))
        def w(c: String) = Window.partitionBy(col("q_id"))
          .orderBy(round(col(c), 9).desc, col("c_id"))
        val scored0 = c.crossJoin(broadcast(q))
          .filter(col("q_id") =!= col("c_id"))
          .withColumn("cosf",
            VectorFns.dotQDouble(col("qe"), col("ce")) / (col("qn64") * col("cn64")))
        val scored = dims.foldLeft(scored0)((acc, d) =>
          acc.withColumn(s"cos$d", cosAt(d)))
        val ranked = dims.foldLeft(
            scored.withColumn("rf", row_number().over(w("cosf"))))(
            (acc, d) => acc.withColumn(s"r$d", row_number().over(w(s"cos$d"))))
          .filter(col("rf") <= 5)
        val aggs = dims.flatMap(d => Seq(
          count(when(col(s"r$d") <= 5, 1)).as(s"n_hits_d$d"),
          expr(s"count(CASE WHEN r$d <= 5 THEN 1 END) * 1000000L DIV 5")
            .as(s"recall_ppm_d$d")))
        ranked.groupBy(col("q_id"))
          .agg(aggs.head, aggs.tail: _*)
          .repartition(1).sortWithinPartitions(col("q_id"))
      },
      Some {
        val dims = Seq(8, 16, 32)
        val norms = (d: String) => dims.map(i =>
          s"sqrt(${VectorFns.dotSql(s"$d[1:$i]", s"$d[1:$i]")}) AS n$i")
          .mkString(", ")
        val cosCols = dims.map(d =>
          s"${VectorFns.dotSql(s"qe[1:$d]", s"ce[1:$d]")} / (qn$d * cn$d) AS cos$d")
          .mkString(",\n                 ")
        val rankCols = dims.map(d =>
          s"row_number() OVER (PARTITION BY q_id ORDER BY round(cos$d, 9) DESC, c_id) AS r$d")
          .mkString(",\n                 ")
        val aggCols = dims.map(d =>
          s"CAST(COUNT(CASE WHEN r$d <= 5 THEN 1 END) AS BIGINT) AS n_hits_d$d,\n" +
          s"               CAST(COUNT(CASE WHEN r$d <= 5 THEN 1 END) * 1000000 // 5 AS BIGINT) AS recall_ppm_d$d")
          .mkString(",\n               ")
        s"""
        WITH e AS (SELECT vec_id, embedding,
                          sqrt(${VectorFns.dotSql("embedding", "embedding")}) AS n64,
                          ${norms("embedding")}
                   FROM embeddings),
        q AS (SELECT vec_id AS q_id, embedding AS qe, n64 AS qn64,
                     ${dims.map(d => s"n$d AS qn$d").mkString(", ")}
              FROM e WHERE vec_id < 5),
        c AS (SELECT vec_id AS c_id, embedding AS ce, n64 AS cn64,
                     ${dims.map(d => s"n$d AS cn$d").mkString(", ")}
              FROM e),
        p AS (SELECT q_id, c_id,
                 ${VectorFns.dotSql("qe", "ce")} / (qn64 * cn64) AS cosf,
                 $cosCols
              FROM q, c WHERE q_id <> c_id),
        r AS (SELECT q_id, c_id,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY round(cosf, 9) DESC, c_id) AS rf,
                 $rankCols
              FROM p)
        SELECT q_id,
               $aggCols
        FROM r WHERE rf <= 5 GROUP BY q_id ORDER BY q_id"""
      }),

    // ----- multiprobe LSH ANN: the query probes its own 6-bit bucket PLUS
    // every bucket one sign-flip away — the recall lever at zero index
    // cost. Candidates stay single-bucketed (probe-side-only fan-out); the
    // probe list is distinct buckets so no (q,c) pair scores twice.
    Q("q_ann_lsh_multiprobe",
      (s, dir) => {
        val e = withBucket(t(s, dir, "embeddings"), 6)
        val q0 = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("qv").as("qe"),
                  col("norm").as("qn"), col("bucket").as("b0"))
        val q = q0.withColumn("bucket", explode(array(
            (col("b0") +: (0 until 6).map(j =>
              col("b0").bitwiseXOR(lit(1L << j)))): _*)))
          .drop("b0")
        val c = e.select(col("vec_id").as("c_id"), col("qv").as("ce"),
                  col("norm").as("cn"), col("bucket"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(round(col("cos"), 9).desc, col("c_id"))
        c.join(broadcast(q), Seq("bucket"))
          .filter(col("q_id") =!= col("c_id"))
          .withColumn("cos", VectorFns.dotQDouble(col("qe"), col("ce")) / (col("qn") * col("cn")))
          .withColumn("rank", row_number().over(w).cast(LongType))
          .filter(col("rank") <= 3)
          .select(col("q_id"), col("c_id"), round(col("cos"), 6).as("similarity"), col("rank"))
          .orderBy(col("q_id"), col("rank"))
      },
      Some(s"""
        WITH e AS (SELECT vec_id, embedding, CAST(${bucketSql(6)} AS BIGINT) AS bucket,
                          sqrt(${VectorFns.dotSql("embedding", "embedding")}) AS norm
                   FROM embeddings),
        q0 AS (SELECT vec_id AS q_id, embedding AS qe, norm AS qn, bucket AS b0
               FROM e WHERE vec_id < 5),
        q AS (SELECT q_id, qe, qn,
                     unnest([b0] || list_transform(range(0, 6),
                       j -> xor(b0, CAST(1 << j AS BIGINT)))) AS bucket
              FROM q0),
        c AS (SELECT vec_id AS c_id, embedding AS ce, norm AS cn, bucket FROM e),
        p AS (
          SELECT q_id, c_id, ${VectorFns.dotSql("qe", "ce")} / (qn * cn) AS cos
          FROM q JOIN c USING (bucket) WHERE q_id <> c_id
        ), r AS (
          SELECT q_id, c_id, cos,
                 CAST(row_number() OVER (PARTITION BY q_id
                        ORDER BY round(cos, 9) DESC, c_id) AS BIGINT) AS rank
          FROM p)
        SELECT q_id, c_id, round(cos, 6) AS similarity, rank
        FROM r WHERE rank <= 3 ORDER BY q_id, rank""")),

    // ----- embedding near-dup pairs within 8-bit LSH buckets (label-0 slice:
    // near-dup detection normally runs per-shard; norms precomputed)
    Q("q_dedup_embedding",
      (s, dir) => {
        embeddingPairs(s, dir)
          .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("similarity"))
          .orderBy(col("a_id"), col("b_id"))
      },
      Some(s"""
        WITH $embeddingPairCtes
        SELECT a_id, b_id, round(cos, 6) AS similarity
        FROM p WHERE round(cos, 6) >= 0.2
        ORDER BY a_id, b_id""")),

    // ----- SEMANTIC dedup clusters: embedding near-dup pairs (LSH-bucketed
    // cosine) closed into connected components — the survivorship unit of
    // embedding-space dedup, where textual dedup misses paraphrases. The
    // same bounded-round min-label propagation as q_dedup_components, fed
    // by vector pairs instead of shingle pairs; oracle is the recursive
    // closure over the identical pair SQL.
    Q("q_dedup_embedding_components",
      (s, dir) => {
        val pairs = embeddingPairs(s, dir)
          .select(col("a_id"), col("b_id"))
        graft.operators.Components.connectedComponents(pairs, "a_id", "b_id")
          .orderBy(col("node"))
      },
      Some(s"""
        WITH RECURSIVE $embeddingPairCtes,
        pairs AS (SELECT a_id, b_id FROM p WHERE round(cos, 6) >= 0.2),
        ${Fragments.closureCtes("pairs")}
        SELECT node, component_id FROM comp ORDER BY node""")),

    // ----- per-label embedding norm statistics (zip_with/aggregate surface)
    // avg is over *squared* norms: those stay in exact decimal end-to-end,
    // whereas averaging sqrt() doubles would re-quantize irrational doubles
    // to decimal, which rounds differently across engines.
    Q("q_vec_norm_stats",
      (s, dir) =>
        t(s, dir, "embeddings")
          .withColumn("qv", VectorFns.quantize(col("embedding")))
          .withColumn("sq", VectorFns.dotQ(col("qv"), col("qv")))
          .withColumn("norm", sqrt(col("sq").cast(DoubleType)))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n_vectors"),
               (sum(col("sq")).cast(DoubleType) / count(lit(1))).as("avg_sq_norm"),
               min(col("norm")).as("min_norm"), max(col("norm")).as("max_norm"))
          .orderBy(col("label")),
      Some(s"""
        SELECT label, COUNT(*) AS n_vectors,
               CAST(SUM(sq) AS DOUBLE) / COUNT(*) AS avg_sq_norm,
               min(norm) AS min_norm, max(norm) AS max_norm
        FROM (SELECT label, sq, sqrt(CAST(sq AS DOUBLE)) AS norm
              FROM (SELECT label, ${VectorFns.dotDecSql("embedding", "embedding")} AS sq
                    FROM embeddings) t0) t
        GROUP BY label ORDER BY label""")),

    // ----- per-label centroids — the k-means/IVF update step, exact: the
    // QuantizeVec kernel turns each vector into integer 1e-6 units, per-dim
    // sums are plain long arithmetic, and the centroid double is one exactly
    // rounded division of exact integers. Scale shape: posexplode is narrow
    // and the (label, dim) hash-agg combines map-side, so the shuffle carries
    // at most labels × dims × partitions rows — never the vector stream.
    Q("q_vec_centroids",
      (s, dir) =>
        t(s, dir, "embeddings")
          .select(col("label"), posexplode(VectorFns.quantize(col("embedding"))))
          .withColumn("dim", (col("pos") + 1).cast(LongType))
          .groupBy(col("label"), col("dim"))
          .agg(count(lit(1)).as("n_vectors"),
               sum(col("col")).as("sum_units"),
               (sum(col("col")).cast(DoubleType)
                 / (count(lit(1)) * 1000000L)).as("centroid"))
          .orderBy(col("label"), col("dim")),
      Some("""
        WITH u AS (
          -- two same-length unnests in one SELECT zip positionally
          SELECT label,
                 unnest(range(1, len(embedding) + 1)) AS dim,
                 unnest(list_transform(embedding,
                   e -> CAST(CAST(e AS DOUBLE) AS DECIMAL(12,6)))) AS d
          FROM embeddings)
        SELECT label, CAST(dim AS BIGINT) AS dim, COUNT(*) AS n_vectors,
               CAST(SUM(d) * 1000000 AS BIGINT) AS sum_units,
               CAST(CAST(SUM(d) * 1000000 AS BIGINT) AS DOUBLE)
                 / (COUNT(*) * 1000000) AS centroid
        FROM u GROUP BY label, dim ORDER BY label, dim""")),

    // ----- LSH: deterministic sign-random-projection bucketing (8 bits).
    // The hyperplane sign for (bit j, dim i) is ((i*7919 + j*104729) % 97) % 2
    // mapped to ±1 — pseudo-random but engine-portable; projections are exact
    // decimal sums so the sign (and thus the bucket) cannot diverge.
    Q("q_ann_lsh_buckets",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        e.withColumn("bucket",
            VectorFns.lshBucketQ(VectorFns.quantize(col("embedding")), 8))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_vectors"))
          .withColumn("n_cand_pairs",
            expr("CAST(n_vectors * (n_vectors - 1) / 2 AS BIGINT)"))
          .orderBy(col("bucket"))
      },
      Some(s"""
        SELECT bucket, COUNT(*) AS n_vectors,
               CAST(COUNT(*) * (COUNT(*) - 1) / 2 AS BIGINT) AS n_cand_pairs
        FROM (SELECT CAST(${bucketSql(8)} AS BIGINT) AS bucket FROM embeddings) t
        GROUP BY bucket ORDER BY bucket""")),

    // ----- IVF ANN under the hard gate via its exactness property: probing
    // ALL nLists cells covers every candidate exactly once (each vector lives
    // in one cell), so full-probe IVF must equal the brute-force top-k — the
    // DuckDB oracle IS the brute-force ranking. Ranks only (the double-math
    // scoring ranks identically to the decimal oracle on random embeddings;
    // the score column itself would differ in the last ulps). Residual risk
    // acknowledged: a pair of cosines within ~5e-10 at the k boundary could
    // order differently (Spark ranks raw doubles, the oracle rounds to 9dp) —
    // on the FIXED iid-float fixture no such near-tie exists (verified at
    // sf0.001/0.01/0.1), and for random embeddings the probability is ~1e-12.
    Q("q_ann_ivf_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val (q, c) = querySides(e)
        graft.operators.Similarity.ivfTopK(q, c, nLists = 8, nProbe = 8, k = 5)
          .transform(rankedTop)
      },
      Some(bruteTop5Sql)),

    // ----- PQ (product-quantization) ANN, ORACLE-GATED end to end: the
    // MEMORY half of the ANN scale story — candidates carry m=8 codes
    // (~bytes) instead of 64 floats. The whole pipeline is fixed-point
    // deterministic (the k-means discipline): codebooks train on the 256
    // lowest-id vectors in unit-long Lloyd iterations (exact integer
    // distances, truncated integer means), codes are integer argmins, and
    // the rerank shortlist is cut on the exact integer ADC DOT — so DuckDB
    // replays train → encode → ADC → shortlist → exact cosine re-rank
    // bit-for-bit. rerank=50 binds at every fixture SF (corpus ≥ 100);
    // q_ann_pq_exact runs the same path at full rerank.
    Q("q_ann_pq_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val (q, c) = querySides(e)
        val books = graft.operators.Similarity.pqTrainUnits(
          c.select(col("c_id"), col("ce").as("embedding")), "c_id", "embedding",
          m = 8, kCent = 16, sampleSize = 256, iters = 2)
        graft.operators.Similarity.pqTopKUnits(q, c, books, k = 5, rerank = 50)
          .transform(rankedTop)
      },
      Some(s"""
        WITH qv AS (
          SELECT vec_id, list_transform(embedding,
                   e -> CAST(CAST(CAST(e AS DOUBLE) AS DECIMAL(12,6)) * 1000000 AS BIGINT)) AS u
          FROM embeddings),
        samp AS (SELECT vec_id, u, row_number() OVER (ORDER BY vec_id) AS rn
                 FROM qv ORDER BY vec_id LIMIT 256),
        sv AS (SELECT rn, d.g // 8 AS j, d.g % 8 AS sd, u[d.g + 1] AS v
               FROM samp, generate_series(0, 63) d(g)),
        c0 AS (SELECT j, rn - 1 AS cent, sd, v FROM sv WHERE rn <= 16),
        d1 AS (SELECT s.rn, s.j, c.cent, SUM((s.v - c.v) * (s.v - c.v)) AS dist
               FROM sv s JOIN c0 c ON s.j = c.j AND s.sd = c.sd
               GROUP BY s.rn, s.j, c.cent),
        a1 AS (SELECT rn, j, cent FROM (
                 SELECT rn, j, cent,
                        row_number() OVER (PARTITION BY rn, j ORDER BY dist, cent) AS rk
                 FROM d1) t WHERE rk = 1),
        u1 AS (SELECT s.j, a.cent, s.sd, SUM(s.v) AS sm, COUNT(*) AS n
               FROM sv s JOIN a1 a ON s.rn = a.rn AND s.j = a.j
               GROUP BY s.j, a.cent, s.sd),
        c1 AS (SELECT c.j, c.cent, c.sd,
                      COALESCE(CASE WHEN u.sm >= 0 THEN u.sm // u.n
                                    ELSE -((-u.sm) // u.n) END, c.v) AS v
               FROM c0 c LEFT JOIN u1 u
                 ON c.j = u.j AND c.cent = u.cent AND c.sd = u.sd),
        d2 AS (SELECT s.rn, s.j, c.cent, SUM((s.v - c.v) * (s.v - c.v)) AS dist
               FROM sv s JOIN c1 c ON s.j = c.j AND s.sd = c.sd
               GROUP BY s.rn, s.j, c.cent),
        a2 AS (SELECT rn, j, cent FROM (
                 SELECT rn, j, cent,
                        row_number() OVER (PARTITION BY rn, j ORDER BY dist, cent) AS rk
                 FROM d2) t WHERE rk = 1),
        u2 AS (SELECT s.j, a.cent, s.sd, SUM(s.v) AS sm, COUNT(*) AS n
               FROM sv s JOIN a2 a ON s.rn = a.rn AND s.j = a.j
               GROUP BY s.j, a.cent, s.sd),
        c2 AS (SELECT c.j, c.cent, c.sd,
                      COALESCE(CASE WHEN u.sm >= 0 THEN u.sm // u.n
                                    ELSE -((-u.sm) // u.n) END, c.v) AS v
               FROM c1 c LEFT JOIN u2 u
                 ON c.j = u.j AND c.cent = u.cent AND c.sd = u.sd),
        ev AS (SELECT vec_id, d.g // 8 AS j, d.g % 8 AS sd, u[d.g + 1] AS v
               FROM qv, generate_series(0, 63) d(g)),
        ed AS (SELECT e.vec_id, e.j, c.cent, SUM((e.v - c.v) * (e.v - c.v)) AS dist
               FROM ev e JOIN c2 c ON e.j = c.j AND e.sd = c.sd
               GROUP BY e.vec_id, e.j, c.cent),
        codes AS (SELECT vec_id, j, cent FROM (
                    SELECT vec_id, j, cent,
                           row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cent) AS rk
                    FROM ed) t WHERE rk = 1),
        lut AS (SELECT e.vec_id AS q_id, e.j, c.cent, SUM(e.v * c.v) AS dp
                FROM ev e JOIN c2 c ON e.j = c.j AND e.sd = c.sd
                WHERE e.vec_id < 5
                GROUP BY e.vec_id, e.j, c.cent),
        ax AS (SELECT l.q_id, co.vec_id AS c_id, SUM(l.dp) AS approx_dot
               FROM codes co JOIN lut l ON co.j = l.j AND co.cent = l.cent
               WHERE co.vec_id <> l.q_id
               GROUP BY l.q_id, co.vec_id),
        short AS (SELECT q_id, c_id FROM (
                    SELECT q_id, c_id,
                           row_number() OVER (PARTITION BY q_id
                             ORDER BY approx_dot DESC, c_id) AS rk
                    FROM ax) t WHERE rk <= 50),
        en AS (SELECT vec_id, embedding,
                      sqrt(${VectorFns.dotSql("embedding", "embedding")}) AS norm
               FROM embeddings),
        p AS (SELECT s.q_id, s.c_id,
                     ${VectorFns.dotSql("qq.embedding", "cc.embedding")} / (qq.norm * cc.norm) AS cos
              FROM short s
              JOIN en qq ON qq.vec_id = s.q_id
              JOIN en cc ON cc.vec_id = s.c_id),
        r AS (SELECT q_id, c_id,
                     CAST(row_number() OVER (PARTITION BY q_id
                            ORDER BY round(cos, 9) DESC, c_id) AS BIGINT) AS rnk
              FROM p)
        SELECT q_id, c_id, rnk FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""")),

    // ----- PQ under the hard gate via its exactness property (the IVF
    // trick): with rerank = corpus size the ADC shortlist keeps EVERY
    // candidate regardless of its lossy approximate score, so the exact
    // re-rank IS brute-force cosine top-k — the same windowed-decimal
    // oracle as q_sim_cosine_topk/q_ann_ivf_topk. This pins the fixed-point
    // PQ plumbing (encode → ADC lookup tables → shortlist heap → re-rank
    // join) against brute force; q_ann_pq_topk above gates the lossy
    // rerank=50 cut against its own replay.
    Q("q_ann_pq_exact",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val (q, c) = querySides(e)
        // bounded driver-side scalar (parquet metadata count), like the
        // IVF/PQ training samples — never the vectors themselves
        val n = c.count().toInt
        val books = graft.operators.Similarity.pqTrainUnits(
          c.select(col("c_id"), col("ce").as("embedding")), "c_id", "embedding",
          m = 8, kCent = 16, sampleSize = 256, iters = 2)
        graft.operators.Similarity.pqTopKUnits(q, c, books, k = 5, rerank = n)
          .transform(rankedTop)
      },
      Some(bruteTop5Sql),
      // oracle-exactness twin of q_ann_pq_topk: brute-force rerank over the
      // whole corpus BY CONSTRUCTION (it exists to prove the PQ path's ADC
      // ranking against exact cosine). Intentionally unscalable -- excluded
      // from the bench headline, which scores only plans meant to be run.
      bench = false),

    // ----- IVF-PQ combined (FAISS IndexIVFPQ, Jégou et al. 2011): the
    // production billion-vector index — the coarse quantizer bounds COMPUTE
    // (each query scores only nProbe=2 of nLists=8 cells, cells measured
    // balanced 45–73/500 at sf0.01) and residual PQ codes bound MEMORY
    // (m=8 codes per vector on the scan side). Fully fixed-point: one
    // 256-lowest-id sample trains coarse cells AND residual codebooks
    // (integer Lloyd, ties to lowest, truncated means); approx_dot =
    // dot(q, coarse[cell]) + Σ_j lut_j[code_j], all unit-long exact — so
    // DuckDB replays train → assign → residual-encode → probe → ADC →
    // shortlist → exact cosine re-rank bit-for-bit.
    Q("q_ann_ivfpq_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
        // NOT spread (round-22 A/B, rejected): the residual-encode + ADC +
        // shortlist chain is map-fused onto the one-row-group fixture scan
        // as a 165 ms serial stage, but spreading the candidate side read
        // jobs 8 → 11 and wall 684 → 732 ms — the AQE exchange jobs cost
        // more than the widened kernel returns at this row's size. At
        // scale the scan splits and the chain is wide without help.
        val c = e.select(col("vec_id").as("c_id"), col("embedding").as("ce"))
        val (coarse, books) = graft.operators.Similarity.ivfpqTrainUnits(
          c.select(col("c_id"), col("ce").as("embedding")), "c_id", "embedding",
          nLists = 8, m = 8, kCent = 16, sampleSize = 256, iters = 2)
        graft.operators.Similarity.ivfpqTopKUnits(q, c, coarse, books,
            nProbe = 2, k = 5, rerank = 40)
          .transform(rankedTop)
      },
      Some(s"""
        WITH $ivfpqCtes
        SELECT q_id, c_id, rnk FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""")),

    // ----- IVF-PQ recall evaluation (the acceptance measurement before an
    // index swap — the q_ann_recall shape for the combined index): recall@5
    // of the PRODUCTION IVF-PQ path (nProbe=2, rerank=40) against exact
    // brute-force cosine, per query. Deterministic end to end (the ivfpq
    // chain is integer-exact), so the recall numbers themselves are
    // oracle-gated, not just spec-bounded. Shares the ivfpqCtes replay with
    // q_ann_ivfpq_topk so the two oracles cannot drift.
    Q("q_ann_ivfpq_recall",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val (q, c) = querySides(e)
        val (coarse, books) = graft.operators.Similarity.ivfpqTrainUnits(
          c.select(col("c_id"), col("ce").as("embedding")), "c_id", "embedding",
          nLists = 8, m = 8, kCent = 16, sampleSize = 256, iters = 2)
        val approx = graft.operators.Similarity.ivfpqTopKUnits(q, c, coarse,
            books, nProbe = 2, k = 5, rerank = 40)
          .select(col("q_id").as("a_q"), col("c_id").as("a_c"))
        recallAt5(q, c, approx)
      },
      Some(s"""
        WITH $ivfpqCtes,
        ap AS (SELECT q_id AS a_q, c_id AS a_c FROM r WHERE rnk <= 5),
        ${recallSql("en", "ap")}""")),

    // ----- graph-based ANN (the NSW/HNSW/DiskANN family): a cell-bounded
    // k-NN neighbor graph (degree 6, the persisted billion-edge index) is
    // served by a fixed-hop BEAM SEARCH — entries are the 4 lowest-id
    // vectors, each hop joins the beam's neighbors in from the graph,
    // scores every (query, candidate) once and keeps the best 8 per query
    // on the bounded heap. Fully deterministic (fixed-point Lloyd cells,
    // rounded cosines, ties to lowest id), so the oracle replays the
    // graph build AND both unrolled hops edge-for-edge. Binds at sf0.01:
    // the entry set alone answers none of the queries' final top-5 — every
    // result arrives over graph edges.
    Q("q_ann_graph_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val (qq, cc) = querySides(e)
        val g = graft.operators.Similarity.knnGraph(e, "vec_id", "embedding",
          k = 4, passes = 2, degree = 6)
        graft.operators.Similarity.graphTopK(qq, cc, g,
            entryK = 4, beam = 8, hops = 2, k = 5)
          .transform(rankedTop)
      },
      Some(graphTop5Sql(graphCtes(degree = 6, entryK = 4, beam = 8, hops = 2)))),

    // ----- graph-ANN recall@5 vs exact brute force — the acceptance
    // measurement before an index swap (the q_ann_ivfpq_recall shape for
    // the graph family); shares graphCtes with q_ann_graph_topk so the two
    // oracles cannot drift. Deterministic end to end, so the recall
    // numbers are oracle-gated, not just spec-bounded.
    Q("q_ann_graph_recall",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val (qq, cc) = querySides(e)
        val g = graft.operators.Similarity.knnGraph(e, "vec_id", "embedding",
          k = 4, passes = 2, degree = 6)
        val approx = graft.operators.Similarity.graphTopK(qq, cc, g,
            entryK = 4, beam = 8, hops = 2, k = 5)
          .select(col("q_id").as("a_q"), col("c_id").as("a_c"))
        recallAt5(qq, cc, approx)
      },
      Some(s"""
        WITH ${graphCtes(degree = 6, entryK = 4, beam = 8, hops = 2)},
        gap AS (SELECT q_id AS a_q, c_id AS a_c FROM (
                  SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
                    ORDER BY sim DESC, c_id) AS rk FROM b2) f WHERE rk <= 5),
        ${recallSql("gn", "gap")}""")),

    // ----- MATRYOSHKA truncation evaluation: recall@5 of retrieval over
    // the FIRST 16 of 64 dimensions against full-dimension exact cosine —
    // the acceptance measurement behind MRL-style embedding serving
    // (store/scan the prefix, keep the tail for re-rank; 4× less index
    // memory and bandwidth IF the prefix ranks well enough). One scored
    // pair stream serves both legs (the q_ann_recall idiom); everything is
    // quantized-integer exact, so the recall numbers are oracle-gated.
    Q("q_ann_matryoshka_recall",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .withColumn("qv", VectorFns.quantize(col("embedding")))
          .withColumn("tv", slice(col("qv"), 1, 16))
          .withColumn("norm", sqrt(VectorFns.dotQDouble(col("qv"), col("qv"))))
          .withColumn("tnorm", sqrt(VectorFns.dotQDouble(col("tv"), col("tv"))))
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("qv").as("qe"), col("norm").as("qn"),
            col("tv").as("qte"), col("tnorm").as("qtn"))
        val c = e.select(col("vec_id").as("c_id"), col("qv").as("ce"),
          col("norm").as("cn"), col("tv").as("cte"), col("tnorm").as("ctn"))
        val scored = c.crossJoin(broadcast(q))
          .filter(col("q_id") =!= col("c_id"))
          .withColumn("cos",
            VectorFns.dotQDouble(col("qe"), col("ce")) / (col("qn") * col("cn")))
          .withColumn("tcos",
            VectorFns.dotQDouble(col("qte"), col("cte")) / (col("qtn") * col("ctn")))
        val wf = Window.partitionBy(col("q_id"))
          .orderBy(round(col("cos"), 9).desc, col("c_id"))
        val wt = Window.partitionBy(col("q_id"))
          .orderBy(round(col("tcos"), 9).desc, col("c_id"))
        val exact = scored.withColumn("rank", row_number().over(wf))
          .filter(col("rank") <= 5).select(col("q_id"), col("c_id"))
        val trunc = scored.withColumn("rank", row_number().over(wt))
          .filter(col("rank") <= 5)
          .select(col("q_id").as("a_q"), col("c_id").as("a_c"))
        recallPpm(exact, trunc)
      },
      Some(s"""
        WITH e AS (SELECT vec_id, embedding, embedding[1:16] AS te,
                          sqrt(${VectorFns.dotSql("embedding", "embedding")}) AS norm,
                          sqrt(${VectorFns.dotSql("te0.te", "te0.te")}) AS tnorm
                   FROM (SELECT vec_id, embedding, embedding[1:16] AS te
                         FROM embeddings) te0),
        q AS (SELECT vec_id AS q_id, embedding AS qe, te AS qte, norm AS qn,
                     tnorm AS qtn
              FROM e WHERE vec_id < 5),
        c AS (SELECT vec_id AS c_id, embedding AS ce, te AS cte, norm AS cn,
                     tnorm AS ctn FROM e),
        p AS (SELECT q_id, c_id,
                     ${VectorFns.dotSql("qe", "ce")} / (qn * cn) AS cos,
                     ${VectorFns.dotSql("qte", "cte")} / (qtn * ctn) AS tcos
              FROM q, c WHERE q_id <> c_id),
        mex AS (SELECT q_id, c_id FROM (
                  SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
                    ORDER BY round(cos, 9) DESC, c_id) AS rk
                  FROM p) t WHERE rk <= 5),
        mtr AS (SELECT q_id AS a_q, c_id AS a_c FROM (
                  SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
                    ORDER BY round(tcos, 9) DESC, c_id) AS rk
                  FROM p) t WHERE rk <= 5)
        SELECT q_id, CAST(COUNT(a_c) AS BIGINT) AS n_hits,
               CAST(COUNT(a_c) * 1000000 // 5 AS BIGINT) AS recall_ppm
        FROM mex LEFT JOIN mtr ON q_id = a_q AND c_id = a_c
        GROUP BY q_id ORDER BY q_id""")),

    // ----- MATRYOSHKA SERVING (the MRL deployment shape the recall row
    // above measures acceptance for): a persisted PREFIX-dimension index
    // — 16 of 64 dims quantized + k-means cell, partitioned BY CELL so
    // the probe partition-prunes to the queries' cells — shortlists by
    // prefix cosine on the bounded heap, and FULL vectors join in once
    // per query for the exact re-rank of the shortlist. Centroids are a
    // persisted fit (train/persist/serve split); the oracle replays the
    // prefix k-means (kmeansCtes over the sliced embedding), the
    // 2-probe entry, the rounded prefix shortlist, and the rounded
    // full re-rank.
    Q("q_ann_matryoshka_serve",
      (s, dir) => {
        val (qq, cc, idx, cents) = matryoshkaServeParts(s, dir)
        graft.operators.Similarity.matryoshkaTopKServe(qq, cc, idx, cents,
            prefixDim = 16, shortlist = 16, k = 5, nProbe = 2)
          .transform(rankedTop)
      },
      Some(s"""
        WITH $matryoshkaServeCtes
        SELECT q_id, c_id, rnk FROM yrk WHERE rnk <= 5 ORDER BY q_id, rnk"""),
      prepare = Some((s, dir) => { matryoshkaServeParts(s, dir); () })),

    // recall@5 of the matryoshka serve vs full-dimension exact brute
    // force — the acceptance measurement for the prefix-IVF entry +
    // shortlist size, per the approximate-family convention. At fixture
    // scale it reads LOW (200k–400k ppm): the synthetic embeddings are
    // not MRL-trained, so their first 16 dims carry no privileged signal
    // — which is precisely the condition this row exists to surface
    // before a corpus owner swaps prefix serving in.
    Q("q_ann_matryoshka_serve_recall",
      (s, dir) => {
        val (qq, cc, idx, cents) = matryoshkaServeParts(s, dir)
        val approx = graft.operators.Similarity.matryoshkaTopKServe(qq, cc,
            idx, cents, prefixDim = 16, shortlist = 16, k = 5, nProbe = 2)
          .select(col("q_id").as("a_q"), col("c_id").as("a_c"))
        recallAt5(qq, cc, approx)
      },
      Some(s"""
        WITH $matryoshkaServeCtes,
        yap AS (SELECT q_id AS a_q, c_id AS a_c FROM yrk WHERE rnk <= 5),
        ${recallSql("ye", "yap")}"""),
      prepare = Some((s, dir) => { matryoshkaServeParts(s, dir); () })),

    // the POSITIVE control for the row above (VERDICT r18 #8): the same
    // serve path over a PREFIX-INFORMATIVE variant of the fixture
    // embeddings (tails scaled 2⁻⁴ — the energy profile an MRL-trained
    // embedder actually emits, exact in both engines' arithmetic). The
    // iid row honestly reads 200–400k ppm because its first 16 dims carry
    // no privileged signal; this row demonstrates the machinery working
    // on vectors with the shape it is built for, and the CONTRAST between
    // the two is the acceptance measurement a corpus owner reads before
    // swapping prefix serving in.
    Q("q_ann_matryoshka_serve_recall_mrl",
      (s, dir) => {
        val (qq, cc, idx, cents) = matryoshkaServeParts(s, dir, mrl = true)
        val approx = graft.operators.Similarity.matryoshkaTopKServe(qq, cc,
            idx, cents, prefixDim = 16, shortlist = 16, k = 5, nProbe = 2)
          .select(col("q_id").as("a_q"), col("c_id").as("a_c"))
        recallAt5(qq, cc, approx)
      },
      Some(s"""
        WITH ${matryoshkaServeCtesFor(mrlShapedSql)},
        yap AS (SELECT q_id AS a_q, c_id AS a_c FROM yrk WHERE rnk <= 5),
        ${recallSql("ye", "yap")}"""),
      prepare = Some((s, dir) => { matryoshkaServeParts(s, dir, mrl = true); () })),

    // ----- DiskANN-shape graph serving: the beam walks the graph scored
    // by PRODUCT-QUANTIZED approximate inner products (integer ADC
    // lookups against the unit-long codebooks — every beam decision is
    // exact arithmetic, so the SQL replays the walk bit-for-bit), and
    // only the FINAL beam pays an exact cosine re-rank against true
    // embeddings. The serving memory layout of the DiskANN/SPANN family:
    // codes + edges in fast storage, full vectors fetched once per query
    // for the last beam. Composes three oracled chains (frozen-cell graph
    // build, the q_ann_pq_topk books replay, the beam unroll) in one gate.
    Q("q_ann_graph_pq",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val (qq, cc) = querySides(e)
        val g = knnGraphFixture(s, dir)
        val books = graft.operators.Similarity.pqTrainUnits(
          cc.select(col("c_id"), col("ce").as("embedding")), "c_id", "embedding",
          m = 8, kCent = 16, sampleSize = 256, iters = 2)
        graft.operators.Similarity.graphTopKPQ(qq, cc, g, books,
            entryK = 4, beam = 8, hops = 2, k = 5)
          .transform(rankedTop)
      },
      Some(graphPqOracle)),

    // ----- SERVE-shaped DiskANN: every artifact the PQ walk touches is a
    // persisted read — the graph edge table, the unit-long codebooks
    // (pqCodebooksUnitsDf through graft.Fixtures, rebuilt driver-side by
    // the FitFrames bounded collect), and the (c_id, codes) table — so the
    // timed query pays index reads + the ADC beam + one exact re-rank of
    // the final beam, which is exactly what a DiskANN serving node pays.
    // Identical results to q_ann_graph_pq (same frozen fits), so the
    // oracle replays the full construction inline.
    Q("q_ann_graph_pq_serve",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val (qq, cc) = querySides(e)
        val g = knnGraphFixture(s, dir)
        val books = graft.operators.Similarity.pqCodebooksUnitsFromDf(
          pqBooksFixture(s, dir))
        val codes = pqCodesFixture(s, dir)
        graft.operators.Similarity.graphTopKPQWithIndex(qq, cc, g, codes,
            books, entryK = 4, beam = 8, hops = 2, k = 5)
          .transform(rankedTop)
      },
      Some(graphPqOracle),
      prepare = Some((s, dir) => {
        knnGraphFixture(s, dir); pqCodesFixture(s, dir); ()
      })),

    // ----- PQ-walk recall@5 vs exact brute force — the acceptance
    // measurement for the MOST lossy graph variant (approximate ADC
    // ordering can steer the beam off the true neighborhood before the
    // exact re-rank ever sees it), following the convention that every
    // approximate family carries its own oracle-gated recall row. Shares
    // graphPqCtes with q_ann_graph_pq so the two oracles cannot drift.
    Q("q_ann_graph_pq_recall",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val (qq, cc) = querySides(e)
        val g = knnGraphFixture(s, dir)
        val books = graft.operators.Similarity.pqTrainUnits(
          cc.select(col("c_id"), col("ce").as("embedding")), "c_id", "embedding",
          m = 8, kCent = 16, sampleSize = 256, iters = 2)
        val approx = graft.operators.Similarity.graphTopKPQ(qq, cc, g, books,
            entryK = 4, beam = 8, hops = 2, k = 5)
          .select(col("q_id").as("a_q"), col("c_id").as("a_c"))
        recallAt5(qq, cc, approx)
      },
      Some(s"""
        WITH ${graphPqCtes(degree = 6, entryK = 4, beam = 8, hops = 2)},
        pfin AS (SELECT b.q_id, b.c_id,
                        ${VectorFns.dotSql("qq.embedding", "cc.embedding")}
                          / (qq.norm * cc.norm) AS cos
                 FROM b2 b
                 JOIN gn qq ON qq.vec_id = b.q_id
                 JOIN gn cc ON cc.vec_id = b.c_id),
        pap AS (SELECT q_id AS a_q, c_id AS a_c FROM (
                  SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
                    ORDER BY round(cos, 9) DESC, c_id) AS rk FROM pfin) f
                WHERE rk <= 5),
        ${recallSql("gn", "pap")}""")),

    // ----- graph ANN with a COARSE ENTRY LAYER (the HNSW-upper-layer /
    // IVF-entry serving shape): instead of the lowest-id entry convention,
    // each query's beam starts from its best members of a deterministic
    // 1-in-4 id-residue sample of the corpus, scored exactly — entry
    // quality then depends on the query, not on what the lowest ids happen
    // to embed. The layer plays the IVF-centroid role at scale (pick the
    // modulus so N/mod is index-node-sized). Shares the graph CTE chain
    // with the other rows (only the entry CTE differs), so the families
    // cannot drift.
    Q("q_ann_graph_layered",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val (qq, cc) = querySides(e)
        val g = knnGraphFixture(s, dir)
        graft.operators.Similarity.graphTopKLayered(qq, cc, g,
            sampleMod = 4L, beam = 8, hops = 2, k = 5)
          .transform(rankedTop)
      },
      Some(graphTop5Sql(graphCtes(degree = 6, entryK = 4, beam = 8, hops = 2, entryMod = 4L))),
      prepare = Some((s, dir) => { knnGraphFixture(s, dir); () })),

    // ----- SERVE-shaped graph ANN (the r16 gate treatment applied to the
    // graph family): q_ann_graph_topk prices build+serve in one query —
    // the 2–3 s it pays is ~all graph construction. Production serves a
    // PERSISTED edge table (the billion-edge index sharded by node), so
    // this row builds the graph once per JVM through graft.Fixtures (the
    // setup step; in Bench the first build lands in the cold run, whose
    // >2×-warm rerun rule re-prices it) and the timed query pays edge-table
    // READ + beam search only. Identical results to the inline row (same
    // frozen Lloyd fit, same deterministic beam), so the oracle replays
    // the full construction inline — the only self-contained form the
    // driver's DuckDB gate can run; correctness still verifies the whole
    // graph's effect on every answer while the Spark timing measures
    // serving.
    Q("q_ann_graph_serve",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val (qq, cc) = querySides(e)
        val g = knnGraphFixture(s, dir)
        graft.operators.Similarity.graphTopK(qq, cc, g,
            entryK = 4, beam = 8, hops = 2, k = 5)
          .transform(rankedTop)
      },
      Some(graphTop5Sql(graphCtes(degree = 6, entryK = 4, beam = 8, hops = 2))),
      prepare = Some((s, dir) => { knnGraphFixture(s, dir); () })),

    // ----- incremental graph maintenance (the daily-batch shape of the
    // graph family, completing the incremental symmetry exact/minhash/
    // substring/graph): history's kNN graph is built once under its own
    // frozen Lloyd fit, the second half of the corpus arrives as a batch,
    // and mergeKnnGraph folds batch edges in — only touched cells'
    // history vectors are re-read, both edge directions considered, one
    // top-degree re-rank over old ∪ new edges. The oracle is the FULL
    // REBUILD under the same frozen centroids (train on history, assign
    // everyone), so the merge's equality contract is itself the gate:
    // any missed reverse edge or duplicate-seated neighbor diverges rows.
    Q("q_ann_graph_merge",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val mid = e.agg(expr("coalesce(MAX(vec_id) DIV 2, 0)").as("m"))
          .collect()(0).getLong(0)
        val hist = e.filter(col("vec_id") < mid)
        val batch = e.filter(col("vec_id") >= mid)
        val cents = graft.operators.KMeans.train(hist, "vec_id", "embedding",
          k = 4, passes = 2)
        // the persisted-index stand-in (production merges against a READ
        // of yesterday's edge table): materialize history's graph once,
        // or the union side re-derives its whole build subtree
        val g0 = graft.Materialize.eager(
          graft.operators.Similarity.knnGraphWith(hist, "vec_id",
              "embedding", cents, degree = 6))
        graft.operators.Similarity.mergeKnnGraph(g0, hist, batch, "vec_id",
            "embedding", cents, degree = 6)
          .orderBy(col("node"), col("nbr"))
      },
      Some(s"""
        WITH mid AS (SELECT COALESCE(MAX(vec_id) // 2, 0) AS m FROM embeddings),
        hist AS (SELECT e.vec_id, e.embedding FROM embeddings e, mid
                 WHERE e.vec_id < m),
        ${kmeansCtes("hist")},
        $frozenGraphSql""")),

    // ----- batch-equivalent streaming kNN-GRAPH gate (Streams.
    // knnGraphGateBatch): arrivals split into three micro-batches by id
    // range flow through the graph-maintenance gate sequentially — build
    // on batch 0 under its own frozen fit, then two mergeKnnGraph folds
    // (touched-cells-only history re-read, both edge directions, one
    // top-degree re-rank each). The mergeKnnGraph equality contract
    // applied INDUCTIVELY says the result is edge-for-edge the full
    // rebuild over everything under the same frozen centroids — so the
    // oracle IS the full rebuild (train on batch 0, assign everyone,
    // top-degree per node), and any associativity slip across TWO chained
    // merges diverges rows. StreamsSpec's crash drills pin the
    // foreachBatch plumbing (version stamps, min-batch-id vector table)
    // to these same semantics.
    Q("q_stream_knn_graph_batch",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val t3 = e.agg(expr("coalesce(MAX(vec_id) DIV 3, 0)").as("t"))
          .collect()(0).getLong(0)
        val b0 = e.filter(col("vec_id") < t3)
        val b1 = e.filter(col("vec_id") >= t3 && col("vec_id") < 2 * t3)
        val b2 = e.filter(col("vec_id") >= 2 * t3)
        val cents = graft.operators.KMeans.train(b0, "vec_id", "embedding",
          k = 4, passes = 2)
        // each gate step reads the PREVIOUS persisted graph version —
        // materialized, as the warehouse table would be (distinct keys:
        // g0 is still live while g1 builds)
        val g0 = graft.Materialize.eager(
          graft.operators.Similarity.knnGraphWith(b0, "vec_id", "embedding",
            cents, degree = 6))
        val g1 = graft.Materialize.eager(
          graft.operators.Similarity.mergeKnnGraph(g0, b0, b1, "vec_id",
            "embedding", cents, degree = 6))
        graft.operators.Similarity.mergeKnnGraph(g1,
            e.filter(col("vec_id") < 2 * t3), b2, "vec_id", "embedding",
            cents, degree = 6)
          .orderBy(col("node"), col("nbr"))
      },
      Some(s"""
        WITH t3 AS (SELECT COALESCE(MAX(vec_id) // 3, 0) AS t FROM embeddings),
        seg0 AS (SELECT e.vec_id, e.embedding FROM embeddings e, t3
                 WHERE e.vec_id < t),
        ${kmeansCtes("seg0")},
        $frozenGraphSql"""),
      // three graph builds' worth of pair work in ONE row: a correctness
      // device for the chained-merge induction (the single-merge and serve
      // rows price the family's latency) — the documented bench=false class
      bench = false),

    // ----- diversity-preserving subsampling: cap every 6-bit LSH bucket at
    // 3 docs (cluster-balanced selection — cover the semantic space instead
    // of oversampling dense modes). Order within a bucket is a portable
    // Knuth multiplicative hash of the id, so Spark's bounded-heap
    // TopKPerGroup and the oracle's window agree row-for-row.
    Q("q_sample_diverse",
      (s, dir) =>
        graft.operators.Curation.diverseSample(
            t(s, dir, "embeddings"), "vec_id", "embedding", nBits = 6, perBucket = 3)
          .orderBy(col("bucket"), col("rank")),
      Some(s"""
        WITH b AS (SELECT vec_id, CAST(${bucketSql(6)} AS BIGINT) AS bucket,
                          (((vec_id % 2147483647 + 2147483647) % 2147483647)
                           * 2654435761) % 2147483647 AS ord
                   FROM embeddings),
        r AS (SELECT bucket, vec_id,
                     CAST(row_number() OVER (PARTITION BY bucket
                            ORDER BY ord, vec_id) AS BIGINT) AS rank
              FROM b)
        SELECT bucket, vec_id, rank FROM r WHERE rank <= 3
        ORDER BY bucket, rank""")),

    // ----- distributed fixed-point k-means (k=4, two assignment passes,
    // one centroid update): vectors in exact 1e-6 units, distances exact
    // integer sums, centroids truncated per-dim integer means — every
    // assignment engine-exact, so the oracle replays the full Lloyd
    // iteration and must agree bit-for-bit. Assignment is map-side (the
    // centroid matrix is a plan literal); the update is one (cluster, dim)
    // hash-agg that never moves the vector stream.
    Q("q_vec_kmeans",
      (s, dir) =>
        graft.operators.KMeans.assignments(
            t(s, dir, "embeddings"), "vec_id", "embedding", k = 4, passes = 2)
          .orderBy(col("vec_id")),
      Some(s"""
        WITH ${kmeansCtes()}
        SELECT vec_id, CAST(j AS BIGINT) AS cluster, CAST(dist AS BIGINT) AS dist
        FROM a2 ORDER BY vec_id""")),

    // ----- clustering-quality report (the elbow statistic): member count,
    // exact total inertia, truncated mean distance per cluster — one k-row
    // aggregate over the same engine-exact assignment.
    Q("q_vec_kmeans_inertia",
      (s, dir) =>
        graft.operators.KMeans.inertia(
            t(s, dir, "embeddings"), "vec_id", "embedding", k = 4, passes = 2)
          .orderBy(col("cluster")),
      Some(s"""
        WITH ${kmeansCtes()}
        SELECT CAST(j AS BIGINT) AS cluster,
               CAST(COUNT(*) AS BIGINT) AS n_vectors,
               CAST(SUM(dist) AS BIGINT) AS inertia,
               CAST(SUM(dist) // COUNT(*) AS BIGINT) AS mean_dist
        FROM a2 GROUP BY j ORDER BY cluster""")),

    // ----- per-cluster quota cap: diversity sampling with SEMANTIC
    // clusters instead of LSH buckets (20 of ~125 members per cluster — the
    // cap binds). Heap-capped on TopKPerGroup in portable Knuth-hash order.
    Q("q_cluster_cap",
      (s, dir) =>
        graft.operators.KMeans.clusterCap(
            t(s, dir, "embeddings"), "vec_id", "embedding", k = 4, passes = 2,
            perCluster = 20)
          .orderBy(col("cluster"), col("rank")),
      Some(s"""
        WITH ${kmeansCtes()},
        ordd AS (SELECT vec_id, j,
                   (((vec_id % 2147483647 + 2147483647) % 2147483647)
                    * 2654435761) % 2147483647 AS ord FROM a2),
        r AS (SELECT j, vec_id,
                CAST(row_number() OVER (PARTITION BY j
                  ORDER BY ord, vec_id) AS BIGINT) AS rank
              FROM ordd)
        SELECT CAST(j AS BIGINT) AS cluster, vec_id, rank
        FROM r WHERE rank <= 20 ORDER BY cluster, rank""")),

    // ----- SemDeDup (Abbas et al. 2023): k-means cells bound the pair
    // search, within-cell cosine pairs >= 0.2 are pruned keeping the member
    // FARTHEST from its centroid (diversity-preserving survivorship). The
    // whole decision chain — fixed-point Lloyd fit, exact decimal pair
    // cosine, (dist, id) drop order — is engine-exact, so the oracle
    // replays every drop bit-for-bit. The 0.2 threshold binds on the
    // fixture (same cosine spread q_dedup_embedding gates on).
    Q("q_dedup_semantic",
      (s, dir) =>
        graft.operators.Dedup.semDedup(
            t(s, dir, "embeddings"), "vec_id", "embedding", k = 4, passes = 2,
            threshold = 0.2)
          .orderBy(col("vec_id")),
      Some(s"""
        WITH ${kmeansCtes()},
        qn AS (SELECT vec_id, embedding,
                      sqrt(${VectorFns.dotSql("embedding", "embedding")}) AS norm
               FROM embeddings),
        m AS (SELECT a2.vec_id, a2.j, a2.dist, qn.embedding, qn.norm
              FROM a2 JOIN qn USING (vec_id)),
        dropped AS (
          SELECT DISTINCT CASE WHEN a.dist < b.dist
                                 OR (a.dist = b.dist AND a.vec_id > b.vec_id)
                               THEN a.vec_id ELSE b.vec_id END AS drop_id
          FROM m a JOIN m b ON a.j = b.j AND a.vec_id < b.vec_id
          WHERE round(${VectorFns.dotSql("a.embedding", "b.embedding")}
                      / (a.norm * b.norm), 6) >= 0.2)
        SELECT vec_id, CAST(j AS BIGINT) AS cluster, CAST(dist AS BIGINT) AS dist
        FROM m WHERE vec_id NOT IN (SELECT drop_id FROM dropped)
        ORDER BY vec_id""")),

    // ----- contrastive triplet mining (SimCSE/E5 data prep): per anchor,
    // the best same-cell positive (cos >= 0.25) and the HARDEST same-cell
    // negative (highest cos inside [0.05, 0.15)); anchors missing either
    // side drop. Both thresholds bind on the fixture (824 directed pairs
    // >= 0.3, ~12k in the 0.1-0.2 band at sf0.01). Both top-1 selections
    // ride ONE pass over the pair join as conditional min(struct) aggs
    // (r16 — no pair row stored or recomputed); the oracle replays the
    // Lloyd fit, rounded cosines, and both (cos DESC, other) top-1 cuts.
    Q("q_vec_contrastive",
      (s, dir) =>
        graft.operators.Similarity.contrastiveTriplets(
            t(s, dir, "embeddings"), "vec_id", "embedding", k = 4, passes = 2,
            posThreshold = 0.25, negLo = 0.05, negHi = 0.15)
          .orderBy(col("anchor")),
      Some(s"""
        WITH ${kmeansCtes()},
        qn AS (SELECT vec_id, embedding,
                      sqrt(${VectorFns.dotSql("embedding", "embedding")}) AS norm
               FROM embeddings),
        m AS (SELECT a2.vec_id, a2.j, qn.embedding, qn.norm
              FROM a2 JOIN qn USING (vec_id)),
        p AS (SELECT a.vec_id AS anchor, b.vec_id AS other,
                     round(${VectorFns.dotSql("a.embedding", "b.embedding")}
                           / (a.norm * b.norm), 6) AS cos
              FROM m a JOIN m b ON a.j = b.j AND a.vec_id <> b.vec_id),
        pos AS (SELECT anchor, other AS pos_id, cos AS pos_cos FROM (
                  SELECT anchor, other, cos,
                         row_number() OVER (PARTITION BY anchor
                           ORDER BY cos DESC, other) AS rk
                  FROM p WHERE cos >= 0.25) t WHERE rk = 1),
        neg AS (SELECT anchor, other AS neg_id, cos AS neg_cos FROM (
                  SELECT anchor, other, cos,
                         row_number() OVER (PARTITION BY anchor
                           ORDER BY cos DESC, other) AS rk
                  FROM p WHERE cos >= 0.05 AND cos < 0.15) t WHERE rk = 1)
        SELECT anchor, pos_id, pos_cos, neg_id, neg_cos
        FROM pos JOIN neg USING (anchor) ORDER BY anchor""")),

    // ----- semantic-dedup threshold-selection curve: within-cell pair
    // cosines histogrammed into 0.05 bands (band = floor(20·cos) over
    // non-negative cosines) — the measurement you read τ from BEFORE
    // committing a SemDeDup run (a threshold below the curve's knee
    // deletes real content; above it, misses paraphrases). Same salted
    // cell pair join as the dedup itself; identical rounded doubles on
    // both engines make the banding engine-exact.
    Q("q_dedup_semantic_curve",
      (s, dir) =>
        graft.operators.Similarity.cellPairs(graft.operators.Similarity.withQNorm(
            graft.operators.KMeans.assignmentsQ(
              t(s, dir, "embeddings"), "vec_id", "embedding", k = 4, passes = 2)),
            "vec_id")
          .filter(col("l") < col("r") && col("cos") >= 0.0)
          .withColumn("band", floor(col("cos") * 20).cast(LongType))
          .groupBy(col("band"))
          .agg(count(lit(1)).cast(LongType).as("n_pairs"))
          .orderBy(col("band")),
      Some(s"""
        WITH ${kmeansCtes()},
        qn AS (SELECT vec_id, embedding,
                      sqrt(${VectorFns.dotSql("embedding", "embedding")}) AS norm
               FROM embeddings),
        m AS (SELECT a2.vec_id, a2.j, qn.embedding, qn.norm
              FROM a2 JOIN qn USING (vec_id)),
        p AS (SELECT round(${VectorFns.dotSql("a.embedding", "b.embedding")}
                           / (a.norm * b.norm), 6) AS cos
              FROM m a JOIN m b ON a.j = b.j AND a.vec_id < b.vec_id)
        SELECT CAST(floor(cos * 20) AS BIGINT) AS band,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM p WHERE cos >= 0.0 GROUP BY 1 ORDER BY band""")),

    // ----- SEMANTIC CURATION CAPSTONE: the text family and the vector
    // family composed under ONE oracle — integer quality gate over
    // `documents` → inner join to the embedded subset (`embeddings`; at
    // sf0.1 only ids < 2000 carry vectors — the realistic partial-coverage
    // shape) → SemDeDup over the gated embedded docs (Lloyd fit SEEDED ON
    // THE GATED SUBSET, so the gate changes the clustering and the oracle
    // must replay the whole chain) → per-source survivorship accounting.
    // The gated frame is checkpointed once: SemDeDup's eager training jobs
    // and its four plan branches otherwise re-run the quality HOFs + join
    // subtree each time.
    Q("q_semantic_curation_pipeline",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val scored = graft.operators.Curation
          .qualityScore(docs, "text", Seq("a", "the"), keepThreshold = 250000L)
          .withColumn("n_tokens",
            graft.functions.TextFns.tokenCount(col("text")).cast(LongType))
        val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        val gated = graft.Materialize.eager(
          scored.filter(col("keep"))
            .join(emb, col("doc_id") === col("vec_id"))
            .select(col("doc_id"), col("source"), col("n_tokens"), col("embedding")))
        val surv = graft.operators.Dedup.semDedup(
            gated, "doc_id", "embedding", k = 4, passes = 2, threshold = 0.2)
          .select(col("doc_id"), lit(true).as("surv"))
        gated.join(surv, Seq("doc_id"), "left")
          .groupBy(col("source"))
          .agg(
            count(lit(1)).cast(LongType).as("n_in"),
            count(col("surv")).cast(LongType).as("n_kept"),
            sum(when(col("surv"), col("n_tokens")).otherwise(lit(0L)))
              .cast(LongType).as("tok_kept"))
          .orderBy(col("source"))
      },
      Some(s"""
        WITH sc AS (SELECT doc_id, source,
                           string_split_regex(lower(trim(text)), '\\s+') AS t
                    FROM documents),
        q0 AS (SELECT doc_id, source, CAST(len(t) AS BIGINT) AS n_tokens,
                      1000 * LEAST(GREATEST(len(t), 1), 200)
                        + (500 * ((len(list_distinct(t)) * 1000000)
                                  // GREATEST(len(t), 1))) // 1000
                        - (300 * ((len(list_filter(t, x -> x = 'a' OR x = 'the'))
                                   * 1000000) // GREATEST(len(t), 1))) // 1000 AS score
               FROM sc),
        g AS (SELECT q0.doc_id AS vec_id, q0.source, q0.n_tokens, e.embedding
              FROM q0 JOIN embeddings e ON e.vec_id = q0.doc_id
              WHERE q0.score >= 250000),
        ${kmeansCtes("g")},
        qn AS (SELECT vec_id, embedding,
                      sqrt(${VectorFns.dotSql("embedding", "embedding")}) AS norm
               FROM g),
        m AS (SELECT a2.vec_id, a2.j, a2.dist, qn.embedding, qn.norm
              FROM a2 JOIN qn USING (vec_id)),
        dropped AS (
          SELECT DISTINCT CASE WHEN a.dist < b.dist
                                 OR (a.dist = b.dist AND a.vec_id > b.vec_id)
                               THEN a.vec_id ELSE b.vec_id END AS drop_id
          FROM m a JOIN m b ON a.j = b.j AND a.vec_id < b.vec_id
          WHERE round(${VectorFns.dotSql("a.embedding", "b.embedding")}
                      / (a.norm * b.norm), 6) >= 0.2),
        k2 AS (SELECT g.source, g.n_tokens,
                      g.vec_id NOT IN (SELECT drop_id FROM dropped) AS kept
               FROM g)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_in,
               CAST(COUNT(CASE WHEN kept THEN 1 END) AS BIGINT) AS n_kept,
               CAST(COALESCE(SUM(CASE WHEN kept THEN n_tokens END), 0) AS BIGINT)
                 AS tok_kept
        FROM k2 GROUP BY source ORDER BY source""")),

    // ----- TRI-MODAL CURATION CAPSTONE: the image, audio, and embedding
    // dedup legs joined PER DOCUMENT into one curation verdict — the
    // multimodal-corpus shape where a training example is (image, clip,
    // text) and a document is dropped if ANY modality marks it a
    // duplicate. Legs are the registry's own oracle-gated operators on
    // their established fixtures: BMP dHash (q_mm_phash_dedup), WAV
    // band-energy fingerprint (q_mm_audio_fingerprint), SemDeDup over the
    // partially-covered embeddings table (q_dedup_semantic; absent
    // embedding = not semantically deduplicable, the realistic coverage
    // gap). Survivor rule per modality: minimum doc id in the collision
    // group. Scale shape: two hash-keyed survivor aggregates + re-joins
    // (the dedupLines pattern), the cell-bounded SemDeDup pair join, then
    // doc-id-keyed joins and one source-cardinality aggregate.
    Q("q_mm_trimodal_verdict",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
        val imgMedia = Fragments.phashMedia(s, dir)
        // each modality's (doc_id, hash) table feeds BOTH the survivor
        // aggregate and its re-join — uncached, the media synth + decode
        // subtree re-evaluates per consumer (the lint's 7-scan cap
        // caught 9 documents scans); two longs per doc, checkpoint once
        val img = graft.Materialize.eager(
          graft.multimodal.Multimodal.dHash(imgMedia).toDF()
            .select(col("doc_id"), col("dhash")))
        val imgDup = img
          .join(img.groupBy(col("dhash")).agg(min(col("doc_id")).as("__is")), "dhash")
          .select(col("doc_id"), (col("doc_id") =!= col("__is")).as("img_dup"))
        val auMedia = Fragments.audioMedia(s, dir)
        val au = graft.Materialize.eager(
          graft.multimodal.Multimodal.audioFingerprint(auMedia).toDF()
            .select(col("doc_id"), col("fp")))
        val auDup = au
          .join(au.groupBy(col("fp")).agg(min(col("doc_id")).as("__as")), "fp")
          .select(col("doc_id"), (col("doc_id") =!= col("__as")).as("audio_dup"))
        val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        val semSurv = graft.operators.Dedup.semDedup(
            emb, "vec_id", "embedding", k = 4, passes = 2, threshold = 0.2)
          .select(col("vec_id").as("doc_id"), lit(true).as("__ss"))
        docs
          .join(imgDup, Seq("doc_id"))
          .join(auDup, Seq("doc_id"))
          .join(emb.select(col("vec_id").as("doc_id"), lit(true).as("__se")),
            Seq("doc_id"), "left")
          .join(semSurv, Seq("doc_id"), "left")
          .withColumn("sem_dup", col("__se").isNotNull && col("__ss").isNull)
          .groupBy(col("source"))
          .agg(count(lit(1)).cast(LongType).as("n_docs"),
            count(when(col("img_dup"), 1)).cast(LongType).as("n_img_dup"),
            count(when(col("audio_dup"), 1)).cast(LongType).as("n_audio_dup"),
            count(when(col("sem_dup"), 1)).cast(LongType).as("n_sem_dup"),
            count(when(!col("img_dup") && !col("audio_dup") && !col("sem_dup"), 1))
              .cast(LongType).as("n_keep"))
          .orderBy(col("source"))
      },
      Some(s"""
        WITH ${kmeansCtes()},
        ${Fragments.dhashCtes("img_")},
        img_dup AS (
          SELECT doc_id,
                 doc_id <> MIN(doc_id) OVER (PARTITION BY dhash) AS img_dup
          FROM img_bits),
        ${Fragments.audioFpCtes("au_")},
        au_dup AS (
          SELECT doc_id,
                 doc_id <> MIN(doc_id) OVER (PARTITION BY fp) AS audio_dup
          FROM au_fp),
        qn AS (SELECT vec_id, embedding,
                      sqrt(${VectorFns.dotSql("embedding", "embedding")}) AS norm
               FROM embeddings),
        m AS (SELECT a2.vec_id, a2.j, a2.dist, qn.embedding, qn.norm
              FROM a2 JOIN qn USING (vec_id)),
        dropped AS (
          SELECT DISTINCT CASE WHEN a.dist < b.dist
                                 OR (a.dist = b.dist AND a.vec_id > b.vec_id)
                               THEN a.vec_id ELSE b.vec_id END AS drop_id
          FROM m a JOIN m b ON a.j = b.j AND a.vec_id < b.vec_id
          WHERE round(${VectorFns.dotSql("a.embedding", "b.embedding")}
                      / (a.norm * b.norm), 6) >= 0.2),
        verdict AS (
          SELECT d.doc_id, d.source, i.img_dup, a.audio_dup,
                 (e.vec_id IS NOT NULL
                  AND e.vec_id IN (SELECT drop_id FROM dropped)) AS sem_dup
          FROM documents d
          JOIN img_dup i ON d.doc_id = i.doc_id
          JOIN au_dup a ON d.doc_id = a.doc_id
          LEFT JOIN embeddings e ON d.doc_id = e.vec_id)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(CASE WHEN img_dup THEN 1 END) AS BIGINT) AS n_img_dup,
               CAST(COUNT(CASE WHEN audio_dup THEN 1 END) AS BIGINT) AS n_audio_dup,
               CAST(COUNT(CASE WHEN sem_dup THEN 1 END) AS BIGINT) AS n_sem_dup,
               CAST(COUNT(CASE WHEN NOT img_dup AND NOT audio_dup
                               AND NOT sem_dup THEN 1 END) AS BIGINT) AS n_keep
        FROM verdict GROUP BY source ORDER BY source""")),

    // ----- CROSS-MODAL retrieval through a shared embedding space: "text"
    // queries (odd vec_ids) probe an "image" corpus (even vec_ids) — the
    // CLIP-style serving shape where the two modalities are embedded into
    // one space and retrieval crosses them. Exercises the IVF
    // train-then-SERVE split the registry's other ANN rows don't: the
    // coarse quantizer is trained ONCE on the corpus side (ivfIndex — a
    // bounded driver matrix, the persistable artifact), and ivfTopKWith
    // serves the query batch as a pure lazy plan with ZERO training jobs.
    // Probing all nLists cells covers every candidate exactly once, so the
    // served result must equal brute-force cosine top-k — the oracle is
    // the brute-force ranking (the q_ann_ivf_topk exactness property);
    // recall<1 probing stays spec-bounded (OperatorsSpec).
    Q("q_xmodal_ivf_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val c = e.filter(col("vec_id") % 2 === 0)
          .select(col("vec_id").as("c_id"), col("embedding").as("ce"))
        val q = e.filter(col("vec_id") % 2 === 1 && col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
        val cents = graft.operators.Similarity.ivfIndex(
          c.select(col("ce").as("embedding")), "embedding", nLists = 8)
        graft.operators.Similarity.ivfTopKWith(q, c, cents, nProbe = 8, k = 5)
          .transform(rankedTop)
      },
      Some(s"""
        WITH e AS (SELECT vec_id, embedding,
                          sqrt(${VectorFns.dotSql("embedding", "embedding")}) AS norm
                   FROM embeddings),
        q AS (SELECT vec_id AS q_id, embedding AS qe, norm AS qn FROM e
              WHERE vec_id % 2 = 1 AND vec_id < 10),
        c AS (SELECT vec_id AS c_id, embedding AS ce, norm AS cn FROM e
              WHERE vec_id % 2 = 0),
        p AS (
          SELECT q_id, c_id, ${VectorFns.dotSql("qe", "ce")} / (qn * cn) AS cos
          FROM q, c
        ), r AS (
          SELECT q_id, c_id,
                 CAST(row_number() OVER (PARTITION BY q_id
                        ORDER BY round(cos, 9) DESC, c_id) AS BIGINT) AS rnk
          FROM p)
        SELECT q_id, c_id, rnk FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""")),

    // ----- batch-equivalent streaming SemDeDup gate (Streams.
    // semDedupGateBatch): arrivals split into three micro-batches
    // (vec_id % 3) flow through the persisted-fit gate sequentially — an
    // arrival is dropped iff some SURVIVOR of an EARLIER batch shares its
    // k-means cell with rounded cosine >= 0.2 (the one-sided contract:
    // committed history cannot be retracted, within-batch pairs are not
    // examined). The unrolled three-step recursion is expressed
    // identically here and in the oracle, so the gate's survivorship
    // semantics — assignment, cosine, threshold, batch ordering — are
    // DuckDB-replayed bit-for-bit; StreamsSpec's crash drill pins the
    // foreachBatch plumbing (markers, min-batch-id merges, self-collision
    // guard) to these same semantics.
    Q("q_stream_semdedup_batch",
      (s, dir) => {
        // The assigned frame feeds seven consumers across the unrolled
        // batches (each gate stage joins arrivals against accumulated
        // survivors); materialize it ONCE — faithful to the real gate,
        // which checkpoints each micro-batch's survivors anyway.
        // (A cluster-keyed repartition before the checkpoint — so the gate
        // joins inherit the partitioning exchange-free — was A/B'd in
        // round 14 and measured a WASH: the extra exchange job offsets the
        // saved ones, and at k=4 it collapses parallelism to 4 partitions.
        // Revisit only with corpus-scale k.)
        val m = graft.Materialize.eager(
          graft.operators.KMeans.assignmentsQ(
              t(s, dir, "embeddings"), "vec_id", "embedding", k = 4, passes = 2)
            .withColumn("__n", sqrt(VectorFns.dotQDouble(col("__u"), col("__u"))))
            .withColumn("batch", pmod(col("vec_id"), lit(3L)))
            .select(col("vec_id"), col("batch"), col("cluster"), col("__u"), col("__n")))
        def arriving(df: DataFrame): DataFrame = df.select(
          col("vec_id").as("a_id"), col("cluster"),
          col("__u").as("a_u"), col("__n").as("a_n"))
        def ingested(df: DataFrame): DataFrame = df.select(
          col("cluster"), col("__u").as("b_u"), col("__n").as("b_n"))
        // no .distinct() on the dropped-id stream: left_anti ignores right
        // multiplicity, and the dedup exchange cost one AQE stage job per
        // gate round for nothing (r14 decomposition: this query is
        // job-launch-bound — 15 jobs, 0.6 s of non-stage wall)
        def droppedIds(in: DataFrame, idx: DataFrame): DataFrame =
          arriving(in).join(ingested(idx), Seq("cluster"))
            .withColumn("cos", VectorFns.dotQDouble(col("a_u"), col("b_u"))
              / (col("a_n") * col("b_n")))
            .filter(round(col("cos"), 6) >= 0.2)
            .select(col("a_id").as("vec_id"))
        val b0 = m.filter(col("batch") === 0)
        val b1 = m.filter(col("batch") === 1)
        val b2 = m.filter(col("batch") === 2)
        // broadcast the dropped-id sets into the anti-joins: a batch's
        // dropped ids are a subset of the batch (bounded at any scale), and
        // the static broadcast keeps the anti-join probes fused into the
        // survivor scan instead of materializing two AQE shuffle stages per
        // gate round
        val s1 = b1.join(broadcast(droppedIds(b1, b0)), Seq("vec_id"), "left_anti")
        val s2 = b2.join(broadcast(droppedIds(b2, b0.unionByName(s1))),
          Seq("vec_id"), "left_anti")
        b0.unionByName(s1).unionByName(s2)
          .select(col("vec_id"), col("batch"), col("cluster"))
          .orderBy(col("vec_id"))
      },
      Some(s"""
        WITH ${kmeansCtes()},
        qn AS (SELECT vec_id, embedding,
                      sqrt(${VectorFns.dotSql("embedding", "embedding")}) AS norm
               FROM embeddings),
        m AS (SELECT a2.vec_id, a2.j, qn.embedding, qn.norm,
                     a2.vec_id % 3 AS batch
              FROM a2 JOIN qn USING (vec_id)),
        gs0 AS (SELECT * FROM m WHERE batch = 0),
        gd1 AS (SELECT DISTINCT a.vec_id
                FROM m a JOIN gs0 b ON a.j = b.j
                WHERE a.batch = 1
                  AND round(${VectorFns.dotSql("a.embedding", "b.embedding")}
                            / (a.norm * b.norm), 6) >= 0.2),
        gs1 AS (SELECT * FROM m WHERE batch = 1
                  AND vec_id NOT IN (SELECT vec_id FROM gd1)),
        gs01 AS (SELECT * FROM gs0 UNION ALL SELECT * FROM gs1),
        gd2 AS (SELECT DISTINCT a.vec_id
                FROM m a JOIN gs01 b ON a.j = b.j
                WHERE a.batch = 2
                  AND round(${VectorFns.dotSql("a.embedding", "b.embedding")}
                            / (a.norm * b.norm), 6) >= 0.2),
        gs2 AS (SELECT * FROM m WHERE batch = 2
                  AND vec_id NOT IN (SELECT vec_id FROM gd2))
        SELECT vec_id, CAST(batch AS BIGINT) AS batch, CAST(j AS BIGINT) AS cluster
        FROM (SELECT * FROM gs01 UNION ALL SELECT * FROM gs2)
        ORDER BY vec_id""")),

    // ----- EMBEDDING drift monitor (the vector-space sibling of
    // q_quality_drift: semantic-distribution shift between the ingested
    // history and fresh arrivals, measured as per-CELL population change
    // against the fixed-point k-means fit). A frozen SemDeDup fit — like a
    // frozen threshold — goes stale when the arriving distribution moves;
    // this is the measurement that says when to refit. Assignment is the
    // map-side CellDistsQ plan; the split is a conditional count per cell;
    // the per-cell share delta is exact integer ppm (totals ride a 1-row
    // broadcast, no corpus window).
    Q("q_embedding_drift",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val mid = e.agg(expr("coalesce(MAX(vec_id) DIV 2, 0)").as("m"))
          .collect()(0).getLong(0)
        val hist = graft.operators.KMeans.assignments(e, "vec_id",
            "embedding", k = 4, passes = 2)
          .groupBy(col("cluster"))
          .agg(count(when(col("vec_id") < mid, 1)).as("nh"),
            count(when(col("vec_id") >= mid, 1)).as("nf"))
        val tot = hist.agg(sum(col("nh")).as("th"), sum(col("nf")).as("tf"))
        hist.crossJoin(broadcast(tot))
          .select(col("cluster"),
            col("nh").cast(LongType).as("n_hist"),
            col("nf").cast(LongType).as("n_fresh"),
            abs(expr("(nh * 1000000) DIV greatest(th, 1)") -
                expr("(nf * 1000000) DIV greatest(tf, 1)"))
              .cast(LongType).as("d_ppm"))
          .orderBy(col("cluster"))
      },
      Some(s"""
        WITH ${kmeansCtes()},
        mid AS (SELECT COALESCE(MAX(vec_id) // 2, 0) AS m FROM embeddings),
        h AS (SELECT j AS cluster,
                COUNT(CASE WHEN vec_id < m THEN 1 END) AS nh,
                COUNT(CASE WHEN vec_id >= m THEN 1 END) AS nf
              FROM a2, mid GROUP BY j),
        tt AS (SELECT SUM(nh) AS th, SUM(nf) AS tf FROM h)
        SELECT CAST(cluster AS BIGINT) AS cluster,
               CAST(nh AS BIGINT) AS n_hist, CAST(nf AS BIGINT) AS n_fresh,
               CAST(ABS((nh * 1000000) // GREATEST(th, 1)
                        - (nf * 1000000) // GREATEST(tf, 1)) AS BIGINT) AS d_ppm
        FROM h, tt ORDER BY cluster"""))
  )

  private def graphCos(a: String, b: String): String =
    s"round(${VectorFns.dotSql(s"$a.embedding", s"$b.embedding")} / ($a.norm * $b.norm), 6)"

  /** The graph-BUILD half shared by every graph-family oracle: the frozen
    * Lloyd cells, vectors+norms (`gn`), the cell-bounded pair set and the
    * degree-capped `graph`, plus the entry set `ent`.
    */
  private def graphBuildCtes(degree: Int, entryK: Int, entryMod: Long): String =
    s"""${kmeansCtes()},
        gn AS (SELECT vec_id, embedding,
                      sqrt(${VectorFns.dotSql("embedding", "embedding")}) AS norm
               FROM embeddings),
        gp AS (SELECT a.vec_id AS node, b.vec_id AS nbr,
                      ${graphCos("na", "nb")} AS sim
               FROM a2 a JOIN a2 b ON a.j = b.j AND a.vec_id <> b.vec_id
               JOIN gn na ON na.vec_id = a.vec_id
               JOIN gn nb ON nb.vec_id = b.vec_id),
        graph AS (SELECT node, nbr FROM (
                    SELECT node, nbr, row_number() OVER (PARTITION BY node
                      ORDER BY sim DESC, nbr) AS rn FROM gp) g WHERE rn <= $degree),
        ent AS (${
          if (entryMod > 0) s"SELECT vec_id AS c_id FROM gn WHERE vec_id % $entryMod = 0"
          else s"SELECT vec_id AS c_id FROM gn ORDER BY vec_id LIMIT $entryK"})"""

  /** Shared oracle CTE chain for the graph-ANN family: replays the
    * fixed-point Lloyd cells (kmeansCtes), the cell-bounded degree-capped
    * neighbor graph, and `hops` unrolled beam-search rounds (entry set =
    * `entryK` lowest ids; per round: beam ∪ beam's graph neighbors,
    * rescored, top-`beam` per query by (sim DESC, c_id)). Exposes `gn`
    * (vectors + norms) and `b$$hops` (the final beam) to the outer query.
    */
  private def graphCtes(degree: Int, entryK: Int, beam: Int, hops: Int,
                        entryMod: Long = 0L): String = {
    val topBeam = (src: String, out: String) => s"""
        $out AS (SELECT q_id, c_id, sim FROM (
                   SELECT q_id, c_id, sim, row_number() OVER (PARTITION BY q_id
                     ORDER BY sim DESC, c_id) AS rn FROM $src) t WHERE rn <= $beam)"""
    val hopCtes = (1 to hops).map { i =>
      val prev = s"b${i - 1}"
      s"""
        cand$i AS (SELECT DISTINCT q_id, c_id FROM (
                     SELECT q_id, c_id FROM $prev
                     UNION ALL
                     SELECT b.q_id, g.nbr AS c_id
                     FROM $prev b JOIN graph g ON g.node = b.c_id)),
        s$i AS (SELECT t.q_id, t.c_id, ${graphCos("qe", "ce")} AS sim
                FROM cand$i t
                JOIN gn qe ON qe.vec_id = t.q_id
                JOIN gn ce ON ce.vec_id = t.c_id
                WHERE t.q_id <> t.c_id),${topBeam(s"s$i", s"b$i")}"""
    }.mkString(",")
    s"""${graphBuildCtes(degree, entryK, entryMod)},
        s0 AS (SELECT qe.vec_id AS q_id, ent.c_id, ${graphCos("qe", "ce")} AS sim
               FROM gn qe, ent JOIN gn ce ON ce.vec_id = ent.c_id
               WHERE qe.vec_id < 5 AND qe.vec_id <> ent.c_id),${topBeam("s0", "b0")},$hopCtes"""
  }

  /** PQ-books training + encode chain (the q_ann_pq_topk replay) with
    * every CTE prefixed `pb` so it composes with kmeansCtes/graphBuildCtes
    * in one WITH list: exposes `pbcodes` (vec_id, j, cent) and `pblut`
    * (q_id, j, cent, dp) to the outer query.
    */
  private lazy val pqBooksCtes: String = s"""
        pbqv AS (
          SELECT vec_id, list_transform(embedding,
                   e -> CAST(CAST(CAST(e AS DOUBLE) AS DECIMAL(12,6)) * 1000000 AS BIGINT)) AS u
          FROM embeddings),
        pbsamp AS (SELECT vec_id, u, row_number() OVER (ORDER BY vec_id) AS rn
                   FROM pbqv ORDER BY vec_id LIMIT 256),
        pbsv AS (SELECT rn, d.g // 8 AS j, d.g % 8 AS sd, u[d.g + 1] AS v
                 FROM pbsamp, generate_series(0, 63) d(g)),
        pbc0 AS (SELECT j, rn - 1 AS cent, sd, v FROM pbsv WHERE rn <= 16),
        pbd1 AS (SELECT s.rn, s.j, c.cent, SUM((s.v - c.v) * (s.v - c.v)) AS dist
                 FROM pbsv s JOIN pbc0 c ON s.j = c.j AND s.sd = c.sd
                 GROUP BY s.rn, s.j, c.cent),
        pba1 AS (SELECT rn, j, cent FROM (
                   SELECT rn, j, cent,
                          row_number() OVER (PARTITION BY rn, j ORDER BY dist, cent) AS rk
                   FROM pbd1) t WHERE rk = 1),
        pbu1 AS (SELECT s.j, a.cent, s.sd, SUM(s.v) AS sm, COUNT(*) AS n
                 FROM pbsv s JOIN pba1 a ON s.rn = a.rn AND s.j = a.j
                 GROUP BY s.j, a.cent, s.sd),
        pbc1 AS (SELECT c.j, c.cent, c.sd,
                        COALESCE(CASE WHEN u.sm >= 0 THEN u.sm // u.n
                                      ELSE -((-u.sm) // u.n) END, c.v) AS v
                 FROM pbc0 c LEFT JOIN pbu1 u
                   ON c.j = u.j AND c.cent = u.cent AND c.sd = u.sd),
        pbd2 AS (SELECT s.rn, s.j, c.cent, SUM((s.v - c.v) * (s.v - c.v)) AS dist
                 FROM pbsv s JOIN pbc1 c ON s.j = c.j AND s.sd = c.sd
                 GROUP BY s.rn, s.j, c.cent),
        pba2 AS (SELECT rn, j, cent FROM (
                   SELECT rn, j, cent,
                          row_number() OVER (PARTITION BY rn, j ORDER BY dist, cent) AS rk
                   FROM pbd2) t WHERE rk = 1),
        pbu2 AS (SELECT s.j, a.cent, s.sd, SUM(s.v) AS sm, COUNT(*) AS n
                 FROM pbsv s JOIN pba2 a ON s.rn = a.rn AND s.j = a.j
                 GROUP BY s.j, a.cent, s.sd),
        pbc2 AS (SELECT c.j, c.cent, c.sd,
                        COALESCE(CASE WHEN u.sm >= 0 THEN u.sm // u.n
                                      ELSE -((-u.sm) // u.n) END, c.v) AS v
                 FROM pbc1 c LEFT JOIN pbu2 u
                   ON c.j = u.j AND c.cent = u.cent AND c.sd = u.sd),
        pbev AS (SELECT vec_id, d.g // 8 AS j, d.g % 8 AS sd, u[d.g + 1] AS v
                 FROM pbqv, generate_series(0, 63) d(g)),
        pbed AS (SELECT e.vec_id, e.j, c.cent, SUM((e.v - c.v) * (e.v - c.v)) AS dist
                 FROM pbev e JOIN pbc2 c ON e.j = c.j AND e.sd = c.sd
                 GROUP BY e.vec_id, e.j, c.cent),
        pbcodes AS (SELECT vec_id, j, cent FROM (
                      SELECT vec_id, j, cent,
                             row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cent) AS rk
                      FROM pbed) t WHERE rk = 1),
        pblut AS (SELECT e.vec_id AS q_id, e.j, c.cent, SUM(e.v * c.v) AS dp
                  FROM pbev e JOIN pbc2 c ON e.j = c.j AND e.sd = c.sd
                  WHERE e.vec_id < 5
                  GROUP BY e.vec_id, e.j, c.cent)"""

  /** The DiskANN-shape oracle: graph build + PQ books, beam hops scored by
    * the integer ADC dot (`pbcodes` × `pblut`), exact cosine re-rank of
    * the final beam in the outer query (exposes `b$$hops` and `gn`).
    */
  private def graphPqCtes(degree: Int, entryK: Int, beam: Int, hops: Int): String = {
    val topBeam = (src: String, out: String) => s"""
        $out AS (SELECT q_id, c_id, sim FROM (
                   SELECT q_id, c_id, sim, row_number() OVER (PARTITION BY q_id
                     ORDER BY sim DESC, c_id) AS rn FROM $src) t WHERE rn <= $beam)"""
    val adc = (cand: String, out: String) => s"""
        $out AS (SELECT t.q_id, t.c_id, SUM(l.dp) AS sim
                 FROM $cand t
                 JOIN pbcodes co ON co.vec_id = t.c_id
                 JOIN pblut l ON l.q_id = t.q_id AND co.j = l.j AND co.cent = l.cent
                 WHERE t.q_id <> t.c_id
                 GROUP BY t.q_id, t.c_id)"""
    val hopCtes = (1 to hops).map { i =>
      val prev = s"b${i - 1}"
      s"""
        cand$i AS (SELECT DISTINCT q_id, c_id FROM (
                     SELECT q_id, c_id FROM $prev
                     UNION ALL
                     SELECT b.q_id, g.nbr AS c_id
                     FROM $prev b JOIN graph g ON g.node = b.c_id)),${adc(s"cand$i", s"s$i")},${topBeam(s"s$i", s"b$i")}"""
    }.mkString(",")
    s"""${graphBuildCtes(degree, entryK, 0L)},
        $pqBooksCtes,
        cand0 AS (SELECT qe.vec_id AS q_id, ent.c_id
                  FROM gn qe, ent WHERE qe.vec_id < 5),${adc("cand0", "s0")},${topBeam("s0", "b0")},$hopCtes"""
  }

  /** The fixture embeddings with their TAIL dims (17..64) scaled by 2⁻⁴ —
    * a PREFIX-INFORMATIVE variant shaped like an MRL-trained embedder's
    * output (leading dims carry ~99% of the energy: 16/(16 + 48/256)),
    * which the iid fixture deliberately is not. The 2⁻⁴ factor is a pure
    * exponent shift, exact in float AND in DuckDB's double, so both
    * engines transform to bit-identical values before the shared
    * DECIMAL(12,6) lattice. Used by the `_mrl` acceptance row; the iid
    * rows stay as the honest negative control.
    */
  private def mrlShaped(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").select(col("vec_id"),
      concat(expr("slice(embedding, 1, 16)"),
        expr("transform(slice(embedding, 17, 48), x -> x * CAST(0.0625 AS FLOAT))"))
        .as("embedding"))

  // def, not val: the registry interpolates this during object init,
  // before later plain vals would be assigned (a val here reads null)
  private def mrlShapedSql: String =
    """(SELECT vec_id, list_concat(embedding[1:16],
         list_transform(embedding[17:64], x -> CAST(x * 0.0625 AS FLOAT))) AS embedding
       FROM embeddings)"""

  /** Shared plan parts of the matryoshka-serve pair: queries, candidates,
    * the persisted prefix index (quantized 16-dim prefixes + k-means cell,
    * PARTITIONED BY CELL so the probe partition-prunes), and the persisted
    * prefix-k-means fit (the train/persist/serve split).
    */
  private def matryoshkaServeParts(s: org.apache.spark.sql.SparkSession,
      dir: String, mrl: Boolean = false): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        Array[Array[Long]]) = {
    val e = if (mrl) mrlShaped(s, dir) else t(s, dir, "embeddings")
    val fx = if (mrl) "mrlp_" else "mrl_"
    val (qq, cc) = querySides(e)
    val centsDf = graft.Fixtures.read(s, dir, fx + "cents") {
      graft.operators.KMeans.centroidsToDf(s, graft.operators.KMeans.train(
        e.select(col("vec_id"), expr("slice(embedding, 1, 16)").as("pe")),
        "vec_id", "pe", 4, 2))
    }
    val cents = graft.operators.KMeans.centroidsFromDf(centsDf)
    val idx = graft.Fixtures.read(s, dir, fx + "prefix_idx", Seq("cluster")) {
      graft.operators.KMeans.assignWith(
          cc.select(col("c_id"), expr("slice(ce, 1, 16)").as("pe")),
          "c_id", "pe", cents)
        .withColumn("tn", sqrt(
          graft.functions.VectorFns.dotQDouble(col("__u"), col("__u"))))
        .select(col("c_id"), col("__u").as("tv"), col("tn"), col("cluster"))
    }
    (qq, cc, idx, cents)
  }

  /** The matryoshka-serve replay: prefix k-means (kmeansCtes over the
    * 16-dim slice) → 2-probe entry (the queries' two nearest cells by
    * final-centroid distance, ties to the lowest index) → rounded prefix
    * shortlist (rn <= 16) → rounded full-dimension re-rank. Exposes `ye` (full + prefix
    * vectors with norms) and `yrk` (q_id, c_id, rnk) to the outer query.
    */
  private lazy val matryoshkaServeCtes: String = matryoshkaServeCtesFor("embeddings")

  private def matryoshkaServeCtesFor(src: String): String = s"""
        ${kmeansCtes(s"(SELECT vec_id, embedding[1:16] AS embedding FROM $src AS __mp) mpre", 16)},
        ye AS (SELECT e0.vec_id, e0.embedding, e0.te,
                      sqrt(${VectorFns.dotSql("e0.embedding", "e0.embedding")}) AS norm,
                      sqrt(${VectorFns.dotSql("e0.te", "e0.te")}) AS tnorm
               FROM (SELECT vec_id, embedding, embedding[1:16] AS te
                     FROM $src AS __ye) e0),
        yqa AS (SELECT vec_id, j FROM (
                  SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id
                    ORDER BY dist, j) AS rn FROM d2) pr
                WHERE rn <= 2 AND vec_id < 5),
        ysl AS (SELECT qa.vec_id AS q_id, ca.vec_id AS c_id,
                       round(${VectorFns.dotSql("qq.te", "cc.te")}
                         / (qq.tnorm * cc.tnorm), 9) AS psim
                FROM yqa qa JOIN a2 ca ON qa.j = ca.j AND qa.vec_id <> ca.vec_id
                JOIN ye qq ON qq.vec_id = qa.vec_id
                JOIN ye cc ON cc.vec_id = ca.vec_id),
        ysh AS (SELECT q_id, c_id FROM (
                  SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
                    ORDER BY psim DESC, c_id) AS rn FROM ysl) t WHERE rn <= 16),
        yfn AS (SELECT m.q_id, m.c_id,
                       ${VectorFns.dotSql("qq.embedding", "cc.embedding")}
                         / (qq.norm * cc.norm) AS cos
                FROM ysh m JOIN ye qq ON qq.vec_id = m.q_id
                JOIN ye cc ON cc.vec_id = m.c_id),
        yrk AS (SELECT q_id, c_id, CAST(row_number() OVER (PARTITION BY q_id
                  ORDER BY round(cos, 9) DESC, c_id) AS BIGINT) AS rnk
                FROM yfn)"""

  /** DuckDB replay of the fixed-point two-pass Lloyd iteration (k=4,
    * dim 64) over `src` (any CTE/table exposing vec_id + embedding):
    * quantize to 1e-6-unit BIGINTs, seed with the 4 lowest ids, assign
    * (exact integer distances, ties to the lowest cluster), update
    * (truncated integer means), assign again. `a2` is the final
    * (vec_id, j, dist) assignment every k-means oracle selects from.
    */
  private def kmeansCtes(src: String = "embeddings", nDim: Int = 64): String = s"""
        q AS (SELECT vec_id,
                     list_transform(embedding,
                       e -> CAST(CAST(CAST(e AS DOUBLE) AS DECIMAL(12,6)) * 1000000 AS BIGINT)) AS u
                   FROM $src),
        ql AS (SELECT vec_id, d.g + 1 AS dim, u[d.g + 1] AS v
               FROM q, generate_series(0, ${nDim - 1}) d(g)),
        c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, vec_id
               FROM (SELECT vec_id FROM q ORDER BY vec_id LIMIT 4)),
        c0l AS (SELECT c0.j, ql.dim, ql.v AS cv FROM c0 JOIN ql USING (vec_id)),
        d1 AS (SELECT ql.vec_id, c.j, SUM((ql.v - c.cv) * (ql.v - c.cv)) AS dist
               FROM ql JOIN c0l c USING (dim) GROUP BY ql.vec_id, c.j),
        a1 AS (SELECT vec_id, j FROM (
                 SELECT vec_id, j,
                        row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
                 FROM d1) WHERE rn = 1),
        c1l AS (SELECT a1.j, ql.dim,
                  CASE WHEN SUM(ql.v) >= 0 THEN SUM(ql.v) // COUNT(*)
                       ELSE -((-SUM(ql.v)) // COUNT(*)) END AS cv
                FROM a1 JOIN ql USING (vec_id) GROUP BY a1.j, ql.dim),
        d2 AS (SELECT ql.vec_id, c.j, SUM((ql.v - c.cv) * (ql.v - c.cv)) AS dist
               FROM ql JOIN c1l c USING (dim) GROUP BY ql.vec_id, c.j),
        a2 AS (SELECT vec_id, j, dist FROM (
                 SELECT vec_id, j, dist,
                        row_number() OVER (PARTITION BY vec_id ORDER BY dist, j) AS rn
                 FROM d2) WHERE rn = 1)"""
}
