package graft.operators

import graft.functions.VectorFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Nearest-neighbor search over an embedding column (array<float>), one
  * implementation per operator: exact cosine top-k ([[cosineTopK]]) and
  * LSH top-k ([[lshTopK]]) on the quantized vectors; float IVF
  * ([[ivfTopK]]); fixed-point PQ and IVF-PQ ([[pqTopKUnits]],
  * [[ivfpqTopKUnits]]) with their persisted codebook frames; the k-NN
  * graph family (build, incremental merge, beam-search and PQ-scored
  * serving); matryoshka prefix serving; contrastive triplet mining.
  *
  * The top-k operators, the graph family and every shortlist cut score
  * quantized ([[VectorFns.quantize]]) vectors in exact long arithmetic, so
  * the DuckDB oracles rank the same values; float IVF and the exact re-rank
  * legs use the double DotFloat kernel ([[dotFast]]).
  *
  * Each building block has one implementation: one within-cell self-pair
  * join ([[cellPairs]]) under SemDeDup, the curve row, contrastive mining
  * and the k-NN graph build; one top-k tail ([[rankTopK]]) under every
  * ranked answer, ranking by (round(similarity, 9) DESC, c_id) as the
  * oracles do; one quantized side ([[quantizedSide]]) and one ADC table
  * and sum ([[adcLut]], [[adcDot]]).
  *
  * Scale design: the query side is broadcast (top-k against a fixed probe set
  * never shuffles the 100 TB candidate side); the LSH variant turns O(Q·N)
  * scoring into a bucket-equi-join, and the bucket id doubles as a write
  * partition key for probe-time partition pruning.
  */
object Similarity {

  /** Fast double dot product — the DotFloat codegen kernel; bit-identical to
    * the HOF fold `aggregate(zip_with(a, b, (x,y) -> x*y), 0d, +)` it
    * replaced (same sequential summation order), minus the interpreted
    * per-element lambda dispatch.
    */
  def dotFast(a: String, b: String): Column =
    org.apache.spark.sql.GraftColumnBridge.column(graft.plans.DotFloat(
      org.apache.spark.sql.GraftColumnBridge.expression(col(a)),
      org.apache.spark.sql.GraftColumnBridge.expression(col(b))))

  /** Adds the L2 norm of `embCol` as `normCol` (computed once per row). */
  def withNorm(df: DataFrame, embCol: String, normCol: String): DataFrame =
    df.withColumn(normCol, sqrt(dotFast(embCol, embCol)))

  /** Cosine from a fresh dot and two PREcomputed norm columns. */
  def cosinePre(a: String, b: String, an: Column, bn: Column): Column =
    dotFast(a, b) / (an * bn)

  /** Deterministic sign-random-projection LSH bucket id (nBits <= 30).
    * Quantize-then-bucket on the scaled-long kernel: the projection sums are
    * exact, so buckets equal the decimal `signProjection(_, j) > 0` stack.
    */
  def lshBucket(embCol: String, nBits: Int): Column =
    VectorFns.lshBucketQ(VectorFns.quantize(col(embCol)), nBits)

  /** Exact brute-force cosine top-k on the quantized vectors, each quantized
    * and normed once per row; self-pairs excluded; ranked per query by
    * (round(cos, 9) DESC, c_id), the order the DuckDB oracles replay.
    * @param queries    (q_id, qe) probe set — must be broadcast-small
    * @param candidates (c_id, ce) corpus
    * @return (q_id, c_id, similarity, rank), rank 1..k per query
    */
  def cosineTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame =
    rankTopK(quantizedSide(candidates, "c_id", "ce", "__cu", "__cn")
      .crossJoin(broadcast(quantizedSide(queries, "q_id", "qe", "__qu", "__qn"))),
      qcos("__qu", "__qn", "__cu", "__cn"), k)

  /** LSH-bucketed ANN top-k: each side's quantized vector gets its
    * `nBits`-bit sign-projection bucket ([[VectorFns.lshBucketQ]]), and
    * candidates are scored and ranked as in [[cosineTopK]] only inside the
    * query's bucket. Recall < 1 by construction; nBits trades recall for
    * speed.
    */
  def lshTopK(queries: DataFrame, candidates: DataFrame, nBits: Int, k: Int): DataFrame = {
    def bucketed(df: DataFrame, id: String, emb: String, u: String, n: String) =
      quantizedSide(df, id, emb, u, n).withColumn("bucket", VectorFns.lshBucketQ(col(u), nBits))
    rankTopK(bucketed(candidates, "c_id", "ce", "__cu", "__cn")
      .join(broadcast(bucketed(queries, "q_id", "qe", "__qu", "__qn")), Seq("bucket")),
      qcos("__qu", "__qn", "__cu", "__cn"), k)
  }

  /** The norm of a [[VectorFns.quantize]]d vector column. */
  private def qnorm(u: String): Column = sqrt(VectorFns.dotQDouble(col(u), col(u)))

  /** The unrounded cosine of two quantized vectors `a`, `b` over their
    * norm columns `an`, `bn`. */
  private def qcos(a: String, an: String, b: String, bn: String): Column =
    VectorFns.dotQDouble(col(a), col(b)) / (col(an) * col(bn))

  /** `df`'s `id` with its vector `emb` quantized as `u` and that vector's
    * norm as `n` — one quantize and one self-dot per row. */
  private def quantizedSide(df: DataFrame, id: String, emb: String, u: String,
                            n: String): DataFrame =
    df.select(col(id), VectorFns.quantize(col(emb)).as(u)).withColumn(n, qnorm(u))

  /** An assigned frame (quantized `__u`, e.g. from [[KMeans.assignWith]])
    * with that vector's norm as `__n`: the input [[cellPairs]] takes. */
  private[graft] def withQNorm(assigned: DataFrame): DataFrame =
    assigned.withColumn("__n", qnorm("__u"))

  /** The one top-k tail of the search operators, over (q_id, c_id, …)
    * pairs: self pairs dropped, `similarity` computed, and per q_id the
    * first `k` by (round(similarity, 9) DESC, c_id) — the order every
    * DuckDB oracle replays. Ranking the unrounded double instead could flip
    * two candidates whose cosines differ only past 1e-9. Returns (q_id,
    * c_id, similarity, rank), rank 1..k.
    */
  private def rankTopK(pairs: DataFrame, similarity: Column, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(round(col("similarity"), 9).desc, col("c_id"))
    pairs.filter(col("q_id") =!= col("c_id"))
      .withColumn("similarity", similarity)
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("similarity"), col("rank"))
  }

  /** How many shards the right side of a cell pair join splits into. */
  private val PairSalt = 8

  /** Every directed pair `l ≠ r` of an assigned frame's rows that share a
    * `cluster`, with `cos` = round(quantized cosine, 6) — the within-cell
    * search under SemDeDup, the threshold curve, contrastive mining and
    * the k-NN graph build. `m` holds (idCol, cluster, __u, __n) — see
    * [[withQNorm]] — and any other column rides through as `l_<col>` and
    * `r_<col>`. Returns (l, r, cluster, cos, l_…, r_…); undirected callers
    * keep `l < r` themselves.
    *
    * Salting: with fewer cells than cores a bare cluster key parks each
    * cell's O(|cell|²) cosines on one task. The right side shards by
    * pmod(hash(id), 8) — hash() is total over any id type, where a raw
    * pmod(id, 8) on a string or UUID id would fail the cast under ANSI or
    * null out and drop every right row — and the left side is replicated
    * over the 8 salts: the same pairs, 8× the left rows, k·8 parallelism.
    * At production k (tens of thousands of cells) the salt is a harmless
    * constant.
    *
    * Width pin (round 22): the replicated side is hash-repartitioned on
    * exactly the join keys at the session's shuffle width. Without it the
    * streamed side inherits the unsplittable scan's partitioning and one
    * task computes every cell's |cell|² cosines (FixedCostProbe: a 908 ms
    * 1-task stage inside q_dedup_semantic's 1.5 s execute). The explicit
    * count survives AQE's bytes-based coalescer, which would otherwise
    * collapse the tiny-on-the-wire quantized vectors back to a few tasks
    * while each joined row pays a full-dimension dot product. Under a
    * shuffle join at scale this exchange is the join's required
    * distribution, so it costs no extra hop. PlanLintSpec pins the pin.
    */
  private[graft] def cellPairs(m: DataFrame, idCol: String): DataFrame = {
    val riders = m.columns.filterNot(Set(idCol, "cluster", "__u", "__n"))
    def side(s: String) = m.select(Seq(col(idCol).as(s), col("cluster"),
      col("__u").as(s"__${s}u"), col("__n").as(s"__${s}n")) ++
      riders.map(c => col(c).as(s"${s}_$c")): _*)
    val l = side("l").withColumn("__salt", explode(lit((0 until PairSalt).toArray)))
      .repartition(m.sparkSession.sessionState.conf.numShufflePartitions,
        col("cluster"), col("__salt"))
    val r = side("r").withColumn("__salt", pmod(hash(col("r")), lit(PairSalt)))
    l.join(r, Seq("cluster", "__salt"))
      .filter(col("l") =!= col("r"))
      .withColumn("cos", round(qcos("__lu", "__ln", "__ru", "__rn"), 6))
      .select(Seq(col("l"), col("r"), col("cluster"), col("cos")) ++
        riders.flatMap(c => Seq(col(s"l_$c"), col(s"r_$c"))): _*)
  }

  /** IVF (inverted-file) ANN: a deterministic coarse quantizer — centroids
    * from a fixed-seed k-means run over a sample — partitions the corpus into
    * `nLists` cells; probes score only the `nProbe` nearest cells.
    *
    * Scale: the corpus is assigned once (one narrow pass + a broadcast of
    * centroids — at 100 TB you persist `cell` as the write-partition key);
    * each probe touches nProbe/nLists of the data. Training samples to the
    * driver deliberately: `nLists·dim` floats is KBs, and k-means over a
    * bounded sample is the standard IVF recipe (FAISS-style) — the corpus
    * itself is never collected.
    */
  def ivfIndex(candidates: DataFrame, embCol: String, nLists: Int,
               sampleSize: Int = 2000, iters: Int = 5): Array[Array[Double]] = {
    // Deterministic UNIFORM sample: order by a hash of the vector and take
    // the top sampleSize (TakeOrderedAndProject — bounded heap, no full
    // sort). Ordering by coordinate values instead would train k-means on
    // one extreme corner of the space and collapse the cells.
    val sample = candidates.select(col(embCol))
      .orderBy(xxhash64(col(embCol)), col(embCol).getItem(0))
      .limit(sampleSize)
      .collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(sample.length >= nLists, s"need >= $nLists vectors to train")
    var centroids = sample.take(nLists).map(_.clone())
    for (_ <- 1 to iters) {
      val sums = Array.fill(nLists)(new Array[Double](centroids(0).length))
      val counts = new Array[Long](nLists)
      sample.foreach { v =>
        val c = nearestCentroid(v, centroids)
        counts(c) += 1
        var i = 0; while (i < v.length) { sums(c)(i) += v(i); i += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }.toArray
    }
    centroids
  }

  private def nearestCentroid(v: Array[Double], cs: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      var d = 0.0; var i = 0
      while (i < v.length) { val x = v(i) - cs(c)(i); d += x * x; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Squared distances to every centroid — the CellDists codegen kernel
    * (identical math to the HOF transform/zip_with/aggregate stack it
    * replaced; the centroid matrix rides as a codegen reference object).
    */
  def cellDists(embCol: String, centroids: Array[Array[Double]]): Column =
    org.apache.spark.sql.GraftColumnBridge.column(graft.plans.CellDists(
      org.apache.spark.sql.GraftColumnBridge.expression(col(embCol)),
      centroids.toIndexedSeq.map(_.toIndexedSeq)))

  /** Cell assignment as a column (argmin over the broadcast centroid list). */
  def ivfCell(embCol: String, centroids: Array[Array[Double]]): Column = {
    val dists = cellDists(embCol, centroids)
    array_position(dists, array_min(dists)).cast("long") - 1
  }

  /** IVF ANN top-k: probes score only candidates in their `nProbe` nearest
    * cells. Trains the coarse quantizer inline — the one-shot form; the
    * operational daily-batch shape trains once ([[ivfIndex]]) and serves
    * every query batch via [[ivfTopKWith]] with zero training jobs.
    */
  def ivfTopK(queries: DataFrame, candidates: DataFrame, nLists: Int,
              nProbe: Int, k: Int): DataFrame =
    ivfTopKWith(queries, candidates,
      ivfIndex(candidates.select(col("ce").as("embedding")), "embedding", nLists),
      nProbe, k)

  /** [[ivfTopK]] against an ALREADY-TRAINED coarse quantizer — the serving
    * half of the train/persist/serve split. Pure lazy plan builder.
    */
  def ivfTopKWith(queries: DataFrame, candidates: DataFrame,
                  cents: Array[Array[Double]], nProbe: Int, k: Int): DataFrame = {
    require(cents.nonEmpty, "empty IVF centroid matrix")
    val c = candidates.withColumn("cell", ivfCell("ce", cents))
    // probe lists: the nProbe nearest cells per query
    // probe-list selection via the BottomKIndices kernel (round 22): the
    // slice(array_sort(transform(...), comparator)) lattice it replaces ran
    // interpreted per query row (lambda comparators are CodegenFallback) —
    // identical selection, pinned by KernelParitySpec (the comparator
    // form's stable tie order IS ascending index).
    val qq = queries.withColumn("qd", cellDists("qe", cents))
      .withColumn("cell", explode(
        graft.functions.VectorFns.bottomKIndices(col("qd"), nProbe)))
      .drop("qd")
    rankTopK(withNorm(c, "ce", "cn").join(broadcast(withNorm(qq, "qe", "qn")), Seq("cell")),
      cosinePre("qe", "ce", col("qn"), col("cn")), k)
  }

  /** FIXED-POINT PQ training — the k-means discipline applied to codebook
    * fitting so a DuckDB oracle replays every centroid bit-for-bit:
    * vectors quantize to 1e-6-unit longs, the training sample is the
    * `sampleSize` LOWEST ids (deterministic; `ORDER BY id LIMIT n` on both
    * engines — a bounded heap, not a sort), each subspace seeds with its
    * first `kCent` sample slices, assignment is exact integer squared
    * distance with ties to the lowest centroid, and the update is the
    * truncated-toward-zero integer mean (matching SQL's sign-adjusted `//`;
    * an empty centroid keeps its previous value). Codebooks are unit-long
    * counts (values × 1e6).
    *
    * Same scale shape as every trainer here: one bounded driver sample,
    * KB-sized codebooks.
    */
  def pqTrainUnits(candidates: DataFrame, idCol: String, embCol: String,
                   m: Int, kCent: Int, sampleSize: Int = 256,
                   iters: Int = 2): Array[Array[Array[Long]]] = {
    val sample = unitsSample(candidates, idCol, embCol, m, sampleSize)
    val sub = sample(0).length / m
    (0 until m).toArray.map { j =>
      val slice = sample.map(v => java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub))
      require(slice.length >= kCent, s"need >= $kCent vectors to train subspace $j")
      lloydUnits(slice, kCent, iters)
    }
  }

  /** The fixed-point trainers' bounded driver sample: the `sampleSize`
    * lowest-id vectors of `candidates`, quantized, whose dimension `m`
    * subspaces must divide. */
  private def unitsSample(candidates: DataFrame, idCol: String, embCol: String,
                          m: Int, sampleSize: Int): Array[Array[Long]] = {
    val sample: Array[Array[Long]] = candidates
      .select(col(idCol), VectorFns.quantize(col(embCol)).as("__u"))
      .orderBy(col(idCol)).limit(sampleSize)
      .collect().map(_.getSeq[Long](1).toArray)
    require(sample.nonEmpty, "empty training sample")
    val dim = sample(0).length
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    sample
  }

  /** PQ code assignment against unit-long codebooks: per subspace, argmin
    * of EXACT integer squared distance (CellDistsQ kernel), ties to the
    * lowest centroid id — replayable as BIGINT arithmetic in SQL.
    * `quantCol` must be a [[VectorFns.quantize]]d column.
    */
  def pqEncodeUnits(quantCol: Column, codebooks: Array[Array[Array[Long]]]): Column = {
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    array((0 until m).map { j =>
      val dists = org.apache.spark.sql.GraftColumnBridge.column(graft.plans.CellDistsQ(
        org.apache.spark.sql.GraftColumnBridge.expression(
          slice(quantCol, j * sub + 1, sub)),
        codebooks(j).toIndexedSeq.map(_.toIndexedSeq)))
      (array_position(dists, array_min(dists)) - 1).cast(LongType)
    }: _*)
  }

  /** Oracle-replayable PQ ANN top-k: integer ADC-dot shortlist + exact
    * cosine re-rank.
    *
    * The shortlist is selected on the APPROXIMATE INNER PRODUCT — the sum
    * over subspaces of dot(query-slice, centroid-at-code), all in exact
    * unit-long arithmetic (CellDotsQ lookup tables, map-side from the
    * broadcast codebooks) — ordered (dot DESC, c_id ASC). Integer scores
    * mean the shortlist cut is bit-deterministic, so the WHOLE pipeline
    * (train → encode → ADC → shortlist → exact re-rank) replays in a
    * DuckDB oracle. Scale: the scan side carries codes only; true
    * embeddings join back for the ~q·rerank shortlist rows alone.
    */
  def pqTopKUnits(queries: DataFrame, candidates: DataFrame,
                  codebooks: Array[Array[Array[Long]]], k: Int,
                  rerank: Int): DataFrame = {
    val cIdx = candidates
      .select(col("c_id"), pqEncodeUnits(VectorFns.quantize(col("ce")), codebooks).as("codes"))
    val approx = cIdx.crossJoin(broadcast(queries.select(col("q_id"), adcLut(codebooks).as("lut"))))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("approx_dot", adcDot(codebooks))
      .select(col("q_id"), col("c_id"), col("approx_dot"))
    val shortlist = graft.plans.TopKPerGroup.topK(approx, Seq("q_id"),
      Seq(("approx_dot", true), ("c_id", false)), rerank)
    rerankShortlist(shortlist, queries, candidates, k)
  }

  /** The query side's integer ADC tables against `books`: per subspace the
    * CellDotsQ dots of the quantized `qe` slice with every centroid,
    * concatenated into one flat lut — lut[j·kCent + code]. */
  private def adcLut(books: Array[Array[Array[Long]]]): Column = {
    val sub = books(0)(0).length
    concat(books.indices.map { j =>
      kernelCol(graft.plans.CellDotsQ(
        kernelExpr(slice(VectorFns.quantize(col("qe")), j * sub + 1, sub)),
        books(j).toIndexedSeq.map(_.toIndexedSeq)))
    }: _*)
  }

  /** The approximate inner product Σ_j lut[j·kCent + codes[j]] of a query's
    * `lut` ([[adcLut]]) with a candidate's PQ `codes`. */
  private def adcDot(books: Array[Array[Array[Long]]]): Column = {
    val kCent = books(0).length
    books.indices.map(j => element_at(col("lut"),
        (col("codes").getItem(j) + lit(j.toLong * kCent) + 1L).cast(IntegerType)))
      .reduce(_ + _)
  }

  /** Exact cosine re-rank of a (q_id, c_id) shortlist — the shared tail of
    * [[pqTopKUnits]], [[ivfpqTopKWithIndex]] and [[graphTopKPQWithIndex]]:
    * true embeddings join in for the shortlist rows alone, ranked by
    * [[rankTopK]]. Returns (q_id, c_id, similarity, rank), rank 1..k.
    */
  private def rerankShortlist(shortlist: DataFrame, queries: DataFrame,
                              candidates: DataFrame, k: Int): DataFrame =
    rankTopK(shortlist.select(col("q_id"), col("c_id"))
        .join(withNorm(candidates, "ce", "cn"), Seq("c_id"))
        .join(broadcast(withNorm(queries, "qe", "qn")), Seq("q_id")),
      cosinePre("qe", "ce", col("qn"), col("cn")), k)

  // ---------------------------------------------------------------- IVF-PQ

  private def kernelCol(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.GraftColumnBridge.column(e)
  private def kernelExpr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.GraftColumnBridge.expression(c)

  /** One integer Lloyd run over a driver-side sample — the shared trainer
    * of the fixed-point PQ and IVF-PQ paths: seeds are the first `k`
    * vectors, assignment is exact integer squared distance with ties to the
    * lowest centroid, the update is the truncated-toward-zero integer mean,
    * and an empty centroid keeps its previous value — so the PQ codebooks,
    * the coarse quantizer and the residual codebooks train identically.
    */
  private def lloydUnits(vs: Array[Array[Long]], k: Int,
                         iters: Int): Array[Array[Long]] = {
    require(vs.length >= k, s"need >= $k vectors to train")
    val dim = vs(0).length
    var cents: Array[Array[Long]] = vs.take(k).map(_.clone())
    for (_ <- 1 to iters) {
      val sums = Array.fill(k)(new Array[Long](dim))
      val counts = new Array[Long](k)
      vs.foreach { v =>
        val c = nearestCentroidUnits(v, cents)
        counts(c) += 1
        var i = 0; while (i < dim) { sums(c)(i) += v(i); i += 1 }
      }
      cents = cents.indices.map { c =>
        if (counts(c) == 0) cents(c)
        else sums(c).map(s => if (s >= 0) s / counts(c) else -((-s) / counts(c)))
      }.toArray
    }
    cents
  }

  private def nearestCentroidUnits(v: Array[Long], cs: Array[Array[Long]]): Int = {
    var best = 0; var bestD = Long.MaxValue
    var c = 0
    while (c < cs.length) {
      var d = 0L; var i = 0
      while (i < v.length) { val x = v(i) - cs(c)(i); d += x * x; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Fixed-point IVF-PQ training (the FAISS IndexIVFPQ recipe, Jégou et al.
    * 2011, under the engine's oracle-replayable integer discipline): one
    * bounded driver sample (`sampleSize` LOWEST ids — `ORDER BY id LIMIT n`
    * on both engines) trains BOTH the coarse quantizer (`nLists` full-dim
    * cells) and the per-subspace codebooks — the codebooks on the sample's
    * RESIDUALS (v − assigned coarse centroid), which is the whole point of
    * the combined index: residuals are small, so `kCent` centroids quantize
    * them far better than they would raw vectors.
    *
    * Returns (coarse [nLists][dim], books [m][kCent][dim/m]) in 1e-6 units.
    * Scale: the collect is the bounded `sampleSize·dim` longs every trainer
    * here pays; the corpus is never collected.
    */
  def ivfpqTrainUnits(candidates: DataFrame, idCol: String, embCol: String,
                      nLists: Int, m: Int, kCent: Int, sampleSize: Int = 256,
                      iters: Int = 2): (Array[Array[Long]], Array[Array[Array[Long]]]) = {
    val sample = unitsSample(candidates, idCol, embCol, m, sampleSize)
    val dim = sample(0).length
    val sub = dim / m
    val coarse = lloydUnits(sample, nLists, iters)
    val residuals = sample.map { v =>
      val cv = coarse(nearestCentroidUnits(v, coarse))
      val r = new Array[Long](dim)
      var i = 0; while (i < dim) { r(i) = v(i) - cv(i); i += 1 }
      r
    }
    val books = (0 until m).toArray.map { j =>
      lloydUnits(residuals.map(v =>
        java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub)), kCent, iters)
    }
    (coarse, books)
  }

  /** The IVF-PQ candidate index: (c_id, cell, codes) — cell from the coarse
    * quantizer (exact integer argmin, ties to the lowest cell), codes from
    * the RESIDUAL against that cell's centroid (SubVecQ kernel, then the
    * shared pqEncodeUnits argmin per subspace). Entirely map-side; persist
    * it through the warehouse (bytes per vector).
    */
  def ivfpqIndex(candidates: DataFrame, coarse: Array[Array[Long]],
                 books: Array[Array[Array[Long]]]): DataFrame = {
    val coarseArr = array(coarse.map(cv => array(cv.map(lit): _*)): _*)
    candidates
      .withColumn("__u", VectorFns.quantize(col("ce")))
      .withColumn("__cd", kernelCol(graft.plans.CellDistsQ(
        kernelExpr(col("__u")), coarse.toIndexedSeq.map(_.toIndexedSeq))))
      .withColumn("cell",
        (array_position(col("__cd"), array_min(col("__cd"))) - 1).cast(LongType))
      .withColumn("__r", kernelCol(graft.plans.SubVecQ(
        kernelExpr(col("__u")),
        kernelExpr(element_at(coarseArr, (col("cell") + 1).cast(IntegerType))))))
      .select(col("c_id"), col("cell"), pqEncodeUnits(col("__r"), books).as("codes"))
  }

  /** Unit-long codebooks as a persistable frame (subspace, centroid, dim,
    * value, m, k_cent, subdim): the declared shape rides IN the data, so a
    * frame that lost its trailing subspace/centroid/dim rows cannot pass as
    * a smaller complete codebook. Inverse: [[pqCodebooksUnitsFromDf]].
    */
  def pqCodebooksUnitsDf(spark: org.apache.spark.sql.SparkSession,
                         books: Array[Array[Array[Long]]]): DataFrame = {
    import spark.implicits._
    val (m, kc, sd) = (books.length, books.head.length, books.head.head.length)
    books.indices.flatMap { j =>
      books(j).indices.flatMap { c =>
        books(j)(c).indices.map { d => (j, c, d, books(j)(c)(d), m, kc, sd) }
      }
    }.toDF("subspace", "centroid", "dim", "value", "m", "k_cent", "subdim")
  }

  /** Rebuild driver-side codebooks from a [[pqCodebooksUnitsDf]] frame — a
    * bounded collect (m·kCent·subdim longs). Holes, trailing ones included,
    * fail loudly against the declared shape (or the explicit parameters for
    * a legacy frame without those columns, which otherwise only rejects
    * interior holes).
    */
  def pqCodebooksUnitsFromDf(df: DataFrame, expectedM: Int = -1,
                             expectedKCent: Int = -1,
                             expectedSubdim: Int = -1): Array[Array[Array[Long]]] = {
    // the shape columns ride the ONE bounded collect (FitFrames contract)
    val hasShape = df.columns.contains("m") && df.columns.contains("k_cent") &&
      df.columns.contains("subdim")
    val base = Seq(col("subspace"), col("centroid"), col("dim"),
      col("value").cast(LongType))
    val sel = if (hasShape)
      base ++ Seq(col("m").cast(LongType), col("k_cent").cast(LongType),
        col("subdim").cast(LongType)) else base
    val collected = df.select(sel: _*).collect()
    require(collected.nonEmpty, "empty PQ codebook frame")
    val rows = collected.map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    val m = FitFrames.declared("m", expectedM,
      if (hasShape) Some(collected.map(_.getLong(4))) else None,
      rows.map(_._1).max + 1)
    val kc = FitFrames.declared("k_cent", expectedKCent,
      if (hasShape) Some(collected.map(_.getLong(5))) else None,
      rows.map(_._2).max + 1)
    val sd = FitFrames.declared("subdim", expectedSubdim,
      if (hasShape) Some(collected.map(_.getLong(6))) else None,
      rows.map(_._3).max + 1)
    require(rows.map(_._1).max + 1 == m && rows.map(_._2).max + 1 == kc &&
        rows.map(_._3).max + 1 == sd && rows.length == m * kc * sd &&
        rows.map(t => (t._1, t._2, t._3)).distinct.length == rows.length,
      s"PQ codebook frame holes: ${rows.length} rows, expected ${m}x${kc}x$sd")
    rows.groupBy(_._1).toArray.sortBy(_._1).map { case (_, bySub) =>
      bySub.groupBy(_._2).toArray.sortBy(_._1).map { case (_, byCent) =>
        byCent.sortBy(_._3).map(_._4)
      }
    }
  }

  /** Oracle-replayable IVF-PQ ANN top-k — the production billion-vector
    * index shape: the coarse quantizer bounds COMPUTE (each query scores
    * only the `nProbe` nearest of `nLists` cells) and the residual PQ codes
    * bound MEMORY (the scan side carries m small codes per vector, never
    * the embedding). approx_dot(q, c) = dot(q, coarse[cell_c]) +
    * Σ_j lut_j[code_cj] with lut_j = dot(q_sub_j, book_j[·]) — all in exact
    * unit-long arithmetic (CellDotsQ tables), so the shortlist cut is
    * bit-deterministic and DuckDB replays train → assign → residual-encode
    * → probe → ADC → shortlist → exact cosine re-rank end to end.
    *
    * Scale: candidates shuffle-free (cell is map-side; at 100 TB persist
    * [[ivfpqIndex]] partitioned BY cell so probes prune partitions); the
    * probe side is broadcast (queries × nProbe rows); the shortlist heap is
    * the bounded TopKPerGroup operator; only ~queries·rerank ids fetch true
    * embeddings for the re-rank.
    */
  def ivfpqTopKUnits(queries: DataFrame, candidates: DataFrame,
                     coarse: Array[Array[Long]],
                     books: Array[Array[Array[Long]]],
                     nProbe: Int, k: Int, rerank: Int): DataFrame =
    ivfpqTopKWithIndex(queries, ivfpqIndex(candidates, coarse, books),
      candidates, coarse, books, nProbe, k, rerank)

  /** [[ivfpqTopKUnits]] against a pre-built (typically warehouse-persisted)
    * (c_id, cell, codes) index frame — the serving path of the build-once/
    * serve-many split: the scan side touches the code table only; true
    * embeddings are fetched for the shortlist re-rank alone. Persist the
    * index with [[ivfpqIndex]] + [[KMeans.centroidsToDf]] (coarse) +
    * [[pqCodebooksUnitsDf]] (books) through the warehouse.
    */
  def ivfpqTopKWithIndex(queries: DataFrame, index: DataFrame,
                         candidates: DataFrame,
                         coarse: Array[Array[Long]],
                         books: Array[Array[Array[Long]]],
                         nProbe: Int, k: Int, rerank: Int): DataFrame = {
    val cIdx = index.select(col("c_id"), col("cell"), col("codes"))
    // probe list: the nProbe nearest cells by exact integer distance, ties
    // to the lowest cell — the BottomKIndices kernel (round 22; identical
    // to the struct sort's lexicographic (d, i) order, which this replaced)
    val q0 = queries.select(col("q_id"), col("qe"))
      .withColumn("__qu", VectorFns.quantize(col("qe")))
      .withColumn("__qd", kernelCol(graft.plans.CellDistsQ(
        kernelExpr(col("__qu")), coarse.toIndexedSeq.map(_.toIndexedSeq))))
      .withColumn("__qcd", kernelCol(graft.plans.CellDotsQ(
        kernelExpr(col("__qu")), coarse.toIndexedSeq.map(_.toIndexedSeq))))
      .withColumn("lut", adcLut(books))
      .withColumn("cell", explode(VectorFns.bottomKIndices(col("__qd"), nProbe)))
      .withColumn("coarse_dot",
        element_at(col("__qcd"), (col("cell") + 1).cast(IntegerType)))
      .select(col("q_id"), col("cell"), col("coarse_dot"), col("lut"))
    val approx = cIdx.join(broadcast(q0), Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("approx_dot", adcDot(books) + col("coarse_dot"))
      .select(col("q_id"), col("c_id"), col("approx_dot"))
    val shortlist = graft.plans.TopKPerGroup.topK(approx, Seq("q_id"),
      Seq(("approx_dot", true), ("c_id", false)), rerank)
    rerankShortlist(shortlist, queries, candidates, k)
  }

  /** Contrastive triplet mining — training data FOR embedding models
    * (the SimCSE/E5 preparation shape): every vector becomes an anchor
    * with its best same-cell POSITIVE (cosine ≥ `posThreshold`) and its
    * hardest same-cell NEGATIVE (highest cosine inside [`negLo`, `negHi`)
    * — similar enough to be hard, dissimilar enough to be wrong). Anchors
    * missing either side drop out (inner join), so every emitted row is a
    * complete (anchor, pos, neg) triplet.
    *
    * Same scale spine as [[graft.operators.Dedup.semDedup]]: the k-means
    * cell bounds the pair search ([[cellPairs]]: salted, cosine rounded to
    * 6 for cross-engine-total ordering with id tie-breaks), and both top-1
    * selections ride ONE pass over the directed pairs — no all-pairs
    * anywhere.
    */
  def contrastiveTriplets(df: DataFrame, idCol: String, embCol: String,
                          k: Int, passes: Int, posThreshold: Double,
                          negLo: Double, negHi: Double): DataFrame = {
    require(negLo < negHi && negHi <= posThreshold,
      s"need negLo < negHi <= posThreshold: $negLo, $negHi, $posThreshold")
    // assigned frame checkpointed once for its two pair-join consumers —
    // the semDedup round-22 fix: each side's exchange map otherwise re-runs
    // the scan + quantize + assign kernel as its own serial stage (the
    // fixture scan is one row group); at scale this is the materialized
    // assignment table the pair search indexes anyway.
    val m = graft.Materialize.eager(withQNorm(KMeans.assignmentsQ(df, idCol, embCol, k, passes)))
    // The pair subplan (scan → quantize → salted cell join → cosine) used
    // to feed two TopKPerGroup legs — executing the shuffle-heavy join
    // TWICE (no ReusedExchange spans the differing filters). A round-16
    // intermediate fix checkpointed the pair frame, but that MATERIALIZES
    // the full pair set — O(pairs) storage where the heaps streamed it
    // (the ×10 fixed-k soak jumped 7.3× → 40×). The right shape is ONE
    // pass: both top-1 selections are conditional MIN aggregates over the
    // pair stream — min(struct(−cos, other)) is exactly (cos DESC, other
    // ASC) top-1, for any orderable id type — so the join output flows
    // straight into a partially-aggregating shuffle (≤ 2 small structs
    // per anchor per partition on the wire) and no pair row is ever
    // stored or recomputed.
    val pairs = cellPairs(m, idCol)
      .select(col("l").as("anchor"), col("r").as("other"), col("cos"))
    val best = pairs.groupBy(col("anchor"))
      .agg(
        min(when(col("cos") >= posThreshold,
          struct((-col("cos")).as("nc"), col("other").as("o")))).as("__p"),
        min(when(col("cos") >= negLo && col("cos") < negHi,
          struct((-col("cos")).as("nc"), col("other").as("o")))).as("__n"))
    // anchors missing either side drop (the documented inner-join contract)
    best.filter(col("__p").isNotNull && col("__n").isNotNull)
      .select(col("anchor"),
        col("__p.o").as("pos_id"), (-col("__p.nc")).as("pos_cos"),
        col("__n.o").as("neg_id"), (-col("__n.nc")).as("neg_cos"))
  }

  /** k-NN neighbor GRAPH of a corpus — the persisted index of the
    * graph-ANN family (NSW/HNSW/DiskANN class): per node, its `degree`
    * most-cosine-similar neighbors among candidates sharing its k-means
    * cell. Returns (node, nbr, sim) — the billion-edge table a serving
    * tier shards by `node`. Fully deterministic (fixed-point Lloyd cells,
    * rounded cosines, ties to the lowest neighbor id), so a SQL oracle
    * replays every edge.
    *
    * Scale spine = [[graft.operators.Dedup.semDedup]]: the cell bounds the
    * pair search ([[cellPairs]]), and per-node selection is the
    * bounded-heap TopKPerGroup — the graph build never goes all-pairs.
    * Cell-bounding trades boundary recall for build cost exactly like
    * IVF's nProbe=1; the beam search ([[graphTopK]]) re-opens cross-cell
    * reach by walking edges transitively.
    */
  def knnGraph(df: DataFrame, idCol: String, embCol: String, k: Int,
               passes: Int, degree: Int): DataFrame =
    knnGraphWith(df, idCol, embCol,
      KMeans.train(df, idCol, embCol, k, passes), degree)

  /** [[knnGraph]] against an ALREADY-TRAINED (typically persisted) centroid
    * matrix — the incremental family's frozen-fit convention: the daily
    * batch is graphed with yesterday's cells, never a re-train.
    */
  def knnGraphWith(df: DataFrame, idCol: String, embCol: String,
                   cents: Array[Array[Long]], degree: Int): DataFrame = {
    require(degree >= 1, s"degree must be >= 1: $degree")
    // NOT checkpointed (round-22 A/B, rejected): unlike semDedup (three
    // consumers) this assigned frame has two, and the back-to-back probe
    // read job count +1 with wall flat-to-worse on q_ann_graph_topk/merge
    // — the extra materialization action costs what the saved serial
    // assign pass returns.
    val pairs = cellPairs(withQNorm(KMeans.assignWith(df, idCol, embCol, cents)), idCol)
      .select(col("l").as("node"), col("r").as("nbr"), col("cos").as("sim"))
    graft.plans.TopKPerGroup.topK(pairs, Seq("node"),
      Seq(("sim", true), ("nbr", false)), degree)
      .select(col("node"), col("nbr"), col("sim"))
  }

  /** Incremental graph maintenance — the daily-batch shape of the graph
    * family (the [[graft.operators.Dedup.mergeBandIndex]] convention):
    * merge a persisted [[knnGraphWith]] edge table with a NEW batch under
    * the same FROZEN centroid matrix. Only cells the batch actually
    * touches contribute new candidate edges (history vectors outside
    * those cells are never re-read — at scale, a partition-pruned fetch
    * when the corpus is written partitioned by cell), in BOTH directions:
    * batch nodes rank their cellmates, and history cellmates may adopt a
    * closer batch neighbor. Only TOUCHED nodes re-rank through the
    * top-`degree` heap; untouched nodes' stored edges pass through
    * MAP-SIDE verbatim.
    *
    * PRECONDITION (r18, the touched-node fast path's contract): `graph`
    * must already be a per-node top-`degree` selection under the SAME
    * `degree` and tie order — i.e. the output of [[knnGraphWith]] or a
    * previous merge with identical parameters, which is the only thing
    * the gates ever store. A hand-built over-degree graph, or a merge
    * called with a SMALLER degree than the table was built with, passes
    * untouched nodes through uncapped (the pre-r18 full-table re-rank
    * would have re-capped them); re-cap such a table once with
    * [[graft.plans.TopKPerGroup.topK]] before merging incrementally.
    *
    * EQUALITY CONTRACT (spec- and oracle-pinned): with the same frozen
    * centroids, `mergeKnnGraph(knnGraphWith(hist), hist, batch)` is
    * edge-for-edge identical to `knnGraphWith(hist ∪ batch)` — the merge
    * is a pure incremental evaluation of the full rebuild.
    */
  def mergeKnnGraph(graph: DataFrame, histDf: DataFrame, batchDf: DataFrame,
                    idCol: String, embCol: String, cents: Array[Array[Long]],
                    degree: Int, requireCapped: Boolean = false): DataFrame = {
    require(degree >= 1, s"degree must be >= 1: $degree")
    val newEdges = newCandidateEdges(histDf, batchDf, idCol, embCol, cents)
    rerankMergeTail(graph, newEdges, carry = Nil, degree, requireCapped)
  }

  /** The TOUCHED-NODE-ONLY re-rank tail shared by [[mergeKnnGraph]] and
    * the cell-partitioned variant (the r17 gate-growth decomposition fix):
    * only nodes that gained a candidate edge this batch can change — an
    * untouched node's stored edge set is already its exact top-`degree`
    * selection (every writer of these graphs caps through this topK, the
    * documented precondition), so re-running the heap over it returns it
    * verbatim; it streams through MAP-SIDE via the broadcast anti-join.
    * The old shape unioned the FULL edge table into the heap every batch —
    * a corpus-wide shuffle whose cost grew with the graph, not the batch.
    * `carry` names extra columns to thread through (the cells variant's
    * `cell` — functional in `node`, so the heap's row counts are
    * unchanged).
    *
    * Touched nodes' OLD edges are batch-bounded (≤ touched × degree);
    * checkpointing them severs the lineage the semi and anti branches
    * would otherwise share (a union whose children both reference the
    * same graph/touchedNodes subtrees trips Catalyst's union-constraint
    * rewrite with a key-not-found on the duplicated attribute ids).
    */
  private def rerankMergeTail(old0: DataFrame, newEdges: DataFrame,
      carry: Seq[String], degree: Int, requireCapped: Boolean): DataFrame = {
    val cols = (Seq("node", "nbr", "sim") ++ carry).map(col)
    val touchedNodes = broadcast(newEdges.select(col("node")).distinct())
    val old = old0.select(cols: _*)
    val touchedOld = graft.Materialize.eager(old.join(touchedNodes, Seq("node"), "left_semi"))
    validateCapped(touchedOld, degree, requireCapped)
    val reranked = graft.plans.TopKPerGroup.topK(
        touchedOld.unionByName(newEdges.select(cols: _*)),
        Seq("node"), Seq(("sim", true), ("nbr", false)), degree)
      .select(cols: _*)
    reranked.unionByName(
      old.join(touchedNodes, Seq("node"), "left_anti"))
  }

  /** Candidate edges a batch contributes under frozen `cents`: every
    * (batch node, touched-cell mate) pair in BOTH directions — cellmates
    * may adopt a batch node as a nearer neighbor; the reverse edge carries
    * the same rounded cosine and the same `cluster` (edges never cross
    * cells under one assignment). The DISTINCT is load-bearing:
    * batch↔batch pairs already appear in both directions before the
    * reverse union, and a duplicated edge would let the top-degree heap
    * seat the same neighbor twice. Returns (node, nbr, sim, cluster),
    * checkpointed (it feeds the re-rank union AND the touched-node
    * broadcast). Batch-bounded: history outside touched cells is never
    * paired.
    */
  private def newCandidateEdges(histDf: DataFrame, batchDf: DataFrame,
      idCol: String, embCol: String, cents: Array[Array[Long]]): DataFrame = {
    def assigned(d: DataFrame) = KMeans.assignWith(d, idCol, embCol, cents)
      .select(col(idCol), col("cluster"), col("__u"))
    newCandidateEdgesAssigned(assigned(histDf), assigned(batchDf), idCol,
      batchMaterialized = false, touchedCellsHint = None)
  }

  /** [[newCandidateEdges]] over PRE-ASSIGNED frames — (idCol, cluster,
    * __u) rows. The gate's 100 TB shape: the vector table stores the
    * quantized vector and its frozen-fit cell, so per-batch history
    * never re-runs the k-means distance kernel (O(corpus·k·dim) map work
    * the r19 soak measured as the gate's dominant residue) — only the
    * batch side assigns, once, at ingest.
    *
    * The pair join here is not [[cellPairs]]: it joins two frames (batch
    * nodes × touched-cell mates, not a frame with itself) and pins the
    * width of both sides, so sharing the self-pair helper would need a
    * branch on which caller it serves.
    */
  private def newCandidateEdgesAssigned(histA: DataFrame, batchA: DataFrame,
      idCol: String, batchMaterialized: Boolean,
      touchedCellsHint: Option[Seq[Long]]): DataFrame = {
    // the assigned batch feeds FOUR consumers (touched cells, the mates
    // union, the a-side, and the broadcast's own subplan) — checkpointed
    // once; it is batch-sized, never the corpus.
    // A caller that already holds the batch as a checkpoint (the gate,
    // which collected touched cells from it) says so — the norm column is
    // a cheap projection over the existing blocks, and a second
    // localCheckpoint would re-materialize the whole batch per merge.
    val bAssign =
      if (batchMaterialized) withQNorm(batchA)
      else graft.Materialize.eager(withQNorm(batchA))
    // history vectors in touched cells only; norms compute AFTER the cell
    // filter, for survivors only. A caller that already knows the batch's
    // cells driver-side (the gate collected them for the partition-pruned
    // read) passes them as an isin LITERAL — no distinct exchange, no
    // broadcast materialization job; otherwise the cells come from a
    // broadcast of the batch's distinct clusters (<= k rows)
    val hTouched = withQNorm(touchedCellsHint match {
      case Some(cells) => histA.filter(col("cluster").isin(cells: _*))
      case None => histA.join(
        broadcast(bAssign.select(col("cluster")).distinct()), Seq("cluster"))
    })
    val mates = hTouched.unionByName(bAssign)
    val b = bAssign.select(col(idCol).as("node"), col("cluster"),
      col("__u").as("ae"), col("__n").as("an"))
    val x = mates.select(col(idCol).as("nbr"), col("cluster"),
      col("__u").as("be"), col("__n").as("bn"))
    val nPart = batchA.sparkSession.sessionState.conf.numShufflePartitions
    // cellPairs' salting, with BOTH join inputs pinned at the session's
    // width on exactly the join keys (round-22 probe): the planner
    // broadcasts whichever side it estimates smaller, and the dot-product
    // compute then runs at the STREAMED side's parallelism — with only bS
    // pinned, the executed plan read BroadcastHashJoin BuildLeft(bS)
    // streaming the mates union at scan width (a 390 ms 4-task stage at 32
    // cores).
    val bS = b.withColumn("__salt", explode(lit((0 until PairSalt).toArray)))
      .repartition(nPart, col("cluster"), col("__salt"))
    val xS = x.withColumn("__salt", pmod(hash(col("nbr")), lit(PairSalt)))
      .repartition(nPart, col("cluster"), col("__salt"))
    val batchEdges = bS.join(xS, Seq("cluster", "__salt"))
      .filter(col("node") =!= col("nbr"))
      .withColumn("sim", round(qcos("ae", "an", "be", "bn"), 6))
      .select(col("node"), col("nbr"), col("sim"), col("cluster"))
    // Both edge directions from ONE pass over the pair join: the previous
    // self-unionByName duplicated the whole batchEdges subtree — the map-
    // only broadcast legs share no exchange boundary, so the pair join AND
    // the history assign kernel executed twice (round-22 executed-plan
    // audit). explode(array(fwd, rev)) emits the identical row multiset
    // map-side; the load-bearing DISTINCT above the union is unchanged.
    val bothDirs = batchEdges.select(explode(array(
        struct(col("node"), col("nbr"), col("sim"), col("cluster")),
        struct(col("nbr").as("node"), col("node").as("nbr"),
          col("sim"), col("cluster")))).as("__e"))
      .select(col("__e.node").as("node"), col("__e.nbr").as("nbr"),
        col("__e.sim").as("sim"), col("__e.cluster").as("cluster"))
    graft.Materialize.eager(bothDirs.distinct())
  }

  /** The merge precondition made loud on demand (`requireCapped = true`):
    * every TOUCHED node's stored edge set must already be within `degree`.
    * Bounded — it runs on the batch-sized, already-checkpointed
    * touched-old slice, never the full table (a full-table check would
    * cost exactly the O(corpus) pass the touched-node merge exists to
    * avoid; a stale or hand-built over-degree table virtually always
    * violates on touched nodes too, since the violation is table-wide).
    * Off by default: the gates only ever store this function's own output.
    */
  private def validateCapped(touchedOld: DataFrame, degree: Int,
                             enabled: Boolean): Unit = {
    if (!enabled) return
    val bad = touchedOld.groupBy(col("node")).count()
      .filter(col("count") > degree).limit(1).collect()
    if (bad.nonEmpty)
      throw new IllegalStateException(
        s"mergeKnnGraph(requireCapped): stored graph holds ${bad.head.getLong(1)} " +
        s"edges for node ${bad.head.get(0)} (> degree $degree) — the table " +
        s"was built under different parameters; re-cap it once with " +
        s"TopKPerGroup.topK before merging incrementally.")
  }

  /** [[mergeKnnGraph]] against a CELL-PARTITIONED edge store — the
    * touched-range rewrite shape that keeps per-batch index maintenance
    * O(touched), not O(corpus). `oldTouchedCells` must be the stored edges
    * of exactly the cells the batch lands in (the partition-pruned read;
    * same top-degree precondition as [[mergeKnnGraph]]), carrying a `cell`
    * column. Returns the REPLACEMENT content for those cells — touched
    * nodes re-ranked, untouched cellmates passed through map-side — with
    * `cell` attached, ready for a per-partition swap
    * ([[graft.airbnb.Warehouse.writePartitions]]). Untouched cells'
    * partitions are never read, shuffled, or rewritten.
    *
    * Cells are independent under one frozen assignment (every edge's two
    * endpoints share a cell), so per-cell output equals what the
    * whole-table [[mergeKnnGraph]] would produce for that cell — the
    * equality contract restricted to touched partitions, which is what
    * makes PARTIAL partition swaps crash-safe: a replay re-merges only
    * the cells whose partitions still carry an older batch stamp.
    *
    * The inputs are PRE-ASSIGNED (idCol, cluster, __u) frames, as the gate
    * stores each vector at ingest ([[KMeans.assignWith]]), so the merge never
    * re-runs the k-means distance kernel over history. `histAssigned` may be
    * a superset of the touched cells — the candidate stage re-filters
    * through the batch cells — but feeding it cell-filtered keeps the scan
    * O(touched). `batchMaterialized` says `batchAssigned` is already a
    * checkpoint (no second one is taken); `touchedCellsHint` carries the
    * batch's cells when the caller holds them driver-side (an isin literal
    * instead of a broadcast of the batch's distinct cells).
    */
  def mergeKnnGraphTouchedCellsAssigned(oldTouchedCells: DataFrame,
      histAssigned: DataFrame, batchAssigned: DataFrame, idCol: String,
      degree: Int, requireCapped: Boolean = false,
      batchMaterialized: Boolean,
      touchedCellsHint: Option[Seq[Long]]): DataFrame = {
    require(degree >= 1, s"degree must be >= 1: $degree")
    val newEdges = newCandidateEdgesAssigned(histAssigned, batchAssigned,
        idCol, batchMaterialized, touchedCellsHint)
      .withColumnRenamed("cluster", "cell")
    rerankMergeTail(oldTouchedCells, newEdges, carry = Seq("cell"), degree,
      requireCapped)
  }

  /** Graph-ANN serving: best-first BEAM SEARCH over a (typically
    * persisted) [[knnGraph]] — the NSW answer shape, unrolled to a fixed
    * `hops` so the whole search is one declarative plan. Each query
    * starts from the `entryK` lowest-id candidates (the deterministic
    * entry convention the k-means seeding uses), and per hop the beam's
    * neighbors join in from the graph, every (query, candidate) is scored
    * once (exact quantized cosine, self-pairs excluded — the in-corpus
    * serving contract of cosineTopK/lshTopK), and the bounded heap keeps
    * the best `beam` per query. Returns (q_id, c_id, similarity, rank)
    * top-k of the final beam.
    *
    * Scale: per hop the frontier is |queries|·beam·degree rows — bounded
    * by the probe set, never by the corpus; the graph join shuffles on
    * `node` (the graph table's shard key), candidate vectors join in by
    * id, and queries ride broadcast. Recall < 1 by construction (beam and
    * hops trade recall for cost — the HNSW knobs); measured per corpus
    * via the recall row before a swap, like the IVF-PQ family.
    */
  def graphTopK(queries: DataFrame, candidates: DataFrame, graph: DataFrame,
                entryK: Int, beam: Int, hops: Int, k: Int): DataFrame = {
    require(entryK >= 1, s"entryK must be >= 1: $entryK")
    graphTopKFrom(queries, candidates, graph, lowestIds(entryK), beam, hops, k)
  }

  /** The entry convention of [[graphTopK]] and [[graphTopKPQ]]: the
    * `entryK` lowest `c_id`s of a candidate-side frame. */
  private def lowestIds(entryK: Int)(c: DataFrame): DataFrame =
    c.select(col("c_id")).orderBy(col("c_id")).limit(entryK)

  /** [[graphTopK]] with a COARSE ENTRY LAYER instead of the lowest-id
    * entry convention — the HNSW-upper-layer / IVF-entry serving shape:
    * a deterministic 1-in-`sampleMod` sample of the candidates (by id
    * residue) is scored exactly against every query, and the beam starts
    * from each query's best layer members rather than a fixed arbitrary
    * entry set. Entry quality then depends on the query, not on what the
    * lowest ids happen to embed, which is what lifts beam-search recall
    * on clustered corpora.
    *
    * Scale: the layer plays the IVF-centroid role — pick `sampleMod` so
    * N/sampleMod is index-node-sized (the layer's IDS broadcast; its
    * vectors join in by id like any candidate). Scoring the layer is
    * |queries| × N/sampleMod exact cosines — the same bill IVF pays for
    * its coarse quantizer, amortized across the batch.
    */
  def graphTopKLayered(queries: DataFrame, candidates: DataFrame,
                       graph: DataFrame, sampleMod: Long, beam: Int,
                       hops: Int, k: Int): DataFrame = {
    require(sampleMod >= 1, s"sampleMod must be >= 1: $sampleMod")
    graphTopKFrom(queries, candidates, graph,
      c => c.select(col("c_id")).filter(pmod(col("c_id"), lit(sampleMod)) === 0),
      beam, hops, k)
  }

  private def graphTopKFrom(queries: DataFrame, candidates: DataFrame,
                            graph: DataFrame,
                            entrySet: DataFrame => DataFrame,
                            beam: Int, hops: Int, k: Int): DataFrame = {
    require(beam >= 1 && hops >= 0 && k >= 1, s"bad beam=$beam hops=$hops k=$k")
    val c = quantizedSide(candidates, "c_id", "ce", "__u", "__n")
    val q = quantizedSide(queries, "q_id", "qe", "__qu", "__qn")
    // (q_id, c_id) -> + exact quantized cosine; queries broadcast, the
    // candidate-vector join shuffles ids only. Self-exclusion (q_id <>
    // c_id) is the in-corpus serving contract every sibling keeps
    // (cosineTopK, lshTopK, the recall rows' exact legs): without it an
    // in-corpus query's own vector (cos 1.0) permanently occupies a beam
    // and a final top-k slot, structurally capping measured recall@k.
    def score(cand: DataFrame): DataFrame =
      cand.filter(col("q_id") =!= col("c_id"))
        .join(c, "c_id").join(broadcast(q), "q_id")
        .withColumn("similarity", round(qcos("__qu", "__qn", "__u", "__n"), 6))
        .select(col("q_id"), col("c_id"), col("similarity"))
    val beamDf = beamSearch(q.select(col("q_id")), graph, entrySet(c),
      score, beam, hops)
    // The final top-k IS the head of the final beam: the beam heap already
    // ranks by (similarity DESC, c_id ASC) — exactly the order the window
    // here used to re-derive — and TopKPerGroup emits that rank. Filtering
    // the heap's own rank saves the extra window sort over the final beam
    // and lets the last hop flow lazily into the caller's action (round 22;
    // guide §2.4 — the beam is already totally ordered). Identical for any
    // k, including k > beam (both forms emit ranks 1..min(k, |beam|)).
    beamDf
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("similarity"), col("rank"))
  }

  /** The shared fixed-hop beam loop: seed every query with the entry set,
    * then per hop join the beam's graph neighbors in, score, and keep the
    * best `beam` per query on the bounded heap.
    *
    * Iterative-loop checkpoint discipline (the PageRank/BFS rule): a lazy
    * unrolled beam re-derives the ENTIRE upstream subtree — graph build
    * included — inside every hop (PlanLint measured 28 parquet scans at
    * hops=2). The graph materializes once (production passes a read of
    * the persisted index — a ~free checkpoint), and the ENTRY beam is a
    * |queries|·beam frame pinned before the first hop consumes it twice
    * (neighbor join + union).
    */
  private def beamSearch(qKeys: DataFrame, graph: DataFrame, entries: DataFrame,
                         score: DataFrame => DataFrame,
                         beam: Int, hops: Int): DataFrame = {
    // The graph checkpoint and the entry beam are INDEPENDENT actions (the
    // entry scores qKeys × entries against the candidate vectors — no graph
    // reference), previously run back-to-back on the driver thread. They
    // now OVERLAP (guide §2.6 "overlap independent jobs"): the graph build
    // — the expensive action of the inline rows — runs on a future while
    // the main thread builds the entry beam, and hop 1 awaits it. Actions
    // from two driver threads are ordinary concurrent Spark jobs. The
    // future's thread has no materialization scope, so the graph is
    // recorded in this thread's scope once awaited.
    val gFut = scala.concurrent.Future(
      graft.Materialize.eager(graph.select(col("node"), col("nbr"))))(
      scala.concurrent.ExecutionContext.global)
    // Only the ENTRY beam is checkpointed (round 22). Later hops stay LAZY:
    // a hop's two consumers (neighbor join + union) duplicate its subtree in
    // the logical plan, but the subtrees are canonically identical, so AQE's
    // stage reuse materializes each hop's exchange ONCE at runtime — the r21
    // 28-scan pathology only existed while the GRAPH build itself sat inside
    // every hop (it is still checkpointed above). Measured (FixedCostProbe,
    // sf0.1): per-hop checkpoints ran q_ann_graph_topk/recall/serve at
    // 35/37/23 jobs — ~all 1-task stages at the ~0.1 s local job-launch
    // floor; entry-only runs them at 25/17/17 jobs, wall −15–25% on the
    // serve/recall rows, and the lazy plan stays ≤ 6 logical parquet scans
    // (the PlanLint backstop). A fully-lazy beam (entry lazy too) saved 3–5
    // more jobs but pushed plan size past the scan lint and added
    // 100–180 ms of per-run optimizer time — rejected, A/B in
    // OPTIMIZATION_r22.md.
    def ckptIfMoreHops(df: DataFrame, h: Int): DataFrame =
      if (h == 0 && hops > 0)
        graft.Materialize.eager(df)
      else df
    // the best `beam` scored candidates per query, on the bounded heap
    def keepBeam(cand: DataFrame): DataFrame = graft.plans.TopKPerGroup.topK(
      score(cand), Seq("q_id"), Seq(("similarity", true), ("c_id", false)), beam)
    var beamDf = ckptIfMoreHops(keepBeam(qKeys.crossJoin(broadcast(entries))), 0)
    // awaited unconditionally (hops = 0 included) so the checkpointed graph
    // is always owned by the caller's scope before this call returns
    val g = graft.Materialize.own(scala.concurrent.Await.result(gFut,
      scala.concurrent.duration.Duration.Inf))
    var h = 0
    while (h < hops) {
      // The FRONTIER side broadcasts (round 22): it is |queries|·beam rows
      // — bounded by the probe set at ANY corpus size — while the graph is
      // the billion-edge table. Unhinted, the checkpoint's unknown stats
      // planned a SortMergeJoin that exchanged AND sorted the graph side
      // once per hop (seen in q_ann_graph_topk's physical plan); with
      // the hint the graph side is only scanned (or, sharded by node in
      // production, not even that — the hint never makes the BIG side move).
      val nbrs = broadcast(beamDf.select(col("q_id"), col("c_id")))
        .join(g.select(col("node").as("c_id"), col("nbr")), "c_id")
        .select(col("q_id"), col("nbr").as("c_id"))
      // One frontier exchange per hop, keyed on q_id alone: the distinct
      // runs over HashPartitioning(q_id) (which clusters (q_id, c_id) too,
      // so no second exchange), the scoring joins are frontier-sized and
      // preserve that partitioning under the broadcast strategy, and the
      // heap's ClusteredDistribution(q_id) is already satisfied — where
      // distinct() alone hashed on (q_id, c_id) and the heap paid its own
      // q_id exchange right after (guide §2.4: two operations keyed the
      // same way share one exchange).
      val cand = beamDf.select(col("q_id"), col("c_id"))
        .unionByName(nbrs)
        .repartition(qKeys.sparkSession.sessionState.conf.numShufflePartitions,
          col("q_id"))
        .distinct()
      beamDf = ckptIfMoreHops(keepBeam(cand), h + 1)
      h += 1
    }
    beamDf
  }

  /** DiskANN-style graph serving: the beam walks the graph scored by
    * PRODUCT-QUANTIZED approximate inner products (integer ADC lookups
    * against the unit-long codebooks — exact arithmetic, so every beam
    * decision replays in SQL), and only the FINAL beam pays an exact
    * cosine re-rank against true embeddings. This is the memory layout
    * the DiskANN/SPANN family serves from: the walk touches codes
    * (bytes per vector) and the graph's edge table; full vectors are
    * fetched once per query for the last `beam` candidates.
    *
    * Scale: per hop the frontier is |queries|·beam·degree CODE rows; true
    * embeddings join in on ~|queries|·beam surviving ids at the end. The
    * approximate scores order the walk, the exact re-rank orders the
    * answer — recall vs the exact-scored walk is measured per corpus via
    * the recall rows, like every approximate family here.
    */
  def graphTopKPQ(queries: DataFrame, candidates: DataFrame, graph: DataFrame,
                  books: Array[Array[Array[Long]]], entryK: Int, beam: Int,
                  hops: Int, k: Int): DataFrame =
    graphTopKPQWithIndex(queries, candidates, graph,
      candidates.select(col("c_id"),
        pqEncodeUnits(VectorFns.quantize(col("ce")), books).as("codes")),
      books, entryK, beam, hops, k)

  /** [[graphTopKPQ]] against a pre-built (typically warehouse- or
    * fixture-persisted) (c_id, codes) table — the serving split: the walk
    * reads codes and edges from persisted artifacts, true embeddings join
    * in only for the final beam's exact re-rank. Persist the codes with
    * the books ([[pqCodebooksUnitsDf]]) the way the IVF-PQ family does.
    */
  def graphTopKPQWithIndex(queries: DataFrame, candidates: DataFrame,
                           graph: DataFrame, codesIdx: DataFrame,
                           books: Array[Array[Array[Long]]], entryK: Int,
                           beam: Int, hops: Int, k: Int): DataFrame = {
    require(entryK >= 1 && beam >= 1 && hops >= 0 && k >= 1,
      s"bad entryK=$entryK beam=$beam hops=$hops k=$k")
    // the PQ-coded candidate table feeds every hop — materialized once
    // (a ~free checkpoint when the caller passes a persisted-index read)
    val cIdx = graft.Materialize.eager(codesIdx.select(col("c_id"), col("codes")))
    val q = queries.select(col("q_id"), adcLut(books).as("lut"))
    def score(cand: DataFrame): DataFrame =
      cand.filter(col("q_id") =!= col("c_id"))
        .join(cIdx, "c_id").join(broadcast(q), "q_id")
        .withColumn("similarity", adcDot(books))
        .select(col("q_id"), col("c_id"), col("similarity"))
    val beamDf = beamSearch(queries.select(col("q_id")), graph, lowestIds(entryK)(cIdx),
      score, beam, hops)
    // exact cosine re-rank of the final beam only — the DiskANN discipline
    rerankShortlist(beamDf, queries, candidates, k)
  }

  /** MATRYOSHKA (MRL) serving: a PREFIX-dimension IVF shortlist followed
    * by a FULL-dimension exact re-rank — the serving shape MRL embeddings
    * exist for (store and scan the low-dim prefix, keep the tail only for
    * the final re-rank). `prefixIdx` is the persisted prefix index:
    * (c_id, cluster, tv = quantized `prefixDim`-long prefix, tn = its
    * norm) — `1/ (dim/prefixDim)` the bytes of the full-vector table, and
    * when written partitioned by `cluster` the probe reads ONLY the
    * queries' cells (partition pruning — the IVF entry). Per query: assign
    * its prefix to the nearest centroid (the same [[KMeans.assignWith]]
    * arithmetic that built the index), score its cell's members by
    * quantized prefix cosine (rounded to 9, c_id tie-break — the
    * cross-engine rank discipline) on the bounded heap, and fetch FULL
    * vectors once per query for the `shortlist` survivors' exact re-rank.
    *
    * Scale: the scan side is the prefix index's probed cells only; full
    * vectors join by id for |queries|·shortlist rows. Recall < 1 by
    * construction (prefix ranking + single-cell entry); measured per
    * corpus by the recall sibling before a swap, like every approximate
    * family here.
    */
  def matryoshkaTopKServe(queries: DataFrame, candidates: DataFrame,
                          prefixIdx: DataFrame, cents: Array[Array[Long]],
                          prefixDim: Int, shortlist: Int, k: Int,
                          nProbe: Int = 1): DataFrame = {
    require(prefixDim >= 1 && shortlist >= 1 && k >= 1,
      s"bad prefixDim=$prefixDim shortlist=$shortlist k=$k")
    // multi-probe entry: each query probes its nProbe nearest cells (ties
    // to the lowest index — replayable as the kmeans distance CTE's
    // row_number); a candidate lives in exactly one cell, so probe lists
    // never duplicate a candidate within a query
    val qAssign = KMeans.assignProbes(
        queries.select(col("q_id"), slice(col("qe"), 1, prefixDim).as("__pe")),
        "q_id", "__pe", cents, nProbe)
      .select(col("q_id"), col("cluster"), col("__u").as("__qu"), qnorm("__u").as("__qn"))
    val shortDf = graft.plans.TopKPerGroup.topK(
      prefixIdx.join(broadcast(qAssign), Seq("cluster"))
        .filter(col("q_id") =!= col("c_id"))
        .withColumn("psim", round(qcos("__qu", "__qn", "tv", "tn"), 9))
        .select(col("q_id"), col("c_id"), col("psim")),
      Seq("q_id"), Seq(("psim", true), ("c_id", false)), shortlist)
    // full-vector exact re-rank of the shortlist: cosineTopK's scoring
    rankTopK(shortDf.select(col("q_id"), col("c_id"))
      .join(quantizedSide(candidates, "c_id", "ce", "__cu", "__cn"), Seq("c_id"))
      .join(broadcast(quantizedSide(queries, "q_id", "qe", "__qu", "__qn")), Seq("q_id")),
      qcos("__qu", "__qn", "__cu", "__cn"), k)
  }
}
