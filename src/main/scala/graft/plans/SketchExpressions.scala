package graft.plans

import graft.functions.TextFns
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-row document-sketch kernels: distinct word k-gram shingles, the full
  * MinHash signature, and SimHash — each computed in ONE narrow pass over the
  * token array.
  *
  * This is the load-bearing 100 TB design choice of the dedup family: a
  * document's sketch depends only on that document, so it belongs in a
  * map-side expression, not in an explode → distinct → groupBy pipeline
  * (which pays two full shuffles of the exploded shingle set — ~10× the
  * corpus size — before the first byte of actual pair discovery). With these
  * kernels the only shuffle left in MinHash-LSH is the band-key self-join,
  * and n-gram Jaccard drops its shingle-distinct exchange and per-doc window.
  *
  * Parity obligations (SketchKernelSpec proves each against the HOF forms):
  *   - shinglesDistinct ≡ set of transform(sequence(1, n-k+1),
  *       i -> concat_ws(' ', slice(tokens, i, k))) — first-occurrence order;
  *   - minhashSig(t, k)[i] ≡ min over distinct shingles of
  *       (polyHash(sh)·aᵢ + bᵢ) mod P   (min over duplicates = min over
  *       distinct, so no distinct pass is needed at all);
  *   - simhashBits ≡ per-bit sign of Σ_tokens (bit set ? +1 : -1).
  *
  * The string hash walks CODE POINTS (`split(s,'')` + `ascii()` semantics,
  * identical to charAt for ASCII/Latin-1) so oracle parity holds beyond ASCII.
  */
object SketchKernels {

  private val Mod = 2147483647L // 2^31 - 1
  private val permA: Array[Long] = TextFns.minhashPerms.map(_._1).toArray
  private val permB: Array[Long] = TextFns.minhashPerms.map(_._2).toArray

  /** Seed-7 base-31 polynomial hash over code points — TextFns.polyHash.
    * The empty string hashes to 217, NOT the seed: `split('', '')` yields one
    * empty piece in both engines and `ascii('') = 0`, so the HOF fold runs
    * once with 0 ((7·31 + 0) mod M). Probed empirically on Spark and DuckDB —
    * both also agree on code points for non-ASCII ('é' → 233, '😀' → 128512),
    * which is exactly what codePointAt walks.
    */
  def polyHashCp(s: String): Long = {
    if (s.isEmpty) return 217L // (7*31 + ascii('')) % Mod
    var acc = 7L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 31L + cp) % Mod
      i += Character.charCount(cp)
    }
    acc
  }

  /** Hash of the k-token shingle at position p without materializing the
    * string: tokens joined by a single space, concat_ws style (null tokens
    * skipped, separator only between emitted tokens).
    */
  private def shingleHash(tokens: ArrayData, p: Int, k: Int): Long = {
    var acc = 7L
    var emitted = 0
    var nChars = 0
    var t = p
    while (t < p + k) {
      if (!tokens.isNullAt(t)) {
        if (emitted > 0) { acc = (acc * 31L + 32L) % Mod; nChars += 1 } // ' '
        val s = tokens.getUTF8String(t).toString
        var i = 0
        while (i < s.length) {
          val cp = s.codePointAt(i)
          acc = (acc * 31L + cp) % Mod
          i += Character.charCount(cp)
          nChars += 1
        }
        emitted += 1
      }
      t += 1
    }
    // an all-empty shingle string hashes like polyHashCp("") — see above
    if (nChars == 0) 217L else acc
  }

  /** 64-bit hash of the k-token shingle at position p, walking UTF-8 bytes
    * directly — no StringBuilder, no String, no UTF8String allocation.
    * INTERNAL equality key only, never oracle-replayed: callers join or
    * aggregate on it exactly where they previously joined on
    * xxhash64(shingle string), so any well-mixed 64-bit hash is
    * interchangeable (the [[polyHashCp]]-family hashes are NOT — at 31
    * bits, a corpus past ~50k distinct shingles hits birthday collisions).
    * FNV-1a over bytes with a single-space separator between emitted
    * tokens (concat_ws semantics: null tokens skipped), finished with the
    * murmur fmix64 avalanche.
    */
  private def shingleHash64(tokens: ArrayData, p: Int, k: Int): Long = {
    var acc = 0xcbf29ce484222325L
    var emitted = 0
    var t = p
    while (t < p + k) {
      if (!tokens.isNullAt(t)) {
        if (emitted > 0) acc = (acc ^ 32L) * 0x100000001b3L
        val s = tokens.getUTF8String(t)
        val nb = s.numBytes()
        var i = 0
        while (i < nb) {
          acc = (acc ^ (s.getByte(i) & 0xffL)) * 0x100000001b3L
          i += 1
        }
        emitted += 1
      }
      t += 1
    }
    var h = acc
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    h *= 0xc4ceb9fe1a85ec53L; h ^= h >>> 33
    h
  }

  /** Distinct 64-bit shingle hashes in first-occurrence order; empty array
    * below k tokens. The hashed twin of [[shinglesDistinct]] for operators
    * that only ever JOIN on the shingle (the decontamination family): the
    * k-gram strings are never materialized, which halves the allocation
    * bill of the corpus-side scan.
    */
  def shingleHashes(tokens: ArrayData, k: Int): ArrayData = {
    val n = tokens.numElements()
    if (n < k) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val out = new Array[Long](n - k + 1)
    var cnt = 0
    val seen = new java.util.HashSet[java.lang.Long]()
    var p = 0
    while (p <= n - k) {
      val h = shingleHash64(tokens, p, k)
      if (seen.add(h)) { out(cnt) = h; cnt += 1 }
      p += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, cnt))
  }

  /** 64-bit hashes of `stride`-stepped `k`-token chunks — NOT distinct
    * (multiplicity is the point for boilerplate accounting), one hash per
    * chunk start position 0, stride, 2·stride… < n, the final partial
    * chunk included — matching chunkExpr's sequence(1, n, stride) +
    * slice semantics. INTERNAL join keys only ([[shingleHash64]] family):
    * callers previously hashed the chunk STRING with xxhash64, and
    * whitespace tokens make the space-joined chunk string injective in
    * the token slice, so any well-mixed 64-bit hash of the slice is
    * equivalent.
    *
    * COLLISION BUDGET (the one approximation a 64-bit key carries): two
    * DISTINCT chunks sharing a hash merge silently in any consumer that
    * groups or joins on these keys (the dedup accounting legs, the anchor
    * families). Birthday bound: among D distinct chunks the expected
    * colliding pairs are ~D²/2⁶⁵ — at 100 TB (~10¹² chunks) that is ~3×10⁴
    * pairs, i.e. ~3×10⁻⁸ of chunks, orders of magnitude below the noise
    * floor of any dedup ratio these legs feed. Consumers whose OUTPUT must
    * be collision-free (the exact-dedup survivor leg) key on md5 of the
    * full text instead; the 64-bit legs are accounting/candidate machinery
    * where a ppm-scale merge is invisible. DuckDB oracles that group on the
    * chunk STRING agree with these legs conditional on no collision —
    * guaranteed at fixture scale (D ~ 10⁵ → expected pairs ~3×10⁻¹⁰).
    */
  def chunkHashes(tokens: ArrayData, k: Int, stride: Int): ArrayData = {
    val n = tokens.numElements()
    if (n == 0) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val m = (n + stride - 1) / stride
    val out = new Array[Long](m)
    var c = 0
    var p = 0
    while (p < n) {
      out(c) = shingleHash64(tokens, p, math.min(k, n - p))
      c += 1
      p += stride
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, c))
  }

  /** Adjacent-token-pair hashes — (hp, hw) per position 0..n-2, where hp is
    * the 64-bit hash of the two-token pair (space-joined, [[shingleHash64]]
    * family) and hw of its FIRST token alone: the bigram-LM stage's two
    * join keys from ONE kernel pass. INTERNAL keys only (the operator
    * previously keyed on xxhash64 of the pair string / its prefix — any
    * well-mixed 64-bit hash is interchangeable; the oracle groups on the
    * pair STRING and agrees modulo the same birthday-bound collision trade
    * [[chunkHashes]] documents). Replaces an interpreted HOF transform
    * (evaluated per row inside GenerateExec) that materialized every pair
    * string, plus two xxhash64 passes over those strings.
    */
  def pairHashes(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - 1)
    var p = 0
    while (p < n - 1) {
      out(p) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](shingleHash64(tokens, p, 2), shingleHash64(tokens, p, 1)))
      p += 1
    }
    new GenericArrayData(out)
  }

  /** Strided chunks as (hash, text) struct rows — the boilerplate-REMOVAL
    * kernel: one pass builds both the 64-bit join key (the same
    * [[shingleHash64]] space [[chunkHashes]] emits, so the accounting and
    * removal halves of the C4 operator now share one key space by
    * construction) and the chunk string the survivor reassembly needs.
    * Replaces the interpreted chunkExpr HOF + xxhash64-of-string pair that
    * previously ran per row inside GenerateExec. The string is built with
    * UTF8String.concatWs (byte-level, null tokens skipped — identical to
    * array_join(slice, ' ') on the non-null token arrays TextFns.tokens
    * produces).
    */
  def chunkHashStrings(tokens: ArrayData, k: Int, stride: Int): ArrayData = {
    val n = tokens.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val m = (n + stride - 1) / stride
    val out = new Array[Any](m)
    val sep = UTF8String.fromString(" ")
    var c = 0
    var p = 0
    while (p < n) {
      val len = math.min(k, n - p)
      val parts = new Array[UTF8String](len)
      var t = 0
      while (t < len) {
        parts(t) = if (tokens.isNullAt(p + t)) null else tokens.getUTF8String(p + t)
        t += 1
      }
      out(c) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](shingleHash64(tokens, p, len), UTF8String.concatWs(sep, parts: _*)))
      c += 1
      p += stride
    }
    new GenericArrayData(if (c == m) out else out.take(c))
  }

  /** Per-token [[polyHashCp]] values — the kernel form of
    * TextFns.polyHashEach, whose interpreted HOF allocates an array
    * element PER CHARACTER (aggregate over split(e, '')).
    *
    * NULL-element contract — INTENTIONAL divergence from the HOF: a null
    * token hashes like the empty string (the 217L seed), where the HOF
    * yields a NULL element (split(null) is null, so its aggregate is
    * null). The kernel's containsNull=false output is what every
    * downstream sketch consumer wants (a null hash would poison window
    * minima and join keys); TextFns.tokens never produces null elements,
    * so the divergence is reachable only through the public
    * SketchFns.polyHashEach column API on hand-built arrays. Pinned by
    * FuzzSpec's null-token case.
    */
  def polyHashEach(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (tokens.isNullAt(i)) 217L
        else polyHashCp(tokens.getUTF8String(i).toString)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** POSITIONAL robust-winnowing anchors: (0-based start, 64-bit hash) of
    * the rightmost window-minimum k-gram in every window of `w` consecutive
    * k-gram positions, consecutive re-selections collapsed — the sparse
    * anchor set behind `Dedup.repeatedSpansSparse`. Two properties carry
    * the exactness guarantee there:
    *   - COVERAGE: every window of `w` consecutive k-gram positions
    *     contains at least one selected position (its rightmost minimum is
    *     selected when first reached);
    *   - SELF-SYNCHRONIZATION: selection inside a window depends only on
    *     the window's hash values, so two copies of the same >= w+k-1
    *     token span select the same span-relative anchor positions.
    * Internal join keys only ([[shingleHash64]] family — no oracle
    * portability needed; the sparse stage only NOMINATES candidate pairs,
    * the dense verify is what the oracle replays). A document shorter
    * than one full window contributes its rightmost global minimum.
    */
  def winnowAnchors(tokens: ArrayData, k: Int, w: Int): ArrayData = {
    val n = tokens.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val m = n - k + 1
    val hs = new Array[Long](m)
    var p = 0
    while (p < m) { hs(p) = shingleHash64(tokens, p, k); p += 1 }
    def row(pos: Int): Any =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](pos.toLong, hs(pos)))
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    if (m < w) {
      var best = 0; var i = 1
      while (i < m) { if (hs(i) <= hs(best)) best = i; i += 1 }
      out += row(best)
    } else {
      var last = -1
      var j = 0
      while (j <= m - w) {
        var best = j; var i = j + 1
        while (i < j + w) { if (hs(i) <= hs(best)) best = i; i += 1 }
        if (best != last) { out += row(best); last = best }
        j += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** Dense positional anchors WITH the robust-winnowing selection flagged
    * inline — (0-based pos, 64-bit hash, sparse) for every full-length
    * k-gram position, where `sparse` marks exactly the positions
    * [[winnowAnchors]] would select. ONE pass over the token array builds
    * both the dense verify side and the sparse probe side of the
    * incremental substring gate's SERVE path (`Dedup.
    * tagSpansAgainstIndexSparseServe`): the per-batch plan previously ran
    * the tokenize+hash kernel twice (sparse probe anchors, then dense
    * anchors for candidate docs); flagging the selection here makes the
    * batch's single anchor checkpoint feed both consumers. Hash values
    * are the same [[shingleHash64]] family as [[chunkHashes]] stride 1
    * and [[winnowAnchors]] — the flagged subset is bit-identical to the
    * standalone sparse set (asserted by FuzzSpec).
    */
  def anchorRows(tokens: ArrayData, k: Int, w: Int): ArrayData = {
    val n = tokens.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val m = n - k + 1
    val hs = new Array[Long](m)
    var p = 0
    while (p < m) { hs(p) = shingleHash64(tokens, p, k); p += 1 }
    val sel = new Array[Boolean](m)
    if (m < w) {
      var best = 0; var i = 1
      while (i < m) { if (hs(i) <= hs(best)) best = i; i += 1 }
      sel(best) = true
    } else {
      var j = 0
      while (j <= m - w) {
        var best = j; var i = j + 1
        while (i < j + w) { if (hs(i) <= hs(best)) best = i; i += 1 }
        sel(best) = true
        j += 1
      }
    }
    val out = new Array[Any](m)
    p = 0
    while (p < m) {
      out(p) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](p.toLong, hs(p), sel(p)))
      p += 1
    }
    new GenericArrayData(out)
  }

  /** Winnowing fingerprint selection (Schleimer et al. 2003) in ONE pass:
    * k-gram shingle hashes ([[shingleHash]] — identical arithmetic to
    * polyHash over the concat_ws-joined shingle string, so values
    * cross-check against the DuckDB oracle) then the distinct window
    * minima over `w` consecutive hashes in first-occurrence order.
    * Replaces a three-stage interpreted HOF lattice (shingleExpr →
    * polyHashEach, whose per-CHARACTER split allocates an array element
    * per character → winnowExpr's transform of array_min slices) with one
    * codegen kernel call. Empty below k tokens; a document shorter than
    * one full window contributes its global minimum (the paper's
    * short-document rule, matching TextFns.winnowExpr's CASE).
    */
  def winnowFingerprints(tokens: ArrayData, k: Int, w: Int): ArrayData = {
    val n = tokens.numElements()
    if (n < k) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val m = n - k + 1
    val hs = new Array[Long](m)
    var p = 0
    while (p < m) { hs(p) = shingleHash(tokens, p, k); p += 1 }
    if (m < w) {
      var mn = hs(0); var i = 1
      while (i < m) { if (hs(i) < mn) mn = hs(i); i += 1 }
      return UnsafeArrayData.fromPrimitiveArray(Array(mn))
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var j = 0
    while (j <= m - w) {
      var mn = hs(j); var i = j + 1
      while (i < j + w) { if (hs(i) < mn) mn = hs(i); i += 1 }
      seen.add(mn)
      j += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator(); var c = 0
    while (it.hasNext) { out(c) = it.next(); c += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** The `bk` SMALLEST distinct k-gram polyHash values, ascending — the
    * bottom-k sketch (Broder): containment(A in B) is estimated as
    * |bottomk(A) ∩ hashes(B)| / |bottomk(A)|, and the estimate is EXACT
    * whenever the document has ≤ bk distinct shingles (the sketch IS the
    * set). Values are the same oracle-portable [[shingleHash]] family the
    * winnowing and minhash kernels use, so a SQL oracle reproduces the
    * selection order digit-for-digit. Empty below k tokens.
    */
  def bottomKShingleHashes(tokens: ArrayData, k: Int, bk: Int): ArrayData = {
    val n = tokens.numElements()
    if (n < k) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val seen = new java.util.TreeSet[java.lang.Long]()
    var p = 0
    while (p <= n - k) { seen.add(shingleHash(tokens, p, k)); p += 1 }
    val out = new Array[Long](math.min(bk, seen.size))
    val it = seen.iterator()
    var c = 0
    while (c < out.length) { out(c) = it.next(); c += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Distinct k-gram shingle strings in first-occurrence order; empty array
    * when the document has fewer than k tokens.
    */
  def shinglesDistinct(tokens: ArrayData, k: Int): ArrayData = {
    val n = tokens.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var p = 0
    while (p <= n - k) {
      val sb = new java.lang.StringBuilder
      var emitted = 0
      var t = p
      while (t < p + k) {
        if (!tokens.isNullAt(t)) {
          if (emitted > 0) sb.append(' ')
          sb.append(tokens.getUTF8String(t).toString)
          emitted += 1
        }
        t += 1
      }
      seen.add(UTF8String.fromString(sb.toString))
      p += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }

  /** Full MinHash signature (one long per permutation) in a single pass over
    * shingle positions — duplicates don't affect a min, so no distinct set is
    * ever built. Null when the document has fewer than k tokens (the groupBy
    * formulation emits no row for such documents; callers filter first).
    */
  def minhashSig(tokens: ArrayData, k: Int): ArrayData = {
    val n = tokens.numElements()
    if (n < k) return null
    val m = permA.length
    val sigs = Array.fill(m)(Long.MaxValue)
    var p = 0
    while (p <= n - k) {
      val h = shingleHash(tokens, p, k)
      var i = 0
      while (i < m) {
        val v = (h * permA(i) + permB(i)) % TextFns.minhashP
        if (v < sigs(i)) sigs(i) = v
        i += 1
      }
      p += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sigs)
  }

  /** SimHash over per-token hashes: bit i set iff more token hashes have bit
    * i set than clear (ties → clear, matching `sum > 0`). Null tokens
    * contribute nothing (explode+sum skips nulls).
    */
  def simhashBits(tokens: ArrayData, bits: Int): Long =
    simhashBitsImpl(tokens, bits, alt = false)

  /** Second-family simhash (independent bits) for the two-long wide
    * signature: the token hash is re-mixed (TextFns.simhashAltA/B) before
    * the same widening, so these 62 bits are independent of simhashBits's.
    */
  def simhashBitsAlt(tokens: ArrayData, bits: Int): Long =
    simhashBitsImpl(tokens, bits, alt = true)

  private def simhashBitsImpl(tokens: ArrayData, bits: Int, alt: Boolean): Long = {
    val n = tokens.numElements()
    val counts = new Array[Int](bits)
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h0 = polyHashCp(tokens.getUTF8String(i).toString)
        // family selection FIRST, then widen 31 → 62 informative bits
        // (TextFns.simhashWidenA/B); bits 0..30 of the base family stay
        // exactly h0, so narrow (<=31-bit) signatures are unchanged.
        // h < 2^31 and A ~ 2^20, so every product stays < 2^52: no overflow.
        val h1 = if (alt) (h0 * TextFns.simhashAltA + TextFns.simhashAltB) % Mod else h0
        val h = h1 |
          (((h1 * TextFns.simhashWidenA + TextFns.simhashWidenB) % Mod) << 31)
        var b = 0
        while (b < bits) {
          if (((h >> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sim = 0L
    var b = 0
    while (b < bits) {
      if (counts(b) > 0) sim |= (1L << b)
      b += 1
    }
    sim
  }
}

private[plans] trait TokenArrayInput { self: UnaryExpression =>
  def fnName: String
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$fnName requires array<string> tokens, got $other")
  }
}

/** array<string> tokens → array<long> strided chunk hashes (internal join
  * keys; see SketchKernels.chunkHashes).
  */
case class ChunkHashes(child: Expression, k: Int, stride: Int)
    extends UnaryExpression with TokenArrayInput {
  require(k >= 1 && stride >= 1, s"k and stride must be >= 1, got k=$k stride=$stride")
  override def fnName: String = "chunk_hashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    SketchKernels.chunkHashes(input.asInstanceOf[ArrayData], k, stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.SketchKernels.chunkHashes($c, $k, $stride);")

  override protected def withNewChildInternal(newChild: Expression): ChunkHashes =
    copy(child = newChild)
}

/** array<string> tokens → array<long> bottom-k distinct shingle polyHash
  * values, ascending (see SketchKernels.bottomKShingleHashes).
  */
case class BottomKShingleHashes(child: Expression, k: Int, bk: Int)
    extends UnaryExpression with TokenArrayInput {
  require(k >= 1 && bk >= 1, s"k and bk must be >= 1, got k=$k bk=$bk")
  override def fnName: String = "bottomk_shingle_hashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    SketchKernels.bottomKShingleHashes(input.asInstanceOf[ArrayData], k, bk)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.SketchKernels.bottomKShingleHashes($c, $k, $bk);")

  override protected def withNewChildInternal(newChild: Expression): BottomKShingleHashes =
    copy(child = newChild)
}

/** array<string> tokens → array<struct<ck: long, chunk: string>> strided
  * chunk (hash, text) pairs (see SketchKernels.chunkHashStrings).
  */
case class ChunkHashStrings(child: Expression, k: Int, stride: Int)
    extends UnaryExpression with TokenArrayInput {
  require(k >= 1 && stride >= 1, s"k and stride must be >= 1, got k=$k stride=$stride")
  override def fnName: String = "chunk_hash_strings"
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("ck", LongType, nullable = false),
      StructField("chunk", StringType, nullable = false))),
    containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    SketchKernels.chunkHashStrings(input.asInstanceOf[ArrayData], k, stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.SketchKernels.chunkHashStrings($c, $k, $stride);")

  override protected def withNewChildInternal(newChild: Expression): ChunkHashStrings =
    copy(child = newChild)
}

/** array<string> tokens → array<struct<hp: long, hw: long>> adjacent-pair
  * and first-token hashes (internal join keys; see SketchKernels.pairHashes).
  */
case class PairHashes(child: Expression)
    extends UnaryExpression with TokenArrayInput {
  override def fnName: String = "pair_hashes"
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("hp", LongType, nullable = false),
      StructField("hw", LongType, nullable = false))),
    containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    SketchKernels.pairHashes(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.SketchKernels.pairHashes($c);")

  override protected def withNewChildInternal(newChild: Expression): PairHashes =
    copy(child = newChild)
}

/** array<string> tokens → array<long> per-token polyHash values (oracle-
  * portable; see SketchKernels.polyHashEach).
  */
case class PolyHashEach(child: Expression)
    extends UnaryExpression with TokenArrayInput {
  override def fnName: String = "poly_hash_each"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    SketchKernels.polyHashEach(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.SketchKernels.polyHashEach($c);")

  override protected def withNewChildInternal(newChild: Expression): PolyHashEach =
    copy(child = newChild)
}

/** array<string> tokens → array<struct<pos:long, h:long>> positional
  * robust-winnowing anchors (see SketchKernels.winnowAnchors).
  */
case class WinnowAnchors(child: Expression, k: Int, w: Int)
    extends UnaryExpression with TokenArrayInput {
  require(k >= 1 && w >= 1, s"k and w must be >= 1, got k=$k w=$w")
  override def fnName: String = "winnow_anchors"
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pos", LongType, nullable = false),
      StructField("h", LongType, nullable = false))),
    containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    SketchKernels.winnowAnchors(input.asInstanceOf[ArrayData], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.SketchKernels.winnowAnchors($c, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): WinnowAnchors =
    copy(child = newChild)
}

/** array<string> tokens → array<struct<pos:long, h:long, sparse:boolean>>
  * dense positional anchors with the winnowing selection flagged inline
  * (see SketchKernels.anchorRows — one kernel pass feeds both sides of the
  * sparse serve gate).
  */
case class AnchorRows(child: Expression, k: Int, w: Int)
    extends UnaryExpression with TokenArrayInput {
  require(k >= 1 && w >= 1, s"k and w must be >= 1, got k=$k w=$w")
  override def fnName: String = "anchor_rows"
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pos", LongType, nullable = false),
      StructField("h", LongType, nullable = false),
      StructField("sparse", BooleanType, nullable = false))),
    containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    SketchKernels.anchorRows(input.asInstanceOf[ArrayData], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.SketchKernels.anchorRows($c, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): AnchorRows =
    copy(child = newChild)
}

/** array<string> tokens → array<long> winnowing fingerprints (oracle-
  * portable polyHash values; see SketchKernels.winnowFingerprints).
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression with TokenArrayInput {
  require(k >= 1 && w >= 1, s"k and w must be >= 1, got k=$k w=$w")
  override def fnName: String = "winnow_fingerprints"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    SketchKernels.winnowFingerprints(input.asInstanceOf[ArrayData], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.SketchKernels.winnowFingerprints($c, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}

/** array<string> tokens → array<long> distinct 64-bit shingle hashes —
  * internal join keys only (see SketchKernels.shingleHashes).
  */
case class ShingleHashes(child: Expression, k: Int)
    extends UnaryExpression with TokenArrayInput {
  require(k >= 1, s"k must be >= 1, got $k")
  override def fnName: String = "shingle_hashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    SketchKernels.shingleHashes(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.SketchKernels.shingleHashes($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** array<string> tokens → array<string> distinct k-gram shingles. */
case class ShinglesDistinct(child: Expression, k: Int)
    extends UnaryExpression with TokenArrayInput {
  require(k >= 1, s"k must be >= 1, got $k")
  override def fnName: String = "shingles_distinct"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    SketchKernels.shinglesDistinct(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.SketchKernels.shinglesDistinct($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): ShinglesDistinct =
    copy(child = newChild)
}

/** array<string> tokens → array<long> MinHash signature (null if < k tokens). */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryExpression with TokenArrayInput {
  require(k >= 1, s"k must be >= 1, got $k")
  override def fnName: String = "minhash_sig"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    SketchKernels.minhashSig(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.plans.SketchKernels.minhashSig($c, $k);
      ${ev.isNull} = (${ev.value} == null);
    """)

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** array<string> tokens → long SimHash (`bits` ≤ 62 low bits used — the
  * widened token hash carries 62 informative bits; see TextFns.simhashWidenA).
  */
case class SimHashBits(child: Expression, bits: Int)
    extends UnaryExpression with TokenArrayInput {
  require(bits >= 1 && bits <= 62, s"bits must be in [1, 62], got $bits")
  override def fnName: String = "simhash_bits"
  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    SketchKernels.simhashBits(input.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.SketchKernels.simhashBits($c, $bits);")

  override protected def withNewChildInternal(newChild: Expression): SimHashBits =
    copy(child = newChild)
}

/** array<string> tokens → long SimHash from the SECOND hash family
  * (TextFns.simhashAltA/B re-mix before widening) — the other 62 bits of
  * the two-long 124-bit wide signature.
  */
case class SimHashBitsAlt(child: Expression, bits: Int)
    extends UnaryExpression with TokenArrayInput {
  require(bits >= 1 && bits <= 62, s"bits must be in [1, 62], got $bits")
  override def fnName: String = "simhash_bits_alt"
  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    SketchKernels.simhashBitsAlt(input.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.SketchKernels.simhashBitsAlt($c, $bits);")

  override protected def withNewChildInternal(newChild: Expression): SimHashBitsAlt =
    copy(child = newChild)
}

/** long → boolean: membership probe of a BROADCAST Bloom filter — the
  * codegen'd replacement for the `udf(bloomBc.value.mightContainLong _)`
  * closure the decontamination prefilter previously rode (a Scala UDF
  * black-boxes the probe to the optimizer and pays boxing per row; this
  * stays inside whole-stage codegen and reads the broadcast value once per
  * generated class, exactly like the centroid-matrix reference objects of
  * the vector kernels). The filter rides the Broadcast handle, so the
  * expression serializes as a pointer, never as the sketch bytes.
  */
case class BloomMightContain(
    child: Expression,
    bloomBc: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter])
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bloom_might_contain requires long, got $other")
  }

  override protected def nullSafeEval(input: Any): Any =
    bloomBc.value.mightContainLong(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("bloomBc", bloomBc,
      "org.apache.spark.broadcast.Broadcast<org.apache.spark.util.sketch.BloomFilter>")
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = ((org.apache.spark.util.sketch.BloomFilter) $bcRef.value()).mightContainLong($c);
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}
