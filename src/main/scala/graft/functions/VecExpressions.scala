package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native vector arithmetic for the similarity operators.
  *
  * Semantics are EXACTLY those of the HOF formulation they replace
  * (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`): a strict sequential
  * left-to-right double fold, null if the arrays differ in length or
  * any element is null. Identical IEEE operation order means identical
  * bits — every existing DuckDB oracle remains valid — while the tight
  * JVM loop replaces per-element interpreted lambda evaluation
  * (~64 boxed calls per row → one static call).
  */
object VecOps {
  def dotBoxed(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  def norm2Boxed(a: ArrayData): java.lang.Double = {
    var acc = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) {
      if (a.isNullAt(i)) return null
      val x = a.getDouble(i)
      acc += x * x
      i += 1
    }
    acc
  }

  def dot(a: Column, b: Column): Column =
    GraftShim.column(DotProduct(GraftShim.expression(a), GraftShim.expression(b)))

  def norm2(a: Column): Column =
    GraftShim.column(SquaredNorm(GraftShim.expression(a)))
}

/** Random-hyperplane band keys for cosine LSH, all bands in one pass.
  *
  * Exact semantics of the per-plane HOF construction in
  * graft.queries.Pipeline (bit_p = Σ floor(x_i·1e9)·w_pi ≥ 0 in exact
  * integer arithmetic; key_bd = Σ bit·2^k): the md5-derived ±1 weight
  * matrix is identical (Portable.h32s of "p_i"), a null element or a
  * length mismatch zeroes the affected plane's bit exactly as the
  * null-propagating `aggregate(zip_with(...)) >= 0` comparison does.
  */
object RhOps {
  val bands = 4
  val dim = 64

  /** Historical fixed band width, retained as the adaptive FLOOR (all
    * committed testdata scales resolve to it, so their results are
    * byte-identical to the fixed-width era) and as the 1-arg SQL
    * default.
    */
  val minPlanesPerBand = 8

  /** 2^24 keys per band bounds the Int band key and is already far
    * past any single band's useful resolution (16 M buckets/band).
    */
  val maxPlanesPerBand = 24
  private val maxPlanes = bands * maxPlanesPerBand

  /** Planes per band sized from the corpus count so each band's
    * 2^ppb key space keeps expected bucket size ~16 at ANY N:
    * ppb = clamp(floor(log2(N/16)), 8, 24) — the same integer
    * bit-length arithmetic as q169's adaptiveBits, so a DuckDB oracle
    * replays it exactly as
    * `least(24, greatest(8, length(printf('%b', N // 16)) - 1))`.
    * A FIXED width makes expected candidate pairs grow N²/2^ppb per
    * band — the fixed-width quadratic class rounds 9–11 eliminated
    * everywhere else (q169 adaptiveBits, q239 adaptive prefix, q47
    * adaptive codebooks); this closes its last member (q25).
    */
  def planesFor(n: Long): Int =
    math.min(maxPlanesPerBand,
      math.max(minPlanesPerBand, 63 - java.lang.Long.numberOfLeadingZeros(n / 16)))

  /** ±1 sign matrix over the MAXIMUM plane domain (96 planes); a run
    * with ppb planes per band uses planes 0 until bands·ppb — the
    * weight depends only on the GLOBAL plane index p, exactly the
    * md5("p_i") formula the oracle regenerates, so one table serves
    * every width.
    */
  lazy val weights: Array[Array[Int]] =
    Array.tabulate(maxPlanes)(p =>
      Array.tabulate(dim)(i0 => if (Portable.h32s(s"${p}_${i0 + 1}") % 2 == 1) 1 else -1))

  def bandKeys(a: ArrayData, planesPerBand: Int): ArrayData = {
    val nPlanes = bands * planesPerBand
    val out = new Array[Int](bands)
    val n = a.numElements()
    var usable = n == dim
    var i = 0
    while (usable && i < n) { if (a.isNullAt(i)) usable = false; i += 1 }
    if (usable) {
      val scaled = new Array[Long](dim)
      i = 0
      while (i < dim) { scaled(i) = math.floor(a.getDouble(i) * 1e9).toLong; i += 1 }
      var p = 0
      while (p < nPlanes) {
        val w = weights(p)
        var acc = 0L
        var j = 0
        while (j < dim) { acc += scaled(j) * w(j); j += 1 }
        if (acc >= 0) out(p / planesPerBand) |= (1 << (p % planesPerBand))
        p += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def bandKeysCol(a: Column, planesPerBand: Int = minPlanesPerBand): Column =
    GraftShim.column(RhBandKeys(GraftShim.expression(a), planesPerBand))

  /** TRUE iff the vector is usable by the hyperplane key family:
    * exactly [[dim]] elements, none null. An unusable vector hashes
    * to ALL-ZERO keys in every band ([[bandKeys]]/[[probedBandKeys]])
    * — deterministic by construction, but at 100 TB a corpus with
    * many malformed embeddings would pair them QUADRATICALLY inside
    * the (band, 0) buckets, and exact dedup upstream cannot collapse
    * them (the documents differ; only the degenerate keys agree).
    * The probed-LSH entries filter on this BEFORE key generation —
    * which also aligns engine and oracle on malformed rows (the
    * oracle's per-element CTE would otherwise compute PARTIAL-sum
    * keys for a short vector where the engine emits zeros). Oracle
    * replay: `len(embedding) = 64 AND
    * len(list_filter(embedding, e -> e IS NULL)) = 0`.
    */
  def usableVec(a: Column): Column = {
    import org.apache.spark.sql.functions.{exists, size}
    size(a) === dim && !exists(a, x => x.isNull)
  }

  /** Band width when MULTI-PROBING (q25/q267): three planes wider
    * than [[planesFor]] — multi-probe LSH's standing trade (Lv et
    * al., VLDB'07): probing neighbors substitutes for bucket width,
    * so the probed operator runs much narrower buckets (1/8 the
    * expected size) and lets the multi-bit probe set supply the
    * reach. The (+3, T=2·ppb) point is the measured round-14 frontier
    * optimum (sym frontier: bench/lsh_width5_frontier_r16.txt), the
    * cheapest schedule holding tau=0.35 threshold-pair recall ≥ 65%
    * at ALL of sf0.1 / sf1 / 2×-sf1 (89.0% / 73.5% / 67.1%) — every
    * cheaper config at the third width reads < 65%. Oracle form:
    * `least(24, prm.ppb + 3)` (with ppb the unprobed width).
    */
  def probedPlanesFor(n: Long): Int =
    math.min(maxPlanesPerBand, planesFor(n) + 3)

  /** Probes per band for MULTI-PROBE candidate generation, WIDTH-
    * INDEXED (round-15 change — the flat T = 2·ppb rule's measured
    * contract boundary): T = 2·ppb up to 14 planes (22/26/28 at the
    * committed 11/13/14-plane configs — unchanged, so every committed
    * fixture's blocking stays byte-identical to the round-14 era),
    * then the measured frontier anchors (15, 61) and (16, 61), then
    * geometric growth from the last measured anchor
    * ([[probeGrowthTable]]).
    *
    * WHY T must outgrow 2·ppb: a tau=0.35 pair differs in ~0.37·ppb
    * planes per band in expectation (acos(0.35)/π per plane), so the
    * flip depth the probe set must reach grows LINEARLY with the
    * width schedule, while a T ∝ ppb budget only buys a FIXED depth
    * — the frontier measured exactly that cliff: T = 2·ppb reads
    * 67.1% at 14 planes but 51.4% at 15 (40k geometry), and on the
    * REAL 4×-sf1 fixture (80k vectors — the first corpus that sizes
    * to 15 planes) the round-15 grid read 58.9% at (15, 45), 66.1%
    * at (15, 52), 78.6% at (15, 61), 100% at the full-flip ceiling
    * (15, 575) — so 3-bit probing has no wall at this width and
    * (15, 61) is the pinned point with real margin over the 65%
    * contract. The 16-plane entry is MEASURED TOO (round 16, on the
    * real 8×-sf1 160k-vector fixture — the first corpus that sizes
    * to 16 planes): the floor sits at T≈41 (64.9% at 40, 67.0% at
    * 45) and the round-15 ×1.857-extrapolated T=113 read 92.6% at
    * 95,649 rows/vec — 3× over-provisioned — so the entry is
    * re-anchored at the measured (16, 61) = 77.7% at 30,614
    * rows/vec, the same margin policy as the 15-plane anchor
    * (12.7 pp vs 13.6 pp). The measured per-step floor rate is NOT
    * monotone (×1.857 at the 14→15 step, ×~0.85 at 15→16 — fixture
    * pair-difficulty geometry moves it), so extrapolation past the
    * last measured anchor keeps the LARGER measured rate
    * (×1.857/plane — conservative: over-provides recall, never
    * under), CLAMPED at the all-flips cap ppb + C(ppb,2) +
    * C(ppb,3) from 22 planes on (at the cap the probe set IS the
    * full Hamming-≤6-per-band reach — the family's ceiling; wider
    * configs than any probed fixture must be frontier-probed before
    * a fixture reaches them, which the sweep's width-probe stage
    * institutionalizes). The adaptive width keeps candidates linear
    * by narrowing buckets as N grows, which COSTS recall on
    * threshold-grazing pairs (q267 measured 13.7% at ppb=8 falling
    * to 4.4% at ppb=10 with no probes); probing the T smallest
    * multi-bit flips of the band key — the buckets a near-threshold
    * neighbor most likely landed in ([[probedBandKeys]]) — buys it
    * back. T > ppb is only meaningful because the probe sequence is
    * MULTI-BIT (1-/2-/3-plane flips: up to ppb + C(ppb,2) + C(ppb,3)
    * candidate keys per band); the single-bit round-13 schedule
    * capped T at ppb and its recall decayed 74%→51%→36% across
    * consecutive width configs, the round-13 verdict's one `weak`.
    * Oracle form (exact integer replay of this function):
    * `CASE WHEN ppb <= 14 THEN 2 * ppb ELSE
    * list_extract([61,61,113,210,391,725,1347,1793,2047,2324],
    * ppb - 14) END` (probed width).
    */
  def probesFor(planesPerBand: Int): Int =
    if (planesPerBand <= 14) 2 * planesPerBand
    else probeGrowthTable(planesPerBand - 15)

  /** T at ppb = 15..24: the MEASURED anchors (15, 61) = 78.6% on the
    * 4×-sf1 fixture (round 15) and (16, 61) = 77.7% on the 8×-sf1
    * fixture (round 16 — the ×1.857-extrapolated 113 measured 3×
    * over-provisioned there, see [[probesFor]]), then growth from the
    * last measured anchor at the larger measured per-step floor rate
    * (round(61 · 1.857^(ppb−16)) — conservative), clamped at the
    * all-flips cap ppb·(ppb²+5)/6 from 22 planes on (1793/2047/2324 —
    * full 3-bit reach). Entries past the probed 16-plane config are
    * extrapolation-with-a-documented-rate, not measurements: the
    * sweep width-probe stage must measure each NEXT config before a
    * real fixture sizes to it.
    */
  private val probeGrowthTable: Array[Int] =
    Array(61, 61, 113, 210, 391, 725, 1347, 1793, 2047, 2324)

  /** Base band key PLUS the T query-directed probe keys per band —
    * the Lv et al. (VLDB'07 §4) MULTI-BIT probe sequence: candidates
    * are every 1-, 2- and (when T ≥ 7) 3-plane flip of the base key,
    * scored by the sum of the flipped planes' exact integer |margins|
    * (|Σ floor(x_i·1e9)·w_pi| — [[bandKeys]]' arithmetic), and the T
    * smallest by (score, mask) win, where mask is the flipped-bit set
    * as an integer (so ties are a strict total order, and on the
    * 1-bit-only subset the order coincides with the round-13
    * single-bit schedule's (|margin|, plane)). A low-score probe key
    * is the bucket a threshold-grazing neighbor most likely landed
    * in; admitting 2-bit flips lets two near-zero margins outrank one
    * large one, which is what makes recall per probe hold as the
    * width schedule grows (the single-bit schedule decayed
    * 74%→51%→36% across consecutive widths).
    *
    * PRUNING invariant (used by both engines): a selected multi-bit
    * flip is strictly preceded in the (score, mask) order by every
    * proper subset flip (score is a sum of nonnegative margins and a
    * subset mask is numerically smaller), so every plane in the final
    * probe set has 1-bit rank ≤ T — candidates need only be generated
    * over the T lowest-(|margin|, plane) planes — and a 3-bit flip
    * (preceded by its 6 proper subsets) can only be selected when
    * T ≥ 7. DETERMINISTIC given the vector; a DuckDB
    * oracle replays the selection with a row_number() OVER (ORDER BY
    * score, mask) CTE over the same pruned candidate union.
    *
    * Layout: flat int array of bands·(1+T) keys, band b's keys at
    * [b·(1+T), (b+1)·(1+T)); a posexplode consumer recovers band =
    * pos / (1+T). All 1+T keys within a band are distinct (distinct
    * nonzero masks); an unusable vector (null element / length
    * mismatch) yields all-zero keys exactly as [[bandKeys]] does.
    */
  def probedBandKeys(a: ArrayData, planesPerBand: Int, probes: Int): ArrayData = {
    val width = probes + 1
    val out = new Array[Int](bands * width)
    val n = a.numElements()
    var usable = n == dim
    var i = 0
    while (usable && i < n) { if (a.isNullAt(i)) usable = false; i += 1 }
    if (usable) {
      val scaled = new Array[Long](dim)
      i = 0
      while (i < dim) { scaled(i) = math.floor(a.getDouble(i) * 1e9).toLong; i += 1 }
      val margins = new Array[Long](planesPerBand)
      val planeUsed = new Array[Boolean](planesPerBand)
      val tp = math.min(probes, planesPerBand)
      val sel = new Array[Int](tp)
      // a 3-bit flip is strictly preceded by its 6 proper subset flips,
      // so one can only be selected when T ≥ 7
      val with3 = probes >= 7
      val nc = tp + tp * (tp - 1) / 2 +
        (if (with3) tp * (tp - 1) * (tp - 2) / 6 else 0)
      val cScore = new Array[Long](nc)
      val cMask = new Array[Int](nc)
      val cUsed = new Array[Boolean](nc)
      val cPacked = new Array[Long](nc)
      var b = 0
      while (b < bands) {
        var key = 0
        var maxMargin = 0L
        var j = 0
        while (j < planesPerBand) {
          val w = weights(b * planesPerBand + j)
          var acc = 0L
          var k = 0
          while (k < dim) { acc += scaled(k) * w(k); k += 1 }
          if (acc >= 0) key |= (1 << j)
          margins(j) = math.abs(acc)
          if (margins(j) > maxMargin) maxMargin = margins(j)
          planeUsed(j) = false
          j += 1
        }
        out(b * width) = key
        // the T lowest-(|margin|, plane) planes by selection —
        // ascending scan with strict < keeps the lower plane on ties
        var t = 0
        while (t < tp) {
          var best = -1
          var j2 = 0
          while (j2 < planesPerBand) {
            if (!planeUsed(j2) && (best < 0 || margins(j2) < margins(best))) best = j2
            j2 += 1
          }
          planeUsed(best) = true
          sel(t) = best
          t += 1
        }
        // candidate flips over the pruned plane set: 1-bit then 2-bit
        var c = 0
        var i1 = 0
        while (i1 < tp) {
          cScore(c) = margins(sel(i1)); cMask(c) = 1 << sel(i1)
          c += 1; i1 += 1
        }
        i1 = 0
        while (i1 < tp) {
          var i2 = i1 + 1
          while (i2 < tp) {
            cScore(c) = margins(sel(i1)) + margins(sel(i2))
            cMask(c) = (1 << sel(i1)) | (1 << sel(i2))
            c += 1; i2 += 1
          }
          i1 += 1
        }
        if (with3) {
          i1 = 0
          while (i1 < tp) {
            var i2 = i1 + 1
            while (i2 < tp) {
              var i3 = i2 + 1
              while (i3 < tp) {
                cScore(c) = margins(sel(i1)) + margins(sel(i2)) + margins(sel(i3))
                cMask(c) = (1 << sel(i1)) | (1 << sel(i2)) | (1 << sel(i3))
                c += 1; i3 += 1
              }
              i2 += 1
            }
            i1 += 1
          }
        }
        // T smallest candidates by (score, mask). The former
        // T-pass selection was O(T·nc) per band — at the growth-table
        // widths (15 planes/T=61: 61·575 ≈ 35k compares per band; 24
        // planes/T=2324: 5.4M) it dominated the whole key expression
        // (round-16 profile). Pack (score, mask) into one long —
        // score in the high bits, mask (< 2^25, ppb ≤ 24) in the low
        // — so ONE primitive Arrays.sort gives the exact (score,
        // mask) ascending order in O(nc log nc). Margins of
        // unit-scale embeddings are ≤ 64e9, so 3-flip scores fit 2^38
        // comfortably; a pathological input past 2^38 falls back to
        // the original selection loop (same order, never wrong).
        // the 25-bit mask shift silently requires masks < 2^25, i.e.
        // planesPerBand <= 25; guard it here (not only via
        // maxPlanesPerBand = 24) so raising the width cap cannot
        // corrupt the packed probe order — a wider band falls back to
        // the exact selection loop below
        val packable = planesPerBand <= 25 &&
          maxMargin <= ((1L << 38) / 3 - 1)
        if (packable) {
          var j2 = 0
          while (j2 < nc) {
            cPacked(j2) = (cScore(j2) << 25) | cMask(j2).toLong
            j2 += 1
          }
          java.util.Arrays.sort(cPacked, 0, nc)
          t = 0
          while (t < probes) {
            out(b * width + 1 + t) = key ^ (cPacked(t) & 0x1ffffffL).toInt
            t += 1
          }
        } else {
          java.util.Arrays.fill(cUsed, 0, nc, false)
          t = 0
          while (t < probes) {
            var best = -1
            var j2 = 0
            while (j2 < nc) {
              if (!cUsed(j2) && (best < 0 || cScore(j2) < cScore(best) ||
                  (cScore(j2) == cScore(best) && cMask(j2) < cMask(best)))) best = j2
              j2 += 1
            }
            cUsed(best) = true
            out(b * width + 1 + t) = key ^ cMask(best)
            t += 1
          }
        }
        b += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def probedBandKeysCol(a: Column, planesPerBand: Int, probes: Int): Column =
    GraftShim.column(RhProbedBandKeys(GraftShim.expression(a), planesPerBand, probes))
}

/** Band-key array (one int key per LSH band) for a vector column;
  * `planesPerBand` parameterizes the band width (a plan-time constant
  * derived from the corpus count via [[RhOps.planesFor]], baked into
  * the generated code — it is NOT per-row data).
  */
case class RhBandKeys(
    child: Expression,
    planesPerBand: Int = RhOps.minPlanesPerBand) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  require(planesPerBand >= 1 && planesPerBand <= RhOps.maxPlanesPerBand,
    s"rh_band_keys: planesPerBand must be in [1, ${RhOps.maxPlanesPerBand}], got $planesPerBand")
  // a SQL literal like array(0.5, ...) parses as array<decimal>; the
  // implicit cast normalizes any numeric array to the double domain
  // the plane arithmetic is defined over
  override def inputTypes: Seq[DataType] =
    Seq(org.apache.spark.sql.types.ArrayType(DoubleType))
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "rh_band_keys"

  override protected def nullSafeEval(input: Any): Any =
    RhOps.bandKeys(input.asInstanceOf[ArrayData], planesPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RhOps.bandKeys($c, $planesPerBand)")

  override protected def withNewChildInternal(newChild: Expression): RhBandKeys =
    copy(child = newChild)
}

/** Multi-probe band-key array: per band, the base key plus the
  * `probes` query-directed probe keys (1- and 2-plane flips ranked by
  * ascending flipped-|margin| sum — [[RhOps.probedBandKeys]]). Both
  * width parameters are plan-time constants derived from the corpus
  * count ([[RhOps.planesFor]] / [[RhOps.probesFor]]), baked into
  * codegen.
  */
case class RhProbedBandKeys(
    child: Expression,
    planesPerBand: Int,
    probes: Int) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  require(planesPerBand >= 1 && planesPerBand <= RhOps.maxPlanesPerBand,
    s"rh_probed_band_keys: planesPerBand must be in [1, ${RhOps.maxPlanesPerBand}], got $planesPerBand")
  override def inputTypes: Seq[DataType] =
    Seq(org.apache.spark.sql.types.ArrayType(DoubleType))
  require(probes >= 0 && probes <= planesPerBand * (planesPerBand * planesPerBand + 5) / 6,
    s"rh_probed_band_keys: probes must be in [0, ppb + C(ppb,2) + C(ppb,3) = " +
      s"${planesPerBand * (planesPerBand * planesPerBand + 5) / 6}], got $probes")
  // The selection loop in RhOps.probedBandKeys runs `t < probes` over
  // the nc candidates generated from the tp = min(probes, ppb) pruned
  // planes (with the 3-bit arm gated on probes >= 7). The cap above
  // happens to bound probes by worst-case nc for every (probes, ppb)
  // pair; this require states the invariant DIRECTLY so a future edit
  // to the cap or the with3 gate fails loudly at construction instead
  // of leaving best = -1 at runtime.
  require(probes <= {
    val tp = math.min(probes, planesPerBand)
    tp + tp * (tp - 1) / 2 +
      (if (probes >= 7) tp * (tp - 1) * (tp - 2) / 6 else 0)
  }, s"rh_probed_band_keys: probes ($probes) exceeds the generated candidate " +
    s"count for planesPerBand=$planesPerBand — selection would underflow")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "rh_probed_band_keys"

  override protected def nullSafeEval(input: Any): Any =
    RhOps.probedBandKeys(input.asInstanceOf[ArrayData], planesPerBand, probes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.RhOps.probedBandKeys($c, $planesPerBand, $probes)")

  override protected def withNewChildInternal(newChild: Expression): RhProbedBandKeys =
    copy(child = newChild)
}

/** dot(a, b) over array<double> columns. */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  override def eval(input: InternalRow): Any = {
    val l = left.eval(input)
    val r = right.eval(input)
    if (l == null || r == null) null
    else VecOps.dotBoxed(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lg = left.genCode(ctx)
    val rg = right.genCode(ctx)
    val boxed = ctx.freshName("dotRes")
    ev.copy(code = code"""
      ${lg.code}
      ${rg.code}
      boolean ${ev.isNull} = true;
      double ${ev.value} = 0.0;
      if (!${lg.isNull} && !${rg.isNull}) {
        java.lang.Double $boxed =
          graft.functions.VecOps.dotBoxed(${lg.value}, ${rg.value});
        if ($boxed != null) { ${ev.isNull} = false; ${ev.value} = $boxed.doubleValue(); }
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Driver-built IVF codebook: the coarse-centroid matrix, shipped to
  * executors inside the serialized plan (for codebooks past ~tens of
  * MB a `SparkContext.broadcast` handle would replace the plain field
  * — same expression shape). Norms and validity are precomputed once.
  */
final class IvfCodebook(
    val cids: Array[Long],
    val vecs: Array[Array[Double]],
    val valid: Array[Boolean]) extends Serializable {
  val norms: Array[Double] = Array.tabulate(vecs.length) { c =>
    if (!valid(c)) 0.0
    else { var a = 0.0; var i = 0; val v = vecs(c)
           while (i < v.length) { a += v(i) * v(i); i += 1 }; a }
  }
}

/** Map-side nearest-centroid assignment for IVF.
  *
  * Exact semantics of the join+window formulation it replaces
  * (`row_number over (partition by vec_id order by cs desc, cid)`):
  * cosine rounded to 6 decimals via Spark's `round` double path
  * (pass NaN/Inf through, else BigDecimal HALF_UP), descending-NaN-
  * first comparison via `java.lang.Double.compare`, ties broken by
  * smallest centroid id (cids are kept ascending; strict `>` keeps
  * the first winner). A vector whose cosine is null against every
  * centroid (null element / length mismatch / zero-norm divisor —
  * Spark's Divide yields null on /0, so a zero-norm vector or
  * centroid never wins) falls back to the smallest cid, exactly as
  * the all-null window ordering did.
  */
object IvfOps {
  private def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else scala.math.BigDecimal(x)
      .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble

  def nearest(v: ArrayData, cb: IvfCodebook): java.lang.Long = {
    if (cb.cids.isEmpty) return null
    val n = v.numElements()
    var vOk = true
    var i = 0
    while (vOk && i < n) { if (v.isNullAt(i)) vOk = false; i += 1 }
    var nv = 0.0
    if (vOk) {
      i = 0
      while (i < n) { val x = v.getDouble(i); nv += x * x; i += 1 }
    }
    var hasBest = false
    var bestCs = 0.0
    var bestCid = cb.cids(0)
    var c = 0
    while (c < cb.cids.length) {
      if (vOk && nv != 0.0 && cb.valid(c) && cb.norms(c) != 0.0 &&
          cb.vecs(c).length == n) {
        val cv = cb.vecs(c)
        var d = 0.0
        i = 0
        while (i < n) { d += v.getDouble(i) * cv(i); i += 1 }
        val cs = round6(d / math.sqrt(nv * cb.norms(c)))
        if (!hasBest || java.lang.Double.compare(cs, bestCs) > 0) {
          hasBest = true; bestCs = cs; bestCid = cb.cids(c)
        }
      }
      c += 1
    }
    bestCid
  }

  def nearestCol(v: Column, cb: IvfCodebook): Column =
    GraftShim.column(NearestCentroid(GraftShim.expression(v), cb))

  /** Top-2 centroid similarities in ONE map-side pass: the winning
    * cell plus the best and second-best rounded cosines, i.e. exactly
    * the rn=1 and rn=2 rows of `row_number over (partition by vec_id
    * order by cs desc, cid)` — the inputs a cluster-quality audit
    * (simplified silhouette: own-centroid vs nearest-other distance)
    * needs WITHOUT materializing the N×C similarity table that the
    * window formulation shuffles. Tie and degenerate-input rules are
    * [[nearest]]'s: candidates scan cid-ascending with strict-`>`
    * promotion (equal cosines keep the smaller cid at each rank);
    * all-cosines-null falls back to the smallest cid with null
    * similarities; an empty codebook yields a null struct.
    */
  def top2(v: ArrayData, cb: IvfCodebook): InternalRow = {
    if (cb.cids.isEmpty) return null
    val n = v.numElements()
    var vOk = true
    var i = 0
    while (vOk && i < n) { if (v.isNullAt(i)) vOk = false; i += 1 }
    var nv = 0.0
    if (vOk) {
      i = 0
      while (i < n) { val x = v.getDouble(i); nv += x * x; i += 1 }
    }
    var has1 = false; var cs1 = 0.0; var cid1 = cb.cids(0)
    var has2 = false; var cs2 = 0.0; var cid2 = 0L
    var c = 0
    while (c < cb.cids.length) {
      if (vOk && nv != 0.0 && cb.valid(c) && cb.norms(c) != 0.0 &&
          cb.vecs(c).length == n) {
        val cv = cb.vecs(c)
        var d = 0.0
        i = 0
        while (i < n) { d += v.getDouble(i) * cv(i); i += 1 }
        val cs = round6(d / math.sqrt(nv * cb.norms(c)))
        if (!has1 || java.lang.Double.compare(cs, cs1) > 0) {
          if (has1) { has2 = true; cs2 = cs1; cid2 = cid1 }
          has1 = true; cs1 = cs; cid1 = cb.cids(c)
        } else if (!has2 || java.lang.Double.compare(cs, cs2) > 0) {
          has2 = true; cs2 = cs; cid2 = cb.cids(c)
        }
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](cid1,
        if (has1) java.lang.Double.valueOf(cs1) else null,
        if (has2) java.lang.Double.valueOf(cs2) else null))
  }

  def top2Col(v: Column, cb: IvfCodebook): Column =
    GraftShim.column(CentroidTop2(GraftShim.expression(v), cb))
}

/** `nearest_centroid(v)` against a plan-bound codebook. */
case class NearestCentroid(child: Expression, codebook: IvfCodebook)
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroid"

  override protected def nullSafeEval(input: Any): Any =
    IvfOps.nearest(input.asInstanceOf[ArrayData], codebook)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("ivfCodebook", codebook,
      classOf[IvfCodebook].getName)
    val cg = child.genCode(ctx)
    val boxed = ctx.freshName("nearRes")
    ev.copy(code = code"""
      ${cg.code}
      boolean ${ev.isNull} = true;
      long ${ev.value} = 0L;
      if (!${cg.isNull}) {
        java.lang.Long $boxed =
          graft.functions.IvfOps.nearest(${cg.value}, $cb);
        if ($boxed != null) { ${ev.isNull} = false; ${ev.value} = $boxed.longValue(); }
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

/** `centroid_top2(v)` against a plan-bound codebook: struct(cell,
  * cs1, cs2) — see [[IvfOps.top2]]. Codegen calls the same static
  * helper (the row is a boxed struct either way, so the win is the
  * single fused pass over the codebook, not primitive unboxing).
  */
case class CentroidTop2(child: Expression, codebook: IvfCodebook)
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("cell",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("cs1", DoubleType),
    org.apache.spark.sql.types.StructField("cs2", DoubleType)))
  override def nullable: Boolean = true
  override def prettyName: String = "centroid_top2"

  override protected def nullSafeEval(input: Any): Any =
    IvfOps.top2(input.asInstanceOf[ArrayData], codebook)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("ivfCodebook", codebook,
      classOf[IvfCodebook].getName)
    val cg = child.genCode(ctx)
    val res = ctx.freshName("top2Res")
    ev.copy(code = code"""
      ${cg.code}
      boolean ${ev.isNull} = true;
      InternalRow ${ev.value} = null;
      if (!${cg.isNull}) {
        InternalRow $res = graft.functions.IvfOps.top2(${cg.value}, $cb);
        if ($res != null) { ${ev.isNull} = false; ${ev.value} = $res; }
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): CentroidTop2 =
    copy(child = newChild)
}

/** sum(x^2) over an array<double> column. */
case class SquaredNorm(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_norm2"

  override def eval(input: InternalRow): Any = {
    val c = child.eval(input)
    if (c == null) null else VecOps.norm2Boxed(c.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cg = child.genCode(ctx)
    val boxed = ctx.freshName("n2Res")
    ev.copy(code = code"""
      ${cg.code}
      boolean ${ev.isNull} = true;
      double ${ev.value} = 0.0;
      if (!${cg.isNull}) {
        java.lang.Double $boxed =
          graft.functions.VecOps.norm2Boxed(${cg.value});
        if ($boxed != null) { ${ev.isNull} = false; ${ev.value} = $boxed.doubleValue(); }
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): SquaredNorm =
    copy(child = newChild)
}

/** Driver-built integer codebook for k-means-trained IVF: quantized
  * (floor(x*1e6)) centroid vectors, summation-order-proof by
  * construction — every engine computing the same integer arithmetic
  * gets the same bits, so Lloyd iterations stay oracle-checkable.
  * Shipped to executors inside the serialized plan like [[IvfCodebook]].
  */
final class LongCodebook(
    val cids: Array[Long],
    val vecs: Array[Array[Long]]) extends Serializable

/** Map-side nearest-centroid assignment by exact integer squared-L2
  * distance over quantized vectors — the k-means assignment step.
  *
  * Argmin with ties broken by the smallest centroid id (cids are kept
  * ascending; strict `<` keeps the first winner) — identical to
  * `row_number over (partition by vec_id order by d2, cid)`. A vector
  * that is null, or comparable with no centroid (length mismatch),
  * yields null / the smallest cid respectively, mirroring
  * [[NearestCentroid]]'s degenerate-input contract.
  */
object KmeansOps {
  def nearestL2(v: ArrayData, cb: LongCodebook): java.lang.Long = {
    if (cb.cids.isEmpty) return null
    val n = v.numElements()
    var vOk = true
    var i = 0
    while (vOk && i < n) { if (v.isNullAt(i)) vOk = false; i += 1 }
    var hasBest = false
    var bestD2 = 0L
    var bestCid = cb.cids(0)
    var c = 0
    while (c < cb.cids.length) {
      val cv = cb.vecs(c)
      if (vOk && cv.length == n) {
        var d2 = 0L
        i = 0
        while (i < n) {
          val d = v.getLong(i) - cv(i)
          d2 += d * d
          i += 1
        }
        if (!hasBest || d2 < bestD2) {
          hasBest = true; bestD2 = d2; bestCid = cb.cids(c)
        }
      }
      c += 1
    }
    bestCid
  }

  def nearestL2Col(v: Column, cb: LongCodebook): Column =
    GraftShim.column(NearestCentroidL2(GraftShim.expression(v), cb))
}

/** `nearest_centroid_l2(q)` against a plan-bound quantized codebook. */
case class NearestCentroidL2(child: Expression, codebook: LongCodebook)
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroid_l2"

  override protected def nullSafeEval(input: Any): Any =
    KmeansOps.nearestL2(input.asInstanceOf[ArrayData], codebook)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("longCodebook", codebook,
      classOf[LongCodebook].getName)
    val cg = child.genCode(ctx)
    val boxed = ctx.freshName("nearL2Res")
    ev.copy(code = code"""
      ${cg.code}
      boolean ${ev.isNull} = true;
      long ${ev.value} = 0L;
      if (!${cg.isNull}) {
        java.lang.Long $boxed =
          graft.functions.KmeansOps.nearestL2(${cg.value}, $cb);
        if ($boxed != null) { ${ev.isNull} = false; ${ev.value} = $boxed.longValue(); }
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidL2 =
    copy(child = newChild)
}
