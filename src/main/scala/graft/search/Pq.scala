package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{KmeansOps, LongCodebook}

/** Product quantization with asymmetric-distance (ADC) scan — the
  * memory-compression rung of the ANN ladder beside [[Ivf]] (cell
  * pruning) and [[IvfKmeans]] (codebook training): vectors are encoded
  * as M sub-centroid codes (one per D/M-dim subspace), the query
  * precomputes its exact distance to every sub-centroid (an M×K lookup
  * table riding the plan), and each row's distance estimate is M table
  * lookups over its codes — the scan never touches raw vectors.
  *
  * Determinism contract (shared with [[IvfKmeans]]): vectors quantize
  * to integers (`floor(x·1e6)`), all distances are exact integer
  * squared-L2, assignment ties break to the smallest centroid id — so
  * a SQL oracle replays encode + LUT + scan bit-for-bit.
  *
  * For codebook members the estimate is EXACT (each subspace encodes
  * to the member's own sub-centroid at distance 0 when subvectors are
  * distinct), which PqSpec pins — the standard sanity anchor for an
  * ADC implementation.
  */
object Pq {

  /** Driver-side PQ model: sub-codebooks from [[Ivf.sample]] (the IVF
    * centroid sample) over M subspaces of `sub` dims each.
    */
  final case class Model(
      cids: Array[Long], full: Array[Array[Long]], m: Int, sub: Int) {
    def subvec(v: Array[Long], i: Int): Array[Long] =
      v.slice(i * sub, (i + 1) * sub)
  }

  /** Sub-codebook cardinality cap — same by-construction bound as
    * [[Ivf.MaxCentroids]]: the fetch is a TakeOrdered of cap+1 rows
    * and overflow fails loudly with the knob to turn.
    */
  val MaxCentroids: Int = Ivf.MaxCentroids

  def model(quantized: DataFrame, centroidMod: Int, m: Int,
      cap: Int = MaxCentroids): Model = {
    val seeds = Ivf.fetchSample(quantized, centroidMod, cap, "PQ")
    val cids = seeds.map(_.getLong(0))
    val full = seeds.map(_.getSeq[Long](1).toArray)
    val dims = full.headOption.map(_.length).getOrElse(0)
    Model(cids, full, m, dims / m)
  }

  private def d2(a: Array[Long], b: Array[Long]): Long = {
    var acc = 0L; var i = 0
    while (i < a.length) { val dd = a(i) - b(i); acc += dd * dd; i += 1 }
    acc
  }

  /** One codegen'd argmin projection per subspace over the quantized
    * vector column `q` — the encode step, map-side by construction.
    */
  def encodeCols(mdl: Model): Seq[Column] =
    (0 until mdl.m).map { i =>
      val cb = new LongCodebook(mdl.cids, mdl.full.map(mdl.subvec(_, i)))
      KmeansOps.nearestL2Col(slice(col("q"), i * mdl.sub + 1, mdl.sub), cb)
        .as(s"c$i")
    }

  /** ADC estimate for query vector `qv` over code columns c0..c{M-1}:
    * the per-subspace LUTs ride the plan as map literals.
    */
  def adcCol(mdl: Model, qv: Array[Long]): Column =
    (0 until mdl.m).map { i =>
      val lut = mdl.cids.zip(mdl.full).map { case (cid, v) =>
        cid -> d2(mdl.subvec(qv, i), mdl.subvec(v, i))
      }.toMap
      element_at(typedLit(lut), col(s"c$i"))
    }.reduceLeft(_ + _)

  /** Top-k by ADC distance for `queryId` (excluded from results). */
  def search(e: DataFrame, queryId: Long, centroidMod: Int, m: Int,
      k: Int): DataFrame =
    adcTopK(e, queryId, centroidMod, m, k)(identity)

  /** IVF-PQ: [[Ivf]]'s coarse cell pruning composed with the ADC
    * ranking — the composition a production vector index actually
    * ships. The candidates are [[Ivf.search]]'s (one map-side
    * projection computes each vector's cell and keeps the probed
    * cells; no join or exchange on the N-row side), and only their
    * quantized CODES continue to the ADC top-k.
    */
  def searchIvf(e: DataFrame, queryId: Long, centroidMod: Int,
      nprobe: Int, m: Int, k: Int): DataFrame =
    adcTopK(e, queryId, centroidMod, m, k)(_ =>
      Ivf.candidates(e, Ivf.query(e, queryId), centroidMod, nprobe)
        .select(col("vec_id"), IvfKmeans.quantized(col("v")).as("q")))

  /** Both searches' ADC top-k over the (vec_id, q) rows that `rows`
    * picks from the quantized corpus. */
  private def adcTopK(e: DataFrame, queryId: Long, centroidMod: Int, m: Int,
      k: Int)(rows: DataFrame => DataFrame): DataFrame = {
    val q = IvfKmeans.quantize(e)
    val mdl = model(q, centroidMod, m)
    val qv = q.filter(col("vec_id") === queryId).head().getSeq[Long](1).toArray
    rows(q).filter(col("vec_id") =!= queryId)
      .select((col("vec_id") +: encodeCols(mdl)): _*)
      .select(col("vec_id"), adcCol(mdl, qv).as("adc_d2"))
      .orderBy(col("adc_d2"), col("vec_id"))
      .limit(k)
  }
}
