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

  /** Driver-side PQ model: sampled sub-codebooks (`vec_id % centroidMod
    * == 1`, the [[Ivf]] seam) over M subspaces of `sub` dims each.
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
    val seeds = quantized.filter(col("vec_id") % centroidMod === 1)
      .orderBy(col("vec_id")).limit(cap + 1).collect()
    require(seeds.length <= cap,
      s"PQ codebook exceeds the $cap-centroid cap: raise centroidMod " +
        "so the sample stays ~sqrt(N)")
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
      k: Int): DataFrame = {
    val q = IvfKmeans.quantize(e)
    val mdl = model(q, centroidMod, m)
    val qv = q.filter(col("vec_id") === queryId).head().getSeq[Long](1).toArray
    q.select((col("vec_id") +: encodeCols(mdl)): _*)
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), adcCol(mdl, qv).as("adc_d2"))
      .orderBy(col("adc_d2"), col("vec_id"))
      .limit(k)
  }

  /** IVF-PQ: [[Ivf]]'s coarse cell pruning composed with the ADC
    * ranking — the composition a production vector index actually
    * ships. Cell assignment, integer quantization, and the M subspace
    * codes are all computed in ONE map-side projection pass over the
    * corpus (no join, no exchange on the N-row side — codebooks ride
    * the plan); the nprobe probed cells arrive as a broadcast, so only
    * their CODES continue to the ADC top-k. At cluster scale the
    * encoded table is persisted bucketed by cell and the probe join
    * becomes partition pruning. Probing reuses [[Ivf.search]]'s exact
    * semantics (cosine-nearest sampled centroids, rounded 6dp, ties to
    * the smallest cid).
    */
  def searchIvf(e: DataFrame, queryId: Long, centroidMod: Int,
      nprobe: Int, m: Int, k: Int): DataFrame = {
    import graft.functions.Portable.{cos6, toDouble}
    val vecs = e.select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val cents = vecs.filter(col("vec_id") % centroidMod === 1)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val qvd = vecs.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    val probes = cents.crossJoin(broadcast(qvd))
      .select(col("cid"), cos6(col("qv"), col("cv")).as("cs"))
      .orderBy(col("cs").desc, col("cid"))
      .limit(nprobe)
      .select(col("cid").as("cell"))

    val q = IvfKmeans.quantize(e)
    val mdl = model(q, centroidMod, m)
    val cb = Ivf.codebook(e, centroidMod)
    val qv = q.filter(col("vec_id") === queryId).head().getSeq[Long](1).toArray
    // one pass: cell + quantized vector + M codes, all map-side
    val encoded = e
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .select(col("vec_id"),
        graft.functions.IvfOps.nearestCol(col("v"), cb).as("cell"),
        transform(col("v"), x => floor(x * lit(1e6)).cast("long")).as("q"))
      .filter(col("cell").isNotNull)
      .select((col("vec_id") +: col("cell") +: encodeCols(mdl)): _*)
    encoded
      .join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), adcCol(mdl, qv).as("adc_d2"))
      .orderBy(col("adc_d2"), col("vec_id"))
      .limit(k)
  }
}
