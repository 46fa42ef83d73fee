package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{KmeansOps, LongCodebook}
import graft.functions.Portable.toDouble

/** k-means (Lloyd) training of the IVF coarse codebook — the real
  * "train" step behind [[Ivf]]'s sampled-centroid shortcut (the
  * reference builds its Annoy forest offline the same way:
  * PICO_search.py:28-38 build vs 70-86 query).
  *
  * Distributed shape per Lloyd iteration — the textbook scalable
  * k-means loop:
  *  1. centroids (K ≈ √N rows, a few MB at 100 TB) ride the plan as a
  *     [[LongCodebook]]; assignment is ONE codegen'd argmin projection
  *     per row ([[graft.functions.NearestCentroidL2]]) — no join, no
  *     shuffle of the N-row side;
  *  2. the update shuffles only map-side partial sums: posexplode to
  *     (cell, dim, q) partially aggregates to K×D rows per task before
  *     the single exchange.
  * Driver holds K×D longs between iterations; N-row data never leaves
  * its partitions.
  *
  * Cross-engine determinism (what makes Lloyd oracle-checkable in
  * DuckDB): vectors are quantized once to integers
  * (`floor(x * 1e6)` per dim — exact in IEEE double for |x| < 1e3),
  * distances are exact integer squared-L2 with ties broken by the
  * smallest centroid id, and the centroid update is
  * `floor(sum / count)` with the division done in double (exact here:
  * |sum| < 2^52). No floating-point summation order anywhere.
  *
  * Empty cells keep their previous centroid (documented k-means
  * convention; the oracle mirrors it with a LEFT JOIN + COALESCE).
  */
object IvfKmeans {

  /** Quantized vectors: (vec_id, q array<long>). */
  def quantize(e: DataFrame): DataFrame =
    e.select(col("vec_id"), quantized(toDouble(col("embedding"))).as("q"))

  /** An array<double> column quantized to integers, `floor(x * 1e6)`. */
  private[search] def quantized(v: Column): Column =
    transform(v, x => floor(x * lit(1e6)).cast("long"))

  /** Production-shaped build parameters for [[train]]: K ≈ √N (the
    * [[Ivf.adaptiveMod]] clamp, 16..4096) and a TRAIN SAMPLE bounded
    * at ~32·K vectors — per-iteration cost O(32·K²·D) regardless of N,
    * where full-N Lloyd pays O(N·K·D) passes a sampled trainer never
    * needs (standard IVF practice: train on a bounded sample, assign
    * the full corpus once with the frozen codebook — the [[Ivf]]
    * serving seam). Returns (seedMod, sampleMod): seeds are the
    * [[Ivf.sample]] at seedMod (≈K of them), the train set is
    * vec_id % sampleMod == 0 (≈32·K rows).
    */
  def adaptiveParams(n: Long): (Long, Long) = {
    val k = math.min(4096L, math.max(16L, math.sqrt(n.toDouble).toLong))
    (math.max(1L, n / k), math.max(1L, n / (32L * k)))
  }

  /** `iters` Lloyd iterations from sampled seeds
    * ([[Ivf.sample]] at centroidMod, at most `maxK` of them — the codebook
    * size is CAPPED, as in any real IVF build: per-iteration cost is
    * O(S·K·D) and K must stay ~√N / fixed, not grow with the corpus).
    * With `sampleMod` > 1 the assignment/update loop runs over the
    * BOUNDED TRAIN SAMPLE vec_id % sampleMod == 0 (S ≈ N/sampleMod
    * rows — pair with [[adaptiveParams]] for the ~32·K production
    * shape); seeds are drawn from the full id domain independently of
    * the sample.
    * Returns (cell, dim, cval, n_members): the final centroid matrix
    * and each cell's member count — over the train sample — under the
    * assignment that produced it (an empty cell keeps its
    * seed/previous centroid and reports 0 members).
    */
  def train(e: DataFrame, centroidMod: Long, iters: Int,
      maxK: Int = Int.MaxValue, sampleMod: Long = 1L): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val qAll = quantize(e)
    val q =
      if (sampleMod > 1L) qAll.filter(col("vec_id") % sampleMod === 0)
      else qAll

    // seeds, ascending by vec_id so the argmin tie-break is the
    // smallest centroid id; the id bound keeps the seed predicate a
    // pure scan filter (oracle-mirrorable), no limit needed: the
    // first maxK sampled ids (ids are non-negative) lie below
    // centroidMod·maxK + 1 % centroidMod — 1, mod+1, … for mod >= 2,
    // and 0, 1, … for mod 1.
    // centroidMod is Long end-to-end: adaptiveParams' seedMod is
    // N/K, and truncating it through Int past N > K·2^31 would
    // silently diverge the Spark seed set from the oracle's
    // prm-derived seedmod (a wrong answer, not an error). Saturate
    // the bound instead of overflowing it.
    val seedBound = {
      val p = BigInt(centroidMod) * maxK + 1L % centroidMod
      if (p > Long.MaxValue) Long.MaxValue else p.toLong
    }
    val seeds = Ivf.sample(qAll, centroidMod)
      .filter(col("vec_id") < seedBound)
      .orderBy(col("vec_id"))
      .collect()
    var cids = seeds.map(_.getLong(0))
    var vecs = seeds.map(_.getSeq[Long](1).toArray)
    var counts = Array.fill(cids.length)(0L)

    for (_ <- 0 until iters) {
      val cb = new LongCodebook(cids, vecs)
      // argmin FIRST, in its own projection BELOW the explode: a mixed
      // select(expr, posexplode(...)) puts non-generator expressions in
      // the Project ABOVE the Generate, re-evaluating the K·D argmin
      // once per exploded row (D× overcompute — measured 2.7s → 0.7s
      // at sf0.1 for this one move)
      val withCell = q.select(col("q"),
        KmeansOps.nearestL2Col(col("q"), cb).as("cell"))
      val assigned = withCell
        .select(col("cell"), posexplode(col("q")))
        .select(col("cell"), col("pos").as("dim"), col("col"))
      val upd = assigned
        .groupBy("cell", "dim")
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
        .select(col("cell"), col("dim"),
          floor(col("s").cast("double") / col("n")).cast("long").as("c"),
          col("n"))
        .collect()
      val byCell = upd.groupBy(_.getLong(0))
      val newVecs = Array.tabulate(cids.length) { i =>
        byCell.get(cids(i)) match {
          case Some(rows) =>
            val v = vecs(i).clone()
            rows.foreach(r => v(r.getInt(1)) = r.getLong(2))
            v
          case None => vecs(i) // empty cell: keep previous centroid
        }
      }
      counts = Array.tabulate(cids.length)(i =>
        byCell.get(cids(i)).map(_.head.getLong(3)).getOrElse(0L))
      vecs = newVecs
    }

    cids.indices
      .flatMap(i => vecs(i).indices.map(dim =>
        (cids(i), dim, vecs(i)(dim), counts(i))))
      .toDF("cell", "dim", "cval", "n_members")
  }

  /** Final assignment column against a trained codebook (for probing /
    * bucketed persistence, same consumer seam as [[Ivf.assignments]]).
    */
  def assign(q: DataFrame, cids: Array[Long], vecs: Array[Array[Long]]): Column =
    KmeansOps.nearestL2Col(col("q"), new LongCodebook(cids, vecs))
}
