package graft.search

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{IvfCodebook, IvfOps}
import graft.functions.Portable.{cos6, toDouble}

/** IVF (inverted-file) approximate nearest neighbor search — the
  * scale path beside the exact brute-force baseline (q26), standing in
  * for the reference's Annoy index (PICO_search.py:28-86).
  *
  * Training-free deterministic flavor: coarse centroids are a fixed
  * sample of the corpus (`vec_id % centroidMod == 1`), collected once
  * into a driver-side codebook (C ≈ √N rows — the IVF "train" step);
  * every vector is assigned to its nearest centroid map-side by one
  * codegen'd argmax pass (`NearestCentroid`) — a pure projection with
  * no join and no exchange; a query probes its `nprobe` nearest cells
  * and reranks only those cells' vectors exactly.
  *
  * Scale shape: the expensive side (N vectors) never shuffles for
  * assignment. Each request assigns all N vectors again: no cell is
  * stored, so probing cannot prune to the probed cells' vectors
  * (ROADMAP direction 1 stores the cell at merge time).
  *
  * Plan/oracle determinism: similarities are rounded to 6 decimals and
  * tie-broken by centroid id before the argmax, so assignment is
  * reproducible across engines.
  */
object Ivf {

  /** Hard codebook-cardinality cap: C ≈ √N only holds if the caller
    * scales `centroidMod` with N, so the bound is enforced BY
    * CONSTRUCTION here (the q77 IvfKmeans K-cap pattern): the fetch is
    * a distributed TakeOrdered of at most MaxCentroids+1 rows — never
    * an unbounded collect — and overflow fails loudly with the knob to
    * turn. 2^16 centroids × ~768 doubles ≈ 400 MB worst case; real
    * embedding dims at that C keep it tens of MB.
    */
  val MaxCentroids: Int = 1 << 16

  /** Canonical IVF codebook sizing, C ≈ √N (clamped to [16, 4096]),
    * expressed as the sampling modulus `floor(N / C)` so the existing
    * mod-sampling machinery is untouched. A FIXED modulus makes the
    * centroid count — and with it the N×C assignment cost — grow
    * linearly with the corpus (quadratic total: the round-9 sf1 sweep
    * measured q47/q89/q97 at 20–28× for 10× data); sizing C at √N is
    * the standard IVF train-step guidance and keeps the build at
    * N^1.5 until the 4096-cell cap turns it linear. Every long here is
    * non-negative and `math.sqrt` is the same IEEE-754 op both
    * engines run, so a DuckDB oracle replays the modulus exactly as
    * `greatest(1, N // least(4096, greatest(16, CAST(floor(sqrt(N))
    * AS BIGINT))))` over the same table.
    */
  def adaptiveMod(n: Long): Int = {
    val c = math.min(4096L, math.max(16L, math.sqrt(n.toDouble).toLong))
    math.max(1L, n / c).toInt
  }

  /** Coarse codebook: the sampled centroids, collected once on the
    * driver (C ≈ √N rows — the standard IVF train step; a 100 TB
    * corpus still has a codebook of a few tens of MB). Kept ascending
    * by cid so the expression's strict-`>` argmax breaks ties on the
    * smallest id, matching the old window's `order by cs desc, cid`.
    * Cardinality is capped by construction (see [[MaxCentroids]]).
    */
  def codebook(e: DataFrame, centroidMod: Int,
      cap: Int = MaxCentroids): IvfCodebook = {
    // `1 % mod` (not the literal 1) so mod=1 — a corpus smaller than
    // the minimum cell count, every vector its own centroid — selects
    // everything instead of nothing; identical for every mod >= 2.
    val rows = e.filter(col("vec_id") % centroidMod === lit(1L % centroidMod))
      .select(col("vec_id"), toDouble(col("embedding")).as("cv"))
      .orderBy(col("vec_id"))
      .limit(cap + 1)
      .collect()
    require(rows.length <= cap,
      s"IVF codebook exceeds the $cap-centroid cap: raise centroidMod " +
        "so the sample stays ~sqrt(N)")
    val cids = rows.map(_.getLong(0))
    val raw = rows.map(r => if (r.isNullAt(1)) null else r.getSeq[Any](1))
    val valid = raw.map(s => s != null && s.forall(_ != null))
    val vecs = raw.zip(valid).map { case (s, ok) =>
      if (ok) s.map(_.asInstanceOf[Double]).toArray else Array.empty[Double]
    }
    new IvfCodebook(cids, vecs, valid)
  }

  /** (vec_id, cell) assignment: nearest sampled centroid, computed
    * map-side in one codegen'd pass per row against the plan-bound
    * codebook — a pure projection, no join, no exchange. (Replaces a
    * broadcast-join producing N×C rows + a row_number window that
    * shuffled them — N^1.5 bytes at C≈√N.)
    *
    * Degenerate-input parity with the replaced join+window: a NULL
    * cell (empty codebook, or a NULL embedding) is filtered out, so an
    * empty codebook yields zero assignment rows exactly as the inner
    * join did. A vector whose cosine is null/undefined against every
    * centroid (zero norm, length mismatch) falls back to the smallest
    * sampled cid — the all-null window ordering's pick.
    */
  def assignments(e: DataFrame, centroidMod: Int): DataFrame = {
    val cb = codebook(e, centroidMod)
    e.select(col("vec_id"),
      IvfOps.nearestCol(toDouble(col("embedding")), cb).as("cell"))
      .filter(col("cell").isNotNull)
  }

  /** Top-k by exact cosine among the vectors in the query's `nprobe`
    * nearest cells (query = `queryId`, excluded from results).
    */
  def search(spark: SparkSession, e: DataFrame, queryId: Long,
      centroidMod: Int, nprobe: Int, k: Int): DataFrame = {
    val vecs = e.select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val cents = vecs.filter(col("vec_id") % centroidMod === lit(1L % centroidMod))
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val qv = vecs.filter(col("vec_id") === queryId).select(col("v").as("qv"))

    val probes = cents.crossJoin(broadcast(qv))
      .select(col("cid"), cos6(col("qv"), col("cv")).as("cs"))
      .orderBy(col("cs").desc, col("cid"))
      .limit(nprobe)
      .select(col("cid").as("cell"))

    assignments(e, centroidMod)
      .join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= queryId)
      .join(vecs, "vec_id")
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), cos6(col("v"), col("qv")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }
}
