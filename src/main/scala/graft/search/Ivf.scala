package graft.search

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{IvfCodebook, IvfOps}
import graft.functions.Portable.{cos6, toDouble}

/** IVF (inverted-file) approximate nearest neighbor search — the
  * scale path beside the exact brute-force baseline (q26), standing in
  * for the reference's Annoy index (PICO_search.py:28-86).
  *
  * Training-free deterministic flavor. Each index rule has one
  * definition here, and every ANN path (the searches, IVF-PQ, k-means
  * seeds, the staleness monitor, the streamed and persisted probes)
  * uses it:
  *  - Sample ([[sample]]): the coarse centroids are the vectors with
  *    `vec_id % mod == 1 % mod` (every vector when mod is 1), fetched
  *    ascending by cid into a driver-side codebook of at most
  *    [[MaxCentroids]] rows (C ≈ √N — the IVF "train" step).
  *  - Assignment ([[assignments]]): every vector goes to its nearest
  *    centroid map-side by one codegen'd argmax pass
  *    (`NearestCentroid`) — a pure projection with no join and no
  *    exchange.
  *  - Probe ([[probes]]): a query probes the `nprobe` centroids with
  *    the highest 6-decimal cosine, ties to the smallest cid.
  *  - Candidates ([[candidates]]): one projection over the corpus
  *    computes each vector's cell and keeps the probed cells' vectors,
  *    which are reranked exactly ([[search]], [[Pq.searchIvf]]).
  *
  * Scale shape: the expensive side (N vectors) never shuffles. Each
  * request assigns all N vectors again: no cell is stored, so probing
  * cannot prune to the probed cells' vectors (ROADMAP direction 1
  * stores the cell at merge time).
  *
  * Plan/oracle determinism: similarities are rounded to 6 decimals and
  * tie-broken by centroid id, so assignment and probing are
  * reproducible across engines (`Sql.ivfAssignCtes`/`ivfProbeCte` are
  * the DuckDB twins).
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

  /** The centroid sample: the rows of `df` whose `vec_id % mod` equals
    * `1 % mod`. `1 % mod`, not the literal 1, so that mod 1 — a corpus
    * smaller than the minimum cell count — samples every vector instead
    * of none; for every mod >= 2 the two are the same.
    */
  def sample(df: DataFrame, mod: Long): DataFrame =
    df.filter(col("vec_id") % mod === lit(1L % mod))

  /** The sampled centroids of the embeddings `e` as (cid, cv), `cv` the
    * embedding as array<double>.
    */
  def centroids(e: DataFrame, mod: Long): DataFrame =
    sample(e, mod).select(col("vec_id").as("cid"), toDouble(col("embedding")).as("cv"))

  /** The [[sample]] of `df` on the driver, ascending by vec_id, at most
    * `cap` rows: the fetch is a TakeOrdered of `cap + 1` rows, and an
    * overflow fails loudly with the knob to turn.
    */
  private[search] def fetchSample(df: DataFrame, mod: Long, cap: Int,
      what: String): Array[Row] = {
    val rows = sample(df, mod).orderBy(col("vec_id")).limit(cap + 1).collect()
    require(rows.length <= cap,
      s"$what codebook exceeds the $cap-centroid cap: raise centroidMod " +
        "so the sample stays ~sqrt(N)")
    rows
  }

  /** Coarse codebook: the sampled centroids, collected once on the
    * driver (C ≈ √N rows — the standard IVF train step; a 100 TB
    * corpus still has a codebook of a few tens of MB). Kept ascending
    * by cid so the expression's strict-`>` argmax breaks ties on the
    * smallest id. Cardinality is capped by construction (see
    * [[MaxCentroids]]).
    */
  def codebook(e: DataFrame, centroidMod: Int,
      cap: Int = MaxCentroids): IvfCodebook = {
    val rows = fetchSample(
      e.select(col("vec_id"), toDouble(col("embedding")).as("cv")), centroidMod, cap, "IVF")
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
  def assignments(e: DataFrame, centroidMod: Int): DataFrame =
    assign(e, codebook(e, centroidMod))

  /** [[assignments]] of the embeddings `e` against a given codebook. */
  def assign(e: DataFrame, cb: IvfCodebook): DataFrame =
    e.select(col("vec_id"),
      IvfOps.nearestCol(toDouble(col("embedding")), cb).as("cell"))
      .filter(col("cell").isNotNull)

  /** The probe step: for each query (qid, qv) of `queries`, the
    * `nprobe` centroids (cid, cv) of `centroids` with the highest
    * `cos6`, ranked `cs DESC, cid` per qid, as (qid, cell). The
    * queries are broadcast against the centroids.
    */
  def probes(centroids: DataFrame, queries: DataFrame, nprobe: Int): DataFrame =
    centroids.crossJoin(broadcast(queries))
      .select(col("qid"), col("cid"), cos6(col("qv"), col("cv")).as("cs"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("cs").desc, col("cid"))))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("cid").as("cell"))

  /** The query `queryId` of the embeddings `e` as (qid, qv). */
  private[search] def query(e: DataFrame, queryId: Long): DataFrame =
    e.filter(col("vec_id") === queryId)
      .select(col("vec_id").as("qid"), toDouble(col("embedding")).as("qv"))

  /** The candidates of one query `q` (qid, qv): (vec_id, v) of every
    * vector whose cell is one of the query's `nprobe` probed cells, the
    * query's own vector included. One projection over `e` computes
    * each vector's cell against the codebook; the probed cells arrive
    * as a broadcast.
    */
  private[search] def candidates(e: DataFrame, q: DataFrame, centroidMod: Int,
      nprobe: Int): DataFrame = {
    val cb = codebook(e, centroidMod)
    val cells = probes(centroids(e, centroidMod), q, nprobe).select("cell")
    e.select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .select(col("vec_id"), col("v"), IvfOps.nearestCol(col("v"), cb).as("cell"))
      .join(broadcast(cells), "cell")
      .select(col("vec_id"), col("v"))
  }

  /** Top-k by exact cosine among the [[candidates]] of `queryId`, the
    * query itself excluded. The exclusion (`vec_id <> qid`) sits in the
    * rerank join so that the join keeps both query columns: its query
    * broadcast is then the probe's, and the plan broadcasts it once.
    */
  def search(spark: SparkSession, e: DataFrame, queryId: Long,
      centroidMod: Int, nprobe: Int, k: Int): DataFrame = {
    val q = query(e, queryId)
    candidates(e, q, centroidMod, nprobe)
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("vec_id"), cos6(col("v"), col("qv")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }
}
