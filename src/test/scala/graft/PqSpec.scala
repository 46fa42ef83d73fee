package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.search.{IvfKmeans, Pq}

/** Product-quantization sanity anchors: ADC is EXACT for codebook
  * members (each subspace encodes a member to its own sub-centroid at
  * distance 0), and on well-separated planted clusters the ADC ranking
  * finds the query's own cluster — the standard acceptance checks for
  * an ADC implementation.
  */
class PqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** 3 planted clusters of 10 vectors in 16 dims: cluster centers far
    * apart, members jittered slightly; vec_id % 5 == 1 samples the
    * codebook so every cluster contributes sub-centroids.
    */
  private def planted() = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val centers = Array(
      Array.fill(16)(10.0f), Array.fill(16)(-10.0f),
      Array.tabulate(16)(i => if (i % 2 == 0) 10.0f else -10.0f))
    (0L until 30L).map { id =>
      val c = centers((id % 3).toInt)
      (id, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.2f).toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("ADC distance is exact for codebook members") {
    val e = planted()
    val q = IvfKmeans.quantize(e)
    val mdl = Pq.model(q, centroidMod = 5, m = 4)
    val qv = q.filter(col("vec_id") === 1L).head().getSeq[Long](1).toArray
    val adc = q.filter(col("vec_id") % 5 === 1)
      .select((col("vec_id") +: col("q") +: Pq.encodeCols(mdl)): _*)
      .select(col("vec_id"), col("q"), Pq.adcCol(mdl, qv).as("adc"))
      .collect()
    adc.foreach { r =>
      val v = r.getSeq[Long](1).toArray
      val exact = qv.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum
      assert(r.getLong(2) === exact,
        s"member ${r.getLong(0)}: ADC must equal true quantized d2")
    }
  }

  test("planted clusters: ADC top-9 is exactly the query's cluster") {
    val e = planted()
    val top = Pq.search(e, queryId = 0L, centroidMod = 5, m = 4, k = 9)
      .collect().map(_.getLong(0))
    assert(top.toSet === (1L until 30L).filter(_ % 3 == 0).toSet,
      "nearest by ADC must be the query's own planted cluster")
  }

  /** 20 random vectors: under 32, so [[graft.search.Ivf.adaptiveMod]]
    * is 1 and every vector is sampled.
    */
  private def small() = {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val e = (0L until 20L).map(id => (id, Seq.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val mod = graft.search.Ivf.adaptiveMod(20)
    assert(mod == 1)
    (e, mod)
  }

  test("a corpus under 32 vectors: Pq.search returns k scored rows") {
    val (e, mod) = small()
    val top = Pq.search(e, queryId = 0L, centroidMod = mod, m = 4, k = 5).collect()
    assert(top.length == 5 && top.forall(!_.isNullAt(1)), top.toSeq)
  }

  test("a corpus under 32 vectors: Pq.searchIvf returns k scored rows") {
    val (e, mod) = small()
    // every vector is its own cell, so the 4 probed cells hold the
    // query and its 3 nearest vectors
    val top = Pq.searchIvf(e, queryId = 0L, centroidMod = mod, nprobe = 4, m = 4, k = 3)
      .collect()
    assert(top.length == 3 && top.forall(!_.isNullAt(1)), top.toSeq)
  }
}
