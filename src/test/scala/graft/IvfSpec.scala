package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.search.Ivf

/** ANN recall is a property of the index on CLUSTERED data — the
  * synthetic embeddings table is isotropic noise, where every sublinear
  * index degenerates to its scan fraction. So recall is asserted on a
  * corpus with planted near-duplicates of the query.
  */
class IvfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("recall@10 >= 0.9 on planted near-duplicate cluster") {
    val rnd = new scala.util.Random(7)
    val dim = 64
    val query = Array.fill(dim)(rnd.nextGaussian().toFloat)
    // 10 planted near-dups: query + small noise (cos > ~0.99)
    val planted = (1 to 10).map { i =>
      (i.toLong, query.map(x => x + 0.02f * rnd.nextGaussian().toFloat).toSeq)
    }
    // 489 background vectors: independent noise
    val background = (11 to 499).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq)
    }
    val e = ((0L, query.toSeq) +: (planted ++ background))
      .toDF("vec_id", "embedding")

    val ivfTop = Ivf.search(spark, e, queryId = 0L, centroidMod = 25, nprobe = 4, k = 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet

    // exact brute-force top-10
    import graft.functions.Portable._
    val vecs = e.select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val qv = vecs.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val exactTop = vecs.filter(col("vec_id") > 0).crossJoin(qv)
      .select(col("vec_id"),
        (dot(col("v"), col("qv")) / sqrt(norm2(col("v")) * norm2(col("qv")))).as("cs"))
      .orderBy(col("cs").desc, col("vec_id"))
      .limit(10).select("vec_id").collect().map(_.getLong(0)).toSet

    val recall = (ivfTop & exactTop).size / 10.0
    assert(recall >= 0.9, s"recall $recall; ivf=$ivfTop exact=$exactTop")
  }

  test("assignments cover every vector exactly once") {
    val rnd = new scala.util.Random(3)
    val e = (0 until 120).map(i => (i.toLong, Seq.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val a = Ivf.assignments(e, centroidMod = 10)
    assert(a.count() === 120)
    assert(a.select("vec_id").distinct().count() === 120)
    // centroids assign to themselves (cos=1 with cid tiebreak)
    val self = a.filter(col("vec_id") % 10 === 1)
      .filter(col("vec_id") === col("cell")).count()
    assert(self === 12)
  }

  /** Cosines as IvfOps and `cos6` compute them, unrounded. */
  private def rawCos(q: Seq[Double], v: Seq[Double]): Double =
    q.zip(v).map { case (a, b) => a * b }.sum /
      math.sqrt(q.map(x => x * x).sum * v.map(x => x * x).sum)

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Each case: centroids in ascending cid order whose best two rounded
    * cosines to the query tie, and the cid every path must pick.
    */
  private val tieCases: Seq[(String, Seq[(Long, Seq[Double])], Long)] = {
    def at(c: Double) = Seq(c, math.sqrt(1 - c * c))
    Seq(
      // raw cosines 0.8000001 < 0.8000004: the larger cid has the higher
      // raw cosine, but both round to 0.800000, so the smaller cid wins
      ("raw cosines within 1e-6",
        Seq(1L -> at(0.5), 2L -> at(0.8000001), 7L -> at(0.8000004)), 2L),
      // one direction at two lengths: equal after rounding
      ("one direction at two lengths",
        Seq(4L -> Seq(0.6, 0.8), 6L -> Seq(0.3, 0.4), 9L -> at(0.1)), 4L))
  }

  test("rounded-cosine ties go to the smallest cid in nearest, top2 and probes") {
    import graft.functions.{IvfCodebook, IvfOps}
    val q = Seq(1.0, 0.0)
    for ((name, cents, want) <- tieCases) {
      val Seq((cidA, csA), (cidB, csB)) =
        cents.map { case (cid, v) => cid -> rawCos(q, v) }.sortBy(-_._2).take(2)
      assert(round6(csA) == round6(csB) && math.abs(csA - csB) < 1e-6,
        s"$name: the case must plant a rounded tie")
      assert(Set(cidA, cidB).min == want)

      val cb = new IvfCodebook(cents.map(_._1).toArray,
        cents.map(_._2.toArray).toArray, Array.fill(cents.size)(true))
      val qArr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(q.toArray)
      assert(IvfOps.nearest(qArr, cb) == want, s"$name: nearest (interpreted)")
      val qs = Seq((0L, q)).toDF("qid", "qv")
      val r = qs.select(IvfOps.nearestCol(col("qv"), cb).as("cell"),
        IvfOps.top2Col(col("qv"), cb).as("t")).head()
      assert(r.getLong(0) == want, s"$name: nearest")
      assert(r.getStruct(1).getLong(0) == want, s"$name: top2.cell")
      assert(r.getStruct(1).getDouble(1) == r.getStruct(1).getDouble(2),
        s"$name: top2's two cosines tie")
      val probed = Ivf.probes(cents.toDF("cid", "cv"), qs, nprobe = 1)
        .collect().map(_.getLong(1))
      assert(probed.toSeq == Seq(want), s"$name: first probed cell")
    }
  }
}
