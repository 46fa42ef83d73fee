package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.search.IvfKmeans

/** Lloyd-trained IVF codebook (q77's operator) pinned three ways:
  * exact parity with a naive driver-side Lloyd on random data, planted
  * clusters recovered as centroids, and the empty-cell retention
  * convention.
  */
class KmeansSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Naive reference Lloyd over quantized vectors — same quantization,
    * tie-break, and floor(sum/n) update as the distributed operator.
    */
  private def referenceLloyd(
      data: Seq[(Long, Seq[Float])], mod: Int, iters: Int,
      sampleMod: Long = 1L)
      : Map[(Long, Int), (Long, Long)] = {
    val qAll = data.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * 1e6).toLong).toArray
    }
    val q = qAll.filter { case (id, _) => id % sampleMod == 0 }
    val seedIds = qAll.collect { case (id, _) if id % mod == 1 => id }.sorted
    var cents: Map[Long, Array[Long]] = qAll.toMap.view.filterKeys(seedIds.contains).toMap
    var counts: Map[Long, Long] = seedIds.map(_ -> 0L).toMap
    for (_ <- 0 until iters) {
      val assign = q.map { case (id, v) =>
        val best = seedIds.minBy { cid =>
          val c = cents(cid)
          (v.zip(c).map { case (a, b) => val d = a - b; d * d }.sum, cid)
        }
        id -> best
      }
      val byCell = assign.groupBy(_._2)
      cents = seedIds.map { cid =>
        byCell.get(cid) match {
          case Some(members) =>
            val vs = members.map(m => q.toMap.apply(m._1))
            val n = vs.length
            cid -> Array.tabulate(vs.head.length)(d =>
              math.floor(vs.map(_(d)).sum.toDouble / n).toLong)
          case None => cid -> cents(cid)
        }
      }.toMap
      counts = seedIds.map(cid =>
        cid -> byCell.get(cid).map(_.size.toLong).getOrElse(0L)).toMap
    }
    (for {
      cid <- seedIds
      (cv, dim) <- cents(cid).zipWithIndex
    } yield (cid, dim) -> (cv, counts(cid))).toMap
  }

  test("distributed Lloyd == naive reference Lloyd") {
    val rnd = new scala.util.Random(11)
    val data = (0 until 150).map(i =>
      (i.toLong, Seq.fill(8)(rnd.nextGaussian().toFloat * 0.4f)))
    val trained = IvfKmeans
      .train(data.toDF("vec_id", "embedding"), centroidMod = 20, iters = 3)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val expected = referenceLloyd(data, mod = 20, iters = 3)
    assert(trained === expected)
  }

  test("sampled Lloyd (sampleMod) == naive reference over the sample") {
    // the q77 production shape: seeds from the full id domain, the
    // assignment/update loop over vec_id % sampleMod == 0 only
    val rnd = new scala.util.Random(23)
    val data = (0 until 180).map(i =>
      (i.toLong, Seq.fill(6)(rnd.nextGaussian().toFloat * 0.5f)))
    val trained = IvfKmeans
      .train(data.toDF("vec_id", "embedding"), centroidMod = 20,
        iters = 2, sampleMod = 3L)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val expected = referenceLloyd(data, mod = 20, iters = 2, sampleMod = 3L)
    assert(trained === expected)
    // member counts cover the SAMPLE (60 of 180), not the corpus
    val totalMembers = trained.collect {
      case ((_, dim), (_, n)) if dim == 0 => n
    }.sum
    assert(totalMembers === 60L)
  }

  test("adaptiveParams: K≈√N clamped, sample bounded at ~32·K") {
    // tiny N: clamps to K=16, sample is the whole corpus
    assert(IvfKmeans.adaptiveParams(500L) === ((500L / 22L, 1L)))
    // big N: K=√N, sample modulus engages (N / (32·K))
    val (seedMod, sampleMod) = IvfKmeans.adaptiveParams(20000L)
    assert(seedMod === 20000L / 141L)
    assert(sampleMod === 20000L / (32L * 141L))
    // the train-sample size is ~32·K at any N past the clamp
    for (n <- Seq(1e5.toLong, 1e7.toLong, 1e9.toLong)) {
      val (_, sm) = IvfKmeans.adaptiveParams(n)
      val k = math.min(4096L, math.max(16L, math.sqrt(n.toDouble).toLong))
      val sampleSize = n / sm
      assert(sampleSize >= 16L * k && sampleSize <= 66L * k,
        s"n=$n sample=$sampleSize k=$k out of the ~32K envelope")
    }
  }

  test("planted clusters are recovered as centroids") {
    val rnd = new scala.util.Random(5)
    val dim = 16
    val centersTruth = Seq.fill(3)(Array.fill(dim)(rnd.nextGaussian().toFloat * 2f))
    // ids arranged so exactly 3 seeds exist (ids 1, 11, 21 with mod 10)
    val data = (0 until 30).map { i =>
      val c = centersTruth(i % 3)
      (i.toLong, c.map(x => x + 0.01f * rnd.nextGaussian().toFloat).toSeq)
    }
    val trained = IvfKmeans
      .train(data.toDF("vec_id", "embedding"), centroidMod = 10, iters = 3)
      .collect()
    val bySize = trained.groupBy(_.getLong(0)).view.mapValues(_.head.getLong(3))
    // every cell non-empty and cluster sizes sum to N (a partition)
    assert(bySize.values.sum === 30L)
    assert(bySize.values.forall(_ > 0L))
    // each trained centroid sits within the noise ball of a true center
    val cents = trained.groupBy(_.getLong(0)).values.map { rows =>
      rows.sortBy(_.getInt(1)).map(_.getLong(2).toDouble / 1e6)
    }
    for (c <- cents) {
      val nearest = centersTruth.map(t =>
        math.sqrt(c.zip(t).map { case (a, b) => (a - b) * (a - b) }.sum)).min
      assert(nearest < 0.05, s"centroid drifted $nearest from every true center")
    }
  }

  test("an empty cell keeps its previous centroid with 0 members") {
    // seed 21 is a far outlier whose only member (itself) is closer to
    // the dense blob's seed after one update? — construct directly: two
    // seeds (1, 11); all points including 11 sit on top of seed 1's
    // blob EXCEPT seed 11 itself, which is near the blob but nearer to
    // it than to its own seed position after the first update pulls
    // cell 11's centroid onto the blob. Simplest deterministic case:
    // make seed 11 identical to seed 1's blob, so from iteration 1 on
    // every point ties and the tie-break sends ALL points to cell 1.
    val data = (0 until 20).map(i => (i.toLong, Seq.fill(4)(1.0f)))
    val trained = IvfKmeans
      .train(data.toDF("vec_id", "embedding"), centroidMod = 10, iters = 2)
      .collect()
    val byCell = trained.groupBy(_.getLong(0))
    assert(byCell(1L).head.getLong(3) === 20L)
    assert(byCell(11L).head.getLong(3) === 0L)
    // cell 11 retained its (identical) centroid values
    assert(byCell(11L).forall(_.getLong(2) === 1000000L))
  }

  test("a corpus under 32 vectors (seed mod 1) seeds at most maxK cells") {
    val rnd = new scala.util.Random(17)
    val e = (0 until 20).map(i => (i.toLong, Seq.fill(4)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val (seedMod, _) = IvfKmeans.adaptiveParams(20)
    assert(seedMod == 1L)
    def cells(maxK: Int) = IvfKmeans.train(e, seedMod, iters = 1, maxK = maxK)
      .select("cell").distinct().as[Long].collect().sorted.toSeq
    assert(cells(5) == (0L until 5L))
    assert(cells(Int.MaxValue) == (0L until 20L))
    // the same bound at mod 3: ids 1, 4, 7, 10
    assert(IvfKmeans.train(e, 3L, iters = 1, maxK = 4)
      .select("cell").distinct().as[Long].collect().sorted.toSeq == Seq(1L, 4L, 7L, 10L))
  }
}
