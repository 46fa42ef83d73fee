package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.stream.{Ivm, TableStore}

/** The incremental-view delta rule pinned against full recompute after
  * EVERY batch of an adversarial CDC stream: key migration between
  * groups, group death (count → 0 must drop the row), tombstone+upsert
  * of the same key in one batch (re-insert), within-batch last-wins
  * (tied `seq` included: merge and view must pick the same row), and
  * value churn that only exact-decimal cancellation survives.
  */
class IvmSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def viewOf(df: DataFrame): Set[(String, Long, BigDecimal)] =
    df.collect().map(r => (r.getString(0), r.getLong(1),
      BigDecimal(r.getDecimal(2)))).toSet

  private def recompute(snapshot: DataFrame): Set[(String, Long, BigDecimal)] =
    viewOf(snapshot.groupBy(col("last_type"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("last_value").cast("decimal(28,6)")).cast("decimal(28,6)")
          .as("sum_dec")))

  test("delta maintenance == recompute across migration, death, re-insert") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ivmspec-").toString
    val store = new TableStore(spark, s"$root/store", "user_id")

    // (batch, op, user, group, value, seqId)
    val streamRows = Seq(
      (0, "u", 1L, "a", 10.5, 1L), (0, "u", 2L, "a", 0.1, 2L),
      (0, "u", 3L, "b", 7.25, 3L),
      // batch 1: key 1 migrates a->b; key 2 churns value in-batch
      // (last-wins must keep 99.99); key 4 is born in c
      (1, "u", 1L, "b", 2.5, 4L), (1, "u", 2L, "a", 5.0, 5L),
      (1, "u", 2L, "a", 99.99, 6L), (1, "u", 4L, "c", 1.0, 7L),
      // batch 2: group c dies (its only key tombstoned); key 3
      // tombstoned AND re-upserted in the same batch (re-insert rule)
      (2, "d", 4L, "", 0.0, 8L), (2, "d", 3L, "", 0.0, 9L),
      (2, "u", 3L, "a", -7.25, 10L),
      // batch 3: everything lands in one group; exact cancellation
      (3, "u", 1L, "a", -10.5, 11L), (3, "u", 2L, "a", -0.1, 12L),
      // batch 4: tied seq within a key — key 1 has two rows in
      // different groups, key 2 two values in one group; the view
      // only matches the merge if both break the tie the same way
      (4, "u", 1L, "d", 3.0, 20L), (4, "u", 1L, "b", 4.0, 20L),
      (4, "u", 2L, "a", 1.25, 21L), (4, "u", 2L, "a", 8.5, 21L)
    )
    var view: Option[DataFrame] = None
    for (b <- 0 to 4) {
      val rows = streamRows.filter(_._1 == b)
      val ups = rows.filter(_._2 == "u")
        .map(r => (r._3, r._4, r._5, r._6))
        .toDF("user_id", "last_type", "last_value", "seq")
      val tombs = rows.filter(_._2 == "d").map(_._3).toDF("user_id")
      val prev = store.snapshot("state")
      store.merge("state", ups, tombs, s"b$b")
      val next = Ivm.applyDelta(view, prev, TableStore.lastWins(ups, "user_id"),
        tombs.unionByName(ups.select("user_id")),
        "user_id", "last_type", "last_value")
      next.write.mode("overwrite").parquet(s"$root/view/v$b")
      view = Some(spark.read.parquet(s"$root/view/v$b"))
      assert(viewOf(view.get) === recompute(store.snapshot("state").get),
        s"divergence after batch $b")
    }
    // group death really dropped the row (c absent, not zero-count)
    assert(!viewOf(view.get).exists(_._1 == "c"))
  }
}
