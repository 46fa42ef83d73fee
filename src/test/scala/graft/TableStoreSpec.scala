package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.stream.TableStore

/** MERGE/tombstone semantics (SURVEY T2/T3) against an executable model
  * of the reference's apply loop (pubmed.py:483-548).
  */
class TableStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshStore(): TableStore =
    new TableStore(spark, Files.createTempDirectory("ts-spec-").toString, "k")

  private def ups(rows: (String, String, Long)*): DataFrame =
    rows.toDF("k", "v", "seq")
  private def dels(keys: String*): DataFrame = keys.toDF("k")

  private def state(store: TableStore): Map[String, String] =
    store.snapshot("t").map(_.collect().map(r => r.getString(0) -> r.getString(1)).toMap)
      .getOrElse(Map.empty)

  test("upsert then update then delete") {
    val s = freshStore()
    s.merge("t", ups(("a", "1", 1), ("b", "1", 2)), dels(), "f0")
    assert(state(s) === Map("a" -> "1", "b" -> "1"))
    s.merge("t", ups(("a", "2", 1)), dels(), "f1")
    assert(state(s) === Map("a" -> "2", "b" -> "1"))
    s.merge("t", ups(), dels("b"), "f2")
    assert(state(s) === Map("a" -> "2"))
  }

  test("within-batch last-wins by seq") {
    val s = freshStore()
    s.merge("t", ups(("a", "first", 1), ("a", "last", 9), ("a", "mid", 5)), dels(), "f0")
    assert(state(s) === Map("a" -> "last"))
  }

  test("tied seq keeps the same row at 1 or 8 input partitions") {
    // ties break by the data columns in column order: "z" is the max v
    val rows = Seq(("a", "x", 7L), ("a", "z", 7L), ("a", "y", 7L),
      ("b", "q", 2L), ("b", "p", 2L), ("b", "old", 1L))
    val picks = Seq(1, 8).map { n =>
      val s = freshStore()
      s.merge("t", rows.toDF("k", "v", "seq").repartition(n), dels(), "f0")
      state(s)
    }
    assert(picks.head === Map("a" -> "z", "b" -> "q"))
    assert(picks.last === picks.head)
  }

  test("all-null seq keeps a whole row; a non-null seq beats null") {
    val s = freshStore()
    val rows = Seq[(String, String, Option[Long])](("a", "x", None),
      ("a", "y", None), ("b", "late", Some(1L)), ("b", "null-seq", None))
    s.merge("t", rows.toDF("k", "v", "seq"), dels(), "f0")
    assert(state(s) === Map("a" -> "y", "b" -> "late"))
  }

  test("tombstone + upsert in the same batch re-inserts (reference order)") {
    val s = freshStore()
    s.merge("t", ups(("a", "0", 1)), dels(), "f0")
    s.merge("t", ups(("a", "new", 1)), dels("a"), "f1")
    assert(state(s) === Map("a" -> "new"))
  }

  test("delete then re-add in a later batch") {
    val s = freshStore()
    s.merge("t", ups(("a", "0", 1)), dels(), "f0")
    s.merge("t", ups(), dels("a"), "f1")
    assert(state(s) === Map.empty)
    s.merge("t", ups(("a", "back", 1)), dels(), "f2")
    assert(state(s) === Map("a" -> "back"))
  }

  test("idempotent per source_filename: re-apply is a no-op") {
    val s = freshStore()
    assert(s.merge("t", ups(("a", "1", 1)), dels(), "f0"))
    assert(!s.merge("t", ups(("a", "CLOBBER", 1)), dels(), "f0"))
    assert(state(s) === Map("a" -> "1"))
    assert(s.updateLog().get.count() === 1)
  }

  test("file application order matters (T3 in-order requirement)") {
    val s1 = freshStore()
    s1.merge("t", ups(("a", "x", 1)), dels(), "f0")
    s1.merge("t", ups(("a", "y", 1)), dels(), "f1")
    val s2 = freshStore()
    s2.merge("t", ups(("a", "y", 1)), dels(), "f1")
    s2.merge("t", ups(("a", "x", 1)), dels(), "f0")
    assert(state(s1) === Map("a" -> "y"))
    assert(state(s2) === Map("a" -> "x"))
  }

  test("accumulator batch stats (A4) and force-refresh escape hatch (T6)") {
    val s = freshStore()
    val b0 = s.mergedBatches.value
    s.merge("t", ups(("a", "1", 1), ("b", "2", 2)), dels("z"), "f0")
    s.merge("t", ups(("a", "CLOBBER", 1)), dels(), "f0") // gated, not counted
    assert(s.mergedBatches.value === b0 + 1)
    assert(state(s) === Map("a" -> "1", "b" -> "2"))
    s.forceRefresh("t")
    assert(s.snapshot("t").isEmpty)            // wiped
    assert(s.appliedFiles().contains("f0"))    // audit log retained
    s.merge("t", ups(("c", "3", 1)), dels(), "f1")
    assert(state(s) === Map("c" -> "3"))       // rebuilt from scratch
  }

  test("partial snapshot version (no _SUCCESS) is invisible and self-heals") {
    val root = Files.createTempDirectory("ts-spec-").toString
    val s = new TableStore(spark, root, "k")
    s.merge("t", ups(("a", "1", 1)), dels(), "f0")
    s.merge("t", ups(("b", "2", 1)), dels(), "f1")
    // simulate a crash mid-write of v3: part file present, no _SUCCESS
    val partial = new java.io.File(s"$root/t/v3")
    partial.mkdirs()
    Files.write(partial.toPath.resolve("part-00000-crashed.parquet"),
      Array[Byte](0, 1, 2))
    assert(state(s) === Map("a" -> "1", "b" -> "2")) // v2 still current
    assert(s.snapshotAt("t", 3).isEmpty)             // and v3 unreadable
    // the next merge claims version 3, overwriting the crashed attempt
    s.merge("t", ups(("c", "3", 1)), dels(), "f2")
    assert(state(s) === Map("a" -> "1", "b" -> "2", "c" -> "3"))
    assert(s.snapshotAt("t", 3).isDefined)
  }

  test("snapshot sizing corrects from staged bytes on a growth merge") {
    // round 17: sizing from the PREVIOUS version under-sizes a merge
    // that grows the table; the post-write check must rewrite the
    // staging at the true target. A tiny conf'd file-size target makes
    // the growth path fire at spec scale.
    spark.conf.set("spark.graft.snapshot.targetFileBytes", "1024")
    try {
      val root = Files.createTempDirectory("ts-spec-").toString
      val s = new TableStore(spark, root, "k")
      val pad = "x" * 200
      val big = spark.range(500)
        .select(concat(lit("k"), col("id")).as("k"),
          concat(lit(pad), col("id")).as("v"), col("id").as("seq"))
      // bootstrap lands ~100 KB against a 1 KB/file target: the
      // staged-bytes correction must split it instead of leaving the
      // upstream partitioning's oversized files
      s.merge("t", big.repartition(1), dels(), "f0")
      val v1 = new java.io.File(s"$root/t/v1")
      val dataFiles = v1.listFiles.count(f =>
        f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      assert(dataFiles > 1, s"growth merge kept $dataFiles oversized file(s)")
      // and the data survived the rewrite byte-identically
      assert(s.snapshot("t").get.count() === 500)
      assert(s.snapshot("t").get.agg(sum(length(col("v")))).head.getLong(0) ===
        big.agg(sum(length(col("v")))).head.getLong(0))
    } finally spark.conf.unset("spark.graft.snapshot.targetFileBytes")
  }

  test("property: merge sequence ≡ reference apply loop model") {
    val key = Gen.oneOf("k1", "k2", "k3")
    val action = for {
      k <- key; del <- Gen.prob(0.3); v <- Gen.choose(0, 99)
    } yield (k, del, v.toString)
    val batchGen = Gen.listOfN(4, Gen.listOf(action).map(_.take(5)))
    val prop = Prop.forAll(batchGen) { batches =>
      val s = freshStore()
      // model: sequential dict apply — deletes first, then in-order upserts
      var model = Map.empty[String, String]
      for ((batch, i) <- batches.zipWithIndex) {
        val up = batch.zipWithIndex.collect { case ((k, false, v), j) => (k, v, j.toLong) }
        val dl = batch.collect { case (k, true, _) => k }.distinct
        model = model -- dl
        for ((k, v, _) <- up) model += (k -> v)
        s.merge("t", ups(up: _*), dels(dl: _*), s"f$i")
      }
      state(s) == model
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.toString)
  }
}
