package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** [[graft.ops.Reuse.pin]] — the materialize-once seam every
  * multi-consumer query path routes through (round 17). Local default
  * must be the eager localCheckpoint the call sites used directly;
  * the reliable mode must route through the fault-tolerant checkpoint
  * (RDD persisted under the checkpoint dir) with identical rows.
  */
class ReuseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("default pin = eager localCheckpoint, rows identical") {
    val df = spark.range(100).select(col("id"), (col("id") * 2).as("v"))
    val pinned = graft.ops.Reuse.pin(df)
    assert(pinned.collect().toSeq === df.collect().toSeq)
    // lineage is truncated: the pinned plan scans materialized blocks,
    // not the range source
    assert(!pinned.queryExecution.optimizedPlan.toString.contains("Range"))
  }

  test("reliable mode pins through the fault-tolerant checkpoint") {
    val dir = Files.createTempDirectory("reuse-ckpt-").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    try {
      val df = spark.range(50).select(col("id"), (col("id") % 7).as("m"))
      val pinned = graft.ops.Reuse.pin(df)
      assert(pinned.collect().toSeq === df.collect().toSeq)
      assert(!pinned.queryExecution.optimizedPlan.toString.contains("Range"))
      // the reliable checkpoint actually wrote to the checkpoint dir
      val wrote = Files.walk(java.nio.file.Paths.get(dir))
      try assert(wrote.filter(p => Files.isRegularFile(p)).count() > 0)
      finally wrote.close()
    } finally {
      spark.conf.unset("spark.graft.checkpoint.reliable")
    }
  }

  test("reliable mode evaluates the pinned subtree once per row") {
    spark.sparkContext.setCheckpointDir(Files.createTempDirectory("reuse-ckpt-").toString)
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    try {
      val evals = spark.sparkContext.longAccumulator("reuse-evals")
      val counted = udf { (x: Long) => evals.add(1); x * 3 }
      val n = 200
      val pinned = graft.ops.Reuse.pin(
        spark.range(0, n, 1, 4).select(col("id"), counted(col("id")).as("t")))
      // the eager checkpoint ran the UDF once per row: the checkpoint
      // files are written by the job that computes the rows
      assert(evals.value === n)
      // consumers read the checkpoint files, not the subtree
      assert(pinned.collect().map(r => r.getLong(1)).sorted.toSeq ===
        (0L until n).map(_ * 3))
      assert(pinned.count() === n)
      assert(evals.value === n)
    } finally {
      spark.conf.unset("spark.graft.checkpoint.reliable")
    }
  }
}
