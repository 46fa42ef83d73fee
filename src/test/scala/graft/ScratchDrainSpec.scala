package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.queries.Scratch

/** The registry's two AvailableNow drains ([[Scratch.drainToMemory]],
  * [[Scratch.drainEachBatch]]) over small landed file streams.
  */
class ScratchDrainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A file stream over `files` landed one file per micro-batch. */
  private def landed(dir: String, files: Seq[Long]*): DataFrame = {
    files.zipWithIndex.foreach { case (ids, i) =>
      Scratch.landFile(ids.toDF("id"), dir, s"$i.parquet", modTime = 60000L * (i + 1))
    }
    spark.readStream.schema("id BIGINT").option("maxFilesPerTrigger", "1").parquet(dir)
  }

  test("a second memory drain under the same sink name returns only its own rows") {
    val root = Files.createTempDirectory("drain-spec-").toString
    try {
      val first = Scratch.drainToMemory(
        landed(s"$root/in1", Seq(1L, 2L)), "drain_spec", s"$root/ckpt1")
      assert(first.as[Long].collect().toSet === Set(1L, 2L))
      val second = Scratch.drainToMemory(
        landed(s"$root/in2", Seq(3L)), "drain_spec", s"$root/ckpt2")
      assert(second.as[Long].collect().toSet === Set(3L))
      assert(spark.table("drain_spec").as[Long].collect().toSet === Set(3L))
    } finally Scratch.rmTree(root)
  }

  test("a foreachBatch drain hands each landed file to the step as its own batch") {
    val root = Files.createTempDirectory("drain-spec-").toString
    try {
      val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Set[Long])]
      Scratch.drainEachBatch(landed(s"$root/in", Seq(1L, 2L), Seq(3L)), s"$root/ckpt") {
        (batch, id) => seen += id -> batch.as[Long].collect().toSet
      }
      assert(seen.toSeq === Seq(0L -> Set(1L, 2L), 1L -> Set(3L)))
    } finally Scratch.rmTree(root)
  }
}
