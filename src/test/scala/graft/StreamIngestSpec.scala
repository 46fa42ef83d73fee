package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import graft.stream.{StreamIngest, TableStore}

/** End-to-end Structured Streaming CDC: landing dir of JSON update
  * files → readStream → foreachBatch → TableStore.merge (T1-T5).
  */
class StreamIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("v", StringType),
    StructField("seq", LongType), StructField("op", StringType),
    StructField("source_filename", StringType)))

  private def writeFile(dir: Path, name: String, lines: Seq[String], mtime: Long): Unit = {
    val p = dir.resolve(name)
    Files.writeString(p, lines.mkString("\n"))
    Files.setLastModifiedTime(p, FileTime.fromMillis(mtime))
  }

  test("streamed update files produce the same state as batch merges") {
    val landing = Files.createTempDirectory("si-landing-")
    val root = Files.createTempDirectory("si-store-").toString
    val ckpt = Files.createTempDirectory("si-ckpt-").toString
    val t0 = System.currentTimeMillis() - 60000

    writeFile(landing, "u0.json", Seq(
      """{"k":"a","v":"1","seq":1,"op":"upsert","source_filename":"u0.json"}""",
      """{"k":"b","v":"1","seq":2,"op":"upsert","source_filename":"u0.json"}"""), t0)
    writeFile(landing, "u1.json", Seq(
      """{"k":"a","v":"2","seq":1,"op":"upsert","source_filename":"u1.json"}""",
      """{"k":"b","v":null,"seq":2,"op":"delete","source_filename":"u1.json"}""",
      """{"k":"c","v":"old","seq":3,"op":"upsert","source_filename":"u1.json"}""",
      """{"k":"c","v":"new","seq":4,"op":"upsert","source_filename":"u1.json"}"""), t0 + 1000)
    writeFile(landing, "u2.json", Seq(
      """{"k":"a","v":null,"seq":1,"op":"delete","source_filename":"u2.json"}"""), t0 + 2000)

    val store = new TableStore(spark, root, "k")
    StreamIngest.runAvailableNow(spark, landing.toString, ckpt, schema, store,
      "t", "k", maintainCounts = true)

    val state = store.snapshot("t").get.collect()
      .map(r => r.getAs[String]("k") -> r.getAs[String]("v")).toMap
    assert(state === Map("c" -> "new")) // a deleted last, b deleted, c last-wins
    assert(store.appliedFiles() === Set("u0.json", "u1.json", "u2.json"))
    // T5: the maintained count matview reflects the final snapshot
    val mv = spark.read.parquet(store.matviewDir("t")).collect()
    assert(mv.length === 1 && mv.head.getLong(0) === 1L)
    // A4: the batch counters ride the streamed merges (3 files, 5 raw
    // upsert rows, 2 raw tombstone rows)
    assert(store.mergedBatches.value === 3L)
    assert(store.mergedUpserts.value === 5L)
    assert(store.mergedTombstones.value === 2L)
  }

  test("restarted stream re-delivery is idempotent (update_log gates)") {
    val landing = Files.createTempDirectory("si2-landing-")
    val root = Files.createTempDirectory("si2-store-").toString
    val t0 = System.currentTimeMillis() - 60000
    writeFile(landing, "u0.json", Seq(
      """{"k":"a","v":"1","seq":1,"op":"upsert","source_filename":"u0.json"}"""), t0)

    val store = new TableStore(spark, root, "k")
    // two runs with DIFFERENT checkpoints simulate redelivery after
    // checkpoint loss — the at-least-once worst case
    StreamIngest.runAvailableNow(spark, landing.toString,
      Files.createTempDirectory("si2-ck1-").toString, schema, store, "t", "k")
    StreamIngest.runAvailableNow(spark, landing.toString,
      Files.createTempDirectory("si2-ck2-").toString, schema, store, "t", "k")

    assert(store.snapshot("t").get.count() === 1)
    assert(store.updateLog().get.count() === 1) // logged exactly once
  }
}
