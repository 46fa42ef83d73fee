package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types.MetadataBuilder
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
    // a map column ties by its entries sorted by key: [(a,2),(b,1)]
    // loses to [(a,3)], and the empty map loses to any entry
    val mapRows = Seq(("a", Map("b" -> 1L, "a" -> 2L), 7L), ("a", Map("a" -> 3L), 7L),
      ("b", Map.empty[String, Long], 2L), ("b", Map("x" -> 0L), 2L))
    val mapPicks = Seq(1, 8).map { n =>
      val s = freshStore()
      s.merge("t", mapRows.toDF("k", "m", "seq").repartition(n), dels(), "f0")
      s.snapshot("t").get.collect().map(r => r.getString(0) -> r.getMap[String, Long](1)).toMap
    }
    assert(mapPicks.head === Map("a" -> Map("a" -> 3L), "b" -> Map("x" -> 0L)))
    assert(mapPicks.last === mapPicks.head)
  }

  test("a map nested in another type still fails the merge") {
    val nested = Seq(("a", 1L)).toDF("k", "seq")
      .select(col("k"), struct(map(lit("x"), col("seq")).as("m")).as("s"), col("seq"))
    val e = intercept[AnalysisException](freshStore().merge("t", nested, dels(), "f0"))
    assert(e.getCondition === "DATATYPE_MISMATCH.INVALID_ORDERING_TYPE")
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
    val root = Files.createTempDirectory("ts-spec-").toString
    val s = new TableStore(spark, root, "k")
    assert(s.merge("t", ups(("a", "1", 1)), dels(), "f0"))
    assert(!s.merge("t", ups(("a", "CLOBBER", 1)), dels(), "f0"))
    assert(state(s) === Map("a" -> "1"))
    assert(s.updateLog().get.count() === 1)
    // a name JSON must escape (quote, backslash, tab) plus a non-ASCII
    // letter: the log writer, the driver-side reader and Spark's JSON
    // reader must agree on it exactly
    val odd = "f\"1\\\t\u00e9.xml"
    assert(s.merge("t", ups(("b", "2", 1)), dels(), odd))
    assert(!s.merge("t", ups(("b", "CLOBBER", 1)), dels(), odd))
    assert(!new TableStore(spark, root, "k").merge("t", ups(("b", "CLOBBER", 1)), dels(), odd),
      "a fresh instance must read the name back from the log and gate it")
    assert(state(s) === Map("a" -> "1", "b" -> "2"))
    assert(s.appliedFiles("t") === Set("f0", odd))
    assert(s.updateLog().get.select("source_filename").as[String].collect().toSet ===
      Set("f0", odd))
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

  test("legacy parquet entries in the update log warn once per store") {
    val root = Files.createTempDirectory("ts-spec-").toString
    val logDir = java.nio.file.Paths.get(root, "_update_log")
    Files.createDirectories(logDir)
    Files.write(logDir.resolve("part-00000-legacy.snappy.parquet"), Array[Byte](0, 1, 2))
    def warnings(body: => Unit): Seq[String] = {
      val buf = new java.io.ByteArrayOutputStream()
      val saved = System.err
      System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
      try body finally System.setErr(saved)
      buf.toString("UTF-8").linesIterator.filter(_.startsWith("[graft] warn:")).toSeq
    }
    val s = new TableStore(spark, root, "k")
    val first = warnings {
      s.merge("t", ups(("a", "1", 1)), dels(), "f0")
      s.merge("t", ups(("b", "2", 1)), dels(), "f1")
      s.merge("t", ups(("a", "CLOBBER", 1)), dels(), "f0") // gated
    }
    assert(first.size === 1)
    assert(first.head.contains("part-00000-legacy.snappy.parquet"))
    // the legacy file is ignored: the JSONL log still gates exactly once
    assert(state(s) === Map("a" -> "1", "b" -> "2"))
    assert(s.appliedFiles("t") === Set("f0", "f1"))
    // once per instance: a second store over the same root warns again,
    // a store over a clean log never does
    assert(warnings(new TableStore(spark, root, "k").appliedFiles()).size === 1)
    assert(warnings {
      val clean = freshStore()
      clean.merge("t", ups(("a", "1", 1)), dels(), "f0")
      clean.appliedFiles()
    }.isEmpty)
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

  test("a snapshot read runs no Spark job") {
    // the read schema comes from the version's own footer on the
    // driver; a bare parquet read would infer it with a 1-task job
    val s = freshStore()
    s.merge("t", ups(("a", "1", 1)), dels(), "f0")
    s.merge("t", ups(("b", "2", 1)), dels(), "f1")
    val sc = spark.sparkContext
    val group = s"snapshot-read-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) jobs.incrementAndGet()
    }
    GraftShim.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "snapshot reads")
    try {
      val frames = Seq(s.snapshot("t").get, s.snapshotAt("t", 1).get)
      GraftShim.waitUntilEmpty(sc)
      assert(jobs.get === 0, "building a snapshot frame started a Spark job")
      assert(frames.map(_.columns.toSeq) === Seq(Seq("k", "v"), Seq("k", "v")))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(state(s) === Map("a" -> "1", "b" -> "2"))
  }

  test("read schema equals Spark's inferred schema") {
    val root = Files.createTempDirectory("ts-spec-").toString
    val s = new TableStore(spark, root, "k")
    val tagged = new MetadataBuilder().putString("comment", "trial key").build()
    def batch(ids: Range) = ids.map(_.toLong).toDF("id").select(
      concat(lit("k"), col("id")).as("k", tagged),
      struct(col("id").as("n"),
        struct(lit("x").as("s"), (col("id") * 0.5).as("d")).as("inner")).as("nested"),
      array(col("id").cast("float"), lit(1.5f)).as("vec"),
      (col("id") / 7).cast("decimal(12,4)").as("dec"),
      timestamp_seconds(col("id") * 86400).as("ts"),
      lit(null).cast("string").as("nothing"),
      map(lit("n"), col("id"), lit("half"), (col("id") / 2).cast("bigint")).as("counts"),
      col("id").as("seq"))
    // the store's frame against Spark's inference over the same dir:
    // StructField equality covers nested types, nullability and field
    // metadata, and the rows must match too
    def sameAsSpark(v: Int): Unit = {
      val ours = s.snapshot("t").get
      val inferred = spark.read.parquet(s"$root/t/v$v")
      assert(ours.schema === inferred.schema, s"v$v")
      assert(ours.schema.json === inferred.schema.json, s"v$v")
      assert(ours.orderBy("k").collect().toSeq === inferred.orderBy("k").collect().toSeq, s"v$v")
    }
    s.merge("t", batch(0 until 6), dels(), "f0")
    sameAsSpark(1)
    assert(s.snapshot("t").get.schema("k").metadata === tagged)
    // ADD-COLUMN evolution (the q117 path) widens the snapshot
    s.merge("t", batch(4 until 9).withColumn("extra", col("seq").cast("int")), dels("k0"),
      "f1", allowSchemaEvolution = true)
    sameAsSpark(2)
    assert(s.snapshot("t").get.columns.last === "extra")
    assert(s.snapshot("t").get.where(col("extra").isNull).count() === 3)
    assert(s.compact("t", 3) === 3)
    sameAsSpark(3)
  }

  test("a committed version without data files fails as Spark's read does") {
    val root = Files.createTempDirectory("ts-spec-").toString
    val s = new TableStore(spark, root, "k")
    s.merge("t", ups(("a", "1", 1)), dels(), "f0")
    val v1 = new java.io.File(s"$root/t/v1")
    v1.listFiles.filterNot(_.getName == "_SUCCESS").foreach(_.delete())
    val ours = intercept[AnalysisException](s.snapshot("t"))
    val sparks = intercept[AnalysisException](spark.read.parquet(v1.toString))
    assert(ours.getCondition === sparks.getCondition)
    assert(ours.getCondition === "UNABLE_TO_INFER_SCHEMA")
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
