package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.stream.TableStore

/** TRUE concurrent-writer interleavings for [[TableStore]]'s
  * optimistic version-claim commit (round-8 verdict item 4 — the one
  * fault class TableStoreFaultSpec's crash/stale-cache pins did not
  * cover): two live writers racing merges to the same table must
  * never lose an update, never expose a torn version, and never
  * duplicate a data row.
  *
  * The deterministic interleaving uses the `onBeforeCommit` seam to
  * freeze writer A in the exact window between its staging write and
  * its atomic version claim — the window where writer B's commit
  * lands first — so the test exercises the real conflict path, not a
  * lucky schedule.
  */
class TableStoreRaceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("ts-race-").toString

  private def ups(rows: (String, String, Long)*): DataFrame =
    rows.toDF("k", "v", "seq")
  private def dels(keys: String*): DataFrame = keys.toDF("k")

  private def state(store: TableStore): Map[String, String] =
    store.snapshot("t")
      .map(_.collect().map(r => r.getString(0) -> r.getString(1)).toMap)
      .getOrElse(Map.empty)

  test("lost-update interleave: A reads vN, B commits, A commits — both survive") {
    val root = freshRoot()
    val a = new TableStore(spark, root, "k")
    val b = new TableStore(spark, root, "k")
    assert(a.merge("t", ups(("base", "0", 1)), dels(), "f0"))

    val aStaged = new CountDownLatch(1)
    val bDone = new CountDownLatch(1)
    // freeze A between staging and claim — but only ONCE: the retry
    // after the lost claim must commit unimpeded
    val frozeOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
    a.onBeforeCommit = () =>
      if (frozeOnce.compareAndSet(false, true)) {
        aStaged.countDown()
        assert(bDone.await(120, TimeUnit.SECONDS), "B never finished")
      }

    @volatile var aResult = false
    val tA = new Thread(() => {
      aResult = a.merge("t", ups(("ka", "a1", 1)), dels(), "fA")
    })
    tA.start()
    assert(aStaged.await(120, TimeUnit.SECONDS), "A never staged")
    // B commits the next version while A holds its staged snapshot
    assert(b.merge("t", ups(("kb", "b1", 1)), dels(), "fB"))
    bDone.countDown()
    tA.join(120000)
    assert(!tA.isAlive, "A never returned")

    // A's first claim MUST have lost (B took v2); its retry recomputed
    // from B's snapshot — nothing lost, versions serial, rows unique
    assert(aResult, "A must succeed on retry, not swallow the batch")
    assert(state(a) === Map("base" -> "0", "ka" -> "a1", "kb" -> "b1"))
    assert(a.snapshotAt("t", 2).map(_.collect().length).contains(2),
      "v2 must be B's commit (base + kb)")
    assert(a.snapshotAt("t", 3).map(_.collect().length).contains(3))
    val all = a.snapshot("t").get.collect()
    assert(all.length === all.map(_.getString(0)).distinct.length,
      "no key may appear twice after the race")
    assert(a.appliedFiles() === Set("f0", "fA", "fB"))
  }

  test("same-file race: the loser detects the winner applied it and backs off") {
    val root = freshRoot()
    val a = new TableStore(spark, root, "k")
    val b = new TableStore(spark, root, "k")

    val aStaged = new CountDownLatch(1)
    val bDone = new CountDownLatch(1)
    val frozeOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
    a.onBeforeCommit = () =>
      if (frozeOnce.compareAndSet(false, true)) {
        aStaged.countDown()
        assert(bDone.await(120, TimeUnit.SECONDS), "B never finished")
      }

    @volatile var aResult = true
    val tA = new Thread(() => {
      aResult = a.merge("t", ups(("k1", "x", 1)), dels(), "fSame")
    })
    tA.start()
    assert(aStaged.await(120, TimeUnit.SECONDS), "A never staged")
    assert(b.merge("t", ups(("k1", "x", 1)), dels(), "fSame"))
    bDone.countDown()
    tA.join(120000)
    assert(!tA.isAlive, "A never returned")

    // A lost the claim, re-checked the log, found fSame applied: false
    assert(!aResult, "loser must report the file as already applied")
    assert(state(a) === Map("k1" -> "x"))
    assert(a.snapshot("t").isDefined)
    assert(a.snapshotAt("t", 2).isEmpty, "no second version may exist")
  }

  test("vacuum sweeping the staging dir mid-resize is a lost claim: retried") {
    // a tiny conf'd file-size target makes every staged snapshot
    // "oversized", so the staged-bytes resize re-reads the staging dir
    spark.conf.set("spark.graft.snapshot.targetFileBytes", "1024")
    try {
      val root = freshRoot()
      val a = new TableStore(spark, root, "k")
      val b = new TableStore(spark, root, "k")
      assert(a.merge("t", ups(("base", "0", 1)), dels(), "f0"))
      // the seam runs after A's staging listing and before the resize
      // reads the dir back: B's vacuum sweeps it there, once
      val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
      a.onBeforeCommit = () =>
        if (attempts.getAndIncrement() == 0) b.vacuum("t", keepLast = 1)
      val big = spark.range(500).select(concat(lit("k"), col("id")).as("k"),
        concat(lit("x" * 200), col("id")).as("v"), col("id").as("seq"))
      assert(a.merge("t", big.repartition(1), dels(), "f1"),
        "the swept attempt must retry and commit, not fail the job")
      assert(attempts.get === 2, "exactly one retry after the sweep")
      assert(a.snapshot("t").get.count() === 501)
      assert(a.snapshotAt("t", 2).isDefined && a.snapshotAt("t", 3).isEmpty,
        "the retry commits v2; the swept attempt leaves no version")
      assert(a.mergedBatches.value === 2L && a.mergedUpserts.value === 501L,
        "a swept attempt must not move the batch counters")
    } finally spark.conf.unset("spark.graft.snapshot.targetFileBytes")
  }

  test("a compaction that loses its claim to a racing merge retries from the new snapshot") {
    val root = freshRoot()
    val a = new TableStore(spark, root, "k")
    val b = new TableStore(spark, root, "k")
    assert(a.merge("t", ups(("base", "0", 1)), dels(), "f0"))
    // A's first attempt stages a compaction of v1; in the window before
    // its claim B commits v2, once — A's claim of v2 must lose
    val raced = new java.util.concurrent.atomic.AtomicBoolean(false)
    a.onBeforeCommit = () =>
      if (raced.compareAndSet(false, true))
        assert(b.merge("t", ups(("kb", "b1", 1)), dels(), "fB"))

    assert(a.compact("t", numFiles = 1) === 3,
      "the retry must compact the racer's v2 into v3")
    assert(state(a) === Map("base" -> "0", "kb" -> "b1"))
    assert(a.snapshot("t").get.inputFiles.length === 1)
    assert(a.snapshotAt("t", 2).map(_.collect().map(r => r.getString(0) -> r.getString(1)).toMap)
      .contains(Map("base" -> "0", "kb" -> "b1")), "v2 must be the racer's state")
    val staged = graft.util.Dirs.list(java.nio.file.Paths.get(root, "t"))
      .map(_.getFileName.toString).filter(_.startsWith(".staging-"))
    assert(staged.isEmpty, s"the lost attempt left $staged behind")
  }

  test("unsynchronized stress: interleaved writers serialize, nothing lost") {
    val root = freshRoot()
    val a = new TableStore(spark, root, "k")
    val b = new TableStore(spark, root, "k")
    val perWriter = 6

    def run(store: TableStore, tag: String): Thread = {
      val t = new Thread(() => {
        (1 to perWriter).foreach { i =>
          assert(store.merge("t", ups((s"$tag$i", s"v$i", 1)), dels(),
            s"f-$tag$i"))
        }
      })
      t.start(); t
    }
    val (tA, tB) = (run(a, "a"), run(b, "b"))
    tA.join(300000); tB.join(300000)
    assert(!tA.isAlive && !tB.isAlive, "a writer hung")

    // every batch became exactly one committed version, in SOME serial
    // order; the final snapshot holds every key exactly once
    val finalState = state(a)
    val want = (1 to perWriter).flatMap(i =>
      Seq(s"a$i" -> s"v$i", s"b$i" -> s"v$i")).toMap
    assert(finalState === want)
    val vs = (1 to 2 * perWriter)
      .map(v => a.snapshotAt("t", v).map(_.collect().length))
    assert(vs.forall(_.isDefined), s"version chain has holes: $vs")
    assert(vs.flatten === (1 to 2 * perWriter),
      "each version must add exactly its one batch")
    assert(a.appliedFiles().size === 2 * perWriter)
  }
}
