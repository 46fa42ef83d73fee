package graft.stream

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileSystemException, Files, NoSuchFileException, Path, Paths}
import java.nio.file.StandardCopyOption.ATOMIC_MOVE
import java.util.UUID
import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._
import com.fasterxml.jackson.core.JacksonException
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types.MapType
import graft.util.Dirs

/** Keyed snapshot table with CDC MERGE semantics on plain parquet
  * (SURVEY T2/T3; reference behavior: pubmed.py:483-548,
  * dbutil.py:240-264).
  *
  * No Delta-style row-level MERGE exists in the offline jar set, so a
  * merge is a deterministic SNAPSHOT REWRITE into a new versioned
  * directory:
  *
  *   v(n+1) = ((v(n) ANTI-JOIN tombstones) ANTI-JOIN upsertKeys)
  *            UNION upserts(last-wins within batch)
  *
  * matching the reference's apply order: DeleteCitation tombstones
  * first, then `ON CONFLICT DO UPDATE` upserts (pubmed.py:533-546) —
  * so an upsert in the same batch as a tombstone re-inserts the key.
  *
  * Last-wins ([[TableStore.lastWins]], the one definition merge and
  * the incremental view maintenance share): the highest `seq` wins;
  * rows tied on `seq` are ordered by their data columns in column
  * order, so the pick never depends on partitioning or arrival order;
  * a null `seq` sorts below every value, so a key whose `seq` is all
  * null still keeps one whole row.
  *
  * Session rule: a merge builds every frame — the base snapshot read
  * included — in the UPSERTS' session, so the snapshot write runs in
  * the session its batch-stat observations are registered on. Inside
  * a streaming `foreachBatch` that is the batch's cloned session, not
  * the store's.
  *
  * Exactly-once per file (T2): every applied batch appends its
  * `source_filename` to an update_log table; re-applying a logged file
  * is a no-op (the reference's `already_done_updates` gate,
  * pubmed.py:113-117,461-469). Versioned snapshot dirs make the
  * rewrite atomic-by-rename-free: readers always resolve the highest
  * complete version (a _SUCCESS-marked parquet dir).
  *
  * Read rule: every version and staging dir is read with an explicit
  * schema, taken on the driver from the footer of the dir's own first
  * data file by the rule Spark's inference runs
  * (`GraftShim.parquetSchema`). A bare parquet read would infer the same
  * schema with a one-task Spark job per read; this one starts no job.
  *
  * Layout seam: the on-disk layout (below) is private to this class —
  * the version listing, the one version read, the staging and
  * crashed-aside names, the claim and the vacuum sweep. Callers see
  * versions only through [[snapshot]] and [[snapshotAt]].
  *
  * Fault contract (pinned by TableStoreFaultSpec): a v-dir without its
  * _SUCCESS marker is a crashed write — invisible to readers and
  * healed (renamed aside and removed) by the next merge; a crash
  * BETWEEN the snapshot write and the log append is repaired by
  * re-draining the source (the merge is idempotent by key, so the
  * re-applied version is value-identical and the log regains the
  * file); a second live writer whose log record predates another
  * writer's append refreshes it on a miss and cannot double-apply.
  *
  * Concurrency contract (pinned by TableStoreRaceSpec): merge and
  * compact commit through ONE optimistic loop ([[commit]]) — each
  * attempt writes its snapshot to a hidden `.staging-*` directory and
  * then claims `v(n+1)` with ONE atomic rename (the Delta/Iceberg
  * commit shape on a filesystem that has atomic
  * rename-without-replace). Two interleaved writers — A reads version
  * n, B commits v(n+1), A tries to commit — cannot lose an update: A's
  * rename onto the now-existing v(n+1) FAILS, and A retries from the
  * fresh snapshot, so committed versions form a serial order and every
  * version's content derives from its direct predecessor. Readers are
  * unaffected either way: a version directory appears atomically
  * complete (_SUCCESS included) or not at all. Two writers racing the
  * SAME source file can at worst both apply it — value-identical by
  * the key-idempotence above — leaving a duplicate audit row in the
  * update_log (a set, semantically) and never a duplicate data row.
  *
  * Threading: one writer thread per instance — merge and the
  * applied-files reads share an unsynchronized record of the log.
  * [[snapshot]] and [[snapshotAt]] touch no cache and may be called
  * from any thread.
  *
  * Scale note: the rewrite is one shuffle-free union of two anti-joins
  * keyed on the table key; at cluster scale the snapshot would be
  * bucketed by key so the anti-joins are co-partitioned. The nightly
  * batch volume (thousands of rows) is broadcast-sized against a
  * many-TB snapshot — Spark broadcasts the delta side automatically
  * under AQE.
  */
final class TableStore(spark: SparkSession, root: String, keyCol: String) {

  // ---- on-disk layout --------------------------------------------------
  //   <root>/<table>/v<n>              committed version n (parquet + _SUCCESS)
  //   <root>/<table>/.staging-v<n>-*   an attempt at v<n> before its claim
  //   <root>/<table>/.crashed-v<n>-*   a partial v<n> renamed aside for removal
  //   <root>/_update_log/log-*.json    one applied-file record per file
  //   <root>/_matviews/<table>         a maintained aggregate snapshot (T5)

  private def tableDir(table: String) = s"$root/$table"
  private def logDir = s"$root/_update_log"

  /** Location of a table's maintained aggregate snapshot (T5). */
  def matviewDir(table: String): String = s"$root/_matviews/$table"

  /** COMPLETE snapshot versions only: a v-dir without its _SUCCESS
    * marker is a crashed write (every commit goes through Spark's
    * committer, which writes the marker last), and resolving it as
    * current would silently serve truncated data — this filter is what
    * actually implements the "readers resolve the highest complete
    * version" promise in the class doc. The next writer to claim that
    * version number renames the partial dir aside and removes it
    * ([[claimVersion]]), so crashed attempts self-heal. Hidden aside
    * dirs never match the `v` prefix and are invisible here by
    * construction.
    */
  private def versions(table: String): Seq[Int] =
    Dirs.list(Paths.get(tableDir(table)))
      .filter(p => p.getFileName.toString.startsWith("v") &&
        Files.exists(p.resolve("_SUCCESS")))
      .map(_.getFileName.toString.drop(1).toInt)
      .sorted

  private def versionDir(table: String, v: Int): Path =
    Paths.get(tableDir(table), s"v$v")

  private val Staging = ".staging-"
  private val Crashed = ".crashed-"

  /** A fresh hidden aside dir (`prefix` is [[Staging]] or [[Crashed]])
    * for an attempt at, or the removal of, version `v`.
    */
  private def asideDir(table: String, prefix: String, v: Int): Path =
    Paths.get(tableDir(table), s"${prefix}v$v-${UUID.randomUUID()}")

  /** The one parquet read of a version or staging dir, in `session`
    * (class doc, session rule and read rule). The schema comes from the
    * dir's lexicographically first data file, the file Spark's own
    * inference picks (`ParquetUtils.splitFiles`). A dir with no data
    * file is read bare and fails as Spark fails it.
    */
  private def read(session: SparkSession, dir: Path): DataFrame =
    dataFiles(dir).minByOption(_.getFileName.toString)
      .fold(session.read)(f => session.read.schema(GraftShim.parquetSchema(session, f.toString)))
      .parquet(dir.toString)

  /** Latest committed snapshot, or None before the first merge. */
  def snapshot(table: String): Option[DataFrame] =
    versions(table).lastOption.map(v => read(spark, versionDir(table, v)))

  /** TIME TRAVEL: the snapshot as of merge `version` (1-based — the
    * state after the version-th applied batch), or None if that
    * version does not exist. Versioned snapshot directories are
    * retained by design (each merge writes v(n+1) and never rewrites
    * history), so reading an old version is a plain scan — the
    * lakehouse time-travel contract, with vacuuming left to a
    * retention policy exactly as in production table formats.
    */
  def snapshotAt(table: String, version: Int): Option[DataFrame] =
    versions(table).find(_ == version).map(v => read(spark, versionDir(table, v)))

  /** RETENTION: drop all but the newest `keepLast` snapshot versions —
    * the vacuum that bounds the q112 time-travel horizon (exactly the
    * production table-format contract: readers of the latest snapshot
    * are unaffected; as-of reads older than the horizon fail). Returns
    * the number of versions removed. The update_log is an audit table
    * and is never vacuumed.
    */
  def vacuum(table: String, keepLast: Int): Int = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val drop = versions(table).dropRight(keepLast)
    drop.foreach(v => Dirs.rmTree(versionDir(table, v)))
    // Reap orphaned aside dirs left by crashed writers (inert junk —
    // never reader-visible). A LIVE writer's staging can be swept too;
    // the commit loop treats that as a lost claim and retries, so
    // vacuum stays safe to run concurrently.
    Dirs.list(Paths.get(tableDir(table)))
      .filter(p => Seq(Staging, Crashed).exists(p.getFileName.toString.startsWith))
      .foreach(Dirs.rmTree)
    drop.size
  }

  // ---- update_log storage --------------------------------------------
  // The log is METADATA (three short strings per applied file), not
  // data: storing it as parquet made every append and every
  // exactly-once lookup a Spark job — at the nightly-merge cadence
  // that is 2 fixed-overhead jobs per batch for a table of a few
  // hundred bytes (measured round 16: ~25% of q131's wall was this
  // bookkeeping). An append is ONE driver-side atomic file move of a
  // JSON line (the same commit shape production table formats use for
  // their transaction logs), and lookups are driver-side reads.
  // Readers through [[updateLog]] still get a DataFrame (spark JSON
  // scan, same columns).
  //
  // Log files are append-only and uniquely named, so a store keeps ONE
  // record of the log for all its tables: the files it has read and
  // the (table, source_filename) pairs each holds. A refresh lists the
  // directory and reads only the names it has not seen; the store's
  // own appends enter the record directly. A single-writer merge
  // stream therefore costs one listing per merge and never re-reads a
  // file, and any other writer's append is a new name the next
  // refresh reads.

  /** Writes and reads every log line: Jackson is Spark's bundled JSON
    * library — the same parser `spark.read.json` uses, so the
    * driver-side and DataFrame views of the log always agree.
    */
  private val json = new ObjectMapper()

  /** (update_type, source_filename) of one non-empty log line. */
  private def parseLogLine(line: String): Option[(String, String)] =
    // a malformed line (a foreign file that slipped the log-*.json
    // listing filter, or a torn write on a filesystem without atomic
    // move) must be skipped, not take every merge down with it
    try {
      val node = json.readTree(line)
      val t = node.get("update_type")
      val f = node.get("source_filename")
      if (t == null || f == null) None else Some((t.asText, f.asText))
    } catch {
      case _: JacksonException => None
    }

  /** Log file names currently in the log directory.
    *
    * Exactly the names appendLog writes: a legacy parquet log dir
    * (pre-round-16 layout) or any foreign file must not be read as
    * JSONL — updateLog()'s spark scan is name-scoped by the same
    * convention. Such entries are ignored, so the files they record
    * would be re-applied; the first listing that meets one prints a
    * warning, once per store instance, from the same listing (no
    * extra filesystem call). Hidden names are in-flight appends.
    */
  private def listLogFiles(): Set[String] = {
    val (logs, other) = Dirs.list(Paths.get(logDir)).map(_.getFileName.toString)
      .partition(n => n.startsWith("log-") && n.endsWith(".json"))
    other.find(!_.startsWith(".")).foreach { n =>
      if (warnedForeignLog.compareAndSet(false, true))
        System.err.println(s"[graft] warn: update log $logDir holds entries that " +
          s"are not log-*.json (e.g. $n; the pre-round-16 parquet layout?); they " +
          "are ignored, so the files they record as applied will be re-applied")
    }
    logs.toSet
  }

  private val warnedForeignLog = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Append one applied-file record: write the JSON line to a hidden
    * temp file and claim its final name with ONE atomic move — the
    * same commit primitive the snapshot versions use, so a reader
    * (driver-side or `spark.read.json`) never sees a torn line and
    * two concurrent appenders never collide (unique names). Returns
    * the new file's name.
    */
  private def appendLog(table: String, sourceFilename: String): String = {
    Files.createDirectories(Paths.get(logDir))
    val fname = s"log-${UUID.randomUUID()}.json"
    val line = json.writeValueAsString(json.createObjectNode()
      .put("update_type", table)
      .put("source_filename", sourceFilename)
      .put("update_date", java.time.Instant.now.toString)) + "\n"
    val tmp = Paths.get(logDir, s".tmp-$fname")
    Files.write(tmp, line.getBytes(UTF_8))
    Files.move(tmp, Paths.get(logDir, fname), ATOMIC_MOVE)
    fname
  }

  /** The store's record of the log: each log file read so far → the
    * (update_type, source_filename) pairs it holds.
    */
  private val logRecord = mutable.Map.empty[String, Seq[(String, String)]]

  /** Bring [[logRecord]] up to the log directory with one listing:
    * read the names it has not seen and drop the ones that are gone.
    */
  private def refreshLog(): Unit = {
    val listing = listLogFiles()
    logRecord.filterInPlace((f, _) => listing(f))
    (listing -- logRecord.keySet).foreach(f => logRecord(f) = readLogFile(f))
  }

  /** The entries of one log file; none if it vanished after the
    * listing (removed concurrently — including the TOCTOU window
    * between the exists check and the read, where the removal
    * surfaces as NoSuchFileException).
    */
  private def readLogFile(f: String): Seq[(String, String)] = {
    val p = Paths.get(logDir, f)
    val text =
      if (!Files.exists(p)) ""
      else
        try new String(Files.readAllBytes(p), UTF_8)
        catch { case _: NoSuchFileException => "" }
    text.split('\n').toSeq.map(_.trim).filter(_.nonEmpty).flatMap(parseLogLine)
  }

  private def recorded(table: String): Iterator[String] =
    logRecord.valuesIterator.flatten.collect { case (t, f) if t == table => f }

  /** Applied source_filenames across ALL tables (audit view). */
  def appliedFiles(): Set[String] = {
    refreshLog()
    logRecord.valuesIterator.flatten.map(_._2).toSet
  }

  /** Applied source_filenames FOR ONE TABLE — the exactly-once gate is
    * scoped like the reference's `WHERE update_type='pubmed_update'`
    * lookup (pubmed.py:113-117): the same source file merged into two
    * different tables applies to both.
    */
  def appliedFiles(table: String): Set[String] = {
    refreshLog()
    recorded(table).toSet
  }

  /** The exactly-once gate: a hit in the record is final (log files
    * are never rewritten); a miss refreshes the record first, so a
    * file another instance applied since the last refresh is seen and
    * never applied twice.
    */
  private def isApplied(table: String, sourceFilename: String): Boolean =
    recorded(table).contains(sourceFilename) || {
      refreshLog()
      recorded(table).contains(sourceFilename)
    }

  def updateLog(): Option[DataFrame] =
    if (Files.exists(Paths.get(logDir)))
      Some(spark.read
        .schema("update_type STRING, source_filename STRING, update_date STRING")
        // same name scope as listLogFiles(): only appendLog's files are
        // JSONL — a legacy parquet log dir must not parse as JSON
        .option("pathGlobFilter", "log-*.json")
        .json(logDir))
    else None

  /** Batch-stats counters (A4; the reference's collections.Counter at
    * pubmed.py:458,480,550) — distributed-safe accumulators.
    */
  val mergedBatches = spark.sparkContext.longAccumulator("graft.merge.batches")
  val mergedUpserts = spark.sparkContext.longAccumulator("graft.merge.upserts")
  val mergedTombstones = spark.sparkContext.longAccumulator("graft.merge.tombstones")

  /** T6 full-refresh escape hatch (pubmed.py:436-444 force_update):
    * drop the table's snapshots so the next merges rebuild from
    * scratch. The update_log keeps its history (an audit table), so
    * re-ingest must use fresh source_filenames — exactly the
    * reference's wipe-and-reprocess flow.
    */
  def forceRefresh(table: String): Unit =
    Dirs.rmTree(Paths.get(tableDir(table)))

  /** Batch-stat count from an observation that rode the merge write.
    * The metrics arrive through the write session's async listener
    * bus, typically a few ms after the action returns; the bound only
    * turns a lost event into a loud failure instead of a hang. An
    * empty row means the optimizer pruned the observed subtree as
    * empty, so it counts 0. (One case undercounts: AQE drops the
    * tombstone side of a SHUFFLED anti-join whose base snapshot
    * turns out empty; at nightly batch sizes the key side is
    * broadcast and never dropped that way.)
    */
  private def observedCount(obs: Observation): Long = {
    val row = Await.result(obs.future, 60.seconds)
    if (row.length == 0) 0L else row.getLong(0)
  }

  /** Test seam for TableStoreRaceSpec: runs between the staging write
    * (and its listing) and the staged-bytes resize and atomic version
    * claim — the window where a racing writer's commit, or a vacuum
    * sweeping the staging dir, can land first.
    */
  private[graft] var onBeforeCommit: () => Unit = () => ()

  /** Claim `v` for the snapshot staged at `staging`: ONE atomic
    * rename. Returns false when another writer claimed `v` first (the
    * caller must recompute against the fresh snapshot and retry). A
    * pre-existing PARTIAL target (no _SUCCESS — a dead process's
    * crashed write from the pre-staging era, or manual damage) is
    * healed by atomically renaming it aside first, so exactly one
    * claimant removes it and none can remove a COMPLETE version (a
    * committed dir appears only via this rename, _SUCCESS included,
    * and a non-empty target always fails the rename).
    */
  private def claimVersion(table: String, v: Int, staging: Path): Boolean = {
    val target = versionDir(table, v)
    if (Files.exists(target) && !Files.exists(target.resolve("_SUCCESS"))) {
      val aside = asideDir(table, Crashed, v)
      try {
        Files.move(target, aside, ATOMIC_MOVE)
        Dirs.rmTree(aside)
      } catch { case _: NoSuchFileException => () }
    }
    try {
      Files.move(staging, target, ATOMIC_MOVE)
      true
    } catch {
      // a lost claim surfaces platform-dependently: EEXIST/ENOTEMPTY
      // arrive as FileAlreadyExists/DirectoryNotEmpty on some JDKs and
      // as a bare FileSystemException("Directory not empty") on Linux;
      // a concurrent vacuum() reaping our staging dir is NoSuchFile.
      // All are FileSystemExceptions, all mean "retry against the
      // fresh snapshot" — a genuine I/O fault then fails the commit
      // loop's bounded-attempts guard loudly instead of silently.
      case _: FileSystemException => false
    }
  }

  /** The data files of a snapshot or staging dir, from one directory
    * listing; markers and hidden files excluded.
    */
  private def dataFiles(dir: Path): Vector[Path] =
    Dirs.list(dir).filter { p =>
      val n = p.getFileName.toString
      !n.startsWith(".") && !n.startsWith("_") && Files.isRegularFile(p)
    }

  private def totalBytes(files: Seq[Path]): Long = files.map(Files.size).sum

  /** The ONE optimistic commit loop (class doc, Concurrency contract)
    * that merge and compact share. Each attempt pins its base to the
    * latest complete version and claims exactly base+1: claiming
    * "whatever is latest now + 1" instead would let a writer skip OVER
    * a version a racing writer committed between its base read and its
    * claim — committing content derived from v(n) as v(n+2) and
    * silently dropping v(n+1)'s rows (caught by TableStoreRaceSpec's
    * unsynchronized stress run). With the pin, any interleaved commit
    * makes the claim collide and the attempt is recomputed.
    *
    * An attempt: `stage(base, dir)` writes the snapshot derived from
    * version `base` (0 = none yet) into a fresh staging `dir` and
    * returns the attempt's result; the staged dir is listed once;
    * [[onBeforeCommit]] runs; `resize(files, bytes)` may name a file
    * count to rewrite the staged snapshot at (in `session`); then the
    * claim. After a lost claim the attempt's dirs are removed and
    * `stop` is checked (None when it holds); a bounded number of
    * attempts turns a stuck competing writer or a filesystem without
    * atomic rename into a loud failure. Returns the claimed version and
    * the winning attempt's result.
    */
  private def commit[A](table: String, session: SparkSession, what: String,
      stop: => Boolean = false, resize: (Long, Long) => Option[Int] = (_, _) => None)(
      stage: (Int, Path) => A): Option[(Int, A)] = {
    @annotation.tailrec
    def attempt(n: Int): Option[(Int, A)] = {
      val base = versions(table).lastOption.getOrElse(0)
      val v = base + 1
      var staging = asideDir(table, Staging, v)
      val result = stage(base, staging)
      val resized = asideDir(table, Staging, v)
      val claimed =
        try {
          val files = dataFiles(staging)
          onBeforeCommit()
          resize(files.size.toLong, totalBytes(files)).foreach { k =>
            read(session, staging).repartition(k)
              .write.mode(SaveMode.Overwrite).parquet(resized.toString)
            Dirs.rmTree(staging)
            staging = resized
          }
          claimVersion(table, v, staging)
        } catch {
          // a concurrent vacuum() swept the staging dir mid-resize: the
          // same lost claim claimVersion reports for a swept dir
          case _: Exception if !Files.exists(staging) => false
        }
      if (claimed) Some((v, result))
      else {
        Dirs.rmTree(staging)
        Dirs.rmTree(resized)
        if (stop) None
        else {
          require(n < 16, s"$what lost $n version claims in a row — a stuck " +
            "competing writer or a filesystem without atomic rename")
          attempt(n + 1)
        }
      }
    }
    attempt(1)
  }

  /** MERGE one CDC batch. `upserts` must contain `keyCol` plus a `seq`
    * ordering column for within-batch last-wins (P9; tie and null-`seq`
    * rules at [[TableStore.lastWins]]); `tombstones` is a one-column
    * frame of keys to delete, built in the upserts' session (class doc,
    * session rule). Returns true if applied, false if `sourceFilename`
    * was already logged (idempotent re-run).
    *
    * `allowSchemaEvolution = true` additionally accepts ADD-COLUMN
    * drift (see the union note below). Evolution is OPT-IN, exactly
    * like production formats' mergeSchema: the default strict union
    * keeps failing loudly on a misspelled or missing column, so one
    * malformed batch cannot silently pollute the table schema forever.
    */
  def merge(table: String, upserts: DataFrame, tombstones: DataFrame,
      sourceFilename: String, allowSchemaEvolution: Boolean = false): Boolean = {
    if (isApplied(table, sourceFilename)) return false
    // Session rule (class doc): the write must run in the session the
    // observations below register on, which is the upserts' session
    val session = upserts.sparkSession

    // Output file sizing (nightly tables accumulate versions; a
    // snapshot scattered across one file per upstream task pays
    // listing + footer + open cost on every later read): size the new
    // version's file count from the BASE version's on-disk bytes at a
    // ~targetFileBytes/file goal (default 128 MB, guide §6; conf-keyed
    // so a deployment — or a spec — can move it) — scale-adaptive, not
    // a local constant (a TB-size snapshot still writes thousands of
    // files). coalesce, not repartition: no extra exchange.
    val targetFileBytes = math.max(1L, spark.conf
      .get("spark.graft.snapshot.targetFileBytes", (128L << 20).toString)
      .toLong)
    def fileTarget(bytes: Long): Int =
      math.max(1L, math.min(1 << 20, bytes / targetFileBytes + 1)).toInt

    // Correct the sizing from the ACTUAL staged bytes (round 17):
    // sizing from the base version under-sizes a merge that grows the
    // table (a doubling merge writes ~256 MB files until the next merge
    // catches up), and a bootstrap has no base at all. When the staged
    // files average more than 2× the target, the commit loop rewrites
    // the staging dir once at the true target before the claim — a
    // second job only on large-growth merges, never on the
    // steady-state nightly path (the check itself is the loop's one
    // driver-side listing).
    def resize(files: Long, bytes: Long): Option[Int] =
      if (files > 0 && bytes > 2L * targetFileBytes * files) Some(fileTarget(bytes))
      else None

    // the winner of a lost claim may have applied THIS file (same-file
    // race): the exactly-once gate re-checks the log before a retry
    val committed = commit(table, session, s"merge of $sourceFilename into $table",
        stop = isApplied(table, sourceFilename), resize = resize) { (base, staging) =>
      // Batch-stat counts ride the merge job itself as observed
      // metrics (CollectMetrics on each input's single-consumption
      // path) — no extra count() actions re-running the upstream
      // lineage. Fresh per attempt: an Observation is single-use.
      val obsUp = Observation()
      val obsTomb = Observation()

      // The observation sits on the last-wins path, which consumes the
      // raw upserts exactly once (Catalyst clones shared subtrees, and
      // a duplicated CollectMetrics name is an analysis error).
      val dedupedUpserts = TableStore.lastWins(
        upserts.observe(obsUp, count(lit(1)).as("n")), keyCol)

      val next =
        if (base == 0) dedupedUpserts
        else {
          // allowMissingColumns (opt-in) = ADD-COLUMN schema evolution
          // (the Delta/Iceberg mergeSchema contract): a batch
          // introducing a new column widens the snapshot, surviving
          // old rows read NULL for it — the reference's jsonb columns
          // absorb exactly this drift silently (pubmed.py upserts
          // whole records). Under the strict default, any schema
          // mismatch is an AnalysisException.
          // ONE anti-join against the UNION of tombstone and upsert
          // keys — set-identical to the former two chained anti-joins
          // (removed iff key ∈ T ∪ U), and one broadcast build per
          // merge instead of two (round 16; each build is its own job
          // on the nightly path)
          read(session, versionDir(table, base))
            .join(tombstones
                .observe(obsTomb, count(lit(1)).as("n"))
                .select(col(tombstones.columns.head).as(keyCol))
                .unionAll(upserts.select(col(keyCol))),
              Seq(keyCol), "left_anti")
            .unionByName(dedupedUpserts,
              allowMissingColumns = allowSchemaEvolution)
            .coalesce(fileTarget(totalBytes(dataFiles(versionDir(table, base)))))
        }
      next.write.mode(SaveMode.Overwrite).parquet(staging.toString)
      // Bootstrap: tombstones are a no-op and never execute, so the
      // observation never fires — count them with one small extra
      // job, first merge of a table's life only.
      (observedCount(obsUp),
        if (base == 0) tombstones.count() else observedCount(obsTomb))
    }
    committed.foreach { case (_, (upsertsSeen, tombstonesSeen)) =>
      mergedBatches.add(1)
      mergedUpserts.add(upsertsSeen)
      mergedTombstones.add(tombstonesSeen)
      // our own append holds exactly our entry: it enters the record
      // without a read
      logRecord(appendLog(table, sourceFilename)) = Seq((table, sourceFilename))
    }
    committed.isDefined
  }

  /** COMPACTION (the lakehouse OPTIMIZE): rewrite the latest snapshot
    * into `numFiles` files as a NEW version. Values are untouched —
    * compaction is a layout change, not a data change — so the
    * update_log is untouched too (no source file was applied), old
    * versions stay readable for time travel ([[snapshotAt]]) until
    * [[vacuum]] claims them, and a crash mid-write leaves the previous
    * version current (the same versioned-dir atomicity merge relies
    * on). Nightly-merge tables accumulate one small file set per
    * batch; without this the file count grows with batches and scan
    * planning/open costs grow with it. At 100 TB the rewrite
    * bin-packs by target size and runs per partition/bucket;
    * `repartition(numFiles)` models exactly that placement choice.
    * Returns the new version number.
    */
  def compact(table: String, numFiles: Int): Int = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    // the same commit loop as merge: losing the claim means a writer
    // committed a NEWER snapshot — compacting the stale one would be
    // wasted work, so the retry recomputes from the fresh latest
    commit(table, spark, s"compaction of $table") { (base, staging) =>
      require(base > 0, s"no snapshot to compact for table $table")
      read(spark, versionDir(table, base)).repartition(numFiles)
        .write.mode(SaveMode.Overwrite).parquet(staging.toString)
    }.get._1
  }
}

object TableStore {

  /** Within-batch LAST-WINS (P9; the reference's reverse-pop loop,
    * pubmed.py:492-504): one row per `keyCol`, the one with the highest
    * `seq`. The single definition [[TableStore.merge]] and the
    * incremental view maintenance ([[Ivm]], q111) share, so both always
    * see the same surviving rows.
    *
    * Ties: rows with equal `seq` are ordered by their data columns in
    * column order, so the pick depends only on the rows' values —
    * never on partitioning or arrival order. Nulls: a null `seq` sorts
    * below every value, so a key whose `seq` is all null still keeps
    * one whole row (the tie rule picks it), not NULL columns.
    *
    * Maps: Spark does not order maps, so a top-level map column enters
    * the row as its entries sorted by key (`array_sort(map_entries)`)
    * and leaves as `map_from_entries` of them. A schema without a map
    * column builds the plain expression. A map nested in another type,
    * or one whose entries do not order, still fails analysis.
    *
    * One `max` over struct(seq, row) — a partial aggregation keeps at
    * most one row per key per map partition before the exchange, with
    * no window sort (round 17: aggregate before you shuffle). Returns
    * every column but `seq`, in input order.
    */
  def lastWins(upserts: DataFrame, keyCol: String): DataFrame = {
    val dataCols = upserts.columns.filterNot(_ == "seq")
    val maps = upserts.schema.fields
      .collect { case f if f.dataType.isInstanceOf[MapType] => f.name }.toSet
    val row = col("__w").getField("row")
    upserts
      .groupBy(col(keyCol))
      .agg(max(struct(col("seq"), struct(dataCols.map(c =>
          if (maps(c)) array_sort(map_entries(col(c))).as(c) else col(c)): _*)
        .as("row"))).as("__w"))
      .select(dataCols.map(c =>
        if (c == keyCol) col(keyCol)
        else if (maps(c)) map_from_entries(row.getField(c)).as(c)
        else row.getField(c).as(c)): _*)
  }
}
