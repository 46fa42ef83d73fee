package graft.stream

import java.nio.file.{Files, Path, Paths}
import scala.concurrent.Await
import scala.concurrent.duration._
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
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
  * Fault contract (pinned by TableStoreFaultSpec): a v-dir without its
  * _SUCCESS marker is a crashed write — invisible to readers and
  * healed (renamed aside and removed) by the next merge; a crash
  * BETWEEN the snapshot write and the log append is repaired by
  * re-draining the source (the merge is idempotent by key, so the
  * re-applied version is value-identical and the log regains the
  * file); a second live writer with a stale applied-files cache
  * re-reads the log on a miss and cannot double-apply.
  *
  * Concurrency contract (pinned by TableStoreRaceSpec): commits use
  * OPTIMISTIC version claiming — each merge writes its snapshot to a
  * hidden `.staging-*` directory and then claims `v(n+1)` with ONE
  * atomic rename (the Delta/Iceberg commit shape on a filesystem that
  * has atomic rename-without-replace). Two interleaved writers — A
  * reads version n, B commits v(n+1), A tries to commit — cannot lose
  * an update: A's rename onto the now-existing v(n+1) FAILS, and A
  * retries the whole merge from the fresh snapshot, so committed
  * versions form a serial order and every version's content derives
  * from its direct predecessor. Readers are unaffected either way: a
  * version directory appears atomically complete (_SUCCESS included)
  * or not at all. Two writers racing the SAME source file can at
  * worst both apply it — value-identical by the key-idempotence above
  * — leaving a duplicate audit row in the update_log (a set,
  * semantically) and never a duplicate data row.
  *
  * Scale note: the rewrite is one shuffle-free union of two anti-joins
  * keyed on the table key; at cluster scale the snapshot would be
  * bucketed by key so the anti-joins are co-partitioned. The nightly
  * batch volume (thousands of rows) is broadcast-sized against a
  * many-TB snapshot — Spark broadcasts the delta side automatically
  * under AQE.
  */
final class TableStore(spark: SparkSession, root: String, keyCol: String) {

  private def tableDir(table: String) = s"$root/$table"
  private def logDir = s"$root/_update_log"

  /** Location of a table's maintained aggregate snapshot (T5). */
  def matviewDir(table: String): String = s"$root/_matviews/$table"

  /** COMPLETE snapshot versions only: a v-dir without its _SUCCESS
    * marker is a crashed write (merge and compact both go through
    * Spark's committer, which writes the marker last), and resolving
    * it as current would silently serve truncated data — this filter
    * is what actually implements the "readers resolve the highest
    * complete version" promise in the class doc. The next writer to
    * claim that version number renames the partial dir aside and
    * removes it ([[claimVersion]]), so crashed attempts self-heal.
    * Hidden `.staging-*` / `.crashed-*` dirs never match the `v`
    * prefix and are invisible here by construction.
    */
  private def versions(table: String): Seq[Int] =
    Dirs.list(Paths.get(tableDir(table)))
      .filter(p => p.getFileName.toString.startsWith("v") &&
        Files.exists(p.resolve("_SUCCESS")))
      .map(_.getFileName.toString.drop(1).toInt)
      .sorted

  private def versionDir(table: String, v: Int): Path =
    Paths.get(tableDir(table), s"v$v")

  /** A fresh hidden staging dir for an attempt at version `v`. */
  private def stagingDir(table: String, v: Int): Path =
    Paths.get(tableDir(table), s".staging-v$v-${java.util.UUID.randomUUID()}")

  /** Latest committed snapshot, or None before the first merge. */
  def snapshot(table: String): Option[DataFrame] =
    versions(table).lastOption.map(v =>
      spark.read.parquet(versionDir(table, v).toString))

  /** TIME TRAVEL: the snapshot as of merge `version` (1-based — the
    * state after the version-th applied batch), or None if that
    * version does not exist. Versioned snapshot directories are
    * retained by design (each merge writes v(n+1) and never rewrites
    * history), so reading an old version is a plain scan — the
    * lakehouse time-travel contract, with vacuuming left to a
    * retention policy exactly as in production table formats.
    */
  def snapshotAt(table: String, version: Int): Option[DataFrame] =
    versions(table).find(_ == version).map(v =>
      spark.read.parquet(versionDir(table, v).toString))

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
    // Reap orphaned .staging-*/.crashed-* dirs left by crashed
    // writers (inert junk — never reader-visible). A LIVE writer's
    // staging can be swept too; the merge treats that as a lost claim
    // and retries, so vacuum stays safe to run concurrently.
    Dirs.list(Paths.get(tableDir(table)))
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith(".staging-") || n.startsWith(".crashed-")
      }
      .foreach(Dirs.rmTree)
    drop.size
  }

  // ---- update_log storage --------------------------------------------
  // The log is METADATA (three short strings per applied file), not
  // data: storing it as parquet made every append and every
  // exactly-once lookup a Spark job — at the nightly-merge cadence
  // that is 2 fixed-overhead jobs per batch for a table of a few
  // hundred bytes (measured round 16: ~25% of q131's wall was this
  // bookkeeping). Appends are now ONE driver-side atomic file move of
  // a JSON line (the same commit shape production table formats use
  // for their transaction logs), and lookups are driver-side reads.
  // Readers through [[updateLog]] still get a DataFrame (spark JSON
  // scan, same columns), and the concurrency story is unchanged:
  // appends create unique files atomically, and the exactly-once gate
  // re-reads the log whenever the directory listing has changed.

  private def jsonEscape(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.toString
  }

  /** Fields of one log line, parsed with Jackson (Spark's bundled
    * JSON library — the same parser `spark.read.json` uses, so the
    * driver-side and DataFrame views of the log always agree).
    */
  private def parseLogLine(line: String): Option[(String, String)] = {
    if (line.isEmpty) None
    else {
      // a malformed line (a foreign file that slipped the log-*.json
      // listing filter, or a torn write on a filesystem without atomic
      // move) must be skipped, not take every merge down with it
      try {
        val node = jsonMapper.readTree(line)
        val t = node.get("update_type")
        val f = node.get("source_filename")
        if (t == null || f == null) None else Some((t.asText, f.asText))
      } catch {
        case _: com.fasterxml.jackson.core.JacksonException => None
      }
    }
  }

  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Non-hidden log file names currently in the log directory (the
    * cheap "has any writer appended?" fingerprint the cache-miss path
    * compares against the listing its cache was read under).
    */
  private def listLogFiles(): Set[String] =
    Dirs.list(Paths.get(logDir)).map(_.getFileName.toString)
      // exactly the names appendLog writes: a legacy parquet log dir
      // (pre-round-16 layout) or any foreign file must not be read as
      // JSONL — updateLog()'s spark scan is similarly name-scoped by
      // the same convention
      .filter(n => n.startsWith("log-") && n.endsWith(".json"))
      .toSet

  /** Append one applied-file record: write the JSON line to a hidden
    * temp file and claim its final name with ONE atomic move — the
    * same commit primitive the snapshot versions use, so a reader
    * (driver-side or `spark.read.json`) never sees a torn line and
    * two concurrent appenders never collide (unique names).
    */
  private def appendLog(table: String, sourceFilename: String): String = {
    Files.createDirectories(Paths.get(logDir))
    val fname = s"log-${java.util.UUID.randomUUID()}.json"
    val line = s"""{"update_type":"${jsonEscape(table)}","source_filename":"${jsonEscape(sourceFilename)}","update_date":"${java.time.Instant.now.toString}"}""" + "\n"
    val tmp = Paths.get(logDir, s".tmp-$fname")
    Files.write(tmp, line.getBytes("UTF-8"))
    Files.move(tmp, Paths.get(logDir, fname),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    fname
  }

  /** Applied source_filenames across ALL tables (audit view). */
  def appliedFiles(): Set[String] =
    readLogEntries(listLogFiles()).map(_._2).toSet

  /** Applied source_filenames FOR ONE TABLE — the exactly-once gate is
    * scoped like the reference's `WHERE update_type='pubmed_update'`
    * lookup (pubmed.py:113-117): the same source file merged into two
    * different tables applies to both. Loaded from the log once per
    * (instance, table) and maintained incrementally by merge(); a
    * filename MISSING from the cache triggers a log re-read before
    * merge applies it, so a second live instance writing the same root
    * cannot cause a double-apply (the cache only ever under-reports,
    * and the miss path restores the read-the-log-every-merge
    * robustness of the uncached design at the same cost).
    */
  def appliedFiles(table: String): Set[String] =
    appliedCache.getOrElseUpdate(table, readLog(table)).toSet

  /** (update_type, source_filename) rows of exactly the given log
    * files — reading ONLY the captured listing keeps the cache and
    * the listing it is tagged with consistent even if another writer
    * appends mid-read.
    */
  private def readLogEntries(files: Set[String]): Seq[(String, String)] =
    files.toSeq.flatMap { f =>
      // a file listed a moment ago can be vacuumed away concurrently;
      // treat it as gone (its entries were rewritten or reclaimed) —
      // including the TOCTOU window between the exists check and the
      // read, where the removal surfaces as NoSuchFileException
      val p = Paths.get(logDir, f)
      val bytes =
        if (!Files.exists(p)) None
        else
          try Some(Files.readAllBytes(p))
          catch { case _: java.nio.file.NoSuchFileException => None }
      bytes match {
        case None => Seq.empty
        case Some(bs) => new String(bs, "UTF-8")
          .split('\n').toSeq.flatMap(l => parseLogLine(l.trim))
      }
    }

  private def readLog(table: String): scala.collection.mutable.Set[String] = {
    val listing = listLogFiles()
    val entries = readLogEntries(listing)
    cacheListing(table) = listing
    scala.collection.mutable.Set(
      entries.collect { case (t, f) if t == table => f }: _*)
  }

  /** Cache-hit fast path; on miss, refresh from the log (another
    * instance may have applied the file since this cache loaded) —
    * unless the log directory's listing is UNCHANGED from the one the
    * cache was read under, in which case the cache is provably
    * current and the miss is authoritative (no re-read needed: every
    * append creates a new file, so a writer this cache has not seen
    * implies a listing difference).
    */
  private def isApplied(table: String, sourceFilename: String): Boolean = {
    val cached = appliedCache.getOrElseUpdate(table, readLog(table))
    cached.contains(sourceFilename) || {
      if (cacheListing.get(table).contains(listLogFiles())) false
      else {
        val fresh = readLog(table)
        appliedCache(table) = fresh
        fresh.contains(sourceFilename)
      }
    }
  }

  private val appliedCache =
    scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[String]]
  /** Log-directory listing each table's cache was read under. Our own
    * appends update it in place (we KNOW the file we just wrote and
    * that it contains only our own entry), so a single-writer merge
    * stream never re-reads the log; any foreign append leaves a file
    * the listing lacks and forces the re-read.
    */
  private val cacheListing =
    scala.collection.mutable.Map.empty[String, Set[String]]

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
      val aside = Paths.get(s"${tableDir(table)}/.crashed-v$v-" +
        java.util.UUID.randomUUID())
      try {
        Files.move(target, aside,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        Dirs.rmTree(aside)
      } catch { case _: java.nio.file.NoSuchFileException => () }
    }
    try {
      Files.move(staging, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      true
    } catch {
      // a lost claim surfaces platform-dependently: EEXIST/ENOTEMPTY
      // arrive as FileAlreadyExists/DirectoryNotEmpty on some JDKs and
      // as a bare FileSystemException("Directory not empty") on Linux;
      // a concurrent vacuum() reaping our staging dir is NoSuchFile.
      // All are FileSystemExceptions, all mean "retry against the
      // fresh snapshot" — a genuine I/O fault then fails the retry
      // loop's bounded-attempts guard loudly instead of silently.
      case _: java.nio.file.FileSystemException => false
    }
  }

  /** (count, total bytes) of the data files in a snapshot or staging
    * dir from one directory listing; markers and hidden files
    * excluded.
    */
  private def dataFiles(dir: Path): (Long, Long) = {
    val files = Dirs.list(dir).filter { p =>
      val n = p.getFileName.toString
      !n.startsWith(".") && !n.startsWith("_") && Files.isRegularFile(p)
    }
    (files.size.toLong, files.map(Files.size).sum)
  }

  /** MERGE one CDC batch. `upserts` must contain `keyCol` plus a `seq`
    * ordering column for within-batch last-wins (P9; tie and null-`seq`
    * rules at [[TableStore.lastWins]]); `tombstones` is a one-column
    * frame of keys to delete, built in the upserts' session (class doc,
    * session rule). Returns true if applied, false if `sourceFilename`
    * was already logged (idempotent re-run).
    */
  def merge(table: String, upserts: DataFrame, tombstones: DataFrame,
      sourceFilename: String): Boolean =
    merge(table, upserts, tombstones, sourceFilename,
      allowSchemaEvolution = false)

  /** As [[merge]]; `allowSchemaEvolution = true` additionally accepts
    * ADD-COLUMN drift (see the union note below). Evolution is OPT-IN,
    * exactly like production formats' mergeSchema: the default strict
    * union keeps failing loudly on a misspelled or missing column, so
    * one malformed batch cannot silently pollute the table schema
    * forever.
    */
  def merge(table: String, upserts: DataFrame, tombstones: DataFrame,
      sourceFilename: String, allowSchemaEvolution: Boolean): Boolean = {
    if (isApplied(table, sourceFilename)) return false
    // Session rule (class doc): the write must run in the session the
    // observations below register on, which is the upserts' session
    val session = upserts.sparkSession

    // Optimistic-commit loop (class doc, Concurrency contract): each
    // attempt recomputes against the CURRENT snapshot, stages the
    // result, and claims the next version with one atomic rename; a
    // lost claim means a racing writer committed first, so recompute
    // and retry. Single-writer deployments never loop.
    var attempt = 0
    while (true) {
      attempt += 1

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

      // The BASE version is read ONCE per attempt and the claim is
      // pinned to base+1: claiming "whatever is latest now + 1"
      // instead would let this writer skip OVER a version a racing
      // writer committed between our snapshot read and our claim —
      // committing content derived from v(n) as v(n+2) and silently
      // dropping v(n+1)'s rows (caught by TableStoreRaceSpec's
      // unsynchronized stress run). With the pin, any interleaved
      // commit makes OUR claim collide and we recompute.
      val baseV = versions(table).lastOption.getOrElse(0)
      val bootstrap = baseV == 0
      val next =
        if (bootstrap) dedupedUpserts
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
          session.read.parquet(versionDir(table, baseV).toString)
            .join(tombstones
                .observe(obsTomb, count(lit(1)).as("n"))
                .select(col(tombstones.columns.head).as(keyCol))
                .unionAll(upserts.select(col(keyCol))),
              Seq(keyCol), "left_anti")
            .unionByName(dedupedUpserts,
              allowMissingColumns = allowSchemaEvolution)
        }

      val v = baseV + 1
      // Output file sizing (nightly tables accumulate versions; a
      // snapshot scattered across one file per upstream task pays
      // listing + footer + open cost on every later read): size the
      // new version's file count from the PREVIOUS version's on-disk
      // bytes at a ~targetFileBytes/file goal (default 128 MB, guide
      // §6; conf-keyed so a deployment — or a spec — can move it) —
      // scale-adaptive, not a local constant (a TB-size snapshot
      // still writes thousands of files). coalesce, not repartition:
      // no extra exchange.
      val targetFileBytes = math.max(1L, spark.conf
        .get("spark.graft.snapshot.targetFileBytes", (128L << 20).toString)
        .toLong)
      def fileTarget(bytes: Long): Long =
        math.max(1L, math.min(1 << 20, bytes / targetFileBytes + 1))
      val sized =
        if (bootstrap) next
        else next.coalesce(fileTarget(dataFiles(versionDir(table, baseV))._2).toInt)
      var staging = stagingDir(table, v)
      sized.write.mode(SaveMode.Overwrite).parquet(staging.toString)
      val upsertsSeen = observedCount(obsUp)
      // Bootstrap: tombstones are a no-op and never execute, so the
      // observation never fires — count them with one small extra
      // job, first merge of a table's life only.
      val tombstonesSeen =
        if (bootstrap) tombstones.count() else observedCount(obsTomb)

      // Correct the sizing from the ACTUAL staged bytes (round 17):
      // sizing from the previous version under-sizes a merge that
      // grows the table (a doubling merge writes ~256 MB files until
      // the next merge catches up), and a bootstrap has no previous
      // version at all. When the staged files average more than 2× the
      // target, rewrite the staging dir once at the true target before
      // the claim — a second job only on large-growth merges, never on
      // the steady-state nightly path (the check itself is one
      // driver-side listing).
      val resized = stagingDir(table, v)
      val claimed =
        try {
          val (stagedFiles, stagedBytes) = dataFiles(staging)
          onBeforeCommit()
          if (stagedFiles > 0 && stagedBytes > 2L * targetFileBytes * stagedFiles) {
            session.read.parquet(staging.toString)
              .repartition(fileTarget(stagedBytes).toInt)
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
      if (claimed) {
        mergedBatches.add(1)
        mergedUpserts.add(upsertsSeen)
        mergedTombstones.add(tombstonesSeen)

        val logFile = appendLog(table, sourceFilename)
        appliedCache(table) += sourceFilename
        // our own append: attribution is exact (the file holds only
        // our entry), so every table's cached listing absorbs it
        // without a re-read; a FOREIGN append stays missing from the
        // listing and still forces the miss-path re-read
        cacheListing.keys.foreach(t => cacheListing(t) += logFile)
        return true
      }
      Dirs.rmTree(staging)
      Dirs.rmTree(resized)
      // the winner may have applied THIS file (same-file race): the
      // exactly-once gate re-checks the log before the next attempt
      if (isApplied(table, sourceFilename)) return false
      require(attempt < 16,
        s"merge of $sourceFilename into $table lost $attempt version " +
          "claims in a row — a stuck competing writer or a filesystem " +
          "without atomic rename")
    }
    false // unreachable
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
    var attempt = 0
    while (true) {
      attempt += 1
      val vs = versions(table)
      require(vs.nonEmpty, s"no snapshot to compact for table $table")
      val cur = spark.read.parquet(versionDir(table, vs.last).toString)
      val v = vs.last + 1
      val staging = stagingDir(table, v)
      cur.repartition(numFiles).write
        .mode(SaveMode.Overwrite).parquet(staging.toString)
      onBeforeCommit()
      // same optimistic claim as merge: losing means a writer
      // committed a NEWER snapshot — compacting the stale one would
      // be wasted work, so recompute from the fresh latest
      if (claimVersion(table, v, staging)) return v
      Dirs.rmTree(staging)
      require(attempt < 16,
        s"compaction of $table lost $attempt version claims in a row")
    }
    -1 // unreachable
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
    * One `max` over struct(seq, row) — a partial aggregation keeps at
    * most one row per key per map partition before the exchange, with
    * no window sort (round 17: aggregate before you shuffle). Returns
    * every column but `seq`, in input order.
    */
  def lastWins(upserts: DataFrame, keyCol: String): DataFrame = {
    val dataCols = upserts.columns.filterNot(_ == "seq")
    val row = col("__w").getField("row")
    upserts
      .groupBy(col(keyCol))
      .agg(max(struct(col("seq"), struct(dataCols.map(col): _*).as("row")))
        .as("__w"))
      .select(dataCols.map(c =>
        if (c == keyCol) col(keyCol) else row.getField(c).as(c)): _*)
  }
}
