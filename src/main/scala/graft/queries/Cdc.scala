package graft.queries

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.stream.TableStore

/** CDC MERGE correctness entry (SURVEY T2/T3, pubmed.py:483-548).
  *
  * Derives 5 ordered "update files" from the events table
  * (batch = event_id % 5), treats event_type='error' rows as
  * DeleteCitation tombstones and everything else as upserts keyed by
  * user_id, and applies them SEQUENTIALLY through TableStore.merge —
  * deletes first, then last-wins upserts, per batch — then re-applies
  * batch 2 under its already-logged source_filename to prove
  * exactly-once idempotence (the re-run must be a no-op or the hash
  * breaks).
  *
  * The DuckDB oracle computes the equivalent closed form: a key is
  * present iff its best upsert batch >= its last tombstone batch
  * (same-batch upserts re-insert, matching the reference's
  * delete-then-upsert order), valued by the (batch, ts, event_id)-max
  * upsert.
  *
  * Every batch-merge entry shares one drive and one oracle rule:
  * [[cdcBatches]] derives the batches, [[mergeAll]] applies them in
  * order, and [[cdcStateSql]] is the closed form every CDC oracle
  * reads (the state after all five batches, or after batches 0..b
  * for the time-travel entries q112/q150).
  */
object Cdc {

  /** The shared 5-batch CDC derivation (batch = event_id % 5): upsert
    * and tombstone frames per batch, shared by every batch-merge entry
    * so all of them exercise the SAME workload.
    */
  private def cdcBatches(s: SparkSession, d: String)
      : (Int => DataFrame, Int => DataFrame) = {
    // One eager localCheckpoint: the 5-batch derivation is consumed
    // 2×5 times by the sequential merges (plus re-apply probes), and
    // without it EVERY merge re-scans the events parquet — 20+ scans
    // of the same bytes per query (round-16 profile: q131 ran 90
    // stages, most of them these re-scans). The checkpoint holds the
    // batch-tagged rows once; merges read the materialized blocks.
    // Recomputed per invocation — nothing persists across runs.
    val ev = Tables.events(s, d).withColumn("batch", pmod(col("event_id"), lit(5)))
      .transform(graft.ops.Reuse.pin)
    val upserts = (b: Int) => ev.filter(col("batch") === b)
      .filter(col("event_type") =!= "error")
      .select(col("user_id"), col("event_type").as("last_type"),
        col("value").as("last_value"),
        struct(col("ts"), col("event_id")).as("seq"))
    val tombstones = (b: Int) => ev.filter(col("batch") === b)
      .filter(col("event_type") === "error")
      .select(col("user_id"))
    (upserts, tombstones)
  }

  /** The plain CDC drive: merge batches 0..4 into table `state` in
    * order, each logged under the source filename `<prefix>_<b>`.
    */
  private def mergeAll(store: TableStore, upserts: Int => DataFrame,
      tombstones: Int => DataFrame, prefix: String = "batch"): Unit =
    for (b <- 0 until 5)
      store.merge("state", upserts(b), tombstones(b), s"${prefix}_$b")

  /** The closed form of [[cdcBatches]] + [[mergeAll]] as one DuckDB
    * query over `events`: the table state after batches 0..`upTo`
    * (all five when None). One row per present key: user_id,
    * last_type, last_value, and the winning upsert's batch and
    * event_id.
    */
  private def cdcStateSql(upTo: Option[Int] = None): String = {
    val kept = upTo.fold("")(b => s" AND batch <= $b")
    s"""WITH ev AS (SELECT user_id, event_type, value, ts, event_id,
            event_id % 5 AS batch, (event_type = 'error') AS is_del FROM events),
      lu AS (SELECT user_id, event_type AS last_type, value AS last_value,
               batch, event_id,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY batch DESC, ts DESC, event_id DESC) AS rn
             FROM ev WHERE NOT is_del$kept),
      ld AS (SELECT user_id, max(batch) AS del_batch FROM ev
             WHERE is_del$kept GROUP BY 1)
      SELECT u.user_id, u.last_type, u.last_value, u.batch, u.event_id
      FROM lu u LEFT JOIN ld d ON u.user_id = d.user_id
      WHERE u.rn = 1 AND (d.del_batch IS NULL OR u.batch >= d.del_batch)"""
  }

  /** Closed-form final CDC state (the q44 oracle, reused by q131 and
    * q139: refresh and compaction must land on the SAME state).
    */
  private val cdcFinalStateSql =
    s"""WITH fin AS (${cdcStateSql()})
      SELECT user_id, last_type, last_value FROM fin ORDER BY user_id"""

  private val q44CdcMerge = Q(
    "q44_cdc_merge",
    (s, d) => {
      val root = Files.createTempDirectory("graft-cdc-").toString
      val store = new TableStore(s, root, "user_id")
      val (upserts, tombstones) = cdcBatches(s, d)

      mergeAll(store, upserts, tombstones)
      // idempotence probe: already-logged file must be a no-op
      val reapplied = store.merge("state", upserts(2), tombstones(2), "batch_2")
      require(!reapplied, "update_log failed to gate an already-applied file")

      store.snapshot("state").get.orderBy("user_id")
    },
    Some(cdcFinalStateSql))

  /** A4 oracle entry (round-5 verdict: the last two §2 rows were
    * spec-only). The batch-stats counters — the reference's
    * collections.Counter tallies printed after every update run
    * (pubmed.py:458,480,550) — surfaced as a one-row queryable frame
    * after driving the exact q44 workload: batches applied, raw
    * upserts seen, tombstones seen. The idempotent re-apply of an
    * already-logged file is part of the probe: it must NOT move any
    * counter (the gate returns before the first add), so the oracle's
    * whole-table counts only match if exactly-once held. Counter
    * transport is accumulator + observe() — no extra count() jobs on
    * the merge path (A4's scale point: stats ride the write).
    */
  private val q130MergeStats = Q(
    "q130_merge_stats",
    (s, d) => {
      val root = Files.createTempDirectory("graft-a4-").toString
      val store = new TableStore(s, root, "user_id")
      val (upserts, tombstones) = cdcBatches(s, d)
      mergeAll(store, upserts, tombstones)
      // counters must not move on an already-logged file
      val before = (store.mergedBatches.value, store.mergedUpserts.value,
        store.mergedTombstones.value)
      store.merge("state", upserts(3), tombstones(3), "batch_3")
      val after = (store.mergedBatches.value, store.mergedUpserts.value,
        store.mergedTombstones.value)
      require(before == after,
        s"idempotent re-apply moved the A4 counters: $before -> $after")
      val out = s.range(1).select(
        lit(store.mergedBatches.value).as("batches_applied"),
        lit(store.mergedUpserts.value).as("upserts_seen"),
        lit(store.mergedTombstones.value).as("tombstones_seen"))
      Scratch.sealAndClean(out, root)
    },
    // batches_applied is the WORKLOAD constant (5 merges apply whether
    // or not a residue class happens to be empty — an empty batch is
    // still applied and logged), so the oracle states 5 directly
    // rather than count(DISTINCT event_id % 5), which would diverge on
    // a fixture missing a residue
    Some("""SELECT CAST(5 AS BIGINT) AS batches_applied,
      CAST(count(*) FILTER (WHERE event_type <> 'error') AS BIGINT) AS upserts_seen,
      CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS tombstones_seen
      FROM events"""),
    // bench-flagged so the driver's sampled runs exercise the A4
    // counters — q130 had an oracle but no CORRECTNESS row through r06
    bench = true)

  /** T6 oracle entry: the full-refresh escape hatch
    * (pubmed.py:436-444 force_update — wipe the derived table, leave
    * the audit log, reprocess everything). Applies the q44 workload
    * incrementally, snapshots the final state to scratch parquet,
    * WIPES the table via forceRefresh, reprocesses all five batches
    * under fresh source_filenames (the audit log keeps history, so a
    * STALE filename must still be gated — probed), and proves the
    * rebuilt state is row-identical to the incremental one with two
    * distributed exceptAll probes (no driver-side diff — the equality
    * check is itself a Spark job, so it holds at any scale). Oracle:
    * the same closed form as q44 — refresh must land exactly there.
    */
  private val q131ForceRefresh = Q(
    "q131_force_refresh",
    (s, d) => {
      val root = Files.createTempDirectory("graft-t6-").toString
      val store = new TableStore(s, s"$root/store", "user_id")
      val (upserts, tombstones) = cdcBatches(s, d)
      mergeAll(store, upserts, tombstones)
      // materialize the incremental final state OUTSIDE the table dir
      // (forceRefresh deletes the snapshot files under a lazy reader):
      // an eager localCheckpoint pins the rows in block storage — no
      // scratch parquet write + re-read round-trip
      val incremental = store.snapshot("state").get.transform(graft.ops.Reuse.pin)
      store.forceRefresh("state")
      require(store.snapshot("state").isEmpty,
        "forceRefresh left a snapshot behind")
      // reprocess with fresh filenames; the audit log survives the wipe
      mergeAll(store, upserts, tombstones, "refresh")
      val gated = store.merge("state", upserts(1), tombstones(1), "batch_1")
      require(!gated, "audit log lost pre-refresh history: stale file re-applied")
      val rebuilt = store.snapshot("state").get
      // multiset equality in ONE distributed job: signed per-row
      // counts sum to zero for every row  ⟺  both exceptAll probes
      // are empty (rebuilt \ inc = rows with positive sum, inc \
      // rebuilt = negative) — same check, half the passes and one
      // shuffle instead of two exceptAll plans
      val diff = rebuilt.select(struct(col("*")).as("r"), lit(1L).as("s"))
        .unionAll(incremental.select(struct(col("*")).as("r"), lit(-1L).as("s")))
        .groupBy("r").agg(sum(col("s")).as("d")).filter(col("d") =!= 0)
      require(diff.isEmpty,
        "force-refresh state diverged from the incremental state")
      Scratch.sealAndClean(rebuilt.orderBy("user_id"), root)
    },
    Some(cdcFinalStateSql),
    // bench-flagged so the driver's sampled runs exercise the T6
    // escape hatch — q131 had an oracle but no CORRECTNESS row through r06
    bench = true)

  /** q76: the STREAMING ingest path end-to-end (SURVEY T1/T5/O4 —
    * round-2 verdict's last spec-only items, now oracle-checked).
    *
    * Same 5 logical update batches as q44, but landed as JSON files in
    * a directory and drained by [[graft.stream.StreamIngest
    * .runAvailableNow]]: `readStream` + `Trigger.AvailableNow` +
    * `maxFilesPerTrigger=1` turns each file into its own micro-batch
    * (T1); files carry ascending modTimes and sortable names so both
    * the source's oldest-first discovery and the in-batch filename
    * sort apply them in order (O4); each micro-batch refreshes the
    * count matview (T5). The result aggregates the FINAL STORED table
    * per last_type and cross-joins the matview's row count, so the
    * oracle proves (a) the streamed CDC state equals the q44 closed
    * form and (b) the maintained matview equals the final table's
    * cardinality.
    */
  private val q76StreamIngest = Q(
    "q76_stream_ingest",
    (s, d) => {
      val root = Files.createTempDirectory("graft-si-").toString
      val landing = new java.io.File(root, "landing")
      landing.mkdirs()
      val store = new TableStore(s, s"$root/store", "user_id")
      val ev = Tables.events(s, d).withColumn("batch", pmod(col("event_id"), lit(5)))

      // one JSON-lines landing file per batch; modTime ascending and
      // names sortable so drain order is deterministic either way
      for (b <- 0 until 5) {
        Scratch.landFile(
          ev.filter(col("batch") === b)
            .select(
              when(col("event_type") === "error", lit("delete"))
                .otherwise(lit("upsert")).as("op"),
              lit(s"batch_$b.json").as("source_filename"),
              col("user_id"), col("event_type").as("last_type"),
              col("value").as("last_value"),
              struct(unix_micros(col("ts")).as("ts_us"), col("event_id")).as("seq")),
          landing.toString, s"batch_$b.json",
          modTime = 60000L * (b + 1), format = "json")
      }

      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "op STRING, source_filename STRING, user_id BIGINT, " +
          "last_type STRING, last_value DOUBLE, " +
          "seq STRUCT<ts_us: BIGINT, event_id: BIGINT>")
      graft.stream.StreamIngest.runAvailableNow(
        s, landing.toString, s"$root/ckpt", schema, store, "state", "user_id",
        maintainCounts = true)

      val fin = store.snapshot("state").get
      val mat = s.read.parquet(store.matviewDir("state"))
        .select(col("n_rows").as("total_rows"))
      fin.groupBy("last_type")
        .agg(count(lit(1)).as("n_keys"),
          graft.functions.Portable.dsum6(col("last_value")).as("sum_value"))
        .crossJoin(mat)
        .orderBy("last_type")
    },
    Some(s"""WITH fin AS (${cdcStateSql()}),
      tot AS (SELECT count(*) AS total_rows FROM fin)
      SELECT last_type, count(*) AS n_keys,
        CAST(sum(CAST(last_value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value,
        total_rows
      FROM fin CROSS JOIN tot
      GROUP BY 1, 4 ORDER BY 1"""))

  /** q98: STREAMING backward as-of join through the driver gate — the
    * third execution model of the as-of family (q79 composed window,
    * q92 native operator, this one incremental): clicks and purchases
    * arrive as ONE tagged file stream, drained `AvailableNow`, and
    * [[graft.stream.StreamAsOf]] enriches each purchase with the
    * latest preceding-or-equal click of the same user from O(1) keyed
    * state. The oracle is q79's DuckDB `ASOF LEFT JOIN` — all three
    * implementations are pinned to the same independent replay.
    */
  private val q98StreamAsof = Q(
    "q98_stream_asof",
    (s, d) => {
      import s.implicits._
      // fresh root per run: a reused streaming CHECKPOINT would treat
      // the re-run's input as already processed (q76's pattern)
      val root = Files.createTempDirectory("graft-sasof-").toString
      val tagged = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id").as("key"), col("ts"),
          col("event_id").as("seq"),
          (col("event_type") === "click").as("is_right"),
          when(col("event_type") === "click", col("value"))
            .otherwise(lit(0.0)).as("payload"))
      tagged.write.parquet(s"$root/in")
      val sdf = s.readStream.schema(tagged.schema).parquet(s"$root/in")
        .as[graft.stream.StreamAsOf.Tagged]
      val out = Scratch.drainToMemory(graft.stream.StreamAsOf.backward(sdf),
        "q98_sasof", s"$root/ckpt")
      Scratch.rmTree(root)  // results live in the memory sink
      out.select(col("seq").as("purchase_id"), col("key").as("user_id"),
          col("asof_seq").as("click_id"),
          col("asof_payload").as("click_value"),
          (unix_micros(col("ts")) - col("asof_ts_us")).as("gap_us"))
        .orderBy("purchase_id")
    },
    Some("""WITH p AS (SELECT event_id AS purchase_id, user_id, ts
             FROM events WHERE event_type = 'purchase'),
      c0 AS (SELECT user_id, ts, event_id, value AS click_value,
               row_number() OVER (PARTITION BY user_id, ts
                 ORDER BY event_id DESC) AS rn
             FROM events WHERE event_type = 'click'),
      c AS (SELECT user_id, ts, event_id, click_value FROM c0 WHERE rn = 1)
      SELECT p.purchase_id, p.user_id, c.event_id AS click_id, c.click_value,
        epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
      FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
      ORDER BY purchase_id"""))

  /** q99: SCD TYPE-2 HISTORY build — the warehouse-side complement of
    * q44's last-wins state: instead of keeping only each key's final
    * row, compress its upsert stream into validity intervals
    * [effective_from, effective_to) that open whenever the tracked
    * attribute (event_type) CHANGES, with the open interval flagged
    * current. This is the standard slowly-changing-dimension shape a
    * downstream as-of join (q79/q92/q98) consumes. Plan: one shuffle
    * on user_id feeding two same-partitioning windows (change
    * detection via lag, then versioning + interval close via
    * row_number/lead — Catalyst plans a single Exchange reused by both
    * sorts). Timestamps compare as integer microseconds so the oracle
    * replays every boundary exactly.
    */
  private val q99Scd2History = Q(
    "q99_scd2_history",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val byKey = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val ups = Tables.events(s, d)
        .filter(col("event_type") =!= "error")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("event_id"))
      val changes = ups
        .withColumn("prev", lag(col("event_type"), 1).over(byKey))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      changes
        .select(col("user_id"), col("event_type").as("state"),
          col("ts_us").as("effective_from_us"), col("event_id"))
        .withColumn("version", row_number().over(
          Window.partitionBy(col("user_id"))
            .orderBy(col("effective_from_us"), col("event_id"))).cast("long"))
        .withColumn("effective_to_us", lead(col("effective_from_us"), 1).over(
          Window.partitionBy(col("user_id"))
            .orderBy(col("effective_from_us"), col("event_id"))))
        .select(col("user_id"), col("version"), col("state"),
          col("effective_from_us"), col("effective_to_us"),
          col("effective_to_us").isNull.as("is_current"))
        .orderBy("user_id", "version")
    },
    Some("""WITH u AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
             FROM events WHERE event_type <> 'error'),
      l AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id
              ORDER BY ts_us, event_id) AS prev FROM u),
      ch AS (SELECT user_id, event_type AS state, ts_us, event_id
             FROM l WHERE prev IS NULL OR prev <> event_type),
      v AS (SELECT user_id, state, ts_us AS effective_from_us,
              CAST(row_number() OVER (PARTITION BY user_id
                ORDER BY ts_us, event_id) AS BIGINT) AS version,
              lead(ts_us) OVER (PARTITION BY user_id
                ORDER BY ts_us, event_id) AS effective_to_us
            FROM ch)
      SELECT user_id, version, state, effective_from_us, effective_to_us,
        effective_to_us IS NULL AS is_current
      FROM v ORDER BY user_id, version"""),
    bench = true)

  /** q111: INCREMENTAL VIEW MAINTENANCE — q76 maintains its matview by
    * full recompute after each batch; this entry maintains the same
    * grouped aggregate (per-last_type key count + value sum) purely
    * from per-batch DELTAS via [[graft.stream.Ivm]]: +Δ from the
    * batch's surviving upserts, −Δ from the previous snapshot's rows
    * whose keys leave it. The view is materialized (versioned parquet)
    * after every batch and the NEXT step reads the materialized copy,
    * so no step ever re-derives history — the oracle then proves five
    * chained delta applications land bit-identical to the closed-form
    * final state (exact-decimal cancellation; the q93 float
    * discipline applied to subtraction). At 100 TB this is SURVEY
    * T5's scale path: per-batch cost is the delta + affected keys,
    * not a table rescan.
    */
  private val q111MatviewIvm = Q(
    "q111_matview_ivm",
    (s, d) => {
      import graft.stream.Ivm
      val root = Files.createTempDirectory("graft-ivm-").toString
      val store = new TableStore(s, s"$root/store", "user_id")
      val (upserts, tombstones) = cdcBatches(s, d)

      var view: Option[org.apache.spark.sql.DataFrame] = None
      for (b <- 0 until 5) {
        val prev = store.snapshot("state")
        store.merge("state", upserts(b), tombstones(b), s"batch_$b")
        val next = Ivm.applyDelta(
          view, prev, TableStore.lastWins(upserts(b), "user_id"),
          tombstones(b).unionByName(upserts(b).select("user_id")),
          "user_id", "last_type", "last_value")
        next.write.mode("overwrite").parquet(s"$root/view/v${b + 1}")
        view = Some(s.read.parquet(s"$root/view/v${b + 1}"))
      }
      view.get
        .select(col("last_type"), col("n_keys"),
          col("sum_dec").cast("double").as("sum_value"))
        .orderBy("last_type")
    },
    Some(s"""WITH fin AS (${cdcStateSql()})
      SELECT last_type, count(*) AS n_keys,
        CAST(sum(CAST(last_value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
      FROM fin GROUP BY 1 ORDER BY 1"""))

  /** q112: snapshot TIME TRAVEL — the versioned-snapshot store reads
    * state "as of" an earlier merge (after batch 2) next to the final
    * state, and counts the keys whose row changed between the two —
    * the audit/debug/reproducibility query a lakehouse table format
    * answers from retained versions. Reading v3 is a plain scan of a
    * retained directory (no log replay); the change count is one full
    * outer join keyed on user_id. The oracle recomputes both closed
    * forms (batches ≤ 2 and all 5) and their diff from the raw events.
    */
  private val q112TimeTravel = Q(
    "q112_time_travel",
    (s, d) => {
      val root = Files.createTempDirectory("graft-tt-").toString
      val store = new TableStore(s, root, "user_id")
      val (upserts, tombstones) = cdcBatches(s, d)
      mergeAll(store, upserts, tombstones)

      val asof = store.snapshotAt("state", 3).get
      val fin = store.snapshot("state").get
      def summarize(df: org.apache.spark.sql.DataFrame, prefix: String) =
        df.agg(count(lit(1)).as(s"${prefix}_keys"),
          graft.functions.Portable.dsum6(col("last_value")).as(s"${prefix}_sum"))
      val changed = fin
        .select(col("user_id"), struct(col("last_type"), col("last_value")).as("a"))
        .join(asof.select(col("user_id"),
          struct(col("last_type"), col("last_value")).as("b")), Seq("user_id"), "full_outer")
        .filter(col("a").isNull || col("b").isNull || col("a") =!= col("b"))
        .agg(count(lit(1)).as("n_keys_changed"))
      summarize(asof, "v3").crossJoin(summarize(fin, "final")).crossJoin(changed)
    },
    Some(s"""WITH s3 AS (${cdcStateSql(Some(2))}),
      sf AS (${cdcStateSql()}),
      a3 AS (SELECT count(*) AS v3_keys,
               CAST(sum(CAST(last_value AS DECIMAL(28,6))) AS DOUBLE) AS v3_sum
             FROM s3),
      af AS (SELECT count(*) AS final_keys,
               CAST(sum(CAST(last_value AS DECIMAL(28,6))) AS DOUBLE) AS final_sum
             FROM sf),
      ch AS (SELECT count(*) AS n_keys_changed
             FROM sf f FULL OUTER JOIN s3 a ON f.user_id = a.user_id
             WHERE f.user_id IS NULL OR a.user_id IS NULL
               OR f.last_type <> a.last_type OR f.last_value <> a.last_value)
      SELECT * FROM a3 CROSS JOIN af CROSS JOIN ch"""))

  /** q114: STREAMING event-time tumbling windows through the driver
    * gate — the oracle-checked twin of StreamWindowSpec (T7): events
    * ride a file stream, a 10-minute watermark bounds state, and
    * 6-hour windows × event_type counts emit in APPEND mode exactly
    * when the watermark passes their end. The drained AvailableNow
    * result is therefore NOT "group by window over everything":
    * trailing windows the final watermark (max event time − 10 min)
    * never passed stay open and must be absent — the oracle replays
    * precisely that cutoff (all boundaries in integer microseconds;
    * the watermark's internal ms precision sits hours from any 6-hour
    * boundary here). Single-batch input ⇒ nothing is ever late, so
    * dropped-late-row semantics stay pinned by the spec, emission
    * semantics by this entry. State at 100 TB: one row per open
    * (window, type) — bounded by the watermark horizon, the reason
    * append-mode windowed aggregation streams indefinitely.
    */
  private val q114StreamWindow = Q(
    "q114_stream_window",
    (s, d) => {
      val root = Files.createTempDirectory("graft-swin-").toString
      val src = Tables.events(s, d).select(col("ts"), col("event_type"))
      src.write.parquet(s"$root/in")
      val agg = s.readStream.schema(src.schema).parquet(s"$root/in")
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_micros(col("window.start")).as("w_start_us"),
          col("event_type"), col("n"))
      val out = Scratch.drainToMemory(agg, "q114_win", s"$root/ckpt")
      Scratch.rmTree(root)  // results live in the memory sink
      out.orderBy("w_start_us", "event_type")
    },
    Some("""WITH m AS (SELECT epoch_us(max(ts)) AS mx_us FROM events),
      w AS (SELECT epoch_us(ts) // 21600000000 * 21600000000 AS w_start_us,
              event_type FROM events),
      c AS (SELECT w_start_us, event_type, count(*) AS n FROM w GROUP BY 1, 2)
      SELECT c.w_start_us, c.event_type, c.n FROM c CROSS JOIN m
      WHERE c.w_start_us + 21600000000 <= m.mx_us - 600000000
      ORDER BY 1, 2"""))

  /** q116: snapshot VACUUM — the retention policy that bounds q112's
    * time-travel horizon: after the five q44 merges, keep only the
    * newest two versions. The query ASSERTS the horizon on the store
    * itself (v3 unreadable, v4/v5 readable — the driver-gated-contract
    * pattern of q91/q103) and outputs the removal accounting next to
    * the final state's aggregate, which vacuuming must not disturb.
    * Counts are constants of the 5-batch construction, so the oracle
    * replays them as literals beside the closed-form state.
    */
  private val q116Vacuum = Q(
    "q116_vacuum",
    (s, d) => {
      val root = Files.createTempDirectory("graft-vac-").toString
      val store = new TableStore(s, root, "user_id")
      val (upserts, tombstones) = cdcBatches(s, d)
      mergeAll(store, upserts, tombstones)
      val removed = store.vacuum("state", keepLast = 2)
      require(store.snapshotAt("state", 3).isEmpty,
        "vacuumed version must be unreadable")
      require(store.snapshotAt("state", 4).isDefined &&
        store.snapshotAt("state", 5).isDefined,
        "retained versions must stay readable")
      store.snapshot("state").get
        .agg(count(lit(1)).as("n_keys"),
          graft.functions.Portable.dsum6(col("last_value")).as("sum_value"))
        .select(lit(removed.toLong).as("n_versions_removed"),
          lit(2L).as("n_versions_kept"), col("n_keys"), col("sum_value"))
    },
    Some(s"""WITH fin AS (${cdcStateSql()})
      SELECT CAST(3 AS BIGINT) AS n_versions_removed,
        CAST(2 AS BIGINT) AS n_versions_kept,
        count(*) AS n_keys,
        CAST(sum(CAST(last_value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
      FROM fin"""))

  /** q117: SCHEMA-EVOLVING MERGE — the ADD-COLUMN drift every
    * long-lived CDC feed eventually ships (the reference's jsonb
    * records absorb it silently; a columnar store must evolve the
    * schema): batches 0–1 carry the original shape, batches 2–4 add a
    * `channel` column. TableStore.merge widens the snapshot via
    * allowMissingColumns union — rows whose last write predates the
    * column read NULL, later writes fill it. The per-(last_type,
    * channel) rollup pins both populations; the oracle derives
    * channel only for winners from batch ≥ 2.
    */
  private val q117SchemaEvolution = Q(
    "q117_schema_evolution",
    (s, d) => {
      val root = Files.createTempDirectory("graft-se-").toString
      val store = new TableStore(s, root, "user_id")
      val (upserts, tombstones) = cdcBatches(s, d)
      for (b <- 0 until 5) {
        val ups =
          if (b < 2) upserts(b)
          else upserts(b).withColumn("channel",
            concat(lit("ch_"), pmod(col("seq.event_id"), lit(3L)).cast("string")))
        store.merge("state", ups, tombstones(b), s"batch_$b",
          allowSchemaEvolution = true)
      }
      store.snapshot("state").get
        .groupBy("last_type", "channel")
        .agg(count(lit(1)).as("n_keys"),
          graft.functions.Portable.dsum6(col("last_value")).as("sum_value"))
        .orderBy(col("last_type"), coalesce(col("channel"), lit("")))
    },
    Some(s"""WITH st AS (${cdcStateSql()}),
      fin AS (SELECT last_type, last_value,
                CASE WHEN batch >= 2
                  THEN 'ch_' || CAST(event_id % 3 AS VARCHAR) END AS channel
              FROM st)
      SELECT last_type, channel, count(*) AS n_keys,
        CAST(sum(CAST(last_value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
      FROM fin GROUP BY 1, 2 ORDER BY last_type, coalesce(channel, '')"""))

  /** q120: STREAMING FUNNEL — q101's strict-sequence conversion as an
    * incremental stage machine ([[graft.stream.StreamFunnel]]): each
    * user holds O(1) state (current stage + its open time), every
    * stage advance emits exactly one transition row in append mode,
    * and because the machine is monotone the drained transition set
    * equals the batch t1/t2/t3 closed form — which the DuckDB oracle
    * computes independently (argmin with (ts, event_id) tiebreak per
    * stage). Fifth execution model in the streaming family (CDC
    * ingest, sessionize, as-of, windows, funnel), all driver-gated.
    */
  private val q120StreamFunnel = Q(
    "q120_stream_funnel",
    (s, d) => {
      import s.implicits._
      val root = Files.createTempDirectory("graft-sfun-").toString
      val staged = Tables.events(s, d)
        .filter(col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id").as("key"), col("ts"),
          col("event_id").as("seq"),
          when(col("event_type") === "view", 1)
            .when(col("event_type") === "click", 2)
            .otherwise(3).as("stage"))
      staged.write.parquet(s"$root/in")
      val sdf = s.readStream.schema(staged.schema).parquet(s"$root/in")
        .as[graft.stream.StreamFunnel.Ev]
      val out = Scratch.drainToMemory(graft.stream.StreamFunnel.run(sdf),
        "q120_fun", s"$root/ckpt")
      Scratch.rmTree(root)  // results live in the memory sink
      out.select(col("key").as("user_id"), col("stage"), col("ts_us"),
          col("seq"))
        .orderBy("user_id", "stage")
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id, event_type
             FROM events),
      v AS (SELECT user_id, t, event_id,
              row_number() OVER (PARTITION BY user_id
                ORDER BY t, event_id) AS rn
            FROM e WHERE event_type = 'view'),
      s1 AS (SELECT user_id, t AS t1, event_id AS q1 FROM v WHERE rn = 1),
      c AS (SELECT e.user_id, e.t, e.event_id,
              row_number() OVER (PARTITION BY e.user_id
                ORDER BY e.t, e.event_id) AS rn
            FROM e JOIN s1 ON e.user_id = s1.user_id
            WHERE e.event_type = 'click' AND e.t > s1.t1),
      s2 AS (SELECT user_id, t AS t2, event_id AS q2 FROM c WHERE rn = 1),
      p AS (SELECT e.user_id, e.t, e.event_id,
              row_number() OVER (PARTITION BY e.user_id
                ORDER BY e.t, e.event_id) AS rn
            FROM e JOIN s2 ON e.user_id = s2.user_id
            WHERE e.event_type = 'purchase' AND e.t > s2.t2),
      s3 AS (SELECT user_id, t AS t3, event_id AS q3 FROM p WHERE rn = 1)
      SELECT user_id, CAST(1 AS INTEGER) AS stage, t1 AS ts_us, q1 AS seq FROM s1
      UNION ALL
      SELECT user_id, CAST(2 AS INTEGER), t2, q2 FROM s2
      UNION ALL
      SELECT user_id, CAST(3 AS INTEGER), t3, q3 FROM s3
      ORDER BY user_id, stage"""))

  /** q129: STREAMING SCD2 change capture — q99's history build as an
    * incremental operator ([[graft.stream.StreamScd2]]): every version
    * OPEN emits exactly once in append mode (closing timestamps are
    * the next open, derivable downstream — the design that keeps
    * history appendable), keyed state is O(1) per user. The oracle is
    * q99's change closed form minus the lead-derived columns, computed
    * independently from raw events — so the batch windows (q99) and
    * the streaming machine are pinned to the same replay, completing
    * the warehouse family's batch/streaming pairing.
    */
  /** q99's change closed form minus the lead-derived columns: every
    * version open, once (the q129 and q134 oracle).
    */
  private val scd2OpensSql =
    """WITH u AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
             FROM events WHERE event_type <> 'error'),
      l AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id
              ORDER BY ts_us, event_id) AS prev FROM u),
      ch AS (SELECT user_id, event_type AS state, ts_us, event_id
             FROM l WHERE prev IS NULL OR prev <> event_type)
      SELECT user_id,
        CAST(row_number() OVER (PARTITION BY user_id
          ORDER BY ts_us, event_id) AS BIGINT) AS version,
        state, ts_us AS effective_from_us, event_id AS seq
      FROM ch ORDER BY user_id, version"""

  private val q129StreamScd2 = Q(
    "q129_stream_scd2",
    (s, d) => {
      import s.implicits._
      val root = Files.createTempDirectory("graft-sscd-").toString
      val src = Tables.events(s, d)
        .filter(col("event_type") =!= "error")
        .select(col("user_id").as("key"), col("ts"),
          col("event_id").as("seq"), col("event_type").as("state"))
      src.write.parquet(s"$root/in")
      val sdf = s.readStream.schema(src.schema).parquet(s"$root/in")
        .as[graft.stream.StreamScd2.Ev]
      val out = Scratch.drainToMemory(graft.stream.StreamScd2.run(sdf),
        "q129_scd", s"$root/ckpt")
      Scratch.rmTree(root)  // results live in the memory sink
      out.select(col("key").as("user_id"), col("version"), col("state"),
          col("ts_us").as("effective_from_us"), col("seq"))
        .orderBy("user_id", "version")
    },
    Some(scd2OpensSql))

  /** q134: the SEEDED SCD2 path through the driver gate — the
    * restart-with-state-loss story q129's never-evict mode cannot
    * tell. Phase 1 streams the first half of the event-time range
    * (split at the integer midpoint of [min, max] µs — deterministic)
    * into a memory sink; phase 2 then starts with a FRESH CHECKPOINT —
    * total keyed-state loss, the worst case of any eviction policy —
    * and every event carries a (last version, value) seed
    * stream-static-joined from phase 1's persisted history
    * ([[graft.stream.StreamScd2.seedFrom]]). The union of both
    * phases' emissions must equal the single global-order replay:
    * version numbering continues across the loss and values unchanged
    * across the boundary do NOT re-emit, or rows duplicate/renumber
    * and the hash breaks. Oracle: q129's closed form verbatim (the
    * per-key phase split is a time split, so phase1-then-phase2 IS
    * global order per key). Mid-run TTL eviction against a static
    * in-run snapshot is deliberately out of scope here (a stale seed
    * would re-emit; production refreshes the static side per
    * micro-batch) — StreamScd2Spec covers live eviction.
    */
  private val q134StreamScd2Seeded = Q(
    "q134_stream_scd2_seeded",
    (s, d) => {
      import s.implicits._
      val root = Files.createTempDirectory("graft-sscd2s-").toString
      val src = Tables.events(s, d)
        .filter(col("event_type") =!= "error")
        .select(col("user_id").as("key"), col("ts"),
          col("event_id").as("seq"), col("event_type").as("state"))
      val bounds = src
        .agg(min(unix_micros(col("ts"))).as("lo"),
          max(unix_micros(col("ts"))).as("hi")).head()
      val mid = (bounds.getLong(0) + bounds.getLong(1)) / 2
      src.filter(unix_micros(col("ts")) <= mid).write.parquet(s"$root/in1")
      src.filter(unix_micros(col("ts")) > mid).write.parquet(s"$root/in2")

      def runPhase(inDir: String, ckpt: String, sink: String,
          history: org.apache.spark.sql.DataFrame): DataFrame = {
        val sdf = s.readStream.schema(src.schema).parquet(inDir)
          .as[graft.stream.StreamScd2.Ev]
        Scratch.drainToMemory(graft.stream.StreamScd2
          .runSeeded(graft.stream.StreamScd2.seedFrom(sdf, history),
            idleEvictMs = Long.MaxValue / 4), sink, ckpt)
      }

      val emptyHistory = s.emptyDataset[graft.stream.StreamScd2.VersionOpen].toDF()
      val p1 = runPhase(s"$root/in1", s"$root/ckpt1", "q134_p1", emptyHistory)
      // persist phase-1 history OUTSIDE the memory sink: the phase-2
      // static join side must survive independently of sink lifecycle
      p1.write.parquet(s"$root/hist1")
      val p2 = runPhase(s"$root/in2", s"$root/ckpt2", "q134_p2",
        s.read.parquet(s"$root/hist1"))

      val out = p1.unionByName(p2)
        .select(col("key").as("user_id"), col("version"), col("state"),
          col("ts_us").as("effective_from_us"), col("seq"))
        .orderBy("user_id", "version")
      Scratch.sealAndClean(out, root)
    },
    Some(scd2OpensSql))

  /** q135: STREAMING exact dedup through the driver gate — the last
    * spec-only row of the execution-model families table
    * (StreamDedupSpec). A full re-ingestion of the corpus (new ids,
    * later timestamps, byte-identical text) lands as a SECOND
    * micro-batch behind the original (`maxFilesPerTrigger=1`), and
    * watermarked `dropDuplicatesWithinWatermark` on the content
    * fingerprint must suppress every cross-batch duplicate while the
    * state store holds one entry per fingerprint only until the
    * watermark passes it (bounded state — the 100 TB/day property;
    * an unbounded dropDuplicates keeps every fingerprint forever).
    * Output is the fingerprint column alone: the SURVIVOR row among
    * byte-identical copies is partition-order-dependent, the
    * fingerprint set is not — same determinism discipline as q90's
    * confirm pass. Oracle: DISTINCT md5(text) over the corpus.
    */
  private val q135StreamDedup = Q(
    "q135_stream_dedup",
    (s, d) => {
      val root = Files.createTempDirectory("graft-sdd-").toString
      val landing = new java.io.File(root, "landing")
      landing.mkdirs()
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      // millisecond spacing keeps each batch's event-time span small
      // (N ms for N docs), so batch 1's watermark (its max ts - 1h)
      // stays behind batch 2's earliest row (+30 min) and every
      // duplicate is suppressed by the STATE STORE (the property
      // under test), none by the late-row filter. That holds while
      // N·1ms < 1h 30min, i.e. through every driver sf; a corpus past
      // ~5.4M docs would need wider watermark/offset constants for
      // the state-store path to stay the one exercised
      val base = 1700000000000000L
      val b1 = docs.select(col("doc_id"), col("text"),
        timestamp_micros(lit(base) + col("doc_id") * 1000L).as("ts"))
      val b2 = docs.select((col("doc_id") + 100000L).as("doc_id"), col("text"),
        timestamp_micros(lit(base + 1800L * 1000000L) +
          col("doc_id") * 1000L).as("ts"))
      Seq(b1 -> "1_original", b2 -> "2_reingest").foreach { case (df, name) =>
        Scratch.landFile(df, landing.toString, s"$name.parquet",
          modTime = if (name.startsWith("1")) 60000L else 120000L)
      }
      val fingerprints = s.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing.toString)
        .withColumn("fingerprint", md5(encode(col("text"), "UTF-8")))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("fingerprint")
        .select("fingerprint")
      val out = Scratch.drainToMemory(fingerprints, "q135_dedup", s"$root/ckpt")
      Scratch.rmTree(root)  // results live in the memory sink
      out.orderBy("fingerprint")
    },
    Some("""SELECT DISTINCT md5(text) AS fingerprint FROM documents
      ORDER BY 1"""))

  /** q136: STREAMING heavy hitters through the driver gate — q90's
    * two-pass shape with the Misra–Gries pass INCREMENTAL: a
    * Complete-mode streaming aggregation carries the O(m) MG buffer
    * in the state store across micro-batches (two token-file batches
    * here), so the vocabulary never shuffles and state never grows
    * with it; the MG completeness bound (m=255 ⊇ every token above
    * N/256 > 0.5%) survives incremental merging because the summary
    * is the same associative aggregate. The candidate set is then
    * confirmed EXACTLY in batch (q90's IN-filter + ≤255-key count),
    * which is what makes the output deterministic and oracle-equal
    * even though the streamed MG buffer itself is order-dependent.
    * Oracle: q90's exact closed form verbatim.
    */
  private val q136StreamHeavyHitters = Q(
    "q136_stream_heavy_hitters",
    (s, d) => {
      import graft.functions.Portable.tokens
      val root = Files.createTempDirectory("graft-shh-").toString
      val landing = new java.io.File(root, "landing")
      landing.mkdirs()
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
      Seq(0, 1).foreach { half =>
        Scratch.landFile(
          toks.filter(pmod(col("doc_id"), lit(2)) === half).select("w"),
          landing.toString, s"${half}_toks.parquet")
      }
      val mg = graft.functions.HeavyHitters.agg(255)
      val summary = s.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL("w STRING"))
        .option("maxFilesPerTrigger", "1")
        .parquet(landing.toString)
        .agg(count(lit(1)).as("n"), mg(col("w")).as("hh"))
      val fin = Scratch.drainToMemory(summary, "q136_hh", s"$root/ckpt",
        outputMode = "complete").head()
      Scratch.rmTree(root)
      Analytics.mgConfirm(toks, fin)
    },
    Some(Analytics.heavyHittersOracleSql))

  /** Event-time (lo, hi) bounds in microseconds — one tiny agg action. */
  private def tsBoundsUs(df: org.apache.spark.sql.DataFrame,
      tsCol: String): (Long, Long) = {
    val r = df.agg(min(unix_micros(col(tsCol))).as("lo"),
      max(unix_micros(col(tsCol))).as("hi")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Land `df` split at event-time `mid` into the two ordered
    * micro-batch files (`1_early` ≤ mid < `2_late`) that q137 and
    * q140 both replay — ONE place owns the split predicate and the
    * name/modTime replay-order convention.
    */
  private def landTimeSplit(df: org.apache.spark.sql.DataFrame,
      tsCol: String, mid: Long, landingDir: String): Unit =
    Seq("1_early" -> (unix_micros(col(tsCol)) <= mid),
        "2_late" -> (unix_micros(col(tsCol)) > mid)).foreach {
      case (name, pred) =>
        Scratch.landFile(df.filter(pred), landingDir, s"$name.parquet",
          modTime = if (name.startsWith("1")) 60000L else 120000L)
    }

  /** q137: STREAM-STREAM interval join through the driver gate
    * (StreamJoinSpec's family, oracle-backed): purchases joined to
    * the same user's clicks within the preceding 6 hours, BOTH sides
    * file streams split at the event-time midpoint into two
    * micro-batches each. The dual watermark + time-range condition is
    * what bounds both sides' join state: a click's state is evicted
    * once the purchase side's watermark passes `cts + 6h`, and the
    * eviction-safety argument is the delay choice — with a 6 h
    * watermark delay, a click evicted after batch 1 (cts < mid − 12 h)
    * cannot match any batch-2 purchase (pts > mid needs
    * cts ≥ pts − 6 h > mid − 6 h) — so the streamed INNER join's row
    * set equals the batch closed form exactly, which is the oracle.
    */
  private val q137StreamIntervalJoin = Q(
    "q137_stream_interval_join",
    (s, d) => {
      val root = Files.createTempDirectory("graft-ssj-").toString
      val ev = Tables.events(s, d)
      val (lo, hi) = tsBoundsUs(ev, "ts")
      val mid = (lo + hi) / 2
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("cts"),
          col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("pts"),
          col("event_id").as("purchase_id"))
      landTimeSplit(clicks, "cts", mid, s"$root/clicks")
      landTimeSplit(purchases, "pts", mid, s"$root/purchases")

      val cs = s.readStream.schema(clicks.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/clicks")
        .withWatermark("cts", "6 hours")
      val ps = s.readStream.schema(purchases.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/purchases")
        .withWatermark("pts", "6 hours")
      val joined = ps.join(cs,
          col("p_user") === col("c_user") &&
            col("cts") >= col("pts") - expr("INTERVAL 6 HOURS") &&
            col("cts") <= col("pts"))
        .select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"))
      val out = Scratch.drainToMemory(joined, "q137_ssj", s"$root/ckpt")
      Scratch.rmTree(root)  // results live in the memory sink
      out.orderBy("purchase_id", "click_id")
    },
    Some("""SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        p.user_id
      FROM events p JOIN events c ON p.user_id = c.user_id
        AND p.event_type = 'purchase' AND c.event_type = 'click'
        AND c.ts >= p.ts - INTERVAL 6 HOUR AND c.ts <= p.ts
      ORDER BY 1, 2"""))

  /** q139: snapshot COMPACTION (the lakehouse OPTIMIZE, completing the
    * table-format family beside q112 time travel / q116 vacuum / q117
    * schema evolution): after the q44 merge sequence leaves one file
    * set per batch, `TableStore.compact` rewrites the latest snapshot
    * into ONE file as a new version. The entry asserts the layout
    * change actually happened (file count 1 < pre-compaction count,
    * version advanced), that time travel to the pre-compaction
    * version still works, and that values are IDENTICAL via
    * distributed exceptAll probes — compaction must be invisible in
    * the data, which is exactly what the oracle (the q44 closed form)
    * certifies through the driver gate.
    */
  private val q139Compaction = Q(
    "q139_compaction",
    (s, d) => {
      val root = Files.createTempDirectory("graft-opt-").toString
      val store = new TableStore(s, root, "user_id")
      val (upserts, tombstones) = cdcBatches(s, d)
      mergeAll(store, upserts, tombstones)
      def partFiles(v: Int): Int = store.snapshotAt("state", v).get.inputFiles.length
      // merges size their output files adaptively (round 16), so the
      // fragmented layout compaction exists for is PLANTED explicitly:
      // a 4-way re-layout rewrite (the same many-small-files shape a
      // fleet of parallel writer tasks leaves behind), then OPTIMIZE
      // back down to one file — both directions must be value-invisible
      val preVersion = store.compact("state", numFiles = 4)
      val preFiles = partFiles(preVersion)

      val v = store.compact("state", numFiles = 1)
      require(v == preVersion + 1, s"compaction wrote v$v, expected v${preVersion + 1}")
      require(partFiles(v) == 1 && preFiles > 1,
        s"layout unchanged: $preFiles files before, ${partFiles(v)} after")
      // the pre-compaction version still time-travels — and serves as
      // the diff probe directly (its files being untouched is part of
      // what compaction certifies; no extra snapshot copy needed)
      val pre = store.snapshotAt("state", preVersion)
        .getOrElse(sys.error("compaction clobbered the prior version"))
      val after = store.snapshot("state").get
      // multiset equality in ONE job (signed per-row counts; the q131
      // probe's shape) instead of two exceptAll passes
      val diff = after.select(struct(col("*")).as("r"), lit(1L).as("s"))
        .unionAll(pre.select(struct(col("*")).as("r"), lit(-1L).as("s")))
        .groupBy("r").agg(sum(col("s")).as("dn")).filter(col("dn") =!= 0)
      require(diff.isEmpty, "compaction changed table values")
      Scratch.sealAndClean(after.orderBy("user_id"), root)
    },
    Some(cdcFinalStateSql))

  /** q140: STREAMING sessionization through the driver gate — the
    * last streaming machine that was spec-only
    * ([[graft.stream.Sessionize.streaming]], StreamSessionSpec). Two
    * time-split event batches drive the keyed state machine; sessions
    * are emitted exactly once — mid-stream when a later event opens
    * the next session, or by event-time timeout once the watermark
    * passes session_end + gap. A session machine's tail sessions only
    * flush when a LATER batch advances the watermark past them, so
    * the landing set appends two sentinel-user batches (far-future
    * timestamps): the first advances the watermark, the second's
    * processing fires the remaining timeouts — the AvailableNow
    * equivalent of a production stream's continuous clock. The
    * sentinel user is filtered from the output; the oracle is q75's
    * closed form restricted to session STRUCTURE (boundaries, counts,
    * numbering — the machinery under test; q75 itself pins the
    * decimal-exact value sum on the batch path).
    */
  private val q140StreamSessionize = Q(
    "q140_stream_sessionize",
    (s, d) => {
      import s.implicits._
      val gapUs = 1800000000L
      val root = Files.createTempDirectory("graft-ssz-").toString
      val landing = new java.io.File(root, "landing")
      landing.mkdirs()
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("value"))
      // sentinel id is derived, not hard-coded: a fixture that ever
      // contained the sentinel would merge real events into clock
      // batches and then silently drop that user's sessions
      val sentinel = ev.agg(max(col("user_id"))).head.getLong(0) + 1L
      val (lo, hi) = tsBoundsUs(ev, "ts")
      val mid = (lo + hi) / 2
      val farUs = hi + 365L * 86400L * 1000000L
      landTimeSplit(ev, "ts", mid, landing.toString)
      Seq("3_clock" -> farUs, "4_clock" -> (farUs + gapUs * 2))
        .zipWithIndex.foreach { case ((name, ts), i) =>
          Scratch.landFile(
            s.range(1).select(lit(sentinel).as("user_id"),
              timestamp_micros(lit(ts)).as("ts"), lit(0.0).as("value")),
            landing.toString, s"$name.parquet", modTime = 60000L * (i + 3))
        }
      val sdf = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing.toString)
        .as[graft.stream.Sessionize.Event]
      val out = Scratch.drainToMemory(graft.stream.Sessionize.streaming(sdf, gapUs),
        "q140_ssz", s"$root/ckpt")
      Scratch.rmTree(root)  // results live in the memory sink
      out.filter(col("user_id") =!= sentinel)
        .select(col("user_id"), col("sess_id"), col("session_start"),
          col("session_end"), col("n_events"))
        .orderBy("user_id", "sess_id")
    },
    Some("""WITH l AS (SELECT user_id, ts,
        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
          OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800000000
        THEN 1 ELSE 0 END AS is_new FROM events),
      s AS (SELECT user_id, ts,
        CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id FROM l)
      SELECT user_id, sess_id, min(ts) AS session_start, max(ts) AS session_end,
        count(*) AS n_events
      FROM s GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** q150: VERSION DIFF (change data feed) — the row-level change set
    * between two table versions, the `table_changes` companion to
    * q112's time travel: which keys were inserted, updated, or
    * deleted between version 3 (batches 0-2) and the final version,
    * with old and new values side by side (what a downstream
    * incremental consumer replays instead of re-reading the table).
    * Plan shape: ONE full-outer join of the two snapshots keyed by
    * user_id — at 100 TB both sides are bucketed by the merge key
    * (TableStore's layout), so the join co-locates; change
    * classification and the equality filter are scan-stage
    * expressions. Value comparison is raw stored-double equality (no
    * arithmetic), so the oracle replays it exactly from its two
    * closed-form version states.
    */
  private val q150VersionDiff = Q(
    "q150_version_diff",
    (s, d) => {
      val root = Files.createTempDirectory("graft-vd-").toString
      val store = new TableStore(s, root, "user_id")
      val (upserts, tombstones) = cdcBatches(s, d)
      mergeAll(store, upserts, tombstones)
      val a = store.snapshotAt("state", 3).get
        .select(col("user_id"), col("last_type").as("old_type"),
          col("last_value").as("old_value"))
      val b = store.snapshot("state").get
        .select(col("user_id"), col("last_type").as("new_type"),
          col("last_value").as("new_value"))
      val diff = a.join(b, Seq("user_id"), "full_outer")
        .withColumn("change",
          when(col("old_type").isNull, "insert")
            .when(col("new_type").isNull, "delete")
            .otherwise("update"))
        .filter(col("old_type").isNull || col("new_type").isNull ||
          col("old_type") =!= col("new_type") ||
          col("old_value") =!= col("new_value"))
        .select(col("change"), col("user_id"), col("old_type"),
          col("old_value"), col("new_type"), col("new_value"))
        .orderBy("user_id")
      Scratch.sealAndClean(diff, root)
    },
    Some(s"""WITH s3 AS (${cdcStateSql(Some(2))}),
      sf AS (${cdcStateSql()})
      SELECT CASE WHEN a.user_id IS NULL THEN 'insert'
                  WHEN f.user_id IS NULL THEN 'delete'
                  ELSE 'update' END AS change,
        COALESCE(f.user_id, a.user_id) AS user_id,
        a.last_type AS old_type, a.last_value AS old_value,
        f.last_type AS new_type, f.last_value AS new_value
      FROM sf f FULL OUTER JOIN s3 a ON f.user_id = a.user_id
      WHERE f.user_id IS NULL OR a.user_id IS NULL
        OR f.last_type <> a.last_type OR f.last_value <> a.last_value
      ORDER BY user_id"""))

  /** q205: STREAMING PSI DRIFT MONITOR — the online form of q204's
    * batch PSI: the event span splits into exact integer-microsecond
    * TERCILES; the first lands as the standing REFERENCE histogram,
    * the two monitoring windows stream in as ordered micro-batches
    * ([[Scratch.landFile]] mtime regime), and each batch emits one
    * drift reading against the frozen baseline via
    * [[graft.stream.StreamPsi.step]] (Overwrite-per-batch-id verdict
    * subdirs — the q141/q175 exactly-once regime, so a retried batch
    * rewrites its own reading). Arrival order matters only in that
    * the reference must land first — which the mtime fixture pins —
    * making this the drift monitor a release pipeline actually runs:
    * baseline frozen once, every arriving window scored against it.
    *
    * 100 TB shape: the reference is an on-disk bounded-domain
    * histogram (never state store, never driver memory); each window
    * partial-aggregates map-side to the bin domain before a
    * histogram-sized full-outer join; PSI arithmetic is q204's
    * engine-exact formula. The oracle replays both windows closed-form.
    */
  private val q205StreamPsi = Q(
    "q205_stream_psi",
    (s, d) => {
      val root = Files.createTempDirectory("graft-spsi-").toString
      val landing = new java.io.File(root, "landing")
      landing.mkdirs()
      val ev = Tables.events(s, d).select(unix_micros(col("ts")).as("us"),
        floor(col("value")).cast("long").as("bin"))
      val (lo, hi) = tsBoundsUs(Tables.events(s, d), "ts")
      val t1 = lo + (hi - lo) / 3
      val t2 = lo + (hi - lo) * 2 / 3
      Seq(("1_ref", col("us") <= t1, 60000L),
          ("2_w1", col("us") > t1 && col("us") <= t2, 120000L),
          ("3_w2", col("us") > t2, 180000L)).foreach { case (n, p, mt) =>
        Scratch.landFile(ev.filter(p).select("bin"), landing.toString,
          s"$n.parquet", modTime = mt)
      }
      val refDir = s"$root/ref"
      val verdictsDir = s"$root/verdicts"
      val bins = s.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL("bin BIGINT"))
        .option("maxFilesPerTrigger", "1")
        .parquet(landing.toString)
      Scratch.drainEachBatch(bins, s"$root/ckpt") { (batch, id) =>
        graft.stream.StreamPsi.step(batch, id, refDir, verdictsDir)
      }
      Scratch.sealAndClean(
        s.read.parquet(s"$verdictsDir/b1", s"$verdictsDir/b2")
          .orderBy("window_id"),
        root)
    },
    Some("""WITH ev AS (SELECT epoch_us(ts) AS us,
          CAST(floor(value) AS BIGINT) AS bin FROM events),
      sp AS (SELECT min(us) AS lo, max(us) AS hi FROM ev),
      t AS (SELECT lo + (hi - lo) // 3 AS t1,
          lo + (hi - lo) * 2 // 3 AS t2 FROM sp),
      refh AS (SELECT bin, CAST(count(*) AS BIGINT) AS c
        FROM ev, t WHERE us <= t1 GROUP BY 1),
      w1h AS (SELECT bin, CAST(count(*) AS BIGINT) AS c
        FROM ev, t WHERE us > t1 AND us <= t2 GROUP BY 1),
      w2h AS (SELECT bin, CAST(count(*) AS BIGINT) AS c
        FROM ev, t WHERE us > t2 GROUP BY 1),
      j1 AS (SELECT COALESCE(r.bin, c.bin) AS bin,
          COALESCE(r.c, 0) AS cr, COALESCE(c.c, 0) AS cc
        FROM refh r FULL OUTER JOIN w1h c ON r.bin = c.bin),
      s1 AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
          CAST(sum(cc) AS BIGINT) AS nc, CAST(count(*) AS BIGINT) AS nb
        FROM j1),
      j2 AS (SELECT COALESCE(r.bin, c.bin) AS bin,
          COALESCE(r.c, 0) AS cr, COALESCE(c.c, 0) AS cc
        FROM refh r FULL OUTER JOIN w2h c ON r.bin = c.bin),
      s2 AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
          CAST(sum(cc) AS BIGINT) AS nc, CAST(count(*) AS BIGINT) AS nb
        FROM j2),
      p1 AS (SELECT CAST(1 AS BIGINT) AS window_id, s1.nb AS n_bins,
          s1.nr AS n_ref, s1.nc AS n_cur,
          CAST(sum(CAST(round(
            (CAST(cr + 1 AS DOUBLE) / CAST(nr + nb AS DOUBLE)
              - CAST(cc + 1 AS DOUBLE) / CAST(nc + nb AS DOUBLE))
            * ln(CAST((cr + 1) * (nc + nb) AS DOUBLE)
              / CAST((cc + 1) * (nr + nb) AS DOUBLE)), 6)
            AS DECIMAL(28,6))) AS DOUBLE) AS psi6
        FROM j1, s1 GROUP BY 1, 2, 3, 4),
      p2 AS (SELECT CAST(2 AS BIGINT) AS window_id, s2.nb AS n_bins,
          s2.nr AS n_ref, s2.nc AS n_cur,
          CAST(sum(CAST(round(
            (CAST(cr + 1 AS DOUBLE) / CAST(nr + nb AS DOUBLE)
              - CAST(cc + 1 AS DOUBLE) / CAST(nc + nb AS DOUBLE))
            * ln(CAST((cr + 1) * (nc + nb) AS DOUBLE)
              / CAST((cc + 1) * (nr + nb) AS DOUBLE)), 6)
            AS DECIMAL(28,6))) AS DOUBLE) AS psi6
        FROM j2, s2 GROUP BY 1, 2, 3, 4)
      SELECT * FROM p1 UNION ALL SELECT * FROM p2 ORDER BY window_id"""))

  /** q232: STREAMING CUSUM MONITOR — q228's level-shift detector in
    * its production regime: the event span splits at exact integer-
    * microsecond terciles; the FIRST window is the calibration batch
    * that fixes μ and the slack ([[graft.stream.StreamCusum]] state
    * b0), and each monitoring batch continues the cumulative walk
    * from the carried two-integer state, emitting (day, S, alarm)
    * rows — with partial days at window boundaries kept as separate
    * readings, exactly as a real monitor sees them. State and
    * verdicts follow the b&lt;id&gt; Overwrite subdir regime (q141/
    * q175/q205), so retried batches replay identically.
    *
    * 100 TB shape: per-batch work is one day-panel aggregate plus
    * windows over that panel; standing state is two integers + μ,
    * never a growing table. The oracle replays both monitoring
    * windows closed-form with the same tercile split and
    * calibration μ.
    */
  private val q232StreamCusum = Q(
    "q232_stream_cusum",
    (s, d) => {
      val root = Files.createTempDirectory("graft-scsm-").toString
      val landing = new java.io.File(root, "landing")
      landing.mkdirs()
      val ev = Tables.events(s, d).select(
        unix_micros(col("ts")).as("us"), to_date(col("ts")).as("day"),
        floor(col("value") * lit(1e6)).cast("long").as("v6"))
      val (lo, hi) = tsBoundsUs(Tables.events(s, d), "ts")
      val t1 = lo + (hi - lo) / 3
      val t2 = lo + (hi - lo) * 2 / 3
      Seq(("1_cal", col("us") <= t1, 60000L),
          ("2_w1", col("us") > t1 && col("us") <= t2, 120000L),
          ("3_w2", col("us") > t2, 180000L)).foreach { case (n, p, mt) =>
        Scratch.landFile(ev.filter(p).select("day", "v6"), landing.toString,
          s"$n.parquet", modTime = mt)
      }
      val stateDir = s"$root/state"
      val verdictsDir = s"$root/verdicts"
      val days = s.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "day DATE, v6 BIGINT"))
        .option("maxFilesPerTrigger", "1")
        .parquet(landing.toString)
      Scratch.drainEachBatch(days, s"$root/ckpt") { (batch, id) =>
        graft.stream.StreamCusum.step(batch, id, stateDir, verdictsDir)
      }
      Scratch.sealAndClean(
        s.read.parquet(s"$verdictsDir/b1", s"$verdictsDir/b2")
          .orderBy("window_id", "day"),
        root)
    },
    Some("""WITH ev AS (SELECT epoch_us(ts) AS us, CAST(ts AS DATE) AS day,
          CAST(floor(value * 1e6) AS BIGINT) AS v6 FROM events),
      sp AS (SELECT min(us) AS lo, max(us) AS hi FROM ev),
      t AS (SELECT lo + (hi - lo) // 3 AS t1,
          lo + (hi - lo) * 2 // 3 AS t2 FROM sp),
      cal AS (SELECT day, CAST(sum(v6) AS BIGINT) AS x
        FROM ev, t WHERE us <= t1 GROUP BY 1),
      mu AS (SELECT CAST(sum(x) AS BIGINT) // count(*) AS mu FROM cal),
      mon AS (SELECT CASE WHEN us <= t2 THEN 1 ELSE 2 END AS window_id,
          day, CAST(sum(v6) AS BIGINT) AS x
        FROM ev, t WHERE us > t1 GROUP BY 1, 2),
      walk AS (SELECT window_id, day, x, mu,
          sum(x - mu - (mu // 20)) OVER (ORDER BY window_id, day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        FROM mon, mu),
      ss AS (SELECT window_id, day, x, mu, c,
          c - least(0, min(c) OVER (ORDER BY window_id, day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s
        FROM walk)
      SELECT CAST(window_id AS BIGINT) AS window_id, day, x AS x_v6,
        CAST(s AS BIGINT) AS s_v6, s > mu // 2 AS alarm
      FROM ss ORDER BY 1, 2"""))

  /** q242: STREAMING SCHEMA-DRIFT GATE — a landed file missing a
    * REQUIRED field must not poison the standing table OR stall the
    * stream: the fixture lands three JSON micro-batches with the
    * middle one lacking `value` entirely (it reads all-null under the
    * fixed stream schema — the classic upstream-producer drift), and
    * [[graft.stream.StreamSchemaGate.step]] quarantines exactly that
    * batch while the others apply. All-null-required is the drift
    * signature; PARTIAL nulls are ordinary dirty data and pass
    * through to the row-level guards (P10) — the distinction is the
    * point of the gate. Output: per-batch verdicts + the aggregate
    * over applied batches only, both oracle-replayed closed-form.
    *
    * 100 TB shape: the audit is one map-side aggregate per batch;
    * applied batches append as their own subdirs (q141 exactly-once
    * regime); quarantined rows persist for forensics like q61's
    * batch-side quarantine.
    */
  private val q242StreamSchemaGate = Q(
    "q242_stream_schema_gate",
    (s, d) => {
      val root = Files.createTempDirectory("graft-ssg-").toString
      val landing = new java.io.File(root, "landing")
      landing.mkdirs()
      val ev = Tables.events(s, d).select(col("event_id"),
        col("event_type"), col("value"))
      Seq((0, "1_ok"), (1, "2_drift"), (2, "3_ok")).foreach { case (m, n) =>
        val part = ev.filter(pmod(col("event_id"), lit(3)) === m)
        val out = if (n.contains("drift")) part.drop("value") else part
        Scratch.landFile(out, landing.toString, s"$n.json",
          modTime = 60000L * (m + 1), format = "json")
      }
      val appliedDir = s"$root/applied"
      val quarantineDir = s"$root/quarantine"
      val verdictsDir = s"$root/verdicts"
      val rows = s.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, event_type STRING, value DOUBLE"))
        .option("maxFilesPerTrigger", "1")
        .json(landing.toString)
      Scratch.drainEachBatch(rows, s"$root/ckpt") { (batch, id) =>
        graft.stream.StreamSchemaGate.step(batch, id, "value",
          appliedDir, quarantineDir, verdictsDir)
      }
      val verdicts = s.read
        .parquet(s"$verdictsDir/b0", s"$verdictsDir/b1", s"$verdictsDir/b2")
      val applied = s.read.parquet(s"$appliedDir/*")
        .agg(count(lit(1)).as("n_applied"),
          sum(floor(col("value") * lit(1e6)).cast("long")).as("sum_v6"))
      Scratch.sealAndClean(
        verdicts.crossJoin(applied).orderBy("batch_id"), root)
    },
    Some("""WITH b AS (SELECT event_id % 3 AS batch_id, value FROM events),
      v AS (SELECT batch_id, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(CASE WHEN batch_id = 1 THEN count(*) ELSE 0 END AS BIGINT)
            AS n_null_required,
          batch_id <> 1 AS applied
        FROM b GROUP BY 1),
      a AS (SELECT CAST(count(*) AS BIGINT) AS n_applied,
          CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS sum_v6
        FROM b WHERE batch_id <> 1)
      SELECT v.batch_id, v.n_rows, v.n_null_required, v.applied,
        a.n_applied, a.sum_v6
      FROM v, a ORDER BY v.batch_id"""))

  /** q254: STREAMING INDEX-STALENESS MONITOR — q252's retrain trigger
    * in the arrival regime (the q204→q205 relationship applied to the
    * IVF index): the vector corpus splits into the INDEX-BUILD window
    * (vec_id%3=0, landed first — mtime-pinned) and two arriving
    * windows; batch 0 freezes the coarse codebook and reference cell
    * histogram ([[graft.stream.StreamStaleness]]), each later window
    * emits one occupancy-drift reading (new cells, drifted cells, max
    * share shift in millionths) against that frozen baseline. The b-id
    * Overwrite regime makes retried windows idempotent.
    *
    * 100 TB shape: standing state is the C-row centroid table + C-row
    * histogram; per-batch work is the map-side NearestCentroid
    * projection + one histogram-sized full-outer join. The oracle
    * replays both windows closed-form with the same frozen-codebook
    * assignment.
    */
  private val q254StreamStaleness = Q(
    "q254_stream_staleness",
    (s, d) => {
      val root = Files.createTempDirectory("graft-sstl-").toString
      val landing = new java.io.File(root, "landing")
      landing.mkdirs()
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      Seq(("1_build", 0, 60000L), ("2_w1", 1, 120000L),
          ("3_w2", 2, 180000L)).foreach { case (n, m, mt) =>
        Scratch.landFile(emb.filter(pmod(col("vec_id"), lit(3)) === m),
          landing.toString, s"$n.parquet", modTime = mt)
      }
      val centsDir = s"$root/cents"
      val refHistDir = s"$root/refhist"
      val verdictsDir = s"$root/verdicts"
      val vecs = s.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "vec_id BIGINT, embedding ARRAY<FLOAT>"))
        .option("maxFilesPerTrigger", "1")
        .parquet(landing.toString)
      Scratch.drainEachBatch(vecs, s"$root/ckpt") { (batch, id) =>
        graft.stream.StreamStaleness.step(batch, id, centsDir,
          refHistDir, verdictsDir)
      }
      Scratch.sealAndClean(
        s.read.parquet(s"$verdictsDir/b1", s"$verdictsDir/b2")
          .orderBy("window_id"),
        root)
    },
    Some(s"""WITH ${Sql.ivfAssignCtes(train = "vec_id % 3 = 0")},
      refh AS MATERIALIZED (SELECT cell, CAST(count(*) AS BIGINT) AS cr
        FROM assign WHERE vid % 3 = 0 GROUP BY 1),
      w1h AS (SELECT cell, CAST(count(*) AS BIGINT) AS cc
        FROM assign WHERE vid % 3 = 1 GROUP BY 1),
      w2h AS (SELECT cell, CAST(count(*) AS BIGINT) AS cc
        FROM assign WHERE vid % 3 = 2 GROUP BY 1),
      j1 AS (SELECT COALESCE(r.cell, c.cell) AS cell,
          CAST(COALESCE(r.cr, 0) AS BIGINT) AS cr,
          CAST(COALESCE(c.cc, 0) AS BIGINT) AS cc
        FROM refh r FULL OUTER JOIN w1h c ON r.cell = c.cell),
      s1 AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
          CAST(sum(cc) AS BIGINT) AS nc, CAST(count(*) AS BIGINT) AS nb
        FROM j1),
      d1 AS (SELECT CAST(1 AS BIGINT) AS window_id, s1.nb AS n_cells,
          s1.nr AS n_ref, s1.nc AS n_cur,
          CAST(sum(CASE WHEN cr = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
          CAST(sum(CASE WHEN abs((cr * 1000000) // nr
            - (cc * 1000000) // nc) > 100000 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_drifted,
          CAST(max(abs((cr * 1000000) // nr - (cc * 1000000) // nc))
            AS BIGINT) AS max_shift_e6
        FROM j1, s1 GROUP BY 1, 2, 3, 4),
      j2 AS (SELECT COALESCE(r.cell, c.cell) AS cell,
          CAST(COALESCE(r.cr, 0) AS BIGINT) AS cr,
          CAST(COALESCE(c.cc, 0) AS BIGINT) AS cc
        FROM refh r FULL OUTER JOIN w2h c ON r.cell = c.cell),
      s2 AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
          CAST(sum(cc) AS BIGINT) AS nc, CAST(count(*) AS BIGINT) AS nb
        FROM j2),
      d2 AS (SELECT CAST(2 AS BIGINT) AS window_id, s2.nb AS n_cells,
          s2.nr AS n_ref, s2.nc AS n_cur,
          CAST(sum(CASE WHEN cr = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
          CAST(sum(CASE WHEN abs((cr * 1000000) // nr
            - (cc * 1000000) // nc) > 100000 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_drifted,
          CAST(max(abs((cr * 1000000) // nr - (cc * 1000000) // nc))
            AS BIGINT) AS max_shift_e6
        FROM j2, s2 GROUP BY 1, 2, 3, 4)
      SELECT * FROM d1 UNION ALL SELECT * FROM d2 ORDER BY window_id"""))

  val queries: Seq[Q] =
    Seq(q44CdcMerge, q76StreamIngest, q98StreamAsof, q99Scd2History,
      q111MatviewIvm, q112TimeTravel, q114StreamWindow, q116Vacuum,
      q117SchemaEvolution, q120StreamFunnel, q129StreamScd2,
      q130MergeStats, q131ForceRefresh, q134StreamScd2Seeded,
      q135StreamDedup, q136StreamHeavyHitters, q137StreamIntervalJoin,
      q139Compaction, q140StreamSessionize, q150VersionDiff, q205StreamPsi,
      q232StreamCusum, q242StreamSchemaGate, q254StreamStaleness)
}
