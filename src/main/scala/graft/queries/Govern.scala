package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables

/** Data-governance audits for release pipelines: re-identification
  * risk accounting before an event-level dataset ships to training or
  * to partners. Sits next to PII redaction (q82) — redaction removes
  * direct identifiers; these audits measure what the REMAINING
  * quasi-identifiers still leak.
  */
object Govern {

  /** q173: k-ANONYMITY / l-DIVERSITY AUDIT over the events table —
    * group rows by their quasi-identifier tuple (event_type, day,
    * floor(value) bucket) and measure, per equivalence class, the row
    * count (k-anonymity: a class smaller than k=5 re-identifies) and
    * the distinct-user count (l-diversity: a class whose rows all
    * belong to <3 users leaks membership even when k passes). The
    * output is the per-class audit table with both gates as boolean
    * columns — the thing a release checklist diffs between dataset
    * versions.
    *
    * 100 TB shape: one groupBy on the quasi-identifier tuple — a
    * uniform composite key — with count and count_distinct(user_id)
    * as partially-aggregable map-side state (distinct users per class
    * is bounded by class size; for classes too hot for exact distinct,
    * q164's HLL aggregate is the drop-in). No joins, no second pass:
    * the audit is a single exchange regardless of corpus size.
    */
  private val q173KAnonymity = Q(
    "q173_k_anonymity",
    (s, d) => {
      Tables.events(s, d)
        .select(col("event_type"), to_date(col("ts")).as("day"),
          floor(col("value")).cast("long").as("vbucket"), col("user_id"))
        .groupBy("event_type", "day", "vbucket")
        .agg(count(lit(1)).as("n_rows"),
          count_distinct(col("user_id")).as("n_users"))
        .select(col("event_type"), col("day"), col("vbucket"),
          col("n_rows"), col("n_users"),
          (col("n_rows") >= 5).as("k_anon"),
          (col("n_users") >= 3).as("l_div"))
        .orderBy("event_type", "day", "vbucket")
    },
    Some("""SELECT event_type, CAST(ts AS DATE) AS day,
        CAST(floor(value) AS BIGINT) AS vbucket,
        CAST(count(*) AS BIGINT) AS n_rows,
        CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        count(*) >= 5 AS k_anon,
        count(DISTINCT user_id) >= 3 AS l_div
      FROM events
      GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""))

  /** q175: STREAMING DECONTAMINATION — benchmark suites and corpus
    * documents interleave on ONE file stream (kind column; landed
    * mtimes fix replay order), and each corpus micro-batch is judged
    * against the benchmark shingles LANDED SO FAR: batch order is
    * bench₁ → docs₁ → bench₂ → docs₂, so docs₁ sees only bench₁'s
    * shingles while docs₂ sees both — the arrival-order-dependent
    * state machine that batch decontam (q72/q86/q165) cannot express.
    * Exactly-once via the q141 subdir regime ([[graft.stream
    * .StreamDecontam]]): one Overwrite subdir per batch id for both
    * the standing shingle table and the verdicts, so retries replay
    * against the same standing set.
    *
    * 100 TB shape: the standing benchmark set is an on-disk parquet
    * table on the uniform shingle-hash key (never state-store or
    * driver state); each micro-batch's shingles broadcast against it;
    * verdicts append. The oracle replays both probes batch-wise
    * (docs%4==2 vs bench₁, docs%4==3 vs bench₁∪bench₂).
    */
  private val q175StreamDecontam = Q(
    "q175_stream_decontam",
    (s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft-sdc-").toString
      val landing = new java.io.File(root, "landing")
      landing.mkdirs()
      val docs = Tables.documents(s, d)
        .filter(size(split(col("text"), " ")) >= 4)
        .select(col("doc_id"), col("text"))
      val order = Seq((0, "bench"), (2, "docs"), (1, "bench"), (3, "docs"))
      order.zipWithIndex.foreach { case ((m, kind), i) =>
        Scratch.landFile(
          docs.filter(pmod(col("doc_id"), lit(4)) === m)
            .withColumn("kind", lit(kind)),
          landing.toString, s"${i}_$kind.parquet", modTime = 60000L * (i + 1))
      }
      val benchRoot = new java.io.File(root, "bench_shingles")
      val outRoot = new java.io.File(root, "verdicts")
      val step: (org.apache.spark.sql.DataFrame, Long) => Unit =
        (batch, id) =>
          graft.stream.StreamDecontam.step(s, batch,
            batch.select(col("doc_id"),
              explode(array_distinct(
                graft.functions.Hash32.shingleHashes(col("text")))).as("h")),
            id, benchRoot, outRoot)
      val docsIn = s.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, text STRING, kind STRING"))
        .option("maxFilesPerTrigger", "1")
        .parquet(landing.toString)
      Scratch.drainEachBatch(docsIn, s"$root/ckpt")(step)
      Scratch.sealAndClean(
        s.read.parquet(graft.stream.StreamNeardup.subdirs(outRoot): _*)
          .orderBy("doc_id"), root)
    },
    Some(s"""WITH ${Pipeline.shingleCte},
      th AS (SELECT DISTINCT doc_id,
          ${Sql.h32("s")} AS h FROM sh),
      b1 AS (SELECT DISTINCT h FROM th WHERE doc_id % 4 = 0),
      b12 AS (SELECT DISTINCT h FROM th WHERE doc_id % 4 IN (0, 1)),
      d1 AS (SELECT t.doc_id,
          CAST(sum(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_hit
        FROM th t LEFT JOIN b1 b ON t.h = b.h
        WHERE t.doc_id % 4 = 2 GROUP BY 1),
      d2 AS (SELECT t.doc_id,
          CAST(sum(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_hit
        FROM th t LEFT JOIN b12 b ON t.h = b.h
        WHERE t.doc_id % 4 = 3 GROUP BY 1),
      u AS (SELECT doc_id, n_hit FROM d1
        UNION ALL SELECT doc_id, n_hit FROM d2)
      SELECT doc_id, n_hit, n_hit > 0 AS contaminated
      FROM u ORDER BY doc_id"""))

  /** q180: DETERMINISTIC PSEUDONYMIZATION — replace the direct
    * identifier (user_id) with a salted md5 surrogate before a
    * dataset leaves the boundary, and emit the referential-integrity
    * audit that makes the substitution safe to ship: per surrogate,
    * the source-id cardinality (MUST be 1 — a collision would merge
    * two people's histories) and the event count (must conserve the
    * table). Together with q173 this is the release pair: q173 says
    * whether the quasi-identifiers still re-identify, q180 rewrites
    * the direct identifier consistently so joins across released
    * tables keep working.
    *
    * 100 TB shape: the surrogate is a map-side codegen'd md5 in the
    * scan stage; the audit is one groupBy on the uniform surrogate
    * key with count + count_distinct partials. Salt is a pipeline
    * parameter (here a literal); rotating it re-keys the entire
    * release in one pass.
    */
  private val q180Pseudonymize = Q(
    "q180_pseudonymize",
    (s, d) => {
      Tables.events(s, d)
        .select(substring(md5(concat(lit("rel1:"),
          col("user_id").cast("string"))), 1, 16).as("surrogate"),
          col("user_id"), col("event_id"))
        .groupBy("surrogate")
        .agg(count_distinct(col("user_id")).as("n_source_ids"),
          count(lit(1)).as("n_events"))
        .orderBy("surrogate")
    },
    Some("""SELECT substr(md5('rel1:' || CAST(user_id AS VARCHAR)), 1, 16)
          AS surrogate,
        CAST(count(DISTINCT user_id) AS BIGINT) AS n_source_ids,
        CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1 ORDER BY 1"""))

  /** q251: LICENSE PROPAGATION THROUGH NEAR-DUP CLUSTERS — the
    * governance rule that a document's effective license is the MOST
    * RESTRICTIVE in its duplicate cluster (a permissive copy of a
    * noncommercial original does not launder the restriction): q132's
    * O(log n) large-star/small-star components over the chained
    * fixture (deterministic license tags doc_id%5 → rank 1..5), then
    * a most-restrictive-wins rollup per cluster with the upgrade
    * census (how many docs inherit a stricter license than their own
    * tag — the rows a release review must look at). Singleton docs
    * keep their own tag via the left-join + coalesce(cluster, doc_id).
    *
    * 100 TB shape: CC is the q132 machinery (log-round alternations,
    * localCheckpoint lineage); the rollup and upgrade census are two
    * partial-aggregating exchanges on the cluster key. The oracle
    * replays the fixture's closed-form clusters (a chained segment is
    * one component labeled by its min id).
    */
  private val q251LicensePropagation = Q(
    "q251_license_propagation",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        (pmod(col("doc_id"), lit(5L)) + 1L).as("lic_rank"))
      val seg = Tables.documents(s, d)
        .select(col("doc_id"), expr("doc_id div 64").as("seg"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("seg").orderBy("doc_id")
      val edges = seg.withColumn("nxt", lead(col("doc_id"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("doc_id").as("a_id"), col("nxt").as("b_id"))
      val labels = graft.ops.Cluster.connectedComponentsStar(edges).labels
      val labeled = docs
        .join(labels.select(col("id").as("doc_id"), col("cluster")),
          Seq("doc_id"), "left")
        .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      val eff = labeled.groupBy("cluster").agg(
        count(lit(1)).as("n_docs"),
        count_distinct(col("lic_rank")).as("n_licenses"),
        max("lic_rank").as("eff_rank"))
      val up = labeled.join(eff.select("cluster", "eff_rank"), "cluster")
        .groupBy("cluster")
        .agg(sum(when(col("lic_rank") < col("eff_rank"), 1L).otherwise(0L))
          .as("n_upgraded"))
      eff.join(up, "cluster")
        .select(col("cluster"), col("n_docs"), col("n_licenses"),
          expr("""CASE eff_rank WHEN 1 THEN 'public-domain'
            WHEN 2 THEN 'permissive' WHEN 3 THEN 'sharealike'
            WHEN 4 THEN 'noncommercial' ELSE 'unknown' END""")
            .as("effective_license"),
          col("n_upgraded"))
        .orderBy("cluster")
    },
    Some("""WITH d AS (SELECT doc_id, doc_id % 5 + 1 AS lic_rank,
          doc_id // 64 AS seg FROM documents),
      c AS (SELECT seg, count(*) AS ns, min(doc_id) AS m FROM d GROUP BY 1),
      l AS (SELECT d.doc_id, d.lic_rank,
          CASE WHEN c.ns >= 2 THEN c.m ELSE d.doc_id END AS cluster
        FROM d JOIN c USING (seg)),
      e AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(count(DISTINCT lic_rank) AS BIGINT) AS n_licenses,
          max(lic_rank) AS eff_rank FROM l GROUP BY 1),
      u AS (SELECT l.cluster,
          CAST(sum(CASE WHEN l.lic_rank < e.eff_rank THEN 1 ELSE 0 END)
            AS BIGINT) AS n_upgraded
        FROM l JOIN e USING (cluster) GROUP BY 1)
      SELECT e.cluster, e.n_docs, e.n_licenses,
        CASE e.eff_rank WHEN 1 THEN 'public-domain'
          WHEN 2 THEN 'permissive' WHEN 3 THEN 'sharealike'
          WHEN 4 THEN 'noncommercial' ELSE 'unknown' END
          AS effective_license,
        u.n_upgraded
      FROM e JOIN u USING (cluster) ORDER BY 1"""))

  val queries: Seq[Q] = Seq(q173KAnonymity, q175StreamDecontam,
    q180Pseudonymize, q251LicensePropagation)
}
