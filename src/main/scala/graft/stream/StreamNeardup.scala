package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One micro-batch of GREEDY incremental near-dup dedup (q141's
  * foreachBatch body, named so StreamNeardupSpec can drive it
  * directly): the incoming batch probes the standing band table of
  * previously-accepted documents, survivors append their bands,
  * rejected documents' bands are dropped.
  *
  * Layout contract: `bandsRoot`/`outRoot` hold one subdir per applied
  * micro-batch, named `b<batchId>`, written with Overwrite — a
  * retried batch id rewrites the same files, so the step is
  * idempotent without a transaction log (the exactly-once regime
  * AvailableNow + checkpoint needs from a foreachBatch sink).
  *
  * Scale shape: the standing table is an on-disk parquet set (never
  * state-store state — it grows with the accepted corpus), joined on
  * (band, sig); the incoming batch side is micro-batch-sized, so the
  * join broadcasts it against the bucketable standing side.
  *
  * ASYMMETRIC (query-side) probing — the standing-index form of the
  * multi-probe hyperplane-LSH family (q25/q267), round-15: pass
  * `indexBands` = the batch's BASE band keys and `bands` = its
  * base ∪ PROBED keys (`rh_probed_band_keys`). The standing table
  * then carries only 4 base keys per accepted vector (O(N) index
  * growth, independent of the probe schedule T), while the (1+T)×
  * key multiplication rides the micro-batch QUERY side only — Lv et
  * al.'s (VLDB'07) asymmetric regime. This is what kills the "every
  * nightly batch re-pays the full q25 pipeline" cost at 100 TB: a
  * batch of B new vectors pays 4·(1+T)·B standing-index lookups
  * instead of re-keying and re-pairing the whole corpus. Semantics
  * (pinned batch-incremental ≡ full-recompute by
  * StreamLshNeardupSpec): a new vector matches an accepted one iff
  * probed(new) ∩ base(accepted) ≠ ∅ — flip reach is query-side only
  * (depth ≤3 per band, not the symmetric self-join's ≤6), the
  * standing trade for the O(N) index; bench/asym_frontier_r16.txt
  * records the recall/T frontier for this regime.
  */
object StreamNeardup {

  def subdirs(dir: java.io.File): Seq[String] =
    Option(dir.listFiles())
      .map(_.toSeq.filter(_.isDirectory).map(_.toString))
      .getOrElse(Seq.empty)

  /** Apply one micro-batch. `bands` must carry (doc_id, band, sig) for
    * every incoming document (empty band sets simply probe nothing).
    * `indexBands`, when given, is what ACCEPTED documents append to
    * the standing table instead of `bands` (same shape) — the
    * asymmetric-probing hook: probe keys on the query side, base keys
    * only in the index. Defaults to `bands` (symmetric — the q141
    * minhash path is unchanged).
    */
  def step(spark: SparkSession, batch: DataFrame, bands: DataFrame,
      batchId: Long, bandsRoot: java.io.File,
      outRoot: java.io.File, indexBands: DataFrame = null): Unit = {
    val nb = bands.persist()
    val ib = Option(indexBands).getOrElse(nb)
    // a RETRIED batch id must probe the same standing set the first
    // attempt saw — its own previously-written subdir would otherwise
    // self-match every doc it accepted and flip the verdicts on replay
    val standingDirs = subdirs(bandsRoot)
      .filterNot(p => new java.io.File(p).getName == s"b$batchId")
    val partners =
      if (standingDirs.isEmpty)
        batch.select(col("doc_id")).limit(0)
          .withColumn("n_existing_partners", lit(0L))
      else
        nb.join(spark.read.parquet(standingDirs: _*), Seq("band", "sig"))
          .select(col("doc_id"), col("partner_id")).distinct()
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_existing_partners"))
    batch.select("doc_id").distinct()
      .join(partners, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_existing_partners"), lit(0L))
          .as("n_existing_partners"))
      .withColumn("kept", col("n_existing_partners") === 0L)
      .write.mode("overwrite").parquet(s"$outRoot/b$batchId")
    // accepted set re-read from the sealed verdict files, so the
    // standing table and the reported verdicts can never diverge
    val accepted = spark.read.parquet(s"$outRoot/b$batchId")
      .filter(col("kept")).select("doc_id")
    ib.join(accepted, "doc_id")
      .select(col("band"), col("sig"), col("doc_id").as("partner_id"))
      .write.mode("overwrite").parquet(s"$bandsRoot/b$batchId")
    nb.unpersist(blocking = false)
  }
}
