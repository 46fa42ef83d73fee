package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One micro-batch of the STREAMING INDEX-STALENESS MONITOR (q254's
  * foreachBatch body) — q252's retrain trigger in the arrival regime
  * (the q204→q205 relationship applied to the IVF index): the first
  * NON-EMPTY batch is the INDEX BUILD — it freezes the coarse
  * codebook (the sampled centroids, a bounded C-row table) and the
  * reference cell histogram (idle ticks before it defer the build
  * rather than freezing an empty codebook, and the build batch id is
  * persisted so a retry REBUILDS instead of scoring against its own
  * baseline); every later batch is an arriving vector window scored
  * against that frozen baseline, emitting one occupancy-drift reading
  * (new cells, drifted cells, max share shift) per window.
  *
  * Layout contract (the [[StreamPsi]]/[[StreamNeardup]] pattern):
  * centroids, reference histogram, and each `b<id>` verdict subdir are
  * written with Overwrite — a retried batch rewrites its own artifact,
  * idempotent without a transaction log.
  *
  * Scale shape: standing state is the C-row centroid table + C-row
  * histogram (never raw vectors, never state store); each batch's
  * assignment is the plan-bound NearestCentroid map-side projection
  * (codebook rebuilt from the persisted centroid table — a bounded
  * collect, q47's 2^16 cap); the drift join is histogram-sized.
  * Share products widen to decimal(38,0); zero-total guards keep an
  * EMPTY window (idle source tick) from emitting nulls.
  */
object StreamStaleness {

  private def cellsOf(df: DataFrame, centsDir: String): DataFrame = {
    // mod=1 loads EVERY persisted row: the centroid table was already
    // sampled (adaptively) at build time, so re-filtering here would
    // double-sample and drop most of the frozen codebook.
    graft.search.Ivf.assign(df,
      graft.search.Ivf.codebook(df.sparkSession.read.parquet(centsDir), 1))
  }

  /** Batch id that built the frozen baseline, or None before any
    * build. Persisted as a 1-row parquet marker (same FS abstraction
    * as every other artifact) so the dispatch survives restarts and a
    * RETRIED build batch rebuilds (idempotent) instead of scoring
    * against its own codebook.
    */
  private def builtBatchId(batch: DataFrame, metaDir: String): Option[Long] = {
    val ss = batch.sparkSession
    val p = new org.apache.hadoop.fs.Path(metaDir)
    val fs = p.getFileSystem(ss.sparkContext.hadoopConfiguration)
    // explicit FS existence probe, not read-and-catch: the missing-path
    // read throws different exception types depending on calling
    // context (AnalysisException at top level, FileNotFoundException
    // inside a foreachBatch), and a mis-caught one kills the stream
    if (!fs.exists(p)) None
    else Some(ss.read.parquet(metaDir).head().getLong(0))
  }

  def step(batch: DataFrame, batchId: Long, centsDir: String,
      refHistDir: String, verdictsDir: String): Unit = {
    val metaDir = centsDir + "_meta"
    val built = builtBatchId(batch, metaDir)
    // Build on the FIRST NON-EMPTY batch (round-8 advice: an empty
    // batch 0 — an idle source tick — must defer the build, not
    // freeze an empty codebook that filters every later window to
    // nothing forever), or rebuild when the build batch is retried.
    if (built.isEmpty || built.contains(batchId)) {
      if (built.isEmpty && batch.isEmpty) return // idle pre-build tick
      // Size the frozen codebook from the BUILD batch (C ≈ √N via
      // adaptiveMod) — a fixed modulus grows C linearly with the batch
      // and makes every later window's assignment pass quadratic, the
      // exact class the round-9 sf1 sweep measured in the batch twins.
      val md = graft.search.Ivf.adaptiveMod(batch.count())
      graft.search.Ivf.sample(batch, md)
        .coalesce(1).write.mode("overwrite").parquet(centsDir)
      cellsOf(batch, centsDir).groupBy("cell").agg(count(lit(1)).as("c"))
        .coalesce(1).write.mode("overwrite").parquet(refHistDir)
      val ss = batch.sparkSession
      import ss.implicits._
      Seq(batchId).toDF("build_batch_id")
        .coalesce(1).write.mode("overwrite").parquet(metaDir)
    } else {
      val ss = batch.sparkSession
      val cur = cellsOf(batch, centsDir)
        .groupBy("cell").agg(count(lit(1)).as("cc"))
      val ref = ss.read.parquet(refHistDir)
        .select(col("cell"), col("c").as("cr"))
      val j = ref.join(cur, Seq("cell"), "full_outer")
        .select(col("cell"), coalesce(col("cr"), lit(0L)).as("cr"),
          coalesce(col("cc"), lit(0L)).as("cc"))
      val tots = j.agg(sum("cr").as("nr"), sum("cc").as("nc"),
        count(lit(1)).as("nb"))
      val sh = j.crossJoin(broadcast(tots))
        .select(col("cr"), col("cc"), col("nb"), col("nr"), col("nc"),
          expr("""CASE WHEN nr = 0 THEN CAST(0 AS BIGINT)
            ELSE (cast(cr as decimal(38,0)) * 1000000) div nr END""")
            .as("sr"),
          expr("""CASE WHEN nc = 0 THEN CAST(0 AS BIGINT)
            ELSE (cast(cc as decimal(38,0)) * 1000000) div nc END""")
            .as("sc"))
        .withColumn("shift", abs(col("sr") - col("sc")))
      sh.groupBy("nb", "nr", "nc")
        .agg(sum(when(col("cr") === 0L, 1L).otherwise(0L)).as("n_new"),
          sum(when(col("shift") > 100000L, 1L).otherwise(0L)).as("n_drifted"),
          max("shift").as("max_shift_e6"))
        .select(lit(batchId).as("window_id"), col("nb").as("n_cells"),
          col("nr").as("n_ref"), col("nc").as("n_cur"),
          col("n_new"), col("n_drifted"), col("max_shift_e6"))
        .coalesce(1).write.mode("overwrite").parquet(s"$verdictsDir/b$batchId")
    }
  }
}
