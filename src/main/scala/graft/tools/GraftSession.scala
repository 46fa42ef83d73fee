package graft.tools

import org.apache.spark.sql.SparkSession

/** The ONE local-mode session builder for every harness main (Bench,
  * Verify, Plans, StageProfile), the
  * repository benchmark (perfbench.Main) and the test suite
  * (TestSpark). These confs are HARNESS-ONLY
  * local-mode compensations — `graft.SparkEntry`, the library
  * surface, deliberately carries none of them (a real cluster's
  * defaults are correct there).
  *
  * Why centralized: the identical conf block was previously
  * copy-pasted across 8 mains + TestSpark, so a conf change could
  * miss one and silently skew a census or a bench against the plans
  * the generator recorded (the exact drift class PlanHygieneSpec's
  * whole-matrix gate exists to catch). Each conf now has ONE
  * definition; a grep for `minPartitionNum` in main/test sources hits
  * only this file.
  *
  * Scale-adaptive scan splits: the corpora are single parquet FILES
  * (64 KB..175 MB), so the default split floor (openCost 4 MB) runs
  * whole-table scans as ONE task at these sizes. minPartitionNum=32
  * makes Spark size splits to totalBytes/32 per scan (floored at
  * 64 KB) — ~32 tasks for ANY table size, the local-mode stand-in
  * for a many-file layout, without the fixed-small-split task-count
  * blowup on larger tables. Row-group sizing in make_sf1.py makes
  * the small sf1 tables actually splittable. Measured (per-query A/B):
  * committed-scale walls are unchanged within noise, sf1 scan tails
  * drop 3-4x (q72 3.8->1.0 s, q164 3.9->1.1 s, q23 3.5->1.0 s).
  * On a real many-file cluster the defaults are correct.
  * (minPartitionNum is explicit for clarity — at local[32] it also
  * DEFAULTS to the core count; openCost is the active lever.)
  *
  * Codegen cache sized to the working set: Spark keeps ONE JVM-wide
  * cache of compiled generated classes, keyed by (context classloader,
  * generated source), with `spark.sql.codegen.cache.maxEntries` = 100
  * by default. In local mode every whole-stage body is compiled twice
  * — once under the driver's application classloader while planning,
  * once under the executor task classloader — so the default holds
  * only ~50 distinct bodies. A nightly cycle plus its request burst
  * needs more, so the cache sat full and evicted, least recently used
  * first, the code the next cycle needed: on a 4-vCPU host each cycle
  * compiled 82-84 bodies (1.4-2.2 s of a 4.1-5.7 s cycle) and each
  * burst 48-55. At [[CodegenCacheEntries]] a cycle compiles 10 (~0.3
  * s) and a burst 7-13: the bodies whose source carries per-file
  * literals. The cache then holds ~195 entries after set-up and grows
  * ~20 per cycle; past the bound, LRU drops those one-file bodies
  * first. The conf is STATIC and read ONCE per JVM, from the active
  * session, when the first use of `CodeGenerator` builds the cache, so
  * it must be set here, when the session is built — a later
  * `spark.conf.set` cannot change it, and code that touches
  * `CodeGenerator` before any session exists pins the default of 100.
  * Plans are unaffected: only repeat compiles go away.
  */
object GraftSession {

  /** `spark.sql.codegen.cache.maxEntries` for every local session. */
  val CodegenCacheEntries = 1000

  /** @param cores              local[N] worker threads (AQE split
    *                           packing and coalescing are
    *                           parallelism-first, so this leaks into
    *                           plan censuses — keep tools that feed
    *                           PLANS.md at 32)
    * @param shufflePartitions  defaults to `cores` (the per-env
    *                           guidance: 32, not 200)
    * @param logLevel           WARN for the driver-contract mains
    *                           (their stderr is round evidence),
    *                           ERROR for dev-loop tools
    * @param extra              main-specific confs (e.g. the test
    *                           suite's temp warehouse dir)
    */
  def local(
      cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      shufflePartitions: String = null,
      logLevel: String = "ERROR",
      appName: String = "graft",
      extra: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions",
        Option(shufflePartitions).getOrElse(cores))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.files.minPartitionNum", "32")
      .config("spark.sql.files.openCostInBytes", "65536")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
    val spark = extra.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
