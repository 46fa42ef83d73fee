package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import graft.tools.GraftSession

/** Benchmark entry point, launched by perfbench/run.py:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --data BASE_DIR --run RUN_DIR --out RESULT_JSON [--trace-dir DIR]
  *
  * Set-up (prepare x3, median, plus session start and one warm-up), then
  * the measured closed loop, then the answer check. With --trace 1 the
  * loop runs half untraced and half traced; the traced half yields the
  * per-layer metrics, each total given per unit of work (cycle or pass),
  * and the difference is the tracing overhead. Any failed operation makes
  * the run incorrect.
  */
object Main {
  val SetupReps = 3
  val Layers: Seq[String] = Seq("io", "domain", "stream", "annotate", "query", "search", "queries")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val runDir = Paths.get(a("run"))
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = GraftSession.local(
      cores = Runtime.getRuntime.availableProcessors.toString,
      logLevel = "ERROR", appName = s"perfbench-$workload",
      extra = Map(
        "spark.local.dir" -> runDir.resolve("spark-local").toString,
        "spark.sql.warehouse.dir" -> runDir.resolve("warehouse").toString))
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val trace = new Trace(spark, workload)
    val ctx = Ctx(spark, trace, workload, seed, a("data"), runDir)
    val w: Workload = workload match {
      case "nightly_cycle" => new NightlyCycle(ctx)
      case "analytics_batch" => new AnalyticsBatch(ctx, traced)
      case other => sys.error(s"unknown workload $other")
    }

    val preps = (1 to SetupReps).map { i =>
      val d = runDir.resolve(s"state-$i")
      val t0 = System.nanoTime()
      w.prepare(d)
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < SetupReps) { w.cleanSession(); Workload.rmTree(d) }
      dt
    }
    val tw = System.nanoTime()
    w.warmUp()
    w.cleanSession()
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + Stats.median(preps) + warmS
    System.err.println(f"[perfbench] $workload seed $seed: session $sessionS%.2fs, " +
      s"prepare ${preps.map(p => f"$p%.2f").mkString("/")}s, warm-up ${"%.2f".format(warmS)}s")

    val tm = System.nanoTime()
    val plain = w.measure(if (traced) seconds / 2 else seconds)
    val before = w.stores.map(s => (s.mergedBatches.value, s.mergedUpserts.value,
      s.mergedTombstones.value))
    var tracedPhase: Option[Phase] = None
    if (traced) {
      w match { case ab: AnalyticsBatch => ab.perQuery.clear(); case _ => }
      trace.on = true
      tracedPhase = Some(w.measure(seconds / 2))
      trace.on = false
    }
    val tc = System.nanoTime()
    // a failed operation records no timing, so its run reports no result
    val correct = w.check() && w.failed.get == 0
    System.err.println(f"[perfbench] measured ${(tc - tm) / 1e9}%.1fs, " +
      f"checked ${(System.nanoTime() - tc) / 1e9}%.1fs")
    val attempted = w.attempted.get
    val failed = w.failed.get

    val report = ListMap.newBuilder[String, (Double, String)]
    report += "setup_s" -> (setupS, "s")
    report += "unit_p50_s" -> (Stats.median(plain.units), "s")
    report += "throughput_per_s" -> (plain.work, "1/s")
    plain.latencies.toSeq.sortBy(_._1).foreach { case (k, xs) =>
      report += s"${k}_p50_ms" -> (Stats.median(xs), "ms")
      report += s"${k}_samples" -> (xs.size.toDouble, "count")
    }
    plain.info.foreach { case (k, v, u) => report += k -> (v, u) }
    if (w.storeDirs.nonEmpty)
      report += "store_bytes_per_doc" -> (w.storeDirs.map(dirBytes).sum.toDouble / w.liveDocs, "B")
    report += "failed_frac" -> (failed.toDouble / math.max(attempted, 1L), "ratio")
    report += "units" -> (plain.units.size.toDouble, "count")

    val layers: Seq[(String, Double, String)] = tracedPhase.map { tp =>
      val data = trace.snapshot()
      val costs = Trace.costs(data)
      val after = w.stores.map(s => (s.mergedBatches.value, s.mergedUpserts.value,
        s.mergedTombstones.value))
      val delta = before.zip(after).map { case (b, x) => (x._1 - b._1, x._2 - b._2, x._3 - b._3) }
      val upserts = delta.map(_._2).sum
      def dur(layer: String, call: String) = costs.filter(c =>
        c.span.layer == layer && c.span.call == call).map(c => (c.span.end - c.span.start) / 1000.0).sum
      val merges = costs.filter(c => c.span.layer == "stream" && c.span.call == "merge")
      val written = merges.flatMap(_.stages).map(_.outRows).sum
      val queryScan = costs.filter(_.span.layer == "query").flatMap(_.stages).map(_.scanRows).sum
      val server = w.serving
      val resultRows = server.map(_.queryRows.get).getOrElse(0L)
      val (cand, corpus) = server.map(candidates(spark, _)).getOrElse((0L, 0L))
      val versions = w.storeDirs.flatMap(latestVersions)
      val fileCounts = versions.map(v => Files.list(v).filter(_.toString.endsWith(".parquet")).count())
      val perQuery = w match { case ab: AnalyticsBatch => ab.perQuery.toMap; case _ => Map.empty[String, Vector[Double]] }
      val overhead = Stats.median(tp.units) / Stats.median(plain.units) - 1
      val (counts, ratios) = defaults(w.extras).partition(_._3 == "count")
      // totals over the traced half, per unit of work: a faster program
      // fits more units into the half, not more cost into each
      val units = math.max(tp.units.size, 1)
      val totals = Layers.flatMap(l => Trace.common(l, costs)) ++ Seq(
        ("stream.merges", delta.map(_._1).sum.toDouble, "count"),
        ("stream.upserts", upserts.toDouble, "count"),
        ("stream.tombstones", delta.map(_._3).sum.toDouble, "count"),
        ("stream.snapshot_ms", dur("stream", "snapshot"), "ms"),
        ("stream.vacuum_ms", dur("stream", "vacuum"), "ms"),
        ("query.expand_ms", dur("query", "expand"), "ms"),
        ("search.codebook_ms", dur("search", "codebook"), "ms"),
        ("search.assign_ms", costs.filter(c => c.span.layer == "search" && c.span.call == "ivf")
          .map(_.selfUs / 1000.0).sum, "ms")) ++ counts
      val rows = totals.map { case (k, v, u) => (k, v / units, u) } ++ Seq(
        ("stream.write_amp", ratio(written, upserts), "ratio"),
        ("stream.files_per_version", ratio(fileCounts.sum, fileCounts.size), "count"),
        ("query.rows_per_result", ratio(queryScan, resultRows), "ratio"),
        ("search.candidates_frac", ratio(cand, corpus), "ratio")) ++
        ratios ++
        AnalyticsBatch.ids.map(id => (s"queries.$id.s", median0(perQuery.getOrElse(id, Vector.empty)), "s")) ++
        Seq(("trace.overhead_frac", overhead, "ratio"))
      val bases = ListMap(
        "stream.write_amp" -> s"$written rows written by merges / $upserts upserted rows",
        "stream.files_per_version" -> s"${fileCounts.sum} files / ${fileCounts.size} live versions",
        "query.rows_per_result" -> s"$queryScan rows scanned / $resultRows result rows",
        "search.candidates_frac" -> s"$cand candidates / $corpus vectors searched",
        "trace.overhead_frac" -> f"traced unit p50 ${Stats.median(tp.units)}%.3fs vs untraced ${Stats.median(plain.units)}%.3fs") ++
        w.bases
      a.get("trace-dir").foreach { td =>
        val dir = Files.createDirectories(Paths.get(td))
        Trace.writeDump(data, dir.resolve("spans.jsonl"))
        Files.writeString(dir.resolve("layers.txt"), table(rows, bases, costs, units))
      }
      System.err.print(table(rows, bases, costs, units))
      rows
    }.getOrElse(Nil)

    val r = report.result()
    System.err.println(s"[perfbench] $workload seed $seed end-to-end (untraced), units " +
      plain.units.map(u => f"$u%.3f").mkString(" "))
    r.foreach { case (k, (v, u)) =>
      System.err.println(f"  $k%-24s $v%.4f $u")
    }
    val metrics =
      if (traced) layers.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap
      else Seq("setup_s", "unit_p50_s", "throughput_per_s").map(k =>
        k -> Map("value" -> r(k)._1, "unit" -> r(k)._2)).toMap
    val out = ListMap("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> ListMap(metrics.toSeq.sortBy(_._1): _*),
      "report" -> ListMap(r.toSeq.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }: _*))
    Files.writeString(Paths.get(a("out")), Stats.json(out))
    spark.stop()
  }

  private def ratio(a: Long, b: Long): Double = if (b == 0) 0.0 else a.toDouble / b
  private def median0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Every workload reports the same layer-extra names; a workload that
    * never exercises a layer reports its zero.
    */
  private def defaults(got: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    val names = Seq("io.rows" -> "count", "domain.included_frac" -> "ratio",
      "annotate.rows" -> "count", "annotate.useful_ratio" -> "ratio")
    names.map { case (n, u) => got.find(_._1 == n).getOrElse((n, 0.0, u)) }
  }

  /** Vectors in the probed cells of each distinct traced ANN query, over
    * the corpus searched: Ivf.search with k = all returns exactly them.
    */
  private def candidates(spark: org.apache.spark.sql.SparkSession, s: Server): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val qids = s.annQids.asScala.toSeq
    if (qids.isEmpty) (0L, 0L)
    else {
      val e = s.embeddings
      val n = e.count()
      val cand = qids.map(q => graft.search.Ivf.search(spark, e, q,
        graft.search.Ivf.adaptiveMod(n), nprobe = 4, k = Int.MaxValue).count()).sum
      (cand, qids.size * (n - 1))
    }
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** The newest committed version directory of every table under a store root. */
  private def latestVersions(root: Path): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    if (!Files.exists(root)) Nil
    else Files.list(root).iterator().asScala.toSeq
      .filter(t => Files.isDirectory(t) && !t.getFileName.toString.startsWith("_"))
      .flatMap { t =>
        Files.list(t).iterator().asScala.toSeq
          .filter(v => v.getFileName.toString.matches("v\\d+") && Files.exists(v.resolve("_SUCCESS")))
          .sortBy(_.getFileName.toString.drop(1).toInt).lastOption
      }
  }

  private def table(rows: Seq[(String, Double, String)], bases: Map[String, String],
      costs: Vector[Trace.SpanCost], units: Int): String = {
    val sb = new StringBuilder(s"[perfbench] per-layer (traced half, $units units; " +
      "totals per unit, ratios over the half):\n")
    rows.foreach { case (k, v, u) =>
      sb ++= f"  $k%-28s $v%14.4f $u%-6s ${bases.getOrElse(k, "")}\n"
    }
    sb ++= s"  spans ${costs.size}, jobs ${costs.map(_.jobs).sum}, " +
      s"stages ${costs.map(_.stages.size).sum}\n"
    sb.toString
  }
}
