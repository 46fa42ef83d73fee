package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Bus

/** One timed call into a layer: `workload/layer/call`, with the span
  * that caused it and the request it serves. Times are epoch micros.
  */
final case class Span(id: Long, name: String, layer: String, call: String,
    parent: Long, req: Long, start: Long, end: Long)

/** A completed Spark stage, attributed to the span whose job group
  * submitted it. Times are epoch millis (Spark's own clock).
  */
final case class StageRec(span: Long, submit: Long, done: Long, taskMs: Long,
    shuffleBytes: Long, scanBytes: Long, scanRows: Long, outRows: Long)

/** Spans around the benchmark's calls into each layer, plus the Spark
  * listeners that attribute jobs, stages, task time and planning phases
  * to them. The span id is the thread's Spark job group, so every job a
  * call submits (however deep inside the layer) lands on that span, and
  * so does every SQL execution with its planning phases.
  * With tracing off, `apply` is a plain call: no job group, no record.
  */
final class Trace(spark: SparkSession, workload: String) {
  @volatile var on = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobs = new ConcurrentHashMap[Long, java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()
  private val planMs = new ConcurrentHashMap[Long, Double]()

  private val epochBaseUs = System.currentTimeMillis() * 1000L
  private val nanoBase = System.nanoTime()
  private def nowUs: Long = epochBaseUs + (System.nanoTime() - nanoBase) / 1000L

  private def spanOf(group: String): Long =
    if (group != null && group.startsWith("pb-")) group.drop(3).toLong else 0L

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
      if (s != 0L) {
        jobs.merge(s, 1L, (a, b) => a + b)
        e.stageIds.foreach(id => stageSpan.put(id, s))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val s = stageSpan.getOrDefault(info.stageId, 0L)
      if (s != 0L && info.submissionTime.isDefined && info.completionTime.isDefined) {
        val m = info.taskMetrics
        stages.add(StageRec(s, info.submissionTime.get, info.completionTime.get,
          m.executorRunTime,
          m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.outputMetrics.recordsWritten))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val sp = spanOf(s.jobGroupId.orNull)
        if (sp != 0L) execSpan.put(s.executionId, sp)
      case e: SparkListenerSQLExecutionEnd =>
        val sp = execSpan.getOrDefault(e.executionId, 0L)
        if (sp != 0L) planMs.merge(sp, Bus.planMs(e), (a, b) => a + b)
      case _ =>
    }
  })

  def apply[T](layer: String, call: String, req: Long = 0L)(body: => T): T = {
    if (!on) return body
    val sc = spark.sparkContext
    val id = ids.incrementAndGet()
    val outer = stack.get
    stack.set(id :: outer)
    sc.setJobGroup(s"pb-$id", s"$workload/$layer/$call", interruptOnCancel = false)
    val t0 = nowUs
    try body
    finally {
      spans.add(Span(id, s"$workload/$layer/$call", layer, call,
        outer.headOption.getOrElse(0L), req, t0, nowUs))
      stack.set(outer)
      outer.headOption match {
        case Some(p) => sc.setJobGroup(s"pb-$p", "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Everything recorded so far, after the listener bus has delivered. */
  def snapshot(): Trace.Data = {
    Bus.drain(spark.sparkContext)
    Trace.Data(spans.asScala.toVector, stages.asScala.toVector,
      jobs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      planMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap)
  }
}

object Trace {

  final case class Data(spans: Vector[Span], stages: Vector[StageRec],
      jobs: Map[Long, Long], planMs: Map[Long, Double])

  /** Length of the union of [a, b) intervals. */
  private def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }

  private def clip(iv: Seq[(Long, Long)], s: Long, e: Long): Seq[(Long, Long)] =
    iv.map { case (a, b) => (math.max(a, s), math.min(b, e)) }.filter(i => i._2 > i._1)

  /** Per-span self time and gap (micros): self excludes child spans; gap
    * also excludes the span's own stages: wall time outside Spark's stages.
    */
  final case class SpanCost(span: Span, selfUs: Long, gapUs: Long, jobs: Long,
      stages: Vector[StageRec], planMs: Double)

  def costs(d: Data): Vector[SpanCost] = {
    val children = d.spans.groupBy(_.parent)
    val stagesBy = d.stages.groupBy(_.span)
    d.spans.map { s =>
      val kids = children.getOrElse(s.id, Vector.empty).map(k => (k.start, k.end))
      val own = stagesBy.getOrElse(s.id, Vector.empty)
      val kidIv = clip(kids, s.start, s.end)
      val stageIv = clip(own.map(r => (r.submit * 1000L, r.done * 1000L)), s.start, s.end)
      val dur = s.end - s.start
      SpanCost(s, dur - covered(kidIv), dur - covered(kidIv ++ stageIv),
        d.jobs.getOrElse(s.id, 0L), own, d.planMs.getOrElse(s.id, 0.0))
    }
  }

  /** The eight per-layer metrics every layer reports. */
  def common(layer: String, cs: Seq[SpanCost]): Seq[(String, Double, String)] = {
    val mine = cs.filter(_.span.layer == layer)
    val st = mine.flatMap(_.stages)
    Seq(
      (s"$layer.ms", mine.map(_.selfUs).sum / 1000.0, "ms"),
      (s"$layer.plan_ms", mine.map(_.planMs).sum, "ms"),
      (s"$layer.jobs", mine.map(_.jobs).sum.toDouble, "count"),
      (s"$layer.stages", st.size.toDouble, "count"),
      (s"$layer.task_s", st.map(_.taskMs).sum / 1000.0, "s"),
      (s"$layer.gap_ms", mine.map(_.gapUs).sum / 1000.0, "ms"),
      (s"$layer.shuffle_mb", st.map(_.shuffleBytes).sum / 1e6, "MB"),
      (s"$layer.scan_mb", st.map(_.scanBytes).sum / 1e6, "MB"))
  }

  def writeDump(d: Data, path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      d.spans.sortBy(_.start).foreach { s =>
        w.write(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"req":${s.req},""" +
          s""""start_us":${s.start},"end_us":${s.end},"jobs":${d.jobs.getOrElse(s.id, 0L)},""" +
          s""""plan_ms":${d.planMs.getOrElse(s.id, 0.0)}}""")
        w.newLine()
      }
    } finally w.close()
  }
}
