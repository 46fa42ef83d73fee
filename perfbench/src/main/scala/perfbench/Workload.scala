package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}

final case class Ctx(spark: SparkSession, trace: Trace, workload: String, seed: Long,
    baseDir: String, runDir: Path)

/** What one measured phase produced. `units` are the workload's unit-of-work
  * wall times (s); `latencies` the per-request-type samples (ms).
  */
final case class Phase(units: Vector[Double], work: Double,
    latencies: Map[String, Vector[Double]], info: Seq[(String, Double, String)])

/** A benchmark workload: state built by `prepare` (repeated to time the
  * set-up), an untimed `warmUp`, closed-loop `measure` phases, and an
  * answer `check` made outside any timed region.
  */
abstract class Workload(val ctx: Ctx) {
  import ctx._

  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)
  private val reqIds = new AtomicLong(0)

  def prepare(dir: Path): Unit
  def warmUp(): Unit
  def measure(seconds: Double): Phase
  def check(): Boolean
  /** Layer metrics only this workload's harness can see (counts and
    * ratios, with the bases of the ratios), for the traced run's table.
    */
  def extras: Seq[(String, Double, String)] = Nil
  def bases: Seq[(String, String)] = Nil

  def serving: Option[Server] = None
  def stores: Seq[graft.stream.TableStore] = Nil
  /** Store roots on disk, and the live docs they hold. */
  def storeDirs: Seq[Path] = Nil
  def liveDocs: Long = 0L

  def nextReq(): Long = reqIds.incrementAndGet()

  /** Run one counted operation; a failure records no timing, only the
    * count and its root cause on stderr.
    */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(body)
    catch {
      case e: Throwable =>
        failed.incrementAndGet()
        System.err.println(s"[perfbench] $workload: $what FAILED: ${Stats.rootCause(e)}")
        None
    }
  }

  def cleanSession(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

object Workload {
  def rmTree(p: Path): Unit = graft.queries.Scratch.rmTree(p.toString)

  /** A directory holding `documents.parquet` as a link to the version
    * directory a snapshot reads, for the dir-addressed picosearch layer.
    */
  def linkView(viewsRoot: Path, snapshot: DataFrame): String = {
    val versionDir = Paths.get(new java.net.URI(snapshot.inputFiles.head)).getParent
    val view = viewsRoot.resolve(s"${versionDir.getParent.getFileName}-${versionDir.getFileName}")
    if (!Files.exists(view)) {
      Files.createDirectories(view)
      Files.createSymbolicLink(view.resolve("documents.parquet"), versionDir)
    }
    view.toString
  }

  def groupLatencies(q: ConcurrentLinkedQueue[(String, Double)]): Map[String, Vector[Double]] =
    q.asScala.toVector.groupMap(_._1)(_._2)
}
