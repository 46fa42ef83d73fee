package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.graftshim.GraftShim
import scala.collection.mutable.ArrayBuffer

/** Stage-level breakdown of a query run — which stages dominate the
  * wall, and whether their cost is scan, shuffle write, or shuffle
  * read. Feeds the SCALING.md "expensive-tail" notes: a whole-query
  * wall says a query is slow, the stage profile says WHERE, which is
  * what separates "at its linear floor" from "hiding a fat exchange".
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> runMain graft.tools.StageProfile q100_cms_sketch ...
  * Prints, per query, every completed stage's duration, task-time sum,
  * input read, shuffle write/read volumes and record counts, sorted by
  * task time.
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_sf1")
    val spark = GraftSession.local(cores = "32", appName = "graft-stage-profile")

    case class St(id: Int, name: String, wallMs: Long, taskMs: Long,
      inputMB: Double, shWriteMB: Double, shReadMB: Double,
      shWriteRec: Long, shReadRec: Long, outRec: Long)
    val stages = ArrayBuffer.empty[St]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        stages.synchronized {
          stages += St(i.stageId,
            i.name.takeWhile(_ != '\n').take(70),
            i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L),
            m.executorRunTime,
            m.inputMetrics.bytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.recordsWritten,
            m.shuffleReadMetrics.recordsRead,
            m.outputMetrics.recordsWritten)
        }
      }
    })

    for (n <- args) {
      val q = graft.queries.Registry.byName(n)
      // warm-up (classloading/codegen out of the profile)
      q.fn(spark, sfDir).selectExpr("sum(xxhash64(struct(*)))").collect()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      stages.synchronized(stages.clear())
      val t0 = System.nanoTime()
      q.fn(spark, sfDir).selectExpr("sum(xxhash64(struct(*)))").collect()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events arrive asynchronously: drain the bus before
      // reading what the listener recorded
      GraftShim.waitUntilEmpty(spark.sparkContext)
      val snap = stages.synchronized(stages.sortBy(-_.taskMs).toVector)
      val totalTask = snap.map(_.taskMs).sum.toDouble
      println(f"== $n  wall=$wall%.2fs  stages=${snap.length}  taskTime=${totalTask / 1000}%.1fs")
      snap.take(12).foreach { s =>
        println(f"  stage ${s.id}%4d ${s.taskMs / 1000.0}%7.2fs task (${100 * s.taskMs / math.max(1.0, totalTask)}%4.1f%%) " +
          f"wall ${s.wallMs / 1000.0}%6.2fs  in ${s.inputMB}%8.1fMB  shW ${s.shWriteMB}%8.1fMB/${s.shWriteRec}%d  " +
          f"shR ${s.shReadMB}%8.1fMB/${s.shReadRec}%d  ${s.name}")
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
