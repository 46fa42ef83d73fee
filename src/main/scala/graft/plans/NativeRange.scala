package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.graftshim.GraftShim

/** DataFrame-level entry to the native [[RangeJoin]] operator.
  *
  * Mirrors [[graft.ops.RangeJoin.pointsInIntervals]]'s surface minus
  * the bin-width parameter (the native operator needs no blocking
  * grid): every (point, interval) pair with
  * `start <= point.ts < end`, output = point columns ++ interval
  * columns.
  */
object NativeRange {

  def pointsInIntervals(
      points: DataFrame,
      tsCol: String,
      intervals: DataFrame,
      startCol: String,
      endCol: String): DataFrame = {
    val spark = points.sparkSession
    graft.GraftExtensions.ensureRegistered(spark)
    val pPlan = points.queryExecution.analyzed
    // re-alias the interval side so shared exprIds from a common
    // source cannot bind ambiguously (NativeAsOf's rule)
    val iBase = intervals.queryExecution.analyzed
    val iPlan: LogicalPlan =
      Project(iBase.output.map(a => Alias(a, a.name)()), iBase)

    def attrOf(plan: LogicalPlan, name: String, side: String) =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"range-join $side side has no column '$name' " +
            s"(has: ${plan.output.map(_.name).mkString(", ")})"))

    val node = RangeJoin(pPlan, iPlan,
      attrOf(pPlan, tsCol, "point"),
      attrOf(iPlan, startCol, "interval"), attrOf(iPlan, endCol, "interval"))
    GraftShim.ofRows(spark, node)
  }
}
