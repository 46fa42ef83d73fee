package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.graftshim.GraftShim

/** DataFrame-level entry to the native [[AsOfJoin]] operator.
  *
  * Mirrors [[graft.ops.AsOf.backward]]'s surface: left/right share
  * `keyCol`/`tsCol`; `rightSeqCol` breaks right-side ts ties (largest
  * wins); `payloadCols` are the right-side columns carried onto each
  * left row as `asof_<name>` (null when no right row precedes).
  */
object NativeAsOf {

  def backward(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      tsCol: String,
      rightSeqCol: String,
      payloadCols: Seq[String]): DataFrame = {
    val spark = left.sparkSession
    graft.GraftExtensions.ensureRegistered(spark)
    val lPlan = left.queryExecution.analyzed
    // Re-alias every right-side attribute: when both inputs derive from
    // the same source (the common events-joined-to-events case) the two
    // analyzed plans SHARE expression ids, and a binary node whose
    // output repeats an exprId binds ambiguously. The analyzer does
    // this for Join nodes (DeduplicateRelations); a post-analysis
    // custom node must do it itself. CollapseProject folds the extra
    // projection away.
    val rBase = right.queryExecution.analyzed
    val rPlan: LogicalPlan =
      Project(rBase.output.map(a => Alias(a, a.name)()), rBase)

    def attrOf(plan: LogicalPlan, name: String, side: String) =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"as-of $side side has no column '$name' " +
            s"(has: ${plan.output.map(_.name).mkString(", ")})"))

    val carried = (rightSeqCol +: payloadCols).distinct
    val node = AsOfJoin(
      lPlan, rPlan,
      attrOf(lPlan, keyCol, "left"), attrOf(lPlan, tsCol, "left"),
      attrOf(rPlan, keyCol, "right"), attrOf(rPlan, tsCol, "right"),
      attrOf(rPlan, rightSeqCol, "right"),
      carried.map(attrOf(rPlan, _, "right")))
    GraftShim.ofRows(spark, node)
      .toDF(left.columns ++ carried.map("asof_" + _): _*)
  }
}
