package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, AttributeReference, Descending, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types.LongType

/** DataFrame-level entry to the native [[TopKPerGroup]] operator:
  * `topK(df, Seq("g"), Seq("score" -> false, "id" -> true), 3)` ==
  * the rows the window form `row_number() OVER (PARTITION BY g ORDER
  * BY score DESC, id) <= 3` keeps, with the rank appended — minus the
  * full per-group sort (see [[TopKPerGroup]]).
  */
object NativeTopK {

  /** @param order (column, ascending) pairs; must form a total order
    *              for deterministic ranks (the window form's contract)
    */
  def topK(
      df: DataFrame,
      groupCols: Seq[String],
      order: Seq[(String, Boolean)],
      k: Int,
      rankName: String = "rank"): DataFrame = {
    val spark = df.sparkSession
    graft.GraftExtensions.ensureRegistered(spark)
    val plan: LogicalPlan = df.queryExecution.analyzed
    def attrOf(name: String) =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"top-k input has no column '$name' " +
            s"(has: ${plan.output.map(_.name).mkString(", ")})"))
    val sortOrders = order.map { case (n, asc) =>
      SortOrder(attrOf(n), if (asc) Ascending else Descending)
    }
    val rankAttr = AttributeReference(rankName, LongType, nullable = false)()
    GraftShim.ofRows(spark,
      TopKPerGroup(groupCols.map(attrOf), sortOrders, k, rankAttr, plan))
  }
}
