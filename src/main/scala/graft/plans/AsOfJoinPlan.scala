package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, RowOrdering,
  SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Backward as-of join as a NATIVE Catalyst operator — the rung of the
  * custom-operator ladder below composition: a logical plan node, a
  * planner strategy, and a physical operator that asks the engine for
  * co-clustered, time-sorted children and then streams both sides in
  * one pass per partition.
  *
  * Same semantics as the composed [[graft.ops.AsOf.backward]] (tagged
  * union + window): for each left row, the single most recent right row
  * with `right.ts <= left.ts` on the same key; right-side ts ties
  * resolve to the largest `seq`. AsOfNativeSpec pins the two
  * implementations against each other on randomized inputs.
  *
  * Why both exist: the composed form reuses Spark's window machinery
  * unchanged (one shuffle+sort of |L|+|R| tagged rows, every column of
  * both sides riding the exchange). The native operator shuffles each
  * side SEPARATELY on its own key (no row widening: left rows never
  * carry right-payload nulls through the exchange, right rows never
  * carry the left-struct null), sorts within partitions, and joins with
  * an O(|L|+|R|) merge needing O(1) state — the matched-payload row —
  * per partition. It also keeps each side's exchange reusable: the
  * left side arrives hash-partitioned by key, not by the union's
  * synthetic layout.
  *
  * Nulls: rows whose KEY is null group together (UnsafeRow grouping
  * equality, matching the window's partitionBy). Null TIMESTAMPS are
  * rejected by the API — the composed form's behavior for them is an
  * accident of nulls-first sort order, not a semantic anyone should
  * rely on.
  */
case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Attribute,
    leftTime: Attribute,
    rightKey: Attribute,
    rightTime: Attribute,
    rightSeq: Attribute,
    payload: Seq[Attribute]) extends BinaryNode {

  require(leftKey.dataType == rightKey.dataType,
    s"as-of key types differ: ${leftKey.dataType} vs ${rightKey.dataType}")
  require(leftTime.dataType == rightTime.dataType,
    s"as-of time types differ: ${leftTime.dataType} vs ${rightTime.dataType}")

  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoin]] to [[AsOfJoinExec]]; one of
  * [[graft.GraftExtensions.strategies]].
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsOfJoin =>
      AsOfJoinExec(j.leftKey, j.leftTime, j.rightKey, j.rightTime, j.rightSeq,
        j.payload, planLater(j.left), planLater(j.right)) :: Nil
    case _ => Nil
  }
}

/** Physical backward as-of join.
  *
  * Distribution contract: both children clustered on their key (the
  * engine inserts ONE hash exchange per side, or none when a child is
  * already co-partitioned — e.g. bucketed tables); within partitions,
  * left sorted by (key, ts), right by (key, ts, seq). The merge then
  * visits each row exactly once: for every left row, right rows with
  * `ts <= left.ts` in the same key group are absorbed in order, the
  * last absorbed one (largest ts, then largest seq — exactly the sort
  * order) being the match.
  */
case class AsOfJoinExec(
    leftKey: Attribute,
    leftTime: Attribute,
    rightKey: Attribute,
    rightTime: Attribute,
    rightSeq: Attribute,
    payload: Seq[Attribute],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending),
      SortOrder(rightSeq, Ascending)))

  // left rows stream out in their sorted order
  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val payloadExprs: Seq[Expression] = payload
    val keyType = leftKey.dataType
    val tsType = leftTime.dataType
    val lKeyE: Expression = leftKey
    val lTimeE: Expression = leftTime
    val rKeyE: Expression = rightKey
    val rTimeE: Expression = rightTime
    val outAttrs = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(Seq(lKeyE), lOut)
      val rKeyProj = UnsafeProjection.create(Seq(rKeyE), rOut)
      val lTimeProj = UnsafeProjection.create(Seq(lTimeE), lOut)
      val rTimeProj = UnsafeProjection.create(Seq(rTimeE), rOut)
      val payloadProj = UnsafeProjection.create(payloadExprs, rOut)
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)
      // null-safe single-column row orderings (nulls first, matching
      // the required child SortOrder)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(Seq(keyType))
      val tsOrd = RowOrdering.createNaturalAscendingOrdering(Seq(tsType))
      val nullPayload = new GenericInternalRow(payloadExprs.length)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        // one-row right lookahead; key/ts/payload are copied out of the
        // upstream row immediately (exec iterators reuse row buffers)
        private var rKey: UnsafeRow = _
        private var rTs: UnsafeRow = _
        private var rPayload: UnsafeRow = _
        private def advanceRight(): Unit =
          if (rIter.hasNext) {
            val r = rIter.next()
            rKey = rKeyProj(r).copy()
            rTs = rTimeProj(r).copy()
            require(!rTs.isNullAt(0), "as-of join: null right timestamp")
            rPayload = payloadProj(r).copy()
          } else { rKey = null; rTs = null; rPayload = null }
        advanceRight()

        private var curKey: UnsafeRow = _
        private var matched: UnsafeRow = _

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lk = lKeyProj(l)
          if (curKey == null || keyOrd.compare(lk, curKey) != 0) {
            // new left key group: drop the old match, fast-forward the
            // right side past keys that no left row will ever ask for
            matched = null
            curKey = lk.copy()
            while (rKey != null && keyOrd.compare(rKey, curKey) < 0) advanceRight()
          }
          val lts = lTimeProj(l)
          require(!lts.isNullAt(0), "as-of join: null left timestamp")
          while (rKey != null && keyOrd.compare(rKey, curKey) == 0 &&
              tsOrd.compare(rTs, lts) <= 0) {
            matched = rPayload
            advanceRight()
          }
          outProj(joined(l, if (matched != null) matched else nullPayload))
        }
      }
    }
  }
}
