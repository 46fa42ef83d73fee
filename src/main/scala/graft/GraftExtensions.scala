package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.execution.SparkStrategy
import graft.plans.{AsOfJoinStrategy, RangeJoinStrategy, TopKStrategy}

/** Session-extension entry point: makes every graft native expression
  * callable from pure SQL, so a `spark.sql(...)`-only user gets the
  * codegen'd operators without touching the Column API:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * spark.sql("SELECT doc_id, simhash32(text) FROM documents")
  * }}}
  *
  * For a session that already exists (notebooks, tests), use
  * [[graft.functions.GraftFunctions.register]] for the functions; the
  * native entries (`NativeAsOf`, `NativeRange`, `NativeTopK`) add the
  * strategies themselves through [[GraftExtensions.ensureRegistered]].
  *
  * The extension surface is deliberately small: almost every operator
  * is expressed through the declarative DataFrame API (so Catalyst
  * keeps optimizing it), per-row hot loops are native expressions
  * (the brief's preference order (a)/(b)), and the THREE whole-operator
  * physical nodes — the backward as-of join, whose exchange shape no
  * composition can reproduce (see [[graft.plans.AsOfJoin]]), the
  * broadcast range join, whose search replaces BroadcastNestedLoop's
  * enumeration (see [[graft.plans.RangeJoin]]), and per-group top-k,
  * whose bounded heaps replace the window form's full per-group sort
  * (see [[graft.plans.TopKPerGroup]]) — are the planner strategies
  * (preference (c)).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.GraftFunctions.all.foreach(ext.injectFunction)
    GraftExtensions.strategies.foreach(st => ext.injectPlannerStrategy(_ => st))
  }
}

object GraftExtensions {

  /** The planner strategies for graft's whole-operator nodes. */
  val strategies: Seq[SparkStrategy] =
    Seq(AsOfJoinStrategy, RangeJoinStrategy, TopKStrategy)

  /** Idempotently adds [[strategies]] to a live session through the
    * public `experimental.extraStrategies` hook; every native entry
    * calls it before planning its node.
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    val missing = strategies.filterNot(spark.experimental.extraStrategies.contains)
    if (missing.nonEmpty)
      spark.experimental.extraStrategies = spark.experimental.extraStrategies ++ missing
  }
}
