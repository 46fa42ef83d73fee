package graft.ops

import org.apache.spark.sql.Dataset

/** Materialize-once seam for multi-consumer subtrees (round 17,
  * verdict item 7).
  *
  * Query paths that feed one heavy derivation to several downstream
  * consumers (CDC batch tagging, iterative frontiers, shingle posting
  * tables) pin it eagerly so the heavy pass runs ONCE instead of once
  * per consumer. In local mode the right primitive is
  * `localCheckpoint(eager = true)`: it truncates lineage and holds the
  * rows as executor storage blocks with no filesystem round-trip. On a
  * real cluster, however, localCheckpoint blocks live only on the
  * executors that computed them — an executor loss makes the
  * lineage-truncated plan unrecoverable mid-query. Production runs set
  *
  *   spark.graft.checkpoint.reliable=true
  *   sparkContext.setCheckpointDir(<fault-tolerant path>)
  *
  * and every pin routes through the RELIABLE checkpoint (same eager
  * semantics, blocks in fault-tolerant storage, lineage replayable
  * after executor loss). The default stays localCheckpoint so local
  * plans, benches and censuses are byte-identical to the direct calls
  * this helper replaced.
  *
  * An eager reliable checkpoint evaluates the subtree ONCE: Spark 4.1
  * writes the checkpoint files in the same job that computes the rows
  * (`RDD.doCheckpoint`, no separate counting job), so no persist is
  * needed in front of it (ReuseSpec counts the evaluations). Reliable
  * checkpoint files are NOT removed when the pinned Dataset goes away
  * (`spark.cleaner.referenceTracking.cleanCheckpoints` is off by
  * default): they accumulate under the checkpoint dir for the life of
  * the session, so a deployment that sets the reliable conf owns that
  * directory's cleanup.
  *
  * Both branches are EAGER and both are recomputed inside every query
  * invocation — nothing persists across bench runs (the no-caching
  * contract; `cleanSession` unpersists the blocks between runs).
  */
object Reuse {

  private val ReliableKey = "spark.graft.checkpoint.reliable"

  /** Pin `ds` eagerly for reuse by multiple downstream consumers
    * (covers DataFrame = Dataset[Row]).
    */
  def pin[T](ds: Dataset[T]): Dataset[T] =
    if (ds.sparkSession.conf.get(ReliableKey, "false").toBoolean)
      ds.checkpoint(eager = true)
    else ds.localCheckpoint(eager = true)
}
