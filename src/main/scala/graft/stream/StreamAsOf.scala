package graft.stream

import java.sql.Timestamp
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import EventTime.micros

/** Streaming backward as-of join — the third execution model of the
  * as-of family ([[graft.ops.AsOf]] composes it from a window,
  * [[graft.plans.AsOfJoin]] is the native batch operator; this is the
  * incremental form): a stream of left events is enriched with the
  * most recent right event of the same key, the streaming
  * slowly-changing-dimension pattern (right events = dimension
  * updates, left events = facts to enrich).
  *
  * Both sides arrive as ONE tagged stream keyed by `key`. Within a
  * micro-batch, events apply in event order — (ts, right-before-left,
  * seq), exactly the batch operator's total order — and each left
  * event matches the latest right event at or before its timestamp
  * among those APPLIED SO FAR. State per key is O(1): the last applied
  * right event. Under event-ordered delivery (the CDC-replay regime,
  * as with [[Sessionize.streaming]]) the emitted enrichment equals the
  * batch backward as-of — StreamAsOfSpec pins that equivalence; a
  * right event arriving AFTER a left event it should have matched
  * (cross-batch disorder beyond the watermark) cannot retroactively
  * re-emit, which is the documented streaming-vs-batch divergence
  * every incremental as-of accepts.
  *
  * State eviction: event-time timeout once the watermark passes the
  * key's last activity + `idleEvictDelay` — idle keys leave the store,
  * so state is bounded by ACTIVE keys, not ever-seen keys.
  */
object StreamAsOf extends Serializable {

  case class Tagged(
      key: Long, ts: Timestamp, seq: Long, is_right: Boolean, payload: Double)
  case class Enriched(
      key: Long, ts: Timestamp, seq: Long,
      asof_seq: java.lang.Long, asof_ts_us: java.lang.Long,
      asof_payload: java.lang.Double)
  /** Keyed state: the last applied right event (public for the state
    * Encoder, as with [[Sessionize.SessState]]).
    */
  case class LastRight(tsUs: Long, seq: Long, payload: Double, lastSeenUs: Long)

  def backward(
      events: Dataset[Tagged],
      watermarkDelay: String = "30 minutes",
      idleEvictMs: Long = 7200000L): Dataset[Enriched] = {
    import events.sparkSession.implicits._
    val evictMs = idleEvictMs

    def fn(key: Long, it: Iterator[Tagged], state: GroupState[LastRight])
        : Iterator[Enriched] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        // the batch operator's total order: ts, right-before-left, seq
        val evs = it.toIndexedSeq.sortBy(e =>
          (micros(e.ts), !e.is_right, e.seq))
        val out = scala.collection.mutable.ArrayBuffer[Enriched]()
        var cur = state.getOption
        var lastSeenUs = cur.map(_.lastSeenUs).getOrElse(0L)
        for (e <- evs) {
          val us = micros(e.ts)
          lastSeenUs = math.max(lastSeenUs, us)
          if (e.is_right)
            cur = Some(LastRight(us, e.seq, e.payload, lastSeenUs))
          else {
            val m = cur.filter(_.tsUs <= us)
            out += Enriched(key, e.ts, e.seq,
              m.map(r => java.lang.Long.valueOf(r.seq)).orNull,
              m.map(r => java.lang.Long.valueOf(r.tsUs)).orNull,
              m.map(r => java.lang.Double.valueOf(r.payload)).orNull)
          }
        }
        // timeout requires defined state; keys that have only ever
        // seen left events hold no state and need no eviction
        cur.foreach { s =>
          state.update(s.copy(lastSeenUs = lastSeenUs))
          state.setTimeoutTimestamp(lastSeenUs / 1000L + evictMs)
        }
        out.iterator
      }
    }

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(fn)
  }
}
