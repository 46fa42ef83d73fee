package graft.stream

import java.sql.Timestamp
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import EventTime.micros

/** Streaming FUNNEL — the incremental form of q101's strict-sequence
  * conversion analysis: each key runs a monotone stage machine
  * (stage 1 opens on its first `stage1` event; stage k > 1 opens on
  * the first `stage-k` event STRICTLY AFTER the stage-(k-1) open), and
  * every stage advance emits exactly one transition row in APPEND
  * mode. Because the machine is monotone (stages only ever advance,
  * each at the earliest qualifying event under ordered replay), the
  * emitted transition set equals the batch funnel's t1/t2/t3 closed
  * form — StreamFunnelSpec pins that equivalence; q120 pins it
  * through the driver's DuckDB gate.
  *
  * State per key is O(1): the current stage and its open timestamp
  * (plus last activity for event-time eviction, the [[StreamAsOf]]
  * regime). Within a micro-batch events apply in (ts, seq) order;
  * cross-batch disorder beyond the watermark can no longer advance an
  * already-passed stage earlier — the same documented divergence every
  * incremental operator here accepts.
  */
object StreamFunnel extends Serializable {

  case class Ev(key: Long, ts: Timestamp, seq: Long, stage: Int)
  case class Transition(key: Long, stage: Int, ts_us: Long, seq: Long)
  /** Keyed state (public for the state Encoder). */
  case class FunnelState(stage: Int, stageTsUs: Long, lastSeenUs: Long)

  /** `nStages`-stage funnel over a stream of staged events (stage ∈
    * 1..nStages; emit one Transition per stage advance).
    */
  def run(
      events: Dataset[Ev],
      nStages: Int = 3,
      watermarkDelay: String = "30 minutes",
      idleEvictMs: Long = 7200000L): Dataset[Transition] = {
    import events.sparkSession.implicits._
    val evictMs = idleEvictMs
    val stages = nStages

    def fn(key: Long, it: Iterator[Ev], state: GroupState[FunnelState])
        : Iterator[Transition] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        val evs = it.toIndexedSeq.sortBy(e => (micros(e.ts), e.seq))
        val out = scala.collection.mutable.ArrayBuffer[Transition]()
        var cur = state.getOption.getOrElse(FunnelState(0, Long.MinValue, 0L))
        for (e <- evs) {
          val us = micros(e.ts)
          val advance =
            if (cur.stage == 0) e.stage == 1
            else cur.stage < stages && e.stage == cur.stage + 1 &&
              us > cur.stageTsUs
          if (advance) {
            cur = FunnelState(cur.stage + 1, us,
              math.max(cur.lastSeenUs, us))
            out += Transition(key, cur.stage, us, e.seq)
          } else cur = cur.copy(lastSeenUs = math.max(cur.lastSeenUs, us))
        }
        state.update(cur)
        state.setTimeoutTimestamp(cur.lastSeenUs / 1000L + evictMs)
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
