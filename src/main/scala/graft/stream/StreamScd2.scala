package graft.stream

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import EventTime.micros

/** Streaming SCD TYPE-2 change capture — the incremental form of q99's
  * batch history build: each key watches its attribute stream and
  * emits ONE append-mode row per version OPENED (the first event whose
  * tracked value differs from the current one, in event order).
  * Version opens are immutable once emitted — the closing timestamp of
  * a version is the NEXT version's open, derivable downstream — which
  * is what makes the history appendable at all: an interval-closing
  * update would need a retraction model.
  *
  * State per key is O(1): the current value and version counter. The
  * eviction story has TWO modes, because evicting this state is not
  * free the way evicting [[StreamAsOf]]/[[StreamFunnel]] state is —
  * the version counter must survive or a returning key restarts at
  * version 1 and a duplicate open row for an UNCHANGED value leaks:
  *
  *  - [[run]] (no seed source): state is deliberately NEVER evicted.
  *    O(keys) state store — acceptable when key cardinality is
  *    bounded, and the only sound choice when emitted history is not
  *    readable back.
  *  - [[runSeeded]]: idle keys ARE event-time-evicted (the
  *    StreamAsOf/StreamFunnel regime), because every incoming event
  *    carries a re-seed (last persisted version + value) obtained by
  *    stream-static-joining the source against the SINK'S OWN emitted
  *    history ([[seedFrom]]). On a state miss the counter resumes
  *    from the seed, so version numbering is continuous across
  *    evictions and unchanged values never re-emit. The re-seed is a
  *    per-batch distributed join — no driver-side key map, no
  *    broadcast of O(keys) state — which is what makes TTL eviction
  *    safe at 100 TB key cardinality: state holds only keys active
  *    within the TTL, everything else lives in the sink it already
  *    wrote. One contract difference comes WITH event-time timeouts
  *    and cannot be removed: Spark drops input rows older than the
  *    watermark before the stateful operator (the standard watermark
  *    discipline — eviction is watermark-driven, so rows from before
  *    the eviction horizon must not reach evicted state). The
  *    unseeded NoTimeout mode processes such stragglers; the seeded
  *    mode equals the global replay only for data within the
  *    watermark delay, which is the usual streaming guarantee.
  *
  * Under ordered replay the emitted set equals q99's change rows
  * exactly — q129 pins that through the driver gate against an
  * independent closed form; StreamScd2Spec pins evict → resume →
  * continuous numbering for the seeded mode.
  */
object StreamScd2 extends Serializable {

  case class Ev(key: Long, ts: Timestamp, seq: Long, state: String)
  /** [[Ev]] plus the persisted re-seed carried by the stream-static
    * join: `seed_version = 0` and `seed_state = null` for a key with
    * no persisted history.
    */
  case class SeededEv(key: Long, ts: Timestamp, seq: Long, state: String,
      seed_state: String, seed_version: Long)
  case class VersionOpen(
      key: Long, version: Long, state: String, ts_us: Long, seq: Long)
  /** Keyed state (public for the state Encoder). */
  case class Scd2State(current: String, version: Long)

  /** Unseeded mode: never-evicted state (see the class doc for why
    * eviction without a seed source would corrupt version numbering).
    */
  def run(
      events: Dataset[Ev],
      watermarkDelay: String = "30 minutes"): Dataset[VersionOpen] = {
    import events.sparkSession.implicits._
    runInternal(
      events.map(e => SeededEv(e.key, e.ts, e.seq, e.state, null, 0L)),
      watermarkDelay, idleEvictMs = None)
  }

  /** Seeded mode: TTL-evicted state, version continuity restored from
    * the event's carried seed on a state miss.
    */
  def runSeeded(
      events: Dataset[SeededEv],
      watermarkDelay: String = "30 minutes",
      idleEvictMs: Long = 7200000L): Dataset[VersionOpen] =
    runInternal(events, watermarkDelay, Some(idleEvictMs))

  /** Left-join a raw event stream against persisted history (the
    * sink's own output, any frame of [[VersionOpen]] rows) to carry
    * per-key (last version, last value) seeds: the standard
    * stream-static join, re-planned every micro-batch so a growing
    * sink is picked up without restarting the query. The static side
    * reduces to ONE row per key (max version) before the join; at
    * scale that aggregate is the thing to keep compacted/bucketed by
    * key alongside the sink.
    */
  def seedFrom(events: Dataset[Ev], history: DataFrame): Dataset[SeededEv] = {
    import events.sparkSession.implicits._
    val last = history
      .groupBy(col("key"))
      .agg(max(struct(col("version"), col("state"))).as("m"))
      .select(col("key").as("seed_key"),
        col("m.state").as("seed_state"), col("m.version").as("seed_version"))
    events.join(last, events("key") === col("seed_key"), "left")
      .select(events("key"), col("ts"), col("seq"), col("state"),
        col("seed_state"),
        coalesce(col("seed_version"), lit(0L)).as("seed_version"))
      .as[SeededEv]
  }

  private def runInternal(
      events: Dataset[SeededEv],
      watermarkDelay: String,
      idleEvictMs: Option[Long]): Dataset[VersionOpen] = {
    import events.sparkSession.implicits._
    val evictMs = idleEvictMs

    def fn(key: Long, it: Iterator[SeededEv], state: GroupState[Scd2State])
        : Iterator[VersionOpen] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        val evs = it.toIndexedSeq.sortBy(e => (micros(e.ts), e.seq))
        val out = scala.collection.mutable.ArrayBuffer[VersionOpen]()
        // state miss → resume from the carried seed (all events in the
        // group carry the same per-key seed; the head's suffices)
        var cur = state.getOption.getOrElse {
          val h = evs.head
          Scd2State(h.seed_state, h.seed_version)
        }
        var lastSeenUs = 0L
        for (e <- evs) {
          lastSeenUs = math.max(lastSeenUs, micros(e.ts))
          if (cur.current == null || cur.current != e.state) {
            cur = Scd2State(e.state, cur.version + 1L)
            out += VersionOpen(key, cur.version, e.state, micros(e.ts), e.seq)
          }
        }
        state.update(cur)
        evictMs.foreach(ms =>
          state.setTimeoutTimestamp(lastSeenUs / 1000L + ms))
        out.iterator
      }
    }

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(),
        if (evictMs.isDefined) GroupStateTimeout.EventTimeTimeout()
        else GroupStateTimeout.NoTimeout())(fn)
  }
}
