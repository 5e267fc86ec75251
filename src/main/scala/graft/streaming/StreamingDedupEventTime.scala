package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** A [[StreamDoc]] carrying its event time — the input row for
  * watermark-aligned dedup. */
final case class StreamEvtDoc(doc_id: Long, content_hash: String, ts: Timestamp)

/** Streaming exact dedup with WATERMARK-ALIGNED state eviction — the
  * event-time half of the `transformWithState` API
  * ([[org.apache.spark.sql.streaming.StatefulProcessorHandle.registerTimer]]
  * under `TimeMode.EventTime()`).
  *
  * Why a second retention mechanism exists: a processing-time TTL
  * ([[StreamingDedup.firstSeenWithTtl]]) expires state on the WALL
  * clock. On a backfill-heavy 100 TB stream — re-reading six months of
  * history in an afternoon — wall-clock retention is wrong in both
  * directions: a "7 day" TTL never expires anything during the
  * backfill (the whole replay runs inside one wall week, so state grows
  * with the full key history), and a paused-then-resumed stream expires
  * state that DATA time says is still live. Event-time timers key
  * retention to the WATERMARK instead: a hash's dedup state lives until
  * data time has moved [[retention]] past its newest sighting, regardless
  * of how fast or slow the wall clock runs — state is bounded by keys
  * active per event-time horizon, the same bound at replay speed and at
  * live speed.
  *
  * Mechanics: first sighting of a hash admits (within-batch ties → lowest
  * doc_id, [[StreamingDedup.firstSeen]]'s rule) and registers a timer at
  * `max(ts) + retention`; every later sighting inside the horizon is
  * suppressed and EXTENDS the deadline (register-new-delete-old — the
  * store holds at most one live timer per key); when the watermark passes
  * the deadline the timer fires and clears the state, so a sighting after
  * the gap re-admits. Late rows (ts already behind the watermark) are
  * dropped by the watermark operator before they reach the processor —
  * the standard event-time contract.
  *
  * Requires the RocksDB state-store provider (the transformWithState
  * deployment config, `RocksDbStateSpec`); admissions and watermark-driven
  * re-admission are pinned by `StreamingDedupEventTimeSpec`, state
  * boundedness under a continuous event-time advance by the soak spec. */
object StreamingDedupEventTime {

  /** Keyed by content hash; seen flag + the one live timer deadline. */
  class EventTimeDedupProcessor(retentionMs: Long)
      extends StatefulProcessor[String, StreamEvtDoc, KeptDoc] {
    @transient private var seen: ValueState[Boolean] = _
    @transient private var deadline: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      seen = getHandle.getValueState[Boolean]("seen", Encoders.scalaBoolean, TTLConfig.NONE)
      deadline = getHandle.getValueState[Long]("deadline", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[StreamEvtDoc],
        timerValues: TimerValues): Iterator[KeptDoc] = {
      var minId = Long.MaxValue
      var maxTs = Long.MinValue
      rows.foreach { r =>
        if (r.doc_id < minId) minId = r.doc_id
        val t = r.ts.getTime
        if (t > maxTs) maxTs = t
      }
      val newDeadline = maxTs + retentionMs
      val prev = if (deadline.exists()) deadline.get() else Long.MinValue
      if (newDeadline > prev) {
        // one live timer per key: replace, never accumulate
        if (prev != Long.MinValue) getHandle.deleteTimer(prev)
        getHandle.registerTimer(newDeadline)
        deadline.update(newDeadline)
      }
      if (seen.exists()) Iterator.empty
      else {
        seen.update(true)
        Iterator.single(KeptDoc(key, minId))
      }
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[KeptDoc] = {
      // only the CURRENT deadline evicts — a stale timer that raced its
      // own deletion must not clear state a later sighting extended
      if (deadline.exists() && expiredTimerInfo.getExpiryTimeInMs() >= deadline.get()) {
        seen.clear()
        deadline.clear()
      }
      Iterator.empty
    }
  }

  /** First-seen admission with event-time retention: a replay re-admits
    * only after the WATERMARK has moved `retention` past the hash's
    * newest sighting. `watermarkDelay` is the usual out-of-orderness
    * allowance on `ts`. */
  def firstSeen(docs: Dataset[StreamEvtDoc], retention: java.time.Duration,
      watermarkDelay: String = "0 seconds"): Dataset[KeptDoc] = {
    import docs.sparkSession.implicits._
    docs
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.content_hash)
      .transformWithState(new EventTimeDedupProcessor(retention.toMillis),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
