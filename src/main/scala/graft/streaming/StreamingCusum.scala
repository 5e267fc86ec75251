package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** One keyed observation of a monitored metric (a per-interval event
  * count, a quality-gate pass rate ×10⁶ — any integer-scaled series). */
final case class CusumPoint(key: String, ts: Timestamp, value: Long)

/** One level-shift alert: emitted exactly once, when the one-sided Page
  * statistic first crosses the threshold; the detector then RESETS and
  * re-arms, so a persisting shift re-alerts after it re-accumulates. */
final case class CusumAlert(key: String, ts: Timestamp, direction: String,
    stat: Long, n_since_reset: Long)

/** Sequential CUSUM changepoint detection (Page 1954, the two-sided
  * tabular form) as a `transformWithState` operator — the ONLINE half of
  * q209: the batch card answers "when did the rate change" retrospectively
  * (global argmax over the whole series); this operator answers it WHILE
  * the stream runs, with O(1) state per key, which is the form a live
  * ingest monitor (source drift, quality-gate regression, rate collapse)
  * actually deploys.
  *
  * Statistic: S⁺ ← max(0, S⁺ + (x − μ₀ − κ)), S⁻ ← max(0, S⁻ + (μ₀ − x
  * − κ)); an alert fires the first time either side EXCEEDS h, then both
  * sides reset (the standard re-arm convention). All arithmetic is Long —
  * exact, no float drift across checkpointed restarts — so callers scale
  * rational μ₀/κ/h through their integer encoding (q209's n-multiply
  * device).
  *
  * Completes the TWS family's shape coverage: eviction timers
  * ([[StreamingDedupEventTime]]), emission timers ([[StreamingSessionTws]])
  * — and here the pure ACCUMULATOR shape: bounded ValueState folded in
  * event-time order, output only on threshold crossings (append
  * semantics, each alert exactly once). Within a micro-batch rows fold
  * sorted by (ts, value); across batches the fold is arrival order, the
  * same contract [[StreamingSessionTws]]'s prefix documents — with
  * in-order feeds
  * (or any single-batch replay) the alert set equals the batch reference
  * [[StreamingCusum.batchAlerts]], pinned by `StreamingCusumSpec` along
  * with RocksDB restart stability. [[StreamingCusum.orderedAlerts]] is
  * the watermark-ordered form: it buffers inside the watermark horizon
  * and matches the batch reference under ANY cross-batch delivery order
  * within its delay — the variant a backfill-heavy deployment runs.
  *
  * 100 TB shape: state is three longs per key regardless of history —
  * proportional to MONITORED KEYS, never to the stream; a non-NONE TTL
  * lets a key silent past the window re-arm from zero, the retention
  * knob for unbounded key churn. [[alerts]] runs such a TTL in
  * ProcessingTime mode and a NONE TTL in `TimeMode.None()`, because Spark
  * rejects any other TTL under `TimeMode.None()`. The ordered variant
  * carries the same knob as EVENT-TIME retention (`retentionMs` on
  * [[orderedAlerts]]) because TTLConfig cannot compose with its
  * EventTime mode — see
  * [[OrderedCusumProcessor]]. */
object StreamingCusum {

  /** (S⁺, S⁻, observations since last reset). */
  final case class Arm(sPos: Long, sNeg: Long, n: Long)

  /** The Page step shared verbatim by the streaming processor and the
    * batch reference — one definition, so the parity the spec pins can
    * never drift. Input must already be (ts, value)-sorted. */
  private[streaming] def fold(st0: Arm, sorted: Array[CusumPoint],
      mu0: Long, slack: Long, threshold: Long): (Arm, Seq[CusumAlert]) = {
    var st = st0
    val alerts = Seq.newBuilder[CusumAlert]
    sorted.foreach { p =>
      val sPos = math.max(0L, st.sPos + (p.value - mu0 - slack))
      val sNeg = math.max(0L, st.sNeg + (mu0 - p.value - slack))
      val n = st.n + 1
      if (sPos > threshold || sNeg > threshold) {
        val up = sPos >= sNeg
        alerts += CusumAlert(p.key, p.ts, if (up) "up" else "down",
          math.max(sPos, sNeg), n)
        st = Arm(0L, 0L, 0L) // re-arm
      } else st = Arm(sPos, sNeg, n)
    }
    (st, alerts.result())
  }

  class CusumProcessor(mu0: Long, slack: Long, threshold: Long, ttl: TTLConfig)
      extends StatefulProcessor[String, CusumPoint, CusumAlert] {
    @transient private var arm: ValueState[Arm] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      arm = getHandle.getValueState[Arm]("arm", Encoders.product[Arm], ttl)

    override def handleInputRows(key: String, rows: Iterator[CusumPoint],
        timerValues: TimerValues): Iterator[CusumAlert] = {
      // micro-batch iterator order is not event-time order: sort the
      // batch (bounded by batch size) before folding
      val batch = rows.toArray.sortBy(p => (p.ts.getTime, p.value))
      val st0 = if (arm.exists()) arm.get() else Arm(0L, 0L, 0L)
      val (st, alerts) = fold(st0, batch, mu0, slack, threshold)
      arm.update(st)
      alerts.iterator
    }
  }

  /** WATERMARK-ORDERED online detector — closes [[alerts]]'s documented
    * arrival-order contract: that processor folds cross-batch in arrival
    * order, so a backfill-heavy stream delivering out of order across
    * micro-batches can diverge from [[batchAlerts]]. This variant buffers
    * points in keyed ListState and folds them ONLY once the watermark has
    * sealed them (the [[StreamingDedupEventTime]] event-time-timer
    * machinery applied to the accumulator shape): any delivery order
    * within the watermark delay produces exactly the batch reference's
    * alert set, because the fold consumes points in global (ts, value)
    * order — every sealed chunk precedes everything still buffered or
    * still admissible (a row older than the watermark is dropped by the
    * watermark operator before it reaches the processor, never
    * mis-ordered).
    *
    * Timer discipline: ONE live timer per key at `min(buffered ts) + 1` —
    * it fires as soon as the watermark seals the OLDEST buffered point,
    * the firing folds every sealed point, and the next timer re-arms at
    * the new oldest. Keying the timer to the minimum (not the newest
    * sighting, as dedup eviction does) matters: a continuously active key
    * keeps pushing its newest ts forward, and a newest-keyed timer would
    * chase the watermark forever, never folding while the key stays hot.
    *
    * 100 TB shape: per-key state is the O(1) [[Arm]] plus only the points
    * inside the watermark horizon (bounded by delay × per-key rate, never
    * by history); alert latency is the watermark delay — the price of
    * order. `StreamingCusumSpec` pins cross-batch-shuffled delivery ≡
    * [[batchAlerts]] and in-order parity with [[alerts]].
    *
    * RETENTION (`retentionMs`): the churn knob for unbounded key spaces.
    * `TTLConfig` CANNOT compose here — Spark's handle rejects TTL state
    * outside `TimeMode.ProcessingTime` (`StatefulProcessorHandleImpl.
    * validateTTLConfig` throws `STATEFUL_PROCESSOR_CANNOT_ASSIGN_TTL_IN_
    * TIME_MODE`), and this processor needs `TimeMode.EventTime` for its
    * ordering timers — so retention is implemented ON the event-time
    * timer machinery instead: one eviction timer per key at
    * `max(seen ts) + retentionMs`; when it fires (watermark past the
    * horizon with nothing new seen), the key's [[Arm]] is dropped and a
    * returning key re-arms from zero. Event-time retention is also the
    * RIGHT clock for the backfill-heavy deployment this variant targets:
    * a wall-clock TTL would evict live state mid-backfill merely because
    * old data takes long to replay. No retention (the default) keeps a
    * silent key's arm forever — monitored-key-bounded, the dashboard
    * regime. */
  class OrderedCusumProcessor(mu0: Long, slack: Long, threshold: Long,
      retentionMs: Option[Long] = None)
      extends StatefulProcessor[String, CusumPoint, CusumAlert] {
    require(retentionMs.forall(_ > 0), s"retentionMs must be positive: $retentionMs")
    @transient private var arm: ValueState[Arm] = _
    @transient private var buf: ListState[CusumPoint] = _
    @transient private var deadline: ValueState[Long] = _
    @transient private var evictAt: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      arm = getHandle.getValueState[Arm]("arm", Encoders.product[Arm], TTLConfig.NONE)
      buf = getHandle.getListState[CusumPoint]("buf",
        Encoders.product[CusumPoint], TTLConfig.NONE)
      deadline = getHandle.getValueState[Long]("deadline", Encoders.scalaLong, TTLConfig.NONE)
      evictAt = getHandle.getValueState[Long]("evictAt", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[CusumPoint],
        timerValues: TimerValues): Iterator[CusumAlert] = {
      var minTs = Long.MaxValue
      var maxTs = Long.MinValue
      rows.foreach { p =>
        buf.appendValue(p)
        if (p.ts.getTime < minTs) minTs = p.ts.getTime
        if (p.ts.getTime > maxTs) maxTs = p.ts.getTime
      }
      if (minTs != Long.MaxValue) {
        val cand = minTs + 1
        val prev = if (deadline.exists()) deadline.get() else Long.MaxValue
        if (cand < prev) { // lower-only: fire at the oldest sealed point
          if (prev != Long.MaxValue) getHandle.deleteTimer(prev)
          getHandle.registerTimer(cand)
          deadline.update(cand)
        }
        // retention: push the eviction horizon forward with the newest
        // sighting (higher-only — the mirror of the fold timer's
        // lower-only discipline; ≤1 live eviction timer per key)
        retentionMs.foreach { r =>
          val evictCand = maxTs + r
          val prevEvict = if (evictAt.exists()) evictAt.get() else Long.MinValue
          if (evictCand > prevEvict) {
            if (prevEvict != Long.MinValue) getHandle.deleteTimer(prevEvict)
            getHandle.registerTimer(evictCand)
            evictAt.update(evictCand)
          }
        }
      }
      Iterator.empty
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[CusumAlert] = {
      // fold maintenance runs on EVERY fire (folding what the watermark
      // sealed is always correct, and an eviction fire implies everything
      // buffered is sealed): maintain the ≤1-live-fold-timer invariant
      // even under a stale fire that raced its own deletion
      val tracked = if (deadline.exists()) deadline.get() else Long.MinValue
      if (tracked != Long.MinValue && tracked != expiredTimerInfo.getExpiryTimeInMs())
        getHandle.deleteTimer(tracked)
      deadline.clear()
      val w = timerValues.getCurrentWatermarkInMs()
      val all = buf.get().toArray
      // sealed = no admissible future row can precede them (late rows are
      // dropped upstream); folding them now in (ts, value) order extends
      // the same global order batchAlerts uses
      val (ready, pending) = all.partition(_.ts.getTime < w)
      buf.clear()
      if (pending.nonEmpty) {
        buf.appendList(pending)
        val next = pending.iterator.map(_.ts.getTime).min + 1
        getHandle.registerTimer(next)
        deadline.update(next)
      }
      val out = if (ready.isEmpty) Iterator.empty else {
        val sorted = ready.sortBy(p => (p.ts.getTime, p.value))
        val st0 = if (arm.exists()) arm.get() else Arm(0L, 0L, 0L)
        val (st, alerts) = fold(st0, sorted, mu0, slack, threshold)
        arm.update(st)
        alerts.iterator
      }
      // eviction check AFTER the fold: a key silent past the horizon
      // (watermark ≥ last sighting + retention) drops its arm and re-arms
      // from zero on return. `pending` is provably empty here — every
      // buffered ts ≤ the horizon's base sighting < w — so the fold above
      // already flushed the key's whole history before the drop.
      if (retentionMs.isDefined && evictAt.exists() && w >= evictAt.get()) {
        if (evictAt.get() != expiredTimerInfo.getExpiryTimeInMs())
          getHandle.deleteTimer(evictAt.get())
        evictAt.clear()
        if (pending.isEmpty) arm.clear()
      }
      out
    }
  }

  /** Append-mode alerts folded in WATERMARK order — [[batchAlerts]]-exact
    * under any delivery order within `watermarkDelay` (see
    * [[OrderedCusumProcessor]]). `retentionMs` (event-time) evicts a
    * silent key's arm once the watermark passes its last sighting by
    * that much — the churn knob for unbounded key spaces; None (default)
    * retains forever. */
  def orderedAlerts(points: Dataset[CusumPoint], mu0: Long, slack: Long,
      threshold: Long, watermarkDelay: String = "0 seconds",
      retentionMs: Option[Long] = None): Dataset[CusumAlert] = {
    import points.sparkSession.implicits._
    points
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .transformWithState(new OrderedCusumProcessor(mu0, slack, threshold, retentionMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Append-mode alerts; μ₀/κ/h in the caller's integer scale. */
  def alerts(points: Dataset[CusumPoint], mu0: Long, slack: Long,
      threshold: Long, ttl: TTLConfig = TTLConfig.NONE): Dataset[CusumAlert] = {
    import points.sparkSession.implicits._
    val timeMode = if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime()
    points
      .groupByKey(_.key)
      .transformWithState(new CusumProcessor(mu0, slack, threshold, ttl),
        timeMode, OutputMode.Append())
  }

  /** Batch reference: the same per-key fold in strict (ts, value) order —
    * what the streaming operator converges to under in-order delivery.
    * Per key the group is materialized and sorted inside `flatMapGroups`,
    * so executor memory is O(series length) per key — bounded by the
    * monitored TIME RANGE (hour-cardinality series: ~9k points per year,
    * ~87k on the year-offset 10× replica), never by the corpus. The fold
    * itself keeps O(1) state. */
  def batchAlerts(points: Dataset[CusumPoint], mu0: Long, slack: Long,
      threshold: Long): Dataset[CusumAlert] = {
    import points.sparkSession.implicits._
    points.groupByKey(_.key).flatMapGroups { (_, it) =>
      val sorted = it.toArray.sortBy(p => (p.ts.getTime, p.value))
      fold(Arm(0L, 0L, 0L), sorted, mu0, slack, threshold)._2
    }
  }
}
