package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** Bounded-state SOAK proof: each stateful streaming operator driven
  * through 100+ micro-batches of continuously fresh data, asserting the
  * state store's `numRowsTotal` PLATEAUS at the bound its design
  * predicts instead of trending with stream lifetime. A 2-batch spec
  * proves semantics; only a long soak proves the state bound CLAIM —
  * an unbounded leak looks identical over 2 batches.
  *
  * Plateau assertion: the max state rows over the FINAL third of the
  * soak must not exceed the max over the MIDDLE third — growth between
  * warm phases is a leak signature regardless of the absolute bound —
  * plus an absolute ceiling from each operator's own formula
  * (k·keys / active windows × items / rate × horizon). */
class StreamingSoakSpec extends SparkSpec {
  import spark.implicits._

  private val Batches = 110

  /** Drive `step` once per micro-batch, recording the progress after each. */
  private def soakProgress(q: StreamingQuery)(step: Int => Unit): Seq[StreamingQueryProgress] =
    (1 to Batches).map { i =>
      step(i)
      q.processAllAvailable()
      q.lastProgress
    }.filter(p => p != null && p.stateOperators.nonEmpty)

  private def stateRows(progress: Seq[StreamingQueryProgress]): Seq[Long] =
    progress.map(_.stateOperators.map(_.numRowsTotal).sum)

  /** Drive `step` once per micro-batch, recording state rows after each. */
  private def soak(q: StreamingQuery)(step: Int => Unit): Seq[Long] =
    stateRows(soakProgress(q)(step))

  private def assertPlateau(series: Seq[Long], ceiling: Long, what: String): Unit = {
    assert(series.length >= Batches * 2 / 3, s"$what: too few progress samples")
    val third = series.length / 3
    val mid = series.slice(third, 2 * third)
    val fin = series.drop(2 * third)
    assert(fin.max <= mid.max,
      s"$what: state grows between warm phases (mid max ${mid.max} -> final max ${fin.max})")
    assert(fin.max <= ceiling,
      s"$what: state ${fin.max} exceeds the predicted bound $ceiling")
  }

  test("soak: StreamingDistinct state stays at one row per key, sketch capped at k") {
    implicit val sqlCtx = spark.sqlContext
    val keys = (1 to 20).map(i => f"k$i%02d")
    val k = 16
    val source = MemoryStream[KeyedValue]
    val q = StreamingDistinct.estimates(source.toDS(), k = k)
      .writeStream.format("memory").queryName("soak_kmv").outputMode("update").start()

    val series = soak(q) { batch =>
      // 5 FRESH values per key per batch: distinct cardinality grows to
      // 5×Batches per key, 34× past k — state must not follow it
      source.addData(keys.flatMap(key =>
        (1 to 5).map(v => KeyedValue(key, batch * 1000L + v * 31L + key.hashCode))): _*)
    }
    q.stop()

    // bound: ONE state row per key, forever (the sketch lives inside it)
    assertPlateau(series, keys.length.toLong, "kmv state rows")
    // and the per-key sketch payload capped at k longs
    val last = spark.table("soak_kmv").groupBy("key").max("state_size").collect()
    assert(last.length == keys.length)
    assert(last.forall(_.getInt(1) == k),
      "every key's sketch must sit exactly at the k-long cap after 550 distincts")
  }

  test("soak: StreamingTrending state stays at active-windows x items as event time advances") {
    implicit val sqlCtx = spark.sqlContext
    val outDir = java.nio.file.Files.createTempDirectory("graft-soak-trend").toString
    val items = Seq("alpha", "beta", "gamma")
    val base = Timestamp.valueOf("2024-03-01 00:00:00").getTime
    val source = MemoryStream[TrendEvent]
    val q = StreamingTrending.start(source.toDS(), outDir,
      windowDur = "1 hour", slideDur = "30 minutes", k = 2, watermark = "10 minutes")

    val series = soak(q) { batch =>
      // event time advances one minute per batch — 110 minutes of stream,
      // every item every minute; windows continuously open AND close
      val ts = new Timestamp(base + batch * 60000L)
      source.addData(items.map(TrendEvent(ts, _)): _*)
    }
    q.stop()

    // bound: windows not yet watermark-evicted are those whose END is
    // within (now - watermark, now + window] → at slide 30m that is at
    // most ceil((60m + 10m) / 30m) + 1 = 4 open windows, x 3 items; + 1
    // window of slack for the eviction running one batch behind
    assertPlateau(series, 5L * items.length, "trending state rows")
    // the soak actually finalized leaderboards along the way
    assert(spark.read.parquet(outDir).count() > 0)
  }

  test("soak: StreamingJoin state stays at rate x horizon under constant arrival") {
    implicit val sqlCtx = spark.sqlContext
    val base = Timestamp.valueOf("2024-03-01 00:00:00").getTime
    val users = 1L to 5L
    val imps = MemoryStream[StreamingJoin.Impression]
    val convs = MemoryStream[StreamingJoin.Conversion]
    val q = StreamingJoin.attributed(imps.toDS(), convs.toDS(),
        window = "30 minutes", watermark = "10 minutes")
      .writeStream.format("memory").queryName("soak_join").outputMode("append").start()

    val series = soak(q) { batch =>
      val ts = new Timestamp(base + batch * 60000L)
      // constant rate: 2 impressions + 1 conversion per user per minute
      imps.addData(users.flatMap(u => Seq(
        StreamingJoin.Impression(u, batch * 10L, ts),
        StreamingJoin.Impression(u, batch * 10L + 1, ts))): _*)
      convs.addData(users.map(u => StreamingJoin.Conversion(u, batch * 10L, ts)): _*)
    }
    q.stop()

    // bound: impressions live until the watermark passes imp_ts + 30m
    // (+10m watermark lag -> 40m horizon x 10 imps/min), conversions
    // until it passes conv_ts (10m horizon x 5 convs/min); x2 slack for
    // the eviction batch lagging the arrival batch
    val ceiling = 2L * (40 * 10 + 10 * 5)
    assertPlateau(series, ceiling, "join state rows")
    // matches flowed the whole soak (each conversion matches its own
    // minute's 2 impressions at least)
    assert(spark.table("soak_join").count() >= Batches.toLong * users.size * 2 / 2)
  }

  test("soak: event-time dedup state plateaus at keys-per-horizon as the watermark advances") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val base = Timestamp.valueOf("2024-03-01 00:00:00").getTime
      val source = MemoryStream[StreamEvtDoc]
      val q = StreamingDedupEventTime.firstSeen(source.toDS(),
          java.time.Duration.ofSeconds(60))
        .writeStream.format("memory").queryName("soak_evtdedup")
        .outputMode("append").start()

      var nextId = 0L
      val series = soak(q) { batch =>
        // 3 FRESH hashes per batch, event time advancing 10s per batch:
        // 330 keys total over the soak, but only ~6 batches' worth sit
        // inside the 60s event-time horizon at any watermark position —
        // the timers must evict the rest or state trends with lifetime
        val ts = new Timestamp(base + batch * 10000L)
        source.addData((0 until 3).map { _ =>
          nextId += 1; StreamEvtDoc(nextId, s"soak-h$nextId", ts)
        }: _*)
      }
      q.stop()

      // bound: keys alive = horizon/step + watermark-lag slack batches,
      // x 3 keys/batch, x 4 store rows per key (seen + deadline + timer,
      // provider row accounting varies)
      assertPlateau(series, (6L + 2L) * 3L * 4L, "event-time dedup state rows")
      // every fresh hash was admitted exactly once along the way
      assert(spark.table("soak_evtdedup").count() == nextId)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("soak: timer-emission sessions hold state at open sessions only as users churn") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val base = Timestamp.valueOf("2024-03-01 00:00:00").getTime
      val source = MemoryStream[SessionEvent]
      val q = StreamingSessionTws.sessions(source.toDS(),
          java.time.Duration.ofSeconds(30))
        .writeStream.format("memory").queryName("soak_sessions")
        .outputMode("append").start()

      val series = soak(q) { batch =>
        // 3 FRESH users per batch, each one event; event time advances
        // 10s per batch — a session closes 30s (3 batches) after it
        // opens, so open sessions sit at ~3 batches x 3 users while 330
        // users churn through over the soak
        val ts = new Timestamp(base + batch * 10000L)
        source.addData((0 until 3).map(u =>
          SessionEvent(batch.toLong * 10 + u, "land", ts)): _*)
      }
      q.stop()

      // bound: (gap/step + watermark-lag slack) batches x 3 users x
      // ~3 store rows per open session (state value + timer accounting)
      assertPlateau(series, (3L + 2L) * 3L * 3L, "session state rows")
      // sessions actually closed continuously along the way
      assert(spark.table("soak_sessions").count() >= (Batches.toLong - 8) * 3,
        "closed-session emissions must track the churn")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("soak: near-dup state stays at one row per bucket, hits per batch FIFO-capped") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val base = (0 until 100).map(i => s"w$i").mkString(" ")
      val source = MemoryStream[StreamText]
      val q = StreamingNearDup.detect(source.toDS())
        .writeStream.format("memory").queryName("soak_neardup").outputMode("append").start()

      var nextId = 0L
      val progress = soakProgress(q) { _ =>
        // 3 fresh ids of the SAME text per batch: all land in the same 32
        // buckets, so 330 arrivals would hold 330 signatures if unbounded
        // — the FIFO cap must hold each bucket at BucketCap instead
        source.addData((0 until 3).map { _ =>
          nextId += 1; StreamText(nextId, base)
        }: _*)
      }
      q.stop()

      // bound: one state row per (band, sig) bucket. Each row holds the
      // bucket's whole list, so a leak inside a list cannot show here...
      assertPlateau(stateRows(progress), 32L, "near-dup state rows")
      // ...but it shows in the hits: each of the 3 arrivals per bucket
      // scores against at most BucketCap held signatures
      assertPlateau(progress.map(_.sink.numOutputRows),
        3L * 32L * StreamingNearDup.BucketCap, "near-dup hits per batch")
      // hits flowed the whole soak (every arrival past the first scores
      // against at least one held signature in every band)
      assert(spark.table("soak_neardup").count() >= Batches.toLong * 32)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
