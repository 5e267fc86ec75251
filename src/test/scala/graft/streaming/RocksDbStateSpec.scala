package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The 100 TB state-store deployment config, proven to actually run: the
  * same stateful operators the suite pins on the default (HDFS-backed
  * in-memory) provider work unchanged on RocksDB, where state lives
  * off-heap/on-disk and is bounded by disk, not executor memory — the
  * provider swap is the real-cluster answer to "state outgrew the heap",
  * and it is config-only (no operator changes). */
class RocksDbStateSpec extends SparkSpec {
  import spark.implicits._

  private def withRocksDb[A](f: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try f
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("streaming dedup state runs on the RocksDB provider, results unchanged") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val source = MemoryStream[StreamDoc]
      val q = StreamingDedup.firstSeen(source.toDS())
        .writeStream.format("memory").queryName("rocks_kept").outputMode("append").start()
      try {
        source.addData(StreamDoc(7L, "h1"), StreamDoc(3L, "h1"), StreamDoc(5L, "h2"))
        q.processAllAvailable()
        source.addData(StreamDoc(9L, "h1"), StreamDoc(13L, "h3"))
        q.processAllAvailable()
        val kept = spark.table("rocks_kept").as[KeptDoc].collect().toSet
        assert(kept == Set(KeptDoc("h1", 3L), KeptDoc("h2", 5L), KeptDoc("h3", 13L)))
        // the run really used RocksDB, not a silent fallback
        assert(q.lastProgress.stateOperators.nonEmpty)
        val memUsed = q.lastProgress.stateOperators.head.customMetrics
        assert(memUsed.containsKey("rocksdbTotalBytesRead") ||
          memUsed.containsKey("rocksdbSstFileSize"),
          s"expected RocksDB custom metrics, got ${memUsed.keySet()}")
      } finally q.stop()
    }
  }

  test("streaming KMV distinct state runs on the RocksDB provider: exact below k, capped at k") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val k = 16
      val source = MemoryStream[KeyedValue]
      val q = StreamingDistinct.estimates(source.toDS(), k)
        .writeStream.format("memory").queryName("rocks_kmv").outputMode("update").start()
      try {
        source.addData((1 to 10).map(i => KeyedValue("a", i.toLong * 1000003)): _*)
        q.processAllAvailable()
        def rows = spark.table("rocks_kmv").as[DistinctEstimate].collect()
        assert(rows.toSeq == Seq(DistinctEstimate("a", 10.0, 10)), "below k the sketch is exact")
        // replays plus growth far past k
        source.addData((1 to 60).map(i => KeyedValue("a", i.toLong * 1000003)): _*)
        q.processAllAvailable()
        assert(rows.map(_.state_size).max == k, s"state must cap at k=$k")
      } finally q.stop()
    }
  }

  test("streaming near-dup LSH state runs on the RocksDB provider") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val source = MemoryStream[StreamText]
      val base = (0 until 100).map(i => s"w$i").mkString(" ")
      val near = (0 until 99).map(i => s"w$i").mkString(" ") + " changed"
      val q = StreamingNearDup.detect(source.toDS())
        .writeStream.format("memory").queryName("rocks_neardup").outputMode("append").start()
      try {
        source.addData(StreamText(1L, base))
        q.processAllAvailable()
        source.addData(StreamText(2L, near))
        q.processAllAvailable()
        val pairs = spark.table("rocks_neardup").as[NearDupHit]
          .collect().map(h => (h.doc_id, h.dup_of)).distinct
        assert(pairs.toSeq == Seq((2L, 1L)))
      } finally q.stop()
    }
  }
}
