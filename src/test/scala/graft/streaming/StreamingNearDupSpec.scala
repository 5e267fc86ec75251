package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types._

/** Streaming MinHash-LSH near-dup (q21's continuous form): the signature
  * and banding are pinned BIT-IDENTICAL to the batch pipeline, hits fire
  * across batches, unrelated text stays silent, and the bucket cap
  * bounds state with FIFO eviction. */
class StreamingNearDupSpec extends SparkSpec {
  import spark.implicits._

  private val base = (0 until 100).map(i => s"w$i").mkString(" ")
  private val nearDup = (0 until 99).map(i => s"w$i").mkString(" ") + " changed"
  private val unrelated = (0 until 100).map(i => s"x$i").mkString(" ")

  test("streaming (band, sig) keys are bit-identical to batch lshBuckets") {
    val dir = java.nio.file.Files.createTempDirectory("snd").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val texts = Map(1L -> base, 2L -> nearDup, 3L -> unrelated)
    val rows = texts.toSeq.map { case (id, t) => Row(id, t, "en", "f", t.length.toLong) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val batch = graft.dedup.DedupQueries
      .lshBuckets(graft.dedup.DedupQueries.docShingleHashes(spark, dir))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("band"), r.getAs[String]("sig")))
      .toSet
    val streaming = texts.flatMap { case (id, t) =>
      StreamingNearDup.bandKeys(StreamingNearDup.signature(t))
        .map { case (b, s) => (id, b, s) }
    }.toSet
    assert(streaming == batch, "streaming banding must equal the batch pipeline's")
  }

  test("a near-dup arriving in a later batch is detected; unrelated text is not") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[StreamText]
    val q = StreamingNearDup.detect(source.toDS())
      .writeStream.format("memory").queryName("neardup_hits").outputMode("append").start()

    source.addData(StreamText(1L, base), StreamText(3L, unrelated))
    q.processAllAvailable()
    assert(spark.table("neardup_hits").isEmpty, "no pair yet")

    source.addData(StreamText(2L, nearDup), StreamText(4L, (0 until 100).map(i => s"y$i").mkString(" ")))
    q.processAllAvailable()
    q.stop()
    val hits = spark.table("neardup_hits").as[NearDupHit].collect()
    assert(hits.nonEmpty, "the near-dup must collide in at least one band")
    val pairs = hits.map(h => (h.doc_id, h.dup_of)).distinct
    assert(pairs.toSeq == Seq((2L, 1L)), s"only the planted pair: ${pairs.toSeq}")
    // one-token edit of 100: signature agreement should be high
    hits.foreach(h => assert(h.est_jaccard >= 0.5 && h.est_jaccard <= 1.0))
    // the TRUE Jaccard is 97/99; the 96-component estimate should be close
    val est = hits.head.est_jaccard
    assert(math.abs(est - 97.0 / 99.0) < 0.15, s"estimator way off: $est")
  }

  test("redelivery: a replay hits its family, never itself") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[StreamText]
    val q = StreamingNearDup.detect(source.toDS())
      .writeStream.format("memory").queryName("neardup_replay").outputMode("append").start()
    try {
      source.addData(StreamText(1L, base), StreamText(3L, unrelated))
      q.processAllAvailable()
      source.addData(StreamText(2L, nearDup), StreamText(4L, (0 until 100).map(i => s"y$i").mkString(" ")))
      q.processAllAvailable()
      // redelivery of doc 2 plus a two-edit near-dup of the same family: the
      // replay scores against doc 1 again but never against itself
      source.addData(StreamText(2L, nearDup),
        StreamText(5L, (0 until 98).map(i => s"w$i").mkString(" ") + " two edits"))
      q.processAllAvailable()
      val all = spark.table("neardup_replay").as[NearDupHit].collect()
      assert(all.forall(h => h.doc_id != h.dup_of), "a replay must not hit itself")
      assert(all.map(h => (h.doc_id, h.dup_of)).toSet == Set((2L, 1L), (5L, 1L), (5L, 2L)))
    } finally q.stop()
  }

  test("a flooded bucket stays FIFO-capped: a probe scores against exactly BucketCap survivors") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[StreamText]
    val q = StreamingNearDup.detect(source.toDS())
      .writeStream.format("memory").queryName("neardup_cap").outputMode("append").start()
    try {
      // 20 identical texts (distinct ids) land in the SAME 32 buckets;
      // state must keep only the newest BucketCap per bucket
      (100L until 120L).map(id => StreamText(id, base)).grouped(5).foreach { g =>
        source.addData(g: _*); q.processAllAvailable()
      }
      source.addData(StreamText(999L, base))
      q.processAllAvailable()
      val probeHits = spark.table("neardup_cap").as[NearDupHit]
        .filter(_.doc_id == 999L).collect()
      // capped: 32 bands x BucketCap survivors; uncapped would be 32 x 20
      assert(probeHits.length == 32 * StreamingNearDup.BucketCap,
        s"expected ${32 * StreamingNearDup.BucketCap} probe hits, got ${probeHits.length}")
      assert(probeHits.map(_.dup_of).distinct.sorted.toSeq == (112L until 120L),
        "survivors must be the newest BucketCap of the flood")
    } finally q.stop()
  }

  test("bucket handler: within-batch order, self-skip, and FIFO cap") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val sigA = Array.tabulate(96)(i => i.toLong)       // agrees with B on 60/96
    val sigB = Array.tabulate(96)(i => if (i < 60) i.toLong else 1000L + i)
    val sigC = Array.tabulate(96)(i => 2000L + i)      // agrees with nothing
    def st(v: Optional[List[(Long, Array[Long])]]) =
      TestGroupState.create[List[(Long, Array[Long])]](
        v, GroupStateTimeout.NoTimeout, 0L, Optional.empty[Long], hasTimedOut = false)
    val h = StreamingNearDup.bucketHandler(0.5) _

    // batch arrives out of order: doc 10 (A) then doc 20 (B) must process
    // in doc_id order, so B scores against A (60/96 >= 0.5 -> hit)
    val s1 = st(Optional.empty)
    val out1 = h("b", Iterator(
      StreamingNearDup.BucketArrival("b", 0, 20L, sigB),
      StreamingNearDup.BucketArrival("b", 0, 10L, sigA)), s1).toList
    assert(out1 == List(NearDupHit(20L, 10L, 0, 60.0 / 96)))
    assert(s1.get.map(_._1) == List(10L, 20L))

    // C arrives next batch: below threshold against both -> no hit, stored
    val s2 = st(Optional.of(s1.get))
    assert(h("b", Iterator(StreamingNearDup.BucketArrival("b", 0, 30L, sigC)), s2).isEmpty)
    assert(s2.get.map(_._1) == List(10L, 20L, 30L))

    // a replay of held doc 10: scores against the others but not itself,
    // and refreshes its one slot to the newest position
    val s2r = st(Optional.of(s2.get))
    val outR = h("b", Iterator(StreamingNearDup.BucketArrival("b", 0, 10L, sigA)), s2r).toList
    assert(outR == List(NearDupHit(10L, 20L, 0, 60.0 / 96)))
    assert(s2r.get.map(_._1) == List(20L, 30L, 10L))

    // FIFO cap: flood the bucket past BucketCap; oldest ids evicted
    val s3 = st(Optional.of(s2r.get))
    val flood = (100L until (100L + StreamingNearDup.BucketCap))
      .map(id => StreamingNearDup.BucketArrival("b", 0, id, sigC))
    h("b", flood.iterator, s3).toList // hits against C are expected; ignore
    assert(s3.get.size == StreamingNearDup.BucketCap, "state must stay capped")
    assert(!s3.get.map(_._1).contains(10L), "oldest entry evicted first")
  }
}
