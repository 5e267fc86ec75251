package graft.metrics

import java.nio.file.Files

import graft.SparkSpec
import graft.store.LocalStore
import graft.streaming.IngestStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Pins the observe/metrics surface: inline metrics on batch actions
  * (via [[MetricsSink]]), the ingest pipeline's decode/DLQ counters,
  * and the streaming-source counter in query progress. */
class ObserveSpec extends SparkSpec {
  import spark.implicits._

  /** Listener delivery is async off the event bus — poll, don't assume. */
  private def await[A](what: String)(probe: => Option[A]): A = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var got = probe
    while (got.isEmpty && System.nanoTime() < deadline) { Thread.sleep(50); got = probe }
    got.getOrElse(fail(s"metric not delivered within 30s: $what"))
  }

  private def sqsGarbage(id: String): (String, String) =
    ("sqs",
      s"""{"messageId": "$id", "eventSource": "aws:sqs",
         |"body": "{\\"Type\\": \\"Notification\\", \\"Message\\": \\"{}\\"}"}""".stripMargin)

  test("quality metrics ride a batch write with no extra pass") {
    val sink = MetricsSink.register(spark)
    try {
      val df = Seq(("a", Some(1)), ("b", None), ("c", Some(3)), (null, None))
        .toDF("name", "score")
      Observe.quality(df, "obs.spec.quality", "name", "score")
        .write.mode("overwrite").format("noop").save()
      val m = await("obs.spec.quality")(sink.latest("obs.spec.quality"))
      assert(m("n_rows") == 4L)
      assert(m("n_null_name") == 1L)
      assert(m("n_null_score") == 2L)
    } finally spark.listenerManager.unregister(sink)
  }

  test("ingest batch emits decode + DLQ counters through the DLQ write") {
    val sink = MetricsSink.register(spark)
    val dir = Files.createTempDirectory("observe-store").toString
    try {
      // two SQS records with ids but unparseable inner messages → both
      // rejected at decode, both retryable, both land in the DLQ
      val batch = Seq(sqsGarbage("m-1"), sqsGarbage("m-2")).toDF("kind", "record_json")
      IngestStream.processBatch(LocalStore(spark, dir))(batch, 0L)
      val dec = await("decoded")(sink.latest("graft.ingest.decoded"))
      assert(dec("n_records") == 2L)
      assert(dec("n_rejected") == 2L)
      assert(dec("n_retryable") == 2L)
      val fl = await("failures")(sink.latest("graft.ingest.failures"))
      assert(fl("n_failures") == 2L)
      // InvalidMessageException is terminal in the taxonomy
      assert(fl("n_terminal") == 2L)
    } finally spark.listenerManager.unregister(sink)
  }

  test("a clean round after a failing one reports zero failures, not the old counts") {
    import graft.streaming.IngestFixtures._
    val sink = MetricsSink.register(spark)
    val store = LocalStore(spark, Files.createTempDirectory("observe-clean").toString)
    try {
      IngestStream.processBatch(store)(Seq(sqsGarbage("m-3")).toDF("kind", "record_json"), 0L)
      await("failing round")(
        sink.latest("graft.ingest.failures").filter(_("n_failures") == 1L))

      // the clean round skips the failure report; its outcome checkpoint
      // carries the (0, 0) row instead
      val resolver = stage("REF-OBS" -> tdrArchive("REF-OBS", "[2024] EWHC 21 (KB)"))
      IngestStream.processBatch(store, packageUri = resolver)(
        Seq(sqs("m-4", v2Inner("REF-OBS"))).toDF("kind", "record_json"), 1L)
      val fl = await("clean round")(
        sink.latest("graft.ingest.failures").filter(_("n_failures") == 0L))
      assert(fl("n_terminal") == 0L)
      assert(store.documents.count() == 1)
      assert(store.failures.count() == 1, "only the failing round's row")
    } finally spark.listenerManager.unregister(sink)
  }

  test("streaming source counter appears in query progress") {
    val dir = Files.createTempDirectory("observe-stream").toString
    val ckpt = Files.createTempDirectory("observe-ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(String, String)]
    source.addData(sqsGarbage("m-9"))
    val q = IngestStream.start(
      source.toDF().toDF("kind", "record_json"),
      LocalStore(spark, dir), ckpt)
    q.awaitTermination(60000)
    val observed = q.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get("graft.ingest.source")))
    assert(observed.nonEmpty, "no graft.ingest.source metric in any progress")
    // the metric row can be re-reported across progress events for the
    // same micro-batch — assert the VALUE, not a sum over reports
    assert(observed.map(_.getAs[Long]("n_events")).toSet == Set(1L))
  }
}
