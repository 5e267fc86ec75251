package graft.streaming

import java.nio.file.{Files, Paths}

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import graft.ingest.{PackageIngest, RawPackage}
import graft.store.{DocumentStore, EffectBatch, LocalStore}
import graft.tar.TarOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.util.QueryExecutionListener

/** End-to-end streaming shell: MemoryStream source → foreachBatch decode →
  * Hadoop-FS package fetch → the REAL gather/act phases → store tables,
  * with the reference's partial-batch failure semantics (SQS ids retried/
  * DLQ'd, SNS failures dropped —
  * `/root/reference/tests/test_sqs_handler.py:120-205`). Packages are
  * staged as real tarballs under a local "bucket" directory and fetched
  * by the messages' (s3Bucket, s3Key) through the `file:` resolver — the
  * same seam a cluster points at `s3a://`. */
class IngestStreamSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import IngestFixtures._
  import spark.implicits._

  private val goldenFixtures =
    Paths.get("/root/reference/aws_examples/s3/te-editorial-out-int")

  /** In-memory fetch threshold (bytes) the spilled-path specs set. */
  private val SpillThreshold = 256L

  test("streaming ingest: unknown originator fails into the DLQ as redeliverable, store untouched") {
    implicit val sqlCtx = spark.sqlContext
    val store = LocalStore(spark, Files.createTempDirectory("graft-orig-stream").toString)
    val ckpt = Files.createTempDirectory("graft-orig-ckpt").toString

    // same reference rule as the batch act phase (ingester.py:440,457):
    // an unrecognized originator raises RuntimeError — the record fails
    // BEFORE the fetch (and, carrying an SQS id, redelivers) instead of
    // silently ingesting with a null publish decision
    val source = MemoryStream[(String, String)]
    source.addData(sqs("msg-bad-orig", v2Inner("REF-X", originator = "MYSTERY")))
    val q = IngestStream.start(source.toDS().toDF("kind", "record_json"), store, ckpt,
      packageUri = stage())
    q.awaitTermination()

    assert(store.documents.count() == 0)
    val fails = store.failures.collect()
    assert(fails.length == 1)
    assert(fails.head.getAs[String]("msg_id") == "msg-bad-orig")
    assert(fails.head.getAs[String]("error").startsWith("RuntimeError"))
    assert(!fails.head.getAs[Boolean]("terminal")) // an unexpected crash redelivers
  }

  test("streaming ingest: missing package object fails as a retryable fetch error") {
    implicit val sqlCtx = spark.sqlContext
    val store = LocalStore(spark, Files.createTempDirectory("graft-404-stream").toString)
    val ckpt = Files.createTempDirectory("graft-404-ckpt").toString

    // valid message, no object staged at its s3Key → the reference's
    // botocore ClientError (an unexpected exception → redelivery)
    val source = MemoryStream[(String, String)]
    source.addData(sqs("msg-404", v2Inner("REF-MISSING")))
    val q = IngestStream.start(source.toDS().toDF("kind", "record_json"), store, ckpt,
      packageUri = stage())
    q.awaitTermination()

    assert(store.documents.count() == 0)
    val fails = store.failures.collect()
    assert(fails.length == 1)
    assert(fails.head.getAs[String]("msg_id") == "msg-404")
    assert(fails.head.getAs[String]("error").startsWith("ClientError"))
    assert(!fails.head.getAs[Boolean]("terminal"))
  }

  test("streaming ingest: real gather — upsert, identifiers, notifications, properties, assets, DLQ") {
    implicit val sqlCtx = spark.sqlContext
    val storeDir = Files.createTempDirectory("graft-store").toString
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val store = LocalStore(spark, storeDir)
    val resolver = stage("REF-A" -> tdrArchive("REF-A", "[2024] EWHC 100 (KB)"))

    val source = MemoryStream[(String, String)]
    val events = source.toDS().toDF("kind", "record_json")

    // batch 1: one good TDR message, one invalid via SQS, one invalid via SNS
    source.addData(
      sqs("msg-001", v2Inner("REF-A")),
      sqs("msg-002", """{"something-unexpected": "???"}"""),
      sns("""{"something-unexpected": "???"}"""))
    val q1 = IngestStream.start(events, store, ckpt, packageUri = resolver)
    q1.awaitTermination()

    // W1: the document came from the REAL gather — actual judgment XML out
    // of the tarball, type classified from the XML root, full P3 payload
    val docs1 = store.documents.collect()
    assert(docs1.length == 1)
    assert(docs1.head.getAs[String]("upload_state") == "inserted")
    assert(docs1.head.getAs[Int]("version") == 1)
    assert(docs1.head.getAs[String]("doc_type") == "judgment")
    assert(docs1.head.getAs[String]("xml").contains("body of REF-A"))
    assert(docs1.head.getAs[String]("annotation_message") == "New document submitted by TDR user")
    assert(docs1.head.getAs[String]("annotation_payload").contains("\"tre_raw_metadata\": {"))

    // W2: the NCN identifier extracted from the metadata
    val ids1 = store.read("identifiers").get.collect()
    assert(ids1.exists(r => r.getAs[String]("id_kind") == "value" &&
      r.getAs[String]("id_value") == "[2024] EWHC 100 (KB)"))

    // W11: only the SQS failure is reported (SNS records have no id)
    val fails = store.failures.collect()
    assert(fails.length == 1)
    assert(fails.head.getAs[String]("msg_id") == "msg-002")
    assert(fails.head.getAs[String]("error") == "InvalidMessageException")
    assert(fails.head.getAs[Boolean]("terminal"))

    // W9: TDR + not existing → 'new' notification
    val notes = store.read("notifications").get.collect()
    assert(notes.map(_.getAs[String]("action")).toSeq == Seq("new"))

    // W3/W4: the real TDR property keys from the metadata, not the message
    val props = store.read("properties").get.collect()
      .map(r => r.getAs[String]("name") -> r.getAs[String]("value")).toMap
    assert(props == Map(
      "source-organisation" -> "MoJ",
      "source-name" -> "Jo Doe",
      "source-email" -> "jo@example.com",
      "transfer-consignment-reference" -> "REF-A",
      "transfer-received-at" -> "2024-01-01T00:00:00Z",
      "parser-run-id" -> "run-REF-A"))

    // W5–W8: asset bytes PERFORMED from the fetched archive
    val uri = docs1.head.getAs[String]("uri")
    assert(Files.exists(Paths.get(s"${store.assetRoot}/$uri/REF-A.tar.gz")))
    assert(Files.exists(Paths.get(s"${store.assetRoot}/$uri/parser.log")))

    // batch 2 (new query, same checkpoint): redelivery of REF-A → the NCN
    // identifier now resolves → MERGE update on the same document
    source.addData(sqs("msg-003", v2Inner("REF-A")))
    val q2 = IngestStream.start(events, store, ckpt, packageUri = resolver)
    q2.awaitTermination()

    val docs2 = store.documents.collect()
    assert(docs2.length == 1)
    assert(docs2.head.getAs[Int]("version") == 2)
    assert(docs2.head.getAs[String]("upload_state") == "updated")
  }

  test("streamed message produces byte-identical store tables to the batched package") {
    assume(Files.exists(goldenFixtures), "reference fixtures not present")
    implicit val sqlCtx = spark.sqlContext
    val archive = Files.readAllBytes(goldenFixtures.resolve("TDR-2022-DNWR.tar.gz"))

    // streaming arm: golden tarball staged as a bucket object, V2 message
    // through start()
    val streamStore = LocalStore(spark, Files.createTempDirectory("graft-eq-stream").toString)
    val ckpt = Files.createTempDirectory("graft-eq-ckpt").toString
    val source = MemoryStream[(String, String)]
    source.addData(sqs("msg-eq-1", v2Inner("TDR-2022-DNWR")))
    val q = IngestStream.start(source.toDS().toDF("kind", "record_json"), streamStore, ckpt,
      packageUri = stage("TDR-2022-DNWR" -> archive))
    q.awaitTermination()

    // batch arm: the same package through PackageIngest.ingest
    val batchStore = LocalStore(spark, Files.createTempDirectory("graft-eq-batch").toString)
    PackageIngest.ingest(spark,
      Seq(RawPackage("TDR-2022-DNWR", "TDR", "TDR-2022-DNWR.tar.gz", archive)), batchStore)

    // every store table byte-matches
    for (t <- Seq("documents", "identifiers", "properties", "notifications", "assets")) {
      val s = streamStore.read(t).get.collect().map(_.toString).sorted.toSeq
      val b = batchStore.read(t).get.collect().map(_.toString).sorted.toSeq
      assert(s == b, s"table $t diverges between streaming and batch paths")
    }
    // ...and so do the performed asset bytes (the `<uri>/<dest>` files;
    // the root-level files are the assets TABLE's parquet parts, whose
    // names are write-unique)
    def assetFiles(root: String): Map[String, Seq[Byte]] = {
      val base = Paths.get(root)
      import scala.jdk.CollectionConverters._
      Files.walk(base).iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => base.relativize(p).toString -> Files.readAllBytes(p).toSeq)
        .filter(_._1.contains("/"))
        .toMap
    }
    assert(assetFiles(streamStore.assetRoot) == assetFiles(batchStore.assetRoot))
  }

  test("spilled fetch: archives above the in-memory threshold stream via local disk, tables stay byte-identical") {
    implicit val sqlCtx = spark.sqlContext
    // an in-test package always runs; the golden one where it is present
    val inputs = Seq("REF-S" -> tdrArchive("REF-S", "[2024] EWHC 15 (KB)", images = Seq("image1.png"))) ++
      Seq(goldenFixtures.resolve("TDR-2022-DNWR.tar.gz")).filter(Files.exists(_))
        .map(p => "TDR-2022-DNWR" -> Files.readAllBytes(p))
    for ((ref, archive) <- inputs) {
      assert(archive.length > SpillThreshold,
        s"$ref must exceed the test threshold so the spill branch is the one exercised")

      // the test threshold sends EVERY package down the spill path — fetch
      // streams to executor-local disk, gather runs off two bounded walks,
      // the asset pass streams the tarball copy; heap never holds the archive
      spark.conf.set(IngestStream.MaxInMemoryFetchKey, SpillThreshold.toString)
      val spillStore = LocalStore(spark, Files.createTempDirectory("graft-spill-stream").toString)
      try {
        val ckpt = Files.createTempDirectory("graft-spill-ckpt").toString
        val source = MemoryStream[(String, String)]
        source.addData(sqs(s"msg-spill-$ref", v2Inner(ref)))
        val q = IngestStream.start(source.toDS().toDF("kind", "record_json"), spillStore, ckpt,
          packageUri = stage(ref -> archive))
        q.awaitTermination()
      } finally spark.conf.unset(IngestStream.MaxInMemoryFetchKey)

      val batchStore = LocalStore(spark, Files.createTempDirectory("graft-spill-batch").toString)
      PackageIngest.ingest(spark, Seq(RawPackage(ref, "TDR", s"$ref.tar.gz", archive)), batchStore)

      assert(spillStore.documents.count() == 1, ref)
      for (t <- Seq("documents", "identifiers", "properties", "notifications", "assets")) {
        val s = spillStore.read(t).get.collect().map(_.toString).sorted.toSeq
        val b = batchStore.read(t).get.collect().map(_.toString).sorted.toSeq
        assert(s == b, s"$ref: table $t diverges between spilled-stream and batch paths")
      }
      // performed asset bytes too — including the whole-archive tarball
      // copy, which on the spill path streams disk→store
      def assetFiles(root: String): Map[String, Seq[Byte]] = {
        val base = Paths.get(root)
        regularFiles(base).map(p => base.relativize(p).toString -> Files.readAllBytes(p).toSeq)
          .filter(_._1.contains("/"))
          .toMap
      }
      val spilledAssets = assetFiles(spillStore.assetRoot)
      assert(spilledAssets.keys.exists(_.endsWith("/image1.png")), s"$ref: ${spilledAssets.keys}")
      assert(spilledAssets == assetFiles(batchStore.assetRoot), ref)
    }
  }

  test("redrive policy: a poison retryable message parks terminal after maxReceives") {
    implicit val sqlCtx = spark.sqlContext
    val store = LocalStore(spark, Files.createTempDirectory("graft-redrive-store").toString)
    val resolver = stage() // nothing staged → every fetch fails retryably

    // three deliveries of the SAME message id (SQS messageId is stable
    // across redeliveries), one per micro-batch — each against a fresh
    // query on its own checkpoint, the redelivery shape the crash-recovery
    // test pins; the receive LEDGER lives in the store, not the checkpoint
    for (attempt <- 1 to 3) {
      val source = MemoryStream[(String, String)]
      source.addData(sqs("msg-poison", v2Inner("REF-GONE")))
      val q = IngestStream.start(source.toDS().toDF("kind", "record_json"), store,
        Files.createTempDirectory(s"graft-redrive-ckpt-$attempt").toString,
        packageUri = resolver, maxReceives = 3)
      q.awaitTermination()
    }

    val rows = store.failures.collect().sortBy(_.getAs[Boolean]("terminal"))
    assert(rows.length == 3, "one ledger row per failed receive")
    assert(rows.forall(_.getAs[String]("msg_id") == "msg-poison"))
    assert(rows.forall(_.getAs[String]("error").startsWith("ClientError")))
    // receives 1 and 2 stay redeliverable; receive 3 exhausts the budget
    assert(rows.map(_.getAs[Boolean]("terminal")).toSeq == Seq(false, false, true))

    // an unrelated first-receive failure in the same store still gets its
    // full budget — the ledger counts per message, not globally
    val source = MemoryStream[(String, String)]
    source.addData(sqs("msg-fresh", v2Inner("REF-ALSO-GONE")))
    val q = IngestStream.start(source.toDS().toDF("kind", "record_json"), store,
      Files.createTempDirectory("graft-redrive-ckpt-fresh").toString,
      packageUri = resolver, maxReceives = 3)
    q.awaitTermination()
    val fresh = store.failures.collect().filter(_.getAs[String]("msg_id") == "msg-fresh")
    assert(fresh.length == 1 && !fresh.head.getAs[Boolean]("terminal"))

    // maxReceives = 1 mirrors the reference deployment: first failed
    // receive parks immediately (terraform default max_receive_count=1)
    val store1 = LocalStore(spark, Files.createTempDirectory("graft-redrive1-store").toString)
    val source1 = MemoryStream[(String, String)]
    source1.addData(sqs("msg-once", v2Inner("REF-GONE")))
    val q1 = IngestStream.start(source1.toDS().toDF("kind", "record_json"), store1,
      Files.createTempDirectory("graft-redrive1-ckpt").toString,
      packageUri = resolver, maxReceives = 1)
    q1.awaitTermination()
    val once = store1.failures.collect()
    assert(once.length == 1 && once.head.getAs[Boolean]("terminal"))
  }

  test("crash recovery: uncommitted batch is redelivered, effects converge, committed batches are not replayed") {
    implicit val sqlCtx = spark.sqlContext
    val storeDir = Files.createTempDirectory("graft-crash-store").toString
    val ckpt = Files.createTempDirectory("graft-crash-ckpt").toString
    val store = LocalStore(spark, storeDir)
    val resolver = stage(
      "REF-X" -> tdrArchive("REF-X", "[2024] EWHC 1 (KB)"),
      "REF-Y" -> tdrArchive("REF-Y", "[2024] EWHC 2 (KB)"),
      "REF-Z" -> tdrArchive("REF-Z", "[2024] EWHC 3 (KB)"))

    val source = MemoryStream[(String, String)]
    val events = source.toDS().toDF("kind", "record_json")
    source.addData(sqs("msg-101", v2Inner("REF-X")), sqs("msg-102", v2Inner("REF-Y")))

    // CRASH mid-stream: the batch's effects run, then the query dies
    // before the offset commit — the visibility-timeout analogue (an SQS
    // worker that processed the message but never deleted it)
    val crashing = events.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        IngestStream.processBatch(store, packageUri = resolver)(b, id)
        throw new RuntimeException("injected crash after effects, before commit")
      }
      .start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      crashing.awaitTermination()
    }
    assert(store.documents.count() == 2) // effects DID run before the crash

    // RESTART on the same checkpoint: the uncommitted batch is redelivered
    // (at-least-once), and every keyed effect converges — the NCN
    // identifiers written before the crash resolve the replay to the SAME
    // documents (exists_in_db=true), the MERGE bumps versions exactly like
    // an SQS redelivery re-running perform_ingest, identifiers dedup
    val q2 = IngestStream.start(events, store, ckpt, packageUri = resolver)
    q2.awaitTermination()
    val docs = store.documents.collect()
    assert(docs.length == 2)
    assert(docs.forall(_.getAs[Int]("version") == 2)) // one crash replay, not N
    assert(docs.forall(_.getAs[String]("upload_state") == "updated"))
    // properties upsert on (uri, name) → converges to 6 rows per doc
    val props = store.read("properties").get.collect()
    assert(props.length == 12)
    assert(props.map(r => (r.getAs[String]("uri"), r.getAs[String]("name"))).distinct.length == 12)
    // identifiers dedup on redelivery: one NCN + one slug row per doc
    val ids = store.read("identifiers").get.collect()
    assert(ids.count(_.getAs[String]("id_kind") == "value") == 2)
    // append-only notifications dup on redelivery — the reference resends
    // the email on SQS redelivery too (as 'updated': the document now
    // exists); the keyed tables are what converge
    val notes = store.read("notifications").get.collect()
    assert(notes.length == 4)
    assert(notes.map(_.getAs[String]("action")).sorted.toSeq ==
      Seq("new", "new", "updated", "updated"))

    // a THIRD restart with new data must NOT replay the committed batch
    source.addData(sqs("msg-103", v2Inner("REF-Z")))
    val q3 = IngestStream.start(events, store, ckpt, packageUri = resolver)
    q3.awaitTermination()
    val byXml = store.documents.collect()
      .map(r => r.getAs[String]("xml") -> r.getAs[Int]("version")).toMap
    assert(byXml.size == 3)
    assert(byXml.count(_._2 == 2) == 2) // X/Y untouched by the third run
    assert(byXml.count(_._2 == 1) == 1) // Z processed exactly once
  }

  /** Counts the calls a round makes on a [[LocalStore]] — the
    * skipped-work specs below pin which store passes a round runs. */
  private final class CountingStore(inner: LocalStore) extends DocumentStore {
    private val calls = new ConcurrentHashMap[String, AtomicInteger]()
    private def hit[A](op: String)(body: => A): A = {
      calls.computeIfAbsent(op, _ => new AtomicInteger()).incrementAndGet()
      body
    }
    def count(op: String): Int = Option(calls.get(op)).fold(0)(_.get)
    def spark = inner.spark
    override def applyEffects(b: EffectBatch): Unit = hit("applyEffects")(inner.applyEffects(b))
    def read(t: String): Option[DataFrame] = hit(s"read($t)")(inner.read(t))
    override def documents: DataFrame = hit("documents")(inner.documents)
    override def failures: DataFrame = hit("failures")(inner.failures)
    def upsertDocuments(u: DataFrame): Unit = hit("upsertDocuments")(inner.upsertDocuments(u))
    def setPublished(d: DataFrame): Unit = hit("setPublished")(inner.setPublished(d))
    def appendIdentifiers(r: DataFrame): Unit = hit("appendIdentifiers")(inner.appendIdentifiers(r))
    def upsertProperties(r: DataFrame): Unit = hit("upsertProperties")(inner.upsertProperties(r))
    def appendAssets(r: DataFrame): Unit = hit("appendAssets")(inner.appendAssets(r))
    def appendNotifications(r: DataFrame): Unit =
      hit("appendNotifications")(inner.appendNotifications(r))
    def appendFailures(r: DataFrame): Unit = hit("appendFailures")(inner.appendFailures(r))
    def assetRoot: String = inner.assetRoot
  }

  private def counting(prefix: String) =
    new CountingStore(LocalStore(spark, Files.createTempDirectory(prefix).toString))

  private def failureRows(store: DocumentStore): Seq[(String, String, Boolean)] =
    store.failures.collect().toSeq
      .map(r => (r.getAs[String]("msg_id"), r.getAs[String]("error"), r.getAs[Boolean]("terminal")))

  test("skipped work: a clean one-message round never reads or appends the failure ledger") {
    val store = counting("graft-skip-clean")
    val resolver = stage("REF-C" -> tdrArchive("REF-C", "[2024] EWHC 11 (KB)"))
    IngestStream.processBatch(store, packageUri = resolver)(
      Seq(sqs("msg-c1", v2Inner("REF-C"))).toDF("kind", "record_json"), 0L)

    assert(store.count("applyEffects") == 1, "the clean message still ran its effect round")
    assert(store.count("failures") == 0)
    assert(store.count("appendFailures") == 0)
    assert(store.documents.count() == 1)
    assert(failureRows(store).isEmpty)
  }

  test("skipped work: a corrupt-tar round runs no resolution read and no effect round") {
    val store = counting("graft-skip-corrupt")
    // gzip magic followed by garbage: the archive cannot be read
    val corrupt = Array(0x1f.toByte, 0x8b.toByte) ++ "not a deflate stream".getBytes("UTF-8")
    val resolver = stage("REF-BAD" -> corrupt)
    IngestStream.processBatch(store, packageUri = resolver)(
      Seq(sqs("msg-bad", v2Inner("REF-BAD"))).toDF("kind", "record_json"), 0L)

    assert(store.count("read(identifiers)") == 0)
    assert(store.count("documents") == 0)
    assert(store.count("applyEffects") == 0)
    // the failures row is the one the full act phase reported: gather's
    // unreadable-archive error, retryable on a first receive
    val unreadable = intercept[Exception](TarOps.explode(corrupt)).getMessage
    assert(failureRows(store) ==
      Seq(("msg-bad", s"InvalidXMLException: unreadable archive: $unreadable", false)))
    assert(store.documents.count() == 0)
  }

  test("skipped work: a mixed round still reports exactly the failed message") {
    val store = counting("graft-skip-mixed")
    // REF-GONE is never staged: its fetch fails, REF-M ingests cleanly
    val resolver = stage("REF-M" -> tdrArchive("REF-M", "[2024] EWHC 12 (KB)"))
    IngestStream.processBatch(store, packageUri = resolver)(
      Seq(sqs("msg-gone", v2Inner("REF-GONE")), sqs("msg-m", v2Inner("REF-M")))
        .toDF("kind", "record_json"), 0L)

    val fails = failureRows(store)
    assert(fails.map(_._1) == Seq("msg-gone"))
    assert(fails.head._2.startsWith("ClientError"))
    assert(!fails.head._3)
    assert(store.documents.count() == 1)
  }

  /** Ingests one message for `archive` (spilled when `spillAt` is set)
    * into a store `seed` prepared, and asserts the package lands as one
    * terminal `error` row, with no document, no asset file, and no
    * `escaped*` file anywhere. The store sits one directory below that
    * search root, so a name climbing two levels out of the asset root
    * still lands inside it. */
  private def assertRejected(ref: String, archive: Array[Byte], error: String,
      spillAt: Option[Long] = None, seed: LocalStore => Unit = _ => ()): Unit = {
    val searchRoot = Files.createTempDirectory("graft-hostile")
    val store = LocalStore(spark, searchRoot.resolve("store").toString)
    seed(store)
    spillAt.foreach(n => spark.conf.set(IngestStream.MaxInMemoryFetchKey, n.toString))
    try IngestStream.processBatch(store, packageUri = stage(ref -> archive))(
      Seq(sqs(s"msg-$ref", v2Inner(ref))).toDF("kind", "record_json"), 0L)
    finally spark.conf.unset(IngestStream.MaxInMemoryFetchKey)

    assert(failureRows(store) == Seq((s"msg-$ref", error, true)), ref)
    assert(store.documents.count() == 0, ref)
    val root = Paths.get(store.assetRoot)
    assert(regularFiles(root).isEmpty, s"$ref: asset files written")
    val outside = regularFiles(searchRoot).filter(_.getFileName.toString.contains("escaped"))
    assert(outside.isEmpty, s"$ref: files written outside the asset root: $outside")
  }

  private def regularFiles(dir: java.nio.file.Path): List[java.nio.file.Path] =
    if (!Files.exists(dir)) Nil
    else {
      val walk = Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(Files.isRegularFile(_)).toList
      } finally walk.close()
    }

  test("hostile package: an image name climbing out of the asset root fails terminally at gather") {
    // `<assetRoot>/<uri>/../../escaped*` is the store directory itself:
    // once through an image name, once through a V2 reference, which
    // names the tarball copy `<ref>.tar.gz` verbatim
    assertRejected("REF-T", tdrArchive("REF-T", "[2024] EWHC 14 (KB)",
      images = Seq("image1.png", "../../escaped.png")), "UnsafeAssetNameException")
    assertRejected("../../escaped-R", tdrArchive("../../escaped-R", "[2024] EWHC 16 (KB)",
      images = Seq("image1.png")), "UnsafeAssetNameException")
  }

  test("hostile package: a resolved uri climbing out of the asset root fails terminally before any effect") {
    // the package's NCN resolves to an identifier row whose document_uri
    // would put every asset copy at `<assetRoot>/../../escaped-U/…`
    val cite = "[2024] EWHC 30 (KB)"
    assertRejected("REF-U", tdrArchive("REF-U", cite), "UnsafeAssetNameException",
      seed = _.appendIdentifiers(Seq(("../../escaped-U", "value", cite, "ukncn"))
        .toDF("document_uri", "id_kind", "id_value", "id_type")))
  }

  test("malformed metadata fails its own message as a retryable JSONDecodeError, not the round") {
    val store = LocalStore(spark, Files.createTempDirectory("graft-bad-json").toString)
    val broken = TarOps.packStrings(Seq(
      "REF-J/TRE-REF-J-metadata.json" -> """{"parameters": {""",
      "REF-J/doc.xml" -> "<akomaNtoso><judgment>body of REF-J</judgment></akomaNtoso>"))
    val resolver = stage("REF-G" -> tdrArchive("REF-G", "[2024] EWHC 31 (KB)"), "REF-J" -> broken)
    IngestStream.processBatch(store, packageUri = resolver)(
      Seq(sqs("msg-g", v2Inner("REF-G")), sqs("msg-j", v2Inner("REF-J")))
        .toDF("kind", "record_json"), 0L)

    val docs = store.documents.collect()
    assert(docs.length == 1)
    assert(docs.head.getAs[String]("xml").contains("body of REF-G"))
    val fails = failureRows(store)
    assert(fails.map { case (id, _, terminal) => (id, terminal) } == Seq(("msg-j", false)))
    assert(fails.head._2.startsWith("JSONDecodeError: "), fails.head._2)
  }

  test("hostile package: a decompression bomb or a member flood fails terminally before inflating") {
    // a good tdrArchive with `extra` members streamed after it
    def tdrArchiveWith(ref: String)(
        extra: org.apache.commons.compress.archivers.tar.TarArchiveOutputStream => Unit) = {
      val bos = new java.io.ByteArrayOutputStream()
      val tar = TarOps.packStream(bos)
      try {
        tdrMembers(ref, "[2024] EWHC 20 (KB)").foreach { case (n, t) =>
          TarOps.writeEntry(tar, n, t.getBytes("UTF-8"))
        }
        extra(tar)
      } finally tar.close()
      bos.toByteArray
    }
    // 128 MiB of zeros as one unreferenced member: ~130 KB of gzip,
    // streamed in 64 KiB writes so the bomb is never one allocated array
    def bomb(ref: String) = tdrArchiveWith(ref) { tar =>
      val e = new org.apache.commons.compress.archivers.tar.TarArchiveEntry(s"$ref/zeros.bin")
      e.setSize(128L << 20)
      tar.putArchiveEntry(e)
      val zeros = new Array[Byte](64 << 10)
      for (_ <- 0 until 2048) tar.write(zeros)
      tar.closeArchiveEntry()
    }
    val inMemory = bomb("REF-BOMB")
    assert(inMemory.length < (1 << 20), s"the bomb's archive is ${inMemory.length} bytes")
    assertRejected("REF-BOMB", inMemory, "PackageTooLargeException")
    assertRejected("REF-BOMB-S", bomb("REF-BOMB-S"), "PackageTooLargeException",
      spillAt = Some(SpillThreshold))
    val flood = tdrArchiveWith("REF-FLOOD") { tar =>
      for (i <- 0 to TarOps.MaxMembers) TarOps.writeEntry(tar, s"REF-FLOOD/empty-$i", Array.empty)
    }
    assertRejected("REF-FLOOD", flood, "PackageTooLargeException")
  }

  /** Runs `body` and returns the executed plans of its `localCheckpoint`
    * actions (listener delivery is async: waits until `want` arrived). */
  private def checkpointPlans(want: Seq[QueryExecution] => Boolean)(body: => Unit): Seq[QueryExecution] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      import scala.jdk.CollectionConverters._
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!want(seen.asScala.toSeq) && System.nanoTime() < deadline) Thread.sleep(50)
      seen.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  private def observes(name: String)(qe: QueryExecution) =
    qe.analyzed.exists { case c: CollectMetrics => c.name == name; case _ => false }
  private val isFetch = observes("graft.ingest.fetched") _
  private val isGather = observes("graft.ingest.gathered") _
  private def shuffles(qe: QueryExecution) =
    collect(qe.executedPlan) { case e: ShuffleExchangeLike => e }

  test("fetch fan-out: a one-message round fetches and gathers on one partition, no shuffle") {
    val store = LocalStore(spark, Files.createTempDirectory("graft-fanout-one").toString)
    val resolver = stage("REF-ONE" -> tdrArchive("REF-ONE", "[2024] EWHC 13 (KB)"))
    val plans = checkpointPlans(qs => qs.exists(isFetch) && qs.exists(isGather)) {
      IngestStream.processBatch(store, packageUri = resolver)(
        Seq(sqs("msg-one", v2Inner("REF-ONE"))).toDF("kind", "record_json").repartition(3), 0L)
    }
    val fetch = plans.filter(isFetch)
    val gather = plans.filter(isGather)
    assert(fetch.size == 1 && gather.size == 1)
    assert(fetch.head.toRdd.getNumPartitions == 1)
    assert(shuffles(fetch.head).isEmpty, fetch.head.executedPlan.toString)
    assert(gather.head.toRdd.getNumPartitions == 1)
    assert(shuffles(gather.head).isEmpty, gather.head.executedPlan.toString)
    assert(store.documents.count() == 1)
  }

  test("fetch fan-out: a round larger than the cap spreads to exactly the cap") {
    val store = LocalStore(spark, Files.createTempDirectory("graft-fanout-cap").toString)
    spark.conf.set(IngestStream.FetchParallelismKey, "2")
    try {
      // nothing staged: every fetch fails, which is enough to see its spread
      val plans = checkpointPlans(_.exists(isFetch)) {
        IngestStream.processBatch(store, packageUri = stage())(
          (1 to 5).map(i => sqs(s"msg-cap-$i", v2Inner(s"REF-CAP-$i"))).toDF("kind", "record_json"),
          0L)
      }
      val fetch = plans.filter(isFetch)
      assert(fetch.size == 1)
      assert(fetch.head.toRdd.getNumPartitions == 2)
      assert(failureRows(store).map(_._1).sorted == (1 to 5).map(i => s"msg-cap-$i"))
    } finally spark.conf.unset(IngestStream.FetchParallelismKey)
  }
}
