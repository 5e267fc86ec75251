package graft.store

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.ingest.{PackageIngest, RawPackage}

/** The [[DocumentStore]] seam proof: the SAME golden-package ingest run
  * through [[LocalStore]] directly and through [[HttpStore]] →
  * [[DocStoreServer]] (real HTTP on loopback) produces row-identical
  * store tables, identical outcome rows, and the same asset bytes —
  * plus the wire failure contract (non-200 / unreachable server →
  * throw, nothing applied before commit). */
class HttpStoreSpec extends SparkSpec {

  private val fixtures = Paths.get("/root/reference/aws_examples/s3/te-editorial-out-int")

  private def pkg(ref: String, originator: String, file: String): RawPackage =
    RawPackage(ref, originator, s"$ref.tar.gz", Files.readAllBytes(fixtures.resolve(file)))

  private def tableJson(store: DocumentStore, t: String): Seq[String] =
    store.read(t).map(_.toJSON.collect().toSeq.sorted).getOrElse(Seq.empty)

  test("golden-package ingest is row-identical through LocalStore and HttpStore") {
    assume(Files.exists(fixtures), "reference fixtures not present")
    val localDir = Files.createTempDirectory("graft-http-parity-local").toString
    val serverDir = Files.createTempDirectory("graft-http-parity-server").toString
    val local = LocalStore(spark, localDir)
    val serverInner = LocalStore(spark, serverDir)
    val server = new DocStoreServer(serverInner)
    try {
      val http = HttpStore(spark, server.endpoint)

      // read-before-first-write contract holds over the wire
      assert(http.read("documents").isEmpty)
      assert(http.documents.count() == 0) // trait default empty frame

      val pkgs = Seq(
        pkg("TDR-2022-DNWR", "TDR", "TDR-2022-DNWR.tar.gz"),
        pkg("TDR-2025-CN7V", "TDR", "TDR-2025-CN7V.tar.gz"))

      val o1 = PackageIngest.ingest(spark, pkgs, local).toJSON.collect().toSeq.sorted
      val o2 = PackageIngest.ingest(spark, pkgs, http).toJSON.collect().toSeq.sorted
      assert(o1 == o2, "outcome rows differ between stores")

      // every store table row-identical, and column names/types match the
      // DocumentStore.schemas contract on both sides
      for (t <- Seq("documents", "identifiers", "properties", "assets",
          "notifications")) {
        val a = tableJson(local, t)
        val b = tableJson(http, t)
        assert(a.nonEmpty, s"$t: local table empty — fixture regressed")
        assert(a == b, s"$t: rows differ between LocalStore and HttpStore")
        val want = DocumentStore.schemas(t).fields.map(f => (f.name, f.dataType)).toSeq
        for (df <- Seq(local.read(t).get, http.read(t).get))
          assert(df.schema.fields.map(f => (f.name, f.dataType)).toSeq == want,
            s"$t: schema drifts from the DocumentStore contract")
      }

      // asset BYTES landed under the server store's root (the shared
      // object-store path), byte-identical to the local run
      val uri = local.documents.collect()
        .find(_.getAs[String]("doc_type") == "judgment").get.getAs[String]("uri")
      val localTar = Paths.get(s"${local.assetRoot}/$uri/TDR-2022-DNWR.tar.gz")
      val httpTar = Paths.get(s"${http.assetRoot}/$uri/TDR-2022-DNWR.tar.gz")
      assert(Files.exists(httpTar), "asset bytes missing under the wire store's root")
      assert(java.util.Arrays.equals(
        Files.readAllBytes(localTar), Files.readAllBytes(httpTar)))

      // re-ingest through the wire: MERGE semantics (per-batch version
      // bump, no duplicate identifier/asset rows) survive the protocol
      PackageIngest.ingest(spark, pkgs.take(1), local).collect()
      PackageIngest.ingest(spark, pkgs.take(1), http).collect()
      assert(tableJson(local, "documents") == tableJson(http, "documents"))
      assert(http.documents.filter(org.apache.spark.sql.functions.col("uri") === uri)
        .collect().head.getAs[Int]("version") == 2)
      assert(tableJson(local, "identifiers") == tableJson(http, "identifiers"))
      assert(tableJson(local, "assets") == tableJson(http, "assets"))
    } finally server.stop()
  }

  test("streaming ingest through the wire store matches LocalStore table-for-table") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    // stage one real package under a file: bucket; send one good message
    // and one poison (unstaged object -> retryable fetch failure), so the
    // batch exercises store reads (identifiers, documents, the redrive
    // ledger) AND every write op over HTTP inside foreachBatch
    val bucket = Files.createTempDirectory("graft-http-bucket")
    Files.createDirectories(bucket.resolve("b/k"))
    val archive = graft.tar.TarOps.packStrings(Seq(
      "REF-W/TRE-REF-W-metadata.json" ->
        """{"parameters": {"TRE": {"reference": "TRE-REF-W", "payload": {
          |  "filename": "doc.docx", "xml": "doc.xml",
          |  "metadata": "TRE-REF-W-metadata.json", "images": [], "log": "parser.log"}},
          |  "PARSER": {"uri": null, "cite": "[2024] EWHC 9 (KB)", "parser_run_id": "run-W"},
          |  "TDR": {"Source-Organization": "MoJ", "Contact-Name": "Jo Doe",
          |    "Contact-Email": "jo@example.com", "Internal-Sender-Identifier": "REF-W",
          |    "Consignment-Completed-Datetime": "2024-01-01T00:00:00Z"}}}""".stripMargin,
      "REF-W/doc.xml" -> "<akomaNtoso><judgment>wire body</judgment></akomaNtoso>",
      "REF-W/doc.docx" -> "docx bytes",
      "REF-W/parser.log" -> "ok"))
    Files.write(bucket.resolve("b/k/REF-W.tar.gz"), archive)
    val bucketStr = bucket.toString // String capture: Path is not serializable
    val resolver = (b: String, key: String) => s"file:$bucketStr/$b/$key"
    def jsonStr(s: String) =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def sqs(msgId: String, ref: String) = ("sqs",
      s"""{"messageId": "$msgId", "eventSource": "aws:sqs", "body": ${jsonStr(
        s"""{"Type": "Notification", "Message": ${jsonStr(
          s"""{"parameters": {"reference": "$ref", "originator": "TDR", "s3Bucket": "b", "s3Key": "k/$ref.tar.gz"}}""")}}""")}}""")

    def runThrough(store: DocumentStore): Unit = {
      val source = MemoryStream[(String, String)]
      source.addData(sqs("msg-w1", "REF-W"), sqs("msg-w2", "REF-GONE"))
      val q = graft.streaming.IngestStream.start(
        source.toDS().toDF("kind", "record_json"), store,
        Files.createTempDirectory("graft-http-stream-ckpt").toString,
        packageUri = resolver)
      q.awaitTermination()
    }

    val local = LocalStore(spark, Files.createTempDirectory("graft-http-stream-local").toString)
    val server = new DocStoreServer(
      LocalStore(spark, Files.createTempDirectory("graft-http-stream-server").toString))
    try {
      val http = HttpStore(spark, server.endpoint)
      runThrough(local)
      runThrough(http)
      for (t <- Seq("documents", "identifiers", "properties", "notifications",
          "assets", "failures"))
        assert(tableJson(local, t) == tableJson(http, t),
          s"$t diverges between LocalStore and HttpStore streaming runs")
      // the poison message's failed receive landed in the wire ledger,
      // redeliverable (receive 1 of the default budget)
      val fails = http.failures.collect()
      assert(fails.length == 1 && fails.head.getAs[String]("msg_id") == "msg-w2")
      assert(!fails.head.getAs[Boolean]("terminal"))
    } finally server.stop()
  }

  test("failure contract: server errors and unreachable servers throw, stage-only is not applied") {
    val serverDir = Files.createTempDirectory("graft-http-fail-server").toString
    val inner = LocalStore(spark, serverDir)
    val server = new DocStoreServer(inner)
    import spark.implicits._
    try {
      val http = HttpStore(spark, server.endpoint)

      val failSchema = Seq(("x", "y", true)).toDF("msg_id", "error", "terminal").schema.json
      def commit(txn: String, body: String): (Int, String) =
        HttpStore.post(s"${server.endpoint}/txn/$txn/commitBatch", body.getBytes("UTF-8"))

      // unknown op → HTTP 500 → the client-side batch throws
      val (code, body) = commit(java.util.UUID.randomUUID().toString, s"nonsense\t$failSchema")
      assert(code == 500 && body.contains("unknown batch op"), s"$code $body")

      // staged-but-never-committed rows are never applied
      val txn = java.util.UUID.randomUUID().toString
      val failRow = """{"msg_id":"m1","error":"E","terminal":true}""".getBytes("UTF-8")
      assert(HttpStore.post(s"${server.endpoint}/txn/$txn?op=appendFailures", failRow)._1 == 200)
      assert(inner.read("failures").isEmpty, "stage alone must not mutate the store")

      // an untagged stage POST is refused, and its rows reach no commit
      val untagged = java.util.UUID.randomUUID().toString
      assert(HttpStore.post(s"${server.endpoint}/txn/$untagged", failRow)._1 == 500)
      assert(commit(untagged, s"appendFailures\t$failSchema")._1 == 200)
      assert(inner.read("failures").forall(_.isEmpty), "an untagged stage must apply nothing")

      // a mixed body (setPublished commits only alone) applies nothing
      val mixed = java.util.UUID.randomUUID().toString
      val doc = Seq(("doc/mixed", "<x/>", "judgment", "m", "{}", true, "done"))
        .toDF("uri", "xml", "doc_type", "annotation_message", "annotation_payload",
          "automated", "upload_state")
      val decision = Seq(("doc/mixed", true, "<x/>")).toDF("uri", "will_publish", "xml")
      assert(HttpStore.post(s"${server.endpoint}/txn/$mixed?op=upsertDocuments",
        doc.toJSON.collect().mkString("\n").getBytes("UTF-8"))._1 == 200)
      assert(HttpStore.post(s"${server.endpoint}/txn/$mixed?op=setPublished",
        decision.toJSON.collect().mkString("\n").getBytes("UTF-8"))._1 == 200)
      val (cm, bm) = commit(mixed,
        s"upsertDocuments\t${doc.schema.json}\nsetPublished\t${decision.schema.json}")
      assert(cm == 500, s"$cm $bm")
      assert(inner.read("documents").isEmpty, "a mixed commit must apply nothing")

      // a malformed commit (bad schema body) surfaces as a thrown failure
      val bad = intercept[RuntimeException] {
        val (c3, b3) = commit(java.util.UUID.randomUUID().toString, "appendFailures\tnot-a-schema")
        if (c3 != 200) throw new RuntimeException(s"HTTP $c3 $b3")
      }
      assert(bad.getMessage.contains("500"))

      server.stop()
      // writes against a dead server throw (batch fails un-committed →
      // streaming redelivery replays, the trait's failure contract)
      intercept[Exception] {
        http.appendFailures(Seq(("m2", "E2", true)).toDF("msg_id", "error", "terminal"))
      }
    } finally server.stop()
  }
}
