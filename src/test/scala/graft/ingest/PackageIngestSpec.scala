package graft.ingest

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.store.LocalStore

/** End-to-end golden-package run — the engine's equivalent of the
  * reference's `tests/test_handler.py` (full pipeline over real
  * tarballs), asserting on output TABLES instead of log transcripts:
  * documents / identifiers / properties / notifications / assets and the
  * publish decision, for both the happy path (TDR-2022-DNWR) and the
  * error package (TDR-2025-CN7V → parser-log fallback). */
class PackageIngestSpec extends SparkSpec {

  private val fixtures = Paths.get("/root/reference/aws_examples/s3/te-editorial-out-int")

  private def pkg(ref: String, originator: String, file: String): RawPackage =
    RawPackage(ref, originator, s"$ref.tar.gz", Files.readAllBytes(fixtures.resolve(file)))

  /** A judgment package built in the spec (metadata with `cite` and
    * `auto_publish`, the XML, parser.log), for the act-phase rules that
    * need no reference tarball. */
  private def judgmentPkg(ref: String, originator: String, cite: String,
      autoPublish: Boolean = false): RawPackage = {
    val metadata =
      s"""{"parameters": {"TRE": {"reference": "$ref", "payload": {
         |  "filename": null, "xml": "$ref.xml", "metadata": "$ref-metadata.json",
         |  "images": [], "log": "parser.log"}},
         |  "PARSER": {"uri": null, "cite": "$cite"},
         |  "INGESTER_OPTIONS": {"auto_publish": $autoPublish}}}""".stripMargin
    RawPackage(ref, originator, s"$ref.tar.gz", graft.tar.TarOps.packStrings(Seq(
      s"$ref/$ref-metadata.json" -> metadata,
      s"$ref/$ref.xml" -> s"<akomaNtoso><judgment>body of $ref</judgment></akomaNtoso>",
      s"$ref/parser.log" -> "ok")))
  }

  test("golden TDR package: full gather+act, all store tables") {
    assume(Files.exists(fixtures), "reference fixtures not present")
    val storeDir = Files.createTempDirectory("graft-pkg-store").toString
    val store = LocalStore(spark, storeDir)

    val outcome = PackageIngest.ingest(spark,
      Seq(pkg("TDR-2022-DNWR", "TDR", "TDR-2022-DNWR.tar.gz")), store).collect()

    assert(outcome.length == 1)
    val row = outcome.head
    assert(row.getAs[String]("error") == null)
    assert(row.getAs[String]("doc_type") == "judgment") // akomaNtoso→judgment
    assert(row.getAs[Boolean]("exists_in_db") == false)
    assert(row.getAs[Boolean]("will_publish") == false) // TDR never auto-publishes
    val uri = row.getAs[String]("uri")
    assert(uri.startsWith("d-")) // empty identifier store → surrogate

    // W1: document inserted with the TDR-new annotation
    val doc = store.documents.collect().head
    assert(doc.getAs[String]("uri") == uri)
    assert(doc.getAs[String]("upload_state") == "inserted")
    assert(doc.getAs[String]("annotation_message") == "New document submitted by TDR user")
    assert(doc.getAs[String]("xml").contains("akomaNtoso"))

    // W2: the NCN identifier row ([2022] EWCA Civ 111 per the metadata),
    // plus the document's own URI slug (the J1 substrate)
    val ids = store.read("identifiers").get.collect()
    val ncnIds = ids.filter(_.getAs[String]("id_kind") == "value")
    assert(ncnIds.length == 1)
    assert(ncnIds.head.getAs[String]("id_value") == "[2022] EWCA Civ 111")
    assert(ncnIds.head.getAs[String]("id_type") == "ukncn")
    assert(ids.exists(r => r.getAs[String]("id_kind") == "slug" &&
      r.getAs[String]("id_value") == uri))

    // P3: the version-annotation payload carries the raw metadata, the
    // lambda context, and the TDR reference + submitter (ingester.py:76-97)
    val payload = doc.getAs[String]("annotation_payload")
    assert(payload.contains("\"tre_raw_metadata\": {"))
    assert(payload.contains("\"aws_request_id\": \"graft-local-request\""))
    assert(payload.contains("\"tdr_reference\": \"TDR-2021-CF6L\""))
    assert(payload.contains("\"submitter\": {\"name\": \"Tom King\", \"email\": \"someone@example.com\"}"))
    assert(!doc.getAs[Boolean]("is_published")) // TDR never publishes

    // W3: the exact 5 TDR property keys (test_metadata_storage.py:29-52)
    val props = store.read("properties").get.collect()
      .map(r => r.getAs[String]("name") -> r.getAs[String]("value")).toMap
    assert(props == Map(
      "source-organisation" -> "Ministry of Justice",
      "source-name" -> "Tom King",
      "source-email" -> "someone@example.com",
      "transfer-consignment-reference" -> "TDR-2021-CF6L",
      "transfer-received-at" -> "2021-12-16T14:54:06Z"))

    // W9: TDR + new → 'new' notification
    val notes = store.read("notifications").get.collect()
    assert(notes.map(_.getAs[String]("action")).toSeq == Seq("new"))

    // W5–W8: tarball (docx present → unmodified name), source doc with
    // preserved extension, parser.log, both images from the metadata
    val assets = store.read("assets").get.collect()
      .map(r => r.getAs[String]("asset_type") -> r.getAs[String]("dest_filename")).toSet
    assert(assets == Set(
      "tarball" -> "TDR-2022-DNWR.tar.gz",
      "source" -> s"${uri.replace("/", "_")}.docx",
      "parser_log" -> "parser.log",
      "image" -> "image1.png",
      "image" -> "R-1456368-1295322787.jpeg.jpg"))

    // ...and the copies are PERFORMED, not just planned: every asset row's
    // bytes landed at <assetRoot>/<uri>/<dest> and equal the tar
    // member's bytes (tarball row = the whole original archive) —
    // file_helpers.py:36-73, ingester.py:361-418
    val archive = Files.readAllBytes(fixtures.resolve("TDR-2022-DNWR.tar.gz"))
    val members = graft.tar.TarOps.explode(archive)
    store.read("assets").get.collect().foreach { r =>
      val dest = Paths.get(s"${store.assetRoot}/$uri/${r.getAs[String]("dest_filename")}")
      assert(Files.exists(dest), s"asset bytes not written: $dest")
      val expected = Option(r.getAs[String]("src_member")) match {
        case None => archive
        case Some(m) => members.find(_.name == m).get.bytes
      }
      assert(java.util.Arrays.equals(Files.readAllBytes(dest), expected),
        s"asset bytes differ from member bytes: $dest")
    }
  }

  test("golden error package (null xml): parser-log fallback → parserLog doc") {
    assume(Files.exists(fixtures), "reference fixtures not present")
    val storeDir = Files.createTempDirectory("graft-err-store").toString
    val store = LocalStore(spark, storeDir)

    val outcome = PackageIngest.ingest(spark,
      Seq(pkg("TDR-2025-CN7V", "TDR", "TDR-2025-CN7V.tar.gz")), store).collect()

    assert(outcome.length == 1)
    assert(outcome.head.getAs[String]("error") == null)
    assert(outcome.head.getAs[String]("doc_type") == "parserLog") // <error> root

    val doc = store.documents.collect().head
    assert(doc.getAs[String]("xml").startsWith("<error>"))
    // no TDR section in the error metadata → FCL annotation wording
    assert(doc.getAs[String]("annotation_message") == "New document uploaded by Find Case Law")

    // parserLog has no identifier class → no NCN identifier rows (the
    // document's own URI slug row is store plumbing, not a W2 identifier)
    assert(store.read("identifiers").get.collect()
      .count(_.getAs[String]("id_kind") == "value") == 0)

    // no TDR section → no property rows
    assert(store.read("properties").isEmpty ||
      store.read("properties").get.count() == 0)

    // the error package still carries a failures docx → tarball keeps its
    // name and the source copy happens (metadata filename is non-null)
    val assets = store.read("assets").get.collect()
      .map(r => r.getAs[String]("asset_type") -> r.getAs[String]("dest_filename")).toSet
    assert(assets.contains("tarball" -> "TDR-2025-CN7V.tar.gz"))
    assert(assets.exists(a => a._1 == "source" && a._2.endsWith(".docx")))
  }

  test("golden press-summary package classifies as pressSummary with summary identifier") {
    assume(Files.exists(fixtures), "reference fixtures not present")
    val storeDir = Files.createTempDirectory("graft-ps-store").toString
    val store = LocalStore(spark, storeDir)

    val outcome = PackageIngest.ingest(spark,
      Seq(pkg("TDR-2023-2M3", "TDR", "press-summary.tar.gz")), store).collect().head
    assert(outcome.getAs[String]("error") == null)
    assert(outcome.getAs[String]("doc_type") == "pressSummary")

    // this press summary's metadata has cite=null → no NCN identifier row
    // (the W2 routing to ukncn-summary for cite-bearing press summaries is
    // oracle-checked by q30/q48); only the URI slug row lands
    val ids = store.read("identifiers").get.collect()
    assert(ids.count(_.getAs[String]("id_kind") == "value") == 0)
    assert(ids.exists(_.getAs[String]("id_kind") == "slug"))
  }

  test("golden bulk package (test3): INGESTER_OPTIONS auto_publish → publish, no email") {
    assume(Files.exists(fixtures), "reference fixtures not present")
    val storeDir = Files.createTempDirectory("graft-bulk-store").toString
    val store = LocalStore(spark, storeDir)

    val outcome = PackageIngest.ingest(spark,
      Seq(pkg("BULK-0", "FCL S3", "test3.tar.gz")), store).collect().head
    assert(outcome.getAs[String]("error") == null)
    assert(outcome.getAs[String]("doc_type") == "judgment")
    assert(outcome.getAs[Boolean]("will_publish") == true) // FCL S3 + auto_publish

    // W10 effect: the publish decision is realized in the store
    assert(store.documents.collect().head.getAs[Boolean]("is_published"))

    // auto-publishing bulk ingest sends NO email (ingester.py:447-448)
    assert(store.read("notifications").isEmpty ||
      store.read("notifications").get.count() == 0)
    // no TDR section in bulk metadata → no TDR property rows
    assert(store.read("properties").isEmpty ||
      store.read("properties").get.count() == 0)
  }

  test("legacy package without '-metadata.json' member → FileNotFoundException error") {
    assume(Files.exists(fixtures), "reference fixtures not present")
    // ewca_civ_2021_1881.tar.gz names its metadata 'metadata.json', which
    // the reference's substring match ('-metadata.json') does NOT find
    val raw = pkg("ewca_civ_2021_1881", "FCL", "ewca_civ_2021_1881.tar.gz")
    val gathered = PackageIngest.gather(raw)
    assert(gathered.error != null && gathered.error.startsWith("FileNotFoundException"))
    // ... and the pipeline surfaces it as a failed outcome row (W11
    // per-record isolation), writing nothing to the store
    val storeDir = Files.createTempDirectory("graft-legacy-store").toString
    val store = LocalStore(spark, storeDir)
    val outcome = PackageIngest.ingest(spark, Seq(raw), store).collect()
    assert(outcome.length == 1)
    assert(outcome.head.getAs[String]("error").startsWith("FileNotFoundException"))
    assert(outcome.head.getAs[String]("uri") == null)
    assert(store.documents.count() == 0)
  }

  test("S4: S3-dialect package rewrites consignment_ref from TRE metadata; member paths keep old stem") {
    assume(Files.exists(fixtures), "reference fixtures not present")
    val storeDir = Files.createTempDirectory("graft-s4-store").toString
    val store = LocalStore(spark, storeDir)

    // CN7V's tar folder is 'TDR-2025-CN7V' (the message-level stem) but its
    // metadata says TRE.reference = 'TRE-TDR-2025-CN7V' — delivered as a
    // bulk/S3 message, the reference is rewritten AFTER metadata extraction
    // (ingester.py:204-206, messages.py:92-93; test_handler.py:189)
    val outcome = PackageIngest.ingest(spark,
      Seq(pkg("TDR-2025-CN7V", "FCL S3", "TDR-2025-CN7V.tar.gz")), store).collect().head
    assert(outcome.getAs[String]("error") == null)
    assert(outcome.getAs[String]("consignment_ref") == "TRE-TDR-2025-CN7V")

    // ...but the tar member SOURCE paths are keyed by the OLD stem — the
    // ordering trap of SURVEY §7.5 (the tar's folder predates the rewrite)
    val srcMembers = store.read("assets").get.collect()
      .flatMap(r => Option(r.getAs[String]("src_member")))
    assert(srcMembers.nonEmpty)
    assert(srcMembers.forall(_.startsWith("TDR-2025-CN7V/")))

    // the bulk (non-auto-publish) notification carries the NEW reference
    val notes = store.read("notifications").get.collect()
    assert(notes.map(_.getAs[String]("action")).toSeq == Seq("bulk"))
    assert(notes.head.getAs[String]("payload") == "TRE-TDR-2025-CN7V")

    // V2 counter-case: the same file delivered as TDR keeps its reference
    val store2 = LocalStore(spark, Files.createTempDirectory("graft-s4b-store").toString)
    val o2 = PackageIngest.ingest(spark,
      Seq(pkg("TDR-2025-CN7V", "TDR", "TDR-2025-CN7V.tar.gz")), store2).collect().head
    assert(o2.getAs[String]("consignment_ref") == "TDR-2025-CN7V")
  }

  test("W10 lifecycle: bulk auto-publish → FCL reparse keeps published → TDR update unpublishes") {
    assume(Files.exists(fixtures), "reference fixtures not present")
    val storeDir = Files.createTempDirectory("graft-pub-store").toString
    val store = LocalStore(spark, storeDir)

    // 1. bulk auto-publish: published
    val o1 = PackageIngest.ingest(spark,
      Seq(pkg("BULK-0", "FCL S3", "test3.tar.gz")), store).collect().head
    assert(o1.getAs[Boolean]("will_publish"))
    val uri = o1.getAs[String]("uri")
    assert(store.documents.collect().head.getAs[Boolean]("is_published"))

    // 2. FCL reparse of the same document: exists && published → stays
    //    published (ingester.py:435-439 — the api_client.get_published
    //    consultation the store's is_published flag now backs)
    val o2 = PackageIngest.ingest(spark,
      Seq(pkg("BULK-0", "FCL", "test3.tar.gz")), store).collect().head
    assert(o2.getAs[String]("uri") == uri) // NCN resolution
    assert(o2.getAs[Boolean]("exists_in_db"))
    assert(o2.getAs[Boolean]("will_publish")) // consults stored publish state
    assert(store.documents.collect().head.getAs[Boolean]("is_published"))

    // 3. TDR update of the same document: TDR never publishes → the act
    //    phase's closing unpublish flips the flag (ingester.py:571-573)
    val o3 = PackageIngest.ingest(spark,
      Seq(pkg("BULK-0", "TDR", "test3.tar.gz")), store).collect().head
    assert(o3.getAs[String]("uri") == uri)
    assert(!o3.getAs[Boolean]("will_publish"))
    val doc = store.documents.collect().head
    assert(!doc.getAs[Boolean]("is_published"))
    assert(doc.getAs[Int]("version") == 3)
  }

  test("W10 guard: error-log package over a published document fails terminally, store untouched") {
    val storeDir = Files.createTempDirectory("graft-guard-store").toString
    val store = LocalStore(spark, storeDir)

    // publish a document via the bulk path
    val bulk = judgmentPkg("BULK-0", "FCL S3", "[2024] EWHC 40 (KB)", autoPublish = true)
    val o1 = PackageIngest.ingest(spark, Seq(bulk), store).collect().head
    val uri = o1.getAs[String]("uri")
    assert(store.documents.collect().head.getAs[Boolean]("is_published"))
    val xmlBefore = store.documents.collect().head.getAs[String]("xml")

    // synthesize an error-log package (no xml, parser.log fallback) whose
    // parser URI points at the published document — a failed reparse
    val metadata =
      s"""{"parameters": {"TRE": {"reference": "TRE-GUARD-1", "payload": {
         |  "filename": null, "xml": null, "metadata": "TRE-GUARD-1-metadata.json",
         |  "images": [], "log": "parser.log"}},
         |  "PARSER": {"uri": "https://caselaw.nationalarchives.gov.uk/id/$uri", "cite": null}}}""".stripMargin
    val errPkg = RawPackage("GUARD-1", "FCL",
      "GUARD-1.tar.gz", graft.tar.TarOps.packStrings(Seq(
        "GUARD-1/TRE-GUARD-1-metadata.json" -> metadata,
        "GUARD-1/parser.log" -> "parse failed")))

    val o2 = PackageIngest.ingest(spark, Seq(errPkg), store).collect().head
    assert(o2.getAs[String]("doc_type") == "parserLog")
    assert(o2.getAs[String]("error") == "ErrorLogWouldOverwritePublishedDocument")

    // ...and NO effect ran: same xml, version 1, still published
    val doc = store.documents.collect().head
    assert(doc.getAs[String]("xml") == xmlBefore)
    assert(doc.getAs[Int]("version") == 1)
    assert(doc.getAs[Boolean]("is_published"))

    // counter-case: unpublish first (TDR update), then the same error-log
    // package lands as a normal parserLog update
    PackageIngest.ingest(spark, Seq(bulk.copy(originator = "TDR")), store)
    val o3 = PackageIngest.ingest(spark, Seq(errPkg), store).collect().head
    assert(o3.getAs[String]("error") == null)
    assert(store.documents.collect().head.getAs[Int]("version") == 3)
  }

  test("W10 cannot-publish: auto-publish error-log package ingests but fails to publish") {
    val store = LocalStore(spark, Files.createTempDirectory("graft-cp-store").toString)

    // a bulk error-log package whose INGESTER_OPTIONS demand auto-publish:
    // the write effects run, then publish() raises (parserLog documents
    // are unpublishable) — CannotPublishException AFTER the effects
    // (ingester.py:565-570, tests/test_ingester.py:18-19)
    val metadata =
      """{"parameters": {"TRE": {"reference": "TRE-CP-1", "payload": {
        |  "filename": null, "xml": null, "metadata": "TRE-CP-1-metadata.json",
        |  "images": [], "log": "parser.log"}},
        |  "INGESTER_OPTIONS": {"auto_publish": true}}}""".stripMargin
    val pkgCp = RawPackage("CP-1", "FCL S3", "CP-1.tar.gz",
      graft.tar.TarOps.packStrings(Seq(
        "CP-1/TRE-CP-1-metadata.json" -> metadata,
        "CP-1/parser.log" -> "parse failed")))

    val o = PackageIngest.ingest(spark, Seq(pkgCp), store).collect().head
    assert(o.getAs[String]("doc_type") == "parserLog")
    assert(o.getAs[Boolean]("will_publish")) // the decision said publish...
    assert(o.getAs[String]("error") == "CannotPublishException") // ...the effect refused

    val doc = store.documents.collect().head
    assert(doc.getAs[Int]("version") == 1) // write effects DID run
    assert(!doc.getAs[Boolean]("is_published")) // publish failed, no unpublish either
  }

  test("unknown originator fails with RuntimeError before any effect runs") {
    val store = LocalStore(spark, Files.createTempDirectory("graft-orig-store").toString)

    // send_email and will_publish both raise on an unrecognized originator
    // (ingester.py:440,457) — the outcome must carry the error, not a
    // silent null will_publish, and the store must stay untouched
    val o = PackageIngest.ingest(spark,
      Seq(judgmentPkg("REF-O", "MYSTERY", "[2024] EWHC 41 (KB)")), store).collect().head
    assert(o.getAs[String]("error") != null &&
      o.getAs[String]("error").startsWith("RuntimeError"))
    assert(o.isNullAt(o.fieldIndex("will_publish")))
    assert(store.documents.count() == 0)
    assert(store.read("notifications").isEmpty ||
      store.read("notifications").get.count() == 0)

    // a NULL originator (malformed message) must hit the same guard —
    // three-valued logic on `isin` alone would let it slip through
    val store2 = LocalStore(spark, Files.createTempDirectory("graft-orig2-store").toString)
    val o2 = PackageIngest.ingest(spark,
      Seq(judgmentPkg("REF-O", null, "[2024] EWHC 41 (KB)")), store2).collect().head
    assert(o2.getAs[String]("error") != null &&
      o2.getAs[String]("error").startsWith("RuntimeError"))
    assert(store2.documents.count() == 0)
  }

  test("W9 delivery gate: delivered=true only in prod and only for new/updated actions") {
    assume(Files.exists(fixtures), "reference fixtures not present")

    // prod TDR new → decision recorded AND delivered
    val s1 = LocalStore(spark, Files.createTempDirectory("graft-del1-store").toString)
    PackageIngest.ingest(spark, Seq(pkg("TDR-2022-DNWR", "TDR", "TDR-2022-DNWR.tar.gz")), s1)
    val n1 = s1.read("notifications").get.collect().head
    assert(n1.getAs[String]("action") == "new" && n1.getAs[Boolean]("delivered"))

    // non-prod TDR new → decision recorded, NOT delivered (the ROLLBAR_ENV
    // log-instead-of-send gate, ingester.py:290-295,308-310)
    val s2 = LocalStore(spark, Files.createTempDirectory("graft-del2-store").toString)
    PackageIngest.ingest(spark, Seq(pkg("TDR-2022-DNWR", "TDR", "TDR-2022-DNWR.tar.gz")),
      s2, environment = "staging")
    val n2 = s2.read("notifications").get.collect().head
    assert(n2.getAs[String]("action") == "new" && !n2.getAs[Boolean]("delivered"))

    // prod bulk (non-auto-publish FCL S3) → the sender is an explicit no-op
    // (ingester.py:323-325): decision recorded, never delivered
    val s3 = LocalStore(spark, Files.createTempDirectory("graft-del3-store").toString)
    PackageIngest.ingest(spark, Seq(pkg("TDR-2025-CN7V", "FCL S3", "TDR-2025-CN7V.tar.gz")), s3)
    val n3 = s3.read("notifications").get.collect().head
    assert(n3.getAs[String]("action") == "bulk" && !n3.getAs[Boolean]("delivered"))
  }

  test("re-ingest with identifier present resolves to same uri (update path)") {
    assume(Files.exists(fixtures), "reference fixtures not present")
    val storeDir = Files.createTempDirectory("graft-reingest-store").toString
    val store = LocalStore(spark, storeDir)

    val p = Seq(pkg("TDR-2022-DNWR", "TDR", "TDR-2022-DNWR.tar.gz"))
    val first = PackageIngest.ingest(spark, p, store).collect().head
    val uri1 = first.getAs[String]("uri")

    // second delivery: the NCN identifier now exists → J2 resolves to the
    // same document, annotation flips to 'updated', version bumps
    val second = PackageIngest.ingest(spark, p, store).collect().head
    assert(second.getAs[String]("uri") == uri1)
    assert(second.getAs[Boolean]("exists_in_db") == true)

    val doc = store.documents.collect().head
    assert(doc.getAs[Int]("version") == 2)
    assert(doc.getAs[String]("upload_state") == "updated")
    assert(doc.getAs[String]("annotation_message") == "Updated document submitted by TDR user")
  }

  test("duplicate deliveries with differing bytes: asset copy picks a deterministic winner") {
    // one batch, two packages with the same (consignment_ref, tar_name)
    // but DIFFERENT archive bytes — without a winner rule, both write the
    // same <uri>/<dest> path and the surviving bytes are whichever task
    // commits last. The winner is max md5(archive), independent of input
    // order; verified by running both orderings.
    def mk(body: String): RawPackage = {
      val metadata =
        """{"parameters": {"TRE": {"reference": "TRE-DUP-1", "payload": {
          |  "filename": null, "xml": "doc.xml", "metadata": "TRE-DUP-1-metadata.json",
          |  "images": [], "log": "parser.log"}}}}""".stripMargin
      RawPackage("DUP-1", "FCL", "DUP-1.tar.gz", graft.tar.TarOps.packStrings(Seq(
        "DUP-1/TRE-DUP-1-metadata.json" -> metadata,
        "DUP-1/doc.xml" -> body,
        "DUP-1/parser.log" -> "ok")))
    }
    val a = mk("<judgment>alpha</judgment>")
    val b = mk("<judgment>beta</judgment>")
    def md5hex(x: Array[Byte]) = java.security.MessageDigest.getInstance("MD5")
      .digest(x).map(c => f"$c%02x").mkString
    val winner = if (md5hex(a.archive) >= md5hex(b.archive)) a else b
    for (order <- Seq(Seq(a, b), Seq(b, a))) {
      val store = LocalStore(spark, Files.createTempDirectory("graft-dup-store").toString)
      PackageIngest.ingest(spark, order, store)
      val uri = store.documents.collect().head.getAs[String]("uri")
      val tarDest = Paths.get(s"${store.assetRoot}/$uri/DUP-1_nodocx.tar.gz")
      assert(Files.exists(tarDest))
      assert(java.util.Arrays.equals(Files.readAllBytes(tarDest), winner.archive),
        "tarball asset bytes must come from the deterministic winner package")

      // asset bytes go through the raw local FS, so no `.crc` sibling
      // exists to go stale when the same key is overwritten: a redelivery
      // of the winner rewrites every asset, and a CHECKSUMMED read of the
      // result still verifies
      def crcFiles(): List[String] = {
        import scala.jdk.CollectionConverters._
        val s = Files.walk(Paths.get(store.assetRoot))
        try s.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".crc")).toList
        finally s.close()
      }
      def fileKey() = Files.readAttributes(tarDest,
        classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
      assert(crcFiles().isEmpty, "asset copies must not leave checksum siblings")
      val firstCopy = fileKey()
      PackageIngest.ingest(spark, Seq(winner), store)
      assert(fileKey() != firstCopy, "the redelivery must rewrite the tarball (tmp + rename)")
      assert(crcFiles().isEmpty, "an asset overwrite must not leave checksum siblings")
      val checked = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      val in = checked.open(new org.apache.hadoop.fs.Path(tarDest.toString))
      val reread = try in.readAllBytes() finally in.close()
      assert(java.util.Arrays.equals(reread, winner.archive),
        "the overwritten tarball must read back through the checksummed FS as the winner's bytes")
    }
  }

  test("gather: in-memory and spilled walks agree on an adversarial member order") {
    // the two lookup contracts, under every order that can split them:
    //   - findMember (metadata, xml, gather's parser.log): LAST substring match;
    //   - resolveAsset (parked asset members): exact name FIRST, else the
    //     last substring match.
    val metadata =
      """{"parameters": {"TRE": {"reference": "TRE-R", "payload": {
        |  "filename": "doc.docx", "xml": "doc.xml", "metadata": "TRE-R-metadata.json",
        |  "images": ["image1.png"], "log": "parser.log"}}}}""".stripMargin
    val archive = graft.tar.TarOps.packStrings(Seq(
      "R/stale-metadata.json" -> """{"parameters": {}}""",
      "R/parser.log" -> "log exact",
      "R/old/R/image1.png" -> "image by substring", // before the exact name
      "R/image1.png" -> "image exact",
      "R/doc.docx" -> "docx first",                 // a duplicated name
      "R/doc.xml" -> "<a>first xml</a>",
      "R/TRE-R-metadata.json" -> metadata,          // the second -metadata.json
      "R/doc.docx" -> "docx second",
      "R/copy/doc.xml" -> "<a>last xml</a>",
      "R/x/R/parser.log" -> "log by substring"))
    val spill = Files.createTempFile("graft-gather-spill", ".tar.gz")
    Files.write(spill, archive)

    def parked(digest: String): Map[String, String] =
      try graft.tar.MemberCache.get(digest).get.map { case (k, v) => k -> new String(v, "UTF-8") }
      finally graft.tar.MemberCache.remove(digest)
    val inMemory = PackageIngest.gather(RawPackage("R", "TDR", "R.tar.gz", archive, null, "d-mem"))
    val inMemoryParked = parked("d-mem")
    val spilled = PackageIngest.gather(
      RawPackage("R", "TDR", "R.tar.gz", null, spill.toString, "d-spill"))
    val spilledParked = parked("d-spill")
    Files.delete(spill)

    assert(inMemory == spilled)
    assert(inMemoryParked == spilledParked)
    assert(inMemory.error == null)
    assert(inMemory.metadata_json == metadata)
    assert(inMemory.xml_content == "<a>last xml</a>")
    assert(inMemory.parser_log == "log by substring")
    assert(inMemory.member_names.length == 10)
    assert(inMemoryParked == Map(
      "R/parser.log" -> "log exact",
      "R/doc.docx" -> "docx first",
      "R/image1.png" -> "image exact"))
  }
}
