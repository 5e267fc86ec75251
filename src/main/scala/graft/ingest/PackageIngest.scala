package graft.ingest

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import graft.model.IngestError
import graft.store.DocumentStore
import graft.tar.{PackageTooLargeException, TarMember, TarOps}
import graft.metrics.Observe
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** One raw package awaiting ingest (post-download, pre-gather).
  *
  * EXACTLY one of `archive` (in-memory bytes — the common path) or
  * `archive_path` (an executor-local spill file for archives above the
  * streaming fetch's in-memory threshold — the reference's save-to-/tmp
  * analogue, `messages.py:59-69`) is set. Both flow through the same
  * gather/act phases and the same bounded member walk
  * ([[graft.tar.MemberReader]]); a spilled archive is never on heap, only
  * the members its walks keep. The path is only meaningful on the
  * executor that fetched it; [[graft.streaming.IngestStream]] documents
  * the locality contract. */
final case class RawPackage(
    consignment_ref: String,
    originator: String,
    tar_name: String,
    archive: Array[Byte],
    archive_path: String = null,
    digest: String = null)

/** Per-package gather output: everything `Ingest.__init__` extracts
  * (`/root/reference/src/ds_caselaw_ingester/ingester.py:178-210`). */
final case class GatheredPackage(
    consignment_ref: String,
    originator: String,
    tar_name: String,
    metadata_json: String,
    xml_name: String,
    xml_content: String,
    parser_log: String,
    source_filename: String,
    source_filename_present: Boolean,
    member_names: Seq[String],
    error: String)

/** The full gather phase (SURVEY.md O1 = S5–S9 + P2/P6/P8) over real
  * archive bytes: each package is read by bounded walks in a JVM kernel
  * (member lookups per `file_helpers.py:24-33,76-115`), then the typed
  * decisions — metadata decode, best-XML fallback, doc-type classify,
  * facet projection — run as columns. Narrow end to end: at 100 TB the
  * archive scan never shuffles; only the small gathered projection moves
  * on to resolution and the act phase.
  *
  * `PackageIngestSpec` drives the reference's golden packages through
  * this end-to-end (the `tests/test_handler.py` equivalent, with
  * output-table assertions instead of log transcripts).
  */
object PackageIngest {

  /** JVM-side gather kernel for one package: look up the metadata / xml
    * / parser.log members, record docx presence (the missing-key-vs-null
    * distinction of `file_helpers.py:118-124`), AND park the asset members
    * the act phase's byte-copy pass will need ([[graft.tar.MemberCache]],
    * keyed by [[RawPackage.digest]]) — the reference re-walks the tar per
    * lookup instead (`file_helpers.py:27,79,87`).
    *
    * One code path; its only fork is what the first walk keeps. An
    * in-memory archive keeps every member, so it is decompressed once. A
    * spilled archive ([[RawPackage.archive_path]]) keeps metadata and
    * parser.log, then a second walk keeps the members the metadata-named
    * XML and the asset needles can match, so heap holds those members and
    * never the archive. A walk past [[graft.tar.TarOps]]' bounds fails
    * the package terminally as `PackageTooLargeException`. */
  def gather(p: RawPackage): GatheredPackage = {
    def failed(err: String, names: Seq[String] = Seq.empty) = GatheredPackage(
      p.consignment_ref, p.originator, p.tar_name, null, null, null, null, null,
      source_filename_present = false, names, err)
    def text(m: TarMember) = new String(m.bytes, UTF_8)
    // the act phase copies the tarball to `<assetRoot>/<uri>/<tar_name>`,
    // and a V2 message's reference names it verbatim: a name that could
    // leave that directory fails the package like an unsafe image name
    if (!safeAssetName(p.tar_name)) return failed(IngestError.UnsafeAssetName.name)
    val spilled = p.archive_path != null
    def walk(keep: String => Boolean): Either[String, (Seq[String], Seq[TarMember])] =
      try Right(walkArchive(p.archive, p.archive_path)(keep))
      catch {
        case _: PackageTooLargeException => Left(IngestError.PackageTooLarge.name)
        case e: Exception => Left(s"InvalidXMLException: unreadable archive: ${e.getMessage}")
      }

    val (names, first) =
      walk(n => !spilled || n.contains("-metadata.json") || n.contains("parser.log")) match {
        case Left(err) => return failed(err)
        case Right(walked) => walked
      }
    val metadataJson = TarOps.findMember(first, "-metadata.json") match {
      case None => return failed("FileNotFoundException: metadata file not found", names)
      case Some(m) => text(m)
    }
    // one parse serves every payload lookup; metadata that is not JSON
    // fails this package alone, retryable as the reference's unexpected
    // `json.loads` error is
    val payload = try Seq("parameters", "TRE", "payload")
        .foldLeft(metadataMapper.readTree(metadataJson))((n, k) => if (n == null) null else n.get(k))
      catch {
        case e: com.fasterxml.jackson.core.JsonProcessingException =>
          val at = Option(e.getLocation).fold("")(l => s": line ${l.getLineNr} column ${l.getColumnNr}")
          return failed(s"JSONDecodeError: ${e.getOriginalMessage}$at", names)
      }
    // outer Option = key present; inner = non-null value
    def field(k: String) = Option(payload).filter(_.has(k)).map(_.get(k))
      .map(v => if (v.isNull) None else Some(v.asText()))
    val xmlName = field("xml").flatten
    val fname = field("filename")
    val images = Option(payload).flatMap(p => Option(p.get("images"))).filter(_.isArray)
      .fold(Seq.empty[String])(_.elements().asScala.filter(!_.isNull).map(_.asText()).toSeq)
    // each image name becomes the asset destination
    // `<assetRoot>/<uri>/<name>` in the act phase, where Hadoop `Path`
    // resolves `..`: a name that could leave that directory fails the
    // package here, before any member is resolved or byte written
    if (!images.forall(safeAssetName)) return failed(IngestError.UnsafeAssetName.name, names)
    // the asset plan's src_member needles, derived HERE exactly as the
    // act phase derives them (original_ref prefix — the tar's internal
    // folder predates the S4 rewrite): parser.log, the source doc, and
    // each image. Parked under the package digest for the byte-copy pass.
    val assetNeedles: Seq[String] =
      if (p.digest == null) Seq.empty
      else Seq(s"${p.consignment_ref}/parser.log") ++
        fname.flatten.map(f => s"${p.consignment_ref}/$f") ++
        images.map(i => s"${p.consignment_ref}/$i")
    val needles = (xmlName.toSeq ++ assetNeedles).filter(_.nonEmpty)
    val members =
      if (!spilled || needles.isEmpty) first
      else walk(n => needles.exists(nd => n.contains(nd))) match {
        case Left(err) => return failed(err, names)
        case Right((_, kept)) => kept
      }
    if (p.digest != null) graft.tar.MemberCache.put(p.digest,
      assetNeedles.flatMap(nd => resolveAsset(members, nd).map(m => nd -> m.bytes)).toMap)
    GatheredPackage(
      p.consignment_ref, p.originator, p.tar_name,
      metadataJson,
      xmlName.orNull,
      xmlName.flatMap(TarOps.findMember(members, _)).map(text).orNull,
      TarOps.findMember(first, "parser.log").map(text).orNull,
      fname.flatten.orNull,
      source_filename_present = fname.isDefined,
      names, null)
  }

  /** A package-supplied asset name that stays strictly inside its
    * document's asset directory: not absolute, and no empty, `.` or `..`
    * segment and no control character. */
  private[ingest] def safeAssetName(name: String): Boolean =
    !name.startsWith("/") && !name.exists(Character.isISOControl) &&
      name.split("/", -1).forall(seg => seg.nonEmpty && seg != "." && seg != "..")

  /** [[safeAssetName]] over a resolved uri column (null passes: only an
    * errored row has no uri). */
  private val safeUri = udf((uri: String) => uri == null || safeAssetName(uri))

  /** The asset pass's member lookup contract: exact name first, then the
    * reference's last-substring match — shared by the gather-side cache
    * population and the byte-copy miss path so they can never diverge. */
  private def resolveAsset(members: Seq[TarMember], needle: String): Option[TarMember] =
    members.find(_.name == needle).orElse(TarOps.findMember(members, needle))

  /** One bounded walk ([[graft.tar.TarOps.select]]) of a package's archive,
    * in memory or spilled. */
  private def walkArchive(archive: Array[Byte], path: String)(keep: String => Boolean) =
    if (path != null) TarOps.select(new java.io.FileInputStream(path), new java.io.File(path).length)(keep)
    else TarOps.select(new java.io.ByteArrayInputStream(archive), archive.length)(keep)

  /** Streamed md5 of an executor-local spill file — the spilled analogue
    * of `md5(archive)` for the duplicate-delivery winner key. A Scala UDF
    * is right here: the built-in `md5` needs the bytes IN the row, which
    * is exactly what spilling exists to avoid; cost is one local-disk
    * pass per package, not per row. */
  private val fileMd5 = udf((path: String) =>
    if (path == null) null
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      val in = new java.io.FileInputStream(path)
      try {
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n >= 0) { if (n > 0) md.update(buf, 0, n); n = in.read(buf) }
      } finally in.close()
      md.digest().map("%02x".format(_)).mkString
    })

  /** Metadata parser (jackson ships with Spark); thread-safe once built. */
  private val metadataMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Gathered packages as a DataFrame with the column-level decisions
    * applied: metadata decode (`MetadataSchema`), best-XML fallback,
    * doc-type classification, facet projection.
    *
    * Driver-side convenience overload for small batches (specs, the
    * Lambda-sized unit of the reference); the Dataset form below is the
    * scale path — archives never leave their executors. */
  def gatherAll(spark: SparkSession, packages: Seq[RawPackage]): DataFrame = {
    import spark.implicits._
    gatherAllDs(spark, spark.createDataset(packages))
  }

  /** Distributed gather: the per-package kernel runs as a narrow `map` on
    * whichever executor holds the archive bytes (e.g. straight off a
    * `binaryFile` scan — [[graft.tar.PackageSource]]); only the gathered
    * projection (strings, not archives) flows on. */
  def gatherAllDs(spark: SparkSession, packages: org.apache.spark.sql.Dataset[RawPackage]): DataFrame = {
    import spark.implicits._
    XmlOps.register(spark)
    val df = packages.map(gather).toDF()
    val meta = from_json(col("metadata_json"), MetadataSchema.root)
    df.select(
        col("consignment_ref"), col("originator"), col("tar_name"),
        col("member_names"), col("error"), col("metadata_json"),
        col("source_filename"), col("source_filename_present"),
        meta.getField("parameters").as("params"),
        XmlOps.bestXml(col("xml_content"), col("parser_log")).as("best_xml"))
      .withColumn("doc_type", XmlOps.docType(col("best_xml")))
      .withColumn("is_tdr", col("params.TDR").isNotNull)
      .withColumn("trimmed_uri", ScalarOps.trimmedUri(col("params.PARSER.uri")))
      .withColumn("ncn", col("params.PARSER.cite"))
      .withColumn("auto_publish", coalesce(col("params.INGESTER_OPTIONS.auto_publish"), lit(false)))
      .withColumn("tre_reference", col("params.TRE.reference"))
      // S4: S3-dialect messages take their consignment reference from
      // `parameters.TRE.reference` AFTER metadata extraction
      // (messages.py:92-93 via ingester.py:204-206); V2 messages ignore the
      // in-metadata reference. The member lookups in gather() above already
      // ran with the ORIGINAL stem — the ordering trap SURVEY §7.5 pins:
      // tar paths keep the old reference, downstream consumers see the new.
      .withColumn("original_ref", col("consignment_ref"))
      .withColumn("consignment_ref",
        when(col("originator") === "FCL S3" && col("tre_reference").isNotNull,
          col("tre_reference")).otherwise(col("consignment_ref")))
  }

  /** The act phase (O2) for gathered packages: resolve URIs against the
    * store's identifiers, then the reference's ordered effects
    * (`perform_ingest`, ingester.py:542-575). Returns the per-package
    * outcome table (uri, exists, will_publish, error). */
  def ingest(spark: SparkSession, packages: Seq[RawPackage], store: DocumentStore,
      requestId: String = "graft-local-request", environment: String = "prod"): DataFrame = {
    import spark.implicits._
    ingestDs(spark, spark.createDataset(packages), store, requestId, environment)
  }

  /** Distributed act phase over a package Dataset (the 100 TB shape:
    * `binaryFile` scan → gather map → broadcast resolution → effects).
    *
    * `environment` is the reference's `ROLLBAR_ENV` email gate: outside
    * prod, email decisions are recorded but `delivered=false` (the
    * reference logs instead of sending, `ingester.py:290-295,308-310`). */
  def ingestDs(spark: SparkSession, packages: org.apache.spark.sql.Dataset[RawPackage],
      store: DocumentStore, requestId: String = "graft-local-request",
      environment: String = "prod"): DataFrame =
    ingestOutcome(spark, packages, store, requestId, environment).rows

  /** The act phase's pinned outcome table and its observed count of failed
    * packages (`error` set), read off the outcome checkpoint itself — a
    * caller branches on it without running a job. */
  final case class Outcome(rows: DataFrame, failed: Long)

  /** [[ingestDs]] with the outcome's failure count. `observeOutcome` adds
    * a caller's own observed metrics to the outcome checkpoint, so a
    * per-round report rides an action the round already runs. */
  def ingestOutcome(spark: SparkSession, packages: org.apache.spark.sql.Dataset[RawPackage],
      store: DocumentStore, requestId: String = "graft-local-request",
      environment: String = "prod",
      observeOutcome: DataFrame => DataFrame = identity): Outcome = {
    import spark.implicits._
    // A batch carrying duplicate deliveries of the same (ref, tar_name)
    // with DIFFERING bytes picks ONE winner per key — max archive digest —
    // BEFORE gather, so the stored document, its publish flag, and every
    // asset byte definitionally come from the same package (one shared
    // winner key; previously the asset pass picked by digest while the
    // document MERGE picked by xml). Only the small (ref, tar, digest)
    // projection shuffles; archives stay put and the winner set broadcasts
    // back. Byte-identical redeliveries share a digest and both rows
    // survive — benign duplicate effects, as before. A digest already
    // computed at fetch time (the streaming path reads every byte anyway)
    // is reused; only digest-less packages (spec-constructed batches) pay
    // the md5 pass here.
    val keyed = packages.toDF().withColumn("pkg_digest",
      coalesce(col("digest"),
        when(col("archive").isNotNull, md5(col("archive")))
          .otherwise(fileMd5(col("archive_path")))))
    val dupWinners = keyed.select("consignment_ref", "tar_name", "pkg_digest")
      .groupBy("consignment_ref", "tar_name").agg(max("pkg_digest").as("pkg_digest"))
    // the winner digest rides ON as RawPackage.digest: it keys the gather
    // kernel's single-pass asset handoff (MemberCache) for the byte-copy
    // pass below
    val deduped = keyed
      .join(broadcast(dupWinners), Seq("consignment_ref", "tar_name", "pkg_digest"))
      .withColumn("digest", col("pkg_digest"))
      .drop("pkg_digest").as[RawPackage]
    // eager checkpoint: THREE consumers read the gathered projection (the
    // resolution lineage, the failed-gather outcome rows, and — through
    // `resolved` — every effect frame); without the pin the gather map
    // (one tar decompression per package) re-runs per consumer. Its
    // observed OK count decides whether the act phase runs at all.
    val gatheredObs = Observation("graft.ingest.gathered")
    val gathered = gatherAllDs(spark, deduped)
      .observe(gatheredObs, Observe.countIf(col("error").isNull).as("n_ok"))
      .localCheckpoint(true)

    // 7. outcome (O2/W11): gather failures stay in the outcome with their
    //    error (per-record isolation — a broken package reports, others
    //    proceed). localCheckpoint pins the outcome: the lineage reads
    //    store tables this very method just mutated, so a lazy
    //    re-execution after unpersist would resolve against post-effect
    //    state. `original_ref` (the pre-S4 message-level reference) rides
    //    into the outcome so a streaming caller can join failures back to
    //    the message ids it decoded them from — the S4 rewrite makes
    //    `consignment_ref` unjoinable for S3-dialect packages.
    def pin(rows: DataFrame): Outcome = {
      val obs = Observation("graft.ingest.outcome")
      val pinned = observeOutcome(rows)
        .observe(obs, Observe.countIf(col("error").isNotNull).as("n_failed"))
        .localCheckpoint(true)
      Outcome(pinned, Observe.counts(obs)("n_failed"))
    }
    val failedGather = gathered.filter(col("error").isNotNull)
      .select(col("consignment_ref"), col("original_ref"),
        lit(null).cast("string").as("uri"),
        col("doc_type"), lit(null).cast("boolean").as("exists_in_db"),
        lit(null).cast("boolean").as("will_publish"), col("error"))
    try {
      // nothing gathered cleanly (a corrupt or member-less archive):
      // nothing to resolve or act on, so neither snapshot read nor an
      // empty effect round runs
      if (Observe.counts(gatheredObs)("n_ok") == 0) pin(failedGather)
      else act(spark, deduped, gathered, store, requestId, environment)(
        resolvedRows => pin(resolvedRows.unionByName(failedGather)))
    } finally gathered.unpersist()
  }

  /** Resolution and the ordered effects for a gather with at least one OK
    * package; `finish` pins the outcome (see [[ingestOutcome]]) from the
    * resolved packages' rows while their checkpoint is still held. */
  private def act(spark: SparkSession, deduped: org.apache.spark.sql.Dataset[RawPackage],
      gathered: DataFrame, store: DocumentStore, requestId: String, environment: String)(
      finish: DataFrame => Outcome): Outcome = {
    import spark.implicits._
    // pre-effect publish state (W10): the reference consults
    // `api_client.get_published` for FCL reparse packages
    // (ingester.py:435-439); the guard below needs it too. The broadcast
    // hint (like Resolution's) assumes the store dimension fits the 64 MB
    // threshold — true for this store at any caselaw-like cardinality; a
    // store past that would drop the hint and shuffle-join on uri.
    // Both snapshot reads take only the store's shared read side, so they
    // run concurrently.
    val docsRead = java.util.concurrent.CompletableFuture.supplyAsync(() => store.documents)
    val identifiers = store.read("identifiers").getOrElse {
      Seq.empty[(String, String, String, Option[String])]
        .toDF("document_uri", "id_kind", "id_value", "id_type")
    }
    val pubDim = (try docsRead.join()
      catch { case e: java.util.concurrent.CompletionException => throw e.getCause })
      .select(col("uri").as("pub_uri"), col("is_published"))

    // eager localCheckpoint (not cache): step 2 below mutates the very
    // identifiers table this lineage reads, and cache() is best-effort —
    // an eviction would silently recompute resolution against post-append
    // store state mid-effect-sequence
    val resolved = Resolution.resolve(
        gathered.filter(col("error").isNull), identifiers)
      .join(broadcast(pubDim), col("uri") === col("pub_uri"), "left")
      .withColumn("published", coalesce(col("is_published"), lit(false)))
      .drop("pub_uri", "is_published")
      // the asset copies write under `<assetRoot>/<uri>/`, where Hadoop
      // `Path` resolves `..`: a resolved uri (an identifier row's
      // document_uri) that could leave the asset root fails the package
      // like an unsafe image name
      .withColumn("error", when(col("error").isNull && !safeUri(col("uri")),
        lit(IngestError.UnsafeAssetName.name)).otherwise(col("error")))
      // the W10 guard and the unknown-originator guard fail a package
      // before any effect runs
      .withColumn("error", when(col("error").isNull &&
          IngestQueries.errorLogOverPublished(col("doc_type"), col("exists_in_db"), col("published")),
        lit(IngestError.ErrorLogWouldOverwritePublishedDocument.name)).otherwise(col("error")))
      .withColumn("error", IngestQueries.originatorGuard(col("error"), col("originator")))
      .localCheckpoint(true)

    try {
      val ok = resolved.filter(col("error").isNull)

      // W10 decision columns (used by effects 1 and 6): every successful
      // ingest ends by either publishing or unpublishing its document
      // (ingester.py:565-575); the FCL-reparse branch consults the
      // PRE-batch published state joined into `resolved` above. A publish
      // that raises CannotPublishException does so AFTER the write effects
      // ran (ingester.py:568-570), and its null decision leaves the stored
      // flag untouched.
      val willPublish = IngestQueries.willPublish(col("originator"), col("auto_publish"),
        col("exists_in_db"), col("published"))

      // 1. document MERGE (W1/J4) with the full P3 version-annotation
      //    payload (ingester.py:76-97). The publish/unpublish effect (W10,
      //    the reference's effect #7) is FOLDED into this same head-table
      //    write — every decision reads pre-batch state, so one rewrite
      //    realizes the same post-batch state as MERGE-then-setPublished
      //    (see LocalStore.upsertDocuments), halving store-rewrite volume.
      val docFrame = (ok.select(
        col("uri"), col("best_xml").as("xml"), col("doc_type"),
        IngestQueries.annotationMessage(col("is_tdr"), col("exists_in_db")).as("annotation_message"),
        ScalarOps.versionPayload(col("metadata_json"), col("is_tdr"),
          col("params.TDR")("Internal-Sender-Identifier"),
          col("params.TDR")("Contact-Name"), col("params.TDR")("Contact-Email"),
          lit(requestId)).as("annotation_payload"),
        col("auto_publish").as("automated"),
        IngestQueries.uploadState(col("exists_in_db")).as("upload_state"),
        IngestQueries.publishDecision(willPublish, col("doc_type")).as("will_publish")))

      // 2. identifiers (W2): judgments/press summaries with an NCN, plus
      //    each document's own URI as a slug row — the J1 substrate
      //    MarkLogic provides implicitly (a document is addressable by its
      //    URI slug), which lets a parser-URI reparse find its document
      val slugRows = ok.select(col("uri").as("document_uri"), lit("slug").as("id_kind"),
        col("uri").as("id_value"), lit(null).cast("string").as("id_type"))
      val idFrame = Resolution.ncnRows(ok).unionByName(slugRows)

      // 3. notifications (W9): `delivered` records whether the reference's
      //    sender would actually send — false outside prod (the ROLLBAR_ENV
      //    log-instead-of-send gate, ingester.py:290-295,308-310) and false
      //    for `bulk` (send_bulk_judgment_notification is an explicit no-op,
      //    ingester.py:323-325); the decision row is kept either way
      val notifFrame = (ok
        .withColumn("action",
          IngestQueries.emailAction(col("originator"), col("auto_publish"), col("exists_in_db")))
        .filter(col("action").isNotNull && col("action") =!= "none")
        .select(col("uri"), col("action"), col("consignment_ref").as("payload"),
          IngestQueries.emailDelivered(col("action"), lit(environment == "prod")).as("delivered")))

      // 4. properties (W3/W4)
      val propFrame = IngestQueries.propertyRows(ok.select(
        col("uri"), col("is_tdr"),
        col("params.TDR")("Source-Organization").as("tdr_source_organization"),
        col("params.TDR")("Contact-Name").as("tdr_contact_name"),
        col("params.TDR")("Contact-Email").as("tdr_contact_email"),
        col("params.TDR")("Internal-Sender-Identifier").as("tdr_internal_sender_identifier"),
        col("params.TDR")("Consignment-Completed-Datetime").as("tdr_consignment_completed_datetime"),
        col("params.PARSER.parser_run_id").as("parser_run_id")))

      // 5. asset copies (W5–W8): the plan q35 checks. `original_ref` and
      //    `tar_name` ride along as the join key back to the archive bytes
      //    for the byte-copy pass below; the stored plan table drops them.
      val assetPlan = IngestQueries.assetPlan(
        ok.select(col("uri"), col("original_ref"), col("tar_name"), col("source_filename"),
          exists(col("member_names"), n => n.contains("parser.log")).as("has_parser_log"),
          col("params.TRE.payload.images").as("images")),
        col("original_ref"), col("tar_name"))

      // Steps 1–5 apply as ONE overlapped effect round: five disjoint
      // tables, every decision derived from the pre-batch state pinned in
      // `resolved`, so order among them is immaterial (EffectBatch's
      // contract) — the round's wall is max(table op), not the Σ that was
      // 49% of ingest wall. The asset BYTE copies (a filesystem job,
      // touching no store table) overlap the same round. A crash
      // mid-round is the trait's documented redelivery exposure.
      val byteCopy = java.util.concurrent.CompletableFuture.runAsync(() =>
        copyAssetBytes(spark, deduped, assetPlan, store.assetRoot))
      try {
        store.applyEffects(graft.store.EffectBatch(
          documents = Some(docFrame),
          identifiers = Some(idFrame),
          notifications = Some(notifFrame),
          properties = Some(propFrame),
          assets = Some(assetPlan.drop("original_ref", "tar_name"))))
        byteCopy.join()
      } catch {
        // byte-copy failure on an otherwise-clean round: surface its cause
        case e: java.util.concurrent.CompletionException => throw e.getCause
        // store-round failure is the PRIMARY the error taxonomy must see;
        // a byte-copy failure that also happened must not replace it (the
        // old rethrow-from-finally did exactly that) — it rides along as
        // a suppressed exception instead
        case primary: Throwable =>
          try byteCopy.join()
          catch {
            case e: java.util.concurrent.CompletionException =>
              primary.addSuppressed(e.getCause)
          }
          throw primary
      }

      // 6. publish/unpublish effect (W10): folded into the step-1 write
      //    (see above) — kept as its own numbered slot to mirror the
      //    reference's effect order; `setPublished` remains the standalone
      //    form for callers outside a full act phase.

      // 7. outcome: see [[ingestOutcome]]
      finish(resolved.select(
          col("consignment_ref"), col("original_ref"), col("uri"), col("doc_type"),
          col("exists_in_db"),
          when(col("error").isNull, willPublish).as("will_publish"),
          when(col("error").isNull && IngestQueries.cannotPublish(willPublish, col("doc_type")),
            lit(IngestError.CannotPublish.name)).otherwise(col("error")).as("error")))
    } finally resolved.unpersist() // dropped once the outcome is pinned
  }

  /** W5–W8 byte writes: perform the asset plan against the archive bytes
    * (`file_helpers.py:36-73` `copy_file`/`store_file`,
    * `ingester.py:361-418` `save_files_to_s3`). The small plan is
    * BROADCAST to the executors holding the packages, so archive bytes
    * never shuffle — one extra narrow pass over the `binaryFile` scan.
    *
    * A null `src_member` copies the whole archive (the tarball row). A
    * member row takes the bytes gather parked in [[graft.tar.MemberCache]];
    * only a cache miss walks the archive again, keeping the members whose
    * name contains the needle, and resolves through the same contract as
    * gather (exact name first, then the reference's substring match —
    * `tarfile.extractfile` is exact; [[graft.tar.TarOps.findMember]]
    * mirrors the lookup helpers).
    * parser.log rows only exist when the member does (the plan's filter =
    * the reference's `suppress(FileNotFoundException)`); a source/image
    * row whose member vanished is skipped rather than raising — the
    * reference would raise `FileNotFoundException` mid-effects
    * (`file_helpers.py:54-55`), which the outcome table already models at
    * gather/resolve time for every reachable case. */
  private def copyAssetBytes(spark: SparkSession,
      packages: org.apache.spark.sql.Dataset[RawPackage],
      plan: DataFrame, assetRoot: String): Unit = {
    val specs = plan.select(
      col("original_ref").as("p_ref"), col("tar_name").as("p_tar"),
      col("uri"), col("dest_filename"), col("src_member"))
    // `packages` arrives pre-deduped by ingestDs's digest winner, so every
    // (ref, tar_name) key carries exactly one byte-version — remaining
    // multi-writes are byte-identical redeliveries and benign.
    val joined = packages.toDF()
      .join(broadcast(specs),
        col("consignment_ref") === col("p_ref") && col("tar_name") === col("p_tar"))
      .select(col("consignment_ref"), col("tar_name"), col("archive"), col("archive_path"),
        col("digest"), col("uri"), col("dest_filename"), col("src_member"))
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    joined.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      var sweptParent: String = null
      var prevDigest: String = null
      rows.foreach { r =>
        val archive = r.getAs[Array[Byte]]("archive")
        val spillPath = r.getAs[String]("archive_path")
        val digest = r.getAs[String]("digest")
        // a package's rows arrive consecutively (the broadcast join is
        // narrow): once the key moves on, its gather-parked members are
        // done — release them so steady-state cache occupancy is
        // in-flight packages, not the batch
        if (prevDigest != null && prevDigest != digest)
          graft.tar.MemberCache.remove(prevDigest)
        prevDigest = digest
        // a payload writer, not a byte array: spilled tarball copies
        // stream disk→FS without ever materializing the archive on heap
        val payload: Option[java.io.OutputStream => Unit] = r.getAs[String]("src_member") match {
          case null if spillPath != null =>
            Some { out =>
              val in = new java.io.FileInputStream(spillPath)
              try in.transferTo(out) finally in.close()
            }
          case null => Some(out => out.write(archive))
          case m =>
            Option(digest).flatMap(graft.tar.MemberCache.get).flatMap(_.get(m))
              .orElse(resolveAsset(
                walkArchive(archive, spillPath)(_.contains(m))._2, m).map(_.bytes))
              .map(bytes => (out: java.io.OutputStream) => out.write(bytes))
        }
        payload.foreach { writeTo =>
          val dest = new org.apache.hadoop.fs.Path(
            s"$assetRoot/${r.getAs[String]("uri")}/${r.getAs[String]("dest_filename")}")
          // asset bytes skip the checksummed local wrapper: LocalFileSystem
          // doubles every small-file op with a .crc sibling (create + two
          // renames per asset — measured as a material slice of the byte
          // copy's 32-core wall at bench scale). Durability here comes
          // from the tmp+rename commit, not Hadoop CRCs; on a real object
          // store (s3a/HDFS) this match is a no-op.
          val fs = dest.getFileSystem(conf.value) match {
            case l: org.apache.hadoop.fs.LocalFileSystem => l.getRawFileSystem
            case other => other
          }
          // commit via tmp + rename: on local/HDFS a crashed create() leaves
          // a PARTIAL dest visible to readers; staging leaves either the old
          // bytes, nothing (redelivery heals), or the new bytes — never a
          // torn file. (On s3a the close() is a single atomic PUT anyway;
          // the rename commit stays correct, just redundant there.)
          // The staging name carries the task attempt id: a speculative or
          // retried attempt must not truncate the original attempt's open
          // stream (identical bytes make whichever attempt commits last
          // benign). Hadoop rename reports failure by RETURNING false —
          // ignoring it would turn a failed commit into silent asset loss.
          val attemptId = Option(org.apache.spark.TaskContext.get())
            .map(_.taskAttemptId()).getOrElse(0L)
          // best-effort sweep of staging files a DEAD attempt left between
          // create(tmp) and rename — they would otherwise sit in the asset
          // directory forever, visible to directory-listing consumers. A
          // live speculative attempt whose tmp we delete fails its rename
          // and retries; listStatus (not glob) so URI-reserved chars in
          // dest names never act as glob metacharacters. One sweep per
          // PARENT, not per row: a package's asset rows share the uri
          // directory and arrive consecutively (the member-cache
          // ordering), so the one-deep parent memo removes 3 of every 4
          // listStatus round-trips — and the per-dest name filter below
          // is widened to the whole directory's ".inprogress-" leftovers,
          // which is exactly the set the per-row sweep would have
          // collected across the package's rows anyway.
          val parent = dest.getParent.toString
          if (sweptParent != parent) {
            sweptParent = parent
            try fs.listStatus(dest.getParent)
              .filter(_.getPath.getName.contains(".inprogress-"))
              .foreach(s => fs.delete(s.getPath, false))
            catch { case _: java.io.IOException => () }
          }
          val tmp = new org.apache.hadoop.fs.Path(s"$dest.inprogress-$attemptId")
          val out = fs.create(tmp, true)
          try writeTo(out) finally out.close()
          fs.delete(dest, false) // no-op when absent
          if (!fs.rename(tmp, dest))
            throw new java.io.IOException(s"asset commit failed: rename $tmp -> $dest")
        }
      }
      // release the partition's last package too
      if (prevDigest != null) graft.tar.MemberCache.remove(prevDigest)
    }
  }
}
