package graft.ingest

import graft.sql.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ingest decision surface as oracle-checked queries (SURVEY.md P1–P8,
  * J4, W3–W10): scalar transforms, publish/email routing matrices, version
  * annotation + property-store projection, and the asset-copy plan. Each
  * query derives its inputs deterministically from `documents` so the
  * DuckDB oracle can enumerate the same truth table — over the decision
  * functions the act phase ([[PackageIngest]]) itself calls.
  *
  * Everything here is a narrow per-row projection (scan-stage, codegen'd,
  * shuffle-free except the presentation sort) — at 100 TB these decisions
  * ride along with the package scan for free.
  */
object IngestQueries {

  private val NoDocx = "_nodocx" // the tarball's rename without a source doc

  // ---------------------------------------------------------------- q31
  /** P1/P5/P2/P7 scalar pack over a derived truth table: bool parsing
    * (both defaults + warn flag), filename surgery, URI trimming,
    * extension normalization, URI flattening. */
  private val BoolInputs: Seq[Option[String]] = Seq(
    None, Some(""), Some("y"), Some("yes"), Some("TRUE "), Some(" 1"), Some("on"),
    Some("n"), Some("NO"), Some("false"), Some("0"), Some(" off"), Some("maybe"), Some("2"))

  def q31ScalarPack(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents.select(col("doc_id"))
    val id = col("doc_id").cast("string")

    val boolIn = BoolInputs.zipWithIndex.foldRight(lit(null).cast("string")) {
      case ((v, i), rest) =>
        when(col("doc_id") % BoolInputs.size === i, v.map(lit).getOrElse(lit(null))).otherwise(rest)
    }
    val filename = when(col("doc_id") % 4 === 0, concat(lit("TRE-"), id, lit(".tar.gz")))
      .when(col("doc_id") % 4 === 1, concat(lit("/a/b/c"), id, lit(".d.e")))
      .when(col("doc_id") % 4 === 2, lit(""))
      .otherwise(concat(lit("noext"), id))
    val sourceName = concat(lit("file"), id,
      when(col("doc_id") % 2 === 0, lit(".PDF")).otherwise(lit(".docx")))
    val rawUri = when(col("doc_id") % 3 === 0, lit(""))
      .otherwise(concat(lit("https://caselaw.nationalarchives.gov.uk/id/uksc/"), id))

    d.select(
        col("doc_id"),
        boolIn.as("bool_in"),
        ScalarOps.parseBool(boolIn, default = false).as("bool_default_false"),
        ScalarOps.parseBool(boolIn, default = true).as("bool_default_true"),
        ScalarOps.parseBoolWarn(boolIn).as("bool_warn"),
        ScalarOps.modifyFilename(filename, NoDocx).as("nodocx_filename"),
        ScalarOps.trimmedUri(rawUri).as("trimmed_uri"),
        ScalarOps.extension(sourceName).as("ext"),
        ScalarOps.flatUri(concat(lit("ew/ca/2024/"), id)).as("flat_uri"))
      .orderBy(col("doc_id"))
  }

  val q31Sql: String = {
    val boolCase = BoolInputs.zipWithIndex.map { case (v, i) =>
      s"WHEN doc_id % ${BoolInputs.size} = $i THEN ${v.map(s => s"'$s'").getOrElse("NULL")}"
    }.mkString("CASE ", " ", " END")
    val parse = (dflt: Boolean) =>
      s"""CASE WHEN bool_in IS NULL OR bool_in = '' THEN $dflt
         |    WHEN lower(trim(bool_in)) IN ('y','yes','true','1','on') THEN true
         |    WHEN lower(trim(bool_in)) IN ('n','no','false','0','off') THEN false
         |    ELSE $dflt END""".stripMargin
    s"""WITH g AS (
       |  SELECT doc_id, $boolCase AS bool_in,
       |    CASE WHEN doc_id % 4 = 0 THEN 'TRE-' || doc_id || '.tar.gz'
       |         WHEN doc_id % 4 = 1 THEN '/a/b/c' || doc_id || '.d.e'
       |         WHEN doc_id % 4 = 2 THEN ''
       |         ELSE 'noext' || doc_id END AS filename,
       |    'file' || doc_id || (CASE WHEN doc_id % 2 = 0 THEN '.PDF' ELSE '.docx' END) AS source_name,
       |    CASE WHEN doc_id % 3 = 0 THEN ''
       |         ELSE 'https://caselaw.nationalarchives.gov.uk/id/uksc/' || doc_id END AS raw_uri
       |  FROM documents)
       |SELECT doc_id, bool_in,
       |  ${parse(false)} AS bool_default_false,
       |  ${parse(true)} AS bool_default_true,
       |  (bool_in IS NOT NULL AND bool_in != ''
       |   AND lower(trim(bool_in)) NOT IN ('y','yes','true','1','on','n','no','false','0','off'))
       |    AS bool_warn,
       |  regexp_extract(filename, '^(.*/)', 1)
       |    || regexp_extract(string_split(filename, '/')[-1], '^([^.]*)', 1)
       |    || '_nodocx'
       |    || substr(string_split(filename, '/')[-1],
       |         length(regexp_extract(string_split(filename, '/')[-1], '^([^.]*)', 1)) + 1)
       |    AS nodocx_filename,
       |  CASE WHEN raw_uri IS NULL OR raw_uri = '' THEN NULL
       |       ELSE regexp_replace(raw_uri, '^https://caselaw\\.nationalarchives\\.gov\\.uk/id/', '')
       |       END AS trimmed_uri,
       |  lower(string_split(source_name, '.')[-1]) AS ext,
       |  replace('ew/ca/2024/' || doc_id, '/', '_') AS flat_uri
       |FROM g ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q32
  /** W9/W10 + J4: publish decision, email routing, annotation message,
    * upload state — the reference's originator matrices
    * (`ingester.py:424-457`, pinned `tests/test_main.py:133-158` and
    * `tests/test_notifications.py:169-216`) and the insert-vs-update
    * annotation matrix (`ingester.py:226-247,459-483`). */
  def willPublish(originator: Column, autoPublish: Column, exists: Column, published: Column): Column =
    when(originator === "TDR", lit(false))
      .when(originator === "FCL S3", autoPublish)
      .when(originator === "FCL", exists && published)
      .otherwise(lit(null))

  def emailAction(originator: Column, autoPublish: Column, exists: Column): Column =
    when(originator === "FCL", lit("none"))
      .when(originator === "FCL S3", when(autoPublish, lit("none")).otherwise(lit("bulk")))
      .when(originator === "TDR", when(exists, lit("updated")).otherwise(lit("new")))
      .otherwise(lit(null))

  /** J4 upload state: an update when the uri resolved to a stored
    * document, an insert otherwise (`ingester.py:459-483`). */
  def uploadState(exists: Column): Column =
    when(exists, lit("updated")).otherwise(lit("inserted"))

  /** `send_email` and `will_publish` both raise RuntimeError on an
    * unrecognized originator (ingester.py:440,457): that error unless
    * `error` is already set. A NULL originator needs the isNull arm, as
    * `!isin(...)` alone is NULL and would fall through the `when`. */
  def originatorGuard(error: Column, originator: Column): Column =
    when(error.isNull && (originator.isNull || !originator.isin("TDR", "FCL", "FCL S3")),
      concat(lit("RuntimeError: Didn't recognise originator "), coalesce(originator, lit("null"))))
      .otherwise(error)

  /** W10 guard before any effect (exceptions.py:26): an error-log package
    * must not overwrite a published document. */
  def errorLogOverPublished(docType: Column, exists: Column, published: Column): Column =
    docType === "parserLog" && exists && published

  /** W10 guard after the write effects (ingester.py:568-570): publishing
    * raises; the engine models parserLog documents as unpublishable. */
  def cannotPublish(willPublish: Column, docType: Column): Column =
    willPublish && docType === "parserLog"

  /** The decision the document MERGE folds as `coalesce(decision, flag)`:
    * null for a publish that raises (publish failed, unpublish not run). */
  def publishDecision(willPublish: Column, docType: Column): Column =
    when(cannotPublish(willPublish, docType), lit(null).cast("boolean")).otherwise(willPublish)

  def annotationMessage(isTdr: Column, exists: Column): Column =
    when(isTdr && exists, lit("Updated document submitted by TDR user"))
      .when(isTdr && !exists, lit("New document submitted by TDR user"))
      .when(!isTdr && exists, lit("Updated document uploaded by Find Case Law"))
      .otherwise(lit("New document uploaded by Find Case Law"))

  /** W9 delivery gate: an email is actually SENT only in prod
    * (`ROLLBAR_ENV`, ingester.py:290-295,308-310 — non-prod logs the
    * personalisation and returns) and only for the TDR new/updated
    * actions (`send_bulk_judgment_notification` is an explicit no-op,
    * ingester.py:323-325; `none` sends nothing by definition). */
  def emailDelivered(action: Column, isProd: Column): Column =
    isProd && action.isin("new", "updated")

  def q32RoutingMatrix(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents.select(col("doc_id"))
    val originator = when(col("doc_id") % 4 === 0, lit("TDR"))
      .when(col("doc_id") % 4 === 1, lit("FCL S3"))
      .when(col("doc_id") % 4 === 2, lit("FCL"))
      .otherwise(lit("MYSTERY"))
    val ap = (col("doc_id") / 4).cast("long") % 2 === 1
    val exists = (col("doc_id") / 8).cast("long") % 2 === 1
    val published = (col("doc_id") / 16).cast("long") % 2 === 1
    val isTdr = (col("doc_id") / 32).cast("long") % 2 === 1
    val isProd = (col("doc_id") / 64).cast("long") % 2 === 1
    val action = emailAction(originator, ap, exists)

    d.select(
        col("doc_id"),
        originator.as("originator"),
        ap.as("auto_publish"),
        exists.as("exists_in_db"),
        published.as("currently_published"),
        isTdr.as("is_tdr"),
        isProd.as("is_prod"),
        willPublish(originator, ap, exists, published).as("will_publish"),
        action.as("email_action"),
        emailDelivered(action, isProd).as("email_delivered"),
        annotationMessage(isTdr, exists).as("annotation_message"),
        uploadState(exists).as("upload_state"),
        when(originator === "MYSTERY", lit("RuntimeError")).otherwise(lit(null)).as("error"))
      .orderBy(col("doc_id"))
  }

  val q32Sql: String =
    """WITH g AS (
      |  SELECT doc_id,
      |    CASE doc_id % 4 WHEN 0 THEN 'TDR' WHEN 1 THEN 'FCL S3' WHEN 2 THEN 'FCL'
      |         ELSE 'MYSTERY' END AS originator,
      |    (doc_id // 4) % 2 = 1 AS auto_publish,
      |    (doc_id // 8) % 2 = 1 AS exists_in_db,
      |    (doc_id // 16) % 2 = 1 AS currently_published,
      |    (doc_id // 32) % 2 = 1 AS is_tdr,
      |    (doc_id // 64) % 2 = 1 AS is_prod
      |  FROM documents),
      |a AS (
      |  SELECT *,
      |    CASE WHEN originator = 'FCL' THEN 'none'
      |         WHEN originator = 'FCL S3' THEN (CASE WHEN auto_publish THEN 'none' ELSE 'bulk' END)
      |         WHEN originator = 'TDR' THEN (CASE WHEN exists_in_db THEN 'updated' ELSE 'new' END)
      |         END AS email_action
      |  FROM g)
      |SELECT doc_id, originator, auto_publish, exists_in_db, currently_published, is_tdr, is_prod,
      |  CASE WHEN originator = 'TDR' THEN false
      |       WHEN originator = 'FCL S3' THEN auto_publish
      |       WHEN originator = 'FCL' THEN exists_in_db AND currently_published
      |       END AS will_publish,
      |  email_action,
      |  is_prod AND email_action IN ('new', 'updated') AS email_delivered,
      |  CASE WHEN is_tdr AND exists_in_db THEN 'Updated document submitted by TDR user'
      |       WHEN is_tdr THEN 'New document submitted by TDR user'
      |       WHEN exists_in_db THEN 'Updated document uploaded by Find Case Law'
      |       ELSE 'New document uploaded by Find Case Law' END AS annotation_message,
      |  CASE WHEN exists_in_db THEN 'updated' ELSE 'inserted' END AS upload_state,
      |  CASE WHEN originator = 'MYSTERY' THEN 'RuntimeError' END AS error
      |FROM a ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q33
  /** W3/W4: property-store projection — wide TDR/parser metadata to long
    * (uri, name, value) rows: 5 TDR keys when the TDR section is present
    * (`ingester.py:327-348`, exact key set pinned by
    * `tests/test_metadata_storage.py:29-52`) + `parser-run-id` when the
    * parser reported one (`ingester.py:350-359`). */
  def propertyRows(df: DataFrame): DataFrame = {
    val props = array(
      struct(lit("source-organisation").as("name"), col("tdr_source_organization").as("value")),
      struct(lit("source-name").as("name"), col("tdr_contact_name").as("value")),
      struct(lit("source-email").as("name"), col("tdr_contact_email").as("value")),
      struct(lit("transfer-consignment-reference").as("name"), col("tdr_internal_sender_identifier").as("value")),
      struct(lit("transfer-received-at").as("name"), col("tdr_consignment_completed_datetime").as("value")))
    val tdrRows = df.filter(col("is_tdr"))
      .select(col("uri"), explode(props).as("p"))
      .select(col("uri"), col("p.name").as("name"), col("p.value").as("value"))
    val parserRows = df.filter(col("parser_run_id").isNotNull)
      .select(col("uri"), lit("parser-run-id").as("name"), col("parser_run_id").as("value"))
    tdrRows.union(parserRows)
  }

  def q33PropertyStore(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents.select(col("doc_id"))
    val id = col("doc_id").cast("string")
    val wide = d.select(
      col("doc_id"),
      concat(lit("doc/"), id).as("uri"),
      (col("doc_id") % 2 === 0).as("is_tdr"),
      concat(lit("Org "), id).as("tdr_source_organization"),
      concat(lit("Contact "), id).as("tdr_contact_name"),
      concat(lit("user"), id, lit("@example.com")).as("tdr_contact_email"),
      concat(lit("TDR-2021-"), id).as("tdr_internal_sender_identifier"),
      lit("2021-12-16T14:54:06Z").as("tdr_consignment_completed_datetime"),
      when(col("doc_id") % 3 === 0, concat(lit("run-"), id)).otherwise(lit(null))
        .as("parser_run_id"))
    propertyRows(wide).orderBy(col("uri"), col("name"))
  }

  val q33Sql: String =
    """WITH g AS (
      |  SELECT doc_id, 'doc/' || doc_id AS uri, doc_id % 2 = 0 AS is_tdr,
      |    CASE WHEN doc_id % 3 = 0 THEN 'run-' || doc_id END AS parser_run_id
      |  FROM documents),
      |p AS (
      |  SELECT uri, 'source-organisation' AS name, 'Org ' || doc_id AS value FROM g WHERE is_tdr
      |  UNION ALL
      |  SELECT uri, 'source-name', 'Contact ' || doc_id FROM g WHERE is_tdr
      |  UNION ALL
      |  SELECT uri, 'source-email', 'user' || doc_id || '@example.com' FROM g WHERE is_tdr
      |  UNION ALL
      |  SELECT uri, 'transfer-consignment-reference', 'TDR-2021-' || doc_id FROM g WHERE is_tdr
      |  UNION ALL
      |  SELECT uri, 'transfer-received-at', '2021-12-16T14:54:06Z' FROM g WHERE is_tdr
      |  UNION ALL
      |  SELECT uri, 'parser-run-id', parser_run_id FROM g WHERE parser_run_id IS NOT NULL)
      |SELECT uri, name, value FROM p ORDER BY uri, name""".stripMargin

  // ---------------------------------------------------------------- q34
  /** P3/P4: email personalisation incl. the exact
    * `json.dumps(..., indent=2)`-with-nulls `update_metadata` golden
    * string (`ingester.py:100-125`; goldens in
    * `tests/test_notifications.py:14,33-40`). */
  def q34EmailPersonalisation(spark: SparkSession, dir: String): DataFrame = {
    import ScalarOps._
    val d = Tables(spark, dir).documents.select(col("doc_id"))
    val id = col("doc_id").cast("string")
    val isTdr = col("doc_id") % 2 === 0
    val uri = concat(lit("doc/"), id)

    // TDR section fields; several deliberately absent (null) to pin the
    // null-vs-"unknown" handling on both render paths.
    val contactName = when(isTdr && col("doc_id") % 5 =!= 0, concat(lit("Contact "), id)).otherwise(lit(null))
    val org = when(isTdr, concat(lit("Org "), id)).otherwise(lit(null))
    val email = when(isTdr && col("doc_id") % 7 =!= 0, concat(lit("user"), id, lit("@example.com"))).otherwise(lit(null))
    val sender = when(isTdr, concat(lit("TDR-2021-"), id)).otherwise(lit(null))
    val completed = when(isTdr, lit("2021-12-16T14:54:06Z")).otherwise(lit(null))
    val judgmentUpdate = when(isTdr && col("doc_id") % 3 === 0,
        when(col("doc_id") % 6 === 0, lit("true")).otherwise(lit("false")))
      .otherwise(lit(null)) // raw JSON bool token
    val updateType = when(isTdr && col("doc_id") % 3 === 0, lit("judgment")).otherwise(lit(null))

    val updateMetadata = concat(
      lit("{\n"),
      concat_ws(",\n",
        concat(lit("  "), prettyJsonLineRaw("Judgment-Update", judgmentUpdate)),
        concat(lit("  "), prettyJsonLine("Judgment-Update-Type", updateType)),
        concat(lit("  "), prettyJsonLine("Judgment-Update-Details", lit(null))),
        concat(lit("  "), prettyJsonLine("Judgment-Neutral-Citation", lit(null))),
        concat(lit("  "), prettyJsonLine("Judgment-No-Neutral-Citation", lit(null))),
        concat(lit("  "), prettyJsonLine("Judgment-Reference", lit(null)))),
      lit("\n}"))

    // P3: the same rows also pin the full version-annotation payload
    // (`VersionPayloadDict`, ingester.py:76-97) — raw metadata + lambda
    // context always, tdr_reference + submitter only for TDR packages
    // (with null-valued TDR fields rendered as JSON nulls)
    val rawMetadata = concat(
      lit("{\"parameters\": {\"TRE\": {\"reference\": \"TRE-"),
      coalesce(sender, lit("X")), lit("\"}}}"))

    d.select(
        col("doc_id"),
        concat(lit("https://editor.example/detail?judgment_uri="), uri).as("url"),
        coalesce(sender, lit("unknown")).as("consignment"),
        submitterLine(contactName, org, email).as("submitter"),
        coalesce(completed, lit("unknown")).as("submitted_at"),
        updateMetadata.as("update_metadata"),
        versionPayload(rawMetadata, isTdr, sender, contactName, email,
          concat(lit("req-"), id)).as("version_payload"))
      .orderBy(col("doc_id"))
  }

  val q34Sql: String =
    """WITH g AS (
      |  SELECT doc_id, doc_id % 2 = 0 AS is_tdr,
      |    CASE WHEN doc_id % 2 = 0 AND doc_id % 5 != 0 THEN 'Contact ' || doc_id END AS contact_name,
      |    CASE WHEN doc_id % 2 = 0 THEN 'Org ' || doc_id END AS org,
      |    CASE WHEN doc_id % 2 = 0 AND doc_id % 7 != 0 THEN 'user' || doc_id || '@example.com' END AS email,
      |    CASE WHEN doc_id % 2 = 0 THEN 'TDR-2021-' || doc_id END AS sender,
      |    CASE WHEN doc_id % 2 = 0 THEN '2021-12-16T14:54:06Z' END AS completed,
      |    CASE WHEN doc_id % 2 = 0 AND doc_id % 3 = 0
      |         THEN (CASE WHEN doc_id % 6 = 0 THEN 'true' ELSE 'false' END) END AS judgment_update,
      |    CASE WHEN doc_id % 2 = 0 AND doc_id % 3 = 0 THEN 'judgment' END AS update_type
      |  FROM documents)
      |SELECT doc_id,
      |  'https://editor.example/detail?judgment_uri=doc/' || doc_id AS url,
      |  coalesce(sender, 'unknown') AS consignment,
      |  coalesce(contact_name, 'unknown') || ', ' || coalesce(org, 'unknown')
      |    || ' <' || coalesce(email, 'unknown') || '>' AS submitter,
      |  coalesce(completed, 'unknown') AS submitted_at,
      |  '{' || chr(10) || '  "Judgment-Update": ' || coalesce(judgment_update, 'null')
      |    || ',' || chr(10) || '  "Judgment-Update-Type": ' ||
      |      coalesce('"' || update_type || '"', 'null')
      |    || ',' || chr(10) || '  "Judgment-Update-Details": null'
      |    || ',' || chr(10) || '  "Judgment-Neutral-Citation": null'
      |    || ',' || chr(10) || '  "Judgment-No-Neutral-Citation": null'
      |    || ',' || chr(10) || '  "Judgment-Reference": null' || chr(10) || '}' AS update_metadata,
      |  '{"tre_raw_metadata": {"parameters": {"TRE": {"reference": "TRE-'
      |    || coalesce(sender, 'X')
      |    || '"}}}, "aws_lambda_context": {"aws_request_id": "req-' || doc_id || '"}'
      |    || CASE WHEN is_tdr THEN ', "tdr_reference": "' || sender
      |         || '", "submitter": {"name": ' || coalesce('"' || contact_name || '"', 'null')
      |         || ', "email": ' || coalesce('"' || email || '"', 'null') || '}'
      |       ELSE '' END
      |    || '}' AS version_payload
      |FROM g ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q49
  /** W9 completion: the two notify template BODIES
    * (`/root/reference/notify_templates/email/new_judgment.md` and
    * `updated_judgment.md` — GOV.UK-Notify `((key))` placeholders)
    * rendered with q34's personalisation. The reference's bulk
    * notification is an explicit no-op (`ingester.py:323-325`), so only
    * the TDR new/updated actions produce bodies; the `new` path also
    * carries the extra `doctype` personalisation (`ingester.py:306`).
    * Rendering is pure string concat over the q34 projection — narrow,
    * codegen'd, rides the same scan. */
  def q49EmailBodies(spark: SparkSession, dir: String): DataFrame = {
    val p = q34EmailPersonalisation(spark, dir)
      .filter(col("doc_id") % 2 === 0) // TDR rows: the only email senders
    val action = when(col("doc_id") % 4 === 0, lit("new")).otherwise(lit("updated"))
    val doctype = when(action === "new",
        when(col("doc_id") % 8 === 0, lit("press summary")).otherwise(lit("judgment")))
      .otherwise(lit(null))
    val bodyNew = concat(
      lit("A new judgment has been submitted for review; see "), col("url"),
      lit("\n\n- TDR Consignment Number: "), col("consignment"),
      lit("\n- Submitter: "), col("submitter"),
      lit("\n- Submitted at: "), col("submitted_at"))
    val bodyUpdated = concat(
      lit("A new version of the judgment at "), col("url"), lit(" has been submitted!"),
      lit("\n\n- TDR Consignment Number: "), col("consignment"),
      lit("\n- Submitter: "), col("submitter"),
      lit("\n- Submitted at: "), col("submitted_at"))
    p.select(
        col("doc_id"),
        action.as("action"),
        doctype.as("doctype"),
        when(action === "new", bodyNew).otherwise(bodyUpdated).as("body"))
      .orderBy(col("doc_id"))
  }

  val q49Sql: String =
    """WITH g AS (
      |  SELECT doc_id,
      |    'https://editor.example/detail?judgment_uri=doc/' || doc_id AS url,
      |    'TDR-2021-' || doc_id AS consignment,
      |    coalesce(CASE WHEN doc_id % 5 != 0 THEN 'Contact ' || doc_id END, 'unknown')
      |      || ', ' || 'Org ' || doc_id
      |      || ' <' || coalesce(CASE WHEN doc_id % 7 != 0 THEN 'user' || doc_id || '@example.com' END,
      |                          'unknown') || '>' AS submitter,
      |    '2021-12-16T14:54:06Z' AS submitted_at,
      |    CASE WHEN doc_id % 4 = 0 THEN 'new' ELSE 'updated' END AS action
      |  FROM documents WHERE doc_id % 2 = 0)
      |SELECT doc_id, action,
      |  CASE WHEN action = 'new'
      |       THEN (CASE WHEN doc_id % 8 = 0 THEN 'press summary' ELSE 'judgment' END)
      |       END AS doctype,
      |  CASE WHEN action = 'new'
      |    THEN 'A new judgment has been submitted for review; see ' || url
      |      || chr(10) || chr(10) || '- TDR Consignment Number: ' || consignment
      |      || chr(10) || '- Submitter: ' || submitter
      |      || chr(10) || '- Submitted at: ' || submitted_at
      |    ELSE 'A new version of the judgment at ' || url || ' has been submitted!'
      |      || chr(10) || chr(10) || '- TDR Consignment Number: ' || consignment
      |      || chr(10) || '- Submitter: ' || submitter
      |      || chr(10) || '- Submitted at: ' || submitted_at
      |  END AS body
      |FROM g ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q35
  /** W5–W8 asset-copy plan: which files land where — tarball (renamed
    * `_nodocx` when the package has no source document,
    * `ingester.py:361-381`), source doc under the flattened-URI name with
    * its extension preserved (`:383-394`, pinned `tests/test_main.py:84-97`),
    * parser.log (only when the package has one, `:396-405`), and one row
    * per image (`:407-418`): (uri, asset_type, dest_filename, src_member)
    * + `keep` rows from (uri, original_ref, tar_name, source_filename,
    * has_parser_log, images). `src_member` is null for the whole-archive
    * tarball row, else keyed by the ORIGINAL consignment ref — the tar's
    * folder predates the S4 rewrite (ingester.py:389,400,413). */
  def assetPlan(pkgs: DataFrame, keep: Column*): DataFrame = {
    import ScalarOps._
    def rows(df: DataFrame, assetType: String, dest: Column, member: Column) =
      df.select(Seq(col("uri"), lit(assetType).as("asset_type"), dest.as("dest_filename"),
        member.as("src_member")) ++ keep: _*)
    def inPackage(name: Column) = concat(col("original_ref"), lit("/"), name)
    rows(pkgs, "tarball",
        when(col("source_filename").isNull, modifyFilename(col("tar_name"), NoDocx))
          .otherwise(col("tar_name")),
        lit(null).cast("string"))
      .unionByName(rows(pkgs.filter(col("source_filename").isNotNull), "source",
        concat(flatUri(col("uri")), lit("."), extension(col("source_filename"))),
        inPackage(col("source_filename"))))
      .unionByName(rows(pkgs.filter(col("has_parser_log")), "parser_log",
        lit("parser.log"), inPackage(lit("parser.log"))))
      .unionByName(rows(pkgs.withColumn("image", explode(coalesce(col("images"), array()))),
        "image", col("image"), inPackage(col("image"))))
  }

  def q35AssetPlan(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents.select(col("doc_id"))
    val id = col("doc_id").cast("string")
    val ref = concat(lit("REF-"), id)
    val sourceName = when(col("doc_id") % 5 === 0, lit(null)) // reparse: no docx
      .otherwise(concat(lit("file"), id, when(col("doc_id") % 2 === 0, lit(".PDF")).otherwise(lit(".docx"))))
    val images = when(col("doc_id") % 3 === 0, array().cast("array<string>"))
      .when(col("doc_id") % 3 === 1, array(lit("image1.png")))
      .otherwise(array(lit("image1.png"), lit("image2.jpg")))

    val pkgs = d.select(col("doc_id"), concat(lit("doc/"), id).as("uri"), ref.as("original_ref"),
      concat(ref, lit(".tar.gz")).as("tar_name"), sourceName.as("source_filename"),
      (col("doc_id") % 11 =!= 0).as("has_parser_log"), images.as("images"))
    assetPlan(pkgs, col("doc_id"))
      .select(col("doc_id"), col("uri"), col("asset_type"), col("dest_filename"))
      .orderBy(col("doc_id"), col("asset_type"), col("dest_filename"))
  }

  val q35Sql: String =
    """WITH g AS (
      |  SELECT doc_id, 'doc/' || doc_id AS uri, 'REF-' || doc_id AS ref,
      |    CASE WHEN doc_id % 5 = 0 THEN NULL
      |         ELSE 'file' || doc_id || (CASE WHEN doc_id % 2 = 0 THEN '.PDF' ELSE '.docx' END)
      |         END AS src,
      |    doc_id % 11 != 0 AS has_log
      |  FROM documents),
      |a AS (
      |  SELECT doc_id, uri, 'tarball' AS asset_type,
      |    CASE WHEN src IS NULL THEN ref || '_nodocx.tar.gz' ELSE ref || '.tar.gz' END AS dest_filename
      |  FROM g
      |  UNION ALL
      |  SELECT doc_id, uri, 'source',
      |    replace(uri, '/', '_') || '.' || lower(string_split(src, '.')[-1])
      |  FROM g WHERE src IS NOT NULL
      |  UNION ALL
      |  SELECT doc_id, uri, 'parser_log', 'parser.log' FROM g WHERE has_log
      |  UNION ALL
      |  SELECT doc_id, uri, 'image', img FROM g,
      |    unnest(CASE WHEN doc_id % 3 = 0 THEN []::VARCHAR[]
      |                WHEN doc_id % 3 = 1 THEN ['image1.png']
      |                ELSE ['image1.png', 'image2.jpg'] END) AS t(img))
      |SELECT doc_id, uri, asset_type, dest_filename FROM a
      |ORDER BY doc_id, asset_type, dest_filename""".stripMargin

  // ----------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q31_scalar_pack"           -> (q31ScalarPack _),
    "q32_routing_matrix"        -> (q32RoutingMatrix _),
    "q33_property_store"        -> (q33PropertyStore _),
    "q34_email_personalisation" -> (q34EmailPersonalisation _),
    "q35_asset_plan"            -> (q35AssetPlan _),
    "q49_email_bodies"          -> (q49EmailBodies _))

  val oracleSql: Map[String, String] = Map(
    "q31_scalar_pack"           -> q31Sql,
    "q32_routing_matrix"        -> q32Sql,
    "q33_property_store"        -> q33Sql,
    "q34_email_personalisation" -> q34Sql,
    "q35_asset_plan"            -> q35Sql,
    "q49_email_bodies"          -> q49Sql)
}
