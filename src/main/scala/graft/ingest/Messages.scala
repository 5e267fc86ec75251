package graft.ingest

import graft.sql.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Message ingest & dialect decode (SURVEY.md S1–S4; reference behavior at
  * `/root/reference/src/ds_caselaw_ingester/messages.py:16-127` and
  * `lambda_function.py:100-110`).
  *
  * The reference consumes Lambda events that are either an SQS batch —
  * where each record body is a JSON-encoded SNS envelope whose `Message`
  * field is ANOTHER JSON string (double `json.loads`,
  * `messages.py:118-120`) — or a direct SNS event (single decode). The
  * inner message is then structurally dispatched: `Records[0].eventSource
  * == "aws:s3"` → S3 dialect, a `parameters` key → V2 dialect, anything
  * else → `InvalidMessageException` (`messages.py:18-24`).
  *
  * Spark mapping: the double decode is two chained `from_json` calls; the
  * dispatch is a `when` ladder over struct-field presence; per-dialect
  * consignment-reference and S3-location rules are pure column exprs:
  *   - V2 (`messages.py:48-57`): `parameters.reference`, empty/missing →
  *     invalid; bucket/key taken verbatim.
  *   - S3 (`messages.py:83-105`): reference = object-key basename before
  *     the FIRST dot, from the RAW (still-encoded) key; the key used for
  *     download is `unquote_plus`-decoded (pinned by
  *     `tests/test_main.py:102-115`) — Spark's `url_decode` has the same
  *     form-encoding semantics ('+' → space, %XX → byte).
  *   - SQS-delivered messages carry their `messageId` for partial-batch
  *     failure reporting; SNS-delivered ones have no id (at-most-once,
  *     `lambda_function.py:134-135`).
  *
  * All decode work is narrow (scan-stage projections) — at 100 TB the
  * event stream never shuffles for decoding.
  */
object Messages {

  /** Inner message schema: superset of both dialects; PERMISSIVE
    * `from_json` nulls whichever half is absent, which IS the structural
    * dispatch signal. */
  val innerMessageSchema: StructType = StructType(Seq(
    StructField("Records", ArrayType(StructType(Seq(
      StructField("eventSource", StringType),
      StructField("s3", StructType(Seq(
        StructField("bucket", StructType(Seq(StructField("name", StringType)))),
        StructField("object", StructType(Seq(StructField("key", StringType))))))))))),
    StructField("parameters", StructType(Seq(
      StructField("status", StringType),
      StructField("reference", StringType),
      StructField("originator", StringType),
      StructField("s3Bucket", StringType),
      StructField("s3Key", StringType))))))

  /** SNS envelope carried in an SQS body (raw_message_delivery=false). */
  val snsEnvelopeSchema: StructType = StructType(Seq(
    StructField("Type", StringType),
    StructField("Message", StringType)))

  /** One SQS record (the fields the reference reads). */
  val sqsRecordSchema: StructType = StructType(Seq(
    StructField("messageId", StringType),
    StructField("body", StringType),
    StructField("eventSource", StringType)))

  /** One direct-SNS record. */
  val snsRecordSchema: StructType = StructType(Seq(
    StructField("Sns", StructType(Seq(StructField("Message", StringType))))))

  /** Decode a DataFrame of (kind, record_json, ...) event records into the
    * dialect-dispatched message table. `kind` is 'sqs' or 'sns' — the
    * reference's `Records[0].eventSource == "aws:sqs"` event-level split
    * (`lambda_function.py:107-110`). Extra input columns pass through. */
  def decode(events: DataFrame): DataFrame = {
    val sqsRec = from_json(col("record_json"), sqsRecordSchema)
    val snsRec = from_json(col("record_json"), snsRecordSchema)
    val innerStr = when(col("kind") === "sqs",
        from_json(sqsRec.getField("body"), snsEnvelopeSchema).getField("Message"))
      .otherwise(snsRec.getField("Sns").getField("Message"))
    val msgId = when(col("kind") === "sqs", sqsRec.getField("messageId")).otherwise(lit(null))

    val m = from_json(col("inner_str"), innerMessageSchema)
    val rec0 = m.getField("Records").getItem(0)
    val params = m.getField("parameters")
    val isS3 = rec0.getField("eventSource") === "aws:s3"
    val isV2 = params.isNotNull
    val dialect = when(isS3, "s3").when(isV2, "v2").otherwise("invalid")

    val rawKey = rec0.getField("s3").getField("object").getField("key")
    // basename before the FIRST dot, from the raw (encoded) key
    val s3Ref = regexp_extract(element_at(split(rawKey, "/"), -1), "^([^.]*)", 1)
    val v2Ref = params.getField("reference")
    val consignmentRef = when(col("dialect") === "s3", s3Ref)
      .when(col("dialect") === "v2" && length(v2Ref) > 0, v2Ref)
      .otherwise(lit(null))

    val originator = when(col("dialect") === "s3", lit("FCL S3"))
      .when(col("dialect") === "v2", params.getField("originator"))
      .otherwise(lit(null))
    val s3Bucket = when(col("dialect") === "s3", rec0.getField("s3").getField("bucket").getField("name"))
      .when(col("dialect") === "v2", params.getField("s3Bucket"))
      .otherwise(lit(null))
    val s3Key = when(col("dialect") === "s3", url_decode(rawKey))
      .when(col("dialect") === "v2", params.getField("s3Key"))
      .otherwise(lit(null))
    val error = when(col("dialect") === "invalid", lit("InvalidMessageException"))
      .when(col("dialect") === "v2" && (v2Ref.isNull || length(v2Ref) === 0),
        lit("InvalidMessageException"))
      .otherwise(lit(null))

    events
      .withColumn("inner_str", innerStr)
      .withColumn("msg_id", msgId)
      .withColumn("dialect", dialect)
      .withColumn("originator", originator)
      .withColumn("consignment_ref", consignmentRef)
      .withColumn("s3_bucket", s3Bucket)
      .withColumn("s3_key", s3Key)
      .withColumn("error", error)
      .drop("inner_str", "record_json", "kind")
  }

  // ---------------------------------------------------------------- q29
  /** Round-trip check: synthesize the three dialects (with the envelope
    * double-encoding) from `documents` rows, decode with the real
    * pipeline, and compare against the oracle's closed-form expectations.
    * doc_id % 3: 0 → V2 via SQS, 1 → S3 via direct SNS, 2 → invalid via
    * SQS; doc_id % 10 = 6 V2 messages have an empty reference (the
    * malformed-message case of `tests/test_main.py:24-29`). */
  /** JSON string-escape for embedding one JSON document as a string field
    * of another (backslashes first, then quotes). */
  private def jsonEscape(c: Column): Column =
    regexp_replace(regexp_replace(c, "\\\\", "\\\\\\\\"), "\"", "\\\\\"")

  def q29MessageDecode(spark: SparkSession, dir: String): DataFrame =
    decodedEvents(spark, dir).orderBy(col("doc_id"))

  private def decodedEvents(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents.select(col("doc_id"))
    val id = col("doc_id").cast("string")

    // fixture construction is plain string concat — the nested to_json
    // evaluator tree the DECODE side then has to chew through made the
    // generated code pathologically large (JIT-bimodal timings); the
    // operator under test is the from_json decode, not the synthesis
    val v2Ref = when(col("doc_id") % 10 === 6, lit("")).otherwise(concat(lit("TDR-2024-"), id))
    val v2Orig = when(col("doc_id") % 2 === 0, lit("TDR")).otherwise(lit("FCL"))
    val v2Inner = concat(
      lit("""{"parameters": {"status": "JUDGMENT_PARSE_NO_ERRORS", "reference": """"), v2Ref,
      lit("""", "originator": """"), v2Orig,
      lit("""", "s3Bucket": "tre-court-document-pack-out", "s3Key": "QX/exec-"""), id,
      lit("/QX-"), id, lit(""".tar.gz"}}"""))
    val s3Inner = concat(
      lit("""{"Records": [{"eventSource": "aws:s3", "s3": {"bucket": {"name": "bulk-inbound-bucket"}, "object": {"key": "2010+Reported/%5B2010%5D/BULK-"""),
      id, lit(""".tar.gz"}}}]}"""))
    val invalidInner = lit("""{"something-unexpected": "???"}""")

    val inner = when(col("doc_id") % 3 === 0, v2Inner)
      .when(col("doc_id") % 3 === 1, s3Inner)
      .otherwise(invalidInner)
    val snsEnvelope = concat(
      lit("""{"Type": "Notification", "Message": """"), jsonEscape(inner), lit(""""}"""))
    val sqsRecord = concat(
      lit("""{"messageId": "msg-"""), id,
      lit("""", "eventSource": "aws:sqs", "body": """"), jsonEscape(snsEnvelope), lit(""""}"""))
    val snsRecord = concat(
      lit("""{"Sns": {"Message": """"), jsonEscape(inner), lit(""""}}"""))
    val recordJson = when(col("doc_id") % 3 === 1, snsRecord).otherwise(sqsRecord)

    val events = d
      .withColumn("kind", when(col("doc_id") % 3 === 1, "sns").otherwise("sqs"))
      .withColumn("record_json", recordJson)

    decode(events)
  }

  val q29Sql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 1 THEN NULL ELSE 'msg-' || doc_id END AS msg_id,
      |  CASE doc_id % 3 WHEN 0 THEN 'v2' WHEN 1 THEN 's3' ELSE 'invalid' END AS dialect,
      |  CASE WHEN doc_id % 3 = 0 THEN (CASE WHEN doc_id % 2 = 0 THEN 'TDR' ELSE 'FCL' END)
      |       WHEN doc_id % 3 = 1 THEN 'FCL S3' END AS originator,
      |  CASE WHEN doc_id % 3 = 0 AND doc_id % 10 != 6 THEN 'TDR-2024-' || doc_id
      |       WHEN doc_id % 3 = 1 THEN 'BULK-' || doc_id END AS consignment_ref,
      |  CASE WHEN doc_id % 3 = 0 THEN 'tre-court-document-pack-out'
      |       WHEN doc_id % 3 = 1 THEN 'bulk-inbound-bucket' END AS s3_bucket,
      |  CASE WHEN doc_id % 3 = 0 THEN 'QX/exec-' || doc_id || '/QX-' || doc_id || '.tar.gz'
      |       WHEN doc_id % 3 = 1 THEN '2010 Reported/[2010]/BULK-' || doc_id || '.tar.gz' END AS s3_key,
      |  CASE WHEN doc_id % 3 = 2 THEN 'InvalidMessageException'
      |       WHEN doc_id % 3 = 0 AND doc_id % 10 = 6 THEN 'InvalidMessageException' END AS error
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q42
  /** W11 batch-failure report over the q29 event mix: only failed records
    * that arrived via SQS carry a reportable id (`batchItemFailures`,
    * `lambda_function.py:131-137`); SNS failures vanish (at-most-once).
    * The `terminal` flag is the O3 taxonomy routing the streaming shell
    * applies ([[graft.model.IngestError.terminal]]) — terminal errors go
    * to the DLQ once, retryables are eligible for redelivery. */
  def q42FailureReport(spark: SparkSession, dir: String): DataFrame = {
    // STRUCTURAL decode barrier: the eager localCheckpoint cuts the
    // lineage, so predicate pushdown CANNOT substitute the double-JSON
    // decode chain into the filter condition (re-evaluating it per row on
    // top of the projection's copy — measured ~9x slower). Earlier rounds
    // pinned this with a non-deterministic conjunct ordered first in the
    // filter — correct but riding on optimizer minutiae (a merely-
    // projected barrier had already been silently column-pruned once);
    // the checkpoint makes pushdown impossible by construction, the same
    // pattern as the dedup shingle kernel. The projection is pruned to
    // the three surviving columns BEFORE materializing, and uses the
    // UNSORTED decode (q29's presentation orderBy would be a full
    // pre-filter sort for nothing); checkpoint blocks are freed by the
    // ContextCleaner once the result is dropped.
    val decoded = decodedEvents(spark, dir)
      .select("doc_id", "msg_id", "error")
      .localCheckpoint(true)
    decoded
      .filter(col("error").isNotNull && col("msg_id").isNotNull)
      .select(col("doc_id"), col("msg_id"), col("error"),
        graft.model.IngestError.terminal(col("error")).as("terminal"))
      .orderBy(col("doc_id"))
  }

  val q42Sql: String =
    """SELECT doc_id, 'msg-' || doc_id AS msg_id,
      | 'InvalidMessageException' AS error, true AS terminal
      |FROM documents
      |WHERE doc_id % 3 = 2 OR (doc_id % 3 = 0 AND doc_id % 10 = 6)
      |ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q29_message_decode" -> (q29MessageDecode _),
    "q42_failure_report" -> (q42FailureReport _))

  val oracleSql: Map[String, String] = Map(
    "q29_message_decode" -> q29Sql,
    "q42_failure_report" -> q42Sql)
}
