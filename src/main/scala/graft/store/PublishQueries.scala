package graft.store

import graft.ingest.IngestQueries
import graft.model.IngestError
import graft.sql.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** W10 publish/unpublish post-state as an oracle-checked query (SURVEY.md
  * W10/O2; reference `/root/reference/src/ds_caselaw_ingester/ingester.py:
  * 424-440,565-575` and `exceptions.py:26`).
  *
  * Every successful ingest ends by either publishing or unpublishing its
  * document; two guards sit on that effect:
  *   - an error-log (parserLog) package must not overwrite a PUBLISHED
  *     document — it fails terminally before any effect
  *     (`ErrorLogWouldOverwritePublishedDocument`, exceptions.py:26);
  *   - publishing an unpublishable document raises
  *     `CannotPublishException` (ingester.py:568-570, pinned by
  *     `tests/test_ingester.py:18-19`) AFTER the write effects ran — the
  *     engine models parserLog documents as unpublishable.
  *
  * Two deterministic ingest "waves" derive from `documents`: wave 1
  * establishes per-URI publish state, wave 2 re-ingests half the URIs with
  * an independent originator × auto_publish × doc-type mix, consulting
  * wave 1's published flag (the FCL-reparse branch and both guards). Both
  * waves collapse into one narrow projection per doc_id — no join, no
  * shuffle except the presentation sort. The guards and the publish
  * decision are the act phase's own functions ([[IngestQueries]]); the
  * store-effect twin of this truth table is exercised end-to-end in
  * `PackageIngestSpec`.
  */
object PublishQueries {

  private def origOf(k: Column): Column =
    when(k === 0, lit("TDR")).when(k === 1, lit("FCL S3")).otherwise(lit("FCL"))
  private def dtOf(k: Column): Column =
    when(k === 0, lit("judgment")).when(k === 1, lit("pressSummary")).otherwise(lit("parserLog"))

  def q47PublishPoststate(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents.select(col("doc_id"))
    val n = col("doc_id")

    // wave 1: fresh inserts (exists=false, published=false); the MERGE
    // folds each wave's publish decision over the flag it found
    val orig1 = origOf(n % 3)
    val ap1 = (n / 3).cast("long") % 2 === 1
    val dt1 = dtOf((n / 6).cast("long") % 3)
    val wp1 = IngestQueries.willPublish(orig1, ap1, lit(false), lit(false))
    val pub1 = coalesce(IngestQueries.publishDecision(wp1, dt1), lit(false))
    val err1 = when(IngestQueries.cannotPublish(wp1, dt1), lit(IngestError.CannotPublish.name))

    // wave 2 (even doc_ids): re-ingest against wave-1 state
    val hasW2 = n % 2 === 0
    val orig2 = origOf((n / 12).cast("long") % 3)
    val ap2 = (n / 24).cast("long") % 2 === 1
    val dt2 = dtOf((n / 48).cast("long") % 3)
    val guard2 = IngestQueries.errorLogOverPublished(dt2, lit(true), pub1)
    val wp2 = IngestQueries.willPublish(orig2, ap2, lit(true), pub1)
    val pub2 = coalesce(IngestQueries.publishDecision(wp2, dt2), pub1)
    val err2 = when(guard2, lit(IngestError.ErrorLogWouldOverwritePublishedDocument.name))
      .when(IngestQueries.cannotPublish(wp2, dt2), lit(IngestError.CannotPublish.name))

    // guard2 aborts before any effect: version/doc_type/published keep
    // wave-1 state; CannotPublish aborts AFTER the write effects: version
    // and doc_type advance, published stays (its decision is null)
    val accepted2 = hasW2 && !guard2

    d.select(
        col("doc_id"),
        concat(lit("doc/"), n.cast("string")).as("uri"),
        when(accepted2, dt2).otherwise(dt1).as("doc_type"),
        when(accepted2, lit(2)).otherwise(lit(1)).as("version"),
        when(accepted2, pub2).otherwise(pub1).as("is_published"),
        when(hasW2, err2).otherwise(err1).as("error"))
      .orderBy(col("doc_id"))
  }

  val q47Sql: String =
    """WITH g AS (
      |  SELECT doc_id,
      |    CASE doc_id % 3 WHEN 0 THEN 'TDR' WHEN 1 THEN 'FCL S3' ELSE 'FCL' END AS orig1,
      |    (doc_id // 3) % 2 = 1 AS ap1,
      |    CASE (doc_id // 6) % 3 WHEN 0 THEN 'judgment' WHEN 1 THEN 'pressSummary'
      |         ELSE 'parserLog' END AS dt1,
      |    doc_id % 2 = 0 AS has_w2,
      |    CASE (doc_id // 12) % 3 WHEN 0 THEN 'TDR' WHEN 1 THEN 'FCL S3' ELSE 'FCL' END AS orig2,
      |    (doc_id // 24) % 2 = 1 AS ap2,
      |    CASE (doc_id // 48) % 3 WHEN 0 THEN 'judgment' WHEN 1 THEN 'pressSummary'
      |         ELSE 'parserLog' END AS dt2
      |  FROM documents),
      |w1 AS (
      |  SELECT *,
      |    CASE WHEN orig1 = 'TDR' THEN false
      |         WHEN orig1 = 'FCL S3' THEN ap1
      |         ELSE false END AS wp1
      |  FROM g),
      |s1 AS (
      |  SELECT *,
      |    wp1 AND dt1 != 'parserLog' AS pub1,
      |    CASE WHEN wp1 AND dt1 = 'parserLog' THEN 'CannotPublishException' END AS err1
      |  FROM w1),
      |w2 AS (
      |  SELECT *,
      |    dt2 = 'parserLog' AND pub1 AS guard2,
      |    CASE WHEN orig2 = 'TDR' THEN false
      |         WHEN orig2 = 'FCL S3' THEN ap2
      |         ELSE pub1 END AS wp2
      |  FROM s1),
      |s2 AS (
      |  SELECT *,
      |    has_w2 AND NOT guard2 AS accepted2,
      |    wp2 AND dt2 != 'parserLog' AS pub2,
      |    CASE WHEN guard2 THEN 'ErrorLogWouldOverwritePublishedDocument'
      |         WHEN wp2 AND dt2 = 'parserLog' THEN 'CannotPublishException' END AS err2
      |  FROM w2)
      |SELECT doc_id, 'doc/' || doc_id AS uri,
      |  CASE WHEN accepted2 THEN dt2 ELSE dt1 END AS doc_type,
      |  CASE WHEN accepted2 THEN 2 ELSE 1 END AS version,
      |  CASE WHEN accepted2 THEN pub2 ELSE pub1 END AS is_published,
      |  CASE WHEN has_w2 THEN err2 ELSE err1 END AS error
      |FROM s2 ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q47_publish_poststate" -> (q47PublishPoststate _))

  val oracleSql: Map[String, String] = Map(
    "q47_publish_poststate" -> q47Sql)
}
