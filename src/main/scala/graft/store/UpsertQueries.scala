package graft.store

import graft.ingest.IngestQueries
import graft.sql.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Insert-vs-update MERGE as an oracle-checked query (SURVEY.md J4/W1;
  * reference `/root/reference/src/ds_caselaw_ingester/ingester.py:
  * 459-483` with the annotation matrix at `:226-247`).
  *
  * Two deterministic "waves" of ingest requests derive from `documents`;
  * wave 2 re-ingests a subset of wave-1 URIs (redeliveries) plus new ones.
  * The MERGE folds both waves in order: the head row per URI carries the
  * LAST wave's XML/annotation, `version` counts the writes, and
  * `error_on_existing_document` requests that hit an existing URI fail
  * instead of updating (`ingester.py:461-465`). The whole fold is one
  * window over (uri, wave) — at scale a single hash shuffle on uri,
  * exactly a Delta MERGE's plan shape. */
object UpsertQueries {

  def q36DocumentUpsert(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents.select(col("doc_id"))
    val id = col("doc_id").cast("string")

    // wave 1: every third doc; wave 2: every second (overlap = %6)
    val w1 = d.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), lit(1).as("wave"),
        concat(lit("doc/"), id).as("uri"),
        concat(lit("<judgment><v>1-"), id, lit("</v></judgment>")).as("xml"),
        (col("doc_id") % 2 === 0).as("is_tdr"),
        lit(false).as("error_on_existing"))
    val w2 = d.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), lit(2).as("wave"),
        concat(lit("doc/"), id).as("uri"),
        concat(lit("<judgment><v>2-"), id, lit("</v></judgment>")).as("xml"),
        (col("doc_id") % 2 === 0).as("is_tdr"),
        (col("doc_id") % 10 === 4).as("error_on_existing"))
    val waves = w1.unionByName(w2)

    val byUri = Window.partitionBy(col("uri")).orderBy(col("wave"))
    val folded = waves
      .withColumn("prior_writes", count(lit(1)).over(
        byUri.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("exists_in_db", col("prior_writes") > 0)
      // error_on_existing_document: an existing hit refuses to update
      .withColumn("rejected", col("exists_in_db") && col("error_on_existing"))
      .withColumn("version",
        sum(when(col("rejected"), 0).otherwise(1)).over(
          byUri.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("annotation_message",
        IngestQueries.annotationMessage(col("is_tdr"), col("exists_in_db")))
      .withColumn("upload_state",
        when(col("rejected"), lit("error"))
          .otherwise(IngestQueries.uploadState(col("exists_in_db"))))

    // head row per uri = last ACCEPTED write
    val head = folded.filter(!col("rejected"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("uri")).orderBy(col("wave").desc)))
      .filter(col("rn") === 1)
    head.select(col("uri"), col("xml"), col("version"),
        col("annotation_message"), col("upload_state"))
      .orderBy(col("uri"))
  }

  val q36Sql: String =
    """WITH d AS (SELECT doc_id FROM documents),
      |w1 AS (SELECT doc_id, 1 AS wave, 'doc/' || doc_id AS uri,
      |         '<judgment><v>1-' || doc_id || '</v></judgment>' AS xml,
      |         doc_id % 2 = 0 AS is_tdr, false AS error_on_existing
      |       FROM d WHERE doc_id % 3 = 0),
      |w2 AS (SELECT doc_id, 2 AS wave, 'doc/' || doc_id AS uri,
      |         '<judgment><v>2-' || doc_id || '</v></judgment>' AS xml,
      |         doc_id % 2 = 0 AS is_tdr, doc_id % 10 = 4 AS error_on_existing
      |       FROM d WHERE doc_id % 2 = 0),
      |waves AS (SELECT * FROM w1 UNION ALL SELECT * FROM w2),
      |f AS (
      |  SELECT *,
      |    count(*) OVER (PARTITION BY uri ORDER BY wave
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) > 0 AS exists_in_db
      |  FROM waves),
      |g AS (
      |  SELECT *, exists_in_db AND error_on_existing AS rejected,
      |    CAST(sum(CASE WHEN exists_in_db AND error_on_existing THEN 0 ELSE 1 END)
      |      OVER (PARTITION BY uri ORDER BY wave
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS version,
      |    CASE WHEN is_tdr AND exists_in_db THEN 'Updated document submitted by TDR user'
      |         WHEN is_tdr THEN 'New document submitted by TDR user'
      |         WHEN exists_in_db THEN 'Updated document uploaded by Find Case Law'
      |         ELSE 'New document uploaded by Find Case Law' END AS annotation_message,
      |    CASE WHEN exists_in_db AND error_on_existing THEN 'error'
      |         WHEN exists_in_db THEN 'updated' ELSE 'inserted' END AS upload_state
      |  FROM f),
      |h AS (
      |  SELECT *, row_number() OVER (PARTITION BY uri ORDER BY wave DESC) AS rn
      |  FROM g WHERE NOT rejected)
      |SELECT uri, xml, version, annotation_message, upload_state
      |FROM h WHERE rn = 1 ORDER BY uri""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q36_document_upsert" -> (q36DocumentUpsert _))

  val oracleSql: Map[String, String] = Map(
    "q36_document_upsert" -> q36Sql)
}
