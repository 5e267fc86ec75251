package graft.ingest

import graft.sql.Tables
import graft.store.DocumentStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** URI resolution cascade (SURVEY.md J1–J3; reference
  * `/root/reference/src/ds_caselaw_ingester/ingester.py:485-539`, flowchart
  * `docs/uri_logic.md`, truth table pinned by `tests/test_main.py:184-271`).
  *
  * The reference resolves each request's destination URI with point lookups
  * against the MarkLogic identifier store:
  *   1. parser-provided trimmed URI → slug lookup; exactly one hit wins
  *      (uri, exists=true); more than one → MultipleResolutionsFoundError;
  *   2. else NCN lookup filtered to the identifier TYPE matching the doc
  *      type — a hit in another namespace (e.g. `fclid`) does NOT count
  *      (`tests/test_main.py:166-170`); one hit wins (uri, exists=true);
  *   3. else a fresh `d-<uuid>` (exists=false). The engine derives the
  *      surrogate deterministically (`d-` + md5 prefix of the consignment
  *      ref) so results are replayable — SURVEY.md §7.5 calls this out;
  *      the reference's `uuid4` path is the one non-idempotent spot.
  *
  * Spark mapping: N network round-trips become two LEFT JOINs against the
  * identifiers dimension + a `coalesce` — the identifier table is tiny
  * relative to the corpus, so both joins broadcast and the request stream
  * never shuffles. Cardinality guards become pre-aggregated hit counts
  * (count > 1 → error column, mirroring the raised exception).
  */
object Resolution {

  /** IDENTIFIER_CLASS_LOOKUP (`ingester.py:51-55`): the NCN lookup's
    * required type and the assigned identifier's type — judgment → ukncn,
    * pressSummary → ukncn-summary, anything else (parserLog) → none. */
  def identifierClass(docType: Column): Column =
    when(docType === "judgment", lit("ukncn"))
      .when(docType === "pressSummary", lit("ukncn-summary"))
      .otherwise(lit(null))

  /** W2 (`ingester.py:263-284`): a (document_uri, id_kind, id_value,
    * id_type) + `keep` row per (uri, ncn, doc_type) with an NCN and a class. */
  def ncnRows(docs: DataFrame, keep: Column*): DataFrame = {
    val idClass = identifierClass(col("doc_type"))
    docs.filter(col("ncn").isNotNull && idClass.isNotNull)
      .select(Seq(col("uri").as("document_uri"), lit("value").as("id_kind"),
        col("ncn").as("id_value"), idClass.as("id_type")) ++ keep: _*)
  }

  /** Resolve requests against an identifiers dimension.
    *
    * requests: (req_id, trimmed_uri nullable, ncn nullable, doc_type,
    *            consignment_ref)
    * identifiers: (document_uri, id_kind 'slug'|'value', id_value, id_type)
    *
    * The NCN lookup only counts a hit of the doc type's
    * [[identifierClass]]; a type without one (parserLog) never matches.
    */
  def resolve(requests: DataFrame, identifiers: DataFrame): DataFrame = {
    val slugAgg = identifiers
      .filter(col("id_kind") === "slug")
      .groupBy(col("id_value").as("slug_value"))
      .agg(min(col("document_uri")).as("slug_uri"), count(lit(1)).as("slug_hits"))
    val ncnAgg = identifiers
      .filter(col("id_kind") === "value")
      .groupBy(col("id_value").as("ncn_value"), col("id_type").as("ncn_type"))
      .agg(min(col("document_uri")).as("ncn_uri"), count(lit(1)).as("ncn_hits"))

    val joined = requests
      .withColumn("required_type", identifierClass(col("doc_type")))
      .join(broadcast(slugAgg),
        col("trimmed_uri").isNotNull && col("trimmed_uri") === col("slug_value"),
        "left")
      .join(broadcast(ncnAgg),
        col("ncn").isNotNull && col("required_type").isNotNull &&
          col("ncn") === col("ncn_value") && col("required_type") === col("ncn_type"),
        "left")

    // Slug hit short-circuits the NCN lookup (ingester.py:519-535): an NCN
    // multi-hit only raises when the slug path missed.
    val slugHit = col("slug_hits").isNotNull
    val ncnHit = !slugHit && col("ncn_hits").isNotNull
    val error = when(slugHit && col("slug_hits") > 1, lit("MultipleResolutionsFoundError"))
      .when(ncnHit && col("ncn_hits") > 1, lit("MultipleResolutionsFoundError"))
      .otherwise(lit(null))
    val surrogate = concat(lit("d-"), substring(md5(concat(lit("uri:"), col("consignment_ref"))), 1, 12))
    val uri = when(error.isNotNull, lit(null))
      .when(slugHit, col("slug_uri"))
      .when(ncnHit, col("ncn_uri"))
      .otherwise(surrogate)
    val exists = when(error.isNotNull, lit(null))
      .otherwise(slugHit || ncnHit)

    joined
      .withColumn("uri", uri)
      .withColumn("exists_in_db", exists)
      .withColumn("error", error)
      .drop("required_type", "slug_value", "slug_uri", "slug_hits",
        "ncn_value", "ncn_type", "ncn_uri", "ncn_hits")
  }

  // ---------------------------------------------------------------- q30
  /** Derive a requests table and an identifiers dimension from `documents`
    * and run the cascade. The derivation enumerates the flowchart rows:
    *   - doc_id % 4 = 1 docs have a slug identifier at `ew/ca/<id>`;
    *   - doc_id % 4 = 2 docs have an NCN identifier (type ukncn);
    *   - doc_id % 4 = 3 docs have the NCN under the WRONG type (fclid) —
    *     must not resolve;
    *   - doc_id % 17 = 5: a second slug row for the same slug → multi-hit;
    *   - requests carry a trimmed_uri when doc_id % 2 = 1 and an NCN when
    *     doc_id % 3 != 0; doc_type cycles judgment/pressSummary/parserLog.
    */
  def q30UriResolution(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents.select(col("doc_id"))
    val id = col("doc_id").cast("string")

    val slugs = d.filter(col("doc_id") % 4 === 1)
      .select(
        concat(lit("doc/"), id).as("document_uri"),
        lit("slug").as("id_kind"),
        concat(lit("ew/ca/"), id).as("id_value"),
        lit(null).cast("string").as("id_type"))
    val dupSlugs = d.filter(col("doc_id") % 4 === 1 && col("doc_id") % 17 === 5)
      .select(
        concat(lit("doc/dup/"), id).as("document_uri"),
        lit("slug").as("id_kind"),
        concat(lit("ew/ca/"), id).as("id_value"),
        lit(null).cast("string").as("id_type"))
    val ncns = d.filter(col("doc_id") % 4 === 2)
      .select(
        concat(lit("doc/"), id).as("document_uri"),
        lit("value").as("id_kind"),
        concat(lit("[2024] TEST "), id).as("id_value"),
        lit("ukncn").as("id_type"))
    val wrongType = d.filter(col("doc_id") % 4 === 3)
      .select(
        concat(lit("doc/fclid/"), id).as("document_uri"),
        lit("value").as("id_kind"),
        concat(lit("[2024] TEST "), id).as("id_value"),
        lit("fclid").as("id_type"))
    val identifiers = slugs.union(dupSlugs).union(ncns).union(wrongType)

    val requests = d.select(
      col("doc_id"),
      concat(lit("REF-"), id).as("consignment_ref"),
      when(col("doc_id") % 2 === 1, concat(lit("ew/ca/"), id)).otherwise(lit(null)).as("trimmed_uri"),
      when(col("doc_id") % 3 =!= 0, concat(lit("[2024] TEST "), id)).otherwise(lit(null)).as("ncn"),
      when(col("doc_id") % 5 === 0, lit("pressSummary"))
        .when(col("doc_id") % 5 === 1, lit("parserLog"))
        .otherwise(lit("judgment")).as("doc_type"))

    resolve(requests, identifiers)
      .select(col("doc_id"), col("doc_type"), col("uri"), col("exists_in_db"), col("error"))
      .orderBy(col("doc_id"))
  }

  val q30Sql: String =
    """WITH d AS (SELECT doc_id FROM documents),
      |ids AS (
      |  SELECT 'doc/' || doc_id AS document_uri, 'slug' AS id_kind,
      |         'ew/ca/' || doc_id AS id_value, NULL AS id_type
      |  FROM d WHERE doc_id % 4 = 1
      |  UNION ALL
      |  SELECT 'doc/dup/' || doc_id, 'slug', 'ew/ca/' || doc_id, NULL
      |  FROM d WHERE doc_id % 4 = 1 AND doc_id % 17 = 5
      |  UNION ALL
      |  SELECT 'doc/' || doc_id, 'value', '[2024] TEST ' || doc_id, 'ukncn'
      |  FROM d WHERE doc_id % 4 = 2
      |  UNION ALL
      |  SELECT 'doc/fclid/' || doc_id, 'value', '[2024] TEST ' || doc_id, 'fclid'
      |  FROM d WHERE doc_id % 4 = 3),
      |slug_agg AS (
      |  SELECT id_value AS slug_value, min(document_uri) AS slug_uri, count(*) AS slug_hits
      |  FROM ids WHERE id_kind = 'slug' GROUP BY 1),
      |ncn_agg AS (
      |  SELECT id_value AS ncn_value, id_type AS ncn_type,
      |         min(document_uri) AS ncn_uri, count(*) AS ncn_hits
      |  FROM ids WHERE id_kind = 'value' GROUP BY 1, 2),
      |req AS (
      |  SELECT doc_id, 'REF-' || doc_id AS consignment_ref,
      |    CASE WHEN doc_id % 2 = 1 THEN 'ew/ca/' || doc_id END AS trimmed_uri,
      |    CASE WHEN doc_id % 3 != 0 THEN '[2024] TEST ' || doc_id END AS ncn,
      |    CASE WHEN doc_id % 5 = 0 THEN 'pressSummary'
      |         WHEN doc_id % 5 = 1 THEN 'parserLog'
      |         ELSE 'judgment' END AS doc_type
      |  FROM d),
      |j AS (
      |  SELECT req.*,
      |    CASE WHEN doc_type = 'judgment' THEN 'ukncn'
      |         WHEN doc_type = 'pressSummary' THEN 'ukncn-summary' END AS required_type,
      |    s.slug_uri, s.slug_hits, n.ncn_uri, n.ncn_hits
      |  FROM req
      |  LEFT JOIN slug_agg s ON req.trimmed_uri IS NOT NULL AND req.trimmed_uri = s.slug_value
      |  LEFT JOIN ncn_agg n ON req.ncn IS NOT NULL
      |    AND (CASE WHEN doc_type = 'judgment' THEN 'ukncn'
      |              WHEN doc_type = 'pressSummary' THEN 'ukncn-summary' END) = n.ncn_type
      |    AND req.ncn = n.ncn_value)
      |SELECT doc_id, doc_type,
      |  CASE WHEN (slug_hits IS NOT NULL AND slug_hits > 1)
      |         OR (slug_hits IS NULL AND ncn_hits IS NOT NULL AND ncn_hits > 1) THEN NULL
      |       WHEN slug_hits IS NOT NULL THEN slug_uri
      |       WHEN ncn_hits IS NOT NULL THEN ncn_uri
      |       ELSE 'd-' || substr(md5('uri:REF-' || doc_id), 1, 12) END AS uri,
      |  CASE WHEN (slug_hits IS NOT NULL AND slug_hits > 1)
      |         OR (slug_hits IS NULL AND ncn_hits IS NOT NULL AND ncn_hits > 1) THEN NULL
      |       ELSE (slug_hits IS NOT NULL OR ncn_hits IS NOT NULL) END AS exists_in_db,
      |  CASE WHEN (slug_hits IS NOT NULL AND slug_hits > 1)
      |         OR (slug_hits IS NULL AND ncn_hits IS NOT NULL AND ncn_hits > 1)
      |       THEN 'MultipleResolutionsFoundError' END AS error
      |FROM j ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q48
  /** W2 identifier assignment post-state (reference `ingester.py:263-284`,
    * pinned by `tests/test_identifier_assignment.py`): after a batch of
    * ingests, which identifier rows exist.
    *
    *   - doc_id % 3 cycles the doc type: judgment → `ukncn`, pressSummary
    *     → `ukncn-summary`, parserLog → NO identifier class (no-op);
    *   - doc_id % 4 = 0 docs extracted no NCN → nothing to assign;
    *   - doc_id % 5 = 0 docs already carry an identifier before ingest —
    *     the reference WARNS but still assigns (`:267-270`), surfaced as
    *     the `warned` flag on the ingest-origin rows;
    *   - doc_id % 10 = 0 docs' preexisting identifier IS the incoming NCN
    *     — the idempotent-append anti-join drops the duplicate;
    *   - doc_id % 7 = 0 docs are delivered twice — the second delivery
    *     must not duplicate the row (the same dedup
    *     `LocalStore.appendIdentifiers` applies).
    *
    * The rows are the act phase's own ([[ncnRows]]) and the fold is the
    * store's idempotent append ([[graft.store.DocumentStore.unseen]]). */
  def q48IdentifierAssignment(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents.select(col("doc_id"))
    val n = col("doc_id")
    val id = n.cast("string")
    val uri = concat(lit("doc/"), id)
    val docType = when(n % 3 === 0, lit("judgment"))
      .when(n % 3 === 1, lit("pressSummary")).otherwise(lit("parserLog"))
    val ncn = when(n % 4 =!= 0, concat(lit("[2024] TEST "), id)).otherwise(lit(null))

    val preexisting = d.filter(n % 5 === 0).select(
      n.as("doc_id"), uri.as("document_uri"), lit("value").as("id_kind"),
      when(n % 10 === 0 && n % 4 =!= 0, concat(lit("[2024] TEST "), id))
        .otherwise(concat(lit("[2020] OLD "), id)).as("id_value"),
      // the incoming NCN, stored earlier as a judgment's or summary's
      when(n % 10 === 0 && n % 4 =!= 0,
          identifierClass(when(n % 3 === 0, lit("judgment")).otherwise(lit("pressSummary"))))
        .otherwise(lit("fclid")).as("id_type"),
      lit("preexisting").as("origin"))

    val assigned = ncnRows(
      d.select(n.as("doc_id"), uri.as("uri"), ncn.as("ncn"), docType.as("doc_type")),
      col("doc_id"), lit("ingest").as("origin"))
    // second delivery of every 7th doc — must collapse in the dedup
    val redelivered = assigned.filter(col("doc_id") % 7 === 0)
    val additions = DocumentStore.unseen(assigned.unionByName(redelivered),
      Some(preexisting.select("document_uri", "id_kind", "id_value")),
      "document_uri", "id_kind", "id_value")

    val hadIdentifiers = preexisting.select(col("document_uri").as("warn_uri")).distinct()
    val post = preexisting.unionByName(additions)
      .join(broadcast(hadIdentifiers), col("document_uri") === col("warn_uri"), "left")
      .withColumn("warned", col("origin") === "ingest" && col("warn_uri").isNotNull)
      .drop("warn_uri")
    post.select("doc_id", "document_uri", "id_kind", "id_value", "id_type", "origin", "warned")
      .orderBy(col("doc_id"), col("origin"), col("id_value"))
  }

  val q48Sql: String =
    """WITH d AS (SELECT doc_id FROM documents),
      |pre AS (
      |  SELECT doc_id, 'doc/' || doc_id AS document_uri, 'value' AS id_kind,
      |    CASE WHEN doc_id % 10 = 0 AND doc_id % 4 != 0 THEN '[2024] TEST ' || doc_id
      |         ELSE '[2020] OLD ' || doc_id END AS id_value,
      |    CASE WHEN doc_id % 10 = 0 AND doc_id % 4 != 0
      |         THEN (CASE WHEN doc_id % 3 = 0 THEN 'ukncn' ELSE 'ukncn-summary' END)
      |         ELSE 'fclid' END AS id_type,
      |    'preexisting' AS origin
      |  FROM d WHERE doc_id % 5 = 0),
      |assigned AS (
      |  SELECT doc_id, 'doc/' || doc_id AS document_uri, 'value' AS id_kind,
      |    '[2024] TEST ' || doc_id AS id_value,
      |    CASE WHEN doc_id % 3 = 0 THEN 'ukncn' ELSE 'ukncn-summary' END AS id_type,
      |    'ingest' AS origin
      |  FROM d WHERE doc_id % 4 != 0 AND doc_id % 3 != 2),
      |adds AS (
      |  SELECT a.* FROM assigned a
      |  WHERE NOT EXISTS (SELECT 1 FROM pre p
      |    WHERE p.document_uri = a.document_uri AND p.id_kind = a.id_kind
      |      AND p.id_value = a.id_value)),
      |post AS (SELECT * FROM pre UNION ALL SELECT * FROM adds)
      |SELECT post.doc_id, document_uri, id_kind, id_value, id_type, origin,
      |  origin = 'ingest' AND EXISTS (SELECT 1 FROM pre p
      |    WHERE p.document_uri = post.document_uri) AS warned
      |FROM post ORDER BY doc_id, origin, id_value""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q30_uri_resolution" -> (q30UriResolution _),
    "q48_identifier_assignment" -> (q48IdentifierAssignment _))

  val oracleSql: Map[String, String] = Map(
    "q30_uri_resolution" -> q30Sql,
    "q48_identifier_assignment" -> q48Sql)
}
