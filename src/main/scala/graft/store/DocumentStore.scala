package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The act phase's write seam (SURVEY.md W1–W11/J4) — the boundary the
  * reference draws at its MarkLogic API client + S3 asset bucket
  * (`/root/reference/src/ds_caselaw_ingester/ingester.py:225-284,327-418`):
  * every effect the ingest pipeline performs goes through exactly this
  * surface, so the pipeline is store-agnostic by construction.
  *
  * Two implementations prove the seam:
  *
  *   - [[LocalStore]] — hash-bucketed parquet MERGE tables (the
  *     self-contained sandbox store; what the tables become on a cluster
  *     is a Delta/Iceberg MERGE INTO);
  *   - [[HttpStore]] — a wire-protocol client speaking a
  *     MarkLogic-connector-shaped REST contract (bulk JSON-lines writes,
  *     partitioned reads) against any server implementing it;
  *     [[DocStoreServer]] is the in-process stub used by the parity spec.
  *
  * CONTRACT (what every implementation must provide; `HttpStoreSpec`
  * pins LocalStore/HttpStore row-identity through the golden-package
  * ingest):
  *
  *   - `upsertDocuments`: MERGE on uri. New URIs insert at version 1;
  *     existing ones take the new row's fields and bump the version
  *     counter ONCE PER BATCH (duplicate-URI batches collapse to one
  *     deterministic winner — greatest xml). An optional nullable
  *     `will_publish` column folds the W10 publish decision into the
  *     same write; null leaves the flag untouched.
  *   - `setPublished`: standalone W10 — decisions for absent URIs are
  *     no-ops; null decisions leave the flag untouched; duplicate-URI
  *     batches pick the same winner rule as the MERGE.
  *   - `appendIdentifiers` / `appendAssets`: set semantics on the natural
  *     key — a redelivered package must not duplicate its rows
  *     (`ingester.py:267-279` adds to a set and warns).
  *   - `upsertProperties`: overwrite on (uri, name) (`set_property`).
  *   - `appendNotifications` / `appendFailures`: append-only ledgers.
  *   - `read`/`documents`/`failures`: table reads as DataFrames with the
  *     schemas [[DocumentStore.schemas]] fixes — `read` returns None
  *     until the table's first write.
  *   - `assetRoot`: the Hadoop-FS directory asset BYTES are copied under
  *     (`<assetRoot>/<uri>/<dest_filename>`) — assets are an object-store
  *     concern in the reference too (S3, not MarkLogic), so both
  *     implementations share the filesystem byte path.
  *
  * FAILURE CONTRACT: a write that cannot be durably applied must THROW —
  * the caller's batch fails un-committed and streaming redelivery
  * replays it; every write above is idempotent under replay (keyed
  * merges converge, at-least-once appends are deduplicated by the
  * implementation), so retry semantics are preserved across stores.
  */
/** One act-phase write round: the document MERGE plus the four independent
  * side-table writes ([[graft.ingest.PackageIngest.ingestDs]] steps 1–5).
  * The five frames target five DISJOINT tables and every decision in them
  * derives from PRE-batch store state (the act phase checkpoints its
  * resolution before any effect runs), so implementations are free to
  * apply them in ANY order — including concurrently, or as one wire
  * commit — and a completed round realizes the same post-batch state as
  * the numbered sequential order. A crash MID-round can land any subset;
  * that is the trait's already-documented exposure (redelivery replays
  * the batch, every effect is idempotent, replay converges). */
final case class EffectBatch(
    documents: Option[DataFrame] = None,      // upsertDocuments
    identifiers: Option[DataFrame] = None,    // appendIdentifiers
    notifications: Option[DataFrame] = None,  // appendNotifications
    properties: Option[DataFrame] = None,     // upsertProperties
    assets: Option[DataFrame] = None)         // appendAssets

trait DocumentStore {
  def spark: SparkSession

  /** Replay-idempotency seam: returns a view of this store whose writes
    * carry a DETERMINISTIC per-batch transaction identity derived from
    * `scope` (the caller's replay unit — streaming passes its micro-batch
    * id). A store with a commit ledger (e.g. [[HttpStore]] →
    * [[DocStoreServer]]) uses the identity to recognize a replayed commit
    * — the batch that lost its ack after the server applied it — and ack
    * it WITHOUT re-applying, upgrading at-least-once redelivery to
    * exactly-once table state (`HttpStoreChaosSpec`). Default: the store
    * itself (stores whose writes are not transactionally deduplicated
    * keep the trait's documented at-least-once convergence). */
  def withBatchScope(scope: String): DocumentStore = this

  /** Apply one [[EffectBatch]] round. Default: sequential delegation in
    * the act phase's numbered order — semantically sufficient for any
    * store. Implementations override to OVERLAP the five disjoint-table
    * writes ([[LocalStore]]: one concurrent Spark job per table) or to
    * collapse them into one wire commit ([[HttpStore]]: a single
    * multi-table transaction, one ledger entry, one round trip) — the
    * fix for the measured ingest bottleneck (BASELINE.md: 7 sequential
    * table commits were 49% of ingest wall). */
  def applyEffects(b: EffectBatch): Unit = {
    b.documents.foreach(upsertDocuments)
    b.identifiers.foreach(appendIdentifiers)
    b.notifications.foreach(appendNotifications)
    b.properties.foreach(upsertProperties)
    b.assets.foreach(appendAssets)
  }

  def read(t: String): Option[DataFrame]
  def upsertDocuments(updates: DataFrame): Unit
  def setPublished(decisions: DataFrame): Unit
  def appendIdentifiers(rows: DataFrame): Unit
  def upsertProperties(rows: DataFrame): Unit
  def appendAssets(rows: DataFrame): Unit
  def appendNotifications(rows: DataFrame): Unit
  def appendFailures(rows: DataFrame): Unit
  def assetRoot: String

  def documents: DataFrame = read("documents").getOrElse(DocumentStore.empty(spark, "documents"))
  def failures: DataFrame = read("failures").getOrElse(DocumentStore.empty(spark, "failures"))
}

object DocumentStore {
  import org.apache.spark.sql.types._

  /** Runs the thunks concurrently (one thread each), returns results in
    * order; the first failure (in thunk order) rethrows with its original
    * type after every thread finishes — none is interrupted mid-write. */
  private[store] def inParallel[T](thunks: Seq[() => T]): Seq[T] =
    if (thunks.sizeIs <= 1) thunks.map(_.apply())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
      try {
        val fs = thunks.map(t => pool.submit(new java.util.concurrent.Callable[T] {
          def call(): T = t()
        }))
        var failure: Throwable = null
        val out = fs.map { f =>
          try Some(f.get())
          catch {
            case e: java.util.concurrent.ExecutionException =>
              if (failure == null) failure = e.getCause
              None
          }
        }
        if (failure != null) throw failure
        out.map(_.get)
      } finally pool.shutdownNow()
    }

  /** Table `t` with no rows, under its [[schemas]] entry — a local
    * relation, so the optimizer can prune joins against it. */
  def empty(spark: SparkSession, t: String): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schemas(t))

  /** Idempotent append on a natural key: the rows whose `key` is in
    * neither an earlier row nor `current` — set semantics for a
    * redelivered package (`ingester.py:267-279` adds to a set). */
  def unseen(rows: DataFrame, current: Option[DataFrame], key: String*): DataFrame = {
    val u = rows.dropDuplicates(key)
    current.fold(u)(c => u.join(c, key, "left_anti"))
  }

  /** The store's table schemas — the cross-implementation contract the
    * parity spec compares against (names, types, order). */
  val schemas: Map[String, StructType] = Map(
    "documents" -> StructType(Seq(
      StructField("uri", StringType),
      StructField("xml", StringType),
      StructField("doc_type", StringType),
      StructField("annotation_message", StringType),
      StructField("annotation_payload", StringType),
      StructField("automated", BooleanType),
      StructField("upload_state", StringType),
      StructField("version", IntegerType),
      StructField("is_published", BooleanType))),
    "identifiers" -> StructType(Seq(
      StructField("document_uri", StringType),
      StructField("id_kind", StringType),
      StructField("id_value", StringType),
      StructField("id_type", StringType))),
    "properties" -> StructType(Seq(
      StructField("uri", StringType),
      StructField("name", StringType),
      StructField("value", StringType))),
    "assets" -> StructType(Seq(
      StructField("uri", StringType),
      StructField("asset_type", StringType),
      StructField("dest_filename", StringType),
      StructField("src_member", StringType))),
    "notifications" -> StructType(Seq(
      StructField("uri", StringType),
      StructField("action", StringType),
      StructField("payload", StringType),
      StructField("delivered", BooleanType))),
    "failures" -> StructType(Seq(
      StructField("msg_id", StringType),
      StructField("error", StringType),
      StructField("terminal", BooleanType))))
}
