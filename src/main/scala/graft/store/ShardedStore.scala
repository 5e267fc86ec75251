package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Horizontally sharded [[DocumentStore]]: routes every row to one of N
  * underlying stores by a stable hash of its document key — THE 100 TB
  * ingest shape this repo's own measurements selected. The shared-store
  * scaling table (BASELINE.md, round 15) showed a single store's write
  * lock serializes applies so ADDING WRITERS never helps (170/157/154
  * combined docs/s at 1/2/3 streams into one server); the lever that
  * remains is making each lock protect 1/N of the data. With N shards a
  * round's apply splits into N independent applies on N independent
  * locks — they run CONCURRENTLY here (one thread per shard), and S
  * writer fleets contend per shard only 1/N as often, each apply ~N×
  * smaller. This is exactly how the reference's document store scales in
  * deployment (a MarkLogic cluster shards its forests; an S3 bucket
  * shards by prefix) — the seam keeps the pipeline agnostic.
  *
  * ROUTING — `pmod(crc32(key), N)` on the document key column of each
  * table (`uri`; `document_uri` for identifiers; `msg_id` for failures).
  * crc32 rather than Spark's internal murmur3 for the same reason
  * [[LocalStore]] buckets with it: a spec'd, version-independent function,
  * so the shard assignment outlives Spark upgrades. Routing by DOCUMENT
  * key means every row about one document — its MERGE row, identifiers,
  * properties, assets, notifications — lands on the SAME shard, so
  * per-batch merge semantics (version bump once per batch, winner rule,
  * set-dedup on natural keys) hold per shard exactly as they hold
  * globally: the global table is a disjoint union keyed by uri.
  *
  * READS union the shards (`unionByName`), preserving each
  * implementation's read contract (None until every shard lacks the
  * table). The asset BYTE tree is NOT sharded: assets are an object-store
  * concern (S3 in the reference) that scales by key prefix on its own —
  * all shards share `shards.head.assetRoot`, which deployments point at
  * one shared Hadoop-FS/S3 root.
  *
  * FAILURE CONTRACT: a shard apply that fails fails the whole batch
  * (first failure propagates after all shard threads finish), streaming
  * redelivery replays the round, and each shard's own idempotency (wire
  * ledger / keyed merges) converges it — a partial round ACROSS shards
  * is the same already-documented exposure as a partial round across
  * tables. [[withBatchScope]] derives a per-shard scope, so a replayed
  * round re-issues each shard's exact txn ids and wire shards ack
  * already-applied commits without re-applying. */
final case class ShardedStore(shards: IndexedSeq[DocumentStore])
    extends DocumentStore {
  require(shards.nonEmpty, "ShardedStore needs at least one shard")

  def spark: SparkSession = shards.head.spark

  private val n = shards.size

  /** The table's routing key: the document key for all document-keyed
    * tables, the message id for the DLQ. */
  private def keyCol(table: String): String = table match {
    case "identifiers" => "document_uri"
    case "failures"    => "msg_id"
    case _             => "uri"
  }

  private def shardOf(key: Column): Column = pmod(crc32(key), lit(n))

  private def slice(df: DataFrame, key: String, i: Int): DataFrame =
    if (n == 1) df else df.filter(shardOf(col(key)) === lit(i))

  /** Runs one thunk per shard CONCURRENTLY and waits for all; the first
    * failure rethrows after every thread finishes (no shard is
    * interrupted mid-apply — a torn apply inside a shard is the shard's
    * own crash contract, not ours to create). */
  private def eachShard(body: Int => Unit): Unit = {
    DocumentStore.inParallel((0 until n).map(i => () => body(i))); ()
  }

  override def withBatchScope(scope: String): DocumentStore =
    ShardedStore(shards.zipWithIndex.map { case (s, i) =>
      s.withBatchScope(s"$scope|shard$i")
    })

  /** One round fans out to N per-shard rounds applied concurrently —
    * each shard receives only its rows of each frame and applies them
    * through its OWN overlapped/one-commit path ([[LocalStore]]
    * concurrent table writes; [[HttpStore]] one wire commit per shard). */
  override def applyEffects(b: EffectBatch): Unit =
    eachShard { i =>
      shards(i).applyEffects(EffectBatch(
        documents = b.documents.map(slice(_, "uri", i)),
        identifiers = b.identifiers.map(slice(_, "document_uri", i)),
        notifications = b.notifications.map(slice(_, "uri", i)),
        properties = b.properties.map(slice(_, "uri", i)),
        assets = b.assets.map(slice(_, "uri", i))))
    }

  def read(t: String): Option[DataFrame] = {
    // shard reads fetch in PARALLEL: a wire shard's schema request
    // materializes a server-side snapshot, so serial fetches would pay
    // N snapshot round-trips end-to-end per resolution read
    val parts = DocumentStore.inParallel((0 until n).map(i =>
      () => shards(i).read(t))).flatten
    if (parts.isEmpty) None else Some(parts.reduce(_.unionByName(_)))
  }

  private def route(t: String, rows: DataFrame)(op: (DocumentStore, DataFrame) => Unit): Unit =
    eachShard(i => op(shards(i), slice(rows, keyCol(t), i)))

  def upsertDocuments(updates: DataFrame): Unit =
    route("documents", updates)(_.upsertDocuments(_))
  def setPublished(decisions: DataFrame): Unit =
    route("documents", decisions)(_.setPublished(_))
  def appendIdentifiers(rows: DataFrame): Unit =
    route("identifiers", rows)(_.appendIdentifiers(_))
  def upsertProperties(rows: DataFrame): Unit =
    route("properties", rows)(_.upsertProperties(_))
  def appendAssets(rows: DataFrame): Unit =
    route("assets", rows)(_.appendAssets(_))
  def appendNotifications(rows: DataFrame): Unit =
    route("notifications", rows)(_.appendNotifications(_))
  def appendFailures(rows: DataFrame): Unit =
    route("failures", rows)(_.appendFailures(_))

  /** Shared byte root (see class doc: the byte tree scales by prefix on
    * the object store itself, so it is not table-sharded). */
  def assetRoot: String = shards.head.assetRoot
}
