package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Horizontally sharded wire store: N [[DocStoreServer]]-shaped
  * endpoints, every row routed to one of them by a stable hash of its
  * document key — THE 100 TB ingest shape this repo's own measurements
  * selected. A single store's write lock serializes applies, so ADDING
  * WRITERS never helps (BASELINE.md, round 15: 170/157/154 combined
  * docs/s at 1/2/3 streams into one server); the lever that remains is
  * making each lock protect 1/N of the data. A round's apply splits into
  * N independent applies on N independent locks that run concurrently,
  * each ~N× smaller. This is how the reference's document store scales
  * in deployment (a MarkLogic cluster shards its forests; an S3 bucket
  * shards by prefix).
  *
  * WRITES are [[HttpStore]]'s own write path ([[HttpStore.commitRound]])
  * over all N endpoints: each frame stages in ONE distributed pass whose
  * tasks route every row by `pmod(crc32(key), N)` (`uri`;
  * `document_uri` for identifiers; `msg_id` for failures — crc32 for the
  * reason [[LocalStore]] buckets with it: a spec'd, version-independent
  * function), so staging cost is shard-count-INDEPENDENT and only the
  * cheap per-shard commits, which run in parallel, scale with N. Routing
  * by DOCUMENT key puts every row about one document on the SAME shard,
  * so per-batch merge semantics (version bump once per batch, winner
  * rule, set-dedup on natural keys) hold per shard exactly as they hold
  * globally: the global table is a disjoint union keyed by uri.
  *
  * READS fetch every shard in parallel (a wire shard's schema request
  * materializes a server-side snapshot, so serial fetches would pay N
  * snapshot round-trips per read) and union them (`unionByName`); None
  * until some shard has the table. The asset BYTE tree is NOT sharded:
  * assets are an object-store concern (S3 in the reference) that scales
  * by key prefix on its own, so all shards share the first shard's
  * `assetRoot`, which deployments point at one shared Hadoop-FS/S3 root.
  *
  * Replay: a scoped write issues txn `uuid3(scope|shard<i>|<op>|k)` on
  * shard i, so a redelivered round re-issues every shard's exact txn id
  * and each shard's ledger acks it without re-applying. */
final case class ShardedWireStore(spark: SparkSession,
    endpoints: IndexedSeq[String], txnScope: Option[String] = None)
    extends WireWrites {
  require(endpoints.nonEmpty, "ShardedWireStore needs at least one endpoint")

  private val shards = endpoints.map(HttpStore(spark, _))

  override def withBatchScope(scope: String): DocumentStore =
    copy(txnScope = Some(scope))

  def read(t: String): Option[DataFrame] = {
    val parts = DocumentStore.inParallel(shards.map(s => () => s.read(t))).flatten
    if (parts.isEmpty) None else Some(parts.reduce(_.unionByName(_)))
  }

  def assetRoot: String = shards.head.assetRoot
}
