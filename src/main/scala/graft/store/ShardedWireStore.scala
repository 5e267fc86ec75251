package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Wire-protocol specialization of [[ShardedStore]] — the same N-shard
  * routing, but the act round's staging is a SINGLE pass per frame.
  *
  * The generic composition (a [[ShardedStore]] over N [[HttpStore]]s)
  * re-computes every frame once PER SHARD: each shard's applyEffects
  * stages `slice(df, i)` — N Spark jobs per frame, 5·N per round, each
  * re-reading the frame's lineage just to keep 1/N of it. Measured on
  * one host that overhead EATS the lock-parallelism win past 2 shards
  * (2 streams × 20k: 147 docs/s unsharded, 162 at 2 shards, 129 at 4).
  * Here each frame stages in ONE distributed pass: every task computes
  * each row's shard (`pmod(crc32(key), N)` — the same spec'd function
  * the generic store routes by), buffers per shard, and POSTs chunks
  * straight to that shard's endpoint. Staging cost is then
  * shard-count-INDEPENDENT; only the cheap per-shard commit round-trips
  * (which queue on independent server locks, in parallel) scale with N.
  *
  * Replay determinism matches [[HttpStore.txnScope]]: the k-th
  * applyEffects of a scope issues txn `uuid3(scope|shard<i>|applyEffects
  * |k)` on shard i, aborts leftovers first (earning the attempt epoch
  * the commit carries — the zombie guard), so a redelivered round
  * re-issues every shard's exact txn id and each shard's ledger acks it
  * without re-applying. A round that fails on SOME shards replays in
  * full: committed shards ack, failed shards re-apply — the same
  * partial-round convergence the trait documents.
  *
  * Reads and the non-round operations delegate to the generic
  * composition (parallel shard fetch + routed writes) — they are off the
  * ingest hot path. */
final case class ShardedWireStore(spark: SparkSession,
    endpoints: IndexedSeq[String], txnScope: Option[String] = None)
    extends DocumentStore {
  require(endpoints.nonEmpty, "ShardedWireStore needs at least one endpoint")

  private val n = endpoints.size

  private val generic = ShardedStore(endpoints.zipWithIndex.map { case (ep, i) =>
    HttpStore(spark, ep, txnScope.map(s => s"$s|shard$i")): DocumentStore
  })

  /** applyEffects sequence within this scope (separate from the per-shard
    * clients' own counters; the op token "applyEffects" namespaces the
    * derived ids away from theirs). */
  private val txnSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  override def withBatchScope(scope: String): DocumentStore =
    copy(txnScope = Some(scope))

  override def applyEffects(b: EffectBatch): Unit = {
    val frames: Seq[(String, String, DataFrame)] = Seq(
      b.documents.map(("upsertDocuments", "uri", _)),
      b.identifiers.map(("appendIdentifiers", "document_uri", _)),
      b.notifications.map(("appendNotifications", "uri", _)),
      b.properties.map(("upsertProperties", "uri", _)),
      b.assets.map(("appendAssets", "uri", _))).flatten
    if (frames.isEmpty) return
    val seq = txnSeq.getAndIncrement()
    val txns: IndexedSeq[String] = (0 until n).map { i =>
      txnScope match {
        case Some(s) => java.util.UUID.nameUUIDFromBytes(
          s"$s|shard$i|applyEffects|$seq".getBytes("UTF-8")).toString
        case None => java.util.UUID.randomUUID().toString
      }
    }
    // abort-first on every shard (parallel): clears a crashed attempt's
    // staged leftovers and earns the attempt epoch each commit carries
    val epochs: Seq[Long] =
      if (txnScope.isEmpty) Seq.fill(n)(0L)
      else DocumentStore.inParallel((0 until n).map(i => () => {
        val (c, bdy) = HttpStore.post(s"${endpoints(i)}/txn/${txns(i)}/abort",
          Array.emptyByteArray)
        if (c != 200) throw new RuntimeException(s"ShardedWireStore abort: HTTP $c $bdy")
        bdy.trim.toLongOption.getOrElse(0L)
      }))
    // ONE distributed staging pass per frame (frames in parallel — they
    // are disjoint tables and disjoint server part files)
    DocumentStore.inParallel(frames.map { case (op, key, df) =>
      () => stageRouted(op, key, df, txns)
    })
    // one commitBatch per shard, in parallel: the commits queue on N
    // INDEPENDENT server write locks — the applies overlap across shards
    val body = frames.map { case (op, _, df) => s"$op\t${df.schema.json}" }
      .mkString("\n").getBytes("UTF-8")
    DocumentStore.inParallel((0 until n).map(i => () => {
      val (c, bdy) = HttpStore.postCommit(
        s"${endpoints(i)}/txn/${txns(i)}/commitBatch?epoch=${epochs(i)}", body)
      if (c != 200)
        throw new RuntimeException(s"ShardedWireStore commit shard $i: HTTP $c $bdy")
    }))
    ()
  }

  /** Stages `df` for every shard in one pass: each task JSON-encodes its
    * rows WITH a routing shard id, buffers per shard, and POSTs chunks
    * to that shard's `/txn/{txn}?op=` endpoint. Null columns drop from
    * the JSON exactly as [[HttpStore]]'s `toJSON` staging drops them —
    * the server re-parses with the transmitted schema either way. */
  private def stageRouted(op: String, key: String, df: DataFrame,
      txns: IndexedSeq[String]): Unit = {
    val eps = endpoints
    val txnsLocal = txns
    val opLocal = op
    import spark.implicits._
    val routed = df.select(
      pmod(crc32(col(key)), lit(n)).cast("int").as("_1"),
      to_json(struct(df.columns.map(col): _*)).as("_2")).as[(Int, String)]
    routed.foreachPartition { (it: Iterator[(Int, String)]) =>
      val bufs = Array.fill(eps.size)(new StringBuilder)
      def flush(s: Int): Unit = if (bufs(s).nonEmpty) {
        val (c, b) = HttpStore.post(s"${eps(s)}/txn/${txnsLocal(s)}?op=$opLocal",
          bufs(s).toString.getBytes("UTF-8"))
        if (c != 200) throw new RuntimeException(s"ShardedWireStore stage: HTTP $c $b")
        bufs(s).clear()
      }
      it.foreach { case (s, line) =>
        bufs(s).append(line).append('\n')
        if (bufs(s).length >= HttpStore.StageChunkChars) flush(s)
      }
      bufs.indices.foreach(flush)
    }
  }

  def read(t: String): Option[DataFrame] = generic.read(t)
  def upsertDocuments(updates: DataFrame): Unit = generic.upsertDocuments(updates)
  def setPublished(decisions: DataFrame): Unit = generic.setPublished(decisions)
  def appendIdentifiers(rows: DataFrame): Unit = generic.appendIdentifiers(rows)
  def upsertProperties(rows: DataFrame): Unit = generic.upsertProperties(rows)
  def appendAssets(rows: DataFrame): Unit = generic.appendAssets(rows)
  def appendNotifications(rows: DataFrame): Unit = generic.appendNotifications(rows)
  def appendFailures(rows: DataFrame): Unit = generic.appendFailures(rows)
  def assetRoot: String = generic.assetRoot
}
