package graft.store

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Wire-protocol [[DocumentStore]]: a client speaking the
  * MarkLogic-connector-shaped REST contract against any server that
  * implements it ([[DocStoreServer]] is the in-process stub the parity
  * spec runs; the reference's act phase writes through exactly such an
  * HTTP API client — `/root/reference/src/ds_caselaw_ingester/
  * ingester.py:225-284,327-359` via `api_client`).
  *
  * Protocol (all bodies JSON — schemas travel as Spark's `schema.json`,
  * rows as JSON-lines):
  *
  *   - `POST /txn/{id}?op=<op>`        — stage a chunk of JSON-lines rows
  *     of operation `op` for transaction `id`. Called FROM THE EXECUTORS,
  *     one or more chunks per partition, so bulk-write bytes flow in
  *     parallel from wherever the rows live — the driver never
  *     materializes a batch (the MarkLogic connector's bulk-write shape).
  *   - `POST /txn/{id}/commitBatch?epoch=<e>` — the ONE commit route.
  *     Body lines are `op<TAB>schemaJson`; the server parses each op's
  *     staged rows with its schema and applies them as ONE batch (merge
  *     semantics such as the per-batch version bump need the whole
  *     batch, so the commit — not the stage — is the operation
  *     boundary). The act round's five effect ops commit together; a
  *     single-op write (`setPublished`, `appendFailures`, or any one
  *     effect op) is a one-line batch. `epoch` is the attempt epoch the
  *     client's own abort earned (0 on a first, un-aborted attempt); a
  *     stale epoch answers 409 without applying — the zombie-commit guard.
  *   - `POST /txn/{id}/abort`          — clear a previous FAILED
  *     attempt's staged parts before re-staging the same deterministic
  *     txn id; answers the txn's bumped attempt epoch.
  *   - `GET /tables/{t}/schema`        — the table's schema, 404 until
  *     the table's first write (the `read` → None contract). The server
  *     also materializes a point-in-time snapshot of the table and
  *     answers with its token + part count (`X-Graft-Snap`,
  *     `X-Graft-Parts` headers) — a consistent read transaction.
  *   - `GET /snap/{token}/{i}`         — one static JSON-lines part of
  *     that snapshot. `read` fans the parts across the cluster (each
  *     executor pulls its own — the connector's partitioned-read shape),
  *     then parses with the transmitted schema. Serving a part is pure
  *     file IO server-side, so fetch tasks may saturate every cluster
  *     core without deadlocking an in-process server (see
  *     [[DocStoreServer]]'s deadlock note).
  *   - `GET /assetRoot`                — the shared-filesystem directory
  *     asset BYTES are copied under. Assets are an object-store concern
  *     in the reference too (S3, not MarkLogic): client and server both
  *     resolve the same Hadoop-FS URI, so the byte path never rides HTTP.
  *
  * FAILURE CONTRACT: any non-200 response (or connect failure) throws —
  * the caller's batch fails un-committed and streaming redelivery
  * replays it, exactly as the trait requires. A crash between stage and
  * commit leaves an orphaned transaction the server garbage-collects;
  * nothing is applied until commit.
  *
  * Everything in these tables is JSON-lossless (strings, booleans,
  * integers — no binary, no floating point), so the wire encoding
  * preserves row identity bit-for-bit; `HttpStoreSpec` pins
  * LocalStore/HttpStore row-identity through the golden-package ingest.
  */
final case class HttpStore(spark: SparkSession, endpoint: String,
    txnScope: Option[String] = None)
    extends WireWrites {

  def endpoints: IndexedSeq[String] = IndexedSeq(endpoint)

  override def withBatchScope(scope: String): DocumentStore =
    copy(txnScope = Some(scope))

  def read(t: String): Option[DataFrame] = {
    val (code, body, headers) = HttpStore.getWithHeaders(s"$endpoint/tables/$t/schema")
    if (code == 404) None
    else if (code != 200) throw new RuntimeException(s"HttpStore schema($t): HTTP $code $body")
    else {
      val schema = DataType.fromJson(body).asInstanceOf[StructType]
      val snap = headers.getOrElse("X-Graft-Snap",
        throw new RuntimeException(s"HttpStore schema($t): missing X-Graft-Snap"))
      val parts = headers.getOrElse("X-Graft-Parts", "0").toInt
      if (parts == 0)
        Some(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
      else {
        val ep = endpoint
        import spark.implicits._
        // one task per snapshot part: each executor pulls its own slice;
        // the server side is static file IO (see DocStoreServer's
        // deadlock note), so fetch tasks can saturate the cluster safely
        val lines = spark.range(0, parts.toLong, 1, parts).as[Long].mapPartitions { it =>
          it.flatMap { i =>
            val (c, b) = HttpStore.get(s"$ep/snap/$snap/$i")
            if (c != 200) throw new RuntimeException(s"HttpStore read($t) part $i: HTTP $c $b")
            b.linesIterator.filter(_.nonEmpty)
          }
        }
        Some(spark.read.schema(schema).json(lines))
      }
    }
  }

  lazy val assetRoot: String = {
    val (c, b) = HttpStore.get(s"$endpoint/assetRoot")
    if (c != 200) throw new RuntimeException(s"HttpStore assetRoot: HTTP $c $b")
    b.trim
  }
}

/** The write half of both wire clients ([[HttpStore]] on one server,
  * [[ShardedWireStore]] on N): the act round and every single-op write is
  * one [[HttpStore.commitRound]] over the client's endpoints, so the two
  * clients share one transaction protocol.
  *
  * Per-instance write counter: with a `txnScope`, the n-th write of the
  * scope gets txn id `uuid3(scope|<op>|n)`, `<op>` being `applyEffects`
  * for a round and the operation's name for a single-op write. The
  * batch's write sequence is deterministic (the act phase is
  * straight-line code), so a replayed batch re-issues the SAME txn ids
  * and the server's commit ledger recognizes every already-applied
  * commit. A fresh scoped instance per replay (`withBatchScope`) restarts
  * the counter. */
private[store] trait WireWrites extends DocumentStore {
  def endpoints: IndexedSeq[String]
  def txnScope: Option[String]

  private val txnSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  private def write(token: String, frames: Seq[(String, DataFrame)]): Unit =
    if (frames.nonEmpty) HttpStore.commitRound(endpoints, txnScope,
      s"$token|${txnSeq.getAndIncrement()}", frames)

  private def single(op: String, df: DataFrame): Unit = write(op, Seq(op -> df))

  /** The whole act round is ONE wire transaction per endpoint: against
    * per-op commits this replaces 5 commit round-trips + 5 ledger entries
    * with 1 of each, the server's own [[LocalStore.applyEffects]] overlaps
    * the disjoint table writes, and a replayed round is acked WHOLE by the
    * ledger — the exactly-once unit is the round. */
  override def applyEffects(b: EffectBatch): Unit = write("applyEffects", Seq(
    b.documents.map("upsertDocuments" -> _),
    b.identifiers.map("appendIdentifiers" -> _),
    b.notifications.map("appendNotifications" -> _),
    b.properties.map("upsertProperties" -> _),
    b.assets.map("appendAssets" -> _)).flatten)

  def upsertDocuments(updates: DataFrame): Unit = single("upsertDocuments", updates)
  def setPublished(decisions: DataFrame): Unit = single("setPublished", decisions)
  def appendIdentifiers(rows: DataFrame): Unit = single("appendIdentifiers", rows)
  def upsertProperties(rows: DataFrame): Unit = single("upsertProperties", rows)
  def appendAssets(rows: DataFrame): Unit = single("appendAssets", rows)
  def appendNotifications(rows: DataFrame): Unit = single("appendNotifications", rows)
  def appendFailures(rows: DataFrame): Unit = single("appendFailures", rows)
}

object HttpStore {
  /** Stage-chunk flush threshold (chars ≈ bytes for this ASCII-heavy
    * payload): bounds per-task buffering regardless of partition size. */
  private[store] val StageChunkChars = 4 << 20

  /** Commit posts wait for the SERVER-side apply, which queues behind the
    * store's write lock — with several writers sharing one store a commit
    * legitimately waits for every round ahead of it (minutes each at
    * 20k-doc rounds), so commits get an hour where ordinary staging/read
    * calls keep the tight 5-minute timeout. A timeout here is not
    * harmless: the server may still APPLY after the client gave up (the
    * lost-ack window — the ledger dedupes the replay), so cutting a
    * healthy-but-queued commit just converts progress into a restart. */
  private[store] val CommitReadTimeoutMs = 3600000

  /** The one wire write path. A write of `frames` (op name → rows) to
    * `endpoints` is one transaction per endpoint:
    *
    *   1. scoped writes abort every endpoint's txn first, in parallel — a
    *      replayed write re-stages under the SAME deterministic txn id, so
    *      a failed attempt's staged leftovers must go (or the committed
    *      frame doubles), and each abort earns the attempt epoch that
    *      endpoint's commit carries (the zombie guard, see
    *      [[DocStoreServer]]'s `epochs`). A pre-epoch server's bare body
    *      degrades to epoch 0;
    *   2. each frame stages in ONE executor pass (frames concurrently —
    *      disjoint tables, disjoint server part files): every task routes
    *      its rows to shard `pmod(crc32(key), N)` — the document key
    *      (`uri`, `document_uri` for identifiers) or `msg_id` for failures,
    *      so every row about one document lands on one shard and per-batch
    *      merge semantics hold per shard — buffers per shard and POSTs
    *      bounded chunks to that shard's `/txn/{id}?op=`. With N = 1 every
    *      row goes to shard 0 and no hash is computed. Null columns drop
    *      from the JSON; the server re-parses with the transmitted schema;
    *   3. one `commitBatch` per endpoint, in parallel — the commits queue
    *      on N INDEPENDENT server write locks, so the applies overlap.
    *
    * Scoped txn ids are `uuid3(scope|name)` on one endpoint and
    * `uuid3(scope|shard<i>|name)` on shard i of several. A write that
    * fails on SOME shards replays in full: committed shards ack, failed
    * shards re-apply — the partial-round convergence the trait documents. */
  private[store] def commitRound(endpoints: IndexedSeq[String], scope: Option[String],
      name: String, frames: Seq[(String, DataFrame)]): Unit = {
    val n = endpoints.size
    val txns = endpoints.indices.map { i =>
      scope match {
        case Some(s) =>
          val shardScope = if (n == 1) s else s"$s|shard$i"
          java.util.UUID.nameUUIDFromBytes(s"$shardScope|$name".getBytes("UTF-8")).toString
        case None => java.util.UUID.randomUUID().toString
      }
    }
    val epochs: Seq[Long] =
      if (scope.isEmpty) Seq.fill(n)(0L)
      else DocumentStore.inParallel(endpoints.indices.map(i => () => {
        val (c, b) = post(s"${endpoints(i)}/txn/${txns(i)}/abort", Array.emptyByteArray)
        if (c != 200) throw new RuntimeException(s"HttpStore abort: HTTP $c $b")
        b.trim.toLongOption.getOrElse(0L)
      }))
    DocumentStore.inParallel(frames.map { case (op, df) => () =>
      val key = op match {
        case "appendIdentifiers" => "document_uri"
        case "appendFailures" => "msg_id"
        case _ => "uri"
      }
      val shard = if (n == 1) lit(0) else pmod(crc32(col(key)), lit(n)).cast("int")
      val urls = endpoints.indices.map(i => s"${endpoints(i)}/txn/${txns(i)}?op=$op")
      df.select(shard, to_json(struct(df.columns.toIndexedSeq.map(col): _*)))
        .foreachPartition { (rows: Iterator[Row]) =>
          val bufs = Array.fill(n)(new StringBuilder)
          def flush(s: Int): Unit = if (bufs(s).nonEmpty) {
            val (c, b) = post(urls(s), bufs(s).toString.getBytes("UTF-8"))
            if (c != 200) throw new RuntimeException(s"HttpStore stage: HTTP $c $b")
            bufs(s).clear()
          }
          rows.foreach { r =>
            val s = r.getInt(0)
            bufs(s).append(r.getString(1)).append('\n')
            if (bufs(s).length >= StageChunkChars) flush(s)
          }
          bufs.indices.foreach(flush)
        }
    })
    val body = frames.map { case (op, df) => s"$op\t${df.schema.json}" }
      .mkString("\n").getBytes("UTF-8")
    DocumentStore.inParallel(endpoints.indices.map(i => () => {
      val (c, b) = postCommit(
        s"${endpoints(i)}/txn/${txns(i)}/commitBatch?epoch=${epochs(i)}", body)
      if (c != 200) throw new RuntimeException(s"HttpStore $name commit on ${endpoints(i)}: HTTP $c $b")
    }))
    ()
  }

  private def request(method: String, url: String,
      body: Option[Array[Byte]],
      readTimeoutMs: Int = 300000): (Int, String, Map[String, String]) = {
    val conn = new java.net.URI(url).toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    try {
      conn.setRequestMethod(method)
      conn.setConnectTimeout(10000)
      conn.setReadTimeout(readTimeoutMs)
      body.foreach { bytes =>
        conn.setDoOutput(true)
        conn.setFixedLengthStreamingMode(bytes.length)
        val out = conn.getOutputStream
        try out.write(bytes) finally out.close()
      }
      val code = conn.getResponseCode
      val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val text =
        if (in == null) ""
        else try new String(in.readAllBytes(), "UTF-8") finally in.close()
      val headers = Seq("X-Graft-Snap", "X-Graft-Parts")
        .flatMap(h => Option(conn.getHeaderField(h)).map(h -> _)).toMap
      (code, text, headers)
    } finally conn.disconnect()
  }

  private[store] def get(url: String): (Int, String) = {
    val (c, b, _) = request("GET", url, None); (c, b)
  }
  private[store] def getWithHeaders(url: String): (Int, String, Map[String, String]) =
    request("GET", url, None)
  private[store] def post(url: String, body: Array[Byte]): (Int, String) = {
    val (c, b, _) = request("POST", url, Some(body)); (c, b)
  }
  /** Post with the long commit timeout (see [[CommitReadTimeoutMs]]). */
  private[store] def postCommit(url: String, body: Array[Byte]): (Int, String) = {
    val (c, b, _) = request("POST", url, Some(body), CommitReadTimeoutMs); (c, b)
  }
}
