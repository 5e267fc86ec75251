package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  *   - `POST /txn/{id}`                — stage a chunk of JSON-lines rows
  *     for transaction `id`. Called FROM THE EXECUTORS, one or more
  *     chunks per partition, so bulk-write bytes flow in parallel from
  *     wherever the rows live — the driver never materializes a batch
  *     (the MarkLogic connector's bulk-write shape).
  *   - `POST /txn/{id}/commit?op=<op>&epoch=<e>` — body carries the
  *     batch's schema; the server parses the staged rows with it and
  *     applies the named [[DocumentStore]] operation as ONE batch (merge
  *     semantics such as the per-batch version bump need the whole
  *     batch, so the commit — not the stage — is the operation
  *     boundary). `epoch` is the attempt epoch the client's own abort
  *     earned (0 on a first, un-aborted attempt); a stale epoch answers
  *     409 without applying — the zombie-commit guard.
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
    extends DocumentStore {

  /** Per-instance op counter: with a `txnScope`, the n-th write of the
    * scope gets txn id `uuid3(scope|op|n)` — the batch's write sequence
    * is deterministic (the act phase is straight-line code), so a
    * replayed batch re-issues the SAME txn ids and the server's commit
    * ledger recognizes every already-applied commit. A fresh scoped
    * instance per replay (see [[withBatchScope]]) restarts the counter. */
  private val txnSeq = new java.util.concurrent.atomic.AtomicInteger(0)

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

  /** Stage the batch executor-side in bounded chunks, then commit it as
    * one named operation. The op's semantics run server-side against the
    * WHOLE staged batch — stage order across partitions is immaterial
    * because every [[DocumentStore]] operation is defined on the batch
    * as a multiset. */
  private def send(op: String, df: DataFrame): Unit = {
    val txn = txnScope match {
      case Some(s) => java.util.UUID.nameUUIDFromBytes(
        s"$s|$op|${txnSeq.getAndIncrement()}".getBytes("UTF-8")).toString
      case None => java.util.UUID.randomUUID().toString
    }
    // scoped txns replay with the SAME id — clear any staged leftovers of
    // a previous failed attempt before re-staging, or the committed frame
    // doubles (append-only ledgers would keep the duplicates)
    val epoch = if (txnScope.isDefined) abort(endpoint, txn) else 0L
    stage(endpoint, txn, None, df)
    val (c, b) = HttpStore.postCommit(
      s"$endpoint/txn/$txn/commit?op=$op&epoch=$epoch",
      df.schema.json.getBytes("UTF-8"))
    if (c != 200) throw new RuntimeException(s"HttpStore $op: HTTP $c $b")
  }

  /** Returns the attempt epoch the abort earned: the commit of THIS
    * attempt carries it, so a zombie commit of the same txn formed before
    * the abort (queued past its own client timeout on the server's write
    * lock) fails the server's epoch check instead of applying whatever
    * staging holds mid-re-stage (the lost-update window the server's
    * `epochs` scaladoc documents). A pre-epoch server answering a bare
    * "aborted" body degrades to epoch 0 — the old at-least-once shape. */
  private def abort(ep: String, txn: String): Long = {
    val (c, b) = HttpStore.post(s"$ep/txn/$txn/abort", Array.emptyByteArray)
    if (c != 200) throw new RuntimeException(s"HttpStore abort: HTTP $c $b")
    b.trim.toLongOption.getOrElse(0L)
  }

  /** Executor-side JSON-lines staging of one frame under `txn`; with an
    * `op`, parts land tagged for the multi-table commitBatch. */
  private def stage(ep: String, txn: String, op: Option[String], df: DataFrame): Unit = {
    val url = op match {
      case Some(o) => s"$ep/txn/$txn?op=$o"
      case None => s"$ep/txn/$txn"
    }
    df.toJSON.foreachPartition { (lines: Iterator[String]) =>
      val buf = new StringBuilder
      def flush(): Unit = if (buf.nonEmpty) {
        val (c, b) = HttpStore.post(url, buf.toString.getBytes("UTF-8"))
        if (c != 200) throw new RuntimeException(s"HttpStore stage: HTTP $c $b")
        buf.clear()
      }
      lines.foreach { l =>
        buf.append(l).append('\n')
        if (buf.length >= HttpStore.StageChunkChars) flush()
      }
      flush()
    }
  }

  /** Multi-table batch commit — ONE wire transaction for the whole act
    * round. Each frame stages executor-side under the same txn id with an
    * `?op=` tag (the five staging jobs run concurrently — disjoint
    * frames, disjoint server part files), then a single
    * `POST /txn/{id}/commitBatch` whose body lists `op<TAB>schemaJson`
    * lines applies every table server-side under one lock and ONE ledger
    * entry. Against the sequential per-op path this replaces 5 commit
    * round-trips + 5 ledger entries with 1 of each, and the server's own
    * [[LocalStore.applyEffects]] overlaps the disjoint table writes. A
    * replayed batch re-issues the same txn id and the ledger acks the
    * WHOLE round without re-applying — the exactly-once unit becomes the
    * round, strictly stronger than per-op dedup. */
  override def applyEffects(b: EffectBatch): Unit = {
    val frames: Seq[(String, DataFrame)] = Seq(
      b.documents.map("upsertDocuments" -> _),
      b.identifiers.map("appendIdentifiers" -> _),
      b.notifications.map("appendNotifications" -> _),
      b.properties.map("upsertProperties" -> _),
      b.assets.map("appendAssets" -> _)).flatten
    if (frames.isEmpty) return
    val txn = txnScope match {
      case Some(s) => java.util.UUID.nameUUIDFromBytes(
        s"$s|applyEffects|${txnSeq.getAndIncrement()}".getBytes("UTF-8")).toString
      case None => java.util.UUID.randomUUID().toString
    }
    val ep = endpoint
    // same leftover rule as `send`: a replayed round re-stages under the
    // same deterministic txn id, so clear any failed attempt's parts first
    // (and stamp the commit with the epoch the abort earned — zombie guard)
    val epoch = if (txnScope.isDefined) abort(ep, txn) else 0L
    DocumentStore.inParallel(frames.map { case (op, df) =>
      () => stage(ep, txn, Some(op), df)
    })
    val body = frames.map { case (op, df) => s"$op\t${df.schema.json}" }.mkString("\n")
    val (c, bdy) = HttpStore.postCommit(s"$ep/txn/$txn/commitBatch?epoch=$epoch",
      body.getBytes("UTF-8"))
    if (c != 200) throw new RuntimeException(s"HttpStore applyEffects: HTTP $c $bdy")
  }

  def upsertDocuments(updates: DataFrame): Unit = send("upsertDocuments", updates)
  def setPublished(decisions: DataFrame): Unit = send("setPublished", decisions)
  def appendIdentifiers(rows: DataFrame): Unit = send("appendIdentifiers", rows)
  def upsertProperties(rows: DataFrame): Unit = send("upsertProperties", rows)
  def appendAssets(rows: DataFrame): Unit = send("appendAssets", rows)
  def appendNotifications(rows: DataFrame): Unit = send("appendNotifications", rows)
  def appendFailures(rows: DataFrame): Unit = send("appendFailures", rows)

  lazy val assetRoot: String = {
    val (c, b) = HttpStore.get(s"$endpoint/assetRoot")
    if (c != 200) throw new RuntimeException(s"HttpStore assetRoot: HTTP $c $b")
    b.trim
  }
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
