package graft.streaming

import graft.ingest.{IngestQueries, Messages, PackageIngest, RawPackage}
import graft.metrics.Observe
import graft.model.IngestError
import graft.store.{DocumentStore, LocalStore}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.util.SerializableConfiguration

/** The streaming ingest shell (SURVEY.md W11/O1/O2/O3; reference handler
  * loop `/root/reference/src/ds_caselaw_ingester/lambda_function.py:100-137`).
  *
  * The reference's streaming semantics are QUEUE semantics: an SQS batch
  * per invocation, per-record try/except, failed SQS message ids reported
  * back for redelivery (at-least-once) while SNS-delivered records have no
  * id and are never retried (at-most-once). Spark mapping:
  *
  *   - the event stream is a Structured Streaming DataFrame of
  *     (kind, record_json) rows (file/queue/memory source);
  *   - each micro-batch decodes messages (S1–S4), FETCHES each package
  *     from its message's (s3_bucket, s3_key) through the Hadoop-FS seam
  *     (the reference's per-record `save_s3_response`,
  *     `messages.py:59-70,96-106` — here a narrow distributed map, one
  *     fetch per record on whichever executor holds it), then runs the
  *     SAME gather + act phases as the batch path
  *     ([[graft.ingest.PackageIngest.ingestDs]]): tar explode → metadata/
  *     XML extract → resolve → document MERGE → identifiers →
  *     notifications → properties → asset copies → publish fold
  *     (`perform_ingest`, ingester.py:542-575). A streamed message
  *     produces byte-identical store rows to the same package batched;
  *   - per-record failure isolation = the `error` column: failed records
  *     skip every effect; those WITH a message id land in the `failures`
  *     table (the DLQ — `batchItemFailures`), those without are dropped
  *     (lambda_function.py:134-135);
  *   - checkpointing gives the redelivery/visibility-timeout semantics.
  */
object IngestStream {

  /** Per-record fetch result — the reference's `save_s3_response` saved
    * `/tmp/{reference}.tar.gz` per message; here the bytes stay on the
    * executor that fetched them. Archives at or under
    * [[MaxInMemoryFetchKey]] ride in `archive`; larger ones SPILL to an
    * executor-local temp file (`archive_path`) — the /tmp analogue — so
    * a spilled archive never sits on heap, whatever its size. Downstream,
    * heap per package holds the members gather's walks keep, and every
    * walk is bounded by [[graft.tar.TarOps]]' declared-bytes budget and
    * member cap: a package past them fails terminally instead of
    * inflating. A null archive+path with a non-null `error` records a
    * failed download (retryable — the
    * reference's botocore ClientError is an unexpected exception,
    * eligible for redelivery). */
  final case class Fetched(msg_id: String, consignment_ref: String,
      originator: String, tar_name: String, archive: Array[Byte],
      archive_path: String, digest: String, error: String)

  /** Session conf key for the in-memory fetch threshold (bytes; default
    * 256 MiB, clamped to Int.MaxValue). LOCALITY CONTRACT for spilled
    * paths: the file lives on the executor that fetched it and the
    * checkpointed `fetched` blocks carry only the path, so downstream
    * passes (gather, asset copy) schedule process-local to the block and
    * read the file where it was written; a lost block re-runs the fetch
    * lineage (re-download, re-spill) exactly like the reference
    * re-receiving the SQS message. Spill files are deleted best-effort at
    * batch end and marked deleteOnExit. */
  val MaxInMemoryFetchKey = "graft.stream.maxInMemoryFetchBytes"
  private val DefaultMaxInMemoryFetch = 256L << 20

  /** Session conf key for the CAP on the fetch-map fan-out (tasks);
    * defaults to the cluster's default parallelism. A round spreads to
    * `min(messages, cap)` tasks — see the spread note on [[fetch]]: the
    * per-package pipeline must not inherit a 1-partition source, and a
    * one-message round must not pay a shuffle and cap-wide passes. */
  val FetchParallelismKey = "graft.stream.fetchParallelism"

  /** Default remote-package resolver: the message's bucket/key as an
    * `s3a://` Hadoop-FS URI (the cluster path). Tests and on-prem stores
    * substitute `file:`/`hdfs:` resolvers. */
  def s3aUri(bucket: String, key: String): String = s"s3a://$bucket/$key"

  /** Redrive budget: failed receives of one message before it parks
    * terminal in the failures table (the reference's SQS redrive policy,
    * `terraform/variables.tf:44-48` `max_receive_count` wired via
    * `terraform/main.tf:8-10` `redrive_maximum_receives`; the reference
    * deploys with 1 — no retries — while the engine defaults to 3 so
    * transient fetch errors get the redeliveries the taxonomy marks them
    * eligible for; pass 1 to mirror the reference deployment). */
  val DefaultMaxReceives = 3

  /** One micro-batch of raw event records → store effects. Also usable in
    * pure batch mode (the reference's single Lambda invocation).
    *
    * A round pays only for the work its messages have. Each eager
    * checkpoint carries an `Observation` (decode, fetch, gather, outcome),
    * and the driver branches on those counts instead of running jobs for
    * them:
    *   - an empty batch stops after decode;
    *   - a round with no decodable message fetches nothing;
    *   - a round whose every fetch failed runs no gather or act phase;
    *   - a round whose every package failed gather runs neither snapshot
    *     read nor an effect round ([[PackageIngest.ingestOutcome]]);
    *   - a round with no failure candidate (decode, fetch or outcome)
    *     neither reads the receive ledger nor appends to it, and reports
    *     `graft.ingest.failures` = (0, 0) on its outcome checkpoint;
    *   - a round that spilled no archive runs no spill-cleanup pass.
    * `environment` is the W9 email gate (ROLLBAR_ENV): outside prod,
    * notification decisions are recorded with delivered=false.
    * `packageUri` maps a decoded message's (s3_bucket, s3_key) to the
    * Hadoop-FS URI its tarball is fetched from. */
  def processBatch(store: DocumentStore, environment: String = "prod",
      packageUri: (String, String) => String = s3aUri,
      requestId: String = "graft-local-request",
      maxReceives: Int = DefaultMaxReceives,
      txnScopePrefix: String = "ingest")(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._

    // Replay idempotency: this micro-batch's store effects carry a
    // batch-scoped deterministic txn identity, so a commit-ledger store
    // (HttpStore→DocStoreServer) recognizes a replayed lost-ack batch and
    // acks without re-applying — exactly-once table state under
    // checkpoint replay (see DocumentStore.withBatchScope). The prefix
    // carries the QUERY's identity (start() derives it from the
    // checkpoint dir): batch ids restart at 0 per checkpoint, so two
    // queries against one store must not share txn ids — only a replay
    // of the same checkpoint's batch may dedupe.
    val scoped = store.withBatchScope(s"$txnScopePrefix-$batchId")

    // ---- decode (S1–S4) + unknown-originator guard ----
    // the act phase's own guard (IngestQueries.originatorGuard), applied
    // BEFORE the fetch so a doomed record skips the pointless download.
    // CollectMetrics rides the decode plan and is reported by the eager
    // checkpoint action to any registered graft.metrics.MetricsSink — no
    // extra pass, no driver-side count() (see Observe's scaladoc) — and
    // its Observation hands the same counts to the driver, which sizes
    // the fetch and skips passes with them. The checkpoint also pins the
    // decoded frame so the THREE downstream consumers (fetch, msg-key
    // join, DLQ report) read executor blocks instead of each re-running
    // the 5-from_json decode over the source — which additionally keeps
    // the per-micro-batch source scan at exactly one, so the streaming
    // `graft.ingest.source` counter means arrivals, not arrivals ×
    // actions.
    val decodedObs = Observation("graft.ingest.decoded")
    val decoded = Messages.decode(batch)
      .withColumn("error", IngestQueries.originatorGuard(col("error"), col("originator")))
      .observe(decodedObs,
        count(lit(1)).as("n_records"),
        sum(when(col("error").isNotNull, 1L).otherwise(0L)).cast("long").as("n_rejected"),
        sum(when(col("msg_id").isNotNull, 1L).otherwise(0L)).cast("long").as("n_retryable"))
      .localCheckpoint(true)
    val decodedCounts = Observe.counts(decodedObs)
    if (decodedCounts("n_records") == 0) { decoded.unpersist(); return }
    val nRejected = decodedCounts("n_rejected")
    val nOk = decodedCounts("n_records") - nRejected

    // ---- fetch: message → archive bytes, one Hadoop-FS read per record
    // on its executor (no driver download loop). localCheckpoint(true)
    // pins the bytes to executor storage so the act phase's multiple
    // passes (gather, asset byte copy) re-read blocks, not the remote
    // object store — the distributed analogue of the reference saving to
    // /tmp exactly once per message. A round whose every message failed
    // decode fetches nothing.
    val fetchedObs = Observation("graft.ingest.fetched")
    val fetched = if (nOk == 0) None else Some(fetch(decoded, nOk, packageUri, fetchedObs))
    val fetchedCounts = fetched.fold(Map.empty[String, Long])(_ => Observe.counts(fetchedObs))
      .withDefaultValue(0L)
    val nFetchFailed = fetchedCounts("n_failed")

    try {
      def failureMetric(df: DataFrame, terminal: Column): DataFrame =
        df.observe("graft.ingest.failures",
          Observe.countIf(col("error").isNotNull).as("n_failures"),
          Observe.countIf(col("error").isNotNull && terminal).as("n_terminal"))

      // ---- gather + act (O1/O2): the REAL batch pipeline ----
      // A round that got this far clean reports its failure metric on the
      // outcome checkpoint: (0, 0) when the outcome is clean too, which
      // is exactly when the report below is skipped; otherwise that
      // report's exact row supersedes it within the round.
      val outcome = fetched match {
        case Some(f) if nFetchFailed < nOk =>
          val packages = f.filter(col("error").isNull).as[Fetched]
            .map(f => RawPackage(f.consignment_ref, f.originator, f.tar_name,
              f.archive, f.archive_path, f.digest))
          Some(PackageIngest.ingestOutcome(spark, packages, scoped, requestId, environment,
            observeOutcome =
              if (nRejected + nFetchFailed == 0)
                failureMetric(_, IngestError.terminal(col("error")))
              else identity))
        case _ => None // nothing fetched: no gather, no act phase
      }
      // ---- failure report (W11): SQS ids only; SNS failures vanish ----
      // Only a round that observed a failure candidate (decode, fetch or
      // outcome) reads the receive ledger and appends to it.
      try if (nRejected + nFetchFailed + outcome.fold(0L)(_.failed) > 0) {
        // outcome errors join back to message ids on the PRE-S4 reference
        // (`original_ref`) — the rewrite makes consignment_ref unjoinable
        // for S3-dialect packages
        val msgKeys = decoded
          .filter(col("error").isNull && col("msg_id").isNotNull)
          .select(col("msg_id"), col("consignment_ref").as("original_ref"))
        val candidates = Seq(decoded.filter(col("error").isNotNull)) ++
          fetched.map(_.toDF().filter(col("error").isNotNull)) ++
          outcome.map(_.rows.filter(col("error").isNotNull)
            .select(col("original_ref"), col("error"))
            .join(broadcast(msgKeys), Seq("original_ref")))
        val failures = candidates.map(_.select(col("msg_id"), col("error")))
          .reduce(_ unionByName _)
          .filter(col("msg_id").isNotNull)
          .dropDuplicates("msg_id", "error")
        // redrive policy (the SQS DLQ budget, terraform/variables.tf:44-48):
        // the failures table IS the receive ledger — each append is one
        // failed receive, so prior rows for this msg_id count earlier
        // attempts (SQS messageId is stable across redeliveries). At
        // receive maxReceives the message parks TERMINAL (DLQ) instead of
        // redelivering forever — the poison-message bound. Durable across
        // restarts because the ledger is store state, not query state; a
        // crash between this append and the offset commit re-counts the
        // replayed receive and can park one receive early — the same
        // approximation SQS itself documents (ApproximateReceiveCount).
        // Join shape: the ledger scan is pre-filtered by the micro-batch's
        // failed ids (broadcast — bounded by batch size), and the per-id
        // counts broadcast back, so neither side ever shuffles the ledger.
        val priorReceives = scoped.failures
          .join(broadcast(failures.select("msg_id").distinct()), Seq("msg_id"))
          .groupBy(col("msg_id")).agg(count(lit(1)).as("prior_receives"))
        scoped.appendFailures(failureMetric(failures
          .join(broadcast(priorReceives), Seq("msg_id"), "left")
          .withColumn("receive_no", coalesce(col("prior_receives"), lit(0L)) + lit(1L))
          .withColumn("terminal",
            IngestError.terminal(col("error")) ||
              col("receive_no") >= lit(maxReceives.toLong))
          .select("msg_id", "error", "terminal"), col("terminal")))
      } finally outcome.foreach(_.rows.unpersist())
    } finally {
      // best-effort spill cleanup on the executors that hold the files
      // (deleteOnExit is the backstop); runs before the checkpoint blocks
      // are dropped so the paths are still reachable process-locally.
      // Only a round that spilled runs it.
      fetched.foreach { f =>
        if (fetchedCounts("n_spilled") > 0)
          try f.filter(col("archive_path").isNotNull)
            .select(col("archive_path")).as[String]
            .foreachPartition((it: Iterator[String]) =>
              it.foreach(pth => { new java.io.File(pth).delete(); () }))
          catch { case _: Exception => () }
        f.unpersist()
      }
      decoded.unpersist()
    }
  }

  /** Fetches the decoded OK messages' archives (see [[Fetched]]) into an
    * eager checkpoint observed by `obs` (`n_failed`, `n_spilled`).
    *
    * SPREAD: the per-package map runs on `min(nOk, fetchParallelism)`
    * tasks. A micro-batch's partitioning follows the SOURCE (a queue drain
    * or a single event file is often 1–2 partitions), and everything
    * per-package downstream — fetch, tar gather, asset byte copies —
    * inherits it through the checkpoints. Without the spread the
    * embarrassingly-parallel section of the pipeline runs on ONE task
    * (measured: 64 s of a 94 s ingest-bench wall in one thread at
    * local[32]; 2.9× docs/s from this one repartition). The rows being
    * shuffled are tiny message tuples — the archives are fetched AFTER.
    * `fetchParallelism` is a CAP: a round of fewer messages spreads only
    * as wide as it has messages, and a round of one message runs on one
    * partition with no shuffle at all, so its later passes run one task
    * each instead of inheriting the cap. */
  private def fetch(decoded: DataFrame, nOk: Long,
      packageUri: (String, String) => String, obs: Observation): Dataset[Fetched] = {
    val spark = decoded.sparkSession
    import spark.implicits._
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val resolveUri = packageUri
    val spillLimit = math.min(
      spark.conf.getOption(MaxInMemoryFetchKey).map(_.toLong)
        .getOrElse(DefaultMaxInMemoryFetch),
      Int.MaxValue.toLong)
    val spread = math.min(nOk, spark.conf.getOption(FetchParallelismKey)
      .map(_.toLong).getOrElse(spark.sparkContext.defaultParallelism.toLong)).toInt
    val messages = decoded.filter(col("error").isNull)
      .select(col("msg_id"), col("consignment_ref"), col("originator"),
        col("s3_bucket"), col("s3_key"))
      .as[(String, String, String, String, String)]
    (if (spread <= 1) messages.coalesce(1) else messages.repartition(spread))
      .map { case (msgId, ref, orig, bucket, key) =>
        val tarName = s"$ref.tar.gz" // local_tar_filename, messages.py:63-64
        try {
          val p = new org.apache.hadoop.fs.Path(resolveUri(bucket, key))
          val fs = p.getFileSystem(conf.value)
          val len = fs.getFileStatus(p).getLen
          // md5 rides the fetch (the bytes are in hand anyway): the act
          // phase's dedup winner key and the gather kernel's member-cache
          // key reuse it instead of re-reading every archive
          val md = java.security.MessageDigest.getInstance("MD5")
          def hex(d: Array[Byte]) = d.map("%02x".format(_)).mkString
          if (len <= spillLimit) {
            val buf = new Array[Byte](len.toInt)
            val in = fs.open(p)
            try in.readFully(0, buf) finally in.close()
            Fetched(msgId, ref, orig, tarName, buf, null, hex(md.digest(buf)), null)
          } else {
            // above the in-memory threshold: stream to executor-local
            // disk (the reference's /tmp save, messages.py:59-69) —
            // bounded heap regardless of archive size
            val tmp = java.io.File.createTempFile("graft-fetch-", ".tar.gz")
            tmp.deleteOnExit()
            val in = fs.open(p)
            try {
              val out = new java.security.DigestOutputStream(
                new java.io.FileOutputStream(tmp), md)
              try in.transferTo(out) finally out.close()
            } finally in.close()
            Fetched(msgId, ref, orig, tarName, null, tmp.getPath, hex(md.digest()), null)
          }
        } catch {
          case e: Exception =>
            Fetched(msgId, ref, orig, tarName, null, null, null,
              s"ClientError: package fetch failed: ${e.getMessage}")
        }
      }
      .observe(obs,
        Observe.countIf(col("error").isNotNull).as("n_failed"),
        Observe.countIf(col("archive_path").isNotNull).as("n_spilled"))
      .localCheckpoint(true)
  }

  /** Wire a streaming (kind, record_json) source into the batch processor.
    * The source-side observe surfaces per-micro-batch arrival counts in
    * `StreamingQueryProgress.observedMetrics` (the streaming twin of the
    * batch [[graft.metrics.MetricsSink]] path). */
  def start(events: DataFrame, store: DocumentStore, checkpointDir: String,
      environment: String = "prod",
      packageUri: (String, String) => String = s3aUri,
      maxReceives: Int = DefaultMaxReceives): StreamingQuery = {
    // query identity for the txn scope: a restart on the SAME checkpoint
    // replays with the same ids (dedupable); a different query against
    // the same store never collides
    val scopePrefix = "ingest-" + java.util.UUID.nameUUIDFromBytes(
      checkpointDir.getBytes("UTF-8")).toString
    events
      .observe("graft.ingest.source", count(lit(1)).as("n_events"))
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((b: DataFrame, id: Long) =>
        processBatch(store, environment, packageUri, maxReceives = maxReceives,
          txnScopePrefix = scopePrefix)(b, id))
      .start()
  }

  /** Batch-mode entry over a directory of JSON event files (one record per
    * line: {"kind": "...", "record_json": "..."}). */
  def runBatch(spark: SparkSession, eventsJsonDir: String, storeDir: String,
      environment: String = "prod",
      packageUri: (String, String) => String = s3aUri): LocalStore = {
    val store = LocalStore(spark, storeDir)
    val events = spark.read
      .schema("kind STRING, record_json STRING")
      .json(eventsJsonDir)
    processBatch(store, environment, packageUri)(events, 0L)
    store
  }
}
