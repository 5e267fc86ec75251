package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.metrics.{JobRecord, Ledger}
import graft.store.{DocStoreServer, DocumentStore, HttpStore, LocalStore, ShardedWireStore}
import graft.streaming.IngestStream

/** End-to-end ingest throughput: drive [[IngestStream]] over N
  * golden-shaped TDR packages (real tarballs staged under a file: bucket,
  * real SQS-dialect messages through a file streaming source) into a
  * [[LocalStore]] at local[`SPARK_GRAFT_CPUS`] (default 32), and report
  * docs/s — the number BASELINE.md sets against the reference's derived
  * ceiling of O(10) docs/s across 25 concurrent 256 MB Lambdas.
  *
  * Two timed runs isolate the bottleneck:
  *   - `full`: the whole pipeline into a LocalStore (fetch → tar gather →
  *     resolve → table MERGEs → asset byte copies);
  *   - `null_store`: same pipeline, but every table write lands in a
  *     frame-forcing null sink (asset bytes still copied) — the delta
  *     names how much of the wall is the store MERGE vs the pipeline.
  *
  * After the full run it prints one `[ingest-bench] <site>` line per call
  * site (jobs and job-seconds, from a [[Ledger]]) and, per timed run, an
  * `[ingest-bench] compiles` line (the generated classes it compiled,
  * [[Ledger.timed]]), then one BENCH-style JSON line:
  * {"metric":"ingest_docs_per_sec","value":...,"docs":N,
  * "full_sec":...,"null_store_sec":...,"bottleneck":"..."}.
  *
  * Usage: `IngestBench [n]`, `IngestBench n concurrent [streams]
  * [roundSize]`, `IngestBench n sharded [streams] [shards] [roundSize]`
  * (see [[wireRun]]). */
object IngestBench {

  /** Table writes discarded after forcing the frame (the compute is paid,
    * the MERGE isn't); reads stay empty — every package takes the insert
    * path, like a fresh corpus. Asset bytes still land under assetRoot. */
  private final class NullStore(val spark: SparkSession, val assetRoot: String)
      extends DocumentStore {
    private def force(df: DataFrame): Unit = { df.count(); () }
    def read(t: String): Option[DataFrame] = None
    def upsertDocuments(updates: DataFrame): Unit = force(updates)
    def setPublished(decisions: DataFrame): Unit = force(decisions)
    def appendIdentifiers(rows: DataFrame): Unit = force(rows)
    def upsertProperties(rows: DataFrame): Unit = force(rows)
    def appendAssets(rows: DataFrame): Unit = force(rows)
    def appendNotifications(rows: DataFrame): Unit = force(rows)
    def appendFailures(rows: DataFrame): Unit = force(rows)
  }

  /** Cite must be UNIQUE per ref: rounds after the first resolve NCNs
    * against the identifiers the earlier rounds wrote, so a colliding
    * cite correctly lands as an UPDATE of the earlier document (reparse
    * semantics) and the doc-count invariant breaks. Tag char + digit
    * suffix is collision-free across streams and batch sizes (the old
    * `hashCode % 9000` was only safe while every run was one round). */
  private def metadata(ref: String): String =
    s"""{"parameters": {"TRE": {"reference": "TRE-$ref", "payload": {
       |  "filename": "doc.docx", "xml": "doc.xml", "metadata": "TRE-$ref-metadata.json",
       |  "images": [], "log": "parser.log"}},
       |  "PARSER": {"uri": null, "cite": "[2024] EWHC ${ref.filter(_.isLetterOrDigit).map(_.toInt).mkString} (KB)",
       |    "parser_run_id": "run-$ref"},
       |  "TDR": {"Source-Organization": "MoJ", "Contact-Name": "Jo Doe",
       |    "Contact-Email": "jo@example.com", "Internal-Sender-Identifier": "$ref",
       |    "Consignment-Completed-Datetime": "2024-01-01T00:00:00Z"}}}""".stripMargin

  private def archive(ref: String): Array[Byte] =
    graft.tar.TarOps.packStrings(Seq(
      s"$ref/TRE-$ref-metadata.json" -> metadata(ref),
      s"$ref/doc.xml" ->
        s"<akomaNtoso><judgment>body of $ref ${"x" * 2000}</judgment></akomaNtoso>",
      s"$ref/doc.docx" -> s"docx bytes $ref ${"y" * 1000}",
      s"$ref/parser.log" -> "ok"))

  private def sqsLine(msgId: String, ref: String): String = {
    val inner = s"""{"parameters": {"reference": "$ref", "originator": "TDR", """ +
      s""""s3Bucket": "b", "s3Key": "k/$ref.tar.gz"}}"""
    val body = Verify.q(s"""{"Type": "Notification", "Message": ${Verify.q(inner)}}""")
    val record = s"""{"messageId": "$msgId", "eventSource": "aws:sqs", "body": $body}"""
    s"""{"kind": "sqs", "record_json": ${Verify.q(record)}}"""
  }

  /** Streams the staged event files in `eventsDir` through
    * [[IngestStream]] into `store`, one file per micro-batch round. */
  private def startStream(spark: SparkSession, eventsDir: String, store: DocumentStore,
      bucketStr: String): StreamingQuery = {
    val events = spark.readStream
      .schema(StructType(Seq(StructField("kind", StringType),
        StructField("record_json", StringType))))
      .option("maxFilesPerTrigger", "1")
      .json(eventsDir)
    IngestStream.start(events, store,
      Files.createTempDirectory("graft-ingest-bench-ckpt").toString,
      packageUri = (b: String, key: String) => s"file:$bucketStr/$b/$key")
  }

  /** Wall seconds of one stream run, after printing the classes it
    * compiled under `run`. */
  private def timedRun(run: String)(body: => Unit): Double = {
    val (sec, compiles) = Ledger.timed(body)
    println(f"[ingest-bench] compiles $run%-35s $compiles%5d generated classes")
    sec
  }

  /** A fresh file: bucket with the `b/k/` prefix the messages point at. */
  private def bucket(): String = {
    val b = Files.createTempDirectory("graft-ingest-bench-bucket")
    Files.createDirectories(b.resolve("b/k"))
    b.toString
  }

  /** Stage `n` tarballs (refs prefixed `REF-$tag`) under the shared
    * file: bucket and write their SQS messages as JSON-lines event
    * files — `perFile` messages per file (default: all in one), so a
    * `maxFilesPerTrigger=1` reader turns each file into one micro-batch
    * ROUND. Round size is the multi-writer scaling lever (BASELINE.md:
    * the shared store's write lock serializes rounds, so small rounds
    * overlap one stream's gather with another's in-lock apply). Returns
    * the events dir. */
  private def stage(spark: SparkSession, bucketStr: String, n: Int, tag: String,
      perFile: Int = Int.MaxValue): String = {
    import spark.implicits._
    val eventsDir = Files.createTempDirectory(s"graft-ingest-bench-events-$tag").toString
    if (n <= 0) return eventsDir // a stream can get an empty slice (streams > n)
    spark.range(n.toLong).repartition(32).as[Long].foreach { i =>
      val ref = f"REF-$tag$i%06d"
      Files.write(Paths.get(s"$bucketStr/b/k/$ref.tar.gz"), archive(ref))
      ()
    }
    (0 until n).grouped(math.max(1, math.min(perFile, n))).zipWithIndex.foreach {
      case (chunk, f) =>
        val sb = new StringBuilder
        chunk.foreach { i =>
          sb.append(sqsLine(f"msg-$tag$i%06d", f"REF-$tag$i%06d")).append('\n')
        }
        Files.writeString(Paths.get(f"$eventsDir/events-$f%04d.jsonl"), sb.toString)
    }
    eventsDir
  }

  /** The wire modes (BASELINE.md's multi-writer and sharding rows):
    * `streams` streaming queries over slices of `n` packages, `roundSize`
    * per micro-batch round, writing through the wire protocol into one
    * shared [[DocStoreServer]] via [[HttpStore]] (`concurrent`: commits
    * queue on its write lock) or into `shards` servers via
    * [[ShardedWireStore]], rows routed by uri hash (`sharded`). Both
    * stores share one commit path. Requires every package to land as one
    * document; returns the streams' wall seconds. */
  def wireRun(spark: SparkSession, n: Int, streams: Int, shards: Int,
      roundSize: Int): Double = {
    // tags must stay ALPHANUMERIC: the fixture's cite derives from the
    // ref's letter/digit codepoints, so a punctuation tag (the old
    // 'C'+i past 'Z') vanishes from the cite and two streams' refs
    // could collide into one NCN — an update instead of an insert,
    // breaking the doc-count invariant
    require(streams >= 1 && streams <= 99, s"streams must be 1..99, got $streams")
    val bucketStr = bucket()
    val per = n / streams
    val dirs = (0 until streams).map { i =>
      val slice = if (i == streams - 1) n - per * (streams - 1) else per
      stage(spark, bucketStr, slice, f"S$i%02d", roundSize)
    }
    val inners = (0 until shards).map(i => LocalStore(spark,
      Files.createTempDirectory(s"graft-ingest-bench-shard$i").toString))
    val servers = inners.map(new DocStoreServer(_))
    try {
      val sec = timedRun(s"wire x$shards") {
        val qs = dirs.map { d =>
          val store =
            if (shards == 1) HttpStore(spark, servers.head.endpoint)
            else ShardedWireStore(spark, servers.map(_.endpoint))
          startStream(spark, d, store, bucketStr)
        }
        qs.foreach(_.awaitTermination())
      }
      val docs = inners.map(_.documents.count()).sum
      require(docs == n.toLong, s"expected $n documents, got $docs")
      sec
    } finally servers.foreach(_.stop())
  }

  /** One line per call site, busiest first: its jobs and job-seconds. */
  private def printSites(jobs: Seq[JobRecord]): Unit =
    jobs.groupBy(_.site).toSeq.sortBy(-_._2.map(_.seconds).sum).foreach { case (site, js) =>
      println(f"[ingest-bench] ${if (site.isEmpty) "(no graft frame)" else site}%-44s " +
        f"${js.size}%5d jobs ${js.map(_.seconds).sum}%8.1f job-s")
    }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(2000)
    val spark = GraftSession.harness()
    val ledger = new Ledger(spark)
    try args.lift(1) match {
      case Some(mode @ ("concurrent" | "sharded")) =>
        val sharded = mode == "sharded"
        val streams = args.lift(2).map(_.toInt).getOrElse(2)
        val shards = if (sharded) args.lift(3).map(_.toInt).getOrElse(2) else 1
        val roundSize = args.lift(if (sharded) 4 else 3).map(_.toInt).getOrElse(Int.MaxValue)
        val sec = wireRun(spark, n, streams, shards, roundSize)
        printSites(ledger.drain())
        val rs = if (roundSize == Int.MaxValue) "all" else roundSize.toString
        val shardsField = if (sharded) s""""shards":$shards,""" else ""
        val store = if (shards == 1) "DocStoreServer" else s"ShardedWireStore x$shards"
        println(f"""{"metric":"ingest_docs_per_sec_$mode","value":${n / sec}%.1f,""" +
          f""""docs":$n,"streams":$streams,$shardsField"round_size":"$rs",""" +
          f""""full_sec":$sec%.1f,"store":"wire($store)"}""")
      case _ =>
        // stage N real tarballs under the file: bucket, generated in parallel
        val bucketStr = bucket()
        val eventsDir = stage(spark, bucketStr, n, "B")
        val inner = LocalStore(spark,
          Files.createTempDirectory("graft-ingest-bench-store").toString)
        ledger.drain() // the staging jobs
        val fullSec = timedRun("full")(
          startStream(spark, eventsDir, inner, bucketStr).awaitTermination())
        printSites(ledger.drain())
        val docs = inner.documents.count()
        require(docs == n.toLong, s"expected $n documents, got $docs")

        val nullStore = new NullStore(spark,
          Files.createTempDirectory("graft-ingest-bench-null-assets").toString)
        val nullSec = timedRun("null_store")(
          startStream(spark, eventsDir, nullStore, bucketStr).awaitTermination())

        val rate = n / fullSec
        val mergeShare = (fullSec - nullSec) / fullSec
        val bottleneck =
          if (mergeShare > 0.5) "store MERGE (table writes dominate)"
          else "pipeline (fetch + tar gather + asset copies dominate)"
        println(f"""{"metric":"ingest_docs_per_sec","value":$rate%.1f,"docs":$n,""" +
          f""""full_sec":$fullSec%.1f,"null_store_sec":$nullSec%.1f,""" +
          f""""merge_share":$mergeShare%.2f,"bottleneck":"$bottleneck"}""")
    } finally {
      ledger.close()
      spark.stop()
    }
  }
}
