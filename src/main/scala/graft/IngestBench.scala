package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.store.{DocumentStore, LocalStore}
import graft.streaming.IngestStream

/** End-to-end ingest throughput: drive [[IngestStream]] over N
  * golden-shaped TDR packages (real tarballs staged under a file: bucket,
  * real SQS-dialect messages through a file streaming source) into a
  * [[LocalStore]] at local[32], and report docs/s — the number BASELINE.md
  * sets against the reference's derived ceiling of O(10) docs/s across 25
  * concurrent 256 MB Lambdas.
  *
  * Two timed runs isolate the bottleneck:
  *   - `full`: the whole pipeline into a LocalStore (fetch → tar gather →
  *     resolve → table MERGEs → asset byte copies);
  *   - `null_store`: same pipeline, but every table write lands in a
  *     frame-forcing null sink (asset bytes still copied) — the delta
  *     names how much of the wall is the store MERGE vs the pipeline.
  *
  * Prints one BENCH-style JSON line:
  * {"metric":"ingest_docs_per_sec","value":...,"docs":N,"full_sec":...,
  *  "null_store_sec":...,"bottleneck":"..."}. */
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

  /** Delegating store that accumulates wall seconds per operation — the
    * bottleneck-naming instrument (printed after the full run). */
  private final class TimingStore(inner: DocumentStore) extends DocumentStore {
    val timings = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    private def timed[T](op: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally timings.merge(op, (System.nanoTime() - t0) / 1e9, _ + _)
    }
    def spark: SparkSession = inner.spark
    // delegate the ROUND to the inner store so its overlapped apply is
    // measured as deployed (per-op walls overlap, so the round is timed
    // as one unit — the individual entries below only tick for ops
    // called outside a round, e.g. appendFailures)
    override def applyEffects(b: graft.store.EffectBatch): Unit =
      timed("applyEffects(round)")(inner.applyEffects(b))
    def read(t: String): Option[DataFrame] = timed(s"read($t)")(inner.read(t))
    def upsertDocuments(u: DataFrame): Unit = timed("upsertDocuments")(inner.upsertDocuments(u))
    def setPublished(d: DataFrame): Unit = timed("setPublished")(inner.setPublished(d))
    def appendIdentifiers(r: DataFrame): Unit = timed("appendIdentifiers")(inner.appendIdentifiers(r))
    def upsertProperties(r: DataFrame): Unit = timed("upsertProperties")(inner.upsertProperties(r))
    def appendAssets(r: DataFrame): Unit = timed("appendAssets")(inner.appendAssets(r))
    def appendNotifications(r: DataFrame): Unit = timed("appendNotifications")(inner.appendNotifications(r))
    def appendFailures(r: DataFrame): Unit = timed("appendFailures")(inner.appendFailures(r))
    def assetRoot: String = inner.assetRoot
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

  private def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def sqsLine(msgId: String, ref: String): String = {
    val inner = s"""{"parameters": {"reference": "$ref", "originator": "TDR", """ +
      s""""s3Bucket": "b", "s3Key": "k/$ref.tar.gz"}}"""
    val body = jsonStr(s"""{"Type": "Notification", "Message": ${jsonStr(inner)}}""")
    val record = s"""{"messageId": "$msgId", "eventSource": "aws:sqs", "body": $body}"""
    s"""{"kind": "sqs", "record_json": ${jsonStr(record)}}"""
  }

  private def timedRun(spark: SparkSession, eventsDir: String, store: DocumentStore,
      resolver: (String, String) => String): Double = {
    val ckpt = Files.createTempDirectory("graft-ingest-bench-ckpt").toString
    val events = spark.readStream
      .schema(StructType(Seq(StructField("kind", StringType),
        StructField("record_json", StringType))))
      .option("maxFilesPerTrigger", "1000000")
      .json(eventsDir)
    val t0 = System.nanoTime()
    val q = IngestStream.start(events, store, ckpt, packageUri = resolver)
    q.awaitTermination()
    (System.nanoTime() - t0) / 1e9
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

  /** `concurrent` mode (BASELINE.md's multi-writer rows): `streams`
    * independent streaming queries, each over its own slice of the
    * packages, all writing through the WIRE protocol into ONE
    * [[graft.store.DocStoreServer]] — the deployment shape where several
    * ingest fleets share a document store. Reports combined docs/s;
    * `MultiWriterStoreSpec` pins the correctness half (here the interest
    * is throughput under commit contention: the server serializes commits
    * behind its write lock, so the scaling row 1/2/3 streams locates the
    * knee where the shared lock starts to bend the curve). */
  private def concurrentRun(spark: SparkSession, bucketStr: String, n: Int,
      streams: Int, roundSize: Int): Unit = {
    val resolver = (b: String, key: String) => s"file:$bucketStr/$b/$key"
    // tags must stay ALPHANUMERIC: the fixture's cite derives from the
    // ref's letter/digit codepoints, so a punctuation tag (the old
    // 'C'+i past 'Z') vanishes from the cite and two streams' refs
    // could collide into one NCN — an update instead of an insert,
    // breaking the doc-count invariant
    require(streams >= 1 && streams <= 99, s"streams must be 1..99, got $streams")
    val per = n / streams
    val dirs = (0 until streams).map { i =>
      val slice = if (i == streams - 1) n - per * (streams - 1) else per
      stage(spark, bucketStr, slice, f"S$i%02d", roundSize)
    }
    val inner = LocalStore(spark,
      Files.createTempDirectory("graft-ingest-bench-wire-store").toString)
    val server = new graft.store.DocStoreServer(inner)
    try {
      val t0 = System.nanoTime()
      val qs = dirs.map { d =>
        val events = spark.readStream
          .schema(StructType(Seq(StructField("kind", StringType),
            StructField("record_json", StringType))))
          // one staged event file = one micro-batch round (round size is
          // set at staging time via the 4th CLI arg)
          .option("maxFilesPerTrigger", "1")
          .json(d)
        IngestStream.start(events, graft.store.HttpStore(spark, server.endpoint),
          Files.createTempDirectory("graft-ingest-bench-wire-ckpt").toString,
          packageUri = resolver)
      }
      qs.foreach(_.awaitTermination())
      val sec = (System.nanoTime() - t0) / 1e9
      val docs = inner.documents.count()
      require(docs == n.toLong, s"expected $n documents, got $docs")
      val rs = if (roundSize == Int.MaxValue) "all" else roundSize.toString
      println(f"""{"metric":"ingest_docs_per_sec_concurrent","value":${n / sec}%.1f,""" +
        f""""docs":$n,"streams":$streams,"round_size":"$rs","full_sec":$sec%.1f,""" +
        f""""store":"wire(DocStoreServer)"}""")
    } finally server.stop()
  }

  /** `sharded` mode — the 100 TB shape the r15 scaling table selected
    * (writer count can't scale ONE store's write lock; sharding the
    * store can): `streams` writer fleets × `shards` independent
    * [[graft.store.DocStoreServer]]s, every row routed to its shard by
    * uri hash through [[graft.store.ShardedWireStore]]. Against the
    * `concurrent` rows (one shared server) the lock contention drops
    * ~1/shards per shard AND each in-lock apply is ~shards× smaller —
    * this mode measures how much of that shows up as combined docs/s on
    * one machine (the cluster win is larger: shards live on separate
    * hosts). */
  private def shardedRun(spark: SparkSession, bucketStr: String, n: Int,
      streams: Int, shards: Int, roundSize: Int): Unit = {
    val resolver = (b: String, key: String) => s"file:$bucketStr/$b/$key"
    require(streams >= 1 && streams <= 99, s"streams must be 1..99, got $streams")
    val per = n / streams
    val dirs = (0 until streams).map { i =>
      val slice = if (i == streams - 1) n - per * (streams - 1) else per
      stage(spark, bucketStr, slice, f"S$i%02d", roundSize)
    }
    val inners = (0 until shards).map(i => LocalStore(spark,
      Files.createTempDirectory(s"graft-ingest-bench-shard$i").toString))
    val servers = inners.map(new graft.store.DocStoreServer(_))
    try {
      val t0 = System.nanoTime()
      val qs = dirs.map { d =>
        val events = spark.readStream
          .schema(StructType(Seq(StructField("kind", StringType),
            StructField("record_json", StringType))))
          .option("maxFilesPerTrigger", "1")
          .json(d)
        val store = graft.store.ShardedWireStore(spark, servers.map(_.endpoint))
        IngestStream.start(events, store,
          Files.createTempDirectory("graft-ingest-bench-shard-ckpt").toString,
          packageUri = resolver)
      }
      qs.foreach(_.awaitTermination())
      val sec = (System.nanoTime() - t0) / 1e9
      val docs = inners.map(_.documents.count()).sum
      require(docs == n.toLong, s"expected $n documents, got $docs")
      val rs = if (roundSize == Int.MaxValue) "all" else roundSize.toString
      println(f"""{"metric":"ingest_docs_per_sec_sharded","value":${n / sec}%.1f,""" +
        f""""docs":$n,"streams":$streams,"shards":$shards,"round_size":"$rs",""" +
        f""""full_sec":$sec%.1f,"store":"wire(ShardedWireStore x$shards)"}""")
    } finally servers.foreach(_.stop())
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(2000)
    val concurrent = args.lift(1).contains("concurrent")
    val sharded = args.lift(1).contains("sharded")
    val spark = GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val bucket = Files.createTempDirectory("graft-ingest-bench-bucket")
    Files.createDirectories(bucket.resolve("b/k"))
    val bucketStr = bucket.toString

    // warm the session (codegen, FS init) outside the timed runs
    spark.range(1000).write.mode("overwrite").format("noop").save()

    if (concurrent) {
      concurrentRun(spark, bucketStr, n,
        streams = args.lift(2).map(_.toInt).getOrElse(2),
        roundSize = args.lift(3).map(_.toInt).getOrElse(Int.MaxValue))
      spark.stop()
      return
    }
    if (sharded) {
      shardedRun(spark, bucketStr, n,
        streams = args.lift(2).map(_.toInt).getOrElse(2),
        shards = args.lift(3).map(_.toInt).getOrElse(2),
        roundSize = args.lift(4).map(_.toInt).getOrElse(Int.MaxValue))
      spark.stop()
      return
    }

    // stage N real tarballs under the file: bucket, generated in parallel
    val resolver = (b: String, key: String) => s"file:$bucketStr/$b/$key"
    val eventsDir = stage(spark, bucketStr, n, "B")

    val inner = LocalStore(spark,
      Files.createTempDirectory("graft-ingest-bench-store").toString)
    val fullStore = new TimingStore(inner)
    val fullSec = timedRun(spark, eventsDir, fullStore, resolver)
    val docs = fullStore.documents.count()
    fullStore.timings.forEach { (op, s) =>
      println(f"[ingest-bench] $op%-22s ${s}%.1f s")
    }
    require(docs == n.toLong, s"expected $n documents, got $docs")

    val nullSec = timedRun(spark, eventsDir, new NullStore(spark,
      Files.createTempDirectory("graft-ingest-bench-null-assets").toString), resolver)

    val rate = n / fullSec
    val mergeShare = (fullSec - nullSec) / fullSec
    val bottleneck =
      if (mergeShare > 0.5) "store MERGE (table writes dominate)"
      else "pipeline (fetch + tar gather + asset copies dominate)"
    println(f"""{"metric":"ingest_docs_per_sec","value":$rate%.1f,"docs":$n,""" +
      f""""full_sec":$fullSec%.1f,"null_store_sec":$nullSec%.1f,""" +
      f""""merge_share":$mergeShare%.2f,"bottleneck":"$bottleneck"}""")
    spark.stop()
  }
}
