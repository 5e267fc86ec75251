package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.store.{DocStoreServer, HttpStore, LocalStore}
import graft.streaming.IngestStream

object Ingest {
  /** Rounds of one message each that every trickle run hands over,
    * whatever --seconds is, so a faster program is measured on the same
    * work: five good packages (three inserts, two reparses), the traversal
    * package and the four bad-message kinds. Eleven or more rounds would
    * not fit the benchmark's run budget on four cores (~4.7 s a round). */
  val TrickleRounds = 10

  val eventSchema: StructType = StructType(Seq(
    StructField("kind", StringType), StructField("record_json", StringType)))

  def resolver(bucket: Path): (String, String) => String = {
    val b = bucket.toString
    (bkt: String, key: String) => s"file:$b/$bkt/$key"
  }

  def frame(spark: SparkSession, msgs: Seq[Msg]): DataFrame = {
    val lines = msgs.map(_.line)
    spark.read.schema(eventSchema).json(spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING))
  }

  /** Two one-message rounds through the same path the workload uses, an
    * insert and a reparse of it, so class loading, code generation and UDF
    * registration happen in set-up; without the reparse the first measured
    * reparse round runs cold and reads ~50% slow. */
  def warmup(spark: SparkSession, o: Opts): Unit = {
    val g = new Gen(o.seed, "warmup")
    val first = g.good()
    val msgs = Seq(first, g.good(Some(first)))
    val dir = Files.createDirectories(o.runDir.resolve("warmup"))
    Gen.stage(dir.resolve("bucket"), msgs)
    val server = new DocStoreServer(LocalStore(spark, dir.resolve("store").toString))
    try {
      val store = HttpStore(spark, server.endpoint)
      msgs.zipWithIndex.foreach { case (m, r) =>
        IngestStream.processBatch(store, packageUri = resolver(dir.resolve("bucket")),
          txnScopePrefix = "warmup")(frame(spark, Seq(m)), r.toLong)
      }
    } finally server.stop()
  }

  /** Walks a directory tree: relative path → size. */
  def files(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }

  /** Checks the store against the ledger for the messages handed over, in
    * order. Each message is one operation; rows no message explains are
    * problems. */
  def check(spark: SparkSession, storeDir: Path, msgs: Seq[Msg],
      res: Result, label: String): Unit = {
    val store = LocalStore(spark, storeDir.toString)
    val docs = store.documents.select("uri", "version", "upload_state").collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getString(2))).toMap
    val fails = store.failures.select("msg_id", "terminal").collect()
      .groupBy(_.getString(0)).map { case (k, rs) => k -> rs.map(_.getBoolean(1)).toSeq }
    val ids = store.read("identifiers").map(_.select("document_uri", "id_kind", "id_value", "id_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet)
      .getOrElse(Set.empty)
    val assetRoot = storeDir.resolve("asset_files")
    val assets = files(assetRoot).keySet

    val updates = msgs.filter(_.outcome == Outcome.Updated).groupBy(_.uri).map { case (u, ms) => u -> ms.size }
    val expectAssets = msgs.filter(m => m.outcome == Outcome.Inserted || m.outcome == Outcome.Updated)
      .groupBy(_.uri).map { case (u, ms) => u -> ms.flatMap(_.assets).toSet }
    val known = msgs.map(_.msgId).toSet
    // the traversal name climbs two levels: out of the asset root, into
    // the store's own directory
    val escaped = files(storeDir).keySet.filter(_.split('/').last.startsWith("escaped-"))
      .filterNot(p => storeDir.resolve(p).startsWith(assetRoot))

    msgs.foreach { m =>
      val ok = m.outcome match {
        case Outcome.Inserted | Outcome.Updated =>
          val n = updates.getOrElse(m.uri, 0)
          val idType = if (m.docType == "judgment") "ukncn" else "ukncn-summary"
          docs.get(m.uri).contains((1 + n, if (n > 0) "updated" else "inserted")) &&
            !fails.contains(m.msgId) &&
            ids.contains((m.uri, "slug", m.uri, null)) &&
            ids.contains((m.uri, "value", m.cite, idType)) &&
            m.assets.forall(a => assets.contains(s"${m.uri}/$a"))
        case Outcome.Failed(t) =>
          fails.get(m.msgId).exists(_.forall(_ == t)) && !docs.contains(Gen.surrogate(m.ref))
        case Outcome.Hostile =>
          fails.contains(m.msgId) && !escaped.exists(_.endsWith(s"escaped-${m.ref}.png"))
      }
      res.op(ok, s"$label ${m.msgId} expected ${m.outcome}")
    }
    val hostileUris = msgs.filter(_.outcome == Outcome.Hostile).map(_.uri).toSet
    val extraDocs = docs.keySet -- expectAssets.keySet -- hostileUris
    if (extraDocs.nonEmpty) res.problems += s"$label: ${extraDocs.size} documents no message explains"
    val extraFails = fails.keySet -- known
    if (extraFails.nonEmpty) res.problems += s"$label: ${extraFails.size} failure rows no message explains"
    val extraAssets = assets.filterNot { p =>
      val (u, f) = (p.takeWhile(_ != '/'), p.dropWhile(_ != '/').drop(1))
      expectAssets.get(u).exists(_.contains(f)) || hostileUris(u)
    }
    if (extraAssets.nonEmpty) res.problems += s"$label: ${extraAssets.size} asset files no message explains"
    val strayEscapes = escaped.filterNot(p => msgs.exists(m =>
      m.outcome == Outcome.Hostile && p.endsWith(s"escaped-${m.ref}.png")))
    if (strayEscapes.nonEmpty) res.problems += s"$label: files outside the asset root: $strayEscapes"
  }

  /** Asset files and bytes per committed document, and the store's own
    * file count and bytes per document, for the traced report. */
  def footprint(storeDir: Path, docs: Long, res: Result): Unit = {
    val assets = files(storeDir.resolve("asset_files"))
    val table = files(storeDir).filterNot(_._1.startsWith("asset_files/"))
    val d = math.max(1L, docs).toDouble
    res.layer("ingest.asset_files_per_doc") = (assets.size / d, "count")
    res.layer("ingest.asset_bytes_per_doc") = (assets.values.sum / d, "B")
    res.layer("store.files") = (table.size.toDouble, "count")
    res.layer("store.disk_bytes_per_doc") = (table.values.sum / d, "B")
  }

  /** A closed loop with one caller: one-message rounds handed straight to
    * `IngestStream.processBatch`, writing through the wire store into an
    * in-process DocStoreServer that starts empty. Each measurement gets its
    * own server and store. */
  final class Trickle(o: Opts) extends Workload {
    private var rounds: Seq[Msg] = Nil
    private val bucket = o.runDir.resolve("bucket")
    /** Store directory of each measurement. */
    private val passes = mutable.ArrayBuffer.empty[Path]
    private val servers = mutable.ArrayBuffer.empty[DocStoreServer]

    def generate(): Unit = {
      rounds = Gen.trickle(o.seed, TrickleRounds)
      Gen.stage(bucket, rounds)
    }

    def warmup(spark: SparkSession): Unit = Ingest.warmup(spark, o)

    def measure(spark: SparkSession, tracer: Tracer, res: Result): Unit = {
      val dir = o.runDir.resolve(s"trickle-store-${passes.size}")
      val server = new DocStoreServer(LocalStore(spark, dir.toString))
      servers += server
      val wire = HttpStore(spark, server.endpoint)
      val store = if (tracer.enabled) new TracedStore(wire, tracer) else wire
      val latencies = mutable.ArrayBuffer.empty[Double]
      val w0 = Clock.now()
      rounds.zipWithIndex.foreach { case (m, r) =>
        val batch = frame(spark, Seq(m))
        val t0 = Clock.now()
        IngestStream.processBatch(store, packageUri = resolver(bucket),
          txnScopePrefix = s"trickle-${passes.size}")(batch, r.toLong)
        val t1 = Clock.now()
        val good = m.outcome == Outcome.Inserted || m.outcome == Outcome.Updated
        tracer.add(s"trickle.round.$r", "streaming", t0, t1, Level.Unit, Map("good" -> (if (good) 1.0 else 0.0)))
        latencies += (t1 - t0) / 1e9
      }
      tracer.add("workload.ingest_trickle", "workload", w0, Clock.now(), Level.Workload)
      passes += dir
      res.measuredWall = latencies.sum
      res.e2e("throughput_per_s") = (rounds.size / latencies.sum, "1/s")
      res.e2e("latency_p50_s") = (Stats.median(latencies.toSeq), "s")
      val (tail, pct, beyond) = Stats.tail(latencies.toSeq)
      res.info("latency_tail_s") = Json.num(tail)
      res.info("throughput_unit") = "\"messages settled per second of round wall\""
      res.info("latency_unit") = "\"one processBatch round of one message, hand-over to return\""
      res.info("tail_percentile") = Json.num(pct)
      res.info("tail_samples_beyond") = beyond.toString
      res.info("rounds") = latencies.size.toString
      res.info("round_outcomes") = rounds.map(m => Json.str(m.outcome.toString)).mkString("[", ", ", "]")
      res.info("round_latencies_s") = latencies.map(Json.num).mkString("[", ", ", "]")
    }

    def check(spark: SparkSession, res: Result): Unit =
      passes.zipWithIndex.foreach { case (dir, i) =>
        Ingest.check(spark, dir, rounds, res, s"pass $i")
        if (o.trace && i == passes.size - 1)
          footprint(dir, rounds.count(_.outcome == Outcome.Inserted), res)
      }

    override def probe(spark: SparkSession, tracer: Tracer, res: Result): Unit =
      passes.lastOption.foreach(dir => Layers.probe(spark, tracer, rounds, dir, res))

    override def close(): Unit = servers.foreach(_.stop())
  }
}
