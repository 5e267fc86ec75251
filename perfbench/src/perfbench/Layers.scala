package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import graft.ingest.{Messages, PackageIngest, RawPackage, Resolution}
import graft.store.LocalStore
import graft.tar.TarOps

/** Per-layer numbers of a traced run, from its spans. */
object Layers {
  /** Layers whose self time is reported, in this order. */
  val selfTimeLayers: Seq[String] = Seq("workload", "streaming", "ingest", "tar", "store", "spark",
    "graph", "sql", "sim", "dedup", "text")

  /** Keys set only by [[probe]] and [[Ingest.footprint]]; a workload
    * that runs neither reports them as 0. */
  val probeKeys: Seq[(String, String)] = Seq(
    "ingest.gather_ms_per_pkg" -> "ms", "tar.explode_ms_per_pkg" -> "ms",
    "ingest.decode_s" -> "s", "ingest.resolve_s" -> "s",
    "ingest.asset_files_per_doc" -> "count", "ingest.asset_bytes_per_doc" -> "B",
    "store.files" -> "count", "store.disk_bytes_per_doc" -> "B")

  /** Direct single-thread calls into the ingest layers over the packages
    * a workload handed over, and the decode and resolve steps over its
    * messages against the store it ended with. */
  def probe(spark: SparkSession, tracer: Tracer, msgs: Seq[Msg], storeDir: Path, res: Result): Unit = {
    val pkgs = msgs.filter(m => m.archive != null && m.cite != null)
    val md = java.security.MessageDigest.getInstance("MD5")
    val w0 = Clock.now()
    var gatherS = 0.0
    var explodeS = 0.0
    pkgs.foreach { m =>
      val digest = md.digest(m.archive).map("%02x".format(_)).mkString
      val p = RawPackage(m.ref, "TDR", s"${m.ref}.tar.gz", m.archive, null, digest)
      val t0 = Clock.now()
      PackageIngest.gather(p)
      val t1 = Clock.now()
      TarOps.explode(m.archive)
      val t2 = Clock.now()
      graft.tar.MemberCache.remove(digest)
      tracer.add("ingest.gather", "ingest", t0, t1, Level.Op)
      tracer.add("tar.explode", "tar", t1, t2, Level.Op)
      gatherS += (t1 - t0) / 1e9
      explodeS += (t2 - t1) / 1e9
    }
    val n = math.max(1, pkgs.size).toDouble
    res.layer("ingest.gather_ms_per_pkg") = (1e3 * gatherS / n, "ms")
    res.layer("tar.explode_ms_per_pkg") = (1e3 * explodeS / n, "ms")

    val decode = tracer.span("ingest.decode", "ingest") {
      val t0 = System.nanoTime()
      Messages.decode(Ingest.frame(spark, msgs)).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    res.layer("ingest.decode_s") = (decode, "s")

    val ids = LocalStore(spark, storeDir.toString).read("identifiers")
    val resolve = ids.map { idf =>
      import spark.implicits._
      val req = pkgs.map(m => (null: String, m.cite, m.docType, m.ref))
        .toDF("trimmed_uri", "ncn", "doc_type", "consignment_ref")
      tracer.span("ingest.resolve", "ingest") {
        val t0 = System.nanoTime()
        Resolution.resolve(req, idf).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
    }.getOrElse(0.0)
    res.layer("ingest.resolve_s") = (resolve, "s")
    tracer.add("probe", "workload", w0, Clock.now(), Level.Unit)
  }

  def report(tracer: Tracer, o: Opts, res: Result): Unit = {
    val ss = tracer.all
    val parent = tracer.parents(ss)
    val root = ss.find(s => s.level == Level.Workload && s.name.startsWith("workload."))
    def inRoot(s: Span) = root.exists(r => r.start <= s.start && s.start < r.end)
    val jobs = ss.filter(s => s.level == Level.Job && inRoot(s))
    def a(s: Span, k: String) = s.attrs.getOrElse(k, 0.0)

    // rounds: trickle rounds and warm query executions
    val rounds = ss.filter(s => s.level == Level.Unit && inRoot(s))
    def within(r: Span) = jobs.filter(j => r.start <= j.start && j.start < r.end)
    val perRound = rounds.map { r =>
      val js = within(r)
      val gap = r.dur - Tracer.unionLength(js.map(j => (math.max(j.start, r.start), math.min(j.end, r.end))))
      (js.size.toDouble, js.map(a(_, "stages")).sum, js.map(a(_, "tasks")).sum, gap,
        js.map(a(_, "task_run_s")).sum / (math.max(r.dur, 1e-9) * o.cpus))
    }
    def med(f: ((Double, Double, Double, Double, Double)) => Double) =
      if (perRound.isEmpty) 0.0 else Stats.median(perRound.map(f))
    res.layer("spark.jobs_per_round") = (med(_._1), "count")
    res.layer("spark.stages_per_round") = (med(_._2), "count")
    res.layer("spark.tasks_per_round") = (med(_._3), "count")
    res.layer("spark.driver_gap_s") = (med(_._4), "s")
    res.layer("spark.busy_share") = (med(_._5), "ratio")

    for (layer <- Seq("ingest", "store")) {
      val js = jobs.filter(_.layer == layer)
      res.layer(s"$layer.jobs") = (js.size.toDouble, "count")
      res.layer(s"$layer.task_cpu_s") = (js.map(a(_, "task_cpu_s")).sum, "s")
    }
    res.layer("store.shuffle_write_bytes") =
      (jobs.filter(_.layer == "store").map(a(_, "shuffle_write_bytes")).sum, "B")

    val storeOps = ss.filter(s => s.level == Level.Op && s.layer == "store" && inRoot(s))
    val unitWall = rounds.map(_.dur).sum
    val apply = storeOps.filter(_.name == "store.applyEffects").map(_.dur).sum
    val reads = storeOps.filter(_.name.startsWith("store.read."))
    res.layer("store.apply_effects_s") = (apply, "s")
    res.layer("store.apply_share") = (if (unitWall > 0) apply / unitWall else 0.0, "ratio")
    res.layer("store.read_s") = (reads.map(_.dur).sum, "s")
    res.layer("store.reads_per_round") = (if (rounds.isEmpty) 0.0 else reads.size.toDouble / rounds.size, "count")
    res.layer("store.append_failures_s") =
      (storeOps.filter(_.name == "store.appendFailures").map(_.dur).sum, "s")

    // good rounds only, so a bad message's short round at either end
    // does not read as growth
    val trickle = rounds.filter(r => r.name.startsWith("trickle.round.") && a(r, "good") == 1.0)
      .sortBy(_.start).map(_.dur)
    val decile = math.max(1, trickle.size / 10)
    res.layer("trickle.latency_growth") = (if (trickle.size < 2) 0.0
      else Stats.median(trickle.takeRight(decile)) / Stats.median(trickle.take(decile)), "ratio")

    // queries: per warm execution, the jobs it contained
    val warm = rounds.filter(s => s.name.startsWith("query.") && s.name.endsWith(".warm"))
    def execStats(q: String) = warm.filter(_.name == s"query.$q.warm").map { s =>
      val js = within(s)
      (s.dur, js.size.toDouble, js.map(a(_, "tasks")).sum,
        js.map(j => a(j, "shuffle_write_bytes")).sum, js.map(a(_, "task_cpu_s")).sum,
        js.map(a(_, "task_run_s")).sum)
    }
    def medOf(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    Queries.all.foreach { case (q, _) =>
      val es = execStats(q)
      res.layer(s"query.$q.warm_s") = (medOf(es.map(_._1)), "s")
      res.layer(s"query.$q.jobs") = (medOf(es.map(_._2)), "count")
      res.layer(s"query.$q.tasks") = (medOf(es.map(_._3)), "count")
      res.layer(s"query.$q.shuffle_bytes") = (medOf(es.map(_._4)), "B")
    }
    val iterEs = Queries.iter.map(q => execStats(q._1))
    val kernelEs = Queries.kernel.map(q => execStats(q._1))
    res.layer("query.iter.jobs") = (iterEs.map(es => medOf(es.map(_._2))).sum, "count")
    val iterWall = iterEs.flatten.map(_._1).sum
    res.layer("query.iter.busy_share") =
      (if (iterWall > 0) iterEs.flatten.map(_._6).sum / (iterWall * o.cpus) else 0.0, "ratio")
    res.layer("query.kernel.task_cpu_s") = (kernelEs.map(es => medOf(es.map(_._5))).sum, "s")
    res.layer("query.kernel.shuffle_bytes") = (kernelEs.map(es => medOf(es.map(_._4))).sum, "B")

    val self = tracer.selfTimes(ss.filter(inRoot), parent)
    selfTimeLayers.foreach(l => res.layer(s"selftime.${l}_s") = (self.getOrElse(l, 0.0), "s"))
    res.info("spans") = ss.size.toString
    res.info("jobs_traced") = jobs.size.toString
  }
}
