package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run, as `run.py` passes it. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    runDir: Path, sfDir: String, cpus: Int, spansFile: Option[Path]) {
  def deadline(start: Long): Long = start + seconds * 1000000000L
}

/** What a workload run found: operations attempted and failed against the
  * ledger, problems no single operation explains (they make the run
  * incorrect), and the numbers it measured. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val failedOps = mutable.ArrayBuffer.empty[String]
  val problems = mutable.ArrayBuffer.empty[String]
  /** End-to-end metrics: name → (value, unit). */
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer metrics from the traced run: name → (value, unit). */
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Extra facts for the report line (raw JSON values). */
  val info = mutable.LinkedHashMap.empty[String, String]
  /** Wall seconds of the latest measurement, for the tracing overhead. */
  var measuredWall = 0.0

  def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failedOps.size < 20) failedOps += what }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (value, percentile, samples beyond). With 20 or fewer samples no such
    * percentile lies above the median, so the maximum is reported and the
    * percentile reads 100. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    if (s.size <= 20) (s.last, 100.0, 0)
    else {
      val i = s.size - 11
      (s(i), 100.0 * (i + 1) / s.size, s.size - 1 - i)
    }
  }
}

object Main {
  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    mode match {
      case "run" => run(args)
      case "fixtures" => fixtures(args)
      case "pin" => Queries.pin(args.drop(1))
      case other =>
        System.err.println(s"usage: run|fixtures|pin ... (got '$other')")
        sys.exit(2)
    }
  }

  /** Prints one md5 per generated fixture stream for a seed, so the
    * generator's determinism can be checked without a Spark session. */
  private def fixtures(args: Array[String]): Unit = {
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val md = java.security.MessageDigest.getInstance("MD5")
    def digest(ms: Seq[Msg]): String = {
      md.reset()
      ms.foreach { m =>
        md.update(m.line.getBytes("UTF-8"))
        md.update(s"${m.outcome}|${m.uri}|${m.assets.mkString(",")}".getBytes("UTF-8"))
        if (m.archive != null) md.update(m.archive)
      }
      md.digest().map("%02x".format(_)).mkString
    }
    val flat = Gen.trickle(seed, Ingest.TrickleRounds)
    val counts = flat.groupBy(m => m.outcome match {
      case Outcome.Failed(t) => s"failed_terminal_$t"
      case o => o.toString.toLowerCase
    }).map { case (k, v) => s""""$k": ${v.size}""" }.toSeq.sorted.mkString(", ")
    val uniqueCites = flat.filter(_.outcome == Outcome.Inserted).map(_.cite).distinct.size ==
      flat.count(_.outcome == Outcome.Inserted)
    println(s"""{"kind": "perfbench.fixtures", "seed": $seed, """ +
        s""""trickle_md5": "${digest(flat)}", """ +
      s""""trickle_outcomes": {$counts}, "unique_insert_cites": $uniqueCites}""")
  }

  private def run(args: Array[String]): Unit = {
    val runDir = Paths.get(arg(args, "--run-dir").getOrElse(sys.error("--run-dir is required")))
      .toAbsolutePath
    val o = Opts(
      workload = arg(args, "--workload").getOrElse(sys.error("--workload is required")),
      seed = arg(args, "--seed").map(_.toLong).getOrElse(1L),
      seconds = arg(args, "--seconds").map(_.toInt).getOrElse(10),
      trace = arg(args, "--trace").contains("1"),
      runDir = runDir,
      sfDir = arg(args, "--sf-dir").getOrElse(sys.error("--sf-dir is required")),
      cpus = arg(args, "--cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      spansFile = arg(args, "--spans").map(Paths.get(_)))
    val workload: Workload = o.workload match {
      case "ingest_trickle" => new Ingest.Trickle(o)
      case "query_mix" => new Queries.Mix(o)
      case w => sys.error(s"unknown workload '$w'")
    }
    val res = new Result

    // fixture generation is not set-up: time it and take it out
    val g0 = System.nanoTime()
    workload.generate()
    val genS = (System.nanoTime() - g0) / 1e9

    // set-up: JVM start until the session is ready and the warm-up is
    // done, less fixture generation. It is taken once, cold: a repeat in
    // the same JVM would time a warm JVM; repeated runs give the median
    // over fresh JVMs.
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o)
    workload.warmup(spark)
    res.e2e("setup_s") = ((System.currentTimeMillis() - jvmStart) / 1e3 - genS, "s")
    res.info("fixture_gen_s") = Json.num(genS)

    // end-to-end numbers come from an untraced pass; a traced run then
    // repeats the measurement with the listener and store wrapper on
    workload.measure(spark, new Tracer(false), res)
    res.info("peak_rss_mb") = Json.num(peakRssMb())
    if (o.trace) {
      val untracedWall = res.measuredWall
      val tracer = new Tracer(true)
      val jobs = new JobListener(tracer)
      spark.sparkContext.addSparkListener(jobs)
      val (e2e, info) = (res.e2e.clone(), res.info.clone())
      workload.measure(spark, tracer, res)
      res.e2e.clear(); res.e2e ++= e2e
      res.info.clear(); res.info ++= info
      res.layer("trace.overhead_share") = (res.measuredWall / untracedWall - 1, "ratio")
      workload.check(spark, res)
      workload.probe(spark, tracer, res)
      jobs.drain(spark)
      Layers.report(tracer, o, res)
      Layers.probeKeys.foreach { case (k, u) => if (!res.layer.contains(k)) res.layer(k) = (0.0, u) }
      o.spansFile.foreach(p => tracer.writeSpans(p, s"${o.workload}-${o.seed}"))
    } else workload.check(spark, res)
    workload.close()
    spark.stop()
    println(report(o, res))
  }

  def session(o: Opts): SparkSession = {
    val b = graft.GraftSession.builder(s"local[${o.cpus}]", o.cpus)
      .config("spark.sql.warehouse.dir", o.runDir.resolve("warehouse").toString)
      .config("spark.local.dir", o.runDir.resolve("spark-local").toString)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** VmHWM of this JVM in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  private def report(o: Opts, r: Result): String = {
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) = m.map { case (k, (v, u)) =>
      s"""${Json.str(k)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}"""
    }.mkString("{", ", ", "}")
    val rt = Runtime.getRuntime
    val info = r.info.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString(", ")
    s"""PERFBENCH_RESULT {"kind": "perfbench.result", "workload": ${Json.str(o.workload)}, """ +
      s""""seed": ${o.seed}, "seconds": ${o.seconds}, "trace": ${if (o.trace) 1 else 0}, """ +
      s""""cpus": ${o.cpus}, "heap_max_mb": ${rt.maxMemory / (1 << 20)}, """ +
      s""""spark": ${Json.str(org.apache.spark.SPARK_VERSION)}, """ +
      s""""jdk": ${Json.str(System.getProperty("java.version"))}, """ +
      s""""attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""problems": ${r.problems.map(Json.str).mkString("[", ", ", "]")}, """ +
      s""""failed_ops": ${r.failedOps.map(Json.str).mkString("[", ", ", "]")}, """ +
      s""""measured_wall_s": ${Json.num(r.measuredWall)}, """ +
      s""""end_to_end": ${metrics(r.e2e)}, "per_layer": ${metrics(r.layer)}, $info}"""
  }
}

/** One workload: fixtures from the seed, a warm-up that set-up includes,
  * the timed loop, and the output check against the ledger. */
trait Workload {
  def generate(): Unit
  def warmup(spark: SparkSession): Unit
  def measure(spark: SparkSession, tracer: Tracer, res: Result): Unit
  def check(spark: SparkSession, res: Result): Unit
  /** Traced runs only: direct calls into single layers after the check. */
  def probe(spark: SparkSession, tracer: Tracer, res: Result): Unit = ()
  def close(): Unit = ()
}
