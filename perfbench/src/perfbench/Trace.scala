package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.store.{DocumentStore, EffectBatch}

/** One traced interval. Times are epoch nanoseconds on [[Clock]]; the
  * parent is derived from the levels (see [[Tracer.parents]]). */
final case class Span(id: Long, name: String, layer: String, start: Long, end: Long,
    level: Int, attrs: Map[String, Double] = Map.empty) {
  def dur: Double = (end - start) / 1e9
}

/** Epoch nanoseconds, monotonic within the process: Spark's listener
  * events carry epoch milliseconds, so every span shares that base. */
object Clock {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)
  def fromMillis(ms: Long): Long = ms * 1000000L
}

/** Span levels: a span's parent is the innermost span of a LOWER level
  * whose interval contains its start. Jobs never parent anything. */
object Level {
  val Workload = 0
  val Unit = 1     // a trickle round, a warm query execution, the probes
  val Op = 2       // a store call or a direct kernel call
  val Job = 3      // a Spark job, from the listener
}

/** In-memory span recorder. Disabled tracers record nothing, so untraced
  * runs pay one branch per call. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def add(name: String, layer: String, start: Long, end: Long, level: Int,
      attrs: Map[String, Double] = Map.empty): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), name, layer, start, end, level, attrs))

  /** Times `body` as an [[Level.Op]] span. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = Clock.now()
      try body finally add(name, layer, t0, Clock.now(), Level.Op)
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.start, s.level))

  /** Parent of every span: the innermost lower-level span containing its
    * start (ties go to the latest-starting one). */
  def parents(ss: Seq[Span]): Map[Long, Long] = {
    val byLevel = ss.groupBy(_.level)
    ss.map { s =>
      val p = (s.level - 1 to 0 by -1).iterator.flatMap { l =>
        byLevel.getOrElse(l, Nil).filter(c => c.start <= s.start && s.start < c.end)
          .sortBy(-_.start).headOption
      }.nextOption()
      s.id -> p.map(_.id).getOrElse(0L)
    }.toMap
  }

  /** Self time per layer: the wall time covered by the layer's spans
    * outside their own children (union over the layer's spans, so
    * concurrent jobs of one module count once). */
  def selfTimes(ss: Seq[Span], parent: Map[Long, Long]): Map[String, Double] = {
    val kids = ss.groupBy(s => parent(s.id))
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> Tracer.unionLength(xs.flatMap { s =>
        Tracer.minus((s.start, s.end), kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
      })
    }
  }

  /** Writes one JSON object per span. */
  def writeSpans(path: java.nio.file.Path, traceId: String): Unit = {
    val ss = all
    val parent = parents(ss)
    val sb = new StringBuilder
    ss.foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString(", ")
      sb.append(s"""{"trace": ${Json.str(traceId)}, "id": ${s.id}, "parent": ${parent(s.id)}, """)
        .append(s""""name": ${Json.str(s.name)}, "layer": ${Json.str(s.layer)}, """)
        .append(s""""start_ns": ${s.start}, "end_ns": ${s.end}, "attrs": {$attrs}}""").append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  /** `iv` without the parts any of `holes` covers. */
  def minus(iv: (Long, Long), holes: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    var cur = iv._1
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    holes.filter(h => h._2 > iv._1 && h._1 < iv._2).sortBy(_._1).foreach { case (hs, he) =>
      if (hs > cur) out += ((cur, hs))
      cur = math.max(cur, he)
    }
    if (cur < iv._2) out += ((cur, iv._2))
    out.toSeq
  }

  /** Total length of the union of (start, end) intervals (ns → s). */
  def unionLength(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e9
  }
}

/** Spark job accounting from the listener bus: one [[Span]] per job with
  * its stage/task counts, summed task run and CPU time, and shuffle bytes.
  *
  * A job's layer is the repo module (`graft/<module>/`) of the first
  * `graft.<module>` frame in its recorded call site; jobs with none are
  * `spark`. */
final class JobListener(tracer: Tracer) extends SparkListener {
  private final class Job(val start: Long, val module: String, val stages: Int, val tasks: Int) {
    val runMs = new AtomicLong(0)
    val cpuNs = new AtomicLong(0)
    val shuffleWrite = new AtomicLong(0)
    val shuffleRead = new AtomicLong(0)
  }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  @volatile private var markerJob: Int = -1
  @volatile private var markerDone = false

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    if (Option(e.properties).exists(_.getProperty("spark.job.description") == JobListener.Marker)) {
      markerJob = e.jobId
      return
    }
    val site = Option(e.properties).flatMap(p => Option(p.getProperty("callSite.long")))
      .orElse(e.stageInfos.headOption.map(_.details)).getOrElse("")
    val module = JobListener.module(site)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, new Job(Clock.fromMillis(e.time), module, e.stageInfos.size,
      e.stageInfos.map(_.numTasks).sum))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = jobs.get(stageJob.getOrDefault(e.stageId, -1))
    if (j != null && e.taskMetrics != null) {
      j.runMs.addAndGet(e.taskMetrics.executorRunTime)
      j.cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
      j.shuffleWrite.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
      j.shuffleRead.addAndGet(e.taskMetrics.shuffleReadMetrics.totalBytesRead)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.remove(e.jobId)
    if (j != null)
      tracer.add(s"job.${e.jobId}", j.module, j.start, Clock.fromMillis(e.time), Level.Job,
        Map("stages" -> j.stages.toDouble, "tasks" -> j.tasks.toDouble,
          "task_run_s" -> j.runMs.get / 1e3, "task_cpu_s" -> j.cpuNs.get / 1e9,
          "shuffle_write_bytes" -> j.shuffleWrite.get.toDouble,
          "shuffle_read_bytes" -> j.shuffleRead.get.toDouble))
    if (e.jobId == markerJob) markerDone = true
  }

  /** Blocks until every event posted before this call was delivered: the
    * bus is FIFO, so seeing a marker job end means all earlier ones did. */
  def drain(spark: SparkSession): Unit = {
    markerDone = false
    spark.sparkContext.setJobDescription(JobListener.Marker)
    try spark.sparkContext.parallelize(Seq(1), 1).count()
    finally spark.sparkContext.setJobDescription(null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!markerDone && System.nanoTime() < deadline) Thread.sleep(10)
  }
}

object JobListener {
  val Marker = "perfbench.listener-drain"
  private val Frame = """graft\.([a-z]+)\.""".r
  val modules = Set("streaming", "ingest", "tar", "store", "graph", "sql", "sim", "dedup",
    "text", "sources", "sketch", "media", "metrics", "plans", "expr")
  def module(callSite: String): String =
    Frame.findAllMatchIn(callSite).map(_.group(1)).find(modules).getOrElse("spark")
}

/** Delegating store that records a span per call. `withBatchScope`
  * re-wraps the inner store's scoped view, so the wire store's
  * deterministic transaction ids are exactly those of an unwrapped run. */
final class TracedStore(inner: DocumentStore, tracer: Tracer) extends DocumentStore {
  private def op[T](name: String)(body: => T): T = tracer.span(s"store.$name", "store")(body)
  def spark: SparkSession = inner.spark
  override def withBatchScope(scope: String): DocumentStore =
    new TracedStore(inner.withBatchScope(scope), tracer)
  override def applyEffects(b: EffectBatch): Unit = op("applyEffects")(inner.applyEffects(b))
  def read(t: String): Option[DataFrame] = op(s"read.$t")(inner.read(t))
  override def documents: DataFrame = op("read.documents")(inner.documents)
  override def failures: DataFrame = op("read.failures")(inner.failures)
  def upsertDocuments(u: DataFrame): Unit = op("upsertDocuments")(inner.upsertDocuments(u))
  def setPublished(d: DataFrame): Unit = op("setPublished")(inner.setPublished(d))
  def appendIdentifiers(r: DataFrame): Unit = op("appendIdentifiers")(inner.appendIdentifiers(r))
  def upsertProperties(r: DataFrame): Unit = op("upsertProperties")(inner.upsertProperties(r))
  def appendAssets(r: DataFrame): Unit = op("appendAssets")(inner.appendAssets(r))
  def appendNotifications(r: DataFrame): Unit = op("appendNotifications")(inner.appendNotifications(r))
  def appendFailures(r: DataFrame): Unit = op("appendFailures")(inner.appendFailures(r))
  def assetRoot: String = inner.assetRoot
}
