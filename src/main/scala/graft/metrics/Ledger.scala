package graft.metrics

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One Spark job as the [[Ledger]] saw it. `start`/`end` are the listener
  * bus's epoch milliseconds; stage, task and byte counts sum the job's
  * completed stages (a stage skipped because an earlier job already
  * wrote its shuffle counts nothing). */
final case class JobRecord(id: Int, tag: String, site: String, start: Long, end: Long = 0L,
    stages: Int = 0, tasks: Int = 0, inputBytes: Long = 0L,
    shuffleReadBytes: Long = 0L, shuffleWriteBytes: Long = 0L) {
  def seconds: Double = math.max(0L, end - start) / 1e3
}

/** The measurement core of the harnesses (`Bench`, `Profile`, `Scale`,
  * `IngestBench`) and of the specs' job counter: one listener that
  * records every job that starts while it is attached.
  *
  *   - [[tagged]] marks the jobs a body starts with a caller tag. The tag
  *     is a local property, so it follows the body into the threads Spark
  *     starts for it (AQE's broadcast and subquery jobs, a streaming
  *     query's execution thread);
  *   - a job's site is the first `graft.<Class>.<method>` frame of its
  *     call site: the `callSite.long` property, else the call site of the
  *     SQL execution that started it, else the stage details. (Spark runs
  *     a SQL action's jobs on a pool thread, so their stage details hold
  *     no caller frame; inside a streaming query Spark pins every call
  *     site to the query's `start()`.)
  *   - [[drain]] hands over the records of the jobs that ended before the
  *     call. The bus is asynchronous and FIFO, so it runs a marker job
  *     and waits until the listener sees it start: every earlier event
  *     was delivered by then.
  *
  * Close it to detach the listener. */
final class Ledger(spark: SparkSession) extends SparkListener with AutoCloseable {
  private val open = mutable.HashMap.empty[Int, JobRecord]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val done = mutable.ArrayBuffer.empty[JobRecord]
  private val markers = new ConcurrentHashMap[String, CountDownLatch]()
  private val executionSites = new ConcurrentHashMap[Long, String]()

  spark.sparkContext.addSparkListener(this)

  def close(): Unit = spark.sparkContext.removeSparkListener(this)

  /** Runs `body` with every job it starts tagged `tag`. */
  def tagged[T](tag: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Ledger.TagKey)
    sc.setLocalProperty(Ledger.TagKey, tag)
    try body finally sc.setLocalProperty(Ledger.TagKey, prev)
  }

  /** The records of every job that ended before this call, oldest first;
    * the ledger forgets them. Fails if the bus has not delivered the
    * marker job within 30 s. */
  def drain(): Seq[JobRecord] = {
    val sc = spark.sparkContext
    val marker = s"graft.ledger.drain-${java.util.UUID.randomUUID}"
    val seen = new CountDownLatch(1)
    markers.put(marker, seen)
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(marker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(prev)
    if (!seen.await(30, TimeUnit.SECONDS)) {
      markers.remove(marker)
      throw new IllegalStateException("listener bus did not drain within 30 s")
    }
    synchronized { val out = done.toList; done.clear(); out }
  }

  /** Wall seconds of `body` and the records of the jobs it started
    * (drained, so they leave the ledger). */
  def measure(tag: String)(body: => Unit): Ledger.Run = {
    val wall = Ledger.seconds(tagged(tag)(body))
    Ledger.Run(wall, drain().filter(_.tag == tag))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val marker = markers.remove(prop("spark.job.description").getOrElse(""))
    if (marker != null) { marker.countDown(); return }
    val site = prop("callSite.long").flatMap(Ledger.site)
      .orElse(prop("spark.sql.execution.id").flatMap(id => Option(executionSites.get(id.toLong))))
      .orElse(e.stageInfos.iterator.flatMap(si => Ledger.site(si.details)).nextOption())
    synchronized {
      open(e.jobId) = JobRecord(e.jobId, prop(Ledger.TagKey).getOrElse(""), site.getOrElse(""), e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for (id <- stageJob.remove(si.stageId); j <- open.get(id); m <- Option(si.taskMetrics))
      open(id) = j.copy(stages = j.stages + 1, tasks = j.tasks + si.numTasks,
        inputBytes = j.inputBytes + m.inputMetrics.bytesRead,
        shuffleReadBytes = j.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = j.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach(j => done += j.copy(end = e.time))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      Ledger.site(s.details).foreach(executionSites.put(s.executionId, _))
    case s: SparkListenerSQLExecutionEnd => executionSites.remove(s.executionId)
    case _ =>
  }
}

object Ledger {
  /** The local property [[Ledger.tagged]] sets. */
  val TagKey = "graft.ledger.tag"

  /** A measured body: its wall seconds and its jobs. */
  final case class Run(wall: Double, jobs: Seq[JobRecord]) {
    def shuffleWriteBytes: Long = jobs.map(_.shuffleWriteBytes).sum
  }

  /** Wall seconds of `body` on the monotonic clock. */
  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Materializes every row and column of `df` through the noop sink (a
    * bare `count()` would let Catalyst prune the projections away) and
    * returns the wall seconds. */
  def materialize(df: DataFrame): Double =
    seconds(df.write.mode("overwrite").format("noop").save())

  // `graft.<pkg>.<Class>.<method>`, with object classes (`Class$`) and
  // lambdas (`$anonfun$method$1`) folded onto their class and method
  private val Frame = """graft\.((?:[a-z]\w*\.)*[A-Z][\w$]*?)\$*\.(?:\$anonfun\$)?([A-Za-z]\w*)""".r

  /** `<pkg>.<Class>.<method>` (without the `graft.` prefix) of the first
    * repo frame in a call-site trace, skipping the ledger's own. */
  def site(callSite: String): Option[String] =
    Frame.findAllMatchIn(callSite).map(m => s"${m.group(1)}.${m.group(2)}")
      .find(!_.startsWith("metrics.Ledger."))
}
