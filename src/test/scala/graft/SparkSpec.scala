package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole suite run (sessions are
  * expensive; ScalaTest suites run sequentially in one JVM here). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val Sf0001 = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` ran. The listener bus is async, so a
    * marker job is run after `body` and waited for: the bus is FIFO. */
  def jobsDuring(body: => Unit): Int = {
    val started = new AtomicInteger()
    @volatile var markerSeen = false
    val marker = "spark-spec-job-count-marker"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          markerSeen = true
        else if (!markerSeen) started.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerSeen, "listener bus did not drain within 30 s")
      started.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
