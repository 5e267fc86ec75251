package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.metrics.Ledger

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

  /** Spark jobs `body` started, as a [[Ledger]] counts them. */
  def jobsDuring(body: => Unit): Int = {
    val ledger = new Ledger(spark)
    try ledger.measure("jobsDuring")(body).jobs.size
    finally ledger.close()
  }
}
