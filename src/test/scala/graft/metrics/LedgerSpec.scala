package graft.metrics

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.store.LocalStore

/** Pins the measurement core: a drain that waits out a slow bus, per-job
  * shuffle bytes and call sites, and tagged walls that account for the
  * wall around them. */
class LedgerSpec extends SparkSpec {
  import spark.implicits._

  private def withLedger[T](f: Ledger => T): T = {
    val ledger = new Ledger(spark)
    try f(ledger) finally ledger.close()
  }

  private def wide = spark.range(20000).groupBy(col("id") % 13).count()

  test("drain returns every job while another listener on the bus sleeps 200 ms per job") {
    // the bus delivers to every listener in turn, so this one delays the
    // ledger's events by ~2 s: a fixed 1 s wait would miss most jobs
    val slow = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Thread.sleep(200)
    }
    spark.sparkContext.addSparkListener(slow)
    try withLedger { ledger =>
      ledger.tagged("ten")((1 to 10).foreach(_ => spark.sparkContext.parallelize(1 to 8, 2).count()))
      val jobs = ledger.drain()
      assert(jobs.count(_.tag == "ten") == 10, jobs)
      assert(ledger.drain().isEmpty, "drain hands records over once")
    } finally spark.sparkContext.removeSparkListener(slow)
  }

  test("a tagged groupBy reports shuffle writes, its call site, and jobsDuring's job count") {
    Ledger.materialize(wide) // cold: codegen
    withLedger { ledger =>
      val run = ledger.measure("wide")(Ledger.materialize(wide))
      assert(run.shuffleWriteBytes > 0)
      assert(run.jobs.map(_.shuffleReadBytes).sum > 0)
      // AQE runs a SQL action's jobs on pool threads: the site comes from
      // the SQL execution's call site, which is this spec
      assert(run.jobs.forall(_.site.startsWith("metrics.LedgerSpec.")), run.jobs)
      assert(run.jobs.size == jobsDuring(Ledger.materialize(wide)))

      val narrow = ledger.measure("narrow")(Ledger.materialize(spark.range(20000).selectExpr("id * 2")))
      assert(narrow.jobs.nonEmpty)
      assert(narrow.shuffleWriteBytes == 0 && narrow.jobs.forall(_.shuffleReadBytes == 0))
    }
  }

  test("walls of sequential tagged bodies sum to the enclosing wall, jobs fit inside their body") {
    // the only code between the bodies is the loop: 0.25 s covers a GC pause
    val Tolerance = 0.25
    Ledger.materialize(wide)
    withLedger { ledger =>
      var walls = Seq.empty[Double]
      val enclosing = Ledger.seconds {
        walls = (1 to 3).map(i => Ledger.seconds(ledger.tagged(s"phase$i")(Ledger.materialize(wide))))
      }
      assert(walls.sum <= enclosing)
      assert(enclosing - walls.sum < Tolerance, s"walls $walls, enclosing $enclosing")
      // the bus clock counts whole milliseconds: 2 ms of slack per job
      val jobs = ledger.drain()
      walls.zipWithIndex.foreach { case (wall, i) =>
        val js = jobs.filter(_.tag == s"phase${i + 1}")
        assert(js.nonEmpty)
        assert(js.map(_.seconds).sum <= wall + 0.002 * js.size, s"$js vs $wall")
      }
    }
  }

  test("a LocalStore read's footer-inference job is attributed to the store") {
    val base = Files.createTempDirectory("graft-ledger-site").toString
    LocalStore(spark, base).appendIdentifiers(
      Seq(("doc/1", "slug", "doc/1", null: String)).toDF("document_uri", "id_kind", "id_value", "id_type"))
    withLedger { ledger =>
      // a fresh instance has no memoized schema, so the read infers it
      val run = ledger.measure("read")(LocalStore(spark, base).read("identifiers"))
      assert(run.jobs.nonEmpty)
      assert(run.jobs.forall(_.site.startsWith("store.LocalStore.")), run.jobs)
    }
  }

  test("site folds object classes and lambdas onto Class.method and skips the ledger") {
    val trace = Seq(
      "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1)",
      "graft.metrics.Ledger$.materialize(Ledger.scala:2)",
      "graft.sql.RelationalQueries$.$anonfun$markovInduction$2(RelationalQueries.scala:3)",
      "graft.Bench$.main(Bench.scala:4)").mkString("\n")
    assert(Ledger.site(trace).contains("sql.RelationalQueries.markovInduction"))
    assert(Ledger.site("graft.Bench$.main(Bench.scala:4)").contains("Bench.main"))
    assert(Ledger.site("org.apache.spark.rdd.RDD.count(RDD.scala:1)").isEmpty)
  }
}
