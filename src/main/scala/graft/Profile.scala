package graft

import graft.metrics.Ledger

/** Optimization-round profiling harness (guide §1): run named queries
  * once cold + once warm through the bench's noop sink and print the
  * [[Ledger]]'s record of every job of the warm run — wall time, stages,
  * tasks, input and shuffle bytes, call site — and the generated classes
  * each run compiled, so the seconds inside a multi-stage query are
  * attributable without the UI (spark.ui.enabled=false in the bench
  * session).
  *
  * Usage: sbt "runMain graft.Profile q199_ivfpq_adc[,q156_modularity,...]"
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
  * Not part of the driver contract; numbers here are for the builder only.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").toSeq)
      .getOrElse(Seq("q93_pagerank"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.harness()
    val ledger = new Ledger(spark)
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"== $name: NOT FOUND")
        case Some(fn) =>
          // cold rep to absorb codegen; the profiled rep is warm like the bench
          val (_, coldCompiles) = Ledger.timed(Ledger.materialize(fn(spark, sfDir)))
          val run = ledger.measure(name)(Ledger.materialize(fn(spark, sfDir)))
          println(f"== $name warm wall ${run.wall}%.2fs, ${run.jobs.size} jobs, " +
            f"sum-of-jobs ${run.jobs.map(_.seconds).sum}%.2fs")
          println(s"  compiles: cold $coldCompiles, warm ${run.compiles} generated classes")
          run.jobs.foreach { r =>
            println(f"  job ${r.id}%3d ${r.seconds}%6.2fs stages=${r.stages}%2d tasks=${r.tasks}%4d " +
              f"in=${r.inputBytes / 1024 / 1024}%4dMB sw=${r.shuffleWriteBytes / 1024}%6dKB " +
              f"sr=${r.shuffleReadBytes / 1024}%6dKB  ${r.site}")
          }
      }
    }
    ledger.close()
    spark.stop()
  }
}
