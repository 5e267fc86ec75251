package graft.sql

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** The local backward-induction kernel behind q142, q169 and q171 must
  * equal the DataFrame induction it replaced, to the last DECIMAL(18,12)
  * digit: the DuckDB oracle compares the queries' doubles exactly. The
  * DataFrame loop lives on here only as the reference. The job-floor
  * cases pin each query's warm Spark-job count, so a return to one job
  * per induction step fails. */
class MarkovInductionSpec extends SparkSpec {
  import spark.implicits._

  /** The per-step DataFrame induction the three queries ran before the
    * kernel: one tagged matrix, the states × variants grid, and per step
    * a join, a group-by and a left join back onto the grid. */
  private def reference(trans: DataFrame, variants: Seq[(Any, Column)], absorbing: String,
      horizon: Int): DataFrame = {
    val d12 = DecimalType(18, 12)
    val zero = lit(0).cast(d12)
    val states = trans.select(col("from_type").as("state"))
      .unionByName(trans.select(col("to_type").as("state"))).distinct()
    val tagged = variants.map { case (tag, keep) =>
      trans.filter(keep).withColumn("variant", lit(tag))
    }.reduce(_ unionByName _).localCheckpoint(true)
    val vStates = states.crossJoin(tagged.select(col("variant")).distinct()).localCheckpoint(true)
    var pk = vStates.select(col("variant"), col("state"),
      when(col("state") === absorbing, lit(1).cast(d12)).otherwise(zero).as("ph"))
    (1 to horizon).map { k =>
      val step = tagged
        .join(pk.withColumnRenamed("state", "to_type"), Seq("variant", "to_type"))
        .select(col("variant"), col("from_type"),
          (col("p") * col("ph").cast(DoubleType)).cast(d12).as("c"))
        .groupBy(col("variant"), col("from_type")).agg(sum(col("c")).cast(d12).as("s"))
      pk = vStates
        .join(step.withColumnRenamed("from_type", "state"), Seq("variant", "state"), "left")
        .select(col("variant"), col("state"),
          when(col("state") === absorbing, lit(1).cast(d12))
            .otherwise(coalesce(col("s"), zero)).as("ph"))
        .localCheckpoint(true)
      pk.select(col("variant"), col("state"), lit(k).as("horizon"), col("ph"))
    }.reduce(_ unionByName _)
  }

  private def rows(df: DataFrame): Seq[(String, String, Int, java.math.BigDecimal)] =
    df.select(col("variant"), col("state"), col("horizon"), col("ph")).collect().toSeq
      .map(r => (String.valueOf(r.get(0)), r.getString(1), r.getInt(2), r.getDecimal(3)))
      .sortBy(r => (r._1, Option(r._2), r._3))

  private def assertExact(trans: DataFrame, variants: Seq[(Any, Column)], absorbing: String,
      horizon: Int): Seq[(String, String, Int, java.math.BigDecimal)] = {
    val got = RelationalQueries.markovInduction(trans, variants, absorbing, horizon)
    assert(got.schema("ph").dataType == DecimalType(18, 12))
    val want = rows(reference(trans, variants, absorbing, horizon))
    assert(rows(got) == want)
    want
  }

  private def matrix(edges: (String, String, Double)*): DataFrame =
    edges.toDF("from_type", "to_type", "p")

  test("rounding-edge probabilities (1/3, 1/7, 2/3) match the DataFrame induction exactly") {
    val trans = matrix(
      ("start", "a", 1.0 / 3), ("start", "b", 2.0 / 3),
      ("a", "b", 1.0 / 7), ("a", "conv", 2.0 / 7), ("a", "a", 4.0 / 7),
      ("b", "a", 2.0 / 3), ("b", "conv", 1.0 / 3),
      ("conv", "start", 1.0))
    val out = assertExact(trans, Seq("all" -> lit(true)), "conv", 6)
    // 6 steps × 4 states, and the products do round: 1/3 at scale 12
    assert(out.length == 24)
    assert(out.exists(_._4.toPlainString == "0.333333333333"))
  }

  test("a state with no outgoing rows and an absorbing state with outgoing rows") {
    val trans = matrix(
      ("start", "dead", 0.25), ("start", "purchase", 0.75 / 3), ("start", "view", 0.5),
      ("view", "purchase", 1.0 / 7), ("view", "dead", 6.0 / 7),
      ("purchase", "view", 0.5), ("purchase", "start", 0.5))
    val out = assertExact(trans, Seq(0 -> lit(true), 1 -> (col("to_type") =!= "view")),
      "purchase", 3)
    // the absorbing state stays 1 whatever its own rows say; the sink stays 0
    assert(out.filter(_._2 == "purchase").forall(_._4.compareTo(java.math.BigDecimal.ONE) == 0))
    assert(out.filter(_._2 == "dead").forall(_._4.signum == 0))
  }

  test("an empty variant emits no rows; a removal keeps the unfiltered state set") {
    val trans = matrix(
      ("start", "click", 0.5), ("start", "view", 0.5),
      ("click", "conv", 1.0 / 3), ("click", "no_conv", 2.0 / 3),
      ("view", "click", 1.0 / 7), ("view", "no_conv", 6.0 / 7))
    val out = assertExact(trans, Seq(
        "__base" -> lit(true),
        "click" -> (col("from_type") =!= "click" && col("to_type") =!= "click"),
        "nothing" -> (col("from_type") === "absent")),
      "conv", 6)
    assert(!out.exists(_._1 == "nothing"))
    assert(out.filter(_._1 == "click").map(_._2).toSet ==
      Set("start", "click", "view", "conv", "no_conv"))
  }

  test("a null endpoint joins nothing, as in the DataFrame join") {
    val trans = Seq(("start", "a", 0.5), ("start", null, 0.5), ("a", "conv", 1.0 / 3))
      .toDF("from_type", "to_type", "p")
    assertExact(trans, Seq(7 -> lit(true)), "conv", 3)
  }

  test("q121's matrix at sf0.001 (q142's chain) matches the DataFrame induction exactly") {
    val trans = RelationalQueries.q121MarkovTransitions(spark, Sf0001)
      .select(col("from_type"), col("to_type"), col("p"))
    assertExact(trans, Seq("all" -> lit(true), "no_view" -> (col("to_type") =!= "view")),
      "purchase", 6)
  }

  // Warm job counts at sf0.001 (one corpus pass, the collect of the
  // matrix, each query's tail). With a job per induction step the three
  // queries ran 19, 47 and 53 jobs warm, at sf0.001 and at sf0.1.
  private val JobFloors = Seq(
    "q142_markov_absorption" -> 8,
    "q169_removal_attribution" -> 12,
    "q171_shapley_attribution" -> 16)

  for ((name, floor) <- JobFloors)
    test(s"$name runs no Spark job per induction step (≤ $floor jobs warm)") {
      val q = graft.SparkEntry.queries(name)
      q(spark, Sf0001).collect()
      val jobs = jobsDuring(q(spark, Sf0001).collect())
      assert(jobs <= floor, s"$name ran $jobs jobs")
    }
}
