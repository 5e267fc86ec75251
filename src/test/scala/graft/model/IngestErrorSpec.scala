package graft.model

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** Pins [[IngestError.terminal]], the one rule that routes a failure row
  * terminal (parked in the DLQ once) or retryable (eligible for
  * redelivery). */
class IngestErrorSpec extends SparkSpec {
  import spark.implicits._

  private def routed(errors: Seq[String]): Map[String, Boolean] =
    errors.toDF("error").select(col("error"), IngestError.terminal(col("error")))
      .as[(String, Boolean)].collect().toMap

  test("every taxonomy name routes as its entry's terminal flag") {
    val names = IngestError.all.map(_.name)
    assert(names.distinct.size == names.size)
    assert(routed(names) == IngestError.all.map(e => e.name -> e.terminal).toMap)
  }

  test("names outside the taxonomy route retryable") {
    val outside = Seq("ClientError: package fetch failed: x", "JSONDecodeError: x")
    assert(routed(outside) == outside.map(_ -> false).toMap)
  }
}
