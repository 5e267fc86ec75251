package graft.metrics

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Zero-extra-pass pipeline observability via `Dataset.observe`.
  *
  * `observe` attaches aggregate metrics to a plan node; Spark computes
  * them INLINE with whatever action executes the plan (an accumulator
  * under the hood), so row counts / null rates / byte totals cost no
  * second scan and no driver-side collect — the production alternative
  * to the `df.count()` sprinkled through naive pipelines, which doubles
  * every scan it touches. Batch actions surface the values through
  * [[MetricsSink]] (a `QueryExecutionListener`); streaming queries
  * surface the same rows per micro-batch in
  * `StreamingQueryProgress.observedMetrics` for free.
  *
  * 100 TB shape: metrics are commutative aggregates merged
  * executor-side (accumulator semantics) — no shuffle, no skew, no
  * extra stage; observing a frame never changes its rows, partitioning,
  * or pushdown (CollectMetrics is transparent to Catalyst pruning).
  */
object Observe {

  /** The standard data-quality row for a frame: total rows plus a null
    * count per named column — the load-audit every warehouse emits. */
  def quality(df: DataFrame, name: String, cols: String*): DataFrame = {
    val ms: Seq[Column] = count(lit(1)).as("n_rows") +:
      cols.map(c =>
        sum(when(col(c).isNull, 1L).otherwise(0L)).cast("long").as(s"n_null_$c"))
    df.observe(name, ms.head, ms.tail: _*)
  }

  /** Rows where `c` holds: zero on an empty frame, where `sum` is null. */
  def countIf(c: Column): Column = count(when(c, 1))

  /** An [[org.apache.spark.sql.Observation]]'s metrics as longs, once the
    * action carrying it has run: the driver branches on counts its eager
    * checkpoints already computed instead of running `isEmpty`/`count`
    * jobs. Delivery rides the listener bus just after the action returns;
    * a row still missing after five minutes fails the caller (the
    * streaming batch then redelivers) rather than hanging it. Nulls read
    * as 0. */
  def counts(o: org.apache.spark.sql.Observation): Map[String, Long] = {
    val row = scala.concurrent.Await.result(o.future,
      scala.concurrent.duration.Duration(5, "min"))
    row.schema.fieldNames.map { f =>
      f -> Option(row.getAs[Any](f)).fold(0L)(_.asInstanceOf[Number].longValue)
    }.toMap
  }
}

/** Accumulating listener for batch-side observed metrics: keeps the
  * LATEST row per metric name (re-executions of a plan re-observe; last
  * write wins, which is what a monitoring export wants). Thread-safe —
  * Spark fires listeners from its event bus asynchronously, so readers
  * should poll [[latest]] rather than assume synchronous delivery. */
final class MetricsSink extends QueryExecutionListener {
  private val seen = new ConcurrentHashMap[String, Map[String, Any]]()

  def latest(name: String): Option[Map[String, Any]] = Option(seen.get(name))
  def names: Set[String] = { val it = seen.keys(); Iterator.continually(it)
    .takeWhile(_.hasMoreElements).map(_.nextElement()).toSet }
  def clear(): Unit = seen.clear()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.observedMetrics.foreach { case (name, row) =>
      seen.put(name, row.getValuesMap[Any](row.schema.fieldNames.toIndexedSeq))
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object MetricsSink {
  /** Register a fresh sink on the session's listener manager. */
  def register(spark: SparkSession): MetricsSink = {
    val s = new MetricsSink
    spark.listenerManager.register(s)
    s
  }
}
