package graft.store

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.metrics.Ledger
import graft.sql.RelationalQueries

/** EXECUTES q148's compaction manifest — the OPTIMIZE job the plan card
  * ([[graft.sql.RelationalQueries.q148CompactionPlan]]) only described
  * until round 12. Three pieces:
  *
  *   - [[stageSmallFiles]] writes the canonical small-files layout a
  *     per-document streaming writer produces (`maxRecordsPerFile = 1`,
  *     hive-partitioned by source): one parquet object per document;
  *   - [[execute]] reads that layout back, re-derives the bin with the
  *     SAME pure function the manifest uses
  *     ([[RelationalQueries.withCompactionBin]] — shared code, so the
  *     executed grouping can never drift from the planned one), and
  *     rewrites as one task per (source, bin) group
  *     (`repartition(nBins, source, bin)` + write): O(files) tiny
  *     objects become O(bytes/target) right-sized ones;
  *   - [[listingStats]] counts data objects and bytes, and times a full
  *     listing+scan, for the before/after read-amplification measurement
  *     (`CompactionExecSpec` pins conservation + file-count collapse;
  *     `Scale compaction` records the timed delta in SCALE.md).
  *
  * 100 TB shape: staging is the problem, not the solution — the point is
  * that the REWRITE is one metadata-bounded shuffle. The planner runs on
  * listing-cardinality rows; the executor's shuffle moves each document
  * once, keyed by (source, bin), so a 1000-executor cluster compacts
  * per-bin in parallel and writes exactly one object per bin. Bin count
  * = ceil(bytes/target) is the job's only driver-side number. */
object Compaction {

  /** One parquet object per document, hive-partitioned by source — the
    * small-files layout a per-doc writer (e.g. one Lambda per message,
    * the reference's shape) leaves behind. */
  def stageSmallFiles(spark: SparkSession, dir: String, out: String): Unit =
    graft.sql.Tables(spark, dir).documents
      .repartition(col("source"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", 1)
      .partitionBy("source")
      .parquet(out)

  /** Execute the manifest over a small-file table: returns the bin count
    * (= the number of rewrite tasks and, up to hash collisions of whole
    * groups, the output object count). */
  def execute(spark: SparkSession, smallDir: String, out: String): Long = {
    val docs = spark.read.parquet(smallDir)
    val binned = RelationalQueries.withCompactionBin(docs)
    val nBins = binned.select(col("source"), col("bin")).distinct().count()
    binned
      .repartition(nBins.toInt, col("source"), col("bin"))
      .write.mode("overwrite").parquet(out)
    nBins
  }

  /** (data objects, total bytes, listing+full-scan seconds) for a table
    * directory — the read-amplification measurement. The scan is
    * `count()` over all columns forced through a fresh read so the
    * file-open cost per object is paid, not cached. */
  def listingStats(spark: SparkSession, dir: String): (Long, Long, Double) = {
    def walk(p: Path): Iterator[Path] = {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala
    }
    val parts = walk(Paths.get(dir))
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .toVector
    val bytes = parts.map(Files.size).sum
    val secs = Ledger.seconds(spark.read.parquet(dir).count())
    (parts.size.toLong, bytes, secs)
  }

  /** Row-conservation check frame: (rows, byte sum) of a table dir. */
  def contents(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)
      .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_chars"),
        sum(hash(col("doc_id")).cast("long")).as("id_hash"))
}
