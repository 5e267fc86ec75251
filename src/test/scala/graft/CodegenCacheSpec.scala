package graft

import java.nio.file.Files

import graft.metrics.Ledger
import graft.store.LocalStore
import graft.streaming.IngestStream

/** Pins the generated-class cache size of [[GraftSession.builder]]: an
  * ingest round that has run before compiles no class, even after other
  * plans with more classes than Spark's default 100-entry cache holds
  * have run in between. Spark's cache is LRU, so with the default the
  * other plans evict the round's classes and the round recompiles them. */
class CodegenCacheSpec extends SparkSpec {
  import graft.streaming.IngestFixtures._
  import spark.implicits._

  private val store = LocalStore(spark, Files.createTempDirectory("graft-codegen-cache").toString)
  private var batchId = 0L

  /** Pass A: an insert round, then a round reparsing what it inserted. */
  private def ingestPass(n: Int): Long = {
    val ref = s"REF-CC$n"
    val cite = s"[2024] EWHC ${900 + n} (KB)"
    val resolver = stage(ref -> tdrArchive(ref, cite), s"$ref-R" -> tdrArchive(s"$ref-R", cite))
    def round(msgId: String, inner: String): Unit = {
      IngestStream.processBatch(store, packageUri = resolver)(
        Seq(sqs(msgId, inner)).toDF("kind", "record_json"), batchId)
      batchId += 1
    }
    Ledger.timed {
      round(s"msg-$ref", v2Inner(ref))
      round(s"msg-$ref-R", v2Inner(s"$ref-R", originator = "FCL"))
    }._2
  }

  /** Pass B: one job over 120 plans that each compile classes of their
    * own (a union's branches are separate codegen stages, and each
    * branch inlines a different literal), more than the default cache
    * holds. The literals are this spec's, so no other spec in the JVM
    * has cached these classes. */
  private def otherPlans(): Long = Ledger.timed(Ledger.materialize(
    (1 to 120).map(k => spark.range(4).selectExpr(s"id * ${7770000 + k} AS v")).reduce(_ union _)
  ))._2

  test("a warm insert + reparse round compiles no class after 100+ other classes ran") {
    val cold = ingestPass(1)
    val second = ingestPass(2) // the warm shapes: the store holds tables now
    val other = otherPlans()
    info(s"compiled: ingest $cold, ingest $second, other plans $other")
    assert(other > 100, s"pass B compiled only $other classes")
    val warm = ingestPass(3)
    assert(warm == 0, s"the warm ingest pass recompiled $warm classes after $other other classes")
    assert(store.documents.count() == 3)
  }
}
