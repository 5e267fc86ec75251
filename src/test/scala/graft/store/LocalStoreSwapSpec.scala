package graft.store

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.SparkSpec

/** Pins the store's crash-safe bucket swap: a MERGE that died between
  * its two renames (live bucket gone, `.old_t_bNN` holding the pre-swap
  * state) heals on the next touch, restoring the previous state instead
  * of reading it as missing. */
class LocalStoreSwapSpec extends SparkSpec {
  import spark.implicits._

  private def docRow(uri: String, xml: String = "<x/>") =
    (uri, xml, "judgment", "m", null: String, false, "inserted")
  private val docCols = Seq("uri", "xml", "doc_type", "annotation_message",
    "annotation_payload", "automated", "upload_state")

  /** files under documents/, grouped by their bucket dir */
  private def bucketFiles(base: String): Map[String, Set[String]] = {
    import scala.jdk.CollectionConverters._
    val root = Paths.get(s"$base/documents")
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString).toSet
      .filter(_.startsWith("bucket="))
      .groupBy(_.takeWhile(_ != '/'))
    finally s.close()
  }

  test("bucketed MERGE: a 2-doc batch into a 1000-doc store rewrites at most 2 buckets") {
    val base = Files.createTempDirectory("graft-bucketed").toString
    val store = LocalStore(spark, base, buckets = 16)
    store.upsertDocuments((0 until 1000).map(i => docRow(s"doc/$i")).toDF(docCols: _*))
    assert(store.documents.count() == 1000)
    val before = bucketFiles(base)
    assert(before.size == 16) // 1000 uris spread over every bucket

    store.upsertDocuments(Seq(docRow("doc/1", "<y/>"), docRow("doc/999", "<y/>"))
      .toDF(docCols: _*))

    val after = bucketFiles(base)
    val changed = (before.keySet ++ after.keySet)
      .filter(b => before.get(b) != after.get(b))
    assert(changed.nonEmpty && changed.size <= 2,
      s"a 2-doc batch must rewrite at most 2 buckets, touched: $changed")
    // ...and the merge itself is correct: 1000 docs, the two updated at v2
    val docs = store.documents.collect()
    assert(docs.length == 1000)
    assert(docs.count(_.getAs[Int]("version") == 2) == 2)
    assert(docs.filter(_.getAs[Int]("version") == 2).forall(_.getAs[String]("xml") == "<y/>"))
  }

  test("bucketed MERGE: mid-bucket crash (live bucket renamed away) heals on next touch") {
    val base = Files.createTempDirectory("graft-bcrash").toString
    val store = LocalStore(spark, base, buckets = 8)
    store.upsertDocuments((0 until 100).map(i => docRow(s"doc/$i")).toDF(docCols: _*))
    assert(store.documents.count() == 100)

    // simulate a per-bucket swap that died between its two renames: the
    // live bucket dir is gone, `.old_documents_bN` holds the pre-swap
    // state (plus a half-staged .next left behind)
    val aBucket = bucketFiles(base).keySet.head.stripPrefix("bucket=")
    Files.move(Paths.get(s"$base/documents/bucket=$aBucket"),
      Paths.get(s"$base/.old_documents_b$aBucket"), StandardCopyOption.ATOMIC_MOVE)
    Files.createDirectories(Paths.get(s"$base/.next_documents/bucket=$aBucket"))

    // next read heals the bucket; a follow-up merge builds on it, and the
    // leftover `.next_documents` does not break it
    assert(store.documents.count() == 100)
    store.upsertDocuments(Seq(docRow("doc/1", "<y/>")).toDF(docCols: _*))
    val docs = store.documents.collect()
    assert(docs.length == 100)
    assert(docs.find(_.getAs[String]("uri") == "doc/1").get.getAs[Int]("version") == 2)
    assert(!Files.exists(Paths.get(s"$base/.next_documents")),
      "the MERGE must clear a crashed attempt's staged .next dir")
  }

  test("a failing table write in applyEffects rethrows its own exception; the others land") {
    val base = Files.createTempDirectory("graft-apply-fail").toString
    val store = LocalStore(spark, base)
    // a notifications frame without `delivered` fails its projection at
    // once, while the MERGE writes on either side of it are still running
    val err = intercept[Exception] {
      store.applyEffects(EffectBatch(
        documents = Some(Seq(docRow("doc/1")).toDF(docCols: _*)),
        notifications = Some(Seq(("doc/1", "new", "REF-1")).toDF("uri", "action", "payload")),
        properties = Some(Seq(("doc/1", "court", "EWCA")).toDF("uri", "name", "value"))))
    }
    assert(err.isInstanceOf[org.apache.spark.sql.AnalysisException],
      s"expected the write's AnalysisException, got ${err.getClass.getName}")
    assert(store.documents.collect().map(_.getAs[String]("uri")).toSeq == Seq("doc/1"),
      "the documents write must still finish when another table write fails")
    assert(store.read("properties").map(_.count()).contains(1L),
      "a table write ordered after the failing one must not be interrupted")
    assert(store.read("notifications").isEmpty)
  }
}
