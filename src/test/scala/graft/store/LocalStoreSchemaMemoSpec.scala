package graft.store

import java.nio.file.Files

import graft.SparkSpec

/** Pins LocalStore's per-instance table-schema memo: repeated reads skip
  * the parquet footer-inference job, yet every read still sees what the
  * store (or another instance on the same base) last wrote. */
class LocalStoreSchemaMemoSpec extends SparkSpec {
  import spark.implicits._

  private def docs(uris: String*) =
    uris.map(u => (u, s"<x>$u</x>", "judgment", "m", null: String, false, "inserted"))
      .toDF("uri", "xml", "doc_type", "annotation_message", "annotation_payload",
        "automated", "upload_state")

  private def ids(uris: String*) =
    uris.map(u => (u, "slug", u, null: String)).toDF("document_uri", "id_kind", "id_value", "id_type")

  test("a repeated read runs no footer-inference job") {
    val store = LocalStore(spark, Files.createTempDirectory("graft-memo-jobs").toString)
    store.appendIdentifiers(ids("doc/1"))
    store.upsertDocuments(docs("doc/1"))
    store.read("identifiers")
    store.documents
    assert(jobsDuring { store.read("identifiers"); store.documents } == 0)
    assert(store.read("identifiers").get.count() == 1)
    assert(store.documents.count() == 1)
  }

  test("a second instance on the same base sees tables and rows the first writes") {
    val base = Files.createTempDirectory("graft-memo-multi").toString
    val a = LocalStore(spark, base)
    val b = LocalStore(spark, base)
    // absence is not memoized
    assert(b.read("identifiers").isEmpty && b.read("assets").isEmpty)
    a.appendIdentifiers(ids("doc/1"))
    assert(b.read("identifiers").get.count() == 1)
    a.appendIdentifiers(ids("doc/2"))
    assert(b.read("identifiers").get.count() == 2)

    assert(b.documents.count() == 0)
    a.upsertDocuments(docs("doc/1"))
    assert(b.documents.count() == 1)
    // each instance merges on top of the other's buckets
    b.upsertDocuments(docs("doc/1", "doc/2"))
    a.upsertDocuments(docs("doc/2"))
    val versions = a.documents.collect()
      .map(r => r.getAs[String]("uri") -> r.getAs[Int]("version")).toMap
    assert(versions == Map("doc/1" -> 2, "doc/2" -> 2))
    assert(b.documents.collect().map(_.getAs[Int]("version")).toSeq.sorted == Seq(2, 2))
  }
}
