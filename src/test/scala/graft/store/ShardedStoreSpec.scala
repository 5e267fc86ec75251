package graft.store

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}

/** Sharded-store contract on [[ShardedWireStore]] over three
  * [[DocStoreServer]]s: the sharded union is indistinguishable from one
  * store (parity over every table and both rounds of a MERGE), rows
  * co-shard by document key across tables, failures by message id, and
  * scoped replays stay exactly-once per shard. */
class ShardedStoreSpec extends SparkSpec {
  import spark.implicits._

  private def docFrame(refs: Seq[String], tag: String): DataFrame =
    refs.map(r => (s"doc/$r", s"<xml>$tag-$r</xml>", "judgment",
      s"msg-$r", s"{}", true, "done"))
      .toDF("uri", "xml", "doc_type", "annotation_message", "annotation_payload",
        "automated", "upload_state")

  private def batch(refs: Seq[String], tag: String): EffectBatch = EffectBatch(
    documents = Some(docFrame(refs, tag)),
    identifiers = Some(refs.map(r => (s"doc/$r", "ncn", s"[2024] TEST $r", "ukncn"))
      .toDF("document_uri", "id_kind", "id_value", "id_type")),
    notifications = Some(refs.map(r => (s"doc/$r", "new", s"ref-$r", true))
      .toDF("uri", "action", "payload", "delivered")),
    properties = Some(refs.map(r => (s"doc/$r", "source", tag))
      .toDF("uri", "name", "value")),
    assets = Some(refs.map(r => (s"doc/$r", "tarball", s"$r.tar.gz", s"$r/pkg"))
      .toDF("uri", "asset_type", "dest_filename", "src_member")))

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** Three [[DocStoreServer]]s over their own [[LocalStore]]s. */
  private def withShards(tag: String)(body: (ShardedWireStore, IndexedSeq[LocalStore]) => Unit): Unit = {
    val inners = (0 until 3).map(i =>
      LocalStore(spark, Files.createTempDirectory(s"graft-shard-$tag$i").toString))
    val servers = inners.map(new DocStoreServer(_))
    try body(ShardedWireStore(spark, servers.map(_.endpoint)), inners)
    finally servers.foreach(_.stop())
  }

  /** The values of `col` in table `t` of one inner store. */
  private def keys(s: LocalStore, t: String, col: String): Set[String] =
    s.read(t).map(_.select(col).as[String].collect().toSet).getOrElse(Set.empty)

  test("three shards behave exactly like one store across two MERGE rounds") {
    val single = LocalStore(spark,
      Files.createTempDirectory("graft-shard-single").toString)
    withShards("p") { (sharded, inners) =>
      val refs = (1 to 12).map(i => f"SH$i%02d")
      single.applyEffects(batch(refs, "r1"))
      sharded.applyEffects(batch(refs, "r1"))
      // second round: update half the uris (version bump on those shards
      // only), overwrite their `source` property
      val half = refs.take(6)
      single.applyEffects(batch(half, "r2"))
      sharded.applyEffects(batch(half, "r2"))
      // standalone W10 + DLQ route too
      val decisions = refs.map(r => (s"doc/$r", r.endsWith("1"), s"<xml>any-$r</xml>"))
        .toDF("uri", "will_publish", "xml")
      single.setPublished(decisions); sharded.setPublished(decisions)
      val fails = Seq(("msg-bad-1", "boom", true)).toDF("msg_id", "error", "terminal")
      single.appendFailures(fails); sharded.appendFailures(fails)

      for (t <- Seq("documents", "identifiers", "notifications", "properties",
          "assets", "failures")) {
        assert(rows(sharded.read(t).get) == rows(single.read(t).get),
          s"table $t diverged between sharded and single store")
      }
      // and the MERGE really ran twice where it should have
      val versions = sharded.documents.select("uri", "version").as[(String, Int)]
        .collect().toMap
      assert(half.forall(r => versions(s"doc/$r") == 2)
        && refs.drop(6).forall(r => versions(s"doc/$r") == 1),
        s"per-uri versions wrong: $versions")
      // routed staging really sharded: every shard holds a disjoint,
      // non-empty slice (12 uris over 3 shards)
      val perShard = inners.map(keys(_, "documents", "uri"))
      assert(perShard.forall(_.nonEmpty) &&
        perShard.combinations(2).forall { case Seq(a, b) => a.intersect(b).isEmpty },
        s"shard slices must be disjoint and non-empty: $perShard")
    }
  }

  test("every document's rows land on exactly one shard, the same across tables") {
    withShards("co") { (sharded, inners) =>
      val refs = (1 to 20).map(i => f"CO$i%02d")
      sharded.applyEffects(batch(refs, "r1"))
      val msgs = (1 to 20).map(i => s"msg-co-$i")
      sharded.appendFailures(msgs.map(m => (m, "boom", false)).toDF("msg_id", "error", "terminal"))
      val placement = scala.collection.mutable.Map[String, Int]()
      inners.zipWithIndex.foreach { case (s, i) =>
        val uris = keys(s, "documents", "uri")
        uris.foreach { u =>
          val prev = placement.get(u)
          assert(prev.isEmpty, s"$u present on shards $prev and $i")
          placement(u) = i
        }
        // co-sharding: the same shard holds every other row of the uri
        for ((t, c) <- Seq("identifiers" -> "document_uri", "properties" -> "uri",
            "assets" -> "uri", "notifications" -> "uri"))
          assert(keys(s, t, c) == uris, s"shard $i holds documents $uris but $t ${keys(s, t, c)}")
        // a failure row sits on the shard its msg_id routes to
        val expected = msgs.filter { m =>
          val crc = new java.util.zip.CRC32
          crc.update(m.getBytes("UTF-8"))
          crc.getValue % inners.size == i
        }.toSet
        assert(keys(s, "failures", "msg_id") == expected,
          s"shard $i failures ${keys(s, "failures", "msg_id")}, expected $expected")
      }
      assert(placement.keySet == refs.map(r => s"doc/$r").toSet)
      assert(placement.values.toSet.size > 1, "12+ uris should span multiple shards")
    }
  }

  test("a replayed scoped round through the wire specialization applies exactly once") {
    val inners = (0 until 2).map(i =>
      LocalStore(spark, Files.createTempDirectory(s"graft-swire-r$i").toString))
    val servers = inners.map(new DocStoreServer(_))
    try {
      val wire = ShardedWireStore(spark, servers.map(_.endpoint))
      val refs = (1 to 8).map(i => f"SR$i%02d")
      wire.withBatchScope("mb-9").applyEffects(batch(refs, "r1"))
      wire.withBatchScope("mb-9").applyEffects(batch(refs, "r1"))
      val docs = wire.read("documents").get.collect()
      assert(docs.length == refs.size && docs.forall(_.getAs[Int]("version") == 1),
        "a replayed wire round must ack per-shard ledgers, not re-apply")
      assert(wire.read("notifications").get.count() == refs.size,
        "append-only ledger doubled under sharded wire replay")
    } finally servers.foreach(_.stop())
  }
}
