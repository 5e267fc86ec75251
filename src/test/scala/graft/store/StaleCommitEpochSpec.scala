package graft.store

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import graft.SparkSpec

/** Pins the round-16 attempt-epoch guard at the wire protocol — the
  * zombie-commit lost-update window (DocStoreServer `epochs` scaladoc):
  * a commit that outlives its client's read timeout stays queued on the
  * server's write lock; the client replays (abort → re-stage → commit,
  * same deterministic txn id), and if the zombie then wins the lock it
  * used to apply whatever staging held at that instant — empty, or the
  * replay's PARTIAL re-stage — and write the ledger marker, so the live
  * replay acked "already-committed" while its effects were silently
  * dropped. With epochs: the abort bumps the txn's attempt epoch, the
  * live commit carries it, and the stale attempt answers 409 applying
  * nothing and (critically) clearing nothing.
  *
  * The spec drives the interleaving deterministically by ISSUING the
  * requests in the zombie's unlucky order — the protocol check is
  * position-independent (validated inside the write lock), so request
  * order IS the interleaving.
  */
class StaleCommitEpochSpec extends SparkSpec {

  private val client = HttpClient.newHttpClient()

  private def post(url: String, body: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(url))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def notifRow(uri: String): String =
    s"""{"uri":"$uri","action":"new","payload":"ref","delivered":true}"""

  private def notifSchema = {
    import spark.implicits._
    Seq(("x", "new", "ref", true)).toDF("uri", "action", "payload", "delivered")
      .schema.json
  }

  test("a zombie commit formed before an abort is refused and clears nothing") {
    val inner = LocalStore(spark,
      Files.createTempDirectory("graft-epoch-store").toString)
    val server = new DocStoreServer(inner)
    try {
      val id = "zombie-commit-1"
      // attempt 1 stages, then its client times out; the replay aborts —
      // staging is cleared, the epoch bumps to 1
      assert(post(s"${server.endpoint}/txn/$id?op=appendNotifications",
        notifRow("doc/old")).statusCode() == 200)
      val abort = post(s"${server.endpoint}/txn/$id/abort", "")
      assert(abort.statusCode() == 200 && abort.body() == "1", abort.body())
      // the replay re-stages — mid-flight state the zombie must not touch
      assert(post(s"${server.endpoint}/txn/$id?op=appendNotifications",
        notifRow("doc/new")).statusCode() == 200)
      // the ZOMBIE (attempt 1's commit, epoch 0) finally wins the lock:
      // refused, nothing applied, no ledger marker, staging untouched
      val zombie = post(s"${server.endpoint}/txn/$id/commitBatch?epoch=0",
        s"appendNotifications\t$notifSchema")
      assert(zombie.statusCode() == 409, s"${zombie.statusCode()} ${zombie.body()}")
      // an epoch-less commit counts as epoch 0 — also refused once an
      // abort has superseded it
      val epochless = post(s"${server.endpoint}/txn/$id/commitBatch",
        s"appendNotifications\t$notifSchema")
      assert(epochless.statusCode() == 409, s"${epochless.statusCode()} ${epochless.body()}")
      assert(inner.read("notifications").isEmpty,
        "a stale commit must not apply partial staging")
      // the live replay's commit (epoch 1) applies the re-staged rows
      val live = post(s"${server.endpoint}/txn/$id/commitBatch?epoch=1",
        s"appendNotifications\t$notifSchema")
      assert(live.statusCode() == 200 && live.body() == "committed", live.body())
      val rows = inner.read("notifications").get.collect()
      assert(rows.length == 1 && rows(0).getString(0) == "doc/new",
        s"the live attempt's rows must survive the zombie: ${rows.toSeq}")
    } finally server.stop()
  }

  test("the ledger marker outranks the epoch: a committed txn acks replays forever") {
    val inner = LocalStore(spark,
      Files.createTempDirectory("graft-epoch-store3").toString)
    val server = new DocStoreServer(inner)
    try {
      val id = "committed-then-aborted-1"
      assert(post(s"${server.endpoint}/txn/$id?op=appendNotifications",
        notifRow("doc/a")).statusCode() == 200)
      assert(post(s"${server.endpoint}/txn/$id/commitBatch?epoch=0",
        s"appendNotifications\t$notifSchema").body() == "committed")
      // a later replay aborts (epoch bumps) then commits with ANY epoch:
      // the already-committed check fires before the epoch check
      assert(post(s"${server.endpoint}/txn/$id/abort", "").statusCode() == 200)
      val replay = post(s"${server.endpoint}/txn/$id/commitBatch?epoch=0",
        s"appendNotifications\t$notifSchema")
      assert(replay.statusCode() == 200 && replay.body() == "already-committed",
        replay.body())
      assert(inner.read("notifications").get.count() == 1)
    } finally server.stop()
  }

  test("scoped HttpStore rounds ride the epoch protocol end-to-end") {
    import spark.implicits._
    val inner = LocalStore(spark,
      Files.createTempDirectory("graft-epoch-store4").toString)
    val server = new DocStoreServer(inner)
    try {
      // a crashed attempt's leftover part, then the scoped replay: the
      // client's abort-first earns epoch 1 and its commit carries it
      val txn = java.util.UUID.nameUUIDFromBytes(
        "batch-16|applyEffects|0".getBytes("UTF-8")).toString
      assert(post(s"${server.endpoint}/txn/$txn?op=appendNotifications",
        notifRow("doc/stale")).statusCode() == 200)
      HttpStore(spark, server.endpoint).withBatchScope("batch-16")
        .applyEffects(EffectBatch(notifications = Some(
          Seq(("doc/real", "new", "ref", true))
            .toDF("uri", "action", "payload", "delivered"))))
      val rows = inner.read("notifications").get.collect()
      assert(rows.length == 1 && rows(0).getString(0) == "doc/real",
        s"scoped round must clear the crashed attempt and commit its own: ${rows.toSeq}")
      // a single-op write rides the same protocol: the scope's second
      // write, replayed by a fresh scoped instance, is acked by the ledger
      val fails = Seq(("msg-16", "boom", true)).toDF("msg_id", "error", "terminal")
      def replay(): Unit = {
        val scoped = HttpStore(spark, server.endpoint).withBatchScope("batch-16")
        scoped.applyEffects(EffectBatch(notifications = Some(
          Seq(("doc/real", "new", "ref", true)).toDF("uri", "action", "payload", "delivered"))))
        scoped.appendFailures(fails)
      }
      replay(); replay()
      val failTxn = java.util.UUID.nameUUIDFromBytes(
        "batch-16|appendFailures|1".getBytes("UTF-8")).toString
      assert(Files.exists(java.nio.file.Paths.get(inner.base, "_txn_ledger", failTxn)),
        "the scoped appendFailures commit must be in the ledger")
      assert(inner.read("failures").get.count() == 1,
        "a replayed scoped appendFailures must be acked, not appended twice")
      assert(inner.read("notifications").get.count() == 1)
    } finally server.stop()
  }
}
