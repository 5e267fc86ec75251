package graft.store

import java.net.InetSocketAddress
import java.nio.file.{Files, Path, Paths}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.types.{DataType, StructType}

/** In-process server side of the [[HttpStore]] wire contract — the
  * document-store analogue of the reference's MarkLogic endpoint, used
  * by `HttpStoreSpec` to prove the [[DocumentStore]] seam end-to-end
  * over real HTTP. Delegates every committed operation to an inner
  * [[LocalStore]], so the server's durable state (and its crash/replay
  * behavior) is exactly the store the rest of the suite already pins.
  *
  * Loopback-only (binds 127.0.0.1) — this is a test double for the wire
  * protocol, not a product server; a real deployment points [[HttpStore]]
  * at the actual document-store REST API.
  *
  * Staged transactions land as per-POST part files under a temp dir,
  * one sub-dir per `?op=` tag (concurrent executor POSTs never contend on
  * one file); `commitBatch`, the one commit route, parses each op's
  * directory with the schema its body line carries and applies the ops
  * as one batch: the five effect ops through the inner store's
  * `applyEffects`, or `setPublished`/`appendFailures` alone. An orphaned
  * transaction (client crashed between stage and commit) is just an
  * unreferenced directory — nothing is applied until commit, preserving
  * the trait's failure contract.
  *
  * READ PROTOCOL — snapshot, then static parts. The schema request
  * (driver-side, issued while the client has no job running) MATERIALIZES
  * a point-in-time JSON-lines snapshot of the table (one distributed
  * `toJSON.write.text` job) and answers with the schema plus a snapshot
  * token and part count; the per-part data requests then serve those
  * static files with NO Spark work at all. Two reasons this shape is
  * load-bearing:
  *
  *   1. deadlock-freedom: the client's fetch tasks occupy cluster cores
  *      while they wait on HTTP — if serving a part needed a server-side
  *      Spark job on the same cluster (the in-process case), client and
  *      server would starve each other. Snapshot jobs only ever run
  *      during the driver-side schema call, when the client holds no
  *      task slots. (Observed as a real 4-core local deadlock before
  *      this design.)
  *   2. consistency: every part of one read comes from the same
  *      snapshot — a concurrent write can't tear the view (the
  *      point-in-time read transaction a real connector provides).
  *
  * SNAPSHOT RETENTION — time-based, not count-based. The latest two
  * snapshots per table are always retained, and any older snapshot is
  * kept until it is at least `snapshotTtlMs` old (default 10 min). So
  * the guarantee a lazy reader gets is explicit: a DataFrame from
  * `HttpStore.read` can defer its part fetches for up to the TTL no
  * matter how many writers advance the table in between — count-based
  * keep-latest-2 could reap a live reader's parts after just two
  * subsequent writes. Reaping happens on the next snapshot call for the
  * same table (no background thread; a test double doesn't need one). */
final class DocStoreServer(inner: LocalStore, port: Int = 0,
    snapshotTtlMs: Long = 10L * 60 * 1000) {

  private val staging: Path = Files.createTempDirectory("graft-docstore-txn")

  /** COMMIT LEDGER — the exactly-once half of the wire contract. After a
    * commit applies, its txn id is recorded as a marker file under the
    * STORE's own root (durable with the data, so it survives a server
    * crash/restart over the same store); a commit request whose txn id is
    * already in the ledger acks 200 WITHOUT re-applying. With the
    * client's deterministic per-batch txn ids ([[HttpStore.txnScope]]),
    * the lost-ack crash — server applies, dies before the 200, streaming
    * replays the whole batch — converges to exactly-once table state
    * (`HttpStoreChaosSpec` kills/restarts the server around the boundary
    * and asserts it). The residual window is apply→marker: a crash
    * BETWEEN them replays as a re-apply, the same at-least-once exposure
    * the trait documents for non-transactional stores. */
  private val ledgerDir: Path = {
    val d = Paths.get(inner.base, "_txn_ledger")
    Files.createDirectories(d)
    d
  }
  private val committed: java.util.Set[String] = {
    val s = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val ls = Files.list(ledgerDir)
    try {
      import scala.jdk.CollectionConverters._
      ls.iterator().asScala.foreach(p => s.add(p.getFileName.toString))
    } finally ls.close()
    s
  }

  /** ATTEMPT EPOCHS — closes the zombie-commit lost-update window of the
    * abort/re-stage replay protocol. The race: a commit request can
    * outlive its client's read timeout while queued on the write lock;
    * the client gives up and replays (abort → re-stage → commit with the
    * SAME deterministic txn id), and staging POSTs take no lock — so if
    * the zombie commit then wins the lock AFTER the abort deleted its
    * staging, it would build frames from whatever staging currently
    * holds (empty, or the replay's partial re-stage), apply THAT, and
    * write the ledger marker — the replay's own commit acks
    * already-committed and the batch's real effects are silently lost
    * while the checkpoint advances.
    *
    * Fix: abort bumps the txn's attempt epoch and returns it; the client
    * stamps its commit with the epoch its own abort earned, and commit
    * validates INSIDE the write lock that its epoch is still current —
    * a commit formed before a later abort (the zombie, by construction)
    * fails with 409 and, critically, does NOT clear staging (the parts
    * it would clear belong to the live attempt). In-memory is
    * sufficient: the zombie this guards against is a queued in-flight
    * HTTP request, and a server restart kills it with its socket (the
    * epochs reset to 0 together). Entries are dropped once the txn
    * commits — from then on the durable ledger marker is authoritative. */
  private val epochs = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Enforced INSIDE the write lock, after the already-committed check. */
  private def requireCurrentEpoch(id: String, reqEpoch: Long): Unit = {
    val cur: Long = epochs.getOrDefault(id, 0L)
    if (reqEpoch < cur) throw new DocStoreServer.StaleEpochException(
      s"stale commit attempt for txn $id: epoch $reqEpoch < current $cur " +
        "(a later abort superseded this attempt; nothing was applied)")
  }

  /** TEST-ONLY fault injection: when set, the next commit APPLIES (and
    * writes its ledger marker) but answers 500 — the ack is lost exactly
    * as if the server died after the apply. Self-clears. */
  @volatile var dropNextCommitAck: Boolean = false

  /** TEST-ONLY fault injection: the next commitBatch applies ONLY the
    * documents MERGE, then dies — before the remaining four tables and
    * before the ledger marker. This is the publish-fold crash window
    * (LocalStore.upsertDocuments scaladoc): a published document briefly
    * visible without its identifier/asset effects. Self-clears;
    * `RedeliveryConvergenceSpec` proves redelivery converges. */
  @volatile var dieAfterDocumentsMerge: Boolean = false

  /** Commits (exclusive) vs snapshot materialization (shared): the
    * point-in-time snapshot must not observe a commit mid-bucket-swap —
    * the isolation a real connector's read transaction provides, here a
    * coarse server-wide lock (a test double doesn't need per-table
    * granularity). Static part serving never locks, so in-flight reads
    * never block writers. `ConcurrentStoreSpec` hammers one writer
    * against a reader loop and asserts reads never tear or fail. */
  private val txnIsolation = new java.util.concurrent.locks.ReentrantReadWriteLock()
  /** snapshot token → ordered part files */
  private val snapshots = new java.util.concurrent.ConcurrentHashMap[String, Vector[Path]]()
  /** snapshot token → materialization time (for TTL-based reaping) */
  private val snapTimes = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  /** table → newest-first snapshot tokens (latest 2 always kept; older
    * kept until `snapshotTtlMs` old) */
  private val tableSnaps = new java.util.concurrent.ConcurrentHashMap[String, List[String]]()

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  private val handlerPool = java.util.concurrent.Executors.newFixedThreadPool(8)
  server.setExecutor(handlerPool)
  server.start()

  /** Base URL clients point [[HttpStore]] at. */
  val endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** Stops the listener AND shuts the handler pool down — the pool's
    * threads are non-daemon, so a standalone process (IngestBench's
    * concurrent mode) would otherwise never exit after main returns. */
  def stop(): Unit = { server.stop(0); handlerPool.shutdownNow(); () }

  private val TxnId = "[A-Za-z0-9-]{1,64}".r
  private val TableName = "[a-z_]{1,64}".r
  private val OpName = "[A-Za-z]{1,64}".r

  private def respond(ex: HttpExchange, code: Int, body: String,
      headers: Map[String, String] = Map.empty): Unit = {
    val b = body.getBytes("UTF-8")
    headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
    ex.sendResponseHeaders(code, if (b.isEmpty) -1L else b.length.toLong)
    if (b.nonEmpty) {
      val out = ex.getResponseBody
      try out.write(b) finally out.close()
    }
    ex.close()
  }

  /** Best-effort: two responders can clean the same txn's staging
    * concurrently (the winner's post-commit delete and an
    * already-committed replay's), and the loser's walk would otherwise
    * throw NoSuchFileException mid-traversal and 500 a healthy ack. */
  private def deleteRecursively(p: Path): Unit =
    try if (Files.exists(p)) {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      } finally s.close()
    } catch {
      case _: java.nio.file.NoSuchFileException => ()
      case e: java.io.UncheckedIOException
          if e.getCause.isInstanceOf[java.nio.file.NoSuchFileException] => ()
    }

  /** Materialize a point-in-time snapshot of `t`; returns (token, parts). */
  private def snapshot(t: String, df: org.apache.spark.sql.DataFrame): (String, Int) = {
    val token = java.util.UUID.randomUUID().toString
    val dir = staging.resolve(s"snap-$token")
    df.toJSON.write.text(dir.toString)
    val files = {
      val s = Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(_.getFileName.toString.startsWith("part-"))
          .toVector.sortBy(_.getFileName.toString)
      } finally s.close()
    }
    snapshots.put(token, files)
    snapTimes.put(token, System.currentTimeMillis())
    // Retention: always keep the newest two snapshots of this table; an
    // older one is reaped only once it has aged past snapshotTtlMs, so a
    // lazy reader's parts survive any number of intervening writes for
    // at least the TTL (see class doc).
    val now = System.currentTimeMillis()
    val evicted = new java.util.concurrent.atomic.AtomicReference[List[String]](Nil)
    tableSnaps.compute(t, (_, old) => {
      val cur = token :: Option(old).getOrElse(Nil)
      val (keepOld, reap) = cur.drop(2).partition { tok =>
        now - snapTimes.getOrDefault(tok, now) < snapshotTtlMs
      }
      evicted.set(reap)
      cur.take(2) ::: keepOld
    })
    evicted.get().foreach { tok =>
      snapshots.remove(tok)
      snapTimes.remove(tok)
      deleteRecursively(staging.resolve(s"snap-$tok"))
    }
    (token, files.size)
  }

  private def handle(ex: HttpExchange): Unit = try {
    val segs = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty).toList
    val params = Option(ex.getRequestURI.getQuery).getOrElse("")
      .split("&").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); k -> v
      }.toMap
    (ex.getRequestMethod, segs) match {

      case ("POST", "txn" :: id :: Nil) if TxnId.matches(id) =>
        // every part lands in its `?op=` tag's sub-dir of the txn, which
        // is where the commit reads that op's rows from
        val dir = params.get("op") match {
          case Some(op) if OpName.matches(op) => staging.resolve(id).resolve(op)
          case Some(op) => throw new IllegalArgumentException(s"bad op tag: $op")
          case None => throw new IllegalArgumentException("stage requires ?op=")
        }
        Files.createDirectories(dir)
        val part = dir.resolve(s"part-${java.util.UUID.randomUUID()}.jsonl")
        val in = ex.getRequestBody
        try Files.write(part, in.readAllBytes()) finally in.close()
        respond(ex, 200, "staged")

      case ("POST", "txn" :: id :: "abort" :: Nil) if TxnId.matches(id) =>
        // clears any staged parts left by a previous FAILED attempt of the
        // same deterministic txn (a crash between staging and commit, or a
        // commit whose apply died): the replaying client aborts before it
        // re-stages, so the committed frame never doubles. Never touches
        // the ledger — a committed txn's marker stays authoritative. Takes
        // the write lock so an abort can't yank staging out from under a
        // concurrent commit's frame build. Bumps and returns the txn's
        // attempt epoch (response body): the aborting client stamps its
        // own commit with it, and any OLDER in-flight commit of this txn
        // — the zombie that outlived its client's timeout queued on the
        // write lock — fails the epoch check instead of applying whatever
        // staging holds after this delete (see [[epochs]]).
        txnIsolation.writeLock().lock()
        val epoch: Long = try {
          deleteRecursively(staging.resolve(id))
          epochs.merge(id, 1L, (a, b) => a + b)
        } finally txnIsolation.writeLock().unlock()
        respond(ex, 200, epoch.toString)

      case ("POST", "txn" :: id :: "commitBatch" :: Nil) if TxnId.matches(id) =>
        // the ONE commit route: body lines are `op<TAB>schemaJson`, staged
        // rows live under `{txn}/{op}/`. The five effect ops fold into one
        // EffectBatch applied through the inner store's own applyEffects
        // (overlapped disjoint-table writes) under one lock and ONE ledger
        // entry — the replay unit (and thus the exactly-once unit) is the
        // round. setPublished and appendFailures commit only alone.
        val dir = staging.resolve(id)
        if (committed.contains(id)) {
          deleteRecursively(dir)
          respond(ex, 200, "already-committed")
        } else {
          val body = {
            val in = ex.getRequestBody
            try new String(in.readAllBytes(), "UTF-8") finally in.close()
          }
          val spark = inner.spark
          def frame(op: String, schemaJson: String) = {
            val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
            val opDir = dir.resolve(op)
            if (Files.exists(opDir)) spark.read.schema(schema).json(opDir.toString)
            else spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          }
          // check-then-act closed: the fast-path `committed` check above is
          // advisory only — two concurrent commits with the same txn id
          // could both pass it and double-apply (double-bumping versions,
          // then 500ing on the ledger createFile). The authoritative check
          // re-runs INSIDE the write lock, and an existing ledger marker
          // counts as already-committed. The FRAMES build inside the lock
          // too, after that check: a concurrent winner of this txn deletes
          // the staging dir right after its own commit, and a frame built
          // outside the lock races that delete (file listing resolves at
          // DataFrame construction).
          txnIsolation.writeLock().lock()
          val already = try {
            if (committed.contains(id) || Files.exists(ledgerDir.resolve(id))) true
            else {
              // epoch check BEFORE the staging-cleanup catch below: a
              // stale (zombie) commit must neither apply nor delete the
              // live attempt's freshly re-staged parts
              requireCurrentEpoch(id,
                params.get("epoch").flatMap(_.toLongOption).getOrElse(0L))
              try {
                // every frame builds before anything applies: a mixed or
                // unknown body fails here and applies nothing
                val ops = body.linesIterator.filter(_.nonEmpty).map { line =>
                  val Array(op, schemaJson) = line.split("\t", 2)
                  op -> schemaJson
                }.toList
                ops match {
                  case List(("setPublished", s)) => inner.setPublished(frame("setPublished", s))
                  case List(("appendFailures", s)) => inner.appendFailures(frame("appendFailures", s))
                  case _ =>
                    val batch = ops.foldLeft(EffectBatch()) { case (acc, (op, schemaJson)) =>
                      op match {
                        case "upsertDocuments"     => acc.copy(documents = Some(frame(op, schemaJson)))
                        case "appendIdentifiers"   => acc.copy(identifiers = Some(frame(op, schemaJson)))
                        case "appendNotifications" => acc.copy(notifications = Some(frame(op, schemaJson)))
                        case "upsertProperties"    => acc.copy(properties = Some(frame(op, schemaJson)))
                        case "appendAssets"        => acc.copy(assets = Some(frame(op, schemaJson)))
                        case "setPublished" | "appendFailures" =>
                          throw new IllegalArgumentException(s"$op commits alone, not in a batch")
                        case other => throw new IllegalArgumentException(s"unknown batch op: $other")
                      }
                    }
                    if (dieAfterDocumentsMerge) {
                      dieAfterDocumentsMerge = false
                      batch.documents.foreach(inner.upsertDocuments)
                      throw new RuntimeException(
                        "injected crash: died after the documents MERGE, mid effect round")
                    }
                    inner.applyEffects(batch)
                }
                // applied → ledger marker (durable under the store root) →
                // ack; see the ledger scaladoc for the apply→marker window
                Files.createFile(ledgerDir.resolve(id))
                false
              } catch {
                // a FAILED commit's staged parts must not survive: the
                // client replays the whole applyEffects (abort → re-stage
                // → commit), and leftovers would double every frame —
                // append-only ledgers (notifications) would keep the
                // duplicates
                case e: Throwable => deleteRecursively(dir); throw e
              }
            }
          } finally txnIsolation.writeLock().unlock()
          committed.add(id)
          epochs.remove(id)
          deleteRecursively(dir)
          if (!already && dropNextCommitAck) {
            dropNextCommitAck = false
            respond(ex, 500, "injected crash: commit applied, ack lost")
          } else respond(ex, 200, if (already) "already-committed" else "committed")
        }

      case ("GET", "tables" :: t :: "schema" :: Nil) if TableName.matches(t) =>
        txnIsolation.readLock().lock()
        try inner.read(t) match {
          case None => respond(ex, 404, s"no such table: $t")
          case Some(df) =>
            val (token, parts) = snapshot(t, df)
            respond(ex, 200, df.schema.json,
              Map("X-Graft-Snap" -> token, "X-Graft-Parts" -> parts.toString))
        } finally txnIsolation.readLock().unlock()

      case ("GET", "snap" :: token :: idx :: Nil) if TxnId.matches(token) =>
        (Option(snapshots.get(token)), idx.toIntOption) match {
          case (Some(files), Some(i)) if i >= 0 && i < files.size =>
            // static file serve — deliberately NO Spark work here (see
            // the class doc's deadlock note)
            val bytes = Files.readAllBytes(files(i))
            ex.sendResponseHeaders(200, if (bytes.isEmpty) -1L else bytes.length.toLong)
            if (bytes.nonEmpty) {
              val out = ex.getResponseBody
              try out.write(bytes) finally out.close()
            }
            ex.close()
          case _ => respond(ex, 404, s"no such snapshot part: $token/$idx")
        }

      case ("GET", "assetRoot" :: Nil) => respond(ex, 200, inner.assetRoot)

      case _ => respond(ex, 404, "not found")
    }
  } catch {
    case e: DocStoreServer.StaleEpochException =>
      // 409, not 500: the request was well-formed but lost the attempt
      // race — nothing applied, nothing cleaned (the zombie's nominal
      // reader is a client that already timed out and moved on)
      try respond(ex, 409, e.getMessage)
      catch { case _: Exception => () }
    case e: Exception =>
      try respond(ex, 500, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      catch { case _: Exception => () }
  }
}

object DocStoreServer {
  /** A commit carrying an attempt epoch older than its txn's current one
    * — superseded by a later abort (see the `epochs` scaladoc). */
  private final class StaleEpochException(msg: String) extends RuntimeException(msg)
}
