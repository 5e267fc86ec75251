package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
import org.apache.commons.compress.compressors.gzip.{GzipCompressorOutputStream, GzipParameters}

/** What the ledger expects one message to do to the store. */
sealed trait Outcome
object Outcome {
  case object Inserted extends Outcome
  /** A reparse of the document first inserted under `uri`. */
  case object Updated extends Outcome
  /** Routed to the failures table with this terminal flag. */
  final case class Failed(terminal: Boolean) extends Outcome
  /** The traversal package: expected in the failures table (either flag),
    * with no byte written outside the asset root. */
  case object Hostile extends Outcome
}

/** One generated package and the message that announces it.
  *
  * `uri` is the document the message should land on: the surrogate the
  * reference derives for a new consignment (`d-` + md5 prefix), or the
  * original document's uri for a reparse. `assets` are the file names the
  * act phase should leave under `<assetRoot>/<uri>/`. */
final case class Msg(
    msgId: String,
    ref: String,
    line: String,
    outcome: Outcome,
    uri: String,
    assets: Seq[String],
    archive: Array[Byte],
    cite: String,
    docType: String)

/** Seeded fixture generator. The same (workload, seed) always yields the
  * same bytes: every random choice comes from one `java.util.Random`, and
  * tar/gzip headers pin their time and owner fields. */
final class Gen(seed: Long, salt: String) {
  private val rnd = new java.util.Random(seed * 1000003L ^ salt.hashCode.toLong)
  private var serial = 0

  private val words = ("court appeal claimant defendant judgment order costs tribunal " +
    "evidence witness statute section paragraph contract breach negligence damages " +
    "injunction relief hearing counsel submission ground dismissed allowed application " +
    "permission respondent appellant finding fact law principle authority precedent " +
    "jurisdiction remedy liability duty care loss party agreement clause construction").split(' ').toIndexedSeq
  private val courts = Seq("EWHC %d (KB)", "EWHC %d (Ch)", "EWCA Civ %d", "EWCA Crim %d",
    "UKSC %d", "EWHC %d (Fam)", "UKUT %d (IAC)", "EWFC %d")

  private def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
  private def between(lo: Int, hi: Int): Int = lo + rnd.nextInt(hi - lo + 1)
  private def bytes(n: Int): Array[Byte] = { val b = new Array[Byte](n); rnd.nextBytes(b); b }

  private def sentence(): String =
    (0 until between(8, 24)).map(_ => pick(words)).mkString(" ").capitalize + "."

  /** An Akoma Ntoso body of `paras` numbered paragraphs. */
  private def xml(docType: String, cite: String, paras: Int): String = {
    val sb = new StringBuilder
    sb.append("""<?xml version="1.0" encoding="utf-8"?>""")
    sb.append("""<akomaNtoso xmlns="http://docs.oasis-open.org/legaldocml/ns/akn/3.0" """)
    sb.append("""xmlns:uk="https://caselaw.nationalarchives.gov.uk/akn">""")
    if (docType == "judgment") sb.append("""<judgment name="judgment">""")
    else sb.append("""<doc name="pressSummary">""")
    sb.append(s"""<meta><identification source="#tna"><FRBRWork><FRBRname value="$cite"/>""")
    sb.append("</FRBRWork></identification><proprietary source=\"#\">")
    sb.append(s"<uk:cite>$cite</uk:cite></proprietary></meta>")
    sb.append(s"<header><p>Neutral Citation Number: $cite</p></header>")
    sb.append(if (docType == "judgment") "<judgmentBody><decision>" else "<mainBody>")
    (1 to paras).foreach { i =>
      sb.append(s"""<paragraph eId="para_$i"><num>$i.</num><content><p>""")
      (0 until between(2, 6)).foreach(_ => sb.append(sentence()).append(' '))
      sb.append("</p></content></paragraph>")
    }
    sb.append(if (docType == "judgment") "</decision></judgmentBody></judgment>" else "</mainBody></doc>")
    sb.append("</akomaNtoso>")
    sb.toString
  }

  private def metadata(ref: String, originator: String, cite: String,
      images: Seq[String]): String = {
    val imgs = images.map(i => "\"" + i + "\"").mkString("[", ", ", "]")
    val tdr =
      if (originator == "TDR")
        s""", "TDR": {"Source-Organization": "Ministry of Justice", "Contact-Name": "Jo Doe",
           |  "Contact-Email": "jo@example.com", "Internal-Sender-Identifier": "$ref",
           |  "Consignment-Completed-Datetime": "2024-01-01T00:00:00Z"}""".stripMargin
      else ""
    s"""{"parameters": {"TRE": {"reference": "$ref", "payload": {
       |  "filename": "$ref.docx", "xml": "$ref.xml", "metadata": "TRE-$ref-metadata.json",
       |  "images": $imgs, "log": "parser.log"}},
       |  "PARSER": {"uri": null, "cite": "$cite", "parser_run_id": "run-$ref"}$tdr}}""".stripMargin
  }

  private def tarGz(members: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GzipParameters()
    gz.setModificationTime(0L)
    gz.setOperatingSystem(255)
    val tar = new TarArchiveOutputStream(new GzipCompressorOutputStream(bos, gz))
    tar.setLongFileMode(TarArchiveOutputStream.LONGFILE_POSIX)
    try members.foreach { case (name, b) =>
      val e = new TarArchiveEntry(name, true)
      e.setSize(b.length.toLong)
      e.setModTime(0L)
      e.setUserId(0)
      e.setGroupId(0)
      tar.putArchiveEntry(e)
      tar.write(b)
      tar.closeArchiveEntry()
    } finally tar.close()
    bos.toByteArray
  }

  private def sqsLine(msgId: String, inner: String): String = {
    val body = Json.str(s"""{"Type": "Notification", "Message": ${Json.str(inner)}}""")
    val record = s"""{"messageId": "$msgId", "eventSource": "aws:sqs", "body": $body}"""
    s"""{"kind": "sqs", "record_json": ${Json.str(record)}}"""
  }

  private def v2(ref: String, originator: String): String =
    s"""{"parameters": {"status": "JUDGMENT_PARSE_NO_ERRORS", "reference": "$ref", """ +
      s""""originator": "$originator", "s3Bucket": "b", "s3Key": "k/$ref.tar.gz"}}"""

  private def nextRef(prefix: String): String = {
    serial += 1
    val tag = (0 until 4).map(_ => ('A' + rnd.nextInt(26)).toChar).mkString
    f"$prefix-2024-$tag$serial%05d"
  }

  /** A well-formed package: a new document (`of` empty) or a reparse of
    * `of`, carrying its cite and doc type so the NCN lookup finds it. */
  def good(of: Option[Msg] = None, hostile: Boolean = false): Msg = {
    val originator = if (of.isEmpty) "TDR" else "FCL"
    val ref = nextRef(if (of.isEmpty) "TDR" else "FCL")
    val docType = of.map(_.docType).getOrElse(if (rnd.nextInt(5) == 0) "pressSummary" else "judgment")
    val cite = of.map(_.cite).getOrElse {
      serial += 1
      s"[2024] " + pick(courts).format(serial)
    }
    // member set and counts of the golden tarballs (FIXTURES.md §3: one
    // docx, one or two images, parser.log); the docx is the size the
    // golden TDR-2022-DNWR bag declares (Payload-Oxum 45956.1, §4). Image
    // and XML sizes are not recorded in the repo and are assumptions.
    val images = (if (rnd.nextBoolean()) Seq("image1.png", s"R-$serial.jpeg.jpg") else Seq("image1.png")) ++
      (if (hostile) Seq("../../escaped-" + ref + ".png") else Nil)
    val members = Seq(
      s"$ref/TRE-$ref-metadata.json" -> metadata(ref, originator, cite, images).getBytes(UTF_8),
      s"$ref/$ref.xml" -> xml(docType, cite, between(10, 60)).getBytes(UTF_8),
      s"$ref/$ref.docx" -> bytes(Gen.DocxBytes),
      s"$ref/parser.log" -> "This is the parser error log.".getBytes(UTF_8)) ++
      images.map(i => s"$ref/$i" -> bytes(between(2, 20) * 1024))
    val uri = of.map(_.uri).getOrElse(Gen.surrogate(ref))
    val msgId = s"msg-$ref"
    Msg(msgId, ref, sqsLine(msgId, v2(ref, originator)),
      if (hostile) Outcome.Hostile else if (of.isEmpty) Outcome.Inserted else Outcome.Updated,
      uri,
      Seq(s"$ref.tar.gz", s"${uri.replace('/', '_')}.docx", "parser.log") ++ images,
      tarGz(members), cite, docType)
  }

  /** One of the four bad-message kinds the trickle mixes in. */
  def bad(kind: Int): Msg = {
    val ref = nextRef("BAD")
    val msgId = s"msg-$ref"
    def failed(line: String, terminal: Boolean, archive: Array[Byte]) =
      Msg(msgId, ref, line, Outcome.Failed(terminal), null, Nil, archive, null, null)
    kind match {
      // the SNS envelope's inner message is cut short: InvalidMessageException
      case 0 => failed(sqsLine(msgId, v2(ref, "TDR").take(40)), terminal = true, null)
      // announced but never uploaded: a retryable fetch error
      case 1 => failed(sqsLine(msgId, v2(ref, "TDR")), terminal = false, null)
      // an originator the publish rules do not know: retryable RuntimeError
      case 2 => failed(sqsLine(msgId, v2(ref, "MYSTERY")), terminal = false, null)
      // gzip magic followed by garbage: the archive cannot be read
      case _ =>
        val junk = bytes(between(1, 4) * 1024)
        junk(0) = 0x1f.toByte; junk(1) = 0x8b.toByte
        failed(sqsLine(msgId, v2(ref, "TDR")), terminal = false, junk)
    }
  }

}

object Gen {
  /** The reference's replayable surrogate for a consignment with no prior
    * identifier: `d-` + the first 12 hex digits of md5("uri:" + ref). */
  def surrogate(ref: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    "d-" + md.digest(s"uri:$ref".getBytes(UTF_8)).map("%02x".format(_)).mkString.take(12)
  }

  /** Size of the golden TDR-2022-DNWR docx (its bag's Payload-Oxum). */
  val DocxBytes = 45956

  /** Trickle: one message per round, as the reference's Lambda receives
    * them (SQS batch size 1, BASELINE.md). Every seed gives the same
    * make-up: the traversal package, the four bad-message kinds and
    * `rounds - 5` good packages, a third of which reparse a document
    * inserted in an earlier round. Round 0 is an insert; the seed orders
    * the rest and picks which earlier document each reparse targets. */
  def trickle(seed: Long, rounds: Int): Seq[Msg] = {
    require(rounds >= 7, "the trickle needs room for its five special rounds and two good ones")
    val g = new Gen(seed, "ingest_trickle")
    val shuffle = new scala.util.Random(seed)
    val goods = rounds - 5
    val updates = math.round(goods / 3.0).toInt
    // kinds: 0-3 bad, 4 traversal, 5 insert, 6 reparse
    val rest = shuffle.shuffle((0 to 4).toList ++ List.fill(goods - 1 - updates)(5) ++ List.fill(updates)(6))
    val inserted = scala.collection.mutable.ArrayBuffer.empty[Msg]
    (5 :: rest).map {
      case k if k < 4 => g.bad(k)
      case 4 => g.good(hostile = true)
      case 5 => val m = g.good(); inserted += m; m
      case _ => g.good(Some(inserted(shuffle.nextInt(inserted.size))))
    }
  }

  /** Writes every archive under `<bucket>/b/k/`; missing-package messages
    * (no archive) are left out on purpose. */
  def stage(bucket: Path, msgs: Seq[Msg]): Unit = {
    val dir = bucket.resolve("b/k")
    Files.createDirectories(dir)
    msgs.filter(_.archive != null).foreach(m => Files.write(dir.resolve(s"${m.ref}.tar.gz"), m.archive))
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
