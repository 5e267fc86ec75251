package graft.streaming

import java.nio.file.Files

import graft.tar.TarOps

/** Message and package builders shared by the streaming-ingest specs:
  * SQS/SNS event records around a V2 message, a complete synthetic TDR
  * package, and a local "bucket" the `file:` resolver fetches from. */
object IngestFixtures {

  def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def v2Inner(ref: String, originator: String = "TDR"): String =
    s"""{"parameters": {"reference": "$ref", "originator": "$originator",
       |"s3Bucket": "b", "s3Key": "k/$ref.tar.gz"}}""".stripMargin.replace("\n", " ")

  def sqs(msgId: String, inner: String): (String, String) =
    ("sqs",
      s"""{"messageId": "$msgId", "eventSource": "aws:sqs",
         |"body": ${jsonStr(s"""{"Type": "Notification", "Message": ${jsonStr(inner)}}""")}}"""
        .stripMargin.replace("\n", " "))

  def sns(inner: String): (String, String) =
    ("sns", s"""{"Sns": {"Message": ${jsonStr(inner)}}}""")

  /** A complete synthetic TDR package: metadata (TRE payload + PARSER cite
    * + TDR section), judgment XML, docx, parser.log — enough to drive every
    * act-phase effect. */
  def tdrArchive(ref: String, cite: String, images: Seq[String] = Nil): Array[Byte] =
    TarOps.packStrings(tdrMembers(ref, cite, images))

  /** [[tdrArchive]]'s (name, text) members, for specs that pack extra ones. */
  def tdrMembers(ref: String, cite: String, images: Seq[String] = Nil): Seq[(String, String)] = {
    val metadata =
      s"""{"parameters": {"TRE": {"reference": "TRE-$ref", "payload": {
         |  "filename": "doc.docx", "xml": "doc.xml", "metadata": "TRE-$ref-metadata.json",
         |  "images": ${images.map(jsonStr).mkString("[", ", ", "]")}, "log": "parser.log"}},
         |  "PARSER": {"uri": null, "cite": "$cite", "parser_run_id": "run-$ref"},
         |  "TDR": {"Source-Organization": "MoJ", "Contact-Name": "Jo Doe",
         |    "Contact-Email": "jo@example.com", "Internal-Sender-Identifier": "$ref",
         |    "Consignment-Completed-Datetime": "2024-01-01T00:00:00Z"}}}""".stripMargin
    Seq(
      s"$ref/TRE-$ref-metadata.json" -> metadata,
      s"$ref/doc.xml" -> s"<akomaNtoso><judgment>body of $ref</judgment></akomaNtoso>",
      s"$ref/doc.docx" -> s"docx bytes $ref",
      s"$ref/parser.log" -> "ok") ++
      images.map(i => s"$ref/$i" -> s"image bytes $i")
  }

  /** Stage archives under a temp bucket root at `<root>/b/k/<ref>.tar.gz`
    * (matching [[v2Inner]]'s s3Bucket/s3Key) and return the `file:`
    * resolver for processBatch. */
  def stage(archives: (String, Array[Byte])*): (String, String) => String = {
    val root = Files.createTempDirectory("graft-bucket")
    Files.createDirectories(root.resolve("b/k"))
    archives.foreach { case (ref, bytes) =>
      Files.write(root.resolve(s"b/k/$ref.tar.gz"), bytes)
    }
    val rootStr = root.toString
    (bucket: String, key: String) => s"file:$rootStr/$bucket/$key"
  }
}
