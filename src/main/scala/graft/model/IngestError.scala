package graft.model

import org.apache.spark.sql.Column

/** The reference's exception taxonomy (SURVEY.md O3;
  * `/root/reference/src/ds_caselaw_ingester/exceptions.py:1-51`) as a
  * sealed ADT. `IngestionError` subclasses are KNOWN, NON-TRANSIENT
  * failures — AWS-level retry cannot help — versus unexpected errors
  * where retry might. In the engine an error travels as a string column
  * (`error`); [[IngestError.terminal]] routes it: terminal errors go to
  * the failures/DLQ table once, retryable ones are eligible for
  * redelivery. */
sealed abstract class IngestError(val name: String, val terminal: Boolean)

object IngestError {
  case object S3HTTPError extends IngestError("S3HTTPError", terminal = true)
  case object MaximumRetriesExceeded extends IngestError("MaximumRetriesExceededException", terminal = true)
  case object InvalidXML extends IngestError("InvalidXMLException", terminal = true)
  case object InvalidMessage extends IngestError("InvalidMessageException", terminal = true)
  case object ErrorLogWouldOverwritePublishedDocument
    extends IngestError("ErrorLogWouldOverwritePublishedDocument", terminal = true)
  case object FileNotFound extends IngestError("FileNotFoundException", terminal = true)
  case object DocxFilenameNotFound extends IngestError("DocxFilenameNotFoundException", terminal = true)
  case object DocumentInsertion extends IngestError("DocumentInsertionError", terminal = true)
  case object MultipleResolutionsFound extends IngestError("MultipleResolutionsFoundError", terminal = true)
  case object DocumentXMLNotYetInDatabase extends IngestError("DocumentXMLNotYetInDatabase", terminal = true)
  case object CannotPublish extends IngestError("CannotPublishException", terminal = true)
  /** A package-supplied asset name, or the document uri it resolved to,
    * would leave the asset directory. */
  case object UnsafeAssetName extends IngestError("UnsafeAssetNameException", terminal = true)
  /** A package past the tar walk's member-count or declared-bytes bound
    * ([[graft.tar.TarOps]]). */
  case object PackageTooLarge extends IngestError("PackageTooLargeException", terminal = true)
  /** Unknown originator etc. — the reference raises bare RuntimeError. */
  case object Runtime extends IngestError("RuntimeError", terminal = true)

  val all: Seq[IngestError] = Seq(
    S3HTTPError, MaximumRetriesExceeded, InvalidXML, InvalidMessage,
    ErrorLogWouldOverwritePublishedDocument, FileNotFound, DocxFilenameNotFound,
    DocumentInsertion, MultipleResolutionsFound, DocumentXMLNotYetInDatabase,
    CannotPublish, UnsafeAssetName, PackageTooLarge, Runtime)

  /** The routing rule: terminal iff `error` is exactly a terminal entry's
    * name. Anything else (a name outside the taxonomy, or one with a
    * `: detail` suffix) is assumed transient. `isin` stays codegen'd. */
  def terminal(error: Column): Column = error.isin(all.filter(_.terminal).map(_.name): _*)
}
