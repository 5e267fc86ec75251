package graft.model

/** The reference's exception taxonomy (SURVEY.md O3;
  * `/root/reference/src/ds_caselaw_ingester/exceptions.py:1-51`) as a
  * sealed ADT. `IngestionError` subclasses are KNOWN, NON-TRANSIENT
  * failures — AWS-level retry cannot help — versus unexpected errors
  * where retry might. In the engine an error travels as a string column
  * (`error`); this ADT gives it typed routing: terminal errors go to the
  * failures/DLQ table once, retryable ones are eligible for redelivery. */
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
  /** An image name in the package metadata would leave the asset directory. */
  case object UnsafeAssetName extends IngestError("UnsafeAssetNameException", terminal = true)
  /** A package past the tar walk's member-count or declared-bytes bound
    * ([[graft.tar.TarOps]]). */
  case object PackageTooLarge extends IngestError("PackageTooLargeException", terminal = true)
  /** Unknown originator etc. — the reference raises bare RuntimeError. */
  case object Runtime extends IngestError("RuntimeError", terminal = true)
  /** Anything unrecognized: assume transient → retryable. */
  final case class Unknown(override val name: String) extends IngestError(name, terminal = false)

  val all: Seq[IngestError] = Seq(
    S3HTTPError, MaximumRetriesExceeded, InvalidXML, InvalidMessage,
    ErrorLogWouldOverwritePublishedDocument, FileNotFound, DocxFilenameNotFound,
    DocumentInsertion, MultipleResolutionsFound, DocumentXMLNotYetInDatabase,
    CannotPublish, UnsafeAssetName, PackageTooLarge, Runtime)

  def fromName(n: String): IngestError =
    all.find(_.name == n).getOrElse(Unknown(n))

  def isTerminal(n: String): Boolean = fromName(n).terminal
}
