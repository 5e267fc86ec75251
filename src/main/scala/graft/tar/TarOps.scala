package graft.tar

import java.io.{BufferedInputStream, ByteArrayInputStream, ByteArrayOutputStream, InputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPInputStream

import org.apache.commons.compress.archivers.tar.{
  TarArchiveEntry,
  TarArchiveInputStream,
  TarArchiveOutputStream
}
import org.apache.commons.compress.compressors.gzip.{
  GzipCompressorOutputStream,
  GzipParameters
}

/** One member of an exploded archive. */
final case class TarMember(name: String, size: Long, bytes: Array[Byte])

/** A package crossed one of [[TarOps]]' bounds. Its bare class name is the
  * terminal taxonomy entry [[graft.model.IngestError.PackageTooLarge]]. */
final class PackageTooLargeException(message: String) extends java.io.IOException(message)

/** Cursor over the regular members of one tar or tar.gz stream — the one
  * walk every package reader shares (gather, the asset copy, the
  * `graftpkg` source). [[next]] parses a header and checks
  * [[TarOps]]' bounds before the member's payload is read or skipped;
  * [[bytes]] reads the payload only when the caller asks, and a member
  * never read is skipped by the next header parse. Closes `raw`. */
final class MemberReader(raw: InputStream, archiveLength: Long) extends java.io.Closeable {
  private val tar =
    try new TarArchiveInputStream(TarOps.decompressed(raw))
    catch { case e: Throwable => raw.close(); throw e }
  private val budget = math.max(TarOps.MinDeclaredBytes, TarOps.BombRatio * archiveLength)
  private var entries = 0
  private var declared = 0L
  private var entry: TarArchiveEntry = _

  /** Advances to the next regular member; false past the last one. */
  def next(): Boolean = {
    do {
      entry = tar.getNextEntry
      if (entry != null) {
        entries += 1
        declared += entry.getSize
        if (entries > TarOps.MaxMembers)
          throw new PackageTooLargeException(s"more than ${TarOps.MaxMembers} members")
        if (declared > budget)
          throw new PackageTooLargeException(
            s"members declare over $budget bytes (archive $archiveLength bytes) at ${entry.getName}")
      }
    } while (entry != null && !entry.isFile)
    entry != null
  }

  def name: String = entry.getName
  def size: Long = entry.getSize

  /** The current member's payload. */
  def bytes(): Array[Byte] = {
    if (size > TarOps.MaxArrayBytes)
      throw new PackageTooLargeException(s"member $name declares $size bytes")
    val buf = new Array[Byte](size.toInt)
    val n = tar.readNBytes(buf, 0, buf.length)
    if (n == buf.length) buf else java.util.Arrays.copyOf(buf, n)
  }

  override def close(): Unit = tar.close()
}

/** Tar(.gz) pack/explode primitives (SURVEY.md S5/S6).
  *
  * The reference opens packages record-at-a-time with Python `tarfile.open
  * (mode="r")` and rescans the member list for every lookup
  * (`/root/reference/src/ds_caselaw_ingester/file_helpers.py:27,79,87`).
  * Here every read is one [[MemberReader]] walk that keeps what the caller
  * selects, and lookups run over the kept members through the two
  * contracts: [[findMember]] (last substring match) and
  * `PackageIngest.resolveAsset` (exact name first, then last substring
  * match).
  *
  * Like `tarfile.open(mode="r")`, a walk auto-detects gzip vs plain tar by
  * the 2-byte gzip magic (two of the reference's golden fixtures are
  * uncompressed tars with a `.tar.gz` name).
  *
  * Bounds, checked from each header before its payload is read or
  * skipped, fail the walk with [[PackageTooLargeException]]:
  *   - the package's running declared member bytes may not pass
  *     `max(64 MiB, 100 × archive length)` — a decompression bomb is
  *     defined by its ratio (Apache POI's `ZipSecureFile` uses the same
  *     1:100), and the budget is computed from the input, so no option
  *     sets it;
  *   - at most [[MaxMembers]] entries;
  *   - a payload is read only if it fits one Java array.
  *
  * [[pack]] is the test/fixture-side inverse; every header field that
  * varies run-to-run (mtime, uid, gid, gzip OS/mtime) is pinned so packing
  * the same members always yields byte-identical archives — which is what
  * lets the DuckDB oracle hash-match md5s of round-tripped members.
  */
object TarOps {

  val MaxMembers = 10000
  private[tar] val MinDeclaredBytes: Long = 64L << 20
  private[tar] val BombRatio = 100L
  private[tar] val MaxArrayBytes = Int.MaxValue - 8L

  /** `raw`, gunzipped when it starts with the gzip magic. */
  private[tar] def decompressed(raw: InputStream): InputStream = {
    val buffered = new BufferedInputStream(raw, 1 << 16)
    buffered.mark(2)
    val m0 = buffered.read(); val m1 = buffered.read()
    buffered.reset()
    if (m0 == 0x1f && m1 == 0x8b) new GZIPInputStream(buffered) else buffered
  }

  /** One bounded walk of `in`, an archive of `archiveLength` bytes
    * (closed on return): every regular member's name, and the members
    * whose name `keep` accepts with their payloads read. */
  def select(in: InputStream, archiveLength: Long)(keep: String => Boolean):
      (Seq[String], Seq[TarMember]) = {
    val members = new MemberReader(in, archiveLength)
    try {
      val names = Seq.newBuilder[String]
      val kept = Seq.newBuilder[TarMember]
      while (members.next()) {
        names += members.name
        if (keep(members.name)) kept += TarMember(members.name, members.size, members.bytes())
      }
      (names.result(), kept.result())
    } finally members.close()
  }

  /** Explode a tar or tar.gz byte array into its regular-file members. */
  def explode(archive: Array[Byte]): Seq[TarMember] =
    select(new ByteArrayInputStream(archive), archive.length)(_ => true)._2

  /** Open a deterministic tar.gz stream over `os` — the streaming form of
    * [[pack]] (same pinned gzip/header fields, so the bytes are identical
    * member for member). Callers stream entries with [[writeEntry]] and
    * must `close()` the returned stream (which closes `os`); the DSv2
    * writer ([[graft.sources.PackageWriter]]) uses this to write archives
    * straight to the staging file — O(one member) memory instead of
    * buffering the whole archive twice. */
  def packStream(os: java.io.OutputStream): TarArchiveOutputStream = {
    val gzParams = new GzipParameters()
    gzParams.setModificationTime(0L)
    gzParams.setOperatingSystem(255)
    val tar = new TarArchiveOutputStream(new GzipCompressorOutputStream(os, gzParams))
    tar.setLongFileMode(TarArchiveOutputStream.LONGFILE_POSIX)
    tar
  }

  /** One deterministic member entry (every run-varying header field
    * pinned) — shared by [[pack]] and streaming writers. */
  def writeEntry(tar: TarArchiveOutputStream, name: String, bytes: Array[Byte]): Unit = {
    val e = new TarArchiveEntry(name)
    e.setSize(bytes.length.toLong)
    e.setModTime(0L)
    e.setUserId(0)
    e.setGroupId(0)
    tar.putArchiveEntry(e)
    tar.write(bytes)
    tar.closeArchiveEntry()
  }

  /** Deterministically pack (name, bytes) members into a tar.gz. */
  def pack(members: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val tar = packStream(bos)
    try members.foreach { case (name, bytes) => writeEntry(tar, name, bytes) }
    finally tar.close()
    bos.toByteArray
  }

  def packStrings(members: Seq[(String, String)]): Array[Byte] =
    pack(members.map { case (n, s) => (n, s.getBytes(UTF_8)) })

  /** Last member whose name contains `needle`, if any — the reference's
    * substring-match lookup (`file_helpers.py:27-29,79-81,87-89`); its
    * loop overwrites, so the LAST match wins. */
  def findMember(members: Seq[TarMember], needle: String): Option[TarMember] =
    if (needle == null || needle.isEmpty) None
    else members.filter(_.name.contains(needle)).lastOption
}
