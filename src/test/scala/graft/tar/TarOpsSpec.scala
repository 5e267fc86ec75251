package graft.tar

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.ingest.XmlOps

/** Pins tar pack/explode behavior, modeled on the reference's golden
  * fixtures (`/root/reference/tests/test_file_helpers.py:33-233`). The
  * reference tarballs themselves are additionally exercised when present
  * on disk (read-only) — the suite stays green without them. */
class TarOpsSpec extends SparkSpec {

  private val fixtures = Paths.get("/root/reference/aws_examples/s3/te-editorial-out-int")

  test("pack/explode round-trips members byte-for-byte") {
    val members = Seq(
      "REF-1/TRE-REF-1-metadata.json" -> """{"parameters": {}}""",
      "REF-1/doc.xml" -> "<judgment/>",
      "REF-1/parser.log" -> "all fine")
    val exploded = TarOps.explode(TarOps.packStrings(members))
    assert(exploded.map(m => m.name -> new String(m.bytes, UTF_8)) == members)
    assert(exploded.forall(m => m.size == m.bytes.length.toLong))
  }

  test("pack is deterministic (identical bytes across calls)") {
    val members = Seq("a/x.txt" -> "hello", "a/y.txt" -> "world")
    assert(TarOps.packStrings(members).sameElements(TarOps.packStrings(members)))
  }

  test("explode auto-detects an uncompressed tar despite a .tar.gz name") {
    // two of the reference's golden "tar.gz" fixtures are plain tars;
    // tarfile.open(mode="r") transparently handles both
    val bos = new java.io.ByteArrayOutputStream()
    val tar = new org.apache.commons.compress.archivers.tar.TarArchiveOutputStream(bos)
    val e = new org.apache.commons.compress.archivers.tar.TarArchiveEntry("plain/file.txt")
    val bytes = "plain tar".getBytes(UTF_8)
    e.setSize(bytes.length.toLong)
    tar.putArchiveEntry(e)
    tar.write(bytes)
    tar.closeArchiveEntry()
    tar.close()
    val exploded = TarOps.explode(bos.toByteArray)
    assert(exploded.map(_.name) == Seq("plain/file.txt"))
  }

  test("findMember: substring match, empty needle misses, last match wins") {
    val ms = TarOps.explode(TarOps.packStrings(Seq(
      "R/one-metadata.json" -> "first",
      "R/doc.xml" -> "x",
      "R/two-metadata.json" -> "second")))
    // reference loop overwrites → LAST matching member wins (file_helpers.py:27-29)
    assert(TarOps.findMember(ms, "-metadata.json").map(m => new String(m.bytes, UTF_8)) == Some("second"))
    assert(TarOps.findMember(ms, "").isEmpty)
    assert(TarOps.findMember(ms, "nope").isEmpty)
  }

  test("golden TDR-2022-DNWR tarball: member set, metadata, akomaNtoso root") {
    val p = fixtures.resolve("TDR-2022-DNWR.tar.gz")
    assume(Files.exists(p), "reference fixtures not present")
    val ms = TarOps.explode(Files.readAllBytes(p))
    val names = ms.map(_.name).toSet
    assert(names.contains("TDR-2022-DNWR/TRE-TDR-2022-DNWR-metadata.json"))
    assert(names.contains("TDR-2022-DNWR/TDR-2022-DNWR.xml"))
    assert(names.contains("TDR-2022-DNWR/parser.log"))
    assert(names.contains("TDR-2022-DNWR/image1.png"))

    val meta = new String(TarOps.findMember(ms, "-metadata.json").get.bytes, UTF_8)
    assert(meta.contains("\"reference\": \"TRE-TDR-2022-DNWR\""))

    // tests/test_file_helpers.py:115 pins the Akoma Ntoso root
    val xml = new String(TarOps.findMember(ms, "TDR-2022-DNWR.xml").get.bytes, UTF_8)
    assert(XmlOps.parseRootTag(xml) ==
      "{http://docs.oasis-open.org/legaldocml/ns/akn/3.0}akomaNtoso")

    // tests/test_file_helpers.py:143 pins the parser.log contents
    val log = new String(TarOps.findMember(ms, "parser.log").get.bytes, UTF_8)
    assert(log == "This is the parser error log.")
  }

  test("golden TAR-MISSING-METADATA: no metadata member (FileNotFound path)") {
    val p = fixtures.resolve("TAR-MISSING-METADATA.tar.gz")
    assume(Files.exists(p), "reference fixtures not present")
    val ms = TarOps.explode(Files.readAllBytes(p))
    assert(TarOps.findMember(ms, "-metadata.json").isEmpty)
  }

  test("golden TAR-INVALID-XML: best-XML falls back to <error>-wrapped log") {
    val p = fixtures.resolve("TAR-INVALID-XML.tar.gz")
    assume(Files.exists(p), "reference fixtures not present")
    val ms = TarOps.explode(Files.readAllBytes(p))
    val xml = TarOps.findMember(ms, "TDR-2022-DNWR.xml").map(m => new String(m.bytes, UTF_8))
    assert(xml.isDefined && XmlOps.parseRootTag(xml.get) == null) // invalid by design
    val log = TarOps.findMember(ms, "parser.log").map(m => new String(m.bytes, UTF_8))
    val best = xml.filter(x => XmlOps.parseRootTag(x) != null).getOrElse {
      log.map(l => s"<error>${l.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")}</error>")
        .getOrElse("<error>parser.log not found</error>")
    }
    assert(XmlOps.parseRootTag(best) == "error") // test_file_helpers.py:175
  }

  test("golden TDR-2025-CN7V (error package): no xml member, has parser.log") {
    val p = fixtures.resolve("TDR-2025-CN7V.tar.gz")
    assume(Files.exists(p), "reference fixtures not present")
    val ms = TarOps.explode(Files.readAllBytes(p))
    assert(TarOps.findMember(ms, ".xml").isEmpty)
    assert(TarOps.findMember(ms, "parser.log").isDefined)
  }

  test("header-only walk: names and sizes without payload reads equal explode, gzip and plain tar") {
    val plain = {
      val bos = new java.io.ByteArrayOutputStream()
      val tar = new org.apache.commons.compress.archivers.tar.TarArchiveOutputStream(bos)
      tar.putArchiveEntry(new org.apache.commons.compress.archivers.tar.TarArchiveEntry("plain/"))
      tar.closeArchiveEntry()
      TarOps.writeEntry(tar, "plain/a.txt", "plain tar".getBytes(UTF_8))
      TarOps.writeEntry(tar, "plain/empty", Array.empty)
      tar.close()
      bos.toByteArray
    }
    val inTest = Seq(
      "gzip" -> TarOps.packStrings(Seq("R/x-metadata.json" -> "{}", "R/doc.xml" -> "<a/>",
        "R/empty" -> "", "R/parser.log" -> "log")),
      "plain" -> plain)
    val golden =
      if (!Files.exists(fixtures)) Nil
      else {
        import scala.jdk.CollectionConverters._
        val listing = Files.list(fixtures)
        try listing.iterator().asScala.filter(_.toString.endsWith(".tar.gz")).toList
          .map(p => p.toString -> Files.readAllBytes(p))
        finally listing.close()
      }
    for ((label, bytes) <- inTest ++ golden) {
      val members = new MemberReader(new java.io.ByteArrayInputStream(bytes), bytes.length)
      val listed = try Iterator.continually(members.next()).takeWhile(identity)
        .map(_ => (members.name, members.size)).toList
      finally members.close()
      val full = TarOps.explode(bytes).map(m => (m.name, m.size))
      assert(listed.nonEmpty && listed == full, s"$label: header walk diverged from explode")
    }
    assert(TarOps.explode(plain).map(_.name) == Seq("plain/a.txt", "plain/empty"))
  }
}
