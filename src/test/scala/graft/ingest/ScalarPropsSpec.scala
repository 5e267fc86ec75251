package graft.ingest

import graft.SparkSpec
import graft.tar.TarOps
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-style invariants for the scalar pack and the tar round-trip,
  * driven through real Spark evaluation against deterministic ScalaCheck
  * samples (no scalatest-plus bridge in the offline cache — samples are
  * drawn with fixed seeds so failures reproduce). */
class ScalarPropsSpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](gen: Gen[A], n: Int = 60): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val plain = Gen.listOf(Gen.alphaNumChar).map(_.mkString)
  private val pathish: Gen[String] = for {
    dirs <- Gen.listOf(Gen.oneOf("a", "b", "dir.with.dots", ""))
    base <- plain
    ext <- Gen.oneOf("", ".tar.gz", ".d.e", ".docx")
  } yield (dirs :+ (base + ext)).mkString("/")

  test("modifyFilename: python os.path.split + partition('.') semantics") {
    val inputs = samples(pathish)
    val outs = inputs.toDF("f")
      .select(ScalarOps.modifyFilename(col("f"), "_X")).as[String].collect()
    inputs.zip(outs).foreach { case (p, out) =>
      val slash = p.lastIndexOf('/')
      val (dir, base) = (p.substring(0, slash + 1), p.substring(slash + 1))
      val dot = base.indexOf('.')
      val expected =
        if (dot < 0) dir + base + "_X"
        else dir + base.substring(0, dot) + "_X" + base.substring(dot)
      assert(out == expected, s"input: '$p'")
    }
  }

  test("modifyFilename with empty addition is identity") {
    val inputs = samples(pathish)
    val outs = inputs.toDF("f")
      .select(ScalarOps.modifyFilename(col("f"), "")).as[String].collect()
    inputs.zip(outs).foreach { case (p, out) => assert(out == p, s"input: '$p'") }
  }

  test("xmlEscape output always embeds safely into a well-formed element") {
    val anyText = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf('<', '>', '&', '"', '\'', ' '))).map(_.mkString)
    val inputs = samples(anyText)
    val outs = inputs.toDF("t")
      .select(concat(lit("<e>"), XmlOps.xmlEscape(col("t")), lit("</e>"))).as[String].collect()
    inputs.zip(outs).foreach { case (t, wrapped) =>
      assert(XmlOps.parseRootTag(wrapped) == "e", s"input: '$t'")
    }
  }

  test("tar pack/explode round-trips arbitrary member bytes") {
    val member = for {
      name <- Gen.nonEmptyListOf(Gen.alphaNumChar).map(s => s"d/${s.mkString}")
      bytes <- Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(_.toArray)
    } yield (name, bytes)
    samples(Gen.listOfN(3, member), n = 25).foreach { ms =>
      val unique = ms.distinctBy(_._1)
      val back = TarOps.explode(TarOps.pack(unique))
      assert(back.map(_.name) == unique.map(_._1))
      assert(back.zip(unique).forall { case (m, (_, b)) => m.bytes.sameElements(b) })
    }
  }

  test("asset names: every accepted name writes strictly inside its asset directory") {
    val segment = Gen.frequency(
      4 -> Gen.oneOf("..", ".", "", "a", "image1.png", "..png", "a..b", "%2e%2e", "~",
        "c:", "x y", "#f", "?q", "\u0000", "a\nb", "\u007f", "\\.."),
      1 -> Gen.asciiStr,
      1 -> Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.choose('\u0080', '\uffff'))).map(_.mkString))
    val name = for {
      lead <- Gen.oneOf("", "/")
      segs <- Gen.nonEmptyListOf(segment)
    } yield lead + segs.mkString("/")
    val dir = "/store/asset_files/d-0123abcd"
    val (accepted, rejected) = samples(name, n = 400).partition(PackageIngest.safeAssetName)
    accepted.foreach { n =>
      val written = new org.apache.hadoop.fs.Path(s"$dir/$n").toUri.getPath
      assert(written.startsWith(s"$dir/") && written.length > dir.length + 1, s"name: '$n'")
    }
    assert(accepted.nonEmpty && rejected.nonEmpty)
    assert(Seq("image1.png", "sub/R-1.jpeg.jpg").forall(PackageIngest.safeAssetName))
    assert(!Seq("../../escaped.png", "/etc/x", "a//b", "a/", "a/./b", "a\tb")
      .exists(PackageIngest.safeAssetName))
  }

  test("shingles: count bound, distinctness, element shape") {
    val toks = Gen.listOf(Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString))
    val inputs = samples(toks)
    val outs = inputs.toDF("t")
      .select(graft.text.TextOps.shingles(col("t"), 3)).as[Seq[String]].collect()
    inputs.zip(outs).foreach { case (ts, sh) =>
      assert(sh.size <= math.max(0, ts.size - 2))
      assert(sh.distinct == sh)
      assert(sh.forall(_.split(" ", -1).length == 3), s"input: $ts")
    }
  }
}
