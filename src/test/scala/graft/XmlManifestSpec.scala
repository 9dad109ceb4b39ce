package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The manifest-driven XML source must return byte-identical content to
  * a direct local read, fetch executor-side from a path Dataset (no
  * driver file listing), and slot into the importers' from_xml parse.
  */
class XmlManifestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val fixtureDir = Paths.get("src/test/resources/micmac")
  private lazy val fixtures = Files.list(fixtureDir).iterator().asScala
    .filter(_.toString.endsWith(".xml")).map(_.toAbsolutePath.toString)
    .toSeq.sorted

  test("fetches every manifest path with exact content and length") {
    import spark.implicits._
    assert(fixtures.size >= 4, s"expected XML fixtures in $fixtureDir")
    val got = graft.sources.XmlManifest
      .readXml(spark, fixtures.toDS(), parts = 3)
      .collect().map(r => (r.getAs[String]("path"), r.getAs[Long]("length"),
        r.getAs[String]("xml")))
      .sortBy(_._1)
    // each path comes back qualified
    assert(got.map(_._1).toSeq == fixtures.map("file:" + _))
    fixtures.zip(got).foreach { case (p, (_, len, xml)) =>
      val expected = new String(Files.readAllBytes(Paths.get(p)), "UTF-8")
      assert(xml == expected, s"content mismatch for $p")
      assert(len == expected.getBytes("UTF-8").length.toLong)
    }
  }

  test("a paths file is itself a distributed manifest") {
    val pathsFile = Files.createTempFile("xml_manifest", ".txt")
    Files.write(pathsFile, fixtures.mkString("\n").getBytes("UTF-8"))
    try {
      val manifest = graft.sources.XmlManifest
        .fromPathsFile(spark, pathsFile.toString)
      assert(manifest.collect().sorted.toSeq == fixtures)
      val n = graft.sources.XmlManifest.readXml(spark, manifest).count()
      assert(n == fixtures.size.toLong)
    } finally Files.delete(pathsFile)
  }

  test("packed containers are row-equivalent to the manifest fetch") {
    import spark.implicits._
    val outDir = Files.createTempDirectory("xml_pack").toString
    try {
      graft.sources.XmlManifest.pack(spark, fixtures.toDS(), outDir, parts = 3)
      val direct = graft.sources.XmlManifest
        .readXml(spark, fixtures.toDS(), parts = 3)
        .collect().map(_.toString).sorted.toSeq
      val packed = graft.sources.XmlManifest.readPacked(spark, outDir)
        .collect().map(_.toString).sorted.toSeq
      assert(packed == direct)
      // containers are few splittable files, not one-per-document
      val parquetFiles = Files.list(Paths.get(outDir)).iterator().asScala
        .count(_.toString.endsWith(".parquet"))
      assert(parquetFiles > 0 && parquetFiles <= 3)
    } finally {
      import scala.util.Try
      Files.walk(Paths.get(outDir)).iterator().asScala.toSeq.reverse
        .foreach(p => Try(Files.delete(p)))
    }
  }

  test("oversized files fail loudly with the descriptive message") {
    import spark.implicits._
    val e = intercept[Exception] {
      graft.sources.XmlManifest
        .readXml(spark, fixtures.take(1).toDS(), parts = 1, maxBytes = 10L)
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("XML file too large")),
      s"expected the loud oversize require, got: $e")
    // the guard itself refuses un-allocatable bounds up front
    intercept[IllegalArgumentException] {
      graft.sources.XmlManifest
        .readXml(spark, fixtures.toDS(), maxBytes = Int.MaxValue.toLong)
    }
  }

  test("fetched XML feeds the same from_xml parse path as wholetext") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val orimatis = fixtures.filter(_.contains("orimatis"))
    assert(orimatis.nonEmpty)
    val viaManifest = graft.sources.XmlManifest
      .readXml(spark, orimatis.toDS(), parts = 2)
      .select(col("xml"))
    // the cheapest structural probe: every fetched doc parses to a
    // non-null struct under a permissive schema
    val parsed = viaManifest.select(
      xpath_string(col("xml"), lit("/orientation/version")).as("v"))
    val versions = parsed.collect().map(_.getString(0))
    assert(versions.nonEmpty && versions.forall(v => v != null && v.nonEmpty))
  }
}
