package graft.etl

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The importers' lazily built outputs: each frame is built once, on its
  * first read, while the shared trunk still fails at the import call. */
class MicMacOutputsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val res = "src/test/resources/micmac"

  test("each output is built once, on its first read") {
    val built = scala.collection.mutable.Map.empty[String, Int]
    val names = Seq("sensors", "referentials", "transfos", "transfotrees")
    val out = MicMacEtl.Outputs(names.map(k => k -> (() => {
      built(k) = built.getOrElse(k, 0) + 1
      spark.range(1).toDF()
    })): _*)
    assert(out.contains("transfos") && out.keySet == names.toSet
      && out.size == 4 && built.isEmpty, "key queries build nothing")
    assert(out("transfos") eq out("transfos"))
    assert(built == Map("transfos" -> 1))
    assert(out.iterator.map(_._1).toSeq == names)
    assert(out.values.size == 4
      && (out("transfos") eq out.get("transfos").get))
    assert(built == names.map(_ -> 1).toMap, s"each thunk runs once: $built")
  }

  test("importer outputs iterate as the four tables") {
    for (out <- Seq(
        MicMacEtl.importAutocal(spark, s"$res/autocal_sample.xml"),
        MicMacEtl.importBlinis(spark, s"$res/blinis_sample.xml"),
        MicMacEtl.importOrimatis(spark, s"$res/orimatis_sample.xml")))
      assert(out.map(_._1).toSeq
        == Seq("sensors", "referentials", "transfos", "transfotrees"))
  }

  test("a glob import reads files whose names hold glob characters") {
    val dir = graft.GraftTmp.dir("micmac_glob_names")
    val d = new java.io.File(dir)
    Option(d.listFiles()).toSeq.flatten.foreach(_.delete())
    d.mkdirs()
    for (n <- Seq("a[1]", "b{2}", "c", "d%25", "e f"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$res/orimatis_sample.xml"),
        java.nio.file.Paths.get(dir, s"$n.xml"))
    val files = MicMacEtl.importOrimatis(spark, s"$dir/*.xml")("sensors")
      .select("file").collect().map(_.getString(0).split('/').last).toSet
    // `file` is the raw qualified path, never URL-encoded
    assert(files == Set("a[1].xml", "b{2}.xml", "c.xml", "d%25.xml",
      "e f.xml"), s"got $files")
  }

  test("a missing glob path still fails at the import call") {
    // so does a glob that matches a directory, naming it
    val dir = graft.GraftTmp.dir("micmac_glob_dir")
    new java.io.File(dir, "sub.xml").mkdirs()
    for (imp <- Seq[String => Map[String, _]](
        MicMacEtl.importAutocal(spark, _),
        MicMacEtl.importBlinis(spark, _),
        MicMacEtl.importOrimatis(spark, _))) {
      val e = intercept[Exception](imp(s"$res/no_such_dir/x.xml"))
      assert(e.getMessage.contains("no_such_dir"), s"got: $e")
      val d = intercept[Exception](imp(s"$dir/*.xml"))
      assert(d.getMessage.contains("sub.xml"), s"got: $d")
    }
  }
}
