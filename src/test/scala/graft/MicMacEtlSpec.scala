package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XmlToStructs
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.MicMacEtl
import graft.sources.XmlManifest

/** Reference-parity ETL checks (SURVEY §2A, §5.1-analog golden fixtures):
  * hand-written MicMac-shaped XML -> entity DataFrames with hand-computed
  * expected matrices. */
class MicMacEtlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val res = "src/test/resources/micmac"

  test("autocal: calibration -> sensor + 3 referentials + 3 transfos") {
    val out = graft.etl.MicMacEtl.importAutocal(spark, s"$res/autocal_sample.xml")
    assert(out("sensors").count() == 1)
    assert(out("referentials").count() == 3)
    val ts = out("transfos").collect()
      .map(r => r.getString(1) -> r.getSeq[Double](5)).toMap
    assert(ts.keySet == Set("projection", "distortion", "pixel"))
    assert(ts("projection") == Seq(3041.5, 1523.4, 1011.25))
    // distortion params = CDist ++ CoeffDist
    assert(ts("distortion") == Seq(1536.0, 1024.0,
      -0.000125, 0.0000000375, -0.00000000000211))
  }

  test("blinis: rig -> N cameras with [R|t] mat4x3 row-major") {
    val out = graft.etl.MicMacEtl.importBlinis(spark, s"$res/blinis_sample.xml")
    assert(out("sensors").count() == 1)
    // base + 2 cameras
    assert(out("referentials").count() == 3)
    val m = out("transfos").collect()
      .map(r => r.getString(2) -> r.getSeq[Double](4)).toMap
    assert(m("cam_00") == Seq(
      1.0, 0.0, 0.0, 0.1,
      0.0, 1.0, 0.0, 0.2,
      0.0, 0.0, 1.0, 0.3))
    assert(m("cam_01") == Seq(
      0.0, -1.0, 0.0, -0.5,
      1.0, 0.0, 0.0, 0.25,
      0.0, 0.0, 1.0, 1.5))
  }

  test("orimatis: quaternion pose -> rotation matrix + intrinsics") {
    val out = graft.etl.MicMacEtl.importOrimatis(spark, s"$res/orimatis_sample.xml")
    val ts = out("transfos").collect()
      .map(r => r.getString(2) -> r.getSeq[Double](4)).toMap
    // q = (0,0,sin45,cos45) = 90° about z: R = [[0,-1,0],[1,0,0],[0,0,1]]
    val m = ts("affine_mat4x3")
    val exp = Seq(
      0.0, -1.0, 0.0, 651200.25,
      1.0, 0.0, 0.0, 6861500.5,
      0.0, 0.0, 1.0, 120.75)
    m.zip(exp).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-12, s"$m vs $exp") }
    assert(ts("projective_pinhole") == Seq(3050.25, 1536.5, 1024.5))
    assert(out("referentials").count() == 3)
  }

  test("autocal: ModPhgrStd distortion -> phgr_std transfo with P1/P2/b1/b2") {
    val out = graft.etl.MicMacEtl.importAutocal(spark, s"$res/autocal_phgrstd.xml")
    val ts = out("transfos").collect()
      .map(r => r.getString(1) -> (r.getString(2), r.getSeq[Double](5))).toMap
    assert(ts("distortion")._1 == "phgr_std")
    // params = radial CDist ++ CoeffDist ++ [P1, P2, b1, b2]
    assert(ts("distortion")._2 == Seq(1536.0, 1024.0,
      -0.000125, 0.0000000375, 0.0000015, -0.0000025, 0.00012, -0.00034))
    // pinhole unchanged across distortion models
    assert(ts("projection")._2 == Seq(3041.5, 1523.4, 1011.25))
  }

  test("autocal: unknown CalibDistortion model fails loudly (A8)") {
    val out = graft.etl.MicMacEtl
      .importAutocal(spark, s"$res/autocal_unknown_model.xml")
    val e = intercept[Throwable] { out("transfos").collect() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("unknown CalibDistortion model")),
      s"expected the A8 assert, got: $e")
  }

  test("orimatis: matrix-rotation pose equals the quaternion encoding") {
    val out = graft.etl.MicMacEtl
      .importOrimatis(spark, s"$res/orimatis_matrix.xml")
    val ts = out("transfos").collect()
      .map(r => r.getString(2) -> r.getSeq[Double](4)).toMap
    // mat3d rows are the same R = 90° about z the quaternion sample uses
    val exp = Seq(
      0.0, -1.0, 0.0, 651200.25,
      1.0, 0.0, 0.0, 6861500.5,
      0.0, 0.0, 1.0, 120.75)
    ts("affine_mat4x3").zip(exp).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-12, s"${ts("affine_mat4x3")} vs $exp") }
    assert(ts("projective_pinhole") == Seq(3050.25, 1536.5, 1024.5))
  }

  test("orimatis: Image2Ground=false transposes the stored rotation") {
    // same matrix fixture with the flag flipped: the stored R is
    // ground->image, so the pose must carry R-transpose — ignoring the
    // flag would silently emit the transposed orientation (every
    // composed pose downstream wrong, no error)
    val out = graft.etl.MicMacEtl
      .importOrimatis(spark, s"$res/orimatis_matrix_g2i.xml")
    val ts = out("transfos").collect()
      .map(r => r.getString(2) -> r.getSeq[Double](4)).toMap
    // transpose of the 90-degree-about-z sample; sommet unchanged
    // (the camera center is direction-independent)
    val exp = Seq(
      0.0, 1.0, 0.0, 651200.25,
      -1.0, 0.0, 0.0, 6861500.5,
      0.0, 0.0, 1.0, 120.75)
    ts("affine_mat4x3").zip(exp).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-12, s"${ts("affine_mat4x3")} vs $exp") }
  }

  test("orimatis: spherique flavor -> angular intrinsics, no pinhole") {
    val out = graft.etl.MicMacEtl
      .importOrimatis(spark, s"$res/orimatis_spherique.xml")
    val ts = out("transfos").collect()
      .map(r => r.getString(2) -> r.getSeq[Double](4)).toMap
    assert(ts.keySet == Set("affine_mat4x3", "spherical"),
      "spherique emits pose + spherical intrinsics, never a pinhole")
    // identity quaternion -> R = I with the sommet translation
    val exp = Seq(
      1.0, 0.0, 0.0, 650000.5,
      0.0, 1.0, 0.0, 6860000.25,
      0.0, 0.0, 1.0, 55.5)
    ts("affine_mat4x3").zip(exp).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-12) }
    // ppa + full-sphere lambda/phi frame
    assert(ts("spherical")(0) == 4096.0 && ts("spherical")(1) == 2048.0)
    assert(math.abs(ts("spherical")(2) + math.Pi) < 1e-12)
    assert(math.abs(ts("spherical")(5) - math.Pi / 2) < 1e-12)
    val sensors = out("sensors").collect()
    assert(sensors.length == 1 && sensors(0).getString(3) == "spherique")
    assert(out("referentials").count() == 3)
  }

  test("blinis: a rig file without LiaisonsSHC fails loudly, never vanishes") {
    // PERMISSIVE from_xml yields a null array; a bare explode would
    // emit ZERO rows and the file would silently vanish from the
    // import — the A8 contract demands a loud error naming the file
    val e = intercept[Exception] {
      graft.etl.MicMacEtl
        .importBlinis(spark, s"$res/blinis_missing_liaisons.xml")("transfos")
        .collect()
    }
    assert(e.getMessage.contains("missing LiaisonsSHC"), s"got: $e")
  }

  test("orimatis: a partial quaternion falls back to a complete mat3d") {
    // <quaternion> missing <w> parses to a NON-null struct with null
    // fields: struct-level isNotNull would select it, null every
    // w-dependent matrix entry, and shadow the valid <mat3d> in the
    // same file — completeness must be tested per FIELD
    val out = graft.etl.MicMacEtl
      .importOrimatis(spark, s"$res/orimatis_partial_quat.xml")
    val m = out("transfos").collect()
      .map(r => r.getString(2) -> r.getSeq[Double](4)).toMap
      .apply("affine_mat4x3")
    val exp = Seq(
      0.0, -1.0, 0.0, 651200.25,
      1.0, 0.0, 0.0, 6861500.5,
      0.0, 0.0, 1.0, 120.75)
    m.zip(exp).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-12,
        s"mat3d fallback must win over the partial quaternion: $m") }
  }

  test("orimatis: non-unit quaternions are normalized before conversion") {
    // q = (0,0,2,2): |q|^2 = 8, but the ROTATION is the same 90° about
    // z as the unit sample — without the |q|^2 division the matrix
    // would come out scaled by 8 (not a rotation) and compound through
    // every composed pose
    val out = graft.etl.MicMacEtl
      .importOrimatis(spark, s"$res/orimatis_nonunit_quat.xml")
    val m = out("transfos").collect()
      .map(r => r.getString(2) -> r.getSeq[Double](4)).toMap
      .apply("affine_mat4x3")
    val exp = Seq(
      0.0, -1.0, 0.0, 651200.25,
      1.0, 0.0, 0.0, 6861500.5,
      0.0, 0.0, 1.0, 120.75)
    m.zip(exp).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-12, s"not normalized: $m") }
  }

  test("orimatis: an all-zero quaternion fails loudly, never Inf/NaN") {
    // |q|^2 = 0 makes the unit-normalizing division emit Inf/NaN in
    // EVERY rotation entry with no error — the silent-corruption class
    // the A8 gate exists to catch. A zero quaternion is an incomplete
    // rotation: loud error naming the file (a valid mat3d in the same
    // file would still win, like any other incomplete quaternion)
    val e = intercept[Exception] {
      graft.etl.MicMacEtl
        .importOrimatis(spark, s"$res/orimatis_zero_quat.xml")("transfos")
        .collect()
    }
    assert(e.getMessage.contains("missing or incomplete rotation")
      && e.getMessage.contains("orimatis_zero_quat.xml"), s"got: $e")
  }

  test("orimatis: an infinite quaternion norm fails loudly, never NaN") {
    // |q|^2 = Inf makes the normalizer 2/|q|^2 = 0, whose 0 * Inf
    // products are NaN in every w-dependent entry — same silent-
    // corruption class as the zero norm, opposite end of the range
    val e = intercept[Exception] {
      graft.etl.MicMacEtl
        .importOrimatis(spark, s"$res/orimatis_inf_quat.xml")("transfos")
        .collect()
    }
    assert(e.getMessage.contains("missing or incomplete rotation")
      && e.getMessage.contains("orimatis_inf_quat.xml"), s"got: $e")
  }

  test("transfo validity windows: bounds set when given, open when not") {
    val bounded = graft.etl.MicMacEtl.importAutocal(
        spark, s"$res/autocal_sample.xml",
        validityStart = Some("2024-01-01 00:00:00"),
        validityEnd = Some("2025-01-01 00:00:00"))("transfos")
    assert(bounded.schema("validity_start").dataType
      == org.apache.spark.sql.types.TimestampType)
    val r = bounded.select("validity_start", "validity_end").head
    assert(r.getTimestamp(0).toString.startsWith("2024-01-01"))
    assert(r.getTimestamp(1).toString.startsWith("2025-01-01"))
    val open = graft.etl.MicMacEtl
      .importAutocal(spark, s"$res/autocal_sample.xml")("transfos")
      .select("validity_start", "validity_end").head
    assert(open.isNullAt(0) && open.isNullAt(1), "null bounds = open window")
  }

  test("transfo_tree: one tree per file; membership stable across re-import") {
    val out = graft.etl.MicMacEtl.importAutocal(spark, s"$res/autocal_sample.xml")
    val tree1 = out("transfotrees").collect()
    assert(tree1.length == 1)
    assert(tree1(0).getString(1) == "autocal_sample.xml")
    assert(tree1(0).getSeq[String](2) == Seq("distortion", "pixel", "projection"))
    // idempotent re-import: get_or_create on the natural transfo key,
    // then rebuilding the tree, must not change membership or add rows
    val t = out("transfos")
    val again = graft.etl.MicMacEtl
      .getOrCreate(t, t, Seq("file", "transfo_name"))
    assert(again.count() == t.count(), "re-import must not duplicate transfos")
    val tree2 = graft.etl.MicMacEtl
      .transfoTree(again, col("transfo_name")).collect()
    assert(tree2.map(_.toString).sorted.toSeq
      == tree1.map(_.toString).sorted.toSeq)
    // blinis + orimatis emit trees too (per-camera / per-type membership)
    val bl = graft.etl.MicMacEtl
      .importBlinis(spark, s"$res/blinis_sample.xml")("transfotrees").collect()
    assert(bl.length == 1 && bl(0).getSeq[String](2) == Seq("cam_00", "cam_01"))
    val or = graft.etl.MicMacEtl
      .importOrimatis(spark, s"$res/orimatis_sample.xml")("transfotrees")
      .collect()
    assert(or.length == 1
      && or(0).getSeq[String](2) == Seq("affine_mat4x3", "projective_pinhole"))
  }

  test("get_or_create upsert is idempotent and key-stable (A5/A6)") {
    import spark.implicits._
    val existing = Seq(("s1", 1), ("s2", 2)).toDF("name", "id")
    val staging = Seq("s2", "s3").toDF("name")
      .withColumn("id", lit(3))
    val once = graft.etl.MicMacEtl.getOrCreate(existing, staging, Seq("name"))
    assert(once.count() == 3) // s2 matched, s3 created
    val twice = graft.etl.MicMacEtl.getOrCreate(once, staging, Seq("name"))
    assert(twice.collect().map(_.toString).sorted.toSeq
      == once.collect().map(_.toString).sorted.toSeq)
  }

  test("get_or_create renumbers fresh rows past the existing id range") {
    import spark.implicits._
    // staging ids come from a rank that always starts at 1: appending
    // them verbatim would hand s4 the id s1 already holds — the
    // surrogate silently stopping being a key
    val existing = Seq(("s1", 1), ("s2", 2), ("s3", 3)).toDF("name", "id")
    val staging = Seq(("s4", 1), ("s5", 2)).toDF("name", "id")
    val merged = graft.etl.MicMacEtl.getOrCreate(existing, staging,
      Seq("name")).collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(merged.size == 5)
    assert(merged.values.toSeq.distinct.size == 5, s"id collision: $merged")
    assert(merged("s4") == 4 && merged("s5") == 5) // max(existing) + rank
    assert(merged("s1") == 1 && merged("s3") == 3) // existing untouched
  }

  test("orimatis A8: missing sensor <name> fails loudly, never null edges") {
    val e = intercept[Exception] {
      graft.etl.MicMacEtl
        .importOrimatis(spark, s"$res/orimatis_no_name.xml")("transfos")
        .collect()
    }
    assert(e.getMessage.contains("missing sensor <name>"),
      s"got: ${e.getMessage}")
  }

  test("orimatis A8: missing <focale> fails loudly, never a null-holed " +
      "parameter array") {
    val e = intercept[Exception] {
      graft.etl.MicMacEtl
        .importOrimatis(spark, s"$res/orimatis_no_focale.xml")("transfos")
        .collect()
    }
    assert(e.getMessage.contains("incomplete intrinsics"),
      s"got: ${e.getMessage}")
  }

  test("blinis A8: duplicate IdGrp in one rig file fails loudly") {
    val e = intercept[Exception] {
      graft.etl.MicMacEtl
        .importBlinis(spark, s"$res/blinis_dup_idgrp.xml")("transfos")
        .collect()
    }
    assert(e.getMessage.contains("duplicate ParamOrientSHC IdGrp"),
      s"got: ${e.getMessage}")
  }

  test("blinis A8: a duplicate IdGrp read through the manifest fails loudly") {
    import spark.implicits._
    val xml = XmlManifest.readXml(spark, Seq(
      new java.io.File(s"$res/blinis_dup_idgrp.xml").getAbsolutePath).toDS())
    val e = intercept[Exception] {
      MicMacEtl.importBlinisXml(xml)("transfos").collect()
    }
    assert(e.getMessage.contains("duplicate ParamOrientSHC IdGrp"),
      s"got: ${e.getMessage}")
  }

  test("blinis A8: an incomplete arm is reported before a duplicate IdGrp") {
    // the duplicate pair comes first in the file and the arm without an
    // <IdGrp> last: the per-camera check still names the file first
    val e = intercept[Exception] {
      importGlob("blinis_dup_then_null_idgrp.xml")("transfos").collect()
    }
    assert(e.getMessage.contains("incomplete ParamOrientSHC"),
      s"got: ${e.getMessage}")
  }

  test("blinis transfos check IdGrp uniqueness without a window or shuffle") {
    import spark.implicits._
    // the manifest fetch repartitions its paths; the import pipeline
    // behind it is what must not shuffle
    val xml = XmlManifest.readXml(spark, Seq(
      new java.io.File(s"$res/blinis_sample.xml").getAbsolutePath).toDS())
      .localCheckpoint(eager = true)
    val helper = new AdaptiveSparkPlanHelper {}
    for ((name, out) <- Seq(
        "glob" -> importGlob("blinis_sample.xml"),
        "readXml" -> MicMacEtl.importBlinisXml(xml))) {
      val qe = out("transfos").queryExecution
      assert(qe.optimizedPlan.collect { case w: Window => w }.isEmpty,
        s"$name: ${qe.optimizedPlan}")
      assert(helper.collect(qe.executedPlan) {
        case x: ShuffleExchangeExec => x }.isEmpty,
        s"$name: ${qe.executedPlan}")
    }
  }

  test("manifest-fetched XML runs the same import pipeline (the seam)") {
    import spark.implicits._
    // one corpus, named by a glob and by a manifest of raw paths: the
    // rows are identical, `file` included, for names that URL encoding
    // or a glob would change
    val dir = GraftTmp.dir("micmac_seam")
    val importers = Seq[(String, String => Map[String, DataFrame],
        DataFrame => Map[String, DataFrame])](
      ("autocal", MicMacEtl.importAutocal(spark, _),
        MicMacEtl.importAutocalXml(_)),
      ("blinis", MicMacEtl.importBlinis(spark, _),
        MicMacEtl.importBlinisXml(_)),
      ("orimatis", MicMacEtl.importOrimatis(spark, _),
        MicMacEtl.importOrimatisXml(_)))
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    for ((kind, viaGlobOf, viaXml) <- importers) {
      val d = java.nio.file.Paths.get(dir, kind)
      val names = Seq("a[1]", "b%2", "c d").map(n => d.resolve(s"$n.xml"))
      java.nio.file.Files.createDirectories(d)
      for (n <- names) java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$res/${kind}_sample.xml"), n,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val viaManifest = viaXml(XmlManifest.readXml(spark,
        names.map(_.toString).toDS(), parts = 2))
      val viaGlob = viaGlobOf(s"$d/*.xml")
      for (k <- Seq("sensors", "referentials", "transfos", "transfotrees"))
        assert(rows(viaManifest(k)) == rows(viaGlob(k)),
          s"$kind $k diverged")
      // three files, each with its fixture's transfos
      assert(viaGlob("transfos").select("file").distinct().count() == 3)
      assert(viaGlob("transfos").count()
        == 3 * Map("autocal" -> 3, "blinis" -> 2, "orimatis" -> 2)(kind))
    }
  }

  test("a manifest that lists a file twice fails every importer naming it") {
    import spark.implicits._
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    // one file named absolute and relative: the same path once qualified
    def twice(f: String) = XmlManifest.readXml(spark, Seq(
      new java.io.File(s"$res/$f").getAbsolutePath, s"$res/$f").toDS(),
      parts = 2)
    val runs = Seq[(String, () => Any)](
      "autocal_sample.xml" -> (() => MicMacEtl
        .importAutocalXml(twice("autocal_sample.xml"))("transfos").collect()),
      "blinis_sample.xml" -> (() => MicMacEtl
        .importBlinisXml(twice("blinis_sample.xml"))("transfos").collect()),
      "orimatis_sample.xml" -> (() => MicMacEtl
        .importOrimatisXml(twice("orimatis_sample.xml"))("transfos")
        .collect()),
      "orimatis_matrix.xml" -> (() => XmlManifest.pack(spark, Seq(
        s"$res/orimatis_matrix.xml", s"./$res/orimatis_matrix.xml").toDS(),
        GraftTmp.dir("micmac_pack_twice"))))
    for ((f, run) <- runs) {
      val e = intercept[Exception](run())
      assert(msgs(e).exists(m => m.contains("listed twice")
        && m.contains(s"/$f")), s"$f: $e")
    }
  }

  /** The glob importer a fixture belongs to, by its name prefix. */
  private def importGlob(fixture: String): Map[String, DataFrame] = {
    val path = s"$res/$fixture"
    if (fixture.startsWith("autocal")) MicMacEtl.importAutocal(spark, path)
    else if (fixture.startsWith("blinis")) MicMacEtl.importBlinis(spark, path)
    else MicMacEtl.importOrimatis(spark, path)
  }

  test("each importer parses a document once; orimatis scans it once") {
    import spark.implicits._
    // a Filter pushed through a Project inlines the projected parse, so
    // an A8 check that reads a plain from_xml column re-parses the file
    def parses(df: DataFrame) = df.queryExecution.optimizedPlan
      .flatMap(_.expressions).map(_.collect { case x: XmlToStructs => x }.size)
      .sum
    def manifest(f: String) = XmlManifest.readXml(spark,
      Seq(new java.io.File(s"$res/$f").getAbsolutePath).toDS())
    val runs = Seq(
      "autocal glob" -> importGlob("autocal_sample.xml"),
      "autocal readXml" ->
        MicMacEtl.importAutocalXml(manifest("autocal_sample.xml")),
      "blinis glob" -> importGlob("blinis_sample.xml"),
      "blinis readXml" ->
        MicMacEtl.importBlinisXml(manifest("blinis_sample.xml")),
      "orimatis glob" -> importGlob("orimatis_sample.xml"),
      "orimatis readXml" ->
        MicMacEtl.importOrimatisXml(manifest("orimatis_sample.xml")))
    for ((name, out) <- runs) {
      val transfos = out("transfos")
      assert(parses(transfos) == 1,
        s"$name: ${transfos.queryExecution.optimizedPlan}")
      if (name.startsWith("orimatis"))
        assert(transfos.queryExecution.optimizedPlan.collectLeaves().size == 1,
          s"$name scans its input more than once")
    }
  }

  test("importers give the same rows and A8 errors with codegen or AQE off") {
    val fixtures = new java.io.File(res).listFiles().map(_.getName)
      .filter(_.endsWith(".xml")).sorted.toSeq
    val outputs = Seq("sensors", "referentials", "transfos", "transfotrees")
    // the A8 message of a failed import, wherever Spark wrapped it
    def a8(t: Throwable, fixture: String): Option[String] = {
      def all(t: Throwable): Seq[Throwable] = if (t == null) Nil
        else t +: (Option(t.getCause).toSeq ++ t.getSuppressed).flatMap(all)
      all(t).flatMap(x => Option(x.getMessage)).flatMap(_.linesIterator)
        .find(_.contains(fixture))
        .map(_.replaceFirst("^\\[[A-Z_]+\\] ", "")
          .replaceFirst(" SQLSTATE.*$", ""))
    }
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    // per fixture: the four outputs' rows, or the A8 message
    def run(fixture: String): Either[String, Seq[Seq[String]]] =
      try Right(outputs.map(k => rows(importGlob(fixture)(k))))
      catch { case e: Exception =>
        Left(a8(e, fixture).getOrElse(throw e)) }
    def under(confs: Map[String, String]): Map[String, Either[String,
        Seq[Seq[String]]]] = {
      val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try fixtures.map(f => f -> run(f)).toMap
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val defaults = under(Map.empty)
    val failing = defaults.collect { case (f, Left(_)) => f }
    assert(failing.nonEmpty && failing.size < defaults.size, defaults)
    for ((mode, confs) <- Seq(
        "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"),
        "AQE off" -> Map("spark.sql.adaptive.enabled" -> "false"))) {
      val got = under(confs)
      for (f <- fixtures)
        assert(got(f) == defaults(f), s"$f diverges with $mode")
    }
  }
}
