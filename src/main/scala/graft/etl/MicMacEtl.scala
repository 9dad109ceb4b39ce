package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.XmlManifest.readGlob

/** Reference-parity ETL: MicMac photogrammetry XML -> li3ds-shaped
  * entity DataFrames (SURVEY §2A A1–A8; upstream micmac_li3ds
  * autocal.py / blinis.py / orimatis.py / api.py [unverified]).
  *
  * Spark-first shape: an [[graft.sources.XmlManifest]] fetch supplies
  * the documents as (path, length, xml) rows (A1) — a manifest through
  * `import*Xml`, a glob through `import*`, which expands it into one —
  * so a file carries one `file` value either way. `parseOnce` runs
  * `from_xml` with an explicit schema exactly once per document (A2),
  * column expressions derive matrices (A3), a custom Catalyst
  * `Generator` explodes one calibration into its N transfos (A4 — the
  * UDTF surface), dense_rank assigns deterministic surrogate keys
  * (A6), and get-or-create upsert is a left-anti union on the natural
  * key (A5). Sinks: parquet via Verify, JDBC via q_etl_jdbc_sink (A7).
  * Missing mandatory tags fail the non-null checks (A8), which read the
  * one parsed struct; orimatis emits each file's pose and intrinsics
  * transfos from one pass over it.
  */
object MicMacEtl {

  /** space-separated float leaf -> array<double> */
  private def vec(c: Column): Column =
    transform(split(trim(c), "\\s+"), x => x.cast(DoubleType))

  // ---------------------------------------------------------------- autocal

  // Distortion models (SURVEY §1.3(a) `CalibDistortion`): MicMac
  // calibrations carry one of several models. ModRad (pure radial:
  // center + r^3/r^5/r^7 coefficients) and ModPhgrStd (radial part +
  // decentric P1/P2 + affine b1/b2 — the "Photogrammetric Standard"
  // model) are schematized; any other child of CalibDistortion parses
  // to all-null and FAILS the A8 assert below, loudly, instead of
  // emitting a half-parsed calibration.
  val autocalSchema: StructType = StructType(Seq(
    StructField("CalibrationInternConique", StructType(Seq(
      StructField("KnownConv", StringType),
      StructField("PP", StringType),
      StructField("F", DoubleType),
      StructField("SzIm", StringType),
      StructField("CalibDistortion", StructType(Seq(
        StructField("ModRad", StructType(Seq(
          StructField("CDist", StringType),
          StructField("CoeffDist", ArrayType(DoubleType))))),
        StructField("ModPhgrStd", StructType(Seq(
          StructField("RadialePart", StructType(Seq(
            StructField("CDist", StringType),
            StructField("CoeffDist", ArrayType(DoubleType))))),
          StructField("P1", DoubleType),
          StructField("P2", DoubleType),
          StructField("b1", DoubleType),
          StructField("b2", DoubleType))))))))))))

  /** (path, xml) -> (file, x): `x` is the document parsed against
    * `schema`, evaluated once per document. The parse sits behind a
    * one-row Generate because Catalyst's PushDownPredicates moves a
    * Filter below a Project by inlining the projected expressions: over
    * a plain `withColumn("x", from_xml(...))` every A8 filter would get
    * its own copy of the parse. A predicate that reads a generator's
    * output cannot move below the Generate, so the A8 checks stay as
    * written and share one parse. */
  private def parseOnce(xml: DataFrame, schema: StructType): DataFrame =
    xml.select(col("path").as("file"),
      inline(array(struct(from_xml(col("xml"), schema).as("x")))))

  /** An importer's four outputs, each built on its first read and then
    * kept. Building a frame analyses its whole plan on the driver, so a
    * caller that reads only `transfos` does not pay for the other three;
    * the shared trunk an importer builds before calling this stays
    * eager, so a bad glob or schema still fails at the import call. The
    * trees group the same `transfos` frame by `treeName`. */
  private def outputs(sensors: => DataFrame, referentials: => DataFrame,
      transfos: => DataFrame, treeName: Column): Outputs = {
    lazy val t = transfos
    Outputs("sensors" -> (() => sensors),
      "referentials" -> (() => referentials), "transfos" -> (() => t),
      "transfotrees" -> (() => transfoTree(t, treeName)))
  }

  /** A map whose values are built on first read and memoised; key
    * queries (`contains`, `keySet`, `size`) build nothing. */
  private[etl] final class Outputs private (cells: Map[String, Outputs.Cell])
      extends scala.collection.immutable.AbstractMap[String, DataFrame] {
    def get(key: String): Option[DataFrame] = cells.get(key).map(_.df)
    def iterator: Iterator[(String, DataFrame)] =
      cells.iterator.map { case (k, c) => k -> c.df }
    override def keysIterator: Iterator[String] = cells.keysIterator
    override def contains(key: String): Boolean = cells.contains(key)
    override def knownSize: Int = cells.size
    def removed(key: String): Map[String, DataFrame] = new Outputs(cells - key)
    def updated[V >: DataFrame](key: String, value: V): Map[String, V] =
      iterator.toMap.updated(key, value)
  }

  private[etl] object Outputs {
    final class Cell(build: () => DataFrame) {
      lazy val df: DataFrame = build()
    }
    def apply(outputs: (String, () => DataFrame)*): Outputs =
      new Outputs(outputs.map { case (k, f) => k -> new Cell(f) }.toMap)
  }

  /** The rows that pass every A8 assertion, checked in the order given.
    * One Filter rather than one per check: each Dataset step pays a fixed
    * analyzer run on the driver, and Catalyst combines stacked filters
    * into this same conjunction anyway. */
  private def a8(df: DataFrame, asserts: Column*): DataFrame =
    df.filter(asserts.map(_.isNull).reduce(_ && _))

  /** one calibration file -> camera sensor, its referentials and the
    * projection/distortion/pixel transfos */
  def importAutocal(spark: SparkSession, glob: String,
      validityStart: Option[String] = None,
      validityEnd: Option[String] = None): Map[String, DataFrame] =
    importAutocalXml(readGlob(spark, glob), validityStart, validityEnd)

  /** [[importAutocal]] over fetched documents (path, length, xml: a
    * [[graft.sources.XmlManifest]] fetch or its packed form). */
  def importAutocalXml(xml: DataFrame,
      validityStart: Option[String] = None,
      validityEnd: Option[String] = None): Map[String, DataFrame] = {
    def dist(f: String) = col(s"c.CalibDistortion.$f")
    val parsed = parseOnce(xml, autocalSchema)
      .select(col("file"), col("x.CalibrationInternConique").as("c"))
      .select(col("file"),
        col("c.F").as("focal"), vec(col("c.PP")).as("pp"),
        vec(col("c.SzIm")).as("sz_im"),
        when(dist("ModRad").isNotNull, lit("poly_radial"))
          .when(dist("ModPhgrStd").isNotNull, lit("phgr_std"))
          .as("dist_model"),
        when(dist("ModRad").isNotNull,
          concat(vec(dist("ModRad.CDist")), dist("ModRad.CoeffDist")))
          .otherwise(concat(
            vec(dist("ModPhgrStd.RadialePart.CDist")),
            dist("ModPhgrStd.RadialePart.CoeffDist"),
            array(dist("ModPhgrStd.P1"), dist("ModPhgrStd.P2"),
              dist("ModPhgrStd.b1"), dist("ModPhgrStd.b2"))))
          .as("dist_params"))
    // A8: mandatory tags + known distortion model + COMPLETE distortion
    // parameters — a recognized model with a missing <CoeffDist> (or
    // center) concat()s to a NULL dist_params, which would otherwise
    // sail through to the exploder and fail as an anonymous executor
    // NPE instead of an error naming the file
    val checked = a8(parsed,
      assert_true(col("focal").isNotNull && size(col("pp")) === 2
        && size(col("sz_im")) === 2),
      assert_true(col("dist_model").isNotNull,
        concat(lit("unknown CalibDistortion model in "), col("file"))),
      assert_true(
        col("dist_params").isNotNull && size(col("dist_params")) >= 3
          // array() EMBEDS null elements without nulling the concat, so
          // a ModPhgrStd missing P1/P2/b1/b2 passes the isNotNull check
          // with [.., null, null] — and the exploder's toDoubleArray
          // would then fabricate 0.0 coefficients silently
          && forall(col("dist_params"), x => x.isNotNull),
        concat(lit("incomplete CalibDistortion parameters in "),
          col("file"))))
    outputs(
      sensors = checked.select(col("file"),
        lit("camera").as("sensor_type"),
        map_from_arrays(array(lit("image_size")), array(col("sz_im")))
          .as("specifications")),
      referentials = checked.select(col("file"), explode(array(
        lit("camera"), lit("rawImage"), lit("undistortedImage")))
        .as("referential")),
      transfos = withValidity(checked.select(col("file"),
        expr("autocal_transfos(focal, pp, dist_model, dist_params)")),
        validityStart, validityEnd),
      treeName = col("transfo_name"))
  }

  // ---------------------------------------------------------------- blinis

  val blinisSchema: StructType = StructType(Seq(
    StructField("KeyIm2TimeCam", StringType),
    StructField("LiaisonsSHC", StructType(Seq(
      StructField("ParamOrientSHC", ArrayType(StructType(Seq(
        StructField("IdGrp", StringType),
        StructField("Vecteur", StringType),
        StructField("Rot", StructType(Seq(
          StructField("CodageMatr", StructType(Seq(
            StructField("L1", StringType),
            StructField("L2", StringType),
            StructField("L3", StringType))))))))))))))))

  /** one rig file -> base + per-camera referentials with affine mat4x3
    * transfos ([R|t] row-major, 12 doubles — blinis.py A3/A4 analog) */
  def importBlinis(spark: SparkSession, glob: String,
      validityStart: Option[String] = None,
      validityEnd: Option[String] = None): Map[String, DataFrame] =
    importBlinisXml(readGlob(spark, glob), validityStart, validityEnd)

  /** [[importBlinis]] over fetched documents (path, length, xml). */
  def importBlinisXml(xml: DataFrame,
      validityStart: Option[String] = None,
      validityEnd: Option[String] = None): Map[String, DataFrame] = {
    def complete3(c: Column): Column =
      c.isNotNull && size(c) === 3 && forall(c, x => x.isNotNull)
    val arms = col("x.LiaisonsSHC.ParamOrientSHC")
    val parsed = parseOnce(xml, blinisSchema)
      // A8 for the rig file shape, BEFORE the explode: a malformed XML
      // (PERMISSIVE parse -> null struct) or one missing <LiaisonsSHC>/
      // <ParamOrientSHC> yields a null array, and explode would emit
      // ZERO rows — the file silently vanishing from the import, where
      // autocal/orimatis fail loudly
      .filter(assert_true(arms.isNotNull && size(arms) >= 1,
        concat(lit("missing LiaisonsSHC/ParamOrientSHC in "), col("file")))
        .isNull)
      // IdGrp uniqueness is a property of the one document, so it is
      // read off the array here rather than by grouping exploded rows
      // (which costs a shuffle); it is asserted below, after the
      // per-camera check
      .select(col("file"), col("x.KeyIm2TimeCam").as("rig"),
        (size(array_distinct(arms.getField("IdGrp"))) === size(arms))
          .as("_unique"),
        (size(arms) - 1).as("_last"),
        posexplode(arms).as(Seq("_pos", "p")))
      .select(col("file"), col("rig"), col("_unique"), col("_last"),
        col("_pos"),
        col("p.IdGrp").as("cam"),
        vec(col("p.Vecteur")).as("t"),
        vec(col("p.Rot.CodageMatr.L1")).as("r1"),
        vec(col("p.Rot.CodageMatr.L2")).as("r2"),
        vec(col("p.Rot.CodageMatr.L3")).as("r3"))
    val checked = a8(parsed,
      // per camera: a missing <Vecteur> would make mat4x3 NULL and a
      // short/non-numeric CodageMatr row an 11-element or null-holed
      // array — both of which FrameGraph.compose's element_at reads as
      // silent NULLs in every composed pose instead of an import error
      assert_true(
        col("rig").isNotNull && col("cam").isNotNull
          && complete3(col("t")) && complete3(col("r1"))
          && complete3(col("r2")) && complete3(col("r3")),
        concat(lit("incomplete ParamOrientSHC (IdGrp/Vecteur/CodageMatr) "
          + "in "), col("file"))),
      // duplicate IdGrp within one rig file (a double-written arm):
      // transfoTree's collect_set would dedup the NAME while both
      // transfo rows survive, so the "consistent snapshot" would hand
      // composePath a duplicate edge and double every pose through it.
      // A file's rows pass this filter in explode order, so checking on
      // its last row lets an incomplete arm anywhere in it fail first
      assert_true(col("_unique") || col("_pos") < col("_last"),
        concat(lit("duplicate ParamOrientSHC IdGrp in "), col("file"))))
    val mat43 = concat(
      col("r1"), slice(col("t"), 1, 1),
      col("r2"), slice(col("t"), 2, 1),
      col("r3"), slice(col("t"), 3, 1))
    outputs(
      sensors = checked.select(col("file"), col("rig")).distinct()
        .withColumn("sensor_type", lit("group")),
      referentials = checked.select(col("file"), col("rig"), col("cam"))
        .unionByName(checked.select(col("file"), col("rig"),
          lit("base").as("cam")).distinct()),
      transfos = withValidity(
        checked.select(col("file"), col("rig"), col("cam"),
          lit("affine_mat4x3").as("transfo_type"), mat43.as("mat4x3")),
        validityStart, validityEnd),
      treeName = col("cam"))
  }

  // --------------------------------------------------------------- orimatis

  // Both orimatis flavors (SURVEY §1.3(a): `conique`/`spherique`) and
  // both pose encodings ("rotation as matrix or quaternion"). conique
  // carries its intrinsics under <sensor> (ppa + focale); spherique is
  // a panoramic camera: no focal — pixel->angle mapping from the ppa
  // and the lambda/phi angular frame. The rotation block carries either
  // a <quaternion> or a row-major <mat3d> (l1/l2/l3 rows).
  val orimatisSchema: StructType = {
    val ppaConique = StructType(Seq(
      StructField("c", DoubleType),
      StructField("l", DoubleType),
      StructField("focale", DoubleType)))
    val imageSize = StructType(Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType)))
    StructType(Seq(
      StructField("version", StringType),
      StructField("geometry", StructType(Seq(
        StructField("intrinseque", StructType(Seq(
          StructField("sensor", StructType(Seq(
            StructField("name", StringType),
            StructField("image_size", imageSize),
            StructField("ppa", ppaConique)))),
          StructField("spherique", StructType(Seq(
            StructField("name", StringType),
            StructField("image_size", imageSize),
            StructField("ppa", StructType(Seq(
              StructField("c", DoubleType),
              StructField("l", DoubleType)))),
            StructField("frame", StructType(Seq(
              StructField("lambda_min", DoubleType),
              StructField("lambda_max", DoubleType),
              StructField("phi_min", DoubleType),
              StructField("phi_max", DoubleType)))))))))),
        StructField("extrinseque", StructType(Seq(
          StructField("systeme", StringType),
          StructField("sommet", StructType(Seq(
            StructField("easting", DoubleType),
            StructField("northing", DoubleType),
            StructField("altitude", DoubleType)))),
          StructField("rotation", StructType(Seq(
            StructField("Image2Ground", BooleanType),
            StructField("quaternion", StructType(Seq(
              StructField("x", DoubleType), StructField("y", DoubleType),
              StructField("z", DoubleType), StructField("w", DoubleType)))),
            StructField("mat3d", StructType(Seq(
              StructField("l1", StringType),
              StructField("l2", StringType),
              StructField("l3", StringType)))))))))))))))
  }

  /** one orientation file -> pose (quaternion|matrix -> mat4x3) +
    * flavor-specific intrinsics (conique pinhole | spherique angular) */
  def importOrimatis(spark: SparkSession, glob: String,
      validityStart: Option[String] = None,
      validityEnd: Option[String] = None): Map[String, DataFrame] =
    importOrimatisXml(readGlob(spark, glob), validityStart, validityEnd)

  /** [[importOrimatis]] over fetched documents (path, length, xml). */
  def importOrimatisXml(xml: DataFrame,
      validityStart: Option[String] = None,
      validityEnd: Option[String] = None): Map[String, DataFrame] = {
    val con = col("x.geometry.intrinseque.sensor")
    val sph = col("x.geometry.intrinseque.spherique")
    def either(f: String) = coalesce(
      col(s"x.geometry.intrinseque.sensor.$f"),
      col(s"x.geometry.intrinseque.spherique.$f"))
    val parsed = parseOnce(xml, orimatisSchema)
      .select(col("file"), con.as("con"), sph.as("sph"),
        col("x.geometry.extrinseque.systeme").as("srid_name"),
        col("x.geometry.extrinseque.sommet.easting").as("px"),
        col("x.geometry.extrinseque.sommet.northing").as("py"),
        col("x.geometry.extrinseque.sommet.altitude").as("pz"),
        col("x.geometry.extrinseque.rotation.Image2Ground").as("i2g"),
        col("x.geometry.extrinseque.rotation.quaternion").as("quat"),
        col("x.geometry.extrinseque.rotation.mat3d").as("mat"),
        when(con.isNotNull, lit("conique"))
          .when(sph.isNotNull, lit("spherique")).as("flavor"),
        either("name").as("sensor_name"),
        either("image_size.width").as("width"),
        either("image_size.height").as("height"),
        either("ppa.c").as("ppa_c"), either("ppa.l").as("ppa_l"))
    // COMPLETE pose encodings only: a present-but-partial <quaternion>
    // (w missing, or an empty element) parses to a NON-NULL struct with
    // null fields — struct-level isNotNull would select it, null out
    // every w-dependent matrix entry silently, and even shadow a valid
    // <mat3d> in the same file
    def q(n: String) = col("quat").getField(n)
    // a degenerate <quaternion> norm poisons the unit-normalizing
    // division below with no error: |q|^2 = 0 (an all-zero placeholder)
    // makes every rotation entry Inf/NaN, and |q|^2 = Inf (an
    // "Infinity" component, or squares overflowing) makes 2/|q|^2 = 0
    // whose 0 * Inf products are NaN. Either way the pose is silently
    // corrupt — require a FINITE POSITIVE norm so the A8 gate fails
    // loudly with the file name (NaN components fail both comparisons;
    // a valid <mat3d> in the same file still wins, as for any other
    // incomplete quaternion)
    val qn2 = q("x") * q("x") + q("y") * q("y") +
      q("z") * q("z") + q("w") * q("w")
    val quatComplete = col("quat").isNotNull &&
      q("x").isNotNull && q("y").isNotNull &&
      q("z").isNotNull && q("w").isNotNull &&
      qn2 > lit(0) && qn2 < lit(Double.PositiveInfinity)
    def mrow(row: Int) = vec(col("mat").getField(s"l$row"))
    val matComplete = col("mat").isNotNull && Seq(1, 2, 3).map(r =>
      size(mrow(r)) === 3 && forall(mrow(r), x => x.isNotNull))
      .reduce(_ && _)
    // A8: exactly one intrinsics flavor, at least one COMPLETE pose
    // encoding, and a complete sommet (the translation column of the
    // pose — a null easting would hole the mat4x3 the same way)
    val checked = a8(parsed,
      assert_true(col("flavor").isNotNull,
        concat(lit("unknown intrinseque flavor in "), col("file"))),
      // a null sensor name would emit null-keyed transfos whose edges
      // never equi-join in FrameGraph traversals — the pose silently
      // VANISHING from every composed path instead of erroring
      assert_true(col("sensor_name").isNotNull,
        concat(lit("missing sensor <name> in "), col("file"))),
      assert_true(quatComplete || matComplete,
        concat(lit("missing or incomplete rotation (quaternion|mat3d) " +
          "in "), col("file"))),
      assert_true(col("px").isNotNull && col("py").isNotNull
          && col("pz").isNotNull,
        concat(lit("missing or incomplete sommet in "), col("file"))),
      // intrinsics completeness, per flavor: array(...) embeds a null
      // silently (the autocal path guards this with forall(isNotNull);
      // the pose path must too) — a [null, c, l] pinhole parameter row
      // fabricates a 0.0 focal length in any toDoubleArray consumer
      assert_true(
        (col("con").isNull ||
          (col("con.ppa.focale").isNotNull && col("ppa_c").isNotNull &&
            col("ppa_l").isNotNull)) &&
        (col("sph").isNull ||
          (col("ppa_c").isNotNull && col("ppa_l").isNotNull &&
            col("sph.frame.lambda_min").isNotNull &&
            col("sph.frame.lambda_max").isNotNull &&
            col("sph.frame.phi_min").isNotNull &&
            col("sph.frame.phi_max").isNotNull)),
        concat(lit("missing or incomplete intrinsics (focale/ppa/frame) " +
          "in "), col("file"))))
    // quaternion -> rotation matrix, row-major (orimatis.py A3 analog),
    // pure column arithmetic — codegen'd, no UDF; matrix poses pass
    // straight through (a complete quaternion wins when both are
    // present). The 2*(..) terms divide by |q|^2: the closed form
    // assumes a UNIT quaternion, and text-precision components rounded
    // to N decimals carry |q|^2 = 1 +- eps — without the division the
    // emitted matrix is scaled by ~|q|^2 (not a rotation) and the error
    // compounds multiplicatively through every composed pose. For an
    // exactly-unit quaternion the division is by 1.0 — bit-identical.
    val two = lit(2) / qn2 // the SAME norm the completeness gate checked
    val rq = Seq(
      lit(1) - two * (q("y") * q("y") + q("z") * q("z")),
      two * (q("x") * q("y") - q("z") * q("w")),
      two * (q("x") * q("z") + q("y") * q("w")),
      two * (q("x") * q("y") + q("z") * q("w")),
      lit(1) - two * (q("x") * q("x") + q("z") * q("z")),
      two * (q("y") * q("z") - q("x") * q("w")),
      two * (q("x") * q("z") - q("y") * q("w")),
      two * (q("y") * q("z") + q("x") * q("w")),
      lit(1) - two * (q("x") * q("x") + q("y") * q("y")))
    // the stored rotation as one 9-element column, computed once per file
    // (the entries below read it rather than each repeating both forms)
    val rStored = when(quatComplete, array(rq: _*)).otherwise(array(
      (0 until 9).map(k => element_at(mrow(k / 3 + 1), k % 3 + 1)): _*))
    // <Image2Ground>: true or ABSENT means the stored rotation already
    // maps image->ground (the pose orientation mat4x3 carries); FALSE
    // means it is stored ground->image and must be TRANSPOSED — the
    // sommet (camera center in ground coords) is direction-independent.
    // Ignoring the flag would emit a transposed rotation with no error
    // and silently corrupt every composed pose downstream.
    val r = (0 until 9).map { k =>
      val kT = (k % 3) * 3 + k / 3 // R[i][j] <- R[j][i]
      def at(i: Int) = element_at(col("_rot"), i + 1)
      when(col("i2g") === lit(false), at(kT)).otherwise(at(k))
    }
    def transfo(t: String, params: Column): Column =
      struct(lit(t).as("transfo_type"), params.as("mat4x3"))
    val pose = transfo("affine_mat4x3", array(
      r(0), r(1), r(2), col("px"),
      r(3), r(4), r(5), col("py"),
      r(6), r(7), r(8), col("pz")))
    // intrinsics transfo: pinhole for conique; angular (ppa + lambda/phi
    // frame) for spherique — same 5-column transfo shape either way, and
    // conique wins when both blocks are present, as in `flavor`
    val intrinsics = when(col("con").isNotNull, transfo("projective_pinhole",
        array(col("con.ppa.focale"), col("ppa_c"), col("ppa_l"))))
      .when(col("sph").isNotNull, transfo("spherical",
        array(col("ppa_c"), col("ppa_l"),
          col("sph.frame.lambda_min"), col("sph.frame.lambda_max"),
          col("sph.frame.phi_min"), col("sph.frame.phi_max"))))
    outputs(
      sensors = checked.select(col("file"), col("sensor_name"),
        lit("camera").as("sensor_type"), col("flavor"),
        col("width"), col("height")),
      referentials = checked.select(col("file"), col("sensor_name"),
        explode(array(lit("world"), lit("camera"), lit("image")))
          .as("referential")),
      // each file's two transfo rows come from one pass over it
      transfos = withValidity(checked.withColumn("_rot", rStored)
        .select(col("file"), col("sensor_name"), col("srid_name"),
          inline(array_compact(array(pose, intrinsics))))
          .select("file", "sensor_name", "transfo_type", "srid_name",
            "mat4x3"),
        validityStart, validityEnd),
      treeName = col("transfo_type"))
  }

  // ------------------------------------- validity windows + transfo trees

  /** transfo validity window (cli.py validity-date flags analog): every
    * transfo carries [validity_start, validity_end); a null bound means
    * open-ended. Stored as TimestampType (session tz UTC per SURVEY
    * §1.3 type mapping). */
  def withValidity(transfos: DataFrame,
      start: Option[String], end: Option[String]): DataFrame = {
    def bound(v: Option[String]) = v.map(s => to_timestamp(lit(s)))
      .getOrElse(lit(null).cast(TimestampType))
    transfos.withColumns(Map("validity_start" -> bound(start),
      "validity_end" -> bound(end)))
  }

  /** transfo_tree (SURVEY §1.3(b)): one tree per imported file — a
    * consistent snapshot naming the set of transfos that entered
    * together. Membership is the sorted set of natural transfo names,
    * so re-importing the same file reproduces the identical tree row
    * (the get_or_create idempotence contract extends to trees). */
  def transfoTree(transfos: DataFrame, transfoName: Column): DataFrame =
    transfos.groupBy(col("file"))
      .agg(sort_array(collect_set(transfoName)).as("transfos"))
      .select(col("file"),
        regexp_extract(col("file"), "([^/]+)$", 1).as("tree_name"),
        col("transfos"))

  // ------------------------------------------------- surrogate keys + upsert

  /** A6: deterministic surrogate ids over the natural key.
    *
    * Fine on a post-distinct dimension (the declared case): the global
    * window funnels only the dimension through one task. For a
    * high-cardinality natural key use [[withSurrogateIdsAtScale]].
    */
  def withSurrogateIds(df: DataFrame, naturalKey: Seq[String]): DataFrame =
    df.withColumn("id", dense_rank().over(
      Window.orderBy(naturalKey.map(col): _*)))

  /** A6 at 100 TB: the same deterministic id assignment (dense ids in
    * natural-key order, duplicates share an id) with NO single-task
    * global sort. The distinct natural keys — already unique, so
    * DistributedRank's total-order precondition holds — are globally
    * numbered by the two-pass frozen-bounds ranker, then joined
    * back on the key (an equi-join that shuffles on the key, or
    * broadcasts when the dimension is small). Ids are bigint: a
    * high-cardinality key can exceed Int range.
    */
  def withSurrogateIdsAtScale(df: DataFrame, naturalKey: Seq[String],
      parts: Int = 32): DataFrame = {
    val keyCols = naturalKey.map(col)
    // match the window form's semantics exactly: a pre-existing `id`
    // column is replaced (withColumn semantics), and NULL natural keys
    // get an id like any other key value (dense_rank sorts them first)
    // — hence the null-SAFE join below; a plain equi-join would
    // silently drop every NULL-keyed row
    val base = if (naturalKey.contains("id")) df else df.drop("id")
    // when `id` is itself part of the natural key, the rank must land
    // under a scratch name and REPLACE the original column after the
    // join — aliasing it `id` directly would leave TWO `id` columns
    // and make every downstream col("id") ambiguous (the window form
    // replaces in place via withColumn, and the two forms must agree)
    val rankAlias = if (naturalKey.contains("id")) "_gr_newid" else "id"
    val ids = graft.operators.DistributedRank
      .withRankCols(base.select(keyCols: _*).distinct(), keyCols,
        numBuckets = 1, parts = parts)
      .select(naturalKey.map(k => col(k).as("_sid_" + k))
        :+ col("_gr_rank").as(rankAlias): _*)
    val cond = naturalKey.map(k => base(k) <=> col("_sid_" + k))
      .reduce(_ && _)
    val joined = base.join(ids, cond).drop(naturalKey.map("_sid_" + _): _*)
    if (naturalKey.contains("id"))
      joined.drop("id").withColumnRenamed("_gr_newid", "id")
    else joined
  }

  /** A5 get_or_create: rows of `staging` whose natural key is absent from
    * `existing` are appended; matched rows reuse the existing id.
    * The anti-join is null-SAFE: with a plain equi-join a NULL natural
    * key never matches itself, so a NULL-keyed row would be re-appended
    * on EVERY run — the same reasoning that makes
    * [[withSurrogateIdsAtScale]]'s join `<=>`. */
  def getOrCreate(existing: DataFrame, staging: DataFrame,
      naturalKey: Seq[String]): DataFrame = {
    val cond = naturalKey.map(k => staging(k) <=> existing(k))
      .reduce(_ && _)
    val fresh = staging.join(existing, cond, "left_anti")
    // when both sides carry a surrogate `id`, fresh rows must receive
    // ids ABOVE the existing range: staging ids come from a rank that
    // always starts at 1, so appending them verbatim can hand two
    // DIFFERENT natural keys the same id — the surrogate silently
    // stops being a key. Renumber as max(existing.id) + dense rank
    // (deterministic; the agg and window run on dimension-sized
    // frames, the same cost class as withSurrogateIds itself).
    val freshKeyed =
      if (existing.columns.contains("id") && staging.columns.contains("id")) {
        val idType = existing.schema("id").dataType
        val base = existing
          .agg(coalesce(max(col("id")).cast("long"), lit(0L))).head.getLong(0)
        fresh.withColumn("id",
          (lit(base) + dense_rank().over(
            Window.orderBy(naturalKey.map(col): _*))).cast(idType))
      } else fresh
    existing.unionByName(freshKeyed, allowMissingColumns = false)
  }
}

/** Custom Catalyst Generator (the A4 exploder): one calibration struct ->
  * three transfo rows (projective pinhole, radial distortion, pixel
  * frame) — the same multi-emit micmac_li3ds/autocal.py performs
  * imperatively [unverified upstream]. Generator = Spark's UDTF surface;
  * CodegenFallback is fine off the hot path. */
case class AutocalTransfos(children: Seq[Expression])
  extends Expression with Generator with CodegenFallback {

  /** SQL-exposed surface (`autocal_transfos(...)`): wrong arity or
    * input types must be an ANALYSIS error, not a per-task
    * ClassCast/IndexOutOfBounds at runtime (the fdot/minhash128
    * rule). */
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val expected = Seq[DataType](DoubleType, ArrayType(DoubleType),
      StringType, ArrayType(DoubleType))
    if (children.length != expected.length)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure("autocal_transfos expects " +
          s"(double, array<double>, string, array<double>); got " +
          s"${children.length} argument(s)")
    else {
      val bad = children.zip(expected).find { case (c, e) =>
        !org.apache.spark.sql.types.DataType.equalsStructurally(
          c.dataType, e, ignoreNullability = true)
      }
      bad match {
        case Some((c, e)) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult
            .TypeCheckFailure(s"autocal_transfos: expected $e, got " +
              s"${c.dataType.catalogString}")
        case None =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult
            .TypeCheckSuccess
      }
    }
  }

  override def elementSchema: StructType = StructType(Seq(
    StructField("transfo_name", StringType, nullable = false),
    StructField("transfo_type", StringType, nullable = false),
    StructField("source_ref", StringType, nullable = false),
    StructField("target_ref", StringType, nullable = false),
    StructField("parameters", ArrayType(DoubleType), nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    // the A8 filters upstream guarantee non-null inputs for the ETL
    // path; this guard turns any other caller's NULL into a named
    // error instead of an anonymous executor NPE
    val raw = children.map(_.eval(input))
    require(raw.forall(_ != null),
      "autocal_transfos: NULL argument (focal/pp/dist_model/dist_params" +
        " are all mandatory — A8 validates them per file)")
    val focal = raw(0).asInstanceOf[Double]
    val pp = raw(1).asInstanceOf[ArrayData].toDoubleArray()
    val distType = raw(2).asInstanceOf[UTF8String].toString
    val dparams = raw(3).asInstanceOf[ArrayData].toDoubleArray()
    require(pp.length >= 2,
      s"autocal_transfos: pp needs 2 components, got ${pp.length}")
    def row(n: String, t: String, s: String, g: String, p: Array[Double]) =
      InternalRow(UTF8String.fromString(n), UTF8String.fromString(t),
        UTF8String.fromString(s), UTF8String.fromString(g),
        new GenericArrayData(p))
    Seq(
      row("projection", "projective_pinhole", "camera", "idealImage",
        Array(focal, pp(0), pp(1))),
      row("distortion", distType, "idealImage", "rawImage", dparams),
      row("pixel", "affine_mat3x2", "rawImage", "image",
        Array(1, 0, 0, 0, 1, 0)))
  }

  override def nullable: Boolean = false
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): AutocalTransfos = copy(children = c)
}
