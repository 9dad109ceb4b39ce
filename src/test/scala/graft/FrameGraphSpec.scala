package graft

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Frame-graph traversal (SURVEY §1.3): composing affine_mat4x3
  * transfos along a referential path over the golden-fixture imports,
  * against hand-computed matrices. */
class FrameGraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val res = "src/test/resources/micmac"

  /** world -> base (orimatis pose: Rz90 + sommet translation) plus
    * base -> cam_00 / cam_01 (blinis rig arms). */
  private lazy val edges = {
    val pose = graft.etl.MicMacEtl
      .importOrimatis(spark, s"$res/orimatis_sample.xml")("transfos")
      .filter(col("transfo_type") === "affine_mat4x3")
      .select(lit("world").as("src"), lit("base").as("dst"), col("mat4x3"))
    val rig = graft.etl.MicMacEtl
      .importBlinis(spark, s"$res/blinis_sample.xml")("transfos")
      .select(lit("base").as("src"), col("cam").as("dst"), col("mat4x3"))
    pose.unionByName(rig)
  }

  test("2-hop world->cam_01 composes pose then rig arm") {
    val rows = graft.etl.FrameGraph
      .composePath(edges, lit("world"), lit("cam_01"), maxHops = 3)
      .collect()
    assert(rows.length == 1, "unique path in a frame tree")
    assert(rows(0).getInt(2) == 2)
    // R = Rcam01 * Rz90 = Rz180; t = Rcam01 * t_pose + t_cam01
    val exp = Seq(
      -1.0, 0.0, 0.0, -6861501.0,
      0.0, -1.0, 0.0, 651200.5,
      0.0, 0.0, 1.0, 122.25)
    val got = rows(0).getSeq[Double](3)
    got.zip(exp).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-6, s"$got vs $exp") }
  }

  test("2-hop world->cam_00 keeps the rotation, shifts the translation") {
    val got = graft.etl.FrameGraph
      .composePath(edges, lit("world"), lit("cam_00"), maxHops = 3)
      .collect()(0).getSeq[Double](3)
    // cam_00 arm is identity R with t=(0.1,0.2,0.3): R stays Rz90
    val exp = Seq(
      0.0, -1.0, 0.0, 651200.35,
      1.0, 0.0, 0.0, 6861500.7,
      0.0, 0.0, 1.0, 121.05)
    got.zip(exp).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-6, s"$got vs $exp") }
  }

  test("1-hop path returns the edge matrix unchanged") {
    val rows = graft.etl.FrameGraph
      .composePath(edges, lit("base"), lit("cam_00"), maxHops = 3)
      .collect()
    assert(rows.length == 1 && rows(0).getInt(2) == 1)
    assert(rows(0).getSeq[Double](3) == Seq(
      1.0, 0.0, 0.0, 0.1,
      0.0, 1.0, 0.0, 0.2,
      0.0, 0.0, 1.0, 0.3))
  }

  test("composeFromRoot materializes the whole pose table in one pass") {
    val rows = graft.etl.FrameGraph
      .composeFromRoot(edges, lit("world"), maxHops = 3)
      .collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getSeq[Double](2)))
      .toMap
    assert(rows.keySet == Set("base", "cam_00", "cam_01"))
    assert(rows("base")._1 == 1 && rows("cam_00")._1 == 2
      && rows("cam_01")._1 == 2)
    // world->cam_01 must equal the composePath answer
    val exp = Seq(
      -1.0, 0.0, 0.0, -6861501.0,
      0.0, -1.0, 0.0, 651200.5,
      0.0, 0.0, 1.0, 122.25)
    rows("cam_01")._2.zip(exp).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-6) }
  }

  test("materialized-frontier variant returns identical rows") {
    def rows(m: Boolean) = graft.etl.FrameGraph
      .composeFromRoot(edges, lit("world"), maxHops = 3,
        materializeFrontiers = m)
      .collect().map(_.toString).sorted.toSeq
    assert(rows(m = true) == rows(m = false))
  }

  test("unreachable target yields no rows within maxHops") {
    assert(graft.etl.FrameGraph
      .composePath(edges, lit("cam_00"), lit("world"), maxHops = 4)
      .count() == 0)
  }

  test("per-hop joins broadcast the edge side — frontier never shuffles") {
    val plan = graft.etl.FrameGraph
      .composeFromRoot(edges, lit("world"), maxHops = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast hop joins in:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"frontier must not shuffle:\n$plan")
  }

  test("importer-output adapters wire pose and rig arms into one graph") {
    val rig = graft.etl.MicMacEtl
      .importBlinis(spark, s"$res/blinis_sample.xml")("transfos")
    val pose = graft.etl.MicMacEtl
      .importOrimatis(spark, s"$res/orimatis_sample.xml")("transfos")
    // align the pose target onto the rig's base node, then traverse
    val rigBase = graft.etl.FrameGraph.blinisEdges(rig)
      .select(col("src")).limit(1).collect()(0).getString(0)
    val graph = graft.etl.FrameGraph
      .orimatisPoseEdges(pose)
      .withColumn("dst", lit(rigBase))
      .unionByName(graft.etl.FrameGraph.blinisEdges(rig))
    val out = graft.etl.FrameGraph
      .composePath(graph, lit("world"),
        lit(rigBase.stripSuffix("/base") + "/cam_01"), maxHops = 3)
      .collect()
    assert(out.length == 1 && out(0).getInt(2) == 2)
    // same hand-computed world->cam_01 matrix as the manual-edge test
    val exp = Seq(
      -1.0, 0.0, 0.0, -6861501.0,
      0.0, -1.0, 0.0, 651200.5,
      0.0, 0.0, 1.0, 122.25)
    out(0).getSeq[Double](3).zip(exp).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-6) }
  }

  test("validateTree passes a clean forest and flags each fault kind") {
    import spark.implicits._
    val clean = (0L until 6L).map(k => (k, k + 1)).toDF("src", "dst")
    assert(graft.etl.FrameGraph.validateTree(clean).count() == 0,
      "a plain chain is a valid tree")
    // a second root's subtree is still a forest
    val forest = clean.unionByName(Seq((100L, 101L), (100L, 102L))
      .toDF("src", "dst"))
    assert(graft.etl.FrameGraph.validateTree(forest).count() == 0,
      "two parents FROM one node (fan-out) is fine; two parents INTO one is not")
    val faulty = clean.unionByName(
      Seq((3L, 1L), (7L, 7L), (5L, 6L)).toDF("src", "dst"))
    val v = graft.etl.FrameGraph.validateTree(faulty)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(v == Set(("multi_parent", 1L), ("duplicate_edge", 6L),
      ("self_loop", 7L),
      ("cycle", 1L), ("cycle", 2L), ("cycle", 3L), ("cycle", 7L)), v)
  }

  test("validateTree flags null-keyed edges the other checks cannot see") {
    import spark.implicits._
    // {(null,x),(a,x)}: countDistinct skips nulls so multi_parent
    // missed x; (null,null) fails every comparison and join — both
    // must surface as null_key instead of validating as consistent
    val edges = Seq[(java.lang.Long, java.lang.Long)](
      (null, 10L), (9L, 10L), (null, null), (1L, 2L))
      .toDF("src", "dst")
    val v = graft.etl.FrameGraph.validateTree(edges)
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) null else r.getLong(1))).toSet
    assert(v == Set(("null_key", 10L), ("null_key", null)), v)
  }

  test("validateTree works on the real string-keyed frame graphs") {
    import spark.implicits._
    // the datastore's actual referential keys are strings ('world',
    // 'rig/base', sensor names) — validation must never cast them
    val clean = Seq(("world", "rig/base"), ("rig/base", "cam_00"),
      ("rig/base", "cam_01")).toDF("src", "dst")
    assert(graft.etl.FrameGraph.validateTree(clean).count() == 0)
    val doubled = clean.unionByName(
      Seq(("world", "rig/base")).toDF("src", "dst"))
    val v = graft.etl.FrameGraph.validateTree(doubled)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(v == Set(("duplicate_edge", "rig/base")), v)
  }

  test("snapshot restricts edges to one transfo_tree's membership") {
    val out = graft.etl.MicMacEtl
      .importBlinis(spark, s"$res/blinis_sample.xml")
    val full = graft.etl.FrameGraph.snapshot(
      out("transfos"), out("transfotrees"), "blinis_sample.xml", "cam")
    assert(full.count() == 2)
    // an absent tree name fails loudly (r16 review): silently returning
    // an empty snapshot would make every downstream composePath report
    // "no path" on a mere typo — the silent-vanish class
    val missing = intercept[IllegalArgumentException] {
      graft.etl.FrameGraph.snapshot(
        out("transfos"), out("transfotrees"), "no_such_tree", "cam")
    }
    assert(missing.getMessage.contains("no imported tree"), s"$missing")
    // a pruned snapshot excludes the non-member edge (derive the
    // pruned tree from the real one so the FILE scoping key matches —
    // membership is keyed by (file, name), not name alone)
    val pruned = out("transfotrees")
      .withColumn("transfos", array(lit("cam_00")))
    val one = graft.etl.FrameGraph
      .snapshot(out("transfos"), pruned, "blinis_sample.xml", "cam")
    assert(one.select("cam").collect().map(_.getString(0)).toSeq
      == Seq("cam_00"))
  }

  test("snapshot never leaks identically-named transfos from other files") {
    // two imports whose transfos share every natural name: a name-only
    // membership join would return BOTH files' rows for either tree
    val a = graft.etl.MicMacEtl.importBlinis(spark, s"$res/blinis_sample.xml")
    val both = graft.etl.MicMacEtl.importBlinis(spark,
      s"$res/blinis_sample.xml")
    val transfos2 = a("transfos").unionByName(both("transfos")
      .withColumn("file", concat(col("file"), lit("#copy"))))
    val trees2 = a("transfotrees").unionByName(both("transfotrees")
      .withColumn("file", concat(col("file"), lit("#copy")))
      .withColumn("tree_name", lit("copy_tree")))
    val snap = graft.etl.FrameGraph
      .snapshot(transfos2, trees2, "blinis_sample.xml", "cam")
    // only the ORIGINAL file's two arms — the #copy rows carry the
    // same cam names and must not leak in
    assert(snap.count() == 2)
    assert(snap.select("file").distinct().count() == 1)
  }

  test("snapshot on an ambiguous tree name fails loudly, never blends") {
    // tree_name is the file BASENAME: the same rig file imported from
    // two directories mints two trees both named blinis_sample.xml —
    // matching both would blend two import generations silently
    val a = graft.etl.MicMacEtl.importBlinis(spark, s"$res/blinis_sample.xml")
    val other = a("transfotrees")
      .withColumn("file", concat(lit("/elsewhere/"), col("tree_name")))
    val trees2 = a("transfotrees").unionByName(other)
    val e = intercept[IllegalArgumentException] {
      graft.etl.FrameGraph
        .snapshot(a("transfos"), trees2, "blinis_sample.xml", "cam")
    }
    assert(e.getMessage.contains("matches 2"), s"got: $e")
  }

  test("snapshot is a filter on transfos: no join, no aggregate") {
    val out = graft.etl.MicMacEtl
      .importBlinis(spark, s"$res/blinis_sample.xml")
    val plan = graft.etl.FrameGraph.snapshot(
      out("transfos"), out("transfotrees"), "blinis_sample.xml", "cam")
      .queryExecution.optimizedPlan
    assert(plan.collect { case j: Join => j }.isEmpty, s"$plan")
    assert(plan.collect { case a: Aggregate => a }.isEmpty, s"$plan")
  }

  test("snapshot excludes a null-named transfo, as a semi-join does") {
    val out = graft.etl.MicMacEtl
      .importBlinis(spark, s"$res/blinis_sample.xml")
    // a third arm of the same file with a null name: the tree's
    // collect_set skips it, and so must the snapshot
    val transfos = out("transfos").unionByName(out("transfos")
      .filter(col("cam") === "cam_00").withColumn("cam", lit(null)))
    val trees = graft.etl.MicMacEtl.transfoTree(transfos, col("cam"))
    val snap = graft.etl.FrameGraph
      .snapshot(transfos, trees, "blinis_sample.xml", "cam")
    assert(snap.select("cam").collect().map(_.getString(0)).sorted.toSeq
      == Seq("cam_00", "cam_01"))
    // a null in the membership list matches no row either
    val withNull = trees.withColumn("transfos",
      array(lit("cam_01"), lit(null).cast("string")))
    val one = graft.etl.FrameGraph
      .snapshot(transfos, withNull, "blinis_sample.xml", "cam")
    assert(one.select("cam").collect().map(_.getString(0)).toSeq
      == Seq("cam_01"))
  }
}
