package graft.sources

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftTmp, TestSpark}

/** Interaction differential: schema evolution x time travel x pushdown
  * x compaction on ONE versioned catalog table. Each feature is pinned
  * in isolation elsewhere (GraftLinesSpec, TimeTravelSpec,
  * GlFilterSemanticsSpec, GlAggPushdownSpec); real tables hit the
  * COMBINATIONS — a filter pushed on an ALTER-added column must
  * three-valued-evaluate against pre-ALTER files where the column does
  * not exist at all (null-fill, not error), a VERSION AS OF read below
  * the ALTER must serve the CURRENT schema with the new column
  * null-filled (the Delta/Iceberg rule: schema is table-scoped, data
  * is version-scoped), and compaction must leave every retained
  * version's answers byte-identical.
  *
  * Law: after every history step, every versioned read and every
  * (filter, aggregate) shape equals the same computation over an
  * in-memory snapshot DataFrame captured when that version was
  * written. The snapshot never touches the connector, so any
  * divergence is the connector's.
  */
class GlEvolutionInteropSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val tbl = "graft_interop.interop.evo"

  /** expected live rows per committed version, replayed independently
    * of the connector: (k, v, w) with w null before the ALTER */
  private var snapshots = Map.empty[Int, Seq[(Long, Option[Long], Option[String])]]

  private def expectedDf(ver: Int) =
    snapshots(ver).map(r => (r._1, r._2.map(Long.box).orNull,
      r._3.orNull)).toDF("k", "v", "w")

  private def sortedStrings(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select($"k", $"v", $"w").collect().map(_.toString).sorted.toSeq

  private def assertVersionsMatch(upTo: Int, context: String): Unit =
    (1 to upTo).foreach { ver =>
      val got = sortedStrings(spark.sql(
        s"SELECT k, v, w FROM $tbl VERSION AS OF $ver"))
      val want = sortedStrings(expectedDf(ver))
      assert(got == want,
        s"$context: VERSION AS OF $ver diverged (${got.size} vs " +
          s"${want.size} rows; first diff ${want.zipAll(got, "<none>",
            "<none>").find(p => p._1 != p._2).getOrElse(("", ""))})")
    }

  private lazy val history: Int = {
    spark.conf.set("spark.sql.catalog.graft_interop",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_interop.warehouse",
      GraftTmp.dir("warehouse_interop"))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_interop.interop")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"""CREATE TABLE $tbl (k BIGINT, v BIGINT)
      | USING graftlines TBLPROPERTIES ('versioned'='true')""".stripMargin)

    def rows(lo: Long, hi: Long): Seq[(Long, Option[Long])] =
      (lo until hi).map(k => (k, if (k % 7 == 3) None else Some(k * 10)))

    // v1, v2: two pre-evolution generations (v carries NULLs)
    rows(0, 20).map(r => (r._1, r._2.map(Long.box).orNull))
      .toDF("k", "v").writeTo(tbl).append()
    snapshots += 1 -> rows(0, 20).map(r => (r._1, r._2, None))
    rows(20, 40).map(r => (r._1, r._2.map(Long.box).orNull))
      .toDF("k", "v").writeTo(tbl).append()
    snapshots += 2 -> (snapshots(1) ++ rows(20, 40).map(r => (r._1, r._2, None)))

    // evolve: w arrives after two generations of data (metadata-only)
    spark.sql(s"ALTER TABLE $tbl ADD COLUMNS (w STRING)")

    // v3: post-evolution generation, w always set
    val c = (40L until 60L).map(k =>
      (k, if (k % 7 == 3) None else Some(k * 10), Some(s"w${k % 3}")))
    c.map(r => (r._1, r._2.map(Long.box).orNull, r._3.orNull))
      .toDF("k", "v", "w").writeTo(tbl).append()
    snapshots += 3 -> (snapshots(2) ++ c)

    // v4: COW delete touching pre- AND post-evolution files
    spark.sql(s"DELETE FROM $tbl WHERE k % 10 = 4")
    snapshots += 4 -> snapshots(3).filterNot(_._1 % 10 == 4)
    4
  }

  test("VERSION AS OF below the ALTER serves the evolved schema, null-filled") {
    val last = history
    // current schema everywhere, including versions written before w
    (1 to last).foreach { ver =>
      val sch = spark.sql(s"SELECT * FROM $tbl VERSION AS OF $ver").schema
      assert(sch.fieldNames.toSeq == Seq("k", "v", "w"),
        s"version $ver must serve the CURRENT schema")
    }
    assertVersionsMatch(last, "pre-compaction")
  }

  test("filters on the ALTER-added column see pre-ALTER files as NULL") {
    val last = history
    val live = expectedDf(last)
    live.createOrReplaceTempView("evo_expected")
    // shapes chosen to force the three-valued evaluator against rows
    // whose w does not exist in the file at all: bare equality, the
    // optimizer-inference-blocking NOT...OR, IS NULL, and IN
    val predicates = Seq(
      "w = 'w1'",
      "w IS NULL",
      "NOT (w = 'w1')",
      "NOT (w = 'w1') OR v IS NULL",
      "w IN ('w0', 'w2') AND k >= 10",
      "w IS NOT NULL AND v > 100",
      // r14 pushed shapes: null-safe equality is TOTAL, so a pre-ALTER
      // row (w missing from the file entirely) is definitively false
      // for `w <=> 'w1'` and definitively TRUE for `w <=> NULL` —
      // subtly different from `w = 'w1'`'s NULL; and prefix LIKE on
      // the absent column must stay NULL under NOT...OR
      "w <=> 'w1'",
      "w <=> NULL",
      "NOT (w <=> 'w1')",
      "NOT (w <=> 'w1') OR v IS NULL",
      "w LIKE 'w%'",
      "NOT (w LIKE 'w1%') OR v IS NULL",
      "(w <=> NULL) AND k < 30")
    predicates.foreach { p =>
      val got = sortedStrings(spark.sql(
        s"SELECT k, v, w FROM $tbl WHERE $p"))
      val want = sortedStrings(spark.sql(
        s"SELECT k, v, w FROM evo_expected WHERE $p"))
      assert(got == want, s"WHERE $p diverged: got ${got.size}, " +
        s"want ${want.size} rows")
      assert(want.nonEmpty || p.contains("IS NOT NULL"),
        s"degenerate fixture: WHERE $p selected nothing")
    }
  }

  test("aggregates (pushable shapes included) match on every version") {
    val last = history
    val aggSql = "COUNT(*) AS n, COUNT(w) AS cw, COUNT(v) AS cv, " +
      "MIN(k) AS mnk, MAX(k) AS mxk, MIN(v) AS mnv, MAX(v) AS mxv"
    (1 to last).foreach { ver =>
      expectedDf(ver).createOrReplaceTempView("evo_expected_v")
      val got = spark.sql(
        s"SELECT $aggSql FROM $tbl VERSION AS OF $ver")
        .collect().map(_.toString).toSeq
      val want = spark.sql(s"SELECT $aggSql FROM evo_expected_v")
        .collect().map(_.toString).toSeq
      assert(got == want, s"version $ver aggregates diverged: " +
        s"$got vs $want")
      // grouped form (group key mixes pre/post-evolution rows)
      val gGot = spark.sql(s"SELECT w, COUNT(*) AS n, MAX(v) AS mx " +
        s"FROM $tbl VERSION AS OF $ver GROUP BY w")
        .collect().map(_.toString).sorted.toSeq
      val gWant = spark.sql("SELECT w, COUNT(*) AS n, MAX(v) AS mx " +
        "FROM evo_expected_v GROUP BY w")
        .collect().map(_.toString).sorted.toSeq
      assert(gGot == gWant, s"version $ver grouped aggregates diverged")
    }
  }

  test("compaction preserves every retained version's answers exactly") {
    val last = history
    val dir = new Path(GraftTmp.dir("warehouse_interop"), "interop/evo")
      .toString
    val (nBefore, nAfter) = GraftLines.compact(dir, 2, spark)
    assert(nBefore > nAfter, s"compaction must shrink: $nBefore -> $nAfter")
    // compaction adds a generation whose CONTENT equals the live table
    snapshots += (last + 1) -> snapshots(last)
    assertVersionsMatch(last + 1, "post-compaction")
    // the evolved column survives compaction's union-schema rewrite
    // with its values (the r12 permanent-data-loss class)
    val wVals = spark.sql(s"SELECT DISTINCT w FROM $tbl WHERE w IS NOT NULL")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(wVals == Seq("w0", "w1", "w2"))
    // and pushdown filters still three-value correctly on the
    // compacted files (w now physically present with nulls)
    val got = spark.sql(s"SELECT COUNT(*) AS n FROM $tbl " +
      "WHERE NOT (w = 'w1') OR v IS NULL").collect().head.getLong(0)
    expectedDf(last).createOrReplaceTempView("evo_expected")
    val want = spark.sql("SELECT COUNT(*) AS n FROM evo_expected " +
      "WHERE NOT (w = 'w1') OR v IS NULL").collect().head.getLong(0)
    assert(got == want, s"post-compaction filter count: $got vs $want")
  }

  test("a user-supplied schema column the catalog never saw stays loud") {
    val last = history
    val dir = new Path(GraftTmp.dir("warehouse_interop"), "interop/evo")
      .toString
    // misspelled column: in NO file and NOT in _graft_schema — the
    // catalog schema only vouches for columns it contains, so this
    // must keep the pre-fix loud error, not read uniform NULL
    val typo = spark.read.format("graftlines")
      .schema("k BIGINT, naem STRING").load(dir)
    val e = intercept[Exception](typo.collect())
    assert(e.getMessage != null)
    // a correct SUBSET of the catalog schema (including the evolved
    // column) is vouched and null-fills
    val ok = spark.read.format("graftlines")
      .schema("k BIGINT, w STRING").load(dir)
    assert(ok.count() == snapshots(last).size)
  }

  test("streaming read of an evolved table dir null-fills old generations") {
    // a fresh append-only table (the streaming source is an append
    // feed; the main history's COW delete/compact generations would
    // re-emit rewritten rows by design)
    spark.conf.set("spark.sql.catalog.graft_interop",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_interop.warehouse",
      GraftTmp.dir("warehouse_interop"))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_interop.interop")
    spark.sql("DROP TABLE IF EXISTS graft_interop.interop.evs")
    spark.sql("""CREATE TABLE graft_interop.interop.evs (k BIGINT, v BIGINT)
      | USING graftlines TBLPROPERTIES ('versioned'='true')""".stripMargin)
    spark.sql("INSERT INTO graft_interop.interop.evs VALUES (1, 10), (2, 20)")
    spark.sql("ALTER TABLE graft_interop.interop.evs ADD COLUMNS (w STRING)")
    spark.sql(
      "INSERT INTO graft_interop.interop.evs VALUES (3, 30, 'x'), (4, 40, 'y')")
    val dir = new Path(GraftTmp.dir("warehouse_interop"), "interop/evs")
      .toString
    // path-based STREAM: schema must come from _graft_schema (with w),
    // and the pre-ALTER generation's rows must null-fill, exactly as
    // the batch path does since the readDirSchema fix
    val q = spark.readStream.format("graftlines").load(dir)
      .writeStream.format("memory").queryName("evo_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("evo_stream")
        .collect().map(_.toString).sorted.toSeq
      assert(spark.table("evo_stream").schema.fieldNames.toSeq ==
        Seq("k", "v", "w"))
      assert(got == Seq("[1,10,null]", "[2,20,null]",
        "[3,30,x]", "[4,40,y]"))
    } finally q.stop()
  }

  test("change feed across evolution and compaction boundaries") {
    val last = history
    val dir = new Path(GraftTmp.dir("warehouse_interop"), "interop/evo")
      .toString
    def delta(v: Int, minus: Int) = spark.read.format("graftlines")
      .option("versionAsOf", v).option("excludeFilesOfVersion", minus)
      .load(dir)
    // across the ALTER (v2 -> v3): the feed's inserts are exactly the
    // post-evolution append, read THROUGH the evolved schema
    val ins23 = delta(3, 2).except(delta(2, 3))
    val del23 = delta(2, 3).except(delta(3, 2))
    val wantIns = sortedStrings(expectedDf(3)
      .except(expectedDf(2)))
    assert(sortedStrings(ins23) == wantIns,
      "v2->v3 feed must be the post-evolution append")
    assert(del23.count() == 0, "nothing was deleted between v2 and v3")
    // across the compaction (last -> last+1, appended to snapshots by
    // the compaction test or recomputed here): content is identical,
    // so the two-sided EXCEPT must be EMPTY even though every file
    // changed — compaction is not a logical change
    val gens = GraftLines.genVersions(dir,
      spark.sparkContext.hadoopConfiguration)
    val top = gens.max
    if (top > last) { // compaction test ran first in suite order
      assert(delta(top, last).except(delta(last, top)).count() == 0 &&
        delta(last, top).except(delta(top, last)).count() == 0,
        "a compaction boundary must produce an empty change feed")
    }
  }
}
