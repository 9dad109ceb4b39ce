package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GlScan, GraftLines}

/** The DSv2 connector contract (sources/GraftLines.scala): exact
  * round trip across every storable type incl. hostile strings,
  * honest partial pushdown (accepted filters leave no residual;
  * declined ones do and stay correct), column pruning, read
  * parallelism = written files, truncate-on-overwrite.
  */
class GraftLinesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = GraftTmp.dir("gl_spec")

  // sparkPlan, not executedPlan: AQE wraps shuffling plans in
  // AdaptiveSparkPlanExec whose collect() does not descend; pushdown
  // and pruning are decided at planning time so sparkPlan is authoritative
  private def glScan(df: org.apache.spark.sql.DataFrame): GlScan =
    df.queryExecution.sparkPlan.collectFirst {
      case b: BatchScanExec => b.scan.asInstanceOf[GlScan]
    }.getOrElse(fail("no BatchScanExec in plan"))

  test("round trip is exact for all types, nulls, and hostile strings") {
    val schema = StructType(Seq(
      StructField("i", IntegerType), StructField("l", LongType),
      StructField("d", DoubleType), StructField("s", StringType),
      StructField("b", BooleanType), StructField("dt", DateType),
      StructField("ts", TimestampType)))
    val rows = Seq(
      Row(1, 10L, 1.5, "plain", true,
        Date.valueOf("2024-01-31"), Timestamp.valueOf("2024-01-31 12:34:56.789")),
      Row(2, -3L, -0.0, "tab\there \\ back\nnewline\rcr", false,
        Date.valueOf("1969-12-31"), Timestamp.valueOf("1969-12-31 23:59:59")),
      Row(3, Long.MaxValue, 1.0e-300, "\\N looks null but is not", true,
        null, null),
      Row(null, null, null, null, null, null, null),
      Row(5, 0L, 4.9e-324, "", false, // min subnormal + empty string
        Date.valueOf("2024-02-29"), Timestamp.valueOf("2024-02-29 00:00:00")))
    // a TRAILING empty-string field must survive the line split
    val tailRows = Seq(Row(1L, ""), Row(2L, "x"))
    val tailSchema = StructType(Seq(
      StructField("k", LongType), StructField("s", StringType)))
    val tdf = spark.createDataFrame(
      spark.sparkContext.parallelize(tailRows, 1), tailSchema)
    tdf.write.format("graftlines").mode("overwrite").save(s"$dir/tail")
    assert(spark.read.format("graftlines").load(s"$dir/tail")
      .collect().map(_.toString).sorted.toSeq
      == tailRows.map(_.toString).sorted)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    df.write.format("graftlines").mode("overwrite").save(s"$dir/types")
    val back = spark.read.format("graftlines").load(s"$dir/types")
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq
      == schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.collect().map(_.toString).sorted.toSeq
      == rows.map(_.toString).sorted)
  }

  test("supported filters are pushed with no residual and stay exact") {
    Tables.lineitem(spark, TestSpark.sf0001)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_returnflag")
      .write.format("graftlines").mode("overwrite").save(s"$dir/li")
    val base = spark.read.format("graftlines").load(s"$dir/li")
    val filtered = base.filter($"l_quantity" > 30.0 && $"l_returnflag" =!= "N")

    val scan = glScan(filtered)
    val pushedStr = scan.pushed.mkString(";")
    assert(pushedStr.contains("GreaterThan(l_quantity,30.0)"), pushedStr)
    assert(pushedStr.contains("EqualTo(l_returnflag,N)"), pushedStr) // inside Not
    // all four predicates (2 comparisons + 2 IsNotNull) accepted -> the
    // physical plan keeps NO residual Filter node above the scan
    assert(filtered.queryExecution.executedPlan
      .collect { case f: FilterExec => f }.isEmpty,
      filtered.queryExecution.executedPlan.toString)

    val viaParquet = Tables.lineitem(spark, TestSpark.sf0001)
      .filter($"l_quantity" > 30.0 && $"l_returnflag" =!= "N")
      .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_returnflag")
    assert(filtered.collect().map(_.toString).sorted.toSeq
      == viaParquet.collect().map(_.toString).sorted.toSeq)
  }

  test("unsupported predicates stay residual and remain correct") {
    val base = spark.read.format("graftlines").load(s"$dir/li")
    // suffix LIKE translates to StringEndsWith, which the source
    // declines (prefix StringStartsWith is accepted since r14 — its
    // byte-prefix evaluation is exact; a suffix match is not
    // expressible over the stats/bloom metadata and stays residual)
    val f = base.filter($"l_returnflag".endsWith("A") && $"l_quantity" <= 5.0)
    val scan = glScan(f)
    assert(scan.pushed.mkString(";").contains("LessThanOrEqual(l_quantity,5.0)"))
    assert(!scan.pushed.mkString(";").contains("StringEndsWith"))
    assert(f.queryExecution.executedPlan
      .collect { case x: FilterExec => x }.nonEmpty)
    val expect = Tables.lineitem(spark, TestSpark.sf0001)
      .filter($"l_returnflag".endsWith("A") && $"l_quantity" <= 5.0).count()
    assert(f.count() == expect && expect > 0)
  }

  test("column pruning reaches the scan's read schema") {
    val base = spark.read.format("graftlines").load(s"$dir/li")
    val narrow = base.groupBy($"l_returnflag").agg(sum($"l_quantity").as("q"))
    val scan = glScan(narrow)
    assert(scan.readSchema().fieldNames.toSet
      == Set("l_returnflag", "l_quantity"), scan.readSchema().catalogString)
  }

  test("read parallelism equals written files; overwrite truncates") {
    val df = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    df.repartition(4).write.format("graftlines").mode("overwrite")
      .save(s"$dir/par")
    val back = spark.read.format("graftlines").load(s"$dir/par")
    assert(back.rdd.getNumPartitions == 4)
    assert(back.count() == 1000)
    // second, smaller overwrite must fully replace the first
    (1 to 10).map(i => (i.toLong, "x")).toDF("k", "v")
      .repartition(1).write.format("graftlines").mode("overwrite")
      .save(s"$dir/par")
    assert(spark.read.format("graftlines").load(s"$dir/par").count() == 10)
  }

  test("append mode adds files instead of truncating") {
    (1 to 7).map(i => (i.toLong, "a")).toDF("k", "v")
      .coalesce(1).write.format("graftlines").mode("overwrite")
      .save(s"$dir/app")
    (8 to 9).map(i => (i.toLong, "b")).toDF("k", "v")
      .coalesce(1).write.format("graftlines").mode("append")
      .save(s"$dir/app")
    val back = spark.read.format("graftlines").load(s"$dir/app")
    assert(back.count() == 9)
    assert(back.rdd.getNumPartitions == 2) // one file per write
  }

  test("limit is pushed per-partition; Spark keeps the global cut") {
    val base = spark.read.format("graftlines").load(s"$dir/li")
    val limited = base.filter($"l_quantity" > 30.0).limit(5)
    val scan = limited.queryExecution.sparkPlan.collectFirst {
      case b: BatchScanExec => b.scan.asInstanceOf[GlScan]
    }.getOrElse(fail("no scan"))
    assert(scan.pushedLimit.contains(5), scan.description())
    assert(scan.pushed.nonEmpty) // filter pushed first, counted after
    assert(limited.count() == 5)
    // limit must count FILTERED rows: all 5 survivors satisfy the filter
    assert(limited.collect().forall(_.getAs[Double]("l_quantity") > 30.0))
  }

  test("count/min/max push down as a partial aggregation") {
    val base = spark.read.format("graftlines").load(s"$dir/li")
    val agged = base.filter($"l_returnflag" =!= "N")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), min($"l_quantity").as("mn"),
        max($"l_quantity").as("mx"))
      .orderBy($"l_returnflag")
    val scan = glScan(agged)
    assert(scan.aggSpec.nonEmpty, scan.description())
    assert(scan.readSchema().fields.length == 4, // group + 3 agg cols
      scan.readSchema().catalogString)
    val expect = Tables.lineitem(spark, TestSpark.sf0001)
      .filter($"l_returnflag" =!= "N")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), min($"l_quantity").as("mn"),
        max($"l_quantity").as("mx"))
      .orderBy($"l_returnflag")
    assert(agged.collect().map(_.toString).toSeq
      == expect.collect().map(_.toString).toSeq)
  }

  test("global count with an all-rejecting filter yields 0, not null") {
    // the pushed filter rejects every row, so the partial-agg reader
    // sees an empty stream; the mandatory one-partial-row-per-partition
    // rule for global aggregates is what keeps the final COUNT at 0
    val empty = s"$dir/empty"
    (1L to 5L).toDF("k").coalesce(1)
      .write.format("graftlines").mode("overwrite").save(empty)
    val df = spark.read.format("graftlines").load(empty)
      .filter($"k" > 100L).agg(count(lit(1)).as("n"))
    assert(glScan(df).aggSpec.nonEmpty, glScan(df).description())
    assert(df.head().getLong(0) == 0L)
  }

  test("count(*) with no filters answers from the stats manifest alone") {
    val p = s"$dir/metacount"
    (1L to 1000L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(4).write.format("graftlines").mode("overwrite").save(p)
    val base = spark.read.format("graftlines").load(p)
    val counted = base.agg(count(lit(1)).as("n"))
    val scan = glScan(counted)
    assert(scan.aggSpec.nonEmpty, scan.description())
    val parts = scan.planInputPartitions()
    assert(parts.length == 1
      && parts(0).isInstanceOf[graft.sources.GlStatsCountPartition],
      s"manifest count must plan one metadata partition, got " +
        parts.map(_.getClass.getSimpleName).mkString(","))
    assert(counted.head().getLong(0) == 1000L)
    // any filter falls back to real file scanning — counts stay exact
    val filtered = base.filter($"k" <= 10L).agg(count(lit(1)).as("n"))
    assert(glScan(filtered).planInputPartitions()
      .forall(!_.isInstanceOf[graft.sources.GlStatsCountPartition]))
    assert(filtered.head().getLong(0) == 10L)
    // appends keep the manifest-count truthful
    (1L to 7L).map(i => (-i, "x")).toDF("k", "v")
      .coalesce(1).write.format("graftlines").mode("append").save(p)
    assert(spark.read.format("graftlines").load(p)
      .agg(count(lit(1))).head().getLong(0) == 1007L)
  }

  test("pushed string ranges compare in UTF-8 byte order, like Spark") {
    // supplementary chars (>= U+10000, surrogate pairs) vs BMP chars
    // in [U+E000, U+FFFF]: UTF-8 byte order puts the supplementary
    // LAST, Java's UTF-16 compareTo puts it FIRST. Accepted pushdown
    // leaves no residual Spark filter, so the reader's comparison
    // must be byte-identical to Spark's or these rows silently flip.
    val p = s"$dir/utf8cmp"
    val supp = "𐀀" // U+10000
    val bmp = ""
    Seq((1L, supp), (2L, bmp), (3L, "a")).toDF("k", "s")
      .coalesce(1).write.format("graftlines").mode("overwrite").save(p)
    val base = spark.read.format("graftlines").load(p)
    val lt = base.filter($"s" < bmp)
    // the filter IS pushed (no residual)…
    assert(glScan(lt).pushed.nonEmpty, glScan(lt).description())
    assert(lt.queryExecution.sparkPlan.collectFirst {
      case f: FilterExec => f }.isEmpty, "accepted pushdown must leave " +
      "no residual — otherwise this test proves nothing")
    // …and the result matches Spark's own UTF-8 ordering: U+10000 is
    // NOT below U+E000 (UTF-16 compareTo would wrongly include it)
    assert(lt.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L))
    val gt = base.filter($"s" > bmp)
    assert(gt.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L))
  }

  test("column names a header cannot round-trip are rejected at write") {
    val bad = Seq((1L, "x")).toDF("k", "v\tw")
    val e = intercept[Exception] {
      bad.write.format("graftlines").mode("overwrite")
        .save(s"$dir/badname")
    }
    assert(e.getMessage.contains("unstorable in the header line"),
      e.getMessage)
    // colons are fine: parseHeader splits on the LAST colon
    val p = s"$dir/colonname"
    Seq((1L, "x")).toDF("k", "a:b").coalesce(1)
      .write.format("graftlines").mode("overwrite").save(p)
    val back = spark.read.format("graftlines").load(p)
    assert(back.columns.toSeq == Seq("k", "a:b"))
    assert(back.count() == 1)
  }

  test("stale stats rows degrade the manifest count to a real scan") {
    val p = s"$dir/metacount_stale"
    (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
      .coalesce(1).write.format("graftlines").mode("overwrite").save(p)
    val hconf = spark.sparkContext.hadoopConfiguration
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(hconf)
    val dataFile = fs.listStatus(hp).map(_.getPath)
      .find(_.getName.endsWith(".gl")).get
    def readLines(f: org.apache.hadoop.fs.Path): Seq[String] = {
      val src = scala.io.Source.fromInputStream(fs.open(f), "UTF-8")
      try src.getLines().toList finally src.close()
    }
    def writeLines(f: org.apache.hadoop.fs.Path, ls: Seq[String]): Unit = {
      val w = new java.io.OutputStreamWriter(fs.create(f, true), "UTF-8")
      try ls.foreach { l => w.write(l); w.write('\n') } finally w.close()
    }
    // simulate exactly the hazard the #len line guards against: a
    // same-name in-place rewrite whose best-effort stats merge never
    // landed — shrink the DATA file, leave the manifest untouched
    writeLines(dataFile, readLines(dataFile).dropRight(1))
    val counted = spark.read.format("graftlines").load(p)
      .agg(count(lit(1)).as("n"))
    val parts = glScan(counted).planInputPartitions()
    assert(parts.forall(
      !_.isInstanceOf[graft.sources.GlStatsCountPartition]),
      "a #len mismatch must force a real scan, not serve the stale count")
    assert(counted.head().getLong(0) == 99L)
    // a manifest WITHOUT #len lines (legacy/foreign) gets no exact-count
    // trust either: strip them and the count must still scan, still exact
    val mp = new org.apache.hadoop.fs.Path(p, "_graft_stats")
    writeLines(mp, readLines(mp).filterNot(_.split("\t")(2) == "#len"))
    val counted2 = spark.read.format("graftlines").load(p)
      .agg(count(lit(1)).as("n"))
    assert(glScan(counted2).planInputPartitions().forall(
      !_.isInstanceOf[graft.sources.GlStatsCountPartition]))
    assert(counted2.head().getLong(0) == 99L)
    // refreshStats is the escape hatch for BOTH degradations: it must
    // RE-COUNT the live file (99 rows — stamping #len next to the old
    // count of 100 would bless a stale number as exact) and restore
    // the manifest-count fast path.
    val (examined, refreshed) =
      graft.sources.GraftLines.refreshStats(p, spark)
    assert(examined == 1 && refreshed == 1)
    val counted3 = spark.read.format("graftlines").load(p)
      .agg(count(lit(1)).as("n"))
    val parts3 = glScan(counted3).planInputPartitions()
    assert(parts3.length == 1 &&
      parts3(0).isInstanceOf[graft.sources.GlStatsCountPartition],
      "refreshStats must restore the manifest-count fast path")
    assert(counted3.head().getLong(0) == 99L)
    // min/max pruning stats come back too (k <= 0 prunes every file)
    val pruned = spark.read.format("graftlines").load(p).filter($"k" <= 0L)
    assert(glScan(pruned).planInputPartitions().isEmpty,
      "refreshed min/max stats must prune at plan time")
    // and a second refresh is a no-op: everything verifiably fresh
    assert(graft.sources.GraftLines.refreshStats(p, spark) == ((1, 0)))
  }

  test("refreshStats back-fills a legacy multi-file manifest distributedly") {
    val p = s"$dir/refresh_multi"
    (1L to 5000L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(7).write.format("graftlines").mode("overwrite").save(p)
    val hconf = spark.sparkContext.hadoopConfiguration
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(hconf)
    // simulate a pre-#len manifest: strip every length line
    val mp = new org.apache.hadoop.fs.Path(p, "_graft_stats")
    val src = scala.io.Source.fromInputStream(fs.open(mp), "UTF-8")
    val legacy = try src.getLines().toList finally src.close()
    val w = new java.io.OutputStreamWriter(fs.create(mp, true), "UTF-8")
    try legacy.filterNot(_.split("\t")(2) == "#len")
      .foreach { l => w.write(l); w.write('\n') } finally w.close()
    val counted = spark.read.format("graftlines").load(p)
      .agg(count(lit(1)).as("n"))
    assert(glScan(counted).planInputPartitions().forall(
      !_.isInstanceOf[graft.sources.GlStatsCountPartition]),
      "legacy manifest must not serve the exact-count fast path")
    val (examined, refreshed) =
      graft.sources.GraftLines.refreshStats(p, spark)
    assert(examined == 7 && refreshed == 7, s"($examined, $refreshed)")
    val counted2 = spark.read.format("graftlines").load(p)
      .agg(count(lit(1)).as("n"))
    val parts = glScan(counted2).planInputPartitions()
    assert(parts.length == 1 &&
      parts(0).isInstanceOf[graft.sources.GlStatsCountPartition])
    assert(counted2.head().getLong(0) == 5000L)
    // pruning stats restored too: k <= 0 prunes all seven files
    val pruned = spark.read.format("graftlines").load(p).filter($"k" <= 0L)
    assert(glScan(pruned).planInputPartitions().isEmpty)
    // value-level sanity after refresh: full scan still exact
    assert(spark.read.format("graftlines").load(p)
      .agg(sum($"k")).head().getLong(0) == 5000L * 5001L / 2L)
  }

  test("'#'-prefixed column names are rejected (stats-marker reserve)") {
    val e = intercept[Exception] {
      Seq((1L, "x")).toDF("k", "#len").write.format("graftlines")
        .mode("overwrite").save(s"$dir/hashname")
    }
    assert(e.getMessage.contains("reserved for stats-manifest markers"),
      e.getMessage)
  }

  test("catalog rejects reserved names, LOCATION, and NOT NULL loudly") {
    spark.conf.set("spark.sql.catalog.graft_guard", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_guard.warehouse", s"$dir/guard_wh")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_guard.ns")
    // a table named like a marker file would make its parent namespace
    // LOOK like a table — DROP TABLE on it would then delete every
    // table in the namespace
    val e1 = intercept[Exception](spark.sql(
      "CREATE TABLE graft_guard.ns.`_graft_schema` (k BIGINT) USING graftlines"))
    assert(e1.getMessage.contains("reserved"), e1.getMessage)
    val e2 = intercept[Exception](spark.sql(
      "CREATE NAMESPACE graft_guard.`_graft_x`"))
    assert(e2.getMessage.contains("reserved"), e2.getMessage)
    // LOCATION would silently land data at the warehouse path instead
    val e3 = intercept[Exception](spark.sql(
      s"CREATE TABLE graft_guard.ns.ext (k BIGINT) USING graftlines " +
        s"LOCATION '$dir/elsewhere'"))
    assert(e3.getMessage.contains("LOCATION"), e3.getMessage)
    // NOT NULL cannot round-trip the header — rejected, never dropped
    val e4 = intercept[Exception](spark.sql(
      "CREATE TABLE graft_guard.ns.nn (k BIGINT NOT NULL) USING graftlines"))
    assert(e4.getMessage.contains("NOT NULL"), e4.getMessage)
    // COMMENT is a first-class SQL clause Spark injects as a reserved
    // property — the rejection must NAME the clause and say why it
    // cannot persist, not call it an unknown-TBLPROPERTIES typo
    // (ADVICE r15)
    val ec1 = intercept[Exception](spark.sql(
      "CREATE TABLE graft_guard.ns.cmt (k BIGINT) USING graftlines " +
        "COMMENT 'a note'"))
    assert(ec1.getMessage.contains("COMMENT clause")
        && !ec1.getMessage.contains("unknown"), ec1.getMessage)
    val ec2 = intercept[Exception](spark.sql(
      "CREATE NAMESPACE graft_guard.nscmt COMMENT 'a note'"))
    assert(ec2.getMessage.contains("COMMENT clause"), ec2.getMessage)
    // CTAS from a non-nullable projection is unaffected: Spark hands
    // CTAS schemas over asNullable
    spark.sql("DROP TABLE IF EXISTS graft_guard.ns.ctaslit")
    spark.sql("CREATE TABLE graft_guard.ns.ctaslit USING graftlines " +
      "AS SELECT 1L AS k")
    assert(spark.table("graft_guard.ns.ctaslit").count() == 1L)
    // the reserved-name rule binds where a name is MINTED — a table
    // that slipped in under an older build must stay loadable,
    // renamable (the migration path) and droppable, not stranded
    spark.sql("DROP TABLE IF EXISTS graft_guard.ns.mig")
    spark.sql("CREATE TABLE graft_guard.ns.mig USING graftlines " +
      "AS SELECT 7L AS k")
    val hconf = spark.sparkContext.hadoopConfiguration
    val wh = new org.apache.hadoop.fs.Path(s"$dir/guard_wh/ns")
    val whfs = wh.getFileSystem(hconf)
    assert(whfs.rename(new org.apache.hadoop.fs.Path(wh, "mig"),
      new org.apache.hadoop.fs.Path(wh, "_graft_stranded")))
    assert(spark.table("graft_guard.ns.`_graft_stranded`")
      .head().getLong(0) == 7L, "stranded name must stay loadable")
    val e5 = intercept[Exception](spark.sql(
      "ALTER TABLE graft_guard.ns.`_graft_stranded` RENAME TO " +
        "ns.`_graft_still_bad`"))
    assert(e5.getMessage.contains("reserved"), e5.getMessage)
    spark.sql("ALTER TABLE graft_guard.ns.`_graft_stranded` " +
      "RENAME TO ns.rescued")
    assert(spark.table("graft_guard.ns.rescued").head().getLong(0) == 7L)
    spark.sql("DROP TABLE graft_guard.ns.rescued")
    // RENAME must not mint a namespace no CREATE NAMESPACE declared —
    // a typo'd destination fails instead of silently inventing one
    val e6 = intercept[Exception](spark.sql(
      "ALTER TABLE graft_guard.ns.ctaslit RENAME TO nspace_typo.ctaslit"))
    // Spark surfaces the catalog's NoSuchNamespaceException as
    // SCHEMA_NOT_FOUND naming the missing schema
    assert(e6.getMessage.toLowerCase.contains("nspace_typo")
        && (e6.getMessage.toLowerCase.contains("schema")
          || e6.getMessage.toLowerCase.contains("namespace")),
      e6.getMessage)
    assert(spark.table("graft_guard.ns.ctaslit").count() == 1L,
      "the failed rename must leave the source table untouched")
  }

  test("a file with an out-of-range bucket id degrades the keyed scan") {
    spark.conf.set("spark.sql.catalog.graft_brange", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_brange.warehouse", s"$dir/brange_wh")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_brange.ns")
    spark.sql("DROP TABLE IF EXISTS graft_brange.ns.t")
    spark.sql("CREATE TABLE graft_brange.ns.t (k BIGINT, v BIGINT) " +
      "USING graftlines PARTITIONED BY (bucket(8, k))")
    (0L until 80L).map(i => (i, i * 2)).toDF("k", "v")
      .coalesce(1).writeTo("graft_brange.ns.t").append()
    val tDir = s"$dir/brange_wh/ns/t"
    val hconf = spark.sparkContext.hadoopConfiguration
    val hp = new org.apache.hadoop.fs.Path(tDir)
    val fs = hp.getFileSystem(hconf)
    // GlKeyedPartition is private[sources]; its name is contract enough
    def keyed(): Boolean =
      glScan(spark.table("graft_brange.ns.t")).planInputPartitions()
        .forall(_.getClass.getSimpleName == "GlKeyedPartition")
    assert(keyed(), "sanity: a clean 8-bucket table plans keyed")
    // a stray file copied in from a table bucketed differently: its id
    // (9 >= 8) is a key the registered bucket function can never
    // produce, so the WHOLE scan must degrade to the unkeyed path —
    // like every other unprovable layout — and its rows must be read
    val src = fs.listStatus(hp).map(_.getPath)
      .find(_.getName.endsWith(".gl")).get
    val srcRows = { // data lines of the copied bucket file (minus header)
      val s = scala.io.Source.fromInputStream(fs.open(src), "UTF-8")
      try s.getLines().size - 1 finally s.close()
    }
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
      new org.apache.hadoop.fs.Path(tDir, "foreign-b9.gl"),
      false, hconf)
    assert(!keyed(), "an out-of-range bucket id must degrade the scan")
    assert(spark.table("graft_brange.ns.t").count() == 80L + srcRows)
  }

  test("unsupported aggregates decline and the row scan stays correct") {
    val base = spark.read.format("graftlines").load(s"$dir/li")
    // avg is not translatable for partial pushdown -> whole agg declined
    val avgd = base.groupBy($"l_returnflag").agg(avg($"l_quantity").as("a"))
    assert(glScan(avgd).aggSpec.isEmpty, glScan(avgd).description())
    // min(string) must decline too (UTF-16 vs UTF8 ordering)
    val mins = base.groupBy($"l_quantity").agg(min($"l_returnflag").as("m"))
    assert(glScan(mins).aggSpec.isEmpty, glScan(mins).description())
    val got = avgd.orderBy($"l_returnflag").collect()
      .map(r => (r.getString(0), math.round(r.getDouble(1) * 1000)))
    val expect = Tables.lineitem(spark, TestSpark.sf0001)
      .groupBy($"l_returnflag").agg(avg($"l_quantity").as("a"))
      .orderBy($"l_returnflag").collect()
      .map(r => (r.getString(0), math.round(r.getDouble(1) * 1000)))
    assert(got.toSeq == expect.toSeq)
  }

  test("schema mismatch between query and file fails loudly") {
    val err = intercept[Exception] {
      spark.read.schema(StructType(Seq(StructField("k", StringType),
          StructField("v", StringType))))
        .format("graftlines").load(s"$dir/app").collect()
    }
    assert(err.getMessage != null)
  }

  test("stats manifest prunes provably-non-matching files at plan time") {
    val p = s"$dir/stats"
    // two appends -> two files with disjoint k ranges, stats merged
    // across commits into one manifest
    Seq((0L, "a"), (1L, "b"), (2L, "c")).toDF("k", "s").coalesce(1)
      .write.format("graftlines").mode("overwrite").save(p)
    Seq((10L, "x"), (11L, "y")).toDF("k", "s").coalesce(1)
      .write.format("graftlines").mode("append").save(p)
    val all = spark.read.format("graftlines").load(p)
    assert(glScan(all).planInputPartitions().length == 2)
    val hit = all.filter($"k" >= 10L)
    assert(glScan(hit).planInputPartitions().length == 1,
      "file with k in [0,2] must be skipped for k >= 10")
    assert(hit.collect().map(_.getString(1)).sorted.toSeq == Seq("x", "y"))
    val miss = all.filter($"k" > 100L)
    assert(glScan(miss).planInputPartitions().length == 0,
      "no file can hold k > 100 — zero partitions, zero file opens")
    assert(miss.count() == 0)
    // appends must not lose the first file's stats: a filter matching
    // only the first file skips the second
    val lo = all.filter($"k" <= 1L)
    assert(glScan(lo).planInputPartitions().length == 1)
    assert(lo.collect().map(_.getString(1)).sorted.toSeq == Seq("a", "b"))
  }

  test("compact merges small files, keeps data + stats, preserves history") {
    val p = s"$dir/compact_plain"
    (0L until 40L).map(i => (i, s"v$i")).toDF("k", "s")
      .repartition(8)
      .write.format("graftlines").mode("overwrite").save(p)
    val before = spark.read.format("graftlines").load(p)
      .as[(Long, String)].collect().sorted.toSeq
    val (nb, na) = GraftLines.compact(p, 2, spark)
    assert(nb == 8 && na <= 2, s"$nb -> $na")
    val after = spark.read.format("graftlines").load(p)
      .as[(Long, String)].collect().sorted.toSeq
    assert(after == before, "compaction must not change the data")
    // stats survived the re-key: a selective filter still prunes/answers
    val hit = spark.read.format("graftlines").load(p).filter($"k" === 39L)
    assert(hit.collect().map(_.getString(1)).toSeq == Seq("v39"))
    // no-op when already within budget
    assert(GraftLines.compact(p, 4, spark) == (na, na))

    val pv = s"$dir/compact_versioned"
    val hp = new org.apache.hadoop.fs.Path(pv, GraftLines.VersionMarker)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(pv), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(pv))
    fs.create(hp, true).close()
    (0L until 30L).map(i => (i, s"w$i")).toDF("k", "s")
      .repartition(6)
      .write.format("graftlines").mode("append").save(pv)
    val (vb, va) = GraftLines.compact(pv, 2, spark)
    assert(vb == 6 && va <= 2)
    // generation 1 (fragmented) stays byte-for-byte readable
    val v1 = spark.read.format("graftlines").option("versionAsOf", 1)
      .load(pv).as[(Long, String)].collect().sorted.toSeq
    val v2 = spark.read.format("graftlines").load(pv)
      .as[(Long, String)].collect().sorted.toSeq
    assert(v1 == v2 && v1.size == 30)
    // expire reclaims exactly the fragmented generation's files
    val (expired, deleted) = GraftLines.expireVersions(pv, 1,
      spark.sparkContext.hadoopConfiguration)
    assert(expired == Seq(1) && deleted.size == 6)
    assert(spark.read.format("graftlines").load(pv).count() == 30)
  }

  test("compact preserves evolved columns on schema-evolved tables") {
    // files with two different headers coexist after ALTER ADD; the
    // rewrite must read the UNION of the live headers (null-filled),
    // not whichever file lists first — a narrow-first inference would
    // silently drop the evolved column from the compacted files and a
    // later expire would destroy the only copies
    spark.conf.set("spark.sql.catalog.graft_cevo",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_cevo.warehouse",
      s"$dir/cevo_wh")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cevo.ns")
    spark.sql("DROP TABLE IF EXISTS graft_cevo.ns.evo")
    spark.sql(
      "CREATE TABLE graft_cevo.ns.evo (k BIGINT, s STRING) USING graftlines")
    Seq((1L, "a"), (2L, "b")).toDF("k", "s").repartition(2)
      .writeTo("graft_cevo.ns.evo").append()
    spark.sql("ALTER TABLE graft_cevo.ns.evo ADD COLUMNS (c BIGINT)")
    Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("k", "s", "c").repartition(2)
      .writeTo("graft_cevo.ns.evo").append()
    val before = spark.table("graft_cevo.ns.evo")
      .collect().map(_.toString).sorted.toSeq
    assert(before.size == 4 && before.exists(_.contains("40")),
      s"fixture must carry the evolved column: $before")
    val tblDir = s"$dir/cevo_wh/ns/evo"
    val (nb, na) = GraftLines.compact(tblDir, 1, spark)
    // at least one narrow-header and one wide-header file went in
    assert(nb >= 2 && na == 1, s"$nb -> $na")
    val after = spark.table("graft_cevo.ns.evo")
      .collect().map(_.toString).sorted.toSeq
    assert(after == before,
      "compaction must not change data OR drop evolved columns")
  }

  test("catalog DDL guards: phantom namespaces, table-as-namespace, stale markers") {
    spark.conf.set("spark.sql.catalog.graft_ddl",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_ddl.warehouse",
      s"$dir/ddl_wh")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_ddl.ns")
    // (a) CREATE TABLE must not mint a namespace no CREATE NAMESPACE
    // declared (same rule renameTable already enforced)
    val e1 = intercept[Exception] {
      spark.sql("CREATE TABLE graft_ddl.ns_typo.t (k BIGINT) USING graftlines")
    }
    assert(e1.toString.toLowerCase.contains("namespace"), s"got $e1")
    val fs = new org.apache.hadoop.fs.Path(s"$dir/ddl_wh")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/ddl_wh/ns_typo")),
      "the typo'd namespace must not be created as a side effect")
    // (b) a TABLE directory is not a namespace: DROP NAMESPACE aimed at
    // a table must not cascade-delete it, and SHOW NAMESPACES must not
    // offer tables
    spark.sql("DROP TABLE IF EXISTS graft_ddl.ns.t1")
    spark.sql("CREATE TABLE graft_ddl.ns.t1 (k BIGINT) USING graftlines")
    spark.sql("INSERT INTO graft_ddl.ns.t1 VALUES (7)")
    val e2 = intercept[Exception] {
      spark.sql("DROP NAMESPACE graft_ddl.ns.t1 CASCADE")
    }
    assert(e2.toString.toLowerCase.contains("namespace"), s"got $e2")
    assert(spark.table("graft_ddl.ns.t1").count() == 1,
      "DROP NAMESPACE aimed at a table must not delete the table")
    val nss = spark.sql("SHOW NAMESPACES IN graft_ddl.ns")
      .collect().map(_.getString(0))
    assert(!nss.exists(_.endsWith("t1")),
      s"tables must not list as namespaces: ${nss.toSeq}")
    // (c) stale marker files block CREATE before the schema commits: a
    // leftover _graft_partcol would otherwise silently configure (or
    // half-create) the new table
    val stale = new org.apache.hadoop.fs.Path(s"$dir/ddl_wh/ns/t2")
    fs.mkdirs(stale)
    fs.create(new org.apache.hadoop.fs.Path(stale, "_graft_partcol"),
      true).close()
    val e3 = intercept[Exception] {
      spark.sql("CREATE TABLE graft_ddl.ns.t2 (k BIGINT) USING graftlines")
    }
    assert(e3.getMessage.contains("refusing to adopt"), s"got $e3")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(stale, "_graft_schema")),
      "the schema must not have committed for the rejected create")
    // (d) ALTER leaves no tmp debris and the evolved schema is live
    spark.sql("ALTER TABLE graft_ddl.ns.t1 ADD COLUMNS (c BIGINT)")
    assert(spark.table("graft_ddl.ns.t1").schema.fieldNames.toSeq ==
      Seq("k", "c"))
    val t1names = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$dir/ddl_wh/ns/t1"))
      .map(_.getPath.getName)
    assert(!t1names.exists(_.endsWith(".tmp")),
      s"schema replace must not leak tmps: ${t1names.toSeq}")
  }

  test("reported statistics shrink with pruning: bytes and exact rows") {
    val p = s"$dir/repstats"
    Seq((0L, "a"), (1L, "b"), (2L, "c")).toDF("k", "s").coalesce(1)
      .write.format("graftlines").mode("overwrite").save(p)
    Seq((10L, "x"), (11L, "y")).toDF("k", "s").coalesce(1)
      .write.format("graftlines").mode("append").save(p)
    val all = spark.read.format("graftlines").load(p)
    val sAll = glScan(all).estimateStatistics()
    assert(sAll.numRows().getAsLong == 5, "manifest rows are exact")
    val totalBytes = sAll.sizeInBytes().getAsLong
    assert(totalBytes > 0)
    // a pushed filter that prunes one file must shrink BOTH estimates —
    // this is what lets the planner treat a filtered scan as small
    val hit = glScan(all.filter($"k" >= 10L)).estimateStatistics()
    assert(hit.numRows().getAsLong == 2)
    assert(hit.sizeInBytes().getAsLong < totalBytes)
    val miss = glScan(all.filter($"k" > 100L)).estimateStatistics()
    assert(miss.numRows().getAsLong == 0)
    assert(miss.sizeInBytes().getAsLong == 0)
  }

  test("reported statistics let the planner auto-broadcast a filtered scan") {
    val p = s"$dir/autobcast"
    (0L until 500L).map(i => (i, s"d$i")).toDF("k", "s").coalesce(1)
      .write.format("graftlines").mode("overwrite").save(p)
    val dim = spark.read.format("graftlines").load(p).filter($"k" < 50L)
    val fact = spark.range(100000L).toDF("k")
    // NO broadcast() hint: the decision must come from the scan's own
    // size estimate (a V2 scan without SupportsReportStatistics
    // defaults to spark.sql.defaultSizeInBytes = huge, never broadcast)
    val joined = fact.join(dim, "k")
    val plan = joined.queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("clusterBy write range-partitions files so point filters prune to one") {
    val p = s"$dir/clustered"
    // scrambled insert order: the ENGINE must plan the range exchange
    val df = (0L until 1000L).map(i => ((i * 367) % 1000, i)).toDF("k", "v")
    df.repartition(5).write.format("graftlines")
      .option("clusterBy", "k").option("clusterPartitions", "4")
      .mode("overwrite").save(p)
    val base = spark.read.format("graftlines").load(p)
    val nFiles = glScan(base).planInputPartitions().length
    assert(nFiles == 4, s"clusterPartitions=4 must pin 4 files: $nFiles")
    assert(base.count() == 1000)
    // disjoint per-file ranges: every point probe plans exactly ONE file
    for (probe <- Seq(3L, 500L, 997L)) {
      val f = base.filter($"k" === probe)
      assert(glScan(f).planInputPartitions().length == 1,
        s"probe $probe should prune to one file out of $nFiles")
      assert(f.count() == 1)
    }
  }

  test("storage-partitioned join: co-partitioned tables join exchange-free") {
    val pa = s"$dir/spj_a"
    val pb = s"$dir/spj_b"
    val a = (0L until 400L).map(i => (i % 8, i)).toDF("nk", "a_id")
    val b = (0L until 200L).map(i => (i % 8, i * 10)).toDF("nk", "b_id")
    a.repartition(5).write.format("graftlines")
      .option("partitionColumn", "nk").mode("overwrite").save(pa)
    b.repartition(3).write.format("graftlines")
      .option("partitionColumn", "nk").mode("overwrite").save(pb)
    // every landed file holds exactly one nk (stats prove it) and the
    // scan keys its splits accordingly
    val baseA = spark.read.format("graftlines").load(pa)
    val keyed = glScan(baseA).planInputPartitions()
    assert(keyed.nonEmpty && keyed.forall(
      _.isInstanceOf[org.apache.spark.sql.connector.read.HasPartitionKey]))
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.read.format("graftlines").load(pa)
        .join(spark.read.format("graftlines").load(pb), "nk")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"storage-partitioned join must not shuffle either side:\n$plan")
      assert(j.count() == 8L * 50L * 25L)
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("bucketed tables join storage-partitioned through the catalog") {
    spark.conf.set("spark.sql.catalog.graft_spjb", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_spjb.warehouse", s"$dir/spjb_wh")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_spjb.ns")
    spark.sql("DROP TABLE IF EXISTS graft_spjb.ns.a")
    spark.sql("DROP TABLE IF EXISTS graft_spjb.ns.b")
    spark.sql("CREATE TABLE graft_spjb.ns.a (k BIGINT, av BIGINT) " +
      "USING graftlines PARTITIONED BY (bucket(8, k))")
    spark.sql("CREATE TABLE graft_spjb.ns.b (k BIGINT, bv BIGINT) " +
      "USING graftlines PARTITIONED BY (bucket(8, k))")
    (0L until 400L).map(i => (i, i * 2)).toDF("k", "av")
      .repartition(5).writeTo("graft_spjb.ns.a").append()
    (0L until 300L).map(i => (i, i * 3)).toDF("k", "bv")
      .repartition(3).writeTo("graft_spjb.ns.b").append()
    // every landed file carries its bucket id in the name
    val aDir = s"$dir/spjb_wh/ns/a"
    val fs = new org.apache.hadoop.fs.Path(aDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(aDir))
      .map(_.getPath.getName).filter(_.endsWith(".gl"))
    assert(files.nonEmpty && files.forall(_.matches(".*-b\\d+\\.gl$")),
      files.mkString(","))
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("graft_spjb.ns.a")
        .join(spark.table("graft_spjb.ns.b"), "k")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed storage-partitioned join must not shuffle:\n$plan")
      assert(j.count() == 300)
      // values survive the bucketed routing exactly
      assert(j.filter($"k" === 123L).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        == Seq((123L, 246L, 369L)))
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("SPJ stays correct when the two sides' partition sets differ") {
    val pa = s"$dir/spj_miss_a"
    val pb = s"$dir/spj_miss_b"
    // side A holds values 0..7, side B only 0..3 — the join must not
    // lose or invent rows whichever way the engine aligns partitions
    (0L until 160L).map(i => (i % 8, i)).toDF("nk", "a_id")
      .repartition(3).write.format("graftlines")
      .option("partitionColumn", "nk").mode("overwrite").save(pa)
    (0L until 80L).map(i => (i % 4, i)).toDF("nk", "b_id")
      .repartition(2).write.format("graftlines")
      .option("partitionColumn", "nk").mode("overwrite").save(pb)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.read.format("graftlines").load(pa)
        .join(spark.read.format("graftlines").load(pb), "nk")
      // values 0..3 match: 20 a-rows x 20 b-rows per value
      assert(j.count() == 4L * 20L * 20L)
      val outer = spark.read.format("graftlines").load(pa)
        .join(spark.read.format("graftlines").load(pb), Seq("nk"),
          "left_outer")
      assert(outer.count() == 4L * 20L * 20L + 4L * 20L)
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("streaming writes land in catalog tables via toTable") {
    spark.conf.set("spark.sql.catalog.graft_stc", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_stc.warehouse", s"$dir/stc_wh")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_stc.ns")
    spark.sql("DROP TABLE IF EXISTS graft_stc.ns.sunk")
    spark.sql("CREATE TABLE graft_stc.ns.sunk (k BIGINT, s STRING) " +
      "USING graftlines TBLPROPERTIES ('versioned'='true')")
    val cp = s"$dir/stc_cp"
    new org.apache.hadoop.fs.Path(cp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(cp), true)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    val q = mem.toDF().toDF("k", "s")
      .writeStream.option("checkpointLocation", cp)
      .outputMode("append").toTable("graft_stc.ns.sunk")
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      mem.addData((3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("graft_stc.ns.sunk").as[(Long, String)]
      .collect().sorted.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // each epoch is a time-travelable generation through the catalog
    assert(spark.sql(
      "SELECT count(*) FROM graft_stc.ns.sunk VERSION AS OF 1")
      .collect()(0).getLong(0) == 2)
  }

  test("partitioned tables degrade safely when single-value proof breaks") {
    val p = s"$dir/spj_degrade"
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    val rows = (0L until 100L).map(i => (i % 4, i)).toDF("nk", "v")
    // data appended before the table was partitioned holds mixed values
    // in one file: the partitioning report must drop, the data must not
    // change
    rows.filter($"v" < 50L).coalesce(1).write.format("graftlines")
      .mode("overwrite").save(p)
    rows.filter($"v" >= 50L).repartition(3).write.format("graftlines")
      .option("partitionColumn", "nk").mode("append").save(p)
    val base = spark.read.format("graftlines").load(p)
    assert(glScan(base).planInputPartitions().forall(p =>
      !p.isInstanceOf[org.apache.spark.sql.connector.read.HasPartitionKey]))
    assert(base.count() == 100)
    // NULL partition values are rejected loudly at write
    val withNull = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(null, 1L)), 1),
      StructType(Seq(StructField("nk", LongType), StructField("v", LongType))))
    val e = intercept[Exception] {
      withNull.write.format("graftlines")
        .option("partitionColumn", "nk").mode("overwrite")
        .save(s"$dir/spj_null")
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: chain(t.getCause)
    assert(chain(e).exists(_.contains("NULL partition value")))
  }

  test("null-count and all-NULL stats prune exactly, conservatively") {
    val p = s"$dir/statsnull"
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("v", LongType), StructField("w", LongType)))
    // file A: v never null, w ALL null; file B: v has a null, w populated
    val a = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(1L, 100L, null), Row(2L, 200L, null)), 1), sch)
    val b = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(3L, null, 7L), Row(4L, 400L, 8L)), 1), sch)
    a.write.format("graftlines").mode("overwrite").save(p)
    b.write.format("graftlines").mode("append").save(p)
    val all = spark.read.format("graftlines").load(p)
    // IsNull: A records nulls=0 for v -> skipped; B kept
    val vn = all.filter($"v".isNull)
    assert(glScan(vn).planInputPartitions().length == 1)
    assert(vn.collect().map(_.getLong(0)).toSeq == Seq(3L))
    // comparison against an all-NULL column can never match -> A skipped
    val weq = all.filter($"w" === 7L)
    assert(glScan(weq).planInputPartitions().length == 1)
    assert(weq.collect().map(_.getLong(0)).toSeq == Seq(3L))
    // IsNotNull on all-NULL column: rows == nulls -> A skipped
    val wnn = all.filter($"w".isNotNull)
    assert(glScan(wnn).planInputPartitions().length == 1)
    assert(wnn.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))
    // conservative keep: IsNull on w keeps A (nulls > 0) AND B is kept
    // too only if its stats allow — B has zero w-nulls, so exactly A
    val wn = all.filter($"w".isNull)
    assert(glScan(wn).planInputPartitions().length == 1)
    assert(wn.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("bloom lines skip files for string equality, conservatively") {
    val p = s"$dir/statsbloom"
    // two files with disjoint string value sets
    Seq((1L, "alpha"), (2L, "beta")).toDF("k", "s").coalesce(1)
      .write.format("graftlines").mode("overwrite").save(p)
    Seq((3L, "gamma"), (4L, "delta")).toDF("k", "s").coalesce(1)
      .write.format("graftlines").mode("append").save(p)
    val all = spark.read.format("graftlines").load(p)
    // equality on a value held by exactly one file scans exactly it
    val hit = all.filter($"s" === "gamma")
    assert(glScan(hit).planInputPartitions().length == 1,
      "bloom must skip the file that cannot hold 'gamma'")
    assert(hit.collect().map(_.getLong(0)).toSeq == Seq(3L))
    // a value in no file: zero partitions, zero file opens
    val miss = all.filter($"s" === "omega")
    assert(glScan(miss).planInputPartitions().length == 0)
    assert(miss.count() == 0)
    // IN prunes to the union of maybe-holding files
    val in = all.filter($"s".isin("alpha", "omega"))
    assert(glScan(in).planInputPartitions().length == 1)
    assert(in.collect().map(_.getLong(0)).toSeq == Seq(1L))
    // range predicates on strings must NOT consult blooms (membership
    // says nothing about order): both files scan
    val rangeQ = all.filter($"s" > "a")
    assert(glScan(rangeQ).planInputPartitions().length == 2)
    assert(rangeQ.count() == 4)
  }

  test("bloom-line null counts prune Is[Not]Null on strings") {
    val p = s"$dir/statsbloomnull"
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("s", StringType)))
    // file A: s never null; file B: s has a null
    val a = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(1L, "x"), Row(2L, "y")), 1), sch)
    val b = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(3L, null), Row(4L, "z")), 1), sch)
    a.write.format("graftlines").mode("overwrite").save(p)
    b.write.format("graftlines").mode("append").save(p)
    val all = spark.read.format("graftlines").load(p)
    val sn = all.filter($"s".isNull)
    assert(glScan(sn).planInputPartitions().length == 1,
      "file A records zero string nulls and must be skipped")
    assert(sn.collect().map(_.getLong(0)).toSeq == Seq(3L))
    assert(all.filter($"s".isNotNull).count() == 3)
  }

  test("damaged bloom hex degrades to scanning, never to a wrong skip") {
    val p = s"$dir/statsbloomdmg"
    Seq((5L, "solo")).toDF("k", "s").coalesce(1)
      .write.format("graftlines").mode("overwrite").save(p)
    val sp = new org.apache.hadoop.fs.Path(p, graft.sources.GraftLines.StatsName)
    val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val src = scala.io.Source.fromInputStream(fs.open(sp), "UTF-8")
    val lines = try src.getLines().toList finally src.close()
    val bLine = lines.find(_.contains("\tbloomv1\t"))
      .getOrElse(fail("no bloom line in manifest"))
    // truncate the hex payload mid-cell (sentinel survives via re-append
    // so ONLY the length gate is exercised)
    val cells = bLine.split("\t", -1)
    cells(5) = cells(5).take(100)
    val out = fs.create(sp, true)
    try out.write((lines.map(l => if (l == bLine) cells.mkString("\t") else l)
      .mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    // the damaged bloom is ignored -> file scans even for a miss value
    val q = spark.read.format("graftlines").load(p).filter($"s" === "nope")
    assert(glScan(q).planInputPartitions().length == 1,
      "a file with a damaged bloom must be scanned, not skipped")
    assert(q.count() == 0)
    // and a hit value still reads its row
    assert(spark.read.format("graftlines").load(p)
      .filter($"s" === "solo").collect().map(_.getLong(0)).toSeq == Seq(5L))
  }

  test("catalog round trip: create, insert, read, rename, drop") {
    spark.conf.set("spark.sql.catalog.gl_test", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gl_test.warehouse", s"$dir/warehouse")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gl_test.db1")
    spark.sql("DROP TABLE IF EXISTS gl_test.db1.t1")
    spark.sql("DROP TABLE IF EXISTS gl_test.db1.t1_renamed")
    // CREATE: empty table is readable (schema from the catalog, not
    // from a data file that does not exist yet)
    spark.sql("CREATE TABLE gl_test.db1.t1 (k BIGINT, s STRING) USING graftlines")
    assert(spark.table("gl_test.db1.t1").collect().isEmpty)
    assert(spark.table("gl_test.db1.t1").schema.fieldNames.toSeq
      == Seq("k", "s"))
    // INSERT INTO appends; INSERT OVERWRITE truncates
    spark.sql("INSERT INTO gl_test.db1.t1 VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO gl_test.db1.t1 VALUES (3, 'c')")
    assert(spark.table("gl_test.db1.t1").count() == 3)
    spark.sql("INSERT OVERWRITE gl_test.db1.t1 VALUES (9, 'z')")
    assert(spark.table("gl_test.db1.t1").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((9L, "z")))
    // catalog-managed reads still push filters into the connector
    val filtered = spark.table("gl_test.db1.t1").filter($"k" === 9L)
    assert(glScan(filtered).pushed.nonEmpty)
    // duplicate CREATE fails loudly; IF NOT EXISTS does not
    intercept[Exception] {
      spark.sql("CREATE TABLE gl_test.db1.t1 (x INT) USING graftlines")
    }
    spark.sql(
      "CREATE TABLE IF NOT EXISTS gl_test.db1.t1 (x INT) USING graftlines")
    // SHOW TABLES sees it; RENAME moves it; DROP removes it
    assert(spark.sql("SHOW TABLES IN gl_test.db1").collect()
      .map(_.getString(1)).contains("t1"))
    spark.sql("ALTER TABLE gl_test.db1.t1 RENAME TO db1.t1_renamed")
    assert(spark.table("gl_test.db1.t1_renamed").count() == 1)
    spark.sql("DROP TABLE gl_test.db1.t1_renamed")
    intercept[Exception](spark.table("gl_test.db1.t1_renamed").collect())
  }

  test("catalog CTAS and saveAsTable land data atomically readable") {
    spark.conf.set("spark.sql.catalog.gl_test", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gl_test.warehouse", s"$dir/warehouse")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gl_test.db2")
    spark.sql("DROP TABLE IF EXISTS gl_test.db2.ctas")
    spark.sql("DROP TABLE IF EXISTS gl_test.db2.sat")
    Seq((1L, 2.5), (2L, -1.0)).toDF("k", "v")
      .createOrReplaceTempView("ctas_src")
    spark.sql("""CREATE TABLE gl_test.db2.ctas USING graftlines
      AS SELECT * FROM ctas_src""")
    assert(spark.table("gl_test.db2.ctas").orderBy($"k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      == Seq((1L, 2.5), (2L, -1.0)))
    // DataFrameWriterV2 route
    Seq((7L, "w")).toDF("k", "s").writeTo("gl_test.db2.sat").create()
    assert(spark.table("gl_test.db2.sat").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((7L, "w")))
    // unstorable type is rejected at CREATE time, before any write
    intercept[Exception] {
      spark.sql(
        "CREATE TABLE gl_test.db2.bad (d DECIMAL(10,2)) USING graftlines")
    }
    spark.sql("DROP TABLE gl_test.db2.ctas")
    spark.sql("DROP TABLE gl_test.db2.sat")
  }

  test("catalog ALTER TABLE ADD COLUMN: old files read NULL, new carry it") {
    spark.conf.set("spark.sql.catalog.gl_test", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gl_test.warehouse", s"$dir/warehouse")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gl_test.db3")
    spark.sql("DROP TABLE IF EXISTS gl_test.db3.ev")
    spark.sql("CREATE TABLE gl_test.db3.ev (k BIGINT, s STRING) USING graftlines")
    spark.sql("INSERT INTO gl_test.db3.ev VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE gl_test.db3.ev ADD COLUMN note STRING")
    // catalog schema is the authority: pre-evolution files read NULL
    assert(spark.table("gl_test.db3.ev").schema.fieldNames.toSeq
      == Seq("k", "s", "note"))
    assert(spark.table("gl_test.db3.ev").filter($"note".isNull).count() == 2)
    // new inserts write the evolved header; mixed-vintage reads agree
    spark.sql("INSERT INTO gl_test.db3.ev VALUES (3, 'c', 'fresh')")
    val rows = spark.table("gl_test.db3.ev").orderBy($"k").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) null else r.getString(2)))
      .toSeq
    assert(rows == Seq((1L, null), (2L, null), (3L, "fresh")))
    // a pushed filter on the evolved column evaluates NULL -> dropped
    // for old files, matches in new ones
    assert(spark.table("gl_test.db3.ev")
      .filter($"note" === "fresh").count() == 1)
    // a path-based read of the same directory finds `_graft_schema`
    // and honors it: authoritative (evolved) schema, old files
    // null-filled — identical answers through both access paths
    // (raw directories without the schema file keep the loud
    // missing-column error; GlEvolutionInteropSpec covers the rest)
    val byPath = spark.read.format("graftlines")
      .load(s"$dir/warehouse/db3/ev")
    assert(byPath.schema.fieldNames.toSeq == Seq("k", "s", "note"))
    assert(byPath.filter($"note".isNull).count() == 2)
    // only append-nullable survives: everything else is rejected loudly
    intercept[Exception](
      spark.sql("ALTER TABLE gl_test.db3.ev DROP COLUMN s"))
    intercept[Exception](
      spark.sql("ALTER TABLE gl_test.db3.ev RENAME COLUMN s TO s2"))
    intercept[Exception](
      spark.sql("ALTER TABLE gl_test.db3.ev ADD COLUMN f2 INT FIRST"))
    intercept[Exception](
      spark.sql("ALTER TABLE gl_test.db3.ev ADD COLUMN k INT"))
    spark.sql("DROP TABLE gl_test.db3.ev")
  }

  test("refreshStats recounts each file against its OWN header schema") {
    // Mixed-vintage table: file A written before ADD COLUMN (header
    // k,s), file B after (header k,s,n2). refreshStats must NOT pick
    // one table-level schema (whichever file sorts first would
    // dictate the column set, and n2's recorded stats would vanish
    // from file B's refreshed lines whenever A sorts first — a
    // file-order-dependent pruning regression); each file's own
    // header is the writer-parity authority.
    spark.conf.set("spark.sql.catalog.gl_test", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gl_test.warehouse", s"$dir/warehouse")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gl_test.db3")
    spark.sql("DROP TABLE IF EXISTS gl_test.db3.ev2")
    spark.sql("CREATE TABLE gl_test.db3.ev2 (k BIGINT, s STRING) " +
      "USING graftlines")
    spark.sql("INSERT INTO gl_test.db3.ev2 VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE gl_test.db3.ev2 ADD COLUMN n2 BIGINT")
    spark.sql("INSERT INTO gl_test.db3.ev2 VALUES (3, 'c', 30), (4, 'd', 40)")
    val p = s"$dir/warehouse/db3/ev2"
    val hconf = spark.sparkContext.hadoopConfiguration
    val mp = new org.apache.hadoop.fs.Path(p, "_graft_stats")
    val fs = mp.getFileSystem(hconf)
    def manifest(): List[String] = {
      val src = scala.io.Source.fromInputStream(fs.open(mp), "UTF-8")
      try src.getLines().toList finally src.close()
    }
    // legacy simulation: strip every #len line so both files are stale
    val legacy = manifest().filterNot(_.split("\t")(2) == "#len")
    val w = new java.io.OutputStreamWriter(fs.create(mp, true), "UTF-8")
    try legacy.foreach { l => w.write(l); w.write('\n') } finally w.close()
    val (examined, refreshed) =
      graft.sources.GraftLines.refreshStats(p, spark)
    assert(examined == refreshed && examined >= 2,
      s"($examined, $refreshed)")
    // post-evolution files' n2 min/max stats SURVIVE the refresh, and
    // pre-evolution files (which lack n2 in their headers) contribute
    // none — per-file schemas, not first-file-wins
    val after = manifest().map(_.split("\t", -1))
    val n2Lines = after.filter(f => f(2) == "n2")
    val kLines = after.filter(f => f(2) == "k")
    assert(n2Lines.nonEmpty && n2Lines.length < kLines.length,
      s"expected n2 lines for the evolved files only, got:\n" +
        after.map(_.mkString("\t")).mkString("\n"))
    assert(n2Lines.map(_(4).toLong).min == 30L
        && n2Lines.map(_(5).toLong).max == 40L,
      s"n2 min/max must cover (30, 40): ${n2Lines.map(_.mkString("\t"))}")
    // the refresh restored writer-parity lines: evolved reads and the
    // exact-count fast path both still correct
    assert(spark.table("gl_test.db3.ev2").count() == 4L)
    assert(spark.table("gl_test.db3.ev2")
      .filter($"n2" === 30L).count() == 1L)
    assert(graft.sources.GraftLines.refreshStats(p, spark)
        == ((examined, 0)),
      "everything verifiably fresh after the back-fill")
    spark.sql("DROP TABLE gl_test.db3.ev2")
  }

  test("catalog CREATE refuses a directory holding leftover .gl files") {
    spark.conf.set("spark.sql.catalog.gl_test", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gl_test.warehouse", s"$dir/warehouse")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gl_test.db4")
    // a path-based write leaves .gl files but no _graft_schema — the
    // catalog must not silently adopt them as table data
    Seq((1L, "ghost")).toDF("k", "s").coalesce(1)
      .write.format("graftlines").mode("overwrite")
      .save(s"$dir/warehouse/db4/ghost")
    val ex = intercept[Exception] {
      spark.sql(
        "CREATE TABLE gl_test.db4.ghost (k BIGINT, s STRING) USING graftlines")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("refusing to adopt")), msgs(ex))
  }

  test("damaged manifest lines degrade to scanning, never to a wrong skip") {
    val p = s"$dir/statsdmg"
    Seq((5L, "keepme")).toDF("k", "s").coalesce(1)
      .write.format("graftlines").mode("overwrite").save(p)
    val sp = new org.apache.hadoop.fs.Path(p, graft.sources.GraftLines.StatsName)
    val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val src = scala.io.Source.fromInputStream(fs.open(sp), "UTF-8")
    val lines = try src.getLines().toList finally src.close()
    val kLine = lines.find(_.contains("\tk\t")).getOrElse(fail("no k stats"))
    // simulate a mid-write truncation: sentinel gone AND the max cell
    // cut to a shorter-but-still-parseable number ("5" stays "5" here,
    // so chop from the sentinel side: drop last 4 chars = "\tok" + 1)
    val damaged = kLine.dropRight(4)
    val out = fs.create(sp, true)
    try out.write((lines.map(l => if (l == kLine) damaged else l)
      .mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    // the damaged line is ignored -> file scans (kept), row survives
    val q = spark.read.format("graftlines").load(p).filter($"k" === 5L)
    assert(glScan(q).planInputPartitions().length == 1,
      "a file with damaged stats must be scanned, not skipped")
    assert(q.collect().map(_.getString(1)).toSeq == Seq("keepme"))
  }

  private def withMaxPartitionBytes[T](bytes: Long)(body: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    spark.conf.set(key, bytes.toString)
    try body finally spark.conf.set(key, prev)
  }

  test("block-split ranges own every line exactly once at any split size") {
    val p = s"$dir/split"
    // one file; hostile strings (escapes + multi-byte UTF-8 so the
    // byte-offset walk must count bytes, not chars) and NULLs
    val rows = (0L until 60L).map { i =>
      Row(i,
        if (i % 7 == 0) null
        else s"v$i é λ 😀 tab\there\nnl\\end",
        if (i % 11 == 0) null else i * 1.5)
    }
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("s", StringType), StructField("d", DoubleType)))
    val src = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      schema)
    src.write.format("graftlines").mode("overwrite").save(p)
    val expected = spark.read.format("graftlines").load(p)
      .collect().map(_.toString).sorted.toSeq
    assert(expected.size == 60)
    // the same rows behind the two other readers that plan byte ranges:
    // an identity-keyed table (one file per g) and a streaming source
    val pk = s"$dir/split_keyed"
    src.withColumn("g", $"k" % 2).write.format("graftlines")
      .option("partitionColumn", "g").mode("overwrite").save(pk)
    val ps = s"$dir/split_stream"
    val hps = new org.apache.hadoop.fs.Path(ps)
    val hfs = hps.getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.delete(hps, true)
    hfs.mkdirs(hps)
    hfs.create(new org.apache.hadoop.fs.Path(ps, GraftLines.VersionMarker),
      true).close()
    src.write.format("graftlines").mode("append").save(ps)
    def fileLens(d: String): Seq[Long] =
      hfs.listStatus(new org.apache.hadoop.fs.Path(d)).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".gl"))
        .map(_.getLen)
    def wantParts(d: String, sz: Long): Int = fileLens(d)
      .map(len => if (len <= sz) 1 else ((len + sz - 1) / sz).toInt).sum
    assert(fileLens(pk).size == 2)
    // 8 forces boundaries INSIDE the header line; 37/256 land mid-line
    // and mid-multibyte-char; 1 << 20 disables splitting entirely
    for (sz <- Seq(8L, 37L, 256L, 1L << 20)) withMaxPartitionBytes(sz) {
      val df = spark.read.format("graftlines").load(p)
      val parts = glScan(df).planInputPartitions().length
      assert(parts == wantParts(p, sz),
        s"split size $sz: $parts partitions, expected ${wantParts(p, sz)}")
      assert(df.collect().map(_.toString).sorted.toSeq == expected,
        s"split size $sz changed the row set")
      // pushed filters + per-partition limit still hold across ranges
      val f = df.filter($"k" >= 10L && $"k" < 50L)
      assert(f.count() == 40, s"split size $sz broke pushed filters")
      assert(df.limit(17).count() == 17, s"split size $sz broke limit")

      val kdf = spark.read.format("graftlines").load(pk)
      val kparts = glScan(kdf).planInputPartitions()
      // GlKeyedPartition is private[sources]; its name is contract enough
      assert(kparts.forall(_.getClass.getSimpleName == "GlKeyedPartition"),
        s"split size $sz: the identity-partitioned scan is not keyed")
      assert(kparts.length == wantParts(pk, sz),
        s"split size $sz: ${kparts.length} keyed partitions, " +
          s"expected ${wantParts(pk, sz)}")
      assert(kdf.drop("g").collect().map(_.toString).sorted.toSeq == expected,
        s"split size $sz changed the keyed row set")

      val got = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val streamParts = new java.util.concurrent.atomic.AtomicInteger
      val q = spark.readStream.format("graftlines").load(ps)
        .writeStream.foreachBatch {
          (b: org.apache.spark.sql.DataFrame, _: Long) =>
            streamParts.addAndGet(b.rdd.getNumPartitions)
            b.collect().foreach(r => got.add(r.toString))
        }.start()
      try q.processAllAvailable() finally q.stop()
      assert(streamParts.get == wantParts(ps, sz),
        s"split size $sz: ${streamParts.get} streamed partitions, " +
          s"expected ${wantParts(ps, sz)}")
      assert(got.toArray.map(_.toString).sorted.toSeq == expected,
        s"split size $sz changed the streamed row set")
    }
  }

  test("staged commit: no staging debris after success; failed " +
      "overwrite leaves the old generation intact") {
    val p = s"$dir/staged"
    Seq((1L, "v1a"), (2L, "v1b")).toDF("k", "s").repartition(2)
      .write.format("graftlines").mode("overwrite").save(p)
    val hp = new org.apache.hadoop.fs.Path(p)
    val hfs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def names() = hfs.listStatus(hp).map(_.getPath.getName).toSeq.sorted
    assert(!names().exists(_.contains(".staging")),
      s"staging debris after committed write: ${names()}")
    assert(names().count(_.endsWith(".gl")) >= 1)
    val v1 = spark.read.format("graftlines").load(p)
      .collect().map(_.toString).sorted.toSeq
    // an overwrite whose task fails must not touch the old generation:
    // truncation + publication both happen at job commit, which never runs
    val boom = udf((k: Long) =>
      if (k == 99L) throw new RuntimeException("boom") else k)
    intercept[Exception] {
      spark.range(100).select(boom($"id").as("k"), lit("v2").as("s"))
        .repartition(2)
        .write.format("graftlines").mode("overwrite").save(p)
    }
    assert(spark.read.format("graftlines").load(p)
      .collect().map(_.toString).sorted.toSeq == v1,
      "failed overwrite corrupted the previous generation")
    // and a later clean overwrite replaces data AND clears any debris
    Seq((3L, "v3")).toDF("k", "s").coalesce(1)
      .write.format("graftlines").mode("overwrite").save(p)
    assert(spark.read.format("graftlines").load(p)
      .collect().map(_.toString).toSeq == Seq(Row(3L, "v3").toString))
    assert(names().count(_.endsWith(".gl")) == 1)
  }

  test("SQL DELETE FROM: copy-on-write, stats-pruned, exact") {
    spark.conf.set("spark.sql.catalog.graft_del", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_del.warehouse",
      s"$dir/del_warehouse")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_del.ns")
    spark.sql("DROP TABLE IF EXISTS graft_del.ns.t")
    spark.sql("CREATE TABLE graft_del.ns.t (k BIGINT, s STRING) " +
      "USING graftlines")
    val tdir = new org.apache.hadoop.fs.Path(s"$dir/del_warehouse/ns/t")
    val hfs = tdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def glFiles() = hfs.listStatus(tdir).map(_.getPath)
      .filter(_.getName.endsWith(".gl")).toSeq.sortBy(_.getName)
    def bytes(p: org.apache.hadoop.fs.Path): Seq[Byte] = {
      val in = hfs.open(p)
      try Iterator.continually(in.read()).takeWhile(_ >= 0)
        .map(_.toByte).toSeq finally in.close()
    }
    (0L until 50L).map(k => (k, s"lo$k")).toDF("k", "s").coalesce(1)
      .writeTo("graft_del.ns.t").append()
    val afterB1 = glFiles().toSet
    (1000L until 1050L).map(k => (k, s"hi$k")).toDF("k", "s").coalesce(1)
      .writeTo("graft_del.ns.t").append()
    val hiFile = (glFiles().toSet -- afterB1).head
    val hiBytes = bytes(hiFile)
    spark.sql("DELETE FROM graft_del.ns.t WHERE k < 25")
    assert(spark.table("graft_del.ns.t").count() == 75)
    assert(spark.table("graft_del.ns.t")
      .agg(min($"k")).collect()(0).getLong(0) == 25L)
    // the hi file's min/max prove no k < 25 row: stats pruning must
    // leave its bytes untouched (a GDPR delete rewrites only the
    // files that can hold the key)
    assert(bytes(hiFile) == hiBytes,
      "stats-pruned file was rewritten by an unrelated DELETE")
    // rewritten file's fresh stats still prune scans correctly
    val q = spark.table("graft_del.ns.t").filter($"k" === 10L)
    assert(q.count() == 0)
    // the atomic same-name publish must keep the directory's checksum
    // convention coherent: IF this FS writes
    // .crc sidecars (cache-dependent on local FS), the rewritten file
    // must carry one like its untouched peers — a missing sidecar is
    // fine, a stale one would fail every read. And no .staging debris
    // (data or sidecar) may survive
    val names = hfs.listStatus(tdir).map(_.getPath.getName).toSet
    if (names.exists(_.endsWith(".crc"))) glFiles().foreach { f =>
      assert(names.contains("." + f.getName + ".crc"),
        s"rewritten ${f.getName} must keep its checksum sidecar: $names")
    }
    assert(!names.exists(_.contains(".staging")),
      s"no staging debris may survive the rewrite: $names")
    // predicates the reader cannot evaluate exactly (LIKE) only stop
    // pruning files: the rewrite still deletes EXACTLY, never
    // approximately
    spark.sql("DELETE FROM graft_del.ns.t WHERE s LIKE 'hi%'")
    assert(spark.table("graft_del.ns.t").count() == 25,
      "LIKE DELETE via row-level rewrite removed the wrong rows")
    assert(spark.table("graft_del.ns.t")
      .filter($"s".startsWith("hi")).count() == 0)
    // DELETE without WHERE empties the table; catalog read stays valid
    spark.sql("DELETE FROM graft_del.ns.t")
    assert(glFiles().isEmpty, "delete-all must remove every data file")
    assert(spark.table("graft_del.ns.t").count() == 0)
  }

  test("SQL UPDATE / MERGE INTO / subquery DELETE via group-based COW") {
    spark.conf.set("spark.sql.catalog.graft_rlo", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_rlo.warehouse",
      s"$dir/rlo_warehouse")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_rlo.ns")
    spark.sql("DROP TABLE IF EXISTS graft_rlo.ns.t")
    spark.sql("CREATE TABLE graft_rlo.ns.t (k BIGINT, v BIGINT, s STRING) " +
      "USING graftlines")
    (0L until 50L).map(k => (k, k, s"lo$k")).toDF("k", "v", "s").coalesce(1)
      .writeTo("graft_rlo.ns.t").append()
    (1000L until 1020L).map(k => (k, k, s"hi$k")).toDF("k", "v", "s")
      .coalesce(1).writeTo("graft_rlo.ns.t").append()
    // UPDATE with carry-over: rows of the affected file that do NOT
    // match the condition must survive the rewrite untouched
    spark.sql("UPDATE graft_rlo.ns.t SET v = v * 10 WHERE k < 10")
    val t = spark.table("graft_rlo.ns.t")
    assert(t.filter($"k" < 10).agg(sum($"v")).collect()(0).getLong(0)
      == (0L until 10L).map(_ * 10).sum)
    assert(t.filter($"k" >= 10 && $"k" < 50).count() == 40,
      "carry-over rows lost by UPDATE rewrite")
    assert(t.count() == 70)
    // MERGE INTO: matched update + not-matched insert
    Seq((5L, 999L, "merged"), (2000L, 1L, "new"))
      .toDF("k", "v", "s").createOrReplaceTempView("rlo_src")
    spark.sql("""MERGE INTO graft_rlo.ns.t t USING rlo_src s ON t.k = s.k
      | WHEN MATCHED THEN UPDATE SET v = s.v, s = s.s
      | WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val afterMerge = spark.table("graft_rlo.ns.t")
    assert(afterMerge.count() == 71)
    assert(afterMerge.filter($"k" === 5L).select($"v", $"s")
      .collect().map(_.toString).toSeq == Seq("[999,merged]"))
    assert(afterMerge.filter($"k" === 2000L).count() == 1)
    // subquery DELETE: the same row-level rewrite executes it
    Seq(0L, 1L, 2000L).toDF("k").createOrReplaceTempView("rlo_kill")
    spark.sql("DELETE FROM graft_rlo.ns.t WHERE k IN " +
      "(SELECT k FROM rlo_kill)")
    assert(spark.table("graft_rlo.ns.t").count() == 68)
    assert(spark.table("graft_rlo.ns.t")
      .filter($"k".isin(0L, 1L, 2000L)).count() == 0)
  }

  /** Binds catalog `name` over its own warehouse under the spec dir. */
  private def catalog(name: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", s"$dir/${name}_wh")
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.ns")
  }

  test("DELETE FROM, DELETE WHERE 1 = 1 and TRUNCATE empty a plain table") {
    catalog("graft_trunc")
    val t = "graft_trunc.ns.t"
    for (stmt <- Seq(s"DELETE FROM $t", s"DELETE FROM $t WHERE 1 = 1",
        s"DELETE FROM $t WHERE k >= 0 OR true", s"TRUNCATE TABLE $t")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) USING graftlines")
      (0L until 20L).map(k => (k, k * 10L)).toDF("k", "v").coalesce(2)
        .writeTo(t).append()
      spark.sql(stmt)
      assert(spark.table(t).count() == 0, s"`$stmt` left rows behind")
    }
  }

  test("DELETE and MERGE that match no row keep every row") {
    catalog("graft_nomatch")
    val t = "graft_nomatch.ns.t"
    Seq.empty[Long].toDF("k").createOrReplaceTempView("nomatch_empty")
    for (props <- Seq("", "TBLPROPERTIES ('versioned'='true')");
        stmt <- Seq(s"DELETE FROM $t WHERE 1 = 0",
          s"DELETE FROM $t WHERE k IN (SELECT k FROM nomatch_empty)",
          s"""MERGE INTO $t t USING nomatch_empty s ON t.k = s.k
            | WHEN MATCHED THEN DELETE""".stripMargin)) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) USING graftlines " +
        props)
      (0L until 20L).map(k => (k, k * 10L)).toDF("k", "v").coalesce(2)
        .writeTo(t).append()
      spark.sql(stmt)
      assert(spark.table(t).count() == 20, s"`$stmt` ($props) lost rows")
    }
  }

  test("DELETE, UPDATE and MERGE keep the bucket and partition layout") {
    catalog("graft_lay")
    val t = "graft_lay.ns.t"
    (30L until 50L).map(k => (k, k % 4, -k)).toDF("k", "g", "v")
      .createOrReplaceTempView("lay_src")
    for (layout <- Seq("bucket(8, k)", "g")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t (k BIGINT, g BIGINT, v BIGINT) " +
        s"USING graftlines PARTITIONED BY ($layout)")
      (0L until 40L).map(k => (k, k % 4, k)).toDF("k", "g", "v")
        .repartition(3).writeTo(t).append()
      def check(step: String, rows: Long, vSum: Long): Unit = {
        val parts = glScan(spark.table(t)).planInputPartitions()
        // GlKeyedPartition is private[sources]; its name is contract enough
        assert(parts.nonEmpty &&
          parts.forall(_.getClass.getSimpleName == "GlKeyedPartition"),
          s"$layout: the scan is not keyed after $step")
        val r = spark.table(t).agg(count(lit(1)), sum($"v")).collect()(0)
        assert((r.getLong(0), r.getLong(1)) == ((rows, vSum)),
          s"$layout: wrong rows after $step")
      }
      check("the append", 40, (0L until 40L).sum)
      spark.sql(s"DELETE FROM $t WHERE k < 5")
      check("DELETE", 35, (5L until 40L).sum)
      spark.sql(s"UPDATE $t SET v = v + 100 WHERE k < 20")
      check("UPDATE", 35, (5L until 40L).sum + 15 * 100)
      spark.sql(s"""MERGE INTO $t t USING lay_src s ON t.k = s.k
        | WHEN MATCHED THEN UPDATE SET v = s.v
        | WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      check("MERGE", 45, (5L until 30L).sum + 15 * 100 - (30L until 50L).sum)
    }
  }

  test("runtime group filtering: MERGE rewrites only matching files") {
    spark.conf.set("spark.sql.catalog.graft_rgf", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_rgf.warehouse",
      s"$dir/rgf_warehouse")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_rgf.ns")
    spark.sql("DROP TABLE IF EXISTS graft_rgf.ns.t")
    spark.sql("CREATE TABLE graft_rgf.ns.t (k BIGINT, v BIGINT) " +
      "USING graftlines")
    val tdir = new org.apache.hadoop.fs.Path(s"$dir/rgf_warehouse/ns/t")
    val hfs = tdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def glNames() = hfs.listStatus(tdir).map(_.getPath.getName)
      .filter(_.endsWith(".gl")).toSet
    (0L until 50L).map(k => (k, k)).toDF("k", "v").coalesce(1)
      .writeTo("graft_rgf.ns.t").append()
    val loFiles = glNames()
    (1000L until 1020L).map(k => (k, k)).toDF("k", "v").coalesce(1)
      .writeTo("graft_rgf.ns.t").append()
    // a MERGE keyed only into the hi file: its ON condition pushes no
    // static filter, so WITHOUT runtime group filtering every file
    // would be scanned and rewritten under a fresh name — the lo
    // file's survival under its ORIGINAL name proves the dynamic
    // _file IN (...) subquery pruned it from the rewrite
    Seq((1005L, 1L), (1010L, 2L)).toDF("k", "v")
      .createOrReplaceTempView("rgf_src")
    spark.sql("""MERGE INTO graft_rgf.ns.t t USING rgf_src s ON t.k = s.k
      | WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    assert(loFiles.subsetOf(glNames()),
      "runtime group filtering failed: the unmatched file was rewritten")
    val t = spark.table("graft_rgf.ns.t")
    assert(t.count() == 70)
    assert(t.filter($"k" === 1005L).select($"v")
      .collect()(0).getLong(0) == 1L)
    assert(t.filter($"k" >= 1000L && $"k" =!= 1005L && $"k" =!= 1010L)
      .filter($"v" =!= $"k").count() == 0,
      "carry-over rows of the rewritten file were altered")
  }

  test("_file metadata column names each row's physical file") {
    val p = s"$dir/filecol"
    Seq((1L, "a")).toDF("k", "s").coalesce(1)
      .write.format("graftlines").mode("overwrite").save(p)
    Seq((2L, "b")).toDF("k", "s").coalesce(1)
      .write.format("graftlines").mode("append").save(p)
    val rows = spark.read.format("graftlines").load(p)
      .select($"k", col("_file")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(rows.size == 2)
    assert(rows.values.toSet.size == 2, "two files expected")
    assert(rows.values.forall(_.endsWith(".gl")))
    // reserved name: a data column may never collide with it
    val ex = intercept[Exception] {
      Seq((1L, "x")).toDF("_file", "s")
        .write.format("graftlines").mode("overwrite").save(s"$dir/filecol2")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("reserved metadata column")), msgs(ex))
  }

  test("aggregate pushdown merges partials across block splits") {
    val p = s"$dir/splitagg"
    Seq.tabulate(200)(i => (i.toLong % 5, i.toLong, i * 2.0))
      .toDF("g", "k", "d").coalesce(1)
      .write.format("graftlines").mode("overwrite").save(p)
    val truth = spark.read.format("graftlines").load(p)
      .groupBy($"g").agg(count(lit(1)), min($"k"), max($"d"))
      .collect().map(_.toString).sorted.toSeq
    withMaxPartitionBytes(128) {
      val df = spark.read.format("graftlines").load(p)
      assert(glScan(df.groupBy($"g").agg(count(lit(1))))
        .planInputPartitions().length > 1,
        "expected the agg scan itself to be block-split")
      assert(df.groupBy($"g").agg(count(lit(1)), min($"k"), max($"d"))
        .collect().map(_.toString).sorted.toSeq == truth)
    }
  }

  test("a failing _graft_stats publish leaves the commit done and reads exact") {
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.glmeta.impl",
      classOf[graft.sources.MetaFaultFileSystem].getName)
    val p = s"glmeta:$dir/stats_publish_fault"
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(hconf)
    fs.delete(hp, true)
    (1L to 3L).toDF("k").coalesce(1)
      .write.format("graftlines").mode("append").save(p)
    val fault = graft.sources.MetaFaultFileSystem.failRenamesOnto
    fault.set(Set(GraftLines.StatsName))
    try (4L to 5L).toDF("k").coalesce(1) // must not throw
      .write.format("graftlines").mode("append").save(p)
    finally fault.set(Set.empty)
    val df = spark.read.format("graftlines").load(p)
    assert(df.agg(count(lit(1))).head().getLong(0) == 5L)
    assert(df.agg(sum($"k")).head().getLong(0) == 15L)
    assert(df.filter($"k" >= 4L).as[Long].collect().sorted.toSeq
      == Seq(4L, 5L), "no stale stats line may prune the new file")
  }

  test("the next good commit sweeps a failed _graft_stats publish's tmp") {
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.glmeta.impl",
      classOf[graft.sources.MetaFaultFileSystem].getName)
    val p = s"glmeta:$dir/stats_publish_debris"
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(hconf)
    fs.delete(hp, true)
    def statsFiles() = fs.listStatus(hp).map(_.getPath.getName)
      .filter(_.startsWith(GraftLines.StatsName)).sorted.toSeq
    (1L to 3L).toDF("k").coalesce(1)
      .write.format("graftlines").mode("append").save(p)
    val fault = graft.sources.MetaFaultFileSystem.failRenamesOnto
    fault.set(Set(GraftLines.StatsName))
    try (4L to 5L).toDF("k").coalesce(1)
      .write.format("graftlines").mode("append").save(p)
    finally fault.set(Set.empty)
    // the failed publish deleted the old copy and kept its staged tmp
    assert(statsFiles().exists(_.endsWith(".tmp")), statsFiles())
    (6L to 7L).toDF("k").coalesce(1)
      .write.format("graftlines").mode("append").save(p)
    assert(statsFiles() == Seq(GraftLines.StatsName),
      s"one _graft_stats and no tmp after a good commit: ${statsFiles()}")
    assert(spark.read.format("graftlines").load(p).filter($"k" >= 4L)
      .as[Long].collect().sorted.toSeq == Seq(4L, 5L, 6L, 7L))
  }
}
