package graft.sources

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftTmp, TestSpark}

/** Aggregate-pushdown semantics grid: the partial aggregation the
  * scan emits (one pre-aggregated row per group per SPLIT, merged by
  * Spark's final aggregate) must be indistinguishable from the plain
  * row scan for every (group, agg, filter) shape — including NULL
  * group keys, all-NULL files, count vs count(*) null handling, the
  * pushed-filter-before-aggregation ordering, and shapes the source
  * DECLINES (min/max on strings), where the row scan must silently
  * stand. Law: equality with Spark-on-parquet on a NULL-rich
  * multi-file table. PlanSpec pins that the pushed shape actually
  * engages; this spec pins that engaging it can never change answers. */
class GlAggPushdownSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val ready: Unit = {
    val gl = GraftTmp.dir("aggpush_gl")
    val pq = GraftTmp.dir("aggpush_pq")
    val fs = new Path(gl).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(gl), true); fs.delete(new Path(pq), true)
    // one column per typed min/max slot of the fold: int, double (with
    // NaN, the greatest double), date and timestamp, each with NULLs;
    // `w` is a string group column with 100 distinct values: the fold's
    // group store sees fewer than 64 keys in some files, more in others
    val rows = (0 until 600).map { i =>
      val v: java.lang.Long = if (i % 7 == 0) null else Long.box(i % 13)
      val s: String = if (i % 5 == 0) null else "abcxy"(i % 5).toString
      val in: java.lang.Integer =
        if (i % 6 == 0) null else Int.box(i * 37 % 23 - 11)
      val d: java.lang.Double =
        if (i % 8 == 0) null
        else if (i % 11 == 0) Double.box(Double.NaN)
        else Double.box(i % 9 * 1.5 - 4.0)
      val dt =
        if (i % 9 == 0) null
        else java.sql.Date.valueOf(
          java.time.LocalDate.of(2020, 1, 1).plusDays(i * 17 % 400))
      val ts =
        if (i % 10 == 0) null
        else new java.sql.Timestamp(1600000000000L + i * 7919 % 1000 * 3600000L)
      val w: String = if (i % 17 == 0) null else f"w${i * 7 % 100}%02d"
      (v, s, in, d, dt, ts, w)
    }
    val df = rows.toDF("v", "s", "i", "d", "dt", "ts", "w")
    df.write.format("graftlines")
      .option("clusterBy", "v").option("clusterPartitions", "6")
      .mode("append").save(gl)
    df.coalesce(1).write.parquet(pq)
    val wPerFile = spark.read.format("graftlines").load(gl)
      .groupBy(org.apache.spark.sql.functions.col("_file"))
      .agg(org.apache.spark.sql.functions.countDistinct("w"))
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(wPerFile.head < 64 && wPerFile.last > 64,
      s"distinct w per file: $wPerFile")
    spark.read.format("graftlines").load(gl).createOrReplaceTempView("agp_gl")
    spark.read.parquet(pq).createOrReplaceTempView("agp_pq")
  }

  private val groups = Seq("", "s", "v", "s, v", "w")
  private val aggs = Seq(
    "count(*) AS n",
    "count(v) AS cv, count(s) AS cs",
    "min(v) AS mn, max(v) AS mx",
    "count(*) AS n, min(v) AS mn, count(s) AS cs",
    "min(i) AS imn, max(i) AS imx, min(d) AS dmn, max(d) AS dmx",
    "min(dt) AS dtmn, max(dt) AS dtmx, min(ts) AS tsmn, max(ts) AS tsmx",
    // min/max on strings: DECLINED by the source (UTF-16 vs UTF8
    // ordering) — the whole aggregation must fall back to the row scan
    "min(s) AS smn, max(s) AS smx, count(*) AS n")
  private val filters = Seq(
    "", "WHERE v > 5", "WHERE NOT (v = 5) OR s IS NULL",
    "WHERE s IS NOT NULL AND v <= 9")

  test("every (group, agg, filter) shape matches parquet exactly") {
    ready
    var checked = 0
    for (g <- groups; a <- aggs; f <- filters) {
      val sel = if (g.isEmpty) a else s"$g, $a"
      val by = if (g.isEmpty) "" else s"GROUP BY $g"
      def q(t: String) =
        spark.sql(s"SELECT $sel FROM $t $f $by")
          .collect().map(_.toString).sorted.toSeq
      val (got, exp) = (q("agp_gl"), q("agp_pq"))
      assert(got == exp,
        s"shape `SELECT $sel FROM t $f $by` diverged: gl=$got pq=$exp")
      checked += 1
    }
    assert(checked == groups.size * aggs.size * filters.size)
  }

  test("a file of only NULL values aggregates identically") {
    ready
    // append an all-NULL-v file: its stats record min=max=NULL, its
    // partial min/max state must merge as absent, and count(v) adds 0
    val gl = GraftTmp.dir("aggpush_gl")
    val pq = GraftTmp.dir("aggpush_pq")
    val extra: Seq[(java.lang.Long, String)] =
      Seq((null, "z"), (null, null), (null, "z"))
    extra.toDF("v", "s").coalesce(1)
      .write.format("graftlines").mode("append").save(gl)
    extra.toDF("v", "s").coalesce(1).write.mode("append").parquet(pq)
    def q(t: String) = spark.sql(
      s"SELECT s, count(*) AS n, count(v) AS cv, min(v) AS mn, " +
        s"max(v) AS mx FROM $t GROUP BY s")
      .collect().map(_.toString).sorted.toSeq
    spark.read.format("graftlines").load(gl)
      .createOrReplaceTempView("agp_gl2")
    spark.read.parquet(pq).createOrReplaceTempView("agp_pq2")
    assert(q("agp_gl2") == q("agp_pq2"),
      "the all-NULL file must not poison merged min/max or counts")
  }
}
