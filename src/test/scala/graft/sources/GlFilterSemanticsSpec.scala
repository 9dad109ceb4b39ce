package graft.sources

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftTmp, TestSpark}

/** Pushed-filter three-valued-logic differential: an ACCEPTED pushdown
  * removes Spark's own copy of the predicate, so the reader's Catalyst
  * predicate over its parsed row must reproduce SQL NULL semantics
  * exactly, with codegen on and off. The killer shape is a Not
  * under an Or: `NOT(v = 5) OR s IS NULL` on a row (v = NULL, s = 'x')
  * is NULL in SQL (dropped), but a two-valued evaluator computes
  * !(false) = true (kept) — and constraint propagation cannot rescue
  * it, because the Or blocks the IsNotNull inference that saves the
  * bare-conjunct case. Law: for every predicate, the graftlines scan
  * must return exactly what the same DataFrame read from parquet
  * returns. */
class GlFilterSemanticsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val (glPath, pqPath): (String, String) = {
    val gl = GraftTmp.dir("filter3v_gl")
    val pq = GraftTmp.dir("filter3v_pq")
    val fs = new Path(gl).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(gl), true); fs.delete(new Path(pq), true)
    val rows = Seq[(java.lang.Long, String)](
      (1L, "a"), (2L, "b"), (5L, "c"), (5L, null),
      (null, "x"), (null, null), (7L, "a"), (3L, "y"))
    val df = rows.toDF("v", "s")
    df.coalesce(1).write.format("graftlines").mode("append").save(gl)
    df.coalesce(1).write.parquet(pq)
    (gl, pq)
  }

  private val predicates = Seq(
    // the Or-blocked-inference shapes (the actual hazard class)
    "NOT (v = 5) OR s IS NULL",
    "NOT (v > 3) OR v = 1",
    "NOT (s = 'a') OR v IS NULL",
    "NOT (v IN (1, 2)) OR s IS NULL",
    "NOT (v = 5 AND s = 'c') OR v = 1",
    "NOT (v = 5 OR v = 2) OR s IS NULL",
    // bare Not conjuncts (constraint propagation usually rescues these;
    // pin them anyway so the law doesn't depend on an optimizer flag)
    "NOT (v = 5)", "v != 5", "NOT (v < 3)", "NOT (s = 'a')",
    "NOT (v IN (1, 5))", "NOT (v IS NULL)", "NOT (v IS NOT NULL)",
    // plain shapes for the differential's own sanity
    "v = 5", "v > 3", "v <= 2", "s = 'a'", "v IS NULL", "s IS NOT NULL",
    "v IN (1, 5)", "v > 1 AND s = 'a'", "v = 5 OR s = 'x'",
    "NOT (NOT (v = 5))",
    // null-safe equality (r14): total — never NULL-valued — so NOT
    // over it is exact too, and the NULL literal form is IsNull in
    // disguise
    "v <=> 5", "v <=> NULL", "s <=> 'a'", "s <=> NULL",
    "NOT (v <=> 5)", "NOT (v <=> NULL) OR s IS NULL",
    "(v <=> 5) OR (s <=> NULL)",
    // prefix LIKE (r14): Catalyst pushes it as StringStartsWith; NULL
    // column value makes it NULL, so the Not-under-Or hazard applies
    "s LIKE 'a%'", "NOT (s LIKE 'a%')", "NOT (s LIKE 'a%') OR v IS NULL",
    "s LIKE ''", "s LIKE 'ab%'")

  private def predicatesMatchParquet(mode: String): Unit = {
    val gl = spark.read.format("graftlines").load(glPath)
    val pq = spark.read.parquet(pqPath)
    predicates.foreach { p =>
      val got = gl.filter(p).collect().map(_.toString).sorted.toSeq
      val exp = pq.filter(p).collect().map(_.toString).sorted.toSeq
      assert(got == exp,
        s"predicate `$p` diverged ($mode): graftlines=$got parquet=$exp")
    }
  }

  test("pushed predicates match Spark SQL three-valued semantics exactly") {
    predicatesMatchParquet("codegen")
  }

  test("the same predicates match with codegen off (interpreted predicate)") {
    val key = "spark.sql.codegen.factoryMode"
    spark.conf.set(key, "NO_CODEGEN")
    try predicatesMatchParquet("NO_CODEGEN") finally spark.conf.unset(key)
  }

  test("generative differential: 80 random predicate trees match parquet") {
    // fixed-seed random predicate trees (depth <= 3) over the NULL-rich
    // table: every shape the pushdown grammar accepts — atoms, IN,
    // IS [NOT] NULL, and arbitrary NOT/AND/OR nests — must agree with
    // Spark's own evaluation on parquet, row for row
    val rng = new java.util.Random(42)
    def lit(): String = rng.nextInt(9).toString
    def strLit(): String = "'" + "abcxy".charAt(rng.nextInt(5)) + "'"
    def atom(): String = rng.nextInt(13) match {
      case 0 => s"v = ${lit()}"
      case 1 => s"v > ${lit()}"
      case 2 => s"v < ${lit()}"
      case 3 => s"v >= ${lit()}"
      case 4 => s"v <= ${lit()}"
      case 5 => s"v IN (${lit()}, ${lit()})"
      case 6 => "v IS NULL"
      case 7 => "s IS NOT NULL"
      case 8 => s"s = ${strLit()}"
      case 9 => s"v <=> ${lit()}"
      case 10 => s"s <=> ${strLit()}"
      case 11 => s"s LIKE '${"abcxy".charAt(rng.nextInt(5))}%'"
      case _ => "s IS NULL"
    }
    def tree(depth: Int): String =
      if (depth == 0) atom()
      else rng.nextInt(4) match {
        case 0 => s"NOT (${tree(depth - 1)})"
        case 1 => s"(${tree(depth - 1)}) AND (${tree(depth - 1)})"
        case 2 => s"(${tree(depth - 1)}) OR (${tree(depth - 1)})"
        case _ => atom()
      }
    val gl = spark.read.format("graftlines").load(glPath)
    val pq = spark.read.parquet(pqPath)
    (1 to 80).foreach { i =>
      val p = tree(3)
      val got = gl.filter(p).collect().map(_.toString).sorted.toSeq
      val exp = pq.filter(p).collect().map(_.toString).sorted.toSeq
      assert(got == exp, s"random predicate #$i `$p` diverged: " +
        s"graftlines=$got parquet=$exp")
    }
  }

  test("generative differential over a MULTI-FILE table: pruning never loses rows") {
    // the single-file table above never engages mayMatch file pruning;
    // this one lands 6 files with tight disjoint ranges (clusterBy) so
    // random predicates actually prune — and any unsound prune (a
    // skipped file holding a matching row) breaks equality vs parquet
    val glM = GraftTmp.dir("filter3v_glm")
    val pqM = GraftTmp.dir("filter3v_pqm")
    val fs = new Path(glM).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(glM), true); fs.delete(new Path(pqM), true)
    val rows: Seq[(java.lang.Long, String)] =
      (0 until 60).map { i =>
        val v: java.lang.Long = if (i % 7 == 0) null else Long.box(i % 19)
        val s: String = if (i % 5 == 0) null else "abcxy"(i % 5).toString
        (v, s)
      }
    val df = rows.toDF("v", "s")
    df.write.format("graftlines")
      .option("clusterBy", "v").option("clusterPartitions", "6")
      .mode("append").save(glM)
    df.coalesce(1).write.parquet(pqM)
    assert(fs.listStatus(new Path(glM))
      .count(_.getPath.getName.endsWith(GraftLines.Ext)) > 1,
      "the clustered write must land multiple files or nothing prunes")
    val rng = new java.util.Random(4242)
    def lit(): String = rng.nextInt(20).toString
    def atom(): String = rng.nextInt(13) match {
      case 0 => s"v = ${lit()}"
      case 1 => s"v > ${lit()}"
      case 2 => s"v < ${lit()}"
      case 3 => s"v >= ${lit()}"
      case 4 => s"v <= ${lit()}"
      case 5 => s"v IN (${lit()}, ${lit()})"
      case 6 => "v IS NULL"
      case 7 => "s IS NOT NULL"
      case 8 => s"s = '${"abcxy"(rng.nextInt(5))}'"
      case 9 => s"v <=> ${lit()}"
      case 10 => "v <=> NULL"
      case 11 => s"s LIKE '${"abcxy"(rng.nextInt(5))}%'"
      case _ => "v IS NOT NULL"
    }
    def tree(depth: Int): String =
      if (depth == 0) atom()
      else rng.nextInt(4) match {
        case 0 => s"NOT (${tree(depth - 1)})"
        case 1 => s"(${tree(depth - 1)}) AND (${tree(depth - 1)})"
        case 2 => s"(${tree(depth - 1)}) OR (${tree(depth - 1)})"
        case _ => atom()
      }
    val gl = spark.read.format("graftlines").load(glM)
    val pq = spark.read.parquet(pqM)
    (1 to 80).foreach { i =>
      val p = tree(3)
      val got = gl.filter(p).collect().map(_.toString).sorted.toSeq
      val exp = pq.filter(p).collect().map(_.toString).sorted.toSeq
      assert(got == exp, s"multi-file predicate #$i `$p` diverged " +
        s"(unsound prune?): graftlines=$got parquet=$exp")
    }
  }

  test("limit pushdown under pushed filters: exact count, only matching rows") {
    // the per-partition early stop counts rows AFTER the pushed
    // filters (limit-after-filter semantics); the law on a multi-file
    // table: exactly min(n, matching) rows come back, and the result
    // is a sub-multiset of the full matching set
    val glL = GraftTmp.dir("filter3v_gll")
    val pqL = GraftTmp.dir("filter3v_pql")
    val fs = new Path(glL).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(glL), true); fs.delete(new Path(pqL), true)
    val rows: Seq[(java.lang.Long, String)] =
      (0 until 120).map { i =>
        (if (i % 6 == 0) null else Long.box(i % 11),
          if (i % 4 == 0) null else "abcxy"(i % 5).toString)
      }
    rows.toDF("v", "s").repartition(5)
      .write.format("graftlines").mode("append").save(glL)
    rows.toDF("v", "s").coalesce(1).write.parquet(pqL)
    val gl = spark.read.format("graftlines").load(glL)
    val pq = spark.read.parquet(pqL)
    for (pred <- Seq("v > 7", "NOT (v = 5) OR s IS NULL", "s = 'a'");
         n <- Seq(1, 7, 10000)) {
      val full = pq.filter(pred).collect().map(_.toString)
        .groupBy(identity).view.mapValues(_.length).toMap
      val got = gl.filter(pred).limit(n).collect().map(_.toString).toSeq
      assert(got.size == math.min(n, full.values.sum),
        s"`$pred` LIMIT $n returned ${got.size} rows, " +
          s"expected ${math.min(n, full.values.sum)}")
      got.groupBy(identity).foreach { case (r, c) =>
        assert(full.getOrElse(r, 0) >= c.length,
          s"`$pred` LIMIT $n returned a non-matching or over-counted " +
            s"row $r")
      }
    }
  }

  test("DELETE honours three-valued logic: NULL-predicate rows survive") {
    spark.conf.set("spark.sql.catalog.graft_f3v", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_f3v.warehouse",
      GraftTmp.dir("filter3v_del"))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_f3v.ns")
    spark.sql("DROP TABLE IF EXISTS graft_f3v.ns.t")
    spark.sql("CREATE TABLE graft_f3v.ns.t (v BIGINT, s STRING) " +
      "USING graftlines")
    Seq[(java.lang.Long, String)]((1L, "a"), (5L, "b"), (null, "x"))
      .toDF("v", "s").coalesce(1).writeTo("graft_f3v.ns.t").append()
    // NOT(v = 5) OR s IS NULL: true for (1,'a'), NULL for (null,'x') —
    // SQL deletes only where the predicate is TRUE
    spark.sql("DELETE FROM graft_f3v.ns.t WHERE NOT(v = 5) OR s IS NULL")
    val left = spark.table("graft_f3v.ns.t")
      .collect().map(_.toString).sorted.toSeq
    assert(left == Seq("[5,b]", "[null,x]"),
      s"only the definitely-true rows may be deleted, got $left")
  }
}
