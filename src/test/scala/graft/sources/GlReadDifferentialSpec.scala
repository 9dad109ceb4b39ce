package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.functions.{col, not}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftTmp, TestSpark}

/** Read-path differential: every filter shape the source accepts for
  * pushdown (=, <=>, <, <=, >, >=, IN, IS [NOT] NULL, prefix LIKE and
  * AND/OR/NOT nests of them), over hostile values, must return exactly
  * what Spark returns for the same rows held as an in-memory DataFrame
  * (no source, no pushdown). The values are the ones where a
  * hand-rolled evaluator goes wrong: NULLs in every column, NaN, −0.0,
  * the infinities, Long.MinValue, and supplementary-plane strings next
  * to U+E000–U+FFFF ones (UTF-16 and UTF-8 order them differently).
  * The tables are read the ways the reader must get right: block
  * splits whose ranges start mid-file, two appends whose headers order
  * the columns differently, and a catalog table after ALTER TABLE ADD
  * COLUMNS with filters on a column the older file lacks. Every
  * predicate without a NaN literal must push whole (no residual
  * Filter), so the answers are the reader's own. */
class GlReadDifferentialSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("l", LongType),
    StructField("i", IntegerType), StructField("d", DoubleType),
    StructField("b", BooleanType), StructField("s", StringType)))

  private val strings = Seq[String](null, "", "a", "ab", "a\uE000",
    "a\uD83D\uDE00", "\uE000", "\uFFFF", "\uFFFDz", "\uD83D\uDE00",
    "\uD83D\uDE00b", "\uD800\uDC00", "t\tab", "n\\l\nx", "\\N", "\u00E9")
  private val longs = Seq[java.lang.Long](null, Long.MinValue, -1L, 0L, 5L,
    Long.MaxValue)
  private val doubles = Seq[java.lang.Double](null, Double.NaN, -0.0, 0.0,
    1.5, Double.NegativeInfinity, Double.PositiveInfinity, -2.5)
  private val ints = Seq[java.lang.Integer](null, Int.MinValue, 0, 3,
    Int.MaxValue)

  private val rows: Seq[Row] = (0 until 48).map { n =>
    Row(n.toLong, longs(n % longs.size), ints(n * 3 % ints.size),
      doubles(n * 5 % doubles.size),
      if (n % 7 == 3) null else java.lang.Boolean.valueOf(n % 2 == 0),
      strings(n * 7 % strings.size))
  }

  private def memory(rs: Seq[Row], sch: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rs: _*), sch)

  private def fresh(name: String): String = {
    val p = GraftTmp.dir(name)
    val fs = new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(p), true)
    p
  }

  /** Every accepted atom over one column, with the hostile literals. */
  private def longAtoms(l: Column) = Seq[Column](
    l === Long.MinValue, l <=> Long.MinValue, l < 0L, l <= -1L,
    l > Long.MinValue, l >= 5L, l === Long.MaxValue,
    l.isin(Long.MinValue, 5L), l.isNull, l.isNotNull)
  private def stringAtoms(s: Column) = Seq[Column](
    s === "", s === "\uE000", s <=> "\uD83D\uDE00", s < "\uD83D\uDE00",
    s > "\uFFFF", s >= "a", s <= "a\uE000", s < "a\uD83D\uDE00",
    s > "\uFFFDz", s === "\\N", s.isin("", "\uFFFF", "t\tab"),
    s.like("a%"), s.like("\uD83D\uDE00%"), s.like("\uE000%"),
    s.startsWith("n\\"), s.isNull, s.isNotNull)

  /** (predicate, pushes whole) over every column of `schema`. */
  private val atoms: Seq[(Column, Boolean)] = {
    val i = col("i"); val d = col("d"); val b = col("b")
    val pushed = longAtoms(col("l")) ++ stringAtoms(col("s")) ++ Seq[Column](
      i === Int.MinValue, i > 0, i <= 3, i.isin(Int.MaxValue, 0),
      i <=> 3, i.isNull,
      d === -0.0, d === 0.0, d <=> -0.0, d > 0.0, d < 0.0, d >= -0.0,
      d <= 0.0, d > 1.0, d < Double.PositiveInfinity,
      d === Double.NegativeInfinity, d.isin(-0.0, 1.5), d.isNull,
      d.isNotNull,
      b === true, b <=> false, b.isNull, b =!= true)
    // Spark keeps NaN comparisons to itself (the source declines them)
    val residual = Seq[Column](d === Double.NaN, d <=> Double.NaN,
      d < Double.NaN)
    pushed.map(_ -> true) ++ residual.map(_ -> false)
  }

  /** Fixed-seed AND/OR/NOT nests of the atoms, depth <= 3. */
  private val trees: Seq[(Column, Boolean)] = {
    val rng = new java.util.Random(17)
    def atom() = atoms(rng.nextInt(atoms.size))
    def tree(depth: Int): (Column, Boolean) =
      if (depth == 0) atom()
      else rng.nextInt(4) match {
        case 0 => val (c, p) = tree(depth - 1); (not(c), p)
        case 1 =>
          val (a, pa) = tree(depth - 1); val (c, pc) = tree(depth - 1)
          (a && c, pa && pc)
        case 2 =>
          val (a, pa) = tree(depth - 1); val (c, pc) = tree(depth - 1)
          (a || c, pa && pc)
        case _ => atom()
      }
    Seq.fill(40)(tree(3))
  }

  private def sorted(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq

  private def hasResidual(df: DataFrame): Boolean =
    df.queryExecution.sparkPlan.collect { case f: FilterExec => f }.nonEmpty

  /** Every predicate: the graftlines read equals the in-memory one, and
    * a predicate marked as pushed leaves no residual Filter. */
  private def matches(gl: => DataFrame, mem: DataFrame,
      preds: Seq[(Column, Boolean)], context: String): Unit = {
    val cols = mem.columns.toSeq
    preds.foreach { case (p, pushes) =>
      val g = gl.filter(p)
      val got = sorted(g, cols)
      val exp = sorted(mem.filter(p), cols)
      assert(got == exp, s"$context: `$p` diverged: graftlines=$got " +
        s"in-memory=$exp")
      if (pushes)
        assert(!hasResidual(g), s"$context: `$p` left a residual Filter:" +
          s"\n${g.queryExecution.sparkPlan}")
    }
  }

  test("block-split ranges that start mid-file answer every shape exactly") {
    val p = fresh("rdiff_split")
    memory(rows, schema).coalesce(1)
      .write.format("graftlines").mode("append").save(p)
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "97")
    try {
      val gl = spark.read.format("graftlines").load(p)
      val scan = gl.queryExecution.sparkPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.asInstanceOf[GlScan]
      }.getOrElse(fail("no graftlines scan"))
      assert(scan.planInputPartitions().length > 4,
        "the file must be read as many block-split ranges")
      matches(gl, memory(rows, schema), atoms ++ trees, "split")
    } finally spark.conf.set(key, prev)
  }

  test("two appends with differently ordered headers answer every shape") {
    val p = fresh("rdiff_order")
    val (first, second) = rows.splitAt(rows.size / 2)
    memory(first, schema).coalesce(1)
      .write.format("graftlines").mode("append").save(p)
    val reversed = schema.fieldNames.reverse.toSeq
    memory(second, schema).select(reversed.map(col): _*).coalesce(1)
      .write.format("graftlines").mode("append").save(p)
    matches(spark.read.format("graftlines").load(p), memory(rows, schema),
      atoms ++ trees, "header order")
  }

  test("filters on an ALTER-added column see NULL in the older file") {
    val cat = "graft_rdiff"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", fresh("rdiff_wh"))
    val tbl = s"$cat.ns.evo"
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ns")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, l BIGINT, s STRING) " +
      "USING graftlines")
    val old = StructType(schema.filter(f => Set("k", "l", "s")(f.name)))
    val oldRows = rows.take(20).map(r => Row(r.get(0), r.get(1), r.get(5)))
    memory(oldRows, old).coalesce(1).writeTo(tbl).append()
    spark.sql(s"ALTER TABLE $tbl ADD COLUMNS (x BIGINT, y STRING)")
    val evolved = old.add("x", LongType).add("y", StringType)
    val newRows = rows.drop(20).map(r =>
      Row(r.get(0), r.get(1), r.get(5), r.get(1), r.get(5)))
    memory(newRows, evolved).coalesce(1).writeTo(tbl).append()
    val all = oldRows.map(r => Row.fromSeq(r.toSeq ++ Seq(null, null))) ++
      newRows
    val x = col("x"); val y = col("y")
    val preds = longAtoms(x) ++ stringAtoms(y) ++ Seq[Column](
      not(x === 5L) || y.isNull, (x < 0L) || (col("l") === 5L),
      not((x >= 0L) && y.isNotNull), col("s") === "a" && x.isNull) ++
      longAtoms(col("l")) ++ stringAtoms(col("s"))
    matches(spark.table(tbl), memory(all, evolved), preds.map(_ -> true),
      "evolved")
  }
}
