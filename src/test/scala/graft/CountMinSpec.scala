package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Count-min sketch gates (q_agg_topk_cms, declared no-oracle): the CMS
  * guarantee est >= exact and est <= exact + eps*N, checked on the real
  * sf0.01 token stream, plus the merge law the two-phase aggregate
  * relies on. Fixed seeds + fixed data make both checks deterministic.
  */
class CountMinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def registerCms(): Unit = {
    spark.udf.register("cms", udaf(graft.functions.CountMin.aggregator))
    spark.udf.register("cms_estimate", (sketch: Seq[Long], key: String) =>
      graft.functions.CountMin.estimate(sketch, key))
  }

  test("cms estimates bound the exact counts on sf0.01 tokens") {
    val rows = SparkEntry.queries("q_agg_topk_cms")(spark, TestSpark.sf001)
      .collect()
    assert(rows.length == 25, s"expected 5 langs x top-5, got ${rows.length}")
    val eps = math.E / graft.functions.CountMin.width
    rows.foreach { r =>
      val exact = r.getAs[Long]("n_exact")
      val est = r.getAs[Long]("n_est")
      val n = r.getAs[Long]("n_tok")
      assert(est >= exact,
        s"${r.getAs[String]("tok")}: est $est below exact $exact — " +
          "CMS can never underestimate")
      assert(est <= exact + (eps * n).toLong + 1,
        s"${r.getAs[String]("tok")}: est $est exceeds exact $exact " +
          s"+ eps*N (${(eps * n).toLong}) — sketch too collided")
    }
  }

  test("SQL-registered cms/cms_estimate agree with the Column forms") {
    import spark.implicits._
    registerCms()
    val df = Seq("a", "b", "a", "c", "a", "b").toDF("t")
    df.createOrReplaceTempView("cms_probe")
    val viaSql = spark.sql(
      "SELECT cms_estimate(cms(t), 'a') AS e FROM cms_probe")
      .head().getLong(0)
    val viaColumn = df.agg(graft.functions.CountMin.cmsEstimate(
        graft.functions.CountMin.cms(col("t")), lit("a")).as("e"))
      .head().getLong(0)
    assert(viaSql == viaColumn && viaSql >= 3,
      s"sql=$viaSql column=$viaColumn (exact count of 'a' is 3)")
  }

  test("a non-sketch array estimates NULL instead of indexing out of bounds") {
    // shape hardening (the ab8899a rule): an array<bigint> column that
    // is not a cms() sketch — wrong length — must degrade to NULL on
    // the SQL surface, not IndexOutOfBoundsException in every task
    registerCms()
    val viaSql = spark.sql(
      "SELECT cms_estimate(array(1L, 2L, 3L), 'tok') AS e").head()
    assert(viaSql.isNullAt(0), s"short array must yield NULL: $viaSql")
    assert(graft.functions.CountMin.estimate(Seq(1L, 2L), "tok") == null)
    assert(graft.functions.CountMin.estimate(null, "tok") == null)
  }

  test("merging partial sketches equals the single-pass sketch") {
    val agg = graft.functions.CountMin.aggregator
    val keys = (0 until 500).map(i => s"tok_${i % 37}")
    val whole = keys.foldLeft(agg.zero)(agg.reduce)
    val (l, r) = keys.splitAt(keys.length / 3)
    val merged = agg.merge(
      l.foldLeft(agg.zero)(agg.reduce),
      r.foldLeft(agg.zero)(agg.reduce))
    assert(java.util.Arrays.equals(whole, merged),
      "merge must be exactly the elementwise sum of partials")
    assert(graft.functions.CountMin.estimate(whole.toSeq, "tok_0") >= 14,
      "tok_0 appears 14 times in the stream")
  }
}
