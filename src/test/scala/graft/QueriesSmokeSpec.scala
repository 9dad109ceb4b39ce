package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every declared query runs on sf0.001 and is deterministic across
  * re-execution (the driver hash-compares, so instability = failure). */
class QueriesSmokeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** KLL compaction is randomized BY DESIGN (the published algorithm's
    * guarantee is probabilistic rank error, and DataSketches' random
    * source is a JVM-wide static shared across tasks, so no seed trick
    * survives parallel merge). Its run-to-run stability claim is the
    * AggSpec rank-error gate, which holds for every run; here we only
    * check shape stability. All other queries must be bitwise stable —
    * the driver hash-compares. */
  private val valueUnstable = Set("q_agg_kll_reaggregate")

  /** A query never rebinds a catalog: Spark caches a plugin at first
    * use, so a query-level rebinding would silently miss. */
  private def catalogConfs(): Map[String, String] =
    spark.conf.getAll.filter(_._1.startsWith("spark.sql.catalog."))

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs on sf0.001 and is deterministic") {
      GraftExtensions.install(spark)
      val catalogs = catalogConfs()
      val r1 = fn(spark, TestSpark.sf0001).collect()
      val r2 = fn(spark, TestSpark.sf0001).collect()
      assert(catalogConfs() == catalogs, s"$name changed the catalog confs")
      if (valueUnstable(name))
        assert(r1.length == r2.length && r1.length > 0,
          s"$name returned different row counts across runs")
      else
        assert(r1.map(_.toString).toSeq == r2.map(_.toString).toSeq,
          s"$name returned different results across runs")
    }
  }

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has either an oracle or a documented exemption") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // §2B declared-no-oracle set (ScalaTest-covered instead)
    assert(noOracle == Set("q_agg_approx_hll", "q_agg_approx_quantile",
      "q_agg_heavy_hitters", "q_agg_hll_reaggregate",
      "q_agg_kll_reaggregate", "q_agg_topk_cms", "q_agg_theta_segments",
      "q_dedup_minhash_lsh", "q_sim_ann_lsh", "q_sim_ann_ivf",
      "q_sim_ann_pq"))
  }
}
