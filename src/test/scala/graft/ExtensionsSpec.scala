package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{AsOfJoinStrategy, PruneColumnsThroughAsOf, PushFilterThroughAsOf}

/** GraftExtensions installs the custom functions session-wide. */
class ExtensionsSpec extends AnyFunSuite {

  /** Runs `body` on a NEW session over the suite-shared SparkContext
    * (extensions bind at session build; getOrCreate would return the
    * shared one), then restores the shared session. */
  private def withSession[T](b: SparkSession.Builder)(body: SparkSession => T): T = {
    val prev = TestSpark.spark
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try body(b.getOrCreate())
    finally {
      // don't stop the JVM-wide SparkContext
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  private def rows(s: SparkSession, q: String): Seq[String] =
    SparkEntry.queries(q)(s, TestSpark.sf0001).collect().map(_.toString).toSeq

  test("fdot/minhash128 resolve via SparkSessionExtensions in plain SQL") {
    withSession(GraftSession.builder("ext", 2)) { s =>
      val dot = s.sql(
        """SELECT fdot(array(cast(1.0 as float), cast(2.0 as float)),
          |            array(cast(3.0 as float), cast(4.0 as float))) AS d"""
          .stripMargin).head.getDouble(0)
      assert(dot == 11.0)
      val mh = s.sql(
        """SELECT minhash128(h) AS mh
          |FROM (SELECT xxhash64(x) AS h FROM VALUES ('a'), ('b') AS t(x))"""
          .stripMargin).head.getSeq[Long](0)
      assert(mh.length == 128)
      val sigs = s.sql(
        """SELECT lsh_sigs(array_repeat(cast(0.5 as float), 64)) AS sigs""")
        .head.getSeq[Int](0)
      assert(sigs.length == graft.queries.AnnLsh.tables)
      assert(sigs.forall(v => v >= 0 && v < (1 << graft.queries.AnnLsh.bits)))
    }
  }

  private val installProbes =
    Seq("q_join_asof", "q_sim_cosine_topk", "q_dedup_minhash_lsh",
      "q_etl_catalog_table")

  test("SparkEntry.queries install what a session built without GraftExtensions lacks") {
    val want = installProbes.map(q => q -> rows(TestSpark.spark, q)).toMap
    withSession(SparkSession.builder()
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")) { s =>
      assert(!s.sessionState.functionRegistry.functionExists(
        FunctionIdentifier("fdot")), "the probe session must start plain")
      installProbes.foreach { q =>
        val got = rows(s, q)
        assert(got.nonEmpty && got == want(q), s"$q differs on a plain session")
      }
    }
  }

  test("install adds nothing to a session built with GraftExtensions") {
    withSession(SparkSession.builder().withExtensions(new GraftExtensions)) { s =>
      val state = s.sessionState
      // per batch name, how often it holds each AsOf rule; Spark runs
      // injected rules in both operator-optimization batches
      def holders() = Seq(PushFilterThroughAsOf, PruneColumnsThroughAsOf)
        .map(r => r -> state.optimizer.batches
          .map(b => b.name -> b.rules.count(_ == r)).filter(_._2 > 0))
      val built = holders()
      rows(s, "q_join_asof")
      rows(s, "q_join_asof")
      assert(state.planner.strategies.count(_ == AsOfJoinStrategy) == 1)
      assert(built.forall { case (_, held) =>
        held.nonEmpty && held.forall(_._2 == 1) }, built)
      assert(holders() == built, "install added a second copy of an AsOf rule")
    }
  }

  test("fdot codegen and interpreted eval agree with a plain-Scala reference") {
    // same three-way parity law as lsh_sigs (AnnLshSpec): the
    // projection path runs doGenCode, direct eval runs nullSafeEval —
    // a drift between the mirrors would score the same pair
    // differently depending on plan shape. Exact-half floats keep the
    // comparison noise-free; accumulation order is ascending in all
    // three, so doubles match bit-for-bit
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val spark = TestSpark.spark
    import spark.implicits._
    val vecGen = Gen.listOfN(5, Gen.chooseNum(-8, 8)).map(_.map(_.toFloat / 2))
    val pairs = (0 until 20).flatMap(i => Gen.zip(vecGen, vecGen)
      .apply(Gen.Parameters.default, Seed(3100L + i)))
    assert(pairs.size >= 16)
    val want = pairs.map { case (a, b) =>
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) =>
        acc + x.toDouble * y.toDouble }
    }
    val viaDf = pairs.toDF("a", "b")
      .selectExpr("fdot(cast(a as array<float>), cast(b as array<float>))")
      .collect().map(_.getDouble(0)).toSeq
    val viaEval = pairs.map { case (a, b) =>
      def lit(v: Seq[Float]) =
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          v.toArray, org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType))
      graft.functions.FloatDot(lit(a), lit(b)).eval(null)
        .asInstanceOf[Double]
    }
    assert(viaDf == want, "codegen diverges from the reference")
    assert(viaEval == want, "interpreted eval diverges from the reference")
  }

  test("fdot yields NULL for length mismatch and NULL elements") {
    val spark = TestSpark.spark
    def one(sql: String) = spark.sql(s"SELECT $sql AS d").head()
    // mismatched lengths: the zip_with/aggregate form fdot documents
    // itself equivalent to pads with NULL and the sum is poisoned —
    // truncating to the shorter side would be a plausible-but-WRONG
    // similarity score
    assert(one("""fdot(array(cast(1.0 as float)),
      | array(cast(1.0 as float), cast(2.0 as float)))""".stripMargin)
      .isNullAt(0))
    // a NULL element poisons the product the same way
    assert(one("""fdot(array(cast(1.0 as float), cast(null as float)),
      | array(cast(1.0 as float), cast(2.0 as float)))""".stripMargin)
      .isNullAt(0))
    // NULL input arrays stay NULL; equal-length non-null stays exact
    assert(one("fdot(cast(null as array<float>), array(cast(1.0 as float)))")
      .isNullAt(0))
    assert(one("""fdot(array(cast(2.0 as float), cast(3.0 as float)),
      | array(cast(4.0 as float), cast(5.0 as float)))""".stripMargin)
      .getDouble(0) == 23.0)
  }

  test("minhash128 implicitly casts INT input instead of crashing tasks") {
    val spark = TestSpark.spark
    // an INT column reaches the aggregate through an analysis-time
    // CAST to BIGINT (ImplicitCastInputTypes) — before the fix this
    // was a per-task ClassCastException at runtime
    val viaInt = spark.sql(
      "SELECT minhash128(x) FROM VALUES (1), (2) AS t(x)")
      .head.getSeq[Long](0)
    val viaLong = spark.sql(
      "SELECT minhash128(x) FROM VALUES (1L), (2L) AS t(x)")
      .head.getSeq[Long](0)
    assert(viaInt == viaLong)
  }
}
