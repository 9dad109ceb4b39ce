package graft

import org.scalatest.funsuite.AnyFunSuite

/** MinHash+LSH contract (SURVEY §2B q_dedup_minhash_lsh, declared
  * no-oracle): banding candidates must contain every exact-Jaccard>=0.6
  * pair (recall 1.0 against q_dedup_near_jaccard), and sketch estimates
  * must track exact Jaccard. */
class MinHashSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("LSH candidates have full recall vs exact Jaccard pairs (sf0.01)") {
    val exact = SparkEntry.queries("q_dedup_near_jaccard")(spark, TestSpark.sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain near-dup pairs at sf0.01")
    val cand = SparkEntry.queries("q_dedup_minhash_lsh")(spark, TestSpark.sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = exact -- cand
    assert(missed.isEmpty, s"LSH missed true pairs: $missed")
    info(s"recall=1.0 over ${exact.size} true pairs; " +
      s"candidates=${cand.size} (precision=${exact.size.toDouble / cand.size})")
  }

  test("sketch similarity estimate tracks exact Jaccard") {
    import spark.implicits._
    // two sets with known overlap: |A|=|B|=100, |A∩B|=80 → J = 80/120
    val a = (0 until 100).map(i => ("a", s"tok_$i"))
    val b = (20 until 120).map(i => ("b", s"tok_$i"))
    val mh = (a ++ b).toDF("id", "tok")
      .selectExpr("id", "xxhash64(tok) AS h")
      .groupBy($"id").agg(org.apache.spark.sql.functions.expr("minhash128(h)").as("mh"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val est = mh("a").zip(mh("b")).count { case (x, y) => x == y } / 128.0
    val exact = 80.0 / 120.0
    assert(math.abs(est - exact) < 0.15,
      s"estimate $est too far from exact $exact")
  }

  test("minhash aggregate is merge-consistent (partition-order invariant)") {
    import spark.implicits._
    def sketch(parts: Int): Seq[Long] =
      (0 until 1000).map(i => s"tok_$i").toDF("tok")
        .repartition(parts)
        .selectExpr("xxhash64(tok) AS h")
        .agg(org.apache.spark.sql.functions.expr("minhash128(h)").as("mh"))
        .collect().head.getSeq[Long](0)
    assert(sketch(1) == sketch(7), "sketch must not depend on partitioning")
  }
}
