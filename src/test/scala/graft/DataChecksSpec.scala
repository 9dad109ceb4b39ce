package graft

import graft.operators.DataChecks
import graft.operators.DataChecks._
import org.scalatest.funsuite.AnyFunSuite

class DataChecksSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def report(rows: Seq[(String, Long)]): Map[String, Long] =
    rows.toMap

  test("each check type counts exactly its own violations") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("a"), 5.0, "X"),
      (2L, None, 5.0, "Y"),      // null name
      (3L, Some("c"), 99.0, "X"), // range
      (4L, Some("d"), 5.0, "Z"),  // set
      (5L, Some("e"), 5.0, "X"),
      (5L, Some("e2"), 6.0, "Y")  // duplicate id 5
    ).toDF("id", "name", "v", "cat")
    val dim = Seq(1L, 2L, 3L, 5L).toDF("k") // 4 is an orphan
    val got = report(DataChecks.audit(df, Seq(
        NotNull("name"), InRange("v", 0, 10), InSet("cat", Seq("X", "Y")),
        Unique(Seq("id")), ForeignKey("id", dim, "k")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq)
    assert(got == Map(
      "not_null(name)" -> 1L, "in_range(v)" -> 1L, "in_set(cat)" -> 1L,
      "unique(id)" -> 1L, "fk(id)" -> 1L))
  }

  test("null values pass range/set/fk checks (SQL unknown semantics)") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), Some(5.0), Some("X")),
      (None, None, None) // null everywhere: only not_null may fire
    ).toDF("id", "v", "cat")
    val dim = Seq(1L).toDF("k")
    val got = report(DataChecks.audit(df, Seq(
        NotNull("id"), InRange("v", 0, 10), InSet("cat", Seq("X")),
        ForeignKey("id", dim, "k")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq)
    assert(got == Map("not_null(id)" -> 1L, "in_range(v)" -> 0L,
      "in_set(cat)" -> 0L, "fk(id)" -> 0L))
  }

  test("clean table reports zero for every check, one row per check") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val dim = Seq(1L, 2L).toDF("k")
    val rows = DataChecks.audit(df, Seq(
        NotNull("name"), Unique(Seq("id")), ForeignKey("id", dim, "k")))
      .collect()
    assert(rows.length == 3)
    assert(rows.forall(_.getLong(1) == 0L))
  }

  test("unique counts duplicated KEYS, not duplicated rows") {
    import spark.implicits._
    // id 7 appears 3x, id 8 appears 2x -> 2 bad keys (not 5 bad rows)
    val df = Seq(7L, 7L, 7L, 8L, 8L, 9L).toDF("id")
    val got = DataChecks.audit(df, Seq(Unique(Seq("id"))))
      .head().getLong(1)
    assert(got == 2L)
  }

  test("row-local checks fuse into a single scan of the input") {
    import spark.implicits._
    val df = Seq((1L, "a", 1.0)).toDF("id", "name", "v")
    val plan = DataChecks.audit(df, Seq(
        NotNull("name"), InRange("v", 0, 10), InSet("name", Seq("a")),
        NotNull("id")))
      .queryExecution.executedPlan.toString
    // all four compile into one aggregate: exactly one scan node
    assert("LocalTableScan".r.findAllIn(plan).size == 1, plan)
  }
}
