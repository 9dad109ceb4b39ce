package graft.plans

import org.apache.spark.sql.{DataFrame, GraftPlanBridge}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}

/** User-facing surface for the native as-of join. */
object AsOf {

  /** left-as-of join: every `left` row + `asof_ts` from the same user
    * key (NULL if none) — direction "backward" (default): greatest
    * strictly-earlier right time; "forward": smallest strictly-later;
    * "nearest": closer of the two, ties backward.
    * Key columns must be LONG; time columns TIMESTAMP or
    * TIMESTAMP_NTZ (both micros-backed), same flavor on both sides;
    * `asof_ts` carries the right side's flavor.
    *
    * Wrapping the right side in `functions.broadcast(...)` selects the
    * broadcast build: the small side ships to every executor as a sorted
    * per-key index and the big probe side keeps its partitioning — no
    * shuffle or sort of the left input at all.
    *
    * Plans only on a session holding [[graft.GraftExtensions]]. */
  def join(left: DataFrame, right: DataFrame,
      leftUserCol: String, leftTimeCol: String,
      rightUserCol: String, rightTimeCol: String,
      direction: String = "backward"): DataFrame = {
    require(Set("backward", "forward", "nearest")(direction),
      s"unknown as-of direction: $direction")
    val spark = left.sparkSession
    val lPlan = left.queryExecution.analyzed
    // a broadcast() hint on the right input selects the broadcast build;
    // strip the hint node (it is not a Catalyst Join, so the stock
    // EliminateResolvedHint would only warn and drop it later)
    val (rPlan, bcast) = right.queryExecution.analyzed match {
      case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) =>
        (h.child, true)
      case other => (other, false)
    }
    // type check at ANALYSIS time (the MinHash rule): the physical
    // operators read keys with getLong/getTimestamp-shaped casts, so a
    // wrong-typed column would otherwise surface as a per-task
    // ClassCastException inside every executor instead of one clear
    // driver-side error
    // resolve with the SESSION resolver, not name ==: a bare find would
    // silently bind the FIRST of two same-named columns (common after a
    // prior join) — wrong asof_ts values with no error — and would be
    // case-sensitive regardless of spark.sql.caseSensitive
    val resolver = spark.sessionState.conf.resolver
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        name: String,
        expected: Seq[org.apache.spark.sql.types.DataType],
        role: String) = {
      val matches = plan.output.filter(a => resolver(a.name, name))
      require(matches.size <= 1,
        s"as-of join: $role column $name is ambiguous — " +
          s"${matches.size} columns match in ${plan.output.map(_.name)}")
      val a = matches.headOption.getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${plan.output.map(_.name)}"))
      require(expected.contains(a.dataType),
        s"as-of join: $role column $name must be " +
          s"${expected.mkString(" or ")}, is ${a.dataType}")
      a
    }
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // both timestamp flavors are micros-as-Long to the physical
    // operators, so either works — but the two sides must agree (an
    // instant vs a wall-clock time are not comparable quantities)
    val lTime =
      attr(lPlan, leftTimeCol, Seq(TimestampType, TimestampNTZType),
        "left time")
    val rTime =
      attr(rPlan, rightTimeCol, Seq(lTime.dataType), "right time")
    GraftPlanBridge.ofRows(spark, AsOfJoin(lPlan, rPlan,
      attr(lPlan, leftUserCol, Seq(LongType), "left key"), lTime,
      attr(rPlan, rightUserCol, Seq(LongType), "right key"), rTime,
      direction, broadcastRight = bcast,
      asOfOutput = org.apache.spark.sql.catalyst.expressions
        .AttributeReference("asof_ts", rTime.dataType, nullable = true)()))
  }
}
