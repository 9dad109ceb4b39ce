package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, BindReferences, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, ClusteredDistribution, Distribution, IdentityBroadcastMode, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.TimestampType

/** Native as-of join (SURVEY §4.2's named candidate for the full
  * LogicalPlan -> Strategy -> SparkPlan stack; §2B q_join_asof keeps the
  * portable declarative formulation for the oracle, and AsOfJoinSpec
  * proves this operator equivalent).
  *
  * Semantics: for every left row, attach the greatest right `ts` that is
  * strictly earlier, within the same `user` key (NULL if none) — the
  * event-time as-of lookup every feature-store/backfill pipeline needs.
  * NULL key/time rows: a NULL-keyed (or NULL-timed) RIGHT row can never
  * match and is skipped; a NULL-keyed/-timed LEFT row is emitted with a
  * NULL as-of (the left-outer posture) — pandas merge_asof's treatment,
  * and the only sound one (unboxing a NULL Long is 0, which would
  * silently alias the real key 0).
  *
  * Scale design: requiredChildDistribution co-partitions both sides on
  * the user key (Spark inserts the hash exchanges), requiredChildOrdering
  * demands (user, ts) sort within partitions (Spark inserts local sorts),
  * and the physical merge is a single forward pass per partition — the
  * same shape as a sort-merge join, no buffering beyond one scalar, so
  * it streams at any data size.
  */
case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftUser: Expression,
    leftTime: Expression,
    rightUser: Expression,
    rightTime: Expression,
    // "backward" (latest strictly-earlier), "forward" (earliest
    // strictly-later) or "nearest" (closer of the two, ties backward)
    direction: String = "backward",
    // broadcast the right side as a sorted per-key index instead of
    // co-partitioning both sides (probe keeps its partitioning)
    broadcastRight: Boolean = false,
    // constructor param (not a body val) so the exprId survives plan
    // copies during analysis/optimization
    asOfOutput: AttributeReference =
      AttributeReference("asof_ts", TimestampType, nullable = true)())
  extends BinaryNode {

  override def output: Seq[Attribute] = left.output :+ asOfOutput
  override def producedAttributes: AttributeSet = AttributeSet(asOfOutput)

  override protected def withNewChildrenInternal(
      l: LogicalPlan, r: LogicalPlan): AsOfJoin = copy(left = l, right = r)
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftUser: Expression,
    leftTime: Expression,
    rightUser: Expression,
    rightTime: Expression,
    direction: String,
    asOfAttr: AttributeReference) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output :+ asOfAttr
  override def producedAttributes: AttributeSet = AttributeSet(asOfAttr)

  override def requiredChildDistribution: Seq[Distribution] = Seq(
    ClusteredDistribution(Seq(leftUser)),
    ClusteredDistribution(Seq(rightUser)))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftUser, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightUser, Ascending), SortOrder(rightTime, Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val lUser = BindReferences.bindReference(leftUser, left.output)
    val lTime = BindReferences.bindReference(leftTime, left.output)
    val rUser = BindReferences.bindReference(rightUser, right.output)
    val rTime = BindReferences.bindReference(rightTime, right.output)
    val nFields = left.output.size
    // hoist everything the task needs into locals: referencing
    // output/left.output/direction inside the closure would serialize
    // the whole SparkPlan subtree into every task binary
    val outTypes = output.map(_.dataType).toArray
    val leftTypes = left.output.map(_.dataType).toArray
    val dir = direction

    val wantFwd = direction == "forward" || direction == "nearest"
    val wantBwd = direction == "backward" || direction == "nearest"

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // exec contract: emit UnsafeRow (downstream shuffles serialize it);
      // consumers copy when they buffer, per Spark convention
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(outTypes)
      new Iterator[InternalRow] {
        private var rHead: InternalRow = _
        private var rHasHead = false
        // consumed-side history for the backward candidate: lastTs is the
        // max consumed ts of lastUser; lastTsPrev the max strictly below
        // it (needed because forward/nearest also consume rt == t rows,
        // which are backward candidates only for LATER left rows)
        private var lastUser = 0L
        private var lastTs = 0L
        private var lastTsPrev = 0L
        private var hasLast = false
        private var hasPrev = false

        private def advanceRight(): Unit = {
          if (rIter.hasNext) { rHead = rIter.next(); rHasHead = true }
          else rHasHead = false
        }
        advanceRight()

        private def record(u: Long, rt: Long): Unit = {
          if (!hasLast || lastUser != u) {
            lastUser = u; lastTs = rt; hasLast = true; hasPrev = false
          } else if (rt > lastTs) {
            lastTsPrev = lastTs; hasPrev = true; lastTs = rt
          }
        }

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val lRow = lIter.next()
          val uAny = lUser.eval(lRow)
          val tAny = lTime.eval(lRow)
          // NULL key or time on the left: no right row can match — emit
          // the row with a NULL as-of (the left-outer posture) WITHOUT
          // consuming, and never unbox (null.asInstanceOf[Long] is 0L,
          // which would silently alias the real key/time 0)
          if (uAny == null || tAny == null) return emit(lRow, null)
          val u = uAny.asInstanceOf[Long]
          val t = tAny.asInstanceOf[Long]
          // consume right rows ordered before (u, t): always rt < t, and
          // for forward/nearest also rt == t (excluded from both
          // candidates — the bounds are strict on both sides). Right
          // rows with a NULL key/time sort FIRST (ascending NULLS
          // FIRST, the ordering this node demands) and can never
          // match — skip them.
          var continue = rHasHead
          while (continue) {
            val ruAny = rUser.eval(rHead)
            val rtAny = rTime.eval(rHead)
            if (ruAny == null || rtAny == null) {
              advanceRight()
              continue = rHasHead
            } else {
              val ru = ruAny.asInstanceOf[Long]
              val rt = rtAny.asInstanceOf[Long]
              if (ru < u || (ru == u && (rt < t || (wantFwd && rt == t)))) {
                if (ru == u) record(u, rt)
                advanceRight()
                continue = rHasHead
              } else continue = false
            }
          }
          // backward: greatest consumed ts of u strictly below t
          val hasBwd = wantBwd && hasLast && lastUser == u &&
            (lastTs < t || (hasPrev && lastTsPrev < t))
          val bwdTs = if (lastTs < t) lastTs else lastTsPrev
          // forward: the unconsumed head, iff it belongs to u (its ts is
          // strictly greater than t by the loop bound)
          var hasFwd = false
          var fwdTs = 0L
          if (wantFwd && rHasHead &&
              rUser.eval(rHead).asInstanceOf[Long] == u) {
            hasFwd = true; fwdTs = rTime.eval(rHead).asInstanceOf[Long]
          }
          val asOf: Any = dir match {
            case "backward" => if (hasBwd) bwdTs else null
            case "forward" => if (hasFwd) fwdTs else null
            case _ => // nearest; ties go backward
              if (hasBwd && hasFwd) {
                if (t - bwdTs <= fwdTs - t) bwdTs else fwdTs
              } else if (hasBwd) bwdTs
              else if (hasFwd) fwdTs
              else null
          }
          emit(lRow, asOf)
        }

        private def emit(lRow: InternalRow, asOf: Any): InternalRow = {
          val out = new Array[Any](nFields + 1)
          var i = 0
          while (i < nFields) {
            out(i) = lRow.get(i, leftTypes(i)); i += 1
          }
          out(nFields) = asOf
          // GenericInternalRow wraps the array directly — fromSeq over
          // toIndexedSeq would copy the values twice per emitted row
          proj(new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(out))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      l: SparkPlan, r: SparkPlan): AsOfJoinExec = copy(left = l, right = r)
}

object BroadcastAsOfJoinExec {
  /** Executor-side memo of built probe indexes, weakly keyed on the
    * broadcast VALUE (the per-executor cached array): entries die with
    * the broadcast when it is unpersisted and GC'd, so long-lived
    * executors running many queries cannot accumulate dead indexes.
    * The inner map distinguishes key/time expression pairs; the built
    * HashMap is read-only after computeIfAbsent publishes it, so
    * concurrent probe tasks share it safely. */
  private val indexCache = new java.util.WeakHashMap[AnyRef,
    java.util.concurrent.ConcurrentHashMap[String,
      java.util.HashMap[Long, Array[Long]]]]()

  private[plans] def indexFor(rows: AnyRef, exprKey: String,
      build: () => java.util.HashMap[Long, Array[Long]])
      : java.util.HashMap[Long, Array[Long]] = {
    val inner = indexCache.synchronized {
      var m = indexCache.get(rows)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String,
          java.util.HashMap[Long, Array[Long]]]()
        indexCache.put(rows, m)
      }
      m
    }
    inner.computeIfAbsent(exprKey, _ => build())
  }
}

/** Broadcast build of the as-of join: the right side ships whole to
  * every executor (BroadcastDistribution), is indexed once per EXECUTOR
  * (memoized weakly on the broadcast value — see the companion) into
  * sorted per-key time arrays, and each left row binary-searches it.
  * The probe side keeps its partitioning — no shuffle, no sort of the
  * big side, the same trade BroadcastHashJoin makes for equi joins. */
case class BroadcastAsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftUser: Expression,
    leftTime: Expression,
    rightUser: Expression,
    rightTime: Expression,
    direction: String,
    asOfAttr: AttributeReference) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output :+ asOfAttr
  override def producedAttributes: AttributeSet = AttributeSet(asOfAttr)

  override def requiredChildDistribution: Seq[Distribution] = Seq(
    UnspecifiedDistribution, BroadcastDistribution(IdentityBroadcastMode))

  override protected def doExecute(): RDD[InternalRow] = {
    val rUser = BindReferences.bindReference(rightUser, right.output)
    val rTime = BindReferences.bindReference(rightTime, right.output)
    // hoist into locals: the closure must not capture `this` (it would
    // serialize the whole plan subtree into every task binary), so no
    // reference to output/left.output/direction below the mapPartitions
    val lUserU = leftUser
    val lTimeU = leftTime
    val nFields = left.output.size
    val dir = direction
    val outTypes = output.map(_.dataType).toArray
    val leftOut = left.output
    val leftTypes = leftOut.map(_.dataType).toArray
    val bcRows = right.executeBroadcast[Array[InternalRow]]()

    // distinguishes two as-of joins over the SAME broadcast relation
    // with different key/time columns in the executor-side index cache
    val indexKey = rightUser.canonicalized.toString + "\u0000" +
      rightTime.canonicalized.toString

    left.execute().mapPartitions { lIter =>
      val lUser = BindReferences.bindReference(lUserU, leftOut)
      val lTime = BindReferences.bindReference(lTimeU, leftOut)
      // per-key sorted index over the broadcast, built ONCE PER
      // EXECUTOR (memoized on the broadcast value + key expressions):
      // rebuilding per task would re-hash and re-sort the whole build
      // side for every probe partition and hold one full boxed index
      // per concurrently running task — at 16 concurrent tasks that is
      // 16x the broadcast's memory for identical contents.
      // NULL-keyed/NULL-time build rows can never match (and unboxing
      // null would alias key 0) — skip them.
      val index = BroadcastAsOfJoinExec.indexFor(bcRows.value, indexKey, {
        () =>
          val idx = new java.util.HashMap[Long, Array[Long]]()
          val tmp = new java.util.HashMap[Long,
            scala.collection.mutable.ArrayBuffer[Long]]()
          bcRows.value.foreach { row =>
            val uAny = rUser.eval(row)
            val tAny = rTime.eval(row)
            if (uAny != null && tAny != null) {
              val u = uAny.asInstanceOf[Long]
              val t = tAny.asInstanceOf[Long]
              var buf = tmp.get(u)
              if (buf == null) {
                buf = scala.collection.mutable.ArrayBuffer.empty[Long]
                tmp.put(u, buf)
              }
              buf += t
            }
          }
          tmp.forEach { (u, buf) =>
            val arr = buf.toArray
            java.util.Arrays.sort(arr)
            idx.put(u, arr)
          }
          idx
      })
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(outTypes)
      lIter.map { lRow =>
        val uAny = lUser.eval(lRow)
        val tAny = lTime.eval(lRow)
        // NULL probe key/time: no match possible, as-of stays NULL
        val ts = if (uAny == null || tAny == null) null
          else index.get(uAny.asInstanceOf[Long])
        val t = if (tAny == null) 0L else tAny.asInstanceOf[Long]
        var asOf: Any = null
        if (ts != null) {
          // ip = first position with ts(i) >= t
          var ip = java.util.Arrays.binarySearch(ts, t)
          if (ip < 0) ip = -ip - 1
          else { while (ip > 0 && ts(ip - 1) == t) ip -= 1 }
          val hasBwd = ip > 0
          // first position strictly greater than t
          var fp = ip
          while (fp < ts.length && ts(fp) == t) fp += 1
          val hasFwd = fp < ts.length
          asOf = dir match {
            case "backward" => if (hasBwd) ts(ip - 1) else null
            case "forward" => if (hasFwd) ts(fp) else null
            case _ =>
              if (hasBwd && hasFwd) {
                if (t - ts(ip - 1) <= ts(fp) - t) ts(ip - 1) else ts(fp)
              } else if (hasBwd) ts(ip - 1)
              else if (hasFwd) ts(fp)
              else null
          }
        }
        val out = new Array[Any](nFields + 1)
        var i = 0
        while (i < nFields) {
          out(i) = lRow.get(i, leftTypes(i)); i += 1
        }
        out(nFields) = asOf
        // GenericInternalRow wraps the array directly (no double copy)
        proj(new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(out))
      }
    }
  }

  override protected def withNewChildrenInternal(
      l: SparkPlan, r: SparkPlan): BroadcastAsOfJoinExec =
    copy(left = l, right = r)
}

/** Planner strategy: logical AsOfJoin -> AsOfJoinExec (co-partitioned
  * merge) or BroadcastAsOfJoinExec (broadcast() hint on the right).
  * Injected via GraftExtensions (injectPlannerStrategy). */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsOfJoin if j.broadcastRight =>
      BroadcastAsOfJoinExec(planLater(j.left), planLater(j.right),
        j.leftUser, j.leftTime, j.rightUser, j.rightTime,
        j.direction, j.asOfOutput) :: Nil
    case j: AsOfJoin =>
      AsOfJoinExec(planLater(j.left), planLater(j.right),
        j.leftUser, j.leftTime, j.rightUser, j.rightTime,
        j.direction, j.asOfOutput) :: Nil
    case _ => Nil
  }
}
