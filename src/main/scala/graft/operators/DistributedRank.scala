package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Distributed two-pass global ranking (VERDICT r1 #9 / r2 #6: the
  * window family's 100x scale answer).
  *
  * `Window.orderBy` with no partition key funnels every row through ONE
  * task — semantically exact and harmless on a dimension table, but a
  * scale-killer on a fact table. This operator computes the same NTILE
  * / PERCENT_RANK / global row number with no single-task global sort:
  *
  *   1. draw explicit range SPLIT POINTS for the sort key once, at
  *      operator-call time, and freeze them as literals (see below);
  *   2. assign every row a range-bucket id `_gr_pid` with a balanced
  *      binary-search expression over those literals — a pure,
  *      codegen-friendly function of the row's own key, O(log parts)
  *      struct comparisons per row;
  *   3. count rows per bucket — one row per BUCKET, not per data row —
  *      and prefix-sum the counts into bucket start offsets (a window
  *      over at most `parts` rows);
  *   4. broadcast-join the offsets back onto the data by bucket id;
  *      bucket offset + local row_number (a window PARTITIONED by
  *      `_gr_pid`, so the data shuffles once, on the bucket id) is then
  *      the exact global row number, computed independently per bucket.
  *
  * Determinism is BY CONSTRUCTION, not by plan shape: `_gr_pid` depends
  * only on the row's key and the frozen literal bounds, so every
  * re-materialization, task retry, or downstream plan change (the r10
  * sf1 bug: a coalesce(1) file write broke ReusedExchange and Spark's
  * RangePartitioner — whose sample seed folds in the RDD id — drew
  * different bounds per materialization, silently colliding ranks)
  * computes identical bucket ids. This replaces the r10 interim fix,
  * which pinned the entire ranged input with persist(MEMORY_AND_DISK) —
  * correct, but a full-fact-table cache entry per call at 100 TB. There
  * is no persist and no pin lifecycle here; nothing to release.
  *
  * Bound quality affects only BALANCE, never correctness: with skewed
  * or unlucky samples some buckets are larger, with an empty sample
  * everything lands in bucket 0 (the degenerate-but-exact single
  * partition). The bounds come from ONE sketch job over the input — a
  * deterministic fixed-seed reservoir per input partition, the same
  * cost class as the sampling pass Spark's own RangePartitioner runs —
  * followed by a driver-side sort of the ~`20*parts` candidates under
  * Catalyst's InterpretedOrdering (the exact comparator the runtime
  * sort and `<=` use, nulls-first per field) and an evenly-spaced
  * weighted pick. Candidate weighting is rows-represented-per-
  * candidate, so differently-sized input partitions don't tilt the
  * split points.
  *
  * Scale note: the data's one shuffle is HASH on `_gr_pid` (the window
  * exchange). With `parts` ≈ the shuffle partition count, balls-in-bins
  * leaves ~1/e of reducers empty; pass `parts` at 2–4x the intended
  * parallelism on a real cluster so every reducer draws work. The
  * offsets frame stays ≤ `parts` rows — metadata — at any setting.
  *
  * The sort key must be an ascending TOTAL order of non-SortOrder
  * columns (append a unique tiebreaker, as the declared contract's
  * `(c_acctbal, c_custkey)` does). Under a total order rank ==
  * row_number, which makes NTILE and PERCENT_RANK exact; with ties use
  * [[withRankColsTieSafe]]. NULL keys sort first (asc nulls-first),
  * exactly as the window form does: the bucket expression's struct
  * comparison and the per-bucket window sort share Spark's one
  * interpreted ordering.
  */
object DistributedRank {

  /** Split points for `sortCols` over `df`: up to `parts - 1` key
    * structs, ascending, deduplicated. ONE deterministic sketch job
    * (fixed-seed reservoir per input partition, InternalRow on the
    * wire — no per-row external conversion); the ~`20*parts` sampled
    * candidates sort in the DRIVER under Catalyst's own
    * InterpretedOrdering — the same field-by-field asc-nulls-first
    * comparator Spark's sort and the bucket expression's `<=` use, so
    * the picks cannot diverge from runtime ordering. The result is
    * driver-side metadata (the same class as the offset broadcast)
    * that callers embed as literals.
    */
  private[graft] def collectBounds(df: DataFrame, sortCols: Seq[Column],
      parts: Int): Seq[Row] = {
    if (parts <= 1) return Nil
    val keyed = df.select(struct(sortCols: _*).as("_gr_key"))
    val keyType = keyed.schema.head.dataType
    val rdd = keyed.queryExecution.toRdd
    val nIn = math.max(rdd.getNumPartitions, 1)
    // ~20 candidates per requested bucket, spread over input partitions
    val perPart = math.min(4096,
      math.max(16, (20L * parts / nIn).toInt + 1))
    // one pass: fixed-seed reservoir + exact count per input partition.
    // The seed folds in only the partition INDEX — never the RDD id or
    // a clock — so the same input draws the same candidates every call.
    // Rows are retained via copy(): the scan iterator reuses its row.
    val sketch = rdd.mapPartitionsWithIndex { (idx, it) =>
      val rng = new java.util.Random(0x9E3779B97F4A7C15L ^ idx)
      val buf = new Array[org.apache.spark.sql.catalyst.InternalRow](perPart)
      var n = 0L
      while (it.hasNext) {
        val r = it.next()
        if (n < perPart) buf(n.toInt) = r.copy()
        else {
          val j = math.floor(rng.nextDouble() * (n + 1)).toLong
          if (j < perPart) buf(j.toInt) = r.copy()
        }
        n += 1
      }
      Iterator.single((n, buf.take(math.min(n, perPart.toLong).toInt)))
    }.collect()
    val total = sketch.map(_._1).sum
    if (total == 0L) return Nil
    // weight = rows each candidate represents, so differently-sized
    // input partitions don't tilt the split points
    val cand = sketch.toSeq.flatMap { case (n, rows) =>
      val w = if (rows.isEmpty) 0.0 else n.toDouble / rows.length
      rows.toSeq.map(r => (r, w))
    }
    val ord = org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
      .forSchema(Seq(keyType))
    val sorted = cand.sortBy(_._1)(ord)
    val w = sorted.map(_._2).sum
    val toScala = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(keyType)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.catalyst.InternalRow]
    var cum = 0.0
    var j = 1
    sorted.foreach { case (r, cw) =>
      cum += cw
      if (j < parts && cum >= w * j / parts) {
        if (out.isEmpty || ord.compare(out.last, r) != 0) out += r
        // one heavy candidate can span several targets; it still yields
        // ONE split point (duplicates would bucket identically anyway)
        while (j < parts && cum >= w * j / parts) j += 1
      }
    }
    val nFields = keyType.asInstanceOf[StructType].length
    out.toSeq.map(r => toScala(r.getStruct(0, nFields)).asInstanceOf[Row])
  }

  /** A collected bound as ONE struct Literal node typed exactly as the
    * key schema (field names included — struct comparison requires
    * type equality, though `sameType` ignores nullability). A
    * `struct(lit(_).cast(_))` spelling would be ~10 expression nodes
    * per bound that every downstream analysis re-resolves; with 31
    * bounds inside a when-tree that is real per-query planning time for
    * zero runtime difference.
    *
    * Fields are forced NULLABLE in the literal's type: the sampled row
    * may carry NULL key fields (NULLs sort first and are perfectly
    * valid split points), and a nullable `boundsFrom` proxy can feed
    * bounds to a df whose own key schema is non-nullable — freezing a
    * NULL into a literal declared non-nullable would violate Catalyst's
    * nullability invariant (codegen may skip the null check and read
    * garbage). Comparison binding is unaffected: BinaryComparison
    * checks `sameType`, which ignores nullability. */
  private def boundLit(b: Row, key: StructType): Column =
    org.apache.spark.sql.GraftPlanBridge.column(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        b, StructType(key.fields.map(_.copy(nullable = true)))))

  /** Bucket id in [0, bounds.length] as a balanced when/otherwise tree:
    * O(log parts) struct comparisons per row, all codegen'd. Bucket i
    * holds keys in (bounds(i-1), bounds(i)]; keys above the last bound
    * (and, via struct ordering, inner-NULL keys below the first) land
    * in the end buckets, matching asc nulls-first window order.
    */
  private def bucketCol(key: Column, bounds: IndexedSeq[Column]): Column = {
    def tree(lo: Int, hi: Int): Column =
      if (lo == hi) lit(lo)
      else {
        val mid = (lo + hi) / 2
        when(key <= bounds(mid), tree(lo, mid)).otherwise(tree(mid + 1, hi))
      }
    if (bounds.isEmpty) lit(0) else tree(0, bounds.length)
  }

  /** `df` plus `_gr_pid`: the frozen-literal range-bucket id for
    * `sortCols` (see class doc — pure function of the row, so every
    * consumer and every retry sees the same bucketing). The result is
    * hash-repartitioned on `_gr_pid` so the offsets aggregate and the
    * data window both hang off ONE exchange (ReusedExchange): upstream
    * lineage — possibly an expensive sub-pipeline, as in the sweep-line
    * caller — is computed once by the exchange's map stage, not once
    * per consumer. Unlike the r10 persist pin this sharing is a pure
    * OPTIMIZATION: if a plan shape ever defeats reuse, both consumers
    * still bucket identically off the literal bounds.
    *
    * `boundsFrom`, when given, is a CHEAP PROXY to sample instead of
    * `df` itself — legitimate precisely because bounds affect only
    * balance: a caller whose input is an expensive sub-pipeline (the
    * sweep-line's session deltas) can hand any frame whose columns
    * match a PREFIX of `sortCols` in data type and approximate the key
    * distribution (raw event timestamps for session endpoints), and
    * the sketch job scans that instead of recomputing the pipeline.
    * Bucketing then splits on the prefix only — rows equal on the
    * prefix co-bucket (order across buckets still holds; a
    * low-cardinality prefix costs balance, never correctness).
    */
  private def withBucket(df: DataFrame, sortCols: Seq[Column],
      parts: Int, boundsFrom: Option[(DataFrame, Seq[Column])]): DataFrame = {
    val (srcDf, srcCols) = boundsFrom.getOrElse((df, sortCols))
    val k = srcCols.length
    require(k >= 1 && k <= sortCols.length,
      s"boundsFrom must cover a non-empty prefix of sortCols: $k")
    val keyPrefix = struct(sortCols.take(k): _*)
    val keyType = df.select(keyPrefix.as("_gr_key")).schema.head
      .dataType.asInstanceOf[StructType]
    if (boundsFrom.isDefined) {
      val srcType = srcDf.select(struct(srcCols: _*).as("_gr_key")).schema
        .head.dataType.asInstanceOf[StructType]
      require(srcType.fields.map(_.dataType).toSeq ==
        keyType.fields.map(_.dataType).toSeq,
        s"boundsFrom column types ${srcType.simpleString} must match " +
          s"the sortCols prefix ${keyType.simpleString}")
    }
    // the literal is typed with DF's OWN prefix struct (field names
    // included — struct comparison requires exact type equality), so a
    // proxy frame with different column names still binds correctly
    val bounds = collectBounds(srcDf, srcCols, parts)
      .map(boundLit(_, keyType)).toIndexedSeq
    df.withColumn("_gr_pid", bucketCol(keyPrefix, bounds))
      .repartition(parts, col("_gr_pid"))
  }

  /** Adds `_gr_rank` (global 1-based row number, bigint), `nt`
    * (NTILE(`numBuckets`), int) and `pct` (PERCENT_RANK, double) to
    * `df`, ordered by `sortCols`. Intermediate `_gr_*` helper columns
    * are dropped; `_gr_rank` is kept for callers that want the raw
    * rank. `boundsFrom` is the same cheap-proxy knob as
    * [[withRunningSum]]'s (see [[withBucket]]): rank callers with an
    * expensive upstream pipeline can sample a raw-table stand-in
    * instead of paying a full extra materialization for the sketch job.
    */
  def withRankCols(df: DataFrame, sortCols: Seq[Column], numBuckets: Int,
      parts: Int = 32,
      boundsFrom: Option[(DataFrame, Seq[Column])] = None): DataFrame =
    ranked(df, sortCols, numBuckets, parts, boundsFrom).drop("_gr_total")

  /** Exact under DUPLICATE sort keys: `_gr_rank` and `pct` follow
    * `rank()` / `percent_rank()` window semantics (equal keys share the
    * min row number) instead of silently diverging. One extra window
    * partitioned BY the sort key — shuffles on the key, still no
    * global single-task sort. `nt` stays row_number-based within a tie
    * group, exactly as window NTILE is.
    */
  def withRankColsTieSafe(df: DataFrame, sortCols: Seq[Column],
      numBuckets: Int, parts: Int = 32,
      boundsFrom: Option[(DataFrame, Seq[Column])] = None): DataFrame = {
    val wKey = Window.partitionBy(sortCols: _*)
    ranked(df, sortCols, numBuckets, parts, boundsFrom)
      .withColumn("_gr_rank", min(col("_gr_rank")).over(wKey))
      .withColumn("pct", pctCol)
      .drop("_gr_total")
  }

  /** PERCENT_RANK from `_gr_rank` / `_gr_total`: (rank-1)/(total-1),
    * 0.0 for the single-row edge — shared by the plain and tie-safe
    * paths so the semantics cannot diverge. */
  private def pctCol: Column =
    when(col("_gr_total") > 1,
      (col("_gr_rank") - 1).cast("double") / (col("_gr_total") - 1))
    .otherwise(lit(0.0))

  /** Adds `_gr_psum` — the exact global running sum of `valueCol`
    * (bigint) over the total `sortCols` order — via the same two-pass
    * frozen-bounds scheme as the ranks: per-bucket sums prefix into
    * start offsets (metadata-sized window), local running sums add the
    * broadcast offset. No single-task global sort; the interval
    * sweep-line primitive (concurrency counting, inventory balance)
    * at fact-table scale. `sortCols` must be a total order.
    */
  def withRunningSum(df: DataFrame, sortCols: Seq[Column], valueCol: Column,
      parts: Int = 32,
      boundsFrom: Option[(DataFrame, Seq[Column])] = None): DataFrame = {
    val ranged = withBucket(df, sortCols, parts, boundsFrom)
      .withColumn("_gr_v", valueCol.cast("bigint"))
    val wOff = Window.orderBy(col("_gr_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy(col("_gr_pid"))
      .agg(sum(col("_gr_v")).as("_gr_cnt"))
      .select(col("_gr_pid"),
        coalesce(sum(col("_gr_cnt")).over(wOff), lit(0L)).as("_gr_off"))
    val wLocal = Window.partitionBy(col("_gr_pid")).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged
      .join(broadcast(offsets), Seq("_gr_pid"))
      .withColumn("_gr_psum", col("_gr_off") + sum(col("_gr_v")).over(wLocal))
      .drop("_gr_pid", "_gr_v", "_gr_off")
  }

  private def ranked(df: DataFrame, sortCols: Seq[Column], numBuckets: Int,
      parts: Int,
      boundsFrom: Option[(DataFrame, Seq[Column])]): DataFrame = {
    require(numBuckets > 0, s"numBuckets must be positive: $numBuckets")
    val ranged = withBucket(df, sortCols, parts, boundsFrom)
    // Pass 1: per-bucket counts -> start offsets. <= `parts` rows, so
    // the orderBy-without-partition window here is metadata-sized.
    val wOff = Window.orderBy(col("_gr_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy(col("_gr_pid"))
      .agg(count(lit(1)).as("_gr_cnt"))
      .select(col("_gr_pid"),
        coalesce(sum(col("_gr_cnt")).over(wOff), lit(0L)).as("_gr_off"),
        sum(col("_gr_cnt")).over(Window.partitionBy()).as("_gr_total"))
    // Pass 2: local row_number per bucket + broadcast offset.
    val wLocal = Window.partitionBy(col("_gr_pid")).orderBy(sortCols: _*)
    val q = expr("_gr_total div " + numBuckets)
    val r = expr("_gr_total % " + numBuckets)
    // NTILE semantics: the first (total mod n) buckets hold one extra
    // row. When total < n, r = total and the first branch covers every
    // rank with bucket size q+1 = 1 (the ELSE's q=0 divisor is never
    // evaluated — CASE short-circuits).
    val nt = when(col("_gr_rank") <= r * (q + lit(1L)),
        expr(s"(_gr_rank - 1) div (_gr_total div $numBuckets + 1)") + lit(1L))
      .otherwise(r + expr(
        s"""(_gr_rank - (_gr_total % $numBuckets)
           |  * (_gr_total div $numBuckets + 1) - 1)
           | div (_gr_total div $numBuckets)""".stripMargin) + lit(1L))
    ranged
      .join(broadcast(offsets), Seq("_gr_pid"))
      .withColumn("_gr_rank", col("_gr_off") + row_number().over(wLocal))
      .withColumn("nt", nt.cast("int"))
      .withColumn("pct", pctCol)
      .drop("_gr_pid", "_gr_off")
  }
}
