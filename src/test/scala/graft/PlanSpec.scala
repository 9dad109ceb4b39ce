package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions — the 100 TB design contract (SURVEY §4.2).
  * Correctness tests prove the answers; these prove the *plans* are the
  * ones that survive a 1000-executor cluster: pushdown reaches parquet,
  * scans are pruned, dimensions broadcast, top-k never global-sorts.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString

  test("q_scan_project_filter pushes predicates into the parquet scan") {
    val p = plan("q_scan_project_filter")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("LessThanOrEqual(l_shipdate") ||
      p.contains("GreaterThan(l_quantity"), p)
  }

  test("q_scan_pruned_count reads only l_returnflag") {
    val p = plan("q_scan_pruned_count")
    assert(p.contains("ReadSchema: struct<l_returnflag:string>"), p)
  }

  test("q_filter_in_like pushes In/StringStartsWith to parquet") {
    val p = plan("q_filter_in_like")
    assert(p.contains("In(p_type") && p.contains("StringStartsWith(p_brand"), p)
  }

  test("q_join_broadcast uses BroadcastHashJoin, no shuffle of lineitem") {
    val p = plan("q_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_join_multiway broadcasts the nation and region dims") {
    val p = plan("q_join_multiway")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_topk_limit plans TakeOrderedAndProject (no global sort)") {
    val p = plan("q_topk_limit")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_sort_multi with limit also avoids a full global sort") {
    val p = plan("q_sort_multi")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_agg_pricing_summary is a two-phase hash aggregate") {
    val p = plan("q_agg_pricing_summary")
    assert(p.contains("HashAggregate"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q_sim_cosine_topk broadcasts the query side") {
    val p = plan("q_sim_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_dedup_near_jaccard candidate join is an equi join, not cartesian") {
    val p = plan("q_dedup_near_jaccard")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("q_dedup_minhash_lsh carries sketches not shingles through the join") {
    val p = plan("q_dedup_minhash_lsh")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dense-key dedup joins use shuffled hash, not sort-merge or broadcast") {
    // r3 measured: sorting both exploded sides costs ~2x on these dense
    // candidate keys, and a broadcast would pin the wrong 100 TB plan
    // (the build side grows with the corpus). Guard the SHUFFLE_HASH
    // choice for both queries.
    for (q <- Seq("q_dedup_simhash", "q_dedup_near_jaccard")) {
      val p = plan(q)
      assert(p.contains("ShuffledHashJoin"), s"$q:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q:\n$p")
    }
    // the only join in simhash is the candidate join itself, so there
    // nothing may broadcast either (near_jaccard's tiny per-doc size
    // lookups legitimately do)
    assert(!plan("q_dedup_simhash").contains("BroadcastHashJoin"))
  }

  test("q_dedup_ngram_spans joins on the window hash, never doc x doc") {
    // the flagged-window join must stay keyed on the 60-bit fingerprint
    // (SHUFFLE_HASH by hint — the dup-hash side grows with the corpus,
    // so a broadcast would pin the wrong 100 TB plan) and nothing may
    // fall back to a pair blowup
    val p = plan("q_dedup_ngram_spans")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("ShuffledHashJoin"), p)
  }

  test("q_text_decontaminate joins on the shingle key, never doc x doc") {
    val p = plan("q_text_decontaminate")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftSemi"), p)
  }

  test("bucketed join co-locates: no Exchange anywhere below the join") {
    import org.apache.spark.sql.functions.col
    // run the query once so the bucketed tables exist in the catalog
    SparkEntry.queries("q_join_bucketed")(spark, TestSpark.sf0001).collect()
    // the join-only plan: both scans expose HashPartitioning(8) from the
    // bucket layout, so the planner must not insert a shuffle on either
    // side — the whole point of paying for bucketing at write time. At
    // this toy sf the dim fits the broadcast threshold (which would
    // bypass bucketing entirely), so pin the 100 TB shape where neither
    // side broadcasts.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("graft_bucketed_orders")
        .join(spark.table("graft_bucketed_customer"),
          col("o_custkey") === col("c_custkey"))
      val p = j.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), p)
      assert(p.contains("Bucketed: true"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_join_skew_salted replicates the build side and never broadcasts") {
    val p = plan("q_join_skew_salted")
    // the salt explode (Generate) must sit on the orders side; lineitem
    // flows through with a per-row salt projection only
    assert(p.contains("Generate explode"), p)
    assert(!p.contains("CartesianProduct"), p)
    // a broadcast of the x16-replicated build would contradict the
    // technique's premise (broadcastable build => no skew problem) —
    // the join must shuffle on (key, salt)
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
  }

  test("q_join_range_band_binned joins on (user, bucket) — no nested loop") {
    val p = plan("q_join_range_band_binned")
    // the 2-bucket explode must sit on the click side, and the join
    // must be a hash/merge join whose keys include the bucket — the
    // band predicate is only a residual filter, never the join driver
    assert(p.contains("Generate explode"), p)
    assert(!p.contains("BroadcastNestedLoopJoin")
      && !p.contains("CartesianProduct"), p)
    assert(p.contains("bucket"), p)
  }

  test("q_sql_subquery decorrelates EXISTS/NOT EXISTS into semi/anti joins") {
    val p = plan("q_sql_subquery")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_win_ntile_pctrank carries no single-task global sort") {
    // VERDICT r4 #2: the contract query now routes through
    // DistributedRank. The data must flow through a HASH exchange on
    // the frozen-literal bucket id (r11: explicit bounds replaced the
    // range exchange + persist pin) and a window partitioned by
    // _gr_pid; the only unpartitioned window may be the per-bucket
    // offset prefix-sum (<= `parts` rows).
    val p = plan("q_win_ntile_pctrank")
    assert(p.contains("hashpartitioning(_gr_pid"), p)
    assert(p.contains("windowspecdefinition(_gr_pid"), p)
    // an unpartitioned ntile/percent_rank window over the DATA would
    // show the acctbal sort key inside an un-keyed window spec
    assert(!p.contains("windowspecdefinition(c_acctbal"), p)
  }

  test("q_etl_partitioned_sink prunes to the one matching partition") {
    val p = plan("q_etl_partitioned_sink")
    // the filter lands on the partition column, so the scan prunes
    // directories instead of decoding + filtering rows
    assert(p.contains("PartitionFilters: [isnotnull(l_returnflag"), p)
    assert(p.contains("= R)"), p)
    // and l_returnflag is a directory, not a data column: never read
    assert(!p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double,l_linestatus:string,l_returnflag"), p)
  }

  test("q_join_dpp plants a runtime dynamicpruning filter in the fact scan") {
    val p = plan("q_join_dpp")
    // the partition filter must be the RUNTIME subquery planted by
    // dynamic partition pruning, not a static literal — the dim's
    // verdict predicate never appears against the fact table
    assert(p.contains("dynamicpruning"), p)
    assert(p.contains("PartitionFilters"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_sample_shuffle ranks via bucket-id exchange, never one task") {
    val p = plan("q_sample_shuffle")
    assert(p.contains("hashpartitioning(_gr_pid"), p)
    // the only unpartitioned window is the metadata-sized offset frame
    // (<= 32 rows); the corpus itself must never funnel through a
    // global single-partition sort
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS")
      || p.contains("_gr_pid"), p)
  }

  test("q_join_storage_part joins and aggregates with zero hash exchanges") {
    val p = plan("q_join_storage_part")
    // the query's own require() already enforces this at build time;
    // pin it here too so a regression fails the suite, not just the run
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
  }

  test("q_join_fuzzy candidates come from an equi join, never w x w") {
    val p = plan("q_join_fuzzy")
    // the deletion-variant key must drive a hash/merge join; a plan
    // that falls back to cartesian/BNLJ is the w x w blowup the
    // banding exists to avoid
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Generate explode"), p)
  }

  test("q_source_dsv2_agg pushes the aggregation into the custom source") {
    val df = SparkEntry.queries("q_source_dsv2_agg")(spark, TestSpark.sf0001)
    val scan = df.queryExecution.sparkPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.asInstanceOf[graft.sources.GlScan]
    }.getOrElse(fail("no DSv2 scan in plan"))
    assert(scan.aggSpec.nonEmpty, scan.description())
    // scan output = group col + 4 agg cols, NOT the raw rows
    assert(scan.readSchema().fields.length == 5,
      scan.readSchema().catalogString)
  }

  test("q_source_dsv2 pushes its predicates into the custom source") {
    // the DSv2 connector (sources/GraftLines.scala) must receive the
    // comparison predicates (exact evaluation inside the reader, no
    // residual Spark Filter) and a pruned read schema: l_orderkey is
    // written but never converted on read
    val df = SparkEntry.queries("q_source_dsv2")(spark, TestSpark.sf0001)
    val scan = df.queryExecution.sparkPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.asInstanceOf[graft.sources.GlScan]
    }.getOrElse(fail("q_source_dsv2 does not scan via the DSv2 connector"))
    val pushed = scan.pushed.mkString(";")
    assert(pushed.contains("GreaterThan(l_quantity,30.0)"), pushed)
    assert(pushed.contains("Not(EqualTo(l_returnflag,N))"), pushed)
    assert(!scan.readSchema().fieldNames.contains("l_orderkey"),
      scan.readSchema().catalogString)
    assert(df.queryExecution.sparkPlan
      .collect { case f: org.apache.spark.sql.execution.FilterExec => f }
      .isEmpty, df.queryExecution.sparkPlan.toString)
  }

  test("graftlines pushes <=> and prefix LIKE with zero residual Filter") {
    // r14: EqualNullSafe and StringStartsWith have exact three-valued
    // semantics in GlFilters, so both must be ACCEPTED at push time —
    // no residual FilterExec left in the plan — and still answer
    // correctly (the differential law lives in GlFilterSemanticsSpec;
    // this pins the plan shape)
    import spark.implicits._
    val p = GraftTmp.dir("plan_nullsafe_gl")
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(p), true)
    Seq[(java.lang.Long, String)]((5L, "apple"), (5L, null),
      (null, "avocado"), (null, null), (3L, "pear"))
      .toDF("v", "s").coalesce(1)
      .write.format("graftlines").mode("append").save(p)
    val df = spark.read.format("graftlines").load(p)
      .filter("v <=> 5 AND s LIKE 'a%'")
    val scan = df.queryExecution.sparkPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.asInstanceOf[graft.sources.GlScan]
    }.getOrElse(fail("no DSv2 scan in plan"))
    val pushed = scan.pushed.mkString(";")
    assert(pushed.contains("EqualNullSafe(v,5)"), pushed)
    assert(pushed.contains("StringStartsWith(s,a)"), pushed)
    assert(df.queryExecution.sparkPlan
      .collect { case f: org.apache.spark.sql.execution.FilterExec => f }
      .isEmpty, df.queryExecution.sparkPlan.toString)
    assert(df.collect().map(_.toString).toSeq == Seq("[5,apple]"))
    // the IS NULL disguise: Catalyst canonicalizes `v <=> NULL` to
    // IsNull(v) before pushdown (either spelling must push whole; the
    // null-literal EqualNullSafe acceptance in GlFilters covers
    // producers that hand over filters without optimizing them)
    val dfn = spark.read.format("graftlines").load(p).filter("v <=> NULL")
    val scanN = dfn.queryExecution.sparkPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.asInstanceOf[graft.sources.GlScan]
    }.getOrElse(fail("no DSv2 scan in null-probe plan"))
    val pushedN = scanN.pushed.mkString(";")
    assert(pushedN.contains("IsNull(v)") ||
      pushedN.contains("EqualNullSafe(v,null)"), pushedN)
    assert(dfn.queryExecution.sparkPlan
      .collect { case f: org.apache.spark.sql.execution.FilterExec => f }
      .isEmpty, dfn.queryExecution.sparkPlan.toString)
    assert(dfn.collect().map(_.toString).sorted.toSeq ==
      Seq("[null,avocado]", "[null,null]"))
  }

  test("graftlines ordinary scans are columnar; agg-pushdown scans are not") {
    // ordinary read: the scan node must report columnar output and the
    // executed plan must bridge it with ColumnarToRow (the codegen'd
    // consumer). sparkPlan for the node (AQE's executedPlan wrapper
    // does not descend), the post-run adaptive plan for the bridge
    // (columnar transitions are inserted per-stage by AQE).
    val df = SparkEntry.queries("q_source_dsv2")(spark, TestSpark.sf0001)
    val scanExec = df.queryExecution.sparkPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.getOrElse(fail("no DSv2 scan in plan"))
    assert(scanExec.supportsColumnar,
      "ordinary graftlines scan must offer columnar batches")
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      df.queryExecution.executedPlan.toString)
    // aggregate-pushdown read: one pre-aggregated row per group — the
    // scan must stay row-based
    val agg = SparkEntry.queries("q_source_dsv2_agg")(spark, TestSpark.sf0001)
    val aggScan = agg.queryExecution.sparkPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.getOrElse(fail("no DSv2 scan in agg plan"))
    assert(!aggScan.supportsColumnar,
      "agg-pushdown graftlines scan must stay row-based")
  }

  test("q_dedup_incremental anti-joins on the fingerprint key, never corpus x batch") {
    val p = plan("q_dedup_incremental")
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p)
    // the corpus side must reach the anti join as distinct keys, not
    // full rows — a HashAggregate below the join's build side
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_text_perplexity shuffles on vocabulary keys, vocab frame broadcasts") {
    val p = plan("q_text_perplexity")
    assert(p.contains("ShuffledHashJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p) // the per-lang vocab row
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_sql_lateral decorrelates LIMIT to a rank window, no nested loop") {
    val p = plan("q_sql_lateral")
    // the per-outer-row LIMIT must become Window rank + filter with
    // nation broadcast — a nested-loop lateral is outer-cardinality
    // re-scans of customer
    assert(p.contains("Window"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_text_chunk explodes map-only: one pre-sort shuffle, no distinct expansion") {
    val p = plan("q_text_chunk")
    assert(p.contains("Generate"), p) // the chunk fan-out, pre-shuffle
    // exactly 2 Exchanges: the per-lang rollup + the final orderBy —
    // a COUNT(DISTINCT doc_id) form would add a (lang, doc_id) pair
    assert("Exchange".r.findAllIn(p).size == 2, p)
  }

  test("q_sample_bottomk is partial+final, never a per-group sort") {
    val p = plan("q_sample_bottomk")
    // bounded-heap aggregate: ObjectHashAggregate partial then final —
    // the shuffle carries k triples per language, and there must be no
    // Window/rank (the full-sort-per-group shape the oracle states)
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("Window"), p)
  }

  test("q_agg_theta_segments shuffles sketches, never keys") {
    val p = plan("q_agg_theta_segments")
    // two partial+final pairs (per-status sketch, then set-op rollup);
    // every Exchange moves aggregation buffers, so no exchange may be
    // keyed on o_custkey
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 4, p)
    assert(!p.contains("hashpartitioning(o_custkey"), p)
  }

  test("q_text_bm25 joins posting lists hash-keyed; top-20 never global-sorts") {
    val p = plan("q_text_bm25")
    // df is a 3-row broadcast; tf/dl join on doc_id; the only
    // nested-loop is the 1-row corpus-scalar frame
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin")
      || p.contains("SortMergeJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_win_cohort_retention joins orders to cohorts key-equi, no cartesian") {
    val p = plan("q_win_cohort_retention")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p)
    // two-phase distinct aggregate over (cohort, offset)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q_ts_anomaly_mad broadcasts the 5-row med/MAD frames") {
    val p = plan("q_ts_anomaly_mad")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_graph_bfs_hops expands frontiers by equi join only") {
    val p = plan("q_graph_bfs_hops")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_dedup_paragraph keeps-first by hash aggregate, never a corpus window") {
    val p = plan("q_dedup_paragraph")
    // the ROW_NUMBER-over-hash form the oracle states would sort every
    // hash partition; the plan must be pure hash aggregates
    assert(!p.contains("windowspecdefinition"), p)
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_dedup_semantic pairs join on the cell key; only centroids nest-loop") {
    val p = plan("q_dedup_semantic")
    // the 16-row centroid frame rides a broadcast nested loop (that IS
    // the crossJoin); the quadratic risk — vector x vector — must be a
    // cell-keyed equi join
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_agg_histogram_equidepth ntiles via bucket-id exchange, not one task") {
    val p = plan("q_agg_histogram_equidepth")
    assert(p.contains("hashpartitioning(_gr_pid"), p)
    assert(p.contains("windowspecdefinition(_gr_pid"), p)
    assert(!p.contains("windowspecdefinition(l_extendedprice"), p)
  }

  test("q_etl_delete_cascade propagates deletes by anti/semi join") {
    val p = plan("q_etl_delete_cascade")
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_ts_concurrency running sum rides a bucket-id exchange, not one task") {
    val p = plan("q_ts_concurrency")
    assert(p.contains("hashpartitioning(_gr_pid"), p)
    assert(p.contains("windowspecdefinition(_gr_pid"), p)
    // an unpartitioned running sum over the deltas would put the sweep
    // key `t` inside an un-keyed window spec
    assert(!p.contains("windowspecdefinition(t#"), p)
  }

  test("q_etl_change_feed diffs file deltas, not two full version scans") {
    val p = plan("q_etl_change_feed")
    // both EXCEPT sides ride the connector's manifest set-difference:
    // the v3 side excludes v1's files, the v1 side excludes v3's —
    // common (byte-identical) files cancel at PLAN time, so the diff
    // scans only the rewritten files however large the table is
    assert(p.contains("ExcludeFilesOfVersion: 1"), p)
    assert(p.contains("ExcludeFilesOfVersion: 3"), p)
  }
}
