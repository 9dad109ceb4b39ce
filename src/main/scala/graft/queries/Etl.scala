package graft.queries

import graft.Tables
import graft.sources.GraftCatalog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StringType, StructField, StructType, TimestampType}

/** ETL analogs of the reference's import pipeline (SURVEY §2A A5/A6 →
  * §2B q_etl_*): deterministic surrogate keys (the batch analog of the
  * li3ds server assigning ids, micmac_li3ds/api.py `get_or_create`
  * [unverified upstream path]) and idempotent upsert-dedup (re-importing
  * a staging slice must not duplicate — the importer's idempotence
  * contract).
  *
  * Scale: surrogate keys via dense_rank over a tiny distinct dimension
  * (shuffles only the dimension); upsert-dedup via per-key window, which
  * shuffles on the natural key — both scale with key cardinality, no
  * driver-side sequence.
  */
object Etl extends QueryGroup {

  /** Directory of `graft_cat.contract.<table>`, asked of the session's
    * bound catalog, so a path read sees what the SQL statements wrote. */
  private def contractDir(s: SparkSession, table: String): String =
    s.sessionState.catalogManager.catalog("graft_cat")
      .asInstanceOf[GraftCatalog]
      .location(Identifier.of(Array("contract"), table))

  /** DuckDB mirror of FrameGraph.compose: same cell order, same
    * left-to-right three-product sum with the translation added last,
    * so the float results are bit-identical to the Spark side. */
  private def sqlCompose(a: String, b: String): String =
    (for { i <- 0 until 3; j <- 0 until 4 } yield {
      val s = (0 until 3)
        .map(k => s"$a[${i * 4 + k + 1}]*$b[${k * 4 + j + 1}]")
        .mkString(" + ")
      if (j == 3) s"$s + $a[${i * 4 + 4}]" else s
    }).mkString("[", ",\n ", "]")

  /** Synthetic frame-graph edge k -> k+1 for nation key k: R swaps x/y
    * on even k (identity on odd), t = (k+1, 2(k+1), 3(k+1)) — integer
    * values, so matrix products are float-exact on both engines. */
  private val sqlEdgeMat: String = {
    def sw(a: String, b: String) =
      s"CASE WHEN n_nationkey % 2 = 0 THEN $a ELSE $b END"
    s"""[${sw("0.0", "1.0")}, ${sw("1.0", "0.0")}, 0.0, CAST(n_nationkey + 1 AS DOUBLE),
       | ${sw("1.0", "0.0")}, ${sw("0.0", "1.0")}, 0.0, CAST(n_nationkey + 1 AS DOUBLE)*2,
       | 0.0, 0.0, 1.0, CAST(n_nationkey + 1 AS DOUBLE)*3]""".stripMargin
  }

  /** the same edge set on the Spark side */
  private def graphEdges(s: org.apache.spark.sql.SparkSession, d: String) = {
    val k = col("n_nationkey")
    val kd = (k + 1).cast(DoubleType)
    val even = k % 2 === 0
    def sw(a: Double, b: Double) = when(even, lit(a)).otherwise(lit(b))
    Tables.nation(s, d).select(
      k.as("src"), (k + 1).as("dst"),
      array(
        sw(0, 1), sw(1, 0), lit(0d), kd,
        sw(1, 0), sw(0, 1), lit(0d), kd * 2,
        lit(0d), lit(0d), lit(1d), kd * 3).as("mat4x3"))
  }

  private lazy val oraclePathSql = Some(
    s"""WITH e AS (SELECT n_nationkey AS k, $sqlEdgeMat AS m
      |            FROM nation WHERE n_nationkey < 4),
      |c1 AS (SELECT ${sqlCompose("b.m", "a.m")} AS m
      |       FROM e a, e b WHERE a.k = 0 AND b.k = 1),
      |c2 AS (SELECT ${sqlCompose("b.m", "a.m")} AS m
      |       FROM c1 a, e b WHERE b.k = 2),
      |c3 AS (SELECT ${sqlCompose("b.m", "a.m")} AS m
      |       FROM c2 a, e b WHERE b.k = 3)
      |SELECT CAST(t.idx AS INTEGER) AS idx, c3.m[CAST(t.idx AS INTEGER) + 1] AS val
      |FROM c3 CROSS JOIN range(12) t(idx) ORDER BY idx""".stripMargin)

  /** chain CTEs c1..c6 (path 0->h), same association as composeFromRoot */
  private lazy val oracleTreeSql = Some {
    val chain = (2 to 6).map(h =>
      s"""c$h AS (SELECT ${sqlCompose("b.m", "a.m")} AS m
         |       FROM c${h - 1} a, e b WHERE b.k = ${h - 1})""".stripMargin)
      .mkString(",\n")
    val union = (1 to 6)
      .map(h => s"SELECT $h AS dst, $h AS hops, m FROM c$h")
      .mkString("\n   UNION ALL ")
    s"""WITH e AS (SELECT n_nationkey AS k, $sqlEdgeMat AS m
      |            FROM nation WHERE n_nationkey < 6),
      |c1 AS (SELECT m FROM e WHERE k = 0),
      |$chain,
      |u AS ($union)
      |SELECT CAST(dst AS INTEGER) AS dst, CAST(hops AS INTEGER) AS hops,
      |  m[4] AS tx, m[8] AS ty, m[12] AS tz
      |FROM u ORDER BY dst""".stripMargin
  }

  def defs: Seq[QueryDef] = Seq(

    QueryDef(
      // Frame-graph traversal (SURVEY §1.3: traversals = self-joins):
      // chain affine_mat4x3 edges 0->1->2->3->4 built from nation keys
      // and emit the composed world->leaf matrix, one row per cell.
      "q_graph_compose_path",
      (s, d) => {
        graft.etl.FrameGraph
          .composePath(graphEdges(s, d), lit(0), lit(4), maxHops = 4)
          .select(posexplode(col("mat4x3")))
          .toDF("idx", "val")
          .orderBy(col("idx"))
      },
      oraclePathSql),

    QueryDef(
      // Batch frame-graph traversal: one pass composes root->every
      // reachable node (the full pose table), emitting each node's
      // composed translation column.
      "q_graph_compose_tree",
      (s, d) => {
        graft.etl.FrameGraph
          .composeFromRoot(graphEdges(s, d), lit(0), maxHops = 6)
          .select(col("dst").cast("int").as("dst"), col("hops"),
            element_at(col("mat4x3"), 4).as("tx"),
            element_at(col("mat4x3"), 8).as("ty"),
            element_at(col("mat4x3"), 12).as("tz"))
          .orderBy(col("dst"))
      },
      oracleTreeSql),

    QueryDef(
      // Tree-consistency validation: the check an import
      // runs before trusting composePath — a transfo_tree snapshot
      // must be a forest. The edge set is the clean nation-key chain
      // 0->1->...->6 plus three injected faults: a back edge 3 -> 1
      // (which makes node 1 multi-parented AND closes the 1->2->3->1
      // cycle), a self-loop 7 -> 7, and a doubled edge 5 -> 6 (the
      // re-import failure mode). Expected violations exactly:
      // multi_parent(1), duplicate_edge(6), self_loop(7),
      // cycle(1,2,3,7).
      "q_graph_tree_validate",
      (s, d) => {
        val k = col("n_nationkey")
        val clean = Tables.nation(s, d).filter(k < 6)
          .select(k.cast("long").as("src"), (k + 1).cast("long").as("dst"))
        val faults = s.createDataFrame(Seq((3L, 1L), (7L, 7L), (5L, 6L)))
          .toDF("src", "dst")
        graft.etl.FrameGraph
          .validateTree(clean.unionByName(faults), maxHops = 8)
          .orderBy(col("kind"), col("node"))
      },
      Some("""WITH RECURSIVE
        |eg AS (SELECT n_nationkey::BIGINT AS src,
        |         (n_nationkey + 1)::BIGINT AS dst
        |       FROM nation WHERE n_nationkey < 6
        |       UNION ALL SELECT 3, 1 UNION ALL SELECT 7, 7
        |       UNION ALL SELECT 5, 6),
        |mp AS (SELECT 'multi_parent' AS kind, dst AS node FROM eg
        |       GROUP BY dst HAVING COUNT(DISTINCT src) > 1),
        |de AS (SELECT 'duplicate_edge' AS kind, dst AS node FROM eg
        |       GROUP BY src, dst HAVING COUNT(*) > 1),
        |sl AS (SELECT DISTINCT 'self_loop' AS kind, src AS node FROM eg
        |       WHERE src = dst),
        |ed AS (SELECT DISTINCT src, dst FROM eg),
        |reach AS (SELECT src AS origin, dst AS cur, 1 AS h FROM ed
        |          UNION
        |          SELECT r.origin, e.dst, r.h + 1
        |          FROM reach r JOIN ed e ON e.src = r.cur WHERE r.h < 8),
        |cy AS (SELECT DISTINCT 'cycle' AS kind, origin AS node
        |       FROM reach WHERE origin = cur)
        |SELECT kind, node FROM (SELECT * FROM mp
        |  UNION ALL SELECT * FROM de
        |  UNION ALL SELECT * FROM sl
        |  UNION ALL SELECT * FROM cy)
        |ORDER BY kind, node""".stripMargin)),

    QueryDef(
      // Multi-hop BFS: min-hop distance from one seed over
      // the customer–supplier co-purchase graph (edges = distinct
      // (o_custkey, l_suppkey) pairs, traversed both ways; nodes
      // encoded 2k / 2k+1 so the two key spaces can share one BIGINT
      // column). ConnectedComponents answers "which component"; BFS
      // answers "how far" — the traversal primitive behind
      // neighborhood joins and influence radii. Frontier expansion is
      // a bounded loop of equi-join + anti-join per hop: every join
      // keys on node ids (no cartesian anywhere), the edge list is
      // localCheckpoint-ed ONCE so the 4 rounds re-read a materialized
      // 2|E| table instead of re-running the orders⋈lineitem build,
      // and each round's hop frame checkpoints once (the same
      // discipline as ConnectedComponents.scala). At 100 TB
      // the frontier join co-partitions with edges on the node key;
      // hop counts are exact BIGINTs so the oracle compare is bitwise
      // (the DuckDB twin unrolls the same 4 rounds as CTE stages).
      "q_graph_bfs_hops",
      (s, d) => {
        import s.implicits._
        val e0 = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"))
          .join(Tables.lineitem(s, d)
            .select(col("l_orderkey"), col("l_suppkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("c"),
            (col("l_suppkey") * 2 + 1).as("sn"))
          .distinct()
          // r16: checkpoint BEFORE the symmetric union — union's two
          // children are separate subtrees (no static cross-child CSE;
          // measured 1.13 vs 0.94 s warm for the edge build), the same
          // discipline ConnectedComponents.label documents. Lazy: the
          // first action over edges materializes both frames.
          .localCheckpoint(eager = false)
        val edges = e0.select(col("c").as("src"), col("sn").as("dst"))
          .unionByName(e0.select(col("sn").as("src"), col("c").as("dst")))
          .localCheckpoint(eager = false)
        var visited = Seq((2L, 0)).toDF("node", "hop")
        var frontier = visited.select(col("node"))
        for (h <- 1 to 4) {
          // checkpoint `next` ONCE — frontier and visited both read the
          // materialized hop (checkpointing their derivations instead
          // would recompute the round's join chain twice), and visited
          // stays a lazy union of checkpointed hops: lineage depth is
          // O(rounds) of plain scans, no re-execution anywhere.
          // Checkpoints are LAZY: the hop count is fixed and nothing
          // driver-side reads a round, so the one terminal action
          // materializes each hop (and the edge list) exactly once into
          // the checkpoint cache with no driver-dispatched job per
          // round, same lineage truncation, bit-identical hops.
          val next = edges
            .join(frontier.withColumnRenamed("node", "src"), Seq("src"))
            .select(col("dst").as("node")).distinct()
            .join(visited, Seq("node"), "left_anti")
            .withColumn("hop", lit(h))
            .localCheckpoint(eager = false)
          frontier = next.select(col("node"))
          visited = visited.unionByName(next)
        }
        visited.groupBy(col("hop"))
          .agg(count(lit(1)).as("n_nodes"),
            min(col("node")).as("min_node"), max(col("node")).as("max_node"))
          .orderBy(col("hop"))
      },
      // AS MATERIALIZED throughout: DuckDB inlines CTEs per reference,
      // and the h_k/v_k frontier chain re-expands the whole prefix
      // (and e0's 6M-row DISTINCT) exponentially with hop count — the
      // 51 GB spill this oracle needed at sf1 was plan shape, not data
      Some("""WITH e0 AS MATERIALIZED (SELECT DISTINCT o_custkey * 2 AS c,
        |         l_suppkey * 2 + 1 AS sn
        |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS MATERIALIZED (SELECT c AS src, sn AS dst FROM e0
        |      UNION ALL SELECT sn, c FROM e0),
        |v0 AS MATERIALIZED (SELECT 2::BIGINT AS node, 0 AS hop),
        |h1 AS MATERIALIZED (SELECT DISTINCT dst AS node FROM e
        |       JOIN v0 ON e.src = v0.node
        |       WHERE dst NOT IN (SELECT node FROM v0)),
        |v1 AS MATERIALIZED (SELECT * FROM v0
        |       UNION ALL SELECT node, 1 FROM h1),
        |h2 AS MATERIALIZED (SELECT DISTINCT dst AS node FROM e
        |       JOIN h1 ON e.src = h1.node
        |       WHERE dst NOT IN (SELECT node FROM v1)),
        |v2 AS MATERIALIZED (SELECT * FROM v1
        |       UNION ALL SELECT node, 2 FROM h2),
        |h3 AS MATERIALIZED (SELECT DISTINCT dst AS node FROM e
        |       JOIN h2 ON e.src = h2.node
        |       WHERE dst NOT IN (SELECT node FROM v2)),
        |v3 AS MATERIALIZED (SELECT * FROM v2
        |       UNION ALL SELECT node, 3 FROM h3),
        |h4 AS MATERIALIZED (SELECT DISTINCT dst AS node FROM e
        |       JOIN h3 ON e.src = h3.node
        |       WHERE dst NOT IN (SELECT node FROM v3)),
        |v4 AS MATERIALIZED (SELECT * FROM v3
        |       UNION ALL SELECT node, 4 FROM h4)
        |SELECT hop, COUNT(*)::BIGINT AS n_nodes,
        |  MIN(node) AS min_node, MAX(node) AS max_node
        |FROM v4 GROUP BY hop ORDER BY hop""".stripMargin)),

    QueryDef(
      // Declarative data-quality audit: the gate a pipeline
      // runs before trusting a new table drop, as a CHECK LIST compiled
      // to minimal passes (operators/DataChecks.scala) — all four
      // row-local checks fuse into ONE aggregate over ONE scan;
      // uniqueness is one hash agg on its key; the FK check one LEFT
      // ANTI against orders. Faults are injected like
      // q_graph_tree_validate's: one null returnflag, one quantity 99,
      // one discount 0.5, one linestatus 'X', one doubled (orderkey,
      // linenumber) pair — and the synthetic lineitem ALSO carries
      // real duplicate keys, so unique() reports injected + organic.
      // All six injected orderkeys are FK orphans by construction.
      "q_etl_constraints",
      (s, d) => {
        import graft.operators.DataChecks
        val ts = "1995-06-01 00:00:00"
        val faults = s.createDataFrame(Seq(
            (900000001L, 1L, 1L, 1, 10.0, 100.0, 0.05, 0.02,
              null.asInstanceOf[String], "O", ts),
            (900000002L, 1L, 1L, 1, 99.0, 100.0, 0.05, 0.02, "N", "O", ts),
            (900000003L, 1L, 1L, 1, 10.0, 100.0, 0.50, 0.02, "N", "O", ts),
            (900000004L, 1L, 1L, 1, 10.0, 100.0, 0.05, 0.02, "N", "X", ts),
            (900000005L, 1L, 1L, 7, 10.0, 100.0, 0.05, 0.02, "N", "O", ts),
            (900000005L, 1L, 1L, 7, 20.0, 200.0, 0.05, 0.02, "N", "F", ts)))
          .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipdate")
          .withColumn("l_shipdate", col("l_shipdate").cast(TimestampType))
        val li = Tables.lineitem(s, d).unionByName(faults)
        DataChecks.audit(li, Seq(
            DataChecks.NotNull("l_returnflag"),
            DataChecks.InRange("l_quantity", 1, 50),
            DataChecks.InRange("l_discount", 0, 0.10),
            DataChecks.InSet("l_linestatus", Seq("O", "F")),
            DataChecks.Unique(Seq("l_orderkey", "l_linenumber")),
            DataChecks.ForeignKey("l_orderkey",
              Tables.orders(s, d), "o_orderkey")))
          .orderBy(col("chk"))
      },
      Some("""WITH faults(l_orderkey, l_partkey, l_suppkey, l_linenumber,
        |  l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag,
        |  l_linestatus, l_shipdate) AS (VALUES
        |  (900000001, 1, 1, 1, 10.0, 100.0, 0.05, 0.02, NULL, 'O',
        |    TIMESTAMP '1995-06-01'),
        |  (900000002, 1, 1, 1, 99.0, 100.0, 0.05, 0.02, 'N', 'O',
        |    TIMESTAMP '1995-06-01'),
        |  (900000003, 1, 1, 1, 10.0, 100.0, 0.50, 0.02, 'N', 'O',
        |    TIMESTAMP '1995-06-01'),
        |  (900000004, 1, 1, 1, 10.0, 100.0, 0.05, 0.02, 'N', 'X',
        |    TIMESTAMP '1995-06-01'),
        |  (900000005, 1, 1, 7, 10.0, 100.0, 0.05, 0.02, 'N', 'O',
        |    TIMESTAMP '1995-06-01'),
        |  (900000005, 1, 1, 7, 20.0, 200.0, 0.05, 0.02, 'N', 'F',
        |    TIMESTAMP '1995-06-01')),
        |li AS (SELECT * FROM lineitem UNION ALL SELECT * FROM faults),
        |rl AS (
        |  SELECT 'not_null(l_returnflag)' AS chk,
        |    SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)::BIGINT
        |      AS n_bad FROM li
        |  UNION ALL
        |  SELECT 'in_range(l_quantity)',
        |    SUM(CASE WHEN l_quantity IS NOT NULL
        |        AND (l_quantity < 1 OR l_quantity > 50)
        |        THEN 1 ELSE 0 END)::BIGINT FROM li
        |  UNION ALL
        |  SELECT 'in_range(l_discount)',
        |    SUM(CASE WHEN l_discount IS NOT NULL
        |        AND (l_discount < 0 OR l_discount > 0.10)
        |        THEN 1 ELSE 0 END)::BIGINT FROM li
        |  UNION ALL
        |  SELECT 'in_set(l_linestatus)',
        |    SUM(CASE WHEN l_linestatus IS NOT NULL
        |        AND l_linestatus NOT IN ('O', 'F')
        |        THEN 1 ELSE 0 END)::BIGINT FROM li),
        |uq AS (SELECT 'unique(l_orderkey,l_linenumber)' AS chk,
        |         COUNT(*)::BIGINT AS n_bad
        |       FROM (SELECT 1 AS one FROM li
        |             GROUP BY l_orderkey, l_linenumber
        |             HAVING COUNT(*) > 1)),
        |fk AS (SELECT 'fk(l_orderkey)' AS chk, COUNT(*)::BIGINT AS n_bad
        |       FROM (SELECT l_orderkey FROM li
        |             WHERE l_orderkey IS NOT NULL) t
        |       ANTI JOIN orders ON t.l_orderkey = o_orderkey)
        |SELECT chk, n_bad FROM (SELECT * FROM rl
        |  UNION ALL SELECT * FROM uq
        |  UNION ALL SELECT * FROM fk)
        |ORDER BY chk""".stripMargin)),

    QueryDef(
      "q_etl_surrogate_keys",
      (s, d) => {
        val dim = Tables.events(s, d).select(col("event_type")).distinct()
          .withColumn("sid", dense_rank().over(
            Window.orderBy(col("event_type"))))
        Tables.events(s, d).select(col("event_type"))
          .join(broadcast(dim), Seq("event_type"))
          .groupBy(col("sid"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("sid"))
      },
      Some("""SELECT sid, event_type, COUNT(*)::BIGINT AS n
        |FROM events
        |JOIN (SELECT event_type,
        |        DENSE_RANK() OVER (ORDER BY event_type)::INTEGER AS sid
        |      FROM (SELECT DISTINCT event_type FROM events)) dim
        |  USING (event_type)
        |GROUP BY sid, event_type ORDER BY sid""".stripMargin)),

    QueryDef(
      "q_etl_upsert_dedup",
      (s, d) => {
        val target = Tables.events(s, d)
        val staging = target.filter(col("event_id") % 3 === 0)
        val w = Window.partitionBy(col("event_id"))
          .orderBy(col("ts"), col("event_id"))
        target.unionByName(staging)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, COUNT(*)::BIGINT AS n
        |FROM (SELECT event_type,
        |        ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY ts, event_id) AS rn
        |      FROM (SELECT * FROM events
        |            UNION ALL
        |            SELECT * FROM events WHERE event_id % 3 = 0))
        |WHERE rn = 1
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    QueryDef(
      // The 100 TB layout pattern made concrete: write partitioned by a
      // low-cardinality column, read back with a partition-column
      // filter, and let the file source prune to the one matching
      // directory — the scan never lists, opens, or decodes the other
      // partitions' files (PlanSpec pins PartitionFilters). Parquet is
      // binary-exact on round trip, so the decimal-sum parity trick
      // gives a hashable double.
      "q_etl_partitioned_sink",
      (s, d) => {
        val out = graft.GraftTmp.dir("part_sink")
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_linestatus"), col("l_returnflag"))
          .write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
        s.read.parquet(out)
          .filter(col("l_returnflag") === "R")
          .groupBy(col("l_linestatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity")
                .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
              .cast(DoubleType).as("sum_qty"))
          .orderBy(col("l_linestatus"))
      },
      Some("""SELECT l_linestatus, COUNT(*)::BIGINT AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_returnflag = 'R'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),

    QueryDef(
      // A7 sink breadth beside JDBC: a JSON-lines sink + schema-on-read
      // source round trip. Integral/string columns only — text formats
      // round-trip those exactly; floats would drift. The explicit read
      // schema keeps types deterministic (no sampling inference).
      "q_etl_json_roundtrip",
      (s, d) => {
        val out = graft.GraftTmp.dir("json_sink")
        Tables.documents(s, d).select(col("doc_id"), col("lang"),
            col("n_chars").cast("long").as("n_chars"))
          .write.mode("overwrite").json(out)
        val schema = Tables.subSchema("documents",
          "doc_id", "lang", "n_chars")
        s.read.schema(schema).json(out)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, COUNT(*)::BIGINT AS n_docs,
        | SUM(n_chars)::BIGINT AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    QueryDef(
      // CSV sink round trip (beside JDBC / JSON lines / partitioned
      // parquet): integral/string columns only — CSV is a
      // text format, so the round trip is exact for those and the
      // read-back aggregate must hash-match the source-table oracle.
      // Explicit schema on read (never inferSchema — FIXTURES.md rule).
      "q_etl_csv_roundtrip",
      (s, d) => {
        val out = graft.GraftTmp.dir("csv_sink")
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
          .write.mode("overwrite").option("header", "true").csv(out)
        // CSV read-back is positional under a user schema: the name
        // order here must match the written select order
        val schema = Tables.subSchema("lineitem",
          "l_orderkey", "l_linenumber", "l_returnflag")
        s.read.schema(schema).option("header", "true").csv(out)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_linenumber").cast("long")).as("sum_line"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, COUNT(*)::BIGINT AS n,
        | SUM(l_linenumber)::BIGINT AS sum_line
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    QueryDef(
      // ORC sink round trip — fifth sink format beside
      // JDBC / JSON lines / CSV / partitioned parquet: ORC is the
      // other columnar container a warehouse migration meets, and the
      // write -> explicit-schema read -> aggregate loop proves the
      // type mapping survives it (integral/string columns, exact).
      "q_etl_orc_roundtrip",
      (s, d) => {
        val out = graft.GraftTmp.dir("orc_sink")
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("n_chars"))
          .write.mode("overwrite").orc(out)
        val schema = Tables.subSchema("documents",
          "doc_id", "source", "n_chars")
        s.read.schema(schema).orc(out)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            max(col("doc_id")).as("max_doc"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, COUNT(*)::BIGINT AS n_docs,
        | SUM(n_chars)::BIGINT AS sum_chars, MAX(doc_id)::BIGINT AS max_doc
        |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    QueryDef(
      // DataSource V2 connector round trip: the engine's own
      // pluggable source (graft.sources.GraftLines), not a built-in
      // format. The write path runs task-parallel DataWriters with
      // truncate-on-overwrite; the read path is the part the query
      // proves: the >30 / <> 'N' predicates are PUSHED (the source
      // evaluates them exactly inside each file reader and Spark drops
      // its own copy — PlanSpec pins pushedFilters + no residual
      // Filter), and l_orderkey is written but never read (column
      // pruning skips its conversion entirely). One InputPartition per
      // written file keeps read parallelism equal to write parallelism
      // — the property that matters when 1000 executors wrote the data.
      "q_source_dsv2",
      (s, d) => {
        val out = graft.GraftTmp.dir("gl_sink")
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("l_returnflag"))
          .write.format("graftlines").mode("overwrite").save(out)
        s.read.format("graftlines").load(out)
          .filter(col("l_quantity") > 30.0 && col("l_returnflag") =!= "N")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_linenumber").cast("long")).as("sum_line"),
            sum(col("l_quantity").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("sum_qty"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, COUNT(*)::BIGINT AS n,
        | SUM(l_linenumber)::BIGINT AS sum_line,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_quantity > 30.0 AND l_returnflag <> 'N'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    QueryDef(
      // Manifest snapshots: reproducible versioned reads
      // over an APPEND-ONLY file log, without a table format — the
      // li3ds-datastore answer to "what did the table look like before
      // yesterday's append?". Each commit appends data files and
      // writes a manifest (the file list AS DATA, XmlManifest's
      // listing-as-data posture); a snapshot read resolves ONLY its
      // manifest's files, so later appends cannot leak in. The
      // manifest is planner metadata — collecting it to the driver is
      // what every real table format (Iceberg/Delta) does too; the
      // DATA never moves through the driver. Oracle: version 1 must
      // equal the pre-append subset, version 2 the full set — pinned
      // per status with decimal-exact sums.
      "q_etl_snapshot",
      (s, d) => {
        val base = graft.GraftTmp.dir("snap")
        val p = new org.apache.hadoop.fs.Path(base)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
        val orders = Tables.orders(s, d)
        // commit 1: statuses F and O
        orders.filter(col("o_orderstatus") =!= "P")
          .write.mode("append").parquet(s"$base/data")
        val v1Files = fs.listStatus(new org.apache.hadoop.fs.Path(
            s"$base/data")).map(_.getPath.toString)
          .filter(_.endsWith(".parquet")).sorted
        s.createDataset(v1Files.toSeq)(org.apache.spark.sql.Encoders.STRING)
          .coalesce(1).write.mode("overwrite").text(s"$base/manifest/v1")
        // commit 2: append status P; manifest v2 = all files
        orders.filter(col("o_orderstatus") === "P")
          .write.mode("append").parquet(s"$base/data")
        val v2Files = fs.listStatus(new org.apache.hadoop.fs.Path(
            s"$base/data")).map(_.getPath.toString)
          .filter(_.endsWith(".parquet")).sorted
        s.createDataset(v2Files.toSeq)(org.apache.spark.sql.Encoders.STRING)
          .coalesce(1).write.mode("overwrite").text(s"$base/manifest/v2")
        // snapshot reads: resolve each version strictly via its manifest
        def snapshot(v: String) = {
          val files = s.read.textFile(s"$base/manifest/$v")
            .collect().toSeq // manifest = planner metadata, rows never
          s.read.schema(Tables.ordersSchema).parquet(files: _*)
        }
        val agg1 = snapshot("v1").groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("sum_price"))
          .withColumn("version", lit(1L))
        val agg2 = snapshot("v2").groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("sum_price"))
          .withColumn("version", lit(2L))
        agg1.union(agg2)
          .select(col("version"), col("o_orderstatus"), col("n"),
            col("sum_price"))
          .orderBy(col("version"), col("o_orderstatus"))
      },
      Some("""SELECT 1::BIGINT AS version, o_orderstatus,
        | COUNT(*)::BIGINT AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM orders WHERE o_orderstatus <> 'P' GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 2::BIGINT, o_orderstatus, COUNT(*)::BIGINT,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY version, o_orderstatus""".stripMargin)),

    QueryDef(
      // Shallow clone: q_etl_snapshot gives ONE table two
      // versions; this gives TWO tables one storage — the Delta
      // SHALLOW CLONE dev/test-sandbox op. The clone is born as a
      // manifest-only copy (require() states the zero-copy contract
      // loudly: its v1 file list is byte-equal to the source's — no
      // data was rewritten), then DIVERGES by appending clone-local
      // files the source never sees; the source keeps resolving its
      // own manifest, so the sandbox append cannot leak back. All
      // manifest work is O(files) driver metadata, exactly like the
      // snapshot op; the DATA never moves for the clone itself.
      "q_etl_shallow_clone",
      (s, d) => {
        val base = graft.GraftTmp.dir("clone")
        val p = new org.apache.hadoop.fs.Path(base)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
        val orders = Tables.orders(s, d)
        def ls(dir: String): Seq[String] =
          fs.listStatus(new org.apache.hadoop.fs.Path(dir))
            .map(_.getPath.toString).filter(_.endsWith(".parquet"))
            .sorted.toSeq
        def writeManifest(v: Seq[String], path: String): Unit =
          s.createDataset(v)(org.apache.spark.sql.Encoders.STRING)
            .coalesce(1).write.mode("overwrite").text(path)
        def readManifest(path: String): Seq[String] =
          s.read.textFile(path).collect().toSeq.sorted
        // source commit: statuses F and O
        orders.filter(col("o_orderstatus") =!= "P")
          .write.mode("append").parquet(s"$base/src_data")
        writeManifest(ls(s"$base/src_data"), s"$base/src/v1")
        // shallow clone = manifest copy; zero data files written
        writeManifest(readManifest(s"$base/src/v1"), s"$base/clone/v1")
        require(readManifest(s"$base/clone/v1")
            == readManifest(s"$base/src/v1"),
          "shallow clone must share the source's physical files exactly")
        // clone-local divergence: append status P into the CLONE's dir
        orders.filter(col("o_orderstatus") === "P")
          .write.mode("append").parquet(s"$base/clone_data")
        writeManifest(readManifest(s"$base/clone/v1")
          ++ ls(s"$base/clone_data"), s"$base/clone/v2")
        def table(manifest: String, name: String) = {
          val files = readManifest(manifest)
          s.read.schema(Tables.ordersSchema).parquet(files: _*)
            .groupBy(col("o_orderstatus"))
            .agg(count(lit(1)).as("n"),
              sum(col("o_totalprice").cast(DecimalType(18, 2)))
                .cast(DoubleType).as("sum_price"))
            .withColumn("tbl", lit(name))
        }
        table(s"$base/src/v1", "source")
          .unionByName(table(s"$base/clone/v2", "clone"))
          .select(col("tbl"), col("o_orderstatus"), col("n"),
            col("sum_price"))
          .orderBy(col("tbl").desc, col("o_orderstatus"))
      },
      Some("""SELECT 'source' AS tbl, o_orderstatus,
        | COUNT(*)::BIGINT AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM orders WHERE o_orderstatus <> 'P' GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 'clone', o_orderstatus, COUNT(*)::BIGINT,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY tbl DESC, o_orderstatus""".stripMargin)),

    QueryDef(
      // Unreferenced-file GC (the Delta VACUUM / Iceberg
      // remove_orphan_files lifecycle op of the manifest family:
      // snapshot gives versioned reads, clone gives shared storage,
      // vacuum RECLAIMS it). A rewrite commit (here: the full
      // table recompacted) supersedes v1's files in the manifest but
      // leaves their bytes on disk for time travel; vacuum deletes
      // exactly the on-disk files the CURRENT manifest does not
      // reference. File-level behavior is require()-pinned (v1-only
      // files gone, every current-manifest file intact, disk ≡
      // manifest afterwards — counts depend on physical partitioning,
      // so they are assertions, not output); the ORACLE pins what a
      // user must observe: the current read is byte-identical before
      // and after the vacuum. All manifest/GC work is O(files) driver
      // metadata, the same class as every table format's VACUUM — the
      // data files themselves never move.
      "q_etl_vacuum",
      (s, d) => {
        val base = graft.GraftTmp.dir("vacuum")
        val p = new org.apache.hadoop.fs.Path(base)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
        val orders = Tables.orders(s, d)
        def ls(): Set[String] =
          fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/data"))
            .map(_.getPath.toString).filter(_.endsWith(".parquet")).toSet
        // commit 1: statuses F and O
        orders.filter(col("o_orderstatus") =!= "P")
          .write.mode("append").parquet(s"$base/data")
        val v1Files = ls()
        // commit 2: REWRITE — the whole table recompacted into fresh
        // files; the current manifest references only these
        orders.write.mode("append").parquet(s"$base/data")
        val current = ls() -- v1Files
        def read(files: Set[String]) =
          s.read.schema(Tables.ordersSchema)
            .parquet(files.toSeq.sorted: _*)
        def agg(df: org.apache.spark.sql.DataFrame, phase: String) =
          df.groupBy(col("o_orderstatus"))
            .agg(count(lit(1)).as("n"),
              sum(col("o_totalprice").cast(DecimalType(18, 2)))
                .cast(DoubleType).as("sum_price"))
            .withColumn("phase", lit(phase))
        val pre = agg(read(current), "pre_vacuum")
          .localCheckpoint() // materialize BEFORE the files vanish
        // vacuum: delete on-disk files the current manifest omits
        val unreferenced = ls() -- current
        unreferenced.foreach(f =>
          fs.delete(new org.apache.hadoop.fs.Path(f), false))
        require(unreferenced == v1Files,
          "vacuum must remove exactly the superseded commit's files")
        require(ls() == current,
          "post-vacuum disk must hold exactly the current manifest")
        pre.unionByName(agg(read(current), "post_vacuum"))
          .select(col("phase"), col("o_orderstatus"), col("n"),
            col("sum_price"))
          .orderBy(col("phase").desc, col("o_orderstatus"))
      },
      Some("""SELECT 'pre_vacuum' AS phase, o_orderstatus,
        | COUNT(*)::BIGINT AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS sum_price
        |FROM orders GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 'post_vacuum', o_orderstatus, COUNT(*)::BIGINT,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY phase DESC, o_orderstatus""".stripMargin)),

    QueryDef(
      // DSv2 AGGREGATE pushdown (beside q_source_dsv2's
      // filter/prune/limit surface): count/min/max/count(col) are
      // pushed into the graftlines source as a PARTIAL aggregation —
      // each file reader emits one pre-aggregated row per group and
      // Spark's final aggregate merges partitions. At 100 TB this is
      // the difference between moving N rows and moving
      // (groups × files) rows through the scan. Unsupported pieces
      // (avg, min/max on strings — UTF-16 vs UTF8 ordering) decline
      // the WHOLE aggregation honestly and the row scan stands
      // (GraftLinesSpec pins both directions; PlanSpec pins the
      // pushed shape here).
      "q_source_dsv2_agg",
      (s, d) => {
        val out = graft.GraftTmp.dir("gl_agg_sink")
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("l_returnflag"))
          .write.format("graftlines").mode("overwrite").save(out)
        s.read.format("graftlines").load(out)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            min(col("l_quantity")).as("min_qty"),
            max(col("l_quantity")).as("max_qty"),
            count(col("l_orderkey")).as("n_ok"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, COUNT(*)::BIGINT AS n,
        | MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
        | COUNT(l_orderkey)::BIGINT AS n_ok
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),

    QueryDef(
      // Catalog-managed tables: the way teams actually manage 100 TB
      // warehouses is CREATE TABLE / CTAS / spark.table through a
      // TableCatalog, not paths. The graft_cat catalog
      // (sources/GraftCatalog.scala, bound by GraftExtensions.install)
      // maps namespaces to warehouse subdirectories and persists each
      // table's authoritative schema in a one-line header file, so
      // every catalog call is an O(1) driver-side metadata op —
      // nothing scales with data. This query exercises the full SQL-text
      // surface end to end: CREATE NAMESPACE, DROP TABLE IF EXISTS,
      // CTAS into the connector (exact cents, the money rule), then a
      // grouped read back THROUGH the catalog identifier — where the
      // p_size predicate still pushes into the graftlines reader, same
      // as the path-based route (the catalog returns the same GlTable).
      "q_etl_catalog_table",
      (s, d) => {
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.contract")
        s.sql("DROP TABLE IF EXISTS graft_cat.contract.part_cat")
        Tables.part(s, d)
          .select(col("p_partkey"), col("p_brand"), col("p_size"),
            expr("cast(cast(p_retailprice as decimal(18,2)) * 100 as bigint)")
              .as("cents"))
          .createOrReplaceTempView("part_cat_src")
        s.sql("""CREATE TABLE graft_cat.contract.part_cat USING graftlines
          | AS SELECT * FROM part_cat_src""".stripMargin)
        s.sql("""SELECT p_brand, COUNT(*) AS n,
          | CAST(SUM(cents) AS DOUBLE) / 100 AS sum_price
          |FROM graft_cat.contract.part_cat
          |WHERE p_size >= 25
          |GROUP BY p_brand ORDER BY p_brand""".stripMargin)
      },
      Some("""SELECT p_brand, COUNT(*)::BIGINT AS n,
        | CAST(SUM(CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100
        |   AS BIGINT)) AS DOUBLE) / 100 AS sum_price
        |FROM part WHERE p_size >= 25
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    QueryDef(
      // SQL ALTER TABLE ADD COLUMNS through the catalog (the
      // schema-evolution STATEMENT; q_etl_schema_evolution covers
      // reader-side parquet footer merging, this evolves a CATALOG
      // table's authoritative schema in place). The catalog appends
      // the nullable column to the one-line schema header (an O(1)
      // driver metadata op — zero data files move at any table size)
      // and every reader null-fills rows from files written before
      // the change (GlReader nullFillMissing), so pre-evolution data
      // keeps reading without rewrite — the Delta/Iceberg ADD COLUMN
      // posture. Non-nullable, positioned (FIRST/AFTER), nested, or
      // duplicate adds are rejected loudly (GraftLinesSpec pins the
      // rejections; re-interpreting bytes already on disk is never
      // silent). Oracle: old rows surface the sentinel, new rows the
      // inserted value.
      "q_etl_add_column",
      (s, d) => {
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.contract")
        s.sql("DROP TABLE IF EXISTS graft_cat.contract.part_evo")
        Tables.part(s, d)
          .select(col("p_partkey"), col("p_size"))
          .filter(col("p_size") < 25)
          .createOrReplaceTempView("part_evo_src")
        s.sql("""CREATE TABLE graft_cat.contract.part_evo USING graftlines
          | AS SELECT * FROM part_evo_src""".stripMargin)
        // evolve: brand arrives after the first generation of data
        s.sql("ALTER TABLE graft_cat.contract.part_evo " +
          "ADD COLUMNS (p_brand STRING)")
        Tables.part(s, d)
          .select(col("p_partkey"), col("p_size"), col("p_brand"))
          .filter(col("p_size") >= 25)
          .createOrReplaceTempView("part_evo_new")
        s.sql("""INSERT INTO graft_cat.contract.part_evo
          | SELECT * FROM part_evo_new""".stripMargin)
        s.sql("""SELECT COALESCE(p_brand, 'pre_evolution') AS brand,
          | COUNT(*) AS n, SUM(p_size) AS size_sum,
          | MIN(p_partkey) AS min_key, MAX(p_partkey) AS max_key
          |FROM graft_cat.contract.part_evo
          |GROUP BY 1 ORDER BY 1""".stripMargin)
      },
      Some("""SELECT COALESCE(CASE WHEN p_size >= 25 THEN p_brand END,
        |   'pre_evolution') AS brand,
        | COUNT(*)::BIGINT AS n, SUM(p_size)::BIGINT AS size_sum,
        | MIN(p_partkey) AS min_key, MAX(p_partkey) AS max_key
        |FROM part GROUP BY 1 ORDER BY 1""".stripMargin)),

    QueryDef(
      // SQL DELETE FROM through the catalog: the row-level
      // lifecycle statement warehouse users actually type for a GDPR
      // erasure — q_etl_delete_cascade computes WHAT to delete as
      // dataframe algebra; this executes a delete as a STATEMENT
      // against a connector table via DSv2 SupportsRowLevelOperations.
      // Execution is the one group-based copy-on-write rewrite that
      // UPDATE and MERGE use too: `_graft_stats` prunes provably-
      // untouched files at plan time, Spark's runtime group filter
      // keeps only the files that hold a match, those files are
      // rewritten without the deleted rows in executor tasks (data
      // never through the driver), and GraftLines.publish swaps them
      // in (GraftLinesSpec pins it, including untouched-file byte
      // identity). Oracle: the surviving table per status — counts and
      // decimal-exact sums.
      "q_etl_sql_delete",
      (s, d) => {
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.contract")
        s.sql("DROP TABLE IF EXISTS graft_cat.contract.orders_del")
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")
              .as("cents"))
          .createOrReplaceTempView("orders_del_src")
        s.sql("""CREATE TABLE graft_cat.contract.orders_del USING graftlines
          | AS SELECT * FROM orders_del_src""".stripMargin)
        // the erasure: one status family plus a key-range carve-out
        s.sql("""DELETE FROM graft_cat.contract.orders_del
          | WHERE o_orderstatus = 'P' OR o_custkey < 100""".stripMargin)
        s.sql("""SELECT o_orderstatus, COUNT(*) AS n,
          | CAST(SUM(cents) AS DOUBLE) / 100 AS sum_price
          |FROM graft_cat.contract.orders_del
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
      },
      Some("""SELECT o_orderstatus, COUNT(*)::BIGINT AS n,
        | CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |   AS BIGINT)) AS DOUBLE) / 100 AS sum_price
        |FROM orders
        |WHERE NOT (o_orderstatus = 'P' OR o_custkey < 100)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    QueryDef(
      // SQL UPDATE through the catalog (completes the
      // row-level statement trio with q_etl_sql_delete/merge): a
      // column-rewrite statement against a connector table, executed
      // as a group-based COW rewrite (SupportsRowLevelOperations).
      // The row-level scan's condition filters prune FILES only, so
      // the carry-over rows of affected files survive verbatim — the
      // contract GraftLinesSpec pins. Oracle: the updated state per
      // status — counts and decimal-exact sums.
      "q_etl_sql_update",
      (s, d) => {
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.contract")
        s.sql("DROP TABLE IF EXISTS graft_cat.contract.orders_upd")
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")
              .as("cents"))
          .createOrReplaceTempView("orders_upd_src")
        s.sql("""CREATE TABLE graft_cat.contract.orders_upd USING graftlines
          | AS SELECT * FROM orders_upd_src""".stripMargin)
        // the correction: a 5% surcharge (exact integer cents) on every
        // pending order of the low-key customer band
        s.sql("""UPDATE graft_cat.contract.orders_upd
          | SET cents = cents + cents DIV 20
          | WHERE o_orderstatus = 'P' AND o_custkey < 500""".stripMargin)
        s.sql("""SELECT o_orderstatus, COUNT(*) AS n,
          | CAST(SUM(cents) AS DOUBLE) / 100 AS sum_price
          |FROM graft_cat.contract.orders_upd
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
      },
      Some("""WITH o AS (SELECT o_custkey, o_orderstatus,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |       FROM orders)
        |SELECT o_orderstatus, COUNT(*)::BIGINT AS n,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'P' AND o_custkey < 500
        |    THEN cents + cents // 20 ELSE cents END) AS DOUBLE) / 100
        |    AS sum_price
        |FROM o GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin)),

    QueryDef(
      // SQL MERGE INTO through the catalog (beside
      // q_etl_sql_delete): the upsert STATEMENT — q_etl_merge_cdc
      // computes a merge as dataframe algebra; this executes one
      // against a connector table via DSv2 SupportsRowLevelOperations.
      // Spark rewrites it group-based (copy-on-write): the row-level
      // scan returns EVERY row of the affected files (condition
      // filters prune files only — carry-over rows must survive),
      // matched rows update, unmatched source rows insert, and the
      // replace-commit swaps exactly the scanned files
      // (GraftLinesSpec pins carry-over survival and the subquery
      // DELETE that rides the same machinery). Oracle: the merged
      // state per status — counts and decimal-exact sums.
      "q_etl_sql_merge",
      (s, d) => {
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.contract")
        s.sql("DROP TABLE IF EXISTS graft_cat.contract.orders_merge")
        val orders = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderstatus"),
            expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")
              .as("cents"))
        orders.filter(col("o_orderstatus") =!= "P")
          .createOrReplaceTempView("orders_merge_tgt")
        s.sql("""CREATE TABLE graft_cat.contract.orders_merge
          | USING graftlines AS SELECT * FROM orders_merge_tgt"""
          .stripMargin)
        // source: price corrections for every 10th existing order plus
        // the pending ('P') orders as fresh inserts
        orders.filter(col("o_orderstatus") =!= "P"
            && col("o_orderkey") % 10 === 0)
          .withColumn("cents", col("cents") + 10000L)
          .unionByName(orders.filter(col("o_orderstatus") === "P"))
          .createOrReplaceTempView("orders_merge_src")
        s.sql("""MERGE INTO graft_cat.contract.orders_merge t
          | USING orders_merge_src s ON t.o_orderkey = s.o_orderkey
          | WHEN MATCHED THEN UPDATE SET cents = s.cents
          | WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        s.sql("""SELECT o_orderstatus, COUNT(*) AS n,
          | CAST(SUM(cents) AS DOUBLE) / 100 AS sum_price
          |FROM graft_cat.contract.orders_merge
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
      },
      Some("""WITH o AS MATERIALIZED (SELECT o_orderkey, o_orderstatus,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |       FROM orders),
        |merged AS (
        |  SELECT o_orderstatus,
        |    CASE WHEN o_orderkey % 10 = 0 THEN cents + 10000 ELSE cents END
        |      AS cents
        |  FROM o WHERE o_orderstatus <> 'P'
        |  UNION ALL
        |  SELECT o_orderstatus, cents FROM o WHERE o_orderstatus = 'P')
        |SELECT o_orderstatus, COUNT(*)::BIGINT AS n,
        |  CAST(SUM(cents) AS DOUBLE) / 100 AS sum_price
        |FROM merged GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin)),

    QueryDef(
      // Z-order layout: the multi-dimensional data-layout
      // primitive — interleave the low 16 bits of customer key and
      // order epoch-day into a Morton code, range-partition + sort the
      // write on it. Files then cover compact z-ranges, so min/max
      // stats prune scans filtered on EITHER dimension — the reason
      // warehouses z-order 100 TB fact tables. The layout claim
      // (disjoint per-file z-ranges) is pinned in ScaleTechniquesSpec;
      // the oracle proves the relayout lost nothing AND that the
      // Morton math itself is bit-identical (count / sum / min / max
      // of z per status, decimal-exact price sums — all integer-exact).
      "q_etl_zorder",
      (s, d) => {
        val out = graft.GraftTmp.dir("zorder_sink")
        Tables.orders(s, d)
          .withColumn("ck", expr("o_custkey & 65535"))
          .withColumn("dy",
            expr("(unix_micros(o_orderdate) div 86400000000) & 65535"))
          // The z value is evaluated twice (repartitionByRange's
          // sampling pass and the write), so it is the closed-form
          // Morton bit-spread, not an interpreted higher-order fold:
          // each 16-bit input spread to even bits via 4 shift-or-mask
          // rounds, dy's copy shifted up one — pure BIGINT shifts/masks
          // that whole-stage codegen compiles, placing bit i of ck at
          // bit 2i and bit i of dy at bit 2i+1.
          .withColumn("zck", expr(
            """((ck | shiftleft(ck, 8)) & 16711935)""")) // 0x00FF00FF
          .withColumn("zck", expr(
            """((zck | shiftleft(zck, 4)) & 252645135)""")) // 0x0F0F0F0F
          .withColumn("zck", expr(
            """((zck | shiftleft(zck, 2)) & 858993459)""")) // 0x33333333
          .withColumn("zck", expr(
            """((zck | shiftleft(zck, 1)) & 1431655765)""")) // 0x55555555
          .withColumn("zdy", expr(
            """((dy | shiftleft(dy, 8)) & 16711935)"""))
          .withColumn("zdy", expr(
            """((zdy | shiftleft(zdy, 4)) & 252645135)"""))
          .withColumn("zdy", expr(
            """((zdy | shiftleft(zdy, 2)) & 858993459)"""))
          .withColumn("zdy", expr(
            """((zdy | shiftleft(zdy, 1)) & 1431655765)"""))
          .withColumn("z", expr("zck + shiftleft(zdy, 1)"))
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"), col("z"))
          .repartitionByRange(8, col("z"))
          .sortWithinPartitions(col("z"))
          .write.mode("overwrite").parquet(out)
        val schema = StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_orderstatus", StringType),
          StructField("o_totalprice", DoubleType),
          StructField("z", LongType)))
        s.read.schema(schema).parquet(out)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("z")).as("sum_z"),
            min(col("z")).as("min_z"),
            max(col("z")).as("max_z"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("sum_price"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""WITH z AS (SELECT o_orderstatus, o_totalprice,
        |  list_sum(list_transform(range(0, 16), i ->
        |    ((((o_custkey & 65535) >> i) & 1) << (2*i))
        |    + (((((epoch_us(o_orderdate) // 86400000000) & 65535) >> i) & 1)
        |       << (2*i + 1))))::BIGINT AS z
        |  FROM orders)
        |SELECT o_orderstatus, COUNT(*)::BIGINT AS n,
        |  SUM(z)::BIGINT AS sum_z, MIN(z)::BIGINT AS min_z,
        |  MAX(z)::BIGINT AS max_z,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM z GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    QueryDef(
      // Connector-native compaction on a VERSIONED table
      // (q_etl_compaction rewrites a parquet directory by hand; this is
      // the OPTIMIZE lifecycle op of the engine's own table format,
      // GraftLines.compact): a 16-way fragmented versioned graftlines
      // table compacts to <= 3 files through a distributed
      // read→coalesce→write job, published as a NEW generation by one
      // atomic manifest rename — so the fragmented generation stays
      // byte-for-byte time-travelable until expireVersions reclaims
      // it, and a crash mid-compact leaves the table exactly as it
      // was. require()s pin the physical contract (file counts, old
      // generation intact); the oracle pins the data surviving
      // bit-for-bit. The rewrite's stats lines ride its commit
      // messages into `_graft_stats`, so pruning keeps working on the
      // compacted layout.
      "q_etl_table_compact",
      (s, d) => {
        val p = graft.GraftTmp.dir("gl_compact")
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(hp, true)
        graft.sources.GraftLines.markVersioned(p,
          s.sparkContext.hadoopConfiguration)
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderstatus"),
            expr("cast(cast(o_totalprice as decimal(18,2)) * 100 " +
              "as bigint)").as("cents"))
          .repartition(16)
          .write.format("graftlines").mode("append").save(p)
        val (nBefore, nAfter) =
          graft.sources.GraftLines.compact(p, 3, s)
        require(nBefore == 16 && nAfter <= 3,
          s"compaction contract: 16 -> <=3 files, got $nBefore -> $nAfter")
        // the fragmented generation is still readable — history intact
        require(s.read.format("graftlines").option("versionAsOf", 1)
          .load(p).count() ==
          s.read.format("graftlines").load(p).count(),
          "compaction must not change the row count, old gen readable")
        s.read.format("graftlines").load(p)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_custkey")).as("cust_sum"),
            (sum(col("cents")).cast(DoubleType) / 100).as("sum_price"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, COUNT(*)::BIGINT AS n,
        | SUM(o_custkey)::BIGINT AS cust_sum,
        | CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |   AS BIGINT)) AS DOUBLE) / 100 AS sum_price
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin)),

    QueryDef(
      // Small-file compaction: the operational sibling of
      // XmlManifest's container-packing answer — a 64-way fragmented
      // parquet directory is rewritten into <= 4 splittable files with
      // coalesce (a partition-merging NARROW dependency: no shuffle, no
      // re-sort, each output task concatenates input splits). The
      // require() makes the physical contract loud; the oracle checks
      // the data survived the rewrite bit-for-bit (per-status counts +
      // decimal-exact sums against the source table). At 100 TB this
      // job is what keeps scan task counts proportional to bytes, not
      // to historical write patterns.
      "q_etl_compaction",
      (s, d) => {
        val small = graft.GraftTmp.dir("compact_in")
        val out = graft.GraftTmp.dir("compact_out")
        Tables.orders(s, d).repartition(64)
          .write.mode("overwrite").parquet(small)
        s.read.schema(Tables.ordersSchema).parquet(small)
          .coalesce(4).write.mode("overwrite").parquet(out)
        val p = new org.apache.hadoop.fs.Path(out)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        val nFiles = fs.listStatus(p)
          .count(_.getPath.getName.endsWith(".parquet"))
        require(nFiles > 0 && nFiles <= 4,
          s"compaction must emit <= 4 data files, wrote $nFiles")
        s.read.schema(Tables.ordersSchema).parquet(out)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("sum_price"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, COUNT(*)::BIGINT AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    QueryDef(
      // Dynamic partition overwrite: the incremental-refresh
      // primitive — a daily pipeline rewrites ONLY the partitions
      // present in the incoming batch, leaving every other partition's
      // files untouched (no read-modify-write of the whole table, no
      // full-table lock). Here the 'R' partition is replaced with a
      // recomputed subset while A and N keep their original bytes; the
      // oracle is the equivalent union. partitionOverwriteMode=dynamic
      // is set per-write via option(), not session-wide.
      "q_etl_partition_overwrite",
      (s, d) => {
        val dir = graft.GraftTmp.dir("dyn_overwrite")
        val li = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_quantity"), col("l_linestatus"),
            col("l_returnflag"))
        li.write.mode("overwrite").partitionBy("l_returnflag").parquet(dir)
        li.filter(col("l_returnflag") === "R" && col("l_orderkey") % 2 === 0)
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("l_returnflag").parquet(dir)
        // the partition column (l_returnflag) stays last in the schema
        val schema = Tables.subSchema("lineitem",
          "l_orderkey", "l_quantity", "l_linestatus", "l_returnflag")
        s.read.schema(schema).parquet(dir)
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast(DecimalType(12, 2)))
              .cast(DoubleType).as("sum_qty"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*)::BIGINT AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM (SELECT * FROM lineitem WHERE l_returnflag != 'R'
        |      UNION ALL
        |      SELECT * FROM lineitem
        |      WHERE l_returnflag = 'R' AND l_orderkey % 2 = 0)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    QueryDef(
      // STATIC partition overwrite statement
      // (q_etl_partition_overwrite proves DYNAMIC mode, where the
      // replaced partitions are whatever the data contains; the
      // `INSERT OVERWRITE … PARTITION (col = literal)` STATEMENT pins
      // the replaced partition in the QUERY TEXT, the backfill idiom:
      // "recompute exactly the 'R' slice, whatever the input holds").
      // The two safety properties the oracle pins: the named partition
      // is fully replaced (its odd orderkeys are gone), and every
      // OTHER partition survives byte-untouched even though the
      // statement ran under overwrite semantics. SQL end to end via a
      // partitioned catalog-less parquet table registered as an
      // external table on the session catalog.
      "q_etl_overwrite_static",
      (s, d) => {
        val dir = graft.GraftTmp.dir("static_overwrite")
        val li = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_quantity"), col("l_linestatus"),
            col("l_returnflag"))
        li.write.mode("overwrite").partitionBy("l_returnflag").parquet(dir)
        s.sql("DROP TABLE IF EXISTS li_static_ow")
        s.sql(s"""CREATE TABLE li_static_ow
          | (l_orderkey BIGINT, l_quantity DOUBLE, l_linestatus STRING,
          |  l_returnflag STRING)
          | USING parquet PARTITIONED BY (l_returnflag)
          | LOCATION '$dir'""".stripMargin)
        s.sql("MSCK REPAIR TABLE li_static_ow")
        li.filter(col("l_returnflag") === "R" && col("l_orderkey") % 2 === 0)
          .select(col("l_orderkey"), col("l_quantity"), col("l_linestatus"))
          .createOrReplaceTempView("li_static_src")
        s.sql("""INSERT OVERWRITE TABLE li_static_ow
          | PARTITION (l_returnflag = 'R')
          | SELECT * FROM li_static_src""".stripMargin)
        s.sql("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
          | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
          |   AS sum_qty
          |FROM li_static_ow
          |GROUP BY l_returnflag, l_linestatus
          |ORDER BY l_returnflag, l_linestatus""".stripMargin)
      },
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*)::BIGINT AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM (SELECT * FROM lineitem WHERE l_returnflag != 'R'
        |      UNION ALL
        |      SELECT * FROM lineitem
        |      WHERE l_returnflag = 'R' AND l_orderkey % 2 = 0)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    QueryDef(
      // Typed Dataset lane in batch: groupByKey +
      // flatMapGroups with case-class-free tuple Encoders — the
      // sorted-iterator-per-key shape for per-key logic that outgrows
      // window functions (multi-pass state machines, custom emission).
      // Semantics = q_stream_session's 30-min gaps-and-islands, reduced
      // to per-user (session count, largest session), so the oracle is
      // the same SQL formulation aggregated one level further. The
      // per-key buffer is session-history-sized (events per user), the
      // group shuffle is the same one hash shuffle as the window form;
      // at extreme per-key cardinality the answer is secondary sort
      // (sortWithinPartitions) — noted, not needed for user-keyed logs.
      "q_etl_typed_sessions",
      (s, d) => {
        import s.implicits._
        val us30 = 30L * 60 * 1000 * 1000
        val ev = Tables.events(s, d)
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            col("event_id"))
          .as[(Long, Long, Long)]
        ev.groupByKey(_._1)
          .flatMapGroups { (user: Long, it: Iterator[(Long, Long, Long)]) =>
            val rows = it.toArray.sortBy(r => (r._2, r._3))
            var sessions = 0L
            var maxLen = 0L
            var cur = 0L
            var prev = Long.MinValue
            rows.foreach { r =>
              if (prev == Long.MinValue || r._2 - prev > us30) {
                sessions += 1
                if (cur > maxLen) maxLen = cur
                cur = 0
              }
              cur += 1
              prev = r._2
            }
            if (cur > maxLen) maxLen = cur
            Iterator((user, sessions, maxLen))
          }
          .toDF("user_id", "n_sessions", "max_session_events")
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, COUNT(*)::BIGINT AS n_sessions,
        | MAX(n)::BIGINT AS max_session_events
        |FROM (SELECT user_id, sid, COUNT(*) AS n
        |      FROM (SELECT user_id, ts,
        |              SUM(brk) OVER (PARTITION BY user_id
        |                ORDER BY ts, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |                AS sid
        |            FROM (SELECT user_id, ts, event_id,
        |                    CASE WHEN LAG(ts) OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id) IS NULL
        |                         OR epoch_us(ts) - epoch_us(LAG(ts)
        |                           OVER (PARTITION BY user_id
        |                             ORDER BY ts, event_id)) > 1800000000
        |                         THEN 1 ELSE 0 END AS brk
        |                  FROM events))
        |      GROUP BY user_id, sid)
        |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    QueryDef(
      // SCD2 validity-window construction — the batch form of the
      // reference's transfo validity windows (each transfo row carries
      // [valid_start, valid_end); a new import closes the prior row).
      // Turn the event log into type-2 dimension rows: each (user,
      // event) opens an interval that the user's next event closes;
      // the last interval stays open (is_current). One shuffle on
      // user_id; the window is a per-key linear pass — scales with
      // keys, no global sort.
      "q_etl_scd2",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("ts"), col("value"))
          .withColumn("valid_to", lead(col("ts"), 1).over(w))
          .select(col("user_id"), col("event_id"),
            col("ts").as("valid_from"), col("valid_to"),
            col("value"), col("valid_to").isNull.as("is_current"))
          .orderBy(col("user_id"), col("valid_from"), col("event_id"))
      },
      Some("""SELECT user_id, event_id, ts AS valid_from,
        | LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |   AS valid_to,
        | value,
        | (LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |   IS NULL) AS is_current
        |FROM events
        |ORDER BY user_id, valid_from, event_id""".stripMargin)),

    QueryDef(
      "q_etl_jdbc_sink",
      (s, d) => {
        // reference A7: POST to REST->PostgreSQL; here: real JDBC round
        // trip through embedded Derby (the only DB in this offline env).
        // Derby writes its boot log to cwd unless told otherwise —
        // keep run droppings out of the repo root (idempotent: the
        // property is read once at Derby boot, so only the first
        // setting in a JVM matters)
        if (System.getProperty("derby.stream.error.file") == null)
          System.setProperty("derby.stream.error.file",
            graft.GraftTmp.dir("derby.log"))
        val url = "jdbc:derby:memory:graftdb;create=true"
        val props = new java.util.Properties()
        props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderdate"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(100)
          .write.mode("overwrite").jdbc(url, "orders_sink", props)
        s.read.jdbc(url, "orders_sink", props)
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)),

    QueryDef(
      // CDC MERGE: apply a keyed changelog (upserts +
      // deletes, latest-wins by sequence number) onto a snapshot — the
      // table-format merge primitive (Delta MERGE / Hudi upsert /
      // "merge-on-read compaction") every incremental 100 TB pipeline
      // runs daily. Changelog is derived deterministically from orders
      // so both engines construct the identical input: seq 1 updates
      // every key % 3 == 0 (+$1), seq 2 deletes every key % 9 == 0 —
      // so deletes must WIN over the earlier update on the %9 keys,
      // and %3 keys missing from the snapshot (%4 == 3) must INSERT.
      // Plan: one max_by aggregate picks the latest change per key (no
      // window/self-join), one left-anti keeps untouched snapshot rows,
      // one union applies survivors — three key-partitioned shuffles,
      // each linear in its input; money moves as exact BIGINT cents.
      "q_etl_merge_cdc",
      (s, d) => {
        val base = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderstatus"),
            expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")
              .as("cents"))
        val target = base.filter(col("o_orderkey") % 4 =!= 3)
        val upd = base.filter(col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey"), lit(1L).as("seq"), lit("U").as("op"),
            col("o_orderstatus"), (col("cents") + 100).as("cents"))
        val del = base.filter(col("o_orderkey") % 9 === 0)
          .select(col("o_orderkey"), lit(2L).as("seq"), lit("D").as("op"),
            col("o_orderstatus"), col("cents"))
        val latest = upd.unionByName(del)
          .groupBy(col("o_orderkey"))
          .agg(max_by(
            struct(col("op"), col("o_orderstatus"), col("cents")),
            col("seq")).as("f"))
          .select(col("o_orderkey"), col("f.op").as("op"),
            col("f.o_orderstatus").as("o_orderstatus"),
            col("f.cents").as("cents"))
        val untouched = target.join(latest.select(col("o_orderkey")),
          Seq("o_orderkey"), "left_anti")
        val applied = latest.filter(col("op") =!= "D").drop("op")
        untouched.unionByName(applied)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            (sum(col("cents")).cast(DoubleType) / 100).as("sum_price"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""WITH base AS MATERIALIZED (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |target AS (SELECT * FROM base WHERE o_orderkey % 4 != 3),
        |chg AS (
        |  SELECT o_orderkey, 1 AS seq, 'U' AS op, o_orderstatus,
        |    cents + 100 AS cents FROM base WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 2 AS seq, 'D' AS op, o_orderstatus, cents
        |  FROM base WHERE o_orderkey % 9 = 0),
        |latest AS (
        |  SELECT o_orderkey, op, o_orderstatus, cents
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
        |          ORDER BY seq DESC) AS rn FROM chg)
        |  WHERE rn = 1),
        |merged AS (
        |  SELECT t.o_orderkey, t.o_orderstatus, t.cents FROM target t
        |  WHERE NOT EXISTS (SELECT 1 FROM latest l
        |                    WHERE l.o_orderkey = t.o_orderkey)
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, cents FROM latest
        |  WHERE op != 'D')
        |SELECT o_orderstatus, COUNT(*)::BIGINT AS n,
        |  CAST(SUM(cents) AS DOUBLE) / 100 AS sum_price
        |FROM merged GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin)),

    QueryDef(
      // Schema evolution: a long-lived 100 TB table is
      // written by v1 jobs for months before v2 adds a column — the
      // reader must merge parquet footers across generations and
      // null-fill the old files, or the table is unreadable without a
      // full rewrite. Two generations land as partition directories
      // (gen=1 without l_returnflag, gen=2 with it); the read uses
      // mergeSchema — deliberately NOT an explicit schema, because
      // footer merging IS the surface under test (the fixture tables
      // keep their never-infer rule). v1 rows surface with a NULL
      // l_returnflag, sentinel-coalesced per §2C; min/max of the
      // discovered gen partition column prove both generations fed
      // every group they should.
      "q_etl_schema_evolution",
      (s, d) => {
        val dir = graft.GraftTmp.dir("schema_evo")
        // Clear the WHOLE table dir first: per-generation overwrite only
        // replaces gen=1/gen=2, so a stale gen=N from an older run (or a
        // crashed concurrent one) would otherwise pollute the mergeSchema
        // read and change the answer.
        val dirP = new org.apache.hadoop.fs.Path(dir)
        val dfs = dirP.getFileSystem(s.sparkContext.hadoopConfiguration)
        dfs.delete(dirP, true)
        val li = Tables.lineitem(s, d)
        li.filter(col("l_linenumber") <= 2)
          .select(col("l_orderkey"), col("l_quantity"))
          .write.mode("overwrite").parquet(s"$dir/gen=1")
        li.filter(col("l_linenumber") >= 3)
          .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
          .write.mode("overwrite").parquet(s"$dir/gen=2")
        s.read.option("mergeSchema", "true").parquet(dir)
          .groupBy(coalesce(col("l_returnflag"), lit("_v1")).as("flag"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("sum_qty"),
            min(col("gen")).cast(LongType).as("min_gen"),
            max(col("gen")).cast(LongType).as("max_gen"))
          .orderBy(col("flag"))
      },
      Some("""WITH u AS (
        |  SELECT l_orderkey, l_quantity, NULL AS l_returnflag, 1 AS gen
        |  FROM lineitem WHERE l_linenumber <= 2
        |  UNION ALL
        |  SELECT l_orderkey, l_quantity, l_returnflag, 2 AS gen
        |  FROM lineitem WHERE l_linenumber >= 3)
        |SELECT COALESCE(l_returnflag, '_v1') AS flag,
        |  COUNT(*)::BIGINT AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  MIN(gen)::BIGINT AS min_gen, MAX(gen)::BIGINT AS max_gen
        |FROM u GROUP BY flag ORDER BY flag""".stripMargin)),

    QueryDef(
      // Right-to-be-forgotten delete cascade: the data-
      // lifecycle op GDPR/CCPA forces on every warehouse — a deletion
      // request set (here: customers whose md5(custkey) lands in a 5%
      // hash slice, the fixture stand-in for an erasure queue)
      // propagated through the foreign-key chain customer → orders →
      // lineitem, with the audit a DPO actually signs off on: per
      // order status, rows before / deleted / after at each level,
      // plus the orphan check (surviving lineitems whose order was
      // deleted — must be 0). Deletion keys stay a TABLE joined
      // LEFT ANTI / LEFT SEMI on the key columns — at 100 TB the
      // request set is millions of rows (broadcast-unsafe) and the
      // anti join shuffles key-partitioned, linear in each table.
      // The cascade never rewrites data here (the write surfaces are
      // q_etl_partition_overwrite / compaction); this is the pure
      // deletion-set algebra, exact-count auditable.
      "q_etl_delete_cascade",
      (s, d) => {
        val del = Tables.customer(s, d)
          .filter(HashGate.bucket("c_custkey", 20) === 0)
          .select(col("c_custkey"))
        val orders = Tables.orders(s, d)
        // the surviving-orders frame feeds the lineitem semi join, the
        // per-status rollup, AND the orphan probe — materialize the two
        // columns they need once instead of re-running the anti join
        // per consumer
        val keptOrders = orders.join(del,
          col("o_custkey") === col("c_custkey"), "left_anti")
          .select(col("o_orderkey"), col("o_orderstatus"))
          .localCheckpoint(eager = false)
        val li = Tables.lineitem(s, d)
        val keptLi = li.join(keptOrders.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_semi")
        val perStatus = orders.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders_before"))
        val perStatusAfter = keptOrders.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders_after"))
        val liTotals = li.agg(count(lit(1)).as("n_li_before"))
          .crossJoin(keptLi.agg(count(lit(1)).as("n_li_after")))
          // orphans: surviving lineitems whose order died — 0 by
          // construction, and the audit proves it
          .crossJoin(keptLi.join(keptOrders.select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left_anti")
            .agg(count(lit(1)).as("n_orphans")))
        perStatus.join(perStatusAfter, Seq("o_orderstatus"))
          .crossJoin(broadcast(liTotals))
          .select(col("o_orderstatus"), col("n_orders_before"),
            (col("n_orders_before") - col("n_orders_after"))
              .as("n_orders_deleted"),
            col("n_orders_after"), col("n_li_before"), col("n_li_after"),
            col("n_orphans"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""WITH del AS (SELECT c_custkey FROM customer
        |  WHERE ('0x' || substr(md5(c_custkey::VARCHAR), 1, 2))::INTEGER
        |        % 20 = 0),
        |ko AS (SELECT * FROM orders
        |       WHERE o_custkey NOT IN (SELECT c_custkey FROM del)),
        |kl AS (SELECT * FROM lineitem
        |       WHERE l_orderkey IN (SELECT o_orderkey FROM ko)),
        |tot AS (SELECT
        |    (SELECT COUNT(*) FROM lineitem)::BIGINT AS n_li_before,
        |    (SELECT COUNT(*) FROM kl)::BIGINT AS n_li_after,
        |    (SELECT COUNT(*) FROM kl
        |     WHERE l_orderkey NOT IN (SELECT o_orderkey FROM ko))::BIGINT
        |      AS n_orphans),
        |b AS (SELECT o_orderstatus, COUNT(*)::BIGINT AS n_orders_before
        |      FROM orders GROUP BY 1),
        |a AS (SELECT o_orderstatus, COUNT(*)::BIGINT AS n_orders_after
        |      FROM ko GROUP BY 1)
        |SELECT b.o_orderstatus, n_orders_before,
        |  n_orders_before - n_orders_after AS n_orders_deleted,
        |  n_orders_after, n_li_before, n_li_after, n_orphans
        |FROM b JOIN a USING (o_orderstatus) CROSS JOIN tot
        |ORDER BY b.o_orderstatus""".stripMargin)),

    QueryDef(
      // Observation metrics: the `df.observe(...)` API — a
      // pipeline's audit counters (row count, exact sum, violation
      // tally) collected ON the main action's single pass, the
      // production alternative to re-scanning the table per metric
      // (which is what a separate audit query costs; DataChecks'
      // one-pass compiler is the declarative cousin). The noop-format
      // write is the action that drains every partition; the observed
      // map is accumulator-backed — constant bytes to the driver, no
      // extra job, no extra scan. The emitted row re-states the
      // metrics as plain columns; the oracle computes them the boring
      // way, proving the ride-along pass lost nothing.
      "q_etl_observe",
      (s, d) => {
        import s.implicits._
        val obs = new org.apache.spark.sql.Observation()
        val li = Tables.lineitem(s, d).observe(obs,
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast(DecimalType(14, 2))).as("sum_qty"),
          count(when(col("l_discount") > 0.06, 1)).as("n_hi_disc"),
          // DISTINCT aggregates are rejected by observe (accumulator
          // metrics must be merge-only) — max is the bounds audit
          max(col("l_extendedprice")).as("max_price"))
        li.write.mode("overwrite").format("noop").save()
        val m = obs.get
        Seq((m("n_rows").asInstanceOf[Long],
            m("sum_qty").asInstanceOf[java.math.BigDecimal].doubleValue(),
            m("n_hi_disc").asInstanceOf[Long],
            m("max_price").asInstanceOf[Double]))
          .toDF("n_rows", "sum_qty", "n_hi_disc", "max_price")
      },
      Some("""SELECT COUNT(*)::BIGINT AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE)
        |    AS sum_qty,
        |  COUNT(CASE WHEN l_discount > 0.06 THEN 1 END)::BIGINT
        |    AS n_hi_disc,
        |  MAX(l_extendedprice) AS max_price
        |FROM lineitem""".stripMargin)),

    QueryDef(
      // Catalog time travel: `VERSION AS OF` on a VERSIONED
      // graftlines table — the Delta/Iceberg reproducibility op
      // ("train on the exact table yesterday's job saw"). Versioning
      // is a TABLE property (TBLPROPERTIES ('versioned'='true')): every
      // commit — the CTAS, an INSERT INTO, and a row-level UPDATE —
      // publishes a generation manifest and deletes nothing, so all
      // three statements stay replayable from the SAME bytes
      // (sources/GraftLines.scala VersionMarker scaladoc; retention is
      // the explicit expireVersions sweep, TimeTravelSpec). The query
      // reads all three generations back through SQL time travel and
      // emits each version's per-status state; the require() pins the
      // physical contract — generation-1 files still on disk after
      // later commits. Cost of a versioned read at 100 TB: ONE extra
      // metadata-file fetch at plan time; the scan, pruning, and
      // block-splitting paths are byte-identical to a live read.
      "q_etl_time_travel",
      (s, d) => {
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.contract")
        s.sql("DROP TABLE IF EXISTS graft_cat.contract.orders_tt")
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")
              .as("cents"))
          .createOrReplaceTempView("orders_tt_src")
        // v1: the CTAS snapshot (non-pending orders)
        s.sql("""CREATE TABLE graft_cat.contract.orders_tt USING graftlines
          | TBLPROPERTIES ('versioned'='true')
          | AS SELECT * FROM orders_tt_src WHERE o_orderstatus <> 'P'"""
          .stripMargin)
        // v2: the pending orders arrive
        s.sql("""INSERT INTO graft_cat.contract.orders_tt
          | SELECT * FROM orders_tt_src WHERE o_orderstatus = 'P'"""
          .stripMargin)
        // v3: the 5% surcharge correction (same statement as
        // q_etl_sql_update — here it becomes time-travelable)
        s.sql("""UPDATE graft_cat.contract.orders_tt
          | SET cents = cents + cents DIV 20
          | WHERE o_orderstatus = 'P' AND o_custkey < 500""".stripMargin)
        // physical contract: later commits deleted nothing of v1
        val tdir = new org.apache.hadoop.fs.Path(contractDir(s, "orders_tt"))
        val fs = tdir.getFileSystem(s.sparkContext.hadoopConfiguration)
        val names = fs.listStatus(tdir).map(_.getPath.getName)
        require(names.exists(n => n.endsWith(".gl") && n.contains("-g1")),
          "time travel broken: generation-1 data files were deleted")
        def at(v: Int) = s.sql(
          s"""SELECT $v AS version, o_orderstatus, COUNT(*) AS n,
            | CAST(SUM(cents) AS DOUBLE) / 100 AS sum_price
            |FROM graft_cat.contract.orders_tt VERSION AS OF $v
            |GROUP BY o_orderstatus""".stripMargin)
        at(1).unionByName(at(2)).unionByName(at(3))
          .orderBy(col("version"), col("o_orderstatus"))
      },
      Some("""WITH o AS MATERIALIZED (SELECT o_orderkey, o_custkey, o_orderstatus,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |       FROM orders)
        |SELECT version, o_orderstatus, n, sum_price FROM (
        |  SELECT 1 AS version, o_orderstatus, COUNT(*)::BIGINT AS n,
        |    CAST(SUM(cents) AS DOUBLE) / 100 AS sum_price
        |  FROM o WHERE o_orderstatus <> 'P' GROUP BY o_orderstatus
        |  UNION ALL
        |  SELECT 2, o_orderstatus, COUNT(*)::BIGINT,
        |    CAST(SUM(cents) AS DOUBLE) / 100
        |  FROM o GROUP BY o_orderstatus
        |  UNION ALL
        |  SELECT 3, o_orderstatus, COUNT(*)::BIGINT,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'P' AND o_custkey < 500
        |      THEN cents + cents // 20 ELSE cents END) AS DOUBLE) / 100
        |  FROM o GROUP BY o_orderstatus)
        |ORDER BY version, o_orderstatus""".stripMargin)),

    QueryDef(
      // Change data feed between versions (the Delta CDF /
      // Iceberg changelog question built directly on time travel:
      // "what changed between v1 and v3?", the incremental-consumer
      // primitive). Without per-row tracking metadata a version diff
      // is set algebra over two versioned reads: inserts = v3 EXCEPT
      // v1, deletes = v1 EXCEPT v3 — an UPDATE surfaces as its
      // delete(pre-image) + insert(post-image) pair, which is
      // precisely what Delta reports for update rows.
      //
      // The diff reads ride the connector's FILE-LEVEL delta
      // (`excludeFilesOfVersion`): versioned file names are never
      // reused, so files common to both manifests are byte-identical
      // and their rows cancel in the diff — each EXCEPT side scans
      // ONLY the files that differ between the generations (the move
      // Delta/Iceberg CDF readers make from their manifests). The
      // delta/EXCEPT equivalence needs each row value to live in one
      // file per version (the option's documented precondition) —
      // o_orderkey makes every row unique here, so it holds. The
      // initial load is range-clustered on o_custkey so the COW
      // commits rewrite only the few files whose custkey range the
      // predicates touch — at 100 TB this is the difference between
      // diffing two full table scans and diffing the handful of
      // rewritten files, independent of how many commits lie between.
      // The commits still exercise three write paths: clustered
      // append, COW DELETE (metadata deletes decline on versioned
      // tables), COW UPDATE.
      "q_etl_change_feed",
      (s, d) => {
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.contract")
        s.sql("DROP TABLE IF EXISTS graft_cat.contract.orders_cf")
        s.sql("""CREATE TABLE graft_cat.contract.orders_cf
          | (o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
          |  cents BIGINT)
          | USING graftlines TBLPROPERTIES ('versioned'='true')"""
          .stripMargin)
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")
              .as("cents"))
          .writeTo("graft_cat.contract.orders_cf")
          .option("clusterBy", "o_custkey").append()
        s.sql("""DELETE FROM graft_cat.contract.orders_cf
          | WHERE o_orderstatus = 'P' AND o_custkey < 200""".stripMargin)
        s.sql("""UPDATE graft_cat.contract.orders_cf
          | SET cents = cents + cents DIV 100
          | WHERE o_orderstatus = 'F' AND o_custkey < 100""".stripMargin)
        val tdir = contractDir(s, "orders_cf")
        def delta(v: Int, minus: Int) = s.read.format("graftlines")
          .option("versionAsOf", v).option("excludeFilesOfVersion", minus)
          .load(tdir)
        val v1 = delta(1, 3) // v1's rewritten-away files only
        val v3 = delta(3, 1) // v3's replacement files only
        // One-pass symmetric difference: v3.except(v1) ∪ v1.except(v3)
        // plans TWO except subtrees, each scanning BOTH delta reads —
        // four delta scans and two separate anti-join aggregations. A
        // side-tagged union + ONE full-row aggregate yields both row
        // sets in a single shuffle: a row is an insert
        // iff it occurs only under the v3 tag, a delete iff only under
        // v1 (the groupBy IS except's set-distinct; groupBy keys use
        // the same null-safe equality as EXCEPT, and a row present on
        // both sides cancels out of both outputs exactly as two
        // EXCEPTs would cancel it). Values bit-identical; oracle
        // unchanged.
        val diff = v3.withColumn("side", lit(2L))
          .unionByName(v1.withColumn("side", lit(1L)))
          .groupBy(col("o_orderkey"), col("o_custkey"),
            col("o_orderstatus"), col("cents"))
          .agg(sum(when(col("side") === 2L, 1L).otherwise(0L)).as("n3"),
            sum(when(col("side") === 1L, 1L).otherwise(0L)).as("n1"))
          .filter((col("n3") > 0) =!= (col("n1") > 0))
          .withColumn("change",
            when(col("n3") > 0, "insert").otherwise("delete"))
        diff.groupBy(col("change"), col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            (sum(col("cents")).cast(DoubleType) / 100).as("sum_price"))
          .orderBy(col("change"), col("o_orderstatus"))
      },
      Some("""WITH o AS MATERIALIZED (SELECT o_orderkey, o_custkey, o_orderstatus,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |       FROM orders),
        |feed AS (
        |  SELECT 'delete' AS change, o_orderstatus, cents
        |  FROM o WHERE o_orderstatus = 'P' AND o_custkey < 200
        |  UNION ALL
        |  SELECT 'delete', o_orderstatus, cents
        |  FROM o WHERE o_orderstatus = 'F' AND o_custkey < 100
        |  UNION ALL
        |  SELECT 'insert', o_orderstatus, cents + cents // 100
        |  FROM o WHERE o_orderstatus = 'F' AND o_custkey < 100)
        |SELECT change, o_orderstatus, COUNT(*)::BIGINT AS n,
        | CAST(SUM(cents) AS DOUBLE) / 100 AS sum_price
        |FROM feed GROUP BY change, o_orderstatus
        |ORDER BY change, o_orderstatus""".stripMargin)),

    QueryDef(
      // Triangle counting: the graph family's third
      // primitive after reachability (q_graph_bfs_hops) and
      // componenthood (q_dedup_cluster*) — the motif count behind
      // clustering coefficients and community density. Node space:
      // part/supp keys folded into one id space mod 137 (the
      // co-purchase graph is bipartite, hence triangle-free; folding
      // both key families into ONE residue space makes the projection
      // non-bipartite while keeping edges data-derived). The count
      // uses the ORIENTED edge algorithm every distributed triangle
      // counter builds on (Suri & Vassilvitskii's MR ideas): orient
      // every edge low→high, then triangles = edges(a,b)⋈edges(b,c)
      // ⋈edges(a,c) with a<b<c — each triangle counted exactly once,
      // no permutation blowup. At 100 TB the orientation would be BY
      // DEGREE (high-degree nodes get few out-edges, bounding the
      // wedge join); with a 137-node residue space the id orientation
      // is the same plan shape at toy density. Wedges (length-2 paths)
      // come free from the degree table — Σ d(d-1)/2, exact BIGINTs —
      // giving the global clustering coefficient as one final double
      // division, identical IEEE op both engines.
      "q_graph_triangles",
      (s, d) => {
        val raw = Tables.lineitem(s, d)
          .select((col("l_partkey") % 137).as("x"),
            (col("l_suppkey") % 137).as("y"))
          .filter(col("x") =!= col("y"))
        val edges = raw
          .select(least(col("x"), col("y")).as("a"),
            greatest(col("x"), col("y")).as("b"))
          .distinct()
        val deg = edges.select(col("a").as("n"))
          .unionByName(edges.select(col("b").as("n")))
          .groupBy(col("n")).agg(count(lit(1)).as("deg"))
        val wedges = deg.agg(
          expr("sum(deg * (deg - 1)) div 2").as("n_wedges"),
          count(lit(1)).as("n_nodes"))
        val e1 = edges.select(col("a"), col("b"))
        val e2 = edges.select(col("a").as("b"), col("b").as("c"))
        val e3 = edges.select(col("a").as("a3"), col("b").as("c3"))
        val tri = e1.join(e2, Seq("b"))
          .join(e3, col("a") === col("a3") && col("c") === col("c3"))
          .agg(count(lit(1)).as("n_triangles"))
        edges.agg(count(lit(1)).as("n_edges"))
          .crossJoin(wedges).crossJoin(tri)
          .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
            col("n_triangles"),
            (lit(3.0) * col("n_triangles") / col("n_wedges"))
              .as("clustering"))
      },
      // e/deg AS MATERIALIZED: DuckDB would otherwise inline e's
      // full-lineitem DISTINCT at each of its six reference sites
      // (three of them inside the triangle self-join)
      Some("""WITH e AS MATERIALIZED (
        |  SELECT DISTINCT LEAST(x, y) AS a, GREATEST(x, y) AS b
        |  FROM (SELECT l_partkey % 137 AS x, l_suppkey % 137 AS y
        |        FROM lineitem) WHERE x <> y),
        |deg AS MATERIALIZED (SELECT n, COUNT(*)::BIGINT AS deg FROM (
        |          SELECT a AS n FROM e UNION ALL SELECT b FROM e)
        |        GROUP BY n),
        |w AS (SELECT CAST(SUM(deg * (deg - 1)) // 2 AS BIGINT)
        |        AS n_wedges, COUNT(*)::BIGINT AS n_nodes FROM deg),
        |t AS (SELECT COUNT(*)::BIGINT AS n_triangles
        |      FROM e e1 JOIN e e2 ON e1.b = e2.a
        |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |ne AS (SELECT COUNT(*)::BIGINT AS n_edges FROM e)
        |SELECT n_nodes, n_edges, n_wedges, n_triangles,
        |  3.0::DOUBLE * n_triangles / n_wedges AS clustering
        |FROM ne, w, t""".stripMargin)),

    QueryDef(
      // PageRank: the canonical iterative graph rank, run
      // on the same bidirectional customer–supplier co-purchase graph
      // as q_graph_bfs_hops. The hash-match contract forbids floating
      // ranks (per-partition summation order would change low bits
      // every run), so ranks live in INTEGER FIXED-POINT: 10^12 total
      // rank units, r0 = total div N, contribution = r div out-degree,
      // r' = teleport + (85·Σcontrib) div 100 — every op BIGINT
      // truncating division, bit-identical on any engine and any
      // partitioning, no tolerance anywhere. Three Jacobi iterations,
      // each one co-partitioned equi-join (edges ⋈ ranks on src) plus
      // one hash aggregate on dst — the exact plan a 1000-executor
      // PageRank runs, with edges localCheckpoint-ed ONCE and each
      // rank frame checkpointed so lineage stays O(rounds) (the BFS /
      // ConnectedComponents discipline). The symmetric graph has no
      // dangling nodes, so no dangling-mass term is needed (stated,
      // not assumed: every node present in `deg` has out-edges by
      // construction). Oracle unrolls the same three rounds as CTE
      // stages in the same integer arithmetic.
      "q_graph_pagerank",
      (s, d) => {
        val SCALE = 1000000000000L
        val e0 = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"))
          .join(Tables.lineitem(s, d)
            .select(col("l_orderkey"), col("l_suppkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("c"),
            (col("l_suppkey") * 2 + 1).as("sn"))
          .distinct()
          // r16: checkpoint BEFORE the symmetric union — union's two
          // children are separate subtrees (no static cross-child CSE;
          // measured 1.13 vs 0.94 s warm for the edge build), the same
          // discipline ConnectedComponents.label documents. Lazy: the
          // first action over edges materializes both frames.
          .localCheckpoint(eager = false)
        val edges = e0.select(col("c").as("src"), col("sn").as("dst"))
          .unionByName(e0.select(col("sn").as("src"), col("c").as("dst")))
          .localCheckpoint(eager = false)
        val deg = edges.groupBy(col("src"))
          .agg(count(lit(1)).as("deg")).localCheckpoint(eager = false)
        // the count below is the action that materializes deg (and the
        // edge list riding inside its plan) into the checkpoint cache
        val n = deg.count() // metadata scalar: node count for r0/teleport
        val r0u = SCALE / n
        val teleport = 15L * r0u / 100L
        var ranks = deg.select(col("src").as("node"), lit(r0u).as("r"))
        for (_ <- 1 to 3) {
          // Contribution r div deg depends only on the SOURCE node, so
          // it is computed on the node-sized ranks ⋈ deg join FIRST and
          // the single edge-sized join hangs off that: the 2|E| edge
          // table goes through ONE join stage per round, not two. Same inner joins on the same unique keys, same
          // BIGINT ops, bit-identical ranks. Checkpoints are LAZY: the
          // round count is fixed (no convergence probe reads them), so
          // eager mode's separate per-round materialization job was
          // redundant — 3 fewer driver-dispatched jobs per run (under
          // AQE the checkpoint call still runs each round's shuffle
          // stages synchronously; only the final result-stage job is
          // deferred) — while the checkpoint still truncates lineage.
          val contrib = ranks
            .join(deg.withColumnRenamed("src", "node"), Seq("node"))
            .select(col("node").as("src"), expr("r div deg").as("contrib"))
          ranks = edges
            .join(contrib, Seq("src"))
            .select(col("dst").as("node"), col("contrib"))
            .groupBy(col("node"))
            .agg((lit(teleport)
              + expr("85 * sum(contrib) div 100")).as("r"))
            .localCheckpoint(eager = false)
        }
        ranks.join(deg.withColumnRenamed("src", "node"), Seq("node"))
          .select(col("node"), col("deg"), col("r").as("rank_units"))
          .orderBy(col("rank_units").desc, col("node"))
          .limit(15)
      },
      // every CTE is AS MATERIALIZED: DuckDB inlines a CTE at EVERY
      // reference site, so the r1->r2->r3 chain re-expands e (and e
      // re-expands e0's 6M-row DISTINCT twice) exponentially with
      // iteration depth — at sf1 the inlined plan exhausted ~100 GB of
      // RAM plus 79 GB of spill on an 11.7M-edge graph that
      // materializes in MBs. Same values, same types; Postgres accepts
      // the same hint.
      Some("""WITH e0 AS MATERIALIZED (SELECT DISTINCT o_custkey * 2 AS c,
        |         l_suppkey * 2 + 1 AS sn
        |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS MATERIALIZED (SELECT c AS src, sn AS dst FROM e0
        |      UNION ALL SELECT sn, c FROM e0),
        |deg AS MATERIALIZED (SELECT src, COUNT(*)::BIGINT AS deg
        |       FROM e GROUP BY src),
        |nn AS MATERIALIZED (SELECT COUNT(*)::BIGINT AS n FROM deg),
        |c0 AS MATERIALIZED (SELECT (1000000000000 // n) AS r0u,
        |         (15 * (1000000000000 // n)) // 100 AS tp FROM nn),
        |r1 AS MATERIALIZED (SELECT e.dst AS node,
        |         MIN(c0.tp) + (85 * SUM(c0.r0u // deg.deg)) // 100 AS r
        |       FROM e JOIN deg ON e.src = deg.src CROSS JOIN c0
        |       GROUP BY e.dst),
        |r2 AS MATERIALIZED (SELECT e.dst AS node,
        |         MIN(c0.tp) + (85 * SUM(r1.r // deg.deg)) // 100 AS r
        |       FROM e JOIN deg ON e.src = deg.src
        |         JOIN r1 ON e.src = r1.node CROSS JOIN c0
        |       GROUP BY e.dst),
        |r3 AS MATERIALIZED (SELECT e.dst AS node,
        |         MIN(c0.tp) + (85 * SUM(r2.r // deg.deg)) // 100 AS r
        |       FROM e JOIN deg ON e.src = deg.src
        |         JOIN r2 ON e.src = r2.node CROSS JOIN c0
        |       GROUP BY e.dst)
        |SELECT r3.node, deg.deg, CAST(r3.r AS BIGINT) AS rank_units
        |FROM r3 JOIN deg ON r3.node = deg.src
        |ORDER BY rank_units DESC, node LIMIT 15""".stripMargin)),

    QueryDef(
      // Label-propagation community detection, 3 synchronous rounds
      // (the graph family: componenthood = CC, reachability = BFS,
      // centrality = PageRank, motifs = triangles, COMMUNITIES = LPA). Textbook LPA is nondeterministic (random
      // visit order, arbitrary ties) — unusable under a hash-match
      // contract — so this is the deterministic synchronous variant:
      // every node simultaneously adopts the label most frequent among
      // its neighbors, ties toward the smallest label. The argmax with
      // tiebreak is ONE integer aggregate per node: neighbors' label
      // counts pack into cnt*2^22 + (2^22-1-label), MAX picks
      // (count desc, label asc), pure BIGINT arithmetic both engines —
      // no min_by/arg_min struct-ordering parity risk. Per round: one
      // co-partitioned equi-join (edges ⋈ labels on src) + two hash
      // aggs keyed on (dst[, label]) — the same 1000-executor plan
      // family as PageRank; edges localCheckpoint-ed once, label
      // frames per round (the BFS/CC lineage discipline). The
      // bipartite co-purchase graph keeps real hubs, so rounds
      // genuinely contract the label space. Oracle unrolls the same 3
      // rounds in identical BIGINT arithmetic.
      "q_graph_label_prop",
      (s, d) => {
        // Packing bound: label ids ride in the LOW bits as
        // BIG-1-label, so a node id >= BIG silently corrupts the argmax
        // (the subtraction goes negative and MAX ranks garbage). 2^22
        // held only to ~4M nodes — a production graph clears that
        // easily — so the bound is 2^31 (2G nodes; cnt*2^31 still fits
        // int64 for any real degree) and the id-domain assumption is
        // CHECKED loudly below instead of commented.
        val BIG = 1L << 31
        val e0 = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"))
          .join(Tables.lineitem(s, d)
            .select(col("l_orderkey"), col("l_suppkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("c"),
            (col("l_suppkey") * 2 + 1).as("sn"))
          .distinct()
          // r16: checkpoint BEFORE the symmetric union — union's two
          // children are separate subtrees (no static cross-child CSE;
          // measured 1.13 vs 0.94 s warm for the edge build), the same
          // discipline ConnectedComponents.label documents. Lazy: the
          // first action over edges materializes both frames.
          .localCheckpoint(eager = false)
        val edges = e0.select(col("c").as("src"), col("sn").as("dst"))
          .unionByName(e0.select(col("sn").as("src"), col("c").as("dst")))
          .localCheckpoint(eager = false)
        // Round 1 closed form: initial labels are the (distinct) node
        // ids, so every neighbor label has count 1 and the
        // most-frequent-with-min-tiebreak update degenerates to plain
        // min(neighbor) — ONE aggregate instead of a join + two aggs.
        // Not a data assumption: it holds by construction of l0. The
        // oracle keeps the generic form; the results are identical.
        // Checkpoints are LAZY: the maxId gate right below is the
        // action that fills round 1's checkpoint cache
        // (and the edge list riding inside its plan), and rounds 2-3
        // have no driver-side read at all. Lazy skips eager's separate
        // materialization job per round — under AQE the checkpoint call
        // still runs each round's shuffle stages synchronously. Same
        // lineage truncation, 3 fewer driver-dispatched jobs, identical
        // labels.
        var labels = edges.groupBy(col("dst"))
          .agg(min(col("src")).as("label"))
          .withColumnRenamed("dst", "node")
          .localCheckpoint(eager = false)
        // loud id-domain gate on the CHECKPOINTED first round (one
        // small job): labels only ever copy existing labels, so the
        // domain never grows after this point. Driver-side on purpose —
        // an assert_true column can be constant-propagated into the
        // wrong when-branch (the engine's documented Catalyst trap).
        val maxId = labels
          .agg(max(greatest(col("node"), col("label")))).head().getLong(0)
        require(maxId < BIG,
          s"q_graph_label_prop: node id $maxId >= 2^31 — the " +
            "(count, label) packing would corrupt; dense_rank-compress " +
            "the id space before LPA")
        for (_ <- 2 to 3) {
          labels = edges
            .join(labels.withColumnRenamed("node", "src"), Seq("src"))
            .groupBy(col("dst"), col("label"))
            .agg(count(lit(1)).as("cnt"))
            .groupBy(col("dst"))
            .agg(max(col("cnt") * BIG + (lit(BIG) - 1 - col("label")))
              .as("pack"))
            .select(col("dst").as("node"),
              (lit(BIG) - 1 - (col("pack") % BIG)).as("label"))
            .localCheckpoint(eager = false)
        }
        labels.groupBy(col("label").as("community"))
          .agg(count(lit(1)).as("n_nodes"),
            min(col("node")).as("min_node"),
            max(col("node")).as("max_node"))
          .orderBy(col("n_nodes").desc, col("community"))
          .limit(20)
      },
      // AS MATERIALIZED throughout: the l1->l2->l3 chain would
      // otherwise re-inline each predecessor round (and e0's 6M-row
      // DISTINCT) at every reference — exponential plan expansion with
      // round count, the q_graph_pagerank failure mode
      Some("""WITH e0 AS MATERIALIZED (SELECT DISTINCT o_custkey * 2 AS c,
        |         l_suppkey * 2 + 1 AS sn
        |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS MATERIALIZED (SELECT c AS src, sn AS dst FROM e0
        |      UNION ALL SELECT sn, c FROM e0),
        |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label
        |       FROM e),
        |l1 AS MATERIALIZED (SELECT dst AS node,
        |         2147483647 - (MAX(cnt * 2147483648 + (2147483647 - label))
        |           % 2147483648) AS label
        |       FROM (SELECT e.dst, l0.label, COUNT(*)::BIGINT AS cnt
        |             FROM e JOIN l0 ON e.src = l0.node
        |             GROUP BY e.dst, l0.label) t GROUP BY dst),
        |l2 AS MATERIALIZED (SELECT dst AS node,
        |         2147483647 - (MAX(cnt * 2147483648 + (2147483647 - label))
        |           % 2147483648) AS label
        |       FROM (SELECT e.dst, l1.label, COUNT(*)::BIGINT AS cnt
        |             FROM e JOIN l1 ON e.src = l1.node
        |             GROUP BY e.dst, l1.label) t GROUP BY dst),
        |l3 AS MATERIALIZED (SELECT dst AS node,
        |         2147483647 - (MAX(cnt * 2147483648 + (2147483647 - label))
        |           % 2147483648) AS label
        |       FROM (SELECT e.dst, l2.label, COUNT(*)::BIGINT AS cnt
        |             FROM e JOIN l2 ON e.src = l2.node
        |             GROUP BY e.dst, l2.label) t GROUP BY dst)
        |SELECT label AS community, COUNT(*)::BIGINT AS n_nodes,
        | MIN(node) AS min_node, MAX(node) AS max_node
        |FROM l3 GROUP BY label
        |ORDER BY n_nodes DESC, community LIMIT 20""".stripMargin))
  )
}
