package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Frame-graph traversal: compose affine transfos along referential
  * paths (SURVEY §1.3 "frame graph (referentials+transfos) → plain
  * DataFrames nodes/edges; traversals = self-joins"; upstream li3ds
  * datastore capability [unverified]).
  *
  * The li3ds datastore is a graph: referentials are nodes (world, rig
  * base, camera, image frames) and transfos are edges carrying an
  * `affine_mat4x3` — 12 doubles, row-major [R|t] — mapping coordinates
  * from the source referential into the target. A user's first query
  * after import is "give me the world→image transform for this
  * sensor", i.e. chain the matrices along the path, restricted to one
  * `transfo_tree` snapshot so the answer is consistent.
  *
  * Spark-first shape: the path walk is a bounded sequence of equi-joins
  * (frontier.dst == edges.src) — one per hop, not a driver loop over
  * collected rows — and the matrix product is pure column arithmetic
  * (codegen'd, no UDF). Frame graphs are structurally shallow
  * (world→rig→camera→rawImage is 3 hops), so `maxHops` is a small
  * constant; the joins shuffle on referential names, or broadcast when
  * the edge table is dimension-sized — metadata-scale either way, even
  * when the fact tables are 100 TB.
  */
object FrameGraph {

  /** Affine composition `outer ∘ inner` (apply `inner` first):
    * out.R = outer.R · inner.R, out.t = outer.R · inner.t + outer.t.
    * Both operands are array<double> length-12 row-major [R|t]. Element
    * order is fixed (left-to-right sum of three products, translation
    * added last) so results are reproducible bit-for-bit — the DuckDB
    * oracle mirrors the same expression shape.
    */
  def compose(outer: Column, inner: Column): Column = {
    def e(m: Column, i: Int, j: Int): Column = element_at(m, i * 4 + j + 1)
    val cells = for { i <- 0 until 3; j <- 0 until 4 } yield {
      val s = (0 until 3).map(k => e(outer, i, k) * e(inner, k, j))
        .reduceLeft(_ + _)
      if (j == 3) s + e(outer, i, 3) else s
    }
    array(cells: _*)
  }

  /** Canonical (src, dst, mat4x3) edges from the blinis importer
    * output: one arm per camera, nodes namespaced by rig name so
    * several rigs coexist in one graph without collisions.
    */
  def blinisEdges(transfos: DataFrame): DataFrame =
    transfos.select(
      concat(col("rig"), lit("/base")).as("src"),
      concat(col("rig"), lit("/"), col("cam")).as("dst"),
      col("mat4x3"))

  /** Canonical pose edges from the orimatis importer output:
    * world -> <sensor> carrying the [R|t] pose. Only the affine pose
    * arm composes — the pinhole/spherical intrinsics rows carry
    * non-affine parameter vectors and are filtered out. Align `dst`
    * names with the rig graph (e.g. rename to `<rig>/base`) before
    * unioning with [[blinisEdges]].
    */
  def orimatisPoseEdges(transfos: DataFrame,
      world: String = "world"): DataFrame =
    transfos.filter(col("transfo_type") === "affine_mat4x3")
      .select(lit(world).as("src"), col("sensor_name").as("dst"),
        col("mat4x3"))

  /** Restrict `transfos` to the membership of one `transfo_tree`
    * snapshot (tree rows as emitted by `MicMacEtl.transfoTree`: one row
    * per file with the sorted set of member transfo names). The result
    * is a consistent edge set: composing inside it can never mix two
    * import generations — which is why membership is keyed by
    * (file, name), not name alone: natural transfo names repeat across
    * imports (every orimatis pose is 'affine_mat4x3', two rigs can both
    * carry a 'cam_00'), and a name-only match would leak identically
    * named transfos from OTHER files into the snapshot.
    *
    * Tree rows are metadata, so the matching ones are collected once and
    * the result is a plain filter on `transfos`: no join, and the tree
    * aggregate runs once. A null file or member name never matches.
    */
  def snapshot(transfos: DataFrame, transfotrees: DataFrame,
      treeName: String, nameCol: String): DataFrame = {
    val matching = transfotrees.filter(col("tree_name") === treeName)
      .select(col("file"), col("transfos")).collect()
    // tree_name is the file BASENAME: two same-named files imported
    // from different directories both match, and admitting both files'
    // edges would blend the generations this function exists to keep
    // apart. Zero matches is as loud: a typo'd or never-imported tree
    // name would otherwise return an EMPTY edge set, and every
    // downstream composePath would report "no path" with no error
    // anywhere. Callers probing for a maybe-absent tree filter
    // transfotrees themselves first.
    val n = matching.length
    require(n != 0,
      s"FrameGraph.snapshot: no imported tree is named '$treeName' — " +
        "an absent snapshot must fail loudly, not yield an empty edge " +
        "set (probe transfotrees directly if absence is expected)")
    require(n <= 1,
      s"FrameGraph.snapshot: tree name '$treeName' matches $n imported " +
        "trees (same-named files from different directories) — " +
        "disambiguate by filtering transfotrees to one file first")
    val members = Option(matching(0).getSeq[Any](1)).getOrElse(Nil)
    transfos.filter(col("file") === lit(matching(0).get(0))
      && col(nameCol).isin(members: _*))
  }

  /** All composed transfos from `from` to `to` in at most `maxHops`
    * edge traversals. `edges` must expose `srcCol`/`dstCol` (referential
    * names/ids) and `matCol` (length-12 array<double>). Output: one row
    * per path that reaches `to`, with columns
    * (srcCol, dstCol, hops, matCol).
    *
    * Composition associates as edge_h ∘ (edge_{h-1} ∘ (… ∘ edge_1)) —
    * the frontier accumulates from the path start outward — and the
    * oracle mirrors that association, so float results are reproducible.
    * On a DAG with a unique path (the frame-tree case) this returns
    * exactly one row.
    */
  def composePath(edges: DataFrame, from: Column, to: Column,
      maxHops: Int = 8, srcCol: String = "src", dstCol: String = "dst",
      matCol: String = "mat4x3",
      materializeFrontiers: Boolean = false): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1: $maxHops")
    val base = edges.select(col(srcCol).as("_fg_src"),
      col(dstCol).as("_fg_dst"), col(matCol).as("_fg_mat"))
    val step = stepSide(edges, srcCol, dstCol, matCol)
    var frontier = materialize(base.filter(col("_fg_src") === from)
      .withColumn("hops", lit(1)), materializeFrontiers)
    var reached = frontier.filter(col("_fg_dst") === to)
    for (h <- 2 to maxHops) {
      // frontier rows already at `to` are terminal (frame paths end at
      // the requested referential); everything else extends one hop
      frontier = materialize(frontier.filter(col("_fg_dst") =!= to)
        .join(step, col("_fg_dst") === col("_e_src"))
        .select(col("_fg_src"), col("_e_dst").as("_fg_dst"),
          compose(col("_e_mat"), col("_fg_mat")).as("_fg_mat"))
        .withColumn("hops", lit(h)), materializeFrontiers)
      reached = reached.unionByName(frontier.filter(col("_fg_dst") === to))
    }
    reached.select(col("_fg_src").as(srcCol), col("_fg_dst").as(dstCol),
      col("hops"), col("_fg_mat").as(matCol))
  }

  /** Each frontier is consumed TWICE: by the terminal/output filter and
    * by the next hop's join. With broadcast hop joins there is no stage
    * boundary between hops, so Spark recomputes the whole h-join prefix
    * for the depth-h output — O(maxHops²) prefix recomputation, but
    * each prefix is ONE fused codegen stage over the (small) frontier.
    * For a metadata-sized graph that recompute is cheaper than paying a
    * shuffle per hop, so the default inserts no exchange. When the
    * frontier is itself large (millions of per-image pose rows), pass
    * `materializeFrontiers = true`: the tiny repartition below becomes
    * a stage boundary, each frontier is computed once, and
    * ReusedExchange serves both consumers. */
  private def materialize(frontier: DataFrame, on: Boolean): DataFrame =
    if (on) frontier.repartition(col("_fg_dst")) else frontier

  /** A frame graph is metadata — dimension-sized next to the fact
    * tables it orients — so the per-hop join broadcasts the edge side:
    * the frontier never shuffles, and the one broadcast exchange is
    * reused across every hop. */
  private def stepSide(edges: DataFrame, srcCol: String, dstCol: String,
      matCol: String): DataFrame =
    broadcast(edges.select(col(srcCol).as("_e_src"),
      col(dstCol).as("_e_dst"), col(matCol).as("_e_mat")))

  /** Composed transfos from `root` to EVERY referential reachable in at
    * most `maxHops` — the batch shape: one pass materializes the whole
    * pose table (world→rig, world→camera, world→image for every sensor)
    * instead of one composePath call per target. Output: one row per
    * (reached node, path) with columns (dstCol, hops, matCol).
    *
    * Same bounded-self-join structure as [[composePath]]; each hop is
    * one equi-join on the referential key, so the plan is `maxHops`
    * joins regardless of how many sensors the edge table carries.
    */
  def composeFromRoot(edges: DataFrame, root: Column, maxHops: Int = 8,
      srcCol: String = "src", dstCol: String = "dst",
      matCol: String = "mat4x3",
      materializeFrontiers: Boolean = false): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1: $maxHops")
    val step = stepSide(edges, srcCol, dstCol, matCol)
    // frontier reuse-vs-recompute tradeoff: see [[materialize]]
    var frontier = materialize(edges
      .select(col(srcCol).as("_fg_src"), col(dstCol).as("_fg_dst"),
        col(matCol).as("_fg_mat"))
      .filter(col("_fg_src") === root)
      .withColumn("hops", lit(1)), materializeFrontiers)
    var acc = frontier
    for (h <- 2 to maxHops) {
      frontier = materialize(frontier
        .join(step, col("_fg_dst") === col("_e_src"))
        .select(col("_fg_src"), col("_e_dst").as("_fg_dst"),
          compose(col("_e_mat"), col("_fg_mat")).as("_fg_mat"))
        .withColumn("hops", lit(h)), materializeFrontiers)
      acc = acc.unionByName(frontier)
    }
    acc.select(col("_fg_dst").as(dstCol), col("hops"),
      col("_fg_mat").as(matCol))
  }

  /** Tree-consistency validation of a snapshot's edge set — the check a
    * datastore import runs before trusting composePath results. A
    * transfo_tree snapshot must be a forest: every referential has at
    * most one parent, exactly one edge per (src, dst), and no
    * referential can reach itself. Returns one (kind, node) row per
    * violation, `node` in the edge columns' OWN type (the real frame
    * graphs are string-keyed — 'world', 'rig/base' — so no numeric
    * cast may touch the keys):
    *  - `multi_parent`: a dst with more than one distinct src,
    *  - `duplicate_edge`: a (src, dst) pair appearing more than once
    *    (a double import — composePath would emit duplicate pose rows),
    *  - `self_loop`: an edge src == dst,
    *  - `cycle`: a node that reaches itself within `maxHops` (includes
    *    self-loops at hop 1 — a self-loop is also a cycle),
    *  - `null_key`: an edge with a null src or dst — invisible to the
    *    other checks (aggregates skip nulls, equi-joins never match a
    *    null) and silently dropped by traversals, so it must be
    *    flagged here; `node` is the edge's non-null end when one
    *    exists.
    * Empty result = consistent. Reachability is the same bounded
    * hop-join walk as [[composeFromRoot]] without matrices, with the
    * frontier deduplicated per hop: validation runs on possibly-CORRUPT
    * graphs, where undeduplicated path enumeration would multiply by
    * the branching factor every hop — distinct (origin, cur) pairs
    * bound the frontier to V² whatever the fault.
    */
  def validateTree(edges: DataFrame, maxHops: Int = 8,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1: $maxHops")
    val e = edges.select(col(srcCol).as("_v_src"), col(dstCol).as("_v_dst"))
    val multi = e.groupBy(col("_v_dst"))
      .agg(countDistinct(col("_v_src")).as("_v_n"))
      .filter(col("_v_n") > 1)
      .select(lit("multi_parent").as("kind"), col("_v_dst").as("node"))
    val dup = e.groupBy(col("_v_src"), col("_v_dst"))
      .agg(count(lit(1)).as("_v_n"))
      .filter(col("_v_n") > 1)
      .select(lit("duplicate_edge").as("kind"), col("_v_dst").as("node"))
    val selfLoop = e.filter(col("_v_src") === col("_v_dst"))
      .select(lit("self_loop").as("kind"), col("_v_src").as("node"))
      .distinct()
    // same edge-side broadcast as composePath/composeFromRoot: frame
    // graphs are metadata-sized, so the deduplicated edge set ships
    val dedupEdges = e
      .select(col("_v_src").as("_s_src"), col("_v_dst").as("_s_dst"))
      .distinct()
    val step = broadcast(dedupEdges)
    // Cycle probe by path DOUBLING: R holds all reachable (origin, cur)
    // pairs with path length <= len; R ∪ (R ∘ R) lifts len to 2*len
    // because every intermediate length already exists in R, so
    // log2(maxHops) rounds replace maxHops-1 frontier steps (remainder
    // hops finish with single edge steps when maxHops isn't a power of
    // two). Each round localCheckpoints so the self-join reads a
    // materialized table rather than doubling the lineage; a cycle
    // within maxHops is then exactly an (origin, origin) pair. The
    // checkpoints are lazy: no round reads a result on the driver, so an
    // eager checkpoint's own materialization job would be pure dispatch
    // (under AQE each round's shuffle stages still run when the
    // checkpoint finalizes its plan).
    var reach = dedupEdges
      .select(col("_s_src").as("origin"), col("_s_dst").as("cur"))
      .localCheckpoint(eager = false)
    var len = 1
    while (len < maxHops) {
      if (len * 2 <= maxHops) {
        val rr = reach.select(col("origin").as("_m_src"),
          col("cur").as("_m_cur"))
        reach = reach.unionByName(
            reach.join(rr, col("cur") === col("_m_src"))
              .select(col("origin"), col("_m_cur").as("cur")))
          .distinct().localCheckpoint(eager = false)
        len *= 2
      } else {
        reach = reach.unionByName(
            reach.join(step, col("cur") === col("_s_src"))
              .select(col("origin"), col("_s_dst").as("cur")))
          .distinct().localCheckpoint(eager = false)
        len += 1
      }
    }
    val cycles = reach.filter(col("origin") === col("cur"))
      .select(lit("cycle").as("kind"), col("origin").as("node")).distinct()
    // null-keyed edges are invisible to every check above (aggregates
    // skip nulls, null === null is null, the hop joins never match a
    // null key) — yet they are exactly what corrupt imports produce,
    // and a traversal silently DROPS them. Flag them first-class.
    val nullKey = e
      .filter(col("_v_src").isNull || col("_v_dst").isNull)
      .select(lit("null_key").as("kind"),
        coalesce(col("_v_dst"), col("_v_src")).as("node"))
      .distinct()
    multi.unionByName(dup).unionByName(selfLoop).unionByName(cycles)
      .unionByName(nullKey)
  }
}
