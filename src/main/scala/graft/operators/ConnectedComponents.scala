package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components by iterative min-label propagation
  * (Pregel-style), for clustering near-duplicate document pairs into
  * groups with one canonical representative each.
  *
  * Scale design (the 100 TB dedup endgame): pair finders
  * (q_dedup_near_jaccard / minhash / simhash) emit edges, but the
  * *actionable* output is one surviving doc per duplicate CLUSTER —
  * transitive closure, not pairs. The edge graph is orders of magnitude
  * smaller than the corpus (only docs with a near-dup appear), so the
  * iteration runs on metadata-scale data relative to the scan that
  * produced it.
  *
  *  - Each sweep is one shuffle join of labels against the symmetric
  *    edge list plus a map-side-combinable min aggregate — no driver
  *    data path; the driver sees only the converged-yet count.
  *  - Iterations = graph diameter. Near-dup clusters are dense (a hub
  *    doc matches most members), so diameter is small in practice;
  *    `maxIter` fails loudly rather than looping forever on an
  *    adversarial chain. (The O(log n) alternating large-star /
  *    small-star algorithm is the documented upgrade if chain-shaped
  *    graphs ever dominate; same public MapReduce literature.)
  *  - `localCheckpoint` truncates lineage each sweep — without it the
  *    plan doubles per iteration and Catalyst analysis, not the data,
  *    becomes the bottleneck.
  */
object ConnectedComponents {

  /** Label every node of the undirected edge set (u, v) with the
    * minimum node id reachable from it. Returns (node, comp); only
    * nodes that appear in an edge are labeled (isolated nodes are
    * trivially their own component and never enter the pair graph).
    *
    * Uses the first two columns of `edges` whatever their names; node
    * ids must be non-null (pair finders join on concrete doc ids).
    */
  /** Both endpoints cast to LONG, loudly: with ANSI off, cast("long")
    * turns a non-numeric or NULL id into NULL — label() would then
    * collapse the graph onto a (null, null) row, and least/greatest in
    * labelStar SKIP nulls, silently rewriting a half-null edge into a
    * self-loop (the real edge dropped, the node reported as its own
    * component, no error anywhere). */
  private def longEdges(edges: DataFrame): DataFrame =
    edges.select(col(edges.columns(0)).cast("long").as("u"),
        col(edges.columns(1)).cast("long").as("v"))
      .filter(assert_true(col("u").isNotNull && col("v").isNotNull,
        lit("connected components: edge endpoint is NULL or not " +
          "castable to LONG — pair finders must emit concrete numeric " +
          "doc ids")).isNull)

  def label(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    // Checkpoint the (possibly expensive) pair-finding pipeline BEFORE
    // the symmetric union: union's two children are separate plan
    // subtrees (no cross-child CSE), so flipping an un-checkpointed e
    // would run the upstream shingle/LSH work twice in the one job
    // that materializes sym — labelStar checkpoints eRaw first for the
    // same reason (r14 review).
    // All checkpoints here are LAZY (r16, guide §1.2): every sweep ends
    // in a driver-side count — that action fills the checkpoint cache,
    // so eager mode's separate per-checkpoint materialization job was
    // redundant dispatch. (Lazy defers only that final job: under AQE,
    // localCheckpoint(eager=false) still finalizes the plan, which runs
    // the sweep's shuffle stages synchronously at the checkpoint call.)
    // Lineage truncation and values are unchanged.
    val e = longEdges(edges).localCheckpoint(eager = false)
    // Symmetric closure once, checkpointed: every sweep re-reads it.
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint(eager = false)
    var labels = sym.select(col("u").as("node")).distinct()
      .withColumn("comp", col("node"))
      .localCheckpoint(eager = false)
    var iter = 0
    var changed = 1L
    while (changed > 0) {
      require(iter < maxIter,
        s"connected components did not converge in $maxIter sweeps — " +
          "graph diameter exceeds the near-dup-cluster assumption; " +
          "raise maxIter or use labelStar (rounds ~ log n, not diameter)")
      // min label among each node's neighbours, then keep the smaller
      // of (own, neighbourhood) — nodes with no improving neighbour
      // keep their label via the left join.
      val nbrMin = sym
        .join(labels.hint("shuffle_hash"), col("v") === col("node"))
        .groupBy(col("u")).agg(min(col("comp")).as("nbr"))
      val next = labels
        .join(nbrMin, col("node") === col("u"), "left")
        .select(col("node"), col("comp").as("old"),
          least(col("comp"), coalesce(col("nbr"), col("comp")))
            .as("comp"))
        .localCheckpoint(eager = false)
      changed = next.filter(col("comp") < col("old")).count()
      labels = next.select(col("node"), col("comp"))
      iter += 1
    }
    labels
  }

  /** Same contract as [[label]] — (node, comp=min reachable id) — via
    * the alternating large-star / small-star algorithm (public
    * MapReduce literature: Kiveris et al., "Connected Components in
    * MapReduce and Beyond", 2014). Rounds grow with ~log n, NOT with
    * graph diameter: each large-star hangs every node's
    * larger-than-hub neighbours directly off the neighbourhood
    * minimum, each small-star re-points a hub and its smaller
    * neighbours at their minimum, and the alternation provably
    * preserves connectivity while flattening every component into a
    * star whose centre is the component minimum. This is the chain-
    * shaped-graph answer [[label]]'s scaladoc promises: min-label
    * propagation pays one sweep per hop of diameter, which a 100 TB
    * web-graph-shaped edge set can make unbounded; star contraction
    * pays ~log n rounds whatever the shape.
    *
    * Per round: two grouped min aggregates (map-side combinable) and
    * two shuffle-hash joins on node ids, all on the edge set — no
    * driver data path. The convergence probe is ONE map-side-combinable
    * aggregate over the round's already-checkpointed output: a
    * (count, bit_xor(h), bit_xor(rehash(h))) signature compared to
    * the previous round's. Rows are distinct canonical pairs, so set
    * equality and signature equality coincide up to a 128-bit-order
    * hash collision; when the signature first reports a fixpoint the
    * loop confirms it EXACTLY, so convergence is never decided by a
    * hash alone: signature equality proves the counts equal (its
    * first component is a real count), and ONE `left_anti` emptiness
    * probe (next \ cur = ∅) then confirms set equality — one job once
    * per run, not per round.
    * Edges stay in canonical (lo, hi) orientation so the set
    * fixpoint — every component a star — is well-defined.
    */
  def labelStar(edges: DataFrame, maxIter: Int = 64): DataFrame = {
    // maxIter default sized for the operator's OWN pitch: this is the
    // chain-shaped-graph answer, and a path component of n nodes needs
    // ~log2(n) alternation rounds — 15 would abort loudly on the ~10^6
    // -node chains the scaladoc advertises; 64 covers any conceivable
    // node count while still bounding an adversarial non-convergence.
    //
    // Canonicalize + distinct FIRST and checkpoint that: the edge
    // pipeline feeding this operator is typically the expensive part
    // (e.g. a shingle/LSH near-dup join), and deriving the node set
    // from the CHECKPOINTED edge set — the two have identical node
    // sets, since canonicalization drops no endpoint — runs that
    // upstream exactly once instead of once per localCheckpoint.
    val e0 = longEdges(edges)
    // One-job set signature: rows are DISTINCT canonical pairs, so
    // (count, xor of h, xor of rehash(h)) is an order-independent set
    // witness — xor never overflows (sum would trip ANSI arithmetic)
    // and the duplicate-cancellation weakness of xor needs duplicate
    // rows, which distinct() forbids.
    def sig(df: DataFrame): (Long, Long, Long) = {
      val r = df.select(xxhash64(col("lo"), col("hi")).as("h"))
        .agg(count(lit(1)), expr("bit_xor(h)"),
          expr("bit_xor(xxhash64(h))")).head()
      (r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))
    }
    // canonical pairs INCLUDING (x, x) self-loops at this stage: the
    // node universe must cover a node whose only edge is a self-loop
    // (label() gives it its own component; dropping it here would
    // silently lose the row — the contract is "same as label"). The
    // contraction itself then runs on the loop-free subset.
    // Checkpoints are LAZY (r16, guide §1.2): sig(cur) right below is
    // the action that fills eRaw's checkpoint cache (the expensive
    // pair-finder pipeline); each round's sig(next) does the same for
    // that round, and allNodes rides in the terminal plan. Lazy mode
    // skips eager's separate materialization job per checkpoint — not
    // all per-round execution: under AQE the checkpoint call itself
    // still runs the round's shuffle stages synchronously. Same
    // lineage truncation, identical labels.
    val eRaw = e0
      .select(least(col("u"), col("v")).as("lo"),
        greatest(col("u"), col("v")).as("hi"))
      .distinct()
      .localCheckpoint(eager = false)
    var cur = eRaw.filter(col("lo") =!= col("hi"))
    val allNodes = eRaw.select(col("lo").as("node"))
      .union(eRaw.select(col("hi").as("node"))).distinct()
      .localCheckpoint(eager = false)
    var curSig = sig(cur)
    var iter = 0
    var converged = false
    while (!converged) {
      require(iter < maxIter,
        s"star contraction did not converge in $maxIter rounds — " +
          "~log2(n) rounds expected; raise maxIter")
      // ---- large-star: for every node u, hang each LARGER neighbour
      // off m = min(N(u) ∪ {u}). m < v always, so (m, v) is canonical.
      val sym = cur.select(col("lo").as("u"), col("hi").as("v"))
        .union(cur.select(col("hi").as("u"), col("lo").as("v")))
      val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = sym.filter(col("v") > col("u"))
        .join(mins.hint("shuffle_hash"), Seq("u"))
        .select(col("m").as("lo"), col("v").as("hi"))
        .distinct()
      // ---- small-star: per hub (hi side), re-point the hub and all
      // its smaller neighbours at their minimum. m <= lo < hi, so both
      // emitted edges are canonical; (m, m) self-pairs are dropped.
      val minsS = large.groupBy(col("hi")).agg(min(col("lo")).as("m"))
      val next = large
        .join(minsS.hint("shuffle_hash"), Seq("hi"))
        .select(explode(array(
          struct(col("m").as("a"), col("lo").as("b")),
          struct(col("m").as("a"), col("hi").as("b")))).as("p"))
        .select(col("p.a").as("lo"), col("p.b").as("hi"))
        .filter(col("lo") =!= col("hi"))
        .distinct()
        .localCheckpoint(eager = false)
      val nextSig = sig(next)
      // The signature is the cheap per-round probe; the first time it
      // says "fixpoint", confirm EXACTLY once. Signature equality
      // already proves the counts equal EXACTLY (component 1 of sig is
      // a real count, not a hash), and for finite distinct sets
      // |next| = |cur| ∧ next \ cur = ∅ ⇒ next = cur — so the one
      // remaining exact job is the anti-join emptiness probe, which
      // stops at the first surviving row. This keeps the
      // ~2^-128 hash-collision risk out of a correctness-critical
      // fixpoint at the cost of ONE job once per RUN. If the exact
      // check ever disagrees (a signature collision), we keep
      // iterating.
      converged = nextSig == curSig &&
        next.join(cur, Seq("lo", "hi"), "left_anti").isEmpty
      cur = next
      curSig = nextSig
      iter += 1
    }
    // fixpoint: every component is a star (comp_min, v) — read labels
    // off the spokes; star centres (and only they) label themselves
    val spokes = cur.groupBy(col("hi")).agg(min(col("lo")).as("comp"))
      .select(col("hi").as("node"), col("comp"))
    allNodes.join(spokes, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("comp"), col("node")).as("comp"))
  }
}
