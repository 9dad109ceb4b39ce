package graft

import org.scalatest.funsuite.AnyFunSuite

/** Min-label propagation must produce the exact transitive closure —
  * including the worst case for this algorithm (a long chain, one hop
  * of progress per sweep) — and fail loudly instead of spinning when
  * the sweep budget is exceeded.
  */
class ConnectedComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def cc(edges: Seq[(Long, Long)], maxIter: Int = 25) = {
    import spark.implicits._
    graft.operators.ConnectedComponents
      .label(edges.toDF("u", "v"), maxIter)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("two separate components get their own min labels") {
    val got = cc(Seq((5L, 3L), (3L, 9L), (20L, 21L)))
    assert(got == Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 20L -> 20L, 21L -> 20L))
  }

  test("a chain propagates the min across every hop") {
    // 10 <- 11 <- ... <- 17: diameter 7, needs multiple sweeps
    val chain = (10L until 17L).map(i => (i, i + 1))
    val got = cc(chain)
    assert(got.keySet == (10L to 17L).toSet)
    assert(got.values.toSet == Set(10L))
  }

  test("a triangle merged with a chain collapses to one component") {
    val got = cc(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L)))
    assert(got == (1L to 5L).map(_ -> 1L).toMap)
  }

  test("exceeding the sweep budget fails loudly, not silently") {
    val chain = (0L until 6L).map(i => (i, i + 1))
    val e = intercept[IllegalArgumentException](cc(chain, maxIter = 2))
    assert(e.getMessage.contains("did not converge"))
  }

  private def ccStar(edges: Seq[(Long, Long)], maxIter: Int = 15) = {
    import spark.implicits._
    graft.operators.ConnectedComponents
      .labelStar(edges.toDF("u", "v"), maxIter)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("star contraction matches min-label propagation on every shape") {
    val graphs = Seq(
      Seq((5L, 3L), (3L, 9L), (20L, 21L)),                  // two comps
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L)), // tri+chain
      Seq((2L, 4L), (1L, 4L), (1L, 3L)),                     // min mid-path
      Seq((7L, 9L), (9L, 2L), (2L, 11L), (5L, 6L), (6L, 5L)) // dup edge
    )
    graphs.foreach { g =>
      assert(ccStar(g) == cc(g), s"star != min-label on $g")
    }
  }

  test("star contraction closes a 64-hop chain inside its log-round budget") {
    // diameter 63: min-label propagation would need 63 sweeps (far past
    // its default budget of 25); star contraction must finish in <= 15
    // rounds — THE diameter-independence claim, pinned.
    val chain = (100L until 163L).map(i => (i, i + 1))
    val got = ccStar(chain) // default maxIter = 15 IS the assertion
    assert(got.keySet == (100L to 163L).toSet)
    assert(got.values.toSet == Set(100L))
  }

  test("star contraction fails loudly when the round budget is exceeded") {
    val chain = (0L until 40L).map(i => (i, i + 1))
    val e = intercept[IllegalArgumentException](ccStar(chain, maxIter = 1))
    assert(e.getMessage.contains("did not converge"))
  }

  test("both algorithms match a union-find oracle on random graphs") {
    // differential law over ScalaCheck-shaped random graphs (raw Gen +
    // fixed seeds, the PropertySpec convention): min-label AND star
    // contraction must both equal a driver-side union-find's exact
    // partition — same membership, and the representative is each
    // component's MIN vertex id (the declared label contract)
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val edgeGen = Gen.listOfN(40,
      Gen.zip(Gen.chooseNum(0L, 24L), Gen.chooseNum(0L, 24L)))
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (u, v) =>
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
      }
      // min-id representative: path-compress once more, roots are
      // already the min of their tree by the max-points-to-min union
      parent.keys.toSeq.map(k => k -> find(k)).toMap
    }
    (0 until 6).flatMap(i =>
      edgeGen.apply(Gen.Parameters.default, Seed(2026L + i))).foreach { es =>
      // self-loops are legal input (a vertex alone in its component)
      val truth = unionFind(es)
      val got = cc(es)
      val gotStar = ccStar(es)
      assert(got == truth, s"min-label != union-find on $es")
      assert(gotStar == truth, s"star != union-find on $es")
    }
  }

  test("labels never leave the JVM via the driver: output is a plan") {
    // label() returns a DataFrame, not collected rows — downstream
    // grouping stays distributed. Sanity: cluster the sf0.001 near-dup
    // pairs end to end through the declared query.
    val out = graft.SparkEntry.queries("q_dedup_cluster")(
      spark, TestSpark.sf001)
    val rows = out.collect()
    assert(rows.nonEmpty) // sf0.01 has known near-dup pairs — not vacuous
    // every cluster has >= 2 docs (singletons never enter the pair graph)
    assert(rows.forall(_.getLong(1) >= 2L))
    // n_removed is always size - 1
    assert(rows.forall(r => r.getLong(2) == r.getLong(1) - 1L))
  }

  test("NULL or non-castable edge endpoints fail loudly, never self-loop") {
    import spark.implicits._
    // least/greatest SKIP nulls, so a half-null edge would silently
    // become a self-loop (the real edge dropped, wrong clusters, no
    // error) -- the cast guard must fire instead
    val bad = Seq(("7", "docX"), ("1", "2")).toDF("a", "b")
    val e = intercept[Exception] {
      graft.operators.ConnectedComponents.labelStar(bad).collect()
    }
    // under ANSI the cast itself is the loud error; under non-ANSI the
    // cast yields NULL and the endpoint guard fires — loud either way
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("edge endpoint") || msg.contains("CAST_INVALID"),
      s"got: $e")
    val e2 = intercept[Exception] {
      graft.operators.ConnectedComponents.label(
        Seq((Some(1L), None: Option[Long])).toDF("a", "b")).collect()
    }
    assert((e2.getMessage + Option(e2.getCause).map(_.getMessage).getOrElse(""))
      .contains("edge endpoint"), s"got: $e2")
  }
}
