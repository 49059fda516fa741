package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** Unit tests for the hub-capped triangle guard on synthetic graphs
  * where the expected counts are computable by hand — independent of
  * the LSH fixture the catalog row runs on.
  */
class GraphSpec extends SparkSpec {

  import spark.implicits._

  /** A 4-clique on {1,2,3,4} (every node degree 3, C(4,3)=4 triangles,
    * each node in 3 of them) plus a star hub 100 connected to leaves
    * 101..110 (hub degree 10, leaves degree 1, zero triangles).
    */
  private def fixture = {
    val clique = for {
      a <- 1L to 4L; b <- 1L to 4L if a < b
    } yield (a, b)
    val star = (101L to 110L).map(l => (100L, l))
    (clique ++ star).toDF("src", "dst")
  }

  test("uncapped-equivalent high cap keeps the clique, drops nothing") {
    val out = Graph.cappedTriangles(fixture, maxDegree = 100).collect()
    assert(!out.exists(_.getBoolean(2)), "no hubs expected above cap 100")
    val counts = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("cap 5 excludes the star hub, clique triangles unaffected") {
    val out = Graph.cappedTriangles(fixture, maxDegree = 5).collect()
    val hubs = out.filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    assert(hubs == Set(100L), "only the degree-10 star center is above cap 5")
    assert(out.filter(_.getBoolean(2)).forall(_.getLong(1) == -1L),
      "hub rows carry the -1 sentinel, never a count")
    val counts = out.filterNot(_.getBoolean(2))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("cap 2 excludes the clique too — graph left triangle-free") {
    val out = Graph.cappedTriangles(fixture, maxDegree = 2).collect()
    val hubs = out.filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    assert(hubs == Set(1L, 2L, 3L, 4L, 100L))
    assert(out.filterNot(_.getBoolean(2)).isEmpty,
      "leaves have degree 1 and no surviving triangles exist")
  }

  test("excluding a hub also removes wedges THROUGH it, not just its rows") {
    // path 1-2, 2-3 plus closing edge 1-3 is a triangle; make node 2 a
    // hub by attaching 5 leaves — capping at 5 must drop the whole
    // triangle because its wedge runs through node 2.
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val leaves = (11L to 15L).map(l => (2L, l))
    val out = Graph.cappedTriangles((tri ++ leaves).toDF("src", "dst"), maxDegree = 5)
      .collect()
    assert(out.filter(_.getBoolean(2)).map(_.getLong(0)).toSet == Set(2L))
    assert(out.filterNot(_.getBoolean(2)).isEmpty,
      "1-3 alone cannot close a triangle once node 2's edges are gone")
  }

  test("capped clustering recomputes degrees on the capped edge set") {
    // node 1 also touches the hub: uncapped degree 4, capped degree 3.
    // Its coefficient must use the CAPPED degree — 2000·3/(3·2) = 1000
    // — not the uncapped one (2000·3/(4·3) = 500): the hub edge is
    // gone, so it must not inflate the denominator either.
    val withHubEdge = fixture.union(Seq((1L, 100L)).toDF("src", "dst"))
    val e = withHubEdge
    val out = Graph.cappedClusteringWithDeg(
        e, e.select($"src".as("id")).union(e.select($"dst".as("id")))
          .groupBy($"id").agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("degree")),
        maxDegree = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    // hub 100 (degree 11) excluded with the sentinel triple
    assert(out(100L) == ((-1L, -1L, -1L, true)))
    // all four clique nodes: capped degree 3, 3 triangles, permille 1000
    (1L to 4L).foreach { n =>
      assert(out(n) == ((3L, 3L, 1000L, false)), s"node $n: ${out(n)}")
    }
    // star leaves lost their only edge -> no degree>=2 row, no sentinel
    assert(!out.contains(101L))
  }

  test("pagerank: triangle is a fixpoint, isolated node holds the teleport floor") {
    // symmetric 3-cycle: every node's incoming sum is exactly 1 000 000
    // micro-units each round, so rank stays 150000 + 850000 = 1000000
    val nodes = Seq(1L, 2L, 3L, 10L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val r = Graph.pagerankOf(nodes, edges).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L, 10L -> 150000L))
  }

  test("pagerank: 3 hand-computed rounds on the 2-leaf star") {
    // star 1-{2,3}: r1 = (1850000, 575000, 575000),
    // r2 = (1127500, 936250, 936250), r3 = (1741625, 629187, 629187) —
    // every step integer div, computed by hand in the test comment
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    val r = Graph.pagerankOf(nodes, edges).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(1L -> 1741625L, 2L -> 629187L, 3L -> 629187L))
  }

  test("lpa: two bridged triangles resolve to two communities, isolated keeps its id") {
    // triangles {1,2,3} and {4,5,6}, bridge 3-4, isolated 7. Hand-run
    // sync-LPA with min-label ties: after round 3 the labels are
    // 1,1,1 / 3,3,3 / 7 → communities (1, n=3, min 1), (3, n=3, min 4),
    // (7, n=1, min 7)
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("id")
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("src", "dst")
    val r = Graph.lpaOf(nodes, edges).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(r == Set((1L, 3L, 1L), (3L, 3L, 4L), (7L, 1L, 7L)))
  }

  test("converged lpa: stable graph reaches the fixed-round labeling and stops") {
    // same fixture as the fixed-round case: after round 3 labels are
    // 1,1,1 / 3,3,3 / 7; round 4 changes nothing → converged, rounds=4
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("id")
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("src", "dst")
    val (df, rounds) = Graph.lpaConverged(nodes, edges, 50, None)
    val r = df.collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(r == Set((1L, 3L, 1L), (3L, 3L, 4L), (7L, 1L, 7L)))
    assert(rounds == 4, s"expected stop at round 4, got $rounds")
  }

  test("converged lpa: single-edge 2-cycle is detected and min-label resolved") {
    // sync LPA on one edge swaps labels forever: (1,2)→(2,1)→(1,2)→…
    // the guard sees lbl == prev2 with changed > 0 at round 3 and
    // resolves both nodes to min(lbl, prev) = 1 — one community of 2
    val nodes = Seq(1L, 2L).toDF("id")
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val (df, rounds) = Graph.lpaConverged(nodes, edges, 50, None)
    val r = df.collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(r == Set((1L, 2L, 1L)))
    assert(rounds <= 3, s"2-cycle should resolve within 3 rounds, took $rounds")
  }

  test("converged lpa: bipartite square oscillates, guard collapses to one community") {
    // 4-cycle 1-2-3-4-1: labels walk (1,2,3,4)→(2,1,2,1)→(1,2,1,2)→
    // (2,1,2,1) — period 2; resolution least(lbl, prev) = all 1s
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val (df, rounds) = Graph.lpaConverged(nodes, edges, 50, None)
    val r = df.collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(r == Set((1L, 4L, 1L)))
    assert(rounds <= 4, s"square 2-cycle should resolve within 4 rounds, took $rounds")
  }

  test("converged lpa errors at maxRounds instead of returning a partial labeling") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("id")
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      Graph.lpaConverged(nodes, edges, maxRounds = 1)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("hub anti-join side is broadcast — no shuffle added for the cap") {
    val plan = Graph.cappedTriangles(fixture, maxDegree = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      plan.toLowerCase.contains("leftanti"),
      s"expected broadcast anti-joins for the hub filter:\n$plan")
  }

  test("converged pagerank stops at the fixpoint, matches the fixed-round ranks") {
    // the symmetric triangle is a 1-round fixpoint (every rank move is
    // 0 after round 1), so convergence must trigger immediately instead
    // of burning maxRounds — and agree with the fixed-round gate math
    val nodes = Seq(1L, 2L, 3L, 10L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val (df, rounds) = Graph.pagerankConverged(
      nodes, edges, tolMicro = 0L, maxRounds = 50,
      checkpointDir = None)
    val r = df.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L, 10L -> 150000L))
    assert(rounds <= 2, s"fixpoint graph should converge in <=2 rounds, took $rounds")
  }

  test("converged pagerank: 2-leaf star settles within tolerance, honors maxRounds guard") {
    // hub/leaf moves contract by 0.85 per round (geometric mean of the
    // 1.7 / 0.425 alternation), so tol picks the round count:
    // 850000·0.85^n ≤ 50000 → n ≈ 17. A unit-test-sized tolerance —
    // production callers trade tol for rounds on the same curve.
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    val (df, rounds) = Graph.pagerankConverged(
      nodes, edges, tolMicro = 50000L, maxRounds = 50,
      checkpointDir = None)
    assert(rounds < 50)
    val r = df.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val hub = r(1L)
    assert(r(2L) == r(3L), "symmetric leaves must tie exactly")
    assert(hub > r(2L), "hub outranks leaves")
    // near the damping-0.85 closed-form limits (hub ≈ 1 459 459 µ,
    // leaf ≈ 770 270 µ) — within a few tol of the fixpoint
    assert(math.abs(hub - 1459459L) < 3 * 50000L, s"hub $hub")
    assert(math.abs(r(2L) - 770270L) < 3 * 50000L, s"leaf ${r(2L)}")
    // and a too-small maxRounds is an ERROR, not a silent partial result
    val e = intercept[IllegalArgumentException] {
      Graph.pagerankConverged(nodes, edges, tolMicro = 0L, maxRounds = 3)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("converged kcore peels a chain DEEPER than the fixed unroll to the true fixpoint") {
    // 6-deep pendant chain off the triangle: the catalog's fixed 4
    // rounds leave chain remnants — exactly the failure mode the
    // convergence mode exists to close — while kcoreConverged peels to
    // the triangle and reports the rounds it took
    val chain = Seq((3L, 10L), (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L))
    val g = (Seq((1L, 2L), (1L, 3L), (2L, 3L)) ++ chain).toDF("src", "dst")
    val fixed4 = Graph.kcoreOf(g, 2, 4).collect().map(_.getLong(0)).toSet
    assert(fixed4.exists(_ >= 10L), "fixed 4 rounds should NOT have finished this peel")
    val (df, rounds) = Graph.kcoreConverged(
      g, 2, maxRounds = 100, checkpointDir = None)
    val core = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // 6 peel rounds + the no-change round that proves the fixpoint
    assert(rounds == 7, s"expected 6 peels + 1 fixpoint check, got $rounds")
  }

  test("converged kcore errors instead of returning a partial peel at maxRounds") {
    val g = (Seq((1L, 2L), (1L, 3L), (2L, 3L)) ++
      Seq((3L, 10L), (10L, 11L), (11L, 12L))).toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      Graph.kcoreConverged(g, 2, maxRounds = 2)
    }
    assert(e.getMessage.contains("fixpoint"))
  }

  // --- one-pass multi-cap core (r18 optimization) vs the per-cap
  // reference composition: same counts, same degrees, same row sets ---

  private def degreesFor(e: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions.{count, lit}
    e.select($"src".as("id")).union(e.select($"dst".as("id")))
      .groupBy($"id").agg(count(lit(1)).as("degree"))
  }

  /** Per-cap triangle membership and capped degrees via the REFERENCE
    * per-cap composition (the shapes the gate rows used pre-r18). */
  private def referencePerCap(e: org.apache.spark.sql.DataFrame, cap: Long) = {
    val deg = degreesFor(e)
    val tri = Graph.cappedTrianglesWithDeg(e, deg, cap).collect()
      .filterNot(_.getBoolean(2)).map(r => r.getLong(0) -> r.getLong(1)).toMap
    val clu = Graph.cappedClusteringWithDeg(e, deg, cap).collect()
      .filterNot(_.getBoolean(4))
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    (tri, clu)
  }

  /** The same two views read out of the one-pass multi-cap tables. */
  private def multiCapPerCap(e: org.apache.spark.sql.DataFrame, caps: Seq[Long]) = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val deg = degreesFor(e)
    val (triCounts, degCounts) = Graph.multiCapTriangleTables(e, deg, caps)
    val triRows = triCounts.collect()
    val degRows = degCounts.collect()
    caps.zipWithIndex.map { case (c, i) =>
      val tri = triRows.filter(_.getLong(1 + i) >= 1L)
        .map(r => r.getLong(0) -> r.getLong(1 + i)).toMap
      val triAll = triRows.map(r => r.getLong(0) -> r.getLong(1 + i)).toMap
      val clu = degRows.filter(_.getLong(1 + i) >= 2L).map { r =>
        val d = r.getLong(1 + i)
        val nt = triAll.getOrElse(r.getLong(0), 0L)
        r.getLong(0) -> ((d, nt, 2000L * nt / (d * (d - 1L))))
      }.toMap
      c -> ((tri, clu))
    }.toMap
  }

  private def assertCapsAgree(e: org.apache.spark.sql.DataFrame,
      caps: Seq[Long], what: String): Unit = {
    val multi = multiCapPerCap(e, caps)
    caps.foreach { c =>
      val (refTri, refClu) = referencePerCap(e, c)
      val (mTri, mClu) = multi(c)
      assert(mTri == refTri, s"$what cap=$c triangle counts diverge: " +
        s"multi=$mTri ref=$refTri")
      assert(mClu == refClu, s"$what cap=$c clustering rows diverge: " +
        s"multi=$mClu ref=$refClu")
    }
  }

  test("multi-cap one-pass tables match the per-cap reference on the clique+star") {
    assertCapsAgree(fixture, Seq(1L, 2L), "clique+star")
    // a cap where the clique survives and one where everything does
    assertCapsAgree(fixture, Seq(3L, 100L), "clique+star high caps")
  }

  test("multi-cap: wedge-through-hub edges drop exactly as the reference drops them") {
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val leaves = (11L to 15L).map(l => (2L, l))
    assertCapsAgree((tri ++ leaves).toDF("src", "dst"), Seq(2L, 5L), "hub wedge")
  }

  test("multi-cap matches the reference across random graphs and cap pairs") {
    val rnd = new scala.util.Random(181L)
    (1 to 4).foreach { trial =>
      val n = 12 + rnd.nextInt(8)
      val edges = (for {
        a <- 1L to n.toLong; b <- 1L to n.toLong
        if a < b && rnd.nextDouble() < 0.25
      } yield (a, b)).toDF("src", "dst")
      assertCapsAgree(edges, Seq(1L, 2L), s"random trial $trial caps 1,2")
      assertCapsAgree(edges, Seq(2L, 4L, 7L), s"random trial $trial caps 2,4,7")
    }
  }

  test("multi-cap edge tagging broadcasts the constrained nodes — no extra edge shuffle") {
    val deg = degreesFor(fixture)
    val (triCounts, _) = Graph.multiCapTriangleTables(fixture, deg, Seq(1L, 2L))
    val plan = triCounts.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast joins for the per-node cap tags:\n$plan")
  }

  test("kcore: pendant chain cascades off round by round, core survives") {
    // triangle {1,2,3} with a 3-deep pendant chain 3-10-11-12: node 12
    // peels in round 1 (deg 1), which drops 11 to deg 1 (round 2), then
    // 10 (round 3) — the cascade that makes peeling iterative. After
    // enough rounds only the triangle remains, every member at degree 2.
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 10L), (10L, 11L), (11L, 12L))
      .toDF("src", "dst")
    // each call holds only its final round's cut, and a drain releases it
    def persistent = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persistent
    def kcore(rounds: Int): Map[Long, Long] = {
      val out = Graph.kcoreOf(g, 2, rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert((persistent -- before).size == 1, s"$rounds rounds held ${persistent -- before}")
      graft.CacheScope.drain()
      assert((persistent -- before).isEmpty, s"$rounds rounds left ${persistent -- before}")
      out
    }
    // not yet converged after 2 rounds: node 10 still present
    val partial = kcore(2).keySet
    assert(partial.contains(10L))
    val core = kcore(3)
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // round 4 (the catalog setting) is a fixpoint on this graph
    val again = kcore(4)
    assert(again == core)
  }
}
