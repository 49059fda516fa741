package graft.ops

import graft.CatalogEntry
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.CacheScope
import graft.CacheScope.Scoped

/** Graph analytics over the LSH candidate graph ([[Dedup.lshPairGraph]]:
  * nodes = documents, edges = band-collision pairs with src < dst).
  * Connected components (the dedup clustering itself) lives in
  * [[Dedup]]; this module adds the graph-shape diagnostics a curation
  * pipeline runs BEFORE committing to a clustering — degree
  * distribution (is the graph near-clique or chain-like? is one hub
  * about to glue the corpus into a megacluster?) and per-node triangle
  * counts (density evidence: triangle-rich neighborhoods are true
  * near-dup families, triangle-free hubs are false-positive glue).
  * Reference analog: the dedup-quality reports its pipeline UI renders
  * before a destructive dedup apply.
  */
object Graph {

  /** Degree distribution — degree per node (0 for isolated docs), then
    * a histogram (degree → node count). Two map-side-combinable hash
    * aggregations plus one left join back to the node table; every
    * exchange is on the node id the edge table is already keyed by. At
    * 100 TB the histogram is bounded by the max degree (≪ nodes) and
    * the heavy hitters that would skew a per-node GROUP BY are exactly
    * the hub nodes this query exists to expose — the count aggregation
    * is partial-aggregated map-side, so a hub never concentrates rows
    * on one task.
    */
  def degreeDist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (nodes, pairs) = Dedup.lshPairGraph(s, dir)
    val deg = pairs.select($"src".as("id")).union(pairs.select($"dst".as("id")))
      .groupBy($"id").agg(count(lit(1)).as("degree"))
    nodes.join(deg, Seq("id"), "left")
      .select(coalesce($"degree", lit(0L)).as("degree"))
      .groupBy($"degree").agg(count(lit(1)).as("n_nodes"))
      .orderBy($"degree")
  }

  private val degreeDistSql =
    s"""WITH ${Dedup.bandsCteSql},
       |e AS (
       |  SELECT DISTINCT a.doc_id AS s, b.doc_id AS d
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |deg AS (
       |  SELECT doc_id, COUNT(*) AS degree
       |  FROM (SELECT s AS doc_id FROM e UNION ALL SELECT d FROM e) u
       |  GROUP BY 1)
       |SELECT coalesce(deg.degree, 0) AS degree, COUNT(*) AS n_nodes
       |FROM documents docs LEFT JOIN deg ON docs.doc_id = deg.doc_id
       |GROUP BY 1 ORDER BY degree""".stripMargin

  /** Per-node triangle counts — the number of 3-cliques each document
    * participates in, the standard distributed triangle enumeration:
    * with edges canonically ordered (src < dst), join wedges
    * (a<b)⨝(b<c) on the middle vertex, then close each wedge against
    * the edge table on (a, c). Every triangle a<b<c is built exactly
    * once, so no dedup pass and no distinct aggregate. Both joins are
    * equi-joins on edge endpoints — sort-merge/hash territory, never a
    * nested loop — and the wedge table (Σ deg²-ish) is the known cost
    * center: on a 100 TB corpus you'd pre-drop super-hub nodes (the
    * degree histogram above is the tool) exactly as public triangle
    * pipelines do. Output = (doc_id, n_triangles) for triangle
    * members, ordered.
    */
  def triangleCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (_, pairs) = Dedup.lshPairGraph(s, dir)
    triangleCountsOf(pairs.persistScoped()).orderBy($"doc_id")
  }

  /** The ONE wedge-close enumeration (a<b ⨝ b<c, closed on (a,c)) over
    * a canonical (src < dst) edge set — every triangle built exactly
    * once. Shared by the uncapped counts, the hub-capped variant, and
    * the clustering coefficient so the algorithm exists in one place.
    */
  private def trianglesOf(e: DataFrame): DataFrame =
    e.as("e1")
      .join(e.as("e2"), col("e1.dst") === col("e2.src"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
      .join(e.as("e3"), col("a") === col("e3.src") && col("c") === col("e3.dst"))
      .select(col("a"), col("b"), col("c"))

  /** Per-node membership counts over [[trianglesOf]]. */
  private def triangleCountsOf(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    trianglesOf(e).select(explode(array($"a", $"b", $"c")).as("doc_id"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n_triangles"))
  }

  /** Oracle: same wedge-close enumeration spelled as a 3-way SQL join
    * with a UNION ALL unrolling instead of explode. */
  private val triangleCountsSql =
    s"""WITH ${Dedup.bandsCteSql},
       |e AS (
       |  SELECT DISTINCT a.doc_id AS s, b.doc_id AS d
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |t AS (
       |  SELECT e1.s AS a, e1.d AS b, e2.d AS c
       |  FROM e e1 JOIN e e2 ON e1.d = e2.s
       |            JOIN e e3 ON e3.s = e1.s AND e3.d = e2.d)
       |SELECT doc_id, COUNT(*) AS n_triangles
       |FROM (SELECT a AS doc_id FROM t
       |      UNION ALL SELECT b FROM t
       |      UNION ALL SELECT c FROM t) u
       |GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** Hub-capped triangle counts — the Σdeg² wedge guard the uncapped
    * enumeration documents: one super-hub of degree d contributes d²
    * wedges on a single join key (the exact skew class that stalls a
    * 1000-executor wedge join), and on a zipfian LSH graph hubs are
    * usually false-positive glue (boilerplate collisions), not real
    * near-dup families. So: compute degrees from the edge table, pull
    * nodes with degree > maxDegree into a hub list, anti-join every
    * edge touching a hub out of the graph, and only then wedge-close.
    * The hub list is small by construction (few nodes exceed any sane
    * cap), so both anti-joins broadcast — no extra shuffle on the edge
    * table beyond the degree aggregation, which is map-side
    * combinable. Excluded hubs are reported alongside the counts
    * (`excluded_hub = true`, `n_triangles = -1` sentinel — never a
    * real count, which is ≥ 0) so the pipeline sees exactly what the
    * cap dropped instead of silently losing nodes.
    */
  def triangleCountsCapped(s: SparkSession, dir: String, maxDegree: Long): DataFrame = {
    val (_, pairs) = Dedup.lshPairGraph(s, dir)
    cappedTriangles(pairs, maxDegree)
  }

  /** Core of [[triangleCountsCapped]] over any canonical (src < dst)
    * edge table — separated so the hub semantics are unit-testable on
    * synthetic graphs, not just the LSH fixture. */
  private[ops] def cappedTriangles(pairs: DataFrame, maxDegree: Long): DataFrame = {
    val e = pairs.persistScoped()
    cappedTrianglesWithDeg(e, degreesOf(e), maxDegree)
  }

  /** Edge-endpoint degrees — cap-independent, so multi-cap callers
    * compute (and persist) this once. */
  private def degreesOf(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    e.select($"src".as("id")).union(e.select($"dst".as("id")))
      .groupBy($"id").agg(count(lit(1)).as("degree"))
  }

  private[ops] def cappedTrianglesWithDeg(
      e: DataFrame, deg: DataFrame, maxDegree: Long): DataFrame = {
    import e.sparkSession.implicits._
    val hubs = deg.filter($"degree" > maxDegree).select($"id").persistScoped()
    val capped = e
      .join(broadcast(hubs.withColumnRenamed("id", "src")), Seq("src"), "left_anti")
      .join(broadcast(hubs.withColumnRenamed("id", "dst")), Seq("dst"), "left_anti")
      .select($"src", $"dst")
    triangleCountsOf(capped)
      .withColumn("excluded_hub", lit(false))
      .unionByName(hubs.select($"id".as("doc_id"),
        lit(-1L).as("n_triangles"), lit(true).as("excluded_hub")))
  }

  /** ONE-pass multi-cap core behind the two capped gate rows (r18
    * optimization): the per-cap composition above runs a full wedge
    * enumeration PER CAP over the same persisted edge table, but the
    * cap hierarchy makes that redundant — hubs(c2) ⊆ hubs(c1) for
    * c1 < c2, so capped(c1) ⊆ capped(c2), and a triangle survives cap
    * c exactly when all three nodes keep degree ≤ c in the ORIGINAL
    * graph. So: tag each edge with the smallest cap it survives
    * (`ecap` = max over both endpoints of the node's smallest
    * surviving cap), wedge-close ONCE over the largest cap's edge set
    * carrying `greatest` of the member edges' ecaps, and read every
    * cap's triangle counts (and capped degrees) out of ONE aggregation
    * with per-cap conditional sums. Per-cap semantics are unchanged —
    * [[GraphSpec]] pins this path against the per-cap reference
    * composition on synthetic graphs, and the gate rows stay
    * oracle-exact. Only nodes with degree > caps.min enter the
    * broadcast (everything else defaults to the smallest cap), the
    * same size class the per-cap composition already broadcast as its
    * cap-1 hub list.
    *
    * Returns (triCounts, degCounts): per doc_id, `nt_<c>` = triangles
    * the doc is a member of at cap c, `dg_<c>` = the doc's degree in
    * the cap-c edge set. Docs appear iff they touch ≥1 edge (degCounts)
    * / ≥1 triangle (triCounts) at SOME cap ≤ caps.max — per-cap
    * consumers filter `nt_<c> >= 1` / `dg_<c> >= 2` to recover exactly
    * the per-cap row sets.
    */
  private[ops] def multiCapTriangleTables(
      e: DataFrame, deg: DataFrame, caps: Seq[Long]): (DataFrame, DataFrame) = {
    import e.sparkSession.implicits._
    require(caps.nonEmpty && caps == caps.sorted && caps.distinct == caps,
      s"multiCapTriangleTables: caps must be ascending and distinct, got $caps")
    val cmin = caps.head
    val cmax = caps.last
    // smallest cap this node survives; caps.max+1 = survives none
    val ncap = caps.foldRight(lit(cmax + 1L): Column) {
      (c, rest) => when($"degree" <= c, lit(c)).otherwise(rest)
    }
    val constrained = deg.filter($"degree" > cmin)
      .select($"id", ncap.as("ncap")).persistScoped()
    val em = e
      .join(broadcast(constrained.select($"id".as("src"), $"ncap".as("scap"))),
        Seq("src"), "left")
      .join(broadcast(constrained.select($"id".as("dst"), $"ncap".as("dcap"))),
        Seq("dst"), "left")
      .select($"src", $"dst",
        greatest(coalesce($"scap", lit(cmin)), coalesce($"dcap", lit(cmin)))
          .as("ecap"))
      .filter($"ecap" <= cmax)
      .persistScoped()
    // the one wedge-close enumeration, tagging each triangle with the
    // smallest cap ALL THREE of its edges survive
    val tri = em.as("e1")
      .join(em.as("e2"), col("e1.dst") === col("e2.src"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"),
        col("e2.dst").as("c"),
        greatest(col("e1.ecap"), col("e2.ecap")).as("wcap"))
      .join(em.as("e3"), col("a") === col("e3.src") && col("c") === col("e3.dst"))
      .select($"a", $"b", $"c", greatest($"wcap", col("e3.ecap")).as("tcap"))
    def perCapSums(rows: DataFrame, capCol: String, prefix: String): DataFrame = {
      val sums = caps.map(c =>
        sum(when(col(capCol) <= c, 1L).otherwise(0L)).as(s"${prefix}_$c"))
      rows.groupBy($"doc_id").agg(sums.head, sums.tail: _*)
    }
    // NOT persisted: the gate rows consume each table once per cap
    // branch of one union, and those branches' agg subtrees are
    // canonically identical — Spark's ReuseExchange collapses them to
    // ONE wedge/agg execution inside the single action, without the
    // materialization barrier a persist would add (A/B'd both ways;
    // the plan pin below asserts the reuse, not hope)
    val triCounts = perCapSums(
      tri.select(explode(array($"a", $"b", $"c")).as("doc_id"), $"tcap"),
      "tcap", "nt")
    val degCounts = perCapSums(
      em.select(explode(array($"src", $"dst")).as("doc_id"), $"ecap"),
      "ecap", "dg")
    (triCounts, degCounts)
  }

  /** Gate shape: at sf0.01 the LSH graph's max degree is 2 (one
    * triangle), so the query runs the cap at BOTH 1 (binds — the
    * triangle's three members become listed hubs, zero triangles
    * survive) and 2 (doesn't bind — the triangle passes through
    * intact), tagged by a `max_degree` column. One gate row thus
    * differentially checks the exclusion branch, the hub report, and
    * the untouched-graph branch against DuckDB.
    */
  def triangleCappedQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the candidate graph AND its degree table are cap-independent —
    // build (and persist) both ONCE and run both caps against them, or
    // the band/shingle pipeline would execute twice (measured ~2× the
    // row's cost at sf0.1); the wedge enumeration itself runs once for
    // BOTH caps ([[multiCapTriangleTables]])
    val (_, pairs) = Dedup.lshPairGraph(s, dir)
    val e = pairs.persistScoped()
    val deg = degreesOf(e).persistScoped()
    val caps = Seq(1L, 2L)
    // GraphSpec pins the shared enumeration against the per-cap
    // [[cappedTrianglesWithDeg]] composition
    val (triCounts, _) = multiCapTriangleTables(e, deg, caps)
    caps
      .map { cap =>
        triCounts.filter(col(s"nt_$cap") >= 1L)
          .select($"doc_id", col(s"nt_$cap").as("n_triangles"),
            lit(false).as("excluded_hub"))
          .unionByName(deg.filter($"degree" > cap).select($"id".as("doc_id"),
            lit(-1L).as("n_triangles"), lit(true).as("excluded_hub")))
          .withColumn("max_degree", lit(cap))
      }
      .reduce(_ unionByName _)
      .select($"max_degree", $"doc_id", $"n_triangles", $"excluded_hub")
      .orderBy($"max_degree", $"doc_id")
  }

  /** Oracle: the capped pipeline is expanded per cap value (DuckDB has
    * no lateral parameterization worth the obscurity); NOT IN is safe
    * here — the hub list never contains NULLs by construction. */
  private def cappedBlockSql(cap: Int): String =
    s"""h$cap AS (
       |  SELECT doc_id FROM deg WHERE degree > $cap),
       |e$cap AS (
       |  SELECT s, d FROM e
       |  WHERE s NOT IN (SELECT doc_id FROM h$cap)
       |    AND d NOT IN (SELECT doc_id FROM h$cap)),
       |t$cap AS (
       |  SELECT e1.s AS a, e1.d AS b, e2.d AS c
       |  FROM e$cap e1 JOIN e$cap e2 ON e1.d = e2.s
       |                JOIN e$cap e3 ON e3.s = e1.s AND e3.d = e2.d),
       |c$cap AS (
       |  SELECT doc_id, COUNT(*) AS n_triangles
       |  FROM (SELECT a AS doc_id FROM t$cap
       |        UNION ALL SELECT b FROM t$cap
       |        UNION ALL SELECT c FROM t$cap) u
       |  GROUP BY 1)""".stripMargin

  private def cappedSelectSql(cap: Int): String =
    s"""SELECT CAST($cap AS BIGINT) AS max_degree, doc_id,
       |  CAST(n_triangles AS BIGINT) AS n_triangles, FALSE AS excluded_hub
       |FROM c$cap
       |UNION ALL
       |SELECT CAST($cap AS BIGINT), doc_id, CAST(-1 AS BIGINT), TRUE
       |FROM h$cap""".stripMargin

  private val triangleCappedSql =
    s"""WITH ${Dedup.bandsCteSql},
       |e AS (
       |  SELECT DISTINCT a.doc_id AS s, b.doc_id AS d
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |deg AS (
       |  SELECT doc_id, COUNT(*) AS degree
       |  FROM (SELECT s AS doc_id FROM e UNION ALL SELECT d FROM e) u
       |  GROUP BY 1),
       |${cappedBlockSql(1)},
       |${cappedBlockSql(2)}
       |${cappedSelectSql(1)}
       |UNION ALL
       |${cappedSelectSql(2)}
       |ORDER BY max_degree, doc_id""".stripMargin

  /** Fixed-round PageRank over the (undirected) LSH candidate graph —
    * the centrality score curation pipelines use to rank near-dup
    * families by how "glue-like" a document is (a high-rank node in
    * the candidate graph is boilerplate connecting many families; cf.
    * the hub diagnostics above). Three power iterations with damping
    * 0.85, entirely on the integer bridge: ranks are micro-units
    * (start 1 000 000), each neighbor contribution is `rank div deg`
    * and the update is `150000 + (850000·Σ) div 1000000` — integer
    * `div` at every step, so no engine's float rounding is anywhere in
    * the gate hash (DuckDB's `//` is floor division, Spark's `div`
    * truncates: identical on the all-positive values here). Isolated
    * docs hold the teleport floor 150 000. Per iteration: one
    * (contrib ⋈ edges) equi-join + one dst-keyed sum + one join back
    * to the node table — every exchange on the node id, the same key
    * every round, exactly the shape AQE/exchange-reuse favors; round
    * count is fixed (3), so the plan is static and auditable. At
    * 100 TB the same hub caveat as the wedge join applies to the
    * CONTRIB fan-out (deg(hub) output rows per hot node — linear, not
    * quadratic, hence no cap needed: a hub's d contributions are the
    * algorithm, d² wedges were waste).
    */
  private val prRounds = 3

  def pagerank(s: SparkSession, dir: String): DataFrame = {
    val (nodes, pairs) = Dedup.lshPairGraph(s, dir)
    pagerankOf(nodes, pairs)
  }

  /** Core of [[pagerank]] over any (id) node / canonical (src,dst)
    * edge table — separated so the fixed-round integer arithmetic is
    * unit-testable against hand-computed ranks. */
  private[ops] def pagerankOf(nodes: DataFrame, pairs: DataFrame): DataFrame = {
    import nodes.sparkSession.implicits._
    val edges = pairs.select($"src".as("u"), $"dst".as("v"))
      .unionAll(pairs.select($"dst".as("u"), $"src".as("v"))).persistScoped()
    val deg = edges.groupBy($"u".as("id")).agg(count(lit(1)).as("deg"))
    val state0 = nodes.join(deg, Seq("id"), "left")
      .select($"id", coalesce($"deg", lit(0L)).as("deg"),
        lit(1000000L).as("rank"))
      .persistScoped()
    val state = (1 to prRounds).foldLeft(state0) { (st, _) =>
      val contrib = st.filter($"deg" > 0)
        .select($"id".as("u"), expr("rank div deg").as("c"))
      val incoming = edges.join(contrib, Seq("u"))
        .groupBy($"v".as("id")).agg(sum($"c").as("s"))
      state0.select($"id", $"deg").join(incoming, Seq("id"), "left")
        .select($"id", $"deg",
          (lit(150000L) + expr("(850000 * coalesce(s, 0)) div 1000000")).as("rank"))
    }
    state.select($"id".as("doc_id"), $"rank").orderBy($"doc_id")
  }

  /** Convergence-driven PageRank — the production companion of the
    * fixed-round gate row [[pagerankOf]]: same per-round plan (one
    * (contrib ⋈ edges) equi-join + one dst-keyed sum on the node id,
    * every round), but termination is data-driven — stop when the max
    * per-node rank move is ≤ `tolMicro` micro-units, an EXACT integer
    * test on the same bridge as the ranks themselves (no float epsilon
    * whose evaluation could differ across engines). Returns the ranks
    * and the round count. Rounds, cuts, `checkpointDir` and the
    * `maxRounds` guard follow [[graft.ops.untilStable]].
    */
  def pagerankConverged(nodes: DataFrame, pairs: DataFrame,
      tolMicro: Long = 1000L, maxRounds: Int = 50,
      checkpointDir: Option[String] = None): (DataFrame, Int) = {
    import nodes.sparkSession.implicits._
    val edges = pairs.select($"src".as("u"), $"dst".as("v"))
      .unionAll(pairs.select($"dst".as("u"), $"src".as("v"))).cutScoped()
    val deg = edges.groupBy($"u".as("id")).agg(count(lit(1)).as("deg"))
    val base = nodes.join(deg, Seq("id"), "left")
      .select($"id", coalesce($"deg", lit(0L)).as("deg")).cutScoped()
    val state0 = base.withColumn("rank", lit(1000000L)).cutScoped()
    val (state, rounds) = untilStable("pagerank", maxRounds, checkpointDir)(state0) {
      (state, cut) =>
        val contrib = state.filter($"deg" > 0)
          .select($"id".as("u"), expr("rank div deg").as("c"))
        val incoming = edges.join(contrib, Seq("u"))
          .groupBy($"v".as("id")).agg(sum($"c").as("s"))
        val next = cut(base.join(incoming, Seq("id"), "left")
          .join(state.select($"id", $"rank".as("prev_rank")), Seq("id"))
          .select($"id", $"deg",
            (lit(150000L) + expr("(850000 * coalesce(s, 0)) div 1000000")).as("rank"),
            $"prev_rank"))
        // exact integer max-move; the cut above materialized `next`, so
        // this is a scan of local blocks, not a plan re-execution
        val delta = next.select(coalesce(max(abs($"rank" - $"prev_rank")), lit(0L)))
          .head().getLong(0)
        (next.select($"id", $"deg", $"rank"), delta <= tolMicro,
          s"last max move $delta µ")
    }
    (state.select($"id".as("doc_id"), $"rank").orderBy($"doc_id"), rounds)
  }

  /** Oracle: the same three integer-bridge iterations as an unrolled
    * CTE chain (the [[Dedup]] clustersCteSql pattern). */
  private val pagerankSql = {
    val rounds = (1 to prRounds).map { r =>
      s"""r$r AS (
         |  SELECT n.doc_id, n.deg,
         |    CAST(150000 + (850000 * coalesce(m.s, 0)) // 1000000 AS BIGINT) AS rank
         |  FROM n LEFT JOIN (
         |    SELECT e.v, CAST(SUM(x.rank // x.deg) AS BIGINT) AS s
         |    FROM edges e JOIN r${r - 1} x ON e.u = x.doc_id AND x.deg > 0
         |    GROUP BY 1) m ON n.doc_id = m.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${Dedup.bandsCteSql},
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |edges AS (SELECT d1 AS u, d2 AS v FROM pairs
       |          UNION ALL SELECT d2, d1 FROM pairs),
       |deg AS (SELECT u, COUNT(*) AS deg FROM edges GROUP BY 1),
       |n AS (SELECT doc_id, coalesce(deg, 0) AS deg
       |      FROM documents LEFT JOIN deg ON documents.doc_id = deg.u),
       |r0 AS (SELECT doc_id, deg, CAST(1000000 AS BIGINT) AS rank FROM n),
       |$rounds
       |SELECT doc_id, rank FROM r$prRounds ORDER BY doc_id""".stripMargin
  }

  /** Local clustering coefficient — triangles over possible wedges per
    * node, the "is this neighborhood a real near-dup family or
    * hub glue" density score (families are triangle-rich, boilerplate
    * hubs triangle-poor): `1000·2·T(v) div (deg·(deg−1))` as exact
    * integer per-mille, composed ENTIRELY from tables this module
    * already builds (wedge-close triangle counts + endpoint degrees) —
    * one extra equi-join and a map-side division, nothing new touches
    * edge volume. Nodes need deg ≥ 2 to have a defined coefficient.
    * Hub caveat: the coefficient rides the UNCAPPED [[trianglesOf]], so
    * on a super-hub graph it inherits the Σdeg² wedge cost (measured
    * bounded through hub800 — 1.4× per hub doubling, PLANS.md — but
    * the d² growth is real past that). For hub-heavy corpora use the
    * capped composition instead — [[clusteringCappedQuery]], its own
    * differential gate row (`q_graph_clustering_capped`) — which
    * anti-joins hub edges out before the wedge join and bounds the
    * cost at N·maxDegree².
    */
  def clusteringCoefficient(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (_, pairs) = Dedup.lshPairGraph(s, dir)
    val e = pairs.persistScoped()
    degreesOf(e).withColumnRenamed("id", "doc_id")
      .filter($"degree" >= 2)
      .join(triangleCountsOf(e), Seq("doc_id"), "left")
      .select($"doc_id", $"degree",
        coalesce($"n_triangles", lit(0L)).as("n_triangles"),
        expr("2000 * coalesce(n_triangles, 0) div (degree * (degree - 1))")
          .as("clustering_permille"))
      .orderBy($"doc_id")
  }

  private val clusteringCoefficientSql =
    s"""WITH ${Dedup.bandsCteSql},
       |e AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS s, b.doc_id AS d
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |t AS (
       |  SELECT e1.s AS a, e1.d AS b, e2.d AS c
       |  FROM e e1 JOIN e e2 ON e1.d = e2.s
       |            JOIN e e3 ON e3.s = e1.s AND e3.d = e2.d),
       |tc AS (
       |  SELECT doc_id, COUNT(*) AS n_triangles
       |  FROM (SELECT a AS doc_id FROM t
       |        UNION ALL SELECT b FROM t
       |        UNION ALL SELECT c FROM t) u
       |  GROUP BY 1),
       |deg AS (
       |  SELECT doc_id, COUNT(*) AS degree
       |  FROM (SELECT s AS doc_id FROM e UNION ALL SELECT d FROM e) u
       |  GROUP BY 1)
       |SELECT deg.doc_id, deg.degree,
       |  CAST(coalesce(tc.n_triangles, 0) AS BIGINT) AS n_triangles,
       |  CAST(2000 * coalesce(tc.n_triangles, 0)
       |       // (deg.degree * (deg.degree - 1)) AS BIGINT) AS clustering_permille
       |FROM deg LEFT JOIN tc ON deg.doc_id = tc.doc_id
       |WHERE deg.degree >= 2
       |ORDER BY deg.doc_id""".stripMargin

  /** Hub-capped clustering coefficient — the composition the uncapped
    * [[clusteringCoefficient]]'s scaladoc prescribes, now a gate row of
    * its own: anti-join hub-touching edges out FIRST (the
    * [[cappedTrianglesWithDeg]] move), then compute degrees AND
    * triangles on the capped edge set, so both the wedge join and the
    * coefficient denominators see the bounded graph. This is the one
    * query on the board that could still blow up quadratically on a
    * zipfian corpus without the cap; with it the wedge cost is ≤
    * N·maxDegree². Excluded hubs are reported with the -1 sentinel
    * triple (never a real value: degrees, counts, and permilles are
    * all ≥ 0) exactly like the capped triangle row. Gate shape mirrors
    * [[triangleCappedQuery]]: both a binding cap (1: every triangle
    * member is a hub, no coefficients survive) and a non-binding cap
    * (2: the fixture triangle passes — 3 nodes at permille 1000)
    * against ONE persisted graph + degree table.
    */
  def clusteringCappedQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (_, pairs) = Dedup.lshPairGraph(s, dir)
    val e = pairs.persistScoped()
    val deg = degreesOf(e).persistScoped()
    val caps = Seq(1L, 2L)
    val (triCounts, degCounts) = multiCapTriangleTables(e, deg, caps)
    caps
      .map { cap =>
        degCounts.filter(col(s"dg_$cap") >= 2L)
          .select($"doc_id", col(s"dg_$cap").as("degree"))
          .join(triCounts.select($"doc_id", col(s"nt_$cap").as("n_triangles")),
            Seq("doc_id"), "left")
          .select($"doc_id", $"degree",
            coalesce($"n_triangles", lit(0L)).as("n_triangles"),
            expr("2000 * coalesce(n_triangles, 0) div (degree * (degree - 1))")
              .as("clustering_permille"),
            lit(false).as("excluded_hub"))
          .unionByName(deg.filter($"degree" > cap).select($"id".as("doc_id"),
            lit(-1L).as("degree"), lit(-1L).as("n_triangles"),
            lit(-1L).as("clustering_permille"), lit(true).as("excluded_hub")))
          .withColumn("max_degree", lit(cap))
      }
      .reduce(_ unionByName _)
      .select($"max_degree", $"doc_id", $"degree", $"n_triangles",
        $"clustering_permille", $"excluded_hub")
      .orderBy($"max_degree", $"doc_id")
  }

  private[ops] def cappedClusteringWithDeg(
      e: DataFrame, deg: DataFrame, maxDegree: Long): DataFrame = {
    import e.sparkSession.implicits._
    val hubs = deg.filter($"degree" > maxDegree).select($"id").persistScoped()
    val capped = e
      .join(broadcast(hubs.withColumnRenamed("id", "src")), Seq("src"), "left_anti")
      .join(broadcast(hubs.withColumnRenamed("id", "dst")), Seq("dst"), "left_anti")
      .select($"src", $"dst")
    degreesOf(capped).withColumnRenamed("id", "doc_id")
      .filter($"degree" >= 2)
      .join(triangleCountsOf(capped), Seq("doc_id"), "left")
      .select($"doc_id", $"degree",
        coalesce($"n_triangles", lit(0L)).as("n_triangles"),
        expr("2000 * coalesce(n_triangles, 0) div (degree * (degree - 1))")
          .as("clustering_permille"),
        lit(false).as("excluded_hub"))
      .unionByName(hubs.select($"id".as("doc_id"), lit(-1L).as("degree"),
        lit(-1L).as("n_triangles"), lit(-1L).as("clustering_permille"),
        lit(true).as("excluded_hub")))
  }

  /** Oracle: per-cap expansion over the shared e/deg CTEs — capped
    * edge set, RECOMPUTED degrees on it, triangles, coefficient. */
  private def cappedClusteringBlockSql(cap: Int): String =
    s"""h$cap AS (
       |  SELECT doc_id FROM deg WHERE degree > $cap),
       |e$cap AS (
       |  SELECT s, d FROM e
       |  WHERE s NOT IN (SELECT doc_id FROM h$cap)
       |    AND d NOT IN (SELECT doc_id FROM h$cap)),
       |cd$cap AS (
       |  SELECT doc_id, COUNT(*) AS degree
       |  FROM (SELECT s AS doc_id FROM e$cap UNION ALL SELECT d FROM e$cap) u
       |  GROUP BY 1),
       |t$cap AS (
       |  SELECT e1.s AS a, e1.d AS b, e2.d AS c
       |  FROM e$cap e1 JOIN e$cap e2 ON e1.d = e2.s
       |                JOIN e$cap e3 ON e3.s = e1.s AND e3.d = e2.d),
       |c$cap AS (
       |  SELECT doc_id, COUNT(*) AS n_triangles
       |  FROM (SELECT a AS doc_id FROM t$cap
       |        UNION ALL SELECT b FROM t$cap
       |        UNION ALL SELECT c FROM t$cap) u
       |  GROUP BY 1)""".stripMargin

  private def cappedClusteringSelectSql(cap: Int): String =
    s"""SELECT CAST($cap AS BIGINT) AS max_degree, cd.doc_id,
       |  CAST(cd.degree AS BIGINT) AS degree,
       |  CAST(coalesce(c.n_triangles, 0) AS BIGINT) AS n_triangles,
       |  CAST(2000 * coalesce(c.n_triangles, 0)
       |       // (cd.degree * (cd.degree - 1)) AS BIGINT) AS clustering_permille,
       |  FALSE AS excluded_hub
       |FROM cd$cap cd LEFT JOIN c$cap c ON cd.doc_id = c.doc_id
       |WHERE cd.degree >= 2
       |UNION ALL
       |SELECT CAST($cap AS BIGINT), doc_id, CAST(-1 AS BIGINT),
       |  CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), TRUE
       |FROM h$cap""".stripMargin

  private val clusteringCappedSql =
    s"""WITH ${Dedup.bandsCteSql},
       |e AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS s, b.doc_id AS d
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |deg AS (
       |  SELECT doc_id, COUNT(*) AS degree
       |  FROM (SELECT s AS doc_id FROM e UNION ALL SELECT d FROM e) u
       |  GROUP BY 1),
       |${cappedClusteringBlockSql(1)},
       |${cappedClusteringBlockSql(2)}
       |${cappedClusteringSelectSql(1)}
       |UNION ALL
       |${cappedClusteringSelectSql(2)}
       |ORDER BY max_degree, doc_id""".stripMargin

  /** Peel rounds for the fixed-k core: enough for the fixture to reach
    * its fixpoint (GraphSpec proves a 3-deep pendant chain cascades off
    * in exactly 3 rounds and that the fixture converges — the
    * cluster-resolution "fixed rounds + fixpoint audit" convention).
    */
  private val kcoreRounds = 4

  /** k-core decomposition (k=2, [[kcoreRounds]] unrolled peel rounds) —
    * the graph-cleanup pass that strips pendant chains and isolated
    * spurs before community/clustering analysis: repeatedly drop nodes
    * with degree < k, because removing a spur lowers its neighbor's
    * degree and can cascade. Per round: one map-side-combinable degree
    * agg + two equi-joins restricting the edge list — the same
    * shuffle-per-round budget as [[pagerank]]; rounds are FIXED so the
    * plan is static and the oracle an unrolled CTE chain. Emits the
    * surviving 2-core with in-core degrees. At 100 TB, O(peel-depth)
    * rounds with a reliable-checkpoint option is the same playbook as
    * [[Dedup]]'s cc — the fixture's depth is bounded by the audit.
    */
  def kcore(s: SparkSession, dir: String): DataFrame = {
    val (_, pairs) = Dedup.lshPairGraph(s, dir)
    kcoreOf(pairs, 2, kcoreRounds)
  }

  /** Core of [[kcore]] over any canonical (src < dst) edge table —
    * unit-testable on synthetic graphs (pendant-chain cascade). */
  private[ops] def kcoreOf(pairs: DataFrame, k: Long, rounds: Int): DataFrame = {
    import pairs.sparkSession.implicits._
    // each round's edge set is cut (eager localCheckpoint) — the [[Dedup]]
    // cc loop convention, and here it is about LINEAGE, not replay:
    // every round references its predecessor through two join branches
    // plus the degree agg, so an ordinary cached plan still TRIPLES the
    // logical tree per round and Catalyst pays 3^rounds optimizer
    // passes over the candidate-graph pipeline (measured: ~70 s at
    // EVERY sf — pure plan-compile time; checkpointed, ~2 s at sf0.1).
    // A many-round 100 TB run would use reliable checkpointing instead,
    // exactly as cc's checkpointDir option documents. Rounds release
    // as in untilStable.
    var e = pairs.select($"src", $"dst").cutScoped()
    for (_ <- 1 to rounds) {
      val keep = degreesOf(e).filter($"degree" >= k).select($"id")
      val prev = e
      e = e
        .join(keep.withColumnRenamed("id", "src"), Seq("src"))
        .join(keep.withColumnRenamed("id", "dst"), Seq("dst"))
        .select($"src", $"dst").cutScoped()
      CacheScope.release(prev)
    }
    degreesOf(e).select($"id".as("doc_id"), $"degree".as("core_degree"))
      .orderBy($"doc_id")
  }

  /** Convergence-driven k-core — peel until the edge set stops
    * changing (an exact count equality on the checkpoint-materialized
    * table, so the test costs a metadata-cheap scan, not a replay),
    * instead of [[kcoreOf]]'s fixed unroll. A pendant chain deeper
    * than the fixed round count is exactly the case this exists for:
    * the fixed variant leaves the chain's tail in the "core", the
    * converged one peels to the true fixpoint. Returns the core
    * degrees and the round count. Rounds, cuts, `checkpointDir` and
    * the `maxRounds` guard follow [[graft.ops.untilStable]].
    */
  def kcoreConverged(pairs: DataFrame, k: Long, maxRounds: Int = 100,
      checkpointDir: Option[String] = None): (DataFrame, Int) = {
    import pairs.sparkSession.implicits._
    val e0 = pairs.select($"src", $"dst").cutScoped()
    val ((e, _), rounds) = untilStable("k-core", maxRounds, checkpointDir)(
        (e0, e0.count())) { case ((e, nEdges), cut) =>
      val keep = degreesOf(e).filter($"degree" >= k).select($"id")
      val next = cut(e
        .join(keep.withColumnRenamed("id", "src"), Seq("src"))
        .join(keep.withColumnRenamed("id", "dst"), Seq("dst"))
        .select($"src", $"dst"))
      val m = next.count()
      ((next, m), m == nEdges, s"$m edges left")
    }
    (degreesOf(e).select($"id".as("doc_id"), $"degree".as("core_degree"))
      .orderBy($"doc_id"), rounds)
  }

  private val kcoreSql = {
    // every CTE is MATERIALIZED: DuckDB inlines plain CTEs per
    // reference, and each round references its predecessor three times
    // (edge source + two IN-subqueries) — inlined, the band self-join
    // re-executes 3^rounds times (measured: 5m22s at sf0.01 vs seconds
    // materialized)
    val rounds = (1 to kcoreRounds).map { r =>
      s"""d$r AS MATERIALIZED (
         |  SELECT id, COUNT(*) AS deg FROM (
         |    SELECT s AS id FROM e${r - 1} UNION ALL SELECT d FROM e${r - 1}) u
         |  GROUP BY 1),
         |k$r AS MATERIALIZED (SELECT id FROM d$r WHERE deg >= 2),
         |e$r AS MATERIALIZED (
         |  SELECT s, d FROM e${r - 1}
         |  WHERE s IN (SELECT id FROM k$r) AND d IN (SELECT id FROM k$r))""".stripMargin
    }.mkString(",\n")
    s"""WITH ${Dedup.bandsCteSql},
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS s, b.doc_id AS d
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |$rounds
       |SELECT id AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_degree FROM (
       |  SELECT s AS id FROM e$kcoreRounds UNION ALL SELECT d FROM e$kcoreRounds) u
       |GROUP BY 1 ORDER BY doc_id""".stripMargin
  }

  /** Rounds for the label-propagation gate row — enough for the LSH
    * pair graph's small communities to stabilize while keeping the
    * unrolled oracle readable. Synchronous LPA can oscillate on
    * bipartite-ish structures, which is WHY the gate pins a fixed round
    * count instead of "until stable": both engines compute the same
    * prefix of the same deterministic sequence.
    */
  private val lpaRounds = 3

  /** Label-propagation community detection (Raghavan et al. 2007) —
    * the near-linear community algorithm curation pipelines run to
    * group near-dup families / domains before choosing representatives.
    * Synchronous variant with a deterministic tie-break: every node
    * adopts the most frequent label among its neighbors (ties → the
    * SMALLEST label), isolated nodes keep their own id.
    *
    * Each round costs exactly one (edges ⋈ labels) equi-join on the
    * node id, one (node, label) count rollup, and one argmax per node
    * (max over a (count, -label) struct — no window, so the hot path is
    * map-side combinable hash aggregation end-to-end). That is the same
    * per-round exchange budget as [[pagerankOf]] and it scales the same
    * way: label skew (a megacommunity's label on every edge) is
    * absorbed by partial aggregation before the shuffle. The output is
    * the community-size rollup, the form a curation report consumes.
    */
  def lpaCommunities(s: SparkSession, dir: String): DataFrame = {
    val (nodes, pairs) = Dedup.lshPairGraph(s, dir)
    lpaOf(nodes, pairs)
  }

  private[ops] def lpaOf(nodes: DataFrame, pairs: DataFrame): DataFrame = {
    import nodes.sparkSession.implicits._
    val edges = pairs.select($"src".as("u"), $"dst".as("v"))
      .unionAll(pairs.select($"dst".as("u"), $"src".as("v"))).persistScoped()
    val state0 = nodes.select($"id", $"id".as("lbl"))
    val state = (1 to lpaRounds).foldLeft(state0) { (st, _) =>
      val neigh = edges.join(st.select($"id".as("u"), $"lbl"), Seq("u"))
        .groupBy($"v", $"lbl").agg(count(lit(1)).as("cnt"))
      val winner = neigh
        .groupBy($"v".as("id"))
        .agg(max(struct($"cnt", (-$"lbl").as("nl"))).as("m"))
        .select($"id", (-$"m.nl").as("new_lbl"))
      st.join(winner, Seq("id"), "left")
        .select($"id", coalesce($"new_lbl", $"lbl").as("lbl"))
    }
    state.groupBy($"lbl".as("community"))
      .agg(count(lit(1)).as("n_nodes"), min($"id").as("min_doc"))
      .orderBy($"community")
  }

  /** Convergence-driven label propagation — the production companion
    * of the fixed-round gate row [[lpaOf]] (same per-round plan: one
    * (edges ⋈ labels) equi-join, one (node, label) count rollup, one
    * struct-argmax per node — no window anywhere), run to stability
    * instead of a pinned prefix. Termination is data-driven and exact:
    * stop when ZERO nodes change label in a round (an integer count on
    * materialized state, no epsilon).
    *
    * Synchronous LPA famously does NOT always reach that fixed point:
    * on bipartite-ish structures (and even a single edge) the update
    * is a period-2 oscillation — every node adopts its neighbor's
    * label and they swap forever. The guard detects exactly that case
    * from the two-round history the state already carries: if every
    * node's new label equals its label TWO rounds ago while some node
    * still changed this round, the run is a pure 2-cycle — no amount
    * of further sync rounds can exit it (continuing would oscillate
    * forever; re-breaking and re-propagating can re-enter the same
    * cycle). Resolution is deterministic and final: every node takes
    * the SMALLER of its two cycling labels (`least(lbl, prev)`) — the
    * same min-label symmetry-break as the gate row's tie-break — and
    * the run terminates with that labeling. `maxRounds` stays the
    * runaway guard for non-period-2 non-convergence.
    *
    * Returns the community rollup and the round count. Rounds, cuts,
    * `checkpointDir` and the `maxRounds` guard follow
    * [[graft.ops.untilStable]].
    */
  def lpaConverged(nodes: DataFrame, pairs: DataFrame,
      maxRounds: Int = 50,
      checkpointDir: Option[String] = None): (DataFrame, Int) = {
    import nodes.sparkSession.implicits._
    val edges = pairs.select($"src".as("u"), $"dst".as("v"))
      .unionAll(pairs.select($"dst".as("u"), $"src".as("v"))).cutScoped()
    // state carries (lbl, prev): the label now and one round ago —
    // exactly the history the 2-cycle test needs
    val state0 = nodes.select($"id", $"id".as("lbl"), $"id".as("prev"))
      .cutScoped()
    val (state, rounds) = untilStable("label propagation", maxRounds, checkpointDir)(
        state0) { (state, cut) =>
      val neigh = edges.join(state.select($"id".as("u"), $"lbl"), Seq("u"))
        .groupBy($"v", $"lbl").agg(count(lit(1)).as("cnt"))
      val winner = neigh
        .groupBy($"v".as("id"))
        .agg(max(struct($"cnt", (-$"lbl").as("nl"))).as("m"))
        .select($"id", (-$"m.nl").as("new_lbl"))
      val next = cut(state.join(winner, Seq("id"), "left")
        .select($"id",
          coalesce($"new_lbl", $"lbl").as("lbl"),
          $"lbl".as("prev"),
          $"prev".as("prev2")))
      // both counts scan the just-materialized leaf — no re-execution
      val changed = next.filter($"lbl" =!= $"prev").count()
      if (changed > 0 && next.filter($"lbl" =!= $"prev2").count() == 0)
        // pure period-2 oscillation: resolve by min-label and stop —
        // the resolved labeling is the cycle's deterministic fixed
        // choice, and (min of the two) matches the gate tie-break
        (cut(next.select($"id", least($"lbl", $"prev").as("lbl"), $"lbl".as("prev"))),
          true, "")
      else
        (next.select($"id", $"lbl", $"prev"), changed == 0,
          s"$changed nodes still moving")
    }
    (state.groupBy($"lbl".as("community"))
      .agg(count(lit(1)).as("n_nodes"), min($"id").as("min_doc"))
      .orderBy($"community"), rounds)
  }

  private val lpaSql = {
    val rounds = (1 to lpaRounds).map { r =>
      s"""c$r AS (SELECT e.v, x.lbl, COUNT(*) AS cnt
         |  FROM edges e JOIN l${r - 1} x ON e.u = x.doc_id GROUP BY 1, 2),
         |w$r AS (SELECT v, lbl FROM (
         |  SELECT v, lbl, row_number() OVER (PARTITION BY v
         |    ORDER BY cnt DESC, lbl ASC) AS rn FROM c$r) t WHERE rn = 1),
         |l$r AS (SELECT p.doc_id, COALESCE(w.lbl, p.lbl) AS lbl
         |  FROM l${r - 1} p LEFT JOIN w$r w ON p.doc_id = w.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${Dedup.bandsCteSql},
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |edges AS (SELECT d1 AS u, d2 AS v FROM pairs
       |          UNION ALL SELECT d2, d1 FROM pairs),
       |l0 AS (SELECT doc_id, doc_id AS lbl FROM documents),
       |$rounds
       |SELECT lbl AS community, COUNT(*) AS n_nodes, MIN(doc_id) AS min_doc
       |FROM l$lpaRounds GROUP BY 1 ORDER BY community""".stripMargin
  }

  def entries: Seq[CatalogEntry] = Seq(
    CatalogEntry("q_graph_clustering", clusteringCoefficient, Some(clusteringCoefficientSql)),
    CatalogEntry("q_graph_clustering_capped", clusteringCappedQuery, Some(clusteringCappedSql)),
    CatalogEntry("q_graph_kcore", kcore, Some(kcoreSql)),
    CatalogEntry("q_graph_degree", degreeDist, Some(degreeDistSql)),
    CatalogEntry("q_graph_triangles", triangleCounts, Some(triangleCountsSql)),
    CatalogEntry("q_graph_triangles_capped", triangleCappedQuery, Some(triangleCappedSql)),
    CatalogEntry("q_graph_pagerank", pagerank, Some(pagerankSql)),
    CatalogEntry("q_graph_lpa", lpaCommunities, Some(lpaSql)))
}
