package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Graph analytics over the purchase graph — SURVEY.md §2.10b.
  *
  * The dedup family already ships the UNDIRECTED iterative algorithm
  * (connected components, both propagation and large-star/small-star);
  * this family adds the DIRECTED one: PageRank over customer→supplier
  * purchase edges, the centrality measure behind "which suppliers
  * concentrate demand flow" — and, in the LLM-data north star, the
  * domain-authority signal crawl pipelines feed into quality scoring
  * (a page's rank is a keep/drop feature exactly like perplexity).
  *
  * Determinism across engines is the hard part, solved the same way as
  * q_text_perplexity: the ENTIRE recurrence is integer fixed-point.
  * Ranks live in micro-units (node starts at 1,000,000); each
  * iteration computes
  *
  *   pr'(v) = 150000 + (850 · (S(v) + D div N)) div 1000
  *
  * where S(v) = Σ_{u→v} (pr(u) div deg(u)) — integer floor-division
  * contributions, summed exactly as longs — and D is the pooled rank
  * of DANGLING nodes (suppliers have no out-edges in a bipartite
  * purchase graph; dropping their mass would leak ~50% of the total,
  * so it redistributes uniformly, the standard Brin–Page fix). Every
  * operand is positive, so Spark's truncating `div` and DuckDB's
  * flooring `//` agree, and the result is bit-identical with no float
  * op anywhere. The div-truncation dissipates ≤ deg−1 micro-units per
  * node per round — deterministic, identical in both engines.
  *
  * Scale (100 TB): each iteration is ONE keyed shuffle (contributions
  * grouped by dst) over the edge set plus two broadcast scalars
  * (dangling pool, node count); degrees are computed once and joined
  * by key. The oracle row runs a fixed 3 rounds (bit-pinnable in SQL);
  * the delta-threshold production form is [[pagerankConverged]], pinned
  * equal to the unrolled form when capped at the same round count.
  * The driver holds no per-node state. Long
  * overflow bound: 850·(S+D/N) needs total graph mass < 1.1e16
  * micro-units ≈ 1e10 nodes — beyond that, rescale the fixed-point
  * unit (ranks are relative, the unit is free).
  *
  * Plan-shape pins: PlanAuditSpec asserts no cartesian product
  * catalog-wide; the only cross joins here are 1-row broadcast
  * scalars. */
object GraphQueries {

  /** DEGREE-ORDERED wedge enumeration for the link predictors (r8
    * verdict item #1). Every wedge u–z–v contributes to the (u,v)
    * score, so — unlike triangle counting, where only the apex copy
    * matters — the TOTAL wedge volume Σ_z C(deg(z),2) is the exact
    * size of the score-contribution set and no enumeration scheme can
    * shrink it (Σ_pairs CN(u,v) = #wedges). What orientation CAN do,
    * and does here, is recover the full counts from three disjoint
    * oriented classes so that the avoidable part is bounded and the
    * unavoidable part is pure output:
    *
    * Orient each edge toward its higher-(degree, id) endpoint
    * (lo → hi, exactly the [[qGraphTriangles]] orientation; outdeg ≤
    * √(2m) for every node — Schank & Wagner). A wedge's two edges then
    * land in exactly one class:
    *   - OUT-OUT  (z→u, z→v): pairs of out-neighbors of the center.
    *     Volume Σ C(outdeg,2) ≤ m·√(2m) — skew-proof.
    *   - MIXED    (u→z, z→v): in-neighbor × out-neighbor. Per-center
    *     volume indeg·outdeg ≤ indeg·√(2m); summed ≤ 2m·√(2m). The
    *     join's per-row amplification is the out-list, never the hub
    *     list — and NO post-filter: every generated row is kept.
    *   - IN-IN    (u→z, v→z): pairs of in-neighbors — the hub class.
    *     Volume Σ C(indeg,2) is NOT bounded by orientation, and
    *     cannot be: each row is a distinct real contribution (a hub
    *     adjacent to both u and v adds w(hub) to that pair's score),
    *     so its size is a lower bound for ANY exact algorithm. What
    *     matters at 100× is that generation distributes: the join is
    *     sort-merge on the center key, which AQE's skew-join splits
    *     chunk-by-chunk (skewed side split, other side replicated) —
    *     no single task owns C(hubdeg,2).
    *
    * Each unordered wedge is emitted exactly once: its orientation
    * pattern is fixed by the (deg, id) total order, and within a class
    * the id-inequality (or least/greatest for MIXED, whose endpoints
    * come from different sides) canonicalizes the pair. vs the r8
    * symmetric-list self-join this also halves the join input (m
    * oriented rows, not 2m symmetric) and drops the probe waste from
    * od·id cross terms.
    *
    * `weight` builds the per-center weight table (ctr, w) from the
    * degree table (ctr, deg) — lit(1) gives common-neighbor counts,
    * 1e6 div deg gives the RA index. Weights ride the oriented edge
    * rows (wlo/whi joined once, node-domain keyed) so no post-wedge
    * weight join touches the big table. Returns one row per wedge:
    * (u, v, w, cls) with cls ∈ {out_out, mixed, in_in} — the tag is a
    * constant-folded literal for GraphSpec's per-class volume pins. */
  private[graft] def orientedWedges(
      s: SparkSession, edges: DataFrame)(
      weight: DataFrame => DataFrame): DataFrame =
    wedgesOf(s, orientWeighted(s, edges)(weight))

  /** The weighted oriented edge list (lo, hi, wlo, whi) — a five-join
    * pipeline over node-domain tables that every wedge class self-joins
    * TWICE; built once here so callers can persist it (six uncached
    * evaluations measured 4-10x on the fixture — the whole point of
    * the persisted-stage discipline coEdges already follows). */
  private def orientWeighted(
      s: SparkSession, edges: DataFrame)(
      weight: DataFrame => DataFrame): DataFrame = {
    import s.implicits._
    val deg = edges.select($"u".as("ctr"))
      .union(edges.select($"v".as("ctr")))
      .groupBy($"ctr").agg(count(lit(1)).as("deg"))
    val wt = weight(deg)
    val loIsU = $"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v")
    edges
      .join(deg.select($"ctr".as("u"), $"deg".as("du")), "u")
      .join(deg.select($"ctr".as("v"), $"deg".as("dv")), "v")
      .select(
        when(loIsU, $"u").otherwise($"v").as("lo"),
        when(loIsU, $"v").otherwise($"u").as("hi"))
      .join(wt.select($"ctr".as("lo"), $"w".as("wlo")), "lo")
      .join(wt.select($"ctr".as("hi"), $"w".as("whi")), "hi")
  }

  /** The three oriented wedge classes over a (lo, hi, wlo, whi) table
    * (see the class analysis on [[orientedWedges]]). */
  private def wedgesOf(s: SparkSession, o: DataFrame): DataFrame = {
    import s.implicits._
    val outOut = o.as("x")
      .join(o.as("y"), $"x.lo" === $"y.lo" && $"x.hi" < $"y.hi")
      .select($"x.hi".as("u"), $"y.hi".as("v"),
        $"x.wlo".as("w"), lit("out_out").as("cls"))
    val mixed = o.as("x")
      .join(o.as("y"), $"x.hi" === $"y.lo")
      .select(least($"x.lo", $"y.hi").as("u"),
        greatest($"x.lo", $"y.hi").as("v"),
        $"x.whi".as("w"), lit("mixed").as("cls"))
    val inIn = o.as("x")
      .join(o.as("y"), $"x.hi" === $"y.hi" && $"x.lo" < $"y.lo")
      .select($"x.lo".as("u"), $"y.lo".as("v"),
        $"x.whi".as("w"), lit("in_in").as("cls"))
    outOut.union(mixed).union(inIn)
  }

  /** Weighted oriented edge tables, persisted per (session, dir,
    * predictor) — the m-row stage each predictor's three wedge classes
    * scan six times. */
  private val orientedCache =
    new graft.Memo[(SparkSession, String, String), DataFrame]

  /** Shared scaffold of the neighborhood link predictors: oriented
    * wedge enumeration (see [[orientedWedges]]), pair aggregation, and
    * the anti join that drops already-connected pairs. Returns
    * (u, v, score) unsorted — callers pick their own top-k
    * projection. */
  private def linkPredict(
      s: SparkSession, dir: String, name: String)(
      weight: DataFrame => DataFrame): DataFrame = {
    import s.implicits._
    val edges = coEdges(s, dir)
    val o = orientedCache((s, dir, name)) {
      orientWeighted(s, edges)(weight)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    wedgesOf(s, o)
      .groupBy($"u", $"v").agg(sum($"w").as("score"))
      .join(edges, Seq("u", "v"), "left_anti")
  }

  /** Distinct customer→supplier edges from the order/lineitem facts.
    * Node ids are prefixed ('c'/'s') because the two key domains are
    * both dense-from-0 integers (FIXTURES.md) and would collide. */
  private def edges(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      .join(
        Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(
        concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst"))
      .distinct()

  /** The purchase graph in the shape every PageRank form consumes:
    * (nodes, edges, out-degrees, 1-row node count). */
  private def prGraph(s: SparkSession, e: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val nodes = e.select($"src".as("node"))
      .union(e.select($"dst".as("node"))).distinct()
    val deg = e.groupBy($"src").agg(count(lit(1)).as("deg"))
    val nn = nodes.agg(count(lit(1)).as("n_nodes"))
    (nodes, e, deg, nn)
  }

  /** ONE integer PageRank round — ranks → next ranks. Shared verbatim
    * by the fixed-3 oracle row and [[pagerankConverged]], so GraphSpec
    * can pin the production loop equal to the unrolled form
    * round-for-round. */
  private def prRound(s: SparkSession, nodes: DataFrame, e: DataFrame,
      deg: DataFrame, nn: DataFrame, ranks: DataFrame): DataFrame = {
    import s.implicits._
    val contrib = e
      .join(broadcast(deg), "src")
      .join(ranks.withColumnRenamed("node", "src"), "src")
      .groupBy($"dst").agg(sum(expr("pr div deg")).as("s"))
    val dangling = ranks
      .join(deg.select($"src".as("node")), Seq("node"), "left_anti")
      .agg(coalesce(sum($"pr"), lit(0L)).as("d"))
    nodes
      .join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
      .crossJoin(broadcast(dangling))
      .crossJoin(broadcast(nn))
      .select($"node",
        expr("150000 + (850 * (coalesce(s, 0) + d div n_nodes)) div 1000")
          .as("pr"))
  }

  /** PRODUCTION PageRank: iterate [[prRound]] until the max per-node
    * rank delta drops to `tolMicro` micro-units or `maxRounds` caps the
    * run — the delta-threshold form the fixed-3 oracle row documents,
    * with the same driver-side convergence counter as
    * `Components.labels`: one O(1) scalar action per round, never
    * per-node driver state. Returns (ranks, roundsRun); roundsRun <
    * maxRounds means the threshold was met (hitting the cap returns the
    * capped approximation — the standard production trade: rank ORDER
    * stabilizes long before the values do).
    *
    * Per round: one keyed shuffle (contributions by dst) + two 1-row
    * broadcast scalars + one keyed delta join — identical cost shape to
    * the oracle row's unrolled rounds. `localCheckpoint` truncates the
    * per-round lineage so round k's plan doesn't replay rounds 1..k−1
    * (on a multi-executor cluster prefer reliable `checkpoint` to
    * survive executor loss; local mode has no such failure domain).
    * Graph inputs are persisted across rounds and released in
    * `finally`. Convergence is geometric (damping 0.85 contracts every
    * perturbation), so tol 10⁴ µ-units ≈ 1% lands in ~30 rounds from a
    * cold start regardless of graph size. */
  private[graft] def pagerankConverged(
      s: SparkSession, dir: String, tolMicro: Long = 10000L,
      maxRounds: Int = 50): (DataFrame, Int) =
    pagerankConvergedEdges(s, edges(s, dir), tolMicro, maxRounds)

  /** The same production loop over an arbitrary (src, dst) edge frame —
    * GraphScaleSpec drives it on synthetic bounded-degree graphs to
    * MEASURE that rounds-to-convergence stay ~constant in n (so total
    * per-round shuffle volume, ∝ rounds·|E|, is ~linear). */
  private[graft] def pagerankConvergedEdges(
      s: SparkSession, e1: DataFrame, tolMicro: Long,
      maxRounds: Int): (DataFrame, Int) = {
    import s.implicits._
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val (nodes0, e0, deg0, nn) = prGraph(s, e1)
    val nodes = nodes0.persist(lvl)
    val e = e0.persist(lvl)
    val deg = deg0.persist(lvl)
    try {
      var ranks = nodes.select($"node", lit(1000000L).as("pr"))
        .localCheckpoint(true)
      var iter = 0
      var delta = Long.MaxValue
      while (delta > tolMicro && iter < maxRounds) {
        val next = prRound(s, nodes, e, deg, nn, ranks)
          .localCheckpoint(true)
        delta = next.as("n").join(ranks.as("o"), "node")
          .agg(max(abs($"n.pr" - $"o.pr")).as("d")).head().getLong(0)
        ranks = next
        iter += 1
      }
      (ranks, iter)
    } finally { nodes.unpersist(); e.unpersist(); deg.unpersist() }
  }

  val qGraphPagerank: Q = Q(
    "q_graph_pagerank",
    (s, dir) => {
      import s.implicits._
      val (nodes, e, deg, nn) = prGraph(s, edges(s, dir))
      // Deliberately UN-checkpointed per round, unlike the bfs/kcore
      // rows: the whole 3-round recurrence plans as ONE query whose
      // repeated rank/edge subplans deduplicate through exchange reuse
      // — measured 2.4 s; eager per-round localCheckpoint forces the
      // graph-input stages to re-materialize per round and regressed
      // the row to 7.7 s. (The production loop still checkpoints —
      // unbounded round counts need bounded lineage.)
      // r16 probe: a final eager localCheckpoint (to scope AQE off
      // around the execution) regressed the row to 16 s — the RDD
      // materialization path loses the exchange-reuse dedup that makes
      // the lazy one-query form 2.4 s — so this row deliberately stays
      // lazy with AQE on (its 18 stage-jobs cost less than losing
      // reuse; measured, not assumed).
      var ranks = nodes.select($"node", lit(1000000L).as("pr"))
      for (_ <- 1 to 3)
        ranks = prRound(s, nodes, e, deg, nn, ranks)
      ranks.select($"node", $"pr".as("pr_micro")).orderBy($"node")
    },
    oracle = Some {
      // Three unrolled iterations of the identical integer recurrence.
      def step(k: Int): String = {
        val prev = if (k == 1) "r0" else s"r${k - 1}"
        s"""s$k AS (
           |  SELECT e.dst AS node, CAST(SUM(r.pr // d.deg) AS BIGINT) AS s
           |  FROM edges e JOIN $prev r ON e.src = r.node
           |  JOIN deg d ON d.src = e.src
           |  GROUP BY e.dst),
           |d$k AS (
           |  SELECT CAST(COALESCE(SUM(pr), 0) AS BIGINT) AS d FROM $prev
           |  WHERE node NOT IN (SELECT src FROM deg)),
           |r$k AS (
           |  SELECT n.node,
           |    CAST(150000 + (850 * (COALESCE(s.s, 0) + d.d // nn.n_nodes))
           |      // 1000 AS BIGINT) AS pr
           |  FROM nodes n LEFT JOIN s$k s ON n.node = s.node, d$k d, nn)""".stripMargin
      }
      s"""WITH edges AS (
         |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
         |nn AS (SELECT COUNT(*) AS n_nodes FROM nodes),
         |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nodes),
         |${step(1)},
         |${step(2)},
         |${step(3)}
         |SELECT node, pr AS pr_micro FROM r3
         |ORDER BY node""".stripMargin
    })

  /** q_graph_triangles — triangle counting over the FREQUENT-CO-PURCHASE
    * graph: parts are adjacent iff they appear together in ≥ 2 distinct
    * orders (the support threshold of market-basket analysis; it also
    * keeps the edge count scale-STABLE — one-off co-occurrences grow
    * with the corpus, repeated ones stay ≈ birthday-bounded: profiled
    * 2.3k/3.4k/3.6k edges at sf0.001/0.01/0.1).
    *
    * Technique (the 100 TB part): DEGREE-ORDERED ORIENTATION. Each
    * undirected edge is directed from its lower-(degree, id) endpoint to
    * the higher; wedges are then pairs of OUT-neighbors, so a node
    * contributes C(outdeg, 2) wedges and outdeg ≤ √(2m) for every node —
    * total wedge volume O(m^1.5) regardless of skew (Schank & Wagner's
    * forward algorithm; the hub that would generate C(hubdeg, 2) wedges
    * under naive id-orientation generates almost none). Wedge closure is
    * one equi-join back to the canonical edge set. Everything is
    * keyed joins + aggs — no driver state, no iteration.
    *
    * Per-order pair expansion is bounded by the basket size (≤ 12
    * lineitems/order ⇒ ≤ 66 pairs), so the pairs stage is O(rows · 66)
    * worst case, linear in the fact table.
    *
    * The COUNT is orientation-invariant, so the DuckDB twin may use the
    * simpler id-ordered closure — same triangles, same number. */
  private val edgeCache = new graft.Memo[(SparkSession, String), DataFrame]

  private val degCache = new graft.Memo[(SparkSession, String), DataFrame]

  /** Degree table (n, deg) of [[coEdges]], persisted once per
    * (session, dir) — five rows (triangles, jaccard, degree-hist,
    * clustering-coeff, assortativity) consume the identical table, and
    * like the edge set it must have ONE definition: an inlined copy per
    * row would recompute a node-domain aggregate per query and invite
    * silent drift. Node-domain sized (≪ edges), cheap to hold. */
  private def coDegrees(s: SparkSession, dir: String): DataFrame =
    degCache((s, dir)) {
      import s.implicits._
      val edges = coEdges(s, dir)
      edges.select($"u".as("n"))
        .union(edges.select($"v".as("n")))
        .groupBy($"n").agg(count(lit(1)).as("deg"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private val orientedEdgeCache =
    new graft.Memo[(SparkSession, String), DataFrame]

  /** Degree-ordered orientation (src, dst) of [[coEdges]] — src is the
    * lower-(deg, id) endpoint (Schank–Wagner: out-degree ≤ √(2m)),
    * shared by q_graph_triangles and q_graph_clustering_coeff. ONE
    * definition for the same reason as [[coDegrees]]: the orientation
    * tiebreak decides which wedges each row enumerates, and a one-sided
    * edit to an inlined copy would diverge the two triangle counts with
    * no failing test naming the cause. Edge-domain sized, persisted. */
  private def orientedEdges(s: SparkSession, dir: String): DataFrame =
    orientedEdgeCache((s, dir)) {
      import s.implicits._
      val deg = coDegrees(s, dir)
      coEdges(s, dir)
        .join(deg.select($"n".as("u"), $"deg".as("du")), "u")
        .join(deg.select($"n".as("v"), $"deg".as("dv")), "v")
        .select(
          when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"u")
            .otherwise($"v").as("src"),
          when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"v")
            .otherwise($"u").as("dst"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Canonical (u < v) frequent-co-purchase edges, support ≥ 2 — THE
    * edge definition for the undirected part graph, persisted once per
    * (session, dir) and shared by q_graph_triangles and
    * q_graph_common_neighbors. One definition on purpose: both rows
    * read through [[edgeCache]], and with two inlined copies whichever
    * query built first would silently define the edges the other uses
    * (Memo ignores the second thunk) — a one-sided edit would produce
    * order-dependent results with no failing test naming the cause. */
  private[graft] def coEdges(s: SparkSession, dir: String): DataFrame =
    edgeCache((s, dir)) {
      import s.implicits._
      val li = Tables.lineitem(s, dir)
        .select($"l_orderkey", $"l_partkey").distinct()
      li.as("a")
        .join(li.as("b"),
          $"a.l_orderkey" === $"b.l_orderkey" &&
            $"a.l_partkey" < $"b.l_partkey")
        .select($"a.l_partkey".as("u"), $"b.l_partkey".as("v"))
        .groupBy($"u", $"v")
        .agg(count(lit(1)).as("c")).where($"c" >= 2)
        .select($"u", $"v")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  val qGraphTriangles: Q = Q(
    "q_graph_triangles",
    (s, dir) => {
      import s.implicits._
      // persisted + shared — the plan reads the edge set four times
      // (deg, orientation, closure probe, edge count) and must not
      // re-expand the pairs stage each time
      val edges = coEdges(s, dir)
      val deg = coDegrees(s, dir)
      // orient: src = lower (deg, id) endpoint → dst = higher (the
      // shared persisted [[orientedEdges]] stage)
      val oriented = orientedEdges(s, dir)
      // wedges: two out-neighbors of the same src, id-canonicalized so
      // the closure probe hits the (u < v) edge representation
      val wedges = oriented.as("x")
        .join(oriented.as("y"),
          $"x.src" === $"y.src" && $"x.dst" < $"y.dst")
        .select($"x.dst".as("u"), $"y.dst".as("v"))
      val tri = wedges.join(edges, Seq("u", "v"), "left_semi")
        .agg(count(lit(1)).as("n_triangles"))
      val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
      val nEdges = edges.agg(count(lit(1)).as("n_edges"))
      nNodes.crossJoin(broadcast(nEdges)).crossJoin(broadcast(tri))
    },
    oracle = Some(
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |edges AS (SELECT u, v FROM pairs GROUP BY u, v HAVING COUNT(*) >= 2),
        |nodes AS (SELECT u AS n FROM edges UNION SELECT v FROM edges)
        |SELECT (SELECT COUNT(*) FROM nodes) AS n_nodes,
        |  (SELECT COUNT(*) FROM edges) AS n_edges,
        |  (SELECT COUNT(*) FROM edges e1
        |     JOIN edges e2 ON e2.u = e1.v
        |     JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles""".stripMargin))

  /** q_graph_common_neighbors — LINK PREDICTION by common-neighbor
    * count over the same frequent-co-purchase graph as
    * [[qGraphTriangles]] (the persisted edge set is shared): for every
    * NON-adjacent part pair, how many parts are co-purchase neighbors
    * of both — the classic "customers who bought these also bought"
    * recommendation score, and the simplest of the neighborhood link
    * predictors (Adamic-Adar/Jaccard are the same wedge aggregation
    * with a different weight).
    *
    * Shape: degree-ordered class-split wedge enumeration (see
    * [[orientedWedges]] — the skew analysis lives there), aggregate to
    * (pair → count), then one ANTI join removes already-connected
    * pairs (predicting an existing edge is vacuous) and
    * TakeOrderedAndProject keeps the top 20 under the total
    * (cn DESC, u, v) order — partial top-k per partition, no global
    * sort. The DuckDB twin keeps the naive symmetric-list form — the
    * class split is count-preserving by construction, and the
    * hash-match proves it. */
  val qGraphCommonNeighbors: Q = Q(
    "q_graph_common_neighbors",
    (s, dir) => {
      import s.implicits._
      linkPredict(s, dir, "cn")(deg => deg.select($"ctr", lit(1L).as("w")))
        .select($"u", $"v", $"score".as("cn"))
        .orderBy($"cn".desc, $"u", $"v")
        .limit(20)
    },
    oracle = Some(
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |edges AS (SELECT u, v FROM pairs GROUP BY u, v HAVING COUNT(*) >= 2),
        |nb AS (SELECT u AS ctr, v AS n FROM edges
        |       UNION ALL SELECT v AS ctr, u AS n FROM edges),
        |cn AS (
        |  SELECT x.n AS u, y.n AS v, COUNT(*) AS cn
        |  FROM nb x JOIN nb y ON x.ctr = y.ctr AND x.n < y.n
        |  GROUP BY x.n, y.n)
        |SELECT cn.u, cn.v, cn.cn FROM cn
        |WHERE NOT EXISTS (SELECT 1 FROM edges e
        |                  WHERE e.u = cn.u AND e.v = cn.v)
        |ORDER BY cn.cn DESC, cn.u, cn.v
        |LIMIT 20""".stripMargin))

  /** q_graph_resource_alloc — WEIGHTED link prediction by the
    * Resource-Allocation index (Zhou/Lü/Zhang 2009) over the same
    * frequent-co-purchase graph: RA(u,v) = Σ_{z ∈ N(u)∩N(v)} 1/deg(z).
    * Completes the neighborhood-predictor pair with
    * [[qGraphCommonNeighbors]]: CN counts shared neighbors flatly, RA
    * discounts hub centers — a shared neighbor that co-occurs with
    * everything carries little signal, the same inverse-frequency idea
    * as IDF. Chosen over Adamic-Adar (1/log deg) because 1/deg is
    * RATIONAL: in micro-units the contribution is `1000000 div deg(z)`,
    * exact integers end to end — both engines truncate positive
    * division identically, so the score is bit-stable with no float op
    * anywhere (the q_graph_pagerank discipline).
    *
    * Shape: same oriented class-split wedge enumeration as CN (see
    * [[orientedWedges]]) — the center's weight 1e6 div deg rides the
    * oriented edge rows (node-domain keyed joins happen BEFORE wedge
    * expansion), so the pair-agg is one partial-agg shuffle over
    * already-weighted wedges. Anti join drops existing edges;
    * TakeOrderedAndProject keeps the top 20 under the total
    * (ra_micro DESC, u, v) order. */
  val qGraphResourceAlloc: Q = Q(
    "q_graph_resource_alloc",
    (s, dir) => {
      import s.implicits._
      val ra = linkPredict(s, dir, "ra") { deg =>
        deg.select($"ctr", expr("1000000 div deg").as("w"))
      }
      ra.select($"u", $"v", $"score".as("ra_micro"),
          ($"score".cast("double") / 1000000d).as("ra"))
        .orderBy($"ra_micro".desc, $"u", $"v")
        .limit(20)
    },
    oracle = Some(
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |edges AS (SELECT u, v FROM pairs GROUP BY u, v HAVING COUNT(*) >= 2),
        |nb AS (SELECT u AS ctr, v AS n FROM edges
        |       UNION ALL SELECT v AS ctr, u AS n FROM edges),
        |deg AS (SELECT ctr, COUNT(*) AS deg FROM nb GROUP BY ctr),
        |wnb AS (SELECT nb.ctr, nb.n, 1000000 // d.deg AS w
        |        FROM nb JOIN deg d ON d.ctr = nb.ctr),
        |ra AS (
        |  SELECT x.n AS u, y.n AS v, CAST(SUM(x.w) AS BIGINT) AS ra_micro
        |  FROM wnb x JOIN wnb y ON x.ctr = y.ctr AND x.n < y.n
        |  GROUP BY x.n, y.n)
        |SELECT ra.u, ra.v, ra.ra_micro,
        |  CAST(ra.ra_micro AS DOUBLE) / 1000000 AS ra
        |FROM ra
        |WHERE NOT EXISTS (SELECT 1 FROM edges e
        |                  WHERE e.u = ra.u AND e.v = ra.v)
        |ORDER BY ra.ra_micro DESC, ra.u, ra.v
        |LIMIT 20""".stripMargin))

  /** q_graph_adamic_adar — the third neighborhood predictor, completing
    * the family: AA(u,v) = Σ_{z ∈ N(u)∩N(v)} 1/ln(deg(z)) (Adamic &
    * Adar 2003's "Friends and neighbors on the Web" weighting — a
    * gentler hub discount than RA's 1/deg). The irrational ln is made
    * engine-portable with the q_text_perplexity technique: quantize
    * ONCE per center to integer micro-nats — floor(ln(deg)·1e6), where
    * the libm ulp is masked by the floor at 1e-6 resolution — then the
    * weight 1e12 div ln_micro is exact integer division and every
    * downstream sum/compare is exact long arithmetic, bit-identical in
    * both engines. A wedge CENTER always has deg ≥ 2 (it neighbors
    * both endpoints) so its ln_micro ≥ 693147 — but the weight table
    * covers every node (weights ride the oriented edges for both
    * endpoints, and a degree-1 spoke is a legal wedge endpoint), so
    * the deg=1 rows guard the divisor with greatest(·, 1); their
    * weight value is arbitrary because it is never summed.
    *
    * Shape: identical to CN/RA — one [[orientedWedges]] call with a
    * different per-center weight. */
  val qGraphAdamicAdar: Q = Q(
    "q_graph_adamic_adar",
    (s, dir) => {
      import s.implicits._
      val aa = linkPredict(s, dir, "aa") { deg =>
        deg.select($"ctr", expr(
          "1000000000000 div greatest(" +
            "CAST(floor(ln(CAST(deg AS DOUBLE)) * 1000000) AS BIGINT), 1)")
          .as("w"))
      }
      aa.select($"u", $"v", $"score".as("aa_micro"),
          ($"score".cast("double") / 1000000d).as("aa"))
        .orderBy($"aa_micro".desc, $"u", $"v")
        .limit(20)
    },
    oracle = Some(
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |edges AS (SELECT u, v FROM pairs GROUP BY u, v HAVING COUNT(*) >= 2),
        |nb AS (SELECT u AS ctr, v AS n FROM edges
        |       UNION ALL SELECT v AS ctr, u AS n FROM edges),
        |deg AS (SELECT ctr, COUNT(*) AS deg FROM nb GROUP BY ctr),
        |wnb AS (SELECT nb.ctr, nb.n,
        |          1000000000000 // greatest(
        |            CAST(floor(ln(CAST(d.deg AS DOUBLE)) * 1000000) AS BIGINT), 1)
        |            AS w
        |        FROM nb JOIN deg d ON d.ctr = nb.ctr),
        |aa AS (
        |  SELECT x.n AS u, y.n AS v, CAST(SUM(x.w) AS BIGINT) AS aa_micro
        |  FROM wnb x JOIN wnb y ON x.ctr = y.ctr AND x.n < y.n
        |  GROUP BY x.n, y.n)
        |SELECT aa.u, aa.v, aa.aa_micro,
        |  CAST(aa.aa_micro AS DOUBLE) / 1000000 AS aa
        |FROM aa
        |WHERE NOT EXISTS (SELECT 1 FROM edges e
        |                  WHERE e.u = aa.u AND e.v = aa.v)
        |ORDER BY aa.aa_micro DESC, aa.u, aa.v
        |LIMIT 20""".stripMargin))

  /** q_graph_jaccard_neighbors — the fourth classic neighborhood
    * predictor, completing the family (CN / RA / AA / Jaccard):
    * J(u,v) = |N(u)∩N(v)| / |N(u)∪N(v)| = cn / (deg(u)+deg(v)−cn) —
    * the normalized form that ranks a pair by overlap RELATIVE to the
    * neighborhoods' size, so two 3-degree parts sharing 2 neighbors
    * outrank two hubs sharing 3. Exact arithmetic: the ratio is
    * RATIONAL, scored as 1e6·cn div (du+dv−cn) micro-units
    * (denominator ≥ max(du,dv) ≥ 1, never zero; all operands positive
    * so both engines truncate identically — the RA discipline, no
    * float op anywhere).
    *
    * Shape: the unweighted wedge aggregation (the persisted "cn"
    * oriented stage is SHARED with q_graph_common_neighbors — zero new
    * heavy stages), then two node-domain keyed degree joins on the
    * aggregated pair table (pairs ≪ wedges) and the same anti join +
    * top-20 projection. */
  val qGraphJaccardNeighbors: Q = Q(
    "q_graph_jaccard_neighbors",
    (s, dir) => {
      import s.implicits._
      val deg = coDegrees(s, dir)
      val cn = linkPredict(s, dir, "cn")(
        d => d.select($"ctr", lit(1L).as("w")))
      cn.join(deg.select($"n".as("u"), $"deg".as("du")), "u")
        .join(deg.select($"n".as("v"), $"deg".as("dv")), "v")
        .select($"u", $"v",
          expr("1000000 * score div (du + dv - score)").as("j_micro"),
          $"score".as("cn"))
        .orderBy($"j_micro".desc, $"u", $"v")
        .limit(20)
    },
    oracle = Some(
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |edges AS (SELECT u, v FROM pairs GROUP BY u, v HAVING COUNT(*) >= 2),
        |nb AS (SELECT u AS ctr, v AS n FROM edges
        |       UNION ALL SELECT v AS ctr, u AS n FROM edges),
        |deg AS (SELECT ctr AS n, COUNT(*) AS deg FROM nb GROUP BY ctr),
        |cn AS (
        |  SELECT x.n AS u, y.n AS v, COUNT(*) AS cn
        |  FROM nb x JOIN nb y ON x.ctr = y.ctr AND x.n < y.n
        |  GROUP BY x.n, y.n),
        |scored AS (
        |  SELECT cn.u, cn.v,
        |    CAST(1000000 * cn.cn AS BIGINT) // (du.deg + dv.deg - cn.cn)
        |      AS j_micro,
        |    cn.cn AS cn
        |  FROM cn JOIN deg du ON du.n = cn.u JOIN deg dv ON dv.n = cn.v)
        |SELECT u, v, j_micro, cn FROM scored
        |WHERE NOT EXISTS (SELECT 1 FROM edges e
        |                  WHERE e.u = scored.u AND e.v = scored.v)
        |ORDER BY j_micro DESC, u, v
        |LIMIT 20""".stripMargin))

  /** Symmetric neighbor table (ctr, n) of the canonical (u < v) edge
    * set — each undirected edge as two directed rows, the shape BFS and
    * k-core peel both consume. */
  private def nbOf(s: SparkSession, edges: DataFrame): DataFrame = {
    import s.implicits._
    edges.select($"u".as("ctr"), $"v".as("n"))
      .unionAll(edges.select($"v".as("ctr"), $"u".as("n")))
  }

  /** ONE BFS expansion: the unseen distinct neighbors of the frontier.
    * Shared verbatim by the unrolled oracle row and [[bfsConverged]] so
    * GraphSpec can pin the production loop equal to the unrolled form
    * level-for-level. Both joins are keyed (node-grained): expand on the
    * frontier key, then anti-join the seen set. */
  private def bfsStep(
      s: SparkSession, nb: DataFrame, seen: DataFrame,
      frontier: DataFrame): DataFrame = {
    import s.implicits._
    frontier.select($"node".as("ctr")).join(nb, "ctr")
      .select($"n".as("node")).distinct()
      .join(seen, Seq("node"), "left_anti")
  }

  /** q_graph_bfs — multi-hop breadth-first search over the
    * frequent-co-purchase graph ([[coEdges]], shared persisted stage):
    * hop distance from a deterministic seed (the minimum part id in the
    * edge set — the global min node always appears on the u side of the
    * canonical u < v representation, so `min(u)` IS the min node). BFS
    * is the reachability primitive under the "related products within k
    * recommendation hops" query, and — in the LLM-data north star — the
    * crawl-frontier expansion that seeds corpus collection from a
    * trusted domain set.
    *
    * Shape (the 100 TB part): per level ONE keyed join (frontier ⋈
    * neighbor table on the center key) + one distinct + one keyed anti
    * join against the seen set — no driver state beyond the loop
    * counter, no per-node collect. Level-synchronous BFS is exactly
    * Pregel's shape; frontier skew on a hub expands through the
    * sort-merge join AQE splits, same argument as the in-in wedge class
    * on [[orientedWedges]]. The oracle row runs a fixed 3 hops
    * (bit-pinnable as unrolled SQL); [[bfsConverged]] is the
    * until-frontier-empty production form, pinned hop-for-hop equal by
    * GraphSpec. */
  val qGraphBfs: Q = Q(
    "q_graph_bfs",
    (s, dir) => {
      import s.implicits._
      val edges = coEdges(s, dir)
      val nb = nbOf(s, edges)
      val seed = edges.agg(min($"u").as("node"))
        .select($"node", lit(0L).as("dist"))
      // localCheckpoint per level truncates the lineage — an unrolled
      // chain re-embeds each level's plan in every later level's seen
      // set AND frontier (~4× per level ⇒ 64× the base stage by level
      // 3; measured 5.2 s vs 0.6 s at sf0.1). Same device as the
      // converged loops; the checkpoint changes no value.
      var seen: DataFrame = seed.localCheckpoint(true)
      var frontier: DataFrame = seed.select($"node")
      for (k <- 1 to 3) {
        val next = bfsStep(s, nb, seen, frontier).localCheckpoint(true)
        seen = seen.unionAll(next.select($"node", lit(k.toLong).as("dist")))
          .localCheckpoint(true)
        frontier = next
      }
      seen.orderBy($"dist", $"node")
    },
    oracle = Some(
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |edges AS (SELECT u, v FROM pairs GROUP BY u, v HAVING COUNT(*) >= 2),
        |nb AS (SELECT u AS ctr, v AS n FROM edges
        |       UNION ALL SELECT v AS ctr, u AS n FROM edges),
        |d0 AS (SELECT min(u) AS node, CAST(0 AS BIGINT) AS dist FROM edges),
        |n1 AS (
        |  SELECT f.node, CAST(1 AS BIGINT) AS dist FROM (
        |    SELECT DISTINCT nb.n AS node FROM nb JOIN d0 ON nb.ctr = d0.node) f
        |  WHERE f.node NOT IN (SELECT node FROM d0)),
        |n2 AS (
        |  SELECT f.node, CAST(2 AS BIGINT) AS dist FROM (
        |    SELECT DISTINCT nb.n AS node FROM nb JOIN n1 ON nb.ctr = n1.node) f
        |  WHERE f.node NOT IN (SELECT node FROM d0 UNION ALL SELECT node FROM n1)),
        |n3 AS (
        |  SELECT f.node, CAST(3 AS BIGINT) AS dist FROM (
        |    SELECT DISTINCT nb.n AS node FROM nb JOIN n2 ON nb.ctr = n2.node) f
        |  WHERE f.node NOT IN (SELECT node FROM d0 UNION ALL SELECT node FROM n1
        |                       UNION ALL SELECT node FROM n2))
        |SELECT node, dist FROM (
        |  SELECT * FROM d0 UNION ALL SELECT * FROM n1
        |  UNION ALL SELECT * FROM n2 UNION ALL SELECT * FROM n3)
        |ORDER BY dist, node""".stripMargin))

  /** PRODUCTION BFS: expand [[bfsStep]] until the frontier empties or
    * `maxHops` caps the run — the until-converged form the fixed-3
    * oracle row documents, with the pagerankConverged discipline: one
    * O(1) scalar action per level (frontier count), `localCheckpoint`
    * truncating per-level lineage (reliable `checkpoint` on a real
    * cluster), graph inputs persisted across levels and released in
    * `finally`. Returns (node, dist) for the seed's entire connected
    * component and the number of levels run. */
  private[graft] def bfsConverged(
      s: SparkSession, dir: String, maxHops: Int = 50): (DataFrame, Int) = {
    import s.implicits._
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edges = coEdges(s, dir)
    val nb = nbOf(s, edges).persist(lvl)
    try {
      val seed = edges.agg(min($"u").as("node"))
        .select($"node", lit(0L).as("dist"))
      var seen = seed.localCheckpoint(true)
      var frontier = seed.select($"node").localCheckpoint(true)
      var hops = 0
      var frontierSize = frontier.count()
      while (frontierSize > 0 && hops < maxHops) {
        hops += 1
        val next = bfsStep(s, nb, seen, frontier).localCheckpoint(true)
        seen = seen
          .unionAll(next.select($"node", lit(hops.toLong).as("dist")))
          .localCheckpoint(true)
        frontier = next
        frontierSize = frontier.count()
      }
      (seen, hops)
    } finally { nb.unpersist() }
  }

  /** ONE k-core peel round: drop every node whose degree in the current
    * subgraph is below k, and every edge touching a dropped node.
    * Shared verbatim by the unrolled oracle row and [[kcoreConverged]].
    * Cost shape: one partial-agg degree shuffle + two node-keyed semi
    * joins per round — nothing touches the driver. */
  private def kcorePeel(
      s: SparkSession, e: DataFrame, k: Int): DataFrame = {
    import s.implicits._
    val keep = nbOf(s, e).groupBy($"ctr").agg(count(lit(1)).as("deg"))
      .where($"deg" >= k).select($"ctr")
    e.join(keep.select($"ctr".as("u")), Seq("u"), "left_semi")
      .join(keep.select($"ctr".as("v")), Seq("v"), "left_semi")
      .select($"u", $"v")
  }

  /** q_graph_kcore — k-core decomposition (k = 2) of the
    * frequent-co-purchase graph by iterated peeling: repeatedly remove
    * nodes with degree < k until the remainder is the maximal subgraph
    * where every node keeps ≥ k neighbors. The 2-core strips pendant
    * chains, leaving the cyclic backbone — the graph-cleaning step
    * before community detection, and the "dense co-purchase cluster"
    * filter in recommendation mining. (Degree-1 spokes are most of any
    * birthday-bounded co-occurrence graph, so the peel is where the
    * volume drops.)
    *
    * The oracle row runs a FIXED 3 peel rounds and emits the surviving
    * nodes with their degree in the 3-times-peeled subgraph — the
    * observable loop state, bit-pinnable as nested SQL. The
    * until-fixpoint production form is [[kcoreConverged]]; GraphSpec
    * pins it equal to the unrolled form when capped at 3 rounds and
    * pins the converged result's fixpoint property (min degree ≥ k and
    * one further peel removes nothing). */
  val qGraphKcore: Q = Q(
    "q_graph_kcore",
    (s, dir) => {
      import s.implicits._
      // localCheckpoint per peel: each round references the previous
      // edge set FOUR times (degree union ×2 + two semi joins), so an
      // unrolled chain re-derives round 1 4³ = 64 times by round 3 —
      // measured 29 s vs 1 s at sf0.1. Values unchanged.
      // AQE off for the peel loop (r16), on a graft.Scope clone: each
      // peel is a pre-sized bounded job; the per-stage re-optimization
      // gaps measured 3.04 → 1.79 s on idle 32 cores. Values unchanged.
      val scoped = graft.Scope(s, graft.Scope.aqeOff)
      var e = graft.Scope.bind(coEdges(s, dir), scoped)
      for (_ <- 1 to 3) e = kcorePeel(scoped, e, 2).localCheckpoint(true)
      nbOf(s, graft.Scope.bind(e, s))
        .groupBy($"ctr").agg(count(lit(1)).as("deg"))
        .select($"ctr".as("node"), $"deg")
        .orderBy($"node")
    },
    oracle = Some {
      def peel(k: Int): String = {
        val prev = s"e${k - 1}"
        s"""k$k AS (
           |  SELECT n FROM (
           |    SELECT u AS n FROM $prev UNION ALL SELECT v AS n FROM $prev) x
           |  GROUP BY n HAVING COUNT(*) >= 2),
           |e$k AS (
           |  SELECT u, v FROM $prev
           |  WHERE u IN (SELECT n FROM k$k) AND v IN (SELECT n FROM k$k))"""
          .stripMargin
      }
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |pairs AS (
         |  SELECT a.l_partkey AS u, b.l_partkey AS v
         |  FROM li a JOIN li b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         |e0 AS (SELECT u, v FROM pairs GROUP BY u, v HAVING COUNT(*) >= 2),
         |${peel(1)},
         |${peel(2)},
         |${peel(3)}
         |SELECT n AS node, COUNT(*) AS deg FROM (
         |  SELECT u AS n FROM e3 UNION ALL SELECT v AS n FROM e3) x
         |GROUP BY n
         |ORDER BY node""".stripMargin
    })

  /** PRODUCTION k-core: iterate [[kcorePeel]] until the edge count
    * stops shrinking (the fixpoint — peeling is monotone decreasing, so
    * a stable count IS convergence) or `maxRounds` caps the run. Same
    * loop discipline as [[pagerankConverged]]: one O(1) scalar per
    * round, per-round `localCheckpoint`, no per-node driver state.
    * Returns the core's edge set and the rounds run (the last round is
    * the no-op fixpoint check). */
  private[graft] def kcoreConverged(
      s: SparkSession, dir: String, k: Int = 2, maxRounds: Int = 50)
      : (DataFrame, Int) = {
    var e = coEdges(s, dir).localCheckpoint(true)
    var n = e.count()
    var rounds = 0
    var shrunk = true
    while (shrunk && rounds < maxRounds) {
      rounds += 1
      val next = kcorePeel(s, e, k).localCheckpoint(true)
      val m = next.count()
      shrunk = m < n
      e = next
      n = m
    }
    (e, rounds)
  }

  /** q_graph_degree_hist — the degree distribution of the
    * frequent-co-purchase graph: (degree → node count), plus each
    * degree's share of nodes in exact ppm. THE first diagnostic run on
    * any production graph — it is what tells you whether the wedge
    * enumeration needs orientation (heavy tail) and what k-core peeling
    * will strip (the degree-1 mass), i.e. the input to this family's
    * own strategy choices. Exact integer arithmetic throughout.
    *
    * Scale: degrees are one partial-agg shuffle over the edge list;
    * the histogram aggregates the node-domain degree table down to the
    * degree domain (bounded by max degree); the 1-row total broadcasts. */
  val qGraphDegreeHist: Q = Q(
    "q_graph_degree_hist",
    (s, dir) => {
      import s.implicits._
      val deg = coDegrees(s, dir)
      val hist = deg.groupBy($"deg").agg(count(lit(1)).as("n_nodes"))
      val tot = hist.agg(sum($"n_nodes").cast(org.apache.spark.sql.types.LongType).as("n_total"))
      hist.crossJoin(broadcast(tot))
        .select($"deg", $"n_nodes",
          expr("n_nodes * 1000000 div n_total").as("share_ppm"))
        .orderBy($"deg")
    },
    oracle = Some(
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |edges AS (SELECT u, v FROM pairs GROUP BY u, v HAVING COUNT(*) >= 2),
        |deg AS (
        |  SELECT n, COUNT(*) AS deg FROM (
        |    SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges) x
        |  GROUP BY n),
        |hist AS (SELECT deg, COUNT(*) AS n_nodes FROM deg GROUP BY deg),
        |tot AS (SELECT CAST(SUM(n_nodes) AS BIGINT) AS n_total FROM hist)
        |SELECT deg, n_nodes, n_nodes * 1000000 // n_total AS share_ppm
        |FROM hist, tot
        |ORDER BY deg""".stripMargin))

  /** q_graph_clustering_coeff — LOCAL CLUSTERING COEFFICIENT per node,
    * cc(n) = 2·tri(n)/(deg(n)·(deg(n)−1)): how close each part's
    * co-purchase neighborhood is to a clique — the node-level
    * community-density signal whose global sum [[qGraphTriangles]]
    * already reports. Needs triangles PER CORNER, so the oriented
    * wedge closure keeps its (src, u, v) triple (an inner-join count
    * would lose the corners) and explodes each triangle to its three
    * nodes — 3 rows per triangle, then one node-keyed partial agg.
    * Same Schank–Wagner degree-ordered orientation as the triangle
    * count (out-degree ≤ √(2m), hub-proof); cc in exact integer ppm,
    * 2·tri·10⁶ div deg(deg−1). The twin enumerates triangles naively
    * from the canonical u<v edges (a<b<c, each triangle once) — the
    * hash match proves the oriented corner accounting exact. */
  val qGraphClusteringCoeff: Q = Q(
    "q_graph_clustering_coeff",
    (s, dir) => {
      import s.implicits._
      val edges = coEdges(s, dir)
      val deg = coDegrees(s, dir)
      val oriented = orientedEdges(s, dir)
      val wedges = oriented.as("x")
        .join(oriented.as("y"),
          $"x.src" === $"y.src" && $"x.dst" < $"y.dst")
        .select($"x.src".as("a"), $"x.dst".as("u"), $"y.dst".as("v"))
      val tris = wedges.join(edges, Seq("u", "v"), "left_semi")
      val triCnt = tris
        .select(explode(array($"a", $"u", $"v")).as("n"))
        .groupBy($"n").agg(count(lit(1)).as("tri"))
      deg.join(triCnt, Seq("n"), "left")
        .where($"deg" >= 2)
        .select($"n", $"deg", coalesce($"tri", lit(0L)).as("tri"))
        .withColumn("cc_ppm", expr("tri * 2000000 div (deg * (deg - 1))"))
        .orderBy($"n")
    },
    oracle = Some(
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |edges AS (SELECT u, v FROM pairs GROUP BY u, v HAVING COUNT(*) >= 2),
        |deg AS (
        |  SELECT n, COUNT(*) AS deg FROM (
        |    SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges) x
        |  GROUP BY n),
        |tris AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM edges e1
        |    JOIN edges e2 ON e2.u = e1.v
        |    JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
        |corners AS (
        |  SELECT a AS n FROM tris UNION ALL SELECT b FROM tris
        |  UNION ALL SELECT c FROM tris),
        |tcnt AS (SELECT n, COUNT(*) AS tri FROM corners GROUP BY n)
        |SELECT d.n, d.deg, COALESCE(t.tri, 0) AS tri,
        |  COALESCE(t.tri, 0) * 2000000 // (d.deg * (d.deg - 1)) AS cc_ppm
        |FROM deg d LEFT JOIN tcnt t ON d.n = t.n
        |WHERE d.deg >= 2
        |ORDER BY d.n""".stripMargin))

  /** q_graph_assortativity — DEGREE ASSORTATIVITY (Newman 2002): the
    * Pearson correlation of endpoint degrees over the symmetrized edge
    * list — do high-degree parts co-purchase with other hubs (r > 0)
    * or with the periphery (r < 0)? With [[qGraphDegreeHist]] this is
    * the second standard whole-graph diagnostic, and it decides
    * whether hub-salting is even needed: a disassortative graph
    * concentrates wedge volume on hub-leaf pairs, exactly what the
    * oriented enumeration neutralizes.
    *
    * Determinism: degrees are COUNTS, so every Pearson ingredient
    * (n, Σ, Σ², Σxy over edge ends) is exact integer; r is one
    * textually identical double expression (the q_ts_cross_corr
    * discipline). Scale: two node-keyed joins attach degrees to
    * edges, then one 1-row agg — no wedge expansion anywhere. */
  val qGraphAssortativity: Q = Q(
    "q_graph_assortativity",
    (s, dir) => {
      import s.implicits._
      val edges = coEdges(s, dir)
      val deg = coDegrees(s, dir)
      val sym = edges.unionAll(edges.select($"v".as("u"), $"u".as("v")))
      val m = sym
        .join(deg.select($"n".as("u"), $"deg".as("du")), "u")
        .join(deg.select($"n".as("v"), $"deg".as("dv")), "v")
        .agg(count(lit(1)).as("n"),
          sum($"du").as("sx"), sum($"dv").as("sy"),
          sum($"du" * $"dv").as("sxy"),
          sum($"du" * $"du").as("sxx"), sum($"dv" * $"dv").as("syy"))
      m.select($"n".as("n_edge_ends"),
          graft.Dsl.pearsonR($"n", $"sx", $"sy", $"sxy", $"sxx", $"syy")
            .as("assortativity"))
        .orderBy($"n_edge_ends")
    },
    oracle = Some(
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |edges AS (SELECT u, v FROM pairs GROUP BY u, v HAVING COUNT(*) >= 2),
        |deg AS (
        |  SELECT n, COUNT(*) AS deg FROM (
        |    SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges) x
        |  GROUP BY n),
        |sym AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
        |m AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(a.deg) AS BIGINT) AS sx, CAST(SUM(b.deg) AS BIGINT) AS sy,
        |    CAST(SUM(a.deg * b.deg) AS BIGINT) AS sxy,
        |    CAST(SUM(a.deg * a.deg) AS BIGINT) AS sxx,
        |    CAST(SUM(b.deg * b.deg) AS BIGINT) AS syy
        |  FROM sym JOIN deg a ON sym.u = a.n JOIN deg b ON sym.v = b.n)
        |SELECT n AS n_edge_ends,
        |  ${graft.Dsl.pearsonRSql("n", "sx", "sy", "sxy", "sxx", "syy")}
        |    AS assortativity
        |FROM m
        |ORDER BY n_edge_ends""".stripMargin))

  /** q_graph_hits — HITS hubs & authorities (Kleinberg 1999) on the
    * customer→supplier purchase graph, the link-analysis complement of
    * [[qGraphPagerank]]: PageRank scores GLOBAL standing in a uniform
    * random walk; HITS separates the two roles a bipartite commerce
    * graph actually has — customers that buy broadly (hubs) confer
    * authority on the suppliers they share. Two UNNORMALIZED power
    * steps: auth¹ = in-degree, hub¹(c) = Σ auth¹ over c's suppliers,
    * auth²(s) = Σ hub¹ over s's customers. HITS rankings are invariant
    * to per-iteration scaling, so skipping the normalization keeps
    * every score an EXACT integer — no fixed-point quantization needed
    * at all (tighter than PageRank's ppm device). Top-10 authorities
    * by (auth², node).
    *
    * Scale: two keyed aggregate-join rounds over the edge list — the
    * PageRank round shape minus the dangling/teleport machinery;
    * overflow headroom auth² ≤ max_deg²·n documented by the degree
    * profile (q_graph_degree_hist). Top-10 is a bounded heap. */
  private val hitsEdgeCache = new graft.Memo[(SparkSession, String), DataFrame]

  val qGraphHits: Q = Q(
    "q_graph_hits",
    (s, dir) => {
      import s.implicits._
      // The edge stage persists: auth¹, hub¹'s join, and auth²'s join
      // all read it — un-persisted, each reference re-derived the
      // orders⋈lineitem DISTINCT (the dominant cost; measured 3.5 s →
      // sub-second at sf0.1). Both score tables are NODE-domain-bounded
      // (suppliers resp. customers), so each power step is a broadcast
      // join into the persisted edges — the static planner sees no
      // stats on aggregate outputs and would SMJ-shuffle otherwise.
      val e = hitsEdgeCache((s, dir)) {
        edges(s, dir)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
      val auth1 = broadcast(e.groupBy($"dst").agg(count(lit(1)).as("auth1")))
      val hub1 = broadcast(e.join(auth1, "dst")
        .groupBy($"src").agg(sum($"auth1").as("hub1")))
      e.join(hub1, "src")
        .groupBy($"dst").agg(sum($"hub1").as("auth2"))
        .join(auth1, "dst")
        .select($"dst".as("node"), $"auth1", $"auth2")
        .orderBy($"auth2".desc, $"node")
        .limit(10)
    },
    oracle = Some(
      """WITH e AS (
        |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |auth1 AS (
        |  SELECT dst, CAST(COUNT(*) AS BIGINT) AS auth1 FROM e GROUP BY dst),
        |hub1 AS (
        |  SELECT src, CAST(SUM(auth1) AS BIGINT) AS hub1
        |  FROM e JOIN auth1 USING (dst) GROUP BY src),
        |auth2 AS (
        |  SELECT dst, CAST(SUM(hub1) AS BIGINT) AS auth2
        |  FROM e JOIN hub1 USING (src) GROUP BY dst)
        |SELECT dst AS node, auth1, auth2
        |FROM auth2 JOIN auth1 USING (dst)
        |ORDER BY auth2 DESC, node
        |LIMIT 10""".stripMargin))

  /** q_graph_modularity (added r11) — NEWMAN MODULARITY of the brand
    * partition over the frequent-co-purchase graph: Q = Σ_c [e_c/m −
    * (d_c/2m)²], the standard "is this partition better than random"
    * statistic — here answering whether co-purchase community structure
    * follows brand (it barely does: Q ≈ +0.002 at sf0.01, the honest
    * near-random reading; per-community contributions split signs).
    * This is the EVALUATION half of community detection — detection
    * itself (Louvain/label-prop) optimizes exactly this objective, and
    * any partition column (components, k-core shells, an external
    * clustering) slots into the same query.
    *
    * Exactness: per-community contribution numerators are exact longs
    * (contrib_num = 4·m·e_c − d_c², denominator 4m² left implicit), so
    * NO division happens until the one global q_ppm — and that one is
    * made truncation-safe by the offset device ((N + 4m²)·10⁶ div 4m²
    * − 10⁶): N ≥ −4m² always (Q ≥ −1), so both operands stay
    * non-negative and Spark's truncating div equals DuckDB's floor.
    * Long headroom: the q_ppm numerator is (nsum + 4m²)·10⁶ and nsum
    * can approach +4m² (Q → +1), so the binding bound is ~8m²·10⁶ <
    * 2⁶³, i.e. m < ~1.0e6 edges; past that, promote the q_ppm
    * expression to DECIMAL(38,0) (the q_text_collocations note).
    * Precondition m ≥ 1: on a graph with NO support-≥2 edges the q_ppm
    * division is 0/0 — Spark yields NULL where DuckDB raises, so BOTH
    * sides carry a `m > 0` guard (below / the qq CTE): a degenerate
    * corpus converges on an empty result in both engines instead of
    * silently diverging (r11 advice).
    *
    * Scale: reuses the persisted [[coEdges]]/[[coDegrees]] stages; adds
    * two broadcast brand joins (part is a dimension), one community-
    * keyed partial agg each for e_c and d_c (both bounded by |brands|),
    * and 1-row broadcast scalars. Nothing node- or edge-domain reaches
    * the driver. */
  /** Modularity's COMMUNITY AGGREGATION stage, factored (r12): given
    * community-tagged edges (cu, cv) and community-tagged degree rows
    * (community, deg), the per-community table (community, n_nodes,
    * e_in, deg_sum, contrib_num, m). Both aggregations are one keyed
    * partial agg each whose OUTPUT is bounded by |communities| —
    * GraphScaleSpec measures that curve on synthetic graphs (flat at
    * fixed C, with the C = n linear control), so the bounded-output
    * claim is a measured exponent, not prose. */
  private[graft] def modularityPer(e: DataFrame, degs: DataFrame)
      : DataFrame = {
    val m = broadcast(e.agg(count(lit(1)).as("m")))
    val eIn = e.where(col("cu") === col("cv"))
      .groupBy(col("cu").as("community")).agg(count(lit(1)).as("e_in"))
    degs.groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("deg_sum"))
      .join(eIn, Seq("community"), "left")
      .crossJoin(m)
      .select(col("community"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("deg_sum"),
        (lit(4L) * col("m") * coalesce(col("e_in"), lit(0L))
          - col("deg_sum") * col("deg_sum")).as("contrib_num"),
        col("m"))
  }

  val qGraphModularity: Q = Q(
    "q_graph_modularity",
    (s, dir) => {
      import s.implicits._
      val brand = broadcast(Tables.part(s, dir)
        .select($"p_partkey", $"p_brand"))
      val e = coEdges(s, dir)
        .join(brand.select($"p_partkey".as("u"), $"p_brand".as("cu")), "u")
        .join(brand.select($"p_partkey".as("v"), $"p_brand".as("cv")), "v")
      val degs = coDegrees(s, dir)
        .join(brand.select($"p_partkey".as("n"), $"p_brand".as("community")),
          "n")
      val per = modularityPer(e, degs)
      val q = broadcast(per
        .agg(sum($"contrib_num").as("nsum"), max($"m").as("m"))
        .where($"m" > 0)
        .select(expr(
          "(nsum + 4 * m * m) * 1000000 div (4 * m * m) - 1000000")
          .as("q_ppm")))
      per.crossJoin(q)
        .select($"community", $"n_nodes", $"e_in", $"deg_sum",
          $"contrib_num", $"q_ppm")
        .orderBy($"community")
    },
    oracle = Some(
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |edges AS (SELECT u, v FROM pairs GROUP BY u, v HAVING COUNT(*) >= 2),
        |be AS (SELECT e.u, e.v, pu.p_brand AS cu, pv.p_brand AS cv
        |       FROM edges e JOIN part pu ON e.u = pu.p_partkey
        |                    JOIN part pv ON e.v = pv.p_partkey),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM be),
        |ein AS (SELECT cu AS community, CAST(COUNT(*) AS BIGINT) AS e_in
        |        FROM be WHERE cu = cv GROUP BY cu),
        |deg AS (
        |  SELECT n, COUNT(*) AS deg FROM (
        |    SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges) x
        |  GROUP BY n),
        |dc AS (SELECT p.p_brand AS community, COUNT(*) AS n_nodes,
        |         CAST(SUM(deg) AS BIGINT) AS deg_sum
        |       FROM deg JOIN part p ON deg.n = p.p_partkey GROUP BY 1),
        |per AS (SELECT dc.community, dc.n_nodes,
        |          CAST(COALESCE(ein.e_in, 0) AS BIGINT) AS e_in,
        |          dc.deg_sum,
        |          CAST(4 * m.m * COALESCE(ein.e_in, 0)
        |            - dc.deg_sum * dc.deg_sum AS BIGINT) AS contrib_num
        |        FROM dc LEFT JOIN ein USING (community), m),
        |qq AS (SELECT CAST((SUM(contrib_num) + 4 * m.m * m.m) * 1000000
        |         // (4 * m.m * m.m) - 1000000 AS BIGINT) AS q_ppm
        |       FROM per, m WHERE m.m > 0 GROUP BY m.m)
        |SELECT community, n_nodes, e_in, deg_sum, contrib_num, q_ppm
        |FROM per, qq
        |ORDER BY community""".stripMargin))

  val all: Vector[Q] =
    Vector(qGraphPagerank, qGraphTriangles, qGraphCommonNeighbors,
      qGraphResourceAlloc, qGraphAdamicAdar, qGraphJaccardNeighbors,
      qGraphBfs, qGraphKcore, qGraphDegreeHist, qGraphClusteringCoeff,
      qGraphAssortativity, qGraphHits, qGraphModularity)
}
