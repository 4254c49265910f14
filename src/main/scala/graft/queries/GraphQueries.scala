package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.operators.Graph
import graft.queries.ParityQueries.Q

/** Graph-analytics queries over the part co-occurrence graph (parts
  * appearing in the same order — the lineitem self-join on l_orderkey):
  * [[graft.operators.Graph]] fixed-point integer PageRank and connected
  * components. The graph is degree-varied (42–206 out-edges per part at
  * sf0.01) and its ≥2-co-occurrence subgraph splits into real components,
  * so both operators do non-trivial work; the oracle rebuilds the same
  * edges and replays the integer iterations (unrolled CTEs for the fixed
  * PageRank rounds, a recursive reachability closure for components).
  */
object GraphQueries {

  val PrIters = 5

  /** The part co-occurrence graph at `minCount` —
    * [[Graph.coOccurrenceEdges]] over (order, part) memberships,
    * symmetric by construction. */
  private def coEdges(spark: SparkSession, dir: String,
      minCount: Long): DataFrame =
    Graph.coOccurrenceEdges(
      Tables(spark, dir).lineitem.select("l_orderkey", "l_partkey"),
      "l_orderkey", "l_partkey", minCount)
      .select("src", "dst")

  /** GR1 — PageRank over the simple (distinct-pair) co-occurrence graph:
    * 5 integer power iterations, full (node, rank) relation. */
  val q135PageRank: Q = (spark, dir) =>
    Graph.pageRankFixed(coEdges(spark, dir, minCount = 1L), PrIters)
      .orderBy("node")

  /** GR2 — connected components of the ≥2-co-occurrence subgraph (parts
    * co-ordered at least twice): 8 components + a giant one at sf0.01,
    * cluster_id = component-minimum part key. */
  val q136GraphComponents: Q = (spark, dir) =>
    Graph.components(coEdges(spark, dir, minCount = 2L))
      .orderBy("node")

  /** GR3 — per-node triangle counts on the same ≥2 subgraph (96
    * triangles over 288 corner rows at sf0.01): the oriented
    * wedge-closing scheme, orientation-invariant counts replayed by the
    * oracle with plain id-orientation. */
  val q138Triangles: Q = (spark, dir) =>
    Graph.triangleCounts(coEdges(spark, dir, minCount = 2L))
      .orderBy("node")

  val BfsHops = 3

  /** GR4 — bounded-hop BFS from every 50th part of the ≥2 subgraph:
    * minimal hop counts within 3 directed hops, unreachable absent. The
    * oracle unrolls the 3 frontier rounds as chained CTEs. */
  val q140BfsHops: Q = (spark, dir) => {
    // one derivation of the co-occurrence graph serves both the source
    // selection and the hop loop (bfsHops' materialized-guard sees the
    // checkpointed blocks and does not re-checkpoint)
    val g = coEdges(spark, dir, minCount = 2L).localCheckpoint(true)
    Graph.bfsHops(g, Graph.nodesOf(g).filter(col("node") % 50 === 0), BfsHops)
      .orderBy("node")
  }

  /** GR5 — item-item Jaccard similarity edges
    * ([[Graph.coJaccardEdges]]): part pairs sharing ≥2 distinct orders
    * with the integer Jaccard of their order SETS — the collaborative-
    * filtering relation, canonical src < dst. */
  val q142CoJaccard: Q = (spark, dir) =>
    Graph.coJaccardEdges(
        Tables(spark, dir).lineitem.select("l_orderkey", "l_partkey"),
        "l_orderkey", "l_partkey", minShared = 2L)
      .orderBy("src", "dst")

  /** GR6 — WEIGHTED PageRank over the ≥2 subgraph with the
    * co-occurrence count as edge weight: rank flows proportional to
    * co-order strength. 5 integer rounds, oracle-unrolled. */
  val q143WeightedPageRank: Q = (spark, dir) =>
    Graph.pageRankWeightedFixed(
        Graph.coOccurrenceEdges(
          Tables(spark, dir).lineitem.select("l_orderkey", "l_partkey"),
          "l_orderkey", "l_partkey", minCount = 2L),
        PrIters)
      .orderBy("node")

  val CoCap = 5L

  /** GR7 — CAPPED co-occurrence edges: groups above `maxGroupItems` = 5
    * member rows are dropped WHOLE before the self-join (6- and 7-item
    * orders exist at every SF, so the cap binds and the oracle proves
    * the drop semantics, not just the happy path). This is the
    * 100×-safe default shape — [[Graph.autoGroupCap]] derives the cap
    * from the group-size histogram when no domain bound exists. */
  val q149CooccurCapped: Q = (spark, dir) =>
    Graph.coOccurrenceEdges(
        Tables(spark, dir).lineitem.select("l_orderkey", "l_partkey"),
        "l_orderkey", "l_partkey", minCount = 2L, maxGroupItems = CoCap)
      .orderBy("src", "dst")

  /** GR8 — PERSONALIZED PageRank from every 50th part
    * ([[Graph.pageRankPersonalized]]): the restart mass lands on the
    * seed set only, so rank measures proximity to the seeds (the
    * related-items primitive). 5 integer rounds over the simple
    * co-occurrence graph, oracle-unrolled with the seed-only floor;
    * nodes unreachable from any seed verify at exactly 0. */
  val q175PprSeeded: Q = (spark, dir) => {
    // one edge materialization shared by seed selection and the rank
    // loop (the operator still repartitions it on src itself)
    val g = coEdges(spark, dir, minCount = 1L)
      .repartition(col("src")).localCheckpoint(true)
    Graph.pageRankPersonalized(g,
        Graph.nodesOf(g).filter(col("node") % 50 === 0), PrIters)
      .orderBy("node")
  }

  val KCoreK = 3
  val KCoreRounds = 20

  /** GR9 — 3-CORE of the ≥2 co-occurrence subgraph ([[Graph.kCore]]):
    * iterative peeling to the FIXPOINT (8 rounds at sf0.01, 1055 of
    * 1892 nodes survive — the peel does real work), surviving nodes
    * with their in-core degree. The oracle unrolls [[KCoreRounds]]
    * removal rounds — the engine THROWS past the same bound rather
    * than silently returning a superset, so the two can never drift. */
  val q178KCore: Q = (spark, dir) =>
    Graph.kCore(coEdges(spark, dir, minCount = 2L), KCoreK,
        maxIter = KCoreRounds)
      .orderBy("node")

  val LpaRounds = 4

  /** GR10 — label-propagation communities on the ≥2 co-occurrence
    * subgraph ([[Graph.labelPropagation]]): 4 synchronous rounds of
    * adopt-the-modal-neighbor-label with min-label tie-break — the
    * cheap community detector beside connectivity (GR2) and density
    * (GR9). Deterministic pick, so the oracle unrolls the SAME 4
    * rounds (group → window mode → re-join) and every label matches
    * value-exactly. */
  val q182LabelProp: Q = (spark, dir) =>
    Graph.labelPropagation(coEdges(spark, dir, minCount = 2L), LpaRounds)
      .orderBy("node")

  val LiftMinShared = 3L

  /** GR11 — market-basket LIFT pairs ([[Graph.liftPairs]]): part pairs
    * co-ordered in ≥3 distinct orders with the micro-scaled lift of
    * their co-membership against the independence baseline — the
    * association-rule relation beside GR5's Jaccard (lift corrects
    * Jaccard's popularity bias by the expected-co-occurrence
    * denominator). Integer end to end under the ENFORCED overflow
    * envelope; the oracle replays the arithmetic in HUGEINT. */
  val q189LiftPairs: Q = (spark, dir) =>
    Graph.liftPairs(
        Tables(spark, dir).lineitem.select("l_orderkey", "l_partkey"),
        "l_orderkey", "l_partkey", minShared = LiftMinShared)
      .orderBy("src", "dst")

  val all: Map[String, Q] = Map(
    "q182_label_prop" -> q182LabelProp,
    "q189_lift_pairs" -> q189LiftPairs,
    "q135_pagerank" -> q135PageRank,
    "q175_ppr_seeded" -> q175PprSeeded,
    "q178_kcore" -> q178KCore,
    "q149_cooccur_capped" -> q149CooccurCapped,
    "q143_weighted_pagerank" -> q143WeightedPageRank,
    "q136_graph_components" -> q136GraphComponents,
    "q138_triangles" -> q138Triangles,
    "q140_bfs_hops" -> q140BfsHops,
    "q142_cojaccard" -> q142CoJaccard)

  // ------------------------------------------------------------- oracle SQL

  private val coCte =
    """co AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey)""".stripMargin

  /** One unrolled WEIGHTED round over CTEs `we` (src, dst, w) / `wsum`:
    * rank_i+1(v) = 150000 + (85 · Σ (rank_i(u)·w) // wsum(u)) // 100. */
  private def wprRound(i: Int): String =
    s"""r$i AS (
       |  SELECT n.node,
       |    CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS rank
       |  FROM nodes n LEFT JOIN (
       |    SELECT e.dst AS node, SUM((r.rank * e.w) // ws.wsum) AS s
       |    FROM we e JOIN wsum ws USING (src)
       |    JOIN r${i - 1} r ON r.node = e.src
       |    GROUP BY e.dst) c ON n.node = c.node)""".stripMargin

  /** One unrolled k-core PEEL round over the symmetric edge CTE
    * `s${i-1}`: drop every edge touching a node of surviving degree
    * < k. Idempotent once converged, so unrolling past the fixpoint is
    * harmless. */
  private def kcoreRound(i: Int): String =
    s"""bad$i AS MATERIALIZED (
       |  SELECT src FROM (SELECT src, COUNT(*) AS c FROM s${i - 1} GROUP BY src)
       |  WHERE c < $KCoreK),
       |s$i AS MATERIALIZED (
       |  SELECT e.src, e.dst FROM s${i - 1} e
       |  WHERE e.src NOT IN (SELECT src FROM bad$i)
       |    AND e.dst NOT IN (SELECT src FROM bad$i))""".stripMargin

  /** One unrolled PERSONALIZED round: the [[prRound]] arithmetic with
    * the damped floor paid only to seed nodes (node % 50 = 0). */
  private def pprRound(i: Int): String =
    s"""p$i AS (
       |  SELECT n.node,
       |    CAST(CASE WHEN n.node % 50 = 0 THEN 150000 ELSE 0 END
       |      + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS rank
       |  FROM nodes n LEFT JOIN (
       |    SELECT e.dst AS node, SUM(r.rank // d.out_deg) AS s
       |    FROM co e JOIN deg d USING (src)
       |    JOIN p${i - 1} r ON r.node = e.src
       |    GROUP BY e.dst) c ON n.node = c.node)""".stripMargin

  /** One unrolled PageRank round: rank_i+1(v) = 150000 +
    * (85 · Σ_{u→v} rank_i(u) // out_deg(u)) // 100 — the exact integer
    * twin of [[Graph.pageRankFixed]]'s iteration. */
  private def prRound(i: Int): String =
    s"""r$i AS (
       |  SELECT n.node,
       |    CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS rank
       |  FROM nodes n LEFT JOIN (
       |    SELECT e.dst AS node, SUM(r.rank // d.out_deg) AS s
       |    FROM co e JOIN deg d USING (src)
       |    JOIN r${i - 1} r ON r.node = e.src
       |    GROUP BY e.dst) c ON n.node = c.node)""".stripMargin

  /** One unrolled LPA round over the symmetric edge CTE `sym`: each
    * node adopts the (count desc, label asc)-modal label among its
    * neighbors' round-(i−1) labels — the exact window-pick twin of
    * [[Graph.labelPropagation]]'s iteration. */
  private def lpaRound(i: Int): String =
    s"""l$i AS MATERIALIZED (
       |  SELECT node, label FROM (
       |    SELECT s.src AS node, l.label,
       |      row_number() OVER (PARTITION BY s.src
       |        ORDER BY COUNT(*) DESC, l.label ASC) AS rn
       |    FROM sym s JOIN l${i - 1} l ON l.node = s.dst
       |    GROUP BY s.src, l.label)
       |  WHERE rn = 1)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q189_lift_pairs" ->
      s"""WITH m AS (
         |  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem
         |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
         |n AS (SELECT COUNT(DISTINCT g) AS ng FROM m),
         |deg AS (SELECT i, COUNT(*) AS d FROM m GROUP BY i),
         |p AS (
         |  SELECT a.i AS src, b.i AS dst, COUNT(*) AS n_shared
         |  FROM m a JOIN m b ON a.g = b.g AND a.i < b.i
         |  GROUP BY 1, 2 HAVING COUNT(*) >= $LiftMinShared)
         |SELECT p.src, p.dst, p.n_shared,
         |  CAST((p.n_shared::HUGEINT * n.ng * 1000000) //
         |       (da.d::HUGEINT * db.d) AS BIGINT) AS lift_micro
         |FROM p CROSS JOIN n
         |JOIN deg da ON p.src = da.i
         |JOIN deg db ON p.dst = db.i
         |ORDER BY src, dst""".stripMargin,
    "q182_label_prop" ->
      s"""WITH cnt AS (
         |  SELECT a.l_partkey AS src, b.l_partkey AS dst, COUNT(*) AS n
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
         |  GROUP BY 1, 2),
         |e AS (SELECT src, dst FROM cnt WHERE n >= 2),
         |sym AS MATERIALIZED (
         |  SELECT src, dst FROM e WHERE src <> dst
         |  UNION SELECT dst, src FROM e WHERE src <> dst),
         |l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym),
         |${(1 to LpaRounds).map(lpaRound).mkString(",\n")}
         |SELECT node, label FROM l$LpaRounds ORDER BY node""".stripMargin,
    "q135_pagerank" ->
      s"""WITH $coCte,
         |deg AS (SELECT src, COUNT(*) AS out_deg FROM co GROUP BY src),
         |nodes AS (SELECT src AS node FROM co UNION SELECT dst FROM co),
         |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
         |${(1 to PrIters).map(prRound).mkString(",\n")}
         |SELECT node, rank FROM r$PrIters ORDER BY node""".stripMargin,
    "q175_ppr_seeded" ->
      s"""WITH $coCte,
         |deg AS (SELECT src, COUNT(*) AS out_deg FROM co GROUP BY src),
         |nodes AS (SELECT src AS node FROM co UNION SELECT dst FROM co),
         |p0 AS (SELECT node,
         |  CAST(CASE WHEN node % 50 = 0 THEN 1000000 ELSE 0 END AS BIGINT) AS rank
         |  FROM nodes),
         |${(1 to PrIters).map(pprRound).mkString(",\n")}
         |SELECT node, rank FROM p$PrIters ORDER BY node""".stripMargin,
    "q178_kcore" ->
      s"""WITH cnt AS (
         |  SELECT a.l_partkey AS src, b.l_partkey AS dst, COUNT(*) AS n
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
         |  GROUP BY 1, 2),
         |e AS (SELECT src, dst FROM cnt WHERE n >= 2),
         |s0 AS MATERIALIZED (
         |  SELECT src, dst FROM e WHERE src <> dst
         |  UNION SELECT dst, src FROM e WHERE src <> dst),
         |${(1 to KCoreRounds).map(kcoreRound).mkString(",\n")}
         |SELECT src AS node, COUNT(*) AS core_deg
         |FROM s$KCoreRounds GROUP BY src ORDER BY node""".stripMargin,
    "q136_graph_components" ->
      """WITH RECURSIVE cnt AS (
        |  SELECT a.l_partkey AS src, b.l_partkey AS dst, COUNT(*) AS n
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        |  GROUP BY 1, 2),
        |e AS (SELECT src, dst FROM cnt WHERE n >= 2),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |sym AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e),
        |reach(a, b) AS (
        |  SELECT node, node FROM nodes
        |  UNION
        |  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src)
        |SELECT a AS node, CAST(min(b) AS BIGINT) AS cluster_id
        |FROM reach GROUP BY a ORDER BY node""".stripMargin,
    "q143_weighted_pagerank" ->
      s"""WITH cnt AS (
         |  SELECT a.l_partkey AS src, b.l_partkey AS dst, COUNT(*) AS n
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
         |  GROUP BY 1, 2),
         |we AS (SELECT src, dst, n AS w FROM cnt WHERE n >= 2),
         |wsum AS (SELECT src, SUM(w) AS wsum FROM we GROUP BY src),
         |nodes AS (SELECT src AS node FROM we UNION SELECT dst FROM we),
         |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
         |${(1 to PrIters).map(wprRound).mkString(",\n")}
         |SELECT node, rank FROM r$PrIters ORDER BY node""".stripMargin,
    // id-orientation, not the engine's degree-orientation: the triangle
    // SET is invariant under any acyclic orientation (each triangle is
    // closed from exactly one corner), so the per-node counts agree.
    "q138_triangles" ->
      """WITH cnt AS (
        |  SELECT a.l_partkey AS src, b.l_partkey AS dst, COUNT(*) AS n
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        |  GROUP BY 1, 2),
        |e AS (SELECT src, dst FROM cnt WHERE n >= 2),
        |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |        FROM e WHERE src <> dst),
        |tri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM und e1 JOIN und e2 ON e1.u = e2.u AND e1.v < e2.v
        |  JOIN und e3 ON e3.u = e1.v AND e3.v = e2.v)
        |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
        |  SELECT a AS node FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |GROUP BY node ORDER BY node""".stripMargin,
    "q140_bfs_hops" -> {
      val rounds = (1 to BfsHops).map(i =>
        s"""n$i AS (
           |  SELECT DISTINCT e.dst AS node
           |  FROM e JOIN v${i - 1} v ON e.src = v.node
           |  WHERE e.dst NOT IN (SELECT node FROM v${i - 1})),
           |v$i AS (SELECT * FROM v${i - 1}
           |        UNION ALL SELECT node, CAST($i AS BIGINT) FROM n$i)""".stripMargin)
        .mkString(",\n")
      // NB: each frontier nI is (new nodes at hop i); joining e to the
      // FULL vI-1 (not just the frontier) enumerates a superset of the
      // frontier's neighbors, and the NOT IN keeps exactly the new ones
      // — same minimal-hop fixpoint as the engine's frontier form.
      s"""WITH cnt AS (
         |  SELECT a.l_partkey AS src, b.l_partkey AS dst, COUNT(*) AS n
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
         |  GROUP BY 1, 2),
         |e AS (SELECT src, dst FROM cnt WHERE n >= 2),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |v0 AS (SELECT node, CAST(0 AS BIGINT) AS hop FROM nodes
         |       WHERE node % 50 = 0),
         |$rounds
         |SELECT node, hop FROM v$BfsHops ORDER BY node""".stripMargin
    },
    "q149_cooccur_capped" ->
      s"""WITH mem AS (SELECT l_orderkey AS g, l_partkey AS i FROM lineitem),
         |ok AS (SELECT g FROM mem GROUP BY g HAVING COUNT(*) <= $CoCap),
         |c AS (SELECT m.* FROM mem m JOIN ok USING (g)),
         |cnt AS (
         |  SELECT a.i AS src, b.i AS dst, COUNT(*) AS n
         |  FROM c a JOIN c b ON a.g = b.g AND a.i <> b.i
         |  GROUP BY 1, 2)
         |SELECT src, dst, CAST(n AS BIGINT) AS n FROM cnt
         |WHERE n >= 2 ORDER BY src, dst""".stripMargin,
    "q142_cojaccard" ->
      """WITH m AS (
        |  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
        |deg AS (SELECT i, COUNT(*) AS d FROM m GROUP BY i),
        |p AS (
        |  SELECT a.i AS src, b.i AS dst, COUNT(*) AS n_shared
        |  FROM m a JOIN m b ON a.g = b.g AND a.i < b.i
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT src, dst, n_shared,
        |  CAST((n_shared * 1000) // (da.d + db.d - n_shared) AS BIGINT)
        |    AS jaccard_permille
        |FROM p JOIN deg da ON p.src = da.i JOIN deg db ON p.dst = db.i
        |ORDER BY src, dst""".stripMargin)
}
