package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over an edge relation — the link-structure
  * pass of a web-scale curation pipeline (domain authority for quality
  * weighting, co-occurrence communities for source grouping). Engine
  * extension beyond the reference surface; the algorithm is the classic
  * power-iteration PageRank (Page et al. 1999), re-expressed in the
  * repo's integer-exactness discipline so a DuckDB oracle replays every
  * iteration bit-for-bit: ranks are scaled longs, the damping step is
  * `150000 + (85 · Σ contrib) div 100`, and each per-edge contribution
  * is `rank div out_degree` — no floating point anywhere.
  *
  * Scale posture (billions of edges; the r18 layout —
  * [[prIterationRelations]]/[[prRound]]):
  *  - ONE src-hash-partitioned 2-column edge checkpoint; degrees and
  *    nodes are NODE-sized relations derived from it once. Every
  *    iteration reads those materialized blocks instead of re-deriving
  *    edges, and the checkpoint (plus the periodic [[prCut]] cut)
  *    truncates what would otherwise be an `iters`-deep lineage of
  *    joins (the standard failure mode of iterative DataFrame
  *    algorithms).
  *  - Each iteration shares `rank div out_deg` on the node-sized degree
  *    relation, joins it onto the edge blocks (pinned shuffled-hash —
  *    sort-free) and aggregates keyed dst. The checkpoint reads back
  *    with unknown partitioning, so each round still exchanges the
  *    edge body once. Nothing is driver-side; rank state never leaves
  *    the cluster.
  *  - Iteration count is FIXED (power iteration converges geometrically;
  *    fixed-k is the published practice for rank features), so the
  *    whole computation is a static plan chain — no convergence count()
  *    per round, unlike [[Dedup.connectedComponents]] where exactness
  *    of the fixpoint is the contract.
  *
  * Semantics notes (both deliberate, both documented to the oracle):
  *  - Parallel edges contribute multiplicity — dedupe upstream if the
  *    graph is simple (the in-repo queries do).
  *  - Dangling nodes (no out-edges) leak their mass rather than
  *    redistributing it — the rank total is not conserved, which is the
  *    common large-scale simplification (redistribution needs a global
  *    scalar per round).
  */
object Graph {

  /** `(node)` relation: every distinct endpoint of `edges` (2-column
    * (src, dst)-shaped). */
  def nodesOf(edges: DataFrame): DataFrame = {
    val e = asEdges(edges)
    e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
  }

  /** `(src, out_deg)` out-degree relation. */
  def outDegrees(edges: DataFrame): DataFrame =
    asEdges(edges).groupBy("src").agg(count(lit(1)).as("out_deg"))

  /** Fixed-point integer PageRank: `iters` power iterations at damping
    * 0.85, rank scale 10^6 (every node starts at 1,000,000; the damped
    * floor is 150,000). Output `(node, rank)` over [[nodesOf]] — nodes
    * with no in-edges settle at the floor.
    *
    * Shape history (both measured at the sf0.1 dense-graph point,
    * 2.39M edges): a window alternative (`count over partitionBy(src)`
    * + columnar persist) was tried and REJECTED in r15 — its full-body
    * sort cost ~2× (SCALING.md r15 carries the cells); the r15
    * edge⋈degree ("eDeg") checkpoint form was replaced in r18 by
    * [[prIterationRelations]]/[[prRound]] (share-on-nodes, single
    * narrower checkpoint, pinned shuffled-hash rounds — the
    * decomposition and before/after cells are in OPTIMIZATION_r18.md).
    *
    * Single-action contract (all three pageRank* variants): the tail
    * rounds after the last [[prCut]] checkpoint are LAZY, so the
    * returned DataFrame recomputes those rounds' joins on EVERY action
    * — run ONE action (write/collect) per call, or localCheckpoint the
    * result first if it will be consumed repeatedly. */
  def pageRankFixed(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be positive, got $iters")
    val (e, deg, nodes) = prIterationRelations(asEdges(edges))
    var ranks = nodes.withColumn("rank", lit(1000000L))
    for (i <- 1 to iters) {
      ranks = prCut(prRound(e, deg, nodes, ranks, lit(150000L)), i, iters)
    }
    ranks
  }

  /** Lineage valve for the fixed-k rank loops (r18): within a round
    * chain every intermediate is referenced exactly ONCE (ranks feeds
    * only the next round's share join; e/deg/nodes are already
    * checkpointed blocks), so lazily chaining rounds is free of
    * recomputation and collapses k sequential materialize-jobs into
    * one execution — measured as pure job-dispatch + block-write
    * savings. A checkpoint every [[PrCkptEvery]] rounds still bounds
    * plan depth for large k (the iters-deep-lineage failure mode the
    * per-round form guarded against), and the LAST round stays lazy so
    * the caller's action executes the tail. */
  private val PrCkptEvery = 8
  private def prCut(ranks: DataFrame, round: Int, iters: Int): DataFrame =
    if (round % PrCkptEvery == 0 && round < iters) ranks.localCheckpoint(true)
    else ranks

  /** The r18 iteration layout shared by the PageRank family (measured
    * against the r15 eDeg form it replaces — OPTIMIZATION_r18.md):
    *
    *  - ONE materialization of the caller's edge plan, REPARTITIONED BY
    *    src first, whatever the caller's plan is (an input that is
    *    already a src-partitioned checkpoint is repartitioned again:
    *    under AQE a checkpoint reads back with unknown partitioning, so
    *    no check on the input could ever skip it). The checkpoint does
    *    not carry its partitioning either, so degrees and every round's
    *    contribution join still exchange the edge body. The r15 form
    *    checkpointed the edge body TWICE (raw + a 3-column edge⋈degree
    *    join) — the join and the second, wider materialization are
    *    gone.
    *  - `rank div out_deg` moves off the edge rows onto the NODE-sized
    *    degree relation ([[prRound]]): per round the edge body is only
    *    streamed through one hash probe + map-side combine, not widened
    *    with out_deg and divided 2.4M times.
    *  - nodes: distinct src comes FREE from the degree aggregation —
    *    only dst pays a distinct pass (the r15 nodesOf unioned both
    *    sides, 2× the rows through the distinct exchange).
    */
  private def prIterationRelations(e0: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val e = e0.repartition(col("src")).localCheckpoint(true)
    val deg = outDegrees(e).localCheckpoint(true)
    val nodes = deg.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct().localCheckpoint(true)
    (e, deg, nodes)
  }

  /** One integer power-iteration round:
    * `floor + (85 · Σ_{u→v} rank(u) div out_deg(u)) div 100`, exactly
    * the [[pageRankFixed]] arithmetic (the division happens per SOURCE
    * NODE and is joined onto edges — bit-identical to dividing on each
    * edge row, since the divisor is a function of src alone).
    *
    * Join strategy is pinned deliberately (guide §3.1): SHUFFLE_HASH on
    * the node-sized side everywhere. The static planner sees
    * LogicalRDD leaves (no stats → never broadcast), and sort-merge
    * would re-SORT the edge body every round; shuffled-hash builds the
    * node-sized hash table per partition and STREAMS the edge blocks —
    * scale-safe (build side is nodes/numPartitions per task) and
    * sort-free. The edge side's src partitioning and the aggregation's
    * node partitioning line up, so each round's only data exchanges are
    * node-sized (ranks → src; combined contributions → node). */
  private def prRound(e: DataFrame, deg: DataFrame, nodes: DataFrame,
      ranks: DataFrame, floor: org.apache.spark.sql.Column): DataFrame = {
    val shares = deg
      .join(ranks.withColumnRenamed("node", "src").hint("shuffle_hash"), "src")
      .select(col("src"), expr("rank div out_deg").as("__share"))
    val contrib = e.join(shares.hint("shuffle_hash"), "src")
      .select(col("dst").as("node"), col("__share").as("__c"))
      .groupBy("node").agg(sum("__c").as("__s"))
    nodes.join(contrib.hint("shuffle_hash"), Seq("node"), "left")
      .select(col("node"),
        (floor + expr("(85 * coalesce(__s, 0)) div 100")).as("rank"))
  }

  /** PERSONALIZED (seeded) integer PageRank — the recommendation /
    * related-items variant: the damped restart mass lands only on the
    * `seeds` relation instead of uniformly, so rank measures proximity
    * TO THE SEEDS along edges rather than global centrality. Same
    * fixed-k power iteration, scale and damping as [[pageRankFixed]]:
    * seeds start at 1,000,000 (non-seeds at 0), and each round is
    *
    *   rank(v) ← (isSeed(v) ? 150,000 : 0) + (85 · Σ_{u→v} rank(u)
    *             div out_deg(u)) div 100
    *
    * — exact integer arithmetic the oracle unrolls. Nodes unreachable
    * from any seed settle at 0 (the floor is seed-only by definition of
    * the personalization vector).
    *
    * Shape: the [[pageRankFixed]] plan (one edge materialization,
    * src-repartitioned checkpointed edge⋈degree relation, per round one
    * equi-join + one agg); the seed set is a query-sized relation
    * BROADCAST onto the node list once — at 100 TB the seed list is the
    * thing a user typed, never corpus-sized. */
  def pageRankPersonalized(edges: DataFrame, seeds: DataFrame,
      iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be positive, got $iters")
    // the shared r18 iteration layout ([[prIterationRelations]]), with
    // the query-sized seed relation broadcast onto the node list once
    val (e, deg, bareNodes) = prIterationRelations(asEdges(edges))
    val seedRel = seeds.select(col(seeds.columns.head).as("node"))
      .distinct().withColumn("__seed", lit(1))
    val nodes = bareNodes
      .join(broadcast(seedRel), Seq("node"), "left")
      .localCheckpoint(true)
    val floor = when(col("__seed").isNotNull, lit(150000L)).otherwise(lit(0L))
    var ranks = nodes.select(col("node"),
      when(col("__seed").isNotNull, lit(1000000L)).otherwise(lit(0L)).as("rank"))
    for (i <- 1 to iters) {
      ranks = prCut(prRound(e, deg, nodes, ranks, floor), i, iters)
    }
    ranks
  }

  /** Connected components of the UNDIRECTED view of `edges`: delegates
    * to [[Dedup.connectedComponents]] (driver union-find fast path under
    * ~1.3M edges, distributed min-label propagation above) over
    * [[nodesOf]] — exposed here so general graphs get the same machinery
    * the near-dup clustering uses. Output `(node, cluster_id)`,
    * cluster_id = component-minimum node id. */
  def components(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    // one evaluation of the edge plan; nodesOf and the union-find /
    // label-propagation machinery read blocks (connectedComponents' own
    // already-materialized guard then skips its re-checkpoint)
    val e = materialized(asEdges(edges))
    Dedup.connectedComponents(e, nodesOf(e), "node", maxIter)
  }

  /** k-CORE of the undirected view of `edges`: the maximal subgraph in
    * which every node keeps degree ≥ k — the standard "dense part of
    * the graph" extraction (spam rings, community nuclei, trending
    * cliques). Computed by iterative peeling: drop every node whose
    * surviving degree is < k, recompute, repeat to the FIXPOINT (the
    * k-core is unique, so the fixpoint is the answer — unlike the
    * fixed-k PageRank family, truncating the loop would return a
    * superset, not an approximation of anything). Output: `(node,
    * core_deg)` for surviving nodes, core_deg their degree INSIDE the
    * core; self-loops and edge direction/duplication are normalized
    * away first.
    *
    * Loud convergence contract: peeling converges in at most as many
    * rounds as there are nodes, but each round is a count() + two anti
    * joins over the (shrinking) edge body — if `maxIter` rounds do not
    * reach the fixpoint this THROWS rather than silently returning the
    * superset (the oracle unrolls exactly `maxIter` rounds, so a
    * silent truncation here would be a silent wrong answer there).
    * Real graphs peel in a handful of rounds; GraphSpec pins a 3-round
    * case.
    *
    * Scale: per round one degree agg + two shuffled anti joins, all on
    * the SURVIVING edge body (checkpointed each round so lineage stays
    * flat and later rounds read the smaller relation, not a replay). */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 30): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(maxIter >= 1, s"maxIter must be positive, got $maxIter")
    // one evaluation of the caller's edge plan — the pageRankFixed
    // hazard: both union arms below read it
    val e = materialized(asEdges(edges))
    // undirected simple view: both orientations of every distinct pair
    val und = e.filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
      .union(e.filter(col("src") =!= col("dst"))
        .select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    var sym = und.localCheckpoint(true)
    var round = 0
    while (round < maxIter) {
      val deg = sym.groupBy("src").agg(count(lit(1)).as("core_deg"))
      val bad = deg.filter(col("core_deg") < k).select("src").localCheckpoint(true)
      if (bad.isEmpty)
        return deg.select(col("src").as("node"), col("core_deg"))
      sym = sym
        .join(bad, Seq("src"), "left_anti")
        .join(bad.withColumnRenamed("src", "dst"), Seq("dst"), "left_anti")
        .localCheckpoint(true)
      round += 1
    }
    // one more degree pass: if the LAST removal already reached the
    // fixpoint, maxIter rounds of removal + this check suffice
    val deg = sym.groupBy("src").agg(count(lit(1)).as("core_deg"))
    if (deg.filter(col("core_deg") < k).isEmpty)
      deg.select(col("src").as("node"), col("core_deg"))
    else throw new IllegalStateException(
      s"kCore(k=$k) did not converge in $maxIter peel rounds - raise maxIter " +
        "(and the oracle unroll if this relation is oracle-checked)")
  }

  /** Synchronous label-propagation COMMUNITIES over the undirected
    * simple view of `edges` — the cheap community detector beside
    * [[components]] (connectivity) and [[kCore]] (density): every node
    * starts as its own label; each round it adopts the most frequent
    * label among its NEIGHBORS, ties broken to the smallest label, all
    * nodes updating simultaneously. Deterministic by construction (the
    * (count desc, label asc) pick has no random tie-break), which is
    * what makes the rounds oracle-unrollable.
    *
    * Fixed `rounds`, like the PageRank family and unlike [[kCore]]'s
    * fixpoint: synchronous LPA can OSCILLATE on bipartite-ish
    * structures (two labels swapping forever), so "run to convergence"
    * is not well-defined — the engine runs exactly `rounds` rounds and
    * the oracle unrolls exactly the same count. Nodes whose only edges
    * are self-loops are dropped with them (no neighbors to vote).
    * Output: `(node, label)`; equal labels = one community.
    *
    * Scale: per round one equi-join (labels onto the symmetric edge
    * relation — shuffle keyed by node), one (node, label) count, one
    * per-node window pick partitioned by node (bounded by degree);
    * labels checkpointed each round so lineage stays flat. */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be positive, got $rounds")
    val e = materialized(asEdges(edges))
    val sym = e.filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
      .union(e.filter(col("src") =!= col("dst"))
        .select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    val pick = org.apache.spark.sql.expressions.Window
      .partitionBy("node").orderBy(col("cnt").desc, col("label").asc)
    var labels = sym.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .localCheckpoint(true)
    var round = 0
    while (round < rounds) {
      round += 1
      // lazily chained like the PageRank rounds (prCut): each round's
      // labels feed exactly one consumer, so no recomputation; the
      // periodic cut bounds plan depth for large round counts
      labels = prCut(sym
        .join(labels.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("__rn", row_number().over(pick))
        .filter(col("__rn") === 1)
        .select("node", "label"), round, rounds)
    }
    labels
  }

  /** Co-occurrence edge builder — the generic "items sharing a group"
    * graph derivation (parts per order, domains per user, tokens per
    * doc): one directed edge per ordered pair of distinct items
    * co-occurring in a group, with the co-occurrence count `n` (count of
    * co-occurring row pairs — parallel group memberships multiply).
    * Output `(src, dst, n)`, symmetric by construction; threshold with
    * `minCount` to sparsify (co-occurrence graphs densify toward
    * complete as group activity grows — the ≥2 cut is the standard
    * noise floor).
    *
    * Scale: the self-join is an EQUI-join on the group key, so the
    * quadratic lives per group (Σ |group|²). Groups above `maxGroupItems`
    * rows are dropped whole BEFORE the join — a group containing half
    * the corpus (the empty-string bucket, a crawler session) would
    * otherwise reintroduce the all-pairs cross; same cap discipline as
    * the LSH bucket and fuzzy-block caps. Default Long.MaxValue = no cap
    * (the in-repo queries replay cap-free in the oracle). */
  def coOccurrenceEdges(df: DataFrame, groupCol: String, itemCol: String,
      minCount: Long = 1L,
      maxGroupItems: Long = Long.MaxValue): DataFrame = {
    val base = df.select(col(groupCol).as("__g"), col(itemCol).as("__i"))
      .filter(col("__g").isNotNull && col("__i").isNotNull)
    val capped =
      if (maxGroupItems == Long.MaxValue) base
      else base.join(
        base.groupBy("__g").agg(count(lit(1)).as("__gn"))
          .filter(col("__gn") <= maxGroupItems).select("__g"),
        Seq("__g"))
    // REPARTITION BY THE GROUP KEY before the self-join (r18, measured:
    // the planner broadcast one side and streamed the other through the
    // SOURCE's partitioning — on a narrow scan that serializes the whole
    // pair enumeration + partial aggregation into one task). The
    // group-key exchange is the partitioning an at-scale shuffle join
    // needs anyway, both self-join arms REUSE the one exchange
    // (ReusedExchange — the input plan also evaluates once, not twice),
    // and the per-group pair quadratic then runs at full width.
    val spread = capped.repartition(col("__g"))
    // CANONICAL a < b pairs only — HALF the per-group quadratic and
    // half the aggregation mass — then mirror in ONE projection: the
    // relation is symmetric by construction (every co-occurring row
    // pair appears in both orders, so n(a,b) = n(b,a) exactly), and
    // the explode mirrors without a self-union's double evaluation
    // (r18; measured on the graph family's shared derivation).
    val half = spread.as("a").join(spread.as("b").hint("shuffle_hash"),
        col("a.__g") === col("b.__g") && col("a.__i") < col("b.__i"))
      .groupBy(col("a.__i").as("src"), col("b.__i").as("dst"))
      .agg(count(lit(1)).as("n"))
    // minCount <= 1 is a tautology over grouped counts — skipping the
    // filter keeps the schema but stops the filter from REFERENCING n,
    // so a caller that drops n (the PageRank queries read only
    // (src, dst)) lets column pruning elide the count buffers and the
    // aggregate decays to a distinct (r18)
    val cut = if (minCount <= 1L) half else half.filter(col("n") >= minCount)
    cut.select(explode(array(
        struct(col("src"), col("dst"), col("n")),
        struct(col("dst").as("src"), col("src").as("dst"), col("n")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"),
        col("__e.n").as("n"))
  }

  /** Group-size histogram of a (group, item) relation — how many groups
    * hold exactly `group_items` member rows. The cost model of every
    * per-group quadratic here (co-occurrence, co-Jaccard): candidate
    * mass is Σ |group|², so the histogram's tail IS the worst-group
    * bound. Same shape as [[IndexOps.bucketHistogram]]/`cellHistogram`;
    * nulls filtered exactly as [[coOccurrenceEdges]] filters them.
    * Two map-side-combined aggregations, output ≤ distinct-size rows. */
  def groupHistogram(df: DataFrame, groupCol: String, itemCol: String): DataFrame =
    df.select(col(groupCol).as("__g"), col(itemCol).as("__i"))
      .filter(col("__g").isNotNull && col("__i").isNotNull)
      .groupBy("__g").agg(count(lit(1)).as("group_items"))
      .groupBy("group_items").agg(count(lit(1)).as("n_groups"))

  /** `maxGroupItems = auto`: [[IndexOps.capFromHistogram]] over
    * [[groupHistogram]] — the smallest size S such that groups of size
    * ≤ S are ≥ `quantile` of all groups ("join every group except the
    * top tail"). Feed to [[coOccurrenceEdges]]/[[coJaccardEdges]] so
    * the default path cannot go quadratic on a degenerate group (the
    * empty-string bucket, a crawler session holding half the corpus) —
    * the cap-picking rule the LSH/IVF families already run as code. */
  def autoGroupCap(df: DataFrame, groupCol: String, itemCol: String,
      quantile: Double = 0.999): Long =
    IndexOps.capFromHistogram(groupHistogram(df, groupCol, itemCol),
      "group_items", "n_groups", quantile).toLong

  /** The groups a cap DROPS, for the caller's report (the no-silent-caps
    * discipline): `(group, n_items)` of every group above
    * `maxGroupItems`, output-bounded by the offender count. */
  def cappedGroups(df: DataFrame, groupCol: String, itemCol: String,
      maxGroupItems: Long): DataFrame =
    df.select(col(groupCol).as(groupCol), col(itemCol).as("__i"))
      .filter(col(groupCol).isNotNull && col("__i").isNotNull)
      .groupBy(groupCol).agg(count(lit(1)).as("n_items"))
      .filter(col("n_items") > maxGroupItems)

  /** Per-node triangle counts — the local clustering signal (community
    * density, link-spam detection). Classic oriented wedge-closing
    * (Cohen's MapReduce scheme / Suri–Vassilvitskii): canonicalize to
    * the undirected simple edge set, orient every edge from the
    * lower-(degree, id) endpoint to the higher, enumerate wedges at each
    * source, and close them against the oriented edge set. The
    * orientation is acyclic, so each triangle is found EXACTLY once
    * (from its lowest-degree corner); counts are orientation-invariant,
    * which is what lets the oracle replay with plain id-orientation.
    * Output `(node, n_triangles)`, triangle-free nodes absent.
    *
    * Scale: orientation bounds wedge fan-out by the LOWER endpoint
    * degree — the hub that makes naive wedge counting quadratic emits no
    * wedges at all (every hub edge points INTO it). The oriented edge
    * relation is localCheckpoint'd once and reused by all three plan
    * arms (two wedge sides + the closing probe). */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val e = asEdges(edges)
    // the canonical undirected relation is consumed 4× (degree counting
    // + both orientation-degree joins read `und`; `o` feeds three join
    // arms) — materialize it once instead of re-running the caller's
    // edge derivation per consumer
    val und = e.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
      .localCheckpoint(true)
    val deg = und.select(col("u").as("node"))
      .unionByName(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val o = und
      .join(deg.toDF("u", "du"), "u")
      .join(deg.toDF("v", "dv"), "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("src"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("dst"))
      .localCheckpoint(true)
    val tri = o.as("e1").join(o.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") =!= col("e2.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"),
        col("e2.dst").as("c"))
      .join(o.toDF("b", "c"), Seq("b", "c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** WEIGHTED fixed-point PageRank over a `(src, dst, w)` relation —
    * rank flows proportional to edge weight (co-occurrence strength,
    * link multiplicity): each round
    * `rank'(v) = 150000 + (85 · Σ_{u→v} (rank(u)·w(u,v)) div wsum(u)) div 100`
    * with `wsum(u) = Σ out-weights of u` — the integer twin of
    * [[pageRankFixed]] (same damping, scale, floor; per-edge division
    * replaced by the weighted share). Non-positive or null weights are
    * TREATED AS ABSENT EDGES (filtered at entry — a w ≤ 0 row would
    * silently corrupt the mass shares). Same materialization
    * discipline: ONE edge-plan evaluation, the iteration relation
    * src-partitioned and checkpointed once.
    *
    * Exactness envelope — ENFORCED, not assumed: every rank is bounded
    * by the total mass `n_nodes · 10^6` (the per-round update is
    * `150000 + 0.85·Σ contrib` with contributions a partition of the
    * sender's rank, so Σ ranks ≤ n·10^6 at every round and a hub's
    * rank can approach it), hence the widest per-edge product is
    * `rank · w ≤ n_nodes · 10^6 · w_max`. Spark wraps a signed-64
    * overflow SILENTLY where DuckDB raises, so the guard below
    * requires `n_nodes · 10^6 · w_max < 2^63` — checked via the bound
    * `n_nodes ≤ 2·n_edges` so the guard is ONE bounded-scalar agg over
    * the already-materialized edge blocks — and fails loud with a
    * rescale hint instead of corrupting ranks; at weights ~10^6 the
    * envelope closes around n ≈ 9.2·10^6 nodes. */
  def pageRankWeightedFixed(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be positive, got $iters")
    require(edges.columns.length == 3,
      s"edges must be (src, dst, w)-shaped, got ${edges.columns.toSeq}")
    // the r18 iteration layout ([[prIterationRelations]]'s shape, with
    // the weight column riding the edge checkpoint and the per-source
    // weight SUM on the node-sized relation): one src-partitioned edge
    // materialization; wsum, nodes and every round read those blocks.
    val e = edges.toDF("src", "dst", "w").filter(col("w") > 0)
      .repartition(col("src")).localCheckpoint(true)
    val wsum = e.groupBy("src").agg(sum("w").as("wsum")).localCheckpoint(true)
    val nodes = wsum.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct().localCheckpoint(true)
    // guard scans the already-checkpointed e instead of re-running the
    // edge plan a second time (advisor finding)
    val g = e.agg(max(col("w").cast("long")), count(lit(1))).head()
    val wMax = if (g.isNullAt(0)) 0L else g.getLong(0)
    val nBound = 2L * g.getLong(1) // every node names an edge endpoint
    require(BigInt(nBound) * 1000000L * wMax < BigInt(2).pow(63),
      s"pageRankWeightedFixed: rank·w can overflow signed 64-bit " +
        s"(n_nodes <= $nBound, w_max=$wMax, envelope n·10^6·w_max < 2^63) " +
        "— pre-scale the weight column (shares only need RELATIVE " +
        "weights, so `w div s` for a power-of-ten s preserves the " +
        "ranking to 1/s precision)")
    var ranks = nodes.withColumn("rank", lit(1000000L))
    for (i <- 1 to iters) {
      // (rank · w) div wsum stays PER EDGE (integer division does not
      // distribute over the per-edge weight), but rank and wsum ride a
      // node-sized relation joined onto the edge blocks — sort-free
      // shuffled-hash like [[prRound]], zero edge exchanges per round
      val nr = wsum
        .join(ranks.withColumnRenamed("node", "src").hint("shuffle_hash"), "src")
      val contrib = e.join(nr.hint("shuffle_hash"), "src")
        .select(col("dst").as("node"),
          expr("(rank * w) div wsum").as("__c"))
        .groupBy("node").agg(sum("__c").as("__s"))
      ranks = prCut(nodes.join(contrib.hint("shuffle_hash"), Seq("node"), "left")
        .select(col("node"),
          (lit(150000L) + expr("(85 * coalesce(__s, 0)) div 100")).as("rank")),
        i, iters)
    }
    ranks
  }

  /** Bounded-hop BFS — minimal hop counts from a source set, the k-hop
    * reachability pass (blast-radius analysis, seed-expansion sampling).
    * Output `(node, hop)` for every node reachable within `maxHops`
    * directed hops (hop 0 = the sources themselves, membership in
    * `nodes` not required); unreachable nodes are ABSENT. Hop counts are
    * minimal by construction: a node joins the visited set the first
    * round it is seen and is anti-joined out of later frontiers.
    *
    * Scale: per round one equi-join (frontier ⋈ edges on src — the
    * frontier is the newly-discovered set only, never the full visited
    * relation) + one anti-join against visited; edges localCheckpoint'd
    * once; visited/frontier checkpointed per round to truncate lineage.
    * Rounds are FIXED (maxHops), so like [[pageRankFixed]] there is no
    * per-round driver count and the oracle unrolls exactly. */
  def bfsHops(edges: DataFrame, sources: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    require(sources.columns.length == 1, "sources must be a 1-column relation")
    val e = materialized(asEdges(edges))
    var visited = sources.toDF("node").distinct()
      .withColumn("hop", lit(0L)).localCheckpoint(true)
    var frontier = visited.select("node")
    for (i <- 1 to maxHops) {
      val next = e.join(frontier.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("hop", lit(i.toLong))
        .localCheckpoint(true)
      visited = visited.unionByName(next).localCheckpoint(true)
      frontier = next.select("node")
    }
    visited
  }

  /** Similarity-weighted co-occurrence edges — the item-item relation of
    * collaborative filtering / source-affinity analysis: for each item
    * pair sharing ≥ `minShared` DISTINCT groups, the shared-group count
    * and the integer Jaccard over their group SETS,
    * `(n_shared · 1000) div (|A| + |B| − n_shared)`. Output
    * `(src, dst, n_shared, jaccard_permille)`, canonical src < dst.
    *
    * Scale: memberships dedupe first (one (group, item) aggregation), so
    * parallel memberships cannot inflate the counts; the pair join is
    * per-group like [[coOccurrenceEdges]] (cap heavy groups with
    * `maxGroupItems`); degrees join on the item keys of the OUTPUT-sized
    * pair relation, never the membership body. */
  def coJaccardEdges(df: DataFrame, groupCol: String, itemCol: String,
      minShared: Long = 1L,
      maxGroupItems: Long = Long.MaxValue): DataFrame = {
    val m = df.select(col(groupCol).as("__g"), col(itemCol).as("__i"))
      .filter(col("__g").isNotNull && col("__i").isNotNull)
      .distinct()
    // the deduped membership is consumed 3× (degrees + both self-join
    // sides) — materialize once rather than re-running the dedup per arm
    val capped = materialized(
      if (maxGroupItems == Long.MaxValue) m
      else m.join(
        m.groupBy("__g").agg(count(lit(1)).as("__gn"))
          .filter(col("__gn") <= maxGroupItems).select("__g"),
        Seq("__g")))
    val deg = capped.groupBy(col("__i").as("node"))
      .agg(count(lit(1)).as("deg"))
    // group-key spread + shuffled-hash (r18, the coOccurrenceEdges
    // discipline): the planner broadcast the 600k-row membership for
    // each self-join arm — a corpus-sized driver collect the shuffle
    // join never needs; both arms reuse ONE group-key exchange and the
    // per-partition build side is capped-group-bounded.
    val spread = capped.repartition(col("__g"))
    spread.as("a").join(spread.as("b").hint("shuffle_hash"),
        col("a.__g") === col("b.__g") && col("a.__i") < col("b.__i"))
      .groupBy(col("a.__i").as("src"), col("b.__i").as("dst"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(deg.toDF("src", "__da"), "src")
      .join(deg.toDF("dst", "__db"), "dst")
      .select(col("src"), col("dst"), col("n_shared"),
        expr("(n_shared * 1000) div (__da + __db - n_shared)")
          .cast("long").as("jaccard_permille"))
  }

  /** MARKET-BASKET LIFT pairs — [[coJaccardEdges]]'s association-rule
    * sibling: item pairs sharing ≥ `minShared` distinct groups with
    * the integer LIFT of their co-membership, micro-scaled:
    * `lift_micro = (n_ab · N · 10^6) div (n_a · n_b)` over DISTINCT
    * group memberships (N = distinct groups, n_x = groups containing
    * x). Lift > 1e6 means the pair co-occurs more than independence
    * predicts — the "customers who bought A also bought B" relation,
    * with Jaccard's popularity bias corrected by the independence
    * baseline. Canonical `src < dst`; output
    * `(src, dst, n_shared, lift_micro)`.
    *
    * Same shape and caps as [[coJaccardEdges]]: one deduped membership
    * materialization feeding degrees + both self-join sides, the
    * per-group quadratic bounded by `maxGroupItems`, pair mass cut by
    * `minShared` BEFORE the degree joins.
    *
    * Overflow envelope, ENFORCED (the [[pageRankWeightedFixed]]
    * discipline): the numerator needs `n_ab · N · 10^6 < 2^63`, i.e.
    * `N · max(n_ab) < 9.2·10^12`. Checked against the actual pair
    * maximum (one output-bounded scalar) — beyond it the long
    * arithmetic would wrap silently, so this THROWS with the knob to
    * turn (raise `minShared`, cap groups, or bucket the group key to a
    * coarser grain). */
  def liftPairs(df: DataFrame, groupCol: String, itemCol: String,
      minShared: Long = 1L,
      maxGroupItems: Long = Long.MaxValue): DataFrame = {
    val m = df.select(col(groupCol).as("__g"), col(itemCol).as("__i"))
      .filter(col("__g").isNotNull && col("__i").isNotNull)
      .distinct()
    val capped = materialized(
      if (maxGroupItems == Long.MaxValue) m
      else m.join(
        m.groupBy("__g").agg(count(lit(1)).as("__gn"))
          .filter(col("__gn") <= maxGroupItems).select("__g"),
        Seq("__g")))
    val nGroups = capped.select("__g").distinct().count()
    val deg = capped.groupBy(col("__i").as("node"))
      .agg(count(lit(1)).as("deg"))
    // group-key spread + shuffled-hash: the coJaccardEdges r18 shape
    val spread = capped.repartition(col("__g"))
    val pairs = spread.as("a").join(spread.as("b").hint("shuffle_hash"),
        col("a.__g") === col("b.__g") && col("a.__i") < col("b.__i"))
      .groupBy(col("a.__i").as("src"), col("b.__i").as("dst"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .localCheckpoint(true)
    val maxShared = pairs.agg(max(col("n_shared"))).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    require(maxShared <= Long.MaxValue / 1000000L / math.max(nGroups, 1L),
      s"liftPairs: n_ab·N·10^6 would overflow long (N = $nGroups groups, " +
        s"max n_ab = $maxShared) — raise minShared, cap groups with " +
        "maxGroupItems, or bucket the group key to a coarser grain")
    pairs
      .join(deg.toDF("src", "__da"), "src")
      .join(deg.toDF("dst", "__db"), "dst")
      .select(col("src"), col("dst"), col("n_shared"),
        expr(s"(n_shared * CAST($nGroups AS BIGINT) * 1000000) div (__da * __db)")
          .cast("long").as("lift_micro"))
  }

  private def asEdges(edges: DataFrame): DataFrame = {
    require(edges.columns.length == 2,
      s"edges must be (src, dst)-shaped, got ${edges.columns.toSeq}")
    edges.toDF("src", "dst")
  }

  /** Eager-materialize unless the relation already IS materialized
    * blocks (same guard as `Dedup.connectedComponents` — a second
    * checkpoint would duplicate the blocks in executor storage). */
  private def materialized(df: DataFrame): DataFrame = {
    val already = df.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    if (already) df else df.localCheckpoint(true)
  }
}
