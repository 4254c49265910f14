package graft.operators

import graft.SparkSpec

class GraphSpec extends SparkSpec {
  import spark.implicits._

  // 1↔2 cycle, 1→3 dangling sink, 4→1 source with no in-edges
  private def edges = Seq(
    (1L, 2L), (2L, 1L), (1L, 3L), (4L, 1L)).toDF("src", "dst")

  test("nodesOf and outDegrees") {
    assert(Graph.nodesOf(edges).as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
    assert(Graph.outDegrees(edges).as[(Long, Long)].collect().toSet ==
      Set((1L, 2L), (2L, 1L), (4L, 1L)))
  }

  test("pageRankFixed: two hand-computed integer iterations") {
    // r0 = 1,000,000 everywhere.
    // iter1: in(1) = r0(2)/1 + r0(4)/1 = 2,000,000 → 150000 + 1,700,000 = 1,850,000
    //        in(2) = r0(1) div 2 = 500,000       → 150000 +   425,000 =   575,000
    //        in(3) = 500,000                      →   575,000
    //        in(4) = ∅                            →   150,000
    // iter2: in(1) = 575,000 + 150,000 = 725,000  → 150000 + 616,250 =   766,250
    //        in(2) = 1,850,000 div 2 = 925,000    → 150000 + 786,250 =   936,250
    //        in(3) = 925,000                      →   936,250
    //        in(4) = ∅                            →   150,000
    val got = Graph.pageRankFixed(edges, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 766250L, 2L -> 936250L, 3L -> 936250L, 4L -> 150000L))
  }

  test("pageRankFixed: rank floor is exactly 150000 for in-edge-free nodes at any iters") {
    val got = Graph.pageRankFixed(edges, iters = 5).as[(Long, Long)].collect().toMap
    assert(got(4L) == 150000L)
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
  }

  test("components: per-component minimum ids over the undirected view") {
    val e = Seq((2L, 1L), (2L, 3L), (7L, 8L)).toDF("src", "dst")
    val got = Graph.components(e).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("pageRankWeightedFixed: weighted shares, two hand-computed rounds") {
    // 1→2 (w 1), 1→3 (w 3), 2→1 (w 2); wsum(1)=4, wsum(2)=2
    val we = Seq((1L, 2L, 1L), (1L, 3L, 3L), (2L, 1L, 2L)).toDF("src", "dst", "w")
    // r1: c(2)=1e6·1/4=250000→362500; c(3)=750000→787500; c(1)=1e6→1000000
    // r2: c(1)=(362500·2)/2=362500 → 150000+308125=458125; 2,3 as r1
    val got = Graph.pageRankWeightedFixed(we, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 458125L, 2L -> 362500L, 3L -> 787500L))
    // uniform weights reproduce the unweighted operator exactly
    val e = Seq((1L, 2L), (2L, 1L), (1L, 3L), (4L, 1L)).toDF("src", "dst")
    val uni = Graph.pageRankWeightedFixed(
      e.withColumn("w", org.apache.spark.sql.functions.lit(7L)), iters = 3)
      .as[(Long, Long)].collect().toMap
    val plain = Graph.pageRankFixed(e, iters = 3).as[(Long, Long)].collect().toMap
    assert(uni == plain)
    // w ≤ 0 rows are absent edges: pruning them changes nothing, and a
    // node reachable only through them drops out entirely
    val withJunk = we.union(Seq((9L, 1L, 0L), (1L, 9L, -5L)).toDF("src", "dst", "w"))
    val pruned = Graph.pageRankWeightedFixed(withJunk, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(pruned == Map(1L -> 458125L, 2L -> 362500L, 3L -> 787500L))
  }

  test("coOccurrenceEdges: symmetric counts, minCount threshold, group cap") {
    val m = Seq(
      ("g1", 1L), ("g1", 2L), ("g1", 3L),
      ("g2", 1L), ("g2", 2L),
      ("g3", 4L)).toDF("g", "item")
    val got = Graph.coOccurrenceEdges(m, "g", "item")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 2L, 2L), (2L, 1L, 2L), (1L, 3L, 1L), (3L, 1L, 1L),
      (2L, 3L, 1L), (3L, 2L, 1L)))
    val thresholded = Graph.coOccurrenceEdges(m, "g", "item", minCount = 2L)
      .as[(Long, Long, Long)].collect().toSet
    assert(thresholded == Set((1L, 2L, 2L), (2L, 1L, 2L)))
    // the 3-item group is dropped whole by the cap; g2 survives
    val capped = Graph.coOccurrenceEdges(m, "g", "item", maxGroupItems = 2L)
      .as[(Long, Long, Long)].collect().toSet
    assert(capped == Set((1L, 2L, 1L), (2L, 1L, 1L)))
  }

  test("autoGroupCap: mega-group corpus completes under the derived cap, offenders reported") {
    // 200 well-behaved 2-item groups + ONE degenerate group holding 500
    // items (the crawler-session / empty-key failure mode at 100×)
    val good = (1L to 200L).flatMap(g => Seq((s"g$g", 2 * g), (s"g$g", 2 * g + 1)))
    val mega = (1L to 500L).map(i => ("mega", 10000L + i))
    val m = (good ++ mega).toDF("g", "item")
    val hist = Graph.groupHistogram(m, "g", "item")
      .as[(Long, Long)].collect().toMap
    assert(hist == Map(2L -> 200L, 500L -> 1L))
    // 200 of 201 groups are size ≤ 2 → any quantile ≤ 200/201 caps at 2
    val cap = Graph.autoGroupCap(m, "g", "item", quantile = 0.99)
    assert(cap == 2L)
    // the capped run never pays the 500² self-join and the mega group
    // contributes NO edges
    val edges = Graph.coOccurrenceEdges(m, "g", "item", maxGroupItems = cap)
      .as[(Long, Long, Long)].collect()
    assert(edges.length == 400) // 200 groups × 2 directed edges
    assert(edges.forall { case (s, d, _) => s < 10000L && d < 10000L })
    // the no-silent-caps report names the dropped group with its size
    val dropped = Graph.cappedGroups(m, "g", "item", cap)
      .as[(String, Long)].collect().toSeq
    assert(dropped == Seq(("mega", 500L)))
  }

  test("triangleCounts: shared-edge triangles, orientation-duplicate input, hub-free counts") {
    // triangles {1,2,3} and {2,3,4} share edge 2–3; edge 4–5 closes nothing.
    // Input deliberately carries both orientations + a self-loop to prove
    // canonicalization.
    val e = Seq(
      (1L, 2L), (2L, 1L), (2L, 3L), (1L, 3L), (3L, 1L),
      (2L, 4L), (3L, 4L), (4L, 5L), (5L, 5L)).toDF("src", "dst")
    val got = Graph.triangleCounts(e).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("bfsHops: minimal hops, shortcut edges win, frontier stops at maxHops") {
    // chain 1→2→3→4 plus shortcut 1→3; node 5 isolated
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L)).toDF("src", "dst")
    val src = Seq(1L).toDF("node")
    val got = Graph.bfsHops(e, src, maxHops = 3).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
    // bounded horizon: hop-2 nodes vanish at maxHops = 1
    val h1 = Graph.bfsHops(e, src, maxHops = 1).as[(Long, Long)].collect().toMap
    assert(h1 == Map(1L -> 0L, 2L -> 1L, 3L -> 1L))
    // multi-source: each node takes the nearest source's hop count
    val multi = Graph.bfsHops(e, Seq(1L, 3L).toDF("node"), maxHops = 3)
      .as[(Long, Long)].collect().toMap
    assert(multi == Map(1L -> 0L, 3L -> 0L, 2L -> 1L, 4L -> 1L))
  }

  test("coJaccardEdges: distinct-membership jaccard, canonical pair, minShared") {
    val m = Seq(
      ("g1", 1L), ("g1", 1L), ("g1", 2L), // duplicate membership dedupes
      ("g2", 1L), ("g2", 2L),
      ("g3", 1L), ("g3", 3L)).toDF("g", "item")
    // deg: 1→3 groups, 2→2, 3→1
    val got = Graph.coJaccardEdges(m, "g", "item")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 2L, 2L, 666L),  // shared {g1,g2}; 2000 div (3+2−2)
      (1L, 3L, 1L, 333L))) // shared {g3};    1000 div (3+1−1)
    val thresholded = Graph.coJaccardEdges(m, "g", "item", minShared = 2L)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(thresholded == Set((1L, 2L, 2L, 666L)))
  }

  test("pageRankPersonalized: seed-only floor, two hand rounds, unreachable stays 0") {
    // 1→2→3→1 cycle plus a disconnected 4→5; seed = {1}, out_deg all 1
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L)).toDF("src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("node")
    val r1 = Graph.pageRankPersonalized(e, seeds, 1)
      .as[(Long, Long)].collect().toMap
    // round 1: seed floor 150000; node 2 receives 85% of the seed's 1e6
    assert(r1 == Map(1L -> 150000L, 2L -> 850000L, 3L -> 0L, 4L -> 0L, 5L -> 0L))
    val r2 = Graph.pageRankPersonalized(e, seeds, 2)
      .as[(Long, Long)].collect().toMap
    assert(r2 == Map(1L -> 150000L, 2L -> 127500L, 3L -> 722500L,
      4L -> 0L, 5L -> 0L))
  }

  test("kCore: multi-round peel to fixpoint, loud on truncation, empty core") {
    // triangle {1,2,3} + a tail 3−4−5: k=2 peels 5 (deg 1), then 4,
    // leaving the triangle — two genuine rounds + the converged check
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val core = Graph.kCore(e, k = 2).as[(Long, Long)].collect().toMap
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // k=3: everything peels away
    assert(Graph.kCore(e, k = 3).isEmpty)
    // truncating the loop must throw, never return the superset
    intercept[IllegalStateException] {
      Graph.kCore(e, k = 2, maxIter = 1).collect()
    }
    // duplicate/reversed edges and self-loops normalize away
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L), (2L, 2L))
      .toDF("src", "dst")
    assert(Graph.kCore(messy, k = 2).as[(Long, Long)].collect().toMap ==
      Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("labelPropagation: hand rounds, min-label ties, synchronous update") {
    // two triangles {1,2,3} and {4,5,6} joined by a 3−4 bridge
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L), (6L, 4L),
      (3L, 4L)).toDF("src", "dst")
    // round 1 (all labels = own id, every neighbor label count is 1 →
    // min neighbor label wins): 1→2 (nbrs {2,3}), 2→1, 3→1 (nbrs
    // {1,2,4}), 4→3 (nbrs {3,5,6}), 5→4, 6→4
    val r1 = Graph.labelPropagation(e, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 4L, 6L -> 4L))
    // round 2 from r1 (synchronous — votes read ROUND-1 labels):
    // 1: nbrs 2,3 → labels {1,1} → 1
    // 2: nbrs 1,3 → labels {2,1} → tie → 1
    // 3: nbrs 1,2,4 → labels {2,1,3} → tie → 1
    // 4: nbrs 3,5,6 → labels {1,4,4} → 4
    // 5: nbrs 4,6 → labels {3,4} → tie → 3
    // 6: nbrs 4,5 → labels {3,4} → tie → 3
    val r2 = Graph.labelPropagation(e, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(r2 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 3L, 6L -> 3L))
    // duplicate/reversed edges and self-loops normalize away: same r1
    val messy = e.union(Seq((2L, 1L), (1L, 1L), (2L, 3L)).toDF("src", "dst"))
    assert(Graph.labelPropagation(messy, rounds = 1)
      .as[(Long, Long)].collect().toMap == r1)
    intercept[IllegalArgumentException] {
      Graph.labelPropagation(e, rounds = 0)
    }
  }

  test("liftPairs: hand-computed lifts, minShared cut, group cap") {
    // groups: g1{A,B} g2{A,B} g3{A,C} g4{B} — N=4, deg A=3 B=3 C=1
    val m = Seq(("g1", "A"), ("g1", "B"), ("g2", "A"), ("g2", "B"),
      ("g3", "A"), ("g3", "C"), ("g4", "B"), ("g1", "A") /* dup row dedups */)
      .toDF("g", "i")
    val got = Graph.liftPairs(m, "g", "i")
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // lift(A,B) = 2·4·10^6 div (3·3) = 888888; lift(A,C) = 1·4·10^6 div 3
    assert(got == Map(
      ("A", "B") -> ((2L, 888888L)),
      ("A", "C") -> ((1L, 1333333L))))
    // minShared cuts the singleton pair
    assert(Graph.liftPairs(m, "g", "i", minShared = 2L)
      .as[(String, String, Long, Long)].collect().toSeq
      .map(r => (r._1, r._2)) == Seq(("A", "B")))
    // a group over the cap drops whole: g1/g2/g3 capped at 1 member → no pairs
    assert(Graph.liftPairs(m, "g", "i", maxGroupItems = 1L).isEmpty)
  }

  /** The `repartition(src)` exchanges in the plans of every action run
    * by `body` (eager checkpoints included), counted from the session's
    * query-execution events. A marker query run after `body` flushes the
    * listener queue, so every event of `body` has arrived when it does. */
  private def srcRepartitions(body: => Unit): Int = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL, ShuffleExchangeExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    val marker = "__graph_spec_flush"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val helper = new AdaptiveSparkPlanHelper {}
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.exists(_.name == marker)) flushed.countDown()
        else seen.add(helper.collect(qe.executedPlan) {
          case s: ShuffleExchangeExec if s.shuffleOrigin == REPARTITION_BY_COL &&
              (s.outputPartitioning match {
                case HashPartitioning(Seq(a: AttributeReference), _) => a.name == "src"
                case _ => false
              }) => s
        }.size)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF(marker).collect()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the marker query's event never arrived")
    } finally spark.listenerManager.unregister(listener)
    seen.toArray.map(_.asInstanceOf[Int]).sum
  }

  test("pageRank*: one src repartition per call, ranks unchanged on a pre-checkpointed graph") {
    import org.apache.spark.sql.functions.col
    val we = Seq((1L, 2L, 3L), (2L, 1L, 1L), (1L, 3L, 1L), (4L, 1L, 2L))
      .toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("node")
    val calls: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)] = Seq(
      ("pageRankFixed", Graph.pageRankFixed(_, 3), edges),
      ("pageRankWeightedFixed", Graph.pageRankWeightedFixed(_, 3), we),
      ("pageRankPersonalized", Graph.pageRankPersonalized(_, seeds, 3), edges))
    calls.foreach { case (name, pr, in) =>
      def ranks(g: org.apache.spark.sql.DataFrame) =
        pr(g).as[(Long, Long)].collect().toMap
      var lazyRanks = Map.empty[Long, Long]
      assert(srcRepartitions { lazyRanks = ranks(in) } == 1, name)
      // the q175 shape: the caller already holds a src-partitioned
      // checkpoint; the operator repartitions it once more, same ranks
      val shared = in.repartition(col("src")).localCheckpoint(true)
      var sharedRanks = Map.empty[Long, Long]
      assert(srcRepartitions { sharedRanks = ranks(shared) } == 1, name)
      assert(sharedRanks == lazyRanks, name)
    }
  }

  test("edge shape is enforced") {
    intercept[IllegalArgumentException] {
      Graph.pageRankFixed(Seq((1L, 2L, 3L)).toDF("a", "b", "c"), 1)
    }
    intercept[IllegalArgumentException] {
      Graph.pageRankFixed(edges, 0)
    }
  }
}
