package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Physical-plan regression guards: the similarity/dedup operators must
  * stay equi-join-shaped — a BroadcastNestedLoopJoin or CartesianProduct
  * appearing in these plans is the difference between O(corpus) and
  * O(corpus²) at scale, regardless of what the row counts say at test SF.
  */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.5f, 0.2f)),
    (2L, Array(0.9f, 0.1f, 0.4f, 0.2f)),
    (3L, Array(-1.0f, 0.3f, 0.0f, 0.7f)),
    (4L, Array(0.0f, -0.2f, 0.8f, 0.1f))
  ).toDF("vec_id", "embedding")

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "completely different text body here now")
  ).toDF("doc_id", "text")

  private def physicalPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def assertNoQuadraticJoin(plan: String, what: String): Unit = {
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"$what plan contains BroadcastNestedLoopJoin")
    assert(!plan.contains("CartesianProduct"),
      s"$what plan contains CartesianProduct")
  }

  test("saltedLeftJoin spreads the hot key over >1 task; the plain shuffle join lands it on 1") {
    // q63 proves output-invariance; this guards the MECHANISM: after the
    // join's shuffle, the hot key's rows must occupy more than one
    // partition (= task) when salted, exactly one when not. AQE and
    // broadcast are pinned off: a broadcast join would not shuffle the
    // fact side at all, and AQE's coalescing/skew-split would rewrite the
    // very partitioning under test.
    val conf = spark.conf
    val prevAqe = conf.get("spark.sql.adaptive.enabled")
    val prevBc = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.adaptive.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // 320/400 rows on the hot key 7 — bit-identical duplicates included
      // (the content-hash failure mode the position salt exists for)
      val fact = (0 until 400)
        .map(i => (i.toLong, if (i % 5 != 4) 7L else (i % 10).toLong))
        .toDF("row_id", "k")
      val dim = (0 until 10).map(i => (i.toLong, s"p$i")).toDF("k", "p")
      def hotTaskCount(df: org.apache.spark.sql.DataFrame): Int =
        df.filter(col("k") === 7).rdd
          .mapPartitions(it => Iterator.single(it.size))
          .collect().count(_ > 0)
      assert(hotTaskCount(fact.join(dim, Seq("k"), "left")) == 1,
        "unsalted hash join should funnel the hot key to one task")
      val spread = hotTaskCount(Relational.saltedLeftJoin(fact, dim, Seq("k"), buckets = 16))
      assert(spread > 1, s"salting left the hot key on $spread task(s)")
    } finally {
      conf.set("spark.sql.adaptive.enabled", prevAqe)
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("nearDupPairsLsh candidate generation is equi-join only") {
    val df = Similarity.nearDupPairsLsh(vecs, "vec_id", "embedding",
      minMicro = 400000L, planes = 3, dims = 4, tables = 6)
    assertNoQuadraticJoin(physicalPlan(df), "nearDupPairsLsh")
    assert(df.count() >= 1) // near-identical vectors 1 and 2 found
  }

  test("nearDupPairs (bounded exact variant) scores every a<b pair with the exact cosine") {
    val tiny = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f, 0.0f)),  // identical to 1
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),  // orthogonal
      (4L, Array(0.0f, 0.0f, 0.0f, 0.0f)))  // zero-norm: excluded
      .toDF("vec_id", "embedding")
    val got = Similarity.nearDupPairs(tiny, "vec_id", "embedding", minMicro = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 1000000L), (1L, 3L, 0L), (2L, 3L, 0L)))
  }

  test("lshBandKeys over the wide signature equals minhashIndex's band keys") {
    val keysFromWide = Dedup.lshBandKeys(
      Dedup.minhashSignature(docs, "doc_id", "text"), "doc_id", bands = 4, rowsPerBand = 4)
      .select("doc_id", "band", "band_key")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val keysFromIndex = Dedup.minhashIndex(docs, "doc_id", "text")
      .select("doc_id", "band", "band_key")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(keysFromWide == keysFromIndex)
    assert(keysFromWide.nonEmpty)
  }

  test("annTopK candidate generation is equi-join only") {
    val df = Similarity.annTopK(vecs, "vec_id", "embedding",
      k = 2, planes = 2, dims = 4, queryFilter = col("vec_id") === 1L)
    assertNoQuadraticJoin(physicalPlan(df), "annTopK")
  }

  test("jaccard, minhash, simhash and index-probe pair generation are equi-join only") {
    for ((name, df) <- Seq(
        "jaccardPairs" -> Dedup.jaccardPairs(docs, "doc_id", "text",
          maxShingleDocFreq = Some(100)),
        "jaccardPairsPrefix" -> Dedup.jaccardPairsPrefix(docs, "doc_id", "text"),
        "minhashLshPairs" -> Dedup.minhashLshPairs(docs, "doc_id", "text"),
        "simhashPairs" -> Dedup.simhashPairs(docs, "doc_id", "text"),
        "minhashProbe" -> Dedup.minhashProbe(docs,
          Dedup.minhashIndex(docs, "doc_id", "text"), "doc_id", "text")))
      assertNoQuadraticJoin(physicalPlan(df), name)
  }

  test("simhash chunk-frequency cap is a no-op on low-frequency data") {
    // every chunk key here occurs in ≤2 docs, far under the cap — the
    // skew guard must not change a single pair or hamming value
    val uncapped = Dedup.simhashPairs(docs, "doc_id", "text").collect().map(_.toSeq).toSet
    val capped = Dedup.simhashPairs(docs, "doc_id", "text",
      maxChunkDocFreq = Some(200)).collect().map(_.toSeq).toSet
    assert(capped == uncapped)
  }

  test("jaccard doc-frequency cap is a no-op on low-frequency data") {
    // every shingle here occurs in ≤2 docs, far under the cap — the skew
    // guard must not change a single pair or similarity value
    val uncapped = Dedup.jaccardPairs(docs, "doc_id", "text").collect().map(_.toSeq).toSet
    val capped = Dedup.jaccardPairs(docs, "doc_id", "text",
      maxShingleDocFreq = Some(100)).collect().map(_.toSeq).toSet
    assert(capped == uncapped)
    assert(uncapped.nonEmpty) // docs 1 and 2 share most shingles
  }

  test("quantizeInt8: values bounded, dequantize error within half a step, zero vectors excluded") {
    val withZero = vecs.unionByName(
      Seq((9L, Array(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding"))
    val q = Similarity.quantizeInt8(withZero, "vec_id", "embedding")
    val rows = q.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(!rows.exists(_._1 == 9L), "zero vector must be excluded")
    assert(rows.map(_._1).toSet == Set(1L, 2L, 3L, 4L))
    assert(rows.forall(r => r._3 >= -127 && r._3 <= 127))
    // the max-abs dim quantizes to exactly +/-127
    assert(rows.filter(_._1 == 3L).map(_._3).min == -127)
    // dequantized value stays within half a quantization step of the input
    val orig = withZero.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    rows.foreach { case (id, dim, qv, scaleMicro) =>
      val scale = scaleMicro / 1e6
      val err = math.abs(qv * scale - orig(id)(dim))
      assert(err <= scale / 2 + 1e-6, s"id=$id dim=$dim err=$err scale=$scale")
    }
  }

  test("lshAutoPlanes: boundaries exact in integer arithmetic") {
    // corpus at or under the target → 1 plane (bucket count floor)
    assert(Similarity.lshAutoPlanes(1L) == 1)
    assert(Similarity.lshAutoPlanes(256L) == 1)
    // one past a bucket boundary bumps the count; exact powers of two
    // must NOT overshoot (the float-log failure mode this formula avoids)
    assert(Similarity.lshAutoPlanes(512L) == 1)   // ceil(512/256)=2 → 1 plane
    assert(Similarity.lshAutoPlanes(513L) == 2)
    assert(Similarity.lshAutoPlanes(2000L) == 3)  // the sf0.1 embeddings point
    assert(Similarity.lshAutoPlanes(2048L) == 3)
    assert(Similarity.lshAutoPlanes(20000L) == 7) // the sf1 point
    // cap at 62: bucket ids are one long
    assert(Similarity.lshAutoPlanes(Long.MaxValue, 1L) == 62)
    // custom target
    assert(Similarity.lshAutoPlanes(1000L, 100L) == 4) // ceil(1000/100)=10 → 4
    // positivity requires
    intercept[IllegalArgumentException](Similarity.lshAutoPlanes(0L))
    intercept[IllegalArgumentException](Similarity.lshAutoPlanes(-5L))
    intercept[IllegalArgumentException](Similarity.lshAutoPlanes(10L, 0L))
  }

  test("nearDupPairsLshAuto: knownRows sizing, empty corpus, equi-join shape") {
    // auto with knownRows must equal the pinned form at the derived count
    val auto = Similarity.nearDupPairsLshAuto(vecs, "vec_id", "embedding",
      minMicro = 100000L, dims = 4, tables = 6, targetBucketRows = 2,
      knownRows = Some(4L))
    val pinned = Similarity.nearDupPairsLsh(vecs, "vec_id", "embedding",
      minMicro = 100000L, planes = Similarity.lshAutoPlanes(4L, 2L),
      dims = 4, tables = 6)
    assert(auto.collect().map(_.toSeq).toSet == pinned.collect().map(_.toSeq).toSet)
    assertNoQuadraticJoin(physicalPlan(auto), "nearDupPairsLshAuto")
    assert(auto.count() >= 1) // vectors 1 and 2 are near-identical
    // empty corpus (knownRows = Some(0) and a genuinely empty frame):
    // empty result, no positivity require bubbling out of lshAutoPlanes
    val empty = vecs.filter(col("vec_id") < 0)
    assert(Similarity.nearDupPairsLshAuto(empty, "vec_id", "embedding",
      minMicro = 0L, dims = 4, knownRows = Some(0L)).count() == 0)
    assert(Similarity.nearDupPairsLshAuto(empty, "vec_id", "embedding",
      minMicro = 0L, dims = 4).count() == 0)
  }

  test("curation near-dup stage routes through banded LSH, not the exact-Jaccard join") {
    // q57's near-dup stage is Dedup.nearDupSurvivors, whose candidate
    // generation is minhashLshPairs' banded equi-join (linear in the
    // corpus at fixed banding) — NOT jaccardPairs' shared-shingle join
    // (quadratic in shingle doc frequency; scale contract on
    // jaccardPairs). The survivors themselves can't expose the pair
    // plan (connected components checkpoints per round), so assert the
    // routing on the pair generator the stage composes, plus the
    // survivor output itself.
    val pairPlan = physicalPlan(Dedup.minhashLshPairs(docs, "doc_id", "text"))
    assertNoQuadraticJoin(pairPlan, "curation pair generation")
    assert(pairPlan.contains("band_key"),
      "curation candidate generation must join on LSH band keys")
    assert(!pairPlan.contains("__sh"),
      "curation candidate generation must not use the raw-shingle self-join")
    // signature-identical copy → guaranteed candidate pair → one cluster
    // with the min id surviving; doc 3 is its own singleton cluster
    val ndDocs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different text body here now")).toDF("doc_id", "text")
    val survivors = Dedup.nearDupSurvivors(ndDocs, "doc_id", "text")
    assertNoQuadraticJoin(physicalPlan(survivors), "nearDupSurvivors")
    assert(survivors.select("doc_id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 3L)))
  }

  test("lshIndex survives a partitioned parquet round-trip (by-name probe binding)") {
    // partitionBy("tbl") reorders columns on read-back (partition column
    // last) — indexProbeJoin must bind by name, or bucket ids silently
    // relabel and every probe result empties (the probeJoin lesson)
    val dir = java.nio.file.Files.createTempDirectory("graft-lshidx").toString
    val index = Similarity.lshIndex(vecs, "vec_id", "embedding",
      planes = 2, dims = 4, tables = 4)
    index.write.mode("overwrite").partitionBy("tbl").parquet(dir)
    val readBack = spark.read.parquet(dir)
    assert(readBack.columns.toSeq != index.columns.toSeq,
      "fixture should exercise the reordered-columns case")
    val probes = Seq((101L, Array(1.0f, 0.01f, 0.5f, 0.2f)))
      .toDF("vec_id", "embedding")
    def probe(ix: org.apache.spark.sql.DataFrame) =
      Similarity.lshIndexProbe(probes, ix, "vec_id", "embedding",
        minMicro = 900000L, planes = 2, dims = 4, tables = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fromDisk = probe(readBack)
    assert(fromDisk == probe(index))
    assert(fromDisk.exists(p => p._1 == 101L && p._2 == 1L),
      "near-identical corpus vector must be found through the persisted index")
  }

  test("multi-table LSH recall beats single-table at equal cosine") {
    val single = Similarity.nearDupPairsLsh(vecs, "vec_id", "embedding",
      minMicro = 100000L, planes = 3, dims = 4, tables = 1).count()
    val multi = Similarity.nearDupPairsLsh(vecs, "vec_id", "embedding",
      minMicro = 100000L, planes = 3, dims = 4, tables = 8).count()
    assert(multi >= single)
  }

  test("rollingAgg routes frame vs ledger by density, answer-invariant") {
    // one key, 40 events, value = event id; width chosen so the whole
    // series sits inside ~2 frame widths (dense) — the auto estimate
    // must then route to the ledger at a low crossover, and to the
    // frame when the caller hints sparse density
    val events = (1 to 40).map(i => (1L, i.toLong, i.toLong * 10, i.toLong))
      .toDF("user_id", "event_id", "ts_us", "value")
    def run(hint: Option[Double], crossover: Double = 200.0) =
      Relational.rollingAgg(events, Seq("user_id"), "ts_us", "event_id",
        col("value").cast("decimal(18,2)"), width = 200L,
        eventsPerFrameHint = hint, crossover = crossover)
    // route choice shows in the window frame type: RANGE frame vs the
    // ledger's explode (Generate) + running-sum ROWS frame
    val framePlan = physicalPlan(run(hint = Some(5.0)))
    assert(framePlan.contains("RangeFrame") && !framePlan.contains("Generate"),
      "sparse hint must route to the RANGE frame")
    val ledgerPlan = physicalPlan(run(hint = Some(500.0)))
    assert(ledgerPlan.contains("Generate") && !ledgerPlan.contains("RangeFrame"),
      "dense hint must route to the add/remove ledger")
    // auto estimate: 40 events spanning 390 time units with width 200 →
    // mean frame occupancy ≈ 40·200/590 ≈ 13.6 — ledger above a
    // crossover of 10, frame at the default 200
    assert(physicalPlan(run(hint = None, crossover = 10.0)).contains("Generate"),
      "auto estimate must route dense data to the ledger")
    assert(physicalPlan(run(hint = None)).contains("RangeFrame"),
      "auto estimate must route bounded-density data to the frame")
    // routing never changes the answer: both plans, same rows
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("user_id"), col("event_id"), col("n_trail"),
        col("sum_trail").cast("double")).collect().map(_.toSeq).toSet
    assert(rows(run(hint = Some(5.0))) == rows(run(hint = Some(500.0))))
    // spot-check one frame: event 10 at t=100, frame [−100, 100] holds
    // events 1..10 → n=10, sum=55
    val e10 = run(hint = Some(500.0)).filter(col("event_id") === 10).head()
    assert(e10.getAs[Long]("n_trail") == 10L)
    assert(e10.getAs[java.math.BigDecimal]("sum_trail").doubleValue() == 55.0)
  }

  test("rollingAgg: row-weighted density estimate routes a hidden dense key to the ledger") {
    // 1,000 sparse keys (one event each, occupancy 1) hiding one dense
    // key with 5,000 events inside a single frame width. A per-KEY mean
    // reads ~5.8 (sparse keys dominate the key count) and would pick
    // the RANGE frame — whose cost on the dense key is 5,000 × ~5,000
    // re-aggregated frame rows, the exact quadratic cliff the router
    // exists to avoid. The ROW-weighted mean reads ~4,000 (the dense
    // key dominates the row count exactly as it dominates the cost)
    // and must route to the ledger.
    val sparse = (1 to 1000).map(k => (k.toLong, 1L, k.toLong * 10000, 1L))
    val dense = (1 to 5000).map(i => (0L, i.toLong + 1, i.toLong, 1L))
    val events = (sparse ++ dense).toDF("user_id", "event_id", "ts_us", "value")
    val routed = Relational.rollingAgg(events, Seq("user_id"), "ts_us", "event_id",
      col("value").cast("decimal(18,2)"), width = 10000L)
    assert(physicalPlan(routed).contains("Generate"),
      "row-weighted estimate must surface the hidden dense key and pick the ledger")
  }

  // ------------------------------------------------- full-query plan guards

  private val sfDir = "/root/testdata/sf0.001"
  private def queryPlan(name: String): String =
    physicalPlan(graft.SparkEntry.queries(name)(spark, sfDir))

  test("heavy queries stay equi-join-shaped end to end") {
    for (name <- Seq("q27_minhash_lsh", "q40_dedup_clusters", "q57_curate_pipeline",
        "q68_embedding_probe", "q70_incremental_ingest", "q71_embedding_ingest",
        "q72_incremental_curate"))
      assertNoQuadraticJoin(queryPlan(name), name)
  }

  /** Execute a query and return its FINAL adaptive plan (the section
    * before AQE's echoed "Initial Plan") — the only view that shows
    * runtime exchange/stage reuse. */
  private def executedFinalPlan(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    df.collect() // finalizes THIS QueryExecution's adaptive plan
    df.queryExecution.executedPlan.toString.split("Initial Plan").head
  }

  test("q47 IVF: only the two group-limited centroid crosses, both bounded") {
    // corpus × broadcast-centroids is the IVF scoring step — a BOUNDED
    // nested-loop against an nCells-row build side (documented in
    // Similarity.ivfTopK). It runs twice BY DESIGN: the assignment
    // consumer and the probe consumer each get their own copy carrying a
    // map-side WindowGroupLimit (limit 1 vs limit nProbe) pushed below
    // the shuffle, so each pass moves only its pruned rows. Forcing the
    // subtrees to share (persist) would materialize the UN-limited
    // corpus × nCells relation — strictly worse at scale. The guards:
    // nothing beyond those two, and both carry their group-limit.
    val plan = queryPlan("q47_ivf_topk")
    assert(!plan.contains("CartesianProduct"), "q47 plan contains CartesianProduct")
    val static = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(static <= 2, s"q47 expected at most the 2 centroid-cross copies, found $static")
    val finalPlan = executedFinalPlan("q47_ivf_topk")
    val live = finalPlan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(live <= 2, s"q47 expected at most 2 bounded centroid crosses, found $live")
    val groupLimits = finalPlan.linesIterator.count(_.contains("WindowGroupLimit"))
    assert(groupLimits >= 4, // partial+final per consumer
      s"q47 expected map-side group-limit pruning on both cross consumers, found $groupLimits")
  }

  test("q03/q16 dimension joins broadcast (no shuffled dim-fact join)") {
    for (name <- Seq("q03_region_revenue", "q16_rollup")) {
      val plan = queryPlan(name)
      assertNoQuadraticJoin(plan, name)
      assert(plan.contains("BroadcastHashJoin"),
        s"$name: dimension join is not a broadcast hash join")
    }
  }

  test("q27 signatures are per-row (no aggregation) and the self-join reuses one exchange") {
    // Signatures are computed by the native per-row MinHashSig expression
    // (functions/MinHashSig.scala) — the plan must contain NO signature
    // aggregation at all (the former explode + 16-way min shape), and the
    // banded self-join's two identical inputs must share one shuffle via
    // runtime exchange reuse. The only aggregation left is the pair
    // distinct.
    val finalPlan = executedFinalPlan("q27_minhash_lsh")
    val sigAggs = finalPlan.linesIterator.count(_.contains("partial_min"))
    assert(sigAggs == 0,
      s"expected no signature aggregation (per-row expression), found $sigAggs")
    assert(finalPlan.contains("minhash_sig"),
      "expected the native minhash_sig expression in the plan")
    // the expensive expression must appear once per join side (Project),
    // never doubled into a Filter/scan predicate
    val sigEvals = "minhash_sig".r.findAllIn(finalPlan).size
    assert(sigEvals <= 2,
      s"expected ≤2 minhash_sig evaluations (one per join side), found $sigEvals")
    // small-relation regime: AQE broadcasts one side (no exchange to
    // share); at scale both sides shuffle and canonicalize to one
    // reused exchange — accept either, reject a plain two-shuffle join
    val reused = finalPlan.linesIterator.count(_.contains("ReusedExchange"))
    val bcast = finalPlan.contains("BroadcastHashJoin")
    assert(reused >= 1 || bcast,
      "expected the banded self-join to broadcast or share one exchange")
  }

  test("skewReport: one aggregation exchange (total reuses it), top-N is a TakeOrdered") {
    // the report must stay a one-shuffle plan at any key cardinality:
    // the total is an O(distinct-keys) re-aggregation of the SAME
    // grouped exchange (runtime exchange reuse), broadcast back; the
    // top-N cut is a TakeOrdered, never a global sort of the counts
    val df = spark.range(50000).select((col("id") % 97).as("k"))
    val rep = Quality.skewReport(df, Seq("k"), topN = 5)
    rep.collect() // materialize so AQE finalizes the plan
    val plan = rep.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      "top-N must be a TakeOrdered, not Sort+Limit over an exchange")
    // the one allowed nested-loop is the documented bounded cross: the
    // SINGLE-ROW total broadcast back onto the counts (IdentityBroadcastMode
    // over a global aggregate) — any other nested-loop shape is the
    // quadratic hazard this suite rejects everywhere
    assert(plan.contains("IdentityBroadcastMode"),
      "the total must join back as a single-row broadcast")
    assert(!plan.contains("CartesianProduct"), "no shuffled cartesian")
    // the total's re-aggregation must REUSE the counts exchange — the
    // corpus is scanned once, never twice
    val finalSection = plan.split("== Initial Plan ==").head
    assert(finalSection.linesIterator.count(_.contains("ReusedExchange")) >= 1,
      s"the total must reuse the counts exchange, not rescan the corpus:\n$plan")
    assert("Range \\(0, 50000".r.findAllIn(finalSection).size <= 1,
      "the corpus must be scanned exactly once")
  }

  test("persisted IVF probe prunes the scan to the probed cell partitions") {
    // the point of partitionBy("cell") + the isin pushdown: a probe of
    // nProbe cells must read ONLY those partition directories. Asserted
    // on the scan's PartitionFilters, plus matched/mismatched stamps.
    val corpus = (0L until 64L).map { i =>
      (i, Array(math.cos(i * 0.7).toFloat, math.sin(i * 0.7).toFloat,
        math.cos(i * 0.3).toFloat, math.sin(i * 0.3).toFloat))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/ix"
    Similarity.ivfIndex(corpus, "vec_id", "embedding", nCells = 4, dims = 4)
      .write.mode("overwrite").partitionBy("cell").parquet(dir)
    val index = spark.read.parquet(dir)
    val probes = Seq((100L, Array(1.0f, 0.05f, 1.0f, 0.05f))).toDF("vec_id", "embedding")
    val result = Similarity.ivfIndexProbe(probes, index, "vec_id", "embedding",
      k = 3, nProbe = 2, nCells = 4, dims = 4)
    // the CANDIDATE scan (the heavy one) must carry the probed-cell
    // partition filter; the two tiny centroid-reconstruction scans
    // legitimately carry none (they are row-group-pruned by the pushed
    // is_cent filter instead — also asserted)
    val plan = physicalPlan(result).replaceAll("\\s", "")
    assert(plan.contains("PartitionFilters:[cell"),
      s"expected a probed-cell partition filter on the candidate scan:\n$plan")
    assert(plan.contains("EqualTo(is_cent,true)"),
      s"expected the centroid scan's is_cent filter pushed to parquet:\n$plan")
    val rows = result.collect()
    assert(rows.length == 3, s"expected k=3 neighbors, got ${rows.length}")
    assert(rows.map(_.getAs[Long]("rank")).sorted.sameElements(Array(1L, 2L, 3L)))
    // stamp mismatch (different cell count) raises instead of probing
    // the wrong cell space
    val t = intercept[Throwable](
      Similarity.ivfIndexProbe(probes, index, "vec_id", "embedding",
        k = 3, nProbe = 2, nCells = 8, dims = 4).count())
    val messages = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString("\n")
    assert(messages.contains("build-parameter mismatch"), messages)

    // extend: new vectors land under the inherited stamp and centroids,
    // a probe through the grown + COMPACTED index finds them, and the
    // swap-compaction preserves probe results exactly
    val extra = Seq((200L, Array(1.0f, 0.04f, 1.0f, 0.06f)))
      .toDF("vec_id", "embedding")
    Similarity.ivfIndexExtend(index, extra, "vec_id", "embedding")
      .write.mode("append").partitionBy("cell").parquet(dir)
    val grown = spark.read.parquet(dir)
    assert(grown.count() == 65 &&
      grown.filter(col("is_cent")).count() == 4,
      "extend must append exactly the new rows, none as centroids")
    def probeIds(ix: org.apache.spark.sql.DataFrame) =
      Similarity.ivfIndexProbe(probes, ix, "vec_id", "embedding",
        k = 3, nProbe = 2, nCells = 4, dims = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val beforeCompact = probeIds(grown)
    assert(beforeCompact.exists(_._2 == 200L),
      "probe near the appended vector must surface it")
    IndexOps.compactSwapIvf(spark, dir, "vec_id")
    assert(probeIds(spark.read.parquet(dir)) == beforeCompact,
      "compaction changed probe results")
    // extending a mixed-stamp directory refuses (no sleep needed: the
    // freshness token's file-count/bytes components catch a same-tick
    // append)
    IndexStamp.stamp(
        spark.read.parquet(dir).drop("ix_cells", "ix_dims").limit(1),
        Seq("ix_cells" -> 9, "ix_dims" -> 4))
      .write.mode("append").partitionBy("cell").parquet(dir)
    val e = intercept[IllegalArgumentException](
      Similarity.ivfIndexExtend(spark.read.parquet(dir), extra, "vec_id", "embedding"))
    assert(e.getMessage.contains("different builds"), e.getMessage)
  }

  test("asOfJoin is one shuffle — a single hash exchange on the key, no join node") {
    val left = Seq((1L, 100L, "p")).toDF("k", "lts", "pay")
    val right = Seq((1L, 50L, 0.5)).toDF("k", "rts", "v")
    for (dirn <- Seq("backward", "forward", "nearest")) {
      val plan = physicalPlan(Temporal.asOfJoin(
        left, right, Seq("k"), "lts", "rts", rightVals = Seq("v"),
        direction = dirn))
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 1,
        s"$dirn: expected exactly 1 hash exchange, got $exchanges:\n$plan")
      assert(!plan.contains("Join"), s"$dirn: union-window as-of must not plan a join:\n$plan")
    }
  }

  test("keyed rangeJoin and intervalOverlapJoin stay equi-join-shaped") {
    val points = Seq((1L, 5L)).toDF("k", "p")
    val iv = Seq((1L, 0L, 10L, "a")).toDF("k", "lo", "hi", "tag")
    // With keys, even the wide-interval stratum joins on the key
    // equi-condition (broadcast hash), so NOTHING in the plan is a
    // nested loop. (Keyless rangeJoin's wide stratum is the documented
    // broadcast-loop exception — bounded by the routing contract.)
    val rj = physicalPlan(Temporal.rangeJoin(
      points, iv, Seq("k"), "p", "lo", "hi", bucketWidth = 4L))
    assertNoQuadraticJoin(rj, "keyed rangeJoin")

    val b = Seq((1L, 3L, 7L, "b")).toDF("k", "lo", "hi", "tag")
    val oj = physicalPlan(Temporal.intervalOverlapJoin(
      iv, b, Seq("k"), "lo", "hi", "lo", "hi", bucketWidth = 4L))
    assertNoQuadraticJoin(oj, "intervalOverlapJoin")
  }

  test("shardAssign is shuffle-free; the balanced prefix sum plans exactly two exchanges") {
    val docs = spark.range(500).select(
      col("id").as("doc_id"), (col("id") % 13 + 1).as("w"))
    // placement is a pure projection: no exchange anywhere
    val assignPlan = physicalPlan(graft.operators.Export.shardAssign(docs, "doc_id", 8))
    assert(!assignPlan.contains("Exchange"),
      s"shardAssign must be a pure projection:\n$assignPlan")
    // balancedShards' distributed prefix sum: one exchange for the
    // partitioned window, one broadcast for the offsets — never a
    // global (empty-partition) window, never a range-sampling pass
    val bal = graft.operators.Export.balancedShards(docs, "doc_id", "w", 8, nParts = 8)
    val balPlan = physicalPlan(bal)
    val hashEx = "Exchange hashpartitioning".r.findAllIn(balPlan).length
    assert(hashEx == 1, s"expected 1 hash exchange (the window), got $hashEx:\n$balPlan")
    assert(!balPlan.contains("Exchange rangepartitioning"),
      s"balancedShards must not range-sample:\n$balPlan")
    assert(!balPlan.contains("Exchange SinglePartition"),
      s"balancedShards must not funnel through one partition:\n$balPlan")
    assert(balPlan.contains("BroadcastExchange"),
      s"offsets must ride a broadcast join:\n$balPlan")
    assertNoQuadraticJoin(balPlan, "balancedShards")
  }

  test("readShardFrom: shard partition-prunes, ord reaches the scan as a pushed filter") {
    val dir = java.nio.file.Files.createTempDirectory("resume_plan").toString + "/exp"
    val docs = spark.range(200).select(
      col("id").as("doc_id"), concat(lit("t"), col("id")).as("text"))
    graft.operators.Export.shardedWrite(spark, docs.repartition(32), "doc_id",
      Seq("doc_id", "text"), 4, dir)
    val resumed = graft.operators.Export.readShardFrom(spark, dir, 2, 1L << 59)
    resumed.collect()
    val plan = resumed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("shard"),
      s"shard must prune partitions:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(ord"),
      s"ord must reach the parquet scan for row-group pruning:\n$plan")
  }

  test("export writeLayout: one hash exchange as wide as the input, not capped at nShards") {
    val docs = spark.range(500).select(
      col("id").as("doc_id"), concat(lit("t"), col("id")).as("text"))
    val assigned = graft.operators.Export.shardAssign(docs.repartition(32), "doc_id", 4)
    val laid = graft.operators.Export.writeLayout(
      assigned, 4, graft.operators.Export.writeTasks(assigned, 4))
    val plan = physicalPlan(laid)
    // exactly one data exchange for the write, hash (sampling-free —
    // no range partitioning job over the input plan), 32 partitions
    // wide even though nShards is 4
    assert(!plan.contains("Exchange rangepartitioning"),
      s"writeLayout must not pay a range-sampling pass:\n$plan")
    assert(plan.contains("REPARTITION_BY_NUM"), s"explicit task count expected:\n$plan")
    assert(laid.rdd.getNumPartitions == 32,
      s"write parallelism must follow the input (32), got ${laid.rdd.getNumPartitions}")
  }

  test("funnel: step filters push to the scans; per-key equi-joins only") {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_plan_funnel"
    spark.range(3000).select(
        (col("id") % 100).as("u"),
        (col("id") * 7L).as("ts"),
        when(col("id") % 3 === 0, "A").when(col("id") % 3 === 1, "B")
          .otherwise("C").as("step"))
      .write.mode("overwrite").parquet(dir)
    val plan = physicalPlan(Temporal.funnel(
      spark.read.parquet(dir), "u", "ts", "step", Seq("A", "B", "C")))
    assertNoQuadraticJoin(plan, "funnel")
    // every step slice reads through a scan with its equality pushed —
    // at 100 TB the non-step bulk must die at the parquet reader
    for (s <- Seq("A", "B", "C"))
      assert(plan.contains(s"EqualTo(step,$s)"),
        s"step '$s' filter must push to its scan:\n$plan")
  }

  test("ORC partitioned layout: the partition-column filter prunes, not row-filters") {
    val out = s"${sys.props("java.io.tmpdir")}/graft_plan_orc"
    spark.range(100).select(
        col("id").as("event_id"),
        when(col("id") % 2 === 0, "click").otherwise("view").as("event_type"),
        (col("id") * 2).cast("double").as("value"))
      .write.mode("overwrite").partitionBy("event_type").orc(out)
    val plan = physicalPlan(
      spark.read.orc(out).filter(col("event_type") === "click" && col("value") >= 10.0))
    assert(plan.contains("PartitionFilters") && plan.contains("event_type"),
      s"event_type must prune partitions at the ORC scan:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(value,10.0)"),
      s"the value predicate must push into the ORC reader:\n$plan")
  }

  test("retentionCohorts: raw events scanned once, no join node, cohort via window over the distinct") {
    val events = spark.range(2000).select(
      (col("id") % 37).as("user_id"),
      timestamp_micros(col("id") * 3600000000L).as("ts")).toDF()
    val r = Temporal.retentionCohorts(events, "user_id", "ts")
    r.collect() // finalize the adaptive plan
    val plan = r.queryExecution.executedPlan.toString.split("Initial Plan").head
    // the raw event body feeds the plan exactly once (the former
    // groupBy-min + join shape re-scanned it: min() is dedup-insensitive,
    // so Catalyst elided the distinct on the cohort branch and the
    // subtrees stopped sharing an exchange)
    assert("Range \\(0, 2000".r.findAllIn(plan).size == 1,
      s"raw events must be scanned exactly once in-plan:\n$plan")
    assert(!plan.contains("Join"),
      s"retention must carry no join node (window over the distinct):\n$plan")
    assert(plan.contains("Window"), "cohort must ride a window")
    // the distinct is the output-bounded (key, bucket) aggregation
    assert(plan.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("user_id") && l.contains("__wk")),
      s"the output-bounded (key, bucket) distinct must anchor the plan:\n$plan")
  }

  test("stripUnitsIn: heavy side broadcast into the match join, corpus body never shuffles on unit") {
    val corpus = spark.range(500).select(
      col("id").as("doc_id"),
      concat(lit("COMMON HEADER\nbody "), col("id").cast("string")).as("text"))
    val r = Boilerplate.stripBoilerplateLines(corpus.toDF(), "doc_id", "text", minDocs = 2)
    r.collect()
    val plan = r.queryExecution.executedPlan.toString.split("Initial Plan").head
    // the unit-keyed match join must BUILD the heavy side as a broadcast
    // (the pinned rationale on stripRepeatedUnits: heavy units ARE the
    // hot keys, and the static planner's Generate misestimate once
    // broadcast the exploded corpus) — never a sort-merge on unit
    assert(!plan.contains("SortMergeJoin"),
      s"the match join must not sort-merge on the hot unit key:\n$plan")
    val unitJoins = plan.linesIterator.filter(l =>
      l.contains("BroadcastHashJoin") && l.contains("unit")).toSeq
    assert(unitJoins.nonEmpty && unitJoins.forall(_.contains("BuildRight")),
      s"the heavy relation must be the broadcast build side:\n$plan")
    // unit-keyed exchanges exist ONLY inside the frequency aggregation
    // (map-side-deduped (unit, doc) pairs) — the exploded corpus flows
    // into the broadcast join probe side without an exchange of its own,
    // so exactly the two countDistinct stages shuffle on unit
    val unitExchanges = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(unit"))
    assert(unitExchanges <= 2,
      s"only the doc-frequency aggregation may shuffle on unit (got $unitExchanges):\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("ivfAssign: the assignment is a narrow projection — no cross, no exchange, no sort") {
    // the centroid argmax must stay the plan-embedded NearestCell
    // expression: a candidate cross re-appearing here re-opens the
    // 3.6 GB shuffle (rank window) or the cross sort (max_by as
    // SortAggregate) the r15 study closed
    // range-based, not a Seq local relation — Catalyst constant-folds a
    // LocalRelation source straight to a LocalTableScan and the plan
    // under test disappears
    val vecs = spark.range(1, 51).select(col("id").as("vec_id"),
      array((col("id") % 7 + 1).cast("float"),
        (col("id") % 5 + 1).cast("float")).as("embedding"))
    val ix = Similarity.ivfIndex(vecs, "vec_id", "embedding", nCells = 2, dims = 2)
    ix.collect()
    val plan = ix.queryExecution.executedPlan.toString.split("Initial Plan").head
    assert(plan.contains("nearest_cell"),
      s"assignment must be the per-row NearestCell expression:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"no candidate cross may exist in the assignment plan:\n$plan")
    assert(!plan.contains("Window"), "no rank window in the assignment")
    assert(!plan.contains("SortAggregate"), "no sorted aggregation in the assignment")
    // the only exchange is the prescribed cell-clustering repartition
    val exchanges = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges <= 1,
      s"only the cell-clustering repartition may exchange (got $exchanges):\n$plan")
  }

  test("JSON partitioned layout: the partition-column filter prunes directories") {
    val out = java.nio.file.Files.createTempDirectory("graft-json-plan").toString
    val docs = spark.read.parquet(sfDir + "/documents.parquet")
      .select("doc_id", "text", "lang", "n_chars")
    docs.write.mode("overwrite").partitionBy("lang").json(out)
    val plan = physicalPlan(
      spark.read.schema(docs.schema).json(out)
        .filter(col("lang") === "zh" && col("n_chars") >= 100))
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      s"lang must prune partitions at the JSON scan:\n$plan")
    // value predicates do not push into the JSON reader (no row-group
    // stats to push to) — but they must not silently disappear either
    assert(plan.contains("n_chars"), s"the value filter must survive:\n$plan")
  }

  test("searchTopK: term filter pre-shuffle, ONE corpus explode (df branch reuses the postings exchange), heap top-k") {
    val plan = executedFinalPlan("q133_search_topk")
    // the query-term filter must sit under the postings aggregation,
    // directly on the explode output — before anything shuffles
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be a per-partition heap, not a global sort:\n$plan")
    assert(!plan.split("\n").exists(l => l.contains("Sort ") && !l.contains("TakeOrdered")),
      s"no global sort may exist:\n$plan")
    // the corpus is exploded ONCE: the df/rarity branch shares the
    // scoring branch's postings exchange (the Σ[tf>0] trick in
    // TextSearch.searchTopK keeps the subtrees canonically equal)
    val explodes = plan.linesIterator.count(_.contains("Generate explode"))
    assert(explodes == 1,
      s"expected ONE corpus explode (exchange reuse), found $explodes:\n$plan")
    assert(plan.contains("ReusedExchange"),
      s"the df branch must reuse the postings exchange:\n$plan")
  }

  test("q146 disjunctive search: the OR dial keeps the conjunctive plan — ONE explode, reused exchange, heap top-k") {
    // minimum-should-match only changes the post-agg count filter; the
    // scale shape must be byte-for-byte the conjunctive one
    val plan = executedFinalPlan("q146_search_or")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be a per-partition heap, not a global sort:\n$plan")
    val explodes = plan.linesIterator.count(_.contains("Generate explode"))
    assert(explodes == 1,
      s"expected ONE corpus explode (exchange reuse), found $explodes:\n$plan")
    assert(plan.contains("ReusedExchange"),
      s"the df branch must reuse the postings exchange:\n$plan")
  }

  test("q148 store-BM25: doc lengths come from the sidecar — no full-store aggregation") {
    val plan = executedFinalPlan("q148_store_bm25")
    // every scan of the POSTINGS store must carry the pushed term
    // filter — an unfiltered store scan is the full-store doc-length
    // derivation the sidecar exists to replace
    val storeScans = plan.linesIterator.filter(l =>
      l.contains("Scan parquet") && l.contains("graft_searchix_p") &&
        !l.contains("__dl")).toSeq
    assert(storeScans.nonEmpty, s"expected postings-store scans:\n$plan")
    assert(storeScans.forall(_.contains("In(term")),
      "a postings-store scan without the pushed term filter = the " +
        s"full-store doc-length fallback leaked into the plan:\n$plan")
    // the doc-length relation is the SIDECAR scan
    assert(plan.linesIterator.exists(l =>
      l.contains("Scan parquet") && l.contains("__dl")),
      s"the doc-length sidecar scan must feed the plan:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be a per-partition heap:\n$plan")
  }

  test("q153 proximity: term filter under the explode, one window pass, no join, heap top-k") {
    val plan = executedFinalPlan("q153_proximity")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be a per-partition heap:\n$plan")
    // the min-distance construction is ONE window pass over the matched
    // positions — never a per-doc positions x positions self-join
    assert(!plan.contains("Join"),
      s"proximity must not join position sets:\n$plan")
    val explodes = plan.linesIterator.count(_.contains("Generate posexplode"))
    assert(explodes == 1, s"expected ONE positional explode:\n$plan")
    // only matched positions shuffle: the two-term filter sits between
    // the explode and the window exchange
    assert(plan.contains("Filter") && plan.contains("INSET") ||
      plan.linesIterator.exists(l => l.contains("Filter") && l.contains("term")),
      s"the term filter must cut the positional stream pre-shuffle:\n$plan")
  }

  test("q155 store proximity: the term filter is PARTITION PRUNING on the positional store") {
    val plan = executedFinalPlan("q155_store_proximity")
    assert(plan.contains("PartitionFilters") && plan.contains("term"),
      s"the two-term filter must prune the term-partitioned store:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be a per-partition heap:\n$plan")
    assert(!plan.contains("Join"),
      s"store proximity must not join position sets:\n$plan")
  }

  test("q161 store window proximity: three-way partition pruning, one window pass, no join") {
    val plan = executedFinalPlan("q161_store_window_proximity")
    assert(plan.contains("PartitionFilters") && plan.contains("term"),
      s"the k-term filter must prune the term-partitioned store:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be a per-partition heap:\n$plan")
    assert(!plan.contains("Join"),
      s"minimal-cover must be one window pass, never a positions^k join:\n$plan")
  }

  test("q162 store MLT: the probe-term universe prunes the store scan statically") {
    val plan = executedFinalPlan("q162_store_mlt")
    // the corpus side reads the persisted store with the LITERAL
    // probe-term filter in its partition pruning — corpus text untouched.
    // Column pruning strips the positions array (MLT needs tf only), so
    // match the store scan by its pruned (doc_id, tf) read schema.
    val storeScans = plan.linesIterator
      .filter(l => l.contains("Scan parquet") && l.contains("tf") &&
        l.contains("PartitionFilters"))
      .toSeq
    assert(storeScans.nonEmpty, s"expected pruned postings-store scans:\n$plan")
    assert(storeScans.forall(l => l.contains("term#") || l.contains("In(term")),
      s"the probe-term universe must prune the term-partitioned store:\n$plan")
    assert(!plan.contains("positions"),
      s"MLT must never read the positions array — column pruning lost:\n$plan")
  }

  test("q165 store ordered-near: pruned store, stacked chain windows share ONE sort, no join") {
    val plan = executedFinalPlan("q165_store_ordered_near")
    assert(plan.contains("PartitionFilters") && plan.contains("term"),
      s"the term filter must prune the term-partitioned store:\n$plan")
    assert(!plan.contains("Join"),
      s"the ordered-subsequence DP must never join position sets:\n$plan")
    // the |terms|−1 chain-start Window operators share one (partition,
    // order) spec → exactly ONE exchange feeds them
    val exchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(exchanges == 1,
      s"stacked chain windows must share one shuffle, saw $exchanges:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be a per-partition heap:\n$plan")
  }

  test("triangleCounts and fuzzyPairs: equi-join only — no cartesian reachable") {
    import spark.implicits._
    val edges = spark.range(400).select(
      (col("id") % 60).as("src"), ((col("id") * 7) % 60).as("dst"))
    val triPlan = physicalPlan(Graph.triangleCounts(edges))
    assertNoQuadraticJoin(triPlan, "triangleCounts")
    val names = spark.range(200).select(col("id"),
      concat(lit("name"), (col("id") % 37).cast("string")).as("s"))
    val fuzzyPlan = physicalPlan(
      FuzzyMatch.fuzzyPairs(names.toDF("id", "s"), "id", "s", maxDist = 2))
    assertNoQuadraticJoin(fuzzyPlan, "fuzzyPairs")
    // the candidate join must be keyed on the segment blocks
    assert(fuzzyPlan.contains("seg"),
      s"fuzzy candidates must come from segment-equality blocks:\n$fuzzyPlan")
  }

  test("pageRankFixed: iterations read the checkpointed edge blocks, never the source plan") {
    import spark.implicits._
    val edges = spark.range(300).select(
      (col("id") % 50).as("src"), ((col("id") * 13) % 50).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val r = Graph.pageRankFixed(edges, iters = 3)
    val plan = physicalPlan(r)
    // every leaf of the final iteration's plan is a materialized block
    // scan (the eDeg/ranks localCheckpoints) — the edge DERIVATION
    // (Range + filters here; a 100 TB self-join in production) must not
    // re-run per round
    assert(!plan.contains("Range ("),
      s"the edge derivation leaked into the iteration plan:\n$plan")
    assert(plan.contains("ExistingRDD") || plan.contains("Scan ExistingRDD"),
      s"iterations must read checkpointed blocks:\n$plan")
    assertNoQuadraticJoin(plan, "pageRankFixed")
  }

  test("q185 intervalCoverage: ONE data exchange — windows and both rollups share the key partitioning, no join") {
    val plan = executedFinalPlan("q185_interval_coverage")
    assert(!plan.contains("Join"),
      s"interval coverage must carry no join node:\n$plan")
    // exactly one hash exchange over the data (the trailing range
    // exchange is the query-level orderBy, not the operator's)
    val hashEx = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(hashEx == 1,
      s"expected ONE hash exchange (windows + rollups co-partitioned), found $hashEx:\n$plan")
    assert(plan.linesIterator.count(_.contains("Window")) == 2,
      s"the sweep is exactly two window passes (prev-max, island sum):\n$plan")
  }

  test("q187 topTermsPerDoc: ONE corpus tokenization — the rarity branch reuses the postings exchange; per-doc rank is group-limited") {
    val plan = executedFinalPlan("q187_top_terms")
    val explodes = plan.linesIterator.count(_.contains("Generate explode"))
    assert(explodes == 1,
      s"expected ONE corpus explode (exchange reuse), found $explodes:\n$plan")
    assert(plan.contains("ReusedExchange"),
      s"the rarity branch must reuse the postings exchange:\n$plan")
    // rank<=k must push into the shuffle as a group-limit (Spark's
    // WindowGroupLimit) so only k rows per doc cross the wire
    assert(plan.contains("WindowGroupLimit"),
      s"the per-doc top-k must be group-limited before the window shuffle:\n$plan")
  }

  test("q188 peakConcurrency: one raw scan (±1 pairs explode, no union re-scan), one exchange, no join") {
    val plan = executedFinalPlan("q188_peak_concurrency")
    assert(plan.linesIterator.count(_.contains("FileScan")) == 1,
      s"the raw relation must be scanned exactly once (explode, not union):\n$plan")
    assert(!plan.contains("Join"),
      s"the sweep must carry no join node:\n$plan")
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      s"window and rollup must share ONE key exchange:\n$plan")
  }

  test("q190 collocations: the corpus pass is the checkpointed (a,b) aggregate; unigram branch reuses its exchange") {
    val plan = executedFinalPlan("q190_collocations")
    // the corpus token stream never re-materializes: pair counts come
    // from the localCheckpointed (a, b) aggregate (ExistingRDD blocks)
    assert(plan.contains("ExistingRDD") || plan.contains("Scan ExistingRDD"),
      s"pair/unigram branches must read the checkpointed aggregate:\n$plan")
    assert(plan.contains("ReusedExchange"),
      s"the two count branches must share one exchange:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the vocabulary joins must not shuffle the pair side:\n$plan")
  }

  test("q186 transitionMatrix: per-key window then bounded aggregates; the permille join broadcasts the totals") {
    val plan = executedFinalPlan("q186_transition_matrix")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"the from-state totals must broadcast into the permille join:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("NestedLoop"),
      s"no shuffled or nested-loop join may exist:\n$plan")
    // the totals branch re-aggregates the PAIRS exchange, not the
    // corpus: one raw scan + one window pass in the whole plan
    assert(plan.linesIterator.count(_.contains("FileScan")) == 1,
      s"the raw events must be scanned exactly once:\n$plan")
    assert(plan.contains("ReusedExchange"),
      s"the totals branch must reuse the pairs exchange:\n$plan")
  }

  test("q02/q03/q12 money sums: no decimal above 18 digits, codegen'd HashAggregate only") {
    import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.{
      HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.types.DecimalType
    object walk extends AdaptiveSparkPlanHelper
    for (name <- Seq("q02_agg_pricing", "q03_region_revenue", "q12_date_parts")) {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.collect() // the final adaptive plan, with its codegen stages
      val plan = df.queryExecution.executedPlan
      val aggs = walk.collect(plan) { case a: HashAggregateExec => a }
      assert(aggs.nonEmpty, s"$name: no HashAggregate in\n$plan")
      val others = walk.collect(plan) {
        case a: ObjectHashAggregateExec => a
        case a: SortAggregateExec => a
      }
      assert(others.isEmpty, s"$name: non-hash aggregate in\n$plan")
      val inCodegen = walk.collect(plan) { case w: WholeStageCodegenExec => w }
        .flatMap(_.child.collect { case a: HashAggregateExec => a })
      assert(inCodegen.size == aggs.size, s"$name: a HashAggregate runs outside codegen in\n$plan")
      for (a <- aggs) {
        val wide = (a.aggregateExpressions.flatMap(_.aggregateFunction.aggBufferAttributes) ++
          a.output).map(_.dataType) ++
          a.aggregateExpressions.flatMap(_.collect { case e => e.dataType })
        assert(!wide.exists {
          case d: DecimalType => d.precision > 18
          case _ => false
        }, s"$name: a decimal wider than 18 digits in ${a.simpleString(400)}")
      }
    }
  }
}
