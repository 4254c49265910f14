package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** Similarity search over embedding columns (`array<float>`).
  *
  * Numeric discipline: dot products and norms accumulate in DOUBLE in a
  * left-to-right IEEE fold (the native codegen'd
  * [[graft.functions.FloatDotProduct]] — bit-identical to the oracle's
  * `list_reduce` and to the `aggregate(zip_with(...))` form it replaces,
  * but a primitive loop instead of interpreted lambda dispatch), and
  * similarities are compared/ranked as `floor(1e6·cos)` integers so
  * ordering can never diverge across engines on a last-ulp difference.
  *
  * Scale posture: the brute-force form broadcasts the (small) query set and
  * scans the corpus once — right when queries ≪ corpus. The LSH form maps
  * every vector to a hyperplane-sign bucket and equi-joins on the bucket:
  * candidate generation is a hash shuffle, O(corpus + collisions), the
  * standard ANN trade of recall for a join that survives 100 TB.
  */
object Similarity {

  /** Sequential-fold dot product in double precision (native codegen'd
    * expression; see [[graft.functions.FloatDotProduct]]). */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.FloatDotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** floor(1e6 · dot/(na·nb)) with norms precomputed per vector — one dot
    * per pair instead of three. */
  private def cosMicroPre(d: Column, na: Column, nb: Column): Column =
    floor(lit(1e6) * d / (na * nb)).cast("long")

  /** Vectors with their precomputed norm, zero-norm rows dropped (cosine
    * is undefined there: Spark would emit NaN→null and silently drop at a
    * later filter while other engines error — excluding them explicitly
    * keeps every downstream plan cross-engine deterministic). */
  private[operators] def withNorm(vecs: DataFrame, idCol: String, vecCol: String): DataFrame =
    vecs.select(col(idCol), col(vecCol), norm(col(vecCol)).as("nrm"))
      .filter(col("nrm") > 0)

  /** Exact near-dup pairs (a < b) with cosine ≥ minMicro/1e6. Quadratic —
    * intended for bucketed/bounded inputs; see [[nearDupPairsLsh]] for the
    * corpus-scale path. Norms are computed once per vector, not per pair. */
  def nearDupPairs(vecs: DataFrame, idCol: String, vecCol: String,
      minMicro: Long): DataFrame = {
    val n = withNorm(vecs, idCol, vecCol)
    val a = n.toDF("a_id", "a_vec", "a_nrm")
    val b = n.toDF("b_id", "b_vec", "b_nrm")
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("cos_micro",
        cosMicroPre(dot(col("a_vec"), col("b_vec")), col("a_nrm"), col("b_nrm")))
      .filter(col("cos_micro") >= minMicro)
      .select("a_id", "b_id", "cos_micro")
  }

  /** Scale-safe near-dup pairs via multi-table hyperplane LSH (the
    * OR-construction): each of `tables` independent plane families maps a
    * vector to one bucket; candidate pairs share a bucket in ANY table.
    * Candidate generation is an equi-join on (table, bucket) — a hash
    * shuffle, no BroadcastNestedLoopJoin / CartesianProduct anywhere —
    * then each distinct candidate pair is scored with the exact cosine.
    *
    * Tuning: per-table match prob for angle θ is (1−θ/π)^planes; recall is
    * 1−(1−p)^tables. `planes` bounds per-bucket size (n/2^planes expected
    * — it MUST grow with the corpus or false candidates go quadratic;
    * prefer [[nearDupPairsLshAuto]], which derives it from the corpus
    * size, unless the caller has a measured reason to pin it), `tables`
    * buys recall back at the cost of `tables`× candidate generation. A
    * pair split across buckets in every table is missed; every emitted
    * pair carries its exact cosine.
    *
    * CONSTRUCTION SIDE EFFECT: building this DataFrame already runs
    * Spark jobs (the eager checkpoint below) and pins the checkpointed
    * blocks in executor storage for the session's lifetime; long-lived
    * sessions composing many instances should release them
    * (`spark.sparkContext.getPersistentRDDs`) after the action runs. */
  def nearDupPairsLsh(vecs: DataFrame, idCol: String, vecCol: String,
      minMicro: Long, planes: Int, dims: Int, tables: Int = 1): DataFrame = {
    // Vectors+norms RIDE ALONG into the bucket join (the minhashLshPairs
    // pattern), the exact cosine runs on every candidate row, and the
    // pair-dedup happens AFTER the threshold filter. The former shape —
    // id-only join → distinct over ALL candidates → two rehydration
    // joins — shuffled and hash-aggregated the full candidate relation
    // (42M rows at the sf3 study point) to dedup pairs that were about
    // to be discarded anyway; here the distinct sees only PASSING pairs
    // (output-sized), and the rehydration joins vanish. A pair colliding
    // in k tables pays k dots instead of 1 — false candidates collide in
    // ~1 table, so the duplicated work is a few percent, bought against
    // the dominant exchange. cos_micro is deterministic per pair, so
    // distinct on (a, b, cos) equals distinct on (a, b).
    //
    // The keyed relation is locally CHECKPOINTED before the self-join.
    // Without a materialization boundary here, the join's per-MATCH code
    // path re-evaluates the stream side's bucket expressions — all
    // planes × tables float_dot projections — once per candidate pair
    // instead of once per row (measured on the sf1 study point: 246 CPU
    // core-s for the bare candidate join vs 8 when the same relation is
    // pre-materialized; the full operator drops 270 → 20 CPU core-s,
    // 13.5×). A plain repartition-on-key boundary was tried and is NOT
    // enough: AQE plans a SortMergeJoin whose per-match buffered-group
    // iteration with the pushed-down cosine condition still measured
    // 168 core-s. Same fault-tolerance trade, same justification, as
    // connectedComponents' per-round checkpoint. Eager: construction
    // already runs jobs in the auto form (the sizing count), and the
    // checkpoint job is one linear pass over corpus × tables rows.
    val keyed = lshKeyed(vecs, idCol, vecCol, planes, dims, tables)
      .localCheckpoint(true)
    keyed.toDF("a_id", "a_vec", "a_nrm", "tbl", "bucket")
      .join(keyed.toDF("b_id", "b_vec", "b_nrm", "tbl", "bucket"), Seq("tbl", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos_micro",
        cosMicroPre(dot(col("a_vec"), col("b_vec")), col("a_nrm"), col("b_nrm")))
      .filter(col("cos_micro") >= minMicro)
      .select("a_id", "b_id", "cos_micro").distinct()
  }

  /** Corpus-sized plane count: the number of hyperplanes that keeps the
    * EXPECTED bucket occupancy at `targetBucketRows` — planes =
    * ceil(log2(ceil(n / target))), in exact integer arithmetic (a float
    * log can land an ulp above a whole number on power-of-two inputs and
    * overshoot by one plane — doubling the bucket count — and the DuckDB
    * oracle recomputes this formula, so both engines must round
    * identically). This is the knob that keeps [[nearDupPairsLsh]]
    * linear as the corpus grows: false candidates (random pairs,
    * cos ≈ 0) collide per table at rate 2^−planes, so their expected
    * count is n²·tables·2^−planes ≈ n·tables·target — linear in n once
    * planes tracks log2(n). Recall for high-cosine near-dups degrades
    * gently but measurably: at cos ≥ 0.99 per-plane agreement is
    * ≈ 0.955, so 20 planes leave a 6-table OR at ≈ 95% recall (the
    * above-99% regime only holds near cos 0.999); borderline-threshold
    * pairs drop faster — the standard LSH trade, `tables` buys it back.
    * Capped at 62 (bucket ids are one long). */
  def lshAutoPlanes(corpusRows: Long, targetBucketRows: Long = 256): Int = {
    require(corpusRows > 0 && targetBucketRows > 0,
      "corpusRows and targetBucketRows must be positive")
    // ceil(n / target), then ceil(log2(·)) as the bit length of (buckets−1)
    val buckets = (corpusRows + targetBucketRows - 1) / targetBucketRows
    val p = 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1)
    math.min(62, math.max(1, p))
  }

  /** [[nearDupPairsLsh]] with `planes` derived from the corpus size via
    * [[lshAutoPlanes]] — the DEFAULT near-dup path: a pinned plane count
    * is only right while the corpus stays near the size it was tuned
    * for, and a corpus that grows past it goes quadratic in false
    * candidates (measured: 381× CPU at 10× data with planes pinned at
    * 3). Costs one `count()` job up front (trivial against the join it
    * right-sizes; pass `knownRows` when the caller already has the
    * count). An empty corpus returns the empty pair set rather than
    * bubbling the positivity require out of [[lshAutoPlanes]]. */
  def nearDupPairsLshAuto(vecs: DataFrame, idCol: String, vecCol: String,
      minMicro: Long, dims: Int, tables: Int = 6,
      targetBucketRows: Long = 256, knownRows: Option[Long] = None): DataFrame = {
    val n = knownRows.getOrElse(vecs.count())
    val planes = if (n <= 0) 1 else lshAutoPlanes(n, targetBucketRows)
    nearDupPairsLsh(vecs, idCol, vecCol, minMicro,
      planes = planes, dims = dims, tables = tables)
  }

  /** The persistable LSH index of an embedding corpus: one row per
    * (table, bucket) per vector, carrying the vector and its norm for
    * exact cosine rerank — the relation a pipeline WRITES (parquet,
    * `partitionBy("tbl")`) so later batches can probe the corpus
    * without recomputing it. The embedding twin of
    * [[Dedup.minhashIndex]].
    *
    * The plane count is FIXED at index-build time by definition (a
    * persisted index cannot re-bucket without a rebuild) — derive it
    * from the corpus via [[lshAutoPlanes]] at build, and rebuild when
    * the corpus outgrows it (expected occupancy doubles per factor-2
    * growth past the build point).
    *
    * The index is SELF-DESCRIBING: `ix_planes`/`ix_dims`/`ix_tables`
    * ride along as constant columns (free under parquet dictionary
    * encoding) and [[lshIndexProbe]] validates
    * them against the probe's parameters — a mismatched probe RAISES
    * instead of silently equi-joining into the wrong bucket space and
    * returning near-empty matches (see [[IndexStamp]]). */
  def lshIndex(vecs: DataFrame, idCol: String, vecCol: String,
      planes: Int, dims: Int, tables: Int = 6): DataFrame =
    IndexStamp.stamp(lshKeyed(vecs, idCol, vecCol, planes, dims, tables),
      lshStampParams(planes, dims, tables))

  /** The (table, bucket)-keyed relation WITHOUT the parameter stamp —
    * the internal form the self-join ([[nearDupPairsLsh]]) and the
    * probe side of [[indexProbeJoin]] consume, where the stamp would
    * only widen positional renames. */
  private def lshKeyed(vecs: DataFrame, idCol: String, vecCol: String,
      planes: Int, dims: Int, tables: Int): DataFrame = {
    val allSigns = (0 until tables).map(t => hyperplaneSigns(planes, dims, t))
    withNorm(vecs, idCol, vecCol)
      .select(col(idCol), col(vecCol), col("nrm"),
        posexplode(lshBucketsAll(col(vecCol), allSigns)).as(Seq("tbl", "bucket")))
  }

  private def lshStampParams(planes: Int, dims: Int, tables: Int): Seq[(String, Int)] =
    Seq("ix_planes" -> planes, "ix_dims" -> dims, "ix_tables" -> tables)

  /** `index` validated against the probe-side build parameters — any
    * index row stamped differently raises; an unstamped relation is
    * rejected at plan construction. Used by [[lshIndexProbe]]. */
  private[graft] def validatedLshIndex(index: DataFrame, planes: Int,
      dims: Int, tables: Int, what: String): DataFrame =
    IndexStamp.validated(index, lshStampParams(planes, dims, tables), what)

  /** Bucket-join of a probe-side index against a corpus index with exact
    * cosine rerank, before [[lshIndexProbe]]'s `distinct`. Columns
    * bind BY NAME: a parquet round-trip with `partitionBy("tbl")` reorders the
    * corpus side's columns (partition columns read back last), so a
    * positional rename would silently mislabel them (the same lesson as
    * [[Dedup.probeJoin]]). */
  private[graft] def indexProbeJoin(probes: DataFrame, index: DataFrame,
      idCol: String, vecCol: String, minMicro: Long): DataFrame = {
    def named(df: DataFrame, side: String) = df.select(
      col(idCol).as(s"${side}_id"), col(vecCol).as(s"${side}_vec"),
      col("nrm").as(s"${side}_nrm"), col("tbl"), col("bucket"))
    named(probes, "probe").join(named(index, "corpus"), Seq("tbl", "bucket"))
      .filter(col("probe_id") =!= col("corpus_id"))
      .withColumn("cos_micro",
        cosMicroPre(dot(col("probe_vec"), col("corpus_vec")),
          col("probe_nrm"), col("corpus_nrm")))
      .filter(col("cos_micro") >= minMicro)
      .select("probe_id", "corpus_id", "cos_micro")
  }

  /** Probe an LSH index ([[lshIndex]]) with new vectors: per probe, every
    * corpus vector sharing a bucket in any table, exact-cosine-reranked
    * at `minMicro`. One row per (probe, match) pair.
    *
    * `planes`/`dims`/`tables` are validated against the index's stamp
    * ([[IndexStamp]]): a mismatch RAISES rather than returning the
    * near-empty match set mismatched bucket spaces produce.
    *
    * `maxBucketRows` is the probe-side skew guard
    * ([[IndexOps.capHotBuckets]]): index buckets above the cap leave
    * candidate generation (a degenerate direction shared by a corpus
    * slice — zero-ish embeddings, templated content — otherwise makes
    * one probe rerank the whole slice). Off by default; pick the cap
    * from [[IndexOps.bucketHistogram]]'s tail. */
  def lshIndexProbe(probes: DataFrame, index: DataFrame, idCol: String,
      vecCol: String, minMicro: Long, planes: Int, dims: Int,
      tables: Int = 6, maxBucketRows: Option[Int] = None): DataFrame =
    indexProbeJoin(lshKeyed(probes, idCol, vecCol, planes, dims, tables),
      IndexOps.capHotBuckets(
        validatedLshIndex(index, planes, dims, tables, "lshIndexProbe"),
        Seq("tbl", "bucket"), maxBucketRows),
      idCol, vecCol, minMicro).distinct()

  /** [[lshIndexProbe]] with the build parameters read FROM the index's
    * own stamp (one tiny head() job) — the closed form of the
    * self-describing-index contract: the caller CANNOT mismatch,
    * because there is nothing to re-supply. An empty index returns the
    * empty match set with the contract schema. Prefer this for
    * persisted indexes; the explicit-parameter form remains for plans
    * that must be built before any action may run. */
  def lshIndexProbeAuto(probes: DataFrame, index: DataFrame, idCol: String,
      vecCol: String, minMicro: Long,
      maxBucketRows: Option[Int] = None): DataFrame =
    IndexStamp.read(index, Seq("ix_planes", "ix_dims", "ix_tables"),
        "lshIndexProbeAuto") match {
      case Some(Seq(planes, dims, tables)) =>
        lshIndexProbe(probes, index, idCol, vecCol, minMicro, planes, dims,
          tables, maxBucketRows)
      case _ =>
        // empty index: schema-correct empty result — limit(0) on the
        // probe side so no bucket expression ever evaluates
        indexProbeJoin(lshKeyed(probes.limit(0), idCol, vecCol, 1, 1, 1),
          index, idCol, vecCol, minMicro).distinct()
    }

  /** The index rows for NEW vectors under an existing index's build
    * parameters (read from its stamp): append these to the persisted
    * relation (`write.mode("append").partitionBy("tbl")`) to grow the
    * index without recomputing the corpus. The plane count stays the
    * BUILD-time one by definition — expected bucket occupancy grows
    * with the appended volume, so rebuild via [[lshIndex]] +
    * [[lshAutoPlanes]] when the corpus outgrows the build point
    * (occupancy doubles per factor-2 growth). Extending an EMPTY
    * relation is refused: there is no stamp to inherit — build
    * instead. The stamp is read with the uniqueness guard
    * ([[IndexStamp.readUnique]]): a polluted mixed-stamp directory is
    * refused instead of nondeterministically deepened. */
  def lshIndexExtend(index: DataFrame, newVecs: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    IndexStamp.readUnique(index, Seq("ix_planes", "ix_dims", "ix_tables"),
        "lshIndexExtend") match {
      case Some(Seq(planes, dims, tables)) =>
        lshIndex(newVecs, idCol, vecCol, planes, dims, tables)
      case _ => throw new IllegalArgumentException(
        "lshIndexExtend: cannot extend an empty index relation (no stamp " +
          "to inherit) — build it with lshIndex instead")
    }

  /** One BATCH-INCREMENTAL ingest step against a persisted embedding
    * LSH index — the vector twin of
    * [[Dedup.minhashIncrementalIngest]], same contract: screen
    * `newVecs` against the indexed corpus (parameters from the stamp),
    * collapse intra-batch near-dup clusters to their min-id
    * representative (corpus screening first — the conservative
    * member-substitution semantics documented there), and return the
    * survivors with their stamped index rows to append
    * (`write.mode("append").partitionBy("tbl")`). */
  def lshIncrementalIngest(index: DataFrame, newVecs: DataFrame,
      idCol: String, vecCol: String, minMicro: Long): (DataFrame, DataFrame) = {
    // uniqueness-guarded read — the ingest appends under these parameters
    val params = IndexStamp.readUnique(index, Seq("ix_planes", "ix_dims", "ix_tables"),
      "lshIncrementalIngest").getOrElse(throw new IllegalArgumentException(
        "lshIncrementalIngest: the index relation is empty — build it with " +
          "lshIndex first"))
    val Seq(planes, dims, tables) = params: @unchecked
    val matched = lshIndexProbe(newVecs, index, idCol, vecCol, minMicro,
        planes, dims, tables)
      .select(col("probe_id").as(idCol)).distinct()
    // one materialization of the corpus screen — same boundary and
    // same reason as minhashIncrementalIngest (eager)
    val screened = newVecs.join(matched, Seq(idCol), "left_anti")
      .localCheckpoint(true)
    val pairs = nearDupPairsLsh(screened, idCol, vecCol, minMicro,
        planes, dims, tables)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    // the collapse stage is SHARED with the text path (one definition,
    // both families) — see Dedup.collapseToSurvivors
    val survivors = Dedup.collapseToSurvivors(screened, pairs, idCol)
    (survivors, lshIndex(survivors, idCol, vecCol, planes, dims, tables))
  }

  /** Brute-force top-k: for each query vector, the k nearest corpus vectors
    * by cosine (self excluded), ranked (cos_micro desc, id asc). The query
    * side is broadcast; the corpus is scanned once with no shuffle until
    * the per-query top-k.
    *
    * CONTRACT: `queries` must be a FIXED, small set (thousands at most) —
    * it is broadcast to every task and each corpus row is scored against
    * all of it. A query set proportional to the corpus makes this plan
    * quadratic; route such workloads through [[annTopK]] instead. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val n = withNorm(corpus, idCol, vecCol)
    val q = broadcast(n.join(queries.select(col(idCol)), Seq(idCol))
      .toDF("query_id", "q_vec", "q_nrm"))
    val c = n.toDF("neighbor_id", "c_vec", "c_nrm")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_micro").desc, col("neighbor_id"))
    c.join(q, col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_micro",
        cosMicroPre(dot(col("q_vec"), col("c_vec")), col("q_nrm"), col("c_nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos_micro", "rank")
  }

  /** Exact cosine top-k for a BOUNDED query batch that need NOT be a
    * subset of the corpus — the probe/ingest shape, where
    * [[bruteForceTopK]] contracts `queries ⊆ corpus`. Broadcast the
    * query batch, scan the corpus ONCE, rank per query with the
    * k-capped native heap aggregate ([[topKBy]] — map-side partial
    * heaps, no per-group sort or candidate materialization). Recall is
    * 1.0 by construction; cost is one corpus scan per batch, which is
    * exactly the regime where [[annTopKAuto]] routes here. Output is
    * [[ivfIndexProbe]]'s contract schema
    * `(query_id, neighbor_id, cos_micro, rank)`. */
  def bruteForceTopKBatch(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = withNorm(corpus, idCol, vecCol).toDF("neighbor_id", "c_vec", "c_nrm")
    val q = broadcast(withNorm(queries, idCol, vecCol)
      .toDF("query_id", "q_vec", "q_nrm"))
    c.crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_micro",
        cosMicroPre(dot(col("q_vec"), col("c_vec")), col("q_nrm"), col("c_nrm")))
      .groupBy("query_id")
      .agg(topKBy(col("cos_micro"), col("neighbor_id"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"),
        col("col.id").as("neighbor_id"),
        col("col.score").as("cos_micro"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Routed ANN front door, encoding the measured recall rule
    * (`AnnRecallStudy`; SCALING.md r11 "IVF recall — what each probed
    * cell buys"): on an UNCLUSTERED corpus no index beats
    * `recall = probed fraction` (the information floor — an isotropic
    * query's top-k targets are spread uniformly over cells), while a
    * near-dup SCREENING target sits in the probe's own cell with high
    * probability and is recovered at small nProbe regardless of corpus
    * geometry (measured 2.6–6.7× above the floor). The routes:
    *
    *  - `screening = true` (find the near-copy — the ingest-screen /
    *    dedup workload): IVF probe at the caller's `nProbe`, the
    *    regime the index exists for;
    *  - `screening = false` (true top-k): honoring `minRecall` without
    *    assuming clusteredness needs probed fraction ≥ minRecall, so
    *    past `bruteRecallThreshold` (default 0.5 — at that point the
    *    probe scans half the corpus anyway) the EXACT one-scan
    *    [[bruteForceTopKBatch]] is the better arm: recall 1.0, no
    *    index maintenance, same broadcast-bounded-batch shape. Below
    *    the threshold the probe runs at
    *    `nProbe = max(nProbe, ceil(minRecall · nCells))`.
    *
    * THE COMPRESSED ARM (r14): when the caller supplies the IVF-PQ
    * pair (`pqIndex` + `pqCodebook`, built by [[Pq.pqIndex]] /
    * [[Pq.pqCodebook]]), every index-probing route swaps its pruned
    * raw-vector scan for [[Pq.pqProbeAuto]] at `k = R` (top-R by
    * integer ADC over nSub-byte codes) finished by the exact
    * [[Pq.pqRerankSided]] to top-k — same output contract
    * (`query_id, neighbor_id, cos_micro, rank`, exact scores), same
    * partition pruning, 1/32 the bytes per probed row. The rule is
    * measured, not assumed (`PqScaleStudy` head-to-head, SCALING.md
    * r14): the PQ arm wins whenever the probed cells' raw-vector bytes
    * dominate probe cost — which is the regime a compressed index
    * EXISTS for, so the route keys on the caller having built one; the
    * study's recall cells show the R-pool rerank recovering the raw
    * probe's recall (a true neighbor is lost only if quantization
    * pushes it out of the top R, bounded by the measured ladder).
    * `pqRerankR` sizes the pool (0 → max(8k, 50), the study's knee);
    * the brute-force route is untouched — past the recall threshold
    * ONE exact scan still beats any index, compressed or not.
    *
    * Same routed-front-door pattern as [[graft.operators.Temporal]]'s
    * `rangeJoinAuto` / `Relational.rollingAgg`: the crossover is
    * measured, then encoded. All arms return [[ivfIndexProbe]]'s
    * contract schema; `AnnRouteSpec` proves answer-invariance at the
    * recall-1 point and asserts each route from the plan. Queries must
    * be a BOUNDED batch (all arms broadcast it) — the standing probe
    * contract. */
  def annTopKAuto(corpus: DataFrame, queries: DataFrame, index: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int,
      screening: Boolean, minRecall: Double = 0.9,
      bruteRecallThreshold: Double = 0.5,
      maxCellRows: Option[Int] = None,
      pqIndex: Option[DataFrame] = None,
      pqCodebook: Option[DataFrame] = None,
      pqRerankR: Int = 0): DataFrame = {
    require(minRecall > 0 && minRecall <= 1,
      s"minRecall must be in (0, 1], got $minRecall")
    require(pqIndex.isDefined == pqCodebook.isDefined,
      "annTopKAuto: pqIndex and pqCodebook travel together — an IVF-PQ " +
        "index is unreadable without the codebook it was encoded under")
    require(pqRerankR >= 0, s"pqRerankR must be >= 0, got $pqRerankR")
    val rPool = if (pqRerankR > 0) pqRerankR else math.max(8 * k, 50)
    // the compressed arm is usable when the pair is handed in AND holds
    // something to probe (an empty codebook/index — the empty-corpus
    // bootstrap — falls through to the raw routes, which handle empty)
    def pqArm(probeN: Int): Option[DataFrame] = (pqIndex, pqCodebook) match {
      case (Some(pix), Some(cb)) if !cb.isEmpty =>
        val pool = Pq.pqProbeAuto(queries, pix, cb, idCol, vecCol,
          k = rPool, nProbe = probeN, maxCellRows)
        Some(Pq.pqRerankSided(pool, queries, corpus, idCol, vecCol, k))
      case _ => None
    }
    if (screening)
      pqArm(nProbe).getOrElse(
        ivfIndexProbeAuto(queries, index, idCol, vecCol, k, nProbe, maxCellRows))
    else if (minRecall >= bruteRecallThreshold)
      bruteForceTopKBatch(corpus, queries, idCol, vecCol, k)
    else {
      // derive the recall-honoring nProbe from whichever stamped index
      // the chosen arm will probe (both families stamp ix_cells)
      val stamped = pqIndex.filter(_ => pqCodebook.exists(!_.isEmpty))
        .getOrElse(index)
      IndexStamp.read(stamped, Seq("ix_cells", "ix_dims"),
          "annTopKAuto") match {
        case Some(Seq(nCells, _)) =>
          val needed = math.max(nProbe, math.ceil(minRecall * nCells).toInt)
          pqArm(needed).getOrElse(
            ivfIndexProbeAuto(queries, index, idCol, vecCol, k, needed,
              maxCellRows))
        case _ =>
          // no stamped index to probe: an empty probe would be recall 0,
          // violating the minRecall contract silently — the exact arm is
          // the only route that honors it
          bruteForceTopKBatch(corpus, queries, idCol, vecCol, k)
      }
    }
  }

  // ----------------------------------------------------------- quantization

  /** Symmetric int8 quantization of an embedding column, long form: one
    * row per (id, dim) with q = round-half-up(x · 127 / max_abs) ∈
    * [−127, 127] and the per-vector `scale_micro` needed to
    * dequantize — the 4×-memory-cut every billion-vector ANN index
    * takes before sharding.
    *
    * Determinism discipline: round-half-up is `floor(x + 0.5)` (exact
    * IEEE on both engines; `round()` itself differs across engines in
    * half-case tie-breaking), and the float→double widenings are exact,
    * so q values verify bit-for-bit. Zero vectors (max_abs = 0) are
    * excluded, as everywhere in this module. Pure per-row expressions —
    * a corpus scan stays a scan.
    */
  def quantizeInt8(vecs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val maxAbs = array_max(transform(col(vecCol), x => abs(x.cast("double"))))
    vecs
      .withColumn("__ma", maxAbs)
      .filter(col("__ma") > 0)
      .select(col(idCol),
        floor(lit(1e6) * col("__ma") / 127).cast("long").as("scale_micro"),
        posexplode(transform(col(vecCol),
          x => floor(x.cast("double") * 127 / col("__ma") + 0.5).cast("int"))))
      .select(col(idCol), col("pos").cast("int").as("dim"),
        col("col").as("q"), col("scale_micro"))
  }

  /** SQ8 encode column: `struct<codes: binary, scale_micro: long>` of
    * the NORMALIZED vector ([[graft.functions.SqEncode]]) — one signed
    * byte per dimension + one scale, the 4× compression rung between
    * raw vectors and PQ's 32×. Unlike [[quantizeInt8]] (which
    * quantizes the STORED vector), this quantizes the unit-sphere form
    * so the asymmetric score ranks by a cosine estimate. */
  def sqEncodeCol(vec: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.SqEncode(ColumnBridge.expression(vec)))
  }

  /** Query-side exact micro vector: qm_d = ⌊10⁶ · (x_d / ‖x‖)⌋ as
    * `array<long>` — computed once per BOUNDED query row, so the
    * interpreted higher-order form is fine (the [[graft.operators.Pq]]
    * lut reasoning); null-normed queries null out. */
  def sqQueryMicro(vec: Column): Column = {
    val nrm = norm(vec)
    when(nrm > 0, transform(vec,
      x => floor(lit(1e6) * (x.cast("double") / nrm)).cast("long")))
  }

  /** SQ8 compressed-domain brute-force top-k — the
    * [[graft.operators.Pq.pqTopKExhaustive]] shape at 4× (not 32×)
    * compression and zero training: encode the corpus to (codes,
    * scale), broadcast the bounded query batch carrying exact micro
    * vectors, score each pair `scale_micro · Σ qm_d·code_d` (pure
    * integer — the oracle replays it term-exactly), heap-cap to k.
    * Output: `(query_id, neighbor_id, sq_micro, rank)` ranked by
    * `(sq_micro desc, neighbor_id)`.
    *
    * The materialization boundary before the cross join is the same
    * BroadcastNestedLoopJoin lesson as PQ's: without it codegen fuses
    * the encode into the join's per-MATCH path and quantizes each
    * corpus row once per QUERY. Checkpointed codes are dims bytes +
    * one long per row. */
  def sqTopKExhaustive(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val encoded = corpus
      .select(col(idCol).as("neighbor_id"), sqEncodeCol(col(vecCol)).as("__sq"))
      .filter(col("__sq").isNotNull)
      .select(col("neighbor_id"), col("__sq.codes").as("__codes"),
        col("__sq.scale_micro").as("__scale"))
      .localCheckpoint(true)
    val q = broadcast(queries
      .select(col(idCol).as("query_id"), sqQueryMicro(col(vecCol)).as("__qm"))
      .filter(col("__qm").isNotNull))
    val score = {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      ColumnBridge.column(graft.functions.SqAdc(
        ColumnBridge.expression(col("__codes")),
        ColumnBridge.expression(col("__qm")))) * col("__scale")
    }
    encoded.crossJoin(q)
      .withColumn("sq_micro", score)
      .groupBy("query_id")
      .agg(topKBy(col("sq_micro"), col("neighbor_id"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"),
        col("col.id").as("neighbor_id"),
        col("col.score").as("sq_micro"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  // ------------------------------------------------------------- LSH / ANN

  /** Deterministic ±1 hyperplane components: sign_pi from the portable
    * md5 hash of "p:i" — reproducible as literals on any engine. `table`
    * seeds an independent plane family ("t:p:i") for multi-table LSH. */
  def hyperplaneSigns(planes: Int, dims: Int, table: Int = -1): Seq[Seq[Int]] = {
    def key(p: Int, i: Int) = if (table < 0) s"$p:$i" else s"$table:$p:$i"
    (0 until planes).map(p =>
      (0 until dims).map(i => if (Hashing.h60Jvm(key(p, i)) % 2 == 0) 1 else -1))
  }

  /** ALL multi-table bucket ids at once — `array<long>`, index = table —
    * via the native [[graft.functions.LshBuckets]]: one JIT-compiled
    * loop over a reference-held sign matrix. The composed form (CASE
    * WHEN float_dot(vec, literal-array) per plane per table, summed)
    * inlines thousands of generated-code ops into one method; past the
    * JVM's JIT bytecode limit the whole projection drops to the
    * bytecode interpreter (~180 µs/dot measured — 134 CPU core-s to
    * bucket 20k×6 at sf1, ~50× this form). Values are bit-identical:
    * same double fold, same (±1.0f) weights, same null semantics. */
  def lshBucketsAll(vec: Column, signFamilies: Seq[Seq[Seq[Int]]]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.LshBuckets(
      ColumnBridge.expression(vec),
      signFamilies.map(_.map(_.map(_.toFloat)))))
  }

  /** Random-hyperplane LSH bucket id of ONE sign family: bit p set iff
    * sign-weighted projection p is positive ([[lshBucketsAll]] with a
    * single table). */
  def lshBucket(vec: Column, signs: Seq[Seq[Int]]): Column =
    element_at(lshBucketsAll(vec, Seq(signs)), 1)

  /** IVF-style ANN top-k: a coarse quantizer of `nCells` centroid
    * vectors (deterministically id-sampled from the corpus — IVF
    * training samples its centroids anyway, and sampling keeps the
    * quantizer reproducible on any engine) assigns every vector to its
    * nearest cell; each query probes its `nProbe` closest cells and
    * exact-reranks only the vectors assigned there.
    *
    * Scale shape: assignment is corpus × nCells scores against a tiny
    * broadcast centroid table (linear in the corpus), candidate
    * generation is an equi-join on cell_id (hash shuffle), rerank work is
    * corpus·nProbe/nCells per query in expectation. Recall comes from
    * probing multiple cells rather than hashing luck — the
    * complementary trade to [[nearDupPairsLsh]]'s hyperplane buckets.
    *
    * The scoring cross runs TWICE at runtime — once per consumer
    * (assignment, probes) — and that is deliberate: Spark pushes a
    * per-consumer WindowGroupLimit (1 vs nProbe) below each shuffle, so
    * each pass moves only its pruned rows, where a shared/persisted
    * `ranked` would materialize the un-limited corpus × nCells relation.
    * Two group-limited linear passes beat one quadratic-width
    * materialization at corpus scale (guarded by PlanShapeSpec). */
  def ivfTopK(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, nCells: Int, nProbe: Int, queryFilter: Column): DataFrame = {
    val n = withNorm(vecs, idCol, vecCol)
    val cents = broadcast(n.filter(col(idCol) < nCells)
      .select(col(idCol).as("cell_id"), col(vecCol).as("c_vec"), col("nrm").as("c_nrm")))
    // corpus × centroids: bounded cross join against the broadcast table
    val scored = n.crossJoin(cents)
      .withColumn("cell_cos",
        cosMicroPre(dot(col(vecCol), col("c_vec")), col("nrm"), col("c_nrm")))
    val byCloseness = Window.partitionBy(idCol)
      .orderBy(col("cell_cos").desc, col("cell_id"))
    val ranked = scored.withColumn("cell_rank", row_number().over(byCloseness))
    val assignment = ranked.filter(col("cell_rank") === 1)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("n_vec"),
        col("nrm").as("n_nrm"), col("cell_id"))
    val probes = broadcast(ranked.filter(col("cell_rank") <= nProbe && queryFilter)
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        col("nrm").as("q_nrm"), col("cell_id")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_micro").desc, col("neighbor_id"))
    assignment.join(probes, Seq("cell_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_micro",
        cosMicroPre(dot(col("q_vec"), col("n_vec")), col("q_nrm"), col("n_nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos_micro", "rank")
  }

  /** PERSISTED IVF index: the write-once form of [[ivfTopK]]'s
    * assignment stage, for the corpus you cannot afford to re-assign
    * per query batch. Centroids are an `nCells`-sized HASH-ORDERED
    * sample of the corpus — the first `nCells` ids by
    * `h60("ivfcent:" || id)` (id tiebreak) — not the smallest ids:
    * low ids are typically one ingest epoch / one domain, and
    * correlated centroids mean skewed cells where a probe landing in
    * a mega-cell reranks a corpus-sized slice. Hash order is equally
    * deterministic (the md5-based [[graft.functions.Hashing.h60]] is
    * reproducible literally on any engine, where e.g. `xxhash64` is
    * Spark-private) but decorrelated from ingest order, domain, and
    * time — the property IVF's random centroid sampling exists for.
    * Measure the resulting cell balance with
    * [[IndexOps.cellHistogram]]; every vector row carries its nearest
    * centroid's id as `cell`, its precomputed norm, an `is_cent`
    * marker (centroid reconstruction at probe time must survive
    * appends of hash-earlier ids — a positional rule would not), and
    * the build-parameter stamp (`ix_cells`, `ix_dims`,
    * [[IndexStamp]]).
    *
    * Persist `partitionBy("cell")`: the probe filters to its probed
    * cells BEFORE the scan, so a `nProbe`-cell probe reads only those
    * partition directories — at 100 TB that is the difference between
    * scanning nProbe/nCells of the corpus and all of it. The one
    * driver materialization at build is the `nCells` centroid ids
    * (user-chosen constant, the same bound as the centroid
    * broadcast). */
  def ivfIndex(vecs: DataFrame, idCol: String, vecCol: String,
      nCells: Int, dims: Int): DataFrame = {
    require(nCells > 0, s"nCells must be positive, got $nCells")
    val n = withNorm(vecs, idCol, vecCol)
    val centIds = pickCentroids(n, idCol, nCells)
    val cents = centroidsOf(n, idCol, vecCol, centIds)
    val assigned = ivfAssign(n, cents, idCol, vecCol)
      .withColumn("is_cent", col(idCol).isin(centIds: _*))
    // cluster by cell BEFORE returning: without this, the prescribed
    // partitionBy("cell") persist fans every write task across every
    // cell directory — up to nCells × tasks tiny files (measured:
    // 22,487 files at 703 cells / 180k rows, and a probe paying 13×
    // CPU in scan overhead; at ~one id-clustered file per cell the
    // probe cost returns to the rerank model, SCALING.md). HASH
    // repartition, not repartitionByRange: range sampling is an extra
    // job that re-executes the assignment per consumer — hash is a
    // plain exchange in the same pipeline, and partitionBy directories
    // make cross-file cell order irrelevant. The in-file (cell, id)
    // sort is the layout compactSwapIvf maintains later (id row-group
    // stats for the sidecar screens' range pruning).
    IndexStamp.stamp(assigned, ivfStampParams(nCells, dims))
      .repartition(col("cell"))
      .sortWithinPartitions(col("cell"), col(idCol))
  }

  /** Deterministic centroid sample: the `nCells` smallest ids under
    * [[centroidHashOrder]] — one bounded driver materialization (the
    * same bound as the centroid broadcast). Cast to long BEFORE
    * collect: getLong on a physically-int id column throws
    * ClassCastException. */
  private def pickCentroids(n: DataFrame, idCol: String,
      nCells: Int): Seq[Long] =
    n.select(col(idCol).cast("long").as("__cid"))
      .orderBy(centroidHashOrder(col("__cid")), col("__cid"))
      .limit(nCells)
      .collect().map(_.getLong(0)).toSeq

  /** The broadcast centroid relation for a picked id set. */
  private def centroidsOf(n: DataFrame, idCol: String, vecCol: String,
      centIds: Seq[Long]): DataFrame =
    broadcast(n.filter(col(idCol).isin(centIds: _*))
      .select(col(idCol).as("cell_id"), col(vecCol).as("c_vec"),
        col("nrm").as("c_nrm")))

  /** Nearest-centroid assignment (cell_cos desc, cell_id tiebreak) —
    * shared by [[ivfIndex]], [[ivfIndexExtend]] and the semantic-dedup
    * family. The argmax is a PURE PER-ROW expression over the
    * plan-embedded centroid table ([[graft.functions.NearestCell]]):
    * the centroid relation is bounded by construction (the same bound
    * that lets every IVF path broadcast it), so one bounded collect
    * turns the whole assignment into a narrow projection — no
    * n × nCells candidate cross, no exchange, no sort. The relational
    * forms both lose at scale: a rank window shuffles the full cross
    * with both vectors on every row (measured 3.6 GB at the sf3
    * auto-cells point), and Spark plans the max_by aggregation's
    * struct ordering as a SortAggregate that sorts the cross instead.
    * Value-identical to the ROW_NUMBER phrasing every IVF oracle
    * replays — the expression reuses FloatDotProduct's accumulation
    * order and micro-floor, and mirrors its null-dot edge (null cos
    * sorts last; all-null falls to the smallest cell_id) —
    * q47/q78/q79/q80/q94/q105/q121 re-verified (SCALING.md r15). */
  private[operators] def ivfAssign(n: DataFrame, cents: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val rows = cents.select(col("cell_id").cast("long"), col("c_vec"), col("c_nrm"))
      .collect()
    // empty centroid relation (empty-corpus bootstrap, q78's shape):
    // the relational form produced zero assigned rows from the empty
    // cross — preserve that, not a construction-time throw
    if (rows.isEmpty)
      return n.filter(lit(false))
        .select(col(idCol), col(vecCol), col("nrm"), lit(0L).as("cell"))
    val ids = rows.map(_.getLong(0))
    val vecs = rows.map(_.getSeq[Float](1).toArray)
    val nrms = rows.map(_.getDouble(2))
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val cell = ColumnBridge.column(graft.functions.NearestCell(
      ColumnBridge.expression(col(vecCol)),
      ColumnBridge.expression(col("nrm")), ids, vecs, nrms))
    n.select(col(idCol), col(vecCol), col("nrm"), cell.as("cell"))
  }

  /** The index rows for NEW vectors under an existing IVF index's
    * centroids (reconstructed via `is_cent`, parameters from the
    * stamp with the uniqueness guard — a mixed-stamp directory is
    * refused, as in [[lshIndexExtend]]): append these
    * (`write.mode("append").partitionBy("cell")`) to grow the index
    * without re-assigning the corpus. The centroid set stays the
    * BUILD-time one by definition — cell occupancy grows with the
    * appended volume, so rebuild via [[ivfIndex]] at a larger nCells
    * when the corpus outgrows the build point. Extending an empty
    * relation is refused: no stamp (and no centroids) to inherit. */
  def ivfIndexExtend(index: DataFrame, newVecs: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val params = IndexStamp.readUnique(index, Seq("ix_cells", "ix_dims"),
      "ivfIndexExtend").getOrElse(throw new IllegalArgumentException(
        "ivfIndexExtend: cannot extend an empty index relation (no stamp " +
          "to inherit) — build it with ivfIndex instead"))
    val Seq(nCells, dims) = params: @unchecked
    val cents = broadcast(index.filter(col("is_cent"))
      .select(col(idCol).as("cell_id"), col(vecCol).as("c_vec"),
        col("nrm").as("c_nrm")))
    val assigned = ivfAssign(withNorm(newVecs, idCol, vecCol), cents,
        idCol, vecCol)
      .withColumn("is_cent", lit(false))
    IndexStamp.stamp(assigned, ivfStampParams(nCells, dims))
  }

  // --------------------------------------------------- semantic dedup

  /** Within-cell semantic near-dup pairs — the candidate relation of
    * SemDeDup-style embedding-cluster dedup (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): vectors are assigned to their nearest of
    * `nCells` deterministic centroids (the [[ivfIndex]] machinery),
    * and pairs are scored ONLY within a cell — the clustering bounds
    * the quadratic exactly as the paper's k-means does. Output
    * `(cell, a_id, b_id, cos_micro)`, a < b, cosine ≥ minMicro/1e6.
    *
    * Scale contract: within-cell pairing is Σ cell², so `nCells` MUST
    * grow with the corpus to keep expected cell occupancy bounded
    * (the [[nearDupPairsLsh]] planes argument in cell form); cross-
    * cell near-dups are missed by construction — the paper's accepted
    * recall trade. The assignment is checkpointed before the
    * self-join for the same measured reason as [[nearDupPairsLsh]]:
    * without the boundary, the join's per-match path re-evaluates the
    * crossJoin + window assignment per candidate pair. */
  def semanticPairs(vecs: DataFrame, idCol: String, vecCol: String,
      nCells: Int, minMicro: Long): DataFrame = {
    require(nCells > 0, s"nCells must be positive, got $nCells")
    val n = withNorm(vecs, idCol, vecCol)
    val cents = centroidsOf(n, idCol, vecCol, pickCentroids(n, idCol, nCells))
    val assigned = ivfAssign(n, cents, idCol, vecCol)
      .select(col(idCol), col(vecCol), col("nrm"), col("cell"))
      .localCheckpoint(true)
    assigned.toDF("a_id", "a_vec", "a_nrm", "cell")
      .join(assigned.toDF("b_id", "b_vec", "b_nrm", "cell"), Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos_micro",
        cosMicroPre(dot(col("a_vec"), col("b_vec")), col("a_nrm"), col("b_nrm")))
      .filter(col("cos_micro") >= minMicro)
      .select("cell", "a_id", "b_id", "cos_micro")
  }

  /** Semantic (embedding-cluster) dedup SURVIVORS — the SemDeDup pass
    * a training pipeline runs AFTER lexical dedup: `vecs` minus the
    * non-surviving members of each within-cell cosine near-dup
    * cluster ([[semanticPairs]] → connected components → collapse).
    * Default policy keeps the min-id member
    * ([[Dedup.collapseToSurvivors]]); `scoreBy` keeps the
    * per-cluster argmax (ties → smaller id) instead — the
    * [[Dedup.nearDupSurvivorsBy]] keep-best policy, shared code so
    * the two domains cannot drift. Zero-norm vectors never pair, so
    * they always survive (consistent with [[nearDupPairsLsh]]'s
    * exclusion of them from candidate generation). */
  def semanticSurvivors(vecs: DataFrame, idCol: String, vecCol: String,
      nCells: Int, minMicro: Long,
      scoreBy: Option[Column] = None): DataFrame = {
    val pairs = semanticPairs(vecs, idCol, vecCol, nCells, minMicro)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    scoreBy match {
      case Some(s) => Dedup.collapseToSurvivorsBy(vecs, pairs, idCol, s)
      case None => Dedup.collapseToSurvivors(vecs, pairs, idCol)
    }
  }

  /** Corpus-derived cell count for the semantic-dedup family: enough
    * cells that expected occupancy ≈ `targetCellRows`, floor 1 — the
    * [[lshAutoPlanes]] discipline in cell form. Within-cell pairing
    * costs Σ cell² ≈ rows × targetCellRows under this rule, i.e.
    * LINEAR in the corpus (measured: the fixed-8-cell q121 point ran
    * 7.7× CPU at 3× data on the sf1→sf3 pair — the quadratic the
    * operator contract warns about; the auto rule is the fix). */
  def semanticCellsAuto(corpusRows: Long, targetCellRows: Long = 512): Int = {
    require(targetCellRows >= 1, s"targetCellRows must be ≥ 1, got $targetCellRows")
    math.max(1L, (corpusRows + targetCellRows - 1) / targetCellRows)
      .min(Int.MaxValue.toLong).toInt
  }

  /** [[semanticSurvivors]] with the cell count DERIVED from the corpus
    * size ([[semanticCellsAuto]]) — the scale-safe front door. Pass
    * `knownRows` to skip the sizing count when the caller already has
    * it. */
  def semanticSurvivorsAuto(vecs: DataFrame, idCol: String, vecCol: String,
      minMicro: Long, scoreBy: Option[Column] = None,
      targetCellRows: Long = 512, knownRows: Long = -1L): DataFrame = {
    val rows = if (knownRows >= 0) knownRows else vecs.count()
    semanticSurvivors(vecs, idCol, vecCol,
      semanticCellsAuto(rows, targetCellRows), minMicro, scoreBy)
  }

  private def ivfStampParams(nCells: Int, dims: Int): Seq[(String, Int)] =
    Seq("ix_cells" -> nCells, "ix_dims" -> dims)

  /** The centroid-sample sort key: portable 60-bit hash of
    * `"ivfcent:" || id` — the oracle replicates it literally via
    * [[graft.functions.Hashing.h60Sql]]. */
  private def centroidHashOrder(id: Column): Column =
    Hashing.h60(concat(lit("ivfcent:"), id.cast("string")))

  /** [[centroidHashOrder]] as DuckDB SQL over an id expression — for
    * oracle construction (one definition, both engines). */
  def centroidHashOrderSql(idExpr: String): String =
    Hashing.h60Sql(s"'ivfcent:' || CAST($idExpr AS VARCHAR)")

  /** Probe a persisted IVF index: each query scores the reconstructed
    * centroid table (broadcast, `nCells` rows — read via the `is_cent`
    * marker), probes its `nProbe` closest cells, and exact-reranks
    * only the vectors assigned there, k-capped by the
    * [[graft.functions.TopKByScore]] heap (map-side partial heaps, no
    * per-group sort). The distinct probed-cell set — AT MOST `nCells`
    * values regardless of query count — is collected and pushed as an
    * `isin` filter so a cell-partitioned index scan prunes to the
    * probed partition directories (`PlanShapeSpec` asserts the
    * PartitionFilters). The centroid reconstruction reads the SAME
    * relation filtered on `is_cent` — that filter pushes to parquet,
    * so row groups holding no centroid skip on boolean min/max stats
    * (footers only, no data pages; for a truly huge index, persist
    * `index.filter(col("is_cent"))` once and the filter costs
    * nothing). Build parameters are validated against the stamp; a
    * mismatch raises instead of probing the wrong cell space.
    *
    * COST CONTRACT: rerank work is
    * `probes × corpus × nProbe / nCells` exact dots. With nCells
    * FIXED, a probe batch proportional to the corpus is quadratic
    * (measured: 119× CPU at 10× data when both sides grew 10×,
    * SCALING.md) — this probe is for BOUNDED batches (the
    * ingest-screen shape, like [[bruteForceTopK]]'s query contract).
    * Corpus-scale query sets must grow nCells with the corpus
    * (constant expected cell occupancy, the same law as
    * [[lshAutoPlanes]]) and rebuild the index at the new cell
    * count.
    *
    * `maxCellRows` is the probe-side skew guard — the IVF analogue of
    * [[lshIndexProbe]]'s `maxBucketRows` ([[IndexOps.capHotBuckets]]
    * over `cell`): candidate rows from any cell larger than the cap
    * leave candidate generation, bounding the worst probe at
    * `cap × nProbe` rerank dots even against a mega-cell (partition
    * pruning prunes DIRECTORIES; it cannot shrink a fat directory's
    * contents). Same recall contract as the hash families: a true
    * neighbor is missed only when every cell it shares with the probe
    * is over-cap, and there are never false positives. Centroid
    * reconstruction is NOT capped — the probe still ranks all nCells
    * cells. Pick the cap from [[IndexOps.cellHistogram]]'s tail; off
    * by default. */
  def ivfIndexProbe(probes: DataFrame, index: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int, nCells: Int, dims: Int,
      maxCellRows: Option[Int] = None): DataFrame = {
    val validated = IndexStamp.validated(index, ivfStampParams(nCells, dims),
      "ivfIndexProbe")
    val cents = broadcast(validated.filter(col("is_cent"))
      .select(col(idCol).as("cell_id"), col(vecCol).as("c_vec"),
        col("nrm").as("c_nrm")))
    val q = withNorm(probes, idCol, vecCol)
    val byCloseness = Window.partitionBy(idCol)
      .orderBy(col("cell_cos").desc, col("cell_id"))
    val probeCells = q.crossJoin(cents)
      .withColumn("cell_cos",
        cosMicroPre(dot(col(vecCol), col("c_vec")), col("nrm"), col("c_nrm")))
      .withColumn("cell_rank", row_number().over(byCloseness))
      .filter(col("cell_rank") <= nProbe)
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        col("nrm").as("q_nrm"), col("cell_id").as("cell"))
    // bounded driver materialization: ≤ nCells distinct values
    val cells = probeCells.select(col("cell").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq
    IndexOps.capHotBuckets(
        validated.filter(col("cell").isin(cells: _*)), Seq("cell"), maxCellRows)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("n_vec"),
        col("nrm").as("n_nrm"), col("cell").cast("long").as("cell"))
      .join(broadcast(probeCells.withColumn("cell", col("cell").cast("long"))),
        Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_micro",
        cosMicroPre(dot(col("q_vec"), col("n_vec")), col("q_nrm"), col("n_nrm")))
      .groupBy("query_id")
      .agg(topKBy(col("cos_micro"), col("neighbor_id"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"),
        col("col.id").as("neighbor_id"),
        col("col.score").as("cos_micro"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** [[ivfIndexProbe]] with `nCells`/`dims` read FROM the index's own
    * stamp (one tiny head() job) — the closed form of the
    * self-describing-index contract, matching [[lshIndexProbeAuto]] /
    * [[Dedup.minhashProbeAuto]]: the caller CANNOT mismatch, because
    * there is nothing to re-supply. `k`/`nProbe`/`maxCellRows` stay
    * caller-side (probe-time knobs, not build parameters). An empty
    * index returns the empty match set with the contract schema. */
  def ivfIndexProbeAuto(probes: DataFrame, index: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int,
      maxCellRows: Option[Int] = None): DataFrame =
    IndexStamp.read(index, Seq("ix_cells", "ix_dims"),
        "ivfIndexProbeAuto") match {
      case Some(Seq(nCells, dims)) =>
        ivfIndexProbe(probes, index, idCol, vecCol, k, nProbe, nCells, dims,
          maxCellRows)
      case _ =>
        // empty index (stamp columns present, zero rows): schema-correct
        // empty result — limit(0) on the probe side so no probe norm or
        // centroid score ever evaluates
        ivfIndexProbe(probes.limit(0), index, idCol, vecCol, k, nProbe,
          nCells = 1, dims = 1)
    }

  /** One BATCH-INCREMENTAL ingest step against a persisted IVF index —
    * the IVF form of [[lshIncrementalIngest]] /
    * [[Dedup.minhashIncrementalIngest]], same contract: screen
    * `newVecs` against the indexed corpus (parameters from the stamp
    * with the uniqueness guard), collapse intra-batch near-dup
    * clusters to their min-id representative (corpus screening first —
    * the conservative member-substitution semantics documented on the
    * text path), and return `(survivors, index rows to append)`
    * (`write.mode("append").partitionBy("cell")`).
    *
    * Corpus screening is the k=1 probe: a new vector is a near-dup iff
    * its single BEST candidate among its `nProbe` probed cells clears
    * `minMicro` (max ≥ t ⟺ ∃ candidate ≥ t — one heap row per query
    * instead of the full match set the LSH screen emits). Intra-batch
    * candidates share a probed cell under the index's OWN centroids —
    * the same candidate model the corpus screen uses, so batch
    * admission and corpus screening agree on what "near" can mean.
    * Probe cost follows [[ivfIndexProbe]]'s bounded-batch contract:
    * this is the nightly-ingest shape, not a corpus×corpus join. */
  def ivfIncrementalIngest(index: DataFrame, newVecs: DataFrame,
      idCol: String, vecCol: String, minMicro: Long,
      nProbe: Int): (DataFrame, DataFrame) = {
    val params = IndexStamp.readUnique(index, Seq("ix_cells", "ix_dims"),
      "ivfIncrementalIngest").getOrElse(throw new IllegalArgumentException(
        "ivfIncrementalIngest: the index relation is empty — build it with " +
          "ivfIndex first"))
    val Seq(nCells, dims) = params: @unchecked
    val matched = ivfIndexProbe(newVecs, index, idCol, vecCol,
        k = 1, nProbe = nProbe, nCells = nCells, dims = dims)
      .filter(col("cos_micro") >= minMicro)
      .select(col("query_id").as(idCol)).distinct()
    // one materialization of the corpus screen — same boundary and same
    // reason as lshIncrementalIngest (eager)
    val screened = newVecs.join(matched, Seq(idCol), "left_anti")
      .localCheckpoint(true)
    val cents = broadcast(index.filter(col("is_cent"))
      .select(col(idCol).as("cell_id"), col(vecCol).as("c_vec"),
        col("nrm").as("c_nrm")))
    val pairs = ivfBatchPairs(cents, screened, idCol, vecCol, minMicro, nProbe)
    val survivors = Dedup.collapseToSurvivors(screened, pairs, idCol)
    (survivors, ivfIndexExtend(index, survivors, idCol, vecCol))
  }

  /** Intra-batch near-dup pairs under an existing index's cell
    * structure: each batch vector keyed by its `nProbe` closest cells
    * (broadcast centroid cross, group-limited), candidate pairs share
    * a cell, every candidate exact-cosine-scored. The keyed relation
    * is locally checkpointed before the self-join — the
    * [[nearDupPairsLsh]] boundary, same reason (the join's per-match
    * path would re-evaluate the centroid scoring cross per candidate
    * pair). */
  private[operators] def ivfBatchPairs(cents: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, minMicro: Long, nProbe: Int): DataFrame = {
    val byCloseness = Window.partitionBy(idCol)
      .orderBy(col("cell_cos").desc, col("cell_id"))
    val keyed = withNorm(batch, idCol, vecCol).crossJoin(cents)
      .withColumn("cell_cos",
        cosMicroPre(dot(col(vecCol), col("c_vec")), col("nrm"), col("c_nrm")))
      .withColumn("cell_rank", row_number().over(byCloseness))
      .filter(col("cell_rank") <= nProbe)
      .select(col(idCol), col(vecCol), col("nrm"), col("cell_id"))
      .localCheckpoint(true)
    keyed.toDF("a_id", "a_vec", "a_nrm", "cell_id")
      .join(keyed.toDF("b_id", "b_vec", "b_nrm", "cell_id"), Seq("cell_id"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos_micro",
        cosMicroPre(dot(col("a_vec"), col("b_vec")), col("a_nrm"), col("b_nrm")))
      .filter(col("cos_micro") >= minMicro)
      .select(col("a_id").as("src"), col("b_id").as("dst")).distinct()
  }

  /** Per-group top-k via the native [[graft.functions.TopKByScore]]
    * heap aggregate: (score desc, id asc), k-capped. */
  def topKBy(score: Column, id: Column, k: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.TopKByScore(
      ColumnBridge.expression(score), ColumnBridge.expression(id),
      ColumnBridge.expression(lit(k))).toAggregateExpression())
  }

  /** Shared ANN candidate generation: LSH-bucket the corpus, broadcast
    * the (filtered) query side, equi-join on bucket, score each
    * candidate with the exact cosine. Both rankers consume this. */
  private def annScoredCandidates(vecs: DataFrame, idCol: String, vecCol: String,
      planes: Int, dims: Int, queryFilter: Column): DataFrame = {
    val signs = hyperplaneSigns(planes, dims)
    val bucketed = withNorm(vecs, idCol, vecCol)
      .withColumn("bucket", lshBucket(col(vecCol), signs))
    val q = broadcast(bucketed.filter(queryFilter)
      .toDF("query_id", "q_vec", "q_nrm", "bucket"))
    val c = bucketed.toDF("neighbor_id", "c_vec", "c_nrm", "bucket")
    c.join(q, Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_micro",
        cosMicroPre(dot(col("q_vec"), col("c_vec")), col("q_nrm"), col("c_nrm")))
  }

  /** [[annTopK]] with the rank-within-query step as the k-capped heap
    * aggregate instead of a `row_number` window: candidates are never
    * sorted or materialized per group — map-side partial heaps carry at
    * most k entries per (mapper, query) into the shuffle, where the
    * window form shuffles and sorts EVERY candidate row. Same output,
    * same ordering contract (cos desc, id asc). */
  def annTopKAgg(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, planes: Int, dims: Int, queryFilter: Column): DataFrame =
    annScoredCandidates(vecs, idCol, vecCol, planes, dims, queryFilter)
      .groupBy("query_id")
      .agg(topKBy(col("cos_micro"), col("neighbor_id"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"),
        col("col.id").as("neighbor_id"),
        col("col.score").as("cos_micro"),
        (col("pos") + 1).cast("long").as("rank"))

  /** ANN top-k: candidates share the query's LSH bucket (equi-join on
    * bucket — no cross product), then exact cosine ranking within the
    * bucket. Approximate: recall is the bucket-collision probability. */
  def annTopK(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, planes: Int, dims: Int, queryFilter: Column): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_micro").desc, col("neighbor_id"))
    annScoredCandidates(vecs, idCol, vecCol, planes, dims, queryFilter)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "bucket", "neighbor_id", "cos_micro", "rank")
  }
}
