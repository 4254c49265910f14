package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational operators of the engine (SURVEY.md §2).
  *
  * Everything here composes Spark built-ins — no RDDs, no UDFs — so each
  * operator stays a declarative Catalyst plan: predicate pushdown, column
  * pruning, broadcast selection and AQE all apply to the composed plan
  * exactly as to hand-written DataFrame code.
  */
object Relational {

  /** Exact, order-independent money sum, double out: equal bit for bit to
    * `sum(c.cast("decimal(18,s)")).cast("double")` — the determinism rule
    * that lets a sum hash-match the DuckDB oracle — summed by
    * [[graft.functions.ExactMoneySum]] in two `long` limbs instead of a
    * per-row decimal cast and a 28-digit decimal buffer. Works as a group
    * aggregate, under `pivot`, and over a window. */
  def sumMoney(c: Column, scale: Int = 2): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.ExactMoneySum(
      ColumnBridge.expression(c), scale).toAggregateExpression())
  }

  /** J1 — multi-key join with pandas-style suffix handling.
    *
    * The reference relies on pandas `merge(..., suffixes=('', '_y'))`
    * (`/root/reference/down/down_water_prep.py:296`). Spark errors on
    * ambiguous columns instead, so colliding non-key columns of `right`
    * are deterministically renamed `<name><suffix>` before the join.
    */
  def joinWithSuffixes(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      how: String = "full_outer",
      suffix: String = "_y"): DataFrame = {
    val collisions = right.columns.toSet.intersect(left.columns.toSet) -- keys
    val r = collisions.foldLeft(right)((d, c) => d.withColumnRenamed(c, c + suffix))
    left.join(r, keys, how)
  }

  /** J5 — deterministic keep-first dedup: one survivor per key group,
    * chosen by `order` (the reference's `sort_values(...).drop_duplicates`,
    * `/root/reference/down/down_water_prep.py:497-501`).
    *
    * Implemented as a window `row_number`, which Spark executes as a single
    * hash-shuffle on `keys` + per-partition sort — no global sort, unlike a
    * literal translation of sort-then-dedup. `order` must be a total order
    * within each group for the survivor to be deterministic (the unsorted
    * reference variant `direct/direct_water_prep.py:130` is
    * arbitrary-survivor; pass an explicit tiebreak instead).
    */
  def keepFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** X9 — null-coalescing column repair after an outer join: for each base
    * column, fill nulls from its suffixed twin
    * (`/root/reference/down/down_water_prep.py:307-313`). `dropTwin=false`
    * keeps the `_y` columns so a post-repair consistency audit (G2,
    * `down_water_prep.py:324-360`) can still compare against them. */
  def coalesceRepair(df: DataFrame, baseCols: Seq[String], suffix: String = "_y",
      dropTwin: Boolean = true): DataFrame =
    baseCols.foldLeft(df) { (d, c) =>
      val filled = d.withColumn(c, coalesce(col(c), col(c + suffix)))
      if (dropTwin) filled.drop(c + suffix) else filled
    }

  /** P6 — key mirroring: expose a row under several alternative join keys.
    * The reference copies the whole table once per key and unions
    * (`/root/reference/direct/direct_water_prep.py:107-119`); here it is a
    * single-pass `explode` — no self-union, no second scan.
    */
  def keyMirror(df: DataFrame, outKey: String, keySources: Seq[Column]): DataFrame =
    df.withColumn(outKey, explode(array(keySources: _*)))

  /** U1 — union of heterogeneous strata by column name, padding columns
    * missing on either side with nulls (the reference's post-cascade
    * concat, `/root/reference/down/down_water_prep.py:531-532`). */
  def unionStrata(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  /** Skew-salted left join: when one fact key dominates (the reference's
    * own data is skewed — one contaminant is 40% of rows, SURVEY.md
    * §4.2), a plain hash join sends the hot key to one task. Salting
    * splits it: the fact side gets a deterministic salt in [0, buckets)
    * from its row content, the (small) dimension side is replicated once
    * per salt, and the join key becomes (keys, salt) — the hot key now
    * spreads over `buckets` tasks. Result is row-for-row identical to
    * the unsalted join (dim replicated, never duplicated per fact row).
    *
    * Prefer AQE's skew-join splitting (on by default in
    * [[graft.GraftSession]]) when it fires; this operator is for the
    * cases AQE can't fix — e.g. a skewed AGGREGATION feeding the join,
    * or pre-AQE stage boundaries. Dimension must be small: it is
    * replicated `buckets`×.
    */
  def saltedLeftJoin(
      fact: DataFrame,
      dim: DataFrame,
      keys: Seq[String],
      buckets: Int): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    // salt from row POSITION, not row content: the worst skew is
    // bit-identical duplicate rows on the hot key, which a content hash
    // would send to one salt (and one task) again
    val salted = fact.withColumn("__salt",
      pmod(monotonically_increasing_id(), lit(buckets.toLong)).cast("int"))
    val dimSalted = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    salted.join(dimSalted, keys :+ "__salt", "left").drop("__salt")
  }

  /** W/RANGE at scale — trailing time-window count + sum per key, the
    * density-robust equivalent of a RANGE frame `[t − width, t]`.
    *
    * Spark executes a SLIDING range frame by re-aggregating the entire
    * frame for every row (aggregate buffers cannot retract), so its cost
    * is O(rows × rows-per-width) — quadratic in event density: 10× the
    * events in the same time window is 100× the work (measured ≈49× CPU
    * at 10× density, SCALING.md). This form is the classic add/remove
    * LEDGER: each row explodes into an add entry at `t`, an evaluation
    * entry at `t`, and a remove entry at `t + width`; one shuffle on the
    * key, one per-partition sort by (time, phase, id), and a running sum
    * over an UNBOUNDED PRECEDING frame — which Spark aggregates
    * incrementally — gives every evaluation row its trailing window.
    * O(rows log rows) regardless of density.
    *
    * Equivalence with the RANGE frame (the q67 oracle has DuckDB compute
    * the actual RANGE window and the results hash-match): phase order
    * add(0) < eval(1) < remove(2) within a timestamp means an evaluation
    * at time t has seen every add with u ≤ t — including same-timestamp
    * PEERS, which RANGE frames include regardless of row order — and no
    * remove with u + width ≥ t (a row at exactly t − width is still in
    * frame, so its remove lands strictly after t). Pass `valueCol`
    * pre-cast to DECIMAL: adds and subtracts then round-trip exactly and
    * the ledger sum is bit-identical to direct frame aggregation; null
    * values contribute no delta, matching `sum`'s null-skipping.
    *
    * @param timeCol long event time (any unit, consistent with `width`)
    * @param idCol   per-key tiebreak making the ledger order total
    */
  def trailingWindowAgg(
      df: DataFrame,
      keyCols: Seq[String],
      timeCol: String,
      idCol: String,
      valueCol: Column,
      width: Long,
      nOut: String = "n_trail",
      sumOut: String = "sum_trail"): DataFrame = {
    require(width > 0, "width must be positive")
    val ledger = df
      .withColumn("__e", explode(array(
        struct(col(timeCol).as("eff"), lit(0).as("phase")),
        struct(col(timeCol).as("eff"), lit(1).as("phase")),
        struct((col(timeCol) + width).as("eff"), lit(2).as("phase")))))
      .withColumn("__dn",
        when(col("__e.phase") === 0, 1L).when(col("__e.phase") === 2, -1L))
      .withColumn("__dv",
        when(col("__e.phase") === 0, valueCol)
          .when(col("__e.phase") === 2, -valueCol))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__e.eff"), col("__e.phase"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    ledger
      .withColumn(nOut, sum(col("__dn")).over(w))
      .withColumn(sumOut, sum(col("__dv")).over(w))
      .filter(col("__e.phase") === 1)
      .drop("__e", "__dn", "__dv")
  }

  /** W/RANGE — trailing time-window count + sum per key as a sliding
    * RANGE frame `[t − width, t]` — the direct window form of the same
    * semantics [[trailingWindowAgg]] computes by ledger. Cheaper than
    * the ledger at BOUNDED frame occupancy (no 3× row explosion), but
    * Spark re-aggregates the whole frame per row, so cost is
    * O(rows × rows-per-frame) — quadratic in event density. Prefer
    * [[rollingAgg]], which routes between the two forms on a density
    * estimate (measured crossover in SCALING.md). */
  def rangeFrameAgg(
      df: DataFrame,
      keyCols: Seq[String],
      timeCol: String,
      valueCol: Column,
      width: Long,
      nOut: String = "n_trail",
      sumOut: String = "sum_trail"): DataFrame = {
    require(width > 0, "width must be positive")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(timeCol))
      .rangeBetween(-width, 0)
    df.withColumn(nOut, count(lit(1)).over(w))
      .withColumn(sumOut, sum(valueCol).over(w))
  }

  /** W/RANGE front door — trailing time-window count + sum per key,
    * ROUTED between the two plans that compute it:
    *
    *  - [[rangeFrameAgg]] (sliding RANGE frame): no row explosion, but
    *    Spark re-aggregates the full frame per row — O(rows ×
    *    rows-per-frame), quadratic in event density;
    *  - [[trailingWindowAgg]] (add/remove ledger): a fixed ~3×
    *    row-explosion constant, then one incremental running sum —
    *    O(rows log rows) at ANY density.
    *
    * The routing rule encodes SCALING.md's measured crossover instead
    * of leaving it as prose: at ~140 events per (key, width) frame the
    * frame was 1.26× cheaper than the ledger (48.8 vs 61.7 CPU-s), at
    * ~470 it was 1.65× more expensive (305.6 vs 184.6) — the measured
    * pair puts break-even near 200 expected rows per frame, the
    * `crossover` default. Both plans are hash-verified against the
    * same DuckDB RANGE oracle (q48/q67/q69), so routing can never
    * change the answer — only the cost.
    *
    * Density = mean trailing-frame occupancy, ROW-weighted: the frame
    * cost is Σ_k n_k · occ_k (every row re-aggregates its own frame),
    * so the estimate is Σ n_k · occ_k / Σ n_k with occ_k =
    * n_k · width / (span_k + width). A per-KEY mean would let one
    * dense key hide behind thousands of sparse ones and misroute the
    * workload onto the quadratic frame plan — the row weighting makes
    * the hot key dominate the estimate exactly as it dominates the
    * cost. Estimating costs one small aggregation job at PLAN
    * CONSTRUCTION time (the
    * `nearDupPairsLshAuto` pattern — trivial against the window it
    * right-sizes, but a per-batch caller should pass
    * `eventsPerFrameHint` and skip it; the hint also serves workloads
    * whose future density the caller knows better than the sample,
    * e.g. a backfill growing 10× next month — route by where the
    * density is GOING, not where it is).
    *
    * Output matches [[trailingWindowAgg]]: every input column plus
    * `nOut`/`sumOut`, one row per input row. Pass `valueCol` pre-cast
    * to DECIMAL for cross-engine-exact sums (see
    * [[trailingWindowAgg]]'s equivalence note).
    */
  def rollingAgg(
      df: DataFrame,
      keyCols: Seq[String],
      timeCol: String,
      idCol: String,
      valueCol: Column,
      width: Long,
      nOut: String = "n_trail",
      sumOut: String = "sum_trail",
      eventsPerFrameHint: Option[Double] = None,
      crossover: Double = 200.0): DataFrame = {
    require(width > 0, "width must be positive")
    val density = eventsPerFrameHint.getOrElse {
      val occ = df.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__n"),
          (max(col(timeCol)) - min(col(timeCol))).as("__span"))
        .select(col("__n").cast("double").as("__n"),
          (col("__n").cast("double") * width
            / (col("__span").cast("double") + width)).as("__occ"))
        .agg((sum(col("__n") * col("__occ")) / sum(col("__n"))).as("__d"))
        .head()
      if (occ.isNullAt(0)) 0.0 else occ.getDouble(0) // empty input → either route
    }
    if (density <= crossover)
      rangeFrameAgg(df, keyCols, timeCol, valueCol, width, nOut, sumOut)
    else
      trailingWindowAgg(df, keyCols, timeCol, idCol, valueCol, width, nOut, sumOut)
  }

  /** J3/J4 — hierarchical enrichment cascade (the reference's signature
    * operator, `/root/reference/down/down_water_prep.py:428-546` and the
    * 2-level variant `direct/direct_water_prep.py:134-166`).
    *
    * Semantics: try to enrich each `data` row with `dim`'s payload at the
    * most specific key level; rows that miss fall through to the next,
    * coarser level; every input row appears exactly once in the output
    * (row-conservation gate G3) unless `dropUnmatched`.
    *
    * Scale design — this deliberately does NOT mirror the reference's
    * three-pass join/split/union shape. Each key level's dimension is
    * 1:1-ified with [[keepFirst]], then ALL levels join in one pass over
    * the fact table (left join per level, match precedence enforced by a
    * first-hit CASE over the per-level match markers). With
    * reference-sized dims every join is a broadcast hash join: the 100 TB
    * fact table is scanned once, shuffle-free, instead of 3 passes + 2
    * re-filters. Equivalence with the sequential cascade holds because
    * each per-level dim is unique on its keys (no fan-out) and payloads
    * are gated on the level's hit marker, so a row matched at level k is
    * never re-enriched at k+1 — even when the level-k payload value is
    * genuinely NULL in the dimension.
    *
    * @param data       fact rows to enrich
    * @param dim        dimension carrying `payloadCols`
    * @param keyLevels  key lists, most specific first; names must exist in both frames
    * @param payloadCols dimension columns to attach
    * @param dimOrder   total order choosing the per-key survivor inside `dim`
    * @param dropUnmatched J4 semantics: drop rows that miss at every level
    * @param hintBroadcast force a broadcast hint on every level dim. Leave
    *        false (the default) to let AQE / autoBroadcastJoinThreshold
    *        choose — a dimension past the 8 GB broadcast limit then falls
    *        back to a shuffle join instead of failing the job.
    * @param missOn payload column whose null-or-empty value demotes a key
    *        match to a miss — the reference's cascade detects misses by
    *        `ZIP_CODE`/`MAIL_ZIP` nullness, not key presence
    *        (`down_water_prep.py:507-522`, `direct_water_prep.py:149-150`).
    *        The LAST level is only miss-checked when `dropUnmatched` is
    *        set: the conserving cascade keeps final-level rows regardless
    *        (`down_water_prep.py:528-532`) while the dropping variant's
    *        final filter is exactly the indicator's nullness
    *        (`direct_water_prep.py:165`).
    * @param perLevelOrder per-level override of `dimOrder` (the reference
    *        dedups levels 3/2 by sample location but level 1 by system
    *        name, `down_water_prep.py:497-501`); must align with
    *        `keyLevels` when non-empty.
    */
  def hierarchicalEnrich(
      data: DataFrame,
      dim: DataFrame,
      keyLevels: Seq[Seq[String]],
      payloadCols: Seq[String],
      dimOrder: Seq[Column],
      dropUnmatched: Boolean = false,
      levelColName: String = "match_level",
      hintBroadcast: Boolean = false,
      missOn: Option[String] = None,
      perLevelOrder: Seq[Seq[Column]] = Nil): DataFrame = {

    require(keyLevels.nonEmpty, "at least one key level")
    require(perLevelOrder.isEmpty || perLevelOrder.length == keyLevels.length,
      "perLevelOrder must align with keyLevels")
    missOn.foreach(m => require(payloadCols.contains(m), s"missOn '$m' must be a payload column"))

    // One deduped, suffixed dimension per level: keys + payload_L<i> + marker.
    // keepFirst runs on the full dim so dimOrder may reference non-payload
    // columns; Catalyst's ColumnPruning drops everything the window and the
    // projection don't need.
    val levelDims = keyLevels.zipWithIndex.map { case (keys, i) =>
      val order = if (perLevelOrder.nonEmpty) perLevelOrder(i) else dimOrder
      val slim = keepFirst(dim, keys, order)
        .select((keys ++ payloadCols).distinct.map(col): _*)
      val suffixed = payloadCols.foldLeft(slim)((d, c) => d.withColumnRenamed(c, s"__${c}_L$i"))
      keys -> suffixed.withColumn(s"__hit_L$i", lit(true))
    }

    // Single pass: chain of left joins, then per-payload first-hit CASE in
    // level order. A level "hits" when its key matched AND (for all levels
    // but the last, when missOn is set) its miss-indicator payload is
    // non-null and non-empty — the cascade's fall-through rule.
    val joined = levelDims.foldLeft(data) { case (acc, (keys, d)) =>
      acc.join(if (hintBroadcast) broadcast(d) else d, keys, "left")
    }

    val last = keyLevels.length - 1
    def hit(i: Int): Column = missOn match {
      case Some(m) if i < last || dropUnmatched =>
        // cast to string for the empty-marker test: comparing a numeric
        // indicator against '' would coerce the literal to null and
        // silently demote EVERY match to a miss
        val ind = col(s"__${m}_L$i")
        col(s"__hit_L$i") && ind.isNotNull && ind.cast("string") =!= ""
      case _ => col(s"__hit_L$i")
    }

    val repaired = payloadCols.foldLeft(joined) { (d, c) =>
      val firstHit = keyLevels.indices
        .map(i => when(hit(i), col(s"__${c}_L$i")))
        .reduceRight((a, b) => a.otherwise(b))
      d.withColumn(c, firstHit)
    }

    val levelExpr = keyLevels.indices.foldRight(lit(null).cast("int")) { (i, rest) =>
      when(hit(i), lit(i + 1)).otherwise(rest)
    }

    val out = repaired
      .withColumn(levelColName, levelExpr)
      .drop(keyLevels.indices.flatMap(i => payloadCols.map(c => s"__${c}_L$i") :+ s"__hit_L$i"): _*)

    if (dropUnmatched) out.filter(col(levelColName).isNotNull) else out
  }
}
