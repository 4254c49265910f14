package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality gates (SURVEY.md §2.12).
  *
  * The reference guards pipeline stages with count assertions that halt the
  * run (`/root/reference/direct/direct_water_prep.py:76-101`,
  * `down/down_water_prep.py:323-360,540-543`). The engine's form is a named
  * predicate list evaluated in ONE aggregation pass (conditional counts),
  * not one `count()` action per check — at 100 TB, N passes over the fact
  * table for N gates is the difference between one scan and N scans.
  */
object Quality {

  final case class Gate(name: String, violation: Column)

  /** Per-gate violation-count aggregates, `totalName` first. count(when),
    * not sum(when): sum over ZERO rows is null, and an empty input must
    * report 0 violations (as the oracle's COUNT(*) FILTER does), not
    * null — same discipline in [[profile]]. Used by [[audit]]. */
  def gateCountExprs(gates: Seq[Gate], totalName: String): Seq[Column] = {
    require(gates.map(_.name).distinct.length == gates.length,
      "gate names must be unique")
    require(!gates.exists(_.name == totalName),
      s"gate name '$totalName' collides with the total-rows metric")
    count(lit(1)).as(totalName) +:
      gates.map(g => count(when(g.violation, 1)).as(g.name))
  }

  /** Evaluate all gates in a single scan; returns (gate, violations) rows. */
  def audit(df: DataFrame, gates: Seq[Gate]): DataFrame = {
    val exprs = gateCountExprs(gates, "__total")
    val counts = df.agg(exprs.head, exprs.tail: _*)
    // pivot to long form: one row per gate
    val stacked = gates.map(g =>
      struct(lit(g.name).as("gate"), col(g.name).as("violations")))
    counts.select(explode(array(stacked: _*)).as("g"), col("__total").as("total_rows"))
      .select(col("g.gate").as("gate"), col("g.violations").as("violations"), col("total_rows"))
  }

  /** Throw when an [[audit]] result carries violations — callers that
    * already hold the audit frame (e.g. for logging) enforce it without
    * a second aggregation. */
  def enforceAudit(auditResult: DataFrame): Unit = {
    val bad = auditResult.filter(col("violations") > 0).collect()
    if (bad.nonEmpty) {
      val detail = bad.map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(", ")
      throw new IllegalStateException(s"DQ gate failed: $detail")
    }
  }

  /** Hard gate: throw if any violations (the reference's halt-on-anomaly,
    * minus the interactive prompt — G5 becomes fail-fast). */
  def enforce(df: DataFrame, gates: Seq[Gate]): Unit =
    enforceAudit(audit(df, gates))

  /** Column profile — the data-profiling twin of [[audit]]: per column,
    * row/null/distinct counts and string-rendered min/max, all from ONE
    * aggregation over one scan. The shape a DQ dashboard or an ingest
    * contract check consumes.
    *
    * `exactDistinct=false` swaps `count(distinct)` for the one-pass HLL
    * `approx_count_distinct` — at 100 TB the exact form's Expand
    * (k× row multiplication for k profiled columns) is the scan cost
    * times k, while the sketch keeps the single pass. Exact is the
    * oracle-comparable default; flip it at scale.
    */
  def profile(df: DataFrame, cols: Seq[String],
      exactDistinct: Boolean = true): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        count(when(col(c).isNull, 1)).as(s"__nn_$c"),
        (if (exactDistinct) count_distinct(col(c))
         else approx_count_distinct(col(c))).as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__mn_$c"),
        max(col(c)).cast("string").as(s"__mx_$c"))
    }
    val counts = df.agg(count(lit(1)).as("__total"), aggs: _*)
    val stacked = cols.map(c => struct(
      lit(c).as("column"),
      col(s"__nn_$c").as("n_nulls"),
      col(s"__nd_$c").as("n_distinct"),
      col(s"__mn_$c").as("min_value"),
      col(s"__mx_$c").as("max_value")))
    counts.select(explode(array(stacked: _*)).as("p"), col("__total").as("n_rows"))
      .select(col("p.column").as("column"), col("n_rows"),
        col("p.n_nulls").as("n_nulls"), col("p.n_distinct").as("n_distinct"),
        col("p.min_value").as("min_value"), col("p.max_value").as("max_value"))
  }

  /** Deterministic equal-width histogram of `valueCol` over [lo, hi]:
    * `(bin, n)` with bin = clamp(floor((x − lo)/(hi − lo)·nBins), 0,
    * nBins−1) — the closed upper edge folds into the last bin — and
    * bin −1 counting nulls. One map-side-combined aggregation; the bin
    * arithmetic is plain IEEE double ops in a fixed order, so any
    * engine reproduces the exact assignment (no quantile sketch, no
    * sampling — bounds come from the caller, see
    * [[distributionDrift]]). Degenerate bounds (hi ≤ lo) put every
    * non-null row in bin 0. */
  def binnedHistogram(df: DataFrame, valueCol: String, nBins: Int,
      lo: Double, hi: Double): DataFrame = {
    require(nBins >= 1, s"nBins must be positive, got $nBins")
    val x = col(valueCol).cast("double")
    // clamp the RATIO in double space before the multiply/floor/cast:
    // an extreme outlier (1e300 — exactly what a drift gate exists to
    // see) would otherwise overflow the integer cast, which under ANSI
    // mode is a query-killing throw, not a wrap. For in-range values
    // the clamp is an identity and the op sequence (divide, multiply,
    // floor) is unchanged — the oracle replays it bit-for-bit.
    val raw =
      if (hi > lo)
        floor(least(greatest((x - lit(lo)) / (lit(hi) - lit(lo)), lit(0.0)),
          lit(1.0)) * lit(nBins))
      else lit(0L)
    val bin = when(col(valueCol).isNull, lit(-1))
      .otherwise(least(raw, lit(nBins.toLong - 1)).cast("int"))
    df.groupBy(bin.as("bin")).agg(count(lit(1)).as("n"))
  }

  /** Distribution-drift relation between a REFERENCE snapshot and a
    * CURRENT one — the dataset-shift gate a training pipeline runs
    * batch-over-batch (did yesterday's quality-score / length / value
    * distribution move?): both sides binned by [[binnedHistogram]]
    * under the REFERENCE side's min/max (one tiny agg; the current
    * side's outliers clamp into the edge bins, where they show up as
    * drift — the desired behavior), full-outer-joined per bin with
    * exact integral permille shares and their absolute difference.
    *
    * Output `(bin, ref_n, cur_n, ref_permille, cur_permille,
    * diff_permille)`, bin −1 = nulls. The scalar drift statistic is
    * the L1 permille distance Σ diff_permille ∈ [0, 2000] (total
    * variation distance = L1/2) — pure integer arithmetic, unlike
    * PSI's transcendental ln, so the DuckDB oracle reproduces it
    * bit-for-bit (q113). Gate with [[enforceDistributionStability]].
    */
  def distributionDrift(ref: DataFrame, cur: DataFrame, valueCol: String,
      nBins: Int = 20): DataFrame = {
    // bounded driver materialization: ONE row (min, max) of the ref side
    val b = ref.agg(min(col(valueCol).cast("double")),
      max(col(valueCol).cast("double"))).head()
    val (lo, hi) =
      if (b.isNullAt(0)) (0.0, 0.0) else (b.getDouble(0), b.getDouble(1))
    def side(df: DataFrame, n: String, p: String) = {
      // The total rides a window over the HISTOGRAM (≤ nBins+1 rows),
      // not a separate .head() — the corpus is scanned once per side,
      // not twice (the .head() form re-evaluated binnedHistogram inside
      // the joined plan). The single-partition exchange moves only the
      // bin rows. `div` keeps the share integral — the skewReport
      // discipline — so the DuckDB oracle replays it exactly.
      val h = binnedHistogram(df, valueCol, nBins, lo, hi)
        .withColumn("__tot", sum(col("n")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
      h.select(col("bin"), col("n").as(n),
        when(col("__tot") > 0, expr("(n * 1000) div __tot"))
          .otherwise(lit(0L)).cast("long").as(p))
    }
    side(ref, "ref_n", "ref_permille")
      .join(side(cur, "cur_n", "cur_permille"), Seq("bin"), "full_outer")
      .na.fill(0L, Seq("ref_n", "cur_n", "ref_permille", "cur_permille"))
      .withColumn("diff_permille",
        abs(col("ref_permille") - col("cur_permille")))
      .orderBy("bin")
  }

  /** Σ diff_permille of a [[distributionDrift]] relation — the L1
    * permille drift statistic (TV distance × 2), one tiny agg. */
  def driftL1Permille(drift: DataFrame): Long =
    drift.agg(coalesce(sum("diff_permille"), lit(0L))).head().getLong(0)

  /** The DQ-gate form: throw when the L1 permille drift between the
    * snapshots exceeds `maxL1Permille` (0 = identical shares, 2000 =
    * disjoint distributions). */
  def enforceDistributionStability(ref: DataFrame, cur: DataFrame,
      valueCol: String, maxL1Permille: Long, nBins: Int = 20): Unit = {
    val l1 = driftL1Permille(distributionDrift(ref, cur, valueCol, nBins))
    if (l1 > maxL1Permille)
      throw new IllegalStateException(
        s"distribution-stability gate failed on '$valueCol': L1 drift " +
          s"${l1}permille > ${maxL1Permille}permille — the current " +
          "snapshot's distribution moved; inspect distributionDrift's " +
          "per-bin relation for where")
  }

  /** Order-independent table checksum: one row with the row count and
    * the sum of per-row portable hashes, mod 2^61 — "did ANY row
    * change?" as a single scan, for pipeline regression gates and
    * cross-engine migration checks (the DuckDB oracle reproduces the
    * exact value from the same md5 construction).
    *
    * Row encoding is injective for any values: each column contributes
    * `v<len>:<text>` (or `n` for null) joined by `|`, so a value
    * containing the separator cannot collide with a column boundary.
    * Caller chooses columns whose TEXT RENDERING is engine-portable
    * (strings, integers, dates — not floats, whose formatting differs
    * across engines). Commutative sum → partition order, shuffle order
    * and row order all cancel out; the decimal accumulator is exact to
    * 1e20 rows.
    */
  def tableChecksum(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "checksum needs at least one column")
    val enc = rowEncoding(cols)
    df.select(graft.functions.Hashing.h60(enc)
        .cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("__h"))
      .agg(count(lit(1)).as("n_rows"),
        expr(s"CAST(sum(__h) % ${1L << 61} AS BIGINT)").as("checksum"))
  }
  /** The injective per-row text encoding [[tableChecksum]] hashes: each
    * column contributes `v<len>:<text>` (or `n` for null) joined by `|` —
    * a value containing the separator cannot collide with a column
    * boundary. Shared with [[Export]]'s per-shard manifests so a shard
    * checksum and a table checksum are the same construction. */
  def rowEncoding(cols: Seq[String]): Column = {
    require(cols.nonEmpty, "row encoding needs at least one column")
    concat_ws("|", cols.map { c =>
      val s = col(c).cast("string")
      when(s.isNull, lit("n"))
        .otherwise(concat(lit("v"), length(s), lit(":"), s))
    }: _*)
  }

  /** DuckDB-SQL twin of [[rowEncoding]], for oracle queries built from
    * the same definition. */
  def rowEncodingSql(cols: Seq[String]): String =
    cols.map { c =>
      s"CASE WHEN $c IS NULL THEN 'n' ELSE 'v' || length(CAST($c AS VARCHAR)) || ':' || CAST($c AS VARCHAR) END"
    }.mkString("concat_ws('|', ", ", ", ")")

  def requireRowConservation(in: DataFrame, out: DataFrame): Unit = {
    val (i, o) = (in.count(), out.count())
    if (i != o) throw new IllegalStateException(s"row conservation violated: in=$i out=$o")
  }

  /** ROW-share skew report over `keys`: the top `topN` key tuples by
    * row count, each with its exact integer
    * `share_permille = (1000 · n_rows) div total`.
    *
    * This exists for the blind spot `SkewStudy` measured in AQE's skew
    * split (SCALING.md r13): AQE detects skew by partition BYTES,
    * post-pruning and post-compression — a hot key whose partition is
    * highly compressible (a CONSTANT key after column pruning is the
    * worst case) lands below
    * `skewedPartitionThresholdInBytes`, the split never fires, and the
    * join task processes the hot key's millions of rows alone with AQE
    * nominally on. Row share sees what the byte heuristic cannot:
    * gate a pipeline on it ([[enforceKeyBalance]]) before shuffling on
    * a key whose top tuple owns a straggler-sized share, and respond
    * by lowering the byte threshold or re-keying.
    *
    * Plan shape: one map-side-combined hash aggregation over the keys;
    * the total is an O(distinct-keys) re-aggregation of that SAME
    * exchange (reused, not a second corpus scan), broadcast back; the
    * top-N is a TakeOrdered, never a global sort. Deterministic: ties
    * broken by the key values ascending. */
  def skewReport(df: DataFrame, keys: Seq[String], topN: Int = 20): DataFrame = {
    require(keys.nonEmpty, "skewReport needs at least one key column")
    require(topN > 0, s"topN must be positive, got $topN")
    val counts = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n_rows"))
    val total = counts.agg(sum("n_rows").as("__total"))
    counts.crossJoin(broadcast(total))
      .withColumn("share_permille", expr("(1000 * n_rows) div __total"))
      .drop("__total")
      .orderBy(col("n_rows").desc +: keys.map(col): _*)
      .limit(topN)
  }

  /** The DQ-gate form of [[skewReport]]: throw when any key tuple's
    * row share exceeds `maxSharePermille` — the [[enforce]] discipline
    * applied to the skew the per-row gates cannot express (share is a
    * whole-relation property). Checks the top `topN` tuples, which is
    * sufficient: shares are monotone in n_rows, so any violator is in
    * the top-N for topN ≥ 1. */
  def enforceKeyBalance(df: DataFrame, keys: Seq[String],
      maxSharePermille: Long, topN: Int = 20): Unit = {
    val bad = skewReport(df, keys, topN)
      .filter(col("share_permille") > maxSharePermille).collect()
    if (bad.nonEmpty) {
      val detail = bad.map { r =>
        val key = keys.map(k => s"$k=${r.getAs[Any](k)}").mkString(",")
        s"[$key] ${r.getAs[Long]("share_permille")}permille"
      }.mkString("; ")
      throw new IllegalStateException(
        s"key-balance gate failed (max ${maxSharePermille}permille): $detail — " +
          "a hot key this size survives AQE's byte-based skew split when its " +
          "partition compresses (SkewStudy); lower " +
          "skewedPartitionThresholdInBytes or re-key before shuffling on it")
    }
  }

  /** EXACT quantile profile — `(permille, rank, value)` for each
    * requested permille point over the non-null values of `valueCol`,
    * where the p-permille quantile is DEFINED as the value at 0-based
    * sorted index `(n−1)·p div 1000` (lower-nearest discrete pick —
    * integer-exact, no interpolation, so any engine reproduces it from
    * the row set alone; the oracle replays the same definition, q126).
    *
    * Shape at scale — exact selection with NO corpus-wide sort or
    * shuffle at all: values are binned by a DETERMINISTIC equi-width
    * split of the [min, max] range (pure projection — no
    * repartitionByRange sampling job, and nothing to checkpoint
    * because every pass recomputes the identical binning), one
    * map-side-combined counts pass turns bin totals into exclusive
    * offsets (≤ nBins rows on the driver), each target rank resolves
    * to (bin, local index), and ONLY the ≤ |targets| candidate bins
    * are exchanged and sorted — the corpus outside them is never
    * shuffled. (The first cut range-partitioned + sorted the whole
    * relation and then let the rank window re-exchange and re-sort it
    * on the partition id — measured 26 CPU core-s at sf1 for an
    * 8-value answer; this shape prices at the three scans plus
    * candidate-bin-sized work.)
    *
    * Heavily skewed columns can land a target in a mega-bin (the
    * degenerate all-one-value column puts everything in bin 0); the
    * candidate sort then carries that bin alone — raise `nBins` when a
    * profile column is known skew-heavy. `(n−1)·p` is exact in a
    * signed long to ~9·10^15 rows (p ≤ 1000); ANSI raises beyond. */
  def quantileProfile(df: DataFrame, valueCol: String,
      permilles: Seq[Int] = Seq(0, 100, 250, 500, 750, 900, 990, 1000),
      nBins: Int = 256): DataFrame = {
    require(permilles.nonEmpty, "quantileProfile needs at least one point")
    require(permilles.forall(p => p >= 0 && p <= 1000),
      s"permilles must be in [0, 1000], got $permilles")
    require(nBins >= 1, s"nBins must be positive, got $nBins")
    val spark = df.sparkSession
    import spark.implicits._
    val vals = df.select(col(valueCol)).filter(col(valueCol).isNotNull)
    val b = vals.agg(min(col(valueCol).cast("double")),
      max(col(valueCol).cast("double")), count(lit(1))).head()
    val n = b.getLong(2)
    if (n == 0L)
      return df.limit(0).select(lit(0).as("permille"),
        lit(0L).as("rank"), col(valueCol).as("value"))
    val (lo, hi) = (b.getDouble(0), b.getDouble(1))
    // the binnedHistogram assignment arithmetic, reused verbatim so the
    // two binnings in this method are one definition
    val x = col(valueCol).cast("double")
    val bin =
      if (hi > lo)
        least(floor(least(greatest((x - lit(lo)) / (lit(hi) - lit(lo)), lit(0.0)),
          lit(1.0)) * lit(nBins)), lit(nBins.toLong - 1)).cast("int")
      else lit(0)
    val counts = vals.groupBy(bin.as("__bin")).agg(count(lit(1)).as("__c"))
      .orderBy("__bin").collect()
    val offsets = {
      var acc = 0L
      counts.map { r => val off = acc; acc += r.getLong(1); (r.getInt(0), off) }
    } // ascending __bin; exclusive prefix
    val targets = permilles.distinct.sorted.map(p => (p, (n - 1) * p / 1000))
    // resolve each target rank to its (bin, local index)
    val resolved = targets.map { case (p, rank) =>
      val i = offsets.lastIndexWhere(_._2 <= rank)
      (p, rank, offsets(i)._1, rank - offsets(i)._2)
    }
    val candBins = resolved.map(_._3).distinct
    val targetsDf = broadcast(resolved
      .map { case (p, rank, bn, local) => (p, rank, bn, local) }
      .toDF("permille", "rank", "__bin", "__local"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__bin").orderBy(valueCol)
    vals.withColumn("__bin", bin)
      .filter(col("__bin").isin(candBins: _*))
      .withColumn("__local", row_number().over(w).cast("long") - 1L)
      .join(targetsDf, Seq("__bin", "__local"))
      .select(col("permille"), col("rank"), col(valueCol).as("value"))
      .orderBy("permille")
  }

  /** GROUPED exact quantile profile — [[quantileProfile]] per key
    * group: `(keys…, permille, rank, value)` with the same
    * lower-nearest definition evaluated inside every group (the
    * per-language length percentiles / per-source score distributions
    * a corpus report tabulates). One hash shuffle on the keys and one
    * window pass compute rank and group size together; rows whose
    * 0-based rank equals a target `(n_g−1)·p div 1000` survive — the
    * output is bounded by groups × points, nothing is collected, and
    * there is no per-group driver loop. Group skew = group size
    * (standard window-partition sizing applies); the single-column
    * global form with its candidate-bin pruning is [[quantileProfile]]. */
  def groupedQuantiles(df: DataFrame, keys: Seq[String], valueCol: String,
      permilles: Seq[Int] = Seq(0, 250, 500, 750, 1000)): DataFrame = {
    require(keys.nonEmpty, "groupedQuantiles needs at least one key column")
    require(permilles.nonEmpty, "groupedQuantiles needs at least one point")
    require(permilles.forall(p => p >= 0 && p <= 1000),
      s"permilles must be in [0, 1000], got $permilles")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(valueCol)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
    val ranked = df.select((keys.map(col) :+ col(valueCol)): _*)
      .filter(col(valueCol).isNotNull)
      .withColumn("__rk", row_number().over(w).cast("long") - 1L)
      .withColumn("__n", count(lit(1)).over(wAll))
    // `div`, not `/`: Column `/` is double division, and (n−1)·p must
    // stay exact long arithmetic (the quantileProfile discipline)
    val points = permilles.distinct.sorted.map(p =>
      struct(lit(p).as("permille"),
        expr(s"((__n - 1) * $p) div 1000").cast("long").as("rank")))
    ranked
      .withColumn("__pt", explode(filter(array(points: _*),
        pt => pt.getField("rank") === col("__rk"))))
      .select((keys.map(col) :+ col("__pt.permille").as("permille") :+
        col("__pt.rank").as("rank") :+ col(valueCol).as("value")): _*)
  }

  /** Per-group IQR outlier report — Tukey fences over the EXACT grouped
    * quartiles of [[groupedQuantiles]]: a row is an outlier when
    * `2·value < 2·q250 − 3·iqr` (low) or `2·value > 2·q750 + 3·iqr`
    * (high), `iqr = q750 − q250`. The ×2 form IS the classic
    * `q ∓ 1.5·IQR` fence with both sides doubled, so no 1.5 literal and
    * no division exists anywhere — for integer value columns the test is
    * exact long arithmetic, and for doubles both engines evaluate the
    * identical (−, ×, +, <) sequence, so the oracle agrees bit-for-bit.
    *
    * Output `(keys…, n, q250, q750, n_out_lo, n_out_hi)` — the
    * distribution-health row a DQ dashboard keeps per segment (the
    * robust-fence complement of [[distributionDrift]]'s binned view:
    * fences don't need a reference snapshot).
    *
    * Shape at scale: one window pass for the quartiles (group-bounded
    * output), the bounds relation is groups-sized and BROADCASTS back
    * onto the corpus, then one aggregation — the value column is scanned
    * twice (quantiles need global ranks; fences need the bounds first)
    * and shuffled twice on the same keys, never more. */
  def iqrOutlierReport(df: DataFrame, keys: Seq[String],
      valueCol: String): DataFrame = {
    val q = groupedQuantiles(df, keys, valueCol, Seq(250, 750))
    val bounds = q.groupBy(keys.map(col): _*).agg(
      min(when(col("permille") === 250, col("value"))).as("q250"),
      min(when(col("permille") === 750, col("value"))).as("q750"))
    val v = col(valueCol)
    val iqr = col("q750") - col("q250")
    val lo = (v * lit(2) < col("q250") * lit(2) - lit(3) * iqr)
    val hi = (v * lit(2) > col("q750") * lit(2) + lit(3) * iqr)
    df.select((keys.map(col) :+ v): _*)
      .filter(v.isNotNull)
      .join(broadcast(bounds), keys)
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        min(col("q250")).as("q250"),
        min(col("q750")).as("q750"),
        sum(when(lo, 1L).otherwise(0L)).as("n_out_lo"),
        sum(when(hi, 1L).otherwise(0L)).as("n_out_hi"))
  }
}
