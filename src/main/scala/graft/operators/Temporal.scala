package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, TimestampNTZType, TimestampType}

/** Temporal joins: batch as-of enrichment, point-into-interval range
  * join, and interval-overlap join.
  *
  * The reference's event-time processing is the pandas as-of pattern
  * (latest anchor per key at or before each row's time). These are
  * batch forms, built so that none of them ever expands to a
  * per-key cross product:
  *
  *  - [[asOfJoin]] is ONE shuffle (union both sides, hash-partition by
  *    key, one per-partition sort, a window `last`) — the classic
  *    union-window as-of. A join-based phrasing (`l.key = r.key AND
  *    r.ts <= l.ts` + keep-latest) explodes to |matches| rows per left
  *    row before pruning; this never materializes more than |L|+|R|.
  *  - [[rangeJoin]] / [[intervalOverlapJoin]] bucketize event time so
  *    the match becomes an equi-join on (keys, bucket) — Spark plans a
  *    shuffled hash/sort-merge join, AQE handles skew — instead of the
  *    inequality-only join Spark would otherwise execute as a
  *    broadcast-nested-loop (quadratic per key pair).
  *
  * All three mirror SQL inner/left-join null semantics: null keys and
  * null event times never match.
  */
object Temporal {

  /** Event time as comparable long microseconds. Timestamps go through
    * the same `unix_micros(cast timestamp)` path as the sessionize
    * query family (UTC session, so NTZ wall-clock micros match the
    * DuckDB oracle's `epoch_us`); numeric columns are taken as-is. */
  private def micros(df: DataFrame, c: String): Column =
    df.schema(c).dataType match {
      case TimestampType | TimestampNTZType => unix_micros(col(c).cast("timestamp"))
      case _                                => col(c).cast("long")
    }

  /** Exact floor-division of a long column by a positive width:
    * `v - pmod(v, w)` is exactly divisible, stays under 2^53, so the
    * double division is exact and the cast back to long loses nothing
    * (a bare `floor(v / w)` can misround at bucket boundaries). */
  private def floorDiv(v: Column, w: Long): Column =
    ((v - pmod(v, lit(w))) / lit(w)).cast("long")

  private def requireCols(df: DataFrame, cols: Seq[String], side: String): Unit = {
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"$side side is missing columns: ${missing.mkString(", ")}")
  }

  /** Batch as-of join: for each `left` row, attach the `rightVals`
    * columns of the closest `right` row with equal `keys`, on the side
    * `direction` selects (the pandas `merge_asof` surface):
    *
    *  - `"backward"` (default): latest right with `rightTs <= leftTs`;
    *  - `"forward"`: earliest right with `rightTs >= leftTs`;
    *  - `"nearest"`: whichever of those two is closer in time (an exact
    *    distance tie prefers the backward match).
    *
    * `inclusive=false` makes the boundary strict on both directions.
    * Unmatched left rows keep nulls.
    *
    * Union-window plan: both sides are unioned (right payload packed
    * into ONE struct column so a right row whose payload value is
    * genuinely null is still "seen" — a bare `last(col, ignoreNulls)`
    * per column would skip it and resurrect an older row's value),
    * hash-partitioned by `keys`, sorted per partition by
    * (time, side, tieBreak), and resolved with a single running
    * `last(pack, ignoreNulls)` — forward is the same pass over the
    * descending sort; nearest computes both windows over the SAME
    * exchange (two in-partition sorts, still one shuffle) and picks
    * per row. No join explosion; the plan stays inside whole-stage
    * codegen.
    *
    * Determinism: among right rows with identical event time, the
    * greatest `tieBreak` tuple wins in every direction (pass a unique
    * column, e.g. the event id). `toleranceMicros` nulls out matches
    * farther than the given horizon.
    *
    * At 100 TB: cost is a shuffle of |L|+|R| rows on `keys` plus a
    * per-key sort — the same shape as any windowed aggregation; a hot
    * key sorts inside one task (spill-backed), never cross-joins.
    * `rightVals` names that collide with left columns are suffixed
    * with `suffix` in the output.
    */
  def asOfJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      rightVals: Seq[String],
      tieBreak: Seq[String] = Nil,
      inclusive: Boolean = true,
      toleranceMicros: Option[Long] = None,
      suffix: String = "_r",
      direction: String = "backward"): DataFrame = {
    require(keys.nonEmpty, "asOfJoin needs at least one key column")
    require(Set("backward", "forward", "nearest")(direction),
      s"asOfJoin direction must be backward|forward|nearest, got '$direction'")
    requireCols(left, keys :+ leftTs, "left")
    requireCols(right, (keys :+ rightTs) ++ rightVals ++ tieBreak, "right")

    // SQL join null semantics: a right row with a null key or null time
    // can never be anybody's match — drop before the union.
    val rightLive = (keys :+ rightTs)
      .foldLeft(right)((d, c) => d.filter(col(c).isNotNull))

    // Right payload packed atomically; __rts rides along for tolerance.
    val pack = struct(rightVals.map(col) :+ micros(right, rightTs).as("__rts"): _*)
    val tbCols = tieBreak.zipWithIndex.map { case (c, i) => s"__tb_$i" }
    val rightPart = rightLive.select(
      keys.map(col) ++
        Seq(micros(right, rightTs).as("__ts"),
          lit(if (inclusive) 0 else 1).as("__side"),
          pack.as("__pack")) ++
        tieBreak.zip(tbCols).map { case (c, a) => col(c).as(a) }: _*)
    val packType = rightPart.schema("__pack").dataType
    val tbTypes = tbCols.map(rightPart.schema(_).dataType)

    val leftPayload = left.columns.filterNot(keys.contains).toSeq
    val leftPart = left.select(
      keys.map(col) ++
        Seq(micros(left, leftTs).as("__ts"),
          lit(if (inclusive) 1 else 0).as("__side"),
          lit(null).cast(packType).as("__pack")) ++
        tbCols.zip(tbTypes).map { case (a, t) => lit(null).cast(t).as(a) } ++
        leftPayload.map(col): _*)
    val rightFull = leftPayload.foldLeft(rightPart)((d, c) =>
      d.withColumn(c, lit(null).cast(left.schema(c).dataType)))

    val unioned = leftPart.unionByName(rightFull)
    // Backward pass: ascending time; at equal time the side tag places
    // right rows before (inclusive) or after (strict) the left row, and
    // tieBreak asc leaves the greatest tuple closest to the running
    // `last`. The forward pass is the mirror image on descending time —
    // its closest at-or-after right row is the last non-null there.
    def pass(ascending: Boolean): Column = {
      def dir(c: Column) = if (ascending) c.asc else c.desc
      val w = Window
        .partitionBy(keys.map(col): _*)
        // tieBreak stays ASC in both passes: it only orders rows within
        // an equal (__ts, __side) group, where "greatest tuple wins"
        // means it must sit last under the running `last` either way.
        .orderBy(dir(col("__ts")) +: col("__side").asc +: tbCols.map(col(_).asc): _*)
        .rowsBetween(Window.unboundedPreceding, 0)
      val raw = last(col("__pack"), ignoreNulls = true).over(w)
      val dist = if (ascending) col("__ts") - raw("__rts") else raw("__rts") - col("__ts")
      toleranceMicros match {
        case Some(tol) => when(raw.isNotNull && dist <= tol, raw)
        case None      => raw
      }
    }
    val leftSide = lit(if (inclusive) 1 else 0)
    // A left row with a NULL time matches nothing in any direction.
    // This must be explicit: under the forward pass's descending sort
    // Spark places nulls last, so a null-time left row would otherwise
    // see every right row as "preceding" and match the earliest one.
    val matchedDir = direction match {
      case "backward" => pass(ascending = true)
      case "forward"  => pass(ascending = false)
      case "nearest"  =>
        val b = pass(ascending = true)
        val f = pass(ascending = false)
        when(b.isNull, f).when(f.isNull, b)
          .when(col("__ts") - b("__rts") <= f("__rts") - col("__ts"), b)
          .otherwise(f)
    }
    val matched = when(col("__ts").isNotNull, matchedDir)

    val taken = left.columns.toSet
    val outNames = rightVals.map(v => if (taken(v)) v + suffix else v)
    unioned
      .withColumn("__m", matched)
      .filter(col("__side") === leftSide)
      .select(left.columns.toSeq.map(col) ++
        rightVals.zip(outNames).map { case (v, o) => col("__m")(v).as(o) }: _*)
  }

  /** Gap-based sessionization to intervals: per `keys` group, a new
    * session opens after `gapMicros` of inactivity; returns one row per
    * session with `session_seq` (1-based per key), `session_start`,
    * `session_end` (original time type) and `n_events`.
    *
    * Plan: one shuffle on `keys`; the lag + running-sum windows and the
    * closing groupBy on (keys, session_seq) all reuse that same hash
    * partitioning (keys determine the partition, so clustering on the
    * superset is already satisfied — Catalyst plans no second
    * exchange). Rows with null key or time are dropped (they belong to
    * no session, matching the SQL-oracle phrasing). */
  def sessionIntervals(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      gapMicros: Long,
      tieBreak: Seq[String] = Nil): DataFrame = {
    require(keys.nonEmpty, "sessionIntervals needs at least one key column")
    requireCols(df, (keys :+ tsCol) ++ tieBreak, "input")
    val live = (keys :+ tsCol).foldLeft(df)((d, c) => d.filter(col(c).isNotNull))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc +: tieBreak.map(col(_).asc): _*)
    live
      .withColumn("__us", micros(df, tsCol))
      .withColumn("__prev", lag(col("__us"), 1).over(w))
      .withColumn("__new",
        when(col("__prev").isNull || col("__us") - col("__prev") > gapMicros, 1L)
          .otherwise(0L))
      .withColumn("session_seq",
        sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(keys.map(col) :+ col("session_seq"): _*)
      .agg(
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"))
  }

  /** Point-into-interval range join: inner-join each `points` row to
    * every `intervals` row with equal `keys` and
    * `lo <= point <= hi` (`point < hi` when `inclusiveHi=false`).
    *
    * WHY a rewrite, and WHEN — the measured routing rule (TemporalStudy,
    * SCALING.md r10). On a bare `p.key = i.key AND lo <= p < hi` join
    * Spark extracts the equi-part and leaves the range as a residual:
    * a sort-merge join that evaluates |points_k|·|intervals_k| residual
    * pairs inside every key group, and — when one side shrinks under
    * the broadcast threshold — an AQE plan flip whose outer-join form
    * can degrade to a nested loop. That per-key product is fine at low
    * key density and QUADRATIC at high density (few/hot keys), and for
    * keyless inputs the join is a full nested loop from the start.
    * This operator bucketizes event time into `bucketWidth` cells: a
    * point lands in exactly ONE bucket, an interval explodes to the
    * buckets it covers, and the match becomes an equi-join on
    * (keys, bucket) + exact filter — per-pair work bounded by bucket
    * occupancy, plan shape stable, AQE skew-split applies. Because the
    * point's bucket is unique, no pair is emitted twice — no dedup
    * pass. Route: naive join for well-spread keys with small per-key
    * products; THIS for dense/hot/keyless axes — the crossover is
    * measured in SCALING.md.
    *
    * Pick `bucketWidth` near the typical interval length so intervals
    * explode to 1–3 buckets. `maxBucketsPerInterval = Some(n)` adds a
    * wide-interval detour — intervals covering more than n buckets
    * join by key + range filter only, under a broadcast hint — for
    * datasets whose interval widths are unbounded. It costs a second
    * evaluation of the `intervals` subtree (the two strata share only
    * the exchange, not the operators above it), so it is OFF by
    * default; enable it when width outliers are real, or
    * pre-materialize `intervals` first.
    *
    * Interval columns colliding with point columns are suffixed with
    * `suffix`. Malformed intervals (`lo > hi`, nulls) and null-key or
    * null-time rows match nothing, exactly as the SQL phrasing would.
    */
  def rangeJoin(
      points: DataFrame,
      intervals: DataFrame,
      keys: Seq[String],
      pointCol: String,
      loCol: String,
      hiCol: String,
      bucketWidth: Long,
      maxBucketsPerInterval: Option[Int] = None,
      inclusiveHi: Boolean = true,
      suffix: String = "_i"): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    require(maxBucketsPerInterval.forall(_ > 0), "maxBucketsPerInterval must be positive")
    requireCols(points, keys :+ pointCol, "points")
    requireCols(intervals, (keys :+ loCol) :+ hiCol, "intervals")

    // Suffix interval columns that collide with point columns (keys
    // stay shared — the equi-join uses them as using-columns).
    val collide = intervals.columns.toSet.intersect(points.columns.toSet) -- keys
    val ivRenamed = collide.foldLeft(intervals)((d, c) => d.withColumnRenamed(c, c + suffix))
    val loC = if (collide(loCol)) loCol + suffix else loCol
    val hiC = if (collide(hiCol)) hiCol + suffix else hiCol

    val iv = ivRenamed
      .withColumn("__b0", floorDiv(micros(ivRenamed, loC), bucketWidth))
      .withColumn("__b1", floorDiv(micros(ivRenamed, hiC), bucketWidth))
      .filter(col("__b0") <= col("__b1")) // drops lo>hi and null bounds

    val pts = points.withColumn("__bkt", floorDiv(micros(points, pointCol), bucketWidth))
    val rangeCond: Column = col(loC) <= col(pointCol) &&
      (if (inclusiveHi) col(pointCol) <= col(hiC) else col(pointCol) < col(hiC))
    val outCols = (points.columns ++ ivRenamed.columns.filterNot(keys.contains)).map(col).toSeq

    def burstJoin(ivPart: DataFrame): DataFrame = {
      val exploded = ivPart
        .withColumn("__bkt", explode(sequence(col("__b0"), col("__b1"))))
        .drop("__b0", "__b1")
      pts.join(exploded, keys :+ "__bkt").filter(rangeCond).select(outCols: _*)
    }

    maxBucketsPerInterval match {
      case None => burstJoin(iv)
      case Some(maxB) =>
        val narrowHit = burstJoin(iv.filter(col("__b1") - col("__b0") < maxB.toLong))
        // Wide stratum: rare by contract; broadcast + per-key range
        // filter. Keys are renamed on the wide side so the condition
        // join stays unambiguous; the equi-condition makes them
        // redundant in output.
        val wide = iv.filter(col("__b1") - col("__b0") >= maxB.toLong)
          .drop("__b0", "__b1")
        val wideKeyed = keys.foldLeft(wide)((d, k) => d.withColumnRenamed(k, "__ik_" + k))
        val wideCond = keys.map(k => points(k) === wideKeyed("__ik_" + k))
          .foldLeft(rangeCond)(_ && _)
        val wideHit = points.join(broadcast(wideKeyed), wideCond, "inner")
          .select(outCols: _*)
        narrowHit.unionByName(wideHit)
    }
  }

  /** Interval-overlap join: inner-join each `a` interval to every `b`
    * interval with equal `keys` that overlaps it
    * (`aLo <= bHi AND bLo <= aHi`, boundaries inclusive).
    *
    * Same routing rule as [[rangeJoin]]: the naive keyed phrasing is a
    * sort-merge join evaluating the full |a_k|·|b_k| product per key —
    * fine for well-spread keys, quadratic for dense/hot ones, a
    * nested loop keyless. Here both sides are exploded to their
    * covering buckets; a pair shares the bucket range
    * [max(a0,b0), min(a1,b1)] whenever it overlaps, so requiring
    * `bucket == greatest(a0, b0)` emits each overlapping pair in
    * EXACTLY one bucket — the first shared one — with no distinct
    * pass afterwards (a dedup would cost the shuffle the bucketing
    * just saved). Equi-join on (keys, bucket), exact overlap filter on
    * top.
    *
    * Unlike [[rangeJoin]] there is no wide-interval detour: the claim
    * trick needs full bucket coverage on both sides, so an interval
    * covering more than `maxBucketsPerInterval` buckets raises —
    * re-run with a coarser `bucketWidth` (the error says so). `b`
    * columns colliding with `a` columns are suffixed with `suffix`.
    */
  def intervalOverlapJoin(
      a: DataFrame,
      b: DataFrame,
      keys: Seq[String],
      aLo: String,
      aHi: String,
      bLo: String,
      bHi: String,
      bucketWidth: Long,
      maxBucketsPerInterval: Int = 256,
      suffix: String = "_b"): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    requireCols(a, (keys :+ aLo) :+ aHi, "a")
    requireCols(b, (keys :+ bLo) :+ bHi, "b")

    val collide = b.columns.toSet.intersect(a.columns.toSet) -- keys
    val bRen = collide.foldLeft(b)((d, c) => d.withColumnRenamed(c, c + suffix))
    val bLoC = if (collide(bLo)) bLo + suffix else bLo
    val bHiC = if (collide(bHi)) bHi + suffix else bHi

    def burst(df: DataFrame, lo: String, hi: String, b0: String): DataFrame = {
      val withB = df
        .withColumn(b0, floorDiv(micros(df, lo), bucketWidth))
        .withColumn("__bN", floorDiv(micros(df, hi), bucketWidth))
        .filter(col(b0) <= col("__bN"))
      // Loud contract: the exactly-once claim needs full coverage.
      val tooWide = col("__bN") - col(b0) >= maxBucketsPerInterval.toLong
      withB
        .withColumn("__bkt", explode(sequence(col(b0),
          when(tooWide, raise_error(lit(
            s"intervalOverlapJoin: an interval covers more than " +
              s"$maxBucketsPerInterval buckets of width $bucketWidth — " +
              "use a coarser bucketWidth")).cast("long"))
            .otherwise(col("__bN")))))
        .drop("__bN")
    }

    val aB = burst(a, aLo, aHi, "__a0")
    val bB = burst(bRen, bLoC, bHiC, "__b0")
    val outCols = (a.columns ++ bRen.columns.filterNot(keys.contains)).map(col).toSeq
    aB.join(bB, keys :+ "__bkt")
      .filter(col("__bkt") === greatest(col("__a0"), col("__b0")) &&
        col(aLo) <= col(bHiC) && col(bLoC) <= col(aHi))
      .select(outCols: _*)
  }

  /** Downsample to a fixed time grid with forward-fill: per `keys`
    * group, aggregate `valueCol` into `gridMicros`-wide cells (mean of
    * observations in the cell, plus their count), emit EVERY grid cell
    * between the key's first and last observation, and fill empty
    * cells with the last observed cell's mean (LOCF — the standard
    * resample→ffill time-series idiom; `n_obs = 0` marks filled rows).
    *
    * Output: keys, `grid_ts` (cell start as long micros), `value`
    * (cell mean, forward-filled), `n_obs`.
    *
    * Plan: one groupBy on (keys, cell) — a single shuffle; the dense
    * grid is an `explode(sequence(cell, next_cell_before_gap))` over
    * the AGGREGATED rows (one row per observed cell, so the explode
    * input is already small), and the fill is algebraic — each
    * observed cell carries its own value forward to the cells it
    * generates, so no second window pass and no second shuffle for the
    * LOCF itself. Explode fan-out equals the gap length in cells; a
    * corpus with month-long per-key silences at second-level grids
    * should pick a coarser grid (same contract as [[rangeJoin]]'s
    * bucket width). Null keys/times/values drop, as in the SQL oracle
    * phrasing.
    */
  /** Shared resampler prelude ([[resampleLocf]] / [[resampleInterpolate]]):
    * drop null keys/times/values, bucket into `gridMicros` cells, and
    * aggregate per (keys, cell) — partitioned by KEYS (not the
    * groupBy's (keys, cell)): hash on keys satisfies the agg's
    * clustering (subset rule) AND the fill window's, so either
    * resampler runs on one exchange. The default cell aggregate is the
    * mean; oracle-exact callers pass a decimal-accumulated form (the
    * q86 phrasing) so Spark and DuckDB agree bitwise. Output columns:
    * keys, `__cell`, `__v`, `__n`. */
  private def resampleCells(df: DataFrame, keys: Seq[String], tsCol: String,
      valueCol: String, gridMicros: Long, cellAgg: Option[Column],
      who: String): DataFrame = {
    require(keys.nonEmpty, s"$who needs at least one key column")
    require(gridMicros > 0, "gridMicros must be positive")
    requireCols(df, (keys :+ tsCol) :+ valueCol, "input")
    val live = ((keys :+ tsCol) :+ valueCol).foldLeft(df)((d, c) => d.filter(col(c).isNotNull))
    live
      .withColumn("__cell", floorDiv(micros(df, tsCol), gridMicros))
      .repartition(keys.map(col): _*)
      .groupBy(keys.map(col) :+ col("__cell"): _*)
      .agg(cellAgg.getOrElse(avg(col(valueCol))).as("__v"),
        count(lit(1)).as("__n"))
  }

  def resampleLocf(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      gridMicros: Long,
      cellAgg: Option[Column] = None): DataFrame = {
    val cells = resampleCells(df, keys, tsCol, valueCol, gridMicros, cellAgg,
      "resampleLocf").withColumnRenamed("__v", "__mean")
    // Each observed cell owns the grid span up to (not including) the
    // next observed cell: emit itself plus its forward-filled shadow.
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("__cell"))
    cells
      .withColumn("__next", lead(col("__cell"), 1).over(w))
      .withColumn("__g", explode(sequence(col("__cell"),
        coalesce(col("__next") - 1, col("__cell")))))
      .select(keys.map(col) ++ Seq(
        (col("__g") * gridMicros).as("grid_ts"),
        col("__mean").as("value"),
        when(col("__g") === col("__cell"), col("__n")).otherwise(lit(0L)).as("n_obs")): _*)
  }

  /** Downsample to a fixed time grid with LINEAR INTERPOLATION across
    * gaps — the sibling of [[resampleLocf]] for signals where holding
    * the last value misrepresents a trend (sensor readings, prices):
    * per `keys` group, aggregate `valueCol` into `gridMicros`-wide
    * cells, emit EVERY grid cell between the key's first and last
    * observation, and fill an empty cell at grid index g between
    * observed cells c (value v) and nxt (value w) with
    *
    *   v + (w − v) · (g − c) / (nxt − c)
    *
    * — FLOOR division when the cell aggregate is integral, so a SQL
    * oracle replays the arithmetic exactly with `//` (the repo-wide
    * integer-exactness discipline; pass an integral `cellAgg` like a
    * decimal-accumulated micro-unit sum for hash-stable output), IEEE
    * double arithmetic in the written shape otherwise. `n_obs = 0`
    * marks interpolated rows. No extrapolation: the grid spans
    * first..last observed cell, so every gap has both neighbors.
    *
    * Plan: the [[resampleLocf]] one-exchange shape — repartition on
    * keys serves both the cell agg and the lead window; the dense grid
    * is an explode over the AGGREGATED rows. Integral overflow
    * envelope: |Δcell value| · gap cells must stay under 2^63 — the
    * same caller-domain contract as [[rangeJoin]]'s bucket width. */
  def resampleInterpolate(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      gridMicros: Long,
      cellAgg: Option[Column] = None): DataFrame = {
    val cells = resampleCells(df, keys, tsCol, valueCol, gridMicros, cellAgg,
      "resampleInterpolate")
    val isIntegral = cells.schema("__v").dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("__cell"))
    val staged = cells
      .withColumn("__next", lead(col("__cell"), 1).over(w))
      .withColumn("__nextV", lead(col("__v"), 1).over(w))
      .withColumn("__g", explode(sequence(col("__cell"),
        coalesce(col("__next") - 1, col("__cell")))))
    val filled =
      if (isIntegral)
        staged
          .withColumn("__num",
            (col("__nextV") - col("__v")) * (col("__g") - col("__cell")))
          .withColumn("__den", col("__next") - col("__cell"))
          // exact floor division: subtract the non-negative pmod, then
          // `div` on the now-exact multiple (trunc == floor there)
          .withColumn("__fill",
            col("__v") + expr("(__num - pmod(__num, __den)) div __den"))
      else
        staged.withColumn("__fill",
          col("__v") + (col("__nextV") - col("__v")) *
            ((col("__g") - col("__cell")).cast("double") /
              (col("__next") - col("__cell")).cast("double")))
    filled.select(keys.map(col) ++ Seq(
      (col("__g") * gridMicros).as("grid_ts"),
      when(col("__g") === col("__cell"), col("__v"))
        .otherwise(col("__fill")).as("value"),
      when(col("__g") === col("__cell"), col("__n"))
        .otherwise(lit(0L)).as("n_obs")): _*)
  }

  /** The plain inequality-join phrasing of [[rangeJoin]] — the route
    * for WELL-SPREAD keys (measured 2–3× cheaper than bucketizing
    * there, SCALING.md r10): an equi-join on `keys` with the range as
    * a pushed filter, so Spark evaluates |points_k|·|intervals_k|
    * residual pairs per key. Keyless it is a genuine nested loop —
    * [[rangeJoinAuto]] never routes here without keys. Output columns
    * are identical to [[rangeJoin]]'s. */
  def rangeJoinNaive(
      points: DataFrame,
      intervals: DataFrame,
      keys: Seq[String],
      pointCol: String,
      loCol: String,
      hiCol: String,
      inclusiveHi: Boolean = true,
      suffix: String = "_i"): DataFrame = {
    requireCols(points, keys :+ pointCol, "points")
    requireCols(intervals, (keys :+ loCol) :+ hiCol, "intervals")
    val collide = intervals.columns.toSet.intersect(points.columns.toSet) -- keys
    val ivRenamed = collide.foldLeft(intervals)((d, c) => d.withColumnRenamed(c, c + suffix))
    val loC = if (collide(loCol)) loCol + suffix else loCol
    val hiC = if (collide(hiCol)) hiCol + suffix else hiCol
    val rangeCond: Column = col(loC) <= col(pointCol) &&
      (if (inclusiveHi) col(pointCol) <= col(hiC) else col(pointCol) < col(hiC))
    val outCols = (points.columns ++ ivRenamed.columns.filterNot(keys.contains)).map(col).toSeq
    val joined =
      if (keys.isEmpty) points.crossJoin(ivRenamed)
      else points.join(ivRenamed, keys)
    joined.filter(rangeCond).select(outCols: _*)
  }

  /** Routed front door for point-into-interval joins (the measured
    * routing rule, SCALING.md r10 — the [[rangeJoin]] analogue of
    * `Relational.rollingAgg`'s frame-vs-ledger routing):
    *
    *  - keyless → bucketized [[rangeJoin]] (the naive form is a
    *    nested loop, measured 2.4× worse already at 20k×90k rows and
    *    growing quadratically);
    *  - keyed → estimate the mean per-key pair product with one
    *    tiny agg per side (count + approx-distinct keys; two bounded
    *    1-row driver reads); below `perKeyProductThreshold` route
    *    [[rangeJoinNaive]] (measured 2–3× cheaper at the spread
    *    anchor, ~8e2 pairs/key), at or above it route [[rangeJoin]]
    *    (measured 3–5× cheaper at the dense anchor, ~7e7 pairs/key).
    *    The default threshold 1e5 sits between the measured anchors;
    *    both anchors route correctly and each side's penalty for a
    *    mid-zone misroute is small (the two curves cross shallowly).
    *
    * Answer-invariant by construction — `TemporalSpec` asserts both
    * routes produce identical rows and that each fixture routes where
    * the rule says. */
  def rangeJoinAuto(
      points: DataFrame,
      intervals: DataFrame,
      keys: Seq[String],
      pointCol: String,
      loCol: String,
      hiCol: String,
      bucketWidth: Long,
      perKeyProductThreshold: Long = 100000L,
      maxBucketsPerInterval: Option[Int] = None,
      inclusiveHi: Boolean = true,
      suffix: String = "_i"): DataFrame = {
    if (keys.isEmpty)
      return rangeJoin(points, intervals, keys, pointCol, loCol, hiCol,
        bucketWidth, maxBucketsPerInterval, inclusiveHi, suffix)
    def perKey(df: DataFrame): Double = {
      val r = df.agg(count(lit(1)),
        approx_count_distinct(struct(keys.map(col): _*))).collect()(0)
      val n = r.getLong(0).toDouble
      val k = math.max(1L, r.getLong(1)).toDouble
      n / k
    }
    if (perKey(points) * perKey(intervals) >= perKeyProductThreshold.toDouble)
      rangeJoin(points, intervals, keys, pointCol, loCol, hiCol,
        bucketWidth, maxBucketsPerInterval, inclusiveHi, suffix)
    else
      rangeJoinNaive(points, intervals, keys, pointCol, loCol, hiCol,
        inclusiveHi, suffix)
  }

  /** The plain phrasing of [[intervalOverlapJoin]] — the spread-key
    * route (same rule and same measured anchors as [[rangeJoinNaive]]).
    * Output columns identical to [[intervalOverlapJoin]]'s. */
  def intervalOverlapJoinNaive(
      a: DataFrame,
      b: DataFrame,
      keys: Seq[String],
      aLo: String,
      aHi: String,
      bLo: String,
      bHi: String,
      suffix: String = "_b"): DataFrame = {
    requireCols(a, (keys :+ aLo) :+ aHi, "a")
    requireCols(b, (keys :+ bLo) :+ bHi, "b")
    val collide = b.columns.toSet.intersect(a.columns.toSet) -- keys
    val bRen = collide.foldLeft(b)((d, c) => d.withColumnRenamed(c, c + suffix))
    val bLoC = if (collide(bLo)) bLo + suffix else bLo
    val bHiC = if (collide(bHi)) bHi + suffix else bHi
    val outCols = (a.columns ++ bRen.columns.filterNot(keys.contains)).map(col).toSeq
    val joined = if (keys.isEmpty) a.crossJoin(bRen) else a.join(bRen, keys)
    joined.filter(col(aLo) <= col(bHiC) && col(bLoC) <= col(aHi))
      .select(outCols: _*)
  }

  /** Routed front door for interval-overlap joins — same estimator and
    * threshold semantics as [[rangeJoinAuto]]. */
  def intervalOverlapJoinAuto(
      a: DataFrame,
      b: DataFrame,
      keys: Seq[String],
      aLo: String,
      aHi: String,
      bLo: String,
      bHi: String,
      bucketWidth: Long,
      perKeyProductThreshold: Long = 100000L,
      maxBucketsPerInterval: Int = 256,
      suffix: String = "_b"): DataFrame = {
    if (keys.isEmpty)
      return intervalOverlapJoin(a, b, keys, aLo, aHi, bLo, bHi,
        bucketWidth, maxBucketsPerInterval, suffix)
    def perKey(df: DataFrame): Double = {
      val r = df.agg(count(lit(1)),
        approx_count_distinct(struct(keys.map(col): _*))).collect()(0)
      r.getLong(0).toDouble / math.max(1L, r.getLong(1)).toDouble
    }
    if (perKey(a) * perKey(b) >= perKeyProductThreshold.toDouble)
      intervalOverlapJoin(a, b, keys, aLo, aHi, bLo, bHi,
        bucketWidth, maxBucketsPerInterval, suffix)
    else
      intervalOverlapJoinNaive(a, b, keys, aLo, aHi, bLo, bHi, suffix)
  }

  /** Ordered-step FUNNEL per key: for the step sequence `steps`
    * (values of `stepCol`), each key that performed step 0 gets one
    * row with `t_1 .. t_k` — the EARLIEST completion time of each step
    * STRICTLY AFTER the previous step's chosen time (the "A then B"
    * contract; an equal-timestamp pair has no order and does not
    * advance the funnel) — and `steps_completed`, the length of the
    * non-null prefix. `maxSpanSec` bounds the whole journey: every
    * later step must land within that many seconds of `t_1` (the
    * standard conversion-window form). Keys that never performed
    * step 0 are absent by contract — the funnel is anchored.
    *
    * Greedy-earliest semantics, deliberately: t_i is the earliest
    * qualifying occurrence given t_{i-1}. A non-greedy matcher could
    * complete more funnels in adversarial orderings (choose a LATER A
    * so an early B counts); greedy is what every production funnel
    * (and the q114 oracle's replay) computes, and it is deterministic
    * from the event set alone.
    *
    * Shape at scale: one aggregation per step, each over ONLY that
    * step's slice (the `stepCol = s` filter reaches the scan), joined
    * key-to-key — k−1 equi-joins of per-key single-row relations, no
    * window over the raw events, no per-key event collection. */
  def funnel(events: DataFrame, keyCol: String, tsCol: String,
      stepCol: String, steps: Seq[String],
      maxSpanSec: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.length == steps.length,
      s"funnel steps must be distinct, got $steps")
    val ts = micros(events, tsCol)
    val anchor = events.filter(col(stepCol) === steps.head)
      .groupBy(col(keyCol))
      .agg(min(ts).as("__us_1"))
    val chained = steps.zipWithIndex.drop(1).foldLeft(anchor) {
      case (acc, (step, i)) =>
        val prev = s"__us_$i"
        val cur = s"__us_${i + 1}"
        val slice = events.filter(col(stepCol) === step)
          .select(col(keyCol), ts.as("__ts"))
        val within = maxSpanSec match {
          case Some(s) => col("__ts") <= col("__us_1") + lit(s * 1000000L)
          case None    => lit(true)
        }
        acc.join(slice, Seq(keyCol), "left")
          .withColumn("__ok",
            col("__ts").isNotNull && col(prev).isNotNull &&
              col("__ts") > col(prev) && within)
          .groupBy((col(keyCol) +: (1 to i).map(j => col(s"__us_$j"))): _*)
          .agg(min(when(col("__ok"), col("__ts"))).as(cur))
    }
    val tCols = steps.indices.map(i =>
      timestamp_micros(col(s"__us_${i + 1}")).as(s"t_${i + 1}"))
    // no gaps by construction (t_i requires t_{i-1} non-null in __ok),
    // so the indicator sum IS the non-null prefix length
    val completed = steps.indices.map(i =>
      when(col(s"__us_${i + 1}").isNotNull, 1).otherwise(0))
      .reduceLeft(_ + _)
    chained.select((col(keyCol) +: tCols) :+
      completed.cast("long").as("steps_completed"): _*)
  }

  /** Cohort RETENTION matrix — [[funnel]]'s companion analytics op:
    * every key is assigned to the cohort bucket of its FIRST event
    * (bucket = `(ts − corpus-min-ts) div bucketUs`, pure integer
    * micros arithmetic), and the output counts, per (cohort,
    * week_offset), the DISTINCT keys active `offset` buckets after
    * their cohort bucket — the `(cohort_week, week_offset, n_users)`
    * long form every retention heatmap pivots from. Offset 0 rows are
    * the cohort sizes by construction (the first event is active in
    * its own bucket).
    *
    * The corpus origin is one bounded min() scalar (the q92/drift
    * bounds discipline: the bucketing must be a pure, oracle-
    * reproducible function of the data). Shape at scale: one distinct
    * over (key, bucket) — output-bounded, ≤ keys × buckets — then the
    * per-key cohort rides a window over THAT distinct relation, so the
    * raw event body is scanned exactly once in the plan and there is
    * no join node at all. (The former groupBy-min + equi-join shape
    * re-scanned the raw events for the cohort branch: min() is
    * dedup-insensitive, so Catalyst elided the distinct there and the
    * two subtrees stopped sharing an exchange — measured in
    * PlanShapeSpec, which pins the single-scan shape.) */
  def retentionCohorts(events: DataFrame, keyCol: String, tsCol: String,
      bucketUs: Long = 7L * 86400L * 1000000L): DataFrame = {
    require(bucketUs > 0, s"bucketUs must be positive, got $bucketUs")
    val ts = micros(events, tsCol)
    // The origin is min(ts) over the SAME keyCol-non-null slice that is
    // cohorted below: a null-keyed earliest event contributes to no
    // cohort, so letting it shift every cohort's bucket boundaries was
    // surprising semantics (r14 ADVICE). One bounded scalar either way.
    val o = events.filter(col(keyCol).isNotNull).agg(min(ts)).head()
    val origin = if (o.isNullAt(0)) 0L else o.getLong(0)
    val keyBuckets = events
      .filter(col(keyCol).isNotNull && ts.isNotNull)
      .select(col(keyCol),
        floorDiv(ts - lit(origin), bucketUs).as("__wk"))
      .distinct()
    // count(1), not countDistinct: (key, __wk) is distinct above and
    // cohort/week_offset are functions of it, so each key contributes
    // exactly one row per (cohort, offset) group — the distinct re-agg
    // would re-shuffle the relation to prove what the shape guarantees
    keyBuckets
      .withColumn("cohort",
        min(col("__wk")).over(Window.partitionBy(col(keyCol))))
      .groupBy(col("cohort"), (col("__wk") - col("cohort")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Rolling distinct-active counts — the DAU/WAU/MAU relation, the
    * [[retentionCohorts]] companion every usage dashboard runs: per
    * time bucket (default day), the number of DISTINCT keys active in
    * the trailing `windowBuckets`-bucket window ending there
    * (`n_active` — window 7 over day buckets = WAU), plus the
    * same-bucket distinct count (`n_active_bucket` — DAU). Buckets
    * are `(ts − origin) div bucketUs` off the key-non-null corpus min
    * (the [[retentionCohorts]] origin discipline); reported buckets
    * run through the corpus max, so a gap bucket appears with
    * `n_active_bucket = 0` while its trailing window still counts;
    * a bucket whose whole trailing window is silent is ABSENT, not
    * zero (nothing keeps it alive).
    *
    * Shape at scale — the raw event body is scanned once (plus the
    * bounded bounds scalar): one output-bounded (key, bucket)
    * distinct, then each distinct activity expands to the ≤
    * `windowBuckets` buckets it keeps alive (posexplode, so the
    * own-bucket contribution is position 0 — no second distinct pass
    * for the DAU column), re-deduped per (key, bucket) keeping
    * min(pos), and one final bucket aggregation. Never a sliding
    * window over raw events, never a distinct-count window frame
    * (Spark cannot express COUNT(DISTINCT) OVER a frame; this
    * expansion is the exact equivalent, ×windowBuckets on the
    * DISTINCT relation, not the corpus). */
  def rollingActive(events: DataFrame, keyCol: String, tsCol: String,
      bucketUs: Long = 86400L * 1000000L,
      windowBuckets: Int = 7): DataFrame = {
    require(bucketUs > 0, s"bucketUs must be positive, got $bucketUs")
    require(windowBuckets >= 1,
      s"windowBuckets must be ≥ 1, got $windowBuckets")
    val ts = micros(events, tsCol)
    val o = events.filter(col(keyCol).isNotNull && ts.isNotNull)
      .agg(min(ts), max(ts)).head()
    if (o.isNullAt(0))
      return events.limit(0).select(lit(0L).as("bucket"),
        lit(0L).as("n_active"), lit(0L).as("n_active_bucket"))
    val origin = o.getLong(0)
    val maxBucket = math.floorDiv(o.getLong(1) - origin, bucketUs)
    val keyBuckets = events
      .filter(col(keyCol).isNotNull && ts.isNotNull)
      .select(col(keyCol),
        floorDiv(ts - lit(origin), bucketUs).as("__b"))
      .distinct()
    keyBuckets
      .select(col(keyCol), posexplode(sequence(col("__b"),
        least(col("__b") + lit(windowBuckets.toLong - 1), lit(maxBucket))))
        .as(Seq("__pos", "bucket")))
      // a key active on several days of one window must count once:
      // re-dedup per (key, bucket), min(pos) = 0 marks own-bucket
      .groupBy(col(keyCol), col("bucket"))
      .agg(min(col("__pos")).as("__minpos"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_active"),
        count(when(col("__minpos") === 0, lit(1))).as("n_active_bucket"))
  }

  /** INTERVAL COVERAGE — per key, the total length of the UNION of its
    * `[lo, hi)` intervals (overlaps merged, gaps excluded), with the
    * interval and merged-island counts: the "total hours actually
    * covered" / "days with an open shipment" aggregate that a plain
    * SUM(hi − lo) double-counts whenever intervals overlap. The
    * classic sweep, expressed as ONE exchange: hash-partition by key,
    * sort by (lo, hi) inside the window, carry the running max of
    * PRECEDING ends — an island starts where `lo` clears everything
    * seen before (`lo ≥ max_prev_hi`; half-open intervals, so a
    * TOUCHING pair — `[1,2)`,`[2,3)` — counts as two islands: the
    * covered total is identical under either convention, and the
    * strict rule is the one the oracle replays) — number islands with
    * a running sum, then two output-bounded aggregations (island
    * extents, key rollup). Integer end to end on long bounds (dates → days, micros
    * → micros — the caller picks the unit; `micros` columns go through
    * the engine's usual timestamp path).
    *
    * Degenerate and inverted intervals (`hi ≤ lo`) are DROPPED, not
    * clamped — a zero-length interval covers nothing, and an inverted
    * one is a data error a silent clamp would hide (count them
    * upstream with a [[Quality]] gate if they matter). Null keys and
    * null bounds never contribute (SQL join-key semantics).
    *
    * Scale: the window and both groupBys share the key hash
    * partitioning (one exchange total); per-key cost is the sort —
    * standard window sizing, no joins, nothing quadratic. */
  def intervalCoverage(df: DataFrame, keys: Seq[String], loCol: String,
      hiCol: String): DataFrame = {
    require(keys.nonEmpty, "intervalCoverage needs at least one key column")
    val lo = micros(df, loCol)
    val hi = micros(df, hiCol)
    val kCols = keys.map(col)
    val rows = df
      .filter(keys.map(col(_).isNotNull).reduce(_ && _) &&
        lo.isNotNull && hi.isNotNull && hi > lo)
      .select((kCols :+ lo.as("__lo")) :+ hi.as("__hi"): _*)
    val wSort = Window.partitionBy(kCols: _*)
      .orderBy(col("__lo"), col("__hi"))
    val wPrev = wSort.rowsBetween(Window.unboundedPreceding, -1)
    rows
      .withColumn("__prev_hi", max(col("__hi")).over(wPrev))
      .withColumn("__starts",
        when(col("__prev_hi").isNull || col("__lo") >= col("__prev_hi"), 1L)
          .otherwise(0L))
      .withColumn("__island",
        sum(col("__starts")).over(wSort.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(kCols :+ col("__island"): _*)
      .agg(min(col("__lo")).as("__ilo"), max(col("__hi")).as("__ihi"),
        count(lit(1)).as("__n"))
      .groupBy(kCols: _*)
      .agg(sum(col("__n")).as("n_intervals"),
        count(lit(1)).as("n_islands"),
        sum(col("__ihi") - col("__ilo")).as("covered"))
  }

  /** PEAK CONCURRENCY — per key, the maximum number of SIMULTANEOUSLY
    * open `[lo, hi)` intervals, with the interval count: the "peak
    * concurrent sessions / max in-flight requests" capacity statistic
    * [[intervalCoverage]]'s union length cannot answer. The classic
    * event sweep as ONE exchange: every interval becomes a +1 at `lo`
    * and a −1 at `hi`, deltas are summed in (position, delta) order —
    * delta ascending, so at equal positions the −1 applies FIRST:
    * half-open intervals, a close at p and an open at p never overlap
    * — and the per-key running maximum is the answer. Ties are
    * order-invariant within the (pos, delta) sort (equal rows are
    * interchangeable under a running sum).
    *
    * Same input contract as [[intervalCoverage]]: degenerate/inverted
    * intervals and null keys/bounds are dropped. Integer end to end;
    * the oracle replays the identical sweep. Scale: the window and the
    * rollup share the key hash partitioning (one exchange); per-key
    * cost is the 2·n-row sort. */
  def peakConcurrency(df: DataFrame, keys: Seq[String], loCol: String,
      hiCol: String): DataFrame = {
    require(keys.nonEmpty, "peakConcurrency needs at least one key column")
    val lo = micros(df, loCol)
    val hi = micros(df, hiCol)
    val kCols = keys.map(col)
    val rows = df
      .filter(keys.map(col(_).isNotNull).reduce(_ && _) &&
        lo.isNotNull && hi.isNotNull && hi > lo)
      .select((kCols :+ lo.as("__lo")) :+ hi.as("__hi"): _*)
    // one corpus scan: each interval EXPLODES to its ±1 pair (a union
    // of two projections would scan the raw relation twice)
    val events = rows
      .select((kCols :+ explode(array(
        struct(col("__lo").as("__pos"), lit(1L).as("__d")),
        struct(col("__hi").as("__pos"), lit(-1L).as("__d")))).as("__e")): _*)
      .select((kCols :+ col("__e.__pos").as("__pos")) :+
        col("__e.__d").as("__d"): _*)
    val w = Window.partitionBy(kCols: _*)
      .orderBy(col("__pos"), col("__d"))
      .rowsBetween(Window.unboundedPreceding, 0)
    events
      .withColumn("__open", sum(col("__d")).over(w))
      .groupBy(kCols: _*)
      .agg(max(col("__open")).as("peak_concurrency"),
        expr("count(1) div 2").as("n_intervals"))
  }

  /** STATE-TRANSITION MATRIX — the Markov view of an event stream: per
    * key, order events by (ts, tie) and count every consecutive
    * `(from_state, to_state)` pair, with the within-from permille
    * share — the "what do users do next" relation feeding churn
    * analysis and next-step prediction baselines. `tieCol` makes the
    * order TOTAL (equal timestamps are real in event data; without a
    * deterministic tie-break the matrix itself would be
    * nondeterministic, which also makes it un-oracle-able — same
    * reasoning as [[graft.queries.ParityQueries]]'s total orderings).
    *
    * Shape at scale: one exchange (hash by key, per-partition sort)
    * feeding `lead`, then a count aggregation on (from, to) — the
    * pair relation is |states|²-bounded, the permille join is against
    * that tiny aggregate (broadcast). Integer permille via `div`
    * (floor), oracle-replayed exactly. Null keys/states/times drop
    * (the SQL key contract). */
  def transitionMatrix(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, stateCol: String): DataFrame = {
    val ts = micros(events, tsCol)
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("__ts"), col(tieCol))
    val pairs = events
      .filter(col(keyCol).isNotNull && ts.isNotNull &&
        col(stateCol).isNotNull && col(tieCol).isNotNull)
      .select(col(keyCol), ts.as("__ts"), col(tieCol),
        col(stateCol).as("from_state"))
      .withColumn("to_state", lead(col("from_state"), 1).over(w))
      .filter(col("to_state").isNotNull)
      .groupBy("from_state", "to_state")
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy("from_state")
      .agg(sum(col("n")).as("__total"))
    pairs.join(broadcast(totals), "from_state")
      .select(col("from_state"), col("to_state"), col("n"),
        expr("(1000 * n) div __total").as("permille"))
  }
}
