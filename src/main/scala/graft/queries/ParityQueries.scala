package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Relational._
import graft.operators.Spread

/** Parity queries: one per operator family of SURVEY.md §2, each paired
  * with an ANSI-SQL oracle (DuckDB) over the same parquet tables.
  *
  * Determinism rules (oracle hash-matches exactly):
  *  - money aggregates go through DECIMAL(18,s) so the sum is exact and
  *    association-order-independent, then cast to DOUBLE for a stable
  *    output type on both engines (Spark side:
  *    [[graft.operators.Relational.sumMoney]]);
  *  - every result carries a total ORDER BY;
  *  - no arbitrary-survivor dedup — ties always broken by a key column.
  */
object ParityQueries {

  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- scans

  /** S1/P1/F1 — pruned, filtered scan: projection + predicate reach parquet. */
  val q01PrunedScan: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    t.lineitem
      .filter(col("l_quantity") >= 45 && col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")
  }

  // ----------------------------------------------------------- aggregation

  /** A — grouped aggregation (TPC-H Q1 shape): partial+final hash agg. */
  val q02AggPricing: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    t.lineitem
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp_ntz"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sumMoney(col("l_quantity")).as("sum_qty"),
        sumMoney(col("l_extendedprice")).as("sum_base_price"),
        sumMoney(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // ----------------------------------------------------------------- joins

  /** J2 — broadcast dimension chain: fact scanned once, zero fact shuffles
    * until the tiny group-by. */
  val q03RegionRevenue: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    t.lineitem
      .join(broadcast(t.supplier), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(
        sumMoney(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name")
  }

  /** J1 + X9 — multi-source full-outer join with suffix collision handling
    * and null-coalescing repair (the reference's spi⟗bi merge,
    * `/root/reference/down/down_water_prep.py:296,307-313`). */
  val q04OuterSuffixRepair: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    val sup = t.supplier
      .filter(col("s_suppkey") % 3 === 0) // create one-sided rows for the outer join
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_sup"), sumMoney(col("s_acctbal")).as("total_bal"))
    val cust = t.customer
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_cust"), sumMoney(col("c_acctbal")).as("total_bal"))
    val joined = joinWithSuffixes(sup, cust, Seq("nationkey"), "full_outer")
    coalesceRepair(joined, Seq("total_bal"))
      .select("nationkey", "n_sup", "n_cust", "total_bal")
      .orderBy("nationkey")
  }

  /** J3 — hierarchical enrichment cascade on the star schema: orders carry a
    * derived (mostly wrong) nation guess; level 1 joins [custkey, nkey],
    * level 2 falls back to [custkey]. Single fact pass, two broadcast
    * joins — see [[graft.operators.Relational.hierarchicalEnrich]]. */
  val q05HierarchicalEnrich: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    val data = t.orders.select(
      col("o_orderkey"),
      col("o_custkey").as("custkey"),
      (col("o_orderkey") % 25).cast("int").as("nkey"),
      col("o_totalprice"))
    val dim = t.customer.select(
      col("c_custkey").as("custkey"),
      col("c_nationkey").as("nkey"),
      col("c_name"),
      col("c_acctbal"))
    hierarchicalEnrich(
      data, dim,
      keyLevels = Seq(Seq("custkey", "nkey"), Seq("custkey")),
      payloadCols = Seq("c_name", "c_acctbal"),
      dimOrder = Seq(col("c_acctbal").desc, col("c_name")))
      .select("o_orderkey", "custkey", "nkey", "c_name", "c_acctbal", "match_level")
      .orderBy("o_orderkey")
  }

  /** J5 — deterministic keep-first dedup: top customer per nation by
    * account balance, ties broken by key. One shuffle, no global sort. */
  val q06KeepFirst: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    keepFirst(t.customer, Seq("c_nationkey"), Seq(col("c_acctbal").desc, col("c_custkey")))
      .select("c_nationkey", "c_custkey", "c_name", "c_acctbal")
      .orderBy("c_nationkey")
  }

  /** F2/U2 — anti-join (the reference's null-split idiom done natively):
    * customers with no urgent order, per market segment. */
  val q07AntiJoin: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    t.customer
      .join(
        t.orders.filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"), sumMoney(col("c_acctbal")).as("total_bal"))
      .orderBy("c_mktsegment")
  }

  /** P6 — key mirroring via explode (reference copies + unions the table,
    * `/root/reference/direct/direct_water_prep.py:107-119`; one pass here). */
  val q08KeyMirror: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    keyMirror(t.lineitem, "entity_key", Seq(col("l_partkey"), col("l_suppkey")))
      .groupBy((col("entity_key") % 1000).as("key_bucket"))
      .agg(count(lit(1)).as("n"), sumMoney(col("l_quantity")).as("qty"))
      .orderBy("key_bucket")
  }

  // ------------------------------------------------------------ set ops

  /** U1 — union of heterogeneous strata by name, null-padding missing
    * columns (the reference's 3-strata rebuild,
    * `/root/reference/down/down_water_prep.py:531-532`). */
  val q09UnionStrata: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    val a = t.orders.filter(col("o_orderstatus") === "O")
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"),
        col("o_orderpriority").as("priority"))
    val b = t.lineitem.filter(col("l_linenumber") === 1 && col("l_returnflag") === "A")
      .select(col("l_orderkey").as("k"), col("l_extendedprice").as("price"))
    unionStrata(Seq(a, b))
      .groupBy("priority")
      .agg(count(lit(1)).as("n"), sumMoney(col("price")).as("total_price"))
      .orderBy(col("priority").asc_nulls_first)
  }

  /** A2 — whole-row distinct over a derived projection. */
  val q10Distinct: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    t.lineitem
      .select(col("l_returnflag"), col("l_linestatus"),
        year(col("l_shipdate")).as("ship_year"))
      .distinct()
      .orderBy("l_returnflag", "l_linestatus", "ship_year")
  }

  // ------------------------------------------------------ scalar functions

  /** X1–X7 — string function battery (trim/case/substring/split/replace)
    * as pure codegen'd expressions, no UDFs. */
  val q11ScalarStrings: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    t.documents
      .select(
        col("doc_id"),
        upper(col("lang")).as("lang_uc"),
        length(col("text")).cast("int").as("text_len"),
        substring(col("text"), 1, 10).as("prefix10"),
        split_part(col("text"), lit(" "), lit(1)).as("first_token"),
        size(split(col("text"), " ")).cast("int").as("n_tokens"),
        length(replace(col("text"), lit("spark"), lit("SPARK"))).cast("int").as("len_replaced"),
        concat_ws("|", col("lang"), col("source")).as("lang_source"))
      .orderBy("doc_id")
  }

  /** X8 — calendar decomposition of event timestamps. */
  val q12DateParts: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    t.events
      .groupBy(
        year(col("ts")).as("y"),
        month(col("ts")).as("m"),
        dayofmonth(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"), sumMoney(col("value")).as("total_value"))
      .orderBy("y", "m", "d")
  }

  /** X10 — conditional bucketing (CASE WHEN cascade). */
  val q13ConditionalCase: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    t.orders
      .withColumn("bucket",
        when(col("o_totalprice") < 50000, "small")
          .when(col("o_totalprice") < 150000, "mid")
          .otherwise("large"))
      .groupBy("bucket", "o_orderstatus")
      .agg(count(lit(1)).as("n"), sumMoney(col("o_totalprice")).as("total"))
      .orderBy("bucket", "o_orderstatus")
  }

  // ---------------------------------------------------------------- windows

  /** W — ranking window: top-3 orders per customer, deterministic ties. */
  val q14WindowRank: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t.orders
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
      .orderBy("o_custkey", "rn")
  }

  /** O2 — global top-k with total tiebreak: executes as TakeOrderedAndProject
    * (per-partition heap + driver merge), not a global sort. */
  val q15TopK: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    t.orders
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
  }

  /** A+ — rollup with grouping indicators (subtotal + grand-total rows). */
  val q16Rollup: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    // project + Spread before the broadcast joins and the rollup's
    // Expand: the single-split scan otherwise runs the whole map side
    // serial (measured 2.02 -> 0.88 s at half width, SpreadStudy5)
    Spread.byKey(t.lineitem.select("l_suppkey", "l_extendedprice", "l_discount"),
        "l_suppkey", widthDivisor = 2)
      .join(broadcast(t.supplier), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(
        sumMoney(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"),
        count(lit(1)).as("n_items"),
        grouping(col("r_name")).cast("int").as("lvl_r"),
        grouping(col("n_name")).cast("int").as("lvl_n"))
      .orderBy(col("lvl_r"), col("lvl_n"), col("r_name").asc_nulls_first,
        col("n_name").asc_nulls_first)
  }

  /** G1–G4 — data-quality gate audit: all gates in ONE scan (conditional
    * aggregates), not one count() action per gate. */
  val q17DqGates: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    graft.operators.Quality.audit(t.lineitem, Seq(
      graft.operators.Quality.Gate("null_keys",
        col("l_orderkey").isNull || col("l_partkey").isNull || col("l_suppkey").isNull),
      graft.operators.Quality.Gate("suspicious_quantity", col("l_quantity") > 49),
      graft.operators.Quality.Gate("tax_out_of_policy", col("l_tax") > 0.07),
      graft.operators.Quality.Gate("discount_out_of_policy",
        col("l_discount") < 0 || col("l_discount") > 0.09)))
      .orderBy("gate")
  }

  /** J — semi-join (EXISTS): customers with at least one big order. */
  val q18SemiJoin: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    t.customer
      .join(t.orders.filter(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"), sumMoney(col("c_acctbal")).as("total_bal"))
      .orderBy("c_mktsegment")
  }

  /** ST — tumbling event-time window (the batch shape of the streaming
    * windowed aggregation; Structured Streaming runs the same plan). */
  val q19EventWindow: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    t.events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumMoney(col("value")).as("total_value"))
      .select(
        col("window.start").as("ws"),
        col("event_type"),
        col("n"),
        col("total_value"))
      .orderBy("ws", "event_type")
  }

  /** AS-OF — for each purchase, the most recent prior signup of the same
    * user (composed from a bounded-preceding window max — no custom
    * physical operator needed). */
  val q20AsOfJoin: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    t.events
      .withColumn("last_signup_ts",
        max(when(col("event_type") === "signup", col("ts"))).over(w))
      .filter(col("event_type") === "purchase")
      .select("user_id", "event_id", "ts", "last_signup_ts", "value")
      .orderBy("user_id", "event_id")
  }

  /** SESS — gap-based sessionization: a new session starts after 30
    * minutes of per-user inactivity; session_seq = running count of
    * session starts. One shuffle on user_id, two window passes over the
    * same partitioning (Catalyst plans a single sort), no state — the
    * batch twin of streaming session windows. */
  val q43Sessionize: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    t.events
      .withColumn("prev_us", lag(unix_micros(col("ts").cast("timestamp")), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          unix_micros(col("ts").cast("timestamp")) - col("prev_us") > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_seq",
        sum("new_sess").over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .select("user_id", "event_id", "ts", "session_seq")
      .orderBy("user_id", "event_id")
  }

  /** X12 — JSON extraction over the events `props` payload: parse the
    * embedded integer, bucket it, aggregate (codegen'd path — no UDF). */
  val q44JsonExtract: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    t.events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy((col("k") % 10).as("k_mod"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        sumMoney(col("value")).as("total_value"))
      .orderBy("k_mod", "event_type")
  }

  /** A+ — pivot: revenue matrix returnflag × linestatus, the
    * column-per-group-value reshape (Spark `pivot`; the oracle's
    * equivalent conditional aggregation names the columns identically). */
  val q45Pivot: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    t.lineitem
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sumMoney(col("l_extendedprice")))
      .orderBy("l_returnflag")
  }

  /** P+ — unpivot/melt: the four lineitem measures reshaped to long
    * form (one (measure, value) row each — Spark `unpivot`, the
    * wide→long inverse of q45's pivot), then re-aggregated per
    * (returnflag, measure) so every melted value is on the
    * hash-checked path. */
  val q116Unpivot: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    // Spread before the unpivot Expand (1.30 -> 0.62 s, SpreadStudy5);
    // l_extendedprice is the projection's high-cardinality hash key
    Spread.byKey(t.lineitem
        .select("l_returnflag", "l_quantity", "l_extendedprice", "l_discount", "l_tax"),
        "l_extendedprice", widthDivisor = 2)
      .unpivot(
        ids = Array(col("l_returnflag")),
        values = Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        variableColumnName = "measure",
        valueColumnName = "v")
      .groupBy("l_returnflag", "measure")
      .agg(count(lit(1)).as("n"),
        sumMoney(col("v")).as("total"))
      .orderBy("l_returnflag", "measure")
  }

  /** A+ — CUBE with grouping_id: all four aggregation granularities of
    * (returnflag × linestatus) in one pass (per-pair, per-flag,
    * per-status, grand total), cube nulls named '(all)' so the
    * sentinel — not engine null-sort order — carries the level. */
  val q117Cube: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    // Spread before the cube Expand (1.47 -> 0.71 s, SpreadStudy5)
    Spread.byKey(t.lineitem
        .select("l_returnflag", "l_linestatus", "l_extendedprice"),
        "l_extendedprice", widthDivisor = 2)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sumMoney(col("l_extendedprice")).as("total"),
        grouping_id().as("gid"))
      .select(
        coalesce(col("l_returnflag"), lit("(all)")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("(all)")).as("l_linestatus"),
        col("n"), col("total"), col("gid"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** A+ — exact interpolated quantiles per group (both engines use the
    * same linear interpolation between order statistics).
    *
    * Scale note: Spark's exact `percentile` buffers each group's value
    * multiset in the aggregation state — per-group memory grows with
    * distinct values, the price of exactness (it is what makes this
    * oracle-comparable). At 100 TB swap in `approx_percentile`
    * (t-digest, constant memory, rank error ≤ accuracy⁻¹) — same call
    * shape; measured here the exact form's CPU is still linear
    * (SCALING.md: 3.0× at 3× data — buffering + merge is ~linear in
    * group width), but its MEMORY grows with the widest group, which
    * is what kills it first at cluster scale. */
  val q46Percentiles: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    t.orders
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        percentile(col("o_totalprice"), lit(0.25)).as("p25"),
        percentile(col("o_totalprice"), lit(0.5)).as("p50"),
        percentile(col("o_totalprice"), lit(0.75)).as("p75"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))
      .orderBy("o_orderpriority")
  }

  /** W/RANGE — sliding 7-day value-based frame per user: RANGE frames
    * bound by the ORDER-BY value (epoch seconds), not row position —
    * the rolling-window shape rows-frames can't express. */
  val q48RangeFrame: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    // exact microseconds on BOTH engines: seconds-granularity epochs
    // diverge (DuckDB's epoch() keeps the fraction, Spark's truncates)
    // exactly at frame boundaries
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts_us"))
      .rangeBetween(-604800000000L, 0L)
    t.events
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      .withColumn("n_7d", count(lit(1)).over(w))
      .withColumn("value_7d",
        sum(col("value").cast("decimal(18,2)")).over(w).cast("double"))
      .select("user_id", "event_id", "ts", "n_7d", "value_7d")
      .orderBy("user_id", "event_id")
  }

  /** W/RANGE at scale — the SAME 7-day rolling aggregation as q48,
    * computed by the add/remove ledger
    * ([[graft.operators.Relational.trailingWindowAgg]]) instead of a
    * sliding RANGE frame. The oracle is IDENTICAL to q48's (DuckDB
    * computes the real RANGE window), so the hash match is a
    * cross-engine proof that the linear ledger plan computes exactly
    * the quadratic frame's semantics — peers, boundary inclusion,
    * decimal sums and all. Route density-growing workloads here; q48
    * remains the frame-semantics demonstrator (its RANGE cost contract
    * is documented in SCALING.md). */
  val q67RollingLedger: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    val e = t.events.withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
    trailingWindowAgg(e, Seq("user_id"), "ts_us", "event_id",
      col("value").cast("decimal(18,2)"), width = 604800000000L,
      nOut = "n_7d", sumOut = "value_7d")
      .withColumn("value_7d", col("value_7d").cast("double"))
      .select("user_id", "event_id", "ts", "n_7d", "value_7d")
      .orderBy("user_id", "event_id")
  }

  /** W/RANGE routed — the SAME 7-day rolling aggregation through the
    * [[graft.operators.Relational.rollingAgg]] front door, which picks
    * q48's RANGE frame or q67's ledger from a one-agg density estimate
    * (SCALING.md's measured crossover, encoded instead of prose). The
    * oracle is the same DuckDB RANGE window as q48/q67 — whichever
    * plan the router picks must hash-match it, so routing is proven
    * answer-invariant on real data, not just in the spec fixture. */
  val q69RollingRouted: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    val e = t.events.withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
    rollingAgg(e, Seq("user_id"), "ts_us", "event_id",
      col("value").cast("decimal(18,2)"), width = 604800000000L,
      nOut = "n_7d", sumOut = "value_7d")
      .withColumn("value_7d", col("value_7d").cast("double"))
      .select("user_id", "event_id", "ts", "n_7d", "value_7d")
      .orderBy("user_id", "event_id")
  }

  /** A+ — HLL sketch distinct vs exact (SURVEY §2.5 extension): the
    * constant-memory cardinality path for 100 TB group-bys where exact
    * distinct would shuffle every key. The sketch value itself is
    * engine-specific (DuckDB cannot reproduce Spark's HLL++ registers),
    * so the estimate enters the oracle hash only through
    * `approx_within_5pct`: |approx − exact| ≤ 5%·exact per group. Spark's
    * HLL is deterministic for fixed data (register maxes are
    * order-independent), the rsd-0.02 sketch's 2σ bound is 4%, and the
    * DuckDB side asserts the literal TRUE — so a broken or drifting
    * sketch hash-fails the round instead of passing a rows-only check. */
  val q49ApproxDistinct: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    // Two-level distinct instead of countDistinct-next-to-other-aggs: the
    // single-level form Expands every input row (×2) before the wide
    // shuffle — measured 82× CPU at 10× data (SCALING.md). Here the first
    // groupBy's map-side partials collapse the scan to at most
    // |flags|·|partkeys| rows before the only wide shuffle, and the
    // second aggregation is over that bounded key-pair relation: n is the
    // sum of group counts, exact_parts a plain count, and the HLL sketch
    // is IDENTICAL on deduped input (register updates are idempotent per
    // value), so the oracle hash is unchanged.
    // PRECONDITION: the distinct key must be NON-NULL (l_partkey is, per
    // TPC-H). countDistinct skips nulls; this rewrite counts a null-key
    // GROUP as one distinct value. On a nullable key, filter the null
    // group between the two aggregations before reusing this pattern.
    t.lineitem
      .groupBy("l_returnflag", "l_partkey")
      .agg(count(lit(1)).as("__rows"))
      .groupBy("l_returnflag")
      .agg(
        sum("__rows").as("n"),
        count(lit(1)).as("exact_parts"),
        approx_count_distinct(col("l_partkey"), 0.02).as("__approx"))
      .select(col("l_returnflag"), col("n"), col("exact_parts"),
        (abs(col("__approx") - col("exact_parts")).cast("double")
          <= lit(0.05) * col("exact_parts").cast("double")).as("approx_within_5pct"))
      .orderBy("l_returnflag")
  }

  /** Skew-salted join ≡ plain join (output invariance): ~75% of lineitem
    * rows are forced onto one hot key — the shape of the reference's own
    * data, where one contaminant is 40% of all rows (BASELINE.md) — and
    * joined through [[Relational.saltedLeftJoin]] with 8 salt buckets.
    * The oracle is the UNSALTED left join: salting must only re-shard the
    * hot key across tasks, never change a row, so the two results
    * hash-match or the operator is wrong. */
  val q63SaltedJoin: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    val fact = t.lineitem.select(
      col("l_orderkey"), col("l_linenumber"),
      when(col("l_orderkey") % 4 =!= 0, lit(7L))
        .otherwise(col("l_partkey") % 25).as("hot_key"),
      col("l_quantity"))
    val dim = t.nation.select(
      col("n_nationkey").cast("long").as("hot_key"), col("n_name").as("dim_name"))
    saltedLeftJoin(fact, dim, Seq("hot_key"), buckets = 8)
      .select("l_orderkey", "l_linenumber", "hot_key", "l_quantity", "dim_name")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Bucketed co-located join ≡ plain join (output invariance): customer
    * and orders are laid out bucketed by customer key
    * ([[graft.operators.Layout.bucketedTable]], 8 buckets, in-bucket
    * sorted), then joined and aggregated THROUGH the layout — the
    * write-once-shuffle-once plan whose join and same-key groupBy carry
    * zero Exchange (asserted in `PlanShapeSpec`; `explain` shows
    * SortMergeJoin directly over the two bucketed scans). The oracle is
    * the plain join: the layout must only move WHERE rows sit, never
    * change one, so the results hash-match or the layout is wrong. */
  val q77BucketedJoin: Q = (spark, dir) => {
    import graft.operators.Layout
    val t = Tables(spark, dir)
    val cTbl = Layout.bucketedTable(spark,
      t.customer.select("c_custkey", "c_mktsegment"),
      Layout.tableName("cust", dir), Seq("c_custkey"), buckets = 8)
    val oTbl = Layout.bucketedTable(spark,
      t.orders.select("o_custkey", "o_totalprice"),
      Layout.tableName("ord", dir), Seq("o_custkey"), buckets = 8)
    Layout.coLocatedJoin(spark, cTbl, oTbl, col("c_custkey") === col("o_custkey"))
      .groupBy("c_custkey", "c_mktsegment")
      .agg(count(lit(1)).as("order_cnt"),
        sumMoney(col("o_totalprice")).as("total_spend"))
      .orderBy("c_custkey")
  }

  val all: Map[String, Q] = Map(
    "q01_pruned_scan" -> q01PrunedScan,
    "q63_salted_join" -> q63SaltedJoin,
    "q77_bucketed_join" -> q77BucketedJoin,
    "q43_sessionize" -> q43Sessionize,
    "q44_json_extract" -> q44JsonExtract,
    "q45_pivot" -> q45Pivot,
    "q116_unpivot" -> q116Unpivot,
    "q117_cube" -> q117Cube,
    "q46_percentiles" -> q46Percentiles,
    "q48_range_frame" -> q48RangeFrame,
    "q67_rolling_ledger" -> q67RollingLedger,
    "q69_rolling_routed" -> q69RollingRouted,
    "q49_approx_distinct" -> q49ApproxDistinct,
    "q02_agg_pricing" -> q02AggPricing,
    "q03_region_revenue" -> q03RegionRevenue,
    "q04_outer_suffix_repair" -> q04OuterSuffixRepair,
    "q05_hierarchical_enrich" -> q05HierarchicalEnrich,
    "q06_keep_first" -> q06KeepFirst,
    "q07_anti_join" -> q07AntiJoin,
    "q08_key_mirror" -> q08KeyMirror,
    "q09_union_strata" -> q09UnionStrata,
    "q10_distinct" -> q10Distinct,
    "q11_scalar_strings" -> q11ScalarStrings,
    "q12_date_parts" -> q12DateParts,
    "q13_conditional_case" -> q13ConditionalCase,
    "q14_window_rank" -> q14WindowRank,
    "q15_topk" -> q15TopK,
    "q16_rollup" -> q16Rollup,
    "q17_dq_gates" -> q17DqGates,
    "q18_semi_join" -> q18SemiJoin,
    "q19_event_window" -> q19EventWindow,
    "q20_asof_join" -> q20AsOfJoin)

  /** Shared by q48 (RANGE-frame plan) and q67 (ledger plan): DuckDB
    * computes the genuine RANGE window, both Spark plans must hash-match
    * it — the cross-engine equivalence proof for the ledger rewrite. */
  private val rolling7dOracleSql: String =
    """SELECT user_id, event_id, ts, n_7d, value_7d FROM (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    COUNT(*) OVER w AS n_7d,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS value_7d
      |  FROM (SELECT *, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events)
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
      |               RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW))
      |ORDER BY user_id, event_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "q01_pruned_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity >= 45 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q02_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q03_region_revenue" ->
      """SELECT r_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q04_outer_suffix_repair" ->
      """WITH sup AS (
        |  SELECT s_nationkey AS nationkey, COUNT(*) AS n_sup,
        |         CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |  FROM supplier WHERE s_suppkey % 3 = 0 GROUP BY s_nationkey),
        |cust AS (
        |  SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust,
        |         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |  FROM customer GROUP BY c_nationkey)
        |SELECT COALESCE(sup.nationkey, cust.nationkey) AS nationkey, n_sup, n_cust,
        |       COALESCE(sup.total_bal, cust.total_bal) AS total_bal
        |FROM sup FULL OUTER JOIN cust ON sup.nationkey = cust.nationkey
        |ORDER BY nationkey""".stripMargin,
    "q05_hierarchical_enrich" ->
      """WITH data AS (
        |  SELECT o_orderkey, o_custkey AS custkey,
        |         CAST(o_orderkey % 25 AS INT) AS nkey, o_totalprice
        |  FROM orders),
        |d1 AS (SELECT c_custkey AS custkey, c_nationkey AS nkey, c_name, c_acctbal FROM customer),
        |d2 AS (SELECT c_custkey AS custkey, c_name, c_acctbal FROM customer)
        |SELECT data.o_orderkey, data.custkey, data.nkey,
        |       COALESCE(d1.c_name, d2.c_name) AS c_name,
        |       COALESCE(d1.c_acctbal, d2.c_acctbal) AS c_acctbal,
        |       CASE WHEN d1.custkey IS NOT NULL THEN 1
        |            WHEN d2.custkey IS NOT NULL THEN 2 END AS match_level
        |FROM data
        |LEFT JOIN d1 ON data.custkey = d1.custkey AND data.nkey = d1.nkey
        |LEFT JOIN d2 ON data.custkey = d2.custkey
        |ORDER BY data.o_orderkey""".stripMargin,
    "q06_keep_first" ->
      """SELECT c_nationkey, c_custkey, c_name, c_acctbal FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn
        |  FROM customer) WHERE rn = 1
        |ORDER BY c_nationkey""".stripMargin,
    "q07_anti_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer WHERE NOT EXISTS (
        |  SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q08_key_mirror" ->
      """SELECT entity_key % 1000 AS key_bucket, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM (
        |  SELECT l_partkey AS entity_key, l_quantity FROM lineitem
        |  UNION ALL
        |  SELECT l_suppkey AS entity_key, l_quantity FROM lineitem)
        |GROUP BY key_bucket ORDER BY key_bucket""".stripMargin,
    "q09_union_strata" ->
      """SELECT priority, COUNT(*) AS n,
        |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM (
        |  SELECT o_orderkey AS k, o_totalprice AS price, o_orderpriority AS priority
        |  FROM orders WHERE o_orderstatus = 'O'
        |  UNION ALL
        |  SELECT l_orderkey AS k, l_extendedprice AS price, CAST(NULL AS VARCHAR) AS priority
        |  FROM lineitem WHERE l_linenumber = 1 AND l_returnflag = 'A')
        |GROUP BY priority ORDER BY priority NULLS FIRST""".stripMargin,
    "q10_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus,
        |  CAST(EXTRACT(year FROM l_shipdate) AS INT) AS ship_year
        |FROM lineitem
        |ORDER BY l_returnflag, l_linestatus, ship_year""".stripMargin,
    "q11_scalar_strings" ->
      """SELECT doc_id, UPPER(lang) AS lang_uc,
        |  CAST(LENGTH(text) AS INT) AS text_len,
        |  SUBSTR(text, 1, 10) AS prefix10,
        |  SPLIT_PART(text, ' ', 1) AS first_token,
        |  CAST(LEN(STRING_SPLIT(text, ' ')) AS INT) AS n_tokens,
        |  CAST(LENGTH(REPLACE(text, 'spark', 'SPARK')) AS INT) AS len_replaced,
        |  CONCAT_WS('|', lang, source) AS lang_source
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q12_date_parts" ->
      """SELECT CAST(EXTRACT(year FROM ts) AS INT) AS y,
        |  CAST(EXTRACT(month FROM ts) AS INT) AS m,
        |  CAST(EXTRACT(day FROM ts) AS INT) AS d,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY y, m, d ORDER BY y, m, d""".stripMargin,
    "q13_conditional_case" ->
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
        |            WHEN o_totalprice < 150000 THEN 'mid'
        |            ELSE 'large' END AS bucket,
        |  o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY bucket, o_orderstatus
        |ORDER BY bucket, o_orderstatus""".stripMargin,
    "q14_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice, ROW_NUMBER() OVER (
        |    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,
    "q15_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q16_rollup" ->
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items,
        |  CAST(GROUPING(r_name) AS INT) AS lvl_r,
        |  CAST(GROUPING(n_name) AS INT) AS lvl_n
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY lvl_r, lvl_n, r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,
    "q17_dq_gates" ->
      """SELECT gate, violations, total_rows FROM (
        |  SELECT 'null_keys' AS gate,
        |    COUNT(*) FILTER (WHERE l_orderkey IS NULL OR l_partkey IS NULL OR l_suppkey IS NULL) AS violations,
        |    COUNT(*) AS total_rows FROM lineitem
        |  UNION ALL
        |  SELECT 'suspicious_quantity', COUNT(*) FILTER (WHERE l_quantity > 49), COUNT(*) FROM lineitem
        |  UNION ALL
        |  SELECT 'tax_out_of_policy', COUNT(*) FILTER (WHERE l_tax > 0.07), COUNT(*) FROM lineitem
        |  UNION ALL
        |  SELECT 'discount_out_of_policy', COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.09), COUNT(*) FROM lineitem)
        |ORDER BY gate""".stripMargin,
    "q18_semi_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer WHERE EXISTS (
        |  SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q19_event_window" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ws, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY ws, event_type ORDER BY ws, event_type""".stripMargin,
    "q48_range_frame" -> rolling7dOracleSql,
    // q67 computes the SAME semantics through the ledger plan — one
    // oracle, two Spark plans, both must hash-match it
    "q67_rolling_ledger" -> rolling7dOracleSql,
    // q69 routes between the two plans at runtime; whichever it picks
    // must still hash-match the same RANGE oracle
    "q69_rolling_routed" -> rolling7dOracleSql,
    "q63_salted_join" ->
      """WITH fact AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CASE WHEN l_orderkey % 4 <> 0 THEN 7
        |         ELSE l_partkey % 25 END AS hot_key,
        |    l_quantity
        |  FROM lineitem),
        |dim AS (SELECT CAST(n_nationkey AS BIGINT) AS hot_key, n_name AS dim_name
        |        FROM nation)
        |SELECT l_orderkey, l_linenumber, hot_key, l_quantity, dim_name
        |FROM fact LEFT JOIN dim USING (hot_key)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q77_bucketed_join" ->
      """SELECT c_custkey, c_mktsegment, COUNT(*) AS order_cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_mktsegment
        |ORDER BY c_custkey""".stripMargin,
    "q49_approx_distinct" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  COUNT(DISTINCT l_partkey) AS exact_parts,
        |  TRUE AS approx_within_5pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q46_percentiles" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  quantile_cont(o_totalprice, 0.25) AS p25,
        |  quantile_cont(o_totalprice, 0.5) AS p50,
        |  quantile_cont(o_totalprice, 0.75) AS p75,
        |  MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q44_json_extract" ->
      """SELECT (k % 10) AS k_mod, event_type, COUNT(*) AS n,
        |  CAST(SUM(k) AS BIGINT) AS sum_k,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM (SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k,
        |             event_type, value
        |      FROM events)
        |GROUP BY k_mod, event_type ORDER BY k_mod, event_type""".stripMargin,
    "q116_unpivot" ->
      """SELECT l_returnflag, measure, COUNT(*) AS n,
        |  CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM (
        |  SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS v FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 'l_tax', l_tax FROM lineitem)
        |GROUP BY l_returnflag, measure
        |ORDER BY l_returnflag, measure""".stripMargin,
    "q117_cube" ->
      """SELECT COALESCE(l_returnflag, '(all)') AS l_returnflag,
        |  COALESCE(l_linestatus, '(all)') AS l_linestatus,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q45_pivot" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
        |    FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS F,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
        |    FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS O
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q43_sessionize" ->
      """SELECT user_id, event_id, ts, session_seq FROM (
        |  SELECT user_id, event_id, ts,
        |    CAST(SUM(CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM (
        |    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |      LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
        |        PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |    FROM events))
        |ORDER BY user_id, event_id""".stripMargin,
    "q20_asof_join" ->
      """SELECT user_id, event_id, ts, last_signup_ts, value FROM (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value,
        |    MAX(CASE WHEN event_type = 'signup' THEN CAST(ts AS TIMESTAMP) END) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_signup_ts
        |  FROM events) WHERE event_type = 'purchase'
        |ORDER BY user_id, event_id""".stripMargin)
}
