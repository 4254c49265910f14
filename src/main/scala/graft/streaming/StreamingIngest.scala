package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

/** Streaming ingest (SURVEY.md §2.10 — deliberately beyond parity): the
  * reference's yearly-file drop (`rptinfo2014..2023.csv`,
  * `/root/reference/down/down_water_prep.py:204-215`, re-downloaded and
  * re-run by hand) maps onto Spark's file source: the same directory
  * becomes a stream, each new drop is discovered and processed exactly
  * once, and `Trigger.AvailableNow` gives batch-like "process what's
  * there, then stop" runs on a schedule.
  *
  * The transforms are the SAME DataFrame expressions the batch pipelines
  * use — Structured Streaming plans them incrementally:
  *  - stream-static joins: the broadcast-sized site dimension joins each
  *    micro-batch with no state;
  *  - windowed aggregation with a watermark bounds state for late rows.
  */
object StreamingIngest {

  /** File-source stream over a drop directory (one logical table).
    * `maxFilesPerTrigger` caps micro-batch size so a backlog of years
    * drains in bounded-memory batches. */
  def csvStream(spark: SparkSession, schema: StructType, dir: String,
      maxFilesPerTrigger: Int = 4): DataFrame =
    spark.readStream
      .option("header", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .schema(schema)
      .csv(dir)

  /** Stream-static enrichment: each arriving micro-batch left-joins the
    * (static, broadcast) dimension — the streaming form of the down
    * pipeline's dimension join; no streaming state involved. */
  def enrichStream(stream: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left")

  /** Stream-static RANGE enrich: assign each streaming point row to the
    * static interval(s) containing it — the streaming twin of
    * [[graft.operators.Temporal.rangeJoin]], and it IS that operator:
    * the bucketized rewrite is stateless on the points side (one
    * derived bucket column, then a stream-static equi-join on
    * (keys, bucket) + an exact filter), so the batch plan runs
    * unchanged on an unbounded stream — no watermark, no state store,
    * exact batch equivalence regardless of micro-batch chunking
    * (proven on the real events slice in `StreamingIngestSpec`). The
    * naive inequality phrasing would instead be rejected or forced
    * stateful by structured streaming — the bucketization is what
    * makes the operator streamable at all.
    *
    * Persist/cache `intervals`: a stream-static join re-evaluates the
    * static plan every micro-batch, so hand this method a parquet- or
    * cache-backed relation, not a freshly-derived one (same contract
    * as the screen streams). */
  def rangeEnrichStream(stream: DataFrame, intervals: DataFrame,
      keys: Seq[String], pointCol: String, loCol: String, hiCol: String,
      bucketWidth: Long, inclusiveHi: Boolean = true,
      suffix: String = "_i"): DataFrame =
    graft.operators.Temporal.rangeJoin(stream, intervals, keys, pointCol,
      loCol, hiCol, bucketWidth, maxBucketsPerInterval = None,
      inclusiveHi = inclusiveHi, suffix = suffix)

  /** Windowed per-key counts with a watermark: the streaming form of the
    * engine's event-window aggregation (q19); state for a window is
    * dropped once the watermark passes its end. */
  def windowedCounts(stream: DataFrame, tsCol: String, keyCol: String,
      window_ : String = "1 hour", watermark: String = "2 hours"): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col(s"window.start").as("ws"), col(keyCol), col("n"))

  /** Streaming exact dedup with custom state: the FIRST row of each key
    * ever seen passes; replays — within a micro-batch or in any later
    * batch — are dropped. Per-key boolean state lives in the state store
    * and survives across runs via the checkpoint, so re-delivered files
    * (the at-least-once failure mode of file drops) cannot duplicate
    * output. `flatMapGroupsWithState` is the right state primitive here:
    * arbitrary per-key state, append output, no timeout (dedup memory is
    * permanent by design; add a TTL timeout if keys are unbounded).
    */
  def dedupStream(stream: DataFrame, keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val rowEnc = Encoders.row(stream.schema)
    implicit val boolEnc = Encoders.scalaBoolean
    implicit val keyEnc = Encoders.STRING
    stream
      // length-prefixed, type-tagged key encoding: injective for ANY
      // values (a bare separator would conflate ("a|b", "c") with
      // ("a", "b|c"), and a bare null marker would collide with a real
      // value equal to the marker)
      .groupByKey(r => keyCols.map { c =>
        r.getAs[Any](c) match {
          case null => "n"
          case v => val s = v.toString; s"v${s.length}:$s"
        }
      }.mkString("|"))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, rows: Iterator[Row], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else { state.update(true); rows.take(1) })
  }

  /** [[dedupStream]] with a sliding event-time TTL on per-key state — the
    * unbounded-key-space variant (crawl URLs, request ids): the plain
    * dedup's permanent memory is a state-store leak there. A key's first
    * row passes; replays whose event time lands within `ttlMs` of the
    * last sighting are dropped AND extend the TTL (sliding window — a key
    * that keeps replaying never re-emits); once the watermark passes
    * `last sighting + ttlMs` the state is expired by an event-time
    * timeout, so a replay after that passes again, as a fresh first
    * sighting. State is bounded by the number of keys active within one
    * TTL window, not the key space.
    *
    * Rows with a null event time are dropped (they can neither be
    * late-filtered nor expire). Within a micro-batch the earliest-by-
    * event-time row of a new key is the one emitted (deterministic,
    * where [[dedupStream]]'s single-batch pick is arbitrary). Output
    * carries the input columns (the internal `__ts` column is dropped). */
  def dedupStreamTtl(stream: DataFrame, keyCols: Seq[String], tsCol: String,
      ttlMs: Long, watermark: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(ttlMs > 0, "ttlMs must be positive")
    val input = stream
      // cast BEFORE the watermark (same attribute-tag rule as
      // sessionizeStream) and keep the whole row riding along
      .withColumn("__ts", col(tsCol).cast("timestamp"))
      .filter(col("__ts").isNotNull)
      .withWatermark("__ts", watermark)
    implicit val rowEnc = Encoders.row(input.schema)
    implicit val lastEnc = Encoders.scalaLong
    implicit val keyEnc = Encoders.STRING
    val tsIdx = input.schema.fieldIndex("__ts")
    def toUs(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    val deduped = input
      .groupByKey(r => keyCols.map { c => // same injective encoding as dedupStream
        r.getAs[Any](c) match {
          case null => "n"
          case v => val s = v.toString; s"v${s.length}:$s"
        }
      }.mkString("|"))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: String, rows: Iterator[Row], state: GroupState[Long]) => {
          // ms-granular timeout API: round UP so expiry is never earlier
          // than last-sighting + TTL
          def horizonMs(lastUs: Long): Long =
            Math.floorDiv(lastUs + ttlMs * 1000L + 999L, 1000L)
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // A key receiving data in the very batch whose watermark
            // passed its horizon is NOT timed out by the engine (timeouts
            // fire only for data-less keys) — without this check the
            // stale state would suppress a replay that arrived after the
            // TTL. Expire it here by the same horizon the timeout uses,
            // so suppression ends exactly at the TTL either way.
            val prior = state.getOption
              .filter(last => horizonMs(last) > state.getCurrentWatermarkMs())
            val rs = rows.toArray
            val lastUs = math.max(
              prior.getOrElse(Long.MinValue),
              rs.iterator.map(r => toUs(r.getTimestamp(tsIdx))).max)
            val out =
              if (prior.isDefined) Iterator.empty
              else Iterator.single(rs.minBy(r => toUs(r.getTimestamp(tsIdx))))
            state.update(lastUs)
            state.setTimeoutTimestamp(horizonMs(lastUs))
            out
          }
        })
    deduped.drop("__ts")
  }

  /** A closed session: emitted when a gap exceeds the threshold or the
    * watermark passes the open session's horizon. */
  case class SessionOut(key: String, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long)

  /** Open-session state (public: the state encoder's generated code
    * constructs and probes it from Janino-compiled classes). Event times
    * are epoch MICROSECONDS — Spark's native timestamp precision.
    * `Timestamp.getTime` (milliseconds) would silently truncate
    * micro-precision event times and desync session bounds from the
    * batch sessionize query. */
  case class SessionState(startUs: Long, lastUs: Long, n: Long)

  /** Streaming gap-based sessionization — the incremental twin of the
    * batch sessionize query (q43), with custom event-time state:
    * one open session per key lives in the state store; an event more
    * than `gapMs` past the session's last event closes it (emitting the
    * session row) and opens the next; a key that goes quiet is closed by
    * an EVENT-TIME TIMEOUT when the watermark passes `last + gap`, so
    * state cannot accumulate for dead keys and output needs no future
    * event to flush.
    *
    * Out-of-order handling: events within a micro-batch are sorted
    * before folding (bounded by batch size); events later than the
    * watermark delay are dropped by the engine — the standard streaming
    * correctness trade, bounded state for bounded lateness.
    */
  def sessionizeStream(stream: DataFrame, keyCol: String, tsCol: String,
      gapMs: Long, watermark: String): org.apache.spark.sql.Dataset[SessionOut] = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val outEnc = Encoders.product[SessionOut]
    implicit val stEnc = Encoders.product[SessionState]
    implicit val inEnc = Encoders.tuple(Encoders.STRING, Encoders.TIMESTAMP)
    implicit val keyEnc = Encoders.STRING
    val gapUs = gapMs * 1000L
    // exact micros <-> java.sql.Timestamp (getTime alone is ms-lossy;
    // the (getTime, getNanos) pair carries the full fraction)
    def toUs(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    def ts(us: Long): java.sql.Timestamp = {
      val sec = Math.floorDiv(us, 1000000L)
      val t = new java.sql.Timestamp(sec * 1000L)
      t.setNanos(((us - sec * 1000000L) * 1000L).toInt)
      t
    }
    stream
      // project/cast BEFORE the watermark: a cast afterwards would mint a
      // fresh attribute without the watermark tag, and event-time timeout
      // refuses plans whose event column lost it
      .select(col(keyCol).cast("string").as("__k"), col(tsCol).cast("timestamp").as("__ts"))
      // a null event time can't be late-filtered by the watermark (NULL
      // comparison) and would NPE the state fold — drop it explicitly
      .filter(col("__ts").isNotNull)
      .withWatermark("__ts", watermark)
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: String, rows: Iterator[(String, java.sql.Timestamp)],
            state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(key, ts(s.startUs), ts(s.lastUs), s.n))
          } else {
            // Span-merge fold: the open state is one span among the
            // batch's events, ordered by start — so cross-batch disorder
            // needs no special cases (a late event inside or before the
            // open session widens it; one more than a gap earlier forms
            // its own, immediately-closed session).
            val times = rows.map(r => toUs(r._2)).toArray
            java.util.Arrays.sort(times)
            val spans = (times.map(t => SessionState(t, t, 1)) ++ state.getOption)
              .sortBy(s => (s.startUs, s.lastUs))
            val closed = Seq.newBuilder[SessionOut]
            var cur: Option[SessionState] = None
            spans.foreach { s =>
              cur = cur match {
                case Some(c) if s.startUs - c.lastUs > gapUs =>
                  closed += SessionOut(key, ts(c.startUs), ts(c.lastUs), c.n)
                  Some(s)
                case Some(c) => Some(SessionState(
                  c.startUs, math.max(c.lastUs, s.lastUs), c.n + s.n))
                case None => Some(s)
              }
            }
            cur.foreach { s =>
              state.update(s)
              // timeout API is ms-granular: round UP so the horizon is
              // never earlier than last-event + gap
              state.setTimeoutTimestamp(Math.floorDiv(s.lastUs + gapUs + 999L, 1000L))
            }
            closed.result().iterator
          })
  }

  /** One emitted probe row of [[asOfStream]]: the probe event with the
    * most recent prior anchor's event time (`asof_ts`, null when no
    * anchor preceded it). */
  case class AsOfOut(key: String, id: Long, event_ts: java.sql.Timestamp,
      asof_ts: java.sql.Timestamp)

  /** Projected input row (public for the state encoder's generated
    * code, as [[SessionState]]). */
  case class AsOfIn(k: String, id: Long, ts: java.sql.Timestamp,
      anchor: Boolean, probe: Boolean)

  /** Latest-anchor state: epoch MICROSECONDS + the tiebreak id (the
    * same (ts, id) total order the batch as-of query sorts by). */
  case class AsOfState(tsUs: Long, id: Long)

  /** Streaming as-of enrich — the incremental twin of the batch as-of
    * join (q20): for each arriving PROBE event (e.g. a purchase), emit
    * the event time of the most recent strictly-prior ANCHOR event
    * (e.g. the user's last signup) of the same key, in the (ts, id)
    * total order the batch window uses. The state store holds ONE
    * (tsUs, id) pair per key — the streaming form of a keyed
    * most-recent-dimension lookup. State is never timed out BY DESIGN:
    * an anchor remains the valid as-of match for every later probe
    * indefinitely, so expiring it would change answers, not reclaim
    * garbage — O(distinct keys) state is the operator's honest floor
    * (the same bound as any keyed dimension).
    *
    * Out-of-order handling matches [[sessionizeStream]]'s trade:
    * events within a micro-batch are sorted before folding, and an
    * anchor never regresses the state (a cross-batch straggler anchor
    * older than the stored one is ignored). A straggler PROBE that
    * arrives after a newer anchor was absorbed sees the newer anchor —
    * exact batch equivalence requires time-contiguous feeding, the
    * documented streaming-finality bound (proven on the real events
    * slice in `StreamingIngestSpec`).
    *
    * `anchorPred`/`probePred` are evaluated BEFORE the stateful fold
    * (plain Catalyst expressions over the input row — codegen'd, never
    * shipped into the state function); a row may be both. */
  def asOfStream(stream: DataFrame, keyCol: String, idCol: String,
      tsCol: String, anchorPred: Column, probePred: Column):
      org.apache.spark.sql.Dataset[AsOfOut] = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val outEnc = Encoders.product[AsOfOut]
    implicit val stEnc = Encoders.product[AsOfState]
    implicit val inEnc = Encoders.product[AsOfIn]
    implicit val keyEnc = Encoders.STRING
    def toUs(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    def ts(us: Long): java.sql.Timestamp = {
      val sec = Math.floorDiv(us, 1000000L)
      val t = new java.sql.Timestamp(sec * 1000L)
      t.setNanos(((us - sec * 1000000L) * 1000L).toInt)
      t
    }
    stream
      .select(col(keyCol).cast("string").as("k"),
        col(idCol).cast("long").as("id"),
        col(tsCol).cast("timestamp").as("ts"),
        // null predicate results (e.g. a null event_type under ===) are
        // neither-role, not an encoder NPE on the non-nullable field
        coalesce(anchorPred.cast("boolean"), lit(false)).as("anchor"),
        coalesce(probePred.cast("boolean"), lit(false)).as("probe"))
      .filter(col("ts").isNotNull && (col("anchor") || col("probe")))
      .as[AsOfIn]
      .groupByKey(_.k)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: String, rows: Iterator[AsOfIn], state: GroupState[AsOfState]) => {
          val evs = rows.toArray
          java.util.Arrays.sort(evs, Ordering.by((e: AsOfIn) => (toUs(e.ts), e.id)))
          val out = Seq.newBuilder[AsOfOut]
          var st = state.getOption
          evs.foreach { e =>
            val us = toUs(e.ts)
            // probe BEFORE absorbing this row's anchor: the batch frame
            // is strictly preceding (rowsBetween ... -1)
            if (e.probe)
              out += AsOfOut(key, e.id, e.ts, st.map(s => ts(s.tsUs)).orNull)
            if (e.anchor && st.forall(s =>
                s.tsUs < us || (s.tsUs == us && s.id < e.id)))
              st = Some(AsOfState(us, e.id))
          }
          st.foreach(state.update)
          out.result().iterator
        })
  }

  /** [[asOfStream]] with an event-time TTL on the anchor state — the
    * bounded-state variant for unbounded key spaces (session tokens,
    * request ids), where the plain as-of's O(distinct keys) state is a
    * store leak. The enrichment contract narrows to the TOLERANCE form
    * of an as-of join (pandas `merge_asof(tolerance=...)`): a probe
    * matches the most recent strictly-prior anchor only if
    * `probe.ts − anchor.ts ≤ ttlMs`; an older anchor yields a null
    * `asof_ts`, exactly as no anchor would. That semantic bound is what
    * MAKES the state expirable: once the watermark passes
    * `anchor.ts + ttlMs`, every future probe the engine will still
    * accept (event time ≥ watermark) is out of tolerance for that
    * anchor, so dropping it by event-time timeout reclaims garbage
    * without changing any answer — state is bounded by the keys with an
    * anchor inside one TTL window, not the key space.
    *
    * Two expiry paths, same horizon: quiet keys are removed by the
    * engine's event-time timeout; a key whose stale anchor is past the
    * horizon but which receives data in that very batch (timeouts fire
    * only for data-less keys) drops the anchor in-fold before probing.
    * The timeout is only ever (re)set from a live anchor, whose horizon
    * is provably past the current watermark — the engine rejects
    * timestamps at or before it.
    *
    * Rows with a null event time are dropped (they can neither be
    * late-filtered nor expire) — the [[dedupStreamTtl]] rule; late rows
    * beyond the watermark delay are dropped by the engine, the standard
    * bounded-state/bounded-lateness trade. Batch equivalence on the
    * real events slice (the q20 window computation with the tolerance
    * predicate applied) is proven in `StreamingIngestSpec`. */
  def asOfStreamTtl(stream: DataFrame, keyCol: String, idCol: String,
      tsCol: String, anchorPred: Column, probePred: Column,
      ttlMs: Long, watermark: String): org.apache.spark.sql.Dataset[AsOfOut] = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(ttlMs > 0, "ttlMs must be positive")
    implicit val outEnc = Encoders.product[AsOfOut]
    implicit val stEnc = Encoders.product[AsOfState]
    implicit val inEnc = Encoders.product[AsOfIn]
    implicit val keyEnc = Encoders.STRING
    val ttlUs = ttlMs * 1000L
    def toUs(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    def ts(us: Long): java.sql.Timestamp = {
      val sec = Math.floorDiv(us, 1000000L)
      val t = new java.sql.Timestamp(sec * 1000L)
      t.setNanos(((us - sec * 1000000L) * 1000L).toInt)
      t
    }
    stream
      // project/cast BEFORE the watermark (the sessionizeStream
      // attribute-tag rule: a later cast would mint an attribute without
      // the watermark tag, and event-time timeout refuses such plans)
      .select(col(keyCol).cast("string").as("k"),
        col(idCol).cast("long").as("id"),
        col(tsCol).cast("timestamp").as("ts"),
        coalesce(anchorPred.cast("boolean"), lit(false)).as("anchor"),
        coalesce(probePred.cast("boolean"), lit(false)).as("probe"))
      .filter(col("ts").isNotNull && (col("anchor") || col("probe")))
      .withWatermark("ts", watermark)
      .as[AsOfIn]
      .groupByKey(_.k)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: String, rows: Iterator[AsOfIn], state: GroupState[AsOfState]) => {
          // ms-granular timeout API: round UP so expiry is never earlier
          // than anchor + TTL
          def horizonMs(anchorUs: Long): Long =
            Math.floorDiv(anchorUs + ttlUs + 999L, 1000L)
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val evs = rows.toArray
            java.util.Arrays.sort(evs, Ordering.by((e: AsOfIn) => (toUs(e.ts), e.id)))
            val out = Seq.newBuilder[AsOfOut]
            // in-fold expiry by the same horizon the timeout uses (a key
            // with data in the expiry batch is never timed out by the
            // engine) — also what keeps setTimeoutTimestamp legal below
            var st = state.getOption
              .filter(s => horizonMs(s.tsUs) > state.getCurrentWatermarkMs())
            evs.foreach { e =>
              val us = toUs(e.ts)
              // probe BEFORE absorbing this row's anchor (strictly-prior
              // frame), and only within tolerance — an out-of-TTL anchor
              // answers null exactly as no anchor would
              if (e.probe)
                out += AsOfOut(key, e.id, e.ts,
                  st.filter(s => us - s.tsUs <= ttlUs).map(s => ts(s.tsUs)).orNull)
              if (e.anchor && st.forall(s =>
                  s.tsUs < us || (s.tsUs == us && s.id < e.id)))
                st = Some(AsOfState(us, e.id))
            }
            st match {
              case Some(s) =>
                state.update(s)
                state.setTimeoutTimestamp(horizonMs(s.tsUs))
              case None => if (state.exists) state.remove()
            }
            out.result().iterator
          }
        })
  }

  /** DQ gates as streaming observed metrics — the incremental twin of
    * [[graft.operators.Quality.audit]]: each gate's violation count (and
    * the batch row count) rides every micro-batch's
    * `StreamingQueryProgress.observedMetrics(name)` for free — computed
    * inline during the batch's one pass, no second scan, no state, no
    * extra stateful operator in the plan. Alerting/fail-fast lives in a
    * `StreamingQueryListener` (or a `foreachBatch` check) reading the
    * metric row; the data flow itself is untouched. */
  def observedGates(stream: DataFrame, name: String,
      gates: Seq[graft.operators.Quality.Gate]): DataFrame = {
    // the SAME aggregate expressions as the batch audit (shared builder:
    // unique gate names enforced, count-of-when empty-input discipline,
    // no collision with the total metric)
    val exprs = graft.operators.Quality.gateCountExprs(gates, "total_rows")
    stream.observe(name, exprs.head, exprs.tail: _*)
  }

  /** Streaming near-dup screening of arriving docs against a corpus LSH
    * index ([[graft.operators.Dedup.minhashIndex]], typically read back
    * from its persisted parquet form): each micro-batch computes per-row
    * MinHash signatures + band keys (native expressions — no
    * aggregation, so the plan is legal and cheap in a stream), probes
    * the static index with an equi-join on (band, band_key), and emits
    * (probe id, corpus id, sig_agree ≥ minAgree) matches. This is the
    * ingest-time "is this crawl page a near-dup of the training corpus"
    * gate; stateless by design — dedup memory lives in the index, not
    * the state store.
    *
    * A pair agreeing in several bands is emitted once per band (a
    * streaming `distinct` would hold unbounded state): downstream sinks
    * keyed on (probe, corpus) absorb the duplicates idempotently, and
    * [[graft.operators.Dedup.minhashProbe]] is the batch oracle —
    * identical rows after dedup, proven in `StreamingIngestSpec`.
    *
    * `n`/`k`/`bands` are validated against the index's build-parameter
    * stamp ([[graft.operators.IndexStamp]]) — a mismatch raises on the
    * first micro-batch that reads an index row, instead of screening
    * every batch against the wrong band-key space.
    *
    * Persist/cache the index side: a stream-static join re-evaluates the
    * static plan every micro-batch, so hand this method a cached or
    * parquet-backed relation, not a freshly-derived one. */
  def nearDupScreenStream(stream: DataFrame, index: DataFrame, idCol: String,
      textCol: String, n: Int = 3, k: Int = 16, bands: Int = 4,
      minAgree: Int = 8): DataFrame = {
    import graft.operators.Dedup
    Dedup.probeJoin(
      Dedup.minhashIndex(stream, idCol, textCol, n, k, bands),
      Dedup.validatedMinhashIndex(index, n, k, bands, "nearDupScreenStream"),
      idCol, k, minAgree)
  }

  /** [[nearDupScreenStream]] with `n`/`k`/`bands` read FROM the static
    * index's build-parameter stamp — legal even though the screen is a
    * streaming plan, because the index side is a batch relation and the
    * one-row stamp read runs before the stream is wired. Nothing to
    * re-supply, nothing to mismatch. `minAgree` stays caller-side (a
    * probe-time threshold, not a build parameter). An EMPTY index is
    * refused: a screen that can never match is a misconfiguration, not
    * a degenerate success. */
  def nearDupScreenStreamAuto(stream: DataFrame, index: DataFrame,
      idCol: String, textCol: String, minAgree: Int = 8): DataFrame =
    graft.operators.IndexStamp.read(index, Seq("ix_n", "ix_k", "ix_bands"),
        "nearDupScreenStreamAuto") match {
      case Some(Seq(n, k, bands)) =>
        nearDupScreenStream(stream, index, idCol, textCol, n, k, bands, minAgree)
      case _ => throw new IllegalArgumentException(
        "nearDupScreenStreamAuto: the index relation is empty — screening " +
          "against nothing would emit nothing forever; build the index first")
    }

  /** Streaming EMBEDDING near-dup screening — the vector twin of
    * [[nearDupScreenStream]]: each micro-batch LSH-buckets arriving
    * vectors per row (the native
    * [[graft.functions.LshBuckets]] — no aggregation, legal and cheap
    * in a stream), probes a static corpus index
    * ([[graft.operators.Similarity.lshIndex]], typically read back from
    * its persisted parquet form) with an equi-join on (tbl, bucket),
    * and emits (probe id, corpus id, exact cos_micro ≥ minMicro)
    * matches. The ingest-time "is this embedding a near-dup of the
    * training corpus" gate; stateless — dedup memory lives in the
    * index, not the state store.
    *
    * A pair sharing buckets in several tables is emitted once per table
    * (a streaming `distinct` would hold unbounded state): sinks keyed
    * on (probe, corpus) absorb duplicates idempotently — or compose
    * with [[dedupedPairSink]] — and
    * [[graft.operators.Similarity.lshIndexProbe]] is the batch oracle:
    * identical rows after dedup, proven in `StreamingIngestSpec`.
    *
    * `planes`/`dims`/`tables` MUST match the values the index was built
    * with — the bucket ids are meaningless across mismatched families —
    * and are validated against the index's build-parameter stamp
    * ([[graft.operators.IndexStamp]]): a mismatch raises on the first
    * micro-batch that reads an index row, instead of screening every
    * batch against the wrong bucket space.
    * Persist/cache the index side: a stream-static join re-evaluates
    * the static plan every micro-batch. */
  def embeddingScreenStream(stream: DataFrame, index: DataFrame,
      idCol: String, vecCol: String, minMicro: Long,
      planes: Int, dims: Int, tables: Int = 6): DataFrame = {
    import graft.operators.Similarity
    Similarity.indexProbeJoin(
      Similarity.lshIndex(stream, idCol, vecCol, planes, dims, tables),
      Similarity.validatedLshIndex(index, planes, dims, tables,
        "embeddingScreenStream"),
      idCol, vecCol, minMicro)
  }

  /** [[embeddingScreenStream]] with `planes`/`dims`/`tables` read FROM
    * the static index's stamp (see [[nearDupScreenStreamAuto]] — same
    * contract, same empty-index refusal). */
  def embeddingScreenStreamAuto(stream: DataFrame, index: DataFrame,
      idCol: String, vecCol: String, minMicro: Long): DataFrame =
    graft.operators.IndexStamp.read(index,
        Seq("ix_planes", "ix_dims", "ix_tables"), "embeddingScreenStreamAuto") match {
      case Some(Seq(planes, dims, tables)) =>
        embeddingScreenStream(stream, index, idCol, vecCol, minMicro,
          planes, dims, tables)
      case _ => throw new IllegalArgumentException(
        "embeddingScreenStreamAuto: the index relation is empty — screening " +
          "against nothing would emit nothing forever; build the index first")
    }

  /** Sink-boundary dedup for [[nearDupScreenStream]] /
    * [[embeddingScreenStream]] (pass `aggCol = "cos_micro"` — every
    * agreeing-table row carries the same exact cosine) or any append
    * stream whose rows are unique up to `keyCols`: the screens emit one
    * row per agreeing band/table — correct and stateless, but a footgun for
    * non-idempotent sinks. This helper dedups each micro-batch on
    * `keyCols` with a BATCH `dropDuplicates` inside `foreachBatch`
    * before appending parquet — the streaming plan stays stateless (the
    * dedup is per-batch, scoped to the batch's own rows, holding no
    * cross-batch state), and since the screen computes a pair's matches
    * from one probe row in one micro-batch, per-batch dedup IS full
    * dedup for it. Duplicate keys keep their max `aggCol` (sig_agree
    * ties across bands anyway — every band row carries the same full-
    * signature rerank; the max makes the pick deterministic regardless).
    *
    * Exactly-once caveat: `foreachBatch` is at-least-once on failure
    * replay (parquet append is not transactional); the checkpoint makes
    * replays whole-batch, so downstream readers dedup replayed batches
    * on the same keys — or point this at a transactional sink. */
  def dedupedPairSink(matches: DataFrame, outDir: String, checkpoint: String,
      keyCols: Seq[String], aggCol: String = "sig_agree"): DataStreamWriter[Row] = {
    import org.apache.spark.sql.expressions.Window
    matches.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        batch
          .withColumn("__rk", row_number().over(
            Window.partitionBy(keyCols.map(col): _*)
              .orderBy(col(aggCol).desc)))
          .filter(col("__rk") === 1).drop("__rk")
          .write.mode("append").parquet(outDir)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
  }

  /** Streaming incremental curation with a SELF-GROWING persisted
    * index — the q70/q72 nightly-ingest loop run as a stream. Each
    * micro-batch: ID-replay screen against the id sidecar →
    * caller-policy quality `gate` → in-batch exact dedup → near-dup
    * screen against the index read fresh from `indexDir` → intra-batch
    * collapse ([[graft.operators.Dedup.minhashIncrementalIngest]]);
    * survivors publish to `outDir` and their index rows to `indexDir`,
    * so the NEXT micro-batch screens against corpus + everything
    * admitted before it. Dedup memory lives entirely in the persisted
    * index — no state store, no TTL, unbounded corpus memory at
    * parquet cost.
    *
    * `indexDir` must hold a non-empty stamped index
    * ([[graft.operators.Dedup.minhashIndex]],
    * `write.partitionBy("band")`) before the stream starts — bootstrap
    * the first corpus with the batch path (q57/q72), the same contract
    * as the ingest operator itself. The exact-content screen of
    * [[graft.operators.TrainingData.curateIncrement]] is intentionally
    * absent: for gate-passing text, identical content implies identical
    * signature, so the index screen subsumes it and the store contract
    * stays index-only.
    *
    * THE ID SIDECAR (`<indexDir>__ids`, bootstrapped from the index on
    * first use): a skinny (id, batch_id) relation the per-batch
    * ID-replay screen anti-joins against, RANGE-PRUNED to the batch's
    * own id span — with batch-clustered ids (the monotone-id shape of
    * real ingest) the screen reads only the sidecar files overlapping
    * the batch, O(batch) instead of the O(index·bands) distinct a scan
    * of the fat index would cost, and it never touches signature
    * arrays at all. Ids must be unique across the stream's lifetime —
    * the standard ingest contract.
    *
    * EXACTLY-ONCE OUTPUT (the committed-batch protocol, proven in
    * `StreamingIngestSpec` by replaying after every write):
    *  1. survivors → `outDir` under deterministic batch-keyed file
    *     names (`b<batchId>-<i>.parquet`, staged then renamed — a
    *     replayed attempt OVERWRITES its own files, never appends
    *     beside them);
    *  2. admitted ids → the sidecar, same naming;
    *  3. index rows → `indexDir`, same naming inside the band
    *     partition directories;
    *  4. a commit marker (`outDir/_graft_commits/b<batchId>`) —
    *     a replay of a marked batch is skipped outright.
    * A crash between ANY two steps replays the whole batch, and the
    * screens are REPLAY-AWARE — rows this batch admitted in a crashed
    * attempt (known from the sidecar's batch_id) are excluded from
    * both the id screen and the probe-side index, so the replay
    * recomputes the identical survivor set and republishes the same
    * files. No crash point duplicates or loses a row in any of the
    * three destinations.
    *
    * MAINTENANCE: with `compactAtFiles > 0`, after a committed batch
    * leaves `indexDir` holding at least that many data files, the loop
    * runs [[graft.operators.IndexOps.compactSwapMinhash]] (rewrite to
    * `<dir>.compact.tmp`, swap, crash-recovered on the next batch via
    * [[graft.operators.IndexOps.recoverSwap]]) and rewrites the
    * sidecar id-sorted — closing the append-grown small-files
    * degradation (measured 2.8–3.9× probe CPU, SCALING.md) from inside
    * the loop, between micro-batches. Each batch also runs inside
    * [[graft.operators.Checkpoints.scoped]], so the eager checkpoint
    * blocks the curate operators pin are released when the batch
    * commits — storage stays flat across an unbounded run.
    *
    * TAKEDOWN: `applyDeletesFrom` (a directory path) is the curate
    * loops' in-loop right-to-be-forgotten — the twin of the export
    * sink's knob, applied strictly AFTER each batch commits: every
    * pending id-list parquet file/dir is applied to BOTH halves of the
    * curated state (the store at `outDir` by a staged marker-preserving
    * rewrite; the index by the layout-preserving
    * [[graft.operators.IndexOps.deleteSwap]] family, centroid rule
    * included for IVF), then consumed into `_applied/`. The sidecar's
    * content-free (id, batch_id) tombstones are deliberately KEPT,
    * which makes this takedown FORWARD-FILTERING: a deleted id
    * re-arriving in a later micro-batch is rejected by the id screen
    * instead of re-admitted — stronger than the export sink's
    * point-in-time contract, and exactly what the sidecar's tombstone
    * design was for. Crash-idempotent at every point (re-application
    * no-ops on both halves; a crash inside either swap heals at the
    * next batch's entry recovery). */
  def curateIngestStream(stream: DataFrame, indexDir: String, outDir: String,
      checkpoint: String, idCol: String, textCol: String,
      gate: DataFrame => DataFrame, minAgree: Int = 8,
      compactAtFiles: Int = 0,
      applyDeletesFrom: String = "",
      gates: BatchGates = BatchGates()): DataStreamWriter[Row] =
    stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        curateTextBatch(batch.toDF(), batchId, indexDir, outDir, idCol,
          textCol, gate, minAgree, compactAtFiles, applyDeletesFrom,
          gates = gates)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())

  // ------------------------------------------------ per-batch ingest gates

  /** Key-balance ingest gate config: refuse/flag a batch whose top key
    * tuple owns more than `maxSharePermille` of its rows
    * ([[graft.operators.Quality.skewReport]] — the AQE-blind-spot
    * detector applied at the door). */
  final case class KeyBalanceGate(keys: Seq[String],
      maxSharePermille: Long, topN: Int = 20)

  /** Distribution-drift ingest gate config: refuse/flag a batch whose
    * `valueCol` distribution moved more than `maxL1Permille` from the
    * fixed REFERENCE snapshot
    * ([[graft.operators.Quality.distributionDrift]]'s L1 statistic). */
  final case class DriftGate(ref: DataFrame, valueCol: String,
      maxL1Permille: Long, nBins: Int = 20)

  /** Per-batch dataset-shift gates for the curate loops — the r14
    * standalone gates wired into the ingest path, so a skewed or
    * drifted batch is surfaced (and optionally refused) AT INGEST
    * rather than discovered downstream. Every configured gate writes
    * its evidence as batch-keyed rows `(batch_id, gate, key, permille,
    * max_permille, violated)` to `<outDir>__gates` BEFORE any curate
    * work — published via the same idempotent [[publishBatch]] naming,
    * so a replay overwrites its own report and the exactly-once
    * protocol is untouched. With `refuse = true` a violating batch
    * throws AFTER publishing (the [[graft.operators.Quality.enforce]]
    * fail-fast discipline; the evidence is on disk first). A refused
    * batch is a POISON batch under Structured Streaming's sequential
    * replay — the stream stops until the operator clears or reroutes
    * the source — which is the point of a hard gate: bad data does
    * not enter the corpus while nobody is looking. */
  final case class BatchGates(keyBalance: Option[KeyBalanceGate] = None,
      drift: Option[DriftGate] = None, refuse: Boolean = false) {
    def isEmpty: Boolean = keyBalance.isEmpty && drift.isEmpty
  }

  /** Evaluate the configured gates on the RAW batch and publish the
    * per-batch gate rows. Bounded driver materialization: topN + 1
    * rows. Runs before any state mutation, so replay safety is
    * unchanged by construction. */
  private def runBatchGates(batch: DataFrame, batchId: Long,
      gates: BatchGates, gateDir: String): Unit = {
    if (gates.isEmpty) return
    import graft.operators.Quality
    val spark = batch.sparkSession
    import spark.implicits._
    val kbRows = gates.keyBalance.toSeq.flatMap { g =>
      Quality.skewReport(batch, g.keys, g.topN).collect().map { r =>
        val key = g.keys.map(k => s"$k=${r.getAs[Any](k)}").mkString(",")
        ("key_balance", key, r.getAs[Long]("share_permille"),
          g.maxSharePermille)
      }
    }
    val driftRows = gates.drift.toSeq.map { g =>
      val l1 = Quality.driftL1Permille(
        Quality.distributionDrift(g.ref, batch, g.valueCol, g.nBins))
      ("drift_l1", g.valueCol, l1, g.maxL1Permille)
    }
    val rows = (kbRows ++ driftRows).map { case (gate, key, v, mx) =>
      (batchId, gate, key, v, mx, v > mx)
    }
    publishBatch(rows.toDF("batch_id", "gate", "key", "permille",
      "max_permille", "violated"), gateDir, batchId, Nil)
    val bad = rows.filter(_._6)
    if (gates.refuse && bad.nonEmpty)
      throw new IllegalStateException(
        s"ingest gate refused batch $batchId: " + bad.map { case (_, g, k, v, mx, _) =>
          s"$g[$k] ${v}permille > ${mx}permille"
        }.mkString("; ") + s" — evidence published to $gateDir")
  }

  /** The gate-report directory of a curate loop's `outDir`. */
  def gateReportDir(outDir: String): String = outDir + "__gates"

  /** The EMBEDDING twin of [[curateIngestStream]] — the same
    * self-growing-index loop over vectors
    * ([[graft.operators.Similarity.lshIncrementalIngest]],
    * `partitionBy("tbl")`), with the same id sidecar, committed-batch
    * protocol, replay-aware screens, compaction trigger
    * ([[graft.operators.IndexOps.compactSwapLsh]]) and scoped
    * checkpoint release. No exact-dedup stage: md5 content hashing
    * is a text-side notion, and identical NONZERO vectors are cos 1.0 —
    * the intra-batch collapse subsumes them. Zero-norm vectors are
    * REJECTED at the door (dropped, not admitted): cosine is undefined
    * there, so they would bypass the probe, the collapse, and index
    * growth entirely and accumulate as unscreenable duplicates. `gate`
    * is further caller policy (dimension screens etc.); default
    * passthrough. The id screen is load-bearing here — the probe join
    * excludes probe_id = corpus_id by design, so unlike the text form
    * a replayed vector would NOT match its own index rows. */
  def curateEmbeddingIngestStream(stream: DataFrame, indexDir: String,
      outDir: String, checkpoint: String, idCol: String, vecCol: String,
      minMicro: Long,
      gate: DataFrame => DataFrame = df => df,
      compactAtFiles: Int = 0,
      applyDeletesFrom: String = "",
      gates: BatchGates = BatchGates()): DataStreamWriter[Row] =
    stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        curateEmbeddingBatch(batch.toDF(), batchId, indexDir, outDir, idCol,
          vecCol, minMicro, gate, compactAtFiles, applyDeletesFrom,
          gates = gates)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())

  /** Streaming distribution-drift monitor — [[graft.operators.Quality
    * .distributionDrift]]'s batch-over-batch form: the REFERENCE
    * snapshot's bounds and per-bin permille shares are computed ONCE at
    * stream construction (bounded: one min/max row + nBins histogram
    * rows), and every micro-batch publishes its own per-bin comparison
    * plus the L1 permille drift statistic to `outDir` as batch-keyed
    * rows `(batch_id, bin, ref_permille, cur_permille, diff_permille,
    * l1_permille)` — the dataset-shift dashboard a training-data intake
    * writes next to its DQ gates. Idempotent under replay (batch-keyed
    * [[publishBatch]] names overwrite their own files); an empty batch
    * publishes the all-bins-zero report (cur_permille 0, L1 = Σ ref
    * shares — an empty batch IS maximal drift, not a silent skip). */
  def driftReportStream(stream: DataFrame, ref: DataFrame, valueCol: String,
      outDir: String, checkpoint: String,
      nBins: Int = 20): DataStreamWriter[Row] = {
    import graft.operators.Quality
    val b = ref.agg(min(col(valueCol).cast("double")),
      max(col(valueCol).cast("double"))).head()
    val (lo, hi) =
      if (b.isNullAt(0)) (0.0, 0.0) else (b.getDouble(0), b.getDouble(1))
    // bounded: ≤ nBins+1 rows, the reference profile the whole stream
    // compares against — pinned at construction BY DESIGN (a drifting
    // reference would hide the drift it exists to measure)
    val refRows = Quality.binnedHistogram(ref, valueCol, nBins, lo, hi)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val refTotal = refRows.values.sum
    val refPm: Map[Int, Long] =
      refRows.map { case (k, n) => k -> (if (refTotal > 0) 1000L * n / refTotal else 0L) }
    stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        driftBatch(batch.toDF(), batchId, valueCol, outDir, nBins, lo, hi, refPm)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
  }

  private[graft] def driftBatch(batch: DataFrame, batchId: Long,
      valueCol: String, outDir: String, nBins: Int, lo: Double, hi: Double,
      refPm: Map[Int, Long]): Unit = {
    import graft.operators.Quality
    val spark = batch.sparkSession
    // bounded driver materialization: ≤ nBins+1 histogram rows
    val cur = Quality.binnedHistogram(batch, valueCol, nBins, lo, hi)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = cur.values.sum
    val curPm: Map[Int, Long] =
      cur.map { case (k, n) => k -> (if (total > 0) 1000L * n / total else 0L) }
    val bins = (refPm.keySet ++ curPm.keySet).toSeq.sorted
    val diffs = bins.map(i =>
      (i, refPm.getOrElse(i, 0L), curPm.getOrElse(i, 0L)))
    val l1 = diffs.map { case (_, r, c) => math.abs(r - c) }.sum
    import spark.implicits._
    publishBatch(
      diffs.map { case (i, r, c) =>
        (batchId, i, r, c, math.abs(r - c), l1) }
        .toDF("batch_id", "bin", "ref_permille", "cur_permille",
          "diff_permille", "l1_permille"),
      outDir, batchId, Nil)
  }

  /** Streaming cross-document BOILERPLATE screen — the corpus-GLOBAL
    * cleanup no per-row gate can express, run as a stream: a persisted
    * line-frequency store at `freqDir` accumulates how many DISTINCT
    * documents have carried each trimmed line, and each micro-batch is
    * published to `outDir` with the lines that are heavy AS OF that
    * batch (stored frequencies + the batch's own delta ≥ `minDocs`)
    * stripped from its text ([[graft.operators.Boilerplate]] semantics:
    * order preserved, blank lines untouched, occurrences counted in the
    * appended `n_stripped`).
    *
    * POINT-IN-TIME by contract, like the export sink's takedown: a line
    * becomes boilerplate only for documents arriving at or after the
    * batch where its count crosses the threshold — documents published
    * earlier are not retroactively rewritten (re-screening history is a
    * batch job over the store: [[graft.operators.Boilerplate
    * .stripBoilerplateLines]] on the published corpus). Counting the
    * batch's own delta makes the single-batch stream EXACTLY the batch
    * operator (the law `BoilerplateStreamSpec` pins).
    *
    * EXACTLY-ONCE: the committed-batch protocol — stripped rows land
    * under batch-keyed names, the frequency DELTA (unit, doc_freq,
    * batch_id) appends under the same names, the marker commits; a
    * replay reads the store EXCLUDING its own batch_id rows (the
    * sidecar's replay-awareness trick), so the recompute strips against
    * the identical heavy set and republishes identical files. The
    * store's append-grown files compact post-commit at
    * `compactFreqAtFiles` (merged sums, mass-checked, staged +
    * [[graft.operators.IndexOps.swapDirs]] with entry recovery). */
  def boilerplateScreenStream(stream: DataFrame, freqDir: String,
      outDir: String, checkpoint: String, idCol: String, textCol: String,
      minDocs: Long, compactFreqAtFiles: Int = 0,
      broadcastHeavy: Boolean = true,
      gates: BatchGates = BatchGates()): DataStreamWriter[Row] =
    stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        boilerplateBatch(batch.toDF(), batchId, freqDir, outDir, idCol,
          textCol, minDocs, compactFreqAtFiles, broadcastHeavy,
          gates = gates)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())

  private[graft] def boilerplateBatch(batch: DataFrame, batchId: Long,
      freqDir: String, outDir: String, idCol: String, textCol: String,
      minDocs: Long, compactFreqAtFiles: Int, broadcastHeavy: Boolean = true,
      failAfterStep: Int = Int.MaxValue,
      gates: BatchGates = BatchGates()): Unit = {
    import graft.operators.{Boilerplate, Checkpoints, IndexOps}
    require(minDocs >= 2,
      s"boilerplateScreenStream: minDocs must be ≥ 2 (got $minDocs)")
    val spark = batch.sparkSession
    IndexOps.recoverSwap(spark, freqDir)
    def failpoint(n: Int): Unit = if (failAfterStep == n)
      throw new IllegalStateException(
        s"boilerplateBatch: test failpoint after step $n")
    if (isCommitted(spark, outDir, batchId)) return
    runBatchGates(batch, batchId, gates, gateReportDir(outDir))
    Checkpoints.scoped(spark) {
      val units = split(col(textCol), "\n", -1)
      val outCols = batch.columns.map(col).toIndexedSeq
      // one materialization: the delta feeds both the heavy set and its
      // own publish (deterministic either way; this keeps it one job)
      val delta = Boilerplate.unitDocFreq(batch, idCol, units)
        .localCheckpoint(true)
      val (fs, fp) = fsPath(spark, freqDir)
      val stored =
        if (hasDataFiles(fs, fp))
          spark.read.parquet(freqDir)
            .filter(col("batch_id") =!= batchId) // replay awareness
            .select("unit", "doc_freq")
        else delta.limit(0)
      val heavy = stored.unionByName(delta)
        .groupBy("unit").agg(sum("doc_freq").as("doc_freq"))
        .filter(col("doc_freq") >= minDocs)
        .select("unit")
      val stripped = Boilerplate.stripUnitsIn(batch, idCol, units, "__kept",
          heavy, broadcastHeavy = broadcastHeavy)
        .withColumn(textCol, array_join(col("__kept"), "\n"))
        .select(outCols :+ col("n_stripped"): _*)
      publishBatch(stripped, outDir, batchId, Nil)
      failpoint(1)
      publishBatch(delta.withColumn("batch_id", lit(batchId)),
        freqDir, batchId, Nil)
      failpoint(2)
      commitBatch(spark, outDir, batchId)
    }
    maintainFreqStore(spark, freqDir, outDir, compactFreqAtFiles)
  }

  /** Post-commit frequency-store compaction: merge the per-batch delta
    * rows into one summed row per unit (batch_id −1 — never excluded by
    * any replay's own-batch filter). "No uncommitted delta can be
    * inside" is NOT assumed from call order alone: a failpoint-2 crash
    * (delta published, no marker) followed by anything other than the
    * crashed batch's own sequential replay would fold the uncommitted
    * delta into −1 rows that escape the replay's own-batch exclusion —
    * double-counting frequencies. So every batch-keyed delta is
    * VERIFIED against its commit marker (distinct batch_ids are
    * O(batches-since-last-compaction), a bounded collect) and
    * compaction is skipped while any is uncommitted; the pending
    * replay folds it correctly instead. Mass-checked before the swap;
    * a crash inside heals at the next batch's entry recovery. */
  private def maintainFreqStore(spark: org.apache.spark.sql.SparkSession,
      freqDir: String, outDir: String, compactAtFiles: Int,
      keyCol: String = "unit"): Unit = {
    import graft.operators.IndexOps
    if (compactAtFiles <= 0) return
    if (IndexOps.dataFileCount(spark, freqDir) < compactAtFiles) return
    val pendingBatches = spark.read.parquet(freqDir)
      .filter(col("batch_id") >= 0L).select("batch_id").distinct()
      .collect().map(_.getLong(0))
      .filterNot(isCommitted(spark, outDir, _))
    if (pendingBatches.nonEmpty) return // its replay will fold it
    val tmp = freqDir + ".compact.tmp"
    val (fs, _) = fsPath(spark, tmp)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    val srcMass = spark.read.parquet(freqDir)
      .agg(coalesce(sum("doc_freq"), lit(0L))).head().getLong(0)
    spark.read.parquet(freqDir)
      .groupBy(keyCol).agg(sum("doc_freq").as("doc_freq"))
      .withColumn("batch_id", lit(-1L))
      .write.mode("overwrite").parquet(tmp)
    val dstMass = spark.read.parquet(tmp)
      .agg(coalesce(sum("doc_freq"), lit(0L))).head().getLong(0)
    require(dstMass == srcMass,
      s"maintainFreqStore: compaction of $freqDir changed the frequency " +
        s"mass ($srcMass -> $dstMass) — not swapping in")
    IndexOps.swapDirs(spark, freqDir, tmp)
  }

  /** The TOKEN-SPAN twin of [[boilerplateScreenStream]] — cross-batch
    * exact-substring dedup as a curate loop: a persisted ANCHOR
    * frequency store (`freqDir`, per-batch deltas `(anchor, doc_freq,
    * batch_id)` — 60-bit k-token window hashes, the
    * [[graft.operators.Boilerplate.anchorRel]] relation) accumulates
    * distinct-document counts across committed batches, and each
    * micro-batch publishes with every ≥ k-token span heavy AS OF that
    * batch (stored + own delta ≥ minDocs) removed via
    * [[graft.operators.Boilerplate.stripSpansIn]] — POINT-IN-TIME by
    * contract, exactly like the unit screen (history is not
    * rewritten; re-screening the published corpus is the batch
    * operator's job). Counting the batch's own delta makes the
    * single-batch stream EXACTLY the batch operator
    * ([[graft.operators.Boilerplate.stripRepeatedSpans]] — the law
    * `BoilerplateStreamSpec` pins for this screen too). Output rows
    * carry the stream schema with `textCol` re-joined from the kept
    * tokens (single spaces — token-stream semantics, the batch
    * operator's contract) plus `n_removed`.
    *
    * Same committed-batch protocol, replay awareness (own-batch
    * exclusion on the store read) and post-commit mass-checked store
    * compaction as the unit screen; the store is 8-byte-keyed, so it
    * is strictly smaller than the line store at equal corpus. */
  def spanScreenStream(stream: DataFrame, freqDir: String,
      outDir: String, checkpoint: String, idCol: String, textCol: String,
      k: Int, minDocs: Long, compactFreqAtFiles: Int = 0,
      broadcastHeavy: Boolean = true,
      gates: BatchGates = BatchGates()): DataStreamWriter[Row] =
    stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        spanScreenBatch(batch.toDF(), batchId, freqDir, outDir, idCol,
          textCol, k, minDocs, compactFreqAtFiles, broadcastHeavy,
          gates = gates)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())

  private[graft] def spanScreenBatch(batch: DataFrame, batchId: Long,
      freqDir: String, outDir: String, idCol: String, textCol: String,
      k: Int, minDocs: Long, compactFreqAtFiles: Int,
      broadcastHeavy: Boolean = true,
      failAfterStep: Int = Int.MaxValue,
      gates: BatchGates = BatchGates()): Unit = {
    import graft.operators.{Boilerplate, Checkpoints, IndexOps}
    require(minDocs >= 2,
      s"spanScreenStream: minDocs must be \u2265 2 (got $minDocs)")
    require(k >= 2, s"spanScreenStream: k must be \u2265 2 (got $k)")
    val spark = batch.sparkSession
    IndexOps.recoverSwap(spark, freqDir)
    def failpoint(n: Int): Unit = if (failAfterStep == n)
      throw new IllegalStateException(
        s"spanScreenBatch: test failpoint after step $n")
    if (isCommitted(spark, outDir, batchId)) return
    runBatchGates(batch, batchId, gates, gateReportDir(outDir))
    Checkpoints.scoped(spark) {
      val outCols = batch.columns.map(col).toIndexedSeq
      val delta = Boilerplate.spanAnchorFreq(batch, idCol, textCol, k)
        .localCheckpoint(true)
      val (fs, fp) = fsPath(spark, freqDir)
      val stored =
        if (hasDataFiles(fs, fp))
          spark.read.parquet(freqDir)
            .filter(col("batch_id") =!= batchId) // replay awareness
            .select("anchor", "doc_freq")
        else delta.limit(0)
      val heavy = stored.unionByName(delta)
        .groupBy("anchor").agg(sum("doc_freq").as("doc_freq"))
        .filter(col("doc_freq") >= minDocs)
        .select("anchor")
      val stripped = Boilerplate.stripSpansIn(batch, idCol, textCol,
          "__kept", heavy, k, broadcastHeavy)
        .withColumn(textCol, array_join(col("__kept"), " "))
        .select(outCols :+ col("n_removed"): _*)
      publishBatch(stripped, outDir, batchId, Nil)
      failpoint(1)
      publishBatch(delta.withColumn("batch_id", lit(batchId)),
        freqDir, batchId, Nil)
      failpoint(2)
      commitBatch(spark, outDir, batchId)
    }
    maintainFreqStore(spark, freqDir, outDir, compactFreqAtFiles,
      keyCol = "anchor")
  }

  /** Streaming INVERTED-INDEX maintenance — the search-index twin of the
    * frequency-store screens: each micro-batch's postings
    * (`(term, <idCol>, tf)` — [[graft.operators.TextSearch.postings]],
    * the same lowercase-alnum tokenization as every search operator)
    * append to a persisted store at `indexDir` under the committed-batch
    * protocol, so the corpus becomes searchable incrementally
    * ([[graft.operators.TextSearch.searchStoreTopK]] reads the store)
    * without ever re-tokenizing history.
    *
    * Contract: document ids are UNIQUE across batches (the standard
    * ingest assumption — re-ingesting an id would double its postings;
    * dedup screens upstream exist for exactly that). Under that
    * contract a replay is pure overwrite (batch-keyed file names), no
    * own-batch store read is needed at all, and post-commit compaction
    * (`compactAtFiles`) is a pure merge: one row per (term, id), tf
    * summed, batch_id −1, token-mass-checked before the staged swap —
    * the [[graft.operators.IndexOps.swapDirs]] + `recoverSwap`
    * discipline, same as every other store in this file.
    *
    * `applyDeletesFrom` (a directory path) is the in-loop TAKEDOWN —
    * the curate loops' contract applied to the retrieval store: id-list
    * parquet files/dirs dropped into the directory are applied strictly
    * AFTER each batch commits ([[deleteSwapRetrieval]]: postings, dl
    * sidecar and totals manifest all fold consistently), then consumed
    * into `_applied/`. Point-in-time by the unique-id ingest contract. */
  def searchIndexIngestStream(stream: DataFrame, indexDir: String,
      checkpoint: String, idCol: String, textCol: String,
      compactAtFiles: Int = 0,
      gates: BatchGates = BatchGates(),
      applyDeletesFrom: String = ""): DataStreamWriter[Row] =
    stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        searchIndexBatch(batch.toDF(), batchId, indexDir, idCol, textCol,
          compactAtFiles, gates = gates, applyDeletesFrom = applyDeletesFrom)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())

  private[graft] def searchIndexBatch(batch: DataFrame, batchId: Long,
      indexDir: String, idCol: String, textCol: String,
      compactAtFiles: Int, failAfterStep: Int = Int.MaxValue,
      gates: BatchGates = BatchGates(),
      applyDeletesFrom: String = ""): Unit = {
    import graft.operators.{Checkpoints, IndexOps, TextSearch}
    val spark = batch.sparkSession
    IndexOps.recoverSwap(spark, indexDir)
    IndexOps.recoverSwap(spark, dlSidecarDir(indexDir))
    def failpoint(n: Int): Unit = if (failAfterStep == n)
      throw new IllegalStateException(
        s"searchIndexBatch: test failpoint after step $n")
    def applyDeletes(): Unit = applyRetrievalDeletes(spark,
      applyDeletesFrom, indexDir, idCol, positional = false, failpoint)
    if (isCommitted(spark, indexDir, batchId)) { applyDeletes(); return }
    ensureTokenizerMarker(spark, indexDir)
    runBatchGates(batch, batchId, gates, gateReportDir(indexDir))
    Checkpoints.scoped(spark) {
      val delta = TextSearch.postings(batch, idCol, textCol)
        .withColumn("batch_id", lit(batchId))
      publishBatch(delta, indexDir, batchId, Nil)
      failpoint(1)
      // BM25 doc-length sidecar delta, derived from the BATCH rather
      // than its postings: a zero-token document has no postings but IS
      // a corpus document, so the sidecar carries the corpus-exact
      // n_docs (its row count) and doc lengths — store search with the
      // sidecar matches [[graft.operators.TextSearch.searchTopKBm25]]'s
      // corpus semantics even over token-free docs. Published before
      // the commit marker, so a crash between the two replays BOTH
      // deltas (batch-keyed file names → pure overwrite).
      val dl = batch.select(col(idCol),
          size(TextSearch.searchTerms(col(textCol))).cast("long").as("__dl"))
        .withColumn("batch_id", lit(batchId))
      publishBatch(dl, dlSidecarDir(indexDir), batchId, Nil)
      publishDlTotals(dl, dlSidecarDir(indexDir), batchId)
      failpoint(2)
      commitBatch(spark, indexDir, batchId)
    }
    maintainPostingsStore(spark, indexDir, idCol, compactAtFiles)
    // post-commit in-loop takedown (the applyCurateDeletes placement:
    // a delete only ever runs against fully-committed generations)
    applyDeletes()
  }

  /** The POSITIONAL twin of [[searchIndexIngestStream]]: per-batch
    * deltas are [[graft.operators.TextSearch.positionalPostings]] rows
    * (`(term, <idCol>, positions, tf)` — the prox file), so ONE
    * persisted store serves the whole search family: the frequency
    * readers ([[graft.operators.TextSearch.searchStoreTopK]] /
    * `searchStoreTopKBm25`) ignore the positions column, and the
    * positional readers (`searchStoreProximity` / `searchStorePhrase`)
    * answer phrase/proximity queries without ever re-tokenizing
    * history. Same committed-batch protocol, unique-id contract,
    * doc-length sidecar and marker-preserving compaction as the
    * frequency loop; compaction additionally checks POSITION mass
    * (Σ|positions| — which the build makes equal to Σtf).
    * `applyDeletesFrom` is the in-loop takedown, exactly as on
    * [[searchIndexIngestStream]] (positions fold with the survivors). */
  def positionalIndexIngestStream(stream: DataFrame, indexDir: String,
      checkpoint: String, idCol: String, textCol: String,
      compactAtFiles: Int = 0,
      gates: BatchGates = BatchGates(),
      applyDeletesFrom: String = ""): DataStreamWriter[Row] =
    stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        positionalIndexBatch(batch.toDF(), batchId, indexDir, idCol, textCol,
          compactAtFiles, gates = gates, applyDeletesFrom = applyDeletesFrom)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())

  private[graft] def positionalIndexBatch(batch: DataFrame, batchId: Long,
      indexDir: String, idCol: String, textCol: String,
      compactAtFiles: Int, failAfterStep: Int = Int.MaxValue,
      gates: BatchGates = BatchGates(),
      applyDeletesFrom: String = ""): Unit = {
    import graft.operators.{Checkpoints, IndexOps, TextSearch}
    val spark = batch.sparkSession
    IndexOps.recoverSwap(spark, indexDir)
    IndexOps.recoverSwap(spark, dlSidecarDir(indexDir))
    def failpoint(n: Int): Unit = if (failAfterStep == n)
      throw new IllegalStateException(
        s"positionalIndexBatch: test failpoint after step $n")
    def applyDeletes(): Unit = applyRetrievalDeletes(spark,
      applyDeletesFrom, indexDir, idCol, positional = true, failpoint)
    if (isCommitted(spark, indexDir, batchId)) { applyDeletes(); return }
    ensureTokenizerMarker(spark, indexDir)
    runBatchGates(batch, batchId, gates, gateReportDir(indexDir))
    Checkpoints.scoped(spark) {
      val delta = TextSearch.positionalPostings(batch, idCol, textCol)
        .withColumn("batch_id", lit(batchId))
      publishBatch(delta, indexDir, batchId, Nil)
      failpoint(1)
      val dl = batch.select(col(idCol),
          size(TextSearch.searchTerms(col(textCol))).cast("long").as("__dl"))
        .withColumn("batch_id", lit(batchId))
      publishBatch(dl, dlSidecarDir(indexDir), batchId, Nil)
      publishDlTotals(dl, dlSidecarDir(indexDir), batchId)
      failpoint(2)
      commitBatch(spark, indexDir, batchId)
    }
    maintainPositionalStore(spark, indexDir, idCol, compactAtFiles)
    applyDeletes()
  }

  /** Post-commit POSITIONAL compaction: one row per (term, id) with tf
    * summed and positions merged sorted (the unique-id contract makes
    * both the identity — the fold is the same defensive shape as the
    * frequency store's), batch_id −1, token AND position mass checked,
    * commit markers carried into the compacted copy before the swap
    * ([[copyCommitMarkers]] — the r16 marker-loss lesson), dl sidecar
    * folded alongside. */
  private def maintainPositionalStore(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, idCol: String, compactAtFiles: Int): Unit = {
    import graft.operators.IndexOps
    if (compactAtFiles <= 0) return
    if (IndexOps.dataFileCount(spark, indexDir) < compactAtFiles) return
    val pending = spark.read.parquet(indexDir)
      .filter(col("batch_id") >= 0L).select("batch_id").distinct()
      .collect().map(_.getLong(0))
      .filterNot(isCommitted(spark, indexDir, _))
    if (pending.nonEmpty) return
    val tmp = indexDir + ".compact.tmp"
    val (fs, _) = fsPath(spark, tmp)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    def masses(dir: String): (Long, Long) = {
      val r = spark.read.parquet(dir).agg(
        coalesce(sum("tf"), lit(0L)),
        coalesce(sum(size(col("positions"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    val src = masses(indexDir)
    spark.read.parquet(indexDir)
      .groupBy("term", idCol)
      .agg(array_sort(flatten(collect_list("positions"))).as("positions"),
        sum("tf").as("tf"))
      .select(col("term"), col(idCol), col("positions"), col("tf"))
      .withColumn("batch_id", lit(-1L))
      .write.mode("overwrite").parquet(tmp)
    val dst = masses(tmp)
    require(dst == src,
      s"maintainPositionalStore: compaction of $indexDir changed the token/" +
        s"position mass ($src -> $dst) — not swapping in")
    copyCommitMarkers(spark, indexDir, tmp)
    copyMarkerDir(spark, indexDir, tmp, "_graft_tokenizer")
    IndexOps.swapDirs(spark, indexDir, tmp)
    compactDlSidecar(spark, indexDir, idCol, "maintainPositionalStore")
  }

  /** Post-commit postings compaction: merge the per-batch delta files to
    * one row per (term, id) with tf summed (batch_id −1). The same
    * uncommitted-delta guard as [[maintainFreqStore]]: a failpoint-1
    * crash leaves a published, unmarked delta, and folding it into −1
    * rows would hide it from nothing today (replays overwrite by file
    * name, not store reads) — but the guard keeps the invariant
    * uniform: only COMMITTED batches ever merge. Token mass (Σ tf) is
    * checked across the swap. */
  private def maintainPostingsStore(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, idCol: String, compactAtFiles: Int): Unit = {
    import graft.operators.IndexOps
    if (compactAtFiles <= 0) return
    if (IndexOps.dataFileCount(spark, indexDir) < compactAtFiles) return
    val pending = spark.read.parquet(indexDir)
      .filter(col("batch_id") >= 0L).select("batch_id").distinct()
      .collect().map(_.getLong(0))
      .filterNot(isCommitted(spark, indexDir, _))
    if (pending.nonEmpty) return // its replay will overwrite it in place
    val tmp = indexDir + ".compact.tmp"
    val (fs, _) = fsPath(spark, tmp)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    val srcMass = spark.read.parquet(indexDir)
      .agg(coalesce(sum("tf"), lit(0L))).head().getLong(0)
    spark.read.parquet(indexDir)
      .groupBy("term", idCol).agg(sum("tf").as("tf"))
      .withColumn("batch_id", lit(-1L))
      .write.mode("overwrite").parquet(tmp)
    val dstMass = spark.read.parquet(tmp)
      .agg(coalesce(sum("tf"), lit(0L))).head().getLong(0)
    require(dstMass == srcMass,
      s"maintainPostingsStore: compaction of $indexDir changed the token " +
        s"mass ($srcMass -> $dstMass) — not swapping in")
    // the COMMIT MARKERS of this store live INSIDE it
    // (`<indexDir>/_graft_commits`), and swapDirs replaces the whole
    // directory — without carrying them into the compacted copy, every
    // marker dies with the swap and a later replay of a committed batch
    // re-publishes its postings INTO the already-merged −1 rows: tf
    // silently doubles (mass-preserving, so the NEXT compaction's mass
    // check cannot catch it either — the dl sidecar's row-count guard is
    // what surfaced this). Markers are empty batch-named files; recreate
    // them in the tmp dir before the swap (crash-safe: tmp is discarded
    // by recoverSwap, the live dir is untouched until the rename).
    copyCommitMarkers(spark, indexDir, tmp)
    copyMarkerDir(spark, indexDir, tmp, "_graft_tokenizer")
    IndexOps.swapDirs(spark, indexDir, tmp)
    compactDlSidecar(spark, indexDir, idCol, "maintainPostingsStore")
  }

  /** Fold a store's doc-length sidecar to batch_id −1 (one row per id —
    * unique-id contract makes sum() the identity merge), row-count AND
    * length-mass checked before the staged swap. Shared by both index
    * loops' compactions. */
  private def compactDlSidecar(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, idCol: String, caller: String): Unit = {
    import graft.operators.IndexOps
    val dlDir = dlSidecarDir(indexDir)
    val (dlFs, dlP) = fsPath(spark, dlDir)
    if (!hasDataFiles(dlFs, dlP)) return
    // the sidecar needs its OWN uncommitted-batch guard: the caller's
    // pending check is postings-derived and cannot see a batch whose
    // documents were all zero-token (dl rows, no postings rows) — a
    // failpoint-2 crash of such a batch would otherwise fold its
    // uncommitted dl rows into −1, its replay would re-publish them,
    // and every doc of the batch would count twice (review finding)
    val pendingDl = spark.read.parquet(dlDir)
      .filter(col("batch_id") >= 0L).select("batch_id").distinct()
      .collect().map(_.getLong(0))
      .filterNot(isCommitted(spark, indexDir, _))
    if (pendingDl.nonEmpty) return
    val dlTmp = dlDir + ".compact.tmp"
    dlFs.delete(new org.apache.hadoop.fs.Path(dlTmp), true)
    val src = spark.read.parquet(dlDir)
      .agg(count(lit(1)), coalesce(sum("__dl"), lit(0L))).head()
    spark.read.parquet(dlDir)
      .groupBy(idCol).agg(sum("__dl").as("__dl"))
      .withColumn("batch_id", lit(-1L))
      .write.mode("overwrite").parquet(dlTmp)
    val dst = spark.read.parquet(dlTmp)
      .agg(count(lit(1)), coalesce(sum("__dl"), lit(0L))).head()
    require(dst.getLong(0) == src.getLong(0) && dst.getLong(1) == src.getLong(1),
      s"$caller: doc-length compaction of $dlDir changed the row count " +
        s"or length mass ((${src.getLong(0)}, ${src.getLong(1)}) -> " +
        s"(${dst.getLong(0)}, ${dst.getLong(1)})) — not swapping in")
    // the totals manifest folds to ONE "compacted" entry carried into
    // the swapped copy (the copyCommitMarkers discipline: the manifest
    // lives INSIDE the dir being swapped) — its values are the already-
    // computed mass-check scalars, so the fold costs zero extra jobs
    writeDlTotals(spark, dlTmp, "compacted", src.getLong(0), src.getLong(1))
    IndexOps.swapDirs(spark, dlDir, dlTmp)
  }

  /** The TOTALS MANIFEST of a doc-length sidecar: one tiny text file
    * per data GENERATION under `<dlDir>/_totals` — `b<id>` beside a
    * batch delta, `compacted` beside the folded −1 generation —
    * holding `"<n_docs> <sum_dl>"`. Written with the generation's data
    * files (a replay is the same deterministic overwrite), folded at
    * compaction from the mass-check scalars. Store readers take
    * (n_docs, Σdl) from [[searchIndexTotals]] — a driver-side listing
    * plus O(generations) tiny reads, ZERO Spark jobs per query — where
    * they previously ran a count/sum job over the sidecar relation
    * per search. */
  private def dlTotalsPath(dlDir: String, gen: String) =
    new org.apache.hadoop.fs.Path(dlDir + "/_totals", gen)

  private def publishDlTotals(dl: DataFrame, dlDir: String,
      batchId: Long): Unit = {
    // aggregate the JUST-PUBLISHED b<id>-* delta files, not the dl
    // plan: the plan re-tokenizes the whole batch (size(searchTerms))
    // a third time per ingest just to produce two scalars; the
    // published sidecar delta is a skinny document-count-sized parquet
    // read (review finding — keeps the manifest's per-batch cost near
    // zero as documented)
    val spark = dl.sparkSession
    val (fs, p) = fsPath(spark, dlDir)
    val files = fs.listStatus(p)
      .filter(st => !st.isDirectory && st.getPath.getName.startsWith(s"b$batchId-"))
      .map(_.getPath.toString)
    val t =
      if (files.isEmpty) null // a zero-row delta writes no data files
      else spark.read.parquet(files.toIndexedSeq: _*)
        .agg(count(lit(1)), coalesce(sum("__dl"), lit(0L))).head()
    writeDlTotals(spark, dlDir, s"b$batchId",
      if (t == null) 0L else t.getLong(0), if (t == null) 0L else t.getLong(1))
  }

  private def writeDlTotals(spark: org.apache.spark.sql.SparkSession,
      dlDir: String, gen: String, nDocs: Long, sumDl: Long): Unit = {
    val (fs, _) = fsPath(spark, dlDir)
    val p = dlTotalsPath(dlDir, gen)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    try out.write(s"$nDocs $sumDl".getBytes("UTF-8")) finally out.close()
  }

  private def readDlTotals(spark: org.apache.spark.sql.SparkSession,
      dlDir: String, gen: String): Option[(Long, Long)] = {
    val (fs, _) = fsPath(spark, dlDir)
    val p = dlTotalsPath(dlDir, gen)
    if (!fs.exists(p)) return None
    val len = fs.getFileStatus(p).getLen.toInt
    if (len <= 0 || len > 64) return None
    val buf = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    new String(buf, "UTF-8").trim.split("\\s+") match {
      case Array(n, s) =>
        try Some((n.toLong, s.toLong))
        catch { case _: NumberFormatException => None }
      case _ => None
    }
  }

  /** `(n_docs, Σdl)` of a persisted search index from the totals
    * manifest — O(generations) driver-side file reads, NO Spark job.
    * None when the sidecar is missing or incomplete vs the store
    * (same batch-listing guard as [[searchIndexDocLengths]]) or any
    * generation predates the manifest — readers then fall back to the
    * counting derivation (correct, one sidecar-sized job). */
  def searchIndexTotals(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Option[(Long, Long)] = {
    val dlDir = dlSidecarDir(indexDir)
    val (fs, p) = fsPath(spark, dlDir)
    if (!hasDataFiles(fs, p)) return None
    val dlBatches = batchIdsFromListing(spark, dlDir)
    if (!batchIdsFromListing(spark, indexDir).subsetOf(dlBatches)) return None
    val reads = dlBatches.toSeq
      .map(id => readDlTotals(spark, dlDir, if (id < 0L) "compacted" else s"b$id"))
    if (reads.exists(_.isEmpty)) None
    else Some((reads.flatten.map(_._1).sum, reads.flatten.map(_._2).sum))
  }

  /** The BM25 doc-length sidecar of a search-index store: a skinny
    * `(<idCol>, __dl, batch_id)` parquet relation beside the postings
    * ([[dlSidecarDir]] = `<indexDir>__dl`), one row per INGESTED
    * document with its token count — including zero-token documents,
    * which never enter the postings store, so the sidecar's row count
    * is the corpus-exact `n_docs` and store search scores match the
    * direct corpus operators over any corpus. Written per batch by
    * [[searchIndexIngestStream]], folded to batch_id −1 at compaction. */
  private[graft] def dlSidecarDir(indexDir: String): String = indexDir + "__dl"

  /** Read a search-index store's doc-length sidecar as the
    * `(<idCol>, __dl)` relation
    * [[graft.operators.TextSearch.searchStoreTopKBm25]]'s `docLengths`
    * wants; None when the store predates the sidecar (then the reader
    * falls back to the full-store derivation). */
  def searchIndexDocLengths(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, idCol: String): Option[DataFrame] = {
    val (fs, p) = fsPath(spark, dlSidecarDir(indexDir))
    if (!hasDataFiles(fs, p)) return None
    // completeness guard: a sidecar that POSTDATES the store (batches
    // ingested before the sidecar existed, or a partially lost __dl
    // dir) would silently DROP those documents from the BM25 ranking —
    // BM25's dl join is inner — and undercount n_docs. The sidecar is
    // only trusted when it covers every batch the store holds. Batch
    // ids come from the protocol's batch-keyed FILE NAMES (b<id>-*;
    // compacted part-* files are the −1 generation), so the guard is a
    // driver-side listing — never a store-wide column scan per query.
    // An incomplete sidecar falls back to the full-store derivation
    // (correct, just unsided).
    val storeBatches = batchIdsFromListing(spark, indexDir)
    val dlBatches = batchIdsFromListing(spark, dlSidecarDir(indexDir))
    if (!storeBatches.subsetOf(dlBatches)) None
    else Some(spark.read.parquet(dlSidecarDir(indexDir))
      .select(col(idCol), col("__dl")))
  }

  /** The batch generations a store directory holds, derived from the
    * publish protocol's deterministic file names: `b<id>-*` data files
    * are that batch's generation, anything else (Spark-written
    * `part-*` from a compaction rewrite) is the folded −1 generation.
    * Driver-side listing, O(files). */
  private def batchIdsFromListing(spark: org.apache.spark.sql.SparkSession,
      dir: String): Set[Long] = {
    val (fs, p) = fsPath(spark, dir)
    if (!fs.exists(p)) return Set.empty
    val Named = "^b(\\d+)-.*".r
    fs.listStatus(p)
      .filter(st => !st.isDirectory &&
        !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(_.getPath.getName match {
        case Named(id) => id.toLong
        case _ => -1L
      })
      .toSet
  }

  /** Store-BM25 search over a persisted index DIRECTORY — the default
    * scale-correct read path: postings from `indexDir`, doc lengths
    * from the sidecar (document-count-sized, never the postings store)
    * and `n_docs`/`avgdl` from the TOTALS MANIFEST
    * ([[searchIndexTotals]] — driver-side, no count job per query), so
    * no full-store aggregation node appears in the plan. Fallback
    * ladder, each step documented-correct just costlier: a
    * pre-manifest sidecar derives totals with one sidecar-sized agg; a
    * pre-sidecar store derives doc lengths from the FULL store — a
    * store-wide scan per query, refused when
    * `allowFullScanFallback = false` (set it false in any serving
    * path: at 100 TB that fallback is a query-time full-index scan). */
  def searchIndexTopKBm25(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, idCol: String, terms: Seq[String], k: Int,
      k1Permille: Long = 1200L, bPermille: Long = 750L,
      minShouldMatch: Option[Int] = None,
      allowFullScanFallback: Boolean = true): DataFrame = {
    val dls = searchIndexDocLengths(spark, indexDir, idCol)
    require(allowFullScanFallback || dls.nonEmpty,
      s"searchIndexTopKBm25: $indexDir has no (complete) doc-length " +
        "sidecar — doc lengths would derive from a FULL-STORE scan per " +
        "query. Re-ingest through searchIndexIngestStream (which " +
        "maintains the sidecar), or pass allowFullScanFallback = true " +
        "to accept the scan explicitly.")
    graft.operators.TextSearch.searchStoreTopKBm25(
      spark.read.parquet(indexDir), idCol, terms, k,
      docLengths = dls,
      totals = searchIndexTotals(spark, indexDir),
      k1Permille = k1Permille, bPermille = bPermille,
      minShouldMatch = minShouldMatch)
  }

  /** Store rarity-scored search over a persisted index DIRECTORY:
    * `n_docs` comes from the totals manifest (corpus-exact — counts
    * zero-token documents the postings store cannot see; no Spark job),
    * then a pre-manifest sidecar's row count (one skinny count job),
    * then the store-distinct derivation — the last is a full-store
    * aggregate per query, refused when `allowFullScanFallback` is
    * false. */
  def searchIndexTopK(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, idCol: String, terms: Seq[String], k: Int,
      minShouldMatch: Option[Int] = None,
      allowFullScanFallback: Boolean = true): DataFrame = {
    val n = searchIndexTotals(spark, indexDir).map(_._1)
      .orElse(searchIndexDocLengths(spark, indexDir, idCol).map(_.count()))
    require(allowFullScanFallback || n.nonEmpty,
      s"searchIndexTopK: $indexDir has no (complete) doc-length " +
        "sidecar — n_docs would derive from a full-store distinct per " +
        "query; pass allowFullScanFallback = true to accept that scan.")
    graft.operators.TextSearch.searchStoreTopK(
      spark.read.parquet(indexDir), idCol, terms, k,
      nDocs = n, minShouldMatch = minShouldMatch)
  }

  // ------------------------------------------- retrieval-store takedown

  /** Takedown for a persisted POSTINGS store — the retrieval half of
    * the right-to-be-forgotten path, closing the one derivative class
    * that had none (ANN indexes have [[graft.operators.IndexOps
    * .deleteSwap]], exports have `deleteIdsFromExport`): every postings
    * row of the listed ids, their doc-length sidecar rows, AND their
    * totals-manifest contribution (n_docs, Σdl) all go together, so a
    * post-takedown store is byte-for-byte the store a fresh ingest of
    * the surviving corpus would build (modulo batch layout) — BM25
    * scores SHIFT with the new n_docs/avgdl, the strong form of the
    * contract (law-tested in SearchStreamSpec; oracle q168).
    *
    * Construction: the staged, dst-counted, marker-preserving rewrite
    * of the compaction path — survivors fold to one row per (term, id)
    * at batch_id −1, token mass is checked against the survivor mass
    * BEFORE the swap, `_graft_commits` and `_graft_tokenizer` are
    * carried into the staging (a swap that dropped them would make
    * every committed batch replay its write path / lose the contract
    * version), then the dl sidecar is rewritten minus the ids with its
    * totals manifest folded to ONE `compacted` entry holding the new
    * (n_docs, Σdl). Necessarily a full store rewrite — id is not the
    * partition key — but a postings store is a token-count derivative
    * of its corpus, not the corpus. Ids absent everywhere are a no-op;
    * each half is independently idempotent, so a crash between the two
    * swaps is healed by re-applying the same list (the in-loop path
    * does exactly that); in the crash window the store refuses nothing
    * and scores conservatively (deleted docs have no postings, so they
    * can never be RETURNED — only the normalization scalars are stale
    * until the dl half lands). A takedown that would empty the store
    * is refused like [[graft.operators.IndexOps.deleteSwap]]'s same
    * rule; a store holding published-but-uncommitted generations is
    * refused (folding an uncommitted delta to −1 would double it on
    * replay — restart the crashed stream first). Point-in-time by the
    * ingest contract (ids are unique across batches, so a deleted id
    * re-arriving is already a contract violation; the curate loops'
    * id screens are the forward filter). Returns the surviving
    * postings row count. */
  def deleteSwapSearchIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, idCol: String, ids: DataFrame): Long =
    deleteSwapRetrieval(spark, indexDir, idCol, ids,
      positional = false, _ => ())

  /** [[deleteSwapSearchIndex]] for a POSITIONAL store
    * ([[positionalIndexIngestStream]]'s layout): identical protocol,
    * with the survivors' positions merged sorted through the fold and
    * POSITION mass checked alongside token mass. */
  def deleteSwapPositionalIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, idCol: String, ids: DataFrame): Long =
    deleteSwapRetrieval(spark, indexDir, idCol, ids,
      positional = true, _ => ())

  private def deleteSwapRetrieval(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, idCol: String, ids: DataFrame, positional: Boolean,
      failpoint: Int => Unit): Long = {
    import graft.operators.IndexOps
    val op = if (positional) "deleteSwapPositionalIndex" else "deleteSwapSearchIndex"
    val dlDir = dlSidecarDir(indexDir)
    IndexOps.recoverSwap(spark, indexDir)
    IndexOps.recoverSwap(spark, dlDir)
    val drop = ids.select(col(idCol)).distinct()
    val (fs, ixP) = fsPath(spark, indexDir)
    // folding an uncommitted published delta into batch_id −1 would
    // hide it from nothing — but its REPLAY would re-publish it beside
    // the folded copy and silently double tf (the compaction paths'
    // same guard). Batch ids come from the protocol's file names —
    // driver-side listing, never a store column scan.
    def requireNoPending(dir: String): Unit = {
      val pending = batchIdsFromListing(spark, dir)
        .filter(_ >= 0L).filterNot(isCommitted(spark, indexDir, _))
      require(pending.isEmpty,
        s"$op: $dir holds published but UNCOMMITTED batch generations " +
          s"${pending.toSeq.sorted.mkString("[", ", ", "]")} — replay the " +
          "crashed ingest (restart its stream) before a takedown; the " +
          "rewrite folds generations to batch_id -1 and folding an " +
          "uncommitted delta would double it on replay")
    }
    // hit tests run on BOTH halves up front: a zero-token document
    // lives ONLY in the dl sidecar, and a dl-only takedown must still
    // fold the POSTINGS store to the same −1 generation — otherwise
    // the readers' batch-listing subset guards (store generations ⊆
    // sidecar generations) would permanently distrust a complete,
    // correct sidecar (review finding). Either hit folds both.
    val (dlFs, dlP) = fsPath(spark, dlDir)
    val pHit = hasDataFiles(fs, ixP) &&
      !spark.read.parquet(indexDir).join(drop, Seq(idCol), "left_semi").isEmpty
    val dlHit = hasDataFiles(dlFs, dlP) &&
      !spark.read.parquet(dlDir).join(drop, Seq(idCol), "left_semi").isEmpty
    val anyHit = pHit || dlHit
    // ---- postings half
    var survivors = 0L
    if (hasDataFiles(fs, ixP)) {
      val src = spark.read.parquet(indexDir)
      if (anyHit) {
        requireNoPending(indexDir)
        val kept = src.join(drop, Seq(idCol), "left_anti")
        val exp =
          if (positional) kept.agg(count(lit(1)), coalesce(sum("tf"), lit(0L)),
            coalesce(sum(size(col("positions"))), lit(0L))).head()
          else kept.agg(count(lit(1)), coalesce(sum("tf"), lit(0L))).head()
        require(exp.getLong(1) > 0L,
          s"$op: the takedown would remove EVERY row of $indexDir — " +
            "delete the index directory (and rebuild when there is " +
            "content) instead of swapping in an empty relation no " +
            "search can read")
        val folded =
          if (positional)
            kept.groupBy(col("term"), col(idCol))
              .agg(array_sort(flatten(collect_list("positions"))).as("positions"),
                sum("tf").as("tf"))
              .select(col("term"), col(idCol), col("positions"), col("tf"))
              .withColumn("batch_id", lit(-1L))
          else
            kept.groupBy(col("term"), col(idCol)).agg(sum("tf").as("tf"))
              .withColumn("batch_id", lit(-1L))
        val tmp = indexDir + ".compact.tmp"
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
        folded.write.mode("overwrite").parquet(tmp)
        val dst =
          if (positional) spark.read.parquet(tmp)
            .agg(count(lit(1)), coalesce(sum("tf"), lit(0L)),
              coalesce(sum(size(col("positions"))), lit(0L))).head()
          else spark.read.parquet(tmp)
            .agg(count(lit(1)), coalesce(sum("tf"), lit(0L))).head()
        require(dst.getLong(1) == exp.getLong(1) &&
            (!positional || dst.getLong(2) == exp.getLong(2)),
          s"$op: rewrite of $indexDir changed the survivor token/position " +
            s"mass — not swapping in")
        copyCommitMarkers(spark, indexDir, tmp)
        copyMarkerDir(spark, indexDir, tmp, "_graft_tokenizer")
        IndexOps.swapDirs(spark, indexDir, tmp)
        survivors = dst.getLong(0)
      } else survivors = src.count()
    }
    failpoint(11)
    // ---- doc-length sidecar half (folds whenever either half hit,
    // keeping both stores on the same generation — see above)
    if (hasDataFiles(dlFs, dlP)) {
      val dl = spark.read.parquet(dlDir)
      if (anyHit) {
        requireNoPending(dlDir)
        val kept = dl.join(drop, Seq(idCol), "left_anti")
          .groupBy(col(idCol)).agg(sum("__dl").as("__dl"))
          .withColumn("batch_id", lit(-1L))
        val exp = kept.agg(count(lit(1)),
          coalesce(sum("__dl"), lit(0L))).head()
        require(exp.getLong(0) > 0L,
          s"$op: the takedown would empty the doc-length sidecar at " +
            s"$dlDir — delete the store directories instead")
        val tmp = dlDir + ".compact.tmp"
        dlFs.delete(new org.apache.hadoop.fs.Path(tmp), true)
        kept.write.mode("overwrite").parquet(tmp)
        val dst = spark.read.parquet(tmp)
          .agg(count(lit(1)), coalesce(sum("__dl"), lit(0L))).head()
        require(dst.getLong(0) == exp.getLong(0) &&
            dst.getLong(1) == exp.getLong(1),
          s"$op: sidecar rewrite of $dlDir lost rows or length mass — " +
            "not swapping in")
        // the totals manifest folds WITH the sidecar: one `compacted`
        // entry carrying the post-takedown (n_docs, Σdl) — this is what
        // makes BM25's n_docs/avgdl shift to the surviving corpus's
        // (the strong form of the takedown contract)
        writeDlTotals(spark, tmp, "compacted", dst.getLong(0), dst.getLong(1))
        IndexOps.swapDirs(spark, dlDir, tmp)
      }
    }
    failpoint(12)
    survivors
  }

  /** In-loop takedown for the two index loops — the retrieval twin of
    * [[applyCurateDeletes]]: pending id-list parquet files/dirs
    * (carrying `idCol`) dropped into `pendDir` are applied strictly
    * AFTER a batch commits via [[deleteSwapRetrieval]] (both halves +
    * totals fold), then consumed into `_applied/`. A crash anywhere
    * re-applies the same lists next batch — both halves are
    * idempotent, and a crash inside either swap is healed by the next
    * batch's entry recovery. */
  private def applyRetrievalDeletes(spark: org.apache.spark.sql.SparkSession,
      pendDir: String, indexDir: String, idCol: String, positional: Boolean,
      failpoint: Int => Unit): Unit = {
    if (pendDir.isEmpty) return
    val pend = new org.apache.hadoop.fs.Path(pendDir)
    val fs = pend.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(pend)) return
    val lists = fs.listStatus(pend)
      .filter(st => !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(_.getPath)
    if (lists.isEmpty) return
    val ids = spark.read.parquet(lists.map(_.toString).toIndexedSeq: _*)
      .select(idCol).distinct()
    deleteSwapRetrieval(spark, indexDir, idCol, ids, positional, failpoint)
    failpoint(13)
    consumeAppliedLists(fs, pend, lists.toIndexedSeq, "applyRetrievalDeletes")
  }

  /** Consume applied delete lists into `<pendDir>/_applied/`, choosing
    * a UNIQUE destination name when a previous application already
    * parked one under the same name — `fs.rename` refuses an existing
    * destination on HDFS-like stores, and the old inline rename wedged
    * the whole ingest loop forever the first time an operator reused a
    * list filename (monthly `ids.parquet` drops; review finding).
    * Shared by the curate loops, the export sink and the index loops. */
  private def consumeAppliedLists(fs: org.apache.hadoop.fs.FileSystem,
      pend: org.apache.hadoop.fs.Path,
      lists: Seq[org.apache.hadoop.fs.Path], caller: String): Unit = {
    val applied = new org.apache.hadoop.fs.Path(pend, "_applied")
    fs.mkdirs(applied)
    lists.foreach { p =>
      var dst = new org.apache.hadoop.fs.Path(applied, p.getName)
      var k = 1
      while (fs.exists(dst)) {
        dst = new org.apache.hadoop.fs.Path(applied, s"${p.getName}-$k")
        k += 1
      }
      require(fs.rename(p, dst),
        s"$caller: consuming applied delete list $p failed")
    }
  }

  // ----------------------------------------------- curate batch internals

  /** The id sidecar of a persisted index directory: a skinny
    * (id, batch_id) parquet relation recording every id the index
    * holds and which micro-batch admitted it (−1 = bootstrapped from
    * the index itself). Lives beside the index so the two are moved /
    * retired together. */
  private[graft] def idSidecarDir(indexDir: String): String = indexDir + "__ids"

  private def fsPath(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** Whether `dir` holds any DATA file — any regular file not living
    * under a hidden (`_`/`.` prefixed) path component. A curated store
    * whose batches all gated to zero rows holds only the
    * `_graft_commits` markers (whose files are named `b<id>`, so a
    * recursive file listing alone would miscount them as data): the
    * per-COMPONENT check is what distinguishes the two. Driver-side
    * listing, bounded by the store's entry count. */
  private def hasDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Boolean = {
    if (!fs.exists(dir)) return false
    fs.listStatus(dir)
      .filter(st => !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .exists(st => !st.isDirectory || hasDataFiles(fs, st.getPath))
  }

  /** Bootstrap the sidecar from the index's own ids if it does not
    * exist yet — one O(index) distinct, paid ONCE per index lifetime
    * (the per-batch screens then read the sidecar only). Written to a
    * tmp dir and renamed in, so a crashed bootstrap redoes cleanly.
    * Do not delete the sidecar while a crashed batch may replay: a
    * re-bootstrap after that batch's index rows were published would
    * stamp them batch_id −1 and the replay would wrongly self-screen. */
  private def ensureSidecar(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, idCol: String): Unit = {
    val dir = idSidecarDir(indexDir)
    val (fs, p) = fsPath(spark, dir)
    if (fs.exists(p)) return
    val tmp = new org.apache.hadoop.fs.Path(dir + ".bootstrap.tmp")
    fs.delete(tmp, true)
    spark.read.parquet(indexDir).select(col(idCol)).distinct()
      .withColumn("batch_id", lit(-1L))
      .sort(idCol)
      .write.mode("overwrite").parquet(tmp.toString)
    require(fs.rename(tmp, p), s"ensureSidecar: rename $tmp -> $p failed")
  }

  /** The O(batch) ID-replay screen: drop batch rows whose id a PRIOR
    * batch already admitted. The sidecar scan is pre-filtered to the
    * batch's own [min, max] id span, so parquet row-group pruning on
    * the id-sorted sidecar files skips everything a batch-clustered id
    * space doesn't touch; rows from THIS batch's own crashed attempt
    * are excluded so a replay cannot self-screen. */
  private def idScreen(batch: DataFrame, sidecar: DataFrame, idCol: String,
      batchId: Long): DataFrame = {
    val rng = batch.agg(min(col(idCol)).as("mn"), max(col(idCol)).as("mx")).head()
    if (rng.isNullAt(0)) batch
    else batch.join(
      sidecar.filter(col("batch_id") =!= batchId)
        .filter(col(idCol).between(lit(rng.get(0)), lit(rng.get(1))))
        .select(col(idCol)),
      Seq(idCol), "left_anti")
  }

  /** Publish `df` into `dstDir` under deterministic batch-keyed file
    * names: stage a normal parquet write inside the destination
    * (hidden `.staging-b<id>` dir), delete any `b<id>-*` files a
    * previous attempt left, rename the staged files in as
    * `b<id>-<i>.parquet` (preserving partition subdirectories), drop
    * the staging dir. Re-running the same batch converges on the same
    * file set instead of appending a second copy — the idempotence the
    * curate loops' whole-batch replays rely on. Readers are never
    * broken mid-publish: they see the old files, a mix, or the new
    * files — all row-identical under the loops' deterministic
    * recompute. */
  // ------------------------------------------------ streaming sketch rollup

  /** Streaming SKETCH-ROLLUP store: per batch, one `(group, hll, cms,
    * n_rows, batch_id)` row per group — an HLL distinct sketch and a
    * Count-Min frequency sketch of the batch's hash column
    * ([[graft.operators.Sketch]]) — appended under the committed-batch
    * protocol. Because both sketches are MERGEABLE (register max /
    * counter sum — exact unions), the persisted rows ARE the rollup:
    * [[sketchRollupTotals]] answers per-group distinct estimates and
    * frequency probes over the whole ingested history by folding the
    * store's tiny rows, never re-reading raw data — the streaming form
    * of the q176/q177 batch rollups, and the metrics-store shape a
    * 100 TB pipeline keeps per (day, source): the raw stream is
    * touched once, at ingest.
    *
    * Store size is O(batches × groups × sketch width), independent of
    * row volume; no compaction loop is needed because merge-at-read IS
    * the compaction (a fold over arrays, not a corpus operation).
    * Rows with a null group are dropped (no group to credit); null
    * hashes count toward `n_rows` but not the sketches (the sketch
    * aggregates' own null contract).
    *
    * Sketch parameters ride a `_graft_sketch_params` marker — the
    * tokenizer-marker discipline: appending batches built with a
    * different p/depth/width would mix widths in one store and fail at
    * MERGE time (far from the misconfiguration); the ingest side
    * refuses loudly instead, naming both parameter sets. */
  def sketchRollupStream(stream: DataFrame, storeDir: String,
      checkpoint: String, groupCol: String, hashCol: String,
      hllP: Int, cmsDepth: Int, cmsWidth: Int): DataStreamWriter[Row] =
    stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        sketchRollupBatch(batch.toDF(), batchId, storeDir, groupCol, hashCol,
          hllP, cmsDepth, cmsWidth)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())

  private[graft] def sketchRollupBatch(batch: DataFrame, batchId: Long,
      storeDir: String, groupCol: String, hashCol: String,
      hllP: Int, cmsDepth: Int, cmsWidth: Int,
      failAfterStep: Int = Int.MaxValue): Unit = {
    import graft.operators.Sketch
    val spark = batch.sparkSession
    def failpoint(n: Int): Unit = if (failAfterStep == n)
      throw new IllegalStateException(
        s"sketchRollupBatch: test failpoint after step $n")
    if (isCommitted(spark, storeDir, batchId)) return
    ensureSketchParamsMarker(spark, storeDir, hllP, cmsDepth, cmsWidth)
    val delta = batch
      .filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(Sketch.hllSketch(col(hashCol), hllP).as("hll"),
        Sketch.cmsSketch(col(hashCol), cmsDepth, cmsWidth).as("cms"),
        count(lit(1)).as("n_rows"))
      .withColumn("batch_id", lit(batchId))
    publishBatch(delta, storeDir, batchId, Nil)
    failpoint(1)
    commitBatch(spark, storeDir, batchId)
  }

  /** Fold a sketch-rollup store to one row per group: HLL-merged
    * distinct sketch, CMS-merged frequency sketch, summed row count —
    * COMMITTED batches only (a crash between publish and commit leaves
    * data files without a marker; unlike the postings store, a partial
    * batch here would silently under-sketch its groups, so the reader
    * filters to the marker set — the replayed batch re-publishes
    * by-name and commits, after which the fold converges). Loud on a
    * missing/empty store: there is no schema to serve. */
  def sketchRollupTotals(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, groupCol: String): DataFrame = {
    import graft.operators.Sketch
    val (fs, p) = fsPath(spark, storeDir)
    require(hasDataFiles(fs, p),
      s"sketchRollupTotals: no sketch store at $storeDir")
    val committed = committedBatchIds(spark, storeDir)
    require(committed.nonEmpty,
      s"sketchRollupTotals: no committed batches at $storeDir")
    spark.read.parquet(storeDir)
      .filter(col("batch_id").isin(committed.toSeq.map(Long.box): _*))
      .groupBy(groupCol)
      .agg(Sketch.hllMerge(col("hll")).as("hll"),
        Sketch.cmsMerge(col("cms")).as("cms"),
        sum("n_rows").as("n_rows"))
  }

  private def committedBatchIds(spark: org.apache.spark.sql.SparkSession,
      outDir: String): Set[Long] = {
    val (fs, _) = fsPath(spark, outDir)
    val m = new org.apache.hadoop.fs.Path(outDir + "/_graft_commits")
    if (!fs.exists(m)) return Set.empty
    fs.listStatus(m).map(_.getPath.getName)
      .collect { case n if n.startsWith("b") => n.drop(1).toLong }
      .toSet
  }

  private def ensureSketchParamsMarker(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, hllP: Int, cmsDepth: Int, cmsWidth: Int): Unit = {
    val name = s"hll$hllP-cms${cmsDepth}x$cmsWidth"
    val (fs, p) = fsPath(spark, storeDir)
    val mDir = new org.apache.hadoop.fs.Path(storeDir + "/_graft_sketch_params")
    if (fs.exists(mDir)) {
      val vs = fs.listStatus(mDir).map(_.getPath.getName).toSet
      require(vs == Set(name),
        s"sketch store at $storeDir was built with parameters " +
          s"[${vs.mkString(", ")}], this ingest runs $name — appending " +
          "would mix sketch widths in one store (the merge would fail " +
          "far from this misconfiguration). Rebuild the store or match " +
          "the parameters.")
    } else if (hasDataFiles(fs, p)) {
      throw new IllegalStateException(
        s"sketch store at $storeDir holds data but no parameter marker " +
          "— not a store this loop wrote. Refusing to append.")
    } else {
      fs.mkdirs(mDir)
      fs.create(new org.apache.hadoop.fs.Path(mDir, name), true).close()
    }
  }

  private[graft] def publishBatch(df: DataFrame, dstDir: String, batchId: Long,
      partitionCols: Seq[String]): Unit = {
    val spark = df.sparkSession
    val (fs, dst) = fsPath(spark, dstDir)
    val staging = new org.apache.hadoop.fs.Path(dstDir + s"/.staging-b$batchId")
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(staging.toString)
    def files(root: org.apache.hadoop.fs.Path)(
        keep: String => Boolean): Seq[org.apache.hadoop.fs.Path] = {
      val out = Seq.newBuilder[org.apache.hadoop.fs.Path]
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val f = it.next().getPath
        if (keep(f.getName)) out += f
      }
      out.result()
    }
    files(dst)(_.startsWith(s"b$batchId-")).foreach(fs.delete(_, false))
    val staged = files(staging)(n => !n.startsWith("_") && !n.startsWith("."))
      .sortBy(_.toString)
    // compare FULLY-QUALIFIED strings: listFiles returns scheme-qualified
    // paths (file:/...), so stripping the raw caller-supplied prefix
    // would silently miss and re-root the rename inside the staging dir
    val stagingQ = fs.makeQualified(staging).toString
    staged.zipWithIndex.foreach { case (src, i) =>
      require(src.toString.startsWith(stagingQ + "/"),
        s"publishBatch: staged file $src outside $stagingQ")
      val rel = src.toString.stripPrefix(stagingQ).stripPrefix("/")
      val cut = rel.lastIndexOf('/')
      val targetDir =
        if (cut < 0) dst
        else new org.apache.hadoop.fs.Path(dst, rel.substring(0, cut))
      fs.mkdirs(targetDir)
      val target = new org.apache.hadoop.fs.Path(targetDir, s"b$batchId-$i.parquet")
      require(fs.rename(src, target), s"publishBatch: rename $src -> $target failed")
    }
    fs.delete(staging, true)
  }

  /** Recreate `srcDir`'s commit markers inside `dstDir` — for
    * compactions whose markers live INSIDE the directory being swapped
    * (the search-index store; the curate/frequency stores keep markers
    * in a separate outDir and never need this). Markers are empty
    * files, so "copy" is create-by-name. */
  private def copyCommitMarkers(spark: org.apache.spark.sql.SparkSession,
      srcDir: String, dstDir: String): Unit =
    copyMarkerDir(spark, srcDir, dstDir, "_graft_commits")

  /** Recreate a marker subdirectory (empty name-keyed files) inside a
    * compaction tmp dir — `_graft_commits` and `_graft_tokenizer` both
    * live INSIDE the directory swapDirs replaces, so both must be
    * carried or they die with the swap (the r16 marker-loss lesson,
    * now shared by the tokenizer-version marker). */
  private def copyMarkerDir(spark: org.apache.spark.sql.SparkSession,
      srcDir: String, dstDir: String, name: String): Unit = {
    val (fs, _) = fsPath(spark, srcDir)
    val src = new org.apache.hadoop.fs.Path(srcDir + "/" + name)
    if (!fs.exists(src)) return
    val dst = new org.apache.hadoop.fs.Path(dstDir + "/" + name)
    fs.mkdirs(dst)
    fs.listStatus(src).foreach { st =>
      fs.create(new org.apache.hadoop.fs.Path(dst, st.getPath.getName),
        true).close()
    }
  }

  /** The search-TOKENIZATION contract version a persisted index was
    * built with, recorded as an empty version-named file under
    * `<indexDir>/_graft_tokenizer`. r17 changed the contract (ASCII
    * `[a-z0-9]+` → Unicode runs + CJK bigrams): appending new-tokenizer
    * batches to an old-tokenizer store would MIX two token streams —
    * positions shift, df/dl mix two length definitions, old-spelling
    * terms stop matching — all silently wrong at read time, where
    * nothing can detect it (a postings store has no text to re-check).
    * So the ingest side refuses loudly instead: a store with data but
    * no marker is legacy (pre-r17) and must be rebuilt; a marker that
    * names a different version is a contract mismatch. */
  private[graft] val TokenizerVersion = "v2-unicode-cjk-bigram"

  private def ensureTokenizerMarker(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Unit = {
    val (fs, p) = fsPath(spark, indexDir)
    val mDir = new org.apache.hadoop.fs.Path(indexDir + "/_graft_tokenizer")
    if (fs.exists(mDir)) {
      val vs = fs.listStatus(mDir).map(_.getPath.getName).toSet
      require(vs == Set(TokenizerVersion),
        s"index store at $indexDir was built with search-tokenizer " +
          s"version [${vs.mkString(", ")}], this engine runs " +
          s"$TokenizerVersion — appending would mix incompatible token " +
          "streams (positions, df and doc lengths all silently wrong). " +
          "Rebuild the index by re-ingesting the corpus.")
    } else if (hasDataFiles(fs, p)) {
      throw new IllegalStateException(
        s"index store at $indexDir holds data but no tokenizer-version " +
          s"marker: it predates $TokenizerVersion (legacy ASCII " +
          "tokenization). Appending with the current Unicode/CJK " +
          "tokenizer would mix two token streams in one store — " +
          "positions, df and doc lengths would be silently wrong at " +
          "query time, where nothing can detect it. Rebuild the index " +
          "by re-ingesting the corpus.")
    } else {
      fs.mkdirs(mDir)
      fs.create(new org.apache.hadoop.fs.Path(mDir, TokenizerVersion),
        true).close()
    }
  }

  private def markerPath(outDir: String, batchId: Long) =
    new org.apache.hadoop.fs.Path(outDir + "/_graft_commits", s"b$batchId")

  private def isCommitted(spark: org.apache.spark.sql.SparkSession,
      outDir: String, batchId: Long): Boolean = {
    val (fs, _) = fsPath(spark, outDir)
    fs.exists(markerPath(outDir, batchId))
  }

  private def commitBatch(spark: org.apache.spark.sql.SparkSession,
      outDir: String, batchId: Long): Unit = {
    val (fs, _) = fsPath(spark, outDir)
    val m = markerPath(outDir, batchId)
    fs.mkdirs(m.getParent)
    fs.create(m, true).close()
  }

  /** Post-commit index maintenance: when the append-grown index holds
    * at least `compactAtFiles` data files, compact-and-swap it
    * (`compact` — the layout-specific
    * [[graft.operators.IndexOps.compactSwap]] form) and rewrite the
    * sidecar id-sorted. Runs strictly AFTER the batch's commit marker,
    * so a crash anywhere inside is recovered by
    * [[graft.operators.IndexOps.recoverSwap]] at the next batch with
    * no data at risk. */
  private def maintainIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, compactAtFiles: Int, compact: String => Unit): Unit = {
    import graft.operators.IndexOps
    if (compactAtFiles <= 0) return
    if (IndexOps.dataFileCount(spark, indexDir) < compactAtFiles) return
    compact(indexDir)
    compactSidecar(spark, indexDir)
  }

  /** Rewrite the sidecar as few id-sorted files (range-partitioned on
    * the id, dst-counted like compactTo) and swap — keeps the id
    * screen's row-group pruning sharp as batches accumulate. */
  private def compactSidecar(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, targetRowsPerFile: Long = 64L * 1000 * 1000): Unit = {
    import graft.operators.IndexOps
    val dir = idSidecarDir(indexDir)
    val (fs, p) = fsPath(spark, dir)
    if (!fs.exists(p)) return
    val tmp = dir + ".compact.tmp"
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    val sc = spark.read.parquet(dir)
    val id = sc.columns.filter(_ != "batch_id").head
    val rows = sc.count()
    val nFiles = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    sc.repartitionByRange(nFiles, col(id)).sortWithinPartitions(col(id))
      .write.mode("overwrite").parquet(tmp)
    require(spark.read.parquet(tmp).count() == rows,
      s"compactSidecar: rewrite of $dir lost rows — not swapping in")
    IndexOps.swapDirs(spark, dir, tmp)
  }

  /** Post-commit in-loop takedown shared by the three curate loops —
    * the FORWARD-FILTERING counterpart of the export sink's
    * `applyDeletesFrom`: pending id lists are applied to BOTH halves of
    * the curated state (the curated store at `outDir`, the index at
    * `indexDir` via the layout-preserving
    * [[graft.operators.IndexOps.deleteSwap]] family), while the
    * sidecar's (id, batch_id) rows are deliberately KEPT — they carry
    * no content, and they are exactly what upgrades this takedown from
    * point-in-time to forward-filtering: a deleted id RE-ARRIVING in a
    * later micro-batch is rejected by the id screen instead of
    * re-admitted (the export sink has no id screen, so its takedown is
    * point-in-time by contract).
    *
    * Store half: staged rewrite minus the listed ids, swapped in place
    * with the `_graft_commits` markers COPIED into the staging first —
    * swapping them away would make every committed batch replay its
    * write path. Skipped when no listed id is present (the
    * re-application path after a crash between halves). A takedown
    * that would empty the whole store is refused, like [[graft
    * .operators.IndexOps.deleteSwap]]'s same rule for the index.
    * Index half: no-op when the ids are already gone. Lists are
    * consumed into `_applied/` only after BOTH halves; every
    * re-application is idempotent, and a crash inside either half's
    * swap is healed by the next batch's entry recovery. */
  private def applyCurateDeletes(spark: org.apache.spark.sql.SparkSession,
      pendDir: String, outDir: String, idCol: String,
      indexDelete: DataFrame => Long, failpoint: Int => Unit): Unit = {
    import graft.operators.IndexOps
    if (pendDir.isEmpty) return
    val pend = new org.apache.hadoop.fs.Path(pendDir)
    val fs = pend.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(pend)) return
    // a list is any non-hidden entry: a bare parquet file, or the
    // directory `df.write.parquet` produces
    val lists = fs.listStatus(pend)
      .filter(st => !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(_.getPath)
    if (lists.isEmpty) return
    val ids = spark.read.parquet(lists.map(_.toString): _*)
      .select(idCol).distinct()
    // a curated store whose batches all gated to zero rows holds only
    // _graft_commits markers and no data files — reading it would throw
    // "unable to infer schema"; an empty store IS the no-op path (the
    // index half and the list consumption below still run, so a pending
    // list against a not-yet-populated store is consumed cleanly)
    val storeHasData = hasDataFiles(fs, new org.apache.hadoop.fs.Path(outDir))
    if (storeHasData &&
        !spark.read.parquet(outDir).join(ids, Seq(idCol), "left_semi").isEmpty) {
      val out = spark.read.parquet(outDir)
      val survivors = out.join(ids, Seq(idCol), "left_anti")
      require(!survivors.isEmpty,
        s"applyCurateDeletes: the takedown would empty the curated store " +
          s"at $outDir — delete the directory (and restart when there is " +
          "content) instead of swapping in an unreadable empty one")
      val tmp = outDir + ".delete.tmp"
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      survivors.write.parquet(tmp)
      copyCommitMarkers(spark, outDir, tmp)
      IndexOps.swapDirs(spark, outDir, tmp)
    }
    failpoint(5)
    indexDelete(ids)
    failpoint(6)
    consumeAppliedLists(fs, pend, lists.toIndexedSeq, "applyCurateDeletes")
  }

  /** One micro-batch of [[curateIngestStream]] — exposed for the spec's
    * crash-window replays. `failAfterStep` (1 = after the outDir
    * publish, 2 = after the sidecar publish, 3 = after the index
    * publish) is a test seam simulating a crash between the protocol's
    * writes; production passes no value and never throws from it. */
  /** Stream a curated corpus STRAIGHT INTO a sharded export
    * ([[graft.operators.Export]]): each micro-batch's rows land in
    * their hash-stable shard directories as batch-keyed files and the
    * manifest advances by the O(nShards) merge — the streaming form of
    * [[graft.operators.Export.appendShards]], so a training run can
    * consume (and `verifyShards`) a continuously-growing export without
    * any batch rewrite.
    *
    * `dir` must hold a published export before the stream starts
    * (bootstrap with `shardedWrite`, an empty frame is fine) — the same
    * bootstrap contract as the curate loops' index dirs; the shard
    * count is inherited from the manifest. Ids must be unique across
    * the stream's lifetime (compose a curate loop upstream if the feed
    * can replay content).
    *
    * EXACTLY-ONCE under whole-batch replay, by composition of two
    * idempotent steps plus the commit marker:
    *  1. data files are batch-keyed staged-then-renamed
    *     ([[publishBatch]]) — a replay OVERWRITES its own files;
    *  2. the manifest merge records its batch id IN the new manifest
    *     generation (`_batch` sidecar), so a replay that crashed after
    *     the merge SKIPS it instead of double-counting — and a replay
    *     that crashed before it recomputes the identical delta from
    *     the replayed batch;
    *  3. a commit marker (`dir/_graft_commits/b<id>`) makes post-commit
    *     replays no-ops.
    * `ExportStreamSpec` proves batch equivalence and replays the batch
    * after every write of the protocol.
    *
    * MAINTENANCE, mirroring the curate loops' in-loop upkeep:
    *  - `compactAtFiles > 0`: after a committed batch, when the export
    *    is FRAGMENTED by at least that many files — data file count ≥
    *    `ceil(manifestRows / targetRowsPerFile) + compactAtFiles`, i.e.
    *    that many files ABOVE what compaction itself would leave — it
    *    is compacted in place with the manifest-invisible
    *    [[graft.operators.Export.compactExport]] (pre-swap verified,
    *    crash recovered at the next batch's entry). One file per shard
    *    per batch stays bounded without stopping the stream, and a
    *    grown export does NOT trip into a full-corpus rewrite per
    *    batch just because its compacted steady state already exceeds
    *    an absolute threshold. Files straddling a shard boundary (at
    *    most nShards−1) count against the slack — pick
    *    `compactAtFiles` ≥ nShards;
    *  - `verifyEvery > 0`: every that-many committed batches, the
    *    manifest attestation ([[graft.operators.Export.verifyShards]])
    *    replays the per-shard checksums against the written bytes, so
    *    corruption surfaces on a schedule instead of when an operator
    *    remembers to check. At 100 TB that attestation is itself a
    *    corpus scan — `verifyShardsPerCheck > 0` makes each check a
    *    ROTATING subset instead ([[graft.operators.Export
    *    .verifyShardSubset]]): check number c (derived from the batch
    *    id, so a replayed batch re-checks the same subset) attests
    *    shards `(c·k + i) mod nShards`, i < k — every shard is attested
    *    once per `nShards/k` checks and no single check scans more than
    *    k shards' bytes;
    *  - `applyDeletesFrom` (a directory path): the in-loop TAKEDOWN —
    *    the sanctioned way to run [[graft.operators.Export
    *    .deleteIdsFromExport]] against a live stream's export without
    *    stopping the stream (the batch delete's quiesce rule exists
    *    because a delete RACING an append can interleave with the
    *    per-shard swaps; inside the loop the delete runs strictly
    *    BETWEEN committed batches, so nothing races). The operator
    *    drops id-list parquet files/dirs (carrying `idCol`) into the
    *    directory; after each batch COMMITS, every pending list is
    *    applied and then moved to an `_applied/` subdir. Post-commit
    *    placement is load-bearing: applied at entry, a crashed
    *    UNCOMMITTED batch's replay would overwrite its own batch-keyed
    *    files and re-admit a just-deleted id against a manifest that
    *    says deleted. Crash anywhere: re-application is IDEMPOTENT
    *    (absent ids are ignored; an applied-but-not-consumed list
    *    re-applies as a metadata-only no-op), and a crash inside the
    *    delete's own swap is healed by the next batch's entry
    *    recovery. A takedown is point-in-time — a listed id
    *    re-arriving in a LATER batch is re-admitted (forward screening
    *    is the source's or the curate loops' id-screen job). */
  def shardedExportStream(stream: DataFrame, dir: String, checkpoint: String,
      idCol: String, checksumCols: Seq[String],
      compactAtFiles: Int = 0, verifyEvery: Int = 0,
      targetRowsPerFile: Long = 4L * 1000 * 1000,
      verifyShardsPerCheck: Int = 0,
      applyDeletesFrom: String = ""): DataStreamWriter[Row] =
    stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        exportShardBatch(batch.toDF(), batchId, dir, idCol, checksumCols,
          compactAtFiles, verifyEvery, targetRowsPerFile, verifyShardsPerCheck,
          applyDeletesFrom)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())

  private[graft] def exportShardBatch(batch: DataFrame, batchId: Long,
      dir: String, idCol: String, checksumCols: Seq[String],
      compactAtFiles: Int = 0, verifyEvery: Int = 0,
      targetRowsPerFile: Long = 4L * 1000 * 1000,
      verifyShardsPerCheck: Int = 0,
      applyDeletesFrom: String = "",
      failAfterStep: Int = Int.MaxValue): Unit = {
    import graft.operators.{Export, IndexOps}
    val spark = batch.sparkSession
    def failpoint(n: Int): Unit = if (failAfterStep == n)
      throw new IllegalStateException(s"exportShardBatch: test failpoint after step $n")
    // a crash mid-swap (manifest advance, the in-loop compactExport
    // below, or an in-loop takedown's per-shard swap) leaves a live dir
    // renamed away; finish/roll back BEFORE anything reads —
    // UNCONDITIONALLY, like curateTextBatch: the post-commit
    // maintenance runs on replays of committed batches too, so a crash
    // inside ITS swap must be healed on a replay whose isCommitted
    // check would skip the write path entirely. recoverDelete also
    // rolls back a crashed takedown's parked shards BEFORE this batch
    // can append into a displaced shard directory (a recreated live
    // dir would make a later rollback read the half-done swap as
    // complete and wipe the parked original)
    Export.recoverDelete(spark, dir)
    // hash placement is recomputed per batch — refuse an export stamped
    // `assigned` (balancedShards layout) before the first byte lands
    Export.requireHashPlacement(spark, dir, "shardedExportStream")
    if (!isCommitted(spark, dir, batchId)) {
      val old = Export.manifestRows(spark, dir)
      val nShards = old.size
      require(nShards > 0, s"exportShardBatch: no manifest at $dir")
      val assignedBase = Export.shardAssign(batch, idCol, nShards)
      Export.requireSchemaMatch(spark, dir, assignedBase.schema,
        "shardedExportStream")
      val assigned = Export.writeLayout(assignedBase, nShards,
        Export.writeTasks(assignedBase, nShards))
      publishBatch(assigned, Export.dataDir(dir), batchId, Seq("shard"))
      failpoint(1)
      // manifest advance — skipped on a replay whose merge already landed
      if (!Export.manifestBatch(spark, dir).contains(batchId)) {
        val merged = Export.mergeStats(old,
          Export.shardStats(Export.shardAssign(batch, idCol, nShards),
            checksumCols, nShards))
        Export.publishManifest(spark, dir, Export.manifestFrame(spark, merged),
          Some(batchId))
      }
      failpoint(2)
      commitBatch(spark, dir, batchId)
    }
    // in-loop takedown, strictly AFTER the commit marker: applied here,
    // a delete can only ever run against fully-committed generations —
    // an entry-side application would open a re-admission window (a
    // batch that crashed uncommitted replays by overwriting its own
    // batch-keyed files, restoring a just-deleted id's bytes while the
    // manifest says deleted). Post-commit, a replayed batch skips its
    // write path and simply re-applies the pending lists (idempotent —
    // absent ids are ignored); a crash inside the delete's own swap is
    // healed by the next batch's entry recoverDelete. A list naming an
    // id in THIS batch is honored (the batch landed first); a listed id
    // RE-ARRIVING in a later micro-batch is re-admitted — a takedown is
    // point-in-time, not a forward filter (forward screening is the
    // source's or the curate loops' id-screen job).
    if (applyDeletesFrom.nonEmpty) {
      val pend = new org.apache.hadoop.fs.Path(applyDeletesFrom)
      val fs = pend.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(pend)) {
        // a list is any non-hidden entry: a bare parquet file, or the
        // directory `df.write.parquet` produces
        val lists = fs.listStatus(pend)
          .filter(st => !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith("."))
          .map(_.getPath)
        if (lists.nonEmpty) {
          val ids = spark.read.parquet(lists.map(_.toString): _*).select(idCol)
          Export.deleteIdsFromExport(spark, dir, ids, idCol, checksumCols)
          failpoint(4)
          // consume only AFTER the delete completed: a crash in the
          // window re-applies the same lists next batch — idempotent
          consumeAppliedLists(fs, pend, lists.toIndexedSeq, "exportShardBatch")
          failpoint(5)
        }
      }
    }
    // maintenance runs strictly AFTER the commit marker (a replayed
    // committed batch still runs it): a crash anywhere inside is
    // recovered by the next batch's entry recoverSwap with no data at
    // risk — compactExport is pre-swap verified and manifest-invisible.
    // The trigger measures FRAGMENTATION, not an absolute file count:
    // compaction's own steady-state output is ceil(rows/targetRowsPerFile)
    // files (plus up to nShards-1 shard-boundary straddles), so once the
    // export outgrows an absolute threshold every committed batch would
    // rewrite the whole corpus — compact only when the count exceeds
    // the post-compaction target by at least compactAtFiles EXTRA files.
    if (compactAtFiles > 0) {
      val files = IndexOps.dataFileCount(spark, Export.dataDir(dir))
      // O(nShards) manifest read, no data scan — the trigger must stay
      // cheap enough to evaluate after every committed batch
      val man = Export.manifestRows(spark, dir)
      val rows = man.map(_.nRows).sum
      // compaction cannot produce fewer than one file per NONEMPTY
      // shard (the rewrite partitions by shard directory), so the
      // post-compaction floor is max(nonempty shards, ceil(rows/target))
      // — with the bare ceil, a many-shard small export (64 shards,
      // rows under one target file) measures "fragmented" forever and
      // rewrites the whole corpus after every committed batch
      val compacted = math.max(man.count(_.nRows > 0).toLong,
        math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile))
      if (files >= compacted + compactAtFiles) {
        Export.compactExport(spark, dir, checksumCols, targetRowsPerFile)
        failpoint(3)
      }
    }
    if (verifyEvery > 0 && (batchId + 1) % verifyEvery == 0) {
      if (verifyShardsPerCheck > 0) {
        // rotating subset attestation: the check number is derived from
        // the batch id alone, so a replayed batch re-checks its own
        // subset (deterministic, no extra state to checkpoint) and
        // consecutive checks walk the shard ring — full coverage every
        // ceil(nShards / k) checks at O(k shards) per check
        val nShards = Export.manifestRows(spark, dir).size
        val k = math.min(verifyShardsPerCheck, nShards)
        val check = (batchId + 1) / verifyEvery - 1
        val start = ((check * k) % nShards).toInt
        Export.verifyShardSubset(spark, dir, checksumCols,
          (0 until k).map(i => (start + i) % nShards))
      } else Export.verifyShards(spark, dir, checksumCols)
    }
  }

  private[graft] def curateTextBatch(batch: DataFrame, batchId: Long,
      indexDir: String, outDir: String, idCol: String, textCol: String,
      gate: DataFrame => DataFrame, minAgree: Int, compactAtFiles: Int,
      applyDeletesFrom: String = "",
      failAfterStep: Int = Int.MaxValue,
      gates: BatchGates = BatchGates()): Unit = {
    import graft.operators.{Checkpoints, Dedup, IndexOps}
    val spark = batch.sparkSession
    IndexOps.recoverSwap(spark, indexDir)
    IndexOps.recoverSwap(spark, idSidecarDir(indexDir))
    IndexOps.recoverSwap(spark, outDir)
    def failpoint(n: Int): Unit = if (failAfterStep == n)
      throw new IllegalStateException(s"curateTextBatch: test failpoint after step $n")
    def applyDeletes(): Unit =
      applyCurateDeletes(spark, applyDeletesFrom, outDir, idCol,
        ids => IndexOps.deleteSwapMinhash(spark, indexDir, idCol, ids), failpoint)
    if (isCommitted(spark, outDir, batchId)) { applyDeletes(); return }
    runBatchGates(batch, batchId, gates, gateReportDir(outDir))
    ensureSidecar(spark, indexDir, idCol)
    Checkpoints.scoped(spark) {
      val outCols = batch.columns.map(col).toIndexedSeq
      val index = spark.read.parquet(indexDir)
      val sidecar = spark.read.parquet(idSidecarDir(indexDir))
      // replay awareness: ids THIS batch admitted in a crashed attempt
      // leave both screens, so the recompute equals the first attempt
      val own = sidecar.filter(col("batch_id") === batchId).select(col(idCol))
      val screenIndex = index.join(own, Seq(idCol), "left_anti")
      val fresh = idScreen(batch, sidecar, idCol, batchId)
      // one boundary, the q57/q72 trade: the gated batch feeds both
      // the probe and the post-screen survivor base
      val gated = Dedup.exactDedup(gate(fresh), idCol, textCol)
        .filter(!col("is_dup"))
        .localCheckpoint(true)
      val (survivors, _) =
        Dedup.minhashIncrementalIngest(screenIndex, gated, idCol, textCol, minAgree)
      // materialize once: all three publishes consume it
      val admitted = survivors.localCheckpoint(true)
      publishBatch(admitted.select(outCols: _*), outDir, batchId, Nil)
      failpoint(1)
      publishBatch(admitted.select(col(idCol))
        .withColumn("batch_id", lit(batchId)).sort(idCol),
        idSidecarDir(indexDir), batchId, Nil)
      failpoint(2)
      publishBatch(Dedup.minhashIndexExtend(screenIndex, admitted, idCol, textCol),
        indexDir, batchId, Seq("band"))
      failpoint(3)
      commitBatch(spark, outDir, batchId)
    }
    maintainIndex(spark, indexDir, compactAtFiles,
      graft.operators.IndexOps.compactSwapMinhash(spark, _))
    // post-commit in-loop takedown (forward-filtering: the sidecar
    // tombstones screen a re-arriving deleted id out)
    applyDeletes()
  }

  /** One micro-batch of [[curateEmbeddingIngestStream]] — same
    * protocol, same test seam, vector screens. */
  private[graft] def curateEmbeddingBatch(batch: DataFrame, batchId: Long,
      indexDir: String, outDir: String, idCol: String, vecCol: String,
      minMicro: Long, gate: DataFrame => DataFrame, compactAtFiles: Int,
      applyDeletesFrom: String = "",
      failAfterStep: Int = Int.MaxValue,
      gates: BatchGates = BatchGates()): Unit = {
    import graft.operators.{Checkpoints, IndexOps, Similarity}
    val spark = batch.sparkSession
    IndexOps.recoverSwap(spark, indexDir)
    IndexOps.recoverSwap(spark, idSidecarDir(indexDir))
    IndexOps.recoverSwap(spark, outDir)
    def failpoint(n: Int): Unit = if (failAfterStep == n)
      throw new IllegalStateException(s"curateEmbeddingBatch: test failpoint after step $n")
    def applyDeletes(): Unit =
      applyCurateDeletes(spark, applyDeletesFrom, outDir, idCol,
        ids => IndexOps.deleteSwapLsh(spark, indexDir, idCol, ids), failpoint)
    if (isCommitted(spark, outDir, batchId)) { applyDeletes(); return }
    runBatchGates(batch, batchId, gates, gateReportDir(outDir))
    ensureSidecar(spark, indexDir, idCol)
    Checkpoints.scoped(spark) {
      val outCols = batch.columns.map(col).toIndexedSeq
      val index = spark.read.parquet(indexDir)
      val sidecar = spark.read.parquet(idSidecarDir(indexDir))
      val own = sidecar.filter(col("batch_id") === batchId).select(col(idCol))
      val screenIndex = index.join(own, Seq(idCol), "left_anti")
      val fresh = idScreen(
        gate(batch).filter(Similarity.norm(col(vecCol)) > 0),
        sidecar, idCol, batchId).localCheckpoint(true)
      val (survivors, _) =
        Similarity.lshIncrementalIngest(screenIndex, fresh, idCol, vecCol, minMicro)
      val admitted = survivors.localCheckpoint(true)
      publishBatch(admitted.select(outCols: _*), outDir, batchId, Nil)
      failpoint(1)
      publishBatch(admitted.select(col(idCol))
        .withColumn("batch_id", lit(batchId)).sort(idCol),
        idSidecarDir(indexDir), batchId, Nil)
      failpoint(2)
      publishBatch(Similarity.lshIndexExtend(screenIndex, admitted, idCol, vecCol),
        indexDir, batchId, Seq("tbl"))
      failpoint(3)
      commitBatch(spark, outDir, batchId)
    }
    maintainIndex(spark, indexDir, compactAtFiles,
      graft.operators.IndexOps.compactSwapLsh(spark, _))
    applyDeletes()
  }

  /** One micro-batch of [[curateIvfIngestStream]] — same protocol,
    * same test seam, the IVF screen. The replay-aware anti-join on the
    * crashed attempt's own ids composes with the probe's cell
    * partition-pruning (the `cell isin` filter pushes below the join
    * to the parquet scan); the centroid reconstruction (`is_cent`
    * rows) is untouched by it — batch rows are never centroids. */
  private[graft] def curateIvfBatch(batch: DataFrame, batchId: Long,
      indexDir: String, outDir: String, idCol: String, vecCol: String,
      minMicro: Long, nProbe: Int, gate: DataFrame => DataFrame,
      compactAtFiles: Int, reclusterAtSkew: Double = 0.0,
      applyDeletesFrom: String = "",
      failAfterStep: Int = Int.MaxValue,
      gates: BatchGates = BatchGates()): Unit = {
    import graft.operators.{Checkpoints, IndexOps, Similarity}
    val spark = batch.sparkSession
    IndexOps.recoverSwap(spark, indexDir)
    IndexOps.recoverSwap(spark, idSidecarDir(indexDir))
    IndexOps.recoverSwap(spark, outDir)
    def failpoint(n: Int): Unit = if (failAfterStep == n)
      throw new IllegalStateException(s"curateIvfBatch: test failpoint after step $n")
    def applyDeletes(): Unit =
      applyCurateDeletes(spark, applyDeletesFrom, outDir, idCol,
        ids => IndexOps.deleteSwapIvf(spark, indexDir, idCol, vecCol, ids),
        failpoint)
    if (isCommitted(spark, outDir, batchId)) { applyDeletes(); return }
    runBatchGates(batch, batchId, gates, gateReportDir(outDir))
    ensureSidecar(spark, indexDir, idCol)
    Checkpoints.scoped(spark) {
      val outCols = batch.columns.map(col).toIndexedSeq
      val index = spark.read.parquet(indexDir)
      val sidecar = spark.read.parquet(idSidecarDir(indexDir))
      val own = sidecar.filter(col("batch_id") === batchId).select(col(idCol))
      val screenIndex = index.join(own, Seq(idCol), "left_anti")
      val fresh = idScreen(
        gate(batch).filter(Similarity.norm(col(vecCol)) > 0),
        sidecar, idCol, batchId).localCheckpoint(true)
      val (survivors, _) = Similarity.ivfIncrementalIngest(
        screenIndex, fresh, idCol, vecCol, minMicro, nProbe)
      val admitted = survivors.localCheckpoint(true)
      publishBatch(admitted.select(outCols: _*), outDir, batchId, Nil)
      failpoint(1)
      publishBatch(admitted.select(col(idCol))
        .withColumn("batch_id", lit(batchId)).sort(idCol),
        idSidecarDir(indexDir), batchId, Nil)
      failpoint(2)
      publishBatch(Similarity.ivfIndexExtend(screenIndex, admitted, idCol, vecCol),
        indexDir, batchId, Seq("cell"))
      failpoint(3)
      commitBatch(spark, outDir, batchId)
    }
    maintainIndex(spark, indexDir, compactAtFiles,
      IndexOps.compactSwapIvf(spark, _, idCol))
    // In-loop re-clustering, closing the drift loop the detector/repair
    // pair left open: ivfIndexExtend keeps the bootstrap centroids
    // frozen (extension must not move existing rows), so a long-running
    // ingest accumulates cell skew that the probe-side maxCellRows cap
    // can only BOUND (at recall cost), not fix. When the fattest cell
    // exceeds `reclusterAtSkew` × the mean cell, re-cluster in place
    // with the proven [[graft.operators.IndexOps.reclusterSwapIvf]]
    // (fresh centroids from the CURRENT member set, staged + dst-counted
    // + atomically swapped). Runs strictly AFTER the commit marker like
    // the compaction — a crash inside its swap is healed by the next
    // batch's entry recoverSwap; probes are equivalent before/after up
    // to cell assignment (the member set is unchanged). The trigger is
    // one cell-count aggregation of the index — the same cost class as
    // the compaction's file count, cheap enough per committed batch.
    if (reclusterAtSkew > 0) {
      require(reclusterAtSkew >= 1.0,
        s"reclusterAtSkew is a max/mean cell-size ratio — must be >= 1, got $reclusterAtSkew")
      val sizes = spark.read.parquet(indexDir)
        .groupBy("cell").agg(count(lit(1)).as("n"))
        .agg(max("n").as("mx"), sum("n").as("tot"), count(lit(1)).as("cells"))
        .head()
      val (mx, tot, cells) = (sizes.getLong(0), sizes.getLong(1), sizes.getLong(2))
      if (cells > 0 && mx.toDouble * cells > reclusterAtSkew * tot) {
        IndexOps.reclusterSwapIvf(spark, indexDir, idCol, vecCol)
        failpoint(4)
      }
    }
    applyDeletes()
  }

  /** One micro-batch of [[curatePqIngestStream]] — same protocol, same
    * test seam, the COMPRESSED screen. The codebook is read fresh from
    * `codebookDir` each batch, so a [[graft.operators.Pq.retrainSwapPq]]
    * that rotates both the index and the persisted codebook between
    * batches keeps the loop consistent (the `pq_cb` stamp refuses any
    * half-rotated state loudly). */
  private[graft] def curatePqBatch(batch: DataFrame, batchId: Long,
      indexDir: String, codebookDir: String, outDir: String, idCol: String,
      vecCol: String, minMicro: Long, nProbe: Int,
      gate: DataFrame => DataFrame, compactAtFiles: Int,
      applyDeletesFrom: String = "",
      failAfterStep: Int = Int.MaxValue,
      gates: BatchGates = BatchGates()): Unit = {
    import graft.operators.{Checkpoints, IndexOps, Pq, Similarity}
    val spark = batch.sparkSession
    IndexOps.recoverSwap(spark, indexDir)
    IndexOps.recoverSwap(spark, idSidecarDir(indexDir))
    IndexOps.recoverSwap(spark, outDir)
    def failpoint(n: Int): Unit = if (failAfterStep == n)
      throw new IllegalStateException(s"curatePqBatch: test failpoint after step $n")
    // the PQ index's member rows carry only codes, so an in-loop
    // takedown naming a CENTROID-anchor id is REFUSED by deleteSwapPq
    // (loud, every batch, until the operator runs Pq.pqTakedown against
    // the corpus offline and removes the list) — the quantizer cannot
    // be rebuilt from codes alone, and silently keeping the deleted
    // vector alive as a centroid would be the wrong kind of quiet
    def applyDeletes(): Unit =
      applyCurateDeletes(spark, applyDeletesFrom, outDir, idCol,
        ids => IndexOps.deleteSwapPq(spark, indexDir, idCol, ids), failpoint)
    if (isCommitted(spark, outDir, batchId)) { applyDeletes(); return }
    runBatchGates(batch, batchId, gates, gateReportDir(outDir))
    ensureSidecar(spark, indexDir, idCol)
    Checkpoints.scoped(spark) {
      val outCols = batch.columns.map(col).toIndexedSeq
      val index = spark.read.parquet(indexDir)
      val codebook = spark.read.parquet(codebookDir)
      val sidecar = spark.read.parquet(idSidecarDir(indexDir))
      val own = sidecar.filter(col("batch_id") === batchId).select(col(idCol))
      val screenIndex = index.join(own, Seq(idCol), "left_anti")
      val fresh = idScreen(
        gate(batch).filter(Similarity.norm(col(vecCol)) > 0),
        sidecar, idCol, batchId).localCheckpoint(true)
      val (survivors, _) = Pq.pqIncrementalIngest(
        screenIndex, fresh, codebook, idCol, vecCol, minMicro, nProbe)
      val admitted = survivors.localCheckpoint(true)
      publishBatch(admitted.select(outCols: _*), outDir, batchId, Nil)
      failpoint(1)
      publishBatch(admitted.select(col(idCol))
        .withColumn("batch_id", lit(batchId)).sort(idCol),
        idSidecarDir(indexDir), batchId, Nil)
      failpoint(2)
      publishBatch(
        Pq.pqIndexExtend(screenIndex, admitted, idCol, vecCol, codebook),
        indexDir, batchId, Seq("cell"))
      failpoint(3)
      commitBatch(spark, outDir, batchId)
    }
    maintainIndex(spark, indexDir, compactAtFiles,
      IndexOps.compactSwapPq(spark, _, idCol))
    applyDeletes()
  }

  /** The COMPRESSED member of the curate-loop family — the same
    * self-growing-index loop as [[curateIvfIngestStream]] with
    * [[graft.operators.Pq.pqIncrementalIngest]] as the screen: the
    * near-dup check reads nSub BYTES per candidate (integer ADC over
    * the probed cells' codes) instead of raw vectors, which is the
    * loop for the corpus whose embeddings no longer fit their index —
    * the 100 TB regime the PQ family exists for. Same id sidecar,
    * committed-batch protocol, replay-aware screens, in-loop
    * compaction ([[graft.operators.IndexOps.compactSwapPq]]) and
    * post-commit takedown as the other three loops; the screen's
    * threshold semantics (ADC estimate of the same micro-cosine
    * scale, quantization slack documented) live on the ingest
    * operator.
    *
    * `indexDir` must hold a stamped [[graft.operators.Pq.pqIndex]]
    * and `codebookDir` the codebook it was encoded under (refused
    * otherwise via the `pq_cb` content stamp — a retrain that rotates
    * both between batches stays consistent). No `reclusterAtSkew`:
    * re-clustering needs member vectors the PQ layout deliberately
    * does not keep — quantizer drift repair is the batch-side
    * [[graft.operators.Pq.retrainSwapPq]] against the corpus store.
    * In-loop takedowns naming a centroid anchor are refused loudly
    * (see [[curatePqBatch]]); run [[graft.operators.Pq.pqTakedown]]
    * offline for those. */
  def curatePqIngestStream(stream: DataFrame, indexDir: String,
      codebookDir: String, outDir: String, checkpoint: String,
      idCol: String, vecCol: String, minMicro: Long, nProbe: Int = 2,
      gate: DataFrame => DataFrame = df => df,
      compactAtFiles: Int = 0,
      applyDeletesFrom: String = "",
      gates: BatchGates = BatchGates()): DataStreamWriter[Row] =
    stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        curatePqBatch(batch.toDF(), batchId, indexDir, codebookDir, outDir,
          idCol, vecCol, minMicro, nProbe, gate, compactAtFiles,
          applyDeletesFrom, gates = gates)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())

  /** The IVF twin of [[curateEmbeddingIngestStream]] — the same
    * self-growing-index loop over vectors with the PERSISTED IVF
    * family as the near-dup screen
    * ([[graft.operators.Similarity.ivfIncrementalIngest]]: k=1 probe
    * of each vector's `nProbe` closest cells, ≥ `minMicro` ⇒
    * near-dup; intra-batch collapse under the index's own cell
    * structure), index rows appended `partitionBy("cell")` via
    * [[graft.operators.Similarity.ivfIndexExtend]], compaction via
    * [[graft.operators.IndexOps.compactSwapIvf]] (cells re-clustered
    * by id so the sidecar screen's range pruning stays sharp). Same
    * id sidecar, committed-batch protocol, replay-aware screens, and
    * scoped checkpoint release as the LSH loop — proven by the same
    * after-every-write replay spec.
    *
    * WHEN TO PICK WHICH SCREEN: the LSH loop's probe is a pure
    * equi-join — stateless per batch, no driver materialization — and
    * its bucket count GROWS with the corpus via the planes parameter;
    * the IVF loop's probe reads only the probed cell DIRECTORIES
    * (partition pruning the LSH probe cannot do) but its centroid
    * set is frozen at bootstrap, so cell occupancy — and per-probe
    * rerank cost — grows linearly with everything admitted since.
    * IVF is therefore the screen for ingest between PERIODIC REBUILDS
    * (the nCells-growth law on [[graft.operators.Similarity.ivfIndexProbe]]);
    * for an indefinitely-running loop with no rebuild window, LSH's
    * self-scaling bucket space is the safer default (the measured
    * comparison is in SCALING.md).
    *
    * `indexDir` must hold a non-empty stamped IVF index
    * ([[graft.operators.Similarity.ivfIndex]],
    * `write.partitionBy("cell")`) before the stream starts — the
    * centroids ARE the bootstrap corpus's; there is no empty-index
    * form (no centroids, no candidate structure). Zero-norm vectors
    * are rejected at the door for the same reason as the LSH loop.
    *
    * `compactAtFiles` must sit WELL ABOVE nCells: the cell-clustered
    * layout's file FLOOR is ~one file per cell (the band/tbl loops'
    * floor is their handful of directories), so a threshold below
    * nCells re-compacts the whole index after every batch — measured
    * 2× the maintained loop's total CPU (`CurateLoopStudy` ivf mode).
    * nCells + a few batches' worth of appended files is the sane
    * shape.
    *
    * `reclusterAtSkew > 0` closes the frozen-centroid drift loop
    * in-loop: after a committed batch, when the fattest cell holds more
    * than that multiple of the MEAN cell's rows (the
    * [[graft.operators.IndexOps.cellHistogram]] tail, reduced to one
    * ratio), the index is re-clustered in place with
    * [[graft.operators.IndexOps.reclusterSwapIvf]] — fresh centroids
    * from the current member set, crash-safe swap, probe contract
    * unchanged. 4–8 is a sane range: well above the bootstrap's natural
    * spread, well below a mega-cell. */
  def curateIvfIngestStream(stream: DataFrame, indexDir: String,
      outDir: String, checkpoint: String, idCol: String, vecCol: String,
      minMicro: Long, nProbe: Int = 2,
      gate: DataFrame => DataFrame = df => df,
      compactAtFiles: Int = 0, reclusterAtSkew: Double = 0.0,
      applyDeletesFrom: String = "",
      gates: BatchGates = BatchGates()): DataStreamWriter[Row] = {
    // validate at STREAM CONSTRUCTION: a ratio in (0, 1) would otherwise
    // surface as a repeated per-batch runtime crash inside the
    // post-commit maintenance, after each batch's work is already done
    // (the in-batch require stays as the backstop for direct
    // curateIvfBatch callers)
    require(reclusterAtSkew == 0.0 || reclusterAtSkew >= 1.0,
      s"reclusterAtSkew is a max/mean cell-size ratio — must be 0 (off) " +
        s"or >= 1, got $reclusterAtSkew")
    stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        curateIvfBatch(batch.toDF(), batchId, indexDir, outDir, idCol,
          vecCol, minMicro, nProbe, gate, compactAtFiles, reclusterAtSkew,
          applyDeletesFrom, gates = gates)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
  }

  /** Drain-what's-there runner: processes every pending file, then stops
    * (the scheduled-batch shape of the reference's manual re-runs). */
  def availableNow(df: DataFrame, outDir: String, checkpoint: String): DataStreamWriter[Row] =
    df.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
}
