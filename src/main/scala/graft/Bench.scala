package graft
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Benchmark main: runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line.
  *
  * Each query is driven through the `noop` sink, which fully evaluates
  * every output column (unlike `count()`, whose plan Catalyst prunes down
  * to the bare row count — under-measuring expression-heavy queries).
  * Each query runs twice and reports the min (`queries`; the cold first
  * pass is kept in `queries_cold`): the cold pass is dominated by
  * one-time driver work (codegen + Janino compile) and this host's CPU
  * burst-throttle, neither of which is the steady-state cost a cluster
  * pays. `queries_cpu`/`cpu_core_s` carry executor task CPU
  * (core-seconds, min across successful passes) — the throttle-immune
  * metric for cross-round comparison. Failures are timed, recorded in
  * an `errors` map, and never silently reported as fast runs (a failed
  * pass is excluded from the min).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder("graft-bench", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Task-CPU accounting alongside wall time: this host's CPU-burst
    // throttling makes single-run wall times noisy, so the stable
    // cross-round comparison metric is executor CPU (core-seconds).
    val cpuNs = new LongAdder
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) cpuNs.add(m.executorCpuTime)
      }
    })
    def esc(s: String): String =
      s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
    // Untimed warm-up: session/codegen startup and file-index priming
    // otherwise land entirely on the alphabetically-first query. (A full
    // warm pass over every query was tried and measured WORSE end-to-end:
    // each query carries ~2 core-s of one-time planning/codegen cost, so
    // warming all of them doubles the bench's total CPU, which on a
    // burst-throttled host starves the timed pass. One representative
    // warm-up is the best trade.)
    try SparkEntry.queries.get("q01_pruned_scan")
      .foreach(_(spark, sfDir).write.format("noop").mode("overwrite").save())
    catch { case _: Throwable => () }
    // quiesce: wait until the async listener bus stops delivering task
    // CPU (stable across two consecutive reads) so events never bleed
    // into the next pass's attribution window — a fixed sleep is a guess
    // that loses under bus backlog or a GC pause
    def quiesce(): Unit = {
      var prev = -1L
      var spins = 0
      while (prev != cpuNs.sum() && spins < 40) { // ≤2s worst case
        prev = cpuNs.sum()
        Thread.sleep(50)
        spins += 1
      }
    }
    quiesce() // drain the warm-up's events before the first timed pass
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Optional subset filter (comma-separated names) for scaling studies
    // (SCALING.md): absent → the driver's full-suite contract is unchanged.
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Two timed passes per query, report the min. Pass 1 pays the
    // one-time per-query driver cost (analysis, codegen + Janino compile,
    // file-index priming) and any burst-throttle stall the host happens
    // to land on; pass 2 is the steady-state execution a long-running
    // cluster actually sees. min-of-2 is the standard throttle-noise
    // damper; both passes are reported (queries = min, queries_cold =
    // pass 1) so the warm/cold split stays visible.
    // returns (wall seconds, task-CPU core-seconds, succeeded): a failed
    // pass keeps its wall time for the cold report but must never become
    // the min — a fast failure would otherwise masquerade as a speedup
    // Each pass runs inside Checkpoints.scoped: several queries pin
    // eager localCheckpoint blocks (the graph family's materialized()
    // guard, the curate compositions), and without a release 167
    // queries x 2 passes accumulate storage for the whole run —
    // block-manager pressure that lands on whichever cells run LATE in
    // the suite, not on the queries that pinned the blocks (the r17
    // driver/builder graph-stretch divergence's structural suspect).
    // Scoping each pass bounds pinned storage to one query's worth.
    def timed(name: String, fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Double, Boolean) = {
      val t0 = System.nanoTime()
      val c0 = cpuNs.sum()
      // the query's name as the job group: an event log (or any listener)
      // attributes every job of the pass, build-time jobs included
      spark.sparkContext.setJobGroup(name, s"graft.Bench $name")
      val ok =
        try {
          graft.operators.Checkpoints.scoped(spark) {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          }
          true
        }
        catch { case e: Throwable =>
          errors.getOrElseUpdate(name,
            e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(200))
          false
        }
        finally spark.sparkContext.clearJobGroup()
      val wall = (System.nanoTime() - t0) / 1e9
      quiesce() // untimed: wall is already captured
      (wall, (cpuNs.sum() - c0) / 1e9, ok)
    }
    val results = ordered.map { case (name, fn) =>
      val (cold, coldCpu, coldOk) = timed(name, fn)
      val (warm, warmCpu, warmOk) = timed(name, fn)
      val passes = Seq((cold, coldCpu, coldOk), (warm, warmCpu, warmOk))
      val okPasses = passes.collect { case (t, c, true) => (t, c) }
      // both failed → report the slower pass so a fast failure never
      // masquerades as a speedup
      val best = (okPasses.map(_._1) :+ math.max(cold, warm)).min
      val bestCpu = (okPasses.map(_._2) :+ math.max(coldCpu, warmCpu)).min
      (name, best, cold, bestCpu)
    }
    // All reported numbers are rounded to 3 decimals: millisecond wall /
    // CPU precision is far inside this host's burst-throttle noise band,
    // and 9-decimal doubles are what pushed a 68-query map past the
    // driver's bytes-bounded tail window (rounds 4–6 each lost leading
    // entries to truncation). Locale-pinned so the decimal point can
    // never become a comma.
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def jmap(f: ((String, Double, Double, Double)) => (String, Double)): String =
      results.map { r => val (k, v) = f(r); s""""${esc(k)}":${r3(v)}""" }
        .mkString("{", ",", "}")
    val qs = jmap { case (k, v, _, _) => (k, v) }
    val qsCold = jmap { case (k, _, c, _) => (k, c) }
    val qsCpu = jmap { case (k, _, _, c) => (k, c) }
    val errJson = errors.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val totalCpu = results.map(_._4).sum
    // Key order matters: the round driver keeps a bytes-bounded TAIL of
    // this line, so anything printed early can be truncated away (round 4
    // lost the wall map exactly this way). Print in ascending importance —
    // cold pass first (recoverable by re-running), then CPU, then the
    // headline wall-min map LAST so it always survives the capture.
    // total_wall_s/total_cpu_core_s duplicate value/cpu_core_s under the
    // r6-era field names so older consumers keep parsing (bench_schema
    // versions the shape explicitly from here on).
    // bench_schema 3: the full line's shape is unchanged from 2; the
    // version bump marks the compact line's reorder + versioning below
    // (one number for the pair — the two lines are one record).
    val fullLine = s"""{"metric":"total","bench_schema":3,"value":${r3(total)},"unit":"sec","total_wall_s":${r3(total)},"cpu_core_s":${r3(totalCpu)},"total_cpu_core_s":${r3(totalCpu)},"queries_cold":$qsCold,"errors":$errJson,"queries_cpu":$qsCpu,"sf":"$sfDir","queries":$qs}"""
    println(fullLine)
    // The driver keeps only a bytes-bounded TAIL of stdout, which cuts
    // the full line (r4–r8 all lost queries_cpu this way) — so the full
    // record is ALSO written to a file in the repo, where it survives
    // for round-over-round CPU comparison (SCALING.md's BENCH_CPU rows).
    // FULL-SUITE runs only: a SPARK_GRAFT_QUERIES subset run must not
    // replace the committed 78-query record with a partial map.
    // Best-effort: a read-only cwd must not fail the bench.
    if (only.isEmpty)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_FULL_latest.json"), fullLine + "\n")
      catch { case _: Throwable => () }
    // Second, COMPACT line under its own metric name (a consumer parsing
    // every "total" line would double-count): only the headline wall-min
    // map + total. SIZE BUDGET: the round driver's tail capture is 2000
    // bytes and sbt appends a ~75-byte "[success]" trailer after this
    // line, so the whole line must stay under ~1900 bytes — r7's 1952-byte
    // line (75 queries, 3-decimal walls, sf path) lost its head exactly
    // this way ("parsed": null). Hence 2-decimal walls and no sf here;
    // full precision and the sf path live on the first line.
    def r2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val qs2 = results.map { case (k, v, _, _) => s""""${esc(k)}":${r2(v)}""" }
      .mkString("{", ",", "}")
    // "n_err" rides the truncation-surviving compact line (7 bytes) so a
    // fast failure can never read as a speedup in a round-over-round diff
    // even when the full first line (with the errors map) is cut.
    // "bench_schema" versions the COMPACT shape too (the full line alone
    // carrying it left strict consumers of this line nothing to key the
    // n_err addition on).
    // FIELD ORDER IS THE TRUNCATION CONTRACT (schema 3): the driver
    // keeps the last ~1923 bytes of stdout, and the r9 compact line
    // (78 queries) already measured ~1934 bytes — its HEAD was cut and
    // the capture stopped parsing as JSON. The headline scalars
    // (n_err, value) therefore move to the END of the line, after the
    // per-query map: under any truncation the surviving tail still
    // shows every late-alphabet query, n_err, and the total; the
    // clipped head costs only early-alphabet entries, which live on in
    // the committed BENCH_FULL_latest.json.
    println(s"""{"metric":"total_compact","bench_schema":3,"unit":"sec","queries":$qs2,"n_err":${errors.size},"value":${r2(total)}}""")
    // bench_schema 4: ONE FINAL line guaranteed to fit the driver's
    // ~1923-byte tail window in full, so "parsed" stops being null
    // (rounds 9–14 all shipped a head-cut compact line once the suite
    // passed ~78 queries). Keys are the qNN prefix (verified unique
    // across the suite); full names live on line 1 + the committed
    // BENCH_FULL_latest.json. 2-decimal walls: 118 queries ≈ 1.6 kB.
    // If the suite ever grows the line past the window, degrade to the
    // scalars-only form rather than ship another unparseable head-cut.
    val qsShort = results.map { case (k, v, _, _) =>
      s""""${esc(k.takeWhile(_ != '_'))}":${r2(v)}"""
    }.mkString("{", ",", "}")
    val shortLine =
      s"""{"metric":"total","bench_schema":4,"unit":"sec","sf":"${esc(sfDir)}","queries":$qsShort,"cpu_core_s":${r2(totalCpu)},"n_err":${errors.size},"value":${r2(total)}}"""
    println(
      if (shortLine.length <= 1850) shortLine
      else s"""{"metric":"total","bench_schema":4,"unit":"sec","sf":"${esc(sfDir)}","queries_in_file":"BENCH_FULL_latest.json","cpu_core_s":${r2(totalCpu)},"n_err":${errors.size},"value":${r2(total)}}""")
    spark.stop()
  }
}
