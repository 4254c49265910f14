package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry, Tables, Verify}
import graft.operators.Checkpoints

/** One benchmark run in a fresh JVM: probe, set-up, a first pass,
  * warm-up and measured passes for `--seconds`, then the oracle dump.
  * Writes one JSON record to `--out`; `perfbench/run.py` turns it into
  * metrics.
  *
  * Closed loop, one client: the queries run one after another on this
  * thread, each inside `Checkpoints.scoped`, and the next is issued only
  * after the previous write returned and the listener bus drained.
  *
  * Usage: perfbench.Main --workload NAME --queries q1,q2,... --data DIR
  *   --seconds N --trace 0|1 --out FILE --verify-out DIR
  */
object Main {
  type Query = (SparkSession, String) => DataFrame

  final case class QueryRun(name: String, buildS: Double, executeS: Double,
      error: Option[String], counters: Map[String, Long])
  final case class Pass(kind: String, index: Int, queries: Seq[QueryRun])

  /** Set-ups per run: the first is cold (class loading, extension
    * initialisation); the median of the others is `setup_s`. */
  private val Setups = 9

  private val nano0 = System.nanoTime()
  private val epochUs0 = System.currentTimeMillis() * 1000
  private def nowUs(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def arg(k: String): String = opt.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val workload = arg("workload")
    val dataDir = arg("data")
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val names = arg("queries").split(',').toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val queries: Seq[(String, Query)] = names.map(n => n -> SparkEntry.queries(n))
    val cpus = Runtime.getRuntime.availableProcessors.toString

    val probeS = probe()
    val heap = new HeapPeak

    // set-up: session factory plus input registration (every table's
    // footer schema, read through the engine's own catalog), repeated so
    // the reported figure is a median; the last session is the one used
    var spark: SparkSession = null
    val setupS = (1 to Setups).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.builder(s"perfbench-$workload", cpus)
        .config("spark.local.dir", sys.props("java.io.tmpdir"))
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val t = Tables(spark, dataDir)
      Seq(t.region, t.nation, t.customer, t.supplier, t.part, t.orders,
        t.lineitem, t.events, t.documents, t.embeddings).foreach(_.schema)
      (System.nanoTime() - t0) / 1e9
    }

    val sc = spark.sparkContext
    val rec = new Recorder(trace)
    sc.addSparkListener(rec)
    if (trace) spark.listenerManager.register(rec)

    val workloadStart = nowUs()
    val workloadSpan = rec.newId()
    def span(parent: Long, kind: String, name: String)(body: Long => Unit): Unit = {
      val id = rec.newId()
      val start = nowUs()
      try body(id) finally if (trace) rec.record(Span(id, parent, kind, name, start, nowUs()))
    }

    def runQuery(parent: Long, name: String, fn: Query): QueryRun = {
      val w = new Counters
      rec.window = w
      var buildS, executeS = 0.0
      var execStartMs = Long.MaxValue
      var error: Option[String] = None
      span(parent, "query", name) { qid =>
        try Checkpoints.scoped(spark) {
          var df: DataFrame = null
          span(qid, "build", name) { id =>
            sc.setLocalProperty(Recorder.SpanProp, id.toString)
            sc.setLocalProperty(Recorder.PhaseProp, "build")
            val t0 = System.nanoTime()
            try df = fn(spark, dataDir) finally buildS = (System.nanoTime() - t0) / 1e9
          }
          span(qid, "execute", name) { id =>
            sc.setLocalProperty(Recorder.SpanProp, id.toString)
            sc.setLocalProperty(Recorder.PhaseProp, "execute")
            execStartMs = System.currentTimeMillis()
            val t0 = System.nanoTime()
            try df.write.format("noop").mode("overwrite").save()
            finally executeS = (System.nanoTime() - t0) / 1e9
          }
        } catch { case e: Throwable =>
          error = Some(e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(300))
        } finally {
          sc.setLocalProperty(Recorder.SpanProp, null)
          sc.setLocalProperty(Recorder.PhaseProp, null)
        }
      }
      BusDrain(sc)
      QueryRun(name, buildS, executeS, error, w.snapshot(execStartMs))
    }

    def runPass(kind: String, index: Int): Pass = {
      var runs = Seq.empty[QueryRun]
      span(workloadSpan, "pass", s"$kind $index") { pid =>
        runs = queries.map { case (n, fn) => runQuery(pid, n, fn) }
      }
      Pass(kind, index, runs)
    }

    val first = runPass("first", 0)
    // warm-up passes for the first half of --seconds (at least one), then
    // measured passes until --seconds have elapsed (at least three); only
    // the measured passes feed the metrics. The JIT keeps making passes
    // faster for fifteen to twenty-five seconds after the first pass.
    val warmStart = System.nanoTime()
    def elapsedS = (System.nanoTime() - warmStart) / 1e9
    val warmPasses = {
      val b = Seq.newBuilder[Pass]
      var i, measured = 0
      while (i < 1 || elapsedS < seconds / 2) {
        i += 1
        b += runPass("warmup", i)
      }
      while (measured < 3 || elapsedS < seconds) {
        i += 1
        measured += 1
        b += runPass("warm", i)
      }
      b.result()
    }
    if (trace) rec.record(Span(workloadSpan, -1, "workload", workload, workloadStart, nowUs()))
    val (heapP90, heapMax, gcCount) = heap.stop()
    BusDrain(sc)
    val unattributedJobs = rec.unattributed

    // correctness dump, outside every timed region
    val verifyErrors = Verify.run(spark, dataDir, arg("verify-out"), queries.toMap,
      SparkEntry.oracleSql.view.filterKeys(names.toSet).toMap)

    val record = Map(
      "workload" -> workload, "cpus" -> cpus.toInt, "probe_s" -> probeS,
      "setup_s" -> setupS, "peak_heap_mb" -> heapP90 / 1048576.0,
      "heap_after_gc_max_mb" -> heapMax / 1048576.0, "gc_count" -> gcCount,
      "passes" -> (first +: warmPasses).map(p => Map(
        "kind" -> p.kind, "index" -> p.index,
        "queries" -> p.queries.map(q => Map(
          "name" -> q.name, "build_s" -> q.buildS, "execute_s" -> q.executeS,
          "error" -> q.error.orNull, "counters" -> q.counters)))),
      "verify_errors" -> verifyErrors,
      "unattributed_jobs" -> unattributedJobs,
      "spans" -> (if (trace) rec.spans.toSeq.sortBy(s => (s.startUs, s.id)).map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_us" -> s.startUs, "end_us" -> s.endUs)) else Seq.empty))
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(arg("out")),
      mapper.writeValueAsString(record))
    spark.stop()
  }

  /** Fixed-work host probe: SHA-256 over 64 MiB. Recorded beside the
    * metrics as a diagnostic of host speed; never used to drop or rescale
    * a run. */
  private def probe(): Double = {
    val buf = Array.tabulate[Byte](1 << 20)(i => (i * 31).toByte)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val t0 = System.nanoTime()
    var i = 0
    while (i < 64) { md.update(buf); i += 1 }
    md.digest()
    (System.nanoTime() - t0) / 1e9
  }
}
