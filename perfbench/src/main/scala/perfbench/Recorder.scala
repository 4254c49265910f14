package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: `kind` is workload, pass, query, build, execute, job or
  * stage; times are microseconds since the epoch. `parent` is -1 for the
  * root. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startUs: Long, endUs: Long)

/** Counters for one query's window (build + execute). Written on the
  * listener-bus thread, read by the driver thread after the bus drains. */
final class Counters {
  private val sums = mutable.LinkedHashMap.empty[String, Long]
  private val maxes = mutable.LinkedHashMap.empty[String, Long]
  private val rddBlocks = mutable.HashSet.empty[String]
  /** (earliest phase start ms, analysis ms, optimization ms, planning ms) */
  private val plans = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]

  def add(k: String, v: Long): Unit = synchronized { sums(k) = sums.getOrElse(k, 0L) + v }
  def max(k: String, v: Long): Unit = synchronized {
    maxes(k) = math.max(maxes.getOrElse(k, 0L), v)
  }
  /** True the first time an RDD block id is stored in this window. */
  def newBlock(id: String): Boolean = synchronized { rddBlocks.add(id) }
  def plan(p: (Long, Long, Long, Long)): Unit = synchronized { plans += p }

  /** Counter values; planning phases count only for query executions that
    * started at or after `execStartMs` (the write's, not the constructor's
    * eager actions). */
  def snapshot(execStartMs: Long): Map[String, Long] = synchronized {
    val ps = plans.filter(_._1 >= execStartMs)
    val planning =
      if (plans.isEmpty) Map.empty[String, Long]
      else Map("analysis_ms" -> ps.map(_._2).sum,
        "optimization_ms" -> ps.map(_._3).sum, "planning_ms" -> ps.map(_._4).sum)
    (sums ++ maxes).toMap ++ planning
  }
}

/** Spark and SQL listener that charges task metrics to the current query
  * window. With `full = false` (metric runs) it keeps only task CPU and
  * input rows; with `full = true` (traced run) it keeps every layer
  * counter and the job and stage spans, tied to their query by the
  * `perfbench.span` local property the driver sets before each call. */
final class Recorder(full: Boolean) extends SparkListener with QueryExecutionListener {
  @volatile var window: Counters = new Counters

  private val spanLock = new Object
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private val jobStart = mutable.HashMap.empty[Int, (Long, Long, Long)] // job -> (span id, parent, start us)
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private var unattributedJobs = 0L

  def newId(): Long = spanLock.synchronized { nextId += 1; nextId }
  def record(s: Span): Unit = spanLock.synchronized { spans += s }
  def unattributed: Long = spanLock.synchronized { unattributedJobs }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    val w = window
    if (m != null) {
      w.add("task_cpu_ns", m.executorCpuTime)
      w.add("records_read", m.inputMetrics.recordsRead)
    }
    if (full) {
      w.add("tasks", 1)
      if (t.reason != org.apache.spark.Success) w.add("task_failures", 1)
      if (m != null) {
        w.add("run_ms", m.executorRunTime)
        w.add("gc_ms", m.jvmGCTime)
        w.add("bytes_read", m.inputMetrics.bytesRead)
        w.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        w.add("shuffle_records", m.shuffleWriteMetrics.recordsWritten)
        w.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        w.add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        w.add("memory_spill_bytes", m.memoryBytesSpilled)
        w.add("disk_spill_bytes", m.diskBytesSpilled)
        w.max("peak_exec_mem_bytes", m.peakExecutionMemory)
        w.add("bytes_written", m.outputMetrics.bytesWritten)
        w.add("records_written", m.outputMetrics.recordsWritten)
      }
    }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = if (full) {
    val props = Option(j.properties)
    val parent = props.flatMap(p => Option(p.getProperty(Recorder.SpanProp))).fold(-1L)(_.toLong)
    val phase = props.flatMap(p => Option(p.getProperty(Recorder.PhaseProp))).getOrElse("")
    window.add("jobs", 1)
    if (phase == "build") window.add("build_jobs", 1)
    spanLock.synchronized {
      if (parent < 0) unattributedJobs += 1
      jobStart(j.jobId) = (newId(), parent, j.time * 1000)
      j.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j.jobId)
    }
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = if (full) spanLock.synchronized {
    jobStart.get(j.jobId).foreach { case (id, parent, start) =>
      if (parent >= 0) record(Span(id, parent, "job", s"job ${j.jobId}", start, j.time * 1000))
    }
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = if (full) {
    val info = s.stageInfo
    window.add("stages", 1)
    for (sub <- info.submissionTime; end <- info.completionTime) spanLock.synchronized {
      for (job <- stageJob.get(info.stageId); (jobSpan, parent, _) <- jobStart.get(job)
           if parent >= 0)
        record(Span(newId(), jobSpan, "stage",
          s"stage ${info.stageId}.${info.attemptNumber()}", sub * 1000, end * 1000))
    }
  }

  override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit = if (full) {
    val info = b.blockUpdatedInfo
    if (info.blockId.isRDD && info.storageLevel.isValid && window.newBlock(info.blockId.name)) {
      window.add("checkpoint_blocks", 1)
      window.add("checkpoint_bytes", info.memSize + info.diskSize)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (full) {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) {
        def ms(p: String): Long = ph.get(p).fold(0L)(_.durationMs)
        window.plan((ph.values.map(_.startTimeMs).min,
          ms("analysis"), ms("optimization"), ms("planning")))
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Recorder {
  val SpanProp = "perfbench.span"
  val PhaseProp = "perfbench.phase"
}
