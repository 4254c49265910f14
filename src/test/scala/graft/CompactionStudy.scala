package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IndexOps}

/** Measures what index compaction ([[IndexOps.compactTo]]) buys the
  * probe side: the same MinHash index read from an append-grown
  * fragmented directory vs its compacted copy, probed with the same
  * batch ([[Dedup.minhashProbeAuto]]).
  *
  * Fragmentation model: the corpus lands in `appends` equal slices,
  * each written `mode("append").partitionBy("band")` — the file
  * pattern an append-grown index accumulates (one small file per
  * shuffle partition per band per batch). On an object store
  * each fragment costs an open + footer read + seek per probe scan;
  * locally the effect is task-setup and footer overhead, so the local
  * ratio is a LOWER bound on the S3 one.
  *
  * Usage: Test/runMain graft.CompactionStudy [sfDir] [appends]
  */
object CompactionStudy {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("scaledata/sf1")
    val appends = args.drop(1).headOption.map(_.toInt).getOrElse(16)
    val spark = GraftSession.builder("compaction-study", "32").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val cpu = new java.util.concurrent.atomic.LongAdder
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null) cpu.add(m.executorCpuTime)
        }
      })

    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val probes = docs.filter(col("doc_id") % 10 === 0).localCheckpoint(true)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0).localCheckpoint(true)

    val fragDir = Files.createTempDirectory("cstudy_frag").toString
    (0 until appends).foreach { s =>
      Dedup.minhashIndex(corpus.filter(col("doc_id") % appends === s),
          "doc_id", "text")
        .write.mode("append").partitionBy("band").parquet(fragDir)
    }
    val compactDir = Files.createTempDirectory("cstudy_compact").toString
    val t0 = System.nanoTime()
    val rows = IndexOps.compactMinhashTo(spark, fragDir, compactDir)
    val compactSec = (System.nanoTime() - t0) / 1e9

    def nFiles(d: String) = {
      val s = Files.walk(java.nio.file.Paths.get(d))
      try s.iterator().asScala.count(_.toString.endsWith(".parquet"))
      finally s.close()
    }

    def probe(ixDir: String): (Double, Double, Long) = {
      // cold-ish per pass: re-read the dir so file listing + footers are
      // paid; min of 3 passes for a stable floor
      val runs = (1 to 3).map { _ =>
        spark.catalog.clearCache()
        cpu.reset()
        val w0 = System.nanoTime()
        val n = Dedup.minhashProbeAuto(probes,
          spark.read.parquet(ixDir), "doc_id", "text").count()
        ((System.nanoTime() - w0) / 1e9, cpu.sum / 1e9, n)
      }
      (runs.map(_._1).min, runs.map(_._2).min, runs.head._3)
    }

    val (fw, fc, fn) = probe(fragDir)
    val (cw, cc, cn) = probe(compactDir)
    require(fn == cn, s"probe results diverged: $fn vs $cn")
    println(f"index_rows=$rows appends=$appends " +
      f"files_frag=${nFiles(fragDir)} files_compact=${nFiles(compactDir)} " +
      f"compact_sec=$compactSec%.2f")
    println(f"probe_frag    wall=$fw%.3f s cpu=$fc%.3f core-s matches=$fn")
    println(f"probe_compact wall=$cw%.3f s cpu=$cc%.3f core-s matches=$cn")
  }
}
