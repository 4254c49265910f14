package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{IndexOps, Similarity}

/** Measures the two IVF evidence gaps VERDICT r9 flagged:
  *
  *  1. CELL SKEW of the hash-ordered centroid sample
  *     ([[Similarity.ivfIndex]]): occupancy min / mean / max / p99 and
  *     the max/mean ratio, at the nCells the growth law picks for the
  *     corpus (constant expected occupancy, default 256 rows/cell).
  *     This is the direct measure of whether a probe can land in a
  *     corpus-sized mega-cell — the r9 hazard the hash-order sample
  *     exists to close.
  *
  *  2. LSH vs IVF as an INGEST-TIME SCREEN: the same bounded batch
  *     screened k=1 against the same persisted corpus, both ways.
  *     Both indexes are read from their persisted partitioned form.
  *
  * Usage: Test/runMain graft.IvfSkewStudy [sfDir] [rowsPerCell] [nProbe] [batchRows]
  */
object IvfSkewStudy {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("scaledata/sf1")
    val rowsPerCell = args.drop(1).headOption.map(_.toInt).getOrElse(256)
    val nProbe = args.drop(2).headOption.map(_.toInt).getOrElse(2)
    val batchRows = args.drop(3).headOption.map(_.toInt).getOrElse(2000)
    val spark = GraftSession.builder("ivf-skew-study", "32").getOrCreate()
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
    def quiesce(): Unit = {
      var prev = -1L; var spins = 0
      while (prev != cpu.sum() && spins < 40) { prev = cpu.sum(); Thread.sleep(50); spins += 1 }
    }

    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val corpus = vecs.filter(col("vec_id") % 10 =!= 0).localCheckpoint(true)
    val batch = vecs.filter(col("vec_id") % 10 === 0)
      .orderBy("vec_id").limit(batchRows).localCheckpoint(true)
    val n = corpus.count()
    val nCells = math.max(1L, n / rowsPerCell).toInt
    println(s"[study] corpus=$n rows, nCells=$nCells (${rowsPerCell} rows/cell target), " +
      s"nProbe=$nProbe, batch=${batch.count()} rows")

    // ---- 1. cell skew of the shipped hash-ordered centroid sample ----
    val ivfDir = Files.createTempDirectory("ivfskew_ix").toString + "/ix"
    quiesce(); cpu.reset()
    val b0 = System.nanoTime()
    Similarity.ivfIndex(corpus, "vec_id", "embedding", nCells, dims = 64)
      .write.mode("overwrite").partitionBy("cell").parquet(ivfDir)
    quiesce()
    println(f"[study] ivf build+persist wall=${(System.nanoTime() - b0) / 1e9}%.1f s " +
      f"cpu=${cpu.sum / 1e9}%.1f core-s")
    val ivfIndex = spark.read.parquet(ivfDir)
    val occ = ivfIndex.groupBy("cell").agg(count(lit(1)).as("rows"))
    val stats = occ.agg(
      count(lit(1)).as("cells"), min("rows").as("mn"),
      avg("rows").as("mean"), max("rows").as("mx"),
      expr("percentile(rows, 0.99)").as("p99")).head()
    val mean = stats.getDouble(2); val mx = stats.getLong(3)
    println(f"[study] cell occupancy: cells=${stats.getLong(0)} min=${stats.getLong(1)} " +
      f"mean=$mean%.1f p99=${stats.getDouble(4)}%.0f max=$mx " +
      f"max/mean=${mx / mean}%.2f")

    // ---- 2. the same skew under the r9-REJECTED lowest-id sample ----
    // (kept measurable so the comparison is evidence, not argument: on
    // an id-decorrelated corpus the two match; on any corpus where low
    // ids share an ingest epoch the lowest-id sample is the skewed one)
    val lowIds = corpus.select(col("vec_id").cast("long"))
      .orderBy("vec_id").limit(nCells).collect().map(_.getLong(0)).toSeq
    // nearest-centroid assignment under the lowest-id sample (double
    // cosine is fine here — only the argmax ranking matters for skew)
    val nrm = corpus.withColumn("nrm", Similarity.norm(col("embedding")))
    val lowCents = broadcast(nrm.filter(col("vec_id").isin(lowIds: _*))
      .select(col("vec_id").as("cell_id"), col("embedding").as("c_vec"),
        col("nrm").as("c_nrm")))
    val byCloseness = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("cell_cos").desc, col("cell_id"))
    val lowOcc = nrm.crossJoin(lowCents)
      .withColumn("cell_cos",
        Similarity.dot(col("embedding"), col("c_vec")) / (col("nrm") * col("c_nrm")))
      .withColumn("rk", row_number().over(byCloseness))
      .filter(col("rk") === 1)
      .groupBy("cell_id").agg(count(lit(1)).as("rows"))
      .agg(avg("rows").as("mean"), max("rows").as("mx")).head()
    println(f"[study] lowest-id sample (rejected r9 shape): mean=${lowOcc.getDouble(0)}%.1f " +
      f"max=${lowOcc.getLong(1)} max/mean=${lowOcc.getLong(1) / lowOcc.getDouble(0)}%.2f")

    // ---- 3. LSH vs IVF bounded-batch screen over the persisted form ----
    val planes = Similarity.lshAutoPlanes(n)
    val lshDir = Files.createTempDirectory("ivfskew_lsh").toString + "/ix"
    Similarity.lshIndex(corpus, "vec_id", "embedding", planes, dims = 64)
      .write.mode("overwrite").partitionBy("tbl").parquet(lshDir)
    val lshIndex = spark.read.parquet(lshDir)
    val minMicro = 400000L
    def timed(what: String)(body: => Long): Unit = {
      val runs = (1 to 3).map { _ =>
        quiesce(); cpu.reset()
        val w0 = System.nanoTime()
        val rows = body
        quiesce()
        ((System.nanoTime() - w0) / 1e9, cpu.sum / 1e9, rows)
      }
      println(f"[study] screen $what%-12s wall=${runs.map(_._1).min}%.2f s " +
        f"cpu=${runs.map(_._2).min}%.2f core-s matched=${runs.head._3}")
    }
    timed("lsh") {
      Similarity.lshIndexProbe(batch, lshIndex, "vec_id", "embedding",
          minMicro, planes, dims = 64)
        .select("probe_id").distinct().count()
    }
    timed(s"ivf(p$nProbe)") {
      Similarity.ivfIndexProbe(batch, ivfIndex, "vec_id", "embedding",
          k = 1, nProbe = nProbe, nCells = nCells, dims = 64)
        .filter(col("cos_micro") >= minMicro)
        .select("query_id").distinct().count()
    }
    // the raw partitionBy("cell") persist writes up to nCells × tasks
    // tiny files — measure the same probe against the compacted layout
    println(s"[study] ivf files raw=${IndexOps.dataFileCount(spark, ivfDir)}")
    IndexOps.compactSwapIvf(spark, ivfDir, "vec_id")
    val ivfCompacted = spark.read.parquet(ivfDir)
    println(s"[study] ivf files compacted=${IndexOps.dataFileCount(spark, ivfDir)}")
    timed(s"ivfC(p$nProbe)") {
      Similarity.ivfIndexProbe(batch, ivfCompacted, "vec_id", "embedding",
          k = 1, nProbe = nProbe, nCells = nCells, dims = 64)
        .filter(col("cos_micro") >= minMicro)
        .select("query_id").distinct().count()
    }
    spark.stop()
  }
}
