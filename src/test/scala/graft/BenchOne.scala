package graft
object BenchOne {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("graft-bench-one", "32").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.1"
    for (name <- args) {
      // warm-up scan
      spark.read.parquet(s"$dir/documents.parquet").count()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
      println(f"TIMING $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
