package graft

import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The session factory's fixed bounds on the threads a long-lived session keeps. */
class GraftSessionSpec extends SparkSpec {

  private val Pools = Seq("shuffle-exchange", "broadcast-exchange", "ResultQueryStageExecution")

  private def liveThreads: Seq[String] =
    Thread.getAllStackTraces.keySet.asScala.toSeq.filter(_.isAlive).map(_.getName)

  test("live threads stay under a fixed ceiling across 40 small queries") {
    def query(i: Int): Unit = {
      val facts = spark.range(0, 2000, 1, 4).withColumn("k", col("id") % 7)
      val dim = spark.range(0, 7).withColumnRenamed("id", "k").withColumn("w", lit(i))
      facts.join(broadcast(dim), "k").groupBy("id").agg(sum("w").as("s"))
        .groupBy((col("id") % 3).as("b")).agg(sum("s").as("s"))
        .write.format("noop").mode("overwrite").save()
    }
    (0 until 40).foreach(query)
    val after = liveThreads
    for (p <- Pools) {
      val n = after.count(_.startsWith(p))
      assert(n <= 16, s"$n live $p threads after 40 queries (bound 16)")
    }
    // the three pools above at 16 each, Spark's block-manager pools at
    // their own bound of 100 each, and ~120 fixed or per-task threads
    assert(after.size <= 400, s"${after.size} live threads after 40 queries")
  }
}
