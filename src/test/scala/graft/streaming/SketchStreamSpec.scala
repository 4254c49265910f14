package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Hashing
import graft.operators.{BatchStore, Sketch}

/** The sketch rollup store of [[graft.operators.BatchStore]]: committed
  * batches of per-group HLL and count-min sketches and the fold that
  * reads them. The suite keeps the name it had when the protocol lived
  * in the streaming layer, so its test ids stay stable. */
class SketchStreamSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def rows(ids: Range, group: Int => String) =
    ids.map(i => (i.toLong, group(i), Hashing.h60Jvm(s"u${i % 37}")))
      .toDF("event_id", "g", "h")

  private def runSketch(df: org.apache.spark.sql.DataFrame, id: Long,
      store: String, failAfter: Int = Int.MaxValue): Unit =
    BatchStore.sketchRollupBatch(df, id, store, "g", "h",
      hllP = 5, cmsDepth = 3, cmsWidth = 64, failAfterStep = failAfter)

  private def sketchTotals(store: String) =
    BatchStore.sketchRollupTotals(spark, store, "g")

  private def directSketch(df: org.apache.spark.sql.DataFrame) =
    df.groupBy("g").agg(
      Sketch.hllSketch(col("h"), 5).as("hll"),
      Sketch.cmsSketch(col("h"), 3, 64).as("cms"),
      count(lit(1)).as("n_rows"))

  private def sketchMap(df: org.apache.spark.sql.DataFrame) =
    df.select("g", "hll", "cms", "n_rows")
      .as[(String, Seq[Int], Seq[Long], Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap

  test("two committed batches fold to the direct one-shot sketches (merge law end-to-end)") {
    val store = tmp("sk-law")
    val all = rows(1 to 500, i => s"g${i % 3}")
    runSketch(all.filter(col("event_id") % 2 === 0), 0L, store)
    runSketch(all.filter(col("event_id") % 2 === 1), 1L, store)
    assert(sketchMap(sketchTotals(store)) == sketchMap(directSketch(all)))
  }

  test("crash between publish and commit: reader excludes the batch; replay converges") {
    val store = tmp("sk-crash")
    val b0 = rows(1 to 200, _ => "g")
    val b1 = rows(201 to 400, _ => "g")
    runSketch(b0, 0L, store)
    intercept[IllegalStateException] { runSketch(b1, 1L, store, failAfter = 1) }
    // the uncommitted batch's data files exist but the fold ignores them
    assert(sketchMap(sketchTotals(store)) == sketchMap(directSketch(b0)))
    // replay re-publishes by name and commits; fold converges
    runSketch(b1, 1L, store)
    assert(sketchMap(sketchTotals(store)) ==
      sketchMap(directSketch(b0.unionByName(b1))))
    // re-application is a committed-batch no-op
    runSketch(b1, 1L, store)
    assert(sketchMap(sketchTotals(store)) ==
      sketchMap(directSketch(b0.unionByName(b1))))
  }

  test("parameter mismatch refuses loudly at ingest, not at merge time") {
    val store = tmp("sk-params")
    runSketch(rows(1 to 50, _ => "g"), 0L, store)
    val e = intercept[IllegalArgumentException] {
      BatchStore.sketchRollupBatch(rows(51 to 99, _ => "g"), 1L, store,
        "g", "h", hllP = 6, cmsDepth = 3, cmsWidth = 64)
    }
    assert(e.getMessage.contains("hll5-cms3x64"))
  }

  test("null groups are dropped; estimates from the fold are sane") {
    val store = tmp("sk-null")
    val df = Seq((1L, "g", Hashing.h60Jvm("a")), (2L, null, Hashing.h60Jvm("b")))
      .toDF("event_id", "g", "h")
    runSketch(df, 0L, store)
    val t = sketchTotals(store)
    assert(t.count() == 1L)
    val est = t.select(Sketch.hllEstimate(col("hll"))).as[Double].head()
    assert(est > 0.5 && est < 3.0, s"estimate $est for 1 distinct")
  }

  test("reader refuses a missing or uncommitted-only store") {
    intercept[IllegalArgumentException] {
      sketchTotals(tmp("sk-missing")).collect()
    }
    val store = tmp("sk-uncommitted")
    intercept[IllegalStateException] {
      runSketch(rows(1 to 9, _ => "g"), 0L, store, failAfter = 1)
    }
    intercept[IllegalArgumentException] { sketchTotals(store).collect() }
  }
}
