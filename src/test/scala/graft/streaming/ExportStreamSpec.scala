package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Export

/** A sharded export grown chunk by chunk: every generation lands through
  * [[Export.appendShards]] on top of a bootstrap [[Export.shardedWrite]],
  * and the maintenance and attestation calls run between generations.
  * The chunks must reach the one-shot export's exact manifest and rows,
  * and every crash window between chunks must heal at the next entry.
  * The suite keeps the name it had when a streaming sink drove these
  * appends, so its test ids stay stable. */
class ExportStreamSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString + "/exp"

  private val csCols = Seq("doc_id", "text", "lang")

  private def docsRange(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(
      col("id").as("doc_id"),
      concat(lit("body "), col("id")).as("text"),
      when(col("id") % 3 === 0, "en").otherwise("de").as("lang"))

  /** Generation zero: the first slice, published one-shot. */
  private def bootstrap(dir: String, nShards: Int): Unit =
    Export.shardedWrite(spark, docsRange(0, 60), "doc_id", csCols, nShards, dir)

  private def append(dir: String, df: DataFrame): Unit =
    Export.appendShards(spark, df, "doc_id", csCols, dir)

  private def manifestCanon(dir: String) =
    canon(Export.readManifest(spark, dir))

  private def totalRows(dir: String): Long =
    Export.readManifest(spark, dir).agg(sum("n_rows")).as[Long].head()

  private def dataFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(Export.dataDir(dir))).filter(_.getName.endsWith(".parquet"))
  }

  /** Delete one data file of shard `k`: a lost-file corruption. */
  private def corruptShard(dir: String, k: Int): Unit = {
    val shardDir = new java.io.File(Export.dataDir(dir), s"shard=$k")
    assert(shardDir.exists, s"fixture layout changed: $shardDir missing")
    shardDir.listFiles().filter(_.getName.endsWith(".parquet")).take(1)
      .foreach(f => assert(f.delete()))
    spark.catalog.refreshByPath(dir)
  }

  test("streamed chunks reach the one-shot manifest and rows (batch equivalence)") {
    val dir = tmp("exps_equiv")
    bootstrap(dir, 8)
    append(dir, docsRange(60, 100))
    append(dir, docsRange(100, 150))
    append(dir, docsRange(150, 200))

    val oneShot = tmp("exps_oneshot")
    Export.shardedWrite(spark, docsRange(0, 200), "doc_id", csCols, 8, oneShot)
    assert(manifestCanon(dir) == manifestCanon(oneShot))
    assertSameRows(
      Export.readShards(spark, dir).select("doc_id", "text", "lang"),
      docsRange(0, 200))
    Export.verifyShards(spark, dir, csCols)
  }

  test("compactExport collapses the sink's per-batch files, invisibly to the manifest") {
    val dir = tmp("exps_compact")
    bootstrap(dir, 4)
    for (b <- 0 until 5) append(dir, docsRange(60 + b * 20, 80 + b * 20))
    val before = manifestCanon(dir)
    val grown = dataFiles(dir).size
    assert(grown >= 4 * 6, s"expected one file per shard per generation, got $grown")
    val rows = Export.compactExport(spark, dir, csCols)
    assert(rows == 160)
    assert(dataFiles(dir).size < grown / 3, "compaction should collapse the per-batch files")
    assert(manifestCanon(dir) == before, "compaction must be invisible to the manifest")
    // each shard reads back in the portable order after compaction
    val ords = Export.readShardOrdered(spark, dir, 1).select("ord").as[Long].collect()
    assert(ords.length > 0 && ords.sameElements(ords.sorted))
    // appends keep landing on top of the compacted layout
    append(dir, docsRange(160, 170))
    Export.verifyShards(spark, dir, csCols)
    assert(totalRows(dir) == 170)
  }

  test("compaction floor is one file per nonempty shard, not the bare row ceil") {
    // many shards, few rows: ceil(rows/target) = 1, but compaction
    // cannot write fewer than one file per nonempty shard directory
    val dir = tmp("exps_floor")
    bootstrap(dir, 16)
    append(dir, docsRange(60, 100))
    Export.compactExport(spark, dir, csCols, targetRowsPerFile = 1000L)
    val nonEmpty = Export.readManifest(spark, dir).filter(col("n_rows") > 0).count()
    val perShard = dataFiles(dir).groupBy(_.getParentFile.getName).map(_._2.size)
    assert(nonEmpty > 1 + 4, s"fixture too small to exercise the floor ($nonEmpty shards)")
    assert(perShard.size == nonEmpty && perShard.forall(_ == 1),
      s"expected exactly one file in each of $nonEmpty nonempty shards, got $perShard")
    Export.verifyShards(spark, dir, csCols)
  }

  test("the streaming sink refuses an assigned-placement export") {
    val dir = tmp("exps_assigned")
    Export.shardedWriteAssigned(spark,
      Export.balancedShards(docsRange(0, 60).withColumn("w", length(col("text"))),
        "doc_id", "w", 4).drop("w"),
      csCols, 4, dir)
    val ex = intercept[IllegalArgumentException] {
      append(dir, docsRange(60, 80))
    }
    assert(ex.getMessage.contains("placement=assigned"))
    Export.verifyShards(spark, dir, csCols)
    assert(totalRows(dir) == 60)
  }

  test("mid-stream schema evolution: the sink demands the new shape, old batches read as nulls") {
    val dir = tmp("exps_evolve")
    bootstrap(dir, 4)
    append(dir, docsRange(60, 100))
    // a planned migration lands between generations
    import org.apache.spark.sql.types.{DoubleType, StructField}
    Export.evolveExportSchema(spark, dir,
      Seq(StructField("quality", DoubleType, nullable = true)))
    // the next chunk MUST carry the new column — the gate refuses the old shape
    val ex = intercept[IllegalArgumentException] {
      append(dir, docsRange(100, 120))
    }
    assert(ex.getMessage.contains("drifts"))
    // the new-shape chunk lands; both generations read by name
    append(dir, docsRange(100, 120).withColumn("quality", lit(0.7)))
    val back = Export.readShards(spark, dir)
    assert(back.count() == 120)
    assert(back.filter(col("quality").isNotNull).count() == 20)
    Export.verifyShards(spark, dir, csCols)
    // the refused attempt left no residue: the chunk landed exactly once
    assert(back.filter(col("doc_id") >= 100 && col("doc_id") < 120).count() == 20)
  }

  test("scheduled verification raises on a corrupted shard at the next check") {
    val dir = tmp("exps_verify")
    bootstrap(dir, 4)
    append(dir, docsRange(60, 80))
    append(dir, docsRange(80, 100))
    Export.verifyShards(spark, dir, csCols)
    // corrupt one shard between generations; the next append does not
    // look at old files, so it still lands
    corruptShard(dir, 2)
    append(dir, docsRange(100, 120))
    val ex = intercept[IllegalStateException] {
      Export.verifyShards(spark, dir, csCols)
    }
    assert(ex.getMessage.contains("diverges"))
    assert(ex.getMessage.contains("2"))
  }

  test("in-loop takedown: pending id lists applied between committed batches, crash-idempotent") {
    val dir = tmp("exps_takedown")
    bootstrap(dir, 4)
    append(dir, docsRange(60, 100))
    append(dir, docsRange(100, 120))
    // an id list between generations: ids from the bootstrap (5), an
    // earlier append (63), the latest append (105) and one absent id
    val ids = Seq(5L, 63L, 105L, 9999L).toDF("doc_id")
    Export.deleteIdsFromExport(spark, dir, ids, "doc_id", csCols)
    val back = Export.readShards(spark, dir)
    assert(back.count() == 117) // 120 ingested − 3 present victims (9999 absent)
    assert(back.filter(col("doc_id").isin(5L, 63L, 105L)).isEmpty)
    Export.verifyShards(spark, dir, csCols)
    // a replayed list is an idempotent no-op
    val settled = manifestCanon(dir)
    Export.deleteIdsFromExport(spark, dir, ids, "doc_id", csCols)
    assert(manifestCanon(dir) == settled)
    // the next generation lands, then the next list applies
    append(dir, docsRange(120, 140))
    Export.deleteIdsFromExport(spark, dir, Seq(70L).toDF("doc_id"), "doc_id", csCols)
    val after = Export.readShards(spark, dir)
    assert(after.count() == 136) // 140 − {5, 63, 105, 70}
    assert(after.filter(col("doc_id") === 70L).isEmpty)
    Export.verifyShards(spark, dir, csCols)
  }

  test("rotating subset attestation reaches a corrupted shard within one rotation") {
    val dir = tmp("exps_rotate")
    bootstrap(dir, 4)
    append(dir, docsRange(60, 100))
    // k = 2: check 0 attests shards {0,1}, check 1 attests {2,3} — each
    // check scans half the export, full coverage every two checks
    def check(n: Int) =
      Export.verifyShardSubset(spark, dir, csCols, Seq(2 * (n % 2), 2 * (n % 2) + 1))
    check(0)
    // corrupt shard 3 AFTER check 0 (which does not cover it)
    corruptShard(dir, 3)
    assert(check(0).filter(!col("ok")).isEmpty)
    // check 1 covers {2,3}: the rotation reaches the corruption
    val ex = intercept[IllegalStateException](check(1))
    assert(ex.getMessage.contains("3"))
    // the same check again raises again, deterministically
    val ex2 = intercept[IllegalStateException](check(1))
    assert(ex2.getMessage.contains("3"))
  }

  test("a committed batch's replay still recovers a crashed maintenance swap") {
    // a compactExport that crashed between swapDirs' two renames leaves
    // the live data dir renamed away and `.old` surviving; the next
    // entry must roll the swap back instead of appending into nothing
    val dir = tmp("exps_postcommit")
    bootstrap(dir, 4)
    append(dir, docsRange(60, 100))
    val d = new java.io.File(Export.dataDir(dir))
    assert(d.renameTo(new java.io.File(Export.dataDir(dir) + ".old")))
    spark.catalog.refreshByPath(dir)
    append(dir, docsRange(100, 120))
    Export.verifyShards(spark, dir, csCols)
    assert(totalRows(dir) == 120)
    assertSameRows(Export.readShards(spark, dir).select("doc_id", "text", "lang"),
      docsRange(0, 120))
    // and the maintenance re-run completes on the recovered layout
    assert(Export.compactExport(spark, dir, csCols) == 120)
    Export.verifyShards(spark, dir, csCols)
  }

  test("crash mid-manifest-swap is recovered at replay entry") {
    val dir = tmp("exps_swapcrash")
    bootstrap(dir, 8)
    append(dir, docsRange(60, 130))
    // the swap's crash window: live manifest renamed away to `.old`
    val m = new java.io.File(Export.manifestDir(dir))
    assert(m.renameTo(new java.io.File(Export.manifestDir(dir) + ".old")))
    spark.catalog.refreshByPath(dir)
    append(dir, docsRange(130, 150))
    Export.verifyShards(spark, dir, csCols)
    assert(totalRows(dir) == 150)
  }
}
