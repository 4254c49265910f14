package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.SparkSpec

class ExportSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString + "/exp"

  private val docs = spark.range(200).select(
    col("id").as("doc_id"),
    concat(lit("document body "), col("id")).as("text"),
    when(col("id") % 3 === 0, "en").otherwise("de").as("lang"),
    (col("id") % 7 * 100 + 20).as("n_tokens"))

  private val csCols = Seq("doc_id", "text", "lang")

  test("shardAssign: deterministic, exhaustive, in-range, ord independent of shard") {
    val a = Export.shardAssign(docs, "doc_id", 8)
    val b = Export.shardAssign(docs, "doc_id", 8)
    assertSameRows(a, b)
    assert(a.filter(col("shard") < 0 || col("shard") >= 8).isEmpty)
    assert(a.count() == 200)
    // every shard populated at n=200, k=8 (uniform hash)
    assert(a.select("shard").distinct().count() == 8)
    // ord is a different family member than shard: within one shard the
    // ord keys are not ordered by id (the shuffle is real)
    val shard0 = a.filter(col("shard") === 0).orderBy("ord")
      .select("doc_id").as[Long].collect()
    assert(shard0.length > 2 && !shard0.sameElements(shard0.sorted))
  }

  test("shardedWrite: round-trips rows, manifest matches, slices prune") {
    val dir = tmp("export")
    // a 32-partition input: the write must run 32 tasks, not nShards=8
    val manifest = Export.shardedWrite(spark, docs.repartition(32), "doc_id", csCols, 8, dir)
    assert(manifest.count() == 8)
    // round-trip: the written shards hold exactly the input rows
    val back = Export.readShards(spark, dir)
    assertSameRows(back.select("doc_id", "text", "lang", "n_tokens"), docs)
    // write parallelism is decoupled from the shard count: the initial
    // write spreads shards over MULTIPLE ord-range files (input runs at
    // 32 partitions here, so > nShards tasks), and every FILE is
    // internally ord-sorted — the multi-file form readShardOrdered and
    // the order-independent manifest are built for
    val shard3 = new java.io.File(Export.dataDir(dir), "shard=3")
      .listFiles().filter(_.getName.endsWith(".parquet"))
    val allFiles = new java.io.File(Export.dataDir(dir)).listFiles()
      .filter(_.getName.startsWith("shard="))
      .flatMap(_.listFiles()).count(_.getName.endsWith(".parquet"))
    assert(allFiles > 8,
      s"expected multi-file shards from a 32-partition input, got $allFiles files")
    assert(Export.writeTasks(Export.shardAssign(docs.repartition(32), "doc_id", 8), 8) == 32)
    shard3.foreach { f =>
      val ords = spark.read.parquet(f.toString).select("ord").as[Long].collect()
      assert(ords.sameElements(ords.sorted), s"file $f must be ord-sorted")
    }
    // and one shard re-reads in the portable global order
    val ordered = Export.readShardOrdered(spark, dir, 3)
      .select("ord").as[Long].collect()
    assert(ordered.sameElements(ordered.sorted))
    // manifest counts agree with the data
    val fromData = back.groupBy("shard").count()
    val joined = manifest.join(fromData, "shard")
      .filter(col("n_rows") =!= col("count"))
    assert(joined.isEmpty)
    // worker slice: union of slices is the corpus, disjoint, and the
    // scan prunes to the slice's partition directories
    val s0 = Export.readShardSlice(spark, dir, 0, 2)
    val s1 = Export.readShardSlice(spark, dir, 1, 2)
    assert(s0.count() + s1.count() == 200)
    assert(s0.select("doc_id").intersect(s1.select("doc_id")).isEmpty)
    val scan = s0.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), "slice must prune on the shard partition column")
  }

  test("verifyShards: green on an intact export, raises on tampering") {
    val dir = tmp("export_verify")
    Export.shardedWrite(spark, docs, "doc_id", csCols, 4, dir)
    val cmp = Export.verifyShards(spark, dir, csCols)
    assert(cmp.filter(!col("ok")).isEmpty)
    // tamper: drop one shard's files entirely
    val victim = new java.io.File(Export.dataDir(dir).replace("file:", ""), "shard=2")
    assert(victim.exists, s"fixture layout changed: $victim missing")
    victim.listFiles().foreach(_.delete()); victim.delete()
    spark.catalog.refreshByPath(dir)
    val ex = intercept[IllegalStateException] {
      Export.verifyShards(spark, dir, csCols)
    }
    assert(ex.getMessage.contains("shard"))
  }

  test("attestation tiers: count-only check, shard-subset checksum check") {
    val dir = tmp("verify_tiers")
    Export.shardedWrite(spark, docs, "doc_id", csCols, 4, dir)
    // intact: both tiers green, subset returns exactly its shards
    assert(Export.verifyShardCounts(spark, dir).filter(!col("ok")).isEmpty)
    assert(Export.verifyShardSubset(spark, dir, csCols, Seq(0, 2)).count() == 2)
    intercept[IllegalArgumentException] {
      Export.verifyShardSubset(spark, dir, csCols, Seq(4))
    }
    // tamper: drop shard 2's files — a lost-file failure, the class the
    // cheap tier exists for
    val victim = new java.io.File(Export.dataDir(dir).replace("file:", ""), "shard=2")
    assert(victim.exists, s"fixture layout changed: $victim missing")
    victim.listFiles().foreach(_.delete())
    spark.catalog.refreshByPath(dir)
    // a subset that misses the victim stays green (the caller owns
    // rotation coverage); one that includes it raises
    assert(Export.verifyShardSubset(spark, dir, csCols, Seq(0, 1, 3))
      .filter(!col("ok")).isEmpty)
    val exSub = intercept[IllegalStateException] {
      Export.verifyShardSubset(spark, dir, csCols, Seq(1, 2))
    }
    assert(exSub.getMessage.contains("2"))
    // tier-0 sees the lost files from row counts alone
    val exCnt = intercept[IllegalStateException] {
      Export.verifyShardCounts(spark, dir)
    }
    assert(exCnt.getMessage.contains("ROW COUNTS"))
  }

  test("shardedWrite: republish swaps atomically and keeps the manifest consistent") {
    val dir = tmp("export_swap")
    Export.shardedWrite(spark, docs, "doc_id", csCols, 4, dir)
    val v2 = docs.filter(col("doc_id") < 100)
    val manifest2 = Export.shardedWrite(spark, v2, "doc_id", csCols, 4, dir)
    assert(manifest2.agg(sum("n_rows")).as[Long].head() == 100)
    assertSameRows(
      Export.readShards(spark, dir).select("doc_id", "text", "lang", "n_tokens"), v2)
    Export.verifyShards(spark, dir, csCols)
    // no stale tmp or .old residue
    val parent = new java.io.File(dir).getParentFile
    assert(!parent.listFiles().exists(f =>
      f.getName.endsWith(".export.tmp") || f.getName.endsWith(".old")))
  }

  test("appendShards: incremental manifest equals the one-shot manifest, data round-trips") {
    val dir = tmp("export_append")
    val first = docs.filter(col("doc_id") < 150)
    val rest = docs.filter(col("doc_id") >= 150)
    Export.shardedWrite(spark, first, "doc_id", csCols, 8, dir)
    val merged = Export.appendShards(spark, rest, "doc_id", csCols, dir)
    // incremental == batch: same manifest as exporting everything at once
    val oneShotDir = tmp("export_oneshot")
    val oneShot = Export.shardedWrite(spark, docs, "doc_id", csCols, 8, oneShotDir)
    assertSameRows(merged, oneShot)
    // the data itself round-trips and re-verifies
    assertSameRows(
      Export.readShards(spark, dir).select("doc_id", "text", "lang", "n_tokens"), docs)
    Export.verifyShards(spark, dir, csCols)
    // append touched only NEW files: old shard files still carry the
    // first batch alone (file count grew, none rewritten)
    val shardDirs = new java.io.File(Export.dataDir(dir)).listFiles()
      .filter(_.getName.startsWith("shard="))
    assert(shardDirs.forall(_.listFiles().count(_.getName.endsWith(".parquet")) >= 2),
      "each populated shard should hold one file per generation")
  }

  test("appendShards: crash between data append and manifest swap is loud and repairable") {
    val dir = tmp("export_crash")
    Export.shardedWrite(spark, docs.filter(col("doc_id") < 150), "doc_id", csCols, 8, dir)
    // simulate the crash window: data appended, manifest NOT advanced
    val rest = Export.shardAssign(docs.filter(col("doc_id") >= 150), "doc_id", 8)
    rest.repartition(col("shard")).sortWithinPartitions(col("shard"), col("ord"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("shard").parquet(Export.dataDir(dir))
    spark.catalog.refreshByPath(dir)
    intercept[IllegalStateException] { Export.verifyShards(spark, dir, csCols) }
    Export.repairManifest(spark, dir, csCols)
    Export.verifyShards(spark, dir, csCols)
    assertSameRows(Export.readManifest(spark, dir),
      Export.shardedWrite(spark, docs, "doc_id", csCols, 8, tmp("export_crash_ref")))
  }

  test("manifest is dense: an empty shard is an explicit zero row") {
    val dir = tmp("export_dense")
    // 2 rows into 8 shards: most shards are empty
    val tiny = docs.filter(col("doc_id") < 2)
    val manifest = Export.shardedWrite(spark, tiny, "doc_id", csCols, 8, dir)
    assert(manifest.count() == 8)
    assert(manifest.filter(col("n_rows") === 0).count() == 6)
    assert(manifest.filter(col("n_rows") === 0 && col("checksum") =!= 0).isEmpty)
    Export.verifyShards(spark, dir, csCols)
    // append into a sparse export still infers the right shard count
    Export.appendShards(spark, docs.filter(col("doc_id") >= 2 && col("doc_id") < 10),
      "doc_id", csCols, dir)
    assert(Export.readManifest(spark, dir).count() == 8)
    assert(Export.readManifest(spark, dir).agg(sum("n_rows")).as[Long].head() == 10)
    Export.verifyShards(spark, dir, csCols)
  }

  test("concatExports: metadata-only merge equals the one-shot export, replay-safe") {
    val a = tmp("concat_a"); val b = tmp("concat_b"); val dst = tmp("concat_dst")
    Export.shardedWrite(spark, docs.filter(col("doc_id") % 2 === 0), "doc_id", csCols, 8, a)
    Export.shardedWrite(spark, docs.filter(col("doc_id") % 2 =!= 0), "doc_id", csCols, 8, b)

    // simulate a crashed earlier attempt: one file already moved to the
    // staging area under its deterministic name
    val aShard = new java.io.File(Export.dataDir(a)).listFiles()
      .filter(_.getName.startsWith("shard=")).head
    val victim = aShard.listFiles().filter(_.getName.endsWith(".parquet")).head
    val staged = new java.io.File(
      Export.dataDir(dst + ".export.tmp") + "/" + aShard.getName)
    staged.mkdirs()
    assert(victim.renameTo(new java.io.File(staged, "g0-" + victim.getName)))

    val merged = Export.concatExports(spark, Seq(a, b), dst)
    assert(merged.agg(sum("n_rows")).as[Long].head() == 200)
    assertSameRows(
      Export.readShards(spark, dst).select("doc_id", "text", "lang", "n_tokens"), docs)
    Export.verifyShards(spark, dst, csCols)
    // one-shot equivalence: identical manifest to exporting everything at once
    val ref = tmp("concat_ref")
    Export.shardedWrite(spark, docs, "doc_id", csCols, 8, ref)
    assertSameRows(merged, Export.readManifest(spark, ref))
    // sources are consumed
    assert(!new java.io.File(a).exists && !new java.io.File(b).exists)
    // shard-count mismatch refuses loudly
    val c = tmp("concat_c"); val d = tmp("concat_d")
    Export.shardedWrite(spark, docs.limit(10), "doc_id", csCols, 8, c)
    Export.shardedWrite(spark, docs.limit(10), "doc_id", csCols, 4, d)
    intercept[IllegalArgumentException] {
      Export.concatExports(spark, Seq(c, d), tmp("concat_bad"))
    }
  }

  test("balancedShards: contiguous in global hash order, near-equal weight, oracle-exact") {
    val n = 500
    // skewed weights: a few huge documents among many small ones
    val rows = spark.range(n).select(
      col("id").as("doc_id"),
      when(col("id") % 97 === 0, 5000L).otherwise(col("id") % 13 + 1).as("w"))
    val got = Export.balancedShards(rows, "doc_id", "w", nShards = 8, nParts = 16)

    // oracle phrasing: TRUE global window over (ord, id) — the form the
    // operator exists to avoid at scale but must equal exactly
    val ord = graft.functions.Hashing.h60(concat(lit("ord:"), col("doc_id").cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("ord"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val total = rows.agg(sum("w")).as[Long].head()
    val want = rows.withColumn("ord", ord)
      .withColumn("__p", coalesce(sum(col("w").cast("decimal(38,0)")).over(w),
        lit(java.math.BigDecimal.ZERO)))
      .withColumn("shard",
        least(expr(s"(__p * 8) div ${total}"), lit(7)).cast("int"))
      .drop("__p")
    assertSameRows(got, want)

    // balance: every shard within 2x of the ideal weight even under skew
    // (one 5000-weight doc forces a lumpy boundary; the bound is the
    // max single weight, not a percentage)
    val per = got.groupBy("shard").agg(sum("w").as("sw")).select("sw").as[Long].collect()
    assert(per.length == 8)
    val ideal = total.toDouble / 8
    assert(per.forall(_ <= ideal + 5000), s"shard weight exceeds ideal+maxw: ${per.mkString(",")}")

    // contiguity: shards partition the global (ord, id) order into runs
    val seq = got.withColumn("ord", ord).orderBy("ord", "doc_id")
      .select("shard").as[Int].collect()
    assert(seq.zip(seq.tail).forall { case (a, b) => a <= b }, "shard must be monotone in global order")
  }

  test("concatExports: replay after a completed publish is cleanup, not a data wipe") {
    // the post-publish crash window: dst published, source skeletons
    // (manifest dirs intact, data dirs empty) not yet deleted — a
    // replay must NOT rebuild an empty staging and swap it over the
    // real merged data
    val a = tmp("concat_ra"); val b = tmp("concat_rb"); val dst = tmp("concat_rdst")
    Export.shardedWrite(spark, docs.filter(col("doc_id") % 2 === 0), "doc_id", csCols, 8, a)
    Export.shardedWrite(spark, docs.filter(col("doc_id") % 2 =!= 0), "doc_id", csCols, 8, b)
    // stash the source manifests (what survives the crash window)
    val stash = Files.createTempDirectory("concat_stash").toString
    for ((s, n) <- Seq((a, "a"), (b, "b"))) {
      val from = new java.io.File(Export.manifestDir(s))
      val to = new java.io.File(stash, n)
      org.apache.commons.io.FileUtils.copyDirectory(from, to)
    }
    val merged = Export.concatExports(spark, Seq(a, b), dst)
    assert(merged.agg(sum("n_rows")).as[Long].head() == 200)
    // recreate the crash state: sources exist again with manifests but
    // EMPTY data dirs (every file already moved into dst), carrying the
    // _merged_into stamp the real run writes before publishing
    for ((s, n) <- Seq((a, "a"), (b, "b"))) {
      new java.io.File(Export.dataDir(s)).mkdirs()
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(stash, n), new java.io.File(Export.manifestDir(s)))
      java.nio.file.Files.write(
        new java.io.File(Export.manifestDir(s), "_merged_into").toPath,
        dst.getBytes("UTF-8"))
    }
    val replayed = Export.concatExports(spark, Seq(a, b), dst)
    // dst data survives intact, manifest still attests to it, sources
    // are cleaned up
    assert(replayed.agg(sum("n_rows")).as[Long].head() == 200)
    assertSameRows(
      Export.readShards(spark, dst).select("doc_id", "text", "lang", "n_tokens"), docs)
    Export.verifyShards(spark, dst, csCols)
    assert(!new java.io.File(a).exists && !new java.io.File(b).exists)
    // replay after cleanup finished: sources fully gone — returns the
    // live manifest untouched
    val again = Export.concatExports(spark, Seq(a, b), dst)
    assert(again.agg(sum("n_rows")).as[Long].head() == 200)
    Export.verifyShards(spark, dst, csCols)
  }

  test("compactExport: pre-swap divergence refuses to replace the live copy") {
    val dir = tmp("compact_diverge")
    Export.shardedWrite(spark, docs, "doc_id", csCols, 4, dir)
    // corrupt the live copy: drop one data file — the rewrite's
    // recomputed manifest can no longer match the live manifest, and
    // the compaction must refuse BEFORE any swap (the good-copy-
    // destroyed-first hazard)
    val shardDir = new java.io.File(Export.dataDir(dir), "shard=1")
    val victim = shardDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    assert(victim.delete())
    spark.catalog.refreshByPath(dir)
    val before = new java.io.File(Export.dataDir(dir)).listFiles()
      .filter(_.getName.startsWith("shard="))
      .flatMap(_.listFiles()).map(_.getName).toSet
    val ex = intercept[IllegalStateException] {
      Export.compactExport(spark, dir, csCols)
    }
    assert(ex.getMessage.contains("not swapping"))
    // live layout untouched; no staged residue
    val after = new java.io.File(Export.dataDir(dir)).listFiles()
      .filter(_.getName.startsWith("shard="))
      .flatMap(_.listFiles()).map(_.getName).toSet
    assert(after == before, "a refused compaction must leave the live files alone")
    assert(!new java.io.File(Export.dataDir(dir) + ".compact.tmp").exists)
  }

  test("compactExport: a zero-row export short-circuits instead of crashing") {
    val dir = tmp("compact_empty")
    Export.shardedWrite(spark, docs.limit(0), "doc_id", csCols, 4, dir)
    assert(Export.compactExport(spark, dir, csCols) == 0L)
    assert(Export.readManifest(spark, dir).agg(sum("n_rows")).as[Long].head() == 0)
    Export.verifyShards(spark, dir, csCols)
  }

  test("repairManifest: rebuilds a manifest deleted by operator error") {
    val dir = tmp("repair_lost")
    // materialize the original manifest BEFORE deleting it (a lazy
    // frame would chase the deleted files)
    val want = canon(Export.shardedWrite(spark, docs, "doc_id", csCols, 8, dir))
    // operator error: the whole manifest dir is gone
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(Export.manifestDir(dir)))
    spark.catalog.refreshByPath(dir)
    val repaired = Export.repairManifest(spark, dir, csCols)
    // shard count inferred from the shard=K directories; stats rebuilt
    // from the data — identical to the original
    assert(canon(repaired) == want)
    Export.verifyShards(spark, dir, csCols)
  }

  test("appendShards: entry recovery finishes a crashed manifest swap") {
    val dir = tmp("append_recover")
    Export.shardedWrite(spark, docs.filter(col("doc_id") < 150), "doc_id", csCols, 8, dir)
    // simulate a crash inside publishManifest's swap: live manifest
    // renamed away, .old surviving
    val m = new java.io.File(Export.manifestDir(dir))
    assert(m.renameTo(new java.io.File(Export.manifestDir(dir) + ".old")))
    spark.catalog.refreshByPath(dir)
    // appendShards must recover at entry instead of failing readManifest
    Export.appendShards(spark, docs.filter(col("doc_id") >= 150), "doc_id", csCols, dir)
    Export.verifyShards(spark, dir, csCols)
    assert(Export.readManifest(spark, dir).agg(sum("n_rows")).as[Long].head() == 200)
  }

  test("appendShards: schema drift is refused loudly, benign reshapes are not") {
    val dir = tmp("append_drift")
    Export.shardedWrite(spark, docs.filter(col("doc_id") < 100), "doc_id", csCols, 4, dir)
    // type drift on one column: refused before a single file lands
    val drifted = docs.filter(col("doc_id") >= 100)
      .withColumn("n_tokens", col("n_tokens").cast("string"))
    val ex = intercept[IllegalArgumentException] {
      Export.appendShards(spark, drifted, "doc_id", csCols, dir)
    }
    assert(ex.getMessage.contains("drifts") && ex.getMessage.contains("n_tokens"))
    // a dropped column is drift too
    val narrow = docs.filter(col("doc_id") >= 100).drop("lang")
    intercept[IllegalArgumentException] {
      Export.appendShards(spark, narrow, "doc_id", csCols, dir)
    }
    // nothing landed: the export still verifies at its original count
    Export.verifyShards(spark, dir, csCols)
    assert(Export.readManifest(spark, dir).agg(sum("n_rows")).as[Long].head() == 100)
    // column ORDER is not drift (parquet reconciles by name)
    val reordered = docs.filter(col("doc_id") >= 100)
      .select("n_tokens", "lang", "text", "doc_id")
    Export.appendShards(spark, reordered, "doc_id", csCols, dir)
    Export.verifyShards(spark, dir, csCols)
    assert(Export.readManifest(spark, dir).agg(sum("n_rows")).as[Long].head() == 200)
  }

  test("concatExports: sources with drifting schemas are refused before any file moves") {
    val a = tmp("concat_da"); val b = tmp("concat_db")
    Export.shardedWrite(spark, docs.filter(col("doc_id") < 100), "doc_id", csCols, 4, a)
    Export.shardedWrite(spark,
      docs.filter(col("doc_id") >= 100).withColumn("n_tokens", col("n_tokens").cast("string")),
      "doc_id", csCols, 4, b)
    val filesBefore = new java.io.File(Export.dataDir(a)).listFiles()
      .filter(_.getName.startsWith("shard=")).flatMap(_.listFiles()).length
    intercept[IllegalArgumentException] {
      Export.concatExports(spark, Seq(a, b), tmp("concat_ddst"))
    }
    // no file moved out of either source
    val filesAfter = new java.io.File(Export.dataDir(a)).listFiles()
      .filter(_.getName.startsWith("shard=")).flatMap(_.listFiles()).length
    assert(filesAfter == filesBefore, "refusal must precede the move loop")
    Export.verifyShards(spark, a, csCols)
    Export.verifyShards(spark, b, csCols)
  }

  test("readShardFrom: resumes strictly after the ord position, pruning files below it") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = tmp("resume")
    // 32-partition input -> multiple ord-range-disjoint files per shard
    Export.shardedWrite(spark, docs.repartition(32), "doc_id", csCols, 4, dir)
    val all = Export.readShardOrdered(spark, dir, 2)
      .select("ord").as[Long].collect()
    assert(all.length > 3)
    // resume from just after the 75th percentile ord
    val cut = all(all.length * 3 / 4)
    val resumed = Export.readShardFrom(spark, dir, 2, cut)
    val got = resumed.select("ord").as[Long].collect()
    assert(got.sameElements(all.filter(_ > cut)), "resume must be exactly the strict suffix")
    // the scan prunes: files wholly below the resume point are skipped
    // (every file is ord-sorted and files are ord-range disjoint), so
    // scanned rows stay well under the shard's total
    val consumed = resumed.agg(count(lit(1)))
    consumed.collect()
    val scanned = collectWithSubqueries(consumed.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics("numOutputRows").value
    }.sum
    assert(scanned < all.length,
      s"resume scan must row-group-prune below the cut: scanned $scanned of ${all.length}")
  }

  test("reshardExport: new shard count equals the one-shot export, atomically") {
    val dir = tmp("reshard")
    Export.shardedWrite(spark, docs, "doc_id", csCols, 4, dir)
    val manifest = Export.reshardExport(spark, dir, "doc_id", csCols, newNShards = 16)
    assert(manifest.count() == 16)
    // identical to exporting the corpus at 16 shards from scratch
    val ref = tmp("reshard_ref")
    Export.shardedWrite(spark, docs, "doc_id", csCols, 16, ref)
    assert(canon(manifest) == canon(Export.readManifest(spark, ref)))
    assertSameRows(
      Export.readShards(spark, dir).select("doc_id", "text", "lang", "n_tokens"), docs)
    Export.verifyShards(spark, dir, csCols)
    // append keeps working against the new count
    val extra = spark.range(200, 210).select(
      col("id").as("doc_id"), concat(lit("document body "), col("id")).as("text"),
      when(col("id") % 3 === 0, "en").otherwise("de").as("lang"),
      (col("id") % 7 * 100 + 20).as("n_tokens"))
    Export.appendShards(spark, extra, "doc_id", csCols, dir)
    Export.verifyShards(spark, dir, csCols)
    assert(Export.readManifest(spark, dir).agg(sum("n_rows")).as[Long].head() == 210)
    // no swap residue
    val parent = new java.io.File(dir).getParentFile
    assert(!parent.listFiles().exists(f =>
      f.getName.endsWith(".export.tmp") || f.getName.endsWith(".old")))
  }

  test("concatExports: post-publish cleanup against the WRONG dst is refused") {
    // the containment guard: sources claiming rows over empty data are
    // only cleanup-deleted when dst actually holds what they claim
    val a = tmp("concat_wa"); val dst = tmp("concat_wdst"); val other = tmp("concat_wother")
    Export.shardedWrite(spark, docs, "doc_id", csCols, 4, a)
    // an unrelated, smaller export at the would-be dst
    Export.shardedWrite(spark, docs.limit(5), "doc_id", csCols, 4, other)
    // simulate a's post-publish skeleton state (manifest intact, data gone)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(Export.dataDir(a)))
    new java.io.File(Export.dataDir(a)).mkdirs()
    spark.catalog.refreshByPath(a)
    val ex = intercept[IllegalArgumentException] {
      Export.concatExports(spark, Seq(a), other)
    }
    assert(ex.getMessage.contains("refusing post-publish cleanup"))
    // the mis-targeted source skeleton survives for forensics
    assert(new java.io.File(Export.manifestDir(a)).exists)
  }

  test("concatExports: dst that is also a source is refused before anything moves") {
    val a = tmp("concat_selfa"); val b = tmp("concat_selfb")
    Export.shardedWrite(spark, docs.filter(col("doc_id") < 100), "doc_id", csCols, 4, a)
    Export.shardedWrite(spark, docs.filter(col("doc_id") >= 100), "doc_id", csCols, 4, b)
    val ex = intercept[IllegalArgumentException] {
      Export.concatExports(spark, Seq(a, b), a)
    }
    assert(ex.getMessage.contains("also a source"))
    // and a source listed twice would double-count its manifest
    val ex2 = intercept[IllegalArgumentException] {
      Export.concatExports(spark, Seq(a, b, a + "/"), tmp("concat_selfdst"))
    }
    assert(ex2.getMessage.contains("more than once"))
    // both sources untouched
    Export.verifyShards(spark, a, csCols)
    Export.verifyShards(spark, b, csCols)
  }

  test("repairManifest: a repair from a lost manifest restores the _schema sidecar") {
    val dir = tmp("repair_sidecar")
    Export.shardedWrite(spark, docs, "doc_id", csCols, 4, dir)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(Export.manifestDir(dir)))
    spark.catalog.refreshByPath(dir)
    Export.repairManifest(spark, dir, csCols)
    assert(new java.io.File(Export.manifestDir(dir), "_schema").exists,
      "repair must rewrite the schema sidecar or the drift gate goes inert")
    // the gate works again: a drifting append is refused
    intercept[IllegalArgumentException] {
      Export.appendShards(spark,
        spark.range(200, 210).select(col("id").as("doc_id"),
          lit("x").as("text"), lit("en").as("lang"),
          lit("oops").as("n_tokens")),
        "doc_id", csCols, dir)
    }
    Export.verifyShards(spark, dir, csCols)
  }

  test("reshardExport: a crash inside the top-level publish swap is recovered on re-run") {
    val dir = tmp("reshard_crash")
    Export.shardedWrite(spark, docs, "doc_id", csCols, 4, dir)
    // simulate the swap's crash window: whole export dir renamed away,
    // .old surviving (the fresh tmp may be incomplete — delete it, the
    // rollback treats .old as the source of truth)
    assert(new java.io.File(dir).renameTo(new java.io.File(dir + ".old")))
    spark.catalog.refreshByPath(dir)
    val manifest = Export.reshardExport(spark, dir, "doc_id", csCols, newNShards = 8)
    assert(manifest.count() == 8)
    assertSameRows(
      Export.readShards(spark, dir).select("doc_id", "text", "lang", "n_tokens"), docs)
    Export.verifyShards(spark, dir, csCols)
  }

  test("balancedShards: result is nParts-invariant (derived default vs explicit)") {
    val rows = spark.range(300).select(
      col("id").as("doc_id"), (col("id") % 11 + 1).as("w"))
    val derived = Export.balancedShards(rows, "doc_id", "w", nShards = 6)
    val explicit = Export.balancedShards(rows, "doc_id", "w", nShards = 6, nParts = 16)
    assertSameRows(derived, explicit)
  }

  test("placement stamp: exports are self-describing, hash appends into assigned layouts are refused") {
    // hash publish stamps hash; the whole hash family keeps working
    val h = tmp("place_hash")
    Export.shardedWrite(spark, docs, "doc_id", csCols, 4, h)
    assert(Export.readPlacement(spark, h).contains("hash"))
    // assigned publish stamps assigned
    val a = tmp("place_asgn")
    Export.shardedWriteAssigned(spark,
      Export.balancedShards(docs, "doc_id", "n_tokens", 4), csCols, 4, a)
    assert(Export.readPlacement(spark, a).contains("assigned"))
    val extra = spark.range(200, 220).select(
      col("id").as("doc_id"), concat(lit("document body "), col("id")).as("text"),
      when(col("id") % 3 === 0, "en").otherwise("de").as("lang"),
      (col("id") % 7 * 100 + 20).as("n_tokens"))
    // a hash-placed batch must NOT enter the balanced layout: the mixed
    // directory would break both the token balance and the h60 contract
    val ex1 = intercept[IllegalArgumentException] {
      Export.appendShards(spark, extra, "doc_id", csCols, a)
    }
    assert(ex1.getMessage.contains("placement=assigned"))
    val ex2 = intercept[IllegalArgumentException] {
      Export.reshardExport(spark, a, "doc_id", csCols, newNShards = 8)
    }
    assert(ex2.getMessage.contains("placement=assigned"))
    // the refusals left the assigned export untouched
    Export.verifyShards(spark, a, csCols)
    // the stamp survives a manifest advance (append into the HASH export)
    Export.appendShards(spark, extra, "doc_id", csCols, h)
    assert(Export.readPlacement(spark, h).contains("hash"))
    Export.verifyShards(spark, h, csCols)
    // concat refuses mixed placement kinds before anything moves
    val ex3 = intercept[IllegalArgumentException] {
      Export.concatExports(spark, Seq(h, a), tmp("place_mixdst"))
    }
    assert(ex3.getMessage.contains("mix placement"))
    Export.verifyShards(spark, h, csCols)
    Export.verifyShards(spark, a, csCols)
    // all-assigned concat is legal and the merged dst inherits the stamp
    val a2 = tmp("place_asgn2")
    Export.shardedWriteAssigned(spark,
      Export.balancedShards(extra, "doc_id", "n_tokens", 4), csCols, 4, a2)
    val dst = tmp("place_adst")
    Export.concatExports(spark, Seq(a, a2), dst)
    assert(Export.readPlacement(spark, dst).contains("assigned"))
  }

  test("rebalanceExport: in-place refresh equals a from-scratch balanced export, crash-safe") {
    val dir = tmp("rebal")
    Export.shardedWrite(spark, docs, "doc_id", csCols, 4, dir)
    val manifest = Export.rebalanceExport(spark, dir, "doc_id", "n_tokens", csCols)
    assert(manifest.count() == 4)
    assert(Export.readPlacement(spark, dir).contains("assigned"))
    // identical to balancing the same rows from scratch
    val ref = tmp("rebal_ref")
    Export.shardedWriteAssigned(spark,
      Export.balancedShards(docs, "doc_id", "n_tokens", 4), csCols, 4, ref)
    assert(canon(manifest) == canon(Export.readManifest(spark, ref)))
    assertSameRows(
      Export.readShards(spark, dir).select("doc_id", "text", "lang", "n_tokens"), docs)
    Export.verifyShards(spark, dir, csCols)
    // and it is the sanctioned refresh for an already-assigned export:
    // re-balancing to a new shard count works where reshard refuses
    val m6 = Export.rebalanceExport(spark, dir, "doc_id", "n_tokens", csCols, nShards = 6)
    assert(m6.count() == 6)
    Export.verifyShards(spark, dir, csCols)
    // crash inside the top-level publish swap is recovered on re-run
    assert(new java.io.File(dir).renameTo(new java.io.File(dir + ".old")))
    spark.catalog.refreshByPath(dir)
    val again = Export.rebalanceExport(spark, dir, "doc_id", "n_tokens", csCols)
    assert(again.count() == 6)
    assertSameRows(
      Export.readShards(spark, dir).select("doc_id", "text", "lang", "n_tokens"), docs)
    Export.verifyShards(spark, dir, csCols)
  }

  test("concatExports: a missing source on a fresh merge is refused loudly") {
    val a = tmp("concat_ma"); val b = tmp("concat_mb")
    Export.shardedWrite(spark, docs.filter(col("doc_id") < 100), "doc_id", csCols, 4, a)
    Export.shardedWrite(spark, docs.filter(col("doc_id") >= 100), "doc_id", csCols, 4, b)
    val ghost = a + "_typo"
    val ex = intercept[IllegalArgumentException] {
      Export.concatExports(spark, Seq(a, ghost, b), tmp("concat_mdst"))
    }
    assert(ex.getMessage.contains("do not exist"))
    // nothing moved, nothing deleted: both real sources fully intact
    Export.verifyShards(spark, a, csCols)
    Export.verifyShards(spark, b, csCols)
    // and a missing source with an UNSTAMPED survivor is equally not a
    // replay, even when something already lives at dst
    val dst2 = tmp("concat_mdst2")
    Export.shardedWrite(spark, docs, "doc_id", csCols, 4, dst2)
    val ex2 = intercept[IllegalArgumentException] {
      Export.concatExports(spark, Seq(a, ghost), dst2)
    }
    assert(ex2.getMessage.contains("not a replay"))
    Export.verifyShards(spark, a, csCols)
    // the legitimate partial-cleanup replay still completes: survivor is
    // a stamped post-publish skeleton, dst holds everything it claims
    val dst3 = tmp("concat_mdst3")
    Export.shardedWrite(spark, docs.filter(col("doc_id") < 100), "doc_id", csCols, 4, dst3)
    val s = tmp("concat_ms")
    Export.shardedWrite(spark, docs.filter(col("doc_id") < 100), "doc_id", csCols, 4, s)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(Export.dataDir(s)))
    new java.io.File(Export.dataDir(s)).mkdirs()
    val stamp = new java.io.FileOutputStream(
      new java.io.File(Export.manifestDir(s), "_merged_into"))
    stamp.write(dst3.getBytes("UTF-8")); stamp.close()
    spark.catalog.refreshByPath(s)
    val merged = Export.concatExports(spark, Seq(s, ghost), dst3)
    assert(merged.agg(sum("n_rows")).as[Long].head() == 100)
    assert(!new java.io.File(s).exists, "completed replay must finish the cleanup")
  }

  test("evolveExportSchema: additive nullable evolution, gate still refuses accidents") {
    val dir = tmp("evolve")
    Export.shardedWrite(spark, docs, "doc_id", csCols, 4, dir)
    // the sanctioned path: one new nullable column
    import org.apache.spark.sql.types.{DoubleType, StructField}
    Export.evolveExportSchema(spark, dir, Seq(StructField("quality", DoubleType, nullable = true)))
    // old files read with nulls in the new column
    val back = Export.readShards(spark, dir)
    assert(back.columns.contains("quality"))
    assert(back.filter(col("quality").isNotNull).isEmpty)
    assertSameRows(back.select("doc_id", "text", "lang", "n_tokens"), docs)
    // the gate now requires the NEW shape: an old-shape append is drift
    val oldShape = spark.range(200, 210).select(
      col("id").as("doc_id"), concat(lit("document body "), col("id")).as("text"),
      when(col("id") % 3 === 0, "en").otherwise("de").as("lang"),
      (col("id") % 7 * 100 + 20).as("n_tokens"))
    val ex = intercept[IllegalArgumentException] {
      Export.appendShards(spark, oldShape, "doc_id", csCols, dir)
    }
    assert(ex.getMessage.contains("drifts"))
    // a new-shape append lands, and reads resolve both generations by name
    Export.appendShards(spark, oldShape.withColumn("quality", lit(0.5)),
      "doc_id", csCols, dir)
    val evolved = Export.readShards(spark, dir)
    assert(evolved.count() == 210)
    assert(evolved.filter(col("quality").isNotNull).count() == 10)
    // manifest attestation green across the evolution boundary
    Export.verifyShards(spark, dir, csCols)
    // un-sanctioned evolutions are refused: existing name, non-nullable
    intercept[IllegalArgumentException] {
      Export.evolveExportSchema(spark, dir,
        Seq(StructField("text", DoubleType, nullable = true)))
    }
    intercept[IllegalArgumentException] {
      Export.evolveExportSchema(spark, dir,
        Seq(StructField("score", DoubleType, nullable = false)))
    }
  }

  test("takedown after evolution: the delete rewrite carries the evolved schema") {
    // the migration-matrix interaction: old-generation files LACK the
    // evolved column, the delete's staged rewrite reads under the
    // sidecar schema (nulls by name) and re-writes survivors in the
    // evolved shape — attestation and by-name reads stay green across
    // shards that now mix pre-evolution files with rewritten ones
    val dir = tmp("evolve_delete")
    Export.shardedWrite(spark, docs, "doc_id", csCols, 4, dir)
    import org.apache.spark.sql.types.{DoubleType, StructField}
    Export.evolveExportSchema(spark, dir,
      Seq(StructField("quality", DoubleType, nullable = true)))
    val batch = spark.range(200, 210).select(
      col("id").as("doc_id"), concat(lit("document body "), col("id")).as("text"),
      when(col("id") % 3 === 0, "en").otherwise("de").as("lang"),
      (col("id") % 7 * 100 + 20).as("n_tokens"),
      lit(0.7).as("quality"))
    Export.appendShards(spark, batch, "doc_id", csCols, dir)
    // victims span the generations: one pre-evolution id, one appended
    Export.deleteIdsFromExport(spark, dir,
      Seq(5L, 205L).toDF("doc_id"), "doc_id", csCols)
    val back = Export.readShards(spark, dir)
    assert(back.count() == 208)
    assert(back.filter(col("doc_id").isin(5L, 205L)).isEmpty)
    // the evolved column survives the rewrite: appended rows keep their
    // values, pre-evolution rows keep reading null
    assert(back.filter(col("quality").isNotNull).count() == 9)
    assert(back.filter(col("doc_id") < 200 && col("quality").isNotNull).isEmpty)
    Export.verifyShards(spark, dir, csCols)
  }

  test("dropColumnsFromExport: destructive migration preserves placement, refuses bad bases") {
    val dir = tmp("dropcol")
    Export.shardedWrite(spark, docs, "doc_id", csCols, 8, dir)
    val shardsBefore = Export.readShards(spark, dir)
      .select("doc_id", "shard").orderBy("doc_id").as[(Long, Int)].collect().toSeq
    val m = Export.dropColumnsFromExport(spark, dir, Seq("n_tokens"),
      Seq("doc_id", "text", "lang"))
    assert(m.count() == 8)
    val after = Export.readShards(spark, dir)
    // the column is gone from files AND the sidecar-described schema
    assert(!after.columns.contains("n_tokens"))
    // no row moved between shards: placement reused, not recomputed
    assert(after.select("doc_id", "shard").orderBy("doc_id")
      .as[(Long, Int)].collect().toSeq == shardsBefore)
    assert(Export.readPlacement(spark, dir).contains("hash"))
    Export.verifyShards(spark, dir, Seq("doc_id", "text", "lang"))
    // the drift gate now speaks the NEW shape: an old-shape append is drift
    intercept[IllegalArgumentException] {
      Export.appendShards(spark,
        spark.range(200, 205).select(col("id").as("doc_id"), lit("x").as("text"),
          lit("en").as("lang"), lit(1L).as("n_tokens")),
        "doc_id", csCols, dir)
    }
    // refusals: layout columns, absent columns, checksum basis overlap
    intercept[IllegalArgumentException] {
      Export.dropColumnsFromExport(spark, dir, Seq("ord"), csCols)
    }
    intercept[IllegalArgumentException] {
      Export.dropColumnsFromExport(spark, dir, Seq("no_such_col"), csCols)
    }
    intercept[IllegalArgumentException] {
      Export.dropColumnsFromExport(spark, dir, Seq("lang"), csCols)
    }
    // an assigned layout keeps its stamp (and its row placement) too
    val a = tmp("dropcol_assigned")
    Export.shardedWriteAssigned(spark,
      Export.balancedShards(docs, "doc_id", "n_tokens", 4), csCols, 4, a)
    val aBefore = Export.readShards(spark, a)
      .select("doc_id", "shard").orderBy("doc_id").as[(Long, Int)].collect().toSeq
    Export.dropColumnsFromExport(spark, a, Seq("n_tokens"),
      Seq("doc_id", "text", "lang"))
    assert(Export.readPlacement(spark, a).contains("assigned"))
    assert(Export.readShards(spark, a).select("doc_id", "shard").orderBy("doc_id")
      .as[(Long, Int)].collect().toSeq == aBefore)
    Export.verifyShards(spark, a, Seq("doc_id", "text", "lang"))
  }

  test("repairManifest: explicit nShards recovers trailing empty shards inference cannot see") {
    // one row whose shard is provably not the last: data-derived
    // inference then undercounts, the override restores the contract
    val candidates = Export.shardAssign(docs.filter(col("doc_id") < 20), "doc_id", 8)
      .select("doc_id", "shard").as[(Long, Int)].collect()
    val (pickId, s0) = candidates.find(_._2 < 7).get
    val one = docs.filter(col("doc_id") === pickId)
    val dir = tmp("repair_n")
    Export.shardedWrite(spark, one, "doc_id", csCols, 8, dir)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(Export.manifestDir(dir)))
    spark.catalog.refreshByPath(dir)
    // blind inference: attests only 1 + max populated shard
    val inferred = Export.repairManifest(spark, dir, csCols)
    assert(inferred.count() == s0 + 1)
    // explicit count: the full dense manifest, placement contract intact
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(Export.manifestDir(dir)))
    spark.catalog.refreshByPath(dir)
    // (manifest lost) an override SMALLER than what the data proves is refused
    val ex = intercept[IllegalArgumentException] {
      Export.repairManifest(spark, dir, csCols, nShards = s0)
    }
    assert(ex.getMessage.contains("smaller"))
    val repaired = Export.repairManifest(spark, dir, csCols, nShards = 8)
    assert(repaired.count() == 8)
    assert(repaired.agg(sum("n_rows")).as[Long].head() == 1)
    Export.verifyShards(spark, dir, csCols)
    // while a manifest SURVIVES it is authoritative: an override may
    // only confirm it — repairing a live export to a LARGER count would
    // publish a modulus that disagrees with every row's placement
    val ex2 = intercept[IllegalArgumentException] {
      Export.repairManifest(spark, dir, csCols, nShards = 16)
    }
    assert(ex2.getMessage.contains("authoritative"))
    assert(Export.repairManifest(spark, dir, csCols, nShards = 8).count() == 8)
  }

  private def shardFiles(dir: String): Map[String, Set[String]] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    new java.io.File(Export.dataDir(dir)).listFiles()
      .filter(_.getName.startsWith("shard=")).map { d =>
        d.getName -> walk(d).filter(_.getName.endsWith(".parquet"))
          .map(_.getPath).toSet
      }.toMap
  }

  test("deleteFromExport: only affected shards rewritten, manifest exact, replay-safe") {
    val dir = tmp("del")
    Export.shardedWrite(spark, docs, "doc_id", csCols, 8, dir)
    val before = shardFiles(dir)
    // narrow delete: one row -> ONE shard rewritten, seven untouched
    val victim = 42L
    val vShard = Export.shardAssign(docs.filter(col("doc_id") === victim),
      "doc_id", 8).select("shard").as[Int].head()
    val m1 = Export.deleteFromExport(spark, dir, col("doc_id") === victim, csCols)
    assert(m1.agg(sum("n_rows")).as[Long].head() == 199)
    val after = shardFiles(dir)
    before.foreach { case (shard, files) =>
      if (shard == s"shard=$vShard")
        assert(files.intersect(after(shard)).isEmpty, "affected shard must be rewritten")
      else assert(files == after(shard), s"untouched $shard must keep its bytes")
    }
    Export.verifyShards(spark, dir, csCols)
    // the deletion is exact: remaining rows = everything but the victim
    assertSameRows(Export.readShards(spark, dir)
      .select("doc_id", "text", "lang", "n_tokens"),
      docs.filter(col("doc_id") =!= victim))
    // identical delete again: a no-op (nothing matches), bytes untouched
    val m2 = Export.deleteFromExport(spark, dir, col("doc_id") === victim, csCols)
    assert(canon(m2) == canon(m1))
    assert(shardFiles(dir) == after)
    // broad delete across every shard; NULL predicate keeps its rows
    val pred = when(col("lang") === "en", lit(true))
      .otherwise(lit(null).cast("boolean"))
    Export.deleteFromExport(spark, dir, pred, csCols)
    assertSameRows(Export.readShards(spark, dir)
      .select("doc_id", "text", "lang", "n_tokens"),
      docs.filter(col("doc_id") =!= victim && col("lang") =!= "en"))
    Export.verifyShards(spark, dir, csCols)
    // full wipe: export stays readable and attested at zero rows
    Export.deleteFromExport(spark, dir, lit(true), csCols)
    assert(Export.readShards(spark, dir).isEmpty)
    assert(Export.readManifest(spark, dir).agg(sum("n_rows")).as[Long].head() == 0)
    Export.verifyShards(spark, dir, csCols)
  }

  test("deleteFromExport: a crashed per-shard swap is rolled back at the next entry") {
    val dir = tmp("del_crash")
    Export.shardedWrite(spark, docs, "doc_id", csCols, 8, dir)
    // simulate the crash window: shard parked in the staging area, the
    // staged replacement never renamed in
    val vShard = Export.shardAssign(docs.filter(col("doc_id") === 7),
      "doc_id", 8).select("shard").as[Int].head()
    val removed = new java.io.File(Export.dataDir(dir) + ".delete.tmp/.removed")
    assert(removed.mkdirs())
    val liveShard = new java.io.File(Export.dataDir(dir), s"shard=$vShard")
    assert(liveShard.renameTo(new java.io.File(removed, s"shard=$vShard")))
    spark.catalog.refreshByPath(dir)
    // the re-run restores the parked shard, then applies the delete
    val m = Export.deleteFromExport(spark, dir, col("doc_id") === 7, csCols)
    assert(m.agg(sum("n_rows")).as[Long].head() == 199)
    assertSameRows(Export.readShards(spark, dir)
      .select("doc_id", "text", "lang", "n_tokens"),
      docs.filter(col("doc_id") =!= 7))
    Export.verifyShards(spark, dir, csCols)
    assert(!new java.io.File(Export.dataDir(dir) + ".delete.tmp").exists,
      "staging must be cleaned up")
    // deletion never re-places rows: it works on an assigned layout too
    val a = tmp("del_assigned")
    Export.shardedWriteAssigned(spark,
      Export.balancedShards(docs, "doc_id", "n_tokens", 4), csCols, 4, a)
    Export.deleteFromExport(spark, a, col("doc_id") < 50, csCols)
    assert(Export.readPlacement(spark, a).contains("assigned"))
    assert(Export.readShards(spark, a).count() == 150)
    Export.verifyShards(spark, a, csCols)
  }

  test("a crashed delete's manifest divergence is reconciled from the staged premanifest") {
    // deleteCore publishes the post-delete manifest BEFORE the per-shard
    // swaps; a crash in that window used to leave manifest and data
    // durably divergent after the rollback (loud in verifyShards, fixed
    // only by re-running the identical delete). The staged _premanifest
    // now lets recoverDelete republish the pre-delete rows for every
    // shard whose swap did not complete — manifest and bytes re-agree
    // with no operator action.
    val dir = tmp("del_reconcile")
    Export.shardedWrite(spark, docs, "doc_id", csCols, 8, dir)
    val m0 = canon(Export.readManifest(spark, dir))
    val vShard = Export.shardAssign(docs.filter(col("doc_id") === 7),
      "doc_id", 8).select("shard").as[Int].head()
    // simulate deleteCore crashing right after parking the victim shard:
    // premanifest staged, DIVERGENT manifest published, live dir parked,
    // staged replacement never renamed in
    val stagedRoot = Export.dataDir(dir) + ".delete.tmp"
    Export.readManifest(spark, dir).filter(col("shard") === vShard)
      .coalesce(1).write.parquet(s"$stagedRoot/_premanifest")
    val diverged = Export.readManifest(spark, dir).withColumn("n_rows",
      when(col("shard") === vShard, col("n_rows") - 1).otherwise(col("n_rows")))
    Export.publishManifest(spark, dir, diverged)
    val removed = new java.io.File(s"$stagedRoot/.removed")
    assert(removed.mkdirs())
    val liveShard = new java.io.File(Export.dataDir(dir), s"shard=$vShard")
    assert(liveShard.renameTo(new java.io.File(removed, s"shard=$vShard")))
    spark.catalog.refreshByPath(dir)
    // while the window is open, the divergence IS loud
    assertThrows[IllegalStateException](Export.verifyShards(spark, dir, csCols))
    // any writer entry reconciles: parked shard restored AND the
    // manifest's pre-delete row republished — verifyShards green again
    Export.appendShards(spark, docs.limit(0), "doc_id", csCols, dir)
    assert(canon(Export.readManifest(spark, dir)) == m0,
      "the rolled-back shard's manifest row must return to its pre-delete value")
    Export.verifyShards(spark, dir, csCols)
    assert(Export.readShards(spark, dir).count() == 200)
    // the complementary half: a COMPLETED swap's shard keeps its NEW row.
    // Run a real delete to completion, then re-stage only its premanifest
    // beside an obsolete parked copy (live dir present) — recovery must
    // NOT restore the old row for a completed shard.
    val m1 = Export.deleteFromExport(spark, dir, col("doc_id") === 7, csCols)
    val m1c = canon(m1)
    Export.readManifest(spark, dir).filter(col("shard") === vShard)
      .withColumn("n_rows", col("n_rows") + 1) // the stale pre-delete row
      .coalesce(1).write.parquet(s"$stagedRoot/_premanifest")
    val removed2 = new java.io.File(s"$stagedRoot/.removed/shard=$vShard")
    assert(removed2.mkdirs()) // obsolete parked copy; live dir exists
    Export.appendShards(spark, docs.limit(0), "doc_id", csCols, dir)
    assert(canon(Export.readManifest(spark, dir)) == m1c,
      "a completed swap's manifest row must survive reconciliation")
    Export.verifyShards(spark, dir, csCols)
  }

  test("delete residue is healed at any writer entry before new files can land") {
    // the hazard: a crashed delete parked shard K (live dir missing);
    // if an append recreated shard K FIRST, a later rollback would read
    // the half-done swap as complete and wipe the parked original —
    // losing every pre-delete row of the shard. Every writer entry now
    // heals the residue before touching data.
    val dir = tmp("del_heal")
    Export.shardedWrite(spark, docs, "doc_id", csCols, 8, dir)
    val vShard = Export.shardAssign(docs.filter(col("doc_id") === 7),
      "doc_id", 8).select("shard").as[Int].head()
    val removed = new java.io.File(Export.dataDir(dir) + ".delete.tmp/.removed")
    assert(removed.mkdirs())
    val liveShard = new java.io.File(Export.dataDir(dir), s"shard=$vShard")
    assert(liveShard.renameTo(new java.io.File(removed, s"shard=$vShard")))
    spark.catalog.refreshByPath(dir)
    // appendShards heals (restores the parked shard) BEFORE appending
    Export.appendShards(spark,
      spark.range(300, 320).select(col("id").as("doc_id"),
        lit("x").as("text"), lit("en").as("lang"), lit(1L).as("n_tokens")),
      "doc_id", csCols, dir)
    assert(!new java.io.File(Export.dataDir(dir) + ".delete.tmp").exists,
      "append entry must heal and clear the delete staging")
    // nothing lost: all 200 original rows plus the 20 appended
    assert(Export.readShards(spark, dir).count() == 220)
    assert(Export.readShards(spark, dir).filter(col("doc_id") === 7).count() == 1)
    Export.verifyShards(spark, dir, csCols)
  }

  test("deleteIdsFromExport: id-list takedown rewrites only the ids' own shards") {
    val dir = tmp("del_ids")
    Export.shardedWrite(spark, docs, "doc_id", csCols, 8, dir)
    val before = shardFiles(dir)
    // three victims + one id that does not exist in the export
    val victims = Seq(11L, 12L, 13L)
    val drop = (victims :+ 999L).toDF("doc_id")
    val victimShards = Export.shardAssign(
      docs.filter(col("doc_id").isin(victims.map(Long.box): _*)), "doc_id", 8)
      .select("shard").distinct().as[Int].collect().toSet
    val m = Export.deleteIdsFromExport(spark, dir, drop, "doc_id", csCols)
    assert(m.agg(sum("n_rows")).as[Long].head() == 197)
    // only the shards the listed (and PRESENT) ids live in were rewritten
    val after = shardFiles(dir)
    before.foreach { case (shard, files) =>
      val k = shard.stripPrefix("shard=").toInt
      if (victimShards.contains(k))
        assert(files.intersect(after(shard)).isEmpty, s"$shard must be rewritten")
      else assert(files == after(shard), s"untouched $shard must keep its bytes")
    }
    assertSameRows(Export.readShards(spark, dir)
      .select("doc_id", "text", "lang", "n_tokens"),
      docs.filter(!col("doc_id").isin(victims.map(Long.box): _*)))
    Export.verifyShards(spark, dir, csCols)
    // an all-absent list is a metadata-only no-op
    val m2 = Export.deleteIdsFromExport(spark, dir,
      Seq(888L, 999L).toDF("doc_id"), "doc_id", csCols)
    assert(canon(m2) == canon(m))
    assert(shardFiles(dir) == after)
    // assigned layout: no hash contract to derive shards from — one
    // detection scan, same exact result
    val a = tmp("del_ids_assigned")
    Export.shardedWriteAssigned(spark,
      Export.balancedShards(docs, "doc_id", "n_tokens", 4), csCols, 4, a)
    Export.deleteIdsFromExport(spark, a, victims.toDF("doc_id"), "doc_id", csCols)
    assertSameRows(Export.readShards(spark, a)
      .select("doc_id", "text", "lang", "n_tokens"),
      docs.filter(!col("doc_id").isin(victims.map(Long.box): _*)))
    Export.verifyShards(spark, a, csCols)
    // an UNSTAMPED export (pre-stamp generation) does not earn the
    // id-derived shortcut: it might be a balanced layout, where hash
    // candidates would silently MISS ids living outside their hash
    // shards — strip the stamp from an assigned export and the takedown
    // must still remove every listed id
    val u = tmp("del_ids_unstamped")
    Export.shardedWriteAssigned(spark,
      Export.balancedShards(docs, "doc_id", "n_tokens", 4), csCols, 4, u)
    assert(new java.io.File(Export.manifestDir(u), "_placement").delete())
    assert(Export.readPlacement(spark, u).isEmpty)
    Export.deleteIdsFromExport(spark, u, victims.toDF("doc_id"), "doc_id", csCols)
    assertSameRows(Export.readShards(spark, u)
      .select("doc_id", "text", "lang", "n_tokens"),
      docs.filter(!col("doc_id").isin(victims.map(Long.box): _*)))
    Export.verifyShards(spark, u, csCols)
  }

  test("rebalanceExportTo: balanced snapshot leaves the live hash export untouched") {
    val src = tmp("rebalto_src"); val dst = tmp("rebalto_dst")
    Export.shardedWrite(spark, docs, "doc_id", csCols, 4, src)
    val srcBefore = shardFiles(src)
    val m = Export.rebalanceExportTo(spark, src, dst, "doc_id", "n_tokens", csCols)
    // dst: the from-scratch balanced export, stamped assigned
    val ref = tmp("rebalto_ref")
    Export.shardedWriteAssigned(spark,
      Export.balancedShards(docs, "doc_id", "n_tokens", 4), csCols, 4, ref)
    assert(canon(m) == canon(Export.readManifest(spark, ref)))
    assert(Export.readPlacement(spark, dst).contains("assigned"))
    Export.verifyShards(spark, dst, csCols)
    // src: bytes untouched, still hash-stamped, still append-able
    assert(shardFiles(src) == srcBefore)
    assert(Export.readPlacement(spark, src).contains("hash"))
    val extra = spark.range(200, 210).select(
      col("id").as("doc_id"), concat(lit("document body "), col("id")).as("text"),
      when(col("id") % 3 === 0, "en").otherwise("de").as("lang"),
      (col("id") % 7 * 100 + 20).as("n_tokens"))
    Export.appendShards(spark, extra, "doc_id", csCols, src)
    Export.verifyShards(spark, src, csCols)
    // src == dst is the in-place form's job
    intercept[IllegalArgumentException] {
      Export.rebalanceExportTo(spark, src, src, "doc_id", "n_tokens", csCols)
    }
  }

  test("balancedShards: no global-window single-task funnel in the plan") {
    val rows = spark.range(100).select(col("id").as("doc_id"), lit(3L).as("w"))
    val got = Export.balancedShards(rows, "doc_id", "w", nShards = 4, nParts = 8)
    // the window spec must carry a partition clause: an empty
    // partitionBy would serialize the corpus through one task
    val windows = collectWithSubqueries(got.queryExecution.executedPlan) {
      case we: org.apache.spark.sql.execution.window.WindowExec => we
    }
    assert(windows.nonEmpty)
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "window must be partitioned (two-pass prefix sum, not a global window)")
    // null weights weigh zero
    val withNull = spark.range(10).select(col("id").as("doc_id"),
      when(col("id") === 5, lit(null).cast("long")).otherwise(lit(2L)).as("w"))
    val g2 = Export.balancedShards(withNull, "doc_id", "w", 2, 4)
    assert(g2.filter(col("shard").isNull).isEmpty)
  }

  test("manifest bookkeeping runs no Spark job of its own") {
    val sc = spark.sparkContext
    val (a, b, dst) = (tmp("jobs_a"), tmp("jobs_b"), tmp("jobs_dst"))
    // the write (exchange + write), one scan of the written bytes, one
    // manifest write — and nothing for reading the manifest back
    val (_, writeJobs) = org.apache.spark.JobCount(sc) {
      Export.shardedWrite(spark, docs.filter(col("doc_id") % 2 === 0), "doc_id", csCols, 8, a)
    }
    assert(writeJobs <= 4, s"shardedWrite ran $writeJobs jobs")
    Export.shardedWrite(spark, docs.filter(col("doc_id") % 2 =!= 0), "doc_id", csCols, 8, b)
    // renames plus one manifest write: the count check, fold and row
    // total run on the driver over manifests read without Spark
    val (merged, concatJobs) = org.apache.spark.JobCount(sc) {
      Export.concatExports(spark, Seq(a, b), dst)
    }
    assert(concatJobs <= 3, s"concatExports ran $concatJobs jobs")
    val ref = tmp("jobs_ref")
    Export.shardedWrite(spark, docs, "doc_id", csCols, 8, ref)
    assertSameRows(merged, Export.readManifest(spark, ref))
  }

  /** The Spark fold manifests were merged with before the driver-side
    * fold: a full outer join on `shard`. */
  private def sparkFold(old: org.apache.spark.sql.DataFrame,
      delta: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val d = delta.select(col("shard"), col("n_rows").as("d_rows"),
      col("min_ord").as("d_min"), col("max_ord").as("d_max"),
      col("checksum").as("d_sum"))
    old.join(d, Seq("shard"), "full_outer").select(
      col("shard"),
      (coalesce(col("n_rows"), lit(0L)) + coalesce(col("d_rows"), lit(0L))).as("n_rows"),
      least(col("min_ord"), col("d_min")).as("min_ord"),
      greatest(col("max_ord"), col("d_max")).as("max_ord"),
      pmod(coalesce(col("checksum"), lit(0L)) + coalesce(col("d_sum"), lit(0L)),
        lit(1L << 61)).as("checksum"))
  }

  test("driver-side manifest fold equals the Spark fold row for row") {
    import Export.ShardStat
    val near = (1L << 61) - 5 // two of these sum past 2^61 and must wrap
    val old = Seq(
      ShardStat(0, 3, Some(10L), Some(90L), near),
      ShardStat(1, 0, None, None, 0L), // empty shard: null ord range
      ShardStat(2, 5, Some(7L), Some(70L), 12345L),
      ShardStat(3, 0, None, None, 0L))
    val delta = Seq(
      ShardStat(0, 2, Some(5L), Some(50L), near - 1),
      ShardStat(1, 4, Some(40L), Some(44L), 99L),
      ShardStat(2, 0, None, None, 0L),
      ShardStat(3, 0, None, None, 0L),
      ShardStat(4, 1, Some(1L), Some(1L), 1L)) // on one side only
    val local = Export.mergeStats(old, delta)
    val reference = sparkFold(Export.manifestFrame(spark, old), Export.manifestFrame(spark, delta))
      .orderBy("shard").collect().toSeq
    assert(local.map(_.toRow) == reference)
    assert(local.head.checksum == (2 * near - 1) - (1L << 61))
    // the one-job manifest scan equals a Spark aggregation of the same rows
    val assigned = Export.shardAssign(docs.filter(col("doc_id") < 20), "doc_id", 32)
    val stats = Export.shardStats(assigned, csCols, 32)
    val agg = assigned.withColumn("__h", graft.functions.Hashing.h60(Quality.rowEncoding(csCols)))
      .groupBy("shard").agg(count(lit(1)).as("n"), min("ord").as("lo"),
        max("ord").as("hi"), expr(s"CAST(sum(CAST(__h AS DECIMAL(38,0))) % ${1L << 61}L AS BIGINT)").as("c"))
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(stats.size == 32 && stats.exists(_.nRows == 0), "fixture must hold an empty shard")
    stats.foreach { s =>
      agg.get(s.shard) match {
        case None => assert(s == ShardStat(s.shard, 0, None, None, 0L))
        case Some(r) =>
          assert(s == ShardStat(s.shard, r.getLong(1), Some(r.getLong(2)), Some(r.getLong(3)), r.getLong(4)))
      }
    }
  }

  test("readManifest refuses a manifest whose columns differ from the schema") {
    val dir = tmp("manifest_schema")
    Export.shardedWrite(spark, docs, "doc_id", csCols, 4, dir)
    val m = Export.readManifest(spark, dir)
    assert(m.schema == Export.ManifestSchema)
    def rewrite(df: org.apache.spark.sql.DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(Export.manifestDir(dir))
    // a missing column would otherwise read back as nulls
    rewrite(m.drop("checksum"))
    val ex = intercept[IllegalStateException](Export.readManifest(spark, dir))
    assert(ex.getMessage.contains("checksum"))
    // a column of another type
    rewrite(m.withColumn("shard", col("shard").cast("long")))
    intercept[IllegalStateException](Export.manifestRows(spark, dir))
    // an extra column
    rewrite(m.withColumn("note", lit("x")))
    intercept[IllegalStateException](Export.readManifest(spark, dir))
  }

  test("manifest publishes hold the data's shard stats and _schema, and no _batch file") {
    def schemaOf(dir: String) = org.apache.spark.sql.types.DataType.fromJson(
      Files.readString(java.nio.file.Paths.get(Export.manifestDir(dir), "_schema")))
    def expected(data: org.apache.spark.sql.DataFrame) =
      Export.shardStats(Export.shardAssign(data, "doc_id", 4), csCols, 4)
    def assertManifest(dir: String, data: org.apache.spark.sql.DataFrame): Unit = {
      assert(Export.manifestRows(spark, dir) == expected(data), dir)
      assert(schemaOf(dir) == Export.shardAssign(data, "doc_id", 4).schema, dir)
      val control = new java.io.File(Export.manifestDir(dir)).list()
        .filter(_.startsWith("_")).toSet
      assert(control == Set("_SUCCESS", "_schema", "_placement"), s"$dir: $control")
    }
    val first = docs.filter(col("doc_id") < 120)
    val second = docs.filter(col("doc_id") >= 120)
    val a = tmp("man-a")
    Export.shardedWrite(spark, first, "doc_id", csCols, 4, a)
    assertManifest(a, first)
    Export.appendShards(spark, second, "doc_id", csCols, a)
    assertManifest(a, docs)
    val b = tmp("man-b"); val c = tmp("man-c")
    Export.shardedWrite(spark, first, "doc_id", csCols, 4, b)
    Export.shardedWrite(spark, second, "doc_id", csCols, 4, c)
    val dst = tmp("man-concat")
    Export.concatExports(spark, Seq(b, c), dst)
    assertManifest(dst, docs)
  }
}
