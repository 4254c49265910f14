package graft.operators

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Index lifecycle: compaction of append-grown persisted indexes and
  * the bucket-skew histogram.
  *
  * The compaction contract under test: the compacted copy is the SAME
  * RELATION (probes bind by name and return byte-identical matches),
  * in strictly fewer files, and compaction refuses both an unstamped
  * directory and one polluted by appends from a different build — the
  * whole-relation form of the per-probe stamp check.
  */
class IndexOpsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def parquetFiles(dir: String): Seq[String] = {
    val s = Files.walk(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toVector
    finally s.close()
  }

  private def docs(ids: Long*) = ids.map { i =>
    (i, s"the quick brown fox number $i jumps over the lazy dog again and again")
  }.toDF("doc_id", "text")

  private def vecs(ids: Long*) = ids.map { i =>
    (i, Array(1.0f + i * 0.01f, -0.5f, 0.25f * (i % 4), 0.7f))
  }.toDF("vec_id", "embedding")

  test("minhash index compaction: fewer files, identical probes, stamp intact") {
    val dir = tmp("ixops_mh")
    Dedup.minhashIndex(docs(1L to 20L: _*), "doc_id", "text")
      .write.mode("append").partitionBy("band").parquet(dir)
    // three append-grown extends — an incrementally grown index's file pattern
    Seq(21L to 30L, 31L to 40L, 41L to 50L).foreach { ids =>
      val index = spark.read.parquet(dir)
      Dedup.minhashIndexExtend(index, docs(ids: _*), "doc_id", "text")
        .write.mode("append").partitionBy("band").parquet(dir)
    }
    val before = parquetFiles(dir)
    val probes = docs(5L, 25L, 45L, 999L)
    val beforeMatches = canon(Dedup.minhashProbeAuto(
      probes, spark.read.parquet(dir), "doc_id", "text", minAgree = 1))

    val dst = tmp("ixops_mh_compact")
    val rows = IndexOps.compactMinhashTo(spark, dir, dst)
    assert(rows == spark.read.parquet(dir).count())
    val after = parquetFiles(dst)
    assert(after.size < before.size,
      s"compaction must shrink the file count (${before.size} -> ${after.size})")
    // at the default target one range partition covers everything: one
    // file per band directory
    assert(after.size == spark.read.parquet(dst).select("band").distinct().count())

    val compacted = spark.read.parquet(dst)
    assert(canon(Dedup.minhashProbeAuto(probes, compacted, "doc_id", "text",
      minAgree = 1)) == beforeMatches)
    assert(compacted.select("ix_n", "ix_k", "ix_bands").distinct().count() == 1)
  }

  test("embedding index compaction mirrors the text contract") {
    val dir = tmp("ixops_lsh")
    Similarity.lshIndex(vecs(1L to 20L: _*), "vec_id", "embedding",
        planes = 2, dims = 4, tables = 3)
      .write.mode("append").partitionBy("tbl").parquet(dir)
    Seq(21L to 30L, 31L to 40L).foreach { ids =>
      val index = spark.read.parquet(dir)
      Similarity.lshIndexExtend(index, vecs(ids: _*), "vec_id", "embedding")
        .write.mode("append").partitionBy("tbl").parquet(dir)
    }
    val before = parquetFiles(dir)
    val probes = vecs(7L, 33L)
    val beforeMatches = canon(Similarity.lshIndexProbeAuto(
      probes, spark.read.parquet(dir), "vec_id", "embedding", minMicro = 0L))

    val dst = tmp("ixops_lsh_compact")
    val rows = IndexOps.compactLshTo(spark, dir, dst)
    assert(rows == spark.read.parquet(dir).count())
    assert(parquetFiles(dst).size < before.size)
    val compacted = spark.read.parquet(dst)
    assert(canon(Similarity.lshIndexProbeAuto(probes, compacted, "vec_id",
      "embedding", minMicro = 0L)) == beforeMatches)
    assert(compacted.select("ix_planes", "ix_dims", "ix_tables").distinct().count() == 1)
  }

  test("reclusterSwapIvf: drift repair — fresh centroids fix post-ingest skew in place") {
    import graft.functions.Hashing
    // two tight clusters, 2 cells: balanced at build
    val a = (1L to 30L).map(i => (i, Array(1.0f, 0.0f, 0.0f, 0.0f)))
    val b = (31L to 60L).map(i => (i, Array(0.0f, 1.0f, 0.0f, 0.0f)))
    val dir = tmp("ixops_recluster")
    Similarity.ivfIndex((a ++ b).toDF("vec_id", "embedding"), "vec_id", "embedding",
        nCells = 2, dims = 4)
      .write.mode("append").partitionBy("cell").parquet(dir)
    // a THIRD cluster arrives by extension: frozen centroids shove all
    // of it into one existing cell — the drift cellHistogram detects
    val c = (61L to 100L).map(i => (i, Array(0.0f, 0.0f, 1.0f, 0.0f)))
    val index0 = spark.read.parquet(dir)
    Similarity.ivfIndexExtend(index0, c.toDF("vec_id", "embedding"),
        "vec_id", "embedding")
      .write.mode("append").partitionBy("cell").parquet(dir)
    val skewed = IndexOps.cellHistogram(spark.read.parquet(dir)).collect()
      .map(r => r.getLong(0)).max
    assert(skewed >= 70, s"extension should pile the new cluster into one cell, max=$skewed")

    val memberIdsBefore = spark.read.parquet(dir).select("vec_id").orderBy("vec_id")
      .collect().map(_.getLong(0)).toSeq
    // the repair: re-sample centroids from the CURRENT members, re-size
    // the quantizer to 3 cells, swap in place
    val rows = IndexOps.reclusterSwapIvf(spark, dir, "vec_id", "embedding", nCells = 3)
    assert(rows == 100)
    val after = spark.read.parquet(dir)
    // member set untouched; stamp carries the new cell count
    assert(after.select("vec_id").orderBy("vec_id")
      .collect().map(_.getLong(0)).toSeq == memberIdsBefore)
    assert(after.select("ix_cells").distinct().collect().map(_.getInt(0)).toSeq == Seq(3))
    // with 3 orthogonal clusters and 3 hash-sampled centroids the skew
    // can only vanish if each cluster won its own cell — assert the
    // histogram is exactly the cluster sizes
    val hist = IndexOps.cellHistogram(after).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hist.keySet == Set(30L, 40L), s"unexpected post-recluster histogram $hist")
    // probes still find their near-copies, now in the new cluster's own
    // cell at nProbe=1
    val probe = Seq((2001L, Array(0.01f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.ivfIndexProbeAuto(probe, after, "vec_id", "embedding",
      k = 50, nProbe = 1).filter(col("cos_micro") >= 900000L)
    assert(got.count() == 40, "the reclustered cell must hold the whole third cluster")
    // crash residue handled by the standard recoverSwap discipline
    assert(!new java.io.File(dir + ".compact.tmp").exists)
  }

  test("compaction refuses a mixed-build directory and an unstamped one") {
    val dir = tmp("ixops_mixed")
    Dedup.minhashIndex(docs(1L to 10L: _*), "doc_id", "text", n = 3, k = 16, bands = 4)
      .write.mode("append").partitionBy("band").parquet(dir)
    // a batch stamped under DIFFERENT banding lands in the same directory
    Dedup.minhashIndex(docs(11L to 20L: _*), "doc_id", "text", n = 3, k = 16, bands = 2)
      .write.mode("append").partitionBy("band").parquet(dir)
    val e = intercept[IllegalArgumentException](
      IndexOps.compactMinhashTo(spark, dir, tmp("ixops_mixed_out")))
    assert(e.getMessage.contains("different builds"))

    val plain = tmp("ixops_plain")
    docs(1L to 5L: _*).withColumn("band", lit(0))
      .write.mode("overwrite").partitionBy("band").parquet(plain)
    val e2 = intercept[IllegalArgumentException](
      IndexOps.compactMinhashTo(spark, plain, tmp("ixops_plain_out")))
    assert(e2.getMessage.contains("no ix_"))
  }

  test("probe bucket cap: a boilerplate mega-bucket leaves candidate generation; default unchanged") {
    val template = "all work and no play makes jack a dull boy forever and ever again"
    val unique1 = "a genuinely singular document about rivers and mountains flowing east"
    val boiler = (1L to 60L).map(i => (i, template)).toDF("doc_id", "text")
    val normal = Seq((1001L, unique1),
      (1002L, "another singular text regarding compilers and type systems design"))
      .toDF("doc_id", "text")
    val index = Dedup.minhashIndex(boiler.unionByName(normal), "doc_id", "text")
    val probes = Seq((2001L, template), (2002L, unique1)).toDF("doc_id", "text")
    val uncapped = Dedup.minhashProbe(probes, index, "doc_id", "text")
    // identical docs share every band key: the boilerplate probe reranks
    // the entire 60-doc bucket — the failure mode the cap exists for
    assert(uncapped.filter(col("probe_doc_id") === 2001L).count() == 60)
    val capped = Dedup.minhashProbe(probes, index, "doc_id", "text",
      maxBucketRows = Some(50))
    assert(capped.filter(col("probe_doc_id") === 2001L).count() == 0,
      "every bucket the boilerplate pair shares is over-cap: missed by contract")
    // the recall contract's other half: a probe whose buckets are cold
    // keeps exactly its uncapped matches (no false negatives elsewhere)
    assert(canon(capped.filter(col("probe_doc_id") === 2002L))
      == canon(uncapped.filter(col("probe_doc_id") === 2002L)))
    assert(uncapped.filter(col("probe_doc_id") === 2002L).count() >= 1)
    // the auto probe threads the cap through the stamp read
    assert(canon(Dedup.minhashProbeAuto(probes, index, "doc_id", "text",
      maxBucketRows = Some(50))) == canon(capped))
  }

  test("embedding probe bucket cap mirrors the text contract") {
    val hot = (1L to 40L).map(i => (i, Array(1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val cold = Seq((1001L, Array(0.0f, 1.0f, 0.2f, 0.1f))).toDF("vec_id", "embedding")
    val index = Similarity.lshIndex(hot.unionByName(cold), "vec_id", "embedding",
      planes = 2, dims = 4, tables = 3)
    val probes = Seq(
      (2001L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2002L, Array(0.01f, 1.0f, 0.2f, 0.1f))).toDF("vec_id", "embedding")
    val uncapped = Similarity.lshIndexProbe(probes, index, "vec_id", "embedding",
      minMicro = 900000L, planes = 2, dims = 4, tables = 3)
    assert(uncapped.filter(col("probe_id") === 2001L).count() == 40)
    val capped = Similarity.lshIndexProbe(probes, index, "vec_id", "embedding",
      minMicro = 900000L, planes = 2, dims = 4, tables = 3,
      maxBucketRows = Some(30))
    assert(capped.filter(col("probe_id") === 2001L).count() == 0)
    assert(canon(capped.filter(col("probe_id") === 2002L))
      == canon(uncapped.filter(col("probe_id") === 2002L)))
    assert(uncapped.filter(col("probe_id") === 2002L).count() == 1)
    assert(canon(Similarity.lshIndexProbeAuto(probes, index, "vec_id", "embedding",
      minMicro = 900000L, maxBucketRows = Some(30))) == canon(capped))
  }

  test("IVF cell cap: a mega-cell leaves candidate generation; cellHistogram is exact") {
    import graft.functions.Hashing
    // choose ids so the hash-ordered centroid sample picks one id per
    // cluster: rank candidate ids by the centroid hash and hand the
    // first to the hot cluster, the second to the cold one — the same
    // construction ivfIndex uses, evaluated JVM-side
    val ranked = (1L to 60L).sortBy(i => (Hashing.h60Jvm(s"ivfcent:$i"), i))
    val hotIds = ranked.head +: ranked.drop(2).take(39)
    val coldIds = ranked(1) +: ranked.drop(41).take(5)
    val hot = hotIds.map(i => (i, Array(1.0f, 0.0f, 0.0f, 0.0f)))
    val cold = coldIds.map(i => (i, Array(0.0f, 1.0f, 0.2f, 0.1f)))
    val corpus = (hot ++ cold).toDF("vec_id", "embedding")
    val index = Similarity.ivfIndex(corpus, "vec_id", "embedding",
      nCells = 2, dims = 4)
    // the histogram is the exact occupancy distribution: one 40-row hot
    // cell, one 6-row cold cell
    val hist = IndexOps.cellHistogram(index).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hist == Map(40L -> 1L, 6L -> 1L), s"unexpected cell histogram $hist")
    val probes = Seq(
      (2001L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2002L, Array(0.01f, 1.0f, 0.2f, 0.1f))).toDF("vec_id", "embedding")
    // nProbe=2 probes both cells; k covers the whole hot cell so the cap
    // is what removes candidates, not the top-k heap
    val uncapped = Similarity.ivfIndexProbe(probes, index, "vec_id", "embedding",
      k = 50, nProbe = 2, nCells = 2, dims = 4)
      .filter(col("cos_micro") >= 900000L)
    assert(uncapped.filter(col("query_id") === 2001L).count() == 40)
    assert(uncapped.filter(col("query_id") === 2002L).count() == 6)
    val capped = Similarity.ivfIndexProbe(probes, index, "vec_id", "embedding",
      k = 50, nProbe = 2, nCells = 2, dims = 4, maxCellRows = Some(30))
      .filter(col("cos_micro") >= 900000L)
    assert(capped.filter(col("query_id") === 2001L).count() == 0,
      "the 40-row mega-cell must leave candidate generation under cap 30")
    assert(canon(capped.filter(col("query_id") === 2002L))
      == canon(uncapped.filter(col("query_id") === 2002L)),
      "an under-cap cell must be untouched by the cap")
    assert(canon(Similarity.ivfIndexProbeAuto(probes, index, "vec_id", "embedding",
        k = 50, nProbe = 2, maxCellRows = Some(30))
      .filter(col("cos_micro") >= 900000L)) == canon(capped))
  }

  test("bucketHistogram is the exact bucket-size distribution") {
    val index = Dedup.minhashIndex(docs(1L to 30L: _*), "doc_id", "text")
    val hist = IndexOps.bucketHistogram(index, "band", "band_key")
    // mass conservation: sum(bucket_rows * n_buckets) per band == index
    // rows per band
    val mass = hist.groupBy("band")
      .agg(sum(col("bucket_rows") * col("n_buckets")).as("rows")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val rows = index.groupBy("band").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(mass == rows)
    // cross-check one band against a hand-computed distribution
    val sizes = index.filter(col("band") === 0)
      .groupBy("band_key").count().collect().map(_.getLong(1))
    val want = sizes.groupBy(identity).map { case (sz, xs) => (sz, xs.length.toLong) }
    val got = hist.filter(col("band") === 0).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(got == want)
  }

  test("index takedown: deleted ids vanish from probes, layout and stamp preserved") {
    // --- minhash ---
    val mh = tmp("ixops_del_mh")
    Dedup.minhashIndex(docs(1L to 30L: _*), "doc_id", "text")
      .write.mode("append").partitionBy("band").parquet(mh)
    val probeFor5 = docs(5L)
    assert(Dedup.minhashProbeAuto(probeFor5, spark.read.parquet(mh),
      "doc_id", "text", minAgree = 1)
      .filter(col("corpus_doc_id") === 5L).count() > 0,
      "precondition: id 5 is findable before the takedown")
    val srcRows = spark.read.parquet(mh).count()
    // list includes an absent id — ignored, not an error
    val left = IndexOps.deleteSwap(spark, mh, "band", Seq("band_key"),
      "doc_id", Seq(5L, 17L, 999L).toDF("doc_id"))
    val after = spark.read.parquet(mh)
    assert(after.filter(col("doc_id").isin(5L, 17L)).isEmpty,
      "no signature row of a deleted id may survive")
    assert(left == after.count() && left < srcRows)
    assert(Dedup.minhashProbeAuto(probeFor5, after, "doc_id", "text",
      minAgree = 1).filter(col("corpus_doc_id") === 5L).isEmpty,
      "a probe must no longer surface the deleted document")
    // survivors still probe identically; stamp and layout intact
    assert(Dedup.minhashProbeAuto(docs(9L), after, "doc_id", "text",
      minAgree = 1).filter(col("corpus_doc_id") === 9L).count() > 0)
    assert(after.select("ix_n", "ix_k", "ix_bands").distinct().count() == 1)
    // all-absent list: a no-op
    assert(IndexOps.deleteSwap(spark, mh, "band", Seq("band_key"),
      "doc_id", Seq(888L).toDF("doc_id")) == left)
    // deleting everything is refused — an empty index is a rebuild
    intercept[IllegalArgumentException] {
      IndexOps.deleteSwap(spark, mh, "band", Seq("band_key"),
        "doc_id", (1L to 30L).toDF("doc_id"))
    }
    // --- lsh (embedding) ---
    val lsh = tmp("ixops_del_lsh")
    Similarity.lshIndex(vecs(1L to 20L: _*), "vec_id", "embedding",
        planes = 2, dims = 4, tables = 3)
      .write.mode("append").partitionBy("tbl").parquet(lsh)
    IndexOps.deleteSwap(spark, lsh, "tbl", Seq("bucket"), "vec_id",
      Seq(7L).toDF("vec_id"))
    val lshAfter = spark.read.parquet(lsh)
    assert(lshAfter.filter(col("vec_id") === 7L).isEmpty)
    assert(Similarity.lshIndexProbeAuto(vecs(7L), lshAfter, "vec_id",
      "embedding", minMicro = 0L).filter(col("corpus_id") === 7L).isEmpty)
    assert(lshAfter.select("ix_planes", "ix_dims", "ix_tables").distinct().count() == 1)
  }

  test("IVF takedown: deleting a centroid's document rebuilds the quantizer") {
    val dir = tmp("ixops_del_ivf")
    Similarity.ivfIndex(vecs(1L to 24L: _*), "vec_id", "embedding",
        nCells = 3, dims = 4)
      .write.mode("overwrite").partitionBy("cell").parquet(dir)
    val centIds = spark.read.parquet(dir).filter(col("is_cent"))
      .select("vec_id").as[Long].collect().toSeq
    // non-centroid takedown first: plain filtered rewrite, centroids kept
    val nonCent = (1L to 24L).filterNot(centIds.contains).take(2)
    IndexOps.deleteSwapIvf(spark, dir, "vec_id", "embedding",
      nonCent.toDF("vec_id"))
    val mid = spark.read.parquet(dir)
    assert(mid.filter(col("vec_id").isin(nonCent.map(Long.box): _*)).isEmpty)
    assert(mid.filter(col("is_cent")).select("vec_id").as[Long].collect()
      .toSet == centIds.toSet, "no centroid touched -> quantizer unchanged")
    // centroid takedown: nothing derived from the deleted doc survives —
    // its member row goes AND the quantizer is rebuilt without it
    val victim = centIds.head
    IndexOps.deleteSwapIvf(spark, dir, "vec_id", "embedding",
      Seq(victim).toDF("vec_id"))
    val after = spark.read.parquet(dir)
    assert(after.filter(col("vec_id") === victim).isEmpty)
    assert(!after.filter(col("is_cent")).select("vec_id").as[Long].collect()
      .contains(victim), "the deleted doc must not anchor a centroid")
    assert(after.count() == 24 - 3)
    assert(after.select("ix_cells", "ix_dims").distinct().count() == 1)
    // the rebuilt index still answers: a fresh probe carrying a
    // survivor's exact vector finds that survivor (probes exclude self)
    val survivor = (1L to 24L)
      .filterNot(i => nonCent.contains(i) || i == victim).head
    val probeVec = Seq((3001L, Array(1.0f + survivor * 0.01f, -0.5f,
      0.25f * (survivor % 4), 0.7f))).toDF("vec_id", "embedding")
    val probe = Similarity.ivfIndexProbeAuto(probeVec, after,
      "vec_id", "embedding", k = 1, nProbe = 3)
    assert(probe.select("neighbor_id").as[Long].collect().toSeq == Seq(survivor))
  }

  test("capFromHistogram encodes the tail rule; recall contract unchanged") {
    // a synthetic cell layout with a hand-computable size distribution:
    // sizes [1, 1, 1, 2, 2, 10] over six cells (17 rows)
    val sizes = Seq(1, 1, 1, 2, 2, 10)
    val rows = sizes.zipWithIndex.flatMap { case (n, cell) =>
      (0 until n).map(i => (cell * 100 + i.toLong, cell)) }
    val index = rows.toDF("vec_id", "cell")
    val hist = IndexOps.cellHistogram(index)
    // hand-computed quantiles of the BUCKET-COUNT distribution:
    //   cum n_cells: size 1 -> 3, size 2 -> 5, size 10 -> 6
    // q=0.5  -> need 3 -> cap 1; q=0.8 -> need 5 -> cap 2; q=1.0 -> cap 10
    assert(IndexOps.capFromHistogram(hist, "cell_rows", "n_cells", 0.5) == 1)
    assert(IndexOps.capFromHistogram(hist, "cell_rows", "n_cells", 0.8) == 2)
    assert(IndexOps.capFromHistogram(hist, "cell_rows", "n_cells", 1.0) == 10)
    assert(IndexOps.autoCellCap(index, 0.8).contains(2))
    // default quantile keeps everything but a vanishing tail: with six
    // cells, 0.999 covers all — cap = the max size, i.e. no recall loss
    assert(IndexOps.autoCellCap(index).contains(10))
    // the bucket form folds per-directory rows before the rule
    val bcap = IndexOps.autoBucketCap(rows.toDF("k", "band")
      .withColumn("band_key", col("k") % 3), "band", "band_key", 1.0)
    assert(bcap.exists(_ >= 1))
    // recall contract: capping at the derived value drops ONLY the
    // over-cap cells' rows from candidate generation
    val capped = IndexOps.capHotBuckets(index, Seq("cell"), Some(2))
    assert(capped.count() == 7, "under-cap cells (1+1+1+2+2) survive exactly")
    assert(capped.filter(col("cell") === 5).isEmpty, "the mega-cell is excluded")
  }
}
