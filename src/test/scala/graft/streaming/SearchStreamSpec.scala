package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{BatchStore, TextSearch}

/** The search store protocol of [[graft.operators.BatchStore]]: postings
  * and positional stores grown by committed batches, their sidecars,
  * compaction, replay after a crash, and the retrieval takedown. The
  * suite keeps the name it had when the protocol lived in the streaming
  * layer, so its test ids stay stable. */
class SearchStreamSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def run(df: org.apache.spark.sql.DataFrame, id: Long,
      indexDir: String, compactAt: Int = 0,
      failAfter: Int = Int.MaxValue): Unit =
    BatchStore.searchIndexBatch(df, id, indexDir, "doc_id", "text",
      compactAt, failAfterStep = failAfter)

  private def storePostings(indexDir: String): Map[(String, Long), Long] =
    spark.read.parquet(indexDir).select("term", "doc_id", "tf")
      .groupBy("term", "doc_id").agg(sum("tf").as("tf"))
      .as[(String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap

  test("single-batch store equals the batch postings operator; search agrees") {
    val ix = tmp("si-law")
    val docs = Seq(
      (1L, "spark joins the table"), (2L, "spark spark joins"),
      (3L, "only joins here")).toDF("doc_id", "text")
    run(docs, 0L, ix)
    val want = TextSearch.postings(docs, "doc_id", "text")
      .as[(String, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(storePostings(ix) == want)
    val viaStore = TextSearch.searchStoreTopK(
      spark.read.parquet(ix), "doc_id", Seq("spark", "joins"), 10)
      .as[(Long, Long)].collect().toSeq
    val direct = TextSearch.searchTopK(docs, "doc_id", "text",
      Seq("spark", "joins"), 10).as[(Long, Long)].collect().toSeq
    assert(viaStore == direct)
  }

  test("incremental batches: store search equals one-shot search over the union corpus") {
    val ix = tmp("si-inc")
    val b0 = Seq((1L, "alpha beta gamma"), (2L, "alpha beta")).toDF("doc_id", "text")
    val b1 = Seq((3L, "alpha gamma gamma"), (4L, "beta beta alpha")).toDF("doc_id", "text")
    run(b0, 0L, ix); run(b1, 1L, ix)
    val union = b0.unionByName(b1)
    for (terms <- Seq(Seq("alpha"), Seq("alpha", "beta"), Seq("gamma", "alpha"))) {
      val viaStore = TextSearch.searchStoreTopK(
        spark.read.parquet(ix), "doc_id", terms, 10)
        .as[(Long, Long)].collect().toSeq
      val direct = TextSearch.searchTopK(union, "doc_id", "text", terms, 10)
        .as[(Long, Long)].collect().toSeq
      assert(viaStore == direct, s"terms $terms: $viaStore != $direct")
    }
  }

  test("store BM25 equals the one-shot BM25 over the union corpus") {
    val ix = tmp("si-bm25")
    val b0 = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta")).toDF("doc_id", "text")
    val b1 = Seq((3L, "alpha alpha beta"), (4L, "gamma beta alpha epsilon")).toDF("doc_id", "text")
    run(b0, 0L, ix); run(b1, 1L, ix)
    val union = b0.unionByName(b1)
    for (terms <- Seq(Seq("alpha"), Seq("alpha", "beta"))) {
      val viaStore = TextSearch.searchStoreTopKBm25(
        spark.read.parquet(ix), "doc_id", terms, 10)
        .as[(Long, Long)].collect().toSeq
      val direct = TextSearch.searchTopKBm25(union, "doc_id", "text", terms, 10)
        .as[(Long, Long)].collect().toSeq
      assert(viaStore == direct, s"terms $terms: $viaStore != $direct")
    }
    // an explicit doc-length sidecar gives the same answer as the
    // store-derived lengths
    val dl = spark.read.parquet(ix).groupBy("doc_id")
      .agg(sum("tf").as("__dl"))
    val withSidecar = TextSearch.searchStoreTopKBm25(
      spark.read.parquet(ix), "doc_id", Seq("alpha", "beta"), 10,
      docLengths = Some(dl)).as[(Long, Long)].collect().toSeq
    val derived = TextSearch.searchStoreTopKBm25(
      spark.read.parquet(ix), "doc_id", Seq("alpha", "beta"), 10)
      .as[(Long, Long)].collect().toSeq
    assert(withSidecar == derived)
  }

  test("doc-length sidecar: corpus-exact lengths and n_docs, zero-token docs included") {
    val ix = tmp("si-dl")
    // doc 3 is token-free: it never enters the postings store, but the
    // sidecar must carry it (corpus semantics)
    val b0 = Seq((1L, "alpha beta gamma"), (2L, "alpha beta"),
      (3L, "???!!!")).toDF("doc_id", "text")
    val b1 = Seq((4L, "beta beta alpha gamma")).toDF("doc_id", "text")
    run(b0, 0L, ix); run(b1, 1L, ix)
    val dl = BatchStore.searchIndexDocLengths(spark, ix, "doc_id")
      .get.as[(Long, Long)].collect().toMap
    assert(dl == Map(1L -> 3L, 2L -> 2L, 3L -> 0L, 4L -> 4L))
    val union = b0.unionByName(b1)
    // THE sidecar law: dir-reader BM25 == the direct corpus operator,
    // even over a corpus containing a token-free document (n_docs and
    // avgdl both count it)
    val viaDir = BatchStore.searchIndexTopKBm25(
      spark, ix, "doc_id", Seq("alpha", "beta"), 10)
      .as[(Long, Long)].collect().toSeq
    val direct = TextSearch.searchTopKBm25(union, "doc_id", "text",
      Seq("alpha", "beta"), 10).as[(Long, Long)].collect().toSeq
    assert(viaDir == direct)
    // …and the rarity twin through the sidecar's n_docs
    assert(BatchStore.searchIndexTopK(
      spark, ix, "doc_id", Seq("alpha", "beta"), 10)
      .as[(Long, Long)].collect().toSeq ==
      TextSearch.searchTopK(union, "doc_id", "text",
        Seq("alpha", "beta"), 10).as[(Long, Long)].collect().toSeq)
    // the DOCUMENTED divergence the sidecar exists to close: the bare
    // store readers default n_docs (and BM25 doc lengths) from the
    // store, which cannot see doc 3 — store-derived n_docs = 3 ≠ 4
    val bare = TextSearch.searchStoreTopK(
      spark.read.parquet(ix), "doc_id", Seq("alpha", "beta"), 10)
      .as[(Long, Long)].collect().toSeq
    val directRarity = TextSearch.searchTopK(union, "doc_id", "text",
      Seq("alpha", "beta"), 10).as[(Long, Long)].collect().toSeq
    assert(bare.map(_._1).toSet == directRarity.map(_._1).toSet) // same docs…
    assert(bare != directRarity,
      "store-derived n_docs silently matched corpus semantics — " +
        "the sidecar's reason to exist disappeared; update the docs")
  }

  test("totals manifest ≡ derived totals across batches, replay and compaction; readers are O(1)") {
    val ix = tmp("si-totals")
    def derived: (Long, Long) = {
      val r = spark.read.parquet(BatchStore.dlSidecarDir(ix))
        .agg(count(lit(1)), coalesce(sum("__dl"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    def manifest = BatchStore.searchIndexTotals(spark, ix)
    // batch 0 (incl. a zero-token doc: counted, length 0)
    run(Seq((1L, "alpha beta gamma"), (2L, "..."), (3L, "beta"))
      .toDF("doc_id", "text"), 0L, ix)
    assert(manifest == Some(derived) && manifest == Some((3L, 4L)))
    // batch 1
    run(Seq((4L, "gamma gamma alpha")).toDF("doc_id", "text"), 1L, ix)
    assert(manifest == Some(derived) && manifest == Some((4L, 7L)))
    // a crashed batch (after dl publish, before its commit marker)
    // leaves manifest ≡ data — both were published together
    intercept[IllegalStateException] {
      run(Seq((5L, "alpha")).toDF("doc_id", "text"), 2L, ix, failAfter = 2)
    }
    assert(manifest == Some(derived) && manifest == Some((5L, 8L)))
    // the replay is the same deterministic overwrite
    run(Seq((5L, "alpha")).toDF("doc_id", "text"), 2L, ix)
    assert(manifest == Some(derived) && manifest == Some((5L, 8L)))
    // compaction folds the manifest to one "compacted" entry from the
    // mass-check scalars — still equal to the derived totals
    run(Seq((6L, "beta delta")).toDF("doc_id", "text"), 3L, ix, compactAt = 2)
    assert(manifest == Some(derived) && manifest == Some((6L, 10L)))
    // post-compaction appends stack new batch entries on the folded one
    run(Seq((7L, "epsilon")).toDF("doc_id", "text"), 4L, ix)
    assert(manifest == Some(derived) && manifest == Some((7L, 11L)))
    // the dir readers ride the manifest (no count job) and still agree
    // with the direct corpus operators — including BM25's avgdl scalar
    val union = Seq((1L, "alpha beta gamma"), (2L, "..."), (3L, "beta"),
      (4L, "gamma gamma alpha"), (5L, "alpha"), (6L, "beta delta"),
      (7L, "epsilon")).toDF("doc_id", "text")
    assert(BatchStore.searchIndexTopKBm25(spark, ix, "doc_id",
        Seq("alpha", "beta"), 10, allowFullScanFallback = false)
        .as[(Long, Long)].collect().toSeq ==
      TextSearch.searchTopKBm25(union, "doc_id", "text",
        Seq("alpha", "beta"), 10).as[(Long, Long)].collect().toSeq)
    assert(BatchStore.searchIndexTopK(spark, ix, "doc_id",
        Seq("alpha", "beta"), 10, allowFullScanFallback = false)
        .as[(Long, Long)].collect().toSeq ==
      TextSearch.searchTopK(union, "doc_id", "text",
        Seq("alpha", "beta"), 10).as[(Long, Long)].collect().toSeq)
    // a manifest hole (e.g. a pre-manifest generation) falls back to
    // the derived totals — and the strict dir readers still work, since
    // the sidecar RELATION is complete
    val fs = new org.apache.hadoop.fs.Path(ix)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(
      BatchStore.dlSidecarDir(ix) + "/_totals/b4"), false)
    assert(manifest.isEmpty)
    assert(BatchStore.searchIndexTopK(spark, ix, "doc_id",
        Seq("alpha", "beta"), 10, allowFullScanFallback = false)
        .as[(Long, Long)].collect().toSeq ==
      TextSearch.searchTopK(union, "doc_id", "text",
        Seq("alpha", "beta"), 10).as[(Long, Long)].collect().toSeq)
    // a missing sidecar is REFUSABLE: the full-store fallback must be
    // opted into explicitly
    val bare = tmp("si-totals-bare")
    TextSearch.postings(union, "doc_id", "text")
      .withColumn("batch_id", lit(0L))
      .write.mode("overwrite").parquet(bare)
    val e = intercept[IllegalArgumentException] {
      BatchStore.searchIndexTopKBm25(spark, bare, "doc_id",
        Seq("alpha"), 10, allowFullScanFallback = false)
    }
    assert(e.getMessage.contains("FULL-STORE"))
  }

  test("tokenizer-version marker: legacy stores refuse appends; the marker survives compaction and replay") {
    // a pre-r17 store = data files, no _graft_tokenizer marker: appends
    // would mix two token streams (positions/df/dl silently wrong at
    // query time) — ingest must refuse LOUDLY
    val legacy = tmp("si-tok-legacy")
    TextSearch.postings(
        Seq((1L, "old ascii store")).toDF("doc_id", "text"), "doc_id", "text")
      .withColumn("batch_id", lit(0L))
      .write.mode("overwrite").parquet(legacy)
    val e = intercept[IllegalStateException] {
      run(Seq((2L, "new batch")).toDF("doc_id", "text"), 1L, legacy)
    }
    assert(e.getMessage.contains("tokenizer-version") ||
      e.getMessage.contains("tokenizer"))
    // a fresh store writes the marker; replay and compaction carry it
    val ix = tmp("si-tok-fresh")
    run(Seq((1L, "alpha beta")).toDF("doc_id", "text"), 0L, ix)
    val mPath = new org.apache.hadoop.fs.Path(
      ix + "/_graft_tokenizer/" + BatchStore.TokenizerVersion)
    val fs = mPath.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(mPath))
    intercept[IllegalStateException] {
      run(Seq((2L, "beta gamma")).toDF("doc_id", "text"), 1L, ix, failAfter = 2)
    }
    run(Seq((2L, "beta gamma")).toDF("doc_id", "text"), 1L, ix) // replay OK
    run(Seq((3L, "gamma delta")).toDF("doc_id", "text"), 2L, ix, compactAt = 2)
    assert(fs.exists(mPath), "the marker must survive the compaction swap")
    // a version mismatch refuses with the rebuild hint
    fs.delete(mPath, false)
    fs.create(new org.apache.hadoop.fs.Path(
      ix + "/_graft_tokenizer/v1-ascii"), true).close()
    val e2 = intercept[IllegalArgumentException] {
      run(Seq((4L, "delta")).toDF("doc_id", "text"), 3L, ix)
    }
    assert(e2.getMessage.contains("v1-ascii") && e2.getMessage.contains("Rebuild"))
  }

  test("doc-length sidecar: replay overwrites it, compaction folds it, mass checked") {
    val ix = tmp("si-dl-replay")
    run(Seq((1L, "one two")).toDF("doc_id", "text"), 0L, ix)
    // crash AFTER the sidecar publish but BEFORE the commit marker:
    // the replay must overwrite both deltas, not append
    val b1 = Seq((2L, "two three four")).toDF("doc_id", "text")
    intercept[IllegalStateException] { run(b1, 1L, ix, failAfter = 2) }
    run(b1, 1L, ix)
    val dlStore = spark.read.parquet(BatchStore.dlSidecarDir(ix))
    assert(dlStore.count() == 2)
    assert(dlStore.select("doc_id", "__dl").as[(Long, Long)]
      .collect().toMap == Map(1L -> 2L, 2L -> 3L))
    // compaction folds the sidecar to batch_id −1 with rows preserved
    run(Seq((3L, "five")).toDF("doc_id", "text"), 2L, ix, compactAt = 1)
    val compacted = spark.read.parquet(BatchStore.dlSidecarDir(ix))
    assert(compacted.select("batch_id").distinct()
      .as[Long].collect().toSeq == Seq(-1L))
    assert(compacted.select("doc_id", "__dl").as[(Long, Long)]
      .collect().toMap == Map(1L -> 2L, 2L -> 3L, 3L -> 1L))
    // sidecar ≡ derived lengths: post-compaction store totals agree
    val derived = spark.read.parquet(ix).groupBy("doc_id")
      .agg(sum("tf").as("__dl")).as[(Long, Long)].collect().toMap
    assert(derived == compacted.select("doc_id", "__dl")
      .as[(Long, Long)].collect().toMap)
  }

  test("crash replay converges: failpoint leaves an unmarked delta, the replay overwrites it") {
    val ix = tmp("si-crash")
    run(Seq((1L, "one two")).toDF("doc_id", "text"), 0L, ix)
    val b1 = Seq((2L, "two three")).toDF("doc_id", "text")
    intercept[IllegalStateException] { run(b1, 1L, ix, failAfter = 1) }
    run(b1, 1L, ix)
    assert(storePostings(ix) == Map(
      ("one", 1L) -> 1L, ("two", 1L) -> 1L,
      ("two", 2L) -> 1L, ("three", 2L) -> 1L))
    // committed replay is a no-op: postings unchanged
    run(b1, 1L, ix)
    assert(spark.read.parquet(ix)
      .filter(col("batch_id") === 1L).count() == 2)
  }

  test("compaction merges to batch_id -1, preserves token mass and search results") {
    val ix = tmp("si-compact")
    run(Seq((1L, "red bolt")).toDF("doc_id", "text"), 0L, ix, compactAt = 2)
    run(Seq((2L, "red gear")).toDF("doc_id", "text"), 1L, ix, compactAt = 2)
    val store = spark.read.parquet(ix)
    assert(store.select("batch_id").distinct().as[Long].collect().toSeq == Seq(-1L))
    assert(store.agg(sum("tf")).head().getLong(0) == 4L)
    val got = TextSearch.searchStoreTopK(store, "doc_id", Seq("red"), 10)
      .as[(Long, Long)].collect().toSeq
    assert(got.map(_._1).toSet == Set(1L, 2L))
    // an uncommitted delta blocks compaction (failpoint before marker)
    val ix2 = tmp("si-nocompact")
    run(Seq((1L, "aa bb")).toDF("doc_id", "text"), 0L, ix2, compactAt = 1)
    intercept[IllegalStateException] {
      run(Seq((2L, "bb cc")).toDF("doc_id", "text"), 1L, ix2,
        compactAt = 1, failAfter = 1)
    }
    // batch 0 compacted to -1 before the crash; batch 1's delta stays
    // batch-keyed (the guard refuses to fold an uncommitted delta)
    assert(spark.read.parquet(ix2).filter(col("batch_id") === 1L).count() == 2)
  }

  test("commit markers SURVIVE compaction: a committed batch replayed after the swap is a no-op") {
    // the r16 bench caught this live: markers lived inside the swapped
    // dir, died with the compaction, and the re-run of an ingest+search
    // query re-published committed batches INTO the merged −1 rows —
    // mass-preservingly (tf doubles, Σtf doubles), so only the dl
    // sidecar's row-count guard surfaced it
    val ix = tmp("si-marker")
    val b0 = Seq((1L, "red bolt"), (2L, "red gear gear")).toDF("doc_id", "text")
    val b1 = Seq((3L, "blue bolt")).toDF("doc_id", "text")
    run(b0, 0L, ix, compactAt = 2)
    run(b1, 1L, ix, compactAt = 2) // triggers the compaction + swap
    val before = storePostings(ix)
    val dlBefore = spark.read.parquet(BatchStore.dlSidecarDir(ix))
      .select("doc_id", "__dl").as[(Long, Long)].collect().toMap
    // the whole-query replay shape (a bench/verify loop re-running the
    // same ingest in one session): BOTH batches re-run post-compaction
    run(b0, 0L, ix, compactAt = 2)
    run(b1, 1L, ix, compactAt = 2)
    assert(storePostings(ix) == before,
      "a committed batch re-ingested after compaction — markers lost in the swap")
    assert(spark.read.parquet(BatchStore.dlSidecarDir(ix))
      .select("doc_id", "__dl").as[(Long, Long)].collect().toMap == dlBefore)
    // and a genuinely NEW batch still ingests + compacts cleanly on top
    run(Seq((4L, "red")).toDF("doc_id", "text"), 2L, ix, compactAt = 2)
    assert(storePostings(ix) == before ++ Map(("red", 4L) -> 1L))
  }

  private def runPos(df: org.apache.spark.sql.DataFrame, id: Long,
      indexDir: String, compactAt: Int = 0,
      failAfter: Int = Int.MaxValue): Unit =
    BatchStore.positionalIndexBatch(df, id, indexDir, "doc_id", "text",
      compactAt, failAfterStep = failAfter)

  test("positional loop: ONE store serves frequency AND positional readers, equal to the direct operators") {
    val ix = tmp("si-pos")
    val b0 = Seq((1L, "red x x x blue"), (2L, "blue red")).toDF("doc_id", "text")
    val b1 = Seq((3L, "red x red blue x blue"), (4L, "red only here"))
      .toDF("doc_id", "text")
    runPos(b0, 0L, ix); runPos(b1, 1L, ix)
    val union = b0.unionByName(b1)
    val store = spark.read.parquet(ix)
    // single store law #1: positional readers ≡ direct operators
    assert(TextSearch.searchStoreProximity(store, "doc_id", "red", "blue", 4L, 10)
      .as[(Long, Long)].collect().toSeq ==
      TextSearch.proximityTopK(union, "doc_id", "text", "red", "blue", 4L, 10)
        .as[(Long, Long)].collect().toSeq)
    assert(TextSearch.searchStorePhrase(store, "doc_id", Seq("red", "blue"), 10)
      .as[(Long, Long)].collect().toSeq == Seq((3L, 1L)))
    // single store law #2: the frequency readers ignore positions and
    // agree with the direct operators (dl sidecar carries BM25 lengths)
    assert(TextSearch.searchStoreTopK(store, "doc_id", Seq("red", "blue"), 10)
      .as[(Long, Long)].collect().toSeq ==
      TextSearch.searchTopK(union, "doc_id", "text", Seq("red", "blue"), 10)
        .as[(Long, Long)].collect().toSeq)
    assert(BatchStore.searchIndexTopKBm25(spark, ix, "doc_id",
        Seq("red", "blue"), 10).as[(Long, Long)].collect().toSeq ==
      TextSearch.searchTopKBm25(union, "doc_id", "text",
        Seq("red", "blue"), 10).as[(Long, Long)].collect().toSeq)
  }

  test("positional loop: failpoint replay converges; compaction folds positions, markers survive") {
    val ix = tmp("si-pos-replay")
    runPos(Seq((1L, "one two one")).toDF("doc_id", "text"), 0L, ix)
    val b1 = Seq((2L, "two three two two")).toDF("doc_id", "text")
    intercept[IllegalStateException] { runPos(b1, 1L, ix, failAfter = 1) }
    intercept[IllegalStateException] { runPos(b1, 1L, ix, failAfter = 2) }
    runPos(b1, 1L, ix)
    def posMap() = spark.read.parquet(ix)
      .select("term", "doc_id", "positions", "tf")
      .as[(String, Long, Seq[Int], Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    val want = Map(
      ("one", 1L) -> ((Seq(0, 2), 2L)), ("two", 1L) -> ((Seq(1), 1L)),
      ("two", 2L) -> ((Seq(0, 2, 3), 3L)), ("three", 2L) -> ((Seq(1), 1L)))
    assert(posMap() == want)
    // compaction triggered by a third batch: folds to −1, preserves the
    // position mass, and the markers survive → whole-query replays no-op
    runPos(Seq((3L, "four")).toDF("doc_id", "text"), 2L, ix, compactAt = 2)
    val compacted = spark.read.parquet(ix)
    assert(compacted.select("batch_id").distinct().as[Long].collect().toSet
      .subsetOf(Set(-1L, 2L)))
    runPos(Seq((1L, "one two one")).toDF("doc_id", "text"), 0L, ix, compactAt = 2)
    runPos(b1, 1L, ix, compactAt = 2)
    assert(posMap() == want ++ Map(("four", 3L) -> ((Seq(0), 1L))))
    // the dl sidecar rode along: corpus-exact lengths after compaction
    assert(BatchStore.searchIndexDocLengths(spark, ix, "doc_id")
      .get.as[(Long, Long)].collect().toMap == Map(1L -> 3L, 2L -> 4L, 3L -> 1L))
  }

  test("doc-length sidecar guards: incomplete sidecar falls back; zero-token-batch crash never double-counts") {
    // 1. completeness: a sidecar that postdates the store (pre-sidecar
    // batches) must NOT be trusted — BM25's dl join is inner and would
    // silently drop the uncovered documents from the ranking
    val ix = tmp("si-dl-guard")
    val b0 = Seq((1L, "alpha beta"), (2L, "alpha")).toDF("doc_id", "text")
    val b1 = Seq((3L, "beta beta alpha")).toDF("doc_id", "text")
    run(b0, 0L, ix); run(b1, 1L, ix)
    // simulate a pre-sidecar batch: strip batch 0 from the sidecar
    val dlDir = BatchStore.dlSidecarDir(ix)
    val partial = spark.read.parquet(dlDir)
      .filter(col("batch_id") =!= 0L).collect()
    val schema = spark.read.parquet(dlDir).schema
    spark.createDataFrame(
      spark.sparkContext.parallelize(partial.toIndexedSeq), schema)
      .write.mode("overwrite").parquet(dlDir + ".rewrite")
    val fs = new org.apache.hadoop.fs.Path(dlDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(dlDir), true)
    fs.rename(new org.apache.hadoop.fs.Path(dlDir + ".rewrite"),
      new org.apache.hadoop.fs.Path(dlDir))
    assert(BatchStore.searchIndexDocLengths(spark, ix, "doc_id").isEmpty,
      "an incomplete sidecar must not be served")
    // the dir reader still answers correctly via the fallback
    val viaDir = BatchStore.searchIndexTopKBm25(
      spark, ix, "doc_id", Seq("alpha"), 10)
      .as[(Long, Long)].collect().map(_._1).toSet
    assert(viaDir == Set(1L, 2L, 3L))

    // 2. a batch whose documents are ALL zero-token publishes dl rows
    // but no postings rows; a failpoint-2 crash + compaction must not
    // fold its uncommitted dl rows (they would double on replay)
    val ix2 = tmp("si-dl-zerotok")
    run(Seq((1L, "one two")).toDF("doc_id", "text"), 0L, ix2)
    val zeroTok = Seq((2L, "!!!"), (3L, "???")).toDF("doc_id", "text")
    intercept[IllegalStateException] {
      BatchStore.searchIndexBatch(zeroTok, 1L, ix2, "doc_id", "text",
        compactAtFiles = 0, failAfterStep = 2)
    }
    // compaction triggered by the next committed batch: the postings-
    // derived pending check cannot see batch 1 — the sidecar's own
    // guard must skip the dl fold
    run(Seq((4L, "three")).toDF("doc_id", "text"), 2L, ix2, compactAt = 1)
    // replay of the crashed batch converges (overwrite, not append)
    BatchStore.searchIndexBatch(zeroTok, 1L, ix2, "doc_id", "text",
      compactAtFiles = 0)
    val dl = spark.read.parquet(BatchStore.dlSidecarDir(ix2))
      .select("doc_id", "__dl").as[(Long, Long)].collect().toMap
    assert(dl == Map(1L -> 2L, 2L -> 0L, 3L -> 0L, 4L -> 1L),
      s"zero-token docs double-counted or lost: $dl")
    assert(spark.read.parquet(BatchStore.dlSidecarDir(ix2)).count() == 4)
  }

  // ------------------------------------------- retrieval-store takedown

  private def dlMap(ix: String): Map[Long, Long] =
    spark.read.parquet(BatchStore.dlSidecarDir(ix))
      .groupBy("doc_id").agg(sum("__dl").as("__dl"))
      .as[(Long, Long)].collect().toMap

  test("takedown strong form: post-delete store ≡ a fresh ingest of the surviving corpus (scores shift with n_docs)") {
    val ix = tmp("si-td")
    val b0 = Seq((1L, "alpha beta gamma"), (2L, "alpha beta"),
      (3L, "gamma gamma alpha beta")).toDF("doc_id", "text")
    val b1 = Seq((4L, "beta delta"), (5L, "alpha alpha delta beta"),
      (6L, "...")).toDF("doc_id", "text") // 6 is zero-token: sidecar-only
    run(b0, 0L, ix); run(b1, 1L, ix)
    val before = BatchStore.searchIndexTopKBm25(spark, ix, "doc_id",
      Seq("alpha", "beta"), 10).as[(Long, Long)].collect().toSeq
    // takedown: docs 3 (postings+dl) and 6 (dl ONLY — its terms never
    // entered the store; the sidecar half must still fire)
    val removed = BatchStore.deleteSwapSearchIndex(spark, ix, "doc_id",
      Seq(3L, 6L).toDF("doc_id"))
    assert(removed > 0)
    // the reference: a FRESH ingest of the surviving corpus
    val ix2 = tmp("si-td-ref")
    run(Seq((1L, "alpha beta gamma"), (2L, "alpha beta"),
      (4L, "beta delta"), (5L, "alpha alpha delta beta"))
      .toDF("doc_id", "text"), 0L, ix2)
    assert(storePostings(ix) == storePostings(ix2),
      "post-takedown postings differ from a survivor rebuild")
    assert(dlMap(ix) == dlMap(ix2))
    assert(BatchStore.searchIndexTotals(spark, ix) ==
      BatchStore.searchIndexTotals(spark, ix2),
      "totals manifest did not fold with the takedown")
    // the STRONG form: BM25 through the dir reader (manifest n_docs,
    // sidecar lengths) equals the survivor rebuild's — and differs from
    // the pre-takedown ranking (n_docs/avgdl/df all shifted)
    def bm25(d: String) = BatchStore.searchIndexTopKBm25(spark, d,
      "doc_id", Seq("alpha", "beta"), 10,
      allowFullScanFallback = false).as[(Long, Long)].collect().toSeq
    assert(bm25(ix) == bm25(ix2))
    assert(bm25(ix) != before, "scores did not shift — a stale scalar " +
      "(n_docs or avgdl) survived the takedown")
    // markers survived: a committed-batch replay after the swap no-ops
    val after = storePostings(ix)
    run(b0, 0L, ix); run(b1, 1L, ix)
    assert(storePostings(ix) == after,
      "commit markers lost in the takedown swap — replays re-published")
    // re-applying the same list is a no-op (idempotence)
    BatchStore.deleteSwapSearchIndex(spark, ix, "doc_id",
      Seq(3L, 6L).toDF("doc_id"))
    assert(storePostings(ix) == after && dlMap(ix) == dlMap(ix2))
    // and a genuinely NEW batch still ingests on top (tokenizer marker
    // survived the swap too — an ingest would refuse otherwise)
    run(Seq((7L, "epsilon beta")).toDF("doc_id", "text"), 2L, ix)
    assert(storePostings(ix).contains(("epsilon", 7L)))
  }

  test("takedown refusals: delete-all refused; uncommitted generations refuse the fold") {
    val ix = tmp("si-td-refuse")
    run(Seq((1L, "alpha beta"), (2L, "beta")).toDF("doc_id", "text"), 0L, ix)
    val eAll = intercept[IllegalArgumentException] {
      BatchStore.deleteSwapSearchIndex(spark, ix, "doc_id",
        Seq(1L, 2L).toDF("doc_id"))
    }
    assert(eAll.getMessage.contains("EVERY row"))
    // a crashed batch (published, unmarked) blocks the takedown: folding
    // its delta to −1 would double it on replay
    intercept[IllegalStateException] {
      run(Seq((3L, "gamma")).toDF("doc_id", "text"), 1L, ix, failAfter = 1)
    }
    val ePend = intercept[IllegalArgumentException] {
      BatchStore.deleteSwapSearchIndex(spark, ix, "doc_id",
        Seq(1L).toDF("doc_id"))
    }
    assert(ePend.getMessage.contains("UNCOMMITTED"))
    // replay the crashed batch; the takedown then proceeds
    run(Seq((3L, "gamma")).toDF("doc_id", "text"), 1L, ix)
    BatchStore.deleteSwapSearchIndex(spark, ix, "doc_id",
      Seq(1L).toDF("doc_id"))
    assert(!storePostings(ix).contains(("alpha", 1L)))
  }

  test("dl-only takedown (a zero-token doc) folds BOTH stores: readers' generation guards stay healthy") {
    // doc 3 is token-free: it lives ONLY in the dl sidecar. Its
    // takedown must fold the postings store to the same −1 generation,
    // or the subset guards (store batches ⊆ sidecar batches) would
    // permanently distrust a complete sidecar (review finding)
    val ix = tmp("si-td-dlonly")
    run(Seq((1L, "alpha beta"), (2L, "alpha"), (3L, "...")).toDF("doc_id", "text"), 0L, ix)
    BatchStore.deleteSwapSearchIndex(spark, ix, "doc_id",
      Seq(3L).toDF("doc_id"))
    // the strict readers still serve (totals manifest + sidecar intact)
    assert(BatchStore.searchIndexTotals(spark, ix) == Some((2L, 3L)))
    val ix2 = tmp("si-td-dlonly-ref")
    run(Seq((1L, "alpha beta"), (2L, "alpha")).toDF("doc_id", "text"), 0L, ix2)
    def bm25(d: String) = BatchStore.searchIndexTopKBm25(spark, d,
      "doc_id", Seq("alpha"), 10, allowFullScanFallback = false)
      .as[(Long, Long)].collect().toSeq
    assert(bm25(ix) == bm25(ix2))
    assert(dlMap(ix) == Map(1L -> 2L, 2L -> 1L))
  }

  test("a reused delete-list filename does not wedge the loop: _applied picks a unique name") {
    val ix = tmp("si-td-reuse"); val pend = tmp("si-td-reuse-pend")
    run(Seq((1L, "alpha beta"), (2L, "beta"), (3L, "gamma beta"))
      .toDF("doc_id", "text"), 0L, ix)
    Seq(2L).toDF("doc_id").write.parquet(pend + "/ids.parquet")
    BatchStore.searchIndexBatch(
      Seq((4L, "delta")).toDF("doc_id", "text"), 1L, ix, "doc_id", "text",
      compactAtFiles = 0, applyDeletesFrom = pend)
    assert(new java.io.File(pend + "/_applied/ids.parquet").exists())
    // the SAME filename dropped again (the monthly-takedown shape that
    // wedged the old rename-into-existing-destination)
    Seq(3L).toDF("doc_id").write.parquet(pend + "/ids.parquet")
    BatchStore.searchIndexBatch(
      Seq((5L, "epsilon")).toDF("doc_id", "text"), 2L, ix, "doc_id", "text",
      compactAtFiles = 0, applyDeletesFrom = pend)
    assert(new java.io.File(pend + "/_applied/ids.parquet-1").exists())
    assert(!new java.io.File(pend + "/ids.parquet").exists())
    val left = storePostings(ix).keySet.map(_._2)
    assert(left == Set(1L, 4L, 5L), s"got $left")
  }

  test("positional takedown: store twins stop matching the deleted doc; in-loop crash seams replay to convergence") {
    val ix = tmp("si-td-pos"); val pend = tmp("si-td-pend")
    val b0 = Seq((1L, "red blue x red blue"), (2L, "red x x blue"))
      .toDF("doc_id", "text")
    val b1 = Seq((3L, "red blue")).toDF("doc_id", "text")
    runPos(b0, 0L, ix); runPos(b1, 1L, ix)
    // the reference: a survivor rebuild
    val ix2 = tmp("si-td-pos-ref")
    runPos(Seq((1L, "red blue x red blue"), (2L, "red x x blue"))
      .toDF("doc_id", "text"), 0L, ix2)
    // drop an id list into the pend dir; crash AFTER the postings swap
    // (failpoint 11 fires inside the takedown's two-halves window)
    Seq(3L).toDF("doc_id").write.parquet(pend + "/list1")
    intercept[IllegalStateException] {
      BatchStore.positionalIndexBatch(
        Seq((9L, "green")).toDF("doc_id", "text"), 2L, ix, "doc_id", "text",
        compactAtFiles = 0, failAfterStep = 11, applyDeletesFrom = pend)
    }
    // postings half landed; dl half pending; the list was NOT consumed
    assert(spark.read.parquet(ix).filter(col("doc_id") === 3L).isEmpty,
      "postings half did not land before the failpoint")
    assert(new java.io.File(pend + "/list1").exists(),
      "list consumed before both halves completed")
    // the next batch entry (a replay of the committed batch 2) re-applies
    // the pending list to completion
    BatchStore.positionalIndexBatch(
      Seq((9L, "green")).toDF("doc_id", "text"), 2L, ix, "doc_id", "text",
      compactAtFiles = 0, applyDeletesFrom = pend)
    assert(!new java.io.File(pend + "/list1").exists() &&
      new java.io.File(pend + "/_applied/list1").exists(),
      "applied list not consumed into _applied/")
    // doc 3 is gone from every reader: phrase, proximity, frequency
    val store = spark.read.parquet(ix).filter(col("doc_id") =!= 9L)
    val ref = spark.read.parquet(ix2)
    assert(TextSearch.searchStorePhrase(store, "doc_id",
        Seq("red", "blue"), 10).as[(Long, Long)].collect().toSeq ==
      TextSearch.searchStorePhrase(ref, "doc_id",
        Seq("red", "blue"), 10).as[(Long, Long)].collect().toSeq)
    assert(TextSearch.searchStoreProximity(store, "doc_id", "red", "blue",
        4L, 10).as[(Long, Long)].collect().toSeq ==
      TextSearch.searchStoreProximity(ref, "doc_id", "red", "blue",
        4L, 10).as[(Long, Long)].collect().toSeq)
    // dl sidecar folded consistently (batch 2's doc 9 remains)
    assert(dlMap(ix) == dlMap(ix2) + (9L -> 1L))
  }
}
