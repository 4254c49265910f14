package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The persisted-index parameter contract: an index relation carries its
  * build parameters as stamped constant columns, and every probe
  * validates them. Before the stamp, a probe run under parameters other
  * than the index's build parameters silently equi-joined into the
  * wrong key space and returned a plausible-looking NEAR-EMPTY match
  * set — the worst failure mode, a wrong answer with no error. These
  * specs prove the mismatch now raises, the stamp survives the parquet
  * round-trip a persisted index lives through, and a matched probe is
  * byte-identical to the unstamped era.
  */
class IndexStampSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "completely different text body here now")
  ).toDF("doc_id", "text")

  private def vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.5f, 0.2f)),
    (2L, Array(0.9f, 0.1f, 0.4f, 0.2f)),
    (3L, Array(-1.0f, 0.3f, 0.0f, 0.7f)),
    (4L, Array(0.0f, -0.2f, 0.8f, 0.1f))
  ).toDF("vec_id", "embedding")

  /** Run `action` and assert some throwable in the cause chain carries
    * the stamp-mismatch message (Spark wraps the task-side raise). */
  private def assertMismatchRaises(action: => Any): Unit = {
    val t = intercept[Throwable](action)
    val messages = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString("\n")
    assert(messages.contains("build-parameter mismatch"),
      s"expected a build-parameter mismatch raise, got: $messages")
  }

  test("minhashProbe against an index built under different banding RAISES") {
    val index = Dedup.minhashIndex(docs, "doc_id", "text", n = 3, k = 16, bands = 4)
    assertMismatchRaises(
      Dedup.minhashProbe(docs, index, "doc_id", "text",
        n = 3, k = 16, bands = 8, minAgree = 1).count())
    // mismatched shingle width too — same band count, different key space
    assertMismatchRaises(
      Dedup.minhashProbe(docs, index, "doc_id", "text",
        n = 2, k = 16, bands = 4, minAgree = 1).count())
  }

  test("lshIndexProbe against an index built under a different plane count RAISES") {
    val index = Similarity.lshIndex(vecs, "vec_id", "embedding",
      planes = 2, dims = 4, tables = 4)
    assertMismatchRaises(
      Similarity.lshIndexProbe(vecs, index, "vec_id", "embedding",
        minMicro = 0L, planes = 3, dims = 4, tables = 4).count())
    assertMismatchRaises(
      Similarity.lshIndexProbe(vecs, index, "vec_id", "embedding",
        minMicro = 0L, planes = 2, dims = 4, tables = 6).count())
  }

  test("an unstamped index relation is rejected at plan construction") {
    val stripped = Dedup.minhashIndex(docs, "doc_id", "text")
      .drop("ix_n", "ix_k", "ix_bands")
    val e1 = intercept[IllegalArgumentException](
      Dedup.minhashProbe(docs, stripped, "doc_id", "text"))
    assert(e1.getMessage.contains("ix_n"))
    val strippedLsh = Similarity.lshIndex(vecs, "vec_id", "embedding",
      planes = 2, dims = 4).drop("ix_planes", "ix_dims", "ix_tables")
    val e2 = intercept[IllegalArgumentException](
      Similarity.lshIndexProbe(vecs, strippedLsh, "vec_id", "embedding",
        minMicro = 0L, planes = 2, dims = 4))
    assert(e2.getMessage.contains("ix_planes"))
  }

  test("streaming screens validate the stamp at plan construction too") {
    // the near-dup and embedding screens are the probes themselves; a
    // single missing stamp column is refused before any plan runs
    val strippedMh = Dedup.minhashIndex(docs, "doc_id", "text").drop("ix_bands")
    val e1 = intercept[IllegalArgumentException](
      Dedup.minhashProbe(docs, strippedMh, "doc_id", "text"))
    assert(e1.getMessage.contains("ix_bands"))
    val strippedLsh = Similarity.lshIndex(vecs, "vec_id", "embedding",
      planes = 2, dims = 4).drop("ix_tables")
    val e2 = intercept[IllegalArgumentException](
      Similarity.lshIndexProbe(vecs, strippedLsh, "vec_id", "embedding",
        minMicro = 0L, planes = 2, dims = 4))
    assert(e2.getMessage.contains("ix_tables"))
  }

  test("probeAuto reads parameters from the stamp: equals the explicit probe, never mismatches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-auto").toString
    // non-default parameters, persisted — the auto probe must recover
    // them from the stamp alone
    Dedup.minhashIndex(docs, "doc_id", "text", n = 2, k = 8, bands = 2)
      .write.mode("overwrite").partitionBy("band").parquet(dir)
    val readBack = spark.read.parquet(dir)
    val explicit = Dedup.minhashProbe(docs, readBack, "doc_id", "text",
      n = 2, k = 8, bands = 2, minAgree = 4).collect().map(_.toSeq).toSet
    val auto = Dedup.minhashProbeAuto(docs, readBack, "doc_id", "text",
      minAgree = 4).collect().map(_.toSeq).toSet
    assert(auto == explicit && auto.nonEmpty)
    // embedding twin
    val ixDir = java.nio.file.Files.createTempDirectory("graft-auto-lsh").toString
    Similarity.lshIndex(vecs, "vec_id", "embedding", planes = 3, dims = 4, tables = 2)
      .write.mode("overwrite").partitionBy("tbl").parquet(ixDir)
    val lshBack = spark.read.parquet(ixDir)
    val lshExplicit = Similarity.lshIndexProbe(vecs, lshBack, "vec_id", "embedding",
      minMicro = 0L, planes = 3, dims = 4, tables = 2).collect().map(_.toSeq).toSet
    val lshAuto = Similarity.lshIndexProbeAuto(vecs, lshBack, "vec_id", "embedding",
      minMicro = 0L).collect().map(_.toSeq).toSet
    assert(lshAuto == lshExplicit && lshAuto.nonEmpty)
  }

  test("probeAuto on an empty index: empty result, contract schema; extend refuses") {
    val emptyMh = Dedup.minhashIndex(docs.limit(0), "doc_id", "text")
    val r = Dedup.minhashProbeAuto(docs, emptyMh, "doc_id", "text")
    assert(r.columns.toSeq == Seq("probe_doc_id", "corpus_doc_id", "sig_agree"))
    assert(r.count() == 0)
    val emptyLsh = Similarity.lshIndex(vecs.limit(0), "vec_id", "embedding",
      planes = 2, dims = 4)
    val r2 = Similarity.lshIndexProbeAuto(vecs, emptyLsh, "vec_id", "embedding", 0L)
    assert(r2.columns.toSeq == Seq("probe_id", "corpus_id", "cos_micro"))
    assert(r2.count() == 0)
    intercept[IllegalArgumentException](
      Dedup.minhashIndexExtend(emptyMh, docs, "doc_id", "text").collect())
    intercept[IllegalArgumentException](
      Similarity.lshIndexExtend(emptyLsh, vecs, "vec_id", "embedding").collect())
  }

  test("indexExtend inherits the stamp: appended rows probe identically to a full rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("graft-extend").toString
    val first = docs.filter(col("doc_id") <= 2)
    val late = Seq((4L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    Dedup.minhashIndex(first, "doc_id", "text", n = 3, k = 16, bands = 4)
      .write.mode("overwrite").parquet(dir)
    Dedup.minhashIndexExtend(spark.read.parquet(dir), late, "doc_id", "text")
      .write.mode("append").parquet(dir)
    val extended = spark.read.parquet(dir)
    // one stamp combination across original + appended rows
    assert(extended.select("ix_n", "ix_k", "ix_bands").distinct().count() == 1)
    val probe = Seq((10L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val viaExtended = Dedup.minhashProbeAuto(probe, extended, "doc_id", "text")
      .collect().map(_.toSeq).toSet
    val viaRebuild = Dedup.minhashProbeAuto(probe,
      Dedup.minhashIndex(first.unionByName(late), "doc_id", "text"),
      "doc_id", "text").collect().map(_.toSeq).toSet
    assert(viaExtended == viaRebuild)
    assert(viaExtended.exists(r => r(1) == 4L), "appended doc must be probeable")
  }

  test("incremental ingest: corpus dups dropped, intra-batch clusters collapse, append rows inherit the stamp") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val index = Dedup.minhashIndex(corpus, "doc_id", "text")
    val batch = Seq(
      (101L, "alpha beta gamma delta epsilon zeta eta theta"), // dup of corpus 1
      (102L, "lorem ipsum dolor sit amet consectetur adipiscing elit"),
      (103L, "lorem ipsum dolor sit amet consectetur adipiscing elit"), // intra dup of 102
      (104L, "wholly different vocabulary nothing shared here at all"))
      .toDF("doc_id", "text")
    val (survivors, appendRows) = Dedup.minhashIncrementalIngest(
      index, batch, "doc_id", "text")
    assert(survivors.select("doc_id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(102L, 104L)))
    // append rows carry the same stamp and make the NEXT batch screen
    // against corpus + this batch — a replay of 102's text now matches
    assert(appendRows.select("ix_n", "ix_k", "ix_bands").distinct().count() == 1)
    val grown = index.unionByName(appendRows)
    val next = Seq((201L, "lorem ipsum dolor sit amet consectetur adipiscing elit"))
      .toDF("doc_id", "text")
    val (nextSurvivors, _) = Dedup.minhashIncrementalIngest(grown, next, "doc_id", "text")
    assert(nextSurvivors.count() == 0, "grown index must catch the replay")
    // empty index refused
    intercept[IllegalArgumentException](
      Dedup.minhashIncrementalIngest(
        Dedup.minhashIndex(corpus.limit(0), "doc_id", "text"), batch, "doc_id", "text"))
  }

  test("embedding incremental ingest mirrors the text contract") {
    val corpus = Seq((1L, Array(1.0f, 0.0f, 0.5f, 0.2f)),
      (2L, Array(-0.8f, 0.3f, 0.1f, -0.6f))).toDF("vec_id", "embedding")
    val index = Similarity.lshIndex(corpus, "vec_id", "embedding",
      planes = 2, dims = 4, tables = 4)
    val batch = Seq(
      (101L, Array(0.99f, 0.01f, 0.5f, 0.2f)),   // near-dup of corpus 1
      (102L, Array(0.0f, 1.0f, -0.4f, 0.3f)),
      (103L, Array(0.01f, 0.99f, -0.4f, 0.3f)),  // near-dup of 102
      (104L, Array(0.3f, -0.2f, -0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val (survivors, appendRows) = Similarity.lshIncrementalIngest(
      index, batch, "vec_id", "embedding", minMicro = 900000L)
    assert(survivors.select("vec_id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(102L, 104L)))
    assert(appendRows.select("ix_planes", "ix_dims", "ix_tables").distinct().count() == 1)
    val (nextSurvivors, _) = Similarity.lshIncrementalIngest(
      index.unionByName(appendRows),
      Seq((201L, Array(0.0f, 1.0f, -0.4f, 0.3f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", minMicro = 900000L)
    assert(nextSurvivors.count() == 0, "grown index must catch the replay")
  }

  test("IVF probeAuto reads the stamp: equals the explicit probe; empty index contract") {
    val dir = java.nio.file.Files.createTempDirectory("graft-auto-ivf").toString
    Similarity.ivfIndex(vecs, "vec_id", "embedding", nCells = 2, dims = 4)
      .write.mode("overwrite").partitionBy("cell").parquet(dir)
    val readBack = spark.read.parquet(dir)
    val explicit = Similarity.ivfIndexProbe(vecs, readBack, "vec_id", "embedding",
      k = 2, nProbe = 2, nCells = 2, dims = 4).collect().map(_.toSeq).toSet
    val auto = Similarity.ivfIndexProbeAuto(vecs, readBack, "vec_id", "embedding",
      k = 2, nProbe = 2).collect().map(_.toSeq).toSet
    assert(auto == explicit && auto.nonEmpty)
    // empty index: schema-correct empty result; extend/ingest refuse
    val emptyIvf = Similarity.ivfIndex(vecs.limit(0), "vec_id", "embedding",
      nCells = 2, dims = 4)
    val r = Similarity.ivfIndexProbeAuto(vecs, emptyIvf, "vec_id", "embedding",
      k = 2, nProbe = 2)
    assert(r.columns.toSeq == Seq("query_id", "neighbor_id", "cos_micro", "rank"))
    assert(r.count() == 0)
    intercept[IllegalArgumentException](
      Similarity.ivfIndexExtend(emptyIvf, vecs, "vec_id", "embedding"))
    intercept[IllegalArgumentException](
      Similarity.ivfIncrementalIngest(emptyIvf, vecs, "vec_id", "embedding",
        minMicro = 0L, nProbe = 1))
  }

  test("IVF index builds on an int id column (defensive long cast at centroid collect)") {
    val intIds = Seq((1, Array(1.0f, 0.0f)), (2, Array(0.0f, 1.0f)),
      (3, Array(0.9f, 0.1f))).toDF("vec_id", "embedding")
    val ix = Similarity.ivfIndex(intIds, "vec_id", "embedding", nCells = 2, dims = 2)
    assert(ix.count() == 3 && ix.filter(col("is_cent")).count() == 2)
  }

  test("IVF incremental ingest mirrors the text/LSH contract") {
    val corpus = Seq((1L, Array(1.0f, 0.0f, 0.5f, 0.2f)),
      (2L, Array(-0.8f, 0.3f, 0.1f, -0.6f))).toDF("vec_id", "embedding")
    val index = Similarity.ivfIndex(corpus, "vec_id", "embedding",
      nCells = 2, dims = 4)
    val batch = Seq(
      (101L, Array(0.99f, 0.01f, 0.5f, 0.2f)),   // near-dup of corpus 1
      (102L, Array(0.0f, 1.0f, -0.4f, 0.3f)),
      (103L, Array(0.01f, 0.99f, -0.4f, 0.3f)),  // near-dup of 102
      (104L, Array(0.3f, -0.2f, -0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    // nProbe = nCells: the screen is exhaustive, so the expectations are
    // exact, not recall-dependent
    val (survivors, appendRows) = Similarity.ivfIncrementalIngest(
      index, batch, "vec_id", "embedding", minMicro = 900000L, nProbe = 2)
    assert(survivors.select("vec_id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(102L, 104L)))
    assert(appendRows.select("ix_cells", "ix_dims").distinct().count() == 1)
    assert(appendRows.filter(col("is_cent")).count() == 0,
      "appended rows must never become centroids")
    val (nextSurvivors, _) = Similarity.ivfIncrementalIngest(
      index.unionByName(appendRows),
      Seq((201L, Array(0.0f, 1.0f, -0.4f, 0.3f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", minMicro = 900000L, nProbe = 2)
    assert(nextSurvivors.count() == 0, "grown index must catch the replay")
  }

  test("extend and ingest refuse a mixed-stamp directory instead of inheriting one family") {
    // a directory polluted by an append stamped under different banding:
    // IndexStamp.read would trust whichever row head() happens to return
    // and deepen the mix — the extend/ingest paths must refuse instead
    val dir = java.nio.file.Files.createTempDirectory("graft-mixed-extend").toString
    Dedup.minhashIndex(docs, "doc_id", "text", n = 3, k = 16, bands = 4)
      .write.mode("append").partitionBy("band").parquet(dir)
    Dedup.minhashIndex(docs, "doc_id", "text", n = 3, k = 16, bands = 2)
      .write.mode("append").partitionBy("band").parquet(dir)
    val mixed = spark.read.parquet(dir)
    val late = Seq((9L, "a fresh never seen before document body")).toDF("doc_id", "text")
    val e1 = intercept[IllegalArgumentException](
      Dedup.minhashIndexExtend(mixed, late, "doc_id", "text"))
    assert(e1.getMessage.contains("different builds"))
    val e2 = intercept[IllegalArgumentException](
      Dedup.minhashIncrementalIngest(mixed, late, "doc_id", "text"))
    assert(e2.getMessage.contains("different builds"))
    // embedding twin
    val lshDir = java.nio.file.Files.createTempDirectory("graft-mixed-lsh").toString
    Similarity.lshIndex(vecs, "vec_id", "embedding", planes = 2, dims = 4, tables = 2)
      .write.mode("append").partitionBy("tbl").parquet(lshDir)
    Similarity.lshIndex(vecs, "vec_id", "embedding", planes = 3, dims = 4, tables = 2)
      .write.mode("append").partitionBy("tbl").parquet(lshDir)
    val mixedLsh = spark.read.parquet(lshDir)
    val e3 = intercept[IllegalArgumentException](
      Similarity.lshIndexExtend(mixedLsh, vecs, "vec_id", "embedding"))
    assert(e3.getMessage.contains("different builds"))
    val e4 = intercept[IllegalArgumentException](
      Similarity.lshIncrementalIngest(mixedLsh, vecs, "vec_id", "embedding", 0L))
    assert(e4.getMessage.contains("different builds"))
    // IVF twin
    val ivfDir = java.nio.file.Files.createTempDirectory("graft-mixed-ivf").toString
    Similarity.ivfIndex(vecs, "vec_id", "embedding", nCells = 2, dims = 4)
      .write.mode("append").partitionBy("cell").parquet(ivfDir)
    Similarity.ivfIndex(vecs, "vec_id", "embedding", nCells = 3, dims = 4)
      .write.mode("append").partitionBy("cell").parquet(ivfDir)
    val mixedIvf = spark.read.parquet(ivfDir)
    val e5 = intercept[IllegalArgumentException](
      Similarity.ivfIndexExtend(mixedIvf, vecs, "vec_id", "embedding"))
    assert(e5.getMessage.contains("different builds"))
    val e6 = intercept[IllegalArgumentException](
      Similarity.ivfIncrementalIngest(mixedIvf, vecs, "vec_id", "embedding",
        0L, nProbe = 1))
    assert(e6.getMessage.contains("different builds"))
  }

  test("stamp survives the partitioned parquet round-trip and a matched probe is unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stamp").toString
    val index = Dedup.minhashIndex(docs, "doc_id", "text")
    index.write.mode("overwrite").partitionBy("band").parquet(dir)
    val readBack = spark.read.parquet(dir)
    assert(Seq("ix_n", "ix_k", "ix_bands").forall(readBack.columns.contains),
      "stamp columns must survive persistence")
    val probes = Seq((10L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    def run(ix: org.apache.spark.sql.DataFrame) =
      Dedup.minhashProbe(probes, ix, "doc_id", "text", minAgree = 8)
        .collect().map(_.toSeq).toSet
    val fromDisk = run(readBack)
    assert(fromDisk == run(index))
    assert(fromDisk.nonEmpty, "near-identical doc must match through the index")
    // and the mismatch raise also fires through the persisted form
    assertMismatchRaises(
      Dedup.minhashProbe(probes, readBack, "doc_id", "text",
        n = 3, k = 16, bands = 2, minAgree = 1).count())
  }

  test("the uniqueness memo is invalidated when the index directory grows a second family") {
    // readUnique memoizes the bare-scan uniqueness verdict per
    // (dirs, mtimes); a later differently-stamped append bumps the
    // written subdirectories' mtimes, so the stale all-clear must NOT
    // be served — the refusal has to fire on the polluted directory
    val dir = java.nio.file.Files.createTempDirectory("graft-memo-fresh").toString
    Dedup.minhashIndex(docs, "doc_id", "text", n = 3, k = 16, bands = 4)
      .write.mode("append").partitionBy("band").parquet(dir)
    val late = Seq((9L, "a fresh never seen before document body")).toDF("doc_id", "text")
    // two reads of the clean directory: the second is the memo hit —
    // both must agree and succeed
    val grown1 = Dedup.minhashIndexExtend(spark.read.parquet(dir), late, "doc_id", "text")
    val grown2 = Dedup.minhashIndexExtend(spark.read.parquet(dir), late, "doc_id", "text")
    assert(grown1.select("ix_bands").distinct().collect().map(_.getInt(0)).toSeq == Seq(4))
    assert(grown2.count() == grown1.count())
    // deliberately NO sleep before the polluting append: the freshness
    // token is mtime + file count + bytes, so an append landing inside
    // the same mtime tick still invalidates the memo (the r9 advice
    // hole — mtime alone needed a sleep here to pass)
    Dedup.minhashIndex(docs, "doc_id", "text", n = 3, k = 16, bands = 2)
      .write.mode("append").partitionBy("band").parquet(dir)
    val e = intercept[IllegalArgumentException](
      Dedup.minhashIndexExtend(spark.read.parquet(dir), late, "doc_id", "text"))
    assert(e.getMessage.contains("different builds"),
      "a stale memo served for the polluted directory")
  }
}
