package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lifecycle operations on the persisted LSH index relations
  * ([[Dedup.minhashIndex]] partitioned by `band`,
  * [[Similarity.lshIndex]] partitioned by `tbl`) beyond build / probe /
  * extend: compaction and skew profiling.
  *
  * Both exist because the indexes are append-GROWN: every
  * [[Dedup.minhashIndexExtend]] / [[Similarity.lshIndexExtend]] batch
  * adds one more small parquet file per partition directory. At 100 TB that is
  * the classic object-store small-files failure mode (probe-side scan
  * cost becomes per-FILE, not per-byte: open/footer/seek per fragment),
  * and bucket skew is the probe-side cost model (a probe's candidate
  * set is the size of the buckets it lands in, so the hottest bucket
  * bounds the worst probe).
  */
object IndexOps {

  /** Exact bucket-size histogram of an index relation: for each
    * partition value of `dirCol` (band / table family), how many
    * buckets hold exactly `bucket_rows` rows. The complete, exact skew
    * profile — p99 / max / mean are all derivable from it — in two
    * map-side-combined hash aggregations (no window, no sort, no
    * collect; output is at most #distinct-bucket-sizes rows per
    * family, which is tiny by construction).
    *
    * Operational use at scale: a near-dup index over a corpus with
    * boilerplate (empty docs, templated pages) develops mega-buckets —
    * every probe landing there reranks the whole bucket, so the
    * histogram's tail IS the probe latency model. Feed the hot keys to
    * a df-cap or drop list (the [[Dedup.simhashPairs]] chunk-cap
    * lesson, measured in SCALING.md). */
  def bucketHistogram(index: DataFrame, dirCol: String, keyCol: String): DataFrame =
    index.groupBy(col(dirCol), col(keyCol))
      .agg(count(lit(1)).as("bucket_rows"))
      .groupBy(col(dirCol), col("bucket_rows"))
      .agg(count(lit(1)).as("n_buckets"))

  /** The IVF analogue of [[bucketHistogram]], over
    * [[Similarity.ivfIndex]]'s single-level `cell` key: how many cells
    * hold exactly `cell_rows` vectors. The probe-side cost model of
    * the IVF family — a probe exact-reranks the cells it lands in, so
    * the histogram's tail IS the worst-probe bound (and the direct
    * measure of centroid-sample quality: correlated centroids show up
    * here as a fat tail). Feed the tail to `ivfIndexProbe`'s
    * `maxCellRows` cap — the [[capHotBuckets]] recall contract applied
    * to cells. Two map-side-combined hash aggregations; output is at
    * most nCells rows. */
  def cellHistogram(index: DataFrame): DataFrame =
    index.groupBy(col("cell"))
      .agg(count(lit(1)).as("cell_rows"))
      .groupBy(col("cell_rows"))
      .agg(count(lit(1)).as("n_cells"))

  /** The probe cap a histogram tail implies, as a RULE instead of an
    * operator eyeballing [[bucketHistogram]]/[[cellHistogram]] output:
    * the smallest bucket size S such that buckets of size ≤ S are at
    * least `quantile` of ALL buckets — i.e. "rerank every bucket except
    * the top (1−quantile) tail", the SCALING.md cap-picking rule made
    * executable. Feed the result to `maxBucketRows`/`maxCellRows`
    * ([[capHotBuckets]]): recall contract unchanged — ONLY buckets
    * above the cap are skipped, and a pair sharing any under-cap bucket
    * still reranks exactly.
    *
    * `sizeCol`/`countCol` name the histogram's (size, count) columns —
    * `("bucket_rows", "n_buckets")` for [[bucketHistogram]] (its
    * per-directory rows fold together first), `("cell_rows",
    * "n_cells")` for [[cellHistogram]]. The driver materialization is
    * the histogram itself — one row per DISTINCT bucket size, the same
    * bounded class as the manifest collects. */
  def capFromHistogram(hist: DataFrame, sizeCol: String, countCol: String,
      quantile: Double): Int = {
    require(quantile > 0.0 && quantile <= 1.0,
      s"quantile must be in (0, 1], got $quantile")
    val rows = hist.groupBy(col(sizeCol).cast("long").as("__size"))
      .agg(sum(col(countCol)).as("__n"))
      .orderBy("__size").collect()
    require(rows.nonEmpty, "capFromHistogram: empty histogram — no index rows")
    val total = rows.map(_.getLong(1)).sum
    val need = math.ceil(quantile * total).toLong
    var acc = 0L
    var cap = rows.last.getLong(0)
    val it = rows.iterator
    var found = false
    while (it.hasNext && !found) {
      val r = it.next(); acc += r.getLong(1)
      if (acc >= need) { cap = r.getLong(0); found = true }
    }
    require(cap <= Int.MaxValue, s"capFromHistogram: cap $cap exceeds Int range")
    cap.toInt
  }

  /** `maxBucketRows = auto`: [[capFromHistogram]] over
    * [[bucketHistogram]], ready to pass to the LSH/MinHash probes. */
  def autoBucketCap(index: DataFrame, dirCol: String, keyCol: String,
      quantile: Double = 0.999): Option[Int] =
    Some(capFromHistogram(bucketHistogram(index, dirCol, keyCol),
      "bucket_rows", "n_buckets", quantile))

  /** `maxCellRows = auto`: [[capFromHistogram]] over [[cellHistogram]],
    * ready to pass to the IVF probes. */
  def autoCellCap(index: DataFrame, quantile: Double = 0.999): Option[Int] =
    Some(capFromHistogram(cellHistogram(index), "cell_rows", "n_cells", quantile))

  /** Rewrite the append-grown index at `srcDir` into `dstDir` as few
    * large, key-clustered files: range-repartitioned on
    * (`dirCol`, `clusterCols`) into `ceil(rows / targetRowsPerFile)`
    * output tasks, sorted within partitions so each file covers a
    * contiguous key range (parquet row-group min/max stats then prune
    * selective probes), and written `partitionBy(dirCol)` — the exact
    * layout the builders/extends write, so probes bind by name
    * identically against the compacted copy.
    *
    * Validates BEFORE rewriting that every row carries the same build
    * stamp: an index directory polluted by appends from a different
    * build (the one corruption the per-probe stamp check only catches
    * at read time, one probe too late) fails compaction with both
    * stamps in the message instead of being silently fused into one
    * relation.
    *
    * Deliberately writes to a NEW directory rather than in place: on
    * an object store the swap is a pointer flip (rename / catalog
    * update) by the caller, and a crash mid-compaction leaves the live
    * index untouched. Runs jobs at call time (a stamp scan, a count,
    * the rewrite) — this is a maintenance ACTION, not a transform.
    *
    * Returns the compacted row count, COUNTED FROM `dstDir` after the
    * write and required equal to the source count — a lossy rewrite
    * fails here, loudly, before any caller swaps the compacted copy in
    * (counting the source relation again would be a tautology: the
    * same number both sides). */
  def compactTo(spark: SparkSession, srcDir: String, dstDir: String,
      dirCol: String, clusterCols: Seq[String],
      targetRowsPerFile: Long = 4L * 1000 * 1000): Long = {
    require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
    val src = spark.read.parquet(srcDir)
    // the PQ index family stamps pq_sub/pq_k/pq_cb beside the ix_*
    // columns — ALL stamp families join the uniqueness check, so a
    // directory polluted by an append encoded under a different
    // codebook (same shape, different pq_cb) refuses compaction too
    val stampCols = src.columns
      .filter(c => c.startsWith("ix_") || c.startsWith("pq_")).sorted.toSeq
    require(stampCols.nonEmpty,
      s"compactTo: $srcDir carries no ix_*/pq_* build-parameter stamp — not " +
        "an index relation built by the current builders")
    val stamps = src.select(stampCols.map(col): _*).distinct().limit(3).collect()
    require(stamps.length <= 1,
      s"compactTo: $srcDir holds rows from ${stamps.length}+ different builds (" +
        stamps.map(r => stampCols.zip(r.toSeq).map { case (c, v) => s"$c=$v" }
          .mkString(", ")).mkString(" vs ") +
        ") — an appended batch was stamped differently; rebuild instead of compacting")
    val rows = src.count()
    val numFiles = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    val keys = (dirCol +: clusterCols).map(col)
    src.repartitionByRange(numFiles, keys: _*)
      .sortWithinPartitions(keys: _*)
      .write.mode("overwrite").partitionBy(dirCol).parquet(dstDir)
    val dstRows = spark.read.parquet(dstDir).count()
    require(dstRows == rows,
      s"compactTo: rewrite of $srcDir into $dstDir lost rows ($rows source " +
        s"vs $dstRows compacted) — do NOT swap the compacted copy in")
    dstRows
  }

  /** The probe-side skew guard [[bucketHistogram]]'s tail feeds: `index`
    * with every bucket (group of `keys`) larger than `cap` rows removed
    * from candidate generation — the [[Dedup.simhashPairs]] chunk-cap
    * lesson applied to the persisted-index path. A boilerplate
    * mega-bucket (empty docs, templated pages) otherwise makes ONE probe
    * landing there rerank a whole corpus slice: bucket size IS the
    * per-probe cost model, so the cap bounds the worst probe at
    * `cap × buckets-per-probe` candidates.
    *
    * RECALL CONTRACT (the q28 shape): a true match is missed only when
    * EVERY bucket the pair shares is over-cap — for near-dup work that
    * is precisely the boilerplate content a curation pipeline wants
    * flagged by other means; there are never false positives, because
    * the exact rerank still scores every surviving candidate. Pick the
    * cap from [[bucketHistogram]]'s tail (e.g. the smallest size whose
    * n_buckets tail you are willing to rerank).
    *
    * Cost shape: one count-over-window on the bucket keys — an exchange
    * the probe join immediately REUSES (both consume the same
    * partitioning), so the guard adds a per-partition sort, not a
    * second shuffle. */
  private[graft] def capHotBuckets(index: DataFrame, keys: Seq[String],
      cap: Option[Int]): DataFrame = cap match {
    case Some(c) =>
      require(c > 0, "maxBucketRows must be positive")
      index.withColumn("__bsz", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)))
        .filter(col("__bsz") <= c).drop("__bsz")
    case None => index
  }

  /** [[compactTo]] with the [[Dedup.minhashIndex]] layout
    * (`partitionBy("band")`, clustered on `band_key`). */
  def compactMinhashTo(spark: SparkSession, srcDir: String, dstDir: String,
      targetRowsPerFile: Long = 4L * 1000 * 1000): Long =
    compactTo(spark, srcDir, dstDir, "band", Seq("band_key"), targetRowsPerFile)

  /** [[compactTo]] with the [[Similarity.lshIndex]] layout
    * (`partitionBy("tbl")`, clustered on `bucket`). */
  def compactLshTo(spark: SparkSession, srcDir: String, dstDir: String,
      targetRowsPerFile: Long = 4L * 1000 * 1000): Long =
    compactTo(spark, srcDir, dstDir, "tbl", Seq("bucket"), targetRowsPerFile)

  // ---------------------------------------------------- in-place compaction

  private def fsOf(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** Number of DATA files under `dir`, recursive, hidden (`_`/`.`
    * prefixed) entries excluded — the compaction trigger's signal: an
    * append-grown index adds one file per partition directory per
    * extend, and probe-side scan cost is per-file before it is
    * per-byte. A driver-side listing, same cost class as the file
    * index every Spark read of the directory already performs. */
  def dataFileCount(spark: SparkSession, dir: String): Int = {
    val (fs, p) = fsOf(spark, dir)
    if (!fs.exists(p)) return 0
    var n = 0
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) n += 1
    }
    n
  }

  /** Swap `freshDir` into `liveDir`'s place: live → live.old, fresh →
    * live, delete live.old. NOT atomic across the two renames — run
    * [[recoverSwap]] before reading `liveDir` in any process that may
    * have crashed mid-swap (the batch stores do, every batch); each
    * individual rename is atomic on HDFS-like stores.
    * On a pure object store without atomic rename, point the caller at
    * a catalog/pointer flip instead. */
  private[graft] def swapDirs(spark: SparkSession, liveDir: String,
      freshDir: String): Unit = {
    val (fs, live) = fsOf(spark, liveDir)
    val old = new org.apache.hadoop.fs.Path(liveDir + ".old")
    fs.delete(old, true)
    require(fs.rename(live, old), s"swapDirs: rename $live -> $old failed")
    require(fs.rename(new org.apache.hadoop.fs.Path(freshDir), live),
      s"swapDirs: rename $freshDir -> $live failed")
    fs.delete(old, true)
    // the swap bypasses Spark's write path, so the session's cached
    // file listing for the live dir still names the pre-swap files — a
    // same-session read after the swap would chase ghost files
    // (FAILED_READ_FILE.FILE_NOT_EXIST). Spark's own writes refresh
    // their output path; a raw-rename maintenance action must too.
    spark.catalog.refreshByPath(liveDir)
  }

  /** Finish or roll back a [[swapDirs]] a crash interrupted: a missing
    * live dir with a surviving `.old` is rolled back (the old copy is
    * the source of truth — the fresh one may be incomplete); a
    * leftover `.old` beside a live dir is deleted (swap completed);
    * a leftover `.compact.tmp` is deleted (compaction never finished).
    * Idempotent, cheap (three existence probes) when there is nothing
    * to do. */
  private[graft] def recoverSwap(spark: SparkSession, liveDir: String): Unit = {
    val (fs, live) = fsOf(spark, liveDir)
    val old = new org.apache.hadoop.fs.Path(liveDir + ".old")
    val tmp = new org.apache.hadoop.fs.Path(liveDir + ".compact.tmp")
    if (fs.exists(old)) {
      if (fs.exists(live)) fs.delete(old, true)
      else {
        require(fs.rename(old, live),
          s"recoverSwap: rollback rename $old -> $live failed")
        // same ghost-file hazard as swapDirs: the rollback re-materializes
        // the live dir behind Spark's back
        spark.catalog.refreshByPath(liveDir)
      }
    }
    if (fs.exists(tmp)) fs.delete(tmp, true)
  }

  /** [[compactTo]] + [[swapDirs]] as one maintenance action: rewrite
    * the live index at `dir` into `<dir>.compact.tmp` and swap it in.
    * A crash at ANY point leaves a state [[recoverSwap]] restores: the
    * tmp is disposable until the swap starts, and the `.old` copy is
    * authoritative until the swap completes. Returns the compacted
    * (dst-counted, equality-required) row count. */
  def compactSwap(spark: SparkSession, dir: String, dirCol: String,
      clusterCols: Seq[String],
      targetRowsPerFile: Long = 4L * 1000 * 1000): Long = {
    val tmpDir = dir + ".compact.tmp"
    val (fs, _) = fsOf(spark, dir)
    fs.delete(new org.apache.hadoop.fs.Path(tmpDir), true)
    val rows = compactTo(spark, dir, tmpDir, dirCol, clusterCols, targetRowsPerFile)
    swapDirs(spark, dir, tmpDir)
    rows
  }

  // -------------------------------------------------------- index takedown

  /** Remove every row belonging to the listed ids from a persisted
    * index, in place — the index half of the right-to-be-forgotten
    * path ([[Export.deleteIdsFromExport]] is the corpus half): MinHash
    * signatures, LSH bucket keys and IVF member vectors are DERIVED
    * FROM the deleted content and must go with it. Necessarily a full
    * index rewrite — id is not the partition key (one document's
    * signature rows are spread over every band/table; an IVF row lives
    * in its vector's cell), so there is no pruned form; what keeps it
    * cheap is that an index is a small derivative of its corpus (16
    * longs per document, one vector per document), not the corpus. The
    * rewrite preserves the probe layout exactly (`partitionBy(dirCol)`,
    * key-clustered sorted files — [[compactTo]]'s shape, so probes
    * bind identically), is dst-counted against an independently
    * computed survivor count BEFORE the swap (a lossy rewrite refuses
    * with the live copy intact), and swaps with the usual
    * [[recoverSwap]] crash semantics. Ids absent from the index are
    * ignored; an all-absent list is a no-op; a list covering the WHOLE
    * index is refused (delete the directory and rebuild later instead
    * of swapping in an empty relation no probe can use).
    * Takedowns follow the same quiesce rule as every other maintenance
    * swap here: a delete racing an in-flight extend could drop the
    * extend's files with the `.old` generation. */
  def deleteSwap(spark: SparkSession, dir: String, dirCol: String,
      clusterCols: Seq[String], idCol: String, ids: DataFrame,
      targetRowsPerFile: Long = 4L * 1000 * 1000): Long = {
    recoverSwap(spark, dir)
    val tmpDir = dir + ".compact.tmp"
    val (fs, _) = fsOf(spark, dir)
    fs.delete(new org.apache.hadoop.fs.Path(tmpDir), true)
    val src = spark.read.parquet(dir)
    val drop = ids.select(col(idCol)).distinct()
    val kept = src.join(drop, Seq(idCol), "left_anti")
    val expected = kept.count()
    val srcRows = src.count()
    if (expected == srcRows) return srcRows
    require(expected > 0,
      s"deleteSwap: the takedown would remove EVERY row of $dir — delete " +
        "the index directory (and rebuild when there is content) instead " +
        "of swapping in an empty relation no probe can use")
    val numFiles = math.max(1L,
      (expected + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    val keys = (dirCol +: clusterCols).map(col)
    kept.repartitionByRange(numFiles, keys: _*)
      .sortWithinPartitions(keys: _*)
      .write.mode("overwrite").partitionBy(dirCol).parquet(tmpDir)
    val dstRows = spark.read.parquet(tmpDir).count()
    require(dstRows == expected,
      s"deleteSwap: rewrite of $dir lost rows ($expected expected vs " +
        s"$dstRows staged) — not swapping")
    swapDirs(spark, dir, tmpDir)
    dstRows
  }

  /** [[deleteSwap]] for the IVF layout, with the centroid rule: when a
    * listed id anchored a CENTROID (`is_cent`), the centroid vector
    * itself is content derived from the deleted document — a plain
    * row filter would keep routing probes through it. The takedown
    * then REBUILDS the quantizer from the surviving member set (the
    * [[reclusterSwapIvf]] construction over the filtered members), so
    * nothing derived from the deleted content survives anywhere in the
    * index; a takedown touching no centroid is the plain filtered
    * rewrite (cell layout, id-clustered). */
  def deleteSwapIvf(spark: SparkSession, dir: String, idCol: String,
      vecCol: String, ids: DataFrame): Long = {
    recoverSwap(spark, dir)
    val src = spark.read.parquet(dir)
    val drop = ids.select(col(idCol)).distinct()
    val centHit = !src.filter(col("is_cent"))
      .join(drop, Seq(idCol), "left_semi").isEmpty
    if (!centHit) deleteSwap(spark, dir, "cell", Seq(idCol), idCol, ids)
    else {
      val params = IndexStamp.readUnique(src, Seq("ix_cells", "ix_dims"),
        "deleteSwapIvf").getOrElse(throw new IllegalArgumentException(
          s"deleteSwapIvf: no stamped IVF index at $dir"))
      val Seq(cells, dims) = params: @unchecked
      val kept = src.join(drop, Seq(idCol), "left_anti")
      val expected = kept.count()
      require(expected > 0,
        s"deleteSwapIvf: the takedown would remove EVERY row of $dir — " +
          "delete the index directory instead")
      val rebuilt = Similarity.ivfIndex(
        kept.select(col(idCol), col(vecCol)), idCol, vecCol,
        math.min(cells, expected.toInt), dims)
      val tmpDir = dir + ".compact.tmp"
      val (fs, _) = fsOf(spark, dir)
      fs.delete(new org.apache.hadoop.fs.Path(tmpDir), true)
      rebuilt.write.mode("overwrite").partitionBy("cell").parquet(tmpDir)
      val dstRows = spark.read.parquet(tmpDir).count()
      require(dstRows == expected,
        s"deleteSwapIvf: rebuild of $dir lost rows ($expected expected vs " +
          s"$dstRows staged) — not swapping")
      swapDirs(spark, dir, tmpDir)
      expected
    }
  }

  /** [[deleteSwap]] for a persisted IVF-PQ index ([[Pq.pqIndex]]'s
    * layout): member rows carry only their PQ CODES, so a listed
    * NON-centroid id is removed by the generic layout-preserving
    * rewrite (its codes are derived from the deleted content and go
    * with it), but a listed id that ANCHORS A CENTROID is REFUSED —
    * unlike [[deleteSwapIvf]], the quantizer cannot be rebuilt from
    * the index alone (the survivors' raw vectors are not there to
    * re-sample centroids from or re-assign against). The takedown for
    * a centroid-anchor id is a [[Pq.pqIndex]] rebuild from the corpus
    * minus the listed ids, which the error message points at; a wrong
    * answer here would be silently keeping the deleted document's
    * vector alive as a centroid. */
  def deleteSwapPq(spark: SparkSession, dir: String, idCol: String,
      ids: DataFrame): Long = {
    recoverSwap(spark, dir)
    val src = spark.read.parquet(dir)
    val drop = ids.select(col(idCol)).distinct()
    require(src.filter(col("is_cent")).join(drop, Seq(idCol), "left_semi").isEmpty,
      s"deleteSwapPq: a listed id anchors a CENTROID of $dir, and member " +
        "rows carry only PQ codes — the quantizer cannot be rebuilt from " +
        "the index alone. Run Pq.pqTakedown (the one-call corpus+index " +
        "takedown: Export.deleteIdsFromExport on the corpus, then a " +
        "fresh-codebook rebuild from the survivors).")
    deleteSwap(spark, dir, "cell", Seq(idCol), idCol, ids)
  }

  /** Re-CLUSTER a persisted IVF index in place: fresh hash-ordered
    * centroids sampled from the CURRENT member set, every vector
    * re-assigned — the REPAIR for the drift [[cellHistogram]] detects.
    * `ivfIndexExtend`/`ivfIncrementalIngest` keep the build-time
    * centroids frozen by design (extension must not move existing
    * rows), so a corpus that grew 10× or shifted distribution
    * accumulates cell skew that the probe-side `maxCellRows` cap can
    * only BOUND (with its recall cost), not fix. Re-clustering is the
    * fix: one [[Similarity.ivfIndex]] rebuild over the member vectors
    * (the index already carries them — no source corpus needed),
    * costing the same one broadcast-scored pass + one exchange as the
    * original build. The member set is unchanged — only `cell`
    * assignments, `is_cent` markers, and (optionally) the cell count
    * move; `nCells` defaults to the stamp's, pass a new value to
    * re-size the quantizer as the corpus grows (cells should scale
    * with corpus size to keep rows/cell probeable). Crash-safe like
    * every maintenance swap here: staged at `<dir>.compact.tmp`,
    * dst-counted before the swap, [[recoverSwap]] semantics after a
    * crash. Returns the row count. */
  def reclusterSwapIvf(spark: SparkSession, dir: String, idCol: String,
      vecCol: String, nCells: Int = 0): Long = {
    val live = spark.read.parquet(dir)
    val params = IndexStamp.readUnique(live, Seq("ix_cells", "ix_dims"),
      "reclusterSwapIvf").getOrElse(throw new IllegalArgumentException(
        s"reclusterSwapIvf: no stamped IVF index at $dir"))
    val Seq(oldCells, dims) = params: @unchecked
    val cells = if (nCells > 0) nCells else oldCells
    val srcRows = live.count()
    val rebuilt = Similarity.ivfIndex(
      live.select(col(idCol), col(vecCol)), idCol, vecCol, cells, dims)
    val tmpDir = dir + ".compact.tmp"
    val (fs, _) = fsOf(spark, dir)
    fs.delete(new org.apache.hadoop.fs.Path(tmpDir), true)
    rebuilt.write.mode("overwrite").partitionBy("cell").parquet(tmpDir)
    val dstRows = spark.read.parquet(tmpDir).count()
    require(dstRows == srcRows,
      s"reclusterSwapIvf: rebuild of $dir lost rows ($srcRows vs $dstRows) — not swapping")
    swapDirs(spark, dir, tmpDir)
    srcRows
  }

  /** [[compactSwap]] with the [[Similarity.ivfIndex]] layout:
    * partitioned by cell, in-cell clustered by id so the rewritten
    * files carry id min/max stats for range pruning. */
  def compactSwapIvf(spark: SparkSession, dir: String, idCol: String,
      targetRowsPerFile: Long = 4L * 1000 * 1000): Long =
    compactSwap(spark, dir, "cell", Seq(idCol), targetRowsPerFile)
}
