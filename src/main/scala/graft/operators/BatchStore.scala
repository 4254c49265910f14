package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The COMMITTED-BATCH store protocol: one on-disk format shared by three
  * persisted store kinds — the postings store (frequency search), the
  * positional store (proximity/phrase search) and the sketch-rollup
  * store. A caller hands in one batch of rows with a batch id; the batch
  * is published under batch-keyed file names ([[publishBatch]]) and then
  * marked committed (`<store>/_graft_commits/b<id>`). Re-running the same
  * batch id is a no-op once committed and a pure overwrite before that,
  * so a crashed ingest converges by replaying the same batch.
  *
  * Around that core: post-commit compaction of the search stores (fold
  * to batch_id −1, mass-checked, markers carried through the staged
  * [[IndexOps.swapDirs]]), the BM25 doc-length sidecar and its totals
  * manifest, the store readers ([[searchIndexTopK]],
  * [[searchIndexTopKBm25]], [[sketchRollupTotals]]) and the retrieval
  * takedown ([[deleteSwapSearchIndex]]). Queries q148, q157, q159, q168
  * and q184 and the `graft_store_*` SQL table functions run on it. */
object BatchStore {

  /** Append one batch to a persisted INVERTED INDEX (postings store):
    * the batch's postings (`(term, <idCol>, tf)` — [[TextSearch.postings]],
    * the same tokenization as every search operator) are published to
    * `indexDir` under the committed-batch protocol, so the corpus becomes
    * searchable batch by batch ([[TextSearch.searchStoreTopK]] reads the
    * store) without ever re-tokenizing history.
    *
    * Contract: document ids are UNIQUE across batches (re-ingesting an
    * id would double its postings). Under that contract a replay is pure
    * overwrite (batch-keyed file names), no own-batch store read is
    * needed at all, and post-commit compaction (`compactAtFiles`) is a
    * pure merge: one row per (term, id), tf summed, batch_id −1,
    * token-mass-checked before the staged swap — the
    * [[IndexOps.swapDirs]] + `recoverSwap` discipline.
    *
    * `applyDeletesFrom` (a directory path) is the post-commit TAKEDOWN:
    * id-list parquet files/dirs dropped into the directory are applied
    * strictly AFTER the batch commits ([[deleteSwapRetrieval]]: postings,
    * dl sidecar and totals manifest all fold consistently), then
    * consumed into `_applied/`. Point-in-time by the unique-id contract.
    * `failAfterStep` throws after the numbered protocol step (crash
    * replay tests). */
  private[graft] def searchIndexBatch(batch: DataFrame, batchId: Long,
      indexDir: String, idCol: String, textCol: String,
      compactAtFiles: Int, failAfterStep: Int = Int.MaxValue,
      applyDeletesFrom: String = ""): Unit = {
    val spark = batch.sparkSession
    IndexOps.recoverSwap(spark, indexDir)
    IndexOps.recoverSwap(spark, dlSidecarDir(indexDir))
    def failpoint(n: Int): Unit = if (failAfterStep == n)
      throw new IllegalStateException(
        s"searchIndexBatch: test failpoint after step $n")
    def applyDeletes(): Unit = applyRetrievalDeletes(spark,
      applyDeletesFrom, indexDir, idCol, positional = false, failpoint)
    if (isCommitted(spark, indexDir, batchId)) { applyDeletes(); return }
    ensureTokenizerMarker(spark, indexDir)
    Checkpoints.scoped(spark) {
      val delta = TextSearch.postings(batch, idCol, textCol)
        .withColumn("batch_id", lit(batchId))
      publishBatch(delta, indexDir, batchId, Nil)
      failpoint(1)
      // BM25 doc-length sidecar delta, derived from the BATCH rather
      // than its postings: a zero-token document has no postings but IS
      // a corpus document, so the sidecar carries the corpus-exact
      // n_docs (its row count) and doc lengths — store search with the
      // sidecar matches [[TextSearch.searchTopKBm25]]'s
      // corpus semantics even over token-free docs. Published before
      // the commit marker, so a crash between the two replays BOTH
      // deltas (batch-keyed file names → pure overwrite).
      val dl = batch.select(col(idCol),
          size(TextSearch.searchTerms(col(textCol))).cast("long").as("__dl"))
        .withColumn("batch_id", lit(batchId))
      publishBatch(dl, dlSidecarDir(indexDir), batchId, Nil)
      publishDlTotals(dl, dlSidecarDir(indexDir), batchId)
      failpoint(2)
      commitBatch(spark, indexDir, batchId)
    }
    maintainPostingsStore(spark, indexDir, idCol, compactAtFiles)
    // post-commit takedown: a delete only ever runs against
    // fully-committed generations
    applyDeletes()
  }

  /** The POSITIONAL twin of [[searchIndexBatch]]: per-batch deltas are
    * [[TextSearch.positionalPostings]] rows (`(term, <idCol>, positions,
    * tf)` — the prox file), so ONE persisted store serves the whole
    * search family: the frequency readers ([[TextSearch.searchStoreTopK]]
    * / `searchStoreTopKBm25`) ignore the positions column, and the
    * positional readers (`searchStoreProximity` / `searchStorePhrase`)
    * answer phrase/proximity queries without ever re-tokenizing
    * history. Same committed-batch protocol, unique-id contract,
    * doc-length sidecar and marker-preserving compaction as the
    * postings store; compaction additionally checks POSITION mass
    * (Σ|positions| — which the build makes equal to Σtf).
    * `applyDeletesFrom` is the post-commit takedown, exactly as on
    * [[searchIndexBatch]] (positions fold with the survivors). */
  private[graft] def positionalIndexBatch(batch: DataFrame, batchId: Long,
      indexDir: String, idCol: String, textCol: String,
      compactAtFiles: Int, failAfterStep: Int = Int.MaxValue,
      applyDeletesFrom: String = ""): Unit = {
    val spark = batch.sparkSession
    IndexOps.recoverSwap(spark, indexDir)
    IndexOps.recoverSwap(spark, dlSidecarDir(indexDir))
    def failpoint(n: Int): Unit = if (failAfterStep == n)
      throw new IllegalStateException(
        s"positionalIndexBatch: test failpoint after step $n")
    def applyDeletes(): Unit = applyRetrievalDeletes(spark,
      applyDeletesFrom, indexDir, idCol, positional = true, failpoint)
    if (isCommitted(spark, indexDir, batchId)) { applyDeletes(); return }
    ensureTokenizerMarker(spark, indexDir)
    Checkpoints.scoped(spark) {
      val delta = TextSearch.positionalPostings(batch, idCol, textCol)
        .withColumn("batch_id", lit(batchId))
      publishBatch(delta, indexDir, batchId, Nil)
      failpoint(1)
      val dl = batch.select(col(idCol),
          size(TextSearch.searchTerms(col(textCol))).cast("long").as("__dl"))
        .withColumn("batch_id", lit(batchId))
      publishBatch(dl, dlSidecarDir(indexDir), batchId, Nil)
      publishDlTotals(dl, dlSidecarDir(indexDir), batchId)
      failpoint(2)
      commitBatch(spark, indexDir, batchId)
    }
    maintainPositionalStore(spark, indexDir, idCol, compactAtFiles)
    applyDeletes()
  }

  /** Post-commit POSITIONAL compaction: one row per (term, id) with tf
    * summed and positions merged sorted (the unique-id contract makes
    * both the identity — the fold is the same defensive shape as the
    * frequency store's), batch_id −1, token AND position mass checked,
    * commit markers carried into the compacted copy before the swap
    * ([[copyCommitMarkers]]), dl sidecar
    * folded alongside. */
  private def maintainPositionalStore(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, idCol: String, compactAtFiles: Int): Unit = {
    if (compactAtFiles <= 0) return
    if (IndexOps.dataFileCount(spark, indexDir) < compactAtFiles) return
    val pending = spark.read.parquet(indexDir)
      .filter(col("batch_id") >= 0L).select("batch_id").distinct()
      .collect().map(_.getLong(0))
      .filterNot(isCommitted(spark, indexDir, _))
    if (pending.nonEmpty) return
    val tmp = indexDir + ".compact.tmp"
    val (fs, _) = fsPath(spark, tmp)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    def masses(dir: String): (Long, Long) = {
      val r = spark.read.parquet(dir).agg(
        coalesce(sum("tf"), lit(0L)),
        coalesce(sum(size(col("positions"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    val src = masses(indexDir)
    spark.read.parquet(indexDir)
      .groupBy("term", idCol)
      .agg(array_sort(flatten(collect_list("positions"))).as("positions"),
        sum("tf").as("tf"))
      .select(col("term"), col(idCol), col("positions"), col("tf"))
      .withColumn("batch_id", lit(-1L))
      .write.mode("overwrite").parquet(tmp)
    val dst = masses(tmp)
    require(dst == src,
      s"maintainPositionalStore: compaction of $indexDir changed the token/" +
        s"position mass ($src -> $dst) — not swapping in")
    copyCommitMarkers(spark, indexDir, tmp)
    copyMarkerDir(spark, indexDir, tmp, "_graft_tokenizer")
    IndexOps.swapDirs(spark, indexDir, tmp)
    compactDlSidecar(spark, indexDir, idCol, "maintainPositionalStore")
  }

  /** Post-commit postings compaction: merge the per-batch delta files to
    * one row per (term, id) with tf summed (batch_id −1). The same
    * uncommitted-delta guard as [[maintainFreqStore]]: a failpoint-1
    * crash leaves a published, unmarked delta, and folding it into −1
    * rows would hide it from nothing today (replays overwrite by file
    * name, not store reads) — but the guard keeps the invariant
    * uniform: only COMMITTED batches ever merge. Token mass (Σ tf) is
    * checked across the swap. */
  private def maintainPostingsStore(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, idCol: String, compactAtFiles: Int): Unit = {
    if (compactAtFiles <= 0) return
    if (IndexOps.dataFileCount(spark, indexDir) < compactAtFiles) return
    val pending = spark.read.parquet(indexDir)
      .filter(col("batch_id") >= 0L).select("batch_id").distinct()
      .collect().map(_.getLong(0))
      .filterNot(isCommitted(spark, indexDir, _))
    if (pending.nonEmpty) return // its replay will overwrite it in place
    val tmp = indexDir + ".compact.tmp"
    val (fs, _) = fsPath(spark, tmp)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    val srcMass = spark.read.parquet(indexDir)
      .agg(coalesce(sum("tf"), lit(0L))).head().getLong(0)
    spark.read.parquet(indexDir)
      .groupBy("term", idCol).agg(sum("tf").as("tf"))
      .withColumn("batch_id", lit(-1L))
      .write.mode("overwrite").parquet(tmp)
    val dstMass = spark.read.parquet(tmp)
      .agg(coalesce(sum("tf"), lit(0L))).head().getLong(0)
    require(dstMass == srcMass,
      s"maintainPostingsStore: compaction of $indexDir changed the token " +
        s"mass ($srcMass -> $dstMass) — not swapping in")
    // the COMMIT MARKERS of this store live INSIDE it
    // (`<indexDir>/_graft_commits`), and swapDirs replaces the whole
    // directory — without carrying them into the compacted copy, every
    // marker dies with the swap and a later replay of a committed batch
    // re-publishes its postings INTO the already-merged −1 rows: tf
    // silently doubles (mass-preserving, so the NEXT compaction's mass
    // check cannot catch it either — the dl sidecar's row-count guard is
    // what surfaced this). Markers are empty batch-named files; recreate
    // them in the tmp dir before the swap (crash-safe: tmp is discarded
    // by recoverSwap, the live dir is untouched until the rename).
    copyCommitMarkers(spark, indexDir, tmp)
    copyMarkerDir(spark, indexDir, tmp, "_graft_tokenizer")
    IndexOps.swapDirs(spark, indexDir, tmp)
    compactDlSidecar(spark, indexDir, idCol, "maintainPostingsStore")
  }

  /** Fold a store's doc-length sidecar to batch_id −1 (one row per id —
    * unique-id contract makes sum() the identity merge), row-count AND
    * length-mass checked before the staged swap. Shared by both index
    * stores' compactions. */
  private def compactDlSidecar(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, idCol: String, caller: String): Unit = {
    val dlDir = dlSidecarDir(indexDir)
    val (dlFs, dlP) = fsPath(spark, dlDir)
    if (!hasDataFiles(dlFs, dlP)) return
    // the sidecar needs its OWN uncommitted-batch guard: the caller's
    // pending check is postings-derived and cannot see a batch whose
    // documents were all zero-token (dl rows, no postings rows) — a
    // failpoint-2 crash of such a batch would otherwise fold its
    // uncommitted dl rows into −1, its replay would re-publish them,
    // and every doc of the batch would count twice
    val pendingDl = spark.read.parquet(dlDir)
      .filter(col("batch_id") >= 0L).select("batch_id").distinct()
      .collect().map(_.getLong(0))
      .filterNot(isCommitted(spark, indexDir, _))
    if (pendingDl.nonEmpty) return
    val dlTmp = dlDir + ".compact.tmp"
    dlFs.delete(new org.apache.hadoop.fs.Path(dlTmp), true)
    val src = spark.read.parquet(dlDir)
      .agg(count(lit(1)), coalesce(sum("__dl"), lit(0L))).head()
    spark.read.parquet(dlDir)
      .groupBy(idCol).agg(sum("__dl").as("__dl"))
      .withColumn("batch_id", lit(-1L))
      .write.mode("overwrite").parquet(dlTmp)
    val dst = spark.read.parquet(dlTmp)
      .agg(count(lit(1)), coalesce(sum("__dl"), lit(0L))).head()
    require(dst.getLong(0) == src.getLong(0) && dst.getLong(1) == src.getLong(1),
      s"$caller: doc-length compaction of $dlDir changed the row count " +
        s"or length mass ((${src.getLong(0)}, ${src.getLong(1)}) -> " +
        s"(${dst.getLong(0)}, ${dst.getLong(1)})) — not swapping in")
    // the totals manifest folds to ONE "compacted" entry carried into
    // the swapped copy (the copyCommitMarkers discipline: the manifest
    // lives INSIDE the dir being swapped) — its values are the already-
    // computed mass-check scalars, so the fold costs zero extra jobs
    writeDlTotals(spark, dlTmp, "compacted", src.getLong(0), src.getLong(1))
    IndexOps.swapDirs(spark, dlDir, dlTmp)
  }

  /** The TOTALS MANIFEST of a doc-length sidecar: one tiny text file
    * per data GENERATION under `<dlDir>/_totals` — `b<id>` beside a
    * batch delta, `compacted` beside the folded −1 generation —
    * holding `"<n_docs> <sum_dl>"`. Written with the generation's data
    * files (a replay is the same deterministic overwrite), folded at
    * compaction from the mass-check scalars. Store readers take
    * (n_docs, Σdl) from [[searchIndexTotals]] — a driver-side listing
    * plus O(generations) tiny reads, ZERO Spark jobs per query — where
    * they previously ran a count/sum job over the sidecar relation
    * per search. */
  private def dlTotalsPath(dlDir: String, gen: String) =
    new org.apache.hadoop.fs.Path(dlDir + "/_totals", gen)

  private def publishDlTotals(dl: DataFrame, dlDir: String,
      batchId: Long): Unit = {
    // aggregate the JUST-PUBLISHED b<id>-* delta files, not the dl
    // plan: the plan re-tokenizes the whole batch (size(searchTerms))
    // a third time per ingest just to produce two scalars; the
    // published sidecar delta is a skinny document-count-sized parquet
    // read, which keeps the manifest's per-batch cost near zero
    val spark = dl.sparkSession
    val (fs, p) = fsPath(spark, dlDir)
    val files = fs.listStatus(p)
      .filter(st => !st.isDirectory && st.getPath.getName.startsWith(s"b$batchId-"))
      .map(_.getPath.toString)
    val t =
      if (files.isEmpty) null // a zero-row delta writes no data files
      else spark.read.parquet(files.toIndexedSeq: _*)
        .agg(count(lit(1)), coalesce(sum("__dl"), lit(0L))).head()
    writeDlTotals(spark, dlDir, s"b$batchId",
      if (t == null) 0L else t.getLong(0), if (t == null) 0L else t.getLong(1))
  }

  private def writeDlTotals(spark: org.apache.spark.sql.SparkSession,
      dlDir: String, gen: String, nDocs: Long, sumDl: Long): Unit = {
    val (fs, _) = fsPath(spark, dlDir)
    val p = dlTotalsPath(dlDir, gen)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    try out.write(s"$nDocs $sumDl".getBytes("UTF-8")) finally out.close()
  }

  private def readDlTotals(spark: org.apache.spark.sql.SparkSession,
      dlDir: String, gen: String): Option[(Long, Long)] = {
    val (fs, _) = fsPath(spark, dlDir)
    val p = dlTotalsPath(dlDir, gen)
    if (!fs.exists(p)) return None
    val len = fs.getFileStatus(p).getLen.toInt
    if (len <= 0 || len > 64) return None
    val buf = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    new String(buf, "UTF-8").trim.split("\\s+") match {
      case Array(n, s) =>
        try Some((n.toLong, s.toLong))
        catch { case _: NumberFormatException => None }
      case _ => None
    }
  }

  /** `(n_docs, Σdl)` of a persisted search index from the totals
    * manifest — O(generations) driver-side file reads, NO Spark job.
    * None when the sidecar is missing or incomplete vs the store
    * (same batch-listing guard as [[searchIndexDocLengths]]) or any
    * generation predates the manifest — readers then fall back to the
    * counting derivation (correct, one sidecar-sized job). */
  def searchIndexTotals(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Option[(Long, Long)] = {
    val dlDir = dlSidecarDir(indexDir)
    val (fs, p) = fsPath(spark, dlDir)
    if (!hasDataFiles(fs, p)) return None
    val dlBatches = batchIdsFromListing(spark, dlDir)
    if (!batchIdsFromListing(spark, indexDir).subsetOf(dlBatches)) return None
    val reads = dlBatches.toSeq
      .map(id => readDlTotals(spark, dlDir, if (id < 0L) "compacted" else s"b$id"))
    if (reads.exists(_.isEmpty)) None
    else Some((reads.flatten.map(_._1).sum, reads.flatten.map(_._2).sum))
  }

  /** The BM25 doc-length sidecar of a search-index store: a skinny
    * `(<idCol>, __dl, batch_id)` parquet relation beside the postings
    * ([[dlSidecarDir]] = `<indexDir>__dl`), one row per INGESTED
    * document with its token count — including zero-token documents,
    * which never enter the postings store, so the sidecar's row count
    * is the corpus-exact `n_docs` and store search scores match the
    * direct corpus operators over any corpus. Written per batch by
    * [[searchIndexBatch]], folded to batch_id −1 at compaction. */
  private[graft] def dlSidecarDir(indexDir: String): String = indexDir + "__dl"

  /** Read a search-index store's doc-length sidecar as the
    * `(<idCol>, __dl)` relation
    * [[TextSearch.searchStoreTopKBm25]]'s `docLengths`
    * wants; None when the store predates the sidecar (then the reader
    * falls back to the full-store derivation). */
  def searchIndexDocLengths(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, idCol: String): Option[DataFrame] = {
    val (fs, p) = fsPath(spark, dlSidecarDir(indexDir))
    if (!hasDataFiles(fs, p)) return None
    // completeness guard: a sidecar that POSTDATES the store (batches
    // ingested before the sidecar existed, or a partially lost __dl
    // dir) would silently DROP those documents from the BM25 ranking —
    // BM25's dl join is inner — and undercount n_docs. The sidecar is
    // only trusted when it covers every batch the store holds. Batch
    // ids come from the protocol's batch-keyed FILE NAMES (b<id>-*;
    // compacted part-* files are the −1 generation), so the guard is a
    // driver-side listing — never a store-wide column scan per query.
    // An incomplete sidecar falls back to the full-store derivation
    // (correct, just unsided).
    val storeBatches = batchIdsFromListing(spark, indexDir)
    val dlBatches = batchIdsFromListing(spark, dlSidecarDir(indexDir))
    if (!storeBatches.subsetOf(dlBatches)) None
    else Some(spark.read.parquet(dlSidecarDir(indexDir))
      .select(col(idCol), col("__dl")))
  }

  /** The batch generations a store directory holds, derived from the
    * publish protocol's deterministic file names: `b<id>-*` data files
    * are that batch's generation, anything else (Spark-written
    * `part-*` from a compaction rewrite) is the folded −1 generation.
    * Driver-side listing, O(files). */
  private def batchIdsFromListing(spark: org.apache.spark.sql.SparkSession,
      dir: String): Set[Long] = {
    val (fs, p) = fsPath(spark, dir)
    if (!fs.exists(p)) return Set.empty
    val Named = "^b(\\d+)-.*".r
    fs.listStatus(p)
      .filter(st => !st.isDirectory &&
        !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(_.getPath.getName match {
        case Named(id) => id.toLong
        case _ => -1L
      })
      .toSet
  }

  /** Store-BM25 search over a persisted index DIRECTORY — the default
    * scale-correct read path: postings from `indexDir`, doc lengths
    * from the sidecar (document-count-sized, never the postings store)
    * and `n_docs`/`avgdl` from the TOTALS MANIFEST
    * ([[searchIndexTotals]] — driver-side, no count job per query), so
    * no full-store aggregation node appears in the plan. Fallback
    * ladder, each step documented-correct just costlier: a
    * pre-manifest sidecar derives totals with one sidecar-sized agg; a
    * pre-sidecar store derives doc lengths from the FULL store — a
    * store-wide scan per query, refused when
    * `allowFullScanFallback = false` (set it false in any serving
    * path: at 100 TB that fallback is a query-time full-index scan). */
  def searchIndexTopKBm25(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, idCol: String, terms: Seq[String], k: Int,
      k1Permille: Long = 1200L, bPermille: Long = 750L,
      minShouldMatch: Option[Int] = None,
      allowFullScanFallback: Boolean = true): DataFrame = {
    val dls = searchIndexDocLengths(spark, indexDir, idCol)
    require(allowFullScanFallback || dls.nonEmpty,
      s"searchIndexTopKBm25: $indexDir has no (complete) doc-length " +
        "sidecar — doc lengths would derive from a FULL-STORE scan per " +
        "query. Re-ingest through searchIndexBatch (which " +
        "maintains the sidecar), or pass allowFullScanFallback = true " +
        "to accept the scan explicitly.")
    TextSearch.searchStoreTopKBm25(
      spark.read.parquet(indexDir), idCol, terms, k,
      docLengths = dls,
      totals = searchIndexTotals(spark, indexDir),
      k1Permille = k1Permille, bPermille = bPermille,
      minShouldMatch = minShouldMatch)
  }

  /** Store rarity-scored search over a persisted index DIRECTORY:
    * `n_docs` comes from the totals manifest (corpus-exact — counts
    * zero-token documents the postings store cannot see; no Spark job),
    * then a pre-manifest sidecar's row count (one skinny count job),
    * then the store-distinct derivation — the last is a full-store
    * aggregate per query, refused when `allowFullScanFallback` is
    * false. */
  def searchIndexTopK(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, idCol: String, terms: Seq[String], k: Int,
      minShouldMatch: Option[Int] = None,
      allowFullScanFallback: Boolean = true): DataFrame = {
    val n = searchIndexTotals(spark, indexDir).map(_._1)
      .orElse(searchIndexDocLengths(spark, indexDir, idCol).map(_.count()))
    require(allowFullScanFallback || n.nonEmpty,
      s"searchIndexTopK: $indexDir has no (complete) doc-length " +
        "sidecar — n_docs would derive from a full-store distinct per " +
        "query; pass allowFullScanFallback = true to accept that scan.")
    TextSearch.searchStoreTopK(
      spark.read.parquet(indexDir), idCol, terms, k,
      nDocs = n, minShouldMatch = minShouldMatch)
  }

  // ------------------------------------------- retrieval-store takedown

  /** Takedown for a persisted POSTINGS store — the retrieval half of
    * the right-to-be-forgotten path, closing the one derivative class
    * that had none (ANN indexes have [[IndexOps.deleteSwap]], exports
    * have `deleteIdsFromExport`): every postings
    * row of the listed ids, their doc-length sidecar rows, AND their
    * totals-manifest contribution (n_docs, Σdl) all go together, so a
    * post-takedown store is byte-for-byte the store a fresh ingest of
    * the surviving corpus would build (modulo batch layout) — BM25
    * scores SHIFT with the new n_docs/avgdl, the strong form of the
    * contract (law-tested in SearchStreamSpec; oracle q168).
    *
    * Construction: the staged, dst-counted, marker-preserving rewrite
    * of the compaction path — survivors fold to one row per (term, id)
    * at batch_id −1, token mass is checked against the survivor mass
    * BEFORE the swap, `_graft_commits` and `_graft_tokenizer` are
    * carried into the staging (a swap that dropped them would make
    * every committed batch replay its write path / lose the contract
    * version), then the dl sidecar is rewritten minus the ids with its
    * totals manifest folded to ONE `compacted` entry holding the new
    * (n_docs, Σdl). Necessarily a full store rewrite — id is not the
    * partition key — but a postings store is a token-count derivative
    * of its corpus, not the corpus. Ids absent everywhere are a no-op;
    * each half is independently idempotent, so a crash between the two
    * swaps is healed by re-applying the same list (the
    * `applyDeletesFrom` path does exactly that); in the crash window
    * the store refuses nothing and scores conservatively (deleted docs have no postings, so they
    * can never be RETURNED — only the normalization scalars are stale
    * until the dl half lands). A takedown that would empty the store
    * is refused like [[IndexOps.deleteSwap]]'s same
    * rule; a store holding published-but-uncommitted generations is
    * refused (folding an uncommitted delta to −1 would double it on
    * replay — replay the crashed batch first). Point-in-time by the
    * ingest contract (ids are unique across batches, so a deleted id
    * re-arriving is already a contract violation). Returns the surviving
    * postings row count. */
  def deleteSwapSearchIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, idCol: String, ids: DataFrame): Long =
    deleteSwapRetrieval(spark, indexDir, idCol, ids,
      positional = false, _ => ())

  /** [[deleteSwapSearchIndex]] for a POSITIONAL store
    * ([[positionalIndexBatch]]'s layout): identical protocol,
    * with the survivors' positions merged sorted through the fold and
    * POSITION mass checked alongside token mass. */
  def deleteSwapPositionalIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, idCol: String, ids: DataFrame): Long =
    deleteSwapRetrieval(spark, indexDir, idCol, ids,
      positional = true, _ => ())

  private def deleteSwapRetrieval(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, idCol: String, ids: DataFrame, positional: Boolean,
      failpoint: Int => Unit): Long = {
    val op = if (positional) "deleteSwapPositionalIndex" else "deleteSwapSearchIndex"
    val dlDir = dlSidecarDir(indexDir)
    IndexOps.recoverSwap(spark, indexDir)
    IndexOps.recoverSwap(spark, dlDir)
    val drop = ids.select(col(idCol)).distinct()
    val (fs, ixP) = fsPath(spark, indexDir)
    // folding an uncommitted published delta into batch_id −1 would
    // hide it from nothing — but its REPLAY would re-publish it beside
    // the folded copy and silently double tf (the compaction paths'
    // same guard). Batch ids come from the protocol's file names —
    // driver-side listing, never a store column scan.
    def requireNoPending(dir: String): Unit = {
      val pending = batchIdsFromListing(spark, dir)
        .filter(_ >= 0L).filterNot(isCommitted(spark, indexDir, _))
      require(pending.isEmpty,
        s"$op: $dir holds published but UNCOMMITTED batch generations " +
          s"${pending.toSeq.sorted.mkString("[", ", ", "]")} — replay the " +
          "crashed batch before a takedown; the " +
          "rewrite folds generations to batch_id -1 and folding an " +
          "uncommitted delta would double it on replay")
    }
    // hit tests run on BOTH halves up front: a zero-token document
    // lives ONLY in the dl sidecar, and a dl-only takedown must still
    // fold the POSTINGS store to the same −1 generation — otherwise
    // the readers' batch-listing subset guards (store generations ⊆
    // sidecar generations) would permanently distrust a complete,
    // correct sidecar. Either hit folds both.
    val (dlFs, dlP) = fsPath(spark, dlDir)
    val pHit = hasDataFiles(fs, ixP) &&
      !spark.read.parquet(indexDir).join(drop, Seq(idCol), "left_semi").isEmpty
    val dlHit = hasDataFiles(dlFs, dlP) &&
      !spark.read.parquet(dlDir).join(drop, Seq(idCol), "left_semi").isEmpty
    val anyHit = pHit || dlHit
    // ---- postings half
    var survivors = 0L
    if (hasDataFiles(fs, ixP)) {
      val src = spark.read.parquet(indexDir)
      if (anyHit) {
        requireNoPending(indexDir)
        val kept = src.join(drop, Seq(idCol), "left_anti")
        val exp =
          if (positional) kept.agg(count(lit(1)), coalesce(sum("tf"), lit(0L)),
            coalesce(sum(size(col("positions"))), lit(0L))).head()
          else kept.agg(count(lit(1)), coalesce(sum("tf"), lit(0L))).head()
        require(exp.getLong(1) > 0L,
          s"$op: the takedown would remove EVERY row of $indexDir — " +
            "delete the index directory (and rebuild when there is " +
            "content) instead of swapping in an empty relation no " +
            "search can read")
        val folded =
          if (positional)
            kept.groupBy(col("term"), col(idCol))
              .agg(array_sort(flatten(collect_list("positions"))).as("positions"),
                sum("tf").as("tf"))
              .select(col("term"), col(idCol), col("positions"), col("tf"))
              .withColumn("batch_id", lit(-1L))
          else
            kept.groupBy(col("term"), col(idCol)).agg(sum("tf").as("tf"))
              .withColumn("batch_id", lit(-1L))
        val tmp = indexDir + ".compact.tmp"
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
        folded.write.mode("overwrite").parquet(tmp)
        val dst =
          if (positional) spark.read.parquet(tmp)
            .agg(count(lit(1)), coalesce(sum("tf"), lit(0L)),
              coalesce(sum(size(col("positions"))), lit(0L))).head()
          else spark.read.parquet(tmp)
            .agg(count(lit(1)), coalesce(sum("tf"), lit(0L))).head()
        require(dst.getLong(1) == exp.getLong(1) &&
            (!positional || dst.getLong(2) == exp.getLong(2)),
          s"$op: rewrite of $indexDir changed the survivor token/position " +
            s"mass — not swapping in")
        copyCommitMarkers(spark, indexDir, tmp)
        copyMarkerDir(spark, indexDir, tmp, "_graft_tokenizer")
        IndexOps.swapDirs(spark, indexDir, tmp)
        survivors = dst.getLong(0)
      } else survivors = src.count()
    }
    failpoint(11)
    // ---- doc-length sidecar half (folds whenever either half hit,
    // keeping both stores on the same generation — see above)
    if (hasDataFiles(dlFs, dlP)) {
      val dl = spark.read.parquet(dlDir)
      if (anyHit) {
        requireNoPending(dlDir)
        val kept = dl.join(drop, Seq(idCol), "left_anti")
          .groupBy(col(idCol)).agg(sum("__dl").as("__dl"))
          .withColumn("batch_id", lit(-1L))
        val exp = kept.agg(count(lit(1)),
          coalesce(sum("__dl"), lit(0L))).head()
        require(exp.getLong(0) > 0L,
          s"$op: the takedown would empty the doc-length sidecar at " +
            s"$dlDir — delete the store directories instead")
        val tmp = dlDir + ".compact.tmp"
        dlFs.delete(new org.apache.hadoop.fs.Path(tmp), true)
        kept.write.mode("overwrite").parquet(tmp)
        val dst = spark.read.parquet(tmp)
          .agg(count(lit(1)), coalesce(sum("__dl"), lit(0L))).head()
        require(dst.getLong(0) == exp.getLong(0) &&
            dst.getLong(1) == exp.getLong(1),
          s"$op: sidecar rewrite of $dlDir lost rows or length mass — " +
            "not swapping in")
        // the totals manifest folds WITH the sidecar: one `compacted`
        // entry carrying the post-takedown (n_docs, Σdl) — this is what
        // makes BM25's n_docs/avgdl shift to the surviving corpus's
        // (the strong form of the takedown contract)
        writeDlTotals(spark, tmp, "compacted", dst.getLong(0), dst.getLong(1))
        IndexOps.swapDirs(spark, dlDir, tmp)
      }
    }
    failpoint(12)
    survivors
  }

  /** Post-commit takedown for the two index stores: pending id-list
    * parquet files/dirs (carrying `idCol`) dropped into `pendDir` are
    * applied strictly AFTER a batch commits via [[deleteSwapRetrieval]]
    * (both halves + totals fold), then consumed into `_applied/`. A
    * crash anywhere re-applies the same lists next batch — both halves are
    * idempotent, and a crash inside either swap is healed by the next
    * batch's entry recovery. */
  private def applyRetrievalDeletes(spark: org.apache.spark.sql.SparkSession,
      pendDir: String, indexDir: String, idCol: String, positional: Boolean,
      failpoint: Int => Unit): Unit = {
    if (pendDir.isEmpty) return
    val pend = new org.apache.hadoop.fs.Path(pendDir)
    val fs = pend.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(pend)) return
    val lists = fs.listStatus(pend)
      .filter(st => !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(_.getPath)
    if (lists.isEmpty) return
    val ids = spark.read.parquet(lists.map(_.toString).toIndexedSeq: _*)
      .select(idCol).distinct()
    deleteSwapRetrieval(spark, indexDir, idCol, ids, positional, failpoint)
    failpoint(13)
    consumeAppliedLists(fs, pend, lists.toIndexedSeq)
  }

  /** Consume applied delete lists into `<pendDir>/_applied/`, choosing
    * a UNIQUE destination name when a previous application already
    * parked one under the same name — `fs.rename` refuses an existing
    * destination on HDFS-like stores, and a plain rename would wedge
    * every later batch the first time an operator reused a list
    * filename (monthly `ids.parquet` drops). */
  private def consumeAppliedLists(fs: org.apache.hadoop.fs.FileSystem,
      pend: org.apache.hadoop.fs.Path,
      lists: Seq[org.apache.hadoop.fs.Path]): Unit = {
    val applied = new org.apache.hadoop.fs.Path(pend, "_applied")
    fs.mkdirs(applied)
    lists.foreach { p =>
      var dst = new org.apache.hadoop.fs.Path(applied, p.getName)
      var k = 1
      while (fs.exists(dst)) {
        dst = new org.apache.hadoop.fs.Path(applied, s"${p.getName}-$k")
        k += 1
      }
      require(fs.rename(p, dst),
        s"applyRetrievalDeletes: consuming applied delete list $p failed")
    }
  }

  private def fsPath(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** Whether `dir` holds any DATA file — any regular file not living
    * under a hidden (`_`/`.` prefixed) path component. A store whose
    * batches were all empty holds only the `_graft_commits` markers
    * (whose files are named `b<id>`, so a recursive file listing alone
    * would miscount them as data): the
    * per-COMPONENT check is what distinguishes the two. Driver-side
    * listing, bounded by the store's entry count. */
  private def hasDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Boolean = {
    if (!fs.exists(dir)) return false
    fs.listStatus(dir)
      .filter(st => !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .exists(st => !st.isDirectory || hasDataFiles(fs, st.getPath))
  }

  // -------------------------------------------------------- sketch rollup

  /** SKETCH-ROLLUP store: per batch, one `(group, hll, cms,
    * n_rows, batch_id)` row per group — an HLL distinct sketch and a
    * Count-Min frequency sketch of the batch's hash column
    * ([[Sketch]]) — appended under the committed-batch
    * protocol. Because both sketches are MERGEABLE (register max /
    * counter sum — exact unions), the persisted rows ARE the rollup:
    * [[sketchRollupTotals]] answers per-group distinct estimates and
    * frequency probes over the whole ingested history by folding the
    * store's tiny rows, never re-reading raw data — the incremental form
    * of the q176/q177 batch rollups, and the metrics-store shape a
    * 100 TB pipeline keeps per (day, source): raw rows are touched
    * once, at ingest.
    *
    * Store size is O(batches × groups × sketch width), independent of
    * row volume; no compaction step is needed because merge-at-read IS
    * the compaction (a fold over arrays, not a corpus operation).
    * Rows with a null group are dropped (no group to credit); null
    * hashes count toward `n_rows` but not the sketches (the sketch
    * aggregates' own null contract).
    *
    * Sketch parameters ride a `_graft_sketch_params` marker — the
    * tokenizer-marker discipline: appending batches built with a
    * different p/depth/width would mix widths in one store and fail at
    * MERGE time (far from the misconfiguration); the ingest side
    * refuses loudly instead, naming both parameter sets. */
  private[graft] def sketchRollupBatch(batch: DataFrame, batchId: Long,
      storeDir: String, groupCol: String, hashCol: String,
      hllP: Int, cmsDepth: Int, cmsWidth: Int,
      failAfterStep: Int = Int.MaxValue): Unit = {
    val spark = batch.sparkSession
    def failpoint(n: Int): Unit = if (failAfterStep == n)
      throw new IllegalStateException(
        s"sketchRollupBatch: test failpoint after step $n")
    if (isCommitted(spark, storeDir, batchId)) return
    ensureSketchParamsMarker(spark, storeDir, hllP, cmsDepth, cmsWidth)
    val delta = batch
      .filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(Sketch.hllSketch(col(hashCol), hllP).as("hll"),
        Sketch.cmsSketch(col(hashCol), cmsDepth, cmsWidth).as("cms"),
        count(lit(1)).as("n_rows"))
      .withColumn("batch_id", lit(batchId))
    publishBatch(delta, storeDir, batchId, Nil)
    failpoint(1)
    commitBatch(spark, storeDir, batchId)
  }

  /** Fold a sketch-rollup store to one row per group: HLL-merged
    * distinct sketch, CMS-merged frequency sketch, summed row count —
    * COMMITTED batches only (a crash between publish and commit leaves
    * data files without a marker; unlike the postings store, a partial
    * batch here would silently under-sketch its groups, so the reader
    * filters to the marker set — the replayed batch re-publishes
    * by-name and commits, after which the fold converges). Loud on a
    * missing/empty store: there is no schema to serve. */
  def sketchRollupTotals(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, groupCol: String): DataFrame = {
    val (fs, p) = fsPath(spark, storeDir)
    require(hasDataFiles(fs, p),
      s"sketchRollupTotals: no sketch store at $storeDir")
    val committed = committedBatchIds(spark, storeDir)
    require(committed.nonEmpty,
      s"sketchRollupTotals: no committed batches at $storeDir")
    spark.read.parquet(storeDir)
      .filter(col("batch_id").isin(committed.toSeq.map(Long.box): _*))
      .groupBy(groupCol)
      .agg(Sketch.hllMerge(col("hll")).as("hll"),
        Sketch.cmsMerge(col("cms")).as("cms"),
        sum("n_rows").as("n_rows"))
  }

  private def committedBatchIds(spark: org.apache.spark.sql.SparkSession,
      outDir: String): Set[Long] = {
    val (fs, _) = fsPath(spark, outDir)
    val m = new org.apache.hadoop.fs.Path(outDir + "/_graft_commits")
    if (!fs.exists(m)) return Set.empty
    fs.listStatus(m).map(_.getPath.getName)
      .collect { case n if n.startsWith("b") => n.drop(1).toLong }
      .toSet
  }

  private def ensureSketchParamsMarker(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, hllP: Int, cmsDepth: Int, cmsWidth: Int): Unit = {
    val name = s"hll$hllP-cms${cmsDepth}x$cmsWidth"
    val (fs, p) = fsPath(spark, storeDir)
    val mDir = new org.apache.hadoop.fs.Path(storeDir + "/_graft_sketch_params")
    if (fs.exists(mDir)) {
      val vs = fs.listStatus(mDir).map(_.getPath.getName).toSet
      require(vs == Set(name),
        s"sketch store at $storeDir was built with parameters " +
          s"[${vs.mkString(", ")}], this ingest runs $name — appending " +
          "would mix sketch widths in one store (the merge would fail " +
          "far from this misconfiguration). Rebuild the store or match " +
          "the parameters.")
    } else if (hasDataFiles(fs, p)) {
      throw new IllegalStateException(
        s"sketch store at $storeDir holds data but no parameter marker " +
          "— not a store sketchRollupBatch wrote. Refusing to append.")
    } else {
      fs.mkdirs(mDir)
      fs.create(new org.apache.hadoop.fs.Path(mDir, name), true).close()
    }
  }

  /** Publish `df` into `dstDir` under deterministic batch-keyed file
    * names: stage a normal parquet write inside the destination
    * (hidden `.staging-b<id>` dir), delete any `b<id>-*` files a
    * previous attempt left, rename the staged files in as
    * `b<id>-<i>.parquet` (preserving partition subdirectories), drop
    * the staging dir. Re-running the same batch converges on the same
    * file set instead of appending a second copy — the idempotence
    * whole-batch replays rely on. Readers are never broken mid-publish:
    * they see the old files, a mix, or the new files — all
    * row-identical under a deterministic recompute. */
  private[graft] def publishBatch(df: DataFrame, dstDir: String, batchId: Long,
      partitionCols: Seq[String]): Unit = {
    val spark = df.sparkSession
    val (fs, dst) = fsPath(spark, dstDir)
    val staging = new org.apache.hadoop.fs.Path(dstDir + s"/.staging-b$batchId")
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(staging.toString)
    def files(root: org.apache.hadoop.fs.Path)(
        keep: String => Boolean): Seq[org.apache.hadoop.fs.Path] = {
      val out = Seq.newBuilder[org.apache.hadoop.fs.Path]
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val f = it.next().getPath
        if (keep(f.getName)) out += f
      }
      out.result()
    }
    files(dst)(_.startsWith(s"b$batchId-")).foreach(fs.delete(_, false))
    val staged = files(staging)(n => !n.startsWith("_") && !n.startsWith("."))
      .sortBy(_.toString)
    // compare FULLY-QUALIFIED strings: listFiles returns scheme-qualified
    // paths (file:/...), so stripping the raw caller-supplied prefix
    // would silently miss and re-root the rename inside the staging dir
    val stagingQ = fs.makeQualified(staging).toString
    staged.zipWithIndex.foreach { case (src, i) =>
      require(src.toString.startsWith(stagingQ + "/"),
        s"publishBatch: staged file $src outside $stagingQ")
      val rel = src.toString.stripPrefix(stagingQ).stripPrefix("/")
      val cut = rel.lastIndexOf('/')
      val targetDir =
        if (cut < 0) dst
        else new org.apache.hadoop.fs.Path(dst, rel.substring(0, cut))
      fs.mkdirs(targetDir)
      val target = new org.apache.hadoop.fs.Path(targetDir, s"b$batchId-$i.parquet")
      require(fs.rename(src, target), s"publishBatch: rename $src -> $target failed")
    }
    fs.delete(staging, true)
  }

  /** Recreate `srcDir`'s commit markers inside `dstDir` — for
    * compactions whose markers live INSIDE the directory being swapped
    * (both search-index stores). Markers are empty files, so "copy" is
    * create-by-name. */
  private def copyCommitMarkers(spark: org.apache.spark.sql.SparkSession,
      srcDir: String, dstDir: String): Unit =
    copyMarkerDir(spark, srcDir, dstDir, "_graft_commits")

  /** Recreate a marker subdirectory (empty name-keyed files) inside a
    * compaction tmp dir — `_graft_commits` and `_graft_tokenizer` both
    * live INSIDE the directory swapDirs replaces, so both must be
    * carried or they die with the swap: a store that lost its commit
    * markers would re-publish every replayed batch into the merged −1
    * rows and double its tf. */
  private def copyMarkerDir(spark: org.apache.spark.sql.SparkSession,
      srcDir: String, dstDir: String, name: String): Unit = {
    val (fs, _) = fsPath(spark, srcDir)
    val src = new org.apache.hadoop.fs.Path(srcDir + "/" + name)
    if (!fs.exists(src)) return
    val dst = new org.apache.hadoop.fs.Path(dstDir + "/" + name)
    fs.mkdirs(dst)
    fs.listStatus(src).foreach { st =>
      fs.create(new org.apache.hadoop.fs.Path(dst, st.getPath.getName),
        true).close()
    }
  }

  /** The search-TOKENIZATION contract version a persisted index was
    * built with, recorded as an empty version-named file under
    * `<indexDir>/_graft_tokenizer`. The v2 contract changed the tokens
    * (ASCII `[a-z0-9]+` → Unicode runs + CJK bigrams): appending new-tokenizer
    * batches to an old-tokenizer store would MIX two token streams —
    * positions shift, df/dl mix two length definitions, old-spelling
    * terms stop matching — all silently wrong at read time, where
    * nothing can detect it (a postings store has no text to re-check).
    * So the ingest side refuses loudly instead: a store with data but
    * no marker is legacy (v1) and must be rebuilt; a marker that
    * names a different version is a contract mismatch. */
  private[graft] val TokenizerVersion = "v2-unicode-cjk-bigram"

  private def ensureTokenizerMarker(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Unit = {
    val (fs, p) = fsPath(spark, indexDir)
    val mDir = new org.apache.hadoop.fs.Path(indexDir + "/_graft_tokenizer")
    if (fs.exists(mDir)) {
      val vs = fs.listStatus(mDir).map(_.getPath.getName).toSet
      require(vs == Set(TokenizerVersion),
        s"index store at $indexDir was built with search-tokenizer " +
          s"version [${vs.mkString(", ")}], this engine runs " +
          s"$TokenizerVersion — appending would mix incompatible token " +
          "streams (positions, df and doc lengths all silently wrong). " +
          "Rebuild the index by re-ingesting the corpus.")
    } else if (hasDataFiles(fs, p)) {
      throw new IllegalStateException(
        s"index store at $indexDir holds data but no tokenizer-version " +
          s"marker: it predates $TokenizerVersion (legacy ASCII " +
          "tokenization). Appending with the current Unicode/CJK " +
          "tokenizer would mix two token streams in one store — " +
          "positions, df and doc lengths would be silently wrong at " +
          "query time, where nothing can detect it. Rebuild the index " +
          "by re-ingesting the corpus.")
    } else {
      fs.mkdirs(mDir)
      fs.create(new org.apache.hadoop.fs.Path(mDir, TokenizerVersion),
        true).close()
    }
  }

  private def markerPath(outDir: String, batchId: Long) =
    new org.apache.hadoop.fs.Path(outDir + "/_graft_commits", s"b$batchId")

  private def isCommitted(spark: org.apache.spark.sql.SparkSession,
      outDir: String, batchId: Long): Boolean = {
    val (fs, _) = fsPath(spark, outDir)
    fs.exists(markerPath(outDir, batchId))
  }

  private def commitBatch(spark: org.apache.spark.sql.SparkSession,
      outDir: String, batchId: Long): Unit = {
    val (fs, _) = fsPath(spark, outDir)
    val m = markerPath(outDir, batchId)
    fs.mkdirs(m.getParent)
    fs.create(m, true).close()
  }
}
