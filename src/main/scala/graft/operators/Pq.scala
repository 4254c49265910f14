package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** Product quantization: similarity search in the COMPRESSED domain —
  * the ANN memory/scan-bandwidth path that matters precisely at
  * 100 TB, where even IVF's partition pruning still reads raw vectors
  * (a 768-dim float32 embedding is 3 KB; its PQ code at 96 subspaces
  * is 96 BYTES — a 32× reduction in what the rerank scan fetches,
  * decodes, and holds).
  *
  * The pieces (each bit-identical to the DuckDB oracle, see
  * [[graft.functions.PqCodes]] for the arithmetic contract):
  *
  *  - [[pqCodebook]]: per-subspace codewords. The default (iters = 0)
  *    rule is the engine's established sampled-anchor form ("first k
  *    by `h60('pqcode:' || id)`, id tiebreak" — the [[Similarity
  *    .ivfIndex]] centroid rule applied per subspace), which keeps the
  *    whole pipeline reproducible on any engine from the row set
  *    alone. `iters > 0` refines those same codewords with Lloyd
  *    k-means on a bounded hash-ordered sample (driver-side —
  *    codebook training is O(sample), independent of corpus scale);
  *    still deterministic run-to-run, no longer SQL-portable, so the
  *    oracle queries pin iters = 0 and [[graft.PqSpec]] covers the
  *    refined form.
  *  - [[pqEncode]]: one narrow corpus scan adding an nSub-byte
  *    `binary` code column via the native codegen'd
  *    [[graft.functions.PqEncode]] — codebook baked into the compiled
  *    plan as a reference object (≤ a few hundred KB), no join, no
  *    shuffle, no row explosion. The DataFrame-composed alternative
  *    (corpus × codebook cross join + per-(row, sub) window argmin)
  *    multiplies the corpus by nSub·k ROWS and shuffles it for the
  *    window — the same trap [[graft.functions.MinHashSig]] removed
  *    from the LSH build.
  *  - [[pqTopKExhaustive]]: compressed-domain brute force — broadcast
  *    the bounded query batch (each query carrying its nSub·k-entry
  *    lookup table, built once per query by [[graft.functions
  *    .PqLut]]), scan the codes, score by [[graft.functions.PqAdc]]
  *    (nSub table lookups + integer adds per candidate instead of
  *    `dims` float multiplies), k-cap with the map-side
  *    [[Similarity.topKBy]] heap. The [[Similarity.bruteForceTopK]]
  *    shape at 1/32 the scan bytes and a fraction of the arithmetic.
  *  - [[pqIndex]] / [[pqProbe]]: IVF-PQ — [[Similarity.ivfIndex]]'s
  *    cell layout storing CODES instead of raw vectors (raw vectors
  *    survive only on the nCells centroid rows, for probe-time cell
  *    ranking), probed with partition pruning to the nProbe cells and
  *    ADC scoring inside them. Pruning bounds WHICH bytes are read;
  *    PQ bounds HOW MANY bytes per row — independent multipliers.
  *  - [[pqRerank]]: the standard two-stage finish — ADC top-R
  *    candidates re-scored with exact cosine against a raw-vector
  *    table (an id equi-join fetching R·|queries| vectors, not a
  *    scan), re-ranked to top-k.
  *
  * Recall contract: ADC ranks by a QUANTIZED estimate of cosine — a
  * true neighbor is demoted only by quantization error (bounded by
  * per-subspace cell diameter, shrinking as k grows or Lloyd
  * refinement tightens cells), and [[pqRerank]] restores exact order
  * among the R survivors. There are no false positives in the rerank
  * form. */
object Pq {

  /** The codebook sample's sort key: portable 60-bit hash of
    * `"pqcode:" || id` — the oracle replicates it via
    * [[graft.functions.Hashing.h60Sql]]. */
  private def codeHashOrder(id: Column): Column =
    Hashing.h60(concat(lit("pqcode:"), id.cast("string")))

  /** [[codeHashOrder]] as DuckDB SQL (one definition, both engines). */
  def codeHashOrderSql(idExpr: String): String =
    Hashing.h60Sql(s"'pqcode:' || CAST($idExpr AS VARCHAR)")

  /** Left-to-right double fold over two `array<double>` columns — the
    * [[Similarity.dot]] contract at codebook (tiny-relation) scale,
    * where interpreted higher-order functions are fine. */
  private def doubleDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Per-subspace PQ codebook over `vecs`: `(sub, code, c_vec, cc)`
    * with `c_vec` the normalized codeword (array<double>) and `cc` its
    * self-dot (the encode rule's L2 bias term, precomputed once).
    *
    * `iters = 0` (default, oracle-portable): codeword `(s, j)` is
    * subspace `s` of the j-th corpus vector in `(h60("pqcode:" || id),
    * id)` order — k iid samples of each subspace's marginal
    * distribution (per-subspace encode never uses cross-subspace
    * structure, so sharing the k anchor rows across subspaces loses
    * nothing). `iters > 0`: Lloyd refinement of those same initial
    * codewords over a `sampleN` hash-ordered sample (collected —
    * bounded, default 8192), empty clusters keeping their previous
    * codeword; deterministic (fixed sample order, fixed iteration
    * count, micro-floored argmax with code-id ties like the encode
    * rule itself). */
  def pqCodebook(vecs: DataFrame, idCol: String, vecCol: String, dims: Int,
      nSub: Int, k: Int, iters: Int = 0, sampleN: Int = 8192): DataFrame = {
    require(nSub >= 1 && dims % nSub == 0,
      s"dims=$dims must be a multiple of nSub=$nSub")
    require(k >= 1 && k <= 256, s"k=$k codes must fit a byte (1..256)")
    require(iters >= 0 && sampleN >= k,
      s"iters=$iters must be >= 0 and sampleN=$sampleN >= k=$k")
    val dsub = dims / nSub
    val n = vecs.select(col(idCol), col(vecCol),
        Similarity.norm(col(vecCol)).as("nrm"))
      .filter(col("nrm") > 0)
    if (iters == 0) {
      val byHash = Window.orderBy(codeHashOrder(col(idCol)), col(idCol))
      // k rows total after the limit — the lone unpartitioned window
      // runs over k ≤ 256 rows, not the corpus
      val samp = n.orderBy(codeHashOrder(col(idCol)), col(idCol)).limit(k)
        .withColumn("code", (row_number().over(byHash) - 1))
      samp.select(
          explode(sequence(lit(0), lit(nSub - 1))).as("sub"),
          col("code"), col(vecCol), col("nrm"))
        .withColumn("c_vec", transform(
          slice(col(vecCol), col("sub") * dsub + 1, lit(dsub)),
          x => x.cast("double") / col("nrm")))
        .withColumn("cc", doubleDot(col("c_vec"), col("c_vec")))
        .select("sub", "code", "c_vec", "cc")
        .orderBy("sub", "code")
    } else {
      // bounded driver sample in the SAME deterministic order; the
      // first k rows are exactly the iters=0 codewords (Lloyd's init)
      val rows = n.orderBy(codeHashOrder(col(idCol)), col(idCol)).limit(sampleN)
        .select(col(vecCol), col("nrm")).collect()
      val normed = rows.map { r =>
        val v = r.getSeq[Float](0)
        val nrm = r.getDouble(1)
        v.map(_.toDouble / nrm).toArray
      }
      val spark = vecs.sparkSession
      import spark.implicits._
      (0 until nSub).flatMap { s =>
        val subVecs = normed.map(_.slice(s * dsub, (s + 1) * dsub))
        var cents = subVecs.take(k).map(_.clone())
        for (_ <- 1 to iters) {
          val sums = Array.fill(cents.length)(new Array[Double](dsub))
          val counts = new Array[Long](cents.length)
          val cc = cents.map(c => c.map(x => x * x).sum)
          subVecs.foreach { x =>
            var bestScore = Long.MinValue
            var bestJ = 0
            for (j <- cents.indices) {
              var dot = 0.0
              for (d <- 0 until dsub) dot += x(d) * cents(j)(d)
              val score = math.floor(1e6 * (dot - 0.5 * cc(j))).toLong
              if (score > bestScore) { bestScore = score; bestJ = j }
            }
            for (d <- 0 until dsub) sums(bestJ)(d) += x(d)
            counts(bestJ) += 1
          }
          cents = cents.indices.map { j =>
            if (counts(j) == 0) cents(j)
            else sums(j).map(_ / counts(j))
          }.toArray
        }
        cents.zipWithIndex.map { case (c, j) =>
          (s, j, c.toSeq, c.map(x => x * x).sum)
        }
      }.toDF("sub", "code", "c_vec", "cc")
    }
  }

  /** The codebook collected into the flat arrays the native
    * expressions bake in: `(cb[(s·k+j)·dsub + d], cc[s·k+j], nSub,
    * k)`. Bounded: nSub·k rows. Contiguity validated — a partial or
    * duplicated codebook relation fails here, not as silent wrong
    * codes. */
  private def collectCodebook(codebook: DataFrame)
      : (Array[Double], Array[Double], Int, Int) = {
    val rows = codebook.select(col("sub").cast("int"), col("code").cast("int"),
        col("c_vec"), col("cc").cast("double"))
      .collect().sortBy(r => (r.getInt(0), r.getInt(1)))
    require(rows.nonEmpty, "pq: empty codebook relation")
    val nSub = rows.map(_.getInt(0)).max + 1
    val k = rows.length / nSub
    require(rows.length == nSub * k &&
      rows.zipWithIndex.forall { case (r, i) =>
        r.getInt(0) == i / k && r.getInt(1) == i % k },
      s"pq: codebook is not a contiguous (sub, code) grid — " +
        s"${rows.length} rows, max sub ${nSub - 1}")
    val dsub = rows.head.getSeq[Double](2).length
    val cb = new Array[Double](nSub * k * dsub)
    val cc = new Array[Double](nSub * k)
    rows.zipWithIndex.foreach { case (r, i) =>
      val v = r.getSeq[Double](2)
      require(v.length == dsub, "pq: ragged codeword lengths in codebook")
      v.copyToArray(cb, i * dsub)
      cc(i) = r.getDouble(3)
    }
    (cb, cc, nSub, k)
  }

  /** `df` plus an nSub-byte `binary` PQ code column (`outCol`) — one
    * narrow scan, codebook baked into the plan. Degenerate vectors
    * (null / wrong length / zero norm / null element) code as null. */
  def pqEncode(df: DataFrame, codebook: DataFrame, vecCol: String,
      outCol: String = "pq_codes"): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val (cb, cc, nSub, _) = collectCodebook(codebook)
    df.withColumn(outCol, ColumnBridge.column(graft.functions.PqEncode(
      ColumnBridge.expression(col(vecCol)), cb, cc, nSub)))
  }

  /** The per-query ADC lookup-table column for `vecCol` under
    * `codebook` — `array<double>` of nSub·k entries ([[graft.functions
    * .PqLut]]); pair with [[adcScore]] on the candidate side. */
  def pqLutCol(codebook: DataFrame, vecCol: String): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val (cb, _, nSub, k) = collectCodebook(codebook)
    ColumnBridge.column(graft.functions.PqLut(
      ColumnBridge.expression(col(vecCol)), cb, nSub, k))
  }

  /** ADC score (micro-cosine estimate, LONG) of a codes column against
    * a lut column ([[graft.functions.PqAdc]]). */
  def adcScore(codes: Column, lut: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.PqAdc(
      ColumnBridge.expression(codes), ColumnBridge.expression(lut)))
  }

  /** Compressed-domain brute-force top-k: encode the corpus, broadcast
    * the BOUNDED query batch with per-query lookup tables, ADC-score
    * every (query, corpus) pair, heap-cap to k. One corpus scan at
    * nSub bytes + nSub integer adds per candidate — the exact-scan
    * [[Similarity.bruteForceTopK]] contract (queries ≪ corpus; the
    * broadcast is |queries| · nSub·k doubles) with ~32× less scan IO
    * and no float multiplies in the inner loop. Output:
    * `(query_id, neighbor_id, pq_micro, rank)`, ranked by
    * `(pq_micro desc, neighbor_id)`. An empty codebook (empty corpus)
    * returns the empty result with the contract schema. */
  def pqTopKExhaustive(queries: DataFrame, corpus: DataFrame,
      codebook: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    if (codebook.isEmpty)
      return queries.select(col(idCol).as("query_id")).limit(0)
        .crossJoin(corpus.select(col(idCol).as("neighbor_id")).limit(0))
        .withColumn("pq_micro", lit(0L))
        .withColumn("rank", lit(0L))
    // Materialization boundary BEFORE the cross join — the
    // nearDupPairsLsh lesson ([[Similarity]]) recurring in compressed
    // form: whole-stage codegen fuses this projection into the
    // BroadcastNestedLoopJoin's stream side, and the join's per-MATCH
    // code path then re-evaluates pq_encode (nSub·k·dsub multiplies)
    // once per candidate PAIR instead of once per corpus row —
    // measured 56–181 CPU core-s at the sf1/sf3 study points, 2.5×
    // the EXACT scan it is supposed to undercut. Checkpointed codes
    // are nSub bytes/row (the compressed corpus — fitting where raw
    // vectors do not is what PQ is for), and the scan drops to ADC
    // lookups only.
    val encoded = pqEncode(corpus, codebook, vecCol)
      .filter(col("pq_codes").isNotNull)
      .select(col(idCol).as("neighbor_id"), col("pq_codes"))
      .localCheckpoint(true)
    val q = broadcast(queries
      .withColumn("lut", pqLutCol(codebook, vecCol))
      .filter(col("lut").isNotNull)
      .select(col(idCol).as("query_id"), col("lut")))
    encoded.crossJoin(q)
      .withColumn("pq_micro", adcScore(col("pq_codes"), col("lut")))
      .groupBy("query_id")
      .agg(Similarity.topKBy(col("pq_micro"), col("neighbor_id"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"),
        col("col.id").as("neighbor_id"),
        col("col.score").as("pq_micro"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  private def pqStampParams(nSub: Int, k: Int): Seq[(String, Int)] =
    Seq("pq_sub" -> nSub, "pq_k" -> k)

  /** Content hash of a collected codebook — a pure function of the
    * codeword BITS, stamped as `pq_cb` so the probe/extend paths
    * validate codebook VALUES, not just shape: two same-shape
    * codebooks (a sampled build vs its Lloyd refinement, or two
    * corpora) would otherwise pass the shape stamp and silently
    * mis-score every ADC lookup.
    *
    * Each element's IEEE bits go through a 64-bit avalanche mix
    * (splitmix64's finalizer) before folding — `java.util.Arrays
    * .hashCode`'s linear fold was PROVABLY blind to structured value
    * changes: negating every element adds 2^31 per element mod 2^32,
    * so any even-length codebook collided with its own mirror image —
    * precisely the "distribution flipped, codebook stale" drift case
    * the stamp exists to refuse (caught by PqSpec's drift test). */
  private def codebookHash(cb: Array[Double], cc: Array[Double]): Int = {
    var h = 0x9E3779B97F4A7C15L
    def mix(d: Double): Unit = {
      var x = java.lang.Double.doubleToLongBits(d)
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^= x >>> 31
      h = java.lang.Long.rotateLeft(h, 5) ^ x
    }
    cb.foreach(mix)
    cc.foreach(mix)
    ((h ^ (h >>> 32)).toInt) & Int.MaxValue
  }

  /** IVF-PQ index: [[Similarity.ivfIndex]]'s cell-partitioned layout
    * (same hash-ordered centroid rule, same `partitionBy("cell")`
    * persistence contract, same stamp) with every member row carrying
    * its nSub-byte CODE and only the nCells centroid rows keeping
    * their raw vector + norm (probe-time cell ranking needs them; the
    * 99.99% member rows do not). At 100 TB this is where the 32×
    * byte reduction lands: the probe's pruned cell scan reads codes,
    * not embeddings. Extra stamps: `pq_sub`, `pq_k` (shape) and
    * `pq_cb` (codeword CONTENT hash) — [[pqProbe]] and
    * [[pqIndexExtend]] validate both against the codebook they are
    * handed, so an index and a codebook from different builds — even
    * same-shape ones, a sampled build vs its Lloyd refinement —
    * cannot silently mis-score. */
  def pqIndex(vecs: DataFrame, idCol: String, vecCol: String,
      codebook: DataFrame, nCells: Int, dims: Int): DataFrame = {
    val (cb, cc, nSub, k) = collectCodebook(codebook)
    val base = Similarity.ivfIndex(vecs, idCol, vecCol, nCells, dims)
    IndexStamp.stamp(
      pqEncode(base, codebook, vecCol)
        .withColumn(vecCol, when(col("is_cent"), col(vecCol)))
        .withColumn("nrm", when(col("is_cent"), col("nrm"))),
      pqStampParams(nSub, k) :+ ("pq_cb" -> codebookHash(cb, cc)))
  }

  /** The index rows for NEW vectors under an existing IVF-PQ index —
    * the PQ form of [[Similarity.ivfIndexExtend]]: cells from the
    * index's own centroids (reconstructed via `is_cent`; raw vectors
    * survive there for exactly this), codes from `codebook`, which
    * must BE the codebook the index was encoded with: shape is
    * validated against the `pq_sub`/`pq_k` stamp and content against
    * the `pq_cb` content-hash stamp, so a re-trained or
    * different-corpus codebook of the same shape is refused instead
    * of silently mixing two code spaces. Append the result
    * (`write.mode("append").partitionBy("cell")`) to grow the index
    * without touching the published rows — O(batch), the ingest
    * contract of the whole index family. Extending an empty relation
    * is refused (no stamp, no centroids, no quantizer). */
  def pqIndexExtend(index: DataFrame, newVecs: DataFrame, idCol: String,
      vecCol: String, codebook: DataFrame): DataFrame = {
    val (cb, cc, nSub, k) = collectCodebook(codebook)
    val params = IndexStamp.readUnique(index,
      Seq("ix_cells", "ix_dims", "pq_sub", "pq_k", "pq_cb"), "pqIndexExtend")
      .getOrElse(throw new IllegalArgumentException(
        "pqIndexExtend: cannot extend an empty index relation (no stamp " +
          "or centroids to inherit) — build it with pqIndex instead"))
    val Seq(nCells, dims, pqSub, pqK, pqCb) = params: @unchecked
    require(pqSub == nSub && pqK == k,
      s"pqIndexExtend: codebook shape (nSub=$nSub, k=$k) disagrees with " +
        s"the index stamp (pq_sub=$pqSub, pq_k=$pqK)")
    require(pqCb == codebookHash(cb, cc),
      "pqIndexExtend: codebook CONTENT disagrees with the index's pq_cb " +
        "stamp — same shape, different codewords (a re-trained or " +
        "different-corpus codebook). Extending would mix two code spaces " +
        "in one index; rebuild with pqIndex, or hand the original codebook.")
    val cents = broadcast(index.filter(col("is_cent"))
      .select(col(idCol).as("cell_id"), col(vecCol).as("c_vec"),
        col("nrm").as("c_nrm")))
    val assigned = Similarity.ivfAssign(
        Similarity.withNorm(newVecs, idCol, vecCol), cents, idCol, vecCol)
      .withColumn("is_cent", lit(false))
    IndexStamp.stamp(
      pqEncode(assigned, codebook, vecCol)
        .withColumn(vecCol, when(col("is_cent"), col(vecCol)))
        .withColumn("nrm", when(col("is_cent"), col("nrm"))),
      Seq("ix_cells" -> nCells, "ix_dims" -> dims) ++
        pqStampParams(nSub, k) :+ ("pq_cb" -> pqCb))
  }

  /** Probe an IVF-PQ index: rank the reconstructed centroids per query
    * (exact cosine — centroid rows kept their raw vectors), collect
    * the ≤ nCells probed-cell set and push it as a partition filter,
    * then ADC-score only the probed cells' CODES against the query's
    * lookup table, heap-capped to k. `maxCellRows` is the same
    * probe-side skew cap as [[Similarity.ivfIndexProbe]]'s. Build
    * parameters (ix_cells, ix_dims, pq_sub, pq_k) are validated
    * against the stamp; a codebook whose shape disagrees with the
    * index's stamp raises before any scoring. Output:
    * `(query_id, neighbor_id, pq_micro, rank)` — feed [[pqRerank]]
    * with k = R for the exact-rerank finish. */
  def pqProbe(probes: DataFrame, index: DataFrame, codebook: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int, nCells: Int,
      dims: Int, maxCellRows: Option[Int] = None): DataFrame = {
    val (cb, cc, nSub, kCodes) = collectCodebook(codebook)
    val validated = IndexStamp.validated(index,
      Seq("ix_cells" -> nCells, "ix_dims" -> dims) ++
        pqStampParams(nSub, kCodes) :+ ("pq_cb" -> codebookHash(cb, cc)),
      "pqProbe")
    val cents = broadcast(validated.filter(col("is_cent"))
      .select(col(idCol).as("cell_id"), col(vecCol).as("c_vec"),
        col("nrm").as("c_nrm")))
    val q = probes.select(col(idCol), col(vecCol),
        Similarity.norm(col(vecCol)).as("nrm"))
      .filter(col("nrm") > 0)
    val byCloseness = Window.partitionBy(idCol)
      .orderBy(col("cell_cos").desc, col("cell_id"))
    val probeCells = q.crossJoin(cents)
      .withColumn("cell_cos",
        floor(lit(1e6) * Similarity.dot(col(vecCol), col("c_vec"))
          / (col("nrm") * col("c_nrm"))).cast("long"))
      .withColumn("cell_rank", row_number().over(byCloseness))
      .filter(col("cell_rank") <= nProbe)
      .select(col(idCol).as("query_id"),
        pqLutCol(codebook, vecCol).as("lut"),
        col("cell_id").as("cell"))
    // bounded driver materialization: ≤ nCells distinct values
    val cells = probeCells.select(col("cell").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq
    IndexOps.capHotBuckets(
        validated.filter(col("cell").isin(cells: _*)), Seq("cell"), maxCellRows)
      .filter(col("pq_codes").isNotNull)
      .select(col(idCol).as("neighbor_id"), col("pq_codes"),
        col("cell").cast("long").as("cell"))
      .join(broadcast(probeCells.withColumn("cell", col("cell").cast("long"))),
        Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("pq_micro", adcScore(col("pq_codes"), col("lut")))
      .groupBy("query_id")
      .agg(Similarity.topKBy(col("pq_micro"), col("neighbor_id"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"),
        col("col.id").as("neighbor_id"),
        col("col.score").as("pq_micro"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Exact rerank of ADC candidates: join `matches` (the
    * `(query_id, neighbor_id, …)` output of [[pqProbe]] /
    * [[pqTopKExhaustive]] run at k = R) back to raw vectors on BOTH
    * sides — id equi-joins fetching R·|queries| + |queries| vectors,
    * never a scan — score exact micro-cosine, keep the top k per query
    * by `(cos_micro desc, neighbor_id)`. Quantization error decides
    * only who enters the R pool, not the final order. `raw` must hold
    * BOTH sides' vectors; when queries are not a subset of the corpus
    * (the disjoint ingest-screen shape), use [[pqRerankSided]]. */
  def pqRerank(matches: DataFrame, raw: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame =
    pqRerankSided(matches, raw, raw, idCol, vecCol, k)

  /** [[pqRerank]] with the two id joins reading DIFFERENT relations:
    * query vectors from `queries`, neighbor vectors from `corpus` — the
    * form the routed front door needs, where the probe batch is not
    * part of the indexed corpus and a single `raw` table holding both
    * does not exist. Same contract otherwise. */
  def pqRerankSided(matches: DataFrame, queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    def n(df: DataFrame) = df.select(col(idCol), col(vecCol),
        Similarity.norm(col(vecCol)).as("nrm"))
      .filter(col("nrm") > 0)
    val byScore = Window.partitionBy("query_id")
      .orderBy(col("cos_micro").desc, col("neighbor_id"))
    matches.select("query_id", "neighbor_id")
      .join(n(queries).select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        col("nrm").as("q_nrm")), Seq("query_id"))
      .join(n(corpus).select(col(idCol).as("neighbor_id"), col(vecCol).as("n_vec"),
        col("nrm").as("n_nrm")), Seq("neighbor_id"))
      .withColumn("cos_micro",
        floor(lit(1e6) * Similarity.dot(col("q_vec"), col("n_vec"))
          / (col("q_nrm") * col("n_nrm"))).cast("long"))
      .withColumn("rank", row_number().over(byScore).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos_micro", "rank")
  }

  /** One BATCH-INCREMENTAL ingest step against a persisted IVF-PQ
    * index — PQ's member of the incremental-ingest family
    * ([[Dedup.minhashIncrementalIngest]] /
    * [[Similarity.lshIncrementalIngest]] /
    * [[Similarity.ivfIncrementalIngest]]), same contract: screen
    * `newVecs` against the indexed corpus (parameters from the stamp
    * with the uniqueness guard; the codebook validated against the
    * `pq_cb` content hash), collapse intra-batch near-dup clusters to
    * their min-id representative (corpus screening first — the
    * conservative member-substitution semantics documented on the text
    * path), and return `(survivors, index rows to append)`
    * (`write.mode("append").partitionBy("cell")`).
    *
    * The CORPUS screen is COMPRESSED-DOMAIN — the whole point of the
    * PQ loop: the k=1 [[pqProbe]] reads nSub bytes per candidate in
    * the nProbe probed cells (member vectors are not in the index to
    * exact-score against), and a new vector is a near-dup iff its
    * best ADC estimate clears `minMicro`. `pq_micro` estimates the
    * same micro-cosine scale the raw families threshold on, so the
    * parameter means the same thing — up to quantization error (the
    * measured ladder in PqSpec): a borderline near-dup under-estimated
    * below the threshold is ADMITTED (duplicates err toward keeping
    * data), and an over-estimated false positive costs one dropped
    * batch row. Pipelines needing exact screening at ingest keep raw
    * vectors and run the IVF loop; this one exists for the corpus
    * whose raw vectors no longer fit. The INTRA-BATCH screen IS exact:
    * batch vectors are raw in hand, so candidates share a probed cell
    * under the index's centroids and every pair is exact-cosine
    * scored — [[Similarity.ivfIncrementalIngest]]'s construction. */
  def pqIncrementalIngest(index: DataFrame, newVecs: DataFrame,
      codebook: DataFrame, idCol: String, vecCol: String, minMicro: Long,
      nProbe: Int): (DataFrame, DataFrame) = {
    val params = IndexStamp.readUnique(index,
      Seq("ix_cells", "ix_dims", "pq_sub", "pq_k", "pq_cb"),
      "pqIncrementalIngest").getOrElse(throw new IllegalArgumentException(
        "pqIncrementalIngest: the index relation is empty — build it with " +
          "pqIndex first"))
    val Seq(nCells, dims, _, _, _) = params: @unchecked
    val matched = pqProbe(newVecs, index, codebook, idCol, vecCol,
        k = 1, nProbe = nProbe, nCells = nCells, dims = dims)
      .filter(col("pq_micro") >= minMicro)
      .select(col("query_id").as(idCol)).distinct()
    // one materialization of the corpus screen — same boundary and same
    // reason as the other three families (eager)
    val screened = newVecs.join(matched, Seq(idCol), "left_anti")
      .localCheckpoint(true)
    val cents = broadcast(index.filter(col("is_cent"))
      .select(col(idCol).as("cell_id"), col(vecCol).as("c_vec"),
        col("nrm").as("c_nrm")))
    val pairs = Similarity.ivfBatchPairs(cents, screened, idCol, vecCol,
      minMicro, nProbe)
    val survivors = Dedup.collapseToSurvivors(screened, pairs, idCol)
    (survivors, pqIndexExtend(index, survivors, idCol, vecCol, codebook))
  }

  // ------------------------------------------------- codebook lifecycle

  /** Per-subspace quantization-distortion profile of `vecs` under
    * `codebook` — the PQ family's DRIFT DETECTOR, playing
    * [[IndexOps.cellHistogram]]'s role for the quantizer: a codebook
    * trained on last year's corpus silently loses recall as the
    * distribution shifts, and nothing in the probe path can see it
    * (ADC scores stay plausible, they are just further from the exact
    * cosine). This measures it directly: for a bounded hash-ordered
    * sample of `vecs` (the codebook build's own sampling family),
    * the squared L2 reconstruction error of each normalized subvector
    * against its encode-rule codeword — the exact quantity ADC's
    * score gap is built from — per subspace.
    *
    * Output `(sub, n, sum_err_micro, max_err_micro)`: each per-row
    * error is micro-floored to a long BEFORE the sum (the engine's
    * standing order-independent-float-sum discipline), so the profile
    * is reproducible run-to-run and engine-to-engine; mean = sum/n at
    * the caller ([[meanDistortionMicro]]). Compare a CURRENT corpus
    * sample against the build-time profile and feed the ratio to a
    * retrain policy — the repair is [[retrainSwapPq]]. Cost: one
    * sampleN-row sort-limit plus sampleN·nSub·k broadcast-joined
    * scoring rows — bounded, independent of corpus scale. */
  def pqDistortion(vecs: DataFrame, codebook: DataFrame, idCol: String,
      vecCol: String, sampleN: Int = 2048): DataFrame = {
    require(sampleN >= 1, s"sampleN must be positive, got $sampleN")
    val (cbArr, _, nSub, k) = collectCodebook(codebook)
    val dsub = cbArr.length / (nSub * k)
    val samp = vecs.select(col(idCol), col(vecCol),
        Similarity.norm(col(vecCol)).as("nrm"))
      .filter(col("nrm") > 0)
      .orderBy(codeHashOrder(col(idCol)), col(idCol)).limit(sampleN)
    val subs = samp.select(col(idCol),
        explode(sequence(lit(0), lit(nSub - 1))).as("sub"),
        col(vecCol), col("nrm"))
      .withColumn("xn", transform(
        slice(col(vecCol), col("sub") * dsub + 1, lit(dsub)),
        x => x.cast("double") / col("nrm")))
    val cbRel = broadcast(codebook.select(
      col("sub").cast("int").as("sub"), col("code").cast("int").as("code"),
      col("c_vec"), col("cc").cast("double").as("cc")))
    // the ENCODE rule's argmax (micro-floored score, code-id tiebreak),
    // then the winner's reconstruction error — one definition with
    // PqEncode's, asserted equal in PqSpec
    val byScore = Window.partitionBy(col(idCol), col("sub"))
      .orderBy(col("score").desc, col("code"))
    subs.join(cbRel, Seq("sub"))
      .withColumn("score",
        floor(lit(1e6) * (doubleDot(col("xn"), col("c_vec"))
          - lit(0.5) * col("cc"))).cast("long"))
      .withColumn("rnk", row_number().over(byScore))
      .filter(col("rnk") === 1)
      .withColumn("err_micro",
        floor(lit(1e6) * (doubleDot(col("xn"), col("xn"))
          - lit(2.0) * doubleDot(col("xn"), col("c_vec")) + col("cc"))).cast("long"))
      .groupBy("sub")
      .agg(count(lit(1)).as("n"),
        sum("err_micro").as("sum_err_micro"),
        max("err_micro").as("max_err_micro"))
  }

  /** [[pqDistortion]] reduced to one policy number: the mean per-
    * subspace reconstruction error (micro) over the whole sample.
    * Retrain when current/baseline exceeds the caller's ratio. */
  def meanDistortionMicro(distortion: DataFrame): Long = {
    val r = distortion.agg(coalesce(sum("sum_err_micro"), lit(0L)),
      coalesce(sum("n"), lit(0L))).head()
    if (r.getLong(1) == 0) 0L else r.getLong(0) / r.getLong(1)
  }

  /** Retrain-and-swap the IVF-PQ index at `dir` — the sanctioned
    * repair for the drift [[pqDistortion]] detects, completing the
    * detect→repair pair the IVF family has in `cellHistogram` →
    * `reclusterSwapIvf`: retrain the codebook on the CURRENT corpus
    * (same hash-ordered sample rule, optional Lloyd refinement),
    * re-encode every member row, re-sample centroids, and rotate the
    * `pq_cb` stamp — staged at `<dir>.compact.tmp`, dst-counted
    * against the live row count BEFORE the swap, [[IndexOps
    * .recoverSwap]] crash semantics, exactly the `reclusterSwapIvf`
    * construction.
    *
    * `corpus` must be the index's member source: the rebuilt row set
    * must equal the live one (count-refused otherwise) — a retrain
    * must never silently change membership; takedowns compose through
    * [[pqTakedown]], growth through [[pqIndexExtend]] first. Returns
    * the NEW codebook — persist it beside the index: every probe
    * handing the OLD codebook is refused by the rotated `pq_cb` stamp
    * from here on, BY DESIGN (that refusal is the whole reason the
    * stamp hashes codeword content). nCells/dims/nSub/k are inherited
    * from the stamp. */
  def retrainSwapPq(spark: SparkSession, dir: String, corpus: DataFrame,
      idCol: String, vecCol: String, iters: Int = 3,
      sampleN: Int = 8192): DataFrame = {
    IndexOps.recoverSwap(spark, dir)
    val live = spark.read.parquet(dir)
    val params = IndexStamp.readUnique(live,
      Seq("ix_cells", "ix_dims", "pq_sub", "pq_k"), "retrainSwapPq")
      .getOrElse(throw new IllegalArgumentException(
        s"retrainSwapPq: no stamped IVF-PQ index at $dir"))
    val Seq(nCells, dims, nSub, kCodes) = params: @unchecked
    val srcRows = live.count()
    val cb = pqCodebook(corpus, idCol, vecCol, dims, nSub, kCodes, iters,
      sampleN).localCheckpoint(true)
    val rebuilt = pqIndex(corpus.select(col(idCol), col(vecCol)), idCol,
      vecCol, cb, nCells, dims)
    val tmpDir = dir + ".compact.tmp"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tmpDir), true)
    rebuilt.write.mode("overwrite").partitionBy("cell").parquet(tmpDir)
    val dstRows = spark.read.parquet(tmpDir).count()
    require(dstRows == srcRows,
      s"retrainSwapPq: the rebuilt index holds $dstRows rows where the live " +
        s"index holds $srcRows — the supplied corpus is not this index's " +
        "member set (retraining must never change membership); not swapping")
    IndexOps.swapDirs(spark, dir, tmpDir)
    cb
  }

  /** The one-call corpus+index takedown [[IndexOps.deleteSwapPq]]'s
    * refusal message points at: remove the listed ids from the corpus
    * EXPORT (O(affected shards) on a stamped hash layout —
    * [[Export.deleteIdsFromExport]]) and bring the IVF-PQ index at
    * `indexDir` along in the same call.
    *
    * The index half depends on what the listed ids ANCHOR:
    *  - plain member rows only → the layout-preserving
    *    [[IndexOps.deleteSwapPq]]; the existing codebook stays valid
    *    (returns None);
    *  - a CENTROID row, or a CODEBOOK-SAMPLE row (one of the first
    *    pq_k corpus rows in codebook hash order — Lloyd refinement
    *    starts from those same anchors, so one test governs both
    *    forms) → the quantizers themselves are content derived from
    *    the deleted document, and a row filter would keep routing and
    *    scoring through them. The index is rebuilt from the SURVIVING
    *    corpus under a FRESH codebook (trained on survivors, `pq_cb`
    *    rotated) — returns Some(newCodebook), which the caller must
    *    adopt: the old codebook is refused by every probe from here
    *    on, by design.
    *
    * ORDER: the INDEX half runs FIRST, then the export delete — and
    * the ordering is load-bearing for crash idempotence, not taste.
    * The rebuild-vs-filter decision is computed from the PRE-delete
    * state (the anchor test samples the corpus); with export-first, a
    * crash between the halves would make a RE-RUN recompute
    * `anchorHit` against the already-purged corpus — false — and
    * silently downgrade a quantizer-rotating takedown to the
    * non-rotating path, leaving the deleted document's subvectors
    * alive in the codebook. Index-first, every crash point re-runs to
    * the same final state: a crash before the index swap changed
    * nothing; after it, the re-run's rebuild recomputes the identical
    * survivor set (the export still holds the rows, the anti-join
    * removes them again — deterministic, same codebook, same swap)
    * and then finishes the export half; after BOTH halves, a replay
    * finds no listed id anywhere and no-ops through. Each half is
    * individually crash-safe ([[IndexOps.recoverSwap]] semantics on
    * the index, the export's own premanifest reconciliation). */
  def pqTakedown(spark: SparkSession, exportDir: String, indexDir: String,
      ids: DataFrame, idCol: String, vecCol: String,
      checksumCols: Seq[String], iters: Int = 0, sampleN: Int = 8192,
      failAfterStep: Int = Int.MaxValue): Option[DataFrame] = {
    // failAfterStep is PqSpec's crash seam (1 = after the index half,
    // before the export delete), the batch stores' test-seam
    // pattern; production passes nothing and never throws
    def failpoint(n: Int): Unit = if (failAfterStep == n)
      throw new IllegalStateException(s"pqTakedown: test failpoint after step $n")
    IndexOps.recoverSwap(spark, indexDir)
    val live = spark.read.parquet(indexDir)
    val params = IndexStamp.readUnique(live,
      Seq("ix_cells", "ix_dims", "pq_sub", "pq_k"), "pqTakedown")
      .getOrElse(throw new IllegalArgumentException(
        s"pqTakedown: no stamped IVF-PQ index at $indexDir"))
    val Seq(nCells, dims, nSub, kCodes) = params: @unchecked
    // pin the id list before anything under it is rewritten — a list
    // derived from the export itself must not recompute from deleted bytes
    val drop = ids.select(col(idCol)).distinct().localCheckpoint(true)
    val centHit = !live.filter(col("is_cent"))
      .join(drop, Seq(idCol), "left_semi").isEmpty
    val pre = Export.readShards(spark, exportDir)
    val anchorHit = !pre.select(col(idCol), col(vecCol),
        Similarity.norm(col(vecCol)).as("nrm"))
      .filter(col("nrm") > 0)
      .orderBy(codeHashOrder(col(idCol)), col(idCol)).limit(kCodes)
      .select(col(idCol))
      .join(drop, Seq(idCol), "left_semi").isEmpty
    val rotated: Option[DataFrame] =
      if (!centHit && !anchorHit) {
        IndexOps.deleteSwapPq(spark, indexDir, idCol, drop)
        None
      } else Some {
        val corpus = pre.select(col(idCol), col(vecCol))
          .join(drop, Seq(idCol), "left_anti")
        val expected = live.join(drop, Seq(idCol), "left_anti").count()
        require(expected > 0,
          s"pqTakedown: the takedown would remove EVERY row of $indexDir — " +
            "delete the index directory (and rebuild when there is content) " +
            "instead of swapping in an empty relation no probe can use")
        val cb = pqCodebook(corpus, idCol, vecCol, dims, nSub, kCodes, iters,
          sampleN).localCheckpoint(true)
        val rebuilt = pqIndex(corpus, idCol, vecCol, cb,
          math.min(nCells, expected.toInt), dims)
        val tmpDir = indexDir + ".compact.tmp"
        val fs = new org.apache.hadoop.fs.Path(indexDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(tmpDir), true)
        rebuilt.write.mode("overwrite").partitionBy("cell").parquet(tmpDir)
        val dstRows = spark.read.parquet(tmpDir).count()
        require(dstRows == expected,
          s"pqTakedown: rebuild of $indexDir lost rows ($expected expected vs " +
            s"$dstRows staged) — not swapping")
        IndexOps.swapDirs(spark, indexDir, tmpDir)
        cb
      }
    failpoint(1)
    Export.deleteIdsFromExport(spark, exportDir, drop, idCol, checksumCols)
    rotated
  }

  /** [[pqProbe]] with `nCells`/`dims` read FROM the index's own stamp
    * (one tiny head() job) — PQ's member of the probeAuto family
    * ([[Similarity.ivfIndexProbeAuto]] / [[Similarity.lshIndexProbeAuto]]
    * / [[Dedup.minhashProbeAuto]]): the caller re-supplies NOTHING the
    * stamp already refuses mismatches on. The codebook is still handed
    * in (codewords are data the stamp only fingerprints — `pq_sub`/
    * `pq_k` shape and the `pq_cb` content hash are validated inside
    * [[pqProbe]] as always); `k`/`nProbe`/`maxCellRows` stay
    * caller-side probe-time knobs. An empty index — or the empty
    * codebook an empty corpus yields — returns the empty match set
    * with the contract schema. */
  def pqProbeAuto(probes: DataFrame, index: DataFrame, codebook: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int,
      maxCellRows: Option[Int] = None): DataFrame = {
    def empty: DataFrame = probes.select(col(idCol).as("query_id")).limit(0)
      .crossJoin(index.select(col(idCol).as("neighbor_id")).limit(0))
      .withColumn("pq_micro", lit(0L))
      .withColumn("rank", lit(0L))
    if (codebook.isEmpty) empty
    else IndexStamp.read(index, Seq("ix_cells", "ix_dims"),
        "pqProbeAuto") match {
      case Some(Seq(nCells, dims)) =>
        pqProbe(probes, index, codebook, idCol, vecCol, k, nProbe, nCells,
          dims, maxCellRows)
      case _ => empty
    }
  }
}
