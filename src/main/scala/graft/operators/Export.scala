package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StructField, StructType}

import graft.functions.Hashing

/** Sharded training-data export: the last stage of a curation pipeline,
  * where a cleaned corpus becomes the N fixed shards a training job
  * streams (SURVEY.md §2.0 extension rows; the reference stops at
  * single-file CSV sinks — `down/down_water_prep.py:545` writes one
  * `to_csv` — which does not survive a corpus that no single writer can
  * hold).
  *
  * Design for 100 TB:
  *
  *  - **Deterministic, engine-portable placement.** Shard and order are
  *    pure functions of the row's id via the portable
  *    [[graft.functions.Hashing.h60]] (md5-based): any engine — and the
  *    DuckDB oracle — can recompute which shard a document belongs to
  *    and in what position, with no reliance on Spark's task layout,
  *    sampling, or `xxhash64`. Re-running the export on the same corpus
  *    bit-reproduces every shard.
  *  - **The shuffle IS the shuffle.** Training wants shards that are
  *    unbiased samples of the whole corpus (no ingest-order/domain
  *    correlation within a shard), normally bought with a separate
  *    global-shuffle pass. Hash placement gives it for free: `shard`
  *    decorrelates across shards and `ord` (an independent hash)
  *    decorrelates within a shard, so the export's ONE exchange is also
  *    the training-data shuffle.
  *  - **Self-verifying.** The manifest carries per-shard row counts and
  *    order-independent checksums (the [[Quality.tableChecksum]]
  *    construction, grouped by shard), computed by RE-SCANNING what was
  *    written — it attests to the bytes on disk, not to the plan that
  *    produced them. [[verifyShards]] replays the scan and raises on any
  *    divergence (partial write, manual tampering, bit rot with parquet
  *    checksumming off).
  *  - **Atomic publish.** Data and manifest are staged under
  *    `<dir>.export.tmp` and swapped in with [[IndexOps.swapDirs]]
  *    (rename-based; pointer-flip on object stores) — a reader never
  *    observes a half-written export, and a crashed export leaves the
  *    previous generation live ([[IndexOps.recoverSwap]] semantics).
  *  - **Pruned consumption.** Shards are parquet partition directories
  *    (`shard=K`), so a trainer reading its slice
  *    ([[readShardSlice]]: `shard % nWorkers = worker`) scans only its
  *    own directories — partition pruning, not a full scan + filter.
  */
object Export {

  /** Data subdirectory inside a published export. */
  private[graft] def dataDir(dir: String): String = dir + "/data"

  /** Manifest subdirectory inside a published export. */
  private[graft] def manifestDir(dir: String): String = dir + "/manifest"

  /** Placement-kind stamp values (`_placement` sidecar): `hash` = the
    * portable `h60(id) % nShards` contract ([[shardAssign]]) every
    * consumer can recompute; `assigned` = a caller-computed layout
    * ([[balancedShards]]' weight cuts, or anything else) that only the
    * manifest attests. The stamp is the [[IndexStamp]] philosophy
    * applied to exports: an export is self-describing about WHICH
    * placement built it, so the append family can refuse to silently
    * mix two placement contracts in one directory. */
  private[graft] val PlacementHash = "hash"
  private[graft] val PlacementAssigned = "assigned"

  /** Portable shard assignment and within-shard order for `idCol`:
    * `shard = h60("shard:" || id) % nShards` (h60 is positive, so `%`
    * is a true mod on every engine), `ord = h60("ord:" || id)` — two
    * independent family members, so shard membership carries no
    * information about within-shard position. Pure projection: no
    * shuffle, no action. */
  def shardAssign(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    df.withColumn("shard",
        (Hashing.h60(concat(lit("shard:"), col(idCol).cast("string")))
          % nShards).cast("int"))
      .withColumn("ord",
        Hashing.h60(concat(lit("ord:"), col(idCol).cast("string"))))
  }

  /** DuckDB-SQL twin of [[shardAssign]]'s shard expression. */
  def shardSql(idExpr: String, nShards: Int): String =
    s"CAST(${Hashing.h60Sql(s"'shard:' || CAST($idExpr AS VARCHAR)")} % $nShards AS INT)"

  /** DuckDB-SQL twin of [[shardAssign]]'s order expression. */
  def ordSql(idExpr: String): String =
    Hashing.h60Sql(s"'ord:' || CAST($idExpr AS VARCHAR)")

  /** 2^60 — the exclusive upper bound of the h60 hash family, shared
    * with [[balancedShards]]' equi-width partitioner. */
  private val H60Bound: Long = 1L << 60

  /** The write-side exchange, with PARALLELISM DECOUPLED FROM THE SHARD
    * COUNT. Hash-repartitioning on `shard` alone caps the export at
    * nShards tasks — an 8-shard 100 TB export would funnel ~12.5 TB
    * through single tasks (and hash collisions can idle even some of
    * those). `repartitionByRange(shard, ord)` would restore parallelism
    * but pays a boundary-sampling job over the INPUT PLAN — for an
    * initial export that can mean re-running the whole upstream
    * curation pipeline once just to pick split points. Instead this
    * reuses [[balancedShards]]' sampling-free range split: `ord` = h60
    * is uniform on [0, 2^60), so an equi-width bucket of `ord` is a
    * deterministic, already-balanced range partitioning computed as a
    * pure projection. Hash-repartitioning on `(shard, ordBucket)`
    * spreads each shard over ~`numTasks/nShards` buckets while
    * `partitionBy("shard")` still routes every row to its shard
    * directory — ONE exchange, `numTasks`-wide, no sampling pass.
    *
    * Each task writes one ord-sorted file per shard it holds;
    * multi-file shards are first-class by construction (the manifest
    * checksum is order-independent, [[readShardOrdered]] sorts its
    * pruned slice). With `numTasks <= nShards` the bucket degenerates
    * to a constant and this is exactly the old shard-hash layout. */
  private[graft] def writeLayout(assigned: DataFrame, nShards: Int,
      numTasks: Int): DataFrame = {
    val tasks = math.max(nShards, numTasks)
    val bucketsPerShard = math.max(1L, (tasks.toLong + nShards - 1) / nShards)
    val bucketWidth = (H60Bound + bucketsPerShard - 1) / bucketsPerShard
    assigned
      .repartition(tasks, col("shard"), expr(s"ord div ${bucketWidth}L"))
      .sortWithinPartitions(col("shard"), col("ord"))
  }

  /** Write parallelism for an assigned frame: at least one task per
    * shard, and at least the input's own width — the corpus' scan
    * parallelism (≈ bytes / maxPartitionBytes) is the scale signal
    * that needs no extra job to read. */
  private[graft] def writeTasks(assigned: DataFrame, nShards: Int): Int =
    math.max(nShards, inputWidth(assigned))

  /** The input's own partition width, probed WITHOUT executing it.
    * `.rdd.getNumPartitions` is pure planning only on scan-shaped
    * plans; on a plan containing a shuffle (balancedShards' prefix-sum
    * window, any join), AQE materializes the upstream query stages for
    * `.rdd` and the write afterwards does NOT reuse them (separate
    * QueryExecution) — q91/q96 paid the whole two-pass prefix sum
    * TWICE this way (r19; the Spread advisor finding, same class). So:
    * an explicit repartition answers from the plan, any other
    * shuffle-bearing operator answers the session's shuffle
    * parallelism (what its output width is at planning time), and only
    * scan-shaped plans fall through to the `.rdd` probe. */
  private def inputWidth(df: DataFrame): Int = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan, Project, Repartition, RepartitionByExpression}
    val shufflePartitions = df.sparkSession.sessionState.conf.numShufflePartitions
    def width(p: LogicalPlan): Option[Int] = p match {
      case r: Repartition => Some(r.numPartitions)
      case r: RepartitionByExpression =>
        Some(r.optNumPartitions.getOrElse(shufflePartitions))
      case _: Project | _: Filter => width(p.children.head)
      case _: LeafNode => None
      case _ => Some(shufflePartitions) // joins/aggregates/windows/…
    }
    width(df.queryExecution.optimizedPlan)
      .getOrElse(df.rdd.getNumPartitions) // scan-shaped: planning only
  }

  /** 2^61 — the checksum modulus shared with [[Quality.tableChecksum]]. */
  private val ChecksumMod: Long = 1L << 61

  /** One manifest row: a shard's row count, the range of its portable
    * order key (None for an empty shard) and the order-independent
    * checksum of its rows, mod 2^61. A manifest is small — nShards rows
    * — so it is folded, compared and counted on the driver, never with
    * a Spark job. */
  private[graft] final case class ShardStat(shard: Int, nRows: Long,
      minOrd: Option[Long], maxOrd: Option[Long], checksum: Long) {
    def toRow: Row = Row(shard, nRows, minOrd.map(Long.box).orNull,
      maxOrd.map(Long.box).orNull, checksum)
  }

  /** The manifest's columns: every manifest writer writes exactly these,
    * and [[readManifest]] refuses a manifest whose files hold others. */
  private[graft] val ManifestSchema: StructType = StructType(Seq(
    StructField("shard", IntegerType), StructField("n_rows", LongType),
    StructField("min_ord", LongType), StructField("max_ord", LongType),
    StructField("checksum", LongType)))

  /** Per-shard manifest of an assigned frame: row count, min/max of the
    * portable order key, and the order-independent checksum of
    * `checksumCols` (the [[Quality.tableChecksum]] construction, grouped
    * by shard) — ONE scan job: each task folds its rows into per-shard
    * partials and the driver folds the partials (at most one per shard
    * per task). DENSE over 0..nShards-1 (an empty shard is an explicit
    * zero row, not an absence): the manifest's row count IS the
    * export's shard count, which [[appendShards]] relies on. Rows whose
    * shard is null or outside 0..nShards-1 are not counted. */
  private[graft] def shardStats(assigned: DataFrame, checksumCols: Seq[String],
      nShards: Int): IndexedSeq[ShardStat] = {
    val rows = assigned.select(col("shard").cast("int"), col("ord").cast("long"),
      Hashing.h60(Quality.rowEncoding(checksumCols)))
    val partials = rows.queryExecution.toRdd.mapPartitions { it =>
      val acc = scala.collection.mutable.HashMap.empty[Int, ShardStat]
      it.foreach { r =>
        if (!r.isNullAt(0)) {
          val k = r.getInt(0)
          val ord = if (r.isNullAt(1)) None else Some(r.getLong(1))
          val one = ShardStat(k, 1L, ord, ord,
            if (r.isNullAt(2)) 0L else r.getLong(2) % ChecksumMod)
          acc(k) = acc.get(k).fold(one)(foldStat(_, one))
        }
      }
      acc.valuesIterator
    }.collect()
    val byShard = partials.groupMapReduce(_.shard)(identity)(foldStat)
    (0 until nShards).map(k => byShard.getOrElse(k, ShardStat(k, 0L, None, None, 0L)))
  }

  /** One shard's two partial stats folded: counts add, ord ranges
    * widen, checksums add mod 2^61 (both below 2^61, so the sum fits a
    * long). */
  private def foldStat(a: ShardStat, b: ShardStat): ShardStat = {
    def pick(x: Option[Long], y: Option[Long], f: (Long, Long) => Long) =
      (x ++ y).reduceOption(f)
    ShardStat(a.shard, a.nRows + b.nRows, pick(a.minOrd, b.minOrd, math.min),
      pick(a.maxOrd, b.maxOrd, math.max), (a.checksum + b.checksum) % ChecksumMod)
  }

  /** Per-shard merge of a published manifest with a batch's delta (or of
    * several source manifests) — counts add, ord ranges fold, checksums
    * add mod 2^61; a shard on one side only keeps its row. O(nShards),
    * on the driver. Sorted by shard. */
  private[graft] def mergeStats(old: Seq[ShardStat],
      delta: Seq[ShardStat]): IndexedSeq[ShardStat] =
    (old ++ delta).groupMapReduce(_.shard)(identity)(foldStat)
      .values.toIndexedSeq.sortBy(_.shard)

  /** A manifest as a DataFrame (a local relation — no file, no job to
    * plan it). */
  private[graft] def manifestFrame(spark: SparkSession,
      stats: Seq[ShardStat]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(stats.map(_.toRow).asJava, ManifestSchema)
  }

  /** Write a manifest as one parquet file under `path`. */
  private def writeManifest(spark: SparkSession, path: String,
      stats: Seq[ShardStat]): Unit =
    manifestFrame(spark, stats).coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(path)

  /** The manifest rows stored under `path`, read on the driver (a
    * manifest is nShards rows; reading it through Spark would cost a
    * schema-inference job plus a scan job per read), sorted by shard.
    * Every data file must hold exactly [[ManifestSchema]]'s columns
    * (by name and physical type; nullability is not checked) — a
    * manifest missing a column must not read back as nulls. */
  private[graft] def readManifestAt(spark: SparkSession,
      path: String): IndexedSeq[ShardStat] = {
    import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.ColumnIOFactory
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root))
      throw new java.io.FileNotFoundException(s"no manifest at $path")
    val want = ManifestSchema.fields.map(f =>
      f.name -> (if (f.dataType == IntegerType) "INT32" else "INT64")).toMap
    def show(cols: Map[String, String]) =
      cols.toSeq.sorted.map { case (k, v) => s"$k: $v" }.mkString("[", ", ", "]")
    val files = fs.listStatus(root).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    files.toIndexedSeq.flatMap { st =>
      val in = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try {
        val schema = in.getFooter.getFileMetaData.getSchema
        val got = schema.getFields.asScala.map(t =>
          t.getName -> (if (t.isPrimitive) t.asPrimitiveType.getPrimitiveTypeName.name
                        else "GROUP")).toMap
        if (got != want)
          throw new IllegalStateException(s"manifest file ${st.getPath} holds " +
            s"columns ${show(got)}, expected ${show(want)}")
        val io = new ColumnIOFactory().getColumnIO(schema)
        val out = IndexedSeq.newBuilder[ShardStat]
        var pages = in.readNextRowGroup()
        while (pages != null) {
          val rr = io.getRecordReader(pages, new GroupRecordConverter(schema))
          var i = 0L
          while (i < pages.getRowCount) {
            val g = rr.read()
            def opt(c: String): Option[Long] =
              if (g.getFieldRepetitionCount(c) == 0) None
              else Some(if (c == "shard") g.getInteger(c, 0).toLong else g.getLong(c, 0))
            def must(c: String): Long = opt(c).getOrElse(throw new IllegalStateException(
              s"manifest file ${st.getPath} holds a null $c"))
            out += ShardStat(must("shard").toInt, must("n_rows"), opt("min_ord"),
              opt("max_ord"), must("checksum"))
            i += 1
          }
          pages = in.readNextRowGroup()
        }
        out.result()
      } finally in.close()
    }.sortBy(_.shard)
  }

  /** The published manifest's rows, sorted by shard — the read-once
    * form for driver-side bookkeeping (shard count, row totals, folds). */
  private[graft] def manifestRows(spark: SparkSession,
      dir: String): IndexedSeq[ShardStat] =
    readManifestAt(spark, manifestDir(dir))

  /** Export `df` as `nShards` parquet shard directories under
    * `dir/data/shard=K`, every file internally sorted by the portable
    * order key, plus a per-shard manifest under `dir/manifest`; returns
    * the manifest. ONE exchange over the corpus, as wide as the input's
    * own parallelism — NOT capped at nShards tasks ([[writeLayout]]:
    * the sampling-free equi-width ord split spreads each shard over
    * multiple ord-sorted files) — then one re-scan of the written bytes
    * for the manifest. Columns `shard`/`ord` are materialized in the
    * output — `ord` so consumers can merge or resume deterministically,
    * `shard` as the partition directory.
    *
    * Staged under `<dir>.export.tmp` and swapped in atomically; the
    * previous export (if any) stays live until the swap and is the
    * rollback target if the writer crashes mid-swap. */
  def shardedWrite(spark: SparkSession, df: DataFrame, idCol: String,
      checksumCols: Seq[String], nShards: Int, dir: String): DataFrame =
    shardedWriteAssigned(spark, shardAssign(df, idCol, nShards),
      checksumCols, nShards, dir, PlacementHash)

  /** [[shardedWrite]] for a frame that ALREADY carries `shard`/`ord`
    * columns — the layout half of the export, decoupled from hash
    * placement so [[balancedShards]]' equal-weight assignment (or any
    * caller-computed placement) lands in the same manifested,
    * partition-pruned, atomically-published layout. The manifest
    * machinery is placement-agnostic: counts, ord ranges and checksums
    * attest to the written bytes whatever put each row in its shard.
    *
    * The published export is stamped `placement=assigned` (a
    * `_placement` manifest sidecar): the hash-append family
    * ([[appendShards]], [[reshardExport]]) refuses it, because
    * hash-placing new rows into a caller-assigned
    * layout would silently mix two placement contracts in one
    * directory — re-balance with [[rebalanceExport]] instead.
    * ([[shardedWrite]] stamps `hash` through the private `placement`
    * parameter; it is the ONLY caller that may, because it just
    * computed that placement.) */
  def shardedWriteAssigned(spark: SparkSession, assigned: DataFrame,
      checksumCols: Seq[String], nShards: Int, dir: String): DataFrame =
    shardedWriteAssigned(spark, assigned, checksumCols, nShards, dir,
      PlacementAssigned)

  private[graft] def shardedWriteAssigned(spark: SparkSession, assigned: DataFrame,
      checksumCols: Seq[String], nShards: Int, dir: String,
      placement: String): DataFrame = {
    require(checksumCols.nonEmpty, "shardedWrite needs checksum columns")
    require(assigned.columns.contains("shard") && assigned.columns.contains("ord"),
      "shardedWriteAssigned needs shard and ord columns (shardAssign/balancedShards)")
    // finish or roll back a TOP-LEVEL dir swap a previous publish
    // crashed inside: without this, dir is missing with dir.old
    // surviving, and a re-run that READS dir first (reshardExport) or
    // that publishes by plain rename would orphan the old generation
    IndexOps.recoverSwap(spark, dir)
    val tmp = dir + ".export.tmp"
    val (fs, livePath) = fsPath(spark, dir)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)

    writeLayout(assigned, nShards, writeTasks(assigned, nShards))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("shard")
      .parquet(dataDir(tmp))

    // manifest from the WRITTEN bytes, not the input plan: it must
    // attest to what a consumer will read. A ZERO-ROW export writes no
    // parquet files (partitioned writers skip empty partitions), so the
    // re-read falls back to the assigned schema over nothing — and the
    // schema rides a `_schema` sidecar in the manifest dir so the
    // export stays self-describing (readShards works) while empty.
    val written = readData(spark, dataDir(tmp), Some(assigned.schema))
    writeManifest(spark, manifestDir(tmp), shardStats(written, checksumCols, nShards))
    writeSchemaSidecar(spark, manifestDir(tmp), assigned.schema)
    writePlacementSidecar(spark, manifestDir(tmp), placement)

    if (fs.exists(livePath)) IndexOps.swapDirs(spark, dir, tmp)
    else {
      require(fs.rename(new org.apache.hadoop.fs.Path(tmp), livePath),
        s"shardedWrite: rename $tmp -> $dir failed")
      spark.catalog.refreshByPath(dir)
    }
    readManifest(spark, dir)
  }

  /** The published manifest: one row per shard, in [[ManifestSchema]],
    * sorted by shard. A snapshot taken at the call (the manifest is read
    * on the driver, see [[readManifestAt]]), so a later manifest advance
    * does not change a frame already returned. */
  def readManifest(spark: SparkSession, dir: String): DataFrame =
    manifestFrame(spark, manifestRows(spark, dir))

  /** The published shard data (all shards). Read under the `_schema`
    * sidecar (the export's authoritative shape) when one exists, not
    * footer inference: a zero-row export has no files to infer from,
    * and after [[evolveExportSchema]] the generations differ — files
    * written before an ADDITIVE evolution lack the new columns, and
    * parquet's by-name resolution fills them with nulls only when the
    * read schema says they exist. Pre-sidecar exports fall back to
    * inference, exactly as before sidecars existed. */
  def readShards(spark: SparkSession, dir: String): DataFrame =
    readSchemaSidecar(spark, dir) match {
      case Some(s) => spark.read.schema(s).parquet(dataDir(dir))
      case None => readData(spark, dataDir(dir), None)
    }

  /** Parquet read under a KNOWN schema when the caller has one (the
    * attestation re-scans: the staged files were just written from a
    * frame of exactly that shape, so footer inference is a redundant
    * driver-side listing+read per publish — r19, guide §6 — and the
    * schema-supplied read is also what makes a zero-file staging read
    * as empty instead of failing inference). No schema → infer. */
  private def readData(spark: SparkSession, dataDir: String,
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame =
    schema match {
      case Some(s) => spark.read.schema(s).parquet(dataDir)
      case None => spark.read.parquet(dataDir)
    }

  /** Loud schema-drift gate for the append family: an appended batch
    * whose columns or types differ from the published export would
    * poison the store silently — parquet happily appends mismatched
    * files and every later by-name read returns nulls or fails far
    * from the cause. Compared against the `_schema` sidecar (written at
    * publish, the export's authoritative shape) as an order-insensitive
    * (name, type) set — nullability and column order are NOT drift
    * (parquet reconciles by name; nullability varies by construction).
    * A pre-sidecar export (no `_schema`) skips the gate. */
  private[graft] def requireSchemaMatch(spark: SparkSession, dir: String,
      incoming: org.apache.spark.sql.types.StructType, what: String): Unit =
    readSchemaSidecar(spark, dir).foreach { published =>
      def shape(s: org.apache.spark.sql.types.StructType) =
        s.fields.map(f => (f.name, f.dataType.sql)).sortBy(_._1).toSeq
      val (want, got) = (shape(published), shape(incoming))
      if (want != got) {
        val missing = want.diff(got).map { case (n, t) => s"$n: $t" }
        val extra = got.diff(want).map { case (n, t) => s"$n: $t" }
        throw new IllegalArgumentException(
          s"$what: batch schema drifts from the published export at $dir — " +
            s"expected-but-absent [${missing.mkString(", ")}], " +
            s"unexpected [${extra.mkString(", ")}]. Align the batch's columns " +
            "(or republish with shardedWrite) instead of appending drift.")
      }
    }

  /** Sanctioned ADDITIVE schema evolution for a published export — the
    * one planned migration the schema-drift gate must not block. The
    * gate ([[requireSchemaMatch]]) refuses ANY (name, type)-set change,
    * which is the right default (accidental drift poisons every later
    * by-name read); but a real training pipeline eventually adds a
    * column (a new quality score, a provenance tag), and without a
    * sanctioned path the only escape is a full corpus re-export. This
    * is that path, for the safe subset only:
    *
    *  - NEW columns only — existing columns cannot change type, be
    *    dropped, or be renamed (those genuinely need a re-export: the
    *    bytes on disk are wrong for the new shape);
    *  - every added column must be NULLABLE — files written before the
    *    evolution lack it, and [[readShards]]' sidecar-schema read
    *    resolves the absence to null, which must be a legal value.
    *
    * Mechanically it is one `_schema` sidecar update riding the same
    * crash-safe manifest swap as every manifest advance
    * ([[publishManifest]] with a schema override; `_placement` is
    * carried). After it: old files read
    * with nulls in the new columns, the gate requires appended batches
    * to CARRY the new columns, and [[verifyShards]] stays green across
    * the boundary (manifest checksums are over `checksumCols`, which
    * predate the evolution). Returns the evolved schema. */
  def evolveExportSchema(spark: SparkSession, dir: String,
      addCols: Seq[org.apache.spark.sql.types.StructField]):
      org.apache.spark.sql.types.StructType = {
    require(addCols.nonEmpty, "evolveExportSchema: no columns to add")
    recoverDelete(spark, dir)
    val old = readSchemaSidecar(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"evolveExportSchema: no _schema sidecar at $dir — repairManifest " +
          "first (it rebuilds the sidecar from the data)"))
    val existing = old.fields.map(_.name.toLowerCase).toSet
    addCols.foreach { f =>
      require(f.nullable,
        s"evolveExportSchema: added column ${f.name} must be nullable — " +
          "files written before the evolution have no value for it")
      require(!existing.contains(f.name.toLowerCase),
        s"evolveExportSchema: column ${f.name} already exists in the " +
          "published schema — only NEW columns can be added; changing an " +
          "existing column needs a re-export (shardedWrite)")
    }
    val evolved = org.apache.spark.sql.types.StructType(old.fields ++ addCols)
    // same manifest rows, new _schema
    publishManifest(spark, dir, readManifest(spark, dir),
      schemaOverride = Some(evolved))
    evolved
  }

  /** The DESTRUCTIVE half of the schema-migration matrix
    * ([[evolveExportSchema]] is the additive half): drop columns from a
    * published export. Necessarily a full corpus rewrite — the bytes on
    * disk carry the column, so no sidecar trick can un-publish it the
    * way an ADDED column's absence reads as null. The rewrite preserves
    * the placement exactly: the existing `shard`/`ord` columns are
    * REUSED (no re-hash, no re-balance — no row moves between shards),
    * so the layout, the placement stamp and every consumer contract
    * survive; only the dropped columns vanish, from the files and from
    * the `_schema` sidecar alike. Rides [[shardedWriteAssigned]]'s
    * staged swap (old generation live until the new one is complete).
    * `checksumCols` is the NEW manifest's checksum basis and must not
    * name a dropped column. Returns the new manifest. */
  def dropColumnsFromExport(spark: SparkSession, dir: String,
      dropCols: Seq[String], checksumCols: Seq[String]): DataFrame = {
    require(dropCols.nonEmpty, "dropColumnsFromExport: no columns to drop")
    val lower = dropCols.map(_.toLowerCase)
    require(!lower.contains("shard") && !lower.contains("ord"),
      "dropColumnsFromExport: shard/ord are the layout, not payload columns")
    require(checksumCols.map(_.toLowerCase).intersect(lower).isEmpty,
      "dropColumnsFromExport: checksumCols must not name a dropped column")
    IndexOps.recoverSwap(spark, dir)
    recoverDelete(spark, dir)
    val n = manifestRows(spark, dir).size
    require(n > 0, s"dropColumnsFromExport: no manifest at $dir")
    val all = readShards(spark, dir)
    val have = all.columns.map(_.toLowerCase).toSet
    val absent = dropCols.filterNot(c => have.contains(c.toLowerCase))
    require(absent.isEmpty,
      s"dropColumnsFromExport: columns [${absent.mkString(", ")}] do not " +
        s"exist in the published schema at $dir")
    val placement = readPlacement(spark, dir).getOrElse(PlacementHash)
    // lazy read over the same dir is safe: shardedWriteAssigned stages
    // the whole new generation before the swap (the reshard pattern)
    shardedWriteAssigned(spark, all.drop(dropCols: _*), checksumCols, n,
      dir, placement)
  }

  /** Slurp a small control file (`_schema`, `_merged_into`)
    * to a string; None when absent. */
  private def readSmallFile(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[String] = {
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](4096)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        Some(new String(buf.toByteArray, "UTF-8"))
      } finally in.close()
    }
  }

  private def schemaPath(manifestDir: String) =
    new org.apache.hadoop.fs.Path(manifestDir, "_schema")

  private[graft] def writeSchemaSidecar(spark: SparkSession,
      manifestDir: String, schema: org.apache.spark.sql.types.StructType): Unit = {
    val p = schemaPath(manifestDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write(schema.json.getBytes("UTF-8")); out.close()
  }

  private def readSchemaSidecar(spark: SparkSession,
      dir: String): Option[org.apache.spark.sql.types.StructType] = {
    val p = schemaPath(manifestDir(dir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readSmallFile(fs, p).map(j => org.apache.spark.sql.types.DataType
      .fromJson(j).asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  private def placementPath(manifestDir: String) =
    new org.apache.hadoop.fs.Path(manifestDir, "_placement")

  private[graft] def writePlacementSidecar(spark: SparkSession,
      manifestDir: String, kind: String): Unit = {
    require(kind == PlacementHash || kind == PlacementAssigned,
      s"unknown placement kind $kind")
    val p = placementPath(manifestDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write(kind.getBytes("UTF-8")); out.close()
  }

  /** The placement kind a published export is stamped with; None for a
    * pre-stamp export (anything published before the stamp existed,
    * or whose manifest dir was lost and rebuilt by [[repairManifest]],
    * which cannot re-derive the kind without the id column). */
  private[graft] def readPlacement(spark: SparkSession,
      dir: String): Option[String] = {
    val p = placementPath(manifestDir(dir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readSmallFile(fs, p).map(_.trim)
  }

  /** Refuse hash-placement operations against an export stamped
    * `assigned`: [[appendShards]] and [[reshardExport]] both
    * RECOMPUTE `h60(id) % nShards`, which is simply
    * not where an assigned layout put (or would put) its rows — one
    * such append and the directory holds two placement contracts,
    * token balance erodes unobserved, and any consumer recomputing a
    * row's shard from its id is wrong for the assigned rows
    * ([[verifyShards]] stays green throughout — it attests bytes, not
    * contracts). An UNSTAMPED export (pre-stamp generations) is
    * treated as hash — the only placement those entry points ever
    * wrote. */
  private[graft] def requireHashPlacement(spark: SparkSession, dir: String,
      what: String): Unit =
    readPlacement(spark, dir).foreach { kind =>
      if (kind != PlacementHash)
        throw new IllegalArgumentException(
          s"$what: export at $dir is stamped placement=$kind — hash-placed " +
            "rows would silently mix placement contracts in one directory. " +
            "Re-balance it with rebalanceExport (assigned layouts), or " +
            "republish from scratch with shardedWrite (hash layout).")
    }

  /** Resume-position read: shard `shard`'s rows STRICTLY AFTER the
    * portable order key `ordExclusive`, in order — the trainer-restart
    * contract ("I consumed through ord X; give me the rest"). The
    * scan prunes twice: the `shard` predicate prunes to the shard's
    * partition directory, and because every data file is internally
    * ord-SORTED ([[writeLayout]]'s per-task sort), the `ord`
    * predicate's parquet min/max stats skip every ROW GROUP wholly
    * below the resume point — a restart near the end of a shard
    * decodes almost nothing. File-level stats pruning is
    * opportunistic, not guaranteed: [[writeLayout]] HASH-partitions on
    * `(shard, ordBucket)`, so non-adjacent ord buckets can land in one
    * task and that task's file spans their combined ord range — a
    * guarantee would need a range partitioning whose sampling pass
    * re-runs the upstream plan, and the row-group pruning already
    * bounds what a resume decodes. `ord` is a pure function of the row
    * id, so a consumer can checkpoint nothing but the last id it
    * processed and recompute its resume key with [[ordSql]] /
    * [[shardAssign]]'s expression on ANY engine. */
  def readShardFrom(spark: SparkSession, dir: String, shard: Int,
      ordExclusive: Long): DataFrame =
    readShards(spark, dir)
      .filter(col("shard") === shard && col("ord") > ordExclusive)
      .orderBy("ord")

  /** Worker `worker`-of-`nWorkers`'s slice: shards where
    * `shard % nWorkers = worker`. The predicate is on the partition
    * column, so the scan prunes to this worker's directories — each
    * trainer reads 1/nWorkers of the files, not a filtered full scan. */
  def readShardSlice(spark: SparkSession, dir: String,
      worker: Int, nWorkers: Int): DataFrame = {
    require(nWorkers > 0 && worker >= 0 && worker < nWorkers,
      s"worker must be in [0, $nWorkers), got $worker")
    readShards(spark, dir).filter(col("shard") % nWorkers === worker)
  }

  /** Re-scan a published export and compare per-shard stats against its
    * manifest; RAISES on any divergence, listing the offending shards.
    * Returns the nShards-row comparison frame (one bounded driver
    * materialization of nShards rows — the same bound as the manifest
    * itself). The check is one aggregation scan of the export — the
    * cost of reading it once, which is what makes it runnable as a
    * routine post-publish gate. */
  def verifyShards(spark: SparkSession, dir: String,
      checksumCols: Seq[String]): DataFrame = {
    val expected = manifestRows(spark, dir)
    val actual = shardStats(readShards(spark, dir), checksumCols, expected.size)
    val bad = divergentShards(actual, expected)
    if (bad.nonEmpty)
      throw new IllegalStateException(
        s"export at $dir diverges from its manifest in shards ${bad.mkString(", ")}")
    manifestCompare(spark, actual, expected)
  }

  /** Tier-0 attestation: per-shard ROW COUNTS against the manifest,
    * with no data column decoded — the count scan projects nothing but
    * the `shard` partition value, so parquet answers it from file
    * metadata (row counts in the footers). That is exactly the right
    * cost for the failure class every crash window here can leave
    * behind: files LOST or DUPLICATED between a data move and a
    * manifest advance all change a shard's row count. What it cannot
    * see is a same-count content change (bit rot, a rewritten value) —
    * that is [[verifyShards]]' checksum, at full-scan cost. Returns the
    * per-shard compare; raises naming the diverging shards. */
  def verifyShardCounts(spark: SparkSession, dir: String): DataFrame = {
    val rows = manifestRows(spark, dir)
    val expected = manifestFrame(spark, rows)
    val nShards = rows.size
    val counted = readShards(spark, dir).groupBy("shard")
      .agg(count(lit(1)).as("n_rows"))
    val dense = spark.range(nShards)
      .select(col("id").cast("int").as("shard"))
      .join(counted, Seq("shard"), "left_outer")
      .select(col("shard"), coalesce(col("n_rows"), lit(0L)).as("n_rows"))
    val cmp = dense.join(
        expected.select(col("shard"), col("n_rows").as("m_rows")),
        Seq("shard"), "full_outer")
      .withColumn("ok", col("n_rows") <=> col("m_rows"))
    val bad = cmp.filter(!col("ok")).select("shard").collect().map(_.get(0))
    if (bad.nonEmpty)
      throw new IllegalStateException(
        s"export at $dir diverges from its manifest ROW COUNTS in shards " +
          s"${bad.mkString(", ")}")
    cmp
  }

  /** [[verifyShards]] restricted to a shard SUBSET — the rotation unit
    * for an export too large to re-attest whole: the scan partition-
    * prunes to the listed `shard=K` directories, so one check costs
    * O(those shards), and a schedule that rotates the subset attests
    * every byte of the export once per nShards/k checks without any
    * single check scanning
    * the corpus. Shards outside the subset are simply not checked this
    * call — the caller owns the rotation's coverage. Raises on
    * divergence within the subset; returns the subset compare. */
  def verifyShardSubset(spark: SparkSession, dir: String,
      checksumCols: Seq[String], shards: Seq[Int]): DataFrame = {
    require(shards.nonEmpty, "verifyShardSubset: empty shard subset")
    val live = manifestRows(spark, dir)
    val nShards = live.size
    require(shards.forall(s => s >= 0 && s < nShards),
      s"verifyShardSubset: shards ${shards.filterNot(s => s >= 0 && s < nShards)
        .mkString(", ")} outside 0..${nShards - 1}")
    val keep = shards.toSet
    val actual = shardStats(
      readShards(spark, dir).filter(col("shard").isin(shards.map(Int.box): _*)),
      checksumCols, nShards).filter(s => keep(s.shard))
    val expected = live.filter(s => keep(s.shard))
    val bad = divergentShards(actual, expected)
    if (bad.nonEmpty)
      throw new IllegalStateException(
        s"export at $dir diverges from its manifest in shards ${bad.mkString(", ")}")
    manifestCompare(spark, actual, expected)
  }

  /** Per-shard comparison of a recomputed manifest against a published
    * one: `ok` is equality of count, ord range and checksum (a shard on
    * one side only is not ok). The construction [[verifyShards]] uses
    * post-publish and [[compactExport]] uses PRE-swap. */
  private def manifestCompare(spark: SparkSession, actual: Seq[ShardStat],
      expected: Seq[ShardStat]): DataFrame = {
    val (a, e) = (actual.map(s => s.shard -> s).toMap, expected.map(s => s.shard -> s).toMap)
    val rows = (a.keySet ++ e.keySet).toSeq.sorted.map { k =>
      def side(m: Map[Int, ShardStat]): Seq[Any] = m.get(k).fold(Seq[Any](null, null, null, null))(s =>
        Seq(s.nRows, s.minOrd.map(Long.box).orNull, s.maxOrd.map(Long.box).orNull, s.checksum))
      Row.fromSeq(k +: (side(a) ++ side(e) :+ (a.get(k) == e.get(k))))
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, StructType(
      ManifestSchema.fields ++ Seq("m_rows", "m_min", "m_max", "m_sum")
        .map(StructField(_, LongType)) :+ StructField("ok", BooleanType)))
  }

  /** The shards whose recomputed stats differ from the published ones. */
  private def divergentShards(actual: Seq[ShardStat],
      expected: Seq[ShardStat]): Seq[Int] = {
    val (a, e) = (actual.map(s => s.shard -> s).toMap, expected.map(s => s.shard -> s).toMap)
    (a.keySet ++ e.keySet).toSeq.sorted.filter(k => a.get(k) != e.get(k))
  }

  /** One shard, in its deterministic global order — after appends a
    * shard's rows are ord-sorted only WITHIN each generation's files,
    * so a consumer that needs the portable order sorts the (one-shard)
    * slice; the scan prunes to the shard's directory first. */
  def readShardOrdered(spark: SparkSession, dir: String, shard: Int): DataFrame =
    readShards(spark, dir).filter(col("shard") === shard).orderBy("ord")

  /** Rewrite an append-grown export into ~one ord-sorted file per
    * `targetRowsPerFile` rows and swap it in — the export twin of
    * [[IndexOps.compactSwap]], closing the same small-files growth
    * repeated [[appendShards]] calls accumulate (one file per shard per
    * batch). The
    * compacted copy is proven CONTENT-IDENTICAL BEFORE the swap: the
    * per-shard manifest of the rewritten bytes is recomputed and
    * compared against the live manifest — compaction must be invisible
    * to the manifest by construction (the checksum is order-
    * independent), so a lossy or corrupted rewrite raises while the
    * good copy is still live and no reader has seen the bad one. A
    * zero-row export short-circuits (nothing to compact — the
    * empty-safe contract of the rest of the family). Crash-safe like
    * every swap here: the tmp copy is disposable until the swap
    * starts, `.old` is authoritative until it completes
    * ([[IndexOps.recoverSwap]] at [[appendShards]]' entry). Returns
    * the row count. */
  def compactExport(spark: SparkSession, dir: String,
      checksumCols: Seq[String],
      targetRowsPerFile: Long = 4L * 1000 * 1000): Long = {
    require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
    recoverDelete(spark, dir)
    val tmp = dataDir(dir) + ".compact.tmp"
    val (fs, _) = fsPath(spark, dir)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    val live = manifestRows(spark, dir)
    val nShards = live.size
    val src = readShards(spark, dir)
    // row total from the manifest (O(nShards)), NOT a corpus count —
    // the manifest is already this function's trusted compare baseline,
    // and a count here would be a third full scan of the export
    val rows = live.map(_.nRows).sum
    if (rows == 0L) return 0L
    val numFiles = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    src.repartitionByRange(numFiles, col("shard"), col("ord"))
      .sortWithinPartitions("shard", "ord")
      .write.mode(SaveMode.Overwrite).partitionBy("shard").parquet(tmp)
    // PRE-swap verification: recompute the manifest over the staged
    // rewrite and require it to match the live manifest exactly —
    // only then does the swap replace the good copy
    val staged = shardStats(readData(spark, tmp, Some(src.schema)),
      checksumCols, nShards)
    val bad = divergentShards(staged, live)
    if (bad.nonEmpty) {
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      throw new IllegalStateException(
        s"compactExport: rewrite of $dir diverges from the live manifest in shards ${bad.mkString(", ")} — not swapping")
    }
    IndexOps.swapDirs(spark, dataDir(dir), tmp)
    rows
  }

  // ---------------------------------------------------- incremental append

  /** Append a batch to a published export WITHOUT rewriting it: hash
    * placement is a pure function of id, so new rows land in their
    * shard directories as NEW files (parquet append — old files are
    * never touched), and the manifest advances by an O(nShards) MERGE —
    * counts and min/max fold, and the checksum is a commutative sum mod
    * 2^61, so `merged = (old + delta) mod 2^61` without re-reading a
    * byte of old data. At 100 TB that is the difference between a daily
    * append costing O(batch) and costing O(corpus).
    *
    * The caller owns id-uniqueness across generations (compose with the
    * id-screen of the ingest family if the feed can replay); duplicate
    * ids would be double-counted like any append store.
    *
    * Crash window: the data append commits before the manifest swap, so
    * a crash between them leaves data AHEAD of the manifest — loud
    * (verifyShards raises) and repairable ([[repairManifest]] rebuilds
    * from the data, which is the source of truth). The manifest swap
    * itself is a tmp-write + [[IndexOps.swapDirs]], so readers never see
    * a torn manifest. Returns the merged manifest. */
  def appendShards(spark: SparkSession, df: DataFrame, idCol: String,
      checksumCols: Seq[String], dir: String): DataFrame = {
    // a crash inside a previous append's manifest swap (or a
    // compactExport run) leaves a live dir renamed away; finish or
    // roll back BEFORE the first read
    recoverDelete(spark, dir)
    requireHashPlacement(spark, dir, "appendShards")
    val old = manifestRows(spark, dir)
    val nShards = old.size
    require(nShards > 0, s"appendShards: no manifest at $dir")
    val assigned = shardAssign(df, idCol, nShards)
    requireSchemaMatch(spark, dir, assigned.schema, "appendShards")
    writeLayout(assigned, nShards, writeTasks(assigned, nShards))
      .write.mode(SaveMode.Append)
      .partitionBy("shard")
      .parquet(dataDir(dir))
    // delta manifest from the batch ALONE (the append's cost contract),
    // merged with the old manifest per shard
    val merged = mergeStats(old, shardStats(assigned, checksumCols, nShards))
    publishManifest(spark, dir, manifestFrame(spark, merged))
    readManifest(spark, dir)
  }

  /** Rebuild the manifest from the shard data (the source of truth) —
    * the recovery action for a crash between [[appendShards]]' data
    * append and manifest swap, or for a manifest lost to operator
    * error. Recovers an interrupted swap first, and when the manifest
    * itself is gone (the "lost to operator error" case) infers the
    * shard count from the `shard=K` partition directories instead of
    * reading the manifest it is trying to rebuild. One aggregation
    * scan of the export.
    *
    * Data-derived inference CANNOT see trailing all-empty shards (they
    * leave no directory): a repaired manifest would then attest a
    * smaller nShards, and the next [[appendShards]] would place rows
    * with a DIFFERENT modulus than the existing rows — silently
    * breaking the portable `h60(id) % nShards` contract. When the
    * manifest is lost, pass the export's true shard count as the
    * explicit `nShards` (preferred over inference; refused if it is
    * smaller than what the data proves); leaving it 0 falls back to
    * inference and warns on stderr when that fallback actually runs
    * blind. While a manifest SURVIVES it is the authoritative count:
    * the override may only confirm it — changing a live export's shard
    * count is [[reshardExport]], not a repair. */
  def repairManifest(spark: SparkSession, dir: String,
      checksumCols: Seq[String], nShards: Int = 0): DataFrame = {
    recoverDelete(spark, dir)
    val derived = repairShardCount(spark, dir)
    if (manifestExists(spark, dir))
      // a SURVIVING manifest is the authoritative count: an override may
      // only confirm it — repairing to a LARGER count would publish a
      // manifest whose modulus disagrees with every row's actual
      // placement, the exact contract break the override exists to avoid
      require(nShards == 0 || nShards == derived,
        s"repairManifest: explicit nShards=$nShards contradicts the " +
          s"surviving manifest at $dir ($derived shards) — the manifest is " +
          "authoritative while it exists; the override is for the " +
          "lost-manifest case only (changing the count is reshardExport)")
    else
      require(nShards == 0 || nShards >= derived,
        s"repairManifest: explicit nShards=$nShards is smaller than what the " +
          s"export's own state proves ($derived shards) — data at $dir holds " +
          "rows the repaired manifest could not attest")
    if (nShards == 0) repairShardCountWarning(spark, dir, derived)
    val n = if (nShards > 0) nShards else derived
    val data = readShards(spark, dir)
    publishManifest(spark, dir, manifestFrame(spark, shardStats(data, checksumCols, n)))
    // a repair from a LOST manifest dir also lost the `_schema` sidecar
    // (publishManifest only carries a surviving one) — rewrite it from
    // the data, or the schema-drift gate goes silently inert and a
    // later emptied export loses its read fallback
    if (readSchemaSidecar(spark, dir).isEmpty)
      writeSchemaSidecar(spark, manifestDir(dir), data.schema)
    readManifest(spark, dir)
  }

  /** Shard count for a repair: the live manifest when one is readable,
    * else `1 + max K` over the surviving `shard=K` data directories.
    * Data-derived inference can only UNDERCOUNT trailing all-empty
    * shards (they leave no directory) — the repaired manifest still
    * attests to every byte on disk. */
  /** Whether `dir` holds a readable (parquet-bearing) manifest. */
  private def manifestExists(spark: SparkSession, dir: String): Boolean = {
    val (fs, _) = fsPath(spark, dir)
    val m = new org.apache.hadoop.fs.Path(manifestDir(dir))
    fs.exists(m) &&
      fs.listStatus(m).exists(_.getPath.getName.endsWith(".parquet"))
  }

  private def repairShardCount(spark: SparkSession, dir: String): Int = {
    val (fs, _) = fsPath(spark, dir)
    if (manifestExists(spark, dir)) manifestRows(spark, dir).size
    else {
      val d = new org.apache.hadoop.fs.Path(dataDir(dir))
      require(fs.exists(d), s"repairManifest: no data at $dir to repair from")
      val ks = fs.listStatus(d).map(_.getPath.getName)
        .filter(_.startsWith("shard="))
        .map(_.stripPrefix("shard=").toInt)
      require(ks.nonEmpty, s"repairManifest: no shard directories at $dir")
      ks.max + 1
    }
  }

  /** [[repairShardCount]] for a caller that did NOT pass an explicit
    * count: identical, plus a loud stderr warning when the manifest is
    * gone and the count is inferred blind from `shard=K` directories
    * (trailing all-empty shards are invisible to that inference). */
  private def repairShardCountWarning(spark: SparkSession, dir: String,
      derived: Int): Unit = {
    if (!manifestExists(spark, dir))
      Console.err.println(
        s"[graft] repairManifest: manifest at $dir is lost; inferred " +
          s"nShards=$derived from shard directories — trailing all-empty " +
          "shards cannot be recovered from data alone. If the export had " +
          "more shards, re-run with an explicit nShards or the next append " +
          "will place rows with the wrong modulus.")
  }

  /** Write `manifest` to a tmp dir and swap it over `dir/manifest`:
    * readers see the old manifest or the new one, never a torn one. */
  private[graft] def publishManifest(spark: SparkSession, dir: String,
      manifest: DataFrame,
      schemaOverride: Option[org.apache.spark.sql.types.StructType] = None): Unit = {
    val tmp = manifestDir(dir) + ".new"
    val (fs, _) = fsPath(spark, dir)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    manifest.select(ManifestSchema.fields.toIndexedSeq.map(f => col(f.name).cast(f.dataType)): _*)
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
    // the `_schema` and `_placement` sidecars live in the manifest dir;
    // a manifest swap must not orphan them or an emptied-then-appended
    // export goes dark / forgets its placement contract. `schemaOverride`
    // replaces the carried `_schema` — the [[evolveExportSchema]] hook,
    // which rides the same crash-safe swap as every manifest advance.
    def carry(live: org.apache.hadoop.fs.Path, staged: org.apache.hadoop.fs.Path): Unit =
      if (fs.exists(live)) {
        val in = fs.open(live)
        val out = fs.create(staged, true)
        try {
          val chunk = new Array[Byte](4096)
          var n = in.read(chunk)
          while (n >= 0) { out.write(chunk, 0, n); n = in.read(chunk) }
        } finally { in.close(); out.close() }
      }
    schemaOverride match {
      case Some(s) => writeSchemaSidecar(spark, tmp, s)
      case None => carry(schemaPath(manifestDir(dir)), schemaPath(tmp))
    }
    carry(placementPath(manifestDir(dir)), placementPath(tmp))
    IndexOps.recoverSwap(spark, manifestDir(dir))
    // a manifest dir deleted by operator error (the repairManifest
    // entry path) has nothing to swap out — plain rename publishes
    val mPath = new org.apache.hadoop.fs.Path(manifestDir(dir))
    if (fs.exists(mPath)) IndexOps.swapDirs(spark, manifestDir(dir), tmp)
    else {
      require(fs.rename(new org.apache.hadoop.fs.Path(tmp), mPath),
        s"publishManifest: rename $tmp -> $mPath failed")
      spark.catalog.refreshByPath(manifestDir(dir))
    }
  }

  /** Combine published exports into one WITHOUT reading a data byte:
    * every source shard file MOVES (rename — a metadata operation on
    * HDFS-like stores, a server-side pointer on object stores) into
    * `dst`'s matching shard directory under a generation-prefixed name,
    * and the manifest is the O(nShards) commutative sum of the source
    * manifests. At 100 TB this is the difference between "merge two
    * corpus snapshots" costing O(files renamed) and costing a full
    * rewrite. All sources must share the shard count (same portable
    * placement → a row's shard is identical in every source) and the
    * caller owns id-disjointness, like [[appendShards]].
    *
    * DESTRUCTIVE of the sources by design (that is what makes it
    * metadata-only); sources must be quiesced. Idempotent under replay
    * ACROSS THE WHOLE PROTOCOL, not just the move loop:
    *  - mid-move crash: target names are deterministic (`g<i>-<name>`),
    *    so the re-run moves only what is still in a source — each file
    *    is either at its source or already at its target;
    *  - mid-swap crash: recovered at entry ([[IndexOps.recoverSwap]]);
    *  - POST-publish crash (between the dst publish and the source
    *    cleanup): the surviving source skeletons still carry manifests
    *    claiming every row while their data dirs are empty — the
    *    re-run detects that its staging holds NO data files while the
    *    merged manifest claims rows, refuses to republish over the
    *    live dst (which holds the real data), and finishes the cleanup
    *    instead; a re-run after cleanup finished finds no sources at
    *    all and returns dst's live manifest.
    * Returns the merged manifest. */
  def concatExports(spark: SparkSession, srcs: Seq[String], dst: String): DataFrame = {
    require(srcs.nonEmpty, "concatExports needs at least one source")
    // Path hygiene, on filesystem-QUALIFIED paths (raw strings miss
    // `/a` vs `/a/` and scheme aliases):
    //  - dst must not be a source — the final cleanup deletes every
    //    source, which would erase the freshly published destination
    //    ("merge b into a" is appendShards' job, or concat into a NEW
    //    dir);
    //  - a source listed twice would fold its manifest TWICE while its
    //    files move once, publishing a manifest that over-claims every
    //    duplicated row — refuse rather than silently dedupe, because
    //    a duplicated list is an operator error worth surfacing.
    locally {
      val (qfs, qdst) = fsPath(spark, dst)
      def q(s: String) = qfs.makeQualified(new org.apache.hadoop.fs.Path(s))
      val qd = qfs.makeQualified(qdst)
      require(!srcs.exists(q(_) == qd),
        s"concatExports: dst $dst is also a source — the source cleanup would " +
          "delete the published result; concat into a fresh directory " +
          "(or append the other sources' rows with appendShards)")
      val dupes = srcs.groupBy(q).values.filter(_.size > 1).map(_.head)
      require(dupes.isEmpty,
        s"concatExports: sources listed more than once (${dupes.mkString(", ")}) — " +
          "their manifests would be double-counted")
    }
    val (fs, dstPath) = fsPath(spark, dst)
    val tmp = dst + ".export.tmp"
    // finish or roll back a dst publish a crash interrupted
    IndexOps.recoverSwap(spark, dst)
    // fully-completed replay: every source consumed, dst published
    val liveSrcs = srcs.filter(s => fs.exists(new org.apache.hadoop.fs.Path(s)))
    if (liveSrcs.isEmpty) {
      require(fs.exists(dstPath),
        s"concatExports: no sources exist and no published export at $dst")
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      return readManifest(spark, dst)
    }
    // A MISSING source is tolerable only with replay evidence: source
    // dirs are deleted exclusively by the post-publish cleanup, so a
    // legitimate partial-cleanup replay always has (a) the dst
    // published and (b) every SURVIVING source stamped `_merged_into`
    // this dst (the stamp is written before the publish). Anything
    // else — a mistyped path, a source deleted by operator error on a
    // FRESH merge — must fail loudly here, not proceed with the
    // surviving subset, publish a dst missing that source's rows, and
    // destructively delete the real sources.
    locally {
      val missing = srcs.filterNot(s => fs.exists(new org.apache.hadoop.fs.Path(s)))
      if (missing.nonEmpty) {
        require(fs.exists(dstPath),
          s"concatExports: sources ${missing.mkString(", ")} do not exist and " +
            s"no published export at $dst — a fresh merge must name only " +
            "existing sources (mistyped path?)")
        liveSrcs.foreach { src =>
          val stamp = readMergedInto(fs, src)
          require(stamp.contains(dst),
            s"concatExports: sources ${missing.mkString(", ")} are missing while " +
              s"surviving source $src is ${stamp.fold("not stamped as merged")(d =>
                s"stamped as merged into $d")} — this is not a replay of a " +
              s"merge into $dst; refusing to merge a partial source list")
        }
      }
    }
    // each source manifest read ONCE, on the driver: the shard-count
    // check, the fold and the row total below need no Spark job
    val manifests = liveSrcs.map(manifestRows(spark, _))
    val nShards = manifests.head.size
    require(manifests.forall(_.size == nShards),
      s"concatExports: shard counts differ across ${liveSrcs.mkString(", ")}")
    // placement contracts must agree before a single file moves: a
    // hash source merged into an assigned source (or vice versa) would
    // publish one directory holding two placement contracts — the
    // exact poison the `_placement` stamp exists to refuse. Unstamped
    // (pre-stamp) sources count as hash; the merged dst inherits the
    // common kind.
    val placement = {
      val kinds = liveSrcs.map(s =>
        (s, readPlacement(spark, s).getOrElse(PlacementHash)))
      val distinct = kinds.map(_._2).distinct
      require(distinct.size == 1,
        s"concatExports: sources mix placement kinds (${kinds.map { case (s, k) =>
            s"$s=$k" }.mkString(", ")}) — a merge cannot reconcile two " +
          "placement contracts; rebalanceExport/reshardExport one side first")
      distinct.head
    }
    // schema drift across sources is the same poison as a drifting
    // append: require every sidecar-carrying source to agree with the
    // first before a single file moves
    liveSrcs.flatMap(src => readSchemaSidecar(spark, src).map((src, _))) match {
      case (s0, sc0) +: rest =>
        rest.foreach { case (si, sci) =>
          requireSchemaMatch(spark, s0, sci, s"concatExports (source $si vs $s0)") }
      case _ => ()
    }
    // re-entrant staging: do NOT wipe tmp — a replayed merge must find
    // the files a crashed attempt already moved
    fs.mkdirs(new org.apache.hadoop.fs.Path(dataDir(tmp)))
    liveSrcs.zipWithIndex.foreach { case (src, i) =>
      val root = new org.apache.hadoop.fs.Path(dataDir(src))
      if (fs.exists(root)) {
        val it = fs.listFiles(root, true)
        while (it.hasNext) {
          val f = it.next().getPath
          if (!f.getName.startsWith("_") && !f.getName.startsWith(".")) {
            // shard directory = the path component under data/
            val rel = f.toString.stripPrefix(fs.makeQualified(root).toString)
              .stripPrefix("/")
            val cut = rel.lastIndexOf('/')
            val shardDir =
              if (cut < 0) "" else rel.substring(0, cut)
            val targetDir = new org.apache.hadoop.fs.Path(dataDir(tmp), shardDir)
            fs.mkdirs(targetDir)
            val target = new org.apache.hadoop.fs.Path(targetDir, s"g$i-${f.getName}")
            require(fs.rename(f, target),
              s"concatExports: rename $f -> $target failed")
          }
        }
      }
    }
    // manifest: the commutative fold of the source manifests
    val merged = manifests.reduce(mergeStats(_, _))
    // completed-publish guard (the post-publish crash window): sources
    // whose manifests claim rows but whose data is neither in a source
    // nor in staging were already merged into a published dst — a swap
    // here would replace the real merged data with an empty skeleton
    val mergedRows = merged.map(_.nRows).sum
    if (mergedRows > 0 && !hasDataFiles(fs, dataDir(tmp))) {
      require(fs.exists(dstPath),
        s"concatExports: sources claim $mergedRows rows but hold no data and " +
          s"no published export exists at $dst — refusing to publish emptiness")
      // EXACT wrong-dst detection: the move loop stamped each source
      // with the dst it merged into (`_merged_into`, written before the
      // publish, so the post-publish crash window always carries it).
      // A skeleton without the stamp, or stamped for a different dst,
      // is NOT this merge's leftover — raise instead of deleting
      // someone else's accounting.
      liveSrcs.foreach { src =>
        val stamp = readMergedInto(fs, src)
        require(stamp.contains(dst),
          s"concatExports: source $src claims rows but holds no data and " +
            s"is ${stamp.fold("not stamped as merged")(d => s"stamped as merged into $d")} " +
            s"— refusing post-publish cleanup against $dst")
      }
      // containment sanity on top: the published dst must hold AT
      // LEAST what the surviving sources claim per shard (dst is the
      // fold of ALL original sources; survivors may be a subset after
      // a partial cleanup)
      val dstRows = manifestRows(spark, dst).map(s => s.shard -> s.nRows).toMap
      val dstShort = merged.filter(s => dstRows.getOrElse(s.shard, 0L) < s.nRows)
        .map(_.shard)
      require(dstShort.isEmpty,
        s"concatExports: $dst is not the product of merging these sources " +
          s"(shards ${dstShort.mkString(", ")} hold fewer rows than the " +
          "sources claim) — refusing post-publish cleanup against the wrong dst")
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      liveSrcs.foreach(s => fs.delete(new org.apache.hadoop.fs.Path(s), true))
      return readManifest(spark, dst)
    }
    // stamp every source with its destination BEFORE the publish: the
    // post-publish crash window then carries proof of which merge owns
    // these skeletons (the guard above), making wrong-dst cleanup
    // impossible rather than merely improbable
    liveSrcs.foreach(writeMergedInto(fs, _, dst))
    writeManifest(spark, manifestDir(tmp), merged)
    // carry a schema sidecar from the first source that has one, and
    // the sources' (verified-common) placement kind
    liveSrcs.iterator.map(s => (s, readSchemaSidecar(spark, s)))
      .collectFirst { case (_, Some(sc)) => sc }
      .foreach(writeSchemaSidecar(spark, manifestDir(tmp), _))
    writePlacementSidecar(spark, manifestDir(tmp), placement)
    if (fs.exists(dstPath)) IndexOps.swapDirs(spark, dst, tmp)
    else {
      require(fs.rename(new org.apache.hadoop.fs.Path(tmp), dstPath),
        s"concatExports: rename $tmp -> $dst failed")
      spark.catalog.refreshByPath(dst)
    }
    // the emptied source skeletons are dead weight; drop them
    liveSrcs.foreach(s => fs.delete(new org.apache.hadoop.fs.Path(s), true))
    readManifest(spark, dst)
  }

  /** The `_merged_into` stamp a [[concatExports]] run writes into each
    * source before publishing its destination. */
  private def mergedIntoPath(src: String) =
    new org.apache.hadoop.fs.Path(manifestDir(src), "_merged_into")

  private def writeMergedInto(fs: org.apache.hadoop.fs.FileSystem,
      src: String, dst: String): Unit = {
    val out = fs.create(mergedIntoPath(src), true)
    out.write(dst.getBytes("UTF-8")); out.close()
  }

  private def readMergedInto(fs: org.apache.hadoop.fs.FileSystem,
      src: String): Option[String] =
    readSmallFile(fs, mergedIntoPath(src))

  /** True when `dir` holds at least one non-hidden data file. */
  private def hasDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(p)) return false
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val n = it.next().getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".")) return true
    }
    false
  }

  /** Re-shard a published export to a different shard count — the
    * operation for a shard-granularity change (e.g. the training fleet
    * doubled and `nShards % nWorkers` skews slices). NECESSARILY a
    * corpus rewrite: placement is `h60(id) % nShards`, so changing
    * nShards moves rows between shards — there is no metadata-only
    * form, and pretending otherwise (directory splits/merges) would
    * break the portable-placement contract every consumer and the
    * oracle rely on. Cost is one [[shardedWrite]] of the corpus; the
    * rewrite is staged under the same dir and atomically swapped, so
    * readers see the old generation until the new one is complete, and
    * a crash leaves the old export live. Returns the new manifest. */
  def reshardExport(spark: SparkSession, dir: String, idCol: String,
      checksumCols: Seq[String], newNShards: Int): DataFrame = {
    // the reshard's own publish is a TOP-LEVEL dir swap — recover a
    // crashed one before reading, then the inner-dir swaps
    IndexOps.recoverSwap(spark, dir)
    recoverDelete(spark, dir)
    // an assigned (weight-balanced) export has no h60 contract to
    // re-shard under; its granularity change is rebalanceExport
    requireHashPlacement(spark, dir, "reshardExport")
    // lazy read is safe for the same-dir rewrite: shardedWrite stages
    // the whole new generation under <dir>.export.tmp (every read of
    // the old files happens during that write) and swaps only after
    // the staging — no checkpoint copy of the corpus needed
    val rows = readShards(spark, dir).drop("shard", "ord")
    shardedWrite(spark, rows, idCol, checksumCols, newNShards, dir)
  }

  /** Re-balance a published export by weight — the assigned-layout twin
    * of [[reshardExport]], and the ONLY sanctioned refresh once an
    * export is stamped `assigned` (the append family refuses it, so a
    * balanced layout would otherwise be frozen forever). Recomputes the
    * equal-weight cuts over the CURRENT corpus with [[balancedShards]]'
    * two-pass distributed prefix sum and rewrites through
    * [[shardedWriteAssigned]] — same staged `<dir>.export.tmp` +
    * atomic-swap crash protocol as every publish here (old generation
    * live until the new one is complete). Works on a hash-stamped (or
    * pre-stamp) export too: "balance this export by tokens" is a
    * legitimate one-way migration — the result is stamped `assigned`.
    * Necessarily a corpus rewrite, like the reshard: weight cuts move
    * rows between shards. `nShards = 0` keeps the current shard count.
    * Returns the new manifest — identical, by construction, to a
    * from-scratch [[balancedShards]]+[[shardedWriteAssigned]] of the
    * same rows (the q96 oracle proves it against a true global-window
    * recompute). */
  def rebalanceExport(spark: SparkSession, dir: String, idCol: String,
      weightCol: String, checksumCols: Seq[String],
      nShards: Int = 0): DataFrame = {
    require(nShards >= 0, s"nShards must be non-negative, got $nShards")
    IndexOps.recoverSwap(spark, dir)
    recoverDelete(spark, dir)
    val n = if (nShards > 0) nShards else manifestRows(spark, dir).size
    require(n > 0, s"rebalanceExport: no manifest at $dir")
    // lazy read is safe for the same-dir rewrite, as in reshardExport:
    // balancedShards' totals pass and shardedWriteAssigned's staging
    // both read the live generation, which the swap replaces only after
    // the staging is complete
    val rows = readShards(spark, dir).drop("shard", "ord")
    shardedWriteAssigned(spark, balancedShards(rows, idCol, weightCol, n),
      checksumCols, n, dir, PlacementAssigned)
  }

  /** [[rebalanceExport]] into a NEW directory, leaving `src` untouched
    * — the balanced SNAPSHOT of a continuously-growing hash export.
    * [[appendShards]] refuses assigned layouts
    * (placement stamp), so "a live hash export that keeps ingesting
    * PLUS a token-balanced view for the trainer" is exactly this:
    * appends keep landing in `src` under the portable h60 contract,
    * and each training run snapshots a balanced `dst` from it (one
    * corpus read + the two-pass prefix sum + one write; `src` stays
    * readable throughout — it is never staged, swapped or stamped).
    * `nShards = 0` inherits `src`'s shard count. Returns `dst`'s
    * manifest, stamped `assigned`. */
  def rebalanceExportTo(spark: SparkSession, src: String, dst: String,
      idCol: String, weightCol: String, checksumCols: Seq[String],
      nShards: Int = 0): DataFrame = {
    require(nShards >= 0, s"nShards must be non-negative, got $nShards")
    locally {
      val (qfs, qdst) = fsPath(spark, dst)
      require(qfs.makeQualified(new org.apache.hadoop.fs.Path(src)) !=
          qfs.makeQualified(qdst),
        "rebalanceExportTo: src and dst are the same directory — the " +
          "in-place form is rebalanceExport")
    }
    IndexOps.recoverSwap(spark, src)
    recoverDelete(spark, src)
    val n = if (nShards > 0) nShards else manifestRows(spark, src).size
    require(n > 0, s"rebalanceExportTo: no manifest at $src")
    val rows = readShards(spark, src).drop("shard", "ord")
    shardedWriteAssigned(spark, balancedShards(rows, idCol, weightCol, n),
      checksumCols, n, dst, PlacementAssigned)
  }

  // --------------------------------------------------- targeted deletion

  /** Delete every row matching `predicate` from a published export —
    * the takedown / right-to-be-forgotten / retro-decontamination
    * operation a long-lived training corpus eventually needs — at
    * **O(affected shards)**, not O(corpus): parquet files are
    * immutable, so deletion is necessarily a rewrite, but only the
    * shard directories that actually CONTAIN matches are rewritten
    * (the scan for survivors partition-prunes to them); an export
    * where the matches cluster in a few shards leaves every other
    * shard's bytes untouched. Works on hash and assigned layouts alike
    * (rows are never re-placed, only removed — the placement stamp is
    * irrelevant and survives).
    *
    * Three-valued logic: only rows where the predicate is TRUE are
    * deleted — a NULL predicate keeps the row (`coalesce(pred, false)`
    * on the match side and its negation on the survivor side, so a
    * null can neither delete nor leak a row).
    *
    * Protocol, self-healing under replay at every point:
    *  1. entry recovery — whole-dir swaps, then a crashed previous
    *     delete's per-shard swaps rolled back, then the staging wiped;
    *  2. survivors of the affected shards staged under
    *     `<data>.delete.tmp/shard=K` (ord-sorted [[writeLayout]]
    *     files; a fully-deleted shard stages an explicit empty dir);
    *  3. the manifest is published FIRST — affected shards recomputed
    *     from the staged bytes, untouched shards carried; the affected
    *     shards' PRE-delete rows are staged as `_premanifest` one step
    *     earlier. Manifest-ahead-of-data is this operation's crash
    *     window (the inverse of [[appendShards]]'): loud via
    *     [[verifyShards]] while open, and RECONCILED at the next
    *     [[recoverDelete]] (any writer entry, or the delete's own
    *     re-run) — each affected shard whose swap did not complete has
    *     its pre-delete manifest row republished from `_premanifest`,
    *     so manifest and data re-agree without operator action; the
    *     delete itself still needs its re-run to finish (already-
    *     swapped shards hold no matches and are skipped, rolled-back
    *     shards still match and are redone with identical rows);
    *  4. per-shard swap: the live `shard=K` is parked INSIDE the
    *     staging area (`.removed/shard=K` — never as `shard=K.old`
    *     inside the partitioned dir, where partition discovery would
    *     read ".old" as a partition value), the staged dir renamed in;
    *  5. staging (including the parked originals) deleted.
    * A predicate matching nothing is a metadata-only no-op. Like every
    * maintenance rewrite here (concat's sources, the index swaps), the
    * export must be QUIESCED for the duration — an append racing the
    * swap could land files in a shard directory between its detection
    * scan and its park, and those files would leave with the parked
    * original. Returns the post-delete manifest. */
  def deleteFromExport(spark: SparkSession, dir: String, predicate: Column,
      checksumCols: Seq[String]): DataFrame = {
    recoverDelete(spark, dir)
    val live = manifestRows(spark, dir)
    val nShards = live.size
    require(nShards > 0, s"deleteFromExport: no manifest at $dir")
    val all = readShards(spark, dir)
    val matchPred = coalesce(predicate, lit(false))
    // bounded driver materialization: ≤ nShards shard ids
    val affected = all.filter(matchPred).select("shard").distinct()
      .collect().map(_.getInt(0)).sorted
    if (affected.isEmpty) return manifestFrame(spark, live)
    // survivors of the affected shards ONLY — the scan prunes to their
    // partition directories; untouched shards' bytes never move
    val survivors = all.filter(col("shard").isin(affected.map(Int.box): _*))
      .filter(!matchPred)
    deleteCore(spark, dir, live, nShards, affected, survivors,
      all.schema, checksumCols)
  }

  /** [[deleteFromExport]] for the id-list takedown — "remove THESE
    * documents" — at **O(id list)** discovery on a hash-placed export:
    * the portable placement contract means the affected shards derive
    * from the ids ALONE (`h60(id) % nShards`, no corpus scan), so both
    * the match check and the survivor rewrite prune to those shards'
    * directories — a 10-document takedown on a 100 TB export reads and
    * rewrites only the ≤10 shards those ids can live in. This is
    * precisely what the portable-placement contract buys; an
    * `assigned` (or unstamped) layout cannot derive shards from ids
    * and pays one full detection scan instead (the rewrite still
    * prunes to the shards that matched). Ids absent from the export
    * are ignored; an all-absent list is a metadata-only no-op. Returns
    * the post-delete manifest. */
  def deleteIdsFromExport(spark: SparkSession, dir: String, ids: DataFrame,
      idCol: String, checksumCols: Seq[String]): DataFrame = {
    recoverDelete(spark, dir)
    val live = manifestRows(spark, dir)
    val nShards = live.size
    require(nShards > 0, s"deleteIdsFromExport: no manifest at $dir")
    val all = readShards(spark, dir)
    val dropIds = ids.select(col(idCol)).distinct()
    val candidates: Option[Array[Int]] =
      if (readPlacement(spark, dir).contains(PlacementHash))
        // STAMPED hash layout: candidate shards from the id list alone —
        // bounded driver materialization, ≤ min(nShards, |ids|) rows.
        // An UNSTAMPED export does NOT earn this shortcut: pre-stamp
        // generations include shardedWriteAssigned (balanced) layouts,
        // and deriving candidates from ids against one of those would
        // silently MISS listed ids living outside their hash shards —
        // an incomplete takedown that looks complete. Unstamped pays
        // the one detection scan; only a provable contract prunes it.
        Some(shardAssign(dropIds, idCol, nShards)
          .select("shard").distinct().collect().map(_.getInt(0)))
      else None
    val scanned = candidates match {
      case Some(cs) if cs.isEmpty => return manifestFrame(spark, live)
      case Some(cs) => all.filter(col("shard").isin(cs.map(Int.box): _*))
      case None => all
    }
    // shards that actually CONTAIN a listed id (absent ids drop out
    // here — a candidate shard with no matches is never rewritten)
    val affected = scanned.join(dropIds, Seq(idCol), "left_semi")
      .select("shard").distinct().collect().map(_.getInt(0)).sorted
    if (affected.isEmpty) return manifestFrame(spark, live)
    val survivors = all.filter(col("shard").isin(affected.map(Int.box): _*))
      .join(dropIds, Seq(idCol), "left_anti")
    deleteCore(spark, dir, live, nShards, affected, survivors,
      all.schema, checksumCols)
  }

  /** Entry recovery for delete-staging residue: whole-dir swaps, a
    * crashed previous delete's half-done per-shard swaps rolled back
    * (a parked original whose live dir is MISSING was displaced
    * without its replacement landing — restore it; one whose live dir
    * exists is a completed swap's obsolete copy, wiped with the
    * staging), then the staging wiped.
    *
    * Runs at EVERY writer entry, not just the delete family's: the
    * rollback's live-dir-exists test is only sound while nothing else
    * can recreate a displaced shard directory. If a crashed delete left
    * `shard=K` parked with its live dir missing and an append then
    * landed new files there FIRST, a later recovery would read the
    * recreated dir as "swap completed" and wipe the parked original —
    * losing every pre-delete row of that shard. With every writer
    * ([[appendShards]], [[compactExport]], the rewrite family) healing
    * delete residue before touching data, that
    * sequence cannot happen. Read paths deliberately do NOT heal — a
    * half-swapped shard reads as missing rows, which [[verifyShards]]
    * calls out loudly, and a reader must not mutate. */
  private[graft] def recoverDelete(spark: SparkSession, dir: String): Unit = {
    IndexOps.recoverSwap(spark, manifestDir(dir))
    IndexOps.recoverSwap(spark, dataDir(dir))
    val (fs, _) = fsPath(spark, dir)
    val stagedRoot = dataDir(dir) + ".delete.tmp"
    val removedPath = new org.apache.hadoop.fs.Path(stagedRoot + "/.removed")
    // shards whose parked original is OBSOLETE (their live dir exists,
    // i.e. the swap completed) — everything else in the premanifest was
    // rolled back or never swapped, and its live bytes are the ORIGINALS
    var completed = Set.empty[Int]
    if (fs.exists(removedPath)) {
      fs.listStatus(removedPath).foreach { st =>
        val live = new org.apache.hadoop.fs.Path(dataDir(dir), st.getPath.getName)
        if (!fs.exists(live))
          require(fs.rename(st.getPath, live),
            s"deleteFromExport: rollback rename ${st.getPath} -> $live failed")
        else completed += st.getPath.getName.stripPrefix("shard=").toInt
      }
      spark.catalog.refreshByPath(dir)
    }
    // MANIFEST RECONCILIATION: deleteCore publishes its manifest BEFORE
    // the per-shard swaps (the loud-by-design crash window), so a crash
    // mid-swap healed by the rollback above used to leave manifest and
    // data durably divergent until the operator re-ran the identical
    // delete. The staged `_premanifest` (the affected shards' rows as
    // they were BEFORE the delete) closes that: every affected shard
    // whose swap did NOT complete gets its pre-delete manifest row
    // republished, so the manifest again describes the bytes on disk —
    // metadata-only, and idempotent (a second recovery finds no staging).
    val prePath = new org.apache.hadoop.fs.Path(stagedRoot, "_premanifest")
    if (fs.exists(prePath)) {
      // ≤ affected-shard rows, read on the driver
      val restore = readManifestAt(spark, prePath.toString)
        .filterNot(s => completed(s.shard))
      if (restore.nonEmpty) {
        val restoreShards = restore.map(_.shard).toSet
        val cur = manifestRows(spark, dir).filterNot(s => restoreShards(s.shard))
        publishManifest(spark, dir,
          manifestFrame(spark, (cur ++ restore).sortBy(_.shard)))
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(stagedRoot), true)
  }

  /** The delete family's staged rewrite: stage `survivors` for the
    * `affected` shards, publish the manifest FIRST, swap per shard,
    * clean up — the protocol documented on [[deleteFromExport]]. */
  private def deleteCore(spark: SparkSession, dir: String, live: Seq[ShardStat],
      nShards: Int, affected: Array[Int], survivors: DataFrame,
      schema: org.apache.spark.sql.types.StructType,
      checksumCols: Seq[String]): DataFrame = {
    val (fs, _) = fsPath(spark, dir)
    val stagedRoot = dataDir(dir) + ".delete.tmp"
    val removedRoot = stagedRoot + "/.removed"
    val removedPath = new org.apache.hadoop.fs.Path(removedRoot)
    writeLayout(survivors, nShards, writeTasks(survivors, nShards))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("shard")
      .parquet(stagedRoot)
    // a fully-deleted shard wrote nothing: stage an explicit empty dir
    // so the swap still replaces its live contents
    affected.foreach { k =>
      fs.mkdirs(new org.apache.hadoop.fs.Path(stagedRoot, s"shard=$k"))
    }
    // stage the affected shards' PRE-delete manifest rows before the
    // manifest advances: a crash anywhere in the manifest-ahead-of-data
    // window below is then reconciled by [[recoverDelete]] (unswapped
    // shards get their old rows republished) instead of staying
    // divergent until an operator re-runs the delete. Written to a tmp
    // name and renamed in, so its EXISTENCE implies completeness; the
    // underscore prefix hides it from the staged-data read below.
    val prePath = new org.apache.hadoop.fs.Path(stagedRoot, "_premanifest")
    val preTmp = new org.apache.hadoop.fs.Path(stagedRoot, ".premanifest.tmp")
    fs.delete(preTmp, true)
    val affectedSet = affected.toSet
    writeManifest(spark, preTmp.toString, live.filter(s => affectedSet(s.shard)))
    require(fs.rename(preTmp, prePath),
      s"deleteFromExport: rename $preTmp -> $prePath failed")
    // manifest FIRST (see the protocol note): affected shards
    // recomputed from the staged bytes, untouched shards carried
    val recomputed = shardStats(
      readData(spark, stagedRoot, Some(schema)), checksumCols, nShards)
      .filter(s => affectedSet(s.shard))
    val untouched = live.filterNot(s => affectedSet(s.shard))
    publishManifest(spark, dir,
      manifestFrame(spark, (untouched ++ recomputed).sortBy(_.shard)))
    // per-shard swap: park the original inside the staging area, move
    // the staged dir in; each shard's two renames bracket the one
    // window the entry rollback above heals
    fs.mkdirs(removedPath)
    affected.foreach { k =>
      val liveShard = new org.apache.hadoop.fs.Path(dataDir(dir), s"shard=$k")
      val parked = new org.apache.hadoop.fs.Path(removedRoot, s"shard=$k")
      val staged = new org.apache.hadoop.fs.Path(stagedRoot, s"shard=$k")
      require(fs.rename(liveShard, parked),
        s"deleteFromExport: rename $liveShard -> $parked failed")
      require(fs.rename(staged, liveShard),
        s"deleteFromExport: rename $staged -> $liveShard failed")
    }
    fs.delete(new org.apache.hadoop.fs.Path(stagedRoot), true)
    spark.catalog.refreshByPath(dir)
    readManifest(spark, dir)
  }

  // ------------------------------------------------- token-balanced shards

  /** Shards balanced by a WEIGHT (token count, byte length) instead of
    * row count: shard `k` owns the rows whose exclusive prefix-sum of
    * weight — over the portable global order `(ord, id)` — falls in
    * `[k·total/nShards, (k+1)·total/nShards)`. Equal-token shards are
    * what a training job actually wants; equal-row shards skew badly
    * when document lengths do.
    *
    * The global prefix sum is the scalable two-pass form, NOT a global
    * window (`Window.orderBy` with no partition funnels the corpus
    * through ONE task — the exact trap this operator exists to avoid):
    *
    *  1. a deterministic range partition with NO sampling job:
    *     `ord` = h60 is uniform on [0, 2^60), so `part =
    *     ord · nParts / 2^60` is an equi-width range partitioning that
    *     is already balanced — where `repartitionByRange` pays a
    *     sampling pass whose boundaries can differ between the two
    *     jobs below, this is a pure projection, identical in both;
    *  2. per-partition weight totals (one partial-agg shuffle of
    *     `nParts` rows), cumulated into exclusive offsets on the
    *     driver — the ONE bounded materialization, `nParts` rows;
    *  3. within-partition exclusive prefix via a PARTITIONED window
    *     (`partitionBy(part) orderBy(ord, id)`) — every partition in
    *     parallel — plus the broadcast offset.
    *
    * Two scans of the corpus (the totals pass and the window pass) —
    * the classic distributed prefix-sum trade. Arithmetic is exact:
    * long accumulation (total weight must fit a long — eight orders
    * above 100 TB of token counts; ANSI mode raises on overflow),
    * widening to decimal only for the boundary formula
    * `shard = prefix · nShards / total` (integral div), so the result
    * is reproducible on any engine from the row set alone — the DuckDB
    * oracle recomputes it with a true global window. Weights must be
    * non-negative integers; null weighs 0.
    *
    * `nParts` is the pass-2 window parallelism; the default (0) derives
    * it as `max(32, input partitions)` so the prefix-sum pass scales
    * with the corpus' own scan width instead of a fixed 32 — the
    * RESULT is nParts-invariant (any equi-width split of a monotone
    * key yields the same global prefix), so the choice is pure
    * parallelism, which the spec asserts at two values. */
  def balancedShards(df: DataFrame, idCol: String, weightCol: String,
      nShards: Int, nParts: Int = 0): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    require(nParts >= 0, s"nParts must be non-negative, got $nParts")
    // inputWidth, not `.rdd.getNumPartitions`: same non-executing probe
    // as writeTasks (the result is nParts-invariant either way)
    val parts =
      if (nParts > 0) nParts else math.max(32, inputWidth(df))
    import org.apache.spark.sql.expressions.Window
    // LONG accumulation, decimal only in the final boundary formula:
    // a decimal window sum is the hot per-row cost (measured 2.2× the
    // naive arm's CPU at 20M rows before this). Long is exact while the
    // TOTAL fits — guarded below; 100 TB of token counts is ~1e14,
    // eight decimal orders under the guard.
    val w = coalesce(col(weightCol).cast("long"), lit(0L))
    val assigned = df
      .withColumn("ord", Hashing.h60(concat(lit("ord:"), col(idCol).cast("string"))))
      .withColumn("__w", w)
      // equi-width bucket of the 60-bit ord, in exact long arithmetic
      // (ord * nParts would overflow a long): width = ceil(2^60/nParts),
      // part = ord / width — monotone in ord (so partitions are ranges,
      // which is what makes the offsets correct) and < nParts always
      .withColumn("__part",
        expr(s"ord div ${(1152921504606846976L + parts - 1) / parts}L")
          .cast("int"))
    // pass 1: per-partition totals -> exclusive offsets (nParts rows).
    // sum("__w") over long yields long; Spark raises on overflow in
    // ANSI mode, and the guard below re-states the contract loudly.
    val totals = assigned.groupBy("__part").agg(sum("__w").as("__t"))
      .orderBy("__part").collect()
    val offsets = {
      var acc = 0L
      totals.map { r =>
        val part = r.getInt(0)
        val t = r.getLong(1)
        val off = acc; acc = math.addExact(acc, t); (part, off)
      }.toMap
    }
    val grandTotal = totals.foldLeft(0L)((a, r) => math.addExact(a, r.getLong(1)))
    // degenerate inputs (no rows, or all-zero weight) have nothing to
    // balance: everything lands in shard 0, deterministically, instead
    // of raising — empty slices are routine at scale (EmptyInputSpec)
    if (grandTotal == 0L)
      return assigned.withColumn("shard", lit(0).cast("int"))
        .drop("__w", "__part")
    // offsets ride a BROADCAST join on __part (hash lookup), not a
    // literal CASE chain — a when-chain is O(nParts) comparisons per
    // row, measured 1.6× the whole operator's CPU at nParts=32
    val spark = df.sparkSession
    import spark.implicits._
    val offsetsDf = broadcast(offsets.toSeq.toDF("__part", "__offset"))
    val inPart = Window.partitionBy("__part")
      .orderBy(col("ord"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    assigned
      .join(offsetsDf, Seq("__part"))
      .withColumn("__prefix",
        coalesce(sum("__w").over(inPart), lit(0L)) + col("__offset"))
      // the one decimal step: prefix × nShards can exceed a long when
      // total is near its own bound, so the boundary formula widens —
      // and uses integral division (div), NOT decimal `/`: decimal
      // division rounds at its result scale before the floor, which can
      // lift a quotient epsilon-below an integer ONTO it — div is the
      // exact floor both engines compute (DuckDB `//` on HUGEINT)
      .withColumn("shard",
        least(expr(s"(CAST(__prefix AS DECIMAL(38,0)) * $nShards) div ${grandTotal}L"),
          lit(nShards - 1)).cast("int"))
      .drop("__w", "__part", "__prefix", "__offset")
  }

  private def fsPath(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }
}
