package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory with the engine's scale-posture defaults.
  *
  * Tuned for the 32-thread local harness but written for a real cluster:
  * AQE on (runtime join-strategy switch + skew-join splitting), shuffle
  * partitions sized to the parallelism rather than Spark's default 200,
  * UTC session time so date semantics match the DuckDB oracle.
  */
object GraftSession {
  def builder(appName: String = "graft", cpus: String = "32"): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Row-level runtime filtering: on a selective dim⋈fact join, inject
      // a bloom filter of the dim-side keys into the fact scan, so the
      // 100 TB side drops non-joining rows at the scan instead of
      // shuffling them. Default-on in Spark 4.1 — pinned explicitly so
      // the engine's scale posture doesn't ride on a default.
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the engine's native expressions (float_dot, topk_by, simhash60,
      // minhash_sig, ...) registered for spark.sql users out of the box
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // the engine's `file:` file system: the stock one forks a `chmod`
      // per created file and an `ls -ld` per listed status when the
      // native libhadoop is absent (graft.io.NioLocalFileSystem)
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.NioLocalFileSystem].getName)

  def get(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = builder(appName, cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Catalog over the driver-provided TESTDATA star schema (TESTDATA.md).
  * One method per logical table; every query resolves tables through here
  * so the read path (schema, pushdown surface) is uniform.
  */
final class Tables(spark: SparkSession, sfDir: String) {
  // Schema inference reads a parquet footer ON THE DRIVER for every
  // spark.read.parquet — with ~190 bench queries each re-opening 1–3
  // tables, that is hundreds of redundant footer reads per run (r18,
  // guide §6: avoid repeated driver-side listing/metadata work). The
  // inferred schema is cached per (session, path) and replayed through
  // reader.schema(...), which skips inference entirely. METADATA only
  // — never rows — and keyed by the live session so a restarted
  // session re-infers; testdata drift stays covered by
  // TestdataSchemaSpec plus the events branch below, which reads the
  // actual (cached) field type.
  private def t(name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    Tables.cacheKey(spark, path) match {
      case Some(key) =>
        val schema = Tables.schemaCache.computeIfAbsent(key,
          _ => spark.read.parquet(path).schema)
        spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path) // stat failed; surface the
      // real read error (missing path) from the uncached read
    }
  }

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")

  /** `events.ts` has shipped in two parquet layouts across testdata
    * generations, so the read path branches on the ACTUAL field type
    * rather than assuming either:
    *
    *  - TIMESTAMP(NANOS): Spark refuses it by default
    *    (PARQUET_TYPE_ILLEGAL); under `spark.sql.legacy.parquet.
    *    nanosAsLong=true` (set in [[GraftSession.builder]], which
    *    the tests and every main use — NOT mutated here, so reading `events` has
    *    no side effect on unrelated reads) it reads as BIGINT nanos.
    *    Integer `DIV 1000` (never a double divide — 1.7e18 ns exceeds
    *    2^53) truncates toward zero exactly like DuckDB's ns→µs read.
    *  - timestamp[us] (current testdata): reads natively as
    *    TIMESTAMP / TIMESTAMP_NTZ — no arithmetic needed.
    *
    * Both paths land on TIMESTAMP_NTZ so downstream wall-clock
    * semantics match the DuckDB oracle regardless of the file layout.
    */
  def events: DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.LongType
    val raw = t("events")
    val ts = raw.schema("ts").dataType match {
      case LongType => timestamp_micros(expr("ts DIV 1000")).cast("timestamp_ntz")
      case _        => col("ts").cast("timestamp_ntz")
    }
    raw.withColumn("ts", ts)
  }
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  def apply(spark: SparkSession, sfDir: String): Tables = new Tables(spark, sfDir)

  /** (qualified path, mtime, length) → inferred schema; see
    * [[Tables.t]]. CONTENT-keyed, session-free (r19, advisor finding):
    * the previous (session, path) key strongly retained every
    * SparkSession for the JVM's life and replayed a stale schema when a
    * testdata file was regenerated within one session — keying on the
    * file status makes regeneration re-infer (mtime/length change) and
    * retains no session. One local fs stat per table open, far below
    * the footer read it replaces. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long),
      org.apache.spark.sql.types.StructType]()

  /** The cache key for `path`, or None when the stat fails (missing
    * path — let the uncached read raise the real error). */
  private def cacheKey(spark: SparkSession,
      path: String): Option[(String, Long, Long)] =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      Some((fs.makeQualified(p).toString, st.getModificationTime, st.getLen))
    } catch { case _: java.io.IOException => None }
}
