package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump every query's result under `outDir` and write the two
    * sidecar artifacts the driver consumes: `oracle_sql.json` and
    * `_errors.json`. Failures must be COUNTED, not elided: a query
    * that throws gets an `_errors.json` entry so the driver records an
    * err row instead of silently shrinking the all-green set (round 8
    * reported "69/69" while 8 queries were dead). Factored out of
    * [[main]] so `VerifyErrorsSpec` can drive it with an injected
    * query map. Returns the error map for callers/tests. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame],
      oracleSql: Map[String, String]): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      // scoped: release each query's eager localCheckpoint blocks so a
      // 167-query sequential run cannot accumulate pinned storage that
      // pressures late-alphabet queries (the Bench pass discipline)
      try graft.operators.Checkpoints.scoped(spark) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        val msg = e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(500)
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} quer${if (errors.size == 1) "y" else "ies"} FAILED: ${errors.keys.mkString(", ")}")
    errors.toMap
  }

  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (dev loop —
    // re-verify just the queries under work; the driver passes 2 args)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) =>
        (s, o, Some(f.split(',').map(_.trim).filter(_.nonEmpty).toSet))
      case _ =>
        System.err.println(
          "usage: graft.Verify <sfDir> <outDir> [query1,query2,...]")
        sys.exit(2)
    }
    // a filter naming a nonexistent query must FAIL, not silently verify
    // nothing — filterKeys would drop it and the dev loop reads green;
    // same for a filter that is EMPTY after trimming (",", "$EMPTY_VAR")
    only.foreach { f =>
      require(f.nonEmpty,
        "query filter is empty after trimming — verifying zero queries " +
          "would read green; omit the argument to verify everything")
      val unknown = f -- SparkEntry.queries.keySet
      require(unknown.isEmpty, "unknown queries in filter: " +
        unknown.toSeq.sorted.mkString(", "))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder("graft-verify", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val qs = only.fold(SparkEntry.queries)(f =>
      SparkEntry.queries.view.filterKeys(f).toMap)
    val sql = only.fold(SparkEntry.oracleSql)(f =>
      SparkEntry.oracleSql.view.filterKeys(f).toMap)
    Verify.run(spark, sfDir, outDir, qs, sql)
    spark.stop()
  }
}
