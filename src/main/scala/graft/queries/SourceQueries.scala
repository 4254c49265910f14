package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.operators.Relational.sumMoney
import graft.sources.Csv
import graft.queries.ParityQueries.Q

/** CSV source/sink queries (S1/S2/S7) under the oracle gate: each query
  * round-trips star-schema data through the engine's CSV surface — sink
  * then scan — and aggregates the re-read rows, so header writing,
  * schema-on-read typing and multi-file union scanning are all on the
  * hash-checked path (the oracle computes the same aggregate straight
  * from parquet; any round-trip corruption breaks the match).
  *
  * Doubles survive exactly because the sink writes Java's shortest
  * round-trip decimal repr and the scan parses it back to the identical
  * bit pattern.
  */
object SourceQueries {

  private def tmp(name: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_srcq/$name"

  private val liSchema = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_returnflag", StringType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType)))

  private val ordSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderpriority", StringType)))

  /** S7+S1 — sink a filtered projection as a MULTI-PART csv directory
    * (one file per partition, like any distributed write), scan it back
    * with the explicit schema, aggregate. */
  val q38CsvRoundtrip: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    val out = tmp("rt_lineitem")
    Csv.sink(
      t.lineitem.filter(col("l_quantity") >= 45)
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity", "l_extendedprice")
        .repartition(4),
      out)
    Csv.scan(spark, liSchema, out)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sumMoney(col("l_quantity")).as("sum_qty"),
        sumMoney(col("l_extendedprice")).as("sum_price"))
      .orderBy("l_returnflag")
  }

  /** S2 — the reference's yearly-drop shape
    * (`/root/reference/down/down_water_prep.py:554-565`): three separate
    * csv directories written independently, read back as ONE multi-path
    * scan (a single distributed read — no driver loop, no union nodes). */
  val q39CsvMultiPath: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    val statuses = Seq("O", "F", "P")
    val paths = statuses.map { s =>
      val out = tmp(s"mp_orders_$s")
      Csv.sink(
        t.orders.filter(col("o_orderstatus") === s)
          .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"),
        out)
      out
    }
    Csv.scan(spark, ordSchema, paths: _*)
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        sumMoney(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus", "o_orderpriority")
  }

  /** S3+new sink — the xlsx surface under the oracle gate (VERDICT r9
    * #8: S3/S4 were spec-only because DuckDB has no xlsx reader; the
    * round-trip closes that — the oracle computes the same aggregate
    * straight from parquet, so sharedStrings/numeric-cell writing, zip
    * part layout, sheet lookup, all-string reading, and the
    * cast-at-the-edge typing are all on the hash-checked path). The
    * supplier DIM is the right payload: xlsx is a dimension-sized
    * format by its own 2^20-row limit ([[graft.sources.XlsxSink]]
    * refuses more — the bounded driver materialization is the format's
    * contract, not a scale hazard). Doubles survive exactly for the
    * same shortest-round-trip-repr reason as the CSV sink. */
  val q81XlsxRoundtrip: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    val out = tmp("rt_supplier/book.xlsx")
    graft.sources.XlsxSink.sink(
      t.supplier.select("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
      out, "Supplier")
    val typed = graft.sources.Excel.cast(
      graft.sources.Excel.readSheet(spark, out, "Supplier"),
      StructType(Seq(
        StructField("s_suppkey", LongType),
        StructField("s_name", StringType),
        StructField("s_nationkey", IntegerType),
        StructField("s_acctbal", DoubleType))))
    typed.groupBy("s_nationkey")
      .agg(
        count(lit(1)).as("n"),
        sumMoney(col("s_acctbal")).as("total_bal"),
        max(col("s_name")).as("max_name"))
      .orderBy("s_nationkey")
  }

  /** S8 — ORC round-trip with PARTITIONED layout: events written as an
    * ORC directory partitioned by event_type, read back with an
    * equality filter on the partition column — partition PRUNING, not a
    * row filter: only the two matching directories are listed — plus a
    * value predicate ORC pushes to its row-group stats, then
    * aggregated. Exercises Spark's second columnar format end to end
    * (the engine's exports standardize on parquet; ORC is the
    * interchange format a consumer may demand) with timestamps, longs,
    * doubles and partition-column reconstruction all on the
    * hash-checked path. */
  val q112OrcRoundtrip: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    val out = tmp("rt_events_orc")
    val staged = t.events
      .select("event_id", "ts", "user_id", "event_type", "value")
    staged.write.mode("overwrite").partitionBy("event_type").orc(out)
    // schema supplied explicitly: a zero-row partitioned write leaves no
    // data file to infer from, and an empty slice must read back as an
    // empty relation, not an inference error (EmptyInputSpec)
    spark.read.schema(staged.schema).orc(out)
      .filter(col("event_type").isin("click", "purchase") && col("value") >= 10.0)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sumMoney(col("value"), 6).as("total_value"),
        min(col("event_id")).as("min_event"),
        max(col("ts")).as("max_ts"))
      .orderBy("event_type")
  }


  /** S9 — JSON-lines round-trip with PARTITIONED layout: documents
    * written as JSONL partitioned by lang, read back under an explicit
    * schema with a partition-column filter (pruning — only the two
    * matching directories list) and a value predicate, then
    * aggregated WITH a portable text checksum — the per-group sum of
    * 60-bit text hashes mod 2^61 proves JSON string escaping
    * round-trips every byte of the zh (CJK) and en corpora exactly,
    * not just that row counts survive. */
  val q125JsonRoundtrip: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    val out = tmp("rt_documents_json")
    val staged = t.documents.select("doc_id", "text", "lang", "source", "n_chars")
    staged.write.mode("overwrite").partitionBy("lang").json(out)
    spark.read.schema(staged.schema).json(out)
      .filter(col("lang").isin("en", "zh") && col("n_chars") >= 100)
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n"),
        sum(col("n_chars")).as("total_chars"),
        max(col("doc_id")).as("max_doc"),
        (sum(graft.functions.Hashing.h60(col("text")).cast("decimal(38,0)"))
          % lit(2305843009213693952L)).cast("long").as("text_checksum"))
      .orderBy("lang", "source")
  }

  val all: Map[String, Q] = Map(
    "q38_csv_roundtrip" -> q38CsvRoundtrip,
    "q39_csv_multipath" -> q39CsvMultiPath,
    "q81_xlsx_roundtrip" -> q81XlsxRoundtrip,
    "q112_orc_roundtrip" -> q112OrcRoundtrip,
    "q125_json_roundtrip" -> q125JsonRoundtrip)

  val oracle: Map[String, String] = Map(
    "q38_csv_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem WHERE l_quantity >= 45
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q39_csv_multipath" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderstatus IN ('O', 'F', 'P')
        |GROUP BY o_orderstatus, o_orderpriority
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    "q81_xlsx_roundtrip" ->
      """SELECT s_nationkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
        |  MAX(s_name) AS max_name
        |FROM supplier
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    "q125_json_roundtrip" ->
      s"""SELECT lang, source, COUNT(*) AS n,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         |  MAX(doc_id) AS max_doc,
         |  CAST(SUM(CAST(${graft.functions.Hashing.h60Sql("text")} AS HUGEINT))
         |    % 2305843009213693952 AS BIGINT) AS text_checksum
         |FROM documents
         |WHERE lang IN ('en', 'zh') AND n_chars >= 100
         |GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "q112_orc_roundtrip" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
        |  MIN(event_id) AS min_event,
        |  MAX(ts) AS max_ts
        |FROM events
        |WHERE event_type IN ('click', 'purchase') AND value >= 10.0
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
}
