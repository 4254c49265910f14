package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.SparkSpec

/** The extensions entry point, exercised through the real injection path
  * (applied to the shared session's registry — a fresh builder would be
  * silently reused by getOrCreate): SQL users can call the native
  * expression without the Scala API. */
class GraftExtensionsSpec extends SparkSpec {

  test("float_dot is callable from SQL once the extension's injections apply") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    ColumnBridge.registerInjectedFunctions(ext, spark.sessionState.functionRegistry)
    val got = spark.sql(
      """SELECT float_dot(
        |  CAST(array(1.0, 2.0, 3.0) AS array<float>),
        |  CAST(array(4.0, 5.0, 6.0) AS array<float>)) AS d""".stripMargin)
      .collect()(0).getDouble(0)
    assert(got == 32.0)
    // analyzer-level type check rejects wrong element types
    val e = intercept[Exception](
      spark.sql("SELECT float_dot(array(1.0), array(2.0))").collect())
    assert(e.getMessage.contains("array<float>"))
  }

  test("simhash60 and minhash_sig are callable from SQL") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    ColumnBridge.registerInjectedFunctions(ext, spark.sessionState.functionRegistry)
    val row = spark.sql(
      """SELECT simhash60(array('a', 'b', 'a')) AS s,
        |       minhash_sig(array('a b c', 'b c d'), 4) AS m,
        |       simhash60(CAST(array() AS array<string>)) AS s_empty""".stripMargin).collect()(0)
    // values must equal the Scala-API operators over the same inputs
    import spark.implicits._
    val viaApi = graft.operators.Dedup.simhash(
      Seq((1L, "a b a")).toDF("id", "text"), "id", "text").collect()(0).getLong(1)
    assert(row.getLong(0) == viaApi)
    assert(row.getSeq[Long](1).length == 4)
    assert(row.isNullAt(2))
    // degenerate SQL inputs return null per the help text, never throw
    val edge = spark.sql(
      "SELECT minhash_sig(array(CAST(NULL AS STRING)), 4) AS m").collect()(0)
    assert(edge.isNullAt(0))
    val e = intercept[Exception](
      spark.sql("SELECT minhash_sig(array('x'), 'k')").collect())
    assert(e.getMessage.contains("integral constant"))
  }

  test("lsh_buckets is callable from SQL and matches the Scala-API bucket values") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    ColumnBridge.registerInjectedFunctions(ext, spark.sessionState.functionRegistry)
    import spark.implicits._
    val df = Seq((1L, Array(1.0f, -0.5f, 0.25f, 0.8f))).toDF("id", "v")
    df.createOrReplaceTempView("lshb_probe")
    val sqlRow = spark.sql(
      "SELECT lsh_buckets(v, 3, 4, 2) AS b FROM lshb_probe").collect()(0)
    val got = sqlRow.getSeq[Long](0)
    val viaApi = (0 until 2).map { t =>
      df.select(graft.operators.Similarity.lshBucket($"v",
        graft.operators.Similarity.hyperplaneSigns(3, 4, t)).as("b"))
        .collect()(0).getLong(0)
    }
    assert(got == viaApi)
    assert(got.length == 2)
    // null vector → null; wrong-length vector → every bucket 0 (null
    // projections fire no plane — the composed form's semantics)
    val edge = spark.sql(
      """SELECT lsh_buckets(CAST(NULL AS array<float>), 3, 4, 2) AS n,
        |       lsh_buckets(CAST(array(1.0) AS array<float>), 3, 4, 2) AS short""".stripMargin)
      .collect()(0)
    assert(edge.isNullAt(0))
    assert(edge.getSeq[Long](1) == Seq(0L, 0L))
  }

  test("the container-header decoders are callable from SQL") {
    def hxs(h: String): String = h.replaceAll("\\s", "")
    val png = hxs("89504E470D0A1A0A 0000000D 49484452 00000003 00000002 08 06 00 00 00")
    val gif = hxs("474946383961 0C00 2200 F70000")
    val wav = hxs("52494646 00000000 57415645" +
      " 666D7420 10000000 0100 0100 44AC0000 885801 00 0200 1000" +
      " 64617461 E8030000")
    val mp4 = hxs("00000010 66747970 69736F6D 00000000" +
      " 00000074 6D6F6F76" +
      " 0000006C 6D766864 00000000 00000000 00000000 000003E8 00007530") +
      ("00" * 80)
    val row = spark.sql(
      s"""SELECT
         |  image_header(unhex('$png')).width AS png_w,
         |  image_header(unhex('$gif')).height AS gif_h,
         |  audio_header(unhex('$wav')).sample_rate AS wav_sr,
         |  audio_header(unhex('$wav')).n_samples AS wav_n,
         |  video_header(unhex('$mp4')).duration_units AS mp4_dur""".stripMargin)
      .collect()(0)
    assert(row.getInt(0) == 3)
    assert(row.getInt(1) == 34)
    assert(row.getInt(2) == 44100, s"wav_sr = ${row.get(2)}")
    assert(row.getLong(3) == 500L) // 1000 data bytes / blockAlign 2
    assert(row.getLong(4) == 30000L)
  }

  test("the r16 pixel/sample decoders are callable from SQL") {
    def hxs(h: String): String = h.replaceAll("\\s", "")
    // 16-bit mono PCM WAV, 2 samples [1000, -1000], payload PRESENT
    val wav = hxs("52494646 00000000 57415645" +
      " 666D7420 10000000 0100 0100 401F0000 803E0000 0200 1000" +
      " 64617461 04000000 E803 18FC")
    // 1x1 24-bit BMP, pixel (r=9, g=8, b=7), stride-padded row
    val bmp = hxs("424D 3A000000 00000000 36000000" +
      " 28000000 01000000 01000000 0100 1800 00000000 04000000" +
      " 00000000 00000000 00000000 00000000" +
      " 070809 00")
    val row = spark.sql(
      s"""SELECT
         |  wav_pcm_features(unhex('$wav'), 2) AS w,
         |  bmp_grid_features(unhex('$bmp'), 1, 1) AS f,
         |  bmp_grid_features(bmp_resize_nearest(unhex('$bmp'), 2, 2), 1, 1) AS r,
         |  wav_pcm_features(unhex('00'), 2) AS w_null""".stripMargin)
      .collect()(0)
    assert(row.getSeq[Long](0) == Seq(1000L, -1000L))
    assert(row.getSeq[Long](1) == Seq(9L, 8L, 7L))
    assert(row.getSeq[Long](2) == Seq(36L, 32L, 28L)) // 4 copies of the pixel
    assert(row.isNullAt(3))
    // the r17 PNG pair: encode raw RGB in SQL, decode it back
    val rowP = spark.sql(
      """SELECT
        |  png_grid_features(png_encode_rgb(unhex('090807'), 1, 1), 1, 1) AS f,
        |  png_encode_rgb(unhex('090807'), 2, 1) AS bad""".stripMargin)
      .collect()(0)
    assert(rowP.getSeq[Long](0) == Seq(9L, 8L, 7L))
    assert(rowP.isNullAt(1))
    // the r18 palette pair: encode indexed pixels + an RGB table in
    // SQL, decode back through the PLTE indirection
    val rowQ = spark.sql(
      """SELECT
        |  png_grid_features(png_encode_palette(
        |    unhex('0100'), 2, 1, unhex('0A141E646E78')), 1, 1) AS f,
        |  png_encode_palette(unhex('0102'), 2, 1, unhex('0A141E')) AS bad""".stripMargin)
      .collect()(0)
    assert(rowQ.getSeq[Long](0) == Seq(110L, 130L, 150L)) // (100,110,120)+(10,20,30)
    assert(rowQ.isNullAt(1)) // an index past the 1-entry table refuses
  }

  test("the operator-family TABLE functions are callable from SQL and equal the Scala API") {
    import spark.implicits._
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    ColumnBridge.registerInjectedTableFunctions(
      ext, spark.sessionState.tableFunctionRegistry)
    val corpusDir = java.nio.file.Files.createTempDirectory("tvf-corpus").toString
    Seq((1L, "spark joins the table table"), (2L, "spark spark joins"),
      (3L, "only joins"), (4L, "table alone"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(corpusDir)
    // search TVF ≡ the Scala operator over the same parquet
    val viaSql = spark.sql(
      s"SELECT * FROM graft_search_topk('$corpusDir', 'doc_id', 'text', 'spark joins', 10)")
      .as[(Long, Long)].collect().toSeq
    val viaApi = graft.operators.TextSearch.searchTopK(
      spark.read.parquet(corpusDir), "doc_id", "text", Seq("spark", "joins"), 10)
      .as[(Long, Long)].collect().toSeq
    assert(viaSql == viaApi && viaApi.nonEmpty)
    // the msm dial rides through; BM25 + proximity TVFs analyze and run
    assert(spark.sql(
      s"SELECT * FROM graft_search_topk('$corpusDir', 'doc_id', 'text', 'spark table', 10, 1)")
      .count() == 3) // OR mode: docs 1, 2, 4 carry spark or table; doc 3 neither
    assert(spark.sql(
      s"SELECT * FROM graft_bm25_topk('$corpusDir', 'doc_id', 'text', 'spark joins', 10)")
      .as[(Long, Long)].collect().toSeq ==
      graft.operators.TextSearch.searchTopKBm25(
        spark.read.parquet(corpusDir), "doc_id", "text", Seq("spark", "joins"), 10)
        .as[(Long, Long)].collect().toSeq)
    assert(spark.sql(
      s"SELECT * FROM graft_proximity_topk('$corpusDir', 'doc_id', 'text', 'spark', 'table', 5, 10)")
      .as[(Long, Long)].collect().toSeq ==
      graft.operators.TextSearch.proximityTopK(
        spark.read.parquet(corpusDir), "doc_id", "text", "spark", "table", 5L, 10)
        .as[(Long, Long)].collect().toSeq)
    // temporal TVFs: retention + funnel over an events slice
    val eventsDir = java.nio.file.Files.createTempDirectory("tvf-events").toString
    Seq((1L, "2024-01-01 00:00:00", "view"), (1L, "2024-01-02 00:00:00", "buy"),
      (2L, "2024-01-09 00:00:00", "view"), (2L, "2024-01-16 00:00:00", "view"))
      .toDF("user_id", "ts", "step")
      .withColumn("ts", col("ts").cast("timestamp"))
      .write.mode("overwrite").parquet(eventsDir)
    assert(spark.sql(
      s"SELECT * FROM graft_retention('$eventsDir', 'user_id', 'ts')")
      .collect().toSet ==
      graft.operators.Temporal.retentionCohorts(
        spark.read.parquet(eventsDir), "user_id", "ts").collect().toSet)
    assert(spark.sql(
      s"SELECT * FROM graft_funnel('$eventsDir', 'user_id', 'ts', 'step', 'view buy')")
      .collect().toSet ==
      graft.operators.Temporal.funnel(
        spark.read.parquet(eventsDir), "user_id", "ts", "step",
        Seq("view", "buy")).collect().toSet)
    // as-of TVF: two path-named relations, defaults + the nearest dial
    val quotesDir = java.nio.file.Files.createTempDirectory("tvf-quotes").toString
    Seq((1L, 100L, 10.0), (1L, 200L, 20.0), (2L, 150L, 15.0))
      .toDF("key", "ts", "px").write.mode("overwrite").parquet(quotesDir)
    val tradesDir = java.nio.file.Files.createTempDirectory("tvf-trades").toString
    Seq((1L, 150L), (1L, 250L), (2L, 100L)).toDF("key", "ts")
      .write.mode("overwrite").parquet(tradesDir)
    assert(spark.sql(
      s"SELECT * FROM graft_asof('$tradesDir', '$quotesDir', 'key', 'ts', 'ts', 'px')")
      .collect().toSet ==
      graft.operators.Temporal.asOfJoin(
        spark.read.parquet(tradesDir), spark.read.parquet(quotesDir),
        Seq("key"), "ts", "ts", Seq("px")).collect().toSet)
    assert(spark.sql(
      s"SELECT * FROM graft_asof('$tradesDir', '$quotesDir', 'key', 'ts', 'ts', 'px', 'nearest')")
      .collect().toSet ==
      graft.operators.Temporal.asOfJoin(
        spark.read.parquet(tradesDir), spark.read.parquet(quotesDir),
        Seq("key"), "ts", "ts", Seq("px"), direction = "nearest").collect().toSet)
    // a non-constant argument is rejected loudly
    val e = intercept[Exception](spark.sql(
      s"SELECT * FROM graft_search_topk('$corpusDir', 'doc_id', 'text', lower(rand()), 10)")
      .collect())
    assert(e.getMessage.contains("terms") || e.getMessage.contains("constant"))
  }

  test("the persisted-store TABLE functions splice the dir readers' plans") {
    import spark.implicits._
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    ColumnBridge.registerInjectedTableFunctions(
      ext, spark.sessionState.tableFunctionRegistry)
    val corpus = Seq((1L, "spark joins the table table"),
      (2L, "spark spark joins 数据库"), (3L, "only joins"), (4L, "..."))
      .toDF("doc_id", "text")
    // a POSITIONAL batch store (serves frequency AND phrase readers)
    // with its dl sidecar + totals manifest, compacted
    val ix = java.nio.file.Files.createTempDirectory("tvf-store").toString + "/ix"
    graft.operators.BatchStore.positionalIndexBatch(
      corpus.filter(col("doc_id") <= 2), 0L, ix, "doc_id", "text",
      compactAtFiles = 0)
    graft.operators.BatchStore.positionalIndexBatch(
      corpus.filter(col("doc_id") > 2), 1L, ix, "doc_id", "text",
      compactAtFiles = 2)
    assert(spark.sql(
      s"SELECT * FROM graft_store_topk('$ix', 'doc_id', 'spark joins', 10)")
      .as[(Long, Long)].collect().toSeq ==
      graft.operators.TextSearch.searchTopK(corpus, "doc_id", "text",
        Seq("spark", "joins"), 10).as[(Long, Long)].collect().toSeq)
    // BM25 through the TVF = the direct corpus operator — n_docs/avgdl
    // ride the totals manifest (doc 4 is token-free and still counts)
    assert(spark.sql(
      s"SELECT * FROM graft_store_bm25('$ix', 'doc_id', 'spark joins', 10, 1)")
      .as[(Long, Long)].collect().toSeq ==
      graft.operators.TextSearch.searchTopKBm25(corpus, "doc_id", "text",
        Seq("spark", "joins"), 10, minShouldMatch = Some(1))
        .as[(Long, Long)].collect().toSeq)
    // phrase from positions alone; the string argument tokenizes through
    // the engine contract — a CJK phrase works from pure SQL
    assert(spark.sql(
      s"SELECT * FROM graft_store_phrase('$ix', 'doc_id', 'spark joins', 10)")
      .as[(Long, Long)].collect().toSeq == Seq((1L, 1L), (2L, 1L)))
    assert(spark.sql(
      s"SELECT * FROM graft_store_phrase('$ix', 'doc_id', '数据库', 10)")
      .as[(Long, Long)].collect().toSeq == Seq((2L, 1L)))
    // store MLT from SQL ≡ the DIRECT corpus operator — the strong form:
    // n_docs must come from the totals manifest (doc 4 is token-free
    // and still counts: a store-distinct fallback would score with 3
    // instead of the corpus-true 4 and this assertion would catch it)
    val probeDir = java.nio.file.Files.createTempDirectory("tvf-probe").toString
    corpus.filter(col("doc_id") === 1L).write.mode("overwrite").parquet(probeDir)
    val mltSql = spark.sql(
      s"SELECT * FROM graft_store_mlt('$ix', '$probeDir', 'doc_id', 'text', 3)")
      .as[(Long, Long, Long)].collect().toSet
    assert(mltSql.nonEmpty)
    assert(mltSql == graft.operators.TextSearch.moreLikeThis(
      corpus, corpus.filter(col("doc_id") === 1L), "doc_id", "text", 3)
      .as[(Long, Long, Long)].collect().toSet)
    // the r18 completions: every proximity shape + suggest, SQL ≡ Scala
    val store = spark.read.parquet(ix)
    assert(spark.sql(
      s"SELECT * FROM graft_store_proximity('$ix', 'doc_id', 'spark', 'joins', 4, 10)")
      .as[(Long, Long)].collect().toSeq ==
      graft.operators.TextSearch.searchStoreProximity(store, "doc_id",
        "spark", "joins", 4L, 10).as[(Long, Long)].collect().toSeq)
    assert(spark.sql(
      s"SELECT * FROM graft_store_window('$ix', 'doc_id', 'spark table', 6, 10)")
      .as[(Long, Long)].collect().toSeq ==
      graft.operators.TextSearch.searchStoreWindowProximity(store, "doc_id",
        Seq("spark", "table"), 6L, 10).as[(Long, Long)].collect().toSeq)
    assert(spark.sql(
      s"SELECT * FROM graft_store_ordered('$ix', 'doc_id', 'spark table', 6, 10)")
      .as[(Long, Long)].collect().toSeq ==
      graft.operators.TextSearch.searchStoreOrderedWindow(store, "doc_id",
        Seq("spark", "table"), 6L, 10).as[(Long, Long)].collect().toSeq)
    assert(spark.sql(
      s"SELECT * FROM graft_store_snippet('$ix', 'doc_id', 'spark table', 6, 10)")
      .as[(Long, Long, Long, Long)].collect().toSeq ==
      graft.operators.TextSearch.searchStoreSnippet(store, "doc_id",
        Seq("spark", "table"), 6L, 10)
        .as[(Long, Long, Long, Long)].collect().toSeq)
    // a CJK query string tokenizes to its bigrams through the TVF
    assert(spark.sql(
      s"SELECT * FROM graft_store_window('$ix', 'doc_id', '数据库', 4, 10)")
      .as[(Long, Long)].collect().toSeq ==
      graft.operators.TextSearch.searchStoreWindowProximity(store, "doc_id",
        Seq("数据", "据库"), 4L, 10).as[(Long, Long)].collect().toSeq)
    // suggest over the store vocabulary, df = distinct docs (doc 1 and 2
    // both hold 'spark': df 2 even though the uncompacted layout could
    // hold multiple rows)
    assert(spark.sql(
      s"SELECT * FROM graft_store_suggest('$ix', 'doc_id', 'sprk', 2, 5)")
      .as[(String, Long, Long)].collect().toSeq ==
      graft.operators.TextSearch.suggestTerms(store, "doc_id", "sprk", 2, 5)
        .as[(String, Long, Long)].collect().toSeq)
    assert(spark.sql(
      s"SELECT * FROM graft_store_suggest('$ix', 'doc_id', 'sprk', 2, 5)")
      .filter(col("term") === "spark").as[(String, Long, Long)]
      .collect().toSeq == Seq(("spark", 2L, 1L)))
  }

  test("the span-dedup derivations are callable from SQL") {
    val row = spark.sql(
      """SELECT
        |  size(token_window_hashes('a b c d', 2)) AS n_windows,
        |  size(token_window_hashes('a b', 3)) AS too_short,
        |  intra_dup_positions('a b X a b', 2) AS dup_pos,
        |  intra_dup_positions('all distinct words here', 2) AS clean""".stripMargin)
      .collect()(0)
    assert(row.getInt(0) == 3)
    assert(row.getInt(1) == 0)
    assert(row.getSeq[Int](2) == Seq(3, 4), s"got ${row.getSeq[Int](2)}")
    assert(row.getSeq[Int](3).isEmpty)
    // the SQL hash equals the operator-side h60 of the joined window
    val h = spark.sql("SELECT token_window_hashes('x y', 2)[0] AS h").collect()(0).getLong(0)
    assert(h == graft.functions.Hashing.h60Jvm("x y"))
  }

  test("the r18 analytics TABLE functions are callable from SQL and equal the Scala API") {
    import spark.implicits._
    val corpusDir = java.nio.file.Files.createTempDirectory("tvf18-docs").toString
    Seq((1L, "spark joins the table"), (2L, "spark joins spark joins"),
      (3L, "only joins here"), (4L, ""))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(corpusDir)
    assert(spark.sql(
      s"SELECT * FROM graft_top_terms('$corpusDir', 'doc_id', 'text', 2)")
      .collect().toSet ==
      graft.operators.TextSearch.topTermsPerDoc(
        spark.read.parquet(corpusDir), "doc_id", "text", 2).collect().toSet)
    assert(spark.sql(
      s"SELECT * FROM graft_collocations('$corpusDir', 'doc_id', 'text', 1, 5)")
      .collect().toSeq ==
      graft.operators.TextSearch.collocations(
        spark.read.parquet(corpusDir), "doc_id", "text", 1L, 5).collect().toSeq)

    val basketDir = java.nio.file.Files.createTempDirectory("tvf18-basket").toString
    Seq(("g1", "A"), ("g1", "B"), ("g2", "A"), ("g2", "B"), ("g3", "A"),
      ("g3", "C"), ("g4", "B")).toDF("g", "i")
      .write.mode("overwrite").parquet(basketDir)
    assert(spark.sql(
      s"SELECT * FROM graft_lift_pairs('$basketDir', 'g', 'i', 1)")
      .collect().toSet ==
      graft.operators.Graph.liftPairs(
        spark.read.parquet(basketDir), "g", "i").collect().toSet)

    val edgesDir = java.nio.file.Files.createTempDirectory("tvf18-edges").toString
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 4L))
      .toDF("src", "dst").write.mode("overwrite").parquet(edgesDir)
    assert(spark.sql(
      s"SELECT * FROM graft_label_prop('$edgesDir', 'src', 'dst', 2)")
      .collect().toSet ==
      graft.operators.Graph.labelPropagation(
        spark.read.parquet(edgesDir), 2).collect().toSet)

    val ivDir = java.nio.file.Files.createTempDirectory("tvf18-iv").toString
    Seq(("a", 0L, 10L), ("a", 5L, 20L), ("a", 30L, 31L), ("b", 1L, 4L))
      .toDF("k", "lo", "hi").write.mode("overwrite").parquet(ivDir)
    assert(spark.sql(
      s"SELECT * FROM graft_interval_coverage('$ivDir', 'k', 'lo', 'hi')")
      .collect().toSet ==
      graft.operators.Temporal.intervalCoverage(
        spark.read.parquet(ivDir), Seq("k"), "lo", "hi").collect().toSet)
    assert(spark.sql(
      s"SELECT * FROM graft_peak_concurrency('$ivDir', 'k', 'lo', 'hi')")
      .collect().toSet ==
      graft.operators.Temporal.peakConcurrency(
        spark.read.parquet(ivDir), Seq("k"), "lo", "hi").collect().toSet)

    val evDir = java.nio.file.Files.createTempDirectory("tvf18-ev").toString
    Seq((1L, 1L, 100L, "A"), (1L, 2L, 200L, "B"), (1L, 3L, 200L, "A"),
      (2L, 4L, 50L, "A"), (2L, 5L, 60L, "A"))
      .toDF("u", "eid", "t", "st").write.mode("overwrite").parquet(evDir)
    assert(spark.sql(
      s"SELECT * FROM graft_transition_matrix('$evDir', 'u', 't', 'eid', 'st')")
      .collect().toSet ==
      graft.operators.Temporal.transitionMatrix(
        spark.read.parquet(evDir), "u", "t", "eid", "st").collect().toSet)
  }
}
