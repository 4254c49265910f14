package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{BatchStore, TextSearch}
import graft.queries.ParityQueries.Q

/** Ranked keyword-retrieval queries over the `documents` corpus —
  * [[graft.operators.TextSearch]]: inverted-index postings, integer
  * rarity weights, conjunctive top-k search. The oracle rebuilds the
  * identical postings (same lowercase-alnum tokenization, RE2-safe) and
  * replays the integer scoring exactly.
  */
object SearchQueries {

  /** The q133 query terms: common corpus words (df ≈ 0.8·N at sf0.01)
    * whose conjunction still ranks — 260 of 500 docs match all three,
    * so the top-k heap is doing real work. */
  val QueryTerms = Seq("query", "scan", "merge")
  val TopK = 20

  /** SR1 — conjunctive ranked search: docs containing ALL query terms,
    * scored Σ tf·rarity, top-20 (score desc, doc_id tiebreak). */
  val q133SearchTopK: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    TextSearch.searchTopK(t.documents, "doc_id", "text", QueryTerms, TopK)
  }

  /** SR2 — the IDF-table build: corpus document frequencies with the
    * integer rarity weight, top-100 by (df desc, term) — the head of
    * the vocabulary a query planner would cache. Distinct from q42's
    * occurrence counts: df counts DOCUMENTS containing the term. */
  val q134RarityTable: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    val nDocs = t.documents.agg(count(lit(1)).as("n_docs"))
    TextSearch.rarityTable(
        TextSearch.postings(t.documents, "doc_id", "text"), nDocs)
      .orderBy(col("df").desc, col("term"))
      .limit(100)
  }

  val TopTermsK = 3

  /** SR-KW — per-document top-3 terms by tf·rarity
    * ([[TextSearch.topTermsPerDoc]]): the q133 scoring turned inward —
    * keyword extraction over the whole corpus in ONE tokenization pass
    * (postings + rarity share the exchange), a vocabulary join and a
    * per-doc window. The oracle replays tokenizer, df, rarity and the
    * (score desc, term) rank for every document. */
  val q187TopTerms: Q = (spark, dir) =>
    TextSearch.topTermsPerDoc(Tables(spark, dir).documents,
        "doc_id", "text", TopTermsK)
      .orderBy("doc_id", "rank")

  val CollocMin = 5L
  val CollocK = 50

  /** SR-CL — collocation mining ([[TextSearch.collocations]]): top-50
    * consecutive-token pairs by integer LIFT against unigram
    * independence (monotone in PMI, no libm), bigram count ≥ 5. ONE
    * corpus tokenization feeds a single (a, b)-keyed aggregation from
    * which unigram counts, the totals scalar and the pair set all
    * derive; the oracle replays tokenizer, counts and the HUGEINT
    * lift arithmetic exactly. */
  val q190Collocations: Q = (spark, dir) =>
    TextSearch.collocations(Tables(spark, dir).documents,
      "doc_id", "text", CollocMin, CollocK)

  val MltK = 5

  /** SR3 — more-like-this: a FIXED 5-doc probe set (ids < 500, every
    * 100th) against the whole corpus, 5 nearest neighbors each by
    * rarity-weighted term overlap (self excluded). The probe set is
    * fixed — not a corpus share — because MLT candidate mass is
    * Σ df(query terms): a %-of-corpus probe made the operator quadratic
    * at the 10× sweep point (59×, SCALING.md r15). */
  val q141MoreLikeThis: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    val docs = t.documents
    TextSearch.moreLikeThis(docs,
        docs.filter(col("doc_id") < 500 && col("doc_id") % 100 === 0),
        "doc_id", "text", MltK)
      .orderBy("q_doc_id", "doc_id")
  }

  /** SR4 — BM25 top-k: the same conjunctive search as q133 under the
    * full Okapi shape (tf saturation + length normalization), every
    * factor permille-integer so DuckDB replays the score exactly. */
  val q144SearchBm25: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    TextSearch.searchTopKBm25(t.documents, "doc_id", "text", QueryTerms, TopK)
  }

  /** The q145 phrase: a frequent corpus bigram (48 occurrences over 46
    * docs at sf0.01, so the occurrence ranking and the id tiebreak both
    * do real work). */
  val Phrase = Seq("table", "hash")

  /** SR5 — exact-phrase search: the phrase's 60-bit window hash embeds
    * as a literal, the corpus pass is one per-row TokenWindowHashes
    * projection + equality filter. The oracle matches the token slice
    * TEXTUALLY — validating the whole hash path end to end. */
  val q145PhraseSearch: Q = (spark, dir) =>
    TextSearch.phraseSearchTopK(Tables(spark, dir).documents,
      "doc_id", "text", Phrase, TopK)

  /** SR6 — disjunctive (minimum-should-match) ranked search: docs
    * containing at least 2 of the 3 query terms, same scoring/tiebreak
    * as q133. The dial is the real differentiator: conjunctive q133
    * matches 260 of 500 docs at sf0.01, the ≥2 relaxation adds the
    * one-term-missing population that OR-by-default retrieval exists
    * for. Plan shape is IDENTICAL to q133 (one corpus explode, reused
    * postings exchange — PlanShapeSpec). */
  val MsmAtLeast = 2
  val q146SearchOr: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    TextSearch.searchTopK(t.documents, "doc_id", "text", QueryTerms, TopK,
      minShouldMatch = Some(MsmAtLeast))
  }

  /** SR7 — pure-OR BM25: minShouldMatch = 1 under the integer-Okapi
    * scoring of q144 — the default mode of every production search box
    * (a missing term costs score, not membership). */
  val q147SearchBm25Or: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    TextSearch.searchTopKBm25(t.documents, "doc_id", "text", QueryTerms,
      TopK, minShouldMatch = Some(1))
  }

  /** SR8 — store-BM25 over a PERSISTED index directory: the corpus is
    * ingested as two committed batches (doc_id parity split),
    * compacted (postings + doc-length sidecar fold to batch_id −1),
    * and searched through [[BatchStore.searchIndexTopKBm25]] —
    * doc lengths and n_docs/avgdl come from the SIDECAR (document-
    * count-sized), never a full-store aggregation (PlanShapeSpec pins
    * the absence of the store-wide Σtf node). The oracle replays the
    * direct corpus BM25: the sidecar law is that the two are equal. */
  val q148StoreBm25: Q = (spark, dir) => {
    val ix = perProcessIndexDir(dir)
    val t = Tables(spark, dir)
    val docs = t.documents.select("doc_id", "text")
    BatchStore.searchIndexBatch(
      docs.filter(col("doc_id") % 2 === 0), 0L, ix, "doc_id", "text",
      compactAtFiles = 0)
    BatchStore.searchIndexBatch(
      docs.filter(col("doc_id") % 2 === 1), 1L, ix, "doc_id", "text",
      compactAtFiles = 2)
    BatchStore.searchIndexTopKBm25(
      spark, ix, "doc_id", QueryTerms, TopK,
      minShouldMatch = Some(MsmAtLeast))
  }

  val ProxTerms = ("table", "scan")
  val ProxWindow = 5L

  /** SR9 — two-term proximity search ([[TextSearch.proximityTopK]]):
    * top-20 docs by minimum token distance between "table" and "scan"
    * occurrences, within a 5-token window — the near-each-other
    * relevance mode between exact phrase and bag-of-words. The engine
    * computes the min via ONE window pass over the merged
    * position-sorted stream (adjacent opposite-label pairs); the
    * oracle replays the identical lag construction. */
  val q153Proximity: Q = (spark, dir) =>
    TextSearch.proximityTopK(Tables(spark, dir).documents, "doc_id", "text",
      ProxTerms._1, ProxTerms._2, ProxWindow, TopK)

  /** SR10 — proximity over a PERSISTED positional-postings store
    * ([[TextSearch.positionalPostings]] written term-partitioned, then
    * [[TextSearch.searchStoreProximity]]): the same q153 contract
    * answered WITHOUT touching corpus text — the store prunes to the
    * two terms' partitions, positions explode per matched row only.
    * Oracle = the direct q153 replay: the store law is equality. */
  val q155StoreProximity: Q = (spark, dir) =>
    TextSearch.searchStoreProximity(positionalStore(spark, dir), "doc_id",
      ProxTerms._1, ProxTerms._2, ProxWindow, TopK)

  /** SR12 — proximity over a BATCH-APPENDED positional store
    * ([[BatchStore.positionalIndexBatch]]): the
    * corpus ingested as two committed batches and COMPACTED
    * (positions merged sorted, batch_id −1, markers carried through
    * the swap), then the q153 contract answered from the store —
    * protocol + compaction + reader proven equal to the direct
    * operator by the shared oracle. */
  val q157StreamProximity: Q = (spark, dir) => {
    val ix = perProcessIndexDir(dir, "graft_posstream_p")
    val docs = Tables(spark, dir).documents.select("doc_id", "text")
    BatchStore.positionalIndexBatch(
      docs.filter(col("doc_id") % 2 === 0), 0L, ix, "doc_id", "text",
      compactAtFiles = 0)
    BatchStore.positionalIndexBatch(
      docs.filter(col("doc_id") % 2 === 1), 1L, ix, "doc_id", "text",
      compactAtFiles = 2)
    TextSearch.searchStoreProximity(spark.read.parquet(ix), "doc_id",
      ProxTerms._1, ProxTerms._2, ProxWindow, TopK)
  }

  /** The persisted positional store shared by q155/q156 — written once
    * per process, term-partitioned. An EMPTY corpus writes no parquet
    * data files (schema inference would fail on read-back), so the
    * empty case serves the zero-row in-memory relation with the same
    * schema — store semantics are unaffected (there is nothing to
    * read). */
  private def positionalStore(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val ix = perProcessIndexDir(dir, "graft_posix_p")
    val pp = TextSearch.positionalPostings(
      Tables(spark, dir).documents, "doc_id", "text")
    if (!new java.io.File(ix).exists())
      pp.write.partitionBy("term").mode("overwrite").parquet(ix)
    val hasData = Option(new java.io.File(ix).listFiles())
      .exists(_.exists(f => f.isDirectory && f.getName.startsWith("term=")))
    if (hasData) spark.read.parquet(ix) else pp.limit(0)
  }

  /** SR11 — exact phrase over the SAME positional store
    * ([[TextSearch.searchStorePhrase]]): occurrence-ranked "table hash"
    * matches answered from positions alone — offset-shifted equi-joins
    * on (doc, start), corpus text untouched. Search-token semantics
    * (alnum runs), so the oracle replays on the regexp token stream. */
  val q156StorePhrase: Q = (spark, dir) =>
    TextSearch.searchStorePhrase(positionalStore(spark, dir), "doc_id",
      Phrase, TopK)

  /** The multilingual corpus for the Unicode-tokenization queries: the
    * ASCII documents table with a deterministic per-doc multilingual
    * suffix — Han, Japanese (Katakana incl. the U+30FC prolonged-sound
    * mark), Hangul, Cyrillic, plus a no-space latin+Han MIXED run —
    * exercising every branch of the r17 tokenization contract
    * ([[TextSearch.searchTerms]]). DERIVED, not a fixture file: both
    * engines construct it from the same parquet bytes, so the oracle is
    * end-to-end (suffix construction + tokenization + scoring). */
  val MlSuffixes = Seq(
    "数据库查询引擎 spark数据",
    "分散処理システム データストリーム",
    "검색 엔진 데이터 처리",
    "большие данные поиск")

  private def mlDocs(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Tables(spark, dir).documents.select(col("doc_id"),
      concat(col("text"), lit(" "),
        element_at(array(MlSuffixes.map(lit): _*),
          (col("doc_id") % 4 + 1).cast("int"))).as("text"))

  private val mlDocsCte: String =
    s"""mldocs AS (
       |  SELECT doc_id, text || ' ' || CASE CAST(doc_id % 4 AS INT)
       |    WHEN 0 THEN '${MlSuffixes(0)}'
       |    WHEN 1 THEN '${MlSuffixes(1)}'
       |    WHEN 2 THEN '${MlSuffixes(2)}'
       |    ELSE '${MlSuffixes(3)}' END AS text
       |  FROM documents)""".stripMargin

  /** DuckDB replay of the full tokenization contract over a `(doc_id,
    * text)` CTE `src`: emits `tokstream(doc_id, term, pos)` — runs,
    * CJK/non-CJK segments, overlapping bigrams, stream positions —
    * token-for-token what [[TextSearch.searchTerms]] produces
    * (law-pinned in TextSearchSpec; cross-engine by these queries). */
  private def tokStreamCte(src: String): String = {
    val run = graft.operators.TextSearch.RunPattern
    val seg = graft.operators.TextSearch.SegPattern
    val cjkHead = "^" + graft.operators.TextSearch.CjkClass
    s"""__runs AS (
       |  SELECT doc_id,
       |    unnest(regexp_extract_all(lower(text), '$run')) AS run,
       |    unnest(range(len(regexp_extract_all(lower(text), '$run')))) AS ri
       |  FROM $src),
       |__segs AS (
       |  SELECT doc_id, ri,
       |    unnest(regexp_extract_all(run, '$seg')) AS seg,
       |    unnest(range(len(regexp_extract_all(run, '$seg')))) AS si
       |  FROM __runs),
       |__toks AS (
       |  SELECT doc_id, ri, si, unnest(tl) AS term, unnest(range(len(tl))) AS ti
       |  FROM (
       |    SELECT doc_id, ri, si,
       |      CASE WHEN length(seg) >= 2 AND regexp_matches(seg, '$cjkHead')
       |        THEN list_transform(range(1, length(seg)),
       |               i -> substring(seg, CAST(i AS INT), 2))
       |        ELSE [seg] END AS tl
       |    FROM __segs)),
       |tokstream AS (
       |  SELECT doc_id, term,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY ri, si, ti) - 1 AS pos
       |  FROM __toks)""".stripMargin
  }

  /** The q158 query STRING — tokenized by the engine itself into
    * (数据, 据库, данные, query): a Han bigram pair, a Cyrillic word
    * and an ASCII word, searched OR-mode so each script population
    * scores. */
  val UniQuery = "数据库 данные query"

  /** SR13 — multilingual ranked search: the r17 Unicode tokenization
    * end-to-end (CJK bigrams + Cyrillic + ASCII in ONE query) over the
    * derived multilingual corpus, minShouldMatch=1, same integer
    * scoring as q133. The oracle re-derives the corpus AND the token
    * stream from scratch — tokenizer, postings, rarity and ranking all
    * replay cross-engine. */
  val q158SearchUnicode: Q = (spark, dir) =>
    graft.operators.TextSearch.searchTopK(mlDocs(spark, dir), "doc_id",
      "text", graft.operators.TextSearch.searchTermsJvm(UniQuery), TopK,
      minShouldMatch = Some(1))

  /** The q159 phrase string; its token stream (数据, 据库) is the
    * consecutive-bigram sequence of the 3-char Han word. */
  val UniPhrase = "数据库"

  /** SR14 — CJK phrase through the BATCH-APPENDED positional store: the
    * multilingual corpus ingested as two committed batches,
    * compacted, then the exact phrase answered from positions alone
    * ([[TextSearch.searchStorePhrase]]) — proving the Unicode tokens
    * flows through the positional batch store, the committed-batch
    * protocol and the store reader with positions intact. */
  val q159StreamPhraseCjk: Q = (spark, dir) => {
    val ix = perProcessIndexDir(dir, "graft_posuni_p")
    val docs = mlDocs(spark, dir)
    BatchStore.positionalIndexBatch(
      docs.filter(col("doc_id") % 2 === 0), 0L, ix, "doc_id", "text",
      compactAtFiles = 0)
    BatchStore.positionalIndexBatch(
      docs.filter(col("doc_id") % 2 === 1), 1L, ix, "doc_id", "text",
      compactAtFiles = 2)
    graft.operators.TextSearch.searchStorePhrase(spark.read.parquet(ix),
      "doc_id", graft.operators.TextSearch.searchTermsJvm(UniPhrase), TopK)
  }

  val WindowTerms = Seq("table", "scan", "merge")
  val WindowW = 12L

  /** SR15 — k-term window proximity ([[TextSearch.windowProximityTopK]]):
    * top-20 docs by the minimal token span covering ALL THREE terms,
    * within a 12-token window (131 matching docs at sf0.01, spans
    * 3–12, so ranking and the cut both do real work). One window pass
    * with k running latest-occurrence columns — never positions^k. */
  val q160WindowProximity: Q = (spark, dir) =>
    graft.operators.TextSearch.windowProximityTopK(
      Tables(spark, dir).documents, "doc_id", "text",
      WindowTerms, WindowW, TopK)

  /** SR16 — the same contract over the PERSISTED positional store
    * ([[TextSearch.searchStoreWindowProximity]]): three-way partition
    * pruning, positions explode per matched row, shared minimal-cover
    * tail. Oracle = the direct replay: the store law is equality. */
  val q161StoreWindowProximity: Q = (spark, dir) =>
    graft.operators.TextSearch.searchStoreWindowProximity(
      positionalStore(spark, dir), "doc_id", WindowTerms, WindowW, TopK)

  /** SR17 — more-like-this over the PERSISTED store
    * ([[TextSearch.searchStoreMoreLikeThis]]): the q141 probe set and
    * contract answered from `(term, doc_id, tf)` store rows — probe
    * term universe collected (bounded by contract) into a LITERAL
    * pruning filter, corpus text untouched. nDocs passed as the corpus
    * count (the store only knows docs with ≥1 token). Oracle = the
    * q141 replay: direct ≡ store. */
  val q162StoreMlt: Q = (spark, dir) => {
    val t = Tables(spark, dir)
    val docs = t.documents
    graft.operators.TextSearch.searchStoreMoreLikeThis(
        positionalStore(spark, dir),
        docs.filter(col("doc_id") < 500 && col("doc_id") % 100 === 0),
        "doc_id", "text", MltK, nDocs = Some(docs.count()))
      .orderBy("q_doc_id", "doc_id")
  }

  /** SR18 — ORDERED window proximity ([[TextSearch.orderedWindowTopK]]):
    * the q160 terms required IN ORDER (table < scan < merge as token
    * positions) within the same 12-token window — phrase-with-slop as
    * a subsequence match. 37 docs match at sf0.01 (vs 131 unordered:
    * order is a real constraint here), spans 3–12. The minimal-window-
    * subsequence DP runs as stacked chain-start window columns over ONE
    * sorted pass; the oracle replays the identical construction. */
  val q164OrderedNear: Q = (spark, dir) =>
    graft.operators.TextSearch.orderedWindowTopK(
      Tables(spark, dir).documents, "doc_id", "text",
      WindowTerms, WindowW, TopK)

  /** SR19 — the ordered form over the PERSISTED positional store
    * ([[TextSearch.searchStoreOrderedWindow]]): partition-pruned terms,
    * positions explode per matched row, shared DP tail. Oracle = the
    * direct replay (store ≡ direct). */
  val q165StoreOrderedNear: Q = (spark, dir) =>
    graft.operators.TextSearch.searchStoreOrderedWindow(
      positionalStore(spark, dir), "doc_id", WindowTerms, WindowW, TopK)

  /** SR20 — snippet extraction ([[TextSearch.snippetTopK]]): the q160
    * ranking plus WHERE the best window sits — (window_span,
    * snippet_start, snippet_end) token offsets of the tightest
    * all-terms window, ties to the earliest start. Offsets, never
    * text: a UI slices the stored document itself. */
  val q166Snippet: Q = (spark, dir) =>
    graft.operators.TextSearch.snippetTopK(
      Tables(spark, dir).documents, "doc_id", "text",
      WindowTerms, WindowW, TopK)

  val Typo = "qery"
  val SuggestDist = 2

  /** SR21 — "did you mean" ([[TextSearch.suggestTerms]]): vocabulary
    * terms within 2 edits of the typo "qery", ranked by (distance, df
    * desc, term) — at sf0.01 that is `query` (d=1, df=385) then `key`
    * (d=2, df=373): the correction users actually meant ranks first
    * because the ranking is corpus-frequency-aware. Vocabulary-linear
    * with the length pigeonhole pushed ahead of the levenshtein. */
  val q167Suggest: Q = (spark, dir) =>
    graft.operators.TextSearch.suggestTerms(
      graft.operators.TextSearch.postings(
        Tables(spark, dir).documents, "doc_id", "text"),
      "doc_id", Typo, SuggestDist, TopK)

  /** The q168 takedown list: every 7th-mod-3 document (~14% of the
    * corpus) — large enough that n_docs/avgdl/df all move. */
  val TakedownMod = 7L
  val TakedownRem = 3L

  /** SR22 — retrieval-store TAKEDOWN, strong form: the corpus ingested
    * as two committed batches, a takedown list applied through
    * [[BatchStore.deleteSwapSearchIndex]] —
    * postings, doc-length sidecar and totals manifest all fold
    * together — then the store searched with BM25. The oracle replays
    * BM25 over the SURVIVING corpus only: n_docs, avgdl, df and every
    * score shift with the deletion, so a takedown that left ANY
    * derivative stale (a lingering posting, an undeleted sidecar row,
    * a stale manifest scalar) hash-mismatches. Idempotent per process:
    * replayed batches skip on their commit markers, a re-applied list
    * finds no ids and no-ops. */
  val q168StoreTakedown: Q = (spark, dir) => {
    val ix = perProcessIndexDir(dir, "graft_takedownix_p")
    val docs = Tables(spark, dir).documents.select("doc_id", "text")
    BatchStore.searchIndexBatch(
      docs.filter(col("doc_id") % 2 === 0), 0L, ix, "doc_id", "text",
      compactAtFiles = 0)
    BatchStore.searchIndexBatch(
      docs.filter(col("doc_id") % 2 === 1), 1L, ix, "doc_id", "text",
      compactAtFiles = 0)
    BatchStore.deleteSwapSearchIndex(spark, ix,
      "doc_id",
      docs.filter(col("doc_id") % TakedownMod === TakedownRem)
        .select("doc_id"))
    BatchStore.searchIndexTopKBm25(
      spark, ix, "doc_id", QueryTerms, TopK,
      minShouldMatch = Some(MsmAtLeast))
  }

  /** Per-process store dir for q148/q155, removed on JVM exit (the
    * ScaleQueries tmpdir-hygiene pattern). */
  private def perProcessIndexDir(dir: String,
      prefix: String = "graft_searchix_p"): String = {
    val f = new java.io.File(sys.props("java.io.tmpdir"),
      prefix + ProcessHandle.current().pid() + "_" +
        dir.toLowerCase.replaceAll("[^a-z0-9]+", "_"))
    if (cleanupDirs.add(f.toString)) Runtime.getRuntime.addShutdownHook(
      new Thread(() => {
        try {
          import scala.jdk.CollectionConverters._
          for (d <- Seq(f, new java.io.File(f.toString + "__dl"))
               if d.exists())
            java.nio.file.Files.walk(d.toPath).iterator().asScala.toSeq
              .sortBy(-_.getNameCount)
              .foreach(java.nio.file.Files.deleteIfExists(_))
        } catch { case _: Throwable => () }
      }))
    f.toString
  }
  private val cleanupDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  val all: Map[String, Q] = Map(
    "q133_search_topk" -> q133SearchTopK,
    "q134_rarity_table" -> q134RarityTable,
    "q141_more_like_this" -> q141MoreLikeThis,
    "q144_search_bm25" -> q144SearchBm25,
    "q145_phrase_search" -> q145PhraseSearch,
    "q146_search_or" -> q146SearchOr,
    "q147_search_bm25_or" -> q147SearchBm25Or,
    "q148_store_bm25" -> q148StoreBm25,
    "q153_proximity" -> q153Proximity,
    "q155_store_proximity" -> q155StoreProximity,
    "q156_store_phrase" -> q156StorePhrase,
    "q157_stream_proximity" -> q157StreamProximity,
    "q158_search_unicode" -> q158SearchUnicode,
    "q159_stream_phrase_cjk" -> q159StreamPhraseCjk,
    "q160_window_proximity" -> q160WindowProximity,
    "q161_store_window_proximity" -> q161StoreWindowProximity,
    "q162_store_mlt" -> q162StoreMlt,
    "q164_ordered_near" -> q164OrderedNear,
    "q165_store_ordered_near" -> q165StoreOrderedNear,
    "q166_snippet" -> q166Snippet,
    "q167_suggest" -> q167Suggest,
    "q168_store_takedown" -> q168StoreTakedown,
    "q187_top_terms" -> q187TopTerms,
    "q190_collocations" -> q190Collocations)

  // ------------------------------------------------------------- oracle SQL

  private val postCte =
    """post AS (
      |  SELECT term, doc_id, COUNT(*) AS tf FROM (
      |    SELECT doc_id,
      |      unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      |    FROM documents)
      |  GROUP BY term, doc_id)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q190_collocations" ->
      s"""WITH toks AS (
         |  SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS t
         |  FROM documents),
         |units AS (
         |  SELECT unnest(list_transform(generate_series(1, len(t)),
         |    i -> struct_pack(a := t[i],
         |                     b := CASE WHEN i < len(t) THEN t[i+1] END))) AS p
         |  FROM toks WHERE len(t) > 0),
         |ab AS (SELECT p.a AS a, p.b AS b, count(*) AS n_ab
         |       FROM units GROUP BY 1, 2),
         |uc AS (SELECT a, SUM(n_ab) AS n_a FROM ab GROUP BY 1),
         |tt AS (SELECT SUM(n_a) AS tot FROM uc),
         |pr AS (SELECT a, b, n_ab FROM ab
         |       WHERE b IS NOT NULL AND n_ab >= $CollocMin)
         |SELECT pr.a AS a, pr.b AS b, pr.n_ab,
         |  CAST((pr.n_ab::HUGEINT * tt.tot * 1000000) //
         |       (ua.n_a::HUGEINT * ub.n_a) AS BIGINT) AS lift_micro
         |FROM pr CROSS JOIN tt
         |JOIN uc ua ON pr.a = ua.a
         |JOIN uc ub ON pr.b = ub.a
         |ORDER BY lift_micro DESC, pr.a, pr.b LIMIT $CollocK""".stripMargin,
    "q187_top_terms" ->
      s"""WITH $postCte,
         |tot AS (SELECT COUNT(*) AS n_docs FROM documents),
         |rar AS (
         |  SELECT term, (tot.n_docs * 1000) // COUNT(*) AS rarity
         |  FROM post, tot GROUP BY term, tot.n_docs),
         |sc AS (
         |  SELECT post.doc_id, post.term, post.tf, rar.rarity,
         |    post.tf * rar.rarity AS score
         |  FROM post JOIN rar USING (term)),
         |rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, term) AS rank
         |  FROM sc)
         |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
         |  CAST(rarity AS BIGINT) AS rarity, CAST(score AS BIGINT) AS score,
         |  CAST(rank AS INTEGER) AS rank
         |FROM rk WHERE rank <= $TopTermsK
         |ORDER BY doc_id, rank""".stripMargin,
    "q133_search_topk" -> {
      val inList = QueryTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH $postCte,
         |q AS (SELECT * FROM post WHERE term IN ($inList)),
         |tot AS (SELECT COUNT(*) AS n_docs FROM documents),
         |rar AS (
         |  SELECT term, (tot.n_docs * 1000) // COUNT(*) AS rarity
         |  FROM q, tot GROUP BY term, tot.n_docs),
         |s AS (
         |  SELECT q.doc_id, COUNT(*) AS nt, SUM(q.tf * rar.rarity) AS score
         |  FROM q JOIN rar USING (term) GROUP BY q.doc_id)
         |SELECT doc_id, CAST(score AS BIGINT) AS score FROM s
         |WHERE nt = ${QueryTerms.size}
         |ORDER BY score DESC, doc_id LIMIT $TopK""".stripMargin
    },
    "q134_rarity_table" ->
      s"""WITH $postCte,
         |tot AS (SELECT COUNT(*) AS n_docs FROM documents),
         |rar AS (
         |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
         |    CAST((tot.n_docs * 1000) // COUNT(*) AS BIGINT) AS rarity
         |  FROM post, tot GROUP BY term, tot.n_docs)
         |SELECT term, df, rarity FROM rar
         |ORDER BY df DESC, term LIMIT 100""".stripMargin,
    "q145_phrase_search" -> {
      val n = Phrase.length
      val lit = Phrase.mkString(" ")
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |                t -> t <> '') AS ts
         |  FROM documents),
         |a AS (
         |  SELECT doc_id, unnest(range(0, len(ts) - $n + 1)) AS pos, ts
         |  FROM toks WHERE len(ts) >= $n),
         |m AS (
         |  SELECT doc_id FROM a
         |  WHERE array_to_string(ts[pos + 1 : pos + $n], ' ') = '$lit')
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
         |FROM m GROUP BY doc_id
         |ORDER BY n_occurrences DESC, doc_id LIMIT $TopK""".stripMargin
    },
    "q144_search_bm25" -> {
      val inList = QueryTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH $postCte,
         |dl AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS dl
         |  FROM documents),
         |tot AS (
         |  SELECT COUNT(*) AS n_docs,
         |    greatest((COALESCE(SUM(dl), 0) * 1000) // COUNT(*), 1) AS avgdl_milli
         |  FROM dl),
         |q AS (SELECT * FROM post WHERE term IN ($inList)),
         |rar AS (
         |  SELECT term, (tot.n_docs * 1000) // COUNT(*) AS rarity
         |  FROM q, tot GROUP BY term, tot.n_docs),
         |s AS (
         |  SELECT q.doc_id, COUNT(*) AS nt,
         |    SUM((r.rarity * q.tf * 2200)
         |        // (q.tf * 1000 + (1200 * (250 + (750 * dl.dl * 1000) // tot.avgdl_milli)) // 1000))
         |      AS score
         |  FROM q JOIN rar r USING (term) JOIN dl USING (doc_id), tot
         |  GROUP BY q.doc_id)
         |SELECT doc_id, CAST(score AS BIGINT) AS score FROM s
         |WHERE nt = ${QueryTerms.size}
         |ORDER BY score DESC, doc_id LIMIT $TopK""".stripMargin
    },
    "q146_search_or" -> {
      val inList = QueryTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH $postCte,
         |q AS (SELECT * FROM post WHERE term IN ($inList)),
         |tot AS (SELECT COUNT(*) AS n_docs FROM documents),
         |rar AS (
         |  SELECT term, (tot.n_docs * 1000) // COUNT(*) AS rarity
         |  FROM q, tot GROUP BY term, tot.n_docs),
         |s AS (
         |  SELECT q.doc_id, COUNT(*) AS nt, SUM(q.tf * rar.rarity) AS score
         |  FROM q JOIN rar USING (term) GROUP BY q.doc_id)
         |SELECT doc_id, CAST(score AS BIGINT) AS score FROM s
         |WHERE nt >= $MsmAtLeast
         |ORDER BY score DESC, doc_id LIMIT $TopK""".stripMargin
    },
    "q147_search_bm25_or" -> {
      val inList = QueryTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH $postCte,
         |dl AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS dl
         |  FROM documents),
         |tot AS (
         |  SELECT COUNT(*) AS n_docs,
         |    greatest((COALESCE(SUM(dl), 0) * 1000) // COUNT(*), 1) AS avgdl_milli
         |  FROM dl),
         |q AS (SELECT * FROM post WHERE term IN ($inList)),
         |rar AS (
         |  SELECT term, (tot.n_docs * 1000) // COUNT(*) AS rarity
         |  FROM q, tot GROUP BY term, tot.n_docs),
         |s AS (
         |  SELECT q.doc_id, COUNT(*) AS nt,
         |    SUM((r.rarity * q.tf * 2200)
         |        // (q.tf * 1000 + (1200 * (250 + (750 * dl.dl * 1000) // tot.avgdl_milli)) // 1000))
         |      AS score
         |  FROM q JOIN rar r USING (term) JOIN dl USING (doc_id), tot
         |  GROUP BY q.doc_id)
         |SELECT doc_id, CAST(score AS BIGINT) AS score FROM s
         |WHERE nt >= 1
         |ORDER BY score DESC, doc_id LIMIT $TopK""".stripMargin
    },
    "q148_store_bm25" -> {
      val inList = QueryTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH $postCte,
         |dl AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS dl
         |  FROM documents),
         |tot AS (
         |  SELECT COUNT(*) AS n_docs,
         |    greatest((COALESCE(SUM(dl), 0) * 1000) // COUNT(*), 1) AS avgdl_milli
         |  FROM dl),
         |q AS (SELECT * FROM post WHERE term IN ($inList)),
         |rar AS (
         |  SELECT term, (tot.n_docs * 1000) // COUNT(*) AS rarity
         |  FROM q, tot GROUP BY term, tot.n_docs),
         |s AS (
         |  SELECT q.doc_id, COUNT(*) AS nt,
         |    SUM((r.rarity * q.tf * 2200)
         |        // (q.tf * 1000 + (1200 * (250 + (750 * dl.dl * 1000) // tot.avgdl_milli)) // 1000))
         |      AS score
         |  FROM q JOIN rar r USING (term) JOIN dl USING (doc_id), tot
         |  GROUP BY q.doc_id)
         |SELECT doc_id, CAST(score AS BIGINT) AS score FROM s
         |WHERE nt >= $MsmAtLeast
         |ORDER BY score DESC, doc_id LIMIT $TopK""".stripMargin
    },
    "q153_proximity" -> proximityOracleSql,
    // the store law IS equality with the direct operator — one oracle
    "q155_store_proximity" -> proximityOracleSql,
    "q157_stream_proximity" -> proximityOracleSql,
    "q160_window_proximity" -> windowProximityOracleSql,
    "q161_store_window_proximity" -> windowProximityOracleSql,
    "q164_ordered_near" -> orderedNearOracleSql,
    "q165_store_ordered_near" -> orderedNearOracleSql,
    "q167_suggest" ->
      s"""WITH $postCte,
         |vocab AS (SELECT term, COUNT(*) AS df FROM post GROUP BY term)
         |SELECT term, CAST(df AS BIGINT) AS df,
         |  CAST(levenshtein(term, '$Typo') AS BIGINT) AS distance
         |FROM vocab
         |WHERE levenshtein(term, '$Typo') <= $SuggestDist AND term <> '$Typo'
         |ORDER BY distance, df DESC, term LIMIT $TopK""".stripMargin,
    "q166_snippet" -> {
      val ts = WindowTerms
      val lcols = ts.zipWithIndex.map { case (t, i) =>
        s"max(CASE WHEN term = '$t' THEN pos END) OVER win AS l$i"
      }.mkString(",\n    ")
      val lrefs = ts.indices.map(i => s"l$i").mkString(", ")
      val notnull = ts.indices.map(i => s"l$i IS NOT NULL").mkString(" AND ")
      val inList = ts.map(t => s"'$t'").mkString(", ")
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term,
         |    unnest(range(0, len(regexp_extract_all(lower(text), '[a-z0-9]+')))) AS pos
         |  FROM documents),
         |p AS (SELECT doc_id, term, pos FROM toks WHERE term IN ($inList)),
         |w AS (
         |  SELECT doc_id, pos,
         |    $lcols
         |  FROM p WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
         |c AS (
         |  SELECT doc_id, pos - least($lrefs) + 1 AS window_span,
         |    least($lrefs) AS snippet_start, pos AS snippet_end
         |  FROM w WHERE $notnull),
         |r AS (
         |  SELECT *, row_number()
         |    OVER (PARTITION BY doc_id ORDER BY window_span, snippet_start) AS rk
         |  FROM c)
         |SELECT doc_id, CAST(window_span AS BIGINT) AS window_span,
         |  CAST(snippet_start AS BIGINT) AS snippet_start,
         |  CAST(snippet_end AS BIGINT) AS snippet_end
         |FROM r WHERE rk = 1 AND window_span <= $WindowW
         |ORDER BY window_span, doc_id LIMIT $TopK""".stripMargin
    },
    "q156_store_phrase" -> {
      val ts = Phrase.map(_.toLowerCase)
      val starts = ts.zipWithIndex.map { case (t, i) =>
        s"s$i AS (SELECT doc_id, pos - $i AS start FROM toks WHERE term = '$t')"
      }.mkString(",\n")
      val joins = (1 until ts.size)
        .map(i => s"JOIN s$i USING (doc_id, start)").mkString(" ")
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term,
         |    unnest(range(0, len(regexp_extract_all(lower(text), '[a-z0-9]+')))) AS pos
         |  FROM documents),
         |$starts,
         |m AS (SELECT doc_id, start FROM s0 $joins)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
         |FROM m GROUP BY doc_id
         |ORDER BY n_occurrences DESC, doc_id LIMIT $TopK""".stripMargin
    },
    "q158_search_unicode" -> {
      val terms = graft.operators.TextSearch.searchTermsJvm(UniQuery)
        .distinct.map(t => s"'$t'").mkString(", ")
      s"""WITH $mlDocsCte,
         |${tokStreamCte("mldocs")},
         |post AS (
         |  SELECT term, doc_id, COUNT(*) AS tf FROM tokstream
         |  GROUP BY term, doc_id),
         |q AS (SELECT * FROM post WHERE term IN ($terms)),
         |tot AS (SELECT COUNT(*) AS n_docs FROM mldocs),
         |rar AS (
         |  SELECT term, (tot.n_docs * 1000) // COUNT(*) AS rarity
         |  FROM q, tot GROUP BY term, tot.n_docs),
         |s AS (
         |  SELECT q.doc_id, COUNT(*) AS nt, SUM(q.tf * rar.rarity) AS score
         |  FROM q JOIN rar USING (term) GROUP BY q.doc_id)
         |SELECT doc_id, CAST(score AS BIGINT) AS score FROM s
         |WHERE nt >= 1
         |ORDER BY score DESC, doc_id LIMIT $TopK""".stripMargin
    },
    "q159_stream_phrase_cjk" -> {
      val ts = graft.operators.TextSearch.searchTermsJvm(UniPhrase)
      val starts = ts.zipWithIndex.map { case (t, i) =>
        s"s$i AS (SELECT doc_id, pos - $i AS start FROM tokstream WHERE term = '$t')"
      }.mkString(",\n")
      val joins = (1 until ts.size)
        .map(i => s"JOIN s$i USING (doc_id, start)").mkString(" ")
      s"""WITH $mlDocsCte,
         |${tokStreamCte("mldocs")},
         |$starts,
         |m AS (SELECT doc_id, start FROM s0 $joins)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
         |FROM m GROUP BY doc_id
         |ORDER BY n_occurrences DESC, doc_id LIMIT $TopK""".stripMargin
    },
    "q141_more_like_this" -> mltOracleSql,
    // store ≡ direct: one oracle (q162 answers q141's contract from the store)
    "q162_store_mlt" -> mltOracleSql,
    // the takedown's strong form: the oracle is BM25 over the SURVIVING
    // corpus — every scalar (n_docs, avgdl, df) must shift with the
    // deletion for the hashes to match
    "q168_store_takedown" -> {
      val inList = QueryTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH surv AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE doc_id % $TakedownMod <> $TakedownRem),
         |post AS (
         |  SELECT term, doc_id, COUNT(*) AS tf FROM (
         |    SELECT doc_id,
         |      unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
         |    FROM surv)
         |  GROUP BY term, doc_id),
         |dl AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS dl
         |  FROM surv),
         |tot AS (
         |  SELECT COUNT(*) AS n_docs,
         |    greatest((COALESCE(SUM(dl), 0) * 1000) // COUNT(*), 1) AS avgdl_milli
         |  FROM dl),
         |q AS (SELECT * FROM post WHERE term IN ($inList)),
         |rar AS (
         |  SELECT term, (tot.n_docs * 1000) // COUNT(*) AS rarity
         |  FROM q, tot GROUP BY term, tot.n_docs),
         |s AS (
         |  SELECT q.doc_id, COUNT(*) AS nt,
         |    SUM((r.rarity * q.tf * 2200)
         |        // (q.tf * 1000 + (1200 * (250 + (750 * dl.dl * 1000) // tot.avgdl_milli)) // 1000))
         |      AS score
         |  FROM q JOIN rar r USING (term) JOIN dl USING (doc_id), tot
         |  GROUP BY q.doc_id)
         |SELECT doc_id, CAST(score AS BIGINT) AS score FROM s
         |WHERE nt >= $MsmAtLeast
         |ORDER BY score DESC, doc_id LIMIT $TopK""".stripMargin
    })

  private lazy val mltOracleSql: String =
      s"""WITH $postCte,
         |qpost AS (SELECT term, doc_id AS qid FROM post
         |          WHERE doc_id < 500 AND doc_id % 100 = 0),
         |qterms AS (SELECT DISTINCT term FROM qpost),
         |cpost AS (SELECT p.* FROM post p JOIN qterms USING (term)),
         |tot AS (SELECT COUNT(*) AS n_docs FROM documents),
         |rar AS (
         |  SELECT term, (tot.n_docs * 1000) // COUNT(*) AS rarity
         |  FROM cpost, tot GROUP BY term, tot.n_docs),
         |sc AS (
         |  SELECT q.qid, c.doc_id, SUM(c.tf * r.rarity) AS score
         |  FROM cpost c JOIN rar r USING (term) JOIN qpost q USING (term)
         |  WHERE q.qid <> c.doc_id GROUP BY q.qid, c.doc_id),
         |rk AS (
         |  SELECT qid, doc_id, score,
         |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rk
         |  FROM sc)
         |SELECT qid AS q_doc_id, doc_id, CAST(score AS BIGINT) AS score
         |FROM rk WHERE rk <= $MltK ORDER BY q_doc_id, doc_id""".stripMargin

  /** The q160/q161 oracle: the identical running-latest-occurrence
    * minimal-cover construction over the regexp token stream. */
  private lazy val windowProximityOracleSql: String = {
    val ts = WindowTerms
    val lcols = ts.zipWithIndex.map { case (t, i) =>
      s"max(CASE WHEN term = '$t' THEN pos END) OVER win AS l$i"
    }.mkString(",\n    ")
    val lrefs = ts.indices.map(i => s"l$i").mkString(", ")
    val notnull = ts.indices.map(i => s"l$i IS NOT NULL").mkString(" AND ")
    val inList = ts.map(t => s"'$t'").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term,
       |    unnest(range(0, len(regexp_extract_all(lower(text), '[a-z0-9]+')))) AS pos
       |  FROM documents),
       |p AS (SELECT doc_id, term, pos FROM toks WHERE term IN ($inList)),
       |w AS (
       |  SELECT doc_id, pos,
       |    $lcols
       |  FROM p WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
       |m AS (
       |  SELECT doc_id, MIN(pos - least($lrefs) + 1) AS window_span
       |  FROM w WHERE $notnull
       |  GROUP BY doc_id)
       |SELECT doc_id, CAST(window_span AS BIGINT) AS window_span
       |FROM m WHERE window_span <= $WindowW
       |ORDER BY window_span, doc_id LIMIT $TopK""".stripMargin
  }

  /** The q164/q165 oracle: the identical stacked chain-start DP over
    * the regexp token stream (c0 = latest t0 pos; c_j = latest c_{j−1}
    * at a t_j row; span at a t_last row = pos − c_last + 1). */
  private lazy val orderedNearOracleSql: String = {
    val ts = WindowTerms
    val inList = ts.map(t => s"'$t'").mkString(", ")
    val ctes = (0 until ts.size - 1).map { i =>
      val src = if (i == 0) "p" else s"w${i - 1}"
      val value = if (i == 0) "pos" else s"c${i - 1}"
      val carry = if (i == 0) "" else (0 until i).map(j => s", c$j").mkString
      s"""w$i AS (
         |  SELECT doc_id, term, pos$carry,
         |    max(CASE WHEN term = '${ts(i)}' THEN $value END)
         |      OVER (PARTITION BY doc_id ORDER BY pos) AS c$i
         |  FROM $src)""".stripMargin
    }.mkString(",\n")
    val last = ts.size - 2
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term,
       |    unnest(range(0, len(regexp_extract_all(lower(text), '[a-z0-9]+')))) AS pos
       |  FROM documents),
       |p AS (SELECT doc_id, term, pos FROM toks WHERE term IN ($inList)),
       |$ctes,
       |m AS (
       |  SELECT doc_id, MIN(pos - c$last + 1) AS window_span FROM w$last
       |  WHERE term = '${ts.last}' AND c$last IS NOT NULL GROUP BY doc_id)
       |SELECT doc_id, CAST(window_span AS BIGINT) AS window_span
       |FROM m WHERE window_span <= $WindowW
       |ORDER BY window_span, doc_id LIMIT $TopK""".stripMargin
  }

  private lazy val proximityOracleSql: String = {
      val (a, b) = ProxTerms
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term,
         |    unnest(range(0, len(regexp_extract_all(lower(text), '[a-z0-9]+')))) AS pos
         |  FROM documents),
         |p AS (SELECT doc_id, term, pos FROM toks WHERE term IN ('$a', '$b')),
         |w AS (
         |  SELECT doc_id, term, pos,
         |    lag(term) OVER (PARTITION BY doc_id ORDER BY pos) AS pt,
         |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS pp
         |  FROM p),
         |m AS (
         |  SELECT doc_id, MIN(pos - pp) AS min_distance FROM w
         |  WHERE pt IS NOT NULL AND pt <> term GROUP BY doc_id)
         |SELECT doc_id, CAST(min_distance AS BIGINT) AS min_distance
         |FROM m WHERE min_distance <= $ProxWindow
         |ORDER BY min_distance, doc_id LIMIT $TopK""".stripMargin
  }
}
