package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ranked keyword retrieval over a document corpus — the inverted-index
  * family a curation/analytics engine needs once the corpus is big enough
  * that "grep it" stops being a plan: build a postings relation once,
  * derive document frequencies and integer rarity weights from it, and
  * answer top-k queries — conjunctive through pure-OR via the
  * minimum-should-match dial — touching only the query terms' postings.
  *
  * Engine extension beyond the reference surface (the reference's text
  * handling is row-local cleaning — `prep/down_water_prep.py` has no
  * retrieval path); the operator family follows the classic
  * inverted-index / TF-IDF construction from the IR literature, with the
  * idf replaced by an integer rarity weight so the DuckDB oracle replays
  * scoring bit-for-bit (the repo-wide integer-exactness discipline —
  * IEEE `ln` is not portable across engines, integer `div` is).
  *
  * Scale posture (100 TB corpus):
  *  - [[postings]] is ONE explode + ONE (term, doc) aggregation — the
  *    corpus body is scanned once and only (term, doc_id, tf) longs
  *    shuffle. Materialize it partitioned by `term` and searches never
  *    touch the corpus again.
  *  - [[searchTopK]] filters postings to the ≤|terms| query terms BEFORE
  *    anything shuffles (on a term-partitioned store that is partition
  *    pruning); document frequencies for scoring come from the same
  *    filtered slice (df of a term only needs that term's postings), so
  *    the per-query cost is proportional to the matched postings, never
  *    the corpus. The rarity relation is ≤|terms| rows and broadcasts;
  *    the final top-k is an orderBy+limit, which Spark plans as
  *    TakeOrderedAndProject — per-partition heaps, no global sort.
  */
object TextSearch {

  /** Search tokenization contract — Unicode-aware with CJK bigrams (the
    * classic public-knowledge CJK indexing scheme: Lucene-style bigram
    * emission over letter/digit runs). Chosen over
    * [[graft.functions.TextAnalysis.tokensBpe]] for the index path
    * because retrieval wants case-folded, punctuation-free terms.
    *
    *   1. case-fold: `lower(text)`;
    *   2. runs: maximal `[\p{L}\p{N}]+` matches, in order — punctuation,
    *      whitespace and symbols separate tokens;
    *   3. each run splits into maximal CJK / non-CJK segments
    *      ([[CjkRanges]]: Han, Hiragana/Katakana letters incl. the
    *      prolonged-sound mark, Hangul syllables — all BMP LETTER
    *      codepoints, so Java and RE2 category tables cannot disagree
    *      about run membership inside the class);
    *   4. a non-CJK segment IS a token (so Cyrillic/Greek/Arabic/Latin
    *      words index whole); a CJK segment of n codepoints emits its
    *      n−1 overlapping BIGRAMS (a lone CJK char emits its unigram) —
    *      scriptio continua has no spaces to segment on, and bigrams
    *      are the standard recall/precision compromise.
    *
    * Positions are indexes in the emitted stream: consecutive bigrams
    * overlap by one char, so a CJK phrase is exactly its consecutive-
    * bigram token sequence and phrase/proximity operators work
    * unchanged. The regex patterns below are RE2-safe (`\x{...}`
    * classes, no lookaround) and are what the DuckDB oracle replays;
    * since r18 the ENGINE side evaluates the identical contract through
    * the native [[graft.functions.SearchTokens]] expression instead of
    * the regex-in-lambda chain — one byte walk for ASCII documents, one
    * codepoint walk (ROOT-locale folded, closing the executor-locale
    * divergence the r17 advisor flagged) otherwise; law-tested equal to
    * [[searchTermsJvm]] and to the declarative chain in TextSearchSpec,
    * 28× cheaper warm-pass on the all-CJK sweep corpus and 2.4× on the
    * ASCII one (SCALING.md r18). */
  val RunPattern = "[\\p{L}\\p{N}]+"

  /** BMP letter codepoints tokenized as CJK: Hiragana letters, Katakana
    * letters + prolonged-sound mark (U+30FC, category Lm), CJK Unified
    * Ideographs (+ Ext A, compatibility), Hangul syllables. Deliberately
    * EXCLUDES the non-letter codepoints inside those blocks (kana
    * punctuation, voicing marks) — they never survive step 2, keeping
    * the class ⊂ `\p{L}` on both regexp engines. */
  val CjkRanges: String =
    "\\x{3041}-\\x{3096}\\x{30A1}-\\x{30FA}\\x{30FC}" +
      "\\x{3400}-\\x{4DBF}\\x{4E00}-\\x{9FFF}\\x{F900}-\\x{FAFF}" +
      "\\x{AC00}-\\x{D7A3}"
  val CjkClass: String = s"[$CjkRanges]"
  val SegPattern: String = s"$CjkClass+|[^$CjkRanges]+"

  def searchTerms(text: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.SearchTokens(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text)))

  /** The pre-r18 declarative tokenizer — the regex/higher-order-function
    * chain [[searchTerms]]'s native expression replaced, kept as the
    * law-test witness (TextSearchSpec pins native ≡ declarative on
    * generated strings; the DuckDB oracle replays this construction via
    * [[RunPattern]]/[[SegPattern]]). One known divergence, documented
    * on [[graft.functions.SearchTokens]]: Spark's collation-aware
    * `lower()` applies the Greek Final_Cased rule with ICU context
    * detection, the contract's ROOT fold with the JDK's — they differ
    * on Σ near surrogate pairs, where this chain also disagreed with
    * the QUERY side ([[searchTermsJvm]]); the native form pins both
    * sides to one fold. */
  private[graft] def searchTermsDeclarative(text: Column): Column = {
    val lowered = lower(text)
    val fast = regexp_extract_all(lowered, lit(RunPattern), lit(0))
    val toks = flatten(transform(fast, r => {
      val segs = regexp_extract_all(r, lit(SegPattern), lit(0))
      flatten(transform(segs, s =>
        when(length(s) >= 2 && s.rlike(s"^$CjkClass"),
          transform(sequence(lit(1), length(s) - 1), i => s.substr(i, lit(2))))
          .otherwise(array(s))))
    }))
    when(lowered.rlike(CjkClass), toks).otherwise(fast)
  }

  /** JVM mirror of [[searchTerms]] — tokenize a human QUERY string into
    * the exact token stream the index holds (law-tested equal to the
    * column form in TextSearchSpec). Query-side tokenization is always
    * driver-side and query-sized, so a JVM mirror is the right tool;
    * the corpus side stays the codegen-friendly column form. */
  def searchTermsJvm(text: String): Seq[String] = {
    // Locale.ROOT on BOTH sides since r18: the column tokenizer
    // ([[graft.functions.SearchTokens]]) folds with ROOT too, so corpus
    // and query sides agree on every JVM — including Turkish/Azeri
    // executor locales, where the old lower()-based chain folded
    // non-ASCII-bearing corpus strings with the DEFAULT locale
    // ("TITLE数据" indexed as 'tıtle…' while the query side produced
    // 'title', silently zero-hit — the r17 advisor's residual).
    val lowered = text.toLowerCase(java.util.Locale.ROOT)
    val out = Seq.newBuilder[String]
    val rm = RunPatternJvm.matcher(lowered)
    while (rm.find()) {
      val sm = SegPatternJvm.matcher(rm.group())
      while (sm.find()) {
        val s = sm.group()
        if (s.length >= 2 && CjkHeadJvm.matcher(s).find())
          (0 until s.length - 1).foreach(i => out += s.substring(i, i + 2))
        else out += s
      }
    }
    out.result()
  }
  private val RunPatternJvm = java.util.regex.Pattern.compile(RunPattern)
  private val SegPatternJvm = java.util.regex.Pattern.compile(SegPattern)
  private val CjkHeadJvm = java.util.regex.Pattern.compile(s"^$CjkClass")

  /** A valid operator TERM argument is a single token of the contract:
    * tokenizing it yields exactly itself (a non-CJK letter/digit run,
    * or a CJK unigram/bigram). Use [[searchTermsJvm]] to turn a human
    * query string into valid terms. */
  def isToken(t: String): Boolean = searchTermsJvm(t) == Seq(t)

  private def requireTokens(terms: Seq[String], op: String): Unit =
    require(terms.forall(isToken),
      s"$op: query terms must be single search tokens (a lowercase " +
        s"letter/digit run without CJK chars, or a CJK unigram/bigram); " +
        s"tokenize query strings with searchTermsJvm. Got: " +
        terms.filterNot(isToken).mkString("'", "', '", "'"))

  /** Postings relation `(term, <idCol>, tf)` — one row per (term,
    * document) with the in-document occurrence count. The inverted-index
    * build: one corpus scan, one hash aggregation keyed (term, id); at
    * scale, write it out partitioned/bucketed by `term` so query-time
    * term filters become partition pruning. */
  def postings(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(searchTerms(col(textCol))).as("term"))
      .groupBy(col("term"), col(idCol))
      .agg(count(lit(1)).as("tf"))

  /** POSITIONAL postings `(term, <idCol>, positions, tf)` — one row per
    * (term, document) with the sorted 0-based token positions and their
    * count. The "prox file" beside the [[postings]] frequency file in
    * every real inverted index: phrase and proximity queries over a
    * PERSISTED store need positions, or they re-tokenize the corpus per
    * query. Same one-scan/one-aggregation shape as [[postings]] (the
    * positions array adds ~4 bytes/token to the shuffle — still
    * tokens-proportional, never text); write it term-partitioned and
    * [[searchStoreProximity]] probes become partition pruning. */
  def positionalPostings(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        posexplode(searchTerms(col(textCol))).as(Seq("pos", "term")))
      .groupBy(col("term"), col(idCol))
      .agg(array_sort(collect_list(col("pos"))).as("positions"),
        count(lit(1)).as("tf"))

  /** [[proximityTopK]] against a PERSISTED [[positionalPostings]] store:
    * same min-token-distance semantics, ranking and window cut, with
    * the two terms' rows pruned from the store FIRST (partition pruning
    * on a term-partitioned store) — per-query cost is the matched
    * positions, and the corpus text is never touched. The positions
    * explode runs per matched (term, doc) row; the merged-stream window
    * trick then prices exactly like the direct operator. */
  def searchStoreProximity(store: DataFrame, idCol: String,
      termA: String, termB: String, maxDistance: Long, k: Int): DataFrame = {
    val (a, b) = (termA.toLowerCase(java.util.Locale.ROOT), termB.toLowerCase(java.util.Locale.ROOT))
    require(a != b, s"searchStoreProximity needs two DIFFERENT terms, got '$a' twice")
    requireTokens(Seq(a, b), "searchStoreProximity")
    require(maxDistance >= 1, s"maxDistance must be >= 1, got $maxDistance")
    require(k > 0, s"k must be positive, got $k")
    minDistanceTopK(
      store.filter(col("term").isin(a, b))
        .select(col(idCol), col("term"), explode(col("positions")).as("pos")),
      idCol, maxDistance, k)
  }

  /** Exact-phrase search against a PERSISTED [[positionalPostings]]
    * store: top-`k` documents by occurrence count of the consecutive
    * SEARCH-token sequence `phrase` (ties → id ascending) — the store
    * twin of [[phraseSearchTopK]], with one semantic difference stated
    * loudly: the store is built on the SEARCH tokenization ([[searchTerms]]
    * — Unicode runs, CJK bigrams), so punctuation between words does not
    * break a phrase here, while [[phraseSearchTopK]] matches the raw
    * whitespace token stream. A CJK phrase is its consecutive-bigram
    * token sequence (bigram positions step by one), so pass
    * `searchTermsJvm(phraseString)` and the construction below matches
    * the raw character sequence exactly. An occurrence at token position s is one row per phrase
    * offset agreeing on (id, s): positions of term_i shifted by −i,
    * chained through i−1 equi-joins on (id, start) — every side is the
    * MATCHED positions of one term (partition-pruned on a
    * term-partitioned store), so per-query cost is Σ matched positions
    * and the corpus text is never touched. Duplicate phrase terms are
    * handled naturally (each offset joins its own slice). */
  def searchStorePhrase(store: DataFrame, idCol: String,
      phrase: Seq[String], k: Int): DataFrame = {
    val terms = phrase.map(_.toLowerCase(java.util.Locale.ROOT))
    require(terms.nonEmpty, "searchStorePhrase needs a non-empty phrase")
    requireTokens(terms, "searchStorePhrase")
    require(k > 0, s"k must be positive, got $k")
    val starts = terms.zipWithIndex.map { case (t, i) =>
      store.filter(col("term") === t)
        .select(col(idCol), explode(col("positions")).as("__p"))
        .select(col(idCol), (col("__p").cast("long") - i).as("start"))
    }
    starts.reduce((a, b) => a.join(b, Seq(idCol, "start")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col(idCol))
      .limit(k)
  }

  /** Document frequencies `(term, df)` from a [[postings]] relation —
    * postings are distinct per (term, doc) by construction, so df is a
    * plain count, no distinct re-shuffle. */
  def docFrequencies(post: DataFrame): DataFrame =
    post.groupBy("term").agg(count(lit(1)).as("df"))

  /** The integer rarity weight standing in for idf: `(n_docs * 1000) div
    * df` — monotone in 1/df like idf, but exact long arithmetic on both
    * engines (a df=corpus term weighs 1000, a df=1 hapax weighs
    * n_docs·1000). Columns `(term, df, rarity)`. */
  def rarityTable(post: DataFrame, nDocs: DataFrame): DataFrame =
    docFrequencies(post)
      .crossJoin(broadcast(nDocs))
      .select(col("term"), col("df"),
        expr("(n_docs * 1000) div df").cast("long").as("rarity"))

  /** Per-document TOP-K TERMS by tf·rarity — keyword extraction / doc
    * tagging: the [[searchTopK]] scoring turned inward, answering "what
    * is this document about" for every document at once. Output
    * `(<idCol>, term, tf, rarity, score, rank)`, rank 1..k by
    * (score desc, term asc — deterministic under ties).
    *
    * Shape at scale: ONE corpus tokenization feeding both the postings
    * and the rarity branch (the [[searchTopK]] ReusedExchange
    * construction — both aggregate the same exchange), then a join on
    * `term` (vocabulary-sized right side — NOT forced broadcast: a
    * 100 TB corpus vocabulary can be executor-memory-sized, so the
    * planner/AQE picks) and one per-document window pass bounded by
    * document term count. Never a per-query corpus scan — this IS the
    * one corpus pass. */
  def topTermsPerDoc(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // the searchTopK reuse construction, both tricks: the explicit
    // isNotNull matches the conjunct the scoring join infers on its
    // side, and df REFERENCES tf (Σ [tf > 0] — value-identical to
    // count(*) since postings carry tf ≥ 1) so the column pruner can't
    // strip it from this branch — either divergence and the two
    // postings subtrees stop canonicalizing equal, the corpus
    // tokenizes TWICE, and the ReusedExchange below is lost
    // (PlanShapeSpec pins one Generate).
    val post = postings(df, idCol, textCol)
      .filter(col("term").isNotNull)
    val rar = post.groupBy("term")
      .agg(sum((col("tf") > lit(0L)).cast("long")).as("df"))
      .crossJoin(broadcast(df.agg(count(lit(1)).as("n_docs"))))
      .select(col("term"), expr("(n_docs * 1000) div df").cast("long").as("rarity"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term"))
    post.join(rar, "term")
      .withColumn("score", col("tf") * col("rarity"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("rarity"),
        col("score"), col("rank"))
  }

  /** COLLOCATIONS — association-ranked consecutive token pairs: the
    * corpus-level "which word pairs belong together" extraction
    * (collocation mining), ranked by integer LIFT of bigram occurrence
    * against unigram independence:
    * `lift_micro = (n_ab · T · 10^6) div (n_a · n_b)` with n_ab = the
    * bigram's occurrence count, n_x = token occurrence counts, T =
    * total tokens — monotone in PMI without a single libm call, so the
    * oracle replays every value. Output `(a, b, n_ab, lift_micro)`,
    * pairs with `n_ab ≥ minCount`, top-`k` by (lift desc, a, b).
    *
    * ONE corpus tokenization: each token position emits a single
    * struct `(a = tok_i, b = tok_i+1 | null-at-doc-end)` — unigram
    * counts are the rows per `a`, bigram counts the rows per (a, b)
    * with b present, T the row total, so no second explode exists
    * (contrast the naive unigram-pass + bigram-pass shape). The count
    * join is vocabulary²-bounded on the pair side and
    * vocabulary-bounded on the unigram side (planner's call on
    * broadcast, as in [[topTermsPerDoc]]).
    *
    * Overflow envelope, ENFORCED (the liftPairs discipline): the
    * numerator needs `max(n_ab) · T · 10^6 < 2^63` — checked against
    * the actual maxima; beyond it this throws naming the knob (raise
    * `minCount`, or shard the corpus and merge ranked heads). */
  def collocations(df: DataFrame, idCol: String, textCol: String,
      minCount: Long, k: Int): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(k > 0, s"k must be positive, got $k")
    // projection boundary: tokenize ONCE per row, then pair each token
    // with its successor (null at doc end). zip_with pads the shorter
    // side, so an empty doc yields one (null, null) artifact row —
    // dropped by the a-not-null filter (real tokens are never null).
    val shifted = (t: Column) =>
      concat(slice(t, lit(2), greatest(size(t) - 1, lit(0))),
        array(lit(null).cast("string")))
    val units = df
      .select(searchTerms(col(textCol)).as("__t"))
      .select(explode(zip_with(col("__t"), shifted(col("__t")),
        (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a").isNotNull)
    // ONE corpus aggregation keyed (a, b) — b-null rows are doc ends,
    // so unigram counts are exact row sums over this (bigram-
    // vocabulary-bounded) relation: n_a = Σ_b n_(a,b). One
    // materialization serves the unigram rollup, the totals scalar and
    // the pair filter — the corpus token stream is scanned exactly
    // once and never materialized.
    val ab = units.groupBy("a", "b")
      .agg(count(lit(1)).as("n_ab"))
      .localCheckpoint(true)
    val counted = ab.groupBy("a").agg(sum(col("n_ab")).as("n_a"))
    val totals = counted.agg(sum(col("n_a")).as("t"),
      max(col("n_a")).as("maxNa")).head()
    val bigT = if (totals.isNullAt(0)) 0L else totals.getLong(0)
    val pairs = ab.filter(col("b").isNotNull && col("n_ab") >= minCount)
    require(bigT == 0L ||
      (if (totals.isNullAt(1)) 0L else totals.getLong(1)) <=
        Long.MaxValue / 1000000L / math.max(bigT, 1L),
      s"collocations: n_ab·T·10^6 would overflow long (T = $bigT tokens) — " +
        "raise minCount, or shard the corpus and merge ranked heads")
    pairs
      .join(counted.select(col("a"), col("n_a")), "a")
      .join(counted.select(col("a").as("b"), col("n_a").as("__nb")), "b")
      .select(col("a"), col("b"), col("n_ab"),
        expr(s"(n_ab * CAST($bigT AS BIGINT) * 1000000) div (n_a * __nb)")
          .cast("long").as("lift_micro"))
      .orderBy(col("lift_micro").desc, col("a"), col("b"))
      .limit(k)
  }

  /** Ranked search: documents containing at least `minShouldMatch` of
    * `terms` (default: ALL of them — conjunctive), scored
    * `Σ_{matched t} tf_t · rarity_t` (rarer terms dominate), top `k` by
    * (score desc, id asc — deterministic under ties). Output
    * `(<idCol>, score)`.
    *
    * `minShouldMatch = Some(1)` is OR-by-default retrieval — the common
    * mode, where a missing term costs score instead of membership;
    * intermediate values are the classic minimum-should-match dial.
    * The plan is IDENTICAL across the whole dial (only the post-agg
    * count filter changes), so the conjunctive scale notes below hold
    * for every mode: per-query cost is proportional to the matched
    * postings of the query terms, never the corpus.
    *
    * The term filter lands on the postings build's explode output before
    * any shuffle (or prunes partitions on a materialized term-partitioned
    * store); every aggregation downstream is over matched postings only
    * (≤ |terms| × matching docs rows). The match-count check is
    * `count(*) ≥ m` on the per-doc group — postings are (term, doc)
    * distinct so no countDistinct re-shuffle is needed. */
  def searchTopK(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int,
      minShouldMatch: Option[Int] = None): DataFrame = {
    val qTerms = terms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    require(qTerms.nonEmpty, "searchTopK needs at least one term")
    require(k > 0, s"k must be positive, got $k")
    requireTokens(qTerms, "searchTopK")
    val msm = checkedMsm(minShouldMatch, qTerms.size, "searchTopK")
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    // the explicit isNotNull matches the conjunct the scoring join infers
    // on its side — without it the two postings subtrees canonicalize
    // differently and the exchange-reuse below is lost
    val post = postings(df, idCol, textCol)
      .filter(col("term").isin(qTerms.map(lit): _*) && col("term").isNotNull)
    // df = Σ [tf > 0] — value-identical to count(*) (postings always have
    // tf ≥ 1) but it REFERENCES tf, which keeps this subtree's postings
    // aggregate byte-identical to the scoring branch's: a plain count
    // lets the column pruner strip tf here, the two plans stop
    // canonicalizing equal, and the corpus scans+explodes TWICE. With
    // the shared shape AQE reuses ONE postings exchange (PlanShapeSpec).
    val rarity = post.groupBy("term")
      .agg(sum((col("tf") > lit(0L)).cast("long")).as("df"))
      .crossJoin(broadcast(nDocs))
      .select(col("term"), expr("(n_docs * 1000) div df").cast("long").as("rarity"))
    post
      .join(broadcast(rarity), "term")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__nt"),
        sum(col("tf") * col("rarity")).as("score"))
      .filter(col("__nt") >= msm)
      .select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Validate a minimum-should-match dial against the (deduped) query
    * term count; None = conjunctive (match all). */
  private def checkedMsm(minShouldMatch: Option[Int], nTerms: Int,
      op: String): Int = {
    val m = minShouldMatch.getOrElse(nTerms)
    require(m >= 1 && m <= nTerms,
      s"$op: minShouldMatch must be in [1, $nTerms] " +
        s"(the distinct query-term count), got $m")
    m
  }

  /** Top-k search against a PERSISTED postings store (the relation
    * [[postings]] writes, or the batch store
    * [[BatchStore.searchIndexBatch]] maintains — extra columns like
    * `batch_id` are ignored): same
    * scoring, match-count semantics (`minShouldMatch`, default
    * conjunctive), tiebreak and heap top-k as [[searchTopK]].
    * `nDocs` defaults to the store's distinct indexed-document count
    * (one skinny distinct over the store — pass the corpus count
    * explicitly to match [[searchTopK]] when zero-token documents
    * exist: they never enter a postings store; the batch store's
    * doc-length sidecar carries the corpus-exact count, see
    * [[BatchStore.searchIndexDocLengths]]).
    *
    * Scale: the term filter prunes FIRST (on a term-partitioned store,
    * partition pruning — postings never re-derive from text), the
    * per-term merge + df + scoring all run over matched rows only.
    * The (term, id) merge makes the reader safe over an uncompacted
    * store regardless of batch layout. */
  def searchStoreTopK(store: DataFrame, idCol: String, terms: Seq[String],
      k: Int, nDocs: Option[Long] = None,
      minShouldMatch: Option[Int] = None): DataFrame = {
    val qTerms = terms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    require(qTerms.nonEmpty, "searchStoreTopK needs at least one term")
    require(k > 0, s"k must be positive, got $k")
    require(nDocs.forall(_ >= 0), s"nDocs must be >= 0, got $nDocs")
    val msm = checkedMsm(minShouldMatch, qTerms.size, "searchStoreTopK")
    val n = nDocs match {
      case Some(v) => broadcast(store.sparkSession.range(1)
        .select(lit(v).as("n_docs")))
      case None => broadcast(
        store.agg(countDistinct(col(idCol)).as("n_docs")))
    }
    val post = store
      .filter(col("term").isin(qTerms.map(lit): _*) && col("term").isNotNull)
      .groupBy(col("term"), col(idCol)).agg(sum("tf").as("tf"))
    val rarity = post.groupBy("term")
      .agg(sum((col("tf") > lit(0L)).cast("long")).as("df"))
      .crossJoin(n)
      .select(col("term"), expr("(n_docs * 1000) div df").cast("long").as("rarity"))
    post
      .join(broadcast(rarity), "term")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__nt"),
        sum(col("tf") * col("rarity")).as("score"))
      .filter(col("__nt") >= msm)
      .select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** [[searchStoreTopK]]'s BM25 twin: integer-Okapi scoring
    * ([[searchTopKBm25]]'s exact arithmetic) against a persisted
    * postings store. Document lengths default to Σ tf per doc over the
    * store — correct because the store holds EVERY term of every
    * indexed document — but that derivation scans the full store, so at
    * scale pass `docLengths` (a `(idCol, __dl)` relation, e.g. written
    * at compaction time: the doc-length sidecar every BM25 index
    * keeps). `totals` = `(n_docs, Σdl)` turns the normalization
    * scalars into LITERALS (the identical `(Σdl·1000) div n` floor
    * arithmetic) — the batch store's totals manifest supplies it
    * ([[BatchStore.searchIndexTotals]]); without
    * it the scalars cost one count/sum job over `dl` per query. */
  def searchStoreTopKBm25(store: DataFrame, idCol: String,
      terms: Seq[String], k: Int,
      docLengths: Option[DataFrame] = None,
      k1Permille: Long = 1200L, bPermille: Long = 750L,
      minShouldMatch: Option[Int] = None,
      totals: Option[(Long, Long)] = None): DataFrame = {
    val qTerms = terms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    val msm = checkedMsm(minShouldMatch, qTerms.size, "searchStoreTopKBm25")
    require(qTerms.nonEmpty, "searchStoreTopKBm25 needs at least one term")
    require(k > 0, s"k must be positive, got $k")
    require(bPermille >= 0 && bPermille <= 1000,
      s"bPermille must be in [0, 1000], got $bPermille")
    require(k1Permille >= 0, s"k1Permille must be >= 0, got $k1Permille")
    require(totals.forall(t => t._1 >= 0 && t._2 >= 0),
      s"totals must be non-negative (n_docs, sum_dl), got $totals")
    val dl = docLengths.getOrElse(
      store.groupBy(col(idCol)).agg(sum("tf").as("__dl")))
    require(dl.columns.toSeq == Seq(idCol, "__dl"),
      s"docLengths must be ($idCol, __dl)-shaped, got ${dl.columns.toSeq}")
    val totalsRel = totals match {
      case Some((n, tot)) => store.sparkSession.range(1)
        .select(lit(n).as("n_docs"),
          lit(if (n > 0) math.max(tot * 1000L / n, 1L) else 1L)
            .as("avgdl_milli"))
      case None => dl.agg(count(lit(1)).as("n_docs"),
        coalesce(sum("__dl"), lit(0L)).as("__tot"))
        .select(col("n_docs"),
          expr("case when n_docs > 0 then greatest((__tot * 1000) div n_docs, 1) else 1 end")
            .as("avgdl_milli"))
    }
    val post = store
      .filter(col("term").isin(qTerms.map(lit): _*) && col("term").isNotNull)
      .groupBy(col("term"), col(idCol)).agg(sum("tf").as("tf"))
    val rarity = post.groupBy("term")
      .agg(sum((col("tf") > lit(0L)).cast("long")).as("df"))
      .crossJoin(broadcast(totalsRel))
      .select(col("term"), expr("(n_docs * 1000) div df").cast("long").as("rarity"))
    post
      .join(broadcast(rarity), "term")
      .join(dl, idCol)
      .crossJoin(broadcast(totalsRel.select("avgdl_milli")))
      .withColumn("__nf", lit(1000L - bPermille) +
        expr(s"($bPermille * __dl * 1000) div avgdl_milli"))
      .withColumn("__sc", expr(
        s"(rarity * tf * (1000 + $k1Permille)) div (tf * 1000 + ($k1Permille * __nf) div 1000)"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__nt"), sum("__sc").as("score"))
      .filter(col("__nt") >= msm)
      .select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Top-k search under INTEGER BM25 — the published Okapi scoring
    * shape (term-frequency saturation + document-length normalization)
    * with every factor a permille-scaled long so the oracle replays it
    * bit-for-bit (`minShouldMatch` dials the match-count semantics
    * exactly as in [[searchTopK]]; default conjunctive):
    *
    *   nf        = (1000 − b) + (b · dl · 1000) div avgdl_milli
    *   denom     = tf·1000 + (k1 · nf) div 1000
    *   score_t   = (rarity_t · tf · (1000 + k1)) div denom
    *
    * with `dl` = the document's token count, `avgdl_milli` =
    * (Σ dl · 1000) div n_docs, `k1`/`b` in permille (defaults 1200/750 =
    * the classic 1.2/0.75), and rarity standing in for idf as in
    * [[searchTopK]]. Same conjunctive semantics, tiebreak, and heap
    * top-k as [[searchTopK]].
    *
    * Scale: identical posting shapes to [[searchTopK]] plus the
    * doc-length relation — a two-skinny-column projection of the corpus
    * joined onto the MATCHED postings (at index-build time this is the
    * doc-length sidecar every BM25 index keeps; Spark's runtime bloom
    * filter prunes the dl scan to joining ids). */
  def searchTopKBm25(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int,
      k1Permille: Long = 1200L, bPermille: Long = 750L,
      minShouldMatch: Option[Int] = None): DataFrame = {
    val qTerms = terms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    val msm = checkedMsm(minShouldMatch, qTerms.size, "searchTopKBm25")
    require(qTerms.nonEmpty, "searchTopKBm25 needs at least one term")
    require(k > 0, s"k must be positive, got $k")
    requireTokens(qTerms, "searchTopKBm25")
    require(bPermille >= 0 && bPermille <= 1000,
      s"bPermille must be in [0, 1000], got $bPermille")
    require(k1Permille >= 0, s"k1Permille must be >= 0, got $k1Permille")
    val dl = df.select(col(idCol),
      size(searchTerms(col(textCol))).cast("long").as("__dl"))
    val totalsRel = dl.agg(count(lit(1)).as("n_docs"),
      coalesce(sum("__dl"), lit(0L)).as("__tot"))
      .select(col("n_docs"),
        expr("case when n_docs > 0 then greatest((__tot * 1000) div n_docs, 1) else 1 end")
          .as("avgdl_milli"))
    val post = postings(df, idCol, textCol)
      .filter(col("term").isin(qTerms.map(lit): _*) && col("term").isNotNull)
    val rarity = post.groupBy("term")
      .agg(sum((col("tf") > lit(0L)).cast("long")).as("df"))
      .crossJoin(broadcast(totalsRel))
      .select(col("term"), expr("(n_docs * 1000) div df").cast("long").as("rarity"))
    post
      .join(broadcast(rarity), "term")
      .join(dl, idCol)
      .crossJoin(broadcast(totalsRel.select("avgdl_milli")))
      .withColumn("__nf", lit(1000L - bPermille) +
        expr(s"($bPermille * __dl * 1000) div avgdl_milli"))
      .withColumn("__sc", expr(
        s"(rarity * tf * (1000 + $k1Permille)) div (tf * 1000 + ($k1Permille * __nf) div 1000)"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__nt"), sum("__sc").as("score"))
      .filter(col("__nt") >= msm)
      .select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Exact-PHRASE search: top-`k` documents containing the exact token
    * sequence `phrase`, ranked by occurrence count (ties → id
    * ascending). Matching runs over the WHITESPACE token stream (the
    * span-dedup tokenization, [[graft.operators.Boilerplate]]): the
    * phrase's 60-bit window hash is computed ONCE on the driver
    * ([[graft.functions.Hashing.h60Jvm]]) and embedded as a literal, so
    * the corpus pass is a single per-row
    * [[graft.functions.TokenWindowHashes]] projection + an equality
    * filter — no tokenized corpus ever shuffles; only the matched
    * (id, count) rows reach the output-bounded aggregation and the
    * TakeOrdered heap. Same 2^−60 hash-collision contract as the span
    * screens. Documents shorter than the phrase never match. */
  def phraseSearchTopK(df: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String], k: Int): DataFrame = {
    require(phrase.nonEmpty, "phraseSearchTopK needs a non-empty phrase")
    require(phrase.forall(t => t.nonEmpty && !t.exists(_.isWhitespace)),
      s"phrase tokens must be non-empty and whitespace-free, got $phrase")
    require(k > 0, s"k must be positive, got $k")
    val target = graft.functions.Hashing.h60Jvm(phrase.mkString(" "))
    Boilerplate.anchorRel(df, idCol, textCol, phrase.length)
      .filter(col("anchor") === lit(target))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col(idCol))
      .limit(k)
  }

  /** Two-term PROXIMITY search: top-`k` documents by the MINIMUM token
    * distance between any occurrence of `termA` and any occurrence of
    * `termB` (search tokenization, 0-based positions), keeping docs
    * with `min_distance ≤ maxDistance` — the "terms near each other"
    * relevance signal between exact phrase (distance 1, ordered) and
    * bag-of-words (any distance). Output `(<idCol>, min_distance)`,
    * ranked (min_distance asc, id asc).
    *
    * The min pairwise |posA − posB| over two position sets equals the
    * min over ADJACENT opposite-label pairs in the position-sorted
    * union of both sets (any non-adjacent pair contains an adjacent
    * opposite-label pair no wider inside it) — so the whole search is:
    * filter the positional explode to the TWO terms before anything
    * shuffles, ONE window pass over the matched positions per doc
    * (never a per-doc positions×positions join — a boilerplate doc
    * with thousands of occurrences stays linear), one min per doc,
    * TakeOrdered heap. Matched-positions cost, never corpus cost. */
  def proximityTopK(df: DataFrame, idCol: String, textCol: String,
      termA: String, termB: String, maxDistance: Long, k: Int): DataFrame = {
    val (a, b) = (termA.toLowerCase(java.util.Locale.ROOT), termB.toLowerCase(java.util.Locale.ROOT))
    require(a != b, s"proximityTopK needs two DIFFERENT terms, got '$a' twice")
    requireTokens(Seq(a, b), "proximityTopK")
    require(maxDistance >= 1, s"maxDistance must be >= 1, got $maxDistance")
    require(k > 0, s"k must be positive, got $k")
    minDistanceTopK(
      df.select(col(idCol),
          posexplode(searchTerms(col(textCol))).as(Seq("pos", "term")))
        .filter(col("term").isin(a, b)),
      idCol, maxDistance, k)
  }

  /** Shared min-distance tail over an `(idCol, term, pos)` MATCHED-
    * positions relation: one window pass (adjacent opposite-label
    * pairs carry the minimum), min per doc, window cut, heap top-k.
    * [[proximityTopK]] and [[searchStoreProximity]] both route here,
    * so the direct ≡ store law is structural, not parallel-maintained
    * code. */
  private def minDistanceTopK(positions: DataFrame, idCol: String,
      maxDistance: Long, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("pos")
    positions
      .withColumn("__pt", lag("term", 1).over(w))
      .withColumn("__pp", lag("pos", 1).over(w))
      .filter(col("__pt").isNotNull && col("__pt") =!= col("term"))
      .groupBy(col(idCol))
      .agg(min(col("pos") - col("__pp")).cast("long").as("min_distance"))
      .filter(col("min_distance") <= maxDistance)
      .orderBy(col("min_distance"), col(idCol))
      .limit(k)
  }

  /** "Did you mean" — term suggestions from the INDEXED vocabulary: the
    * top-`k` terms within `maxDist` Levenshtein edits of `query`,
    * ranked (distance asc, df desc, term asc) — typo corrections
    * ordered by how common the corrected term actually is in the
    * corpus. Output `(term, df, distance)`; the query term itself is
    * excluded (a term that IS in the vocabulary needs no correction
    * row). Works over any `(term, <idCol>, …)`-shaped relation — a
    * [[postings]] build or a persisted (positional) store slice,
    * COMPACTED OR NOT: df is the DISTINCT-document count per term, so
    * an uncompacted store's one-row-per-(term, id, batch) layout cannot
    * inflate it (the same per-document merge discipline as
    * [[searchStoreMoreLikeThis]] — review finding).
    *
    * Scale: VOCABULARY-linear, never corpus-linear — postings collapse
    * to one row per term first, and the length pigeonhole
    * (|len(t) − len(q)| ≤ maxDist, since an edit changes length by at
    * most one) prunes before the levenshtein evaluation as a pushed
    * range predicate. Vocabularies are Zipf-bounded (a 100 TB corpus
    * holds ~10^8 terms — one skinny scan per suggestion); a serving
    * path that cannot afford even that blocks the vocabulary like
    * [[FuzzyMatch.fuzzyPairs]]'s disjoint-segment pigeonhole. */
  def suggestTerms(post: DataFrame, idCol: String, query: String,
      maxDist: Int, k: Int): DataFrame = {
    val q = query.toLowerCase(java.util.Locale.ROOT)
    requireTokens(Seq(q), "suggestTerms")
    require(maxDist >= 1 && maxDist <= 8,
      s"maxDist must be in [1, 8] (beyond that everything matches), got $maxDist")
    require(k > 0, s"k must be positive, got $k")
    // codepoint count, matching Spark's length() — q.length would be
    // UTF-16 units and mis-prune non-BMP letters
    val qLen = q.codePointCount(0, q.length)
    post.groupBy("term").agg(countDistinct(col(idCol)).as("df"))
      .filter(length(col("term"))
        .between(lit(qLen - maxDist), lit(qLen + maxDist)) &&
        col("term") =!= q)
      .withColumn("distance", levenshtein(col("term"), lit(q)).cast("long"))
      .filter(col("distance") <= maxDist)
      .orderBy(col("distance"), col("df").desc, col("term"))
      .limit(k)
      .select("term", "df", "distance")
  }

  /** More-like-this: for each QUERY document, the top-`k` most similar
    * corpus documents by rarity-weighted term overlap —
    * `score(q, d) = Σ_{t ∈ terms(q) ∩ terms(d)} tf_d(t) · rarity(t)`,
    * rarity from the corpus document frequencies over the query docs'
    * term universe (the same `(n_docs·1000) div df` integer weight as
    * [[searchTopK]]). Self-matches (same id on both sides) are excluded.
    * Output `(q_<idCol>, <idCol>, score)`, ≤ k rows per query, ties
    * broken by corpus id ascending.
    *
    * Scale: the query side must be a BOUNDED probe set (its postings and
    * term set broadcast) — candidate mass is `Σ_{q} Σ_{t ∈ terms(q)}
    * df(t)`, so a probe set that grows with the corpus makes the
    * operator quadratic BY CONSTRUCTION (measured: a %-of-corpus probe
    * set priced 59× at the 10× sweep point, SCALING.md r15; corpus-scale
    * all-pairs similarity is the near-dup/LSH family's job, not MLT's).
    * Corpus postings are cut to the query-term universe by an equi-join
    * before anything else shuffles; per-query top-k is one rank window
    * over the candidate relation. `maxQueryTerms` is the published MLT
    * discipline for dense vocabularies: keep only the m RAREST terms of
    * each query doc (rarity desc, term asc — deterministic), bounding
    * per-query candidates by the rare terms' df sum. The df branch
    * reuses the corpus-postings exchange via the same Σ[tf>0]
    * subtree-equality trick as [[searchTopK]].
    *
    * `maxQueryDocs` ENFORCES the bounded-probe contract (the sibling
    * of `maxGroupItems`/`maxBlockRows`/`maxBucketRows`): the probe set
    * is counted (one skinny count over the query relation) and an
    * oversized one throws instead of silently going quadratic. */
  def moreLikeThis(corpus: DataFrame, queries: DataFrame, idCol: String,
      textCol: String, k: Int,
      maxQueryTerms: Option[Int] = None,
      maxQueryDocs: Long = 10000L): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(maxQueryTerms.forall(_ > 0),
      s"maxQueryTerms must be positive, got $maxQueryTerms")
    require(maxQueryDocs > 0, s"maxQueryDocs must be positive, got $maxQueryDocs")
    val nq = queries.count()
    require(nq <= maxQueryDocs,
      s"moreLikeThis: probe set has $nq docs > maxQueryDocs=$maxQueryDocs. " +
        "MLT candidate mass is Σ_q Σ_t df(t) — a probe set that grows " +
        "with the corpus makes it quadratic by construction (measured " +
        "59x at the 10x sweep, SCALING.md r15). Corpus-scale all-pairs " +
        "similarity is the near-dup/LSH family's job " +
        "(graft.operators.Dedup.nearDupPairsLshAuto / " +
        "graft.operators.Similarity); raise maxQueryDocs only for a " +
        "probe set that is bounded by CONTRACT, not by today's data.")
    val qPostAll = postings(queries, idCol, textCol)
      .select(col("term"), col(idCol).as("__qid"))
    val qTerms = qPostAll.select("term").distinct()
    val cPost = postings(corpus, idCol, textCol)
      .join(broadcast(qTerms), "term")
      .filter(col("term").isNotNull)
    val nDocs = corpus.agg(count(lit(1)).as("n_docs"))
    mltTail(cPost, qPostAll, nDocs, idCol, k, maxQueryTerms)
  }

  /** [[moreLikeThis]] against a PERSISTED postings store (anything
    * `(term, <idCol>, tf)`-shaped — [[postings]] or
    * [[positionalPostings]] output, batch columns ignored): identical
    * semantics, scoring, caps and tiebreak; the shared [[mltTail]]
    * makes direct ≡ store structural.
    *
    * Scale: the probe's distinct term universe is collected to the
    * driver — legal because the probe is BOUNDED BY CONTRACT
    * (`maxQueryDocs` counts it, `maxProbeTerms` caps the universe with
    * a pointer at `maxQueryTerms` when a dense probe blows it) — and
    * the store filter becomes a LITERAL `term IN (...)`: STATIC
    * partition pruning on a term-partitioned store, no corpus text,
    * no full-store scan. `nDocs` defaults to the store's distinct
    * indexed-doc count (one skinny distinct — same caveat as
    * [[searchStoreTopK]]: pass the corpus count when zero-token docs
    * exist, e.g. from the doc-length sidecar's manifest). */
  def searchStoreMoreLikeThis(store: DataFrame, queries: DataFrame,
      idCol: String, textCol: String, k: Int,
      nDocs: Option[Long] = None,
      maxQueryTerms: Option[Int] = None,
      maxQueryDocs: Long = 10000L,
      maxProbeTerms: Int = 4096): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(maxQueryTerms.forall(_ > 0),
      s"maxQueryTerms must be positive, got $maxQueryTerms")
    require(maxQueryDocs > 0, s"maxQueryDocs must be positive, got $maxQueryDocs")
    require(maxProbeTerms > 0, s"maxProbeTerms must be positive, got $maxProbeTerms")
    require(nDocs.forall(_ >= 0), s"nDocs must be >= 0, got $nDocs")
    val nq = queries.count()
    require(nq <= maxQueryDocs,
      s"searchStoreMoreLikeThis: probe set has $nq docs > " +
        s"maxQueryDocs=$maxQueryDocs (the moreLikeThis bounded-probe " +
        "contract; see its scaladoc and SCALING.md r15)")
    val qPostAll = postings(queries, idCol, textCol)
      .select(col("term"), col(idCol).as("__qid"))
    val termsArr = qPostAll.select("term").distinct()
      .collect().map(_.getString(0)).sorted
    require(termsArr.length <= maxProbeTerms,
      s"searchStoreMoreLikeThis: probe term universe has " +
        s"${termsArr.length} terms > maxProbeTerms=$maxProbeTerms. The " +
        "cap bounds the DRIVER collect and the literal pruning filter, " +
        "which happen BEFORE the rarest-m maxQueryTerms trim (rarity " +
        "needs the store's df, which needs the filter) — so only " +
        "raising maxProbeTerms admits a wider probe; do that for a " +
        "probe bounded by CONTRACT, or shrink the probe docs' " +
        "vocabulary upstream")
    val spark = store.sparkSession
    // empty probe: an empty result whose q_<idCol> carries the PROBE
    // frame's id type and <idCol> the store's — exactly the non-empty
    // path's typing (there q_<idCol> descends from the probe postings'
    // __qid), so results union cleanly across probe batches even when
    // the two id types differ (review finding; the earlier shape typed
    // BOTH from the store)
    if (termsArr.isEmpty)
      return queries.limit(0).select(col(idCol).as(s"q_$idCol"))
        .crossJoin(store.limit(0).select(col(idCol), lit(0L).as("score")))
    val n = nDocs match {
      case Some(v) => broadcast(spark.range(1).select(lit(v).as("n_docs")))
      case None => broadcast(store.agg(countDistinct(col(idCol)).as("n_docs")))
    }
    // literal isin → partition pruning; the (term, id) merge makes the
    // reader safe over an uncompacted store regardless of batch layout
    val cPost = store
      .filter(col("term").isin(termsArr.map(lit).toIndexedSeq: _*) &&
        col("term").isNotNull)
      .groupBy(col("term"), col(idCol)).agg(sum("tf").as("tf"))
    mltTail(cPost, qPostAll, n, idCol, k, maxQueryTerms)
  }

  /** Shared MLT tail over the already-cut corpus postings: rarity from
    * the candidate slice, optional rarest-m probe-term trim, the
    * score join and the per-query rank window. [[moreLikeThis]] and
    * [[searchStoreMoreLikeThis]] both route here. */
  private def mltTail(cPost: DataFrame, qPostAll: DataFrame,
      nDocs: DataFrame, idCol: String, k: Int,
      maxQueryTerms: Option[Int]): DataFrame = {
    val rarity = cPost.groupBy("term")
      .agg(sum((col("tf") > lit(0L)).cast("long")).as("df"))
      .crossJoin(broadcast(nDocs))
      .select(col("term"), expr("(n_docs * 1000) div df").cast("long").as("rarity"))
    val qPost = maxQueryTerms match {
      case None => qPostAll
      case Some(m) =>
        val wt = org.apache.spark.sql.expressions.Window
          .partitionBy("__qid").orderBy(col("rarity").desc, col("term"))
        qPostAll.join(broadcast(rarity), "term")
          .withColumn("__tr", row_number().over(wt))
          .filter(col("__tr") <= m)
          .select("term", "__qid")
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__qid").orderBy(col("score").desc, col(idCol))
    cPost
      .join(broadcast(rarity), "term")
      .join(broadcast(qPost), "term")
      .filter(col("__qid") =!= col(idCol))
      .groupBy(col("__qid"), col(idCol))
      .agg(sum(col("tf") * col("rarity")).as("score"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col("__qid").as(s"q_$idCol"), col(idCol), col("score"))
  }

  /** k-term WINDOW proximity — "all `terms` within a window of W
    * tokens": top-`k` documents by their MINIMAL COVER, the smallest
    * token span containing at least one occurrence of every term
    * (`window_span = last − first + 1` over the covered occurrence
    * set), keeping docs with `window_span ≤ window`. Output
    * `(<idCol>, window_span)`, ranked (span asc, id asc). The two-term
    * operators are the k=2 special case with `window = maxDistance+1`
    * (law in TextSearchSpec).
    *
    * Minimal-cover over a merged position-sorted stream: the smallest
    * window ENDING at stream entry p is `p − min_t(latest occurrence
    * of t at or before p) + 1`, defined once every term has occurred —
    * so the whole search is ONE window pass carrying |terms| running
    * `max(CASE term)` columns (query-sized, not data-sized), one min
    * per doc, heap top-k. Never a per-doc positions^k join: a doc with
    * thousands of occurrences stays linear in its matched positions. */
  def windowProximityTopK(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], window: Long, k: Int): DataFrame = {
    val qTerms = checkedWindowTerms(terms, window, k, "windowProximityTopK")
    minCoverTopK(
      df.select(col(idCol),
          posexplode(searchTerms(col(textCol))).as(Seq("pos", "term")))
        .filter(col("term").isin(qTerms.map(lit): _*)),
      idCol, qTerms, window, k)
  }

  /** [[windowProximityTopK]] against a PERSISTED [[positionalPostings]]
    * store: the terms' rows prune from the store first (partition
    * pruning on a term-partitioned store), positions explode per
    * matched row only, then the same [[minCoverTopK]] tail — direct ≡
    * store is structural. */
  def searchStoreWindowProximity(store: DataFrame, idCol: String,
      terms: Seq[String], window: Long, k: Int): DataFrame = {
    val qTerms = checkedWindowTerms(terms, window, k, "searchStoreWindowProximity")
    minCoverTopK(
      store.filter(col("term").isin(qTerms.map(lit): _*))
        .select(col(idCol), col("term"), explode(col("positions")).as("pos")),
      idCol, qTerms, window, k)
  }

  private def checkedWindowTerms(terms: Seq[String], window: Long,
      k: Int, op: String): Seq[String] = {
    val qTerms = terms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    require(qTerms.size >= 2,
      s"$op needs at least two distinct terms, got $terms")
    requireTokens(qTerms, op)
    require(window >= qTerms.size,
      s"$op: window must be >= the distinct term count " +
        s"(${qTerms.size} distinct positions cannot span fewer tokens), " +
        s"got $window")
    require(k > 0, s"k must be positive, got $k")
    qTerms
  }

  /** ORDERED window proximity — "the terms IN ORDER within a window of
    * W tokens" (phrase-with-slop generalized to a subsequence match):
    * top-`k` documents by the minimal span of an occurrence of
    * `terms(0) < terms(1) < … < terms(k−1)` in token order, keeping
    * docs with `window_span ≤ window`. Output `(<idCol>,
    * window_span)`, ranked (span asc, id asc). The unordered sibling
    * is [[windowProximityTopK]]; exact phrase is the slop-0 extreme
    * ([[searchStorePhrase]]).
    *
    * The classic minimal-window-subsequence DP, run as stacked window
    * columns over ONE position-sorted stream: `c_0 = max(pos | term =
    * t_0)` (latest t_0 so far), `c_j = max(c_{j−1} @ t_j rows)` (the
    * latest chain START of an ordered j-prefix completed so far —
    * bestStart is monotone in the end position, so the running max IS
    * the DP). At a t_{k−1} row the minimal ordered span ending there
    * is `pos − c_{k−2} + 1`. |terms| stacked Window operators share
    * one partitioning+sort (one shuffle, k linear passes over matched
    * positions — never a positions^k join). Duplicate terms are
    * rejected: the chain columns cannot tell "the same occurrence
    * reused" from a genuine repeat. */
  def orderedWindowTopK(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], window: Long, k: Int): DataFrame = {
    val qTerms = checkedOrderedTerms(terms, window, k, "orderedWindowTopK")
    orderedCoverTopK(
      df.select(col(idCol),
          posexplode(searchTerms(col(textCol))).as(Seq("pos", "term")))
        .filter(col("term").isin(qTerms.map(lit): _*)),
      idCol, qTerms, window, k)
  }

  /** [[orderedWindowTopK]] against a PERSISTED [[positionalPostings]]
    * store: terms prune from the store first (partition pruning),
    * positions explode per matched row, same DP tail — direct ≡ store
    * structural. */
  def searchStoreOrderedWindow(store: DataFrame, idCol: String,
      terms: Seq[String], window: Long, k: Int): DataFrame = {
    val qTerms = checkedOrderedTerms(terms, window, k, "searchStoreOrderedWindow")
    orderedCoverTopK(
      store.filter(col("term").isin(qTerms.map(lit): _*))
        .select(col(idCol), col("term"), explode(col("positions")).as("pos")),
      idCol, qTerms, window, k)
  }

  private def checkedOrderedTerms(terms: Seq[String], window: Long,
      k: Int, op: String): Seq[String] = {
    val qTerms = terms.map(_.toLowerCase(java.util.Locale.ROOT))
    require(qTerms.size >= 2, s"$op needs at least two terms, got $terms")
    require(qTerms.distinct.size == qTerms.size,
      s"$op: terms must be DISTINCT (the ordered-chain columns cannot " +
        s"distinguish a reused occurrence from a genuine repeat), got $terms")
    requireTokens(qTerms, op)
    require(window >= qTerms.size,
      s"$op: window must be >= the term count, got $window")
    require(k > 0, s"k must be positive, got $k")
    qTerms
  }

  private def orderedCoverTopK(positions: DataFrame, idCol: String,
      qTerms: Seq[String], window: Long, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("pos")
    // c_0 … c_{k-2}: stacked chain-start columns (the DP above). All
    // share one (partition, order) spec → Catalyst plans ONE sort with
    // |terms|−1 Window operators over it.
    var cur = positions.withColumn("__c0",
      max(when(col("term") === qTerms(0), col("pos"))).over(w))
    for (j <- 1 until qTerms.size - 1)
      cur = cur.withColumn(s"__c$j",
        max(when(col("term") === qTerms(j), col(s"__c${j - 1}"))).over(w))
    val last = qTerms.size - 2
    cur
      .filter(col("term") === qTerms.last && col(s"__c$last").isNotNull)
      .groupBy(col(idCol))
      .agg(min(col("pos") - col(s"__c$last") + lit(1)).cast("long")
        .as("window_span"))
      .filter(col("window_span") <= window)
      .orderBy(col("window_span"), col(idCol))
      .limit(k)
  }

  /** Shared minimal-cover tail over an `(idCol, term, pos)` MATCHED-
    * positions relation (the k-term sibling of [[minDistanceTopK]]):
    * one window pass with a running latest-occurrence column per term,
    * covered span at each stream entry, min per doc, window cut, heap
    * top-k. */
  private def minCoverTopK(positions: DataFrame, idCol: String,
      qTerms: Seq[String], window: Long, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("pos")
    val lastCols = qTerms.indices.map(i =>
      max(when(col("term") === qTerms(i), col("pos"))).over(w).as(s"__l$i"))
    val lastRefs = qTerms.indices.map(i => col(s"__l$i"))
    positions
      .select(col(idCol) +: col("pos") +: lastCols: _*)
      .filter(lastRefs.map(_.isNotNull).reduce(_ && _))
      .groupBy(col(idCol))
      .agg(min(col("pos") - least(lastRefs: _*) + lit(1)).cast("long")
        .as("window_span"))
      .filter(col("window_span") <= window)
      .orderBy(col("window_span"), col(idCol))
      .limit(k)
  }

  /** SNIPPET extraction — the "why did this document match" surface:
    * for the top-`k` documents by minimal cover of `terms` (the
    * [[windowProximityTopK]] ranking, same `window` cut), also return
    * WHERE the best window sits: `(<idCol>, window_span,
    * snippet_start, snippet_end)` with start/end the 0-based token
    * positions of the tightest all-terms window (ties → earliest
    * start). A UI slices `snippet_start − m … snippet_end + m` tokens
    * of the stored text; the engine ships OFFSETS, not text — nothing
    * document-sized moves through the ranking.
    *
    * Same one-window-pass shape as [[minCoverTopK]] plus a per-doc
    * argmin rank (one more window op over the same partitioning):
    * matched-positions cost, never corpus cost. */
  def snippetTopK(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], window: Long, k: Int): DataFrame = {
    val qTerms = checkedWindowTerms(terms, window, k, "snippetTopK")
    snippetCoverTopK(
      df.select(col(idCol),
          posexplode(searchTerms(col(textCol))).as(Seq("pos", "term")))
        .filter(col("term").isin(qTerms.map(lit): _*)),
      idCol, qTerms, window, k)
  }

  /** [[snippetTopK]] against a PERSISTED [[positionalPostings]] store:
    * pruned terms, per-match position explode, same argmin tail. */
  def searchStoreSnippet(store: DataFrame, idCol: String,
      terms: Seq[String], window: Long, k: Int): DataFrame = {
    val qTerms = checkedWindowTerms(terms, window, k, "searchStoreSnippet")
    snippetCoverTopK(
      store.filter(col("term").isin(qTerms.map(lit): _*))
        .select(col(idCol), col("term"), explode(col("positions")).as("pos")),
      idCol, qTerms, window, k)
  }

  private def snippetCoverTopK(positions: DataFrame, idCol: String,
      qTerms: Seq[String], window: Long, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("pos")
    val lastCols = qTerms.indices.map(i =>
      max(when(col("term") === qTerms(i), col("pos"))).over(w).as(s"__l$i"))
    val lastRefs = qTerms.indices.map(i => col(s"__l$i"))
    // the per-doc argmin is a lexicographic MIN over a (span, start,
    // end) struct — a plain partial-agg-friendly aggregate reproducing
    // the (min span, earliest start) tie-break exactly ((span, start)
    // pairs are unique per doc: end = start + span − 1), one sort
    // cheaper than a rank-window pick (review finding)
    positions
      .select(col(idCol) +: col("pos") +: lastCols: _*)
      .filter(lastRefs.map(_.isNotNull).reduce(_ && _))
      .select(col(idCol), struct(
        (col("pos") - least(lastRefs: _*) + lit(1)).cast("long").as("window_span"),
        least(lastRefs: _*).cast("long").as("snippet_start"),
        col("pos").cast("long").as("snippet_end")).as("__c"))
      .groupBy(col(idCol))
      .agg(min(col("__c")).as("__c"))
      .filter(col("__c.window_span") <= window)
      .select(col(idCol), col("__c.window_span").as("window_span"),
        col("__c.snippet_start").as("snippet_start"),
        col("__c.snippet_end").as("snippet_end"))
      .orderBy(col("window_span"), col(idCol))
      .limit(k)
  }
}
