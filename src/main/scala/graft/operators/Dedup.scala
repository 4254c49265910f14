package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Hashing.h60
import graft.functions.TextAnalysis.tokensWs

/** Deduplication operators for large-scale corpus pipelines: exact
  * (hash-groupBy), n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale posture: nothing here is pairwise-over-the-corpus. Candidate
  * generation is always an equi-join on a derived key (content hash, LSH
  * band, SimHash chunk), so Spark executes it as a hash shuffle on that
  * key — O(corpus) + O(candidates), never O(n²). The only quadratic step
  * is *within* a bucket, which the banding parameters keep tiny. All
  * hashes are the portable md5-based [[graft.functions.Hashing.h60]], so
  * every operator is cross-engine verifiable.
  */
object Dedup {

  // ------------------------------------------------------------ exact dedup

  /** Exact dedup by content hash: annotate each row with its group's
    * canonical (min) id and copy count. `dropDuplicates`-shaped but
    * deterministic, and keeps the lineage visible instead of silently
    * discarding rows. One shuffle on the content hash.
    */
  def exactDedup(df: DataFrame, idCol: String, contentCol: String): DataFrame = {
    val w = Window.partitionBy("content_hash")
    df.withColumn("content_hash", md5(col(contentCol)))
      .withColumn("canonical_id", min(col(idCol)).over(w))
      .withColumn("n_copies", count(lit(1)).over(w))
      .withColumn("is_dup", col(idCol) =!= col("canonical_id"))
  }

  // --------------------------------------------------------------- shingles

  /** Distinct word n-gram shingles of a token array (empty when shorter
    * than n), via the native single-pass
    * [[graft.functions.TokenShingles]] — the
    * `array_distinct(transform(sequence, slice+join))` composition it
    * replaces was O(len²) interpreted per document and sat under every
    * set-similarity operator. */
  def tokenShingles(tokens: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      graft.functions.TokenShingles(ColumnBridge.expression(tokens), n))
  }

  /** (id, shingle) long form — the base relation for set-similarity joins. */
  def shingled(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol), explode(tokenShingles(tokensWs(col(textCol)), n)).as("shingle"))

  // --------------------------------------------------------- n-gram Jaccard

  /** Exact n-gram Jaccard near-dup pairs via a shared-shingle equi-join:
    * |A∩B| from the join, |A∪B| = |A|+|B|−|A∩B|. Emits pairs (a < b) with
    * `jaccard_permille` ≥ `minPermille` (floor-scaled integer — exact
    * cross-engine).
    *
    * SCALE CONTRACT — this is the EXACT, small/bounded-corpus tool.
    * Exact set-intersection via a shared-shingle join inherently costs
    * Σ_shingle df² candidate rows, and no doc-frequency cap changes that
    * asymptote without changing the answer: below the cap the cost grows
    * quadratically as the corpus densifies (measured: 139× CPU at 10×
    * docs, SCALING.md), and at the cap recall shifts with corpus size
    * because capped shingles leave candidate generation entirely. Use it
    * when the input is already bucketed/bounded (a cluster's members, one
    * partition's worth of candidates, an audit sample) or when EXACT
    * Jaccard values are the point. The corpus-scale near-dup route is
    * [[minhashLshPairs]]: banded LSH candidates are linear in the corpus
    * at fixed banding, with recall set by (bands, rowsPerBand), not by
    * corpus size — the curation pipeline (q57) routes through it, and
    * PlanShapeSpec asserts that routing.
    *
    * `maxShingleDocFreq` drops shingles occurring in more than that many
    * documents from the JOIN INPUT only — the skew guard, bounding any
    * one join key's candidate fanout to cap². Set sizes |A|,|B| are
    * always computed from the uncapped shingle relation, so reported
    * Jaccard values are never inflated by the cap; `shared` can only
    * undercount, meaning the cap trades candidate-pair recall (a pair
    * whose every shared shingle is boilerplate is missed) and never
    * produces false positives at the threshold.
    */
  def jaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minPermille: Int = 500,
      maxShingleDocFreq: Option[Int] = None): DataFrame = {
    // The cap is applied with a count-over-window on the shingle key: one
    // exchange on shingle + per-partition sort, which the self-join below
    // then REUSES (both join inputs are the same subplan — ReuseExchange
    // shares the shuffle). A group-join variant (collect_list posting
    // lists + in-list pair expansion) was tried and measured 2.5× slower
    // here, and is unsafe at scale: collect_list has no bound until AFTER
    // the list is built, so one corpus-wide boilerplate shingle would
    // materialize the whole corpus in a single aggregation buffer. The
    // window sort spills instead.
    //
    // Shingles are hashed to 60-bit longs at the explode: every exchange,
    // window sort, join probe and aggregation key downstream carries 8
    // fixed bytes instead of a multi-word string (~17% total CPU at
    // sf0.1; the remainder is the pair-count aggregation over the join
    // fanout, which is the operator's inherent cost). Counts stay exact
    // up to md5 collisions, and the hash is the engine-portable h60, so
    // the DuckDB oracle computes identical buckets — cross-engine
    // results are bit-identical even IF a collision ever fired.
    val base = shingled(df, idCol, textCol, n)
      .select(col(idCol), h60(col("shingle")).as("__sh"))
    val sh = maxShingleDocFreq match {
      case Some(cap) =>
        base.withColumn("__df", count(lit(1)).over(Window.partitionBy("__sh")))
          .filter(col("__df") <= cap).drop("__df")
      case None => base
    }
    val sizes = base.groupBy(idCol).agg(count(lit(1)).as("n_sh"))
    val a = sh.toDF(s"a_$idCol", "__sh")
    val b = sh.toDF(s"b_$idCol", "__sh")
    a.join(b, Seq("__sh"))
      .filter(col(s"a_$idCol") < col(s"b_$idCol"))
      .groupBy(s"a_$idCol", s"b_$idCol")
      .agg(count(lit(1)).as("shared"))
      .join(sizes.toDF(s"a_$idCol", "n_a"), s"a_$idCol")
      .join(sizes.toDF(s"b_$idCol", "n_b"), s"b_$idCol")
      .withColumn("jaccard_permille",
        floor(lit(1000) * col("shared").cast("double")
          / (col("n_a") + col("n_b") - col("shared")).cast("double")).cast("long"))
      .filter(col("jaccard_permille") >= minPermille)
      .select(s"a_$idCol", s"b_$idCol", "shared", "jaccard_permille")
  }

  /** Exact n-gram Jaccard pairs via AllPairs/PPJoin-style PREFIX
    * FILTERING — the lossless replacement for [[jaccardPairs]]' shared-
    * shingle join at corpus scale (same output, fewer candidates; no
    * doc-frequency cap, so none of the cap's recall shift).
    *
    * The two classic exact prunes (Bayardo et al. "Scaling Up All
    * Pairs", WWW'07; Xiao et al. PPJoin):
    *  - LENGTH filter: J(A,B) ≥ t ⇒ t·max(|A|,|B|) ≤ min(|A|,|B|) —
    *    checked in exact integer arithmetic on the join output;
    *  - PREFIX filter: under ANY global token order, a pair with
    *    J ≥ t shares at least one token among the first
    *    |X| − ceil(t·|X|) + 1 tokens of each side, so only those
    *    PREFIX tokens enter the join index. Ordering by ascending
    *    document frequency (rarest first) makes prefix tokens the
    *    least-shared ones, which is what shrinks the join fanout on
    *    skewed real-world corpora.
    * Every candidate is then verified with the EXACT shared count
    * (`array_intersect` of the full shingle-hash arrays — order-
    * agnostic, so the df-sorted array needs no second representation)
    * and the exact floor-scaled Jaccard; the pair-dedup runs AFTER the
    * threshold filter so the distinct only sees output-sized data.
    *
    * Worst-case cost is still Σ_prefix-token df² (all-identical docs
    * have quadratic OUTPUT — no exact algorithm escapes that), but on
    * df-skewed corpora the prefix index prunes most of the fanout the
    * raw join pays, and unlike the cap it never changes the answer.
    *
    * WHEN TO USE WHICH exact form (measured, SCALING.md r6+r7): prefix
    * filtering's prune power is concentrated SHINGLE-df mass, not word
    * skew per se. Measured on Zipf(s≈1) free text, 3-gram shingles are
    * mostly globally unique, the raw join ([[jaccardPairs]]) stays
    * near-linear and wins at every size (prefix costs 1.6–3.1× more —
    * each candidate carries two full hash arrays). Add verbatim
    * boilerplate (30% of docs sharing template sentences) and the
    * picture inverts at scale: template-shingle df ≈ 750 sends the raw
    * join's Σdf² fanout quadratic (10.4× CPU at 3.3× docs) while the
    * rarest-first prefix never indexes the boilerplate tokens and
    * holds linear — 3.1× cheaper at the 50k-doc point and compounding.
    * ROUTE: corpora with repeated verbatim blocks (crawl headers,
    * licenses, templates) → THIS form, always lossless; high-entropy /
    * unique-text corpora → the raw join (with its df cap at scale).
    *
    * The prefix relation is locally checkpointed before the self-join
    * (the materialization boundary [[Similarity.nearDupPairsLsh]] also
    * needs — without it the join re-evaluates the agg→slice→explode
    * chain per match), and the join carries an explicit SHUFFLE_HASH
    * hint: Catalyst under-estimates the exploded prefix index below
    * the broadcast threshold and the resulting driver broadcast of a
    * corpus-sized relation OOMs at scale (observed at the 150k-doc
    * study point). A corpus-sized self-join must shuffle on its key —
    * the hint states what the statistics cannot.
    *
    * CONSTRUCTION SIDE EFFECT: building this DataFrame already runs
    * Spark jobs (the eager checkpoint) and pins the checkpointed blocks
    * in executor storage for the session's lifetime. A long-lived
    * session composing many instances should release them after the
    * action completes — the blocks are reachable via
    * `spark.sparkContext.getPersistentRDDs` — or scope the work to a
    * job group. The same applies to [[Similarity.nearDupPairsLsh]] and
    * [[nearDupSurvivors]]'s over-threshold path. */
  def jaccardPairsPrefix(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minPermille: Int = 500): DataFrame = {
    require(minPermille >= 1 && minPermille <= 1000,
      "minPermille must be in [1, 1000]")
    val sh = shingled(df, idCol, textCol, n)
      .select(col(idCol), h60(col("shingle")).as("__sh"))
    // global df per shingle (one exchange on the shingle hash), then one
    // df-sorted hash array + size per doc (one exchange on the id)
    val wdf = sh.withColumn("__df",
      count(lit(1)).over(Window.partitionBy("__sh")))
    val docs = wdf.groupBy(idCol).agg(
        sort_array(collect_list(struct(col("__df"), col("__sh")))).as("__s"),
        count(lit(1)).as("__sz"))
      .select(col(idCol),
        transform(col("__s"), s => s.getField("__sh")).as("__arr"),
        col("__sz"))
    // prefix length |X| − ceil(t·|X|) + 1; the product stays ≤ ~2^40 so
    // the double floor-division is exact
    val ceilT = floor((col("__sz") * minPermille + 999) / 1000)
    val prefLen = (col("__sz") - ceilT + 1).cast("int")
    val pref = docs.select(col(idCol), col("__arr"), col("__sz"),
      explode(slice(col("__arr"), lit(1), prefLen)).as("__psh"))
      .localCheckpoint(true)
    val a = pref.toDF(s"a_$idCol", "a_arr", "a_sz", "__psh")
    val b = pref.toDF(s"b_$idCol", "b_arr", "b_sz", "__psh")
    a.join(b.hint("shuffle_hash"), Seq("__psh"))
      .filter(col(s"a_$idCol") < col(s"b_$idCol"))
      .filter(least(col("a_sz"), col("b_sz")) * 1000
        >= greatest(col("a_sz"), col("b_sz")) * minPermille)
      .withColumn("shared",
        size(array_intersect(col("a_arr"), col("b_arr"))).cast("long"))
      .withColumn("jaccard_permille",
        floor(lit(1000) * col("shared").cast("double")
          / (col("a_sz") + col("b_sz") - col("shared")).cast("double")).cast("long"))
      .filter(col("jaccard_permille") >= minPermille)
      .select(s"a_$idCol", s"b_$idCol", "shared", "jaccard_permille")
      .distinct()
  }

  // ---------------------------------------------------------------- MinHash

  /** k-member MinHash signature as ONE per-row array column — the native
    * [[graft.functions.MinHashSig]] (one md5 per shingle + k multiply-adds,
    * zero shuffles). Docs with no shingles (shorter than n tokens) are
    * dropped, exactly as the former explode+groupBy construction did. */
  private def sigRelation(df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val sig = ColumnBridge.column(graft.functions.MinHashSig(
      ColumnBridge.expression(tokenShingles(tokensWs(col(textCol)), n)), k))
    // drop-parity filter on the CHEAP predicate (a doc has shingles iff it
    // has ≥ n tokens), not on isnotnull(sig): a filter over the expensive
    // expression gets pushed below the projection and re-evaluates every
    // signature twice (once in the Filter, once in the Project)
    df.filter(size(tokensWs(col(textCol))) >= n)
      .select(col(idCol), sig.as("__sig"))
  }

  /** (band, band_key) structs over a signature array column — shared by
    * the batch self-join and the index/probe pair; both sides
    * of any LSH join MUST build keys from this one definition. */
  private def bandKeyStructs(sig: Column, k: Int, bands: Int): Seq[Column] = {
    val r = k / bands
    (0 until bands).map { bnd =>
      val slots = (0 until r).map(i => sig.getItem(bnd * r + i).cast("string"))
      struct(lit(bnd).as("band"),
        h60(concat_ws(",", lit(bnd.toString) +: slots: _*)).as("band_key"))
    }
  }

  /** Per-pair signature agreement count from two array columns. */
  private[graft] def sigAgree(aSig: Column, bSig: Column, k: Int): Column =
    (0 until k)
      .map(i => when(aSig.getItem(i) === bSig.getItem(i), 1).otherwise(0))
      .reduce(_ + _).cast("long")

  /** The LSH index of a corpus: one row per (band, band_key) per doc,
    * carrying the full signature for agreement rerank. This is the
    * relation a pipeline PERSISTS (parquet, partitioned by band) so
    * later batches can probe the corpus without recomputing it.
    *
    * The index is SELF-DESCRIBING: `ix_n`/`ix_k`/`ix_bands` ride along
    * as constant columns (free under parquet dictionary encoding) and
    * [[minhashProbe]] validates them against the
    * probe's parameters — a mismatched probe RAISES instead of silently
    * equi-joining into the wrong band-key space and returning
    * near-empty matches (see [[IndexStamp]]). */
  def minhashIndex(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 16, bands: Int = 4): DataFrame =
    IndexStamp.stamp(minhashKeyed(df, idCol, textCol, n, k, bands),
      minhashStampParams(n, k, bands))

  /** The (band, band_key)-keyed relation WITHOUT the parameter stamp —
    * the internal form the self-join ([[minhashLshPairs]]) and the
    * probe side of [[probeJoin]] consume, where the stamp would only
    * widen positional renames. */
  private def minhashKeyed(df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val sigs = sigRelation(df, idCol, textCol, n, k)
    sigs.select(col(idCol), col("__sig"),
        explode(array(bandKeyStructs(col("__sig"), k, bands): _*)).as("b"))
      .select(col(idCol), col("__sig").as("sig"),
        col("b.band").as("band"), col("b.band_key").as("band_key"))
  }

  private def minhashStampParams(n: Int, k: Int, bands: Int): Seq[(String, Int)] =
    Seq("ix_n" -> n, "ix_k" -> k, "ix_bands" -> bands)

  /** `index` validated against the probe-side build parameters — any
    * index row stamped differently raises; an unstamped relation is
    * rejected at plan construction. Used by [[minhashProbe]]. */
  private[graft] def validatedMinhashIndex(index: DataFrame, n: Int, k: Int,
      bands: Int, what: String): DataFrame =
    IndexStamp.validated(index, minhashStampParams(n, k, bands), what)

  /** Wide MinHash signature: one row per id, columns mh0..mh{k−1} where
    * mh_i = min over shingles of the affine family member
    * [[graft.functions.Hashing.h31Affine]] applied to ONE md5-base hash
    * per shingle. Computed per-row by [[graft.functions.MinHashSig]] —
    * a signature is a function of the row's own shingles, so the former
    * explode + k-min hash aggregation paid a corpus-wide shuffle for
    * per-partition work. */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 16): DataFrame =
    sigRelation(df, idCol, textCol, n, k)
      .select(col(idCol) +: (0 until k).map(i => col("__sig").getItem(i).as(s"mh$i")): _*)

  /** LSH banding over a wide signature: `bands` keys per id, each hashing
    * `rowsPerBand` consecutive signature slots. Docs agreeing on any band
    * key become candidates (prob ≈ 1−(1−j^r)^b for Jaccard j). */
  def lshBandKeys(sigs: DataFrame, idCol: String, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandStructs = (0 until bands).map { bnd =>
      val slots = (0 until rowsPerBand).map(i => col(s"mh${bnd * rowsPerBand + i}").cast("string"))
      struct(lit(bnd).as("band"),
        h60(concat_ws(",", lit(bnd.toString) +: slots: _*)).as("band_key"))
    }
    sigs.select(col(idCol), explode(array(bandStructs: _*)).as("b"))
      .select(col(idCol), col("b.band").as("band"), col("b.band_key").as("band_key"))
  }

  /** MinHash-LSH near-dup candidate pairs with signature-estimated
    * similarity: join on (band, band_key), dedup pairs, then count
    * agreeing signature slots (est. Jaccard = agree/k).
    *
    * Plan shape: the signature array rides ALONG with the band keys into
    * the self-join, so the whole operator is scan → per-row signatures →
    * banded self-join (both sides the same subplan — ReuseExchange
    * computes the shuffle once) → per-row agreement → distinct. The
    * former shape re-joined the candidate pairs against the signature
    * relation twice, re-running the signature aggregation's exchange;
    * carrying the array eliminates both joins and their shuffles. The
    * agreement rerank runs BEFORE the pair-distinct (the
    * [[Similarity.nearDupPairsLsh]] lesson): sig_agree is deterministic
    * per pair, so deduping (a, b, agree) after the threshold equals
    * deduping (a, b, sigs) before it — but the distinct then
    * hash-aggregates only PASSING pairs keyed by three scalars, instead
    * of every banded candidate carrying two k-slot arrays. A pair
    * colliding in several bands pays the 16-comparison rerank once per
    * band — pennies against the exchange the old shape saved. */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 16, bands: Int = 4, minAgree: Int = 8): DataFrame = {
    val keys = minhashKeyed(df, idCol, textCol, n, k, bands)
    keys.toDF(s"a_$idCol", "a_sig", "band", "band_key")
      .join(keys.toDF(s"b_$idCol", "b_sig", "band", "band_key"), Seq("band", "band_key"))
      .filter(col(s"a_$idCol") < col(s"b_$idCol"))
      .withColumn("sig_agree", sigAgree(col("a_sig"), col("b_sig"), k))
      .filter(col("sig_agree") >= minAgree)
      .select(s"a_$idCol", s"b_$idCol", "sig_agree").distinct()
  }

  /** Probe an LSH index ([[minhashIndex]]) with new docs: per probe doc,
    * every index doc sharing a band key, reranked by exact signature
    * agreement. Emits one row per (probe, match) pair.
    *
    * `n`/`k`/`bands` are validated against the index's stamp
    * ([[IndexStamp]]): a mismatch RAISES rather than returning the
    * near-empty match set mismatched band-key spaces produce.
    *
    * `maxBucketRows` is the probe-side skew guard
    * ([[IndexOps.capHotBuckets]]): index buckets above the cap leave
    * candidate generation, bounding the worst probe's rerank. Off by
    * default; pick the cap from [[IndexOps.bucketHistogram]]'s tail. */
  def minhashProbe(probes: DataFrame, index: DataFrame, idCol: String,
      textCol: String, n: Int = 3, k: Int = 16, bands: Int = 4,
      minAgree: Int = 8, maxBucketRows: Option[Int] = None): DataFrame =
    probeJoin(minhashKeyed(probes, idCol, textCol, n, k, bands),
      IndexOps.capHotBuckets(
        validatedMinhashIndex(index, n, k, bands, "minhashProbe"),
        Seq("band", "band_key"), maxBucketRows),
      idCol, k, minAgree).distinct()

  /** [[minhashProbe]] with `n`/`k`/`bands` read FROM the index's own
    * stamp (one tiny head() job) — the closed form of the
    * self-describing-index contract: nothing to re-supply, nothing to
    * mismatch. `minAgree` stays caller-side (a probe-time threshold,
    * not a build parameter). An empty index returns the empty match
    * set with the contract schema. Prefer this for persisted indexes;
    * the explicit form remains for plans built before any action. */
  def minhashProbeAuto(probes: DataFrame, index: DataFrame, idCol: String,
      textCol: String, minAgree: Int = 8,
      maxBucketRows: Option[Int] = None): DataFrame =
    IndexStamp.read(index, Seq("ix_n", "ix_k", "ix_bands"),
        "minhashProbeAuto") match {
      case Some(Seq(n, k, bands)) =>
        minhashProbe(probes, index, idCol, textCol, n, k, bands, minAgree,
          maxBucketRows)
      case _ =>
        probeJoin(minhashKeyed(probes.limit(0), idCol, textCol, 3, 16, 4),
          index, idCol, 16, minAgree).distinct()
    }

  /** The index rows for NEW documents under an existing index's build
    * parameters (read from its stamp): append these to the persisted
    * relation (`write.mode("append").partitionBy("band")`) to grow the
    * index without recomputing the corpus. Extending an EMPTY relation
    * is refused — there is no stamp to inherit; build instead. The
    * stamp is read with the UNIQUENESS guard ([[IndexStamp.readUnique]]):
    * a directory already polluted by a differently-stamped append is
    * refused instead of nondeterministically deepening the mix. */
  def minhashIndexExtend(index: DataFrame, newDocs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    IndexStamp.readUnique(index, Seq("ix_n", "ix_k", "ix_bands"),
        "minhashIndexExtend") match {
      case Some(Seq(n, k, bands)) =>
        minhashIndex(newDocs, idCol, textCol, n, k, bands)
      case _ => throw new IllegalArgumentException(
        "minhashIndexExtend: cannot extend an empty index relation (no " +
          "stamp to inherit) — build it with minhashIndex instead")
    }

  /** Band-key equi-join of a probe index against a corpus index with
    * agreement rerank, before [[minhashProbe]]'s `distinct`. Columns
    * are bound BY NAME, never positionally: the index side is caller-supplied and
    * a parquet round-trip with `partitionBy("band")` reorders its columns
    * (partition columns read back last) — a positional rename would
    * silently relabel band_key as band and empty every probe result. */
  private[graft] def probeJoin(probes: DataFrame, index: DataFrame,
      idCol: String, k: Int, minAgree: Int): DataFrame = {
    def named(df: DataFrame, side: String) = df.select(
      col(idCol).as(s"${side}_$idCol"), col("sig").as(s"${side}_sig"),
      col("band"), col("band_key"))
    val p = named(probes, "probe")
    val ix = named(index, "corpus")
    p.join(ix, Seq("band", "band_key"))
      .select(col(s"probe_$idCol"), col(s"corpus_$idCol"),
        sigAgree(col("probe_sig"), col("corpus_sig"), k).as("sig_agree"))
      .filter(col("sig_agree") >= minAgree)
  }

  // ------------------------------------------------------------- clustering

  /** Connected components over near-dup pairs: the last mile of corpus
    * dedup — pairs say "these two are near-identical", clusters say
    * "keep one of THESE k". Iterative min-label propagation: every node
    * starts labeled with its own id; each round every node takes the min
    * of its label and its neighbors' labels; fixpoint = per-component
    * min id as `cluster_id`.
    *
    * Scale posture: each round is one equi-join + one aggregation on the
    * edge list — hash shuffles, no driver data. The driver only runs the
    * convergence loop (count of changed labels per round), standard for
    * iterative graph algorithms on Spark; rounds needed = graph diameter
    * (near-dup components are shallow — dup clusters are cliques or
    * short chains, so 1–3 rounds in practice). `localCheckpoint` per
    * round truncates the exploding lineage.
    *
    * PRECONDITION: every edge endpoint must be a member of `nodes`
    * (every in-repo caller derives edges and nodes from the same
    * relation, so this holds by construction). Components are computed
    * over the EDGE graph — an endpoint missing from `nodes` still
    * propagates connectivity and can be a component's minimum; it is
    * only excluded from the OUTPUT rows. Callers wanting components of
    * an induced subgraph must filter the edge list themselves.
    *
    * Only nodes that TOUCH AN EDGE enter the propagation loop: a node
    * with no edges is its own singleton component by definition, and is
    * re-attached with `cluster_id = id` by one left join at the end.
    * This matters at every scale — near-dup edge sets are output-sized
    * while the node set is the corpus (411 vs 4,538 at the sf0.1 study
    * point, and the gap widens with corpus size), so the per-round join
    * now moves edge-participant rows only, never the corpus. Labels
    * initialize to min(id, min neighbor) — the first propagation round
    * folded into initialization as one aggregation over the symmetric
    * edge list (no join), so cliques converge in a single confirming
    * round.
    */
  def connectedComponents(edges: DataFrame, nodes: DataFrame,
      idCol: String, maxIter: Int = 20,
      maxDriverEdges: Int = DefaultMaxDriverEdges): DataFrame = {
    val cols = edges.columns
    require(cols.length == 2, "edges must be (src, dst)-shaped")
    val e0 = edges.toDF("src", "dst")
    val idType = e0.schema.fields.head.dataType
    // DRIVER FAST PATH — the broadcast-join trade applied to graph
    // labeling: a near-dup edge set is OUTPUT-sized (pairs that passed
    // a similarity threshold), typically orders of magnitude below the
    // corpus, while the iterative loop below costs ~2 driver-synchronous
    // jobs per round REGARDLESS of data size (measured: 16+ jobs and
    // ~1 s of pure scheduling at a 211-edge study point). Up to
    // `maxDriverEdges` (~40 MB of primitive (Long, Long) tuples at the
    // default — the same order as an autoBroadcastJoinThreshold build
    // side) the edge list is fetched in ONE head() job and labeled with union-find in
    // O(E α(E)); labels join back as a broadcast. Components and
    // representatives (min id) are identical to the loop's fixpoint.
    // Above the threshold — or for non-integral id types — the
    // distributed loop runs instead, so scale is never capped by the
    // fast path (above-threshold callers re-evaluate the edge plan
    // once more; pass a checkpointed relation if that matters).
    driverUnionFind(e0, maxDriverEdges) match {
      case Some(labels) =>
        val session = e0.sparkSession
        import session.implicits._
        val labelDf = broadcast(labels.toDF("id", "label"))
        return nodes.select(col(idCol).as("id"))
          .join(labelDf, Seq("id"), "left")
          .select(col("id").as(idCol),
            coalesce(col("label"), col("id")).cast(idType).as("cluster_id"))
      case None => () // over-threshold or non-integral ids: distributed loop
    }
    // materialize the edge list once for the loop — sym and every round
    // read these blocks instead of re-evaluating the candidate-pair plan
    // (skipped when the caller already handed us materialized blocks:
    // a second checkpoint would duplicate them in executor storage)
    val alreadyMaterialized = e0.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    val e = if (alreadyMaterialized) e0 else e0.localCheckpoint(true)
    val sym = e
      .unionByName(e.toDF("dst", "src").select("src", "dst"))
      .distinct()
      .localCheckpoint(true)
    // active nodes only, with round 1 built into the init: every src in
    // the symmetric edge list IS every edge-participant node, and its
    // neighbor-min comes from the same aggregation that enumerates it
    var labels = sym.groupBy("src").agg(min("dst").as("nmin"))
      .select(col("src").as("id"),
        least(col("src"), col("nmin")).as("label"))
      .localCheckpoint(true)
    var i = 0
    var converged = false
    while (!converged && i < maxIter) {
      // every dst is itself an edge participant, so the inner join
      // covers all neighbors — no label can be missed
      val neighborMin = sym.join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy("src").agg(min("label").as("nmin"))
        .withColumnRenamed("src", "id")
      // the change marker rides along into the (eager) checkpoint, so
      // convergence is a cheap scan of materialized partitions — not a
      // second labels⋈labels join per round
      val updated = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"),
          (col("nmin") < col("label")).as("__changed"))
        .localCheckpoint(true)
      val changed = updated.filter(col("__changed")).count()
      labels = updated.drop("__changed")
      converged = changed == 0
      i += 1
    }
    // a silent partial flood would return wrong cluster ids for every
    // node past hop `maxIter` — refuse rather than mislabel
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds " +
        "(component diameter exceeds maxIter — raise it)")
    // singleton components (no edges) rejoin as their own cluster
    nodes.select(col(idCol).as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("label"), col("id")).as("cluster_id"))
  }

  /** How many edges [[connectedComponents]] and [[nearDupSurvivors]]
    * will pull to the driver before falling back to the distributed
    * label-propagation loop. Edges are collected as specialized
    * (Long, Long) tuples — 32 bytes each plus array slack, so the
    * default caps the fetch at ~40 MB (plus the LongMap, bounded by
    * the same count) — the same order as an autoBroadcastJoinThreshold
    * build side, and safely inside any reasonable driver heap. */
  val DefaultMaxDriverEdges: Int = 1000000

  /** Driver-side union-find over a (src, dst) edge DataFrame: `Some` of
    * the non-root labels — every (id, component-min) pair where id is
    * NOT its component's minimum — when the ids are integral and the
    * edge list fits in `cap` rows (fetched with ONE head() job); `None`
    * otherwise. The fetch deserializes straight to primitive-field
    * (Long, Long) tuples — a boxed-Row collect measured ~3× the
    * footprint and made the documented cap estimate a lie. Union is by
    * MIN id with path compression, so the representative is exactly the
    * distributed loop's fixpoint label. */
  private def driverUnionFind(edges: DataFrame, cap: Int): Option[Seq[(Long, Long)]] = {
    val integralIds = edges.schema.fields.head.dataType match {
      case org.apache.spark.sql.types.LongType
         | org.apache.spark.sql.types.IntegerType => true
      case _ => false
    }
    if (!integralIds || cap <= 0) return None
    import org.apache.spark.sql.Encoders
    val sample = edges
      .select(col(edges.columns(0)).cast("long"), col(edges.columns(1)).cast("long"))
      .as[(Long, Long)](Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .head(cap + 1)
    if (sample.length > cap) return None
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent.update(c, r); c = n }
      r
    }
    sample.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent.update(rb, ra)
      else if (rb < ra) parent.update(ra, rb)
    }
    // parent's keys are exactly the ids that were ever attached under a
    // smaller root — the non-canonical members; roots label themselves
    Some(parent.keys.toSeq.map(id => (id, find(id))))
  }

  /** Near-dup clusters from MinHash-LSH pairs, with per-cluster size and
    * the canonical (min-id) survivor flagged — the materialized form a
    * dedup pipeline actually writes. */
  def nearDupClusters(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 16, bands: Int = 4, minAgree: Int = 8): DataFrame = {
    val pairs = minhashLshPairs(df, idCol, textCol, n, k, bands, minAgree)
      .select(s"a_$idCol", s"b_$idCol")
    val cc = connectedComponents(pairs, df.select(idCol), idCol)
    val w = Window.partitionBy("cluster_id")
    cc.withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("is_canonical", col(idCol) === col("cluster_id"))
  }

  /** Near-dup SURVIVORS: `df` with every near-dup cluster
    * ([[nearDupClusters]]) collapsed to its canonical (min-id) member —
    * the dedup stage a curation pipeline composes between exact dedup
    * and split assignment. Candidate generation is [[minhashLshPairs]]'
    * banded LSH (the corpus-scale route; see the scale contract on
    * [[jaccardPairs]]), clustering is [[connectedComponents]].
    *
    * Unlike [[nearDupClusters]] — whose contract is a per-doc cluster
    * report and therefore pays a corpus-wide window — survivors only
    * need the NON-canonical ids, and those are output-sized: every
    * loser touches at least one near-dup pair. So clustering runs over
    * the edge-participant nodes only (checkpointed once; both the CC
    * input and the node set read the same blocks) and the survivor
    * filter is one anti join of the corpus against the loser ids —
    * no corpus-sized shuffle anywhere but the pair generation itself. */
  def nearDupSurvivors(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 16, bands: Int = 4, minAgree: Int = 8): DataFrame =
    collapseToSurvivors(df,
      minhashLshPairs(df, idCol, textCol, n, k, bands, minAgree)
        .select(col(s"a_$idCol").as("src"), col(s"b_$idCol").as("dst")),
      idCol)

  /** [[nearDupSurvivors]] with a SURVIVOR POLICY: per near-dup cluster,
    * keep the member maximizing `scoreCol` (ties → smaller id) instead
    * of the min-id member — the form real curation pipelines want
    * (RefinedWeb keeps the longest/highest-quality page of a dup
    * cluster; min-id keeps whichever crawled first). `scoreCol` is any
    * deterministic expression over `df`'s columns (length, quality
    * score, recency).
    *
    * Same cost shape as the min-id form: candidate generation is the
    * banded LSH pair join, clustering runs over the edge participants
    * only, and the score is computed for PARTICIPANT rows only (one
    * output-sized id join into `df` — never a corpus-wide window; the
    * per-cluster argmax is a window over participant rows, bounded by
    * the pair relation). The corpus-side finish is the same single
    * anti join against the loser ids. */
  def nearDupSurvivorsBy(df: DataFrame, idCol: String, textCol: String,
      scoreCol: Column, n: Int = 3, k: Int = 16, bands: Int = 4,
      minAgree: Int = 8): DataFrame =
    collapseToSurvivorsBy(df,
      minhashLshPairs(df, idCol, textCol, n, k, bands, minAgree)
        .select(col(s"a_$idCol").as("src"), col(s"b_$idCol").as("dst")),
      idCol, scoreCol)

  /** The keep-best twin of [[collapseToSurvivors]]: collapse the
    * (src, dst) near-dup `pairs` keeping, per cluster, the member
    * maximizing `scoreCol` (ties → smaller id). Shared by
    * [[nearDupSurvivorsBy]] (lexical pairs) and
    * [[Similarity.semanticSurvivors]] (embedding-cell pairs) so the
    * policy cannot drift between the two domains. Same cost shape:
    * clustering over edge participants only, score joined for
    * participant rows only, one corpus anti join at the end. */
  private[graft] def collapseToSurvivorsBy(df: DataFrame, pairs: DataFrame,
      idCol: String, scoreCol: Column): DataFrame = {
    val pc = pairs.localCheckpoint(true)
    val participants = pc.select(col("src").as(idCol))
      .unionByName(pc.select(col("dst").as(idCol)))
      .distinct()
    val labels = connectedComponents(pc, participants, idCol)
    val scored = labels.join(df.select(col(idCol), scoreCol.as("__score")),
      Seq(idCol))
    val byPolicy = Window.partitionBy("cluster_id")
      .orderBy(col("__score").desc, col(idCol))
    val losers = scored.withColumn("__rk", row_number().over(byPolicy))
      .filter(col("__rk") > 1)
      .select(idCol)
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** `df` minus the non-canonical members of the near-dup clusters the
    * (src, dst) `pairs` describe — the collapse stage shared by
    * [[nearDupSurvivors]], [[minhashIncrementalIngest]] and
    * [[Similarity.lshIncrementalIngest]], so the text and vector paths
    * cannot drift apart. The pair relation is checkpointed ONCE up
    * front: the driver union-find probe, the fallback loop and its
    * node derivation all read the same blocks instead of re-running
    * the candidate-pair join per consumer (eager — the documented
    * construction side effect). */
  private[graft] def collapseToSurvivors(df: DataFrame, pairs: DataFrame,
      idCol: String): DataFrame = {
    val pc = pairs.localCheckpoint(true)
    driverUnionFind(pc, DefaultMaxDriverEdges) match {
      case Some(labels) =>
        // the non-root side of every label IS the loser list — no
        // cluster join needed at all, just one broadcast anti join
        val session = df.sparkSession
        import session.implicits._
        val losers = broadcast(labels.map(_._1).toDF("__loser")
          .select(col("__loser").cast(df.schema(idCol).dataType).as(idCol)))
        df.join(losers, Seq(idCol), "left_anti")
      case None =>
        val paired = pc.select(col("src").as(idCol))
          .unionByName(pc.select(col("dst").as(idCol)))
          .distinct()
        // maxDriverEdges = 0: the union-find probe above already said
        // the edge list is over threshold — a second 1M-row head()
        // inside connectedComponents would collect just to fail again
        val losers = connectedComponents(pc, paired, idCol, maxDriverEdges = 0)
          .filter(col(idCol) =!= col("cluster_id"))
          .select(idCol)
        df.join(losers, Seq(idCol), "left_anti")
    }
  }

  /** One BATCH-INCREMENTAL ingest step against a persisted MinHash
    * index — the production composition of this module: `newDocs` are
    * screened against the indexed corpus ([[minhashProbe]], parameters
    * from the index's stamp), the screen's survivors are collapsed to
    * one representative per intra-batch near-dup cluster
    * ([[nearDupSurvivors]]), and the final survivors come back with
    * the index rows to append for them
    * (`write.mode("append").partitionBy("band")`) so the NEXT batch
    * screens against corpus + this batch.
    *
    * Semantics, precisely: a new doc survives iff it is NOT a near-dup
    * of any indexed doc, and it is the minimum-id member of its
    * intra-batch near-dup cluster AFTER corpus-matched docs are
    * removed. (Corpus screening runs first, so a batch cluster whose
    * min-id member was corpus-matched is represented by its smallest
    * surviving member rather than dropped wholesale — the conservative
    * choice: content is kept unless something indexed already covers
    * it.) Oracle-checked end to end as q70.
    *
    * Contract vs GLOBAL curation: near-dup is not transitive, so
    * incremental screening approximates a whole-corpus collapse. A
    * batch doc that near-matches only a doc the store's own curation
    * DROPPED (a collapsed cluster loser) is admitted unless it also
    * matches that cluster's surviving representative — re-running the
    * global pipeline (q57) over store ∪ batch can therefore collapse
    * strictly more than the incremental path (q72). This is inherent
    * to any index-screened ingest, not a defect of this one; the
    * conservative direction (admitting, never over-dropping) is the
    * safe side for training data.
    *
    * @return (survivors, appendRows) — appendRows carry the inherited
    *         stamp, so future probes validate against the same family
    */
  def minhashIncrementalIngest(index: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String, minAgree: Int = 8): (DataFrame, DataFrame) = {
    // uniqueness-guarded read: the ingest APPENDS under these parameters,
    // so a mixed directory must be refused here, not probed into
    val params = IndexStamp.readUnique(index, Seq("ix_n", "ix_k", "ix_bands"),
      "minhashIncrementalIngest").getOrElse(throw new IllegalArgumentException(
        "minhashIncrementalIngest: the index relation is empty — build it " +
          "with minhashIndex first"))
    val Seq(n, k, bands) = params: @unchecked
    val matched = minhashProbe(newDocs, index, idCol, textCol, n, k, bands, minAgree)
      .select(col(s"probe_$idCol").as(idCol)).distinct()
    // one materialization of the corpus screen: both returned frames
    // (and the pair head() inside the collapse) derive from it, and
    // without the boundary each action re-runs the full index probe
    // join (eager — the documented construction side effect)
    val screened = newDocs.join(matched, Seq(idCol), "left_anti")
      .localCheckpoint(true)
    val survivors = nearDupSurvivors(screened, idCol, textCol, n, k, bands, minAgree)
    (survivors, minhashIndex(survivors, idCol, textCol, n, k, bands))
  }

  // ---------------------------------------------------------------- SimHash

  /** 60-bit frequency-weighted SimHash of the whitespace tokens: bit i is
    * set when Σ_tokens (2·bit_i(h60(token)) − 1) > 0. Computed per-row by
    * the native [[graft.functions.SimHash60]] — the former explode +
    * 60-column conditional aggregation shuffled every (doc, token) row to
    * compute a value that is a pure function of the row itself. `bits` is
    * pinned at 60: the portable-hash construction (15 md5 hex chars) and
    * the 15-bit chunk blocking both assume it. */
  def simhash(df: DataFrame, idCol: String, textCol: String, bits: Int = 60): DataFrame = {
    require(bits == 60, "simhash is pinned to the portable 60-bit construction")
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val sig = ColumnBridge.column(graft.functions.SimHash60(
      ColumnBridge.expression(tokensWs(col(textCol)))))
    // cheap drop-parity filter (see sigRelation): `split` never returns an
    // empty array, so this drops nothing in practice but pins the old
    // explode semantics without re-evaluating the signature in a Filter
    df.filter(size(tokensWs(col(textCol))) >= 1)
      .select(col(idCol), sig.as("simhash"))
  }

  /** SimHash near-dup pairs: block on equality of any 15-bit signature
    * chunk (4 blocking keys per doc), then exact Hamming distance
    * ≤ `maxHamming` via bit_count(xor).
    *
    * SCALE CONTRACT — chunk-key collisions are 4·2^−15 only when the
    * corpus's signatures are high-entropy. On a low-entropy corpus
    * (template-heavy text, small vocabulary) many documents share chunk
    * values, the per-key document frequency grows LINEARLY with the
    * corpus, and candidate pairs grow quadratically (measured: chunk-key
    * max df 279 → 2805 → 8344 at 1×/10×/30× docs; candidates 0.3M →
    * 28.7M → 257M; SCALING.md). `maxChunkDocFreq` is the skew guard —
    * blocking keys in more than that many docs leave candidate
    * generation, bounding any one key's fanout to cap² and the total to
    * keys·cap²/2. Recall contract: a pair is missed only when EVERY
    * chunk it agrees on is over-cap; exact Hamming still reranks every
    * surviving candidate, so there are no false positives. Note also
    * that on such corpora the OUTPUT relation itself can be Θ(n²)
    * (at 10× docs, 8.9M pairs genuinely sit within Hamming 10 — the
    * threshold saturates against low signature entropy): the cap bounds
    * what this operator emits, and corpus-scale routing belongs to
    * [[minhashLshPairs]], whose banded keys draw on full shingle
    * entropy. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 10, chunkBits: Int = 15, bits: Int = 60,
      maxChunkDocFreq: Option[Int] = None): DataFrame = {
    // validate at THIS boundary, not in the nested simhash call: the
    // signature still advertises `bits` but only the portable 60-bit
    // construction exists since the native-expression rewrite
    require(bits == 60, "simhashPairs is pinned to the portable 60-bit construction")
    require(bits % chunkBits == 0, s"chunkBits must divide $bits")
    val nChunks = bits / chunkBits
    val sigs = simhash(df, idCol, textCol, bits)
    val chunks = (0 until nChunks).map(j =>
      struct(lit(j).as("chunk_id"),
        shiftright(col("simhash"), j * chunkBits)
          .bitwiseAND(lit((1L << chunkBits) - 1)).as("chunk")))
    val keyedAll = sigs.select(col(idCol), col("simhash"), explode(array(chunks: _*)).as("c"))
      .select(col(idCol), col("simhash"), col("c.chunk_id").as("chunk_id"), col("c.chunk").as("chunk"))
    // same one-exchange window cap as jaccardPairs: the self-join below
    // reuses the (chunk_id, chunk) shuffle this window creates
    val keyed = maxChunkDocFreq match {
      case Some(cap) =>
        keyedAll.withColumn("__df",
            count(lit(1)).over(Window.partitionBy("chunk_id", "chunk")))
          .filter(col("__df") <= cap).drop("__df")
      case None => keyedAll
    }
    keyed.toDF(s"a_$idCol", "a_sim", "chunk_id", "chunk")
      .join(keyed.toDF(s"b_$idCol", "b_sim", "chunk_id", "chunk"), Seq("chunk_id", "chunk"))
      .filter(col(s"a_$idCol") < col(s"b_$idCol"))
      .select(s"a_$idCol", s"b_$idCol", "a_sim", "b_sim").distinct()
      .withColumn("hamming", bit_count(col("a_sim").bitwiseXOR(col("b_sim"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(s"a_$idCol", s"b_$idCol", "hamming")
  }
}
