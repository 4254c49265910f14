package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Hashing.h60
import graft.functions.TextAnalysis.tokensWs

/** Corpus-preparation operators a large-scale training-data pipeline
  * needs around the dedup/similarity core: deterministic dataset splits,
  * stratified downsampling, overlapping context-window chunking, and
  * eval-set decontamination.
  *
  * All assignment decisions are *hash-derived, not random*: `rand()` is
  * neither reproducible across retries/stage-replays (a recomputed
  * partition would re-roll its rows — silent train/test leakage on
  * speculative re-execution) nor portable to the verification oracle.
  * Every operator is pure column expressions — codegen'd, no UDFs, no
  * shuffles beyond what the semantics require.
  */
object TrainingData {

  // ----------------------------------------------------------------- splits

  /** Deterministic train/val/test assignment, keyed on `groupCol`.
    *
    * Keying on a GROUP (source/domain/site) rather than the row id is
    * what makes the split leakage-resistant: near-duplicate rows from
    * one origin land in the same partition, so the test set is not
    * contaminated by train-set siblings. Pass the row id column to get
    * a plain per-row split. The salt versions the split: changing it
    * re-deals every group.
    *
    * Pure projection — no shuffle, no state; any executor computes the
    * same assignment for the same key, at any scale.
    */
  def assignSplit(
      df: DataFrame,
      groupCol: String,
      trainPermille: Int = 800,
      valPermille: Int = 100,
      salt: String = "v1",
      outCol: String = "split"): DataFrame = {
    require(trainPermille + valPermille <= 1000, "permilles exceed 1000")
    // concat, not concat_ws: null keys must POISON the hash (null bucket →
    // the otherwise-branch) exactly like the oracle's `||`; concat_ws
    // would silently skip the null and collapse all null groups into one
    // hash bucket the oracle can't reproduce
    val bucket = h60(concat(lit(s"split:$salt:"), col(groupCol).cast("string"))) % 1000
    df.withColumn(outCol,
      when(bucket < trainPermille, "train")
        .when(bucket < trainPermille + valPermille, "val")
        .otherwise("test"))
  }

  /** [[assignSplit]] hardened against CROSS-GROUP near-duplicates —
    * the leak the group key cannot see. Group-keyed splitting puts
    * same-origin copies on one side of the boundary, but the web's
    * mirror problem is cross-origin: the same article under two
    * sources lands in two groups, the hash deals the groups apart, and
    * the holdout's twin trains. This operator runs [[assignSplit]] and
    * then re-marks every TRAIN member of a near-duplicate pair whose
    * other side is holdout (val/test) as `"leaked"`: the holdout set
    * is never changed (its composition is the experiment), the leaked
    * rows are named rather than silently dropped (route them out of
    * training with a filter — or audit them; an engine should not
    * disappear rows), and the near-dup relation is SIDED: the holdout
    * side becomes a banded index ([[Dedup.minhashIndex]]) that the
    * train side probes ([[Dedup.minhashProbe]]) — cross-boundary
    * candidates only, never all-pairs and never the self-join's
    * intra-train bulk.
    *
    * val↔test near-dups are deliberately untouched: neither side is
    * trained on, so nothing leaks into the model; re-dealing them
    * would silently change the holdout composition instead.
    *
    * `maxBucketRows` is the probe-side skew guard
    * ([[IndexOps.capHotBuckets]] through [[Dedup.minhashProbe]]): one
    * boilerplate-heavy band bucket in the HOLDOUT index otherwise makes
    * the sided candidate join quadratic in that bucket (every train row
    * colliding there reranks the whole slice). Off by default — the
    * oracle-exact form — and bounded-recall when set: a leaked pair is
    * missed only if every bucket it shares is over-cap, i.e. precisely
    * the boilerplate content a pipeline screens by other means. Pick
    * the cap from [[IndexOps.bucketHistogram]]'s tail. */
  def leakSafeSplit(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, trainPermille: Int = 800, valPermille: Int = 100,
      salt: String = "v1", minAgree: Int = 8,
      outCol: String = "split", maxBucketRows: Option[Int] = None): DataFrame = {
    val split = assignSplit(df, groupCol, trainPermille, valPermille, salt, outCol)
    // SIDED candidate generation: only cross-boundary pairs matter, so
    // the holdout side becomes a banded index and the train side probes
    // it — candidate volume is train×holdout band collisions instead of
    // the corpus×corpus collisions a minhashLshPairs self-join would
    // generate and then mostly discard (at a 90/10 split the intra-train
    // pairs the self-join wastes ARE the bulk). Identical leak set: both
    // forms admit a pair iff the sides share a band bucket and agree on
    // ≥ minAgree of the 16 signature slots — the q104 oracle recomputes
    // the leak set from the symmetric relation and hash-matches.
    val leaked = Dedup.minhashProbe(
        split.filter(col(outCol) === "train"),
        Dedup.minhashIndex(split.filter(col(outCol) =!= "train"), idCol, textCol),
        idCol, textCol, minAgree = minAgree, maxBucketRows = maxBucketRows)
      .select(col(s"probe_$idCol").as(idCol)).distinct()
    split
      .join(leaked.withColumn("__leaked", lit(true)), Seq(idCol), "left")
      .withColumn(outCol, when(col("__leaked"), lit("leaked")).otherwise(col(outCol)))
      .drop("__leaked")
  }

  /** The EMBEDDING twin of [[leakSafeSplit]] — the leak class the
    * lexical form cannot see: a paraphrase or translation of a holdout
    * document shares no 3-token shingles with it, so MinHash banding
    * never pairs them, but their embeddings are near — which is
    * precisely what embedding near-dup exists to catch. Same sided
    * construction ([[assignSplit]] first; the HOLDOUT side becomes a
    * hyperplane-LSH index, [[Similarity.lshIndex]], and the train side
    * probes it, [[Similarity.lshIndexProbe]] — train×holdout bucket
    * collisions only, never the self-join's intra-train bulk), same
    * contract: the holdout composition is never changed, leaked train
    * rows are re-marked `"leaked"` rather than dropped, val↔test
    * pairs are untouched.
    *
    * The index's plane count is derived from the HOLDOUT size
    * ([[Similarity.lshAutoPlanes]] — the build-time rule every
    * persisted index uses; pass `knownHoldoutRows` to skip the sizing
    * count when the caller already has it). A pair is leaked iff the
    * sides share a bucket in any of `tables` plane families AND their
    * exact cosine clears `minMicro` — recall follows the standing LSH
    * trade ([[Similarity.nearDupPairsLsh]]'s scaladoc). `maxBucketRows`
    * caps a degenerate holdout bucket, as in the lexical form. */
  def leakSafeSplitEmbedding(df: DataFrame, idCol: String, vecCol: String,
      groupCol: String, dims: Int, minMicro: Long,
      trainPermille: Int = 800, valPermille: Int = 100,
      salt: String = "v1", tables: Int = 6, outCol: String = "split",
      maxBucketRows: Option[Int] = None,
      knownHoldoutRows: Option[Long] = None): DataFrame = {
    val split = assignSplit(df, groupCol, trainPermille, valPermille, salt, outCol)
    val holdout = split.filter(col(outCol) =!= "train")
    val n = knownHoldoutRows.getOrElse(holdout.count())
    val planes = if (n <= 0) 1 else Similarity.lshAutoPlanes(n)
    val leaked = Similarity.lshIndexProbe(
        split.filter(col(outCol) === "train"),
        Similarity.lshIndex(holdout, idCol, vecCol, planes, dims, tables),
        idCol, vecCol, minMicro, planes, dims, tables, maxBucketRows)
      .select(col("probe_id").as(idCol)).distinct()
    split
      .join(leaked.withColumn("__leaked", lit(true)), Seq(idCol), "left")
      .withColumn(outCol, when(col("__leaked"), lit("leaked")).otherwise(col(outCol)))
      .drop("__leaked")
  }

  /** Per-stratum deterministic downsampling: keep a row iff its id-hash
    * bucket falls under the stratum's keep-rate. The canonical corpus
    * rebalancing move (e.g. downsample the dominant language to 10%
    * while keeping the tail at 50%).
    *
    * A filter-only plan: the keep decision needs no per-stratum counts,
    * no shuffle, no sort — it streams at scan speed and pushes down
    * past column pruning. Rates are exact in expectation, not exact-N
    * (exact-N would need a global per-stratum sort at 100 TB).
    */
  def stratifiedSample(
      df: DataFrame,
      strataCol: String,
      idCol: String,
      keepPermille: Map[String, Int],
      defaultPermille: Int,
      salt: String = "v1"): DataFrame = {
    val rate = keepPermille.foldLeft(lit(defaultPermille)) {
      case (acc, (stratum, p)) => when(col(strataCol) === stratum, p).otherwise(acc)
    }
    // null ids hash to null → filter false → dropped, same as the
    // oracle's NULL comparison (concat_ws would keep them all)
    val bucket = h60(concat(lit(s"sample:$salt:"), col(idCol).cast("string"))) % 1000
    df.filter(bucket < rate)
  }

  /** Deterministic importance sampling: keep a row with probability
    * `weightPermille`/1000, where the weight is any per-row expression
    * (quality score, source priority, recency). The hash-bucket
    * comparison makes the decision reproducible per id across retries
    * and engines — `rand() < w` is neither. Filter-only plan, same
    * scale posture as [[stratifiedSample]] (which is the special case
    * of a per-stratum constant weight).
    */
  def weightedSample(
      df: DataFrame,
      idCol: String,
      weightPermille: Column,
      salt: String = "v1"): DataFrame = {
    val bucket = h60(concat(lit(s"wsample:$salt:"), col(idCol).cast("string"))) % 1000
    df.filter(bucket < weightPermille)
  }

  // ---------------------------------------------------------- domain mixture

  /** Per-source keep-rates that hit a target domain MIXTURE under a row
    * budget — the rate derivation behind [[mixtureResample]] /
    * [[mixtureReport]], exposed separately so both read one definition:
    * `rate_s = min(1000, 1000 · need_s ÷ supply_s)` permille, where
    * `need_s = budget · w_s ÷ 1000` (every ÷ a floor division — the
    * whole derivation is integer-exact, so the oracle reproduces it
    * bit-for-bit).
    *
    * Sources listed in the target but ABSENT from the corpus come back
    * with `supply = 0, rate_permille = 0` instead of vanishing — a
    * missing domain is precisely what the report must surface. An
    * UNDER-supplied source (supply below its budget share) caps at
    * keep-everything (rate 1000) and the mixture undershoots its
    * target there; the other domains are deliberately NOT re-weighted
    * up to compensate — that would silently change their sampling
    * rates, and the right response (source more data, or re-weight on
    * purpose) is the caller's call, made visible by [[mixtureReport]].
    *
    * One aggregation over the (dictionary-encoded) source column —
    * map-side combined, output is `|target|` rows. */
  def mixtureRates(df: DataFrame, sourceCol: String,
      targetPermille: Map[String, Int], budgetRows: Long,
      allowRepetition: Boolean = false): DataFrame = {
    require(targetPermille.nonEmpty, "targetPermille must list at least one source")
    require(targetPermille.values.forall(w => w >= 0 && w <= 1000),
      "per-source target weights are permille values in [0, 1000]")
    require(targetPermille.values.sum <= 1000,
      s"target weights sum to ${targetPermille.values.sum} permille (> 1000)")
    require(budgetRows >= 0 && budgetRows <= Long.MaxValue / 1000,
      "budgetRows must be in [0, Long.MaxValue/1000]")
    val session = df.sparkSession
    import session.implicits._
    // per-source budget share: driver-side exact integer arithmetic
    // (budget and the weights are both plan-time constants)
    val want = targetPermille.toSeq.sortBy(_._1)
      .map { case (s, w) => (s, w.toLong, budgetRows * w / 1000) }
      .toDF(sourceCol, "target_permille", "__need")
    val supply = df.groupBy(col(sourceCol)).agg(count(lit(1)).as("supply"))
    // allowRepetition lifts the keep-everything cap: rate 2400 means
    // "repeat each row twice, and a hash-selected 400‰ a third time" —
    // the epoch semantics [[mixtureUpsample]] materializes. The capped
    // default stays the safe form: undershoot visibly, never re-weight.
    val raw = expr("(1000 * __need) div supply")
    want.join(supply, Seq(sourceCol), "left")
      .withColumn("supply", coalesce(col("supply"), lit(0L)))
      .withColumn("rate_permille",
        when(col("supply") === 0, lit(0L))
          .otherwise(if (allowRepetition) raw else least(lit(1000L), raw)))
      .select(col(sourceCol), col("target_permille"), col("supply"),
        col("rate_permille"))
  }

  /** Domain-mixture resampling: downsample each source to its share of
    * a row budget under target permille weights ([[mixtureRates]]) —
    * the corpus-mixing step of a training-data pipeline (web-heavy raw
    * crawl in, balanced web/code/reference mix out). Sources not
    * listed in the target are dropped (weight zero).
    *
    * The keep decision is the same hash-bucket construction as
    * [[stratifiedSample]] — deterministic per id across retries, stage
    * replays and engines. Plan shape: one single-column aggregation
    * for the rates, broadcast back onto the scan, then a filter — the
    * corpus itself is never shuffled, and the second pass reads only
    * `sourceCol` + `idCol` + the output columns. */
  def mixtureResample(df: DataFrame, sourceCol: String, idCol: String,
      targetPermille: Map[String, Int], budgetRows: Long,
      salt: String = "v1"): DataFrame = {
    // "__"-prefixed join-internal name: the input frame may itself carry
    // a rate_permille column (resampling a report-derived relation)
    val rates = mixtureRates(df, sourceCol, targetPermille, budgetRows)
      .select(col(sourceCol), col("rate_permille").as("__mix_rate"))
    val bucket = h60(concat(lit(s"mix:$salt:"), col(idCol).cast("string"))) % 1000
    df.join(broadcast(rates), Seq(sourceCol))
      .filter(bucket < col("__mix_rate"))
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** [[mixtureResample]] with EXPLICIT repetition for under-supplied
    * domains — the standard practice when a domain's supply sits below
    * its budget share (a small high-quality corpus is repeated for
    * several epochs rather than silently diluted). Rates derive from
    * [[mixtureRates]] with `allowRepetition = true`, so `rate_permille`
    * is uncapped: rate 2400 keeps every row twice (epochs 0 and 1) and
    * a hash-selected 400‰ of rows a third time (epoch 2) — expected
    * output per source is exactly its budget share, integer-exact. The
    * output carries the input columns plus `epoch` (0-based copy
    * number): epoch 0 is the base copy, so filtering `epoch = 0`
    * recovers a no-repetition sample, and downstream shuffling by
    * (id, epoch) spreads the copies across shards.
    *
    * For a source whose rate lands at or below 1000 the semantics are
    * [[mixtureResample]]'s exactly (same salt, same hash buckets —
    * identical kept rows, all at epoch 0). Same plan shape too: one
    * rates aggregation broadcast back onto the scan, a filter, and a
    * per-row `sequence` explode — the corpus is never shuffled. */
  def mixtureUpsample(df: DataFrame, sourceCol: String, idCol: String,
      targetPermille: Map[String, Int], budgetRows: Long,
      salt: String = "v1"): DataFrame = {
    val rates = mixtureRates(df, sourceCol, targetPermille, budgetRows,
        allowRepetition = true)
      .select(col(sourceCol), col("rate_permille").as("__mix_rate"))
    val bucket = h60(concat(lit(s"mix:$salt:"), col(idCol).cast("string"))) % 1000
    df.join(broadcast(rates), Seq(sourceCol))
      .withColumn("__rep", expr("__mix_rate div 1000") +
        when(bucket < col("__mix_rate") % 1000, 1L).otherwise(0L))
      .filter(col("__rep") > 0)
      .select(df.columns.map(col).toIndexedSeq :+
        explode(sequence(lit(0L), col("__rep") - 1)).as("epoch"): _*)
  }

  /** The audit row per TARGETED source behind a [[mixtureResample]]
    * run: target weight, measured supply, derived keep-rate, and the
    * exact achieved row count — `supply = 0` flags a missing domain,
    * `rate_permille = 1000` an under-supplied one (target unreachable,
    * everything kept). A production pipeline computes `achieved` from
    * the resampled output it writes anyway; this form re-derives it
    * in-query so one relation carries the whole audit. */
  def mixtureReport(df: DataFrame, sourceCol: String, idCol: String,
      targetPermille: Map[String, Int], budgetRows: Long,
      salt: String = "v1"): DataFrame = {
    val rates = mixtureRates(df, sourceCol, targetPermille, budgetRows)
    val bucket = h60(concat(lit(s"mix:$salt:"), col(idCol).cast("string"))) % 1000
    val achieved = df
      .join(broadcast(rates
          .select(col(sourceCol), col("rate_permille").as("__mix_rate"))),
        Seq(sourceCol))
      .filter(bucket < col("__mix_rate"))
      .groupBy(col(sourceCol)).agg(count(lit(1)).as("achieved"))
    rates.join(achieved, Seq(sourceCol), "left")
      .withColumn("achieved", coalesce(col("achieved"), lit(0L)))
  }

  // --------------------------------------------------------------- chunking

  /** Overlapping token windows: the batch shape that turns documents
    * into model-context-sized training rows. Window `w` tokens, stride
    * `s` (overlap = w − s); the final chunk may be shorter, documents
    * of ≤ w tokens yield exactly one chunk.
    *
    * One `explode` over a per-row `sequence` — chunk count is derived
    * arithmetically, so the generator never materializes more than the
    * output, and a document's chunks stay in its partition (no shuffle).
    */
  def chunkTokens(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int,
      stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window, "need 0 < stride <= window")
    val toks = tokensWs(col(textCol))
    val n = size(toks)
    // ceil((n - w) / s) + 1, exact: subtract the remainder before the
    // divide so the double division is of an exact multiple
    val num = n - window + (stride - 1)
    val nChunks = when(n <= window, lit(1))
      .otherwise(((num - num % stride) / stride).cast("int") + 1)
    df.select(col(idCol), toks.as("__toks"), n.as("__n"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_id"))
      .select(
        col(idCol),
        col("chunk_id").cast("long").as("chunk_id"),
        array_join(slice(col("__toks"), col("chunk_id") * stride + 1, lit(window)), " ")
          .as("chunk_text"),
        least(lit(window), col("__n") - col("chunk_id") * stride).cast("long")
          .as("n_chunk_tokens"))
  }

  // ---------------------------------------------------------------- packing

  /** Concat-and-chop sequence packing: the standard pretraining batch
    * construction — documents are concatenated in a deterministic order
    * and the token stream is chopped into `capacity`-token context
    * windows. Emits each document's position in that stream: the pack
    * (window) its first token lands in, its offset there, and how many
    * packs it spans.
    *
    * Packing is per `groupCol` shard (source/split), so the running sum
    * is a window partitioned by group — every shard packs in parallel
    * and no global sort exists at any scale. Deterministic: the order
    * inside a shard is `orderCol`, not arrival order.
    */
  def packSequences(
      df: DataFrame,
      groupCol: String,
      orderCol: String,
      nTokensCol: String,
      capacity: Int): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(orderCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cumBefore = coalesce(sum(col(nTokensCol)).over(w), lit(0L))
    val n = col(nTokensCol).cast("long")
    df.withColumn("__cum", cumBefore)
      .withColumn("pack_id", floor(col("__cum") / capacity).cast("long"))
      .withColumn("pack_offset", (col("__cum") % capacity).cast("long"))
      .withColumn("n_packs_spanned",
        (floor((col("__cum") + n - 1) / capacity) - floor(col("__cum") / capacity) + 1)
          .cast("long"))
      .drop("__cum")
  }

  // ------------------------------------------------------- repetition score

  /** Intra-document repetition facets — the Gopher/C4-style quality
    * signals that catch degenerate generated or boilerplate text:
    *
    *  - `top_token_permille`: share of the document taken by its single
    *    most frequent token (mode frequency / n).
    *  - `dup_bigram_permille`: share of bigram occurrences that are
    *    repeats of an earlier bigram (1 − distinct/total).
    *
    * Both are computed per row from the token array alone — no explode,
    * no shuffle; a corpus scan stays a scan. The mode count is the
    * native codegen'd [[graft.functions.TokenModeCount]] (sort +
    * run-scan, O(n log n) per document, no interpreted lambdas).
    */
  def repetitionFacets(text: Column): Seq[(String, Column)] = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val toks = tokensWs(text)
    val n = size(toks)
    val topFreq = ColumnBridge.column(
      graft.functions.TokenModeCount(ColumnBridge.expression(toks)))
    val bigrams = Dedup.tokenShingles(toks, 2)
    val nBi = n - 1
    Seq(
      "n_tokens" -> n.cast("long"),
      "top_token_permille" ->
        floor(lit(1000) * topFreq.cast("double") / n.cast("double")).cast("long"),
      "dup_bigram_permille" ->
        when(nBi <= 0, lit(0L)).otherwise(lit(1000) -
          floor(lit(1000) * size(bigrams).cast("double") / nBi.cast("double")).cast("long")))
  }

  // ---------------------------------------------------------- rarity scoring

  /** Corpus-relative token-rarity score — the inverse-frequency form of
    * perplexity-style quality scoring (rare-token-heavy documents score
    * high; boilerplate scores low), in EXACT integer arithmetic so the
    * verification oracle matches bit-for-bit (log-based cross-entropy
    * would ride on libm's last-ulp differences across engines).
    *
    * rarity(t) = (1e6 · total_tokens) div count(t) for the top-`topV`
    * vocabulary tokens (count desc, token asc — deterministic ties);
    * out-of-vocabulary tokens score `oovRarity`, which DEFAULTS to one
    * more than the rarest vocabulary token's rarity — strictly above
    * every in-vocab score, since OOV means "rarer than anything we
    * kept" (a fixed constant here would invert the ordering: in-vocab
    * rarity is always ≥ 1e6 because count ≤ total). A document's score
    * is the integer mean rarity of its token occurrences.
    *
    * Scale shape: one shuffle to count tokens; the vocabulary is capped
    * at topV and BROADCAST (a full token-frequency join would shuffle
    * the 100 TB token stream — the capped-vocab approximation is what
    * production quality classifiers use); the corpus pass is then
    * scan + broadcast probe + one aggregation on the doc id. The plan's
    * two BroadcastNestedLoopJoins are ONE-ROW scalar constants (the
    * total count and the OOV rarity) crossed into bounded relations —
    * not data-sized joins.
    */
  def rarityScores(
      df: DataFrame,
      idCol: String,
      textCol: String,
      topV: Int,
      oovRarity: Option[Long] = None): DataFrame = {
    require(topV >= 1, "topV must be >= 1")
    val tok = df.select(col(idCol), explode(tokensWs(col(textCol))).as("__t"))
    val counts = tok.groupBy("__t").agg(count(lit(1)).as("__c"))
    val total = counts.agg(sum(col("__c")).as("__n"))
    val vocab = counts
      .orderBy(col("__c").desc, col("__t"))
      .limit(topV)
      .crossJoin(broadcast(total))
      .select(col("__t"),
        // decimal widen: 1e6 × a 100 TB corpus's token count overflows
        // a raw long multiply (2e13 tokens → 2e19 > Long.Max)
        expr("(1000000 * CAST(__n AS DECIMAL(38, 0))) div __c").as("__rarity"))
    val oov = oovRarity match {
      case Some(v) => broadcast(vocab.agg(lit(v).as("__oov")))
      case None => broadcast(vocab.agg((max(col("__rarity")) + 1).as("__oov")))
    }
    tok.join(broadcast(vocab), Seq("__t"), "left")
      .crossJoin(oov)
      .select(col(idCol), coalesce(col("__rarity"), col("__oov")).as("__r"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        expr("sum(__r) div count(1)").as("rarity_score"))
  }

  // -------------------------------------------------------- decontamination

  /** Eval-set decontamination score: for every corpus document, the
    * fraction (permille) of its distinct token `n`-grams that appear
    * anywhere in the eval set. Training on test-set text is the classic
    * silent corruption of model evals; this is the standard n-gram
    * overlap detector.
    *
    * Scale shape: the eval side reduces to a DISTINCT set of 60-bit
    * n-gram hashes — benchmarks are small next to the corpus, so that
    * set is broadcast and the probe is a map-side BroadcastHashJoin:
    * the 100 TB corpus is scanned once, never shuffled on shingles.
    * The per-document aggregation shuffles only (id, counts).
    *
    * Documents shorter than `n` tokens have no n-grams and are absent
    * from the output (nothing to score).
    */
  def decontaminationScores(
      corpus: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      flagPermille: Int = 500): DataFrame = {
    val corpusGrams = Dedup.shingled(corpus, idCol, textCol, n)
      .select(col(idCol), h60(col("shingle")).as("__g"))
    val evalGrams = Dedup.shingled(evalSet, idCol, textCol, n)
      .select(h60(col("shingle")).as("__g")).distinct()
    corpusGrams
      .join(broadcast(evalGrams.withColumn("__hit", lit(1))), Seq("__g"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        count(col("__hit")).as("n_hit"))
      .withColumn("contam_permille",
        floor(lit(1000) * col("n_hit").cast("double") / col("n_grams").cast("double"))
          .cast("long"))
      .withColumn("is_contaminated", col("contam_permille") >= flagPermille)
  }

  // ------------------------------------------------------ bigram familiarity

  /** Bigram-familiarity fluency score — the document-frequency form of
    * bigram-LM scoring (the KenLM-style fluency filter of production
    * corpus pipelines), in EXACT integer arithmetic so the oracle
    * matches bit-for-bit (log-probability cross-entropy would ride on
    * libm's last-ulp differences across engines).
    *
    * familiarity("a b") = (1000 · df("a b")) div df("a"), with df the
    * number of DOCUMENTS containing the distinct bigram / prefix token
    * (df(bigram) ≤ df(prefix), so the score is a permille in [0, 1000]:
    * how often the corpus continues "a" with "b"). A document scores the
    * integer mean familiarity of its distinct bigrams — low = unusual
    * word transitions (gibberish, shuffled boilerplate); high =
    * corpus-typical prose. Documents under 2 tokens have no bigrams and
    * are absent (nothing to score), like [[decontaminationScores]].
    *
    * Scale shape: distinct per-doc bigrams/unigrams come from the native
    * shingle expression (per-row, no shuffle); the two df counts are the
    * inherent corpus-stat shuffles on the gram key; then two equi-joins
    * attach the counts and one aggregation lands on the doc id. Nothing
    * quadratic, nothing broadcast-unbounded.
    */
  def bigramFamiliarity(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // every shuffle/join key is an h60 long, not the raw gram string —
    // the same 8-byte-key discipline as jaccardPairs and
    // decontaminationScores (measured there: hashing cost < string-key
    // exchange cost); prefix is derived from the string BEFORE hashing
    val bi = Dedup.shingled(df, idCol, textCol, 2).select(
      col(idCol),
      h60(col("shingle")).as("__bg"),
      h60(substring_index(col("shingle"), " ", 1)).as("__pf"))
    val biDf = bi.groupBy("__bg").agg(count(lit(1)).as("df_bi"))
    val uniDf = Dedup.shingled(df, idCol, textCol, 1)
      .select(h60(col("shingle")).as("__pf"))
      .groupBy("__pf").agg(count(lit(1)).as("df_uni"))
    bi.join(biDf, "__bg")
      .join(uniDf, "__pf")
      .withColumn("fam", expr("(1000 * df_bi) DIV df_uni"))
      .groupBy(idCol)
      .agg(sum(col("fam")).as("__s"), count(lit(1)).as("n_bigrams"))
      .withColumn("mean_fam_permille", expr("__s DIV n_bigrams"))
      .select(col(idCol), col("mean_fam_permille"), col("n_bigrams"))
  }

  // ------------------------------------------------- incremental curation

  /** The per-batch step of incremental corpus curation — the reusable
    * core of q72: caller-policy quality `gate` → in-batch exact dedup →
    * exact-content
    * screen against the store's hashes → stamped-index near-dup screen
    * with intra-batch collapse
    * ([[graft.operators.Dedup.minhashIncrementalIngest]]).
    *
    * `storeHashes` is a one-column `content_hash` relation of the
    * curated store's md5 text hashes (e.g.
    * `store.select(md5(col(textCol)).as("content_hash"))` or the
    * `content_hash` column its own curation already carried) — passing
    * hashes rather than documents keeps the steady-state contract
    * index-shaped: a production ingest holds the persisted LSH index
    * and a persisted hash set, never the store's text. The exact screen
    * is semantically subsumed by the index screen for gate-passing text
    * (identical text ⇒ identical signature ⇒ all bands match) but runs
    * first because a hash anti-join is a fraction of the probe's cost.
    *
    * One checkpoint boundary, same trade as q57/q72: the screened batch
    * feeds both the probe and the survivor base. The index must be
    * non-empty (the ingest contract); bootstrap an empty store with
    * [[graft.operators.Dedup.nearDupSurvivors]] on the gated batch.
    */
  def curateIncrement(batch: DataFrame, storeHashes: DataFrame,
      index: DataFrame, idCol: String, textCol: String,
      gate: DataFrame => DataFrame, minAgree: Int = 8): DataFrame = {
    val deduped = Dedup.exactDedup(gate(batch), idCol, textCol)
      .filter(!col("is_dup"))
    val fresh = deduped
      .join(storeHashes.select("content_hash").distinct(),
        Seq("content_hash"), "left_anti")
      .localCheckpoint(true)
    Dedup.minhashIncrementalIngest(index, fresh, idCol, textCol, minAgree)._1
  }
}
