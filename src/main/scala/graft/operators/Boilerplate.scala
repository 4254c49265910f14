package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cross-document boilerplate removal (CCNet / RefinedWeb-style
  * line-level dedup): units of text (lines, paragraphs, fixed-width
  * token chunks) that repeat across ≥ `minDocs` DISTINCT documents are
  * template chrome — nav bars, cookie banners, license footers — and
  * are stripped from every document that carries them, preserving the
  * order of what survives.
  *
  * This is the cross-corpus complement of the intra-document repetition
  * facets ([[TrainingData.repetitionFacets]]): those score one document
  * against itself; this relation is global, so it needs a corpus-wide
  * frequency aggregation that no per-row expression can express.
  *
  * 100 TB shape — the corpus text never shuffles through the frequency
  * machinery:
  *   1. one exploded pass → `(unit, doc)` → doc-frequency aggregation
  *      (map-side partial dedup, one shuffle on the unit);
  *   2. the heavy relation (`doc_freq ≥ minDocs`) is by construction a
  *      tiny fraction of distinct units — only exploded rows MATCHING
  *      it survive the inner join and flow onward (grouped to one
  *      per-doc heavy list, bounded by document length);
  *   3. the original rows join that per-doc list on the id (AQE
  *      broadcasts it in the common sparse-boilerplate case) and strip
  *      with an order-preserving array `filter` — no positional
  *      bookkeeping, no rebuild shuffle of the corpus body.
  * The naive alternative — explode the corpus, anti-join, re-assemble
  * with a positional sort — shuffles every byte of text twice; this
  * shape shuffles only the unit-frequency relation and the matches
  * (measured in SCALING.md's BoilerplateStudy).
  *
  * Normalization: a unit's identity is its `trim`; units that are
  * empty after trimming (blank lines, structural separators) are never
  * counted and never stripped. An optional `perCol` (source / domain)
  * scopes the frequency: a line must repeat within the SAME group to
  * count, the per-site form — templates are per-site, and a global
  * count would let two sites' coincidentally-shared line strip both.
  */
object Boilerplate {

  /** Doc-frequency relation: one row per (group,) distinct unit with
    * the count of DISTINCT documents carrying it. Columns:
    * (`perCol`?, `unit`, `doc_freq`). `unit` is the trimmed form. */
  def unitDocFreq(df: DataFrame, idCol: String, unitsCol: Column,
      perCol: Option[String] = None): DataFrame = {
    val ex = exploded(df, idCol, unitsCol, perCol)
    val keys = perCol.toSeq :+ "unit"
    ex.groupBy(keys.map(col): _*)
      .agg(countDistinct(col(idCol)).as("doc_freq"))
  }

  /** The heavy relation [[unitDocFreq]] filters to: units repeated in
    * ≥ `minDocs` distinct documents (the boilerplate candidates). */
  def repeatedUnits(df: DataFrame, idCol: String, unitsCol: Column,
      minDocs: Long, perCol: Option[String] = None): DataFrame = {
    require(minDocs >= 2, s"minDocs must be ≥ 2 (got $minDocs): " +
      "every unit appears in ≥ 1 document, so 1 would strip the corpus")
    unitDocFreq(df, idCol, unitsCol, perCol).filter(col("doc_freq") >= minDocs)
  }

  /** Strip boilerplate units from every document. Returns the input
    * plus `keptCol` (the surviving units, original order), `n_units`
    * (original unit count) and `n_stripped` (OCCURRENCES removed — a
    * heavy unit appearing twice in one document strips both copies).
    *
    * `broadcastHeavy` (default true) pins the heavy relation as the
    * broadcast side of the match join. This is a deliberate, bounded
    * choice, not planner trust: the heavy relation is small BY
    * CONSTRUCTION (units repeating in ≥ minDocs docs — even web-scale
    * line-dedup tables are ~millions of rows), while the exploded
    * corpus side both dwarfs it and — the sharper point — cannot be
    * shuffled on the unit without hitting the skew this operator
    * exists to find: the heavy units ARE the hot keys, so every
    * shuffle-on-unit plan sends each boilerplate line's full
    * occurrence set to one task. Left to the static planner, a
    * Generate's garbage size estimate made it broadcast the EXPLODED
    * CORPUS as the build side at the sf3 study point — locally
    * survivable, fatal at cluster scale. Set false only when the heavy
    * relation genuinely cannot fit an executor: the fallback forces a
    * sort-merge join, which never broadcasts the corpus and lets AQE's
    * skew split carve the hot units' occurrence partitions. */
  def stripRepeatedUnits(df: DataFrame, idCol: String, unitsCol: Column,
      keptCol: String, minDocs: Long, perCol: Option[String] = None,
      broadcastHeavy: Boolean = true): DataFrame =
    stripUnitsIn(df, idCol, unitsCol, keptCol,
      repeatedUnits(df, idCol, unitsCol, minDocs, perCol)
        .select((perCol.toSeq :+ "unit").map(col): _*),
      perCol, broadcastHeavy)

  /** The strip step against an EXTERNALLY-supplied heavy relation
    * (column `unit` = trimmed form, plus `perCol` when scoped) —
    * shared by [[stripRepeatedUnits]] (heavy = this relation's own
    * doc frequencies) and any caller whose heavy set comes from
    * elsewhere (a persisted frequency store). Same output contract as
    * [[stripRepeatedUnits]]. */
  def stripUnitsIn(df: DataFrame, idCol: String, unitsCol: Column,
      keptCol: String, heavy: DataFrame, perCol: Option[String] = None,
      broadcastHeavy: Boolean = true): DataFrame = {
    val joinKeys = perCol.toSeq :+ "unit"
    val heavySide = if (broadcastHeavy) broadcast(heavy) else heavy.hint("merge")
    // Only matching exploded rows survive this inner join; grouped to
    // one bounded heavy-list row per affected document.
    val hits = exploded(df, idCol, unitsCol, perCol)
      .join(heavySide, joinKeys)
      .groupBy(col(idCol))
      .agg(collect_set(col("unit")).as("__heavy"),
        count(lit(1)).as("n_stripped"))
    // All uses of unitsCol (size, the CASE branches, the filter) live in
    // ONE post-join projection: withColumns collapse into a single
    // Project, where subexpression elimination evaluates the unit
    // derivation once per row — computing n_units before the join put a
    // join boundary between the uses and re-derived the units per use
    // (measured ~1 extra corpus-wide derivation at the sf3 study point).
    df.join(hits, Seq(idCol), "left")
      .withColumn("n_units", size(unitsCol).cast("long"))
      .withColumn("n_stripped", coalesce(col("n_stripped"), lit(0L)))
      .withColumn(keptCol,
        when(col("__heavy").isNull, unitsCol).otherwise(
          // u.isNull preserve branch: a null element is structure, like
          // a blank — without it the lambda evaluates to NULL and the
          // null unit is silently dropped from keptCol while still
          // counted in n_units, breaking n_units = kept + stripped.
          // (split/chunkLines never produce nulls; this guards direct
          // array-column callers.)
          filter(unitsCol, u => u.isNull ||
            trim(u) === lit("") || !array_contains(col("__heavy"), trim(u)))))
      .drop("__heavy")
  }

  /** Line-level convenience: split `textCol` on newlines (keeping
    * trailing empties — pandas/DuckDB split semantics, not Java's
    * drop-trailing default), strip lines repeated in ≥ `minDocs`
    * documents, and re-join. Adds `text_kept`, `n_units`, `n_stripped`. */
  def stripBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
      minDocs: Long, perCol: Option[String] = None,
      broadcastHeavy: Boolean = true): DataFrame =
    stripRepeatedUnits(df, idCol, split(col(textCol), "\n", -1),
      "__kept", minDocs, perCol, broadcastHeavy)
      .withColumn("text_kept", array_join(col("__kept"), "\n"))
      .drop("__kept")

  /** (id, per?, unit-occurrence) rows; empty-after-trim units dropped —
    * they are structure, not content, and must neither count toward a
    * frequency nor ever be stripped. `unit` is the trimmed form. */
  private def exploded(df: DataFrame, idCol: String, unitsCol: Column,
      perCol: Option[String]): DataFrame =
    df.select((col(idCol) +: perCol.map(col).toSeq) :+
        explode(unitsCol).as("__raw"): _*)
      .select(col("*"), trim(col("__raw")).as("unit"))
      .filter(col("unit") =!= "")
      .drop("__raw")

  // ------------------------------------ token-level exact-substring dedup

  /** Whitespace tokenization shared by the span family and its oracle:
    * split on runs of whitespace, empties dropped (leading/trailing
    * whitespace and the empty document both yield no phantom token). */
  private def tokensOf(textCol: Column): Column =
    filter(split(trim(textCol), "\\s+", -1), t => t =!= "")

  /** Token-level EXACT-SUBSTRING dedup — the published strong
    * complement of [[stripRepeatedUnits]] (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better": remove every
    * repeated span of ≥ k tokens). Where the unit form only sees
    * whole trimmed lines/chunks, this removes any ≥ `k`-token span
    * repeated across ≥ `minDocs` DISTINCT documents even when it
    * straddles unit boundaries or sits inside otherwise-differing
    * lines. A real curation pipeline runs both.
    *
    * Definition: a token is removed iff some k-token window containing
    * it occurs in ≥ `minDocs` distinct documents. The removal set is
    * exactly the union of maximal cross-document-repeated spans of
    * length ≥ k (a repeated span of length L ≥ k repeats all of its
    * L−k+1 k-windows; conversely every repeated k-window IS such a
    * span), which is the suffix-array tool's semantics re-expressed as
    * a relation — no suffix array, no driver-side state. Unlike the
    * occurrence-count form, an INTRA-document repeat alone does not
    * trigger removal (that is [[TrainingData.repetitionFacets]]'s
    * jurisdiction); the frequency is distinct-document, the
    * [[unitDocFreq]] discipline.
    *
    * 100 TB shape — the corpus text never shuffles; only 8-byte
    * anchors do:
    *   1. per-row, inside one projection: tokens → one 60-bit portable
    *      hash PER TOKEN POSITION ([[graft.functions.Hashing.h60]] of
    *      the k-token window starting there) — the anchor relation
    *      `(id, pos, anchor)` is corpus-token-sized but 8-byte-keyed,
    *      so its doc-frequency shuffle moves ~8 bytes/token, not the
    *      k× text blow-up a string-keyed k-gram relation would;
    *   2. heavy anchors (≥ minDocs distinct docs) are tiny by
    *      construction and broadcast-pinned into the match join (same
    *      rationale as [[stripRepeatedUnits]]'s `broadcastHeavy`: the
    *      heavy anchors ARE the hot keys — any shuffle-on-anchor plan
    *      sends each boilerplate span's full occurrence set to one
    *      task, and the static planner cannot be trusted with a
    *      Generate's size estimate);
    *   3. only MATCHING anchors expand to covered positions (k×
    *      expansion paid on the boilerplate fraction alone), grouped
    *      to one bounded per-doc position set that joins back on the
    *      id; the strip is an order-preserving indexed array `filter`.
    *
    * Returns the input plus `n_tokens`, `n_removed` (distinct token
    * positions covered by a repeated window) and `keptCol` (surviving
    * tokens joined by single spaces — span semantics are
    * token-stream semantics; original inter-token whitespace is not
    * reconstructed, matching the published tools).
    *
    * Hash collisions: two different k-windows colliding in the 60-bit
    * anchor space could over-strip; at 2^-60 per pair this is the
    * standard fingerprint-dedup tradeoff and is shared by the oracle
    * (which replays the identical md5-derived hash). */
  def stripRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
      keptCol: String, k: Int, minDocs: Long,
      broadcastHeavy: Boolean = true): DataFrame = {
    require(minDocs >= 2, s"minDocs must be ≥ 2 (got $minDocs): " +
      "every span occurs in ≥ 1 document, so 1 would strip the corpus")
    stripSpansIn(df, idCol, textCol, keptCol,
      spanAnchorFreq(df, idCol, textCol, k)
        .filter(col("doc_freq") >= minDocs)
        .select("anchor"),
      k, broadcastHeavy)
  }

  /** The anchor doc-frequency relation: one row per distinct k-token
    * window hash with its DISTINCT-document count — the
    * [[unitDocFreq]] twin at token granularity (`(anchor, doc_freq)`).
    *
    * The per-doc dedup happens INSIDE the row (`array_distinct` on the
    * window-hash array) rather than in the aggregation: with it, each
    * doc contributes each anchor exactly once, so the count is the
    * distinct-doc frequency with ONE map-side-combinable exchange on
    * the anchor — the `countDistinct(id)` form paid a second exchange
    * on (anchor, id) for its dedup level, and at sf1's ~20M
    * near-unique anchors that aggregation's hash state is the
    * operator's dominant cost (measured in SCALING.md r15). */
  def spanAnchorFreq(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val hashes = ColumnBridge.column(graft.functions.TokenWindowHashes(
      ColumnBridge.expression(col(textCol)), k))
    df.select(explode(array_distinct(hashes)).as("anchor"))
      .groupBy("anchor").agg(count(lit(1)).as("doc_freq"))
  }

  /** KEEP-FIRST exact-substring dedup — the published tool's exact
    * semantics ([[stripRepeatedSpans]] removes a repeated span from
    * EVERY carrier, the boilerplate-strip reading; the suffix-array
    * dedup tool keeps ONE occurrence). Per heavy window, the carrier
    * with the SMALLEST id is canonical: a token position is removed
    * iff some covering heavy window belongs to a different canonical
    * carrier, so the min-id document keeps its copy and every other
    * carrier loses it. Laws (BoilerplateSpec): the removal set is a
    * subset of [[stripRepeatedSpans]]'s, and each repeated span
    * survives verbatim in exactly its canonical carrier.
    *
    * Same 100 TB shape as the strip-all form — the frequency
    * aggregation additionally carries `min(id)` in the same map-side-
    * combinable pass, and the match join adds one `id =!= keeper`
    * residual. */
  def stripRepeatedSpansKeepFirst(df: DataFrame, idCol: String,
      textCol: String, keptCol: String, k: Int, minDocs: Long,
      broadcastHeavy: Boolean = true): DataFrame = {
    require(k >= 2, s"k must be ≥ 2 (got $k)")
    require(minDocs >= 2, s"minDocs must be ≥ 2 (got $minDocs)")
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val hashes = ColumnBridge.column(graft.functions.TokenWindowHashes(
      ColumnBridge.expression(col(textCol)), k))
    val heavy = df
      .select(col(idCol), explode(array_distinct(hashes)).as("anchor"))
      .groupBy("anchor")
      .agg(count(lit(1)).as("doc_freq"), min(col(idCol)).as("__keeper"))
      .filter(col("doc_freq") >= minDocs)
      .select("anchor", "__keeper")
    val heavySide = if (broadcastHeavy) broadcast(heavy) else heavy.hint("merge")
    val rel = anchorRel(df, idCol, textCol, k)
    val cov = rel.join(heavySide, Seq("anchor"))
      .filter(col(idCol) =!= col("__keeper")) // the canonical copy stays
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("__p"))
      .groupBy(col(idCol))
      .agg(collect_set(col("__p")).as("__cov"))
    val toks = tokensOf(col(textCol))
    df.join(cov, Seq(idCol), "left")
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_removed",
        when(col("__cov").isNull, lit(0L))
          .otherwise(size(col("__cov")).cast("long")))
      .withColumn(keptCol,
        when(col("__cov").isNull, toks).otherwise(
          filter(toks, (_, i) => !array_contains(col("__cov"), i))))
      .drop("__cov")
  }

  /** INTRA-document span dedup — the per-row complement of the
    * cross-document forms: every k-token window that re-occurs INSIDE
    * one document keeps only its first occurrence; positions covered
    * by later occurrences are removed (the generation-loop repetition
    * strip a training pipeline runs alongside
    * [[TrainingData.repetitionFacets]]' detection). Entirely one
    * projection ([[graft.functions.IntraDupPositions]] + an indexed
    * array filter) — a corpus-wide repetition strip with NO shuffle
    * anywhere, the cheapest possible 100 TB shape. Same output
    * contract as the span family: `n_tokens`, `n_removed`, `keptCol`. */
  def dedupeIntraDocSpans(df: DataFrame, idCol: String, textCol: String,
      keptCol: String, k: Int): DataFrame = {
    require(k >= 2, s"k must be ≥ 2 (got $k)")
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val cov = ColumnBridge.column(graft.functions.IntraDupPositions(
      ColumnBridge.expression(col(textCol)), k))
    val toks = tokensOf(col(textCol))
    df.withColumn("__cov", cov)
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_removed", size(col("__cov")).cast("long"))
      .withColumn(keptCol,
        when(size(col("__cov")) === 0, toks).otherwise(
          filter(toks, (_, i) => !array_contains(col("__cov"), i))))
      .drop("__cov")
  }

  /** The span-strip step against an EXTERNALLY-supplied heavy anchor
    * relation (column `anchor` = the [[anchorRel]] 60-bit window hash)
    * — shared by [[stripRepeatedSpans]] (heavy = this relation's own
    * anchor frequencies) and any caller whose heavy anchors come from
    * elsewhere (a persisted anchor-frequency store). Same output contract as
    * [[stripRepeatedSpans]]: `n_tokens`, `n_removed`, `keptCol`. */
  def stripSpansIn(df: DataFrame, idCol: String, textCol: String,
      keptCol: String, heavyAnchors: DataFrame, k: Int,
      broadcastHeavy: Boolean = true): DataFrame = {
    require(k >= 2, s"k must be ≥ 2 (got $k): k = 1 strips every " +
      "token whose word appears in the heavy relation")
    val rel = anchorRel(df, idCol, textCol, k)
    val heavySide =
      if (broadcastHeavy) broadcast(heavyAnchors) else heavyAnchors.hint("merge")
    // k× expansion on the MATCHED anchors only; collect_set bounds the
    // per-doc state by the document's own token count.
    val cov = rel.join(heavySide, Seq("anchor"))
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("__p"))
      .groupBy(col(idCol))
      .agg(collect_set(col("__p")).as("__cov"))
    val toks = tokensOf(col(textCol))
    // one post-join projection: all uses of the token derivation share
    // subexpression elimination (the stripUnitsIn discipline)
    df.join(cov, Seq(idCol), "left")
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_removed",
        when(col("__cov").isNull, lit(0L))
          .otherwise(size(col("__cov")).cast("long")))
      .withColumn(keptCol,
        when(col("__cov").isNull, toks).otherwise(
          filter(toks, (_, i) => !array_contains(col("__cov"), i))))
      .drop("__cov")
  }

  /** The repeated-span detector half: the anchor doc-frequency
    * relation filtered to ≥ `minDocs` — `(anchor, doc_freq)`, the
    * report read before picking a strip threshold (the [[repeatedUnits]]
    * twin at token granularity). Anchors are 60-bit window hashes; to
    * see the text behind one, join back to [[anchorRel]]. */
  def repeatedSpanAnchors(df: DataFrame, idCol: String, textCol: String,
      k: Int, minDocs: Long): DataFrame = {
    require(minDocs >= 2, s"minDocs must be ≥ 2 (got $minDocs)")
    spanAnchorFreq(df, idCol, textCol, k).filter(col("doc_freq") >= minDocs)
  }

  /** `(id, pos, anchor)` — one 60-bit hash per k-token window start
    * position, all window construction inside the row (no shuffle,
    * no per-token self-join): `anchor(pos) = h60(tokens[pos..pos+k−1]
    * joined by ' ')`, computed by the single-pass native
    * [[graft.functions.TokenWindowHashes]] (value-identical to the
    * declarative slice+join+h60 form the oracle replays, minus its
    * per-window allocation churn — the swap cut the anchor-frequency
    * pass 4.9 → ~1 CPU core-s at sf0.1). Documents shorter than k
    * tokens contribute no anchors. */
  private[graft] def anchorRel(df: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val anchors = ColumnBridge.column(graft.functions.TokenWindowHashes(
      ColumnBridge.expression(col(textCol)), k))
    df.select(col(idCol), posexplode(anchors).as(Seq("pos", "anchor")))
  }
}
