package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{AudioHeader, FloatDotProduct, ImageHeader, IntraDupPositions, LshBuckets, MinHashSig, SimHash60, TokenModeCount, TokenShingles, TokenWindowHashes, TopKByScore, VideoHeader}

/** Session extension entry point: registers the engine's native
  * expressions with the SQL function registry AND the operator
  * families' TABLE-valued functions with the table-function registry,
  * so `spark.sql` users get both without touching the Scala API.
  * Activate with `.config("spark.sql.extensions", "graft.GraftExtensions")`.
  *
  * This is the engine's integration rung for custom Catalyst surface —
  * a dozen codegen'd scalar/agg expressions plus TVFs whose builders
  * return the LOGICAL PLAN of the corresponding Scala composition; a
  * custom Rule/Strategy would be injected from the same place if an
  * operator ever outgrew what the DataFrame primitives express (none
  * has: every graft operator is a composition of built-ins + these
  * expressions).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("float_dot"),
      new ExpressionInfo(
        classOf[FloatDotProduct].getCanonicalName,
        "", // db
        "float_dot",
        "_FUNC_(a, b) - dot product of two array<float> in sequential double accumulation.",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, s"float_dot takes 2 arguments, got ${exprs.length}")
        FloatDotProduct(exprs.head, exprs(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("topk_by"),
      new ExpressionInfo(
        classOf[TopKByScore].getCanonicalName,
        "", // db
        "topk_by",
        "_FUNC_(score, id, k) - per-group top-k (score desc, id asc) via a k-capped heap; " +
          "returns array<struct<score,id>> best-first.",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3, s"topk_by takes 3 arguments, got ${exprs.length}")
        TopKByScore(exprs.head, exprs(1), exprs(2)).toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("token_mode_count"),
      new ExpressionInfo(
        classOf[TokenModeCount].getCanonicalName,
        "", // db
        "token_mode_count",
        "_FUNC_(arr) - occurrences of the most frequent element of an array<string> " +
          "(null for an empty array).",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, s"token_mode_count takes 1 argument, got ${exprs.length}")
        TokenModeCount(exprs.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("token_shingles"),
      new ExpressionInfo(
        classOf[TokenShingles].getCanonicalName,
        "", // db
        "token_shingles",
        "_FUNC_(arr, n) - distinct space-joined n-token shingles of an array<string>, " +
          "first-occurrence order; empty for short or null input.",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, s"token_shingles takes 2 arguments, got ${exprs.length}")
        // accept any foldable integral constant (2, 1+1, 2L, ...) — the
        // builder fires before ConstantFolding, so evaluate it here
        val nExpr = exprs(1)
        val n = (if (nExpr.foldable) nExpr.eval() else null) match {
          case i: java.lang.Integer => i.intValue()
          case l: java.lang.Long if l >= 1 && l <= Int.MaxValue => l.intValue()
          case s: java.lang.Short => s.intValue()
          case _ => throw new IllegalArgumentException(
            s"token_shingles n must be an integral constant, got $nExpr")
        }
        TokenShingles(exprs.head, n)
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash60"),
      new ExpressionInfo(
        classOf[SimHash60].getCanonicalName,
        "", // db
        "simhash60",
        "_FUNC_(arr) - 60-bit frequency-weighted SimHash of an array<string> " +
          "(md5-based, engine-portable); null for null/empty input.",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, s"simhash60 takes 1 argument, got ${exprs.length}")
        SimHash60(exprs.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(
        classOf[MinHashSig].getCanonicalName,
        "", // db
        "minhash_sig",
        "_FUNC_(arr, k) - k-member MinHash signature (array<bigint>) of an " +
          "array<string> of shingles; null for null/empty input.",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, s"minhash_sig takes 2 arguments, got ${exprs.length}")
        val kExpr = exprs(1)
        val k = (if (kExpr.foldable) kExpr.eval() else null) match {
          case i: java.lang.Integer => i.intValue()
          case l: java.lang.Long if l >= 1 && l <= Int.MaxValue => l.intValue()
          case s: java.lang.Short => s.intValue()
          case _ => throw new IllegalArgumentException(
            s"minhash_sig k must be an integral constant, got $kExpr")
        }
        MinHashSig(exprs.head, k)
      }))
    ext.injectFunction((
      new FunctionIdentifier("lsh_buckets"),
      new ExpressionInfo(
        classOf[LshBuckets].getCanonicalName,
        "", // db
        "lsh_buckets",
        "_FUNC_(vec, planes, dims, tables) - hyperplane-LSH bucket ids of an " +
          "array<float> vector under the engine's deterministic md5 sign " +
          "families: array<bigint> of length `tables` (index = table id).",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 4, s"lsh_buckets takes 4 arguments, got ${exprs.length}")
        def intConst(e: Expression, name: String): Int =
          (if (e.foldable) e.eval() else null) match {
            case i: java.lang.Integer => i.intValue()
            case l: java.lang.Long if l >= Int.MinValue && l <= Int.MaxValue =>
              l.intValue()
            case l: java.lang.Long => throw new IllegalArgumentException(
              s"lsh_buckets $name is out of int range: $l")
            case s: java.lang.Short => s.intValue()
            case _ => throw new IllegalArgumentException(
              s"lsh_buckets $name must be an integral constant, got $e")
          }
        val planes = intConst(exprs(1), "planes")
        val dims = intConst(exprs(2), "dims")
        val tables = intConst(exprs(3), "tables")
        // dims/tables <= 0 would not error downstream — they yield all-zero
        // buckets resp. an empty bucket array, a silent wrong answer
        require(planes >= 1 && planes <= 62, "planes must be in [1, 62]")
        require(dims >= 1, "dims must be >= 1")
        require(tables >= 1, "tables must be >= 1")
        val fams = (0 until tables).map(t =>
          graft.operators.Similarity.hyperplaneSigns(planes, dims, t)
            .map(_.map(_.toFloat)))
        LshBuckets(exprs.head, fams)
      }))
    // the three container-header decoders (r15): the multimodal layer's
    // SQL surface, so `spark.sql` users can profile a binary column
    // without the Scala API
    ext.injectFunction((
      new FunctionIdentifier("image_header"),
      new ExpressionInfo(
        classOf[ImageHeader].getCanonicalName,
        "", "image_header",
        "_FUNC_(bin) - struct(format, width, height, channels, has_exif) " +
          "decoded from PNG/GIF/JPEG container bytes.",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, s"image_header takes 1 argument, got ${exprs.length}")
        ImageHeader(exprs.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("audio_header"),
      new ExpressionInfo(
        classOf[AudioHeader].getCanonicalName,
        "", "audio_header",
        "_FUNC_(bin) - struct(format, sample_rate, channels, bits_per_sample, " +
          "n_samples) decoded from WAV/FLAC/MP3 container bytes.",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, s"audio_header takes 1 argument, got ${exprs.length}")
        AudioHeader(exprs.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("video_header"),
      new ExpressionInfo(
        classOf[VideoHeader].getCanonicalName,
        "", "video_header",
        "_FUNC_(bin) - struct(format, brand, timescale, duration_units, width, " +
          "height) decoded from MP4/ISO-BMFF container bytes; WebM recognized.",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, s"video_header takes 1 argument, got ${exprs.length}")
        VideoHeader(exprs.head)
      }))
    // the span-dedup derivations (r15): ad-hoc SQL access to the same
    // 60-bit window hashes and intra-doc duplicate masks the operators
    // compute, for corpus forensics without the Scala API
    def intConst(e: Expression, name: String): Int = e.eval() match {
      case i: java.lang.Integer => i.intValue()
      case l: java.lang.Long =>
        require(l >= 1 && l <= Int.MaxValue, s"$name out of range: $l")
        l.intValue()
      case other => throw new IllegalArgumentException(
        s"$name must be an integral constant, got $other")
    }
    ext.injectFunction((
      new FunctionIdentifier("search_tokens"),
      new ExpressionInfo(
        classOf[graft.functions.SearchTokens].getCanonicalName,
        "", "search_tokens",
        "_FUNC_(text) - the engine's search-tokenization contract as an " +
          "array<string>: ROOT-folded Unicode letter/digit runs, CJK " +
          "segments emitted as overlapping bigrams (what every graft " +
          "search operator and index store indexes).",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, s"search_tokens takes 1 argument, got ${exprs.length}")
        graft.functions.SearchTokens(exprs.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("token_window_hashes"),
      new ExpressionInfo(
        classOf[TokenWindowHashes].getCanonicalName,
        "", "token_window_hashes",
        "_FUNC_(text, k) - 60-bit hash per k-token window start (the span-dedup anchors).",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, s"token_window_hashes takes 2 arguments, got ${exprs.length}")
        TokenWindowHashes(exprs.head, intConst(exprs(1), "k"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("intra_dup_positions"),
      new ExpressionInfo(
        classOf[IntraDupPositions].getCanonicalName,
        "", "intra_dup_positions",
        "_FUNC_(text, k) - 0-based token positions covered by a non-first intra-document repeated k-window.",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, s"intra_dup_positions takes 2 arguments, got ${exprs.length}")
        IntraDupPositions(exprs.head, intConst(exprs(1), "k"))
      }))
    // the REAL multimodal decoders (r16): SQL access to the same exact
    // integer features the Scala wrappers expose
    ext.injectFunction((
      new FunctionIdentifier("wav_pcm_features"),
      new ExpressionInfo(
        classOf[graft.functions.WavPcmFeatures].getCanonicalName,
        "", "wav_pcm_features",
        "_FUNC_(bin, dims) - exact integer bucket sums (amplitude envelope) " +
          "decoded from an uncompressed PCM WAV's samples; null outside the contract.",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, s"wav_pcm_features takes 2 arguments, got ${exprs.length}")
        graft.functions.WavPcmFeatures(exprs.head, intConst(exprs(1), "dims"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("bmp_grid_features"),
      new ExpressionInfo(
        classOf[graft.functions.BmpGridFeatures].getCanonicalName,
        "", "bmp_grid_features",
        "_FUNC_(bin, gx, gy) - per-cell (r,g,b) channel sums over a gx*gy grid " +
          "of a 24-bit BMP's real pixels; null outside the contract.",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3, s"bmp_grid_features takes 3 arguments, got ${exprs.length}")
        graft.functions.BmpGridFeatures(exprs.head,
          intConst(exprs(1), "gx"), intConst(exprs(2), "gy"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("bmp_resize_nearest"),
      new ExpressionInfo(
        classOf[graft.functions.BmpResizeNearest].getCanonicalName,
        "", "bmp_resize_nearest",
        "_FUNC_(bin, w, h) - nearest-neighbor resize of a 24-bit BMP's real " +
          "pixels to w*h, emitted as a well-formed BMP; null outside the contract.",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3, s"bmp_resize_nearest takes 3 arguments, got ${exprs.length}")
        graft.functions.BmpResizeNearest(exprs.head,
          intConst(exprs(1), "w"), intConst(exprs(2), "h"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("png_grid_features"),
      new ExpressionInfo(
        classOf[graft.functions.PngGridFeatures].getCanonicalName,
        "", "png_grid_features",
        "_FUNC_(bin, gx, gy) - per-cell (r,g,b) channel sums over a gx*gy grid " +
          "of a non-interlaced 8-bit PNG's real pixels (Inflater + the five " +
          "scanline unfilters); null outside the contract.",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3, s"png_grid_features takes 3 arguments, got ${exprs.length}")
        graft.functions.PngGridFeatures(exprs.head,
          intConst(exprs(1), "gx"), intConst(exprs(2), "gy"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("png_encode_rgb"),
      new ExpressionInfo(
        classOf[graft.functions.PngEncodeRgb].getCanonicalName,
        "", "png_encode_rgb",
        "_FUNC_(bin, w, h) - encode raw top-down RGB triples (w*h*3 bytes) " +
          "as a standard 8-bit RGB PNG; null when the length disagrees.",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3, s"png_encode_rgb takes 3 arguments, got ${exprs.length}")
        graft.functions.PngEncodeRgb(exprs(0), exprs(1), exprs(2))
      }))
    ext.injectFunction((
      new FunctionIdentifier("png_encode_palette"),
      new ExpressionInfo(
        classOf[graft.functions.PngEncodePalette].getCanonicalName,
        "", "png_encode_palette",
        "_FUNC_(indices, w, h, palette) - encode raw top-down index bytes " +
          "(w*h) + an RGB table (3*entries bytes, <=256 entries) as a " +
          "standard 8-bit PALETTE PNG; null when lengths disagree or an " +
          "index points past the table.",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 4, s"png_encode_palette takes 4 arguments, got ${exprs.length}")
        graft.functions.PngEncodePalette(exprs(0), exprs(1), exprs(2), exprs(3))
      }))
    ext.injectFunction((
      new FunctionIdentifier("gif_grid_features"),
      new ExpressionInfo(
        classOf[graft.functions.GifGridFeatures].getCanonicalName,
        "", "gif_grid_features",
        "_FUNC_(bin, gx, gy) - per-cell (r,g,b) channel sums over a gx*gy " +
          "grid of a GIF first frame's real pixels (full variable-width LZW " +
          "decode + color-table indirection); null outside the contract.",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3, s"gif_grid_features takes 3 arguments, got ${exprs.length}")
        graft.functions.GifGridFeatures(exprs.head,
          intConst(exprs(1), "gx"), intConst(exprs(2), "gy"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("hll_sketch"),
      new ExpressionInfo(
        classOf[graft.functions.HllSketchAgg].getCanonicalName,
        "", "hll_sketch",
        "_FUNC_(h60_hash, p) - mergeable 2^p-register HyperLogLog sketch " +
          "(array<int>) aggregated from a 60-bit portable hash column.",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, s"hll_sketch takes 2 arguments, got ${exprs.length}")
        graft.functions.HllSketchAgg(exprs.head, exprs(1)).toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("hll_merge"),
      new ExpressionInfo(
        classOf[graft.functions.HllMergeAgg].getCanonicalName,
        "", "hll_merge",
        "_FUNC_(sketch) - exact HLL union of persisted sketches by " +
          "element-wise register max; loud on width mismatch.",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, s"hll_merge takes 1 argument, got ${exprs.length}")
        graft.functions.HllMergeAgg(exprs.head).toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("hll_estimate"),
      new ExpressionInfo(
        classOf[graft.functions.HllEstimate].getCanonicalName,
        "", "hll_estimate",
        "_FUNC_(sketch) - the standard corrected HyperLogLog estimate of a " +
          "sketch (double).",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, s"hll_estimate takes 1 argument, got ${exprs.length}")
        graft.functions.HllEstimate(exprs.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("cms_sketch"),
      new ExpressionInfo(
        classOf[graft.functions.CmsSketchAgg].getCanonicalName,
        "", "cms_sketch",
        "_FUNC_(h60_hash, depth, width) - mergeable depth*width Count-Min " +
          "frequency sketch (array<bigint>, row-major) aggregated from a " +
          "60-bit portable hash column.",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3, s"cms_sketch takes 3 arguments, got ${exprs.length}")
        graft.functions.CmsSketchAgg(exprs(0), exprs(1), exprs(2)).toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("cms_merge"),
      new ExpressionInfo(
        classOf[graft.functions.CmsMergeAgg].getCanonicalName,
        "", "cms_merge",
        "_FUNC_(sketch) - element-wise sum of persisted Count-Min sketches " +
          "(exact union by linearity); loud on size mismatch.",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, s"cms_merge takes 1 argument, got ${exprs.length}")
        graft.functions.CmsMergeAgg(exprs.head).toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("cms_query"),
      new ExpressionInfo(
        classOf[graft.functions.CmsQuery].getCanonicalName,
        "", "cms_query",
        "_FUNC_(sketch, h60_hash, depth) - Count-Min point estimate (min over " +
          "rows; >= the true count), integer end to end.",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3, s"cms_query takes 3 arguments, got ${exprs.length}")
        graft.functions.CmsQuery(exprs(0), exprs(1), intConst(exprs(2), "depth"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("kmv_sketch"),
      new ExpressionInfo(
        classOf[graft.functions.KmvSketchAgg].getCanonicalName,
        "", "kmv_sketch",
        "_FUNC_(h60_hash, k) - mergeable bottom-k KMV distinct sketch " +
          "(sorted array<bigint>) aggregated from a 60-bit portable hash " +
          "column; doubles as a coordinated sample for set resemblance.",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, s"kmv_sketch takes 2 arguments, got ${exprs.length}")
        graft.functions.KmvSketchAgg(exprs.head, exprs(1)).toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("kmv_merge"),
      new ExpressionInfo(
        classOf[graft.functions.KmvMergeAgg].getCanonicalName,
        "", "kmv_merge",
        "_FUNC_(sketch, k) - exact KMV union of persisted sketches (bottom-k " +
          "of the union of bottom-k's); loud when a sketch exceeds k entries.",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, s"kmv_merge takes 2 arguments, got ${exprs.length}")
        graft.functions.KmvMergeAgg(exprs.head, exprs(1)).toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("kmv_estimate"),
      new ExpressionInfo(
        classOf[graft.functions.KmvEstimate].getCanonicalName,
        "", "kmv_estimate",
        "_FUNC_(sketch, k) - KMV distinct estimate (bigint): exact below k " +
          "entries, (k-1)*2^60/h_(k-1) in 128-bit floor division at k.",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, s"kmv_estimate takes 2 arguments, got ${exprs.length}")
        graft.functions.KmvEstimate(exprs(0), exprs(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("kmv_resemblance_permille"),
      new ExpressionInfo(
        classOf[graft.functions.KmvResemblancePermille].getCanonicalName,
        "", "kmv_resemblance_permille",
        "_FUNC_(a, b, k) - Jaccard estimate between the sets behind two KMV " +
          "sketches, in permille (bigint; exact when both sets are below k).",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3,
          s"kmv_resemblance_permille takes 3 arguments, got ${exprs.length}")
        graft.functions.KmvResemblancePermille(exprs(0), exprs(1), exprs(2))
      }))
    ext.injectFunction((
      new FunctionIdentifier("bloom_sketch"),
      new ExpressionInfo(
        classOf[graft.functions.BloomSketchAgg].getCanonicalName,
        "", "bloom_sketch",
        "_FUNC_(h60_hash, m, k) - mergeable m-bit Bloom filter with k affine " +
          "probes (array<bigint> of 32-bit words) aggregated from a 60-bit " +
          "portable hash column; m must be a multiple of 32.",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3, s"bloom_sketch takes 3 arguments, got ${exprs.length}")
        graft.functions.BloomSketchAgg(exprs(0), exprs(1), exprs(2)).toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("bloom_merge"),
      new ExpressionInfo(
        classOf[graft.functions.BloomMergeAgg].getCanonicalName,
        "", "bloom_merge",
        "_FUNC_(filter) - union persisted Bloom filters by element-wise OR; " +
          "loud on width mismatch.",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, s"bloom_merge takes 1 argument, got ${exprs.length}")
        graft.functions.BloomMergeAgg(exprs.head).toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(
        classOf[graft.functions.BloomMightContain].getCanonicalName,
        "", "bloom_might_contain",
        "_FUNC_(filter, h60_hash, k) - true iff all k probe bits are set: " +
          "no false negatives; false positives replay oracle-exactly.",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3,
          s"bloom_might_contain takes 3 arguments, got ${exprs.length}")
        graft.functions.BloomMightContain(exprs(0), exprs(1), exprs(2))
      }))
    ext.injectFunction((
      new FunctionIdentifier("hist_sketch"),
      new ExpressionInfo(
        classOf[graft.functions.HistSketchAgg].getCanonicalName,
        "", "hist_sketch",
        "_FUNC_(value, lo, width, n) - mergeable n-bucket equi-width " +
          "histogram of a bigint measure over [lo, lo+n*width) " +
          "(array<bigint>); out-of-range values clamp into the edge buckets.",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 4, s"hist_sketch takes 4 arguments, got ${exprs.length}")
        graft.functions.HistSketchAgg(exprs(0), exprs(1), exprs(2), exprs(3))
          .toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("hist_merge"),
      new ExpressionInfo(
        classOf[graft.functions.CmsMergeAgg].getCanonicalName,
        "", "hist_merge",
        "_FUNC_(sketch) - sum persisted histograms element-wise (exact by " +
          "linearity; the cms_merge implementation verbatim); loud on width " +
          "mismatch.",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, s"hist_merge takes 1 argument, got ${exprs.length}")
        graft.functions.CmsMergeAgg(exprs.head).toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("hist_quantile_bucket"),
      new ExpressionInfo(
        classOf[graft.functions.HistQuantileBucket].getCanonicalName,
        "", "hist_quantile_bucket",
        "_FUNC_(counts, permille) - smallest bucket index with 1000*cumsum " +
          ">= permille*total (int; null for an all-zero histogram); " +
          "multiplication-only rank arithmetic.",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"hist_quantile_bucket takes 2 arguments, got ${exprs.length}")
        graft.functions.HistQuantileBucket(exprs(0), exprs(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("fix_mojibake"),
      new ExpressionInfo(
        classOf[graft.functions.FixMojibake].getCanonicalName,
        "", "fix_mojibake",
        "_FUNC_(str) - repair UTF-8-read-as-Latin-1/Windows-1252 mojibake by " +
          "exact inversion (char-to-byte map + strict UTF-8 re-decode); " +
          "unrepairable or clean text passes through unchanged.",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, s"fix_mojibake takes 1 argument, got ${exprs.length}")
        graft.functions.FixMojibake(exprs.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("flac_pcm_features"),
      new ExpressionInfo(
        classOf[graft.functions.FlacPcmFeatures].getCanonicalName,
        "", "flac_pcm_features",
        "_FUNC_(bin, dims) - exact integer bucket sums (the wav_pcm_features " +
          "amplitude envelope) decoded from a FLAC stream's real samples " +
          "(fixed/LPC predictors, rice residuals, stereo decorrelation, " +
          "CRC+MD5 verified); null outside the contract.",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, s"flac_pcm_features takes 2 arguments, got ${exprs.length}")
        graft.functions.FlacPcmFeatures(exprs.head, intConst(exprs(1), "dims"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("flac_encode_pcm"),
      new ExpressionInfo(
        classOf[graft.functions.FlacEncodePcm].getCanonicalName,
        "", "flac_encode_pcm",
        "_FUNC_(pcm, channels, rate) - encode 16-bit LE interleaved PCM as a " +
          "real FLAC stream (honest STREAMINFO + MD5, rice-coded fixed-order " +
          "predictors, correct CRCs); null for malformed arguments.",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3, s"flac_encode_pcm takes 3 arguments, got ${exprs.length}")
        graft.functions.FlacEncodePcm(exprs(0), exprs(1), exprs(2))
      }))
    ext.injectFunction((
      new FunctionIdentifier("gif_encode_palette"),
      new ExpressionInfo(
        classOf[graft.functions.GifEncodePalette].getCanonicalName,
        "", "gif_encode_palette",
        "_FUNC_(indices, w, h, palette) - encode raw top-down index bytes " +
          "(w*h) + an RGB table (<=256 entries) as a standard GIF89a; null " +
          "when lengths disagree or an index points past the table.",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 4, s"gif_encode_palette takes 4 arguments, got ${exprs.length}")
        graft.functions.GifEncodePalette(exprs(0), exprs(1), exprs(2), exprs(3))
      }))

    // ------------------------------------------------ table functions (r16)
    // The operator families' SQL surface: TABLE-valued functions whose
    // builder returns the LOGICAL PLAN of the same DataFrame composition
    // the Scala API produces — `SELECT * FROM graft_search_topk(...)`
    // splices the engine's plan into the outer query, so SQL users get
    // the identical shapes (one corpus explode, reused exchange, heap
    // top-k) with zero duplication. Arguments are literal constants
    // (the SQL TVF contract); the source relation is named by parquet
    // PATH — the catalog-free analogue of a table name. The same
    // pattern extends to any (constants, paths) → DataFrame operator.
    def strConst(e: Expression, name: String): String = {
      require(e.foldable, s"$name must be a string constant, got $e")
      e.eval() match {
        case s: org.apache.spark.unsafe.types.UTF8String => s.toString
        case s: String => s
        case other => throw new IllegalArgumentException(
          s"$name must be a string constant, got $other")
      }
    }
    def longConst(e: Expression, name: String): Long = {
      require(e.foldable, s"$name must be an integral constant, got $e")
      e.eval() match {
        case i: java.lang.Integer => i.longValue()
        case l: java.lang.Long => l.longValue()
        case s: java.lang.Short => s.longValue()
        case other => throw new IllegalArgumentException(
          s"$name must be an integral constant, got $other")
      }
    }
    def tvfInfo(name: String, usage: String) = new ExpressionInfo(
      "graft.GraftExtensions", "", name, usage, "", "", "", "", "", "", "built-in")
    def logical(df: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
      df.queryExecution.logical

    ext.injectTableFunction((
      new FunctionIdentifier("graft_search_topk"),
      tvfInfo("graft_search_topk",
        "_FUNC_(path, id_col, text_col, query, k[, min_should_match]) - " +
          "rarity-scored top-k search over the parquet corpus at `path`; " +
          "`query` is a plain string tokenized by the engine's search " +
          "contract (CJK bigrams included); msm defaults to ALL = conjunctive."),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 5 || exprs.length == 6,
          s"graft_search_topk takes 5-6 arguments, got ${exprs.length}")
        val spark = org.apache.spark.sql.SparkSession.active
        logical(graft.operators.TextSearch.searchTopK(
          spark.read.parquet(strConst(exprs(0), "path")),
          strConst(exprs(1), "id_col"), strConst(exprs(2), "text_col"),
          graft.operators.TextSearch.searchTermsJvm(strConst(exprs(3), "query")),
          intConst(exprs(4), "k"),
          exprs.lift(5).map(e => intConst(e, "min_should_match"))))
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("graft_bm25_topk"),
      tvfInfo("graft_bm25_topk",
        "_FUNC_(path, id_col, text_col, query, k[, min_should_match]) - " +
          "integer-Okapi BM25 top-k search over the parquet corpus at `path`; " +
          "`query` is tokenized by the engine's search contract (CJK included)."),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 5 || exprs.length == 6,
          s"graft_bm25_topk takes 5-6 arguments, got ${exprs.length}")
        val spark = org.apache.spark.sql.SparkSession.active
        logical(graft.operators.TextSearch.searchTopKBm25(
          spark.read.parquet(strConst(exprs(0), "path")),
          strConst(exprs(1), "id_col"), strConst(exprs(2), "text_col"),
          graft.operators.TextSearch.searchTermsJvm(strConst(exprs(3), "query")),
          intConst(exprs(4), "k"),
          minShouldMatch = exprs.lift(5).map(e => intConst(e, "min_should_match"))))
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("graft_proximity_topk"),
      tvfInfo("graft_proximity_topk",
        "_FUNC_(path, id_col, text_col, term_a, term_b, max_distance, k) - " +
          "top-k documents by minimum token distance between the two terms."),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 7,
          s"graft_proximity_topk takes 7 arguments, got ${exprs.length}")
        val spark = org.apache.spark.sql.SparkSession.active
        logical(graft.operators.TextSearch.proximityTopK(
          spark.read.parquet(strConst(exprs(0), "path")),
          strConst(exprs(1), "id_col"), strConst(exprs(2), "text_col"),
          strConst(exprs(3), "term_a"), strConst(exprs(4), "term_b"),
          longConst(exprs(5), "max_distance"), intConst(exprs(6), "k")))
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("graft_retention"),
      tvfInfo("graft_retention",
        "_FUNC_(path, key_col, ts_col[, bucket_us]) - (cohort_week, " +
          "week_offset, n_users) retention cohorts over the events at `path` " +
          "(bucket defaults to 7 days of microseconds)."),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3 || exprs.length == 4,
          s"graft_retention takes 3-4 arguments, got ${exprs.length}")
        val spark = org.apache.spark.sql.SparkSession.active
        logical(graft.operators.Temporal.retentionCohorts(
          spark.read.parquet(strConst(exprs(0), "path")),
          strConst(exprs(1), "key_col"), strConst(exprs(2), "ts_col"),
          exprs.lift(3).map(e => longConst(e, "bucket_us"))
            .getOrElse(7L * 86400L * 1000000L)))
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("graft_asof"),
      tvfInfo("graft_asof",
        "_FUNC_(left_path, right_path, keys, left_ts, right_ts, right_vals" +
          "[, direction[, tolerance_us]]) - merge_asof of the two parquet " +
          "relations (keys/right_vals whitespace-separated; direction " +
          "backward|forward|nearest; optional tolerance horizon)."),
      (exprs: Seq[Expression]) => {
        require(exprs.length >= 6 && exprs.length <= 8,
          s"graft_asof takes 6-8 arguments, got ${exprs.length}")
        val spark = org.apache.spark.sql.SparkSession.active
        logical(graft.operators.Temporal.asOfJoin(
          spark.read.parquet(strConst(exprs(0), "left_path")),
          spark.read.parquet(strConst(exprs(1), "right_path")),
          strConst(exprs(2), "keys").trim.split("\\s+").toSeq,
          strConst(exprs(3), "left_ts"), strConst(exprs(4), "right_ts"),
          strConst(exprs(5), "right_vals").trim.split("\\s+").toSeq,
          direction = exprs.lift(6).map(e => strConst(e, "direction"))
            .getOrElse("backward"),
          toleranceMicros = exprs.lift(7).map(e => longConst(e, "tolerance_us"))))
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("graft_funnel"),
      tvfInfo("graft_funnel",
        "_FUNC_(path, key_col, ts_col, step_col, steps[, max_span_sec]) - " +
          "ordered-step funnel over the events at `path` (steps " +
          "whitespace-separated values of step_col; optional conversion window)."),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 5 || exprs.length == 6,
          s"graft_funnel takes 5-6 arguments, got ${exprs.length}")
        val spark = org.apache.spark.sql.SparkSession.active
        logical(graft.operators.Temporal.funnel(
          spark.read.parquet(strConst(exprs(0), "path")),
          strConst(exprs(1), "key_col"), strConst(exprs(2), "ts_col"),
          strConst(exprs(3), "step_col"),
          strConst(exprs(4), "steps").trim.split("\\s+").toSeq,
          exprs.lift(5).map(e => longConst(e, "max_span_sec"))))
      }))
    // ----- persisted-index readers: the TVFs name an INDEX DIRECTORY
    // (a streamed/compacted postings or positional store), splicing the
    // dir readers' exact logical plans — sidecar doc lengths, totals
    // manifest and partition pruning all ride along for free.
    ext.injectTableFunction((
      new FunctionIdentifier("graft_store_topk"),
      tvfInfo("graft_store_topk",
        "_FUNC_(index_dir, id_col, query, k[, min_should_match]) - " +
          "rarity-scored top-k over a PERSISTED postings store; `query` is a " +
          "plain string tokenized by the engine's search contract (CJK " +
          "bigrams included — a raw whitespace split would silently miss " +
          "them); n_docs from the store's totals manifest when present."),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 4 || exprs.length == 5,
          s"graft_store_topk takes 4-5 arguments, got ${exprs.length}")
        val spark = org.apache.spark.sql.SparkSession.active
        logical(graft.operators.BatchStore.searchIndexTopK(
          spark, strConst(exprs(0), "index_dir"), strConst(exprs(1), "id_col"),
          graft.operators.TextSearch.searchTermsJvm(strConst(exprs(2), "query")),
          intConst(exprs(3), "k"),
          exprs.lift(4).map(e => intConst(e, "min_should_match"))))
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("graft_store_bm25"),
      tvfInfo("graft_store_bm25",
        "_FUNC_(index_dir, id_col, query, k[, min_should_match]) - " +
          "integer-Okapi BM25 top-k over a PERSISTED postings store; `query` " +
          "is tokenized by the engine's search contract (CJK included); doc " +
          "lengths from the sidecar, scalars from the totals manifest."),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 4 || exprs.length == 5,
          s"graft_store_bm25 takes 4-5 arguments, got ${exprs.length}")
        val spark = org.apache.spark.sql.SparkSession.active
        logical(graft.operators.BatchStore.searchIndexTopKBm25(
          spark, strConst(exprs(0), "index_dir"), strConst(exprs(1), "id_col"),
          graft.operators.TextSearch.searchTermsJvm(strConst(exprs(2), "query")),
          intConst(exprs(3), "k"),
          minShouldMatch = exprs.lift(4).map(e => intConst(e, "min_should_match"))))
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("graft_store_mlt"),
      tvfInfo("graft_store_mlt",
        "_FUNC_(index_dir, probe_path, id_col, text_col, k[, max_query_terms]) - " +
          "more-like-this over a PERSISTED postings store: for each probe " +
          "document at `probe_path` (parquet), the k most similar indexed " +
          "documents by rarity-weighted term overlap; the probe term " +
          "universe prunes the store statically (bounded-probe contract)."),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 5 || exprs.length == 6,
          s"graft_store_mlt takes 5-6 arguments, got ${exprs.length}")
        val spark = org.apache.spark.sql.SparkSession.active
        val indexDir = strConst(exprs(0), "index_dir")
        logical(graft.operators.TextSearch.searchStoreMoreLikeThis(
          spark.read.parquet(indexDir),
          spark.read.parquet(strConst(exprs(1), "probe_path")),
          strConst(exprs(2), "id_col"), strConst(exprs(3), "text_col"),
          intConst(exprs(4), "k"),
          // corpus-true n_docs from the totals manifest (counts
          // zero-token docs, no full-store countDistinct per query) —
          // the same sourcing as the sibling store TVFs; a store
          // without a manifest falls back to the store-distinct count
          nDocs = graft.operators.BatchStore
            .searchIndexTotals(spark, indexDir).map(_._1),
          maxQueryTerms = exprs.lift(5).map(e => intConst(e, "max_query_terms"))))
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("graft_store_phrase"),
      tvfInfo("graft_store_phrase",
        "_FUNC_(index_dir, id_col, phrase, k) - exact-phrase occurrence " +
          "ranking over a PERSISTED positional store; `phrase` is a plain " +
          "string tokenized by the engine's search contract (CJK included)."),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 4,
          s"graft_store_phrase takes 4 arguments, got ${exprs.length}")
        val spark = org.apache.spark.sql.SparkSession.active
        logical(graft.operators.TextSearch.searchStorePhrase(
          spark.read.parquet(strConst(exprs(0), "index_dir")),
          strConst(exprs(1), "id_col"),
          graft.operators.TextSearch.searchTermsJvm(strConst(exprs(2), "phrase")),
          intConst(exprs(3), "k")))
      }))
    // the remaining store readers (r18 — completing the family): every
    // proximity shape plus suggest, each splicing the exact plan of its
    // Scala reader, with query strings tokenized through the engine
    // contract so CJK works from SQL
    ext.injectTableFunction((
      new FunctionIdentifier("graft_store_proximity"),
      tvfInfo("graft_store_proximity",
        "_FUNC_(index_dir, id_col, term_a, term_b, max_distance, k) - " +
          "top-k docs by minimum token distance between the two terms, " +
          "answered from a PERSISTED positional store (terms prune first)."),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 6,
          s"graft_store_proximity takes 6 arguments, got ${exprs.length}")
        val spark = org.apache.spark.sql.SparkSession.active
        logical(graft.operators.TextSearch.searchStoreProximity(
          spark.read.parquet(strConst(exprs(0), "index_dir")),
          strConst(exprs(1), "id_col"),
          strConst(exprs(2), "term_a"), strConst(exprs(3), "term_b"),
          longConst(exprs(4), "max_distance"), intConst(exprs(5), "k")))
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("graft_store_window"),
      tvfInfo("graft_store_window",
        "_FUNC_(index_dir, id_col, query, window, k) - top-k docs by the " +
          "minimal token span covering ALL of `query`'s terms (engine " +
          "tokenization, CJK included) within `window`, from a PERSISTED " +
          "positional store."),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 5,
          s"graft_store_window takes 5 arguments, got ${exprs.length}")
        val spark = org.apache.spark.sql.SparkSession.active
        logical(graft.operators.TextSearch.searchStoreWindowProximity(
          spark.read.parquet(strConst(exprs(0), "index_dir")),
          strConst(exprs(1), "id_col"),
          graft.operators.TextSearch.searchTermsJvm(strConst(exprs(2), "query")),
          longConst(exprs(3), "window"), intConst(exprs(4), "k")))
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("graft_store_ordered"),
      tvfInfo("graft_store_ordered",
        "_FUNC_(index_dir, id_col, query, window, k) - top-k docs by the " +
          "minimal span of `query`'s terms IN ORDER (subsequence match, " +
          "phrase-with-slop) within `window`, from a PERSISTED positional " +
          "store; terms must be distinct after tokenization."),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 5,
          s"graft_store_ordered takes 5 arguments, got ${exprs.length}")
        val spark = org.apache.spark.sql.SparkSession.active
        logical(graft.operators.TextSearch.searchStoreOrderedWindow(
          spark.read.parquet(strConst(exprs(0), "index_dir")),
          strConst(exprs(1), "id_col"),
          graft.operators.TextSearch.searchTermsJvm(strConst(exprs(2), "query")),
          longConst(exprs(3), "window"), intConst(exprs(4), "k")))
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("graft_store_snippet"),
      tvfInfo("graft_store_snippet",
        "_FUNC_(index_dir, id_col, query, window, k) - the graft_store_window " +
          "ranking plus WHERE the best window sits: (id, window_span, " +
          "snippet_start, snippet_end) token offsets from a PERSISTED " +
          "positional store — offsets, never text."),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 5,
          s"graft_store_snippet takes 5 arguments, got ${exprs.length}")
        val spark = org.apache.spark.sql.SparkSession.active
        logical(graft.operators.TextSearch.searchStoreSnippet(
          spark.read.parquet(strConst(exprs(0), "index_dir")),
          strConst(exprs(1), "id_col"),
          graft.operators.TextSearch.searchTermsJvm(strConst(exprs(2), "query")),
          longConst(exprs(3), "window"), intConst(exprs(4), "k")))
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("graft_store_suggest"),
      tvfInfo("graft_store_suggest",
        "_FUNC_(index_dir, id_col, term, max_dist, k) - \"did you mean\": " +
          "the k vocabulary terms of a PERSISTED store within max_dist " +
          "edits of `term`, ranked (distance, df desc, term); df is the " +
          "distinct-document count, so uncompacted stores rank identically."),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 5,
          s"graft_store_suggest takes 5 arguments, got ${exprs.length}")
        val spark = org.apache.spark.sql.SparkSession.active
        logical(graft.operators.TextSearch.suggestTerms(
          spark.read.parquet(strConst(exprs(0), "index_dir")),
          strConst(exprs(1), "id_col"), strConst(exprs(2), "term"),
          intConst(exprs(3), "max_dist"), intConst(exprs(4), "k")))
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("graft_top_terms"),
      tvfInfo("graft_top_terms",
        "_FUNC_(path, id_col, text_col, k) - per-document top-k terms by " +
          "tf*rarity over the parquet corpus at `path` (keyword " +
          "extraction; one corpus tokenization)."),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 4,
          s"graft_top_terms takes 4 arguments, got ${exprs.length}")
        val spark = org.apache.spark.sql.SparkSession.active
        logical(graft.operators.TextSearch.topTermsPerDoc(
          spark.read.parquet(strConst(exprs(0), "path")),
          strConst(exprs(1), "id_col"), strConst(exprs(2), "text_col"),
          intConst(exprs(3), "k")))
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("graft_collocations"),
      tvfInfo("graft_collocations",
        "_FUNC_(path, id_col, text_col, min_count, k) - top-k consecutive-" +
          "token pairs by integer lift (PMI-monotone) over the parquet " +
          "corpus at `path`; pairs below min_count occurrences drop."),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 5,
          s"graft_collocations takes 5 arguments, got ${exprs.length}")
        val spark = org.apache.spark.sql.SparkSession.active
        logical(graft.operators.TextSearch.collocations(
          spark.read.parquet(strConst(exprs(0), "path")),
          strConst(exprs(1), "id_col"), strConst(exprs(2), "text_col"),
          longConst(exprs(3), "min_count"), intConst(exprs(4), "k")))
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("graft_lift_pairs"),
      tvfInfo("graft_lift_pairs",
        "_FUNC_(path, group_col, item_col, min_shared[, max_group_items]) - " +
          "market-basket lift pairs over distinct group memberships at " +
          "`path`: (src, dst, n_shared, lift_micro), canonical src < dst."),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 4 || exprs.length == 5,
          s"graft_lift_pairs takes 4-5 arguments, got ${exprs.length}")
        val spark = org.apache.spark.sql.SparkSession.active
        logical(graft.operators.Graph.liftPairs(
          spark.read.parquet(strConst(exprs(0), "path")),
          strConst(exprs(1), "group_col"), strConst(exprs(2), "item_col"),
          longConst(exprs(3), "min_shared"),
          exprs.lift(4).map(e => longConst(e, "max_group_items"))
            .getOrElse(Long.MaxValue)))
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("graft_label_prop"),
      tvfInfo("graft_label_prop",
        "_FUNC_(path, src_col, dst_col, rounds) - synchronous label-" +
          "propagation communities over the (src, dst) edges at `path`: " +
          "(node, label) after exactly `rounds` modal-neighbor rounds, " +
          "min-label ties."),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 4,
          s"graft_label_prop takes 4 arguments, got ${exprs.length}")
        val spark = org.apache.spark.sql.SparkSession.active
        logical(graft.operators.Graph.labelPropagation(
          spark.read.parquet(strConst(exprs(0), "path"))
            .select(strConst(exprs(1), "src_col"), strConst(exprs(2), "dst_col")),
          intConst(exprs(3), "rounds")))
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("graft_interval_coverage"),
      tvfInfo("graft_interval_coverage",
        "_FUNC_(path, keys, lo_col, hi_col) - per-key union length of the " +
          "[lo, hi) intervals at `path` (overlaps merged; keys whitespace-" +
          "separated): (keys..., n_intervals, n_islands, covered)."),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 4,
          s"graft_interval_coverage takes 4 arguments, got ${exprs.length}")
        val spark = org.apache.spark.sql.SparkSession.active
        logical(graft.operators.Temporal.intervalCoverage(
          spark.read.parquet(strConst(exprs(0), "path")),
          strConst(exprs(1), "keys").trim.split("\\s+").toSeq,
          strConst(exprs(2), "lo_col"), strConst(exprs(3), "hi_col")))
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("graft_peak_concurrency"),
      tvfInfo("graft_peak_concurrency",
        "_FUNC_(path, keys, lo_col, hi_col) - per-key maximum of " +
          "simultaneously open [lo, hi) intervals at `path` (keys " +
          "whitespace-separated): (keys..., peak_concurrency, n_intervals)."),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 4,
          s"graft_peak_concurrency takes 4 arguments, got ${exprs.length}")
        val spark = org.apache.spark.sql.SparkSession.active
        logical(graft.operators.Temporal.peakConcurrency(
          spark.read.parquet(strConst(exprs(0), "path")),
          strConst(exprs(1), "keys").trim.split("\\s+").toSeq,
          strConst(exprs(2), "lo_col"), strConst(exprs(3), "hi_col")))
      }))
    ext.injectTableFunction((
      new FunctionIdentifier("graft_transition_matrix"),
      tvfInfo("graft_transition_matrix",
        "_FUNC_(path, key_col, ts_col, tie_col, state_col) - the Markov " +
          "transition matrix of the event stream at `path`: (from_state, " +
          "to_state, n, permille), (ts, tie) totally ordered per key."),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 5,
          s"graft_transition_matrix takes 5 arguments, got ${exprs.length}")
        val spark = org.apache.spark.sql.SparkSession.active
        logical(graft.operators.Temporal.transitionMatrix(
          spark.read.parquet(strConst(exprs(0), "path")),
          strConst(exprs(1), "key_col"), strConst(exprs(2), "ts_col"),
          strConst(exprs(3), "tie_col"), strConst(exprs(4), "state_col")))
      }))
  }
}
