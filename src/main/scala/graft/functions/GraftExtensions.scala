package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** SparkSessionExtensions injector for every graft Catalyst expression —
  * the one place a `graft_*` function is registered:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.functions.GraftExtensions ...
  * }}}
  *
  * makes every kernel (`graft_dot`, `graft_minhash`, `graft_theta_sketch`,
  * `graft_bitmap_agg`, `graft_ppm_payload`, ...) a built-in of every session
  * the builder creates, SQL included, and of each `newSession()` or
  * streaming batch session cloned from one. Every session that runs an
  * operator must set the extension: without it a kernel call fails at
  * analysis with `UNRESOLVED_ROUTINE`. The `call_function` column helpers
  * in `graft.functions` only name these functions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // maintenance-verb SQL (OPTIMIZE / VACUUM / DESCRIBE HISTORY over
    // snapshot-log tables) — a delegating parser, never shadowing real
    // grammar ([[graft.sources.GraftSqlParser]])
    ext.injectParser((_, delegate) => new graft.sources.GraftSqlParser(delegate))
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      info("graft_dot", "graft_dot(a, b) - codegen'd dot product of two array<double>"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_sqdist_l"),
      info("graft_sqdist_l", "graft_sqdist_l(a, b) - codegen'd integer squared-L2 distance of two array<bigint>"),
      (exprs: Seq[Expression]) => SqDistLong(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_eq_count"),
      info("graft_eq_count", "graft_eq_count(a, b) - codegen'd equal-slot count of two array<bigint>"),
      (exprs: Seq[Expression]) => EqSlotCount(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_shingles"),
      info("graft_shingles", "graft_shingles(tokens, n) - distinct word n-grams"),
      (exprs: Seq[Expression]) =>
        TextKernels.ShinglesExpr(exprs(0), TextKernels.intArg("graft_shingles", 1, exprs(1)))))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash"),
      info("graft_minhash", "graft_minhash(grams) - 32-slot MinHash signature"),
      (exprs: Seq[Expression]) => TextKernels.MinHashSignature(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash60"),
      info("graft_simhash60", "graft_simhash60(tokens) - 60-bit SimHash"),
      (exprs: Seq[Expression]) => TextKernels.SimHash60(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_winnow"),
      info("graft_winnow", "graft_winnow(tokens, n, w) - winnowing fingerprints"),
      (exprs: Seq[Expression]) => TextKernels.WinnowFingerprints(
        exprs(0),
        TextKernels.intArg("graft_winnow", 1, exprs(1)),
        TextKernels.intArg("graft_winnow", 2, exprs(2)))))
    ext.injectFunction((
      FunctionIdentifier("graft_vec_sum"),
      info("graft_vec_sum", "graft_vec_sum(v) - element-wise sum aggregate over array<double>"),
      (exprs: Seq[Expression]) => VectorSumAgg(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_vec_min"),
      info("graft_vec_min", "graft_vec_min(v) - element-wise min aggregate over array<double>"),
      (exprs: Seq[Expression]) => VectorExtremeAgg(exprs(0), isMin = true)))
    ext.injectFunction((
      FunctionIdentifier("graft_vec_max"),
      info("graft_vec_max", "graft_vec_max(v) - element-wise max aggregate over array<double>"),
      (exprs: Seq[Expression]) => VectorExtremeAgg(exprs(0), isMin = false)))
    ext.injectFunction((
      FunctionIdentifier("graft_repstats"),
      info("graft_repstats",
        "graft_repstats(tokens, n) - struct<n_grams, n_distinct, top_count> repetition stats"),
      (exprs: Seq[Expression]) => TextKernels.RepetitionStats(
        exprs(0), TextKernels.intArg("graft_repstats", 1, exprs(1)))))
    ext.injectFunction((
      FunctionIdentifier("graft_bpe_apply"),
      info("graft_bpe_apply",
        "graft_bpe_apply(word, merges) - subword segmentation under a flattened (l1,r1,l2,r2,...) merge table literal"),
      (exprs: Seq[Expression]) => TextKernels.BpeApply(
        exprs(0), TextKernels.stringArrayArg("graft_bpe_apply", 1, exprs(1)))))
    ext.injectFunction((
      FunctionIdentifier("graft_topk"),
      info("graft_topk",
        "graft_topk(item, score, k) - bounded (score DESC, item ASC) top-k aggregate, best-first array<struct<item,score>>"),
      (exprs: Seq[Expression]) => TopKAgg(exprs(0), exprs(1), TopKFunctions.kArg(exprs))))
    ext.injectFunction((
      FunctionIdentifier("graft_mg"),
      info("graft_mg",
        "graft_mg(item, k) - Misra-Gries heavy-hitters summary, (est DESC, item ASC) array<struct<item,est>>"),
      (exprs: Seq[Expression]) => MisraGriesAgg(exprs(0), FreqFunctions.kArg(exprs))))
    ext.injectFunction((
      FunctionIdentifier("graft_gram_hashes"),
      info("graft_gram_hashes", "graft_gram_hashes(tokens, n) - ordered 32-bit n-gram hash sequence"),
      (exprs: Seq[Expression]) => TextKernels.OrderedGramHashes(
        exprs(0), TextKernels.intArg("graft_gram_hashes", 1, exprs(1)))))
    ext.injectFunction((
      FunctionIdentifier("graft_nfc"),
      info("graft_nfc", "graft_nfc(s) - Unicode NFC normalization"),
      (exprs: Seq[Expression]) => TextKernels.NfcNormalize(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_media_header"),
      info("graft_media_header",
        "graft_media_header(payload) - PNG/JPEG/WAV container-header sniff to struct"),
      (exprs: Seq[Expression]) => MediaKernels.DecodeMediaHeader(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_ppm_dhash"),
      info("graft_ppm_dhash", "graft_ppm_dhash(payload) - 64-bit perceptual dHash of a PPM image"),
      (exprs: Seq[Expression]) => ImageKernels.PpmDhash(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_wav_ehash"),
      info("graft_wav_ehash", "graft_wav_ehash(payload) - 64-bit energy-envelope hash of a PCM WAV"),
      (exprs: Seq[Expression]) => AudioKernels.WavEnergyHash(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_gif_frames"),
      info("graft_gif_frames",
        "graft_gif_frames(payload) - GIF container walk to struct<width,height,n_frames,total_delay_cs,delays_cs>"),
      (exprs: Seq[Expression]) => VideoKernels.GifFrames(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_theta_sketch"),
      info("graft_theta_sketch", "graft_theta_sketch(key, lgK) - theta sketch aggregate"),
      (exprs: Seq[Expression]) => ThetaFunctions.ThetaSketchAgg(
        exprs(0), ThetaFunctions.lgKArg("graft_theta_sketch", exprs(1)))))
    ext.injectFunction((
      FunctionIdentifier("graft_theta_union"),
      info("graft_theta_union", "graft_theta_union(sk, lgK) - theta sketch union aggregate"),
      (exprs: Seq[Expression]) => ThetaFunctions.ThetaUnionAgg(
        exprs(0), ThetaFunctions.lgKArg("graft_theta_union", exprs(1)))))
    ext.injectFunction((
      FunctionIdentifier("graft_theta_estimate"),
      info("graft_theta_estimate", "graft_theta_estimate(sk) - distinct estimate of a theta sketch"),
      (exprs: Seq[Expression]) => ThetaFunctions.ThetaEstimate(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_theta_intersect_est"),
      info("graft_theta_intersect_est", "graft_theta_intersect_est(a, b) - intersection estimate"),
      (exprs: Seq[Expression]) => ThetaFunctions.ThetaIntersectEstimate(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_theta_anotb_est"),
      info("graft_theta_anotb_est", "graft_theta_anotb_est(a, b) - A-not-B estimate"),
      (exprs: Seq[Expression]) => ThetaFunctions.ThetaANotBEstimate(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_kll_sketch"),
      info("graft_kll_sketch", "graft_kll_sketch(v, k) - KLL quantile sketch aggregate"),
      (exprs: Seq[Expression]) => KllFunctions.KllSketchAgg(
        exprs(0), KllFunctions.kArg("graft_kll_sketch", exprs(1)))))
    ext.injectFunction((
      FunctionIdentifier("graft_kll_merge"),
      info("graft_kll_merge", "graft_kll_merge(sk, k) - KLL sketch merge aggregate"),
      (exprs: Seq[Expression]) => KllFunctions.KllMergeAgg(
        exprs(0), KllFunctions.kArg("graft_kll_merge", exprs(1)))))
    ext.injectFunction((
      FunctionIdentifier("graft_kll_quantile"),
      info("graft_kll_quantile", "graft_kll_quantile(sk, q) - quantile estimate from a KLL sketch"),
      (exprs: Seq[Expression]) => KllFunctions.KllQuantile(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_bitmap_agg"),
      info("graft_bitmap_agg", "graft_bitmap_agg(id) - exact roaring-style bitmap aggregate over dense ids"),
      (exprs: Seq[Expression]) => BitmapFunctions.BitmapBuildAgg(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_bitmap_union"),
      info("graft_bitmap_union", "graft_bitmap_union(bm) - bitwise-OR rollup aggregate over bitmaps"),
      (exprs: Seq[Expression]) => BitmapFunctions.BitmapUnionAgg(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_bitmap_count"),
      info("graft_bitmap_count", "graft_bitmap_count(bm) - exact cardinality"),
      (exprs: Seq[Expression]) => BitmapFunctions.BitmapCount(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_bitmap_and_count"),
      info("graft_bitmap_and_count", "graft_bitmap_and_count(a, b) - exact |A intersect B|"),
      (exprs: Seq[Expression]) => BitmapFunctions.BitmapAndCount(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_bitmap_andnot_count"),
      info("graft_bitmap_andnot_count", "graft_bitmap_andnot_count(a, b) - exact |A minus B|"),
      (exprs: Seq[Expression]) => BitmapFunctions.BitmapAndNotCount(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      info("graft_bloom_agg", "graft_bloom_agg(key, m, k) - bloom filter aggregate"),
      (exprs: Seq[Expression]) => new BloomFilterAggregate(exprs(0), exprs(1), exprs(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_contains"),
      info("graft_bloom_contains", "graft_bloom_contains(bloom, key) - membership probe"),
      (exprs: Seq[Expression]) => BloomFilterMightContain(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_count_in"),
      info("graft_bloom_count_in",
        "graft_bloom_count_in(hashes, bloom) - how many array<bigint> elements the binary-literal filter might contain"),
      (exprs: Seq[Expression]) => BloomFunctions.BloomCountIn(
        exprs(0), BloomFunctions.binaryArg("graft_bloom_count_in", 1, exprs(1)))))
    ext.injectFunction((
      FunctionIdentifier("graft_arr_sum_l"),
      info("graft_arr_sum_l", "graft_arr_sum_l(a) - codegen'd element sum of an array<bigint>"),
      (exprs: Seq[Expression]) => ArraySumLong(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_rp_project"),
      info("graft_rp_project",
        "graft_rp_project(vec, signs, outDim) - JL +/-1 projection to outDim unrounded doubles"),
      (exprs: Seq[Expression]) => RpProject(
        exprs(0),
        TextKernels.doubleArrayArg("graft_rp_project", 1, exprs(1)),
        TextKernels.intArg("graft_rp_project", 2, exprs(2)))))
    ext.injectFunction((
      FunctionIdentifier("graft_count_in"),
      info("graft_count_in",
        "graft_count_in(tokens, terms) - occurrences of tokens in the literal term set"),
      (exprs: Seq[Expression]) => TextKernels.CountIn(
        exprs(0), TextKernels.stringArrayArg("graft_count_in", 1, exprs(1)))))
    ext.injectFunction((
      FunctionIdentifier("graft_terms_present"),
      info("graft_terms_present",
        "graft_terms_present(tokens, terms) - how many literal terms occur at least once"),
      (exprs: Seq[Expression]) => TextKernels.TermsPresent(
        exprs(0), TextKernels.stringArrayArg("graft_terms_present", 1, exprs(1)))))
    ext.injectFunction((
      FunctionIdentifier("graft_toklen_sum"),
      info("graft_toklen_sum", "graft_toklen_sum(tokens) - sum of token lengths in code points"),
      (exprs: Seq[Expression]) => TextKernels.TokenLenSum(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_adj_pairs"),
      info("graft_adj_pairs", "graft_adj_pairs(syms) - adjacent array<struct<l, r>> pairs, duplicates kept"),
      (exprs: Seq[Expression]) => TextKernels.AdjacentPairs(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_inter_count"),
      info("graft_inter_count",
        "graft_inter_count(a, b) - size(array_intersect(a, b)) without materializing the array"),
      (exprs: Seq[Expression]) => TextKernels.InterCount(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_filter_cands"),
      info("graft_filter_cands",
        "graft_filter_cands(tokens, stop, minLen) - keep tokens of length >= minLen not in the literal stoplist"),
      (exprs: Seq[Expression]) => TextKernels.FilterCandidates(
        exprs(0),
        TextKernels.stringArrayArg("graft_filter_cands", 1, exprs(1)),
        TextKernels.intArg("graft_filter_cands", 2, exprs(2)))))
    ext.injectFunction((
      FunctionIdentifier("graft_lambda_fold"),
      info("graft_lambda_fold",
        "graft_lambda_fold(hashes, lambda) - left-to-right sum of lambda[h % len(lambda)]"),
      (exprs: Seq[Expression]) => TextKernels.LambdaFold(
        exprs(0), TextKernels.doubleArrayArg("graft_lambda_fold", 1, exprs(1)))))
    ext.injectFunction((
      FunctionIdentifier("graft_dv_contains"),
      info("graft_dv_contains",
        "graft_dv_contains(dvs, file, pos) - whether row pos of file is deleted under the literal map of deletion-vector bitmaps"),
      (exprs: Seq[Expression]) => BitmapFunctions.DvContains(exprs(0), exprs(1), exprs(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_ppm_resize"),
      info("graft_ppm_resize", "graft_ppm_resize(payload) - the 72 pooled block sums of a PPM image"),
      (exprs: Seq[Expression]) => ImageKernels.PpmPooledGrid(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_wav_envelope"),
      info("graft_wav_envelope", "graft_wav_envelope(payload) - the 65 window energies of a PCM WAV"),
      (exprs: Seq[Expression]) => AudioKernels.WavEnvelope(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_ppm_payload"),
      info("graft_ppm_payload", "graft_ppm_payload(id) - the synthetic PPM image of a bigint id"),
      (exprs: Seq[Expression]) => MediaSynth.PpmPayload(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_wav_payload"),
      info("graft_wav_payload", "graft_wav_payload(id) - the synthetic PCM WAV clip of a bigint id"),
      (exprs: Seq[Expression]) => MediaSynth.WavPayload(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_ppm_frame_payload"),
      info("graft_ppm_frame_payload",
        "graft_ppm_frame_payload(id, frame_no, scene_len) - the synthetic PPM video frame of a bigint id"),
      (exprs: Seq[Expression]) => MediaSynth.PpmFramePayload(exprs(0), exprs(1), exprs(2))))
  }
}
