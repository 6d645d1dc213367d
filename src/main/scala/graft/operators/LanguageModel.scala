package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CCNet-style language-model quality scoring (Wenzek et al. 2019,
  * "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
  * Data"): fit a small LM on a curated TARGET corpus, then score every
  * raw document by its per-token negative log-likelihood under that model —
  * fluent, target-like text scores low, boilerplate/gibberish scores high.
  * CCNet uses a 5-gram KenLM; the engine-replayable variant here is an
  * add-1-smoothed bigram model, the same determinism trade the repo's DSIR
  * implementation makes (hashed vs real n-grams there, model order here):
  * the SIGNAL class is identical, and every arithmetic step replays
  * bit-for-bit in the DuckDB oracle.
  *
  * Model: `P(w2 | w1) = (c(w1 w2) + 1) / (c(w1) + V)` with `c` counted on
  * the target corpus and `V` = target vocabulary size. Per document, the
  * log-probability is summed over ADJACENT token pairs (duplicates count);
  * out-of-model bigrams back off to `ln(1 / (c(w1) + V))`, out-of-vocab
  * contexts to `ln(1 / V)` — the add-1 zero-count rows of the same table.
  *
  * Determinism across engines (the DSIR discipline): bigram/unigram counts
  * are integers; each bigram's log-prob is quantized to 6 decimals BEFORE
  * the per-doc sum (absorbing the ≤1-ulp `ln` difference between libms);
  * the per-doc sum of quantized terms is re-quantized (absorbing
  * partition-order float wiggle); the final per-token mean is one IEEE
  * double division of already-quantized values (correctly rounded on both
  * engines).
  *
  * Scale shape: the model is VOCAB-scale, not corpus-scale — unigram and
  * bigram count tables partial-aggregate map-side and are broadcast into
  * the scoring join (a fitted bigram table at web scale is ~10⁷ rows ≈
  * 10² MB, the standard broadcast-a-model shape; the corpus itself never
  * joins corpus-to-corpus). The only corpus-scale shuffle is the per-doc
  * sum. Scoring is otherwise one map-side pass: tokenize, zip adjacent
  * pairs, look up λ.
  *
  * No counterpart in the reference (extension tier; the reference's only
  * text handling is exact-match predicates — `DataLoadTransformer.scala`
  * filters, not scoring).
  */
object LanguageModel {

  /** One row per ADJACENT token pair of each document, duplicates kept —
    * occurrence, not set, semantics (a doc repeating one bigram 50 times
    * should pay/earn its score 50 times).
    */
  private def docBigrams(d: DataFrame, idCol: String, textCol: String): DataFrame = {
    // codegen'd adjacent-pair scan — identical pair rows as the interpreted
    // zip_with(slice, slice) chain it replaces (one pass, no intermediates)
    d.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("w"))
      .where(size(col("w")) >= 2)
      .select(
        col(idCol),
        explode(graft.functions.TextKernels.adjacentPairsCol(col("w"))).as("p"))
      .select(col(idCol), col("p.l").as("w1"), col("p.r").as("w2"))
  }

  /** Score `docs` under a bigram LM fitted on `target`: per doc, the count
    * of scored bigrams, the quantized summed log-probability, the per-token
    * (per-bigram) average negative log-likelihood, and a CORPUS-RELATIVE
    * `selected = avg_nll < mean(avg_nll)` verdict — CCNet's head/middle/
    * tail split is corpus-relative (perplexity terciles), and an absolute
    * cut would be corpus-dependent (on a narrow-vocabulary corpus every doc
    * clears any fixed threshold, a constant — unfalsifiable — boolean).
    * Callers with their own threshold filter on `avg_nll` directly; the
    * carried `mean_nll` column pins the model-wide statistic in the same
    * hash check. Documents with fewer than two tokens have no bigrams and
    * are not scored (no model opinion ≠ a good score).
    *
    * `target` must tokenize to a non-empty vocabulary (`require`d — an
    * empty model would divide by zero, and "score everything as OOV"
    * silently is exactly the degenerate-input hazard the kmeans guard
    * exists for).
    */
  def perplexity(
      docs: DataFrame,
      target: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val uni = target
      .select(explode(TextAnalysis.tokens(col(textCol))).as("w1"))
      .groupBy(col("w1"))
      .agg(count(lit(1)).as("c1"))
    val v = uni.count()
    require(v > 0, "lm perplexity: target corpus has an empty vocabulary — nothing to fit")
    val bi = docBigrams(target, idCol, textCol)
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    // λ tables with the quantization applied at FIT time, so every consumer
    // (this scorer, or a frozen-model reuse) reads identical doubles
    val lam = bi
      .join(uni, Seq("w1"))
      .select(
        col("w1"), col("w2"),
        round(
          log((col("c2") + lit(1L)).cast("double") / (col("c1") + lit(v)).cast("double")),
          6).as("lp"))
    val lam0 = uni.select(
      col("w1"),
      round(log(lit(1.0) / (col("c1") + lit(v)).cast("double")), 6).as("lp0"))
    val oov = BigDecimal(math.log(1.0 / v))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val scored = docBigrams(docs, idCol, textCol)
      .join(broadcast(lam), Seq("w1", "w2"), "left")
      .join(broadcast(lam0), Seq("w1"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(sum(coalesce(col("lp"), col("lp0"), lit(oov))), 6).as("log_prob"))
      .select(
        col(idCol), col("n_bigrams"), col("log_prob"),
        round(-col("log_prob") / col("n_bigrams").cast("double"), 6).as("avg_nll"))
    // the corpus-wide mean of already-quantized per-doc means, re-quantized
    // (sum-order wiggle absorbed) — a 1-row scalar broadcast
    val m = scored.agg(round(avg(col("avg_nll")), 6).as("mean_nll"))
    scored
      .crossJoin(broadcast(m))
      .withColumn("selected", col("avg_nll") < col("mean_nll"))
  }
}
