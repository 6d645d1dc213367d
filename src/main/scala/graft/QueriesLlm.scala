package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.streaming.StreamingSessionize

/** LLM training-data pipeline queries: dedup (exact / n-gram Jaccard /
  * MinHash-LSH / SimHash), embedding similarity (brute-force + LSH KNN,
  * cosine near-dup), text analysis (stats, quality, language-ID), and
  * multimodal binary plumbing. Every deterministic operator carries a DuckDB
  * oracle that recomputes the SAME algorithm (incl. md5-derived hashes) from
  * the raw parquet.
  */
object QueriesLlm {

  // DuckDB expression fragments mirroring TextAnalysis exactly
  private val norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
  private val toksSql = s"string_split($norm, ' ')"
  private val stopList = TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")

  private val gramsCte =
    s"""WITH toks AS (
       |  SELECT doc_id, $toksSql AS w FROM documents
       |), grams AS (
       |  SELECT doc_id,
       |         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |                        for i in range(1, len(w) - 1)]) AS g
       |  FROM toks WHERE len(w) >= 3
       |)""".stripMargin

  /** CTE chain `t` → `s` → `l(doc_id[, carry...], lang_guess)` replaying the
    * marker-score argmax ([[TextAnalysis.langIdFromScores]]) once — shared
    * by every lang-ID oracle so the replay can't drift per query; `carry`
    * threads extra document columns through to `l`.
    */
  private def langGuessCte(carry: Seq[String] = Nil): String = {
    val cols = ("doc_id" +: carry).mkString(", ")
    val scoreExprs = TextAnalysis.LangMarkers.map { case (lang, ms) =>
      val list = ms.map(m => s"'$m'").mkString(", ")
      s"len(list_filter(w, x -> x IN ($list))) AS s_$lang"
    }.mkString(",\n       ")
    val langs = TextAnalysis.LangMarkers.map(_._1)
    val best = langs.zipWithIndex.map { case (l, i) =>
      val later = langs.drop(i + 1).map(o => s"s_$l >= s_$o")
      val cond = if (later.isEmpty) "TRUE" else later.mkString(" AND ")
      s"WHEN $cond THEN '$l'"
    }.mkString("\n         ")
    s"""WITH t AS (SELECT $cols, $toksSql AS w FROM documents),
       |s AS (
       |  SELECT $cols,
       |       $scoreExprs
       |  FROM t
       |),
       |l AS (
       |  SELECT $cols,
       |    CASE WHEN greatest(${langs.map("s_" + _).mkString(", ")}) = 0 THEN 'und'
       |         $best
       |    END AS lang_guess
       |  FROM s
       |)""".stripMargin
  }

  private val seedsSql: String = Dedup.MinhashSeeds.zipWithIndex
    .map { case ((a, b), i) => s"($i, ${a}::BIGINT, ${b}::BIGINT)" }
    .mkString(", ")

  // LSH geometry interpolated from the Scala constants — the oracle cannot
  // silently drift if a Similarity/Dedup default changes (ADVICE r2).
  private val NdBands = Similarity.NearDupBands
  private val NdPlanes = Similarity.NearDupPlanesPerBand
  private val KnnPlanes = 4
  private val MhK = Dedup.MinhashSeeds.size
  private val MhBands = 8 // LSH bands, passed to the queries AND interpolated into oracles
  private val MhRows = MhK / MhBands
  private val WinnowN = 3 // gram width for winnowing fingerprints
  private val WinnowW = 4 // winnow window (selects ~2/(w+1) of grams)
  private val KcoreK = 2 // graph_kcore minimum within-core degree (the winnow graph is sparse: max degree 4 at sf0.01)
  private val KcoreRounds = 12 // unrolled peel rounds in the oracle (>= observed depth)
  private val SsspSeeds = 3 // graph_sssp source set: the 3 smallest graph nodes
  private val SsspHops = 10 // Bellman-Ford rounds, query AND unrolled oracle (convergence law-checked)
  private val PrIters = 6 // pagerank fixed iteration count, query AND oracle
  private val TrMinLen = 4 // textrank candidate filter: token length floor
  private val TrMinEdge = 2L // textrank co-occurrence edge count floor
  private val TrK = 40 // textrank keyword count emitted
  private val PrScale = 1000000000000L // pagerank total integer mass units
  private val PrNum = 85 // damping numerator (85/100 = classic 0.85)
  private val PrDen = 100 // damping denominator

  // Fixed BM25 query set (vocabulary drawn from the documents fixture) and
  // the hybrid-expansion seed docs — shared by query and oracle.
  private val Bm25Queries = Seq(
    "q01" -> "spark window agg",
    "q02" -> "fast hash join table",
    "q03" -> "stream batch query",
    "q04" -> "vector scan filter data")
  private val HybridSeeds = Seq(3L, 42L, 137L)
  private val TrigramPhrases = Seq( // literal SUBSTRING queries (substr_trigram_search)
    "ph_common" -> "spark window",
    "ph_mid" -> "agg join small",
    "ph_rare" -> "value table part")
  private val AnnealEpochs = 4 // annealing schedule length, query AND oracle
  private val PprSeeds = 3 // personalized-pagerank seed count (smallest graph nodes)
  private val BfsMaxHops = 4 // bfs_hops horizon, query AND oracle recursion bound
  private val MgK = 32 // Misra-Gries counter budget; heavy = n_true*(MgK+1) > n_tot, query AND oracle
  private val ChunkTokens = 50 // chunk width AND stride (disjoint packing), passed to the query AND interpolated into the oracle
  private val PackBudget = 256 // sequence token budget for pack_sequences, query AND oracle
  private val PackShards = 8 // independent packing streams, query AND oracle
  private val EpochCount = 2 // epoch_plan epochs, query AND oracle
  private val EpochWorkers = 4 // epoch_plan loader ranks, query AND oracle
  private val BpeMerges = 6 // bpe_train merge rounds, query AND oracle
  // Word-gram width shared by the repetition/decontamination queries. The
  // oracle gram CTEs are hand-written as TRIGRAMS (w[i] w[i+1] w[i+2]), so
  // the constant is pinned — changing it requires rewriting those CTEs, and
  // the require makes that a loud build failure instead of silent drift.
  private val GramN = 3
  require(GramN == 3, "oracle gram CTEs are written for trigrams; rewrite them before changing GramN")
  // dedup_edit_distance verification cap, interpolated into the oracle
  private val EditMaxDist = 64
  private val DeconMinShared = 2 // shared-gram threshold, query AND oracle
  // decontaminate_bloom gram-level false-positive rate: doc-level false
  // flags go as P(Binomial(grams/doc, fpp) >= DeconMinShared) — see the
  // operator Scaladoc for why 1e-2 would be catastrophic here
  private val BloomFpp = 1e-4
  // dedup_substr_spans seed-gram width (L) and global occurrence floor,
  // query AND oracle
  private val SubstrL = 8
  private val SubstrMinOcc = 2
  // classifier_quality: full-batch GD iterations, learning rate, and the
  // bootstrap-label threshold (median-ish quality → balanced classes),
  // query AND oracle (the oracle unrolls one CTE per iteration from these)
  private val LrIters = 24
  private val LrRate = 4.0
  private val QualityCut = 0.75
  private val LrFeatCols: Seq[String] = Seq("x0", "x1", "x2", "x3")
  // dsir_weights: hashed-bigram feature space size, query AND oracle; the
  // target corpus is the rule-quality >= QualityCut subset
  private val DsirN = 2
  private val DsirBuckets = 4096
  private val MmFeatDim = 16 // stub feature-vector dimensionality
  private val MmFeatK = 3 // neighbors per query in mm_feature_knn
  private val ShapK = 5 // knn_shapley classifier K
  private val ShapMod = 25 // vec_id % ShapMod == 0 -> held-out test point
  private val ShapProbes = 3 // knn_shapley_ivf probed cells (of the KmK fit)
  private val ShapTopM = 20 // ivf-vs-exact agreement window (top contributors)
  private val ShapAgreeFloor = 14 // required top-M overlap at default probes (17-18 observed)
  private val MmFrames = 12 // frames per synthesized video (mm_scene_cuts)
  private val MmSceneLen = 4 // frames per scene: cuts land at frames 4 and 8
  private val MmCutThresh = 10 // Hamming cut threshold (intra-scene <= 2, redraw ~32)
  private val KmK = 4 // kmeans_clusters cluster count, query AND oracle
  private val KmIters = 3 // kmeans_clusters Lloyd iterations, query AND oracle
  private val KcK = 5 // sample_kcenter coreset size — the oracle unrolls EXACTLY this many rounds

  /** The exact KNN-Shapley DuckDB replay shared by `knn_shapley` and
    * `knn_shapley_ivf` (whose output rows are the exact contributions;
    * the IVF agreement flag is appended via `extra`).
    */
  private def knnShapleyOracleSql(extra: String): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |                  CAST(label AS BIGINT) AS y FROM embeddings),
         |ex AS (
         |  SELECT vec_id, i, v[i] AS x
         |  FROM e, unnest(range(1, len(v) + 1)) AS t(i)
         |),
         |stats AS (SELECT i, min(x) AS mn, max(x) AS mx FROM ex GROUP BY i),
         |codes AS (
         |  SELECT vec_id, i,
         |         CASE WHEN s.mx = s.mn THEN 0
         |              ELSE CAST(least(floor((x - s.mn) * ${QuantLevels}.0 / (s.mx - s.mn)), ${QuantLevels - 1}) AS BIGINT)
         |         END AS c
         |  FROM ex JOIN stats s USING (i)
         |),
         |cv AS (SELECT vec_id, list(c ORDER BY i) AS cs FROM codes GROUP BY vec_id),
         |m AS (SELECT cv.vec_id, cs, y FROM cv JOIN e USING (vec_id)),
         |tr AS (SELECT vec_id AS train_id, cs AS rc, y AS ry FROM m WHERE vec_id % $ShapMod <> 0),
         |te AS (SELECT vec_id AS test_id, cs AS tc, y AS ty FROM m WHERE vec_id % $ShapMod = 0),
         |n AS (SELECT count(*) AS nt FROM tr),
         |d AS (
         |  SELECT test_id, ty, train_id, ry,
         |         list_sum([ (tc[j + 1] - rc[j + 1]) * (tc[j + 1] - rc[j + 1])
         |                    for j in range(0, len(tc)) ]) AS dist
         |  FROM te CROSS JOIN tr
         |),
         |rk AS (
         |  SELECT test_id, train_id, ry,
         |         CASE WHEN ry = ty THEN 1 ELSE 0 END AS ind,
         |         row_number() OVER (PARTITION BY test_id ORDER BY dist, train_id) AS i
         |  FROM d
         |),
         |c1 AS (
         |  SELECT test_id, train_id, ry, i, ind,
         |         lead(ind) OVER (PARTITION BY test_id ORDER BY i) AS ind_next
         |  FROM rk
         |),
         |c2 AS (
         |  SELECT test_id, train_id, ry, i,
         |         CASE WHEN ind_next IS NULL THEN ind * (1000000000000 // (SELECT nt FROM n))
         |              ELSE (ind - ind_next) * (1000000000000 // greatest(i, $ShapK)) END AS contrib
         |  FROM c1
         |),
         |sv AS (
         |  SELECT test_id, train_id, ry,
         |         sum(contrib) OVER (PARTITION BY test_id ORDER BY i
         |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS s
         |  FROM c2
         |)
         |SELECT train_id AS vec_id, ry AS label,
         |       CAST(sum(s) AS BIGINT) AS shap_sum_e12,
         |       CAST(count(*) AS BIGINT) AS n_tests$extra
         |FROM sv GROUP BY 1, 2 ORDER BY vec_id""".stripMargin

  /** [[GraftSession.scratch]] for this file's queries (e.g. the stored IVF index). */
  private def scratch(dir: String, name: String): String =
    GraftSession.scratch("llm", dir, name)

  /** The shipped tokenizer's id stream and vocabulary, shared by
    * `bpe_encode_ids` (emits the stream) and `bpe_decode` (reconstructs
    * text from it) so encode and decode cannot drift: train merges,
    * segment every word through the codegen'd kernel, mint frequency-ranked
    * token ids, and flatten to one `(doc_id, pos, token_id)` row per
    * subword occurrence. Returns (stream, vocab(subword, token_id)).
    */
  private def bpeIdStream(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, dir)
    val merges = Bpe.trainMergesLocal(docs, BpeMerges)
    val words = docs.select(
      col("doc_id"),
      posexplode(TextAnalysis.tokens(col("text"))).as(Seq("wpos", "word")))
      .where(length(col("word")) > 0)
    val subs = words.select(
      col("doc_id"), col("wpos"),
      posexplode(Bpe.tokenKernelCol(col("word"), merges)).as(Seq("spos", "subword")))
    val ids = subs.groupBy(col("subword")).agg(count(lit(1)).as("cnt"))
      .withColumn("token_id",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("subword"))).cast("long"))
      .select(col("subword"), col("token_id"))
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("wpos"), col("spos"))
    val stream = subs.join(broadcast(ids), "subword")
      .select(
        col("doc_id"),
        (row_number().over(wd) - 1).cast("long").as("pos"),
        col("token_id"))
    (stream, ids)
  }
  // dedup_embedding_semdedup verify threshold — matches dedup_embedding_cosine
  // so the spec's "exact pairs restricted to co-clustered ids" law is over
  // the same pair universe
  private val SemThreshold = 0.4
  // dedup_incremental: corpus/fresh hash-split fraction and the signature-
  // agreement admission threshold, query AND oracle
  private val IncCorpusFrac = 0.8
  private val IncThreshold = 0.5
  // embed_quantize levels (int8-style), query AND oracle
  private val QuantLevels = 256
  // bpe_pair_counts top-k, query AND oracle
  private val BpeTopK = 30
  // budget_select per-source token budget + binned-variant bin count,
  // query AND oracle
  private val BudgetTokens = 700L
  private val BudgetBins = 100
  // dedup_containment near-subset threshold, query AND oracle
  private val ContainThreshold = 0.8
  // knn_ivf_cosine_mp probe count, query AND oracle
  private val IvfProbes = 2
  // embed_quantize_pq geometry (m subspaces, k cells, Lloyd iterations),
  // query AND oracle — the oracle unrolls m independent kmeans chains
  private val PqM = 4
  // 16 cells/subspace (16^4 = 65k codes): the smallest geometry whose
  // ADC recall is a usable signal on the isotropic fixture embeddings —
  // at the original k = 4 (256 codes) knn_pq_adc recalled 0/50 at sf0.1,
  // which is the property the recall columns exist to surface
  private val PqK = 16
  private val PqIters = 2
  // ANN recall floors at DEFAULT probe settings (k = 5, 10 queries → pool
  // of 50 exact neighbor slots), query AND oracle: each ANN query carries
  // n_hit / pool_hits / recall_ok columns vs the brute-force pool
  // (Similarity.withRecall — the wauValidated discipline) and the oracle
  // asserts the POOL floor. FIXTURE-PINNED: recall at default settings is
  // a data-distribution property, measured across the sf0.001/sf0.01/
  // sf0.1 driver fixtures and floored below the min observed; a floor
  // violation on unchanged data is a real bucketing/probing regression,
  // after a fixture change it means re-derive the floor. The mp
  // (multi-probe) variants exist as the recall knob — their candidate
  // pools are supersets, so their floors sit strictly above the
  // single-probe ones.
  // measured pool_hits (of 50) at sf0.001 / sf0.01 / sf0.1:
  //   ivf 23/19/18, ivf_mp 38/37/32, lsh 5/7/6, lsh_mp 18/27/27,
  //   pq 4/6/3 (at PqK = 16)
  private val IvfRecallFloor = 15
  private val IvfIncrRecallFloor = 15 // appended-index probe, fit on 4/5 of the corpus
  private val IvfMpRecallFloor = 30
  private val LshRecallFloor = 4
  private val LshMpRecallFloor = 15
  private val PqRecallFloor = 2
  private val IvfPqRecallFloor = 5 // coarse-cell-restricted ADC (knn_ivfpq_adc; 10/50 observed at sf0.01)

  /** The classifier_quality oracle, UNROLLED: the raw-signal feature CTE,
    * the rule-quality bootstrap label, the 6-decimal-quantized
    * standardization, then one CTE per GD iteration — all generated from
    * the same (iters, lr, cut) constants the query uses. Each iteration
    * rounds every weight to 6 decimals exactly as the engine does (Spark
    * round == DuckDB round, half-away-from-zero) — the per-iteration
    * quantization that keeps two engines' order-sensitive float sums (and
    * their 1-ulp-different `exp`s) from compounding into divergent fits
    * (see [[graft.operators.Classifier]] Scaladoc).
    */
  private def classifierQualityOracleSql: String = {
    val feats = LrFeatCols
    val dims = feats.indices
    val raws = Seq("r1", "r2", "r3")
    // the margin written in the SAME left-to-right term order as
    // Classifier.margin — identical doubles fold identically
    val zP = dims.map(j => s"p.c$j * ${feats(j)}").mkString(" + ")
    val it0 = dims.map(j => s"0.0 AS c$j").mkString(", ")
    val stdStats = raws
      .map(r => s"round(avg($r), 6) AS m_$r, round(stddev_pop($r), 6) AS s_$r")
      .mkString(",\n         ")
    val stdCols = raws.zipWithIndex.map { case (r, i) =>
      s"round(($r - st.m_$r) / (CASE WHEN st.s_$r = 0 THEN 1.0 ELSE st.s_$r END), 6) AS x${i + 1}"
    }.mkString(",\n         ")
    val iterCtes = (1 to LrIters).map { k =>
      val carry = dims.map(j => s"min(p.c$j) AS p$j").mkString(", ")
      val grads = dims
        .map(j => s"avg((1.0 / (1.0 + exp(-($zP))) - y) * ${feats(j)}) AS g$j")
        .mkString(",\n           ")
      val step = dims.map(j => s"round(p$j - $LrRate * g$j, 6) AS c$j").mkString(", ")
      s"""it$k AS (
         |  SELECT $step
         |  FROM (SELECT $carry,
         |           $grads
         |        FROM f CROSS JOIN it${k - 1} p)
         |)""".stripMargin
    }
    // f is referenced by every iteration CTE and the final select; without
    // MATERIALIZED, DuckDB inlines the whole feature pipeline into each
    // reference and the replay goes super-linear in iters (measured ~15 min
    // vs 8 s at sf0.01)
    s"""WITH t AS MATERIALIZED (
       |  SELECT doc_id, text, $toksSql AS w FROM documents WHERE length($norm) > 0
       |),
       |f0 AS MATERIALIZED (
       |  SELECT doc_id,
       |         least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) AS r1,
       |         least((CAST(len(list_filter(w, x -> x IN ($stopList))) AS DOUBLE) / len(w)) * 4.0, 1.0) AS r2,
       |         greatest(1.0 - (CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)) * 5.0, 0.0) AS r3
       |  FROM t
       |),
       |st AS (
       |  SELECT $stdStats
       |  FROM f0
       |),
       |f AS MATERIALIZED (
       |  SELECT doc_id,
       |         CASE WHEN r1 * 0.4 + r2 * 0.3 + r3 * 0.3 >= $QualityCut THEN 1.0 ELSE 0.0 END AS y,
       |         1.0 AS x0,
       |         $stdCols
       |  FROM f0 CROSS JOIN st
       |),
       |it0 AS (SELECT $it0),
       |${iterCtes.mkString(",\n")}
       |SELECT doc_id, round($zP, 6) AS margin, ($zP) > 0 AS pred,
       |       CAST(y AS BIGINT) AS label
       |FROM f CROSS JOIN it$LrIters p
       |ORDER BY doc_id""".stripMargin
  }

  /** The DSIR replay, shared verbatim by `dsir_weights` (batch fit) and
    * `stream_dsir_score` (frozen λ array applied inside a real streaming
    * execution — the frozen-model law makes the stream score bitwise the
    * batch fit's): positional bigram `hash32 % buckets` seeds with
    * duplicates kept (occurrence distributions), integer bucket counts,
    * quantized add-1-smoothed log-likelihood ratios, quantized per-doc
    * sums. `seeds` is multi-referenced → MATERIALIZED (the classifier
    * oracle lesson).
    */
  private def dsirOracleSql: String =
    s"""WITH wtoks AS MATERIALIZED (
       |  SELECT doc_id, text, $toksSql AS w FROM documents
       |),
       |seeds AS MATERIALIZED (
       |  SELECT doc_id,
       |         ('0x' || substr(md5(array_to_string(w[i:i+${DsirN - 1}], ' ')), 1, 8))::BIGINT % $DsirBuckets AS b
       |  FROM (
       |    SELECT doc_id, w, unnest(generate_series(1, len(w) - ${DsirN - 1})) AS i
       |    FROM wtoks WHERE len(w) >= $DsirN
       |  )
       |),
       |hq AS MATERIALIZED (
       |  SELECT doc_id FROM (
       |    SELECT doc_id,
       |           least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) AS r1,
       |           least((CAST(len(list_filter(w, x -> x IN ($stopList))) AS DOUBLE) / len(w)) * 4.0, 1.0) AS r2,
       |           greatest(1.0 - (CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)) * 5.0, 0.0) AS r3
       |    FROM wtoks WHERE length($norm) > 0
       |  ) WHERE r1 * 0.4 + r2 * 0.3 + r3 * 0.3 >= $QualityCut
       |),
       |rb AS (SELECT b, count(*) AS r FROM seeds GROUP BY b),
       |tb AS (SELECT b, count(*) AS t FROM seeds JOIN hq USING (doc_id) GROUP BY b),
       |tot AS (
       |  SELECT (SELECT count(*) FROM seeds) AS nr,
       |         (SELECT count(*) FROM seeds JOIN hq USING (doc_id)) AS nt
       |),
       |lam AS (
       |  SELECT rb.b,
       |         round(ln(CAST(coalesce(tb.t, 0) + 1 AS DOUBLE) / (tot.nt + $DsirBuckets))
       |             - ln(CAST(rb.r + 1 AS DOUBLE) / (tot.nr + $DsirBuckets)), 6) AS lam
       |  FROM rb LEFT JOIN tb USING (b) CROSS JOIN tot
       |)
       |SELECT s.doc_id,
       |       round(sum(l.lam), 6) AS log_weight,
       |       round(sum(l.lam), 6) > 0 AS selected
       |FROM seeds s JOIN lam l USING (b)
       |GROUP BY s.doc_id
       |ORDER BY s.doc_id""".stripMargin

  /** The lm_perplexity replay ([[LanguageModel.perplexity]]): target =
    * the same `hq` rule-quality pool as DSIR; integer unigram/bigram counts
    * over it; per doc-bigram, the add-1 log-prob quantized BEFORE the sum
    * (in-model → backoff-on-context → out-of-vocab via one coalesce — the
    * later branches are exactly the zero-count rows of the same formula);
    * quantized per-doc sum, one IEEE division for the per-bigram mean, and
    * the corpus-relative below-mean verdict on the re-quantized corpus
    * mean. `wtoks`/`tgt`/`uni`/`bi` are multi-referenced → MATERIALIZED.
    */
  private def lmOracleSql: String =
    s"""WITH wtoks AS MATERIALIZED (
       |  SELECT doc_id, text, $toksSql AS w FROM documents
       |),
       |hq AS MATERIALIZED (
       |  SELECT doc_id FROM (
       |    SELECT doc_id,
       |           least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) AS r1,
       |           least((CAST(len(list_filter(w, x -> x IN ($stopList))) AS DOUBLE) / len(w)) * 4.0, 1.0) AS r2,
       |           greatest(1.0 - (CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)) * 5.0, 0.0) AS r3
       |    FROM wtoks WHERE length($norm) > 0
       |  ) WHERE r1 * 0.4 + r2 * 0.3 + r3 * 0.3 >= $QualityCut
       |),
       |tgt AS MATERIALIZED (
       |  SELECT w FROM wtoks JOIN hq USING (doc_id)
       |),
       |uni AS MATERIALIZED (
       |  SELECT t AS w1, count(*) AS c1
       |  FROM (SELECT unnest(w) AS t FROM tgt) GROUP BY 1
       |),
       |voc AS (SELECT count(*) AS v FROM uni),
       |bi AS MATERIALIZED (
       |  SELECT w[i] AS w1, w[i + 1] AS w2, count(*) AS c2
       |  FROM (
       |    SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
       |    FROM tgt WHERE len(w) >= 2
       |  ) GROUP BY 1, 2
       |),
       |docbi AS (
       |  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
       |  FROM (
       |    SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
       |    FROM wtoks WHERE len(w) >= 2
       |  )
       |),
       |lp AS (
       |  SELECT d.doc_id,
       |         round(coalesce(
       |           ln(CAST(bi.c2 + 1 AS DOUBLE) / (uni.c1 + voc.v)),
       |           ln(1.0 / (uni.c1 + voc.v)),
       |           ln(1.0 / voc.v)), 6) AS lp
       |  FROM docbi d
       |  LEFT JOIN bi USING (w1, w2)
       |  LEFT JOIN uni USING (w1)
       |  CROSS JOIN voc
       |),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_bigrams, round(sum(lp), 6) AS log_prob,
       |         round(-round(sum(lp), 6) / count(*), 6) AS avg_nll
       |  FROM lp GROUP BY doc_id
       |),
       |mstat AS (SELECT round(avg(avg_nll), 6) AS mean_nll FROM agg)
       |SELECT doc_id, n_bigrams, log_prob, avg_nll, mean_nll,
       |       avg_nll < mean_nll AS selected
       |FROM agg CROSS JOIN mstat
       |ORDER BY doc_id""".stripMargin

  /** The BPE training replay, UNROLLED — one (pair-count, argmax, fold)
    * CTE triple per merge round, generated from the same `BpeMerges` the
    * query passes to [[Bpe.trainMerges]]. The oracle DERIVES each round's
    * winning pair itself: integer pair counts weighted by word frequency,
    * argmax tie-broken (count DESC, l, r), then the merge applied by the
    * same greedy-left fold (`list_reduce` over a chr(31)-delimited
    * accumulator == Spark's `aggregate` over the symbol array). `rK`/`bK`
    * are multi-referenced (next round + the tokenize-apply chain) →
    * MATERIALIZED.
    */
  private def bpeCtes: String = {
    val rounds = (1 to BpeMerges).map { k =>
      s"""p$k AS (
         |  SELECT l, r, sum(n) AS c FROM (
         |    SELECT n, syms[i] AS l, syms[i + 1] AS r
         |    FROM (SELECT n, syms, unnest(generate_series(1, len(syms) - 1)) AS i
         |          FROM r${k - 1} WHERE len(syms) >= 2)
         |  ) GROUP BY l, r
         |),
         |b$k AS MATERIALIZED (SELECT l, r, c FROM p$k ORDER BY c DESC, l, r LIMIT 1),
         |r$k AS MATERIALIZED (
         |  SELECT word, n,
         |         string_split(list_reduce(syms, (acc, x) -> CASE
         |           WHEN acc = b.l AND x = b.r THEN b.l || b.r
         |           WHEN ends_with(acc, chr(31) || b.l) AND x = b.r
         |             THEN substr(acc, 1, length(acc) - length(b.l) - 1) || chr(31) || b.l || b.r
         |           ELSE acc || chr(31) || x END), chr(31)) AS syms
         |  FROM r${k - 1} CROSS JOIN b$k b
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH wc AS MATERIALIZED (
       |  SELECT t AS word, count(*) AS n
       |  FROM (SELECT unnest($toksSql) AS t FROM documents)
       |  WHERE length(t) > 0 GROUP BY 1
       |),
       |r0 AS MATERIALIZED (
       |  SELECT word, n,
       |         [substr(word, i, 1) for i in generate_series(1, length(word))] AS syms
       |  FROM wc
       |),
       |$rounds""".stripMargin
  }

  private def bpeTrainOracleSql: String = {
    val union = (1 to BpeMerges).map { k =>
      s"SELECT CAST($k AS BIGINT) AS rank, l, r, l || r AS merged, CAST(c AS BIGINT) AS pair_count FROM b$k"
    }.mkString("\nUNION ALL ")
    s"""$bpeCtes
       |SELECT * FROM (
       |$union
       |) ORDER BY rank""".stripMargin
  }

  /** The b1..bN winners from the SAME derived chain, applied word by word
    * over the corpus (duplicates kept) with the identical fold — a0..aN
    * CTEs carrying `carry` alongside the symbol lists.
    */
  private def bpeApplyCtes(carry: String, wordSrc: Option[String] = None): String = {
    val sel = if (carry.isEmpty) "" else s"$carry, "
    val applies = (1 to BpeMerges).map { k =>
      s"""a$k AS (
         |  SELECT ${sel}string_split(list_reduce(syms, (acc, x) -> CASE
         |           WHEN acc = b.l AND x = b.r THEN b.l || b.r
         |           WHEN ends_with(acc, chr(31) || b.l) AND x = b.r
         |             THEN substr(acc, 1, length(acc) - length(b.l) - 1) || chr(31) || b.l || b.r
         |           ELSE acc || chr(31) || x END), chr(31)) AS syms
         |  FROM a${k - 1} CROSS JOIN b$k b
         |)""".stripMargin
    }.mkString(",\n")
    val src = wordSrc.getOrElse(s"(SELECT ${sel}unnest($toksSql) AS word FROM documents)")
    s"""a0 AS (
       |  SELECT ${sel}[substr(word, i, 1) for i in generate_series(1, length(word))] AS syms
       |  FROM $src
       |  WHERE length(word) > 0
       |),
       |$applies""".stripMargin
  }

  /** bpe_tokenize replay: per-doc word/subword counts after the fold. */
  private def bpeTokenizeOracleSql: String =
    s"""$bpeCtes,
       |${bpeApplyCtes("doc_id")}
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(len(syms)) AS BIGINT) AS n_subwords
       |FROM a$BpeMerges GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** bpe_pack replay: the derived merge chain resegments the corpus, the
    * per-doc subword counts feed the pack_sequences layout arithmetic —
    * tokenizer and packer composed in one replay.
    */
  private def bpePackOracleSql: String =
    s"""$bpeCtes,
       |${bpeApplyCtes("doc_id")},
       |cnts AS (SELECT doc_id, CAST(sum(len(syms)) AS BIGINT) AS n_tokens
       |         FROM a$BpeMerges GROUP BY doc_id),
       |pt AS (
       |  SELECT doc_id,
       |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % $PackShards AS shard,
       |         n_tokens
       |  FROM cnts WHERE n_tokens > 0
       |), ps AS (
       |  SELECT doc_id, shard, n_tokens,
       |         COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
       |  FROM pt
       |)
       |SELECT doc_id, shard, n_tokens, CAST(start_tok AS BIGINT) AS start_tok,
       |       CAST(floor(start_tok / $PackBudget) AS BIGINT) AS seq_in_shard,
       |       CAST(start_tok % $PackBudget AS BIGINT) AS offset_in_seq,
       |       CAST(floor((start_tok + n_tokens - 1) / $PackBudget)
       |            - floor(start_tok / $PackBudget) + 1 AS BIGINT) AS n_seqs
       |FROM ps ORDER BY doc_id""".stripMargin

  /** bpe_encode_ids replay: resegment with word ordinality carried
    * through the fold, mint token ids from the corpus vocabulary
    * (count DESC, subword ASC — the standard frequency-ranked id
    * assignment), and emit the dense per-doc position stream.
    */
  private def bpeEncodeIdsOracleSql: String =
    s"""$bpeCtes,
       |${bpeApplyCtes(
        "doc_id, wpos",
        Some(s"(SELECT doc_id, generate_subscripts($toksSql, 1) AS wpos, unnest($toksSql) AS word FROM documents)"))},
       |enc AS (
       |  SELECT doc_id, wpos, generate_subscripts(syms, 1) AS spos,
       |         unnest(syms) AS subword
       |  FROM a$BpeMerges
       |),
       |ids AS (
       |  SELECT subword,
       |         CAST(row_number() OVER (ORDER BY count(*) DESC, subword) AS BIGINT) AS token_id
       |  FROM enc GROUP BY subword
       |)
       |SELECT e.doc_id,
       |       CAST(row_number() OVER (PARTITION BY e.doc_id ORDER BY e.wpos, e.spos) - 1 AS BIGINT) AS pos,
       |       i.token_id
       |FROM enc e JOIN ids i USING (subword)
       |ORDER BY doc_id, pos""".stripMargin

  /** bpe_decode replay: reconstruct each document's boundary-free character
    * stream from the segmented subwords in (wpos, spos) order and compare
    * to `concat(tokens)` directly — an INDEPENDENT derivation that skips
    * the id round-trip entirely, so the hash equality also proves the
    * Spark side's vocab-join decode is the identity on subwords.
    */
  private def bpeDecodeOracleSql: String =
    s"""$bpeCtes,
       |${bpeApplyCtes(
        "doc_id, wpos",
        Some(s"(SELECT doc_id, generate_subscripts($toksSql, 1) AS wpos, unnest($toksSql) AS word FROM documents)"))},
       |enc AS (
       |  SELECT doc_id, wpos, generate_subscripts(syms, 1) AS spos,
       |         unnest(syms) AS subword
       |  FROM a$BpeMerges
       |),
       |dec AS (
       |  SELECT doc_id, string_agg(subword, '' ORDER BY wpos, spos) AS decoded
       |  FROM enc GROUP BY doc_id
       |),
       |orig AS (
       |  SELECT doc_id, array_to_string($toksSql, '') AS original FROM documents
       |)
       |SELECT d.doc_id, CAST(length(d.decoded) AS BIGINT) AS n_chars,
       |       (d.decoded = o.original) AS lossless,
       |       md5(d.decoded) AS decoded_md5
       |FROM dec d JOIN orig o USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** bpe_vocab replay: the OTHER artifact a tokenizer ships — the subword
    * vocabulary with corpus occurrence counts after all merges.
    */
  private def bpeVocabOracleSql: String =
    s"""$bpeCtes,
       |${bpeApplyCtes("")}
       |SELECT s AS subword, CAST(count(*) AS BIGINT) AS n_occurrences
       |FROM (SELECT unnest(syms) AS s FROM a$BpeMerges)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The kmeans_clusters oracle, UNROLLED: one (assign, recompute) CTE pair
    * per Lloyd iteration, generated from the same (k, iters) constants the
    * query passes to [[Similarity.kmeans]]. Each M-step rounds centroid
    * components to 6 decimals exactly as the engine does — that per-iteration
    * quantization is what keeps two engines' order-sensitive float sums from
    * compounding into divergent assignments (see Similarity.kmeans Scaladoc).
    */
  private def kmeansAssignFrom(cents: String, prefix: String = "", src: String = "e"): String =
    s"""  SELECT vec_id, v, cluster, cos FROM (
       |    SELECT vec_id, v, cluster, cos,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cluster) AS rn
       |    FROM (
       |      SELECT e.vec_id, e.v, $cents.cluster,
       |             list_sum([e.v[i] * $cents.c[i] for i in range(1, len(e.v) + 1)])
       |               / (e.vn * sqrt(list_sum([x * x for x in $cents.c]))) AS cos
       |      FROM ${prefix}$src e CROSS JOIN $cents
       |    )
       |  ) WHERE rn = 1""".stripMargin

  /** The iterative-k-means WITH chain (no final SELECT) — shared by the
    * `kmeans_clusters` oracle and the SemDeDup pair oracle, so the replayed
    * clustering cannot drift between the two. Exposes `en` (raw vectors +
    * norms) and `c$iters` (final centroids); compose with
    * [[kmeansAssignFrom]] for the final assignment.
    */
  /** `prefix` namespaces every CTE so several chains compose in one query
    * (the PQ oracle runs one per subspace); `sliceLo`/`sliceLen` cluster a
    * SUBVECTOR (`r[lo+1 : lo+len]`, DuckDB's 1-based inclusive slicing —
    * matching Spark's `slice(vec, lo+1, len)`) instead of the full vector.
    */
  /** `fitWhere` restricts the FIT (seeding + every M-step) to a subset of
    * the corpus while `e` keeps all vectors — the final assignment can then
    * cover vectors the quantizer never saw, which is exactly what
    * [[graft.operators.Similarity.ivfIndexAppend]] does with an appended
    * ingest batch (frozen centroids, fresh assignment).
    */
  private def kmeansCtesSql(
      k: Int, iters: Int, prefix: String = "", sliceLo: Int = 0, sliceLen: Int = 0,
      fitWhere: String = ""): String = {
    val p = prefix
    val fitSrc = if (fitWhere.isEmpty) "e" else "f"
    val rawExpr =
      if (sliceLen <= 0) "CAST(embedding AS DOUBLE[])"
      else s"(CAST(embedding AS DOUBLE[]))[${sliceLo + 1}:${sliceLo + sliceLen}]"
    val fitCte =
      if (fitWhere.isEmpty) ""
      else s"\n${p}f AS (SELECT * FROM ${p}e WHERE $fitWhere),"
    val head =
      s"""WITH ${p}eraw AS (SELECT vec_id, $rawExpr AS r FROM embeddings),
         |${p}en AS (SELECT vec_id, r, sqrt(list_sum([x * x for x in r])) AS rn FROM ${p}eraw),
         |${p}e0 AS (SELECT vec_id, [x / rn for x in r] AS v FROM ${p}en WHERE rn > 0),
         |${p}e AS (SELECT vec_id, v, sqrt(list_sum([y * y for y in v])) AS vn FROM ${p}e0),$fitCte
         |${p}c0 AS (
         |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cluster, v AS c
         |  FROM ${p}$fitSrc QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= $k
         |)""".stripMargin
    val rounds = (1 to iters).map { t =>
      s"""${p}a$t AS (
         |${kmeansAssignFrom(s"${p}c${t - 1}", p, fitSrc)}
         |),
         |${p}p$t AS (SELECT cluster, v, unnest(generate_series(1, len(v))) AS i FROM ${p}a$t),
         |${p}c$t AS (
         |  SELECT cluster, list(m ORDER BY i) AS c FROM (
         |    SELECT cluster, i, round(avg(v[i]), 6) AS m FROM ${p}p$t GROUP BY cluster, i
         |  ) GROUP BY cluster
         |)""".stripMargin
    }
    (Seq(head) ++ rounds).mkString(",\n")
  }

  /** Shared recall tail for the ANN oracles: expects the preceding chain to
    * expose an `ann` CTE with (query_id, neighbor_id, <score>, rank <= 5);
    * recomputes the exact brute-force top-5 pool over the same queries
    * (vec_id < 10) and corpus, and appends the per-query `n_hit` /
    * `recall_ok` columns exactly as [[graft.operators.Similarity.withRecall]]
    * does — both rankers tie-break on neighbor id, so n_hit replays
    * deterministically and the floor assertion rides the hash compare.
    */
  private def annRecallTailSql(minHits: Int): String =
    s""",
       |bfe AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |bfn AS (SELECT vec_id, v, sqrt(list_sum([x * x for x in v])) AS nrm FROM bfe),
       |bfp AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         list_sum([q.v[i] * c.v[i] for i in range(1, len(q.v) + 1)]) / (q.nrm * c.nrm) AS cos
       |  FROM bfn q JOIN bfn c ON q.vec_id < 10 AND c.vec_id != q.vec_id
       |),
       |bf AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |    FROM bfp
       |  ) WHERE rank <= 5
       |),
       |hit AS (
       |  SELECT a.query_id, count(b.neighbor_id) AS n_hit
       |  FROM ann a LEFT JOIN bf b ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
       |  GROUP BY a.query_id
       |),
       |pool AS (SELECT CAST(sum(n_hit) AS BIGINT) AS pool_hits FROM hit)
       |SELECT a.*, h.n_hit, p.pool_hits, p.pool_hits >= $minHits AS recall_ok
       |FROM ann a JOIN hit h ON a.query_id = h.query_id CROSS JOIN pool p
       |ORDER BY a.query_id, a.rank""".stripMargin

  private def kmeansOracleSql(k: Int, iters: Int): String =
    kmeansCtesSql(k, iters) +
      s"""
         |SELECT vec_id, cluster, round(cos, 6) AS cosine FROM (
         |${kmeansAssignFrom(s"c$iters")}
         |) ORDER BY vec_id""".stripMargin

  /** SemDeDup pair oracle: the same kmeans chain, final assignment as `fin`,
    * then within-cluster pairs exact-verified on the RAW vectors (`en`) with
    * the same left-to-right dot the `dedup_embedding_cosine` oracle uses —
    * so a surviving pair's cosine is bitwise the Spark value.
    */
  private def semdedupOracleSql(k: Int, iters: Int, threshold: Double): String =
    kmeansCtesSql(k, iters) +
      s""",
         |fin AS (
         |${kmeansAssignFrom(s"c$iters")}
         |)
         |SELECT fa.vec_id AS vec_a, fb.vec_id AS vec_b, fa.cluster,
         |       round(list_sum([na.r[i] * nb.r[i] for i in range(1, len(na.r) + 1)])
         |             / (na.rn * nb.rn), 6) AS cosine
         |FROM fin fa
         |JOIN fin fb ON fa.cluster = fb.cluster AND fa.vec_id < fb.vec_id
         |JOIN en na ON na.vec_id = fa.vec_id
         |JOIN en nb ON nb.vec_id = fb.vec_id
         |WHERE list_sum([na.r[i] * nb.r[i] for i in range(1, len(na.r) + 1)])
         |      / (na.rn * nb.rn) >= $threshold
         |ORDER BY vec_a, vec_b""".stripMargin

  /** MinHash signature + band-candidate CTEs, shared by the LSH oracles;
    * expects a `(doc_id, g)` grams relation named `src` in scope
    * ([[gramsCte]]'s `grams` by default — override to index a filtered
    * sub-corpus, e.g. the training pool in `prepare_corpus`).
    */
  private def minhashCandCte(src: String = "grams"): String =
    s"""hashed AS (
       |  SELECT doc_id, ('0x' || substr(md5(unnest(g)), 1, 8))::BIGINT AS h FROM $src
       |),
       |seeds(i, a, b) AS (VALUES $seedsSql),
       |mins AS (
       |  SELECT doc_id, i, min((a * h + b) % 2147483647) AS mh
       |  FROM hashed CROSS JOIN seeds GROUP BY doc_id, i
       |),
       |sigs AS (SELECT doc_id, list(mh ORDER BY i) AS sig FROM mins GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, i // $MhRows AS band,
       |         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS band_key
       |  FROM mins GROUP BY doc_id, i // $MhRows
       |),
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
       |  FROM banded l JOIN banded r ON l.band = r.band AND l.band_key = r.band_key
       |  WHERE l.doc_id < r.doc_id
       |)""".stripMargin

  /** Scoring CTE chain `t` → `t2` → `q(source, doc_id, n_tokens, quality)`
    * shared by the budget-selection oracles — the same staged quality
    * expression the text_stats/curate oracles replay, with empty docs
    * excluded (no tokens to budget; their ratios are 0/0).
    */
  private val budgetScoredCte: String =
    s"""WITH t AS (
       |  SELECT source, doc_id, text, $toksSql AS w FROM documents
       |  WHERE length($norm) > 0
       |), t2 AS (
       |  SELECT source, doc_id, text, w,
       |         CAST(len(w) AS BIGINT) AS n_tokens,
       |         CAST(len(list_filter(w, x -> x IN ($stopList))) AS DOUBLE) / len(w) AS stop_ratio,
       |         CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
       |           / length(text) AS punct_ratio
       |  FROM t
       |), q AS (
       |  SELECT source, doc_id, n_tokens,
       |         round(least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * 0.4
       |             + least(stop_ratio * 4.0, 1.0) * 0.3
       |             + greatest(1.0 - punct_ratio * 5.0, 0.0) * 0.3, 6) AS quality
       |  FROM t2
       |)""".stripMargin

  /** documents → (doc_id[, carry...], lang_guess) with the three-stage
    * staging — tokenize once, project every language score as a REAL column,
    * argmax over the cheap attribute refs (the r2-regression-proof shape
    * PlanSpec locks) — shared by every lang-ID query like [[langGuessCte]]
    * is by every lang-ID oracle, so the two sides can't drift per query.
    */
  private def langGuessed(docs: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val carryCols = carry.map(col)
    val staged = docs.select(
      (col("doc_id") +: carryCols) :+ TextAnalysis.tokens(col("text")).as("toks"): _*)
    val scored = staged.select(
      (col("doc_id") +: carryCols) ++ TextAnalysis.langScores(col("toks")).map {
        case (l, sc) => sc.as(s"s_$l")
      }: _*)
    val scoreRefs = TextAnalysis.LangMarkers.map { case (l, _) => l -> col(s"s_$l") }
    scored.select(
      (col("doc_id") +: carryCols) :+
        TextAnalysis.langIdFromScores(scoreRefs).as("lang_guess"): _*)
  }

  /** documents → (doc_id, bias x0 = 1, the three raw quality signals as
    * features, y = [rule-quality >= QualityCut]) — the feature frame
    * `classifier_quality` trains on. This is the fastText/CCNet cold-start
    * shape: bootstrap labels from the hand-written heuristic (here the
    * [[TextAnalysis.qualityScoreOf]] rule — on a real pipeline, a curated
    * seed corpus), then distill them into a learned linear filter over
    * cheap signals. Empty docs are excluded (their ratios are 0/0), same
    * as the budget oracles. y is computed from the SAME projected feature
    * refs on both sides, so the label replays exactly.
    */
  private def qualityFeatures(docs: DataFrame): DataFrame =
    docs
      .where(length(TextAnalysis.normalize(col("text"))) > 0)
      .select(col("doc_id"), col("text"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        lit(1.0).as("x0"),
        least(length(col("text")).cast("double") / 200.0, lit(1.0)).as("x1"),
        least(TextAnalysis.stopwordRatioOf(col("toks")) * 4.0, lit(1.0)).as("x2"),
        greatest(lit(1.0) - TextAnalysis.punctRatio(col("text")) * 5.0, lit(0.0)).as("x3"))
      .withColumn(
        "y",
        (col("x1") * 0.4 + col("x2") * 0.3 + col("x3") * 0.3 >= QualityCut).cast("double"))

  /** The DSIR target pool: non-empty docs whose UNROUNDED rule-quality
    * clears the cut — shared by the batch fit and the frozen-model
    * streaming score so the two can't drift.
    */
  private def dsirTarget(docs: DataFrame): DataFrame =
    docs
      .where(length(TextAnalysis.normalize(col("text"))) > 0)
      .where(
        TextAnalysis.qualityScoreOf(col("text"), TextAnalysis.tokens(col("text")))
          >= QualityCut)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── text analysis: per-doc stats & quality. Tokenization is projected
    // ONCE into `toks` and every metric reads that column (single-pass). ──
    "text_stats" -> ((s, dir) => {
      val staged = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), TextAnalysis.tokens(col("text")).as("toks"))
      staged.select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(col("toks")).cast("long").as("n_tokens"),
        TextAnalysis.tokenCountBpe(col("text")).cast("long").as("n_tokens_bpe"),
        round(TextAnalysis.avgTokenLenOf(col("toks")), 4).as("avg_token_len"),
        round(TextAnalysis.punctRatio(col("text")), 6).as("punct_ratio"),
        round(TextAnalysis.stopwordRatioOf(col("toks")), 6).as("stopword_ratio"),
        round(TextAnalysis.qualityScoreOf(col("text"), col("toks")), 6).as("quality"))
        .orderBy(col("doc_id"))
    }),

    // ── dictionary (categorical) encoding: dense integer codes for a
    // string column — the feature-engineering step before any numeric
    // model. Codes are rank-in-sorted-order over the DISTINCT values
    // (vocabulary-sized window, not corpus-sized), applied back by a
    // broadcast equi-join; the decode round-trip law rides per row ──
    "dict_encode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val dict = docs.select(col("source")).distinct()
        .withColumn("code",
          (row_number().over(
            org.apache.spark.sql.expressions.Window.orderBy(col("source"))) - 1)
            .cast("long"))
      docs.join(broadcast(dict), Seq("source"))
        .groupBy(col("source"), col("code"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("roundtrip_ok", col("code") >= 0)
        .orderBy(col("code"))
    }),

    // ── feature hashing (the hashing trick): token counts folded into a
    // FIXED 16-bucket space via an md5-derived bucket id — the
    // bounded-width featurization that needs no vocabulary pass at all
    // (Weinberger et al. '09). Engine-neutral hash (md5 prefix, the E-S
    // sampling discipline), exact integer counts; one explode + one
    // two-level aggregate ──
    "feature_hash" -> ((s, dir) =>
      Tables.documents(s, dir)
        .where(col("doc_id") < 100)
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .select(col("doc_id"),
          pmod(conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"),
            lit(16L)).as("bucket"))
        .groupBy(col("doc_id"), col("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("doc_id"), col("bucket"))),

    // ── Gopher-style hard quality rules ([[TextAnalysis.qualityRules]]):
    // the public rule-filter family, each verdict in EXACT integer
    // arithmetic (token band, cross-multiplied mean-length band,
    // punctuation-mass bound, distinct-stopword evidence) — per-rule
    // booleans plus the conjunction, one map-side pass ──
    "quality_rules" -> ((s, dir) => {
      val rules = TextAnalysis.qualityRules(col("text"))
      Tables.documents(s, dir).select(
        col("doc_id") +:
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_words") +:
          rules.map { case (nm, c) => c.as(nm) } :+
          rules.map(_._2).reduce(_ && _).as("pass"): _*)
        .orderBy(col("doc_id"))
    }),

    // ── blocklist screen ([[TextAnalysis.blocklistScreen]]): exact token
    // match against a literal term list — occurrence count + the distinct
    // matched terms as audit evidence, flagged docs only; pure scan, no
    // shuffle ──
    "blocklist_filter" -> ((s, dir) => {
      val (nb, terms) = TextAnalysis.blocklistScreen(
        col("text"), Seq("slow", "hash", "vector"))
      Tables.documents(s, dir)
        .select(col("doc_id"), nb.as("n_blocked"), terms.as("terms"))
        .where(col("n_blocked") >= 1L)
        .orderBy(col("doc_id"))
    }),

    // ── language-ID heuristic. Three stages on purpose: tokenize once, then
    // project every language score as a REAL column (one interpreted filter
    // pass each), then argmax over the cheap attribute refs — embedding the
    // scores inside the when-chain re-evaluates them per branch (the r2
    // single-Column fold was 4× slower than r1 for exactly that reason). ──
    "lang_id" -> ((s, dir) =>
      langGuessed(Tables.documents(s, dir)).orderBy(col("doc_id"))),

    // ── context-window chunking ([[TextAnalysis.chunkDocs]]): disjoint
    // 50-token training chunks per doc, final partial kept; chunk content
    // fingerprinted so the oracle hash-compares without shipping text ──
    "chunk_docs" -> ((s, dir) =>
      TextAnalysis.chunkDocs(
        Tables.documents(s, dir), chunkTokens = ChunkTokens, stride = ChunkTokens)
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // ── passage-level exact dedup: chunk the corpus on the context-window
    // grid and group chunk fingerprints corpus-wide — repeated PASSAGES
    // (boilerplate headers, license blocks, templated sections) that
    // doc-level dedup misses because the surrounding text differs ──
    "dedup_chunks" -> ((s, dir) =>
      TextAnalysis.chunkDocs(
        Tables.documents(s, dir), chunkTokens = ChunkTokens, stride = ChunkTokens)
        .groupBy(col("chunk_fp"))
        .agg(
          count(lit(1)).as("n_copies"),
          countDistinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("keep_doc"))
        .where(col("n_copies") >= 2)
        .orderBy(col("chunk_fp"))),

    // ── the TRANSFORM dedup_chunks only reports ([[TextAnalysis
    // .stripHotChunks]], the C4 boilerplate rule at chunk granularity):
    // corpus-hot chunks stripped from every document, documents
    // reassembled from surviving chunks in order — clean_fp hashes the
    // rebuilt text, so one reordered or double-kept chunk fails the gate ──
    "boilerplate_strip" -> ((s, dir) =>
      TextAnalysis.stripHotChunks(
        Tables.documents(s, dir), chunkTokens = ChunkTokens, maxCopies = 1L)),

    // ── corpus diversity report: distinct-n ratios per source (distinct
    // vs total 1/2/3-gram occurrences over the md5 gram hashes) — the
    // templated/generated-content signal (low distinct-2/3 ratio = the
    // corpus repeats itself); one codegen'd gram pass per n, a
    // (source × 3)-row output whatever the corpus size ──
    "diversity_stats" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      def grams(n: Int) = docs.select(
        col("source"),
        explode(graft.functions.TextKernels
          .orderedGramHashesCol(TextAnalysis.tokens(col("text")), n)).as("h"))
        .withColumn("n", lit(n.toLong))
      grams(1).unionByName(grams(2)).unionByName(grams(3))
        .groupBy(col("source"), col("n"))
        .agg(
          count(lit(1)).as("total_grams"),
          countDistinct(col("h")).as("distinct_grams"))
        .withColumn(
          "distinct_ratio",
          round(col("distinct_grams").cast("double") / col("total_grams"), 6))
        .orderBy(col("source"), col("n"))
    }),

    // ── repetition stats ([[TextAnalysis.repetitionScores]]): per-doc
    // total/distinct 3-gram counts and the top gram's multiplicity in one
    // codegen'd map-side pass; the integer-only flag marks docs whose top
    // gram covers >= 20% of all grams (boilerplate / generation loops) ──
    "repetition_stats" -> ((s, dir) =>
      TextAnalysis.repetitionScores(Tables.documents(s, dir), n = GramN)
        .withColumn("is_repetitive", col("top_count") * 5 >= col("n_grams"))
        .orderBy(col("doc_id"))),

    // ── full BPE TRAINING loop ([[Bpe.trainMerges]]): one corpus-scale
    // word count, then per round a vocab-scale weighted pair aggregation,
    // a 1-row argmax collect, and a map-side greedy-left merge fold — the
    // ranked merge table a tokenizer ships. The oracle DERIVES each
    // round's winning pair itself (unrolled CTEs, list_reduce fold) ──
    "bpe_train" -> ((s, dir) => {
      import s.implicits._
      Bpe.trainMerges(Tables.documents(s, dir), BpeMerges)
        .toDF().select(
          col("rank"), col("l"), col("r"), col("merged"),
          col("count").as("pair_count"))
        .orderBy(col("rank"))
    }),

    // ── the trained tokenizer APPLIED ([[Bpe.tokenCol]]): the frozen merge
    // table as plan literals, every word re-segmented by the same
    // greedy-left folds, per-doc word/subword counts — the consumer path
    // (train → freeze → tokenize) in one verifiable query ──
    "bpe_tokenize" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = Bpe.trainMergesLocal(docs, BpeMerges)
      docs
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("word"))
        .where(length(col("word")) > 0)
        .select(col("doc_id"),
          size(Bpe.tokenKernelCol(col("word"), merges)).cast("long").as("ns"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("ns")).as("n_subwords"))
        .orderBy(col("doc_id"))
    }),

    // ── the END-TO-END trainer feed: text → TRAINED tokenizer → packed
    // training sequences in one plan. Per-doc subword counts from the
    // frozen BPE merges (the codegen'd kernel) drive [[Packing.packLayout]]
    // — the real-tokenizer composition the whitespace-proxy pack_sequences
    // stands in for; the oracle rederives the merges, resegments, and
    // replays the layout arithmetic ──
    "bpe_pack" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = Bpe.trainMergesLocal(docs, BpeMerges)
      val counts = docs
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("word"))
        .where(length(col("word")) > 0)
        .select(col("doc_id"),
          size(Bpe.tokenKernelCol(col("word"), merges)).cast("long").as("ns"))
        .groupBy(col("doc_id"))
        .agg(sum(col("ns")).as("n_tokens"))
      Packing.packLayout(counts, PackBudget, PackShards)
        .orderBy(col("doc_id"))
    }),

    // ── the trainer-consumable encoding: every document as its dense
    // stream of INTEGER token ids — subwords from the frozen merges
    // (codegen'd kernel), ids minted from the corpus vocabulary by the
    // standard frequency-ranked assignment (count DESC, subword ASC; a
    // VOCAB-scale global window — metadata-sized, same class as the BPE
    // trainer's argmax), positions dense per doc over (word, subword)
    // order. The id table broadcasts into the corpus-scale join ──
    "bpe_encode_ids" -> ((s, dir) =>
      bpeIdStream(s, dir)._1.orderBy(col("doc_id"), col("pos"))),

    // ── BPE DECODE + round-trip audit ([[Bpe.decodeIds]]): the encoded id
    // stream joined back through the vocabulary and concatenated in pos
    // order must reconstruct each document's character stream EXACTLY
    // (merges only concatenate, so decode is lossless; the vocab carries
    // no end-of-word marker, so the target is the boundary-free
    // `concat(tokens)`). The `lossless` law column rides every row and the
    // oracle asserts it TRUE — the self-validating discipline ──
    "bpe_decode" -> ((s, dir) => {
      val (stream, vocab) = bpeIdStream(s, dir)
      val decoded = Bpe.decodeIds(stream, vocab)
      val orig = Tables.documents(s, dir).select(
        col("doc_id"),
        concat_ws("", TextAnalysis.tokens(col("text"))).as("original"))
      decoded.join(orig, "doc_id")
        .select(
          col("doc_id"),
          length(col("decoded")).cast("long").as("n_chars"),
          (col("decoded") === col("original")).as("lossless"),
          md5(col("decoded")).as("decoded_md5"))
        .orderBy(col("doc_id"))
    }),

    // ── the shipped tokenizer's OTHER artifact: the subword vocabulary
    // with corpus occurrence counts after all merges — segmentation via
    // the codegen'd kernel, one explode + one count shuffle ──
    "bpe_vocab" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = Bpe.trainMergesLocal(docs, BpeMerges)
      docs
        .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
        .where(length(col("word")) > 0)
        .select(explode(Bpe.tokenKernelCol(col("word"), merges)).as("subword"))
        .groupBy(col("subword"))
        .agg(count(lit(1)).as("n_occurrences"))
        .orderBy(col("subword"))
    }),

    // ── BPE trainer statistics kernel ([[TextAnalysis.bpePairCounts]]):
    // corpus-wide adjacent character-pair counts within whitespace tokens —
    // the merge-selection scan of a distributed BPE tokenizer trainer's
    // first iteration. Map-side explode, |alphabet|²-bounded partial agg,
    // top-k as TakeOrderedAndProject. ──
    "bpe_pair_counts" -> ((s, dir) =>
      TextAnalysis.bpePairCounts(Tables.documents(s, dir), topK = BpeTopK)),

    // ── lang-ID evaluation: confusion matrix of the marker heuristic's
    // guess against the corpus's ground-truth `lang` column — the accuracy
    // report a pipeline publishes alongside any heuristic classifier ──
    "lang_id_confusion" -> ((s, dir) =>
      langGuessed(Tables.documents(s, dir), carry = Seq("lang"))
        .groupBy(col("lang"), col("lang_guess"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("lang_guess"))),

    // ── exact dedup on fingerprints (corpus doubled to plant exact dups) ──
    "dedup_exact" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val doubled = docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 1000000))
      Dedup.exactGroups(doubled).orderBy(col("fingerprint"))
    }),

    // ── winnowing fingerprints (MOSS): ordered gram hashes → sliding-window
    // minima → distinct selected hashes, one row per (doc, fingerprint) ──
    "fingerprint_winnow" -> ((s, dir) =>
      Dedup.winnowFingerprints(Tables.documents(s, dir), n = WinnowN, window = WinnowW)
        .select(col("doc_id"), explode(col("fps")).as("fp"))
        .orderBy(col("doc_id"), col("fp"))),

    // ── MOSS-style overlap pairs: docs sharing >= 2 winnow prints, with
    // the shared count — the containment detector (copied passages in
    // otherwise-dissimilar docs) complementing whole-doc Jaccard ──
    "dedup_winnow_overlap" -> ((s, dir) =>
      Dedup.winnowOverlapPairs(
        Tables.documents(s, dir), minShared = 2, n = WinnowN, window = WinnowW)
        .orderBy(col("doc_a"), col("doc_b"))),

    // ── similarity-graph centrality: integer-arithmetic damped PageRank
    // over the winnow overlap graph ([[GraphRank.pagerank]]) — global
    // evidence for representative selection; all state is 64-bit integer,
    // so the oracle's unrolled CTE chain replays every iteration BITWISE ──
    "doc_pagerank" -> ((s, dir) => {
      // lineage-truncate the winnow join once (the graph_sssp discipline):
      // the rank loop's wsum+join legs otherwise re-run it per consumer
      val pairs0 = Dedup.winnowOverlapPairs(
        Tables.documents(s, dir), minShared = 2, n = WinnowN, window = WinnowW)
      val pairs = Dedup.durableBy(pairs0, None)(pairs0)
      GraphRank.pagerank(pairs, iters = PrIters, scale = PrScale, num = PrNum, den = PrDen)
        .orderBy(col("doc_id"))
    }),

    // ── triangle census ([[GraphRank.triangleStats]]): per-node triangle
    // counts + integer-ppm local clustering over the SAME winnow graph —
    // clique-vs-hub cohesion, the curation signal centrality alone can't
    // give. Canonical a<b<c enumeration, two equi-joins, bitwise replay ──
    "doc_triangles" -> ((s, dir) => {
      // lineage-truncate the winnow join once: the census reads the edge
      // set from three join legs plus the degree pass
      val pairs0 = Dedup.winnowOverlapPairs(
        Tables.documents(s, dir), minShared = 2, n = WinnowN, window = WinnowW)
      GraphRank.triangleStats(Dedup.durableBy(pairs0, None)(pairs0))
    }),

    // ── WEIGHTED shortest paths over the winnow graph ([[GraphRank
    // .shortestPaths]]): synchronous Bellman-Ford rounds from the
    // SsspSeeds smallest graph nodes, edge cost the all-integer
    // `1e6 div n_shared` (more shared prints = cheaper hop); convergence
    // is certified by (count, sum) equality between the last two rounds —
    // monotone distances make that reduction sound — and the oracle
    // re-derives it from its own unrolled rounds ──
    "graph_sssp" -> ((s, dir) => {
      val pairs0 = Dedup.winnowOverlapPairs(
        Tables.documents(s, dir), minShared = 2, n = WinnowN, window = WinnowW)
      val pairs = Dedup.durableBy(pairs0, None)(pairs0)
      val seeds = pairs.select(col("doc_a").as("node"))
        .unionByName(pairs.select(col("doc_b").as("node"))).distinct()
        .orderBy(col("node")).limit(SsspSeeds)
        .collect().map(_.getLong(0)).toSeq
      GraphRank.shortestPaths(pairs, seeds,
        expr("1000000 div n_shared"), maxHops = SsspHops)
    }),

    // ── Newman MODULARITY of the near-dup partition ([[GraphRank
    // .modularity]]): how community-like the connected components are on
    // the weighted winnow graph — exact integer q_num per community over
    // the implied (2m)² denominator, no float and no floor division in
    // the hashed output; membership replayed by the oracle's recursive
    // reachability, the mass terms by plain joins ──
    "graph_modularity" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs0 = Dedup.winnowOverlapPairs(
        docs, minShared = 2, n = WinnowN, window = WinnowW)
      val pairs = Dedup.durableBy(pairs0, None)(pairs0)
      val membership = Dedup.connectedComponents(docs, pairs)
        .select(col("doc_id"), col("component_id"))
      GraphRank.modularity(pairs, membership, col("n_shared"))
    }),

    // ── k-CORE of the winnow similarity graph ([[GraphRank.kCore]]):
    // iterative peeling until the fixpoint — removals CASCADE (a node
    // dies because its dead neighbors no longer count), which one
    // HAVING-degree pass cannot express; the oracle unrolls the peel
    // rounds and re-derives convergence independently, so both the
    // surviving set AND the fixpoint claim are hash-checked ──
    "graph_kcore" -> ((s, dir) =>
      GraphRank.kCore(Dedup.winnowOverlapPairs(
        Tables.documents(s, dir), minShared = 2, n = WinnowN, window = WinnowW),
        k = KcoreK)),

    // ── LABEL-PROPAGATION COMMUNITIES ([[GraphRank.labelPropagation]],
    // deterministic synchronous LPA with min-label tie-break, FOUR fixed
    // rounds): the dense-region partition of the winnow similarity graph
    // — where components answer connectivity and modularity scores a
    // given partition, LPA produces the partition. The oracle unrolls
    // the four rounds as MATERIALIZED CTEs (the k-core replay
    // discipline), so every intermediate labeling is replayed exactly ──
    "graph_lpa" -> ((s, dir) =>
      GraphRank.labelPropagation(
        Dedup.winnowOverlapPairs(
          Tables.documents(s, dir), minShared = 2, n = WinnowN, window = WinnowW),
        iters = 4)
        .groupBy(col("lbl").as("community"))
        .agg(
          count(lit(1)).as("n_members"),
          min(col("node")).as("min_member"),
          max(col("node")).as("max_member"))
        .orderBy(col("community"))),

    // ── THREE-MODALITY seed expansion: wording (BM25 on the seed's own
    // tokens) + semantics (exact cosine) + similarity-graph reachability
    // (personalized PageRank, ONE batched multi-seed run — a doc two hops
    // of near-dup away scores even when it shares neither vocabulary nor
    // embedding direction with the seed), fused by the same integer RRF; seeds =
    // the PprSeeds smallest graph nodes so all three rankers rank the
    // same deterministic seed set at every SF ──
    "hybrid_trimodal" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs0 = Dedup.winnowOverlapPairs(
        docs, minShared = 2, n = WinnowN, window = WinnowW)
      val pairs = Dedup.durableBy(pairs0, None)(pairs0)
      val seeds = pairs.select(col("doc_a").as("node"))
        .unionByName(pairs.select(col("doc_b").as("node"))).distinct()
        .orderBy(col("node")).limit(PprSeeds)
        .collect().map(_.getLong(0)).toSeq
      Retrieval.trimodalSeedExpand(
        docs, Tables.embeddings(s, dir), pairs, seeds,
        k = 10, poolK = 100, pprIters = PrIters, pprScale = PrScale)
        .orderBy(col("seed_id"), col("rank"))
    }),

    // ── BFS hop distances ([[GraphRank.hopDistances]]) from the same
    // deterministic seed set over the winnow similarity graph — metric
    // reachability ("how many near-dup hops away?") next to components'
    // "same cluster?" and PPR's proximity mass. Iterative min-relaxation,
    // one keyed join+agg per hop; oracle is the textbook recursive-CTE
    // BFS, an INDEPENDENT formulation of the same levels ──
    "bfs_hops" -> ((s, dir) => {
      val pairs0 = Dedup.winnowOverlapPairs(
        Tables.documents(s, dir), minShared = 2, n = WinnowN, window = WinnowW)
      val pairs = Dedup.durableBy(pairs0, None)(pairs0)
      val seeds = pairs.select(col("doc_a").as("node"))
        .unionByName(pairs.select(col("doc_b").as("node"))).distinct()
        .orderBy(col("node")).limit(PprSeeds)
        .collect().map(_.getLong(0)).toSeq
      GraphRank.hopDistances(pairs, seeds, maxHops = BfsMaxHops)
    }),

    // ── graph-structural seed expansion: PERSONALIZED PageRank — the
    // teleport mass returns only to the seed docs (the PprSeeds smallest
    // graph nodes, deterministic at every SF), so rank = similarity-graph
    // proximity to the seed set; the third "more docs like these" route
    // next to the lexical and dense rankers, same bitwise integer replay ──
    "seed_ppr" -> ((s, dir) => {
      val pairs0 = Dedup.winnowOverlapPairs(
        Tables.documents(s, dir), minShared = 2, n = WinnowN, window = WinnowW)
      val pairs = Dedup.durableBy(pairs0, None)(pairs0)
      val seeds = pairs.select(col("doc_a").as("node"))
        .unionByName(pairs.select(col("doc_b").as("node"))).distinct()
        .orderBy(col("node")).limit(PprSeeds)
        .collect().map(_.getLong(0)).toSeq
      GraphRank.personalizedPagerank(
        pairs, seeds, iters = PrIters, scale = PrScale, num = PrNum, den = PrDen)
        .orderBy(col("doc_id"))
    }),

    // ── canonical-document selection by GLOBAL graph evidence: connected
    // components over the winnow graph joined with the integer PageRank —
    // each duplicate cluster keeps its most CENTRAL member (argmax rank,
    // ties to the smaller id) instead of the arbitrary min-id rule. The
    // pair frame is lineage-truncated ONCE and shared by both consumers,
    // so the winnow join runs once, not twice ──
    "dedup_canonical_rank" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs0 = Dedup.winnowOverlapPairs(
        docs, minShared = 2, n = WinnowN, window = WinnowW)
      val pairs = Dedup.durableBy(pairs0, None)(pairs0)
      val nodes = pairs.select(col("doc_a").as("doc_id"))
        .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
      val comps = Dedup.connectedComponents(nodes, pairs)
      val ranks = GraphRank.pagerank(
        pairs, iters = PrIters, scale = PrScale, num = PrNum, den = PrDen)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("component_id")).orderBy(col("rank").desc, col("doc_id"))
      comps.join(ranks, "doc_id")
        .withColumn("rn", row_number().over(w))
        .withColumn("n_members",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("component_id"))))
        .where(col("rn") === 1)
        .select(
          col("component_id"), col("doc_id").as("canonical_doc_id"),
          col("n_members"), col("rank").as("canonical_rank"))
        .orderBy(col("component_id"))
    }),

    // ── near-dup: exact n-gram Jaccard >= 0.3 via lossless prefix filter ──
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), threshold = 0.3)
        .orderBy(col("doc_a"), col("doc_b"))),

    // ── pairs → groups: connected components over the exact Jaccard pairs
    // (min-label propagation; every doc labeled with the min reachable id) ──
    "dedup_components" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.connectedComponents(docs, Dedup.ngramJaccardPairs(docs, threshold = 0.3))
        .orderBy(col("doc_id"))
    }),

    // ── same pairs → groups via the large-star/small-star contraction
    // (O(log²n) rounds vs O(diameter)) — result identical by construction,
    // proven here against the same recursive-CTE oracle ──
    "dedup_components_star" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.connectedComponentsStar(docs, Dedup.ngramJaccardPairs(docs, threshold = 0.3))
        .orderBy(col("doc_id"))
    }),

    // ── the end-to-end curation pipeline ([[operators.Curation]]): keep docs
    // that are (a) decent quality, (b) English by the marker heuristic, and
    // (c) the min-doc-id representative of their near-dup component AMONG
    // the members passing (a)+(b) — a junk min-id twin can't vanish its
    // whole cluster. This variant resolves near-dups through the LOSSLESS
    // exact-Jaccard pair generator — the ground-truth configuration ──
    "curate_corpus" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Curation.curateCorpus(docs, Dedup.ngramJaccardPairs(docs, threshold = 0.3))
        .orderBy(col("doc_id"))
    }),

    // ── the same pipeline routed through the MinHash band candidates — the
    // 100 TB configuration: candidate volume stays O(true-ish pairs) where
    // the lossless prefix filter degenerates at low thresholds. Recall on
    // the component graph is approximate, but every candidate is
    // exact-verified and the banding is deterministic, so the oracle
    // replays it bit-for-bit ──
    "curate_corpus_mh" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Curation.curateCorpus(
        docs, Dedup.ngramJaccardPairsViaMinhash(docs, threshold = 0.3, bands = MhBands))
        .orderBy(col("doc_id"))
    }),

    // ── the COMPLETE training-data preparation pipeline, end to end in one
    // plan: hold out an eval set (doc_id % 50 == 0), curate the training
    // pool (quality + lang + near-dup survivor representative, candidates
    // via the MinHash band route — the 100 TB configuration), drop docs
    // contaminated by the eval set (broadcast gram-index anti-join), then
    // assign deterministic train/val/test hash splits. Every stage is an
    // operator exercised alone elsewhere; this is their composition — the
    // query a real corpus actually runs.
    // At-scale note: declared as one lazy plan, the tokenize/shingle scan
    // is recomputed per leg (MinHash index, Jaccard verify, decon probe) —
    // free at sf0.1, but at 100 TB persist Dedup.shingles(train) (or
    // checkpoint the curated frame) so the corpus is read once per
    // materialization, not once per leg; the operators all accept the
    // cached frame unchanged ──
    "prepare_corpus" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val train = docs.where(col("doc_id") % 50 =!= 0)
      val evalSet = docs.where(col("doc_id") % 50 === 0)
      val kept = Curation.curateCorpus(
        train, Dedup.ngramJaccardPairsViaMinhash(train, threshold = 0.3, bands = MhBands))
      val flagged = Dedup.contaminationReport(
        train, evalSet, minShared = DeconMinShared, n = GramN).select(col("doc_id"))
      val clean = kept.join(flagged, Seq("doc_id"), "left_anti")
      Sampling.withHashSplit(
        clean, "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("split"))
        .agg(
          count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy(col("split"))
    }),

    // ── GROUP-AWARE K-FOLD ([[Sampling.groupKFold]] — the
    // cross-validation split a grouped dataset needs): every order of one
    // customer lands in the SAME fold (no train/validation leakage
    // within a group), folds EXACTLY balanced by group count — groups
    // rank by a seeded md5 hash (total order, ties by key) and
    // fold = (rank−1) mod k, so fold sizes differ by at most one GROUP
    // (`folds_balanced_by_group`, measured). One group-keyed distinct +
    // one broadcast-back join; the ranking shuffles group-count rows,
    // never order rows ──
    "group_kfold" -> ((s, dir) => {
      val orders = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      val out = Sampling.groupKFold(orders, col("o_custkey"), k = 5, seed = "kf-r12")
      val spread = out.select(col("o_custkey"), col("fold")).distinct()
        .groupBy(col("fold")).count()
        .agg(max(col("count")) - min(col("count"))).head().getLong(0)
      out.groupBy(col("fold"))
        .agg(
          count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_groups"),
          sum(col("o_orderkey")).as("sum_key"))
        .withColumn("folds_balanced_by_group", lit(spread <= 1L))
        .orderBy(col("fold"))
    }),

    // ── near-dup candidates: MinHash signatures + LSH banding (bands passed
    // explicitly from the same MhBands constant the oracle interpolates) ──
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairs(Tables.documents(s, dir), bands = MhBands)
        .orderBy(col("doc_a"), col("doc_b"))),

    // ── edit-distance near-dup ([[Dedup.editDistancePairs]]): band
    // candidates verified by Levenshtein with the length-difference prune —
    // the typo/minor-revision duplicate class Jaccard dilutes; both
    // engines run the same textbook DP so the pair set replays exactly ──
    "dedup_edit_distance" -> ((s, dir) =>
      Dedup.editDistancePairs(Tables.documents(s, dir), maxDist = EditMaxDist, bands = MhBands)
        .orderBy(col("doc_a"), col("doc_b"))),

    // ── n-gram Jaccard routed through MinHash band candidates — the scale
    // route for low thresholds where lossless prefix filtering degenerates;
    // approximate recall, but every emitted pair is exact-verified and the
    // candidate set is deterministic, so the oracle replays it exactly ──
    "dedup_ngram_jaccard_mh" -> ((s, dir) =>
      Dedup.ngramJaccardPairsViaMinhash(Tables.documents(s, dir), threshold = 0.3, bands = MhBands)
        .orderBy(col("doc_a"), col("doc_b"))),

    // ── incremental admission dedup ([[Dedup.incrementalDedupReport]]): the
    // continuous-ingest shape — a hash-split "new batch" (~20%) probed
    // against the "existing corpus" band index plus earlier batch-mates;
    // one verdict row per new doc (n_dups, smallest dup partner). Candidate
    // cost scales with the batch, never corpus². ──
    "dedup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val u = Sampling.hashUniform(col("doc_id"))
      Dedup.incrementalDedupReport(
        docs.where(u < IncCorpusFrac), docs.where(u >= IncCorpusFrac),
        threshold = IncThreshold, bands = MhBands)
        .orderBy(col("doc_id"))
    }),

    // ── asymmetric containment ([[Dedup.containmentPairs]]): docs whose
    // gram set is >= 80% inside another doc's — the excerpt/quote/wrapper
    // duplicate class Jaccard's union denominator dilutes away ──
    "dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(Tables.documents(s, dir), threshold = ContainThreshold)
        .orderBy(col("doc_a"), col("doc_b"))),

    // ── learned quality filter ([[Classifier.trainLogreg]]): logistic
    // regression distilling the rule-based quality labels into weights over
    // the raw signals — standardized features, deterministic full-batch GD
    // (per-iteration 6-decimal weight quantization, the kmeans oracle
    // trick), scored by the raw margin (sign(w·x), no transcendentals at
    // inference) ──
    "classifier_quality" -> ((s, dir) => {
      // persist the RAW feature frame (the regex-heavy extraction), not the
      // standardized one: the standardize stats pass doubles as the cache
      // fill, so the corpus scan runs once for stats + all GD iterations
      // instead of once for stats and once more to fill the std cache
      val raw = qualityFeatures(Tables.documents(s, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (std, w) =
        try {
          val (stdF, _) = Classifier.standardize(raw, LrFeatCols.tail)
          (stdF, Classifier.trainLogreg(stdF, LrFeatCols, "y", LrIters, LrRate))
        } finally raw.unpersist(blocking = false)
      val z = Classifier.margin(LrFeatCols, w.toSeq)
      std
        .select(
          col("doc_id"),
          round(z, 6).as("margin"),
          (z > lit(0.0)).as("pred"),
          col("y").cast("long").as("label"))
        .orderBy(col("doc_id"))
    }),

    // ── EXACT AUC ([[Analytics.aucExact]]): how well the LENGTH signal
    // alone (n_words, integer) ranks the full Gopher rule verdict — the
    // feature-importance readout a filter-design pass wants next to
    // classifier_quality (which evaluates the LEARNED combination). Label
    // and score are both exact integers, so the rank statistic replays
    // bitwise; AUC rides as the (num, den) pair plus floor-ppm ──
    "classifier_auc" -> ((s, dir) => {
      val rules = TextAnalysis.qualityRules(col("text"))
      val scored = Tables.documents(s, dir).select(
        rules.map(_._2).reduce(_ && _).cast("long").as("pass"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_words"))
      Analytics.aucExact(scored, col("pass"), col("n_words"))
    }),

    // ── exact-substring duplicated spans ([[Dedup.duplicatedSpans]]):
    // maximal per-doc token spans covered by L-grams occurring >= minOcc
    // times corpus-wide — the span-cutting dedup of Lee et al., in its
    // distributed seed-and-merge shape ──
    "dedup_substr_spans" -> ((s, dir) =>
      Dedup.duplicatedSpans(Tables.documents(s, dir), l = SubstrL, minOcc = SubstrMinOcc)
        .orderBy(col("doc_id"), col("span_start"))),

    // ── provenance analysis: near-dup pair counts BETWEEN sources — which
    // feeds copy from which. MinHash pairs (est >= 0.5, the
    // stream_neardup threshold) joined to each side's source and counted;
    // the matrix a corpus audit publishes before deciding source weights ──
    "dedup_source_matrix" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val src = docs.select(col("doc_id"), col("source"))
      Dedup.minhashLshPairs(docs, bands = MhBands)
        .where(col("est_jaccard") >= 0.5)
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("source_a")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("source_b")), "doc_b")
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("source_a"), col("source_b"))
    }),

    // ── split-leakage audit: after the deterministic hash split, which
    // TRAIN docs share >= 2 grams with any TEST doc — the n-gram leakage
    // check run on the split itself (same machinery as benchmark
    // decontamination, aimed at the pipeline's own held-out tail) ──
    "split_leakage" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val u = Sampling.hashUniform(col("doc_id"))
      Dedup.contaminationReport(
        docs.where(u < 0.8), docs.where(u >= 0.9),
        minShared = DeconMinShared, n = GramN)
        .orderBy(col("doc_id"))
    }),

    // ── the FIX for what split_leakage detects: split at the NEAR-DUP
    // COMPONENT level, so a document and its near-duplicates always land
    // in the SAME split — assigning per doc lets twins straddle
    // train/test, the classic eval-inflation leak. Components come from
    // the 100 TB candidate route (MinHash bands → exact-Jaccard verify →
    // min-label propagation); the split is the same md5-threshold
    // assignment as prepare_corpus, keyed by component id. The
    // `naive_leaky_components` column measures how many components a
    // doc-keyed split WOULD have torn across splits — the leak this
    // operator closes, quantified in its own output ──
    "split_component_safe" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val comp = Dedup.connectedComponents(docs,
        Dedup.ngramJaccardPairsViaMinhash(docs, threshold = 0.3, bands = MhBands))
      val safe = Sampling.withHashSplit(
        comp, "component_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      val naiveLeaky = Sampling.withHashSplit(
        comp, "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
        splitCol = "nsplit")
        .groupBy(col("component_id"))
        .agg(countDistinct(col("nsplit")).as("ns"))
        .where(col("ns") > 1)
        .agg(count(lit(1)).as("naive_leaky_components"))
      safe.groupBy(col("split"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("component_id")).as("n_components"))
        .crossJoin(broadcast(naiveLeaky))
        .orderBy(col("split"))
    }),

    // ── per-source data card: the corpus-composition summary published
    // with a dataset — doc/token volume, language mix, exact-dup rate
    // (distinct fingerprints), and the quality distribution with the sum
    // carried in integer micro-units (floor(q·1e6): cross-engine safe,
    // DuckDB's double→int CAST rounds where Spark truncates). Empty docs
    // are excluded (their quality ratios are 0/0). ──
    "corpus_datacard" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .where(length(TextAnalysis.normalize(col("text"))) > 0)
      val lang = langGuessed(docs, carry = Seq("source"))
      val scored = docs
        .select(col("doc_id"), col("text"), TextAnalysis.tokens(col("text")).as("toks"))
        .select(
          col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          round(TextAnalysis.qualityScoreOf(col("text"), col("toks")), 6).as("quality"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
      lang.join(scored, "doc_id")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(when(col("lang_guess") === "en", 1L).otherwise(0L)).as("n_en_docs"),
          countDistinct(col("fp")).as("n_distinct_fp"),
          sum(floor(col("quality") * lit(1e6)).cast("long")).as("q_micro_sum"),
          min(col("quality")).as("q_min"),
          max(col("quality")).as("q_max"))
        .orderBy(col("source"))
    }),

    // ── near-dup: 60-bit SimHash, hamming <= 6. The minimal 7-block index
    // fits THIS corpus: it is near-dup-dense, so candidate volume is
    // combos × true-pairs and the 7-way index beats the wider 9-block one
    // (measured 4.7 s vs 14.2 s at sf0.1). On a sparse corpus the n²/2^width
    // collision term dominates instead and nBlocks=9 (C(9,3)=84 tables,
    // ~20-bit keys, ~n²/12500) is the right setting — both come from the
    // same lossless combination index; see Dedup.simhashPairs Scaladoc and
    // DedupSpec's 7-vs-9 equivalence test. ──
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(Tables.documents(s, dir), maxHamming = 6, nBlocks = 7)
        .orderBy(col("doc_a"), col("doc_b"))),

    // ── perceptual image dedup on DECODED PIXELS: synthesize a real
    // uncompressed PPM per doc ([[Multimodal.withPpmPayload]] — groups of
    // four variants of one base picture), dHash it through the codegen'd
    // parser ([[graft.functions.ImageKernels]]: luminance → 9×8 pooled grid
    // → 64 adjacent-cell comparison bits), then banded Hamming pairs
    // ([[Dedup.hashBandPairs]], 4×16 bands — LOSSLESS for hamming ≤ 3 by
    // pigeonhole, so the banded route IS the exact pair set). The oracle
    // recomputes the luminance field from the generative formula and
    // replays pool/compare/band arithmetically — two independent
    // implementations, decode bugs hash-fail ──
    // ── REAL PIXEL RESIZE ([[graft.functions.ImageKernels
    // .ppmPooledGrid]]): decode the PPM raster and average-pool it onto
    // the 9×8 grid — the resize step of the multimodal pipeline exposed
    // as a first-class feature (exact block SUMS, so the grid replays
    // bitwise; the dHash consumes this same grid one step further).
    // Hashed per doc as fingerprint + exact aggregates of the 72 cells ──
    // ── REAL AUDIO FRAME-SAMPLE ([[graft.functions.AudioKernels
    // .wavEnergyEnvelope]]): decode the 16-bit PCM raster and emit the
    // 65-window energy ENVELOPE as a first-class feature — what loudness
    // normalization, silence trimming, and the perceptual hash all read.
    // Exact integer energies, hashed per doc as fingerprint + aggregates ──
    "mm_audio_envelope" -> ((s, dir) => {
      Multimodal.withWavPayload(Tables.documents(s, dir).select(col("doc_id")))
        .select(col("doc_id"),
          graft.functions.AudioKernels.wavEnvelopeCol(col("payload")).as("env"))
        .select(col("doc_id"),
          md5(concat_ws(" ", transform(col("env"), _.cast("string"))))
            .as("env_fp"),
          aggregate(col("env"), lit(0L), _ + _).as("env_sum"),
          array_min(col("env")).as("env_min"),
          array_max(col("env")).as("env_max"))
        .orderBy(col("doc_id"))
    }),

    // ── audio ONSET detection over the real decoded envelope: a window is
    // an onset when its energy jumps ≥ 10000-amplitude (×8 samples) above
    // its predecessor AND by more than 2.5× (both tests exact integers —
    // the cross-multiplied ratio, no division). In-row and shuffle-free:
    // the adjacent-window comparison runs inside the array before a single
    // explode of the (sparse) onset list — the envelope column is computed
    // once per asset and never re-derived across a join ──
    "mm_audio_onsets" -> ((s, dir) => {
      Multimodal.withWavPayload(Tables.documents(s, dir).select(col("doc_id")))
        .select(col("doc_id"),
          graft.functions.AudioKernels.wavEnvelopeCol(col("payload")).as("env"))
        .select(col("doc_id"), expr(
          """explode(filter(
            |  transform(sequence(1, size(env) - 1),
            |    i -> struct(CAST(i AS BIGINT) AS w, env[i - 1] AS prev_e, env[i] AS e)),
            |  s -> s.e - s.prev_e > 80000 AND s.e * 2 > s.prev_e * 5)) AS o""".stripMargin))
        .select(col("doc_id"), col("o.w").as("w"),
          col("o.prev_e").as("prev_e"), col("o.e").as("e"))
        .orderBy(col("doc_id"), col("w"))
    }),

    "mm_resize_grid" -> ((s, dir) => {
      Multimodal.withPpmPayload(Tables.documents(s, dir).select(col("doc_id")))
        .select(col("doc_id"),
          graft.functions.ImageKernels.ppmResizeCol(col("payload")).as("grid"))
        .select(col("doc_id"),
          md5(concat_ws(" ", transform(col("grid"), _.cast("string"))))
            .as("grid_fp"),
          aggregate(col("grid"), lit(0L), _ + _).as("grid_sum"),
          array_min(col("grid")).as("grid_min"),
          array_max(col("grid")).as("grid_max"))
        .orderBy(col("doc_id"))
    }),

    "dedup_phash" -> ((s, dir) => {
      // repartition = an exchange BARRIER: the synthesis+decode lambda runs
      // interpreted (higher-order functions never codegen), so it must
      // evaluate once per doc and ship 8-byte hashes into the self-join —
      // without the barrier each join side re-derives the payloads
      val imgs = Multimodal.withPpmPayload(Tables.documents(s, dir))
        .select(col("doc_id"),
          graft.functions.ImageKernels.ppmDhashCol(col("payload")).as("dhash"))
        .repartition(col("doc_id"))
      Dedup.hashBandPairs(imgs, maxHamming = 3, nBands = 4)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // ── perceptual-dedup ADMISSION ([[Dedup.hashBandAdmit]]): the ingest
    // batch (doc_id % 5 == 0) fingerprints against the already-indexed 4/5
    // of the corpus plus its own earlier members — batch-scaled band
    // probing, the `dedup_incremental` discipline on images. The fixture
    // structure makes the decision mix meaningful: fresh variants 0-2 of a
    // group collide with their indexed siblings (rejected), the variant-3
    // checkerboards are genuinely new pictures (admitted) ──
    "dedup_phash_incr" -> ((s, dir) => {
      val imgs = Multimodal.withPpmPayload(Tables.documents(s, dir))
        .select(col("doc_id"),
          graft.functions.ImageKernels.ppmDhashCol(col("payload")).as("dhash"))
        .repartition(col("doc_id")) // barrier: hash once, join bytes not lambdas
      Dedup.hashBandAdmit(
        imgs.where(pmod(col("doc_id"), lit(5)) =!= 0),
        imgs.where(pmod(col("doc_id"), lit(5)) === 0),
        maxHamming = 3, nBands = 4)
        .orderBy(col("doc_id"))
    }),

    // ── perceptual AUDIO dedup on DECODED SAMPLES: real 16-bit PCM WAV
    // payloads ([[Multimodal.withWavPayload]] — groups of four takes of
    // one recording), fingerprinted by the codegen'd energy-envelope
    // kernel ([[graft.functions.AudioKernels]]: RIFF chunk walk → 65
    // windows → 64 adjacent-energy comparison bits), deduped through the
    // SAME banded Hamming index as the image hash — one index family for
    // every 64-bit perceptual fingerprint. Oracle recomputes the envelope
    // from the amplitude formula (energy = 8 × amplitude, so the
    // comparisons replay exactly) — two independent implementations ──
    "dedup_audio" -> ((s, dir) => {
      val clips = Multimodal.withWavPayload(Tables.documents(s, dir))
        .select(col("doc_id"),
          graft.functions.AudioKernels.wavEnergyHashCol(col("payload")).as("dhash"))
        .repartition(col("doc_id")) // barrier: hash once, join bytes not lambdas
      Dedup.hashBandPairs(clips, maxHamming = 3, nBands = 4)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // ── similarity: exact brute-force cosine top-5 for 10 query vectors ──
    "knn_brute_cosine" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceKnn(emb.where(col("vec_id") < 10), emb, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ── MAXIMAL MARGINAL RELEVANCE re-ranking ([[Similarity.mmrSelect]]):
    // diversity-aware top-5 from a top-40 relevance pool, λ = 0.7 in
    // integer tenths over EXACT quantized-code dot products — the greedy
    // cascade replays bitwise (float cosines would make pick 2 depend on
    // pick 1's ULPs). Distributed pool build + bounded driver greedy ──
    "knn_mmr_rerank" -> ((s, dir) =>
      Similarity.mmrSelect(Tables.embeddings(s, dir),
        queryId = 0L, poolSize = 40, k = 5, lambdaTenths = 7)
        .orderBy(col("rank"))),

    // ── similarity: EXACT embedding cosine near-dup pairs >= 0.4 (all-pairs
    // ground truth; per-pair cost is one codegen'd dot product) ──
    "dedup_embedding_cosine" -> ((s, dir) =>
      Similarity.cosineNearDupPairs(Tables.embeddings(s, dir), threshold = 0.4)
        .orderBy(col("vec_a"), col("vec_b"))),

    // ── similarity: banded-LSH near-dup (the 100 TB path: equi-join
    // candidates, exact cosine verify; oracle replays the identical
    // deterministic bucketing, recall measured in SimilaritySpec) ──
    "dedup_embedding_cosine_lsh" -> ((s, dir) =>
      Similarity.cosineNearDupPairsLsh(Tables.embeddings(s, dir), threshold = 0.4)
        .orderBy(col("vec_a"), col("vec_b"))),

    // ── semantic dedup GROUPS: connected components over the banded-LSH
    // cosine pairs — SemDeDup-shaped (embedding-space duplicate clusters),
    // composing the pluggable pair generator with the components engine.
    // STAR variant on purpose: at the loose 0.4 threshold the similarity
    // graph chains (measured diameter ~16 at sf0.1 → 17 min-label rounds),
    // exactly the deep-graph regime the O(log²n) contraction exists for
    // (~1.6× faster here, identical result — same oracle) ──
    "dedup_embedding_components" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Dedup.connectedComponentsStar(
        emb.select(col("vec_id")),
        Similarity.cosineNearDupPairsLsh(emb, threshold = 0.4),
        idCol = "vec_id", aCol = "vec_a", bCol = "vec_b")
        .orderBy(col("vec_id"))
    }),

    // ── per-label embedding centroids: ONE aggregation pass through the
    // custom graft_vec_sum TypedImperativeAggregate (8·dim bytes per group
    // through the shuffle; the built-in route would posexplode n·dim rows).
    // Exploded to (label, pos, centroid) rows for the oracle compare ──
    "label_centroids" -> ((s, dir) =>
      Similarity.labelCentroids(Tables.embeddings(s, dir))
        .select(
          col("label").cast("long").as("label"), col("n"),
          posexplode(col("centroid")).as(Seq("pos", "v")))
        .select(
          col("label"), col("pos").cast("long").as("pos"), col("n"),
          round(col("v"), 6).as("centroid"))
        .orderBy(col("label"), col("pos"))),

    // ── nearest-centroid assignment (k-means E-step / cluster audit):
    // centroids from the one-pass aggregate, broadcast against the corpus,
    // |labels| codegen'd dots per vector, map-side ──
    "centroid_assign" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.centroidAssign(emb, Similarity.labelCentroids(emb))
        .select(
          col("vec_id"), col("label").cast("long").as("label"),
          col("assigned_label").cast("long").as("assigned_label"),
          col("cosine"), col("is_own"))
        .orderBy(col("vec_id"))
    }),

    // ── deterministic spherical k-means: md5-ordered seeds, fixed
    // iterations, per-iteration 6-decimal centroid quantization — the
    // quantization is what lets DuckDB replay an ITERATIVE algorithm
    // exactly (see Similarity.kmeans) ──
    "kmeans_clusters" -> ((s, dir) =>
      Similarity.kmeans(Tables.embeddings(s, dir), KmK, KmIters)
        .orderBy(col("vec_id"))),

    // ── SemDeDup: k-means cells as the near-dup candidate buckets (the IVF
    // analog of the LSH bands) — within-cluster pairs exact-verified on the
    // raw vectors; cross-cluster pairs are the documented recall trade ──
    "dedup_embedding_semdedup" -> ((s, dir) =>
      Similarity.semanticNearDupPairsKmeans(
        Tables.embeddings(s, dir), SemThreshold, KmK, KmIters)
        .orderBy(col("vec_a"), col("vec_b"))),

    // ── true-IVF KNN ([[Similarity.ivfKnn]]): learned k-means cells as the
    // coarse quantizer (FAISS IVF-flat shape), single-probe, exact
    // raw-vector cosine inside the probed cell — completing the ANN tier
    // next to brute force and the two hyperplane-LSH routes ──
    "knn_ivf_cosine" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 10)
      Similarity.withRecall(
        Similarity.ivfKnn(q, emb, k = 5, cells = KmK, iters = KmIters),
        q, emb, k = 5, minPoolHits = IvfRecallFloor)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ── PERSISTED IVF: train the coarse quantizer ONCE, store centroids +
    // assignments + geometry metadata as parquet tables, probe WITHOUT
    // re-fitting ([[Similarity.ivfKnnPersisted]] — the real-pipeline shape;
    // re-fitting per query batch would charge every search the full
    // kmeans corpus passes). The stored fit is bitwise the fresh fit, so
    // the oracle and the recall floor are knn_ivf_cosine's own ──
    "knn_ivf_persisted" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = scratch(dir, "ivf_index")
      Similarity.ivfIndexWrite(emb, cells = KmK, iters = KmIters, indexPath = idx)
      val q = emb.where(col("vec_id") < 10)
      Similarity.withRecall(
        Similarity.ivfKnnPersisted(q, emb, idx, k = 5, cells = KmK, iters = KmIters),
        q, emb, k = 5, minPoolHits = IvfRecallFloor)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ── INCREMENTAL persisted IVF ([[Similarity.ivfIndexAppend]]): fit on
    // the already-indexed 4/5 of the corpus, append the new 1/5 against the
    // FROZEN centroids (batch-sized work, no re-fit), probe the union —
    // the ingest loop of a persisted vector index. The append equivalence
    // law (assignment is pure in the stored centroids) makes the probe
    // bitwise a one-shot frozen-quantizer index, which is what the oracle
    // replays; drift gate + version bump pinned in SimilaritySpec ──
    "knn_ivf_persisted_incr" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = scratch(dir, "ivf_index_incr")
      val indexed = emb.where(pmod(col("vec_id"), lit(5)) =!= 0)
      val batch = emb.where(pmod(col("vec_id"), lit(5)) === 0)
      Similarity.ivfIndexWrite(indexed, cells = KmK, iters = KmIters, indexPath = idx)
      Similarity.ivfIndexAppend(batch, idx, cells = KmK, iters = KmIters)
      val q = emb.where(col("vec_id") < 10)
      Similarity.withRecall(
        Similarity.ivfKnnPersisted(q, emb, idx, k = 5, cells = KmK, iters = KmIters),
        q, emb, k = 5, minPoolHits = IvfIncrRecallFloor)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ── SNAPSHOT-PINNED index generations ([[Similarity
    // .ivfIndexWriteSnapshot]] / [[Similarity.ivfIndexAppendSnapshot]] /
    // [[Similarity.ivfKnnSnapshot]]): the assignments table lives under
    // the transactional [[graft.sources.SnapshotLog]], so the fit commits
    // as generation v0, the append publishes v1 in ONE atomic manifest
    // link, and probes pin a generation — the atomicity the plain
    // parquet-append variant defers to the log, made real. The probe at
    // the latest generation must equal the frozen-quantizer union index
    // (the incr oracle), and `pinned_v0_stable` measures that v0 still
    // holds EXACTLY the fit-time assignment after v1 landed (exceptAll
    // set-equality, the vacuum_orphans law pattern) ──
    "knn_ivf_snapshot" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = scratch(dir, "ivf_index_snap")
      val log = new graft.sources.SnapshotLog(s"$idx/assignments_log")
      log.recreate() // scratch hygiene: deterministic generations per run
      val indexed = emb.where(pmod(col("vec_id"), lit(5)) =!= 0)
      val batch = emb.where(pmod(col("vec_id"), lit(5)) === 0)
      val v0 = Similarity.ivfIndexWriteSnapshot(indexed, KmK, KmIters, idx)
      Similarity.ivfIndexAppendSnapshot(batch, idx, cells = KmK, iters = KmIters)
      val q = emb.where(col("vec_id") < 10)
      val cents = s.read.parquet(s"$idx/centroids").collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).sortBy(_._1).toSeq
      val v0Assign = log.read(s, v0)
        .select(col("vec_id"), col("cluster"), col("cosine"))
      val freshA = Similarity.assignCells(
        Similarity.unitized(indexed, "vec_id", "embedding"), cents)
        .select(col("vec_id"), col("cluster"), round(col("cos"), 6).as("cosine"))
      // one signed-multiplicity pass for BOTH exceptAll counts (extras and
      // missing) — each input scanned once, same numbers ([[graft.Proofs]])
      val diff = Proofs.diffCounts(v0Assign, freshA, "n_extra", "n_missing")
      Similarity.withRecall(
        Similarity.ivfKnnSnapshot(q, emb, idx, k = 5, cells = KmK, iters = KmIters),
        q, emb, k = 5, minPoolHits = IvfIncrRecallFloor)
        .crossJoin(broadcast(diff))
        .select(
          col("query_id"), col("neighbor_id"), col("cosine"), col("rank"),
          col("n_hit"), col("pool_hits"), col("recall_ok"),
          (col("n_extra") === 0L && col("n_missing") === 0L).as("pinned_v0_stable"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ── multi-probe IVF: the recall knob — each query scans its 2
    // nearest-centroid cells instead of 1 (FAISS nprobe); probe expansion
    // on the broadcast query side, corpus still partitioned once ──
    "knn_ivf_cosine_mp" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 10)
      Similarity.withRecall(
        Similarity.ivfKnn(q, emb, k = 5, cells = KmK, iters = KmIters, nProbes = IvfProbes),
        q, emb, k = 5, minPoolHits = IvfMpRecallFloor)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ── product quantization ([[Similarity.quantizePq]]): m independent
    // per-subspace k-means codebooks (FAISS PQ shape) — the trained
    // codebook compression next to the scalar min-max codes below ──
    "embed_quantize_pq" -> ((s, dir) =>
      Similarity.quantizePq(Tables.embeddings(s, dir), m = PqM, k = PqK, iters = PqIters)
        .orderBy(col("vec_id"))),

    // ── ADC search over the PQ codes ([[Similarity.pqAdcKnn]]): query
    // exact, corpus as m cell ids, score = m codebook lookups + adds per
    // candidate — the search half of product quantization ──
    "knn_pq_adc" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 10)
      Similarity.withRecall(
        Similarity.pqAdcKnn(q, emb, k = 5, m = PqM, cells = PqK, iters = PqIters),
        q, emb, k = 5, minPoolHits = PqRecallFloor)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ── the FULL IVF-ADC search ([[Similarity.ivfPqAdcKnn]], Jégou et
    // al.'s IVFADC): coarse cells bound the candidate set (equi-join on
    // the probed cell ids — the billion-scale FAISS layout), compressed
    // m-lookup ADC scores only those candidates; recall self-validated
    // against the exact brute-force pool like every ANN query here ──
    "knn_ivfpq_adc" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 10)
      Similarity.withRecall(
        Similarity.ivfPqAdcKnn(q, emb, k = 5,
          coarseCells = KmK, coarseIters = KmIters, nProbes = IvfProbes,
          m = PqM, pqCells = PqK, pqIters = PqIters),
        q, emb, k = 5, minPoolHits = IvfPqRecallFloor)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ── embedding compression ([[Similarity.quantizeEmbeddings]]): per-dim
    // min-max int8-style codes — stats via the graft_vec_min/max native
    // aggregates (8·dim-byte partials, no posexplode fan-out), then a
    // map-side encode with the bounds as plan literals. Integer-only
    // outputs; the codes array itself stays API-side. ──
    "embed_quantize" -> ((s, dir) =>
      Similarity.quantizeEmbeddings(Tables.embeddings(s, dir), levels = QuantLevels)
        .drop("codes")
        .orderBy(col("vec_id"))),

    // ── EXACT KNN-SHAPLEY data valuation ([[Similarity.knnShapley]]):
    // every 25th vector is a held-out test point, the rest are the
    // training set to be valued; codes from ONE shared quantization pass
    // (so distances are exact integers), K = ShapK. The per-example
    // contribution ranking that decides what to prune and which source
    // to pay — the closed-form Shapley of the KNN classifier, summed
    // over the test sample ──
    "knn_shapley" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val coded = Similarity.quantizeEmbeddings(emb, levels = QuantLevels)
        .select(col("vec_id"), col("codes"))
        .join(emb.select(col("vec_id"), col("label")), "vec_id")
      val test = coded.where(pmod(col("vec_id"), lit(ShapMod)) === 0)
      val train = coded.where(pmod(col("vec_id"), lit(ShapMod)) =!= 0)
      Similarity.knnShapley(train, test, k = ShapK)
    }),

    // ── ANN-BOUNDED KNN-SHAPLEY ([[Similarity.knnShapleyIvf]] — the
    // scale route paired with the exact `knn_shapley`, the dedup-family
    // exact-vs-scale discipline): each test point scores only the train
    // vectors in its ShapProbes nearest IVF cells (equi-join on the cell
    // id — |test|·|train|/cells·probes pairs, never the all-pairs
    // broadcast), contributions exact integers WITHIN the pool. The
    // oracle replays the exact route; the IVF route must agree with it
    // on the top-ShapTopM contributor set to the asserted floor
    // (`ivf_top_agreement_met` — the withRecall discipline) ──
    "knn_shapley_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // ONE evaluation of the quantize+join feeds six consumers (the
      // exact route's two sides, the IVF route's two sides, the kmeans
      // fit, and the agreement collects) — unpinned, the per-dimension
      // stats pass re-runs for each
      val coded = Similarity.quantizeEmbeddings(emb, levels = QuantLevels)
        .select(col("vec_id"), col("codes"))
        .join(emb.select(col("vec_id"), col("label"), col("embedding")), "vec_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val test = coded.where(pmod(col("vec_id"), lit(ShapMod)) === 0)
        val train = coded.where(pmod(col("vec_id"), lit(ShapMod)) =!= 0)
        // per-train summaries are train-count-sized (the bounded-model
        // fetch class): ONE evaluation each, agreement computed locally,
        // result served as a local relation — the exact route never
        // re-runs for the final materialization
        val exactDf = Similarity.knnShapley(train, test, k = ShapK)
        val exact = exactDf.collect()
        val ivfTop = Similarity.knnShapleyIvf(train, test, k = ShapK,
            cells = KmK, iters = KmIters, nProbes = ShapProbes)
          .orderBy(col("shap_sum_e12").desc, col("vec_id")).limit(ShapTopM)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        val exactTop = exact
          .sortBy(r => (-r.getLong(2), r.getLong(0))).take(ShapTopM)
          .map(_.getLong(0)).toSet
        val hits = exactTop.intersect(ivfTop).size
        import scala.jdk.CollectionConverters._
        s.createDataFrame(exact.toSeq.asJava, exactDf.schema)
          .withColumn("ivf_top_agreement_met", lit(hits >= ShapAgreeFloor))
          .orderBy(col("vec_id"))
      } finally { coded.unpersist(blocking = false); () }
    }),

    // ── JL random projection ([[Similarity.randomProjection]]): 64-float
    // embeddings to 16 doubles through a ±1 sign matrix baked into the
    // plan as literals — the distance-preserving shrink run before ANN
    // indexing. Map-side only; fold order pinned on both engines, so the
    // replay is bitwise up to the 6-decimal quantization. ──
    "embed_rp" -> ((s, dir) =>
      Similarity.randomProjection(Tables.embeddings(s, dir))),

    // ── hard-negative mining for contrastive training: top-5 most similar
    // OTHER-label vectors per query — the label anti-predicate is fused
    // into the broadcast join, excluded pairs never materialize ──
    "hard_negatives" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.hardNegatives(emb.where(col("vec_id") < 10), emb, k = 5)
        .select(
          col("query_id"), col("query_label").cast("long").as("query_label"),
          col("neighbor_id"), col("neighbor_label").cast("long").as("neighbor_label"),
          col("cosine"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ── context-window sequence packing (concat-and-chunk): md5-sharded
    // independent token streams, cut every PackBudget tokens; layout is a
    // pure function of (doc ids, token counts) — see operators/Packing ──
    "pack_sequences" -> ((s, dir) =>
      Packing.packSequences(Tables.documents(s, dir), PackBudget, PackShards)
        .orderBy(col("doc_id"))),

    // ── the trainer-facing inverse view: one row per document slice keyed
    // by the sequence it fills; (shard, seq_in_shard, slice_idx) unique ──
    "pack_slices" -> ((s, dir) =>
      Packing.packedSequenceSlices(Tables.documents(s, dir), PackBudget, PackShards)
        .orderBy(col("shard"), col("seq_in_shard"), col("slice_idx"))),

    // ── the manifest CONSUMED: slices joined back to the corpus, each
    // document cut to its token range, sequences reassembled in slice order
    // — the loader path a trainer runs, and the flat hashable surface the
    // array manifest can't be ──
    "pack_gather" -> ((s, dir) =>
      Packing.gatherSequenceText(Tables.documents(s, dir), PackBudget, PackShards)
        .orderBy(col("shard"), col("seq_in_shard"))),

    // ── per-epoch loader plan ([[Packing.epochPlan]]): each epoch a
    // deterministic md5-driven permutation of every packed sequence, dealt
    // across loader workers (sequences CHANGE workers between epochs); no
    // global total order anywhere — per-rank dense positions only ──
    "epoch_plan" -> ((s, dir) =>
      Packing.epochPlan(
        Packing.packedSequenceSlices(Tables.documents(s, dir), PackBudget, PackShards),
        epochs = EpochCount, nWorkers = EpochWorkers)
        .orderBy(col("epoch"), col("worker"), col("pos_in_worker"))),

    // ── similarity: LSH-bucketed approximate KNN (scale path; deterministic
    // md5-derived hyperplanes → the DuckDB oracle recomputes the buckets) ──
    "knn_lsh_cosine" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 10)
      Similarity.withRecall(
        Similarity.lshKnn(q, emb, k = 5, nPlanes = KnnPlanes),
        q, emb, k = 5, minPoolHits = LshRecallFloor)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ── the streaming near-dup ingest, END-TO-END under the oracle: the
    // documents table replayed as a file-source STREAM probing its own
    // static band index; micro-batch output lands in a memory table the
    // query returns. Kernels, banding, and band keys are the exact code
    // paths of the batch dedup_minhash_lsh, and every step is
    // deterministic, so the DuckDB replay hash-matches a genuinely
    // streaming execution (watermark, stream-static join, duplicate
    // suppressor and all) ──
    "stream_neardup_ingest" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // persist inside the try: a failure anywhere up to and including
      // start() must still unpersist the index (the leak the caller-managed
      // lifecycle exists to prevent)
      val idx = StreamingSessionize.corpusBandIndex(docs, bands = MhBands)
      val sink = try {
        idx.persist()
        val stream = s.readStream
          .schema(docs.schema)
          // the file source wants a directory; the glob filter narrows the
          // listing to the documents table
          .option("pathGlobFilter", "documents.parquet")
          .parquet(dir)
          .select(
            col("doc_id"), col("text"),
            to_timestamp(lit("2024-01-01 00:00:00")).as("ts"))
        val out = StreamingSessionize.nearDupIngest(
          stream, idx, minEstJaccard = 0.5, bands = MhBands)
        StreamingSessionize.drainToMemory(out, "stream_neardup_ingest_sink")
      } finally idx.unpersist()
      sink
        .select(col("doc_id"), col("corpus_doc_id"), col("est_jaccard"))
        .orderBy(col("doc_id"), col("corpus_doc_id"))
    }),

    // ── perceptual near-dup detection AT INGESTION ([[StreamingSessionize
    // .phashIngest]]): incoming image assets fingerprint map-side through
    // the codegen'd PPM dHash and probe the STATIC banded corpus index
    // ([[Dedup.hashBandIndex]], geometry verified from column metadata) —
    // the nearDupIngest shape on DECODED media, lossless at hamming <= 3
    // by pigeonhole. Self-matches at hamming 0 are the re-ingest signal
    // (the whole table streams against its own index, mirroring
    // stream_neardup_ingest); the stream-side synthesis+decode is the same
    // deterministic fixture, so the DuckDB replay hash-matches a genuinely
    // streaming execution ──
    "stream_phash_ingest" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val idx = Dedup.hashBandIndex(
        Multimodal.withPpmPayload(docs)
          .select(col("doc_id"),
            graft.functions.ImageKernels.ppmDhashCol(col("payload")).as("dhash")),
        nBands = 4)
      val sink = try {
        idx.persist()
        val stream = s.readStream
          .schema(docs.schema)
          .option("pathGlobFilter", "documents.parquet")
          .parquet(dir)
          .transform(Multimodal.withPpmPayload(_))
          .select(col("doc_id"), col("payload"),
            to_timestamp(lit("2024-01-01 00:00:00")).as("ts"))
        val out = StreamingSessionize.phashIngest(stream, idx, maxHamming = 3, nBands = 4)
        StreamingSessionize.drainToMemory(out, "stream_phash_ingest_sink")
      } finally idx.unpersist()
      sink
        .select(col("doc_id"), col("corpus_doc_id"), col("hamming"))
        .orderBy(col("doc_id"), col("corpus_doc_id"))
    }),

    // ── streaming exact dedup, oracle-checked end to end: TWO stream
    // readers of the same table unioned, so every fingerprint provably
    // arrives at least twice and the watermark-bounded duplicate suppressor
    // (dropDuplicatesWithinWatermark) has real work; the surviving
    // fingerprint set is order-independent (which doc_id survives a tie is
    // not — so the query exposes only the fingerprint), making a genuinely
    // streaming execution hash-comparable to a batch DISTINCT ──
    "stream_dedup_ingest" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      def src = s.readStream
        .schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
        .select(
          col("doc_id"), col("text"),
          to_timestamp(lit("2024-01-01 00:00:00")).as("ts"))
      val out = StreamingSessionize.exactDedup(src.unionByName(src))
      StreamingSessionize.drainToMemory(out, "stream_dedup_ingest_sink")
        .select(col("fingerprint")).orderBy(col("fingerprint"))
    }),

    // ── frequency sketching AT INGESTION: [[CountMin.sketch]] run
    // UNCHANGED as a streaming aggregation — the sketch cells ARE the
    // state, and at 4×256 rows that state is corpus-size-independent, so
    // an unwindowed streaming aggregate is safe here precisely where an
    // exact token count would grow without bound. The declared result
    // probes the exact top-20 against the STREAMED sketch and pins it
    // cell-equal to the batch sketch (falsifiable: any drift flips the
    // boolean AND the estimates) ──
    "stream_cms_ingest" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val src = s.readStream
        .schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      val streamed = StreamingSessionize.drainToMemory(
        CountMin.sketch(src, "token"), "stream_cms_ingest_sink", "complete")
      val toks = docs.select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      val exact = toks.groupBy(col("token")).agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("token")).limit(20)
      val estStream = CountMin.estimate(streamed, exact.select(col("token")), "token")
        .withColumnRenamed("est", "n_est_stream")
      val estBatch = CountMin.estimate(CountMin.sketch(toks, "token"), exact.select(col("token")), "token")
        .withColumnRenamed("est", "n_est_batch")
      exact.join(estStream, "token").join(estBatch, "token")
        .select(
          col("token"), col("n_exact"), col("n_est_stream"),
          (col("n_est_stream") === col("n_est_batch")).as("stream_matches_batch"))
        .orderBy(col("n_exact").desc, col("token"))
    }),

    // ── decontamination AT INGESTION ([[StreamingSessionize
    // .decontaminateIngest]]): a REAL streaming execution probes the eval
    // Bloom filter statelessly per incoming doc; the declared result joins
    // the exact batch report with the stream's quarantine verdicts and the
    // oracle asserts the no-false-negative law (`stream_caught` TRUE on
    // every truly-contaminated row), the decontaminate_bloom shape ──
    "stream_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val eval = docs.where(col("doc_id") % 50 === 0)
      val bytes = Dedup.evalGramFilter(eval, n = GramN, fpp = BloomFpp)
      def src = s.readStream
        .schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
        .where(col("doc_id") % 50 =!= 0)
      val out =
        StreamingSessionize.decontaminateIngest(src, bytes, minShared = DeconMinShared, n = GramN)
      val sink = StreamingSessionize.drainToMemory(out, "stream_decontaminate_sink")
      val exact = Dedup.contaminationReport(
        docs.where(col("doc_id") % 50 =!= 0), eval, minShared = DeconMinShared, n = GramN)
      exact
        .join(
          sink.select(col("doc_id"), lit(true).as("stream_caught")),
          Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          col("n_shared"),
          coalesce(col("stream_caught"), lit(false)).as("stream_caught"))
        .orderBy(col("doc_id"))
    }),

    // ── similarity: multi-probe LSH KNN — same index, plus Hamming-1
    // neighbor buckets probed per query (the standard recall knob; probe
    // expansion is query-side so the corpus join stays an equi-join) ──
    "knn_lsh_cosine_mp" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 10)
      Similarity.withRecall(
        Similarity.lshKnn(q, emb, k = 5, nPlanes = KnnPlanes, probeHamming = 1),
        q, emb, k = 5, minPoolHits = LshMpRecallFloor)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ── DSIR importance weights ([[Sampling.dsirWeights]]): every doc
    // scored by hashed-bigram log-likelihood ratio against the HQ target
    // (rule-quality >= cut) vs the raw pool — the principled data-selection
    // op; weights and verdicts replay exactly (quantized λ, quantized sums) ──
    "dsir_weights" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Sampling.dsirWeights(docs, dsirTarget(docs), n = DsirN, buckets = DsirBuckets)
        .orderBy(col("doc_id"))
    }),

    // ── DSIR scoring AT INGESTION ([[StreamingSessionize.dsirScoreIngest]]):
    // the λ model frozen from the batch fit, applied statelessly inside a
    // REAL streaming execution — a corpus member streamed through the
    // frozen model scores bitwise its dsir_weights value, so the oracle is
    // the full DSIR replay itself, hash-checked row for row ──
    "stream_dsir_score" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val lam =
        Sampling.dsirLambdaArray(docs, dsirTarget(docs), n = DsirN, buckets = DsirBuckets)
      def src = s.readStream
        .schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
      val out = StreamingSessionize.dsirScoreIngest(src, lam, n = DsirN)
      StreamingSessionize.drainToMemory(out, "stream_dsir_score_sink")
        .select(col("doc_id"), col("log_weight"), col("selected"))
        .orderBy(col("doc_id"))
    }),

    // ── BM25 relevance AT INGESTION ([[StreamingSessionize
    // .bm25ScoreIngest]]): the frozen per-term idf + corpus avgdl ride the
    // plan as literals and every incoming doc is scored against the fixed
    // query set map-side (array-filter tf, no join, no state) in a REAL
    // streaming execution; the corpus replayed through the frozen scorer
    // equals the batch BM25 table, so the oracle is the bm25 chain with
    // no top-k — the third frozen-model ingest scorer (Bloom, DSIR, BM25) ──
    "stream_bm25_score" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val qterms = Bm25Queries.map { case (qid, text) =>
        qid -> text.split("\\s+").filter(_.nonEmpty).distinct.toSeq
      }
      val (idfMap, avgdl) = Retrieval.frozenLexicon(docs, qterms.flatMap(_._2))
      val src = s.readStream
        .schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
      val out = StreamingSessionize.bm25ScoreIngest(src, qterms, idfMap, avgdl)
      StreamingSessionize.drainToMemory(out, "stream_bm25_score_sink")
        .select(col("doc_id"), col("query_id"), col("score"))
        .orderBy(col("query_id"), col("doc_id"))
    }),

    // ── the FUSED ingestion pass ([[StreamingSessionize.ingestAnnotate]]):
    // production runs admission near-dup + Bloom decontamination + DSIR +
    // BM25 scoring + the CMS update as ONE stream over the incoming batch,
    // not five — this query proves it: a 3-file replay drives a real
    // foreachBatch stream whose micro-batches are persisted ONCE and feed
    // every leg plus the cross-batch CMS accumulator (the only state,
    // 4×256 cells). Deterministic legs hash-replay in the oracle;
    // the Bloom verdict (probabilistic in the FP direction) rides the
    // one-sided decon_ok law; cms_ok pins accumulated-stream cells ==
    // batch sketch cell-for-cell ──
    "ingest_batch" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val eval = docs.where(col("doc_id") % 50 === 0)
      val streamed = docs.where(col("doc_id") % 50 =!= 0).select(col("doc_id"), col("text"))
      val bytes = Dedup.evalGramFilter(eval, n = GramN, fpp = BloomFpp)
      val lam = Sampling.dsirLambdaArray(docs, dsirTarget(docs), n = DsirN, buckets = DsirBuckets)
      val qterms = Bm25Queries.map { case (qid, text) =>
        qid -> text.split("\\s+").filter(_.nonEmpty).distinct.toSeq
      }
      val (idfMap, avgdl) = Retrieval.frozenLexicon(docs, qterms.flatMap(_._2))
      val idx = StreamingSessionize.corpusBandIndex(docs, bands = MhBands)
      val base = java.nio.file.Files.createTempDirectory("graft_ingest_batch_")
      val streamDir = base.resolve("stream")
      java.nio.file.Files.createDirectories(streamDir)
      val accumDir = base.resolve("out").toString
      val cmsAcc = scala.collection.mutable.Map.empty[(Long, Long), Long].withDefaultValue(0L)
      try {
        // three deterministic shards, one file each → three real triggers
        StreamingSessionize.stageSliceFiles(base, streamDir,
          (0 until 3).map(i => streamed.where(pmod(col("doc_id"), lit(3)) === i)))
        idx.persist()
        // micro-batch-sized frames through every leg — run the replay (and
        // the per-batch jobs foreachBatch launches) at replay-scale shuffle
        // partitions; the session conf is restored after the drain
        try StreamingSessionize.drain(s) {
          s.readStream
            .schema(streamed.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(streamDir.toString)
            .writeStream
            .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
              b.persist()
              try {
                StreamingSessionize.ingestAnnotate(
                  b, idx, bytes, lam, qterms, idfMap, avgdl,
                  minEstJaccard = 0.5, bands = MhBands,
                  deconMinShared = DeconMinShared, deconN = GramN, dsirN = DsirN)
                  .write.mode("append").parquet(accumDir)
                CountMin
                  .sketch(b.select(explode(TextAnalysis.tokens(col("text"))).as("token")), "token")
                  .collect()
                  .foreach { r =>
                    val key = (r.getAs[Number]("row").longValue, r.getAs[Number]("bucket").longValue)
                    cmsAcc(key) = cmsAcc(key) + r.getAs[Number]("cnt").longValue
                  }
              } finally { b.unpersist(); () }
            }
            .start()
        } finally idx.unpersist()
        val batchCells = CountMin
          .sketch(streamed.select(explode(TextAnalysis.tokens(col("text"))).as("token")), "token")
          .collect()
          .map(r => (r.getAs[Number]("row").longValue, r.getAs[Number]("bucket").longValue)
            -> r.getAs[Number]("cnt").longValue)
          .toMap
        val cmsOk = cmsAcc.toMap == batchCells
        val perDoc = s.read.parquet(accumDir)
        val exact = Dedup.contaminationReport(
          docs.where(col("doc_id") % 50 =!= 0), eval, minShared = DeconMinShared, n = GramN)
        perDoc
          .join(exact.select(col("doc_id"), lit(true).as("qe")), Seq("doc_id"), "left")
          .select(
            col("doc_id"),
            col("n_dup"),
            coalesce(col("qe"), lit(false)).as("quarantined_exact"),
            (!coalesce(col("qe"), lit(false)) || col("stream_quarantined")).as("decon_ok"),
            col("log_weight"), col("selected"),
            col("bm25_best_q"), col("bm25_best"),
            (col("n_dup") === 0 && !coalesce(col("qe"), lit(false)) && col("selected"))
              .as("admitted"),
            lit(cmsOk).as("cms_ok"))
          .orderBy(col("doc_id"))
      } finally {
        // the returned plan reads accumDir lazily, so `out/` must survive
        // the return; the staged and streamed copies of the documents are
        // dead once the drain ends
        (0 until 3).foreach(i => StreamingSessionize.deleteTree(base.resolve(s"stage_$i")))
        StreamingSessionize.deleteTree(streamDir)
      }
    }),

    // ── CCNet-style LM quality scoring ([[LanguageModel.perplexity]]): an
    // add-1-smoothed bigram model fitted on the SAME quality-target pool as
    // dsir_weights, every doc scored by quantized per-bigram avg negative
    // log-likelihood — the "does a target-corpus LM find this text fluent"
    // signal, complementary to DSIR's occurrence-profile ratio. Model tables
    // are vocab-scale broadcasts; the only corpus-scale shuffle is the
    // per-doc sum. Selection is corpus-relative (below-mean avg_nll) ──
    "lm_perplexity" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      LanguageModel.perplexity(docs, dsirTarget(docs))
        .orderBy(col("doc_id"))
    }),

    // ── deterministic hash-split ([[operators.Sampling]]): train/val/test
    // assignment as a pure function of the doc id — stable across runs,
    // partitionings, engines, and incremental loads (no RNG, no leakage
    // when the corpus grows). Aggregated per split for the oracle ──
    "sample_split" -> ((s, dir) =>
      Sampling.withHashSplit(
        Tables.documents(s, dir), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("split"))
        .agg(
          count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy(col("split"))),

    // ── benchmark decontamination ([[Dedup.contaminationReport]]): distinct
    // 3-gram overlap of each training doc against a BROADCAST eval-set gram
    // index (docs with doc_id % 50 == 0 play the benchmark); >= 2 shared
    // grams flags the doc. The check run before any serious training job ──
    "decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.contaminationReport(
        docs.where(col("doc_id") % 50 =!= 0),
        docs.where(col("doc_id") % 50 === 0),
        minShared = DeconMinShared, n = GramN)
        .orderBy(col("doc_id"))
    }),

    // ── Bloom-route decontamination ([[Dedup.contaminationReportBloom]]),
    // SELF-VALIDATING: the exact report joined with the Bloom route's
    // flags; `bloom_caught` must be TRUE on every row (a Bloom filter has
    // no false negatives) and the oracle asserts exactly that — a probe
    // that ever drops a truly-contaminated doc fails the hash ──
    "decontaminate_bloom" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val corpus = docs.where(col("doc_id") % 50 =!= 0)
      val eval = docs.where(col("doc_id") % 50 === 0)
      val exact =
        Dedup.contaminationReport(corpus, eval, minShared = DeconMinShared, n = GramN)
      val bloomed = Dedup.contaminationReportBloom(
        corpus, eval, minShared = DeconMinShared, n = GramN, fpp = BloomFpp)
      exact
        .join(bloomed.select(col("doc_id"), lit(true).as("bloom_caught")), Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          col("n_shared"),
          coalesce(col("bloom_caught"), lit(false)).as("bloom_caught"))
        .orderBy(col("doc_id"))
    }),

    // ── token-budget selection ([[Curation.budgetSelect]]): each source
    // contributes its best docs quality-first until its token budget is
    // spent — the EXACT (windowed per-stratum sort) ground truth ──
    "budget_select" -> ((s, dir) =>
      Curation.budgetSelect(Tables.documents(s, dir), budgetTokens = BudgetTokens)
        .orderBy(col("source"), col("doc_id"))),

    // ── the 100 TB route ([[Curation.budgetSelectBinned]]): mergeable
    // quality-bin token histogram → whole-bin cutoff, no per-stratum sort;
    // CurationSpec pins binned ⊆ exact ──
    "budget_select_binned" -> ((s, dir) =>
      Curation.budgetSelectBinned(
        Tables.documents(s, dir), budgetTokens = BudgetTokens, nBins = BudgetBins)
        .orderBy(col("source"), col("doc_id"))),

    // ── temperature mixture weights ([[Sampling.mixtureWeights]]): α=0.5
    // source propensities in integer ppm — sqrt is the IEEE-portable
    // temperature, pow() is not ──
    "mixture_weights" -> ((s, dir) =>
      Sampling.mixtureWeights(Tables.documents(s, dir))
        .orderBy(col("source"))),

    // ── mid-training ANNEALING schedule: per-epoch source mixture
    // interpolating from the natural token-share distribution (epoch 0)
    // to the sqrt-temperature target (final epoch) — the staged-data
    // schedule trainers run (upweight quality/tail sources late). The
    // interpolation is the nonneg convex form
    // (base·(E-1-e) + target·e) div (E-1), all integer, so it replays
    // exactly (and avoids trunc-vs-floor division on negatives) ──
    "anneal_schedule" -> ((s, dir) => {
      val mw = Sampling.mixtureWeights(Tables.documents(s, dir))
      val tot = mw.agg(sum(col("n_tokens")).as("total_tokens"))
      val e = AnnealEpochs - 1
      mw.crossJoin(broadcast(tot))
        .withColumn("base_ppm", expr("(n_tokens * 1000000) div total_tokens"))
        .withColumn("epoch", explode(array((0 until AnnealEpochs).map(i => lit(i.toLong)): _*)))
        .select(
          col("epoch"), col("source"), col("base_ppm"),
          col("weight_ppm").as("target_ppm"),
          expr(s"(base_ppm * ($e - epoch) + weight_ppm * epoch) div $e").as("ppm"))
        .orderBy(col("epoch"), col("source"))
    }),

    // ── deterministic corpus MIXING ([[Sampling.hashSampleByStratum]]):
    // thin the over-represented language to a target rate (en → 25%) while
    // everything else passes through, membership a pure function of the doc
    // id (stable under growth; raising a rate only ADDS docs). The stratum
    // is the lang-ID guess, so this is the lang_id → mixer composition a
    // real pipeline runs. Aggregated per language for the oracle ──
    "sample_mixture" -> ((s, dir) => {
      val labeled = langGuessed(Tables.documents(s, dir))
      Sampling.hashSampleByStratum(labeled, "doc_id", col("lang_guess"), Map("en" -> 0.25))
        .groupBy(col("lang_guess"))
        .agg(
          count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy(col("lang_guess"))
    }),

    // ── NEYMAN-STYLE STRATIFIED SAMPLE ([[Sampling.neymanSample]]): a
    // 500-doc budget split across sources proportionally to
    // population × length-spread (the integer dispersion proxy for σ), each
    // stratum's quota filled by md5 rank. One row per source with the
    // allocation arithmetic and the sum of SELECTED doc ids — the integer
    // membership pin — all replayed bitwise by the oracle. ──
    "sample_neyman" -> ((s, dir) =>
      Sampling.neymanSample(
        Tables.documents(s, dir), "doc_id", col("source"), col("n_chars"),
        budget = 500L)),

    // ── weighted sampling WITHOUT replacement ([[Sampling
    // .weightedSample]]): Efraimidis–Spirakis in exact integer form — the
    // priority is the MAX of w md5 hashes (`max(u_1..u_w) ~ u^(1/w)`), so
    // longer documents win proportionally more often, nothing is drawn
    // twice, and the selected set replays bitwise in DuckDB (no pow, no
    // libm). Map-side-only priorities + TakeOrdered top-k — no shuffle of
    // the data, no global sort ──
    "sample_weighted" -> ((s, dir) =>
      Sampling.weightedSample(
        Tables.documents(s, dir), "doc_id",
        expr("1 + least(7, n_chars div 64)"), k = 100, maxWeight = 8)
        .select(col("k").as("doc_id"), col("wt"), col("priority"))),

    // ── bounded per-stratum sample ([[Sampling.perKeySample]]): 5 example
    // docs from EVERY source in ONE aggregate pass through the mergeable
    // bounded graft_topk — map partitions combine to ≤ k per group before
    // the exchange, no window sort over group-sized frames ──
    "sample_per_key" -> ((s, dir) =>
      Sampling.perKeySample(
        Tables.documents(s, dir), col("source"), "doc_id", k = 5)
        .select(
          col("stratum").as("source"), col("rank"),
          col("k").as("doc_id"), col("priority"))),

    // ── greedy k-center diversity coreset ([[Similarity.kCenterGreedy]],
    // Gonzalez farthest-point sampling): maximally-SPREAD exemplars, the
    // coverage-biased counterpart of the frequency-biased samplers above.
    // k linear corpus passes (one per center) with a persisted running
    // min-distance; the pick compares round(1−cos, 6) with an id
    // tie-break so the greedy trajectory is FP-safe cross-engine. The
    // oracle replays all KcK selection rounds as unrolled CTE stages ──
    "sample_kcenter" -> ((s, dir) =>
      Similarity.kCenterGreedy(Tables.embeddings(s, dir), k = KcK)
        .orderBy(col("step"))),

    // ── corpus heavy-hitters: token frequency top-20 (explode → two-phase
    // count with map-side partial agg → global top-k; integer ordering with
    // token tie-break, so fully deterministic) ──
    "top_tokens" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20)),

    // ── COLLOCATION MINING ([[TextAnalysis.collocations]]): top adjacent
    // word pairs by the exact scaled-integer PMI surrogate
    // N·c(x,y)·1e6 div (c(x)·c(y)) — a monotone transform of PMI, so the
    // ranking is PMI's with every number engine-exact; min-count floor
    // kills hapax noise ──
    "collocations_pmi" -> ((s, dir) =>
      TextAnalysis.collocations(
        Tables.documents(s, dir), col("text"), minPairCount = 10L)
        .orderBy(col("pmi_ratio_e6").desc, col("x"), col("y"))
        .limit(20)),

    // ── TEXTRANK keyword extraction (Mihalcea & Tarau 2004): candidate
    // words (length ≥ TrMinLen, non-stopword) filtered IN THE TOKEN ARRAY
    // (order preserved, no shuffle), co-occurrence edges from adjacent
    // candidates via the slice-zip bigram (map-side — no per-doc window
    // sort), canonical undirected pairs counted corpus-wide and floored at
    // TrMinEdge, then the SAME integer PageRank core as [[GraphRank
    // .pagerank]] runs over md5-derived 60-bit word ids (both engines
    // derive ids identically, so even a collision replays bitwise). Top
    // TrK words by rank — the unsupervised keyword readout a corpus
    // datacard wants next to tfidf_top_terms, but GLOBAL (graph
    // centrality) instead of per-doc (frequency) ──
    "textrank_keywords" -> ((s, dir) => {
      // codegen'd candidate filter + adjacent-pair scan (identical rows as
      // the interpreted filter(...) + zip_with(slice, slice) they replace)
      val cands = graft.functions.TextKernels.filterCandidatesCol(
        TextAnalysis.tokens(col("text")), TextAnalysis.Stopwords, TrMinLen)
      val toks = Tables.documents(s, dir).select(cands.as("wd"))
        .where(size(col("wd")) >= 2)
      val big = toks.select(
          explode(graft.functions.TextKernels.adjacentPairsCol(col("wd"))).as("p"))
        .select(col("p.l").as("x"), col("p.r").as("y"))
        .where(col("x") =!= col("y"))
      val cw = big
        .select(least(col("x"), col("y")).as("x"), greatest(col("x"), col("y")).as("y"))
        .groupBy(col("x"), col("y")).agg(count(lit(1)).as("w"))
        .where(col("w") >= TrMinEdge)
      val ids = cw.select(col("x").as("word")).unionByName(cw.select(col("y").as("word")))
        .distinct()
        .withColumn("wid", conv(substring(md5(col("word")), 1, 15), 16, 10).cast("long"))
      val ed = cw
        .join(ids.select(col("word").as("x"), col("wid").as("doc_a")), "x")
        .join(ids.select(col("word").as("y"), col("wid").as("doc_b")), "y")
        .select(col("doc_a"), col("doc_b"), col("w").as("n_shared"))
      GraphRank.pagerank(ed, iters = PrIters)
        .join(ids, col("doc_id") === col("wid"))
        .select(col("word"), col("rank"))
        .orderBy(col("rank").desc, col("word")).limit(TrK)
    }),

    // ── CLUSTER LABELING ([[Similarity.kmeans]] × the χ² machinery):
    // top-3 DISTINCTIVE terms per embedding cluster — one-vs-rest χ² in
    // exact scaled integers over the cluster-joined token counts, with a
    // positive-lift gate so anti-terms never label a cluster. The
    // corpus-exploration readout every clustering run needs ──
    "cluster_top_terms" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val assign = Similarity.kmeans(Tables.embeddings(s, dir), KmK, KmIters)
        .select(col("vec_id"), col("cluster"))
      val toks = Tables.documents(s, dir).select(
        col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
      val t = toks.join(assign, toks("doc_id") === assign("vec_id"))
        .select(col("cluster"), col("token"))
      val ct = t.groupBy(col("cluster"), col("token")).agg(count(lit(1)).as("a"))
      val tokAll = t.groupBy(col("token")).agg(count(lit(1)).as("c_all"))
      val cluAll = t.groupBy(col("cluster")).agg(count(lit(1)).as("na"))
      val grand = t.agg(count(lit(1)).as("n"))
      val d = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val scored = ct
        .join(tokAll, Seq("token"))
        .join(cluAll, Seq("cluster"))
        .crossJoin(broadcast(grand))
        .withColumn("b", col("c_all") - col("a"))
        .withColumn("nb", col("n") - col("na"))
        // all guards BEFORE the division (x div 0 is an error class in
        // the oracle engine, not a ranking input)
        .where(col("a") >= 10L && col("nb") > 0L &&
          col("n") - col("a") - col("b") > 0L &&
          col("a") * col("nb") > col("b") * col("na"))
        .withColumn("chi2_num", {
          val diff = d(col("a")) * d(col("nb")) - d(col("b")) * d(col("na"))
          d(col("n")) * diff * diff * d(lit(1000000L))
        })
        .withColumn("chi2_den", d(col("na")) * d(col("nb")) *
          (d(col("a")) + d(col("b"))) *
          (d(col("n")) - d(col("a")) - d(col("b"))))
        .withColumn("chi2_e6", expr("CAST(chi2_num div chi2_den AS LONG)"))
      val w = Window.partitionBy(col("cluster"))
        .orderBy(col("chi2_e6").desc, col("token"))
      scored.withColumn("rk", row_number().over(w)).where(col("rk") <= 3)
        .select(col("cluster"), col("rk").cast("long").as("rank"),
          col("token"), col("a").as("n_in_cluster"), col("chi2_e6"))
        .orderBy(col("cluster"), col("rank"))
    }),

    // ── VOCABULARY DRIFT between corpus slices ([[TextAnalysis
    // .vocabDrift]]): χ² one-token-vs-rest over occurrence counts, exact
    // integer statistic (decimal cross-multiplication + one truncating
    // div scaled 1e6), top drifted tokens with full deterministic
    // tiebreak — the corpus-monitoring signal between snapshots/sources ──
    "vocab_drift" -> ((s, dir) =>
      TextAnalysis.vocabDrift(
        Tables.documents(s, dir),
        pmod(col("doc_id"), lit(2)) === 0, col("text"), minCount = 20L)
        .orderBy(col("chi2_e6").desc, col("token"))
        .limit(15)),

    // ── GROUP-WISE top-k through the mergeable bounded aggregate
    // ([[graft.functions.TopKAgg]]): per-source top-5 tokens by exact
    // count. The window-rank idiom shuffles every (source, token, n) row
    // and sorts whole groups before discarding all but k; graft_topk
    // combines map-side down to ≤ k entries per group per partition, so
    // the exchange carries O(k · partitions) rows and the plan has NO
    // sort node on the vocabulary — the shape that survives a
    // vocabulary 1000× wider. Deterministic (n DESC, token ASC)
    // selection == the oracle's row_number replay, bit for bit ──
    // ── Misra–Gries heavy hitters ([[graft.functions.MisraGriesAgg]]):
    // ONE bounded-state aggregate pass over the RAW token occurrence
    // stream per source — no (source, token) pre-count shuffle, ≤ MgK
    // counters per map-side partial. The summary is merge-tree-dependent,
    // so the hashed output is the EXACT heavy-hitter set (ground-truth
    // leg) plus the three MG law booleans the sketch must satisfy
    // (underestimate-only, deficit ≤ (n−S)/(k+1), no-false-negative
    // coverage of every token with n_true·(k+1) > n_tot), all pinned TRUE
    // by the oracle — the theta/KLL law-boolean discipline ──
    "heavy_hitters_mg" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("token"))
      val mg = toks.groupBy(col("source"))
        .agg(graft.functions.FreqFunctions.misraGries(col("token"), MgK).as("summ"))
        .select(col("source"), explode(col("summ")).as("e"))
        .select(col("source"), col("e.item").as("token"), col("e.est").as("est"))
      val tf = toks.groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("n_true"))
      val tot = toks.groupBy(col("source")).agg(count(lit(1)).as("n_tot"))
      val sRet = mg.groupBy(col("source")).agg(sum(col("est")).as("s_ret"))
      val laws = mg
        .join(tf, Seq("source", "token"), "left")
        .join(tot, "source")
        .join(sRet, "source")
        .select(col("source"),
          (col("n_true").isNotNull && col("est") <= col("n_true") &&
            (col("n_true") - col("est")) * lit(MgK + 1L) <= (col("n_tot") - col("s_ret")))
            .as("ok"))
        .groupBy(col("source"))
        .agg((sum(when(col("ok"), 0L).otherwise(1L)) === 0L).as("bounds_ok"))
      tf.join(tot, "source")
        .where(col("n_true") * lit(MgK + 1L) > col("n_tot"))
        .join(mg.select(col("source"), col("token"), lit(true).as("in_mg")),
          Seq("source", "token"), "left")
        .join(laws, "source")
        .select(
          col("source"), col("token"), col("n_true"),
          coalesce(col("in_mg"), lit(false)).as("covered"), col("bounds_ok"))
        .orderBy(col("source"), col("token"))
    }),

    "top_tokens_grouped" -> ((s, dir) => {
      val tf = Tables.documents(s, dir)
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("n"))
      tf.groupBy(col("source"))
        .agg(graft.functions.TopKFunctions.topK(col("token"), col("n"), 5).as("top"))
        .select(col("source"), posexplode(col("top")))
        .select(
          col("source"), (col("pos") + 1).cast("long").as("rank"),
          col("col.item").as("token"), col("col.score").as("n"))
        .orderBy(col("source"), col("rank"))
    }),

    // ── the same heavy hitters through the COUNT-MIN SKETCH path
    // ([[CountMin]]): per-source sketches (4×256 cells each) merged by
    // bucket addition — the mergeable-summary route whose state is
    // corpus-size-independent — then the exact top-20 probed against the
    // merged sketch; every row asserts est >= exact (the one-sided CMS
    // guarantee) and the ε·N overcount bound, and the md5-derived bucket
    // hashing makes the whole sketch cell-exact cross-engine.
    // NOTE: ge_exact is a HARD guarantee of the sketch (holds on any
    // data); within_bound (overcount <= N·11/1024) is only a
    // with-high-probability bound — it holds on the driver fixtures at
    // every SF and is asserted as a FIXTURE-PINNED boolean, so a failure
    // after a fixture/SF change means re-derive the constant for the new
    // data, not that the engine regressed (an engine bug still trips
    // ge_exact or the cell-exact hash first) ──
    "top_tokens_cms" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("token"))
      val global = CountMin.merge(CountMin.sketch(toks, "token", Seq("source")))
      val exact = toks.groupBy(col("token")).agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("token")).limit(20)
      val total = toks.agg(count(lit(1)).as("n_total"))
      exact
        .join(CountMin.estimate(global, exact.select(col("token")), "token"), "token")
        .withColumnRenamed("est", "n_est")
        .crossJoin(broadcast(total))
        .select(
          col("token"), col("n_exact"), col("n_est"),
          (col("n_est") - col("n_exact")).as("overcount"),
          (col("n_est") >= col("n_exact")).as("ge_exact"),
          ((col("n_est") - col("n_exact")) * lit(1024L) <= col("n_total") * lit(11L))
            .as("within_bound"))
        .orderBy(col("n_exact").desc, col("token"))
    }),

    // ── TF-IDF top terms per doc. Ranking runs on INTEGER keys only
    // (tf desc, df asc, term asc) so row_number is deterministic and
    // FP-free; the tfidf double is an output value, rounded, never an
    // ordering key. N arrives via a broadcast one-row aggregate, not a
    // driver-side count ──
    "tfidf_top_terms" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val terms = docs.select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val total = docs.agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("tf").desc, col("df").asc, col("term"))
      tf.join(dfreq, "term")
        .crossJoin(broadcast(total))
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 3 && col("doc_id") < 50)
        .select(
          col("doc_id"), col("term"), col("tf"), col("df"),
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4).as("tfidf"),
          col("rank"))
        .orderBy(col("doc_id"), col("rank"))
    }),

    // ── SUBSTRING search via a char-trigram inverted index
    // ([[Retrieval.trigramSearch]], the pg_trgm/code-search shape): the
    // index join + all-trigrams filter provably supersets the answer, so
    // only candidates pay the exact contains() verification — never a
    // full-corpus LIKE scan; per-query candidate/match audit counts ride
    // the hash compare ──
    "substr_trigram_search" -> ((s, dir) =>
      Retrieval.trigramSearch(Tables.documents(s, dir), TrigramPhrases)),

    // ── lexical retrieval: Okapi BM25 top-10 for a fixed query set —
    // inverted-index shuffle (postings by term, broadcast query side),
    // quantized per-term contributions, doc-id tie-break ──
    "bm25_topk" -> ((s, dir) =>
      Retrieval.bm25TopK(Tables.documents(s, dir), Bm25Queries, k = 10)
        .orderBy(col("query_id"), col("rank"))),

    // ── PERSISTED BM25 inverted index: postings/idf/doc-lengths derived
    // ONCE and stored ([[Retrieval.bm25IndexWrite]]), every later query
    // batch scored from the tables without a corpus scan or idf
    // re-derivation — the serving shape, lexical twin of
    // `knn_ivf_persisted`; stored probe is bitwise the in-query ranker, so
    // the oracle is bm25_topk's own ──
    "bm25_topk_persisted" -> ((s, dir) => {
      val idx = scratch(dir, "bm25_index")
      Retrieval.bm25IndexWrite(Tables.documents(s, dir), idx)
      Retrieval.bm25TopKPersisted(s, idx, Bm25Queries, k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ── INCREMENTAL persisted BM25 ([[Retrieval.bm25IndexMerge]]): build
    // on the already-ingested 4/5 of the corpus, merge the new 1/5 as a
    // postings append + vocabulary-sized df merge (batch-sized work, no
    // corpus rescan). BM25 statistics are additive, so the merged index is
    // EXACTLY the from-scratch union index — the oracle is the full-corpus
    // ranking itself, and a merge that dropped or double-counted anything
    // hash-fails ──
    "bm25_topk_incr" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val idx = scratch(dir, "bm25_index_incr")
      Retrieval.bm25IndexWrite(docs.where(pmod(col("doc_id"), lit(5)) =!= 0), idx)
      Retrieval.bm25IndexMerge(docs.where(pmod(col("doc_id"), lit(5)) === 0), idx)
      Retrieval.bm25TopKPersisted(s, idx, Bm25Queries, k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ── hybrid seed expansion: "more docs like these seeds" — BM25 on the
    // seed's own tokens fused with exact cosine over the aligned embedding
    // table by INTEGER reciprocal-rank fusion; the data-selection pool
    // builder (lexical catches wording, dense catches semantics) ──
    "hybrid_seed_expand" -> ((s, dir) =>
      Retrieval.hybridSeedExpand(
        Tables.documents(s, dir), Tables.embeddings(s, dir),
        HybridSeeds, k = 10, poolK = 100)
        .orderBy(col("seed_id"), col("rank"))),

    // ── multimodal: REAL container-header decode — payloads synthesized
    // with valid PNG/JPEG/WAV headers ([[Multimodal.withMediaPayload]]),
    // sniffed by the codegen'd byte-walk kernel; the oracle rebuilds the
    // identical bytes in hex and replays the identical offset-chained reads
    // (JPEG segment-length hops, WAV chunk skips) in SQL ──
    "mm_decode_real" -> ((s, dir) => {
      Multimodal.withMediaPayload(Tables.documents(s, dir))
        .select(
          col("doc_id"), length(col("payload")).cast("long").as("n_bytes"),
          graft.functions.MediaKernels.decodeHeaderCol(col("payload")).as("m"))
        .select(
          col("doc_id"), col("m.format").as("format"), col("m.width").as("width"),
          col("m.height").as("height"), col("m.channels").as("channels"),
          col("m.sample_rate").as("sample_rate"), col("m.bits").as("bits"),
          col("n_bytes"))
        .orderBy(col("doc_id"))
    }),

    // ── multimodal INGESTION round-trip through Spark's binaryFile source
    // ([[graft.sources.BinaryFiles]]): the synthesized media payloads are
    // scattered one-FILE-per-asset (the crawl/object-store layout), read
    // back via format("binaryFile") with a glob filter, the asset id
    // recovered from the path, and the real header sniffer run over
    // `content` — n_bytes comes from the source's file-system `length`
    // metadata, so the hash match also pins metadata == payload size
    // through the file round-trip. Oracle: mm_decode_real's byte replay ──
    "binaryfile_ingest" -> ((s, dir) => {
      val files = scratch(dir, "media_files")
      graft.sources.BinaryFiles.writeFiles(
        Multimodal.withMediaPayload(Tables.documents(s, dir)),
        "doc_id", "payload", files)
      graft.sources.BinaryFiles.readFiles(s, files)
        .select(
          col("id").as("doc_id"), col("file_bytes").as("n_bytes"),
          graft.functions.MediaKernels.decodeHeaderCol(col("content")).as("m"))
        .select(
          col("doc_id"), col("m.format").as("format"), col("m.width").as("width"),
          col("m.height").as("height"), col("m.channels").as("channels"),
          col("m.sample_rate").as("sample_rate"), col("m.bits").as("bits"),
          col("n_bytes"))
        .orderBy(col("doc_id"))
    }),

    // ── Unicode NFC normalization audit: normalize-before-anything — a
    // multilingual pipeline must compose `e + COMBINING ACUTE` and `é` to
    // ONE form or they dedup/tokenize/hash as different text. The corpus
    // is already-NFC, so the fixture appends deterministic DECOMPOSED
    // suffixes to a doc subset (the withMediaPayload discipline: both
    // engines build identical inputs); output flags which docs
    // normalization changed, code-point lengths before/after, and the
    // normalized md5 — JDK Normalizer vs the oracle's utf8proc
    // nfc_normalize, two independent Unicode implementations hash-matched ──
    "text_nfc_audit" -> ((s, dir) => {
      val aug = Tables.documents(s, dir).select(
        col("doc_id"),
        when(col("doc_id") % 4 === 0, concat(col("text"), lit(" cafe\u0301")))
          .when(col("doc_id") % 4 === 1, concat(col("text"), lit(" A\u030A")))
          .otherwise(col("text")).as("raw"))
      aug
        .select(
          col("doc_id"), col("raw"),
          graft.functions.TextKernels.nfcCol(col("raw")).as("nfc"))
        .select(
          col("doc_id"),
          (col("nfc") =!= col("raw")).as("changed"),
          length(col("raw")).cast("long").as("len_raw"),
          length(col("nfc")).cast("long").as("len_nfc"),
          md5(col("nfc")).as("nfc_md5"))
        .orderBy(col("doc_id"))
    }),

    // ── multimodal → relational composition: the decoded header feeding a
    // per-format rollup (format routing — what a real media pipeline
    // partitions its downstream processing on); integer sums so the
    // cross-engine hash is exact, null fields (audio has no dims, images
    // no sample rate) dropped by SQL sum semantics identically ──
    "mm_format_stats" -> ((s, dir) => {
      Multimodal.withMediaPayload(Tables.documents(s, dir))
        .select(
          length(col("payload")).cast("long").as("n_bytes"),
          graft.functions.MediaKernels.decodeHeaderCol(col("payload")).as("m"))
        .groupBy(col("m.format").as("format"))
        .agg(
          count(lit(1)).as("n_docs"), sum(col("n_bytes")).as("sum_bytes"),
          sum(col("m.width")).as("sum_width"), sum(col("m.height")).as("sum_height"),
          sum(col("m.channels")).as("sum_channels"),
          sum(col("m.sample_rate")).as("sum_rate"), sum(col("m.bits")).as("sum_bits"))
        .orderBy(col("format"))
    }),

    // ── multimodal: frame sampling over binary payloads ──
    // ── REAL frame iteration over an animated-GIF container
    // ([[graft.functions.VideoKernels]]): the codegen'd block walk skips
    // global/local color tables by their descriptor bits and data
    // sub-blocks by their length prefixes — the access pattern of a real
    // demuxer — and emits canvas geometry, frame count, and per-frame
    // delays. Oracle replays the metadata from the generative formula
    // while Spark walks the real bytes (two independent implementations;
    // the non-stub counterpart of mm_frame_hashes' fixed-size chunking) ──
    "mm_gif_frames" -> ((s, dir) => {
      Multimodal.withGifPayload(Tables.documents(s, dir))
        .select(col("doc_id"),
          graft.functions.VideoKernels.gifFramesCol(col("payload")).as("m"))
        .select(col("doc_id"), col("m.width").as("width"), col("m.height").as("height"),
          col("m.n_frames").as("n_frames"), col("m.total_delay_cs").as("total_delay_cs"))
        .orderBy(col("doc_id"))
    }),

    // ── frame-addressed SAMPLING from the real container walk: every 2nd
    // frame of each animation, with its true delay — one row per sampled
    // frame, payload projected away before the explode ──
    "mm_gif_frame_sample" -> ((s, dir) => {
      Multimodal.withGifPayload(Tables.documents(s, dir))
        .select(col("doc_id"),
          graft.functions.VideoKernels.gifFramesCol(col("payload")).as("m"))
        .select(col("doc_id"), posexplode(col("m.delays_cs")).as(Seq("frame_no", "delay_cs")))
        .where(pmod(col("frame_no"), lit(2)) === 0)
        .select(col("doc_id"), col("frame_no").cast("long").as("frame_no"), col("delay_cs"))
        .orderBy(col("doc_id"), col("frame_no"))
    }),

    "mm_frame_hashes" -> ((s, dir) =>
      Multimodal.frameHashes(Multimodal.withPayload(Tables.documents(s, dir)))
        .orderBy(col("doc_id"), col("frame_no"))),

    // ── SHOT-BOUNDARY detection on DECODED PIXELS ([[Multimodal
    // .withVideoFrames]] × [[Multimodal.sceneCuts]]): every 5th document
    // becomes a video of MmFrames real PPM frames (scene field redrawn
    // every MmSceneLen frames, bounded intra-scene wiggle), each frame
    // decoded by the REAL codegen'd dHash kernel, consecutive-frame
    // Hamming cut detection, and the running cut count as the shot
    // index. The oracle recomputes signatures from the cell-field
    // arithmetic — Hamming is bit-permutation invariant, so the two
    // engines never need to agree on packing, only on the 64 comparison
    // bits. The repartition is the decode-once barrier from dedup_phash ──
    "mm_scene_cuts" -> ((s, dir) => {
      val vids = Tables.documents(s, dir)
        .where(pmod(col("doc_id"), lit(5)) === 0).select(col("doc_id"))
      val frames = Multimodal.withVideoFrames(vids, MmFrames, MmSceneLen)
        .select(col("doc_id"), col("frame_no"),
          graft.functions.ImageKernels.ppmDhashCol(col("payload")).as("dhash"))
        .repartition(col("doc_id"))
      Multimodal.sceneCuts(frames, col("dhash"), cutThreshold = MmCutThresh)
        .orderBy(col("doc_id"), col("frame_no"))
    }),

    // ── multimodal → similarity composition: payload → stub feature vector
    // → exact cosine top-k, the pipeline shape a real media embedder slots
    // into (checksum staged once; each row's features feed the same
    // codegen'd-dot-product KNN as the embeddings table) ──
    "mm_feature_knn" -> ((s, dir) => {
      val feats = Multimodal.withPayload(Tables.documents(s, dir))
        .select(col("doc_id"), md5(col("payload")).as("checksum"))
        .select(
          col("doc_id"),
          Multimodal.fakeFeaturesFromChecksum(col("checksum"), MmFeatDim).as("features"))
      Similarity.bruteForceKnn(
        feats.where(col("doc_id") < 10), feats, k = MmFeatK,
        idCol = "doc_id", vecCol = "features")
        .orderBy(col("query_id"), col("rank"))
    })
  )

  /** Winnowing fingerprint CTE (`wn(doc_id, fps)`) — replays
    * Dedup.winnowFingerprints: ORDERED (non-distinct) n-grams, md5-derived
    * 32-bit hash per gram, min per w-wide window, distinct. Gram width and
    * window come from the same WinnowN/WinnowW constants the Spark queries
    * pass; shared by the per-print dump and the overlap-pairs oracle.
    */
  private lazy val winnowCte: String = {
    val gramExpr = (0 until WinnowN).map(j => s"wd[i+$j]").mkString(" || ' ' || ")
    s"""WITH toks AS (SELECT doc_id, $toksSql AS wd FROM documents),
       |g AS (
       |  SELECT doc_id, [$gramExpr for i in range(1, len(wd) - ${WinnowN - 2})] AS grams
       |  FROM toks WHERE len(wd) >= $WinnowN
       |), h AS (
       |  SELECT doc_id, [('0x' || substr(md5(x), 1, 8))::BIGINT for x in grams] AS hs FROM g
       |), wn AS (
       |  SELECT doc_id,
       |         list_distinct([list_min(hs[i:i+${WinnowW - 1}])
       |                        for i in range(1, len(hs) - ${WinnowW - 2})]) AS fps
       |  FROM h WHERE len(hs) >= $WinnowW
       |)""".stripMargin
  }

  /** Chunk-grid CTE chain through `sel(doc_id, chunk_idx, chunk)` —
    * replays [[TextAnalysis.chunkDocs]]' stride grid; shared by
    * `chunk_docs` and `dedup_chunks` so the grid can't drift.
    */
  private lazy val chunkCtes: String =
    s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents WHERE $norm <> ''),
       |n AS (
       |  SELECT doc_id, w,
       |         greatest(CAST(ceil(CAST(len(w) - $ChunkTokens AS DOUBLE) / $ChunkTokens) AS INT), 0) + 1 AS nc
       |  FROM t
       |),
       |c AS (SELECT doc_id, w, unnest(range(nc)) AS chunk_idx FROM n),
       |sel AS (
       |  SELECT doc_id, chunk_idx,
       |         w[chunk_idx * $ChunkTokens + 1 : chunk_idx * $ChunkTokens + $ChunkTokens] AS chunk
       |  FROM c
       |)""".stripMargin

  /** doc_pagerank replay: winnow overlap pairs → symmetric weighted edges →
    * one CTE per PageRank iteration in PURE BIGINT arithmetic (`//` is
    * DuckDB floor division; all operands nonnegative, so it equals Spark's
    * truncating `div`). No floats anywhere → bitwise equality per
    * iteration, the integer-state sibling of the quantized kmeans replay.
    */
  /** The winnow-pair graph + unrolled integer PageRank chain as a CTE list
    * (no WITH prefix — `winnowCte` opens it); ends at `r$PrIters(node,
    * rank)`. Shared by `doc_pagerank` and the canonical-selection
    * composition so the replay can't drift between them.
    */
  private def pagerankChainCtes: String = pagerankChainCtesWith(
    s"t AS (SELECT node, (($PrScale // n) * ${PrDen - PrNum}) // $PrDen AS tele FROM nd CROSS JOIN c)")

  /** The winnow graph base: symmetric weighted edges, out-weights, node
    * set, count, and the uniform-init `r0` — everything before teleport.
    */
  private val pagerankGraphCtes: String =
    s"""f AS (SELECT doc_id, unnest(fps) AS fp FROM wn),
       |p AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS w
       |      FROM f l JOIN f r ON l.fp = r.fp AND l.doc_id < r.doc_id
       |      GROUP BY 1, 2 HAVING count(*) >= 2),
       |e AS (SELECT a AS src, b AS dst, w FROM p
       |      UNION ALL SELECT b, a, w FROM p),
       |ws AS (SELECT src, CAST(sum(w) AS BIGINT) AS wsum FROM e GROUP BY 1),
       |nd AS (SELECT DISTINCT src AS node FROM e),
       |c AS (SELECT count(*) AS n FROM nd),
       |r0 AS (SELECT node, $PrScale // n AS rank FROM nd CROSS JOIN c)""".stripMargin

  /** The iteration CTEs with every rank/teleport name suffixed — lets one
    * oracle hold several independent chains (the per-seed PPR union) over
    * the SHARED graph base; all chains start from the shared `r0`.
    */
  private def pagerankIterCtes(sfx: String): String = (1 to PrIters).map { k =>
    val prev = if (k == 1) "r0" else s"r${k - 1}$sfx"
    s"""r$k$sfx AS (
       |  SELECT nd.node,
       |         t$sfx.tele + (($PrNum * coalesce(inc.s, 0)) // $PrDen) AS rank
       |  FROM nd JOIN t$sfx ON t$sfx.node = nd.node
       |  LEFT JOIN (SELECT e.dst AS node,
       |                    CAST(sum((r.rank * e.w) // ws.wsum) AS BIGINT) AS s
       |             FROM e JOIN $prev r ON r.node = e.src
       |                    JOIN ws ON ws.src = e.src
       |             GROUP BY 1) inc ON inc.node = nd.node
       |)""".stripMargin
  }.mkString(",\n")

  /** The chain with the teleport CTE swapped in: `teleCte` must define
    * `t(node, tele)` — constant per node for classic PageRank, seed-masked
    * for the personalized variant. One iteration template serves both.
    */
  private def pagerankChainCtesWith(teleCte: String): String =
    s"""$pagerankGraphCtes,
       |$teleCte,
       |${pagerankIterCtes("")}""".stripMargin

  /** hybrid_trimodal replay: the shared winnow graph base, THREE suffixed
    * single-seed PPR chains (seed = the i-th smallest graph node, teleport
    * `((scale // 1) * (den-num)) // den` exactly as the Spark side
    * computes it for one present seed), the BM25 body with the seeds'
    * tokens as queries, the cosine pool, and the three-way integer RRF.
    */
  private def trimodalOracleSql: String = {
    val chains = Seq(("_a", 1), ("_b", 2), ("_c", 3))
    val teleSeed = s"(($PrScale // 1) * ${PrDen - PrNum}) // $PrDen"
    val pprChains = chains.map { case (sfx, ord) =>
      s"""t$sfx AS (SELECT nd.node,
         |             CASE WHEN nd.node = (SELECT node FROM sd WHERE i = $ord)
         |                  THEN $teleSeed ELSE 0 END AS tele
         |      FROM nd),
         |${pagerankIterCtes(sfx)}""".stripMargin
    }.mkString(",\n")
    val pprUnion = chains.map { case (sfx, ord) =>
      s"""SELECT (SELECT node FROM sd WHERE i = $ord) AS query_id,
         |                node AS doc_id, rank FROM r$PrIters$sfx""".stripMargin
    }.mkString("\n       UNION ALL ")
    def contrib(alias: String) =
      s"(CASE WHEN $alias IS NULL THEN 0 ELSE 1000000000 // (60 + $alias) END)"
    s"""$winnowCte,
       |$pagerankGraphCtes,
       |sd AS (SELECT node, CAST(row_number() OVER (ORDER BY node) AS INT) AS i
       |       FROM (SELECT node FROM nd ORDER BY node LIMIT $PprSeeds)),
       |$pprChains,
       |pru AS ($pprUnion),
       |pr AS (SELECT query_id, doc_id, rnk AS ppr_rank FROM (
       |         SELECT query_id, doc_id,
       |                CAST(row_number() OVER (PARTITION BY query_id
       |                     ORDER BY rank DESC, doc_id) AS BIGINT) AS rnk
       |         FROM pru WHERE doc_id != query_id)
       |       WHERE rnk <= 100),
       |${bm25CtesBody("q AS (SELECT DISTINCT doc_id AS query_id, term FROM tk WHERE doc_id IN (SELECT node FROM sd))")},
       |lr AS (SELECT query_id, doc_id, rank FROM (
       |         SELECT query_id, doc_id, CAST(row_number() OVER (
       |           PARTITION BY query_id ORDER BY score DESC, doc_id) AS BIGINT) AS rank
       |         FROM sc WHERE doc_id != query_id)
       |       WHERE rank <= 100),
       |em AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |nv AS (SELECT vec_id, v, sqrt(list_sum([x * x for x in v])) AS nrm FROM em),
       |pv AS (SELECT q.vec_id AS query_id, cc.vec_id AS doc_id,
       |              list_sum([q.v[i] * cc.v[i] for i in range(1, len(q.v) + 1)])
       |                / (q.nrm * cc.nrm) AS cos
       |       FROM nv q JOIN nv cc
       |         ON q.vec_id IN (SELECT node FROM sd) AND cc.vec_id != q.vec_id),
       |vr AS (SELECT query_id, doc_id, rank FROM (
       |         SELECT query_id, doc_id, CAST(row_number() OVER (
       |           PARTITION BY query_id ORDER BY cos DESC, doc_id) AS BIGINT) AS rank
       |         FROM pv)
       |       WHERE rank <= 100),
       |lv AS (
       |  SELECT coalesce(l.query_id, v.query_id) AS qid,
       |         coalesce(l.doc_id, v.doc_id) AS did,
       |         l.rank AS lrnk, v.rank AS vrnk
       |  FROM lr l FULL JOIN vr v ON l.query_id = v.query_id AND l.doc_id = v.doc_id),
       |fu AS (
       |  SELECT coalesce(lv.qid, p3.query_id) AS seed_id,
       |         coalesce(lv.did, p3.doc_id) AS doc_id,
       |         coalesce(lv.lrnk, 0) AS lex_rank,
       |         coalesce(lv.vrnk, 0) AS vec_rank,
       |         coalesce(p3.ppr_rank, 0) AS ppr_rank,
       |         ${contrib("lv.lrnk")} + ${contrib("lv.vrnk")}
       |           + ${contrib("p3.ppr_rank")} AS rrf
       |  FROM lv FULL JOIN pr p3 ON lv.qid = p3.query_id AND lv.did = p3.doc_id)
       |SELECT seed_id, doc_id, lex_rank, vec_rank, ppr_rank, rrf, rank FROM (
       |  SELECT *, CAST(row_number() OVER (
       |    PARTITION BY seed_id ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
       |  FROM fu)
       |WHERE rank <= 10 ORDER BY seed_id, rank""".stripMargin
  }

  /** seed_ppr replay: teleport mass only to the PprSeeds smallest graph
    * nodes (present by construction), everything else identical.
    */
  private def seedPprOracleSql: String =
    s"""$winnowCte,
       |${pagerankChainCtesWith(
        s"""sd AS (SELECT node FROM nd ORDER BY node LIMIT $PprSeeds),
           |t AS (SELECT nd.node,
           |             CASE WHEN nd.node IN (SELECT node FROM sd)
           |                  THEN (($PrScale // $PprSeeds) * ${PrDen - PrNum}) // $PrDen
           |                  ELSE 0 END AS tele
           |      FROM nd)""".stripMargin)}
       |SELECT node AS doc_id, rank FROM r$PrIters ORDER BY doc_id""".stripMargin

  private def pagerankOracleSql: String =
    s"""$winnowCte,
       |$pagerankChainCtes
       |SELECT node AS doc_id, rank FROM r$PrIters ORDER BY doc_id""".stripMargin

  /** dedup_canonical_rank replay: min-reachable-id components over the SAME
    * winnow graph (recursive reachability seeded from GRAPH NODES) joined
    * with the PageRank chain; canonical member = argmax rank, ties to the
    * smaller id. All integer, so the whole composition replays bitwise.
    */
  private def canonicalRankOracleSql: String =
    s"""${winnowCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |$pagerankChainCtes,
       |reach(a, b) AS (
       |  SELECT node, node FROM nd
       |  UNION
       |  SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src
       |),
       |cm AS (SELECT a AS node, min(b) AS component_id FROM reach GROUP BY a)
       |SELECT component_id, node AS canonical_doc_id, n_members, rank AS canonical_rank
       |FROM (
       |  SELECT cm.component_id, r.node, r.rank,
       |         row_number() OVER (PARTITION BY cm.component_id
       |                            ORDER BY r.rank DESC, r.node) AS rn,
       |         CAST(count(*) OVER (PARTITION BY cm.component_id) AS BIGINT) AS n_members
       |  FROM cm JOIN r$PrIters r ON r.node = cm.node)
       |WHERE rn = 1 ORDER BY component_id""".stripMargin

  /** BM25 CTE chain through `sc(query_id, doc_id, score)`, parameterized by
    * the query-terms CTE (named `q`). Expression shapes mirror
    * [[Retrieval.bm25Scores]] EXACTLY — same literal forms (`(1.2 + 1)`,
    * `(1.0 - 0.75)`), same association order, idf and both score stages
    * quantized to 6 decimals — so scores agree cross-engine to the same
    * tolerance class as the lm_perplexity replay.
    */
  private def bm25Ctes(qCte: String): String = s"WITH ${bm25CtesBody(qCte)}"

  /** The same chain without the WITH keyword — embeddable after other CTE
    * lists (the trimodal oracle). Defines tk, tf, dl, st, idf, q, sc.
    */
  private def bm25CtesBody(qCte: String): String =
    s"""tk AS (
       |  SELECT doc_id, term FROM (SELECT doc_id, unnest($toksSql) AS term FROM documents)
       |  WHERE length(term) > 0
       |),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tk GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tk GROUP BY 1),
       |st AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n,
       |              (SELECT CAST(sum(dl) AS DOUBLE) / count(*) FROM dl) AS avgdl),
       |idf AS (SELECT term, round(ln(1.0 + (n - df + 0.5) / (df + 0.5)), 6) AS idf
       |        FROM (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1)
       |        CROSS JOIN st),
       |$qCte,
       |sc AS (
       |  SELECT q.query_id, tf.doc_id,
       |         round(sum(round(
       |           idf.idf * (tf.tf * (CAST(1.2 AS DOUBLE) + 1)) /
       |             (tf.tf + CAST(1.2 AS DOUBLE) *
       |               ((1.0 - CAST(0.75 AS DOUBLE)) + CAST(0.75 AS DOUBLE) * dl.dl / st.avgdl)), 6)), 6) AS score
       |  FROM q JOIN tf USING (term) JOIN idf USING (term)
       |       JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st
       |  GROUP BY 1, 2
       |)""".stripMargin

  private def bm25TopkOracleSql: String = {
    val vals = Bm25Queries
      .flatMap { case (qid, text) =>
        text.split("\\s+").filter(_.nonEmpty).distinct.map(t => s"('$qid', '$t')")
      }
      .mkString(", ")
    s"""${bm25Ctes(s"q AS (SELECT * FROM (VALUES $vals) AS t(query_id, term))")}
       |SELECT query_id, doc_id, score, rank FROM (
       |  SELECT *, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS BIGINT) AS rank
       |  FROM sc)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** ingest_batch replay: the streamed set is `doc_id % 50 <> 0`; the
    * near-dup leg reuses the minhash band chain (corpus = ALL documents,
    * self excluded, signature-verified at 0.5 — ratios are dyadic
    * multiples of 1/MhK, so the Spark side's round(…, 6) is the identity
    * and the raw comparison here matches bitwise); exact contamination
    * reuses the shared gram hash space; the DSIR and BM25 legs embed
    * their own full oracles as SCOPED subquery CTE chains (DuckDB WITH
    * inside a parenthesized subquery — name collisions with the outer
    * chain are impossible); the two stream-only guarantees are
    * law-asserted TRUE.
    */
  private def ingestBatchOracleSql: String = {
    val vals = Bm25Queries
      .flatMap { case (qid, text) =>
        text.split("\\s+").filter(_.nonEmpty).distinct.map(t => s"('$qid', '$t')")
      }
      .mkString(", ")
    val bm25Nested =
      s"""WITH ${bm25CtesBody(s"q AS (SELECT * FROM (VALUES $vals) AS t(query_id, term))")}
         |SELECT query_id, doc_id, score FROM sc""".stripMargin
    s"""$gramsCte,
       |${minhashCandCte()},
       |dup AS (
       |  SELECT l.doc_id, CAST(count(DISTINCT r.doc_id) AS BIGINT) AS n_dup
       |  FROM banded l
       |  JOIN banded r ON l.band = r.band AND l.band_key = r.band_key AND r.doc_id <> l.doc_id
       |  JOIN sigs sa ON sa.doc_id = l.doc_id
       |  JOIN sigs sb ON sb.doc_id = r.doc_id
       |  WHERE l.doc_id % 50 <> 0
       |    AND CAST(len(list_filter([sa.sig[i] = sb.sig[i] for i in range(1, ${MhK + 1})], x -> x)) AS DOUBLE) / $MhK >= 0.5
       |  GROUP BY l.doc_id
       |),
       |hh AS (
       |  SELECT doc_id,
       |         list_distinct([('0x' || substr(md5(x), 1, 8))::BIGINT for x in g]) AS hs
       |  FROM grams
       |),
       |ev AS (SELECT DISTINCT h FROM (SELECT unnest(hs) AS h FROM hh WHERE doc_id % 50 = 0)),
       |conta AS (
       |  SELECT doc_id, count(*) AS ns
       |  FROM (SELECT doc_id, unnest(hs) AS h FROM hh WHERE doc_id % 50 <> 0) tr
       |  JOIN ev USING (h) GROUP BY doc_id
       |),
       |ds AS (SELECT * FROM (
       |$dsirOracleSql
       |) dsq),
       |bb AS (
       |  SELECT doc_id, query_id AS bm25_best_q, score AS bm25_best FROM (
       |    SELECT t.*, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, query_id) AS rn
       |    FROM (
       |$bm25Nested
       |    ) t
       |  ) WHERE rn = 1
       |)
       |SELECT d.doc_id,
       |       CAST(coalesce(dup.n_dup, 0) AS BIGINT) AS n_dup,
       |       coalesce(conta.ns, 0) >= $DeconMinShared AS quarantined_exact,
       |       TRUE AS decon_ok,
       |       coalesce(ds.log_weight, 0.0) AS log_weight,
       |       coalesce(ds.selected, FALSE) AS selected,
       |       coalesce(bb.bm25_best_q, '') AS bm25_best_q,
       |       coalesce(bb.bm25_best, 0.0) AS bm25_best,
       |       (coalesce(dup.n_dup, 0) = 0 AND coalesce(conta.ns, 0) < $DeconMinShared
       |        AND coalesce(ds.selected, FALSE)) AS admitted,
       |       TRUE AS cms_ok
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d
       |LEFT JOIN dup USING (doc_id)
       |LEFT JOIN conta USING (doc_id)
       |LEFT JOIN ds USING (doc_id)
       |LEFT JOIN bb USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** hybrid_seed_expand replay: BM25 pool (seed tokens as query) + cosine
    * pool (the knn_brute_cosine shape restricted to the seeds), fused by
    * integer reciprocal-rank: `1000000000 // (60 + rank)` summed over the
    * rankers present — the fusion arithmetic is all-BIGINT, so given the
    * two pools the fused ranking replays bitwise.
    */
  private def hybridOracleSql: String = {
    val seedList = HybridSeeds.mkString(", ")
    s"""${bm25Ctes(s"q AS (SELECT DISTINCT doc_id AS query_id, term FROM tk WHERE doc_id IN ($seedList))")},
       |lr AS (SELECT query_id, doc_id, rank FROM (
       |         SELECT query_id, doc_id, CAST(row_number() OVER (
       |           PARTITION BY query_id ORDER BY score DESC, doc_id) AS BIGINT) AS rank
       |         FROM sc WHERE doc_id != query_id)
       |       WHERE rank <= 100),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |nv AS (SELECT vec_id, v, sqrt(list_sum([x * x for x in v])) AS nrm FROM e),
       |pv AS (SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
       |              list_sum([q.v[i] * c.v[i] for i in range(1, len(q.v) + 1)])
       |                / (q.nrm * c.nrm) AS cos
       |       FROM nv q JOIN nv c ON q.vec_id IN ($seedList) AND c.vec_id != q.vec_id),
       |vr AS (SELECT query_id, doc_id, rank FROM (
       |         SELECT query_id, doc_id, CAST(row_number() OVER (
       |           PARTITION BY query_id ORDER BY cos DESC, doc_id) AS BIGINT) AS rank
       |         FROM pv)
       |       WHERE rank <= 100),
       |fu AS (
       |  SELECT coalesce(l.query_id, v.query_id) AS seed_id,
       |         coalesce(l.doc_id, v.doc_id) AS doc_id,
       |         coalesce(l.rank, 0) AS lex_rank,
       |         coalesce(v.rank, 0) AS vec_rank,
       |         (CASE WHEN l.rank IS NULL THEN 0 ELSE 1000000000 // (60 + l.rank) END)
       |           + (CASE WHEN v.rank IS NULL THEN 0 ELSE 1000000000 // (60 + v.rank) END) AS rrf
       |  FROM lr l FULL JOIN vr v ON l.query_id = v.query_id AND l.doc_id = v.doc_id)
       |SELECT seed_id, doc_id, lex_rank, vec_rank, rrf, rank FROM (
       |  SELECT *, CAST(row_number() OVER (
       |    PARTITION BY seed_id ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
       |  FROM fu)
       |WHERE rank <= 10 ORDER BY seed_id, rank""".stripMargin
  }

  /** Banded-LSH embedding near-dup pairs (vec_a, vec_b, cosine), no final
    * ORDER BY — usable standalone (the `dedup_embedding_cosine_lsh` oracle)
    * or nested as a CTE body (the components oracle).
    */
  private lazy val embLshPairsSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_sum([x * x for x in v])) AS nrm FROM e),
       |bk AS (
       |  SELECT vec_id, band,
       |         sum(CASE WHEN list_sum([v[j] * (('0x' || substr(md5(CAST(band * $NdPlanes + p AS VARCHAR) || '_' || CAST(j - 1 AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0 - 0.5) for j in range(1, len(v) + 1)]) >= 0
       |                  THEN (1::BIGINT << p) ELSE 0 END) AS bucket
       |  FROM n, unnest(range(0, $NdBands)) AS t(band), unnest(range(0, $NdPlanes)) AS s(p)
       |  GROUP BY vec_id, band
       |),
       |cand AS (
       |  SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b
       |  FROM bk l JOIN bk r ON l.band = r.band AND l.bucket = r.bucket AND l.vec_id < r.vec_id
       |)
       |SELECT c.vec_a, c.vec_b,
       |       round(list_sum([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)]) / (a.nrm * b.nrm), 6) AS cosine
       |FROM cand c JOIN n a ON a.vec_id = c.vec_a JOIN n b ON b.vec_id = c.vec_b
       |WHERE list_sum([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)]) / (a.nrm * b.nrm) >= 0.4""".stripMargin

  /** Curation-pipeline CTE chain through `surv`/`reps` (survivors + their
    * per-component min-id representative), parameterized by the near-dup
    * pairs fragment and an optional doc filter applied at the `surv` stage
    * (e.g. restricting to the training pool in `prepare_corpus` — pairs
    * must then be restricted to the same pool by the caller's `pairsCte`).
    */
  private def curateCtes(pairsCte: String, docFilter: String = "TRUE"): String = {
    val scoreExprs = TextAnalysis.LangMarkers.map { case (lang, ms) =>
      val list = ms.map(m => s"'$m'").mkString(", ")
      s"len(list_filter(w, x -> x IN ($list))) AS s_$lang"
    }.mkString(",\n         ")
    val langs = TextAnalysis.LangMarkers.map(_._1)
    val enCond = langs.drop(1).map(o => s"s_en >= s_$o").mkString(" AND ")
    s"""WITH RECURSIVE
       |t AS (SELECT doc_id, text, $toksSql AS w FROM documents),
       |grams AS (
       |  SELECT doc_id,
       |         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |                        for i in range(1, len(w) - 1)]) AS g
       |  FROM t WHERE len(w) >= 3
       |),
       |$pairsCte,
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs
       |),
       |reach(a, b) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
       |),
       |comp AS (SELECT a AS doc_id, min(b) AS component_id FROM reach GROUP BY a),
       |q AS (
       |  SELECT doc_id,
       |         round(least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * 0.4
       |             + least((CAST(len(list_filter(w, x -> x IN ($stopList))) AS DOUBLE) / len(w)) * 4.0, 1.0) * 0.3
       |             + greatest(1.0 - (CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)) * 5.0, 0.0) * 0.3, 6) AS quality,
       |         $scoreExprs
       |  FROM t
       |),
       |surv AS (
       |  SELECT q.doc_id, q.quality, comp.component_id
       |  FROM q JOIN comp ON q.doc_id = comp.doc_id
       |  WHERE q.quality >= 0.5
       |    AND greatest(${langs.map("s_" + _).mkString(", ")}) > 0 AND $enCond
       |    AND ($docFilter)
       |),
       |reps AS (SELECT component_id, min(doc_id) AS rep FROM surv GROUP BY component_id)""".stripMargin
  }

  private def curateOracle(pairsCte: String): String =
    s"""${curateCtes(pairsCte)}
       |SELECT s.doc_id, s.quality
       |FROM surv s JOIN reps r ON s.doc_id = r.rep
       |ORDER BY s.doc_id""".stripMargin

  /** Transitive closure via recursive CTE (UNION dedups, so it terminates),
    * then min reachable id per doc — the declarative twin of BOTH Spark
    * implementations (min-label propagation and star contraction); pairs
    * are the same exact-Jaccard join.
    */
  private lazy val componentsOracle: String =
    s"""${gramsCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM grams a JOIN grams b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
       |        / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.3
       |),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM pairs
       |),
       |reach(a, b) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
       |)
       |SELECT a AS doc_id, min(b) AS component_id
       |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin

  /** IVF replay shared by `knn_ivf_cosine` and `knn_ivf_persisted`: the
    * stored index's centroids and assignment are BITWISE the deterministic
    * fit's own (SimilaritySpec pins it), so one replay serves both — the
    * shared kmeans chain, final assignment as `fin` for BOTH sides
    * (queries are corpus members, so their cell is the fitted one), then
    * the semdedup-style raw-vector cosine ranked within the probed cell.
    */
  /** Final-assignment + probed-cell exact-cosine ranking + `ann` CTE shared
    * by the IVF oracles — the probe side is identical whether the quantizer
    * was fit on the whole corpus or frozen from a subset.
    */
  private lazy val ivfAnnSql: String =
    s""",
       |fin AS (
       |${kmeansAssignFrom(s"c$KmIters")}
       |),
       |p AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         list_sum([nq.r[i] * nc.r[i] for i in range(1, len(nq.r) + 1)]) / (nq.rn * nc.rn) AS cos
       |  FROM fin q
       |  JOIN fin c ON q.cluster = c.cluster AND c.vec_id <> q.vec_id
       |  JOIN en nq ON nq.vec_id = q.vec_id
       |  JOIN en nc ON nc.vec_id = c.vec_id
       |  WHERE q.vec_id < 10
       |), r AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM p
       |),
       |ann AS (
       |  SELECT query_id, neighbor_id, round(cos, 6) AS cosine, CAST(rank AS BIGINT) AS rank
       |  FROM r WHERE rank <= 5
       |)""".stripMargin

  private lazy val knnIvfCosineOracle: String =
    kmeansCtesSql(KmK, KmIters) + ivfAnnSql + annRecallTailSql(IvfRecallFloor)

  /** knn_ivf_persisted_incr replay: the quantizer is FIT on the already-
    * indexed 4/5 of the corpus (`vec_id % 5 <> 0`), the appended batch is
    * assigned against those frozen centroids, and the probe covers the
    * union — exactly the write(A)+append(B) index state, which the append
    * equivalence law makes bitwise a one-shot frozen-quantizer assignment.
    */
  private lazy val knnIvfIncrOracle: String =
    kmeansCtesSql(KmK, KmIters, fitWhere = "vec_id % 5 <> 0") + ivfAnnSql +
      annRecallTailSql(IvfIncrRecallFloor)

  /** Shared dedup_phash replay chain: generative cell field (md5 first
    * byte per (group, cx, cy) + the variant perturbations — exactly
    * [[graft.operators.Multimodal.withPpmPayload]]'s formula; pixels are
    * constant within a 2x2 cell, so the engine's pooled sum is 4x the
    * cell byte and the adjacent-cell comparisons replay on the bytes
    * directly), 64 comparison bits, and the 4x16-bit band keys (shifts
    * <= 15 — no 64-bit overflow anywhere). The engine side fingerprints
    * the DECODED BYTES through the codegen'd PPM parser; this chain
    * recomputes from arithmetic — two independent implementations.
    */
  private lazy val phashCtes: String =
    """WITH base AS (SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v FROM documents),
      |cells AS (
      |  SELECT doc_id,
      |    [ (('0x' || substr(md5(g::VARCHAR || '_' || (k % 9)::VARCHAR || '_' || (k // 9)::VARCHAR), 1, 2))::BIGINT
      |       + CASE WHEN v = 1 AND k = 0 THEN 100
      |              WHEN v = 2 AND (k = 0 OR k = 71) THEN 100
      |              WHEN v = 3 AND ((k % 9) + (k // 9)) % 2 = 0 THEN 128
      |              ELSE 0 END) % 256
      |      for k in range(0, 72) ] AS cs
      |  FROM base
      |), bits AS (
      |  SELECT doc_id,
      |    [ CASE WHEN cs[(k // 8) * 9 + (k % 8) + 1] < cs[(k // 8) * 9 + (k % 8) + 2] THEN 1 ELSE 0 END
      |      for k in range(0, 64) ] AS bt
      |  FROM cells
      |), bands AS (
      |  SELECT doc_id, t.band,
      |         CAST(list_sum([ bt[t.band * 16 + j + 1] * (1::BIGINT << j) for j in range(0, 16) ]) AS BIGINT) AS bkey
      |  FROM bits, range(0, 4) t(band)
      |)""".stripMargin

  /** mm_decode_real replay, shared with the `mm_format_stats` rollup:
    * rebuild the exact synthesized payload bytes as hex (PNG CRC zeroed —
    * nothing parsed reads it), then replay the sniffer's offset-chained
    * byte walk. Offsets are 1-indexed bytes; a byte read at position p is
    * a substr of the hex string at (p-1)*2+1.
    */
  private lazy val mmDecodeRealOracle: String =
    """WITH b AS (
        |  SELECT doc_id, hex(encode(text)) AS bodyhx,
        |         CAST(octet_length(encode(text)) AS BIGINT) AS blen,
        |         doc_id % 3 AS fmt,
        |         16 + (doc_id * 37) % 4080 AS w, 16 + (doc_id * 53) % 3056 AS h,
        |         1 + doc_id % 2 AS ch, 8000 + (doc_id % 5) * 8000 AS rate,
        |         8 * (1 + (doc_id % 7) % 2) AS bits,
        |         doc_id % 23 AS com_m, 2 * (doc_id % 11) AS junk
        |  FROM documents
        |), hxs AS (
        |  SELECT doc_id,
        |    CASE fmt
        |      WHEN 0 THEN '89504E470D0A1A0A' || '0000000D' || '49484452'
        |        || lpad(hex(w), 8, '0') || lpad(hex(h), 8, '0') || '0806000000' || '00000000' || bodyhx
        |      WHEN 1 THEN 'FFD8' || 'FFE00010' || '4A46494600' || '0101' || '00' || '00010001' || '0000'
        |        || 'FFFE' || lpad(hex(2 + com_m), 4, '0') || repeat('63', CAST(com_m AS INT))
        |        || 'FFC00011' || '08' || lpad(hex(h), 4, '0') || lpad(hex(w), 4, '0')
        |        || '03' || '012200' || '021101' || '031101' || bodyhx
        |    END AS hx
        |  FROM b WHERE fmt < 2
        |  UNION ALL
        |  SELECT doc_id,
        |    '52494646' || substr(lpad(hex(4 + 24 + 8 + blen + CASE WHEN doc_id % 2 = 0 THEN 8 + junk ELSE 0 END), 8, '0'), 7, 2) || substr(lpad(hex(4 + 24 + 8 + blen + CASE WHEN doc_id % 2 = 0 THEN 8 + junk ELSE 0 END), 8, '0'), 5, 2) || substr(lpad(hex(4 + 24 + 8 + blen + CASE WHEN doc_id % 2 = 0 THEN 8 + junk ELSE 0 END), 8, '0'), 3, 2) || substr(lpad(hex(4 + 24 + 8 + blen + CASE WHEN doc_id % 2 = 0 THEN 8 + junk ELSE 0 END), 8, '0'), 1, 2)
        |    || '57415645'
        |    || CASE WHEN doc_id % 2 = 0
        |            THEN '4A554E4B' || substr(lpad(hex(junk), 8, '0'), 7, 2) || substr(lpad(hex(junk), 8, '0'), 5, 2) || substr(lpad(hex(junk), 8, '0'), 3, 2) || substr(lpad(hex(junk), 8, '0'), 1, 2) || repeat('6A', CAST(junk AS INT)) ELSE '' END
        |    || '666D7420' || '10000000' || '0100' || substr(lpad(hex(ch), 4, '0'), 3, 2) || substr(lpad(hex(ch), 4, '0'), 1, 2) || substr(lpad(hex(rate), 8, '0'), 7, 2) || substr(lpad(hex(rate), 8, '0'), 5, 2) || substr(lpad(hex(rate), 8, '0'), 3, 2) || substr(lpad(hex(rate), 8, '0'), 1, 2)
        |    || substr(lpad(hex(rate * ch * bits // 8), 8, '0'), 7, 2) || substr(lpad(hex(rate * ch * bits // 8), 8, '0'), 5, 2) || substr(lpad(hex(rate * ch * bits // 8), 8, '0'), 3, 2) || substr(lpad(hex(rate * ch * bits // 8), 8, '0'), 1, 2) || substr(lpad(hex(ch * bits // 8), 4, '0'), 3, 2) || substr(lpad(hex(ch * bits // 8), 4, '0'), 1, 2) || substr(lpad(hex(bits), 4, '0'), 3, 2) || substr(lpad(hex(bits), 4, '0'), 1, 2)
        |    || '64617461' || substr(lpad(hex(blen), 8, '0'), 7, 2) || substr(lpad(hex(blen), 8, '0'), 5, 2) || substr(lpad(hex(blen), 8, '0'), 3, 2) || substr(lpad(hex(blen), 8, '0'), 1, 2) || bodyhx
        |  FROM b WHERE fmt = 2
        |), parsed AS (
        |  SELECT doc_id, 'png' AS format,
        |         CASE WHEN substr(hx, (13 - 1) * 2 + 1, 8) = '49484452' THEN ('0x' || substr(hx, (17 - 1) * 2 + 1, 8))::BIGINT END AS width,
        |         CASE WHEN substr(hx, (13 - 1) * 2 + 1, 8) = '49484452' THEN ('0x' || substr(hx, (21 - 1) * 2 + 1, 8))::BIGINT END AS height,
        |         CASE WHEN substr(hx, (13 - 1) * 2 + 1, 8) = '49484452' THEN
        |           CASE ('0x' || substr(hx, (26 - 1) * 2 + 1, 2))::BIGINT WHEN 0 THEN 1 WHEN 2 THEN 3 WHEN 3 THEN 1 WHEN 4 THEN 2 WHEN 6 THEN 4 END
        |         END AS channels,
        |         CAST(NULL AS BIGINT) AS sample_rate,
        |         CASE WHEN substr(hx, (13 - 1) * 2 + 1, 8) = '49484452' THEN ('0x' || substr(hx, (25 - 1) * 2 + 1, 2))::BIGINT END AS bits,
        |         CAST(length(hx) // 2 AS BIGINT) AS n_bytes
        |  FROM hxs WHERE substr(hx, (1 - 1) * 2 + 1, 16) = '89504E470D0A1A0A'
        |  UNION ALL
        |  SELECT doc_id, 'jpeg' AS format,
        |         CASE WHEN substr(hx, (o3 - 1) * 2 + 1, 4) IN ('FFC0','FFC1','FFC2','FFC3','FFC5','FFC6','FFC7','FFC9','FFCA','FFCB','FFCD','FFCE','FFCF') THEN ('0x' || substr(hx, (o3 + 7 - 1) * 2 + 1, 4))::BIGINT END AS width,
        |         CASE WHEN substr(hx, (o3 - 1) * 2 + 1, 4) IN ('FFC0','FFC1','FFC2','FFC3','FFC5','FFC6','FFC7','FFC9','FFCA','FFCB','FFCD','FFCE','FFCF') THEN ('0x' || substr(hx, (o3 + 5 - 1) * 2 + 1, 4))::BIGINT END AS height,
        |         CASE WHEN substr(hx, (o3 - 1) * 2 + 1, 4) IN ('FFC0','FFC1','FFC2','FFC3','FFC5','FFC6','FFC7','FFC9','FFCA','FFCB','FFCD','FFCE','FFCF') THEN ('0x' || substr(hx, (o3 + 9 - 1) * 2 + 1, 2))::BIGINT END AS channels,
        |         CAST(NULL AS BIGINT) AS sample_rate,
        |         CASE WHEN substr(hx, (o3 - 1) * 2 + 1, 4) IN ('FFC0','FFC1','FFC2','FFC3','FFC5','FFC6','FFC7','FFC9','FFCA','FFCB','FFCD','FFCE','FFCF') THEN ('0x' || substr(hx, (o3 + 4 - 1) * 2 + 1, 2))::BIGINT END AS bits,
        |         CAST(length(hx) // 2 AS BIGINT) AS n_bytes
        |  FROM (
        |    SELECT doc_id, hx, o2 + 2 + ('0x' || substr(hx, (o2 + 2 - 1) * 2 + 1, 4))::BIGINT AS o3
        |    FROM (SELECT doc_id, hx, 3 + 2 + ('0x' || substr(hx, (5 - 1) * 2 + 1, 4))::BIGINT AS o2
        |          FROM hxs WHERE substr(hx, (1 - 1) * 2 + 1, 4) = 'FFD8')
        |    WHERE substr(hx, (o2 - 1) * 2 + 1, 4) = 'FFFE'
        |  )
        |  UNION ALL
        |  SELECT doc_id, 'wav' AS format,
        |         CAST(NULL AS BIGINT) AS width, CAST(NULL AS BIGINT) AS height,
        |         CASE WHEN substr(hx, (f - 1) * 2 + 1, 8) = '666D7420' THEN ('0x' || substr(hx, (f + 10 - 1) * 2 + 3, 2) || substr(hx, (f + 10 - 1) * 2 + 1, 2))::BIGINT END AS channels,
        |         CASE WHEN substr(hx, (f - 1) * 2 + 1, 8) = '666D7420' THEN ('0x' || substr(hx, (f + 12 - 1) * 2 + 7, 2) || substr(hx, (f + 12 - 1) * 2 + 5, 2) || substr(hx, (f + 12 - 1) * 2 + 3, 2) || substr(hx, (f + 12 - 1) * 2 + 1, 2))::BIGINT END AS sample_rate,
        |         CASE WHEN substr(hx, (f - 1) * 2 + 1, 8) = '666D7420' THEN ('0x' || substr(hx, (f + 22 - 1) * 2 + 3, 2) || substr(hx, (f + 22 - 1) * 2 + 1, 2))::BIGINT END AS bits,
        |         CAST(length(hx) // 2 AS BIGINT) AS n_bytes
        |  FROM (
        |    SELECT doc_id, hx,
        |           CASE WHEN substr(hx, (13 - 1) * 2 + 1, 8) = '666D7420' THEN 13
        |                ELSE 13 + 8 + ('0x' || substr(hx, (17 - 1) * 2 + 7, 2) || substr(hx, (17 - 1) * 2 + 5, 2) || substr(hx, (17 - 1) * 2 + 3, 2) || substr(hx, (17 - 1) * 2 + 1, 2))::BIGINT + (('0x' || substr(hx, (17 - 1) * 2 + 7, 2) || substr(hx, (17 - 1) * 2 + 5, 2) || substr(hx, (17 - 1) * 2 + 3, 2) || substr(hx, (17 - 1) * 2 + 1, 2))::BIGINT % 2) END AS f
        |    FROM hxs WHERE substr(hx, (1 - 1) * 2 + 1, 8) = '52494646' AND substr(hx, (9 - 1) * 2 + 1, 8) = '57415645'
        |  )
        |)
        |SELECT doc_id, format, width, height, channels, sample_rate, bits, n_bytes
        |FROM parsed ORDER BY doc_id""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "text_stats" ->
      s"""WITH t AS (
         |  SELECT doc_id, text, $toksSql AS w,
         |         len($toksSql) AS n_tokens,
         |         CAST(length(replace($norm, ' ', '')) AS DOUBLE) AS tok_chars,
         |         CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
         |           / length(text) AS punct_ratio
         |  FROM documents
         |), t2 AS (
         |  SELECT doc_id, text, n_tokens, tok_chars, punct_ratio,
         |         CAST(len(list_filter(w, x -> x IN ($stopList))) AS DOUBLE) / n_tokens AS stop_ratio
         |  FROM t
         |)
         |SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens_bpe,
         |  round(tok_chars / n_tokens, 4) AS avg_token_len,
         |  round(punct_ratio, 6) AS punct_ratio,
         |  round(stop_ratio, 6) AS stopword_ratio,
         |  round(least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * 0.4
         |      + least(stop_ratio * 4.0, 1.0) * 0.3
         |      + greatest(1.0 - punct_ratio * 5.0, 0.0) * 0.3, 6) AS quality
         |FROM t2 ORDER BY doc_id""".stripMargin,

    // dict_encode: dense codes replayed as rank-1 over distinct sources
    "dict_encode" ->
      """WITH d AS (
        |  SELECT source,
        |         CAST(rank() OVER (ORDER BY source) - 1 AS BIGINT) AS code
        |  FROM (SELECT DISTINCT source FROM documents)
        |)
        |SELECT doc.source, d.code, CAST(count(*) AS BIGINT) AS n_docs,
        |       TRUE AS roundtrip_ok
        |FROM documents doc JOIN d USING (source)
        |GROUP BY doc.source, d.code ORDER BY d.code""".stripMargin,

    // feature_hash: identical md5-prefix bucket fold
    "feature_hash" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($toksSql) AS tok FROM documents WHERE doc_id < 100
         |)
         |SELECT doc_id,
         |  CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT % 16 AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM toks GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // quality_rules: identical integer verdicts — token mass from the
    // space-stripped normalized length, stop evidence via list_contains
    "quality_rules" ->
      s"""WITH t AS (
         |  SELECT doc_id, text, $toksSql AS w,
         |         CAST(len($toksSql) AS BIGINT) AS n,
         |         CAST(length(replace($norm, ' ', '')) AS BIGINT) AS tok_chars,
         |         CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS BIGINT) AS n_punct,
         |         CAST(length(text) AS BIGINT) AS n_chars
         |  FROM documents
         |), r AS (
         |  SELECT doc_id, n,
         |    (n >= 5 AND n <= 10000) AS wc_ok,
         |    (tok_chars >= n * 3 AND tok_chars <= n * 10) AS mwl_ok,
         |    (n_punct * 10 <= n_chars) AS punct_ok,
         |    (len(list_filter([$stopList], s -> list_contains(w, s))) >= 2) AS stop_ok
         |  FROM t
         |)
         |SELECT doc_id, n AS n_words, wc_ok, mwl_ok, punct_ok, stop_ok,
         |       (wc_ok AND mwl_ok AND punct_ok AND stop_ok) AS pass
         |FROM r ORDER BY doc_id""".stripMargin,

    // classifier_auc: the quality_rules verdict as label, n_words as
    // score, then the ab_mannwhitney doubled-rank derivation; ppm by
    // HUGEINT cross-multiply mirroring the decimal div
    "classifier_auc" ->
      s"""WITH t AS (
         |  SELECT doc_id, text, $toksSql AS w,
         |         CAST(len($toksSql) AS BIGINT) AS n,
         |         CAST(length(replace($norm, ' ', '')) AS BIGINT) AS tok_chars,
         |         CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS BIGINT) AS n_punct,
         |         CAST(length(text) AS BIGINT) AS n_chars
         |  FROM documents
         |), g AS (
         |  SELECT CASE WHEN (n >= 5 AND n <= 10000)
         |                AND (tok_chars >= n * 3 AND tok_chars <= n * 10)
         |                AND (n_punct * 10 <= n_chars)
         |                AND (len(list_filter([$stopList], s -> list_contains(w, s))) >= 2)
         |              THEN 1 ELSE 0 END AS grp,
         |         n AS v
         |  FROM t
         |), bv AS (
         |  SELECT v, CAST(count(*) AS BIGINT) AS t,
         |         CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t1
         |  FROM g GROUP BY v
         |), r AS (
         |  SELECT v, t, t1,
         |         coalesce(sum(t) OVER (ORDER BY v
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t, 0) AS below
         |  FROM bv
         |), a AS (
         |  SELECT sum(t) AS n, sum(t1) AS n1,
         |         sum(t1 * (2 * below + t + 1)) AS r1d,
         |         sum((t - t1) * (2 * below + t + 1)) AS r0d
         |  FROM r
         |), s AS (
         |  SELECT CAST(n - n1 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
         |         CAST(r1d - n1 * (n1 + 1) AS BIGINT) AS auc_num,
         |         CAST(2 * (n - n1) * n1 AS BIGINT) AS auc_den,
         |         (r0d - (n - n1) * (n - n1 + 1)) + (r1d - n1 * (n1 + 1))
         |           = 2 * (n - n1) * n1 AS identity_holds
         |  FROM a
         |)
         |SELECT n0, n1, auc_num, auc_den, identity_holds,
         |       CAST(CAST(auc_num AS HUGEINT) * 1000000 // auc_den AS BIGINT) AS auc_ppm,
         |       CAST(2 * (CAST(auc_num AS HUGEINT) * 1000000 // auc_den) - 1000000 AS BIGINT) AS gini_ppm
         |FROM s""".stripMargin,

    // blocklist_filter: same exact token screen, flagged docs only
    "blocklist_filter" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents)
         |SELECT doc_id,
         |  CAST(len(list_filter(w, x -> x IN ('hash', 'slow', 'vector'))) AS BIGINT) AS n_blocked,
         |  array_to_string(list_sort(list_filter(['hash', 'slow', 'vector'],
         |      s -> list_contains(w, s))), ',') AS terms
         |FROM t
         |WHERE len(list_filter(w, x -> x IN ('hash', 'slow', 'vector'))) >= 1
         |ORDER BY doc_id""".stripMargin,

    "lang_id" ->
      s"""${langGuessCte()}
         |SELECT doc_id, lang_guess FROM l ORDER BY doc_id""".stripMargin,

    // Chunk grid replay: same ceil-over-stride count, same 1-based slices,
    // same md5-of-rejoined-tokens fingerprint, same normalized-text guard
    // (string_split('', ' ') is [''] in both engines — a len(w) check would
    // pass phantom chunks).
    "chunk_docs" ->
      s"""$chunkCtes
         |SELECT doc_id, chunk_idx,
         |       CAST(len(chunk) AS BIGINT) AS n_tokens,
         |       md5(array_to_string(chunk, ' ')) AS chunk_fp
         |FROM sel WHERE len(chunk) > 0
         |ORDER BY doc_id, chunk_idx""".stripMargin,

    // Passage-level exact dedup: the chunk grid's fingerprints grouped
    // corpus-wide — repeated passages the doc-level dedup misses.
    "dedup_chunks" ->
      s"""$chunkCtes
         |SELECT md5(array_to_string(chunk, ' ')) AS chunk_fp,
         |       CAST(count(*) AS BIGINT) AS n_copies,
         |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |       min(doc_id) AS keep_doc
         |FROM sel WHERE len(chunk) > 0
         |GROUP BY 1 HAVING count(*) >= 2
         |ORDER BY chunk_fp""".stripMargin,

    // boilerplate_strip: the chunk grid with hot chunks (corpus copies
    // >= 2) removed and documents rebuilt in chunk order; clean_fp is the
    // md5 of the reassembled text on both engines
    "boilerplate_strip" ->
      s"""$chunkCtes,
         |gs AS (SELECT doc_id, chunk_idx, chunk,
         |              md5(array_to_string(chunk, ' ')) AS fp
         |       FROM sel WHERE len(chunk) > 0),
         |hot AS (SELECT fp FROM gs GROUP BY fp HAVING count(*) >= 2),
         |kept AS (SELECT * FROM gs WHERE fp NOT IN (SELECT fp FROM hot)),
         |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks FROM gs GROUP BY 1),
         |ks AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |              CAST(sum(len(chunk)) AS BIGINT) AS clean_tokens,
         |              md5(string_agg(array_to_string(chunk, ' '), ' ' ORDER BY chunk_idx)) AS clean_fp
         |       FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, t.n_chunks,
         |       t.n_chunks - coalesce(k.n_kept, 0) AS n_removed,
         |       coalesce(k.clean_tokens, 0) AS clean_tokens,
         |       coalesce(k.clean_fp, md5('')) AS clean_fp
         |FROM tot t LEFT JOIN ks k USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin,

    // Replays the one-pass kernel with unnest + two group-bys over ORDERED
    // (non-distinct) grams; integer-only columns and flag.
    "repetition_stats" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS w FROM documents),
         |g AS (
         |  SELECT doc_id, [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         |                  for i in range(1, len(w) - 1)] AS grams
         |  FROM t WHERE len(w) >= 3
         |),
         |u AS (SELECT doc_id, unnest(grams) AS gram FROM g),
         |c AS (SELECT doc_id, gram, count(*) AS c FROM u GROUP BY 1, 2),
         |r AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
         |         count(*) AS n_distinct, max(c) AS top_count
         |  FROM c GROUP BY doc_id
         |)
         |SELECT doc_id, n_grams, n_distinct, top_count,
         |       (top_count * 5 >= n_grams) AS is_repetitive
         |FROM r ORDER BY doc_id""".stripMargin,

    // Confusion matrix: guess vs the corpus's ground-truth lang column.
    "lang_id_confusion" ->
      s"""${langGuessCte(carry = Seq("lang"))}
         |SELECT lang, lang_guess, count(*) AS n_docs
         |FROM l GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "dedup_exact" ->
      s"""WITH d AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text FROM documents
         |)
         |SELECT md5($norm) AS fingerprint, min(doc_id) AS keep_id, count(*) AS n_docs
         |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,

    // Replays Dedup.winnowFingerprints: ORDERED (non-distinct) n-grams,
    // md5-derived 32-bit hash per gram, min per w-wide window, distinct.
    // Gram width and window come from the same WinnowN/WinnowW constants the
    // Spark query passes.
    "fingerprint_winnow" ->
      s"""$winnowCte
         |SELECT doc_id, unnest(fps) AS fp FROM wn ORDER BY doc_id, fp""".stripMargin,

    // MOSS-style overlap detection over the same fingerprints: pairs
    // sharing >= 2 selected prints (fps are distinct per doc, so the
    // equi-join row count per pair IS the shared-print count)
    "dedup_winnow_overlap" ->
      s"""$winnowCte,
         |f AS (SELECT doc_id, unnest(fps) AS fp FROM wn)
         |SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, count(*) AS n_shared
         |FROM f l JOIN f r ON l.fp = r.fp AND l.doc_id < r.doc_id
         |GROUP BY l.doc_id, r.doc_id
         |HAVING count(*) >= 2
         |ORDER BY doc_a, doc_b""".stripMargin,

    // Integer-arithmetic PageRank over the same winnow overlap graph,
    // every iteration replayed bitwise in BIGINT (see pagerankOracleSql).
    "doc_pagerank" -> pagerankOracleSql,

    // doc_triangles: the same winnow-pair graph, canonical a<b<c triangle
    // enumeration, integer clustering coefficient
    "doc_triangles" ->
      s"""$winnowCte,
         |f AS (SELECT doc_id, unnest(fps) AS fp FROM wn),
         |p AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS w
         |      FROM f l JOIN f r ON l.fp = r.fp AND l.doc_id < r.doc_id
         |      GROUP BY 1, 2 HAVING count(*) >= 2),
         |tr AS (SELECT x.a, x.b, y.b AS c
         |       FROM p x JOIN p y ON x.b = y.a
         |       JOIN p z ON z.a = x.a AND z.b = y.b),
         |pn AS (SELECT n, CAST(count(*) AS BIGINT) AS n_triangles
         |       FROM (SELECT unnest([a, b, c]) AS n FROM tr) GROUP BY n),
         |dg AS (SELECT n, CAST(count(*) AS BIGINT) AS degree
         |       FROM (SELECT a AS n FROM p UNION ALL SELECT b FROM p) GROUP BY n)
         |SELECT dg.n AS doc_id, degree,
         |       coalesce(n_triangles, 0) AS n_triangles,
         |       CASE WHEN degree >= 2
         |            THEN coalesce(n_triangles, 0) * 2000000 // (degree * (degree - 1))
         |            ELSE 0 END AS clustering_ppm
         |FROM dg LEFT JOIN pn ON pn.n = dg.n
         |ORDER BY doc_id""".stripMargin,

    // graph_sssp: Bellman-Ford unrolled to SsspHops materialized rounds
    // over the winnow pair graph (integer edge costs 1e6 // n_shared,
    // seeds = the SsspSeeds smallest graph nodes re-derived in SQL);
    // convergence re-derived as (count, sum) equality of the last rounds
    "graph_sssp" -> {
      val rounds = (1 to SsspHops).map { t =>
        s"""d$t AS MATERIALIZED (
           |  SELECT node, min(dist) AS dist FROM (
           |    SELECT node, dist FROM d${t - 1}
           |    UNION ALL
           |    SELECT e.dst AS node, d.dist + e.w AS dist
           |    FROM d${t - 1} d JOIN ed e ON e.src = d.node
           |  ) GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""$winnowCte,
         |f AS (SELECT doc_id, unnest(fps) AS fp FROM wn),
         |p AS (SELECT l.doc_id AS a, r.doc_id AS b, CAST(count(*) AS BIGINT) AS ns
         |      FROM f l JOIN f r ON l.fp = r.fp AND l.doc_id < r.doc_id
         |      GROUP BY 1, 2 HAVING count(*) >= 2),
         |ed AS MATERIALIZED (
         |  SELECT a AS src, b AS dst, 1000000 // ns AS w FROM p
         |  UNION ALL
         |  SELECT b, a, 1000000 // ns FROM p),
         |sd AS (SELECT DISTINCT src AS node FROM ed ORDER BY node LIMIT $SsspSeeds),
         |d0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS dist FROM sd),
         |$rounds
         |SELECT node AS doc_id, dist,
         |       ((SELECT count(*) FROM d$SsspHops) = (SELECT count(*) FROM d${SsspHops - 1})
         |        AND (SELECT sum(dist) FROM d$SsspHops) = (SELECT sum(dist) FROM d${SsspHops - 1}))
         |         AS converged
         |FROM d$SsspHops ORDER BY doc_id""".stripMargin
    },

    // graph_modularity: recursive-CTE reachability gives the component
    // membership; the mass terms (2m, per-community degree and internal
    // ordered mass) are plain joins, q_num the same integer expression
    "graph_modularity" ->
      s"""${winnowCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |f AS (SELECT doc_id, unnest(fps) AS fp FROM wn),
         |p AS (SELECT l.doc_id AS a, r.doc_id AS b, CAST(count(*) AS BIGINT) AS ns
         |      FROM f l JOIN f r ON l.fp = r.fp AND l.doc_id < r.doc_id
         |      GROUP BY 1, 2 HAVING count(*) >= 2),
         |ed AS (SELECT a, b FROM p UNION ALL SELECT b, a FROM p),
         |gn AS (SELECT DISTINCT a AS node FROM ed),
         |reach(a, b) AS (
         |  SELECT node, node FROM gn
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN ed e ON r.b = e.a
         |),
         |mem AS (SELECT a AS node, min(b) AS community FROM reach GROUP BY a),
         |m2t AS (SELECT CAST(sum(ns) * 2 AS BIGINT) AS m2 FROM p),
         |dg AS (SELECT node, CAST(sum(w) AS BIGINT) AS deg FROM (
         |         SELECT a AS node, ns AS w FROM p UNION ALL SELECT b, ns FROM p
         |       ) GROUP BY node),
         |cdeg AS (SELECT m.community, CAST(count(*) AS BIGINT) AS n_nodes,
         |                CAST(sum(d.deg) AS BIGINT) AS deg_sum
         |         FROM dg d JOIN mem m ON m.node = d.node GROUP BY m.community),
         |ci AS (SELECT ma.community, CAST(sum(p.ns) * 2 AS BIGINT) AS intra_2x
         |       FROM p JOIN mem ma ON ma.node = p.a JOIN mem mb ON mb.node = p.b
         |       WHERE ma.community = mb.community GROUP BY ma.community),
         |perc AS (
         |  SELECT cd.community, cd.n_nodes, cd.deg_sum,
         |         coalesce(ci.intra_2x, 0) AS intra_2x, m2t.m2,
         |         m2t.m2 * coalesce(ci.intra_2x, 0) - cd.deg_sum * cd.deg_sum AS q_num
         |  FROM cdeg cd LEFT JOIN ci USING (community) CROSS JOIN m2t
         |)
         |SELECT perc.*, t.q_num_total
         |FROM perc CROSS JOIN (SELECT CAST(sum(q_num) AS BIGINT) AS q_num_total FROM perc) t
         |ORDER BY community""".stripMargin,

    // graph_kcore: the peel unrolled to KcoreRounds fixed rounds over the
    // same winnow pair graph; convergence re-derived as count(r_N) ==
    // count(r_{N-1}) (peeling only removes, so equal counts = equal sets) —
    // if the unroll were too shallow the flag would read false and the
    // hash compare would catch it
    "graph_kcore" -> {
      // every r$t is referenced three times by round t+1 — without
      // MATERIALIZED, CTE inlining re-expands the whole chain
      // exponentially (observed as a fd-exhausting scan storm)
      val rounds = (1 to KcoreRounds).map { t =>
        s"""kc$t AS MATERIALIZED (SELECT src FROM r${t - 1} GROUP BY src HAVING count(*) >= $KcoreK),
           |r$t AS MATERIALIZED (SELECT e.src, e.dst FROM r${t - 1} e
           |        JOIN kc$t x ON e.src = x.src JOIN kc$t y ON e.dst = y.src)""".stripMargin
      }.mkString(",\n")
      s"""$winnowCte,
         |f AS (SELECT doc_id, unnest(fps) AS fp FROM wn),
         |p AS (SELECT l.doc_id AS a, r.doc_id AS b
         |      FROM f l JOIN f r ON l.fp = r.fp AND l.doc_id < r.doc_id
         |      GROUP BY 1, 2 HAVING count(*) >= 2),
         |r0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM p UNION ALL SELECT b, a FROM p),
         |$rounds
         |SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS core_deg,
         |       (SELECT count(*) FROM r$KcoreRounds) = (SELECT count(*) FROM r${KcoreRounds - 1}) AS converged
         |FROM r$KcoreRounds GROUP BY src ORDER BY doc_id""".stripMargin
    },

    // Label propagation: four unrolled sync rounds, min-label tie-break,
    // every intermediate labeling replayed exactly
    "graph_lpa" -> {
      val rounds = (1 to 4).map { t =>
        s"""l$t AS MATERIALIZED (
           |  SELECT node, lbl FROM (
           |    SELECT node, lbl,
           |           row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl ASC) AS rn
           |    FROM (SELECT e.a AS node, l.lbl AS lbl, count(*) AS c
           |          FROM e JOIN l${t - 1} l ON l.node = e.b GROUP BY 1, 2)
           |  ) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""$winnowCte,
         |f AS (SELECT doc_id, unnest(fps) AS fp FROM wn),
         |p AS (SELECT l.doc_id AS a, r.doc_id AS b
         |      FROM f l JOIN f r ON l.fp = r.fp AND l.doc_id < r.doc_id
         |      GROUP BY 1, 2 HAVING count(*) >= 2),
         |e AS MATERIALIZED (SELECT a, b FROM p UNION ALL SELECT b, a FROM p),
         |l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS lbl FROM e),
         |$rounds
         |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members,
         |       min(node) AS min_member, max(node) AS max_member
         |FROM l4 GROUP BY 1 ORDER BY community""".stripMargin
    },

    // Components x PageRank argmax — canonical selection by centrality,
    // the full composition replayed bitwise (all-integer state).
    "dedup_canonical_rank" -> canonicalRankOracleSql,

    // Personalized PageRank: seed-masked teleport, bitwise integer replay.
    "seed_ppr" -> seedPprOracleSql,

    // bfs_hops: textbook recursive-CTE BFS over the same winnow graph —
    // an INDEPENDENT formulation of the hop levels (UNION-dedup recursion
    // bounded by the shared BfsMaxHops horizon, min per node at the end)
    "bfs_hops" ->
      s"""${winnowCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |f AS (SELECT doc_id, unnest(fps) AS fp FROM wn),
         |p AS (SELECT l.doc_id AS a, r.doc_id AS b
         |      FROM f l JOIN f r ON l.fp = r.fp AND l.doc_id < r.doc_id
         |      GROUP BY 1, 2 HAVING count(*) >= 2),
         |e AS (SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p),
         |sd AS (SELECT src AS node FROM e GROUP BY 1 ORDER BY 1 LIMIT $PprSeeds),
         |bfs AS (
         |  SELECT node, 0 AS hops FROM sd
         |  UNION
         |  SELECT e.dst, b.hops + 1 FROM bfs b JOIN e ON e.src = b.node
         |  WHERE b.hops < $BfsMaxHops
         |)
         |SELECT node AS doc_id, CAST(min(hops) AS BIGINT) AS hops
         |FROM bfs GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // Lexical + dense + graph pools fused by integer RRF — three shared-
    // seed rankers, one replay.
    "hybrid_trimodal" -> trimodalOracleSql,

    // Frozen-lexicon streaming BM25 == the batch score table (no top-k).
    "stream_bm25_score" -> {
      val vals = Bm25Queries
        .flatMap { case (qid, text) =>
          text.split("\\s+").filter(_.nonEmpty).distinct.map(t => s"('$qid', '$t')")
        }
        .mkString(", ")
      s"""${bm25Ctes(s"q AS (SELECT * FROM (VALUES $vals) AS t(query_id, term))")}
         |SELECT query_id, doc_id, score FROM sc
         |ORDER BY query_id, doc_id""".stripMargin
    },

    // substr_trigram_search: the same index defined relationally — distinct
    // char trigrams per doc, all-query-trigrams candidacy, position()
    // verification; phrase trigram sets computed Scala-side as literals so
    // both engines query the identical set
    "substr_trigram_search" -> {
      val rows = TrigramPhrases.map { case (q, p0) =>
        val p = graft.operators.Retrieval.normalizePhrase(p0)
        val tris = p.sliding(3).toSet.toSeq.sorted
        s"('$q', '$p', [${tris.map(t => s"'${t.replace("'", "''")}'").mkString(", ")}])"
      }.mkString(",\n       ")
      s"""WITH nt AS (SELECT doc_id, $norm AS t FROM documents WHERE len($norm) >= 3),
         |tri AS (SELECT doc_id,
         |               unnest(list_distinct([substr(t, i, 3) for i in range(1, len(t) - 1)])) AS tg
         |        FROM nt),
         |q AS (SELECT * FROM (VALUES $rows) v(qid, phrase, tgs)),
         |qt AS (SELECT qid, unnest(tgs) AS tg, len(tgs) AS n FROM q),
         |cand AS (SELECT qt.qid, tri.doc_id FROM qt JOIN tri USING (tg)
         |         GROUP BY 1, 2 HAVING count(*) = max(qt.n)),
         |nc AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_candidates FROM cand GROUP BY 1),
         |ver AS (SELECT c.qid, c.doc_id FROM cand c
         |        JOIN nt ON nt.doc_id = c.doc_id
         |        JOIN q ON q.qid = c.qid
         |        WHERE position(q.phrase IN nt.t) > 0),
         |nm AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_matches FROM ver GROUP BY 1)
         |SELECT v.qid AS query_id, v.doc_id, nc.n_candidates, nm.n_matches
         |FROM ver v JOIN nc USING (qid) JOIN nm USING (qid)
         |ORDER BY query_id, doc_id""".stripMargin
    },

    // Okapi BM25 top-10 over the fixed query set; expression shapes and
    // double-typed literals mirror Retrieval.bm25Scores exactly.
    "bm25_topk" -> bm25TopkOracleSql,

    // bm25_topk_persisted: the stored index is derived with the identical
    // expressions, so the replay is the in-query ranker's own
    "bm25_topk_persisted" -> bm25TopkOracleSql,

    // bm25_topk_incr: the merged index must equal the from-scratch union
    // index (BM25 stats are additive), so the oracle is the FULL-corpus
    // ranking — any merge defect (lost posting, double df, stale idf/avgdl)
    // shifts a score and hash-fails
    "bm25_topk_incr" -> bm25TopkOracleSql,

    // The FUSED ingestion pass: every deterministic leg replayed exactly —
    // near-dup counts via the minhash/band chain, exact-contamination via
    // the shared gram hash space, DSIR and BM25 as nested replays of their
    // own oracles (scoped subquery CTEs) — and the two stream-only claims
    // (Bloom no-false-negative, accumulated CMS == batch sketch) as
    // law-asserted TRUE columns, the stream_decontaminate discipline.
    "ingest_batch" -> ingestBatchOracleSql,

    // Count-min sketch rebuilt CELL BY CELL (md5-salted bucket hashing is
    // engine-neutral), per-source sketches merged by bucket addition, the
    // exact top-20 probed with min-over-rows — est/guarantee/bound all
    // integer-exact.
    "top_tokens_cms" ->
      s"""WITH tk AS (SELECT source, unnest($toksSql) AS token FROM documents),
         |ce AS (SELECT source, token, r AS row,
         |              ('0x' || substr(md5('cms' || CAST(r AS VARCHAR) || '_' || token), 1, 8))::BIGINT % ${CountMin.Width} AS bucket
         |       FROM tk, unnest(range(0, ${CountMin.Depth})) AS t(r)),
         |sk AS (SELECT source, row, bucket, CAST(count(*) AS BIGINT) AS cnt
         |       FROM ce GROUP BY 1, 2, 3),
         |gl AS (SELECT row, bucket, CAST(sum(cnt) AS BIGINT) AS cnt FROM sk GROUP BY 1, 2),
         |ex AS (SELECT token, CAST(count(*) AS BIGINT) AS n_exact FROM tk
         |       GROUP BY 1 ORDER BY n_exact DESC, token LIMIT 20),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM tk),
         |pr AS (SELECT ex.token, r AS row,
         |              ('0x' || substr(md5('cms' || CAST(r AS VARCHAR) || '_' || ex.token), 1, 8))::BIGINT % ${CountMin.Width} AS bucket
         |       FROM ex, unnest(range(0, ${CountMin.Depth})) AS t(r)),
         |es AS (SELECT pr.token, CAST(min(coalesce(gl.cnt, 0)) AS BIGINT) AS n_est
         |       FROM pr LEFT JOIN gl ON gl.row = pr.row AND gl.bucket = pr.bucket
         |       GROUP BY 1)
         |SELECT ex.token, ex.n_exact, es.n_est, es.n_est - ex.n_exact AS overcount,
         |       es.n_est >= ex.n_exact AS ge_exact,
         |       (es.n_est - ex.n_exact) * 1024 <= n_total * 11 AS within_bound
         |FROM ex JOIN es USING (token) CROSS JOIN tot
         |ORDER BY n_exact DESC, token""".stripMargin,

    // Distinct-n diversity per source: md5 gram hashes, ordered and
    // non-distinct, one UNION branch per n.
    "diversity_stats" -> {
      val parts = (1 to 3).map { n =>
        val gramExpr = (0 until n).map(j => s"wd[i+$j]").mkString(" || ' ' || ")
        s"""SELECT source, CAST($n AS BIGINT) AS n,
           |       CAST(count(*) AS BIGINT) AS total_grams,
           |       CAST(count(DISTINCT h) AS BIGINT) AS distinct_grams,
           |       round(CAST(count(DISTINCT h) AS DOUBLE) / count(*), 6) AS distinct_ratio
           |FROM (SELECT source, ('0x' || substr(md5(g), 1, 8))::BIGINT AS h
           |      FROM (SELECT source, unnest([$gramExpr for i in range(1, len(wd) - ${n - 2})]) AS g
           |            FROM toks WHERE len(wd) >= $n))
           |GROUP BY source""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH toks AS (SELECT source, $toksSql AS wd FROM documents)
         |$parts
         |ORDER BY source, n""".stripMargin
    },

    // Streaming CMS ingest: the batch CMS rebuild (complete-mode streaming
    // over the full replay == batch, so the same cell-exact chain), with
    // the stream==batch boolean asserted TRUE.
    "stream_cms_ingest" ->
      s"""WITH tk AS (SELECT source, unnest($toksSql) AS token FROM documents),
         |ce AS (SELECT token, r AS row,
         |              ('0x' || substr(md5('cms' || CAST(r AS VARCHAR) || '_' || token), 1, 8))::BIGINT % ${CountMin.Width} AS bucket
         |       FROM tk, unnest(range(0, ${CountMin.Depth})) AS t(r)),
         |gl AS (SELECT row, bucket, CAST(count(*) AS BIGINT) AS cnt FROM ce GROUP BY 1, 2),
         |ex AS (SELECT token, CAST(count(*) AS BIGINT) AS n_exact FROM tk
         |       GROUP BY 1 ORDER BY n_exact DESC, token LIMIT 20),
         |pr AS (SELECT ex.token, r AS row,
         |              ('0x' || substr(md5('cms' || CAST(r AS VARCHAR) || '_' || ex.token), 1, 8))::BIGINT % ${CountMin.Width} AS bucket
         |       FROM ex, unnest(range(0, ${CountMin.Depth})) AS t(r)),
         |es AS (SELECT pr.token, CAST(min(coalesce(gl.cnt, 0)) AS BIGINT) AS n_est_stream
         |       FROM pr LEFT JOIN gl ON gl.row = pr.row AND gl.bucket = pr.bucket
         |       GROUP BY 1)
         |SELECT ex.token, ex.n_exact, es.n_est_stream, TRUE AS stream_matches_batch
         |FROM ex JOIN es USING (token)
         |ORDER BY n_exact DESC, token""".stripMargin,

    // Annealing schedule: the mixture_weights chain plus the integer
    // convex interpolation per epoch.
    "anneal_schedule" ->
      s"""WITH t AS (SELECT source, len($toksSql) AS nt FROM documents),
         |p AS (SELECT source, CAST(sum(nt) AS BIGINT) AS n_tokens FROM t GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM p),
         |m AS (SELECT source, n_tokens,
         |             (n_tokens * 1000000) // total_tokens AS base_ppm,
         |             CAST(floor(sqrt(CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE))
         |                  * 1000000.0) AS BIGINT) AS target_ppm
         |      FROM p CROSS JOIN tot)
         |SELECT r AS epoch, source, base_ppm, target_ppm,
         |       (base_ppm * (${AnnealEpochs - 1} - r) + target_ppm * r) // ${AnnealEpochs - 1} AS ppm
         |FROM m, unnest(range(0, $AnnealEpochs)) AS tt(r)
         |ORDER BY epoch, source""".stripMargin,

    // Query-by-example hybrid retrieval: BM25 + cosine pools fused by
    // integer reciprocal-rank (bitwise once the pools agree).
    "hybrid_seed_expand" -> hybridOracleSql,

    "dedup_ngram_jaccard" ->
      s"""$gramsCte
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
         |             / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))), 6) AS jaccard
         |FROM grams a JOIN grams b ON a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
         |      / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.3
         |ORDER BY doc_a, doc_b""".stripMargin,

    // composes the verified quality / lang-id / components fragments into
    // the one-pipeline replay: survivors = quality >= 0.5, lang 'en',
    // doc_id == min reachable id through the Jaccard pair graph
    "curate_corpus" -> curateOracle(
      s"""pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM grams a JOIN grams b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
         |        / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.3
         |)""".stripMargin),

    // same replay with pairs = exact-Jaccard verify over the deterministic
    // MinHash band candidates — mirrors Curation.curateCorpus routed through
    // ngramJaccardPairsViaMinhash
    "curate_corpus_mh" -> curateOracle(
      s"""${minhashCandCte()},
         |pairs AS (
         |  SELECT c.doc_a, c.doc_b
         |  FROM cand c
         |  JOIN grams a ON a.doc_id = c.doc_a
         |  JOIN grams b ON b.doc_id = c.doc_b
         |  WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
         |        / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.3
         |)""".stripMargin),

    // The full preparation pipeline: curation CTEs restricted to the
    // training pool (tgrams feeds the MinHash index; surv filtered), then
    // the decontamination gram-index anti-join, then the md5 split —
    // each fragment identical to its standalone oracle.
    "prepare_corpus" -> {
      val keep = curateCtes(
        s"""tgrams AS (SELECT doc_id, g FROM grams WHERE doc_id % 50 <> 0),
           |${minhashCandCte("tgrams")},
           |pairs AS (
           |  SELECT c.doc_a, c.doc_b
           |  FROM cand c
           |  JOIN grams a ON a.doc_id = c.doc_a
           |  JOIN grams b ON b.doc_id = c.doc_b
           |  WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
           |        / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.3
           |)""".stripMargin,
        docFilter = "q.doc_id % 50 <> 0")
      s"""$keep,
         |dh AS (
         |  SELECT doc_id,
         |         list_distinct([('0x' || substr(md5(x), 1, 8))::BIGINT for x in g]) AS hs
         |  FROM grams
         |),
         |ev AS (SELECT DISTINCT h FROM (SELECT unnest(hs) AS h FROM dh WHERE doc_id % 50 = 0)),
         |trh AS (SELECT doc_id, unnest(hs) AS h FROM dh WHERE doc_id % 50 <> 0),
         |flagged AS (
         |  SELECT trh.doc_id FROM trh JOIN ev USING (h)
         |  GROUP BY trh.doc_id HAVING count(*) >= $DeconMinShared
         |),
         |kept AS (
         |  SELECT s.doc_id FROM surv s JOIN reps r ON s.doc_id = r.rep
         |  WHERE NOT EXISTS (SELECT 1 FROM flagged f WHERE f.doc_id = s.doc_id)
         |),
         |u AS (
         |  SELECT doc_id,
         |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0 AS u
         |  FROM kept
         |)
         |SELECT CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split,
         |       count(*) AS n_docs, min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM u GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // split_component_safe: components over the MinHash candidate route
    // (banded cand -> exact-Jaccard verify -> transitive closure), then the
    // md5-threshold split keyed by component id; the naive doc-keyed split
    // replays alongside to count the components it would tear apart
    "split_component_safe" -> {
      s"""${gramsCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |${minhashCandCte()},
         |pairs AS (
         |  SELECT c.doc_a, c.doc_b
         |  FROM cand c
         |  JOIN grams a ON a.doc_id = c.doc_a
         |  JOIN grams b ON b.doc_id = c.doc_b
         |  WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
         |        / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.3
         |),
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM pairs
         |),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
         |),
         |comp AS (SELECT a AS doc_id, min(b) AS component_id FROM reach GROUP BY a),
         |lanes AS (
         |  SELECT doc_id, component_id,
         |         ('0x' || substr(md5(CAST(component_id AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0 AS cu,
         |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0 AS du
         |  FROM comp
         |),
         |splits AS (
         |  SELECT doc_id, component_id,
         |         CASE WHEN cu < 0.8 THEN 'train' WHEN cu < 0.9 THEN 'val' ELSE 'test' END AS split,
         |         CASE WHEN du < 0.8 THEN 'train' WHEN du < 0.9 THEN 'val' ELSE 'test' END AS nsplit
         |  FROM lanes
         |),
         |naive AS (
         |  SELECT CAST(count(*) AS BIGINT) AS naive_leaky_components FROM (
         |    SELECT component_id FROM splits
         |    GROUP BY component_id HAVING count(DISTINCT nsplit) > 1)
         |)
         |SELECT s.split, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(DISTINCT s.component_id) AS BIGINT) AS n_components,
         |       n.naive_leaky_components
         |FROM splits s CROSS JOIN naive n
         |GROUP BY s.split, n.naive_leaky_components
         |ORDER BY s.split""".stripMargin
    },

    // transitive closure via recursive CTE (UNION dedups, so it terminates),
    // then min reachable id per doc — the declarative twin of the Spark
    // side's min-label propagation; pairs are the same exact-Jaccard join
    "dedup_components" -> componentsOracle,

    // the star-contraction variant must produce the identical grouping —
    // one oracle serves both implementations
    "dedup_components_star" -> componentsOracle,

    // The streaming duplicate suppressor keeps exactly one row per content
    // fingerprint regardless of arrival order — the surviving SET is the
    // batch DISTINCT.
    "stream_dedup_ingest" ->
      s"SELECT DISTINCT md5($norm) AS fingerprint FROM documents ORDER BY 1",

    // Streaming-decontamination replay: the exact report with the
    // no-false-negative law as a constant — identical to decontaminate_bloom
    // except the flag comes from a REAL streaming execution.
    "stream_decontaminate" ->
      s"""$gramsCte,
         |h AS (
         |  SELECT doc_id,
         |         list_distinct([('0x' || substr(md5(x), 1, 8))::BIGINT for x in g]) AS hs
         |  FROM grams
         |),
         |e AS (SELECT DISTINCT h FROM (SELECT unnest(hs) AS h FROM h WHERE doc_id % 50 = 0)),
         |tr AS (SELECT doc_id, unnest(hs) AS h FROM h WHERE doc_id % 50 <> 0)
         |SELECT tr.doc_id, count(*) AS n_shared, TRUE AS stream_caught
         |FROM tr JOIN e USING (h)
         |GROUP BY tr.doc_id HAVING count(*) >= $DeconMinShared
         |ORDER BY tr.doc_id""".stripMargin,

    // Streaming ingest replay: the probe join is the batch band join WITHOUT
    // the doc_a < doc_b restriction (a stream doc matches any corpus doc,
    // including itself), est = signature-slot agreement over the shared
    // sigs CTE. Un-rounded >= 0.5 is equivalent to the Spark side's rounded
    // compare: estimates are multiples of 1/$MhK, exact at 6 decimals.
    "stream_neardup_ingest" ->
      s"""$gramsCte,
         |${minhashCandCte()},
         |probe AS (
         |  SELECT DISTINCT l.doc_id AS doc_id, r.doc_id AS corpus_doc_id
         |  FROM banded l JOIN banded r ON l.band = r.band AND l.band_key = r.band_key
         |)
         |SELECT p.doc_id, p.corpus_doc_id,
         |       round(CAST(len(list_filter([sa.sig[i] = sb.sig[i] for i in range(1, ${MhK + 1})], x -> x)) AS DOUBLE) / $MhK, 6) AS est_jaccard
         |FROM probe p
         |JOIN sigs sa ON sa.doc_id = p.doc_id
         |JOIN sigs sb ON sb.doc_id = p.corpus_doc_id
         |WHERE CAST(len(list_filter([sa.sig[i] = sb.sig[i] for i in range(1, ${MhK + 1})], x -> x)) AS DOUBLE) / $MhK >= 0.5
         |ORDER BY p.doc_id, p.corpus_doc_id""".stripMargin,

    // exact-Jaccard verify over the deterministic MinHash band candidates
    "dedup_ngram_jaccard_mh" ->
      s"""$gramsCte,
         |${minhashCandCte()}
         |SELECT c.doc_a, c.doc_b,
         |       round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
         |             / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))), 6) AS jaccard
         |FROM cand c
         |JOIN grams a ON a.doc_id = c.doc_a
         |JOIN grams b ON b.doc_id = c.doc_b
         |WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
         |      / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.3
         |ORDER BY doc_a, doc_b""".stripMargin,

    // dedup_edit_distance: the same band-candidate chain verified by
    // DuckDB's own levenshtein — two independent DP implementations
    // hash-matched, with the identical length prune
    "dedup_edit_distance" ->
      s"""$gramsCte,
         |${minhashCandCte()}
         |SELECT c.doc_a, c.doc_b,
         |       CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_dist
         |FROM cand c
         |JOIN documents ta ON ta.doc_id = c.doc_a
         |JOIN documents tb ON tb.doc_id = c.doc_b
         |WHERE abs(length(ta.text) - length(tb.text)) <= $EditMaxDist
         |  AND levenshtein(ta.text, tb.text) <= $EditMaxDist
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_minhash_lsh" ->
      s"""$gramsCte,
         |${minhashCandCte()}
         |SELECT c.doc_a, c.doc_b,
         |       round(CAST(len(list_filter([sa.sig[i] = sb.sig[i] for i in range(1, ${MhK + 1})], x -> x)) AS DOUBLE) / $MhK, 6) AS est_jaccard
         |FROM cand c
         |JOIN sigs sa ON sa.doc_id = c.doc_a
         |JOIN sigs sb ON sb.doc_id = c.doc_b
         |ORDER BY doc_a, doc_b""".stripMargin,

    // Incremental admission replay: fresh docs are the hash-split tail
    // (same md5 arithmetic as sample_split); the probe join is the band
    // join restricted to fresh probes, partners are corpus docs or
    // smaller-id batch-mates; verify is signature-slot agreement (exact
    // multiples of 1/$MhK, un-rounded compare as in stream_neardup_ingest);
    // LEFT JOIN keeps signature-less fresh docs as (0, null) admit rows.
    "dedup_incremental" ->
      s"""$gramsCte,
         |${minhashCandCte()},
         |u AS (
         |  SELECT doc_id,
         |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0 AS uu
         |  FROM documents
         |),
         |fr AS (SELECT doc_id FROM u WHERE uu >= $IncCorpusFrac),
         |pairsi AS (
         |  SELECT DISTINCT l.doc_id AS f_id, r.doc_id AS p_id
         |  FROM banded l
         |  JOIN fr ON fr.doc_id = l.doc_id
         |  JOIN banded r ON l.band = r.band AND l.band_key = r.band_key
         |  WHERE r.doc_id NOT IN (SELECT doc_id FROM fr) OR r.doc_id < l.doc_id
         |),
         |ver AS (
         |  SELECT f_id, p_id
         |  FROM pairsi
         |  JOIN sigs sa ON sa.doc_id = f_id
         |  JOIN sigs sb ON sb.doc_id = p_id
         |  WHERE CAST(len(list_filter([sa.sig[i] = sb.sig[i] for i in range(1, ${MhK + 1})], x -> x)) AS DOUBLE) / $MhK >= $IncThreshold
         |)
         |SELECT fr.doc_id, CAST(count(v.p_id) AS BIGINT) AS n_dups, min(v.p_id) AS dup_of
         |FROM fr LEFT JOIN ver v ON v.f_id = fr.doc_id
         |GROUP BY fr.doc_id
         |ORDER BY fr.doc_id""".stripMargin,

    // Containment replay: the decontaminate 32-bit gram-hash idiom, both
    // join directions kept, numerator and denominator both over the
    // distinct-hash space so a collision inflates identically in both
    // engines.
    "dedup_containment" ->
      s"""$gramsCte,
         |h AS (
         |  SELECT DISTINCT doc_id, ('0x' || substr(md5(x), 1, 8))::BIGINT AS h
         |  FROM (SELECT doc_id, unnest(g) AS x FROM grams)
         |),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_h FROM h GROUP BY 1),
         |sh AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared
         |  FROM h a JOIN h b ON a.h = b.h AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT sh.doc_a, sh.doc_b,
         |       round(CAST(n_shared AS DOUBLE) / n_h, 6) AS containment
         |FROM sh JOIN sz ON sz.doc_id = sh.doc_a
         |WHERE CAST(n_shared AS DOUBLE) / n_h >= $ContainThreshold
         |ORDER BY doc_a, doc_b""".stripMargin,

    // Classifier replay: the unrolled per-iteration GD chain — see
    // classifierQualityOracleSql.
    "classifier_quality" -> classifierQualityOracleSql,

    // DSIR replay: positional bigram hash32 % buckets seeds (duplicates
    // kept — occurrence distributions), integer bucket counts, quantized
    // add-1-smoothed log-likelihood ratios, quantized per-doc sums. The
    // target is the same unrounded rule-quality >= cut subset the query
    // filters. Shared verbatim with stream_dsir_score (frozen-model law).
    // group_kfold: identical md5 rank → (rank-1) mod k assignment — the
    // hash, the (hash, key) total order, and the modulo all replay
    "group_kfold" ->
      """WITH g AS (
        |  SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS gk FROM orders
        |), h AS (
        |  SELECT gk,
        |         ('0x' || substr(md5('kf-r12' || '|' || gk), 1, 8))::BIGINT AS hv
        |  FROM g
        |), r AS (
        |  SELECT gk,
        |         CAST((row_number() OVER (ORDER BY hv, gk) - 1) % 5 AS INT) AS fold
        |  FROM h
        |)
        |SELECT r.fold, count(*) AS n_orders,
        |       CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_groups,
        |       CAST(sum(o.o_orderkey) AS BIGINT) AS sum_key,
        |       TRUE AS folds_balanced_by_group
        |FROM orders o JOIN r ON CAST(o.o_custkey AS VARCHAR) = r.gk
        |GROUP BY r.fold ORDER BY r.fold""".stripMargin,

    "dsir_weights" -> dsirOracleSql,

    // Frozen-model streaming DSIR replay: the stream scores bitwise what
    // the batch fit scores (same quantized λ, re-quantized sums), so the
    // oracle IS the dsir_weights replay — any drift between the frozen
    // array, the streaming fold, and the batch shuffle-sum fails the hash.
    "stream_dsir_score" -> dsirOracleSql,

    // CCNet-style bigram-LM scoring replay: same hq target pool as dsir,
    // integer counts, per-bigram quantized log-probs (in-model / context
    // backoff / OOV via coalesce), quantized per-doc sum, one IEEE division
    // for the mean — every branch replays the Scala fit bitwise.
    "lm_perplexity" -> lmOracleSql,

    // Substr-span replay: positional L-gram hash32 seeds (duplicates kept,
    // pos = 0-based start token), global occurrence count, then the same
    // lag/sum interval merge over [pos, pos+L) windows. All-integer output.
    "dedup_substr_spans" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $toksSql AS w FROM documents
         |),
         |seeds AS (
         |  SELECT doc_id, i - 1 AS pos,
         |         ('0x' || substr(md5(array_to_string(w[i:i+${SubstrL - 1}], ' ')), 1, 8))::BIGINT AS h
         |  FROM (
         |    SELECT doc_id, w, unnest(generate_series(1, len(w) - ${SubstrL - 1})) AS i
         |    FROM toks WHERE len(w) >= $SubstrL
         |  )
         |),
         |dup AS (SELECT h FROM seeds GROUP BY h HAVING count(*) >= $SubstrMinOcc),
         |ds AS (SELECT s.doc_id, s.pos FROM seeds s JOIN dup USING (h)),
         |marked AS (
         |  SELECT doc_id, pos,
         |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= $SubstrL
         |              THEN 0 ELSE 1 END AS brk
         |  FROM ds
         |),
         |spans AS (
         |  SELECT doc_id, pos,
         |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
         |  FROM marked
         |)
         |SELECT doc_id,
         |       CAST(min(pos) AS BIGINT) AS span_start,
         |       CAST(max(pos) + $SubstrL AS BIGINT) AS span_end,
         |       CAST(max(pos) + $SubstrL - min(pos) AS BIGINT) AS dup_tokens
         |FROM spans GROUP BY doc_id, span_id
         |ORDER BY doc_id, span_start""".stripMargin,

    // Source-matrix replay: the shared MinHash candidate CTEs, the
    // stream_neardup 0.5 slot-agreement verify (un-rounded compare —
    // estimates are exact multiples of 1/$MhK), sources joined per side.
    "dedup_source_matrix" ->
      s"""$gramsCte,
         |${minhashCandCte()},
         |v AS (
         |  SELECT c.doc_a, c.doc_b
         |  FROM cand c
         |  JOIN sigs sa ON sa.doc_id = c.doc_a
         |  JOIN sigs sb ON sb.doc_id = c.doc_b
         |  WHERE CAST(len(list_filter([sa.sig[i] = sb.sig[i] for i in range(1, ${MhK + 1})], x -> x)) AS DOUBLE) / $MhK >= 0.5
         |)
         |SELECT da.source AS source_a, db.source AS source_b,
         |       CAST(count(*) AS BIGINT) AS n_pairs
         |FROM v
         |JOIN documents da ON da.doc_id = v.doc_a
         |JOIN documents db ON db.doc_id = v.doc_b
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Split-leakage replay: the decontaminate gram-hash idiom with the
    // sample_split md5 arithmetic deciding the train (u < 0.8) and test
    // (u >= 0.9) sides.
    "split_leakage" ->
      s"""$gramsCte,
         |h AS (
         |  SELECT doc_id,
         |         list_distinct([('0x' || substr(md5(x), 1, 8))::BIGINT for x in g]) AS hs
         |  FROM grams
         |),
         |u AS (
         |  SELECT doc_id,
         |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0 AS uu
         |  FROM documents
         |),
         |e AS (SELECT DISTINCT h FROM (
         |  SELECT unnest(hs) AS h FROM h JOIN u USING (doc_id) WHERE uu >= 0.9)),
         |tr AS (SELECT doc_id, unnest(hs) AS h FROM h JOIN u USING (doc_id) WHERE uu < 0.8)
         |SELECT tr.doc_id, count(*) AS n_shared
         |FROM tr JOIN e USING (h)
         |GROUP BY tr.doc_id HAVING count(*) >= $DeconMinShared
         |ORDER BY tr.doc_id""".stripMargin,

    // Data-card replay: the lang-guess CTE chain (carrying source) joined
    // to a staged quality/fingerprint chain; the quality sum crosses in
    // floor-micro integer units — floor() because DuckDB's double→BIGINT
    // CAST rounds half-even where Spark's truncates.
    "corpus_datacard" ->
      s"""${langGuessCte(Seq("source"))},
         |d2 AS (
         |  SELECT doc_id, text, $toksSql AS w FROM documents
         |  WHERE length($norm) > 0
         |), d3 AS (
         |  SELECT doc_id,
         |         CAST(len(w) AS BIGINT) AS n_tokens,
         |         CAST(len(list_filter(w, x -> x IN ($stopList))) AS DOUBLE) / len(w) AS stop_ratio,
         |         CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
         |           / length(text) AS punct_ratio,
         |         length(text) AS n_chars,
         |         md5($norm) AS fp
         |  FROM d2
         |), d4 AS (
         |  SELECT doc_id, n_tokens, fp,
         |         round(least(CAST(n_chars AS DOUBLE) / 200.0, 1.0) * 0.4
         |             + least(stop_ratio * 4.0, 1.0) * 0.3
         |             + greatest(1.0 - punct_ratio * 5.0, 0.0) * 0.3, 6) AS quality
         |  FROM d3
         |)
         |SELECT l.source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |       CAST(sum(CASE WHEN lang_guess = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en_docs,
         |       CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_fp,
         |       CAST(sum(CAST(floor(quality * 1000000.0) AS BIGINT)) AS BIGINT) AS q_micro_sum,
         |       min(quality) AS q_min, max(quality) AS q_max
         |FROM l JOIN d4 USING (doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Full BPE training replay: every round's winner DERIVED in SQL
    // (unrolled pair-count → argmax → greedy-left list_reduce fold).
    "bpe_train" -> bpeTrainOracleSql,

    // The trained tokenizer applied corpus-wide with the same folds.
    "bpe_tokenize" -> bpeTokenizeOracleSql,

    // The post-merge subword vocabulary with occurrence counts.
    "bpe_vocab" -> bpeVocabOracleSql,

    // Tokenizer → packer composition: BPE subword counts drive the
    // pack_sequences layout arithmetic.
    "bpe_pack" -> bpePackOracleSql,

    // The trainer-consumable id stream: frequency-ranked vocab ids,
    // dense per-doc positions over (word, subword) order.
    "bpe_encode_ids" -> bpeEncodeIdsOracleSql,
    "bpe_decode" -> bpeDecodeOracleSql,

    // BPE pair-count replay: same normalization + whitespace split, pairs
    // are substr(t, i, 2) for i in [1, len-1] (both engines' substr is
    // 1-based and character-oriented), every occurrence counted, same
    // (n DESC, pair) total order before the LIMIT.
    "bpe_pair_counts" ->
      s"""WITH tk AS (
         |  SELECT unnest($toksSql) AS t FROM documents
         |),
         |pairs AS (
         |  SELECT substr(t, i, 2) AS pair
         |  FROM tk, unnest(range(1, len(t))) AS r(i)
         |  WHERE len(t) >= 2
         |)
         |SELECT pair, CAST(count(*) AS BIGINT) AS n
         |FROM pairs GROUP BY pair
         |ORDER BY n DESC, pair LIMIT $BpeTopK""".stripMargin,

    // IVF replay: the shared kmeans chain, final assignment as `fin` for
    // BOTH sides (queries are corpus members, so their cell is the fitted
    // one), then the semdedup-style raw-vector cosine ranked within the
    // probed cell.
    "knn_ivf_cosine" -> knnIvfCosineOracle,

    // knn_ivf_persisted: probe of the STORED index — same deterministic
    // fit, same result, same replay
    "knn_ivf_persisted" -> knnIvfCosineOracle,

    // knn_ivf_persisted_incr: quantizer fit on the indexed 4/5, appended
    // batch assigned against the frozen centroids, probe over the union —
    // the oracle replays that exact two-generation index state
    "knn_ivf_persisted_incr" -> knnIvfIncrOracle,

    // knn_ivf_snapshot: the latest-generation probe is the SAME
    // frozen-quantizer union state; the pinned-v0 stability law rides as
    // a measured TRUE (the Spark side computes it from the log's files)
    "knn_ivf_snapshot" ->
      s"""SELECT q.*, TRUE AS pinned_v0_stable FROM (
         |$knnIvfIncrOracle
         |) q ORDER BY query_id, rank""".stripMargin,

    // Multi-probe IVF replay: per-query cells ranked by centroid cosine
    // (DESC, cluster ASC — matching the struct(-cos, cell) ascending sort),
    // top-$IvfProbes probed, then the same within-set exact ranking.
    "knn_ivf_cosine_mp" ->
      (kmeansCtesSql(KmK, KmIters) +
        s""",
           |fin AS (
           |${kmeansAssignFrom(s"c$KmIters")}
           |),
           |qa AS (
           |  SELECT vec_id AS query_id, cluster FROM (
           |    SELECT e.vec_id, cc.cluster,
           |           row_number() OVER (PARTITION BY e.vec_id
           |             ORDER BY list_sum([e.v[i] * cc.c[i] for i in range(1, len(e.v) + 1)])
           |                      / (e.vn * sqrt(list_sum([x * x for x in cc.c]))) DESC,
           |               cc.cluster) AS prn
           |    FROM e CROSS JOIN c$KmIters cc
           |    WHERE e.vec_id < 10
           |  ) WHERE prn <= $IvfProbes
           |),
           |p AS (
           |  SELECT q.query_id, c.vec_id AS neighbor_id,
           |         list_sum([nq.r[i] * nc.r[i] for i in range(1, len(nq.r) + 1)]) / (nq.rn * nc.rn) AS cos
           |  FROM qa q
           |  JOIN fin c ON q.cluster = c.cluster AND c.vec_id <> q.query_id
           |  JOIN en nq ON nq.vec_id = q.query_id
           |  JOIN en nc ON nc.vec_id = c.vec_id
           |), r AS (
           |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           |  FROM p
           |),
           |ann AS (
           |  SELECT query_id, neighbor_id, round(cos, 6) AS cosine, CAST(rank AS BIGINT) AS rank
           |  FROM r WHERE rank <= 5
           |)""".stripMargin + annRecallTailSql(IvfMpRecallFloor)),

    // PQ replay: one namespaced kmeans chain per subspace over the
    // corresponding vector slice (DuckDB r[a:b] == Spark slice), final
    // assignments joined on the id — every codebook replays exactly
    // because each fit is the same md5-seeded 6-decimal-quantized chain
    // the kmeans_clusters oracle replays.
    "embed_quantize_pq" -> {
      val subDim = graft.operators.Similarity.DefaultDim / PqM
      val chains = (0 until PqM).map { s =>
        val c = kmeansCtesSql(PqK, PqIters, prefix = s"s${s}_",
          sliceLo = s * subDim, sliceLen = subDim)
        if (s == 0) c else c.stripPrefix("WITH ")
      }
      val fins = (0 until PqM).map { s =>
        s"""s${s}_fin AS (
           |${kmeansAssignFrom(s"s${s}_c$PqIters", s"s${s}_")}
           |)""".stripMargin
      }
      val joins = (1 until PqM).map(s => s"JOIN s${s}_fin f$s USING (vec_id)").mkString("\n")
      val cols = (0 until PqM).map(s => s"f$s.cluster AS pq_$s").mkString(", ")
      (chains ++ fins).mkString(",\n") +
        s"""
           |SELECT vec_id, $cols
           |FROM s0_fin f0
           |$joins
           |ORDER BY vec_id""".stripMargin
    },

    // ADC replay: the PQ chains again (same fits → identical codes), a
    // per-(query, subspace, cell) lookup table from the rounded centroids,
    // and the left-assoc d0 + d1 + ... sum the Spark side mirrors, so the
    // score doubles agree bitwise before the 6-decimal round.
    "knn_pq_adc" -> {
      val subDim = graft.operators.Similarity.DefaultDim / PqM
      val chains = (0 until PqM).map { s =>
        val c = kmeansCtesSql(PqK, PqIters, prefix = s"s${s}_",
          sliceLo = s * subDim, sliceLen = subDim)
        if (s == 0) c else c.stripPrefix("WITH ")
      }
      val fins = (0 until PqM).map { s =>
        s"""s${s}_fin AS (
           |${kmeansAssignFrom(s"s${s}_c$PqIters", s"s${s}_")}
           |)""".stripMargin
      }
      val qds = (0 until PqM).map { s =>
        s"""qd$s AS (
           |  SELECT q.vec_id AS query_id, c.cluster,
           |         list_sum([q.qv[i + ${s * subDim}] * c.c[i] for i in range(1, ${subDim + 1})]) AS d
           |  FROM qs q CROSS JOIN s${s}_c$PqIters c
           |)""".stripMargin
      }
      val codeJoins = (1 until PqM).map(s => s"JOIN s${s}_fin f$s USING (vec_id)").mkString("\n")
      val codeCols = (0 until PqM).map(s => s"f$s.cluster AS c$s").mkString(", ")
      val lutJoins = (1 until PqM).map(s =>
        s"JOIN qd$s q$s ON q$s.cluster = cd.c$s AND q$s.query_id = q0.query_id").mkString("\n")
      val scoreSum = (0 until PqM).map(s => s"q$s.d").mkString(" + ")
      (chains ++ fins ++ Seq(
        "qs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 10)") ++
        qds).mkString(",\n") +
        s""",
           |cd AS (
           |  SELECT f0.vec_id AS neighbor_id, $codeCols
           |  FROM s0_fin f0
           |$codeJoins
           |),
           |p AS (
           |  SELECT q0.query_id, cd.neighbor_id, $scoreSum AS adc
           |  FROM cd
           |  JOIN qd0 q0 ON q0.cluster = cd.c0
           |$lutJoins
           |  WHERE q0.query_id <> cd.neighbor_id
           |),
           |r AS (
           |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS rank
           |  FROM p
           |),
           |ann AS (
           |  SELECT query_id, neighbor_id, round(adc, 6) AS adc_score, CAST(rank AS BIGINT) AS rank
           |  FROM r WHERE rank <= 5
           |)""".stripMargin + annRecallTailSql(PqRecallFloor)
    },

    // knn_ivfpq_adc: the knn_pq_adc replay with the coarse kmeans chain
    // composed in front — candidates are restricted to the query's
    // top-IvfProbes cells (cos DESC, cluster ASC, the mp ranking) before
    // the identical LUT-sum ADC scoring; recall tail as every ANN oracle
    "knn_ivfpq_adc" -> {
      val subDim = graft.operators.Similarity.DefaultDim / PqM
      val coarse = kmeansCtesSql(KmK, KmIters)
      val pqChains = (0 until PqM).map { s =>
        kmeansCtesSql(PqK, PqIters, prefix = s"s${s}_",
          sliceLo = s * subDim, sliceLen = subDim).stripPrefix("WITH ")
      }
      val fins = (0 until PqM).map { s =>
        s"""s${s}_fin AS (
           |${kmeansAssignFrom(s"s${s}_c$PqIters", s"s${s}_")}
           |)""".stripMargin
      }
      val qds = (0 until PqM).map { s =>
        s"""qd$s AS (
           |  SELECT q.vec_id AS query_id, c.cluster,
           |         list_sum([q.qv[i + ${s * subDim}] * c.c[i] for i in range(1, ${subDim + 1})]) AS d
           |  FROM qs q CROSS JOIN s${s}_c$PqIters c
           |)""".stripMargin
      }
      val codeJoins = (1 until PqM).map(s => s"JOIN s${s}_fin f$s ON f$s.vec_id = f0.vec_id").mkString("\n")
      val codeCols = (0 until PqM).map(s => s"f$s.cluster AS c$s").mkString(", ")
      val lutJoins = (1 until PqM).map(s =>
        s"JOIN qd$s q$s ON q$s.cluster = cd.c$s AND q$s.query_id = q0.query_id").mkString("\n")
      val scoreSum = (0 until PqM).map(s => s"q$s.d").mkString(" + ")
      (Seq(coarse) ++ Seq(
        s"""fin AS (
           |${kmeansAssignFrom(s"c$KmIters")}
           |)""".stripMargin,
        s"""qa AS (
           |  SELECT vec_id AS query_id, cluster FROM (
           |    SELECT e.vec_id, cc.cluster,
           |           row_number() OVER (PARTITION BY e.vec_id
           |             ORDER BY list_sum([e.v[i] * cc.c[i] for i in range(1, len(e.v) + 1)])
           |                      / (e.vn * sqrt(list_sum([x * x for x in cc.c]))) DESC,
           |               cc.cluster) AS prn
           |    FROM e CROSS JOIN c$KmIters cc
           |    WHERE e.vec_id < 10
           |  ) WHERE prn <= $IvfProbes
           |)""".stripMargin) ++
        pqChains ++ fins ++ Seq(
        "qs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 10)") ++
        qds).mkString(",\n") +
        s""",
           |cd AS (
           |  SELECT f0.vec_id AS neighbor_id, fc.cluster AS cell, $codeCols
           |  FROM s0_fin f0
           |  JOIN fin fc ON fc.vec_id = f0.vec_id
           |$codeJoins
           |),
           |p AS (
           |  SELECT q0.query_id, cd.neighbor_id, $scoreSum AS adc
           |  FROM cd
           |  JOIN qa ON qa.cluster = cd.cell
           |  JOIN qd0 q0 ON q0.cluster = cd.c0 AND q0.query_id = qa.query_id
           |$lutJoins
           |  WHERE q0.query_id <> cd.neighbor_id
           |),
           |r AS (
           |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS rank
           |  FROM p
           |),
           |ann AS (
           |  SELECT query_id, neighbor_id, round(adc, 6) AS adc_score, CAST(rank AS BIGINT) AS rank
           |  FROM r WHERE rank <= 5
           |)""".stripMargin + annRecallTailSql(IvfPqRecallFloor)
    },

    // embed_rp: generated replay with the identical sign literals and the
    // identical left-fold order
    "embed_rp" -> Similarity.randomProjectionSql(),

    // Quantization replay: per-dim bounds are min/max SELECTIONS (no
    // arithmetic, bit-exact across engines); the code expression keeps the
    // Spark operation order ((x - mn) * levels, then / (mx - mn)) so the
    // IEEE doubles agree before floor; constant dims encode as 0.
    // knn_mmr_rerank: identical quantization fragment, integer dots,
    // and the greedy unrolled to its five picks — each pick is an
    // argmax over (7·rel − 3·max_sim_to_selected, vec_id)
    "knn_mmr_rerank" -> {
      val q = QuantLevels
      val dotCv = "CAST(list_sum([a.cv[i] * b.cv[i] " +
        "for i in range(1, len(a.cv) + 1)]) AS BIGINT)"
      def pick(n: Int): String =
        s"""p$n AS (
           |  SELECT * FROM (
           |    SELECT p.vec_id, p.rel,
           |      (SELECT max(pr.sim) FROM pairs pr
           |       WHERE pr.pa = p.vec_id
           |         AND pr.pb IN (SELECT vec_id FROM s${n - 1})) AS ms
           |    FROM pool p
           |    WHERE p.vec_id NOT IN (SELECT vec_id FROM s${n - 1}))
           |  ORDER BY 7 * rel - 3 * ms DESC, vec_id LIMIT 1
           |), s$n AS (SELECT vec_id FROM s${n - 1}
           |           UNION ALL SELECT vec_id FROM p$n)""".stripMargin
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |ex AS (SELECT vec_id, i, v[i] AS x
         |       FROM e, unnest(range(1, len(v) + 1)) AS t(i)),
         |stats AS (SELECT i, min(x) AS mn, max(x) AS mx FROM ex GROUP BY i),
         |codes AS (
         |  SELECT vec_id, i,
         |         CASE WHEN s.mx = s.mn THEN 0
         |              ELSE CAST(least(floor((x - s.mn) * $q.0 / (s.mx - s.mn)),
         |                              ${q - 1}) AS BIGINT) END AS c
         |  FROM ex JOIN stats s USING (i)
         |),
         |cvl AS (SELECT vec_id, list(c ORDER BY i) AS cv FROM codes GROUP BY vec_id),
         |qv AS (SELECT cv FROM cvl WHERE vec_id = 0),
         |rel AS (
         |  SELECT a.vec_id,
         |         CAST(list_sum([a.cv[i] * b.cv[i]
         |           for i in range(1, len(a.cv) + 1)]) AS BIGINT) AS rel
         |  FROM cvl a, qv b WHERE a.vec_id != 0
         |),
         |pool AS (
         |  SELECT r.vec_id, r.rel, c.cv FROM rel r JOIN cvl c USING (vec_id)
         |  ORDER BY r.rel DESC, r.vec_id LIMIT 40
         |),
         |pairs AS (
         |  SELECT a.vec_id AS pa, b.vec_id AS pb, $dotCv AS sim
         |  FROM pool a JOIN pool b ON a.vec_id != b.vec_id
         |),
         |p1 AS (SELECT vec_id, rel, CAST(0 AS BIGINT) AS ms FROM pool
         |       ORDER BY rel DESC, vec_id LIMIT 1),
         |s1 AS (SELECT vec_id FROM p1),
         |${pick(2)},
         |${pick(3)},
         |${pick(4)},
         |${pick(5)}
         |SELECT CAST(1 AS BIGINT) AS rank, vec_id, rel AS rel_dot,
         |       ms AS max_sim_prev FROM p1
         |UNION ALL SELECT 2, vec_id, rel, ms FROM p2
         |UNION ALL SELECT 3, vec_id, rel, ms FROM p3
         |UNION ALL SELECT 4, vec_id, rel, ms FROM p4
         |UNION ALL SELECT 5, vec_id, rel, ms FROM p5
         |ORDER BY rank""".stripMargin
    },

    "embed_quantize" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |ex AS (
         |  SELECT vec_id, i, v[i] AS x
         |  FROM e, unnest(range(1, len(v) + 1)) AS t(i)
         |),
         |stats AS (SELECT i, min(x) AS mn, max(x) AS mx FROM ex GROUP BY i),
         |codes AS (
         |  SELECT vec_id, i,
         |         CASE WHEN s.mx = s.mn THEN 0
         |              ELSE CAST(least(floor((x - s.mn) * ${QuantLevels}.0 / (s.mx - s.mn)), ${QuantLevels - 1}) AS BIGINT)
         |         END AS c
         |  FROM ex JOIN stats s USING (i)
         |)
         |SELECT vec_id,
         |       md5(string_agg(CAST(c AS VARCHAR), ' ' ORDER BY i)) AS q_fp,
         |       min(c) AS q_min, max(c) AS q_max, CAST(sum(c) AS BIGINT) AS q_sum
         |FROM codes GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    // knn_shapley: the embed_quantize codes CTE shared verbatim, exact
    // integer squared-L2 distances, the suffix recursion replayed with
    // each 1/max(K,i) term floored positive FIRST (no negative floor
    // division anywhere), suffix window sum, per-train total
    "knn_shapley" -> knnShapleyOracleSql(""),

    // knn_shapley_ivf: the oracle replays the EXACT route (the IVF
    // variant's output rows ARE the exact contributions); the top-M
    // agreement floor vs the IVF re-ranking is measured Spark-side and
    // pinned TRUE
    "knn_shapley_ivf" -> knnShapleyOracleSql(
      ",\n       TRUE AS ivf_top_agreement_met"),


    "dedup_simhash" ->
      s"""WITH toks AS (
         |  SELECT DISTINCT doc_id, unnest(list_distinct($toksSql)) AS tok FROM documents
         |), hashed AS (
         |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
         |), votes AS (
         |  SELECT doc_id, bit,
         |         sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM hashed, unnest(range(0, 60)) AS t(bit)
         |  GROUP BY doc_id, bit
         |), sh AS (
         |  SELECT doc_id,
         |         CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
         |  FROM votes GROUP BY doc_id
         |)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
         |ORDER BY doc_a, doc_b""".stripMargin,

    // dedup_phash: band-join candidates -> exact bit-array Hamming;
    // banding is lossless for hamming <= 3 by pigeonhole, which is
    // exactly the engine index's guarantee
    // mm_audio_envelope: window energy is 8× the per-window amplitude
    // (all 8 samples of a window carry the amplitude) — the same formula
    // replay dedup_audio pins, here emitted as the envelope itself
    "mm_audio_envelope" ->
      """WITH abase AS (SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v FROM documents),
        |ex AS (
        |  SELECT doc_id, t.w,
        |    (('0x' || substr(md5(g::VARCHAR || '_' || t.w::VARCHAR || CASE WHEN v = 3 THEN '_x' ELSE '' END), 1, 3))::BIGINT
        |     + CASE WHEN v = 1 AND t.w = 0 THEN 20000
        |            WHEN v = 2 AND (t.w = 0 OR t.w = 64) THEN 20000
        |            ELSE 0 END) * 8 AS e
        |  FROM abase, range(0, 65) t(w)
        |)
        |SELECT doc_id,
        |       md5(string_agg(e::VARCHAR, ' ' ORDER BY w)) AS env_fp,
        |       CAST(sum(e) AS BIGINT) AS env_sum,
        |       CAST(min(e) AS BIGINT) AS env_min,
        |       CAST(max(e) AS BIGINT) AS env_max
        |FROM ex GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // mm_audio_onsets: adjacent-window energy comparison over the same
    // amplitude-formula replay as mm_audio_envelope; both onset tests
    // (absolute jump, cross-multiplied 2.5x ratio) are exact integers
    "mm_audio_onsets" ->
      """WITH abase AS (SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v FROM documents),
        |ex AS (
        |  SELECT doc_id, t.w,
        |    (('0x' || substr(md5(g::VARCHAR || '_' || t.w::VARCHAR || CASE WHEN v = 3 THEN '_x' ELSE '' END), 1, 3))::BIGINT
        |     + CASE WHEN v = 1 AND t.w = 0 THEN 20000
        |            WHEN v = 2 AND (t.w = 0 OR t.w = 64) THEN 20000
        |            ELSE 0 END) * 8 AS e
        |  FROM abase, range(0, 65) t(w)
        |)
        |SELECT c.doc_id, CAST(c.w AS BIGINT) AS w,
        |       CAST(p.e AS BIGINT) AS prev_e, CAST(c.e AS BIGINT) AS e
        |FROM ex c JOIN ex p ON p.doc_id = c.doc_id AND p.w = c.w - 1
        |WHERE c.e - p.e > 80000 AND c.e * 2 > p.e * 5
        |ORDER BY c.doc_id, c.w""".stripMargin,

    // mm_resize_grid: the pooled sums re-derive from the synthesis
    // formula — every 2×2 block is 4 identical gray pixels whose ITU-601
    // luminance equals the cell byte, so block sum = 4·cell
    "mm_resize_grid" ->
      """WITH base AS (SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v FROM documents),
        |ex AS (
        |  SELECT doc_id, t.k,
        |    ((('0x' || substr(md5(g::VARCHAR || '_' || (t.k % 9)::VARCHAR || '_' || (t.k // 9)::VARCHAR), 1, 2))::BIGINT
        |      + CASE WHEN v = 1 AND t.k = 0 THEN 100
        |             WHEN v = 2 AND (t.k = 0 OR t.k = 71) THEN 100
        |             WHEN v = 3 AND ((t.k % 9) + (t.k // 9)) % 2 = 0 THEN 128
        |             ELSE 0 END) % 256) * 4 AS s
        |  FROM base, range(0, 72) t(k)
        |)
        |SELECT doc_id,
        |       md5(string_agg(s::VARCHAR, ' ' ORDER BY k)) AS grid_fp,
        |       CAST(sum(s) AS BIGINT) AS grid_sum,
        |       CAST(min(s) AS BIGINT) AS grid_min,
        |       CAST(max(s) AS BIGINT) AS grid_max
        |FROM ex GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dedup_phash" -> (phashCtes + """,
      |cand AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), ham AS (
      |  SELECT c.doc_a, c.doc_b,
      |         CAST(list_sum([ abs(x.bt[i + 1] - y.bt[i + 1]) for i in range(0, 64) ]) AS BIGINT) AS hamming
      |  FROM cand c JOIN bits x ON x.doc_id = c.doc_a JOIN bits y ON y.doc_id = c.doc_b
      |)
      |SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 3
      |ORDER BY doc_a, doc_b""".stripMargin),

    // dedup_audio: amplitude-formula replay — window energy is 8x the
    // per-window amplitude, so the adjacent-energy comparisons equal the
    // amplitude comparisons; band join + exact bit-array Hamming as in
    // dedup_phash (lossless at hamming <= 3 by pigeonhole)
    "dedup_audio" ->
      """WITH abase AS (SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v FROM documents),
        |aamp AS (
        |  SELECT doc_id,
        |    [ (('0x' || substr(md5(g::VARCHAR || '_' || w::VARCHAR || CASE WHEN v = 3 THEN '_x' ELSE '' END), 1, 3))::BIGINT
        |       + CASE WHEN v = 1 AND w = 0 THEN 20000
        |              WHEN v = 2 AND (w = 0 OR w = 64) THEN 20000
        |              ELSE 0 END)
        |      for w in range(0, 65) ] AS A
        |  FROM abase
        |), abits AS (
        |  SELECT doc_id,
        |    [ CASE WHEN A[k + 1] < A[k + 2] THEN 1 ELSE 0 END for k in range(0, 64) ] AS bt
        |  FROM aamp
        |), abands AS (
        |  SELECT doc_id, t.band,
        |         CAST(list_sum([ bt[t.band * 16 + j + 1] * (1::BIGINT << j) for j in range(0, 16) ]) AS BIGINT) AS bkey
        |  FROM abits, range(0, 4) t(band)
        |), acand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM abands a JOIN abands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), aham AS (
        |  SELECT c.doc_a, c.doc_b,
        |         CAST(list_sum([ abs(x.bt[i + 1] - y.bt[i + 1]) for i in range(0, 64) ]) AS BIGINT) AS hamming
        |  FROM acand c JOIN abits x ON x.doc_id = c.doc_a JOIN abits y ON y.doc_id = c.doc_b
        |)
        |SELECT doc_a, doc_b, hamming FROM aham WHERE hamming <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,

    // stream_phash_ingest: the same chain probing the full-corpus band
    // index — every (stream doc, corpus partner) ordered pair within
    // hamming <= 3, self-matches included (re-ingest signal)
    "stream_phash_ingest" -> (phashCtes + """,
      |cand AS (
      |  SELECT a.doc_id AS doc_id, b.doc_id AS corpus_doc_id
      |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
      |  GROUP BY 1, 2
      |), ham AS (
      |  SELECT c.doc_id, c.corpus_doc_id,
      |         CAST(list_sum([ abs(x.bt[i + 1] - y.bt[i + 1]) for i in range(0, 64) ]) AS BIGINT) AS hamming
      |  FROM cand c JOIN bits x ON x.doc_id = c.doc_id JOIN bits y ON y.doc_id = c.corpus_doc_id
      |)
      |SELECT doc_id, corpus_doc_id, hamming FROM ham WHERE hamming <= 3
      |ORDER BY doc_id, corpus_doc_id""".stripMargin),

    // dedup_phash_incr: same chain; a fresh doc (id % 5 = 0) counts dups
    // among indexed docs and EARLIER fresh docs, admitted iff none
    "dedup_phash_incr" -> (phashCtes + """,
      |cand AS (
      |  SELECT a.doc_id AS f_id, b.doc_id AS p_id
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bkey = b.bkey
      |   AND a.doc_id % 5 = 0
      |   AND (b.doc_id % 5 <> 0 OR b.doc_id < a.doc_id)
      |  GROUP BY 1, 2
      |), dups AS (
      |  SELECT c.f_id, count(*) AS n_dups
      |  FROM cand c JOIN bits x ON x.doc_id = c.f_id JOIN bits y ON y.doc_id = c.p_id
      |  WHERE list_sum([ abs(x.bt[i + 1] - y.bt[i + 1]) for i in range(0, 64) ]) <= 3
      |  GROUP BY 1
      |)
      |SELECT d.doc_id, CAST(coalesce(u.n_dups, 0) AS BIGINT) AS n_dups,
      |       (coalesce(u.n_dups, 0) = 0) AS admitted
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
      |LEFT JOIN dups u ON u.f_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin),


    "knn_brute_cosine" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_sum([x * x for x in v])) AS nrm FROM e),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         list_sum([q.v[i] * c.v[i] for i in range(1, len(q.v) + 1)]) / (q.nrm * c.nrm) AS cos
        |  FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id != q.vec_id
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM p
        |)
        |SELECT query_id, neighbor_id, round(cos, 6) AS cosine, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // Centroids replayed by unnest + generate_subscripts: per-(label,
    // position) mean; round(6) absorbs cross-engine summation-order noise
    // (Spark merges partials in shuffle-fetch order, DuckDB scans in row
    // order — both double-precision over ≤ shard-sized groups).
    "label_centroids" ->
      """WITH e AS (SELECT CAST(label AS BIGINT) AS label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |u AS (SELECT label, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM e)
        |SELECT label, CAST(pos - 1 AS BIGINT) AS pos, count(*) AS n,
        |       round(sum(x) / count(*), 6) AS centroid
        |FROM u GROUP BY label, pos ORDER BY label, pos""".stripMargin,

    "centroid_assign" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |u AS (SELECT label, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM e),
        |cp AS (SELECT label AS c_label, pos, sum(x) / count(*) AS cv FROM u GROUP BY label, pos),
        |c AS (SELECT c_label, list(cv ORDER BY pos) AS cvec FROM cp GROUP BY c_label),
        |n AS (SELECT vec_id, label, v, sqrt(list_sum([x * x for x in v])) AS vn FROM e),
        |cn AS (SELECT c_label, cvec, sqrt(list_sum([x * x for x in cvec])) AS cnrm FROM c),
        |p AS (
        |  SELECT n.vec_id, n.label, cn.c_label,
        |         list_sum([n.v[i] * cn.cvec[i] for i in range(1, len(n.v) + 1)]) / (n.vn * cn.cnrm) AS cos
        |  FROM n CROSS JOIN cn
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c_label) AS rn FROM p
        |)
        |SELECT vec_id, label, c_label AS assigned_label, round(cos, 6) AS cosine,
        |       CAST(label = c_label AS INT) AS is_own
        |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    "kmeans_clusters" -> kmeansOracleSql(KmK, KmIters),

    "dedup_embedding_semdedup" -> semdedupOracleSql(KmK, KmIters, SemThreshold),

    "hard_negatives" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, label, v, sqrt(list_sum([x * x for x in v])) AS nrm FROM e),
        |p AS (
        |  SELECT q.vec_id AS query_id, q.label AS query_label,
        |         c.vec_id AS neighbor_id, c.label AS neighbor_label,
        |         list_sum([q.v[i] * c.v[i] for i in range(1, len(q.v) + 1)]) / (q.nrm * c.nrm) AS cos
        |  FROM n q JOIN n c ON q.vec_id < 10 AND q.label != c.label
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM p
        |)
        |SELECT query_id, query_label, neighbor_id, neighbor_label,
        |       round(cos, 6) AS cosine, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // Packing layout replayed from the same md5 shard + normalized-token
    // count; the phantom-token guard (CASE length=0) mirrors Packing exactly.
    "pack_sequences" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % $PackShards AS shard,
         |         CASE WHEN length($norm) = 0 THEN 0 ELSE len($toksSql) END AS n_tokens
         |  FROM documents
         |), s AS (
         |  SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
         |         COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
         |  FROM t WHERE n_tokens > 0
         |)
         |SELECT doc_id, shard, n_tokens, CAST(start_tok AS BIGINT) AS start_tok,
         |       CAST(floor(start_tok / $PackBudget) AS BIGINT) AS seq_in_shard,
         |       CAST(start_tok % $PackBudget AS BIGINT) AS offset_in_seq,
         |       CAST(floor((start_tok + n_tokens - 1) / $PackBudget)
         |            - floor(start_tok / $PackBudget) + 1 AS BIGINT) AS n_seqs
         |FROM s ORDER BY doc_id""".stripMargin,

    // Same layout CTEs as pack_sequences, then each doc exploded over the
    // sequences it touches (unnest(generate_series)) and the slices ranked
    // within (shard, seq) by stream position — replaying
    // Packing.packedSequenceSlices slice for slice.
    "pack_slices" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % $PackShards AS shard,
         |         CASE WHEN length($norm) = 0 THEN 0 ELSE len($toksSql) END AS n_tokens
         |  FROM documents
         |), s AS (
         |  SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
         |         CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
         |  FROM t WHERE n_tokens > 0
         |), x AS (
         |  SELECT doc_id, shard, n_tokens, start_tok,
         |         unnest(generate_series(
         |           CAST(floor(start_tok / $PackBudget) AS BIGINT),
         |           CAST(floor((start_tok + n_tokens - 1) / $PackBudget) AS BIGINT))) AS seq_in_shard
         |  FROM s
         |)
         |SELECT shard, seq_in_shard,
         |       CAST(row_number() OVER (PARTITION BY shard, seq_in_shard ORDER BY start_tok) - 1 AS BIGINT) AS slice_idx,
         |       doc_id,
         |       GREATEST(CAST(0 AS BIGINT), seq_in_shard * $PackBudget - start_tok) AS tok_from,
         |       LEAST(n_tokens, (seq_in_shard + 1) * $PackBudget - start_tok) AS tok_to
         |FROM x ORDER BY shard, seq_in_shard, slice_idx""".stripMargin,

    // pack_slices' layout CTEs, then the LOADER path: join each slice back
    // to its document, cut the token list to [tok_from+1, tok_to] (DuckDB
    // list slicing is 1-based inclusive = Spark's slice(toks, from+1, len)),
    // and string_agg the spans in slice order — replaying
    // Packing.gatherSequenceText span for span.
    "pack_gather" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % $PackShards AS shard,
         |         CASE WHEN length($norm) = 0 THEN 0 ELSE len($toksSql) END AS n_tokens
         |  FROM documents
         |), s AS (
         |  SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
         |         CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
         |  FROM t WHERE n_tokens > 0
         |), x AS (
         |  SELECT doc_id, shard, n_tokens, start_tok,
         |         unnest(generate_series(
         |           CAST(floor(start_tok / $PackBudget) AS BIGINT),
         |           CAST(floor((start_tok + n_tokens - 1) / $PackBudget) AS BIGINT))) AS seq_in_shard
         |  FROM s
         |), sl AS (
         |  SELECT shard, seq_in_shard,
         |         CAST(row_number() OVER (PARTITION BY shard, seq_in_shard ORDER BY start_tok) - 1 AS BIGINT) AS slice_idx,
         |         doc_id,
         |         GREATEST(CAST(0 AS BIGINT), seq_in_shard * $PackBudget - start_tok) AS tok_from,
         |         LEAST(n_tokens, (seq_in_shard + 1) * $PackBudget - start_tok) AS tok_to
         |  FROM x
         |), sp AS (
         |  SELECT sl.shard, sl.seq_in_shard, sl.slice_idx, sl.tok_from, sl.tok_to,
         |         array_to_string(($toksSql)[sl.tok_from + 1 : sl.tok_to], ' ') AS span
         |  FROM sl JOIN documents d ON sl.doc_id = d.doc_id
         |)
         |SELECT shard, seq_in_shard,
         |       string_agg(span, ' ' ORDER BY slice_idx) AS seq_text,
         |       CAST(sum(tok_to - tok_from) AS BIGINT) AS seq_tokens,
         |       CAST(count(*) AS BIGINT) AS n_slices
         |FROM sp GROUP BY shard, seq_in_shard
         |ORDER BY shard, seq_in_shard""".stripMargin,

    // pack layout CTEs → distinct sequences → per-epoch md5 key driving
    // both the worker deal (last 8 hex digits) and the within-worker order
    // (full hex, tie-broken by key) — replaying Packing.epochPlan exactly.
    "epoch_plan" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % $PackShards AS shard,
         |         CASE WHEN length($norm) = 0 THEN 0 ELSE len($toksSql) END AS n_tokens
         |  FROM documents
         |), s AS (
         |  SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
         |         CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
         |  FROM t WHERE n_tokens > 0
         |), x AS (
         |  SELECT shard,
         |         unnest(generate_series(
         |           CAST(floor(start_tok / $PackBudget) AS BIGINT),
         |           CAST(floor((start_tok + n_tokens - 1) / $PackBudget) AS BIGINT))) AS seq_in_shard
         |  FROM s
         |), q AS (
         |  SELECT DISTINCT shard, seq_in_shard FROM x
         |), e AS (
         |  SELECT shard, seq_in_shard,
         |         unnest(generate_series(1, $EpochCount)) AS epoch
         |  FROM q
         |), k AS (
         |  SELECT epoch, shard, seq_in_shard,
         |         md5(epoch::VARCHAR || ':' || shard::VARCHAR || ':' || seq_in_shard::VARCHAR) AS ord
         |  FROM e
         |), w AS (
         |  SELECT epoch, shard, seq_in_shard, ord,
         |         ('0x' || substr(ord, 25, 8))::BIGINT % $EpochWorkers AS worker
         |  FROM k
         |)
         |SELECT epoch, worker,
         |       CAST(row_number() OVER (PARTITION BY epoch, worker
         |              ORDER BY ord, shard, seq_in_shard) - 1 AS BIGINT) AS pos_in_worker,
         |       shard, seq_in_shard
         |FROM w ORDER BY epoch, worker, pos_in_worker""".stripMargin,

    "dedup_embedding_cosine" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_sum([x * x for x in v])) AS nrm FROM e)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |       round(list_sum([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)]) / (a.nrm * b.nrm), 6) AS cosine
        |FROM n a JOIN n b ON a.vec_id < b.vec_id
        |WHERE list_sum([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)]) / (a.nrm * b.nrm) >= 0.4
        |ORDER BY vec_a, vec_b""".stripMargin,

    // Replays Similarity.bandBuckets exactly: NearDupBands × NearDupPlanes
    // (both interpolated from the Scala constants), plane
    // q = band*planesPerBand + p, component j = unsigned first-8-hex
    // md5("q_j") / 2^32 - 0.5 (VectorFunctions.planeComponent), then
    // candidate equi-join + exact cosine verify — bit-for-bit the Spark
    // algorithm.
    "dedup_embedding_cosine_lsh" ->
      s"""$embLshPairsSql
        |ORDER BY vec_a, vec_b""".stripMargin,

    // semantic dedup GROUPS: transitive closure over the same banded-LSH
    // cosine pairs (the embLshPairsSql fragment nests as a CTE), min
    // reachable vec_id per vector — composes the two verified pieces the
    // same way the Spark side composes the pair generator with
    // connectedComponents
    "dedup_embedding_components" ->
      s"""WITH RECURSIVE p AS (
        |$embLshPairsSql
        |),
        |edges AS (
        |  SELECT vec_a AS a, vec_b AS b FROM p
        |  UNION ALL SELECT vec_b, vec_a FROM p
        |),
        |reach(a, b) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |)
        |SELECT a AS vec_id, min(b) AS component_id
        |FROM reach GROUP BY a ORDER BY vec_id""".stripMargin,

    // Replays Similarity.lshBuckets (KnnPlanes interpolated — same constant
    // the query passes — single-probe IVF) then exact within-bucket cosine
    // top-5 — the one approximate operator is thereby hash-verified
    // end-to-end.
    "knn_lsh_cosine" ->
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_sum([x * x for x in v])) AS nrm FROM e),
        |bkt AS (
        |  SELECT vec_id,
        |         sum(CASE WHEN list_sum([v[j] * (('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(j - 1 AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0 - 0.5) for j in range(1, len(v) + 1)]) >= 0
        |                  THEN (1::BIGINT << p) ELSE 0 END) AS bucket
        |  FROM n, unnest(range(0, $KnnPlanes)) AS t(p)
        |  GROUP BY vec_id
        |),
        |b AS (SELECT n.vec_id, n.v, n.nrm, bkt.bucket FROM n JOIN bkt ON n.vec_id = bkt.vec_id),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         list_sum([q.v[i] * c.v[i] for i in range(1, len(q.v) + 1)]) / (q.nrm * c.nrm) AS cos
        |  FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id < 10 AND c.vec_id != q.vec_id
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM p
        |),
        |ann AS (
        |  SELECT query_id, neighbor_id, round(cos, 6) AS cosine, CAST(rank AS BIGINT) AS rank
        |  FROM r WHERE rank <= 5
        |)""".stripMargin + annRecallTailSql(LshRecallFloor)),

    // Multi-probe replay: identical buckets, join widened to the Hamming-1
    // ball on the sign bits (bit_count of the bucket xor <= 1 ⟺ own bucket
    // or one marginal plane flipped — the same probe set the Spark side
    // expands explicitly).
    "knn_lsh_cosine_mp" ->
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_sum([x * x for x in v])) AS nrm FROM e),
        |bkt AS (
        |  SELECT vec_id,
        |         sum(CASE WHEN list_sum([v[j] * (('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(j - 1 AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0 - 0.5) for j in range(1, len(v) + 1)]) >= 0
        |                  THEN (1::BIGINT << p) ELSE 0 END) AS bucket
        |  FROM n, unnest(range(0, $KnnPlanes)) AS t(p)
        |  GROUP BY vec_id
        |),
        |b AS (SELECT n.vec_id, n.v, n.nrm, bkt.bucket FROM n JOIN bkt ON n.vec_id = bkt.vec_id),
        |p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         list_sum([q.v[i] * c.v[i] for i in range(1, len(q.v) + 1)]) / (q.nrm * c.nrm) AS cos
        |  FROM b q JOIN b c
        |    ON bit_count(xor(q.bucket, c.bucket)) <= 1
        |   AND q.vec_id < 10 AND c.vec_id != q.vec_id
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM p
        |),
        |ann AS (
        |  SELECT query_id, neighbor_id, round(cos, 6) AS cosine, CAST(rank AS BIGINT) AS rank
        |  FROM r WHERE rank <= 5
        |)""".stripMargin + annRecallTailSql(LshMpRecallFloor)),

    // Replays fakeFeaturesFromChecksum + bruteForceKnn: component j derives
    // from md5(md5(text) || '_' || (j-1)) exactly as the Spark side (payload
    // is the UTF-8 encoding of text, so md5(payload) == DuckDB md5(text));
    // dim and k interpolate from MmFeatDim/MmFeatK.
    "mm_feature_knn" ->
      s"""WITH f AS (
         |  SELECT doc_id,
         |         [('0x' || substr(md5(md5(text) || '_' || CAST(j - 1 AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0 - 0.5
         |          for j in range(1, ${MmFeatDim + 1})] AS v
         |  FROM documents
         |), n AS (
         |  SELECT doc_id, v, sqrt(list_sum([x * x for x in v])) AS nrm FROM f
         |), p AS (
         |  SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
         |         list_sum([q.v[i] * c.v[i] for i in range(1, len(q.v) + 1)]) / (q.nrm * c.nrm) AS cos
         |  FROM n q JOIN n c ON q.doc_id < 10 AND c.doc_id != q.doc_id
         |), r AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM p
         |)
         |SELECT query_id, neighbor_id, round(cos, 6) AS cosine, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= $MmFeatK ORDER BY query_id, rank""".stripMargin,

    // replays Sampling.hashUniform bit-for-bit: first-8-hex md5 of the
    // stringified id over 2^32, thresholded at the cumulative fractions
    "sample_split" ->
      """WITH u AS (
        |  SELECT doc_id,
        |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0 AS u
        |  FROM documents
        |)
        |SELECT CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split,
        |       count(*) AS n_docs, min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,

    // Decontamination — same 32-bit md5 gram keys as the candidate joins
    // (winnow oracle idiom); a hash collision adds the same count in both
    // engines, so the report replays bit-for-bit.
    "decontaminate" ->
      s"""$gramsCte,
         |h AS (
         |  SELECT doc_id,
         |         list_distinct([('0x' || substr(md5(x), 1, 8))::BIGINT for x in g]) AS hs
         |  FROM grams
         |),
         |e AS (SELECT DISTINCT h FROM (SELECT unnest(hs) AS h FROM h WHERE doc_id % 50 = 0)),
         |tr AS (SELECT doc_id, unnest(hs) AS h FROM h WHERE doc_id % 50 <> 0)
         |SELECT tr.doc_id, count(*) AS n_shared
         |FROM tr JOIN e USING (h)
         |GROUP BY tr.doc_id HAVING count(*) >= $DeconMinShared
         |ORDER BY tr.doc_id""".stripMargin,

    // Bloom-route replay: the exact decontaminate report, with the
    // no-false-negative law as a per-row constant — the Spark side computes
    // bloom_caught from the real probe, so any missed doc hash-mismatches.
    "decontaminate_bloom" ->
      s"""$gramsCte,
         |h AS (
         |  SELECT doc_id,
         |         list_distinct([('0x' || substr(md5(x), 1, 8))::BIGINT for x in g]) AS hs
         |  FROM grams
         |),
         |e AS (SELECT DISTINCT h FROM (SELECT unnest(hs) AS h FROM h WHERE doc_id % 50 = 0)),
         |tr AS (SELECT doc_id, unnest(hs) AS h FROM h WHERE doc_id % 50 <> 0)
         |SELECT tr.doc_id, count(*) AS n_shared, TRUE AS bloom_caught
         |FROM tr JOIN e USING (h)
         |GROUP BY tr.doc_id HAVING count(*) >= $DeconMinShared
         |ORDER BY tr.doc_id""".stripMargin,

    // Corpus mixing — lang-ID guess as the stratum, en thinned to 0.25 via
    // the same md5 arithmetic as sample_split (both engines compute the
    // identical double before the compare).
    "sample_mixture" ->
      s"""${langGuessCte()},
         |u AS (
         |  SELECT lang_guess, doc_id,
         |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0 AS u
         |  FROM l
         |)
         |SELECT lang_guess, count(*) AS n_docs, min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM u
         |WHERE u < CASE WHEN lang_guess = 'en' THEN 0.25 ELSE 1.0 END
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // sample_neyman: replay the stats → integer allocation → md5-rank
    // quota fill; sum_key pins the exact sample membership
    "sample_neyman" ->
      """WITH base AS (
        |  SELECT doc_id AS k, source AS stratum, CAST(n_chars AS BIGINT) AS v
        |  FROM documents
        |), stats AS (
        |  SELECT stratum, count(*) AS n_pop, max(v) - min(v) + 1 AS spread
        |  FROM base GROUP BY stratum
        |), floors AS (
        |  SELECT stratum, n_pop, spread,
        |         500 * (n_pop * spread) // wt AS alloc0,
        |         (500 * (n_pop * spread)) % wt AS rem
        |  FROM stats,
        |       (SELECT CAST(sum(n_pop * spread) AS BIGINT) AS wt FROM stats)
        |), alloc AS (
        |  SELECT stratum, n_pop, spread,
        |         least(alloc0 + CASE WHEN seat <= leftover THEN 1 ELSE 0 END,
        |               n_pop) AS alloc
        |  FROM (
        |    SELECT *, row_number() OVER (ORDER BY rem DESC, stratum) AS seat,
        |           500 - CAST(sum(alloc0) OVER () AS BIGINT) AS leftover
        |    FROM floors
        |  )
        |), picked AS (
        |  SELECT stratum, count(*) AS n_sampled, CAST(sum(k) AS BIGINT) AS sum_key
        |  FROM (
        |    SELECT stratum, k,
        |           row_number() OVER (PARTITION BY stratum
        |             ORDER BY md5(CAST(k AS VARCHAR)), k) AS rn
        |    FROM base
        |  ) r JOIN alloc USING (stratum)
        |  WHERE rn <= alloc
        |  GROUP BY stratum
        |)
        |SELECT stratum, n_pop, spread, alloc,
        |       coalesce(n_sampled, 0) AS n_sampled,
        |       coalesce(sum_key, 0) AS sum_key
        |FROM alloc LEFT JOIN picked USING (stratum)
        |ORDER BY stratum""".stripMargin,

    // sample_weighted: the identical max-of-w-hashes priority (exact
    // integer E-S) and the identical (priority DESC, doc_id) top-100 cut
    "sample_weighted" ->
      """WITH w AS (
        |  SELECT doc_id, 1 + least(7, n_chars // 64) AS wt FROM documents
        |), p AS (
        |  SELECT doc_id, wt,
        |         list_max([('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#'
        |             || CAST(c AS VARCHAR)), 1, 8))::BIGINT
        |           for c in range(1, wt + 1)]) AS priority
        |  FROM w
        |)
        |SELECT doc_id, CAST(wt AS BIGINT) AS wt, priority
        |FROM p ORDER BY priority DESC, doc_id LIMIT 100""".stripMargin,

    // sample_kcenter: the five greedy rounds unrolled — each stage folds
    // the previous min-distance with the newest center's rounded cosine
    // distance (identical least/round algebra to the Spark loop), then
    // takes the (md DESC, vec_id) argmax
    "sample_kcenter" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, [x / sqrt(list_sum([y * y for y in v])) for x in v] AS u
        |      FROM e WHERE list_sum([y * y for y in v]) > 0),
        |c0 AS (SELECT min(vec_id) AS id FROM n),
        |u0 AS (SELECT u FROM n, c0 WHERE n.vec_id = c0.id),
        |d1 AS (SELECT n.vec_id,
        |              least(2.0, round(1 - list_sum([n.u[i] * u0.u[i]
        |                for i in range(1, len(n.u) + 1)]), 6)) AS md FROM n, u0),
        |c1 AS (SELECT vec_id AS id, md FROM d1 ORDER BY md DESC, vec_id LIMIT 1),
        |u1 AS (SELECT u FROM n, c1 WHERE n.vec_id = c1.id),
        |d2 AS (SELECT d1.vec_id,
        |              least(d1.md, round(1 - list_sum([n.u[i] * u1.u[i]
        |                for i in range(1, len(n.u) + 1)]), 6)) AS md
        |       FROM d1 JOIN n ON d1.vec_id = n.vec_id, u1),
        |c2 AS (SELECT vec_id AS id, md FROM d2 ORDER BY md DESC, vec_id LIMIT 1),
        |u2 AS (SELECT u FROM n, c2 WHERE n.vec_id = c2.id),
        |d3 AS (SELECT d2.vec_id,
        |              least(d2.md, round(1 - list_sum([n.u[i] * u2.u[i]
        |                for i in range(1, len(n.u) + 1)]), 6)) AS md
        |       FROM d2 JOIN n ON d2.vec_id = n.vec_id, u2),
        |c3 AS (SELECT vec_id AS id, md FROM d3 ORDER BY md DESC, vec_id LIMIT 1),
        |u3 AS (SELECT u FROM n, c3 WHERE n.vec_id = c3.id),
        |d4 AS (SELECT d3.vec_id,
        |              least(d3.md, round(1 - list_sum([n.u[i] * u3.u[i]
        |                for i in range(1, len(n.u) + 1)]), 6)) AS md
        |       FROM d3 JOIN n ON d3.vec_id = n.vec_id, u3),
        |c4 AS (SELECT vec_id AS id, md FROM d4 ORDER BY md DESC, vec_id LIMIT 1)
        |SELECT CAST(0 AS BIGINT) AS step, c0.id AS center_id,
        |       CAST(NULL AS DOUBLE) AS sel_dist FROM c0
        |UNION ALL SELECT 1, id, md FROM c1
        |UNION ALL SELECT 2, id, md FROM c2
        |UNION ALL SELECT 3, id, md FROM c3
        |UNION ALL SELECT 4, id, md FROM c4
        |ORDER BY step""".stripMargin,

    // sample_per_key: graft_topk's deterministic (hash DESC, key-string
    // ASC) selection replayed as a window rank — note the VARCHAR
    // tie-break, matching the aggregate's string item ordering
    "sample_per_key" ->
      """WITH h AS (
        |  SELECT source, CAST(doc_id AS VARCHAR) AS ks,
        |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS priority
        |  FROM documents
        |), r AS (
        |  SELECT source, ks, priority,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY priority DESC, ks) AS rank
        |  FROM h
        |)
        |SELECT source, CAST(rank AS BIGINT) AS rank,
        |       CAST(ks AS BIGINT) AS doc_id, priority
        |FROM r WHERE rank <= 5 ORDER BY source, rank""".stripMargin,

    // Budget selection replay: the shared staged-quality CTE, then the
    // identical (quality DESC, doc_id) window cumsum — all budget
    // comparisons on BIGINT token sums, quality pre-rounded to 6 decimals
    // before anything orders by it.
    "budget_select" ->
      s"""$budgetScoredCte,
         |c AS (
         |  SELECT *, sum(n_tokens) OVER (PARTITION BY source
         |           ORDER BY quality DESC, doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
         |  FROM q
         |)
         |SELECT source, doc_id, n_tokens, quality, CAST(cum_tokens AS BIGINT) AS cum_tokens
         |FROM c WHERE cum_tokens <= $BudgetTokens
         |ORDER BY source, doc_id""".stripMargin,

    // Binned-variant replay: quality-bin histogram, bin-descending integer
    // cumsum, whole kept bins joined back — the same arithmetic at every
    // step, so the under-fill is identical too.
    "budget_select_binned" ->
      s"""$budgetScoredCte,
         |b AS (
         |  SELECT *, least(CAST(floor(quality * $BudgetBins) AS BIGINT), ${BudgetBins - 1}) AS bin
         |  FROM q
         |), h AS (
         |  SELECT source, bin, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
         |  FROM b GROUP BY 1, 2
         |), hc AS (
         |  SELECT source, bin, sum(bin_tokens) OVER (PARTITION BY source ORDER BY bin DESC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
         |  FROM h
         |), k AS (SELECT source, bin FROM hc WHERE cum_tokens <= $BudgetTokens)
         |SELECT b.source, b.doc_id, b.n_tokens, b.quality
         |FROM b JOIN k ON b.source = k.source AND b.bin = k.bin
         |ORDER BY b.source, b.doc_id""".stripMargin,

    // Mixture-weights replay: integer counts, the 1-row total, and the
    // α=0.5 propensity via sqrt — correctly rounded IEEE in both engines
    // (a pow()-based temperature would not be portable across libms).
    "mixture_weights" ->
      s"""WITH t AS (SELECT source, len($toksSql) AS nt FROM documents),
         |p AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(nt) AS BIGINT) AS n_tokens
         |  FROM t GROUP BY 1
         |), tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM p)
         |SELECT source, n_docs, n_tokens,
         |       CAST(floor(sqrt(CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE))
         |            * 1000000.0) AS BIGINT) AS weight_ppm
         |FROM p CROSS JOIN tot ORDER BY source""".stripMargin,

    // cluster_top_terms: the shared kmeans chain assigns, then the same
    // χ² HUGEINT cross-multiplication per cluster; guards precede the
    // division on both engines
    "cluster_top_terms" -> (kmeansCtesSql(KmK, KmIters) +
      s""",
         |fin AS (
         |${kmeansAssignFrom(s"c$KmIters")}
         |),
         |tk AS (SELECT f.cluster, unnest($toksSql) AS token
         |       FROM documents d JOIN fin f ON d.doc_id = f.vec_id),
         |ct AS (SELECT cluster, token, CAST(count(*) AS BIGINT) AS a
         |       FROM tk GROUP BY 1, 2),
         |ta AS (SELECT token, CAST(count(*) AS BIGINT) AS c_all FROM tk GROUP BY 1),
         |ca AS (SELECT cluster, CAST(count(*) AS BIGINT) AS na FROM tk GROUP BY 1),
         |g AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tk),
         |sc AS (
         |  SELECT ct.cluster, ct.token, ct.a, ta.c_all - ct.a AS b,
         |         ca.na, g.n - ca.na AS nb, g.n
         |  FROM ct JOIN ta USING (token) JOIN ca USING (cluster) CROSS JOIN g
         |),
         |base AS (
         |  SELECT * FROM sc
         |  WHERE a >= 10 AND nb > 0 AND n - a - b > 0
         |    AND CAST(a AS HUGEINT) * nb > CAST(b AS HUGEINT) * na
         |),
         |ch AS (
         |  SELECT cluster, token, a,
         |    CAST((CAST(n AS HUGEINT)
         |          * (CAST(a AS HUGEINT) * nb - CAST(b AS HUGEINT) * na)
         |          * (CAST(a AS HUGEINT) * nb - CAST(b AS HUGEINT) * na) * 1000000)
         |      // (CAST(na AS HUGEINT) * nb * (a + b) * (n - a - b)) AS BIGINT) AS chi2_e6
         |  FROM base
         |)
         |SELECT cluster, CAST(rk AS BIGINT) AS rank, token,
         |       a AS n_in_cluster, chi2_e6
         |FROM (SELECT *, row_number() OVER (PARTITION BY cluster
         |        ORDER BY chi2_e6 DESC, token) AS rk FROM ch)
         |WHERE rk <= 3 ORDER BY cluster, rank""".stripMargin),

    // collocations_pmi: bigrams via zipped list slices, identical
    // HUGEINT cross-multiplication with `//` replaying the div
    "collocations_pmi" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS wd FROM documents),
         |tok AS (SELECT unnest(wd) AS w FROM toks),
         |big AS (
         |  SELECT unnest(wd[1:len(wd) - 1]) AS x, unnest(wd[2:len(wd)]) AS y
         |  FROM toks WHERE len(wd) >= 2
         |),
         |pc AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c_xy
         |       FROM big GROUP BY 1, 2 HAVING count(*) >= 10),
         |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY w),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM tok)
         |SELECT pc.x, pc.y, pc.c_xy, ux.c AS cx, uy.c AS cy,
         |  CAST((CAST(n_tokens AS HUGEINT) * c_xy * 1000000)
         |    // (CAST(ux.c AS HUGEINT) * uy.c) AS BIGINT) AS pmi_ratio_e6
         |FROM pc
         |JOIN uni ux ON pc.x = ux.w
         |JOIN uni uy ON pc.y = uy.w
         |CROSS JOIN tot
         |ORDER BY pmi_ratio_e6 DESC, x, y LIMIT 20""".stripMargin,

    // textrank_keywords: the candidate filter runs in the token list
    // (order-preserving list_filter), adjacency by the same slice-zip as
    // collocations_pmi, canonical pairs via least/greatest, word ids from
    // the identical md5-prefix formula, and the rank chain is the SHARED
    // pagerankIterCtes template over this graph's e/ws/nd/c/r0/t
    "textrank_keywords" ->
      s"""WITH toks AS (
         |  SELECT list_filter($toksSql,
         |           w -> length(w) >= $TrMinLen AND NOT list_contains([$stopList], w)) AS wd
         |  FROM documents
         |),
         |big AS (
         |  SELECT unnest(wd[1:len(wd) - 1]) AS bx, unnest(wd[2:len(wd)]) AS by
         |  FROM toks WHERE len(wd) >= 2
         |),
         |cw AS (
         |  SELECT least(bx, by) AS x, greatest(bx, by) AS y,
         |         CAST(count(*) AS BIGINT) AS w
         |  FROM big WHERE bx <> by GROUP BY 1, 2 HAVING count(*) >= $TrMinEdge
         |),
         |ids AS (
         |  SELECT word, ('0x' || substr(md5(word), 1, 15))::BIGINT AS wid
         |  FROM (SELECT DISTINCT word FROM
         |          (SELECT x AS word FROM cw UNION ALL SELECT y FROM cw))
         |),
         |e AS (
         |  SELECT xi.wid AS src, yi.wid AS dst, cw.w
         |  FROM cw JOIN ids xi ON xi.word = cw.x JOIN ids yi ON yi.word = cw.y
         |  UNION ALL
         |  SELECT yi.wid, xi.wid, cw.w
         |  FROM cw JOIN ids xi ON xi.word = cw.x JOIN ids yi ON yi.word = cw.y
         |),
         |ws AS (SELECT src, CAST(sum(w) AS BIGINT) AS wsum FROM e GROUP BY 1),
         |nd AS (SELECT DISTINCT src AS node FROM e),
         |c AS (SELECT count(*) AS n FROM nd),
         |r0 AS (SELECT node, $PrScale // n AS rank FROM nd CROSS JOIN c),
         |t AS (SELECT node, (($PrScale // n) * ${PrDen - PrNum}) // $PrDen AS tele
         |      FROM nd CROSS JOIN c),
         |${pagerankIterCtes("")}
         |SELECT ids.word, r.rank
         |FROM r$PrIters r JOIN ids ON ids.wid = r.node
         |ORDER BY r.rank DESC, ids.word LIMIT $TrK""".stripMargin,

    // vocab_drift: identical χ² cross-multiplication in HUGEINT with
    // `//` replaying the truncating div; same tokenizer fragment
    "vocab_drift" ->
      s"""WITH t AS (
         |  SELECT CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS in_a,
         |         unnest($toksSql) AS token FROM documents
         |), pt AS (
         |  SELECT token, CAST(sum(in_a) AS BIGINT) AS a,
         |         CAST(sum(1 - in_a) AS BIGINT) AS b
         |  FROM t GROUP BY token
         |), tot AS (SELECT sum(a) AS na, sum(b) AS nb FROM pt)
         |SELECT token, a, b,
         |  CAST((CAST(na + nb AS HUGEINT)
         |        * (CAST(a AS HUGEINT) * nb - CAST(b AS HUGEINT) * na)
         |        * (CAST(a AS HUGEINT) * nb - CAST(b AS HUGEINT) * na)
         |        * 1000000)
         |    // (CAST(na AS HUGEINT) * nb * (a + b) * (na + nb - a - b))
         |    AS BIGINT) AS chi2_e6
         |FROM pt, tot
         |WHERE a + b >= 20 AND na + nb - a - b > 0
         |ORDER BY chi2_e6 DESC, token LIMIT 15""".stripMargin,

    "top_tokens" ->
      s"""SELECT token, count(*) AS n
         |FROM (SELECT unnest($toksSql) AS token FROM documents)
         |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin,

    // top_tokens_grouped: the bounded aggregate's deterministic
    // (n DESC, token ASC) selection replayed as a window rank
    // heavy_hitters_mg: the exact heavy-hitter ground truth; the MG law
    // booleans are pinned TRUE (the sketch must satisfy its guarantees)
    "heavy_hitters_mg" ->
      s"""WITH t AS (SELECT source, unnest($toksSql) AS token FROM documents),
         |tf AS (SELECT source, token, CAST(count(*) AS BIGINT) AS n_true
         |       FROM t GROUP BY 1, 2),
         |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_tot FROM t GROUP BY 1)
         |SELECT tf.source, token, n_true, TRUE AS covered, TRUE AS bounds_ok
         |FROM tf JOIN tot ON tf.source = tot.source
         |WHERE n_true * ${MgK + 1} > n_tot
         |ORDER BY tf.source, token""".stripMargin,

    "top_tokens_grouped" ->
      s"""WITH t AS (SELECT source, unnest($toksSql) AS token FROM documents),
         |tf AS (SELECT source, token, count(*) AS n FROM t GROUP BY source, token),
         |r AS (
         |  SELECT source, token, n,
         |         row_number() OVER (PARTITION BY source ORDER BY n DESC, token) AS rank
         |  FROM tf
         |)
         |SELECT source, CAST(rank AS BIGINT) AS rank, token, n
         |FROM r WHERE rank <= 5
         |ORDER BY source, rank""".stripMargin,

    "tfidf_top_terms" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
         |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |r AS (
         |  SELECT tf.doc_id, tf.term, tf.tf, dfx.df,
         |         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfx.df), 4) AS tfidf,
         |         row_number() OVER (PARTITION BY tf.doc_id
         |                            ORDER BY tf.tf DESC, dfx.df ASC, tf.term) AS rank
         |  FROM tf JOIN dfx USING (term) CROSS JOIN n
         |)
         |SELECT doc_id, term, tf, df, tfidf, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 3 AND doc_id < 50
         |ORDER BY doc_id, rank""".stripMargin,

    // Rebuilds the EXACT payload bytes withMediaPayload synthesizes (as a
    // hex string; the one exception is the PNG IHDR CRC, zeroed here because
    // the oracle engine has no crc32 — no parsed field reads it), then
    // replays the sniffer's byte walk: PNG fixed offsets behind signature +
    // IHDR tag checks; JPEG chaining o2/o3 from the segment-length FIELDS
    // read out of the bytes; WAV skipping the optional JUNK chunk by its
    // little-endian size field. Offsets are 1-indexed bytes; a byte read at
    // position p is a substr of the hex string at (p-1)*2+1.
    // text_nfc_audit: same decomposed-suffix construction (chr(769) =
    // COMBINING ACUTE, chr(778) = COMBINING RING ABOVE), normalized by
    // utf8proc's nfc_normalize against the engine's JDK Normalizer
    "text_nfc_audit" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 4 = 0 THEN text || ' cafe' || chr(769)
        |              WHEN doc_id % 4 = 1 THEN text || ' A' || chr(778)
        |              ELSE text END AS raw
        |  FROM documents
        |)
        |SELECT doc_id,
        |       (nfc_normalize(raw) <> raw) AS changed,
        |       CAST(length(raw) AS BIGINT) AS len_raw,
        |       CAST(length(nfc_normalize(raw)) AS BIGINT) AS len_nfc,
        |       md5(nfc_normalize(raw)) AS nfc_md5
        |FROM aug ORDER BY doc_id""".stripMargin,

    "mm_decode_real" -> mmDecodeRealOracle,

    // mm_gif_frames / mm_gif_frame_sample: metadata replayed from the
    // generative formula (Spark walks the real container bytes)
    "mm_gif_frames" ->
      """SELECT doc_id,
        |       CAST(16 + (doc_id * 29) % 1000 AS BIGINT) AS width,
        |       CAST(16 + (doc_id * 41) % 800 AS BIGINT) AS height,
        |       CAST(1 + doc_id % 6 AS BIGINT) AS n_frames,
        |       CAST(list_sum([4 + (doc_id * 7 + f * 3) % 96
        |                      for f in range(0, 1 + doc_id % 6)]) AS BIGINT) AS total_delay_cs
        |FROM documents ORDER BY doc_id""".stripMargin,

    "mm_gif_frame_sample" ->
      """WITH fr AS (
        |  SELECT doc_id, unnest(range(0, CAST(1 + doc_id % 6 AS BIGINT))) AS f FROM documents
        |)
        |SELECT doc_id, CAST(f AS BIGINT) AS frame_no,
        |       CAST(4 + (doc_id * 7 + f * 3) % 96 AS BIGINT) AS delay_cs
        |FROM fr WHERE f % 2 = 0 ORDER BY doc_id, frame_no""".stripMargin,

    // binaryfile_ingest: identical per-doc decode — the file scatter +
    // binaryFile read round-trip must be byte-lossless for this to hash
    "binaryfile_ingest" -> mmDecodeRealOracle,

    // mm_format_stats: the per-format rollup over the same replayed parse
    // (plain concatenation — stripMargin over the interpolated inner SQL
    // would eat the leading `||` concat operators)
    "mm_format_stats" ->
      ("""SELECT format, count(*) AS n_docs,
         |       CAST(sum(n_bytes) AS BIGINT) AS sum_bytes,
         |       CAST(sum(width) AS BIGINT) AS sum_width,
         |       CAST(sum(height) AS BIGINT) AS sum_height,
         |       CAST(sum(channels) AS BIGINT) AS sum_channels,
         |       CAST(sum(sample_rate) AS BIGINT) AS sum_rate,
         |       CAST(sum(bits) AS BIGINT) AS sum_bits
         |FROM (""".stripMargin +
        mmDecodeRealOracle +
        ")\nGROUP BY format ORDER BY format"),

    // Byte-addressed on both engines: frames are byte ranges of the payload,
    // and the fingerprint is md5 over the frame's uppercase-hex encoding —
    // hex is pure ASCII, so slicing the hex VARCHAR at 2× the byte offsets
    // IS a byte slice, with no assumption about the corpus encoding.
    // mm_scene_cuts: replay the cell field from the (id, scene, cx, cy)
    // formula (the dedup_phash discipline — Spark decodes REAL bytes, the
    // oracle recomputes from arithmetic), pack the 64 comparison bits into
    // four 16-bit band keys (BIGINT-safe, and Hamming is packing-
    // invariant), lag per band, sum the per-band popcounts
    "mm_scene_cuts" ->
      s"""WITH fr AS (
         |  SELECT doc_id, unnest(range(0, $MmFrames)) AS frame_no
         |  FROM documents WHERE doc_id % 5 = 0
         |), cells AS (
         |  SELECT doc_id, frame_no,
         |    [ (('0x' || substr(md5(doc_id::VARCHAR || '_' || (frame_no // $MmSceneLen)::VARCHAR
         |                       || '_' || (k % 9)::VARCHAR || '_' || (k // 9)::VARCHAR), 1, 2))::BIGINT
         |       + CASE WHEN frame_no % 4 = 1 AND k = 0 THEN 100
         |              WHEN frame_no % 4 = 2 AND (k = 0 OR k = 71) THEN 100
         |              WHEN frame_no % 4 = 3 AND k = 71 THEN 100
         |              ELSE 0 END) % 256
         |      for k in range(0, 72) ] AS cs
         |  FROM fr
         |), bits AS (
         |  SELECT doc_id, frame_no,
         |    [ CASE WHEN cs[(k // 8) * 9 + (k % 8) + 1] < cs[(k // 8) * 9 + (k % 8) + 2]
         |           THEN 1 ELSE 0 END for k in range(0, 64) ] AS bt
         |  FROM cells
         |), bands AS (
         |  SELECT doc_id, frame_no, t.band,
         |         CAST(list_sum([ bt[t.band * 16 + j + 1] * (1::BIGINT << j)
         |                         for j in range(0, 16) ]) AS BIGINT) AS bkey
         |  FROM bits, range(0, 4) t(band)
         |), lagd AS (
         |  SELECT doc_id, frame_no, bkey,
         |         lag(bkey) OVER (PARTITION BY doc_id, band ORDER BY frame_no) AS pb
         |  FROM bands
         |), hm AS (
         |  SELECT doc_id, CAST(frame_no AS BIGINT) AS frame_no,
         |         CASE WHEN frame_no = 0 THEN CAST(-1 AS BIGINT)
         |              ELSE CAST(sum(bit_count(xor(bkey, pb))) AS BIGINT) END AS hamming
         |  FROM lagd GROUP BY doc_id, frame_no
         |)
         |SELECT doc_id, frame_no, hamming, hamming >= $MmCutThresh AS is_cut,
         |       CAST(sum(CASE WHEN hamming >= $MmCutThresh THEN 1 ELSE 0 END)
         |              OVER (PARTITION BY doc_id ORDER BY frame_no) AS BIGINT) AS shot_no
         |FROM hm ORDER BY doc_id, frame_no""".stripMargin,

    "mm_frame_hashes" ->
      """WITH f AS (
        |  SELECT doc_id,
        |         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |         hex(encode(text)) AS hx,
        |         unnest(range(0, CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT))) AS frame_no
        |  FROM documents
        |)
        |SELECT doc_id, n_bytes, CAST(frame_no AS BIGINT) AS frame_no,
        |       md5(substr(hx, CAST(frame_no * 512 + 1 AS INT), 512)) AS frame_hash
        |FROM f ORDER BY doc_id, frame_no""".stripMargin
  )
}
