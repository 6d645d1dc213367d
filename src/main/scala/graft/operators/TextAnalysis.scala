package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextKernels

/** Text-analysis operators for LLM training-data pipelines: tokenization,
  * quality scoring, language-ID heuristics, and document fingerprinting.
  *
  * Everything here is a pure column expression (whole-stage-codegen'd, no
  * UDFs), so at 100 TB these run as a single map-side pass over the corpus —
  * no shuffle at all until an aggregation asks for one.
  */
object TextAnalysis {

  /** Canonical form for fingerprinting/dedup: lowercase, collapse runs of
    * whitespace, trim.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Gopher-style HARD quality rules (Rae et al. '21, appendix A — the
    * public rule-filter family every corpus curation pass runs before any
    * learned scorer), each decided in EXACT integer arithmetic so the
    * verdicts are engine-neutral: token-count band, mean-token-length
    * band via cross-multiplication (`3n ≤ Σ|tok| ≤ 10n` — no division),
    * punctuation-mass bound (`10·punct ≤ chars`), and minimum distinct-
    * stopword evidence. Returns named rule columns over `textCol`; the
    * caller conjoins them into `pass` or audits per-rule failure rates.
    * All inputs derive from the one normalized form: token count from the
    * split, token mass from the space-stripped normalized length (no
    * per-token interpreted lambda — the r2 HOF lesson).
    */
  def qualityRules(textCol: Column): Seq[(String, Column)] = {
    val toks = tokens(textCol)
    val n = size(toks).cast("long")
    val tokChars = length(translate(normalize(textCol), " ", "")).cast("long")
    val nPunct = length(regexp_replace(textCol, "[A-Za-z0-9\\s]", "")).cast("long")
    val nChars = length(textCol).cast("long")
    // codegen'd distinct-term evidence (one tokens pass) instead of the
    // interpreted `filter(array(stopwords), s => array_contains(toks, s))`
    // chain that re-scanned the token array once per stopword
    val nStops = TextKernels.termsPresentCol(toks, Stopwords).cast("long")
    Seq(
      "wc_ok" -> (n >= 5L && n <= 10000L),
      "mwl_ok" -> (tokChars >= n * 3L && tokChars <= n * 10L),
      "punct_ok" -> (nPunct * 10L <= nChars),
      "stop_ok" -> (nStops >= 2L))
  }

  /** VOCABULARY DRIFT between two corpus slices — the χ² one-token-vs-
    * rest contingency test over token OCCURRENCE counts, the standard
    * corpus-monitoring signal ("which words exploded in slice A vs B":
    * distribution shift between crawl snapshots, sources, or time
    * windows). For token t with `a` occurrences among slice A's `NA`
    * total and `b` of B's `NB`:
    * `χ² = N·(a·NB − b·NA)² / (NA·NB·(a+b)·(N−a−b))`, `N = NA+NB` —
    * computed in decimal(38,0) cross-multiplication with ONE final
    * truncating division scaled to 1e6 (`chi2_e6`), so the statistic is
    * an exact integer and the ranking replays bitwise across engines
    * (the [[Analytics.abZTest]] arithmetic discipline).
    *
    * Scale shape: tokenize + explode are map-side; one (token, slice)
    * count (map-side combined), the two slice totals broadcast as a
    * 1-row frame, one final filter+sort over the VOCABULARY-sized frame.
    * `minCount` prunes rare tokens whose χ² is noise.
    */
  def vocabDrift(
      docs: DataFrame,
      inSliceA: Column,
      textCol: Column,
      minCount: Long): DataFrame = {
    val tok = docs.select(
      when(inSliceA, 1L).otherwise(0L).as("in_a"),
      explode(tokens(textCol)).as("token"))
    val perTok = tok.groupBy(col("token")).agg(
      sum(col("in_a")).as("a"),
      sum(lit(1L) - col("in_a")).as("b"))
    val totals = perTok.agg(
      sum(col("a")).as("na"), sum(col("b")).as("nb"))
    val d = (c: Column) => c.cast("decimal(38,0)")
    val n = d(col("na")) + d(col("nb"))
    val diff = d(col("a")) * d(col("nb")) - d(col("b")) * d(col("na"))
    perTok.crossJoin(broadcast(totals))
      // the denominator guard excludes the degenerate all-one-token
      // corpus BEFORE the division (x div 0 is an error class, not a
      // ranking input, and engines disagree on it)
      .where(col("a") + col("b") >= minCount &&
        col("na") + col("nb") - col("a") - col("b") > 0L)
      .withColumn("chi2_num", n * diff * diff * d(lit(1000000L)))
      .withColumn("chi2_den", d(col("na")) * d(col("nb")) *
        (d(col("a")) + d(col("b"))) * (n - d(col("a")) - d(col("b"))))
      // integral divide (truncating, exact on decimals) — decimal `/`
      // would round at the result scale and drift from DuckDB's `//`
      .selectExpr("token", "a", "b",
        "CAST(chi2_num div chi2_den AS LONG) AS chi2_e6")
  }

  /** COLLOCATION MINING — adjacent word pairs ranked by a scaled-integer
    * PMI surrogate: `N·c(x,y)·10⁶ div (c(x)·c(y))` is a strictly
    * monotone transform of pointwise mutual information
    * (`log` of the same ratio), so the ranking is PMI's ranking with
    * every number an exact integer (decimal(38,0) cross-multiplication,
    * one truncating div — the [[vocabDrift]] arithmetic). `minPairCount`
    * kills the hapax-pair noise PMI is famous for.
    *
    * Scale shape: tokenize + posexplode are map-side; bigrams form via
    * ONE doc-keyed window `lead` (no self-join of the token stream);
    * pair and unigram counts are map-side-combined aggregations; the
    * final frame is vocabulary-pair-sized with the two unigram joins on
    * the word key.
    */
  def collocations(
      docs: DataFrame,
      textCol: Column,
      minPairCount: Long): DataFrame = {
    require(minPairCount >= 1, s"collocations: minPairCount must be >= 1, got $minPairCount")
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col("doc_id"),
        posexplode(tokens(textCol)).as(Seq("pos", "w")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val pairs = tok.withColumn("w2", lead(col("w"), 1).over(w))
      .where(col("w2").isNotNull)
      .groupBy(col("w").as("x"), col("w2").as("y"))
      .agg(count(lit(1)).as("c_xy"))
      .where(col("c_xy") >= minPairCount)
    val uni = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val total = tok.agg(count(lit(1)).as("n_tokens"))
    val d = (c: Column) => c.cast("decimal(38,0)")
    pairs
      .join(uni.select(col("w").as("x"), col("c").as("cx")), Seq("x"))
      .join(uni.select(col("w").as("y"), col("c").as("cy")), Seq("y"))
      .crossJoin(broadcast(total))
      .withColumn("pmi_num", d(col("n_tokens")) * d(col("c_xy")) * d(lit(1000000L)))
      .withColumn("pmi_den", d(col("cx")) * d(col("cy")))
      .selectExpr("x", "y", "c_xy", "cx", "cy",
        "CAST(pmi_num div pmi_den AS LONG) AS pmi_ratio_e6")
  }

  /** Blocklist screen — the term-level content filter (unsafe/banned
    * vocabulary) a curation pipeline runs at ingest: exact token match
    * against a broadcast-literal term list, counting total occurrences
    * and surfacing the distinct matched terms sorted (audit evidence).
    * Map-side only; the list rides as a plan literal, so at 100 TB this
    * is a pure scan with no shuffle and no join.
    */
  def blocklistScreen(textCol: Column, terms: Seq[String]): (Column, Column) = {
    require(terms.nonEmpty, "blocklistScreen: empty term list")
    val toks = tokens(textCol)
    // codegen'd set-membership count ([[graft.functions.TextKernels.CountIn]])
    // instead of the interpreted `filter(toks, isin(...))` lambda
    val nBlocked = TextKernels.countInCol(toks, terms).cast("long")
    val matched = array_join(array_sort(filter(
      array(terms.sorted.map(lit(_)): _*), s => array_contains(toks, s))), ",")
    (nBlocked, matched)
  }

  /** Whitespace tokens of the normalized text. */
  def tokens(text: Column): Column = split(normalize(text), " ")

  /** Per-doc n-gram repetition metrics — the boilerplate/degenerate-text
    * signal quality filters cut on (a doc whose top 3-gram covers a large
    * share of all its grams is template spam or a generation loop). One
    * codegen'd pass per doc over the ORDERED grams, duplicates kept
    * ([[graft.functions.TextKernels.RepetitionStats]]); map-side, no
    * shuffle. Docs with fewer than n tokens have no grams and are dropped,
    * mirroring [[Dedup.shingles]].
    */
  def repetitionScores(
      docs: DataFrame,
      n: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    docs.select(
      col(idCol),
      graft.functions.TextKernels.repetitionStatsCol(tokens(col(textCol)), n).as("r"))
      .where(col("r.n_grams") > 0)
      .select(
        col(idCol),
        col("r.n_grams").as("n_grams"),
        col("r.n_distinct").as("n_distinct"),
        col("r.top_count").as("top_count"))
  }

  /** Split each document's token stream into fixed-size training chunks
    * (context-window packing, the stage between curation and tokenizer
    * output): chunk i covers tokens [i*stride, i*stride + chunkTokens), the
    * final partial chunk kept. `stride < chunkTokens` gives overlapping
    * windows (the usual long-doc recipe); the default is disjoint packing.
    * Output: one row per (doc, chunk) with the chunk index, its token
    * count, and an md5 fingerprint of the re-joined tokens (so chunk
    * content is hash-comparable without shipping the text twice).
    *
    * Scale shape: map-side transform + posexplode — no shuffle; rows fan
    * out ~tokens/stride per doc, which is the point (chunks are the unit
    * downstream). The per-doc lambda runs interpreted (Spark doesn't
    * codegen HOFs) but does O(tokens) slice work per doc — explode cost
    * dominates either way.
    */
  def chunkDocs(
      docs: DataFrame,
      chunkTokens: Int = 50,
      stride: Int = 50,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(chunkTokens > 0 && stride > 0,
      s"chunkTokens and stride must be positive, got $chunkTokens/$stride")
    val toks = tokens(col(textCol))
    val nChunks = // ceil over the stride grid, always >= 1 once empty docs are gone
      greatest(ceil((size(col("toks")) - lit(chunkTokens)).cast("double") / stride), lit(0.0))
        .cast("int") + 1
    // guard on the normalized TEXT, not the token array: split("", " ") is
    // [""] (size 1), so a size check lets empty/whitespace docs through as a
    // phantom 1-token chunk of the empty string
    docs.where(length(normalize(col(textCol))) > 0)
      .select(col(idCol), toks.as("toks"))
      .select(
        col(idCol),
        posexplode(transform(
          sequence(lit(0), nChunks - 1),
          i => slice(col("toks"), i * stride + 1, lit(chunkTokens)))))
      .where(size(col("col")) > 0)
      .select(
        col(idCol),
        col("pos").cast("long").as("chunk_idx"),
        size(col("col")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("col"))).as("chunk_fp"))
  }

  /** The TRANSFORM half of passage-level dedup (`dedup_chunks` is the
    * report): the C4/RefinedWeb boilerplate rule — any chunk occurring
    * more than `maxCopies` times ACROSS THE CORPUS is stripped from every
    * document, and each document is reassembled from its surviving chunks
    * in original order (C4 §2.1 does this at line granularity; the corpus
    * here is newline-free, so the unit is the same disjoint
    * `chunkTokens`-token grid the dedup report uses). Navigation chrome,
    * cookie banners, and license headers die corpus-wide in one pass
    * while the documents that carried them survive.
    *
    * Scale shape: the grid explode is map-side; the hot set is one
    * fingerprint aggregation (partial map-side combine, output bounded by
    * the number of DUPLICATED chunks, not corpus size); the strip is a
    * fingerprint anti-join; reassembly is the in-row
    * `array_sort(collect_list(struct(idx, chunk)))` pattern — per-doc
    * state bounded by document length, no window function, no global
    * sort. Fully-stripped documents remain as rows with zero kept chunks
    * (dropping them is the caller's policy decision, not the operator's).
    *
    * Output: (idCol, n_chunks, n_removed, clean_tokens, clean_fp) —
    * `clean_fp` is the md5 of the reassembled cleaned text, so an engine
    * that reorders, drops, or double-keeps a single chunk hash-fails.
    */
  def stripHotChunks(
      docs: DataFrame,
      chunkTokens: Int = 50,
      maxCopies: Long = 1L,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive, got $chunkTokens")
    require(maxCopies >= 1L, s"maxCopies must be >= 1, got $maxCopies")
    val nChunks =
      greatest(ceil((size(col("toks")) - lit(chunkTokens)).cast("double") / chunkTokens), lit(0.0))
        .cast("int") + 1
    val grid = docs.where(length(normalize(col(textCol))) > 0)
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .select(
        col(idCol),
        posexplode(transform(
          sequence(lit(0), nChunks - 1),
          i => slice(col("toks"), i * chunkTokens + 1, lit(chunkTokens)))))
      .where(size(col("col")) > 0)
      .select(
        col(idCol),
        col("pos").cast("long").as("chunk_idx"),
        size(col("col")).cast("long").as("n_tokens"),
        concat_ws(" ", col("col")).as("chunk_txt"))
      .withColumn("chunk_fp", md5(col("chunk_txt")))
    val hot = grid.groupBy(col("chunk_fp"))
      .agg(count(lit(1)).as("n_copies"))
      .where(col("n_copies") > maxCopies)
      .select(col("chunk_fp"))
    val kept = grid.join(hot, Seq("chunk_fp"), "left_anti")
    val keptStats = kept.groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_kept"),
        sum(col("n_tokens")).as("clean_tokens"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("chunk_idx"), col("chunk_txt")))),
          s => s.getField("chunk_txt")))).as("clean_fp"))
    val totals = grid.groupBy(col(idCol)).agg(count(lit(1)).as("n_chunks"))
    totals.join(keptStats, Seq(idCol), "left_outer")
      .select(
        col(idCol),
        col("n_chunks"),
        (col("n_chunks") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_tokens"), lit(0L)).as("clean_tokens"),
        coalesce(col("clean_fp"), md5(lit(""))).as("clean_fp"))
      .orderBy(col(idCol))
  }

  /** Corpus-wide adjacent-symbol-pair counts — the statistics kernel of a
    * BPE tokenizer trainer's first merge iteration: with the initial
    * vocabulary = single characters, the trainer counts every adjacent pair
    * WITHIN each whitespace token (pairs never span token boundaries, the
    * standard pre-tokenization cut) and merges the most frequent. Every
    * occurrence counts (a token containing "aa a" twice contributes twice) —
    * merge decisions weight by frequency, not document presence.
    *
    * Output: the `topK` (pair, n) rows, ordered by count descending with the
    * pair string as the deterministic tie-break.
    *
    * Scale shape: tokenize + explode are map-side; the pair counts partial-
    * aggregate map-side (pair cardinality is tiny — bounded by |alphabet|²
    * per iteration — so each task emits at most that many partial rows
    * regardless of input size), and the global top-k runs as
    * TakeOrderedAndProject, never a full sort. This is the one-job-per-merge
    * loop a distributed BPE trainer runs; iterating merges re-runs it with
    * the merged symbol added to the token stream.
    */
  def bpePairCounts(
      docs: DataFrame,
      topK: Int = 30,
      textCol: String = "text"): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    docs
      .select(explode(tokens(col(textCol))).as("t"))
      // 1-char tokens have no pairs; the filter also keeps sequence() below
      // ascending (Spark's sequence(1, 0) is a DESCENDING ramp, not empty)
      .where(length(col("t")) >= 2)
      .select(explode(transform(
        sequence(lit(1), length(col("t")) - 1),
        i => col("t").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(topK)
  }

  /** BPE-ish lexer token count: alpha runs, digit runs, and single
    * non-alphanumeric marks (the common pre-tokenizer shape).
    */
  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Punctuation-to-character ratio (quality signal). */
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[A-Za-z0-9\\s]", "")).cast("double") / length(text)

  /** Fraction of tokens that are stopwords (quality signal). */
  val Stopwords: Seq[String] = Seq("the", "a", "an", "of", "and", "to", "in", "is")

  /** Over a pre-computed token-array column — lets a query tokenize
    * ONCE and feed every downstream metric (r1 re-ran the regex+split chain
    * per metric; Catalyst's CollapseProject keeps a separately-projected
    * token column materialized because it is non-cheap and multiply-used).
    */
  def stopwordRatioOf(toks: Column): Column =
    // codegen'd occurrence count — same integer as the interpreted
    // `size(filter(toks, isin(stopwords)))` it replaces
    TextKernels.countInCol(toks, Stopwords).cast("double") / size(toks)

  /** Mean token length over whitespace tokens. The numerator is the
    * codegen'd integer length sum — sums of integer-valued doubles are
    * exact at any order, so `(double) Σ len` equals the replaced
    * interpreted `aggregate(transform(toks, length), 0.0, +)` fold bitwise.
    */
  def avgTokenLenOf(toks: Column): Column =
    TextKernels.tokenLenSumCol(toks).cast("double") / size(toks)

  /** Composite quality score in [0,1]: long-enough docs with moderate
    * stopword presence and little punctuation score high. Deterministic,
    * SQL-expressible (mirrored in the DuckDB oracle).
    */
  def qualityScoreOf(text: Column, toks: Column): Column = {
    val lenScore = least(length(text).cast("double") / lit(200.0), lit(1.0))
    val stopScore = least(stopwordRatioOf(toks) * lit(4.0), lit(1.0))
    val punctPenalty = greatest(lit(1.0) - punctRatio(text) * lit(5.0), lit(0.0))
    (lenScore * lit(0.4) + stopScore * lit(0.3) + punctPenalty * lit(0.3))
  }

  /** Marker-word language-ID heuristic: count hits from a tiny per-language
    * marker list over the token set; argmax with a fixed priority tie-break.
    * (N-gram frequency profiles are the production version; the marker scan
    * is the same map-side shape at scale.)
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "and", "of"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "fr" -> Seq("le", "la", "et", "est", "les"),
    "es" -> Seq("el", "los", "y", "es", "las"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  def langScoreOf(toks: Column, markers: Seq[String]): Column =
    // codegen'd occurrence count — same integer as the interpreted
    // `size(filter(toks, isin(markers)))` it replaces
    TextKernels.countInCol(toks, markers)

  /** One (language, score) column per marker language — meant to be
    * projected as REAL columns in a staging select, with the argmax
    * ([[langIdFromScores]]) running over the resulting attribute refs in a
    * second select. Splitting the stages matters: each score is an
    * interpreted `size(filter(...))`, and embedding them directly in the
    * argmax when-chain re-evaluates every score once per branch (the r2
    * single-Column fold duplicated them ~3^5 times per row — 39 s at sf0.1
    * vs ~5 s staged). The projection boundary survives CollapseProject
    * because the scores are non-cheap and multiply-referenced.
    */
  def langScores(toks: Column): Seq[(String, Column)] =
    LangMarkers.map { case (lang, ms) => lang -> langScoreOf(toks, ms) }

  /** Argmax over already-projected score columns: first language whose score
    * is >= all later scores (ties resolve to list order, en first); all-zero
    * scores → "und". Safe to pass plain attribute refs only — any non-cheap
    * Column gets duplicated into every branch below.
    */
  def langIdFromScores(scores: Seq[(String, Column)]): Column = {
    val cases = scores.zipWithIndex.map { case ((lang, s), i) =>
      val later = scores.drop(i + 1).map(_._2)
      val cond = later.foldLeft(lit(true))((acc, o) => acc && s >= o)
      when(cond, lit(lang))
    }
    when(greatest(scores.map(_._2): _*) === 0, lit("und"))
      .otherwise(coalesce(cases: _*))
  }

  /** Single-Column convenience argmax (small inputs / tests). Hot paths
    * should stage [[langScores]] as real columns first — see the Scaladoc
    * there and the `lang_id` query in QueriesLlm.
    */
  def langIdOf(toks: Column): Column = langIdFromScores(langScores(toks))

  /** Document fingerprint: md5 of the normalized text — identical across
    * engines, the key for exact dedup.
    */
  def fingerprint(text: Column): Column = md5(normalize(text))
}
