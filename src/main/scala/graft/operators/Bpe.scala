package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding TRAINING (Sennrich et al. 2016) — the full iterative
  * merge loop, not just the first pair scan ([[TextAnalysis.bpePairCounts]]
  * is that scan): start from characters, repeatedly pick the most frequent
  * adjacent symbol pair and merge it corpus-wide, emitting the ranked merge
  * table a tokenizer ships.
  *
  * Scale shape — the SentencePiece/HF-trainer decomposition: the only
  * corpus-scale work is the ONE word-count aggregation (map-side combine,
  * vocab-sized result); the merge loop then runs entirely on the word-count
  * table, which is VOCAB-scale (heavy-tailed: ~10⁷–10⁸ distinct words at
  * web scale, not corpus-scale). Each round is one vocab-scale aggregation
  * (adjacent pairs weighted by word count, partial-aggregated map-side) +
  * a 1-ROW argmax collect (the kmeans centroid-collect shape) + a map-side
  * fold applying the merge. The word table is persisted once so rounds
  * never rescan the corpus (the kmeans persist lesson).
  *
  * Determinism (both engines replay bit-for-bit):
  *  - integer pair counts, argmax tie-broken by (count DESC, left ASC,
  *    right ASC) — no floats anywhere;
  *  - merge application is a GREEDY LEFT single-pass fold per word
  *    (`[l,l,l,l]` under (l,l) → `[ll,ll]`), expressed as the same
  *    left-fold in Spark (`aggregate` over the symbol array) and DuckDB
  *    (`list_reduce` over a chr(31)-delimited accumulator) — the oracle
  *    derives every round's winning pair itself; nothing is fed back.
  *
  * No counterpart in the reference; extension tier (the BPE statistics
  * kernel precedent is `TextAnalysis.bpePairCounts`).
  */
object Bpe {

  /** One learned merge: `rank` is 1-based selection order, `count` the
    * weighted pair frequency at selection time.
    */
  final case class Merge(rank: Long, l: String, r: String, merged: String, count: Long)

  /** Corpus word-count table — the single corpus-scale pass. Phantom-token
    * guard: empty strings (from empty/whitespace docs) carry no characters.
    */
  def wordCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .where(length(col("word")) > 0)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))

  /** Character symbols of a word, 1 char each — explicit `substr` grid so
    * Spark and DuckDB produce identical arrays (regex-split('') semantics
    * differ between engines).
    */
  private def charSyms(word: Column): Column =
    transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1)))

  /** Greedy left single-pass merge of (l, r) over a symbol array: left fold
    * appending each symbol, or replacing the accumulator's tail when it
    * equals `l` and the incoming symbol is `r`. A symbol minted by this
    * pass never re-merges within the pass (its string `l+r` ≠ `l` since
    * `r` is nonempty) — the property that makes `[l,l,l,l] → [ll,ll]`.
    */
  private def applyMerge(syms: Column, l: String, r: String): Column =
    aggregate(
      slice(syms, lit(2), greatest(size(syms) - 1, lit(0))),
      slice(syms, lit(1), lit(1)),
      (acc: Column, x: Column) =>
        when(element_at(acc, -1) === lit(l) && x === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(x))))

  /** Run `nMerges` rounds over `docs` and return the ranked merge table.
    * Fails loudly (`require`) if the corpus runs out of adjacent pairs
    * before `nMerges` — a silently short merge table would ship a tokenizer
    * that disagrees with its spec.
    */
  def trainMerges(docs: DataFrame, nMerges: Int, textCol: String = "text"): Seq[Merge] = {
    require(nMerges > 0, s"nMerges must be positive, got $nMerges")
    val base = wordCounts(docs, textCol)
      .select(col("word"), col("n"), charSyms(col("word")).as("syms"))
      .persist()
    try {
      var words = base
      val out = ArrayBuffer.empty[Merge]
      for (rank <- 1 to nMerges) {
        // codegen'd pair scan ([[graft.functions.TextKernels.AdjacentPairs]])
        // — identical (l, r) rows as the interpreted zip_with(slice, slice)
        // chain it replaces, one pass, no intermediate arrays
        val best = words
          .where(size(col("syms")) >= 2)
          .select(
            col("n"),
            explode(graft.functions.TextKernels.adjacentPairsCol(col("syms"))).as("p"))
          .groupBy(col("p.l"), col("p.r"))
          .agg(sum(col("n")).as("c"))
          .orderBy(col("c").desc, col("l"), col("r"))
          .limit(1)
          .collect()
        require(best.nonEmpty,
          s"bpe: corpus exhausted after ${rank - 1} merges, $nMerges requested")
        val (l, r, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        out += Merge(rank.toLong, l, r, l + r, c)
        // vocab-scale map-side rewrite off the persisted base: ONE
        // imperative kernel pass applying all merges so far
        // ([[graft.functions.TextKernels.BpeApply]] — BpeSpec pins kernel ==
        // the chained [[applyMerge]] folds this replaces, which re-evaluated
        // round m as m interpreted HOF folds per word)
        words = base.select(
          col("word"), col("n"), tokenKernelCol(col("word"), out.toSeq).as("syms"))
      }
      out.toSeq
    } finally { base.unpersist(); () }
  }

  /** Driver-local BPE training over the COLLECTED word-count table — the
    * large-`nMerges` route. [[trainMerges]] runs one vocab-scale Spark
    * aggregation job plus a 1-row collect PER MERGE ROUND: the right
    * distributed shape at the fixture's `nMerges = 6`, but a production
    * tokenizer's 32k merges would schedule 32k SEQUENTIAL Spark jobs —
    * hours of pure driver/scheduler latency regardless of cluster size,
    * with each job scanning the persisted word table end to end. The
    * HF/SentencePiece decomposition applies instead: after the ONE
    * corpus-scale word-count pass ([[wordCounts]] — this stays
    * distributed), the working set is VOCAB-scale (the heavy-tailed
    * ~10⁷–10⁸ distinct words of a web corpus ≈ a few GB of (word, n)
    * pairs), which fits on the driver; collect it ONCE and run the merge
    * loop in memory. `maxWords` guards the collect — the loop REFUSES a
    * larger vocabulary instead of OOMing, and the caller falls back to
    * [[trainMerges]] (or pre-prunes hapax words, the standard trainer
    * trick that shrinks the table ~2× with no effect on early merges).
    *
    * Semantics are IDENTICAL to [[trainMerges]] by construction — same
    * integer pair counts, same (count DESC, l ASC, r ASC) argmax, same
    * greedy-left merge application — BpeSpec pins the equality on fixtures.
    * Each round recounts pairs over the live word table (O(total symbols)
    * driver work per round, no JVM-to-cluster round trip); an incremental
    * pair-delta table is the further refinement real trainers add, noted
    * here rather than implemented because the recount is already
    * millisecond-scale at vocab sizes that fit a driver.
    */
  def trainMergesLocal(
      docs: DataFrame,
      nMerges: Int,
      textCol: String = "text",
      maxWords: Long = 20000000L): Seq[Merge] = {
    require(nMerges > 0, s"nMerges must be positive, got $nMerges")
    val rows = wordCounts(docs, textCol).limit((maxWords + 1).toInt).collect()
    require(rows.length <= maxWords,
      s"bpe: vocabulary exceeds maxWords=$maxWords — use trainMerges (distributed) or raise the bound")
    // (symbols, weight) per distinct word; symbols mutate as merges land
    val words: Array[(ArrayBuffer[String], Long)] =
      rows.map(r => (ArrayBuffer(r.getString(0).split("(?!^)").toIndexedSeq: _*), r.getLong(1)))
    val out = ArrayBuffer.empty[Merge]
    for (rank <- 1 to nMerges) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, n) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + n
          i += 1
        }
      }
      require(counts.nonEmpty,
        s"bpe: corpus exhausted after ${rank - 1} merges, $nMerges requested")
      val ((l, r), c) = counts.minBy { case ((a, b), n) => (-n, a, b) }
      out += Merge(rank.toLong, l, r, l + r, c)
      // greedy LEFT single pass, the applyMerge fold verbatim: a symbol
      // minted this round never re-merges within the round
      words.foreach { case (syms, _) =>
        if (syms.length >= 2) {
          val acc = ArrayBuffer(syms.head)
          var i = 1
          while (i < syms.length) {
            if (acc.last == l && syms(i) == r) acc(acc.length - 1) = l + r
            else acc += syms(i)
            i += 1
          }
          syms.clear(); syms ++= acc; ()
        }
      }
    }
    out.toSeq
  }

  /** TOKENIZE with a frozen merge table: the trainer's inverse — apply the
    * ranked merges in order to every document's words and count the
    * resulting subword tokens. The merge table rides the plan as literals
    * (a shipped tokenizer is KB-scale); one map-side pass, no joins, no
    * shuffle beyond the caller's aggregation.
    *
    * PERFORMANCE HAZARD: this builds all rounds as ONE nested expression.
    * [[applyMerge]] references its input several times (slice ×2, size,
    * element_at), and higher-order functions evaluate on the interpreted
    * path with NO common-subexpression elimination — so N nested rounds
    * re-evaluate the inner rounds ~4^N times per word (measured: 726 s for
    * the corpus at sf0.1 that [[withBpeTokens]] segments in seconds). Fine
    * for a handful of words or in tests; corpus-scale callers must use
    * [[withBpeTokens]].
    */
  def tokenCol(word: Column, merges: Seq[Merge]): Column =
    merges.sortBy(_.rank).foldLeft(charSyms(word)) {
      (syms, m) => applyMerge(syms, m.l, m.r)
    }

  /** Corpus-scale tokenize: the same folds STAGED as one projection per
    * merge round (the lang_id staged-scores lesson). Each stage's alias is
    * referenced several times by the next round's fold, so CollapseProject
    * keeps the projections separate and every round evaluates ONCE per
    * word — linear in rounds where the nested [[tokenCol]] expression is
    * exponential on the no-CSE interpreted HOF path. Still map-side only:
    * K narrow projections, no join, no shuffle.
    */
  def withBpeTokens(
      df: DataFrame,
      wordCol: String,
      merges: Seq[Merge],
      outCol: String): DataFrame =
    merges.sortBy(_.rank).foldLeft(df.withColumn(outCol, charSyms(col(wordCol)))) {
      (d, m) => d.withColumn(outCol, applyMerge(col(outCol), m.l, m.r))
    }

  /** The production tokenize route: the codegen'd
    * [[graft.functions.TextKernels.BpeApply]] kernel — all rounds in one
    * imperative pass per word, no per-element lambda dispatch (bpe_tokenize
    * at sf0.1: 11.1 s staged → 4.2 s kernel, of which ~2 s is the
    * in-query training; the nested expression was 726 s). Same greedy-left
    * semantics; BpeSpec pins kernel == staged fold == nested expression.
    */
  def tokenKernelCol(word: Column, merges: Seq[Merge]): Column =
    graft.functions.TextKernels.bpeApplyCol(
      word, merges.sortBy(_.rank).map(m => (m.l, m.r)))

  /** DECODE an encoded id stream back to per-document text — the half a
    * tokenizer needs for inspection, detokenized eval dumps, and the
    * round-trip audit (BPE merges only ever concatenate characters, so
    * decode is exact: the character stream reconstructs losslessly; what
    * this vocab does NOT carry is word boundaries — no end-of-word marker —
    * so the reconstruction target is the documents' boundary-free character
    * stream, `concat(tokens)`).
    *
    * `ids`: (docCol, pos, token_id) — the [[graft.QueriesLlm]]
    * `bpe_encode_ids` stream shape. `vocab`: (subword, token_id). Output:
    * (docCol, decoded) — subwords of each doc concatenated in `pos` order.
    *
    * Scale shape: the vocab is KB-scale and broadcasts into the id join;
    * the per-doc ordered concat is one `collect_list` + in-row sort
    * (`array_sort` over (pos, subword) structs — no window, one doc-keyed
    * shuffle that map-side combines).
    */
  def decodeIds(
      ids: DataFrame,
      vocab: DataFrame,
      docCol: String = "doc_id"): DataFrame =
    ids
      .join(broadcast(vocab), "token_id")
      .groupBy(col(docCol))
      .agg(
        concat_ws(
          "",
          transform(
            array_sort(collect_list(struct(col("pos"), col("subword")))),
            s => s.getField("subword"))).as("decoded"))
}
