package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Context-window sequence packing — the concat-and-chunk step that turns a
  * curated corpus into fixed-length training sequences: documents are laid
  * end to end in a deterministic order and the token stream is cut every
  * `budgetTokens` tokens, so every sequence is exactly full (documents may
  * span a cut; the trainer masks across the boundary).
  *
  * Scale design: a single global layout would need one total order over the
  * corpus — a global sort plus a single-partition running sum, the classic
  * driver-shaped bottleneck. Instead documents are first assigned to
  * `nShards` INDEPENDENT streams by md5 hash of their id (the same
  * engine-neutral idiom as [[Sampling.hashUniform]], so DuckDB replays it),
  * and the running sum is a window per shard: `nShards` sized to the
  * cluster bounds every window partition to ~corpus/nShards tokens, all
  * shards pack in parallel, and a document keeps its (shard, sequence,
  * offset) forever as the corpus grows shard counts stay fixed. Layout is a
  * pure function of (ids, token counts) — stable across runs, partitionings,
  * and engines, the reproducibility a training run needs to resume mid-epoch.
  *
  * Beyond-reference extension (the reference has no training-prep surface);
  * sibling of [[TextAnalysis.chunkDocs]], which cuts WITHIN a document while
  * this packs ACROSS documents.
  */
object Packing {

  /** Deterministic shard id in [0, nShards): first 8 md5 hex digits of the
    * key's string form, taken mod `nShards`. Engine-neutral (DuckDB:
    * `('0x' || substr(md5(key), 1, 8))::BIGINT % n`).
    */
  def hashShard(key: Column, nShards: Int): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast("long") % nShards

  /** Pack documents into `budgetTokens`-token training sequences within
    * md5-assigned shards. Output, one row per contributing document:
    *
    *  - `shard` — which independent token stream the doc landed in
    *  - `n_tokens` — whitespace token count of the normalized text
    *  - `start_tok` — the doc's first-token position in its shard's stream
    *  - `seq_in_shard` — index of the sequence its first token falls in
    *  - `offset_in_seq` — position within that sequence
    *  - `n_seqs` — how many sequences the doc touches (≥ 2 iff it spans cuts)
    *
    * Documents whose normalized text is empty are dropped — they contribute
    * no tokens, and `split("", " ")` would otherwise count a phantom token
    * (the chunkDocs bug class; see EdgeCasesSpec).
    */
  def packSequences(
      docs: DataFrame,
      budgetTokens: Int,
      nShards: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val normLen = length(TextAnalysis.normalize(col(textCol)))
    val nToks = when(normLen === 0, lit(0L))
      .otherwise(size(TextAnalysis.tokens(col(textCol))).cast("long"))
    packLayout(
      docs.select(col(idCol), nToks.as("n_tokens")),
      budgetTokens, nShards, idCol)
  }

  /** The layout arithmetic of [[packSequences]] over an externally supplied
    * `(idCol, nCol)` token-count relation — the composition point for REAL
    * tokenizers: feed per-doc subword counts from a trained tokenizer (the
    * `bpe_pack` query) instead of the whitespace proxy. Rows with
    * nonpositive counts are dropped (they contribute no tokens).
    */
  def packLayout(
      counts: DataFrame,
      budgetTokens: Int,
      nShards: Int,
      idCol: String = "doc_id",
      nCol: String = "n_tokens"): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be positive, got $budgetTokens")
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val b = lit(budgetTokens.toLong)
    counts
      .select(
        col(idCol),
        hashShard(col(idCol), nShards).as("shard"),
        col(nCol).cast("long").as("n_tokens"))
      .where(col("n_tokens") > 0)
      .withColumn("start_tok", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      // integer-exact floor division both engines agree on: values stay far
      // below 2^53, so the double round-trip in floor(x / b) is lossless
      .withColumn("seq_in_shard", floor(col("start_tok") / b))
      .withColumn("offset_in_seq", col("start_tok") % b)
      .withColumn(
        "n_seqs",
        floor((col("start_tok") + col("n_tokens") - lit(1L)) / b) - col("seq_in_shard") + lit(1L))
  }

  /** The trainer-facing inverse of [[packSequences]]: one row per document
    * SLICE, keyed by the sequence it fills — `(shard, seq_in_shard,
    * slice_idx)` is unique and `slice_idx` orders the slices within the
    * sequence. `tok_from`/`tok_to` are the half-open token range IN DOCUMENT
    * COORDINATES (what a loader passes to the tokenizer), so
    * `tok_to - tok_from` summed over a sequence is exactly `budgetTokens`
    * for every sequence except each shard's last (PackingSpec pins this).
    *
    * Derived from the per-document layout by exploding each doc over the
    * `n_seqs` sequences it touches — pure arithmetic, no data read twice.
    * Cost beyond [[packSequences]]: one extra exchange, because `slice_idx`
    * ranks within `(shard, seq)` while packing ranks within `shard`. The
    * exploded slice table is O(docs + cuts) rows of a few longs — at 100 TB
    * corpus scale it is the metadata table, orders of magnitude smaller
    * than the text it indexes, so the extra shuffle is immaterial.
    */
  def packedSequenceSlices(
      docs: DataFrame,
      budgetTokens: Int,
      nShards: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val b = lit(budgetTokens.toLong)
    val wSeq = Window.partitionBy(col("shard"), col("seq_in_shard")).orderBy(col("start_tok"))
    packSequences(docs, budgetTokens, nShards, idCol, textCol)
      .withColumn("seq", explode(sequence(
        col("seq_in_shard"), col("seq_in_shard") + col("n_seqs") - lit(1L))))
      .drop("seq_in_shard").withColumnRenamed("seq", "seq_in_shard")
      // start_tok is unique within a shard (docs are laid end to end), so
      // the rank — and therefore the whole output — is deterministic
      .withColumn("slice_idx", (row_number().over(wSeq) - 1).cast("long"))
      .select(
        col("shard"), col("seq_in_shard"), col("slice_idx"), col(idCol),
        greatest(lit(0L), col("seq_in_shard") * b - col("start_tok")).as("tok_from"),
        least(col("n_tokens"), (col("seq_in_shard") + lit(1L)) * b - col("start_tok")).as("tok_to"))
  }

  /** Per-epoch loader plan: for each of `epochs` epochs, a DETERMINISTIC
    * pseudo-random permutation of every packed sequence, dealt across
    * `nWorkers` data-loader ranks — the "global shuffle each epoch" a
    * distributed trainer wants, as a pure function of (epoch, shard,
    * seq_in_shard) so any engine, any run, and any resume replays the same
    * plan. Input is any frame carrying `shard`/`seq_in_shard` (slice tables
    * welcome — rows are deduped to sequences first). Output, one row per
    * (epoch, sequence): `epoch, worker, pos_in_worker, shard,
    * seq_in_shard`, with `pos_in_worker` a dense 0-based rank.
    *
    * The per-epoch md5 of `epoch:shard:seq` drives BOTH the worker deal
    * (last 8 hex digits → worker id, so a sequence changes workers across
    * epochs — cross-worker mixing, not just within-worker reordering) and
    * the within-worker order (full hex string, tie-broken by key). Scale
    * shape: there is NO global total order anywhere — a dense global
    * position would need a corpus-wide single-partition window; loaders
    * only ever need per-rank dense positions, which rank inside (epoch,
    * worker) partitions that shrink as the cluster grows. Everything else
    * is map-side hash arithmetic.
    */
  def epochPlan(seqs: DataFrame, epochs: Int, nWorkers: Int): DataFrame = {
    require(epochs > 0, s"epochs must be positive, got $epochs")
    require(nWorkers > 0, s"nWorkers must be positive, got $nWorkers")
    val w = Window.partitionBy(col("epoch"), col("worker"))
      .orderBy(col("ord"), col("shard"), col("seq_in_shard"))
    seqs
      .select(col("shard"), col("seq_in_shard")).distinct()
      .withColumn("epoch", explode(sequence(lit(1L), lit(epochs.toLong))))
      .withColumn(
        "ord",
        md5(concat_ws(":", col("epoch"), col("shard"), col("seq_in_shard"))))
      .withColumn(
        "worker",
        conv(substring(col("ord"), 25, 8), 16, 10).cast("long") % nWorkers)
      .withColumn("pos_in_worker", (row_number().over(w) - 1).cast("long"))
      .select(
        col("epoch"), col("worker"), col("pos_in_worker"),
        col("shard"), col("seq_in_shard"))
  }

  /** The manifest CONSUMED: what a training loader actually executes — join
    * the slice table back to the documents, cut each document's token array
    * to its `[tok_from, tok_to)` slice, and reassemble every sequence's text
    * in `slice_idx` order. Output, one row per (shard, sequence):
    * `(shard, seq_in_shard, seq_text, seq_tokens, n_slices)` — flat and
    * engine-replayable, so this is the hashable surface an array-typed
    * manifest can't be (and the reassembled `seq_text` is exactly the
    * shard's token stream re-cut, which PackingSpec pins).
    *
    * Scale shape: one equi-join of the metadata-scale slice table against
    * the corpus on the doc id (the text column moves ONCE, map-side after
    * the join), then one aggregation per (shard, seq). The per-sequence
    * collect_list holds ~budget/doc-length slices of already-cut text — a
    * few KB per group — never a whole document set. At 100 TB the join
    * co-partitions on the same md5 id the layout sharded by, so AQE plans
    * it shuffle-or-broadcast as the slice side's size dictates.
    */
  def gatherSequenceText(
      docs: DataFrame,
      budgetTokens: Int,
      nShards: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val slices = packedSequenceSlices(docs, budgetTokens, nShards, idCol, textCol)
    val toks = docs.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
    slices.join(toks, idCol)
      // slice() is 1-based; length = tok_to - tok_from (slices are nonempty
      // by construction — a doc contributes >= 1 token to every sequence it
      // touches)
      .withColumn("span", array_join(
        slice(col("__toks"), (col("tok_from") + 1).cast("int"),
          (col("tok_to") - col("tok_from")).cast("int")), " "))
      .groupBy(col("shard"), col("seq_in_shard"))
      .agg(
        array_join(
          transform(
            sort_array(collect_list(struct(col("slice_idx"), col("span")))),
            s => s.getField("span")),
          " ").as("seq_text"),
        sum(col("tok_to") - col("tok_from")).as("seq_tokens"),
        count(lit(1)).as("n_slices"))
  }
}
