package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{BloomFunctions, TextKernels, VectorFunctions}

/** Deduplication operators for LLM training-data pipelines, in increasing
  * fuzziness: exact (fingerprint), n-gram Jaccard (lossless prefix-filtered
  * candidates), MinHash+LSH (probabilistic candidates), SimHash (hamming),
  * and embedding-cosine near-dup (see [[Similarity]]).
  *
  * Scale design: nothing here is O(n²) on the full corpus.
  * - exact: one hash-shuffle on the 16-byte fingerprint.
  * - ngram-jaccard: AllPairs/PPJoin-style prefix filtering — docs can only
  *   pair if they share a gram inside a (threshold-sized) prefix of their
  *   rarity-sorted gram list, with PPJoin length + positional filters on top.
  *   All three filters are *lossless* for Jaccard >= t, so results are exact
  *   while the join fans out on rare grams only.
  * - minhash-LSH: signatures are computed MAP-SIDE by the codegen'd
  *   [[TextKernels.MinHashSignature]] kernel (one pass per doc — the r2
  *   interpreted `array_min(transform(...))`×32 build cost 119 s at sf0.1);
  *   the only shuffle is the (band, bandHash) bucket join.
  * - simhash: signature map-side via [[TextKernels.SimHash60]] (one pass —
  *   the r2 interpreted `aggregate()`×60 build cost 36 s); pairing via a
  *   Manku-style block-combination index (pigeonhole-lossless equi-join on
  *   multi-block keys), never an all-pairs cross join.
  */
object Dedup {

  /** Canonical MinHash constants — see [[TextKernels.MinhashSeeds]]. Kept
    * here as forwarders so oracle builders keep one import site.
    */
  val MinhashP: Long = TextKernels.MinhashP
  val MinhashSeeds: Seq[(Long, Long)] = TextKernels.MinhashSeeds

  /** Exact dedup groups: fingerprint → surviving (minimum) doc id + group
    * size. One shuffle on the fingerprint.
    */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(TextAnalysis.fingerprint(col(textCol)).as("fingerprint"), col(idCol))
      .groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_docs"))

  /** Distinct word n-grams (shingles) of the normalized text, as an array
    * column named `grams` — one codegen'd pass per doc
    * ([[TextKernels.ShinglesExpr]]; semantics identical to
    * `array_distinct(transform(sequence(...), concat_ws(" ", ...)))`).
    * Docs with fewer than n tokens have no grams and are dropped.
    */
  def shingles(docs: DataFrame, n: Int = 3, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    docs
      .select(
        col(idCol),
        TextKernels.shingleGrams(TextAnalysis.tokens(col(textCol)), n).as("grams"))
      .where(size(col("grams")) > 0)
  }

  /** Winnowing document fingerprints ([[TextKernels.winnow]] — MOSS): per
    * doc, the distinct minima of a `window`-wide slide over the ORDERED
    * n-gram hash sequence, ascending. ~2/(window+1) of grams selected; any
    * shared run of `n + window - 1` tokens between two docs is guaranteed a
    * common fingerprint — the standard overlap/provenance detector where
    * whole-doc hashing ([[exactGroups]]) is too strict. Map-side, one
    * codegen'd pass, no shuffle; docs with fewer than `window` grams drop.
    */
  def winnowFingerprints(
      docs: DataFrame,
      n: Int = 3,
      window: Int = 4,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    docs
      .select(
        col(idCol),
        TextKernels.winnowFingerprints(TextAnalysis.tokens(col(textCol)), n, window).as("fps"))
      .where(size(col("fps")) > 0)
  }

  /** MOSS-style overlap pairs over [[winnowFingerprints]]: documents sharing
    * at least `minShared` selected prints, with the shared count. The
    * guarantee inherited from winnowing: any common token run of
    * `n + window - 1` tokens shares at least one print, so substantial
    * copied passages surface even when whole-doc similarity is low — the
    * containment/plagiarism detector, complementing Jaccard (whole-doc
    * near-dup) and exact fingerprints.
    *
    * Scale shape: prints are distinct per doc, so one equi-join on the
    * print + a pair-count aggregation — the same banded-join pattern as
    * MinHash LSH; candidates are O(pairs actually sharing prints). Skew
    * knob: `maxPrintFreq` drops prints appearing in more than that many
    * docs (boilerplate runs — headers, licenses — that would fan out
    * quadratically); 0 disables the filter (lossless default, which is how
    * the oracle replays it).
    */
  def winnowOverlapPairs(
      docs: DataFrame,
      minShared: Int = 2,
      n: Int = 3,
      window: Int = 4,
      maxPrintFreq: Long = 0L,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val fps = winnowFingerprints(docs, n, window, idCol, textCol)
      .select(col(idCol), explode(col("fps")).as("fp"))
    val kept =
      if (maxPrintFreq <= 0L) fps
      else {
        val hot = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
          .where(col("df") > maxPrintFreq).select(col("fp"))
        fps.join(hot, Seq("fp"), "left_anti")
      }
    kept.as("l").join(kept.as("r"), "fp")
      .where(col(s"l.$idCol") < col(s"r.$idCol"))
      .groupBy(col(s"l.$idCol").as("doc_a"), col(s"r.$idCol").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Benchmark decontamination: per training doc, the number of distinct
    * word n-grams it shares with ANY document of an eval/benchmark set —
    * the contamination check every serious training-data pipeline runs
    * before training (n-gram overlap against held-out benchmarks, in the
    * style of the GPT-3 appendix-C / The Pile 13-gram procedure; n is a
    * parameter because the fixture docs are short).
    *
    * Scale shape: the eval side is a benchmark — thousands of docs against
    * a 100 TB corpus — so its distinct gram-hash set is BROADCAST by
    * default and the probe is map-side; the only shuffle is the per-doc
    * count aggregation. For an eval side too big to broadcast (corpus-vs-
    * corpus contamination, where the "eval" set is itself huge), pass
    * `broadcastEval = false` to fall back to a shuffled equi-join on the
    * gram hash — same result, one extra exchange.
    * Grams compare by their 32-bit md5 hash (the same key
    * [[ngramJaccardCandidates]] joins on): a collision can only ADD a
    * shared-gram count — for decontamination a rare false flag errs toward
    * over-removal, never under-removal — and both engines compute identical
    * hashes, so the oracle replays the report bit-for-bit.
    */
  def contaminationReport(
      docs: DataFrame,
      evalDocs: DataFrame,
      minShared: Int = 2,
      n: Int = 3,
      broadcastEval: Boolean = true,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    def gramHashes(d: DataFrame) =
      shingles(d, n, idCol, textCol)
        .select(col(idCol), explode(col("grams")).as("gram"))
        .select(col(idCol), TextKernels.hash32Col(col("gram")).as("h"))
        .distinct() // grams are distinct per doc; this also collapses hash collisions
    val evalGrams = gramHashes(evalDocs).select(col("h")).distinct()
    gramHashes(docs)
      .join(if (broadcastEval) broadcast(evalGrams) else evalGrams, "h")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** [[contaminationReport]]'s Bloom-filter route — the shape for when the
    * eval-gram set outgrows a broadcast hash set but its BITMAP still fits
    * (Dolma/BFF run corpus-scale n-gram dedup exactly this way): the eval
    * grams aggregate into one deterministic fixed-seed Bloom filter
    * (~`1.44·log2(1/fpp)` bits/gram — at the 1e-4 default ~2.4 bytes/gram
    * vs ~50 for a broadcast hash-set entry), and the corpus side probes it
    * MAP-SIDE — the only shuffle left is the per-doc count. No false
    * negatives ever (every truly-contaminated doc is flagged — the law the
    * declared query's oracle asserts row by row); false positives inflate
    * `n_flagged` at the gram level, so a doc with G grams sees ~`G·fpp`
    * phantom hits and the DOC-level false-flag rate is roughly
    * `P(Binomial(G, fpp) >= minShared)` — size fpp accordingly (the 1e-4
    * default keeps it ~1e-5 at G≈300, where 1e-2 would false-flag most of
    * a clean corpus at minShared=2).
    *
    * `expectedGrams <= 0` counts the distinct eval grams first (one cheap
    * eval-side job) to size the filter.
    */
  /** The eval side of the Bloom decontamination route as a reusable
    * artifact: the distinct eval gram hashes aggregated into one serialized
    * deterministic Bloom filter. Null when the eval side has no grams
    * (callers treat that as "nothing can be contaminated"). Batch
    * ([[contaminationReportBloom]]) and streaming
    * ([[graft.streaming.StreamingSessionize.decontaminateIngest]]) probe
    * the SAME bytes, so their verdicts cannot drift.
    */
  def evalGramFilter(
      evalDocs: DataFrame,
      n: Int = 3,
      fpp: Double = 1e-4,
      expectedGrams: Long = 0L,
      idCol: String = "doc_id",
      textCol: String = "text"): Array[Byte] = {
    // pin ONE evaluation of the shingle+distinct pass: the sizing count
    // and the filter aggregation otherwise each re-run the tokenize over
    // the eval corpus (the `sized` parameter stays the exact same count,
    // so the filter bytes are unchanged)
    val evalGrams = shingles(evalDocs, n, idCol, textCol)
      .select(explode(col("grams")).as("gram"))
      .select(TextKernels.hash32Col(col("gram")).as("h"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sized = if (expectedGrams > 0) expectedGrams else math.max(evalGrams.count(), 1L)
      evalGrams
        .agg(BloomFunctions.bloomAgg(col("h"), sized, fpp).as("bf"))
        .collect()(0)
        .getAs[Array[Byte]](0)
    } finally { evalGrams.unpersist(); () }
  }

  def contaminationReportBloom(
      docs: DataFrame,
      evalDocs: DataFrame,
      minShared: Int = 2,
      n: Int = 3,
      fpp: Double = 1e-4,
      expectedGrams: Long = 0L,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val filterBytes = evalGramFilter(evalDocs, n, fpp, expectedGrams, idCol, textCol)
    if (filterBytes == null) {
      // empty eval side aggregates to a null filter: nothing can be contaminated
      docs.select(col(idCol), lit(0L).as("n_flagged")).where(lit(false))
    } else {
      shingles(docs, n, idCol, textCol)
        .select(col(idCol), explode(col("grams")).as("gram"))
        .select(col(idCol), TextKernels.hash32Col(col("gram")).as("h"))
        .distinct()
        .where(BloomFunctions.bloomContains(lit(filterBytes), col("h")))
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_flagged"))
        .where(col("n_flagged") >= minShared)
    }
  }

  /** Asymmetric containment near-dup pairs: emit (doc_a, doc_b) when
    * `|g(a) ∩ g(b)| / |g(a)| >= threshold` — doc_a is a near-SUBSET of
    * doc_b. This is the duplicate class symmetric Jaccard structurally
    * misses: a page quoting a whole short document, an excerpt feed, a doc
    * re-published with a long boilerplate wrapper — the union in Jaccard's
    * denominator dilutes the score as the size gap grows, while containment
    * normalizes by the smaller doc's own content. Both directions are
    * emitted when two docs mutually contain each other (near-identical
    * twins appear as two rows).
    *
    * Grams compare by the same 32-bit md5 hash the other gram joins use
    * (collisions can only INFLATE containment — errs toward over-flagging,
    * the safe direction for dedup; both engines hash identically so the
    * oracle replays exactly). `maxGramFreq > 0` drops grams appearing in
    * more than that many docs BEFORE both the numerator and the
    * denominator — containment is then measured within the informative gram
    * space (boilerplate runs can't fan the join out quadratically OR pin
    * every doc's ratio near 1); 0 keeps it lossless, which is how the
    * declared query runs.
    *
    * Scale shape: one equi-join on the gram hash + a pair-count aggregation
    * (the [[contaminationReport]] shuffled-fallback shape); the hot-gram
    * knob is the skew control. At 100 TB prefer winnowed prints
    * ([[winnowOverlapPairs]]) as the sparser candidate generator and verify
    * containment on the candidates only.
    */
  def containmentPairs(
      docs: DataFrame,
      threshold: Double = 0.8,
      n: Int = 3,
      maxGramFreq: Long = 0L,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val hashes = shingles(docs, n, idCol, textCol)
      .select(col(idCol), explode(col("grams")).as("gram"))
      .select(col(idCol), TextKernels.hash32Col(col("gram")).as("h"))
      .distinct() // grams are distinct per doc; this also collapses hash collisions
    val kept =
      if (maxGramFreq <= 0L) hashes
      else {
        val hot = hashes.groupBy(col("h")).agg(count(lit(1)).as("df"))
          .where(col("df") > maxGramFreq).select(col("h"))
        hashes.join(hot, Seq("h"), "left_anti")
      }
    val sizes = kept.groupBy(col(idCol)).agg(count(lit(1)).as("n_h"))
    kept.as("l").join(kept.as("r"), "h")
      .where(col(s"l.$idCol") =!= col(s"r.$idCol"))
      .groupBy(col(s"l.$idCol").as("doc_a"), col(s"r.$idCol").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col(idCol).as("doc_a"), col("n_h")), "doc_a")
      .withColumn("containment", col("n_shared").cast("double") / col("n_h"))
      .where(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("containment"), 6).as("containment"))
  }

  /** Maximal duplicated token spans — the distributed shape of exact-
    * substring dedup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", which uses a suffix array on one big machine;
    * the L-gram seed-and-merge here is the standard cluster approximation,
    * e.g. the n-gram Bloom dedup in AI2's Dolma/BFF): a token position is
    * "duplicated" when some L-gram covering it occurs at least `minOcc`
    * times in the whole corpus (within-doc repeats count — self-repetition
    * is duplication too), and per doc the covering windows `[pos, pos + L)`
    * merge into maximal spans. A verbatim shared run of R >= L tokens seeds
    * every start position inside it, so the merged span recovers the run's
    * exact token extent; runs shorter than L are invisible (the documented
    * approximation knob — smaller L catches more, fans out more).
    *
    * Output: one row per (doc, span): `span_start` (inclusive token index),
    * `span_end` (exclusive), `dup_tokens` = end - start. Downstream either
    * cuts the spans out of the training text or drops docs whose duplicated
    * fraction is too high.
    *
    * Scale shape: seeds are one codegen'd map-side pass
    * ([[TextKernels.OrderedGramHashes]] — gram strings never leave the row)
    * + posexplode, ~one seed row per corpus token; occurrence counting is
    * one hash-shuffle on the 32-bit gram hash with map-side partials; the
    * seed→dup-hash equi-join shuffles on the same key (AQE turns it into a
    * broadcast when the duplicated-hash set is small, the common case on a
    * clean corpus); the interval merge is a per-doc window sort — seeds of
    * one doc, never the corpus, in one partition. Nothing is O(n²); hash
    * collisions (32-bit) can only ADD a phantom duplicated position —
    * over-flagging, the safe direction for dedup — and both engines hash
    * identically so the oracle replays bit-for-bit.
    */
  def duplicatedSpans(
      docs: DataFrame,
      l: Int = 8,
      minOcc: Int = 2,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(l > 0 && minOcc >= 2, s"need l > 0 and minOcc >= 2, got $l/$minOcc")
    val seeds = docs
      .select(
        col(idCol),
        posexplode(TextKernels.orderedGramHashesCol(TextAnalysis.tokens(col(textCol)), l))
          .as(Seq("pos", "h")))
    val dupHashes = seeds
      .groupBy(col("h"))
      .agg(count(lit(1)).as("occ"))
      .where(col("occ") >= minOcc)
      .select(col("h"))
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    seeds
      .join(dupHashes, "h")
      .select(col(idCol), col("pos"))
      // a window starting <= l after the previous one overlaps or abuts it
      // ([pos, pos+l) vs [prev, prev+l)) — same merged span
      .withColumn(
        "brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= l, lit(0)).otherwise(lit(1)))
      .withColumn("span_id", sum(col("brk")).over(byDoc))
      .groupBy(col(idCol), col("span_id"))
      .agg(min(col("pos")).as("start"), max(col("pos")).as("last"))
      .select(
        col(idCol),
        col("start").cast("long").as("span_start"),
        (col("last") + l).cast("long").as("span_end"),
        (col("last") + l - col("start")).cast("long").as("dup_tokens"))
  }

  /** Candidate pairs for [[ngramJaccardPairs]] via lossless prefix filtering
    * (AllPairs/PPJoin family): order every doc's grams by global rarity; two
    * docs with Jaccard >= t MUST share a gram within the first
    * `|g| - ceil(t*|g|) + 1` grams of that ordering (pigeonhole), so the
    * candidate join only fans out on prefix grams. Two further *lossless*
    * PPJoin filters cut the fan-out (essential at low thresholds, where the
    * prefix alone is ~70% of each doc at t=0.3):
    *
    *  - length filter: Jaccard >= t forces min(|a|,|b|) >= t·max(|a|,|b|);
    *  - positional filter: both gram lists are sorted by the SAME global
    *    order, so the first shared gram (positions i, j, 0-based) bounds the
    *    overlap by `1 + min(|a|-i-1, |b|-j-1)`, which must reach the overlap
    *    threshold `alpha = ceil(t/(1+t)·(|a|+|b|))` (Xiao et al., PPJoin).
    *
    * The float guards subtract 1e-9 before ceil/compare so rounding can only
    * weaken a filter (keep a candidate), never drop a true pair.
    *
    * Exposed separately so tests can assert the filter actually prunes
    * (DedupSpec checks candidates strictly below all-pairs, and losslessness
    * against a naive all-pairs join on the real corpus).
    */
  def ngramJaccardCandidates(
      grams: DataFrame,
      threshold: Double,
      idCol: String = "doc_id"): DataFrame = {
    // Candidates run on the 32-bit md5 gram hash, not the gram string: the
    // shuffled rows carry an 8-byte key instead of a ~30-byte string, and
    // losslessness is UNAFFECTED — a hash collision merges two grams' freq
    // counts and can only create EXTRA "shared" keys (a superset of
    // candidates, each later rejected by the exact verify on true grams);
    // a true shared gram always shares its hash, and a colliding key that
    // appears earlier in the rarity order only loosens the positional bound.
    val exploded = grams.select(col(idCol), explode(col("grams")).as("gram"))
      .select(col(idCol), TextKernels.hash32Col(col("gram")).as("h"))
    val freq = exploded.groupBy(col("h")).agg(count(lit(1)).as("freq"))

    // rarity-sorted per doc via (freq, hash) struct sort — total order with
    // no string-key padding/decode tricks
    val ranked = exploded
      .join(freq, "h")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("freq"), col("h")))).as("sorted_keys"))
      .withColumn("n_grams", size(col("sorted_keys")))
      // epsilon-guarded like the alpha/length filters: IEEE rounding can push
      // an exact integer product up (0.07*100 = 7.000000000000001 → ceil 8),
      // which would SHORTEN the prefix and drop a true pair; subtracting the
      // epsilon means rounding can only lengthen it (weaken the filter)
      .withColumn(
        "prefix_len",
        col("n_grams") - ceil(lit(threshold) * col("n_grams") - lit(1e-9)).cast("int") + 1)
      .select(
        col(idCol), col("n_grams"),
        transform(slice(col("sorted_keys"), lit(1), col("prefix_len").cast("int")),
          k => k.getField("h")).as("prefix"))

    val pf = ranked.select(
      col(idCol), col("n_grams"),
      posexplode(col("prefix")).as(Seq("pos", "h")))
    val l = pf.select(
      col(idCol).as("doc_a"), col("n_grams").as("na"), col("pos").as("pa"), col("h"))
    val r = pf.select(
      col(idCol).as("doc_b"), col("n_grams").as("nb"), col("pos").as("pb"), col("h"))
    val t = threshold
    val alpha = ceil(lit(t / (1.0 + t)) * (col("na") + col("nb")) - lit(1e-9))
    l.join(r, "h")
      .where(col("doc_a") < col("doc_b"))
      .where(col("nb") >= lit(t) * col("na") - lit(1e-9) &&
        col("na") >= lit(t) * col("nb") - lit(1e-9))
      .where(lit(1) + least(col("na") - col("pa") - 1, col("nb") - col("pb") - 1) >= alpha)
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** Exact all-pairs n-gram Jaccard >= threshold. Candidates come from the
    * lossless prefix filter ([[ngramJaccardCandidates]]); each candidate is
    * then verified with the exact Jaccard. Output: (doc_a, doc_b, jaccard)
    * with doc_a < doc_b.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      threshold: Double,
      n: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // The grams frame feeds FOUR subtrees of one plan (the prefix self-join's
    // two legs + the verify stage's two sides): a lazy localCheckpoint
    // computes the tokenize+shingle scan ONCE per evaluation and the other
    // references read the cached blocks (within-query reuse — blocks are
    // GC-reclaimed when the frame dies, the connectedComponents discipline).
    // At 100 TB pass a reliable checkpoint instead (same note as components).
    val g = shingles(docs, n, idCol, textCol).localCheckpoint(false)
    verifyJaccard(ngramJaccardCandidates(g, threshold, idCol), g, threshold, idCol)
  }

  /** APPROXIMATE n-gram Jaccard: candidates from the MinHash LSH bands
    * (probabilistic — a pair sharing no band bucket is missed), exact
    * Jaccard verify per candidate, so every emitted pair is TRUE; recall at
    * threshold t is 1-(1-t^r)^b over b bands of r rows (b=8, r=4 defaults:
    * ~0.063 at t=0.3 per-pair, but near-identical planted dups with
    * t ≈ 0.8+ are caught at ~0.97+). This is the scale route when the
    * lossless prefix filter degenerates — at low thresholds the prefix is
    * ~(1-t)|g| of each doc, so [[ngramJaccardPairs]]'s candidate join grows
    * toward all-pairs, while band candidates stay O(true-ish pairs).
    * Deterministic end-to-end → DuckDB-oracle-replayable despite being
    * approximate.
    */
  def ngramJaccardPairsViaMinhash(
      docs: DataFrame,
      threshold: Double,
      bands: Int = 8,
      n: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // same within-query reuse as [[ngramJaccardPairs]]: the grams frame
    // feeds the signature build plus both verify sides
    val g = shingles(docs, n, idCol, textCol).localCheckpoint(false)
    val sigs = g.select(col(idCol), TextKernels.minhashSig(col("grams")).as("sig"))
    verifyJaccard(minhashBandCandidates(sigs, bands, idCol), g, threshold, idCol)
  }

  /** Exact-Jaccard verification of candidate (doc_a, doc_b) pairs. */
  private def verifyJaccard(
      cand: DataFrame,
      grams: DataFrame,
      threshold: Double,
      idCol: String): DataFrame = {
    val ga = grams.select(col(idCol).as("doc_a"), col("grams").as("grams_a"))
    val gb = grams.select(col(idCol).as("doc_b"), col("grams").as("grams_b"))
    cand.join(ga, "doc_a").join(gb, "doc_b")
      // codegen'd intersection COUNT — same integer as
      // size(array_intersect(...)), no intersected array materialized per
      // candidate pair
      .withColumn("n_inter",
        TextKernels.interCountCol(col("grams_a"), col("grams_b")).cast("double"))
      .withColumn(
        "jaccard",
        col("n_inter") / (size(col("grams_a")) + size(col("grams_b")) - col("n_inter")))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Edit-distance near-dup pairs: MinHash band candidates verified by
    * LEVENSHTEIN distance — the typo/small-edit duplicate class that
    * set-based Jaccard dilutes (a dozen single-character edits barely move
    * gram overlap on a long doc but are exactly what "same doc, minor
    * revision" looks like). Candidate generation is the same banded
    * equi-join as every other dedup route (never all-pairs); verification
    * prunes with the classic length lower bound
    * `||a| - |b|| <= maxDist` BEFORE paying the O(|a|·|b|) DP, then keeps
    * pairs at `levenshtein <= maxDist`. Both engines implement the same
    * textbook DP, so the distance — and therefore the pair set — replays
    * exactly.
    */
  def editDistancePairs(
      docs: DataFrame,
      maxDist: Int,
      bands: Int = 8,
      n: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(maxDist >= 0, s"maxDist must be nonnegative, got $maxDist")
    val g = shingles(docs, n, idCol, textCol)
    val sigs = g.select(col(idCol), TextKernels.minhashSig(col("grams")).as("sig"))
    val cand = minhashBandCandidates(sigs, bands, idCol)
    val ta = docs.select(col(idCol).as("doc_a"), col(textCol).as("text_a"))
    val tb = docs.select(col(idCol).as("doc_b"), col(textCol).as("text_b"))
    cand.join(ta, "doc_a").join(tb, "doc_b")
      .where(abs(length(col("text_a")) - length(col("text_b"))) <= maxDist)
      .withColumn("edit_dist", levenshtein(col("text_a"), col("text_b")))
      .where(col("edit_dist") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("edit_dist").cast("long").as("edit_dist"))
  }

  /** MinHash signature (array of 32 longs) per doc over its n-gram set.
    * Fully MAP-SIDE and codegen'd: one [[TextKernels.MinHashSignature]] pass
    * hashes each gram once and folds all 32 permutation minima — no explode,
    * no shuffle, no interpreted lambda allocation.
    */
  def minhashSignatures(docs: DataFrame, n: Int = 3, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val g = shingles(docs, n, idCol, textCol)
    g.select(col(idCol), TextKernels.minhashSig(col("grams")).as("sig"))
  }

  /** MinHash+LSH near-dup candidate pairs: band the 32-slot signature into
    * `bands` buckets of `32/bands` rows; docs sharing any band bucket pair
    * up. `est_jaccard` = fraction of matching signature slots. Deterministic
    * (candidates follow from signatures alone), so oracle-checkable.
    */
  /** Append (band, band_key) rows to a frame carrying a `sig` column —
    * posexplode, one row per band, all input columns kept. The ONE band-key
    * encoding (comma-joined signature slots per band), shared by the batch
    * candidate join and the streaming ingest probe
    * ([[graft.streaming.StreamingSessionize.nearDupIngest]]) so the two
    * sides can never band differently.
    */
  def withBandKeys(sigs: DataFrame, bands: Int): DataFrame = {
    val k = MinhashSeeds.size
    require(k % bands == 0, s"bands ($bands) must divide the signature size ($k)")
    val rows = k / bands
    val banded = sigs.select(
      col("*"),
      posexplode(
        array((0 until bands).map(b =>
          concat_ws(",", (0 until rows).map(r => element_at(col("sig"), b * rows + r + 1)): _*)): _*))
        .as(Seq("band", "band_key")))
    // Stamp the geometry on the band column (metadata survives parquet
    // round-trips) so consumers joining a persisted index can verify their
    // own band count matches how the index was built — a silent mismatch
    // would produce keys that never match and let duplicates through.
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft.bands", bands.toLong).build()
    banded.withColumn("band", col("band").as("band", meta))
  }

  /** Banded candidate pairs from precomputed signatures: docs sharing any
    * band's full signature slice pair up (equi-join on the band key).
    */
  def minhashBandCandidates(sigs: DataFrame, bands: Int, idCol: String = "doc_id"): DataFrame = {
    val banded = withBandKeys(sigs.select(col(idCol), col("sig")), bands).drop("sig")
    banded.as("l").join(banded.as("r"), Seq("band", "band_key"))
      .where(col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("doc_a"), col(s"r.$idCol").as("doc_b"))
      .distinct()
  }

  def minhashLshPairs(
      docs: DataFrame,
      bands: Int = 8,
      n: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val k = MinhashSeeds.size
    val sigs = minhashSignatures(docs, n, idCol, textCol)
    val cand = minhashBandCandidates(sigs, bands, idCol)

    val sa = sigs.select(col(idCol).as("doc_a"), col("sig").as("sig_a"))
    val sb = sigs.select(col(idCol).as("doc_b"), col("sig").as("sig_b"))
    // codegen'd slot-agreement count (identical to the interpreted
    // size(filter(zip_with(...))) chain it replaces)
    cand.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("n_match", VectorFunctions.eqSlotCount(col("sig_a"), col("sig_b")))
      .select(
        col("doc_a"), col("doc_b"),
        round(col("n_match").cast("double") / k, 6).as("est_jaccard"))
  }

  /** Incremental near-dup admission check: dedup a NEW batch of documents
    * against an EXISTING corpus (and within itself) WITHOUT touching
    * corpus×corpus pairs — the continuous-ingest shape. A daily 100 GB drop
    * into a 100 TB corpus must not re-run the full O(corpus²-candidate)
    * dedup; it needs exactly this probe: candidates are (fresh × corpus) ∪
    * (fresh × earlier-fresh) band collisions, so cost scales with the BATCH,
    * not the corpus.
    *
    * Mechanics: MinHash band keys ([[withBandKeys]], the same geometry the
    * batch dedup and the streaming ingest probe use) on both sides; a fresh
    * doc pairs with any band-sharing corpus doc, and with band-sharing fresh
    * docs of smaller id (each within-batch pair resolves once, to the later
    * doc — arrival order for monotonic ids). Every candidate is verified by
    * signature-slot agreement >= `threshold` (the [[minhashLshPairs]]
    * estimator). Output is one row per fresh doc: (idCol, n_dups, dup_of) —
    * `n_dups` = verified near-dup partners (0 → admit), `dup_of` = smallest
    * partner id (null → unique). Ids must be disjoint across the two frames
    * (they share one id space).
    *
    * At scale the corpus side is a PRECOMPUTED banded-signature index,
    * persisted once (band geometry rides in column metadata and is
    * re-verified by consumers) and bucketed by (band, band_key) so the probe
    * is a co-located equi-join; the fresh side is small enough to broadcast.
    * Here both sides are derived in-plan from the raw frames — same joins,
    * index materialization left to the caller's storage layer.
    */
  def incrementalDedupReport(
      corpus: DataFrame,
      fresh: DataFrame,
      threshold: Double = 0.5,
      bands: Int = 8,
      n: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val corpusSigs = minhashSignatures(corpus, n, idCol, textCol)
    incrementalCore(
      withBandKeys(corpusSigs, bands), corpusSigs, fresh, threshold, bands, n, idCol, textCol)
  }

  /** [[incrementalDedupReport]] against a PRE-BUILT corpus band index — the
    * shape production actually runs: `withBandKeys(minhashSignatures(corpus))`
    * is computed once, written to storage (bucketed by band/band_key), and
    * every arriving batch probes it without touching corpus text again. The
    * index frame must carry (`idCol`, `sig`, `band`, `band_key`) — exactly
    * [[withBandKeys]]' output, parquet round-trips included (the band
    * geometry stamped in the `band` column's metadata survives parquet and
    * is re-verified here: probing a bands=8 index with bands=16 keys would
    * silently never match, letting every duplicate through).
    */
  def incrementalDedupAgainstIndex(
      corpusIndex: DataFrame,
      fresh: DataFrame,
      threshold: Double = 0.5,
      bands: Int = 8,
      n: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val m = corpusIndex.schema("band").metadata
    if (m.contains("graft.bands")) {
      require(m.getLong("graft.bands") == bands.toLong,
        s"corpusIndex was banded with bands=${m.getLong("graft.bands")} " +
          s"but the probe was asked to band with bands=$bands")
    }
    // one signature row per doc (the index has one row per band); in
    // production the sig table is stored alongside the index — here we
    // recover it with a dedup on the id
    val corpusSigs = corpusIndex.select(col(idCol), col("sig")).dropDuplicates(idCol)
    incrementalCore(corpusIndex, corpusSigs, fresh, threshold, bands, n, idCol, textCol)
  }

  private def incrementalCore(
      corpusBanded: DataFrame,
      corpusSigs: DataFrame,
      fresh: DataFrame,
      threshold: Double,
      bands: Int,
      n: Int,
      idCol: String,
      textCol: String): DataFrame = {
    val k = MinhashSeeds.size
    val freshSigs = minhashSignatures(fresh, n, idCol, textCol)
    val freshBanded = withBandKeys(freshSigs, bands)
    val probe = freshBanded.select(col(idCol).as("f_id"), col("band"), col("band_key"))
    val partner = corpusBanded
      .select(col(idCol).as("p_id"), lit(false).as("p_fresh"), col("band"), col("band_key"))
      .unionByName(freshBanded
        .select(col(idCol).as("p_id"), lit(true).as("p_fresh"), col("band"), col("band_key")))
    val cand = probe.join(partner, Seq("band", "band_key"))
      .where(!col("p_fresh") || col("p_id") < col("f_id"))
      .select(col("f_id"), col("p_id"))
      .distinct()
    val sa = freshSigs.select(col(idCol).as("f_id"), col("sig").as("sig_a"))
    val sb = corpusSigs.select(col(idCol).as("p_id"), col("sig").as("sig_b"))
      .unionByName(freshSigs.select(col(idCol).as("p_id"), col("sig").as("sig_b")))
    val verified = cand.join(sa, "f_id").join(sb, "p_id")
      .withColumn("n_match", VectorFunctions.eqSlotCount(col("sig_a"), col("sig_b")))
      .where(col("n_match").cast("double") / k >= threshold)
    val matches = verified.groupBy(col("f_id"))
      .agg(count(lit(1)).as("n_dups"), min(col("p_id")).as("dup_of"))
    // LEFT join back to the full fresh batch: docs below the gram width have
    // no signature and no candidates — they are admitted with n_dups = 0,
    // not silently dropped from the report.
    fresh.select(col(idCol))
      .join(matches, col(idCol) === col("f_id"), "left")
      .select(col(idCol), coalesce(col("n_dups"), lit(0L)).as("n_dups"), col("dup_of"))
  }

  /** Connected components over near-dup pairs — the step that turns ANY of
    * the pair generators into dedup GROUPS ("keep one doc per cluster"):
    * every doc gets `component_id` = the minimum doc id reachable through
    * the pair graph (singletons map to themselves).
    *
    * Algorithm: min-label propagation — each round every node takes the min
    * of its own and its neighbors' labels; converges in O(graph diameter)
    * rounds. The driver loop iterates ROUNDS (a handful — near-dup clusters
    * are shallow), never rows; each round is ONE distributed join+aggregate
    * job: the previous label rides through the aggregation as `prev_comp`,
    * so the convergence test is a scan of the round's own output, not an
    * extra join. At larger diameters swap in the large-star/small-star
    * contraction (Kiveris et al., SoCC'14) — same driver-loop shape,
    * O(log²n) rounds.
    *
    * Durability contract: per-round lineage truncation defaults to
    * `localCheckpoint` — blocks live on EXECUTOR LOCAL storage, so on a
    * real cluster a lost or preempted executor makes them unrecoverable and
    * fails the job. That is fine for `local[n]` and for clusters without
    * preemption, but the 100 TB path should pass `checkpointDir`
    * (HDFS/object-store URI): rounds then write reliable `checkpoint()`
    * files that survive executor loss, at the cost of one extra write+read
    * pass per round.
    */
  def connectedComponents(
      nodes: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id",
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      maxRounds: Int = 50,
      checkpointDir: Option[String] = None): DataFrame =
    connectedComponentsWithRounds(nodes, pairs, idCol, aCol, bCol, maxRounds, checkpointDir)._1

  /** [[connectedComponents]] plus the number of propagation rounds it took —
    * exposed so tests can pin the round count on a known fixture (a
    * propagation regression then fails loudly instead of just running
    * longer).
    */
  def connectedComponentsWithRounds(
      nodes: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id",
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      maxRounds: Int = 50,
      checkpointDir: Option[String] = None): (DataFrame, Int) = {
    val durable = durableBy(nodes, checkpointDir)
    // both directions from ONE evaluation of the pair generator: the old
    // union-of-two-selects shape ran the (expensive) pair join once per
    // leg inside the materializing action — same rows, order-free consumers
    val edges = durable(
      pairs
        .select(explode(array(
          struct(col(aCol).as("src"), col(bCol).as("dst")),
          struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst")))
    var labels = durable(
      nodes.select(col(idCol).as("node")).distinct()
        .withColumn("comp", col("node")))
    var round = 0
    var converged = false
    // the durable frame backing `labels`: superseded rounds are unpersisted
    // so executor memory holds at most two rounds of labels, not O(rounds)
    var backing = labels
    while (!converged && round < maxRounds) {
      val viaNeighbor = edges
        .join(labels.withColumnRenamed("node", "dst").select(col("dst"), col("comp")), "dst")
        .select(col("src").as("node"), col("comp"), lit(false).as("is_self"))
      val next = durable(
        viaNeighbor
          .unionByName(labels.select(col("node"), col("comp"), lit(true).as("is_self")))
          .groupBy(col("node"))
          .agg(
            min(col("comp")).as("comp"),
            // each node has exactly one self row: its previous label
            max(when(col("is_self"), col("comp"))).as("prev_comp")))
      val nChanged = next
        .agg(count(when(col("comp") =!= col("prev_comp"), lit(1))))
        .first().getLong(0)
      // the full-shuffle action above materialized `next`; the previous
      // round's blocks are dead (its lineage is truncated, so it must NOT
      // be unpersisted any earlier than this)
      backing.unpersist()
      backing = next
      converged = nChanged == 0L
      labels = next.select(col("node"), col("comp"))
      round += 1
    }
    require(converged, s"components did not converge in $maxRounds rounds")
    // the result's lineage stops at the checkpointed labels, so the edge
    // frame's blocks are no longer reachable from it
    edges.unpersist()
    (labels.select(col("node").as(idCol), col("comp").as("component_id")), round)
  }

  /** Per-round lineage-truncation strategy shared by both components
    * implementations. Reliable path (checkpointDir set): cache so the
    * checkpoint's write pass re-reads instead of recomputing, then drop the
    * cache — downstream reads hit the files. Local path: LAZY
    * localCheckpoint, so the round's own convergence action is the one job
    * that computes, caches, and truncates — no separate materialization
    * action per round.
    *
    * Note `setCheckpointDir` is SESSION-GLOBAL state and the setting
    * outlives this call. Spark appends a fresh UUID subdirectory on every
    * `setCheckpointDir`, so each components RUN gets its own namespace under
    * the requested root (durableBy is called once per run). Two CONCURRENT
    * runs still share the one global pointer — a run's later rounds may land
    * under the namespace the other run set — but files never collide (each
    * checkpointed RDD writes to `rdd-<id>`, unique per SparkContext) and
    * reads use the path captured at write time, so results are unaffected;
    * DedupSpec proves two concurrent reliable-checkpoint runs agree with the
    * sequential results. With DIFFERENT roots, files may land under either
    * root — treat the roots as one logical scratch area for cleanup.
    */
  private[graft] def durableBy(anchor: DataFrame, checkpointDir: Option[String]): DataFrame => DataFrame = {
    checkpointDir.foreach { dir =>
      // unconditional on purpose: the fresh UUID subdir IS the per-run
      // namespace (the old equality check compared the requested root to the
      // UUID-suffixed resolved path and so never matched anyway)
      anchor.sparkSession.sparkContext.setCheckpointDir(dir)
    }
    df => checkpointDir match {
      case Some(_) =>
        df.persist()
        val out = df.checkpoint()
        df.unpersist()
        out
      case None => df.localCheckpoint(false)
    }
  }

  /** Connected components via alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the deep-graph alternative to [[connectedComponents]]'
    * min-label propagation: label propagation needs O(diameter) rounds (a
    * 1M-node path graph = 1M rounds), the star contraction converges in
    * O(log² n) regardless of diameter, each round two join+aggregate jobs.
    *
    * - large-star (per node u over its symmetric neighborhood Γ(u)):
    *   m = min(Γ(u) ∪ {u}); every neighbor v > u re-points to m.
    * - small-star: m = min of u's not-larger neighbors and itself; u and
    *   those neighbors all re-point to m.
    *
    * Both steps preserve connectivity and only ever decrease parent
    * pointers; the fixed point is a forest of depth-1 stars centered on
    * each component's minimum id. Convergence is detected with an exact
    * signed-multiplicity set comparison (not a checksum — a spurious
    * "converged" would silently merge/split clusters) whose single
    * aggregation job also materializes the round's lazy checkpoint.
    *
    * Same durability contract as [[connectedComponents]]: default
    * `localCheckpoint` (executor-local, fine for local[n]); pass
    * `checkpointDir` for reliable checkpoints on preemptible clusters.
    * Output schema matches [[connectedComponents]] exactly.
    */
  def connectedComponentsStar(
      nodes: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id",
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      maxRounds: Int = 40,
      checkpointDir: Option[String] = None): DataFrame = {
    val durable = durableBy(nodes, checkpointDir)
    def symmetric(e: DataFrame): DataFrame =
      e.select(col("u"), col("v"))
        .unionByName(e.select(col("v").as("u"), col("u").as("v")))

    // edges held as (u, v); self-loops dropped, duplicates deduped per round
    var edges = durable(
      pairs.select(col(aCol).as("u"), col(bCol).as("v"))
        .where(col("u") =!= col("v"))
        .distinct())
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // large-star: neighbors v > u attach to min(Γ(u) ∪ {u})
      val sym = symmetric(edges)
      val mins = sym.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val large = sym.join(mins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star on the large-star output: u and its not-larger neighbors
      // attach to their collective min. Every large-star edge (v, m) already
      // has m = min(Γ(u) ∪ {u}) <= u < v, so the paper's symmetrize-then-
      // keep-smaller-neighbor step is the identity here: the reversed copy
      // (m, v) always has v > m and would be filtered right back out.
      val symSmall = large
      val minsSmall = symSmall.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = symSmall.join(minsSmall, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(minsSmall.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .distinct()
      val next = durable(small)
      // one-job exact set equality: both sides are distinct, so any (u,v)
      // whose signed multiplicity doesn't cancel is a difference — and the
      // aggregation action doubles as `next`'s lazy-checkpoint materializer
      converged = next.select(col("u"), col("v"), lit(1).as("side"))
        .unionByName(edges.select(col("u"), col("v"), lit(-1).as("side")))
        .groupBy(col("u"), col("v"))
        .agg(sum(col("side")).as("s"))
        .where(col("s") =!= 0)
        .isEmpty
      // the equality check's map side read BOTH frames in full, so `next`
      // is materialized and the superseded round's blocks can be dropped
      // (never earlier — its lineage is truncated); the final round stays
      // persisted for the closing join
      edges.unpersist()
      edges = next
      round += 1
    }
    require(converged, s"star contraction did not converge in $maxRounds rounds")
    nodes.select(col(idCol).as("node")).distinct()
      .join(edges.select(col("u").as("node"), col("v").as("parent")), Seq("node"), "left")
      .select(
        col("node").as(idCol),
        coalesce(col("parent"), col("node")).as("component_id"))
  }

  // ── SimHash ───────────────────────────────────────────────────────────

  /** 60-bit SimHash over unigram tokens: per bit, sum +1/-1 votes from each
    * distinct token's 60-bit md5-derived hash; bit set iff vote > 0.
    * MAP-SIDE and codegen'd: one [[TextKernels.SimHash60]] pass per doc.
    */
  def simhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    docs.select(
      col(idCol),
      TextKernels.simhashSig(array_distinct(TextAnalysis.tokens(col(textCol)))).as("simhash"))
  }

  /** Default block count for [[simhashPairs]]: the smallest `nBlocks` whose
    * combination keys carry `r·60/nBlocks >= 16` bits (r = nBlocks −
    * maxHamming), i.e. random collisions <= n²/2^16 per combination.
    * Solving (m−h)·60/m >= 16 gives m >= 60h/44; the pigeonhole additionally
    * needs m > h. At the Manku default h=3 this is 5 blocks (C(5,2)=10
    * combinations, 24-bit keys). Wide hamming budgets inflate the
    * combination count fast (h=12 ⇒ 17 blocks, C(17,5)=6188 tables) — at
    * that point pass `nBlocks` explicitly with corpus knowledge, per the
    * collision-vs-fan-out analysis in the [[simhashPairs]] Scaladoc.
    */
  def defaultSimhashBlocks(maxHamming: Int): Int =
    math.max(maxHamming + 1, math.ceil(60.0 * maxHamming / 44.0).toInt)

  /** SimHash near-dup pairs with hamming distance <= maxHamming, via a
    * Manku-style block-combination index (WWW'07 §3): split the 60 bits into
    * `nBlocks` blocks; a pair within the hamming budget flips bits in at most
    * `maxHamming` blocks, so it must match EXACTLY on some
    * `r = nBlocks - maxHamming` of them (pigeonhole) — an equi-join on every
    * C(nBlocks, r) combination of r concatenated blocks is a lossless
    * candidate filter. The exact hamming check runs per candidate. No cross
    * join anywhere in the plan (asserted by DedupSpec).
    *
    * Candidate-volume bound: TOTAL candidates ≈ random collisions
    * `C(nBlocks, r) · n² / 2^(r·60/nBlocks)` plus true near-dups emitted up
    * to C(nBlocks, r) times each. The minimal index
    * (`nBlocks = maxHamming + 1`, r = 1) has keys of only 60/(maxHamming+1)
    * bits — at maxHamming=6 that is ~8.5 bits ⇒ ~n²/362 collisions:
    * effectively quadratic on a large SPARSE corpus. Wider nBlocks trades
    * true-pair fan-out for exponentially fewer collisions: nBlocks=9 at
    * maxHamming=6 joins C(9,3)=84 tables on ~20-bit keys ⇒ ~n²/12500.
    * Pick by corpus: collision-dominated (sparse, huge n) → wide nBlocks;
    * true-pair-dominated (dense near-dups, as in the fixture corpus, where
    * 7 blocks measured 3× faster than 9 at sf0.1) → minimal nBlocks. Both
    * settings return identical results (DedupSpec equivalence test).
    *
    * Defaults: `maxHamming = 3` (the Manku WWW'07 operating point for
    * 64-bit fingerprints) and `nBlocks = 0` ⇒ [[defaultSimhashBlocks]],
    * which picks the smallest block count whose combination keys are at
    * least 16 bits wide — the bare-default index is never degenerate
    * (the r3 default, minimal blocks at maxHamming=12, had ~4.6-bit keys
    * ⇒ candidates ≈ n²/25: quadratic in disguise).
    */
  def simhashPairs(
      docs: DataFrame,
      maxHamming: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text",
      nBlocks: Int = 0): DataFrame = {
    val m = if (nBlocks > 0) nBlocks else defaultSimhashBlocks(maxHamming)
    require(m > maxHamming, s"need nBlocks ($m) > maxHamming ($maxHamming) for the pigeonhole")
    require(m <= 60, s"nBlocks ($m) cannot exceed the 60 signature bits")
    val r = m - maxHamming
    val sh = simhash(docs, idCol, textCol)
    val bounds = (0 to m).map(i => i * 60 / m)
    def blockVal(i: Int): Column =
      shiftright(col("simhash"), bounds(i)).bitwiseAND(lit((1L << (bounds(i + 1) - bounds(i))) - 1L))
    // one packed key per r-combination: fold the combination's block values
    // into a single long (shift by each block's exact width — total <= 60 bits)
    val comboKeys = (0 until m).combinations(r).toSeq.map { combo =>
      combo.foldLeft(lit(0L)) { (acc, blk) =>
        shiftleft(acc, bounds(blk + 1) - bounds(blk)) + blockVal(blk)
      }
    }
    val idx = sh.select(
      col(idCol), col("simhash"),
      posexplode(array(comboKeys: _*)).as(Seq("combo", "combo_key")))

    idx.as("l").join(idx.as("r"), Seq("combo", "combo_key"))
      .where(col(s"l.$idCol") < col(s"r.$idCol"))
      .select(
        col(s"l.$idCol").as("doc_a"), col(s"r.$idCol").as("doc_b"),
        col("l.simhash").as("sh_a"), col("r.simhash").as("sh_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .where(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
  }

  /** Explode a 64-bit hash column into `nBands` contiguous equal-width
    * `(band, bkey)` rows — the shared candidate-key builder of
    * [[hashBandPairs]], [[hashBandAdmit]], and [[hashBandIndex]]. Null
    * hashes are excluded (an unfingerprintable asset matches nothing).
    * Keeps every input column.
    */
  private[graft] def withHashBands(
      df: DataFrame, nBands: Int, hashCol: String): DataFrame = {
    require(nBands >= 1 && 64 % nBands == 0,
      s"nBands ($nBands) must divide the 64 hash bits evenly")
    val w = 64 / nBands
    val mask = if (w == 64) lit(-1L) else lit((1L << w) - 1L)
    val bands = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col(hashCol), b * w).bitwiseAND(mask).as("bkey"))
    }
    df.where(col(hashCol).isNotNull)
      .select(col("*"), posexplode(array(bands: _*)).as(Seq("pos", "bk")))
      .select(df.columns.map(col) :+ col("bk.band").as("band") :+ col("bk.bkey").as("bkey"): _*)
  }

  /** PERSISTABLE banded index over a 64-bit perceptual-hash column — the
    * static side a streaming probe ([[graft.streaming.StreamingSessionize
    * .phashIngest]]) joins per micro-batch, the [[corpusBandIndex]]
    * discipline for media fingerprints. Output:
    * (corpus_<idCol>, corpus_<hashCol>, band, bkey), with the band
    * geometry stamped on the `band` column's metadata so a probe banded
    * differently fails loudly instead of silently never matching.
    */
  def hashBandIndex(
      hashed: DataFrame,
      nBands: Int = 4,
      idCol: String = "doc_id",
      hashCol: String = "dhash"): DataFrame = {
    val banded = withHashBands(
      hashed.select(col(idCol), col(hashCol)), nBands, hashCol)
      .select(
        col(idCol).as(s"corpus_$idCol"), col(hashCol).as(s"corpus_$hashCol"),
        col("band"), col("bkey"))
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft.bands", nBands.toLong).build()
    banded.withColumn("band", col("band").as("band", meta))
  }

  /** Banded Hamming pairs over an arbitrary 64-BIT hash column — the
    * perceptual-dedup search half: `dedup_phash` feeds it the
    * [[graft.functions.ImageKernels]] dHash, but any 64-bit fingerprint
    * (pHash, aHash, audio chromaprint block) rides the same index. The
    * hash splits into `nBands` contiguous equal-width bands; two hashes
    * within `maxHamming` differ in at most `maxHamming < nBands` bands, so
    * by PIGEONHOLE they agree on at least one band — the single-band
    * equi-join is a LOSSLESS candidate generator (the same theorem behind
    * [[simhashPairs]]' r-combination index, at its simplest setting), and
    * the exact `bit_count(xor)` filter on candidates makes the output the
    * exact thresholded pair set. Never all-pairs: candidate volume is
    * Σ_band Σ_key C(bucket, 2), bounded by the band-key collision profile.
    *
    * Rows with a null hash (undecodable payloads) are excluded — an
    * unfingerprintable asset matches nothing rather than everything.
    * Output: (doc_a, doc_b, hamming), doc_a < doc_b.
    */
  def hashBandPairs(
      hashed: DataFrame,
      maxHamming: Int = 3,
      nBands: Int = 4,
      idCol: String = "doc_id",
      hashCol: String = "dhash"): DataFrame = {
    require(maxHamming < nBands,
      s"need maxHamming ($maxHamming) < nBands ($nBands) for the pigeonhole guarantee")
    val idx = withHashBands(hashed.select(col(idCol), col(hashCol)), nBands, hashCol)
    idx.as("l").join(idx.as("r"), Seq("band", "bkey"))
      .where(col(s"l.$idCol") < col(s"r.$idCol"))
      .select(
        col(s"l.$idCol").as("doc_a"), col(s"r.$idCol").as("doc_b"),
        col(s"l.$hashCol").as("h_a"), col(s"r.$hashCol").as("h_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .where(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
  }

  /** Incremental ADMISSION against a perceptually-indexed corpus — the
    * [[incrementalDedupAgainstIndex]] discipline on the 64-bit
    * [[hashBandPairs]] index: a fresh asset is admitted iff NO
    * already-indexed asset and no EARLIER fresh asset (smaller id — the
    * same monotone within-batch rule the MinHash admission uses) lies
    * within `maxHamming`. Candidates come from the single-band equi-join
    * only (lossless for `maxHamming < nBands` by pigeonhole), so the cost
    * scales with the BATCH's band-bucket collisions, never the corpus.
    *
    * An undecodable fresh asset (null hash) is QUARANTINED — `admitted`
    * false with zero dups — not silently admitted: a pipeline that can't
    * fingerprint an asset must not vouch for its novelty. Null-hash
    * indexed rows block nothing (they match nothing).
    *
    * Output: one row per fresh asset — (idCol, n_dups, admitted).
    */
  def hashBandAdmit(
      indexed: DataFrame,
      fresh: DataFrame,
      maxHamming: Int = 3,
      nBands: Int = 4,
      idCol: String = "doc_id",
      hashCol: String = "dhash"): DataFrame = {
    require(maxHamming < nBands,
      s"need maxHamming ($maxHamming) < nBands ($nBands) for the pigeonhole guarantee")
    def banded(df: DataFrame): DataFrame =
      withHashBands(df.select(col(idCol), col(hashCol)), nBands, hashCol)
    val fb = banded(fresh)
    val probe = fb.select(
      col(idCol).as("f_id"), col(hashCol).as("f_hash"), col("band"), col("bkey"))
    val partner = banded(indexed)
      .select(col(idCol).as("p_id"), col(hashCol).as("p_hash"),
        lit(false).as("p_fresh"), col("band"), col("bkey"))
      .unionByName(fb.select(col(idCol).as("p_id"), col(hashCol).as("p_hash"),
        lit(true).as("p_fresh"), col("band"), col("bkey")))
    val dups = probe.join(partner, Seq("band", "bkey"))
      .where(!col("p_fresh") || col("p_id") < col("f_id"))
      .select(col("f_id"), col("f_hash"), col("p_id"), col("p_hash"))
      .distinct()
      .where(bit_count(col("f_hash").bitwiseXOR(col("p_hash"))) <= maxHamming)
      .groupBy(col("f_id")).agg(count(lit(1)).as("n_dups"))
    fresh.select(col(idCol), col(hashCol))
      .join(dups.withColumnRenamed("f_id", idCol), Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        (col(hashCol).isNotNull && coalesce(col("n_dups"), lit(0L)) === 0L).as("admitted"))
  }
}
