package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextKernels

/** Deterministic, engine-independent sampling/splitting — the reproducible
  * train/validation/test assignment a training-data pipeline needs.
  *
  * `df.sample()`/`sampleBy()` are seed-reproducible only within one Spark
  * version+partitioning (the RNG is per-partition, so a repartition changes
  * the sample), and no other engine can replay them. Hashing the KEY
  * instead gives a sample that is a pure function of the data: stable
  * across runs, partitionings, engines (DuckDB replays the same md5
  * arithmetic), and incremental loads — a document keeps its split forever,
  * the property that prevents train/test leakage when the corpus grows.
  * Map-side only; no shuffle, no RNG state.
  */
object Sampling {

  /** Uniform-ish value in [0, 1) from the md5 of the key's string form —
    * first 8 hex digits as a 32-bit integer over 2^32. ~Uniform because md5
    * bits are; deterministic because md5 is.
    */
  def hashUniform(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast("long") / lit(4294967296.0)

  /** Assign each row a split label by cumulative fraction thresholds over
    * [[hashUniform]] — e.g. `Seq("train" -> 0.8, "val" -> 0.1, "test" ->
    * 0.1)`. Fractions must sum to 1 (±1e-9); every row gets exactly one
    * label. A NULL key is rejected at runtime (`raise_error`): it has no
    * stable identity to hash, and silently lumping null-keyed rows into one
    * split would be exactly the hidden skew this operator exists to prevent.
    */
  def withHashSplit(
      df: DataFrame,
      keyCol: String,
      fractions: Seq[(String, Double)],
      splitCol: String = "split"): DataFrame = {
    require(fractions.nonEmpty, "need at least one split")
    require(fractions.forall(_._2 > 0),
      s"every fraction must be positive, got $fractions")
    require(math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      s"fractions must sum to 1, got ${fractions.map(_._2).sum}")
    require(!df.columns.contains(splitCol), s"input already has a $splitCol column")
    val u = hashUniform(col(keyCol))
    val cut = fractions.scanLeft(0.0)(_ + _._2).tail
    val label = fractions.zip(cut).init.foldRight(lit(fractions.last._1): Column) {
      case (((name, _), hi), rest) => when(u < hi, lit(name)).otherwise(rest)
    }
    df.withColumn(
      splitCol,
      when(col(keyCol).isNull,
        raise_error(lit(s"withHashSplit: NULL $keyCol — a null key has no stable split identity")))
        .otherwise(label))
  }

  /** Deterministic per-stratum downsampling — the corpus-MIXING step: keep a
    * row iff `hashUniform(key) < fraction(stratum)`, thinning
    * over-represented strata (a dominant language, a crawl domain) to target
    * rates while the rest pass through. Same identity guarantees as
    * [[withHashSplit]]: membership is a pure function of the key, stable
    * across runs, partitionings, engines, and corpus growth — and because
    * the threshold test is monotone in the fraction, raising a stratum's
    * rate only ADDS documents (nested samples), never reshuffles the kept
    * set. Map-side only (literal-map lookup + md5 compare); no shuffle, no
    * RNG. Strata absent from `fractions` (and NULL strata) keep
    * `defaultFraction`; NULL keys are rejected at runtime like
    * [[withHashSplit]].
    */
  /** Temperature-scaled mixture weights per stratum — the knob that decides
    * how much each source/domain/language contributes to a training mix
    * (upsampling the tail relative to raw proportions, the standard
    * multilingual/multi-domain recipe). Temperature is FIXED at α = 0.5,
    * computed as `sqrt(n_s / N)`: sqrt is correctly rounded under IEEE 754
    * so both engines produce the identical double, whereas a general
    * `pow(p, α)` is NOT portable across libm implementations — the repo's
    * cross-engine determinism discipline picks the portable special case.
    * Output is an integer propensity in parts-per-million (consumers
    * normalize across the strata they actually mix); all other columns are
    * exact integers.
    *
    * Scale shape: one partially-aggregated count per stratum (map-side
    * combine → ≤ strata rows per task), a 1-row scalar broadcast for the
    * total, and the arithmetic on strata-cardinality rows — nothing here
    * touches data volume again.
    */
  def mixtureWeights(
      docs: DataFrame,
      strataCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val per = docs
      .select(col(strataCol), size(TextAnalysis.tokens(col(textCol))).cast("long").as("nt"))
      .groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("total_tokens"))
    per.crossJoin(broadcast(tot))
      .select(
        col(strataCol), col("n_docs"), col("n_tokens"),
        floor(sqrt(col("n_tokens").cast("double") / col("total_tokens").cast("double"))
          * lit(1e6)).cast("long").as("weight_ppm"))
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
    * score every raw-corpus document by how much its hashed n-gram profile
    * looks drawn from a TARGET corpus (a curated high-quality seed set)
    * rather than from the raw pool — the principled replacement for
    * filtering on hand-written quality rules alone. Per bucket b of the
    * hashed n-gram space, the log-likelihood ratio
    * `λ_b = ln(p_target(b)) - ln(p_raw(b))` (add-1 smoothed); per doc, the
    * log importance weight is the sum of λ over its gram occurrences
    * (duplicates count — these are occurrence distributions). The paper
    * resamples with Gumbel noise; the deterministic variant here emits the
    * weight and a `selected = log_weight > 0` verdict ("more target-like
    * than raw-like"), leaving top-k/temperature choices to the caller —
    * no RNG, so the whole computation replays in the oracle.
    *
    * Determinism across engines: bucket counts are integers; each λ is
    * quantized to 6 decimals BEFORE the per-doc sum (the two `ln`s may
    * differ by 1 ulp between libms — absorbed), and the per-doc sum of
    * quantized λs re-quantized (absorbing partition-order float wiggle,
    * the kmeans/classifier trick).
    *
    * Scale shape: gram→bucket hashing is one codegen'd
    * [[TextKernels.OrderedGramHashes]] pass per side; the two
    * bucket-count aggregations partial-aggregate map-side (each task emits
    * at most `buckets` rows regardless of input); λ is a `buckets`-row
    * table broadcast into a map-side join; the only corpus-scale shuffle
    * is the per-doc weight sum. The raw seed stream is computed twice
    * (count pass + weight pass) — two map passes beat persisting a
    * corpus-token-scale frame.
    */
  def dsirWeights(
      raw: DataFrame,
      target: DataFrame,
      n: Int = 2,
      buckets: Int = 4096,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val (lam, _, _) = dsirLambda(raw, target, n, buckets, idCol, textCol)
    bucketSeeds(raw, n, buckets, idCol, textCol)
      .join(broadcast(lam), Seq("b"))
      .groupBy(col(idCol))
      .agg(round(sum(col("lam")), 6).as("log_weight"))
      .select(col(idCol), col("log_weight"), (col("log_weight") > 0).as("selected"))
  }

  private def bucketSeeds(
      d: DataFrame, n: Int, buckets: Int, idCol: String, textCol: String): DataFrame = {
    d.select(
      col(idCol),
      explode(
        TextKernels.orderedGramHashesCol(TextAnalysis.tokens(col(textCol)), n)).as("h"))
      .select(col(idCol), (col("h") % buckets).as("b"))
  }

  /** The fitted DSIR model itself: the per-bucket quantized log-likelihood
    * ratio table (`b`, `lam`) plus the two gram totals — what a pipeline
    * freezes after a fit and applies to later batches or an ingest stream.
    * Only buckets the raw pool touches appear; everything else takes the
    * zero-count default ratio (see [[dsirLambdaArray]]).
    */
  def dsirLambda(
      raw: DataFrame,
      target: DataFrame,
      n: Int = 2,
      buckets: Int = 4096,
      idCol: String = "doc_id",
      textCol: String = "text"): (DataFrame, Long, Long) = {
    require(n > 0, s"gram width must be positive, got $n")
    require(buckets > 1, s"need at least 2 buckets, got $buckets")
    // The bucket-count frames are <= `buckets` rows by construction, so
    // collect each ONCE and serve λ from local relations: the totals and
    // the λ join legs otherwise each re-ran a corpus tokenize pass (the
    // old shape tokenized raw twice and target twice per fit). Values are
    // unchanged — the λ expression below is the identical Spark round/log
    // arithmetic over the identical counts.
    val spark = raw.sparkSession
    import spark.implicits._
    val rawArr = bucketSeeds(raw, n, buckets, idCol, textCol)
      .groupBy(col("b")).agg(count(lit(1)).as("r"))
      .as[(Long, Long)].collect()
    val tgtArr = bucketSeeds(target, n, buckets, idCol, textCol)
      .groupBy(col("b")).agg(count(lit(1)).as("t"))
      .as[(Long, Long)].collect()
    val nR = rawArr.map(_._2).sum
    val nT = tgtArr.map(_._2).sum
    val lam = rawArr.toSeq.toDF("b", "r")
      .join(tgtArr.toSeq.toDF("b", "t"), Seq("b"), "left")
      .select(
        col("b"),
        round(
          log((coalesce(col("t"), lit(0L)) + lit(1L)).cast("double") /
            lit((nT + buckets).toDouble)) -
            log((col("r") + lit(1L)).cast("double") / lit((nR + buckets).toDouble)),
          6).as("lam"))
    (lam, nR, nT)
  }

  /** [[dsirLambda]] densified to one double per bucket — the form that rides
    * a scoring plan as a literal (32 KB at the 4096 default). Buckets the
    * raw fit never saw score the add-1 zero-count ratio, computed with the
    * SAME quantization as the in-plan λ (Spark `round` == BigDecimal
    * HALF_UP; `Math.log` is the identical JVM function either way), so a
    * corpus member scored through the array gets bitwise the
    * [[dsirWeights]] value.
    */
  def dsirLambdaArray(
      raw: DataFrame,
      target: DataFrame,
      n: Int = 2,
      buckets: Int = 4096,
      idCol: String = "doc_id",
      textCol: String = "text"): Array[Double] = {
    val (lam, nR, nT) = dsirLambda(raw, target, n, buckets, idCol, textCol)
    val default = BigDecimal(
      math.log(1.0 / (nT + buckets)) - math.log(1.0 / (nR + buckets)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val arr = Array.fill(buckets)(default)
    lam.collect().foreach(r => arr(r.getLong(0).toInt) = r.getDouble(1))
    arr
  }

  /** Exact-quota stratified sampling with a Neyman-style allocation: a
    * total `budget` of rows is split across strata proportionally to
    * `N_h * spread_h`, where `spread_h = max(value) - min(value) + 1` is an
    * integer dispersion proxy (true Neyman allocates by `N_h * σ_h`; the
    * range keeps the whole allocation in exact integer arithmetic so any
    * engine replays it bitwise — a stddev would drag the quota itself into
    * floating point). High-dispersion strata get more of the budget, the
    * variance-reduction idea; a constant stratum still has spread 1, so no
    * stratum starves to zero by rounding alone.
    *
    * Within each stratum the quota is filled by md5 rank — the same
    * stable-identity discipline as [[withHashSplit]]: a row's selection
    * survives repartitioning, engine changes, and corpus growth that
    * doesn't change the stratum's quota.
    *
    * The integer allocation is Hamilton's largest-remainder method: floor
    * quotas `budget * w_h div Σw`, then the leftover seats go one each to
    * the strata with the largest division remainders (ties to the smaller
    * stratum label), so the pre-cap quotas sum EXACTLY to `budget` — floor
    * division alone would strand up to S-1 budget rows. Each quota is then
    * capped at `N_h`; budget bound by a cap stays unspent (redistributing
    * it is an iterative fixpoint that buys little and costs the replay its
    * one-pass shape).
    *
    * Output, one row per stratum: population, spread, integer allocation,
    * the realized sample count, and `sum_key` — the integer sum of the
    * SELECTED keys, which hash-pins the exact membership of the sample
    * without materializing it. At scale: the stats pass is one
    * stratum-cardinality aggregate, the seat assignment a window over the
    * stratum-cardinality frame, the selection one `row_number` window
    * partitioned by stratum — nothing orders the data globally.
    */
  def neymanSample(
      df: DataFrame,
      keyCol: String,
      stratum: Column,
      value: Column,
      budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val base = df.select(
      col(keyCol).cast("long").as("k"), stratum.as("stratum"), value.cast("long").as("v"))
    val stats = base.groupBy(col("stratum"))
      .agg(
        count(lit(1)).as("n_pop"),
        (max(col("v")) - min(col("v")) + lit(1L)).as("spread"))
      .withColumn("w", col("n_pop") * col("spread"))
    val floors = stats
      .crossJoin(broadcast(stats.agg(sum(col("w")).as("w_total"))))
      .select(
        col("stratum"), col("n_pop"), col("spread"),
        expr(s"${budget}L * w div w_total").as("alloc0"),
        expr(s"(${budget}L * w) % w_total").as("rem"))
    val alloc = floors
      .withColumn("leftover", lit(budget) - sum(col("alloc0"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn(
        "seat",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("rem").desc, col("stratum"))))
      .select(
        col("stratum"), col("n_pop"), col("spread"),
        least(
          col("alloc0") + when(col("seat") <= col("leftover"), 1L).otherwise(0L),
          col("n_pop")).as("alloc"))
    val picked = base
      .withColumn(
        "rn",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("stratum"))
            .orderBy(md5(col("k").cast("string")), col("k"))))
      .join(broadcast(alloc.select(col("stratum"), col("alloc"))), Seq("stratum"))
      .where(col("rn") <= col("alloc"))
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("k")).as("sum_key"))
    alloc.join(picked, Seq("stratum"), "left_outer")
      .select(
        col("stratum"), col("n_pop"), col("spread"), col("alloc"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        coalesce(col("sum_key"), lit(0L)).as("sum_key"))
      .orderBy(col("stratum"))
  }

  /** 64-bit-ish deterministic integer hash of a string — first 8 hex digits
    * of the md5 as a BIGINT in [0, 2^32). The integer twin of
    * [[hashUniform]]: comparisons stay in exact integer space, so rankings
    * built on it are bit-identical across engines (no libm in sight).
    */
  def hashLong(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long")

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis, exact
    * integer form): draw `k` rows where a row with integer weight `w` wins
    * proportionally more often, and no row is drawn twice.
    *
    * E-S assigns each row priority `u^(1/w)` (u uniform) and keeps the
    * top-k. This implementation uses the DISTRIBUTIONAL identity
    * `max(u_1..u_w) ~ u^(1/w)` (the max of w iid uniforms has CDF `x^w`):
    * the priority is the MAX of `w` independent md5-derived hashes of
    * `key#1 .. key#w`. That keeps the whole ranking in exact integer
    * space — `u^(1/w)` needs `pow`, which is not correctly rounded and
    * therefore not portable across engines (the [[mixtureWeights]]
    * lesson), while integer max/compare is bit-exact everywhere, so the
    * selected SET replays exactly in DuckDB.
    *
    * Weights must be integers in `[1, maxWeight]` (runtime `raise_error`
    * otherwise): the per-row cost is `w` md5 calls, so the bound is the
    * compute contract — it is a LITERAL in the plan, not data-driven. For
    * unbounded continuous weights the `-ln(u)/w` exponential-race form is
    * the alternative, at the price of engine-portable exactness.
    *
    * Shape at scale: priority is map-side-only per-row arithmetic
    * (sequence → transform → array_max, all codegen'd builtins); the top-k
    * is `TakeOrdered`, which keeps k rows per partition and merges on the
    * driver — no global sort, no shuffle of the data. Output: `(k, wt,
    * priority)` best-first.
    */
  def weightedSample(
      df: DataFrame,
      keyCol: String,
      weight: Column,
      k: Int,
      maxWeight: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(maxWeight >= 1 && maxWeight <= 64,
      s"maxWeight must be in [1, 64] (it is the per-row md5 budget), got $maxWeight")
    val wt = when(
      weight.isNull || weight =!= weight.cast("long") ||
        weight < 1 || weight > maxWeight,
      raise_error(concat(
        lit(s"weightedSample: weight must be an integer in [1, $maxWeight], got "),
        weight.cast("string"))))
      .otherwise(weight.cast("long"))
    val key = when(col(keyCol).isNull,
      raise_error(lit(s"weightedSample: NULL $keyCol — a null key has no stable identity")))
      .otherwise(col(keyCol))
    val hashes = transform(
      sequence(lit(1L), wt),
      c => hashLong(concat(key.cast("string"), lit("#"), c.cast("string"))))
    df.select(
      key.as("k"),
      wt.as("wt"),
      array_max(hashes).as("priority"))
      .orderBy(col("priority").desc, col("k"))
      .limit(k)
  }

  /** Bounded per-stratum uniform sample: `k` rows from EVERY group in one
    * aggregate pass, selected by md5-hash rank — the "show me k example
    * documents per source/language/domain" primitive.
    *
    * The window idiom (`row_number() OVER (PARTITION BY g ORDER BY hash)`
    * then `rank <= k`) shuffles every row to its group and sorts whole
    * groups before discarding all but k. This routes through the mergeable
    * bounded [[graft.functions.TopKAgg]] instead: each map partition
    * combines down to ≤ k candidates per group BEFORE the exchange, so the
    * shuffle carries `O(k · partitions)` rows per group regardless of group
    * size and the plan has no sort node — the same reason
    * `top_tokens_grouped` uses it. Selection is `(hash DESC, key-string
    * ASC)`, deterministic and engine-replayable. Output: `(stratum, rank,
    * k, priority)`, rank 1-based best-first.
    */
  def perKeySample(df: DataFrame, stratum: Column, keyCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    df
      .select(stratum.as("stratum"), col(keyCol).cast("string").as("ks"))
      .groupBy(col("stratum"))
      .agg(graft.functions.TopKFunctions.topK(
        col("ks"), hashLong(col("ks")), k).as("top"))
      .select(col("stratum"), posexplode(col("top")))
      .select(
        col("stratum"),
        (col("pos") + 1).cast("long").as("rank"),
        col("col.item").cast("long").as("k"),
        col("col.score").as("priority"))
      .orderBy(col("stratum"), col("rank"))
  }

  def hashSampleByStratum(
      df: DataFrame,
      keyCol: String,
      stratum: Column,
      fractions: Map[String, Double],
      defaultFraction: Double = 1.0): DataFrame = {
    require(fractions.nonEmpty, "need at least one stratum fraction")
    require((defaultFraction +: fractions.values.toList).forall(f => f >= 0.0 && f <= 1.0),
      s"fractions must lie in [0, 1], got $fractions (default $defaultFraction)")
    val lookup = map(
      fractions.toSeq.sorted.flatMap { case (k, f) => Seq(lit(k), lit(f)) }: _*)
    val frac = coalesce(element_at(lookup, stratum.cast("string")), lit(defaultFraction))
    df.where(
      when(col(keyCol).isNull,
        raise_error(lit(s"hashSampleByStratum: NULL $keyCol — a null key has no stable identity")))
        .otherwise(hashUniform(col(keyCol)) < frac))
  }

  /** GROUP-AWARE K-FOLD assignment — the cross-validation split a
    * grouped dataset needs: every row of one GROUP (a user, a document
    * family, a session) lands in the SAME fold, or train/validation
    * leakage makes every score optimistic. Folds are EXACTLY balanced by
    * group count (not merely hash-expected): groups rank by a seeded
    * hash (ties by group key — a total order) and fold = (rank−1) mod k,
    * so fold sizes differ by at most one group. One group-keyed
    * aggregation plus one broadcast-back join of the (group, fold)
    * frame; ranking shuffles group-count rows, never data rows.
    *
    * Output: the input plus a `fold` column in [0, k).
    */
  def groupKFold(
      df: DataFrame,
      groupCol: Column,
      k: Int,
      seed: String): DataFrame = {
    require(k >= 2, s"groupKFold: k must be >= 2, got $k")
    import org.apache.spark.sql.expressions.Window
    // a NULL group key has no stable identity to keep together, and
    // silently dropping its rows (the r11 behavior: nulls fell out of
    // the group list, then out of the inner join) contradicts "the input
    // plus a fold column" — refuse loudly, the hashSampleByStratum
    // discipline
    val keyed = df.withColumn("__g",
      when(groupCol.isNull,
        raise_error(lit("groupKFold: NULL group key — a null group has no " +
          "stable identity to hold in one fold; filter or impute first")))
        .otherwise(groupCol.cast("string")))
    val groups = keyed.select(col("__g")).distinct()
      .withColumn("__h", hashLong(concat_ws("|", lit(seed), col("__g"))))
    val ranked = groups.withColumn("fold",
      (row_number().over(Window.orderBy(col("__h"), col("__g"))) - 1) % k)
      .select(col("__g"), col("fold").cast("int").as("fold"))
    keyed.join(broadcast(ranked), Seq("__g"))
      .drop("__g")
  }

  /** LEAVE-ONE-OUT TARGET ENCODING with additive smoothing — the
    * feature-engineering staple whose naive form LEAKS the label: a
    * category's encoding for row i must exclude row i's own target, or
    * the encoded feature memorizes the label and validation collapses.
    * enc_i = (Σ_category − y_i + m·prior) / (n_category − 1 + m), all
    * numerators exact integers (targets ride as longs; `prior` is the
    * GLOBAL integer mean carried as an exact (sum, count) pair scaled by
    * m) until ONE final double division rounded to 6 — both engines
    * agree bitwise. Singleton categories fall back to the smoothed
    * prior (n−1 = 0 contributes nothing). ONE category-keyed window pass
    * (sum + count per category), no self-join.
    */
  def targetEncodeLoo(
      df: DataFrame,
      categoryCol: Column,
      targetCol: Column,
      m: Int = 20): DataFrame = {
    require(m >= 1, s"targetEncodeLoo: smoothing m must be >= 1, got $m")
    import org.apache.spark.sql.expressions.Window
    val base = df.withColumn("__y", targetCol.cast("long"))
      .withColumn("__cat", categoryCol.cast("string"))
    val wCat = Window.partitionBy(col("__cat"))
    val wAll = Window.partitionBy()
    // prior as an exact rational (gSum / gN); numerator scaled by gN so
    // everything stays integer: enc = ((catSum - y)·gN + m·gSum) /
    //                                 ((catN - 1 + m)·gN)
    base
      .withColumn("__cs", sum(col("__y")).over(wCat))
      .withColumn("__cn", count(lit(1)).over(wCat))
      .withColumn("__gs", sum(col("__y")).over(wAll))
      .withColumn("__gn", count(lit(1)).over(wAll))
      .withColumn("te_loo",
        round(((col("__cs") - col("__y")) * col("__gn") + lit(m.toLong) * col("__gs"))
          .cast("double") /
          ((col("__cn") - 1L + m.toLong) * col("__gn")).cast("double"), 6))
      .drop("__y", "__cs", "__cn", "__gs", "__gn")
  }
}
