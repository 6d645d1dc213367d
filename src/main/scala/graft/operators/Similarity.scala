package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.VectorFunctions

/** Vector similarity search over an embedding column (`array<float>`).
  *
  * Brute-force cosine top-k is the exact baseline (O(Q·N) — fine when the
  * query set is small or as the per-bucket step); the LSH bucketed variants
  * are the 100 TB path: deterministic random-hyperplane signs bucket the
  * corpus so candidate generation is an equi-join, never a cross join.
  *
  * All per-pair math runs through the codegen'd [[VectorFunctions.DotProduct]]
  * expression (the r1 interpreted `aggregate(zip_with(...))` chain was the
  * 85%-of-bench hotspot), and every vector's norm is computed ONCE map-side —
  * per-pair work is exactly one primitive dot-product loop.
  *
  * Honest scale note on thresholds: random-hyperplane LSH enrichment depends
  * on the angle margin (collision prob per bit is `1 - θ/π`, Charikar '02).
  * At cosine ≥ 0.9 the banded index prunes aggressively; at a loose 0.4 on
  * near-isotropic vectors no sublinear method separates well — the banded
  * variant still bounds the candidate set and documents its recall, which is
  * the standard production trade (SemDeDup-style pipelines).
  */
object Similarity {

  /** Banded near-dup LSH defaults — single source of truth shared with the
    * DuckDB oracle strings (QueriesLlm interpolates THESE values, so a
    * parameter change cannot silently desynchronize oracle from engine).
    */
  val NearDupBands = 24
  val NearDupPlanesPerBand = 3

  /** Hyperplane dimensionality of the fixture embeddings. Every bucketing
    * operator takes `dim` (defaulted to this); a corpus whose vectors don't
    * match it fails LOUDLY — [[graft.functions.DotProduct]] throws on
    * mismatched lengths rather than truncating the projection.
    */
  val DefaultDim = 64

  /** Left-to-right dot product of two double arrays — codegen'd native
    * expression; identical accumulation order to the SQL oracle's list_sum
    * over an index comprehension.
    */
  def dot(a: Column, b: Column): Column = VectorFunctions.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private def asDouble(a: Column): Column = transform(a, _.cast("double"))

  /** (id-as-`alias`, `v` double vector, `nrm` norm) — norm computed once
    * map-side so pairwise cosine needs only one dot product per pair.
    */
  private def withNorm(vectors: DataFrame, idCol: String, vecCol: String, alias: String): DataFrame =
    vectors
      .select(col(idCol).as(alias), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  /** Exact top-k cosine neighbors for each query vector (self excluded).
    * Output: (query_id, neighbor_id, cosine, rank), rank 1..k, deterministic
    * tie-break on neighbor id.
    */
  def bruteForceKnn(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = withNorm(queries, idCol, vecCol, "query_id")
      .select(col("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val c = withNorm(corpus, idCol, vecCol, "neighbor_id")
      .select(col("neighbor_id"), col("v").as("cv"), col("nrm").as("cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    // small query set → broadcast; every corpus partition scans independently
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(
        col("query_id"), col("neighbor_id"),
        round(col("cos"), 6).as("cosine"), col("rank").cast("long").as("rank"))
  }

  /** Self-validating ANN recall: append `n_hit` (how many of THIS query's
    * ANN neighbors appear in the EXACT brute-force top-k), `pool_hits`
    * (the sum over the whole query set — the numerator of the standard
    * mean-recall@k eval number), and `recall_ok`
    * (`pool_hits >= minPoolHits`) columns to an approximate KNN result —
    * the recall a real pipeline tunes its `nProbes`/band settings against,
    * emitted as oracle-assertable columns in the result itself (the
    * approx-WAU `wauValidated` discipline: the quality claim rides the
    * row and the oracle hashes it). The floor is POOL-level on purpose:
    * per-query recall at default settings is high-variance (a single
    * query whose true neighbors straddle a cell boundary scores 0 even
    * when the method is healthy); the pool total is the tuning signal.
    *
    * Scale shape: recall is always measured against a QUERY SAMPLE — the
    * query side is the same KB-scale broadcast the ANN search itself uses,
    * so the exact pool costs one extra corpus scan (the knn_brute_cosine
    * shape), the standard eval-harness overhead; the k·|queries|-row exact
    * pool and the per-query hit counts are broadcast one-row/KB-scale
    * frames. `minPoolHits` is FIXTURE-PINNED: recall at default probe
    * settings is a property of the data distribution, so a floor
    * violation after a fixture/SF change means re-derive the floor (or
    * raise the probe setting), while a violation on unchanged data is a
    * real regression in the bucketing/probing code.
    *
    * Both rankers break ties on neighbor id, so every column is
    * deterministic and the DuckDB oracle replays it exactly.
    */
  def withRecall(
      ann: DataFrame,
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      minPoolHits: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(minPoolHits >= 0, s"need minPoolHits >= 0, got $minPoolHits")
    val exact = bruteForceKnn(queries, corpus, k, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
    val hits = ann
      .join(broadcast(exact), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
    val pool = hits.agg(sum(col("n_hit")).as("pool_hits"))
    ann
      .join(broadcast(hits), "query_id")
      .crossJoin(broadcast(pool))
      .withColumn("recall_ok", col("pool_hits") >= minPoolHits)
  }

  /** Per-label embedding centroids in ONE aggregation pass via the
    * [[graft.functions.VectorSumAgg]] custom aggregate: the map-side partial
    * per (task, label) is a single dim-length buffer and the shuffle carries
    * `8·dim` bytes per group — against the only built-in route (posexplode →
    * n·dim rows shuffled → per-(label, position) agg → re-collect), a 64×
    * row reduction on 64-dim vectors. At 100 TB this is the difference
    * between a label-count-sized shuffle and re-shuffling the corpus.
    *
    * Output: (labelCol, centroid array<double>, n). Groups whose vectors are
    * all null get a null centroid (the aggregate's contract).
    */
  def labelCentroids(
      vectors: DataFrame,
      labelCol: String = "label",
      vecCol: String = "embedding"): DataFrame = {
    vectors.groupBy(col(labelCol))
      .agg(
        VectorFunctions.vecSum(asDouble(col(vecCol))).as("vsum"),
        count(col(vecCol)).as("n"))
      .select(
        col(labelCol),
        transform(col("vsum"), x => x / col("n")).as("centroid"),
        col("n"))
  }

  /** Nearest-centroid assignment (one k-means E-step / cluster-quality
    * audit): every vector against every label centroid, keep the best by
    * cosine. The centroid side is tiny (one row per label) and BROADCAST —
    * per-vector cost is `|labels|` codegen'd dot products, map-side, no
    * shuffle of the corpus. Deterministic tie-break on centroid label keeps
    * it oracle-replayable.
    *
    * Output: (idCol, labelCol, assigned_label, cosine, is_own) — `is_own`
    * flags vectors whose nearest centroid is their own label's (its
    * complement is the cluster-confusion set SemDeDup-style pipelines
    * inspect).
    */
  def centroidAssign(
      vectors: DataFrame,
      centroids: DataFrame,
      idCol: String = "vec_id",
      labelCol: String = "label",
      vecCol: String = "embedding"): DataFrame = {
    val v = vectors
      .select(col(idCol), col(labelCol), asDouble(col(vecCol)).as("v"))
      .withColumn("vn", sqrt(dot(col("v"), col("v"))))
    val c = centroids
      .select(col(labelCol).as("c_label"), col("centroid").as("cv"))
      .withColumn("cn", sqrt(dot(col("cv"), col("cv"))))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("cos").desc, col("c_label"))
    v.join(broadcast(c))
      .withColumn("cos", dot(col("v"), col("cv")) / (col("vn") * col("cn")))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") === 1)
      .select(
        col(idCol), col(labelCol),
        col("c_label").as("assigned_label"),
        round(col("cos"), 6).as("cosine"),
        (col(labelCol) === col("c_label")).cast("int").as("is_own"))
  }

  /** Hard-negative mining for contrastive training: each query's top-k most
    * similar vectors whose label DIFFERS from the query's — the examples a
    * retrieval/embedding model most needs to learn to push apart. Same
    * broadcast + codegen'd-dot plan as [[bruteForceKnn]] with the label
    * anti-predicate fused into the join condition, so excluded pairs never
    * materialize.
    */
  def hardNegatives(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      labelCol: String = "label",
      vecCol: String = "embedding"): DataFrame = {
    val q = queries
      .select(col(idCol).as("query_id"), col(labelCol).as("query_label"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", sqrt(dot(col("qv"), col("qv"))))
    val c = corpus
      .select(col(idCol).as("neighbor_id"), col(labelCol).as("neighbor_label"), asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", sqrt(dot(col("cv"), col("cv"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    c.join(broadcast(q), col("query_label") =!= col("neighbor_label"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(
        col("query_id"), col("query_label"), col("neighbor_id"), col("neighbor_label"),
        round(col("cos"), 6).as("cosine"), col("rank").cast("long").as("rank"))
  }

  /** Deterministic spherical k-means (Dhillon & Modha, Machine Learning 42,
    * 2001): Lloyd's loop specialized to cosine similarity — assign each
    * vector to its highest-cosine centroid, recompute each centroid as the
    * mean of its members' UNIT vectors (the direction maximizing the summed
    * cosine, so the objective is non-decreasing per iteration; SimilaritySpec
    * pins that). Fixed iteration count, no data-dependent stopping — the
    * standard clustering step between embedding and semantic dedup in
    * SemDeDup-style pipelines.
    *
    * Everything is engine-replayable, which is what makes the DuckDB oracle
    * possible for an iterative algorithm:
    *  - seeds are the first `k` vectors in `(md5(id), id)` order — a pure
    *    function of the data, no RNG;
    *  - each M-step ROUNDS centroid components to 6 decimals: float sums are
    *    order-sensitive in the last ulps and the two engines aggregate groups
    *    in different row orders, so without the per-iteration quantization
    *    the ~1e-15 drift would compound across iterations into divergent
    *    assignments. At 1e-6 granularity both engines land on the same
    *    rounded centroid, and every downstream cosine is then bitwise
    *    identical (same left-to-right dot order);
    *  - assignment ties break toward the smallest cluster id.
    *
    * Scale shape per iteration: the E-step is one map-side pass — centroids
    * live in the PLAN as literals (k·dim doubles), per-row cost is k
    * codegen'd dots staged as real columns before a when-chain argmax (the
    * lang_id pattern) — and the M-step is one [[graft.functions.VectorSumAgg]]
    * aggregation shuffling 8·dim bytes per cluster. The driver touches k
    * rows per iteration (the collected centroids), never the corpus; an
    * empty cluster simply drops out (k shrinks, documented spherical-k-means
    * behavior).
    *
    * Output: (idCol, cluster, cosine) — final assignment, cosine rounded to
    * 6 decimals.
    */
  def kmeans(
      vectors: DataFrame,
      k: Int,
      iters: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    kmeansFit(vectors, k, iters, idCol, vecCol)._1

  /** (`idCol`, unit-normalized `v`, its norm `vn`) — the shared working-set
    * shape of [[kmeansFit]] and the [[ivfKnn]] query assignment; both sides
    * must build it with the SAME expressions so an external query assigns
    * bitwise like a corpus member would.
    */
  private[graft] def unitized(vectors: DataFrame, idCol: String, vecCol: String): DataFrame =
    vectors
      .select(col(idCol), asDouble(col(vecCol)).as("raw"))
      .withColumn("rn", norm(col("raw")))
      .where(col("rn") > 0) // zero vectors have no direction: excluded
      .select(col(idCol), transform(col("raw"), x => x / col("rn")).as("v"))
      .withColumn("vn", norm(col("v")))

  /** E-step over a [[unitized]] frame: adds `cluster` (best cosine,
    * smallest-cell tie-break) and `cos`. Centroids ride as plan literals.
    */
  private[graft] def assignCells(df: DataFrame, cents: Seq[(Long, Array[Double])]): DataFrame = {
    val withCos = cents.foldLeft(df) { case (d, (cid, cv)) =>
      val cn = math.sqrt(cv.foldLeft(0.0)((acc, x) => acc + x * x))
      d.withColumn(s"cos_$cid", dot(col("v"), typedLit(cv)) / (col("vn") * lit(cn)))
    }
    val best = cents.map { case (cid, _) => col(s"cos_$cid") } match {
      case Seq(only) => only
      case cs => greatest(cs: _*)
    }
    // first equal cosine in ascending-cid order wins: the smallest-id tie-break
    val cluster = cents.map(_._1).sorted.foldRight(lit(-1L)) { (cid, rest) =>
      when(col(s"cos_$cid") === best, lit(cid)).otherwise(rest)
    }
    withCos.withColumn("cluster", cluster).withColumn("cos", best)
  }

  /** [[kmeans]] returning BOTH the assignment and the fitted (rounded)
    * centroids — consumers like [[ivfKnn]] need the centroids to assign
    * vectors that were not part of the fit.
    */
  def kmeansFit(
      vectors: DataFrame,
      k: Int,
      iters: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): (DataFrame, Seq[(Long, Array[Double])]) = {
    require(k > 0, s"k must be positive, got $k")
    require(iters > 0, s"iters must be positive, got $iters")
    // Centroids ride in the E-step plan as array LITERALS (k·dim doubles per
    // plan), so very large k inflates every iteration's plan and codegen.
    // 4096 · dim=64 doubles ≈ 2 MB of literals — already generous; beyond
    // that an IVF/coreset pre-pass is the right tool, not bigger plans.
    require(k <= 4096, s"k=$k exceeds the plan-literal budget (centroids are plan literals; use a coarse pre-clustering for larger k)")
    // The working set is consumed by the seed collect, `iters` M-step
    // aggregations, and the final assignment (iters + 2 passes). Persist it
    // once — at 100 TB recomputing normalize+filter per iteration would be
    // the dominant cost (MLlib's KMeans caches its norm-augmented input the
    // same way).
    val unit = unitized(vectors, idCol, vecCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // k seed rows in (md5(id), id) order: TakeOrderedAndProject, no full sort
    var centroids: Seq[(Long, Array[Double])] = unit
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(k)
      .select(col("v"))
      .collect()
      .zipWithIndex
      .map { case (r, i) => i.toLong -> r.getSeq[Double](0).toArray }
      .toSeq
    require(centroids.nonEmpty, "kmeans: no nonzero-norm vectors to seed from")

    try {
      (1 to iters).foreach { i =>
        val mStep = assignCells(unit, centroids)
          .groupBy(col("cluster"))
          .agg(VectorFunctions.vecSum(col("v")).as("vsum"), count(lit(1)).as("n"))
          .select(col("cluster"), transform(col("vsum"), x => round(x / col("n"), 6)).as("c"))
        centroids = mStep
          .collect()
          .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
          .toSeq
          // A centroid whose every component quantizes to 0.0 has no
          // direction: its cosine would be NaN, and NaN compares greater-than
          // under Spark's ordering, so every row would silently land there.
          // Drop it like an empty cluster (k shrinks).
          .filter { case (_, c) => c.exists(_ != 0.0) }
          .sortBy(_._1)
      }
      require(centroids.nonEmpty, "kmeans: all centroids degenerated to zero")
      (assignCells(unit, centroids)
        .select(col(idCol), col("cluster"), round(col("cos"), 6).as("cosine")),
        centroids)
    } finally {
      // MLlib semantics: the cache serves the seed collect + `iters` M-steps;
      // the returned (lazy) assignment recomputes its one pass at consumption.
      unit.unpersist(blocking = false)
    }
  }

  /** True-IVF approximate KNN: the coarse quantizer is LEARNED — the
    * deterministic spherical [[kmeans]]' cells — rather than [[lshKnn]]'s
    * random hyperplanes (FAISS's IVF-flat shape: k-means coarse quantizer,
    * exact scan inside the probed list). Default single-probe: each query
    * scans exactly the corpus cell its vector assigns to, with the
    * assignment built from the SAME normalized pipeline and rounded
    * centroids as the fit, so a query that is also a corpus member lands
    * in its fitted cell bitwise; `nProbes > 1` scans the nProbes
    * nearest-centroid cells (the standard IVF recall knob — at
    * `nProbes = cells` the search becomes exact brute force, the law
    * SimilaritySpec pins). Ranking inside the probed set is the exact
    * raw-vector cosine.
    * Approximate by construction — neighbors across a cell boundary are the
    * recall trade, measured against [[bruteForceKnn]] in SimilaritySpec.
    * Zero-norm queries have no direction and are dropped, like the fit
    * drops zero-norm corpus vectors.
    *
    * Scale shape: the fit touches the corpus `iters + 2` times (see
    * [[kmeansFit]]); the search is one broadcast of the assigned queries
    * against the cell-partitioned corpus — an equi-join on the cell id,
    * never all-pairs.
    */
  def ivfKnn(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      cells: Int,
      iters: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      nProbes: Int = 1): DataFrame = {
    require(nProbes >= 1, s"nProbes must be >= 1, got $nProbes")
    val (corpusAssign, cents) = kmeansFit(corpus, cells, iters, idCol, vecCol)
    ivfProbe(queries, corpus, corpusAssign, cents, k, nProbes, idCol, vecCol)
  }

  /** Probe core shared by [[ivfKnn]] (fresh fit) and [[ivfKnnPersisted]]
    * (stored index): assign queries to their `nProbes` nearest cells from
    * the given centroids, equi-join against the cell-partitioned corpus
    * assignment, exact raw-vector cosine rank within the probed set.
    */
  private def ivfProbe(
      queries: DataFrame,
      corpus: DataFrame,
      corpusAssign: DataFrame,
      cents: Seq[(Long, Array[Double])],
      k: Int,
      nProbes: Int,
      idCol: String,
      vecCol: String): DataFrame = {
    // nProbes > 1 is the standard IVF recall knob: scan the nProbes cells
    // whose centroids are nearest the query (cos DESC, smallest cell id on
    // ties — encoded as an ascending sort on struct(-cos, cell)). A corpus
    // vector lives in exactly one cell, so probe expansion cannot duplicate
    // a (query, neighbor) pair. nProbes = 1 keeps the argmax path whose
    // assignment is bitwise the fit's own (knn_ivf_cosine's oracle contract).
    val probed =
      if (nProbes == 1)
        assignCells(unitized(queries, idCol, vecCol), cents)
          .select(col(idCol).as("query_id"), col("cluster"))
      else {
        val withCos = assignCells(unitized(queries, idCol, vecCol), cents)
        val ranked = sort_array(array(cents.map { case (cid, _) =>
          struct((-col(s"cos_$cid")).as("neg"), lit(cid).as("cell"))
        }: _*))
        withCos
          .select(col(idCol).as("query_id"),
            explode(slice(transform(ranked, s => s.getField("cell")), 1, nProbes)).as("cluster"))
      }
    val qAssigned = probed
      .join(queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv")), "query_id")
      .withColumn("qn", sqrt(dot(col("qv"), col("qv"))))
    val cell = corpusAssign.select(col(idCol).as("neighbor_id"), col("cluster"))
      .join(corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv")), "neighbor_id")
      .withColumn("cn", sqrt(dot(col("cv"), col("cv"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cell.join(broadcast(qAssigned), Seq("cluster"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(
        col("query_id"), col("neighbor_id"),
        round(col("cos"), 6).as("cosine"), col("rank").cast("long").as("rank"))
  }

  /** PERSIST the IVF index: a real pipeline trains the coarse quantizer
    * ONCE and probes a stored index for every query batch — re-fitting
    * k-means inside each search would charge every batch the `iters + 2`
    * corpus passes of [[kmeansFit]]. Three parquet tables under
    * `indexPath`:
    *
    *  - `centroids/` — (cluster, c: array&lt;double&gt;), the fitted ROUNDED
    *    centroids (k rows; doubles round-trip parquet exactly, so a stored
    *    probe assigns bitwise like the fit);
    *  - `assignments/` — (id, cluster, cosine), one row per corpus vector;
    *  - `meta/` — one geometry row (cells, iters, dim, n_centroids): the
    *    [[graft.operators.Dedup.incrementalDedupAgainstIndex]]
    *    band-metadata discipline — a probe against an index built with
    *    DIFFERENT geometry must fail loudly, not return silently-wrong
    *    neighbors.
    */
  def ivfIndexWrite(
      corpus: DataFrame,
      cells: Int,
      iters: Int,
      indexPath: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (assign, cents) = kmeansFit(corpus, cells, iters, idCol, vecCol)
    assign.write.mode("overwrite").parquet(s"$indexPath/assignments")
    cents.map { case (cid, c) => (cid, c.toSeq) }.toDF("cluster", "c")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/centroids")
    // Fit-time assignment-quality baseline for [[ivfIndexAppend]]'s drift
    // gate, aggregated from the parquet just written (a columnar re-read of
    // one column, not a recompute of the assignment pass).
    val fit = spark.read.parquet(s"$indexPath/assignments")
      .agg(count(lit(1)), avg(col("cosine"))).head()
    Seq((cells, iters, cents.head._2.length, cents.length,
        0L, fit.getLong(0), fit.getDouble(1)))
      .toDF("cells", "iters", "dim", "n_centroids",
        "version", "n_vectors", "mean_cos_fit")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/meta")
  }

  /** Load + cross-verify a stored IVF index's geometry — the shared guard
    * of [[ivfKnnPersisted]] and [[ivfIndexAppend]]: mismatched
    * `cells`/`iters` or an internally inconsistent index (centroid count,
    * dimensionality) must fail loudly, never probe silently wrong.
    * Returns (meta row, centroids sorted by cell id).
    */
  private def loadVerifiedIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      cells: Int,
      iters: Int): (org.apache.spark.sql.Row, Seq[(Long, Array[Double])]) = {
    val meta = spark.read.parquet(s"$indexPath/meta").head()
    require(meta.getAs[Int]("cells") == cells && meta.getAs[Int]("iters") == iters,
      s"index at $indexPath was built with cells=${meta.getAs[Int]("cells")}, " +
        s"iters=${meta.getAs[Int]("iters")} but the caller expects cells=$cells, iters=$iters")
    val cents = spark.read.parquet(s"$indexPath/centroids")
      .collect()
      .map(r => r.getAs[Long]("cluster") -> r.getSeq[Double](r.fieldIndex("c")).toArray)
      .toSeq.sortBy(_._1)
    require(cents.length == meta.getAs[Int]("n_centroids"),
      s"index at $indexPath is inconsistent: ${cents.length} centroids stored, " +
        s"meta says ${meta.getAs[Int]("n_centroids")}")
    require(cents.forall(_._2.length == meta.getAs[Int]("dim")),
      s"index at $indexPath is inconsistent: centroid dims differ from meta dim")
    (meta, cents)
  }

  /** Incrementally maintain a PERSISTED IVF index ([[ivfIndexWrite]]):
    * assign a NEW ingest batch against the STORED (frozen) centroids and
    * append only its assignment rows — the `dedup_incremental` admission
    * discipline applied to the vector index. Cost scales with the BATCH
    * (one [[assignCells]] pass over the new vectors plus a k-row centroid
    * load), never with the indexed corpus; a full [[ivfIndexWrite]] re-fit
    * would charge every ingest batch the `iters + 2` corpus passes of
    * [[kmeansFit]].
    *
    * EQUIVALENCE LAW (SimilaritySpec pins it): [[assignCells]] is a pure
    * function of the stored rounded centroids, so write(A) then append(B)
    * leaves `assignments/` set-equal to assigning A∪B against A's
    * centroids in one shot — a probe of the appended index is therefore
    * bitwise a probe of that frozen-quantizer index at any probe count.
    *
    * What append deliberately does NOT do is move centroids: distribution
    * DRIFT degrades cell balance and recall over many appends. The
    * returned one-row report carries the drift signal — the batch's mean
    * cosine-to-assigned-centroid against the fit-time baseline stored in
    * meta — and flags `refit_recommended` when the batch assigns more than
    * `driftTol` worse than the fit; the caller then schedules a re-fit
    * (the k-means analog of the MinHash band index's re-band decision).
    *
    * Appended ids must be DISJOINT from the indexed ids: a re-ingested id
    * would duplicate in every later probe, so the overlap fails loudly
    * (dedup the batch first — [[graft.operators.Dedup]] is the tool).
    * The meta `version` bumps and `n_vectors` grows so concurrent readers
    * can tell index generations apart; commit-level atomicity between the
    * two table writes is [[graft.sources.SnapshotLog]]'s job when the
    * index lives under a managed table root.
    */
  def ivfIndexAppend(
      newBatch: DataFrame,
      indexPath: String,
      cells: Int,
      iters: Int,
      driftTol: Double = 0.05,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(driftTol > 0, s"driftTol must be positive, got $driftTol")
    val spark = newBatch.sparkSession
    import spark.implicits._
    val (meta, cents) = loadVerifiedIndex(spark, indexPath, cells, iters)
    val indexed = spark.read.parquet(s"$indexPath/assignments")
    val overlap = newBatch.select(col(idCol))
      .join(indexed.select(col(idCol)), Seq(idCol), "left_semi")
      .limit(1).count()
    require(overlap == 0L,
      s"ivfIndexAppend: new batch shares ids with the index at $indexPath — " +
        "already-indexed vectors would duplicate in every probe; dedup the batch first")
    val assigned = assignCells(unitized(newBatch, idCol, vecCol), cents)
      .select(col(idCol), col("cluster"), round(col("cos"), 6).as("cosine"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (nNew, batchMeanCos) =
      try {
        assigned.write.mode("append").parquet(s"$indexPath/assignments")
        val st = assigned.agg(count(lit(1)), avg(col("cosine"))).head()
        require(st.getLong(0) > 0,
          "ivfIndexAppend: new batch contributed no nonzero-norm vectors")
        (st.getLong(0), st.getDouble(1))
      } finally assigned.unpersist(blocking = false)
    val nTotal = meta.getAs[Long]("n_vectors") + nNew
    val fitMeanCos = meta.getAs[Double]("mean_cos_fit")
    val version = meta.getAs[Long]("version") + 1L
    Seq((cells, iters, meta.getAs[Int]("dim"), cents.length,
        version, nTotal, fitMeanCos))
      .toDF("cells", "iters", "dim", "n_centroids",
        "version", "n_vectors", "mean_cos_fit")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/meta")
    Seq((version, nTotal, nNew,
        math.rint(fitMeanCos * 1e6) / 1e6, math.rint(batchMeanCos * 1e6) / 1e6,
        batchMeanCos < fitMeanCos - driftTol))
      .toDF("version", "n_indexed", "n_appended",
        "mean_cos_fit", "mean_cos_batch", "refit_recommended")
  }

  /** IVF search against a STORED index ([[ivfIndexWrite]]): no re-fit — the
    * centroids load as k rows (bounded model fetch), the corpus assignment
    * streams from its table, and the probe is the same cell equi-join as
    * [[ivfKnn]]. Geometry is re-verified against the meta row before any
    * work: mismatched `cells`/`iters` or an internally inconsistent index
    * (centroid count, dimensionality) fails loudly.
    */
  def ivfKnnPersisted(
      queries: DataFrame,
      corpus: DataFrame,
      indexPath: String,
      k: Int,
      cells: Int,
      iters: Int,
      nProbes: Int = 1,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(nProbes >= 1, s"nProbes must be >= 1, got $nProbes")
    val spark = queries.sparkSession
    val (_, cents) = loadVerifiedIndex(spark, indexPath, cells, iters)
    val corpusAssign = spark.read.parquet(s"$indexPath/assignments")
    ivfProbe(queries, corpus, corpusAssign, cents, k, nProbes, idCol, vecCol)
  }

  /** [[ivfIndexWrite]] with the ASSIGNMENTS table managed by a
    * [[graft.sources.SnapshotLog]] — index GENERATIONS become snapshots:
    * the initial fit commits as one atomic manifest version, every
    * [[ivfIndexAppendSnapshot]] batch commits as the next, and a probe
    * pins a version ([[ivfKnnSnapshot]]) so a reader racing an append sees
    * exactly one generation, never a half-visible batch — the atomicity
    * the plain parquet-append variant explicitly defers to the log.
    * Centroids and geometry stay immutable plain parquet (frozen at fit
    * time by design — only the assignment set grows). Returns the
    * committed version.
    */
  def ivfIndexWriteSnapshot(
      corpus: DataFrame,
      cells: Int,
      iters: Int,
      indexPath: String,
      partitions: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Long = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (assign, cents) = kmeansFit(corpus, cells, iters, idCol, vecCol)
    cents.map { case (cid, c) => (cid, c.toSeq) }.toDF("cluster", "c")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/centroids")
    val log = new graft.sources.SnapshotLog(s"$indexPath/assignments_log")
    // logical overwrite: a re-fit starts a fresh generation; prior pinned
    // readers keep their snapshots until expire+vacuum
    val v = log.overwrite(assign, partitions)
    val fit = log.read(spark, v).agg(count(lit(1)), avg(col("cosine"))).head()
    Seq((cells, iters, cents.head._2.length, cents.length,
        v, fit.getLong(0), fit.getDouble(1)))
      .toDF("cells", "iters", "dim", "n_centroids",
        "version", "n_vectors", "mean_cos_fit")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/meta")
    v
  }

  /** [[ivfIndexAppend]] committed through the snapshot log: the batch's
    * assignment rows stage as immutable files and publish in ONE atomic
    * manifest commit — a concurrent reader holds either the pre-append or
    * the post-append generation, and a racing second appender loses the
    * commit loudly ([[graft.sources.ConcurrentCommitException]]) instead
    * of interleaving files. Same geometry/overlap/drift contract as the
    * plain variant; the report's `version` is the committed snapshot.
    */
  def ivfIndexAppendSnapshot(
      newBatch: DataFrame,
      indexPath: String,
      cells: Int,
      iters: Int,
      driftTol: Double = 0.05,
      partitions: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(driftTol > 0, s"driftTol must be positive, got $driftTol")
    val spark = newBatch.sparkSession
    import spark.implicits._
    val (meta, cents) = loadVerifiedIndex(spark, indexPath, cells, iters)
    val log = new graft.sources.SnapshotLog(s"$indexPath/assignments_log")
    val indexed = log.readLatest(spark)
    val overlap = newBatch.select(col(idCol))
      .join(indexed.select(col(idCol)), Seq(idCol), "left_semi")
      .limit(1).count()
    require(overlap == 0L,
      s"ivfIndexAppendSnapshot: new batch shares ids with the index at $indexPath — " +
        "already-indexed vectors would duplicate in every probe; dedup the batch first")
    val assigned = assignCells(unitized(newBatch, idCol, vecCol), cents)
      .select(col(idCol), col("cluster"), round(col("cos"), 6).as("cosine"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (v, nNew, batchMeanCos) =
      try {
        val st = assigned.agg(count(lit(1)), avg(col("cosine"))).head()
        require(st.getLong(0) > 0,
          "ivfIndexAppendSnapshot: new batch contributed no nonzero-norm vectors")
        val committed = log.append(assigned, partitions)
        (committed, st.getLong(0), st.getDouble(1))
      } finally assigned.unpersist(blocking = false)
    val nTotal = meta.getAs[Long]("n_vectors") + nNew
    val fitMeanCos = meta.getAs[Double]("mean_cos_fit")
    Seq((cells, iters, meta.getAs[Int]("dim"), cents.length,
        v, nTotal, fitMeanCos))
      .toDF("cells", "iters", "dim", "n_centroids",
        "version", "n_vectors", "mean_cos_fit")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/meta")
    Seq((v, nTotal, nNew,
        math.rint(fitMeanCos * 1e6) / 1e6, math.rint(batchMeanCos * 1e6) / 1e6,
        batchMeanCos < fitMeanCos - driftTol))
      .toDF("version", "n_indexed", "n_appended",
        "mean_cos_fit", "mean_cos_batch", "refit_recommended")
  }

  /** Probe a snapshot-managed IVF index at a PINNED generation (`version`;
    * latest when None): the assignment set is exactly one committed
    * manifest's files, so appends landing after the pin cannot change
    * what this probe scans — snapshot isolation for index reads, time
    * travel across index generations for free.
    */
  def ivfKnnSnapshot(
      queries: DataFrame,
      corpus: DataFrame,
      indexPath: String,
      k: Int,
      cells: Int,
      iters: Int,
      nProbes: Int = 1,
      version: Option[Long] = None,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(nProbes >= 1, s"nProbes must be >= 1, got $nProbes")
    val spark = queries.sparkSession
    val (_, cents) = loadVerifiedIndex(spark, indexPath, cells, iters)
    val log = new graft.sources.SnapshotLog(s"$indexPath/assignments_log")
    val v = version.orElse(log.currentVersion).getOrElse(
      throw new IllegalStateException(s"no committed index generation at $indexPath"))
    ivfProbe(queries, corpus, log.read(spark, v), cents, k, nProbes, idCol, vecCol)
  }

  /** Greedy k-center coreset selection (Gonzalez '85 farthest-point
    * sampling) — the diversity-sampling pass a curation pipeline runs to
    * pick maximally-spread exemplars from an embedding corpus (coverage,
    * not frequency: the opposite bias of random sampling). Distance is
    * 1 − cosine on unit vectors; the seed is the smallest id.
    *
    * Distributed shape: iteration i scans the corpus ONCE against center
    * i−1 only, folding into a persisted running min-distance column — k
    * linear passes total, the standard distributed greedy k-center. The
    * only driver traffic is one center vector + one argmax row per
    * iteration (the bounded model-fetch pattern); nothing row-count-sized
    * ever collects. Selection compares on round(minDist, 6) with an
    * ascending-id tie-break so the pick — and therefore the whole greedy
    * trajectory — is FP-safe cross-engine (the [[dot]] accumulation order
    * already matches the oracle's list_sum).
    *
    * Returns exactly k rows (step, center_id, sel_dist): sel_dist is the
    * covering radius of the previous center set at the moment this center
    * was chosen (null for the seed) — the monotone non-increasing radius
    * curve is the op's quality readout.
    */
  def kCenterGreedy(
      vectors: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"kCenterGreedy: k must be >= 1, got $k")
    val spark = vectors.sparkSession
    import spark.implicits._
    val unit = unitized(vectors, idCol, vecCol)
      .select(col(idCol).cast("long").as("id"), col("v"))
    val seedId = unit.agg(min(col("id"))).head().getLong(0)
    var cur = unit.withColumn("md", lit(2.0))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var centers = Vector[(Long, Long, Option[Double])]((0L, seedId, None))
    var prevId = seedId
    try {
      var i = 1
      while (i < k) {
        val cvec = cur.where(col("id") === prevId)
          .select(col("v")).head().getSeq[Double](0).toArray
        val updated = cur
          .withColumn("md",
            least(col("md"), round(lit(1.0) - dot(col("v"), typedLit(cvec)), 6)))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val pick = updated.orderBy(col("md").desc, col("id"))
          .limit(1).select(col("id"), col("md")).head()
        cur.unpersist(blocking = false)
        cur = updated
        prevId = pick.getLong(0)
        centers = centers :+ ((i.toLong, prevId, Some(pick.getDouble(1))))
        i += 1
      }
    } finally cur.unpersist(blocking = false)
    centers.toDF("step", "center_id", "sel_dist")
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al. '23): cluster the
    * embeddings with the deterministic [[kmeans]], then verify cosine >=
    * `threshold` WITHIN each cluster only — k-means cells as the candidate
    * buckets, the IVF analog of [[cosineNearDupPairsLsh]]'s random-hyperplane
    * bands. Candidate generation is an equi-join on the cluster id; per-pair
    * cost is the same single codegen'd dot over the RAW vectors (identical
    * accumulation to [[cosineNearDupPairs]], so surviving pairs carry
    * bitwise-identical cosines).
    *
    * Recall trade (documented, inherent to SemDeDup): a near-dup pair split
    * across a cluster boundary is missed — the method's bet is that near-
    * duplicates co-locate in embedding space, which is exactly what the
    * clustering optimizes. Choose k ~ N / (desired cell size) so the
    * per-cluster all-pairs stays bounded; SimilaritySpec proves the output
    * is the exact pair set restricted to co-clustered ids.
    *
    * Output: (vec_a, vec_b, cluster, cosine) — cosine rounded to 6 decimals.
    */
  def semanticNearDupPairsKmeans(
      vectors: DataFrame,
      threshold: Double,
      k: Int,
      iters: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // materialize the (id, cluster) assignment ONCE: it feeds BOTH join
    // sides, and without the checkpoint each side re-derives the final
    // E-step from the raw corpus (two extra full scans at scale — seen in
    // the r7 plan audit). The table is two longs per vector; lineage
    // truncation also keeps the pair join's plan free of the k-dot E-step.
    val assigned = kmeans(vectors, k, iters, idCol, vecCol)
      .select(col(idCol), col("cluster"))
      .localCheckpoint()
    val a = withNorm(vectors, idCol, vecCol, "vec_a")
      .join(assigned.withColumnRenamed(idCol, "vec_a"), "vec_a")
      .select(col("vec_a"), col("v").as("va"), col("nrm").as("na"), col("cluster"))
    val b = withNorm(vectors, idCol, vecCol, "vec_b")
      .join(assigned.withColumnRenamed(idCol, "vec_b"), "vec_b")
      .select(col("vec_b"), col("v").as("vb"), col("nrm").as("nb"), col("cluster"))
    a.join(b, Seq("cluster"))
      .where(col("vec_a") < col("vec_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cluster"), round(col("cos"), 6).as("cosine"))
  }

  /** EXACT embedding near-duplicate pairs: cosine >= threshold, vec_a < vec_b.
    * All-pairs by definition (exactness at a loose threshold admits no
    * lossless sublinear filter for dense vectors) — use as the ground-truth /
    * small-corpus variant; [[cosineNearDupPairsLsh]] is the bounded scale
    * path. Per-pair cost is a single codegen'd dot product.
    */
  def cosineNearDupPairs(
      vectors: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val a = withNorm(vectors, idCol, vecCol, "vec_a")
      .select(col("vec_a"), col("v").as("va"), col("nrm").as("na"))
    val b = withNorm(vectors, idCol, vecCol, "vec_b")
      .select(col("vec_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cosine"))
  }

  /** Deterministic random-hyperplane LSH bucket id (`nPlanes` sign bits).
    * Plane p's component j is a fixed md5-derived pseudo-random value in
    * [-0.5, 0.5) — reproducible across engines and runs, no RNG state. The
    * planes are materialized as array literals on the driver
    * ([[VectorFunctions.planeComponent]]) so bucketing is one codegen'd dot
    * per plane — the r1 plan re-derived every component via per-row md5.
    */
  def lshBuckets(
      vectors: DataFrame,
      nPlanes: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      dim: Int = DefaultDim): DataFrame = {
    val staged = vectors.withColumn("__v", asDouble(col(vecCol)))
    val bits = (0 until nPlanes).map { p =>
      when(dot(col("__v"), VectorFunctions.planeLit(p, dim)) >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    staged.withColumn("bucket", bits.reduce(_ + _)).drop("__v")
  }

  /** IVF-style approximate KNN: corpus and queries bucketed by [[lshBuckets]];
    * each query scans its own bucket, plus — with `probeHamming = 1` — every
    * bucket at Hamming distance 1 on the sign bits (standard multi-probe LSH:
    * the buckets most likely to hide near neighbors are the ones differing in
    * a single marginal hyperplane sign). Approximate — recall grows with
    * fewer planes / more probes; exact within the probed set. The probe
    * expansion happens on the QUERY side (broadcast), so the corpus is still
    * bucketed once and the join stays a bucket equi-join — per-query cost is
    * `1 + nPlanes` bucket scans instead of 1, the deterministic recall knob.
    * Oracle-checkable: the DuckDB oracle recomputes identical buckets and
    * probes the same Hamming ball.
    */
  def lshKnn(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nPlanes: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      dim: Int = DefaultDim,
      probeHamming: Int = 0): DataFrame = {
    require(probeHamming == 0 || probeHamming == 1,
      s"probeHamming supports 0 (single-probe) or 1 (probe Hamming-1 buckets), got $probeHamming")
    val qbOwn = lshBuckets(queries, nPlanes, idCol, vecCol, dim)
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"), col("bucket"))
      .withColumn("qn", sqrt(dot(col("qv"), col("qv"))))
    // a corpus vector lives in exactly ONE bucket and the probe targets are
    // distinct, so the expansion cannot duplicate a (query, neighbor) pair
    val qb =
      if (probeHamming == 0) qbOwn
      else qbOwn.withColumn(
        "bucket",
        explode(array(
          col("bucket") +:
            (0 until nPlanes).map(p => col("bucket").bitwiseXOR(lit(1L << p))): _*)))
    val cb = lshBuckets(corpus, nPlanes, idCol, vecCol, dim)
      .select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("cv"), col("bucket"))
      .withColumn("cn", sqrt(dot(col("cv"), col("cv"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cb.join(broadcast(qb), Seq("bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(
        col("query_id"), col("neighbor_id"),
        round(col("cos"), 6).as("cosine"), col("rank").cast("long").as("rank"))
  }

  /** Banded-LSH bucket ids: `bands` independent hash tables, each keyed by
    * `planesPerBand` sign bits (plane index = band * planesPerBand + p, same
    * md5 derivation as [[lshBuckets]]). Output: one (band, bucket) row per
    * vector per band.
    */
  def bandBuckets(
      vectors: DataFrame,
      bands: Int,
      planesPerBand: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      dim: Int = DefaultDim): DataFrame = {
    val staged = vectors.select(col(idCol), asDouble(col(vecCol)).as("__v"))
    val bucketExprs = (0 until bands).map { t =>
      (0 until planesPerBand).map { p =>
        val plane = t * planesPerBand + p
        when(dot(col("__v"), VectorFunctions.planeLit(plane, dim)) >= 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    staged.select(
      col(idCol),
      posexplode(array(bucketExprs: _*)).as(Seq("band", "bucket")))
  }

  /** APPROXIMATE embedding near-dup pairs via banded hyperplane LSH with an
    * exact cosine verify per candidate: pairs sharing any band's bucket are
    * candidates (OR-amplification across `bands` tables), then only those
    * with true cosine >= threshold survive. Subset of the exact result by
    * construction; recall = 1 - (1 - p^b)^L with p = 1 - θ/π per plane
    * (b=3, L=24 defaults give ≥ 0.999 theoretical recall at cosine 0.4,
    * measured on the fixture corpus in SimilaritySpec). Deterministic —
    * the DuckDB oracle replays the identical bucketing, so the result is
    * hash-verified even where recall < 1.
    */
  def cosineNearDupPairsLsh(
      vectors: DataFrame,
      threshold: Double,
      bands: Int = NearDupBands,
      planesPerBand: Int = NearDupPlanesPerBand,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      dim: Int = DefaultDim): DataFrame = {
    val bk = bandBuckets(vectors, bands, planesPerBand, idCol, vecCol, dim)
    val cand = bk.as("l").join(bk.as("r"), Seq("band", "bucket"))
      .where(col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("vec_a"), col(s"r.$idCol").as("vec_b"))
      .distinct()
    val a = withNorm(vectors, idCol, vecCol, "vec_a")
      .select(col("vec_a"), col("v").as("va"), col("nrm").as("na"))
    val b = withNorm(vectors, idCol, vecCol, "vec_b")
      .select(col("vec_b"), col("v").as("vb"), col("nrm").as("nb"))
    cand.join(a, "vec_a").join(b, "vec_b")
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cosine"))
  }

  /** Product quantization (Jégou et al., "Product Quantization for Nearest
    * Neighbor Search", PAMI'11 — the FAISS PQ standard): split each vector
    * into `m` contiguous subvectors and cluster each subspace independently
    * with the deterministic spherical [[kmeansFit]]; a vector's code is its
    * m cell ids — `m·log2(k)` bits instead of `32·dim`, the codebook
    * compression every billion-vector ANN index runs under its coarse
    * quantizer. Complements [[quantizeEmbeddings]] (scalar min-max codes:
    * no training, per-dimension) with the trained, per-subspace variant.
    *
    * Output: (`idCol`, pq_0 … pq_{m-1}) — all integers, deterministic
    * (md5-seeded fits, per-iteration 6-decimal centroid quantization), so
    * the DuckDB oracle replays all m codebooks exactly. A vector whose
    * subvector has zero norm in ANY subspace is excluded (no direction in
    * that subspace — the [[kmeans]] contract applied per slice).
    *
    * Scale shape: m independent fits, each `iters + 2` passes over a
    * `dim/m`-width projection of the corpus (persist the parent frame once
    * if the scan dominates); per-fit driver state is k rows. The code
    * columns join back map-side-cheap on the id.
    */
  def quantizePq(
      vectors: DataFrame,
      m: Int = 4,
      k: Int = 4,
      iters: Int = 2,
      dim: Int = DefaultDim,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    pqFit(vectors, m, k, iters, dim, idCol, vecCol)._1

  /** The m per-subspace [[kmeansFit]]s of product quantization, FUSED: one
    * working frame exploded by subspace id and ONE Spark action per Lloyd
    * stage for all m codebooks, instead of m sequential fit chains — the
    * job count drops from `m·(iters+2)` to `iters+2` and the corpus is
    * normalized/persisted once instead of m times (guide §1.2: fix the
    * distributed algorithm; the driver loop must iterate ROUNDS, not
    * ROUNDS×SUBSPACES).
    *
    * Per-subspace semantics are [[kmeansFit]]'s exactly, by construction:
    * the E-step literally applies [[assignCells]] to the `s`-slice of the
    * fused frame with that subspace's centroids; seeds are the same first-k
    * rows in `(md5(id), id)` order (a per-`s` window rank instead of m
    * TakeOrdered jobs — same total order, same k prefix); the M-step is the
    * same vecSum/count/round(·, 6) aggregation, grouped by (s, cluster)
    * instead of run m times; degenerate all-zero centroids drop per
    * subspace as before. Sum ORDER within a cluster can differ from the
    * sequential runs (different partitioning of the fused frame) — the same
    * run-to-run tolerance class the per-iteration 6-decimal quantization
    * exists to absorb (the DuckDB oracle already sums in a different order
    * entirely); SimilaritySpec pins fused == sequential on the fixture
    * corpus.
    *
    * Returns the (idCol, pq_0 … pq_{m-1}) code frame — inner-join
    * semantics: a vector with a zero-norm subvector in ANY subspace is
    * excluded, like the m-way join it replaces — plus each subspace's
    * fitted centroids.
    */
  private[graft] def pqFit(
      vectors: DataFrame,
      m: Int,
      k: Int,
      iters: Int,
      dim: Int,
      idCol: String,
      vecCol: String): (DataFrame, IndexedSeq[Seq[(Long, Array[Double])]]) = {
    require(m > 0 && dim % m == 0, s"m ($m) must divide dim ($dim)")
    require(k > 0, s"k must be positive, got $k")
    require(iters > 0, s"iters must be positive, got $iters")
    require(k <= 4096, s"k=$k exceeds the plan-literal budget")
    val subDim = dim / m
    val slices = array((0 until m).map(s =>
      slice(col(vecCol), s * subDim + 1, subDim)): _*)
    // the [[unitized]] pipeline applied per (vector, subspace) row — same
    // expressions, so each slice normalizes bitwise like its sequential fit
    val unit = vectors
      .select(col(idCol), posexplode(slices).as(Seq("s", "sub")))
      .select(col(idCol), col("s"), asDouble(col("sub")).as("raw"))
      .withColumn("rn", norm(col("raw")))
      .where(col("rn") > 0)
      .select(col(idCol), col("s"), transform(col("raw"), x => x / col("rn")).as("v"))
      .withColumn("vn", norm(col("v")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // seeds: per subspace, the first k nonzero-norm rows in (md5(id), id)
      // order — kmeansFit's TakeOrdered prefix, via one windowed action
      val wSeed = Window.partitionBy(col("s"))
        .orderBy(md5(col(idCol).cast("string")), col(idCol))
      val seedRows = unit
        .withColumn("rk", row_number().over(wSeed))
        .where(col("rk") <= k)
        .select(col("s"), col("rk"), col("v"))
        .collect()
      var cents: IndexedSeq[Seq[(Long, Array[Double])]] =
        (0 until m).map { s =>
          val mine = seedRows.filter(_.getInt(0) == s).sortBy(_.getInt(1))
            .zipWithIndex
            .map { case (r, i) => i.toLong -> r.getSeq[Double](2).toArray }
            .toSeq
          require(mine.nonEmpty, s"pq kmeans: no nonzero-norm vectors to seed subspace $s")
          mine
        }
      def assignedAll(c: IndexedSeq[Seq[(Long, Array[Double])]]): DataFrame =
        (0 until m).map { s =>
          assignCells(unit.where(col("s") === s), c(s))
            .select(col(idCol), col("s"), col("cluster"), col("v"), col("cos"))
        }.reduce(_ unionByName _)
      (1 to iters).foreach { _ =>
        val mStep = assignedAll(cents)
          .groupBy(col("s"), col("cluster"))
          .agg(VectorFunctions.vecSum(col("v")).as("vsum"), count(lit(1)).as("n"))
          .select(col("s"), col("cluster"),
            transform(col("vsum"), x => round(x / col("n"), 6)).as("c"))
          .collect()
        cents = (0 until m).map { s =>
          val mine = mStep.filter(_.getInt(0) == s)
            .map(r => r.getLong(1) -> r.getSeq[Double](2).toArray)
            .toSeq
            .filter { case (_, c) => c.exists(_ != 0.0) }
            .sortBy(_._1)
          require(mine.nonEmpty, s"pq kmeans: all centroids of subspace $s degenerated to zero")
          mine
        }
      }
      val codes = assignedAll(cents)
        .groupBy(col(idCol))
        .agg(
          max(when(col("s") === 0, col("cluster"))).as("pq_0"),
          (1 until m).map(s =>
            max(when(col("s") === s, col("cluster"))).as(s"pq_$s")): _*)
        // inner-join semantics of the m-way code join this replaces: a
        // vector missing any subspace (zero-norm slice) is excluded
        .where((0 until m).map(s => col(s"pq_$s").isNotNull).reduce(_ && _))
        .select(col(idCol) +: (0 until m).map(s => col(s"pq_$s")): _*)
      (codes, cents)
    } finally {
      // kmeansFit semantics: the cache serves the seed + M-step actions; the
      // returned lazy code frame recomputes its one pass at consumption
      unit.unpersist(blocking = false)
      ()
    }
  }

  /** Asymmetric distance computation (ADC) over spherical PQ codes — the
    * search half of product quantization (Jégou et al. PAMI'11 §III): the
    * QUERY stays exact, the corpus is represented only by its m cell ids,
    * and the score is `Σ_s q_s · codebook_s[code_s]` — m table lookups and
    * adds per candidate instead of a dim-wide dot product. Codebooks are
    * the [[kmeansFit]] centroids, which live on UNIT-NORMALIZED subvectors,
    * so the score approximates direction agreement per subspace (spherical
    * PQ), not the raw inner product — ranking quality is the point, and
    * SimilaritySpec checks top-ADC against true-cosine neighbors.
    *
    * Plan shape: the per-query lookup tables are staged as m·k dot-product
    * columns on the broadcast QUERY side (centroids are plan literals, the
    * kmeans discipline); the corpus side carries only its m code columns,
    * and the scan is a broadcast nested-loop by construction — ADC IS a
    * linear scan with compressed arithmetic. At 100 TB compose it with the
    * IVF coarse quantizer ([[ivfKnn]]'s cells) so the scan covers only the
    * probed cells; the per-candidate cost stays m adds either way.
    *
    * Output: (query_id, neighbor_id, adc_score, rank) — `adc_score` is the
    * raw lookup sum (NOT a cosine; in [-m, m]), rank 1..k per query with
    * the usual (score DESC, neighbor) tie-break.
    */
  def pqAdcKnn(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      m: Int = 4,
      cells: Int = 4,
      iters: Int = 2,
      dim: Int = DefaultDim,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(m > 0 && dim % m == 0, s"m ($m) must divide dim ($dim)")
    val subDim = dim / m
    // all m codebooks in one fused Lloyd loop ([[pqFit]] — m× fewer jobs,
    // one persist), codes and centroids unchanged per subspace
    val (codeFrame, centsBySub) = pqFit(corpus, m, cells, iters, dim, idCol, vecCol)
    val codes = codeFrame.withColumnRenamed(idCol, "neighbor_id")
    // stage the per-query LUT: one dot column per (subspace, cell)
    val staged = centsBySub.zipWithIndex.foldLeft(
      queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))) {
      case (df, (cents, s)) =>
        cents.foldLeft(df) { case (d, (cid, cv)) =>
          d.withColumn(s"d_${s}_$cid",
            dot(slice(col("qv"), s * subDim + 1, subDim), typedLit(cv)))
        }
    }.drop("qv")
    // score = left-assoc sum of the code-selected lookups (same order as the
    // oracle's d_0 + d_1 + ... so the doubles agree bitwise)
    val score = centsBySub.zipWithIndex.map { case (cents, s) =>
      cents.map(_._1).sorted.foldRight(lit(Double.NaN)) { (cid, rest) =>
        when(col(s"pq_$s") === cid, col(s"d_${s}_$cid")).otherwise(rest)
      }
    }.reduce(_ + _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("neighbor_id"))
    codes.join(broadcast(staged), col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", score)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(
        col("query_id"), col("neighbor_id"),
        round(col("adc"), 6).as("adc_score"), col("rank").cast("long").as("rank"))
  }

  /** The full IVF-ADC search (Jégou et al. PAMI'11 §IV: "IVFADC") — the
    * composition [[pqAdcKnn]]'s own Scaladoc points at for 100 TB: a COARSE
    * quantizer ([[kmeansFit]], the [[ivfKnn]] cells) restricts the
    * candidate set to the query's `nProbes` nearest cells, and ONLY those
    * candidates are scored with the m-lookup compressed ADC arithmetic.
    * Against [[pqAdcKnn]]'s whole-corpus broadcast-nested-loop scan, the
    * candidate generation here is an EQUI-JOIN on the cell id — at 1B
    * vectors with 4096 cells and 8 probes, each query touches ~0.2% of the
    * corpus and the join shuffles on a bounded key, which is the published
    * architecture of every billion-scale ANN deployment (FAISS IVF-PQ).
    *
    * Determinism contract: coarse cells and PQ codebooks are the same
    * md5-seeded 6-decimal-quantized Lloyd chains the `kmeans_clusters` /
    * `knn_pq_adc` oracles replay; probe ranking ties break on the cell id,
    * ADC sums left-assoc in subspace order — so the DuckDB replay is
    * bitwise through `round(·, 6)`.
    *
    * Output: (query_id, neighbor_id, adc_score, rank 1..k).
    */
  def ivfPqAdcKnn(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      coarseCells: Int,
      coarseIters: Int,
      nProbes: Int,
      m: Int = 4,
      pqCells: Int = 4,
      pqIters: Int = 2,
      dim: Int = DefaultDim,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(m > 0 && dim % m == 0, s"m ($m) must divide dim ($dim)")
    require(nProbes >= 1, s"nProbes must be >= 1, got $nProbes")
    val subDim = dim / m
    // coarse quantizer: one cell per corpus vector (its own iteration count,
    // so it stays a separate fit)
    val (coarseAssign, coarseCents) = kmeansFit(corpus, coarseCells, coarseIters, idCol, vecCol)
    // all m PQ codebooks in one fused Lloyd loop ([[pqFit]] — m× fewer jobs)
    val (codeFrame, centsBySub) = pqFit(corpus, m, pqCells, pqIters, dim, idCol, vecCol)
    val codes = coarseAssign.select(col(idCol), col("cluster"))
      .join(codeFrame, idCol)
      .withColumnRenamed(idCol, "neighbor_id")
    // query side: nProbes nearest coarse cells (cos DESC, cell ASC — the
    // ivfKnn multi-probe ranking) + the per-query ADC lookup table
    val probeRanked = {
      val withCos = assignCells(unitized(queries, idCol, vecCol), coarseCents)
      val ranked = sort_array(array(coarseCents.map { case (cid, _) =>
        struct((-col(s"cos_$cid")).as("neg"), lit(cid).as("cell"))
      }: _*))
      withCos.select(col(idCol).as("query_id"),
        explode(slice(transform(ranked, s => s.getField("cell")), 1, nProbes)).as("cluster"))
    }
    val staged = centsBySub.zipWithIndex.foldLeft(
      queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))) {
      case (df, (cents, s)) =>
        cents.foldLeft(df) { case (d, (cid, cv)) =>
          d.withColumn(s"d_${s}_$cid",
            dot(slice(col("qv"), s * subDim + 1, subDim), typedLit(cv)))
        }
    }.drop("qv")
    val score = centsBySub.zipWithIndex.map { case (cents, s) =>
      cents.map(_._1).sorted.foldRight(lit(Double.NaN)) { (cid, rest) =>
        when(col(s"pq_$s") === cid, col(s"d_${s}_$cid")).otherwise(rest)
      }
    }.reduce(_ + _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("neighbor_id"))
    codes.join(broadcast(probeRanked.join(staged, "query_id")), Seq("cluster"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", score)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(
        col("query_id"), col("neighbor_id"),
        round(col("adc"), 6).as("adc_score"), col("rank").cast("long").as("rank"))
  }

  /** Per-dimension min-max scalar quantization of an embedding column — the
    * vector-compression pass a 100 TB embedding store runs before indexing
    * (int8 codes are 4× smaller than float32 and 8× smaller than the double
    * working form; IVF/PQ systems quantize exactly this way for their
    * coarse level).
    *
    * `code_d = min(floor((v_d - min_d) * levels / (max_d - min_d)),
    * levels-1)`, i.e. the corpus range of each dimension split into `levels`
    * equal cells, value → cell index; a constant dimension (max == min)
    * encodes as 0. Integer-only outputs (the repo's cross-engine
    * determinism discipline): the per-vector code fingerprint, code
    * min/max/sum — plus the raw `codes` array for API consumers (dropped by
    * the declared query; arrays don't cross the hash compare).
    *
    * Two passes, both the shape you want at scale: (1) a stats aggregation
    * via [[graft.functions.VectorExtremeAgg]] — ONE dim-length buffer per
    * task, `2·8·dim` bytes per partition through the final gather, no
    * posexplode fan-out; min/max are selections (not arithmetic), so the
    * collected bounds are bit-exact regardless of partitioning, which is
    * what lets the DuckDB oracle replay the codes without rounding. (2) a
    * map-side encode with the bounds as plan literals (`8·2·dim` doubles —
    * same plan-literal budget argument as [[kmeans]] centroids), no
    * shuffle at all.
    */
  def quantizeEmbeddings(
      vectors: DataFrame,
      levels: Int = 256,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(levels > 1, s"levels must be > 1, got $levels")
    val vecs = vectors.select(col(idCol), asDouble(col(vecCol)).as("v"))
    val statsRow = vecs.agg(
      VectorFunctions.vecMin(col("v")).as("mn"),
      VectorFunctions.vecMax(col("v")).as("mx")).head()
    require(!statsRow.isNullAt(0), "quantizeEmbeddings: no input vectors")
    val mins = statsRow.getSeq[Double](0)
    val maxs = statsRow.getSeq[Double](1)
    val codeExprs: Seq[Column] = mins.indices.map { d =>
      val mn = mins(d)
      val mx = maxs(d)
      if (mx == mn) lit(0L)
      else least(
        floor((element_at(col("v"), d + 1) - lit(mn)) * lit(levels.toDouble) / lit(mx - mn)),
        lit(levels - 1L))
    }
    vecs
      .select(col(idCol), array(codeExprs: _*).as("codes"))
      .select(
        col(idCol),
        col("codes"),
        md5(concat_ws(" ", transform(col("codes"), _.cast("string")))).as("q_fp"),
        array_min(col("codes")).as("q_min"),
        array_max(col("codes")).as("q_max"),
        // codegen'd integer sum — bitwise equal to the interpreted
        // aggregate(codes, 0L, _+_) fold it replaces
        VectorFunctions.arraySumLongCol(col("codes")).as("q_sum"))
  }

  /** EXACT KNN-Shapley data valuation (Jia et al., VLDB 2019): the
    * Shapley value of every TRAINING point for a K-NN classifier admits a
    * closed form per test point — sort training points by distance to the
    * test point and run the suffix recursion
    * `s_(N) = 1[y_(N)=y_t]/N`,
    * `s_(i) = s_(i+1) + (1[y_(i)=y_t] − 1[y_(i+1)=y_t]) / max(K, i)` —
    * so the O(2^N) Shapley sum collapses to one sorted pass. The value
    * ranks each example's contribution to held-out accuracy: the
    * principled curation signal for pruning harmful examples and paying
    * data sources.
    *
    * All-integer discipline: distances are exact integer squared L2 over
    * QUANTIZED codes (ties broken by train id), and each 1/m term is
    * floored SEPARATELY in `scale` units BEFORE the ±1 multiply —
    * `(ind_i − ind_{i+1}) · (scale div max(K, i))` — so no negative
    * floor-division (truncate-vs-floor is the classic cross-engine trap)
    * and no accumulated drift: the suffix sum of identical integers
    * replays bitwise. Per-train values are summed over the test set.
    *
    * Scale shape: the test side is a broadcast eval sample (KB-scale, the
    * [[bruteForceKnn]] discipline), so the distance stage is one corpus
    * scan; the rank window partitions by test id — each partition is
    * train-count-sized. At 100 TB the train side is first cut to an ANN
    * candidate pool per test point (the published approximation);
    * the exact path here IS the ground-truth leg of that pairing.
    *
    * Input frames carry (`idCol`, `codes` array&lt;long&gt;, `labelCol`).
    * Output: one row per training point — (idCol, label,
    * shap_sum_e12 = Σ_tests s·scale, n_tests), ordered by id.
    */
  def knnShapley(
      train: DataFrame,
      test: DataFrame,
      k: Int,
      scale: Long = 1000000000000L,
      idCol: String = "vec_id",
      labelCol: String = "label"): DataFrame = {
    require(k >= 1, s"knnShapley: k must be >= 1, got $k")
    require(scale >= 1000000L, s"knnShapley: scale too small for the 1/max(K,i) terms, got $scale")
    // emptiness probe only (limit-1, stops at the first row) — the full
    // count() this replaces forced one extra evaluation of the whole
    // upstream quantize+join per query; the 1/N base term now reads `i`
    // on the last rank instead (i == N there by construction)
    require(!train.isEmpty, "knnShapley: empty training set")
    val t = test.select(
      col(idCol).as("test_id"), col("codes").as("tc"),
      col(labelCol).cast("long").as("ty"))
    val r = train.select(
      col(idCol).as("train_id"), col("codes").as("rc"),
      col(labelCol).cast("long").as("ry"))
    // codegen'd integer squared L2 (bitwise == the interpreted
    // aggregate(zip_with(...)) chain it replaces — integer adds in the
    // same left-to-right order)
    val dist = VectorFunctions.sqDistLong(col("tc"), col("rc"))
    val w = Window.partitionBy(col("test_id")).orderBy(col("dist"), col("train_id"))
    val suffix = Window.partitionBy(col("test_id")).orderBy(col("i"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    r.join(broadcast(t), lit(true))
      .withColumn("dist", dist)
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("ind", when(col("ry") === col("ty"), 1L).otherwise(0L))
      .withColumn("ind_next", lead(col("ind"), 1).over(w))
      // last rank carries the base term; every other rank its delta term,
      // magnitude floored positive first, sign applied after. On the last
      // rank i == |train| by construction (each test partition holds every
      // train row exactly once), so `scale div i` IS the 1/N base term —
      // computing it in-plan removes the train.count() pre-action that
      // re-evaluated the whole upstream quantize+join once per query.
      .withColumn("contrib",
        when(col("ind_next").isNull, col("ind") * expr(s"${scale}L div i"))
          .otherwise((col("ind") - col("ind_next"))
            * expr(s"${scale}L div greatest(i, ${k.toLong}L)")))
      .withColumn("s", sum(col("contrib")).over(suffix))
      .groupBy(col("train_id"), col("ry"))
      .agg(sum(col("s")).as("shap_sum_e12"), count(lit(1)).as("n_tests"))
      .select(col("train_id").as(idCol), col("ry").as(labelCol),
        col("shap_sum_e12"), col("n_tests"))
      .orderBy(col(idCol))
  }

  /** ANN-BOUNDED KNN-Shapley — the scale route paired with [[knnShapley]]
    * (the exact/scale duality the dedup family keeps): instead of scoring
    * every (test, train) pair, each test point's candidate pool is the
    * TRAIN vectors living in its `nProbes` nearest IVF cells (the
    * [[kmeansFit]] coarse quantizer — deterministic, so the pool is
    * replayable), and the closed-form Shapley recursion runs EXACTLY
    * within that pool (`pool_n` replaces the train count in the base
    * term). Contributions stay exact integers over the shared
    * quantization codes; the approximation is purely WHICH pairs enter —
    * the standard ANN-Shapley construction (Jia et al.'s KNN-Shapley
    * with an ANN candidate stage).
    *
    * Scale shape: candidate generation is an equi-join on the cell id
    * (never the all-pairs broadcast of the exact path), so the pair
    * count drops from |test|·|train| to |test|·|train|/cells·nProbes —
    * at 100 TB that factor is the difference between a scoring job and
    * an impossibility. Agreement vs the exact ranking is measured by the
    * caller (the recall-floor discipline of [[withRecall]]).
    *
    * Input frames carry (`idCol`, `vecCol` raw embeddings for the
    * quantizer, `codes` for distances, `labelCol`).
    */
  def knnShapleyIvf(
      train: DataFrame,
      test: DataFrame,
      k: Int,
      cells: Int,
      iters: Int,
      nProbes: Int = 1,
      scale: Long = 1000000000000L,
      idCol: String = "vec_id",
      labelCol: String = "label",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"knnShapleyIvf: k must be >= 1, got $k")
    require(nProbes >= 1, s"knnShapleyIvf: nProbes must be >= 1, got $nProbes")
    val (assign, cents) = kmeansFit(train, cells, iters, idCol, vecCol)
    val probed =
      if (nProbes == 1)
        assignCells(unitized(test, idCol, vecCol), cents)
          .select(col(idCol).as("test_id"), col("cluster"))
      else {
        val withCos = assignCells(unitized(test, idCol, vecCol), cents)
        val ranked = sort_array(array(cents.map { case (cid, _) =>
          struct((-col(s"cos_$cid")).as("neg"), lit(cid).as("cell"))
        }: _*))
        withCos.select(col(idCol).as("test_id"),
          explode(slice(transform(ranked, s => s.getField("cell")), 1, nProbes))
            .as("cluster"))
      }
    // a train vector lives in exactly one cell — probe expansion cannot
    // duplicate a (test, train) pair
    val cand = probed
      .join(assign.select(col(idCol).as("train_id"), col("cluster")), "cluster")
      .select(col("test_id"), col("train_id"))
    val t = test.select(
      col(idCol).as("test_id"), col("codes").as("tc"),
      col(labelCol).cast("long").as("ty"))
    val r = train.select(
      col(idCol).as("train_id"), col("codes").as("rc"),
      col(labelCol).cast("long").as("ry"))
    // codegen'd integer squared L2 — same swap as [[knnShapley]]
    val dist = VectorFunctions.sqDistLong(col("tc"), col("rc"))
    val w = Window.partitionBy(col("test_id")).orderBy(col("dist"), col("train_id"))
    val pool = Window.partitionBy(col("test_id"))
    val suffix = Window.partitionBy(col("test_id")).orderBy(col("i"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    cand.join(broadcast(t), "test_id").join(r, "train_id")
      .withColumn("dist", dist)
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("pool_n", count(lit(1)).over(pool))
      .withColumn("ind", when(col("ry") === col("ty"), 1L).otherwise(0L))
      .withColumn("ind_next", lead(col("ind"), 1).over(w))
      // exact recursion WITHIN the pool: the last pooled rank carries the
      // base term over pool_n, every other rank its delta term
      .withColumn("contrib",
        when(col("ind_next").isNull, col("ind") * expr(s"${scale}L div pool_n"))
          .otherwise((col("ind") - col("ind_next"))
            * expr(s"${scale}L div greatest(i, ${k.toLong}L)")))
      .withColumn("s", sum(col("contrib")).over(suffix))
      .groupBy(col("train_id"), col("ry"))
      .agg(sum(col("s")).as("shap_sum_e12"), count(lit(1)).as("n_tests"))
      .select(col("train_id").as(idCol), col("ry").as(labelCol),
        col("shap_sum_e12"), col("n_tests"))
      .orderBy(col(idCol))
  }

  /** Deterministic ±1 sign for the random-projection matrix entry
    * `(outDim j, inDim i)`: parity of the first byte of `md5("rp:j:i")`.
    * Computed DRIVER-side once per (j, i) — the whole matrix is
    * `outDim × inDim` signs baked into the PLAN as literals (the λ-table
    * discipline), so per-row work is pure arithmetic and the generated
    * oracle carries the identical literals.
    */
  private[graft] def rpSign(j: Int, i: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"rp:$j:$i".getBytes("UTF-8"))
    if ((d(0) & 1) == 0) 1.0 else -1.0
  }

  /** Johnson–Lindenstrauss random projection: each `inDim`-float embedding
    * maps to `outDim` doubles `y_j = (Σ_i x_i · s_ji) / sqrt(outDim)` with
    * the ±1 signs of [[rpSign]] — the cheap distance-preserving
    * dimensionality reduction run before ANN indexing (Achlioptas' database
    * JL construction: ±1 entries, no Gaussians needed). Fully
    * deterministic and ENGINE-BITWISE: the sum is a left fold in fixed
    * index order on both engines (Spark `aggregate` over
    * `sequence(0, inDim-1)` seeds 0.0; DuckDB `list_reduce` seeds the
    * first element — IEEE-identical since `0.0 + x == x`), float→double
    * widening is exact, and `sqrt(outDim)` with outDim a perfect square is
    * exact, so only the final 6-decimal round is quantization.
    *
    * Output one row per `(vec_id, out_dim)` — the flat shape the oracle
    * hash-compares. Scale: map-side only (no shuffle, no state); the
    * matrix is `outDim·inDim` plan literals, ~1 KB at 16×64.
    */
  def randomProjection(
      embeddings: DataFrame,
      outDim: Int = 16,
      inDim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(outDim > 0 && inDim > 0, "dims must be positive")
    // One codegen'd pass per row ([[graft.functions.RpProject]]) instead of
    // outDim interpreted `aggregate(sequence(...))` chains (r16's kernel
    // lesson): identical left-to-right fold, identical signs, and the
    // round(·, 6) applied to the identical double AFTER the posexplode —
    // bitwise the same rows as the HOF plan and the DuckDB replay.
    val signsFlat = for (j <- 0 until outDim; i <- 0 until inDim) yield rpSign(j, i)
    embeddings
      .select(
        col(idCol),
        VectorFunctions.rpProjectCol(col(vecCol), signsFlat, outDim).as("ys"))
      .select(col(idCol), posexplode(col("ys")).as(Seq("out_dim", "val")))
      .select(
        col(idCol), col("out_dim").cast("long").as("out_dim"),
        round(col("val"), 6).as("val"))
      .orderBy(col(idCol), col("out_dim"))
  }

  /** The DuckDB replay of [[randomProjection]] with the same sign literals
    * and the same fold order, over table `embeddings`.
    */
  def randomProjectionSql(outDim: Int = 16, inDim: Int = 64): String = {
    val scale = math.sqrt(outDim.toDouble)
    val ys = (0 until outDim).map { j =>
      val signs = (0 until inDim).map(i => rpSign(j, i)).mkString(",")
      s"""round(list_reduce(list_transform(range(0, $inDim),
         |      i -> embedding[i + 1]::DOUBLE * ([$signs])[i + 1]),
         |    (a, b) -> a + b) / $scale, 6)""".stripMargin
    }
    s"""WITH p AS (
       |  SELECT vec_id, [${ys.mkString(",\n")}] AS ys
       |  FROM embeddings
       |)
       |SELECT vec_id, CAST(g.j AS BIGINT) AS out_dim, ys[g.j + 1] AS val
       |FROM p, (SELECT unnest(range(0, $outDim)) AS j) g
       |ORDER BY vec_id, out_dim""".stripMargin
  }

  /** MAXIMAL MARGINAL RELEVANCE re-ranking (Carbonell & Goldstein '98) —
    * diversity-aware top-k: greedily pick the candidate maximizing
    * `λ·rel − (1−λ)·max_sim_to_selected`, so the result covers the
    * query's neighborhood instead of returning k near-duplicates (the
    * retrieval-augmentation and eval-set-construction staple). λ rides
    * as integer TENTHS and every similarity is an integer dot product
    * over the [[quantizeEmbeddings]] codes, so the greedy argmax chain —
    * where one flipped comparison cascades into a different result set —
    * is EXACT and replays bitwise across engines (raw float cosines
    * would make the cascade engine-dependent at the ULP level).
    *
    * Scale shape, stated honestly: the DISTRIBUTED part is the pool
    * build — one corpus pass for the integer relevance dot (codegen'd)
    * and a top-`poolSize` selection. The greedy phase is inherently
    * sequential in k and runs DRIVER-side over the collected pool
    * (`poolSize` rows, bounded small — the documented bounded-model
    * fetch class); its pairwise dots are `poolSize²·dim` primitive
    * multiplies, microseconds at any corpus size.
    *
    * Returns one row per pick: (rank, vec_id, rel_dot, max_sim_prev) —
    * `max_sim_prev` is the similarity to the already-selected set at
    * pick time (0 for the first pick), the diversity evidence.
    */
  def mmrSelect(
      vectors: DataFrame,
      queryId: Long,
      poolSize: Int,
      k: Int,
      lambdaTenths: Int,
      levels: Int = 256): DataFrame = {
    require(k >= 1 && poolSize >= k,
      s"mmrSelect: need poolSize >= k >= 1, got poolSize=$poolSize k=$k")
    require(lambdaTenths >= 0 && lambdaTenths <= 10,
      s"mmrSelect: lambdaTenths must be in [0, 10], got $lambdaTenths")
    val spark = vectors.sparkSession
    val codes = quantizeEmbeddings(vectors, levels)
      .select(col("vec_id"), asDouble(col("codes")).as("cv"))
    val qRow = codes.where(col("vec_id") === queryId).collect()
    require(qRow.length == 1, s"mmrSelect: query vector $queryId not found")
    val q = qRow.head.getSeq[Double](1)
    val qLit = array(q.map(lit(_)): _*)
    val pool = codes
      .where(col("vec_id") =!= queryId)
      .withColumn("rel", VectorFunctions.dot(col("cv"), qLit).cast("long"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(poolSize)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getLong(2)))
    def idot(a: Array[Double], b: Array[Double]): Long = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s.toLong
    }
    val selected = scala.collection.mutable.ArrayBuffer[(Long, Array[Double], Long, Long)]()
    while (selected.size < k) {
      val chosen = selected.map(_._1).toSet
      val best = pool.iterator
        .filterNot(c => chosen.contains(c._1))
        .map { case (id, cv, rel) =>
          val maxSim =
            if (selected.isEmpty) 0L
            else selected.iterator.map(s => idot(cv, s._2)).max
          (id, cv, rel, maxSim,
            lambdaTenths.toLong * rel - (10L - lambdaTenths) * maxSim)
        }
        // deterministic greedy: score desc, id asc — exact integers only
        .reduceLeft((a, b) => if (b._5 > a._5 || (b._5 == a._5 && b._1 < a._1)) b else a)
      selected += ((best._1, best._2, best._3, best._4))
    }
    import spark.implicits._
    selected.toSeq.zipWithIndex
      .map { case ((id, _, rel, maxSim), i) => (i + 1L, id, rel, maxSim) }
      .toDF("rank", "vec_id", "rel_dot", "max_sim_prev")
  }
}
