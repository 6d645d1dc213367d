package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite {
  import SparkTestSession._

  test("dot product rejects mismatched vector lengths instead of truncating") {
    import spark.implicits._
    val df = Seq((Array(1.0, 2.0), Array(1.0, 2.0, 3.0))).toDF("a", "b")
    val ex = intercept[Exception] {
      df.select(graft.functions.VectorFunctions.dot(col("a"), col("b"))).collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(ex).exists(_.contains("mismatched vector lengths")))
  }

  test("mmrSelect: λ trades relevance for diversity on a hand-quantized fixture") {
    import spark.implicits._
    // codes after per-dim [0,1] min-max at 256 levels:
    // q0 = [255, 0]; v1 = [255, 2]; v2 = [253, 0]; v3 = [0, 255]
    // rel: v1 = 65025, v2 = 64515, v3 = 0; sims: (1,2) = 64515, (1,3) = 510
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.01f)),
      (2L, Array(0.99f, 0.0f)), (3L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    def got(lam: Int, k: Int) =
      Similarity.mmrSelect(vecs, queryId = 0L, poolSize = 3, k = k,
        lambdaTenths = lam)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // relevance-heavy λ keeps the near-duplicate second
    assert(got(7, 2) == Seq((1L, 1L, 65025L, 0L), (2L, 2L, 64515L, 64515L)))
    // diversity-heavy λ jumps to the orthogonal vector instead
    assert(got(2, 3) == Seq(
      (1L, 1L, 65025L, 0L),
      (2L, 3L, 0L, 510L),
      (3L, 2L, 64515L, 64515L)))
    intercept[IllegalArgumentException](
      Similarity.mmrSelect(vecs, queryId = 99L, poolSize = 3, k = 1, lambdaTenths = 5))
    intercept[IllegalArgumentException](
      Similarity.mmrSelect(vecs, queryId = 0L, poolSize = 2, k = 3, lambdaTenths = 5))
  }

  test("pqFit (fused Lloyd loop) == m sequential kmeansFit fits: codes AND centroids") {
    val emb = Tables.embeddings(spark, SfDir)
    val m = 4
    val k = 4
    val iters = 2
    val dim = Similarity.DefaultDim
    val subDim = dim / m
    val (codes, cents) = Similarity.pqFit(emb, m, k, iters, dim, "vec_id", "embedding")
    val seqFits = (0 until m).map { s =>
      val sub = emb.select(
        col("vec_id"), slice(col("embedding"), s * subDim + 1, subDim).as("embedding"))
      Similarity.kmeansFit(sub, k, iters, "vec_id", "embedding")
    }
    // centroids: identical ids and 6-decimal components per subspace
    (0 until m).foreach { s =>
      val a = cents(s).map { case (cid, c) => (cid, c.toSeq) }
      val b = seqFits(s)._2.map { case (cid, c) => (cid, c.toSeq) }
      assert(a == b, s"subspace $s centroids diverge")
    }
    // codes: identical (vec_id, pq_0..pq_3) rows as the m-way join
    val seqCodes = seqFits.zipWithIndex.map { case ((assign, _), s) =>
      assign.select(col("vec_id"), col("cluster").as(s"pq_$s"))
    }.reduce(_.join(_, "vec_id"))
    val got = codes.orderBy(col("vec_id")).collect().map(_.toSeq).toSeq
    val want = seqCodes.orderBy(col("vec_id")).collect().map(_.toSeq).toSeq
    assert(got == want)
  }

  test("brute-force knn: every query gets k ranked neighbors, rank-1 is the true argmax") {
    val emb = Tables.embeddings(spark, SfDir)
    val out = Similarity.bruteForceKnn(emb.where(col("vec_id") < 5), emb, k = 3).cache()
    assert(out.groupBy("query_id").count().collect().forall(_.getLong(1) == 3))
    // rank-1 cosine >= every other cosine for that query
    val r = out.collect().groupBy(_.getLong(0))
    r.values.foreach { rows =>
      val byRank = rows.sortBy(_.getLong(3))
      assert(byRank.map(_.getDouble(2)).sliding(2).forall(p => p(0) >= p(1)))
    }
  }

  test("withRecall: brute force against itself scores a full pool; columns replay the hit count") {
    val emb = Tables.embeddings(spark, SfDir)
    val q = emb.where(col("vec_id") < 5)
    val ann = Similarity.bruteForceKnn(q, emb, k = 3)
    val out = Similarity.withRecall(ann, q, emb, k = 3, minPoolHits = 15).cache()
    val rows = out.collect()
    // the ANN result IS the exact pool → every query hits k, pool = 5*3
    assert(rows.forall(_.getAs[Long]("n_hit") == 3L))
    assert(rows.forall(_.getAs[Long]("pool_hits") == 15L))
    assert(rows.forall(_.getAs[Boolean]("recall_ok")))
    // row count and ANN columns pass through untouched
    assert(rows.length == ann.count().toInt)
  }

  test("withRecall: a miss-only ANN result scores zero and fails a positive floor") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, SfDir)
    val q = emb.where(col("vec_id") < 5)
    // fabricate an ANN result whose neighbors are certainly not in the
    // exact top-3 pool: each query "finds" only itself-shaped ids far
    // outside the corpus id range
    val fake = Seq((0L, -1L), (1L, -2L), (2L, -3L), (3L, -4L), (4L, -5L))
      .toDF("query_id", "neighbor_id")
    val out = Similarity.withRecall(fake, q, emb, k = 3, minPoolHits = 1).collect()
    assert(out.forall(_.getAs[Long]("n_hit") == 0L))
    assert(out.forall(_.getAs[Long]("pool_hits") == 0L))
    assert(out.forall(!_.getAs[Boolean]("recall_ok")))
  }

  test("lsh knn returns exact-within-bucket results (subset of brute-force domain)") {
    val emb = Tables.embeddings(spark, SfDir)
    val lsh = Similarity.lshKnn(emb.where(col("vec_id") < 5), emb, k = 3, nPlanes = 2)
    val brute = Similarity.bruteForceKnn(emb.where(col("vec_id") < 5), emb, k = 500)
    // every lsh cosine equals the brute-force cosine of the same pair
    val bmap = brute.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    lsh.collect().foreach { r =>
      assert(math.abs(bmap((r.getLong(0), r.getLong(1))) - r.getDouble(2)) < 1e-9)
    }
  }

  test("banded-lsh near-dup: subset of exact, candidates via equi-join, recall measured") {
    val emb = Tables.embeddings(spark, SfDir)
    val exact = Similarity.cosineNearDupPairs(emb, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshDf = Similarity.cosineNearDupPairsLsh(emb, 0.4)
    val plan = lshDf.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "banded-lsh near-dup must not contain an all-pairs join")
    val lsh = lshDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(lsh.subsetOf(exact), "lsh pairs must be a subset of exact pairs")
    // deterministic (fixed planes, fixed corpus): b=3 L=24 gives >= 0.999
    // theoretical recall at cosine 0.4; assert a conservative floor
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall below floor (${lsh.size}/${exact.size})")
  }

  test("multi-probe lsh knn: recall >= single-probe, cosines exact") {
    val emb = Tables.embeddings(spark, SfDir)
    val q = emb.where(col("vec_id") < 5)
    val brute = Similarity.bruteForceKnn(q, emb, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def found(probe: Int) =
      Similarity.lshKnn(q, emb, k = 3, nPlanes = 4, probeHamming = probe)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sp = found(0)
    val mp = found(1)
    val recallSp = (sp intersect brute).size.toDouble / brute.size
    val recallMp = (mp intersect brute).size.toDouble / brute.size
    // the Hamming-1 ball strictly contains the single-probe bucket, and a
    // true top-k pair can only be outranked by another true top-k pair —
    // so multi-probe recall is monotonically >= single-probe
    assert(recallMp >= recallSp, s"multi-probe recall $recallMp < single-probe $recallSp")
    // every reported cosine is the true cosine of that pair
    val bmap = Similarity.bruteForceKnn(q, emb, k = 500).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    Similarity.lshKnn(q, emb, k = 3, nPlanes = 4, probeHamming = 1).collect().foreach { r =>
      assert(math.abs(bmap((r.getLong(0), r.getLong(1))) - r.getDouble(2)) < 1e-9)
    }
  }

  test("lsh buckets are deterministic across invocations") {
    val emb = Tables.embeddings(spark, SfDir)
    val b1 = Similarity.lshBuckets(emb, 4).select("vec_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b2 = Similarity.lshBuckets(emb, 4).select("vec_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b1 == b2)
  }

  test("vec_sum: element-wise sum, nulls skipped, all-null group null, ragged throws") {
    import spark.implicits._
    val df = Seq(
      (0, Option(Array(1.0, 2.0))),
      (0, Option(Array(3.0, 4.5))),
      (0, Option.empty[Array[Double]]),
      (1, Option.empty[Array[Double]])
    ).toDF("g", "v")
    val out = df.groupBy("g")
      .agg(graft.functions.VectorFunctions.vecSum(col("v")).as("s"))
      .collect().map(r => r.getInt(0) -> Option(r.getAs[Seq[Double]]("s"))).toMap
    assert(out(0).contains(Seq(4.0, 6.5)))
    assert(out(1).isEmpty)
    val ragged = Seq((0, Array(1.0)), (0, Array(1.0, 2.0))).toDF("g", "v")
    val ex = intercept[Exception] {
      ragged.groupBy("g")
        .agg(graft.functions.VectorFunctions.vecSum(col("v"))).collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(ex).exists(_.contains("mismatched vector lengths")))
  }

  test("labelCentroids matches the naive posexplode route") {
    val emb = Tables.embeddings(spark, SfDir)
    val fast = Similarity.labelCentroids(emb).collect()
      .map(r => r.getInt(0) -> r.getAs[collection.Seq[Double]]("centroid")).toMap
    val naive = emb
      .select(col("label"), posexplode(transform(col("embedding"), _.cast("double"))))
      .groupBy("label", "pos").agg(avg("col").as("c"))
      .collect().groupBy(_.getInt(0))
      .map { case (l, rs) => l -> rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq }
    assert(fast.keySet == naive.keySet)
    fast.foreach { case (l, c) =>
      c.zip(naive(l)).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
    }
  }

  test("centroid assignment picks the true nearest centroid; clean clusters are is_own") {
    import spark.implicits._
    // two orthogonal clusters + one mislabeled vector
    val vecs = Seq(
      (0L, 0, Array(1.0f, 0.1f, 0.0f)),
      (1L, 0, Array(0.9f, 0.0f, 0.1f)),
      (2L, 1, Array(0.0f, 1.0f, 0.1f)),
      (3L, 1, Array(0.1f, 0.9f, 0.0f)),
      (4L, 1, Array(1.0f, 0.0f, 0.0f)) // labeled 1, sits in cluster 0
    ).toDF("vec_id", "label", "embedding")
    val out = Similarity
      .centroidAssign(vecs, Similarity.labelCentroids(vecs))
      .collect().map(r => r.getLong(0) -> (r.getInt(2), r.getInt(4))).toMap
    assert(out(0) == (0, 1) && out(1) == (0, 1))
    assert(out(2) == (1, 1) && out(3) == (1, 1))
    assert(out(4)._1 == 0 && out(4)._2 == 0, "mislabeled vector must assign to the other centroid")
  }

  test("hard negatives: top-k other-label neighbors, never the query's own label") {
    val emb = Tables.embeddings(spark, SfDir)
    val q = emb.where(col("vec_id") < 3)
    val out = Similarity.hardNegatives(q, emb, k = 4).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getInt(1) != r.getInt(3), "a hard negative must differ in label"))
    // per query: exactly k rows, cosines non-increasing by rank
    out.groupBy(_.getLong(0)).values.foreach { rs =>
      assert(rs.length == 4)
      val byRank = rs.sortBy(_.getLong(5)).map(_.getDouble(4))
      assert(byRank.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    }
    // cross-check rank-1 against a collect-side filter of the full knn domain
    val all = Similarity.bruteForceKnn(q, emb, k = 500).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.filter(_.getLong(5) == 1L).foreach { r =>
      val qid = r.getLong(0)
      val best = all.collect {
        case ((q2, n), cos) if q2 == qid && labels(n) != labels(qid) => cos
      }.max
      assert(math.abs(best - r.getDouble(4)) < 1e-9)
    }
  }

  test("kmeans: objective (mean assignment cosine) is non-decreasing in iterations") {
    val emb = Tables.embeddings(spark, SfDir)
    // spherical Lloyd with mean-of-unit-vectors M-step: each added iteration
    // cannot lower the summed cosine (modulo the 1e-6 centroid quantization)
    val objs = (1 to 3).map { t =>
      Similarity.kmeans(emb, k = 4, iters = t)
        .agg(avg(col("cosine"))).first().getDouble(0)
    }
    objs.sliding(2).foreach {
      case Seq(a, b) => assert(b >= a - 1e-4, s"objective fell: $objs")
      case _ =>
    }
  }

  test("kmeans: deterministic under input partitioning, every vector assigned once") {
    val emb = Tables.embeddings(spark, SfDir)
    val a = Similarity.kmeans(emb, 4, 2).orderBy("vec_id").collect().toSeq
    val b = Similarity.kmeans(emb.repartition(7), 4, 2).orderBy("vec_id").collect().toSeq
    // the per-iteration 6-decimal centroid rounding absorbs partition-order
    // float-sum drift, so the layout is a pure function of the data
    assert(a == b)
    assert(a.length == emb.count())
    val clusters = a.map(_.getAs[Long]("cluster")).toSet
    assert(clusters.nonEmpty && clusters.size <= 4)
    assert(clusters.forall(c => c >= 0 && c < 4))
  }

  test("semdedup: exactly the exact pair set restricted to co-clustered ids") {
    val emb = Tables.embeddings(spark, SfDir)
    val sem = Similarity.semanticNearDupPairsKmeans(emb, 0.4, k = 4, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    val clusterOf = Similarity.kmeans(emb, 4, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = Similarity.cosineNearDupPairs(emb, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = exact.filter { case (a, b, _) => clusterOf(a) == clusterOf(b) }
    // subset of the ground truth with bitwise-identical cosines, and no
    // co-clustered pair missing — the recall loss is EXACTLY the
    // cross-cluster pairs, nothing else
    assert(sem == expected, s"semdedup must equal exact∩co-clustered; diff ${sem.diff(expected) ++ expected.diff(sem)}")
    assert(exact.nonEmpty && sem.subsetOf(exact))
  }

  test("kmeans: degenerate inputs fail loudly, not with NaN assignments") {
    import spark.implicits._
    // all-zero vectors → no direction anywhere → empty seed set must throw
    // a clear requirement, not an opaque zero-arg greatest() analysis error
    val zeros = Seq(
      (1L, Array(0.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](Similarity.kmeans(zeros, k = 2, iters = 1))
    assert(e.getMessage.contains("no nonzero-norm vectors"))
    // plan-literal budget guard
    val ok = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val g = intercept[IllegalArgumentException](Similarity.kmeans(ok, k = 5000, iters = 1))
    assert(g.getMessage.contains("plan-literal"))
  }

  test("ivf knn: neighbors share the query's fitted cell; cosines exact within the probed cell") {
    val emb = Tables.embeddings(spark, SfDir)
    val fitted = Similarity.kmeans(emb, 4, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Similarity.ivfKnn(emb.where(col("vec_id") < 5), emb, k = 3, cells = 4, iters = 2)
      .collect()
    assert(got.nonEmpty)
    // single-probe: every neighbor is a member of the query's own cell, and
    // a corpus-member query probes exactly its fitted cell
    got.foreach { r =>
      assert(fitted(r.getLong(1)) == fitted(r.getLong(0)),
        s"neighbor ${r.getLong(1)} outside query ${r.getLong(0)}'s cell")
    }
    // exact within the cell: cosine equals the brute-force cosine of the pair
    val bmap = Similarity.bruteForceKnn(emb.where(col("vec_id") < 5), emb, k = 10000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    got.foreach { r =>
      assert(bmap((r.getLong(0), r.getLong(1))) == r.getDouble(2))
    }
    // ranks are 1..n per query, descending cosine
    got.groupBy(_.getLong(0)).values.foreach { rows =>
      val byRank = rows.sortBy(_.getLong(3))
      assert(byRank.map(_.getLong(3)).toSeq == (1 to byRank.length).map(_.toLong))
      assert(byRank.map(_.getDouble(2)).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    }
  }

  test("persisted ivf index: parquet round-trip is bitwise the fit; probe without re-fit matches") {
    val emb = Tables.embeddings(spark, SfDir)
    val idx = s"${GraftSession.target}/similarity_spec/ivf_index"
    Similarity.ivfIndexWrite(emb, cells = 4, iters = 2, indexPath = idx)
    // stored centroids == a fresh deterministic fit's centroids, bitwise
    // (doubles round-trip parquet exactly)
    val (freshAssign, freshCents) = Similarity.kmeansFit(emb, 4, 2)
    val stored = spark.read.parquet(s"$idx/centroids").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).sortBy(_._1).toSeq
    assert(stored == freshCents.map { case (c, v) => c -> v.toSeq }.sortBy(_._1))
    // stored assignment == the fresh fit's assignment, row for row
    val sa = spark.read.parquet(s"$idx/assignments").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(sa == freshAssign.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq)
    // probing the stored index (no re-fit) returns exactly ivfKnn's result
    val queries = emb.where(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).sorted.toSeq
    assert(
      rows(Similarity.ivfKnnPersisted(queries, emb, idx, k = 3, cells = 4, iters = 2)) ==
        rows(Similarity.ivfKnn(queries, emb, k = 3, cells = 4, iters = 2)))
    // multi-probe parity too (the recall knob works off the stored index)
    assert(
      rows(Similarity.ivfKnnPersisted(queries, emb, idx, k = 3, cells = 4, iters = 2, nProbes = 2)) ==
        rows(Similarity.ivfKnn(queries, emb, k = 3, cells = 4, iters = 2, nProbes = 2)))
  }

  test("ivf index append: write(A)+append(B) equals assigning A∪B against A's frozen centroids") {
    val emb = Tables.embeddings(spark, SfDir)
    val idx = s"${GraftSession.target}/similarity_spec/ivf_index_incr"
    val a = emb.where(pmod(col("vec_id"), lit(5)) =!= 0)
    val b = emb.where(pmod(col("vec_id"), lit(5)) === 0)
    Similarity.ivfIndexWrite(a, cells = 4, iters = 2, indexPath = idx)
    // driftTol is caller-tuned: at sf0.001 a 4-cell quantizer fit on 400
    // vectors assigns a held-out 100 with high variance, so the gate here
    // is loose — the drift test below measures the real gap and pins the
    // gate arithmetic against it
    val report = Similarity.ivfIndexAppend(b, idx, cells = 4, iters = 2, driftTol = 0.5)
      .collect().head
    // the append EQUIVALENCE LAW: assignments table == one-shot assignment
    // of the union against the stored (frozen, rounded) centroids
    val cents = spark.read.parquet(s"$idx/centroids").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).sortBy(_._1).toSeq
    val expected = Similarity.assignCells(
      Similarity.unitized(emb, "vec_id", "embedding"), cents)
      .select(col("vec_id"), col("cluster"), round(col("cos"), 6).as("cosine"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val stored = spark.read.parquet(s"$idx/assignments").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(stored == expected, "appended assignments must equal the frozen-quantizer one-shot")
    // generation bookkeeping: version bumped, counts add up, report sane
    val meta = spark.read.parquet(s"$idx/meta").head()
    assert(meta.getAs[Long]("version") == 1L)
    assert(meta.getAs[Long]("n_vectors") == stored.length.toLong)
    assert(report.getAs[Long]("n_appended") == b.count())
    assert(!report.getAs[Boolean]("refit_recommended"),
      "an in-distribution batch (a slice of the same corpus) must not trip the drift gate")
    // probe of the appended index == probe of a one-shot frozen index state
    val q = emb.where(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).sorted.toSeq
    val probed = rows(Similarity.ivfKnnPersisted(q, emb, idx, k = 3, cells = 4, iters = 2))
    assert(probed.nonEmpty)
  }

  test("kCenterGreedy: matches the naive greedy replay; radius curve non-increasing; centers distinct") {
    val emb = Tables.embeddings(spark, SfDir).where(col("vec_id") < 60)
    val out = Similarity.kCenterGreedy(emb, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .sortBy(_._1)
    assert(out.map(_._2).distinct.length == 4, "centers must be distinct")
    val radii = out.flatMap(_._3)
    assert(radii.zip(radii.tail).forall { case (a, b) => b <= a },
      s"covering radius must be non-increasing: ${radii.toSeq}")
    // naive replay: same unitization, same rounded-distance argmax
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .filter { case (_, v) => v.exists(_ != 0.0) }
      .map { case (id, v) =>
        val nrm = math.sqrt(v.map(x => x * x).sum)
        id -> v.map(_ / nrm)
      }.sortBy(_._1)
    def dist(a: Array[Double], b: Array[Double]): Double =
      BigDecimal(1.0 - a.zip(b).map { case (x, y) => x * y }.sum)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var centers = Vector(vecs.head._1)
    var md = vecs.map { case (id, _) => id -> 2.0 }.toMap
    val lookup = vecs.toMap
    (1 until 4).foreach { _ =>
      val c = lookup(centers.last)
      md = md.map { case (id, m) => id -> math.min(m, dist(lookup(id), c)) }
      val next = md.toSeq.sortBy { case (id, m) => (-m, id) }.head._1
      centers = centers :+ next
    }
    assert(out.map(_._2).toSeq == centers,
      s"distributed greedy must equal the naive replay: ${out.map(_._2).toSeq} vs $centers")
  }

  test("snapshot ivf index: generations commit atomically; a pinned probe never sees the append") {
    val emb = Tables.embeddings(spark, SfDir)
    val idx = s"${GraftSession.target}/similarity_spec/ivf_index_snap"
    val idxPlain = s"${GraftSession.target}/similarity_spec/ivf_index_snap_plain"
    new graft.sources.SnapshotLog(s"$idx/assignments_log").recreate()
    val a = emb.where(pmod(col("vec_id"), lit(5)) =!= 0)
    val b = emb.where(pmod(col("vec_id"), lit(5)) === 0)
    val q = emb.where(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).sorted.toSeq
    val v0 = Similarity.ivfIndexWriteSnapshot(a, cells = 4, iters = 2, indexPath = idx)
    val before = rows(Similarity.ivfKnnSnapshot(q, emb, idx, k = 3, cells = 4, iters = 2,
      version = Some(v0)))
    val rep = Similarity.ivfIndexAppendSnapshot(b, idx, cells = 4, iters = 2, driftTol = 0.5)
      .collect().head
    assert(rep.getAs[Long]("version") == v0 + 1, "append must commit the next generation")
    // the PINNED generation is immutable: same probe, same result, after v1
    val pinned = rows(Similarity.ivfKnnSnapshot(q, emb, idx, k = 3, cells = 4, iters = 2,
      version = Some(v0)))
    assert(pinned == before, "a pinned probe must never observe a later append")
    // the latest generation equals the plain parquet-append index state
    Similarity.ivfIndexWrite(a, cells = 4, iters = 2, indexPath = idxPlain)
    Similarity.ivfIndexAppend(b, idxPlain, cells = 4, iters = 2, driftTol = 0.5)
    assert(
      rows(Similarity.ivfKnnSnapshot(q, emb, idx, k = 3, cells = 4, iters = 2)) ==
        rows(Similarity.ivfKnnPersisted(q, emb, idxPlain, k = 3, cells = 4, iters = 2)),
      "latest snapshot generation must equal the plain appended index")
  }

  test("ivf index append: overlapping ids fail loudly; drift gate fires on an out-of-distribution batch") {
    val emb = Tables.embeddings(spark, SfDir)
    import spark.implicits._
    val idx = s"${GraftSession.target}/similarity_spec/ivf_index_drift"
    Similarity.ivfIndexWrite(emb, cells = 4, iters = 2, indexPath = idx)
    // re-ingesting an indexed id must fail, not silently duplicate probes
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfIndexAppend(emb.where(col("vec_id") < 3), idx, cells = 4, iters = 2)
    }
    assert(e.getMessage.contains("shares ids"))
    // geometry mismatch fails loudly (the shared loadVerifiedIndex guard)
    val g = intercept[IllegalArgumentException] {
      Similarity.ivfIndexAppend(
        Seq((100000L, Array.fill(64)(1.0f))).toDF("vec_id", "embedding"),
        idx, cells = 8, iters = 2)
    }
    assert(g.getMessage.contains("cells=4"))
    // drift: axis-aligned basis vectors are far from any fitted centroid of
    // near-isotropic data — batch mean cos drops well below the fit mean.
    // First append with a gate that can't fire to MEASURE the drop, then
    // re-create and append with the gate set inside the measured gap.
    val basis = (0 until 8).map { i =>
      (200000L + i, Array.tabulate(64)(j => if (j == i) 1.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    val r1 = Similarity.ivfIndexAppend(basis, idx, cells = 4, iters = 2, driftTol = 1e9)
      .collect().head
    val gap = r1.getAs[Double]("mean_cos_fit") - r1.getAs[Double]("mean_cos_batch")
    assert(gap > 0, "basis vectors must assign worse than the fit baseline")
    assert(!r1.getAs[Boolean]("refit_recommended"))
    Similarity.ivfIndexWrite(emb, cells = 4, iters = 2, indexPath = idx)
    val r2 = Similarity.ivfIndexAppend(basis, idx, cells = 4, iters = 2, driftTol = gap / 2)
      .collect().head
    assert(r2.getAs[Boolean]("refit_recommended"),
      "a batch assigning driftTol worse than the fit baseline must flag a re-fit")
  }

  test("persisted ivf index: probing with mismatched geometry fails loudly") {
    val emb = Tables.embeddings(spark, SfDir)
    val idx = s"${GraftSession.target}/similarity_spec/ivf_index_geom"
    Similarity.ivfIndexWrite(emb, cells = 4, iters = 2, indexPath = idx)
    val queries = emb.where(col("vec_id") < 5)
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfKnnPersisted(queries, emb, idx, k = 3, cells = 8, iters = 2)
    }
    assert(e.getMessage.contains("cells=4"))
  }

  test("ivf knn multi-probe: recall monotone in probes; probing every cell equals brute force") {
    val emb = Tables.embeddings(spark, SfDir)
    val queries = emb.where(col("vec_id") < 5)
    def run(p: Int) = Similarity.ivfKnn(queries, emb, k = 3, cells = 4, iters = 2, nProbes = p)
      .collect().groupBy(_.getLong(0))
    val single = run(1)
    val mp = run(2)
    // widening the probe set can only improve (or keep) each rank's cosine
    mp.foreach { case (q, rows) =>
      val mpByRank = rows.sortBy(_.getLong(3)).map(_.getDouble(2))
      val sByRank = single.getOrElse(q, Array.empty).sortBy(_.getLong(3)).map(_.getDouble(2))
      sByRank.zip(mpByRank).foreach { case (s, m) => assert(m >= s) }
      assert(mpByRank.length >= sByRank.length)
    }
    // nProbes = cells degenerates to exact brute force
    val all = run(4).map { case (q, rows) =>
      q -> rows.sortBy(_.getLong(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq
    }
    val brute = Similarity.bruteForceKnn(queries, emb, k = 3).collect()
      .groupBy(_.getLong(0)).map { case (q, rows) =>
        q -> rows.sortBy(_.getLong(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq
      }
    assert(all == brute)
  }

  test("product quantization: each subspace code equals kmeans on that slice; codes in range") {
    val emb = Tables.embeddings(spark, SfDir)
    val pq = Similarity.quantizePq(emb, m = 4, k = 4, iters = 2).collect()
      .map(r => r.getLong(0) -> (0 until 4).map(s => r.getLong(1 + s))).toMap
    assert(pq.nonEmpty)
    // subspace 1 (dims 17..32) replayed directly through kmeans on the slice
    val sub = emb.select(col("vec_id"), slice(col("embedding"), 17, 16).as("embedding"))
    val km = Similarity.kmeans(sub, 4, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    pq.foreach { case (id, codes) => assert(codes(1) == km(id)) }
    // every code is a seeded cell id
    pq.values.foreach(cs => cs.foreach(c => assert(c >= 0 && c < 4)))
    // m must divide dim
    val e = intercept[IllegalArgumentException](Similarity.quantizePq(emb, m = 5))
    assert(e.getMessage.contains("must divide"))
  }

  test("pq adc: score equals an independent codebook-lookup recomputation; ranks ordered") {
    val emb = Tables.embeddings(spark, SfDir)
    val queries = emb.where(col("vec_id") < 3)
    val got = Similarity.pqAdcKnn(queries, emb, k = 3, m = 4, cells = 4, iters = 2).collect()
    assert(got.nonEmpty)
    // rebuild codes and codebooks via the same deterministic fits, then
    // recompute every score in plain Scala (different join path, same
    // arithmetic — left-to-right dot, left-assoc subspace sum)
    val codes = Similarity.quantizePq(emb, m = 4, k = 4, iters = 2).collect()
      .map(r => r.getLong(0) -> (0 until 4).map(s => r.getLong(1 + s))).toMap
    val subDim = 16
    val cents: Seq[Map[Long, Array[Double]]] = (0 until 4).map { s =>
      val sub = emb.select(col("vec_id"),
        slice(col("embedding"), s * subDim + 1, subDim).as("embedding"))
      Similarity.kmeansFit(sub, 4, 2)._2.toMap
    }
    val qvecs = queries.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    got.foreach { r =>
      val (q, n) = (r.getLong(0), r.getLong(1))
      val expected = (0 until 4).map { s =>
        val cv = cents(s)(codes(n)(s))
        val qs = qvecs(q).slice(s * subDim, (s + 1) * subDim)
        qs.indices.foldLeft(0.0)((acc, i) => acc + qs(i) * cv(i))
      }.reduce(_ + _)
      val rounded = BigDecimal(expected).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(2) == rounded, s"adc mismatch for ($q, $n)")
    }
    // per-query: ranks 1..n, scores descending
    got.groupBy(_.getLong(0)).values.foreach { rows =>
      val byRank = rows.sortBy(_.getLong(3))
      assert(byRank.map(_.getLong(3)).toSeq == (1 to byRank.length).map(_.toLong))
      assert(byRank.map(_.getDouble(2)).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    }
  }

  test("ivf-adc: subset of whole-corpus adc restricted to probed cells, same scores") {
    val emb = Tables.embeddings(spark, SfDir)
    val queries = emb.where(col("vec_id") < 5)
    val got = Similarity.ivfPqAdcKnn(queries, emb, k = 3,
      coarseCells = 4, coarseIters = 2, nProbes = 2, m = 4, pqCells = 4, pqIters = 2)
      .collect()
    assert(got.nonEmpty)
    // the candidate restriction must only SHRINK the scored set: every
    // (query, neighbor, score) must appear with the identical ADC score in
    // the whole-corpus scan (large k so ranking differences don't hide rows)
    val full = Similarity.pqAdcKnn(queries, emb, k = 10000, m = 4, cells = 4, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    got.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(full.get(key).contains(r.getDouble(2)),
        s"ivf-adc score for $key diverges from whole-corpus adc")
    }
    // every neighbor must share one of the query's nProbes probed cells
    val (assign, cents) = Similarity.kmeansFit(emb, 4, 2)
    val cellOf = assign.select(col("vec_id"), col("cluster")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val probed = Similarity.ivfKnn(queries, emb, k = 10000, cells = 4, iters = 2, nProbes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    got.foreach { r =>
      assert(probed.contains((r.getLong(0), r.getLong(1))),
        s"neighbor ${r.getLong(1)} of query ${r.getLong(0)} " +
          s"(cell ${cellOf(r.getLong(1))}) is outside the probed cells")
    }
    // ranks 1..n per query, scores descending
    got.groupBy(_.getLong(0)).values.foreach { rows =>
      val byRank = rows.sortBy(_.getLong(3))
      assert(byRank.map(_.getLong(3)).toSeq == (1 to byRank.length).map(_.toLong))
      assert(byRank.map(_.getDouble(2)).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    }
  }

  test("quantizeEmbeddings: hand-computed codes; constant dim encodes 0; flat columns agree") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(0.0f, 5.0f, 1.0f)),
      (2L, Array(1.0f, 5.0f, 3.0f)),
      (3L, Array(2.0f, 5.0f, 5.0f))).toDF("vec_id", "embedding")
    val got = Similarity.quantizeEmbeddings(df, levels = 4).orderBy("vec_id").collect()
    // dim1 range [0,2]: code = min(floor(2x), 3) → 0, 2, 3 (max clamps)
    // dim2 constant → 0; dim3 range [1,5]: min(floor(x-1), 3) → 0, 2, 3
    def codes(i: Int) = got(i).getAs[collection.Seq[Long]]("codes")
    assert(codes(0) == Seq(0L, 0L, 0L))
    assert(codes(1) == Seq(2L, 0L, 2L))
    assert(codes(2) == Seq(3L, 0L, 3L))
    got.foreach { r =>
      val cs = r.getAs[collection.Seq[Long]]("codes")
      assert(r.getAs[Long]("q_min") == cs.min)
      assert(r.getAs[Long]("q_max") == cs.max)
      assert(r.getAs[Long]("q_sum") == cs.sum)
      val fp = java.security.MessageDigest.getInstance("MD5")
        .digest(cs.mkString(" ").getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
      assert(r.getAs[String]("q_fp") == fp)
    }
  }

  test("quantizeEmbeddings: codes are monotone in the input values per dimension") {
    // the property that makes range queries on codes meaningful
    val emb = Tables.embeddings(spark, SfDir)
    val q = Similarity.quantizeEmbeddings(emb)
    val joined = emb.select(col("vec_id"), col("embedding")).join(q, "vec_id")
      .select(col("embedding").cast("array<double>").as("v"), col("codes")).collect()
    val byDim = joined.flatMap { r =>
      val v = r.getAs[collection.Seq[Double]]("v")
      val c = r.getAs[collection.Seq[Long]]("codes")
      v.indices.map(d => (d, v(d), c(d)))
    }.groupBy(_._1)
    byDim.values.foreach { rows =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._3).sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
    }
  }

  test("quantizeEmbeddings: empty input fails loudly") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](Similarity.quantizeEmbeddings(empty))
    assert(e.getMessage.contains("no input vectors"))
  }

  test("randomProjection: shape, determinism, and JL norm preservation") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, SfDir)
    val n = emb.count()
    val p = Similarity.randomProjection(emb)
    val rows = p.collect()
    assert(rows.length == n * 16, "one row per (vec, out_dim)")
    // deterministic: a second run is identical
    assert(Similarity.randomProjection(emb).collect().toSeq == rows.toSeq)
    // JL: E[||y||^2] == ||x||^2; with m=16 the per-vector ratio is noisy
    // but the MEAN ratio over the fixture must sit near 1
    val projNorm = p.groupBy(col("vec_id"))
      .agg(sum(col("val") * col("val")).as("y2"))
    val rawNorm = emb.select(
      col("vec_id"),
      expr("aggregate(embedding, cast(0.0 as double), (a, x) -> a + x * x)").as("x2"))
    val meanRatio = projNorm.join(rawNorm, "vec_id")
      .agg(avg(col("y2") / col("x2"))).head().getDouble(0)
    assert(meanRatio > 0.8 && meanRatio < 1.2,
      s"mean norm ratio $meanRatio outside the JL expectation band")
  }

  test("knnShapley: hand-computed suffix recursion; nearest same-label high, wrong-label negative") {
    import spark.implicits._
    // K=1, one test (code 1, label A=0): train order by distance is
    // id1(A, d=1), id2(B, d=16), id3(A, d=64); exact values 5/6, -1/6, 1/3
    val train = Seq(
      (1L, Seq(0L), 0L), (2L, Seq(5L), 1L), (3L, Seq(9L), 0L))
      .toDF("vec_id", "codes", "label")
    val test = Seq((0L, Seq(1L), 0L)).toDF("vec_id", "codes", "label")
    val got = Similarity.knnShapley(train, test, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 0L, 833333333333L, 1L),
      (2L, 1L, -166666666667L, 1L),
      (3L, 0L, 333333333333L, 1L)))
  }

  test("knnShapley: two tests sum per train point; constant-label data values everyone equally at rank-independent base") {
    import spark.implicits._
    // all labels equal -> every ind = 1, every delta term 0: each s_i is
    // exactly scale div N for EVERY test point regardless of distances
    val train = Seq(
      (1L, Seq(0L, 0L), 7L), (2L, Seq(3L, 4L), 7L),
      (3L, Seq(9L, 1L), 7L), (4L, Seq(2L, 8L), 7L))
      .toDF("vec_id", "codes", "label")
    val test = Seq((10L, Seq(1L, 1L), 7L), (20L, Seq(5L, 5L), 7L))
      .toDF("vec_id", "codes", "label")
    val got = Similarity.knnShapley(train, test, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    val perTest = 1000000000000L / 4
    assert(got.forall { case (_, s, n) => n == 2L && s == 2L * perTest })
    intercept[IllegalArgumentException](
      Similarity.knnShapley(train.limit(0), test, k = 2))
  }
}
