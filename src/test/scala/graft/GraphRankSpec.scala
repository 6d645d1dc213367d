package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.Trace
import graft.operators.GraphRank

/** Integer PageRank: hand-computed fixtures verify every floor-division
  * step exactly (the same arithmetic the DuckDB oracle unrolls), plus the
  * structural invariants (mass bound, symmetry, isolated-node exclusion,
  * reliable-checkpoint path agreement).
  */
class GraphRankSpec extends AnyFunSuite with TempRoots {
  import SparkTestSession._

  private def pathPairs = {
    import spark.implicits._
    // path graph 1 — 2 — 3, unit weights
    Seq((1L, 2L, 1L), (2L, 3L, 1L)).toDF("doc_a", "doc_b", "n_shared")
  }

  private def ranksOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("path graph: iteration 1 matches the hand computation exactly") {
    // n=3, r0 = 1e6 div 3 = 333333, tele = (333333*15) div 100 = 49999
    // wsum: 1→1, 2→2, 3→1; contribs: 1→2 333333, 2→1 166666,
    // 2→3 166666, 3→2 333333; r1 = tele + (85·inc) div 100
    val got = ranksOf(GraphRank.pagerank(pathPairs, iters = 1, scale = 1000000L))
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got(1L) == got(3L), "symmetric path ends must tie exactly")
    assert(got(2L) > got(1L), "the center of the path outranks the ends")
    assert(got(1L) == 49999L + (85L * 166666L) / 100L)
    assert(got(2L) == 49999L + (85L * (333333L + 333333L)) / 100L)
  }

  test("path graph: two iterations, exact floor-division chain") {
    val got = ranksOf(GraphRank.pagerank(pathPairs, iters = 2, scale = 1000000L))
    // replay in plain Scala Long arithmetic (the reference semantics)
    val n = 3L; val scale = 1000000L
    val r0 = scale / n
    val tele = ((scale / n) * 15L) / 100L
    def step(r: Map[Long, Long]): Map[Long, Long] = {
      // edges with wsum: 1:(2,1,1) 2:(1,1,2),(3,1,2) 3:(2,1,1)
      val inc = Map(
        1L -> (r(2L) * 1L) / 2L,
        2L -> ((r(1L) * 1L) / 1L + (r(3L) * 1L) / 1L),
        3L -> (r(2L) * 1L) / 2L)
      inc.map { case (k, v) => k -> (tele + (85L * v) / 100L) }
    }
    val expected = step(step(Map(1L -> r0, 2L -> r0, 3L -> r0)))
    assert(got == expected)
  }

  test("weighted edges steer rank toward the heavy neighbor") {
    import spark.implicits._
    // 1 —w=3— 2 and 1 —w=1— 3: node 2 receives 3x node 3's share from 1
    val pairs = Seq((1L, 2L, 3L), (1L, 3L, 1L)).toDF("doc_a", "doc_b", "n_shared")
    val got = ranksOf(GraphRank.pagerank(pairs, iters = 1, scale = 1000000L))
    assert(got(2L) > got(3L))
    // exact: r0=333333, tele=49999, wsum(1)=4
    // inc(2) = (333333*3) div 4 = 249999; inc(3) = 333333 div 4 = 83333
    assert(got(2L) == 49999L + (85L * 249999L) / 100L)
    assert(got(3L) == 49999L + (85L * 83333L) / 100L)
  }

  test("total mass never exceeds scale and every node keeps positive rank") {
    val got = ranksOf(GraphRank.pagerank(pathPairs, iters = 6, scale = 1000000L))
    assert(got.values.sum <= 1000000L, "floor truncation can only leak mass")
    assert(got.values.forall(_ > 0L))
  }

  test("isolated documents are not graph nodes (no rank row)") {
    import spark.implicits._
    val pairs = Seq((1L, 2L, 2L)).toDF("doc_a", "doc_b", "n_shared")
    val got = ranksOf(GraphRank.pagerank(pairs, iters = 2, scale = 1000000L))
    assert(got.keySet == Set(1L, 2L))
  }

  test("reliable-checkpoint path agrees with the local lineage-truncation path") {
    val local = ranksOf(GraphRank.pagerank(pathPairs, iters = 3, scale = 1000000L))
    val dir = tempRoot("graft-pr-ckpt").toString
    val durable = ranksOf(GraphRank.pagerank(
      pathPairs, iters = 3, scale = 1000000L, checkpointDir = Some(dir)))
    assert(local == durable)
  }

  test("empty pair set fails loudly, not with an opaque plan error") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, Long)].toDF("doc_a", "doc_b", "n_shared")
    val e = intercept[IllegalArgumentException] {
      GraphRank.pagerank(empty, iters = 1)
    }
    assert(e.getMessage.contains("empty graph"))
  }

  test("personalized: teleport mass lands only on the seed; exact hand computation") {
    // path 1—2—3 seeded at {1}: tele(1) = ((1e6 div 1)·15) div 100 = 150000,
    // tele(2) = tele(3) = 0; contribs as in the classic fixture
    val got = ranksOf(GraphRank.personalizedPagerank(
      pathPairs, seeds = Seq(1L), iters = 1, scale = 1000000L))
    assert(got(1L) == 150000L + (85L * 166666L) / 100L)
    assert(got(2L) == 0L + (85L * (333333L + 333333L)) / 100L)
    assert(got(3L) == 0L + (85L * 166666L) / 100L)
    // proximity property: the seed side of the path outranks the far end
    assert(got(1L) > got(3L))
  }

  // richer fixture for the batched runs: two weighted triangles bridged at 3—4
  private def bridgedPairs = {
    import spark.implicits._
    Seq(
      (1L, 2L, 1L), (2L, 3L, 2L), (1L, 3L, 1L),
      (3L, 4L, 1L),
      (4L, 5L, 3L), (5L, 6L, 1L), (4L, 6L, 2L)).toDF("doc_a", "doc_b", "n_shared")
  }

  test("multi-seed PPR is bitwise equal to the union of single-seed runs") {
    val seeds = Seq(1L, 4L, 6L)
    val multi = GraphRank
      .personalizedPagerankMulti(bridgedPairs, seeds, iters = 3, scale = 1000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val single = seeds.flatMap { sd =>
      GraphRank.personalizedPagerank(bridgedPairs, Seq(sd), iters = 3, scale = 1000000L)
        .collect().map(r => (sd, r.getLong(0)) -> r.getLong(1))
    }.toMap
    assert(multi == single,
      "every (seed, node, rank) row must replay the single-seed integer chain bitwise")
    // sanity: each seed's block is a full rank vector over the 6 nodes
    assert(multi.keySet.map(_._1) == seeds.toSet)
    assert(multi.size == seeds.size * 6)
  }

  test("multi-seed PPR: duplicate seeds collapse; absent seed fails loudly") {
    val dedup = GraphRank
      .personalizedPagerankMulti(bridgedPairs, Seq(1L, 1L, 4L), iters = 1, scale = 1000000L)
      .collect()
    assert(dedup.map(_.getLong(0)).distinct.sorted.toSeq == Seq(1L, 4L))
    val e = intercept[IllegalArgumentException] {
      GraphRank.personalizedPagerankMulti(bridgedPairs, Seq(1L, 99L), iters = 1,
        scale = 1000000L).collect()
    }
    assert(e.getMessage.contains("not graph nodes"))
  }

  test("multi-seed PPR: driver-side action count is independent of seed count") {
    // The point of the batched form: S seeds must NOT mean S·iters graph
    // passes. Count distinct root SQL-execution ids (ACTIONS) in a job
    // group — the DedupSpec job-pin discipline — for S=1 vs S=3 and demand
    // they match exactly (2 counts + the collect, plus any lazy-checkpoint
    // materializations, all of which are per-RUN, never per-seed).
    def actionsFor(seeds: Seq[Long], group: String): Int = {
      val (_, trace) = Trace.capture(spark) {
        spark.sparkContext.setJobGroup(group, "multi-ppr action pin")
        try {
          GraphRank.personalizedPagerankMulti(bridgedPairs, seeds, iters = 2,
            scale = 1000000L).collect()
        } finally spark.sparkContext.clearJobGroup()
      }
      trace.jobs.filter(_.group.contains(group)).flatMap(_.rootExecutionId).distinct.size
    }
    val one = actionsFor(Seq(1L), "graphrank-multi-pin-s1")
    val three = actionsFor(Seq(1L, 4L, 6L), "graphrank-multi-pin-s3")
    assert(one == three,
      s"actions must not scale with seed count: S=1 ran $one, S=3 ran $three")
  }

  test("personalized: seeds absent from the graph fail loudly; empty seeds rejected") {
    val e = intercept[IllegalArgumentException] {
      GraphRank.personalizedPagerank(pathPairs, seeds = Seq(99L), iters = 1,
        scale = 1000000L).collect()
    }
    assert(e.getMessage.contains("no seed is a graph node"))
    intercept[IllegalArgumentException] {
      GraphRank.personalizedPagerank(pathPairs, seeds = Seq.empty, iters = 1)
    }
  }

  test("triangleStats: hand-computed census on a triangle plus a hub spoke") {
    import spark.implicits._
    // 1-2-3 is a triangle; 4 touches 1 and 5 (wedge, no closure); edges
    // arrive in MIXED orientation and with one duplicate to prove
    // canonicalization
    val pairs = Seq(
      (1L, 2L), (3L, 2L), (1L, 3L), (4L, 1L), (4L, 5L), (2L, 1L))
      .toDF("doc_a", "doc_b")
    val got = GraphRank.triangleStats(pairs)
      .collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("degree"),
        r.getAs[Long]("n_triangles"), r.getAs[Long]("clustering_ppm"))))
      .toMap
    assert(got == Map(
      1L -> ((3L, 1L, 333333L)), // 2*1e6*1 div (3*2)
      2L -> ((2L, 1L, 1000000L)),
      3L -> ((2L, 1L, 1000000L)),
      4L -> ((2L, 0L, 0L)), // open wedge: no triangle
      5L -> ((1L, 0L, 0L)))) // degree 1: coefficient defined as 0
  }

  test("kCore: peeling CASCADES — nodes alive in round 1 die when their support peels away") {
    import spark.implicits._
    // clique {1,2,3,4} plus a chain engineered so each round kills one node:
    //   7 is a pendant of 5 (deg 1 → dies round 1)
    //   5 has {1,7,6}  (deg 3 until 7 dies → dies round 2)
    //   6 has {5,3,4}  (deg 3 until 5 dies → dies round 3)
    val pairs = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 1L), (5L, 7L),
      (6L, 5L), (6L, 3L), (6L, 4L)).toDF("doc_a", "doc_b")
    val got = GraphRank.kCore(pairs, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L), s"core nodes: ${got.toSeq}")
    // within the surviving clique every node keeps exactly its 3 clique edges
    assert(got.forall(r => r._2 == 3L), s"core degrees: ${got.toSeq}")
    assert(got.forall(_._3), "loop must reach the fixpoint, not the round cap")
    // a one-round HAVING pass would have kept 5 and 6 — pin the contrast
    val oneRound = pairs
      .select(col("doc_a").as("n")).unionByName(pairs.select(col("doc_b").as("n")))
      .groupBy("n").count().where(col("count") >= 3).collect().map(_.getLong(0)).sorted
    assert(oneRound.toSeq == Seq(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("kCore: k above the max degree empties the graph and still converges") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val got = GraphRank.kCore(pairs, k = 5).collect()
    assert(got.isEmpty)
  }

  test("shortestPaths: a cheap 2-hop path beats an expensive direct edge; multi-seed min; converged") {
    import spark.implicits._
    // 1→3 direct costs 10; 1→2→3 costs 2+3=5; seed 9 reaches 4 at 1
    val pairs = Seq(
      (1L, 3L, 10L), (1L, 2L, 2L), (2L, 3L, 3L), (9L, 4L, 1L)).toDF("doc_a", "doc_b", "w")
    val got = GraphRank.shortestPaths(pairs, Seq(1L, 9L), col("w"), maxHops = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got(1L)._1 == 0L && got(9L)._1 == 0L)
    assert(got(2L)._1 == 2L)
    assert(got(3L)._1 == 5L, "relaxation must prefer the cheaper 2-hop path")
    assert(got(4L)._1 == 1L)
    assert(got.values.forall(_._2), "fixpoint must be certified")
    intercept[IllegalArgumentException] {
      GraphRank.shortestPaths(pairs, Seq(77L), col("w"), maxHops = 4)
    }
  }

  test("modularity: two bridged triangles score the textbook 70/196; one blob scores zero") {
    import spark.implicits._
    val pairs = Seq(
      (1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L),
      (3L, 4L)).toDF("doc_a", "doc_b").withColumn("w", lit(1L))
    val twoComms = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (6L, 4L)).toDF("node", "community")
    val got = GraphRank.modularity(pairs, twoComms, col("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    // per community: deg_sum 7, internal ordered mass 6, m2 = 14:
    // q_num = 14·6 − 49 = 35 each; Q = 70/196 ≈ 0.357
    assert(got.toSeq == Seq(
      (1L, 3L, 7L, 6L, 14L, 35L, 70L),
      (4L, 3L, 7L, 6L, 14L, 35L, 70L)))
    // the everything-in-one-community partition scores exactly zero
    val blob = twoComms.select(col("node"), lit(1L).as("community"))
    val q0 = GraphRank.modularity(pairs, blob, col("w")).head()
    assert(q0.getLong(5) == 0L && q0.getLong(6) == 0L)
  }

  test("labelPropagation: two bridged triangles separate; min-label ties; deterministic") {
    import spark.implicits._
    // triangles {1,2,3} and {10,11,12} bridged by 3—10
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (3L, 10L)).toDF("doc_a", "doc_b")
    def run() = GraphRank.labelPropagation(pairs, iters = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val got = run()
    assert(got == run(), "fixed rounds + min-tie-break must be deterministic")
    val byLbl = got.groupBy(_._2).view.mapValues(_.map(_._1).sorted).toMap
    // triangle one collapses to label 1 (min); triangle two is pulled by
    // the bridge but its internal majority holds — exactly two communities,
    // split at the bridge
    assert(byLbl.size == 2, s"expected 2 communities, got $byLbl")
    assert(byLbl.values.toSet == Set(Seq(1L, 2L, 3L), Seq(10L, 11L, 12L)), s"got $byLbl")
  }
}
