package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.Trace
import graft.operators.{Dedup, Similarity}

class DedupSpec extends AnyFunSuite with TempRoots {
  import SparkTestSession._

  // Measured on the 2-round star fixture below (stable across runs): each
  // round's single convergence action splits under AQE into its
  // materialized query stages. Tied to the current plan shape — re-measure
  // on a Spark upgrade; any INCREASE means an extra action entered the loop.
  private val ExpectedComponentsFixtureJobs = 9

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  test("exact dedup groups whitespace/case variants under one fingerprint") {
    val d = docs(
      (1L, "The quick  brown fox"),
      (2L, "the quick brown FOX"),   // same after normalize
      (3L, "a different document"))
    val g = Dedup.exactGroups(d).collect()
    assert(g.length == 2)
    val dupGroup = g.find(_.getLong(2) == 2).get
    assert(dupGroup.getLong(1) == 1L) // min doc_id survives
  }

  test("identical docs have jaccard 1.0; disjoint docs don't pair") {
    val d = docs(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six"))
    val pairs = Dedup.ngramJaccardPairs(d, 0.5).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 2L)
    assert(pairs.head.getDouble(2) == 1.0)
  }

  test("prefix filtering is lossless: matches naive all-pairs on real docs") {
    val d = Tables.documents(spark, SfDir)
    val filtered = Dedup.ngramJaccardPairs(d, 0.2)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // naive all-pairs reference
    val g = Dedup.shingles(d)
    val a = g.select(col("doc_id").as("doc_a"), col("grams").as("ga"))
    val b = g.select(col("doc_id").as("doc_b"), col("grams").as("gb"))
    val naive = a.join(b, col("doc_a") < col("doc_b"))
      .withColumn("ni", size(array_intersect(col("ga"), col("gb"))).cast("double"))
      .withColumn("j", col("ni") / (size(col("ga")) + size(col("gb")) - col("ni")))
      .where(col("j") >= 0.2)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(filtered == naive)
    assert(naive.nonEmpty) // planted near-dups exist in the corpus
  }

  test("prefix+length+positional filters stay lossless on randomized adversarial corpora") {
    // tiny vocabulary → massive gram collisions, duplicate docs, freq ties:
    // the regime where the rarity ordering and the fp-epsilon'd bounds are
    // most likely to break. Fixed seed for reproducibility.
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    (1 to 3).foreach { _ =>
      val d = docs((1L to 25L).map { id =>
        val len = 3 + rnd.nextInt(18)
        (id, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }: _*)
      val g = Dedup.shingles(d)
      val a = g.select(col("doc_id").as("doc_a"), col("grams").as("ga"))
      val b = g.select(col("doc_id").as("doc_b"), col("grams").as("gb"))
      Seq(0.2, 0.3, 0.5, 0.8).foreach { t =>
        val filtered = Dedup.ngramJaccardPairs(d, t)
          .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val naive = a.join(b, col("doc_a") < col("doc_b"))
          .withColumn("ni", size(array_intersect(col("ga"), col("gb"))).cast("double"))
          .withColumn("j", col("ni") / (size(col("ga")) + size(col("gb")) - col("ni")))
          .where(col("j") >= t)
          .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(filtered == naive, s"filters lost pairs at t=$t: ${naive.diff(filtered)}")
      }
    }
  }

  test("ngram prefix filter actually prunes: candidate count strictly below all-pairs") {
    val d = Tables.documents(spark, SfDir)
    val g = Dedup.shingles(d)
    val nDocs = g.count()
    val allPairs = nDocs * (nDocs - 1) / 2
    val cand = Dedup.ngramJaccardCandidates(g, 0.3).count()
    assert(cand > 0)
    assert(cand < allPairs, s"prefix filter degenerated: $cand candidates vs $allPairs all-pairs")
  }

  test("prefix epsilon guard: integer-product rounding cannot shorten the prefix") {
    // 0.07 * 100 = 7.000000000000001 in IEEE doubles — an unguarded ceil
    // yields 8, shortening doc A's prefix to 93 slots and hiding its only
    // shared grams (the 7 most frequent, rarity positions 94..100). The pair
    // IS true: B ⊂ A with |B| = 7 = 0.07·|A| ⇒ jaccard exactly 0.07.
    import spark.implicits._
    val aGrams = (1 to 93).map(i => s"u$i") ++ (1 to 7).map(i => s"s$i")
    val bGrams = (1 to 7).map(i => s"s$i")
    val g = Seq((1L, aGrams), (2L, bGrams)).toDF("doc_id", "grams")
    val cand = Dedup.ngramJaccardCandidates(g, 0.07)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 2L)), "epsilon-guarded prefix must keep the exact-threshold pair")
  }

  test("simhash default geometry is never degenerate: keys >= 16 bits") {
    (1 to 20).foreach { h =>
      val m = Dedup.defaultSimhashBlocks(h)
      assert(m > h, s"pigeonhole violated at maxHamming=$h")
      val r = m - h
      assert(r * 60.0 / m >= 16.0 - 1e-9,
        s"maxHamming=$h: nBlocks=$m gives ${r * 60.0 / m}-bit keys")
    }
    // Manku operating point: h=3 → 5 blocks, C(5,2)=10 combos, 24-bit keys
    assert(Dedup.defaultSimhashBlocks(3) == 5)
  }

  test("simhash bare default equals the explicit-geometry call") {
    val d = docs(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "utterly different content with nothing in common at all here"))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bare = pairSet(Dedup.simhashPairs(d))
    val explicit = pairSet(Dedup.simhashPairs(d, maxHamming = 3, nBlocks = 7))
    assert(bare == explicit)
  }

  test("simhash pairing plan has no cartesian or nested-loop join") {
    val d = Tables.documents(spark, SfDir)
    val plan = Dedup.simhashPairs(d, maxHamming = 6, nBlocks = 9)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "cartesian in simhash plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "nested-loop join in simhash plan")
  }

  test("simhash block-combination index is lossless: nBlocks=9 equals nBlocks=7") {
    val d = Tables.documents(spark, SfDir)
    def pairs(nb: Int) = Dedup.simhashPairs(d, maxHamming = 6, nBlocks = nb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val narrow = pairs(7)
    val wide = pairs(9)
    assert(narrow == wide)
    assert(narrow.nonEmpty)
  }

  test("connected components: chains merge, singletons self-label, rounds pinned") {
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    // chain 5-2-3 (given out of order), pair 4-6, singleton 1
    val pairs = Seq((2L, 5L), (2L, 3L), (4L, 6L)).toDF("doc_a", "doc_b")
    val (labelsDf, rounds) = Dedup.connectedComponentsWithRounds(nodes, pairs)
    val comps = labelsDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 5L -> 2L, 4L -> 4L, 6L -> 4L))
    // star-of-depth-1 graph: one propagation round + one no-change round.
    // A propagation regression (e.g. labels not flowing both directions)
    // would show up as a different count, not just a slower run.
    assert(rounds == 2, s"expected 2 rounds on the fixture, got $rounds")
  }

  test("connected components: deep chain converges in diameter rounds") {
    import spark.implicits._
    // path 1-2-3-4-5-6: min label needs 5 propagation hops to reach node 6
    val nodes = (1L to 6L).toDF("doc_id")
    val pairs = (1L to 5L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labelsDf, rounds) = Dedup.connectedComponentsWithRounds(nodes, pairs)
    val comps = labelsDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == (1L to 6L).map(_ -> 1L).toMap)
    assert(rounds == 6, s"expected diameter+1 = 6 rounds, got $rounds")
  }

  test("connected components: job count per round is pinned (one action per round)") {
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val pairs = Seq((2L, 5L), (2L, 3L), (4L, 6L)).toDF("doc_a", "doc_b")
    // suites share the session and may run in parallel: count only THIS
    // call's jobs via a job group (setJobGroup is thread-local, and the
    // components loop's actions all run on the calling thread)
    val group = "dedupspec-cc-job-pin"
    val ((_, rounds), trace) = Trace.capture(spark) {
      spark.sparkContext.setJobGroup(group, "cc job pin")
      try Dedup.connectedComponentsWithRounds(nodes, pairs)
      finally spark.sparkContext.clearJobGroup()
    }
    val jobs = trace.jobs.filter(_.group.contains(group))
    // distinct root SQL execution ids among the group's jobs = number of
    // ACTIONS: lets the failure message tell "extra action entered the loop"
    // (the r4 regression class) apart from "AQE regrouped stages" (job count
    // moves, action count doesn't)
    val executions = jobs.flatMap(_.rootExecutionId).distinct
    assert(rounds == 2)
    // Each round runs EXACTLY ONE action (the convergence agg, which also
    // materializes the round's lazy local checkpoint); AQE splits that
    // action into one job per materialized query stage. The pin is the
    // per-fixture total: a second action sneaking into the loop (the r4
    // regression class) raises it by >= rounds and fails here loudly
    // instead of just benching slower. Re-pin deliberately if the plan
    // legitimately changes (Spark upgrade, AQE stage regrouping).
    val expected = ExpectedComponentsFixtureJobs
    // Root-execution census on this fixture (SparkListenerSQLExecutionStart
    // verified): per round = ONE lazy-localCheckpoint execution (AQE
    // materializes the plan's non-final stages to hand the checkpoint its
    // RDD — those stages are REUSED by the convergence agg, not recomputed)
    // + ONE convergence first(); plus the initial labels checkpoint (1
    // distinct-shuffle job). The edges checkpoint is shuffle-free here, runs
    // 0 jobs, and so never enters the job-group count: 2·rounds + 1 = 5.
    // The two assertions separate the failure modes: execution count moves →
    // an extra ACTION entered the loop (the r4 regression class, +rounds);
    // execution count stable but job count moves → AQE stage regrouping
    // (Spark upgrade/conf), re-pin after eyeballing the descriptions.
    val expectedExecutions = 2 * rounds + 1
    assert(executions.size == expectedExecutions,
      s"components fixture ran ${executions.size} job-running actions, pinned $expectedExecutions — " +
        "an extra action entered the loop (the r4 regression class)")
    assert(jobs.size == expected,
      s"components fixture ran ${jobs.size} jobs across ${executions.size} actions, pinned $expected — " +
        "action count is still one-per-round, so this is AQE stage regrouping (Spark upgrade/conf?); " +
        "investigate before re-pinning")
  }

  test("concurrent reliable-checkpoint runs don't collide (shared session-global dir)") {
    // setCheckpointDir is session-global; durableBy namespaces each RUN via
    // the UUID subdir Spark appends, and rdd-<id> paths are unique per
    // context — so two interleaved runs must both produce their sequential
    // results even though their checkpoint files may land under either
    // run's namespace.
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = tempRoot("graft-cc-race").toString
    val nodesA = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val pairsA = Seq((2L, 5L), (2L, 3L), (4L, 6L)).toDF("doc_a", "doc_b")
    val nodesB = (10L to 16L).toDF("doc_id")
    val pairsB = (10L to 15L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val fa = Future(Dedup.connectedComponents(nodesA, pairsA, checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val fb = Future(Dedup.connectedComponents(nodesB, pairsB, checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val (a, b) = (Await.result(fa, 120.seconds), Await.result(fb, 120.seconds))
    assert(a == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 5L -> 2L, 4L -> 4L, 6L -> 4L))
    assert(b == (10L to 16L).map(_ -> 10L).toMap)
  }

  test("star contraction equals min-label propagation on randomized graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    (1 to 3).foreach { _ =>
      val n = 30 + rnd.nextInt(20)
      val nodes = (1L to n.toLong).toDF("doc_id")
      val pairs = (1 to n).map { _ =>
        val a = rnd.nextInt(n) + 1L
        val b = rnd.nextInt(n) + 1L
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).toDF("doc_a", "doc_b")
      val viaLabels = Dedup.connectedComponents(nodes, pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaStars = Dedup.connectedComponentsStar(nodes, pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaStars == viaLabels)
    }
  }

  test("star contraction handles a path graph deeper than the label-propagation budget") {
    import spark.implicits._
    // 64-node path: min-label propagation needs 64 rounds (> its default
    // maxRounds=50 budget); the star contraction is O(log² n) regardless
    val nodes = (1L to 64L).toDF("doc_id")
    val pairs = (1L to 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val comps = Dedup.connectedComponentsStar(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == (1L to 64L).map(_ -> 1L).toMap)
  }

  test("connected components: reliable-checkpoint path matches the local path") {
    import spark.implicits._
    val dir = tempRoot("graft-cc-ckpt").toString
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val pairs = Seq((2L, 5L), (2L, 3L), (4L, 6L)).toDF("doc_a", "doc_b")
    val local = Dedup.connectedComponents(nodes, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val reliable = Dedup.connectedComponents(nodes, pairs, checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reliable == local)
    // the rounds actually hit the reliable store (files survive executor loss)
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(wrote > 0, "reliable path wrote no checkpoint files")
  }

  test("minhash-routed jaccard: subset of lossless pairs, identical values, dups caught") {
    val d = Tables.documents(spark, SfDir)
    val exact = Dedup.ngramJaccardPairs(d, 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaMh = Dedup.ngramJaccardPairsViaMinhash(d, 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaMh.subsetOf(exact), "approx route emitted a pair the exact route rejects")
    // near-identical planted dups (jaccard >= 0.8) must all be caught
    val hot = exact.filter(_._3 >= 0.8)
    assert(hot.nonEmpty && hot.subsetOf(viaMh),
      s"missed ${hot.diff(viaMh).size} of ${hot.size} high-jaccard pairs")
  }

  test("winnow fingerprints match a naive reimplementation; shared runs share a print") {
    val text = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    val d = docs((1L, text))
    val got = Dedup.winnowFingerprints(d, n = 3, window = 4)
      .selectExpr("explode(fps) as fp").collect().map(_.getLong(0)).toSeq

    // naive reference: md5-derived 32-bit hash per ordered 3-gram, min per
    // 4-window, distinct ascending
    val toks = text.toLowerCase.split("\\s+").toSeq
    val hashes = toks.sliding(3).map { g =>
      val d5 = java.security.MessageDigest.getInstance("MD5")
        .digest(g.mkString(" ").getBytes("UTF-8"))
      ((d5(0) & 0xffL) << 24) | ((d5(1) & 0xffL) << 16) | ((d5(2) & 0xffL) << 8) | (d5(3) & 0xffL)
    }.toSeq
    val expected = hashes.sliding(4).map(_.min).toSeq.distinct.sorted
    assert(got == expected)

    // guarantee: two docs sharing a long token run share >= 1 fingerprint
    val pair = docs(
      (1L, "aaa bbb ccc ddd eee fff ggg unique tail one"),
      (2L, "zzz yyy aaa bbb ccc ddd eee fff ggg other ending"))
    val fps = Dedup.winnowFingerprints(pair, n = 3, window = 4)
      .selectExpr("doc_id", "explode(fps) as fp").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet)
    assert(fps(1L).intersect(fps(2L)).nonEmpty)
  }

  test("winnow overlap detects a copied passage; hot-print filter drops boilerplate") {
    val passage = "alpha beta gamma delta epsilon zeta eta theta"
    val d = docs(
      (1L, s"intro text one two $passage closing remarks here"),
      (2L, s"completely different opening words $passage and another longer tail"),
      (3L, "unrelated totally separate content with nothing in common at all"))
    val pairs = Dedup.winnowOverlapPairs(d, minShared = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"expected exactly the copied-passage pair, got $pairs")

    // boilerplate: the same passage in EVERY doc makes its prints df=3;
    // maxPrintFreq=2 drops them, so no pair survives
    val boiler = docs(
      (1L, s"$passage one ending"),
      (2L, s"$passage other closing"),
      (3L, s"$passage third variant"))
    val all = Dedup.winnowOverlapPairs(boiler, minShared = 2).collect()
    assert(all.nonEmpty)
    val filtered = Dedup.winnowOverlapPairs(boiler, minShared = 2, maxPrintFreq = 2).collect()
    assert(filtered.isEmpty, "hot prints shared by all docs must be dropped by the freq filter")
  }

  test("minhash est_jaccard is 1.0 for identical docs") {
    val d = docs(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"))
    val pairs = Dedup.minhashLshPairs(d).collect()
    assert(pairs.length == 1 && pairs.head.getDouble(2) == 1.0)
  }

  test("simhash of identical docs has hamming 0") {
    val d = docs(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),
      (3L, "totally unrelated words here made distinct"))
    val pairs = Dedup.simhashPairs(d, maxHamming = 0).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("contamination report: planted eval passage flagged, clean docs pass, counts match string grams") {
    val evalSet = docs(
      (100L, "the secret benchmark question about ancient rivers and their deltas flows"),
      (101L, "unrelated eval content entirely"))
    val training = docs(
      // copies a >= 2-gram passage from eval doc 100 → contaminated
      (1L, "my training doc mentions ancient rivers and their deltas flows too"),
      // shares single tokens but no 3-gram run → clean
      (2L, "rivers are nice and ancient things exist"),
      (3L, "completely disjoint vocabulary paragraph"))
    val report = Dedup.contaminationReport(training, evalSet)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(report.keySet == Set(1L), s"expected only doc 1 flagged, got $report")
    // the hashed-key count must equal the naive string-gram intersection
    // (no collisions at fixture size): "ancient rivers and" / "rivers and
    // their" / "and their deltas" / "their deltas flows" = 4 shared grams
    assert(report(1L) == 4L, s"expected 4 shared grams, got ${report(1L)}")
  }

  test("contamination report on the corpus equals a string-gram replay (hash keys collision-free here)") {
    val d = Tables.documents(spark, SfDir)
    val training = d.where(col("doc_id") % 50 =!= 0)
    val evalSet = d.where(col("doc_id") % 50 === 0)
    val hashed = Dedup.contaminationReport(training, evalSet)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def stringGrams(df: DataFrame) = Dedup.shingles(df)
      .select(col("doc_id"), explode(col("grams")).as("gram"))
    val viaStrings = stringGrams(training)
      .join(stringGrams(evalSet).select(col("gram")).distinct(), "gram")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .where(col("n") >= 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashed == viaStrings)
    // the shuffled-join fallback (eval side too big to broadcast) agrees
    val shuffled = Dedup.contaminationReport(training, evalSet, broadcastEval = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shuffled == hashed)
  }

  test("embedding cosine: identical vectors → 1.0, orthogonal excluded") {
    import spark.implicits._
    val v = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupPairs(v, 0.9).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getDouble(2) == 1.0)
  }

  test("containment: a quoted doc flags against its superset, not vice versa; twins flag both ways") {
    import spark.implicits._
    val core = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val d = Seq(
      1L -> core,                                         // fully inside 2
      2L -> (core + " plus a long boilerplate tail wrapping the quoted content here"),
      3L -> "completely unrelated words about some other topic entirely now",
      4L -> core,                                         // twin of 1
      5L -> "xy"                                          // no grams → no rows
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(d, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // 1 and 4 are identical: mutual containment 1.0; both sit inside 2
    assert(got((1L, 4L)) == 1.0 && got((4L, 1L)) == 1.0)
    assert(got((1L, 2L)) == 1.0 && got((4L, 2L)) == 1.0)
    // the superset is NOT contained in the quote (8 of 18 grams shared)
    assert(!got.contains((2L, 1L)) && !got.contains((2L, 4L)))
    assert(!got.keys.exists(p => p._1 == 3L || p._2 == 3L || p._1 == 5L || p._2 == 5L))
  }

  test("containment equals a naive string-gram replay on the corpus (hash keys collision-free here)") {
    val docs = Tables.documents(spark, SfDir)
    val got = Dedup.containmentPairs(docs, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val g = Dedup.shingles(docs)
    val naive = g.as("l").join(g.as("r"), col("l.doc_id") =!= col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        (size(array_intersect(col("l.grams"), col("r.grams"))).cast("double")
          / size(col("l.grams"))).as("c"))
      .where(col("c") >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        BigDecimal(r.getDouble(2)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).toMap
    assert(got == naive)
  }

  test("incremental dedup: corpus dup flagged, within-batch resolves to the earlier doc, gramless admits") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = Seq(
      10L -> base,
      11L -> "totally different words entirely over here right now").toDF("doc_id", "text")
    val fresh = Seq(
      20L -> base, // duplicate of corpus doc 10
      21L -> "unique snowflake content nothing shared with anyone else",
      22L -> "unique snowflake content nothing shared with anyone else", // batch-mate dup of 21
      23L -> "xy" // below the gram width: no signature, must still be reported
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalDedupReport(corpus, fresh).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(got == Seq((20L, 1L, 10L), (21L, 0L, -1L), (22L, 1L, 21L), (23L, 0L, -1L)))
  }

  test("incremental dedup against a parquet round-tripped index equals the direct path; geometry mismatch fatal") {
    val all = Tables.documents(spark, SfDir)
    val u = graft.operators.Sampling.hashUniform(col("doc_id"))
    val corpus = all.where(u < 0.8)
    val fresh = all.where(u >= 0.8)
    val index = Dedup.withBandKeys(Dedup.minhashSignatures(corpus), bands = 8)
    val path = s"${GraftSession.target}/test-scratch/inc_index"
    index.write.mode("overwrite").parquet(path)
    val loaded = spark.read.parquet(path)
    // the geometry stamp survives the parquet round-trip
    assert(loaded.schema("band").metadata.getLong("graft.bands") == 8L)
    val direct = Dedup.incrementalDedupReport(corpus, fresh)
      .orderBy("doc_id").collect().toSeq
    val viaIndex = Dedup.incrementalDedupAgainstIndex(loaded, fresh)
      .orderBy("doc_id").collect().toSeq
    assert(viaIndex == direct)
    // probing with the wrong band count must fail loudly, not miss silently
    val e = intercept[IllegalArgumentException](
      Dedup.incrementalDedupAgainstIndex(loaded, fresh, bands = 16))
    assert(e.getMessage.contains("banded with bands=8"))
  }

  test("incremental dedup with an empty corpus reduces to the within-batch minhash pair graph") {
    val docs = Tables.documents(spark, SfDir)
    val report = Dedup.incrementalDedupReport(docs.where(lit(false)), docs)
      .orderBy("doc_id").collect().toSeq
    // expected verdicts from the batch pair generator: each doc's verified
    // partners of smaller id (est >= 0.5), exactly the report's contract
    val pairs = Dedup.minhashLshPairs(docs).where(col("est_jaccard") >= 0.5)
    val expected = docs.select(col("doc_id"))
      .join(
        pairs.groupBy(col("doc_b").as("doc_id"))
          .agg(count(lit(1)).as("n_dups"), min(col("doc_a")).as("dup_of")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_dups"), lit(0L)).as("n_dups"), col("dup_of"))
      .orderBy("doc_id").collect().toSeq
    assert(report == expected)
  }

  test("bloom decontamination: superset of the exact report, few false flags, no join in the probe") {
    val docs = Tables.documents(spark, SfDir)
    val corpus = docs.where(col("doc_id") % 50 =!= 0)
    val eval = docs.where(col("doc_id") % 50 === 0)
    val exact = Dedup.contaminationReport(corpus, eval)
      .collect().map(_.getLong(0)).toSet
    assert(exact.nonEmpty)
    val bloomed = Dedup.contaminationReportBloom(corpus, eval)
    val flagged = bloomed.collect().map(_.getLong(0)).toSet
    // the no-false-negative law the decontaminate_bloom oracle asserts row-wise
    assert(exact.subsetOf(flagged))
    // doc-level false flags ~ P(Binomial(grams/doc, 1e-4) >= 2) — tiny
    val clean = corpus.select("doc_id").distinct().count() - exact.size
    val fp = (flagged -- exact).size
    assert(fp <= math.max(1L, (clean * 0.01).toLong),
      s"$fp bloom-only flags over $clean clean docs")
    // the scale shape: probe is map-side — the eval side reaches the corpus
    // as a bitmap literal, never as a join side
    val plan = bloomed.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "bloom probe must not join the eval side")
    assert(plan.contains("might_contain"), "probe should be the native bloom expression")
  }

  test("bloom decontamination with an empty eval side returns an empty report") {
    val docs = Tables.documents(spark, SfDir)
    assert(Dedup.contaminationReportBloom(docs, docs.where(lit(false))).isEmpty)
  }

  test("duplicated spans: a verbatim cross-doc run is recovered to its exact token extent") {
    import spark.implicits._
    val run = (0 until 10).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (0L, s"zero one two three $run taila tailb tailc"),
      (1L, s"alpha beta $run gammax")).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(docs, l = 4, minOcc = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // run occupies tokens 4..13 of doc 0 and 2..11 of doc 1: seeds at every
    // start inside the run, merged back to exactly [start, start + 10)
    assert(spans == Set((0L, 4L, 14L, 10L), (1L, 2L, 12L, 10L)))
  }

  test("duplicated spans: within-doc self-repetition counts toward minOcc") {
    import spark.implicits._
    val docs = Seq((7L, "a b c d x y z w a b c d")).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(docs, l = 4, minOcc = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(spans == Set((7L, 0L, 4L, 4L), (7L, 8L, 12L, 4L)))
  }

  test("duplicated spans: runs shorter than l are invisible (the approximation knob)") {
    import spark.implicits._
    val docs = Seq(
      (0L, "p q r common1 common2 common3 s t u v"),
      (1L, "w x common1 common2 common3 y z a1 b1 c1")).toDF("doc_id", "text")
    assert(Dedup.duplicatedSpans(docs, l = 4, minOcc = 2).isEmpty)
  }

  test("duplicated spans on the real corpus: per-doc spans are sorted, disjoint, each >= l") {
    val spans = Dedup.duplicatedSpans(Tables.documents(spark, SfDir), l = 8, minOcc = 2)
      .orderBy(col("doc_id"), col("span_start")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(spans.nonEmpty, "the dup-dense fixture should surface duplicated runs")
    spans.foreach { case (_, s, e, d) =>
      assert(e - s == d && d >= 8)
    }
    spans.groupBy(_._1).values.foreach { ds =>
      ds.sortBy(_._2).sliding(2).foreach {
        // merged-maximal: a seed starting <= l after the previous span's
        // last seed would have merged, so the next span starts strictly
        // after this one ends
        case Array(a, b) => assert(b._2 > a._3)
        case _ => ()
      }
    }
  }
}
