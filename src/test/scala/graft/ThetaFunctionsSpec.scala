package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ThetaFunctions._

class ThetaFunctionsSpec extends AnyFunSuite {
  import SparkTestSession._

  private def keyed(rows: (String, Long)*) = {
    import spark.implicits._
    rows.toDF("g", "k")
  }

  test("theta sketch is exact below 2^lgK distinct keys") {
    val df = keyed((1 to 500).map(i => ("a", (i % 100).toLong)): _*)
    val est = df.groupBy(col("g"))
      .agg(thetaEstimate(thetaSketch(col("k"), 12)).as("est"))
      .head().getDouble(1)
    assert(est == 100.0)
  }

  test("sketch agg is partitioning-invariant (mergeable across partials)") {
    val df = keyed((1 to 1000).map(i => ("a", i.toLong)): _*)
    val ests = Seq(1, 3, 7).map { p =>
      df.repartition(p).groupBy(col("g"))
        .agg(thetaEstimate(thetaSketch(col("k"), 12)).as("est"))
        .head().getDouble(1)
    }
    assert(ests.distinct.size == 1, s"partition-dependent estimates: $ests")
  }

  test("intersection and a-not-b recover the exact overlap on exact-mode sketches") {
    // A = 0..599, B = 400..999 → |A∩B| = 200, |B\A| = 400, |A\B| = 400
    val df = keyed(
      ((0 until 600).map(i => ("A", i.toLong)) ++
        (400 until 1000).map(i => ("B", i.toLong))): _*)
    val sk = df.groupBy(col("g")).agg(thetaSketch(col("k"), 12).as("sk"))
    val a = sk.where(col("g") === "A").select(col("sk").as("sk_a"))
    val b = sk.where(col("g") === "B").select(col("sk").as("sk_b"))
    val r = a.crossJoin(b).select(
      thetaIntersectEst(col("sk_a"), col("sk_b")).as("inter"),
      thetaANotBEst(col("sk_a"), col("sk_b")).as("a_not_b"),
      thetaANotBEst(col("sk_b"), col("sk_a")).as("b_not_a")).head()
    assert(r.getDouble(0) == 200.0)
    assert(r.getDouble(1) == 400.0)
    assert(r.getDouble(2) == 400.0)
  }

  test("union rollup equals the direct sketch of the union (associativity)") {
    val df = keyed((1 to 900).map(i => (s"day${i % 3}", i.toLong)): _*)
    val rolled = df.groupBy(col("g")).agg(thetaSketch(col("k"), 12).as("sk"))
      .agg(thetaEstimate(thetaUnion(col("sk"), 12)).as("est"))
      .head().getDouble(0)
    val direct = df.agg(thetaEstimate(thetaSketch(col("k"), 12)).as("est"))
      .head().getDouble(0)
    assert(rolled == direct)
    assert(rolled == 900.0)
  }

  test("string keys hash like the library's native string update") {
    val df = keyed((1 to 50).map(i => ("a", i.toLong)): _*)
      .selectExpr("g", "CAST(k AS STRING) AS k")
    val est = df.groupBy(col("g"))
      .agg(thetaEstimate(thetaSketch(col("k"), 12)).as("est"))
      .head().getDouble(1)
    assert(est == 50.0)
  }

  test("estimation mode stays within the published error at lgK 12") {
    // 100k distinct >> 2^12 nominal: estimation mode, rse ~ 1/sqrt(4096)
    val df = spark.range(100000).selectExpr("'a' AS g", "id AS k")
    val est = df.groupBy(col("g"))
      .agg(thetaEstimate(thetaSketch(col("k"), 12)).as("est"))
      .head().getDouble(1)
    assert(math.abs(est - 100000.0) < 100000.0 * 0.05, s"est=$est")
  }

  test("nulls are skipped, empty group evaluates to estimate 0") {
    import spark.implicits._
    val df = Seq(("a", Some(1L)), ("a", None), ("b", None))
      .toDF("g", "k")
    val got = df.groupBy(col("g"))
      .agg(thetaEstimate(thetaSketch(col("k"), 12)).as("est"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("a") == 1.0)
    assert(got("b") == 0.0)
  }
}
