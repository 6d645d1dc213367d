package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.KllFunctions._

class KllFunctionsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("below k retained values the sketch is exact at every quantile") {
    // n=100 < k=200: KLL keeps every value, INCLUSIVE quantile is the
    // smallest v with rank >= q — i.e. the exact order statistic
    val df = spark.range(1, 101).selectExpr("'a' AS g", "CAST(id AS DOUBLE) AS v")
    val got = df.groupBy(col("g"))
      .agg(kllSketch(col("v"), 200).as("sk"))
      .select(
        kllQuantile(col("sk"), lit(0.5)).as("p50"),
        kllQuantile(col("sk"), lit(0.9)).as("p90"),
        kllQuantile(col("sk"), lit(1.0)).as("p100")).head()
    assert(got.getDouble(0) == 50.0)
    assert(got.getDouble(1) == 90.0)
    assert(got.getDouble(2) == 100.0)
  }

  test("merge of partial sketches obeys the same rank bound as a direct build") {
    val n = 20000
    val df = spark.range(n).selectExpr(
      "CAST(id % 7 AS INT) AS part", "CAST(id AS DOUBLE) AS v")
    val rolled = df.groupBy(col("part"))
      .agg(kllSketch(col("v"), 200).as("sk"))
      .agg(kllMerge(col("sk"), 200).as("sk"))
      .select(kllQuantile(col("sk"), lit(0.5)).as("p50")).head().getDouble(0)
    // uniform 0..n-1: true median = n/2; k=200 two-sided rank error ~1.65%
    assert(math.abs(rolled - n / 2.0) < n * 0.03, s"merged p50=$rolled")
  }

  test("sketch aggregation is shuffle-partitioning-safe (serialize round-trip)") {
    val df = spark.range(5000).selectExpr("'a' AS g", "CAST(id AS DOUBLE) AS v")
    Seq(1, 4, 9).foreach { p =>
      val p90 = df.repartition(p).groupBy(col("g"))
        .agg(kllSketch(col("v"), 200).as("sk"))
        .select(kllQuantile(col("sk"), lit(0.9)).as("p90")).head().getDouble(0)
      assert(math.abs(p90 - 4500.0) < 5000 * 0.03, s"p=$p gave p90=$p90")
    }
  }

  test("nulls skipped; k must be a plan literal") {
    import spark.implicits._
    val df = Seq(("a", Some(1.0)), ("a", None), ("a", Some(3.0))).toDF("g", "v")
    val p100 = df.groupBy(col("g"))
      .agg(kllSketch(col("v"), 200).as("sk"))
      .select(kllQuantile(col("sk"), lit(1.0))).head().getDouble(0)
    assert(p100 == 3.0)
    val e = intercept[Exception] {
      df.select(call_function("graft_kll_sketch", col("v"), col("v"))).collect()
    }
    assert(e.getMessage.contains("literal"))
  }
}
