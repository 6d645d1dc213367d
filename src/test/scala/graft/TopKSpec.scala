package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TopKFunctions
import graft.operators.TextAnalysis

class TopKSpec extends AnyFunSuite {
  import SparkTestSession._

  test("graft_topk == window row_number route on the corpus fixture") {
    val tf = Tables.documents(spark, SfDir)
      .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("n"))
      .persist()
    try {
      val viaAgg = tf.groupBy(col("source"))
        .agg(TopKFunctions.topK(col("token"), col("n"), 5).as("top"))
        .select(col("source"), posexplode(col("top")))
        .select(col("source"), (col("pos") + 1).cast("long").as("rank"),
          col("col.item").as("token"), col("col.score").as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("n").desc, col("token"))
      val viaWindow = tf
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 5)
        .select(col("source"), col("rank"), col("token"), col("n"))
      assert(viaAgg.orderBy(col("source"), col("rank")).collect().toSeq ==
        viaWindow.orderBy(col("source"), col("rank")).collect().toSeq)
    } finally { tf.unpersist(); () }
  }

  test("ties break item-ascending; k wider than the group returns all, best-first") {
    import spark.implicits._
    val df = Seq(
      ("g", "beta", 5L), ("g", "alpha", 5L), ("g", "zed", 7L), ("g", "mid", 1L))
      .toDF("g", "item", "n")
    val got = df.groupBy(col("g"))
      .agg(TopKFunctions.topK(col("item"), col("n"), 10).as("top"))
      .select(explode(col("top")).as("e"))
      .select(col("e.item"), col("e.score"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("zed", 7L), ("alpha", 5L), ("beta", 5L), ("mid", 1L)))
  }

  test("map side combines before the exchange: partial graft_topk, no sort on candidates") {
    import spark.implicits._
    val df = (1 to 200).map(i => (s"g${i % 3}", s"item$i", i.toLong)).toDF("g", "item", "n")
    val plan = df.groupBy(col("g"))
      .agg(TopKFunctions.topK(col("item"), col("n"), 3).as("top"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_topk"), s"no map-side partial in:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"expected object hash agg in:\n$plan")
    assert(!plan.contains("Sort "), s"unexpected sort node in:\n$plan")
  }

  test("SQL surface via extensions; literal-k contract enforced") {
    import spark.implicits._
    Seq(("a", "x", 3L), ("a", "y", 9L)).toDF("g", "item", "n")
      .createOrReplaceTempView("topk_in")
    val rows = spark.sql(
      """SELECT e.item, e.score
        |FROM (SELECT graft_topk(item, n, 1) AS top FROM topk_in GROUP BY g) t
        |LATERAL VIEW explode(t.top) x AS e""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq == Seq(("y", 9L)))
    val err = intercept[Exception] {
      spark.sql("SELECT graft_topk(item, n, n) FROM topk_in GROUP BY g").collect()
    }
    assert(err.getMessage.contains("literal"))
  }
}
