package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.FreqFunctions
import graft.operators.TextAnalysis

class FreqFunctionsSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Exact per-item counts for a token stream, driver-side. */
  private def exactCounts(rows: Seq[String]): Map[String, Long] =
    rows.groupBy(identity).view.mapValues(_.size.toLong).toMap

  test("MG laws hold on the corpus fixture: underestimate, deficit bound, coverage") {
    val k = 16
    val toks = Tables.documents(spark, SfDir)
      .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      .persist()
    try {
      val stream = toks.collect().map(_.getString(0)).toSeq
      val truth = exactCounts(stream)
      val n = stream.size.toLong
      val summ = toks
        .agg(FreqFunctions.misraGries(col("token"), k).as("s"))
        .select(explode(col("s")).as("e"))
        .select(col("e.item"), col("e.est"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(summ.nonEmpty && summ.length <= k)
      val sRet = summ.map(_._2).sum
      val deficitBound = (n - sRet) / (k + 1).toLong
      summ.foreach { case (it, est) =>
        val t = truth.getOrElse(it, 0L)
        assert(est <= t, s"overestimate for $it: est=$est true=$t")
        assert(t - est <= deficitBound,
          s"deficit ${t - est} > bound $deficitBound for $it (n=$n S=$sRet)")
      }
      val retained = summ.map(_._1).toSet
      truth.foreach { case (it, t) =>
        if (t * (k + 1) > n)
          assert(retained.contains(it), s"heavy hitter $it (true=$t, n=$n) missing")
      }
      // output ordering contract: est DESC, item ASC
      assert(summ.toSeq == summ.toSeq.sortBy { case (it, c) => (-c, it) })
    } finally { toks.unpersist(); () }
  }

  test("single-partition stream replays the textbook MG state machine") {
    import spark.implicits._
    // k=2 over aabcbb: a,a -> {a:2}; b -> {a:2,b:1}; c -> decrement {a:1};
    // b -> {a:1,b:1}; b -> {a:1,b:2}
    val got = Seq("a", "a", "b", "c", "b", "b").toDF("t").coalesce(1)
      .agg(FreqFunctions.misraGries(col("t"), 2).as("s"))
      .select(explode(col("s")).as("e"))
      .select(col("e.item"), col("e.est"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("b", 2L), ("a", 1L)))
  }

  test("merge caps state at k and keeps the deficit law across partitionings") {
    import spark.implicits._
    val k = 4
    val rows = (1 to 2000).map { i =>
      if (i % 3 == 0) "hot" else if (i % 7 == 0) "warm" else s"cold$i"
    }
    Seq(1, 8, 32).foreach { parts =>
      val summ = rows.toDF("t").repartition(parts)
        .agg(FreqFunctions.misraGries(col("t"), k).as("s"))
        .select(explode(col("s")).as("e"))
        .select(col("e.item"), col("e.est"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(summ.length <= k, s"state exceeded k at parts=$parts: ${summ.length}")
      val truth = exactCounts(rows)
      val n = rows.size.toLong
      val bound = (n - summ.map(_._2).sum) / (k + 1).toLong
      summ.foreach { case (it, est) =>
        val t = truth.getOrElse(it, 0L)
        assert(est <= t && t - est <= bound, s"law broken at parts=$parts for $it")
      }
      // 'hot' is 666/2000 > n/5 = 400 -> guaranteed retained at every partitioning
      assert(summ.exists(_._1 == "hot"), s"hot missing at parts=$parts")
    }
  }

  test("map side combines before the exchange; SQL surface via extensions; literal-k contract") {
    import spark.implicits._
    // half the stream is one hot item: 50% > n/(k+1), so the coverage law
    // guarantees a NONEMPTY summary (a fully uniform stream may legally
    // drain every counter to zero)
    val df = (1 to 500).map(i => (s"g${i % 2}", if (i % 3 == 0) "hot" else s"t${i % 37}"))
      .toDF("g", "t")
    val plan = df.groupBy(col("g"))
      .agg(FreqFunctions.misraGries(col("t"), 8).as("s"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_mg"), s"no map-side partial in:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"expected object hash agg in:\n$plan")
    df.createOrReplaceTempView("mg_in")
    val viaSql = spark.sql(
      "SELECT size(graft_mg(t, 8)) AS sz FROM mg_in GROUP BY g")
      .collect().map(_.getInt(0))
    assert(viaSql.forall(sz => sz > 0 && sz <= 8))
    val err = intercept[Exception] {
      spark.sql("SELECT graft_mg(t, length(t)) FROM mg_in GROUP BY g").collect()
    }
    assert(err.getMessage.contains("literal"))
  }
}
