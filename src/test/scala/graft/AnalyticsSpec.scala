package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Analytics

class AnalyticsSpec extends AnyFunSuite {
  import SparkTestSession._

  // Mondays: 2024-01-01, -08, -15 — week-truncation anchors
  private def ev(rows: (Long, String, String)*) = {
    import spark.implicits._
    rows.toDF("user_id", "ts_s", "event_type")
      .selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts", "event_type")
  }

  test("retentionCohorts: first week anchors the cohort, offsets count weeks") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", "view"), // A: weeks 0,1,2
      (1L, "2024-01-09 10:00:00", "view"),
      (1L, "2024-01-16 10:00:00", "view"),
      (2L, "2024-01-02 10:00:00", "view"), // B: weeks 0,2
      (2L, "2024-01-17 10:00:00", "view"),
      (3L, "2024-01-10 10:00:00", "view")) // C: week 1 only
    val got = Analytics.retentionCohorts(events, "user_id", org.apache.spark.sql.functions.col("ts"))
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      ("2024-01-01", 0L, 2L, 2L, 1000000L), // A+B
      ("2024-01-01", 1L, 1L, 2L, 500000L), // A only
      ("2024-01-01", 2L, 2L, 2L, 1000000L), // A+B again
      ("2024-01-08", 0L, 1L, 1L, 1000000L))) // C's own cohort
  }

  test("funnelSteps: order matters, same-second chains, dropouts counted once") {
    val events = ev(
      // u1 completes view→click→purchase in order
      (1L, "2024-01-01 10:00:00", "view"),
      (1L, "2024-01-01 10:05:00", "click"),
      (1L, "2024-01-01 10:10:00", "purchase"),
      // u2 clicks BEFORE any view — click precedes reach, so step 2 not hit
      (2L, "2024-01-01 09:00:00", "click"),
      (2L, "2024-01-01 11:00:00", "view"),
      // u3 views then clicks in the SAME second (>= chains), no purchase
      (3L, "2024-01-01 12:00:00", "view"),
      (3L, "2024-01-01 12:00:00", "click"),
      // u4 purchases without viewing — contributes to no step
      (4L, "2024-01-01 13:00:00", "purchase"))
    val got = Analytics.funnelSteps(
      events, "user_id", org.apache.spark.sql.functions.col("ts"),
      org.apache.spark.sql.functions.col("event_type"),
      Seq("view", "click", "purchase"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, "view", 3L, 1000000L), // u1, u2, u3
      (2L, "click", 2L, 666666L), // u1, u3 (u2's click was too early)
      (3L, "purchase", 1L, 333333L))) // u1 only
  }

  test("funnelSteps: empty step yields a zero row, not a missing row") {
    val events = ev((1L, "2024-01-01 10:00:00", "view"))
    val got = Analytics.funnelSteps(
      events, "user_id", org.apache.spark.sql.functions.col("ts"),
      org.apache.spark.sql.functions.col("event_type"),
      Seq("view", "click"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 1L, 1000000L), (2L, 0L, 0L)))
  }

  test("resampleDaily: gap days materialize, purchase value carries across them") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val events = Seq(
      // u1: purchase 5.0 on day 1, nothing on day 2, view on day 3,
      //     purchase 9.0 then view on day 4 (carry updates within the day)
      (1L, 1L, "2024-01-01 10:00:00", "purchase", 5.0),
      (2L, 1L, "2024-01-03 10:00:00", "view", 0.0),
      (3L, 1L, "2024-01-04 09:00:00", "purchase", 9.0),
      (4L, 1L, "2024-01-04 11:00:00", "view", 0.0),
      // u2: never purchases — carry stays NULL throughout
      (5L, 2L, "2024-01-02 10:00:00", "view", 0.0))
      .toDF("event_id", "user_id", "ts_s", "event_type", "value")
      .selectExpr("event_id", "user_id", "CAST(ts_s AS TIMESTAMP) AS ts",
        "event_type", "value")
    val got = Analytics.resampleDaily(events, "user_id", col("ts"), "2024-01-01", "2024-01-04")
      .collect()
      .map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]), r.getBoolean(4)))
    assert(got.toSeq == Seq(
      (1L, "2024-01-01", 1L, Some(5.0), false),
      (1L, "2024-01-02", 0L, Some(5.0), true), // gap day exists, value carried
      (1L, "2024-01-03", 1L, Some(5.0), false), // view day keeps the carry
      (1L, "2024-01-04", 2L, Some(9.0), false), // end-of-day carry, not mid-day
      (2L, "2024-01-01", 0L, None, true), // before first activity: gap, no carry
      (2L, "2024-01-02", 1L, None, false),
      (2L, "2024-01-03", 0L, None, true),
      (2L, "2024-01-04", 0L, None, true)))
  }

  // one synthetic event per desired (day, count): day d gets `n` rows
  private def dailySeries(group: String, counts: Seq[(Int, Int)]) = {
    import spark.implicits._
    counts.flatMap { case (d, n) =>
      (1 to n).map(i => (group, f"2024-01-$d%02d 12:00:00"))
    }.toDF("grp", "ts_s").selectExpr("grp", "CAST(ts_s AS TIMESTAMP) AS ts")
  }

  test("anomalyZscore: integer test agrees with the double z-score; short windows NULL") {
    // 7 calm days at ~10, then a spike and a normal day
    val counts = Seq(1 -> 10, 2 -> 11, 3 -> 9, 4 -> 10, 5 -> 10, 6 -> 11,
      7 -> 9, 8 -> 30, 9 -> 10)
    val got = Analytics.anomalyZscore(
      dailySeries("a", counts), col("grp"), col("ts"), window = 7, z = 3)
      .collect()
      .map(r => r.getDate(1).toString ->
        (r.getLong(2), r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Boolean])))
      .toMap
    // first 7 days: incomplete trailing window → NULL, never a verdict
    (1 to 7).foreach { d =>
      assert(got(f"2024-01-$d%02d")._3.isEmpty, s"day $d should have no verdict")
    }
    assert(got("2024-01-08") == ((30L, 7L, Some(true))))
    // day 9's baseline includes the spike, inflating the variance — but the
    // double-precision reference must agree with the integer test exactly
    val window = counts.slice(1, 8).map(_._2.toDouble) // days 2..8 trail day 9
    val (mean, n) = (window.sum / 7, 7.0)
    val variance = window.map(x => (x - mean) * (x - mean)).sum / n
    val z9 = math.abs(10.0 - mean) / math.sqrt(variance)
    assert(got("2024-01-09")._3.contains(z9 > 3.0))
  }

  test("anomalyZscore: zero-variance baseline flags any deviation, flat day passes") {
    val base = (1 to 7).map(_ -> 5)
    val flat = Analytics.anomalyZscore(
      dailySeries("a", base :+ (8 -> 5)), col("grp"), col("ts"))
      .collect().map(r => r.getDate(1).toString -> Option(r.get(4))).toMap
    assert(flat("2024-01-08").contains(false))
    val bump = Analytics.anomalyZscore(
      dailySeries("a", base :+ (8 -> 6)), col("grp"), col("ts"))
      .collect().map(r => r.getDate(1).toString -> Option(r.get(4))).toMap
    assert(bump("2024-01-08").contains(true))
  }

  test("anomalyZscore: groups are independent baselines") {
    val a = dailySeries("a", (1 to 8).map(_ -> 10))
    val b = dailySeries("b", (1 to 7).map(_ -> 100) :+ (8 -> 10))
    val got = Analytics.anomalyZscore(a.unionByName(b), col("grp"), col("ts"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString) -> Option(r.get(4)))
      .toMap
    // 10-a-day is normal for group a, anomalous for group b — same count,
    // different baseline
    assert(got(("a", "2024-01-08")).contains(false))
    assert(got(("b", "2024-01-08")).contains(true))
  }

  private def orders(rows: (Long, String, Double)*) = {
    import spark.implicits._
    rows.toDF("o_custkey", "d", "o_totalprice")
      .selectExpr("o_custkey", "CAST(d AS TIMESTAMP) AS o_orderdate", "o_totalprice")
  }

  test("rollingRangeRevenue: RANGE frame over days — calendar gaps shrink the window") {
    val got = Analytics.rollingRangeRevenue(
      orders(
        (1L, "2024-01-01", 10.0),
        (1L, "2024-01-03", 20.0), // within 7 days of the 1st
        (1L, "2024-01-20", 40.0), // far gap: window contains only itself
        (1L, "2024-01-25", 80.0)), // 20th is 5 days back — still in frame
      "o_custkey", col("o_orderdate"), col("o_totalprice"), days = 7)
      .collect().map(r => (r.getDate(1).toString, r.getLong(3), r.getDouble(4)))
    assert(got.toSeq == Seq(
      ("2024-01-01", 1L, 10.0),
      ("2024-01-03", 2L, 30.0),
      ("2024-01-20", 1L, 40.0), // a ROWS-frame impl would wrongly carry Jan 1+3
      ("2024-01-25", 2L, 120.0)))
  }

  test("rollingRangeRevenue: same-day orders pre-aggregate into one series row") {
    val got = Analytics.rollingRangeRevenue(
      orders((1L, "2024-01-05", 5.0), (1L, "2024-01-05", 7.0)),
      "o_custkey", col("o_orderdate"), col("o_totalprice"), days = 7)
      .collect().map(r => (r.getDate(1).toString, r.getDouble(2), r.getLong(3), r.getDouble(4)))
    assert(got.toSeq == Seq(("2024-01-05", 12.0, 2L, 12.0)))
  }

  test("eventTransitions: lead pairs per user, ppm rows sum to ~1e6 per from_type") {
    val events = {
      import spark.implicits._
      Seq(
        (1L, 1L, "2024-01-01 10:00:00", "view"),
        (2L, 1L, "2024-01-01 10:01:00", "click"),
        (3L, 1L, "2024-01-01 10:02:00", "view"),
        (4L, 2L, "2024-01-01 09:00:00", "view"),
        (5L, 2L, "2024-01-01 09:30:00", "purchase"))
        .toDF("event_id", "user_id", "ts_s", "event_type")
        .selectExpr("event_id", "user_id", "CAST(ts_s AS TIMESTAMP) AS ts", "event_type")
    }
    val got = Analytics.eventTransitions(
      events, "user_id", col("ts"), col("event_type"), col("event_id"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // u1: view→click, click→view; u2: view→purchase (no cross-user pair)
    assert(got.toSeq == Seq(
      ("click", "view", 1L, 1000000L),
      ("view", "click", 1L, 500000L),
      ("view", "purchase", 1L, 500000L)))
    val sums = got.groupBy(_._1).view.mapValues(_.map(_._4).sum)
    sums.foreach { case (from, total) =>
      assert(total <= 1000000L && total > 1000000L - got.length,
        s"$from ppm total $total")
    }
  }

  test("funnelStepsWithin: conversions outside the deadline don't count") {
    val events = ev(
      // u1: click 30 min after view — inside the 1 h window
      (1L, "2024-01-01 10:00:00", "view"),
      (1L, "2024-01-01 10:30:00", "click"),
      // u2: click 2 h after view — outside
      (2L, "2024-01-01 10:00:00", "view"),
      (2L, "2024-01-01 12:00:00", "click"),
      // u3: click at EXACTLY +3600 s — inclusive bound
      (3L, "2024-01-01 10:00:00", "view"),
      (3L, "2024-01-01 11:00:00", "click"))
    val got = Analytics.funnelStepsWithin(
      events, "user_id", col("ts"), col("event_type"),
      Seq("view", "click"), withinSec = 3600L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(got == Seq((1L, 3L), (2L, 2L))) // u1 + u3 convert, u2 times out
    // the unbounded funnel credits all three
    val unbounded = Analytics.funnelSteps(
      events, "user_id", col("ts"), col("event_type"), Seq("view", "click"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(unbounded == Seq((1L, 3L), (2L, 3L)))
  }

  test("abZTest: integer verdict agrees with the double z² on both sides of the line") {
    import spark.implicits._
    def frame(x1: Int, n1: Int, x2: Int, n2: Int) = {
      val rows =
        (0 until n1).map(i => (0L, i < x1)) ++ (0 until n2).map(i => (1L, i < x2))
      rows.toDF("grp", "conv")
    }
    def zSq(x1: Double, n1: Double, x2: Double, n2: Double): Double = {
      val (bigN, x) = (n1 + n2, x1 + x2)
      math.pow(x1 * n2 - x2 * n1, 2) * bigN / (n1 * n2 * x * (bigN - x))
    }
    // clearly significant: 10% vs 20% at n=1000
    assert(zSq(100, 1000, 200, 1000) > 3.8416)
    val sig = Analytics.abZTest(frame(100, 1000, 200, 1000), col("grp"), col("conv")).head()
    assert(sig.getAs[Boolean]("significant"))
    assert(sig.getAs[Long]("rate1_ppm") == 100000L)
    // clearly not: 10% vs 10.5% at n=1000
    assert(zSq(100, 1000, 105, 1000) < 3.8416)
    val ns = Analytics.abZTest(frame(100, 1000, 105, 1000), col("grp"), col("conv")).head()
    assert(!ns.getAs[Boolean]("significant"))
  }

  test("decayScore: halves per whole week of age, exact binary weights") {
    import spark.implicits._
    val events = Seq(
      (1L, "2024-01-31 12:00:00", 8.0), // 1 day old  → week 0 → ×1
      (1L, "2024-01-20 12:00:00", 8.0), // 12 days    → week 1 → ×0.5
      (1L, "2024-01-10 12:00:00", 8.0), // 22 days    → week 3 → ×0.125
      (2L, "2024-01-01 00:00:00", 4.0)) // 31 days    → week 4 → ×0.0625
      .toDF("user_id", "ts_s", "value")
      .selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts", "value")
    val got = Analytics.decayScore(events, "user_id", col("ts"), col("value"), "2024-02-01")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got(1L) == 8.0 + 4.0 + 1.0)
    assert(got(2L) == 0.25)
  }

  test("decayScore: future-dated events clamp to weight 1, never amplify") {
    import spark.implicits._
    val events = Seq((1L, "2025-06-01 00:00:00", 2.0)) // a year past asOf
      .toDF("user_id", "ts_s", "value")
      .selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts", "value")
    val got = Analytics.decayScore(events, "user_id", col("ts"), col("value"), "2024-02-01")
      .head().getDouble(1)
    assert(got == 2.0) // an unclamped impl would give 2 * 2^69
  }

  test("wowGrowth: signed ppm growth, first week NULL, shrink truncates toward zero") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", "view"), (2L, "2024-01-02 10:00:00", "view"),
      (3L, "2024-01-03 10:00:00", "view"), // week 1: 3 views
      (4L, "2024-01-08 10:00:00", "view"), // week 2: 1 view → (1-3)/3 = -666667? no: trunc
      (5L, "2024-01-15 10:00:00", "view"), (6L, "2024-01-15 11:00:00", "view"))
    val got = Analytics.wowGrowth(events, col("event_type"), col("ts"))
      .collect().map(r => (r.getDate(1).toString, r.getLong(2),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSeq
    assert(got == Seq(
      ("2024-01-01", 3L, None),
      ("2024-01-08", 1L, Some(-666666L)), // -2000000/3 truncates toward zero
      ("2024-01-15", 2L, Some(1000000L))))
  }

  test("slidingActiveUsers: every event lands in exactly window/slide windows") {
    val events = {
      import spark.implicits._
      Seq((1L, "2024-01-10 12:00:00"), (2L, "2024-01-10 23:59:59"))
        .toDF("user_id", "ts_s")
        .selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts")
    }
    val got = Analytics.slidingActiveUsers(events, "user_id", col("ts"))
      .collect().map(r => (r.getDate(0).toString, r.getDate(1).toString, r.getLong(2)))
    assert(got.length == 7) // both events the same day → the same 7 windows
    assert(got.forall(_._3 == 2L))
    assert(got.map(_._1).toSeq == (4 to 10).map(d => f"2024-01-$d%02d"))
    // end = start + 7 days, exclusive
    assert(got.forall { case (s, e, _) =>
      java.time.LocalDate.parse(e).minusDays(7) == java.time.LocalDate.parse(s) })
  }

  test("cohenKappa: hand-checked contingency; perfect agreement = 1e6; degenerate table = NULL") {
    import spark.implicits._
    // n00=20 n01=5 n10=10 n11=15, n=50: agree=35, pe_raw=(25·30)+(25·20)=1250
    // kappa = (50·35 − 1250)/(2500 − 1250) = 500/1250 = 0.4 exactly
    val df = (Seq.fill(20)((false, false)) ++ Seq.fill(5)((false, true)) ++
      Seq.fill(10)((true, false)) ++ Seq.fill(15)((true, true))).toDF("a", "b")
    val r = Analytics.cohenKappa(df, col("a"), col("b")).collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) == ((20L, 5L, 10L, 15L)))
    assert(r.getLong(5) == 700000L, "po = 35/50")
    assert(r.getLong(6) == 500000L, "pe = 1250/2500")
    assert(r.getLong(7) == 400000L, "kappa = 0.4 exactly")
    val perfect = Seq.fill(7)((true, true)).toDF("a", "b")
      .union(Seq.fill(3)((false, false)).toDF("a", "b"))
    assert(Analytics.cohenKappa(perfect, col("a"), col("b")).collect().head.getLong(7) == 1000000L)
    // all rows in one cell: pe = 1, chance-corrected agreement undefined
    val degenerate = Seq.fill(4)((true, true)).toDF("a", "b")
    assert(Analytics.cohenKappa(degenerate, col("a"), col("b")).collect().head.isNullAt(7))
  }

  test("calibrationBins: integer binning clamps the top edge; rates exact") {
    import spark.implicits._
    // scores land in bins 0, 4, 9 (1e6 clamps into bin 9, not bin 10)
    val df = Seq(
      (50000L, false), (99999L, false), // bin 0: conf 74999, acc 0
      (450000L, true), (450000L, false), // bin 4: conf 450000, acc 500000
      (999999L, true), (1000000L, true) // bin 9 incl. clamped top edge
    ).toDF("sp", "y")
    val got = Analytics.calibrationBins(df, col("sp"), col("y"), bins = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(
      (0L, 2L, 0L, 74999L, 0L, 74999L),
      (4L, 2L, 1L, 450000L, 500000L, -50000L),
      (9L, 2L, 2L, 999999L, 1000000L, -1L)))
  }

  test("resampleInterp: interior gaps take the truncated straight line, exterior days stay null") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val events = Seq(
      // user 1: anchors at Jan 1 (1.00, the day's LAST purchase wins over
      // the earlier 9.99) and Jan 5 (4.00); noise event ignored
      (1L, 10L, "2024-01-01 08:00:00", "purchase", Some(9.99)),
      (1L, 11L, "2024-01-01 10:00:00", "purchase", Some(1.00)),
      (1L, 12L, "2024-01-02 09:00:00", "view", None),
      (1L, 13L, "2024-01-05 12:00:00", "purchase", Some(4.00)),
      // user 2: a single anchor — nothing interpolates
      (2L, 20L, "2024-01-03 10:00:00", "purchase", Some(2.50)),
      // user 3: DECREASING segment with non-divisible steps — pins the
      // toward-zero truncation on negative numerators
      (3L, 30L, "2024-01-01 10:00:00", "purchase", Some(4.01)),
      (3L, 31L, "2024-01-04 10:00:00", "purchase", Some(1.00)))
      .toDF("user_id", "event_id", "ts_s", "event_type", "value")
      .selectExpr("user_id", "event_id", "CAST(ts_s AS TIMESTAMP) AS ts",
        "event_type", "value")
    val out = Analytics.resampleInterp(
      events, "user_id", col("ts"), "2024-01-01", "2024-01-07")
      .orderBy(col("user_id"), col("day"))
      .collect()
      .map(r => (r.getLong(0), r.getDate(1).toString,
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    assert(out.filter(_._1 == 1L).map(_._3).toSeq ==
      Seq(Some(100L), Some(175L), Some(250L), Some(325L), Some(400L), None, None))
    assert(out.filter(_._1 == 2L).map(_._3).toSeq ==
      Seq(None, None, Some(250L), None, None, None, None))
    // 401 → 100 over 3 days: -301·1 div 3 = -100, -301·2 div 3 = -200
    assert(out.filter(_._1 == 3L).map(_._3).toSeq ==
      Seq(Some(401L), Some(301L), Some(201L), Some(100L), None, None, None))
  }

  test("laws under seeded random inputs: attribution conserves cents, MWU identity holds") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { trial =>
      val events = (1 to 200).map { i =>
        val u = rnd.nextInt(12).toLong
        val sec = rnd.nextInt(5000).toLong
        val tpe = Seq("view", "click", "purchase")(rnd.nextInt(3))
        val v = if (tpe == "purchase") Some(rnd.nextInt(10000) / 100.0) else None
        (u, sec, (trial * 1000 + i).toLong, tpe, v)
      }.toDF("user_id", "sec", "event_id", "event_type", "value")
        .selectExpr("user_id", "CAST(sec AS TIMESTAMP) AS ts", "event_id",
          "event_type", "value")
      // conservation: channel credits partition total conversion cents
      val credited = Analytics.linearAttribution(
        events, "user_id", col("ts"), col("event_type"), col("event_id"),
        Seq("view", "click"), "purchase", windowSec = 600L)
        .agg(org.apache.spark.sql.functions.sum(col("credit_cents"))).head().getLong(0)
      val total = events.where(col("event_type") === "purchase")
        .agg(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.floor(col("value") * 100).cast("long")))
        .head().getLong(0)
      assert(credited == total, s"trial $trial: credited $credited != total $total")
      // MWU identity on a random split of a random metric
      val mwu = Analytics.mannWhitneyU(
        events.where(col("value").isNotNull),
        col("event_id") % 2,
        org.apache.spark.sql.functions.floor(col("value") * 10).cast("long")).head()
      assert(mwu.getAs[Boolean]("identity_holds"), s"trial $trial: MWU identity broke")
    }
  }

  test("linearAttribution: equal split conserves cents exactly, remainder to the last touch") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val events = Seq(
      (1L, 10L, 1L, "view", None), (1L, 20L, 2L, "view", None),
      (1L, 30L, 3L, "purchase", Some(1.00)),
      (2L, 10L, 4L, "view", None), (2L, 25L, 5L, "click", None),
      (2L, 30L, 6L, "purchase", Some(0.99)),
      (3L, 10L, 7L, "purchase", Some(2.00)),
      (4L, 0L, 8L, "view", None), (4L, 200L, 9L, "purchase", Some(3.00)))
      .toDF("user_id", "sec", "event_id", "event_type", "value")
      .selectExpr("user_id", "CAST(sec AS TIMESTAMP) AS ts", "event_id",
        "event_type", "value")
    val got = Analytics.linearAttribution(
      events, "user_id", col("ts"), col("event_type"), col("event_id"),
      touchTypes = Seq("view", "click"), convType = "purchase", windowSec = 100L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // u1: 100 cents over 2 views → 50 + 50; u2: 99 over view+click →
    // 49 each, remainder 1 to the LAST touch (the click); u3 no touches;
    // u4's view is outside the 100 s window
    assert(got.toSeq == Seq(
      ("click", 1L, 50L),
      ("unattributed", 2L, 500L),
      ("view", 2L, 149L)))
  }

  test("funnelStepLatency: exact nearest-rank p50/p90 and truncating mean per transition") {
    // 5 users convert view→click with latencies 10, 20, 30, 40, 50 s;
    // 2 of them convert click→purchase with latencies 5, 7 s
    val events = ev(
      (1L, "2024-01-01 10:00:00", "view"), (1L, "2024-01-01 10:00:10", "click"),
      (2L, "2024-01-01 10:00:00", "view"), (2L, "2024-01-01 10:00:20", "click"),
      (3L, "2024-01-01 10:00:00", "view"), (3L, "2024-01-01 10:00:30", "click"),
      (4L, "2024-01-01 10:00:00", "view"), (4L, "2024-01-01 10:00:40", "click"),
      (5L, "2024-01-01 10:00:00", "view"), (5L, "2024-01-01 10:00:50", "click"),
      (1L, "2024-01-01 10:00:15", "purchase"),
      (2L, "2024-01-01 10:00:27", "purchase"),
      // purchase BEFORE the click reach: must not count for user 3
      (3L, "2024-01-01 10:00:01", "purchase"))
    val got = Analytics.funnelStepLatency(
      events, "user_id", org.apache.spark.sql.functions.col("ts"),
      org.apache.spark.sql.functions.col("event_type"),
      Seq("view", "click", "purchase"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // n=5: p50 rank (5+1) div 2 = 3 → 30; p90 rank (45+9) div 10 = 5 → 50
    // mean = 150 div 5 = 30
    // n=2: p50 rank 1 → 5; p90 rank (18+9) div 10 = 2 → 7; mean 12 div 2 = 6
    assert(got.toSeq == Seq(
      (1L, "view->click", 5L, 30L, 30L, 50L),
      (2L, "click->purchase", 2L, 6L, 5L, 7L)))
  }

  test("coOccurrencePairs: per-basket cap by engagement, basket-counted support, multi-buys don't inflate") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rel = (
      Seq((1L, 1L), (1L, 2L), (1L, 3L)) ++         // b1: {1,2,3}
        Seq((2L, 1L), (2L, 1L), (2L, 2L)) ++       // b2: {1,2}, item 1 bought twice
        Seq((3L, 2L), (3L, 3L)) ++                 // b3: {2,3}
        (10L to 19L).map(i => (4L, i)) ++          // b4: whale, 10 items
        Seq((4L, 19L), (4L, 19L))                  // item 19 dominates b4
      ).toDF("bk", "it")
    val got = Analytics.coOccurrencePairs(rel, col("bk"), col("it"),
      maxPerBasket = 3, minSupport = 2L)
      .orderBy(col("item_a"), col("item_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // b4 capped to {19, 10, 11} (count desc, item asc) — its pairs all
    // have support 1 and vanish under minSupport; b2's double-buy of
    // item 1 still counts b2 once
    assert(got.toSeq == Seq((1L, 2L, 2L), (2L, 3L, 2L)))
    val uncapped = Analytics.coOccurrencePairs(rel, col("bk"), col("it"),
      maxPerBasket = 10, minSupport = 1L)
    // without the support floor the whale contributes C(10,2) = 45 pairs
    assert(uncapped.count() == 45L + 3L)
  }

  test("changePointCusum: level shift lands on the last old-level day; flat series ties to the earliest") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows =
      Seq(1, 1, 1, 5, 5, 5).zipWithIndex.flatMap { case (c, i) =>
        Seq.fill(c)(("a", f"2024-01-${i + 1}%02d 10:00:00"))
      } ++
        (1 to 3).flatMap(d => Seq.fill(2)(("b", f"2024-01-$d%02d 10:00:00")))
    val events = rows.toDF("series", "ts_s")
      .selectExpr("series", "CAST(ts_s AS TIMESTAMP) AS ts")
    val got = Analytics.changePointCusum(events, col("series"), col("ts"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // a: S=[1,2,3,8,13,18], D_i = 6·S_i − i·18 → min at i=3 (−36): the
    // last day of the old level; b: flat → all D=0, earliest day wins
    assert(got.toSeq == Seq(
      ("a", "2024-01-03", -36L, 6L, 18L),
      ("b", "2024-01-01", 0L, 3L, 6L)))
  }

  test("mannWhitneyU: doubled tie-averaged ranks, independent U's, identity measured; miscoded splits refuse") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // group 0: {1, 2, 2}; group 1: {2, 3} → avg ranks 1, 3, 3, 3, 5
    // R1 = 3+5 = 8 → U1 = 5; R0 = 1+3+3 = 7 → U0 = 1; U0+U1 = n0·n1 = 6
    val df = Seq((0L, 1L), (0L, 2L), (0L, 2L), (1L, 2L), (1L, 3L)).toDF("g", "v")
    val r = Analytics.mannWhitneyU(df, col("g"), col("v")).head()
    assert(r.getAs[Long]("n0") == 3L && r.getAs[Long]("n1") == 2L)
    assert(r.getAs[Long]("r1_doubled") == 16L)
    assert(r.getAs[Long]("u1_doubled") == 10L)
    assert(r.getAs[Long]("u0_doubled") == 2L)
    assert(r.getAs[Boolean]("identity_holds"))
    // the guard now rides the single-action plan as a raise_error law
    // column (no second corpus scan), so the refusal surfaces at action
    // time wrapped by Spark — assert the loud message, not the class
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString("\n")
    val oneGroup = intercept[Throwable](
      Analytics.mannWhitneyU(df.where(col("g") === 0L), col("g"), col("v")).head())
    assert(messages(oneGroup).contains("mannWhitneyU"))
    val extraGroup = intercept[Throwable](
      Analytics.mannWhitneyU(
        df.union(Seq((2L, 9L)).toDF("g", "v")), col("g"), col("v")).head())
    assert(messages(extraGroup).contains("miscoded split"))
  }

  test("aucExact: separation 1.0, anti-separation 0.0, all-ties exactly 0.5") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // every positive outranks every negative
    val sep = Seq((1L, 10L), (1L, 9L), (0L, 2L), (0L, 1L)).toDF("y", "s")
    val r1 = Analytics.aucExact(sep, col("y"), col("s")).head()
    assert(r1.getAs[Long]("auc_num") == r1.getAs[Long]("auc_den"))
    assert(r1.getAs[Long]("auc_ppm") == 1000000L && r1.getAs[Long]("gini_ppm") == 1000000L)
    assert(r1.getAs[Boolean]("identity_holds"))
    // every negative outranks every positive
    val anti = Seq((0L, 10L), (0L, 9L), (1L, 2L), (1L, 1L)).toDF("y", "s")
    val r2 = Analytics.aucExact(anti, col("y"), col("s")).head()
    assert(r2.getAs[Long]("auc_num") == 0L && r2.getAs[Long]("auc_ppm") == 0L)
    assert(r2.getAs[Long]("gini_ppm") == -1000000L)
    // a constant score is half credit everywhere: AUC exactly 1/2
    val ties = Seq((1L, 7L), (1L, 7L), (0L, 7L), (0L, 7L), (0L, 7L)).toDF("y", "s")
    val r3 = Analytics.aucExact(ties, col("y"), col("s")).head()
    assert(r3.getAs[Long]("auc_num") * 2L == r3.getAs[Long]("auc_den"))
    assert(r3.getAs[Long]("auc_ppm") == 500000L && r3.getAs[Long]("gini_ppm") == 0L)
  }

  test("calendarIslands: runs and the gaps between them, duplicates collapsed") {
    import spark.implicits._
    val df = Seq("2024-01-01", "2024-01-02", "2024-01-02", "2024-01-03",
      "2024-01-07", "2024-01-10", "2024-01-11").toDF("d")
      .select(to_date(col("d")).as("d"))
    val got = Analytics.calendarIslands(df, col("d"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getDate(2).toString, r.getLong(3)))
    assert(got.toSeq == Seq(
      ("island", "2024-01-01", "2024-01-03", 3L),
      ("gap", "2024-01-04", "2024-01-06", 3L),
      ("island", "2024-01-07", "2024-01-07", 1L),
      ("gap", "2024-01-08", "2024-01-09", 2L),
      ("island", "2024-01-10", "2024-01-11", 2L)))
  }

  test("prorateAmount: largest-remainder split conserves cents exactly, front-loads the remainder") {
    import spark.implicits._
    val df = Seq((1L, "2024-03-01", 100L), (2L, "2024-03-05", 7L), (3L, "2024-03-09", 0L))
      .toDF("k", "d", "cents")
    val got = Analytics.prorateAmount(df, col("k"), to_date(col("d")), col("cents"), spanDays = 7)
      .orderBy(col("key"), col("day"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(2), r.getBoolean(3)))
    val k1 = got.filter(_._1 == 1L)
    assert(k1.map(_._3).toSeq == Seq(15L, 15L, 14L, 14L, 14L, 14L, 14L)) // 100 = 14·7 + 2
    assert(k1.head._2 == "2024-03-01" && k1.last._2 == "2024-03-07")
    assert(got.filter(_._1 == 2L).map(_._3).toSeq == Seq.fill(7)(1L))
    assert(got.filter(_._1 == 3L).map(_._3).toSeq == Seq.fill(7)(0L))
    assert(got.forall(_._4), "conservation must be measured true for every key")
  }

  test("poissonBootstrapCi: deterministic, CI brackets the mean, sane width") {
    import spark.implicits._
    val df = (0 until 2000).map(i => ("g", i.toLong, (i % 100).toLong)).toDF("g", "id", "x")
    def run() = Analytics.poissonBootstrapCi(
      df, col("g"), col("id"), col("x"), replicas = 50, seed = "t")
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    val Array((n, mean, b, lo, hi)) = run()
    assert(run().toSeq == Seq((n, mean, b, lo, hi)), "seeded draws must replay")
    assert(n == 2000L && b == 50L && mean == 49.5)
    assert(lo <= mean && mean <= hi, s"CI [$lo, $hi] must bracket the observed mean")
    assert(lo < hi && hi - lo < 10.0,
      s"95% band of a mean over 2000 near-uniform values is narrow, got [$lo, $hi]")
    // thresholds exact, increasing, covering the Lehmer modulus
    val ts = Analytics.PoissonOneThresholds
    assert(ts.map(_._2) == ts.map(_._2).sorted && ts.last._2 == Analytics.LehmerM)
  }

  test("overlappingIntervals: binned join equals the naive theta join, pairs deduped") {
    import spark.implicits._
    // deterministic pseudo-random intervals spanning multiple bins
    val iv = (0 until 200).map { i =>
      val k = (i * 2654435761L) % 97
      val s = (i * 40503L) % 10000
      (k, i.toLong, s, s + (i * 7919L) % 500)
    }.toDF("k", "id", "s", "e")
    val binned = Analytics.overlappingIntervals(
        iv, col("k"), col("id"), col("s"), col("e"), binSec = 128L)
      .select("key_a", "id_a", "key_b", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val a = iv.select(col("k").as("ka"), col("id").as("ia"), col("s").as("sa"), col("e").as("ea"))
    val b = iv.select(col("k").as("kb"), col("id").as("ib"), col("s").as("sb"), col("e").as("eb"))
    val naive = a.join(b, col("ka") < col("kb") && col("sa") <= col("eb") && col("sb") <= col("ea"))
      .select("ka", "ia", "kb", "ib")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(naive.nonEmpty, "fixture must actually overlap")
    assert(binned == naive, s"binned != naive: missing=${(naive -- binned).take(3)} " +
      s"extra=${(binned -- naive).take(3)}")
    // multi-bin intervals must not duplicate pairs
    val n = Analytics.overlappingIntervals(
      iv, col("k"), col("id"), col("s"), col("e"), binSec = 128L).count()
    assert(n == binned.size.toLong, "distinct must collapse shared-bin duplicates")
  }

  test("sequencePatterns: ordered codes, non-overlapping counts, unmapped types measured") {
    import spark.implicits._
    // user 1: v c v p v p  → v[^p]*p matches "vcvp","vp" = 2
    // user 2: e v p        → e[^pe]*p = 1; v[^p]*p = 1 (overlap with the
    //   error match is fine — patterns count independently)
    // user 3: has an unmapped type → all_types_mapped false
    val rows = Seq(
      (1L, 1L, "view"), (1L, 2L, "click"), (1L, 3L, "view"),
      (1L, 4L, "purchase"), (1L, 5L, "view"), (1L, 6L, "purchase"),
      (2L, 1L, "error"), (2L, 2L, "view"), (2L, 3L, "purchase"),
      (3L, 1L, "view"), (3L, 2L, "mystery"), (3L, 3L, "purchase"))
      .map { case (u, i, t) => (u, new java.sql.Timestamp(i * 1000L), i, t) }
      .toDF("u", "ts", "eid", "t")
    val got = Analytics.sequencePatterns(
      rows, col("u"), col("ts"), col("eid"), col("t"),
      codes = Seq("view" -> "v", "click" -> "c", "purchase" -> "p", "error" -> "e"),
      patterns = Seq("conv" -> "v[^p]*p", "recov" -> "e[^pe]*p"))
      .orderBy(col("key"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2), r.getInt(3), r.getInt(4)))
    assert(got.toSeq == Seq(
      (1L, 6, true, 2, 0),
      (2L, 3, true, 1, 1),
      (3L, 2, false, 1, 0)))
  }

  test("prorateAmount: exact past 2^53 (integer div, no double detour) and under duplicate keys") {
    import spark.implicits._
    // 2^60 + 5 is NOT representable as a double; a Column./ detour would
    // allocate the wrong per-day quotient and fail conservation
    val big = (1L << 60) + 7L // ≡ 2 (mod 3): the remainder front-loads
    val df = Seq((1L, "2024-03-01", big), (2L, "2024-03-02", 9L), (2L, "2024-03-02", 9L))
      .toDF("k", "d", "cents")
    val got = Analytics.prorateAmount(df, col("k"), to_date(col("d")), col("cents"), spanDays = 3)
      .orderBy(col("key"), col("day"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    val k1 = got.filter(_._1 == 1L).map(_._2)
    val expected = (0 until 3).map(i => big / 3 + (if (i < big % 3) 1L else 0L))
    assert(k1.sum == big && k1.toSeq == expected,
      "big-amount allocation must be exact integer largest-remainder")
    // duplicate (key, day0, cents) orders: 2 orders × 9 cents over 3 days →
    // group sums 18 across 6 rows; per-order conservation still measures true
    val k2 = got.filter(_._1 == 2L)
    assert(k2.map(_._2).sum == 18L && got.forall(_._3),
      "conservation must hold per order group even when key is not unique")
  }

  test("kaplanMeier: textbook life table — risk sets, ties, censoring, product-limit") {
    import spark.implicits._
    // durations: 1(event), 2(censored), 3(event), 3(event), 4(censored)
    val durs = Seq((1L, 1L), (2L, 0L), (3L, 1L), (3L, 1L), (4L, 0L))
      .toDF("dur", "ev")
    val got = Analytics.kaplanMeier(durs, col("dur"), col("ev"))
      .orderBy(col("t"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(got.toSeq == Seq(
      (1L, 5L, 1L, 0L, 0.8, 0.2),           // S = 4/5; H = 1/5
      (2L, 4L, 0L, 1L, 0.8, 0.2),           // censoring changes neither
      (3L, 3L, 2L, 0L, 0.266667, 0.866667), // S = 0.8/3; H = 1/5 + 2/3
      (4L, 1L, 0L, 1L, 0.266667, 0.866667)),
      s"got ${got.toSeq}")
    // null and negative durations are excluded, not crashed on
    val messy = Seq((Some(2L), 1L), (None, 1L), (Some(-1L), 0L), (Some(2L), 0L))
      .toDF("dur", "ev")
    val clean = Analytics.kaplanMeier(messy, col("dur"), col("ev")).collect()
    assert(clean.length == 1 && clean.head.getLong(1) == 2L)
  }

  test("kaplanMeier: a terminal time where every subject at risk has the event survives at exactly 0") {
    import spark.implicits._
    // durations: 1(event), 2(censored), 3(event), 3(event) — at t=3 the
    // risk set is the two events, so S(3) = 0.75 · (2 − 2)/2 = 0
    val durs = Seq((1L, 1L), (2L, 0L), (3L, 1L), (3L, 1L)).toDF("dur", "ev")
    val got = Analytics.kaplanMeier(durs, col("dur"), col("ev"))
      .orderBy(col("t")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(got.toSeq == Seq(
      (1L, 4L, 1L, 0L, 0.75, 0.25),
      (2L, 3L, 0L, 1L, 0.75, 0.25),
      (3L, 2L, 2L, 0L, 0.0, 1.25)),
      s"got ${got.toSeq}")
  }

  test("logRankTest: hand-computed Mantel-Cox O/E/variance; miscoded groups refuse") {
    import spark.implicits._
    // g0: events at 1 and 3; g1: event at 2, censored at 3
    val durs = Seq((1L, 1L, 0L), (3L, 1L, 0L), (2L, 1L, 1L), (3L, 0L, 1L))
      .toDF("dur", "ev", "grp")
    val got = Analytics.logRankTest(durs, col("dur"), col("ev"), col("grp"))
      .orderBy(col("grp")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getBoolean(5)))
    // E1 = 2/4 + 2/3 + 1/2 = 1.666667; V = 1/4 + 2/9 + 1/4 = 0.722222
    // chi2 = (1 - 5/3)^2 / (13/18) = 0.615385
    assert(got.toSeq == Seq(
      (0L, 2L, 2L, 1.333333, 0.615385, false),
      (1L, 2L, 1L, 1.666667, 0.615385, false)), s"got ${got.toSeq}")
    // a third group value fails loudly at evaluation
    val bad = Seq((1L, 1L, 0L), (2L, 1L, 2L)).toDF("dur", "ev", "grp")
    val ex = intercept[Exception] {
      Analytics.logRankTest(bad, col("dur"), col("ev"), col("grp")).collect()
    }
    def anywhere(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("ONLY 0 and 1")) ||
        anywhere(t.getCause))
    assert(anywhere(ex), s"got: ${ex.getMessage}")
  }
}
