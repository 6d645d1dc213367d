package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Sessionize

class SessionizeSpec extends AnyFunSuite {

  test("session boundaries agree with Spark's native session_window aggregation") {
    import SparkTestSession._
    import org.apache.spark.sql.functions._
    // independent implementation of the same 300 s-gap semantics: Spark's
    // session_window closes a session when the next event is >= gap after the
    // last — cross-validating our window-based sessionize against the
    // built-in (ids differ; compare (user, start_sec, n_events) triples)
    val ev = Tables.events(spark, SfDir)
    val ours = Sessionize.sessionize(ev)
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("epoch_sec")).as("start_sec"), count(lit(1)).as("n"))
      .select("user_id", "start_sec", "n")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val native = ev
      .withColumn("ts_sec", timestamp_seconds(unix_timestamp(col("ts"))))
      .groupBy(col("user_id"), session_window(col("ts_sec"), "300 seconds"))
      .agg(min(unix_timestamp(col("ts_sec"))).as("start_sec"), count(lit(1)).as("n"))
      .select("user_id", "start_sec", "n")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ours == native)
    assert(ours.nonEmpty)
  }
  import SparkTestSession._

  private def events(rows: (Long, Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("event_id", "user_id", "ts_str")
      .withColumn("ts", to_timestamp(col("ts_str")))
      .drop("ts_str")
  }

  private def sessionsOf(df: DataFrame): Map[Long, String] =
    Sessionize.sessionize(df).select("event_id", "session_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("gap < 300s stays in one session; >= 300s starts a new one (boundary exact)") {
    val df = events(
      (1L, 7L, "2024-01-01 00:00:00"),
      (2L, 7L, "2024-01-01 00:04:59"), // 299s → same session
      (3L, 7L, "2024-01-01 00:09:59")) // 300s → NEW session (>= rule)
    val s = sessionsOf(df)
    assert(s(1L) == s(2L))
    assert(s(2L) != s(3L))
  }

  test("gap computed on whole-second truncation like the reference (F4)") {
    // 00:00:00.900 → 00:04:59.100: real gap 298.2s; truncated 299 - 0 = 299 → same
    // 00:04:59.100 → 00:09:59.900: real gap 300.8s; truncated 599-299 = 300 → new
    val df = events(
      (1L, 7L, "2024-01-01 00:00:00.9"),
      (2L, 7L, "2024-01-01 00:04:59.1"),
      (3L, 7L, "2024-01-01 00:09:59.9"))
    val s = sessionsOf(df)
    assert(s(1L) == s(2L))
    assert(s(3L) != s(2L))
  }

  test("first event of every user starts a session; ids unique per (user, start)") {
    val df = events(
      (1L, 1L, "2024-01-01 00:00:00"),
      (2L, 2L, "2024-01-01 00:00:00"),
      (3L, 1L, "2024-01-01 01:00:00"))
    val out = Sessionize.sessionize(df)
    assert(out.where(col("is_new_session")).count() == 3)
    assert(out.select("session_id").distinct().count() == 3)
  }

  test("split-invariance: sessionize(batch1) + continuity(batch2) == sessionize(whole), any cut") {
    val whole = Tables.events(spark, SfDir)
    val full = Sessionize.sessionize(whole)
      .select("event_id", "session_id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

    for (cutStr <- Seq("2024-01-05 12:34:56", "2024-01-16 00:00:00", "2024-01-28 03:00:00")) {
      val cut = to_timestamp(lit(cutStr))
      val b1 = Sessionize.sessionize(whole.where(col("ts") < cut))
      val tail = b1.where(unix_timestamp(col("ts")) >= unix_timestamp(cut) - 300)
      val b2 = Sessionize.sessionizeWithContinuity(whole.where(col("ts") >= cut), tail)
      val split = (b1.select("event_id", "session_id").collect() ++
        b2.select("event_id", "session_id").collect())
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(split == full, s"cut at $cutStr diverged")
    }
  }

  test("continuity: within-gap first event inherits the open session, beyond-gap does not") {
    val b1 = Sessionize.sessionize(events((1L, 7L, "2024-01-01 00:00:00")))
    // within 300s of last existing event → inherits
    val cont = Sessionize.sessionizeWithContinuity(
      events((2L, 7L, "2024-01-01 00:04:00")), b1)
    assert(cont.select("session_id").head().getString(0) ==
      b1.select("session_id").head().getString(0))
    assert(!cont.select("is_new_session").head().getBoolean(0))
    // at exactly 300s → new session
    val fresh = Sessionize.sessionizeWithContinuity(
      events((3L, 7L, "2024-01-01 00:05:00")), b1)
    assert(fresh.select("session_id").head().getString(0) !=
      b1.select("session_id").head().getString(0))
  }

  // (event_id, user_id, epoch second) rows cut at `cutSec`: rows before it
  // are batch 1, the rest batch 2
  private case class Split(rows: Seq[(Long, Long, Long)], cutSec: Long)

  private def epochFrame(rows: Seq[(Long, Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("event_id", "user_id", "sec")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
  }

  private val SessionCols = Seq("event_id", "session_id", "session_start_sec", "is_new_session")

  private def sessionRows(df: DataFrame): Seq[(Long, String, Long, Boolean)] =
    df.select(SessionCols.map(col): _*).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getBoolean(3))).toSeq.sortBy(_._1)

  /** `sessionize(b1) ++ sessionizeWithContinuity(b2, tail)` next to
    * `sessionize(whole)`, the tail being b1's rows in the last gap before
    * the cut — the cut `EventsEtl.loadBatch` makes.
    */
  private def splitAndWhole(c: Split) = {
    val whole = epochFrame(c.rows)
    val sec = unix_timestamp(col("ts"))
    val b1 = Sessionize.sessionize(whole.where(sec < c.cutSec))
    val tail = b1.where(sec >= c.cutSec - 300)
    val b2 = Sessionize.sessionizeWithContinuity(whole.where(sec >= c.cutSec), tail)
    ((sessionRows(b1) ++ sessionRows(b2)).sortBy(_._1), sessionRows(Sessionize.sessionize(whole)))
  }

  // Per user: 0–6 events whose gaps sit on the 300 s boundary or tie in the
  // same second; event ids are a random permutation, so same-second ties
  // order by id. The cut lands within ±301 s of some event, or before or
  // after all of them (empty tail / empty batch 2).
  private val splitGen: Gen[Split] = for {
    nUsers <- Gen.choose(1, 4)
    users <- Gen.listOfN(nUsers, for {
      offset <- Gen.choose(0L, 600L)
      gaps <- Gen.choose(0, 6).flatMap(Gen.listOfN(_, Gen.oneOf(0L, 0L, 1L, 299L, 300L, 301L, 900L)))
    } yield gaps.scanLeft(offset)(_ + _).drop(1))
    secs = users.zipWithIndex.flatMap { case (ss, u) => ss.map(u.toLong -> _) }
    seed <- Gen.long
    ids = new scala.util.Random(seed).shuffle((1L to secs.size.toLong).toList)
    base = 1704067200L // 2024-01-01 00:00:00 UTC
    cut <- if (secs.isEmpty) Gen.const(0L)
      else Gen.frequency(
        8 -> Gen.zip(Gen.oneOf(secs.map(_._2)), Gen.oneOf(-301L, -300L, -299L, -1L, 0L, 1L, 299L, 300L, 301L))
          .map { case (s, d) => s + d },
        1 -> Gen.const(-1000L),
        1 -> Gen.const(10000L))
  } yield Split(
    ids.zip(secs).map { case (id, (u, s)) => (id, u, base + s) },
    base + cut)

  test("property: split at a random cut (ties, 299/300/301 s gaps) == single-batch sessionize") {
    val prop = Prop.forAllNoShrink(splitGen) { c =>
      val (split, whole) = splitAndWhole(c)
      Prop(split == whole) :| s"cut ${c.cutSec} rows ${c.rows}"
    }
    val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, Pretty.pretty(res))
  }

  test("continuity edge shapes: empty tail, tail-only and batch-only users") {
    val base = 1704067200L
    // user 1: only before the cut (tail-only); user 2: only after (batch-only);
    // user 3: 120 s across the cut (continues); cut at base + 1000
    val rows = Seq(
      (1L, 1L, base + 900), (2L, 1L, base + 950),
      (3L, 2L, base + 1000), (4L, 2L, base + 1200),
      (5L, 3L, base + 940), (6L, 3L, base + 1060))
    for (cut <- Seq(base + 1000, base)) { // base: every row in batch 2, empty tail
      val (split, whole) = splitAndWhole(Split(rows, cut))
      assert(split == whole, s"cut at $cut")
    }
    val c = Split(rows, base + 1000)
    val sec = unix_timestamp(col("ts"))
    val tail = Sessionize.sessionize(epochFrame(rows).where(sec < c.cutSec))
    val b2 = Sessionize.sessionizeWithContinuity(epochFrame(rows).where(sec >= c.cutSec), tail)
    assert(b2.select("event_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L, 6L),
      "tail rows must not leak into the output")
    val cont = b2.where(col("event_id") === 6L).select("prev_epoch_sec", "is_new_session").head()
    assert(cont.getLong(0) == base + 940 && !cont.getBoolean(1),
      "a continuing user's first batch row lags to the tail event")
  }

  test("sessionPaths: in-row sort orders same-second events by id; top-k tiebreak total") {
    import spark.implicits._
    // u1 session: view,click in the SAME second (id order decides),
    // then a second session after the gap: view alone
    // u2 session: view>click — same path as u1's first session
    val ev = Seq(
      (2L, 1L, "2024-01-01 10:00:00", "click"),
      (1L, 1L, "2024-01-01 10:00:00", "view"),
      (3L, 1L, "2024-01-01 11:00:00", "view"),
      (4L, 2L, "2024-01-01 09:00:00", "view"),
      (5L, 2L, "2024-01-01 09:00:30", "click"))
      .toDF("event_id", "user_id", "ts_s", "event_type")
      .selectExpr(
        "event_id", "user_id", "CAST(ts_s AS TIMESTAMP) AS ts", "event_type")
    val got = Sessionize.sessionPaths(ev, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("view>click", 2L), ("view", 1L)))
  }
}
