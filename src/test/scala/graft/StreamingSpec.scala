package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Sessionize
import graft.streaming.StreamingSessionize

class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  // (event_id, user_id, ts): user 7 has a 4-min gap (same session) then an
  // 8-min gap (new session) that STRADDLES the trigger cut; user 9 interleaves.
  private val batch1 = Seq(
    (1L, 7L, ts("2024-01-01 10:00:00")),
    (2L, 9L, ts("2024-01-01 10:01:00")),
    (3L, 7L, ts("2024-01-01 10:04:00")),
    (4L, 9L, ts("2024-01-01 10:02:30")))
  private val batch2 = Seq(
    (5L, 7L, ts("2024-01-01 10:07:00")), // 3 min after event 3 → continues
    (6L, 7L, ts("2024-01-01 10:15:00")), // 8 min gap → new session
    (7L, 9L, ts("2024-01-01 10:20:00"))) // 17.5 min gap → new session

  test("streaming sessionize across triggers equals batch sessionize of the union") {
    val input = MemoryStream[(Long, Long, Timestamp)]
    val sessionized = StreamingSessionize.sessionize(
      input.toDF().toDF("event_id", "user_id", "ts"))
    val query = sessionized.writeStream
      .format("memory").queryName("stream_sess").outputMode("append").start()
    try {
      input.addData(batch1: _*)
      query.processAllAvailable()
      input.addData(batch2: _*)
      query.processAllAvailable()
      // flush: a far-future event from an unrelated user pushes the
      // watermark past every real event so the buffered tail finalizes
      input.addData((999L, 99L, ts("2024-01-02 00:00:00")))
      query.processAllAvailable()
    } finally query.stop()

    val got = spark.table("stream_sess")
      .where(col("event_id") <= 7)
      .select("event_id", "epoch_sec", "is_new_session", "session_start_sec", "session_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3), r.getString(4)))
      .toSet

    val expected = Sessionize.sessionize(
      (batch1 ++ batch2).toDF("event_id", "user_id", "ts"))
      .select("event_id", "epoch_sec", "is_new_session", "session_start_sec", "session_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3), r.getString(4)))
      .toSet

    assert(got == expected)
    assert(got.size == 7)
  }

  test("late-but-within-watermark arrivals sessionize exactly like batch") {
    // arrival order deliberately scrambles event time across triggers:
    // 10:10 arrives first, then 10:02 (late, within the 10-min watermark),
    // then 10:12 — an eager sessionizer would regress its gap baseline to
    // 10:02 and wrongly split 10:12 into a new session
    val events = Seq(
      (1L, 7L, ts("2024-01-01 10:10:00")),
      (2L, 7L, ts("2024-01-01 10:02:00")),
      (3L, 7L, ts("2024-01-01 10:12:00")))
    val input = MemoryStream[(Long, Long, Timestamp)]
    val query = StreamingSessionize.sessionize(
      input.toDF().toDF("event_id", "user_id", "ts"))
      .writeStream.format("memory").queryName("stream_late").outputMode("append").start()
    try {
      events.foreach { e => input.addData(e); query.processAllAvailable() }
      input.addData((999L, 99L, ts("2024-01-02 00:00:00")))
      query.processAllAvailable()
    } finally query.stop()

    val got = spark.table("stream_late")
      .where(col("event_id") <= 3)
      .select("event_id", "is_new_session", "session_id")
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2))).toSet
    val expected = Sessionize.sessionize(events.toDF("event_id", "user_id", "ts"))
      .select("event_id", "is_new_session", "session_id")
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2))).toSet
    assert(got == expected)
    assert(got.size == 3)
  }

  test("streaming exact dedup drops later duplicates across triggers") {
    val input = MemoryStream[(Long, String, Timestamp)]
    val deduped = StreamingSessionize.exactDedup(
      input.toDF().toDF("doc_id", "text", "ts"))
    val query = deduped.writeStream
      .format("memory").queryName("stream_dedup").outputMode("append").start()
    try {
      input.addData(
        (1L, "The quick  brown fox", ts("2024-01-01 10:00:00")),
        (2L, "a different document", ts("2024-01-01 10:00:05")))
      query.processAllAvailable()
      input.addData(
        (3L, "the quick brown FOX", ts("2024-01-01 10:00:10")), // dup of 1 after normalize
        (4L, "a third document", ts("2024-01-01 10:00:15")))
      query.processAllAvailable()
    } finally query.stop()

    val survivors = spark.table("stream_dedup").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 2L, 4L))
  }

  test("near-dup ingest flags stream docs matching the static corpus") {
    import spark.implicits._
    val corpus = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (200L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val input = MemoryStream[(Long, String, Timestamp)]
    val corpusIdx = StreamingSessionize.corpusBandIndex(corpus).persist()
    val flagged = StreamingSessionize.nearDupIngest(
      input.toDF().toDF("doc_id", "text", "ts"), corpusIdx, minEstJaccard = 0.5)
    val query = flagged.writeStream
      .format("memory").queryName("stream_neardup").outputMode("append").start()
    try {
      input.addData(
        (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", ts("2024-01-01 10:00:00")), // exact dup of 100
        (2L, "totally unrelated fresh document content here", ts("2024-01-01 10:00:01")))
      query.processAllAvailable()
    } finally {
      query.stop()
      corpusIdx.unpersist()
    }

    val got = spark.table("stream_neardup")
      .select("doc_id", "corpus_doc_id", "est_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 100L, 1.0)))
  }

  test("streaming decontaminate equals the batch bloom route doc-for-doc") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, SfDir)
    val corpus = docs.where(col("doc_id") % 50 =!= 0)
    val eval = docs.where(col("doc_id") % 50 === 0)
    val bytes = graft.operators.Dedup.evalGramFilter(eval)
    val input = MemoryStream[(Long, String)]
    val flagged = StreamingSessionize.decontaminateIngest(
      input.toDF().toDF("doc_id", "text"), bytes)
    val query = flagged.writeStream
      .format("memory").queryName("stream_decon").outputMode("append").start()
    try {
      input.addData(corpus.select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq: _*)
      query.processAllAvailable()
    } finally query.stop()
    val stream = spark.table("stream_decon").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the SAME filter bytes probed by the same hash-space distinct grams:
    // streaming and batch verdicts must agree row-for-row, counts included
    val batch = graft.operators.Dedup.contaminationReportBloom(corpus, eval).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stream == batch)
    assert(stream.nonEmpty)
  }

  test("frozen-λ streaming dsir score equals the batch fit bitwise") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, SfDir)
    val target = docs.where(col("doc_id") % 3 === 0) // any fixed target works for the law
    val lam = graft.operators.Sampling.dsirLambdaArray(docs, target)
    val input = MemoryStream[(Long, String)]
    val scored = StreamingSessionize.dsirScoreIngest(
      input.toDF().toDF("doc_id", "text"), lam)
    val query = scored.writeStream
      .format("memory").queryName("stream_dsir").outputMode("append").start()
    try {
      input.addData(docs.select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq: _*)
      query.processAllAvailable()
    } finally query.stop()
    val stream = spark.table("stream_dsir").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSet
    val batch = graft.operators.Sampling.dsirWeights(docs, target).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSet
    // same quantized λs, re-quantized sums: the frozen-array fold and the
    // batch shuffle-sum must agree to the last bit, weights included
    assert(stream == batch)
    assert(stream.nonEmpty)
  }

  test("streaming wau windows are Monday-aligned weeks with sane counts") {
    val input = MemoryStream[(Long, Long, Timestamp)]
    // two ISO weeks: Mon 2024-01-01 .. and Mon 2024-01-08 ..
    val data = Seq(
      (1L, 1L, ts("2024-01-02 10:00:00")),
      (2L, 2L, ts("2024-01-03 10:00:00")),
      (3L, 1L, ts("2024-01-04 10:00:00")),
      (4L, 3L, ts("2024-01-09 10:00:00")))
    val wau = StreamingSessionize.wauApprox(input.toDF().toDF("event_id", "user_id", "ts"))
    val query = wau.writeStream
      .format("memory").queryName("stream_wau").outputMode("append").start()
    try {
      input.addData(data: _*)
      query.processAllAvailable()
      // advance the watermark past both windows so append-mode emits them
      input.addData((5L, 9L, ts("2024-02-01 00:00:00")))
      query.processAllAvailable()
    } finally query.stop()

    val got = spark.table("stream_wau")
      .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toMap
    assert(got.get("2024-01-01").contains(2L)) // users 1,2 (HLL exact at n=2)
    assert(got.get("2024-01-08").contains(1L)) // user 3
  }

  test("rate-limit replay admits exactly the batch window-rank quota set") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, SfDir)
    val got = StreamingSessionize.rateLimitReplay(
      ev, maxPerWindow = 2L, windowSec = 3600L, queryName = "ratelimit_spec_sink")
      .collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("window_start_sec"),
        r.getAs[Long]("rank_in_window"))).toSet
    val expected = ev
      .select(
        col("event_id").cast("long").as("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("epoch_sec"))
      .withColumn("window_start_sec", expr("(epoch_sec div 3600) * 3600"))
      .withColumn(
        "rank_in_window",
        expr("""CAST(row_number() OVER (
                PARTITION BY user_id, window_start_sec
                ORDER BY epoch_sec, event_id) AS BIGINT)"""))
      .where(col("rank_in_window") <= 2)
      .collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("window_start_sec"),
        r.getAs[Long]("rank_in_window"))).toSet
    assert(expected.nonEmpty)
    assert(got == expected,
      s"admitted sets diverge: missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
  }

  test("LEFT OUTER stream-stream interval join null-emits every unmatched view exactly once") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, SfDir)
    val got = StreamingSessionize.intervalJoinReplay(
      ev, queryName = "ivjoin_left_spec_sink", joinType = "left_outer")
      .collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]), r.getLong(2)))
      .toSet
    val v = ev.where(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("view_ts"))
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
    val expected = v.join(
      p, expr("user_id = p_user AND p_ts >= view_ts AND p_ts <= view_ts + interval 1800 seconds"),
      "left_outer")
      .select(col("view_id"), col("purchase_id"), col("user_id"))
      .collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]), r.getLong(2)))
      .toSet
    assert(expected.exists(_._2.isEmpty), "fixture must contain unmatched views")
    assert(got == expected,
      s"left join diverged: missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
  }

  test("late-data audit: held-back rows are dropped, accounted, and absent from output") {
    import org.apache.spark.sql.functions._
    val rows = Seq(
      (1L, 10L, 0L), (2L, 11L, 100L), (3L, 12L, 3599L), // first window — held back
      (4L, 20L, 7200L), (5L, 21L, 7300L),
      (6L, 22L, 14400L), (7L, 23L, 50000L))
    import spark.implicits._
    val ev = rows.toDF("event_id", "user_id", "sec")
      .select(col("event_id"), col("user_id"), col("sec").cast("timestamp").as("ts"))
    val got = StreamingSessionize.lateDataAuditReplay(
      ev, watermarkDelaySec = 600L, queryName = "late_audit_spec_sink")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3), r.getBoolean(4)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      (7200L, 2L, 41L, true, true),
      (14400L, 1L, 22L, true, true),
      (46800L, 1L, 23L, true, true)),
      s"late-audit output diverged: ${got.toSeq}")
    // the metric really counted the dropped first-window partial
    assert(StreamingSessionize.lastReplayStateMetrics.map(_._3).sum == 1L)
  }

  test("FULL OUTER stream-stream interval join emits both unmatched sides exactly once") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, SfDir)
    val got = StreamingSessionize.intervalJoinReplay(
      ev, queryName = "ivjoin_full_spec_sink", joinType = "full_outer")
      .collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
        Option(r.get(1)).map(_.asInstanceOf[Long]), r.getLong(2)))
      .toSet
    val v = ev.where(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("view_ts"))
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
    val expected = v.join(
      p, expr("user_id = p_user AND p_ts >= view_ts AND p_ts <= view_ts + interval 1800 seconds"),
      "full_outer")
      .select(col("view_id"), col("purchase_id"),
        coalesce(col("user_id"), col("p_user")).as("user_id"))
      .collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
        Option(r.get(1)).map(_.asInstanceOf[Long]), r.getLong(2)))
      .toSet
    assert(expected.exists(_._1.isEmpty), "fixture must contain unmatched purchases")
    assert(expected.exists(_._2.isEmpty), "fixture must contain unmatched views")
    assert(got == expected,
      s"full join diverged: missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
  }

  test("stream-stream interval join equals the batch interval join") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, SfDir)
    val got = StreamingSessionize.intervalJoinReplay(ev, queryName = "ivjoin_spec_sink")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val v = ev.where(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("view_ts"))
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
    val expected = v.join(
      p, expr("user_id = p_user AND p_ts >= view_ts AND p_ts <= view_ts + interval 1800 seconds"))
      .select(
        col("view_id"), col("purchase_id"), col("user_id"),
        (unix_timestamp(col("p_ts")) - unix_timestamp(col("view_ts"))).as("gap_sec"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(expected.nonEmpty, "fixture must produce at least one view→purchase match")
    assert(got == expected,
      s"stream join diverged: missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
  }

  test("replay state metrics: eviction measured, sentinel drain empties state, no watermark drops") {
    // State-boundedness has so far been ARGUED from the derived horizons;
    // these pins MEASURE it from the queries' own state-operator progress
    // (captured by the replay harnesses before stop()).
    val ev = Tables.events(spark, SfDir)
    StreamingSessionize.intervalJoinReplay(ev, queryName = "ivjoin_metrics_sink")
    val ij = StreamingSessionize.lastReplayStateMetrics
    assert(ij.nonEmpty, "interval-join replay recorded no state-operator progress")
    val peak = ij.map(_._1).max
    val fin = ij.last._1
    assert(ij.map(_._2).sum > 0,
      "watermark eviction never fired — the state bound was never exercised")
    assert(fin < peak, s"state did not drain: final=$fin peak=$peak")
    // the only rows the final watermark cannot clear are the 3 sentinel
    // batches' own 2 rows each (their eviction horizon is beyond the last
    // watermark by construction)
    assert(fin <= 6, s"only the sentinel rows may remain buffered at stop, got $fin")
    assert(ij.map(_._3).sum == 0,
      "batch parity must not be bought by watermark-dropped rows")

    StreamingSessionize.rateLimitReplay(
      ev, maxPerWindow = 2L, windowSec = 3600L, queryName = "ratelimit_metrics_sink")
    val rl = StreamingSessionize.lastReplayStateMetrics
    assert(rl.nonEmpty, "rate-limit replay recorded no state-operator progress")
    // after the sentinel advance every real user's windows are past their
    // horizon and their state rows removed; only the sentinel user's own
    // buffered event may survive
    assert(rl.last._1 <= 1,
      s"quota state must be evicted once windows pass the watermark, got ${rl.last._1}")
    assert(rl.map(_._1).max > rl.last._1, "peak state must exceed the drained tail")
    assert(rl.map(_._3).sum == 0, "the time-ranged slices must produce no watermark drops")
  }

  test("stream-static enrich: broadcast dim join equals batch, sentinels vanish in the join") {
    val ev = Tables.events(spark, SfDir)
    val got = StreamingSessionize.enrichStaticReplay(ev, queryName = "enrich_spec_sink")
      .collect().map(r => (r.getDate(0).toString, r.getString(1), r.getLong(2))).toSet
    val np = sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
    val dim = ev.groupBy(col("user_id")).agg(np.as("np"))
      .select(col("user_id"),
        when(col("np") >= 5L, "high").when(col("np") >= 1L, "mid")
          .otherwise("none").as("tier"))
    val expected = ev.join(dim, Seq("user_id"))
      .groupBy(to_date(col("ts")).as("day"), col("tier"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getDate(0).toString, r.getString(1), r.getLong(2))).toSet
    assert(expected.nonEmpty)
    assert(got == expected,
      s"enrich diverged: missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    val m = StreamingSessionize.lastReplayStateMetrics
    assert(m.nonEmpty && m.map(_._3).sum == 0, "no watermark drops expected")
  }

  test("chained sliding-window agg: stream equals batch, two stateful stages, drained state") {
    val ev = Tables.events(spark, SfDir)
    val got = StreamingSessionize.slidingWauReplay(ev, queryName = "slidingwau_spec_sink")
      .collect().map(r => (r.getDate(0).toString, r.getLong(2))).sortBy(_._1).toSeq
    val expected = graft.operators.Analytics
      .slidingActiveUsers(ev, "user_id", col("ts"))
      .collect().map(r => (r.getDate(0).toString, r.getLong(2))).sortBy(_._1).toSeq
    assert(expected.nonEmpty)
    assert(got == expected, s"chained streaming agg diverged from batch")
    val m = StreamingSessionize.lastReplayStateMetrics
    assert(m.nonEmpty, "sliding-wau replay recorded no state-operator progress")
    assert(m.map(_._2).sum > 0, "window state was never evicted — bound unexercised")
    assert(m.map(_._3).sum == 0, "parity must not be bought by watermark drops")
    // both stacked aggregations keep state: peak total rows must exceed the
    // number of distinct sliding windows alone (stage 1 holds (window,user))
    val nWindows = expected.length.toLong
    assert(m.map(_._1).max > nWindows,
      s"peak state ${m.map(_._1).max} should exceed window count $nWindows — two stages expected")
  }

  test("sketch rollup replay: one exact-mode daily sketch row per day, drained state, no drops") {
    import graft.functions.ThetaFunctions
    val ev = Tables.events(spark, SfDir)
    val daily = StreamingSessionize.sketchRollupReplay(ev, queryName = "sketch_spec_sink")
      .collect().map(r => r.getDate(0).toString -> r.getAs[Array[Byte]](1)).toMap
    val expected = ev
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .groupBy(col("day"))
      .agg(ThetaFunctions.thetaSketch(col("user_id"), 14).as("sk"))
      .collect().map(r => r.getDate(0).toString -> r.getAs[Array[Byte]](1)).toMap
    assert(expected.nonEmpty)
    assert(daily.keySet == expected.keySet, "a day's sketch row went missing or extra")
    // exact mode: the streamed cross-trigger union serializes bit-for-bit
    // like the batch build (sorted full hash set)
    daily.foreach { case (d, bytes) =>
      assert(java.util.Arrays.equals(bytes, expected(d)), s"day $d sketch bytes diverged")
    }
    val m = StreamingSessionize.lastReplayStateMetrics
    assert(m.nonEmpty, "sketch replay recorded no state-operator progress")
    assert(m.map(_._2).sum > 0, "daily sketch state was never evicted — bound unexercised")
    assert(m.map(_._3).sum == 0, "parity must not be bought by watermark drops")
  }

  test("bitmap rollup replay: streamed daily bitmap bytes equal batch bit-for-bit at any cardinality") {
    import graft.functions.BitmapFunctions
    val ev = Tables.events(spark, SfDir)
    val daily = StreamingSessionize.bitmapRollupReplay(ev, queryName = "bitmap_spec_sink")
      .collect().map(r => r.getDate(0).toString -> r.getAs[Array[Byte]](1)).toMap
    val expected = ev
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .groupBy(col("day"))
      .agg(BitmapFunctions.bitmapAgg(col("user_id")).as("bm"))
      .collect().map(r => r.getDate(0).toString -> r.getAs[Array[Byte]](1)).toMap
    assert(expected.nonEmpty)
    assert(daily.keySet == expected.keySet, "a day's bitmap row went missing or extra")
    daily.foreach { case (d, bytes) =>
      assert(java.util.Arrays.equals(bytes, expected(d)), s"day $d bitmap bytes diverged")
    }
    // weekly OR-merge of the STREAMED rows equals the exact distinct count
    val merged = StreamingSessionize.bitmapRollupReplay(ev, queryName = "bitmap_spec_sink2")
      .agg(BitmapFunctions.bitmapCount(BitmapFunctions.bitmapUnion(col("sk"))).as("n"))
      .head().getLong(0)
    val exact = ev.select(col("user_id")).distinct().count()
    assert(merged == exact, s"rolled-up bitmap count $merged != exact distinct $exact")
  }

  test("file-replay harness: multi-micro-batch streaming run equals batch sessionize") {
    // The declared stream_sessionize query's engine: events written as
    // time-range files, one file per trigger, sentinel pair driving the
    // final timeout flush. The equality here is against the BATCH operator
    // on the identical input — complete emission included (no dropped tail).
    val ev = Tables.events(spark, SfDir)
    val got = StreamingSessionize.sessionizeReplay(ev, queryName = "replay_spec_sink")
      .select("event_id", "epoch_sec", "is_new_session", "session_start_sec", "session_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3), r.getString(4)))
      .toSet
    val expected = Sessionize.sessionize(ev)
      .select("event_id", "epoch_sec", "is_new_session", "session_start_sec", "session_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3), r.getString(4)))
      .toSet
    assert(got.size == expected.size, s"row count ${got.size} != batch ${expected.size}")
    assert(got == expected)
  }

  test("sessionize replay records its own state metrics: non-empty, no watermark drops") {
    // clear the probe first: a previous replay's metrics must not pass for these
    StreamingSessionize.lastReplayStateMetrics = Nil
    StreamingSessionize.sessionizeReplay(Tables.events(spark, SfDir), queryName = "probe_spec_sink")
    val m = StreamingSessionize.lastReplayStateMetrics
    assert(m.nonEmpty, "sessionizeReplay recorded no state-operator progress")
    assert(m.map(_._3).sum == 0L, "the time-ranged slices must produce no watermark drops")
  }

  test("replay temp roots are removed after a slice replay, a kill-restart replay and failed ones") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def roots(): Set[String] =
      Option(tmp.list()).getOrElse(Array.empty[String]).filter(_.startsWith("graft_stream_")).toSet
    val ev = Tables.events(spark, SfDir)
    def assertNoNewRoot(label: String)(run: => Unit): Unit = {
      val before = roots()
      run
      val left = roots() -- before
      assert(left.isEmpty, s"$label left temp roots behind: $left")
    }
    assertNoNewRoot("slice replay") {
      StreamingSessionize.sessionizeReplay(ev, queryName = "cleanup_spec_sink").count()
      ()
    }
    assertNoNewRoot("kill-restart replay") {
      StreamingSessionize.recoveryReplay(ev).count()
      ()
    }
    // the empty input fails its `require` on the data bounds, before any
    // temp root exists: this case pins only that the failure stays clean
    assertNoNewRoot("empty-input replay") {
      val e = intercept[IllegalArgumentException] {
        StreamingSessionize.sessionizeReplay(ev.limit(0), queryName = "cleanup_empty_sink")
      }
      assert(e.getMessage.contains("empty events input"))
      ()
    }
    // a drain that fails AFTER staging: an active query already holds the
    // sink's name, so starting the replay's query throws inside the temp root
    val holder = spark.readStream.format("rate").option("rowsPerSecond", "1").load()
      .writeStream.format("noop").queryName("cleanup_taken_sink").start()
    try assertNoNewRoot("replay whose drain fails after staging") {
      val e = intercept[Exception] {
        StreamingSessionize.sessionizeReplay(ev, queryName = "cleanup_taken_sink")
      }
      assert(e.getMessage.contains("cleanup_taken_sink"), e.getMessage)
      ()
    }
    finally holder.stop()
  }

  test("frozen-lexicon streaming BM25 equals the batch score table") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, SfDir)
    val queries = Seq("qa" -> Seq("spark", "window"), "qb" -> Seq("fast", "hash", "join"))
    val (idf, avgdl) = graft.operators.Retrieval.frozenLexicon(docs, queries.flatMap(_._2))
    // batch reference through the SAME public scorer
    val qterms = queries.flatMap { case (q, ts) => ts.map(q -> _) }.toDF("query_id", "term")
    val batch = graft.operators.Retrieval.bm25Scores(docs, qterms).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val out = StreamingSessionize.bm25ScoreIngest(
      spark.readStream.schema(docs.schema).option("pathGlobFilter", "documents.parquet")
        .parquet(SfDir),
      queries, idf, avgdl)
    val q = out.writeStream.format("memory").queryName("stream_bm25").outputMode("append").start()
    try q.processAllAvailable()
    finally q.stop()
    val stream = spark.table("stream_bm25").collect()
      .map(r => (r.getString(1), r.getLong(0), r.getDouble(2))).toSet
    assert(stream.size == batch.size, s"row count ${stream.size} != batch ${batch.size}")
    assert(stream == batch)
  }

  test("fused ingest annotation: one row per doc, every leg equals its standalone operator") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, SfDir)
    val eval = docs.where(col("doc_id") % 50 === 0)
    val batch = docs.where(col("doc_id") % 50 =!= 0).select(col("doc_id"), col("text"))
    val bytes = graft.operators.Dedup.evalGramFilter(eval, n = 3, fpp = 1e-4)
    val target = docs.where(col("doc_id") % 4 === 0)
    val lam = graft.operators.Sampling.dsirLambdaArray(docs, target, n = 2, buckets = 512)
    val queries = Seq("qa" -> Seq("spark", "window"), "qb" -> Seq("fast", "hash", "join"))
    val (idf, avgdl) = graft.operators.Retrieval.frozenLexicon(docs, queries.flatMap(_._2))
    val idx = StreamingSessionize.corpusBandIndex(docs, bands = 8)
    idx.persist()
    val out =
      try StreamingSessionize.ingestAnnotate(
        batch, idx, bytes, lam, queries, idf, avgdl,
        minEstJaccard = 0.5, bands = 8, deconMinShared = 2, deconN = 3, dsirN = 2)
        .collect()
      finally { idx.unpersist(); () }
    val n = batch.count()
    assert(out.length == n, s"fused output must be one row per incoming doc: ${out.length} != $n")
    assert(out.map(_.getLong(0)).distinct.length == out.length)
    // DSIR leg == standalone frozen scorer (itself pinned == batch fit)
    val dsir = StreamingSessionize.dsirScoreIngest(batch, lam, n = 2)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    out.foreach { r =>
      val id = r.getLong(0)
      val (lw, sel) = dsir.getOrElse(id, (0.0, false))
      assert(r.getDouble(3) == lw && r.getBoolean(4) == sel, s"dsir leg drifted for doc $id")
    }
    // decon leg == standalone bloom route (flagged set identical)
    val flagged = StreamingSessionize.decontaminateIngest(batch, bytes, minShared = 2, n = 3)
      .collect().map(_.getLong(0)).toSet
    assert(out.filter(_.getBoolean(2)).map(_.getLong(0)).toSet == flagged)
    // bm25 leg == argmax of the standalone frozen scorer
    val best = StreamingSessionize.bm25ScoreIngest(batch, queries, idf, avgdl)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .groupBy(_._1).map { case (id, rows) =>
        val top = rows.minBy(t => (-t._3, t._2))
        id -> (top._2, top._3)
      }
    out.foreach { r =>
      val id = r.getLong(0)
      val (bq, bs) = best.getOrElse(id, ("", 0.0))
      assert(r.getString(5) == bq && r.getDouble(6) == bs, s"bm25 leg drifted for doc $id")
    }
    // dedup leg: flagged docs have >= 1 corpus match; a doc is never its own dup
    assert(out.forall(_.getLong(1) >= 0L))
  }
}
