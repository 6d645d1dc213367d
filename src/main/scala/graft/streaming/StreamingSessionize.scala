package graft.streaming

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured-Streaming analogs of the batch session pipeline (SURVEY §2.9 /
  * §7 stretch: the reference is batch-only; its manual cross-batch
  * continuity — `DataLoadTransformer.scala:94-159` — is exactly what
  * `flatMapGroupsWithState` session state gives the streaming engine).
  *
  * [[sessionize]] reproduces the batch [[graft.operators.Sessionize]]
  * semantics bit-for-bit on an in-order stream: whole-second gap `>= gap`
  * starts a new session, ids are the same deterministic
  * `user_id#<session-start-sec>`, ties broken on `event_id`. The per-user
  * state is ONE open session (start + last-seen second) — the streaming
  * equivalent of the batch ETL's boundary "tail" slice — evicted via
  * event-time timeout once the watermark guarantees no continuation can
  * arrive. StreamingSpec proves streaming == batch on a split stream (the
  * same invariance SessionizeSpec proves for batch continuity).
  *
  * Scale notes: state is O(active users) × a 2-long record, hash-partitioned
  * by user across executors (same key as the batch window exchange); the
  * watermark bounds state lifetime, so a 1000-executor cluster holds sessions
  * for the active-user working set only, not history.
  */
object StreamingSessionize {

  /** One open session per user: where it started, and the last second seen. */
  case class OpenSession(session_start_sec: Long, last_epoch_sec: Long)

  /** An event awaiting its watermark (buffered so out-of-order arrivals
    * within the watermark sessionize exactly like the batch pipeline).
    */
  case class PendingEvent(event_id: Long, epoch_sec: Long)

  /** Per-user state: the open session (if `has_open`) plus the buffered
    * not-yet-final events.
    */
  case class SessState(
      start_sec: Long,
      last_sec: Long,
      has_open: Boolean,
      pending: Seq[PendingEvent])

  /** Output row — mirrors the batch sessionize columns. */
  case class SessionizedEvent(
      event_id: Long,
      user_id: Long,
      epoch_sec: Long,
      is_new_session: Boolean,
      session_start_sec: Long,
      session_id: String)

  private type InRow = (Long, Long, java.sql.Timestamp, Long)

  /** Run `body` (which starts and drains a REPLAY streaming query) with
    * `spark.sql.shuffle.partitions` temporarily lowered: a replay is a
    * handful of micro-batches over a fixture-sized stream, and each
    * stateful operator pays one state-store instance PER shuffle partition
    * PER micro-batch — at the batch-tuned 32 partitions that is pure
    * per-trigger overhead (BENCH flagged the stream-stream join at ~22 s,
    * most of it state-store bookkeeping). 8 partitions keeps the replay
    * parallel enough for the fixtures while cutting the bookkeeping 4×.
    * The number of STATE partitions is baked in at query start, so this is
    * a fixture-scale choice only — a production continuous query sizes it
    * to the cluster (and this helper restores the session conf either
    * way).
    *
    * CONCURRENCY CONTRACT: this mutates the SHARED session conf for the
    * duration of `body`, so any query planned concurrently on the same
    * SparkSession would silently pick up 8 shuffle partitions. Every replay
    * harness in this repo runs its drains sequentially on the session (the
    * Verify/Bench mains are sequential by construction; specs that run
    * checkpointed queries concurrently do NOT route through this helper).
    * A caller that needs concurrent replays must isolate each one on
    * `spark.newSession()` (separate conf, shared catalog/state store) —
    * don't lift this helper into a parallel context as-is.
    */
  private def withReplayStatePartitions[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "8")
    try body finally spark.conf.set(key, prev)
  }

  // ── the replay harness: every replay stages, drains and cleans up
  // through the helpers below ──

  /** Run `body` on a fresh temp root `<prefix><random>` that is deleted
    * (best effort) however `body` ends.
    */
  private[graft] def withTempRoot[T](prefix: String)(body: Path => T): T = {
    val base = Files.createTempDirectory(prefix)
    try body(base) finally deleteTree(base)
  }

  /** Best-effort recursive delete, children before parents. */
  private[graft] def deleteTree(root: Path): Unit = {
    Try(Files.walk(root).iterator().asScala.toSeq.reverse.foreach(p => Try(Files.delete(p))))
    ()
  }

  /** Pin the modification time of the `i`-th published replay file. The
    * file source orders new files by (modified time, path); unpinned
    * near-identical stamps can let later files (the sentinels) overtake a
    * data slice and late-drop it — StreamingRecoverySpec documents the
    * failure mode.
    */
  private[graft] def pinSliceMtime(file: Path, i: Int): Unit = {
    Files.setLastModifiedTime(file, FileTime.fromMillis(1700000000000L + i * 1000L))
    ()
  }

  /** Write `df` as ONE parquet file under `stage` and return that file. */
  private def stageSlice(df: DataFrame, stage: Path): Path = {
    df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    Files.list(stage).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written under $stage"))
  }

  /** Move a staged slice file into `streamDir` as `part_<i>`, mtime pinned. */
  private def publishSlice(staged: Path, streamDir: Path, i: Int): Unit = {
    val dest = streamDir.resolve(f"part_$i%03d.parquet")
    Files.move(staged, dest, StandardCopyOption.ATOMIC_MOVE)
    pinSliceMtime(dest, i)
  }

  /** Shared replay staging: write each slice frame as ONE parquet file
    * `part_<i>` under `streamDir` (staged through `base/stage_<i>`) with a
    * PINNED ascending modification time ([[pinSliceMtime]]). Every replay
    * harness stages through this one helper (the kill-restart replays
    * through its two halves, [[stageSlice]] and [[publishSlice]]) so the
    * mtime discipline lives in one place.
    */
  private[graft] def stageSliceFiles(base: Path, streamDir: Path, sliceDfs: Seq[DataFrame]): Unit =
    sliceDfs.zipWithIndex.foreach { case (df, i) =>
      publishSlice(stageSlice(df, base.resolve(s"stage_$i")), streamDir, i)
    }

  /** Event-time bounds `(lo, hi)` of `proj.ts` in epoch seconds; an empty
    * input fails the replay named `who`.
    */
  private def epochBounds(proj: DataFrame, who: String): (Long, Long) = {
    val bounds = proj.agg(
      min(unix_timestamp(col("ts"))), max(unix_timestamp(col("ts")))).head()
    require(!bounds.isNullAt(0), s"$who: empty events input")
    (bounds.getLong(0), bounds.getLong(1))
  }

  /** The replay's time cut: `slices` equal epoch ranges of `proj`'s
    * bounds, one frame each, followed by the replay's own sentinel frames
    * `sentinels(hi)`. Returns `hi` with the frames.
    */
  private def timeSlices(proj: DataFrame, slices: Int, who: String)(
      sentinels: Long => Seq[DataFrame]): (Long, Seq[DataFrame]) = {
    val (lo, hi) = epochBounds(proj, who)
    val span = hi - lo + 1
    val e = unix_timestamp(col("ts"))
    val cuts = (0 until slices).map { i =>
      proj.where(e >= lo + span * i / slices && e < lo + span * (i + 1) / slices)
    }
    (hi, cuts ++ sentinels(hi))
  }

  /** A one-row far-future sentinel frame: every `ids` column is −1 (no
    * real user or event), `ts` is epoch second `sec`.
    */
  private def sentinel(spark: SparkSession, sec: Long, ids: String*): DataFrame =
    spark.range(1).select(ids.map(lit(-1L).as(_)) :+ lit(sec).cast("timestamp").as("ts"): _*)

  /** Stage `sliceDfs` as the pinned files of `<temp root>/stream` and run
    * `body` with a reader factory over them: one file per trigger, read
    * with the first slice's schema. The temp root goes when `body` returns.
    */
  private def replaySlices[T](prefix: String, sliceDfs: Seq[DataFrame])(
      body: (() => DataFrame) => T): T =
    withTempRoot(prefix) { base =>
      val streamDir = base.resolve("stream")
      Files.createDirectories(streamDir)
      stageSliceFiles(base, streamDir, sliceDfs)
      val spark = sliceDfs.head.sparkSession
      body(() => spark.readStream
        .schema(sliceDfs.head.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(streamDir.toString))
    }

  /** Test probe: per-trigger state-operator metrics of the most recent
    * replay drain — `(numRowsTotal, numRowsRemoved,
    * numRowsDroppedByWatermark)` summed across the trigger's state
    * operators, one entry per progress that ran one. Captured before
    * `stop()` so specs can pin MEASURED state-boundedness — eviction
    * actually fired, the sentinel advance actually drained the state, and
    * batch parity was not bought by watermark drops — instead of only
    * arguing those properties from the derived horizons.
    */
  @volatile private[graft] var lastReplayStateMetrics: Seq[(Long, Long, Long)] = Nil

  private def captureStateMetrics(q: StreamingQuery): Unit =
    lastReplayStateMetrics = q.recentProgress.toSeq
      .filter(_.stateOperators.nonEmpty)
      .map { p =>
        (p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.numRowsRemoved).sum,
          p.stateOperators.map(_.numRowsDroppedByWatermark).sum)
      }

  /** The one replay drain: start the query under the replay's state
    * partitions ([[withReplayStatePartitions]]), process everything
    * available, record [[lastReplayStateMetrics]], and stop the query in
    * `finally`, so a failed drain never leaves it running.
    */
  private[graft] def drain(spark: SparkSession)(start: => StreamingQuery): Unit =
    withReplayStatePartitions(spark) {
      val q = start
      try { q.processAllAvailable(); captureStateMetrics(q) }
      finally q.stop()
    }

  /** [[drain]] `out` into the memory sink `queryName`; returns the sink table. */
  private[graft] def drainToMemory(
      out: Dataset[_], queryName: String, outputMode: String = "append"): DataFrame = {
    drain(out.sparkSession)(
      out.writeStream.format("memory").queryName(queryName).outputMode(outputMode).start())
    out.sparkSession.table(queryName)
  }

  /** Sessionize a streaming frame with columns (event_id, user_id, ts).
    *
    * Events are BUFFERED in per-user state until the watermark passes their
    * event time, then emitted in (epoch_sec, event_id) order — so arrivals
    * reordered across triggers (but within `watermarkDelay`) produce
    * exactly the batch result; an eager variant that sessionized on arrival
    * would silently mis-assign sessions when a late event regressed the
    * gap baseline. The cost is emission latency of one watermark delay —
    * the same trade watermarked streaming aggregations make. Events older
    * than the watermark when they arrive are DROPPED (the standard
    * watermark contract; batch parity is impossible once their successors
    * are already emitted). State per user is the open session + the
    * buffered tail, evicted once the watermark passes
    * `last event + gapSeconds` with nothing buffered.
    */
  def sessionize(
      events: DataFrame,
      gapSeconds: Long = 300L,
      watermarkDelay: String = "10 minutes"): Dataset[SessionizedEvent] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .select(
        col("event_id").cast("long"), col("user_id").cast("long"),
        col("ts"), unix_timestamp(col("ts")).as("epoch_sec"))
      .as[InRow]
      .groupByKey(_._2)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(process(gapSeconds) _)
  }

  private def process(gap: Long)(
      user: Long,
      rows: Iterator[InRow],
      state: GroupState[SessState]): Iterator[SessionizedEvent] = {
    val wmMs = state.getCurrentWatermarkMs()
    val prev = state.getOption.getOrElse(SessState(0L, 0L, has_open = false, Seq.empty))
    // beyond-watermark arrivals are dropped (their successors may already be
    // emitted); everything else joins the buffer
    val fresh = rows.map(r => PendingEvent(r._1, r._4)).filter(_.epoch_sec * 1000L >= wmMs)
    val pending = prev.pending ++ fresh
    // finalize exactly the events the watermark has passed, in batch order
    val (ready, held) = pending.partition(_.epoch_sec * 1000L < wmMs)
    var open: Option[OpenSession] =
      if (prev.has_open) Some(OpenSession(prev.start_sec, prev.last_sec)) else None
    val out = ready.sortBy(e => (e.epoch_sec, e.event_id)).map { e =>
      val isNew = open.forall(s => e.epoch_sec - s.last_epoch_sec >= gap)
      val start = if (isNew) e.epoch_sec else open.get.session_start_sec
      open = Some(OpenSession(start, e.epoch_sec))
      SessionizedEvent(e.event_id, user, e.epoch_sec, isNew, start, s"$user#$start")
    }
    val sessionEvictable =
      open.forall(s => wmMs >= (s.last_epoch_sec + gap) * 1000L)
    if (held.isEmpty && sessionEvictable) {
      if (state.exists) state.remove()
    } else {
      state.update(SessState(
        open.map(_.session_start_sec).getOrElse(0L),
        open.map(_.last_epoch_sec).getOrElse(0L),
        open.isDefined, held))
      // wake when the watermark passes the oldest buffered event, or (with
      // nothing buffered) when the open session can no longer be continued;
      // the timestamp must exceed the CURRENT watermark
      val wake =
        if (held.nonEmpty) held.map(_.epoch_sec).min * 1000L + 1L
        else (open.get.last_epoch_sec + gap) * 1000L
      state.setTimeoutTimestamp(math.max(wake, wmMs + 1L))
    }
    out.iterator
  }

  /** Per-(user, tumbling event-time window) admission quota state. */
  case class QuotaWindow(window_start_sec: Long, admitted: Long)
  case class QuotaState(windows: Seq[QuotaWindow], pending: Seq[PendingEvent])
  case class AdmittedEvent(
      event_id: Long,
      user_id: Long,
      epoch_sec: Long,
      window_start_sec: Long,
      rank_in_window: Long)

  /** Ingestion-time per-key RATE LIMITING: admit at most `maxPerWindow`
    * events per user per `windowSec`-second tumbling event-time window,
    * in deterministic `(epoch_sec, event_id)` order; everything beyond the
    * quota drops at the door. The abuse/burst throttle a real ingestion
    * edge runs — and a second event-time-buffering state machine on the
    * verified path (the [[sessionize]] discipline: buffer until the
    * watermark passes, then admit in batch order, so cross-trigger
    * reordering within the watermark delay cannot change WHICH events win
    * the quota — an arrival-order limiter would admit a different set on
    * every replay).
    *
    * State per user: admitted-count per window still inside the watermark
    * horizon plus the buffered tail — bounded by
    * `delay/windowSec + buffered` entries, evicted as the watermark passes
    * each window's end. Batch equivalence (the declared query's oracle):
    * `row_number() OVER (PARTITION BY user, window ORDER BY epoch_sec,
    * event_id) <= maxPerWindow`.
    */
  def rateLimit(
      events: DataFrame,
      maxPerWindow: Long,
      windowSec: Long,
      watermarkDelay: String = "10 minutes"): Dataset[AdmittedEvent] = {
    require(maxPerWindow > 0 && windowSec > 0, "quota and window must be positive")
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .select(
        col("event_id").cast("long"), col("user_id").cast("long"),
        col("ts"), unix_timestamp(col("ts")).as("epoch_sec"))
      .as[InRow]
      .groupByKey(_._2)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        processQuota(maxPerWindow, windowSec) _)
  }

  private def processQuota(k: Long, win: Long)(
      user: Long,
      rows: Iterator[InRow],
      state: GroupState[QuotaState]): Iterator[AdmittedEvent] = {
    val wmMs = state.getCurrentWatermarkMs()
    val prev = state.getOption.getOrElse(QuotaState(Seq.empty, Seq.empty))
    val fresh = rows.map(r => PendingEvent(r._1, r._4)).filter(_.epoch_sec * 1000L >= wmMs)
    val pending = prev.pending ++ fresh
    val (ready, held) = pending.partition(_.epoch_sec * 1000L < wmMs)
    val counts = scala.collection.mutable.Map(
      prev.windows.map(w => w.window_start_sec -> w.admitted): _*)
    val out = ready.sortBy(e => (e.epoch_sec, e.event_id)).flatMap { e =>
      val w = (e.epoch_sec / win) * win // nonnegative epochs: floor == trunc
      val c = counts.getOrElse(w, 0L)
      if (c < k) {
        counts(w) = c + 1L
        Some(AdmittedEvent(e.event_id, user, e.epoch_sec, w, c + 1L))
      } else None
    }
    // a window's count matters only while events inside it can still arrive
    val live = counts.toSeq
      .filter { case (w, _) => (w + win) * 1000L >= wmMs }
      .sortBy(_._1).map { case (w, c) => QuotaWindow(w, c) }
    if (held.isEmpty && live.isEmpty) {
      if (state.exists) state.remove()
    } else {
      state.update(QuotaState(live, held))
      val wake =
        if (held.nonEmpty) held.map(_.epoch_sec).min * 1000L + 1L
        else live.map(w => (w.window_start_sec + win) * 1000L).min + 1L
      state.setTimeoutTimestamp(math.max(wake, wmMs + 1L))
    }
    out.iterator
  }

  /** Watermark LATE-DATA accounting, demonstrated POSITIVELY — every other
    * replay pins ZERO watermark drops (batch parity); this one constructs
    * the drop case and MEASURES it, because a production pipeline needs to
    * know not just that on-time data aggregates correctly but that late
    * data is dropped VISIBLY (`numRowsDroppedByWatermark`), not silently
    * absorbed or silently lost.
    *
    * Replay: batch 1 carries every event OUTSIDE the earliest hour-aligned
    * window — its max event time advances the watermark far past that
    * window's end; batch 2 replays the held-back earliest-window rows, now
    * strictly below the watermark, so the hourly aggregation MUST drop all
    * of them and account for every one in its state-operator metrics; the
    * sentinel batches flush the surviving windows. Output: per-hour
    * counts/checksums EXCLUDING the dropped rows (the oracle replays that
    * exclusion relationally), plus two measured law columns —
    * `late_rows_present` (the fixture really held rows back) and
    * `drops_equal_late` (the metric counted EXACTLY the held-back rows).
    */
  def lateDataAuditReplay(
      events: DataFrame,
      watermarkDelaySec: Long = 600L,
      queryName: String = "stream_late_audit_sink"): DataFrame = {
    val spark = events.sparkSession
    val proj = events.select(
      col("event_id").cast("long").as("event_id"),
      col("user_id").cast("long").as("user_id"), col("ts"))
    val (lo, hi) = epochBounds(proj, "lateDataAuditReplay")
    val firstEnd = (lo / 3600L + 1L) * 3600L
    require(hi - watermarkDelaySec > firstEnd,
      "lateDataAuditReplay: the on-time slice cannot advance the watermark past the first window")
    val e = unix_timestamp(col("ts"))
    val onTime = proj.where(e >= firstEnd)
    val late = proj.where(e < firstEnd)
    val nLate = late.count()
    // the drop metric counts rows entering the STATE operator — i.e.
    // map-side partials, one per late (window) key, not raw inputs
    val nLateWindows = late.select((e.cast("long") / 3600L).cast("long")).distinct().count()
    // the sentinel watermark must clear the LAST real window's end
    // (up to hi + 3600) plus the delay; its own window then never
    // flushes (sentinelSec sits inside a window whose end stays ahead
    // of the final watermark), so no sentinel row can leak into output
    val sentinelSec = hi + 3600L + 2L * watermarkDelaySec
    def marker(sec: Long): DataFrame = sentinel(spark, sec, "event_id", "user_id")
    // SPARK-40925 semantics: the LATE-event filter runs against the
    // watermark of the PREVIOUS micro-batch (eviction runs against the
    // current one), so the held-back slice needs one sentinel batch
    // between it and the advancing slice for the drop to fire. Every
    // sentinel is far-future: it advances the watermark, its own window
    // never flushes (end > the final watermark by construction), so no
    // sentinel row can leak into the append-mode output — a filter
    // can't exclude them instead, because Catalyst pushes any
    // pre-aggregation predicate below the watermark node and the
    // filtered sentinels would then never advance it
    val slices = Seq(onTime, marker(sentinelSec), late,
      marker(sentinelSec + 60L), marker(sentinelSec + 120L))
    val sink = replaySlices("graft_stream_lateaudit_", slices) { src =>
      drainToMemory(src()
        .withWatermark("ts", s"$watermarkDelaySec seconds")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n_events"), sum(col("user_id")).as("sum_users"))
        .select(
          unix_timestamp(col("window.start")).as("window_start_sec"),
          col("n_events"), col("sum_users")), queryName)
    }
    val dropped = lastReplayStateMetrics.map(_._3).sum
    sink
      .where(col("window_start_sec") < sentinelSec)
      .withColumn("late_rows_present", lit(nLate > 0L))
      .withColumn("drops_equal_late", lit(dropped == nLateWindows))
  }

  /** COMPLETE-output-mode rollup replay — the one output mode the other
    * replays don't exercise: no watermark, no eviction, the sink
    * receives the FULL re-emitted result every trigger and the final
    * table state must equal the all-at-once batch rollup. This is the
    * dashboard-refresh shape (small cardinality-bounded state, total
    * recomputation per trigger); append-mode windows remain the route
    * for unbounded keys.
    */
  def completeRollupReplay(
      events: DataFrame,
      slices: Int = 3,
      queryName: String = "stream_complete_sink"): DataFrame = {
    require(slices >= 2, s"need >= 2 slices for a multi-trigger replay, got $slices")
    val proj = events.select(
      col("event_id").cast("long").as("event_id"),
      col("user_id").cast("long").as("user_id"),
      col("event_type").cast("string").as("event_type"))
    val sliceDfs = (0 until slices).map(i =>
      proj.where(pmod(col("event_id"), lit(slices.toLong)) === i.toLong))
    replaySlices("graft_stream_complete_", sliceDfs) { src =>
      drainToMemory(src()
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("user_id")).as("sum_users")),
        queryName, "complete")
    }
  }

  /** [[rateLimit]] driven by the same multi-slice file replay as
    * [[sessionizeReplay]] — a genuine multi-trigger streaming execution
    * whose complete admitted set the batch window-rank oracle must equal.
    */
  def rateLimitReplay(
      events: DataFrame,
      maxPerWindow: Long,
      windowSec: Long,
      slices: Int = 3,
      watermarkDelaySec: Long = 600L,
      queryName: String = "stream_rate_limit_sink"): DataFrame = {
    require(slices >= 2, s"need >= 2 slices for the watermark to move, got $slices")
    val spark = events.sparkSession
    val proj = events.select(
      col("event_id").cast("long").as("event_id"),
      col("user_id").cast("long").as("user_id"),
      col("ts"))
    val (_, sliceDfs) = timeSlices(proj, slices, "rateLimitReplay") { hi =>
      val sentinel1 = hi + windowSec + watermarkDelaySec + 60L
      Seq(sentinel1, sentinel1 + 60L).map(sentinel(spark, _, "event_id", "user_id"))
    }
    replaySlices("graft_stream_ratelimit_", sliceDfs) { src =>
      drainToMemory(
        rateLimit(src(), maxPerWindow, windowSec, s"$watermarkDelaySec seconds"), queryName)
    }.where(col("user_id") >= 0)
  }

  /** Replay a BOUNDED events frame through [[sessionize]] as a genuine
    * multi-micro-batch stream and return the complete sessionized result —
    * the harness that lets an event-time-buffering streaming operator be
    * oracle-checked against the batch session SQL.
    *
    * Why this exists: a single-file file-source stream is ONE micro-batch,
    * and the watermark only advances BETWEEN batches — so [[sessionize]]
    * (which buffers events until the watermark passes them) would emit
    * nothing and the query could never match the batch oracle. The replay
    * writes the events into `slices` time-range files consumed one per
    * trigger (`maxFilesPerTrigger=1`, modification-time + lexicographic file
    * order), so each batch's max event time advances the watermark and
    * flushes the previous batches' buffers — a real streaming execution:
    * watermark movement, state eviction, event-time timeouts and all.
    *
    * Two far-future SENTINEL events (user_id = −1, beyond
    * `last real event + gap + watermark delay`) form the final two
    * single-file batches: the first advances the watermark past every real
    * event's flush point, the second triggers the batch in which those
    * event-time timeouts actually fire (a timeout set in batch N is
    * evaluated against the watermark at batch N+1 — with no further data
    * there IS no batch N+1, the reason a sentinel pair rather than one).
    * Sentinel rows are filtered from the returned result.
    *
    * Slicing is on event-time ranges, so no event is ever behind the
    * watermark on arrival (nothing is dropped) and the emitted set is
    * EXACTLY the batch sessionization — StreamingSpec proves the equality
    * in-process; the declared `stream_sessionize` query hash-checks it
    * against DuckDB.
    *
    * Scale note: the replay harness itself is a test/backfill shape (bounded
    * input, local temp files); production runs [[sessionize]] directly on an
    * unbounded source. State and watermark behavior are identical — that is
    * the point of replaying through the real engine.
    */
  def sessionizeReplay(
      events: DataFrame,
      slices: Int = 3,
      gapSeconds: Long = 300L,
      watermarkDelaySec: Long = 600L,
      queryName: String = "stream_sessionize_sink"): DataFrame = {
    require(slices >= 2, s"need >= 2 slices for the watermark to move, got $slices")
    val spark = events.sparkSession
    val proj = events.select(
      col("event_id").cast("long").as("event_id"),
      col("user_id").cast("long").as("user_id"),
      col("ts"))
    // one epoch-range slice per file, then the two sentinel files
    val (_, sliceDfs) = timeSlices(proj, slices, "sessionizeReplay") { hi =>
      val sentinel1 = hi + gapSeconds + watermarkDelaySec + 60L
      Seq(sentinel1, sentinel1 + 60L).map(sentinel(spark, _, "event_id", "user_id"))
    }
    // the memory sink owns the rows once drained; the temp files can go
    replaySlices("graft_stream_sessionize_", sliceDfs) { src =>
      drainToMemory(sessionize(src(), gapSeconds, s"$watermarkDelaySec seconds"), queryName)
    }.where(col("user_id") >= 0)
  }

  /** Sliding-window distinct-user counts as a CHAINED stateful streaming
    * pipeline — TWO stacked windowed aggregations in one append-mode query
    * (the multiple-stateful-operator support added to Spark's Structured
    * Streaming): stage 1 collapses to one state row per
    * `(sliding window, user)` — the streaming dedup — and stage 2, keyed on
    * the propagated event-time window, counts users per window once the
    * watermark passes the window end. A single-stage `countDistinct` is
    * unsupported in streaming precisely because its state is unmergeable;
    * the two-stage form IS the distinct count, with state bounded per stage
    * by the watermark horizon.
    *
    * Replayed over the sliced file source so the watermark genuinely moves
    * across triggers; the complete output must equal the batch
    * [[graft.operators.Analytics.slidingActiveUsers]] bit-for-bit (the
    * `sliding_wau` oracle). Sentinels here ride user_id −1 (unlike
    * [[sketchRollupReplay]]'s NULL sentinels — this two-stage count never
    * feeds a null-skipping set aggregate, so a concrete id is fine) far
    * past the last real window end + delay, driving the final flush;
    * their own far-future windows are dropped by the window_start cutoff,
    * which is derived from the data bounds, not the sentinels.
    */
  def slidingWauReplay(
      events: DataFrame,
      windowDays: Int = 7,
      slideDays: Int = 1,
      slices: Int = 3,
      watermarkDelaySec: Long = 600L,
      queryName: String = "stream_sliding_wau_sink"): DataFrame = {
    require(slices >= 2, s"need >= 2 slices for the watermark to move, got $slices")
    val spark = events.sparkSession
    val proj = events.select(col("user_id").cast("long").as("user_id"), col("ts"))
    val (hi, sliceDfs) = timeSlices(proj, slices, "slidingWauReplay") { hi =>
      // the last real window ends at day(hi) + windowDays; the sentinel must
      // push the watermark past that end for the final windows to emit
      val sentinel1 = hi + (windowDays + 1).toLong * 86400L + watermarkDelaySec + 60L
      Seq(sentinel1, sentinel1 + 60L).map(sentinel(spark, _, "user_id"))
    }
    val sink = replaySlices("graft_stream_slidingwau_", sliceDfs) { src =>
      drainToMemory(src()
        .withWatermark("ts", s"$watermarkDelaySec seconds")
        .groupBy(
          window(col("ts"), s"$windowDays days", s"$slideDays days").as("w"),
          col("user_id"))
        .agg(count(lit(1)).as("n_events")) // stage 1: (window, user) dedup state
        .groupBy(col("w")) // stage 2: count rows per propagated event-time window
        .agg(count(lit(1)).as("active_users"))
        .select(
          to_date(col("w.start")).as("window_start"),
          to_date(col("w.end")).as("window_end"),
          col("active_users")), queryName)
    }
    // drop the sentinels' far-future windows: real starts end at day(hi)
    val hiDay = java.time.LocalDate.ofEpochDay(hi / 86400L).toString
    sink.where(col("window_start") <= lit(hiDay).cast("date"))
  }

  /** Streaming SKETCH emission — the incremental-analytics loop the
    * mergeable sketch columns exist for: a watermarked append-mode query
    * aggregates each event-time DAY into one theta-sketch ROW
    * ([[graft.functions.ThetaFunctions.ThetaSketchAgg]] running unchanged
    * as streaming state — k-bounded per day, corpus-size-independent,
    * exactly where an exact distinct would buffer every user id), emitting
    * the day's final sketch once the watermark passes the day end. The
    * caller persists those rows to a table and rolls them up to weeks with
    * a sketch UNION — no event rescan, the `wauSketchRollup` shape fed by
    * a stream instead of a batch.
    *
    * Determinism contract (`stream_sketch_rollup` pins it): below 2^lgK
    * distinct keys per day the sketch stays in EXACT mode, where the
    * compact representation is the sorted full hash set — order-invariant,
    * so the streamed bytes (built by cross-trigger union of partials)
    * equal the batch-built bytes bit-for-bit, and the union's estimate IS
    * the exact distinct count. Past 2^lgK the bytes stay deterministic
    * for a fixed input SET but the estimate gains error — the tolerance
    * discipline of `theta_wow_overlap` applies; size lgK to the expected
    * per-day cardinality.
    *
    * Sentinels ride a NULL user_id far past the last real day end + delay
    * to drive the final flush (NULL, not −1: the set aggregates skip
    * nulls, so the sentinel never lands in a sketch and the bitmap
    * aggregate's dense-range guard is never tripped); their far-future
    * windows are dropped by the data-derived day cutoff. Output:
    * (day DATE, sk BINARY), one row per event-time day.
    */
  def sketchRollupReplay(
      events: DataFrame,
      lgK: Int = 14,
      slices: Int = 3,
      watermarkDelaySec: Long = 600L,
      queryName: String = "stream_sketch_rollup_sink"): DataFrame = {
    dailySetAggReplay(events,
      graft.functions.ThetaFunctions.thetaSketch(col("user_id"), lgK),
      slices, watermarkDelaySec, queryName)
  }

  /** The EXACT twin of [[sketchRollupReplay]]: each micro-batch folds its
    * user ids into per-day [[graft.functions.BitmapFunctions]] bitmaps —
    * the append-mode windowed aggregate emits one bitmap ROW per
    * event-time day at watermark expiry, and because bitmap bytes are a
    * pure function of the day's id SET (order-stable container
    * serialization), the streamed bytes equal the batch-built bytes
    * bit-for-bit at ANY cardinality — no exact-mode threshold to stay
    * under, the theta contract's caveat gone. Downstream the daily rows
    * OR-merge into weekly EXACT distinct counts without rescanning
    * events (`stream_bitmap_ingest` pins stream==batch bytes and
    * rollup==COUNT DISTINCT).
    */
  def bitmapRollupReplay(
      events: DataFrame,
      slices: Int = 3,
      watermarkDelaySec: Long = 600L,
      queryName: String = "stream_bitmap_ingest_sink"): DataFrame = {
    dailySetAggReplay(events,
      graft.functions.BitmapFunctions.bitmapAgg(col("user_id")),
      slices, watermarkDelaySec, queryName)
  }

  private def dailySetAggReplay(
      events: DataFrame,
      aggExpr: Column,
      slices: Int,
      watermarkDelaySec: Long,
      queryName: String): DataFrame = {
    require(slices >= 2, s"need >= 2 slices for the watermark to move, got $slices")
    val spark = events.sparkSession
    import spark.implicits._
    val proj = events.select(col("user_id").cast("long").as("user_id"), col("ts"))
    val (hi, sliceDfs) = timeSlices(proj, slices, "sketchRollupReplay") { hi =>
      val sentinel1 = hi + 2L * 86400L + watermarkDelaySec + 60L
      Seq(sentinel1, sentinel1 + 60L).map { sec =>
        // null user: both set aggregates skip nulls, so the sentinel only
        // advances the watermark (a negative id would trip the bitmap's
        // dense-range guard)
        Seq(1).toDF("one")
          .select(lit(null).cast("long").as("user_id"),
            lit(sec).cast("timestamp").as("ts"))
      }
    }
    val sink = replaySlices("graft_stream_sketch_", sliceDfs) { src =>
      drainToMemory(src()
        .withWatermark("ts", s"$watermarkDelaySec seconds")
        .groupBy(window(col("ts"), "1 day").as("w"))
        .agg(aggExpr.as("sk"))
        .select(to_date(col("w.start")).as("day"), col("sk")), queryName)
    }
    val hiDay = java.time.LocalDate.ofEpochDay(hi / 86400L).toString
    sink.where(col("day") <= lit(hiDay).cast("date"))
  }

  /** Stream-STATIC enrichment join, replayed end to end — the production
    * enrichment shape missing between the stateless map transforms and the
    * stream-stream interval joins: each micro-batch inner-joins a
    * broadcast STATIC dimension (no state, no watermark needed for the
    * join itself — the dim is fixed for the query's lifetime), and the
    * enriched rows feed a watermarked daily aggregation per dimension
    * attribute, the one stateful stage.
    *
    * The dimension here is derived from the batch input (per-user purchase
    * count → tier), so the DuckDB oracle rebuilds it relationally; the
    * sentinel rows ride user −1, absent from the dim, and vanish in the
    * inner join — the cutoff needs no post-filter.
    */
  def enrichStaticReplay(
      events: DataFrame,
      slices: Int = 3,
      watermarkDelaySec: Long = 600L,
      queryName: String = "stream_enrich_static_sink"): DataFrame = {
    require(slices >= 2, s"need >= 2 slices for the watermark to move, got $slices")
    val spark = events.sparkSession
    val proj = events.select(col("user_id").cast("long").as("user_id"), col("ts"))
    val dim = events
      .groupBy(col("user_id").cast("long").as("user_id"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
      .select(
        col("user_id"),
        when(col("np") >= 5L, "high")
          .when(col("np") >= 1L, "mid")
          .otherwise("none").as("tier"))
    val (_, sliceDfs) = timeSlices(proj, slices, "enrichStaticReplay") { hi =>
      val sentinel1 = hi + 2L * 86400L + watermarkDelaySec + 60L
      Seq(sentinel1, sentinel1 + 60L).map(sentinel(spark, _, "user_id"))
    }
    replaySlices("graft_stream_enrich_", sliceDfs) { src =>
      drainToMemory(src()
        .withWatermark("ts", s"$watermarkDelaySec seconds")
        .join(broadcast(dim), Seq("user_id")) // stateless per-batch enrich
        .groupBy(window(col("ts"), "1 day").as("w"), col("tier"))
        .agg(count(lit(1)).as("n_events"))
        .select(to_date(col("w.start")).as("day"), col("tier"), col("n_events")), queryName)
    }
  }

  /** The NATIVE streaming session aggregation: Spark's `session_window`
    * under a watermark — merging per-(user, session) state the ENGINE
    * manages (no `flatMapGroupsWithState` machinery), emitted in append
    * mode once the watermark passes each merged window's end. This is the
    * engine-native counterpart of [[sessionize]]'s hand-built state machine
    * (which exists for the reference's whole-second + deterministic-id
    * contract); replayed over the same sliced file source, its complete
    * output must equal the batch `session_window` aggregation at raw
    * event-time (micros) precision — the `session_window_stats` oracle.
    *
    * State per key is the OPEN sessions only (windows close and leave state
    * as the watermark passes `last event + gap`); the sentinel pair drives
    * the final advance so every real session flushes before the harness
    * stops, and [[lastReplayStateMetrics]] records the drain.
    */
  def sessionWindowReplay(
      events: DataFrame,
      gapSeconds: Long = 300L,
      slices: Int = 3,
      watermarkDelaySec: Long = 600L,
      queryName: String = "stream_session_window_sink"): DataFrame = {
    require(slices >= 2, s"need >= 2 slices for the watermark to move, got $slices")
    val spark = events.sparkSession
    import spark.implicits._
    val proj = events.select(
      col("user_id").cast("long").as("user_id"),
      col("ts"), col("value").cast("double").as("value"))
    val (_, sliceDfs) = timeSlices(proj, slices, "sessionWindowReplay") { hi =>
      val sentinel1 = hi + gapSeconds + watermarkDelaySec + 60L
      Seq(sentinel1, sentinel1 + 60L).map { sec =>
        Seq((-1L, 0.0)).toDF("user_id", "value")
          .select(col("user_id"), lit(sec).cast("timestamp").as("ts"), col("value"))
      }
    }
    replaySlices("graft_stream_sesswin_", sliceDfs) { src =>
      drainToMemory(src()
        .withWatermark("ts", s"$watermarkDelaySec seconds")
        .groupBy(col("user_id"), session_window(col("ts"), s"$gapSeconds seconds").as("w"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .select(
          col("user_id"),
          unix_micros(col("w.start")).as("start_us"),
          unix_micros(col("w.end")).as("end_us"),
          col("n_events"), col("sum_value")), queryName)
    }.where(col("user_id") >= 0)
  }

  /** Streaming exact dedup over a document stream: first occurrence of each
    * content fingerprint ([[graft.operators.TextAnalysis.fingerprint]] — the
    * same md5-of-normalized-text key the batch [[graft.operators.Dedup]]
    * groups on) passes, later duplicates drop.
    * `dropDuplicatesWithinWatermark` bounds the fingerprint state by the
    * watermark — the batch operator's "one shuffle on the fingerprint"
    * becomes "state keyed on the fingerprint, evicted after
    * `watermarkDelay`", which is the only formulation that survives an
    * unbounded stream (plain dropDuplicates grows state forever).
    */
  def exactDedup(
      docs: DataFrame,
      watermarkDelay: String = "1 hour",
      textCol: String = "text",
      tsCol: String = "ts"): DataFrame =
    docs
      .withColumn("fingerprint", graft.operators.TextAnalysis.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("fingerprint")

  /** The static corpus side of [[nearDupIngest]]: MinHash signatures banded
    * with the SAME band-key encoding the batch candidate join uses
    * ([[graft.operators.Dedup.withBandKeys]]), columns renamed so the probe
    * join can't collide with the stream's. The CALLER owns the lifecycle:
    * `.persist()` it before starting the stream (the static side of a
    * stream-static join re-evaluates every micro-batch — uncached, each
    * trigger would rebuild the whole corpus index to probe a handful of
    * rows) and `.unpersist()` it when the query stops or the corpus
    * refreshes. r3 persisted inside [[nearDupIngest]] with no handle —
    * every redeploy leaked a stale cached index for the session's lifetime.
    */
  def corpusBandIndex(
      corpus: DataFrame,
      bands: Int = 8,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    graft.operators.Dedup
      .withBandKeys(
        graft.operators.Dedup.minhashSignatures(corpus, idCol = idCol, textCol = textCol),
        bands)
      .withColumnRenamed(idCol, "corpus_doc_id")
      .withColumnRenamed("sig", "corpus_sig")

  /** Near-dup detection AT INGESTION: each streaming document's MinHash
    * signature (the same codegen'd [[graft.functions.TextKernels]] kernels —
    * deterministic expressions, so they run unchanged under streaming) is
    * banded and joined against the static corpus's band index
    * ([[corpusBandIndex]] — build, persist, and pass it in; `bands` here
    * must match the value it was built with); matches are exact-verified on
    * signature agreement before emitting. Stream-static inner joins are
    * stateless, so the only state is the duplicate suppressor
    * (watermark-bounded). Output: one row per (incoming doc, matched corpus
    * doc) with the signature-match estimate.
    *
    * This is the production shape for "reject duplicates before they land":
    * the corpus index is a broadcast-or-bucketed static side refreshed per
    * deployment, and the per-event cost is one kernel pass + one equi-join
    * probe.
    */
  def nearDupIngest(
      stream: DataFrame,
      corpusIndex: DataFrame,
      minEstJaccard: Double = 0.5,
      bands: Int = 8,
      watermarkDelay: String = "10 minutes",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.functions.{round => sqlRound}
    import graft.functions.TextKernels
    import graft.operators.TextAnalysis
    val k = graft.operators.Dedup.MinhashSeeds.size
    // The index carries its band geometry as column metadata
    // ([[graft.operators.Dedup.withBandKeys]]); a probe banded differently
    // would silently never match, so a detectable mismatch is fatal.
    if (corpusIndex.schema.fieldNames.contains("band")) {
      val m = corpusIndex.schema("band").metadata
      if (m.contains("graft.bands"))
        require(m.getLong("graft.bands") == bands.toLong,
          s"corpusIndex was banded with bands=${m.getLong("graft.bands")} but nearDupIngest was asked to probe with bands=$bands")
    }
    val corpusBanded = corpusIndex
    // signatures built inline (not via Dedup.minhashSignatures) so the
    // event-time column survives for the watermark + duplicate suppressor
    val streamSigs = stream.withWatermark("ts", watermarkDelay)
      .select(
        col("doc_id"), col("ts"),
        TextKernels.shingleGrams(TextAnalysis.tokens(col(textCol)), 3).as("grams"))
      .where(size(col("grams")) > 0)
      .select(col("doc_id"), col("ts"), TextKernels.minhashSig(col("grams")).as("sig"))
    val streamBanded = graft.operators.Dedup.withBandKeys(streamSigs, bands)
    // codegen'd slot-agreement count (identical to the interpreted
    // size(filter(zip_with(...))) chain it replaces)
    streamBanded.join(corpusBanded, Seq("band", "band_key"))
      .withColumn("n_match",
        graft.functions.VectorFunctions.eqSlotCount(col("sig"), col("corpus_sig")))
      .withColumn("est_jaccard", sqlRound(col("n_match").cast("double") / k, 6))
      .where(col("est_jaccard") >= minEstJaccard)
      .select(col("doc_id"), col("corpus_doc_id"), col("est_jaccard"), col("ts"))
      .dropDuplicatesWithinWatermark("doc_id", "corpus_doc_id")
  }

  /** Perceptual near-dup detection AT INGESTION — [[nearDupIngest]]'s
    * discipline on DECODED media: each incoming asset's payload runs the
    * codegen'd PPM dHash ([[graft.functions.ImageKernels]]) map-side, its
    * band keys probe the STATIC corpus index
    * ([[graft.operators.Dedup.hashBandIndex]] — geometry verified from
    * the band column's metadata), and candidates verify with the exact
    * `bit_count(xor)` Hamming filter. The only state is the watermarked
    * duplicate suppressor; the index is a broadcast-joined static frame,
    * so throughput is map-side fingerprint + probe. Lossless at
    * `maxHamming < nBands` by pigeonhole, exactly like the batch pairs.
    *
    * Output per match: (doc_id, corpus_doc_id, hamming, ts) — an asset
    * already in the index reports itself at hamming 0 (the re-ingest
    * signal), mirroring [[nearDupIngest]]'s self-match contract.
    */
  def phashIngest(
      stream: DataFrame,
      corpusIndex: DataFrame,
      maxHamming: Int = 3,
      nBands: Int = 4,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(maxHamming < nBands,
      s"need maxHamming ($maxHamming) < nBands ($nBands) for the pigeonhole guarantee")
    if (corpusIndex.schema.fieldNames.contains("band")) {
      val m = corpusIndex.schema("band").metadata
      if (m.contains("graft.bands"))
        require(m.getLong("graft.bands") == nBands.toLong,
          s"corpusIndex was banded with bands=${m.getLong("graft.bands")} " +
            s"but phashIngest was asked to probe with bands=$nBands")
    }
    val hashed = stream.withWatermark("ts", watermarkDelay)
      .select(col("doc_id"), col("ts"),
        graft.functions.ImageKernels.ppmDhashCol(col("payload")).as("dhash"))
    val probe = graft.operators.Dedup.withHashBands(hashed, nBands, "dhash")
    probe.join(corpusIndex, Seq("band", "bkey"))
      .withColumn("hamming",
        bit_count(col("dhash").bitwiseXOR(col("corpus_dhash"))).cast("long"))
      .where(col("hamming") <= maxHamming)
      .select(col("doc_id"), col("corpus_doc_id"), col("hamming"), col("ts"))
      .dropDuplicatesWithinWatermark("doc_id", "corpus_doc_id")
  }

  /** Benchmark decontamination AT INGESTION: each incoming document's
    * distinct gram hashes (one codegen'd
    * [[graft.functions.TextKernels.OrderedGramHashes]] pass +
    * `array_distinct` — hash-space distinct, same as the batch route) probe
    * the eval-set Bloom filter built by
    * [[graft.operators.Dedup.evalGramFilter]]; docs with at least
    * `minShared` probe hits are flagged for quarantine before they ever
    * land in the corpus. Completely STATELESS — a per-row projection +
    * filter, no watermark, no state store, no stream-static join — so it
    * runs at raw ingest throughput; the filter bytes ride the plan as a
    * literal exactly like the batch probe. No false negatives ever (the
    * Bloom law); false positives quarantine a clean doc at the documented
    * `P(Binomial(G, fpp) >= minShared)` rate — the cheap direction, since
    * quarantine is reviewed downstream. The same bytes probed by batch and
    * stream make the two verdicts identical row-for-row (StreamingSpec
    * pins stream == [[graft.operators.Dedup.contaminationReportBloom]]).
    */
  def decontaminateIngest(
      docs: DataFrame,
      evalFilter: Array[Byte],
      minShared: Int = 2,
      n: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(evalFilter != null && evalFilter.nonEmpty,
      "decontaminateIngest: eval filter is empty — build it with Dedup.evalGramFilter")
    import graft.functions.{BloomFunctions, TextKernels}
    docs
      .select(
        col(idCol),
        array_distinct(
          TextKernels.orderedGramHashesCol(
            graft.operators.TextAnalysis.tokens(col(textCol)), n)).as("hs"))
      .where(size(col("hs")) > 0)
      .select(
        col(idCol),
        // codegen'd probe count ([[graft.functions.BloomFunctions.BloomCountIn]]):
        // same per-element xxhash64 + mightContain chain, no interpreted
        // filter lambda, filter deserialized once instead of per element
        BloomFunctions.bloomCountInCol(col("hs"), evalFilter)
          .cast("long").as("n_flagged"))
      .where(col("n_flagged") >= minShared)
  }

  /** DSIR scoring AT INGESTION: the "fit nightly, score the incoming crawl"
    * shape — a frozen λ table ([[graft.operators.Sampling.dsirLambdaArray]])
    * rides the plan as a literal and every incoming document folds its gram
    * occurrences through it, STATELESS like [[decontaminateIngest]] (no
    * state store, no join, no watermark). Gram hashing is the codegen'd
    * kernel; the per-doc fold is a left-to-right `aggregate` over ~doc-gram
    * elements of pure arithmetic. The fold order differs from the batch
    * shuffle-sum order; both sides sum the SAME quantized λs and
    * re-quantize, so a corpus member streamed through the frozen model
    * reproduces its [[graft.operators.Sampling.dsirWeights]] value up to
    * the round-6 tolerance class (the [[bm25ScoreIngest]] phrasing): FP
    * addition is order-sensitive, so a sum landing exactly on a rounding
    * boundary could in principle flip the last quantized digit — on the
    * driver fixtures the two orders agree exactly (StreamingSpec pins
    * stream == batch; the declared query's oracle is the dsir replay
    * itself), but exact agreement is fixture-observed, not an arithmetic
    * identity.
    */
  def dsirScoreIngest(
      docs: DataFrame,
      lambda: Array[Double],
      n: Int = 2,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(lambda != null && lambda.length > 1,
      "dsirScoreIngest: need a dense λ array — build it with Sampling.dsirLambdaArray")
    import graft.functions.TextKernels
    val buckets = lambda.length
    docs
      .select(
        col(idCol),
        TextKernels.orderedGramHashesCol(
          graft.operators.TextAnalysis.tokens(col(textCol)), n).as("hs"))
      .where(size(col("hs")) > 0)
      .select(
        col(idCol),
        // codegen'd λ fold ([[graft.functions.TextKernels.LambdaFold]]) —
        // identical left-to-right IEEE adds as the interpreted
        // aggregate(transform(...)) chain it replaces; round(·, 6) unchanged
        round(TextKernels.lambdaFoldCol(col("hs"), lambda.toSeq), 6).as("log_weight"))
      .withColumn("selected", col("log_weight") > 0)
  }

  /** BM25 relevance scoring AT INGESTION with a FROZEN lexicon — the
    * third frozen-model ingest scorer next to the Bloom probe and the DSIR
    * λ fold: the fitted per-term idf and the corpus avgdl
    * ([[graft.operators.Retrieval.frozenLexicon]]) ride the plan as
    * LITERALS, every incoming document is scored against the fixed query
    * set entirely map-side (per-term tf via array filters over the doc's
    * own tokens — no join, no state store, no watermark; append mode at
    * raw ingest throughput), and a corpus member streamed through the
    * frozen scorer reproduces its batch [[graft.operators.Retrieval
    * .bm25Scores]] value to the same round-6 class. The production shape
    * for "tag incoming docs by curated-topic relevance before they land".
    *
    * `queries`: (query_id, distinct terms); terms missing from the frozen
    * idf map are dropped exactly as the batch join drops them. Output:
    * (idCol, query_id, score), one row per matched (doc, query).
    */
  def bm25ScoreIngest(
      docs: DataFrame,
      queries: Seq[(String, Seq[String])],
      idf: Map[String, Double],
      avgdl: Double,
      k1: Double = graft.operators.Retrieval.K1,
      b: Double = graft.operators.Retrieval.B,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(queries.nonEmpty, "bm25ScoreIngest: empty query set")
    require(avgdl > 0, s"bm25ScoreIngest: avgdl must be positive, got $avgdl")
    val tk = graft.operators.TextAnalysis.tokens(col(textCol))
    val nonEmpty = filter(tk, x => length(x) > 0)
    // Each term frequency is computed ONCE as a codegen'd kernel column
    // ([[graft.functions.TextKernels.CountIn]] — the interpreted
    // `size(filter(tk, _ === term))` lambda re-scanned the token array
    // per REFERENCE, and each term was referenced three times: two score
    // legs + the match flag), then the score expressions consume the
    // staged attribute refs — the lang_id staged-scores lesson. Values are
    // the identical integers, so the rounded scores are bitwise unchanged.
    val allTerms = queries.flatMap(_._2).distinct.filter(idf.contains)
    val tfIdx = allTerms.zipWithIndex.toMap
    def tf(term: String) = col(s"tf_${tfIdx(term)}")
    val perQuery = queries.map { case (qid, terms) =>
      val known = terms.distinct.filter(idf.contains)
      if (known.isEmpty)
        struct(lit(qid).as("query_id"), lit(0.0).as("score"), lit(false).as("m"))
      else {
        val termScores = known.map { t =>
          round(
            lit(idf(t)) * (tf(t) * lit(k1 + 1)) /
              (tf(t) + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl))),
            6)
        }
        struct(
          lit(qid).as("query_id"),
          round(termScores.reduce(_ + _), 6).as("score"),
          known.map(t => tf(t) > 0).reduce(_ || _).as("m"))
      }
    }
    docs
      .select(col(idCol), nonEmpty.as("tk"))
      .withColumn("dl", size(col("tk")).cast("long"))
      .select(
        col(idCol) +: col("dl") +: allTerms.map(t =>
          graft.functions.TextKernels.countInCol(col("tk"), Seq(t))
            .cast("long").as(s"tf_${tfIdx(t)}")): _*)
      .select(col(idCol), explode(array(perQuery: _*)).as("q"))
      .where(col("q.m"))
      .select(col(idCol), col("q.query_id").as("query_id"), col("q.score").as("score"))
  }

  /** Streaming weekly-active-users: Monday-aligned 7-day tumbling windows
    * (epoch day 0 is a Thursday — the 4-day startTime shift aligns window
    * starts to Mondays, matching the batch `date_trunc('week', ts)`), HLL++
    * distinct per window ([[graft.operators.Wau.wauApprox]] is the batch
    * twin — exact streaming COUNT(DISTINCT) would need update-mode with
    * per-key state; the sketch keeps append-mode + bounded state, the right
    * trade at 100 TB/day rates).
    */
  def wauApprox(
      events: DataFrame,
      keyCol: String = "user_id",
      watermarkDelay: String = "1 day",
      rsd: Double = 0.01): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "7 days", "7 days", "4 days"))
      .agg(approx_count_distinct(col(keyCol), rsd).as("wau_approx"))
      .select(to_date(col("window.start")).as("event_week"), col("wau_approx"))

  /** Stream-STREAM interval join, replayed end to end: every `view` event
    * joined to the same user's `purchase` events landing within
    * `matchWindowSec` seconds AT OR AFTER it — the attribution join — with
    * BOTH sides read as file streams (one file per trigger) and BOTH sides
    * watermarked, so the join runs with bounded state: a buffered view is
    * held only until the watermark passes `view_ts + matchWindowSec` (no
    * purchase that could still match it remains), a buffered purchase only
    * one delay — Spark derives both horizons from the time-range predicate,
    * which is why the predicate must stay in EVENT-TIME arithmetic (casting
    * to epoch longs would make the state unbounded).
    *
    * This is the one streaming shape the rest of the streaming surface
    * doesn't cover: stream-static joins ([[neardupIngest]]) bound state by
    * the static side, aggregations by their windows — a stream-STREAM join
    * is where the watermark horizon math actually bites. The slices are
    * strict time ranges, so nothing arrives beyond-watermark late and the
    * append-mode output is EXACTLY the batch interval join — the declared
    * query's oracle — proving eviction never fired early.
    *
    * Scale shape: state is (delay + matchWindow)·arrival-rate rows keyed by
    * user, shuffled once per side; output flows append-incrementally. The
    * far-future sentinel pair (same discipline as [[sessionizeReplay]])
    * only drives the FINAL watermark advance so the last window's state
    * drains deterministically before the harness stops.
    */
  def intervalJoinReplay(
      events: DataFrame,
      slices: Int = 3,
      matchWindowSec: Long = 1800L,
      watermarkDelaySec: Long = 600L,
      queryName: String = "stream_interval_join_sink",
      joinType: String = "inner"): DataFrame = {
    require(Seq("inner", "left_outer", "full_outer").contains(joinType),
      s"stream-stream interval join supports inner/left_outer/full_outer, got $joinType")
    require(slices >= 2, s"need >= 2 slices for the watermark to move, got $slices")
    val proj = events.select(
      col("event_id").cast("long").as("event_id"),
      col("user_id").cast("long").as("user_id"),
      col("ts"), col("event_type").cast("string").as("event_type"))
    // Each stream leg FILTERS on event_type BEFORE its watermark node, so
    // a sentinel only advances a leg's watermark if it passes that leg's
    // filter: every sentinel batch carries one view-typed row (user -1)
    // and one purchase-typed row (user -2) — distinct negative users, so
    // they match nothing and the output filter drops them. The OUTER
    // variant additionally needs the final watermark to clear every
    // view's null-emission horizon (Spark derives it conservatively from
    // the condition bound plus both delays) and at least one further
    // batch to run the eviction — three far-future sentinel batches
    // cover both.
    val (_, sliceDfs) = timeSlices(proj, slices, "intervalJoinReplay")(
      joinSentinels(proj, matchWindowSec, watermarkDelaySec))
    replaySlices("graft_stream_ivjoin_", sliceDfs) { src =>
      val views = src().where(col("event_type") === "view")
        .select(
          col("event_id").as("view_id"), col("user_id"), col("ts").as("view_ts"))
        .withWatermark("view_ts", s"$watermarkDelaySec seconds")
      val purchases = src().where(col("event_type") === "purchase")
        .select(
          col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
        .withWatermark("p_ts", s"$watermarkDelaySec seconds")
      // for LEFT OUTER the null-extended row for an unmatched view is
      // emitted only when the watermark passes the view's whole match
      // horizon (no purchase can still arrive) — the sentinel pair
      // guarantees that final advance, so the replay drains COMPLETELY
      val joined = views.join(
        purchases,
        expr(s"""user_id = p_user AND p_ts >= view_ts AND
                 p_ts <= view_ts + interval $matchWindowSec seconds"""),
        joinType)
        .select(
          col("view_id"), col("purchase_id"),
          // FULL OUTER emits purchase-only rows whose view-side columns
          // are null — the user key must coalesce across sides (identical
          // values for inner/left, where the view side is never null)
          coalesce(col("user_id"), col("p_user")).as("user_id"),
          (unix_timestamp(col("p_ts")) - unix_timestamp(col("view_ts"))).as("gap_sec"))
      drainToMemory(joined, queryName)
    }.where(col("user_id") >= 0)
  }

  /** The interval-join replays' sentinel batches past `hi`: three
    * far-future batches, each one view-typed row (user −1) and one
    * purchase-typed row (user −2), so both legs' watermarks advance.
    */
  private def joinSentinels(proj: DataFrame, matchWindowSec: Long, watermarkDelaySec: Long)(
      hi: Long): Seq[DataFrame] = {
    import proj.sparkSession.implicits._
    val margin = 3L * (matchWindowSec + watermarkDelaySec)
    Seq(hi + margin, hi + margin + 60L, hi + margin + 120L).map { sec =>
      Seq((-1L, -1L, "view"), (-2L, -2L, "purchase"))
        .toDF("event_id", "user_id", "event_type")
        .select(
          col("event_id"), col("user_id"),
          lit(sec).cast("timestamp").as("ts"), col("event_type"))
    }
  }

  /** FUSED ingestion annotation — the production admission pipeline run as
    * ONE pass over an incoming micro-batch (the `foreachBatch` shape: the
    * batch is persisted once and every leg reads the cache, so the source
    * files are scanned exactly once per trigger and the only cross-batch
    * state is whatever the caller accumulates — for the declared query,
    * the 4×256 CMS cells):
    *
    *  1. admission near-dup — MinHash band probe against the persisted
    *     corpus index ([[corpusBandIndex]]; self-matches excluded,
    *     signature-verified at `minEstJaccard`) → `n_dup`;
    *  2. benchmark decontamination — stateless Bloom probe
    *     ([[decontaminateIngest]]'s expression, kept per-doc) →
    *     `stream_quarantined`;
    *  3. DSIR selection — frozen-λ scoring ([[dsirScoreIngest]]) →
    *     `log_weight`, `selected`;
    *  4. BM25 relevance — frozen-lexicon scoring ([[bm25ScoreIngest]]),
    *     reduced to the per-doc argmax (ties to the smallest query id) →
    *     `bm25_best_q`, `bm25_best`.
    *
    * Docs missing from a leg (no grams / no matching query) coalesce to
    * the leg's zero element, so the output is exactly one row per incoming
    * doc. Every column except `stream_quarantined` is deterministic and
    * SQL-replayable; the Bloom verdict is probabilistic in the
    * false-positive direction, so the declared query folds it into the
    * one-sided no-false-negative law column instead of hashing it raw
    * (the stream_decontaminate discipline).
    *
    * Scale shape: one cache pass per leg over a micro-batch-sized frame;
    * the corpus index is the only big relation and it arrives banded +
    * persisted (equi-join probe); the model sides (Bloom bytes, λ table,
    * idf map, avgdl) are plan literals. Nothing here grows with corpus
    * size except the index probe, which is the same join the batch
    * admission dedup runs.
    */
  def ingestAnnotate(
      batch: DataFrame,
      corpusIndex: DataFrame,
      evalFilter: Array[Byte],
      lambda: Array[Double],
      queries: Seq[(String, Seq[String])],
      idf: Map[String, Double],
      avgdl: Double,
      minEstJaccard: Double = 0.5,
      bands: Int = 8,
      deconMinShared: Int = 2,
      deconN: Int = 3,
      dsirN: Int = 2): DataFrame = {
    import graft.functions.{BloomFunctions, TextKernels}
    import graft.operators.Dedup
    val k = Dedup.MinhashSeeds.size
    if (corpusIndex.schema.fieldNames.contains("band")) {
      val m = corpusIndex.schema("band").metadata
      if (m.contains("graft.bands"))
        require(m.getLong("graft.bands") == bands.toLong,
          s"corpusIndex was banded with bands=${m.getLong("graft.bands")} but ingestAnnotate probes with bands=$bands")
    }
    val ids = batch.select(col("doc_id"))
    val dup = Dedup.withBandKeys(Dedup.minhashSignatures(batch), bands)
      .join(corpusIndex, Seq("band", "band_key"))
      .where(col("corpus_doc_id") =!= col("doc_id"))
      .withColumn("n_match",
        graft.functions.VectorFunctions.eqSlotCount(col("sig"), col("corpus_sig")))
      .where(round(col("n_match").cast("double") / k, 6) >= minEstJaccard)
      .select(col("doc_id"), col("corpus_doc_id")).distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
    val dec = batch
      .select(
        col("doc_id"),
        array_distinct(
          TextKernels.orderedGramHashesCol(
            graft.operators.TextAnalysis.tokens(col("text")), deconN)).as("hs"))
      .select(
        col("doc_id"),
        // same codegen'd probe-count swap as [[decontaminateIngest]]
        (BloomFunctions.bloomCountInCol(col("hs"), evalFilter)
          .cast("long") >= deconMinShared).as("stream_quarantined"))
    val dsir = dsirScoreIngest(batch, lambda, n = dsirN)
      .select(col("doc_id"), col("log_weight"), col("selected"))
    val wb = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("query_id"))
    val best = bm25ScoreIngest(batch, queries, idf, avgdl)
      .withColumn("rn", row_number().over(wb)).where(col("rn") === 1)
      .select(col("doc_id"), col("query_id").as("bm25_best_q"), col("score").as("bm25_best"))
    ids
      .join(dup, Seq("doc_id"), "left")
      .join(dec, Seq("doc_id"), "left")
      .join(dsir, Seq("doc_id"), "left")
      .join(best, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        coalesce(col("stream_quarantined"), lit(false)).as("stream_quarantined"),
        coalesce(col("log_weight"), lit(0.0)).as("log_weight"),
        coalesce(col("selected"), lit(false)).as("selected"),
        coalesce(col("bm25_best_q"), lit("")).as("bm25_best_q"),
        coalesce(col("bm25_best"), lit(0.0)).as("bm25_best"))
  }

  /** CHECKPOINT RECOVERY replay — the exactly-once restart law as a
    * DECLARED, oracle-checked query (promoting
    * `StreamingRecoverySpec`'s kill-and-restart proof into the driver's
    * DuckDB gate): a daily per-user count over the events stream runs
    * against a FILE sink + checkpoint, is STOPPED after only the first
    * two of six input files, then a brand-new query instance resumes
    * from the same checkpoint once the rest (incl. the watermark-driving
    * sentinels) land. The file source's checkpointed offsets and the
    * file sink's commit log must together neither re-emit phase-1 rows
    * nor lose in-flight state.
    *
    * Three laws ride as measured columns the oracle asserts TRUE:
    * `interrupted_midstream` (phase 1 emitted strictly less than the
    * full answer — something was genuinely left to recover),
    * `no_duplicate_emissions` (sink rows are pairwise distinct), and
    * batch parity itself is the hash match — the oracle recomputes the
    * daily counts from the raw table, so one lost or doubled row fails
    * the gate. Sentinels ride user_id −1 and are filtered from the
    * output; their far-future day never enters (the watermark cutoff
    * discipline of every replay in this file).
    */
  def recoveryReplay(
      events: DataFrame,
      slices: Int = 4,
      watermarkDelaySec: Long = 600L): DataFrame = {
    require(slices >= 3, s"recoveryReplay: need >= 3 slices to interrupt midstream, got $slices")
    val spark = events.sparkSession
    import spark.implicits._
    val proj = events.select(col("user_id").cast("long").as("user_id"), col("ts"))
    val (_, sliceDfs) = timeSlices(proj, slices, "recoveryReplay") { hi =>
      Seq(hi + 86400L + watermarkDelaySec + 60L, hi + 86400L + watermarkDelaySec + 120L)
        .map(sentinel(spark, _, "user_id"))
    }
    // phase 1: two files land, the query drains them and is KILLED;
    // phase 2: the rest lands, a NEW instance resumes from the checkpoint
    val (afterPhase1, rows) = killRestartDrain(
        "graft_stream_recovery_", sliceDfs, phase1Files = 2, "day date, user_id long, n long") {
      (inDir, outDir, ckpt) =>
        spark.readStream.schema(proj.schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir)
          .withWatermark("ts", s"$watermarkDelaySec seconds")
          .groupBy(window(col("ts"), "1 day").as("w"), col("user_id"))
          .agg(count(lit(1)).as("n"))
          .select(to_date(col("w.start")).as("day"), col("user_id"), col("n"))
          .writeStream.format("parquet")
          .option("path", outDir).option("checkpointLocation", ckpt)
          .outputMode("append").start()
    }
    val sunk = rows.map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toSeq
    val expectedRows = proj
      .groupBy(to_date(col("ts")).as("day"), col("user_id")).agg(count(lit(1)))
      .count()
    val interrupted = afterPhase1 < expectedRows
    val noDupes = sunk.size == sunk.distinct.size
    // the memory copy owns the rows now; lift it back into a frame with
    // the law columns (batch parity is the oracle hash itself)
    sunk.toDF("day_s", "user_id", "n")
      .select(
        col("day_s").cast("date").as("day"), col("user_id"), col("n"),
        lit(interrupted).as("interrupted_midstream"),
        lit(noDupes).as("no_duplicate_emissions"))
      .orderBy(col("day"), col("user_id"))
  }

  /** Shared KILL-AND-RESTART scaffold for the recovery replays, on a
    * fresh `prefix` temp root: stage every slice up front, publish the
    * first `phase1Files` into the source dir (mtimes pinned), drain the
    * query `buildQuery(inDir, outDir, ckptDir)` builds and STOP it (the
    * kill), publish the rest, drain a brand-new instance against the SAME
    * checkpoint, and return (rows sunk after phase 1, the final sink rows
    * with `user_id >= 0`). The file source's checkpointed offsets plus the
    * file sink's commit log carry the exactly-once burden across the
    * restart — identical machinery for every stateful operator under test.
    */
  private def killRestartDrain(
      prefix: String,
      sliceDfs: Seq[DataFrame],
      phase1Files: Int,
      sinkSchema: String)(
      buildQuery: (String, String, String) => StreamingQuery): (Long, Array[Row]) =
    withTempRoot(prefix) { base =>
      val spark = sliceDfs.head.sparkSession
      val (streamDir, sinkDir, ckptDir) =
        (base.resolve("in"), base.resolve("out"), base.resolve("ckpt"))
      Files.createDirectories(streamDir)
      val staged = sliceDfs.zipWithIndex.map { case (df, i) =>
        stageSlice(df, base.resolve(s"stage_$i"))
      }
      def publish(i: Int): Unit = publishSlice(staged(i), streamDir, i)
      def runOnce(): Unit =
        drain(spark)(buildQuery(streamDir.toString, sinkDir.toString, ckptDir.toString))
      def sink(): DataFrame = spark.read.schema(sinkSchema).parquet(sinkDir.toString)
      (0 until phase1Files).foreach(publish)
      runOnce()
      val afterPhase1 = sink().count()
      (phase1Files until staged.length).foreach(publish)
      runOnce()
      (afterPhase1, sink().where(col("user_id") >= 0).collect())
    }

  /** CHECKPOINT RECOVERY for the STATEFUL STREAM-STREAM JOIN — the state
    * store likeliest to corrupt on resume (two-sided buffered rows plus
    * the derived eviction horizon must BOTH reconstruct): the inner
    * view→purchase interval join of [[intervalJoinReplay]] runs against a
    * file sink + checkpoint, is KILLED after two of the input files, and
    * a new instance resumes — views buffered but unmatched at the kill
    * must still meet purchases that only arrive after the restart. Laws
    * as in [[recoveryReplay]]: `interrupted_midstream`,
    * `no_duplicate_emissions`, and the hash against the BATCH interval
    * join is the no-loss/no-invention proof.
    */
  def recoveryJoinReplay(
      events: DataFrame,
      slices: Int = 4,
      matchWindowSec: Long = 1800L,
      watermarkDelaySec: Long = 600L): DataFrame = {
    require(slices >= 3, s"recoveryJoinReplay: need >= 3 slices to interrupt midstream, got $slices")
    val spark = events.sparkSession
    import spark.implicits._
    val proj = events.select(
      col("event_id").cast("long").as("event_id"),
      col("user_id").cast("long").as("user_id"),
      col("ts"), col("event_type").cast("string").as("event_type"))
    val (_, sliceDfs) = timeSlices(proj, slices, "recoveryJoinReplay")(
      joinSentinels(proj, matchWindowSec, watermarkDelaySec))
    val sinkSchema = "view_id long, purchase_id long, user_id long, gap_sec long"
    val (afterPhase1, rows) = killRestartDrain(
        "graft_stream_recov_join_", sliceDfs, phase1Files = 2, sinkSchema) {
      (inDir, outDir, ckpt) =>
        def src(): DataFrame = spark.readStream.schema(proj.schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir)
        val views = src().where(col("event_type") === "view")
          .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("view_ts"))
          .withWatermark("view_ts", s"$watermarkDelaySec seconds")
        val purchases = src().where(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
            col("ts").as("p_ts"))
          .withWatermark("p_ts", s"$watermarkDelaySec seconds")
        views.join(purchases,
            expr(s"""user_id = p_user AND p_ts >= view_ts AND
                     p_ts <= view_ts + interval $matchWindowSec seconds"""))
          .select(col("view_id"), col("purchase_id"), col("user_id"),
            (unix_timestamp(col("p_ts")) - unix_timestamp(col("view_ts"))).as("gap_sec"))
          .writeStream.format("parquet")
          .option("path", outDir).option("checkpointLocation", ckpt)
          .outputMode("append").start()
    }
    val sunk = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val interrupted = afterPhase1 < sunk.size
    val noDupes = sunk.size == sunk.distinct.size
    sunk.toDF("view_id", "purchase_id", "user_id", "gap_sec")
      .withColumn("interrupted_midstream", lit(interrupted))
      .withColumn("no_duplicate_emissions", lit(noDupes))
      .orderBy(col("view_id"), col("purchase_id"))
  }

  /** CHECKPOINT RECOVERY for the `flatMapGroupsWithState` SESSIONIZER —
    * the custom-state operator where a resume must reconstruct BOTH the
    * open sessions and the buffered not-yet-final events, plus the
    * registered event-time timeouts: the [[sessionize]] state machine
    * runs against a file sink + checkpoint, is KILLED after two input
    * files (open sessions straddle the kill), and a new instance resumes
    * — sessions begun before the kill must close correctly after it.
    * Laws as in [[recoveryReplay]]; the hash against the BATCH
    * sessionize oracle proves the resumed state machine splits every
    * session at exactly the same boundaries.
    */
  def recoverySessionizeReplay(
      events: DataFrame,
      slices: Int = 4,
      gapSeconds: Long = 300L,
      watermarkDelaySec: Long = 600L): DataFrame = {
    require(slices >= 3, s"recoverySessionizeReplay: need >= 3 slices to interrupt midstream, got $slices")
    val spark = events.sparkSession
    import spark.implicits._
    val proj = events.select(
      col("event_id").cast("long").as("event_id"),
      col("user_id").cast("long").as("user_id"),
      col("ts"))
    val (_, sliceDfs) = timeSlices(proj, slices, "recoverySessionizeReplay") { hi =>
      val sentinel1 = hi + gapSeconds + watermarkDelaySec + 60L
      Seq(sentinel1, sentinel1 + 60L).map(sentinel(spark, _, "event_id", "user_id"))
    }
    val sinkSchema = "event_id long, user_id long, epoch_sec long, " +
      "is_new_session boolean, session_start_sec long, session_id string"
    val (afterPhase1, rows) = killRestartDrain(
        "graft_stream_recov_sess_", sliceDfs, phase1Files = 2, sinkSchema) {
      (inDir, outDir, ckpt) =>
        val src = spark.readStream.schema(proj.schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir)
        sessionize(src, gapSeconds, s"$watermarkDelaySec seconds")
          .writeStream.format("parquet")
          .option("path", outDir).option("checkpointLocation", ckpt)
          .outputMode("append").start()
    }
    val sunk = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getBoolean(3), r.getLong(4), r.getString(5))).toSeq
    val interrupted = afterPhase1 < sunk.size
    val noDupes = sunk.size == sunk.distinct.size
    sunk.toDF("event_id", "user_id", "epoch_sec",
        "is_new_session", "session_start_sec", "session_id")
      .withColumn("interrupted_midstream", lit(interrupted))
      .withColumn("no_duplicate_emissions", lit(noDupes))
      .orderBy(col("event_id"))
  }
}
