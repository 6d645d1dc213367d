package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._

/** Driver contract — see `SURVEY.md` §7.
  *
  * Every entry in [[queries]] is a pure `(SparkSession, sfDir) => DataFrame`
  * over the driver's parquet tables; [[oracleSql]] carries the equivalent
  * ANSI SQL the driver replays in DuckDB on the same tables. Column names and
  * value types are aligned between the two on purpose (the driver hash-compares
  * after sorting columns by name).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("wau_user")(spark, "/root/testdata/sf0.001")

  // Events span 2024-01-01 .. 2024-01-30 (TESTDATA.md).
  private val Start = "2024-01-01"
  private val End = "2024-01-31"

  /** DuckDB CTE replicating [[Sessionize.sessionize]] exactly (gap >= 300
    * whole seconds, deterministic `user#startSec` ids, ts/event_id ordering).
    */
  private val sessionCte: String =
    """WITH lagged AS (
      |  SELECT event_id, user_id, ts, event_type, value,
      |         CAST(floor(epoch(ts)) AS BIGINT) AS epoch_sec,
      |         lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER
      |           (PARTITION BY user_id ORDER BY ts, event_id) AS prev_epoch_sec
      |  FROM events
      |), flagged AS (
      |  SELECT *, (prev_epoch_sec IS NULL OR epoch_sec - prev_epoch_sec >= 300) AS is_new
      |  FROM lagged
      |), sessions AS (
      |  SELECT *,
      |         CAST(user_id AS VARCHAR) || '#' || CAST(session_start_sec AS VARCHAR) AS session_id
      |  FROM (
      |    SELECT *, max(CASE WHEN is_new THEN epoch_sec END) OVER
      |             (PARTITION BY user_id ORDER BY ts, event_id
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_start_sec
      |    FROM flagged
      |  )
      |)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = coreQueries ++
    QueriesRelational.queries ++ QueriesEtl.queries ++ QueriesLlm.queries

  private def coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── C4: WAU by user_id (ref UserIdBaseWauTransformer.scala:20-40) ──
    "wau_user" -> ((s, dir) =>
      Wau.wau(Tables.events(s, dir), "user_id", col("ts"), Start, End)),

    // ── C1: sessionization (ref DataLoadTransformer.scala:57-81) ──
    "sessionize" -> ((s, dir) =>
      Sessionize.sessionize(Tables.events(s, dir))
        .select(
          col("event_id"), col("user_id"), col("epoch_sec"),
          col("is_new_session").cast("int").as("is_new_session"),
          col("session_start_sec"), col("session_id"))
        .orderBy(col("event_id"))),

    // ── C4 approx variant: HLL++ WAU — the interactive path at 100 TB (one
    // sketch per week through the shuffle instead of one row per distinct
    // user). SELF-VALIDATING: the declared query joins the exact weekly
    // count and emits a within-5% boolean the oracle asserts TRUE, so a
    // drifting sketch fails the hash compare (the estimate itself is not
    // SQL-replayable and stays out of the hashed columns). rsd=0.01 → the
    // 5% gate is ~5σ. WauSpec additionally bounds the raw estimate. ──
    "wau_user_approx" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      Wau.wauValidated(
        Wau.wauApprox(ev, "user_id", col("ts"), Start, End),
        "wau_approx", ev, "user_id", col("ts"), Start, End)
    }),

    // ── sketch-merge rollup: daily DataSketches-HLL sketches unioned into
    // weekly estimates without rescanning raw events — the incremental
    // 100 TB aggregation shape. Same self-validating harness as
    // wau_user_approx (lgK=14 → rse ≈ 0.8%, the 5% gate is ~6σ). ──
    "wau_user_sketch_rollup" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      Wau.wauValidated(
        Wau.wauSketchRollup(ev, "user_id", col("ts"), Start, End),
        "wau_est", ev, "user_id", col("ts"), Start, End)
    }),

    // ── §2.9: streaming sessionize, oracle-checked END TO END — the events
    // table replayed as a 3-slice file stream (one file per trigger) so the
    // watermark genuinely advances across micro-batches, flushing the
    // event-time-buffered session state; a far-future sentinel pair drives
    // the final timeout batch (see StreamingSessionize.sessionizeReplay).
    // The oracle is the SINGLE-BATCH session SQL, so the hash match proves
    // a real streaming execution (watermark, state eviction, event-time
    // timeouts) reproduces batch sessionization exactly. ──
    "stream_sessionize" -> ((s, dir) =>
      streaming.StreamingSessionize.sessionizeReplay(Tables.events(s, dir))
        .select(
          col("event_id"), col("user_id"), col("epoch_sec"),
          col("is_new_session").cast("int").as("is_new_session"),
          col("session_start_sec"), col("session_id"))
        .orderBy(col("event_id"))),

    // ── CHECKPOINT RECOVERY, oracle-checked END TO END: the daily
    // per-user rollup runs as a file-sink + checkpoint stream, is KILLED
    // after two of six input files, and a new query instance resumes
    // from the checkpoint — the hash match against the batch rollup IS
    // the exactly-once proof (no loss, no duplicates across the
    // restart), with `interrupted_midstream` pinning that phase 1
    // genuinely left work to recover and `no_duplicate_emissions`
    // pinning sink-level dedup (see StreamingSessionize.recoveryReplay;
    // promoted from StreamingRecoverySpec per the r10 verdict). ──
    "stream_recovery" -> ((s, dir) =>
      streaming.StreamingSessionize.recoveryReplay(Tables.events(s, dir))),

    // ── CHECKPOINT RECOVERY for the STATEFUL STREAM-STREAM JOIN: the
    // kill-and-restart law extended to the state store likeliest to
    // corrupt on resume — two-sided buffered join rows plus the derived
    // eviction horizon must reconstruct so views buffered before the
    // kill still meet purchases arriving after it (see
    // StreamingSessionize.recoveryJoinReplay). Hash match against the
    // batch interval join == exactly-once across the restart. ──
    "stream_recovery_join" -> ((s, dir) =>
      streaming.StreamingSessionize.recoveryJoinReplay(Tables.events(s, dir))),

    // ── CHECKPOINT RECOVERY for the flatMapGroupsWithState SESSIONIZER:
    // resume must reconstruct open sessions, buffered events, AND the
    // registered event-time timeouts — sessions begun before the kill
    // close at exactly the batch boundaries after it (see
    // StreamingSessionize.recoverySessionizeReplay). ──
    "stream_recovery_sessionize" -> ((s, dir) =>
      streaming.StreamingSessionize.recoverySessionizeReplay(Tables.events(s, dir))
        .select(
          col("event_id"), col("user_id"), col("epoch_sec"),
          col("is_new_session").cast("int").as("is_new_session"),
          col("session_start_sec"), col("session_id"),
          col("interrupted_midstream"), col("no_duplicate_emissions"))
        .orderBy(col("event_id"))),

    // ── stream-STREAM watermarked interval join, oracle-checked END TO
    // END: views joined to same-user purchases within 30 minutes, both
    // sides file-replayed streams with their own watermark, state bounded
    // by the horizon Spark derives from the event-time range predicate
    // (see StreamingSessionize.intervalJoinReplay). The oracle is the
    // BATCH interval join, so the hash match proves the streaming state
    // machine (two-sided buffering + horizon eviction) loses and invents
    // nothing. ──
    "stream_interval_join" -> ((s, dir) =>
      streaming.StreamingSessionize.intervalJoinReplay(Tables.events(s, dir))
        .orderBy(col("view_id"), col("purchase_id"))),

    // ── the LEFT OUTER variant: unmatched views must ALSO surface — and in
    // a stream-stream join the null-extended row can only be emitted when
    // the watermark proves no matching purchase can still arrive (emission
    // on state EXPIRY, the semantics the inner join never exercises). The
    // hash match against the batch LEFT JOIN proves the expiry machinery
    // emits every unmatched view exactly once, no dupes, none lost. ──
    "stream_interval_join_left" -> ((s, dir) =>
      streaming.StreamingSessionize.intervalJoinReplay(
        Tables.events(s, dir),
        queryName = "stream_interval_join_left_sink", joinType = "left_outer")
        .orderBy(col("view_id"), col("purchase_id"))),

    // ── the FULL OUTER variant: BOTH unmatched sides surface on watermark
    // expiry — unmatched views (as in left) AND purchases no view
    // preceded, each emitted exactly once when its own state horizon
    // closes. The batch FULL JOIN hash match proves two-sided expiry
    // emission loses and invents nothing ──
    "stream_interval_join_full" -> ((s, dir) =>
      streaming.StreamingSessionize.intervalJoinReplay(
        Tables.events(s, dir),
        queryName = "stream_interval_join_full_sink", joinType = "full_outer")
        .orderBy(col("view_id"), col("purchase_id"), col("user_id"))),

    // ── COMPLETE-output-mode rollup ([[streaming.StreamingSessionize
    // .completeRollupReplay]]): the full result re-emitted every trigger
    // with no watermark/eviction — the dashboard-refresh shape; the
    // final sink state must equal the all-at-once batch rollup ──
    "stream_complete_rollup" -> ((s, dir) =>
      streaming.StreamingSessionize.completeRollupReplay(Tables.events(s, dir))
        .orderBy(col("event_type"))),

    // ── watermark late-data accounting, demonstrated POSITIVELY
    // ([[streaming.StreamingSessionize.lateDataAuditReplay]]): the
    // replay holds the earliest window's rows back until the watermark
    // has passed them; the hourly aggregation must drop ALL of them and
    // account for every one in numRowsDroppedByWatermark (measured law
    // `drops_equal_late`) — every other replay pins zero drops; this
    // pins the drop path itself ──
    "stream_late_audit" -> ((s, dir) =>
      streaming.StreamingSessionize.lateDataAuditReplay(Tables.events(s, dir))
        .orderBy(col("window_start_sec"))),

    // ── ingestion-time per-user rate limiting, oracle-checked END TO END:
    // at most 2 events per user per event-time hour admitted, in
    // deterministic (epoch, event_id) order, through a REAL multi-trigger
    // replay of the event-time-buffering quota state machine
    // (StreamingSessionize.rateLimit). The oracle is the batch window-rank
    // SQL, so the hash match proves watermark buffering makes the admitted
    // set arrival-order-invariant. ──
    "stream_rate_limit" -> ((s, dir) =>
      streaming.StreamingSessionize.rateLimitReplay(
        Tables.events(s, dir), maxPerWindow = 2L, windowSec = 3600L)
        .select(
          col("event_id"), col("user_id"), col("epoch_sec"),
          col("window_start_sec"), col("rank_in_window"))
        .orderBy(col("event_id"))),

    // ── the native session_window under a watermark, replayed end to end:
    // ENGINE-managed merging session state (no flatMapGroupsWithState),
    // complete append-mode output == the batch session_window aggregation
    // at micros precision — same oracle, same hash ──
    "stream_session_window" -> ((s, dir) =>
      streaming.StreamingSessionize.sessionWindowReplay(Tables.events(s, dir))
        .orderBy(col("user_id"), col("start_us"))),

    // ── stream-STATIC enrichment join: each micro-batch inner-joins a
    // broadcast static dimension (per-user purchase tier — stateless
    // map-side enrich), then a watermarked daily aggregation per tier;
    // replay output == the batch join+rollup, same oracle, same hash ──
    "stream_enrich_static" -> ((s, dir) =>
      streaming.StreamingSessionize.enrichStaticReplay(Tables.events(s, dir))
        .orderBy(col("day"), col("tier"))),

    // ── CHAINED stateful streaming: sliding-window WAU as two stacked
    // windowed aggregations ((window, user) dedup state → per-window user
    // count) in ONE append-mode query — the multiple-stateful-operator
    // support; complete replay output == batch slidingActiveUsers,
    // identical oracle, identical hash ──
    "stream_sliding_wau" -> ((s, dir) =>
      streaming.StreamingSessionize.slidingWauReplay(Tables.events(s, dir))
        .orderBy(col("window_start"))),

    // ── C4 variant: WAU by session_id (ref SessionIdBaseWauTransformer) ──
    "wau_session" -> ((s, dir) =>
      Wau.wau(
        Sessionize.sessionize(Tables.events(s, dir)),
        "session_id", col("ts"), Start, End)),

    // ── per-session rollup (agg over sessionized stream) ──
    "session_stats" -> ((s, dir) =>
      Sessionize.sessionStats(Tables.events(s, dir))
        .orderBy(col("user_id"), col("session_id"))),

    // ── CONCURRENT SESSIONS ([[operators.Analytics.overlappingIntervals]]
    // — the binned interval-overlap self-join): which user pairs had
    // sessions live at the same time. Each session explodes to its hour
    // bins, pairs equi-join on the bin (hash join, ONE shuffle — the
    // measured `no_cartesian` law pins that no CartesianProduct or
    // nested-loop appears in the executed plan), the exact overlap
    // predicate prunes bin coincidences, and the per-user-pair rollup is
    // user-pair-bounded however large the session table grows. The
    // oracle is the NAIVE theta self-join — the hash match proves the
    // binned decomposition loses and invents no pair ──
    "interval_overlap_pairs" -> ((s, dir) => {
      val sess = Sessionize.sessionStats(Tables.events(s, dir))
      val pairs = graft.operators.Analytics.overlappingIntervals(
        sess, col("user_id"), col("session_id"),
        col("start_sec"), col("end_sec"), binSec = 3600L)
      val noCartesian = {
        val plan = pairs.queryExecution.executedPlan.toString
        !plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop")
      }
      pairs
        .groupBy(col("key_a").as("user_a"), col("key_b").as("user_b"))
        .agg(
          count(lit(1)).as("n_overlaps"),
          sum(col("overlap_end_sec") - col("overlap_start_sec")).as("sum_overlap_sec"))
        .select(col("user_a"), col("user_b"), col("n_overlaps"), col("sum_overlap_sec"))
        .withColumn("no_cartesian", lit(noCartesian))
        .orderBy(col("user_a"), col("user_b"))
    }),

    // ── top navigation paths over sessions ([[Sessionize.sessionPaths]]):
    // ordered event-type sequences per session (the sessionizer's own
    // (epoch, id) tiebreak, sorted inside the row), censused and top-k'd
    // deterministically ──
    "session_paths" -> ((s, dir) =>
      Sessionize.sessionPaths(Tables.events(s, dir), k = 20)),

    // ── the NATIVE route to C1: Spark's built-in `session_window` operator
    // — gap-merged session aggregation as ONE groupBy, no window-function
    // pipeline (the Spark-first idiom next to the hand-built sessionizer;
    // both live because the hand-built one carries the reference's
    // whole-second + deterministic-session-id contract while this is the
    // engine-native shape). session_window merges on RAW event-time
    // precision — split exactly when ts - prev_ts >= gap in MICROS — which
    // the oracle replays with an epoch_us lag chain ──
    "session_window_stats" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "300 seconds").as("w"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .select(
          col("user_id"),
          unix_micros(col("w.start")).as("start_us"),
          unix_micros(col("w.end")).as("end_us"),
          col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("start_us"))),

    // ── C2: split-batch sessionize with continuity == whole-stream ──
    // Splits events at Jan 16, sessionizes each half, carries open sessions
    // across the boundary; the oracle is the SINGLE-BATCH session SQL — the
    // hash match proves split-invariance (ref DataLoadTransformer.scala:94-159).
    "sessionize_split" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val cut = to_timestamp(lit("2024-01-16 00:00:00"))
      val first = ev.where(col("ts") < cut)
      val second = ev.where(col("ts") >= cut)
      val firstSess = Sessionize.sessionize(first)
      val tail = firstSess.where(
        unix_timestamp(col("ts")) >= unix_timestamp(cut) - 300)
      val secondSess = Sessionize.sessionizeWithContinuity(second, tail)
      val cols = Seq("event_id", "user_id", "epoch_sec", "session_id")
      firstSess.select(cols.map(col): _*)
        .unionByName(secondSess.select(cols.map(col): _*))
        .orderBy(col("event_id"))
    })
  )

  def oracleSql: Map[String, String] = coreOracles ++
    QueriesRelational.oracleSql ++ QueriesEtl.oracleSql ++ QueriesLlm.oracleSql

  /** Shared oracle for the two self-validating approximate-WAU queries:
    * exact weekly distinct count plus `TRUE AS within_tol` (the Spark side
    * computes the boolean from the real sketch; see the query comments).
    */
  private val wauValidatedOracle: String =
    s"""SELECT CAST(date_trunc('week', ts) AS DATE) AS event_week,
       |       count(DISTINCT user_id) AS wau_exact,
       |       TRUE AS within_tol
       |FROM events
       |WHERE CAST(date_trunc('week', ts) AS DATE)
       |      BETWEEN CAST(date_trunc('week', TIMESTAMP '$Start') AS DATE)
       |          AND CAST(date_trunc('week', TIMESTAMP '$End') AS DATE)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  private def coreOracles: Map[String, String] = Map(
    "wau_user" ->
      s"""SELECT CAST(date_trunc('week', ts) AS DATE) AS event_week,
         |       count(DISTINCT user_id) AS wau
         |FROM events
         |WHERE CAST(date_trunc('week', ts) AS DATE)
         |      BETWEEN CAST(date_trunc('week', TIMESTAMP '$Start') AS DATE)
         |          AND CAST(date_trunc('week', TIMESTAMP '$End') AS DATE)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "sessionize" ->
      s"""$sessionCte
         |SELECT event_id, user_id, epoch_sec,
         |       CAST(is_new AS INT) AS is_new_session,
         |       session_start_sec, session_id
         |FROM sessions ORDER BY event_id""".stripMargin,

    // Exact weekly count + the tolerance boolean; DuckDB cannot compute the
    // sketch, so it asserts the boolean — a Spark-side FALSE (estimate off by
    // more than 5%) hash-mismatches and fails the gate.
    "wau_user_approx" -> wauValidatedOracle,
    "wau_user_sketch_rollup" -> wauValidatedOracle,

    // stream_rate_limit: the batch window-rank quota the streaming replay
    // must reproduce exactly
    "stream_rate_limit" ->
      """WITH ev AS (
        |  SELECT event_id, user_id,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS epoch_sec
        |  FROM events
        |), w AS (
        |  SELECT *, (epoch_sec // 3600) * 3600 AS window_start_sec,
        |         CAST(row_number() OVER (
        |           PARTITION BY user_id, epoch_sec // 3600
        |           ORDER BY epoch_sec, event_id) AS BIGINT) AS rank_in_window
        |  FROM ev
        |)
        |SELECT event_id, user_id, epoch_sec, window_start_sec, rank_in_window
        |FROM w WHERE rank_in_window <= 2
        |ORDER BY event_id""".stripMargin,

    // stream_interval_join_left: the batch LEFT interval join — unmatched
    // views carry NULL purchase columns
    "stream_interval_join_left" ->
      """SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
        |       CAST(floor(epoch(p.ts)) AS BIGINT)
        |         - CAST(floor(epoch(v.ts)) AS BIGINT) AS gap_sec
        |FROM events v LEFT JOIN events p
        |  ON p.user_id = v.user_id AND p.event_type = 'purchase'
        | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
        |WHERE v.event_type = 'view'
        |ORDER BY view_id, purchase_id""".stripMargin,

    // stream_complete_rollup: final complete-mode state == batch rollup
    "stream_complete_rollup" ->
      """SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(user_id) AS BIGINT) AS sum_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // stream_late_audit: the per-hour rollup EXCLUDING the held-back
    // first-window rows (the watermark dropped them; the metric equality
    // rides as a measured law)
    "stream_late_audit" ->
      """WITH ev AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS sec, user_id FROM events
        |), b AS (SELECT (min(sec) // 3600 + 1) * 3600 AS first_end FROM ev)
        |SELECT (sec // 3600) * 3600 AS window_start_sec,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(user_id) AS BIGINT) AS sum_users,
        |       TRUE AS late_rows_present, TRUE AS drops_equal_late
        |FROM ev, b WHERE sec >= first_end
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // stream_interval_join_full: the batch FULL interval join — both
    // sides prefiltered BEFORE the join (matching the streaming legs'
    // pre-watermark filters); the user key coalesces across sides
    "stream_interval_join_full" ->
      """SELECT v.event_id AS view_id, p.event_id AS purchase_id,
        |       coalesce(v.user_id, p.user_id) AS user_id,
        |       CAST(floor(epoch(p.ts)) AS BIGINT)
        |         - CAST(floor(epoch(v.ts)) AS BIGINT) AS gap_sec
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') v
        |FULL JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
        |  ON p.user_id = v.user_id
        | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
        |ORDER BY view_id, purchase_id, user_id""".stripMargin,

    // stream_interval_join: the batch interval join the streaming replay
    // must reproduce exactly
    "stream_interval_join" ->
      """SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
        |       CAST(floor(epoch(p.ts)) AS BIGINT)
        |         - CAST(floor(epoch(v.ts)) AS BIGINT) AS gap_sec
        |FROM events v JOIN events p
        |  ON p.user_id = v.user_id
        | AND v.event_type = 'view' AND p.event_type = 'purchase'
        | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
        |ORDER BY view_id, purchase_id""".stripMargin,

    "wau_session" ->
      s"""$sessionCte
         |SELECT CAST(date_trunc('week', ts) AS DATE) AS event_week,
         |       count(DISTINCT session_id) AS wau
         |FROM sessions
         |WHERE CAST(date_trunc('week', ts) AS DATE)
         |      BETWEEN CAST(date_trunc('week', TIMESTAMP '$Start') AS DATE)
         |          AND CAST(date_trunc('week', TIMESTAMP '$End') AS DATE)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "session_stats" ->
      s"""$sessionCte
         |SELECT user_id, session_id,
         |       count(*) AS n_events,
         |       min(epoch_sec) AS start_sec,
         |       max(epoch_sec) AS end_sec,
         |       max(epoch_sec) - min(epoch_sec) AS duration_sec,
         |       round(sum(value), 2) AS sum_value
         |FROM sessions
         |GROUP BY user_id, session_id
         |ORDER BY user_id, session_id""".stripMargin,

    "sessionize_split" ->
      s"""$sessionCte
         |SELECT event_id, user_id, epoch_sec, session_id
         |FROM sessions ORDER BY event_id""".stripMargin,

    // interval_overlap_pairs: the NAIVE theta self-join over the same
    // session intervals — the binned route must reproduce it exactly;
    // the plan-shape law is measured Spark-side
    "interval_overlap_pairs" ->
      s"""$sessionCte, st AS (
         |  SELECT user_id, session_id,
         |         min(epoch_sec) AS s, max(epoch_sec) AS e
         |  FROM sessions GROUP BY user_id, session_id
         |)
         |SELECT a.user_id AS user_a, b.user_id AS user_b,
         |       count(*) AS n_overlaps,
         |       CAST(sum(least(a.e, b.e) - greatest(a.s, b.s)) AS BIGINT)
         |         AS sum_overlap_sec,
         |       TRUE AS no_cartesian
         |FROM st a JOIN st b
         |  ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e
         |GROUP BY a.user_id, b.user_id
         |ORDER BY user_a, user_b""".stripMargin,

    // session_paths: identical ordered concat per session, censused; the
    // top-k tiebreak (count DESC, path ASC) is total, so LIMIT is stable
    "session_paths" ->
      s"""$sessionCte, p AS (
         |  SELECT session_id,
         |         string_agg(event_type, '>' ORDER BY epoch_sec, event_id) AS path
         |  FROM sessions GROUP BY session_id
         |)
         |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
         |FROM p GROUP BY path
         |ORDER BY n_sessions DESC, path
         |LIMIT 20""".stripMargin,

    // session_window_stats / stream_session_window: the native operator's
    // merge rule at raw event-time precision — split when the micros gap
    // reaches 300 s exactly; window end = last event + gap. ONE replay for
    // both the batch aggregation and the watermarked streaming replay (the
    // stream==batch discipline: identical oracle, identical hash)
    "session_window_stats" -> sessionWindowSql,
    "stream_session_window" -> sessionWindowSql,

    // stream_sliding_wau: the batch sliding_wau oracle verbatim — the
    // chained streaming aggregation must reproduce it bit-for-bit
    "stream_sliding_wau" -> QueriesRelational.oracleSql("sliding_wau"),

    // stream_enrich_static: the dim rebuilt relationally, joined, rolled
    // up per (day, tier) — the streaming enrich must reproduce it exactly
    "stream_enrich_static" ->
      """WITH dim AS (
        |  SELECT user_id,
        |         CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 5
        |                THEN 'high'
        |              WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 1
        |                THEN 'mid'
        |              ELSE 'none' END AS tier
        |  FROM events GROUP BY user_id
        |)
        |SELECT CAST(e.ts AS DATE) AS day, d.tier,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM events e JOIN dim d USING (user_id)
        |GROUP BY 1, 2 ORDER BY day, tier""".stripMargin,

    // stream_recovery: the batch daily rollup — a row lost at the restart
    // breaks the hash low, a row re-emitted breaks it high; the two
    // restart laws are measured Spark-side
    "stream_recovery" ->
      """SELECT CAST(ts AS DATE) AS day, user_id,
        |       CAST(count(*) AS BIGINT) AS n,
        |       TRUE AS interrupted_midstream,
        |       TRUE AS no_duplicate_emissions
        |FROM events
        |GROUP BY 1, 2 ORDER BY day, user_id""".stripMargin,

    // stream_recovery_join: the batch interval join again — a join row
    // lost or doubled across the restart breaks the hash; restart laws
    // measured Spark-side
    "stream_recovery_join" ->
      """SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
        |       CAST(floor(epoch(p.ts)) AS BIGINT)
        |         - CAST(floor(epoch(v.ts)) AS BIGINT) AS gap_sec,
        |       TRUE AS interrupted_midstream,
        |       TRUE AS no_duplicate_emissions
        |FROM events v JOIN events p
        |  ON p.user_id = v.user_id
        | AND v.event_type = 'view' AND p.event_type = 'purchase'
        | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
        |ORDER BY view_id, purchase_id""".stripMargin,

    // stream_recovery_sessionize: the batch sessionize oracle again — a
    // session split differently across the restart breaks the hash;
    // restart laws measured Spark-side
    "stream_recovery_sessionize" ->
      s"""$sessionCte
         |SELECT event_id, user_id, epoch_sec,
         |       CAST(is_new AS INT) AS is_new_session,
         |       session_start_sec, session_id,
         |       TRUE AS interrupted_midstream,
         |       TRUE AS no_duplicate_emissions
         |FROM sessions ORDER BY event_id""".stripMargin,

    // Identical to the batch sessionize oracle on purpose: the streaming
    // replay must reproduce batch sessionization bit-for-bit.
    "stream_sessionize" ->
      s"""$sessionCte
         |SELECT event_id, user_id, epoch_sec,
         |       CAST(is_new AS INT) AS is_new_session,
         |       session_start_sec, session_id
         |FROM sessions ORDER BY event_id""".stripMargin
  )

  private lazy val sessionWindowSql: String =
      """WITH lagged AS (
        |  SELECT user_id, ts, value, epoch_us(ts) AS us,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_us
        |  FROM events
        |), flagged AS (
        |  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us >= 300000000
        |                 THEN 1 ELSE 0 END AS is_new
        |  FROM lagged
        |), sess AS (
        |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
        |                              ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged
        |)
        |SELECT user_id, min(us) AS start_us, max(us) + 300000000 AS end_us,
        |       count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, start_us""".stripMargin
}
