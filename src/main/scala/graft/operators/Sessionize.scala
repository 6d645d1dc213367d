package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Inactivity-gap sessionization.
  *
  * Reference semantics (`/root/reference/src/main/scala/transformer/DataLoadTransformer.scala:57-81`):
  * per user, events ordered by timestamp; a row starts a NEW session iff it is
  * the user's first row or `unix_timestamp(cur) - unix_timestamp(prev) >= gap`
  * (whole-second truncation, `>=` boundary). The reference mints session ids
  * with a non-deterministic UUID UDF (`DataLoadTransformer.scala:60` — a retry
  * hazard it never marks `.asNondeterministic()`); we instead derive a
  * DETERMINISTIC id `user_id#<epoch-second of session start>`, which is unique
  * per session (consecutive session starts are >= gap seconds apart), stable
  * under task retries, batch-split invariant, and oracle-testable.
  *
  * Scale notes (100 TB): the lag, the new-session flag and the forward-fill
  * all share ONE window spec (partitionBy user ordered by ts), so Catalyst
  * plans a single hashpartitioning(user_id) exchange + one sort — no extra
  * shuffles. Per-user data is small (bounded by a user's event history), so
  * window state fits executor memory; skewed power-users are bounded by
  * `spark.sql.windowExec.buffer.spill.threshold` spilling, and AQE skew
  * handling covers the exchange.
  */
object Sessionize {

  /** Columns appended: `epoch_sec`, `prev_epoch_sec`, `is_new_session`,
    * `session_start_sec`, `session_id`.
    */
  def sessionize(
      df: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      tieBreakCol: String = "event_id",
      gapSeconds: Long = 300L): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieBreakCol))
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("epoch_sec", unix_timestamp(col(tsCol)))
      .withColumn("prev_epoch_sec", lag(col("epoch_sec"), 1).over(w))
      .withColumn(
        "is_new_session",
        col("prev_epoch_sec").isNull ||
          (col("epoch_sec") - col("prev_epoch_sec") >= gapSeconds))
      // epoch_sec is non-decreasing in window order, so a running max of the
      // session-start seconds is an exact forward-fill (same effect as the
      // reference's last(col, ignoreNulls) over rowsBetween(unboundedPreceding, 0)).
      .withColumn(
        "session_start_sec",
        max(when(col("is_new_session"), col("epoch_sec"))).over(running))
      .withColumn(
        "session_id",
        concat_ws("#", col(userCol), col("session_start_sec")))
  }

  /** Per-session rollup: event count, duration, value sum. */
  def sessionStats(
      df: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      tieBreakCol: String = "event_id",
      valueCol: String = "value",
      gapSeconds: Long = 300L): DataFrame = {
    sessionize(df, userCol, tsCol, tieBreakCol, gapSeconds)
      .groupBy(col(userCol), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("epoch_sec")).as("start_sec"),
        max(col("epoch_sec")).as("end_sec"),
        (max(col("epoch_sec")) - min(col("epoch_sec"))).as("duration_sec"),
        round(sum(col(valueCol)), 2).as("sum_value"))
  }

  /** Top navigation paths: each session's ordered event-type sequence
    * joined with `>` and counted across sessions — the path-analysis
    * rollup behind "what do users actually do in a session". Ordering is
    * the sessionizer's own deterministic `(epoch_sec, event_id)` tiebreak,
    * applied INSIDE the row (`array_sort` over the collected structs), so
    * the result never depends on `collect_list`'s arrival order and no
    * extra window pass is needed.
    *
    * Scale shape: one session-keyed aggregation collapses events to paths
    * (bounded by session length — cap upstream if sessions can run
    * unbounded), then a map-side-combined census over the path space and a
    * deterministic top-k (`count DESC, path ASC`).
    */
  def sessionPaths(
      df: DataFrame,
      k: Int = 20,
      userCol: String = "user_id",
      tsCol: String = "ts",
      tieBreakCol: String = "event_id",
      typeCol: String = "event_type",
      gapSeconds: Long = 300L): DataFrame = {
    sessionize(df, userCol, tsCol, tieBreakCol, gapSeconds)
      .groupBy(col("session_id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(
            col("epoch_sec"), col(tieBreakCol), col(typeCol)))),
          x => x.getField(typeCol)),
        ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(k)
  }

  /** Cross-batch session continuity
    * (`DataLoadTransformer.scala:94-159` — `replaceWithExistingSessionId`).
    *
    * `tail` is the previously-loaded data's boundary slice (each user's rows
    * within `gapSeconds` before the new batch starts), carrying its stored
    * `session_start_sec`. A user's FIRST event in the new batch continues
    * their existing open session when the gap from that user's last prior
    * event is `< gapSeconds`; it then inherits the existing session start, so
    * ids are identical to what a single-batch sessionization of the full
    * stream would produce (the split-invariance property tested in
    * SessionizeSpec).
    *
    * One window pass over `batch ∪ tail`: tail rows are flagged and seed the
    * running max with their stored start, so `lag` reaches a user's last tail
    * event from the first batch row and the max carries the open session's
    * start forward; the tail rows are then dropped. Precondition: per user,
    * every tail row orders before every batch row by `(ts, tieBreak)` — true
    * of any tail cut before the batch's start. Unlike [[sessionize]], a
    * continuing user's first batch row gets the tail event's epoch as
    * `prev_epoch_sec` instead of null.
    *
    * Scale: the union is hash-partitioned by user into
    * `spark.sql.shuffle.partitions` partitions — an explicit count, which AQE
    * does not coalesce — so the window runs on every core; the tail adds only
    * `gapSeconds` of wall-clock rows to that one exchange.
    */
  def sessionizeWithContinuity(
      batch: DataFrame,
      tail: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      tieBreakCol: String = "event_id",
      gapSeconds: Long = 300L): DataFrame = {
    val running = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieBreakCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = tail.select(
      col(userCol), col(tsCol), col(tieBreakCol),
      lit(true).as("__tail"), col("session_start_sec").as("__tail_start"))
    val union = batch.withColumn("__tail", lit(false))
      .unionByName(carried, allowMissingColumns = true)
      .repartition(batch.sparkSession.sessionState.conf.numShufflePartitions, col(userCol))
    sessionize(union, userCol, tsCol, tieBreakCol, gapSeconds)
      // tail rows seed the running max with their stored start
      .withColumn(
        "session_start_sec",
        max(when(col("__tail"), col("__tail_start"))
          .when(col("is_new_session"), col("epoch_sec"))).over(running))
      .withColumn(
        "session_id",
        concat_ws("#", col(userCol), col("session_start_sec")))
      .where(!col("__tail"))
      .drop("__tail", "__tail_start")
  }
}
