package graft.operators

import java.time.LocalDateTime

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.TableManager

/** The reference's full ETL pipeline re-expressed over the `events` table:
  * sessionize a UTC time-range batch, carry open sessions across batch
  * boundaries (C2, `/root/reference/src/main/scala/transformer/DataLoadTransformer.scala:94-159`),
  * and load into a KST-date-partitioned table with boundary-preserving
  * dynamic partition overwrite (C3, `UserActivityHiveConnector.scala:25-62`).
  *
  * KST (UTC+9, no DST) shifts a UTC batch's tail 9 hours into the NEXT
  * calendar date, so the batch's first/last KST partitions also hold rows
  * owned by the adjacent batches; overwriting those partitions must union the
  * other batch's rows back in or they silently vanish (the reference's
  * README documents this exact hazard). Loads are idempotent: re-running a
  * batch converges to the same table.
  *
  * Scale notes: the continuity tail is bounded by `gapSeconds` of wall-clock
  * data and rides the sessionize window's user exchange. The
  * boundary-preserve reads touch exactly two partitions (pruned via
  * `event_date_kst` equality predicates). The rows to write are then
  * hash-routed by `event_date_kst` into `spark.sql.shuffle.partitions`
  * tasks, so the write runs on every core and each KST partition is
  * written by exactly one task (one file per partition per load).
  */
object EventsEtl {
  val GapSeconds = 300L
  val Zone = "Asia/Seoul"

  val tableSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = true),
    StructField("value", DoubleType, nullable = true),
    StructField("ts", TimestampType, nullable = false),
    StructField("epoch_sec", LongType, nullable = false),
    StructField("session_id", StringType, nullable = false),
    StructField("session_start_sec", LongType, nullable = false),
    StructField("event_date_kst", DateType, nullable = false)))

  def manager(name: String): TableManager =
    new TableManager(name, tableSchema, Seq("event_date_kst"))

  def kstDate(c: Column): Column = to_date(from_utc_timestamp(c, Zone))

  private def parse(s: String): LocalDateTime = LocalDateTime.parse(s.replace(' ', 'T'))
  private def tsLit(t: LocalDateTime): Column =
    to_timestamp(lit(t.toString.replace('T', ' ')))

  /** Sessionize `events` rows with `ts ∈ [startUtc, endUtc)` and load them
    * into `table`, continuing sessions left open by previously loaded batches
    * and preserving adjacent batches' rows in the shared edge partitions.
    */
  def loadBatch(
      spark: SparkSession,
      table: TableManager,
      events: DataFrame,
      startUtc: String,
      endUtc: String): Unit = {
    val start = parse(startUtc)
    val end = parse(endUtc)
    val firstKst = start.plusHours(9).toLocalDate
    val lastKst = end.minusNanos(1000).plusHours(9).toLocalDate
    val lookbackStart = start.minusSeconds(GapSeconds)
    val lookbackKst = lookbackStart.plusHours(9).toLocalDate

    val batch = events.where(col("ts") >= tsLit(start) && col("ts") < tsLit(end))
    val existing = table.read(spark)

    // C2 lookback: each user's trailing rows within the gap window before the
    // batch — kst-date equalities first so only 1–2 partitions are scanned
    // (ref DataLoadTransformer.scala:111-121 / P7 pruning idiom).
    val tail = existing.where(
      col("event_date_kst").isin(lookbackKst.toString, firstKst.toString) &&
        col("ts") >= tsLit(lookbackStart) && col("ts") < tsLit(start))

    val sessionized = Sessionize
      .sessionizeWithContinuity(batch, tail, gapSeconds = GapSeconds)
      .withColumn("event_date_kst", kstDate(col("ts")))

    // C3 boundary preservation: rows of the shared edge partitions owned by
    // the ADJACENT batches, written back so dynamic overwrite can't drop them
    // (ref UserActivityHiveConnector.scala:28-42).
    val preserved = existing.where(
      (col("event_date_kst") === lit(firstKst.toString).cast(DateType) && col("ts") < tsLit(start)) ||
        (col("event_date_kst") === lit(lastKst.toString).cast(DateType) && col("ts") >= tsLit(end)))

    val cols = tableSchema.fieldNames.map(col).toSeq
    table.overwritePartitions(
      spark,
      sessionized.select(cols: _*).unionByName(preserved.select(cols: _*))
        .repartition(spark.sessionState.conf.numShufflePartitions, col("event_date_kst")))
  }

  /** Load a SET of `[start, end)` UTC ranges, grouping them into contiguous
    * runs first (the reference groups requested months the same way —
    * `/root/reference/src/main/scala/connector/hive/UserActivityHiveConnector.scala:44-59`):
    * adjacent ranges (one's end == next's start) merge into a single
    * [[loadBatch]] call, so sessions spanning their boundary are stitched in
    * one pass instead of relying on cross-batch continuity; non-adjacent
    * runs load independently (continuity against whatever the table already
    * holds). Ranges may arrive unsorted; overlapping ranges are rejected —
    * loading the same rows twice within one call would double-write them.
    */
  def loadBatches(
      spark: SparkSession,
      table: TableManager,
      events: DataFrame,
      ranges: Seq[(String, String)]): Unit = {
    val sorted = ranges.map { case (s, e) => (parse(s), parse(e)) }.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Seq((_, e1), (s2, _)) =>
        require(!s2.isBefore(e1), s"overlapping ranges: [..,$e1) and [$s2,..)")
      case _ => ()
    }
    val runs = sorted.foldLeft(List.empty[(LocalDateTime, LocalDateTime)]) {
      case ((rs, re) :: rest, (s, e)) if s == re => (rs, e) :: rest
      case (acc, r) => r :: acc
    }.reverse
    runs.foreach { case (s, e) =>
      loadBatch(spark, table, events, s.toString.replace('T', ' '), e.toString.replace('T', ' '))
    }
  }
}
