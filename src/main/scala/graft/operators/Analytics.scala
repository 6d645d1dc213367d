package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classic user-activity analytics beyond the reference's WAU pair
  * (`UserIdBaseWauTransformer.scala:20-40` is the precedent surface):
  * weekly retention cohorts and an ordered event funnel. Both are
  * all-integer designs (counts, epoch seconds, ppm ratios via floor
  * division on nonnegative operands) so the DuckDB oracle replays them
  * bitwise.
  *
  * Scale shapes:
  *  - [[retentionCohorts]] is ONE user-keyed shuffle (the per-user week
  *    set — bounded by the window length in weeks, not by activity) plus
  *    one aggregation over the tiny (cohort_week, offset) key space
  *    (map-side combined); the cohort-size join broadcasts a
  *    weeks-not-users sized frame. No (user × week) distinct shuffle, no
  *    self-join on the events table.
  *  - [[funnelSteps]] chains per-step conditional mins: step k joins the
  *    step-k events (type filter pushed to the scan) against the step-k-1
  *    reach frame ON THE SAME user key — every shuffle in the chain
  *    partitions by user, so AQE/bucketing co-locates them; each step then
  *    collapses to one count row. S steps cost S filtered passes, the
  *    standard funnel shape, independent of corpus width.
  */
object Analytics {

  /** Daily resample with forward-fill — time-series regularization: the
    * event stream becomes one row per `(user, calendar day)` over
    * `[startDate, endDate]`, carrying the day's event count (0 on gap
    * days) and the user's last purchase value AS OF that day's end,
    * carried across gap days by forward-fill. The spine join is what
    * separates this from a plain daily rollup: models and feature stores
    * need the GAPS to exist as rows.
    *
    * Scale shape: one user-keyed window pass for the running carry, a
    * `(user, day)` GROUP BY for the end-of-day collapse (map-side combined
    * `max_by` — narrower than a windowed pass and independent of any
    * group-constancy argument), a broadcast nested-loop against the day
    * spine (a literal ~31-row frame — the cross join is days-sized, never
    * data-sized), and one user-keyed window for the across-days fill. Every
    * shuffle partitions by the user key; the spine inflates rows by at most
    * `|users| × days`, linear in the user population.
    *
    * The event schema is parameterized in full (`idCol` breaks same-second
    * ordering ties, `typeCol`/`valueCol`/`fillType` define the carried
    * measure) — defaults match the `events` test table.
    */
  def resampleDaily(
      events: DataFrame,
      userCol: String,
      tsCol: Column,
      startDate: String,
      endDate: String,
      idCol: String = "event_id",
      typeCol: String = "event_type",
      valueCol: String = "value",
      fillType: String = "purchase"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wRun = Window.partitionBy(col(userCol)).orderBy(tsCol, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // carry is forward-filled within the user, so the day's LAST row (by
    // ts, id) carries the end-of-day value — max_by picks exactly that row
    val eod = events
      .withColumn(
        "carry",
        last(when(col(typeCol) === fillType, col(valueCol)), ignoreNulls = true)
          .over(wRun))
      .withColumn("day", to_date(tsCol))
      .groupBy(col(userCol).as("user_id"), col("day"))
      .agg(
        max_by(col("carry"), struct(tsCol, col(idCol))).as("eod_carry"),
        count(lit(1)).as("n_events"))
    val spine = events.select(col(userCol).as("user_id")).distinct()
      .crossJoin(broadcast(
        events.sparkSession.range(1).select(
          explode(sequence(
            lit(startDate).cast("date"), lit(endDate).cast("date"),
            expr("interval 1 day"))).as("day"))))
    spine.join(eod, Seq("user_id", "day"), "left_outer")
      .select(
        col("user_id"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        last(col("eod_carry"), ignoreNulls = true)
          .over(Window.partitionBy(col("user_id")).orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("carry_value"),
        (coalesce(col("n_events"), lit(0L)) === 0L).as("is_gap"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Weekly retention cohort matrix: users bucketed by their FIRST active
    * week (the cohort), then for every later week the count still active,
    * the cohort size, and the retention ratio in integer ppm
    * (`n_active * 1e6 div cohort_size` — floor division, nonneg operands,
    * so Spark `div` and DuckDB `//` agree exactly). `week_offset` is
    * `datediff(week, cohort_week) div 7`, exact because both dates are
    * week-truncated.
    */
  def retentionCohorts(events: DataFrame, userCol: String, tsCol: Column): DataFrame = {
    val perUser = events
      .select(col(userCol).as("u"), to_date(date_trunc("week", tsCol)).as("week"))
      .groupBy(col("u"))
      .agg(collect_set(col("week")).as("weeks"))
      .select(array_min(col("weeks")).as("cohort_week"), explode(col("weeks")).as("week"))
    val cells = perUser
      .groupBy(
        col("cohort_week"),
        expr("CAST(datediff(week, cohort_week) div 7 AS BIGINT)").as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
    // every user is active in their own cohort week, so offset 0 IS the size
    val sizes = cells.where(col("week_offset") === 0)
      .select(col("cohort_week"), col("n_active").as("cohort_size"))
    cells
      .join(broadcast(sizes), Seq("cohort_week"))
      .select(
        col("cohort_week"), col("week_offset"), col("n_active"), col("cohort_size"),
        expr("n_active * 1000000 div cohort_size").as("retention_ppm"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Ordered event funnel: a user reaches step k when an event of step k's
    * type exists AT OR AFTER the second they reached step k-1 (whole-second
    * epoch comparison — the sessionize time base). Returns one row per step
    * with the reach count and conversion vs step 1 in integer ppm.
    */
  def funnelSteps(
      events: DataFrame,
      userCol: String,
      tsCol: Column,
      typeCol: Column,
      steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnelSteps: at least one step required")
    val ev = events.select(
      col(userCol).as("u"), typeCol.as("et"),
      floor(unix_timestamp(tsCol)).cast("long").as("sec"))
    // reach frames: (u, t) = earliest second the user completed the prefix
    val reaches = steps.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (step, _)) =>
        val mine = ev.where(col("et") === step)
        Some(prev match {
          case None => mine.groupBy(col("u")).agg(min(col("sec")).as("t"))
          case Some(r) =>
            mine.join(r.select(col("u"), col("t").as("prev_t")), Seq("u"))
              .where(col("sec") >= col("prev_t"))
              .groupBy(col("u")).agg(min(col("sec")).as("t"))
        })
    }.flatten
    val counts = reaches.zip(steps).zipWithIndex.map { case ((r, name), i) =>
      r.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1L).as("step"), lit(name).as("step_name"), col("n_users"))
    }.reduce(_ unionByName _)
    val first = counts.where(col("step") === 1L).select(col("n_users").as("n_first"))
    counts
      .crossJoin(broadcast(first))
      .select(
        col("step"), col("step_name"), col("n_users"),
        expr("n_users * 1000000 div n_first").as("conv_ppm"))
      .orderBy(col("step"))
  }

  /** Deadline-bounded funnel: like [[funnelSteps]], but step k must occur
    * within `withinSec` whole seconds of reaching step k-1 — "checkout
    * within an hour of the click", the conversion-window form product
    * analytics actually reports (an unbounded funnel credits conversions
    * that took a month). Same per-step conditional-min chain and scale
    * shape; only the join predicate gains the upper bound.
    *
    * SEMANTICS (greedy earliest-reach, stated deliberately): step k's reach
    * time is the earliest occurrence within the window of the chain's ONE
    * earliest step-(k-1) reach time — the chain never restarts from a later
    * step-(k-1) occurrence. A user whose first step-(k-1) reach misses the
    * deadline is NOT credited even if a later step-(k-1) occurrence would
    * put step k inside the window (e.g. view@t0, view@t0+5000s,
    * click@t0+5100s with withinSec=3600 counts as no conversion). This
    * UNDERCOUNTS relative to any-sequence funnel semantics; it is the
    * fixed-anchor form ("from the user's FIRST qualifying touch") and the
    * one the oracle replays bitwise. For the per-occurrence chain-restart
    * form, use [[funnelStepsWithinAny]].
    */
  def funnelStepsWithin(
      events: DataFrame,
      userCol: String,
      tsCol: Column,
      typeCol: Column,
      steps: Seq[String],
      withinSec: Long): DataFrame = {
    require(steps.nonEmpty, "funnelStepsWithin: at least one step required")
    require(withinSec > 0, s"funnelStepsWithin: withinSec must be positive, got $withinSec")
    val ev = events.select(
      col(userCol).as("u"), typeCol.as("et"),
      floor(unix_timestamp(tsCol)).cast("long").as("sec"))
    val reaches = steps.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (step, _)) =>
        val mine = ev.where(col("et") === step)
        Some(prev match {
          case None => mine.groupBy(col("u")).agg(min(col("sec")).as("t"))
          case Some(r) =>
            mine.join(r.select(col("u"), col("t").as("prev_t")), Seq("u"))
              .where(col("sec") >= col("prev_t") &&
                col("sec") <= col("prev_t") + withinSec)
              .groupBy(col("u")).agg(min(col("sec")).as("t"))
        })
    }.flatten
    val counts = reaches.zip(steps).zipWithIndex.map { case ((r, name), i) =>
      r.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1L).as("step"), lit(name).as("step_name"), col("n_users"))
    }.reduce(_ unionByName _)
    val first = counts.where(col("step") === 1L).select(col("n_users").as("n_first"))
    counts
      .crossJoin(broadcast(first))
      .select(
        col("step"), col("step_name"), col("n_users"),
        expr("n_users * 1000000 div n_first").as("conv_ppm"))
      .orderBy(col("step"))
  }

  /** ANY-SEQUENCE deadline funnel — the per-occurrence chain-restart form
    * [[funnelStepsWithin]]'s greedy anchor deliberately is not: an event
    * QUALIFIES at step k iff it is of step k's type and lies within
    * `withinSec` of ANY qualifying step-(k-1) occurrence (view@t0,
    * view@t0+5000s, click@t0+5100s with withinSec=3600 now converts via
    * the second view). A user is counted at step k when any qualifying
    * step-k event exists, so per-step counts dominate the greedy form's
    * pointwise.
    *
    * Scale shape: one LEFT SEMI join per funnel step, each equi-keyed on
    * the user (hash/sort-merge on the shuffle key; the deadline bound is
    * a residual predicate, never a cartesian), and the qualifying set at
    * step k never exceeds step k's own event count. Steps are a short
    * static list, so the chain is a fixed-depth plan, not iteration.
    */
  def funnelStepsWithinAny(
      events: DataFrame,
      userCol: String,
      tsCol: Column,
      typeCol: Column,
      steps: Seq[String],
      withinSec: Long): DataFrame = {
    require(steps.nonEmpty, "funnelStepsWithinAny: at least one step required")
    require(withinSec > 0,
      s"funnelStepsWithinAny: withinSec must be positive, got $withinSec")
    val ev = events.select(
      col(userCol).as("u"), typeCol.as("et"),
      floor(unix_timestamp(tsCol)).cast("long").as("sec"))
    val quals = steps.scanLeft(Option.empty[DataFrame]) { case (prev, step) =>
      val mine = ev.where(col("et") === step).select(col("u"), col("sec"))
      Some(prev match {
        case None => mine
        case Some(q) =>
          val p = q.select(col("u").as("pu"), col("sec").as("prev_sec"))
          mine.join(p,
            col("u") === col("pu") &&
              col("sec") >= col("prev_sec") &&
              col("sec") <= col("prev_sec") + withinSec,
            "left_semi")
      })
    }.flatten
    val counts = quals.zip(steps).zipWithIndex.map { case ((q, name), i) =>
      q.agg(countDistinct(col("u")).as("n_users"))
        .select(lit(i + 1L).as("step"), lit(name).as("step_name"), col("n_users"))
    }.reduce(_ unionByName _)
    val first = counts.where(col("step") === 1L).select(col("n_users").as("n_first"))
    counts
      .crossJoin(broadcast(first))
      .select(
        col("step"), col("step_name"), col("n_users"),
        expr("n_users * 1000000 div n_first").as("conv_ppm"))
      .orderBy(col("step"))
  }

  /** Two-proportion z-test (pooled), decided in EXACT integer arithmetic —
    * the A/B readout ("did variant B convert better, significantly?") with
    * no floating-point in the verdict. With per-group trials `n` and
    * successes `x`, the pooled z² statistic
    *
    *   z² = (x₁n₂ − x₂n₁)² · N / (n₁ n₂ x (N−x)),  N = n₁+n₂, x = x₁+x₂
    *
    * rearranges the significance test `z² > crit²` to the cross-multiplied
    * integer inequality
    *
    *   (x₁n₂ − x₂n₁)² · N · 10⁴  >  crit²·10⁴ · n₁ n₂ x (N−x)
    *
    * evaluated on `decimal(38,0)` products. The products fit 38 digits for
    * counts to ~10⁶ per side unconditionally and to ~10⁸ for moderate
    * effect sizes; past that the left product can overflow (decimal
    * multiply → null under non-ANSI), so the verdict falls back to the
    * IEEE-double z² — at magnitudes where overflow is reachable the effect
    * is so large the double verdict is unambiguous, and the exact integer
    * path (and the bitwise-replay guarantee) covers every marginal case.
    * The output carries the exact counts, rate ppms, and the boolean
    * verdict. crit²·10⁴ = 38416 is z=1.96 (95%, two-sided).
    *
    * Scale shape: one map-side-combined aggregation to the two group rows,
    * then constant-size arithmetic.
    */
  def abZTest(
      events: DataFrame,
      groupCol: Column,
      successCol: Column,
      critSq1e4: Long = 38416L): DataFrame = {
    val g = events
      .groupBy(groupCol.cast("long").as("grp"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(successCol, 1L).otherwise(0L)).as("x"))
    // a miscoded split column must fail LOUDLY, not return an empty frame
    // — and the check must not cost a second corpus scan (it did in r11:
    // a separate chk action re-ran the upstream scan+aggregate, doubling
    // the operator). The grouped frame has one row per distinct split
    // value, so ONE bounded three-row fetch both materializes the sane
    // {0, 1} counts and proves any miscoding; the counts then ride back
    // as literals — the downstream arithmetic is constant-size either way.
    val rows = g.limit(3).collect()
    val keys = rows.map(r => if (r.isNullAt(0)) "null" else r.getLong(0).toString)
    require(rows.length == 2 && keys.sorted.sameElements(Array("0", "1")),
      s"abZTest: group column must carry ONLY values 0 and 1, each with rows; " +
        s"found groups {${keys.sorted.mkString(", ")}}" +
        (if (rows.length > 2) " (and more)" else "") + " (miscoded split column?)")
    val byGrp = rows.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val ((n1v, x1v), (n2v, x2v)) = (byGrp(0L), byGrp(1L))
    val d = (c: Column) => c.cast("decimal(38,0)")
    events.sparkSession.range(1).select(
      lit(n1v).as("n1"), lit(x1v).as("x1"),
      lit(n2v).as("n2"), lit(x2v).as("x2")).select(
      col("n1"), col("x1"), col("n2"), col("x2"),
      expr("x1 * 1000000 div n1").as("rate1_ppm"),
      expr("x2 * 1000000 div n2").as("rate2_ppm"),
      {
        val bigN = d(col("n1")) + d(col("n2"))
        val x = d(col("x1")) + d(col("x2"))
        val diff = d(col("x1")) * d(col("n2")) - d(col("x2")) * d(col("n1"))
        val exact = diff * diff * bigN * d(lit(10000L)) >
          d(lit(critSq1e4)) * d(col("n1")) * d(col("n2")) * x * (bigN - x)
        val dd = (c: Column) => c.cast("double")
        val dDiff = dd(col("x1")) * dd(col("n2")) - dd(col("x2")) * dd(col("n1"))
        val dN = dd(col("n1")) + dd(col("n2"))
        val dX = dd(col("x1")) + dd(col("x2"))
        val zSqDouble = dDiff * dDiff * dN /
          (dd(col("n1")) * dd(col("n2")) * dX * (dN - dX))
        // decimal overflow (non-ANSI) nulls `exact`; only reachable at
        // magnitudes where the double verdict cannot be marginal
        coalesce(exact, zSqDouble > lit(critSq1e4.toDouble / 10000.0))
          .as("significant")
      })
  }

  /** KAPLAN-MEIER LIFE TABLE (right-censored survival analysis — the
    * time-to-event family none of the A/B or funnel operators cover):
    * for each observed duration `t`, the risk set `n_at_risk` (subjects
    * whose duration is ≥ t), events `d_events`, and censorings
    * `c_censored` — ALL EXACT INTEGERS, one groupBy + one bounded
    * window, so the life table itself hash-replays bitwise on any
    * engine. The product-limit estimate rides alongside as
    * `survival_6dp`: the cumulative product `Π (nᵢ−dᵢ)/nᵢ` computed as
    * `exp(Σ ln(…))` over the time-ordered rows — the identical formula
    * the oracle runs, rounded to 6 dp (the float tail is display-grade;
    * the integer columns are the contract, per the house discipline).
    *
    * Scale shape: one map-side-combined groupBy on `t` (distinct
    * durations ≈ dozens), then a window over the DURATION-COUNT rows —
    * the single-partition window is bounded by distinct durations, never
    * by subjects, so a 100 TB corpus still reduces to a life table of a
    * few dozen rows before any per-row window work.
    *
    * @param durations one row per subject
    * @param tCol      non-negative integral duration (days, steps, …)
    * @param eventCol  1 = the event occurred at `t`, 0 = right-censored
    */
  def kaplanMeier(
      durations: DataFrame, tCol: Column, eventCol: Column): DataFrame = {
    val byT = durations
      .select(tCol.cast("long").as("t"), eventCol.cast("long").as("ev"))
      .where(col("t").isNotNull && col("t") >= 0L)
      .groupBy(col("t"))
      .agg(
        count(lit(1)).as("n_t"),
        sum(col("ev")).as("d_events"),
        sum(lit(1L) - col("ev")).as("c_censored"))
    // risk set at t = everyone still under observation: total minus all
    // subjects whose duration ended strictly before t
    val wAsc = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    byT
      .withColumn("n_at_risk",
        sum(col("n_t")).over(wAll) - coalesce(
          sum(col("n_t")).over(wAsc) - col("n_t"), lit(0L)))
      // from the first time every subject at risk has the event the
      // product-limit is exactly 0 (`log(0)` is null and the running sum
      // would skip it)
      .withColumn("survival_6dp",
        when(min(col("n_at_risk") - col("d_events")).over(wAsc) === 0L, lit(0.0))
          .otherwise(round(exp(sum(
            log((col("n_at_risk") - col("d_events")).cast("double") /
              col("n_at_risk").cast("double"))).over(wAsc)), 6)))
      // Nelson-Aalen cumulative hazard: Σ dᵢ/nᵢ — the additive
      // counterpart of the product-limit, same float discipline
      .withColumn("cumhaz_6dp",
        round(sum(col("d_events").cast("double") /
          col("n_at_risk").cast("double")).over(wAsc), 6))
      .select(col("t"), col("n_at_risk"), col("d_events"),
        col("c_censored"), col("survival_6dp"), col("cumhaz_6dp"))
  }

  /** LOG-RANK TEST (Mantel-Cox) — "do two survival curves differ?", the
    * hypothesis-test companion of [[kaplanMeier]] and the time-to-event
    * analog of [[abZTest]]: at every pooled event time, group 1's
    * observed events are compared against the expectation under the
    * null (events distribute proportionally to the at-risk split), and
    * the standardized squared deviation is χ²₁-distributed. Inputs to
    * every term (risk sets, event counts) are EXACT INTEGERS from one
    * groupBy + a duration-count-bounded window; the O/E/variance sums
    * run the IDENTICAL double formula in both engines (the
    * [[kaplanMeier]] float discipline), rounded to 6 dp, with
    * `significant` = χ² > 3.8415 (α = 0.05, 1 df).
    *
    * The group column must carry ONLY 0 and 1 — any other value fails
    * LOUDLY through a raise_error-wrapped output column (no second
    * corpus scan; the house guard discipline).
    *
    * Output: one row per group — subjects, observed events, expected
    * events — with the shared χ² and verdict on both rows.
    */
  def logRankTest(
      durations: DataFrame,
      tCol: Column,
      eventCol: Column,
      groupCol: Column): DataFrame = {
    val base = durations.select(
      tCol.cast("long").as("t"), eventCol.cast("long").as("ev"),
      groupCol.cast("long").as("grp"))
      .where(col("t").isNotNull && col("t") >= 0L)
    val byT = base
      .withColumn("bad",
        when(col("grp").isNull || !col("grp").isin(0L, 1L), 1L).otherwise(0L))
      .groupBy(col("t"))
      .agg(
        count(lit(1)).as("n_t"),
        sum(when(col("grp") === 1L, 1L).otherwise(0L)).as("n1_t"),
        sum(col("ev")).as("d"),
        sum(when(col("grp") === 1L, col("ev")).otherwise(0L)).as("d1"),
        sum(col("bad")).as("bad_t"))
    val wAsc = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val lt = byT
      .withColumn("n",
        sum(col("n_t")).over(wAll) - coalesce(
          sum(col("n_t")).over(wAsc) - col("n_t"), lit(0L)))
      .withColumn("n1",
        sum(col("n1_t")).over(wAll) - coalesce(
          sum(col("n1_t")).over(wAsc) - col("n1_t"), lit(0L)))
    val d = (c: Column) => c.cast("double")
    val one = lt.agg(
      sum(col("bad_t")).as("n_bad"),
      sum(col("n_t")).as("subj_all"),
      sum(col("n1_t")).as("subj_1"),
      sum(col("d") - col("d1")).as("o0"),
      sum(col("d1")).as("o1"),
      sum(d(col("d")) * d(col("n1")) / d(col("n"))).as("e1"),
      sum(d(col("d"))).as("d_all"),
      sum(when(col("n") > 1L,
        d(col("d")) * (d(col("n1")) / d(col("n"))) *
          (lit(1.0) - d(col("n1")) / d(col("n"))) *
          (d(col("n")) - d(col("d"))) / (d(col("n")) - 1.0))
        .otherwise(0.0)).as("v"))
    val chi2 = when(col("v") > 0.0,
      (d(col("o1")) - col("e1")) * (d(col("o1")) - col("e1")) / col("v"))
    one.select(
      col("n_bad"), col("subj_all"), col("subj_1"),
      col("o0"), col("o1"), col("e1"), col("d_all"), col("v"),
      round(chi2, 6).as("chi2_6dp"),
      coalesce(chi2 > lit(3.8415), lit(false)).as("significant"))
      .select(explode(array(
        struct(lit(0L).as("grp"), (col("subj_all") - col("subj_1")).as("n_subjects"),
          col("o0").as("observed"),
          round(col("d_all") - col("e1"), 6).as("expected_6dp"),
          col("chi2_6dp"), col("significant"), col("n_bad")),
        struct(lit(1L).as("grp"), col("subj_1").as("n_subjects"),
          col("o1").as("observed"),
          round(col("e1"), 6).as("expected_6dp"),
          col("chi2_6dp"), col("significant"), col("n_bad")))).as("r"))
      .select(
        col("r.grp").as("grp"),
        col("r.n_subjects").as("n_subjects"),
        col("r.observed").as("observed"),
        col("r.expected_6dp").as("expected_6dp"),
        col("r.chi2_6dp").as("chi2_6dp"),
        // the miscoded-group guard rides the output column: evaluating
        // any row of a polluted frame fails loudly, no extra action
        when(col("r.n_bad") > 0L,
          raise_error(concat(lit("logRankTest: group column must carry ONLY 0 and 1; "),
            col("r.n_bad").cast("string"), lit(" offending rows"))).cast("boolean"))
          .otherwise(col("r.significant")).as("significant"))
  }

  /** Time-decayed engagement score per key: each event contributes
    * `value · 2^(−age_weeks)` with `age_weeks = (asOfDay − day(ts)) div 7`
    * — integer exponents of two, so the weights are EXACT binary fractions
    * and the double sum replays bitwise across engines (a continuous decay
    * `e^(−λΔt)` would put transcendental rounding in the hash path; halving
    * per week is the standard recency-weighting discipline made exact).
    *
    * One map-side weight multiply + one key-grouped sum.
    */
  def decayScore(
      events: DataFrame,
      keyCol: String,
      tsCol: Column,
      valueCol: Column,
      asOfDate: String): DataFrame = {
    // clamp future-dated events (clock skew, bad ingest) to age 0: a
    // negative age would EXPONENTIATE instead of decay and one skewed row
    // would silently dominate the key's score
    val dd = greatest(
      datediff(lit(asOfDate).cast("date"), to_date(tsCol)), lit(0))
    val ageWeeks = ((dd - pmod(dd, lit(7))) / lit(7)).cast("double")
    events
      .where(valueCol.isNotNull)
      .select(
        col(keyCol),
        (valueCol * pow(lit(2.0), -ageWeeks)).as("w"))
      .groupBy(col(keyCol))
      .agg(round(sum(col("w")), 6).as("decay_score"))
      .orderBy(col(keyCol))
  }

  /** Rolling RANGE-frame aggregate over a per-key daily series — "customer's
    * trailing 7-day spend as of each active day", the as-of rolling feature
    * every feature store materializes. The frame is a true RANGE frame over
    * integer epoch-days (`RANGE BETWEEN days-1 PRECEDING AND CURRENT ROW`),
    * so calendar GAPS shrink the window — a ROWS frame would silently count
    * the last N *orders* instead of the last N *days*, which is the classic
    * rolling-window bug this operator exists to avoid.
    *
    * Scale shape: one `(key, day)` map-side-combined pre-aggregation (the
    * series is days-per-key sized, not orders-sized), then ONE window pass
    * partitioned by key ordered by epoch-day — running frame sums, no
    * self-join, no spine inflation. Money stays decimal through both sums
    * and lands in double only at the output boundary.
    */
  def rollingRangeRevenue(
      orders: DataFrame,
      keyCol: String,
      dateCol: Column,
      amountCol: Column,
      days: Int = 7): DataFrame = {
    require(days >= 1, s"rollingRangeRevenue: days must be >= 1, got $days")
    import org.apache.spark.sql.expressions.Window
    val daily = orders
      .groupBy(col(keyCol).as("key"), to_date(dateCol).as("day"))
      .agg(
        sum(amountCol.cast("decimal(18,2)")).as("day_rev"),
        count(lit(1)).as("n_orders"))
      .withColumn("epoch_day", datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
    val w = Window.partitionBy(col("key")).orderBy(col("epoch_day"))
      .rangeBetween(-(days - 1L), Window.currentRow)
    daily.select(
      col("key").as(keyCol), col("day"),
      col("day_rev").cast("double").as("day_revenue"),
      sum(col("n_orders")).over(w).as("n_orders_roll"),
      sum(col("day_rev")).over(w).cast("double").as("revenue_roll"))
      .orderBy(col(keyCol), col("day"))
  }

  /** First-order Markov transition matrix over per-user event sequences:
    * `(from_type, to_type)` counts plus row-normalized probabilities in
    * integer ppm (`n * 1e6 div n_from` — floor division on nonnegative
    * operands, bitwise across engines). The input order is `(ts, id)` — the
    * sessionizer's deterministic tiebreak — so the lead pairing is unique.
    *
    * Scale shape: ONE user-keyed window pass builds the pairs (the only
    * data-sized shuffle), then two map-side-combined aggregations over the
    * |event types|² key space; the per-from totals come from a window over
    * the already-tiny counts frame, not a second scan.
    */
  def eventTransitions(
      events: DataFrame,
      userCol: String,
      tsCol: Column,
      typeCol: Column,
      idCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = events
      .select(col(userCol), typeCol.as("from_type"), tsCol.as("__ts"), idCol.as("__id"))
      .withColumn("to_type", lead(col("from_type"), 1).over(
        Window.partitionBy(col(userCol)).orderBy(col("__ts"), col("__id"))))
      .where(col("to_type").isNotNull)
    pairs
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_from",
        sum(col("n")).over(Window.partitionBy(col("from_type"))))
      .select(
        col("from_type"), col("to_type"), col("n"),
        expr("n * 1000000 div n_from").as("p_ppm"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Sliding-window active-user counts — the 7-day-window / 1-day-slide
    * rolling DAU/WAU dashboards draw. Uses Spark's native sliding
    * `window(ts, windowDur, slideDur)` (epoch-aligned starts, end
    * exclusive): each event lands in `window/slide` overlapping windows and
    * the distinct-key count runs per window.
    *
    * Scale shape: the slide EXPLODES each row into `window/slide` window
    * assignments before the distinct aggregation — that ×7 inflation is
    * inherent to exact sliding distinct counts; at 100 TB the serving path
    * swaps `countDistinct` for per-(day) HLL sketches unioned per window
    * ([[Wau.wauSketchRollup]] is exactly that rollup shape), keeping the
    * exact variant for backfill/CI. Output rows are windows, not events.
    */
  def slidingActiveUsers(
      events: DataFrame,
      keyCol: String,
      tsCol: Column,
      windowDays: Int = 7,
      slideDays: Int = 1): DataFrame = {
    require(windowDays % slideDays == 0,
      s"slidingActiveUsers: windowDays ($windowDays) must be a multiple of slideDays ($slideDays)")
    events
      .select(
        window(tsCol, s"$windowDays days", s"$slideDays days").as("w"),
        col(keyCol))
      .select(
        to_date(col("w.start")).as("window_start"),
        to_date(col("w.end")).as("window_end"),
        col(keyCol))
      .groupBy(col("window_start"), col("window_end"))
      .agg(countDistinct(col(keyCol)).as("active_users"))
      .orderBy(col("window_start"))
  }

  /** Week-over-week growth per group: each `(group, week)` volume beside
    * the previous week's and the growth rate in SIGNED integer ppm —
    * `(n − prev) · 1e6 div prev`. Spark's `div` and DuckDB's `//` both
    * TRUNCATE toward zero (verified: DuckDB `-3 // 2 = -1`, Java/Spark
    * integral division likewise), so negative growth replays bitwise too —
    * the one place the repo's "floor division on nonnegative operands"
    * rule meets signed operands, safe because the engines share the
    * truncation convention. First weeks (no predecessor) emit NULL growth
    * rather than a fake 0 — the [[anomalyZscore]] honesty rule.
    *
    * Scale shape: one `(group, week)` map-side-combined rollup, then one
    * window pass over the weeks-per-group-sized series. The dashboard
    * staple next to [[anomalyZscore]]'s alarm.
    */
  def wowGrowth(events: DataFrame, group: Column, tsCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    events
      .groupBy(group.as("grp"), to_date(date_trunc("week", tsCol)).as("week"))
      .agg(count(lit(1)).as("n"))
      .withColumn("prev_n",
        lag(col("n"), 1).over(Window.partitionBy(col("grp")).orderBy(col("week"))))
      .select(
        col("grp"), col("week"), col("n"), col("prev_n"),
        expr("(n - prev_n) * 1000000 div prev_n").as("growth_ppm"))
      .orderBy(col("grp"), col("week"))
  }

  /** Rolling z-score anomaly flags over a per-group daily count series —
    * the volume-monitoring alarm every ingestion pipeline runs ("did
    * source X suddenly triple / drop to nothing today?").
    *
    * Each `(group, day)` count is compared against the TRAILING `window`
    * days (excluding the current day — the day under test must not dilute
    * its own baseline). The flag fires iff `(x - mean)² > z² · var`, but
    * evaluated in EXACT integer space: with `s = Σxᵢ`, `q = Σxᵢ²` over the
    * n trailing days, mean `s/n` and population variance `(n·q − s²)/n²`
    * rearrange the test to
    *
    *   `(n·x − s)² > z² · (n·q − s²)`
    *
    * — all integer products of daily counts, so no sqrt, no doubles, and
    * the DuckDB oracle replays it bitwise (`z` is an integer literal,
    * z = 3 by convention). Days with an incomplete trailing window
    * (`n_window < window`) emit `is_anomaly = NULL`: a 2-day-old series
    * has no baseline, and silently flagging (or silently passing) it is
    * the kind of lie a monitoring system must not tell. A zero-variance
    * window flags any deviation (`n·q = s²` makes the RHS 0), which is the
    * correct reading: after 7 identical days, any change is anomalous.
    *
    * Scale shape: the daily rollup is one `(group, day)` map-side-combined
    * aggregation; the rolling stats are ONE window pass partitioned by
    * group ordered by day — frame-bounded running sums, no self-join, no
    * spine inflation (gap days are absent from the series and therefore
    * absent from the baseline; feed [[resampleDaily]]-style zero-filled
    * frames if calendar gaps must count as zeros).
    */
  def anomalyZscore(
      events: DataFrame,
      group: Column,
      tsCol: Column,
      window: Int = 7,
      z: Int = 3): DataFrame = {
    require(window >= 2, s"anomalyZscore: window must be >= 2, got $window")
    require(z >= 1, s"anomalyZscore: z must be >= 1, got $z")
    val daily = events
      .groupBy(group.as("grp"), to_date(tsCol).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp"))
      .orderBy(col("day"))
      .rowsBetween(-window, -1)
    daily
      .withColumn("n_window", count(col("n")).over(w))
      .withColumn("s", sum(col("n")).over(w))
      .withColumn("q", sum(col("n") * col("n")).over(w))
      .select(
        col("grp"), col("day"), col("n"), col("n_window"),
        when(col("n_window") < window, lit(null).cast("boolean"))
          .otherwise {
            val dev = col("n_window") * col("n") - col("s")
            val varN2 = col("n_window") * col("q") - col("s") * col("s")
            dev * dev > lit(z.toLong * z) * varN2
          }.as("is_anomaly"))
      .orderBy(col("grp"), col("day"))
  }

  /** LAST-TOUCH revenue attribution: every conversion is credited to the
    * most recent PRECEDING touch event (`touchTypes`) of the same user
    * inside `windowSec`, or to `"unattributed"` when none qualifies — the
    * standard marketing-attribution rollup, and the forward-fill cousin of
    * [[funnelStepsWithin]]'s deadline chain.
    *
    * One window pass per user (`last(_, ignoreNulls)` over the strictly-
    * preceding frame — the [[graft.operators.Sessionize]] forward-fill
    * shape), one aggregation keyed by the touch type: no self-join of the
    * event log against itself, which is the naive O(touches × conversions)
    * formulation this operator exists to avoid at 100 TB. Revenue sums in
    * exact integer CENTS (`floor(value·100)`), so the rollup replays
    * bit-for-bit cross-engine regardless of aggregation order.
    *
    * Ties: the frame orders by (ts, idCol) and excludes the current row,
    * so a touch at the conversion's own timestamp attributes only if its
    * id sorts earlier — deterministic and mirrored in the oracle.
    *
    * Output: (channel, n_conversions, revenue_cents), one row per touch
    * type that won at least one attribution (+ `"unattributed"`).
    */
  def lastTouchAttribution(
      events: DataFrame,
      userCol: String,
      tsCol: Column,
      typeCol: Column,
      idCol: Column,
      touchTypes: Seq[String],
      convType: String,
      windowSec: Long,
      valueCol: Column = col("value")): DataFrame = {
    require(touchTypes.nonEmpty, "lastTouchAttribution: at least one touch type required")
    require(windowSec > 0, s"lastTouchAttribution: windowSec must be positive, got $windowSec")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol)).orderBy(tsCol, idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(typeCol.isin(touchTypes: _*),
      struct(unix_timestamp(tsCol).as("t_sec"), typeCol.as("t_type")))
    val attributed = events
      .withColumn("__lt", last(touch, ignoreNulls = true).over(w))
      .where(typeCol === convType)
      .withColumn("channel",
        when(col("__lt").isNull ||
            unix_timestamp(tsCol) - col("__lt.t_sec") > windowSec, "unattributed")
          .otherwise(col("__lt.t_type")))
    attributed
      .groupBy(col("channel"))
      .agg(
        count(lit(1)).as("n_conversions"),
        sum(floor(valueCol * 100).cast("long")).as("revenue_cents"))
      .orderBy(col("channel"))
  }

  /** LINEAR MULTI-TOUCH ATTRIBUTION — every qualifying touch inside the
    * lookback window shares the conversion's value EQUALLY, the
    * complement of [[lastTouchAttribution]]'s winner-take-all. Exact
    * conservation by construction: with `n` touches each gets
    * `cents div n` and the LAST touch (latest ts, id tiebreak) absorbs
    * the remainder, so per-conversion credit sums to the conversion's
    * cents bit-for-bit — a double `1/n` split would not conserve and
    * could not be hashed across engines. Zero-touch conversions credit
    * `unattributed` in full, keeping the channel rollup a partition of
    * total revenue.
    *
    * Scale shape: one user-keyed equi-join (conversions × touches; the
    * window bound is a residual predicate on the hash join, never a
    * cartesian), one per-conversion window for the touch count + last
    * flag, one channel rollup. Fan-out per conversion is its in-window
    * touch count — the lookback bounds it.
    */
  def linearAttribution(
      events: DataFrame,
      userCol: String,
      tsCol: Column,
      typeCol: Column,
      idCol: Column,
      touchTypes: Seq[String],
      convType: String,
      windowSec: Long,
      valueCol: Column = col("value")): DataFrame = {
    require(touchTypes.nonEmpty, "linearAttribution: at least one touch type required")
    require(windowSec > 0, s"linearAttribution: windowSec must be positive, got $windowSec")
    import org.apache.spark.sql.expressions.Window
    val conv = events.where(typeCol === convType).select(
      col(userCol).as("u"), idCol.as("conv_id"),
      unix_timestamp(tsCol).as("ct"),
      floor(valueCol * 100).cast("long").as("cents"))
    val touch = events.where(typeCol.isin(touchTypes: _*)).select(
      col(userCol).as("tu"), typeCol.as("tch"),
      unix_timestamp(tsCol).as("tt"), idCol.as("touch_id"))
    val joined = conv.join(touch,
      col("u") === col("tu") && col("tt") <= col("ct") &&
        col("ct") - col("tt") <= windowSec,
      "left")
    val w = Window.partitionBy(col("conv_id"))
    val wrk = Window.partitionBy(col("conv_id"))
      .orderBy(col("tt").desc, col("touch_id").desc)
    joined
      .withColumn("n", count(col("touch_id")).over(w))
      .withColumn("rk", row_number().over(wrk))
      .withColumn("channel",
        when(col("n") === 0L, lit("unattributed")).otherwise(col("tch")))
      .withColumn("credit",
        when(col("n") === 0L, col("cents")).otherwise(
          expr("cents div n") +
            when(col("rk") === 1L, col("cents") - expr("cents div n") * col("n"))
              .otherwise(0L)))
      .groupBy(col("channel"))
      .agg(
        countDistinct(col("conv_id")).as("n_conversions"),
        sum(col("credit")).as("credit_cents"))
      .orderBy(col("channel"))
  }

  /** Cohen's kappa inter-annotator agreement between two boolean raters —
    * the label-quality gate a supervised-data pipeline runs before
    * trusting (or paying for) an annotation batch: raw agreement
    * corrected for the agreement two independent raters with these
    * marginals would reach by chance.
    *
    * EXACT integer arithmetic throughout (the ab_ztest discipline): with
    * contingency counts n00/n01/n10/n11, n = Σ, agree = n00 + n11 and
    * chance mass pe_raw = (n00+n01)(n00+n10) + (n10+n11)(n01+n11),
    *
    *   kappa = (po − pe) / (1 − pe) = (n·agree − pe_raw) / (n² − pe_raw)
    *
    * — one integer rational, emitted as signed ppm via `div` (truncation
    * matches the oracle's `//`), NULL when the denominator is 0 (a
    * degenerate single-cell table has no chance-corrected agreement).
    * ONE aggregate pass, one row out; at corpus scales where n² · 10⁶
    * approaches 2⁶³ (n ≳ 10⁶ rows — always at 100 TB), the counts must be
    * cast to decimal(38,0) first; [[cohenKappa]] does so unconditionally,
    * the products stay exact, and `div` returns the integral quotient.
    */
  def cohenKappa(df: DataFrame, raterA: Column, raterB: Column): DataFrame =
    df.select(raterA.cast("boolean").as("a"), raterB.cast("boolean").as("b"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("n00"),
        sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("n01"),
        sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("n10"),
        sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("n11"))
      .select(
        col("n"), col("n00"), col("n01"), col("n10"), col("n11"),
        expr("CAST((n00 + n11) * CAST(1000000 AS DECIMAL(38,0)) div n AS BIGINT)")
          .as("po_ppm"),
        expr("""CAST(((n00 + n01) * CAST(n00 + n10 AS DECIMAL(38,0))
                      + (n10 + n11) * CAST(n01 + n11 AS DECIMAL(38,0))) * 1000000
                     div (n * CAST(n AS DECIMAL(38,0))) AS BIGINT)""")
          .as("pe_ppm"),
        expr("""CAST((n * CAST(n00 + n11 AS DECIMAL(38,0))
                      - ((n00 + n01) * CAST(n00 + n10 AS DECIMAL(38,0))
                         + (n10 + n11) * CAST(n01 + n11 AS DECIMAL(38,0)))) * 1000000
                     div nullif(n * CAST(n AS DECIMAL(38,0))
                      - ((n00 + n01) * CAST(n00 + n10 AS DECIMAL(38,0))
                         + (n10 + n11) * CAST(n01 + n11 AS DECIMAL(38,0))), 0) AS BIGINT)""")
          .as("kappa_ppm"))

  /** Reliability (calibration) bins for a scored binary classifier — the
    * diagram a curation pipeline reads before trusting a quality model's
    * scores as sampling weights: per confidence bin, predicted confidence
    * vs empirical positive rate.
    *
    * Scores arrive as EXACT ppm integers (0..10⁶ — the classifier margin
    * mapped through whatever link the caller uses, floored to ppm), so
    * binning (`score_ppm · bins div 10⁶`, top edge clamped) and both
    * per-bin rates are integer-exact and engine-neutral: mean confidence
    * `Σscore div n`, accuracy `n_pos · 10⁶ div n`, and the signed
    * confidence−accuracy gap whose |·|-weighted sum is ECE. ONE
    * map-side-combined aggregate pass; `bins` rows out.
    */
  def calibrationBins(
      df: DataFrame,
      scorePpm: Column,
      label: Column,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"calibrationBins: need >= 2 bins, got $bins")
    df.select(scorePpm.cast("long").as("sp"), label.cast("boolean").as("y"))
      .withColumn("bin", least(lit(bins - 1L), expr(s"sp * $bins div 1000000")))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("y"), 1L).otherwise(0L)).as("n_pos"),
        sum(col("sp")).as("sum_score"))
      .select(
        col("bin"), col("n"), col("n_pos"),
        expr("sum_score div n").as("conf_ppm"),
        expr("n_pos * 1000000 div n").as("acc_ppm"),
        expr("sum_score div n - n_pos * 1000000 div n").as("gap_ppm"))
      .orderBy(col("bin"))
  }

  /** EWMA with halving weights over a bounded lag horizon, decided in EXACT
    * integer arithmetic. The textbook recursive EWMA (`s_t = α·x_t +
    * (1−α)·s_{t−1}`) is an unbounded-history float recurrence no two
    * engines replay bitwise; this is the truncated binary form with α=1/2:
    *
    *   ewma_scaled(t) = Σ_{d=0..H−1} cents(t−d) · 2^(H−1−d)
    *
    * — today's daily total weighs 2^(H−1), yesterday's half that, a value
    * H days back weighs 1, older history weighs 0. Every term is a BIGINT
    * product of exact daily cents and a power of two, so the oracle
    * replays the sum bitwise (the decay_score pow-of-2 discipline; cents
    * via `floor(value·100)` on both engines). `ewma_scaled / 2^H` is the
    * float EWMA a dashboard would plot; the hashed output stays integer.
    *
    * Scale shape: the raw stream first collapses to per-(key, day) cents —
    * one map-side-combined aggregation, the only data-sized shuffle — then
    * the weighted sum is a self-join of that daily frame EQUI-KEYED on the
    * key with the day distance as a residual range predicate, inflating
    * each row by at most `horizonDays` (a constant, default 16). No window
    * trick can express a frame-start-relative weight, but the bounded
    * range join is exactly as shuffle-cheap: both sides partition on the
    * key. At 100 TB the daily frame is |keys|·|days| — already the
    * dashboard's own cardinality.
    */
  def ewmaHalving(
      events: DataFrame,
      keyCol: String,
      tsCol: Column,
      valueCol: Column,
      horizonDays: Int = 16): DataFrame = {
    require(horizonDays >= 1 && horizonDays <= 62,
      s"ewmaHalving: horizonDays must be in [1, 62] (weights are 2^d BIGINTs), got $horizonDays")
    val daily = events
      .where(valueCol.isNotNull)
      .groupBy(
        col(keyCol).as("key"),
        datediff(to_date(tsCol), lit("1970-01-01").cast("date")).cast("long").as("eday"))
      .agg(sum(floor(valueCol * 100).cast("long")).as("cents"))
    val hist = daily.select(
      col("key").as("hkey"), col("eday").as("heday"), col("cents").as("hcents"))
    daily.join(hist,
        col("key") === col("hkey") &&
          col("heday") <= col("eday") &&
          col("heday") > col("eday") - horizonDays.toLong)
      .groupBy(col("key"), col("eday"))
      .agg(
        sum(col("hcents") *
          expr(s"shiftleft(CAST(1 AS BIGINT), CAST(${horizonDays - 1} - (eday - heday) AS INT))")
        ).as("ewma_scaled"),
        count(lit(1)).as("n_terms"))
      .select(
        col("key").as(keyCol),
        expr("date_add(DATE '1970-01-01', CAST(eday AS INT))").as("day"),
        col("ewma_scaled"), col("n_terms"))
      .orderBy(col(keyCol), col("day"))
  }

  /** Seasonal (day-of-week) decomposition, decided in EXACT integer
    * arithmetic — the classical-decomposition shape (trend via centered
    * moving average, seasonal via per-weekday means of the detrended
    * series) with every rational kept as an integer-scaled sum:
    *
    *   trend7sum(t) = Σ_{|d|≤3} x(t+d)      [only where all 7 days exist]
    *   dev(t)       = 7·x(t) − trend7sum(t)  [7× the detrended residual]
    *   seasonal(w)  = Σ_{t: dow(t)=w} dev(t) / (7·n_w)
    *
    * The hashed outputs are the BIGINT sums and counts; the float seasonal
    * lands only as `round(dev_sum / (7·n_days), 6)` — the cross-engine-
    * stable double tail. Edge days (incomplete 7-day window) are excluded
    * rather than padded, and self-report through n_days. Day-of-week is
    * `(eday + 4) mod 7` (1970-01-01 anchor), the same pure-integer
    * expression on both engines.
    *
    * Scale shape: raw events collapse to per-(series, day) counts first
    * (one map-side-combined shuffle, the only data-sized one); the
    * centered window is a RANGE frame over the daily frame; the weekday
    * aggregation runs over |series|·|days| rows into |series|·7 out.
    */
  def seasonalDow(
      events: DataFrame,
      seriesCol: Column,
      tsCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .groupBy(
        seriesCol.as("series"),
        datediff(to_date(tsCol), lit("1970-01-01").cast("date")).cast("long").as("eday"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy(col("series")).orderBy(col("eday"))
      .rangeBetween(-3L, 3L)
    daily
      .withColumn("t7", sum(col("x")).over(w))
      .withColumn("n7", count(col("x")).over(w))
      .where(col("n7") === 7L)
      .select(
        col("series"), ((col("eday") + 4L) % 7L).as("dow"),
        (col("x") * 7L - col("t7")).as("dev"))
      .groupBy(col("series"), col("dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("dev")).as("dev_sum"))
      .withColumn("seasonal_r6",
        round(col("dev_sum").cast("double") / (col("n_days") * 7L).cast("double"), 6))
      .orderBy(col("series"), col("dow"))
  }

  /** Lag-k autocorrelation per series, decided in EXACT integer arithmetic.
    * The ACF estimator r_k = Σ_{t≤n−k}(x_t−m)(x_{t+k}−m) / Σ_t(x_t−m)² has
    * the sample mean m = S/n inside every term; multiplying both sums
    * through by n² clears the rational mean:
    *
    *   num_scaled = Σ (n·x_t − S)(n·x_{t+k} − S)   [pairs t, t+k]
    *   den_scaled = Σ (n·x_t − S)²                  [all t]
    *
    * — every factor is a BIGINT on integer series (daily counts), so both
    * engines replay the sums bitwise; the float ratio is emitted only as
    * `round(num/den, 6)` (cross-engine-stable double rounding). Pairing is
    * by CALENDAR day distance (t+k means k days later, not k rows later),
    * so gapped series self-report through n_pairs rather than silently
    * mispairing.
    *
    * Scale shape: raw events collapse to per-(series, day) counts first
    * (one map-side-combined shuffle); n and S come from a window over the
    * series partition of that daily frame; the lag pairing is a self-join
    * EQUI-KEYED on (series, day+k). Everything downstream of the first
    * aggregation is |series|·|days| sized.
    */
  def autocorrLag(
      events: DataFrame,
      seriesCol: Column,
      tsCol: Column,
      lagDays: Int = 7): DataFrame = {
    require(lagDays >= 1, s"autocorrLag: lagDays must be >= 1, got $lagDays")
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .groupBy(
        seriesCol.as("series"),
        datediff(to_date(tsCol), lit("1970-01-01").cast("date")).cast("long").as("eday"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy(col("series"))
    val stats = daily
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s", sum(col("x")).over(w))
      .withColumn("dev", col("n") * col("x") - col("s"))
    val lead = stats.select(
      col("series").as("lseries"), (col("eday") - lagDays.toLong).as("leday"),
      col("dev").as("lead_dev"))
    val num = stats.join(lead,
        col("series") === col("lseries") && col("eday") === col("leday"))
      .groupBy(col("series"))
      .agg(
        sum(col("dev") * col("lead_dev")).as("num_scaled"),
        count(lit(1)).as("n_pairs"))
    val den = stats.groupBy(col("series"))
      .agg(
        sum(col("dev") * col("dev")).as("den_scaled"),
        max(col("n")).as("n_days"))
    num.join(den, Seq("series"))
      .select(
        col("series"), col("n_days"), col("n_pairs"),
        col("num_scaled"), col("den_scaled"),
        round(col("num_scaled").cast("double") / col("den_scaled").cast("double"), 6)
          .as("acf"))
      .orderBy(col("series"))
  }

  /** LINEAR-INTERPOLATION gap fill over the daily spine — the resample
    * [[resampleDaily]]'s forward-fill cannot express: a missing day
    * BETWEEN two observations takes the straight-line value
    * `v0 + (v1 − v0)·(d − d0) div (d1 − d0)`, computed in integer cents
    * with truncating division (Spark `div` and DuckDB `//` both truncate
    * toward zero, negatives included — measured, so the oracle replays
    * bitwise). Days before the first / after the last observation stay
    * NULL: interpolation is defined on the interior only; extrapolation
    * is a modeling decision, not a resample.
    *
    * Scale shape: one `(user, day)` observation collapse (map-side
    * combined `max_by`), the broadcast day-spine inflation (|users| ×
    * days — the [[resampleDaily]] argument), then TWO user-keyed window
    * passes (one backward for the previous anchor, one forward for the
    * next); no self-join of observations, every shuffle on the user key.
    */
  def resampleInterp(
      events: DataFrame,
      userCol: String,
      tsCol: Column,
      startDate: String,
      endDate: String,
      idCol: String = "event_id",
      typeCol: String = "event_type",
      valueCol: String = "value",
      fillType: String = "purchase"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = floor(col(valueCol) * 100).cast("long")
    val obs = events
      .where(col(typeCol) === fillType && col(valueCol).isNotNull)
      .groupBy(col(userCol).as("user_id"), to_date(tsCol).as("day"))
      .agg(max_by(cents, struct(tsCol, col(idCol))).as("obs"))
    val spine = events.select(col(userCol).as("user_id")).distinct()
      .crossJoin(broadcast(
        events.sparkSession.range(1).select(
          explode(sequence(
            lit(startDate).cast("date"), lit(endDate).cast("date"),
            expr("interval 1 day"))).as("day"))))
    val wBack = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFwd = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    spine.join(obs, Seq("user_id", "day"), "left")
      .withColumn("prev_v", last(col("obs"), ignoreNulls = true).over(wBack))
      .withColumn("prev_d",
        last(when(col("obs").isNotNull, col("day")), ignoreNulls = true).over(wBack))
      .withColumn("next_v", first(col("obs"), ignoreNulls = true).over(wFwd))
      .withColumn("next_d",
        first(when(col("obs").isNotNull, col("day")), ignoreNulls = true).over(wFwd))
      .withColumn("filled",
        when(col("obs").isNotNull, col("obs"))
          .when(col("prev_v").isNotNull && col("next_v").isNotNull,
            col("prev_v") +
              expr("(next_v - prev_v) * datediff(day, prev_d) div datediff(next_d, prev_d)")))
      .select(col("user_id"), col("day"), col("obs"), col("filled"))
  }

  /** FUNNEL STEP-LATENCY DISTRIBUTION — "how long does each step take":
    * for every adjacent step pair of the [[funnelSteps]] chain, the
    * EXACT nearest-rank quantiles of `t_k − t_{k−1}` whole seconds
    * across converting users (p50 at rank `(n+1) div 2` — the lower
    * median — and p90 at rank `ceil(0.9·n) = (9n+9) div 10`), plus the
    * truncating integer mean. Nearest-rank on whole seconds keeps every
    * emitted number an exact integer an independent engine reproduces
    * bitwise — the [[abZTest]] arithmetic discipline applied to latency.
    *
    * Scale shape: the reach chain is [[funnelSteps]]'s (per-step
    * user-keyed join + min); the latency rank pass is ONE window over
    * each step's converting-user frame (funnel-depth × converted-users
    * rows, far below corpus size), partitioned by step.
    */
  def funnelStepLatency(
      events: DataFrame,
      userCol: String,
      tsCol: Column,
      typeCol: Column,
      steps: Seq[String]): DataFrame = {
    require(steps.size >= 2, s"funnelStepLatency: need >= 2 steps, got $steps")
    import org.apache.spark.sql.expressions.Window
    val ev = events.select(
      col(userCol).as("u"), typeCol.as("et"),
      floor(unix_timestamp(tsCol)).cast("long").as("sec"))
    val reaches = steps.scanLeft(Option.empty[DataFrame]) { case (prev, step) =>
      val mine = ev.where(col("et") === step)
      Some(prev match {
        case None => mine.groupBy(col("u")).agg(min(col("sec")).as("t"))
        case Some(r) =>
          mine.join(r.select(col("u"), col("t").as("prev_t")), Seq("u"))
            .where(col("sec") >= col("prev_t"))
            .groupBy(col("u")).agg(min(col("sec")).as("t"))
      })
    }.flatten
    val lats = reaches.zip(reaches.tail).zip(steps.zip(steps.tail)).zipWithIndex
      .map { case (((prev, cur), (from, to)), i) =>
        cur.join(prev.select(col("u"), col("t").as("prev_t")), Seq("u"))
          .select(
            lit(i + 1L).as("step"),
            lit(s"$from->$to").as("transition"),
            (col("t") - col("prev_t")).as("lat"))
      }
      .reduce(_ unionByName _)
    // rank ties order arbitrarily, but the VALUE at any rank is the tied
    // latency itself — the emitted quantiles are deterministic
    val w = Window.partitionBy(col("step")).orderBy(col("lat"))
    lats
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("step"))))
      .groupBy(col("step"), col("transition"))
      .agg(
        max(col("n")).as("n_converted"),
        sum(col("lat")).as("sum_lat"),
        max(when(expr("rk = (n + 1) div 2"), col("lat"))).as("p50_sec"),
        max(when(expr("rk = (9 * n + 9) div 10"), col("lat"))).as("p90_sec"))
      .select(
        col("step"), col("transition"), col("n_converted"),
        expr("sum_lat div n_converted").as("mean_sec"),
        col("p50_sec"), col("p90_sec"))
      .orderBy(col("step"))
  }

  /** ITEM CO-OCCURRENCE pair mining over a `(basket, item)` relation —
    * the co-purchase / co-engagement graph behind "customers who bought
    * X also bought Y". The quadratic blow-up lives PER BASKET, so each
    * basket is first capped to its `maxPerBasket` most-engaged items
    * (deterministic rank by count desc, item asc — the standard whale-
    * basket mitigation: one bot account with 10⁵ items would otherwise
    * emit 10¹⁰ pairs); then ONE self-join on the basket key emits
    * ordered pairs (`item_a < item_b`) and a pair-keyed aggregation
    * counts supporting baskets. Pair support is basket-count, not
    * row-count, so multi-buys never inflate it.
    *
    * Scale shape: basket collapse (map-side combined) → one basket-keyed
    * window for the cap → one basket-keyed equi-self-join with fan-out
    * ≤ maxPerBasket² per basket → pair-keyed count. Every shuffle is on
    * the basket or pair key; `minSupport` prunes the long tail before
    * the final sort.
    */
  def coOccurrencePairs(
      rel: DataFrame,
      basketCol: Column,
      itemCol: Column,
      maxPerBasket: Int,
      minSupport: Long): DataFrame = {
    require(maxPerBasket >= 2, s"coOccurrencePairs: maxPerBasket must be >= 2, got $maxPerBasket")
    require(minSupport >= 1L, s"coOccurrencePairs: minSupport must be >= 1, got $minSupport")
    import org.apache.spark.sql.expressions.Window
    val b = rel.groupBy(basketCol.as("bk"), itemCol.as("it"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("bk")).orderBy(col("n").desc, col("it"))
    val capped = b.withColumn("rk", row_number().over(w))
      .where(col("rk") <= maxPerBasket)
      .select(col("bk"), col("it"))
    val left = capped.select(col("bk"), col("it").as("item_a"))
    val right = capped.select(col("bk"), col("it").as("item_b"))
    left.join(right, Seq("bk"))
      .where(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= minSupport)
  }

  /** CUSUM change-point detection over a per-series daily count series —
    * "which day did the rate shift" — in EXACT scaled integers: with
    * `S_i` the cumulative count through the i-th observed day (of `m`
    * days, total `S_m`), the deviation `D_i = m·S_i − i·S_m` is the
    * cumulative-sum statistic scaled by `m` (integral by construction);
    * the change point is the day maximizing `|D_i|`, ties broken to the
    * earliest day. A flat series has all `D_i = 0`; a single level shift
    * puts the maximum exactly at the last day of the old level.
    *
    * Scale shape: one `(series, day)` pre-aggregation (map-side
    * combined) collapses events to day counts, one series-keyed window
    * pass forms the cumulative sums, one series-keyed `max_by` picks the
    * argmax — no self-joins, no per-event windows.
    */
  def changePointCusum(
      events: DataFrame,
      seriesCol: Column,
      tsCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .groupBy(seriesCol.as("series"), to_date(tsCol).as("day"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy(col("series")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("series"))
    val dev = daily
      .withColumn("i", row_number().over(
        Window.partitionBy(col("series")).orderBy(col("day"))))
      .withColumn("s_i", sum(col("x")).over(w))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("s_m", sum(col("x")).over(wAll))
      .withColumn("d", col("m") * col("s_i") - col("i") * col("s_m"))
    dev.groupBy(col("series"))
      .agg(
        max_by(struct(col("day"), col("d")),
          struct(abs(col("d")), lit(-1L) * datediff(col("day"), lit("1970-01-01").cast("date"))))
          .as("pick"),
        max(col("m")).as("n_days"),
        max(col("s_m")).as("n_events"))
      .select(
        col("series"), col("pick.day").as("change_day"),
        col("pick.d").as("dev_scaled"), col("n_days"), col("n_events"))
      .orderBy(col("series"))
  }

  /** EXACT Mann-Whitney U (Wilcoxon rank-sum) over two variant groups —
    * the distribution-free complement of [[abZTest]]'s proportion test:
    * compares the full metric DISTRIBUTIONS, not a success rate, so it
    * catches shifts a mean/rate test misses and ignores outliers a
    * t-test drowns in. All-integer derivation: tie-averaged ranks are
    * half-integers, so the statistic is computed in DOUBLED rank units —
    * the doubled average rank of a value with `below` smaller rows and
    * `t` ties is `2·below + t + 1`, an integer — and
    * `2·U₁ + 2·U₂ = 2·n₁·n₂` rides as the verifiable identity.
    *
    * Scale shape: one `(value)` group-by (map-side combined) collapses
    * the corpus to its distinct metric values, one window pass over that
    * VALUE-COUNT-sized frame assigns doubled ranks, one final aggregate
    * emits the statistics — no per-row ranking shuffle of the corpus.
    */
  def mannWhitneyU(
      events: DataFrame,
      groupCol: Column,
      metricCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = events.select(groupCol.cast("long").as("grp"), metricCol.as("v"))
    val byVal = g.groupBy(col("v")).agg(
      count(lit(1)).as("t"),
      sum(when(col("grp") === 1L, 1L).otherwise(0L)).as("t1"),
      sum(when(col("grp") === 0L, 1L).otherwise(0L)).as("t0"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = byVal
      .withColumn("below", coalesce(sum(col("t")).over(w) - col("t"), lit(0L)))
      .withColumn("dr", lit(2L) * col("below") + col("t") + 1L)
    // the miscoded-split check rides the SAME single-action plan (a
    // separate chk action re-ran the corpus scan+aggregate in r11,
    // doubling the operator): per-value t0 counts fold through the final
    // aggregate, and a raise_error guard on the first output column fires
    // loudly when either variant is empty or any non-0/1 group value
    // (including a null-casting one) appears — one corpus pass total.
    val chkBad =
      coalesce(col("n0r"), lit(0L)) === 0L || coalesce(col("n1"), lit(0L)) === 0L ||
        coalesce(col("n"), lit(0L)) =!= coalesce(col("n0r"), lit(0L)) + coalesce(col("n1"), lit(0L))
    ranked.agg(
        sum(col("t")).as("n"),
        sum(col("t1")).as("n1"),
        sum(col("t0")).as("n0r"),
        sum(col("t1") * col("dr")).as("r1_doubled"),
        sum(col("t0") * col("dr")).as("r0_doubled"))
      .select(
        when(chkBad, raise_error(concat(
            lit("mannWhitneyU: both variant groups (0 and 1) must have rows and no "),
            lit("other group value may appear — group-0 rows="),
            coalesce(col("n0r"), lit(0L)).cast("string"),
            lit(", group-1 rows="), coalesce(col("n1"), lit(0L)).cast("string"),
            lit(", other rows="),
            (coalesce(col("n"), lit(0L)) - coalesce(col("n0r"), lit(0L)) -
              coalesce(col("n1"), lit(0L))).cast("string"),
            lit(" (miscoded split column?)"))).cast("long"))
          .otherwise(col("n") - col("n1")).as("n0"), col("n1"),
        col("r1_doubled"),
        (col("r1_doubled") - col("n1") * (col("n1") + 1L)).as("u1_doubled"),
        (col("r0_doubled") - (col("n") - col("n1")) * (col("n") - col("n1") + 1L))
          .as("u0_doubled"))
      // both U's derive from their OWN rank sums, so the textbook
      // identity U0 + U1 = n0·n1 is a measured property, not a tautology
      .withColumn("identity_holds",
        col("u0_doubled") + col("u1_doubled") === lit(2L) * col("n0") * col("n1"))
  }

  /** EXACT ROC AUC of an integer score against a binary label — the
    * classifier-evaluation identity AUC = U₁/(n₁·n₀): the probability a
    * random positive outranks a random negative, ties at half credit.
    * Pure rank statistic, so it inherits [[mannWhitneyU]]'s all-integer
    * doubled-rank derivation VERBATIM (label is the group) and its scale
    * shape — the corpus collapses to its distinct score values before any
    * ordering touches it. Emitted as the exact pair
    * (`auc_num` = 2·U₁, `auc_den` = 2·n₁·n₀) plus the floor-divided ppm
    * readout (decimal cross-multiply, overflow-safe at any n) and the
    * Gini rescale `2·AUC − 1` in the same ppm units.
    */
  def aucExact(events: DataFrame, labelCol: Column, scoreCol: Column): DataFrame =
    mannWhitneyU(events, labelCol.cast("long"), scoreCol)
      .select(
        col("n0"), col("n1"),
        col("u1_doubled").as("auc_num"),
        (lit(2L) * col("n0") * col("n1")).as("auc_den"),
        col("identity_holds"))
      .withColumn("auc_ppm",
        expr("CAST((CAST(auc_num AS DECIMAL(38,0)) * 1000000) div CAST(auc_den AS DECIMAL(38,0)) AS LONG)"))
      .withColumn("gini_ppm", lit(2L) * col("auc_ppm") - lit(1000000L))

  /** GAPS-AND-ISLANDS over a date column — the classic contiguous-run
    * pattern (`grp = day − row_number` buckets consecutive days into one
    * group), emitted BOTH ways: `island` rows for each maximal run of
    * present days and `gap` rows for each missing run between islands —
    * the backfill planner's input (a gap row IS a backfill job spec) and
    * the freshness auditor's evidence.
    *
    * Scale note: runs are computed over the DISTINCT-day frame, which is
    * calendar-sized (≤ a few thousand rows for years of data) however
    * large the fact table is — the one distinct aggregation is the only
    * data-sized job, and the two ordered windows after it run on the
    * tiny frame, so the unpartitioned window is a calendar-sized sort,
    * not a data-sized one.
    *
    * Output: (kind, start DATE, end DATE, n_days), ordered by start.
    */
  def calendarIslands(df: DataFrame, dateCol: Column): DataFrame = {
    val days = df.select(to_date(dateCol).as("day")).where(col("day").isNotNull).distinct()
    val w = Window.orderBy(col("day"))
    val islands = days
      .withColumn("rn", row_number().over(w))
      .withColumn("grp", expr("date_sub(day, rn)"))
      .groupBy(col("grp"))
      .agg(min(col("day")).as("start"), max(col("day")).as("end"),
        count(lit(1)).as("n_days"))
      .drop("grp")
    val wi = Window.orderBy(col("start"))
    val gaps = islands
      .withColumn("next_start", lead(col("start"), 1).over(wi))
      .where(col("next_start").isNotNull)
      .select(
        lit("gap").as("kind"),
        date_add(col("end"), 1).as("start"),
        date_sub(col("next_start"), 1).as("end"),
        (datediff(col("next_start"), col("end")) - 1L).cast("long").as("n_days"))
    islands.select(lit("island").as("kind"), col("start"), col("end"), col("n_days"))
      .unionByName(gaps)
      .orderBy(col("start"), col("kind"))
  }

  /** TEMPORAL ALLOCATION (proration) of an integer amount across a date
    * span — the revenue-recognition / cost-allocation kernel: each
    * order's cents spread over `spanDays` consecutive days by the
    * LARGEST-REMAINDER rule (`cents div span` per day, the first
    * `cents mod span` days get one extra cent), which is the only
    * allocation that is (a) exact — per-order allocations sum back to
    * the original cents, pinned by the `conservation_ok` column — and
    * (b) engine-neutral (pure integer div/mod, no rounding mode). The
    * day explode is map-side (`spanDays` rows per order, no shuffle
    * before the day rollup); negative amounts prorate symmetrically.
    *
    * Output: one row per (key, day offset) — (key, day DATE, cents,
    * conservation_ok) — plus the caller aggregates as needed.
    */
  def prorateAmount(
      df: DataFrame,
      keyCol: Column,
      dateCol: Column,
      centsCol: Column,
      spanDays: Int): DataFrame = {
    require(spanDays >= 1, s"prorateAmount: spanDays must be >= 1, got $spanDays")
    // floor-division pair: q·span + r = cents with 0 ≤ r < span, exact in
    // integers for negative cents too (pmod is the nonnegative remainder).
    // `div` is SQL INTEGER division — exact over the FULL long range;
    // Column./ would detour through doubles and silently lose exactness
    // past 2^53 even though (cents - r) is exactly divisible.
    val r = pmod(col("cents"), lit(spanDays.toLong))
    val q = expr(s"(cents - pmod(cents, ${spanDays}L)) div ${spanDays}L")
    // conservation is measured per ORDER GROUP (key, day0, cents) so the
    // law holds even when `key` is not unique: a group of n identical
    // orders allocates n·cents across n·span rows, and
    // Σday_cents · span = cents · (rows in group) is the exact integer
    // restatement of per-order conservation.
    val wg = Window.partitionBy(col("key"), col("day0"), col("cents"))
    df.select(
        keyCol.as("key"), to_date(dateCol).as("day0"), centsCol.cast("long").as("cents"))
      .select(col("key"), col("day0"), col("cents"),
        explode(sequence(lit(0), lit(spanDays - 1))).as("i"))
      .select(
        col("key"), col("day0"), col("cents"), col("i"),
        expr("date_add(day0, i)").as("day"),
        (q + when(col("i") < r, 1L).otherwise(0L)).as("day_cents"))
      .withColumn("conservation_ok",
        sum(col("day_cents")).over(wg) * lit(spanDays.toLong) ===
          col("cents") * count(lit(1)).over(wg))
      .select(col("key"), col("day"), col("day_cents"), col("conservation_ok"))
  }

  /** Inverse-CDF thresholds of Poisson(1) truncated at k = 12, scaled by
    * the Lehmer modulus 2³¹−1 — EXACT integers derived from a 30-digit
    * rational approximation of e⁻¹ (the sampler is DEFINED by these
    * literals, so both engines draw identically with zero float
    * involvement; the folded tail mass is ~6e-11). Poisson(1) is the
    * bootstrap's resampling law: the multinomial count of how often one
    * row appears in a resample of n from n converges to Poisson(1) —
    * which is what makes the bootstrap one-pass and distributed (each
    * row draws its own weight independently; no index-addressed
    * resampling).
    */
  private[graft] val PoissonOneThresholds: Seq[(Int, Long)] = Seq(
    0 -> 790015083L, 1 -> 1580030167L, 2 -> 1975037709L, 3 -> 2106706890L,
    4 -> 2139624185L, 5 -> 2146207644L, 6 -> 2147304887L, 7 -> 2147461637L,
    8 -> 2147481230L, 9 -> 2147483407L, 10 -> 2147483625L, 11 -> 2147483645L,
    12 -> 2147483647L)

  /** Lehmer / MINSTD modulus and multiplier — the per-(row, replica) draw
    * is `lehmer(lehmer((seed64 % M + b·1103515245) % M))` with
    * lehmer(x) = x·48271 % M: every product stays under 2^47, so the
    * arithmetic is exact BIGINT in Spark and DuckDB alike. One md5 per
    * ROW seeds the stream; the per-replica fan-out is pure integer
    * mixing — the difference between 15M string hashes and 15M codegen'd
    * multiply-mods in the hot path.
    */
  private[graft] val LehmerM = 2147483647L
  private[graft] val LehmerA = 48271L

  /** POISSON BOOTSTRAP confidence interval for a per-group MEAN — the
    * resampling scheme that works at cluster scale: classic bootstrap
    * resamples by INDEX (n draws from n rows — inherently serial), the
    * Poisson bootstrap gives every (row, replica) an independent
    * Poisson(1) weight from a seeded hash, so the whole thing is ONE
    * explode + ONE map-side-combined aggregation over B·n tiny rows,
    * shuffling only (group, replica) keys. Replica means sort driver-free
    * via rank windows; the interval is the empirical
    * [α/2, 1−α/2] percentile band (integer ranks ⌊α/2·B⌋+1 and
    * ⌈(1−α/2)·B⌉ over B replicas, 1-indexed).
    *
    * Seeded hash weights on purpose (the [[graft.operators.Privacy
    * .dpCounts]] verification discipline): the oracle replays every draw
    * bit-for-bit; production swaps the seed per run. Means ride exact
    * integer (Σw·x, Σw) pairs until one final double division rounded to
    * 6 places — correctly-rounded IEEE in both engines.
    *
    * Output per group: n_rows, mean_obs, B, ci_lo, ci_hi (all means
    * rounded 6).
    */
  def poissonBootstrapCi(
      df: DataFrame,
      groupCol: Column,
      idCol: Column,
      valueCol: Column,
      replicas: Int,
      seed: String,
      alphaPct: Int = 5): DataFrame = {
    require(replicas >= 4, s"poissonBootstrapCi: need >= 4 replicas, got $replicas")
    require(alphaPct >= 1 && alphaPct <= 50, s"alphaPct in [1,50], got $alphaPct")
    val base = df.select(groupCol.as("g"), idCol.cast("string").as("rid"),
      valueCol.cast("long").as("x"))
      // one md5 per ROW (15 hex chars = 60 bits, sign-safe); replicas fan
      // out below with integer mixing only
      .withColumn("seed64",
        conv(substring(md5(concat_ws("|", lit(seed), col("rid"))), 1, 15), 16, 10)
          .cast("long") % LehmerM)
    val rep = base.withColumn("b", explode(expr(s"sequence(0, ${replicas - 1})")))
    val x0 = (col("seed64") + col("b") * lit(1103515245L)) % LehmerM
    def lehmer(c: Column): Column = c * LehmerA % LehmerM
    val h = lehmer(lehmer(x0))
    val w = PoissonOneThresholds.init.foldRight(
        lit(PoissonOneThresholds.last._1): Column) {
      case ((k, t), acc) => when(h < t, lit(k)).otherwise(acc)
    }.cast("long")
    val reps = rep
      .withColumn("w", w)
      .groupBy(col("g"), col("b"))
      .agg(sum(col("w") * col("x")).as("swx"), sum(col("w")).as("sw"))
      // an all-zero-weight replica (vanishing probability past tiny n)
      // contributes a NULL mean, excluded from the percentile band
      .withColumn("m", when(col("sw") > 0,
        round(col("swx").cast("double") / col("sw").cast("double"), 6)))
      .where(col("m").isNotNull)
    val wAsc = Window.partitionBy(col("g")).orderBy(col("m"), col("b"))
    val ranked = reps
      .withColumn("rk", row_number().over(wAsc))
      .withColumn("nb", count(lit(1)).over(Window.partitionBy(col("g"))))
    val loRk = expr(s"CAST(floor(nb * $alphaPct / 200.0) AS BIGINT) + 1")
    val hiRk = expr(s"CAST(ceil(nb * (200 - $alphaPct) / 200.0) AS BIGINT)")
    val band = ranked
      .withColumn("is_lo", col("rk") === loRk)
      .withColumn("is_hi", col("rk") === hiRk)
      .groupBy(col("g"))
      .agg(
        max(when(col("is_lo"), col("m"))).as("ci_lo"),
        max(when(col("is_hi"), col("m"))).as("ci_hi"),
        max(col("nb")).as("n_replicas"))
    val obs = base.groupBy(col("g")).agg(
      count(lit(1)).as("n_rows"),
      round(sum(col("x")).cast("double") / count(lit(1)).cast("double"), 6).as("mean_obs"))
    obs.join(band, Seq("g"))
      .select(col("g"), col("n_rows"), col("mean_obs"),
        col("n_replicas").cast("long").as("n_replicas"),
        col("ci_lo"), col("ci_hi"))
  }

  /** BINNED INTERVAL-OVERLAP self-join — the large×large temporal-overlap
    * shape ("which sessions were concurrent?") that a naive theta join
    * turns into a cartesian product: every interval explodes to the time
    * BINS it covers (integer `div`, bin-count rows ≈ duration/binSec + 1),
    * pairs equi-join ON THE BIN (one hash shuffle, no
    * cartesian/nested-loop anywhere — the plan law the query pins), the
    * true overlap predicate filters bin-coincidences, and `distinct`
    * collapses pairs sharing several bins. Only cross-key pairs surface
    * (`key_a < key_b` — self-overlap of one user's own sessions is
    * definitionally zero under gap sessionization anyway).
    *
    * Bin sizing is the standard trade: ~the typical interval length.
    * Too small → each interval explodes to many bins (row blow-up); too
    * large → many false bin-coincidences for the predicate to discard.
    * Skewed hot bins (a flash-crowd hour) are [[SkewJoin]] territory.
    *
    * Output: (key_a, id_a, key_b, id_b, overlap_start_sec,
    * overlap_end_sec), one row per overlapping pair.
    */
  def overlappingIntervals(
      intervals: DataFrame,
      keyCol: Column,
      idCol: Column,
      startCol: Column,
      endCol: Column,
      binSec: Long): DataFrame = {
    require(binSec >= 1L, s"overlappingIntervals: binSec must be >= 1, got $binSec")
    val iv = intervals.select(
      keyCol.as("key"), idCol.as("id"),
      startCol.cast("long").as("s"), endCol.cast("long").as("e"))
    require(Seq("key", "id", "s", "e").forall(iv.columns.contains), "projection failed")
    val binned = iv.withColumn("bin",
      explode(expr(s"sequence(s div ${binSec}L, e div ${binSec}L)")))
    val a = binned.select(col("bin"), col("key").as("key_a"), col("id").as("id_a"),
      col("s").as("s_a"), col("e").as("e_a"))
    val b = binned.select(col("bin"), col("key").as("key_b"), col("id").as("id_b"),
      col("s").as("s_b"), col("e").as("e_b"))
    a.join(b,
        a("bin") === b("bin") && col("key_a") < col("key_b") &&
          col("s_a") <= col("e_b") && col("s_b") <= col("e_a"))
      .select(
        col("key_a"), col("id_a"), col("key_b"), col("id_b"),
        greatest(col("s_a"), col("s_b")).as("overlap_start_sec"),
        least(col("e_a"), col("e_b")).as("overlap_end_sec"))
      .distinct()
  }

  /** MATCH_RECOGNIZE-lite: REGEX pattern mining over per-key ordered
    * event sequences — the row-pattern-matching class (SQL:2016
    * MATCH_RECOGNIZE, Flink CEP) expressed Spark-first: each key's
    * events collapse to ONE code string (single deterministic char per
    * event type, ordered by (ts, tie) — a total order, so the string is
    * unique), and every named pattern counts its NON-OVERLAPPING
    * leftmost matches with the codegen'd `regexp_count`. Where
    * [[graft.operators.Sessionize.sessionPaths]] censuses exact paths,
    * this matches STRUCTURE — "a view reaching a purchase with anything
    * but a purchase between" is one `v[^p]*p`, inexpressible as a path
    * census and clumsy as a step funnel.
    *
    * ONE user-keyed shuffle; per-key state is that key's event count
    * (the same whale-key caveat as every sequence operator here — at
    * 100 TB, cap per-key events or run per (key, session) instead; both
    * are pre-filters, not algorithm changes). Output: one row per key —
    * (key, seq_len, n_<pattern> per named pattern).
    *
    * @param codes    total event_type → single-char code mapping; an
    *                 unmapped type surfaces as `all_types_mapped = false`
    *                 on its key (a silent gap would corrupt every
    *                 downstream pattern — measured, never assumed)
    * @param patterns (name, Java-regex) pairs over the code alphabet
    */
  def sequencePatterns(
      df: DataFrame,
      keyCol: Column,
      tsCol: Column,
      tieCol: Column,
      typeCol: Column,
      codes: Seq[(String, String)],
      patterns: Seq[(String, String)]): DataFrame = {
    require(codes.nonEmpty && patterns.nonEmpty,
      "sequencePatterns: need codes and at least one pattern")
    require(codes.forall(_._2.length == 1),
      s"sequencePatterns: codes must be single chars, got $codes")
    require(codes.map(_._2).distinct.size == codes.size,
      s"sequencePatterns: code chars must be distinct, got $codes")
    val codeExpr = codes.foldLeft(lit(null).cast("string")) {
      case (acc, (t, c)) => when(typeCol === t, lit(c)).otherwise(acc)
    }
    val seqs = df
      .select(keyCol.as("key"), struct(tsCol.as("ts"), tieCol.as("tie"),
        codeExpr.as("c")).as("ev"))
      .groupBy(col("key"))
      .agg(sort_array(collect_list(col("ev"))).as("evs"))
      .withColumn("seq", concat_ws("", expr("transform(evs, e -> e.c)")))
      // refuse silently-unmapped types: a null code would DROP the char
      // from concat_ws and shift every downstream match
      .withColumn("__n_ev", size(col("evs")))
    val checked = seqs.withColumn("seq_len", length(col("seq")))
      .withColumn("__all_mapped", col("seq_len") === col("__n_ev"))
    val withCounts = patterns.foldLeft(checked) { case (d, (name, pat)) =>
      d.withColumn(s"n_$name", regexp_count(col("seq"), lit(pat)))
    }
    withCounts.select(
      col("key") +: col("seq_len") +: col("__all_mapped").as("all_types_mapped") +:
        patterns.map { case (name, _) => col(s"n_$name") }: _*)
  }
}
