package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic relational operator coverage (SURVEY.md §2.2–§2.8) over the
  * TPC-H-ish tables — scans, predicate pushdown, joins of every flavor the
  * reference exercises (plus semi/anti), exact two-phase distinct aggregates,
  * window functions (lag / forward-fill / argmax), union-all folds, top-k,
  * rollup, and the scalar-function surface.
  *
  * Cross-engine typing discipline (driver hash-compares against DuckDB):
  * money math runs on `decimal(18,2)` intermediates (exact, engine-neutral)
  * and every output lands in double/bigint/string/date space — DuckDB's
  * `sum(int) → HUGEINT` and decimal widening rules would otherwise make
  * bit-identical values *look* different.
  *
  * Scale notes: each query is a single Catalyst plan with filters/projections
  * adjacent to the scan (pushed into parquet), joins keyed on the natural
  * keys (sort-merge for fact-fact, broadcast hint for dims), and aggregations
  * that combine map-side. No collects, no driver loops.
  */
object QueriesRelational {

  private def dec(c: Column): Column = c.cast("decimal(18,2)")
  private def d(c: Column): Column = c.cast("double")
  private def ts(s: String): Column = to_timestamp(lit(s))

  /** [[GraftSession.scratch]] for this file's queries (e.g. the streamed
    * daily sketch table `stream_sketch_rollup` rolls up).
    */
  private def scratch(dir: String, name: String): String =
    GraftSession.scratch("relational", dir, name)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── A1 analog: grouped aggregate with exact sums (TPC-H Q1 shape) ──
    "q1_pricing" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") <= ts("1998-12-01 00:00:00"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          d(sum(dec(col("l_quantity")))).as("sum_qty"),
          d(sum(dec(col("l_extendedprice")))).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
          round(d(sum(dec(col("l_quantity")))) / count(lit(1)), 6).as("avg_qty"),
          round(d(sum(dec(col("l_discount")))) / count(lit(1)), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // ── P5/P6 analog: pushed-down range predicates + scalar agg (Q6 shape) ──
    "q6_revenue" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .where(
          col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
          col("l_shipdate") < ts("1998-01-01 00:00:00") &&
          col("l_discount").between(0.04, 0.08) &&
          col("l_quantity") < 24)
        .agg(
          round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
          count(lit(1)).as("n_items"))),

    // ── J1: left outer equi-join + grouped agg ──
    "join_cust_orders" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_mktsegment"))
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          countDistinct(col("c_custkey")).as("n_cust"),
          round(d(sum(dec(col("o_totalprice")))), 2).as("sum_price"))
        .orderBy(col("c_mktsegment"))
    }),

    // ── broadcast dim join: fact × part (explicit broadcast of the dim) ──
    "join_part_brand" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val p = Tables.part(s, dir)
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          d(sum(dec(col("l_quantity")))).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("p_brand"))
    }),

    // ── salted skew join: same relation/semantics as join_part_brand but
    // through SkewJoin.saltedEquiJoin (8 salts on l_orderkey) — result is
    // provably the plain join (oracle is the straightforward SQL), while the
    // hot partkey's rows spread over 8 reducers instead of one straggler ──
    "join_salted_skew" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_partkey").as("partkey"),
        col("l_orderkey"), col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      val p = Tables.part(s, dir).select(col("p_partkey").as("partkey"), col("p_brand"))
      graft.operators.SkewJoin
        .saltedEquiJoin(li, p, "partkey", col("l_orderkey"), salts = 8)
        .groupBy(col("p_brand"))
        .agg(
          d(sum(dec(col("l_quantity")))).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("p_brand"))
    }),

    // ── left-semi join (EXISTS) ──
    "semi_orders_bigqty" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val big = Tables.lineitem(s, dir).where(col("l_quantity") >= 48)
      o.join(big, o("o_orderkey") === big("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    }),

    // ── left-anti join (NOT EXISTS) ──
    "anti_orders_bigqty" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val big = Tables.lineitem(s, dir).where(col("l_quantity") >= 48)
      o.join(big, o("o_orderkey") === big("l_orderkey"), "left_anti")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          round(d(sum(dec(col("o_totalprice")))), 2).as("sum_price"))
        .orderBy(col("o_orderstatus"))
    }),

    // ── SHUFFLE-SKEW DIAGNOSTIC ([[SkewJoin.shuffleSkewReport]]): the
    // pre-flight measurement for the salting decision — reducer load
    // distribution for partition-by-key vs partition-by-(key,salt) on the
    // events stream, as an engine-portable md5 model of hash partitioning.
    // All-integer (bucket counts, max load, imbalance in ppm), replayed
    // bitwise by the oracle. ──
    "shuffle_skew_report" -> ((s, dir) =>
      graft.operators.SkewJoin.shuffleSkewReport(
        Tables.events(s, dir), col("user_id"), col("event_id"),
        nBuckets = 32, salts = 8)),

    // ── BLOOM-PREFILTERED JOIN: the runtime-filter shape for big⋈small at
    // 100 TB — the dim side's keys are folded into a ~KB bitmap
    // ([[graft.functions.BloomFunctions]], Spark's own BloomFilterAggregate)
    // and the fact side is pruned MAP-SIDE before any shuffle/join, so the
    // exchange carries only probable matches (Catalyst's injected runtime
    // filters automate exactly this; here it's explicit and measured). The
    // bitmap can false-positive but never false-negative, so the exact join
    // AFTER the prefilter returns the identical result — which is what the
    // oracle hash proves, plus a `no_false_negatives` law column computed
    // EXACTLY: the count of true join rows (exact semi-join survivors) that
    // FAIL the bloom probe must be zero — a count comparison could be
    // numerically masked by false positives; this one cannot. ──
    "join_bloom_prefilter" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
        .where(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      // bounded model fetch: the ~KB filter bytes become a plan literal
      val bytes = cust
        .agg(graft.functions.BloomFunctions.bloomAgg(col("c_custkey"), 4096L, 0.01))
        .head().getAs[Array[Byte]](0)
      val o = Tables.orders(s, dir)
      val pre = o.where(graft.functions.BloomFunctions.bloomContains(lit(bytes), col("o_custkey")))
      val exactSemi = o.join(broadcast(cust), o("o_custkey") === cust("c_custkey"), "left_semi")
      val law = exactSemi.agg(
        count(lit(1)).as("n_exact_semi"),
        sum(when(
          !graft.functions.BloomFunctions.bloomContains(lit(bytes), col("o_custkey")), 1L)
          .otherwise(0L)).as("n_semi_missed"))
      pre.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sum(col("o_orderkey")).as("sum_orderkey"))
        .crossJoin(broadcast(law))
        .select(
          col("o_orderpriority"), col("n_orders"), col("sum_orderkey"),
          (col("n_semi_missed") === 0L).as("no_false_negatives"),
          col("n_exact_semi"))
        .orderBy(col("o_orderpriority"))
    }),

    // ── U1/U2: positional UNION ALL fold of slice frames ──
    "union_weekly_counts" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val cuts = Seq(
        ("2024-01-01 00:00:00", "2024-01-08 00:00:00"),
        ("2024-01-08 00:00:00", "2024-01-15 00:00:00"),
        ("2024-01-15 00:00:00", "2024-01-22 00:00:00"),
        ("2024-01-22 00:00:00", "2024-02-01 00:00:00"))
      val slices = cuts.map { case (lo, hi) =>
        ev.where(col("ts") >= ts(lo) && col("ts") < ts(hi))
      }
      slices.reduce(_.union(_))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
    }),

    // ── W1: lag over user/time window → inter-event gaps ──
    "window_lag_gaps" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("sec", unix_timestamp(col("ts")))
        .withColumn("gap", col("sec") - lag(col("sec"), 1).over(w))
        .groupBy(col("user_id"))
        .agg(
          count(col("gap")).as("n_gaps"),
          sum(col("gap")).as("sum_gap"),
          round(d(sum(col("gap"))) / count(col("gap")), 6).as("avg_gap"))
        .orderBy(col("user_id"))
    }),

    // ── W2: last(ignoreNulls) forward-fill over running frame ──
    "window_ffill_purchase" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .withColumn(
          "carry",
          last(when(col("event_type") === "purchase", col("value")), ignoreNulls = true).over(w))
        .groupBy(col("user_id"))
        .agg(
          count(col("carry")).as("n_carried"),
          round(sum(col("carry")), 2).as("sum_carry"))
        .orderBy(col("user_id"))
    }),

    // ── W3+P5: per-user argmax (latest event), tie-broken deterministically ──
    "window_argmax_last_event" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
        .orderBy(col("user_id"))
    }),

    // ── beyond-reference: backward as-of join ([[operators.AsofJoin]] —
    // union-sort formulation, one key exchange, no theta-join blow-up):
    // every non-purchase event enriched with the user's latest purchase
    // value at-or-before it; right side pre-aggregated per (user, ts) so
    // ties are deterministic. DuckDB replays with its native ASOF JOIN —
    // two independent as-of implementations hash-matching ──
    "asof_last_purchase" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val views = ev.where(col("event_type") =!= "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("purchase_value"))
      operators.AsofJoin.asofBackward(
        views, purchases, key = "user_id", leftTs = "ts", rightTs = "ts",
        rightVals = Seq("purchase_value"))
        .select(
          col("event_id"), col("user_id"),
          round(col("purchase_value"), 6).as("purchase_value"))
        .orderBy(col("event_id"))
    }),

    // ── FORWARD as-of join ([[operators.AsofJoin.asofForward]]): for each
    // non-purchase event, the user's NEXT purchase within 48 h — the
    // "what happened next" enrichment, same union-sort shape as the
    // backward variant mirrored in time (one keyed exchange, no pair
    // blow-up), with the tolerance nulling matches beyond the horizon ──
    "asof_next_purchase" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val views = ev.where(col("event_type") =!= "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("purchase_value"))
      operators.AsofJoin.asofForward(
        views, purchases, key = "user_id", leftTs = "ts", rightTs = "ts",
        rightVals = Seq("purchase_value"), toleranceSec = Some(48L * 3600))
        .select(
          col("event_id"), col("user_id"),
          round(col("purchase_value"), 6).as("purchase_value"))
        .orderBy(col("event_id"))
    }),

    // ── beyond-reference: binned range join ([[operators.RangeJoin]]) —
    // which events (ANY user's) fall inside the session windows of users
    // 0-4. No equi-key exists, so a naive range predicate is a nested-loop
    // cartesian; binning turns it into an equi-join on the 600 s bin with
    // the exact range re-checked per candidate ──
    "range_join_sessions" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val points = ev.select(col("event_id"), unix_timestamp(col("ts")).as("epoch_sec"))
      val intervals = operators.Sessionize.sessionStats(ev.where(col("user_id") < 5))
        .select(col("session_id"), col("start_sec"), col("end_sec"))
      operators.RangeJoin.pointInInterval(
        points, intervals, pointCol = "epoch_sec",
        startCol = "start_sec", endCol = "end_sec", binWidth = 600L)
        .select(col("event_id"), col("session_id"))
        .orderBy(col("event_id"), col("session_id"))
    }),

    // ── beyond-reference: CUBE lattice aggregate (all four grouping sets) ──
    "cube_pricing" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          d(sum(dec(col("l_quantity")))).as("sum_qty"),
          count(lit(1)).as("n"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    // ── wider window-function surface (beyond the reference's lag/ffill/
    // argmax): lead, rank/dense_rank with deterministic tie-break, ntile,
    // and a 5-minute RANGE-frame sliding sum (decimal intermediate so the
    // frame sum is exact and engine-neutral). One user-key exchange serves
    // the ts-ordered windows; the rank windows re-sort in place ──
    "window_rank_lead" -> ((s, dir) => {
      val ev = Tables.events(s, dir).where(col("user_id") < 30)
        .withColumn("epoch_sec", unix_timestamp(col("ts")))
      val byTime = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      // rank over the ROUNDED value: real ties exist, so rank gaps and the
      // rank/dense_rank distinction are actually exercised (an event_id
      // tie-break would make every row its own peer group and degenerate
      // both to row_number). Deterministic per row even with ties — a row's
      // rank depends only on the key multiset, not on sort order within it.
      val byValue = Window.partitionBy(col("user_id")).orderBy(round(col("value"), 0).desc)
      val last5min = Window.partitionBy(col("user_id")).orderBy(col("epoch_sec"))
        .rangeBetween(-300L, 0L)
      ev.select(
        col("event_id"), col("user_id"),
        lead(col("event_id"), 1).over(byTime).as("next_event_id"),
        rank().over(byValue).cast("long").as("value_rank"),
        dense_rank().over(byValue).cast("long").as("value_dense_rank"),
        ntile(4).over(byTime).cast("long").as("quartile"),
        d(sum(dec(col("value"))).over(last5min)).as("val_5min"))
        .orderBy(col("event_id"))
    }),

    // ── distribution windows: percent_rank + cume_dist over price bands
    // WITH real ties (banded totalprice), completing the window surface
    // next to rank/dense_rank/ntile/lag/lead/range-frames. Both are
    // value-deterministic under ties (a row's result depends only on the
    // key multiset), rounded to 6 for the cross-engine hash ──
    "window_pct_dist" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("price_band").desc)
      Tables.orders(s, dir)
        .where(col("o_custkey") < 100)
        .withColumn("price_band", floor(col("o_totalprice") / lit(100.0)).cast("long"))
        .select(
          col("o_orderkey"), col("o_custkey"), col("price_band"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"))
        .orderBy(col("o_orderkey"))
    }),

    // ── TPC-H Q5 shape: the six-way join (lineitem⋈orders⋈customer⋈
    // supplier⋈nation⋈region) with the co-nationality predicate. Join
    // strategy by size tier: nation⋈region pre-filtered to the target
    // region and BROADCAST (dims, KB-scale at any SF); orders date-filtered
    // before its shuffle join; supplier joined by shuffle because at
    // warehouse SFs it is NOT broadcast-safe. Money math in exact
    // DECIMAL(18,2) like q1/q3, so the sum has no float order noise ──
    "q5_region_volume" -> ((s, dir) => {
      val natAsia = Tables.nation(s, dir)
        .join(
          Tables.region(s, dir).where(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val ord = Tables.orders(s, dir)
        .where(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
          col("o_orderdate") < ts("1997-01-01 00:00:00"))
        .select(col("o_orderkey"), col("o_custkey"))
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(
          Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(
          Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(natAsia), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(d(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))).as("revenue"))
        .orderBy(col("n_name"))
    }),

    // ── ntile / first_value / nth_value window coverage: quartile
    // banding plus whole-partition value picks under an explicit
    // unbounded-both frame (nth_value's default running frame would
    // return NULL for early rows — the classic frame trap, pinned here);
    // the (floor(price) DESC, key) ordering is a total order so every
    // window result is deterministic cross-engine ──
    "window_ntile_nth" -> ((s, dir) => {
      val ord = Window.partitionBy(col("o_orderpriority"))
        .orderBy(floor(col("o_totalprice")).desc, col("o_orderkey"))
      val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, dir)
        .where(col("o_custkey") < 500)
        .select(
          col("o_orderkey"), col("o_orderpriority"),
          floor(col("o_totalprice")).cast("long").as("price_floor"),
          ntile(4).over(ord).cast("long").as("quartile"),
          first(col("o_orderkey")).over(full).as("top_key"),
          nth_value(col("o_orderkey"), 3).over(full).as("third_key"))
        .orderBy(col("o_orderkey"))
    }),

    // ── explicit-values pivot (scale-safe: the value list is declared, so
    // no driver-side distinct pass over the corpus) ──
    "pivot_event_counts" -> ((s, dir) => {
      val types = Seq("signup", "view", "click", "purchase", "error")
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .count()
        .select(
          col("user_id") +: types.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
        .orderBy(col("user_id"))
    }),

    // ── SHUFFLE_HASH join-strategy hint: the 100 TB knob for a build side
    // too big to broadcast but small enough to hash per partition —
    // skips BOTH sort passes a sort-merge join would pay. Results are
    // strategy-invariant (the oracle replays the plain join); PlanSpec
    // pins ShuffledHashJoin in the plan ──
    "join_shuffle_hash" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_extendedprice"))
        .join(
          Tables.orders(s, dir)
            .select(col("o_orderkey"), col("o_orderpriority")).hint("SHUFFLE_HASH"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_items"),
          d(sum(dec(col("l_extendedprice")))).as("revenue"))
        .orderBy(col("o_orderpriority"))),

    // ── Dataset.observe() accounting: named metrics collected DURING a
    // query's own execution (no second scan) — the in-flight row/revenue
    // accounting a production pipeline attaches to every stage. The
    // observed values are re-emitted as a one-row frame the oracle
    // recomputes relationally: a metrics bus that lied would hash-fail ──
    "observe_metrics" -> ((s, dir) => {
      // the CollectMetrics node sits mid-plan: metrics are computed over
      // the rows FLOWING THROUGH it while the downstream one-row
      // aggregate executes — no second scan. The metrics attach to the
      // EXECUTED QueryExecution (running a different action would leave
      // this one's observedMetrics empty).
      val out = Tables.lineitem(s, dir)
        .where(col("l_quantity") >= 25)
        .observe("acct",
          count(lit(1)).as("n_rows"),
          sum(floor(col("l_extendedprice") * 100).cast("long")).as("rev_cents"),
          min(col("l_orderkey")).as("min_key"))
        .groupBy().agg(count(lit(1)).as("n_passed"))
      out.collect()
      val row = out.queryExecution.observedMetrics("acct")
      import s.implicits._
      Seq((row.getAs[Long]("n_rows"), row.getAs[Long]("rev_cents"),
        row.getAs[Long]("min_key")))
        .toDF("n_rows", "rev_cents", "min_key")
    }),

    // ── TPC-H Q11 shape: grouped HAVING against a GLOBAL scalar — brands
    // holding more than 2% of total inventory value; the threshold is an
    // exact-integer cross-multiplication (`brand_cents · 50 > total_cents`)
    // so the boundary brands are bitwise cross-engine, and the scalar
    // plans as a one-row subquery, not a join ──
    "q11_important_brands" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """WITH v AS (
          |  SELECT p_brand,
          |         CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
          |  FROM lineitem JOIN part ON p_partkey = l_partkey
          |  GROUP BY p_brand
          |)
          |SELECT p_brand, cents
          |FROM v
          |WHERE cents * 50 > (SELECT sum(cents) FROM v)
          |ORDER BY cents DESC, p_brand""".stripMargin)
    }),

    // ── exact equi-depth histogram (profiling op): decile buckets over a
    // TOTAL order (value, tie-break key) via ntile, then per-bucket
    // bounds/counts — the distribution summary a table profiler publishes.
    // The global sort is the ground-truth leg; percentile_approx
    // (`quantiles_approx`) is the documented 100 TB route ──
    "hist_equidepth" -> ((s, dir) => {
      val w = Window.orderBy(col("cents"), col("o_orderkey"))
      Tables.orders(s, dir)
        .select(col("o_orderkey"), floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .withColumn("bucket", ntile(10).over(w).cast("long"))
        .groupBy(col("bucket"))
        .agg(
          count(lit(1)).as("n"),
          min(col("cents")).as("lo_cents"),
          max(col("cents")).as("hi_cents"))
        .orderBy(col("bucket"))
    }),

    // ── array-function coverage in one exact query: sequence, slice,
    // zip_with, flatten, array_distinct, sort — every output an integer
    // or integer array fingerprint, so the hash is FP-free ──
    "array_funcs" -> ((s, dir) =>
      Tables.orders(s, dir)
        .where(col("o_orderkey") <= 500)
        .select(
          col("o_orderkey"),
          sequence(lit(1L), pmod(col("o_orderkey"), lit(5L)) + 1L).as("seq"))
        .select(
          col("o_orderkey"),
          size(col("seq")).cast("long").as("n_seq"),
          aggregate(slice(col("seq"), 1, 3), lit(0L), _ + _).as("first3_sum"),
          aggregate(zip_with(col("seq"), col("seq"), (a, b) => a * b),
            lit(0L), _ + _).as("sum_sq"),
          size(array_distinct(flatten(array(col("seq"), col("seq")))))
            .cast("long").as("n_distinct"),
          array_join(transform(sort_array(col("seq"), asc = false),
            x => x.cast("string")), ",").as("desc_str"))
        .orderBy(col("o_orderkey"))),

    // ── null-semantics coverage: three-valued logic made explicit —
    // null-safe equality (<=>), coalesce/nullif, and the count/distinct
    // treatment of injected nulls, all exactly replayable (DuckDB's
    // IS NOT DISTINCT FROM is the <=> twin) ──
    "null_semantics" -> ((s, dir) => {
      val v = when(col("o_orderkey") % 3 === 0, lit(null).cast("long"))
        .otherwise(col("o_orderkey") % 7)
      Tables.orders(s, dir)
        .select(col("o_orderkey"), v.as("v"),
          when(col("o_orderkey") % 5 === 0, lit(null).cast("long"))
            .otherwise(col("o_orderkey") % 7).as("w"))
        .groupBy((col("o_orderkey") % 10).as("grp"))
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("v")).as("n_v"),
          countDistinct(col("v")).as("n_v_distinct"),
          sum(when(col("v") <=> col("w"), 1L).otherwise(0L)).as("n_nullsafe_eq"),
          sum(coalesce(col("v"), lit(-1L))).as("sum_coalesced"),
          sum(when(nullif(col("v"), lit(3L)).isNull, 1L).otherwise(0L)).as("n_nullified"))
        .orderBy(col("grp"))
    }),

    // ── UNPIVOT (melt) coverage: wide metric columns → long (metric,
    // value) form, then a per-metric rollup — the reshape every
    // metrics-collection pipeline runs before storage; value legs cast to
    // one exact decimal type BEFORE the melt (unpivot requires a common
    // type, and doubles would make the sums order-sensitive) ──
    "unpivot_metrics" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          dec(col("l_quantity")).as("quantity"),
          dec(col("l_extendedprice")).as("extendedprice"),
          dec(col("l_discount")).as("discount"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("quantity"), col("extendedprice"), col("discount")),
          "metric", "value")
        .groupBy(col("metric"))
        .agg(
          count(lit(1)).as("n"),
          d(sum(col("value"))).as("total"),
          d(min(col("value"))).as("vmin"),
          d(max(col("value"))).as("vmax"))
        .orderBy(col("metric"))),

    // ── INTERSECT / EXCEPT set semantics (distinct, null-safe) ──
    "set_ops_orders" -> ((s, dir) => {
      val big = Tables.orders(s, dir)
        .where(col("o_totalprice") > 100000).select(col("o_custkey"))
      val fulfilled = Tables.orders(s, dir)
        .where(col("o_orderstatus") === "F").select(col("o_custkey"))
      big.intersect(fulfilled).withColumn("tag", lit("both"))
        .unionByName(big.except(fulfilled).withColumn("tag", lit("big_only")))
        .orderBy(col("o_custkey"), col("tag"))
    }),

    // ── TPC-H q3 shape: fact-fact sort-merge (lineitem ⋈ orders) with a
    // broadcast dim (filtered customer), agg, top-k. Revenue is summed in
    // EXACT decimals so the desc ordering — and therefore the limit — is
    // FP-free and engine-neutral ──
    "q3_shipping" -> ((s, dir) => {
      val cut = ts("1998-06-01 00:00:00")
      val cust = Tables.customer(s, dir)
        .where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val ord = Tables.orders(s, dir)
        .where(col("o_orderdate") < cut)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val li = Tables.lineitem(s, dir)
        .where(col("l_shipdate") > cut)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))).as("rev_exact"))
        .orderBy(col("rev_exact").desc, col("l_orderkey"))
        .limit(10)
        .select(
          col("l_orderkey"),
          to_date(col("o_orderdate")).as("o_orderdate"),
          d(col("rev_exact")).as("revenue"))
    }),

    // ── scalar-subquery shape (orders above the global mean), decorrelated
    // as a broadcast one-row aggregate; the comparison multiplies through
    // by the count so everything stays in exact decimals — no FP boundary
    // rows from an averaged double ──
    "above_avg_orders" -> ((s, dir) => {
      val ord = Tables.orders(s, dir)
      val tot = ord.agg(sum(dec(col("o_totalprice"))).as("total"), count(lit(1)).as("n"))
      ord.crossJoin(broadcast(tot))
        .where(dec(col("o_totalprice")) * col("n") > col("total"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    }),

    // ── exact interpolated percentiles (sort-based `percentile`, the
    // ground-truth twin of approx_percentile's sketch path; both engines
    // define linear interpolation between adjacent ranks) ──
    "quantiles_by_flag" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_quantity, 0.95)"), 6).as("p95"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))),

    // ── SELF-VALIDATING approximate quantiles: percentile_approx (the
    // mergeable KLL/GK-class sketch — the only quantile a 100 TB single
    // pass can afford) next to the exact answer, with the sketch's RANK
    // guARANTEE measured in-query: the returned element's tie range
    // [#{v<av}, #{v<=av}] must intersect q·n ± (n/accuracy + 1). The raw
    // approx value stays OUT of the hashed columns (sketch merge order is
    // partitioning-dependent); what the oracle locks is the exact
    // quantiles plus the law columns TRUE — the approx-WAU discipline ──
    "quantiles_approx" -> ((s, dir) => {
      val acc = 1000
      val qsArr = array(lit(0.5), lit(0.9), lit(0.99))
      val li = Tables.lineitem(s, dir).select(
        col("l_returnflag").as("flag"), col("l_extendedprice").cast("double").as("v"))
      val approx = li.groupBy(col("flag"))
        .agg(
          percentile_approx(col("v"), qsArr, lit(acc)).as("avs"),
          count(lit(1)).as("n"))
        .select(col("flag"), col("n"), posexplode(col("avs")).as(Seq("qi", "av")))
      val ranked = li.join(broadcast(approx), Seq("flag"))
        .groupBy(col("flag"), col("qi"), col("n"), col("av"))
        .agg(
          sum(when(col("v") < col("av"), 1L).otherwise(0L)).as("rank_lo"),
          sum(when(col("v") <= col("av"), 1L).otherwise(0L)).as("rank_hi"))
      val exact = li.groupBy(col("flag"))
        .agg(expr("percentile(v, array(0.5D, 0.9D, 0.99D))").as("evs"))
        .select(col("flag"), posexplode(col("evs")).as(Seq("qi", "exact_v")))
      ranked.join(exact, Seq("flag", "qi"))
        .select(
          col("flag"),
          element_at(qsArr, col("qi") + 1).as("q"),
          round(col("exact_v"), 6).as("exact_v"),
          col("n"),
          (col("rank_hi") >= element_at(qsArr, col("qi") + 1) * col("n") - (col("n") / acc + 1) &&
            col("rank_lo") <= element_at(qsArr, col("qi") + 1) * col("n") + (col("n") / acc + 1))
            .as("rank_ok"))
        .orderBy(col("flag"), col("q"))
    }),

    // ── KLL quantile SKETCH ROLLUP ([[graft.functions.KllFunctions]]):
    // per-(flag, ship-year) KLL sketches merged into per-flag percentiles
    // WITHOUT rescanning the year partials — the mergeable-percentile shape
    // percentile_approx cannot persist (its sketch dies inside one
    // aggregation; here the partial sketch IS a column a daily job would
    // store). Validation mirrors quantiles_approx: the merged estimate's
    // MEASURED rank must sit within q·n ± ε·n (k=200 → published two-sided
    // ε ≈ 1.65%; 3% gate), and the estimate itself stays out of the hashed
    // output (merge order is partitioning-dependent) ──
    "kll_quantile_rollup" -> ((s, dir) => {
      import graft.functions.KllFunctions
      val kllK = 200
      val eps = 0.03
      val qsArr = array(lit(0.5), lit(0.9), lit(0.99))
      val li = Tables.lineitem(s, dir).select(
        col("l_returnflag").as("flag"),
        year(col("l_shipdate")).as("yr"),
        col("l_extendedprice").cast("double").as("v"))
      val partials = li.groupBy(col("flag"), col("yr"))
        .agg(KllFunctions.kllSketch(col("v"), kllK).as("sk"), count(lit(1)).as("pn"))
      val rolled = partials.groupBy(col("flag"))
        .agg(
          KllFunctions.kllMerge(col("sk"), kllK).as("sk"),
          sum(col("pn")).as("n"),
          count(lit(1)).as("n_partials"))
        .select(
          col("flag"), col("n"), col("n_partials"), col("sk"),
          posexplode(qsArr).as(Seq("qi", "q")))
        .select(
          col("flag"), col("n"), col("n_partials"), col("q"),
          KllFunctions.kllQuantile(col("sk"), col("q")).as("av"))
      val ranked = li.join(broadcast(rolled), Seq("flag"))
        .groupBy(col("flag"), col("q"), col("n"), col("n_partials"), col("av"))
        .agg(
          sum(when(col("v") < col("av"), 1L).otherwise(0L)).as("rank_lo"),
          sum(when(col("v") <= col("av"), 1L).otherwise(0L)).as("rank_hi"))
      val exact = li.groupBy(col("flag"))
        .agg(expr("percentile(v, array(0.5D, 0.9D, 0.99D))").as("evs"))
        .select(col("flag"), posexplode(col("evs")).as(Seq("qi", "exact_v")),
          element_at(array(lit(0.5), lit(0.9), lit(0.99)), col("qi") + 1).as("q"))
        .select(col("flag"), col("q"), col("exact_v"))
      ranked.join(exact, Seq("flag", "q"))
        .select(
          col("flag"), col("q"), round(col("exact_v"), 6).as("exact_v"),
          col("n"), col("n_partials"),
          (col("rank_hi") >= (col("q") - eps) * col("n") &&
            col("rank_lo") <= (col("q") + eps) * col("n")).as("rank_ok"))
        .orderBy(col("flag"), col("q"))
    }),

    // ── week-over-week growth per event type ([[operators.Analytics
    // .wowGrowth]]): signed integer-ppm growth off a lag window; both
    // engines truncate integral division toward zero, so shrinking weeks
    // hash too; first weeks NULL ──
    "wow_growth" -> ((s, dir) =>
      graft.operators.Analytics.wowGrowth(
        Tables.events(s, dir), col("event_type"), col("ts"))),

    // ── quantile sketching AT INGESTION: [[graft.functions.KllFunctions
    // .KllSketchAgg]] run UNCHANGED as a streaming aggregation — the KLL
    // sketch IS the state (k-bounded per group, corpus-size-independent),
    // exactly where an exact percentile would buffer the whole stream.
    // KLL compaction is randomized by design, so the STREAMED estimates
    // validate against the measured rank bound (the kll_quantile_rollup
    // law), never by equality with a differently-ordered batch build ──
    "stream_kll_ingest" -> ((s, dir) => {
      import graft.functions.KllFunctions
      val kllK = 200
      val eps = 0.03
      val li = Tables.lineitem(s, dir)
      val src = s.readStream.schema(li.schema)
        .option("pathGlobFilter", "lineitem.parquet").parquet(dir)
        .select(col("l_returnflag").as("flag"), col("l_extendedprice").cast("double").as("v"))
      val sink = graft.streaming.StreamingSessionize.drainToMemory(
        src.groupBy(col("flag")).agg(KllFunctions.kllSketch(col("v"), kllK).as("sk")),
        "stream_kll_ingest_sink", "complete")
      val qsArr = array(lit(0.5), lit(0.9), lit(0.99))
      val est = sink
        .select(col("flag"), col("sk"), posexplode(qsArr).as(Seq("qi", "q")))
        .select(col("flag"), col("q"), KllFunctions.kllQuantile(col("sk"), col("q")).as("av"))
      val vals = li.select(col("l_returnflag").as("flag"), col("l_extendedprice").cast("double").as("v"))
      val ranked = vals.join(broadcast(est), Seq("flag"))
        .groupBy(col("flag"), col("q"), col("av"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("v") < col("av"), 1L).otherwise(0L)).as("rank_lo"),
          sum(when(col("v") <= col("av"), 1L).otherwise(0L)).as("rank_hi"))
      val exact = vals.groupBy(col("flag"))
        .agg(expr("percentile(v, array(0.5D, 0.9D, 0.99D))").as("evs"))
        .select(col("flag"), posexplode(col("evs")).as(Seq("qi", "exact_v")),
          element_at(array(lit(0.5), lit(0.9), lit(0.99)), col("qi") + 1).as("q"))
        .select(col("flag"), col("q"), col("exact_v"))
      ranked.join(exact, Seq("flag", "q"))
        .select(
          col("flag"), col("q"), round(col("exact_v"), 6).as("exact_v"), col("n"),
          (col("rank_hi") >= (col("q") - eps) * col("n") &&
            col("rank_lo") <= (col("q") + eps) * col("n")).as("rank_ok"))
        .orderBy(col("flag"), col("q"))
    }),

    // ── streaming sketch emission → PERSISTED rollup ([[graft.streaming
    // .StreamingSessionize.sketchRollupReplay]]): a watermarked append-mode
    // stream emits each event-time DAY as ONE theta-sketch row to a real
    // parquet table; weeks roll up downstream by sketch UNION with no
    // event rescan — the end-to-end incremental-analytics loop. In exact
    // mode (daily distincts < 2^14) the streamed sketch bytes are pinned
    // EQUAL to a batch build of the same day (min-of-booleans AND), and
    // the weekly union estimate IS the exact distinct count the oracle
    // recomputes — a dropped day, late-arrival loss, or a drifting sketch
    // all hash-fail ──
    "stream_sketch_rollup" -> ((s, dir) => {
      import graft.functions.ThetaFunctions
      val lgK = 14
      val ev = Tables.events(s, dir)
      val dailyPath = scratch(dir, "stream_sketch_daily")
      graft.streaming.StreamingSessionize.sketchRollupReplay(ev, lgK = lgK)
        .write.mode("overwrite").parquet(dailyPath)
      val daily = s.read.parquet(dailyPath)
      val batchDaily = ev
        .select(to_date(col("ts")).as("day"), col("user_id"))
        .groupBy(col("day"))
        .agg(ThetaFunctions.thetaSketch(col("user_id"), lgK).as("bsk"))
      val matches = daily.join(batchDaily, Seq("day"), "full_outer")
        .select((col("sk").isNotNull && col("bsk").isNotNull &&
          col("sk") === col("bsk")).as("m"))
        .agg(min(col("m")).as("stream_matches_batch"))
      daily
        .groupBy(to_date(date_trunc("week", col("day"))).as("week"))
        .agg(count(lit(1)).as("n_days"), ThetaFunctions.thetaUnion(col("sk"), lgK).as("u"))
        .select(col("week"), col("n_days"),
          round(ThetaFunctions.thetaEstimate(col("u"))).cast("long").as("wau"))
        .crossJoin(broadcast(matches))
        .orderBy(col("week"))
    }),

    // ── streaming daily EXACT bitmaps → weekly exact rollup
    // ([[graft.streaming.StreamingSessionize.bitmapRollupReplay]]): the
    // sketch-emission loop with the estimate replaced by a number — the
    // streamed per-day bitmap BYTES must equal the batch-built bytes
    // bit-for-bit (order-stable container serialization makes the bytes a
    // pure function of the id set), and the weekly OR-merge must equal
    // COUNT(DISTINCT) exactly; both pins ride the hash compare ──
    "stream_bitmap_ingest" -> ((s, dir) => {
      import graft.functions.BitmapFunctions
      val ev = Tables.events(s, dir)
      val dailyPath = scratch(dir, "stream_bitmap_daily")
      graft.streaming.StreamingSessionize.bitmapRollupReplay(ev)
        .write.mode("overwrite").parquet(dailyPath)
      val daily = s.read.parquet(dailyPath)
      val batchDaily = ev
        .select(to_date(col("ts")).as("day"), col("user_id"))
        .groupBy(col("day"))
        .agg(BitmapFunctions.bitmapAgg(col("user_id")).as("bbm"))
      val matches = daily.join(batchDaily, Seq("day"), "full_outer")
        .select((col("sk").isNotNull && col("bbm").isNotNull &&
          col("sk") === col("bbm")).as("m"))
        .agg(min(col("m")).as("stream_matches_batch"))
      daily
        .groupBy(to_date(date_trunc("week", col("day"))).as("week"))
        .agg(count(lit(1)).as("n_days"),
          BitmapFunctions.bitmapCount(
            BitmapFunctions.bitmapUnion(col("sk"))).as("wau"))
        .crossJoin(broadcast(matches))
        .orderBy(col("week"))
    }),

    // ── scalar string-function surface (upper/substr/length/regexp_extract/
    // concat_ws/lpad) — all map-side, codegen'd, pushdown-neutral ──
    "string_funcs" -> ((s, dir) =>
      Tables.part(s, dir)
        .select(
          col("p_partkey"),
          upper(col("p_brand")).as("brand_upper"),
          substring(col("p_name"), 1, 8).as("name_prefix"),
          length(col("p_name")).cast("long").as("name_len"),
          regexp_extract(col("p_type"), "^(\\w+)", 1).as("type_head"),
          concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
          lpad(col("p_partkey").cast("string"), 8, "0").as("key_padded"))
        .orderBy(col("p_partkey"))),

    // ── O1/O2: global top-k with deterministic tie-break ──
    "topk_orders" -> ((s, dir) =>
      Tables.orders(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice"))),

    // ── beyond-reference: ROLLUP hierarchy aggregate ──
    "rollup_pricing" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          d(sum(dec(col("l_quantity")))).as("sum_qty"),
          count(lit(1)).as("n"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    // ── F1–F8 surface: timestamp parse/trunc/extract buckets ──
    "date_buckets" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(
          to_date(date_trunc("week", col("ts"))).as("event_week"),
          hour(col("ts")).cast("long").as("event_hour"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_week"), col("event_hour"))),

    // ── typed JSON parse (from_json with an explicit schema — codegen'd
    // Jackson parse once per row, field access on the struct after) over the
    // event payload; integer-only aggregates per event_type for the oracle ──
    "json_typed_agg" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("p", from_json(col("props"), lit("k BIGINT")))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("p.k")).as("sum_k"),
          min(col("p.k")).as("min_k"),
          max(col("p.k")).as("max_k"))
        .orderBy(col("event_type"))),

    // ── F5/F6 + regexp extraction: CASE WHEN buckets over parsed payload ──
    "case_when_buckets" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("k", regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("long"))
        .withColumn(
          "bucket",
          when(col("value") < 10, lit("small"))
            .when(col("value") < 100, lit("mid"))
            .otherwise(lit("large")))
        .groupBy(col("bucket"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          round(d(sum(col("k"))) / count(lit(1)), 6).as("avg_k"))
        .orderBy(col("bucket"))),

    // ── weekly retention cohort matrix ([[operators.Analytics
    // .retentionCohorts]]): first-active-week cohorts × still-active
    // offsets, integer ppm ratios — one user-keyed shuffle + one tiny
    // (cohort, offset) aggregation, no events self-join ──
    "retention_cohorts" -> ((s, dir) =>
      graft.operators.Analytics.retentionCohorts(
        Tables.events(s, dir), "user_id", col("ts"))),

    // ── ordered event funnel ([[operators.Analytics.funnelSteps]]):
    // view → click → purchase with at-or-after whole-second chaining;
    // every join in the chain is user-keyed, each step collapses to one
    // count row, conversion in integer ppm ──
    "funnel_steps" -> ((s, dir) =>
      graft.operators.Analytics.funnelSteps(
        Tables.events(s, dir), "user_id", col("ts"), col("event_type"),
        Seq("view", "click", "purchase"))),

    // ── FUNNEL STEP-LATENCY distribution ([[operators.Analytics
    // .funnelStepLatency]]): per adjacent step pair, exact nearest-rank
    // p50/p90 and truncating mean of the whole-second conversion
    // latency — every number an exact integer ──
    "funnel_latency" -> ((s, dir) =>
      graft.operators.Analytics.funnelStepLatency(
        Tables.events(s, dir), "user_id", col("ts"), col("event_type"),
        Seq("view", "click", "purchase"))),

    // ── referential-integrity audit ([[operators.Audit]]): FK orphan and
    // PK duplication counts over the star schema's join keys — the
    // pre-flight that turns silent inner-join row loss / join fan-out into
    // numbers. Broadcast anti-joins on DIM keys; the fact→fact check
    // (lineitem→orders) uses the shuffled anti join — broadcasting a
    // fact-sized key set would be a driver OOM at warehouse SFs. Map-side
    // combined PK counts; one unioned plan ──
    "fk_integrity_audit" -> ((s, dir) => {
      import graft.operators.Audit
      Audit.report(Seq(
        Audit.fkOrphans("fk_customer_nation",
          Tables.customer(s, dir), "c_nationkey", Tables.nation(s, dir), "n_nationkey"),
        Audit.fkOrphans("fk_lineitem_orders",
          Tables.lineitem(s, dir), "l_orderkey", Tables.orders(s, dir), "o_orderkey",
          broadcastParent = false),
        Audit.fkOrphans("fk_orders_customer",
          Tables.orders(s, dir), "o_custkey", Tables.customer(s, dir), "c_custkey"),
        Audit.dupPrimaryKeys("pk_customer", Tables.customer(s, dir), "c_custkey"),
        Audit.dupPrimaryKeys("pk_orders", Tables.orders(s, dir), "o_orderkey")))
    }),

    // ── daily resample + forward-fill ([[operators.Analytics
    // .resampleDaily]]): one row per (user, calendar day) including GAP
    // days — zero counts, purchase value carried forward — the time-series
    // regularization a feature store needs; spine is a broadcast ~30-row
    // frame, every shuffle user-keyed ──
    "resample_daily" -> ((s, dir) =>
      graft.operators.Analytics.resampleDaily(
        Tables.events(s, dir), "user_id", col("ts"),
        startDate = "2024-01-01", endDate = "2024-01-30")),

    // ── LINEAR-INTERPOLATION daily gap fill ([[operators.Analytics
    // .resampleInterp]]): interior gap days take the straight-line value
    // between their two anchors in integer cents (truncating division,
    // measured identical in Spark `div` and DuckDB `//`); exterior days
    // stay NULL. One observation collapse + spine join + two user-keyed
    // window passes ──
    "resample_interp" -> ((s, dir) =>
      graft.operators.Analytics.resampleInterp(
        Tables.events(s, dir), "user_id", col("ts"),
        startDate = "2024-01-01", endDate = "2024-01-30")
        .orderBy(col("user_id"), col("day"))),

    // ── EXACT Mann-Whitney U over the order-value distributions of the
    // two customer-parity variants ([[operators.Analytics.mannWhitneyU]]):
    // tie-averaged ranks in doubled units keep everything integer; both
    // U's derive from their own rank sums so the U0+U1 = n0·n1 identity
    // is measured. The corpus collapses to its distinct metric values
    // before any ranking ──
    "ab_mannwhitney" -> ((s, dir) =>
      graft.operators.Analytics.mannWhitneyU(
        Tables.orders(s, dir),
        pmod(col("o_custkey"), lit(2)),
        floor(col("o_totalprice") / 100).cast("long"))),

    // ── POINT-IN-TIME multi-feature join ([[operators.AsofJoin
    // .pitJoinMulti]]): every click enriched with the latest purchase
    // and view values as of the click — two features in ONE union + ONE
    // user-keyed window pass (shuffle count independent of feature
    // count, the feature-store backfill shape; no future leakage by
    // construction). Per-user rollup of the enriched requests ──
    "feature_pit_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val cents = floor(col("value") * 100).cast("long")
      def feat(t: String, name: String) = ev
        .where(col("event_type") === t && col("value").isNotNull)
        .groupBy(col("user_id"), col("ts"))
        .agg(max(cents).as(name))
      val requests = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      graft.operators.AsofJoin.pitJoinMulti(
        requests, "user_id", "ts",
        Seq("purchase_cents" -> feat("purchase", "purchase_cents"),
          "view_cents" -> feat("view", "view_cents")))
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_requests"),
          sum(col("purchase_cents")).as("sum_purchase_pit"),
          sum(col("view_cents")).as("sum_view_pit"),
          sum(when(col("purchase_cents").isNull, 1L).otherwise(0L)).as("n_cold_start"))
        .orderBy(col("user_id"))
    }),

    // ── GAPS-AND-ISLANDS over the order calendar ([[operators.Analytics
    // .calendarIslands]]): maximal runs of present days AND the missing
    // runs between them — the backfill planner's job list and the
    // freshness audit in one pass; windows run on the calendar-sized
    // distinct-day frame, never the fact table ──
    "calendar_islands" -> ((s, dir) =>
      graft.operators.Analytics.calendarIslands(
        Tables.orders(s, dir), col("o_orderdate"))),

    // ── TEMPORAL ALLOCATION ([[operators.Analytics.prorateAmount]]):
    // each order's cents spread over 7 days by the exact largest-remainder
    // rule — the revenue-recognition kernel; conservation per order is
    // MEASURED (window sum == original cents) and hash-pinned ──
    "revenue_proration" -> ((s, dir) =>
      graft.operators.Analytics.prorateAmount(
        Tables.orders(s, dir).where(col("o_orderkey") % 100 === 0),
        col("o_orderkey"), col("o_orderdate"),
        floor(col("o_totalprice") * 100).cast("long"), spanDays = 7)
        .orderBy(col("key"), col("day"))),

    // ── ITEM CO-OCCURRENCE pair mining ([[operators.Analytics
    // .coOccurrencePairs]]): "customers who bought X also bought Y" over
    // customer baskets — per-basket cap kills the quadratic whale-basket
    // blow-up before the one self-join on the basket key; pair support
    // counts baskets, not rows ──
    "copurchase_pairs" -> ((s, dir) => {
      val rel = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey")),
          col("o_orderkey") === col("l_orderkey"))
      graft.operators.Analytics.coOccurrencePairs(
        rel, col("o_custkey"), col("l_partkey"), maxPerBasket = 8, minSupport = 2L)
        .orderBy(col("support").desc, col("item_a"), col("item_b"))
        .limit(50)
    }),

    // ── CUSUM change-point detection ([[operators.Analytics
    // .changePointCusum]]): per event type, the day maximizing the exact
    // scaled cumulative-sum deviation m·S_i − i·S_m — rate-shift
    // monitoring in pure integers ──
    "changepoint_cusum" -> ((s, dir) =>
      graft.operators.Analytics.changePointCusum(
        Tables.events(s, dir), col("event_type"), col("ts"))),

    // ── rolling RANGE-frame trailing-7-day spend per customer
    // ([[operators.Analytics.rollingRangeRevenue]]): a TRUE range frame
    // over epoch-days, so calendar gaps shrink the window (a ROWS frame
    // would count the last N orders, the classic rolling bug); one daily
    // pre-agg + one key-partitioned window pass ──
    "rolling_revenue_7d" -> ((s, dir) =>
      graft.operators.Analytics.rollingRangeRevenue(
        Tables.orders(s, dir), "o_custkey", col("o_orderdate"),
        col("o_totalprice"), days = 7)),

    // ── first-order Markov transition matrix over per-user event
    // sequences ([[operators.Analytics.eventTransitions]]): lead() pairs
    // under the sessionizer's deterministic (ts, id) order, counts +
    // row-normalized integer-ppm probabilities ──
    "event_transitions" -> ((s, dir) =>
      graft.operators.Analytics.eventTransitions(
        Tables.events(s, dir), "user_id", col("ts"),
        col("event_type"), col("event_id"))),

    // ── deadline-bounded funnel ([[operators.Analytics.funnelStepsWithin]]):
    // click within an hour of first view, purchase within an hour of that
    // click — the conversion-window form; same chain, bounded predicate ──
    "funnel_within" -> ((s, dir) =>
      graft.operators.Analytics.funnelStepsWithin(
        Tables.events(s, dir), "user_id", col("ts"), col("event_type"),
        Seq("view", "click", "purchase"), withinSec = 3600L)),

    // ── ANY-SEQUENCE deadline funnel ([[operators.Analytics
    // .funnelStepsWithinAny]]): the per-occurrence chain-restart form —
    // a later view can still anchor the click window. One LEFT SEMI
    // equi-join on the user per step; counts dominate funnel_within's ──
    "funnel_within_any" -> ((s, dir) =>
      graft.operators.Analytics.funnelStepsWithinAny(
        Tables.events(s, dir), "user_id", col("ts"), col("event_type"),
        Seq("view", "click", "purchase"), withinSec = 3600L)),

    // ── deterministic exact MODE per group (most frequent value,
    // smallest-value tie-break stated explicitly — the builtin mode()
    // breaks ties arbitrarily, which is useless under a hash gate):
    // count-per-value then one rank window over the (count desc, value)
    // order. Two keyed shuffles, no collects ──
    "mode_exact" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_returnflag").as("flag"),
        floor(col("l_quantity")).cast("long").as("qty"))
      val counted = li.groupBy(col("flag"), col("qty"))
        .agg(count(lit(1)).as("n"))
      counted
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("flag")).orderBy(col("n").desc, col("qty"))))
        .where(col("rk") === 1)
        .select(col("flag"), col("qty").as("mode_qty"), col("n").as("mode_n"))
        .orderBy(col("flag"))
    }),

    // ── correlated LATERAL subquery (the SQL-standard per-row derived
    // table): top-3 orders by price FOR EACH sampled customer, expressed
    // as `FROM customer, LATERAL (... WHERE o_custkey = c_custkey ORDER
    // BY ... LIMIT 3)`. Catalyst decorrelates the LIMIT-per-group into a
    // ranked window over one equi-join — no per-row re-execution ──
    "lateral_top_orders" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT c_custkey, o_orderkey, cents
          |FROM customer,
          |LATERAL (
          |  SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
          |  FROM orders
          |  WHERE o_custkey = c_custkey
          |  ORDER BY o_totalprice DESC, o_orderkey
          |  LIMIT 3
          |)
          |WHERE c_custkey % 97 = 0
          |ORDER BY c_custkey, cents DESC, o_orderkey""".stripMargin)
    }),

    // ── EWMA with halving weights ([[operators.Analytics.ewmaHalving]]):
    // exact-integer truncated binary EWMA per user over daily cents — one
    // daily aggregation then a horizon-bounded range self-join equi-keyed
    // on the user ──
    "ewma_halving" -> ((s, dir) =>
      graft.operators.Analytics.ewmaHalving(
        Tables.events(s, dir), "user_id", col("ts"), col("value"),
        horizonDays = 16)),

    // ── day-of-week seasonal decomposition ([[operators.Analytics
    // .seasonalDow]]): centered 7-day trend, per-weekday detrended means,
    // exact integer sums with a round(6) float tail ──
    "seasonal_dow" -> ((s, dir) =>
      graft.operators.Analytics.seasonalDow(
        Tables.events(s, dir), col("event_type"), col("ts"))),

    // ── JSON payload surface (from_json typed schema + get_json_object
    // JSONPath over the events.props payload): both extraction APIs run
    // side by side and the agreement law (n_path_agree == n) rides the
    // hash. Parsing is one codegen'd pass adjacent to the scan; the
    // aggregate is map-side combined on the event type ──
    "json_props_rollup" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(
          col("event_type"),
          from_json(col("props"), lit("k BIGINT")).getField("k").as("k_typed"),
          get_json_object(col("props"), "$.k").cast("long").as("k_path"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("k_typed")).as("sum_k"),
          min(col("k_typed")).as("min_k"),
          max(col("k_typed")).as("max_k"),
          sum(when(col("k_typed") <=> col("k_path"), 1L).otherwise(0L))
            .as("n_path_agree"))
        .orderBy(col("event_type"))),

    // ── rank-family window coverage on one frame: rank, dense_rank,
    // percent_rank, cume_dist over per-flag quantity levels — the exact
    // integer ranks hash directly; the two rational ranks land through
    // the round(6) double tail (identical (rank−1)/(n−1) and
    // running-count/n formulas on both engines) ──
    "window_rank_family" -> ((s, dir) => {
      val lvl = Tables.lineitem(s, dir)
        .groupBy(
          col("l_returnflag").as("flag"),
          floor(col("l_quantity")).cast("long").as("qty"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("flag")).orderBy(col("qty"))
      lvl.select(
          col("flag"), col("qty"), col("n"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          round(percent_rank().over(w), 6).as("pct_r6"),
          round(cume_dist().over(w), 6).as("cume_r6"))
        .orderBy(col("flag"), col("qty"))
    }),

    // ── lag-7 autocorrelation per event-type series ([[operators
    // .Analytics.autocorrLag]]): the mean-cleared n²-scaled ACF sums in
    // exact BIGINTs, calendar-day lag pairing by equi-join ──
    "autocorr_lag" -> ((s, dir) =>
      graft.operators.Analytics.autocorrLag(
        Tables.events(s, dir), col("event_type"), col("ts"), lagDays = 7)),

    // ── 2-D skyline (Pareto frontier) of suppliers on (total quantity,
    // total revenue cents), maximizing both: a supplier survives iff no
    // other weakly dominates it with one strict edge. Two window passes
    // over the |suppliers|-sized aggregate — the strictly-greater-x max
    // via a desc RANGE frame ending at 1 PRECEDING, the same-x tie rule
    // via a per-x partition max. The oracle is the INDEPENDENT NOT-EXISTS
    // dominance formulation, so the window algebra is cross-checked
    // against the definition, not itself. The window runs on the
    // post-aggregation frame (|suppliers| rows, not |lineitem|); a
    // data-sized skyline would grid-prefilter first ──
    "skyline_pareto" -> ((s, dir) => {
      val sup = Tables.lineitem(s, dir)
        .groupBy(col("l_suppkey"))
        .agg(
          sum(floor(col("l_quantity")).cast("long")).as("qty"),
          sum(floor(col("l_extendedprice") * 100).cast("long")).as("rev"))
      val wGx = Window.orderBy(col("qty").desc)
        .rangeBetween(Window.unboundedPreceding, -1)
      val wSameX = Window.partitionBy(col("qty"))
      sup
        .withColumn("max_rev_gx", max(col("rev")).over(wGx))
        .withColumn("max_rev_same_x", max(col("rev")).over(wSameX))
        .where(
          (col("max_rev_gx").isNull || col("max_rev_gx") < col("rev")) &&
            col("rev") === col("max_rev_same_x"))
        .select(col("l_suppkey"), col("qty"), col("rev"))
        .orderBy(col("qty").desc, col("l_suppkey"))
    }),

    // ── pairwise Pearson correlation matrix over (quantity, price,
    // discount) per return flag, ONE scan: all nine power/cross sums
    // accumulate in decimal(38,0) in a single map-side-combined
    // aggregation (BIGINT would overflow on Σp² at sf≥0.1), the rational
    // mean clears through the n²-scaled num/den, and only the final
    // ratio touches doubles (cast→sqrt→divide→round(6), all
    // correctly-rounded IEEE, so both engines agree bitwise). 3 groups ×
    // 3 pairs = 9 rows out ──
    "corr_matrix" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_returnflag").as("flag"),
        floor(col("l_quantity") * 100).cast("long").as("q"),
        floor(col("l_extendedprice") * 100).cast("long").as("p"),
        floor(col("l_discount") * 10000).cast("long").as("d"))
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val agg = li.groupBy(col("flag")).agg(
        count(lit(1)).as("n"),
        sum(dec(col("q"))).as("sq"), sum(dec(col("p"))).as("sp"),
        sum(dec(col("d"))).as("sd"),
        sum(dec(col("q")) * col("q")).as("sqq"),
        sum(dec(col("p")) * col("p")).as("spp"),
        sum(dec(col("d")) * col("d")).as("sdd"),
        sum(dec(col("q")) * col("p")).as("sqp"),
        sum(dec(col("q")) * col("d")).as("sqd"),
        sum(dec(col("p")) * col("d")).as("spd"))
      agg.select(
          col("flag"), col("n"),
          expr("n * sqp - sq * sp").as("num_qp"),
          expr("n * sqd - sq * sd").as("num_qd"),
          expr("n * spd - sp * sd").as("num_pd"),
          expr("n * sqq - sq * sq").as("den_q"),
          expr("n * spp - sp * sp").as("den_p"),
          expr("n * sdd - sd * sd").as("den_d"))
        .select(col("flag"), col("n"),
          expr("stack(3, 'q_p', num_qp, den_q, den_p," +
            " 'q_d', num_qd, den_q, den_d," +
            " 'p_d', num_pd, den_p, den_d) AS (pair, num_scaled, dx, dy)"))
        .select(
          col("flag"), col("pair"), col("n"),
          col("num_scaled").cast("string").as("num_scaled"),
          expr("round(CAST(num_scaled AS DOUBLE) / " +
            "(sqrt(CAST(dx AS DOUBLE)) * sqrt(CAST(dy AS DOUBLE))), 6)")
            .as("corr_r6"))
        .orderBy(col("flag"), col("pair"))
    }),

    // ── POISSON BOOTSTRAP CI ([[operators.Analytics.poissonBootstrapCi]]):
    // the distributed bootstrap — every (order, replica) draws a seeded
    // Poisson(1) weight from EXACT 2^32-scaled integer thresholds (no
    // floats anywhere in the draw), replica means aggregate in one
    // map-side-combined pass, and the 95% band reads the integer-rank
    // percentiles. The oracle replays all 100 resamples bit-for-bit —
    // every weight, every replica mean, both band endpoints ──
    "bootstrap_ci" -> ((s, dir) =>
      graft.operators.Analytics.poissonBootstrapCi(
        Tables.orders(s, dir),
        col("o_orderpriority"), col("o_orderkey"),
        floor(col("o_totalprice") * 100).cast("long"),
        replicas = 100, seed = "graft-boot-r11")
        .withColumnRenamed("g", "priority")
        .orderBy(col("priority"))),

    // ── KAPLAN-MEIER SURVIVAL ([[operators.Analytics.kaplanMeier]]): the
    // right-censored life table over order→ship latency — duration =
    // days from order date to line ship date, event = the line was NOT
    // returned (returns censor at their duration). Risk sets, events,
    // and censorings are EXACT integers (one key join + one groupBy + a
    // duration-count-bounded window); the product-limit `survival_6dp`
    // rides as the same exp-sum-ln formula the oracle runs, at 6 dp ──
    "survival_km" -> ((s, dir) =>
      graft.operators.Analytics.kaplanMeier(
        Tables.lineitem(s, dir)
          .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
          .select(
            datediff(col("l_shipdate"), col("o_orderdate")).as("dur"),
            when(col("l_returnflag") =!= "R", 1L).otherwise(0L).as("ev")),
        col("dur"), col("ev"))
        .orderBy(col("t"))),

    // ── LOG-RANK TEST ([[operators.Analytics.logRankTest]], Mantel-Cox):
    // do urgent orders (priority 1-2, group 1) ship on a different
    // survival curve than the rest? Integer risk sets and event counts
    // per pooled event time; O/E/variance run the identical double
    // formula in both engines at 6 dp, χ² against 3.8415 (α=0.05) ──
    "survival_logrank" -> ((s, dir) =>
      graft.operators.Analytics.logRankTest(
        Tables.lineitem(s, dir)
          .join(Tables.orders(s, dir).select(
              col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
            col("l_orderkey") === col("o_orderkey"))
          .select(
            datediff(col("l_shipdate"), col("o_orderdate")).as("dur"),
            when(col("l_returnflag") =!= "R", 1L).otherwise(0L).as("ev"),
            when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
              .otherwise(0L).as("grp")),
        col("dur"), col("ev"), col("grp"))
        .orderBy(col("grp"))),

    // ── MATCH_RECOGNIZE-lite row-pattern mining ([[operators.Analytics
    // .sequencePatterns]]): each user's full history collapses to one
    // ordered code string (v/c/p/s/e per event type, (ts, event_id)
    // total order) and regexes count NON-OVERLAPPING structural motifs —
    // `v[^p]*p` (a view funnel reaching its first purchase) and
    // `e[^pe]*p` (an error recovered by a purchase with no error or
    // purchase between). One user-keyed shuffle, codegen'd regexp_count;
    // the oracle rebuilds the identical strings with ordered string_agg
    // and counts regexp_extract_all — leftmost non-overlapping scan in
    // both engines ──
    "pattern_sequences" -> ((s, dir) =>
      graft.operators.Analytics.sequencePatterns(
        Tables.events(s, dir),
        col("user_id"), col("ts"), col("event_id"), col("event_type"),
        codes = Seq("view" -> "v", "click" -> "c", "purchase" -> "p",
          "signup" -> "s", "error" -> "e"),
        patterns = Seq(
          "view_to_purchase" -> "v[^p]*p",
          "error_recovery" -> "e[^pe]*p"))
        .orderBy(col("key"))),

    // ── last-touch revenue attribution ([[operators.Analytics
    // .lastTouchAttribution]]): each purchase credits the most recent
    // preceding view/click of the same user within 7 days, else
    // "unattributed" — one forward-fill window pass per user (no
    // touches×conversions self-join), revenue in exact integer cents ──
    "attribution_last_touch" -> ((s, dir) =>
      graft.operators.Analytics.lastTouchAttribution(
        Tables.events(s, dir), "user_id", col("ts"), col("event_type"),
        col("event_id"), touchTypes = Seq("view", "click"),
        convType = "purchase", windowSec = 7L * 86400)),

    // ── BENFORD FIRST-DIGIT AUDIT: the classic fabricated-numbers
    // screen — observed first-digit shares of the order amounts against
    // Benford's law, everything in exact integer ppm (the expectation
    // constants log10(1+1/d) are fixed ppm literals summing to exactly
    // 1e6; observed shares via truncating div). The audit REPORTS
    // deviation per digit — synthetic uniform prices are not Benford,
    // and saying so is the point of an audit ──
    "benford_audit" -> ((s, dir) => {
      val expected = Seq(301030L, 176091L, 124939L, 96910L, 79181L,
        66947L, 57992L, 51153L, 45757L)
      val exp = expected.zipWithIndex
        .map { case (p, i) => ((i + 1).toLong, p) }
      import s.implicits._
      val cents = Tables.orders(s, dir)
        .select(floor(col("o_totalprice") * 100).cast("long").as("c"))
        .where(col("c") > 0L)
      cents
        .select(substring(col("c").cast("string"), 1, 1).cast("long").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n_observed"))
        .join(broadcast(exp.toDF("digit", "expected_ppm")), Seq("digit"))
        .crossJoin(broadcast(cents.agg(count(lit(1)).as("n_total"))))
        .select(
          col("digit"), col("n_observed"), col("n_total"),
          expr("n_observed * 1000000 div n_total").as("observed_ppm"),
          col("expected_ppm"))
        .withColumn("abs_dev_ppm",
          abs(expr("n_observed * 1000000 div n_total") - col("expected_ppm")))
        .orderBy(col("digit"))
    }),

    // ── LINEAR MULTI-TOUCH ATTRIBUTION ([[operators.Analytics
    // .linearAttribution]]): every in-window touch shares the conversion
    // equally, remainder to the last touch — exact conservation, the
    // complement of last-touch's winner-take-all ──
    "attribution_linear" -> ((s, dir) =>
      graft.operators.Analytics.linearAttribution(
        Tables.events(s, dir), "user_id", col("ts"), col("event_type"),
        col("event_id"), touchTypes = Seq("view", "click"),
        convType = "purchase", windowSec = 7L * 86400)),

    // ── CMS JOIN-SIZE ESTIMATE ([[operators.CountMin.innerProduct]]):
    // the self-join cardinality of orders on o_custkey predicted from
    // one depth×width sketch — the sketch-driven planning signal — with
    // the one-sided overestimate law and the ε·N² bound MEASURED against
    // the exact Σc² ──
    "join_size_cms" -> ((s, dir) => {
      import graft.operators.CountMin
      val keys = Tables.orders(s, dir)
        .select(col("o_custkey").cast("string").as("k"))
      val sk = CountMin.sketch(keys, "k")
      val exact = Tables.orders(s, dir)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c") * col("c"))).head().getLong(0)
      val n = Tables.orders(s, dir).count()
      CountMin.innerProduct(sk, sk).select(
        col("est"),
        lit(exact).as("exact_size"),
        (col("est") >= lit(exact)).as("ge_exact"),
        ((col("est") - lit(exact)) * lit(CountMin.Width.toLong) <= lit(3L * n * n))
          .as("within_bound"))
    }),

    // ── two-proportion z-test decided in EXACT integer arithmetic
    // ([[operators.Analytics.abZTest]]): per-user conversion by user-id
    // parity split; decimal(38,0) cross-multiplied inequality, so the
    // significance boolean is bitwise cross-engine ──
    "ab_ztest" -> ((s, dir) => {
      val perUser = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      graft.operators.Analytics.abZTest(
        perUser, pmod(col("user_id"), lit(2)), col("conv") === 1L)
    }),

    // ── Cohen's kappa inter-annotator agreement ([[operators.Analytics
    // .cohenKappa]]): two deterministic heuristic "raters" over documents
    // (char-count vs word-count quality calls); chance-corrected
    // agreement as ONE exact integer rational in signed ppm — the
    // label-quality gate run before trusting an annotation batch ──
    "annotator_kappa" -> ((s, dir) =>
      graft.operators.Analytics.cohenKappa(
        Tables.documents(s, dir),
        col("n_chars") >= 300,
        (length(col("text")) - length(translate(col("text"), " ", ""))) >= 39)),

    // ── classifier reliability bins ([[operators.Analytics
    // .calibrationBins]]): confidence-vs-accuracy per decile over an
    // exact ppm score — predicted confidence, empirical positive rate,
    // and the signed gap whose weighted |·| is ECE, all integer-exact ──
    "calibration_bins" -> ((s, dir) =>
      graft.operators.Analytics.calibrationBins(
        Tables.documents(s, dir),
        least(lit(1000000L), col("n_chars") * 1800),
        (col("n_chars") + col("doc_id") % 211) >= 400)),

    // ── time-decayed engagement score ([[operators.Analytics.decayScore]]):
    // halve per week of age — integer exponents of two, exact binary
    // fraction weights, bitwise-replayable sum ──
    "decay_score" -> ((s, dir) =>
      graft.operators.Analytics.decayScore(
        Tables.events(s, dir), "user_id", col("ts"), col("value"),
        asOfDate = "2024-02-01")),

    // ── theta-sketch week-over-week audience overlap ([[graft.functions
    // .ThetaFunctions]]): per-week theta sketches of the user set, then
    // INTERSECTION and A-NOT-B estimates per consecutive-week pair — the
    // set algebra HLL cannot do (HLL unions only). Self-validating
    // (wauValidated pattern): the hashed columns are the EXACT counts from
    // a distinct self-join plus tolerance booleans the sketch estimates
    // must satisfy; sketches stay exact-mode below 2^14 users/week and the
    // gate holds through estimation mode ──
    "theta_wow_overlap" -> ((s, dir) => {
      import graft.functions.ThetaFunctions
      val uw = Tables.events(s, dir)
        .select(to_date(date_trunc("week", col("ts"))).as("week"), col("user_id"))
      val weekly = uw.groupBy(col("week"))
        .agg(
          ThetaFunctions.thetaSketch(col("user_id"), 14).as("sk"),
          countDistinct(col("user_id")).as("n"))
      val du = uw.distinct()
      val exactBoth = du.as("x")
        .join(du.as("y"),
          col("y.user_id") === col("x.user_id") &&
            col("y.week") === date_add(col("x.week"), 7))
        .groupBy(col("x.week").as("week"))
        .agg(count(lit(1)).as("n_both"))
      val a = weekly.select(col("week"), col("sk").as("sk_a"), col("n").as("n_a"))
      val b = weekly.select(
        date_sub(col("week"), 7).as("week"), col("sk").as("sk_b"), col("n").as("n_b"))
      val churn = col("n_a") - col("n_both")
      val fresh = col("n_b") - col("n_both")
      a.join(b, Seq("week")).join(exactBoth, Seq("week"))
        .select(
          col("week"), date_add(col("week"), 7).as("next_week"),
          col("n_a"), col("n_b"), col("n_both"),
          churn.as("n_churned"), fresh.as("n_new"),
          (abs(ThetaFunctions.thetaIntersectEst(col("sk_a"), col("sk_b")) - col("n_both"))
            <= col("n_both") * 0.05 + 1.0).as("inter_ok"),
          (abs(ThetaFunctions.thetaANotBEst(col("sk_b"), col("sk_a")) - fresh)
            <= fresh * 0.05 + 1.0).as("new_ok"))
        .orderBy(col("week"))
    }),

    // ── theta union rollup: weekly sketch rows union into the month total
    // WITHOUT rescanning events (the [[operators.Wau.wauSketchRollup]]
    // incremental shape, theta flavor — what crosses the final agg is 5
    // sketch blobs, not user ids); validated against the exact
    // month-distinct count ──
    "theta_total_rollup" -> ((s, dir) => {
      import graft.functions.ThetaFunctions
      val ev = Tables.events(s, dir)
      val weekly = ev
        .select(to_date(date_trunc("week", col("ts"))).as("week"), col("user_id"))
        .groupBy(col("week"))
        .agg(ThetaFunctions.thetaSketch(col("user_id"), 14).as("sk"))
      val rolled = weekly.agg(
        count(lit(1)).as("n_weeks"),
        ThetaFunctions.thetaUnion(col("sk"), 14).as("u"))
      val exact = ev.agg(countDistinct(col("user_id")).as("n_total"))
      rolled.crossJoin(broadcast(exact))
        .select(
          col("n_weeks"), col("n_total"),
          (abs(ThetaFunctions.thetaEstimate(col("u")) - col("n_total"))
            <= col("n_total") * 0.05 + 1.0).as("union_ok"))
    }),

    // ── EXACT roaring-style bitmap overlap ([[graft.functions
    // .BitmapFunctions]]): weekly user bitmaps over the dense id space,
    // consecutive-week retention/churn/new counts computed ENTIRELY from
    // bitwise AND/ANDNOT on the bitmap columns — where theta_wow_overlap
    // can only pin tolerance booleans, every number here is exact and
    // hash-compared against the oracle's distinct self-join; what crosses
    // the final join is one ≤2·n-byte bitmap per week, not user ids ──
    "bitmap_wow_overlap" -> ((s, dir) => {
      import graft.functions.BitmapFunctions
      val weekly = Tables.events(s, dir)
        .select(to_date(date_trunc("week", col("ts"))).as("week"), col("user_id"))
        .groupBy(col("week"))
        .agg(BitmapFunctions.bitmapAgg(col("user_id")).as("bm"))
      val a = weekly.select(col("week"), col("bm").as("bm_a"))
      val b = weekly.select(date_sub(col("week"), 7).as("week"), col("bm").as("bm_b"))
      a.join(b, Seq("week"))
        .select(
          col("week"), date_add(col("week"), 7).as("next_week"),
          BitmapFunctions.bitmapCount(col("bm_a")).as("n_a"),
          BitmapFunctions.bitmapCount(col("bm_b")).as("n_b"),
          BitmapFunctions.bitmapAndCount(col("bm_a"), col("bm_b")).as("n_both"),
          BitmapFunctions.bitmapAndNotCount(col("bm_a"), col("bm_b")).as("n_churned"),
          BitmapFunctions.bitmapAndNotCount(col("bm_b"), col("bm_a")).as("n_new"))
        .orderBy(col("week"))
    }),

    // ── bitmap rollup without rescanning: DAILY user bitmaps built once,
    // OR-merged up to weeks by `graft_bitmap_union` — the incremental WAU
    // serving path with EXACT answers (the theta/HLL rollups' estimate
    // column replaced by a number the oracle's COUNT(DISTINCT) must equal
    // bit-for-bit); per-week shuffle payload is ≤7 bitmap blobs ──
    "bitmap_wau_rollup" -> ((s, dir) => {
      import graft.functions.BitmapFunctions
      Tables.events(s, dir)
        .select(
          to_date(col("ts")).as("day"),
          to_date(date_trunc("week", col("ts"))).as("week"),
          col("user_id"))
        .groupBy(col("day"), col("week"))
        .agg(BitmapFunctions.bitmapAgg(col("user_id")).as("bm"))
        .groupBy(col("week"))
        .agg(
          count(lit(1)).as("n_days"),
          BitmapFunctions.bitmapCount(
            BitmapFunctions.bitmapUnion(col("bm"))).as("wau_exact"))
        .orderBy(col("week"))
    }),

    // ── exact DISTINCT-COUNT CUBE from ONE finest-grain scan: distinct
    // counts are NOT additive, so a grouping-sets cube normally rescans
    // the facts once per grouping set — bitmaps make the rollup lawful:
    // (event_type × week) bitmaps built once, every coarser cell derived
    // by pure bitwise OR of finest-grain rows, all counts EXACT and
    // hash-matched against a real GROUPING SETS count-distinct ──
    "bitmap_cube_rollup" -> ((s, dir) => {
      import graft.functions.BitmapFunctions
      val fine = Tables.events(s, dir)
        .select(col("event_type"),
          to_date(date_trunc("week", col("ts"))).as("week"), col("user_id"))
        .groupBy(col("event_type"), col("week"))
        .agg(BitmapFunctions.bitmapAgg(col("user_id")).as("bm"))
      def cnt(bm: Column) = BitmapFunctions.bitmapCount(bm)
      val finest = fine.select(col("event_type"), col("week"), cnt(col("bm")).as("users_exact"))
      val byEt = fine.groupBy(col("event_type"))
        .agg(cnt(BitmapFunctions.bitmapUnion(col("bm"))).as("users_exact"))
        .select(col("event_type"), lit(null).cast("date").as("week"), col("users_exact"))
      val byWk = fine.groupBy(col("week"))
        .agg(cnt(BitmapFunctions.bitmapUnion(col("bm"))).as("users_exact"))
        .select(lit(null).cast("string").as("event_type"), col("week"), col("users_exact"))
      val total = fine
        .agg(cnt(BitmapFunctions.bitmapUnion(col("bm"))).as("users_exact"))
        .select(lit(null).cast("string").as("event_type"),
          lit(null).cast("date").as("week"), col("users_exact"))
      finest.unionByName(byEt).unionByName(byWk).unionByName(total)
        .orderBy(col("event_type"), col("week"))
    }),

    // ── sliding-window WAU: native window(ts, '7 days', '1 day') slide —
    // each event explodes into 7 window assignments, exact distinct count
    // per window; the sketch rollup (wau_user_sketch_rollup) is the same
    // shape's 100 TB serving path ([[operators.Analytics
    // .slidingActiveUsers]]) ──
    "sliding_wau" -> ((s, dir) =>
      graft.operators.Analytics.slidingActiveUsers(
        Tables.events(s, dir), "user_id", col("ts"))),

    // ── one-pass data-quality expectation suite ([[operators
    // .DataQuality]]): Deequ-style contract checks over orders —
    // completeness, PK uniqueness, domain membership, bounds, pattern —
    // ALL evaluated in a single aggregate scan (map-side combined, one
    // 1-row exchange), then exploded to uniform (check, metric, passed)
    // rows. N checks, one pass — the only audit shape that survives a
    // 100 TB nightly ──
    "dq_expectations" -> ((s, dir) => {
      import graft.operators.DataQuality._
      val o = Tables.orders(s, dir)
      run(o, Seq(
        expectZero("complete_custkey", col("o_custkey").isNull),
        expectUniqueKey("unique_orderkey", col("o_orderkey")),
        expectZero("status_in_domain",
          !col("o_orderstatus").isin("O", "F", "P")),
        expectZero("price_positive", col("o_totalprice") <= 0.0),
        expectZero("priority_pattern",
          !col("o_orderpriority").rlike("^[1-5]-[A-Z ]+$")),
        expectZero("date_in_range",
          !col("o_orderdate").between("1992-01-01", "2005-12-31")),
        Check("row_count_min", count(lit(1)), _ >= 1000.0)))
    }),

    // ── scalable dense ID assignment ([[operators.Ids.assignStableIds]]):
    // contiguous 0..n-1 ids in md5-key order WITHOUT a global
    // single-partition sort — hex-prefix range buckets ranked in parallel
    // + a 256-row broadcast offset frame; bit-identical to the oracle's
    // row_number() over the global order ──
    "assign_ids" -> ((s, dir) =>
      graft.operators.Ids.assignStableIds(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        col("text"), col("doc_id"))
        .select(col("doc_id"), col("new_id"))
        .orderBy(col("doc_id"))),

    // ── one-pass table profiler ([[operators.DataQuality.profile]]): the
    // ANALYZE/data-card statistics per column — nulls, distinct
    // cardinality (HLL++, self-validated within 5%), min/max — ALL from a
    // single aggregate scan however many columns are profiled; timestamps
    // normalized to dates at the boundary so min/max strings are
    // engine-stable ──
    "table_profile" -> ((s, dir) =>
      graft.operators.DataQuality.profile(
        Tables.orders(s, dir), Seq(
          "o_orderkey" -> col("o_orderkey"),
          "o_custkey" -> col("o_custkey"),
          "o_orderstatus" -> col("o_orderstatus"),
          "o_orderpriority" -> col("o_orderpriority"),
          "o_orderdate" -> to_date(col("o_orderdate"))))),

    // ── co-bucketed SHUFFLE-FREE join ([[graft.sources.Bucketing]]): both
    // fact and dim written bucketed + bucket-sorted on the join key, so the
    // sort-merge join reads pre-partitioned, pre-sorted files and Catalyst
    // plans ZERO Exchange on either side — the layout that amortizes one
    // write-time shuffle across every subsequent join at 100 TB. The
    // `bucketed_no_exchange` law column is computed from the EXECUTED plan
    // of the forced-SMJ join (broadcast + AQE disabled for the probe, conf
    // restored after), so the oracle's TRUE hash-pins the no-shuffle claim;
    // the returned aggregate then runs on the same bucketed tables under
    // normal conf (where broadcasting the dim side is a legal, equally
    // bucketed-fed plan) ──
    "join_bucketed" -> ((s, dir) => {
      val sf = dir.replaceAll(".*/", "").replace(".", "_")
      val (to, tc) = (s"b_orders_$sf", s"b_customer_$sf")
      graft.sources.Bucketing.writeBucketed(
        Tables.orders(s, dir), to, "o_custkey", 8, sortKey = Some("o_custkey"))
      graft.sources.Bucketing.writeBucketed(
        Tables.customer(s, dir), tc, "c_custkey", 8, sortKey = Some("c_custkey"))
      val joined = s.table(to).join(s.table(tc), col("o_custkey") === col("c_custkey"))
      val prev = (
        s.conf.get("spark.sql.autoBroadcastJoinThreshold"),
        s.conf.get("spark.sql.adaptive.enabled"))
      val noExchange =
        try {
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          s.conf.set("spark.sql.adaptive.enabled", "false")
          val plan = joined.queryExecution.executedPlan.toString
          plan.contains("SortMergeJoin") && !plan.contains("Exchange")
        } finally {
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev._1)
          s.conf.set("spark.sql.adaptive.enabled", prev._2)
        }
      joined
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_orders"),
          d(sum(dec(col("o_totalprice")))).as("sum_price"))
        .withColumn("bucketed_no_exchange", lit(noExchange))
        .orderBy(col("c_mktsegment"))
    }),

    // ── GROUPING SETS beside the cube/rollup pair: two INDEPENDENT
    // one-column slices in one pass — a shape neither CUBE nor ROLLUP
    // expresses (no (flag, status) cell, no grand total). Same expand +
    // one-aggregation plan as cube_pricing; gid = grouping bitmask ──
    "grouping_sets_pricing" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(
          d(sum(dec(col("l_quantity")))).as("sum_qty"),
          count(lit(1)).as("n"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // ── winsorized statistics: per-group p05/p95 thresholds (exact
    // interpolating percentile, rounded to 6 before ANY comparison so both
    // engines clamp against the identical literal), tails clamped, mean
    // over DECIMAL(18,6) sums so the aggregate is order-exact. The scale
    // shape is the two-pass standard: a group-sized threshold frame
    // (a sketch at 100 TB) BROADCAST back over the fact ──
    "winsorized_stats" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("flag"), col("l_extendedprice").as("v"))
      val th = li.groupBy(col("flag")).agg(
        round(expr("percentile(v, 0.05)"), 6).as("lo"),
        round(expr("percentile(v, 0.95)"), 6).as("hi"))
      val w = when(col("v") < col("lo"), col("lo"))
        .when(col("v") > col("hi"), col("hi"))
        .otherwise(col("v"))
      li.join(broadcast(th), Seq("flag"))
        .groupBy(col("flag"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("v") < col("lo"), 1L).otherwise(0L)).as("n_clamped_lo"),
          sum(when(col("v") > col("hi"), 1L).otherwise(0L)).as("n_clamped_hi"),
          round(d(sum(w.cast("decimal(28,6)"))) / count(lit(1)), 6).as("mean_winsorized"),
          round(d(sum(col("v").cast("decimal(28,6)"))) / count(lit(1)), 6).as("mean_raw"))
        .orderBy(col("flag"))
    }),

    // ── exact-integer simple-regression components (the feature-vs-
    // target correlation audit a training pipeline runs before trusting
    // a signal): per group, the six sufficient statistics (n, Σx, Σy,
    // Σxy, Σx², Σy²) plus the cross-multiplied slope fraction
    // (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) — ALL exact integers (x = whole
    // units, y = whole dollars), so slope/correlation are recoverable
    // downstream to any precision with zero FP drift across engines.
    // One map-side-combinable aggregate pass; headroom audited at sf0.1
    // (≤ ~4.5e17 < 2⁶³) ──
    "regr_components" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_returnflag").as("flag"),
        floor(col("l_quantity")).cast("long").as("x"),
        floor(col("l_extendedprice")).cast("long").as("y"))
      li.groupBy(col("flag"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sum_x"),
          sum(col("y")).as("sum_y"),
          sum(col("x") * col("y")).as("sum_xy"),
          sum(col("x") * col("x")).as("sum_xx"),
          sum(col("y") * col("y")).as("sum_yy"))
        .select(col("flag"), col("n"), col("sum_x"), col("sum_y"),
          col("sum_xy"), col("sum_xx"), col("sum_yy"),
          (col("n") * col("sum_xy") - col("sum_x") * col("sum_y")).as("slope_num"),
          (col("n") * col("sum_xx") - col("sum_x") * col("sum_x")).as("slope_den"))
        .orderBy(col("flag"))
    }),

    // ── exact median via ranked window (percentile_cont semantics with
    // zero FP interpolation: med2 = the SUM of the two middle values —
    // twice the single middle when n is odd — stays a whole-cents
    // integer; divide by 2 downstream at whatever precision you like).
    // The rank pass shuffles once on the group key; at 100 TB the same
    // answer comes from the KLL/approx routes (`kll_quantile_rollup`,
    // `quantiles_approx`) — this is their exact ground-truth leg ──
    "median_exact" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(
        col("o_orderpriority").as("prio"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val r = o
        .withColumn("rn",
          row_number().over(Window.partitionBy(col("prio")).orderBy(col("cents"))))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("prio"))))
      r.where(col("rn") === expr("(cnt + 1) div 2") ||
          col("rn") === expr("(cnt + 2) div 2"))
        .groupBy(col("prio"))
        .agg(
          max(col("cnt")).as("n_rows"),
          sum(
            when(col("rn") === expr("(cnt + 1) div 2"), col("cents")).otherwise(0L) +
            when(col("rn") === expr("(cnt + 2) div 2"), col("cents")).otherwise(0L))
            .as("med2_cents"))
        .orderBy(col("prio"))
    }),

    // ── order-invariant table fingerprint: two independent md5-derived
    // row digests SUMMED per table — the replication/equality audit that
    // says "these two copies hold the same rows" without moving either
    // (sums commute, so the digest is partitioning-, order-, and
    // engine-independent; two moments make a swap-one-row-for-another
    // collision need a simultaneous second-hash collision). Rows serialize
    // through a canonical form (decimal-2 money, yyyy-MM-dd dates, NULL
    // sentinel) because raw double/timestamp formatting is NOT portable
    // across engines. One map-side pass + a 1-row agg per table ──
    "table_fingerprint" -> ((s, dir) => {
      import graft.operators.Audit.{canonicalField => nn, tableFingerprint => fp}
      val ordersSer = concat_ws("|",
        nn(col("o_orderkey").cast("string")),
        nn(col("o_custkey").cast("string")),
        nn(col("o_orderstatus")),
        nn(dec(col("o_totalprice")).cast("string")),
        nn(date_format(col("o_orderdate"), "yyyy-MM-dd")),
        nn(col("o_orderpriority")))
      val custSer = concat_ws("|",
        nn(col("c_custkey").cast("string")),
        nn(col("c_name")),
        nn(col("c_nationkey").cast("string")),
        nn(dec(col("c_acctbal")).cast("string")),
        nn(col("c_mktsegment")))
      fp(Tables.orders(s, dir), "orders", ordersSer)
        .unionByName(fp(Tables.customer(s, dir), "customer", custSer))
        .orderBy(col("table_name"))
    }),

    // ── rolling z-score volume anomalies ([[operators.Analytics
    // .anomalyZscore]]): per-event-type daily counts vs their trailing
    // 7-day baseline, the (n·x − s)² > z²·(n·q − s²) test kept in exact
    // integer space so the flag replays bitwise; one (type, day) rollup +
    // one frame-bounded window pass, no self-join ──
    "anomaly_zscore" -> ((s, dir) =>
      graft.operators.Analytics.anomalyZscore(
        Tables.events(s, dir), col("event_type"), col("ts"))),

    // ── TPC-H Q21 shape: correlated EXISTS + NOT EXISTS chains over
    // lineitem self-joins — the classic decorrelation stress. "Which
    // suppliers were the SOLE problem supplier (l_returnflag = 'R' stands
    // in for receipt-past-commit; this corpus carries no
    // commitdate/receiptdate) in finished multi-supplier orders?" Written
    // as CORRELATED subqueries on purpose: Catalyst's
    // RewritePredicateSubquery must decorrelate both into hash
    // LEFT SEMI / LEFT ANTI joins on l_orderkey (the non-equi
    // suppkey <> suppkey rides as the join's extra condition) —
    // PlanSpec pins semi+anti present and ZERO nested-loop joins. At
    // 100 TB both self-joins shuffle lineitem by orderkey once each; the
    // supplier and nation dims broadcast. ──
    // ── TPC-H Q17 shape: CORRELATED SCALAR AGGREGATE subquery — "orders
    // for less than 20% of this part's average quantity", the classic
    // magic-set decorrelation stress. Catalyst rewrites the per-row
    // correlated avg into one grouped aggregate over lineitem plus an
    // equi-join on the correlation key — per-brand output instead of
    // Q17's single scalar so the hash compare covers every group. Money
    // sums ride decimal(18,2); the correlated avg is exact (integral
    // quantities sum exactly in doubles). At 100 TB: two shuffles of
    // lineitem by partkey (the agg and the join), part broadcast ──
    "q17_small_qty" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT p_brand,
          |       CAST(count(*) AS BIGINT) AS n_small,
          |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
          |FROM lineitem JOIN part ON p_partkey = l_partkey
          |WHERE l_quantity < 0.2 * (SELECT avg(l2.l_quantity)
          |                          FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
          |GROUP BY p_brand
          |ORDER BY p_brand""".stripMargin)
    }),

    // ── TPC-H Q20 shape: NESTED IN chains with a grouped HAVING — the
    // part filter nests inside the lineitem aggregation inside the
    // supplier semi-join. Catalyst plans both INs as hash semi-joins
    // (PlanSpec pins zero nested loops); shipped quantity stands in for
    // the reference schema's partsupp availability (no partsupp table in
    // the fixture star) ──
    "q20_heavy_suppliers" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT s_name, n_name
          |FROM supplier JOIN nation ON s_nationkey = n_nationkey
          |WHERE s_suppkey IN (
          |  SELECT l_suppkey FROM lineitem
          |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%widget%')
          |  GROUP BY l_suppkey, l_partkey
          |  HAVING sum(l_quantity) > 100.0)
          |ORDER BY s_name""".stripMargin)
    }),

    // ── TPC-H Q22 shape: scalar-aggregate threshold + anti-join — "idle
    // customers above the average balance with no RECENT order" (every
    // fixture customer has SOME order, so the idle predicate is
    // date-bounded; the pushed-down date filter also shrinks the
    // anti-join's build side, the production shape). The average
    // comparison is decided by EXACT integer cross-multiplication on
    // cents (`cents · n > total_cents` instead of a float threshold — the
    // ab_ztest discipline), so the boundary rows are bitwise
    // cross-engine; the NOT EXISTS plans as a hash anti-join ──
    "q22_idle_customers" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """WITH eligible AS (
          |  SELECT c_custkey, c_nationkey % 7 AS code,
          |         CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
          |  FROM customer WHERE c_nationkey % 7 IN (0, 1, 2)
          |), pos AS (
          |  SELECT count(*) AS n, sum(cents) AS tot FROM eligible WHERE cents > 0
          |)
          |SELECT e.code, CAST(count(*) AS BIGINT) AS numcust,
          |       CAST(sum(e.cents) AS BIGINT) AS total_cents
          |FROM eligible e CROSS JOIN pos
          |WHERE e.cents * pos.n > pos.tot
          |  AND NOT EXISTS (SELECT 1 FROM orders o
          |                  WHERE o.o_custkey = e.c_custkey
          |                    AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
          |GROUP BY e.code
          |ORDER BY e.code""".stripMargin)
    }),

    "q21_waiting" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT s_name, n_name, count(*) AS numwait
          |FROM supplier
          |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
          |JOIN orders ON o_orderkey = l1.l_orderkey
          |JOIN nation ON s_nationkey = n_nationkey
          |WHERE o_orderstatus = 'F'
          |  AND l1.l_returnflag = 'R'
          |  AND EXISTS (
          |    SELECT 1 FROM lineitem l2
          |    WHERE l2.l_orderkey = l1.l_orderkey
          |      AND l2.l_suppkey <> l1.l_suppkey)
          |  AND NOT EXISTS (
          |    SELECT 1 FROM lineitem l3
          |    WHERE l3.l_orderkey = l1.l_orderkey
          |      AND l3.l_suppkey <> l1.l_suppkey
          |      AND l3.l_returnflag = 'R')
          |GROUP BY s_name, n_name
          |ORDER BY numwait DESC, s_name
          |LIMIT 100""".stripMargin)
    }),

    // ── TPC-H Q2 shape: correlated scalar MIN subquery over a shared CTE
    // — "the cheapest supplier per part". The per-(part, supplier) cost
    // relation is referenced TWICE (join side + correlated min), the
    // classic CTE-dedup + decorrelation stress; cost is exact integer
    // cents (min of floor(price*100)) so the min-equality that picks the
    // winners is FP-free and ties surface deterministically. Catalyst
    // decorrelates the min to a grouped aggregate + equi-join — PlanSpec
    // pins zero nested loops. (No partsupp table in the fixture star;
    // observed lineitem prices stand in for ps_supplycost) ──
    "q2_min_cost_supp" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """WITH cost AS (
          |  SELECT l_partkey, l_suppkey,
          |         min(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS cents
          |  FROM lineitem GROUP BY l_partkey, l_suppkey
          |)
          |SELECT p_partkey, p_brand, p_type, s_name, c.cents AS min_cents
          |FROM part JOIN cost c ON c.l_partkey = p_partkey
          |          JOIN supplier ON s_suppkey = c.l_suppkey
          |WHERE p_size <= 10
          |  AND c.cents = (SELECT min(c2.cents) FROM cost c2
          |                 WHERE c2.l_partkey = p_partkey)
          |ORDER BY min_cents, p_partkey, s_name
          |LIMIT 100""".stripMargin)
    }),

    // ── TPC-H Q4 shape: EXISTS over the fact child per order — planned as
    // ONE hash left-semi join (lineitem deduped by the semi semantics, no
    // per-order probe), date range pushed to the orders scan ──
    "q4_order_priority" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
          |FROM orders
          |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
          |  AND EXISTS (SELECT 1 FROM lineitem
          |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
          |GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin)
    }),

    // ── TPC-H Q12 shape (shipmode priority counts; ref lineitem lacks
    // l_shipmode/l_receiptdate so l_linestatus plays the mode dimension
    // and l_returnflag the IN-list screen — the plan shape is identical):
    // date-windowed fact scan, equi-join to orders, two-way CONDITIONAL
    // counts split by an IN-list on the joined dim column. Counts are
    // exact integers; the join ships only (o_orderkey, o_orderpriority)
    // across the shuffle ──
    "q12_shipmode" -> ((s, dir) => {
      val urgent = Seq("1-URGENT", "2-HIGH")
      Tables.lineitem(s, dir)
        .where(col("l_returnflag").isin("A", "N") &&
          col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
          col("l_shipdate") < ts("1997-01-01 00:00:00"))
        .select(col("l_orderkey"), col("l_linestatus"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(col("o_orderpriority").isin(urgent: _*), 1L).otherwise(0L))
            .cast("long").as("high_line_count"),
          sum(when(col("o_orderpriority").isin(urgent: _*), 0L).otherwise(1L))
            .cast("long").as("low_line_count"))
        .orderBy(col("l_linestatus"))
    }),

    // ── TPC-H Q7 shape: two-sided nation-pair volume — the SAME dim
    // (nation) joins twice under different roles (supplier's vs
    // customer's), both broadcast; fact-fact lineitem ⋈ orders stays
    // sort-merge. Exact decimal revenue; year as long for cross-engine
    // schema parity ──
    "q7_nation_volume" -> ((s, dir) => {
      val pick = Seq("NATION_1", "NATION_2")
      val ns = broadcast(Tables.nation(s, dir)
        .where(col("n_name").isin(pick: _*))
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
      val nc = broadcast(Tables.nation(s, dir)
        .where(col("n_name").isin(pick: _*))
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation")))
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
          col("l_shipdate") < ts("1998-01-01 00:00:00"))
        .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"),
          col("l_discount"), year(col("l_shipdate")).cast("long").as("l_year"))
        .join(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(ns, col("s_nationkey") === col("s_nk"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(nc, col("c_nationkey") === col("c_nk"))
        .where(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg(d(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))).as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),

    // ── TPC-H Q8 shape: market share — ONE nation's fraction of a whole
    // REGION's import revenue per year, the conditional-numerator /
    // unconditional-denominator ratio inside one grouped aggregate (no
    // second scan, no self-join). Both legs summed in exact decimals;
    // the one division per year runs on the exact totals ──
    "q8_market_share" -> ((s, dir) => {
      val asiaNations = Tables.nation(s, dir)
        .join(Tables.region(s, dir).where(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"))
      val disc = dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
        .join(Tables.orders(s, dir)
            .select(col("o_orderkey"), col("o_custkey"),
              year(col("o_orderdate")).cast("long").as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(asiaNations), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.supplier(s, dir)
            .select(col("s_suppkey"), col("s_nationkey").as("supp_nk")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)
            .select(col("n_nationkey").as("supp_nk"), col("n_name").as("supp_nation"))),
          Seq("supp_nk"))
        .groupBy(col("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_3", disc)
            .otherwise(dec(lit(0)))).as("nation_exact"),
          sum(disc).as("total_exact"))
        .select(
          col("o_year"),
          round(d(col("nation_exact")) / d(col("total_exact")), 6).as("mkt_share"),
          d(col("nation_exact")).as("nation_revenue"),
          d(col("total_exact")).as("total_revenue"))
        .orderBy(col("o_year"))
    }),

    // ── TPC-H Q9 shape: 5-way star profit — per-row margin in EXACT
    // decimals (revenue minus retail cost; no partsupp in the fixture, so
    // p_retailprice·qty stands in for ps_supplycost·qty), grouped by
    // supplier nation × order year. Part/nation broadcast, fact-fact
    // sort-merge ──
    "q9_product_profit" -> ((s, dir) => {
      val gearParts = Tables.part(s, dir)
        .where(col("p_name").like("%gear%"))
        .select(col("p_partkey"), col("p_retailprice"))
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .join(broadcast(gearParts), col("l_partkey") === col("p_partkey"))
        .join(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .join(Tables.orders(s, dir)
            .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name"), col("o_year"))
        .agg(d(sum(
          dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))) -
            dec(col("p_retailprice")) * dec(col("l_quantity")))).as("profit"))
        .orderBy(col("n_name"), col("o_year"))
    }),

    // ── TPC-H Q10 shape: returned-revenue top customers — date-bounded
    // orders ⋈ R-flagged lineitem (both filters pushed to their scans),
    // customer equi-join, nation broadcast; top-20 ranked on the EXACT
    // decimal revenue with a key tie-break so the limit is engine-neutral ──
    "q10_returned_rev" -> ((s, dir) => {
      val ord = Tables.orders(s, dir)
        .where(col("o_orderdate") >= ts("1997-01-01 00:00:00") &&
          col("o_orderdate") < ts("1997-04-01 00:00:00"))
        .select(col("o_orderkey"), col("o_custkey"))
      Tables.lineitem(s, dir)
        .where(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir)
            .select(col("c_custkey"), col("c_name"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))).as("rev_exact"))
        .orderBy(col("rev_exact").desc, col("c_custkey"))
        .limit(20)
        .select(col("c_custkey"), col("c_name"), col("n_name"),
          d(col("rev_exact")).as("revenue"))
    }),

    // ── TPC-H Q13 shape: customer order-count distribution — LEFT join
    // with an EXTRA non-key predicate (the classic outer-join-condition
    // trap: the filter must ride the join, not the WHERE, or no-order
    // customers vanish), then a second aggregation over the first's
    // result ──
    "q13_cust_orders_dist" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
          |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
          |      FROM customer LEFT JOIN orders
          |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          |      GROUP BY c_custkey) t
          |GROUP BY c_count
          |ORDER BY custdist DESC, c_count DESC""".stripMargin)
    }),

    // ── TPC-H Q14 shape: conditional-aggregate share — promo revenue over
    // total in one pass (no second scan, no self-join); both legs summed
    // in exact decimals, the single division happens once on the exact
    // totals ──
    "q14_promo_share" -> ((s, dir) => {
      val disc = dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= ts("1997-09-01 00:00:00") &&
          col("l_shipdate") < ts("1997-10-01 00:00:00"))
        .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
        .join(broadcast(Tables.part(s, dir).select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", disc).otherwise(dec(lit(0)))).as("promo_exact"),
          sum(disc).as("total_exact"))
        .select(
          round(d(col("promo_exact")) * 100 / d(col("total_exact")), 6).as("promo_pct"),
          d(col("promo_exact")).as("promo_revenue"),
          d(col("total_exact")).as("total_revenue"))
    }),

    // ── TPC-H Q15 shape: argmax against an uncorrelated scalar subquery
    // over a CTE used twice — the quarter's top supplier(s) by exact
    // decimal revenue; the max-equality is decimal-exact so ties are
    // deterministic, and the scalar plans as a one-row subquery, not a
    // join ──
    "q15_top_supplier" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """WITH rev AS (
          |  SELECT l_suppkey,
          |         sum(CAST(l_extendedprice AS DECIMAL(18,2))
          |             * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS r
          |  FROM lineitem
          |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
          |  GROUP BY l_suppkey)
          |SELECT s_suppkey, s_name, CAST(r AS DOUBLE) AS total_revenue
          |FROM supplier JOIN rev ON s_suppkey = l_suppkey
          |WHERE r = (SELECT max(r) FROM rev)
          |ORDER BY s_suppkey""".stripMargin)
    }),

    // ── TPC-H Q16 shape: NOT IN (null-aware anti-join) + multi-key
    // COUNT(DISTINCT) — supplier variety per part classification,
    // excluding flagged suppliers (negative balance stands in for the
    // complaints predicate) ──
    "q16_supp_variety" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT p_brand, p_type, p_size,
          |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
          |FROM lineitem JOIN part ON p_partkey = l_partkey
          |WHERE p_brand <> 'Brand#1'
          |  AND p_type <> 'PROMO'
          |  AND p_size IN (1, 5, 10, 15, 20, 25)
          |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
          |GROUP BY p_brand, p_type, p_size
          |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)
    }),

    // ── TPC-H Q18 shape: IN over a grouped HAVING on the SAME fact — the
    // large-order semi-join probes lineitem's own aggregation; quantities
    // are integer-valued doubles so the sums and the threshold are exact ──
    "q18_large_orders" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT c_custkey, c_name, o_orderkey, o_totalprice,
          |       CAST(sum(l_quantity) AS DOUBLE) AS total_qty
          |FROM customer
          |JOIN orders ON c_custkey = o_custkey
          |JOIN lineitem ON o_orderkey = l_orderkey
          |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
          |                     GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
          |GROUP BY c_custkey, c_name, o_orderkey, o_totalprice
          |ORDER BY o_totalprice DESC, o_orderkey
          |LIMIT 100""".stripMargin)
    }),

    // ── TPC-H Q19 shape: disjunctive brand/size/quantity predicate — ONE
    // equi-join on partkey with the OR-of-ANDs as a residual filter (the
    // planner must not expand the disjunction into a union of three
    // scans), exact decimal revenue ──
    "q19_disjunctive_rev" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .join(broadcast(Tables.part(s, dir)
            .select(col("p_partkey"), col("p_brand"), col("p_size"))),
          col("l_partkey") === col("p_partkey"))
        .where(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
            col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 20) &&
            col("l_quantity").between(10, 30)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 30) &&
            col("l_quantity").between(20, 40)))
        .agg(
          d(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))).as("revenue"),
          count(lit(1)).as("n_items")))
  )

  val oracleSql: Map[String, String] = Map(
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2) AS sum_charge,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
        |  round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-12-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q6_revenue" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.04 AND 0.08
        |  AND l_quantity < 24""".stripMargin,

    "join_cust_orders" ->
      """SELECT c_mktsegment,
        |  count(o_orderkey) AS n_orders,
        |  count(DISTINCT c_custkey) AS n_cust,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "join_part_brand" ->
      """SELECT p_brand,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    // the salted join must be INDISTINGUISHABLE from the plain join — the
    // oracle is deliberately the unsalted SQL
    "join_salted_skew" ->
      """SELECT p_brand,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "semi_orders_bigqty" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 48)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "anti_orders_bigqty" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price
        |FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem l
        |                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 48)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // shuffle_skew_report: the same md5 bucket model over both layouts
    "shuffle_skew_report" ->
      """WITH b AS (
        |  SELECT 'raw' AS layout,
        |         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 32 AS bucket
        |  FROM events
        |  UNION ALL
        |  SELECT 'salted' AS layout,
        |         ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#' ||
        |                             CAST(event_id % 8 AS VARCHAR)), 1, 8))::BIGINT % 32 AS bucket
        |  FROM events
        |), g AS (
        |  SELECT layout, bucket, count(*) AS n_rows FROM b GROUP BY layout, bucket
        |)
        |SELECT layout, count(*) AS n_buckets_used,
        |       CAST(sum(n_rows) AS BIGINT) AS total_rows,
        |       max(n_rows) AS max_load,
        |       max(n_rows) * 32 * 1000000 // CAST(sum(n_rows) AS BIGINT) AS imbalance_ppm
        |FROM g GROUP BY layout ORDER BY layout""".stripMargin,

    // join_bloom_prefilter: the bloom prefilter must not change the exact
    // join result (no false negatives), so the oracle is the PLAIN join —
    // the law column replays as literal TRUE
    "join_bloom_prefilter" ->
      """WITH cust AS (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |), j AS (
        |  SELECT o_orderpriority, count(*) AS n_orders,
        |         CAST(sum(o_orderkey) AS BIGINT) AS sum_orderkey
        |  FROM orders JOIN cust ON o_custkey = c_custkey
        |  GROUP BY o_orderpriority
        |), e AS (
        |  SELECT count(*) AS n_exact_semi FROM orders
        |  WHERE o_custkey IN (SELECT c_custkey FROM cust)
        |)
        |SELECT o_orderpriority, n_orders, sum_orderkey,
        |       TRUE AS no_false_negatives, n_exact_semi
        |FROM j, e ORDER BY o_orderpriority""".stripMargin,

    "union_weekly_counts" ->
      """WITH u AS (
        |  SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-08'
        |  UNION ALL
        |  SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
        |  UNION ALL
        |  SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-22'
        |  UNION ALL
        |  SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-22' AND ts < TIMESTAMP '2024-02-01'
        |)
        |SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users
        |FROM u GROUP BY event_type ORDER BY event_type""".stripMargin,

    "window_lag_gaps" ->
      """WITH g AS (
        |  SELECT user_id,
        |         CAST(floor(epoch(ts)) AS BIGINT)
        |           - lag(CAST(floor(epoch(ts)) AS BIGINT))
        |             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM events
        |)
        |SELECT user_id, count(gap) AS n_gaps,
        |       CAST(sum(gap) AS BIGINT) AS sum_gap,
        |       round(CAST(sum(gap) AS DOUBLE) / count(gap), 6) AS avg_gap
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,

    "window_ffill_purchase" ->
      """WITH f AS (
        |  SELECT user_id,
        |         last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carry
        |  FROM events
        |)
        |SELECT user_id, count(carry) AS n_carried,
        |       round(sum(carry), 2) AS sum_carry
        |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin,

    "window_argmax_last_event" ->
      """WITH r AS (
        |  SELECT user_id, event_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |)
        |SELECT user_id, event_id, event_type, value
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // DuckDB's NATIVE ASOF JOIN — an independent implementation of the
    // backward as-of semantics, so the hash match cross-validates the
    // union-sort formulation against a second engine's range-lookup one
    "asof_last_purchase" ->
      """WITH l AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type <> 'purchase'
        |), r AS (
        |  SELECT user_id, ts, max(value) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
        |)
        |SELECT l.event_id, l.user_id, round(r.purchase_value, 6) AS purchase_value
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin,

    // asof_next_purchase: DuckDB's native forward ASOF (l.ts <= r.ts picks
    // the smallest r.ts >= l.ts); the 48 h tolerance nulls on whole
    // seconds exactly like the Spark side
    "asof_next_purchase" ->
      """WITH l AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type <> 'purchase'
        |), r AS (
        |  SELECT user_id, ts, max(value) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
        |)
        |SELECT l.event_id, l.user_id,
        |       CASE WHEN r.ts IS NOT NULL
        |              AND CAST(floor(epoch(r.ts)) AS BIGINT)
        |                  - CAST(floor(epoch(l.ts)) AS BIGINT) <= 172800
        |            THEN round(r.purchase_value, 6) END AS purchase_value
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts
        |ORDER BY l.event_id""".stripMargin,

    // replayed as a plain theta join — DuckDB's optimizer handles the small
    // interval set; the Spark side's binning must be result-invisible
    "range_join_sessions" ->
      """WITH lagged AS (
        |  SELECT event_id, user_id, ts,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS epoch_sec,
        |         lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id) AS prev_epoch_sec
        |  FROM events WHERE user_id < 5
        |), flagged AS (
        |  SELECT *, (prev_epoch_sec IS NULL OR epoch_sec - prev_epoch_sec >= 300) AS is_new
        |  FROM lagged
        |), sess AS (
        |  SELECT *,
        |         CAST(user_id AS VARCHAR) || '#' || CAST(session_start_sec AS VARCHAR) AS session_id
        |  FROM (
        |    SELECT *, max(CASE WHEN is_new THEN epoch_sec END) OVER
        |             (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_start_sec
        |    FROM flagged
        |  )
        |), iv AS (
        |  SELECT session_id, min(epoch_sec) AS start_sec, max(epoch_sec) AS end_sec
        |  FROM sess GROUP BY session_id
        |), p AS (
        |  SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_sec FROM events
        |)
        |SELECT p.event_id, iv.session_id
        |FROM p JOIN iv ON p.epoch_sec >= iv.start_sec AND p.epoch_sec <= iv.end_sec
        |ORDER BY p.event_id, iv.session_id""".stripMargin,

    "window_rank_lead" ->
      """SELECT event_id, user_id,
        |  lead(event_id, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_event_id,
        |  CAST(rank() OVER w_val AS BIGINT) AS value_rank,
        |  CAST(dense_rank() OVER w_val AS BIGINT) AS value_dense_rank,
        |  CAST(ntile(4) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS quartile,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
        |    PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |    RANGE BETWEEN 300 PRECEDING AND CURRENT ROW) AS DOUBLE) AS val_5min
        |FROM events
        |WHERE user_id < 30
        |WINDOW w_val AS (PARTITION BY user_id ORDER BY round(value, 0) DESC)
        |ORDER BY event_id""".stripMargin,

    "pivot_event_counts" ->
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS n_view,
        |  count(*) FILTER (WHERE event_type = 'click') AS n_click,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
        |  count(*) FILTER (WHERE event_type = 'error') AS n_error
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "set_ops_orders" ->
      """WITH big AS (SELECT o_custkey FROM orders WHERE o_totalprice > 100000),
        |fulfilled AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |SELECT o_custkey, 'both' AS tag FROM (SELECT o_custkey FROM big INTERSECT SELECT o_custkey FROM fulfilled)
        |UNION ALL
        |SELECT o_custkey, 'big_only' AS tag FROM (SELECT o_custkey FROM big EXCEPT SELECT o_custkey FROM fulfilled)
        |ORDER BY o_custkey, tag""".stripMargin,

    "cube_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n,
        |  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q3_shipping" ->
      """SELECT l_orderkey,
        |  CAST(o_orderdate AS DATE) AS o_orderdate,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |             * (1 - CAST(l_discount AS DECIMAL(18,2)))) DESC, l_orderkey
        |LIMIT 10""".stripMargin,

    // join_shuffle_hash: strategy hints are result-invisible — the plain
    // join replays it
    "join_shuffle_hash" ->
      """SELECT o_orderpriority,
        |       CAST(count(*) AS BIGINT) AS n_items,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // observe_metrics: the in-flight metrics recomputed relationally
    "observe_metrics" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents,
        |       min(l_orderkey) AS min_key
        |FROM lineitem WHERE l_quantity >= 25""".stripMargin,

    // q11_important_brands: same exact-integer share threshold natively
    "q11_important_brands" ->
      """WITH v AS (
        |  SELECT p_brand,
        |         CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  GROUP BY p_brand
        |)
        |SELECT p_brand, cents
        |FROM v
        |WHERE cents * 50 > (SELECT CAST(sum(cents) AS BIGINT) FROM v)
        |ORDER BY cents DESC, p_brand""".stripMargin,

    // hist_equidepth: SQL-standard ntile over the same total order
    "hist_equidepth" ->
      """WITH t AS (
        |  SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |         ntile(10) OVER (ORDER BY CAST(floor(o_totalprice * 100) AS BIGINT),
        |                         o_orderkey) AS bucket
        |  FROM orders
        |)
        |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n,
        |       min(cents) AS lo_cents, max(cents) AS hi_cents
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,

    // array_funcs: list algebra replayed with DuckDB's list functions
    "array_funcs" ->
      """WITH t AS (
        |  SELECT o_orderkey, generate_series(1, o_orderkey % 5 + 1) AS seq
        |  FROM orders WHERE o_orderkey <= 500
        |)
        |SELECT o_orderkey,
        |  CAST(len(seq) AS BIGINT) AS n_seq,
        |  CAST(list_sum(seq[1:3]) AS BIGINT) AS first3_sum,
        |  CAST(list_sum([x * x for x in seq]) AS BIGINT) AS sum_sq,
        |  CAST(len(list_distinct(flatten([seq, seq]))) AS BIGINT) AS n_distinct,
        |  array_to_string(list_sort(seq, 'DESC'), ',') AS desc_str
        |FROM t ORDER BY o_orderkey""".stripMargin,

    // null_semantics: IS NOT DISTINCT FROM is the <=> twin; count/distinct
    // null treatment is SQL-standard on both engines
    "null_semantics" ->
      """WITH t AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_orderkey % 7 END AS v,
        |         CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderkey % 7 END AS w
        |  FROM orders
        |)
        |SELECT CAST(o_orderkey % 10 AS BIGINT) AS grp,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(v) AS BIGINT) AS n_v,
        |  CAST(count(DISTINCT v) AS BIGINT) AS n_v_distinct,
        |  CAST(count(CASE WHEN v IS NOT DISTINCT FROM w THEN 1 END) AS BIGINT) AS n_nullsafe_eq,
        |  CAST(sum(coalesce(v, -1)) AS BIGINT) AS sum_coalesced,
        |  CAST(count(CASE WHEN nullif(v, 3) IS NULL THEN 1 END) AS BIGINT) AS n_nullified
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,

    // unpivot_metrics: the melt replayed as a stacked UNION ALL
    "unpivot_metrics" ->
      """WITH u AS (
        |  SELECT 'quantity' AS metric, CAST(l_quantity AS DECIMAL(18,2)) AS value FROM lineitem
        |  UNION ALL
        |  SELECT 'extendedprice', CAST(l_extendedprice AS DECIMAL(18,2)) FROM lineitem
        |  UNION ALL
        |  SELECT 'discount', CAST(l_discount AS DECIMAL(18,2)) FROM lineitem
        |)
        |SELECT metric, count(*) AS n,
        |       CAST(sum(value) AS DOUBLE) AS total,
        |       CAST(min(value) AS DOUBLE) AS vmin,
        |       CAST(max(value) AS DOUBLE) AS vmax
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,

    "window_ntile_nth" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
        |  CAST(ntile(4) OVER (PARTITION BY o_orderpriority
        |        ORDER BY floor(o_totalprice) DESC, o_orderkey) AS BIGINT) AS quartile,
        |  first_value(o_orderkey) OVER (PARTITION BY o_orderpriority
        |        ORDER BY floor(o_totalprice) DESC, o_orderkey
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS top_key,
        |  nth_value(o_orderkey, 3) OVER (PARTITION BY o_orderpriority
        |        ORDER BY floor(o_totalprice) DESC, o_orderkey
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS third_key
        |FROM orders WHERE o_custkey < 500
        |ORDER BY o_orderkey""".stripMargin,

    "window_pct_dist" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(floor(o_totalprice / 100.0) AS BIGINT) AS price_band,
        |  round(percent_rank() OVER (PARTITION BY o_custkey
        |        ORDER BY CAST(floor(o_totalprice / 100.0) AS BIGINT) DESC), 6) AS pct_rank,
        |  round(cume_dist() OVER (PARTITION BY o_custkey
        |        ORDER BY CAST(floor(o_totalprice / 100.0) AS BIGINT) DESC), 6) AS cume
        |FROM orders WHERE o_custkey < 100
        |ORDER BY o_orderkey""".stripMargin,

    "q5_region_volume" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "above_avg_orders" ->
      """WITH t AS (
        |  SELECT sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total, count(*) AS n FROM orders
        |)
        |SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders, t
        |WHERE CAST(o_totalprice AS DECIMAL(18,2)) * t.n > t.total
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // quantiles_approx: the exact side replays; the sketch's rank law is
    // asserted TRUE (its guarantee holds under ANY merge order, which is
    // exactly why the raw approx value is not hashed)
    "quantiles_approx" ->
      """WITH g AS (
        |  SELECT l_returnflag AS flag, CAST(l_extendedprice AS DOUBLE) AS v
        |  FROM lineitem
        |), e AS (
        |  SELECT flag, 0.5 AS q, round(quantile_cont(v, 0.5), 6) AS exact_v, count(*) AS n
        |  FROM g GROUP BY flag
        |  UNION ALL
        |  SELECT flag, 0.9, round(quantile_cont(v, 0.9), 6), count(*) FROM g GROUP BY flag
        |  UNION ALL
        |  SELECT flag, 0.99, round(quantile_cont(v, 0.99), 6), count(*) FROM g GROUP BY flag
        |)
        |SELECT flag, q, exact_v, n, TRUE AS rank_ok
        |FROM e ORDER BY flag, q""".stripMargin,

    // assign_ids: the single-partition-sort formulation the operator
    // refuses to plan — same total order, same ids
    "assign_ids" ->
      """SELECT doc_id,
        |       CAST(row_number() OVER (ORDER BY md5(text), doc_id) - 1 AS BIGINT)
        |         AS new_id
        |FROM documents ORDER BY doc_id""".stripMargin,

    // table_profile: exact per-column statistics, approx_ok pinned TRUE
    "table_profile" -> {
      def row(name: String, c: String) =
        s"""SELECT '$name' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
           |       CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |       CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |       CAST(min($c) AS VARCHAR) AS min_v,
           |       CAST(max($c) AS VARCHAR) AS max_v,
           |       TRUE AS approx_ok
           |FROM orders""".stripMargin
      Seq(
        row("o_orderkey", "o_orderkey"), row("o_custkey", "o_custkey"),
        row("o_orderstatus", "o_orderstatus"),
        row("o_orderpriority", "o_orderpriority"),
        row("o_orderdate", "CAST(o_orderdate AS DATE)"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },

    // kll_quantile_rollup: exact percentiles + pinned-TRUE rank law; the
    // n_partials column pins the rollup really had per-year partials
    "kll_quantile_rollup" ->
      """WITH g AS (
        |  SELECT l_returnflag AS flag, CAST(l_extendedprice AS DOUBLE) AS v,
        |         year(l_shipdate) AS yr
        |  FROM lineitem
        |), np AS (
        |  SELECT flag, CAST(count(DISTINCT yr) AS BIGINT) AS n_partials
        |  FROM g GROUP BY flag
        |), e AS (
        |  SELECT flag, 0.5 AS q, round(quantile_cont(v, 0.5), 6) AS exact_v, count(*) AS n
        |  FROM g GROUP BY flag
        |  UNION ALL
        |  SELECT flag, 0.9, round(quantile_cont(v, 0.9), 6), count(*) FROM g GROUP BY flag
        |  UNION ALL
        |  SELECT flag, 0.99, round(quantile_cont(v, 0.99), 6), count(*) FROM g GROUP BY flag
        |)
        |SELECT e.flag, q, exact_v, CAST(n AS BIGINT) AS n, n_partials,
        |       TRUE AS rank_ok
        |FROM e JOIN np ON np.flag = e.flag
        |ORDER BY e.flag, q""".stripMargin,

    // wow_growth: identical lag + signed truncating division
    "wow_growth" ->
      """WITH w AS (
        |  SELECT event_type AS grp, CAST(date_trunc('week', ts) AS DATE) AS week,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT grp, week, n,
        |       lag(n) OVER (PARTITION BY grp ORDER BY week) AS prev_n,
        |       CAST((n - lag(n) OVER (PARTITION BY grp ORDER BY week)) * 1000000
        |            // lag(n) OVER (PARTITION BY grp ORDER BY week) AS BIGINT)
        |         AS growth_ppm
        |FROM w ORDER BY grp, week""".stripMargin,

    // stream_sketch_rollup: the streamed+rolled weekly estimate is the
    // EXACT weekly distinct (exact-mode theta), n_days counts the emitted
    // daily sketch rows, and the stream==batch byte equality rides as a
    // pinned-TRUE law boolean
    "stream_sketch_rollup" ->
      """WITH d AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events)
        |SELECT CAST(date_trunc('week', day) AS DATE) AS week,
        |       CAST(count(DISTINCT day) AS BIGINT) AS n_days,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS wau,
        |       TRUE AS stream_matches_batch
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,

    // stream_bitmap_ingest: exact everywhere — wau is the COUNT(DISTINCT)
    // itself (no estimate), the byte-equality law pinned TRUE
    "stream_bitmap_ingest" ->
      """WITH d AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events)
        |SELECT CAST(date_trunc('week', day) AS DATE) AS week,
        |       CAST(count(DISTINCT day) AS BIGINT) AS n_days,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS wau,
        |       TRUE AS stream_matches_batch
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,

    // stream_kll_ingest: the kll_quantile_rollup oracle shape without the
    // partials column — exact percentiles + pinned rank law
    "stream_kll_ingest" ->
      """WITH g AS (
        |  SELECT l_returnflag AS flag, CAST(l_extendedprice AS DOUBLE) AS v
        |  FROM lineitem
        |), e AS (
        |  SELECT flag, 0.5 AS q, round(quantile_cont(v, 0.5), 6) AS exact_v, count(*) AS n
        |  FROM g GROUP BY flag
        |  UNION ALL
        |  SELECT flag, 0.9, round(quantile_cont(v, 0.9), 6), count(*) FROM g GROUP BY flag
        |  UNION ALL
        |  SELECT flag, 0.99, round(quantile_cont(v, 0.99), 6), count(*) FROM g GROUP BY flag
        |)
        |SELECT flag, q, exact_v, CAST(n AS BIGINT) AS n, TRUE AS rank_ok
        |FROM e ORDER BY flag, q""".stripMargin,

    "quantiles_by_flag" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS p50,
        |  round(quantile_cont(l_quantity, 0.95), 6) AS p95,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "string_funcs" ->
      """SELECT p_partkey,
        |  upper(p_brand) AS brand_upper,
        |  substr(p_name, 1, 8) AS name_prefix,
        |  CAST(length(p_name) AS BIGINT) AS name_len,
        |  regexp_extract(p_type, '^(\w+)', 1) AS type_head,
        |  concat_ws('|', p_brand, p_type) AS brand_type,
        |  lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_padded
        |FROM part ORDER BY p_partkey""".stripMargin,

    "topk_orders" ->
      """SELECT o_orderkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10""".stripMargin,

    "rollup_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n,
        |  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "date_buckets" ->
      """SELECT CAST(date_trunc('week', ts) AS DATE) AS event_week,
        |       CAST(hour(ts) AS BIGINT) AS event_hour,
        |       count(*) AS n, count(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Typed-parse replay: the oracle extracts the same field by regexp — two
    // independent parse routes (Jackson struct vs regexp) must agree on the
    // integer payload.
    "json_typed_agg" ->
      """WITH e AS (
        |  SELECT event_type,
        |         TRY_CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS BIGINT) AS k
        |  FROM events
        |)
        |SELECT event_type, count(*) AS n,
        |       CAST(sum(k) AS BIGINT) AS sum_k,
        |       min(k) AS min_k, max(k) AS max_k
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,

    "case_when_buckets" ->
      """WITH e AS (
        |  SELECT CASE WHEN value < 10 THEN 'small'
        |              WHEN value < 100 THEN 'mid'
        |              ELSE 'large' END AS bucket,
        |         CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k
        |  FROM events
        |)
        |SELECT bucket, count(*) AS n,
        |       CAST(sum(k) AS BIGINT) AS sum_k,
        |       round(CAST(sum(k) AS DOUBLE) / count(*), 6) AS avg_k
        |FROM e GROUP BY bucket ORDER BY bucket""".stripMargin,

    // retention_cohorts: DISTINCT (user, week) replayed relationally;
    // week_offset and retention ppm use // — floor division, which matches
    // Spark's `div` exactly on these nonnegative operands
    "retention_cohorts" ->
      """WITH weekly AS (
        |  SELECT DISTINCT user_id AS u, CAST(date_trunc('week', ts) AS DATE) AS week
        |  FROM events
        |), cohort AS (
        |  SELECT u, min(week) AS cohort_week FROM weekly GROUP BY u
        |), cells AS (
        |  SELECT c.cohort_week,
        |         CAST(date_diff('day', c.cohort_week, w.week) // 7 AS BIGINT) AS week_offset,
        |         CAST(count(*) AS BIGINT) AS n_active
        |  FROM weekly w JOIN cohort c ON w.u = c.u
        |  GROUP BY 1, 2
        |), sizes AS (
        |  SELECT cohort_week, n_active AS cohort_size FROM cells WHERE week_offset = 0
        |)
        |SELECT cells.cohort_week, week_offset, n_active, cohort_size,
        |       CAST(n_active * 1000000 // cohort_size AS BIGINT) AS retention_ppm
        |FROM cells JOIN sizes USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin,

    // fk_integrity_audit: each check expressed directly — orphans are
    // non-null keys missing from the parent plus null keys; PK violations
    // are total minus distinct
    "fk_integrity_audit" ->
      """SELECT 'fk_customer_nation' AS check_name,
        |       (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_checked,
        |       (SELECT CAST(count(*) AS BIGINT) FROM customer
        |        WHERE c_nationkey IS NULL OR c_nationkey NOT IN
        |          (SELECT n_nationkey FROM nation WHERE n_nationkey IS NOT NULL)
        |       ) AS n_violations
        |UNION ALL
        |SELECT 'fk_lineitem_orders',
        |       (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        |       (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |        WHERE l_orderkey IS NULL OR l_orderkey NOT IN
        |          (SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL))
        |UNION ALL
        |SELECT 'fk_orders_customer',
        |       (SELECT CAST(count(*) AS BIGINT) FROM orders),
        |       (SELECT CAST(count(*) AS BIGINT) FROM orders
        |        WHERE o_custkey IS NULL OR o_custkey NOT IN
        |          (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL))
        |UNION ALL
        |SELECT 'pk_customer', CAST(count(*) AS BIGINT),
        |       CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT) FROM customer
        |UNION ALL
        |SELECT 'pk_orders', CAST(count(*) AS BIGINT),
        |       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) FROM orders
        |ORDER BY check_name""".stripMargin,

    // resample_daily: the same carry → end-of-day collapse → spine join →
    // across-days fill; the carried value is transported untouched from
    // parquet (no arithmetic), so no rounding is needed
    "resample_daily" ->
      """WITH f AS (
        |  SELECT user_id, ts, event_id, CAST(ts AS DATE) AS day,
        |         last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carry
        |  FROM events
        |), eod AS (
        |  SELECT DISTINCT user_id, day,
        |         last_value(carry) OVER (PARTITION BY user_id, day
        |             ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS eod_carry,
        |         count(*) OVER (PARTITION BY user_id, day) AS n_events
        |  FROM f
        |), spine AS (
        |  SELECT u.user_id, CAST(d AS DATE) AS day
        |  FROM (SELECT DISTINCT user_id FROM events) u
        |  CROSS JOIN (SELECT unnest(generate_series(
        |    DATE '2024-01-01', DATE '2024-01-30', INTERVAL 1 DAY)) AS d)
        |)
        |SELECT s.user_id, s.day,
        |       CAST(coalesce(e.n_events, 0) AS BIGINT) AS n_events,
        |       last_value(e.eod_carry IGNORE NULLS)
        |         OVER (PARTITION BY s.user_id ORDER BY s.day
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carry_value,
        |       coalesce(e.n_events, 0) = 0 AS is_gap
        |FROM spine s LEFT JOIN eod e ON s.user_id = e.user_id AND s.day = e.day
        |ORDER BY s.user_id, s.day""".stripMargin,

    // feature_pit_join: identical union + IGNORE NULLS fill with
    // features ordering before equal-timestamp requests
    "feature_pit_join" ->
      """WITH ev AS (
        |  SELECT user_id, ts, event_type, value,
        |         CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events
        |), fp AS (
        |  SELECT user_id, ts, max(cents) AS v FROM ev
        |  WHERE event_type = 'purchase' AND value IS NOT NULL GROUP BY 1, 2
        |), fv AS (
        |  SELECT user_id, ts, max(cents) AS v FROM ev
        |  WHERE event_type = 'view' AND value IS NOT NULL GROUP BY 1, 2
        |), u AS (
        |  SELECT user_id, ts, 0 AS side, v AS f_p, CAST(NULL AS BIGINT) AS f_v FROM fp
        |  UNION ALL SELECT user_id, ts, 1, CAST(NULL AS BIGINT), v FROM fv
        |  UNION ALL SELECT user_id, ts, 2, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
        |  FROM ev WHERE event_type = 'click'
        |), w AS (
        |  SELECT user_id, side,
        |    last_value(f_p IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY ts, side
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pc,
        |    last_value(f_v IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY ts, side
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vc
        |  FROM u
        |)
        |SELECT user_id, count(*) AS n_requests,
        |       CAST(sum(pc) AS BIGINT) AS sum_purchase_pit,
        |       CAST(sum(vc) AS BIGINT) AS sum_view_pit,
        |       CAST(sum(CASE WHEN pc IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_cold_start
        |FROM w WHERE side = 2
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // calendar_islands: the row_number-difference run grouping on the
    // distinct-day frame; gaps derived from island lead()
    "calendar_islands" ->
      """WITH days AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS day FROM orders),
        |i AS (SELECT day, day - CAST(row_number() OVER (ORDER BY day) AS INTEGER) AS grp
        |      FROM days),
        |isl AS (SELECT min(day) AS start, max(day) AS "end",
        |               CAST(count(*) AS BIGINT) AS n_days
        |        FROM i GROUP BY grp),
        |g AS (SELECT "end" AS pend, lead(start) OVER (ORDER BY start) AS ns FROM isl)
        |SELECT * FROM (
        |  SELECT 'island' AS kind, start, "end", n_days FROM isl
        |  UNION ALL
        |  SELECT 'gap', CAST(pend + 1 AS DATE), CAST(ns - 1 AS DATE),
        |         CAST(date_diff('day', pend, ns) - 1 AS BIGINT)
        |  FROM g WHERE ns IS NOT NULL
        |) ORDER BY start, kind""".stripMargin,

    // revenue_proration: the same floor-division largest-remainder split;
    // conservation holds by the division identity, pinned TRUE
    "revenue_proration" ->
      """WITH o AS (
        |  SELECT o_orderkey AS key, CAST(o_orderdate AS DATE) AS day0,
        |         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey % 100 = 0
        |), e AS (
        |  SELECT key, day0, cents, CAST(t.i AS INTEGER) AS i
        |  FROM o CROSS JOIN (SELECT unnest(range(0, 7)) AS i) t
        |)
        |SELECT key, day0 + i AS day,
        |       (cents - cents % 7) // 7
        |         + CASE WHEN i < cents % 7 THEN 1 ELSE 0 END AS day_cents,
        |       TRUE AS conservation_ok
        |FROM e ORDER BY key, day""".stripMargin,

    // copurchase_pairs: identical cap rank (count desc, item asc) and
    // ordered self-join; support is basket count on both sides
    "copurchase_pairs" ->
      """WITH rel AS (
        |  SELECT o_custkey AS bk, l_partkey AS it
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), b AS (
        |  SELECT bk, it, CAST(count(*) AS BIGINT) AS n FROM rel GROUP BY 1, 2
        |), capped AS (
        |  SELECT bk, it FROM (
        |    SELECT bk, it,
        |           row_number() OVER (PARTITION BY bk ORDER BY n DESC, it) AS rk
        |    FROM b)
        |  WHERE rk <= 8
        |)
        |SELECT l.it AS item_a, r.it AS item_b, CAST(count(*) AS BIGINT) AS support
        |FROM capped l JOIN capped r ON l.bk = r.bk AND l.it < r.it
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY support DESC, item_a, item_b LIMIT 50""".stripMargin,

    // changepoint_cusum: identical scaled deviation over observed days;
    // argmax ties break to the earliest day on both sides
    "changepoint_cusum" ->
      """WITH daily AS (
        |  SELECT event_type AS series, CAST(ts AS DATE) AS day,
        |         CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2
        |), dev AS (
        |  SELECT series, day,
        |    row_number() OVER (PARTITION BY series ORDER BY day) AS i,
        |    sum(x) OVER (PARTITION BY series ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_i,
        |    count(*) OVER (PARTITION BY series) AS m,
        |    sum(x) OVER (PARTITION BY series) AS s_m
        |  FROM daily
        |), dd AS (
        |  SELECT series, day, m * s_i - i * s_m AS d, m, s_m,
        |    row_number() OVER (PARTITION BY series
        |      ORDER BY abs(m * s_i - i * s_m) DESC, day) AS rk
        |  FROM dev
        |)
        |SELECT series, day AS change_day, CAST(d AS BIGINT) AS dev_scaled,
        |       CAST(m AS BIGINT) AS n_days, CAST(s_m AS BIGINT) AS n_events
        |FROM dd WHERE rk = 1 ORDER BY series""".stripMargin,

    // resample_interp: identical anchors via IGNORE NULLS windows over
    // the same spine; `//` replays Spark's `div` truncation bitwise
    "resample_interp" ->
      """WITH obs AS (
        |  SELECT user_id, day, obs FROM (
        |    SELECT user_id, CAST(ts AS DATE) AS day,
        |           CAST(floor(value * 100) AS BIGINT) AS obs,
        |           row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                              ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events
        |    WHERE event_type = 'purchase' AND value IS NOT NULL)
        |  WHERE rn = 1
        |), spine AS (
        |  SELECT u.user_id, CAST(d AS DATE) AS day
        |  FROM (SELECT DISTINCT user_id FROM events) u
        |  CROSS JOIN (SELECT unnest(generate_series(
        |    DATE '2024-01-01', DATE '2024-01-30', INTERVAL 1 DAY)) AS d)
        |), w AS (
        |  SELECT s.user_id, s.day, o.obs,
        |    last_value(o.obs IGNORE NULLS) OVER
        |      (PARTITION BY s.user_id ORDER BY s.day
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
        |    last_value(CASE WHEN o.obs IS NOT NULL THEN s.day END IGNORE NULLS) OVER
        |      (PARTITION BY s.user_id ORDER BY s.day
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_d,
        |    first_value(o.obs IGNORE NULLS) OVER
        |      (PARTITION BY s.user_id ORDER BY s.day
        |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
        |    first_value(CASE WHEN o.obs IS NOT NULL THEN s.day END IGNORE NULLS) OVER
        |      (PARTITION BY s.user_id ORDER BY s.day
        |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_d
        |  FROM spine s LEFT JOIN obs o ON s.user_id = o.user_id AND s.day = o.day
        |)
        |SELECT user_id, day, obs,
        |       CASE WHEN obs IS NOT NULL THEN obs
        |            WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
        |            THEN prev_v + (next_v - prev_v) * datediff('day', prev_d, day)
        |                 // datediff('day', prev_d, next_d)
        |       END AS filled
        |FROM w ORDER BY user_id, day""".stripMargin,

    // ab_mannwhitney: identical doubled-rank derivation over the
    // distinct-value frame; both rank sums independent, identity measured
    "ab_mannwhitney" ->
      """WITH g AS (
        |  SELECT o_custkey % 2 AS grp,
        |         CAST(floor(o_totalprice / 100) AS BIGINT) AS v FROM orders
        |), bv AS (
        |  SELECT v, CAST(count(*) AS BIGINT) AS t,
        |         CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t1
        |  FROM g GROUP BY v
        |), r AS (
        |  SELECT v, t, t1,
        |         coalesce(sum(t) OVER (ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t, 0) AS below
        |  FROM bv
        |), a AS (
        |  SELECT sum(t) AS n, sum(t1) AS n1,
        |         sum(t1 * (2 * below + t + 1)) AS r1d,
        |         sum((t - t1) * (2 * below + t + 1)) AS r0d
        |  FROM r
        |)
        |SELECT CAST(n - n1 AS BIGINT) AS n0,
        |       CAST(n1 AS BIGINT) AS n1,
        |       CAST(r1d AS BIGINT) AS r1_doubled,
        |       CAST(r1d - n1 * (n1 + 1) AS BIGINT) AS u1_doubled,
        |       CAST(r0d - (n - n1) * (n - n1 + 1) AS BIGINT) AS u0_doubled,
        |       (r0d - (n - n1) * (n - n1 + 1)) + (r1d - n1 * (n1 + 1))
        |         = 2 * (n - n1) * n1 AS identity_holds
        |FROM a""".stripMargin,

    // rolling_revenue_7d: same daily pre-agg + integer-epoch-day RANGE
    // frame; decimal sums throughout, double only at the boundary
    "rolling_revenue_7d" ->
      """WITH daily AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS day,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS day_rev,
        |         CAST(count(*) AS BIGINT) AS n_orders,
        |         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS epoch_day
        |  FROM orders GROUP BY 1, 2
        |)
        |SELECT o_custkey, day,
        |       CAST(day_rev AS DOUBLE) AS day_revenue,
        |       CAST(sum(n_orders) OVER w AS BIGINT) AS n_orders_roll,
        |       CAST(sum(day_rev) OVER w AS DOUBLE) AS revenue_roll
        |FROM daily
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch_day
        |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, day""".stripMargin,

    // event_transitions: identical lead() pairing under (ts, event_id)
    // order; per-from totals via a window over the counts frame
    "event_transitions" ->
      """WITH p AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events
        |), c AS (
        |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n,
        |         sum(count(*)) OVER (PARTITION BY from_type) AS n_from
        |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT from_type, to_type, n,
        |       CAST(n * 1000000 // n_from AS BIGINT) AS p_ppm
        |FROM c ORDER BY from_type, to_type""".stripMargin,

    // funnel_within: the bounded conditional-min chain
    "funnel_within" ->
      """WITH e AS (
        |  SELECT user_id AS u, event_type AS et,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events
        |), s1 AS (
        |  SELECT u, min(sec) AS t FROM e WHERE et = 'view' GROUP BY u
        |), s2 AS (
        |  SELECT e.u, min(e.sec) AS t FROM e JOIN s1
        |    ON e.u = s1.u AND e.sec >= s1.t AND e.sec <= s1.t + 3600
        |  WHERE e.et = 'click' GROUP BY e.u
        |), s3 AS (
        |  SELECT e.u, min(e.sec) AS t FROM e JOIN s2
        |    ON e.u = s2.u AND e.sec >= s2.t AND e.sec <= s2.t + 3600
        |  WHERE e.et = 'purchase' GROUP BY e.u
        |), c AS (
        |  SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name,
        |         CAST(count(*) AS BIGINT) AS n_users FROM s1
        |  UNION ALL
        |  SELECT 2, 'click', count(*) FROM s2
        |  UNION ALL
        |  SELECT 3, 'purchase', count(*) FROM s3
        |)
        |SELECT step, step_name, n_users,
        |       CAST(n_users * 1000000 // (SELECT n_users FROM c WHERE step = 1) AS BIGINT)
        |         AS conv_ppm
        |FROM c ORDER BY step""".stripMargin,

    // funnel_within_any: the same chain as EXISTS subqueries — an event
    // qualifies via ANY qualifying predecessor occurrence
    "funnel_within_any" ->
      """WITH e AS (
        |  SELECT user_id AS u, event_type AS et,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events
        |), q1 AS (
        |  SELECT u, sec FROM e WHERE et = 'view'
        |), q2 AS (
        |  SELECT e.u, e.sec FROM e WHERE et = 'click' AND EXISTS (
        |    SELECT 1 FROM q1 WHERE q1.u = e.u
        |      AND e.sec >= q1.sec AND e.sec <= q1.sec + 3600)
        |), q3 AS (
        |  SELECT e.u, e.sec FROM e WHERE et = 'purchase' AND EXISTS (
        |    SELECT 1 FROM q2 WHERE q2.u = e.u
        |      AND e.sec >= q2.sec AND e.sec <= q2.sec + 3600)
        |), c AS (
        |  SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name,
        |         CAST(count(DISTINCT u) AS BIGINT) AS n_users FROM q1
        |  UNION ALL
        |  SELECT 2, 'click', count(DISTINCT u) FROM q2
        |  UNION ALL
        |  SELECT 3, 'purchase', count(DISTINCT u) FROM q3
        |)
        |SELECT step, step_name, n_users,
        |       CAST(n_users * 1000000 // (SELECT n_users FROM c WHERE step = 1) AS BIGINT)
        |         AS conv_ppm
        |FROM c ORDER BY step""".stripMargin,

    // mode_exact: identical count-then-rank with the stated tie-break
    "mode_exact" ->
      """WITH counted AS (
        |  SELECT l_returnflag AS flag, CAST(floor(l_quantity) AS BIGINT) AS qty,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM lineitem GROUP BY 1, 2
        |), ranked AS (
        |  SELECT flag, qty, n,
        |         row_number() OVER (PARTITION BY flag ORDER BY n DESC, qty) AS rk
        |  FROM counted
        |)
        |SELECT flag, qty AS mode_qty, n AS mode_n
        |FROM ranked WHERE rk = 1 ORDER BY flag""".stripMargin,

    // lateral_top_orders: the identical correlated LATERAL limit-per-row
    "lateral_top_orders" ->
      """SELECT c_custkey, o_orderkey, cents
        |FROM customer,
        |LATERAL (
        |  SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders
        |  WHERE o_custkey = c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey
        |  LIMIT 3
        |)
        |WHERE c_custkey % 97 = 0
        |ORDER BY c_custkey, cents DESC, o_orderkey""".stripMargin,

    // ewma_halving: identical daily-cents frame and horizon-bounded
    // self-join; weights are 1<<d BIGINTs so the sum replays bitwise
    "ewma_halving" ->
      """WITH daily AS (
        |  SELECT user_id AS key,
        |         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS eday,
        |         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY 1, 2
        |)
        |SELECT d.key AS user_id,
        |       DATE '1970-01-01' + CAST(d.eday AS INT) AS day,
        |       CAST(sum(h.cents * (CAST(1 AS BIGINT) << CAST(15 - (d.eday - h.eday) AS INT))) AS BIGINT)
        |         AS ewma_scaled,
        |       CAST(count(*) AS BIGINT) AS n_terms
        |FROM daily d JOIN daily h
        |  ON h.key = d.key AND h.eday <= d.eday AND h.eday > d.eday - 16
        |GROUP BY 1, 2
        |ORDER BY user_id, day""".stripMargin,

    // seasonal_dow: identical centered RANGE frame, integer dev sums,
    // same (eday+4) mod 7 weekday anchor, round(6) float tail
    "seasonal_dow" ->
      """WITH daily AS (
        |  SELECT event_type AS series,
        |         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS eday,
        |         CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2
        |), t AS (
        |  SELECT series, eday, x,
        |         CAST(sum(x) OVER w AS BIGINT) AS t7,
        |         CAST(count(x) OVER w AS BIGINT) AS n7
        |  FROM daily
        |  WINDOW w AS (PARTITION BY series ORDER BY eday
        |               RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |)
        |SELECT series, CAST((eday + 4) % 7 AS BIGINT) AS dow,
        |       CAST(count(*) AS BIGINT) AS n_days,
        |       CAST(sum(x * 7 - t7) AS BIGINT) AS dev_sum,
        |       round(CAST(sum(x * 7 - t7) AS DOUBLE) / CAST(count(*) * 7 AS DOUBLE), 6)
        |         AS seasonal_r6
        |FROM t WHERE n7 = 7
        |GROUP BY 1, 2 ORDER BY series, dow""".stripMargin,

    // json_props_rollup: DuckDB's JSON extraction over the same payload;
    // the two-API agreement law collapses to count(*) (no disagreement
    // is representable when both engines parse the same JSON)
    "json_props_rollup" ->
      """WITH e AS (
        |  SELECT event_type, CAST(props ->> '$.k' AS BIGINT) AS k FROM events
        |)
        |SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(k) AS BIGINT) AS sum_k,
        |       CAST(min(k) AS BIGINT) AS min_k,
        |       CAST(max(k) AS BIGINT) AS max_k,
        |       CAST(count(*) AS BIGINT) AS n_path_agree
        |FROM e GROUP BY 1 ORDER BY event_type""".stripMargin,

    // window_rank_family: the same four rank functions over the same
    // per-flag quantity levels
    "window_rank_family" ->
      """WITH lvl AS (
        |  SELECT l_returnflag AS flag, CAST(floor(l_quantity) AS BIGINT) AS qty,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM lineitem GROUP BY 1, 2
        |)
        |SELECT flag, qty, n,
        |       CAST(rank() OVER w AS BIGINT) AS rnk,
        |       CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |       round(percent_rank() OVER w, 6) AS pct_r6,
        |       round(cume_dist() OVER w, 6) AS cume_r6
        |FROM lvl
        |WINDOW w AS (PARTITION BY flag ORDER BY qty)
        |ORDER BY flag, qty""".stripMargin,

    // autocorr_lag: same n²-scaled mean-cleared sums, calendar-day pairing
    "autocorr_lag" ->
      """WITH daily AS (
        |  SELECT event_type AS series,
        |         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS eday,
        |         CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2
        |), dev AS (
        |  SELECT series, eday,
        |         CAST(count(*) OVER (PARTITION BY series) AS BIGINT) AS n,
        |         CAST(count(*) OVER (PARTITION BY series) AS BIGINT) * x
        |           - CAST(sum(x) OVER (PARTITION BY series) AS BIGINT) AS dev
        |  FROM daily
        |), num AS (
        |  SELECT a.series, CAST(sum(a.dev * b.dev) AS BIGINT) AS num_scaled,
        |         CAST(count(*) AS BIGINT) AS n_pairs
        |  FROM dev a JOIN dev b ON b.series = a.series AND b.eday = a.eday + 7
        |  GROUP BY 1
        |), den AS (
        |  SELECT series, CAST(sum(dev * dev) AS BIGINT) AS den_scaled,
        |         CAST(max(n) AS BIGINT) AS n_days
        |  FROM dev GROUP BY 1
        |)
        |SELECT num.series, n_days, n_pairs, num_scaled, den_scaled,
        |       round(CAST(num_scaled AS DOUBLE) / CAST(den_scaled AS DOUBLE), 6) AS acf
        |FROM num JOIN den USING (series)
        |ORDER BY series""".stripMargin,

    // skyline_pareto: the INDEPENDENT NOT-EXISTS dominance formulation —
    // cross-checks the window algebra against the definition itself
    "skyline_pareto" ->
      """WITH s AS (
        |  SELECT l_suppkey,
        |         CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty,
        |         CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT a.l_suppkey, a.qty, a.rev
        |FROM s a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM s b
        |  WHERE b.qty >= a.qty AND b.rev >= a.rev
        |    AND (b.qty > a.qty OR b.rev > a.rev))
        |ORDER BY a.qty DESC, a.l_suppkey""".stripMargin,

    // corr_matrix: same one-scan sums in HUGEINT (DuckDB's exact 128-bit),
    // same cast→sqrt→divide→round float tail. The hashed num_scaled column
    // rides as VARCHAR on BOTH sides — the driver's hasher canonicalizes
    // DECIMAL columns differently across engines even at identical declared
    // type and bitwise-identical values (r11 verdict falsified the
    // DECIMAL(38,0) alignment). Standing rule: hashed wide integers ride
    // as STRING, never DECIMAL.
    "corr_matrix" ->
      """WITH li AS (
        |  SELECT l_returnflag AS flag,
        |         CAST(floor(l_quantity * 100) AS BIGINT) AS q,
        |         CAST(floor(l_extendedprice * 100) AS BIGINT) AS p,
        |         CAST(floor(l_discount * 10000) AS BIGINT) AS d
        |  FROM lineitem
        |), agg AS (
        |  SELECT flag, CAST(count(*) AS BIGINT) AS n,
        |         sum(CAST(q AS HUGEINT)) AS sq, sum(CAST(p AS HUGEINT)) AS sp,
        |         sum(CAST(d AS HUGEINT)) AS sd,
        |         sum(CAST(q AS HUGEINT) * q) AS sqq,
        |         sum(CAST(p AS HUGEINT) * p) AS spp,
        |         sum(CAST(d AS HUGEINT) * d) AS sdd,
        |         sum(CAST(q AS HUGEINT) * p) AS sqp,
        |         sum(CAST(q AS HUGEINT) * d) AS sqd,
        |         sum(CAST(p AS HUGEINT) * d) AS spd
        |  FROM li GROUP BY 1
        |), m AS (
        |  SELECT flag, n,
        |         n * sqp - sq * sp AS num_qp,
        |         n * sqd - sq * sd AS num_qd,
        |         n * spd - sp * sd AS num_pd,
        |         n * sqq - sq * sq AS den_q,
        |         n * spp - sp * sp AS den_p,
        |         n * sdd - sd * sd AS den_d
        |  FROM agg
        |), lng AS (
        |  SELECT flag, n, 'q_p' AS pair, num_qp AS num_scaled, den_q AS dx, den_p AS dy FROM m
        |  UNION ALL
        |  SELECT flag, n, 'q_d', num_qd, den_q, den_d FROM m
        |  UNION ALL
        |  SELECT flag, n, 'p_d', num_pd, den_p, den_d FROM m
        |)
        |SELECT flag, pair, n,
        |       CAST(num_scaled AS VARCHAR) AS num_scaled,
        |       round(CAST(num_scaled AS DOUBLE) /
        |             (sqrt(CAST(dx AS DOUBLE)) * sqrt(CAST(dy AS DOUBLE))), 6) AS corr_r6
        |FROM lng ORDER BY flag, pair""".stripMargin,

    // attribution_last_touch: the same strictly-preceding (ts, event_id)
    // forward-fill frame, whole-second window arithmetic, exact cents
    // benford_audit: identical digit extraction and ppm arithmetic; the
    // expectation constants are the same exact literals
    "benford_audit" ->
      """WITH c AS (
        |  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS c FROM orders
        |  WHERE floor(o_totalprice * 100) > 0
        |), d AS (
        |  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |         CAST(count(*) AS BIGINT) AS n_observed
        |  FROM c GROUP BY 1
        |), e AS (
        |  SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939),
        |    (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153),
        |    (9, 45757)) AS t(digit, expected_ppm)
        |), n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM c)
        |SELECT d.digit, d.n_observed, n.n_total,
        |       CAST(d.n_observed * 1000000 // n.n_total AS BIGINT) AS observed_ppm,
        |       CAST(e.expected_ppm AS BIGINT) AS expected_ppm,
        |       CAST(abs(d.n_observed * 1000000 // n.n_total - e.expected_ppm) AS BIGINT)
        |         AS abs_dev_ppm
        |FROM d JOIN e ON d.digit = e.digit CROSS JOIN n
        |ORDER BY d.digit""".stripMargin,

    // attribution_linear: identical window join, equal split with
    // remainder to the (tt DESC, id DESC) head; `//` replays `div`
    "attribution_linear" ->
      """WITH c AS (
        |  SELECT user_id AS u, event_id AS conv_id,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ct,
        |         CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'
        |), t AS (
        |  SELECT user_id AS tu, event_type AS tch,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS tt, event_id AS touch_id
        |  FROM events WHERE event_type IN ('view', 'click')
        |), j AS (
        |  SELECT c.conv_id, c.cents, t.tch, t.tt, t.touch_id
        |  FROM c LEFT JOIN t
        |    ON c.u = t.tu AND t.tt <= c.ct AND c.ct - t.tt <= 604800
        |), p AS (
        |  SELECT *,
        |    count(touch_id) OVER (PARTITION BY conv_id) AS n,
        |    row_number() OVER (PARTITION BY conv_id
        |      ORDER BY tt DESC, touch_id DESC) AS rk
        |  FROM j
        |)
        |SELECT CASE WHEN n = 0 THEN 'unattributed' ELSE tch END AS channel,
        |       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conversions,
        |       CAST(sum(CASE WHEN n = 0 THEN cents
        |            ELSE cents // n +
        |                 CASE WHEN rk = 1 THEN cents - (cents // n) * n ELSE 0 END
        |            END) AS BIGINT) AS credit_cents
        |FROM p GROUP BY 1 ORDER BY channel""".stripMargin,

    // join_size_cms: identical md5 cell chain (the top_tokens_cms
    // fragment) squared per bucket; laws re-derived from the exact sum
    "join_size_cms" ->
      s"""WITH k AS (SELECT CAST(o_custkey AS VARCHAR) AS tok FROM orders),
         |ce AS (SELECT tok, r AS row,
         |        ('0x' || substr(md5('cms' || CAST(r AS VARCHAR) || '_' || tok), 1, 8))::BIGINT
         |          % ${graft.operators.CountMin.Width} AS bucket
         |       FROM k, unnest(range(0, ${graft.operators.CountMin.Depth})) AS t(r)),
         |sk AS (SELECT row, bucket, CAST(count(*) AS BIGINT) AS cnt FROM ce GROUP BY 1, 2),
         |ip AS (SELECT row, sum(cnt * cnt) AS ip FROM sk GROUP BY row),
         |e AS (SELECT min(ip) AS est FROM ip),
         |x AS (SELECT CAST(sum(c * c) AS BIGINT) AS exact_size
         |      FROM (SELECT count(*) AS c FROM orders GROUP BY o_custkey)),
         |nn AS (SELECT count(*) AS n FROM orders)
         |SELECT CAST(e.est AS BIGINT) AS est, x.exact_size,
         |       e.est >= x.exact_size AS ge_exact,
         |       (e.est - x.exact_size) * ${graft.operators.CountMin.Width}
         |         <= 3 * nn.n * nn.n AS within_bound
         |FROM e, x, nn""".stripMargin,

    // survival_km: the identical life-table arithmetic — integer risk
    // sets and the same exp-sum-ln product-limit at 6 dp
    "survival_km" ->
      """WITH d AS (
        |  SELECT datediff('day', o.o_orderdate, l.l_shipdate) AS t,
        |         CASE WHEN l.l_returnflag <> 'R' THEN 1 ELSE 0 END AS ev
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |), byt AS (
        |  SELECT CAST(t AS BIGINT) AS t, count(*) AS n_t,
        |         CAST(sum(ev) AS BIGINT) AS d_events,
        |         CAST(sum(1 - ev) AS BIGINT) AS c_censored
        |  FROM d WHERE t IS NOT NULL AND t >= 0 GROUP BY t
        |), risk AS (
        |  SELECT t, d_events, c_censored,
        |         CAST(sum(n_t) OVER ()
        |           - coalesce(sum(n_t) OVER (ORDER BY t
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS n_at_risk
        |  FROM byt
        |)
        |SELECT t, n_at_risk, d_events, c_censored,
        |       round(exp(sum(ln(CAST(n_at_risk - d_events AS DOUBLE)
        |                        / CAST(n_at_risk AS DOUBLE)))
        |         OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
        |         AS survival_6dp,
        |       round(sum(CAST(d_events AS DOUBLE) / CAST(n_at_risk AS DOUBLE))
        |         OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
        |         AS cumhaz_6dp
        |FROM risk ORDER BY t""".stripMargin,

    // survival_logrank: the identical Mantel-Cox arithmetic — integer
    // risk sets per pooled event time, same double O/E/variance sums
    "survival_logrank" ->
      """WITH d AS (
        |  SELECT datediff('day', o.o_orderdate, l.l_shipdate) AS t,
        |         CASE WHEN l.l_returnflag <> 'R' THEN 1 ELSE 0 END AS ev,
        |         CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |              THEN 1 ELSE 0 END AS grp
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |), byt AS (
        |  SELECT t, count(*) AS n_t,
        |         sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS n1_t,
        |         sum(ev) AS d, sum(CASE WHEN grp = 1 THEN ev ELSE 0 END) AS d1
        |  FROM d WHERE t IS NOT NULL AND t >= 0 GROUP BY t
        |), lt AS (
        |  SELECT *,
        |    sum(n_t) OVER () - coalesce(sum(n_t) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n,
        |    sum(n1_t) OVER () - coalesce(sum(n1_t) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1
        |  FROM byt
        |), agg AS (
        |  SELECT CAST(sum(n_t) AS BIGINT) AS subj_all,
        |         CAST(sum(n1_t) AS BIGINT) AS subj_1,
        |         CAST(sum(d - d1) AS BIGINT) AS o0,
        |         CAST(sum(d1) AS BIGINT) AS o1,
        |         sum(CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE)) AS e1,
        |         sum(CAST(d AS DOUBLE)) AS d_all,
        |         sum(CASE WHEN n > 1 THEN
        |               CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
        |                 * (1.0 - CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
        |                 * (CAST(n AS DOUBLE) - CAST(d AS DOUBLE))
        |                 / (CAST(n AS DOUBLE) - 1.0)
        |             ELSE 0.0 END) AS v
        |  FROM lt
        |)
        |SELECT grp, n_subjects, observed, expected_6dp, chi2_6dp, significant
        |FROM (
        |  SELECT CAST(0 AS BIGINT) AS grp, subj_all - subj_1 AS n_subjects, o0 AS observed,
        |         round(d_all - e1, 6) AS expected_6dp,
        |         round((CAST(o1 AS DOUBLE) - e1) * (CAST(o1 AS DOUBLE) - e1) / v, 6)
        |           AS chi2_6dp,
        |         (CAST(o1 AS DOUBLE) - e1) * (CAST(o1 AS DOUBLE) - e1) / v > 3.8415
        |           AS significant
        |  FROM agg
        |  UNION ALL
        |  SELECT CAST(1 AS BIGINT), subj_1, o1, round(e1, 6),
        |         round((CAST(o1 AS DOUBLE) - e1) * (CAST(o1 AS DOUBLE) - e1) / v, 6),
        |         (CAST(o1 AS DOUBLE) - e1) * (CAST(o1 AS DOUBLE) - e1) / v > 3.8415
        |  FROM agg)
        |ORDER BY grp""".stripMargin,

    // bootstrap_ci: replay every seeded Poisson(1) draw from the SAME
    // exact integer thresholds, the same replica means, the same
    // integer-rank percentile band
    "bootstrap_ci" -> {
      val chain = graft.operators.Analytics.PoissonOneThresholds.init
        .map { case (k, t) => s"WHEN h < ${t} THEN ${k}" }
        .mkString("\n         |           ")
      s"""WITH base AS (
         |  SELECT o_orderpriority AS g, CAST(o_orderkey AS VARCHAR) AS rid,
         |         CAST(floor(o_totalprice * 100) AS BIGINT) AS x,
         |         ('0x' || substr(md5('graft-boot-r11' || '|' ||
         |            CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT % 2147483647
         |           AS seed64
         |  FROM orders
         |), rep AS (
         |  SELECT g, rid, x, b,
         |         ((((seed64 + b * 1103515245) % 2147483647) * 48271 % 2147483647)
         |           * 48271) % 2147483647 AS h
         |  FROM base CROSS JOIN (SELECT unnest(generate_series(0, 99)) AS b)
         |), wtd AS (
         |  SELECT g, b, x,
         |         CAST(CASE $chain ELSE 12 END AS BIGINT) AS w
         |  FROM rep
         |), reps AS (
         |  SELECT g, b, round(CAST(sum(w * x) AS DOUBLE) / CAST(sum(w) AS DOUBLE), 6) AS m
         |  FROM wtd GROUP BY g, b HAVING sum(w) > 0
         |), ranked AS (
         |  SELECT g, b, m,
         |         row_number() OVER (PARTITION BY g ORDER BY m, b) AS rk,
         |         count(*) OVER (PARTITION BY g) AS nb
         |  FROM reps
         |), band AS (
         |  SELECT g,
         |         max(CASE WHEN rk = CAST(floor(nb * 5 / 200.0) AS BIGINT) + 1
         |                  THEN m END) AS ci_lo,
         |         max(CASE WHEN rk = CAST(ceil(nb * 195 / 200.0) AS BIGINT)
         |                  THEN m END) AS ci_hi,
         |         CAST(max(nb) AS BIGINT) AS n_replicas
         |  FROM ranked GROUP BY g
         |), obs AS (
         |  SELECT g, count(*) AS n_rows,
         |         round(CAST(sum(x) AS DOUBLE) / count(*), 6) AS mean_obs
         |  FROM base GROUP BY g
         |)
         |SELECT o.g AS priority, o.n_rows, o.mean_obs,
         |       band.n_replicas, band.ci_lo, band.ci_hi
         |FROM obs o JOIN band USING (g)
         |ORDER BY priority""".stripMargin
    },

    // pattern_sequences: identical code strings via ordered string_agg,
    // identical leftmost non-overlapping match counts
    "pattern_sequences" ->
      """WITH coded AS (
        |  SELECT user_id,
        |         CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
        |              WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
        |              WHEN 'error' THEN 'e' END AS c,
        |         ts, event_id
        |  FROM events
        |), seqs AS (
        |  SELECT user_id AS key,
        |         string_agg(c, '' ORDER BY ts, event_id) AS seq,
        |         CAST(count(*) AS BIGINT) AS n_ev
        |  FROM coded GROUP BY user_id
        |)
        |SELECT key, CAST(length(seq) AS INT) AS seq_len,
        |       length(seq) = n_ev AS all_types_mapped,
        |       CAST(len(regexp_extract_all(seq, 'v[^p]*p')) AS INT)
        |         AS n_view_to_purchase,
        |       CAST(len(regexp_extract_all(seq, 'e[^pe]*p')) AS INT)
        |         AS n_error_recovery
        |FROM seqs ORDER BY key""".stripMargin,

    "attribution_last_touch" ->
      """WITH t AS (
        |  SELECT event_id, ts, user_id, event_type, value,
        |         last_value(CASE WHEN event_type IN ('view', 'click')
        |                         THEN struct_pack(t_sec := CAST(floor(epoch(ts)) AS BIGINT),
        |                                          t_type := event_type) END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
        |  FROM events
        |), p AS (
        |  SELECT CASE WHEN lt IS NULL OR CAST(floor(epoch(ts)) AS BIGINT) - lt.t_sec > 604800
        |              THEN 'unattributed' ELSE lt.t_type END AS channel,
        |         value
        |  FROM t WHERE event_type = 'purchase'
        |)
        |SELECT channel, CAST(count(*) AS BIGINT) AS n_conversions,
        |       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,

    // ab_ztest: identical cross-multiplied inequality on HUGEINT (exact
    // 128-bit — the decimal(38,0) twin of the Spark side)
    "ab_ztest" ->
      """WITH pu AS (
        |  SELECT user_id, user_id % 2 AS grp,
        |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY user_id
        |), g AS (
        |  SELECT grp, CAST(count(*) AS BIGINT) AS n, CAST(sum(conv) AS BIGINT) AS x
        |  FROM pu GROUP BY grp
        |)
        |SELECT a.n AS n1, a.x AS x1, b.n AS n2, b.x AS x2,
        |       CAST(a.x * 1000000 // a.n AS BIGINT) AS rate1_ppm,
        |       CAST(b.x * 1000000 // b.n AS BIGINT) AS rate2_ppm,
        |       (CAST(a.x AS HUGEINT) * b.n - CAST(b.x AS HUGEINT) * a.n)
        |         * (CAST(a.x AS HUGEINT) * b.n - CAST(b.x AS HUGEINT) * a.n)
        |         * (a.n + b.n) * 10000
        |         > 38416 * CAST(a.n AS HUGEINT) * b.n * (a.x + b.x)
        |           * (a.n + b.n - a.x - b.x) AS significant
        |FROM (SELECT * FROM g WHERE grp = 0) a,
        |     (SELECT * FROM g WHERE grp = 1) b""".stripMargin,

    // decay_score: identical integer-exponent weights; pow(2, -k) is an
    // exact binary fraction in both engines
    "decay_score" ->
      """SELECT user_id,
        |       round(sum(value * pow(2.0, -CAST(
        |         greatest(date_diff('day', CAST(ts AS DATE), DATE '2024-02-01'), 0) // 7
        |         AS DOUBLE))), 6) AS decay_score
        |FROM events WHERE value IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    // theta_wow_overlap: exact distinct self-join per consecutive-week
    // pair; the sketch estimates only feed the tolerance booleans, which
    // the oracle pins TRUE
    "theta_wow_overlap" ->
      """WITH uw AS (
        |  SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE) AS week, user_id
        |  FROM events
        |), wk AS (
        |  SELECT week, CAST(count(*) AS BIGINT) AS n FROM uw GROUP BY 1
        |), bo AS (
        |  SELECT x.week, CAST(count(*) AS BIGINT) AS n_both
        |  FROM uw x JOIN uw y
        |    ON y.user_id = x.user_id AND y.week = x.week + 7
        |  GROUP BY 1
        |)
        |SELECT bo.week, CAST(bo.week + 7 AS DATE) AS next_week,
        |       a.n AS n_a, c.n AS n_b, bo.n_both,
        |       a.n - bo.n_both AS n_churned,
        |       c.n - bo.n_both AS n_new,
        |       TRUE AS inter_ok, TRUE AS new_ok
        |FROM bo
        |JOIN wk a ON a.week = bo.week
        |JOIN wk c ON c.week = bo.week + 7
        |ORDER BY bo.week""".stripMargin,

    // theta_total_rollup: exact month-distinct; union_ok pinned TRUE
    "theta_total_rollup" ->
      """SELECT CAST(count(DISTINCT date_trunc('week', ts)) AS BIGINT) AS n_weeks,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_total,
        |       TRUE AS union_ok
        |FROM events""".stripMargin,

    // bitmap_wow_overlap: every column exact — the distinct self-join IS
    // the contract, no tolerance booleans (contrast theta_wow_overlap)
    "bitmap_wow_overlap" ->
      """WITH uw AS (
        |  SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE) AS week, user_id
        |  FROM events
        |), wk AS (
        |  SELECT week, CAST(count(*) AS BIGINT) AS n FROM uw GROUP BY 1
        |), bo AS (
        |  SELECT x.week, CAST(count(*) AS BIGINT) AS n_both
        |  FROM uw x JOIN uw y
        |    ON y.user_id = x.user_id AND y.week = x.week + 7
        |  GROUP BY 1
        |)
        |SELECT bo.week, CAST(bo.week + 7 AS DATE) AS next_week,
        |       a.n AS n_a, c.n AS n_b, bo.n_both,
        |       a.n - bo.n_both AS n_churned,
        |       c.n - bo.n_both AS n_new
        |FROM bo
        |JOIN wk a ON a.week = bo.week
        |JOIN wk c ON c.week = bo.week + 7
        |ORDER BY bo.week""".stripMargin,

    // bitmap_wau_rollup: the daily→weekly bitmap OR must equal the exact
    // weekly COUNT(DISTINCT) — no estimate tolerance anywhere
    "bitmap_wau_rollup" ->
      """SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
        |       CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS wau_exact
        |FROM events
        |GROUP BY 1
        |ORDER BY week""".stripMargin,

    // bitmap_cube_rollup: a REAL grouping-sets count-distinct — the
    // independent formulation of what the bitmap side derives by OR
    "bitmap_cube_rollup" ->
      """SELECT event_type,
        |       CAST(date_trunc('week', ts) AS DATE) AS week,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS users_exact
        |FROM events
        |GROUP BY GROUPING SETS ((event_type, week), (event_type), (week), ())
        |ORDER BY event_type, week""".stripMargin,

    // sliding_wau: each event belongs to the 7 epoch-aligned 1-day-slide
    // windows starting day(ts)-6 .. day(ts); distinct users per window
    "sliding_wau" ->
      """SELECT CAST(CAST(ts AS DATE) - g.o AS DATE) AS window_start,
        |       CAST(CAST(ts AS DATE) - g.o + 7 AS DATE) AS window_end,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
        |FROM events
        |CROSS JOIN (SELECT CAST(unnest(generate_series(0, 6)) AS INTEGER) AS o) g
        |GROUP BY 1, 2
        |ORDER BY window_start""".stripMargin,

    // funnel_steps: the same conditional-min chain — step k's earliest
    // second at or after the step-k-1 reach second
    "funnel_steps" ->
      """WITH e AS (
        |  SELECT user_id AS u, event_type AS et,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events
        |), s1 AS (
        |  SELECT u, min(sec) AS t FROM e WHERE et = 'view' GROUP BY u
        |), s2 AS (
        |  SELECT e.u, min(e.sec) AS t FROM e JOIN s1 ON e.u = s1.u AND e.sec >= s1.t
        |  WHERE e.et = 'click' GROUP BY e.u
        |), s3 AS (
        |  SELECT e.u, min(e.sec) AS t FROM e JOIN s2 ON e.u = s2.u AND e.sec >= s2.t
        |  WHERE e.et = 'purchase' GROUP BY e.u
        |), c AS (
        |  SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name,
        |         CAST(count(*) AS BIGINT) AS n_users FROM s1
        |  UNION ALL
        |  SELECT 2, 'click', count(*) FROM s2
        |  UNION ALL
        |  SELECT 3, 'purchase', count(*) FROM s3
        |)
        |SELECT step, step_name, n_users,
        |       CAST(n_users * 1000000 // (SELECT n_users FROM c WHERE step = 1) AS BIGINT)
        |         AS conv_ppm
        |FROM c ORDER BY step""".stripMargin,

    // funnel_latency: the same reach chain, then nearest-rank quantiles
    // over each transition's latency frame — rank `(n+1) // 2` and
    // `(9n+9) // 10`, truncating mean
    "funnel_latency" ->
      """WITH e AS (
        |  SELECT user_id AS u, event_type AS et,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events
        |), s1 AS (
        |  SELECT u, min(sec) AS t FROM e WHERE et = 'view' GROUP BY u
        |), s2 AS (
        |  SELECT e.u, min(e.sec) AS t FROM e JOIN s1 ON e.u = s1.u AND e.sec >= s1.t
        |  WHERE e.et = 'click' GROUP BY e.u
        |), s3 AS (
        |  SELECT e.u, min(e.sec) AS t FROM e JOIN s2 ON e.u = s2.u AND e.sec >= s2.t
        |  WHERE e.et = 'purchase' GROUP BY e.u
        |), lat AS (
        |  SELECT CAST(1 AS BIGINT) AS step, 'view->click' AS transition,
        |         s2.t - s1.t AS lat
        |  FROM s2 JOIN s1 USING (u)
        |  UNION ALL
        |  SELECT 2, 'click->purchase', s3.t - s2.t FROM s3 JOIN s2 USING (u)
        |), r AS (
        |  SELECT step, transition, lat,
        |         row_number() OVER (PARTITION BY step ORDER BY lat) AS rk,
        |         count(*) OVER (PARTITION BY step) AS n
        |  FROM lat
        |)
        |SELECT step, transition,
        |       CAST(max(n) AS BIGINT) AS n_converted,
        |       CAST(sum(lat) // max(n) AS BIGINT) AS mean_sec,
        |       CAST(max(CASE WHEN rk = (n + 1) // 2 THEN lat END) AS BIGINT) AS p50_sec,
        |       CAST(max(CASE WHEN rk = (9 * n + 9) // 10 THEN lat END) AS BIGINT) AS p90_sec
        |FROM r GROUP BY step, transition ORDER BY step""".stripMargin,

    "grouping_sets_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n,
        |  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    // winsorized_stats: identical two-pass clamp — thresholds rounded to 6
    // BEFORE comparison, winsorized mean over DECIMAL(28,6) sums
    "winsorized_stats" ->
      """WITH th AS (
        |  SELECT l_returnflag AS flag,
        |         round(quantile_cont(l_extendedprice, 0.05), 6) AS lo,
        |         round(quantile_cont(l_extendedprice, 0.95), 6) AS hi
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT flag, count(*) AS n,
        |  CAST(count(*) FILTER (WHERE v < lo) AS BIGINT) AS n_clamped_lo,
        |  CAST(count(*) FILTER (WHERE v > hi) AS BIGINT) AS n_clamped_hi,
        |  round(CAST(sum(CAST(CASE WHEN v < lo THEN lo WHEN v > hi THEN hi ELSE v END
        |        AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6) AS mean_winsorized,
        |  round(CAST(sum(CAST(v AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6) AS mean_raw
        |FROM (SELECT l_returnflag AS flag, l_extendedprice AS v FROM lineitem) x
        |JOIN th USING (flag)
        |GROUP BY flag ORDER BY flag""".stripMargin,

    // regr_components: identical exact-integer sufficient statistics and
    // cross-multiplied slope fraction (HUGEINT-safe in DuckDB, audited
    // BIGINT headroom in Spark)
    "regr_components" ->
      """WITH b AS (
        |  SELECT l_returnflag AS flag,
        |         CAST(floor(l_quantity) AS BIGINT) AS x,
        |         CAST(floor(l_extendedprice) AS BIGINT) AS y
        |  FROM lineitem
        |)
        |SELECT flag, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(x) AS BIGINT) AS sum_x,
        |       CAST(sum(y) AS BIGINT) AS sum_y,
        |       CAST(sum(x * y) AS BIGINT) AS sum_xy,
        |       CAST(sum(x * x) AS BIGINT) AS sum_xx,
        |       CAST(sum(y * y) AS BIGINT) AS sum_yy,
        |       CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS BIGINT) AS slope_num,
        |       CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS BIGINT) AS slope_den
        |FROM b GROUP BY flag ORDER BY flag""".stripMargin,

    // median_exact: identical ranked-window middle-two selection; both
    // engines truncate the rank division identically (div vs //)
    "median_exact" ->
      """WITH c AS (
        |  SELECT o_orderpriority AS prio,
        |         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders
        |), r AS (
        |  SELECT prio, cents,
        |         row_number() OVER (PARTITION BY prio ORDER BY cents) AS rn,
        |         count(*) OVER (PARTITION BY prio) AS cnt
        |  FROM c
        |)
        |SELECT prio, CAST(max(cnt) AS BIGINT) AS n_rows,
        |       CAST(sum(CASE WHEN rn = (cnt + 1) // 2 THEN cents ELSE 0 END)
        |          + sum(CASE WHEN rn = (cnt + 2) // 2 THEN cents ELSE 0 END)
        |         AS BIGINT) AS med2_cents
        |FROM r
        |WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
        |GROUP BY prio ORDER BY prio""".stripMargin,

    // table_fingerprint: the identical canonical serialization and summed
    // two-moment md5 digests per table
    "table_fingerprint" ->
      """WITH o AS (
        |  SELECT concat_ws('|',
        |    coalesce(CAST(o_orderkey AS VARCHAR), '\N'),
        |    coalesce(CAST(o_custkey AS VARCHAR), '\N'),
        |    coalesce(o_orderstatus, '\N'),
        |    coalesce(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), '\N'),
        |    coalesce(strftime(o_orderdate, '%Y-%m-%d'), '\N'),
        |    coalesce(o_orderpriority, '\N')) AS ser
        |  FROM orders
        |), c AS (
        |  SELECT concat_ws('|',
        |    coalesce(CAST(c_custkey AS VARCHAR), '\N'),
        |    coalesce(c_name, '\N'),
        |    coalesce(CAST(c_nationkey AS VARCHAR), '\N'),
        |    coalesce(CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR), '\N'),
        |    coalesce(c_mktsegment, '\N')) AS ser
        |  FROM customer
        |)
        |SELECT 'customer' AS table_name, count(*) AS n_rows,
        |       CAST(sum(('0x' || substr(md5(ser), 1, 8))::BIGINT) AS BIGINT) AS digest1,
        |       CAST(sum(('0x' || substr(md5(ser || '#2'), 1, 8))::BIGINT) AS BIGINT) AS digest2
        |FROM c
        |UNION ALL
        |SELECT 'orders', count(*),
        |       CAST(sum(('0x' || substr(md5(ser), 1, 8))::BIGINT) AS BIGINT),
        |       CAST(sum(('0x' || substr(md5(ser || '#2'), 1, 8))::BIGINT) AS BIGINT)
        |FROM o
        |ORDER BY table_name""".stripMargin,

    // join_bucketed: the bucketed tables hold exactly the source rows, so
    // the oracle is the plain join aggregate; TRUE hash-pins the law
    // column — a shuffling (or non-SMJ) probe plan fails the compare
    "join_bucketed" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  TRUE AS bucketed_no_exchange
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // dq_expectations: each check's aggregate metric recomputed as a
    // scalar subquery, stacked in declaration order
    "dq_expectations" ->
      """WITH m AS (
        |  SELECT
        |    CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS DOUBLE) AS m0,
        |    CAST(count(*) - count(DISTINCT o_orderkey) AS DOUBLE) AS m1,
        |    CAST(count(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P')) AS DOUBLE) AS m2,
        |    CAST(count(*) FILTER (WHERE o_totalprice <= 0.0) AS DOUBLE) AS m3,
        |    CAST(count(*) FILTER (WHERE NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$')) AS DOUBLE) AS m4,
        |    CAST(count(*) FILTER (WHERE o_orderdate NOT BETWEEN TIMESTAMP '1992-01-01' AND TIMESTAMP '2005-12-31') AS DOUBLE) AS m5,
        |    CAST(count(*) AS DOUBLE) AS m6
        |  FROM orders
        |)
        |SELECT r.* FROM m, LATERAL (VALUES
        |  (CAST(0 AS BIGINT), 'complete_custkey', m.m0, m.m0 = 0.0),
        |  (1, 'unique_orderkey',  m.m1, m.m1 = 0.0),
        |  (2, 'status_in_domain', m.m2, m.m2 = 0.0),
        |  (3, 'price_positive',   m.m3, m.m3 = 0.0),
        |  (4, 'priority_pattern', m.m4, m.m4 = 0.0),
        |  (5, 'date_in_range',    m.m5, m.m5 = 0.0),
        |  (6, 'row_count_min',    m.m6, m.m6 >= 1000.0)
        |) AS r(check_rank, check_name, metric, passed)""".stripMargin,

    // anomaly_zscore: the identical integer test over the identical
    // trailing 7-ROW frame (gap days are absent rows on both sides)
    "anomaly_zscore" ->
      """WITH daily AS (
        |  SELECT event_type AS grp, CAST(ts AS DATE) AS day,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |), stats AS (
        |  SELECT grp, day, n,
        |    CAST(count(n) OVER w AS BIGINT) AS n_window,
        |    CAST(sum(n) OVER w AS BIGINT) AS s,
        |    CAST(sum(n * n) OVER w AS BIGINT) AS q
        |  FROM daily
        |  WINDOW w AS (PARTITION BY grp ORDER BY day
        |               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
        |)
        |SELECT grp, day, n, n_window,
        |       CASE WHEN n_window < 7 THEN NULL
        |            ELSE (n_window * n - s) * (n_window * n - s)
        |                 > 9 * (n_window * q - s * s)
        |       END AS is_anomaly
        |FROM stats ORDER BY grp, day""".stripMargin,

    // annotator_kappa: the same contingency → exact-rational-ppm algebra;
    // `//` truncates like Spark's `div` (the wow_growth precedent)
    "annotator_kappa" ->
      """WITH r AS (
        |  SELECT (n_chars >= 300) AS a,
        |         (length(text) - length(replace(text, ' ', '')) >= 39) AS b
        |  FROM documents
        |), c AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(count(CASE WHEN NOT a AND NOT b THEN 1 END) AS BIGINT) AS n00,
        |         CAST(count(CASE WHEN NOT a AND b THEN 1 END) AS BIGINT) AS n01,
        |         CAST(count(CASE WHEN a AND NOT b THEN 1 END) AS BIGINT) AS n10,
        |         CAST(count(CASE WHEN a AND b THEN 1 END) AS BIGINT) AS n11
        |  FROM r
        |)
        |SELECT n, n00, n01, n10, n11,
        |  CAST((n00 + n11) * 1000000 // n AS BIGINT) AS po_ppm,
        |  CAST(((n00 + n01) * (n00 + n10) + (n10 + n11) * (n01 + n11)) * 1000000
        |       // (n * n) AS BIGINT) AS pe_ppm,
        |  CAST((n * (n00 + n11) - ((n00 + n01) * (n00 + n10) + (n10 + n11) * (n01 + n11)))
        |       * 1000000
        |       // nullif(n * n - ((n00 + n01) * (n00 + n10) + (n10 + n11) * (n01 + n11)), 0)
        |       AS BIGINT) AS kappa_ppm
        |FROM c""".stripMargin,

    // calibration_bins: identical integer binning and ppm rates
    "calibration_bins" ->
      """WITH s AS (
        |  SELECT least(1000000, n_chars * 1800) AS sp,
        |         (n_chars + doc_id % 211 >= 400) AS y
        |  FROM documents
        |)
        |SELECT CAST(least(9, sp * 10 // 1000000) AS BIGINT) AS bin,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(CASE WHEN y THEN 1 END) AS BIGINT) AS n_pos,
        |       CAST(sum(sp) // count(*) AS BIGINT) AS conf_ppm,
        |       CAST(count(CASE WHEN y THEN 1 END) * 1000000 // count(*) AS BIGINT) AS acc_ppm,
        |       CAST(sum(sp) // count(*)
        |            - count(CASE WHEN y THEN 1 END) * 1000000 // count(*) AS BIGINT) AS gap_ppm
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,

    // q17_small_qty / q20_heavy_suppliers: DuckDB runs the identical
    // correlated/nested forms natively — both engines must agree on the
    // decorrelated semantics exactly
    "q17_small_qty" ->
      """SELECT p_brand,
        |       CAST(count(*) AS BIGINT) AS n_small,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE l_quantity < 0.2 * (SELECT avg(l2.l_quantity)
        |                          FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,

    "q20_heavy_suppliers" ->
      """SELECT s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%widget%')
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING sum(l_quantity) > 100.0)
        |ORDER BY s_name""".stripMargin,

    // q22_idle_customers: identical exact-integer form runs natively; the
    // only doubles are the per-row floor(c_acctbal*100) products, IEEE-
    // deterministic on both engines
    "q22_idle_customers" ->
      """WITH eligible AS (
        |  SELECT c_custkey, c_nationkey % 7 AS code,
        |         CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer WHERE c_nationkey % 7 IN (0, 1, 2)
        |), pos AS (
        |  SELECT count(*) AS n, sum(cents) AS tot FROM eligible WHERE cents > 0
        |)
        |SELECT e.code, CAST(count(*) AS BIGINT) AS numcust,
        |       CAST(sum(e.cents) AS BIGINT) AS total_cents
        |FROM eligible e CROSS JOIN pos
        |WHERE e.cents * pos.n > pos.tot
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = e.c_custkey
        |                    AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
        |GROUP BY e.code
        |ORDER BY e.code""".stripMargin,

    // q21_waiting: DuckDB runs the identical correlated form natively —
    // both engines must agree on the EXISTS/NOT-EXISTS semantics exactly
    "q21_waiting" ->
      """SELECT s_name, n_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_returnflag = 'R'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_returnflag = 'R')
        |GROUP BY s_name, n_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin,

    // q2/q4/q13/q15/q16/q18: DuckDB runs the identical correlated /
    // subquery forms natively — both engines must agree on the
    // decorrelated semantics exactly
    "q2_min_cost_supp" ->
      """WITH cost AS (
        |  SELECT l_partkey, l_suppkey,
        |         min(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS cents
        |  FROM lineitem GROUP BY l_partkey, l_suppkey
        |)
        |SELECT p_partkey, p_brand, p_type, s_name, c.cents AS min_cents
        |FROM part JOIN cost c ON c.l_partkey = p_partkey
        |          JOIN supplier ON s_suppkey = c.l_suppkey
        |WHERE p_size <= 10
        |  AND c.cents = (SELECT min(c2.cents) FROM cost c2
        |                 WHERE c2.l_partkey = p_partkey)
        |ORDER BY min_cents, p_partkey, s_name
        |LIMIT 100""".stripMargin,

    "q4_order_priority" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q12_shipmode" ->
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_returnflag IN ('A','N')
        |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q7_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name IN ('NATION_1', 'NATION_2')
        |  AND n2.n_name IN ('NATION_1', 'NATION_2')
        |  AND n1.n_name <> n2.n_name
        |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q8_market_share" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  round(CAST(sum(CASE WHEN sn.n_name = 'NATION_3'
        |          THEN CAST(l_extendedprice AS DECIMAL(18,2))
        |               * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |          ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |        / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |               * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6)
        |    AS mkt_share,
        |  CAST(sum(CASE WHEN sn.n_name = 'NATION_3'
        |          THEN CAST(l_extendedprice AS DECIMAL(18,2))
        |               * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |          ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS nation_revenue,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN region ON cn.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q9_product_profit" ->
      """SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |             * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |           - CAST(p_retailprice AS DECIMAL(18,2))
        |             * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%gear%'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q10_returned_rev" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |             * (1 - CAST(l_discount AS DECIMAL(18,2)))) DESC, c_custkey
        |LIMIT 20""".stripMargin,

    "q13_cust_orders_dist" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |      FROM customer LEFT JOIN orders
        |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |      GROUP BY c_custkey) t
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    // q14_promo_share: both legs exact decimals; the one division runs on
    // the exact totals cast to double — IEEE-deterministic on both engines
    "q14_promo_share" ->
      """WITH t AS (
        |  SELECT
        |    sum(CASE WHEN p_type = 'PROMO'
        |          THEN CAST(l_extendedprice AS DECIMAL(18,2))
        |               * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |          ELSE CAST(0 AS DECIMAL(18,2)) END) AS promo_exact,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_exact
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
        |)
        |SELECT round(CAST(promo_exact AS DOUBLE) * 100
        |             / CAST(total_exact AS DOUBLE), 6) AS promo_pct,
        |       CAST(promo_exact AS DOUBLE) AS promo_revenue,
        |       CAST(total_exact AS DOUBLE) AS total_revenue
        |FROM t""".stripMargin,

    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |             * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS r
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(r AS DOUBLE) AS total_revenue
        |FROM supplier JOIN rev ON s_suppkey = l_suppkey
        |WHERE r = (SELECT max(r) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    "q16_supp_variety" ->
      """SELECT p_brand, p_type, p_size,
        |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1'
        |  AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 10, 15, 20, 25)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q18_large_orders" ->
      """SELECT c_custkey, c_name, o_orderkey, o_totalprice,
        |       CAST(sum(l_quantity) AS DOUBLE) AS total_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                     GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
        |GROUP BY c_custkey, c_name, o_orderkey, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin,

    "q19_disjunctive_rev" ->
      """SELECT
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
        |       AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
        |       AND l_quantity BETWEEN 20 AND 40)""".stripMargin
  )
}
