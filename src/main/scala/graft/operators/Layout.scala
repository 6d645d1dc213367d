package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton) clustering and the
  * zone-map file-skipping win it buys over a linear sort.
  *
  * At 100 TB, queries carrying predicates on MORE THAN ONE column are the
  * norm (tenant + time, source + date, user + day), and a table sorted on a
  * single column only prunes on that column: every file's min/max range on
  * the second column spans the whole domain. Interleaving the bits of
  * per-column RANGE-BUCKET ids (the public Delta/Iceberg `OPTIMIZE ZORDER`
  * design: bucket each column by value rank, then Morton-interleave the
  * bucket ids) gives every file a tight min/max box on EVERY participating
  * column, so a box predicate skips all files whose box misses it.
  *
  * Fixture vs cluster shape: here the per-column bucket id is computed with
  * an exact global `rank()` so the DuckDB oracle replays it bitwise; on a
  * cluster the identical bucket id comes from sampled range boundaries
  * (`repartitionByRange`'s sampling, Delta's `range_partition_id`) — a
  * map-side lookup against ~2^dimBits broadcast boundaries, no global sort.
  * Everything downstream of the bucket ids (interleave, file assignment,
  * zone-map min/max, skip decision) is one map-side pass plus one
  * `groupBy(file_id)` whose cardinality is the FILE COUNT, not the row
  * count.
  */
object Layout {

  /** Morton interleave of two bucket ids in `[0, 2^bits)`: bit `i` of `x`
    * lands at position `2i`, bit `i` of `y` at `2i+1`. Pure integer
    * arithmetic (shift / mask / add) so any engine replays it exactly.
    */
  def zorderKey(x: Column, y: Column, bits: Int): Column =
    (0 until bits).map { i =>
      shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)

  /** The same interleave as ANSI SQL over columns named `xb`/`yb`, for the
    * DuckDB oracle (`>>`, `&` and `*` on BIGINT).
    */
  def zorderKeySql(bits: Int): String =
    (0 until bits).map { i =>
      s"((xb >> $i) & 1) * ${1L << (2 * i)} + ((yb >> $i) & 1) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  /** Scan-efficiency report for a box predicate `xLo<=x<=xHi AND
    * yLo<=y<=yHi` under two file layouts over the same rows:
    *
    *  - `linear`: files are contiguous runs of the lexicographic key
    *    `(y_bucket, x_bucket)` — the single-column time-sorted layout.
    *  - `zorder`: files are contiguous runs of the Morton key over the same
    *    bucket ids.
    *
    * Both layouts cut the SAME `2^(2*dimBits)` key domain into
    * `2^fileBits` equal-count files (`(row_rank-1) * nFiles div n_total`),
    * carry a zone map (min/max of the RAW x and y) per file, and scan a
    * file iff its box intersects the predicate box. Output, one row per
    * layout: file counts, files/rows scanned, rows actually matching, and
    * the read amplification in ppm — all integers, hash-compared against
    * the oracle's identical replay.
    */
  /** Range-bucket both columns by exact rank and attach the Morton and
    * lexicographic keys — the shared head of the simulated report
    * ([[scanEfficiency]]) and the physical write ([[writeLayout]]), factored
    * so the two cannot drift. Output columns: `x, y, n_total, xb, yb,
    * z_key, lex_key`.
    */
  /** `rank() OVER (ORDER BY keyCol)` — identical values (ties share a
    * rank), computed WITHOUT the single-partition global window that made
    * every zorder path sort the whole table on one task (`WindowExec: No
    * Partition Defined`; at 100 TB that is one executor sorting the world).
    * Shape: a per-VALUE count (distributed, map-side combined), one
    * cumulative sum over the VALUE table (a window over the aggregate-sized
    * frame — the repo's accepted class), and a join back on the value
    * (`rank(v) = 1 + Σ count(v') for v' < v`). The value table is
    * domain-bounded (bucket/key cardinality), so the planner broadcasts it
    * at any realistic size; the join stays an equi-join either way — never
    * a global sort. Null keys keep the nulls-first rank via a null-safe
    * join key (the window's default ordering put them first).
    */
  /** The (value → rank) table of `rank() OVER (ORDER BY keyCol)` on `df`:
    * per-VALUE counts (distributed, map-side combined) and a cumulative
    * offset over the VALUE table (a window over the aggregate-sized frame —
    * the repo's accepted class; `rank(v) = 1 + Σ count(v′ < v)`, so ties
    * share a rank exactly as rank() gives). `totalOut` piggybacks
    * COUNT(*) OVER () on the same value-table window pass.
    */
  private def rankTable(
      df: DataFrame, keyCol: String, out: String,
      totalOut: Option[String] = None): DataFrame = {
    val counts = df.groupBy(col(keyCol).as("__k"))
      .agg(count(lit(1)).as("__cnt"))
    val w = Window.orderBy(col("__k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked0 = counts
      .withColumn(out, sum(col("__cnt")).over(w) - col("__cnt") + lit(1L))
    val ranked = totalOut.fold(ranked0) { t =>
      val wAll = Window.orderBy(col("__k"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      ranked0.withColumn(t, sum(col("__cnt")).over(wAll))
    }
    ranked.select(col("__k") +: (out +: totalOut.toSeq).map(col): _*)
  }

  /** `rank() OVER (ORDER BY keyCol)` — identical values, computed WITHOUT
    * the single-partition global window that made every zorder path sort
    * the whole table on one task (`WindowExec: No Partition Defined`; at
    * 100 TB that is one executor sorting the world): [[rankTable]] joined
    * back on the value. The value table is domain-bounded (bucket/key
    * cardinality), so the planner broadcasts it; the join stays an
    * equi-join either way — never a global sort. Null keys keep the
    * nulls-first rank via a null-safe join key.
    */
  private def withRankByValue(
      df: DataFrame, keyCol: String, out: String,
      totalOut: Option[String] = None): DataFrame = {
    val ranked = rankTable(df, keyCol, out, totalOut)
    df.join(ranked, df(keyCol) <=> ranked("__k")).drop("__k")
  }

  /** Cache a frame that fans out into several rank/aggregate branches (the
    * file-rank table JOINS the frame against an aggregate of itself): the
    * keyed working set is computed once and every branch reads the cached
    * blocks instead of re-executing the bucket/curve pipeline per
    * reference. Plain persist (not localCheckpoint — the RDD-conversion
    * materialization measured 1–3.5 s of pure overhead per query at sf0.1);
    * blocks are dropped with the frame (bench/oracle runs build a fresh
    * frame per invocation, and the bench quiesce clears the cache).
    */
  private def sharedStage(df: DataFrame): DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  private def mortonKeyed(df: DataFrame, x: Column, y: Column, dimBits: Int): DataFrame = {
    val nBuckets = 1L << dimBits
    val base = df.select(x.cast("long").as("x"), y.cast("long").as("y"))
    // Delta-style per-column range buckets: rank ties share a bucket, so no
    // tie-break column is needed and the oracle's rank() agrees exactly.
    // BOTH rank tables are built in ONE distributed pass — explode each row
    // into (side, value), one map-side-combined count, one cumulative
    // window over the two VALUE tables (aggregate-sized, partitioned by
    // side) — then broadcast-joined back; `rank(v) = 1 + Σ count(v′ < v)`
    // reproduces rank-tie semantics exactly, and n_total piggybacks on the
    // same window pass. The old shape was two single-partition
    // `rank() OVER (ORDER BY col)` global windows plus a global count —
    // one executor sorting the whole table at 100 TB.
    val sides = base.select(explode(array(
        struct(lit(0).as("side"), col("x").as("v")),
        struct(lit(1).as("side"), col("y").as("v")))).as("sv"))
      .select(col("sv.side").as("side"), col("sv.v").as("v"))
    val wCum = Window.partitionBy(col("side")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("side")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val rk = sides.groupBy(col("side"), col("v"))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__rk", sum(col("__cnt")).over(wCum) - col("__cnt") + lit(1L))
      .withColumn("__tot", sum(col("__cnt")).over(wAll))
    val rx = rk.where(col("side") === 0).select(col("v").as("__kx"), col("__rk").as("rank_x"))
    val ry = rk.where(col("side") === 1).select(
      col("v").as("__ky"), col("__rk").as("rank_y"), col("__tot").as("n_total"))
    base
      .join(rx, col("x") <=> col("__kx")).drop("__kx")
      .join(ry, col("y") <=> col("__ky")).drop("__ky")
      .withColumn("xb", expr(s"(rank_x - 1) * ${nBuckets}L div n_total"))
      .withColumn("yb", expr(s"(rank_y - 1) * ${nBuckets}L div n_total"))
      .withColumn("z_key", zorderKey(col("xb"), col("yb"), dimBits))
      .withColumn("lex_key", col("yb") * lit(nBuckets) + col("xb"))
      .select(col("x"), col("y"), col("n_total"), col("xb"), col("yb"),
        col("z_key"), col("lex_key"))
  }

  /** The shared layout-comparison report: every (layout name → curve-key
    * column) pair evaluated in ONE aggregation chain — each keyed row
    * explodes into (layout, key) rows, file ids come from one fused
    * per-layout rank table (the same rank arithmetic as [[rankTable]]),
    * and the per-file zones + per-layout report are two grouped
    * aggregations. The previous shape planned one branch PER layout (each
    * with its own rank window, join, and two aggregations) and unioned
    * them — 3× the stages, and before r17 each branch was a
    * single-partition global sort.
    */
  private def layoutReport(
      keyed: DataFrame,
      layouts: Seq[(String, String)],
      nFiles: Long,
      xLo: Long, xHi: Long, yLo: Long, yHi: Long): DataFrame = {
    val expl = keyed.select(
      col("x"), col("y"), col("n_total"),
      explode(array(layouts.map { case (name, keyCol) =>
        struct(lit(name).as("layout"), col(keyCol).as("key"))
      }: _*)).as("lk"))
      .select(col("x"), col("y"), col("n_total"),
        col("lk.layout").as("layout"), col("lk.key").as("key"))
    val wCum = Window.partitionBy(col("__l")).orderBy(col("__k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rk = expl.groupBy(col("layout").as("__l"), col("key").as("__k"))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__frk", sum(col("__cnt")).over(wCum) - col("__cnt") + lit(1L))
      .select(col("__l"), col("__k"), col("__frk"))
    val zoned = expl
      .join(rk, col("layout") === col("__l") && col("key") <=> col("__k"))
      .withColumn("file_id", expr(s"(__frk - 1) * ${nFiles}L div n_total"))
      .groupBy(col("layout"), col("file_id"))
      .agg(
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"),
        count(lit(1)).as("n_rows"),
        sum(when(col("x").between(xLo, xHi) && col("y").between(yLo, yHi), 1L)
          .otherwise(0L)).as("n_match"))
    val hit = col("max_x") >= xLo && col("min_x") <= xHi &&
      col("max_y") >= yLo && col("min_y") <= yHi
    zoned.groupBy(col("layout"))
      .agg(
        count(lit(1)).as("n_files"),
        sum(when(hit, 1L).otherwise(0L)).as("files_scanned"),
        sum(when(hit, col("n_rows")).otherwise(0L)).as("rows_scanned"),
        sum(col("n_match")).as("rows_matching"))
      .select(
        col("layout"), col("n_files"), col("files_scanned"),
        col("rows_scanned"), col("rows_matching"),
        expr("rows_scanned * 1000000 div greatest(rows_matching, 1)")
          .as("amplification_ppm"))
      .orderBy(col("layout"))
  }

  def scanEfficiency(
      df: DataFrame,
      x: Column,
      y: Column,
      dimBits: Int,
      fileBits: Int,
      xLo: Long,
      xHi: Long,
      yLo: Long,
      yHi: Long): DataFrame = {
    require(dimBits >= 1 && dimBits <= 20, s"dimBits out of range: $dimBits")
    require(fileBits >= 1 && fileBits <= 2 * dimBits, s"fileBits out of range: $fileBits")
    val nFiles = 1L << fileBits
    // shared across the layout legs: computed once, not once per layout
    val keyed = sharedStage(mortonKeyed(df, x, y, dimBits))
    layoutReport(
      keyed, Seq("zorder" -> "z_key", "linear" -> "lex_key"),
      nFiles, xLo, xHi, yLo, yHi)
  }

  /** The oracle replay of [[scanEfficiency]] as one SQL string over a table
    * expression `src` that must yield BIGINT columns `x` and `y`.
    */
  def scanEfficiencySql(
      src: String,
      dimBits: Int,
      fileBits: Int,
      xLo: Long,
      xHi: Long,
      yLo: Long,
      yHi: Long): String = {
    val nBuckets = 1L << dimBits
    val nFiles = 1L << fileBits
    s"""WITH base AS ($src),
       |ranked AS (
       |  SELECT x, y,
       |         (rank() OVER (ORDER BY x) - 1) * $nBuckets // count(*) OVER () AS xb,
       |         (rank() OVER (ORDER BY y) - 1) * $nBuckets // count(*) OVER () AS yb,
       |         count(*) OVER () AS n_total
       |  FROM base
       |), keyed AS (
       |  SELECT x, y, n_total,
       |         ${zorderKeySql(dimBits)} AS z_key,
       |         yb * $nBuckets + xb AS lex_key
       |  FROM ranked
       |), zoned AS (
       |  SELECT layout, file_id,
       |         min(x) AS min_x, max(x) AS max_x,
       |         min(y) AS min_y, max(y) AS max_y,
       |         count(*) AS n_rows,
       |         sum(CASE WHEN x BETWEEN $xLo AND $xHi AND y BETWEEN $yLo AND $yHi
       |                  THEN 1 ELSE 0 END) AS n_match
       |  FROM (
       |    SELECT 'zorder' AS layout, x, y,
       |           (rank() OVER (ORDER BY z_key) - 1) * $nFiles // n_total AS file_id
       |    FROM keyed
       |    UNION ALL
       |    SELECT 'linear' AS layout, x, y,
       |           (rank() OVER (ORDER BY lex_key) - 1) * $nFiles // n_total AS file_id
       |    FROM keyed
       |  )
       |  GROUP BY layout, file_id
       |)
       |SELECT layout,
       |       count(*) AS n_files,
       |       CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
       |       CAST(sum(CASE WHEN hit THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
       |       CAST(sum(n_match) AS BIGINT) AS rows_matching,
       |       CAST(sum(CASE WHEN hit THEN n_rows ELSE 0 END) * 1000000
       |         // greatest(sum(n_match), 1) AS BIGINT) AS amplification_ppm
       |FROM (
       |  SELECT *, (max_x >= $xLo AND min_x <= $xHi AND
       |             max_y >= $yLo AND min_y <= $yHi) AS hit
       |  FROM zoned
       |)
       |GROUP BY layout
       |ORDER BY layout""".stripMargin
  }

  /** Append the HILBERT index of bucket ids `xbCol`/`ybCol` in
    * `[0, 2^bits)` as column `out` — the space-filling curve that, unlike
    * Morton, has NO long jumps: consecutive curve positions are always
    * grid neighbors (|Δx|+|Δy| = 1, the property [[graft.LayoutSpec]]
    * pins exhaustively), which is why Hilbert clustering yields tighter
    * per-file boxes than z-order at the same file count and is what
    * production layout engines reach for beyond ZORDER.
    *
    * This is the textbook xy2d walk (public algorithm): per bit level,
    * accumulate `s²·((3·rx) XOR ry)` and rotate the quadrant frame
    * (flip + swap when ry=0). The rotation makes levels STATEFUL — each
    * level rewrites the working (x, y) — so the unroll materializes one
    * projection per level (`withColumn`, evaluated once) instead of one
    * exponentially-shared expression tree. All pure integer arithmetic:
    * the oracle replays the identical chain ([[hilbertKeySqlCtes]])
    * bitwise. Cost: `bits` narrow projections inside one codegen stage —
    * map-side, no shuffle.
    */
  def withHilbertKey(
      df: DataFrame, xbCol: String, ybCol: String, bits: Int, out: String): DataFrame = {
    require(bits >= 1 && bits <= 20, s"withHilbertKey: bits out of range: $bits")
    var cur = df
      .withColumn("__hx", col(xbCol))
      .withColumn("__hy", col(ybCol))
      .withColumn(out, lit(0L))
    for (i <- (bits - 1) to 0 by -1) {
      val s = 1L << i
      val rx = when(col("__hx").bitwiseAND(lit(s)) =!= 0L, 1L).otherwise(0L)
      val ry = when(col("__hy").bitwiseAND(lit(s)) =!= 0L, 1L).otherwise(0L)
      cur = cur
        .withColumn("__rx", rx)
        .withColumn("__ry", ry)
        .withColumn(out,
          col(out) + lit(s * s) * (col("__rx") * lit(3L)).bitwiseXOR(col("__ry")))
        .withColumn("__fx",
          when(col("__ry") === 0L && col("__rx") === 1L, lit(s - 1L) - col("__hx"))
            .otherwise(col("__hx")))
        .withColumn("__fy",
          when(col("__ry") === 0L && col("__rx") === 1L, lit(s - 1L) - col("__hy"))
            .otherwise(col("__hy")))
        .withColumn("__hx", when(col("__ry") === 0L, col("__fy")).otherwise(col("__fx")))
        .withColumn("__hy", when(col("__ry") === 0L, col("__fx")).otherwise(col("__fy")))
    }
    cur.drop("__hx", "__hy", "__rx", "__ry", "__fx", "__fy")
  }

  /** The oracle replay of [[withHilbertKey]] as a chain of CTEs: enters at
    * `$from` (which must carry `hx`, `hy`, `hd`) and exits at `hl0` with
    * the final `hd` and the working registers dropped. One CTE per level —
    * the same stateful unroll, in ANSI SQL (`>>`, `&`, `xor`, CASE).
    */
  def hilbertKeySqlCtes(bits: Int, from: String): String = {
    // two CTEs per level: compute into FRESH names (nhd/nhx/nhy), then
    // rename back — a single SELECT redefining `hx` while later
    // expressions still read `hx` would silently bind the NEW column
    // under lateral-column-alias scoping
    val levels = ((bits - 1) to 0 by -1).map { i =>
      val s = 1L << i
      val src = if (i == bits - 1) from else s"hl${i + 1}"
      s"""hc$i AS (
         |  SELECT *,
         |    hd + ${s * s} * xor(3 * ((hx >> $i) & 1), (hy >> $i) & 1) AS nhd,
         |    CASE WHEN ((hy >> $i) & 1) = 0
         |         THEN (CASE WHEN ((hx >> $i) & 1) = 1 THEN ${s - 1} - hy ELSE hy END)
         |         ELSE hx END AS nhx,
         |    CASE WHEN ((hy >> $i) & 1) = 0
         |         THEN (CASE WHEN ((hx >> $i) & 1) = 1 THEN ${s - 1} - hx ELSE hx END)
         |         ELSE hy END AS nhy
         |  FROM $src
         |),
         |hl$i AS (
         |  SELECT * EXCLUDE (hx, hy, hd, nhx, nhy, nhd),
         |         nhd AS hd, nhx AS hx, nhy AS hy
         |  FROM hc$i
         |)""".stripMargin
    }
    levels.mkString(",\n")
  }

  /** [[scanEfficiency]] extended with the HILBERT layout: one report row
    * per layout (`hilbert`, `linear`, `zorder`) over the identical
    * rank-bucket grid, equal-count file split, zone-map scan rule, and
    * box predicate — so the three curves are compared on exactly the
    * same geometry and the hashed integers prove which one scans less.
    */
  def scanEfficiencyHilbert(
      df: DataFrame,
      x: Column,
      y: Column,
      dimBits: Int,
      fileBits: Int,
      xLo: Long,
      xHi: Long,
      yLo: Long,
      yHi: Long): DataFrame = {
    require(dimBits >= 1 && dimBits <= 20, s"dimBits out of range: $dimBits")
    require(fileBits >= 1 && fileBits <= 2 * dimBits, s"fileBits out of range: $fileBits")
    val nFiles = 1L << fileBits
    // shared across the three layout legs: computed once
    val keyed = sharedStage(
      withHilbertKey(mortonKeyed(df, x, y, dimBits), "xb", "yb", dimBits, "h_key"))
    layoutReport(
      keyed,
      Seq("hilbert" -> "h_key", "linear" -> "lex_key", "zorder" -> "z_key"),
      nFiles, xLo, xHi, yLo, yHi)
  }

  /** The oracle replay of [[scanEfficiencyHilbert]]: the [[scanEfficiencySql]]
    * pipeline with the Hilbert CTE chain threaded between the bucket and
    * file-assignment stages.
    */
  def scanEfficiencyHilbertSql(
      src: String,
      dimBits: Int,
      fileBits: Int,
      xLo: Long,
      xHi: Long,
      yLo: Long,
      yHi: Long): String = {
    val nBuckets = 1L << dimBits
    val nFiles = 1L << fileBits
    s"""WITH base AS ($src),
       |ranked AS (
       |  SELECT x, y,
       |         (rank() OVER (ORDER BY x) - 1) * $nBuckets // count(*) OVER () AS xb,
       |         (rank() OVER (ORDER BY y) - 1) * $nBuckets // count(*) OVER () AS yb,
       |         count(*) OVER () AS n_total
       |  FROM base
       |), keyed AS (
       |  SELECT x, y, n_total, xb, yb,
       |         ${zorderKeySql(dimBits)} AS z_key,
       |         yb * $nBuckets + xb AS lex_key,
       |         xb AS hx, yb AS hy, CAST(0 AS BIGINT) AS hd
       |  FROM ranked
       |),
       |${hilbertKeySqlCtes(dimBits, "keyed")},
       |zoned AS (
       |  SELECT layout, file_id,
       |         min(x) AS min_x, max(x) AS max_x,
       |         min(y) AS min_y, max(y) AS max_y,
       |         count(*) AS n_rows,
       |         sum(CASE WHEN x BETWEEN $xLo AND $xHi AND y BETWEEN $yLo AND $yHi
       |                  THEN 1 ELSE 0 END) AS n_match
       |  FROM (
       |    SELECT 'hilbert' AS layout, x, y,
       |           (rank() OVER (ORDER BY hd) - 1) * $nFiles // n_total AS file_id
       |    FROM hl0
       |    UNION ALL
       |    SELECT 'zorder' AS layout, x, y,
       |           (rank() OVER (ORDER BY z_key) - 1) * $nFiles // n_total AS file_id
       |    FROM hl0
       |    UNION ALL
       |    SELECT 'linear' AS layout, x, y,
       |           (rank() OVER (ORDER BY lex_key) - 1) * $nFiles // n_total AS file_id
       |    FROM hl0
       |  )
       |  GROUP BY layout, file_id
       |)
       |SELECT layout,
       |       count(*) AS n_files,
       |       CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
       |       CAST(sum(CASE WHEN hit THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
       |       CAST(sum(n_match) AS BIGINT) AS rows_matching,
       |       CAST(sum(CASE WHEN hit THEN n_rows ELSE 0 END) * 1000000
       |         // greatest(sum(n_match), 1) AS BIGINT) AS amplification_ppm
       |FROM (
       |  SELECT *, (max_x >= $xLo AND min_x <= $xHi AND
       |             max_y >= $yLo AND min_y <= $yHi) AS hit
       |  FROM zoned
       |)
       |GROUP BY layout
       |ORDER BY layout""".stripMargin
  }

  /** PHYSICAL layout write — the half [[scanEfficiency]] only simulates:
    * actually sort the rows by the clustering key (Morton when `morton`,
    * lexicographic `(y_bucket, x_bucket)` otherwise), cut them into
    * `2^fileBits` equal-count file groups, and write ONE parquet file per
    * group (`file_id` is a write-partition directory; each id lives in
    * exactly one task after the hash repartition, so each directory holds
    * exactly one file). Rows are additionally sorted by the key WITHIN each
    * file so row-group/page statistics are tight too. The written files
    * carry REAL parquet min/max column statistics — a box predicate read
    * back over this layout skips row groups through the pushed filters, and
    * the footer stats are independently checkable ([[graft.LayoutSpec]]
    * reads them with parquet-hadoop and pins predicted == actual skipping).
    *
    * File assignment uses the same exact-rank equal-count rule as the
    * simulation (deterministic, oracle-replayable); a cluster writes the
    * identical shape with sampled range boundaries
    * (`repartitionByRange(nFiles, z_key)`) — no global-rank bottleneck, same
    * file semantics. Bounded file size = n_total / 2^fileBits rows by
    * construction.
    */
  def writeLayout(
      df: DataFrame,
      x: Column,
      y: Column,
      dimBits: Int,
      fileBits: Int,
      morton: Boolean,
      path: String): Unit = {
    require(dimBits >= 1 && dimBits <= 20, s"dimBits out of range: $dimBits")
    require(fileBits >= 1 && fileBits <= 2 * dimBits, s"fileBits out of range: $fileBits")
    val nFiles = 1L << fileBits
    val keyCol = if (morton) "z_key" else "lex_key"
    // same distributed per-value rank swap as [[scanEfficiency]]; the
    // shared stage keeps the keyed frame computed once (the file-rank
    // aggregation and the write both read it)
    withRankByValue(sharedStage(mortonKeyed(df, x, y, dimBits)), keyCol, "__frk")
      .withColumn("file_id", expr(s"(__frk - 1) * ${nFiles}L div n_total"))
      .repartition(col("file_id"))
      .sortWithinPartitions(col(keyCol))
      .select(col("x"), col("y"), col("file_id"))
      .write.mode("overwrite").partitionBy("file_id").parquet(path)
  }

  /** Oracle replay for the manifest-driven scan: the same rank-bucket →
    * Morton → equal-count file assignment, the per-file zone boxes, the
    * boxes intersecting the predicate (the skip count), and the box
    * aggregate over ONLY the selected files' rows — zone maps have no
    * false negatives, so this equals the plain box aggregate, and the hash
    * locks both the skip arithmetic and the result.
    */
  def manifestScanSql(
      src: String,
      dimBits: Int,
      fileBits: Int,
      xLo: Long,
      xHi: Long,
      yLo: Long,
      yHi: Long): String = {
    val nBuckets = 1L << dimBits
    val nFiles = 1L << fileBits
    s"""WITH base AS ($src),
       |ranked AS (
       |  SELECT x, y,
       |         (rank() OVER (ORDER BY x) - 1) * $nBuckets // count(*) OVER () AS xb,
       |         (rank() OVER (ORDER BY y) - 1) * $nBuckets // count(*) OVER () AS yb,
       |         count(*) OVER () AS n_total
       |  FROM base
       |), keyed AS (
       |  SELECT x, y, n_total, ${zorderKeySql(dimBits)} AS z_key
       |  FROM ranked
       |), fid AS (
       |  SELECT x, y,
       |         (rank() OVER (ORDER BY z_key) - 1) * $nFiles // n_total AS file_id
       |  FROM keyed
       |), zones AS (
       |  SELECT file_id, min(x) AS mnx, max(x) AS mxx,
       |         min(y) AS mny, max(y) AS mxy
       |  FROM fid GROUP BY file_id
       |), hits AS (
       |  SELECT file_id FROM zones
       |  WHERE mxx >= $xLo AND mnx <= $xHi AND mxy >= $yLo AND mny <= $yHi
       |)
       |SELECT (SELECT count(*) FROM zones) AS n_files_total,
       |       (SELECT count(*) FROM hits) AS n_files_scanned,
       |       count(*) AS n_match,
       |       CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y
       |FROM fid
       |WHERE file_id IN (SELECT file_id FROM hits)
       |  AND x BETWEEN $xLo AND $xHi AND y BETWEEN $yLo AND $yHi""".stripMargin
  }

  /** Oracle replay for the write-then-read query: per layout, the distinct
    * file-id count the equal-count rule produces (rank ties can merge
    * neighbors, so this is computed, not assumed `2^fileBits`) and the box
    * predicate's aggregate — which is layout-invariant, proving the
    * physical rewrite lost and duplicated nothing.
    */
  def writeReadSql(
      src: String,
      dimBits: Int,
      fileBits: Int,
      xLo: Long,
      xHi: Long,
      yLo: Long,
      yHi: Long): String = {
    val nBuckets = 1L << dimBits
    val nFiles = 1L << fileBits
    s"""WITH base AS ($src),
       |ranked AS (
       |  SELECT x, y,
       |         (rank() OVER (ORDER BY x) - 1) * $nBuckets // count(*) OVER () AS xb,
       |         (rank() OVER (ORDER BY y) - 1) * $nBuckets // count(*) OVER () AS yb,
       |         count(*) OVER () AS n_total
       |  FROM base
       |), keyed AS (
       |  SELECT x, y, n_total,
       |         ${zorderKeySql(dimBits)} AS z_key,
       |         yb * $nBuckets + xb AS lex_key
       |  FROM ranked
       |), fid AS (
       |  SELECT 'zorder' AS layout, x, y,
       |         (rank() OVER (ORDER BY z_key) - 1) * $nFiles // n_total AS file_id
       |  FROM keyed
       |  UNION ALL
       |  SELECT 'linear' AS layout, x, y,
       |         (rank() OVER (ORDER BY lex_key) - 1) * $nFiles // n_total AS file_id
       |  FROM keyed
       |)
       |SELECT layout,
       |       count(DISTINCT file_id) AS n_files,
       |       CAST(sum(CASE WHEN x BETWEEN $xLo AND $xHi AND y BETWEEN $yLo AND $yHi
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
       |       CAST(sum(CASE WHEN x BETWEEN $xLo AND $xHi AND y BETWEEN $yLo AND $yHi
       |                THEN x END) AS BIGINT) AS sum_x,
       |       CAST(sum(CASE WHEN x BETWEEN $xLo AND $xHi AND y BETWEEN $yLo AND $yHi
       |                THEN y END) AS BIGINT) AS sum_y
       |FROM fid GROUP BY layout ORDER BY layout""".stripMargin
  }

  // ── Bloom-filter manifest: point-lookup skipping where zone maps fail ──
  //
  // A min/max manifest prunes RANGE predicates over clustered columns; it
  // is useless for point lookups of a high-cardinality key in a layout the
  // key is NOT clustered by (hash-scattered ingest, unordered arrival):
  // every file's [min, max] spans nearly the whole key domain, so nothing
  // skips. The per-file BLOOM manifest is the standard answer (Parquet
  // bloom filters, Iceberg puffin blobs): a compact membership summary per
  // file, probed at scan-planning time, false positives allowed (extra
  // files read), false negatives impossible (no data missed).
  //
  // The filter here is represented RELATIONALLY — (file_id, bit) rows, one
  // per set bit — rather than as a binary blob: semantically identical
  // (the blob is exactly the set of set bits), mergeable by set union,
  // bounded by m rows per file, and probe-able with a plain join, so the
  // whole structure round-trips through any table format and the DuckDB
  // oracle replays build + probe bitwise from the same md5 arithmetic.

  /** Bit position `j` (1-based hash index) of `id` in an `m`-bit filter —
    * md5-derived, exact integer, engine-portable.
    */
  def bloomBit(id: Column, j: Int, m: Long): Column =
    pmod(
      conv(substring(md5(concat(id.cast("string"), lit(s"#b$j"))), 1, 8), 16, 10)
        .cast("long"),
      lit(m))

  /** Build the manifest: the distinct set bits of every file's id set.
    * One explode + distinct, ≤ `m` rows per file regardless of row count.
    */
  def bloomManifest(files: DataFrame, id: Column, fileId: Column, m: Long, k: Int): DataFrame = {
    require(k >= 1 && m >= 2, s"need k >= 1 hashes and m >= 2 bits, got k=$k m=$m")
    files
      .select(
        fileId.as("file_id"),
        explode(array((1 to k).map(j => bloomBit(id, j, m)): _*)).as("bit"))
      .distinct()
  }

  /** Scan-planning probe: `(probe_id, file_id)` pairs where the file's
    * filter contains ALL of the probe's bits — the candidate files a point
    * lookup must read. Never misses a file that truly holds the probe (a
    * present id contributed exactly these bits to its file's manifest);
    * may keep extra files at the filter's false-positive rate. The probe
    * side is broadcast — it is query-literal-sized.
    */
  def bloomCandidates(
      manifest: DataFrame, probes: DataFrame, probeId: String, m: Long, k: Int): DataFrame = {
    val pb = probes
      .select(
        col(probeId).as("probe_id"),
        explode(array((1 to k).map(j => bloomBit(col(probeId), j, m)): _*)).as("bit"))
      .distinct()
    val nb = pb.groupBy(col("probe_id")).agg(count(lit(1)).as("nb"))
    manifest
      .join(broadcast(pb), Seq("bit"))
      .groupBy(col("probe_id"), col("file_id"))
      .agg(count(lit(1)).as("hits"))
      .join(broadcast(nb), Seq("probe_id"))
      .where(col("hits") === col("nb"))
      .select(col("probe_id"), col("file_id"))
  }
}
