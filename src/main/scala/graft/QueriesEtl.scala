package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, FileScan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.obs.Trace
import graft.operators.{Cdc, EventsEtl, Histograms, Layout, Materialize, Privacy, Sessionize}
import graft.sources.{CsvSource, GraftCatalog, GraftSqlDml, Incremental, JsonlSource, SnapshotLog, TableManager, TxnCatalog}
import graft.streaming.StreamingSessionize.{deleteTree, withTempRoot, writeOneFile}

/** ETL-surface queries: CSV source round-trip (S1/S2), templated-SQL entry
  * (S3), idempotent dynamic-partition-overwrite load (S4–S7), and the full
  * boundary-preserving + session-continuity two-batch pipeline (C2+C3).
  * Each runs the actual machinery inside the query and reduces the resulting
  * table to an aggregate the DuckDB oracle can recompute from the raw
  * parquet — a hash match proves the whole pipeline (write → read → query)
  * preserved the data exactly.
  */
object QueriesEtl {

  private val eventsCsvSchema = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = true),
    StructField("value", DoubleType, nullable = true),
    StructField("props", StringType, nullable = true)))

  private def scratch(dir: String, name: String): String =
    GraftSession.scratch("etl", dir, name)

  /** Files the first file scan of an executed plan reads. */
  private[graft] def scanFiles(p: SparkPlan): Option[Int] =
    p.collectLeaves().flatMap {
      case a: AdaptiveSparkPlanExec =>
        scanFiles(a.executedPlan) // AQE wraps the scan behind a leaf
      case b: BatchScanExec =>
        Some(b.scan.asInstanceOf[FileScan].fileIndex.inputFiles.length)
      case _ => None
    }.headOption

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── S1/S2: schema-declared CSV scan with month-name path resolution.
    // parquet → yyyy-LLL.csv → parquet round-trip, then aggregate.
    "csv_roundtrip" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      val root = scratch(dir, "raw_csv")
      CsvSource.writeMonth(ev, root, "2024-01")
      val src = new CsvSource(eventsCsvSchema)
      src.readMonths(s, root, Seq("2024-01"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          min(unix_timestamp(col("ts"))).as("min_sec"),
          max(unix_timestamp(col("ts"))).as("max_sec"),
          round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("event_type"))
    }),

    // ── JSONL corpus interchange ([[sources.JsonlSource]]): documents →
    // gzip JSONL → schema-declared FAILFAST read-back, returned row-for-row.
    // The oracle is the raw parquet identity, so the hash match proves the
    // write → compress → parse round trip preserved every byte of text. ──
    "jsonl_roundtrip" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val root = scratch(dir, "raw_jsonl")
      JsonlSource.write(docs, root)
      JsonlSource.read(s, docs.schema, root)
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // ── ORC corpus interchange: documents → snappy ORC → read-back,
    // returned row-for-row (the other columnar format warehouse estates
    // actually hold; Spark's ORC path is native + vectorized). The oracle
    // is the raw parquet identity, so the hash match proves the format
    // round trip preserved every value. ──
    "orc_roundtrip" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val root = scratch(dir, "raw_orc")
      docs.write.mode("overwrite").option("compression", "snappy").orc(root)
      s.read.schema(docs.schema).orc(root)
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // ── partition-pruned corpus reads: the corpus laid out partitioned by
    // source (the layout a multi-source crawl estate actually uses), then
    // a single-source aggregation — the scan must touch ONE partition
    // directory, not the corpus (PlanSpec pins the PartitionFilters); at
    // 100 TB this is the difference between reading 1/20th and all of it ──
    "partition_prune_docs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val root = scratch(dir, "by_source")
      docs.write.mode("overwrite").partitionBy("source").parquet(root)
      s.read.parquet(root)
        .where(col("source") === "src3")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"))
    }),

    // ── DYNAMIC partition pruning: the RUNTIME twin of
    // partition_prune_docs' static filter — the fact side is partitioned
    // by day and the pruning day-set comes from a FILTERED DIM whose
    // qualifying keys exist only at run time (days with >= threshold
    // purchases), so Catalyst injects a dynamicpruning subquery into the
    // fact scan's PartitionFilters and only the qualifying day
    // directories are ever read. At 100 TB this is the difference
    // between scanning a year and scanning the six days the dim selects;
    // PlanSpec pins `dynamicpruning` in the scan ──
    "join_dpp_prune" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val root = scratch(dir, "events_by_day")
      ev.withColumn("day", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("day").parquet(root)
      val fact = s.read.parquet(root)
      // above-average purchase days: the qualifying set exists only at run
      // time (exact-integer cross-multiplied mean — no float threshold)
      val daily = ev
        .where(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("np"))
      val tot = daily.agg(sum(col("np")).as("tot"), count(lit(1)).as("nd"))
      val dim = daily.crossJoin(broadcast(tot))
        .where(col("np") * col("nd") > col("tot"))
        .select(col("day"))
      fact.join(broadcast(dim), Seq("day"))
        .groupBy(col("day"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(floor(col("value") * 100).cast("long")).as("value_cents"))
        .orderBy(col("day"))
    }),

    // ── parquet AGGREGATE pushdown (DSv2): COUNT/MIN/MAX answered from
    // parquet FOOTER statistics — zero row groups decompressed, the scan
    // returns one pre-aggregated row per file. The conf pair routes THIS
    // query's scan through the v2 source with pushdown on and restores
    // the session after planning; the plan is forced inside the window so
    // the frame's own execution (PlanSpec pins `PushedAggregation`) runs
    // the v2 scan ──
    "agg_pushdown_stats" -> ((s, dir) => {
      val keys = Seq("spark.sql.parquet.aggregatePushdown", "spark.sql.sources.useV1SourceList")
      val prev = keys.map(k => k -> s.conf.getOption(k))
      try {
        s.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        s.conf.set("spark.sql.sources.useV1SourceList", "")
        val out = s.read.parquet(s"$dir/lineitem.parquet")
          .agg(
            expr("count(*)").as("n_rows"),
            min(col("l_quantity")).as("min_qty"),
            max(col("l_quantity")).as("max_qty"),
            min(col("l_extendedprice")).as("min_price"),
            max(col("l_extendedprice")).as("max_price"))
        // force physical planning while the v2+pushdown confs are active;
        // the cached queryExecution then serves the later execution
        out.queryExecution.executedPlan
        out
      } finally prev.foreach { case (k, v) =>
        v match { case Some(x) => s.conf.set(k, x); case None => s.conf.unset(k) }
      }
    }),

    // ── small-files compaction: the operational fix for the classic
    // warehouse pain (a streaming ingest or over-parallel write leaves
    // thousands of KB-scale files; every later scan pays per-file open
    // cost and the driver pays per-file listing). Fragment the corpus to
    // one file per ~12 docs, then compact with a single repartition-write
    // to a bounded file count; the oracle is the corpus identity — the
    // rewrite must move bytes, never change them. CompactionSpec pins the
    // actual file counts before/after ──
    "compact_files" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val frag = scratch(dir, "fragmented")
      val comp = scratch(dir, "compacted")
      docs.repartition(40).write.mode("overwrite").parquet(frag)
      val readBack = s.read.schema(docs.schema).parquet(frag)
      readBack.repartition(4).write.mode("overwrite").parquet(comp)
      s.read.schema(docs.schema).parquet(comp)
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // ── schema evolution across batches: batch 1 writes the base schema,
    // batch 2 adds a `quality_tier` column; the mergeSchema read unions
    // both vintages with NULLs where the old files lack the column and
    // surfaces the hive-partition `batch` discriminator — the "a pipeline
    // added a column mid-corpus" reality every long-lived estate hits ──
    "schema_evolution" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val root = scratch(dir, "evolved")
      docs.where(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$root/batch=1")
      docs.where(col("doc_id") % 2 =!= 0)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .withColumn("quality_tier", (col("n_chars") % 3).cast("int"))
        .write.mode("overwrite").parquet(s"$root/batch=2")
      s.read.option("mergeSchema", "true").parquet(root)
        .select(
          col("doc_id"), col("batch").cast("long").as("batch"),
          col("n_chars"), col("quality_tier").cast("long").as("quality_tier"))
        .orderBy(col("doc_id"))
    }),

    // ── row-level CDC merge ([[Cdc.applyChanges]]): a deterministic
    // change batch (updates/deletes/inserts keyed off o_orderkey mod 10)
    // applied onto orders in one full-outer key join — MERGE INTO without
    // a table format; full-row-image semantics so updates can NULL columns ──
    "cdc_merge" -> ((s, dir) => {
      val base = Tables.orders(s, dir)
      val upd = base.where(col("o_orderkey") % 10 === 3)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") + lit(10.0))
        .withColumn("op", lit("u"))
      val del = base.where(col("o_orderkey") % 10 === 7)
        .withColumn("op", lit("d"))
      val ins = base.where(col("o_orderkey") % 10 === 1)
        .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
        .withColumn("o_orderpriority", lit("NEW"))
        .withColumn("op", lit("i"))
      Cdc.applyChanges(base, upd.unionByName(del).unionByName(ins), Seq("o_orderkey"))
        .orderBy(col("o_orderkey"))
    }),

    // ── STREAMING CDC upsert ([[graft.streaming.StreamingCdc
    // .upsertReplay]]): the cdc_merge change batch replayed as a REAL
    // 3-trigger change stream, each micro-batch applied onto the base via
    // foreachBatch + the batch merge, writing one table version per batch
    // (the readStream → MERGE INTO shape). The oracle is the ALL-AT-ONCE
    // merge, so the hash match proves sequential per-batch application
    // converges to it — the streaming machinery (file triggers,
    // foreachBatch sequencing, versioned writes) loses and invents
    // nothing ──
    "stream_cdc_upsert" -> ((s, dir) => {
      val base = Tables.orders(s, dir)
      val upd = base.where(col("o_orderkey") % 10 === 3)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") + lit(10.0))
        .withColumn("op", lit("u"))
      val del = base.where(col("o_orderkey") % 10 === 7)
        .withColumn("op", lit("d"))
      val ins = base.where(col("o_orderkey") % 10 === 1)
        .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
        .withColumn("o_orderpriority", lit("NEW"))
        .withColumn("op", lit("i"))
      graft.streaming.StreamingCdc.upsertReplay(
        base, upd.unionByName(del).unionByName(ins), Seq("o_orderkey"),
        root = scratch(dir, "stream_cdc"))
    }),

    // ── STREAMING incremental MV ([[graft.streaming.StreamingCdc
    // .replayForeachBatch]] + [[Materialize.mergeSummaries]]): the weekly
    // events rollup maintained CONTINUOUSLY — each micro-batch's
    // delta-sized partial aggregate merges into the persisted summary
    // (one version per batch), base rows never rescanned. Slices are TIME
    // thirds, so boundary weeks genuinely arrive split across batches and
    // the algebraic merge (sum/min/max) is exercised, not bypassed. The
    // oracle is the full one-shot rollup: the hash match proves the
    // incremental path converges to it exactly ──
    "stream_mv_merge" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("ts"))
      def summarize(df: DataFrame): DataFrame = df
        .groupBy(to_date(date_trunc("week", col("ts"))).as("week"))
        .agg(
          count(lit(1)).as("n_events"),
          min(unix_timestamp(col("ts"))).as("min_sec"),
          max(unix_timestamp(col("ts"))).as("max_sec"))
      val b = ev.agg(
        min(unix_timestamp(col("ts"))), max(unix_timestamp(col("ts")))).head()
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      val span = hi - lo + 1
      val sliceCol = least(
        lit(2L),
        floor((unix_timestamp(col("ts")) - lit(lo)) * lit(3L) / lit(span.toDouble))
          .cast("long"))
      val root = scratch(dir, "stream_mv")
      def vDir(v: Long) = s"$root/summary_v$v"
      @volatile var current = 0L
      var initialized = false
      graft.streaming.StreamingCdc.replayForeachBatch(ev, sliceCol, 3, root) {
        (batch, id) =>
          if (!initialized) {
            summarize(ev.limit(0)).write.mode("overwrite").parquet(vDir(0L))
            initialized = true
          }
          val cur = s.read.parquet(vDir(current))
          Materialize.mergeSummaries(
            Seq(cur, summarize(batch)), Seq("week"),
            sumCols = Seq("n_events"), minCols = Seq("min_sec"),
            maxCols = Seq("max_sec"))
            .write.mode("overwrite").parquet(vDir(id + 1))
          current = id + 1
      }
      s.read.parquet(vDir(current)).orderBy(col("week"))
    }),

    // ── SCD2 history merge ([[Cdc.applyChangesScd2]]): the same
    // deterministic change batch VERSIONING the base instead of
    // overwriting it — updated/deleted keys close their current row at
    // seq 2, updates and inserts open new current versions, untouched
    // keys stay open from seq 1. Integer sequence numbers, so the full
    // history replays bitwise ──
    "scd2_history" -> ((s, dir) => {
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val hist = Cdc.scd2Init(base, 1L)
      val upd = base.where(col("o_orderkey") % 10 === 3)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") + lit(10.0))
        .withColumn("op", lit("u"))
      val del = base.where(col("o_orderkey") % 10 === 7)
        .withColumn("op", lit("d"))
      val ins = base.where(col("o_orderkey") % 10 === 1)
        .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
        .withColumn("o_orderstatus", lit("N"))
        .withColumn("op", lit("i"))
      Cdc.applyChangesScd2(
        hist, upd.unionByName(del).unionByName(ins), Seq("o_orderkey"), 2L)
        .orderBy(col("o_orderkey"), col("valid_from"))
    }),

    // ── TEMPORAL SCD2 lookup ([[Cdc.scd2Lookup]]): orders joined to the
    // customer-segment VERSION valid at each order's sequence — "what did
    // the customer look like WHEN the order happened". The history is
    // built by a real [[Cdc.applyChangesScd2]] merge (seq-2 upgrades for
    // custkey % 7 = 0), facts carry an alternating as-of seq, and the
    // rollup shows seq-1 orders still seeing the ORIGINAL segment while
    // seq-2 orders see the upgrade — the validity-window filter doing real
    // work, hash-pinned ──
    "scd2_lookup" -> ((s, dir) => {
      val base = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      val hist = Cdc.applyChangesScd2(
        Cdc.scd2Init(base, 1L),
        base.where(col("c_custkey") % 7 === 0)
          .withColumn("c_mktsegment", lit("UPGRADED"))
          .withColumn("op", lit("u")),
        Seq("c_custkey"), 2L)
      val facts = Tables.orders(s, dir)
        .select(
          col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          (pmod(col("o_orderkey"), lit(2)) + 1).cast("long").as("as_of_seq"))
      Cdc.scd2Lookup(facts, hist, Seq("o_custkey"), Seq("c_custkey"), col("as_of_seq"))
        .groupBy(col("c_mktsegment"), col("as_of_seq"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
        .orderBy(col("c_mktsegment"), col("as_of_seq"))
    }),

    // ── PARTITION-PRUNED CDC merge ([[Cdc.applyChangesPruned]]): the base
    // written as a REAL partitioned table (by o_orderpriority), a change
    // batch touching ONLY the 1-URGENT partition, the merge restricted to
    // that partition via static PartitionFilters (pinned in PlanSpec),
    // and ONLY that partition rewritten through dynamic overwrite — the
    // other four partitions' files are never read and never rewritten.
    // Returned: the final table state read back from disk, so the hash
    // proves passthrough partitions byte-survived and the touched one
    // merged exactly ──
    "cdc_merge_pruned" -> ((s, dir) => {
      val base = Tables.orders(s, dir)
      // the returned frame reads `root` lazily: a scratch root, cleared per run
      val root = scratch(dir, "cdc_pruned")
      deleteTree(java.nio.file.Paths.get(root))
      base.write.partitionBy("o_orderpriority").mode("overwrite").parquet(root)
      val pbase = s.read.parquet(root)
      val urgent = pbase.where(col("o_orderpriority") === "1-URGENT")
      val upd = urgent.where(col("o_orderkey") % 10 === 3)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") + lit(10.0))
        .withColumn("op", lit("u"))
      val del = urgent.where(col("o_orderkey") % 10 === 7)
        .withColumn("op", lit("d"))
      val ins = urgent.where(col("o_orderkey") % 10 === 1)
        .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
        .withColumn("op", lit("i"))
      val mergedTouched = Cdc.applyChangesPruned(
        pbase, upd.unionByName(del).unionByName(ins),
        keyCols = Seq("o_orderkey"), partCols = Seq("o_orderpriority"))
      mergedTouched.write
        .partitionBy("o_orderpriority")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(root)
      s.read.parquet(root)
        .select(
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
    }),

    // ── SNAPSHOT DIFF ([[Cdc.snapshotDiff]]): two synthetic versions of
    // the corpus (deletions, additions, and lang-mutated rows carved from
    // the documents table by key arithmetic) classified added / removed /
    // changed / unchanged in ONE full-outer key join over md5 row
    // fingerprints; per-class counts and key-sums hash-pin the exact
    // membership of every class. ──
    "snapshot_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val oldV = docs.where(col("doc_id") % 13 =!= 5)
      val newV = docs.where(col("doc_id") % 17 =!= 2)
        .withColumn(
          "lang", when(col("doc_id") % 9 === 0, lit("xx")).otherwise(col("lang")))
      Cdc.snapshotDiff(oldV, newV, "doc_id", Seq("text", "lang", "source", "n_chars"))
    }),

    // ── S3: templated SQL entry ({TABLE} substitution), WAU job verbatim
    // shape (ref UserIdBaseWauTransformer.scala:20-40).
    "sql_templated_wau" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      val template =
        """WITH user_activity AS (
          |  SELECT user_id, CAST(ts AS DATE) AS event_date FROM {TABLE}
          |)
          |SELECT CAST(DATE_TRUNC('WEEK', event_date) AS DATE) AS event_week,
          |       COUNT(DISTINCT user_id) AS wau
          |FROM user_activity
          |WHERE DATE_TRUNC('WEEK', event_date) >= DATE_TRUNC('WEEK', CAST('2024-01-01' AS DATE))
          |  AND DATE_TRUNC('WEEK', event_date) <= DATE_TRUNC('WEEK', CAST('2024-01-31' AS DATE))
          |GROUP BY DATE_TRUNC('WEEK', event_date)
          |ORDER BY event_week ASC""".stripMargin
      s.sql(template.replace("{TABLE}", "events"))
    }),

    // ── S4–S7: create-if-absent + dynamic partition overwrite, loaded TWICE
    // to prove idempotency (counts would double under append semantics).
    "table_load_idempotent" -> ((s, dir) => {
      val schema = StructType(Seq(
        StructField("event_id", LongType, nullable = false),
        StructField("user_id", LongType, nullable = false),
        StructField("event_type", StringType, nullable = true),
        StructField("value", DoubleType, nullable = true),
        StructField("event_date", DateType, nullable = false)))
      val t = new TableManager("graft_events_by_date", schema, Seq("event_date"))
      t.recreate(s)
      val batch = Tables.events(s, dir)
        .withColumn("event_date", to_date(col("ts")))
        .select(schema.fieldNames.map(col).toSeq: _*)
      t.overwritePartitions(s, batch)
      t.overwritePartitions(s, batch) // idempotent re-run
      t.read(s)
        .groupBy(col("event_date"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"),
          round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("event_date"))
    }),

    // ── partition-level retention ([[TableManager.retentionPrune]]): a
    // date-partitioned log table expired by DROPPING whole partitions
    // below the cutoff — one metadata op per partition, no row deletes, no
    // surviving-file rewrites; pruned twice to prove idempotency. The
    // read-back rollup hash-matches the oracle's cutoff filter over the
    // source, proving the drop removed exactly the expired partitions ──
    "retention_prune" -> ((s, dir) => {
      val schema = StructType(Seq(
        StructField("event_id", LongType, nullable = false),
        StructField("user_id", LongType, nullable = false),
        StructField("event_date", DateType, nullable = false)))
      val t = new TableManager("graft_events_retention", schema, Seq("event_date"))
      t.recreate(s)
      val batch = Tables.events(s, dir)
        .withColumn("event_date", to_date(col("ts")))
        .select(schema.fieldNames.map(col).toSeq: _*)
      t.overwritePartitions(s, batch)
      val dropped = t.retentionPrune(s, "event_date", RetentionCutoff)
      require(dropped.nonEmpty, "retention_prune: fixture must expire at least one partition")
      require(t.retentionPrune(s, "event_date", RetentionCutoff).isEmpty,
        "retention_prune: second run must be a no-op")
      t.read(s)
        .groupBy(col("event_date"))
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_event_id"))
        .orderBy(col("event_date"))
    }),

    // ── C2+C3 flagship: two-batch sessionized load into a KST-partitioned
    // table with continuity + boundary preservation; second batch re-loaded
    // to prove idempotency. Oracle recomputes from a SINGLE-batch whole-stream
    // sessionization — matching hashes prove batch-split invariance of the
    // entire pipeline.
    "kst_boundary_sessions" -> ((s, dir) => {
      val t = EventsEtl.manager("graft_user_activity_kst")
      t.recreate(s)
      val ev = Tables.events(s, dir)
      EventsEtl.loadBatch(s, t, ev, "2024-01-01 00:00:00", "2024-01-16 00:00:00")
      EventsEtl.loadBatch(s, t, ev, "2024-01-16 00:00:00", "2024-02-01 00:00:00")
      EventsEtl.loadBatch(s, t, ev, "2024-01-16 00:00:00", "2024-02-01 00:00:00")
      t.read(s)
        .groupBy(col("event_date_kst"))
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("session_id")).as("n_sessions"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_date_kst"))
    }),

    // ── mergeable binned-histogram percentile rollup: the quantile analog
    // of the day→week HLL WAU rollup, but EXACTLY replayable — daily
    // (week, day, bin, count) sketches merged by integer addition into
    // weekly distributions, p50/p90/p99 upper bounds from integer cumsums.
    // Appending a day touches bin rows, never history (see Histograms). ──
    "value_hist_rollup" -> ((s, dir) =>
      Histograms.weeklyValuePercentiles(
        Tables.events(s, dir).where(col("value").isNotNull),
        col("value"), col("ts"), "2024-01-01", "2024-01-31",
        lo = HistLo, hi = HistHi, nBins = HistBins, qs = HistQs)),

    // ── privacy scrub before training export ([[Privacy.scrubEvents]]):
    // salted surrogate user keys, hour-generalized integer timestamps,
    // numeric redaction over the props payload with an audit count — one
    // codegen'd map-side pass, full row-per-event output hash-checked. ──
    "pii_scrub_events" -> ((s, dir) =>
      Privacy.scrubEvents(Tables.events(s, dir), salt = "graft")
        .orderBy(col("event_id"))),

    // ── k-ANONYMITY audit + suppression ([[Privacy.kAnonymityAudit]] /
    // [[Privacy.kAnonymize]], Sweeney's model): every quasi-identifier
    // equivalence class below k=5 is a re-identification risk row; the
    // post_suppression_clean law RE-AUDITS the kAnonymize output (rows in
    // violating classes quasi-NULLed), measuring — not assuming — that
    // suppression fixed every class ──
    // ── ε = ln 2 DIFFERENTIALLY-PRIVATE release ([[operators.Privacy
    // .dpCounts]], the geometric mechanism): weekly per-event-type counts
    // with integer discrete-Laplace noise from EXACT 2^32-scaled CDF
    // thresholds — the hash draw, the inverse-CDF walk, and the noise are
    // pure integer arithmetic, so the oracle replays the release
    // bit-for-bit (seeded here for verifiability; production swaps in a
    // fresh draw and drops the audit arms, nothing else changes) ──
    // ── MULTI-CLASS PII SCAN + MASK ([[operators.Privacy.piiScan]], the
    // pre-training corpus scrub): a PII-bearing text is CONSTRUCTED
    // deterministically from customer rows (the real c_phone, a derived
    // email, a key-derived IPv4, a 9+-digit account number inside the
    // comment), then one codegen'd map-side pass counts every class on
    // the original text and masks them in taxonomy order. The rollup
    // hashes per-class counts AND the masked text's total length — one
    // mask slipped or doubled anywhere in the corpus shifts the sum ──
    "pii_scan" -> ((s, dir) => {
      val txt = Tables.customer(s, dir).select(
        col("c_mktsegment"),
        concat(
          col("c_name"), lit(" call "),
          (pmod(col("c_custkey"), lit(90)) + 10).cast("string"), lit("-"),
          (pmod(col("c_custkey") * 3, lit(900)) + 100).cast("string"), lit("-"),
          (pmod(col("c_custkey") * 11, lit(900)) + 100).cast("string"), lit("-"),
          (pmod(col("c_custkey") * 17, lit(9000)) + 1000).cast("string"),
          lit(" or "),
          lower(regexp_replace(col("c_name"), "[^A-Za-z0-9]", "")),
          lit("@example.com from "),
          pmod(col("c_custkey"), lit(256)).cast("string"), lit("."),
          pmod(col("c_custkey") * 7, lit(256)).cast("string"), lit("."),
          pmod(col("c_custkey") * 13, lit(256)).cast("string"), lit("."),
          pmod(col("c_custkey") * 29, lit(256)).cast("string"),
          lit(" acct "), (col("c_custkey") + 100000000L).cast("string"))
          .as("text"))
      graft.operators.Privacy.piiScan(txt, "text")
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("n_email")).cast("long").as("emails"),
          sum(col("n_phone")).cast("long").as("phones"),
          sum(col("n_ipv4")).cast("long").as("ipv4s"),
          sum(col("n_idnum")).cast("long").as("idnums"),
          sum(length(col("text_masked"))).cast("long").as("masked_len"))
        .orderBy(col("c_mktsegment"))
    }),

    "dp_counts" -> ((s, dir) =>
      graft.operators.Privacy.dpCounts(
        Tables.events(s, dir),
        Seq(
          "event_type" -> col("event_type"),
          "week" -> date_trunc("WEEK", col("ts")).cast("date")),
        seed = "graft-dp-r11")
        .orderBy(col("event_type"), col("week"))),

    "kanon_audit" -> ((s, dir) => {
      val quasi = Seq(
        "event_type" -> col("event_type"),
        "day" -> to_date(col("ts")),
        "vbucket" -> floor(col("value") / 50).cast("long"))
      val ev = Tables.events(s, dir)
      val kk = 5
      val viol = Privacy.kAnonymityAudit(ev, quasi, k = kk)
      val anon = Privacy.kAnonymize(ev, quasi, k = kk)
      val requasi = quasi.map { case (n, _) => n -> col(n) }
      val postClean = Privacy
        .kAnonymityAudit(anon.where(col("day").isNotNull), requasi, k = kk)
        .limit(1).count() == 0
      val m = ev.select(quasi.map { case (n, c) => c.as(n) }: _*)
        .groupBy(quasi.map(q => col(q._1)): _*)
        .agg(count(lit(1)).as("n"))
        .agg(
          count(lit(1)).as("n_classes"),
          sum(when(col("n") < kk, 1L).otherwise(0L)).as("n_violating"),
          sum(when(col("n") < kk, col("n")).otherwise(0L)).as("n_rows_at_risk"))
      viol.crossJoin(broadcast(m))
        .withColumn("post_suppression_clean", lit(postClean))
        .orderBy(col("event_type"), col("day"), col("vbucket"))
    }),

    // ── DISTINCT l-DIVERSITY audit ([[Privacy.lDiversityAudit]]): the
    // homogeneity leak k-anonymity can't see — classes (event_type, day,
    // value bucket) whose rows name fewer than l distinct users, with the
    // global exposure summary riding on every row (same readout shape as
    // kanon_audit, so the two gates read alike) ──
    "ldiv_audit" -> ((s, dir) => {
      val quasi = Seq(
        "event_type" -> col("event_type"),
        "day" -> to_date(col("ts")),
        "vbucket" -> floor(col("value") / 50).cast("long"))
      val ev = Tables.events(s, dir)
      val ll = 3
      val viol = Privacy.lDiversityAudit(ev, quasi, col("user_id"), l = ll)
      val m = ev.select(quasi.map { case (n, c) => c.as(n) } :+ col("user_id"): _*)
        .groupBy(quasi.map(q => col(q._1)): _*)
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("d"))
        .agg(
          count(lit(1)).as("n_classes"),
          sum(when(col("d") < ll, 1L).otherwise(0L)).as("n_violating"),
          sum(when(col("d") < ll, col("n")).otherwise(0L)).as("n_rows_at_risk"))
      viol.crossJoin(broadcast(m))
        .orderBy(col("event_type"), col("day"), col("vbucket"))
    }),

    // ── right-to-be-forgotten purge ([[Privacy.forgetUsers]]): erase the
    // subject set (user_id % 37 = 0) from a day-partitioned table by
    // column-pruned discovery → partition-pruned anti-join rewrite →
    // emptied-partition drop; a second run must be a no-op. Output is the
    // purged table's daily rollup plus a measured zero-remnant law column;
    // the oracle recomputes the rollup from raw events minus the subjects ──
    "gdpr_forget" -> ((s, dir) => {
      val schema = StructType(Seq(
        StructField("event_id", LongType, nullable = false),
        StructField("user_id", LongType, nullable = false),
        StructField("value", DoubleType, nullable = true),
        StructField("event_date", DateType, nullable = false)))
      val t = new TableManager("graft_events_gdpr", schema, Seq("event_date"))
      t.recreate(s)
      t.overwritePartitions(s, Tables.events(s, dir)
        .withColumn("event_date", to_date(col("ts")))
        .select(schema.fieldNames.map(col).toSeq: _*))
      val subjects = Tables.events(s, dir)
        .select(col("user_id")).where(col("user_id") % 37 === 0).distinct()
      val touched = Privacy.forgetUsers(s, t, "user_id", "event_date", subjects)
      require(touched.nonEmpty, "gdpr_forget: fixture must touch at least one partition")
      require(Privacy.forgetUsers(s, t, "user_id", "event_date", subjects).isEmpty,
        "gdpr_forget: second run must be a no-op")
      val remnants = t.read(s)
        .join(broadcast(subjects), Seq("user_id"), "left_semi")
        .agg(count(lit(1))).head().getLong(0)
      t.read(s)
        .groupBy(col("event_date"))
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          round(sum(col("value")), 2).as("sum_value"))
        .withColumn("no_remnants", lit(remnants == 0L))
        .orderBy(col("event_date"))
    }),

    // ── Z-ORDER LAYOUT ([[Layout.scanEfficiency]]): the file-skipping win
    // multi-dimensional clustering buys over a single-column sort, measured
    // on the events table for the canonical 100 TB predicate shape
    // (user band × day band). One report row per layout — file counts,
    // files/rows a zone-map reader must scan, rows actually matching, and
    // the read amplification in ppm — all integers, replayed bitwise by the
    // oracle. The z-order row scanning FEWER rows for the same matches IS
    // the demonstrated win; at cluster scale the rank-bucket step becomes
    // sampled range boundaries (see Layout's Scaladoc) and everything else
    // in the plan is map-side + one file-count-sized groupBy. ──
    "zorder_prune" -> ((s, dir) =>
      Layout.scanEfficiency(
        Tables.events(s, dir).select(
          col("user_id").as("x"), dayofmonth(col("ts")).as("y")),
        col("x"), col("y"),
        dimBits = ZDimBits, fileBits = ZFileBits,
        xLo = ZXLo, xHi = ZXHi, yLo = ZYLo, yHi = ZYHi)),

    // ── HILBERT-CURVE LAYOUT ([[Layout.scanEfficiencyHilbert]]): the
    // three space-filling strategies — linear sort, Morton z-order, and
    // the Hilbert curve — compared on the IDENTICAL bucket grid, file
    // split, zone maps, and box predicate. Hilbert has no Morton-style
    // long jumps (consecutive curve positions are always grid neighbors,
    // pinned exhaustively in LayoutSpec), so its per-file boxes are
    // tighter and its scan column reads fewer rows; the oracle replays
    // the full stateful xy2d unroll bitwise through the CTE chain ──
    "hilbert_prune" -> ((s, dir) =>
      Layout.scanEfficiencyHilbert(
        Tables.events(s, dir).select(
          col("user_id").as("x"), dayofmonth(col("ts")).as("y")),
        col("x"), col("y"),
        dimBits = ZDimBits, fileBits = ZFileBits,
        xLo = ZXLo, xHi = ZXHi, yLo = ZYLo, yHi = ZYHi)),

    // ── MANIFEST-DRIVEN data skipping over the physical z-order layout —
    // the Delta/Iceberg scan-planning shape as an end-to-end query: build a
    // zone-map MANIFEST (per-file min/max boxes) from the written files,
    // select the files whose box intersects the predicate (a bounded
    // file-count-sized collect — scan planning IS a driver/metadata step),
    // and read ONLY those files back (`file_id` is a partition directory,
    // so the selection reaches the scan as PartitionFilters — plan-pinned
    // in LayoutSpec). The oracle replays the file assignment, the zone
    // boxes, the intersection count, and the aggregate over the selected
    // files' box rows — so both the SKIP COUNT and the result correctness
    // are hash-locked ──
    "zorder_manifest_scan" -> ((s, dir) => {
      val src = Tables.events(s, dir).select(
        col("user_id").as("x"), dayofmonth(col("ts")).cast("long").as("y"))
      val path = scratch(dir, "zorder_manifest_files")
      Layout.writeLayout(src, col("x"), col("y"), ZDimBits, ZFileBits, morton = true, path)
      val files = s.read.parquet(path)
      val manifest = files.groupBy(col("file_id"))
        .agg(min(col("x")).as("mnx"), max(col("x")).as("mxx"),
          min(col("y")).as("mny"), max(col("y")).as("mxy"))
      val zones = manifest.collect() // file-count-sized: the scan-planning fetch
      val hit = zones.filter { r =>
        r.getAs[Long]("mxx") >= ZXLo && r.getAs[Long]("mnx") <= ZXHi &&
          r.getAs[Long]("mxy") >= ZYLo && r.getAs[Long]("mny") <= ZYHi
      }.map(_.getAs[Int]("file_id"))
      val selected = files.where(col("file_id").isin(hit.toSeq: _*))
      selected
        .where(col("x").between(ZXLo, ZXHi) && col("y").between(ZYLo, ZYHi))
        .agg(count(lit(1)).as("n_match"), sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"))
        .select(
          lit(zones.length.toLong).as("n_files_total"),
          lit(hit.length.toLong).as("n_files_scanned"),
          col("n_match"), col("sum_x"), col("sum_y"))
    }),

    // ── per-file BLOOM manifest: point-lookup skipping where zone maps
    // CAN'T prune ([[Layout.bloomManifest]]/[[Layout.bloomCandidates]]).
    // Events land hash-scattered across ~n/1000-row files (modeling
    // unordered ingest: every file's event_id [min,max] spans the whole
    // domain, so a min/max manifest skips nothing); each file publishes
    // its id set's bloom bits, and each probed event_id reads ONLY the
    // files whose filter holds all its bits (the `isin` reaches the scan
    // as PartitionFilters over the file_id directories). Deterministic
    // md5 bits → the oracle replays layout, manifest, candidate sets, AND
    // the `no_false_negative` law (the true file is always a candidate) —
    // so both the skip counts and the lookup answers are hash-locked ──
    "bloom_manifest_scan" -> ((s, dir) => {
      val path = scratch(dir, "bloom_files")
      val ev = Tables.events(s, dir).select(col("event_id"), col("value"))
      // the count FIXES the layout geometry (nFiles) that the write's
      // hash-bucketing depends on, so it cannot ride the write's own
      // metrics — it must run first. It is a two-column parquet scan with
      // no shuffle, and the oracle replays the same ceil-division
      val nFiles = math.max(1L, (ev.count() + BloomRowsPerFile - 1) / BloomRowsPerFile)
      def fileOf(id: org.apache.spark.sql.Column) =
        pmod(
          conv(substring(md5(concat(id.cast("string"), lit("#f"))), 1, 8), 16, 10)
            .cast("long"),
          lit(nFiles))
      ev.withColumn("file_id", fileOf(col("event_id")))
        .write.mode("overwrite").partitionBy("file_id").parquet(path)
      val files = s.read.parquet(path)
      val manifest = Layout.bloomManifest(
        files, col("event_id"), col("file_id"), BloomM, BloomK)
      val probes = Tables.events(s, dir)
        .where(col("event_id") % BloomProbeMod === 0)
        .select(col("event_id").as("probe_id"))
      val cand = Layout.bloomCandidates(manifest, probes, "probe_id", BloomM, BloomK)
      // scan planning: the candidate FILE list is a bounded metadata fetch
      val candFiles = cand.select(col("file_id")).distinct()
        .collect().map(_.getAs[Number]("file_id").longValue())
      val selected = files.where(col("file_id").isin(candFiles.toSeq: _*))
      val found = selected
        .join(broadcast(probes), col("event_id") === col("probe_id"))
        .groupBy(col("probe_id"))
        .agg(count(lit(1)).as("n_found"), round(sum(col("value")), 2).as("value_sum"))
      val perProbe = cand
        .groupBy(col("probe_id"))
        .agg(
          count(lit(1)).as("n_files_candidate"),
          max(when(col("file_id") === fileOf(col("probe_id")), 1L).otherwise(0L))
            .as("hit_true"))
      probes
        .join(perProbe, Seq("probe_id"))
        .join(found, Seq("probe_id"))
        .select(
          col("probe_id"),
          lit(nFiles).as("n_files_total"),
          col("n_files_candidate"),
          (col("hit_true") === 1L).as("no_false_negative"),
          col("n_found"), col("value_sum"))
        .orderBy(col("probe_id"))
    }),

    // ── PHYSICAL z-order write + read-back ([[Layout.writeLayout]]): both
    // layouts are actually written as one-parquet-file-per-group with real
    // footer min/max stats (LayoutSpec pins footer-predicted == actual
    // skipping and fewer files hit under z-order); this query proves the
    // rewrite is LOSSLESS — per-layout file counts from the written
    // file_id directories plus a box-predicate aggregate that must be
    // byte-identical across layouts and to the source table ──
    "zorder_write_read" -> ((s, dir) => {
      val src = Tables.events(s, dir).select(
        col("user_id").as("x"), dayofmonth(col("ts")).cast("long").as("y"))
      val boxed = Map(
        "zorder" -> scratch(dir, "zorder_files"),
        "linear" -> scratch(dir, "linear_files")).toSeq.map { case (name, path) =>
        Layout.writeLayout(
          src, col("x"), col("y"), ZDimBits, ZFileBits,
          morton = name == "zorder", path = path)
        val box = col("x").between(ZXLo, ZXHi) && col("y").between(ZYLo, ZYHi)
        s.read.parquet(path).agg(
          countDistinct(col("file_id")).as("n_files"),
          sum(when(box, 1L).otherwise(0L)).as("n_match"),
          sum(when(box, col("x"))).as("sum_x"),
          sum(when(box, col("y"))).as("sum_y"))
          .select(
            lit(name).as("layout"), col("n_files"), col("n_match"),
            col("sum_x"), col("sum_y"))
      }
      boxed.reduce(_ unionByName _).orderBy(col("layout"))
    }),

    // ── TRANSACTIONAL TIME TRAVEL ([[graft.sources.SnapshotLog]]): the
    // orders base committed as snapshot v0, a CDC-style merge (updates /
    // deletes / inserts keyed off o_orderkey mod 10) committed as v1, then
    // BOTH versions read back AFTER v1 landed — the pinned-manifest read
    // proves v0 is byte-intact under the newer commit (snapshot isolation,
    // time-travel-by-version). Every commit is one atomic put-if-absent of
    // the next manifest; SnapshotLogSpec separately pins the
    // concurrent-writer conflict and mid-prune reader consistency. The
    // oracle recomputes both version states relationally — matching hashes
    // prove the log stored, versioned, and served exactly the right rows ──
    "time_travel" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_log"))
      log.recreate()
      val base = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderpriority"))
      val v0 = log.append(base, partitions = 4)
      val merged = base.where(col("o_orderkey") % 10 =!= 7)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 10 === 3, lit("U")).otherwise(col("o_orderstatus")))
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 10 === 3, col("o_totalprice") + lit(10.0))
            .otherwise(col("o_totalprice")))
        .unionByName(base.where(col("o_orderkey") % 10 === 1)
          .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
          .withColumn("o_orderpriority", lit("NEW")))
      val v1 = log.overwrite(merged, partitions = 4)
      def snap(v: Long) = log.read(s, v)
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_orderkey")).as("sum_key"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
        .withColumn("version", lit(v))
      snap(v0).unionByName(snap(v1))
        .orderBy(col("version"), col("o_orderpriority"))
    }),

    // ── VACUUM under the snapshot log ([[SnapshotLog.vacuum]]): orphan
    // collection with pinned snapshots kept intact. v0 = 4-file append,
    // v1 = 2-file compaction, plus one ABORTED stage (files written, never
    // committed). Vacuum #1 must collect EXACTLY the aborted stage (set
    // equality, not a count); the pinned v0 must still read completely
    // AFTER that vacuum; expiring v0 makes its 4 files orphans and vacuum
    // #2 must collect EXACTLY those; vacuum #3 must collect nothing
    // (idempotent). All four laws ride as hashed booleans next to the
    // surviving snapshot's corpus aggregate ──
    "vacuum_orphans" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_vacuum"))
      log.recreate()
      val docs = Tables.documents(s, dir).select(
        col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val v0 = log.append(docs, partitions = 4)
      val v1 = log.compact(s, partitions = 2)
      val abortedStage = log.stageData(
        docs.where(col("doc_id") % 10 === 0), partitions = 3)
      val v0Files = log.files(v0).toSet
      val v1Files = log.files(v1).toSet
      val collected1 = log.vacuum()
      val v0RowsAfter = log.read(s, v0).count()
      val nDocs = docs.count()
      log.expire(keepFrom = v1)
      val collected2 = log.vacuum()
      val collected3 = log.vacuum()
      log.readLatest(s)
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("doc_id")).as("n_distinct"),
          sum(col("n_chars")).as("sum_chars"))
        .select(
          lit(collected1.toSet == abortedStage.toSet).as("aborted_collected_exactly"),
          lit(v0RowsAfter == nDocs).as("v0_readable_after_vacuum"),
          lit(collected2.toSet == v0Files -- v1Files).as("expired_collected_exactly"),
          lit(collected3.isEmpty).as("vacuum_idempotent"),
          col("n_docs"), col("n_distinct"), col("sum_chars"))
    }),

    // ── STREAMING ingest → TRANSACTIONAL snapshot commits
    // ([[graft.streaming.StreamingCdc.snapshotIngestReplay]]): a real
    // 3-trigger file replay where every micro-batch publishes as ONE
    // atomic SnapshotLog version — trigger boundaries are the only states
    // a reader can observe, and the version history is the trigger
    // history. Laws: versions dense from 0, one per trigger; per-version
    // row counts non-decreasing with the final version holding EXACTLY
    // the input (the rollup the oracle replays proves content) ──
    // ── STREAMING MERGE-UPSERT under the snapshot log
    // ([[graft.streaming.StreamingCdc.mergeUpsertReplay]]): a real
    // 3-trigger change-stream replay where every micro-batch commits one
    // atomic COPY-ON-WRITE merge, with the stats-pruned rewrite scope
    // asserted bounded on EVERY trigger (rewritten < total files — the
    // narrow-batch-over-clustered-table guarantee a 100 TB streaming
    // upsert lives on). The final snapshot must hash-equal the
    // all-at-once batch merge (anti-join + union), which the oracle
    // replays ──
    "stream_merge_upsert" -> ((s, dir) => {
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderpriority").as("prio"))
      val b = base.agg(min(col("k")), max(col("k"))).head()
      val (mn, mx) = (b.getLong(0), b.getLong(1))
      val band = mn + (mx - mn) / 4
      val changes = base
        .where(col("k") <= band && col("k") % 7 === 3)
        .select(col("k"), (col("cents") + 1).as("cents"), col("prio"))
        .unionByName(base.where(col("k") % 13 === 5)
          .select((col("k") + lit(mx) + lit(1000L)).as("k"), col("cents"), col("prio")))
      val (log, perTrigger) = graft.streaming.StreamingCdc.mergeUpsertReplay(
        base, changes, "k", scratch(dir, "stream_merge"))
      val merged = log.readLatest(s)
      val expect = base
        .join(changes.select(col("k")), Seq("k"), "left_anti")
        .unionByName(changes)
      val equal = Proofs.sameMultiset(merged, expect)
      val boundedEvery =
        perTrigger.nonEmpty && perTrigger.forall { case (_, rew, tot) => rew < tot }
      merged
        .groupBy(col("prio"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .withColumn("stream_equals_batch_merge", lit(equal))
        .withColumn("rewrite_bounded_every_trigger", lit(boundedEvery))
        .orderBy(col("prio"))
    }),

    "stream_snapshot_ingest" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("event_id").cast("long").as("event_id"),
        col("user_id").cast("long").as("user_id"), col("event_type"))
      val root = scratch(dir, "stream_snap_ingest")
      val versions = graft.streaming.StreamingCdc.snapshotIngestReplay(
        ev, sliceKeys = Seq("event_id"), root = root)
      val log = new SnapshotLog(s"$root/log")
      val counts = versions.map(v => log.read(s, v).count())
      val dense = versions == versions.indices.map(_.toLong)
      val monotone = counts.zip(counts.tail).forall { case (a, b) => a <= b }
      log.readLatest(s)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("event_id")).as("sum_ids"))
        .withColumn("versions_dense", lit(dense))
        .withColumn("history_monotone", lit(monotone))
        .orderBy(col("event_type"))
    }),

    // ── MULTI-TABLE TRANSACTIONAL STREAMING INGEST ([[graft.streaming
    // .StreamingCdc.txnIngestReplay]]): each micro-batch routes rows to
    // two logs (even/odd event ids) and publishes both appends + ONE
    // txn anchor — readers at any txn see a consistent cross-table cut.
    // Laws: dense txn ids, monotone cut sizes, the final cut is the
    // whole input, zero catalog-invisible orphans ──
    "stream_txn_ingest" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("event_id").cast("long").as("event_id"),
        col("user_id").cast("long").as("user_id"), col("event_type"))
      val (cat, txns) = graft.streaming.StreamingCdc.txnIngestReplay(
        ev, sliceKeys = Seq("event_id"),
        routeToA = pmod(col("event_id"), lit(2)) === 0,
        root = scratch(dir, "stream_txn"))
      val dense = txns == txns.indices.map(_.toLong)
      val cuts = txns.map(t =>
        cat.readTable(s, t, "a").count() + cat.readTable(s, t, "b").count())
      val monotone = cuts.zip(cuts.tail).forall { case (x, y) => x <= y }
      val complete = cuts.nonEmpty && cuts.last == ev.count()
      val noOrphans = cat.unanchoredVersions.values.forall(_.isEmpty)
      cat.readTable(s, cat.current.get, "a")
        .unionByName(cat.readTable(s, cat.current.get, "b"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("event_id")).as("sum_ids"))
        .withColumn("txns_dense", lit(dense))
        .withColumn("cuts_monotone", lit(monotone))
        .withColumn("final_cut_complete", lit(complete))
        .withColumn("no_orphan_versions", lit(noOrphans))
        .orderBy(col("event_type"))
    }),

    // ── CATALOG-DRIVEN ORPHAN GC ([[TxnCatalog.gcOrphanSuffix]] +
    // [[SnapshotLog.vacuum]]): two writers crash after their orders-log
    // commits but before anchoring — the catalog names exactly those
    // suffix versions, drops them metadata-only, vacuum reclaims exactly
    // their two files, the pinned txn still reads the full corpus, and
    // a second GC+vacuum pass collects nothing ──
    "txn_gc" -> ((s, dir) => {
      val oLog = new SnapshotLog(scratch(dir, "gc_orders"))
      val lLog = new SnapshotLog(scratch(dir, "gc_lineitem"))
      oLog.recreate(); lLog.recreate()
      val cat = new TxnCatalog(scratch(dir, "gc_cat"),
        Map("orders" -> oLog, "lineitem" -> lLog))
      cat.recreate()
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val items = Tables.lineitem(s, dir).select(col("l_orderkey").as("lk"))
      val t0 = cat.commitTxn(None, Map(
        "orders" -> oLog.append(orders, partitions = 2),
        "lineitem" -> lLog.append(items, partitions = 2)))
      oLog.append(orders.where(col("k") % 11 === 0), partitions = 1)
      oLog.append(orders.where(col("k") % 13 === 0), partitions = 1)
      val dropped = cat.gcOrphanSuffix()
      val vacOrders = oLog.vacuum()
      val vacItems = lLog.vacuum()
      val gcExact = dropped == Map(
        "orders" -> Seq(1L, 2L), "lineitem" -> Seq.empty[Long])
      val filesReclaimed = vacOrders.size == 2 && vacItems.isEmpty
      val secondPass = cat.gcOrphanSuffix().values.forall(_.isEmpty) &&
        oLog.vacuum().isEmpty
      val intact = cat.readTable(s, t0, "orders").count() == orders.count()
      cat.readTable(s, t0, "orders").groupBy(col("prio"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .withColumn("gc_dropped_exact", lit(gcExact))
        .withColumn("orphan_files_reclaimed", lit(filesReclaimed))
        .withColumn("gc_idempotent", lit(secondPass))
        .withColumn("anchored_reads_intact", lit(intact))
        .orderBy(col("prio"))
    }),

    // ── CATEGORICAL VALUE-SET PRUNING ([[SnapshotLog.appendValueIndexed]]
    // / [[SnapshotLog.readWhere]]): per-file DISTINCT-VALUE sidecars — the
    // categorical complement of min/max stats — prune a point query on
    // o_orderpriority to the files actually carrying the literal;
    // laws: the skip fired AND the pruned read equals the full filtered
    // read (exceptAll both ways) ──
    "snapshot_value_prune" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_values"))
      log.recreate()
      val base = Tables.orders(s, dir).select(
        col("o_orderkey"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderpriority"))
        .repartitionByRange(5, col("o_orderpriority"))
        .sortWithinPartitions(col("o_orderpriority"))
      val v0 = log.appendValueIndexed(base, Seq("o_orderpriority"))
      val urgent = col("o_orderpriority") === "1-URGENT"
      val (pruned, (opened, total)) = log.readWhere(s, v0, urgent)
      val full = log.read(s, v0).where(urgent)
      val equal = Proofs.sameMultiset(pruned, full)
      pruned
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .withColumn("skip_happened", lit(opened < total))
        .withColumn("pruned_equals_full", lit(equal))
    }),

    // ── BLOOM-FILTER FILE SKIPPING ([[SnapshotLog.appendBloomIndexed]]
    // / [[SnapshotLog.readWhere]]): per-file Bloom sidecars — the
    // HIGH-CARDINALITY complement of the value-set sidecar (the Delta
    // Bloom index / Iceberg Puffin shape). The table is hash-scattered
    // on o_orderkey so min/max ranges are useless and a distinct-value
    // set would overflow, yet the point lookup opens only the file(s)
    // whose filter might contain the key; laws: the skip fired AND the
    // pruned read equals the full filtered read (exceptAll both ways —
    // false positives re-open files, never change rows) ──
    "snapshot_bloom_prune" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_bloom"))
      log.recreate()
      val base = Tables.orders(s, dir).select(
        col("o_orderkey"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .repartition(8, col("o_orderkey"))
      val v0 = log.appendBloomIndexed(base, Seq("o_orderkey"),
        expectedItemsPerFile = 50000L)
      val k = base.agg(org.apache.spark.sql.functions.min(col("o_orderkey")))
        .head().getLong(0)
      val (pruned, (opened, total)) = log.readWhere(s, v0, col("o_orderkey") === k)
      val full = log.read(s, v0).where(col("o_orderkey") === k)
      val equal = Proofs.sameMultiset(pruned, full)
      pruned
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .withColumn("skip_happened", lit(opened < total))
        .withColumn("pruned_equals_full", lit(equal))
    }),

    // ── FOREIGN-KEY-GATED APPEND ([[SnapshotLog.appendCheckedRef]]):
    // child batches validate against a SNAPSHOT-PINNED parent key set —
    // the orphan batch (shifted keys) is rejected whole with the child
    // log untouched, valid halves land, and NULL foreign keys pass per
    // SQL FK semantics. Final child table rolled up by key residue
    // (incl. the NULL bucket) ──
    "snapshot_fk_gate" -> ((s, dir) => {
      val pLog = new SnapshotLog(scratch(dir, "fk_parent"))
      val cLog = new SnapshotLog(scratch(dir, "fk_child"))
      pLog.recreate(); cLog.recreate()
      val orders = Tables.orders(s, dir).select(col("o_orderkey").as("k"))
      val items = Tables.lineitem(s, dir).select(
        col("l_orderkey").as("fk"),
        floor(col("l_extendedprice") * 100).cast("long").as("cents"))
      val pv = pLog.append(orders, partitions = 2)
      val refKeys = pLog.read(s, pv).select(col("k"))
      cLog.appendCheckedRef(items.where(col("fk") % 2 === 0), 2, "fk", refKeys)
      val badRejected =
        try {
          cLog.appendCheckedRef(
            items.where(col("fk") % 2 === 1)
              .withColumn("fk", col("fk") + 1000000000L),
            2, "fk", refKeys)
          false
        } catch { case _: IllegalArgumentException => true }
      val childClean = cLog.currentVersion.contains(0L)
      cLog.appendCheckedRef(
        items.where(col("fk") % 2 === 1)
          .withColumn("fk",
            when(col("fk") % 10 === 1, lit(null).cast("long"))
              .otherwise(col("fk"))),
        2, "fk", refKeys)
      cLog.readLatest(s)
        .groupBy((col("fk") % 4).as("fk_bucket"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .withColumn("orphan_batch_rejected", lit(badRejected))
        .withColumn("child_clean_after_reject", lit(childClean))
        .orderBy(col("fk_bucket"))
    }),

    // ── CATALOG DESCRIBE HISTORY ([[TxnCatalog.history]]): one row per
    // (txn, table) with the pinned version and whether that txn ADVANCED
    // the table — partial txns inherit, and the advanced flag derives
    // purely from consecutive anchors. Per-cut row counts ride as the
    // audit read, bounded by txn-count × table-count ──
    "txn_history" -> ((s, dir) => {
      import s.implicits._
      val oLog = new SnapshotLog(scratch(dir, "th_orders"))
      val lLog = new SnapshotLog(scratch(dir, "th_items"))
      oLog.recreate(); lLog.recreate()
      val cat = new TxnCatalog(scratch(dir, "th_cat"),
        Map("orders" -> oLog, "lineitem" -> lLog))
      cat.recreate()
      val orders = Tables.orders(s, dir).select(col("o_orderkey").as("k"))
      val items = Tables.lineitem(s, dir).select(col("l_orderkey").as("lk"))
      val t0 = cat.commitTxn(None, Map(
        "orders" -> oLog.append(orders.where(col("k") % 2 === 0), partitions = 2),
        "lineitem" -> lLog.append(items.where(col("lk") % 2 === 0), partitions = 2)))
      val t1 = cat.commitTxn(Some(t0), Map(
        "orders" -> oLog.append(orders.where(col("k") % 2 === 1), partitions = 2)))
      cat.commitTxn(Some(t1), Map(
        "lineitem" -> lLog.append(items.where(col("lk") % 2 === 1), partitions = 2)))
      val hist = cat.history.toDF("txn", "table_name", "version", "advanced")
      val counts = cat.history.map { case (t, n, _, _) =>
        (t, n, cat.readTable(s, t, n).count())
      }.toDF("txn", "table_name", "n_rows")
      hist.join(counts, Seq("txn", "table_name"))
        .orderBy(col("txn"), col("table_name"))
    }),

    // ── STATS-BASED FILE PRUNING under the snapshot log ([[SnapshotLog
    // .appendIndexed]] / [[SnapshotLog.readWhere]], the Delta
    // add-file-stats shape): the commit records per-file min/max for the
    // price key, a range read opens ONLY the files whose recorded range
    // intersects the predicate (metadata-sized planning), and the laws —
    // the skip actually fired (files_opened < files_total) AND the pruned
    // result equals the full filtered read (exceptAll both ways) — are
    // measured, not assumed. Input range-clustered first; unsorted files
    // would carry full-range stats and prune nothing ──
    "snapshot_stats_prune" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_stats"))
      log.recreate()
      val base = Tables.orders(s, dir).select(
        col("o_orderkey"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderpriority"))
        .repartitionByRange(4, col("cents"))
        .sortWithinPartitions(col("cents"))
      val v0 = log.appendIndexed(base, Seq("cents"))
      val b = log.read(s, v0).agg(min(col("cents")), max(col("cents"))).head()
      val (mn, mx) = (b.getLong(0), b.getLong(1))
      val pLo = mn + (mx - mn) / 3
      val pHi = mn + 2 * (mx - mn) / 3
      val inRange = col("cents") >= pLo && col("cents") <= pHi
      val (pruned, (opened, total)) = log.readWhere(s, v0, inRange)
      val full = log.read(s, v0).where(inRange)
      val equal = Proofs.sameMultiset(pruned, full)
      pruned
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .withColumn("skip_happened", lit(opened < total))
        .withColumn("pruned_equals_full", lit(equal))
        .orderBy(col("o_orderpriority"))
    }),

    // ── CHECK constraints on commit ([[SnapshotLog.appendChecked]], the
    // Delta table-constraint shape): a clean batch commits; a batch with
    // negative amounts is rejected LOUDLY (per-constraint violation
    // counts in the error) in ONE batch-sized validation pass, and the
    // table state is provably untouched by the rejected batch. Both laws
    // measured, then hashed next to the committed corpus rollup ──
    "snapshot_constraints" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_check"))
      log.recreate()
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderpriority").as("prio"))
      val checks = Seq(
        "cents_nonneg" -> (col("cents") >= 0L),
        "prio_present" -> col("prio").isNotNull)
      val v0 = log.appendChecked(base, partitions = 4, checks)
      val bad = base.limit(50).withColumn("cents", -col("cents") - 1L)
      val rejected =
        try { log.appendChecked(bad, partitions = 1, checks); false }
        catch {
          case e: IllegalArgumentException => e.getMessage.contains("cents_nonneg")
        }
      val unchanged = log.currentVersion.contains(v0)
      log.readLatest(s)
        .groupBy(col("prio"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .withColumn("bad_batch_rejected", lit(rejected))
        .withColumn("state_unchanged", lit(unchanged))
        .orderBy(col("prio"))
    }),

    // ── DELTA-LOG metadata protocol under the snapshot log
    // ([[SnapshotLog.commit]]'s change-sized anchors + periodic
    // checkpoints, the Delta Lake log design): six appends commit six
    // `.delta` anchors each listing ONLY that commit's added files (2
    // lines against a growing 12-file table), checkpoints materialize
    // exactly at the interval (v0, v4), every version reconstructs by
    // replaying ≤ interval deltas onto the nearest checkpoint, and
    // expire re-bases survivors on a freshly materialized floor
    // checkpoint. All four protocol laws measured from the on-disk log,
    // then hashed next to the final corpus rollup ──
    "snapshot_delta_log" -> ((s, dir) => {
      val root = scratch(dir, "snap_delta")
      val log = new SnapshotLog(root)
      log.recreate()
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderpriority").as("prio"))
      val vs = (0 to 5).map(i =>
        log.append(base.where(col("k") % 6 === i), partitions = 2))
      val logDir = new java.io.File(s"$root/_log")
      def nm(v: Long, ext: String) = new java.io.File(logDir, f"v$v%08d.$ext")
      def lines(v: Long) = java.nio.file.Files
        .readAllLines(nm(v, "delta").toPath).toArray
        .map(_.toString).filter(_.nonEmpty).toSeq
      val anchorsChangeSized = (1L to 5L).forall { v =>
        // first line is the `#ts=` commit-wall-clock header; the CHANGE
        // payload behind it is what must stay O(change)
        val l = lines(v).filterNot(_.startsWith("#"))
        l.size == 2 && l.forall(_.startsWith("+"))
      }
      val anchorsCarryCommitTs = (0L to 5L).forall { v =>
        lines(v).headOption.exists(_.startsWith("#ts=")) &&
          log.commitTimeMillis(v) ==
            lines(v).head.stripPrefix("#ts=").toLong
      }
      val checkpointsAtInterval =
        (0L to 5L).filter(v => nm(v, "manifest").exists()) == Seq(0L, 4L)
      val counts = vs.map(v => log.read(s, v).count())
      val chainMonotone = counts.zip(counts.tail).forall { case (a, b) => a < b }
      log.expire(keepFrom = 2L)
      val survivorsReadAfterExpire =
        log.read(s, 2L).count() == counts(2) && log.read(s, 5L).count() == counts(5)
      log.readLatest(s)
        .groupBy(col("prio"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .withColumn("anchors_change_sized", lit(anchorsChangeSized))
        .withColumn("anchors_carry_commit_ts", lit(anchorsCarryCommitTs))
        .withColumn("checkpoints_at_interval", lit(checkpointsAtInterval))
        .withColumn("chain_monotone", lit(chainMonotone))
        .withColumn("survivors_read_after_expire", lit(survivorsReadAfterExpire))
        .orderBy(col("prio"))
    }),

    // ── CHANGE DATA FEED from the snapshot log ([[SnapshotLog
    // .changeFeed]], the Delta CDF shape): four commits — two appends, a
    // tombstone delete, another append — and the feed derives every
    // row-level change from exactly the files each commit ADDED (deletes
    // materialized as full images via a delete-sized join against the
    // pre-commit snapshot). The replay law — fold the feed onto the v0
    // state and land bitwise on the v3 state — is measured with exceptAll
    // both ways; the hashed rows are the per-(version, type) rollups ──
    "snapshot_change_feed" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_cdf"))
      log.recreate()
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val v0 = log.append(base.where(col("k") % 4 === 0), partitions = 2)
      log.append(base.where(col("k") % 4 === 1), partitions = 2)
      log.deleteRows(
        base.where(col("k") % 8 === 0).select(col("k")), partitions = 1)
      val v3 = log.append(base.where(col("k") % 4 === 2), partitions = 2)
      val feed = log.changeFeed(s, v0, v3)
      val replayed = feed.select(col("_commit_version")).distinct()
        .orderBy(col("_commit_version"))
        .collect().map(_.getLong(0))
        .foldLeft(log.read(s, v0)) { (state, v) =>
          val ins = feed.where(
            col("_commit_version") === v && col("_change_type") === "insert")
            .select(col("k"), col("cents"))
          val del = feed.where(
            col("_commit_version") === v && col("_change_type") === "delete")
            .select(col("k"))
          state.join(del, Seq("k"), "left_anti").unionByName(ins)
        }
      val target = log.read(s, v3)
      val replayLands = Proofs.sameMultiset(replayed, target)
      feed.groupBy(col("_commit_version"), col("_change_type"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .withColumn("replay_lands_on_target", lit(replayLands))
        .orderBy(col("_commit_version"), col("_change_type"))
    }),

    // ── DESCRIBE HISTORY from log metadata ([[SnapshotLog.history]]):
    // five commits spanning every operation class the classifier derives
    // from delta shape alone — two appends, a merge-on-read delete, a
    // compaction rewrite, and a RESTORE (itself a metadata-only rewrite
    // that resurrects the pre-delete rows: v4's row count returns to
    // v1's). Per-version file counts come from the log's metadata; the
    // per-version row counts are the audit read, bounded by version
    // count. The oracle re-derives everything from the modular slices ──
    "snapshot_history" -> ((s, dir) => {
      import s.implicits._
      val log = new SnapshotLog(scratch(dir, "snap_history"))
      log.recreate()
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      log.append(base.where(col("k") % 3 === 0), partitions = 2)
      val v1 = log.append(base.where(col("k") % 3 === 1), partitions = 3)
      log.deleteRows(base.where(col("k") % 6 === 0).select(col("k")), partitions = 1)
      log.compact(s, partitions = 2)
      log.restoreTo(v1)
      val hist = log.history
        .toDF("version", "op", "added_data", "added_tombstones", "removed", "n_files")
      val rows = log.versions.map(v => (v, log.read(s, v).count()))
        .toDF("version", "n_rows")
      hist.join(rows, Seq("version")).orderBy(col("version"))
    }),

    // ── RESTORE as disaster recovery ([[SnapshotLog.restoreTo]]): a
    // buggy job overwrites the table with a 1%-sample; restore
    // re-commits v0's listing as a NEW version — metadata-only (listing
    // equality pinned), bitwise-identical content (exceptAll both ways),
    // and the broken version stays readable for the post-mortem ──
    "snapshot_restore" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_restore"))
      log.recreate()
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val v0 = log.append(base, partitions = 3)
      log.overwrite(base.where(col("k") % 97 === 0), partitions = 1)
      val brokenRows = log.readLatest(s).count()
      val v2 = log.restoreTo(v0)
      val restored = log.read(s, v2)
      val metadataOnly = log.files(v2) == log.files(v0)
      val r0 = log.read(s, v0)
      val bitwise = Proofs.sameMultiset(restored, r0)
      restored.groupBy(col("prio"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .withColumn("broken_version_rows", lit(brokenRows))
        .withColumn("restore_metadata_only", lit(metadataOnly))
        .withColumn("restored_bitwise_v0", lit(bitwise))
        .orderBy(col("prio"))
    }),

    // ── INCREMENTAL MV FROM THE CHANGE FEED ([[SnapshotLog.changeFeed]]
    // feeding [[graft.operators.Materialize]]'s merge discipline): the MV
    // materializes ONCE at v0; three commits later it advances by ONE
    // change-sized aggregation of the feed (inserts +1, deletes -1)
    // merged into group-count-sized state — the base table is never
    // rescanned. The law column pins the maintained MV against a
    // from-scratch recompute of v3 with exceptAll both ways ──
    "mv_change_feed" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_mv_cdf"))
      log.recreate()
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val v0 = log.append(base.where(col("k") % 4 === 0), partitions = 2)
      val mv0 = log.read(s, v0).groupBy(col("prio"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
      log.append(base.where(col("k") % 4 === 1), partitions = 2)
      log.deleteRows(base.where(col("k") % 8 === 0).select(col("k")), partitions = 1)
      val v3 = log.append(base.where(col("k") % 4 === 2), partitions = 2)
      val sign = when(col("_change_type") === "insert", 1L).otherwise(-1L)
      val deltas = log.changeFeed(s, v0, v3)
        .groupBy(col("prio"))
        .agg(sum(sign).as("dn"), sum(sign * col("cents")).as("dc"))
      val merged = mv0.join(deltas, Seq("prio"), "full_outer")
        .select(col("prio"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_orders"),
          (coalesce(col("c"), lit(0L)) + coalesce(col("dc"), lit(0L))).as("sum_cents"))
        .where(col("n_orders") > 0)
      val direct = log.read(s, v3).groupBy(col("prio"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
      val lands = Proofs.sameMultiset(merged, direct)
      merged.withColumn("mv_matches_recompute", lit(lands))
        .orderBy(col("prio"))
    }),

    // ── WRITE-AUDIT-PUBLISH over zero-copy branches ([[SnapshotLog
    // .fork]] + [[SnapshotLog.appendChecked]] + one atomic publish
    // commit — the Iceberg WAP pattern): every write lands on an
    // isolated branch first; a poisoned batch (negative amounts) is
    // rejected by the branch's CHECK gate with main untouched; the clean
    // batch passes audit and PUBLISH fast-forwards main to the audited
    // listing in one put-if-absent metadata commit (a moved main would
    // lose the race, not tear). Published table == the full corpus ──
    "snapshot_wap" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_wap"))
      log.recreate()
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val v0 = log.append(base.where(col("k") % 2 === 0), partitions = 2)
      val audit = log.fork("audit")
      val bad = base.where(col("k") % 2 === 1)
        .withColumn("cents",
          when(col("k") % 16 === 1, -col("cents") - 1).otherwise(col("cents")))
      val badRejected =
        try {
          audit.appendChecked(bad, 2, Seq("cents_nonneg" -> (col("cents") >= 0)))
          false
        } catch { case _: IllegalArgumentException => true }
      val branchCleanAfterReject = audit.currentVersion.contains(0L)
      val mainCleanDuringAudit = log.currentVersion.contains(v0)
      audit.appendChecked(base.where(col("k") % 2 === 1), 2,
        Seq("cents_nonneg" -> (col("cents") >= 0)))
      val vPub = log.commit(log.currentVersion, audit.files(audit.currentVersion.get))
      log.read(s, vPub).groupBy(col("prio"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .withColumn("bad_batch_rejected_on_branch", lit(badRejected))
        .withColumn("branch_clean_after_reject", lit(branchCleanAfterReject))
        .withColumn("main_clean_during_audit", lit(mainCleanDuringAudit))
        .orderBy(col("prio"))
    }),

    // ── TABLE-AS-STREAM: streaming read FROM the snapshot log
    // ([[graft.streaming.StreamingCdc.logStreamReplay]], the Delta
    // streaming-source shape): three append commits replay as a REAL
    // six-trigger streaming aggregation (one trigger per committed file,
    // staged zero-copy via hard links), and the final complete-mode
    // output must equal the batch aggregate of the latest snapshot
    // bitwise — exceptAll both ways, plus the trigger accounting law ──
    "stream_from_log" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_stream_src"))
      log.recreate()
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      (0 until 3).foreach { i =>
        log.append(base.where(col("k") % 3 === i), partitions = 2); ()
      }
      val (tbl, triggers) = graft.streaming.StreamingCdc.logStreamReplay(
        log,
        src => src.groupBy(col("prio")).agg(
          count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents")),
        outputMode = "complete",
        queryName = "stream_from_log_sink")
      val batch = log.readLatest(s).groupBy(col("prio")).agg(
        count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
      val parity = Proofs.sameMultiset(tbl, batch)
      tbl.withColumn("stream_equals_batch", lit(parity))
        .withColumn("one_trigger_per_file", lit(triggers == 6L))
        .orderBy(col("prio"))
    }),

    // ── TRIGGER.AVAILABLENOW CATCH-UP
    // ([[graft.streaming.StreamingCdc.availableNowDrain]] over the
    // native `graft-log` source): the batch-shaped scheduled-pipeline
    // run — the end offset snapshots at start, the four-commit backlog
    // drains in version-bounded micro-batches through a checkpoint, and
    // the query TERMINATES ON ITS OWN (`self_terminated`, awaited — not
    // stopped); `admission_respected` pins that the drain really was
    // multiple bounded batches, not one monolith. The rollup must equal
    // the plain batch read (the oracle recomputes it) ──
    "stream_available_now" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "avnow_src"))
      log.recreate()
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 2000)
      (0 until 4).foreach { i =>
        log.append(orders.where(col("k") % 4 === i), partitions = 2); ()
      }
      val (drained, selfTerminated, batches) =
        graft.streaming.StreamingCdc.availableNowDrain(log, maxVersionsPerTrigger = 1)
      drained.groupBy(col("status"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("k")).cast("long").as("sum_key"),
          sum(col("cents")).cast("long").as("sum_cents"))
        .withColumn("self_terminated", lit(selfTerminated))
        .withColumn("admission_respected", lit(batches > 1L))
        .orderBy(col("status"))
    }),

    // ── NATIVE TABLE-AS-STREAM SOURCE with KILL/RESTART
    // ([[graft.sources.GraftLogSourceProvider]] —
    // `readStream.format("graft-log")`, offsets ARE log versions, zero
    // staging): two commits stream into a checkpointed file sink, the
    // query is STOPPED, two more commits land, and a brand-new instance
    // resumes from the checkpoint. The source's version offsets + the
    // sink's commit log must re-emit nothing and lose nothing
    // (`no_duplicate_emissions`, with `interrupted_midstream` proving the
    // kill was real); the oracle recomputes the per-status rollup from
    // the raw table, so one lost or doubled row fails the hash ──
    "stream_log_native" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "logsrc_native"))
      log.recreate()
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderstatus"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      log.append(orders.where(col("o_orderkey") <= 1000), partitions = 2)
      log.append(orders.where(col("o_orderkey").between(1001, 2000)), partitions = 2)
      graft.streaming.StreamingCdc.nativeLogSourceReplay(
        log,
        phase2 = Seq(
          orders.where(col("o_orderkey").between(2001, 3000)),
          orders.where(col("o_orderkey").between(3001, 4000))),
        partitions = 2,
        aggregate = df => df.groupBy(col("o_orderstatus")).agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_orderkey")).cast("long").as("sum_key"),
          sum(col("cents")).cast("long").as("sum_cents")))
        .orderBy(col("o_orderstatus"))
    }),

    // ── LOG→LOG STREAMING PIPELINE, EXACTLY-ONCE END TO END
    // ([[GraftLogSourceProvider]] as BOTH source and sink): version
    // offsets upstream + the `txn.<appId>=batchId` watermark downstream
    // ([[SnapshotLog.appendTxn]] — one transactional commit per
    // micro-batch, redeliveries skipped idempotently). The query is
    // killed between source commits and resumed from the checkpoint;
    // the destination must equal the source row for row
    // (`pipeline_exactly_once`, exceptAll both ways) with the watermark
    // actually recorded (`watermark_recorded`) ──
    "stream_log_pipeline" -> ((s, dir) => withTempRoot("graft_pipe_q_") { ckpt =>
      val src = new SnapshotLog(scratch(dir, "pipe_src"))
      val dst = new SnapshotLog(scratch(dir, "pipe_dst"))
      src.recreate(); dst.recreate()
      def run(): Unit = {
        val q = s.readStream
          .format("graft-log").option("root", src.root).load()
          .writeStream.format("graft-log")
          .option("root", dst.root).option("partitions", "2")
          .option("checkpointLocation", ckpt.toString)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderstatus"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      src.append(orders.where(col("o_orderkey") <= 1000), partitions = 2)
      src.append(orders.where(col("o_orderkey").between(1001, 2000)), partitions = 2)
      run() // phase 1, then the KILL
      src.append(orders.where(col("o_orderkey").between(2001, 3000)), partitions = 2)
      run() // a NEW instance resumes the checkpoint
      val (sdf, ddf) = (src.readLatest(s), dst.readLatest(s))
      val exact = Proofs.sameMultiset(ddf, sdf)
      val wmRecorded = dst.metaValues(dst.currentVersion.get)
        .exists { case (k, v) => k.startsWith("txn.") && v.toLong >= 1L }
      ddf.groupBy(col("o_orderstatus")).agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_orderkey")).cast("long").as("sum_key"),
          sum(col("cents")).cast("long").as("sum_cents"))
        .withColumn("pipeline_exactly_once", lit(exact))
        .withColumn("watermark_recorded", lit(wmRecorded))
        .orderBy(col("o_orderstatus"))
    }),

    // ── STREAMING CHANGE DATA FEED ([[GraftLogSourceProvider]] with
    // `readChangeFeed` — the Delta CDF streaming read): the stream drains
    // two appends, then a merge-on-read DELETE, UPDATE, and a compact
    // land MID-STREAM — commits the append-mode source must refuse, the
    // feed serves as row-level changes: deletes as pre-images, the
    // update as a delete+insert pair under ONE version, the compact as
    // ZERO rows. The sunk feed must equal the batch [[SnapshotLog
    // .readChanges]] over the same range (`stream_equals_batch_feed`,
    // exceptAll both ways), and the oracle replays every version's exact
    // change set relationally ──
    "stream_cdf_native" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "cdf_native"))
      log.recreate()
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("c"))
      log.append(orders.where(col("k") <= 1000), partitions = 2)
      log.append(orders.where(col("k").between(1001, 2000)), partitions = 2)
      val q = s.readStream
        .format("graft-log").option("root", log.root)
        .option("readChangeFeed", "true").load()
        .writeStream.format("memory").queryName("stream_cdf_native_sink")
        .outputMode("append").start()
      val sunk =
        try {
          q.processAllAvailable()
          log.deleteWhere(s, col("k") <= 200)
          log.updateWhere(s, col("k").between(500, 600), Seq("c" -> (col("c") + 5)))
          log.compact(s, partitions = 2)
          q.processAllAvailable()
          s.table("stream_cdf_native_sink")
        } finally q.stop()
      val batchFeed = log.readChanges(s, -1L, log.currentVersion.get)
      val parity = Proofs.sameMultiset(sunk, batchFeed)
      sunk.groupBy(col("_commit_version").as("commit_version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("k")).cast("long").as("sum_key"),
          sum(col("c")).cast("long").as("sum_cents"))
        .withColumn("stream_equals_batch_feed", lit(parity))
        .orderBy(col("commit_version"), col("change_type"))
    }),

    // ── BOUNDED STREAM ADMISSION ([[GraftLogSourceProvider]] with
    // `maxFilesPerTrigger` — the Delta rate-limit shape, the difference
    // between a backfill that checkpoints incrementally and one that
    // scans 100 TB in a single micro-batch): a four-commit backlog (2
    // files each) drains under a 3-file budget as FOUR data triggers —
    // one atomic version per micro-batch, measured from
    // StreamingQueryProgress (`backlog_over_four_triggers`) — and the
    // bounded drain's content is bitwise the batch read
    // (`bounded_equals_batch`, exceptAll both ways) ──
    "stream_from_log_bounded" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "logsrc_bounded"))
      log.recreate()
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 4000)
      (0 until 4).foreach { i =>
        log.append(orders.where(col("k") % 4 === i), partitions = 2); ()
      }
      val q = s.readStream
        .format("graft-log").option("root", log.root)
        .option("maxFilesPerTrigger", "3").load()
        .writeStream.format("memory").queryName("stream_bounded_sink")
        .outputMode("append").start()
      val (sunk, dataTriggers) =
        try {
          q.processAllAvailable()
          (s.table("stream_bounded_sink"),
            q.recentProgress.count(_.numInputRows > 0))
        } finally q.stop()
      val batch = log.readLatest(s)
      val parity = Proofs.sameMultiset(sunk, batch)
      sunk.groupBy(col("status")).agg(
          count(lit(1)).as("n_orders"),
          sum(col("k")).cast("long").as("sum_key"),
          sum(col("cents")).cast("long").as("sum_cents"))
        .withColumn("backlog_over_four_triggers", lit(dataTriggers == 4))
        .withColumn("bounded_equals_batch", lit(parity))
        .orderBy(col("status"))
    }),

    // ── STREAMING UPSERT SINK ([[GraftLogSink]]'s `mergeKey` — the CDC
    // apply shape as a first-class sink mode): three source commits
    // drain as MERGES on the key — the re-keyed second commit UPDATES
    // the rows the first inserted instead of duplicating them, the
    // third inserts fresh keys — and the destination holds exactly the
    // LATEST image per key (`upsert_equals_latest`, exceptAll both
    // ways vs the relational latest-per-key). Exactly-once rides the
    // same txn watermark as the append sink; each merge's rewrite
    // scope stays stats-pruned (O(touched files), not O(table)) ──
    "stream_upsert_sink" -> ((s, dir) => withTempRoot("graft_ups_q_") { ckpt =>
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val src = new SnapshotLog(scratch(dir, "ups_src"))
      val dst = new SnapshotLog(scratch(dir, "ups_dst"))
      src.recreate(); dst.recreate()
      dst.createEmpty(StructType(Seq(
        StructField("k", LongType), StructField("status", StringType),
        StructField("cents", LongType))))
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      src.append(base.where(col("k") <= 800), partitions = 2)
      src.append(base.where(col("k") <= 200)
        .withColumn("cents", col("cents") + 1000), partitions = 1)
      src.append(base.where(col("k").between(801, 1000)), partitions = 1)
      val q = s.readStream
        .format("graft-log").option("root", src.root)
        .option("maxVersionsPerTrigger", "1").load()
        .writeStream.format("graft-log")
        .option("root", dst.root).option("mergeKey", "k")
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val expected = base.where(col("k") <= 1000)
        .withColumn("cents",
          when(col("k") <= 200, col("cents") + 1000).otherwise(col("cents")))
      val sunk = dst.readLatest(s)
      val parity = Proofs.sameMultiset(sunk, expected)
      sunk.groupBy(col("status")).agg(
          count(lit(1)).as("n_orders"),
          sum(col("k")).cast("long").as("sum_key"),
          sum(col("cents")).cast("long").as("sum_cents"))
        .withColumn("upsert_equals_latest", lit(parity))
        .orderBy(col("status"))
    }),

    // ── CDC DELETES THROUGH THE UPSERT SINK ([[GraftLogSink]]'s
    // `deleteIndicator` — completing the CDC-apply shape): the feed
    // carries an extra boolean control column; indicator-true rows
    // DELETE their key inside the same one-evaluation merge that
    // updates/inserts the rest, so a Debezium-style changelog replays
    // into an exact replica (`cdc_equals_net_apply`). Exactly-once is
    // the same txn watermark: a REDELIVERED delete-carrying batch is an
    // idempotent skip — the destination version does not move
    // (`redelivered_delete_noop`). The indicator never lands in the
    // destination schema ──
    "stream_upsert_delete" -> ((s, dir) => withTempRoot("graft_upsdel_q_") { ckpt =>
      val src = new SnapshotLog(scratch(dir, "upsdel_src"))
      val dst = new SnapshotLog(scratch(dir, "upsdel_dst"))
      src.recreate(); dst.recreate()
      dst.createEmpty(StructType(Seq(
        StructField("k", LongType), StructField("status", StringType),
        StructField("cents", LongType))))
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      def feed(df: DataFrame, del: Boolean): Unit = {
        src.append(df.withColumn("_is_delete", lit(del)), partitions = 1); ()
      }
      feed(base.where(col("k") <= 800), del = false)
      feed(base.where(col("k") <= 200)
        .withColumn("cents", col("cents") + 1000), del = false)
      feed(base.where(col("k").between(301, 400)), del = true)
      val lastFeed = base.where(col("k").between(801, 1000))
      feed(lastFeed, del = false)
      val q = s.readStream
        .format("graft-log").option("root", src.root)
        .option("maxVersionsPerTrigger", "1").load()
        .writeStream.format("graft-log")
        .option("root", dst.root).option("mergeKey", "k")
        .option("deleteIndicator", "_is_delete")
        .option("appId", "upsdel_q")
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      val lastBatch =
        try { q.processAllAvailable(); q.recentProgress.map(_.batchId).max }
        finally q.stop()
      val expected = base.where(col("k") <= 1000 &&
          !col("k").between(301, 400))
        .withColumn("cents",
          when(col("k") <= 200, col("cents") + 1000).otherwise(col("cents")))
      val sunk = dst.readLatest(s)
      val parity = Proofs.sameMultiset(sunk, expected) &&
        sunk.columns.toSeq == Seq("k", "status", "cents")
      // redeliver the LAST batch through a fresh sink instance with the
      // same appId: the watermark must skip it, version pinned
      val vBefore = dst.currentVersion.get
      new graft.sources.GraftLogSink(dst, Some("upsdel_q"), 1,
        complete = false, mergeKey = Some("k"),
        deleteIndicator = Some("_is_delete"))
        .addBatch(lastBatch, lastFeed.withColumn("_is_delete", lit(false)))
      val noop = dst.currentVersion.contains(vBefore)
      sunk.groupBy(col("status")).agg(
          count(lit(1)).as("n_orders"),
          sum(col("k")).cast("long").as("sum_key"),
          sum(col("cents")).cast("long").as("sum_cents"))
        .withColumn("cdc_equals_net_apply", lit(parity))
        .withColumn("redelivered_delete_noop", lit(noop))
        .orderBy(col("status"))
    }),

    // ── UPSERT SINK INTO A COLUMN-MAPPED DESTINATION (closing the r14
    // refusal): the feed speaks the post-rename LOGICAL name; the sink
    // translates to physical ids and MERGES in physical names (the
    // GraftSqlDml discipline) — updates land in the SAME physical
    // column as pre-rename data, no fresh id minted
    // (`mapped_upsert_same_physical`), and the destination holds the
    // latest image per key (`upsert_equals_latest`) ──
    "stream_upsert_mapped" -> ((s, dir) => withTempRoot("graft_um_q_") { ckpt =>
      GraftCatalog.mount(s, "graftum", scratch(dir, "umroot"))
      s.sql("DROP TABLE IF EXISTS graftum.ord")
      s.sql("CREATE TABLE graftum.ord (k BIGINT, status STRING, cents BIGINT)")
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 1000)
        .createOrReplaceTempView("graft_um_src")
      s.sql("INSERT INTO graftum.ord SELECT * FROM graft_um_src WHERE k <= 700")
      s.sql("ALTER TABLE graftum.ord RENAME COLUMN cents TO pennies")
      val src = new SnapshotLog(scratch(dir, "um_src"))
      src.recreate()
      // the feed: updates for 301..700, inserts for 701..1000 — logical
      // column names, +555 so updated rows are provably the feed's image
      src.append(s.table("graft_um_src").where(col("k").between(301, 1000))
        .select(col("k"), col("status"), (col("cents") + 555).as("pennies")),
        partitions = 2)
      val q = s.readStream
        .format("graft-log").option("root", src.root).load()
        .writeStream.format("graft-log")
        .option("root", scratch(dir, "umroot") + "/ord")
        .option("mergeKey", "k")
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val dst = new SnapshotLog(scratch(dir, "umroot") + "/ord")
      val samePhysical = dst.columnMapping(dst.currentVersion.get)
        .exists(_._2.toSet == Set("k" -> "k", "status" -> "status",
          "pennies" -> "cents"))
      val expected = s.table("graft_um_src")
        .select(col("k"), col("status"),
          when(col("k") >= 301, col("cents") + 555).otherwise(col("cents"))
            .as("pennies"))
      val sunk = s.sql("SELECT * FROM graftum.ord")
      val parity = Proofs.sameMultiset(sunk, expected)
      sunk.groupBy(col("status")).agg(
          count(lit(1)).as("n_orders"),
          sum(col("k")).cast("long").as("sum_key"),
          sum(col("pennies")).cast("long").as("sum_pennies"))
        .withColumn("mapped_upsert_same_physical", lit(samePhysical))
        .withColumn("upsert_equals_latest", lit(parity))
        .orderBy(col("status"))
    }),

    // ── SINK AUTO-COMPACTION ([[GraftLogSink]]'s `autoCompact` — the
    // Delta shape, the streaming small-file answer): a six-commit
    // backlog drains one version per trigger into a fresh table, and the
    // sink bin-packs its own tail every 3 committed batches — the final
    // layout holds FEWER files than micro-batches ran
    // (`files_bounded_by_compaction`) while the content stays exactly
    // the batch corpus (`compacted_equals_batch`). At 100 TB this is the
    // difference between a queryable table and a million-file listing
    // after a week of triggers ──
    "stream_sink_autocompact" -> ((s, dir) => withTempRoot("graft_ac_q_") { ckpt =>
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val src = new SnapshotLog(scratch(dir, "ac_src"))
      val dst = new SnapshotLog(scratch(dir, "ac_dst"))
      src.recreate(); dst.recreate()
      dst.createEmpty(StructType(Seq(
        StructField("k", LongType), StructField("status", StringType),
        StructField("cents", LongType))))
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 1200)
      (0 until 6).foreach { i =>
        src.append(base.where(col("k") % 6 === i), partitions = 1); ()
      }
      val q = s.readStream
        .format("graft-log").option("root", src.root)
        .option("maxVersionsPerTrigger", "1").load()
        .writeStream.format("graft-log")
        .option("root", dst.root)
        .option("autoCompact", "true").option("autoCompactMinFiles", "3")
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      val triggers =
        try {
          q.processAllAvailable()
          q.recentProgress.count(_.numInputRows > 0)
        } finally q.stop()
      val bounded = dst.dataFiles(dst.currentVersion.get).size < triggers
      val sunk = dst.readLatest(s)
      val parity = Proofs.sameMultiset(sunk, base)
      sunk.groupBy(col("status")).agg(
          count(lit(1)).as("n_orders"),
          sum(col("k")).cast("long").as("sum_key"),
          sum(col("cents")).cast("long").as("sum_cents"))
        .withColumn("files_bounded_by_compaction", lit(bounded))
        .withColumn("compacted_equals_batch", lit(parity))
        .orderBy(col("status"))
    }),

    // ── STREAMING TIME TRAVEL ([[GraftLogSourceProvider]]'s
    // `startingTimestamp` — the mirror of batch `TIMESTAMP AS OF`,
    // resolved against the commit wall-clocks RECORDED INSIDE the
    // anchors): a cutoff taken between v0 and v1 resolves to v0's
    // version (`ts_resolves_between_commits`), and the stream serves
    // from the NEXT commits on — v0's history never enters, exactly the
    // startingVersion run at the resolved floor ──
    "stream_from_log_ts" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "logsrc_ts"))
      log.recreate()
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      log.append(orders.where(col("k") <= 1000), partitions = 2)
      Thread.sleep(20)
      val cutoff = System.currentTimeMillis()
      Thread.sleep(20)
      log.append(orders.where(col("k").between(1001, 2000)), partitions = 2)
      log.append(orders.where(col("k").between(2001, 3000)), partitions = 2)
      val resolved = log.versionAt(cutoff) == 0L
      val q = s.readStream
        .format("graft-log").option("root", log.root)
        .option("startingTimestamp", cutoff.toString).load()
        .writeStream.format("memory").queryName("stream_ts_sink")
        .outputMode("append").start()
      val sunk =
        try { q.processAllAvailable(); s.table("stream_ts_sink") }
        finally q.stop()
      // the resolved floor is v0 — its listing is the initial snapshot
      // batch, so the full corpus streams; hash-equal to startingVersion=0
      sunk.groupBy(col("status")).agg(
          count(lit(1)).as("n_orders"),
          sum(col("k")).cast("long").as("sum_key"),
          sum(col("cents")).cast("long").as("sum_cents"))
        .withColumn("ts_resolves_between_commits", lit(resolved))
        .orderBy(col("status"))
    }),

    // ── STREAMING SCHEMA-EVOLUTION HANDSHAKE (the Delta behavior): the
    // source pins its schema for the life of the checkpoint, so an
    // `ALTER TABLE ADD COLUMNS` landing mid-stream REFUSES LOUDLY at the
    // next batch (`evolution_refused` — a pinned-schema scan would
    // silently serve NULL for the new column forever) — and a FRESH
    // checkpoint restarted with the evolved schema drains everything:
    // pre-evolution files serve typed NULL (counted as `n_legacy`),
    // post-evolution appends carry real values ──
    "stream_schema_guard" -> ((s, dir) => withTempRoot("graft_evoguard_") { base =>
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val log = new SnapshotLog(scratch(dir, "logsrc_evoguard"))
      log.recreate()
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      log.createEmpty(StructType(Seq(
        StructField("k", LongType), StructField("cents", LongType))))
      log.appendStrict(orders.where(col("k") <= 1500), partitions = 2)
      // the checkpointed phases write to a FILE sink (the memory sink
      // does not support checkpoint recovery)
      def start() = s.readStream
        .format("graft-log").option("root", log.root).load()
        .writeStream.format("parquet")
        .option("path", base.resolve("out").toString)
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .outputMode("append").start()
      val q1 = start()
      val refused =
        try {
          q1.processAllAvailable()
          // the evolution + a post-evolution append land while the query
          // RUNS — the pinned-schema run must die at the next batch
          // (fail-once; a restart re-pins and adopts)
          log.addColumns(s, Seq(("status", StringType)))
          val withStatus = Tables.orders(s, dir).select(
            col("o_orderkey").as("k"),
            floor(col("o_totalprice") * 100).cast("long").as("cents"),
            col("o_orderstatus").as("status"))
          log.appendStrict(withStatus.where(col("k").between(1501, 3000)), partitions = 2)
          q1.processAllAvailable()
          false
        } catch {
          case e: Exception =>
            def anywhere(t: Throwable): Boolean = t != null &&
              (Option(t.getMessage).exists(_.contains("evolved mid-stream")) ||
                anywhere(t.getCause))
            anywhere(e)
        } finally q1.stop()
      // a FRESH checkpoint picks up the evolved schema and drains all
      val q3 = s.readStream
        .format("graft-log").option("root", log.root).load()
        .writeStream.format("memory").queryName("stream_evoguard_fresh")
        .outputMode("append").start()
      val sunk =
        try { q3.processAllAvailable(); s.table("stream_evoguard_fresh") }
        finally q3.stop()
      val batch = log.read(s, log.currentVersion.get)
      val parity = Proofs.sameMultiset(sunk, batch)
      sunk.groupBy(coalesce(col("status"), lit("legacy")).as("status_grp"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("k")).cast("long").as("sum_key"),
          sum(col("cents")).cast("long").as("sum_cents"))
        .withColumn("evolution_refused", lit(refused))
        .withColumn("fresh_checkpoint_drains", lit(parity))
        .orderBy(col("status_grp"))
    }),

    // ── SCHEMA-TRACKING RESUME ACROSS ADDITIVE EVOLUTION (the Delta
    // schema-tracking shape, closing r13's full-re-ingest gap): an
    // `ALTER TABLE ADD COLUMNS` under a RUNNING checkpointed stream
    // fails exactly ONCE (`failed_once_mid_stream`); restarting the SAME
    // checkpoint re-pins the evolved schema at load() and continues —
    // pre-evolution rows already sunk stay sunk (ZERO re-emission,
    // `zero_rows_reemitted`: every key lands exactly once), and the new
    // column serves real values from the evolution commit on. At 100 TB
    // this is the difference between adopting a column and re-ingesting
    // the table ──
    "stream_schema_evolve_resume" -> ((s, dir) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val log = new SnapshotLog(scratch(dir, "logsrc_evoresume"))
      log.recreate()
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      log.createEmpty(StructType(Seq(
        StructField("k", LongType), StructField("cents", LongType))))
      log.appendStrict(orders.where(col("k") <= 700), partitions = 2)
      // the returned frame reads `out` lazily, so the root is scratch,
      // cleared per run, not a temp root deleted on return
      val base = java.nio.file.Paths.get(scratch(dir, "evoresume_q"))
      deleteTree(base)
      def start() = s.readStream
        .format("graft-log").option("root", log.root).load()
        .writeStream.format("parquet")
        .option("path", base.resolve("out").toString)
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .outputMode("append").start()
      val q1 = start()
      val failedOnce =
        try {
          q1.processAllAvailable()
          log.addColumns(s, Seq(("status", StringType)))
          log.appendStrict(Tables.orders(s, dir).select(
              col("o_orderkey").as("k"),
              floor(col("o_totalprice") * 100).cast("long").as("cents"),
              col("o_orderstatus").as("status"))
            .where(col("k").between(701, 1400)), partitions = 2)
          q1.processAllAvailable()
          false
        } catch {
          case e: Exception =>
            def anywhere(t: Throwable): Boolean = t != null &&
              (Option(t.getMessage).exists(_.contains("evolved mid-stream")) ||
                anywhere(t.getCause))
            anywhere(e)
        } finally q1.stop()
      // SAME checkpoint, new run: load() re-pins the evolved schema; the
      // replay serves typed NULL for pre-evolution versions and nothing
      // already committed re-emits
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      val sunk = s.read.option("mergeSchema", "true")
        .parquet(base.resolve("out").toString)
      val total = sunk.count()
      val distinctKeys = sunk.select(col("k")).distinct().count()
      val zeroReemit = total == distinctKeys &&
        total == log.readLatest(s).count()
      sunk.groupBy(coalesce(col("status"), lit("legacy")).as("status_grp"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("k")).cast("long").as("sum_key"),
          sum(col("cents")).cast("long").as("sum_cents"))
        .withColumn("failed_once_mid_stream", lit(failedOnce))
        .withColumn("zero_rows_reemitted", lit(zeroReemit))
        .orderBy(col("status_grp"))
    }),

    // ── STREAMING A COLUMN-MAPPED TABLE ([[GraftLogSource]]'s per-batch
    // translating facade — closing r13's "a renamed table can never be
    // streamed" refusal): the table renames `cents` → `pennies`
    // (metadata-only, physical ids untouched), takes a post-rename
    // INSERT, and the stream serves BOTH vintages under the current
    // LOGICAL names — each micro-batch scans physical names under the
    // pinned physical schema and re-projects, so the drain is bitwise
    // the batch read of the same renamed table
    // (`mapped_stream_equals_batch`, exceptAll both ways). Only a
    // mid-stream mapping CHANGE refuses ──
    "stream_from_log_mapped" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftms", scratch(dir, "msroot"))
      s.sql("DROP TABLE IF EXISTS graftms.ord")
      s.sql("CREATE TABLE graftms.ord (k BIGINT, status STRING, cents BIGINT)")
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 1400)
        .createOrReplaceTempView("graft_ms_src")
      s.sql("INSERT INTO graftms.ord SELECT * FROM graft_ms_src WHERE k <= 700")
      s.sql("ALTER TABLE graftms.ord RENAME COLUMN cents TO pennies")
      s.sql("INSERT INTO graftms.ord SELECT k, status, cents AS pennies " +
        "FROM graft_ms_src WHERE k > 700")
      val q = s.readStream
        .format("graft-log").option("root", scratch(dir, "msroot") + "/ord").load()
        .writeStream.format("memory").queryName("stream_mapped_sink")
        .outputMode("append").start()
      val sunk =
        try { q.processAllAvailable(); s.table("stream_mapped_sink") }
        finally q.stop()
      val batch = s.sql("SELECT * FROM graftms.ord")
      val parity = Proofs.sameMultiset(sunk, batch)
      sunk.groupBy(col("status")).agg(
          count(lit(1)).as("n_orders"),
          sum(col("k")).cast("long").as("sum_key"),
          sum(col("pennies")).cast("long").as("sum_pennies"))
        .withColumn("mapped_stream_equals_batch", lit(parity))
        .orderBy(col("status"))
    }),

    // ── ROW-LEVEL DML ON A TYPE-WIDENED MAPPED TABLE (closing the r14
    // refusal, where a widened table lost UPDATE/DELETE/MERGE until an
    // OPTIMIZE materialized the widening): the DML scan pins the
    // declared schema WITH the widening applied ([[SnapshotLog
    // .scanSchema]] — the parquet reader up-casts narrow pre-widening
    // files), so the (file, pos) address stream is an ordinary single
    // scan; masks, rewrites, and the widened INT→BIGINT axis all
    // compose. Post-widening values exceed INT32 to prove the wide axis
    // is real ──
    "snapshot_sql_dml_widened" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftdw", scratch(dir, "dwroot"))
      s.sql("DROP TABLE IF EXISTS graftdw.ord")
      s.sql("CREATE TABLE graftdw.ord (k BIGINT, status STRING, cents INT)")
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 1400)
        .createOrReplaceTempView("graft_dw_src")
      s.sql("INSERT INTO graftdw.ord SELECT k, status, CAST(cents AS INT) " +
        "FROM graft_dw_src WHERE k <= 700")
      s.sql("ALTER TABLE graftdw.ord RENAME COLUMN cents TO pennies")
      s.sql("ALTER TABLE graftdw.ord ALTER COLUMN pennies TYPE BIGINT")
      s.sql("INSERT INTO graftdw.ord SELECT k, status, " +
        "cents + CAST(3000000000 AS BIGINT) AS pennies " +
        "FROM graft_dw_src WHERE k > 700")
      // DELETE grazes BOTH vintages; UPDATE's SET reads the widened axis
      s.sql("DELETE FROM graftdw.ord WHERE (k >= 10 AND k <= 19) " +
        "OR (k >= 710 AND k <= 719)")
      val upd = s.sql("UPDATE graftdw.ord SET pennies = pennies + 100 " +
        "WHERE k % 10 = 0").head()
      val updOk = upd.getString(0) == "UPDATE" && upd.getLong(3) > 0L
      val log = new SnapshotLog(scratch(dir, "dwroot") + "/ord")
      // compact absorbs the UPDATE's merge-on-read masks so the catalog
      // scan (this query's own rollup) reads clean
      log.compact(s, partitions = 2)
      s.sql(
        """SELECT status, count(*) AS n_orders,
          |       CAST(sum(k) AS BIGINT) AS sum_key,
          |       CAST(sum(pennies) AS BIGINT) AS sum_pennies
          |FROM graftdw.ord GROUP BY status""".stripMargin)
        .withColumn("widened_update_receipt_ok", lit(updOk))
        .orderBy(col("status"))
    }),

    // ── STREAMING A TYPE-WIDENED MAPPED TABLE (closing the r14 refusal):
    // the table renames cents→pennies AND widens INT→BIGINT mid-history;
    // the stream pins the WIDENED physical schema and the parquet reader
    // up-casts narrow pre-widening files on the scan (the Spark 4
    // type-widening read — the exact pin the batch catalog scan plans),
    // so the drained stream is row-for-row the batch read
    // (`widened_stream_equals_batch`); post-widening values exceed INT32
    // to prove the wide axis is real ──
    "stream_from_log_mapped_widened" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftwm", scratch(dir, "wmroot"))
      s.sql("DROP TABLE IF EXISTS graftwm.ord")
      s.sql("CREATE TABLE graftwm.ord (k BIGINT, status STRING, cents INT)")
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 1400)
        .createOrReplaceTempView("graft_wm_src")
      s.sql("INSERT INTO graftwm.ord SELECT k, status, CAST(cents AS INT) " +
        "FROM graft_wm_src WHERE k <= 700")
      s.sql("ALTER TABLE graftwm.ord RENAME COLUMN cents TO pennies")
      s.sql("ALTER TABLE graftwm.ord ALTER COLUMN pennies TYPE BIGINT")
      s.sql("INSERT INTO graftwm.ord SELECT k, status, " +
        "cents + CAST(3000000000 AS BIGINT) AS pennies " +
        "FROM graft_wm_src WHERE k > 700")
      val q = s.readStream
        .format("graft-log").option("root", scratch(dir, "wmroot") + "/ord").load()
        .writeStream.format("memory").queryName("stream_widened_sink")
        .outputMode("append").start()
      val sunk =
        try { q.processAllAvailable(); s.table("stream_widened_sink") }
        finally q.stop()
      val batch = s.sql("SELECT * FROM graftwm.ord")
      val parity = Proofs.sameMultiset(sunk, batch) &&
        sunk.schema("pennies").dataType ==
          org.apache.spark.sql.types.LongType
      sunk.groupBy(col("status")).agg(
          count(lit(1)).as("n_orders"),
          sum(col("k")).cast("long").as("sum_key"),
          sum(col("pennies")).cast("long").as("sum_pennies"))
        .withColumn("widened_stream_equals_batch", lit(parity))
        .orderBy(col("status"))
    }),

    // ── SQL DML ON A COLUMN-MAPPED TABLE ([[GraftSqlDml]]'s
    // logical→physical translation — closing r13's refusal, where a
    // renamed table lost UPDATE/MERGE/DELETE entirely): after `RENAME
    // COLUMN cents TO pennies`, `spark.sql` UPDATE (new name in SET and
    // WHERE) and DELETE run against the same physical ids the mapped
    // scan reads — the interpreter translates references through the
    // colmap, the merge-on-read machinery stays untouched, and the
    // post-rename INSERT + UPDATE land in the SAME physical column
    // (`same_physical_column`: no fresh id minted). Content reads back
    // through the catalog after a compact (the SQL scan's documented
    // mask-free scope) ──
    "snapshot_sql_dml_mapped" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftdm", scratch(dir, "dmroot"))
      s.sql("DROP TABLE IF EXISTS graftdm.ord")
      s.sql("CREATE TABLE graftdm.ord (k BIGINT, status STRING, cents BIGINT)")
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 1400)
        .createOrReplaceTempView("graft_dm_src")
      s.sql("INSERT INTO graftdm.ord SELECT * FROM graft_dm_src WHERE k <= 700")
      s.sql("ALTER TABLE graftdm.ord RENAME COLUMN cents TO pennies")
      s.sql("INSERT INTO graftdm.ord SELECT k, status, cents AS pennies " +
        "FROM graft_dm_src WHERE k > 700")
      val log = new SnapshotLog(scratch(dir, "dmroot") + "/ord")
      // no fresh physical id minted by the post-rename insert
      val samePhysical = log.columnMapping(log.currentVersion.get)
        .exists(_._2.toSet == Set("k" -> "k", "status" -> "status",
          "pennies" -> "cents"))
      // DELETE through spark.sql first (native SupportsDelete, filters
      // translated logical→physical; copy-on-write keeps the scan clean
      // for the UPDATE's analysis)
      s.sql("DELETE FROM graftdm.ord WHERE k >= 10 AND k <= 19")
      // UPDATE through spark.sql, referencing the NEW logical name
      val upd = s.sql("UPDATE graftdm.ord SET pennies = pennies + 100 " +
        "WHERE k % 10 = 0").head()
      val updOk = upd.getString(0) == "UPDATE" && upd.getLong(3) > 0L
      // compact absorbs the UPDATE's merge-on-read masks so the catalog
      // scan (this query's own rollup) reads clean
      log.compact(s, partitions = 2)
      s.sql(
        """SELECT status, count(*) AS n_orders,
          |       CAST(sum(k) AS BIGINT) AS sum_key,
          |       CAST(sum(pennies) AS BIGINT) AS sum_pennies
          |FROM graftdm.ord GROUP BY status""".stripMargin)
        .withColumn("same_physical_column", lit(samePhysical))
        .withColumn("update_through_sql", lit(updOk))
        .orderBy(col("status"))
    }),

    // ── CHANGE FEED OVER A COLUMN-MAPPED RANGE ([[SnapshotLog
    // .readChanges]]'s uniform-mapping translation — closing the last
    // mapped-table refusal): after `cents` → `pennies`, the feed serves
    // post-rename inserts AND merge-on-read delete pre-images under the
    // current LOGICAL names (the machinery runs in physical ids, one
    // projection translates at the end); a range SPANNING the rename
    // commit refuses — two namings cannot mix in one feed
    // (`naming_move_splits_feed`) ──
    "cdf_mapped" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "cdf_mapped"))
      log.recreate()
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      log.append(orders.where(col("k") <= 1000), partitions = 2)
      log.enableColumnMapping(s)
      val vRen = log.renameColumn("cents", "pennies")
      val vIns = log.appendMapped(orders.where(col("k").between(1001, 1400))
        .withColumnRenamed("cents", "pennies"), partitions = 2)
      val (vDel, _) = log.deleteWhere(s, col("k") <= 50)
      val feed = log.readChanges(s, vRen, vDel)
      val splits =
        try { log.readChanges(s, -1L, vDel); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("mapping moves inside") }
      feed.groupBy(col("_commit_version").as("commit_version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("k")).cast("long").as("sum_key"),
          sum(col("pennies")).cast("long").as("sum_pennies"))
        .withColumn("feed_offset", col("commit_version") - lit(vIns))
        .drop("commit_version")
        .withColumn("naming_move_splits_feed", lit(splits))
        .orderBy(col("feed_offset"), col("change_type"))
    }),

    // ── CDF ACROSS SCHEMA EVOLUTION ([[SnapshotLog.readChanges]] over a
    // range spanning an `ALTER TABLE ADD COLUMNS` commit): pre-evolution
    // versions' inserts serve TYPED NULL for the later-added column
    // (exactly what a batch read of those versions sees — grouped as
    // `legacy` below), the metadata commit itself contributes zero rows,
    // and post-evolution appends carry real values — the feed never dies
    // on the missing attribute ──
    "cdf_schema_evolution" -> ((s, dir) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val log = new SnapshotLog(scratch(dir, "cdf_evolution"))
      log.recreate()
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      log.createEmpty(StructType(Seq(
        StructField("k", LongType), StructField("cents", LongType))))
      log.appendStrict(orders.where(col("k") <= 1500), partitions = 2)
      log.addColumns(s, Seq(("status", StringType)))
      val withStatus = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderstatus").as("status"))
      val v3 = log.appendStrict(
        withStatus.where(col("k").between(1501, 3000)), partitions = 2)
      val feed = log.readChanges(s, -1L, v3)
      feed.groupBy(col("_commit_version").as("commit_version"),
          col("_change_type").as("change_type"),
          coalesce(col("status"), lit("legacy")).as("status_grp"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("k")).cast("long").as("sum_key"),
          sum(col("cents")).cast("long").as("sum_cents"))
        .orderBy(col("commit_version"), col("change_type"), col("status_grp"))
    }),

    // ── MULTI-TABLE ATOMIC TRANSACTIONS ([[TxnCatalog]]): orders and
    // lineitem advance together or not at all. Two txns publish the even
    // then odd halves of both tables; a CRASHED third write advances the
    // orders log but never anchors — catalog readers cannot see it
    // (count law) and the orphan report names exactly that version. The
    // pinned txn0 is a consistent cross-table cut: every lineitem key
    // joins an order of the SAME txn (anti-join empty), and its item
    // count rides as a data-derived column next to the current-txn join
    // rollup ──
    "txn_consistent_read" -> ((s, dir) => {
      val oLog = new SnapshotLog(scratch(dir, "txn_orders"))
      val lLog = new SnapshotLog(scratch(dir, "txn_lineitem"))
      oLog.recreate(); lLog.recreate()
      val cat = new TxnCatalog(scratch(dir, "txn_catalog"),
        Map("orders" -> oLog, "lineitem" -> lLog))
      cat.recreate()
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"), col("o_orderpriority").as("prio"))
      val items = Tables.lineitem(s, dir).select(
        col("l_orderkey").as("lk"),
        floor(col("l_extendedprice") * 100).cast("long").as("item_cents"))
      val txn0 = cat.commitTxn(None, Map(
        "orders" -> oLog.append(orders.where(col("k") % 2 === 0), partitions = 2),
        "lineitem" -> lLog.append(items.where(col("lk") % 2 === 0), partitions = 2)))
      val txn1 = cat.commitTxn(Some(txn0), Map(
        "orders" -> oLog.append(orders.where(col("k") % 2 === 1), partitions = 2),
        "lineitem" -> lLog.append(items.where(col("lk") % 2 === 1), partitions = 2)))
      // the crash: a writer advances the orders log, dies before anchoring
      oLog.append(orders.where(col("k") % 97 === 0), partitions = 1)
      val tornInvisible =
        cat.readTable(s, cat.current.get, "orders").count() == orders.count()
      val orphans = cat.unanchoredVersions
      val orphanReport = orphans("orders") == Seq(oLog.currentVersion.get) &&
        orphans("lineitem").isEmpty
      val cut0Consistent = cat.readTable(s, txn0, "lineitem")
        .join(cat.readTable(s, txn0, "orders"), col("lk") === col("k"), "left_anti")
        .limit(1).count() == 0
      val txn0Items = cat.readTable(s, txn0, "lineitem").count()
      cat.readTable(s, txn1, "orders")
        .join(cat.readTable(s, txn1, "lineitem"), col("k") === col("lk"))
        .groupBy(col("prio"))
        .agg(count(lit(1)).as("n_items"), sum(col("item_cents")).as("sum_item_cents"))
        .withColumn("txn0_items", lit(txn0Items))
        .withColumn("torn_write_invisible", lit(tornInvisible))
        .withColumn("orphan_report_exact", lit(orphanReport))
        .withColumn("txn0_cut_consistent", lit(cut0Consistent))
        .orderBy(col("prio"))
    }),

    // ── EXACTLY-ONCE INCREMENTAL CONSUMPTION ([[Incremental.consume]]):
    // the batch-ETL loop — each run discovers its increment from log
    // metadata (appended files only), screens+projects it, and anchors
    // (source cursor, output version) in ONE txn commit. Three real runs
    // (one, then two source commits, then a post-crash recovery), a
    // no-op cycle that commits nothing, and a CRASHED half-published
    // output version that catalog readers never see and the orphan
    // report names. Total processed rows ride as a data-derived column ──
    "incremental_consume" -> ((s, dir) => {
      val srcLog = new SnapshotLog(scratch(dir, "incr_src"))
      val outLog = new SnapshotLog(scratch(dir, "incr_out"))
      srcLog.recreate(); outLog.recreate()
      val cat = new TxnCatalog(scratch(dir, "incr_cat"),
        Map("events_raw" -> srcLog, "events_clean" -> outLog))
      cat.recreate()
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      // the per-increment transform: a row-local screen + projection, so
      // increments compose to the whole corpus
      val clean: DataFrame => DataFrame = df => df.where(col("cents") % 10 < 8)
      def run() = Incremental.consume(
        s, cat, "events_raw", "events_clean", clean, partitions = 2)
      srcLog.append(base.where(col("k") % 3 === 0), partitions = 2)
      val run1 = run()
      srcLog.append(base.where(col("k") % 3 === 1), partitions = 2)
      srcLog.append(base.where(col("k") % 3 === 2), partitions = 2)
      val run2 = run()
      val noop = run()
      // the crash: an output version lands, its anchor never does
      val orphanV = outLog.append(
        base.where(col("k") % 101 === 5).withColumn("prio", lit("JUNK")),
        partitions = 1)
      // late-arriving source rows; the recovery run publishes onto the
      // last ANCHORED output listing — the junk stays invisible
      srcLog.append(
        base.where(col("k") % 97 === 0).withColumn("k", col("k") + 100000000L),
        partitions = 1)
      val run3 = run()
      val processed = Seq(run1, run2, run3).flatten.map(_._2).sum
      val orphanReported =
        cat.unanchoredVersions("events_clean") == Seq(orphanV)
      val out = cat.readTable(s, cat.current.get, "events_clean")
      out.groupBy(col("prio"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .withColumn("n_processed_total", lit(processed))
        .withColumn("noop_committed_nothing", lit(noop.isEmpty))
        .withColumn("orphan_reported", lit(orphanReported))
        .withColumn("junk_invisible",
          lit(out.where(col("prio") === "JUNK").limit(1).count() == 0))
        .orderBy(col("prio"))
    }),

    // ── METADATA-DRIVEN MAINTENANCE PLANNING ([[SnapshotLog
    // .maintenancePlan]]): a table with a streaming small-file tail (six
    // KB-sized appends behind two well-sized files), two tombstone
    // commits, and a nine-version chain trips all three advisor rules —
    // measured counts, file-listing metadata only, no data scan. The
    // advised passes execute in order and the re-plan comes back empty;
    // the surviving corpus rides as data-derived columns ──
    "maintenance_plan" -> ((s, dir) => {
      import s.implicits._
      val log = new SnapshotLog(scratch(dir, "maint"))
      log.recreate()
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      log.append(base.where(col("k") % 2 === 0), partitions = 2)
      (0 until 6).foreach { i =>
        log.append(base.where(col("k") % 12 === 2 * i + 1), partitions = 1); ()
      }
      log.deleteRows(base.where(col("k") % 32 === 0).select(col("k")), partitions = 1)
      log.deleteRows(base.where(col("k") % 32 === 1).select(col("k")), partitions = 1)
      // the small/big boundary derives from the listing itself (second-
      // largest file): scale-invariant — the ingest tail is strictly
      // under it at any sf
      val sizes = log.dataFiles(log.currentVersion.get)
        .map(p => new java.io.File(s"${log.root}/$p").length()).sorted
      val smallBytes = sizes(sizes.size - 2)
      val plan = log.maintenancePlan(
        smallBytes, maxSmallFiles = 4, maxTombstoneFiles = 2, maxVersions = 6)
      plan.foreach {
        case ("compact_small", _) => log.compactSmall(s, smallBytes); ()
        case ("compact", _) => log.compact(s, partitions = 2); ()
        case ("expire_vacuum", _) =>
          log.expire(keepFrom = log.currentVersion.get); log.vacuum(); ()
        case (other, _) => sys.error(s"unknown advised action: $other")
      }
      val after = log.maintenancePlan(smallBytes, 4, 2, 6)
      val roll = log.readLatest(s).agg(
        count(lit(1)).as("n"), sum(col("cents")).as("c")).head()
      plan.toDF("action", "n_flagged")
        .withColumn("post_plan_healthy", lit(after.isEmpty))
        .withColumn("n_rows_final", lit(roll.getLong(0)))
        .withColumn("sum_cents_final", lit(roll.getLong(1)))
        .orderBy(col("action"))
    }),

    // ── BIN-PACKING small-file compaction ([[SnapshotLog.compactSmall]],
    // the production OPTIMIZE shape): one well-sized file (90% of the
    // corpus) plus an eight-file KB-sized streaming tail; the rewrite
    // touches ONLY the tail — the big file is carried byte-identical
    // (same path, never read), the eight smalls pack into one, and the
    // maintenance cost scales with the small tail, not the table. The
    // threshold is the measured big-file size, so the laws hold at every
    // SF. Laws hashed next to the rollup ──
    "compact_small_files" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_binpack"))
      log.recreate()
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      log.append(base.where(col("k") % 10 =!= 0), partitions = 1)
      (0 until 8).foreach { i =>
        log.append(base.where(col("k") % 80 === i.toLong * 10L), partitions = 1)
        ()
      }
      val bigSet = log.dataFiles(0L).toSet
      val before = log.dataFiles(log.currentVersion.get)
      val target = new java.io.File(
        s"${scratch(dir, "snap_binpack")}/${bigSet.head}").length()
      val (v, (packed, written)) = log.compactSmall(s, targetBytes = target)
      val after = log.dataFiles(v)
      val bigCarried = bigSet.subsetOf(after.toSet)
      val smallsGone = after.toSet.intersect(before.toSet -- bigSet).isEmpty
      val packedAll = packed == 8 && written == 1 &&
        after.size == bigSet.size + 1
      log.readLatest(s)
        .groupBy((col("k") % 7).as("bucket"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .withColumn("big_carried", lit(bigCarried))
        .withColumn("smalls_gone", lit(smallsGone))
        .withColumn("packed_all", lit(packedAll))
        .orderBy(col("bucket"))
    }),

    // ── NAMED REFS on the snapshot log ([[SnapshotLog.tag]]/[[SnapshotLog
    // .fork]], the Iceberg-refs / shallow-clone shape): v0 pinned under an
    // immutable tag, a zero-copy "dev" branch forked at v1 (no bytes
    // move — its v0 listing IS the parent's v1 listing), an append on dev
    // that main never sees, and a SHARED-pool vacuum that collects an
    // aborted stage while every chain keeps reading. All five ref laws
    // measured from the logs, hashed next to the three per-ref rollups ──
    "snapshot_refs" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_refs"))
      log.recreate()
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val v0 = log.append(base.where(col("k") % 3 === 0), partitions = 2)
      require(log.tag("baseline", v0), "tag baseline must be fresh")
      val v1 = log.append(base.where(col("k") % 3 === 1), partitions = 2)
      val dev = log.fork("dev")
      dev.append(base.where(col("k") % 3 === 2), partitions = 2)
      val mainUnmoved = log.currentVersion.contains(v1)
      val tagImmutable = !log.tag("baseline", v1) &&
        log.tagVersion("baseline") == v0
      val forkZeroCopy = dev.dataFiles(0L).toSet == log.files(v1).toSet
      log.stageData(base.where(col("k") % 3 === 2).limit(10), partitions = 1)
      val collected = SnapshotLog.vacuumShared(Seq(log, dev))
      val vacuumSharedSafe = collected.nonEmpty &&
        log.read(s, v0).count() > 0 && dev.readLatest(s).count() > 0
      def roll(df: DataFrame, ref: String) = df
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .select(lit(ref).as("ref"), col("n_rows"), col("sum_cents"))
      roll(log.readTag(s, "baseline"), "baseline")
        .unionByName(roll(log.readLatest(s), "main"))
        .unionByName(roll(dev.readLatest(s), "dev"))
        .withColumn("main_unmoved", lit(mainUnmoved))
        .withColumn("tag_immutable", lit(tagImmutable))
        .withColumn("fork_zero_copy", lit(forkZeroCopy))
        .withColumn("vacuum_shared_safe", lit(vacuumSharedSafe))
        .orderBy(col("ref"))
    }),

    // ── MULTI-WRITER optimistic concurrency ([[SnapshotLog
    // .appendWithRetry]]): six writers race the SAME log from a latch —
    // real lost-commit races, metadata-only retries (data staged once).
    // The protocol laws — every writer committed (6 versions), the
    // version chain grew strictly monotonically (appends add, never
    // remove), and every staged file landed exactly once — are measured
    // from the on-disk log, then hashed next to the final corpus rollup,
    // which must equal the plain single-writer aggregate ──
    "snapshot_concurrent_append" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_concurrent"))
      log.recreate()
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val writers = 6
      val latch = new java.util.concurrent.CountDownLatch(writers)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
      try {
        val futures = (0 until writers).map { i =>
          pool.submit(new java.util.concurrent.Callable[(Long, Int)] {
            override def call(): (Long, Int) = {
              latch.countDown(); latch.await() // line up the race
              log.appendWithRetry(base.where(col("k") % writers === i), partitions = 2)
            }
          })
        }
        futures.foreach(_.get())
      } finally { pool.shutdown() }
      val vs = log.versions
      val allCommitted = vs == (0L until writers.toLong)
      val monotone = vs.dropRight(1).zip(vs.tail).forall { case (a, b) =>
        val (fa, fb) = (log.files(a).toSet, log.files(b).toSet)
        fa.subsetOf(fb) && fb.size > fa.size
      }
      val stagedOnce =
        log.dataFiles(vs.last).size == writers * 2 &&
          log.files(vs.last).distinct.size == log.files(vs.last).size
      log.readLatest(s)
        .groupBy((col("k") % 10).as("bucket"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .withColumn("all_committed", lit(allCommitted))
        .withColumn("chain_monotone", lit(monotone))
        .withColumn("staged_once", lit(stagedOnce))
        .orderBy(col("bucket"))
    }),

    // ── MERGE (upsert) under the snapshot log, COPY-ON-WRITE with
    // stats-pruned rewrite scope ([[SnapshotLog.mergeCopyOnWrite]], the
    // Delta MERGE INTO + file-pruning shape): the base commits
    // range-clustered with per-file key stats; an update batch whose
    // matched keys live in the first quarter of the key range (plus
    // brand-new insert keys beyond it) rewrites ONLY the files whose
    // recorded range contains an update key. The laws — the rewrite
    // scope was bounded (files_rewritten < files_total) AND the merged
    // snapshot equals anti-join-plus-union semantics (exceptAll both
    // ways) — are measured, not assumed ──
    "snapshot_merge_upsert" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_merge"))
      log.recreate()
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderpriority").as("prio"))
        .repartitionByRange(4, col("k"))
        .sortWithinPartitions(col("k"))
      val v0 = log.appendIndexed(base, Seq("k"))
      val b = log.read(s, v0).agg(min(col("k")), max(col("k"))).head()
      val (mn, mx) = (b.getLong(0), b.getLong(1))
      val band = mn + (mx - mn) / 4
      val baseRead = log.read(s, v0)
      val upd = baseRead
        .where(col("k") <= band && col("k") % 7 === 3)
        .select(col("k"), (col("cents") + 1).as("cents"), col("prio"))
        .unionByName(baseRead.where(col("k") % 13 === 5)
          .select((col("k") + lit(mx) + lit(1000L)).as("k"), col("cents"), col("prio")))
      val (v1, (rew, tot)) = log.mergeCopyOnWrite(upd, "k")
      val merged = log.read(s, v1)
      val expect = baseRead
        .join(upd.select(col("k")), Seq("k"), "left_anti")
        .unionByName(upd)
      val equal = Proofs.sameMultiset(merged, expect)
      merged
        .groupBy(col("prio"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .withColumn("rewrite_bounded", lit(rew >= 1 && rew < tot))
        .withColumn("merged_equals_expected", lit(equal))
        .orderBy(col("prio"))
    }),

    // ── OPTIMIZE under the snapshot log ([[SnapshotLog.optimize]], the
    // Delta OPTIMIZE ... ORDER BY shape): v1 rewrites v0's hash-scattered
    // layout RANGE-CLUSTERED on the price key, committed atomically.
    // Laws measured from the actual files: every v1 file holds a DISJOINT
    // key range (the property min/max scan planning needs — at 100 TB a
    // point/range predicate then opens the one file whose range matches
    // instead of all of them), row identity is exact (exceptAll both
    // ways), and the pinned unclustered v0 still reads ──
    "snapshot_optimize" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_optimize"))
      log.recreate()
      val base = Tables.orders(s, dir).select(
        col("o_orderkey"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderpriority"))
      val v0 = log.append(base, partitions = 4)
      val v1 = log.optimize(s, partitions = 3, sortCols = Seq(col("cents")))
      val ranges = log.dataFiles(v1)
        .map { p =>
          val r = s.read.parquet(s"${log.root}/$p")
            .agg(count(lit(1)), min(col("cents")), max(col("cents"))).head()
          (r.getLong(0), r.get(1), r.get(2))
        }
        .collect { case (n, lo: Long, hi: Long) if n > 0 => (lo, hi) }
        .sortBy(_._1)
      val disjoint = ranges.nonEmpty &&
        ranges.zip(ranges.tail).forall { case ((_, aMax), (bMin, _)) => bMin > aMax }
      val v0Rows = log.read(s, v0)
      val v1Rows = log.read(s, v1)
      val identical = Proofs.sameMultiset(v1Rows, v0Rows)
      log.read(s, v1)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .withColumn("files_disjoint", lit(disjoint))
        .withColumn("rows_identical", lit(identical))
        .orderBy(col("o_orderpriority"))
    }),

    // ── ROW-LEVEL DELETE under the snapshot log ([[SnapshotLog
    // .deleteRows]], the deletion-vector / merge-on-read pattern): v1
    // commits a KB-sized TOMBSTONE instead of rewriting any data file —
    // every v0 data file is carried untouched (law `no_rewrite_on_delete`
    // compares the manifests' data-file sets) — and reads apply the
    // delete as one hash anti-join. compact() then materializes the
    // survivors and drops the tombstones (the rewrite, deferred to
    // maintenance time); rows must be IDENTICAL before/after (exceptAll
    // both ways), the vacuum_orphans law pattern ──
    "snapshot_delete_rows" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_delete"))
      log.recreate()
      val base = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderpriority"))
      val v0 = log.append(base, partitions = 4)
      val v1 = log.deleteRows(
        base.where(col("o_orderkey") % 10 === 7).select(col("o_orderkey")),
        partitions = 1)
      val noRewrite = log.dataFiles(v1).toSet == log.dataFiles(v0).toSet
      val v2 = log.compact(s, partitions = 2)
      val tombsGone = log.tombstoneFiles(v2).isEmpty &&
        log.tombstoneFiles(v1).nonEmpty
      val v1Rows = log.read(s, v1)
      val v2Rows = log.read(s, v2)
      val samRows = Proofs.sameMultiset(v1Rows, v2Rows)
      val v0Intact = log.read(s, v0).count() == base.count()
      log.read(s, v2)
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_orderkey")).as("sum_key"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
        .withColumn("no_rewrite_on_delete", lit(noRewrite))
        .withColumn("v0_intact", lit(v0Intact))
        .withColumn("tombstones_compacted", lit(tombsGone))
        .withColumn("compact_preserves_rows", lit(samRows))
        .orderBy(col("o_orderpriority"))
    }),

    // ── VERSION-KEYED RESULT CACHE ([[graft.sources.ResultCache]]): cache
    // key = (query tag, snapshot version), so invalidation is CORRECT by
    // construction — a commit changes the version, the next lookup
    // misses; no timestamps, no manual flush. The compute closure is
    // instrumented with a driver-side counter, so `computes_bounded`
    // PROVES the hit served stored bytes (2 computes across 4 reads);
    // hit==fresh is pinned by two-way exceptAll, and the final rollup is
    // the post-append table the oracle recomputes relationally ──
    "result_cache" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_rescache"))
      log.recreate()
      val cache = new graft.sources.ResultCache(scratch(dir, "rescache_store"))
      cache.recreate()
      val base = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      log.append(base.where(col("o_orderkey") % 3 =!= 0), partitions = 4)
      val nComputes = new java.util.concurrent.atomic.AtomicInteger(0)
      def agg(df: DataFrame): DataFrame = {
        nComputes.incrementAndGet()
        df.groupBy(col("o_orderpriority"))
          .agg(
            count(lit(1)).as("n_orders"),
            sum(col("o_orderkey")).as("sum_key"),
            sum(floor(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
      }
      val (r1, hit1) = cache.resultFor(s, log, "prio_rollup")(agg)
      val (r2, hit2) = cache.resultFor(s, log, "prio_rollup")(agg)
      val hitEqualsFresh = Proofs.sameMultiset(r2, r1)
      val v0 = log.currentVersion.get
      log.append(base.where(col("o_orderkey") % 3 === 0), partitions = 2)
      val (r3, hit3) = cache.resultFor(s, log, "prio_rollup")(agg)
      val (_, hit4) = cache.resultFor(s, log, "prio_rollup")(agg)
      // retention: expire v0 → its entry prunes away, current stays hot
      log.expire(keepFrom = log.currentVersion.get)
      val pruned = cache.prune(log)
      val prunedOldOnly = pruned.exists(_.contains(f"v$v0%08d")) &&
        !pruned.exists(_.contains(f"v${log.currentVersion.get}%08d"))
      val (_, hit5) = cache.resultFor(s, log, "prio_rollup")(agg)
      r3
        .withColumn("first_miss_then_hit", lit(!hit1 && hit2))
        .withColumn("hit_equals_fresh", lit(hitEqualsFresh))
        .withColumn("append_invalidates", lit(!hit3 && hit4))
        .withColumn("computes_bounded", lit(nComputes.get() == 2))
        .withColumn("prune_drops_dead_only", lit(prunedOldOnly && hit5))
        .orderBy(col("o_orderpriority"))
    }),

    // ── POSITION DELETES under the snapshot log ([[SnapshotLog
    // .deletePositions]], the Iceberg v2 position-delete-file shape):
    // rows are deleted by (file, row-ordinal) ADDRESS — selected with
    // [[SnapshotLog.readWithPositions]] and any predicate — so the delete
    // works without a unique key and, unlike [[SnapshotLog.deleteRows]]'s
    // equality tombstones, is FILE-SCOPED: the same keys re-inserted in a
    // later append stay fully visible (law `reinserted_visible`), where a
    // key tombstone would keep masking them until a compact. v1 carries
    // every v0 data file untouched (`no_rewrite_on_delete`); compact()
    // materializes the deletes away (`pos_files_compacted`,
    // `compact_preserves_rows` via two-way exceptAll) ──
    "snapshot_pos_delete" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_posdel"))
      log.recreate()
      val base = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderpriority"))
      val v0 = log.append(base, partitions = 4)
      val v1 = log.deletePositions(
        log.readWithPositions(s, v0)
          .where(col("o_orderkey") % 10 === 3)
          .select(col("_file"), col("_pos")))
      val noRewrite = log.dataFiles(v1).toSet == log.dataFiles(v0).toSet
      val reinsert = base.where(col("o_orderkey") % 10 === 3)
        .withColumn("o_orderstatus", lit("X"))
      val v2 = log.append(reinsert, partitions = 2)
      val reinsertedVisible =
        log.read(s, v2).where(col("o_orderstatus") === "X").count() == reinsert.count()
      val v3 = log.compact(s, partitions = 2)
      val posGone = log.posDeleteFiles(v3).isEmpty && log.posDeleteFiles(v2).nonEmpty
      val v2Rows = log.read(s, v2)
      val v3Rows = log.read(s, v3)
      val sameRows = Proofs.sameMultiset(v2Rows, v3Rows)
      log.read(s, v3)
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_orderkey")).as("sum_key"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
        .withColumn("no_rewrite_on_delete", lit(noRewrite))
        .withColumn("reinserted_visible", lit(reinsertedVisible))
        .withColumn("pos_files_compacted", lit(posGone))
        .withColumn("compact_preserves_rows", lit(sameRows))
        .orderBy(col("o_orderstatus"))
    }),

    // ── SCHEMA EVOLUTION under the snapshot log: v1's append ADDS a
    // column. The merged latest read serves nulls for pre-evolution rows
    // ([[SnapshotLog.read]] with mergeSchema), while the PINNED v0 read
    // keeps the old schema entirely — its manifest never lists the
    // evolved files, so per-version schema is a property of the file set
    // and evolution needs no metadata rewrite (the Iceberg/Delta add-column
    // semantics). The pinned-schema law rides as a hashed boolean ──
    "snapshot_schema_evolved" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_evolve"))
      log.recreate()
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val v0 = log.append(docs.where(col("doc_id") % 2 === 0), partitions = 4)
      val v1 = log.append(
        docs.where(col("doc_id") % 2 =!= 0)
          .withColumn("quality_tier", (col("n_chars") % 3).cast("long")),
        partitions = 4)
      val pinnedUnevolved = !log.read(s, v0).columns.contains("quality_tier")
      log.read(s, v1, mergeSchema = true)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          count(col("quality_tier")).as("n_with_tier"),
          sum(col("quality_tier")).as("sum_tier"))
        .withColumn("pinned_schema_unevolved", lit(pinnedUnevolved))
        .orderBy(col("lang"))
    }),

    // ── COLUMN-MAPPING SCHEMA EVOLUTION ([[SnapshotLog.renameColumn]] /
    // [[SnapshotLog.appendMapped]] / [[SnapshotLog.readMapped]] — the
    // Delta/Iceberg name→physical-id indirection): RENAME COLUMN is one
    // metadata commit (zero data rewritten — `rename_metadata_only`
    // pins the data-file set unchanged and the history op class
    // `metadata`); a post-rename append writes the SAME physical column
    // the pre-rename files carry, and time travel reads the pre-rename
    // vintage under its ORIGINAL name (`pre_rename_vintage_ok`). The
    // rollup sums char counts across BOTH vintages under the new
    // logical name — only possible if the mapping stitched them ──
    "snapshot_rename_col" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_rename"))
      log.recreate()
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))
      log.append(docs.where(col("doc_id") % 2 === 0), partitions = 4)
      val vMap = log.enableColumnMapping(s)
      val vRen = log.renameColumn("n_chars", "char_count")
      val renameMetadataOnly =
        log.dataFiles(vRen).sorted == log.dataFiles(vMap).sorted &&
          log.history.exists { case (v, op, _, _, _, _) => v == vRen && op == "metadata" }
      log.appendMapped(
        docs.where(col("doc_id") % 2 =!= 0).withColumnRenamed("n_chars", "char_count"),
        partitions = 4)
      val oldVintage = log.readMapped(s, vMap)
      val preRenameOk = oldVintage.columns.toSeq == Seq("doc_id", "lang", "n_chars") &&
        Proofs.sameMultiset(oldVintage, docs.where(col("doc_id") % 2 === 0))
      log.readMapped(s, log.currentVersion.get)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("char_count")).as("sum_chars"),
          sum(when(col("doc_id") % 2 === 0, col("char_count"))).as("sum_chars_prerename"))
        .withColumn("rename_metadata_only", lit(renameMetadataOnly))
        .withColumn("pre_rename_vintage_ok", lit(preRenameOk))
        .orderBy(col("lang"))
    }),

    // ── TYPE WIDENING under column mapping ([[SnapshotLog.widenColumn]]
    // — the Delta type-widening shape): INT→BIGINT is one metadata
    // commit (`widen_metadata_only` pins the data-file set unchanged);
    // old files keep their narrow physical type and up-cast on read,
    // while the post-widen append carries values NO int can hold
    // (+3·10⁹) — the rollup summing both vintages under one BIGINT
    // column is the proof the widening actually happened ──
    "snapshot_widen_col" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_widen"))
      log.recreate()
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))
      log.append(
        docs.where(col("doc_id") % 2 === 0)
          .withColumn("n_chars", col("n_chars").cast("int")),
        partitions = 4)
      log.enableColumnMapping(s)
      val preWiden = log.currentVersion.get
      val vW = log.widenColumn(s, "n_chars", "bigint")
      val metadataOnly = log.dataFiles(vW).sorted == log.dataFiles(preWiden).sorted
      log.appendMapped(
        docs.where(col("doc_id") % 2 =!= 0)
          .withColumn("n_chars", col("n_chars") + 3000000000L),
        partitions = 4)
      val wide = log.readMapped(s, log.currentVersion.get)
      val typeWide = wide.schema("n_chars").dataType.sql.toLowerCase == "bigint"
      wide.groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars_wide"))
        .withColumn("widen_metadata_only", lit(metadataOnly))
        .withColumn("reads_as_bigint", lit(typeWide))
        .orderBy(col("lang"))
    }),

    // ── PREDICATE DELETE + UPDATE under the log ([[SnapshotLog
    // .deleteWhere]] / [[SnapshotLog.updateWhere]] — the `DELETE FROM …
    // WHERE` / `UPDATE … SET … WHERE` sugar over merge-on-read):
    // deleteWhere derives position tombstones from the predicate (zero
    // data rewritten — `no_rewrite_on_delete`); a re-run matches nothing
    // (`delete_idempotent`: the predicate runs over the masked view);
    // updateWhere commits the position-delete AND the updated row images
    // in ONE version (`update_atomic`), with SET reading the row's own
    // old values; the pre-update vintage stays pinned ──
    "snapshot_delete_where" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_delwhere"))
      log.recreate()
      val base = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val v0 = log.append(base, partitions = 4)
      val (vDel, _) = log.deleteWhere(s, col("o_orderkey") % 7 === 1)
      val noRewrite = log.dataFiles(vDel).sorted == log.dataFiles(v0).sorted
      val (vDel2, n2) = log.deleteWhere(s, col("o_orderkey") % 7 === 1)
      val idem = n2 == 0L && vDel2 == vDel
      val (vUp, _) = log.updateWhere(s,
        col("o_orderpriority") === "1-URGENT", Seq("cents" -> (col("cents") * 2L)),
        partitions = 2)
      val atomic = vUp == vDel + 1L
      val pinnedPre = log.read(s, vDel)
        .where(col("o_orderpriority") === "1-URGENT").count() ==
        log.read(s, vUp).where(col("o_orderpriority") === "1-URGENT").count()
      log.read(s, vUp)
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_orderkey")).as("sum_key"),
          sum(col("cents")).as("sum_cents"))
        .withColumn("no_rewrite_on_delete", lit(noRewrite))
        .withColumn("delete_idempotent", lit(idem))
        .withColumn("update_atomic", lit(atomic))
        .withColumn("pre_update_vintage_pinned", lit(pinnedPre))
        .orderBy(col("o_orderstatus"))
    }),

    // ── DELETE-ABSORBING OPTIMIZE ([[SnapshotLog.optimize]] — the
    // merge-on-read → copy-on-write compaction law): after deleteWhere +
    // updateWhere leave position tombstones outstanding, OPTIMIZE
    // rewrites the table range-clustered and ABSORBS them — the
    // post-compaction snapshot carries ZERO tombstone lines
    // (`tombstones_absorbed`) yet reads exactly equal to the
    // pre-optimize merge-on-read view (`view_preserved`, exceptAll both
    // ways); the pinned pre-optimize version still reads through its
    // masks (`pinned_pre_readable`) ──
    "snapshot_optimize_absorb" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_absorb"))
      log.recreate()
      val base = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      log.append(base, partitions = 4)
      log.deleteWhere(s, col("o_orderkey") % 7 === 1)
      val (vUp, _) = log.updateWhere(s,
        col("o_orderpriority") === "1-URGENT", Seq("cents" -> (col("cents") * 2L)),
        partitions = 2)
      val hadMasks = log.posDeleteFiles(vUp).nonEmpty
      val preView = log.read(s, vUp)
      val vOpt = log.optimize(s, partitions = 2, sortCols = Seq(col("o_orderkey")))
      val absorbed = hadMasks &&
        log.tombstoneFiles(vOpt).isEmpty && log.posDeleteFiles(vOpt).isEmpty
      val postView = log.read(s, vOpt)
      val preserved = Proofs.sameMultiset(preView, postView)
      val pinnedReadable = log.read(s, vUp).count() == postView.count()
      log.read(s, vOpt)
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_orderkey")).as("sum_key"),
          sum(col("cents")).as("sum_cents"))
        .withColumn("tombstones_absorbed", lit(absorbed))
        .withColumn("view_preserved", lit(preserved))
        .withColumn("pinned_pre_readable", lit(pinnedReadable))
        .orderBy(col("o_orderstatus"))
    }),

    // ── LIQUID-STYLE INCREMENTAL OPTIMIZE ([[SnapshotLog
    // .optimizeIncremental]]): after a full optimize, an append lands
    // NEW files; the incremental pass range-clusters ONLY those —
    // every already-clustered file is carried untouched
    // (`clustered_untouched`: the full-optimize file set is a subset of
    // the post-incremental listing), the rewrite is batch-sized
    // (`only_fresh_rewritten` counts), read-back equals the
    // pre-incremental content exactly (`content_preserved`), and a
    // steady-state second call is a no-op (`noop_when_clustered`) —
    // the maintenance-cost bound that keeps OPTIMIZE affordable under
    // a steady 100 TB append load ──
    "snapshot_optimize_incr" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_liquid"))
      log.recreate()
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))
      log.append(docs.where(col("doc_id") % 3 === 0), partitions = 4)
      val vFull = log.optimize(s, partitions = 2, sortCols = Seq(col("n_chars")))
      val clustered = log.dataFiles(vFull).toSet
      log.append(docs.where(col("doc_id") % 3 =!= 0), partitions = 3)
      val before = log.read(s, log.currentVersion.get)
      val (vIncr, (rewritten, carried)) =
        log.optimizeIncremental(s, partitions = 1, sortCols = Seq(col("n_chars")))
      val onlyFresh = rewritten == 3 && carried == clustered.size
      val untouched = clustered.subsetOf(log.dataFiles(vIncr).toSet)
      val after = log.read(s, vIncr)
      val preserved = Proofs.sameMultiset(before, after)
      val (vAgain, (rAgain, _)) =
        log.optimizeIncremental(s, partitions = 1, sortCols = Seq(col("n_chars")))
      val noop = vAgain == vIncr && rAgain == 0
      after
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .withColumn("only_fresh_rewritten", lit(onlyFresh))
        .withColumn("clustered_untouched", lit(untouched))
        .withColumn("content_preserved", lit(preserved))
        .withColumn("noop_when_clustered", lit(noop))
        .orderBy(col("lang"))
    }),

    // ── ANALYZE-driven JOIN ORDER ([[SnapshotLog.analyze]] +
    // [[graft.sources.StatsOptimizer.statsJoin]] — closing the stats
    // loop from persisted metadata to an actual optimizer decision):
    // both logs are ANALYZEd (row count + exact per-column NDV committed
    // as a versioned meta line), then the join picks its BROADCAST build
    // side from those stats, not from scan-size estimates. Measured
    // laws: `stats_exact` (the persisted numbers equal recomputed
    // truth), `dim_chosen_as_build` (the smaller side won),
    // `plan_broadcasts_build` (the EXECUTED plan carries a
    // BroadcastHashJoin building the dim side — the decision reached the
    // physical plan), `build_key_unique` (NDV==rows on the build key, so
    // the broadcast inner join provably cannot fan out) ──
    "stats_join_order" -> ((s, dir) => {
      val factLog = new SnapshotLog(scratch(dir, "stats_fact"))
      val dimLog = new SnapshotLog(scratch(dir, "stats_dim"))
      factLog.recreate(); dimLog.recreate()
      val ev = Tables.events(s, dir).select(
        col("user_id"), col("event_type"),
        floor(coalesce(col("value"), lit(0.0)) * 100).cast("long").as("cents"))
      factLog.append(ev, partitions = 4)
      val dim = ev.select(col("user_id")).distinct()
        .withColumn("tier", pmod(col("user_id"), lit(4)).cast("long"))
      dimLog.append(dim, partitions = 2)
      factLog.analyze(s, Seq("user_id"))
      dimLog.analyze(s, Seq("user_id"))
      val (joined, dec) =
        graft.sources.StatsOptimizer.statsJoin(s, dimLog, factLog, "user_id")
      val statsExact = dec.leftRows == dim.count() && dec.rightRows == ev.count()
      val dimChosen = dec.broadcastLeft // dim is the left log and the smaller
      val plan = joined.queryExecution.executedPlan.toString
      val planBroadcasts =
        plan.contains("BroadcastHashJoin") && plan.contains("BuildRight")
      joined
        .groupBy(col("tier"))
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("cents")).as("sum_cents"))
        .withColumn("stats_exact", lit(statsExact))
        .withColumn("dim_chosen_as_build", lit(dimChosen))
        .withColumn("plan_broadcasts_build", lit(planBroadcasts))
        .withColumn("build_key_unique", lit(dec.buildKeyUnique))
        .orderBy(col("tier"))
    }),

    // ── STATS-DRIVEN 3-TABLE JOIN ORDER ([[graft.sources.StatsOptimizer
    // .statsJoin3]] — the System-R ordering move the pairwise broadcast
    // pick cannot express): fact ⋈ selective-user-dim ⋈ event-type-dim,
    // the order chosen from the PERSISTED analyze numbers via the
    // independence estimate |fact ⋈ dim| = |fact|·|dim|/max(ndv) — the
    // selective dim joins FIRST so the second join scans a ~10× smaller
    // intermediate. Laws: `selective_dim_joined_first` (the stats picked
    // the right order), `estimate_ranked_correctly` (MEASURED
    // intermediate counts rank the same way the estimates did),
    // `both_dims_broadcast` (the executed plan broadcasts both dims —
    // the fact side never shuffles) ──
    "stats_join_order3" -> ((s, dir) => {
      val factLog = new SnapshotLog(scratch(dir, "stats3_fact"))
      val dimALog = new SnapshotLog(scratch(dir, "stats3_dima"))
      val dimBLog = new SnapshotLog(scratch(dir, "stats3_dimb"))
      factLog.recreate(); dimALog.recreate(); dimBLog.recreate()
      val ev = Tables.events(s, dir).select(
        col("user_id"), col("event_type"),
        floor(coalesce(col("value"), lit(0.0)) * 100).cast("long").as("cents"))
        .where(col("event_type").isNotNull)
      factLog.append(ev, partitions = 4)
      val dimA = ev.select(col("user_id")).distinct()
        .where(col("user_id") % 10 === 0)
        .withColumn("tier", pmod(col("user_id"), lit(3)).cast("long"))
      dimALog.append(dimA, partitions = 1)
      val dimB = ev.select(col("event_type")).distinct()
        .withColumn("type_class",
          when(col("event_type").isin("purchase", "cart"), lit("commerce"))
            .otherwise(lit("browse")))
      dimBLog.append(dimB, partitions = 1)
      factLog.analyze(s, Seq("user_id", "event_type"))
      dimALog.analyze(s, Seq("user_id"))
      dimBLog.analyze(s, Seq("event_type"))
      val (joined, dec) = graft.sources.StatsOptimizer.statsJoin3(
        s, factLog, dimALog, dimBLog, "user_id", "event_type")
      val nA = ev.join(dimA, Seq("user_id")).count()
      val nB = ev.join(dimB, Seq("event_type")).count()
      val ranked = (dec.estIntermediateA <= dec.estIntermediateB) == (nA <= nB)
      val plan = joined.queryExecution.executedPlan.toString
      val bothBroadcast =
        "BroadcastHashJoin".r.findAllIn(plan).length >= 2
      joined
        .groupBy(col("tier"), col("type_class"))
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("cents")).as("sum_cents"))
        .withColumn("selective_dim_joined_first", lit(dec.dimAFirst))
        .withColumn("estimate_ranked_correctly", lit(ranked))
        .withColumn("both_dims_broadcast", lit(bothBroadcast))
        .orderBy(col("tier"), col("type_class"))
    }),

    // ── FULL three-clause MERGE INTO ([[SnapshotLog.mergeInto]] — the
    // complete Delta MERGE semantics; `snapshot_merge_upsert` covers the
    // plain-upsert special case): WHEN MATCHED AND F-status DELETE, WHEN
    // MATCHED UPDATE (cents accumulate, SET reading the OLD row), WHEN
    // NOT MATCHED INSERT, WHEN NOT MATCHED BY SOURCE AND stale DELETE —
    // all four effects land in ONE atomic version
    // (`single_atomic_commit`), with per-clause row metrics returned by
    // the engine matching independently recomputed truth
    // (`metrics_match`) ──
    "snapshot_merge_full" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_mergefull"))
      log.recreate()
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val target = orders.where(col("k") % 4 =!= 3)
      val source = orders.where(col("k") % 2 === 1)
        .withColumn("cents", col("cents") + 7L)
      val v0 = log.append(target, partitions = 4)
      val (v1, (nUpd, nDel, nIns), _) = log.mergeInto(
        source, "k",
        updateWhen = Some(lit(true)),
        updateSet = Seq("cents" -> (col("cents") + col("src_cents"))),
        deleteWhen = Some(col("status") === "F"),
        insertNotMatched = true,
        deleteNotMatchedBySource = Some(col("status") === "O" && col("k") % 10 === 0))
      val atomic = v1 == v0 + 1L
      // recompute every clause count independently of the engine's metrics
      val expUpd = target.where(col("k") % 4 === 1 && col("status") =!= "F").count()
      val expDel = target.where(col("k") % 4 === 1 && col("status") === "F").count() +
        target.where(col("k") % 2 === 0 && col("status") === "O" && col("k") % 10 === 0)
          .count()
      val expIns = source.where(col("k") % 4 === 3).count()
      val metricsMatch = nUpd == expUpd && nDel == expDel && nIns == expIns
      log.read(s, v1)
        .groupBy(col("status"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("k")).as("sum_key"),
          sum(col("cents")).as("sum_cents"))
        .withColumn("single_atomic_commit", lit(atomic))
        .withColumn("metrics_match", lit(metricsMatch))
        .orderBy(col("status"))
    }),

    // ── DSv2 SQL READ ([[graft.sources.GraftCatalog]] — SQL
    // addressability for the engine's own storage layer, the reference's
    // SQL-first entry (HiveConnector.scala:29-32) applied to the
    // snapshot log): the log registers as a TableCatalog and plain
    // `spark.sql` reads it through Spark's V2 BatchScan
    // (`plan_is_v2_scan`) with the range predicate PUSHED into the
    // parquet scan (`filter_pushed_to_scan`) — full vectorized read,
    // pruning, and codegen on the transactional table, equal to the API
    // read bitwise (`equals_api_read`) ──
    "snapshot_sql_read" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_sql"))
      log.recreate()
      val base = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderpriority"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      log.append(base, partitions = 4)
      GraftCatalog.mount(s, "graftsnap", scratch(dir, ""))
      val df = s.sql(
        """SELECT o_orderpriority, count(*) AS n_orders,
          |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graftsnap.snap_sql WHERE o_orderkey >= 1000
          |GROUP BY o_orderpriority""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      val v2Scan = plan.contains("BatchScan")
      val pushed = plan.contains("GreaterThanOrEqual(o_orderkey,1000)")
      val api = log.read(s, log.currentVersion.get)
        .where(col("o_orderkey") >= 1000)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_orderkey")).as("sum_key"),
          sum(col("cents")).as("sum_cents"))
      val same = Proofs.sameMultiset(df, api)
      df.withColumn("plan_is_v2_scan", lit(v2Scan))
        .withColumn("filter_pushed_to_scan", lit(pushed))
        .withColumn("equals_api_read", lit(same))
        .orderBy(col("o_orderpriority"))
    }),

    // ── DSv2 TRANSACTIONAL SQL INSERT ([[graft.sources.GraftCatalog]]'s
    // V1 write fallback → [[SnapshotLog.appendStrict]] under OCC retry):
    // `INSERT INTO graftsnap.t SELECT …` lands as EXACTLY ONE atomic
    // manifest commit (`insert_single_commit`), the API read sees it
    // (`api_sees_sql_insert`), and `INSERT OVERWRITE` refuses loudly
    // (`overwrite_refused`) — an untracked overwrite would bypass the
    // log. SQL reads and writes now both ride the transaction log ──
    "snapshot_sql_insert" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_sqlins"))
      log.recreate()
      val docs = Tables.documents(s, dir).select(
        col("doc_id"), col("lang"), col("n_chars"))
      log.append(docs.where(col("doc_id") % 2 === 0), partitions = 2)
      GraftCatalog.mount(s, "graftsnap", scratch(dir, ""))
      docs.where(col("doc_id") % 2 =!= 0).createOrReplaceTempView("sql_ins_src")
      val vBefore = log.currentVersion.get
      s.sql("INSERT INTO graftsnap.snap_sqlins SELECT doc_id, lang, n_chars FROM sql_ins_src")
      val singleCommit = log.currentVersion.get == vBefore + 1L
      val apiSees = log.read(s, log.currentVersion.get).count() == docs.count()
      val overwriteRefused =
        try {
          s.sql("INSERT OVERWRITE TABLE graftsnap.snap_sqlins " +
            "SELECT doc_id, lang, n_chars FROM sql_ins_src")
          false
        } catch {
          case e: Throwable =>
            // analyzer refusal (no OVERWRITE capability) or the V1 path's
            // own message — either way the overwrite never reached the log
            Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
              .exists(x => Option(x.getMessage).exists(m =>
                m.contains("INSERT OVERWRITE") || m.contains("does not support") ||
                  m.contains("TABLE_OPERATION")))
        }
      s.sql(
        """SELECT lang, count(*) AS n_docs,
          |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM graftsnap.snap_sqlins GROUP BY lang""".stripMargin)
        .withColumn("insert_single_commit", lit(singleCommit))
        .withColumn("api_sees_sql_insert", lit(apiSees))
        .withColumn("overwrite_refused", lit(overwriteRefused))
        .orderBy(col("lang"))
    }),

    // ── DSv2 SQL DELETE ([[graft.sources.GraftCatalog]]'s SupportsDelete
    // → [[SnapshotLog.deleteWhereCow]], the Iceberg-v1 copy-on-write
    // shape): `DELETE FROM graftsnap.t WHERE …` rewrites ONLY the grazed
    // files in one atomic commit and leaves NO merge-on-read masks
    // outstanding (`scan_clean_after_delete`), so the very next SQL
    // SELECT — this query's own rollup — scans clean with no compact
    // step; ungrazed files are carried untouched
    // (`ungrazed_files_carried`). The merge-on-read deleteWhere stays
    // the cheaper API-side choice; this is the SQL surface's trade ──
    "snapshot_sql_delete" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_sqldel"))
      log.recreate()
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderstatus"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val vLow = log.append(orders.where(col("o_orderkey") <= 1500), partitions = 2)
      val lowFiles = log.dataFiles(vLow).toSet
      val vHigh = log.append(orders.where(col("o_orderkey") > 1500), partitions = 2)
      val highFiles = log.dataFiles(vHigh).toSet -- lowFiles
      GraftCatalog.mount(s, "graftsnap", scratch(dir, ""))
      s.sql("DELETE FROM graftsnap.snap_sqldel WHERE o_orderkey <= 700")
      val vDel = log.currentVersion.get
      val singleCommit = vDel == vHigh + 1L
      val scanClean = log.posDeleteFiles(vDel).isEmpty &&
        log.dvFiles(vDel).isEmpty && log.tombstoneFiles(vDel).isEmpty
      val ungrazedCarried = highFiles.subsetOf(log.dataFiles(vDel).toSet) &&
        lowFiles.intersect(log.dataFiles(vDel).toSet).isEmpty
      s.sql(
        """SELECT o_orderstatus, count(*) AS n_orders,
          |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graftsnap.snap_sqldel GROUP BY o_orderstatus""".stripMargin)
        .withColumn("delete_single_commit", lit(singleCommit))
        .withColumn("scan_clean_after_delete", lit(scanClean))
        .withColumn("ungrazed_files_carried", lit(ungrazedCarried))
        .orderBy(col("o_orderstatus"))
    }),

    // ── DSv2 TIME TRAVEL in SQL ([[graft.sources.GraftCatalog]] +
    // ── SQL UPDATE text routed through [[graft.sources.GraftSqlDml]]
    // (Spark's OWN parser front-ends the statement; execution is the
    // log's one-evaluation merge-on-read [[SnapshotLog.updateWhere]]
    // under OCC retry): self-referential SET reads the OLD row, the
    // commit is atomic (`update_single_commit`), and the work is
    // update-sized — every base data file is CARRIED, the delta rides as
    // a position-delete mask + new images (`update_sized_mor`), no
    // grazed-file rewrite ──
    "snapshot_sql_update" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_squpd"))
      log.recreate()
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderstatus"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val v0 = log.append(orders, partitions = 4)
      val baseFiles = log.dataFiles(v0).toSet
      GraftCatalog.mount(s, "graftupd", scratch(dir, ""))
      val r = GraftSqlDml.exec(s,
        "UPDATE graftupd.snap_squpd AS t SET t.cents = t.cents + 100, " +
          "o_orderstatus = lower(o_orderstatus) WHERE t.o_orderkey % 10 = 0")
      val singleCommit = r.version == v0 + 1L && r.occRetries == 0
      val mor = baseFiles.subsetOf(log.dataFiles(r.version).toSet) &&
        log.posDeleteFiles(r.version).nonEmpty
      log.read(s, r.version)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("cents")).cast("long").as("sum_cents"))
        .withColumn("update_single_commit", lit(singleCommit))
        .withColumn("update_sized_mor", lit(mor))
        .orderBy(col("o_orderstatus"))
    }),

    // ── SQL MERGE INTO text through [[graft.sources.GraftSqlDml]] →
    // [[SnapshotLog.mergeInto]]: all four clause kinds in ONE statement
    // (matched-conditional DELETE, matched UPDATE reading source columns,
    // INSERT *, NOT-MATCHED-BY-SOURCE conditional DELETE), alias-scoped
    // references resolved per ANSI rules, one atomic commit; the merge
    // leaves the table scan-clean so this query's own rollup is a plain
    // SQL SELECT through the DSv2 catalog ──
    "snapshot_sql_merge" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_sqlmrg"))
      log.recreate()
      val base = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderstatus"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val v0 = log.append(base.where(col("o_orderkey") <= 2000), partitions = 3)
      base.where(col("o_orderkey").between(1001, 3000))
        .withColumn("cents", col("cents") + 7)
        .createOrReplaceTempView("graft_mrg_src")
      GraftCatalog.mount(s, "graftmrg", scratch(dir, ""))
      val r = GraftSqlDml.exec(s,
        """MERGE INTO graftmrg.snap_sqlmrg AS t USING graft_mrg_src AS s
          |ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED AND t.o_orderstatus = 'F' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET t.cents = s.cents + 1000
          |WHEN NOT MATCHED THEN INSERT *
          |WHEN NOT MATCHED BY SOURCE AND t.o_orderkey <= 300 THEN DELETE""".stripMargin)
      val singleCommit = r.version == v0 + 1L && r.occRetries == 0
      val scanClean = log.posDeleteFiles(r.version).isEmpty &&
        log.tombstoneFiles(r.version).isEmpty
      s.sql(
        """SELECT o_orderstatus, count(*) AS n_rows,
          |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graftmrg.snap_sqlmrg GROUP BY o_orderstatus""".stripMargin)
        .withColumn("merge_single_commit", lit(singleCommit))
        .withColumn("scan_clean_after_merge", lit(scanClean))
        .orderBy(col("o_orderstatus"))
    }),

    // ── SQL ANALYZE ([[GraftSqlParser]] → [[SnapshotLog.analyze]]): one
    // aggregation pass persists the row count and EXACT per-column NDVs
    // in the log metadata, stamped with the analyzed data-state digest —
    // the numbers [[StatsOptimizer]]'s stats-driven join planning
    // consumes, refusing stale ones. The receipt and recorded NDVs are
    // cross-checked against recomputed exact values
    // (`stats_match_recount`) ──
    "snapshot_sql_analyze" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftan", scratch(dir, "anroot"))
      s.sql("DROP TABLE IF EXISTS graftan.ord")
      s.sql("CREATE TABLE graftan.ord (k BIGINT, status STRING, cents BIGINT)")
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 1400)
        .createOrReplaceTempView("graft_an_src")
      s.sql("INSERT INTO graftan.ord SELECT * FROM graft_an_src")
      val (r, analyzeTrace) = Trace.capture(s)(s.sql(
        "ANALYZE TABLE graftan.ord COMPUTE STATISTICS FOR COLUMNS k, status").head())
      val log = new SnapshotLog(scratch(dir, "anroot") + "/ord")
      val (rows, ndvs) = log.tableStats(log.currentVersion.get).get
      val exact = s.sql(
        """SELECT count(*), count(DISTINCT k), count(DISTINCT status)
          |FROM graftan.ord""".stripMargin).head()
      // rows are exact; NDVs are HLL++ sketches (the single-pass
      // no-Expand plan — the 100 TB route) bounded at 5% relative error
      def close(approx: Long, ex: Long): Boolean =
        math.abs(approx - ex).toDouble / math.max(ex, 1L) <= 0.05
      val statsMatch = r.getLong(1) == exact.getLong(0) &&
        rows == exact.getLong(0) && close(ndvs("k"), exact.getLong(1)) &&
        close(ndvs("status"), exact.getLong(2)) &&
        !analyzeTrace.plans.exists(_.contains("Expand"))
      s.sql(
        """SELECT status, count(*) AS n_orders,
          |       CAST(sum(k) AS BIGINT) AS sum_key,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graftan.ord GROUP BY status""".stripMargin)
        .withColumn("stats_match_recount", lit(statsMatch))
        .orderBy(col("status"))
    }),

    // ── COPY INTO: IDEMPOTENT BULK FILE INGEST ([[GraftSqlParser]] →
    // [[SnapshotLog.copyIngest]] — the Databricks verb): two source
    // parquet files load as one transactional append whose commit
    // carries the loaded-file ledger ATOMICALLY; re-running the SAME
    // statement skips everything (`recopy_skipped_all` — the receipt
    // shows 0 loaded / 2 skipped with the version pinned), and a third
    // file arriving later loads ALONE (`incremental_loaded_new`) — the
    // schedule-it-and-forget ingest loop where every source file lands
    // exactly once, crash or no crash ──
    "snapshot_sql_copy_into" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftcp", scratch(dir, "cproot"))
      s.sql("DROP TABLE IF EXISTS graftcp.ord")
      s.sql("CREATE TABLE graftcp.ord (k BIGINT, status STRING, cents BIGINT)")
      val srcDir = new java.io.File(scratch(dir, "cp_src"))
      deleteTree(srcDir.toPath); srcDir.mkdirs()
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      def drop(df: DataFrame, name: String): Unit =
        writeOneFile(df, new java.io.File(srcDir, name).toPath)
      drop(orders.where(col("k") <= 500), "a.parquet")
      drop(orders.where(col("k").between(501, 1000)), "b.parquet")
      val stmt = s"COPY INTO graftcp.ord FROM '$srcDir' FILEFORMAT = PARQUET"
      val r1 = s.sql(stmt).head()
      val r2 = s.sql(stmt).head()
      val skippedAll = r1.getInt(0) == 2 && r2.getInt(0) == 0 &&
        r2.getInt(2) == 2 && r2.getLong(3) == r1.getLong(3)
      drop(orders.where(col("k").between(1001, 1400)), "c.parquet")
      val r3 = s.sql(stmt).head()
      val incremental = r3.getInt(0) == 1 && r3.getInt(2) == 2
      s.sql(
        """SELECT status, count(*) AS n_orders,
          |       CAST(sum(k) AS BIGINT) AS sum_key,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graftcp.ord GROUP BY status""".stripMargin)
        .withColumn("recopy_skipped_all", lit(skippedAll))
        .withColumn("incremental_loaded_new", lit(incremental))
        .orderBy(col("status"))
    }),

    // ── MERGE WITH SCHEMA EVOLUTION ([[GraftSqlDml]] → [[SnapshotLog
    // .addColumns]] — the Delta automatic-evolution shape, closing the
    // r13 refusal): the source carries a `prio` column the target
    // lacks; the evolution lands as ONE metadata-only commit
    // (`evolution_metadata_only`: the data-file listing is
    // byte-identical across it), then the merge updates matched rows
    // and inserts the rest — pre-evolution unmatched rows serve typed
    // NULL in the new column, exactly what a batch read after ALTER ADD
    // COLUMNS serves ──
    "snapshot_sql_merge_evolve" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftme", scratch(dir, "meroot"))
      s.sql("DROP TABLE IF EXISTS graftme.ord")
      s.sql("CREATE TABLE graftme.ord (k BIGINT, status STRING, cents BIGINT)")
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"),
          col("o_orderpriority").as("prio"))
        .where(col("k") <= 1400)
        .createOrReplaceTempView("graft_me_src")
      s.sql("INSERT INTO graftme.ord SELECT k, status, cents FROM graft_me_src " +
        "WHERE k <= 1000")
      val log = new SnapshotLog(scratch(dir, "meroot") + "/ord")
      val vPre = log.currentVersion.get
      val r = s.sql(
        """MERGE WITH SCHEMA EVOLUTION INTO graftme.ord t
          |USING (SELECT * FROM graft_me_src WHERE k > 500) AS s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin).head()
      val evolved = log.dataFiles(vPre + 1L) == log.dataFiles(vPre) &&
        log.declaredSchema(vPre + 1L).exists(_.fieldNames.contains("prio"))
      val merged = r.getLong(3) > 0L && r.getLong(5) > 0L
      s.sql(
        """SELECT status, count(*) AS n_orders,
          |       CAST(sum(k) AS BIGINT) AS sum_key,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents,
          |       count(prio) AS n_with_prio
          |FROM graftme.ord GROUP BY status""".stripMargin)
        .withColumn("evolution_metadata_only", lit(evolved))
        .withColumn("merge_after_evolution", lit(merged))
        .orderBy(col("status"))
    }),

    // ── COMPOUND + DIFFERENTLY-NAMED MERGE KEYS ([[GraftSqlDml]] →
    // [[SnapshotLog.mergeIntoKeys]] — closing the r14 single-same-named-
    // key restriction): the ON clause is a conjunction equating the
    // target's (k, grp) business key to the source's differently-spelled
    // (sk, sgrp); the interpreter resolves each term to one target and
    // one source column, reshapes the source to the target spelling, and
    // the log merge joins/uniquifies/anti-joins on the column TUPLE.
    // Receipt counts pinned (`compound_receipt_ok`) ──
    "snapshot_sql_merge_compound" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftmck", scratch(dir, "mckroot"))
      s.sql("DROP TABLE IF EXISTS graftmck.ord")
      s.sql("CREATE TABLE graftmck.ord (k BIGINT, grp STRING, cents BIGINT)")
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"),
          when(col("o_orderkey") % 2 === 0, "even").otherwise("odd").as("grp"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 1400)
        .createOrReplaceTempView("graft_mck_src")
      s.sql("INSERT INTO graftmck.ord SELECT * FROM graft_mck_src WHERE k <= 1000")
      val r = s.sql(
        """MERGE INTO graftmck.ord t
          |USING (SELECT k AS sk, grp AS sgrp, cents + 777 AS cents
          |       FROM graft_mck_src WHERE k > 500) AS s
          |ON t.k = s.sk AND t.grp = s.sgrp
          |WHEN MATCHED THEN UPDATE SET t.cents = s.cents
          |WHEN NOT MATCHED THEN INSERT (k, grp, cents)
          |  VALUES (s.sk, s.sgrp, s.cents)""".stripMargin).head()
      val receiptOk = r.getLong(3) == 500L && r.getLong(5) == 400L
      s.sql(
        """SELECT grp, count(*) AS n_orders,
          |       CAST(sum(k) AS BIGINT) AS sum_key,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graftmck.ord GROUP BY grp""".stripMargin)
        .withColumn("compound_receipt_ok", lit(receiptOk))
        .orderBy(col("grp"))
    }),

    // ── MERGE WITH SCHEMA EVOLUTION ON A COLUMN-MAPPED TARGET
    // ([[SnapshotLog.addColumnsMapped]] — closing the r14 refusal): the
    // evolution mints a FRESH physical id for the source-only column in
    // ONE metadata commit (data listing byte-identical,
    // `mapped_evolution_metadata_only`; the minted id never equals the
    // logical name, `fresh_physical_id`), then the merge runs in the
    // widened physical names — pre-evolution unmatched rows serve typed
    // NULL exactly as the unmapped evolve does ──
    "snapshot_sql_merge_evolve_mapped" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftmem", scratch(dir, "memroot"))
      s.sql("DROP TABLE IF EXISTS graftmem.ord")
      s.sql("CREATE TABLE graftmem.ord (k BIGINT, status STRING, cents BIGINT)")
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"),
          col("o_orderpriority").as("prio"))
        .where(col("k") <= 1400)
        .createOrReplaceTempView("graft_mem_src")
      s.sql("INSERT INTO graftmem.ord SELECT k, status, cents FROM graft_mem_src " +
        "WHERE k <= 1000")
      s.sql("ALTER TABLE graftmem.ord RENAME COLUMN cents TO pennies")
      val log = new SnapshotLog(scratch(dir, "memroot") + "/ord")
      val vPre = log.currentVersion.get
      val r = s.sql(
        """MERGE WITH SCHEMA EVOLUTION INTO graftmem.ord t
          |USING (SELECT k, status, cents AS pennies, prio
          |       FROM graft_mem_src WHERE k > 500) AS s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin).head()
      val pairs = log.columnMapping(log.currentVersion.get).get._2.toMap
      val evolved = log.dataFiles(vPre + 1L) == log.dataFiles(vPre) &&
        pairs.get("pennies").contains("cents") &&
        pairs.contains("prio") && pairs("prio") != "prio"
      val merged = r.getLong(3) > 0L && r.getLong(5) > 0L
      s.sql(
        """SELECT status, count(*) AS n_orders,
          |       CAST(sum(k) AS BIGINT) AS sum_key,
          |       CAST(sum(pennies) AS BIGINT) AS sum_pennies,
          |       count(prio) AS n_with_prio
          |FROM graftmem.ord GROUP BY status""".stripMargin)
        .withColumn("mapped_evolution_fresh_id", lit(evolved))
        .withColumn("merge_after_evolution", lit(merged))
        .orderBy(col("status"))
    }),

    // ── CONDITIONAL NOT-MATCHED INSERT + INLINE SUBQUERY SOURCE
    // ([[GraftSqlDml]] — closing two documented r13 refusals): the MERGE
    // source is an inline `USING (SELECT …) AS s` derived table
    // (analyzed through the session, no temp-view ceremony), and `WHEN
    // NOT MATCHED AND s.k % 2 = 0 THEN INSERT *` lands only the even
    // unmatched keys — the condition filters the anti-joined SOURCE rows
    // inside the merge's one evaluation. A condition referencing TARGET
    // columns still refuses (ANSI: those are NULL on not-matched rows) ──
    "snapshot_sql_merge_cond" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftmcd", scratch(dir, "mcdroot"))
      s.sql("DROP TABLE IF EXISTS graftmcd.ord")
      s.sql("CREATE TABLE graftmcd.ord (k BIGINT, status STRING, cents BIGINT)")
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 1400)
        .createOrReplaceTempView("graft_mcd_src")
      s.sql("INSERT INTO graftmcd.ord SELECT * FROM graft_mcd_src WHERE k <= 1000")
      val r = s.sql(
        """MERGE INTO graftmcd.ord t
          |USING (SELECT k, status, cents FROM graft_mcd_src WHERE k > 900) AS s
          |ON t.k = s.k
          |WHEN NOT MATCHED AND s.k % 2 = 0 THEN INSERT *""".stripMargin).head()
      val condInserted = r.getLong(5) > 0L && r.getLong(3) == 0L
      val targetRefRefused =
        try {
          s.sql("MERGE INTO graftmcd.ord t USING graft_mcd_src s ON t.k = s.k " +
            "WHEN NOT MATCHED AND t.cents > 0 THEN INSERT *")
          false
        } catch { case e: Exception =>
          Option(e.getMessage).exists(_.contains("source columns only")) }
      s.sql(
        """SELECT status, count(*) AS n_orders,
          |       CAST(sum(k) AS BIGINT) AS sum_key,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graftmcd.ord GROUP BY status""".stripMargin)
        .withColumn("conditional_insert_filtered", lit(condInserted))
        .withColumn("target_ref_refused", lit(targetRefRefused))
        .orderBy(col("status"))
    }),

    // ── FOUR-CLAUSE MERGE: WHEN NOT MATCHED BY SOURCE THEN UPDATE
    // ([[graft.sources.GraftSqlDml]] → [[SnapshotLog.mergeIntoKeys]]
    // `nmbsUpdateWhen`): the complete Delta clause matrix in ONE atomic
    // commit — matched rows update from the source, unmatched source
    // rows insert, target rows that LOST their source match either
    // delete (even keys) or get marked STALE (the mark-stale-rows shape
    // every slowly-changing-dimension sync needs). Laws: the receipt
    // counts NMBS updates as updates and NMBS deletes as deletes, and a
    // source column reference inside an NMBS clause refuses loudly
    // (such rows have no source image) ──
    "snapshot_sql_merge_nmbs" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftnmb", scratch(dir, "nmbroot"))
      s.sql("DROP TABLE IF EXISTS graftnmb.ord")
      s.sql("CREATE TABLE graftnmb.ord (k BIGINT, status STRING, cents BIGINT)")
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 2400)
        .createOrReplaceTempView("graft_nmb_src")
      s.sql("INSERT INTO graftnmb.ord SELECT * FROM graft_nmb_src WHERE k <= 2000")
      val r = s.sql(
        """MERGE INTO graftnmb.ord t
          |USING (SELECT k, status, cents + 5 AS cents FROM graft_nmb_src
          |       WHERE k > 800) AS s
          |ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET t.cents = s.cents
          |WHEN NOT MATCHED THEN INSERT *
          |WHEN NOT MATCHED BY SOURCE AND t.k % 2 = 0 THEN DELETE
          |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET t.status = 'STALE'
          |""".stripMargin).head()
      // receipt: updated = matched + stale-marked, deleted = even lost keys
      val receiptOk = r.getString(0) == "MERGE" &&
        r.getLong(3) > 0L && r.getLong(4) > 0L && r.getLong(5) > 0L
      val srcRefRefused =
        try {
          s.sql("MERGE INTO graftnmb.ord t USING graft_nmb_src s ON t.k = s.k " +
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET t.status = s.status")
          false
        } catch { case e: Exception =>
          Option(e.getMessage).exists(_.contains("target columns only")) }
      s.sql(
        """SELECT status, count(*) AS n_rows,
          |       CAST(sum(k) AS BIGINT) AS sum_key,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graftnmb.ord GROUP BY status""".stripMargin)
        .withColumn("receipt_ok", lit(receiptOk))
        .withColumn("nmbs_source_ref_refused", lit(srcRefRefused))
        .orderBy(col("status"))
    }),

    // ── SQL SHALLOW CLONE ([[SnapshotLog.cloneShallow]] via
    // `CREATE TABLE … SHALLOW CLONE …`): a ZERO-COPY table clone — v0
    // references the source snapshot's files in place (no bytes move at
    // any table size, the dev-against-prod workflow), optionally pinned
    // by VERSION AS OF. Laws: nothing landed under the clone's root
    // (`zero_copy`), the time-travel clone serves exactly the pinned
    // version (`tt_clone_pinned`), source mutations after the clone stay
    // invisible (the oracle rollup carries pre-update cents), and the
    // source's solo VACUUM refuses while clones live — stricter than
    // Delta, which lets that vacuum break its clones silently ──
    "snapshot_sql_clone" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftcln", scratch(dir, "clnroot"))
      s.sql("DROP TABLE IF EXISTS graftcln.dev")
      s.sql("DROP TABLE IF EXISTS graftcln.dev_v1")
      s.sql("DROP TABLE IF EXISTS graftcln.base")
      s.sql("CREATE TABLE graftcln.base (k BIGINT, status STRING, cents BIGINT)")
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 2600)
        .createOrReplaceTempView("graft_cln_src")
      s.sql("INSERT INTO graftcln.base SELECT * FROM graft_cln_src WHERE k <= 1000")
      s.sql("INSERT INTO graftcln.base SELECT * FROM graft_cln_src " +
        "WHERE k > 1000 AND k <= 2000")
      val r = s.sql("CREATE TABLE graftcln.dev SHALLOW CLONE graftcln.base").head()
      val receiptOk = r.getString(0) == "SHALLOW CLONE" &&
        r.getLong(3) == 2L && r.getLong(4) > 0L && r.getLong(5) == 0L
      val zeroCopy =
        !new java.io.File(scratch(dir, "clnroot") + "/dev/data").exists()
      s.sql("CREATE TABLE graftcln.dev_v1 SHALLOW CLONE graftcln.base VERSION AS OF 1")
      val ttPinned =
        s.sql("SELECT count(*) AS n FROM graftcln.dev_v1").head().getLong(0) ==
          s.sql("SELECT count(*) AS n FROM graft_cln_src WHERE k <= 1000")
            .head().getLong(0)
      // the clone evolves independently; the source mutates independently
      s.sql("INSERT INTO graftcln.dev SELECT * FROM graft_cln_src WHERE k > 2000")
      s.sql("UPDATE graftcln.base SET cents = cents + 999 WHERE k <= 2000")
      val vacuumRefused =
        try { new SnapshotLog(scratch(dir, "clnroot") + "/base").vacuum(); false }
        catch { case e: IllegalArgumentException =>
          Option(e.getMessage).exists(_.contains("clone")) }
      s.sql(
        """SELECT status, count(*) AS n_rows,
          |       CAST(sum(k) AS BIGINT) AS sum_key,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graftcln.dev GROUP BY status""".stripMargin)
        .withColumn("receipt_ok", lit(receiptOk))
        .withColumn("zero_copy", lit(zeroCopy))
        .withColumn("tt_clone_pinned", lit(ttPinned))
        .withColumn("src_vacuum_refused", lit(vacuumRefused))
        .orderBy(col("status"))
    }),

    // ── PREDICATE-SCOPED ATOMIC OVERWRITE (`INSERT INTO … REPLACE
    // WHERE …` → [[SnapshotLog.replaceWhere]] — Delta's replaceWhere,
    // THE idempotent-backfill statement): matching rows leave and the
    // SELECT's rows land in ONE commit; only predicate-grazed files
    // rewrite. Laws: re-running the same statement is a NO-OP on
    // content (`rerun_idempotent`), and a replacement row outside the
    // predicate fails the write with nothing committed
    // (`scope_guarded`) ──
    "snapshot_sql_replace_where" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftrw", scratch(dir, "rwroot"))
      s.sql("DROP TABLE IF EXISTS graftrw.ord")
      s.sql("CREATE TABLE graftrw.ord (k BIGINT, status STRING, cents BIGINT)")
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 2000)
        .createOrReplaceTempView("graft_rw_src")
      s.sql("INSERT INTO graftrw.ord SELECT * FROM graft_rw_src")
      val backfill = "INSERT INTO graftrw.ord REPLACE WHERE k BETWEEN 500 AND 1000 " +
        "SELECT k, status, cents + 7 AS cents FROM graft_rw_src " +
        "WHERE k BETWEEN 500 AND 1000"
      val r = s.sql(backfill).head()
      val receiptOk = r.getString(0) == "REPLACE WHERE" &&
        r.getLong(3) > 0L && r.getLong(4) > 0L && r.getLong(3) == r.getLong(4)
      val before = s.sql(
        "SELECT count(*), CAST(sum(cents) AS BIGINT), CAST(sum(k) AS BIGINT) " +
          "FROM graftrw.ord").head()
      s.sql(backfill) // the re-run: deletes its own rows, re-lands them
      val after = s.sql(
        "SELECT count(*), CAST(sum(cents) AS BIGINT), CAST(sum(k) AS BIGINT) " +
          "FROM graftrw.ord").head()
      val rerunIdempotent = before == after
      val scopeGuarded =
        try {
          // k+5000 guarantees out-of-scope rows at ANY scale factor (a
          // filter that happens to be empty would legally run as the
          // scoped-delete form instead of tripping the guard)
          s.sql("INSERT INTO graftrw.ord REPLACE WHERE k BETWEEN 500 AND 1000 " +
            "SELECT k + 5000 AS k, status, cents FROM graft_rw_src WHERE k <= 10")
          false
        } catch { case e: Exception =>
          Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
            .exists(t => Option(t.getMessage)
              .exists(_.contains("outside the REPLACE WHERE"))) }
      s.sql(
        """SELECT status, count(*) AS n_rows,
          |       CAST(sum(k) AS BIGINT) AS sum_key,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graftrw.ord GROUP BY status""".stripMargin)
        .withColumn("receipt_ok", lit(receiptOk))
        .withColumn("rerun_idempotent", lit(rerunIdempotent))
        .withColumn("scope_guarded", lit(scopeGuarded))
        .orderBy(col("status"))
    }),

    // ── STREAMING SURROGATE KEYS ([[SnapshotLog.appendIdentityStats]]
    // under the `graft-log` sink): an identity destination mints one
    // contiguous id block PER TRIGGER, with the block advance and the
    // `txn.<appId>` watermark in ONE commit — a redelivered batch can
    // neither re-mint nor double-commit. The drain composes two r15
    // features: Trigger.AvailableNow over a version-bounded source into
    // the identity sink; laws: ids are exactly 1..N across the
    // multi-trigger run and the watermark is recorded ──
    "stream_identity_sink" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftsid", scratch(dir, "sidroot"))
      s.sql("DROP TABLE IF EXISTS graftsid.ord")
      s.sql("""CREATE TABLE graftsid.ord (id BIGINT, k BIGINT, cents BIGINT)
              |TBLPROPERTIES ('identity.id' = '1,1')""".stripMargin)
      val src = new SnapshotLog(scratch(dir, "sid_src"))
      src.recreate()
      val rows = Tables.orders(s, dir).select(
        lit(null).cast("long").as("id"),
        col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 1800)
      (0 until 3).foreach { i =>
        src.append(rows.where(col("k") % 3 === i), partitions = 2); ()
      }
      withTempRoot("graft_sid_ckpt_") { ckpt =>
        val q = s.readStream
          .format("graft-log").option("root", src.root)
          .option("maxVersionsPerTrigger", "1").load()
          .writeStream.format("graft-log")
          .option("root", scratch(dir, "sidroot") + "/ord")
          .option("checkpointLocation", ckpt.toString)
          .option("appId", "sid").option("partitions", "2")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .outputMode("append").start()
        require(q.awaitTermination(180000L),
          "stream_identity_sink: the AvailableNow drain must self-terminate")
      }
      val dst = new SnapshotLog(scratch(dir, "sidroot") + "/ord")
      val wmRecorded = dst.currentVersion
        .exists(v => dst.metaValues(v).contains("txn.sid"))
      s.sql(
        """SELECT count(*) AS n_rows,
          |       count(DISTINCT id) AS n_ids,
          |       CAST(min(id) AS BIGINT) AS min_id,
          |       CAST(max(id) AS BIGINT) AS max_id,
          |       CAST(sum(id) AS BIGINT) AS sum_id,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graftsid.ord""".stripMargin)
        .withColumn("watermark_recorded", lit(wmRecorded))
    }),

    // ── STREAMING REPLACE WHERE (`.option("replaceWhere", …)` on the
    // graft-log sink → [[SnapshotLog.replaceWhere]] with the txn
    // watermark — the Delta idempotent-partition-backfill shape as a
    // first-class sink option): an AvailableNow drain of a recomputed
    // [500,1000] slice REPLACES exactly that scope of the destination in
    // one commit, riding the byte-sized stats-pruned write path. Laws:
    // a SECOND drain of the same source under the same appId (a fresh
    // checkpoint — the redelivery shape) commits NOTHING
    // (`redelivery_skipped`: the version is unchanged, the watermark
    // made the trigger a structural skip) ──
    "stream_replace_where" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftsrw", scratch(dir, "srwroot"))
      s.sql("DROP TABLE IF EXISTS graftsrw.ord")
      s.sql("CREATE TABLE graftsrw.ord (k BIGINT, status STRING, cents BIGINT)")
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 2000)
        .createOrReplaceTempView("graft_srw_src")
      s.sql("INSERT INTO graftsrw.ord SELECT * FROM graft_srw_src")
      // the recomputed slice arrives as a one-version source log
      val src = new SnapshotLog(scratch(dir, "srw_src"))
      src.recreate()
      src.append(s.table("graft_srw_src")
        .where(col("k").between(500, 1000))
        .withColumn("cents", col("cents") + 7), partitions = 1)
      val dstRoot = scratch(dir, "srwroot") + "/ord"
      def drain(): Unit = withTempRoot("graft_srw_ckpt_") { ckpt =>
        val q = s.readStream
          .format("graft-log").option("root", src.root).load()
          .writeStream.format("graft-log")
          .option("root", dstRoot)
          .option("checkpointLocation", ckpt.toString)
          .option("appId", "srw")
          .option("replaceWhere", "k BETWEEN 500 AND 1000")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .outputMode("append").start()
        require(q.awaitTermination(180000L),
          "stream_replace_where: the AvailableNow drain must self-terminate")
      }
      drain()
      val log = new SnapshotLog(dstRoot)
      val vAfter1 = log.currentVersion.get
      // a fresh checkpoint under the SAME appId redelivers batch 0: the
      // watermark makes it a structural skip — zero commits
      drain()
      val redeliverySkipped = log.currentVersion.get == vAfter1 &&
        log.metaValues(vAfter1).get("txn.srw").contains("0")
      s.sql(
        """SELECT status, count(*) AS n_rows,
          |       CAST(sum(k) AS BIGINT) AS sum_key,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graftsrw.ord GROUP BY status""".stripMargin)
        .withColumn("redelivery_skipped", lit(redeliverySkipped))
        .orderBy(col("status"))
    }),

    // ── SQL READS OF MERGE-ON-READ SNAPSHOTS ([[GraftCatalog]] masked
    // facade): a table carrying outstanding position deletes reads
    // DIRECTLY through `SELECT … FROM cat.t` — masks applied via the
    // V1Scan bridge (the Delta DV-read shape; previously every SELECT
    // after a merge-on-read DELETE demanded a compact() first). Column
    // pruning and translatable filters push into the masked plan and
    // flow through the anti-join to the parquet scans
    // (`filters_reached_scan`, pinned off the executed plan) ──
    "snapshot_sql_read_mor" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftmor", scratch(dir, "morroot"))
      s.sql("DROP TABLE IF EXISTS graftmor.ord")
      s.sql("CREATE TABLE graftmor.ord (k BIGINT, status STRING, cents BIGINT)")
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 2000)
        .createOrReplaceTempView("graft_mor_src")
      s.sql("INSERT INTO graftmor.ord SELECT * FROM graft_mor_src")
      val log = new SnapshotLog(scratch(dir, "morroot") + "/ord")
      log.deleteWhere(s, col("k") % 7 === 0) // outstanding position deletes
      val q = s.sql(
        """SELECT status, count(*) AS n_rows,
          |       CAST(sum(k) AS BIGINT) AS sum_key,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graftmor.ord WHERE k > 100 GROUP BY status""".stripMargin)
      val plan = q.queryExecution.executedPlan.toString
      val pushed = plan.contains("GreaterThan(k,100)")
      q.withColumn("filters_reached_scan", lit(pushed))
        .orderBy(col("status"))
    }),

    // ── CDF AS A SQL TABLE-VALUED FUNCTION (`table_changes('cat.t',
    // startV [, endV])` — the Delta TVF, spliced at parse time with
    // [[SnapshotLog.changeFeed]]'s own logical plan so projections,
    // filters, and aggregates COMPOSE and optimize normally): two
    // inserts and a merge-on-read delete replay as typed change rows,
    // and a narrower version window returns exactly that window's
    // changes (`window_composes`) ──
    "snapshot_sql_cdf_tvf" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftcft", scratch(dir, "cftroot"))
      s.sql("DROP TABLE IF EXISTS graftcft.ord")
      s.sql("CREATE TABLE graftcft.ord (k BIGINT, status STRING, cents BIGINT)")
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 2000)
        .createOrReplaceTempView("graft_cft_src")
      s.sql("INSERT INTO graftcft.ord SELECT * FROM graft_cft_src WHERE k <= 1000")
      s.sql("INSERT INTO graftcft.ord SELECT * FROM graft_cft_src WHERE k > 1000")
      val log = new SnapshotLog(scratch(dir, "cftroot") + "/ord")
      log.deleteWhere(s, col("k") % 5 === 0) // v3: merge-on-read delete
      val v2Expected = s.sql(
        "SELECT count(*) AS n FROM graft_cft_src WHERE k > 1000").head().getLong(0)
      val windowComposes = s.sql(
        "SELECT count(*) AS n FROM table_changes('graftcft.ord', 2, 2)")
        .head().getLong(0) == v2Expected
      s.sql(
        """SELECT _change_type, count(*) AS n_rows,
          |       CAST(sum(k) AS BIGINT) AS sum_key
          |FROM table_changes('graftcft.ord', 1, 3)
          |GROUP BY _change_type""".stripMargin)
        .withColumn("window_composes", lit(windowComposes))
        .orderBy(col("_change_type"))
    }),

    // ── BLOOM SKIPPING IN THE SQL SCAN (`bloomBy` TBLPROPERTIES →
    // [[SnapshotLog.writeBloomSidecarFor]] on every INSERT +
    // [[org.apache.spark.sql.graftshim.PruningScanBuilder]] consulting
    // the sidecars for equality/IN literals): the table is plainly
    // INSERTed (round-robin partitioning — every file's k-range overlaps
    // every other's, so min/max stats prune NOTHING), yet the SQL point
    // lookup plans a scan over only the files whose Bloom filter might
    // contain the key (`bloom_files_skipped`, pinned off the EXECUTED
    // plan's file index), and a lookup of an absent key returns empty.
    // This is the high-NDV skipping route a 100 TB id-lookup needs ──
    "snapshot_sql_bloom_scan" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftblm", scratch(dir, "blmroot"))
      s.sql("DROP TABLE IF EXISTS graftblm.ord")
      s.sql("""CREATE TABLE graftblm.ord (k BIGINT, status STRING, cents BIGINT)
              |TBLPROPERTIES ('bloomBy' = 'k')""".stripMargin)
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 2400)
        .createOrReplaceTempView("graft_blm_src")
      s.sql("INSERT INTO graftblm.ord SELECT * FROM graft_blm_src WHERE k <= 1200")
      s.sql("INSERT INTO graftblm.ord SELECT * FROM graft_blm_src WHERE k > 1200")
      val kLit = s.sql("SELECT min(k) AS k FROM graft_blm_src").head().getLong(0)
      val q = s.sql(
        s"""SELECT status, count(*) AS n_rows,
           |       CAST(sum(k) AS BIGINT) AS sum_key,
           |       CAST(sum(cents) AS BIGINT) AS sum_cents
           |FROM graftblm.ord WHERE k = $kLit GROUP BY status""".stripMargin)
      val planned = scanFiles(q.queryExecution.executedPlan).getOrElse(-1)
      val log = new SnapshotLog(scratch(dir, "blmroot") + "/ord")
      val total = log.dataFiles(log.currentVersion.get).size
      val skipped = planned >= 1 && planned < total
      val absentEmpty = s.sql(
        "SELECT count(*) AS n FROM graftblm.ord WHERE k = 999999999")
        .head().getLong(0) == 0L
      q.withColumn("bloom_files_skipped", lit(skipped))
        .withColumn("absent_key_empty", lit(absentEmpty))
        .orderBy(col("status"))
    }),

    // ── BLOOM SIDECARS SURVIVE ROW-LEVEL DML ([[GraftSqlDml]] +
    // [[GraftCatalog]] post-commit hooks → [[SnapshotLog
    // .writeBloomSidecarFor]] — closing the r15 gap): MERGE's grazed-file
    // rewrites, DELETE's survivor rewrites, and UPDATE's merge-on-read
    // image files all get fresh `_blooms.parquet` entries in the same
    // statement, so point-lookup skipping keeps firing on exactly the
    // hot DML tables that need it — no OPTIMIZE pass required first.
    // Laws: the point lookup after MERGE+DELETE plans fewer files than
    // the manifest (`bloom_files_skipped`), and EVERY data file —
    // including UPDATE's staged images — carries a filter entry
    // (`dml_files_bloomed`) ──
    "snapshot_sql_bloom_dml" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftbdm", scratch(dir, "bdmroot"))
      s.sql("DROP TABLE IF EXISTS graftbdm.ord")
      s.sql("""CREATE TABLE graftbdm.ord (k BIGINT, status STRING, cents BIGINT)
              |TBLPROPERTIES ('bloomBy' = 'k')""".stripMargin)
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 2400)
        .createOrReplaceTempView("graft_bdm_src")
      s.sql("INSERT INTO graftbdm.ord SELECT * FROM graft_bdm_src WHERE k <= 1200")
      s.sql("INSERT INTO graftbdm.ord SELECT * FROM graft_bdm_src WHERE k > 1200")
      s.sql(
        """MERGE INTO graftbdm.ord t
          |USING (SELECT k, status, cents + 777 AS cents FROM graft_bdm_src
          |       WHERE k <= 600) AS s
          |ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET t.cents = s.cents""".stripMargin)
      s.sql("DELETE FROM graftbdm.ord WHERE k > 2000")
      // the point lookup still skips, with zero OPTIMIZE between
      val kLit = s.sql("SELECT min(k) AS k FROM graft_bdm_src").head().getLong(0)
      val lookup = s.sql(s"SELECT k, cents FROM graftbdm.ord WHERE k = $kLit")
      val log = new SnapshotLog(scratch(dir, "bdmroot") + "/ord")
      val planned = scanFiles(lookup.queryExecution.executedPlan).getOrElse(-1)
      val totalPre = log.dataFiles(log.currentVersion.get).size
      val skipped = planned >= 1 && planned < totalPre
      // a merge-on-read UPDATE stages image files — they get filters too
      s.sql("UPDATE graftbdm.ord SET cents = cents + 5 WHERE k <= 100")
      val cur = log.currentVersion.get
      val probe = log.fileBloomProbe(s, cur, "k", Seq(kLit.toString))
      val allBloomed = probe.exists { m =>
        log.dataFiles(cur)
          .map(p => new java.io.File(scratch(dir, "bdmroot") + "/ord", p)
            .getCanonicalPath).toSet.subsetOf(m.keySet)
      }
      s.sql(
        """SELECT status, count(*) AS n_rows,
          |       CAST(sum(k) AS BIGINT) AS sum_key,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graftbdm.ord GROUP BY status""".stripMargin)
        .withColumn("bloom_files_skipped", lit(skipped))
        .withColumn("dml_files_bloomed", lit(allBloomed))
        .orderBy(col("status"))
    }),

    // ── COPY INTO MINTS IDENTITY IDS ([[GraftSqlParser]] →
    // [[SnapshotLog.copyIngestIdentity]] — closing the r15 refusal, the
    // Delta COPY-INTO-mints shape): the source-file LEDGER entry, the
    // id-block watermark advance, and the data files land in ONE commit,
    // so bulk ingest into a GENERATED ALWAYS AS IDENTITY table is
    // exactly-once for rows AND ids. Laws: re-running the same COPY
    // loads zero files and mints nothing (`recopy_minted_nothing`), a
    // later third file loads alone and CONTINUES the id block
    // (`incremental_continued`), and the rollup's min/max/distinct/sum
    // prove the ids are exactly 1..N across the whole multi-statement
    // load ──
    "snapshot_sql_copy_identity" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftcpi", scratch(dir, "cpiroot"))
      s.sql("DROP TABLE IF EXISTS graftcpi.ord")
      s.sql("""CREATE TABLE graftcpi.ord (id BIGINT, k BIGINT, cents BIGINT)
              |TBLPROPERTIES ('identity.id' = '1,1')""".stripMargin)
      val srcDir = new java.io.File(scratch(dir, "cpi_src"))
      deleteTree(srcDir.toPath); srcDir.mkdirs()
      // the source files carry NO id column — the declared-schema read
      // serves NULL and the load mints
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      def drop(df: DataFrame, name: String): Unit =
        writeOneFile(df, new java.io.File(srcDir, name).toPath)
      drop(orders.where(col("k") <= 900), "a.parquet")
      drop(orders.where(col("k").between(901, 1800)), "b.parquet")
      val stmt = s"COPY INTO graftcpi.ord FROM '$srcDir' FILEFORMAT = PARQUET"
      val r1 = s.sql(stmt).head()
      val r2 = s.sql(stmt).head()
      val recopyMintedNothing = r1.getInt(0) == 2 && r2.getInt(0) == 0 &&
        r2.getLong(3) == r1.getLong(3)
      drop(orders.where(col("k").between(1801, 2400)), "c.parquet")
      val r3 = s.sql(stmt).head()
      val incremental = r3.getInt(0) == 1 && r3.getInt(2) == 2
      s.sql(
        """SELECT count(*) AS n_rows,
          |       count(DISTINCT id) AS n_ids,
          |       CAST(min(id) AS BIGINT) AS min_id,
          |       CAST(max(id) AS BIGINT) AS max_id,
          |       CAST(sum(id) AS BIGINT) AS sum_id,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graftcpi.ord""".stripMargin)
        .withColumn("recopy_minted_nothing", lit(recopyMintedNothing))
        .withColumn("incremental_continued", lit(incremental))
    }),

    // ── COPY INTO ON A COLUMN-MAPPED TABLE ([[SnapshotLog
    // .copyIngestMapped]] — closing the r15 refusal): after ALTER RENAME
    // COLUMN, bulk ingest keeps working — source files speak the NEW
    // logical names, the load translates through the mapping, and the
    // staged parquet lands in the SAME physical column pre-rename
    // inserts used (`mapped_physical_landed` inspects the staged file's
    // own footer). The ledger idempotency law carries over verbatim ──
    "snapshot_sql_copy_into_mapped" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftcpm", scratch(dir, "cpmroot"))
      s.sql("DROP TABLE IF EXISTS graftcpm.ord")
      s.sql("CREATE TABLE graftcpm.ord (k BIGINT, status STRING, cents BIGINT)")
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("pennies"))
        .where(col("k") <= 2400)
        .createOrReplaceTempView("graft_cpm_src")
      s.sql("INSERT INTO graftcpm.ord SELECT k, status, pennies FROM graft_cpm_src " +
        "WHERE k <= 800")
      s.sql("ALTER TABLE graftcpm.ord RENAME COLUMN cents TO pennies")
      val srcDir = new java.io.File(scratch(dir, "cpm_src"))
      deleteTree(srcDir.toPath); srcDir.mkdirs()
      def drop(df: DataFrame, name: String): Unit =
        writeOneFile(df, new java.io.File(srcDir, name).toPath)
      val srcRows = s.table("graft_cpm_src")
      drop(srcRows.where(col("k").between(801, 1600)), "a.parquet")
      drop(srcRows.where(col("k").between(1601, 2400)), "b.parquet")
      val stmt = s"COPY INTO graftcpm.ord FROM '$srcDir' FILEFORMAT = PARQUET"
      val r1 = s.sql(stmt).head()
      val r2 = s.sql(stmt).head()
      val skippedAll = r1.getInt(0) == 2 && r2.getInt(0) == 0 &&
        r2.getLong(3) == r1.getLong(3)
      // the COPY'd rows live in the PHYSICAL column `cents` — the staged
      // parquet's own footer says so (the appendMapped discipline)
      val log = new SnapshotLog(scratch(dir, "cpmroot") + "/ord")
      val staged = log.appendedFiles(r1.getLong(3))
      val physLanded = staged.nonEmpty &&
        s.read.parquet(staged.head).schema.fieldNames.contains("cents")
      s.sql(
        """SELECT status, count(*) AS n_rows,
          |       CAST(sum(k) AS BIGINT) AS sum_key,
          |       CAST(sum(pennies) AS BIGINT) AS sum_pennies
          |FROM graftcpm.ord GROUP BY status""".stripMargin)
        .withColumn("recopy_skipped_all", lit(skippedAll))
        .withColumn("mapped_physical_landed", lit(physLanded))
        .orderBy(col("status"))
    }),

    // ── REPLACE WHERE ON A COLUMN-MAPPED TABLE (closing the r15
    // refusal): the statement speaks the post-rename LOGICAL names, the
    // engine translates the replacement frame AND the predicate to
    // physical ids, and only grazed files rewrite — the day-backfill
    // workflow survives a rename untouched. The replacement lands in
    // the pre-rename PHYSICAL column (`mapped_physical_landed`), and
    // the re-run stays idempotent ──
    "snapshot_sql_replace_where_mapped" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftrwp", scratch(dir, "rwproot"))
      s.sql("DROP TABLE IF EXISTS graftrwp.ord")
      s.sql("CREATE TABLE graftrwp.ord (k BIGINT, status STRING, cents BIGINT)")
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("pennies"))
        .where(col("k") <= 2000)
        .createOrReplaceTempView("graft_rwp_src")
      s.sql("INSERT INTO graftrwp.ord SELECT * FROM graft_rwp_src")
      s.sql("ALTER TABLE graftrwp.ord RENAME COLUMN cents TO pennies")
      val backfill = "INSERT INTO graftrwp.ord REPLACE WHERE k BETWEEN 500 AND 1000 " +
        "SELECT k, status, pennies + 7 AS pennies FROM graft_rwp_src " +
        "WHERE k BETWEEN 500 AND 1000"
      val r = s.sql(backfill).head()
      val receiptOk = r.getString(0) == "REPLACE WHERE" &&
        r.getLong(3) > 0L && r.getLong(3) == r.getLong(4)
      val before = s.sql(
        "SELECT count(*), CAST(sum(pennies) AS BIGINT) FROM graftrwp.ord").head()
      s.sql(backfill)
      val after = s.sql(
        "SELECT count(*), CAST(sum(pennies) AS BIGINT) FROM graftrwp.ord").head()
      val rerunIdempotent = before == after
      val log = new SnapshotLog(scratch(dir, "rwproot") + "/ord")
      val curFiles = log.dataFiles(log.currentVersion.get)
      val physLanded = curFiles.nonEmpty && curFiles.forall(p =>
        s.read.parquet(new java.io.File(scratch(dir, "rwproot") + "/ord", p)
          .toString).schema.fieldNames.contains("cents"))
      s.sql(
        """SELECT status, count(*) AS n_rows,
          |       CAST(sum(k) AS BIGINT) AS sum_key,
          |       CAST(sum(pennies) AS BIGINT) AS sum_pennies
          |FROM graftrwp.ord GROUP BY status""".stripMargin)
        .withColumn("receipt_ok", lit(receiptOk))
        .withColumn("rerun_idempotent", lit(rerunIdempotent))
        .withColumn("mapped_physical_landed", lit(physLanded))
        .orderBy(col("status"))
    }),

    // ── REPLACE WHERE COMPOSES WITH KEY TOMBSTONES (closing the r15
    // blanket refusal): on a merge-on-read table carrying key
    // tombstones, the scoped backfill lands in ONE commit — the
    // tombstones' carried-file maskings materialize as file-scoped
    // position deletes, the key-addressed lines drop, and a tombstoned
    // key RE-INSERTED by the replacement serves the new row while every
    // pre-delete row stays dead (`tombstones_materialized`) — no
    // table-sized compact() required first, and the re-run stays
    // idempotent ──
    "snapshot_sql_replace_where_mor" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftrwt", scratch(dir, "rwtroot"))
      s.sql("DROP TABLE IF EXISTS graftrwt.ord")
      s.sql("CREATE TABLE graftrwt.ord (k BIGINT, status STRING, cents BIGINT)")
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 2000)
        .createOrReplaceTempView("graft_rwt_src")
      s.sql("INSERT INTO graftrwt.ord SELECT * FROM graft_rwt_src")
      val log = new SnapshotLog(scratch(dir, "rwtroot") + "/ord")
      // a MOR delete: keys 100..199 tombstoned, nothing rewritten
      import s.implicits._
      log.deleteRows((100L to 199L).toDF("k"), partitions = 1)
      val backfill = "INSERT INTO graftrwt.ord REPLACE WHERE k BETWEEN 150 AND 300 " +
        "SELECT k, status, cents + 7 AS cents FROM graft_rwt_src " +
        "WHERE k BETWEEN 150 AND 300"
      s.sql(backfill)
      val cur = log.currentVersion.get
      // the key-addressed tombstone lines are GONE from the manifest
      // (their surviving maskings — if any files were carried — live on
      // as file-scoped position deletes; [[SnapshotDmlSpec]] pins that
      // materialization deterministically); the oracle hash pins the
      // semantic point: 100..149 stay dead, 150..199 serve the NEW rows
      val materialized = log.tombstoneFiles(cur).isEmpty
      val before = s.sql(
        "SELECT count(*), CAST(sum(cents) AS BIGINT) FROM graftrwt.ord").head()
      s.sql(backfill)
      val rerunIdempotent = s.sql(
        "SELECT count(*), CAST(sum(cents) AS BIGINT) FROM graftrwt.ord").head() == before
      s.sql(
        """SELECT status, count(*) AS n_rows,
          |       CAST(sum(k) AS BIGINT) AS sum_key,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graftrwt.ord GROUP BY status""".stripMargin)
        .withColumn("tombstones_materialized", lit(materialized))
        .withColumn("rerun_idempotent", lit(rerunIdempotent))
        .orderBy(col("status"))
    }),

    // ── DEEP CLONE (`CREATE TABLE … CLONE …` → [[SnapshotLog
    // .cloneDeep]] — the archival/fork shape, closing the r15 gap): a
    // MATERIALIZED copy at the pinned version with ZERO lifetime
    // coupling — no pool sharing, no registration — so the source can be
    // overwritten, expired, VACUUMed, and DROPPED and the clone still
    // reads its bytes (`survives_source_vacuum_and_drop`); contrast the
    // SHALLOW clone, whose guards must refuse exactly that sweep ──
    "snapshot_sql_clone_deep" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftcld", scratch(dir, "cldroot"))
      s.sql("DROP TABLE IF EXISTS graftcld.dev")
      s.sql("DROP TABLE IF EXISTS graftcld.base")
      s.sql("CREATE TABLE graftcld.base (k BIGINT, status STRING, cents BIGINT)")
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 2000)
        .createOrReplaceTempView("graft_cld_src")
      s.sql("INSERT INTO graftcld.base SELECT * FROM graft_cld_src WHERE k <= 1000")
      s.sql("INSERT INTO graftcld.base SELECT * FROM graft_cld_src WHERE k > 1000")
      val r = s.sql("CREATE TABLE graftcld.dev CLONE graftcld.base").head()
      val receiptOk = r.getString(0) == "CLONE" && r.getLong(4) > 0L &&
        r.getLong(5) > 0L
      // the source moves on: overwrite, expire the cloned vintage, sweep
      // its files, and finally DROP the table — the deep clone keeps
      // reading its own bytes through all of it
      val prevMode = s.conf.get("spark.sql.sources.partitionOverwriteMode")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
      try {
        s.sql("INSERT OVERWRITE TABLE graftcld.base " +
          "SELECT k, status, cents FROM graft_cld_src WHERE k <= 5")
      } finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
      val srcLog = new SnapshotLog(scratch(dir, "cldroot") + "/base")
      srcLog.expire(keepFrom = srcLog.currentVersion.get)
      srcLog.vacuum()
      s.sql("DROP TABLE graftcld.base")
      val survives = s.sql("SELECT count(*) AS n FROM graftcld.dev")
        .head().getLong(0) ==
        s.sql("SELECT count(*) AS n FROM graft_cld_src").head().getLong(0)
      s.sql(
        """SELECT status, count(*) AS n_rows,
          |       CAST(sum(k) AS BIGINT) AS sum_key,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graftcld.dev GROUP BY status""".stripMargin)
        .withColumn("receipt_ok", lit(receiptOk))
        .withColumn("survives_source_vacuum_and_drop", lit(survives))
        .orderBy(col("status"))
    }),

    // ── GENERATED COLUMNS (`generate.<col>` TBLPROPERTIES →
    // [[GraftCatalog]] write-path fold + [[GraftSqlDml]] DML guard): a
    // GENERATED ALWAYS AS column is COMPUTED where the insert provides
    // NULL, KEPT where it provides the matching value, and a mismatch
    // fails the write job with nothing committed — on INSERT and on
    // row-level DML alike (an UPDATE that breaks the derivation refuses
    // instead of silently de-deriving). Because the column is
    // materialized, the footer stats sidecars skip on it for free ──
    "snapshot_sql_generated" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftgen", scratch(dir, "genroot"))
      s.sql("DROP TABLE IF EXISTS graftgen.ord")
      s.sql("""CREATE TABLE graftgen.ord (k BIGINT, cents BIGINT, bucket BIGINT)
              |TBLPROPERTIES ('generate.bucket' = 'k % 8')""".stripMargin)
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 2000)
        .createOrReplaceTempView("graft_gen_src")
      def refused(sql: String, needle: String): Boolean =
        try { s.sql(sql); false }
        catch { case e: Exception =>
          Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
            .exists(t => Option(t.getMessage).exists(_.contains(needle))) }
      // computed where NULL …
      s.sql("INSERT INTO graftgen.ord SELECT k, cents, CAST(NULL AS BIGINT) " +
        "FROM graft_gen_src WHERE k <= 1000")
      // … kept where provided-and-matching …
      s.sql("INSERT INTO graftgen.ord SELECT k, cents, k % 8 " +
        "FROM graft_gen_src WHERE k > 1000")
      // … and a mismatched value fails the write with nothing committed
      val mismatchRefused = refused(
        "INSERT INTO graftgen.ord VALUES (999999, 1, 5)",
        "generated column bucket")
      // the derivation guards DML too: shifting k without restating
      // bucket refuses; touching an underived column passes
      val dmlGuarded = refused(
        "UPDATE graftgen.ord SET k = k + 1 WHERE k <= 1000",
        "generated(bucket)")
      s.sql("UPDATE graftgen.ord SET cents = cents + 1 WHERE k <= 100")
      // the UPDATE leaves merge-on-read masks; the SQL read serves them
      // through the masked facade (snapshot_sql_read_mor's capability)
      s.sql(
        """SELECT bucket, count(*) AS n_rows,
          |       CAST(sum(k) AS BIGINT) AS sum_key,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graftgen.ord GROUP BY bucket""".stripMargin)
        .withColumn("mismatch_refused", lit(mismatchRefused))
        .withColumn("dml_guarded", lit(dmlGuarded))
        .orderBy(col("bucket"))
    }),

    // ── IDENTITY COLUMNS (`identity.<col>` TBLPROPERTIES →
    // [[SnapshotLog.appendIdentityStats]]): GENERATED ALWAYS AS IDENTITY
    // — each INSERT mints one contiguous id block above a high watermark
    // persisted IN THE SAME COMMIT as the data (OCC losers re-derive
    // from the winner's watermark, so racing inserts can never collide);
    // assignment is distributed (per-partition offsets + rank, one
    // batch-sized shuffle, no global sort). Laws: ids are exactly
    // 1..N across two inserts (min/max/distinct/sum all pinned) and an
    // explicit id refuses loudly ──
    "snapshot_sql_identity" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftidn", scratch(dir, "idnroot"))
      s.sql("DROP TABLE IF EXISTS graftidn.ord")
      s.sql("""CREATE TABLE graftidn.ord (id BIGINT, k BIGINT, cents BIGINT)
              |TBLPROPERTIES ('identity.id' = '1,1')""".stripMargin)
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 2000)
        .createOrReplaceTempView("graft_idn_src")
      s.sql("INSERT INTO graftidn.ord SELECT CAST(NULL AS BIGINT), k, cents " +
        "FROM graft_idn_src WHERE k <= 1000")
      s.sql("INSERT INTO graftidn.ord SELECT CAST(NULL AS BIGINT), k, cents " +
        "FROM graft_idn_src WHERE k > 1000")
      val explicitRefused =
        try { s.sql("INSERT INTO graftidn.ord VALUES (999, 999999, 1)"); false }
        catch { case e: Exception =>
          Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
            .exists(t => Option(t.getMessage)
              .exists(_.contains("GENERATED ALWAYS AS IDENTITY"))) }
      s.sql(
        """SELECT count(*) AS n_rows,
          |       count(DISTINCT id) AS n_ids,
          |       CAST(min(id) AS BIGINT) AS min_id,
          |       CAST(max(id) AS BIGINT) AS max_id,
          |       CAST(sum(id) AS BIGINT) AS sum_id,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graftidn.ord""".stripMargin)
        .withColumn("explicit_refused", lit(explicitRefused))
    }),

    // ── spark.sql UPDATE / MERGE JUST WORK ([[graft.sources
    // .GraftSqlParser.interceptDml]]): the injected parser spots a
    // row-level DML plan whose target is a registered graft catalog and
    // wraps it as a command running [[GraftSqlDml]]'s one-evaluation
    // interpretation — no library call, no SupportsRowLevelOperations
    // analysis failure. Both statements return RECEIPT rows (op,
    // version, row counts) whose laws ride the output; the final table
    // state replays relationally in the oracle ──
    "snapshot_sql_dml_native" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_sqnat"))
      log.recreate()
      val base = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderstatus"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val v0 = log.append(base.where(col("o_orderkey") <= 2000), partitions = 3)
      GraftCatalog.mount(s, "graftnat", scratch(dir, ""))
      val upd = s.sql(
        "UPDATE graftnat.snap_sqnat SET cents = cents + 100 " +
          "WHERE o_orderkey % 10 = 0").head()
      val updOk = upd.getString(0) == "UPDATE" && upd.getLong(2) == v0 + 1L &&
        upd.getLong(3) > 0L
      base.where(col("o_orderkey").between(1001, 3000))
        .withColumn("cents", col("cents") + 7)
        .createOrReplaceTempView("graft_nat_src")
      val mrg = s.sql(
        """MERGE INTO graftnat.snap_sqnat AS t USING graft_nat_src AS s
          |ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED THEN UPDATE SET t.cents = s.cents + 1000
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin).head()
      val mrgOk = mrg.getString(0) == "MERGE" && mrg.getLong(2) == v0 + 2L &&
        mrg.getLong(3) > 0L && mrg.getLong(5) > 0L
      log.readLatest(s)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_orderkey")).cast("long").as("sum_key"),
          sum(col("cents")).cast("long").as("sum_cents"))
        .withColumn("update_receipt_ok", lit(updOk))
        .withColumn("merge_receipt_ok", lit(mrgOk))
        .orderBy(col("o_orderstatus"))
    }),

    // ── SQL DDL lifecycle ([[graft.sources.GraftCatalog]] CREATE /
    // CTAS / DROP): `CREATE TABLE` commits a METADATA-ONLY v0 declaring
    // the schema (`create_is_metadata_commit`; the empty table reads
    // through SQL immediately, `empty_create_readable`), `INSERT INTO`
    // fills it transactionally, and `CREATE TABLE … AS SELECT` derives a
    // second log-backed table whose content this query returns — the
    // whole create→insert→ctas chain is tracked commits, never a raw
    // file write ──
    "snapshot_sql_ddl" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftddl", scratch(dir, "ddlroot"))
      s.sql("DROP TABLE IF EXISTS graftddl.ord")
      s.sql("DROP TABLE IF EXISTS graftddl.ord_sum")
      s.sql("CREATE TABLE graftddl.ord (o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT)")
      val emptyReadable =
        s.sql("SELECT count(*) AS n FROM graftddl.ord").head().getLong(0) == 0L
      val log = new SnapshotLog(scratch(dir, "ddlroot") + "/ord")
      val metadataOnly = log.dataFiles(0L).isEmpty && log.declaredSchema(0L).isDefined
      Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderstatus"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .createOrReplaceTempView("graft_ddl_src")
      s.sql("INSERT INTO graftddl.ord SELECT * FROM graft_ddl_src WHERE o_orderkey <= 2000")
      s.sql(
        """CREATE TABLE graftddl.ord_sum AS
          |SELECT o_orderstatus, count(*) AS n_orders,
          |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graftddl.ord GROUP BY o_orderstatus""".stripMargin)
      s.sql("SELECT * FROM graftddl.ord_sum")
        .withColumn("empty_create_readable", lit(emptyReadable))
        .withColumn("create_is_metadata_commit", lit(metadataOnly))
        .orderBy(col("o_orderstatus"))
    }),

    // ── SQL schema evolution ([[graft.sources.GraftCatalog.alterTable]]
    // → [[SnapshotLog.addColumns]]): `ALTER TABLE … ADD COLUMNS` is ONE
    // metadata-only commit — version +1 with the data-file listing
    // byte-identical (`alter_metadata_only`, measured) — after which rows
    // written BEFORE the alter serve NULL in the added column (counted
    // per group as `n_legacy`) while post-alter inserts carry real
    // values; the pinned declared schema makes old and new files scan as
    // one relation with no mergeSchema footer walk ──
    "snapshot_sql_alter" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftalter", scratch(dir, "alterroot"))
      s.sql("DROP TABLE IF EXISTS graftalter.ord")
      s.sql("CREATE TABLE graftalter.ord (o_orderkey BIGINT, o_orderstatus STRING)")
      Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderstatus"))
        .createOrReplaceTempView("graft_alter_src")
      s.sql("INSERT INTO graftalter.ord SELECT * FROM graft_alter_src WHERE o_orderkey <= 2000")
      val log = new SnapshotLog(scratch(dir, "alterroot") + "/ord")
      val vBefore = log.currentVersion.get
      val filesBefore = log.dataFiles(vBefore)
      s.sql("ALTER TABLE graftalter.ord ADD COLUMNS (cents BIGINT)")
      val metadataOnly = log.currentVersion.get == vBefore + 1L &&
        log.dataFiles(vBefore + 1L) == filesBefore
      Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderstatus"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .createOrReplaceTempView("graft_alter_src2")
      s.sql("INSERT INTO graftalter.ord SELECT * FROM graft_alter_src2 " +
        "WHERE o_orderkey > 2000 AND o_orderkey <= 4000")
      s.sql(
        """SELECT o_orderstatus, count(*) AS n_orders,
          |       CAST(sum(CASE WHEN cents IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_legacy,
          |       CAST(coalesce(sum(cents), 0) AS BIGINT) AS sum_cents
          |FROM graftalter.ord GROUP BY o_orderstatus""".stripMargin)
        .withColumn("alter_metadata_only", lit(metadataOnly))
        .orderBy(col("o_orderstatus"))
    }),

    // ── SQL OVERWRITE + TRUNCATE lifecycle ([[GraftCatalog]]'s
    // truncating V1 write builder + `SupportsDelete`'s always-true
    // route): INSERT fills the table, INSERT OVERWRITE replaces it in
    // ONE tracked commit with the pre-overwrite version still readable
    // (`overwrite_time_travels`, measured via VERSION AS OF), TRUNCATE
    // empties it copy-on-write with the schema carried so the empty
    // relation still scans (`truncate_empty_readable`), and a final
    // INSERT refills — the returned rollup is the refill the oracle
    // replays ──
    "snapshot_sql_overwrite" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftow", scratch(dir, "owroot"))
      val prevMode = s.conf.get("spark.sql.sources.partitionOverwriteMode")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
      try {
        s.sql("DROP TABLE IF EXISTS graftow.ord")
        s.sql("CREATE TABLE graftow.ord (o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT)")
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderstatus"),
            floor(col("o_totalprice") * 100).cast("long").as("cents"))
          .createOrReplaceTempView("graft_ow_src")
        s.sql("INSERT INTO graftow.ord SELECT * FROM graft_ow_src WHERE o_orderkey <= 1000")
        val log = new SnapshotLog(scratch(dir, "owroot") + "/ord")
        val vPre = log.currentVersion.get
        s.sql("INSERT OVERWRITE graftow.ord SELECT * FROM graft_ow_src " +
          "WHERE o_orderkey BETWEEN 1001 AND 2000")
        val travels =
          log.currentVersion.get == vPre + 1L &&
            s.sql(s"SELECT count(*) AS n FROM graftow.ord VERSION AS OF $vPre")
              .head().getLong(0) ==
            s.sql("SELECT count(*) AS n FROM graft_ow_src WHERE o_orderkey <= 1000")
              .head().getLong(0)
        s.sql("TRUNCATE TABLE graftow.ord")
        val emptyReadable =
          s.sql("SELECT count(*) AS n FROM graftow.ord").head().getLong(0) == 0L
        s.sql("INSERT INTO graftow.ord SELECT * FROM graft_ow_src " +
          "WHERE o_orderkey BETWEEN 2001 AND 3000")
        s.sql(
          """SELECT o_orderstatus, count(*) AS n_orders,
            |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
            |       CAST(sum(cents) AS BIGINT) AS sum_cents
            |FROM graftow.ord GROUP BY o_orderstatus""".stripMargin)
          .withColumn("overwrite_time_travels", lit(travels))
          .withColumn("truncate_empty_readable", lit(emptyReadable))
          .orderBy(col("o_orderstatus"))
      } finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
    }),

    // ── SQL MAINTENANCE VERBS ([[graft.sources.GraftSqlParser]] injected
    // via `SparkSessionExtensions.injectParser`, the Delta approach for
    // non-ANSI statements): `OPTIMIZE` bin-packs the small-file tail
    // (`optimize_packed`: fewer files out than in), `OPTIMIZE … ZORDER
    // BY` range-clusters, `DESCRIBE HISTORY` returns the full commit
    // chain (`history_complete`), and `VACUUM … RETAIN 1 VERSIONS`
    // expires history and sweeps real orphans (`vacuum_swept`) — after
    // all of which the table's CONTENT must be untouched (the oracle
    // hash over the relational replay) ──
    "snapshot_sql_maintenance" -> ((s, dir) => {
      val root = scratch(dir, "mntroot")
      val log = new SnapshotLog(root + "/ord")
      log.recreate()
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 4000)
      (0 until 3).foreach { i =>
        log.append(orders.where(col("k") % 3 === i), partitions = 2); ()
      }
      GraftCatalog.mount(s, "graftmnt", root)
      val opt = s.sql("OPTIMIZE graftmnt.ord").head()
      val packed = opt.getString(1) == "bin_pack" &&
        opt.getInt(2) >= 2 && opt.getInt(3) < opt.getInt(2)
      val zo = s.sql("OPTIMIZE graftmnt.ord ZORDER BY (k)").head()
      val zordered = zo.getString(1) == "zorder" && zo.getLong(0) == opt.getLong(0) + 1L
      val hist = s.sql("DESCRIBE HISTORY graftmnt.ord").collect()
      val historyComplete = hist.length == log.versions.size &&
        hist.count(_.getString(1) == "rewrite") == 2
      val dry = s.sql("VACUUM graftmnt.ord RETAIN 1 VERSIONS DRY RUN").head()
      val untouchedAfterDry = log.versions.size == hist.length
      val vac = s.sql("VACUUM graftmnt.ord RETAIN 1 VERSIONS").head()
      val swept = vac.getInt(0) >= 1 && vac.getInt(1) >= 1
      val previewExact = untouchedAfterDry &&
        dry.getInt(0) == vac.getInt(0) && dry.getInt(1) == vac.getInt(1)
      s.sql(
        """SELECT status, count(*) AS n_orders,
          |       CAST(sum(k) AS BIGINT) AS sum_key,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graftmnt.ord GROUP BY status""".stripMargin)
        .withColumn("optimize_packed", lit(packed))
        .withColumn("zorder_rewrote", lit(zordered))
        .withColumn("history_complete", lit(historyComplete))
        .withColumn("vacuum_swept", lit(swept))
        .withColumn("dry_run_preview_exact", lit(previewExact))
        .orderBy(col("status"))
    }),

    // ── SQL RENAME COLUMN ([[GraftCatalog.alterTable]] →
    // [[SnapshotLog.renameColumn]] under column mapping, auto-upgraded on
    // first use): the rename is METADATA-ONLY (two commits — the mapping
    // upgrade + the rename — with the data-file listing byte-identical,
    // `rename_metadata_only`), the renamed table stays fully SQL-readable
    // through the name-translating scan (old files serve under the NEW
    // name), post-rename INSERTs land in the SAME physical column, and
    // time travel to the pre-rename vintage serves the OLD name
    // (`old_name_time_travels`) ──
    "snapshot_sql_rename" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftren", scratch(dir, "renroot"))
      s.sql("DROP TABLE IF EXISTS graftren.ord")
      s.sql("CREATE TABLE graftren.ord (k BIGINT, status STRING, cents BIGINT)")
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 4000)
        .createOrReplaceTempView("graft_ren_src")
      s.sql("INSERT INTO graftren.ord SELECT * FROM graft_ren_src WHERE k <= 2000")
      val log = new SnapshotLog(scratch(dir, "renroot") + "/ord")
      val vPre = log.currentVersion.get
      val filesPre = log.dataFiles(vPre)
      s.sql("ALTER TABLE graftren.ord RENAME COLUMN status TO prio")
      val metadataOnly = log.currentVersion.get == vPre + 2L &&
        log.dataFiles(log.currentVersion.get) == filesPre
      s.sql("INSERT INTO graftren.ord SELECT k, status AS prio, cents " +
        "FROM graft_ren_src WHERE k > 2000")
      val oldNameTravels = s.sql(
        s"SELECT count(*) AS n FROM graftren.ord VERSION AS OF $vPre " +
          "WHERE status = 'O'").head().getLong(0) ==
        s.sql("SELECT count(*) AS n FROM graft_ren_src " +
          "WHERE k <= 2000 AND status = 'O'").head().getLong(0)
      s.sql(
        """SELECT prio, count(*) AS n_orders,
          |       CAST(sum(k) AS BIGINT) AS sum_key,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graftren.ord GROUP BY prio""".stripMargin)
        .withColumn("rename_metadata_only", lit(metadataOnly))
        .withColumn("old_name_time_travels", lit(oldNameTravels))
        .orderBy(col("prio"))
    }),

    // ── SQL TYPE WIDENING ([[GraftCatalog.alterTable]] →
    // [[SnapshotLog.widenColumn]]): `ALTER COLUMN k TYPE BIGINT` from INT
    // is one metadata-only commit (`widen_metadata_only`) — old INT32
    // files up-cast in place through parquet's lossless type promotion,
    // post-widen INSERTs carry genuine 64-bit values (offset past 2^31),
    // and LOSSY retypes refuse loudly: the narrowing dies in Spark's own
    // analyzer, bigint→double (an "up-cast" to Spark, precision loss past
    // 2^53) dies in the engine's lossless allow-list (`lossy_refused`) ──
    "snapshot_sql_widen" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftwid", scratch(dir, "widroot"))
      s.sql("DROP TABLE IF EXISTS graftwid.ord")
      s.sql("CREATE TABLE graftwid.ord (k INT, status STRING, cents BIGINT)")
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 4000)
        .createOrReplaceTempView("graft_wid_src")
      s.sql("INSERT INTO graftwid.ord SELECT CAST(k AS INT), status, cents " +
        "FROM graft_wid_src WHERE k <= 2000")
      val log = new SnapshotLog(scratch(dir, "widroot") + "/ord")
      val filesPre = log.dataFiles(log.currentVersion.get)
      s.sql("ALTER TABLE graftwid.ord ALTER COLUMN k TYPE BIGINT")
      val metadataOnly = log.dataFiles(log.currentVersion.get) == filesPre
      s.sql("INSERT INTO graftwid.ord SELECT k + 3000000000, status, cents " +
        "FROM graft_wid_src WHERE k > 2000")
      val narrowRefused =
        try { s.sql("ALTER TABLE graftwid.ord ALTER COLUMN cents TYPE INT"); false }
        catch { case e: Exception =>
          e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN") }
      val lossyRefused =
        try { s.sql("ALTER TABLE graftwid.ord ALTER COLUMN cents TYPE DOUBLE"); false }
        catch { case e: Exception => e.getMessage.contains("lossless") }
      s.sql(
        """SELECT status, count(*) AS n_orders,
          |       CAST(sum(k) AS BIGINT) AS sum_key,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graftwid.ord GROUP BY status""".stripMargin)
        .withColumn("widen_metadata_only", lit(metadataOnly))
        .withColumn("narrow_refused", lit(narrowRefused))
        .withColumn("lossy_refused", lit(lossyRefused))
        .orderBy(col("status"))
    }),

    // ── ATOMIC CTAS ([[GraftCatalog]] as a `StagingTableCatalog`):
    // `CREATE TABLE … AS SELECT` stages the SELECT's files INVISIBLY and
    // publishes schema + data as ONE put-if-absent v0 commit
    // (`ctas_single_commit`) — and a CTAS whose SELECT dies mid-write
    // publishes NOTHING: no log, no directory, `SHOW TABLES` clean
    // (`failed_ctas_left_no_table`), where Spark's non-atomic fallback
    // leaves an empty committed husk ──
    "snapshot_sql_ctas_atomic" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftctas", scratch(dir, "ctasroot"))
      s.sql("DROP TABLE IF EXISTS graftctas.ord_sum")
      s.sql("DROP TABLE IF EXISTS graftctas.boom")
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 3000)
        .createOrReplaceTempView("graft_ctas_src")
      s.sql(
        """CREATE TABLE graftctas.ord_sum AS
          |SELECT status, count(*) AS n_orders,
          |       CAST(sum(k) AS BIGINT) AS sum_key,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graft_ctas_src GROUP BY status""".stripMargin)
      val log = new SnapshotLog(scratch(dir, "ctasroot") + "/ord_sum")
      val singleCommit = log.currentVersion.contains(0L) &&
        log.declaredSchema(0L).isDefined && log.dataFiles(0L).nonEmpty
      // a mid-write failure (assert_true trips on a real row) aborts the
      // staged files — tableExists stays false throughout
      val crashed =
        try {
          s.sql("CREATE TABLE graftctas.boom AS " +
            "SELECT k, CAST(assert_true(k <> 7) AS STRING) AS chk " +
            "FROM graft_ctas_src")
          false
        } catch { case _: Exception => true }
      val noHusk = crashed &&
        !new java.io.File(scratch(dir, "ctasroot") + "/boom/_log").exists() &&
        s.sql("SHOW TABLES IN graftctas").collect()
          .forall(_.getString(1) != "boom")
      s.sql("SELECT * FROM graftctas.ord_sum")
        .withColumn("ctas_single_commit", lit(singleCommit))
        .withColumn("failed_ctas_left_no_table", lit(noHusk))
        .orderBy(col("status"))
    }),

    // ── SQL COLUMN DEFAULTS ([[GraftCatalog]] declaring
    // `SUPPORT_COLUMN_DEFAULT_VALUE`; defaults ride the declared
    // schema's field metadata, which the schema-json meta line persists
    // verbatim — Spark's own analyzer fills omitted INSERT columns):
    // CREATE-time defaults fill the first insert wave, `ALTER COLUMN …
    // SET DEFAULT` switches future inserts in ONE metadata-only commit
    // (`set_default_metadata_only`) without touching existing rows, and
    // explicit values always win ──
    "snapshot_sql_defaults" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftdef", scratch(dir, "defroot"))
      s.sql("DROP TABLE IF EXISTS graftdef.ord")
      s.sql("CREATE TABLE graftdef.ord (k BIGINT, " +
        "status STRING DEFAULT 'NONE', cents BIGINT DEFAULT 0)")
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 3000)
        .createOrReplaceTempView("graft_def_src")
      s.sql("INSERT INTO graftdef.ord (k) SELECT k FROM graft_def_src WHERE k <= 1500")
      val log = new SnapshotLog(scratch(dir, "defroot") + "/ord")
      val filesPre = log.dataFiles(log.currentVersion.get)
      s.sql("ALTER TABLE graftdef.ord ALTER COLUMN status SET DEFAULT 'LATE'")
      val metadataOnly = log.dataFiles(log.currentVersion.get) == filesPre
      s.sql("INSERT INTO graftdef.ord (k) SELECT k FROM graft_def_src " +
        "WHERE k > 1500 AND k <= 2000")
      s.sql("INSERT INTO graftdef.ord SELECT k, status, cents FROM graft_def_src " +
        "WHERE k > 2000")
      s.sql(
        """SELECT status, count(*) AS n_orders,
          |       CAST(sum(k) AS BIGINT) AS sum_key,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graftdef.ord GROUP BY status""".stripMargin)
        .withColumn("set_default_metadata_only", lit(metadataOnly))
        .orderBy(col("status"))
    }),

    // ── ATOMIC RTAS + DESCRIBE DETAIL ([[GraftCatalog]] staging a
    // `REPLACE TABLE … AS SELECT` as ONE publish commit over the old
    // listing, prior versions still time-travellable; `DESCRIBE DETAIL`
    // summarizing the result from the log's own metadata): the CTAS
    // builds a k<=1500 rollup, the RTAS swaps in the k<=3000 rollup as
    // exactly one commit (`rtas_single_commit`), the pre-replace content
    // stays readable via VERSION AS OF (`old_version_time_travels`), and
    // the DETAIL row's version/file-count/size fields agree with the log
    // (`detail_consistent`) ──
    "snapshot_sql_rtas_detail" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftrtas", scratch(dir, "rtasroot"))
      s.sql("DROP TABLE IF EXISTS graftrtas.ord_sum")
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 3000)
        .createOrReplaceTempView("graft_rtas_src")
      s.sql(
        """CREATE TABLE graftrtas.ord_sum AS
          |SELECT status, count(*) AS n_orders FROM graft_rtas_src
          |WHERE k <= 1500 GROUP BY status""".stripMargin)
      val log = new SnapshotLog(scratch(dir, "rtasroot") + "/ord_sum")
      val v0 = log.currentVersion.get
      val preCount = s.sql("SELECT count(*) AS n FROM graftrtas.ord_sum")
        .head().getLong(0)
      s.sql(
        """REPLACE TABLE graftrtas.ord_sum AS
          |SELECT status, count(*) AS n_orders,
          |       CAST(sum(k) AS BIGINT) AS sum_key,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graft_rtas_src GROUP BY status""".stripMargin)
      val singleCommit = log.currentVersion.contains(v0 + 1L)
      val travels = s.sql(
        s"SELECT count(*) AS n FROM graftrtas.ord_sum VERSION AS OF $v0")
        .head().getLong(0) == preCount
      val det = s.sql("DESCRIBE DETAIL graftrtas.ord_sum").head()
      val detailConsistent = det.getString(0) == "graft" &&
        det.getLong(2) == log.currentVersion.get &&
        det.getInt(4) == log.dataFiles(log.currentVersion.get).size &&
        det.getLong(6) > 0L && det.getBoolean(9)
      s.sql("SELECT * FROM graftrtas.ord_sum")
        .withColumn("rtas_single_commit", lit(singleCommit))
        .withColumn("old_version_time_travels", lit(travels))
        .withColumn("detail_consistent", lit(detailConsistent))
        .orderBy(col("status"))
    }),

    // ── BOUNDED CHANGE-FEED STREAM ([[GraftLogSourceProvider]] with
    // `readChangeFeed` + `maxVersionsPerTrigger` — admission control for
    // the CDF mode, where file budgets don't apply because delete/
    // rewrite commits have no "appended files"): a three-commit DML
    // backlog (append, append, merge-on-read DELETE) drains ONE COMMIT
    // PER TRIGGER (`one_version_per_trigger`) and the drained feed
    // equals the batch [[SnapshotLog.readChanges]] bitwise
    // (`bounded_feed_equals_batch`) ──
    "stream_cdf_bounded" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "cdf_bounded"))
      log.recreate()
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("c"))
      log.append(orders.where(col("k") <= 1000), partitions = 2)
      log.append(orders.where(col("k").between(1001, 2000)), partitions = 2)
      log.deleteWhere(s, col("k") <= 150)
      val q = s.readStream
        .format("graft-log").option("root", log.root)
        .option("readChangeFeed", "true")
        .option("maxVersionsPerTrigger", "1").load()
        .writeStream.format("memory").queryName("stream_cdf_bounded_sink")
        .outputMode("append").start()
      val (sunk, dataTriggers) =
        try {
          q.processAllAvailable()
          (s.table("stream_cdf_bounded_sink"),
            q.recentProgress.count(_.numInputRows > 0))
        } finally q.stop()
      val batchFeed = log.readChanges(s, -1L, log.currentVersion.get)
      val parity = Proofs.sameMultiset(sunk, batchFeed)
      sunk.groupBy(col("_commit_version").as("commit_version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("k")).cast("long").as("sum_key"),
          sum(col("c")).cast("long").as("sum_cents"))
        .withColumn("one_version_per_trigger", lit(dataTriggers == 3))
        .withColumn("bounded_feed_equals_batch", lit(parity))
        .orderBy(col("commit_version"), col("change_type"))
    }),

    // ── SQL CHECK CONSTRAINTS ([[GraftCatalog]] declaring
    // `SUPPORT_TABLE_CONSTRAINT`; the stored predicate reports through
    // `Table.constraints()` so SPARK'S OWN ANALYZER plants enforcement
    // into every INSERT's plan — zero extra passes, the check rides the
    // write scan): a violating batch fails the WRITE JOB with nothing
    // committed (`violating_batch_rejected`: exception + version
    // unchanged — the negated-cents batch would break the oracle hash if
    // one row slipped through), the clean batch passes, and `DROP
    // CONSTRAINT` lifts the gate as one metadata commit
    // (`constraint_dropped`) ──
    "snapshot_sql_constraint" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftchk", scratch(dir, "chkroot"))
      s.sql("DROP TABLE IF EXISTS graftchk.ord")
      s.sql("CREATE TABLE graftchk.ord (k BIGINT, status STRING, cents BIGINT)")
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 3000)
        .createOrReplaceTempView("graft_chk_src")
      s.sql("INSERT INTO graftchk.ord SELECT * FROM graft_chk_src WHERE k <= 1500")
      s.sql("ALTER TABLE graftchk.ord ADD CONSTRAINT cents_nonneg CHECK (cents >= 0)")
      val log = new SnapshotLog(scratch(dir, "chkroot") + "/ord")
      val vPre = log.currentVersion.get
      val rejected =
        try {
          s.sql("INSERT INTO graftchk.ord SELECT k, status, -cents - 1 " +
            "FROM graft_chk_src WHERE k > 1500")
          false
        } catch { case _: Exception => true }
      val violatingRejected = rejected && log.currentVersion.contains(vPre)
      s.sql("INSERT INTO graftchk.ord SELECT * FROM graft_chk_src WHERE k > 1500")
      s.sql("ALTER TABLE graftchk.ord DROP CONSTRAINT cents_nonneg")
      val dropped = log.property(log.currentVersion.get, "check.cents_nonneg").isEmpty
      s.sql(
        """SELECT status, count(*) AS n_orders,
          |       CAST(sum(k) AS BIGINT) AS sum_key,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graftchk.ord GROUP BY status""".stripMargin)
        .withColumn("violating_batch_rejected", lit(violatingRejected))
        .withColumn("constraint_dropped", lit(dropped))
        .orderBy(col("status"))
    }),

    // ── LIQUID-CLUSTERING DECLARATION (`clusterBy` table property →
    // `OPTIMIZE` default keys): the table DECLARES its clustering keys
    // at CREATE (`TBLPROPERTIES('clusterBy'='k')`), three interleaved
    // INSERTs scatter the key space, and a bare `OPTIMIZE t` — no ZORDER
    // clause, keys from the declaration — range-clusters and rebuilds
    // the stats sidecars (`optimize_used_declared_keys`), after which a
    // key-range SQL predicate plans over a strict subset of files
    // (`files_skipped_after_optimize`) ──
    "snapshot_sql_cluster" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftclu", scratch(dir, "cluroot"))
      s.sql("DROP TABLE IF EXISTS graftclu.ord")
      s.sql("CREATE TABLE graftclu.ord (k BIGINT, status STRING, cents BIGINT) " +
        "TBLPROPERTIES ('clusterBy' = 'k')")
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 6000)
        .createOrReplaceTempView("graft_clu_src")
      (0 until 3).foreach { i =>
        s.sql(s"INSERT INTO graftclu.ord SELECT * FROM graft_clu_src WHERE k % 3 = $i")
      }
      // a small target file size so the byte-sized output partitioning
      // still yields several files at test scale (the skipping probe
      // needs >1 file; at 100 TB the default 128 MiB takes over)
      s.conf.set("spark.graft.optimize.maxFileSize", "8192")
      val receipt =
        try s.sql("OPTIMIZE graftclu.ord").head()
        finally s.conf.unset("spark.graft.optimize.maxFileSize")
      val usedDeclared = receipt.getString(1) == "cluster_by"
      val log = new SnapshotLog(scratch(dir, "cluroot") + "/ord")
      val q = s.sql(
        """SELECT status, count(*) AS n_orders,
          |       CAST(sum(k) AS BIGINT) AS sum_key,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graftclu.ord WHERE k BETWEEN 1000 AND 2000
          |GROUP BY status""".stripMargin)
      val planned = scanFiles(q.queryExecution.executedPlan).getOrElse(-1)
      val total = log.dataFiles(log.currentVersion.get).size
      val skipped = planned >= 1 && planned < total
      q.withColumn("optimize_used_declared_keys", lit(usedDeclared))
        .withColumn("files_skipped_after_optimize", lit(skipped))
        .orderBy(col("status"))
    }),

    // ── INCREMENTAL OPTIMIZE ROUTING (`OPTIMIZE t` on a clusterBy table
    // → [[SnapshotLog.optimizeIncremental]]): the first bare OPTIMIZE
    // full-clusters (no lastopt yet); a later small append + second bare
    // OPTIMIZE rewrites ONLY the appended tail — `files_in` equals the
    // tail's file count and every clustered file is carried
    // BYTE-IDENTICAL (`incr_rewrote_only_tail`) — the steady-state
    // maintenance pass stays batch-sized where r13's routing re-rewrote
    // the whole table per tick (quadratic-ish in churn at 100 TB).
    // Skipping still plans over a strict file subset after the
    // incremental pass (`files_skipped_after_incr`) ──
    "snapshot_sql_cluster_incr" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftci", scratch(dir, "ciroot"))
      s.sql("DROP TABLE IF EXISTS graftci.ord")
      s.sql("CREATE TABLE graftci.ord (k BIGINT, status STRING, cents BIGINT) " +
        "TBLPROPERTIES ('clusterBy' = 'k')")
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 1400)
        .createOrReplaceTempView("graft_ci_src")
      (0 until 3).foreach { i =>
        s.sql(s"INSERT INTO graftci.ord SELECT * FROM graft_ci_src " +
          s"WHERE k > 100 AND k % 3 = $i")
      }
      s.conf.set("spark.graft.optimize.maxFileSize", "8192")
      try {
        s.sql("OPTIMIZE graftci.ord") // full fallback: no lastopt yet
        ()
      } finally s.conf.unset("spark.graft.optimize.maxFileSize")
      val log = new SnapshotLog(scratch(dir, "ciroot") + "/ord")
      val clustered = log.dataFiles(log.currentVersion.get).toSet
      // the steady-state tick: one small append, then bare OPTIMIZE
      s.sql("INSERT INTO graftci.ord SELECT * FROM graft_ci_src WHERE k <= 100")
      val tail = log.dataFiles(log.currentVersion.get).filterNot(clustered)
      val receipt = s.sql("OPTIMIZE graftci.ord").head()
      val after = log.dataFiles(log.currentVersion.get).toSet
      val incrOnly = receipt.getString(1) == "cluster_by" &&
        receipt.getInt(2) == tail.size && clustered.subsetOf(after)
      val q = s.sql(
        """SELECT status, count(*) AS n_orders,
          |       CAST(sum(k) AS BIGINT) AS sum_key,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graftci.ord WHERE k BETWEEN 300 AND 900
          |GROUP BY status""".stripMargin)
      val planned = scanFiles(q.queryExecution.executedPlan).getOrElse(-1)
      val skipped = planned >= 1 && planned < after.size
      q.withColumn("incr_rewrote_only_tail", lit(incrOnly))
        .withColumn("files_skipped_after_incr", lit(skipped))
        .orderBy(col("status"))
    }),

    // ── TRUE MULTI-DIMENSIONAL Z-ORDER ([[SnapshotLog.clusterArrange]]
    // — bit-interleaved, not lexicographic): `OPTIMIZE … ZORDER BY (k,
    // cents)` interleaves the two columns' bucket bits into one
    // z-value, so file min/max ranges come out narrow in BOTH
    // dimensions — a predicate on the TRAILING column alone plans over
    // a strict file subset (`trailing_dim_skips`), which a
    // lexicographic (k, cents) sort can never give (k is near-unique,
    // so every file's cents range would stay full-width). The leading
    // dimension keeps skipping too (`leading_dim_skips`) ──
    "snapshot_sql_zorder_2d" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftz2", scratch(dir, "z2root"))
      s.sql("DROP TABLE IF EXISTS graftz2.ord")
      s.sql("CREATE TABLE graftz2.ord (k BIGINT, status STRING, cents BIGINT)")
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 1400)
        .createOrReplaceTempView("graft_z2_src")
      s.sql("INSERT INTO graftz2.ord SELECT * FROM graft_z2_src")
      s.conf.set("spark.graft.optimize.maxFileSize", "4096")
      try { s.sql("OPTIMIZE graftz2.ord ZORDER BY (k, cents)"); () }
      finally s.conf.unset("spark.graft.optimize.maxFileSize")
      val log = new SnapshotLog(scratch(dir, "z2root") + "/ord")
      val total = log.dataFiles(log.currentVersion.get).size
      val q = s.sql(
        """SELECT status, count(*) AS n_orders,
          |       CAST(sum(k) AS BIGINT) AS sum_key,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graftz2.ord WHERE cents BETWEEN 10000000 AND 15000000
          |GROUP BY status""".stripMargin)
      val trailing = scanFiles(q.queryExecution.executedPlan).exists(p =>
        p >= 1 && p < total)
      val qk = s.sql(
        "SELECT count(*) AS n FROM graftz2.ord WHERE k BETWEEN 100 AND 300")
      val leading = scanFiles(qk.queryExecution.executedPlan).exists(p =>
        p >= 1 && p < total)
      q.withColumn("trailing_dim_skips", lit(trailing))
        .withColumn("leading_dim_skips", lit(leading))
        .orderBy(col("status"))
    }),

    // ── CLUSTER ON WRITE (the liquid-clustering ingest half): a table
    // with DECLARED clusterBy keys range-arranges every SQL INSERT batch
    // before staging, so per-file footer min/max ranges come out
    // DISJOINT within each batch and a key-range probe plans over a
    // strict file subset IMMEDIATELY — no OPTIMIZE pass ever ran
    // (`skipped_without_optimize`, measured off the executed plan's file
    // index). The steady-state ingest→query loop needs no maintenance
    // tick before freshly-landed data prunes ──
    "snapshot_sql_cluster_on_write" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftcw", scratch(dir, "cwroot"))
      s.sql("DROP TABLE IF EXISTS graftcw.ord")
      s.sql("CREATE TABLE graftcw.ord (k BIGINT, status STRING, cents BIGINT) " +
        "TBLPROPERTIES ('clusterBy' = 'k')")
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 1400)
        .createOrReplaceTempView("graft_cw_src")
      (0 until 3).foreach { i =>
        s.sql(s"INSERT INTO graftcw.ord SELECT * FROM graft_cw_src WHERE k % 3 = $i")
      }
      val log = new SnapshotLog(scratch(dir, "cwroot") + "/ord")
      val q = s.sql(
        """SELECT status, count(*) AS n_orders,
          |       CAST(sum(k) AS BIGINT) AS sum_key,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graftcw.ord WHERE k BETWEEN 300 AND 600
          |GROUP BY status""".stripMargin)
      val planned = scanFiles(q.queryExecution.executedPlan).getOrElse(-1)
      val total = log.dataFiles(log.currentVersion.get).size
      val skipped = planned >= 1 && planned < total
      q.withColumn("skipped_without_optimize", lit(skipped))
        .orderBy(col("status"))
    }),

    // ── PARTITION-SCOPED OPTIMIZE (`OPTIMIZE t WHERE <pred>` — the
    // Delta shape generalized to stats ranges): three key-disjoint
    // INSERTs; `WHERE k <= <mid>` resolves through the stats sidecars to
    // exactly the two low-range stages, the bare-OPTIMIZE clusterBy
    // route rewrites ONLY those ([[SnapshotLog.optimizeFiles]]), and
    // every out-of-scope file is carried BYTE-IDENTICAL — pinned by
    // relative path (`out_of_scope_carried`). Maintenance cost scales
    // with the matched slice, never the table ──
    "snapshot_sql_optimize_where" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftow", scratch(dir, "owroot"))
      s.sql("DROP TABLE IF EXISTS graftow.ord")
      s.sql("CREATE TABLE graftow.ord (k BIGINT, status STRING, cents BIGINT) " +
        "TBLPROPERTIES ('clusterBy' = 'k')")
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 1400)
        .createOrReplaceTempView("graft_ow_src")
      s.sql("INSERT INTO graftow.ord SELECT * FROM graft_ow_src WHERE k <= 500")
      s.sql("INSERT INTO graftow.ord SELECT * FROM graft_ow_src WHERE k > 500 AND k <= 1000")
      s.sql("INSERT INTO graftow.ord SELECT * FROM graft_ow_src WHERE k > 1000")
      val log = new SnapshotLog(scratch(dir, "owroot") + "/ord")
      val before = log.dataFiles(log.currentVersion.get)
      // the high-range stage must stay untouched: find its files via the
      // same stats the scoping reads
      val owRoot = new java.io.File(scratch(dir, "owroot") + "/ord").getCanonicalPath
      val hiFiles = log.fileStatsForColumn(s, log.currentVersion.get, "k")
        .map(_.collect { case (abs, (lo, _)) if lo > 1000L =>
          abs.stripPrefix(owRoot + "/") }.toSet)
        .getOrElse(Set.empty)
      val receipt = s.sql("OPTIMIZE graftow.ord WHERE k <= 1000").head()
      val after = log.dataFiles(log.currentVersion.get).toSet
      val scoped = receipt.getString(1) == "cluster_by" &&
        receipt.getInt(2) == before.size - hiFiles.size &&
        hiFiles.nonEmpty && hiFiles.subsetOf(after)
      s.sql(
        """SELECT status, count(*) AS n_orders,
          |       CAST(sum(k) AS BIGINT) AS sum_key,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graftow.ord GROUP BY status""".stripMargin)
        .withColumn("out_of_scope_carried", lit(scoped))
        .orderBy(col("status"))
    }),

    // ── OPTIMIZE … WHERE WITH DATE LITERALS (closing the r14
    // integers-and-strings-only scope): DATE terms map to the epoch-day
    // axis parquet stores a date as, and the same footer [lo, hi]
    // sidecars prune — the commonest maintenance scope of all
    // ("optimize yesterday's partition") without a full-table rewrite.
    // Files whose recorded date range misses the scope are carried
    // byte-identical (`date_scope_pruned`) ──
    "snapshot_sql_optimize_where_date" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftod", scratch(dir, "odroot"))
      s.sql("DROP TABLE IF EXISTS graftod.ord")
      s.sql("CREATE TABLE graftod.ord (k BIGINT, d DATE, cents BIGINT)")
      val log = new SnapshotLog(scratch(dir, "odroot") + "/ord")
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      // three monthly vintages, two files each, with footer DATE stats
      Seq(("2024-01-15", 0L, 500L), ("2024-02-15", 501L, 1000L),
          ("2024-03-15", 1001L, 1400L)).foreach { case (day, lo, hi) =>
        log.appendStrictStats(orders.where(col("k").between(lo, hi))
          .select(col("k"), lit(day).cast("date").as("d"), col("cents")),
          partitions = 2)
        ()
      }
      val before = log.dataFiles(log.currentVersion.get)
      val receipt = s.sql("OPTIMIZE graftod.ord " +
        "WHERE d >= DATE '2024-03-01' ZORDER BY (k)").head()
      val after = log.dataFiles(log.currentVersion.get).toSet
      val rewritten = before.filterNot(after.contains)
      // the January+February files carry byte-identical; only March
      // (2 files) is in scope
      val pruned = receipt.getInt(2) == 2 && rewritten.size == 2 &&
        before.size == 6
      s.sql(
        """SELECT d, count(*) AS n_orders,
          |       CAST(sum(k) AS BIGINT) AS sum_key,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graftod.ord GROUP BY d""".stripMargin)
        .withColumn("date_scope_pruned", lit(pruned))
        .orderBy(col("d"))
    }),

    // ── STREAMING SINK CHECK ENFORCEMENT ([[GraftLogSink.addBatch]] —
    // the Delta invariant discipline: EVERY write path enforces,
    // streaming included): the destination declares `cents >= 0`; a
    // clean log→log drain commits through the gate, then a VIOLATING
    // source commit fails its trigger with the destination version
    // PINNED (`violating_trigger_failed`, `dst_version_pinned`) — the
    // same rows through SQL INSERT would fail identically, so the two
    // write paths can no longer disagree. The guard is a raise_error
    // folded into the staged batch: one evaluation, zero extra scans ──
    "stream_constraint_sink" -> ((s, dir) => withTempRoot("graft_chksink_") { base =>
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val src = new SnapshotLog(scratch(dir, "chksink_src"))
      val dst = new SnapshotLog(scratch(dir, "chksink_dst"))
      src.recreate(); dst.recreate()
      dst.createEmpty(StructType(Seq(
        StructField("k", LongType), StructField("status", StringType),
        StructField("cents", LongType))))
      dst.setProperty("check.cents_nonneg", "cents >= 0")
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      src.append(orders.where(col("k") <= 500), partitions = 2)
      src.append(orders.where(col("k").between(501, 1000)), partitions = 2)
      def start() = s.readStream
        .format("graft-log").option("root", src.root).load()
        .writeStream.format("graft-log")
        .option("root", dst.root).option("partitions", "1")
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .outputMode("append").start()
      // the clean backlog drains THROUGH the constraint gate
      val q1 = start()
      try q1.processAllAvailable() finally q1.stop()
      val vClean = dst.currentVersion.get
      // a violating commit fails its trigger; nothing lands
      src.append(orders.where(col("k").between(1001, 1200))
        .withColumn("cents", -col("cents") - 1), partitions = 1)
      val q2 = start()
      val failed =
        try { q2.processAllAvailable(); false }
        catch {
          case e: Exception =>
            def anywhere(t: Throwable): Boolean = t != null &&
              (Option(t.getMessage).exists(_.contains("violates CHECK constraint")) ||
                anywhere(t.getCause))
            anywhere(e)
        } finally q2.stop()
      val pinned = dst.currentVersion.contains(vClean)
      dst.readLatest(s)
        .groupBy(col("status")).agg(
          count(lit(1)).as("n_orders"),
          sum(col("k")).cast("long").as("sum_key"),
          sum(col("cents")).cast("long").as("sum_cents"))
        .withColumn("violating_trigger_failed", lit(failed))
        .withColumn("dst_version_pinned", lit(pinned))
        .orderBy(col("status"))
    }),

    // ── MERGE INTO under CHECK constraints ([[SnapshotLog.mergeInto]]'s
    // `checks` guard through [[GraftSqlDml]]): the constraint gates
    // exactly the row images the merge WRITES — a matched-UPDATE that
    // violates fails the write job with the version PINNED
    // (`violating_merge_rejected`), then the clean MERGE upserts through
    // the same gate (`clean_merge_upserted`) — closing the r13 gap where
    // constrained tables lost MERGE entirely. The guard rides the
    // merge's ONE evaluation: no second scan, no partial commit ──
    "snapshot_sql_merge_constraint" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftmc", scratch(dir, "mcroot"))
      s.sql("DROP TABLE IF EXISTS graftmc.ord")
      s.sql("CREATE TABLE graftmc.ord (k BIGINT, status STRING, cents BIGINT, " +
        "CONSTRAINT cents_nonneg CHECK (cents >= 0))")
      Tables.orders(s, dir).select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("k") <= 1400)
        .createOrReplaceTempView("graft_mc_src")
      s.sql("INSERT INTO graftmc.ord SELECT * FROM graft_mc_src WHERE k <= 1000")
      val log = new SnapshotLog(scratch(dir, "mcroot") + "/ord")
      val vPre = log.currentVersion.get
      val rejected =
        try {
          s.sql("MERGE INTO graftmc.ord t USING graft_mc_src s ON t.k = s.k " +
            "WHEN MATCHED THEN UPDATE SET t.cents = -s.cents - 1")
          false
        } catch { case _: Exception => true }
      val violatingRejected = rejected && log.currentVersion.contains(vPre)
      val r = s.sql("MERGE INTO graftmc.ord t USING graft_mc_src s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET t.cents = s.cents + 7 " +
        "WHEN NOT MATCHED THEN INSERT *").head()
      val upserted = r.getLong(3) > 0L && r.getLong(5) > 0L
      s.sql(
        """SELECT status, count(*) AS n_orders,
          |       CAST(sum(k) AS BIGINT) AS sum_key,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graftmc.ord GROUP BY status""".stripMargin)
        .withColumn("violating_merge_rejected", lit(violatingRejected))
        .withColumn("clean_merge_upserted", lit(upserted))
        .orderBy(col("status"))
    }),

    // ── MANIFEST-LEVEL FILE SKIPPING for SQL scans
    // ([[org.apache.spark.sql.graftshim.PruningScanBuilder]] wired into
    // the DSv2 catalog): the table commits range-clustered with per-file
    // [lo,hi] stats sidecars ([[SnapshotLog.appendIndexed]]); a SQL
    // key-range predicate then PLANS over only the files whose range it
    // hits — measured off the executed plan's file index
    // (`files_skipped_at_manifest`: a strict subset survived), the
    // data-skipping every lakehouse sells, here for plain SELECT. At
    // 100 TB this is the difference between listing every file into the
    // scan and never touching the excluded ones ──
    "snapshot_sql_skip" -> ((s, dir) => {
      val root = scratch(dir, "skiproot")
      val log = new SnapshotLog(root + "/ord")
      log.recreate()
      log.appendIndexed(
        Tables.orders(s, dir).select(
            col("o_orderkey"), col("o_orderstatus"),
            floor(col("o_totalprice") * 100).cast("long").as("cents"))
          .repartitionByRange(8, col("o_orderkey"))
          .sortWithinPartitions(col("o_orderkey")),
        statsCols = Seq("o_orderkey"))
      GraftCatalog.mount(s, "graftskip", root)
      val q = s.sql(
        """SELECT o_orderstatus, count(*) AS n_orders,
          |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents
          |FROM graftskip.ord
          |WHERE o_orderkey BETWEEN 1000 AND 3000
          |GROUP BY o_orderstatus""".stripMargin)
      val planned = scanFiles(q.queryExecution.executedPlan).getOrElse(-1)
      val skipped = planned >= 1 && planned < 8
      q.withColumn("files_skipped_at_manifest", lit(skipped))
        .orderBy(col("o_orderstatus"))
    }),

    // ── SQL METADATA TABLES ([[graft.sources.GraftCatalog]]'s Iceberg
    // `t.<suffix>` addressing, served by a [[org.apache.spark.sql
    // .connector.read.LocalScan]] — planned as a LOCAL relation, zero
    // executor work): a four-commit log (two appends, a merge-on-read
    // DELETE, a compact) reads back as `graftmeta.ord.history` with the
    // exact operation classes and add/remove counts the oracle pins as
    // literals; `files_table_consistent` cross-checks the `files` table's
    // data-file count against the final history row, and the plan is
    // asserted local (`plan_is_local_scan`) ──
    "snapshot_sql_meta" -> ((s, dir) => {
      val root = scratch(dir, "metaroot")
      val log = new SnapshotLog(root + "/ord")
      log.recreate()
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      log.append(orders.where(col("k") <= 1000), partitions = 2)
      log.append(orders.where(col("k").between(1001, 2000)), partitions = 2)
      log.deleteWhere(s, col("k") <= 200)
      log.compact(s, partitions = 1)
      GraftCatalog.mount(s, "graftmeta", root)
      val hist = s.sql(
        """SELECT version, operation, added_data, added_tombstones,
          |       removed, files_total
          |FROM graftmeta.ord.history""".stripMargin)
      val planLocal = hist.queryExecution.executedPlan.toString.contains("LocalTableScan")
      val nDataFiles = s.sql(
        "SELECT count(*) AS n FROM graftmeta.ord.files WHERE kind = 'data'")
        .head().getLong(0)
      val filesConsistent = nDataFiles == log.dataFiles(log.currentVersion.get).size
      hist
        .withColumn("plan_is_local_scan", lit(planLocal))
        .withColumn("files_table_consistent", lit(filesConsistent))
        .orderBy(col("version"))
    }),

    // ── SQL DROP COLUMN ([[SnapshotLog.dropColumns]], the dual of ADD):
    // one metadata-only commit (`drop_metadata_only` — version +1,
    // data-file listing byte-identical) after which the column projects
    // away from every read while old files keep the bytes; the
    // time-travelled pre-drop snapshot keeps the wide shape
    // (`travel_keeps_wide`), and re-ADDing the dropped name is REFUSED
    // (`resurrection_refused`) — the ghost-value hazard Delta needs
    // column mapping for, made loud here ──
    "snapshot_sql_drop" -> ((s, dir) => {
      GraftCatalog.mount(s, "graftdrop", scratch(dir, "droproot"))
      s.sql("DROP TABLE IF EXISTS graftdrop.ord")
      s.sql("CREATE TABLE graftdrop.ord (o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT)")
      Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderstatus"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .createOrReplaceTempView("graft_drop_src")
      s.sql("INSERT INTO graftdrop.ord SELECT * FROM graft_drop_src WHERE o_orderkey <= 2000")
      val log = new SnapshotLog(scratch(dir, "droproot") + "/ord")
      val vBefore = log.currentVersion.get
      val filesBefore = log.dataFiles(vBefore)
      s.sql("ALTER TABLE graftdrop.ord DROP COLUMN cents")
      val metadataOnly = log.currentVersion.get == vBefore + 1L &&
        log.dataFiles(vBefore + 1L) == filesBefore
      val travelWide = s.sql(
        s"SELECT * FROM graftdrop.ord VERSION AS OF $vBefore")
        .schema.fieldNames.contains("cents")
      s.sql("INSERT INTO graftdrop.ord SELECT o_orderkey, o_orderstatus " +
        "FROM graft_drop_src WHERE o_orderkey > 2000 AND o_orderkey <= 3000")
      val resurrectionRefused =
        try { s.sql("ALTER TABLE graftdrop.ord ADD COLUMNS (cents BIGINT)"); false }
        catch { case e: Throwable =>
          Option(e.getMessage).exists(_.contains("previously DROPPED")) }
      s.sql(
        """SELECT o_orderstatus, count(*) AS n_orders,
          |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key
          |FROM graftdrop.ord GROUP BY o_orderstatus""".stripMargin)
        .withColumn("drop_metadata_only", lit(metadataOnly))
        .withColumn("travel_keeps_wide", lit(travelWide))
        .withColumn("resurrection_refused", lit(resurrectionRefused))
        .orderBy(col("o_orderstatus"))
    }),

    // ── CHANGE DATA FEED ([[SnapshotLog.readChanges]], the Delta CDF
    // shape computed purely from manifest deltas — zero write-path cost):
    // five commits (two appends, a merge-on-read DELETE, a merge-on-read
    // UPDATE, a compact) replayed as per-version insert/delete rows. The
    // oracle reconstructs every version's exact change set — the UPDATE
    // must surface as pre-image deletes + post-image inserts under ONE
    // version, and the compact must net to ZERO rows (no v4 group may
    // exist), so a reorg leaking phantom changes hash-mismatches ──
    "snapshot_cdf" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_cdf"))
      log.recreate()
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey"), floor(col("o_totalprice") * 100).cast("long").as("cents"))
      log.append(orders.where(col("o_orderkey") <= 1000), partitions = 2)
      log.append(orders.where(col("o_orderkey").between(1001, 2000)), partitions = 2)
      log.deleteWhere(s, col("o_orderkey") <= 200)
      log.updateWhere(s, col("o_orderkey").between(500, 600),
        Seq("cents" -> (col("cents") + 5)))
      val v4 = log.compact(s, partitions = 2)
      log.readChanges(s, -1L, v4)
        .groupBy(col("_commit_version").as("commit_version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_orderkey")).cast("long").as("sum_key"),
          sum(col("cents")).cast("long").as("sum_cents"))
        .orderBy(col("commit_version"), col("change_type"))
    }),

    // ── EXACTLY-ONCE CDC MIRROR ([[graft.sources.Incremental.mirror]]:
    // the change data feed driving a keyed downstream replica through the
    // [[TxnCatalog]] anchor): two cycles — initial load, then one window
    // holding a merge-on-read DELETE + UPDATE + append — leave the mirror
    // row-for-row equal to the source (`mirror_equals_source`, exceptAll
    // both ways) with exactly one atomic txn per cycle
    // (`one_txn_per_cycle`); deletes really disappear downstream, the
    // case [[Incremental.consume]]'s append-only loop cannot express ──
    "cdc_mirror" -> ((s, dir) => {
      def mk(name: String) = {
        val l = new SnapshotLog(scratch(dir, name)); l.recreate(); l
      }
      val src = mk("cdcmir_src"); val out = mk("cdcmir_out")
      val cat = new TxnCatalog(scratch(dir, "cdcmir_cat"),
        Map("src" -> src, "mir" -> out))
      cat.recreate()
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderstatus"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      src.append(orders.where(col("o_orderkey") <= 1500), partitions = 2)
      Incremental.mirror(s, cat, "src", "mir", Seq("o_orderkey"), partitions = 2)
      src.deleteWhere(s, col("o_orderkey") <= 200)
      src.updateWhere(s, col("o_orderkey").between(500, 600),
        Seq("cents" -> (col("cents") + 5)))
      src.append(orders.where(col("o_orderkey").between(1501, 2000)), partitions = 1)
      Incremental.mirror(s, cat, "src", "mir", Seq("o_orderkey"), partitions = 2)
      val mir = cat.readTable(s, cat.current.get, "mir")
      val srcNow = src.read(s, src.currentVersion.get)
      val same = Proofs.sameMultiset(mir, srcNow)
      val oneTxnPerCycle = cat.current.contains(1L)
      mir.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_orderkey")).cast("long").as("sum_key"),
          sum(col("cents")).cast("long").as("sum_cents"))
        .withColumn("mirror_equals_source", lit(same))
        .withColumn("one_txn_per_cycle", lit(oneTxnPerCycle))
        .orderBy(col("o_orderstatus"))
    }),

    // Spark's native `VERSION AS OF` / `TIMESTAMP AS OF` syntax routed
    // into [[SnapshotLog]]'s pinned-version reads): the v0 arm reads the
    // FIRST commit only while the current arm reads both, in one SQL
    // statement each; `version_travel_equals_api` and
    // `timestamp_travel_equals_version` pin both travel routes to the
    // API read of the same version ──
    "snapshot_sql_travel" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_sqltr"))
      log.recreate()
      val docs = Tables.documents(s, dir).select(
        col("doc_id"), col("lang"), col("n_chars"))
      val v0 = log.append(docs.where(col("doc_id") % 2 === 0), partitions = 2)
      log.append(docs.where(col("doc_id") % 2 =!= 0), partitions = 2)
      GraftCatalog.mount(s, "graftsnap", scratch(dir, ""))
      def rollup(fromClause: String): DataFrame = s.sql(
        s"""SELECT lang, count(*) AS n_docs,
           |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
           |FROM $fromClause GROUP BY lang""".stripMargin)
      val atV0 = rollup(s"graftsnap.snap_sqltr VERSION AS OF $v0")
      val atNow = rollup("graftsnap.snap_sqltr")
      val apiV0 = log.read(s, v0).groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      val versionOk = Proofs.sameMultiset(atV0, apiV0)
      val ts = new java.sql.Timestamp(log.commitTimeMillis(v0)).toString
      val atTs = rollup(s"graftsnap.snap_sqltr TIMESTAMP AS OF '$ts'")
      val tsOk = Proofs.sameMultiset(atTs, atV0)
      atV0.select(col("lang"), lit("v0").as("arm"), col("n_docs"), col("sum_chars"))
        .unionByName(atNow.select(
          col("lang"), lit("current").as("arm"), col("n_docs"), col("sum_chars")))
        .withColumn("version_travel_equals_api", lit(versionOk))
        .withColumn("timestamp_travel_equals_version", lit(tsOk))
        .orderBy(col("arm"), col("lang"))
    }),

    // ── MERGE-ON-READ MERGE ([[SnapshotLog.mergeInto]] composing with
    // OUTSTANDING position deletes — a deleteWhere → mergeInto sequence
    // with NO compact between two otherwise delete-sized operations):
    // the rewrite-scope scan runs MASKED, the carried posdel lines keep
    // masking the untouched files (`no_compact_needed` pins that masks
    // were still outstanding at merge time), deleted rows never
    // resurrect, and the result equals the compact-first route BITWISE
    // (`equals_compact_first_route`: exceptAll both ways against a
    // second log that compacts before the identical merge) ──
    "snapshot_merge_mor" -> ((s, dir) => {
      def mk(name: String): SnapshotLog = {
        val l = new SnapshotLog(scratch(dir, name)); l.recreate(); l
      }
      val log = mk("snap_mor"); val ref = mk("snap_mor_ref")
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      // key-capped: the protocol laws (masked rewrite scope, carried
      // posdels, compact-first equivalence) are scale-invariant, and the
      // equivalence arm runs the WHOLE pipeline twice — bounding the
      // corpus keeps the proof while the uncapped merge path is already
      // exercised by snapshot_merge_full
      val target = orders.where(col("k") % 4 =!= 3 && col("k") <= 50000)
      val source = orders.where(col("k") % 2 === 1 && col("k") <= 50000)
        .withColumn("cents", col("cents") + 7L)
      def run(l: SnapshotLog, compactFirst: Boolean): Long = {
        l.append(target, partitions = 4)
        l.deleteWhere(s, col("k") % 5 === 0)
        if (compactFirst) l.compact(s, partitions = 4)
        val (v, _, _) = l.mergeInto(
          source, "k",
          updateWhen = Some(lit(true)),
          updateSet = Seq("cents" -> (col("cents") + col("src_cents"))),
          deleteWhen = Some(col("status") === "F"),
          insertNotMatched = true)
        v
      }
      val vM = run(log, compactFirst = false)
      val vRef = run(ref, compactFirst = true)
      val masksOutstanding = log.posDeleteFiles(vM).nonEmpty
      val a = log.read(s, vM)
      val b = ref.read(s, vRef)
      val same = Proofs.sameMultiset(a, b)
      a.groupBy(col("status"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("k")).as("sum_key"),
          sum(col("cents")).as("sum_cents"))
        .withColumn("no_compact_needed", lit(masksOutstanding))
        .withColumn("equals_compact_first_route", lit(same))
        .orderBy(col("status"))
    }),

    // ── DELETION VECTORS ([[SnapshotLog.writeDeleteVectors]] — the
    // Delta deletion-vector shape over the engine's own exact-bitmap
    // wire format): two predicate deletes leave two position-delete
    // files; ONE metadata-sized commit rolls them into a single
    // per-file-bitmap sidecar (`posdels_collapsed_to_one_dv`,
    // `metadata_only` pins the data-file set unchanged), the DV read
    // equals the anti-join route BITWISE (`dv_equals_antijoin` against
    // the pinned pre-DV version), and the read PLAN carries no join —
    // the mask became a codegen'd file-local bitmap probe on the scan
    // (`read_plan_has_no_join`) ──
    "snapshot_dv_read" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_dv"))
      log.recreate()
      val base = Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderstatus"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      log.append(base, partitions = 4)
      log.deleteWhere(s, col("o_orderkey") % 7 === 1)
      val (vPos, _) = log.deleteWhere(s, col("o_orderkey") % 11 === 3)
      val antiView = log.read(s, vPos)
      val (vDv, nVecs) = log.writeDeleteVectors(s)
      val collapsed = log.posDeleteFiles(vDv).isEmpty &&
        log.dvFiles(vDv).size == 1 && nVecs > 0
      val metadataOnly = log.dataFiles(vDv).sorted == log.dataFiles(vPos).sorted
      val dvView = log.read(s, vDv)
      val bitwise = Proofs.sameMultiset(dvView, antiView)
      val noJoin = !dvView.queryExecution.executedPlan.toString.contains("Join")
      dvView
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_orderkey")).as("sum_key"),
          sum(col("cents")).as("sum_cents"))
        .withColumn("dv_equals_antijoin", lit(bitwise))
        .withColumn("metadata_only", lit(metadataOnly))
        .withColumn("posdels_collapsed_to_one_dv", lit(collapsed))
        .withColumn("read_plan_has_no_join", lit(noJoin))
        .orderBy(col("o_orderstatus"))
    }),

    // ── VACUUM vs TIME TRAVEL ([[SnapshotLog.expire]] +
    // [[SnapshotLog.vacuum]] — the retention-horizon safety law nothing
    // pinned before): a compact strands the pre-compact append files as
    // exclusive property of the OLD versions; after `expire` drops those
    // versions, vacuum collects exactly the expired-exclusive files
    // (`expired_files_collected`), every RETAINED version still reads
    // its full content through the sweep
    // (`retained_reads_survive_vacuum` — measured row counts, not
    // existence), and a read at the expired version fails LOUDLY
    // (`expired_read_fails_loudly`), never serves a silent
    // half-table ──
    "vacuum_retention_travel" -> ((s, dir) => {
      val log = new SnapshotLog(scratch(dir, "snap_vexp"))
      log.recreate()
      val docs = Tables.documents(s, dir).select(
        col("doc_id"), col("lang"), col("n_chars"))
      val nA = docs.where(col("doc_id") % 3 === 0).count()
      val nB = docs.where(col("doc_id") % 3 === 1).count()
      val nAll = docs.count()
      val v0 = log.append(docs.where(col("doc_id") % 3 === 0), partitions = 2)
      val v1 = log.append(docs.where(col("doc_id") % 3 === 1), partitions = 2)
      val v2 = log.compact(s, partitions = 2)
      val v3 = log.append(docs.where(col("doc_id") % 3 =!= 0 && col("doc_id") % 3 =!= 1),
        partitions = 2)
      val expired = log.expire(keepFrom = v2)
      val removed = log.vacuum()
      val collected = expired.sorted == Seq(v0, v1) && removed.nonEmpty
      val retainedOk = log.read(s, v2).count() == nA + nB &&
        log.read(s, v3).count() == nAll
      val expiredFails =
        try { log.read(s, v0).count(); false }
        catch { case _: IllegalArgumentException => true }
      log.read(s, v3)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .withColumn("expired_files_collected", lit(collected))
        .withColumn("retained_reads_survive_vacuum", lit(retainedOk))
        .withColumn("expired_read_fails_loudly", lit(expiredFails))
        .orderBy(col("lang"))
    }),

    // ── INCREMENTAL MATERIALIZED VIEW ([[Materialize.mergeSummaries]]):
    // the weekly events rollup absorbs the late-January batch by merging a
    // DELTA-sized partial aggregate into the summary — the base rows before
    // the cutoff are aggregated once and never rescanned. SELF-VALIDATING:
    // the query joins a full recompute and emits per-week `matches_full`
    // booleans the oracle asserts TRUE, proving the algebraic merge
    // (sum/min/max) exact; a production run drops the recompute arm. ──
    // ── incremental JOIN-view maintenance ([[Materialize.joinDelta]]):
    // the classic delta rule Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB, applied to
    // an orders⋈customer view split into old/delta on BOTH sides — the
    // base join is never recomputed; the recompute arm exists only as
    // the law (`incremental_equals_recompute`, exceptAll both ways).
    // Maintenance cost is delta-sized: each leg equi-joins on the
    // customer key with at least one delta side ──
    "mv_join_incremental" -> ((s, dir) => {
      val ord = Tables.orders(s, dir).select(
        col("o_custkey").as("ck"), col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val cust = Tables.customer(s, dir).select(
        col("c_custkey").as("ck"), col("c_mktsegment").as("seg"))
      val aOld = ord.where(col("k") % 5 =!= 0)
      val dA = ord.where(col("k") % 5 === 0)
      val bOld = cust.where(col("ck") % 7 =!= 3)
      val dB = cust.where(col("ck") % 7 === 3)
      val mv = aOld.join(bOld, Seq("ck"))
        .unionByName(Materialize.joinDelta(aOld, dA, bOld, dB, Seq("ck")))
      val recomputed = ord.join(cust, Seq("ck"))
      val equal = Proofs.sameMultiset(mv, recomputed)
      mv.groupBy(col("seg"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("cents")).as("sum_cents"),
          countDistinct(col("ck")).as("n_cust"))
        .withColumn("incremental_equals_recompute", lit(equal))
        .orderBy(col("seg"))
    }),

    "mv_incremental" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      def summarize(df: DataFrame): DataFrame = df
        .groupBy(to_date(date_trunc("week", col("ts"))).as("week"))
        .agg(
          count(lit(1)).as("n_events"),
          min(unix_timestamp(col("ts"))).as("min_sec"),
          max(unix_timestamp(col("ts"))).as("max_sec"))
      val base = summarize(ev.where(to_date(col("ts")) < lit(MvCut)))
      val delta = summarize(ev.where(to_date(col("ts")) >= lit(MvCut)))
      val merged = Materialize.mergeSummaries(
        Seq(base, delta), Seq("week"),
        sumCols = Seq("n_events"), minCols = Seq("min_sec"), maxCols = Seq("max_sec"))
      val full = summarize(ev).select(
        col("week"), col("n_events").as("f_n"),
        col("min_sec").as("f_min"), col("max_sec").as("f_max"))
      merged.join(full, Seq("week"), "full_outer")
        .select(
          col("week"), col("n_events"), col("min_sec"), col("max_sec"),
          coalesce(
            col("n_events") === col("f_n") &&
              col("min_sec") === col("f_min") && col("max_sec") === col("f_max"),
            lit(false)).as("matches_full"))
        .orderBy(col("week"))
    }),

    // ── RETRACTABLE incremental MV ([[Materialize.applyRetractions]]): the
    // change batch carries DELETES (a backfill retracts the base's 'error'
    // rows) alongside the post-cutoff inserts, absorbed as
    // summary + agg(inserts) − agg(deletes) with the base never rescanned —
    // the additive-aggregate group algebra (counts/sums have inverses;
    // min/max don't and are excluded by design). SELF-VALIDATING like
    // mv_incremental: a full recompute arm joins in and `matches_full`
    // must read TRUE; integer measures so the comparison is exact ──
    "mv_retract" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(
        to_date(date_trunc("week", col("ts"))).as("week"),
        to_date(col("ts")).as("d"),
        unix_timestamp(col("ts")).as("sec"),
        col("event_type"))
      def summarize(df: DataFrame): DataFrame = df
        .groupBy(col("week"))
        .agg(count(lit(1)).as("n_events"), sum(col("sec")).as("sec_total"))
      val base = ev.where(col("d") < lit(MvCut))
      val inserts = ev.where(col("d") >= lit(MvCut))
      val deletes = base.where(col("event_type") === "error")
      val maintained = Materialize.applyRetractions(
        summarize(base).withColumnRenamed("sec_total", "sec"),
        inserts.select(col("week"), col("sec")),
        deletes.select(col("week"), col("sec")),
        Seq("week"), "n_events", Seq("sec"))
      val full = summarize(
        base.where(col("event_type") =!= "error").unionByName(inserts))
        .select(col("week"), col("n_events").as("f_n"), col("sec_total").as("f_sec"))
      maintained.join(full, Seq("week"), "full_outer")
        .select(
          col("week"), col("n_events"), col("sec").as("sec_total"),
          coalesce(
            col("n_events") === col("f_n") && col("sec") === col("f_sec"),
            lit(false)).as("matches_full"))
        .orderBy(col("week"))
    })
  )

  // mv_incremental cutoff — the "new batch" boundary, interpolated into the
  // oracle so the two sides cannot drift
  private val MvCut = "2024-01-25"

  // retention_prune cutoff — partitions strictly below it are dropped;
  // interpolated into the oracle so the two sides cannot drift
  private val RetentionCutoff = "2024-01-15"

  // zorder_prune geometry + predicate box — interpolated into the oracle so
  // the two sides cannot drift
  private val BloomM = 8192L
  private val BloomK = 3
  private val BloomRowsPerFile = 1000L
  private val BloomProbeMod = 997L

  private val ZDimBits = 8
  private val ZFileBits = 6
  private val ZXLo = 8L
  private val ZXHi = 23L
  private val ZYLo = 8L
  private val ZYHi = 14L

  // value_hist_rollup geometry + quantiles — interpolated into the oracle so
  // the two sides cannot drift
  private val HistLo = 0.0
  private val HistHi = 500.0
  private val HistBins = 50
  private val HistQs = Seq(0.5, 0.9, 0.99)

  private val sessionKstCte: String =
    """WITH lagged AS (
      |  SELECT event_id, user_id, ts,
      |         CAST(floor(epoch(ts)) AS BIGINT) AS epoch_sec,
      |         lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER
      |           (PARTITION BY user_id ORDER BY ts, event_id) AS prev_epoch_sec
      |  FROM events
      |), flagged AS (
      |  SELECT *, (prev_epoch_sec IS NULL OR epoch_sec - prev_epoch_sec >= 300) AS is_new
      |  FROM lagged
      |), sessions AS (
      |  SELECT *,
      |         CAST(user_id AS VARCHAR) || '#' || CAST(session_start_sec AS VARCHAR) AS session_id,
      |         CAST(ts + INTERVAL 9 HOUR AS DATE) AS event_date_kst
      |  FROM (
      |    SELECT *, max(CASE WHEN is_new THEN epoch_sec END) OVER
      |             (PARTITION BY user_id ORDER BY ts, event_id
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_start_sec
      |    FROM flagged
      |  )
      |)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // time_travel: v0 is the orders base verbatim; v1 replays the same
    // update/delete/insert merge cdc_merge uses — both rolled up by
    // priority. A log that served stale, torn, or cross-contaminated
    // version state breaks the hash
    "time_travel" ->
      """WITH v1 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 10.0
        |         ELSE o_totalprice END AS o_totalprice,
        |    o_orderpriority
        |  FROM orders WHERE o_orderkey % 10 != 7
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_totalprice, 'NEW'
        |  FROM orders WHERE o_orderkey % 10 = 1
        |)
        |SELECT CAST(0 AS BIGINT) AS version, o_orderpriority,
        |       count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY 2
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), o_orderpriority,
        |       count(*),
        |       CAST(sum(o_orderkey) AS BIGINT),
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM v1 GROUP BY 2
        |ORDER BY version, o_orderpriority""".stripMargin,

    // snapshot_stats_prune: the pruned rollup over the SAME derived band
    // (identical truncating integer thirds); skip/equality laws measured
    "snapshot_stats_prune" ->
      """WITH c AS (
        |  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents, o_orderpriority
        |  FROM orders
        |), b AS (SELECT min(cents) AS mn, max(cents) AS mx FROM c)
        |SELECT o_orderpriority,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       TRUE AS skip_happened,
        |       TRUE AS pruned_equals_full
        |FROM c, b
        |WHERE cents >= mn + (mx - mn) // 3 AND cents <= mn + 2 * (mx - mn) // 3
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // stream_merge_upsert: the all-at-once merge the trigger-sliced
    // stream must converge to (identical derived update batch);
    // per-trigger rewrite-scope and stream==batch laws measured in Spark
    "stream_merge_upsert" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |         o_orderpriority AS prio
        |  FROM orders
        |), b AS (SELECT min(k) AS mn, max(k) AS mx FROM base),
        |upd AS (
        |  SELECT k, cents + 1 AS cents, prio FROM base, b
        |  WHERE k <= mn + (mx - mn) // 4 AND k % 7 = 3
        |  UNION ALL
        |  SELECT k + mx + 1000 AS k, cents, prio FROM base, b WHERE k % 13 = 5
        |),
        |merged AS (
        |  SELECT * FROM base WHERE k NOT IN (SELECT k FROM upd)
        |  UNION ALL SELECT * FROM upd
        |)
        |SELECT prio, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       TRUE AS stream_equals_batch_merge,
        |       TRUE AS rewrite_bounded_every_trigger
        |FROM merged GROUP BY prio ORDER BY prio""".stripMargin,

    // snapshot_constraints: the committed state is exactly the clean
    // corpus; rejection/isolation laws measured in the Spark path
    "snapshot_constraints" ->
      """SELECT o_orderpriority AS prio,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS bad_batch_rejected,
        |       TRUE AS state_unchanged
        |FROM orders GROUP BY prio ORDER BY prio""".stripMargin,

    // snapshot_delta_log: the six appended slices reunite to the whole
    // orders corpus; the four protocol laws are measured in the Spark path
    "snapshot_delta_log" ->
      """SELECT o_orderpriority AS prio,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS anchors_change_sized,
        |       TRUE AS anchors_carry_commit_ts,
        |       TRUE AS checkpoints_at_interval,
        |       TRUE AS chain_monotone,
        |       TRUE AS survivors_read_after_expire
        |FROM orders GROUP BY o_orderpriority ORDER BY prio""".stripMargin,

    // snapshot_change_feed: each commit's rollup derives straight from
    // its modular slice (v2's deletes = the k%8 keys, all living in v0's
    // slice); the replay law is measured in the Spark path
    "snapshot_change_feed" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders
        |), f AS (
        |  SELECT CAST(1 AS BIGINT) AS _commit_version, 'insert' AS _change_type,
        |         CAST(count(*) AS BIGINT) AS n_rows,
        |         CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM o WHERE k % 4 = 1
        |  UNION ALL
        |  SELECT 2, 'delete', CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
        |  FROM o WHERE k % 8 = 0
        |  UNION ALL
        |  SELECT 3, 'insert', CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
        |  FROM o WHERE k % 4 = 2
        |)
        |SELECT _commit_version, _change_type, n_rows, sum_cents,
        |       TRUE AS replay_lands_on_target
        |FROM f ORDER BY _commit_version, _change_type""".stripMargin,

    // snapshot_history: file counts are fixed by the scripted partitions
    // (2+3 appends, 1 tombstone, 2-file compact, restore re-lists v1's
    // 5); row counts re-derive from the modular slices — the restore row
    // (v4) returning to v1's count IS the resurrect-the-deleted-rows law
    "snapshot_history" ->
      """WITH o AS (SELECT o_orderkey AS k FROM orders),
        |c AS (SELECT
        |  (SELECT count(*) FROM o WHERE k % 3 = 0) AS n0,
        |  (SELECT count(*) FROM o WHERE k % 3 = 1) AS n1,
        |  (SELECT count(*) FROM o WHERE k % 6 = 0) AS n6)
        |SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS version, 'append' AS op,
        |         CAST(2 AS INT) AS added_data, CAST(0 AS INT) AS added_tombstones,
        |         CAST(0 AS INT) AS removed, CAST(2 AS INT) AS n_files,
        |         CAST(n0 AS BIGINT) AS n_rows FROM c
        |  UNION ALL SELECT 1, 'append', 3, 0, 0, 5, n0 + n1 FROM c
        |  UNION ALL SELECT 2, 'delete', 0, 1, 0, 6, n0 + n1 - n6 FROM c
        |  UNION ALL SELECT 3, 'rewrite', 2, 0, 6, 2, n0 + n1 - n6 FROM c
        |  UNION ALL SELECT 4, 'rewrite', 5, 0, 2, 5, n0 + n1 FROM c
        |) ORDER BY version""".stripMargin,

    // snapshot_restore: the restored table is the FULL corpus again; the
    // broken version's row count is the 1%-sample; laws measured in the
    // Spark path (listing equality, exceptAll both ways) pinned TRUE
    "snapshot_restore" ->
      """SELECT o_orderpriority AS prio,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       (SELECT count(*) FROM orders WHERE o_orderkey % 97 = 0) AS broken_version_rows,
        |       TRUE AS restore_metadata_only,
        |       TRUE AS restored_bitwise_v0
        |FROM orders GROUP BY prio ORDER BY prio""".stripMargin,

    // mv_change_feed: the maintained MV equals the aggregate over the
    // final state (inserted slices minus the deleted keys); the
    // recompute law is measured in the Spark path
    "mv_change_feed" ->
      """SELECT o_orderpriority AS prio,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS mv_matches_recompute
        |FROM orders
        |WHERE o_orderkey % 4 IN (0, 1, 2) AND NOT o_orderkey % 8 = 0
        |GROUP BY prio ORDER BY prio""".stripMargin,

    // snapshot_wap: the published table is the full corpus (audited
    // halves reunited); the audit-gate laws are measured in the Spark
    // path and pinned TRUE
    "snapshot_wap" ->
      """SELECT o_orderpriority AS prio,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS bad_batch_rejected_on_branch,
        |       TRUE AS branch_clean_after_reject,
        |       TRUE AS main_clean_during_audit
        |FROM orders GROUP BY prio ORDER BY prio""".stripMargin,

    // stream_from_log: the three streamed commits reunite to the whole
    // orders corpus; stream/batch parity and trigger accounting are
    // measured in the Spark path and pinned TRUE
    "stream_from_log" ->
      """SELECT o_orderpriority AS prio,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS stream_equals_batch,
        |       TRUE AS one_trigger_per_file
        |FROM orders GROUP BY prio ORDER BY prio""".stripMargin,

    // stream_available_now: the drained sink replays as the plain
    // k<=2000 rollup; the self-termination and bounded-batch laws are
    // measured in the Spark path
    "stream_available_now" ->
      """SELECT o_orderstatus AS status, count(*) AS n_rows,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS self_terminated,
        |       TRUE AS admission_respected
        |FROM orders WHERE o_orderkey <= 2000
        |GROUP BY status ORDER BY status""".stripMargin,

    // stream_log_native: the four streamed commits reunite to the
    // key<=4000 slice; the kill/restart exactly-once laws are measured
    // in the Spark path and pinned TRUE
    "stream_log_native" ->
      """SELECT o_orderstatus,
        |       count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS interrupted_midstream,
        |       TRUE AS no_duplicate_emissions
        |FROM orders WHERE o_orderkey <= 4000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // stream_log_pipeline: the three source commits reunite downstream;
    // the exactly-once and watermark laws are measured Spark-side
    "stream_log_pipeline" ->
      """SELECT o_orderstatus,
        |       count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS pipeline_exactly_once,
        |       TRUE AS watermark_recorded
        |FROM orders WHERE o_orderkey <= 3000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // stream_cdf_native: every version's change set replayed
    // relationally (the snapshot_cdf shape); the UPDATE is a
    // delete+insert pair under v3, the compact (v4) contributes NO
    // group, and stream/batch feed parity is measured Spark-side
    "stream_cdf_native" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS c
        |           FROM orders),
        |     ch AS (
        |       SELECT 0 AS v, 'insert' AS ct, k, c FROM o WHERE k <= 1000
        |       UNION ALL
        |       SELECT 1, 'insert', k, c FROM o WHERE k BETWEEN 1001 AND 2000
        |       UNION ALL
        |       SELECT 2, 'delete', k, c FROM o WHERE k <= 200
        |       UNION ALL
        |       SELECT 3, 'delete', k, c FROM o WHERE k BETWEEN 500 AND 600
        |       UNION ALL
        |       SELECT 3, 'insert', k, c + 5 FROM o WHERE k BETWEEN 500 AND 600)
        |SELECT CAST(v AS BIGINT) AS commit_version, ct AS change_type,
        |       count(*) AS n_rows, CAST(sum(k) AS BIGINT) AS sum_key,
        |       CAST(sum(c) AS BIGINT) AS sum_cents,
        |       TRUE AS stream_equals_batch_feed
        |FROM ch GROUP BY v, ct ORDER BY commit_version, change_type""".stripMargin,

    // stream_upsert_sink: the destination is the latest image per key —
    // k<=200 carries the re-keyed +1000 cents, the rest the original;
    // the parity law is measured Spark-side
    "stream_upsert_sink" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders WHERE o_orderkey <= 1000),
        |     u AS (SELECT k, status,
        |                  CASE WHEN k <= 200 THEN cents + 1000 ELSE cents END AS cents
        |           FROM o)
        |SELECT status, count(*) AS n_orders,
        |       CAST(sum(k) AS BIGINT) AS sum_key,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       TRUE AS upsert_equals_latest
        |FROM u GROUP BY status ORDER BY status""".stripMargin,

    // stream_upsert_delete: the destination is the NET apply of the CDC
    // feed — k<=200 updated (+1000 cents), [301,400] deleted, the rest
    // the latest image; the parity and redelivery laws are measured
    // Spark-side
    "stream_upsert_delete" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders WHERE o_orderkey <= 1000),
        |     u AS (SELECT k, status,
        |                  CASE WHEN k <= 200 THEN cents + 1000 ELSE cents END AS cents
        |           FROM o WHERE NOT (k BETWEEN 301 AND 400))
        |SELECT status, count(*) AS n_orders,
        |       CAST(sum(k) AS BIGINT) AS sum_key,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       TRUE AS cdc_equals_net_apply,
        |       TRUE AS redelivered_delete_noop
        |FROM u GROUP BY status ORDER BY status""".stripMargin,

    // stream_upsert_mapped: rows k in [301,1000] carry the feed's +555
    // image under the renamed column; the physical-id and parity laws
    // are measured Spark-side
    "stream_upsert_mapped" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders WHERE o_orderkey <= 1000),
        |     u AS (SELECT k, status,
        |                  CASE WHEN k >= 301 THEN cents + 555 ELSE cents END AS pennies
        |           FROM o)
        |SELECT status, count(*) AS n_orders,
        |       CAST(sum(k) AS BIGINT) AS sum_key,
        |       CAST(sum(pennies) AS BIGINT) AS sum_pennies,
        |       TRUE AS mapped_upsert_same_physical,
        |       TRUE AS upsert_equals_latest
        |FROM u GROUP BY status ORDER BY status""".stripMargin,

    // stream_sink_autocompact: the six bounded triggers reunite to the
    // k<=1200 corpus; the file-bounding and parity laws are measured
    // Spark-side
    "stream_sink_autocompact" ->
      """SELECT o_orderstatus AS status, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS files_bounded_by_compaction,
        |       TRUE AS compacted_equals_batch
        |FROM orders WHERE o_orderkey <= 1200
        |GROUP BY status ORDER BY status""".stripMargin,

    // stream_from_log_bounded: the four bounded triggers reunite to the
    // k<=4000 corpus; the trigger accounting and stream/batch parity are
    // measured in the Spark path and pinned TRUE
    "stream_from_log_bounded" ->
      """SELECT o_orderstatus AS status,
        |       count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS backlog_over_four_triggers,
        |       TRUE AS bounded_equals_batch
        |FROM orders WHERE o_orderkey <= 4000
        |GROUP BY status ORDER BY status""".stripMargin,

    // stream_from_log_ts: the cutoff resolves to v0, whose listing is the
    // initial snapshot batch — the full k<=3000 corpus streams; the
    // resolution law is measured in the Spark path
    "stream_from_log_ts" ->
      """SELECT o_orderstatus AS status,
        |       count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS ts_resolves_between_commits
        |FROM orders WHERE o_orderkey <= 3000
        |GROUP BY status ORDER BY status""".stripMargin,

    // stream_schema_guard: pre-evolution rows (k<=1500) stream as NULL
    // status under the fresh checkpoint ('legacy'), post-evolution rows
    // carry real statuses; the refusal and drain laws are measured
    // Spark-side
    "stream_schema_guard" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders WHERE o_orderkey <= 3000),
        |     u AS (SELECT 'legacy' AS status_grp, k, cents FROM o WHERE k <= 1500
        |           UNION ALL
        |           SELECT status, k, cents FROM o WHERE k > 1500)
        |SELECT status_grp, count(*) AS n_rows,
        |       CAST(sum(k) AS BIGINT) AS sum_key,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       TRUE AS evolution_refused,
        |       TRUE AS fresh_checkpoint_drains
        |FROM u GROUP BY status_grp ORDER BY status_grp""".stripMargin,

    // stream_schema_evolve_resume: rows sunk before the evolution carry
    // NULL status ('legacy'); the post-evolution append carries real
    // statuses; the fail-once and zero-re-emission laws are measured
    // Spark-side
    "stream_schema_evolve_resume" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders WHERE o_orderkey <= 1400),
        |     u AS (SELECT 'legacy' AS status_grp, k, cents FROM o WHERE k <= 700
        |           UNION ALL
        |           SELECT status, k, cents FROM o WHERE k > 700)
        |SELECT status_grp, count(*) AS n_rows,
        |       CAST(sum(k) AS BIGINT) AS sum_key,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       TRUE AS failed_once_mid_stream,
        |       TRUE AS zero_rows_reemitted
        |FROM u GROUP BY status_grp ORDER BY status_grp""".stripMargin,

    // stream_from_log_mapped: both INSERT vintages reunite under the
    // renamed column; the stream/batch parity law is measured Spark-side
    "stream_from_log_mapped" ->
      """SELECT o_orderstatus AS status, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_pennies,
        |       TRUE AS mapped_stream_equals_batch
        |FROM orders WHERE o_orderkey <= 1400
        |GROUP BY status ORDER BY status""".stripMargin,

    // snapshot_sql_dml_mapped: UPDATE adds 100 cents to every k%10==0
    // row, DELETE removes k in [10,19]; the physical-id and receipt laws
    // are measured Spark-side
    "snapshot_sql_dml_mapped" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders WHERE o_orderkey <= 1400),
        |     u AS (SELECT k, status,
        |                  CASE WHEN k % 10 = 0 THEN cents + 100 ELSE cents END AS pennies
        |           FROM o WHERE NOT (k BETWEEN 10 AND 19))
        |SELECT status, count(*) AS n_orders,
        |       CAST(sum(k) AS BIGINT) AS sum_key,
        |       CAST(sum(pennies) AS BIGINT) AS sum_pennies,
        |       TRUE AS same_physical_column,
        |       TRUE AS update_through_sql
        |FROM u GROUP BY status ORDER BY status""".stripMargin,

    // cdf_mapped: the post-rename insert commit (offset 0) and the
    // delete pre-images (offset 1, drawn from the PRE-rename corpus but
    // served under the new name); the split law is measured Spark-side
    "cdf_mapped" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS pennies
        |           FROM orders),
        |     ch AS (SELECT 0 AS off, 'insert' AS change_type, k, pennies
        |            FROM o WHERE k BETWEEN 1001 AND 1400
        |            UNION ALL
        |            SELECT 1, 'delete', k, pennies FROM o WHERE k <= 50)
        |SELECT change_type, count(*) AS n_rows,
        |       CAST(sum(k) AS BIGINT) AS sum_key,
        |       CAST(sum(pennies) AS BIGINT) AS sum_pennies,
        |       CAST(off AS BIGINT) AS feed_offset,
        |       TRUE AS naming_move_splits_feed
        |FROM ch GROUP BY off, change_type
        |ORDER BY feed_offset, change_type""".stripMargin,

    // cdf_schema_evolution: v1's inserts serve typed-NULL status
    // ('legacy'), the ADD COLUMNS commit (v2) contributes no group, v3's
    // inserts carry real statuses
    "cdf_schema_evolution" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders WHERE o_orderkey <= 3000),
        |     ch AS (SELECT 1 AS v, 'insert' AS ct, 'legacy' AS status_grp, k, cents
        |            FROM o WHERE k <= 1500
        |            UNION ALL
        |            SELECT 3, 'insert', status, k, cents FROM o WHERE k > 1500)
        |SELECT CAST(v AS BIGINT) AS commit_version, ct AS change_type, status_grp,
        |       count(*) AS n_rows,
        |       CAST(sum(k) AS BIGINT) AS sum_key,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM ch GROUP BY v, ct, status_grp
        |ORDER BY commit_version, change_type, status_grp""".stripMargin,

    // snapshot_sql_rename: the renamed column reunites both INSERT halves
    // under the new name; the metadata-only and time-travel laws are
    // measured in the Spark path
    "snapshot_sql_rename" ->
      """SELECT o_orderstatus AS prio, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS rename_metadata_only,
        |       TRUE AS old_name_time_travels
        |FROM orders WHERE o_orderkey <= 4000
        |GROUP BY prio ORDER BY prio""".stripMargin,

    // snapshot_sql_widen: pre-widen rows keep their INT-ranged keys, the
    // post-widen half rides offset past 2^31 — one BIGINT relation; the
    // metadata-only and refusal laws are measured Spark-side
    "snapshot_sql_widen" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders WHERE o_orderkey <= 4000),
        |     u AS (SELECT k, status, cents FROM o WHERE k <= 2000
        |           UNION ALL
        |           SELECT k + 3000000000, status, cents FROM o WHERE k > 2000)
        |SELECT status, count(*) AS n_orders,
        |       CAST(sum(k) AS BIGINT) AS sum_key,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       TRUE AS widen_metadata_only,
        |       TRUE AS narrow_refused,
        |       TRUE AS lossy_refused
        |FROM u GROUP BY status ORDER BY status""".stripMargin,

    // snapshot_sql_ctas_atomic: the CTAS result is the k<=3000 rollup;
    // the single-commit and no-husk laws are measured in the Spark path
    "snapshot_sql_ctas_atomic" ->
      """SELECT o_orderstatus AS status, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS ctas_single_commit,
        |       TRUE AS failed_ctas_left_no_table
        |FROM orders WHERE o_orderkey <= 3000
        |GROUP BY status ORDER BY status""".stripMargin,

    // snapshot_sql_defaults: the three insert waves replay with their
    // default regimes (CREATE-time, post-SET, explicit); the
    // metadata-only law is measured in the Spark path
    "snapshot_sql_defaults" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders WHERE o_orderkey <= 3000),
        |     u AS (SELECT k, 'NONE' AS status, 0 AS cents FROM o WHERE k <= 1500
        |           UNION ALL
        |           SELECT k, 'LATE', 0 FROM o WHERE k > 1500 AND k <= 2000
        |           UNION ALL
        |           SELECT k, status, cents FROM o WHERE k > 2000)
        |SELECT status, count(*) AS n_orders,
        |       CAST(sum(k) AS BIGINT) AS sum_key,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       TRUE AS set_default_metadata_only
        |FROM u GROUP BY status ORDER BY status""".stripMargin,

    // snapshot_sql_rtas_detail: the replaced table is the k<=3000
    // rollup; the single-commit, time-travel, and detail-consistency
    // laws are measured in the Spark path
    "snapshot_sql_rtas_detail" ->
      """SELECT o_orderstatus AS status, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS rtas_single_commit,
        |       TRUE AS old_version_time_travels,
        |       TRUE AS detail_consistent
        |FROM orders WHERE o_orderkey <= 3000
        |GROUP BY status ORDER BY status""".stripMargin,

    // stream_cdf_bounded: the three commits' exact change sets replayed
    // relationally (the snapshot_cdf shape); the trigger-accounting and
    // stream/batch parity laws are measured Spark-side
    "stream_cdf_bounded" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS c
        |           FROM orders),
        |     ch AS (
        |       SELECT 0 AS v, 'insert' AS ct, k, c FROM o WHERE k <= 1000
        |       UNION ALL
        |       SELECT 1, 'insert', k, c FROM o WHERE k BETWEEN 1001 AND 2000
        |       UNION ALL
        |       SELECT 2, 'delete', k, c FROM o WHERE k <= 150)
        |SELECT CAST(v AS BIGINT) AS commit_version, ct AS change_type,
        |       count(*) AS n_rows, CAST(sum(k) AS BIGINT) AS sum_key,
        |       CAST(sum(c) AS BIGINT) AS sum_cents,
        |       TRUE AS one_version_per_trigger,
        |       TRUE AS bounded_feed_equals_batch
        |FROM ch GROUP BY v, ct ORDER BY commit_version, change_type""".stripMargin,

    // snapshot_sql_constraint: both halves reunite (the violating
    // negated-cents batch never committed); the rejection and drop laws
    // are measured in the Spark path
    "snapshot_sql_constraint" ->
      """SELECT o_orderstatus AS status, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS violating_batch_rejected,
        |       TRUE AS constraint_dropped
        |FROM orders WHERE o_orderkey <= 3000
        |GROUP BY status ORDER BY status""".stripMargin,

    // snapshot_sql_analyze: the analyzed table's rollup; the
    // stats-recount law is measured Spark-side
    "snapshot_sql_analyze" ->
      """SELECT o_orderstatus AS status, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS stats_match_recount
        |FROM orders WHERE o_orderkey <= 1400
        |GROUP BY status ORDER BY status""".stripMargin,

    // snapshot_sql_copy_into: the three source files reunite to the
    // k<=1400 corpus exactly once; the idempotency and incremental laws
    // are measured off the receipts
    "snapshot_sql_copy_into" ->
      """SELECT o_orderstatus AS status, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS recopy_skipped_all,
        |       TRUE AS incremental_loaded_new
        |FROM orders WHERE o_orderkey <= 1400
        |GROUP BY status ORDER BY status""".stripMargin,

    // snapshot_sql_merge_evolve: rows k<=500 predate the evolution
    // (NULL prio), the merge updates 501-1000 and inserts 1001-1400
    // with real priorities; the metadata-only and receipt laws are
    // measured Spark-side
    "snapshot_sql_merge_evolve" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |                  o_orderpriority AS prio
        |           FROM orders WHERE o_orderkey <= 1400),
        |     u AS (SELECT k, status, cents, NULL AS prio FROM o WHERE k <= 500
        |           UNION ALL
        |           SELECT k, status, cents, prio FROM o WHERE k > 500)
        |SELECT status, count(*) AS n_orders,
        |       CAST(sum(k) AS BIGINT) AS sum_key,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       count(prio) AS n_with_prio,
        |       TRUE AS evolution_metadata_only,
        |       TRUE AS merge_after_evolution
        |FROM u GROUP BY status ORDER BY status""".stripMargin,

    // snapshot_sql_merge_cond: the table is k<=1000 plus the EVEN keys
    // of (1000, 1400]; the conditional-filter and refusal laws are
    // measured Spark-side
    "snapshot_sql_merge_cond" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders WHERE o_orderkey <= 1400),
        |     u AS (SELECT k, status, cents FROM o WHERE k <= 1000
        |           UNION ALL
        |           SELECT k, status, cents FROM o WHERE k > 1000 AND k % 2 = 0)
        |SELECT status, count(*) AS n_orders,
        |       CAST(sum(k) AS BIGINT) AS sum_key,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       TRUE AS conditional_insert_filtered,
        |       TRUE AS target_ref_refused
        |FROM u GROUP BY status ORDER BY status""".stripMargin,

    // snapshot_sql_merge_nmbs: matched rows (800, 2000] carry cents+5,
    // inserted rows (2000, 2400] the source image, lost even keys are
    // gone, lost odd keys are STALE with original cents; the receipt
    // and refusal laws are measured Spark-side
    "snapshot_sql_merge_nmbs" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders WHERE o_orderkey <= 2400),
        |     u AS (SELECT k, status, cents + 5 AS cents FROM o WHERE k > 800
        |           UNION ALL
        |           SELECT k, 'STALE' AS status, cents FROM o
        |           WHERE k <= 800 AND k % 2 <> 0)
        |SELECT status, count(*) AS n_rows,
        |       CAST(sum(k) AS BIGINT) AS sum_key,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       TRUE AS receipt_ok,
        |       TRUE AS nmbs_source_ref_refused
        |FROM u GROUP BY status ORDER BY status""".stripMargin,

    // snapshot_sql_clone: the clone is the base's pre-update image plus
    // its own (2000, 2600] insert — original cents throughout (the
    // base's post-clone UPDATE must stay invisible); the zero-copy,
    // pinning, and vacuum-refusal laws are measured Spark-side
    "snapshot_sql_clone" ->
      """SELECT o_orderstatus AS status, count(*) AS n_rows,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS receipt_ok,
        |       TRUE AS zero_copy,
        |       TRUE AS tt_clone_pinned,
        |       TRUE AS src_vacuum_refused
        |FROM orders WHERE o_orderkey <= 2600
        |GROUP BY status ORDER BY status""".stripMargin,

    // snapshot_sql_replace_where: the [500,1000] slice carries cents+7
    // (the backfill), everything else the original cents; the receipt,
    // idempotence, and scope-guard laws are measured Spark-side
    "snapshot_sql_replace_where" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT)
        |                    + CASE WHEN o_orderkey BETWEEN 500 AND 1000
        |                           THEN 7 ELSE 0 END AS cents
        |           FROM orders WHERE o_orderkey <= 2000)
        |SELECT status, count(*) AS n_rows,
        |       CAST(sum(k) AS BIGINT) AS sum_key,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       TRUE AS receipt_ok,
        |       TRUE AS rerun_idempotent,
        |       TRUE AS scope_guarded
        |FROM o GROUP BY status ORDER BY status""".stripMargin,

    // stream_identity_sink: ids are exactly 1..N over the drained
    // k<=1800 slice; the self-termination and watermark laws are
    // measured Spark-side
    "stream_identity_sink" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders WHERE o_orderkey <= 1800),
        |     n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM o)
        |SELECT (SELECT c FROM n) AS n_rows,
        |       (SELECT c FROM n) AS n_ids,
        |       CAST(1 AS BIGINT) AS min_id,
        |       (SELECT c FROM n) AS max_id,
        |       (SELECT CAST((c * (c + 1)) // 2 AS BIGINT) FROM n) AS sum_id,
        |       (SELECT CAST(sum(cents) AS BIGINT) FROM o) AS sum_cents,
        |       TRUE AS watermark_recorded""".stripMargin,

    // stream_replace_where: the [500,1000] slice carries cents+7 (the
    // streamed backfill), everything else the original cents; the
    // redelivery-skip law is measured Spark-side
    "stream_replace_where" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT)
        |                    + CASE WHEN o_orderkey BETWEEN 500 AND 1000
        |                           THEN 7 ELSE 0 END AS cents
        |           FROM orders WHERE o_orderkey <= 2000)
        |SELECT status, count(*) AS n_rows,
        |       CAST(sum(k) AS BIGINT) AS sum_key,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       TRUE AS redelivery_skipped
        |FROM o GROUP BY status ORDER BY status""".stripMargin,

    // snapshot_sql_read_mor: the masked SQL read reduces to the
    // delete-filtered rollup; the pushdown law is measured Spark-side
    "snapshot_sql_read_mor" ->
      """SELECT o_orderstatus AS status, count(*) AS n_rows,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS filters_reached_scan
        |FROM orders
        |WHERE o_orderkey <= 2000 AND o_orderkey % 7 <> 0 AND o_orderkey > 100
        |GROUP BY status ORDER BY status""".stripMargin,

    // snapshot_sql_cdf_tvf: inserts are all source rows, deletes are the
    // k%5 slice; the version-window law is measured Spark-side
    "snapshot_sql_cdf_tvf" ->
      """WITH o AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey <= 2000),
        |     c AS (SELECT 'insert' AS _change_type, k FROM o
        |           UNION ALL
        |           SELECT 'delete' AS _change_type, k FROM o WHERE k % 5 = 0)
        |SELECT _change_type, count(*) AS n_rows,
        |       CAST(sum(k) AS BIGINT) AS sum_key,
        |       TRUE AS window_composes
        |FROM c GROUP BY _change_type ORDER BY _change_type""".stripMargin,

    // snapshot_sql_bloom_scan: the point lookup reduces to the smallest
    // source key's rollup; the plan-level skipping and absent-key laws
    // are measured Spark-side
    "snapshot_sql_bloom_scan" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders WHERE o_orderkey <= 2400)
        |SELECT status, count(*) AS n_rows,
        |       CAST(sum(k) AS BIGINT) AS sum_key,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       TRUE AS bloom_files_skipped,
        |       TRUE AS absent_key_empty
        |FROM o WHERE k = (SELECT min(k) FROM o)
        |GROUP BY status ORDER BY status""".stripMargin,

    // snapshot_sql_bloom_dml: merge adds +777 to k<=600, delete drops
    // k>2000, update adds +5 to k<=100; the skipping and
    // sidecar-coverage laws are measured Spark-side
    "snapshot_sql_bloom_dml" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT)
        |                    + CASE WHEN o_orderkey <= 600 THEN 777 ELSE 0 END
        |                    + CASE WHEN o_orderkey <= 100 THEN 5 ELSE 0 END AS cents
        |           FROM orders WHERE o_orderkey <= 2400)
        |SELECT status, count(*) AS n_rows,
        |       CAST(sum(k) AS BIGINT) AS sum_key,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       TRUE AS bloom_files_skipped,
        |       TRUE AS dml_files_bloomed
        |FROM o WHERE k <= 2000
        |GROUP BY status ORDER BY status""".stripMargin,

    // snapshot_sql_copy_into_mapped: the post-rename COPY reunites the
    // k<=2400 corpus under the logical name `pennies`; the idempotency
    // and physical-landing laws are measured Spark-side
    "snapshot_sql_copy_into_mapped" ->
      """SELECT o_orderstatus AS status, count(*) AS n_rows,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_pennies,
        |       TRUE AS recopy_skipped_all,
        |       TRUE AS mapped_physical_landed
        |FROM orders WHERE o_orderkey <= 2400
        |GROUP BY status ORDER BY status""".stripMargin,

    // snapshot_sql_replace_where_mapped: the [500,1000] slice carries
    // pennies+7 under the post-rename logical name; the receipt,
    // idempotence, and physical-landing laws are measured Spark-side
    "snapshot_sql_replace_where_mapped" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT)
        |                    + CASE WHEN o_orderkey BETWEEN 500 AND 1000
        |                           THEN 7 ELSE 0 END AS pennies
        |           FROM orders WHERE o_orderkey <= 2000)
        |SELECT status, count(*) AS n_rows,
        |       CAST(sum(k) AS BIGINT) AS sum_key,
        |       CAST(sum(pennies) AS BIGINT) AS sum_pennies,
        |       TRUE AS receipt_ok,
        |       TRUE AS rerun_idempotent,
        |       TRUE AS mapped_physical_landed
        |FROM o GROUP BY status ORDER BY status""".stripMargin,

    // snapshot_sql_replace_where_mor: keys 100..149 stay dead (their
    // tombstone maskings carry as position deletes), 150..300 serve the
    // replacement (+7) — including the RE-INSERTED tombstoned 150..199 —
    // and everything else is untouched; the materialization and
    // idempotence laws are measured Spark-side
    "snapshot_sql_replace_where_mor" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders WHERE o_orderkey <= 2000),
        |     u AS (SELECT k, status, cents FROM o
        |           WHERE k < 100 OR k > 300
        |           UNION ALL
        |           SELECT k, status, cents + 7 AS cents FROM o
        |           WHERE k BETWEEN 150 AND 300)
        |SELECT status, count(*) AS n_rows,
        |       CAST(sum(k) AS BIGINT) AS sum_key,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       TRUE AS tombstones_materialized,
        |       TRUE AS rerun_idempotent
        |FROM u GROUP BY status ORDER BY status""".stripMargin,

    // snapshot_sql_clone_deep: the clone serves the full k<=2000 corpus
    // with original cents, through the source's overwrite + expire +
    // vacuum + drop; the receipt and survival laws are measured
    // Spark-side
    "snapshot_sql_clone_deep" ->
      """SELECT o_orderstatus AS status, count(*) AS n_rows,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS receipt_ok,
        |       TRUE AS survives_source_vacuum_and_drop
        |FROM orders WHERE o_orderkey <= 2000
        |GROUP BY status ORDER BY status""".stripMargin,

    // snapshot_sql_copy_identity: ids are exactly 1..N over the three
    // loaded files' k<=2400 rows; the exactly-once and continuation
    // laws are measured off the receipts Spark-side
    "snapshot_sql_copy_identity" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders WHERE o_orderkey <= 2400),
        |     n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM o)
        |SELECT (SELECT c FROM n) AS n_rows,
        |       (SELECT c FROM n) AS n_ids,
        |       CAST(1 AS BIGINT) AS min_id,
        |       (SELECT c FROM n) AS max_id,
        |       (SELECT CAST((c * (c + 1)) // 2 AS BIGINT) FROM n) AS sum_id,
        |       (SELECT CAST(sum(cents) AS BIGINT) FROM o) AS sum_cents,
        |       TRUE AS recopy_minted_nothing,
        |       TRUE AS incremental_continued""".stripMargin,

    // snapshot_sql_generated: bucket replays as k % 8 (computed for the
    // NULL half, verified-kept for the provided half); the k<=100 slice
    // carries the post-guard cents+1; refusal laws are measured
    // Spark-side
    "snapshot_sql_generated" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT)
        |                    + CASE WHEN o_orderkey <= 100 THEN 1 ELSE 0 END AS cents
        |           FROM orders WHERE o_orderkey <= 2000)
        |SELECT k % 8 AS bucket, count(*) AS n_rows,
        |       CAST(sum(k) AS BIGINT) AS sum_key,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       TRUE AS mismatch_refused,
        |       TRUE AS dml_guarded
        |FROM o GROUP BY bucket ORDER BY bucket""".stripMargin,

    // snapshot_sql_identity: ids are exactly 1..N over the two inserts,
    // so every aggregate law derives from the row count alone; the
    // explicit-id refusal is measured Spark-side
    "snapshot_sql_identity" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders WHERE o_orderkey <= 2000),
        |     n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM o)
        |SELECT (SELECT c FROM n) AS n_rows,
        |       (SELECT c FROM n) AS n_ids,
        |       CAST(1 AS BIGINT) AS min_id,
        |       (SELECT c FROM n) AS max_id,
        |       (SELECT CAST((c * (c + 1)) // 2 AS BIGINT) FROM n) AS sum_id,
        |       (SELECT CAST(sum(cents) AS BIGINT) FROM o) AS sum_cents,
        |       TRUE AS explicit_refused""".stripMargin,

    // snapshot_bloom_prune: the pruned read reduces to the plain point
    // lookup on the smallest order key; the skip/equality laws are
    // measured Spark-side
    "snapshot_bloom_prune" ->
      """SELECT count(*) AS n_rows,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS skip_happened,
        |       TRUE AS pruned_equals_full
        |FROM orders
        |WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)""".stripMargin,

    // snapshot_sql_cluster_incr: the k-range rollup over the fully
    // reunited corpus; the incremental-rewrite and skipping laws are
    // measured off the receipt and the file manifests
    "snapshot_sql_cluster_incr" ->
      """SELECT o_orderstatus AS status, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS incr_rewrote_only_tail,
        |       TRUE AS files_skipped_after_incr
        |FROM orders WHERE o_orderkey BETWEEN 300 AND 900
        |GROUP BY status ORDER BY status""".stripMargin,

    // snapshot_sql_zorder_2d: the cents-range rollup; both skipping
    // laws are measured off executed plans' file indexes
    "snapshot_sql_zorder_2d" ->
      """SELECT o_orderstatus AS status, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS trailing_dim_skips,
        |       TRUE AS leading_dim_skips
        |FROM orders WHERE o_orderkey <= 1400
        |  AND CAST(floor(o_totalprice * 100) AS BIGINT) BETWEEN 10000000 AND 15000000
        |GROUP BY status ORDER BY status""".stripMargin,

    // snapshot_sql_cluster_on_write: the k-range rollup; the
    // no-OPTIMIZE skipping law is measured off the executed plan
    "snapshot_sql_cluster_on_write" ->
      """SELECT o_orderstatus AS status, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS skipped_without_optimize
        |FROM orders WHERE o_orderkey BETWEEN 300 AND 600
        |GROUP BY status ORDER BY status""".stripMargin,

    // snapshot_sql_optimize_where: content untouched by the scoped
    // rewrite; the carried-byte-identical law is measured off the
    // manifests and stats sidecars
    "snapshot_sql_optimize_where" ->
      """SELECT o_orderstatus AS status, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS out_of_scope_carried
        |FROM orders WHERE o_orderkey <= 1400
        |GROUP BY status ORDER BY status""".stripMargin,

    // stream_constraint_sink: only the CLEAN half (k<=2000) ever
    // commits — the violating negated-cents commit failed its trigger;
    // the failure and version-pin laws are measured Spark-side
    "stream_constraint_sink" ->
      """SELECT o_orderstatus AS status, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS violating_trigger_failed,
        |       TRUE AS dst_version_pinned
        |FROM orders WHERE o_orderkey <= 1000
        |GROUP BY status ORDER BY status""".stripMargin,

    // snapshot_sql_merge_constraint: the violating merge never
    // committed, so the table is the clean merge's image — matched rows
    // (k<=2000) carry cents+7, inserted rows (2001-3000) the source
    // cents; the rejection and upsert laws are measured Spark-side
    "snapshot_sql_merge_constraint" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders WHERE o_orderkey <= 1400),
        |     u AS (SELECT k, status, cents + 7 AS cents FROM o WHERE k <= 1000
        |           UNION ALL
        |           SELECT k, status, cents FROM o WHERE k > 1000)
        |SELECT status, count(*) AS n_orders,
        |       CAST(sum(k) AS BIGINT) AS sum_key,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       TRUE AS violating_merge_rejected,
        |       TRUE AS clean_merge_upserted
        |FROM u GROUP BY status ORDER BY status""".stripMargin,

    // snapshot_sql_merge_compound: matched (k, grp) tuples for k in
    // (500, 1000] carry +777, inserted rows (1000, 1400] the source
    // image; the receipt law is measured Spark-side
    "snapshot_sql_merge_compound" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |                  CASE WHEN o_orderkey % 2 = 0 THEN 'even' ELSE 'odd' END AS grp,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders WHERE o_orderkey <= 1400),
        |     u AS (SELECT k, grp, CASE WHEN k > 500 THEN cents + 777 ELSE cents END AS cents
        |           FROM o)
        |SELECT grp, count(*) AS n_orders,
        |       CAST(sum(k) AS BIGINT) AS sum_key,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       TRUE AS compound_receipt_ok
        |FROM u GROUP BY grp ORDER BY grp""".stripMargin,

    // snapshot_sql_merge_evolve_mapped: rows k<=500 predate the mapped
    // evolution and serve NULL prio; the fresh-physical-id and
    // metadata-only laws are measured Spark-side
    "snapshot_sql_merge_evolve_mapped" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS pennies,
        |                  o_orderpriority AS prio
        |           FROM orders WHERE o_orderkey <= 1400),
        |     u AS (SELECT k, status, pennies, NULL AS prio FROM o WHERE k <= 500
        |           UNION ALL
        |           SELECT k, status, pennies, prio FROM o WHERE k > 500)
        |SELECT status, count(*) AS n_orders,
        |       CAST(sum(k) AS BIGINT) AS sum_key,
        |       CAST(sum(pennies) AS BIGINT) AS sum_pennies,
        |       count(prio) AS n_with_prio,
        |       TRUE AS mapped_evolution_fresh_id,
        |       TRUE AS merge_after_evolution
        |FROM u GROUP BY status ORDER BY status""".stripMargin,

    // snapshot_sql_dml_widened: both vintages lose their [x10, x19] band
    // to the DELETE, every k%10==0 survivor gains 100; post-widening
    // rows carry the +3e9 wide values; the receipt law is measured
    // Spark-side
    "snapshot_sql_dml_widened" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders WHERE o_orderkey <= 1400),
        |     u AS (SELECT k, status,
        |                  (CASE WHEN k > 700 THEN cents + 3000000000 ELSE cents END)
        |                  + (CASE WHEN k % 10 = 0 THEN 100 ELSE 0 END) AS pennies
        |           FROM o
        |           WHERE NOT (k BETWEEN 10 AND 19) AND NOT (k BETWEEN 710 AND 719))
        |SELECT status, count(*) AS n_orders,
        |       CAST(sum(k) AS BIGINT) AS sum_key,
        |       CAST(sum(pennies) AS BIGINT) AS sum_pennies,
        |       TRUE AS widened_update_receipt_ok
        |FROM u GROUP BY status ORDER BY status""".stripMargin,

    // stream_from_log_mapped_widened: pre-widening rows (k<=700) carry
    // the INT32-era cents, post-widening rows the +3e9 wide values; the
    // up-cast parity law is measured Spark-side
    "stream_from_log_mapped_widened" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders WHERE o_orderkey <= 1400),
        |     u AS (SELECT k, status,
        |                  CASE WHEN k > 700 THEN cents + 3000000000 ELSE cents END AS pennies
        |           FROM o)
        |SELECT status, count(*) AS n_orders,
        |       CAST(sum(k) AS BIGINT) AS sum_key,
        |       CAST(sum(pennies) AS BIGINT) AS sum_pennies,
        |       TRUE AS widened_stream_equals_batch
        |FROM u GROUP BY status ORDER BY status""".stripMargin,

    // snapshot_sql_optimize_where_date: content untouched by the scoped
    // rewrite — the monthly rollup re-derives from the raw orders; the
    // pruning law is measured off the receipt and the file listings
    "snapshot_sql_optimize_where_date" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders WHERE o_orderkey <= 1400),
        |     u AS (SELECT k, CASE WHEN k <= 500 THEN DATE '2024-01-15'
        |                         WHEN k <= 1000 THEN DATE '2024-02-15'
        |                         ELSE DATE '2024-03-15' END AS d, cents
        |           FROM o)
        |SELECT d, count(*) AS n_orders,
        |       CAST(sum(k) AS BIGINT) AS sum_key,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       TRUE AS date_scope_pruned
        |FROM u GROUP BY d ORDER BY d""".stripMargin,

    // snapshot_sql_cluster: the clustered table's k-range rollup; the
    // declared-keys and file-skipping laws are measured off the receipt
    // and the executed plan's file index
    "snapshot_sql_cluster" ->
      """SELECT o_orderstatus AS status, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS optimize_used_declared_keys,
        |       TRUE AS files_skipped_after_optimize
        |FROM orders WHERE o_orderkey BETWEEN 1000 AND 2000
        |GROUP BY status ORDER BY status""".stripMargin,

    // txn_consistent_read: the current txn's cross-table join covers the
    // full corpus (halves reunited on both sides); txn0's item count
    // re-derives from the even-key slice; the torn-write / orphan /
    // consistent-cut laws are measured in the Spark path
    "txn_consistent_read" ->
      """SELECT o_orderpriority AS prio,
        |       count(*) AS n_items,
        |       CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_item_cents,
        |       (SELECT count(*) FROM lineitem WHERE l_orderkey % 2 = 0) AS txn0_items,
        |       TRUE AS torn_write_invisible,
        |       TRUE AS orphan_report_exact,
        |       TRUE AS txn0_cut_consistent
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY prio ORDER BY prio""".stripMargin,

    // incremental_consume: the three increments plus the late shifted
    // slice reunite to the whole corpus, screened by the row-local
    // cleaner; processed-row accounting re-derives from the same
    // relation; the no-op / orphan / junk laws are measured Spark-side
    "incremental_consume" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderpriority AS prio,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |u AS (SELECT * FROM o
        |      UNION ALL SELECT k + 100000000, prio, cents FROM o WHERE k % 97 = 0),
        |cleaned AS (SELECT * FROM u WHERE cents % 10 < 8)
        |SELECT prio, count(*) AS n_rows,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       (SELECT count(*) FROM cleaned) AS n_processed_total,
        |       TRUE AS noop_committed_nothing,
        |       TRUE AS orphan_reported,
        |       TRUE AS junk_invisible
        |FROM cleaned GROUP BY prio ORDER BY prio""".stripMargin,

    // maintenance_plan: the advisor counts are fixed by the scripted
    // state (6-file tail, 2 tombstone commits, 9-version chain); the
    // surviving corpus re-derives from the delete residues; the healthy
    // re-plan law is measured Spark-side
    "maintenance_plan" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |surv AS (SELECT * FROM o WHERE k % 32 NOT IN (0, 1)),
        |r AS (SELECT CAST(count(*) AS BIGINT) AS n_rows_final,
        |             CAST(sum(cents) AS BIGINT) AS sum_cents_final FROM surv)
        |SELECT * FROM (
        |  SELECT 'compact' AS action, CAST(2 AS BIGINT) AS n_flagged,
        |         TRUE AS post_plan_healthy, n_rows_final, sum_cents_final FROM r
        |  UNION ALL SELECT 'compact_small', 6, TRUE, n_rows_final, sum_cents_final FROM r
        |  UNION ALL SELECT 'expire_vacuum', 9, TRUE, n_rows_final, sum_cents_final FROM r
        |) ORDER BY action""".stripMargin,

    // compact_small_files: the nine disjoint modular slices reunite to
    // the whole orders corpus; the bin-packing laws are measured in the
    // Spark path and pinned TRUE
    "compact_small_files" ->
      """SELECT CAST(o_orderkey % 7 AS BIGINT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS big_carried, TRUE AS smalls_gone, TRUE AS packed_all
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,

    // snapshot_refs: the three per-ref rollups are modular slices of
    // orders (tag = %3==0, main = +%3==1, dev branch = all); the five
    // ref laws are measured in the Spark path and pinned TRUE
    "snapshot_refs" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders
        |), a AS (
        |  SELECT 'baseline' AS ref, CAST(count(*) AS BIGINT) AS n_rows,
        |         CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM o WHERE k % 3 = 0
        |  UNION ALL
        |  SELECT 'main', CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
        |  FROM o WHERE k % 3 IN (0, 1)
        |  UNION ALL
        |  SELECT 'dev', CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT)
        |  FROM o
        |)
        |SELECT ref, n_rows, sum_cents,
        |       TRUE AS main_unmoved, TRUE AS tag_immutable,
        |       TRUE AS fork_zero_copy, TRUE AS vacuum_shared_safe
        |FROM a ORDER BY ref""".stripMargin,

    // snapshot_concurrent_append: the six racing slices reunite to the
    // whole orders corpus; the multi-writer protocol laws are measured
    // in the Spark path and pinned TRUE here
    "snapshot_concurrent_append" ->
      """SELECT CAST(o_orderkey % 10 AS BIGINT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS all_committed,
        |       TRUE AS chain_monotone,
        |       TRUE AS staged_once
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,

    // snapshot_merge_upsert: anti-join-plus-union merge semantics over
    // the SAME derived update batch (identical truncating integer
    // quarter band and modular screens); rewrite-scope/equality laws
    // measured in the Spark path
    "snapshot_merge_upsert" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |         o_orderpriority AS prio
        |  FROM orders
        |), b AS (SELECT min(k) AS mn, max(k) AS mx FROM base),
        |upd AS (
        |  SELECT k, cents + 1 AS cents, prio FROM base, b
        |  WHERE k <= mn + (mx - mn) // 4 AND k % 7 = 3
        |  UNION ALL
        |  SELECT k + mx + 1000 AS k, cents, prio FROM base, b WHERE k % 13 = 5
        |),
        |merged AS (
        |  SELECT * FROM base WHERE k NOT IN (SELECT k FROM upd)
        |  UNION ALL SELECT * FROM upd
        |)
        |SELECT prio, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       TRUE AS rewrite_bounded, TRUE AS merged_equals_expected
        |FROM merged GROUP BY prio ORDER BY prio""".stripMargin,

    // snapshot_optimize: the clustered rewrite preserves content exactly;
    // the disjoint-range and identity laws are measured from the files
    "snapshot_optimize" ->
      """SELECT o_orderpriority,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS files_disjoint,
        |       TRUE AS rows_identical
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // snapshot_value_prune: the pruned read reduces to the plain
    // priority filter; the skip/equality laws are measured Spark-side
    "snapshot_value_prune" ->
      """SELECT count(*) AS n_orders,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS skip_happened,
        |       TRUE AS pruned_equals_full
        |FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin,

    // snapshot_fk_gate: the surviving child table is the even half plus
    // the odd half with every fk%10==1 key nulled; NULL % 4 stays NULL
    // on both engines; the gate laws are measured Spark-side
    "snapshot_fk_gate" ->
      """WITH it AS (
        |  SELECT l_orderkey AS fk,
        |         CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem
        |), final AS (
        |  SELECT fk, cents FROM it WHERE fk % 2 = 0
        |  UNION ALL
        |  SELECT CASE WHEN fk % 10 = 1 THEN NULL ELSE fk END, cents
        |  FROM it WHERE fk % 2 = 1
        |)
        |SELECT fk % 4 AS fk_bucket,
        |       count(*) AS n_rows,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       TRUE AS orphan_batch_rejected,
        |       TRUE AS child_clean_after_reject
        |FROM final GROUP BY 1 ORDER BY fk_bucket""".stripMargin,

    // txn_history: six deterministic (txn, table) rows — versions and
    // advanced flags from the scripted anchors, counts from the modular
    // slices
    "txn_history" ->
      """WITH c AS (SELECT
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0) AS oe,
        |  (SELECT count(*) FROM orders) AS of,
        |  (SELECT count(*) FROM lineitem WHERE l_orderkey % 2 = 0) AS le,
        |  (SELECT count(*) FROM lineitem) AS lf)
        |SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS txn, 'lineitem' AS table_name,
        |         CAST(0 AS BIGINT) AS version, TRUE AS advanced,
        |         CAST(le AS BIGINT) AS n_rows FROM c
        |  UNION ALL SELECT 0, 'orders', 0, TRUE, oe FROM c
        |  UNION ALL SELECT 1, 'lineitem', 0, FALSE, le FROM c
        |  UNION ALL SELECT 1, 'orders', 1, TRUE, of FROM c
        |  UNION ALL SELECT 2, 'lineitem', 1, TRUE, lf FROM c
        |  UNION ALL SELECT 2, 'orders', 1, FALSE, of FROM c
        |) ORDER BY txn, table_name""".stripMargin,

    // txn_gc: the pinned txn reads the whole corpus after the crashed
    // suffix is collected; the GC laws are measured Spark-side
    "txn_gc" ->
      """SELECT o_orderpriority AS prio,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS gc_dropped_exact,
        |       TRUE AS orphan_files_reclaimed,
        |       TRUE AS gc_idempotent,
        |       TRUE AS anchored_reads_intact
        |FROM orders GROUP BY prio ORDER BY prio""".stripMargin,

    // stream_txn_ingest: the two routed halves reunite to the whole
    // events input; the txn-cut laws are measured Spark-side from the
    // catalog itself
    "stream_txn_ingest" ->
      """SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(event_id) AS BIGINT) AS sum_ids,
        |       TRUE AS txns_dense,
        |       TRUE AS cuts_monotone,
        |       TRUE AS final_cut_complete,
        |       TRUE AS no_orphan_versions
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // stream_snapshot_ingest: the final committed version must hold the
    // whole input exactly; the version-history laws are measured
    // Spark-side from the log itself
    "stream_snapshot_ingest" ->
      """SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(event_id) AS BIGINT) AS sum_ids,
        |       TRUE AS versions_dense,
        |       TRUE AS history_monotone
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // snapshot_delete_rows: the surviving-row rollup after the tombstone
    // delete; the four storage laws are measured Spark-side (manifest
    // set-equality, pinned-read count, exceptAll row identity)
    "snapshot_delete_rows" ->
      """SELECT o_orderpriority,
        |       count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |       TRUE AS no_rewrite_on_delete,
        |       TRUE AS v0_intact,
        |       TRUE AS tombstones_compacted,
        |       TRUE AS compact_preserves_rows
        |FROM orders WHERE o_orderkey % 10 <> 7
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // kanon_audit: violating equivalence classes + global risk metrics;
    // the suppression re-audit law is measured Spark-side
    // dp_counts: identical 32-bit hash draw, identical exact integer CDF
    // thresholds (interpolated from the SAME Scala constants), identical
    // noise — the release replays bit-for-bit
    // pii_scan: identical text construction, identical RE2-safe regex
    // text, identical taxonomy-order masking — counts and the masked
    // length replay exactly
    "pii_scan" ->
      """WITH t AS (
        |  SELECT c_mktsegment,
        |         c_name || ' call ' ||
        |         (c_custkey % 90 + 10)::VARCHAR || '-' ||
        |         (c_custkey * 3 % 900 + 100)::VARCHAR || '-' ||
        |         (c_custkey * 11 % 900 + 100)::VARCHAR || '-' ||
        |         (c_custkey * 17 % 9000 + 1000)::VARCHAR || ' or ' ||
        |         lower(regexp_replace(c_name, '[^A-Za-z0-9]', '', 'g')) ||
        |         '@example.com from ' ||
        |         (c_custkey % 256)::VARCHAR || '.' ||
        |         (c_custkey * 7 % 256)::VARCHAR || '.' ||
        |         (c_custkey * 13 % 256)::VARCHAR || '.' ||
        |         (c_custkey * 29 % 256)::VARCHAR ||
        |         ' acct ' || (c_custkey + 100000000)::VARCHAR AS text
        |  FROM customer
        |), scanned AS (
        |  SELECT c_mktsegment,
        |    len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |    len(regexp_extract_all(text, '\b\d{2}-\d{3}-\d{3}-\d{4}\b')) AS n_phone,
        |    len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
        |    len(regexp_extract_all(text, '\b\d{9,16}\b')) AS n_idnum,
        |    length(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{2}-\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |      '\b\d{9,16}\b', '<ID>', 'g')) AS mlen
        |  FROM t
        |)
        |SELECT c_mktsegment, count(*) AS n_rows,
        |       CAST(sum(n_email) AS BIGINT) AS emails,
        |       CAST(sum(n_phone) AS BIGINT) AS phones,
        |       CAST(sum(n_ipv4) AS BIGINT) AS ipv4s,
        |       CAST(sum(n_idnum) AS BIGINT) AS idnums,
        |       CAST(sum(mlen) AS BIGINT) AS masked_len
        |FROM scanned GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "dp_counts" -> {
      val chain = graft.operators.Privacy.DpGeomThresholds.init
        .map { case (k, t) => s"WHEN h < ${t} THEN ${k}" }.mkString("\n        |         ")
      s"""WITH g AS (
         |  SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS week,
         |         CAST(count(*) AS BIGINT) AS n_true
         |  FROM events GROUP BY 1, 2
         |), hx AS (
         |  SELECT *, ('0x' || substr(md5('graft-dp-r11' || '|' ||
         |             coalesce(event_type, '␀') || '|' ||
         |             coalesce(CAST(week AS VARCHAR), '␀')), 1, 8))::BIGINT AS h
         |  FROM g
         |), nz AS (
         |  SELECT event_type, week, n_true,
         |         CAST(CASE $chain ELSE 16 END AS BIGINT) AS noise
         |  FROM hx
         |)
         |SELECT event_type, week, n_true, noise, n_true + noise AS n_noisy,
         |       abs(noise) <= 16 AS noise_within_tail
         |FROM nz ORDER BY event_type, week""".stripMargin
    },

    "kanon_audit" ->
      """WITH q AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         CAST(floor(value / 50) AS BIGINT) AS vbucket
        |  FROM events
        |), c AS (
        |  SELECT event_type, day, vbucket, CAST(count(*) AS BIGINT) AS class_size
        |  FROM q GROUP BY 1, 2, 3
        |), m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_classes,
        |         CAST(sum(CASE WHEN class_size < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
        |         CAST(sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END) AS BIGINT) AS n_rows_at_risk
        |  FROM c
        |)
        |SELECT c.event_type, c.day, c.vbucket, c.class_size,
        |       m.n_classes, m.n_violating, m.n_rows_at_risk,
        |       TRUE AS post_suppression_clean
        |FROM c CROSS JOIN m
        |WHERE c.class_size < 5
        |ORDER BY c.event_type, c.day, c.vbucket""".stripMargin,

    // ldiv_audit: identical quasi classes, distinct-user diversity
    "ldiv_audit" ->
      """WITH q AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         CAST(floor(value / 50) AS BIGINT) AS vbucket, user_id
        |  FROM events
        |), c AS (
        |  SELECT event_type, day, vbucket,
        |         CAST(count(*) AS BIGINT) AS class_size,
        |         CAST(count(DISTINCT user_id) AS BIGINT) AS n_sensitive
        |  FROM q GROUP BY 1, 2, 3
        |), m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_classes,
        |         CAST(sum(CASE WHEN n_sensitive < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
        |         CAST(sum(CASE WHEN n_sensitive < 3 THEN class_size ELSE 0 END) AS BIGINT) AS n_rows_at_risk
        |  FROM c
        |)
        |SELECT c.event_type, c.day, c.vbucket, c.class_size, c.n_sensitive,
        |       m.n_classes, m.n_violating, m.n_rows_at_risk
        |FROM c CROSS JOIN m
        |WHERE c.n_sensitive < 3
        |ORDER BY c.event_type, c.day, c.vbucket""".stripMargin,

    // result_cache: the post-append rollup over ALL orders (both
    // appended thirds); the five cache laws are measured Spark-side
    // (hit flags, compute counter, exceptAll, prune listing)
    "result_cache" ->
      """SELECT o_orderpriority,
        |       count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS first_miss_then_hit,
        |       TRUE AS hit_equals_fresh,
        |       TRUE AS append_invalidates,
        |       TRUE AS computes_bounded,
        |       TRUE AS prune_drops_dead_only
        |FROM orders
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // snapshot_pos_delete: survivors = every order whose key misses the
    // deleted residue, plus the SAME keys re-inserted as status 'X' (the
    // file-scoped-delete contrast with equality tombstones); the four
    // storage laws are measured Spark-side
    "snapshot_pos_delete" ->
      """WITH survivors AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        |  FROM orders WHERE o_orderkey % 10 <> 3
        |  UNION ALL
        |  SELECT o_orderkey, 'X', o_totalprice, o_orderpriority
        |  FROM orders WHERE o_orderkey % 10 = 3
        |)
        |SELECT o_orderstatus,
        |       count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |       TRUE AS no_rewrite_on_delete,
        |       TRUE AS reinserted_visible,
        |       TRUE AS pos_files_compacted,
        |       TRUE AS compact_preserves_rows
        |FROM survivors
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // snapshot_schema_evolved: latest = both halves with tier only on the
    // evolved (odd) half — old files must serve NULL for the added
    // column; the pinned-v0-schema law is measured Spark-side
    "snapshot_schema_evolved" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(CASE WHEN doc_id % 2 <> 0 THEN 1 END) AS BIGINT) AS n_with_tier,
        |       CAST(sum(CASE WHEN doc_id % 2 <> 0 THEN n_chars % 3 END) AS BIGINT) AS sum_tier,
        |       TRUE AS pinned_schema_unevolved
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // snapshot_rename_col: the stitched-vintage rollup — all docs under
    // the renamed column, the pre-rename share split out; the
    // metadata-only and time-travel laws are measured Spark-side
    "snapshot_rename_col" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(CASE WHEN doc_id % 2 = 0 THEN n_chars END) AS BIGINT)
        |         AS sum_chars_prerename,
        |       TRUE AS rename_metadata_only,
        |       TRUE AS pre_rename_vintage_ok
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // snapshot_widen_col: both vintages under one BIGINT — the odd half
    // shifted beyond int range; the metadata-only and schema laws ride
    // Spark-side
    "snapshot_widen_col" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN doc_id % 2 = 0 THEN n_chars
        |                     ELSE n_chars + 3000000000 END) AS BIGINT)
        |         AS sum_chars_wide,
        |       TRUE AS widen_metadata_only,
        |       TRUE AS reads_as_bigint
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // snapshot_delete_where: survivors of the predicate delete with the
    // urgent rows' cents doubled by the update; the no-rewrite /
    // idempotence / atomicity / pinned-vintage laws ride Spark-side
    "snapshot_delete_where" ->
      """WITH t AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CAST(floor(o_totalprice * 100) AS BIGINT) *
        |           (CASE WHEN o_orderpriority = '1-URGENT' THEN 2 ELSE 1 END) AS cents
        |  FROM orders WHERE o_orderkey % 7 <> 1
        |)
        |SELECT o_orderstatus, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       TRUE AS no_rewrite_on_delete,
        |       TRUE AS delete_idempotent,
        |       TRUE AS update_atomic,
        |       TRUE AS pre_update_vintage_pinned
        |FROM t GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // snapshot_optimize_absorb: same masked content as the delete+update
    // pipeline — the absorb laws (zero tombstone lines, view equality,
    // pinned pre-optimize reads) are measured Spark-side
    "snapshot_optimize_absorb" ->
      """WITH t AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CAST(floor(o_totalprice * 100) AS BIGINT) *
        |           (CASE WHEN o_orderpriority = '1-URGENT' THEN 2 ELSE 1 END) AS cents
        |  FROM orders WHERE o_orderkey % 7 <> 1
        |)
        |SELECT o_orderstatus, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       TRUE AS tombstones_absorbed,
        |       TRUE AS view_preserved,
        |       TRUE AS pinned_pre_readable
        |FROM t GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // snapshot_optimize_incr: the full corpus survives the incremental
    // rewrite; the batch-sized-rewrite and carried-untouched laws are
    // measured Spark-side
    "snapshot_optimize_incr" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       TRUE AS only_fresh_rewritten,
        |       TRUE AS clustered_untouched,
        |       TRUE AS content_preserved,
        |       TRUE AS noop_when_clustered
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // snapshot_merge_full: replay all four clause effects relationally —
    // matched-non-F rows accumulate source cents, matched-F rows vanish,
    // stale unmatched-by-source rows vanish, source-only keys insert;
    // the atomicity and metrics laws are measured Spark-side
    "snapshot_merge_full" ->
      """WITH t AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status,
        |         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey % 4 <> 3
        |), s AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status,
        |         CAST(floor(o_totalprice * 100) AS BIGINT) + 7 AS cents
        |  FROM orders WHERE o_orderkey % 2 = 1
        |), merged AS (
        |  SELECT t.k, t.status, t.cents + s.cents AS cents
        |  FROM t JOIN s ON t.k = s.k WHERE t.status <> 'F'
        |  UNION ALL
        |  SELECT t.k, t.status, t.cents FROM t
        |  WHERE t.k % 2 = 0 AND NOT (t.status = 'O' AND t.k % 10 = 0)
        |  UNION ALL
        |  SELECT s.k, s.status, s.cents FROM s WHERE s.k % 4 = 3
        |)
        |SELECT status, count(*) AS n_rows,
        |       CAST(sum(k) AS BIGINT) AS sum_key,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       TRUE AS single_atomic_commit,
        |       TRUE AS metrics_match
        |FROM merged GROUP BY status ORDER BY status""".stripMargin,

    // stats_join_order3: the star rollup through both derived dims; the
    // ordering, estimate-ranking, and plan-shape laws are measured
    // Spark-side
    "stats_join_order3" ->
      """WITH ev AS (
        |  SELECT user_id, event_type,
        |         CAST(floor(coalesce(value, 0.0) * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type IS NOT NULL
        |), dima AS (
        |  SELECT DISTINCT user_id, user_id % 3 AS tier FROM ev
        |  WHERE user_id % 10 = 0
        |), dimb AS (
        |  SELECT DISTINCT event_type,
        |         CASE WHEN event_type IN ('purchase', 'cart') THEN 'commerce'
        |              ELSE 'browse' END AS type_class
        |  FROM ev
        |)
        |SELECT a.tier, b.type_class, count(*) AS n_events,
        |       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
        |       CAST(sum(e.cents) AS BIGINT) AS sum_cents,
        |       TRUE AS selective_dim_joined_first,
        |       TRUE AS estimate_ranked_correctly,
        |       TRUE AS both_dims_broadcast
        |FROM ev e
        |JOIN dima a ON e.user_id = a.user_id
        |JOIN dimb b ON e.event_type = b.event_type
        |GROUP BY a.tier, b.type_class
        |ORDER BY tier, type_class""".stripMargin,

    // snapshot_sql_read: same rollup over the range-filtered orders; the
    // plan-shape and API-equality laws are measured Spark-side
    "snapshot_sql_read" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS plan_is_v2_scan,
        |       TRUE AS filter_pushed_to_scan,
        |       TRUE AS equals_api_read
        |FROM orders WHERE o_orderkey >= 1000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // snapshot_sql_insert: the whole documents set (base append + SQL
    // insert of the odd half); commit-atomicity and refusal laws are
    // measured Spark-side
    "snapshot_sql_insert" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       TRUE AS insert_single_commit,
        |       TRUE AS api_sees_sql_insert,
        |       TRUE AS overwrite_refused
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // snapshot_sql_delete: survivors of the key-range delete; the
    // commit-atomicity, scan-clean, and file-carry laws are measured
    // Spark-side
    "snapshot_sql_delete" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS delete_single_commit,
        |       TRUE AS scan_clean_after_delete,
        |       TRUE AS ungrazed_files_carried
        |FROM orders WHERE o_orderkey > 700
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // snapshot_sql_update: the key-range rows ride the SET arithmetic
    // (+100 cents, lowered status — status moves BETWEEN groups); the
    // atomicity and merge-on-read laws are measured Spark-side
    "snapshot_sql_update" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       TRUE AS update_single_commit, TRUE AS update_sized_mor
        |FROM (SELECT CASE WHEN o_orderkey % 10 = 0 THEN lower(o_orderstatus)
        |                  ELSE o_orderstatus END AS o_orderstatus,
        |             CAST(floor(o_totalprice * 100) AS BIGINT)
        |               + CASE WHEN o_orderkey % 10 = 0 THEN 100 ELSE 0 END AS cents
        |      FROM orders)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // snapshot_sql_merge: the four-clause MERGE replayed relationally —
    // survivors of the matched-delete and NMBS-delete, matched updates
    // reading source cents, plus the inserted unmatched source rows
    "snapshot_sql_merge" ->
      """WITH t AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS c
        |           FROM orders WHERE o_orderkey <= 2000),
        |     s AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) + 7 AS c
        |           FROM orders WHERE o_orderkey BETWEEN 1001 AND 3000),
        |     merged AS (
        |       SELECT t.k, t.st,
        |              CASE WHEN s.k IS NOT NULL THEN s.c + 1000 ELSE t.c END AS c
        |       FROM t LEFT JOIN s ON t.k = s.k
        |       WHERE NOT (s.k IS NOT NULL AND t.st = 'F')
        |         AND NOT (s.k IS NULL AND t.k <= 300)
        |       UNION ALL
        |       SELECT s.k, s.st, s.c FROM s LEFT JOIN t ON s.k = t.k
        |       WHERE t.k IS NULL)
        |SELECT st AS o_orderstatus, count(*) AS n_rows,
        |       CAST(sum(k) AS BIGINT) AS sum_key,
        |       CAST(sum(c) AS BIGINT) AS sum_cents,
        |       TRUE AS merge_single_commit, TRUE AS scan_clean_after_merge
        |FROM merged GROUP BY st ORDER BY st""".stripMargin,

    // snapshot_sql_dml_native: the spark.sql UPDATE-then-MERGE state
    // replayed relationally; receipt laws measured Spark-side
    "snapshot_sql_dml_native" ->
      """SELECT o_orderstatus, count(*) AS n_rows,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       TRUE AS update_receipt_ok, TRUE AS merge_receipt_ok
        |FROM (
        |  SELECT o_orderkey, o_orderstatus,
        |         CASE WHEN o_orderkey <= 1000 THEN
        |                c0 + CASE WHEN o_orderkey % 10 = 0 THEN 100 ELSE 0 END
        |              WHEN o_orderkey <= 2000 THEN c0 + 7 + 1000
        |              ELSE c0 + 7 END AS cents
        |  FROM (SELECT o_orderkey, o_orderstatus,
        |               CAST(floor(o_totalprice * 100) AS BIGINT) AS c0
        |        FROM orders WHERE o_orderkey <= 3000))
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // snapshot_sql_ddl: the CTAS table's content replayed relationally;
    // the metadata-commit and empty-read laws are measured Spark-side
    "snapshot_sql_ddl" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS empty_create_readable, TRUE AS create_is_metadata_commit
        |FROM orders WHERE o_orderkey <= 2000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // snapshot_sql_alter: relational replay — pre-alter rows (key <=
    // 2000) carry NULL cents, post-alter inserts carry real values; the
    // metadata-only law is measured Spark-side
    "snapshot_sql_alter" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       CAST(sum(CASE WHEN cents IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_legacy,
        |       CAST(coalesce(sum(cents), 0) AS BIGINT) AS sum_cents,
        |       TRUE AS alter_metadata_only
        |FROM (
        |  SELECT o_orderstatus,
        |         CASE WHEN o_orderkey <= 2000 THEN NULL
        |              ELSE CAST(floor(o_totalprice * 100) AS BIGINT) END AS cents
        |  FROM orders WHERE o_orderkey <= 4000)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // snapshot_sql_overwrite: the post-truncate refill replayed
    // relationally; the time-travel and empty-read laws are measured
    // Spark-side
    "snapshot_sql_overwrite" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS overwrite_time_travels,
        |       TRUE AS truncate_empty_readable
        |FROM orders WHERE o_orderkey BETWEEN 2001 AND 3000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // snapshot_sql_maintenance: the table content replayed relationally
    // — OPTIMIZE/ZORDER/VACUUM must not change one row; the maintenance
    // laws are measured Spark-side
    "snapshot_sql_maintenance" ->
      """SELECT o_orderstatus AS status, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS optimize_packed, TRUE AS zorder_rewrote,
        |       TRUE AS history_complete, TRUE AS vacuum_swept,
        |       TRUE AS dry_run_preview_exact
        |FROM orders WHERE o_orderkey <= 4000
        |GROUP BY status ORDER BY status""".stripMargin,

    // snapshot_sql_skip: the key-range rollup replayed relationally; the
    // strict-subset file-skipping law is measured off the executed plan
    "snapshot_sql_skip" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS files_skipped_at_manifest
        |FROM orders WHERE o_orderkey BETWEEN 1000 AND 3000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // snapshot_sql_meta: the history is fully deterministic (two
    // 2-file appends, one posdel delete, one compact to a single file)
    // — the oracle pins every row as literals; plan/files laws measured
    // Spark-side
    "snapshot_sql_meta" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), 'append',  2, 0, 0, 2, TRUE, TRUE),
        |  (CAST(1 AS BIGINT), 'append',  2, 0, 0, 4, TRUE, TRUE),
        |  (CAST(2 AS BIGINT), 'delete',  0, 1, 0, 5, TRUE, TRUE),
        |  (CAST(3 AS BIGINT), 'rewrite', 1, 0, 5, 1, TRUE, TRUE)
        |) AS t(version, operation, added_data, added_tombstones,
        |       removed, files_total, plan_is_local_scan,
        |       files_table_consistent)
        |ORDER BY version""".stripMargin,

    // snapshot_sql_drop: the narrow post-drop relation replayed; the
    // metadata-only / travel / resurrection laws are measured Spark-side
    "snapshot_sql_drop" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       TRUE AS drop_metadata_only, TRUE AS travel_keeps_wide,
        |       TRUE AS resurrection_refused
        |FROM orders WHERE o_orderkey <= 3000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // snapshot_cdf: every version's change set replayed relationally;
    // the UPDATE is a pre-image delete + post-image insert pair under
    // v3, and the compact (v4) contributes NO group at all
    "snapshot_cdf" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS c
        |           FROM orders),
        |     ch AS (
        |       SELECT 0 AS v, 'insert' AS ct, k, c FROM o WHERE k <= 1000
        |       UNION ALL
        |       SELECT 1, 'insert', k, c FROM o WHERE k BETWEEN 1001 AND 2000
        |       UNION ALL
        |       SELECT 2, 'delete', k, c FROM o WHERE k <= 200
        |       UNION ALL
        |       SELECT 3, 'delete', k, c FROM o WHERE k BETWEEN 500 AND 600
        |       UNION ALL
        |       SELECT 3, 'insert', k, c + 5 FROM o WHERE k BETWEEN 500 AND 600)
        |SELECT CAST(v AS BIGINT) AS commit_version, ct AS change_type,
        |       count(*) AS n_rows, CAST(sum(k) AS BIGINT) AS sum_key,
        |       CAST(sum(c) AS BIGINT) AS sum_cents
        |FROM ch GROUP BY v, ct ORDER BY commit_version, change_type""".stripMargin,

    // cdc_mirror: the mirror's final state replayed relationally — the
    // source after delete(<=200), update(500..600 +5), both appends;
    // equality and txn-cadence laws are measured Spark-side
    "cdc_mirror" ->
      """SELECT o_orderstatus, count(*) AS n_rows,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)
        |             + CASE WHEN o_orderkey BETWEEN 500 AND 600 THEN 5
        |                    ELSE 0 END) AS BIGINT) AS sum_cents,
        |       TRUE AS mirror_equals_source, TRUE AS one_txn_per_cycle
        |FROM orders WHERE o_orderkey <= 2000 AND o_orderkey > 200
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // snapshot_sql_travel: the v0 arm is the even-doc_id half, the
    // current arm the whole table; travel-equality laws measured
    // Spark-side
    "snapshot_sql_travel" ->
      """WITH v0 AS (
        |  SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM documents WHERE doc_id % 2 = 0 GROUP BY lang
        |), cur AS (
        |  SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM documents GROUP BY lang
        |), u AS (
        |  SELECT lang, 'v0' AS arm, n_docs, sum_chars FROM v0
        |  UNION ALL
        |  SELECT lang, 'current' AS arm, n_docs, sum_chars FROM cur
        |)
        |SELECT lang, arm, n_docs, sum_chars,
        |       TRUE AS version_travel_equals_api,
        |       TRUE AS timestamp_travel_equals_version
        |FROM u ORDER BY arm, lang""".stripMargin,

    // snapshot_merge_mor: the masked target (delete applied) through the
    // same three clauses; mask-carry, no-resurrection, and
    // route-equivalence laws are measured Spark-side
    "snapshot_merge_mor" ->
      """WITH t AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status,
        |         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders
        |  WHERE o_orderkey % 4 <> 3 AND o_orderkey % 5 <> 0
        |    AND o_orderkey <= 50000
        |), s AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status,
        |         CAST(floor(o_totalprice * 100) AS BIGINT) + 7 AS cents
        |  FROM orders WHERE o_orderkey % 2 = 1 AND o_orderkey <= 50000
        |), merged AS (
        |  SELECT t.k, t.status, t.cents + s.cents AS cents
        |  FROM t JOIN s ON t.k = s.k WHERE t.status <> 'F'
        |  UNION ALL
        |  SELECT t.k, t.status, t.cents FROM t
        |  WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.k = t.k)
        |  UNION ALL
        |  SELECT s.k, s.status, s.cents FROM s
        |  WHERE NOT EXISTS (SELECT 1 FROM t WHERE t.k = s.k)
        |)
        |SELECT status, count(*) AS n_rows,
        |       CAST(sum(k) AS BIGINT) AS sum_key,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       TRUE AS no_compact_needed,
        |       TRUE AS equals_compact_first_route
        |FROM merged GROUP BY status ORDER BY status""".stripMargin,

    // snapshot_dv_read: survivors of both predicate deletes; the
    // bitwise-equality, metadata-only, and plan-shape laws are measured
    // Spark-side
    "snapshot_dv_read" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       TRUE AS dv_equals_antijoin,
        |       TRUE AS metadata_only,
        |       TRUE AS posdels_collapsed_to_one_dv,
        |       TRUE AS read_plan_has_no_join
        |FROM orders
        |WHERE o_orderkey % 7 <> 1 AND o_orderkey % 11 <> 3
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // vacuum_retention_travel: the final snapshot is the full documents
    // set; the collection, retained-read, and loud-failure laws are
    // measured Spark-side
    "vacuum_retention_travel" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       TRUE AS expired_files_collected,
        |       TRUE AS retained_reads_survive_vacuum,
        |       TRUE AS expired_read_fails_loudly
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // stats_join_order: the per-tier rollup through the derived user dim;
    // the stats-exactness and plan-shape laws are measured Spark-side
    "stats_join_order" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(floor(coalesce(value, 0.0) * 100) AS BIGINT) AS cents
        |  FROM events
        |), dim AS (
        |  SELECT DISTINCT user_id, user_id % 4 AS tier FROM ev
        |)
        |SELECT d.tier, count(*) AS n_events,
        |       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
        |       CAST(sum(e.cents) AS BIGINT) AS sum_cents,
        |       TRUE AS stats_exact,
        |       TRUE AS dim_chosen_as_build,
        |       TRUE AS plan_broadcasts_build,
        |       TRUE AS build_key_unique
        |FROM ev e JOIN dim d USING (user_id)
        |GROUP BY d.tier ORDER BY d.tier""".stripMargin,

    // vacuum_orphans: the four vacuum laws are measured Spark-side (set
    // equalities over actual deleted paths) and pinned TRUE; the surviving
    // snapshot must hold the corpus exactly
    "vacuum_orphans" ->
      """SELECT TRUE AS aborted_collected_exactly,
        |       TRUE AS v0_readable_after_vacuum,
        |       TRUE AS expired_collected_exactly,
        |       TRUE AS vacuum_idempotent,
        |       count(*) AS n_docs,
        |       count(DISTINCT doc_id) AS n_distinct,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents""".stripMargin,

    // bloom_manifest_scan: replay the hash-scattered file layout, every
    // file's bloom bit set, the all-bits-present candidate selection, the
    // no-false-negative law, and the lookup answers over candidate files
    "bloom_manifest_scan" ->
      s"""WITH n AS (SELECT greatest(1, CAST(ceil(count(*) / $BloomRowsPerFile.0) AS BIGINT)) AS n_files
         |           FROM events),
         |f AS (
         |  SELECT event_id, value,
         |         ('0x' || substr(md5(CAST(event_id AS VARCHAR) || '#f'), 1, 8))::BIGINT
         |           % (SELECT n_files FROM n) AS file_id
         |  FROM events
         |),
         |mb AS (
         |  SELECT DISTINCT file_id,
         |         ('0x' || substr(md5(CAST(event_id AS VARCHAR) || '#b' || CAST(j AS VARCHAR)), 1, 8))::BIGINT % $BloomM AS bit
         |  FROM f, generate_series(1, $BloomK) t(j)
         |),
         |p AS (SELECT event_id AS probe_id FROM events WHERE event_id % $BloomProbeMod = 0),
         |pb AS (
         |  SELECT DISTINCT probe_id,
         |         ('0x' || substr(md5(CAST(probe_id AS VARCHAR) || '#b' || CAST(j AS VARCHAR)), 1, 8))::BIGINT % $BloomM AS bit
         |  FROM p, generate_series(1, $BloomK) t(j)
         |),
         |nb AS (SELECT probe_id, count(*) AS nb FROM pb GROUP BY 1),
         |cand AS (
         |  SELECT pb.probe_id, mb.file_id, count(*) AS hits
         |  FROM pb JOIN mb USING (bit) GROUP BY 1, 2
         |),
         |cand2 AS (
         |  SELECT c.probe_id, c.file_id
         |  FROM cand c JOIN nb USING (probe_id) WHERE c.hits = nb.nb
         |),
         |agg AS (
         |  SELECT c.probe_id,
         |         count(*) AS n_files_candidate,
         |         max(CASE WHEN c.file_id =
         |             ('0x' || substr(md5(CAST(c.probe_id AS VARCHAR) || '#f'), 1, 8))::BIGINT % (SELECT n_files FROM n)
         |           THEN 1 ELSE 0 END) AS hit_true
         |  FROM cand2 c GROUP BY 1
         |),
         |found AS (
         |  SELECT f.event_id AS probe_id, count(*) AS n_found, round(sum(f.value), 2) AS value_sum
         |  FROM f JOIN p ON f.event_id = p.probe_id
         |  WHERE f.file_id IN (SELECT file_id FROM cand2)
         |  GROUP BY 1
         |)
         |SELECT p.probe_id, (SELECT n_files FROM n) AS n_files_total,
         |       a.n_files_candidate, a.hit_true = 1 AS no_false_negative,
         |       fo.n_found, fo.value_sum
         |FROM p JOIN agg a USING (probe_id) JOIN found fo USING (probe_id)
         |ORDER BY probe_id""".stripMargin,

    // zorder_prune: the generated replay of the exact rank-bucket →
    // interleave → equal-count-file → zone-map pipeline (Layout
    // .scanEfficiencySql) over the same geometry constants
    "zorder_prune" -> Layout.scanEfficiencySql(
      "SELECT user_id AS x, date_part('day', ts) AS y FROM events",
      ZDimBits, ZFileBits, ZXLo, ZXHi, ZYLo, ZYHi),

    // hilbert_prune: the same generated replay with the stateful Hilbert
    // xy2d unroll threaded through (two CTEs per bit level)
    "hilbert_prune" -> Layout.scanEfficiencyHilbertSql(
      "SELECT user_id AS x, date_part('day', ts) AS y FROM events",
      ZDimBits, ZFileBits, ZXLo, ZXHi, ZYLo, ZYHi),

    // zorder_write_read: replay the rank-bucket → key → equal-count file
    // assignment to predict the written file counts, plus the
    // layout-invariant box aggregate over the source rows
    "zorder_write_read" -> Layout.writeReadSql(
      "SELECT user_id AS x, date_part('day', ts) AS y FROM events",
      ZDimBits, ZFileBits, ZXLo, ZXHi, ZYLo, ZYHi),

    // zorder_manifest_scan: replay file assignment → zone boxes →
    // box-intersection skip count → aggregate over the selected files only
    "zorder_manifest_scan" -> Layout.manifestScanSql(
      "SELECT user_id AS x, date_part('day', ts) AS y FROM events",
      ZDimBits, ZFileBits, ZXLo, ZXHi, ZYLo, ZYHi),

    // mv_join_incremental: the plain recomputed join rollup; the
    // incremental-equals-recompute law is measured in the Spark path
    "mv_join_incremental" ->
      """SELECT c_mktsegment AS seg,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
        |       TRUE AS incremental_equals_recompute
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY seg""".stripMargin,

    // mv_retract: the maintained route must equal the recompute over
    // (base minus retracted 'error' rows) ∪ inserts, so the oracle IS that
    // recompute with the law column TRUE
    "mv_retract" ->
      s"""WITH wk AS (
         |  SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
         |         CAST(ts AS DATE) AS d,
         |         CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         |         event_type
         |  FROM events
         |), fin AS (
         |  SELECT * FROM wk
         |  WHERE (d < DATE '$MvCut' AND event_type <> 'error') OR d >= DATE '$MvCut'
         |)
         |SELECT week, count(*) AS n_events, CAST(sum(sec) AS BIGINT) AS sec_total,
         |       TRUE AS matches_full
         |FROM fin GROUP BY week ORDER BY week""".stripMargin,

    // mv_incremental: replay the split → partial-agg → merge → recompute
    // comparison with the same cutoff
    "mv_incremental" ->
      s"""WITH wk AS (
         |  SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
         |         CAST(ts AS DATE) AS d,
         |         CAST(floor(epoch(ts)) AS BIGINT) AS sec
         |  FROM events
         |), base AS (
         |  SELECT week, count(*) AS n_events, min(sec) AS min_sec, max(sec) AS max_sec
         |  FROM wk WHERE d < DATE '$MvCut' GROUP BY week
         |), delta AS (
         |  SELECT week, count(*) AS n_events, min(sec) AS min_sec, max(sec) AS max_sec
         |  FROM wk WHERE d >= DATE '$MvCut' GROUP BY week
         |), merged AS (
         |  SELECT week, CAST(sum(n_events) AS BIGINT) AS n_events,
         |         min(min_sec) AS min_sec, max(max_sec) AS max_sec
         |  FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
         |  GROUP BY week
         |), full_sum AS (
         |  SELECT week, count(*) AS f_n, min(sec) AS f_min, max(sec) AS f_max
         |  FROM wk GROUP BY week
         |)
         |SELECT week, n_events, min_sec, max_sec,
         |       coalesce(n_events = f_n AND min_sec = f_min AND max_sec = f_max,
         |                FALSE) AS matches_full
         |FROM merged FULL OUTER JOIN full_sum USING (week)
         |ORDER BY week""".stripMargin,

    // jsonl_roundtrip returns the corpus itself after a gzip-JSONL round
    // trip — the oracle is the raw parquet identity
    "jsonl_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // orc_roundtrip: same identity contract as jsonl_roundtrip — the
    // corpus itself, proving the ORC write/read preserved every value
    "orc_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // join_dpp_prune: the runtime-pruned join replayed relationally —
    // above-average purchase days via exact integer cross-multiplication
    "join_dpp_prune" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS np FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1
        |), tot AS (SELECT sum(np) AS tot, count(*) AS nd FROM daily),
        |dim AS (SELECT day FROM daily CROSS JOIN tot WHERE np * nd > tot)
        |SELECT e.day, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM (SELECT CAST(ts AS DATE) AS day, value FROM events) e JOIN dim USING (day)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // agg_pushdown_stats: footer statistics equal full-scan statistics by
    // the parquet contract — the oracle recomputes from the rows
    "agg_pushdown_stats" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |       min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
        |FROM lineitem""".stripMargin,

    // partition_prune_docs: the single-source aggregate expressed directly
    "partition_prune_docs" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE source = 'src3'
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // compact_files: identity — compaction moves bytes, never changes them
    "compact_files" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // schema_evolution: the merged two-vintage read expressed directly —
    // NULL quality_tier for the old batch, derived for the new
    "schema_evolution" ->
      """SELECT doc_id,
        |  CAST(1 + (doc_id % 2) AS BIGINT) AS batch,
        |  n_chars,
        |  CASE WHEN doc_id % 2 = 1 THEN n_chars % 3 END AS quality_tier
        |FROM documents ORDER BY doc_id""".stripMargin,

    // cdc_merge: the merged state expressed directly — deletes filtered,
    // updates projected in place, inserts unioned with rewritten keys
    "cdc_merge" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 10 = 3 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        |  CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 10.0 ELSE o_totalprice END AS o_totalprice,
        |  o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderkey % 10 != 7
        |UNION ALL
        |SELECT o_orderkey + 100000000, o_custkey, o_orderstatus, o_totalprice,
        |       o_orderdate, 'NEW'
        |FROM orders WHERE o_orderkey % 10 = 1
        |ORDER BY o_orderkey""".stripMargin,

    // stream_cdc_upsert: the ALL-AT-ONCE merge — sequential micro-batch
    // application must converge to it exactly (one change per key)
    "stream_cdc_upsert" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 10 = 3 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        |  CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 10.0 ELSE o_totalprice END AS o_totalprice,
        |  o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderkey % 10 != 7
        |UNION ALL
        |SELECT o_orderkey + 100000000, o_custkey, o_orderstatus, o_totalprice,
        |       o_orderdate, 'NEW'
        |FROM orders WHERE o_orderkey % 10 = 1
        |ORDER BY o_orderkey""".stripMargin,

    // stream_mv_merge: the full one-shot rollup — the incremental
    // per-batch merges must converge to it exactly
    "stream_mv_merge" ->
      """SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
        |       count(*) AS n_events,
        |       min(CAST(floor(epoch(ts)) AS BIGINT)) AS min_sec,
        |       max(CAST(floor(epoch(ts)) AS BIGINT)) AS max_sec
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // scd2_history: the versioned state expressed directly — carried
    // currents, closed old versions for touched keys, opened new versions
    // for updates and inserts
    "scd2_history" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        |       CAST(1 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to,
        |       TRUE AS is_current
        |FROM orders WHERE o_orderkey % 10 NOT IN (3, 7)
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, o_totalprice,
        |       1, 2, FALSE
        |FROM orders WHERE o_orderkey % 10 IN (3, 7)
        |UNION ALL
        |SELECT o_orderkey, 'U', o_totalprice + 10.0, 2, NULL, TRUE
        |FROM orders WHERE o_orderkey % 10 = 3
        |UNION ALL
        |SELECT o_orderkey + 100000000, 'N', o_totalprice, 2, NULL, TRUE
        |FROM orders WHERE o_orderkey % 10 = 1
        |ORDER BY o_orderkey, valid_from""".stripMargin,

    // cdc_merge_pruned: untouched partitions pass through verbatim; the
    // 1-URGENT partition replays the same update/delete/insert merge
    "cdc_merge_pruned" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderpriority <> '1-URGENT'
        |UNION ALL
        |SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 10 = 3 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        |  CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 10.0 ELSE o_totalprice END AS o_totalprice,
        |  o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 10 != 7
        |UNION ALL
        |SELECT o_orderkey + 100000000, o_custkey, o_orderstatus, o_totalprice,
        |       o_orderdate, o_orderpriority
        |FROM orders WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 10 = 1
        |ORDER BY o_orderkey""".stripMargin,

    // snapshot_diff: the same version carving + md5 row fingerprints
    // (chr(1)-joined, chr(0) for NULL — matching Cdc.snapshotDiff exactly)
    "snapshot_diff" ->
      """WITH o_v AS (
        |  SELECT doc_id AS k,
        |         md5(concat_ws(chr(1), coalesce(text, chr(0)),
        |             coalesce(lang, chr(0)), coalesce(source, chr(0)),
        |             coalesce(CAST(n_chars AS VARCHAR), chr(0)))) AS o_fp
        |  FROM documents WHERE doc_id % 13 != 5
        |), n_v AS (
        |  SELECT doc_id AS k,
        |         md5(concat_ws(chr(1), coalesce(text, chr(0)),
        |             coalesce(CASE WHEN doc_id % 9 = 0 THEN 'xx' ELSE lang END, chr(0)),
        |             coalesce(source, chr(0)),
        |             coalesce(CAST(n_chars AS VARCHAR), chr(0)))) AS n_fp
        |  FROM documents WHERE doc_id % 17 != 2
        |)
        |SELECT CASE WHEN o_fp IS NULL THEN 'added'
        |            WHEN n_fp IS NULL THEN 'removed'
        |            WHEN o_fp != n_fp THEN 'changed'
        |            ELSE 'unchanged' END AS status,
        |       count(*) AS n_rows, CAST(sum(k) AS BIGINT) AS sum_key
        |FROM o_v FULL OUTER JOIN n_v USING (k)
        |GROUP BY status ORDER BY status""".stripMargin,

    "csv_roundtrip" ->
      """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
        |       CAST(min(floor(epoch(ts))) AS BIGINT) AS min_sec,
        |       CAST(max(floor(epoch(ts))) AS BIGINT) AS max_sec,
        |       round(sum(value), 2) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "sql_templated_wau" ->
      """SELECT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS event_week,
        |       count(DISTINCT user_id) AS wau
        |FROM events
        |WHERE date_trunc('week', CAST(ts AS DATE))
        |      BETWEEN date_trunc('week', DATE '2024-01-01')
        |          AND date_trunc('week', DATE '2024-01-31')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // retention_prune: the cutoff filter over the source IS the surviving
    // partition set — a drop that removed too much or too little breaks
    // the hash
    "retention_prune" ->
      s"""SELECT CAST(ts AS DATE) AS event_date, count(*) AS n,
         |       CAST(sum(event_id) AS BIGINT) AS sum_event_id
         |FROM events WHERE CAST(ts AS DATE) >= DATE '$RetentionCutoff'
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "table_load_idempotent" ->
      """SELECT CAST(ts AS DATE) AS event_date, count(*) AS n,
        |       count(DISTINCT user_id) AS n_users,
        |       round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "kst_boundary_sessions" ->
      s"""$sessionKstCte
         |SELECT event_date_kst, count(*) AS n_events,
         |       count(DISTINCT session_id) AS n_sessions,
         |       count(DISTINCT user_id) AS n_users
         |FROM sessions GROUP BY 1 ORDER BY 1""".stripMargin,

    // Replays Histograms bin-for-bin: the bin expression keeps the Spark
    // operation order (IEEE ops agree), counts/cumsums are BIGINT, and the
    // rank threshold ceil(q·total) is the same double expression — where
    // q·total rounds, it rounds identically in both engines.
    "value_hist_rollup" ->
      s"""WITH d AS (
         |  SELECT CAST(date_trunc('week', ts) AS DATE) AS event_week,
         |         CAST(ts AS DATE) AS event_day,
         |         least(${HistBins - 1}, greatest(0,
         |           CAST(floor((value - $HistLo) * $HistBins / ${HistHi - HistLo}) AS BIGINT))) AS bin
         |  FROM events
         |  WHERE value IS NOT NULL
         |    AND CAST(date_trunc('week', ts) AS DATE)
         |        BETWEEN CAST(date_trunc('week', TIMESTAMP '2024-01-01') AS DATE)
         |            AND CAST(date_trunc('week', TIMESTAMP '2024-01-31') AS DATE)
         |), daily AS (
         |  SELECT event_week, event_day, bin, CAST(count(*) AS BIGINT) AS cnt
         |  FROM d GROUP BY 1, 2, 3
         |), weekly AS (
         |  SELECT event_week, bin, CAST(sum(cnt) AS BIGINT) AS cnt
         |  FROM daily GROUP BY 1, 2
         |), c AS (
         |  SELECT event_week, bin,
         |         CAST(sum(cnt) OVER (PARTITION BY event_week ORDER BY bin
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         |         CAST(sum(cnt) OVER (PARTITION BY event_week) AS BIGINT) AS total
         |  FROM weekly
         |), x AS (
         |  SELECT event_week, q, bin
         |  FROM c CROSS JOIN (SELECT unnest(CAST(${HistQs.mkString("[", ", ", "]")} AS DOUBLE[])) AS q)
         |  WHERE cum >= CAST(ceil(q * total) AS BIGINT)
         |)
         |SELECT event_week, q, min(bin) AS bin,
         |       $HistLo + (min(bin) + 1) * ${(HistHi - HistLo) / HistBins} AS upper_edge
         |FROM x GROUP BY event_week, q
         |ORDER BY event_week, q""".stripMargin,

    // Replays Privacy.scrubEvents: same salt prefix into md5, the hour
    // bucket as integer floor-epoch minus its mod-3600 remainder (both
    // engines: positive epochs, identical % semantics), and the SAME digit
    // pattern (interpolated from Privacy.NumberPattern) for replace+count.
    "pii_scrub_events" ->
      s"""SELECT event_id,
         |       md5('graft:' || CAST(user_id AS VARCHAR)) AS user_pseudo,
         |       CAST(floor(epoch(ts)) AS BIGINT)
         |         - (CAST(floor(epoch(ts)) AS BIGINT) % 3600) AS ts_hour_sec,
         |       event_type,
         |       regexp_replace(props, '${Privacy.NumberPattern}', '<NUM>', 'g') AS props_clean,
         |       CAST(len(regexp_extract_all(props, '${Privacy.NumberPattern}')) AS BIGINT) AS n_redacted
         |FROM events ORDER BY event_id""".stripMargin,

    // scd2_lookup: the two-version history rebuilt relationally, the same
    // validity-window join, the same rollup
    "scd2_lookup" ->
      """WITH hist AS (
        |  SELECT c_custkey, c_mktsegment, 1 AS valid_from,
        |         CASE WHEN c_custkey % 7 = 0 THEN 2 END AS valid_to
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, 'UPGRADED', 2, NULL
        |  FROM customer WHERE c_custkey % 7 = 0
        |), f AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |         o_orderkey % 2 + 1 AS as_of_seq
        |  FROM orders
        |)
        |SELECT h.c_mktsegment, CAST(f.as_of_seq AS BIGINT) AS as_of_seq,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM f JOIN hist h
        |  ON h.c_custkey = f.o_custkey
        | AND f.as_of_seq >= h.valid_from
        | AND (h.valid_to IS NULL OR f.as_of_seq < h.valid_to)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // gdpr_forget: the purged table must equal "events minus subjects"
    // exactly; no_remnants is MEASURED post-rewrite and pinned TRUE
    "gdpr_forget" ->
      """SELECT CAST(ts AS DATE) AS event_date, count(*) AS n,
        |       count(DISTINCT user_id) AS n_users,
        |       round(sum(value), 2) AS sum_value,
        |       TRUE AS no_remnants
        |FROM events WHERE user_id % 37 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
