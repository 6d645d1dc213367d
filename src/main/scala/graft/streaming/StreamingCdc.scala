package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Cdc

/** Streaming CDC apply — the `readStream → foreachBatch(MERGE INTO)` shape
  * every table format documents for continuous upsert ingestion: the change
  * feed arrives as a stream, and each micro-batch is applied to the base
  * table ATOMICALLY through the batch merge ([[Cdc.applyChanges]]), writing
  * a new table version per batch. `foreachBatch` is the right tool because
  * a keyed merge needs the whole base relation — it is not a per-row sink —
  * and Structured Streaming guarantees micro-batches are delivered
  * sequentially with monotonically increasing batch ids, which is exactly
  * the transaction ordering a versioned table needs.
  *
  * Exactly-once here comes from idempotent versioned writes: batch `i`
  * produces version `i+1` from version `i`; a replayed batch rewrites the
  * SAME version directory (overwrite), converging to the identical state —
  * the checkpoint/version handshake Delta/Iceberg formalize.
  *
  * Scale shape: each micro-batch pays one keyed full-outer merge (the
  * [[Cdc.applyChanges]] shuffle — or its pruned variant when the feed is
  * partition-local) and one table write; state BETWEEN batches lives in the
  * table versions, not in streaming state stores, so the streaming query
  * itself is stateless (no watermark, no state eviction to tune).
  *
  * The REPLAY harness ([[upsertReplay]]) drives a real multi-trigger
  * streaming execution over a deterministic slicing of a change batch and
  * returns the final table version. Because the CDC contract allows at most
  * one change row per key in the whole feed, sequential per-batch
  * application must converge to the same state as one all-at-once merge —
  * the oracle asserts exactly that equivalence, so the hash match proves
  * the streaming machinery (file source triggers, foreachBatch sequencing,
  * versioned writes) loses and invents nothing.
  */
object StreamingCdc {

  /** Generic foreachBatch replay runner: wipe `root`, stage `input` into
    * `slices` single-file parquet slices by the integer `slice` column
    * expression (values must lie in `[0, slices)`), then drive a REAL
    * one-file-per-trigger streaming query whose every micro-batch is
    * handed to `onBatch(batch, batchId)` sequentially — the harness the
    * CDC upsert and the streaming-MV merge replays share. `onBatch` owns
    * all persistent effects (versioned writes under `root`, by
    * convention).
    */
  def replayForeachBatch(
      input: DataFrame,
      slice: Column,
      slices: Int,
      root: String)(onBatch: (DataFrame, Long) => Unit): Unit = {
    require(slices >= 2, s"need >= 2 slices for a multi-trigger replay, got $slices")
    val spark = input.sparkSession
    val rootPath = Paths.get(root)
    // wipe previous replay artifacts (scratch discipline: stale stream
    // files would replay as extra batches)
    if (Files.exists(rootPath)) {
      Files.walk(rootPath).iterator().asScala.toSeq.reverse.foreach(p => Files.delete(p))
    }
    val streamDir = rootPath.resolve("stream")
    Files.createDirectories(streamDir)
    // one single-file slice per trigger, mtimes pinned in staged order
    StreamingSessionize.stageSliceFiles(
      rootPath, streamDir, (0 until slices).map(i => input.where(slice === i.toLong)))
    val src = spark.readStream
      .schema(input.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir.toString)
    val q = src.writeStream
      .outputMode("append")
      .foreachBatch(onBatch)
      .start()
    try q.processAllAvailable()
    finally q.stop()
  }

  /** Deterministic md5-mod slice id over the key columns' string forms. */
  def hashSlice(keys: Seq[String], slices: Int): Column =
    pmod(
      conv(substring(md5(concat_ws(" ", keys.map(k => col(k).cast("string")): _*)),
        1, 8), 16, 10).cast("long"),
      lit(slices.toLong))

  /** Replay `changes` as a `slices`-trigger change stream applied onto
    * `base` via foreachBatch + [[Cdc.applyChanges]], materializing table
    * versions under `root` (a persistent scratch dir — version files must
    * outlive the query so the caller can read the final state). Slicing is
    * deterministic ([[hashSlice]] over the keys) but SEMANTICALLY
    * arbitrary: with at most one change per key in the feed, any partition
    * of the changes applied in any order converges to the all-at-once
    * merge — which is what the oracle checks. Returns the final version,
    * key-ordered.
    */
  /** Streaming ingest committed TRANSACTIONALLY — `readStream →
    * foreachBatch(SnapshotLog.append)`, the Delta-streaming-sink shape:
    * every micro-batch stages immutable files and publishes them in ONE
    * atomic manifest commit, so a reader racing the stream sees whole
    * trigger boundaries only (never a half-visible batch), each trigger
    * becomes one pinnable version (the log's history IS the trigger
    * history — incremental consumers diff manifests instead of
    * re-scanning), and a replayed/retried batch would surface as a
    * version-number conflict instead of silent duplication. Returns the
    * committed version numbers in commit order.
    */
  def snapshotIngestReplay(
      input: DataFrame,
      sliceKeys: Seq[String],
      root: String,
      slices: Int = 3,
      partitions: Int = 2): Seq[Long] = {
    // the runner wipes `root` first, so the log is created lazily by its
    // own first commit (commit/stageData mkdir what they need)
    val log = new graft.sources.SnapshotLog(s"$root/log")
    val versions = scala.collection.mutable.ArrayBuffer[Long]()
    replayForeachBatch(input, hashSlice(sliceKeys, slices), slices, root) {
      (batch: DataFrame, _: Long) => versions += log.append(batch, partitions)
    }
    versions.toSeq
  }

  /** MULTI-TABLE TRANSACTIONAL STREAMING INGEST — the cross-table
    * exactly-once shape [[snapshotIngestReplay]] cannot give: each
    * micro-batch routes rows to TWO tables (fact split, table-per-type
    * landing, data + audit-trail pairs), and the trigger publishes BOTH
    * appends plus one [[graft.sources.TxnCatalog]] anchor — so a reader
    * at any txn sees a single consistent cut of the trigger history
    * across both tables, and a crash between the table commits and the
    * anchor leaves only catalog-invisible orphans (never a torn pair).
    * A side with no rows in a trigger simply inherits its version
    * through the anchor (no empty commits).
    *
    * Returns the catalog plus the committed txn ids in trigger order.
    */
  def txnIngestReplay(
      input: DataFrame,
      sliceKeys: Seq[String],
      routeToA: Column,
      root: String,
      slices: Int = 3,
      partitions: Int = 2): (graft.sources.TxnCatalog, Seq[Long]) = {
    val a = new graft.sources.SnapshotLog(s"$root/log_a")
    val b = new graft.sources.SnapshotLog(s"$root/log_b")
    val cat = new graft.sources.TxnCatalog(s"$root/cat", Map("a" -> a, "b" -> b))
    val txns = scala.collection.mutable.ArrayBuffer[Long]()
    replayForeachBatch(input, hashSlice(sliceKeys, slices), slices, root) {
      (batch: DataFrame, _: Long) =>
        val rows = batch.persist()
        try {
          val sideA = rows.where(routeToA)
          val sideB = rows.where(!routeToA)
          val updates = Seq(
            "a" -> (if (sideA.isEmpty) None else Some(a.append(sideA, partitions))),
            "b" -> (if (sideB.isEmpty) None else Some(b.append(sideB, partitions))))
            .collect { case (n, Some(v)) => n -> v }.toMap
          if (updates.nonEmpty || cat.current.isEmpty) {
            // first anchor must cover both tables: an all-one-sided first
            // trigger seeds the other log with an empty-schema commit is
            // deliberately NOT done — require both sides by then
            txns += cat.commitTxn(cat.current, updates)
            ()
          }
        } finally {
          rows.unpersist()
          ()
        }
    }
    (cat, txns.toSeq)
  }

  /** STREAMING READ FROM THE SNAPSHOT LOG (the Delta table-as-stream
    * source shape, the read-side complement of [[snapshotIngestReplay]]):
    * the committed history replays as a REAL Structured Streaming
    * execution — each append-class commit's added data files become
    * micro-batches, in commit order, each file exactly once. Staging is
    * ZERO-COPY: the log's data files are immutable by protocol, so the
    * stream directory hard-links them (metadata-only, no data bytes
    * move) with mtimes pinned to commit order — the same file-source
    * trigger discipline every replay harness here uses. Commits that
    * remove files or add tombstones are refused loudly by
    * [[graft.sources.SnapshotLog.appendedFiles]] (the `ignoreDeletes`
    * contract); consume those through `changeFeed`.
    *
    * At scale this is the incremental-consumer loop the log's metadata
    * exists for: a downstream pipeline discovers new work by diffing two
    * manifest versions (file-count-sized), never by rescanning or
    * diffing table states.
    *
    * Returns (memory-sink table of `transform`'s output, number of
    * micro-batch triggers that carried rows).
    */
  def logStreamReplay(
      log: graft.sources.SnapshotLog,
      transform: DataFrame => DataFrame,
      outputMode: String,
      queryName: String,
      fromVersion: Option[Long] = None): (DataFrame, Long) = {
    val versions = log.versions.filter(v => fromVersion.forall(v > _))
    require(versions.nonEmpty,
      s"logStreamReplay: no versions to stream after $fromVersion at ${log.root}")
    val files = versions.flatMap(log.appendedFiles)
    require(files.nonEmpty, s"logStreamReplay: no appended files in $versions")
    val spark = org.apache.spark.sql.SparkSession.active
    // the memory sink owns the rows once drained; the temp root holds only
    // hard links (the log's own files are other links to the same inodes)
    StreamingSessionize.withTempRoot("graft_log_stream_") { base =>
      val streamDir = base.resolve("stream")
      Files.createDirectories(streamDir)
      files.zipWithIndex.foreach { case (src, i) =>
        val dest = streamDir.resolve(f"part_$i%05d.parquet")
        Files.createLink(dest, Paths.get(src))
        StreamingSessionize.pinSliceMtime(dest, i)
      }
      val schema = spark.read.parquet(files.head).schema
      val src = spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(streamDir.toString)
      val q = transform(src).writeStream
        .format("memory")
        .queryName(queryName)
        .outputMode(outputMode)
        .start()
      val triggers =
        try {
          q.processAllAvailable()
          q.recentProgress.count(_.numInputRows > 0L).toLong
        } finally q.stop()
      (spark.table(queryName), triggers)
    }
  }

  /** KILL-AND-RESTART replay of the NATIVE `graft-log` streaming source
    * ([[graft.sources.GraftLogSourceProvider]] — version-valued offsets,
    * no staging directory at all): phase 1 streams the versions already
    * committed to `log` into a FILE sink under a checkpoint and is
    * STOPPED; `phase2` batches then commit to the log, and a BRAND-NEW
    * query instance resumes from the same checkpoint. The source's
    * checkpointed version offsets plus the file sink's commit log must
    * together re-emit nothing and lose nothing — the exactly-once law of
    * a lakehouse table-as-stream source, proven across a restart.
    *
    * Returns `aggregate(sink)` with two measured law columns appended:
    * `interrupted_midstream` (phase 1 sank strictly less than the final
    * total — something was genuinely left to recover) and
    * `no_duplicate_emissions` (sink rows pairwise distinct). Batch parity
    * is the caller's oracle hash. The aggregate's result is collected
    * (group-count-bounded) so the temp sink can be reclaimed before
    * returning.
    */
  def nativeLogSourceReplay(
      log: graft.sources.SnapshotLog,
      phase2: Seq[DataFrame],
      partitions: Int,
      aggregate: DataFrame => DataFrame): DataFrame = {
    val spark = org.apache.spark.sql.SparkSession.active
    StreamingSessionize.withTempRoot("graft_native_src_") { base =>
      val (sinkDir, ckptDir) = (base.resolve("out"), base.resolve("ckpt"))
      val schema = log.readLatest(spark).schema
      def runOnce(): Unit = {
        val q = spark.readStream
          .format("graft-log").option("root", log.root).load()
          .writeStream.format("parquet")
          .option("path", sinkDir.toString)
          .option("checkpointLocation", ckptDir.toString)
          .outputMode("append").start()
        try q.processAllAvailable()
        finally q.stop()
      }
      // phase 1: drain what the log holds now, then the KILL
      runOnce()
      def sink(): DataFrame = spark.read.schema(schema).parquet(sinkDir.toString)
      val afterPhase1 = sink().count()
      // phase 2: more commits land; a NEW instance resumes the checkpoint
      phase2.foreach { df => log.append(df, partitions); () }
      runOnce()
      val total = sink().count()
      val noDupes = total == sink().distinct().count()
      val agged = aggregate(sink())
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](
        agged.collectAsList())
      spark.createDataFrame(rows, agged.schema)
        .withColumn("interrupted_midstream", lit(afterPhase1 < total))
        .withColumn("no_duplicate_emissions", lit(noDupes))
    }
  }

  /** `Trigger.AvailableNow` over the native log source — the
    * batch-shaped catch-up run every scheduled pipeline wants: the end
    * offset is snapshotted at start, the backlog drains in
    * admission-bounded micro-batches (checkpointed like any stream, so
    * a later run resumes incrementally), and the query TERMINATES ON
    * ITS OWN. Returns (drained rows materialized, selfTerminated,
    * non-empty batch count).
    */
  def availableNowDrain(
      log: graft.sources.SnapshotLog,
      maxVersionsPerTrigger: Int): (DataFrame, Boolean, Long) = {
    val spark = org.apache.spark.sql.SparkSession.active
    StreamingSessionize.withTempRoot("graft_avnow_") { base =>
      val (sinkDir, ckptDir) = (base.resolve("out"), base.resolve("ckpt"))
      val schema = log.readLatest(spark).schema
      val q = spark.readStream
        .format("graft-log").option("root", log.root)
        .option("maxVersionsPerTrigger", maxVersionsPerTrigger.toString).load()
        .writeStream.format("parquet")
        .option("path", sinkDir.toString)
        .option("checkpointLocation", ckptDir.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .outputMode("append").start()
      // self-termination IS the law under test — no stop() on success
      val finished = q.awaitTermination(180000L)
      val batches = q.recentProgress.count(_.numInputRows > 0).toLong
      if (!finished) q.stop()
      val out = spark.read.schema(schema).parquet(sinkDir.toString)
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](
        out.collectAsList())
      (spark.createDataFrame(rows, schema), finished, batches)
    }
  }

  /** Streaming upsert committed COPY-ON-WRITE under the snapshot log —
    * `readStream → foreachBatch(SnapshotLog.mergeCopyOnWrite)`: the base
    * commits once, range-clustered with per-file key stats, then every
    * micro-batch merges transactionally, rewriting ONLY the files whose
    * recorded key range contains a batch key (the Delta streaming-MERGE
    * shape). Trigger boundaries are the only observable states; a narrow
    * batch rewrites O(touched files) however large the table. Returns
    * the log plus per-trigger (version, filesRewritten, filesTotal) so
    * callers can assert the rewrite scope stayed bounded on EVERY
    * trigger, not just in aggregate.
    */
  def mergeUpsertReplay(
      base: DataFrame,
      changes: DataFrame,
      keyCol: String,
      root: String,
      slices: Int = 3,
      basePartitions: Int = 4): (graft.sources.SnapshotLog, Seq[(Long, Int, Int)]) = {
    val log = new graft.sources.SnapshotLog(s"$root/log")
    val stats = scala.collection.mutable.ArrayBuffer[(Long, Int, Int)]()
    var initialized = false
    replayForeachBatch(changes, hashSlice(Seq(keyCol), slices), slices, root) {
      (batch: DataFrame, _: Long) =>
        if (!initialized) {
          // the base commit rides the first trigger (the runner wipes
          // `root` before staging, so it cannot land earlier)
          log.appendIndexed(
            base.repartitionByRange(basePartitions, col(keyCol))
              .sortWithinPartitions(col(keyCol)),
            Seq(keyCol))
          initialized = true
        }
        if (!batch.isEmpty) {
          val (v, (rew, tot)) = log.mergeCopyOnWrite(batch, keyCol)
          stats += ((v, rew, tot))
          ()
        }
    }
    (log, stats.toSeq)
  }

  def upsertReplay(
      base: DataFrame,
      changes: DataFrame,
      keys: Seq[String],
      root: String,
      slices: Int = 3): DataFrame = {
    val spark = base.sparkSession
    def versionDir(v: Long): String = s"$root/base_v$v"
    // v0 (the base) is written by the FIRST batch, inside the runner's
    // lifecycle — the runner wipes root before staging
    @volatile var current = 0L
    var initialized = false
    replayForeachBatch(changes, hashSlice(keys, slices), slices, root) {
      (batch: DataFrame, batchId: Long) =>
        if (!initialized) {
          base.write.mode("overwrite").parquet(versionDir(0L))
          initialized = true
        }
        // version i+1 = merge(version i, batch) — idempotent per batchId
        val cur = spark.read.parquet(versionDir(current))
        Cdc.applyChanges(cur, batch, keys)
          .write.mode("overwrite").parquet(versionDir(batchId + 1))
        current = batchId + 1
    }
    spark.read.parquet(versionDir(current))
      .orderBy(keys.map(col): _*)
  }
}
