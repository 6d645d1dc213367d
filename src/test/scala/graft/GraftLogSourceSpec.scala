package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SnapshotLog
import graft.streaming.{StreamingCdc, StreamingSessionize}

/** The native `graft-log` streaming source
  * ([[graft.sources.GraftLogSourceProvider]]): snapshot-log commits as
  * micro-batches with VERSION-valued offsets — checkpoint-recoverable,
  * append-contract-enforcing, zero staging.
  */
class GraftLogSourceSpec extends AnyFunSuite with TempRoots {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val root = s"${GraftSession.target}/logsource_spec"

  private def freshLog(name: String): SnapshotLog = {
    val log = new SnapshotLog(s"$root/$name")
    log.recreate()
    log
  }

  test("commits stream in version order; a mid-stream commit is a new micro-batch") {
    val log = freshLog("t_src")
    log.append((0 until 10).map(i => (i.toLong, i.toLong)).toDF("id", "v"), partitions = 1)
    log.append((10 until 25).map(i => (i.toLong, i.toLong)).toDF("id", "v"), partitions = 1)
    val q = spark.readStream
      .format("graft-log").option("root", log.root).load()
      .writeStream.format("memory").queryName("logsrc_mem")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("logsrc_mem").count() == 25L)
      // a commit landing while the query runs arrives as its own batch
      log.append(Seq((100L, 100L)).toDF("id", "v"), partitions = 1)
      q.processAllAvailable()
      assert(spark.table("logsrc_mem").count() == 26L)
      assert(spark.table("logsrc_mem").where(col("id") === 100L).count() == 1L)
      // offsets advanced to the log's current version
      assert(q.lastProgress.sources.head.endOffset.trim.toLong ==
        log.currentVersion.get)
    } finally q.stop()
  }

  test("startingVersion skips history; missing root/version refuse loudly") {
    val log = freshLog("t_from")
    log.append((0 until 10).map(i => (i.toLong, 0L)).toDF("id", "v"), partitions = 1)
    log.append((10 until 15).map(i => (i.toLong, 1L)).toDF("id", "v"), partitions = 1)
    val q = spark.readStream
      .format("graft-log").option("root", log.root)
      .option("startingVersion", "1").load()
      .writeStream.format("memory").queryName("logsrc_from")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // only v1's appended files stream — v0's ten rows never enter
      assert(spark.table("logsrc_from").count() == 5L)
    } finally q.stop()
    val ex = intercept[Exception] {
      spark.readStream.format("graft-log")
        .option("root", s"$root/nope").load()
    }
    assert(ex.getMessage.contains("no committed snapshot"), s"got: ${ex.getMessage}")
  }

  test("an expire under a running checkpoint refuses instead of re-emitting") {
    val log = freshLog("t_expire")
    log.append((0 until 10).map(i => (i.toLong, 0L)).toDF("id", "v"), partitions = 1)
    val base = tempRoot("graft_expire_ckpt_")
    val (sinkDir, ckptDir) = (base.resolve("out"), base.resolve("ckpt"))
    def run(): Unit = {
      val q = spark.readStream
        .format("graft-log").option("root", log.root).load()
        .writeStream.format("parquet")
        .option("path", sinkDir.toString)
        .option("checkpointLocation", ckptDir.toString)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    run() // checkpoint lands at v0
    // two commits land, then v0..v1 expire — v2's parent is gone
    log.append((10 until 15).map(i => (i.toLong, 1L)).toDF("id", "v"), partitions = 1)
    log.append((15 until 20).map(i => (i.toLong, 2L)).toDF("id", "v"), partitions = 1)
    log.expire(keepFrom = 2L)
    val ex = intercept[Exception] { run() }
    def anywhere(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("expired under")) ||
        anywhere(t.getCause))
    assert(anywhere(ex), s"got: ${ex.getMessage}")
    // nothing was re-emitted into the sink
    assert(spark.read.schema("id long, v long").parquet(sinkDir.toString).count() == 10L)
  }

  test("a rewrite commit mid-stream fails the append contract loudly") {
    val log = freshLog("t_rw")
    log.append((0 until 10).map(i => (i.toLong, i.toLong)).toDF("id", "v"), partitions = 1)
    val q = spark.readStream
      .format("graft-log").option("root", log.root).load()
      .writeStream.format("memory").queryName("logsrc_rw")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      log.compact(spark, partitions = 1) // removes files — not an append
      val ex = intercept[Exception] { q.processAllAvailable() }
      assert(ex.getMessage.contains("rewrite") ||
        Option(ex.getCause).exists(_.getMessage.contains("rewrite")),
        s"got: ${ex.getMessage}")
    } finally q.stop()
  }

  test("readChangeFeed streams row-level changes through DML the append mode refuses") {
    val log = freshLog("t_cdf")
    log.append((0 until 10).map(i => (i.toLong, i.toLong * 10)).toDF("id", "v"), partitions = 1)
    val q = spark.readStream
      .format("graft-log").option("root", log.root)
      .option("readChangeFeed", "true").load()
      .writeStream.format("memory").queryName("logsrc_cdf")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val initial = spark.table("logsrc_cdf")
      assert(initial.count() == 10L &&
        initial.where(col("_change_type") === "insert").count() == 10L)
      // a merge-on-read DELETE arrives as delete pre-images, not an error
      log.deleteWhere(spark, col("id") < 3L)
      q.processAllAvailable()
      val dels = spark.table("logsrc_cdf").where(col("_change_type") === "delete")
      assert(dels.count() == 3L &&
        dels.agg(sum(col("id"))).head().getLong(0) == 3L)
      // an UPDATE is a delete+insert pair under ONE commit version
      log.updateWhere(spark, col("id") === 5L, Seq("v" -> lit(999L)))
      q.processAllAvailable()
      val vUpd = log.currentVersion.get
      val upd = spark.table("logsrc_cdf").where(col("_commit_version") === vUpd)
      assert(upd.count() == 2L)
      assert(upd.where(col("_change_type") === "insert").head().getLong(1) == 999L)
      // a compact nets to ZERO change rows — reorgs are invisible to the feed
      val before = spark.table("logsrc_cdf").count()
      log.compact(spark, partitions = 1)
      q.processAllAvailable()
      assert(spark.table("logsrc_cdf").count() == before, "reorg leaked changes")
    } finally q.stop()
  }

  test("readChangeFeed resumes from the checkpoint exactly-once across kill/restart") {
    val log = freshLog("t_cdf_rec")
    log.append((0 until 20).map(i => (i.toLong, i.toLong * 10)).toDF("id", "v"), partitions = 1)
    val base = tempRoot("graft_cdf_rec_")
    val (sinkDir, ckptDir) = (base.resolve("out"), base.resolve("ckpt"))
    def run(): Unit = {
      val q = spark.readStream
        .format("graft-log").option("root", log.root)
        .option("readChangeFeed", "true").load()
        .writeStream.format("parquet")
        .option("path", sinkDir.toString)
        .option("checkpointLocation", ckptDir.toString)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    run() // phase 1: the initial snapshot as inserts, then the KILL
    val schema = "id long, v long, _change_type string, _commit_version long"
    val afterPhase1 = spark.read.schema(schema).parquet(sinkDir.toString).count()
    assert(afterPhase1 == 20L)
    // DML lands while the query is down
    log.deleteWhere(spark, col("id") < 5L)
    log.updateWhere(spark, col("id") === 10L, Seq("v" -> lit(999L)))
    run() // a NEW instance resumes the checkpoint
    val sunk = spark.read.schema(schema).parquet(sinkDir.toString)
    // exactly-once: the sunk feed equals the batch feed, row for row
    val batchFeed = log.readChanges(spark, -1L, log.currentVersion.get)
    assert(sunk.exceptAll(batchFeed).count() == 0L &&
      batchFeed.exceptAll(sunk).count() == 0L,
      "resumed CDF stream must equal the batch change feed")
    assert(sunk.count() == sunk.distinct().count(), "no duplicate emissions")
  }

  test("appendTxn watermarks skip redelivered batches; appIds scope independently") {
    val log = freshLog("t_txn")
    val df1 = (0 until 5).map(i => (i.toLong, "a")).toDF("id", "tag")
    val df2 = (5 until 9).map(i => (i.toLong, "b")).toDF("id", "tag")
    val (v1, c1) = log.appendTxn(df1, 1, "app", 0L)
    assert(c1 && log.readLatest(spark).count() == 5L)
    // the post-crash redelivery: same app, same batch — skipped, no commit
    val (v2, c2) = log.appendTxn(df1, 1, "app", 0L)
    assert(!c2 && v2 == v1 && log.currentVersion.get == v1)
    assert(log.readLatest(spark).count() == 5L, "redelivery must not duplicate")
    // the next batch commits and advances the watermark
    val (v3, c3) = log.appendTxn(df2, 1, "app", 1L)
    assert(c3 && v3 == v1 + 1L && log.readLatest(spark).count() == 9L)
    // a DIFFERENT app's batch 0 is not confused with this app's history
    val (v4, c4) = log.appendTxn(df1.where(col("id") === 0L), 1, "other", 0L)
    assert(c4 && v4 == v3 + 1L && log.readLatest(spark).count() == 10L)
  }

  test("log-to-log pipeline streams exactly-once end to end across a kill/restart") {
    val src = freshLog("t_pipe_src")
    val dst = freshLog("t_pipe_dst")
    val ckpt = tempRoot("graft_pipe_ckpt_")
    def run(): Unit = {
      val q = spark.readStream
        .format("graft-log").option("root", src.root).load()
        .writeStream.format("graft-log")
        .option("root", dst.root).option("partitions", "1")
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    src.append((0 until 10).map(i => (i.toLong, s"s${i % 2}")).toDF("id", "tag"), partitions = 1)
    run() // phase 1, then the KILL
    val afterPhase1 = dst.readLatest(spark).count()
    assert(afterPhase1 == 10L)
    src.append((10 until 25).map(i => (i.toLong, s"s${i % 2}")).toDF("id", "tag"), partitions = 1)
    run() // a NEW instance resumes the checkpoint
    // exactly-once: destination equals source, row for row
    val (s0, d0) = (src.readLatest(spark), dst.readLatest(spark))
    assert(d0.count() == 25L)
    assert(d0.exceptAll(s0).count() == 0L && s0.exceptAll(d0).count() == 0L)
    // each committed batch is exactly one sink commit, watermark recorded
    val wm = dst.metaValues(dst.currentVersion.get)
      .collect { case (k, v) if k.startsWith("txn.") => v.toLong }
    assert(wm.nonEmpty && wm.head >= 1L, s"watermark missing: $wm")
    // a drained restart with nothing new commits nothing
    val vQuiet = dst.currentVersion.get
    run()
    assert(dst.currentVersion.get == vQuiet, "an empty resume must not commit")
  }

  test("sink replaceWhere: scoped per-trigger overwrite; out-of-scope fails; empty batch is a no-op") {
    val src = freshLog("t_rw_src")
    val dst = freshLog("t_rw_dst")
    dst.append((0 until 10).map(i => (i.toLong, i.toLong)).toDF("id", "v"), partitions = 1)
    src.append((3 until 6).map(i => (i.toLong, i.toLong * 100)).toDF("id", "v"), partitions = 1)
    def drain(ckptName: String, appId: String, pred: String): Unit = {
      val ckpt = tempRoot(ckptName)
      val q = spark.readStream
        .format("graft-log").option("root", src.root).load()
        .writeStream.format("graft-log")
        .option("root", dst.root)
        .option("checkpointLocation", ckpt.toString)
        .option("appId", appId)
        .option("replaceWhere", pred)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    drain("graft_rwsink_a_", "rwsink", "id BETWEEN 3 AND 5")
    val got = dst.readLatest(spark).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 10 &&
      (3 until 6).forall(i => got(i.toLong) == i * 100L) &&
      got(0L) == 0L && got(9L) == 9L, got.toString)
    val vAfter = dst.currentVersion.get
    // a batch with rows OUTSIDE the declared scope fails its trigger
    // with nothing committed (the replaceWhere constraint)
    src.append(Seq((99L, 1L)).toDF("id", "v"), partitions = 1)
    // a FRESH appId: the first drain's watermark must not structurally
    // skip the violating batch before the guard can see it
    val ex = intercept[Exception](
      drain("graft_rwsink_b_", "rwsink-b", "id BETWEEN 3 AND 5"))
    def anywhere(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("outside the REPLACE WHERE")) ||
        anywhere(t.getCause))
    assert(anywhere(ex), s"got: ${ex.getMessage}")
    assert(dst.currentVersion.get == vAfter, "a violating trigger must not commit")
    // a drained resume (no new source versions → zero triggers) commits
    // nothing and leaves the scope untouched
    val ckpt = tempRoot("graft_rwsink_c_")
    def drainFrom(root: String): Unit = {
      val q = spark.readStream
        .format("graft-log").option("root", root).load()
        .writeStream.format("graft-log")
        .option("root", dst.root)
        .option("checkpointLocation", ckpt.toString)
        .option("appId", "rwsink2")
        .option("replaceWhere", "id BETWEEN 3 AND 5")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    src.recreate()
    src.append((3 until 6).map(i => (i.toLong, i.toLong * 7)).toDF("id", "v"), partitions = 1)
    drainFrom(src.root)
    val vBusy = dst.currentVersion.get
    drainFrom(src.root) // same checkpoint, nothing new: zero batches
    assert(dst.currentVersion.get == vBusy, "a drained resume must not commit")
    assert(dst.readLatest(spark).where(col("id").between(3, 5)).count() == 3L,
      "the scope must survive an empty resume untouched")
  }

  test("the sink refuses a schema-drifting batch loudly") {
    val src = freshLog("t_drift_src")
    val dst = freshLog("t_drift_dst")
    val ckpt = tempRoot("graft_drift_ckpt_")
    // the destination already holds (id, tag); the stream emits (id, other)
    dst.append(Seq((1L, "a")).toDF("id", "tag"), partitions = 1)
    src.append(Seq((2L, 9L)).toDF("id", "other"), partitions = 1)
    val q = spark.readStream
      .format("graft-log").option("root", src.root).load()
      .writeStream.format("graft-log")
      .option("root", dst.root)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    val ex = intercept[Exception] {
      try q.processAllAvailable() finally q.stop()
    }
    def anywhere(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("drifts from the table schema")) ||
        anywhere(t.getCause))
    assert(anywhere(ex), s"got: ${ex.getMessage}")
    assert(dst.currentVersion.get == 0L && dst.readLatest(spark).count() == 1L,
      "the drifted batch must not commit")
  }

  test("the sink enforces the destination's CHECK constraints per batch") {
    val src = freshLog("t_chk_src")
    val dst = freshLog("t_chk_dst")
    dst.append(Seq((1L, 5L)).toDF("id", "v"), partitions = 1)
    dst.setProperty("check.v_nonneg", "v >= 0")
    val vPre = dst.currentVersion.get
    src.append(Seq((2L, -7L)).toDF("id", "v"), partitions = 1)
    val ckpt = tempRoot("graft_chk_ckpt_")
    val q = spark.readStream
      .format("graft-log").option("root", src.root).load()
      .writeStream.format("graft-log")
      .option("root", dst.root)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    val ex = intercept[Exception] {
      try q.processAllAvailable() finally q.stop()
    }
    def anywhere(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains("violates CHECK constraint")) ||
        anywhere(t.getCause))
    assert(anywhere(ex), s"got: ${ex.getMessage}")
    assert(dst.currentVersion.contains(vPre) && dst.readLatest(spark).count() == 1L,
      "the violating batch must not commit")
    // a clean stream commits through the same gate (fresh checkpoint —
    // the failed trigger's offset is already claimed by the old one)
    val src2 = freshLog("t_chk_src2")
    src2.append(Seq((3L, 9L), (4L, 0L)).toDF("id", "v"), partitions = 1)
    val ckpt2 = tempRoot("graft_chk_ckpt2_")
    val q2 = spark.readStream
      .format("graft-log").option("root", src2.root).load()
      .writeStream.format("graft-log")
      .option("root", dst.root)
      .option("checkpointLocation", ckpt2.toString)
      .outputMode("append").start()
    try q2.processAllAvailable() finally q2.stop()
    assert(dst.readLatest(spark).count() == 3L)
    // NULL passes (ANSI three-valued CHECK semantics)
    val src3 = freshLog("t_chk_src3")
    src3.append(Seq((5L, Option.empty[Long])).toDF("id", "v"), partitions = 1)
    val ckpt3 = tempRoot("graft_chk_ckpt3_")
    val q3 = spark.readStream
      .format("graft-log").option("root", src3.root).load()
      .writeStream.format("graft-log")
      .option("root", dst.root)
      .option("checkpointLocation", ckpt3.toString)
      .outputMode("append").start()
    try q3.processAllAvailable() finally q3.stop()
    assert(dst.readLatest(spark).count() == 4L)
  }

  test("complete-mode sink enforces CHECK constraints on the materialized image") {
    val src = freshLog("t_chkmv_src")
    val dst = freshLog("t_chkmv_dst")
    dst.append(Seq(("g0", 1L)).toDF("tag", "n"), partitions = 1)
    dst.setProperty("check.n_small", "n < 5")
    src.append((0 until 9).map(i => (i.toLong, s"g${i % 3}")).toDF("id", "tag"), 1)
    val ckpt = tempRoot("graft_chkmv_ckpt_")
    def start() = spark.readStream
      .format("graft-log").option("root", src.root).load()
      .groupBy(col("tag")).agg(count(lit(1)).as("n"))
      .writeStream.format("graft-log")
      .option("root", dst.root).option("partitions", "1")
      .option("checkpointLocation", ckpt.toString)
      .outputMode("complete").start()
    val q = start()
    try {
      // 3 per group: passes n < 5, the aggregate materializes
      q.processAllAvailable()
      assert(dst.readLatest(spark).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet ==
        Set(("g0", 3L), ("g1", 3L), ("g2", 3L)))
    } finally q.stop()
    val vOk = dst.currentVersion.get
    // push g0 to 6 rows: the violating materialized image fails its
    // trigger; the last GOOD image stays committed
    src.append((9 until 18).map(i => (i.toLong, "g0")).toDF("id", "tag"), 1)
    val q2 = start()
    val ex = intercept[Exception] {
      try q2.processAllAvailable() finally q2.stop()
    }
    def anywhere(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains("violates CHECK constraint")) ||
        anywhere(t.getCause))
    assert(anywhere(ex), s"got: ${ex.getMessage}")
    assert(dst.currentVersion.contains(vOk),
      "the violating materialized image must not commit")
    assert(dst.readLatest(spark).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("g0", 3L), ("g1", 3L), ("g2", 3L)))
  }

  test("skipChangeCommits rides over compaction and DML commits") {
    val log = freshLog("t_skipcc")
    log.append((0 until 5).map(i => (i.toLong, i.toLong)).toDF("id", "v"), 1)
    val q = spark.readStream
      .format("graft-log").option("root", log.root)
      .option("skipChangeCommits", "true").load()
      .writeStream.format("memory").queryName("logsrc_skipcc")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("logsrc_skipcc").count() == 5L)
      // a compaction mid-stream is skipped; later appends keep serving
      log.compact(spark, partitions = 1)
      log.append((5 until 8).map(i => (i.toLong, i.toLong)).toDF("id", "v"), 1)
      q.processAllAvailable()
      assert(spark.table("logsrc_skipcc").count() == 8L,
        "the rewrite contributes nothing; the appends serve")
      // a merge-on-read delete commit is skipped too — the DOCUMENTED
      // trade: the stream does not reflect it (consume CDF when it must)
      log.deleteWhere(spark, col("id") === 0L)
      log.append(Seq((9L, 9L)).toDF("id", "v"), 1)
      q.processAllAvailable()
      assert(spark.table("logsrc_skipcc").count() == 9L)
    } finally q.stop()
    // the option refuses to compose with the change feed
    val ex = intercept[Exception] {
      spark.readStream.format("graft-log")
        .option("root", log.root)
        .option("readChangeFeed", "true")
        .option("skipChangeCommits", "true").load()
    }
    assert(ex.getMessage.contains("skipChangeCommits"), ex.getMessage)
  }

  test("mergeSchema evolves the sink destination from the batch") {
    val src = freshLog("t_ms_src")
    val dst = freshLog("t_ms_dst")
    dst.createEmpty(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType))))
    dst.appendStrict(Seq((1L, 10L)).toDF("id", "v"), 1)
    src.append(Seq((2L, 20L, "x")).toDF("id", "v", "tag"), 1)
    // without the option the widened batch refuses (the strict gate)
    val q1 = spark.readStream
      .format("graft-log").option("root", src.root).load()
      .writeStream.format("graft-log").option("root", dst.root)
      .option("checkpointLocation",
        tempRoot("graft_ms1_").toString)
      .outputMode("append").start()
    val ex = intercept[Exception] {
      try q1.processAllAvailable() finally q1.stop()
    }
    def anywhere(t: Throwable, m: String): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains(m)) || anywhere(t.getCause, m))
    assert(anywhere(ex, "drifts"), ex.getMessage)
    // with mergeSchema the destination evolves, then the batch lands
    val q2 = spark.readStream
      .format("graft-log").option("root", src.root).load()
      .writeStream.format("graft-log").option("root", dst.root)
      .option("mergeSchema", "true")
      .option("checkpointLocation",
        tempRoot("graft_ms2_").toString)
      .outputMode("append").start()
    try q2.processAllAvailable() finally q2.stop()
    val got = dst.readLatest(spark)
    assert(got.columns.toSeq == Seq("id", "v", "tag"))
    assert(got.where(col("id") === 1).head().isNullAt(2),
      "pre-evolution rows serve typed NULL")
    assert(got.where(col("id") === 2).head().getString(2) == "x")
  }

  test("mergeKey turns the sink into an exactly-once streaming upsert") {
    val src = freshLog("t_ups_src")
    val dst = freshLog("t_ups_dst")
    dst.appendIndexed(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), Seq("id"))
    src.append(Seq((2L, 200L), (3L, 300L)).toDF("id", "v"), partitions = 1)
    val ckpt = tempRoot("graft_ups_ckpt_")
    def start() = spark.readStream
      .format("graft-log").option("root", src.root).load()
      .writeStream.format("graft-log")
      .option("root", dst.root).option("mergeKey", "id")
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    val q = start()
    try {
      q.processAllAvailable()
      assert(dst.readLatest(spark).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((1L, 10L), (2L, 200L), (3L, 300L)), "update matched, insert rest")
      // a later commit updates again through the same checkpoint
      src.append(Seq((1L, 111L)).toDF("id", "v"), partitions = 1)
      q.processAllAvailable()
      assert(dst.readLatest(spark).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((1L, 111L), (2L, 200L), (3L, 300L)))
    } finally q.stop()
    // restart replays the last batch: the txn watermark skips it —
    // the destination version does not move
    val vAfter = dst.currentVersion.get
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(dst.currentVersion.contains(vAfter),
      "a redelivered batch must skip idempotently")
    // ambiguous multi-matches refuse loudly (pre-aggregate CDC first)
    src.append(Seq((5L, 1L), (5L, 2L)).toDF("id", "v"), partitions = 1)
    val q3 = start()
    val ex = intercept[Exception] {
      try q3.processAllAvailable() finally q3.stop()
    }
    def anywhere(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains("unique")) || anywhere(t.getCause))
    assert(anywhere(ex), s"got: ${ex.getMessage}")
  }

  test("the sink auto-compacts its small-file tail under autoCompact") {
    val src = freshLog("t_ac_src")
    val dst = freshLog("t_ac_dst")
    dst.append(Seq((0L, 0L)).toDF("id", "v"), partitions = 1)
    (1 to 6).foreach { i =>
      src.append(Seq((i.toLong, i.toLong)).toDF("id", "v"), partitions = 1); ()
    }
    val ckpt = tempRoot("graft_ac_ckpt_")
    val q = spark.readStream
      .format("graft-log").option("root", src.root)
      .option("maxVersionsPerTrigger", "1").load()
      .writeStream.format("graft-log")
      .option("root", dst.root)
      .option("autoCompact", "true")
      .option("autoCompactMinFiles", "3")
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    // content exactly once, layout bounded: six one-file micro-batches
    // would leave 7 files; the every-3-batches compaction packs the tail
    assert(dst.readLatest(spark).count() == 7L)
    val nFiles = dst.dataFiles(dst.currentVersion.get).size
    assert(nFiles < 7, s"auto-compact must bound the file count, got $nFiles")
    assert(dst.history.exists(_._2 == "rewrite"),
      "compaction commits as its own rewrite")
    assert(dst.readLatest(spark).select(col("id")).distinct().count() == 7L)
  }

  test("complete-mode sink maintains a materialized aggregate table per batch") {
    val src = freshLog("t_mv_src")
    val dst = freshLog("t_mv_dst")
    val ckpt = tempRoot("graft_mv_ckpt_")
    src.append((0 until 12).map(i => (i.toLong, s"g${i % 3}")).toDF("id", "tag"), partitions = 1)
    val q = spark.readStream
      .format("graft-log").option("root", src.root).load()
      .groupBy(col("tag")).agg(count(lit(1)).as("n"))
      .writeStream.format("graft-log")
      .option("root", dst.root).option("partitions", "1")
      .option("checkpointLocation", ckpt.toString)
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      assert(dst.readLatest(spark).collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
        Set(("g0", 4L), ("g1", 4L), ("g2", 4L)))
      // more source commits: the materialized table is REPLACED, not appended
      src.append((12 until 18).map(i => (i.toLong, s"g${i % 3}")).toDF("id", "tag"), partitions = 1)
      q.processAllAvailable()
      val rows = dst.readLatest(spark).collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(rows == Set(("g0", 6L), ("g1", 6L), ("g2", 6L)), s"got $rows")
    } finally q.stop()
  }

  test("kill/restart from the checkpoint is exactly-once (the harness's laws hold)") {
    val log = freshLog("t_rec")
    log.append((0 until 20).map(i => (i.toLong, s"s${i % 3}")).toDF("id", "tag"), partitions = 2)
    val out = StreamingCdc.nativeLogSourceReplay(
      log,
      phase2 = Seq(
        (20 until 30).map(i => (i.toLong, s"s${i % 3}")).toDF("id", "tag"),
        (30 until 40).map(i => (i.toLong, s"s${i % 3}")).toDF("id", "tag")),
      partitions = 1,
      aggregate = df => df.groupBy(col("tag"))
        .agg(count(lit(1)).as("n"), sum(col("id")).cast("long").as("sum_id")))
    val rows = out.orderBy(col("tag")).collect()
    assert(rows.forall(_.getBoolean(3)), "interrupted_midstream must hold")
    assert(rows.forall(_.getBoolean(4)), "no_duplicate_emissions must hold")
    val expected = (0 until 40).groupBy(i => s"s${i % 3}")
      .map { case (t, is) => (t, is.size.toLong, is.map(_.toLong).sum) }
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
      expected.toSet)
  }

  test("maxFilesPerTrigger drains a backlog version-by-version; content equals batch") {
    val log = freshLog("t_bounded")
    // 4 versions x 2 files each, all committed BEFORE the stream starts
    (0 until 4).foreach { i =>
      log.append((i * 10 until (i + 1) * 10).map(j => (j.toLong, i.toLong))
        .toDF("id", "v"), partitions = 2)
    }
    val q = spark.readStream
      .format("graft-log").option("root", log.root)
      .option("maxFilesPerTrigger", "3").load()
      .writeStream.format("memory").queryName("logsrc_bounded")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // 3-file budget admits exactly one 2-file version per trigger: the
      // 8-file backlog takes 4 data triggers, never one giant batch
      val dataTriggers = q.recentProgress.filter(_.numInputRows > 0)
      assert(dataTriggers.length == 4, s"got ${dataTriggers.length} data triggers")
      assert(dataTriggers.forall(_.numInputRows == 10L),
        "each trigger carries exactly one version's rows")
      assert(spark.table("logsrc_bounded").count() == 40L)
      // offsets advanced to the head only at the END of the drain
      assert(q.lastProgress.sources.head.endOffset.trim.toLong ==
        log.currentVersion.get)
    } finally q.stop()
  }

  test("a single commit larger than the bound still serves whole (atomic version)") {
    val log = freshLog("t_bigcommit")
    log.append((0 until 30).map(i => (i.toLong, 0L)).toDF("id", "v"), partitions = 6)
    log.append((30 until 40).map(i => (i.toLong, 1L)).toDF("id", "v"), partitions = 2)
    val q = spark.readStream
      .format("graft-log").option("root", log.root)
      .option("maxFilesPerTrigger", "2").load()
      .writeStream.format("memory").queryName("logsrc_bigcommit")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val dataTriggers = q.recentProgress.filter(_.numInputRows > 0)
      // v0 (6 files) exceeds the 2-file budget but cannot split: one
      // trigger of 30 rows, then v1 alone
      assert(dataTriggers.map(_.numInputRows).toSeq == Seq(30L, 10L),
        dataTriggers.map(_.numInputRows).mkString(","))
      assert(spark.table("logsrc_bigcommit").count() == 40L)
    } finally q.stop()
  }

  test("maxBytesPerTrigger bounds admission; restart mid-backlog re-serves nothing") {
    val log = freshLog("t_bytes")
    (0 until 3).foreach { i =>
      log.append((i * 5 until (i + 1) * 5).map(j => (j.toLong, i.toLong))
        .toDF("id", "v"), partitions = 1)
    }
    val ckpt = tempRoot("graft_bytes_ckpt_")
    val dest = tempRoot("graft_bytes_out_")
    def run(max: String): Unit = {
      val q = spark.readStream
        .format("graft-log").option("root", log.root)
        .option("maxBytesPerTrigger", max).load()
        .writeStream.format("parquet")
        .option("path", dest.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    run("1") // 1-byte budget: every trigger admits exactly one version
    assert(spark.read.parquet(dest.toString).count() == 15L)
    // two more commits land AFTER the kill; the restarted instance picks
    // up from the checkpoint cursor — nothing re-emitted, nothing lost
    (3 until 5).foreach { i =>
      log.append((i * 5 until (i + 1) * 5).map(j => (j.toLong, i.toLong))
        .toDF("id", "v"), partitions = 1)
    }
    run("1")
    val rows = spark.read.parquet(dest.toString)
    assert(rows.count() == 25L, "exactly-once across the bounded restart")
    assert(rows.select("id").distinct().count() == 25L)
  }

  test("bounds refuse to compose with readChangeFeed; startingTimestamp mirrors batch") {
    val log = freshLog("t_ts")
    log.append((0 until 5).map(i => (i.toLong, 0L)).toDF("id", "v"), partitions = 1)
    Thread.sleep(15)
    val cutoff = System.currentTimeMillis()
    Thread.sleep(15)
    log.append((5 until 9).map(i => (i.toLong, 1L)).toDF("id", "v"), partitions = 1)
    val bad = intercept[Exception] {
      spark.readStream.format("graft-log").option("root", log.root)
        .option("readChangeFeed", "true")
        .option("maxFilesPerTrigger", "1").load()
    }
    assert(bad.getMessage.contains("do not compose with readChangeFeed"))
    val both = intercept[Exception] {
      spark.readStream.format("graft-log").option("root", log.root)
        .option("startingVersion", "1")
        .option("startingTimestamp", cutoff.toString).load()
    }
    assert(both.getMessage.contains("not both"))
    // startingTimestamp resolves to the version at the cutoff (v0) — the
    // stream's first batch is v0's whole listing, then v1
    assert(log.versionAt(cutoff) == 0L)
    val q = spark.readStream
      .format("graft-log").option("root", log.root)
      .option("startingTimestamp", cutoff.toString).load()
      .writeStream.format("memory").queryName("logsrc_ts")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("logsrc_ts").count() == 9L)
    } finally q.stop()
    // a post-head timestamp starts at the head version (v1 onward only)
    val q2 = spark.readStream
      .format("graft-log").option("root", log.root)
      .option("startingTimestamp", System.currentTimeMillis().toString).load()
      .writeStream.format("memory").queryName("logsrc_ts2")
      .outputMode("append").start()
    try {
      q2.processAllAvailable()
      assert(spark.table("logsrc_ts2").count() == 4L,
        "head-resolved start serves the head version's appends only")
    } finally q2.stop()
  }

  test("maxVersionsPerTrigger bounds the CHANGE FEED one commit per trigger") {
    val log = freshLog("t_cdfbound")
    log.append((0 until 10).map(i => (i.toLong, i.toLong)).toDF("id", "v"), partitions = 1)
    log.append((10 until 20).map(i => (i.toLong, i.toLong)).toDF("id", "v"), partitions = 1)
    log.deleteWhere(spark, col("id") < 3)
    log.updateWhere(spark, col("id").between(5, 7), Seq("v" -> (col("v") + 100)))
    val q = spark.readStream
      .format("graft-log").option("root", log.root)
      .option("readChangeFeed", "true")
      .option("maxVersionsPerTrigger", "1").load()
      .writeStream.format("memory").queryName("logsrc_cdfbound")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // four commits → four data triggers (one version per batch), and
      // the drained feed equals the batch feed bitwise
      val dataTriggers = q.recentProgress.filter(_.numInputRows > 0)
      assert(dataTriggers.length == 4, s"got ${dataTriggers.length}")
      val sunk = spark.table("logsrc_cdfbound")
      val batch = log.readChanges(spark, -1L, log.currentVersion.get)
      assert(sunk.exceptAll(batch).isEmpty && batch.exceptAll(sunk).isEmpty)
    } finally q.stop()
  }

  test("the change feed streams a column-mapped table under logical names") {
    val log = freshLog("t_cdf_map")
    log.append((0 until 8).map(i => (i.toLong, i.toLong * 10)).toDF("id", "v"), 1)
    log.enableColumnMapping(spark)
    log.renameColumn("v", "w")
    val q = spark.readStream
      .format("graft-log").option("root", log.root)
      .option("readChangeFeed", "true")
      .option("startingVersion", log.currentVersion.get.toString).load()
      .writeStream.format("memory").queryName("logsrc_cdf_map")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // post-rename DML streams as changes under the CURRENT logical name
      log.appendMapped(Seq((8L, 80L)).toDF("id", "w"), 1)
      log.deleteWhere(spark, col("id") === 2L)
      q.processAllAvailable()
      val got = spark.table("logsrc_cdf_map")
      assert(got.columns.take(2).toSeq == Seq("id", "w"))
      val changes = got.where(col("_change_type").isNotNull)
        .collect().map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id"))).toSet
      assert(changes.contains(("insert", 8L)) && changes.contains(("delete", 2L)),
        s"got $changes")
      // a rename mid-stream refuses the pinned projection loudly
      log.renameColumn("w", "w2")
      log.appendMapped(Seq((9L, 90L)).toDF("id", "w2"), 1)
      val died = intercept[Exception] { q.processAllAvailable() }
      def anywhere(t: Throwable): Boolean = t != null &&
        (Option(t.getMessage).exists(_.contains("mid-stream")) ||
          anywhere(t.getCause))
      assert(anywhere(died), died.getMessage)
    } finally q.stop()
  }

  test("a mid-stream ALTER TABLE schema evolution refuses loudly, never serves NULL") {
    val log = freshLog("t_evolve")
    log.createEmpty(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType))))
    log.appendStrict((0 until 5).map(i => (i.toLong, 0L)).toDF("id", "v"), 1)
    val q = spark.readStream
      .format("graft-log").option("root", log.root).load()
      .writeStream.format("memory").queryName("logsrc_evolve")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("logsrc_evolve").count() == 5L)
      log.addColumns(spark, Seq(("extra", org.apache.spark.sql.types.LongType)))
      val died = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
        q.awaitTermination(10000)
      }
      assert(died.getMessage.contains("evolved mid-stream") ||
        Option(died.getCause).exists(_.getMessage.contains("evolved mid-stream")),
        s"wrong failure: ${died.getMessage}")
    } finally q.stop()
  }

  test("skipChangeCommits still serves the initial snapshot of a masked base table") {
    val log = freshLog("t_skipcc_init")
    log.append((0 until 10).map(i => (i.toLong, i.toLong)).toDF("id", "v"), 1)
    // a merge-on-read delete puts mask lines into the listing...
    log.deleteWhere(spark, col("id") < 3L)
    // ...and expire makes THAT listing the oldest retained version — the
    // stream's initial snapshot now carries masks
    log.expire(keepFrom = log.currentVersion.get)
    val q = spark.readStream
      .format("graft-log").option("root", log.root)
      .option("skipChangeCommits", "true").load()
      .writeStream.format("memory").queryName("logsrc_skipcc_init")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // the base table serves MASKED (7 rows), not zero (the silent-drop
      // hazard) and not 10 (resurrected deletes)
      assert(spark.table("logsrc_skipcc_init").count() == 7L,
        "the initial snapshot must serve the masked base table")
      assert(spark.table("logsrc_skipcc_init").where(col("id") < 3L).count() == 0L)
      // later appends keep serving; later change commits skip as before
      log.append(Seq((20L, 20L)).toDF("id", "v"), 1)
      q.processAllAvailable()
      assert(spark.table("logsrc_skipcc_init").count() == 8L)
      log.deleteWhere(spark, col("id") === 4L)
      log.append(Seq((21L, 21L)).toDF("id", "v"), 1)
      q.processAllAvailable()
      assert(spark.table("logsrc_skipcc_init").count() == 9L,
        "mid-stream change commits still skip; appends still serve")
    } finally q.stop()
  }

  test("the autoCompactEveryBatches spelling drives sink auto-compaction") {
    val src = freshLog("t_acname_src")
    val dst = freshLog("t_acname_dst")
    dst.createEmpty(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType))))
    (0 until 4).foreach { i =>
      src.append(Seq((i.toLong, i.toLong)).toDF("id", "v"), 1); ()
    }
    val ckpt = tempRoot("graft_acname_")
    val q = spark.readStream
      .format("graft-log").option("root", src.root)
      .option("maxVersionsPerTrigger", "1").load()
      .writeStream.format("graft-log")
      .option("root", dst.root)
      .option("autoCompact", "true").option("autoCompactEveryBatches", "2")
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(dst.dataFiles(dst.currentVersion.get).size < 4,
      "compaction must fire under the new option name")
    assert(dst.readLatest(spark).count() == 4L)
  }

  test("upsert sink applies CDC deletes via deleteIndicator; redelivery is a no-op") {
    import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}
    val src = freshLog("t_cdcdel_src")
    val dst = freshLog("t_cdcdel_dst")
    dst.createEmpty(StructType(Seq(
      StructField("id", LongType), StructField("v", LongType))))
    // commit 1: insert 0..9; commit 2: update 0..2 (+100); commit 3:
    // delete 4..6; commit 4: insert 20..22 + delete absent key 99 (no-op)
    def feed(rows: Seq[(Long, Long, Boolean)]) =
      src.append(rows.toDF("id", "v", "_del"), partitions = 1)
    feed((0L until 10L).map(i => (i, i * 10L, false)))
    feed((0L until 3L).map(i => (i, i * 10L + 100L, false)))
    feed((4L until 7L).map(i => (i, 0L, true)))
    feed(Seq((20L, 200L, false), (21L, 210L, false), (22L, 220L, false),
      (99L, 0L, true)))
    val ckpt = tempRoot("graft_cdcdel_")
    val q = spark.readStream
      .format("graft-log").option("root", src.root)
      .option("maxVersionsPerTrigger", "1").load()
      .writeStream.format("graft-log")
      .option("root", dst.root)
      .option("mergeKey", "id").option("deleteIndicator", "_del")
      .option("appId", "cdcdel")
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    val lastBatch =
      try { q.processAllAvailable(); q.recentProgress.map(_.batchId).max }
      finally q.stop()
    val got = dst.readLatest(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = ((0L until 10L).map(i => i -> (i * 10L)).toMap
      ++ (0L until 3L).map(i => i -> (i * 10L + 100L)).toMap
      -- (4L until 7L)) ++ Map(20L -> 200L, 21L -> 210L, 22L -> 220L)
    assert(got == want, s"got $got\nwant $want")
    // the indicator column itself never lands in the destination
    assert(dst.readLatest(spark).columns.toSeq == Seq("id", "v"))
    // REDELIVERY of the last (delete-carrying) batch: same appId + same
    // batchId → the txn watermark skips it, version count pinned
    val vBefore = dst.currentVersion.get
    val sink = new graft.sources.GraftLogSink(dst, Some("cdcdel"), 1,
      complete = false, mergeKey = Some("id"), deleteIndicator = Some("_del"))
    sink.addBatch(lastBatch,
      Seq((20L, 200L, false), (21L, 210L, false), (22L, 220L, false),
        (99L, 0L, true)).toDF("id", "v", "_del"))
    assert(dst.currentVersion.contains(vBefore),
      "a redelivered CDC batch must be an idempotent skip")
    // deleteIndicator without mergeKey refuses loudly
    intercept[IllegalArgumentException] {
      new graft.sources.GraftLogSink(dst, Some("x"), 1, complete = false,
        deleteIndicator = Some("_del"))
        .addBatch(999L, Seq((1L, 1L, false)).toDF("id", "v", "_del"))
    }
  }

  test("upsert sink merges into a column-mapped destination in physical names") {
    val dstRoot = s"$root/t_upsmap_dst"
    spark.conf.set("spark.sql.catalog.graftups", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftups.root", root)
    spark.sql("DROP TABLE IF EXISTS graftups.t_upsmap_dst")
    spark.sql("CREATE TABLE graftups.t_upsmap_dst (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graftups.t_upsmap_dst SELECT id, id * 10 AS v FROM range(10)")
    spark.sql("ALTER TABLE graftups.t_upsmap_dst RENAME COLUMN v TO w")
    val dst = new graft.sources.SnapshotLog(dstRoot)
    val src = freshLog("t_upsmap_src")
    // the feed speaks the LOGICAL post-rename name
    src.append((5L until 12L).map(i => (i, i * 1000L)).toDF("id", "w"), 1)
    val ckpt = tempRoot("graft_upsmap_")
    val q = spark.readStream
      .format("graft-log").option("root", src.root).load()
      .writeStream.format("graft-log")
      .option("root", dstRoot).option("mergeKey", "id")
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    // no fresh physical id; updates landed in the SAME physical column
    assert(dst.columnMapping(dst.currentVersion.get).get._2.toSet ==
      Set("id" -> "id", "w" -> "v"))
    val got = dst.readMapped(spark, dst.currentVersion.get).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = (0L until 5L).map(i => i -> i * 10L).toMap ++
      (5L until 12L).map(i => i -> i * 1000L).toMap
    assert(got == want, s"got $got")
    // the catalog SQL read agrees (same translating facade)
    assert(spark.sql("SELECT sum(w) FROM graftups.t_upsmap_dst").head().getLong(0) ==
      want.values.sum)
  }

  test("widened mapped tables stream through the pinned physical schema") {
    spark.conf.set("spark.sql.catalog.graftws", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftws.root", root)
    spark.sql("DROP TABLE IF EXISTS graftws.t_widestream")
    spark.sql("CREATE TABLE graftws.t_widestream (id BIGINT, v INT, u INT)")
    spark.sql("INSERT INTO graftws.t_widestream " +
      "SELECT id, CAST(id AS INT) AS v, CAST(id AS INT) AS u FROM range(5)")
    spark.sql("ALTER TABLE graftws.t_widestream RENAME COLUMN v TO amount")
    spark.sql("ALTER TABLE graftws.t_widestream ALTER COLUMN amount TYPE BIGINT")
    spark.sql("INSERT INTO graftws.t_widestream " +
      "SELECT id + 5, CAST((id + 5) * 1000000000000 AS BIGINT) AS amount, " +
      "CAST(id AS INT) AS u FROM range(5)")
    val log = new graft.sources.SnapshotLog(s"$root/t_widestream")
    val q = spark.readStream
      .format("graft-log").option("root", log.root).load()
      .writeStream.format("memory").queryName("logsrc_widestream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val sunk = spark.table("logsrc_widestream")
      assert(sunk.schema.fields.map(f => (f.name, f.dataType.sql)).toSeq ==
        Seq(("id", "BIGINT"), ("amount", "BIGINT"), ("u", "INT")),
        "the stream serves the widened LOGICAL schema")
      // hash-equal to the batch read: narrow pre-widening files up-cast
      val batch = spark.sql("SELECT * FROM graftws.t_widestream")
      assert(sunk.exceptAll(batch).count() == 0 && batch.exceptAll(sunk).count() == 0)
      // a widening declared MID-STREAM refuses loudly (fail-once; a
      // restart on the same checkpoint re-pins the widened types)
      spark.sql("ALTER TABLE graftws.t_widestream ALTER COLUMN u TYPE BIGINT")
      spark.sql("INSERT INTO graftws.t_widestream VALUES (100, 100, 100)")
      val died = intercept[Exception] { q.processAllAvailable() }
      // either guard is the right refusal: the declared-schema handshake
      // (widenings applied) or the explicit widening pin
      def anywhere(t: Throwable): Boolean = t != null &&
        (Option(t.getMessage).exists(m => m.contains("widened column type") ||
          m.contains("evolved mid-stream")) || anywhere(t.getCause))
      assert(anywhere(died), s"wrong failure: ${died.getMessage}")
    } finally q.stop()
  }

  test("sink auto-compaction keeps firing through interleaved DML on the destination") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val src = freshLog("t_acdml_src")
    val dst = freshLog("t_acdml_dst")
    dst.createEmpty(StructType(Seq(
      StructField("id", LongType), StructField("v", LongType))))
    (0 until 3).foreach { i =>
      src.append((i * 10 until i * 10 + 10).map(j => (j.toLong, j.toLong))
        .toDF("id", "v"), 1); ()
    }
    val ckpt = tempRoot("graft_acdml_")
    def drain(): Unit = {
      val q = spark.readStream
        .format("graft-log").option("root", src.root)
        .option("maxVersionsPerTrigger", "1").load()
        .writeStream.format("graft-log")
        .option("root", dst.root)
        .option("autoCompact", "true").option("autoCompactEveryBatches", "2")
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    // DML between triggers: a merge-on-read delete masks one sunk file
    dst.deleteWhere(spark, col("id") === 0L)
    assert(dst.posDeleteFiles(dst.currentVersion.get).nonEmpty)
    // more backlog; the next compaction tick must FIRE (not stall on the
    // mask): unmasked smalls repack, the masked file carries with its mask
    (3 until 6).foreach { i =>
      src.append((i * 10 until i * 10 + 10).map(j => (j.toLong, j.toLong))
        .toDF("id", "v"), 1); ()
    }
    drain()
    val cur = dst.currentVersion.get
    assert(dst.posDeleteFiles(cur).nonEmpty, "the mask must survive the repack")
    assert(dst.dataFiles(cur).size < 6,
      s"auto-compaction must have fired under the mask, got ${dst.dataFiles(cur).size} files")
    assert(dst.readLatest(spark).count() == 59L, "content: 60 sunk minus 1 deleted")
  }

  test("CDC deletes compose with a column-mapped, widened upsert destination") {
    spark.conf.set("spark.sql.catalog.graftcdm", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcdm.root", root)
    spark.sql("DROP TABLE IF EXISTS graftcdm.t_cdm_dst")
    spark.sql("CREATE TABLE graftcdm.t_cdm_dst (id BIGINT, v INT)")
    spark.sql("INSERT INTO graftcdm.t_cdm_dst SELECT id, CAST(id AS INT) AS v FROM range(10)")
    spark.sql("ALTER TABLE graftcdm.t_cdm_dst RENAME COLUMN v TO amount")
    spark.sql("ALTER TABLE graftcdm.t_cdm_dst ALTER COLUMN amount TYPE BIGINT")
    val dst = new graft.sources.SnapshotLog(s"$root/t_cdm_dst")
    val src = freshLog("t_cdm_src")
    // one CDC batch: update id 1 (wide value), delete ids 3 and 99
    // (99 absent -> no-op), insert id 20 — logical names + indicator
    src.append(Seq(
      (1L, 5000000001L, false), (3L, 0L, true),
      (99L, 0L, true), (20L, 5000000020L, false))
      .toDF("id", "amount", "_del"), 1)
    val ckpt = tempRoot("graft_cdm_")
    val q = spark.readStream
      .format("graft-log").option("root", src.root).load()
      .writeStream.format("graft-log")
      .option("root", dst.root)
      .option("mergeKey", "id").option("deleteIndicator", "_del")
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    // updates landed in the SAME physical column, wide values intact,
    // deletes applied, indicator never written
    assert(dst.columnMapping(dst.currentVersion.get).get._2.toSet ==
      Set("id" -> "id", "amount" -> "v"))
    val got = dst.readMapped(spark, dst.currentVersion.get).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = (0L until 10L).map(i => i -> i).toMap - 3L +
      (1L -> 5000000001L) + (20L -> 5000000020L)
    assert(got == want, s"got $got")
    assert(spark.sql("SELECT sum(amount) FROM graftcdm.t_cdm_dst")
      .head().getLong(0) == want.values.sum,
      "the catalog read agrees with the mapped API read")
  }

  test("a float-target widening refuses the stream loudly (no reader promotion)") {
    val log = freshLog("t_floatwiden")
    log.append(Seq((1L, 7.toShort), (2L, 9.toShort)).toDF("id", "v"), 1)
    log.enableColumnMapping(spark)
    log.widenColumn(spark, "v", "float")
    val ex = intercept[Exception] {
      spark.readStream.format("graft-log").option("root", log.root).load()
    }
    assert(ex.getMessage.contains("float-target"), ex.getMessage)
  }

  test("Trigger.AvailableNow drains the backlog in bounded batches, self-terminates, and a second run catches up incrementally") {
    val log = freshLog("t_avnow")
    (0 until 3).foreach { i =>
      log.append(((i * 10) until (i * 10 + 10)).map(j => (j.toLong, j.toLong))
        .toDF("id", "v"), partitions = 1); ()
    }
    val sink = s"$root/t_avnow_sink"
    val ckpt = s"$root/t_avnow_ckpt"
    Seq(sink, ckpt).foreach(d => StreamingSessionize.deleteTree(java.nio.file.Paths.get(d)))
    def drainOnce(): (Boolean, Long) = {
      val q = spark.readStream
        .format("graft-log").option("root", log.root)
        .option("maxVersionsPerTrigger", "1").load()
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .outputMode("append").start()
      val finished = q.awaitTermination(120000L)
      val batches = q.recentProgress.count(_.numInputRows > 0).toLong
      if (!finished) q.stop()
      (finished, batches)
    }
    val (fin1, batches1) = drainOnce()
    assert(fin1, "the AvailableNow run must terminate on its own")
    assert(batches1 == 3L,
      s"expected 3 version-bounded batches (one per commit), got $batches1")
    val schema = log.readLatest(spark).schema
    assert(spark.read.schema(schema).parquet(sink).count() == 30L)
    // commits landing AFTER the drain wait for the next run, which picks
    // up the SAME checkpoint and emits only the delta
    log.append(Seq((100L, 100L), (101L, 101L)).toDF("id", "v"), partitions = 1)
    val (fin2, batches2) = drainOnce()
    assert(fin2 && batches2 == 1L, s"expected one delta batch, got $batches2")
    val all = spark.read.schema(schema).parquet(sink)
    assert(all.count() == 32L && all.distinct().count() == 32L,
      "the second run must emit exactly the delta, no re-emission")
  }
}
