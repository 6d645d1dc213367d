package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint RECOVERY — the exactly-once property every production
  * streaming pipeline leans on: a query stopped mid-stream and restarted
  * from its checkpoint must neither drop nor duplicate rows, ending at the
  * same answer as one uninterrupted run. The replay harnesses prove
  * watermark/state semantics; this spec proves the RESTART path (file
  * source offsets + file sink commit log, both checkpoint-backed).
  */
class StreamingRecoverySpec extends AnyFunSuite with TempRoots {
  import SparkTestSession._
  import spark.implicits._

  test("kill + restart from checkpoint: no loss, no duplicates, batch parity") {
    val base = tempRoot("graft_recovery_")
    val (streamDir, sinkDir, ckptDir) =
      (base.resolve("in"), base.resolve("out"), base.resolve("ckpt"))
    Files.createDirectories(streamDir)
    val ev = Tables.events(spark, SfDir)
      .select(col("user_id").cast("long").as("user_id"), col("ts"))
    val bounds = ev.agg(
      min(unix_timestamp(col("ts"))), max(unix_timestamp(col("ts")))).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val span = hi - lo + 1
    val slices = 4
    val sliceDfs = (0 until slices).map { i =>
      val e = unix_timestamp(col("ts"))
      ev.where(e >= lo + span * i / slices && e < lo + span * (i + 1) / slices)
    } ++ Seq(hi + 86400L + 660L, hi + 86400L + 720L).map { sec =>
      Seq(-1L).toDF("user_id").select(col("user_id"), lit(sec).cast("timestamp").as("ts"))
    }
    val staged = sliceDfs.zipWithIndex.map { case (df, i) =>
      val stage = base.resolve(s"stage_$i")
      df.coalesce(1).write.parquet(stage.toString)
      import scala.jdk.CollectionConverters._
      Files.list(stage).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part for slice $i"))
    }
    def publish(i: Int): Unit = {
      val dest = streamDir.resolve(f"part_$i%03d.parquet")
      Files.copy(staged(i), dest, StandardCopyOption.REPLACE_EXISTING)
      // the file source orders new files by (modified time, path); copies
      // land with near-identical mtimes, so pin them or the sentinels can
      // overtake a data slice and late-drop it (the replay-harness rule)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 1000L))
      ()
    }
    def runOnce(label: String): Unit = {
      val q = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
        .withWatermark("ts", "600 seconds")
        .groupBy(window(col("ts"), "1 day").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(to_date(col("w.start")).as("day"), col("user_id"), col("n"))
        .writeStream.format("parquet")
        .option("path", sinkDir.toString)
        .option("checkpointLocation", ckptDir.toString)
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        info(s"$label: " + q.recentProgress.map(p =>
          s"b${p.batchId}:in=${p.numInputRows}:wm=${Option(p.eventTime.get("watermark")).getOrElse("-")}")
          .mkString(" "))
      } finally q.stop()
    }
    // phase 1: only the first two slices exist, then the query STOPS
    (0 to 1).foreach(publish)
    runOnce("phase1")
    val afterPhase1 = spark.read.schema("day date, user_id long, n long")
      .parquet(sinkDir.toString).count()
    // phase 2: the rest (incl. sentinels) lands, a NEW query instance
    // resumes from the same checkpoint
    (2 until staged.length).foreach(publish)
    runOnce("phase2")
    val got = spark.read.parquet(sinkDir.toString)
      .where(col("user_id") >= 0)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    val expected = ev
      .groupBy(to_date(col("ts")).as("day"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    assert(expected.nonEmpty)
    assert(got.length == got.distinct.length, "restart introduced duplicate emissions")
    assert(got.toSet == expected.toSet,
      s"recovery diverged from batch: missing=${(expected.toSet -- got.toSet).take(3)} " +
        s"extra=${(got.toSet -- expected.toSet).take(3)}")
    // the stop genuinely interrupted mid-stream: phase 1 must not have
    // already emitted the full answer
    assert(afterPhase1 < expected.length,
      s"phase 1 emitted $afterPhase1 of ${expected.length} — nothing was left to recover")
  }
}
