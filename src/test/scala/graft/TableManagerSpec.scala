package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{EventsEtl, Sessionize}
import graft.sources.{CsvSource, TableManager}

class TableManagerSpec extends AnyFunSuite with TempRoots {
  import SparkTestSession._

  test("dynamic partition overwrite load is idempotent") {
    val schema = StructType(Seq(
      StructField("event_id", LongType, nullable = false),
      StructField("user_id", LongType, nullable = false),
      StructField("event_date", DateType, nullable = false)))
    val t = new TableManager("t_idem_spec", schema, Seq("event_date"))
    t.recreate(spark)
    val batch = Tables.events(spark, SfDir)
      .withColumn("event_date", to_date(col("ts")))
      .select(col("event_id"), col("user_id"), col("event_date"))
    t.overwritePartitions(spark, batch)
    val once = t.read(spark).count()
    t.overwritePartitions(spark, batch)
    assert(t.read(spark).count() == once)
    t.drop(spark)
  }

  test("overwrite replaces only the partitions present in the batch") {
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("d", StringType, nullable = false)))
    val t = new TableManager("t_dyn_spec", schema, Seq("d"))
    t.recreate(spark)
    import spark.implicits._
    t.overwritePartitions(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "d"))
    t.overwritePartitions(spark, Seq((99L, "b")).toDF("k", "d")) // touches only d=b
    val got = t.read(spark).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (99L, "b")))
    t.drop(spark)
  }

  test("retentionPrune drops exactly the expired partitions, idempotently, and loudly rejects a non-key") {
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("d", StringType, nullable = false)))
    val t = new TableManager("t_retention_spec", schema, Seq("d"))
    t.recreate(spark)
    import spark.implicits._
    t.overwritePartitions(spark, Seq(
      (1L, "2024-01-01"), (2L, "2024-01-09"), (3L, "2024-01-10"), (4L, "2024-01-11"))
      .toDF("k", "d"))
    val dropped = t.retentionPrune(spark, "d", "2024-01-10")
    assert(dropped == Seq("2024-01-01", "2024-01-09"), "strictly-below partitions drop")
    val survivors = t.read(spark).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(survivors == Set((3L, "2024-01-10"), (4L, "2024-01-11")),
      "the cutoff partition itself must survive")
    assert(t.retentionPrune(spark, "d", "2024-01-10").isEmpty, "second run is a no-op")
    intercept[IllegalArgumentException] {
      t.retentionPrune(spark, "k", "0") // not a partition key
    }
    t.drop(spark)
  }

  test("kst boundary load preserves the other batch's spill rows") {
    // one user, two events: 23:58 UTC Jan 15 (KST Jan 16 08:58) and
    // 00:01 UTC Jan 16 (KST Jan 16 09:01) — same KST partition, different batches.
    import spark.implicits._
    val ev = Seq(
      (1L, 7L, "view", 1.0, "2024-01-15 23:58:00"),
      (2L, 7L, "view", 2.0, "2024-01-16 00:01:00"))
      .toDF("event_id", "user_id", "event_type", "value", "ts_s")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val t = EventsEtl.manager("t_kst_spec")
    t.recreate(spark)
    EventsEtl.loadBatch(spark, t, ev, "2024-01-01 00:00:00", "2024-01-16 00:00:00")
    EventsEtl.loadBatch(spark, t, ev, "2024-01-16 00:00:00", "2024-02-01 00:00:00")
    val rows = t.read(spark).select("event_id", "session_id").collect()
    assert(rows.length == 2, "batch-2 overwrite must not drop batch-1's KST spill row")
    // 3-minute gap → continuity carries ONE session across the batch cut
    assert(rows.map(_.getString(1)).distinct.length == 1)
    t.drop(spark)
  }

  test("3-batch load chain: one parquet file per KST partition, table == single-batch sessionize") {
    // cuts off the KST midnight (15:00 UTC), so both cuts split a KST date
    // between two loads and those edge partitions are rewritten with the
    // preserved rows of the other batch
    val ev = Tables.events(spark, SfDir)
    val t = EventsEtl.manager("t_chain_spec")
    t.recreate(spark)
    val bounds = Seq("2024-01-01 00:00:00", "2024-01-10 03:17:29", "2024-01-21 11:45:03",
      "2024-02-01 00:00:00")
    bounds.sliding(2).foreach { case Seq(s, e) => EventsEtl.loadBatch(spark, t, ev, s, e) }

    val root = new java.io.File(spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier(t.name)))
    val files = root.listFiles().filter(_.getName.startsWith("event_date_kst="))
      .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    assert(files.size >= 30, s"the chain must span the month: $files")
    assert(files.values.forall(_ == 1), s"each KST partition is written by one task: $files")

    val cols = Seq("event_id", "user_id", "epoch_sec", "session_id", "session_start_sec", "event_date_kst")
    val whole = Sessionize.sessionize(ev).withColumn("event_date_kst", EventsEtl.kstDate(col("ts")))
    val loaded = t.read(spark).select(cols.map(col): _*)
    assert(loaded.count() == ev.count())
    assert(loaded.exceptAll(whole.select(cols.map(col): _*)).isEmpty)
    t.drop(spark)
  }

  test("loadBatches groups contiguous runs and matches individual loads") {
    import spark.implicits._
    // four events across three "months"; requested ranges: Jan+Feb (contiguous
    // → one run, so the session crossing Jan 31/Feb 1 is stitched in-pass)
    // and Apr (separate run). March is not requested and must stay absent.
    val ev = Seq(
      (1L, 7L, "view", 1.0, "2024-01-31 23:58:00"),
      (2L, 7L, "view", 2.0, "2024-02-01 00:01:00"),
      (3L, 8L, "view", 3.0, "2024-03-05 12:00:00"),
      (4L, 9L, "view", 4.0, "2024-04-02 09:00:00"))
      .toDF("event_id", "user_id", "event_type", "value", "ts_s")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")

    val viaRuns = EventsEtl.manager("t_runs_spec")
    viaRuns.recreate(spark)
    EventsEtl.loadBatches(spark, viaRuns, ev, Seq(         // unsorted on purpose
      ("2024-04-01 00:00:00", "2024-05-01 00:00:00"),
      ("2024-01-01 00:00:00", "2024-02-01 00:00:00"),
      ("2024-02-01 00:00:00", "2024-03-01 00:00:00")))
    val got = viaRuns.read(spark)
      .select("event_id", "session_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

    val viaSingles = EventsEtl.manager("t_singles_spec")
    viaSingles.recreate(spark)
    EventsEtl.loadBatch(spark, viaSingles, ev, "2024-01-01 00:00:00", "2024-02-01 00:00:00")
    EventsEtl.loadBatch(spark, viaSingles, ev, "2024-02-01 00:00:00", "2024-03-01 00:00:00")
    EventsEtl.loadBatch(spark, viaSingles, ev, "2024-04-01 00:00:00", "2024-05-01 00:00:00")
    val expected = viaSingles.read(spark)
      .select("event_id", "session_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

    assert(got == expected)
    assert(got.map(_._1) == Set(1L, 2L, 4L))              // March excluded
    // the 3-minute gap across the Jan/Feb boundary is ONE session
    assert(got.collect { case (id, s) if id == 1L || id == 2L => s }.size == 1)
    t_overlap_rejected()
    viaRuns.drop(spark); viaSingles.drop(spark)
  }

  private def t_overlap_rejected(): Unit = {
    import spark.implicits._
    val ev = Seq((1L, 7L, "view", 1.0, "2024-01-02 00:00:00"))
      .toDF("event_id", "user_id", "event_type", "value", "ts_s")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val t = EventsEtl.manager("t_overlap_spec")
    t.recreate(spark)
    intercept[IllegalArgumentException] {
      EventsEtl.loadBatches(spark, t, ev, Seq(
        ("2024-01-01 00:00:00", "2024-02-01 00:00:00"),
        ("2024-01-15 00:00:00", "2024-03-01 00:00:00")))
    }
    t.drop(spark)
  }

  test("external table: data survives DROP and is recovered at the pinned location") {
    import spark.implicits._
    val loc = tempRoot("t_ext_spec").toString
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("d", StringType, nullable = false)))
    val t1 = new TableManager("t_ext_spec", schema, Seq("d"), location = Some(loc))
    t1.recreate(spark)
    t1.overwritePartitions(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "d"))
    t1.drop(spark) // catalog entry gone; EXTERNAL data must survive

    val dataFiles = new java.io.File(loc).listFiles()
    assert(dataFiles != null && dataFiles.exists(_.getName.startsWith("d=")),
      "external location lost its partition directories on DROP")

    // a fresh catalog entry at the same location sees the old partitions
    val t2 = new TableManager("t_ext_spec", schema, Seq("d"), location = Some(loc))
    val got = t2.read(spark).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "b")))
    t2.drop(spark)
  }

  test("csv month-name resolution matches the reference layout") {
    assert(CsvSource.monthFileName("2019-10") == "2019-Oct.csv")
    assert(CsvSource.monthFileName("2024-01") == "2024-Jan.csv")
  }

  test("compaction: fragmented write collapses to the file-count target, bytes unchanged") {
    val docs = Tables.documents(spark, SfDir)
    val frag = s"${GraftSession.target}/etl_scratch/spec/fragmented"
    val comp = s"${GraftSession.target}/etl_scratch/spec/compacted"
    def parquetFiles(p: String): Int =
      Option(new java.io.File(p).listFiles()).getOrElse(Array.empty)
        .count(_.getName.endsWith(".parquet"))
    docs.repartition(40).write.mode("overwrite").parquet(frag)
    assert(parquetFiles(frag) >= 30, "the fixture must actually be fragmented")
    spark.read.schema(docs.schema).parquet(frag)
      .repartition(4).write.mode("overwrite").parquet(comp)
    assert(parquetFiles(comp) <= 4, "compaction must bound the file count")
    // content identity: same rows, same bytes-of-interest
    val before = docs.agg(count(lit(1)), sum(col("n_chars")), sum(col("doc_id"))).first()
    val after = spark.read.schema(docs.schema).parquet(comp)
      .agg(count(lit(1)), sum(col("n_chars")), sum(col("doc_id"))).first()
    assert(before == after)
  }
}
