package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Cdc
import graft.streaming.StreamingCdc

class StreamingCdcSpec extends AnyFunSuite {
  import SparkTestSession._

  private def root(name: String) = s"${GraftSession.target}/test-stream-cdc/$name"

  private def fixture = {
    import spark.implicits._
    val base = (1L to 60L).map(k => (k, s"v$k", k * 10.0)).toDF("k", "name", "amt")
    val changes =
      (1L to 60L by 3).map(k => (k, s"upd$k", k * 100.0, "u")) ++ // updates
        (2L to 60L by 3).map(k => (k, s"v$k", k * 10.0, "d")) ++ // deletes
        (101L to 120L).map(k => (k, s"new$k", 1.0, "i")) // inserts
    (base, changes.toDF("k", "name", "amt", "op"))
  }

  test("streamed per-batch merges converge to the all-at-once batch merge") {
    val (base, changes) = fixture
    val streamed = StreamingCdc.upsertReplay(
      base, changes, Seq("k"), root("converge"), slices = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val batch = Cdc.applyChanges(base, changes, Seq("k"))
      .orderBy(col("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(streamed.toSeq == batch.toSeq)
    // sanity on the semantics, not just the equivalence
    val byKey = streamed.map(t => t._1 -> t).toMap
    assert(byKey(1L)._2 == "upd1" && byKey(1L)._3 == 100.0) // updated
    assert(!byKey.contains(2L)) // deleted
    assert(byKey(101L)._2 == "new101") // inserted
    assert(byKey(3L)._2 == "v3") // untouched passthrough
  }

  test("txnIngestReplay: one anchor per trigger, consistent cross-table cuts, clean routing") {
    import spark.implicits._
    val input = (1L to 30L).map(k => (k, s"p$k")).toDF("k", "payload")
    val (cat, txns) = StreamingCdc.txnIngestReplay(
      input, sliceKeys = Seq("k"), routeToA = col("k") % 2 === 0,
      root = root("txn-ingest"), slices = 3, partitions = 1)
    assert(txns == Seq(0L, 1L, 2L))
    // every anchored cut is internally consistent and grows monotonically
    val cuts = txns.map(t =>
      (cat.readTable(spark, t, "a").count(), cat.readTable(spark, t, "b").count()))
    assert(cuts.last == ((15L, 15L)))
    assert(cuts.zip(cuts.tail).forall { case ((a1, b1), (a2, b2)) => a1 <= a2 && b1 <= b2 })
    // routing: table a holds exactly the even keys
    assert(cat.readTable(spark, cat.current.get, "a")
      .select("k").as[Long].collect().forall(_ % 2 == 0))
    // no catalog-invisible versions: every table commit is anchored
    assert(cat.unanchoredVersions.values.forall(_.isEmpty))
  }

  test("logStreamReplay: commits stream as ordered micro-batches, zero-copy, batch parity") {
    import spark.implicits._
    val log = new graft.sources.SnapshotLog(root("log-stream/log"))
    log.recreate()
    (0 until 3).foreach { i =>
      log.append((1L to 20L).filter(_ % 3 == i).map(k => (k, k * 10L)).toDF("k", "amt"),
        partitions = 2)
      ()
    }
    val before = log.dataFiles(log.currentVersion.get)
      .map(p => new java.io.File(s"${log.root}/$p").lastModified())
    val (tbl, triggers) = StreamingCdc.logStreamReplay(
      log,
      src => src.groupBy(lit(1).as("g")).agg(count(lit(1)).as("n"), sum(col("amt")).as("s")),
      outputMode = "complete",
      queryName = "log_stream_spec_sink")
    // one trigger per committed file, all rows delivered exactly once
    assert(triggers == 6L)
    val r = tbl.select("n", "s").as[(Long, Long)].head()
    assert(r == ((20L, (1L to 20L).map(_ * 10L).sum)))
    // the log's own files survive the replay (links dropped, inodes live)
    assert(log.readLatest(spark).count() == 20L)
    assert(before.forall(_ > 0L))
    // append-only discipline: a rewrite in range refuses loudly
    log.compact(spark, partitions = 1)
    val ex = intercept[IllegalArgumentException](
      StreamingCdc.logStreamReplay(log, identity[org.apache.spark.sql.DataFrame],
        "append", "log_stream_spec_sink2"))
    assert(ex.getMessage.contains("rewrite"))
    // streaming from AFTER the rewrite works again (appends since v3)
    log.append(Seq((100L, 1000L)).toDF("k", "amt"), partitions = 1)
    val (tail, t2) = StreamingCdc.logStreamReplay(
      log,
      src => src.groupBy(lit(1).as("g")).agg(count(lit(1)).as("n"), sum(col("amt")).as("s")),
      outputMode = "complete",
      queryName = "log_stream_spec_sink3",
      fromVersion = Some(3L))
    assert(t2 == 1L)
    assert(tail.select("n", "s").as[(Long, Long)].head() == ((1L, 1000L)))
  }

  test("every micro-batch materializes a readable table version") {
    val (base, changes) = fixture
    StreamingCdc.upsertReplay(base, changes, Seq("k"), root("versions"), slices = 3)
    val versions = (0L to 3L).map { v =>
      spark.read.parquet(s"${root("versions")}/base_v$v").count()
    }
    // v0 is the base; each subsequent version reflects one applied batch
    assert(versions.head == 60L)
    assert(versions.length == 4)
    // deletes shrink, inserts grow — the versions must not all be equal
    assert(versions.distinct.length > 1)
  }

  test("snapshotIngestReplay: one atomic version per trigger, history pinnable, final = input") {
    import spark.implicits._
    val input = (0L until 90L).map(i => (i, s"p$i")).toDF("k", "payload")
    val versions = StreamingCdc.snapshotIngestReplay(
      input, sliceKeys = Seq("k"), root = root("snap_ingest"), slices = 3)
    assert(versions == Seq(0L, 1L, 2L), "one dense version per trigger")
    val log = new graft.sources.SnapshotLog(s"${root("snap_ingest")}/log")
    val counts = versions.map(v => log.read(spark, v).count())
    assert(counts.last == 90L && counts.zip(counts.tail).forall { case (a, b) => a < b },
      s"history must grow per trigger: $counts")
    // a pinned mid-stream version is exactly the first two triggers' rows
    assert(log.read(spark, 1L).count() == counts(1))
    assert(log.readLatest(spark).select("k").as[Long].collect().toSet ==
      (0L until 90L).toSet)
  }

  test("replayForeachBatch: one batch per slice, delivered sequentially in staged order") {
    import spark.implicits._
    val input = (0L until 90L).map(i => (i, i % 3)).toDF("v", "slice")
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Set[Long])]
    StreamingCdc.replayForeachBatch(input, col("slice"), 3, root("runner")) {
      (batch, id) =>
        seen += ((id, batch.select("v").collect().map(_.getLong(0)).toSet))
    }
    assert(seen.map(_._1).toSeq == Seq(0L, 1L, 2L))
    // each batch is exactly its staged slice
    (0 until 3).foreach { i =>
      assert(seen(i)._2 == (0L until 90L).filter(_ % 3 == i).toSet)
    }
  }

  test("a re-run over the same scratch root converges to the identical state") {
    val (base, changes) = fixture
    val a = StreamingCdc.upsertReplay(base, changes, Seq("k"), root("rerun"))
      .collect().map(_.toString).toSeq
    val b = StreamingCdc.upsertReplay(base, changes, Seq("k"), root("rerun"))
      .collect().map(_.toString).toSeq
    assert(a == b && a.nonEmpty)
  }
}
