package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SnapshotLog

/** Change data feed over the snapshot log ([[SnapshotLog.readChanges]]):
  * per-version inserts/deletes derived purely from the manifest deltas,
  * updates as pre+post image pairs, reorg commits netting to zero.
  */
class SnapshotCdfSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshLog(name: String): SnapshotLog = {
    val log = new SnapshotLog(s"${GraftSession.target}/cdf_spec/$name")
    log.recreate()
    log
  }

  private def changeCounts(df: org.apache.spark.sql.DataFrame): Map[(Long, String), Long] =
    df.groupBy("_commit_version", "_change_type").count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap

  test("append, MOR delete, MOR update, COW delete, compact: each version's change set is exact") {
    val log = freshLog("t_cdf")
    val v0 = log.append((0 until 20).map(i => (i.toLong, i.toLong * 10)).toDF("id", "v"), 2)
    val v1 = log.append((20 until 30).map(i => (i.toLong, i.toLong * 10)).toDF("id", "v"), 1)
    val (v2, n2) = log.deleteWhere(spark, col("id") < 3)            // MOR: posdel masks
    val (v3, n3) = log.updateWhere(spark, col("id").between(10, 12),
      Seq("v" -> (col("v") + 1)))                                    // MOR: posdel + images
    val (v4, n4) = log.deleteWhereCow(spark, col("id") === 25)       // COW: grazed rewrite
    assert((n2, n3, n4) == (3L, 3L, 1L))
    val v5 = log.compact(spark, partitions = 2)                      // reorg: net zero

    val feed = log.readChanges(spark, -1L, v5)
    val counts = changeCounts(feed)
    assert(counts((v0, "insert")) == 20L && counts((v1, "insert")) == 10L)
    assert(counts((v2, "delete")) == 3L && !counts.contains((v2, "insert")))
    assert(counts((v3, "delete")) == 3L && counts((v3, "insert")) == 3L)
    assert(counts((v4, "delete")) == 1L && !counts.contains((v4, "insert")))
    assert(!counts.exists(_._1._1 == v5), s"compact must net to zero, got $counts")

    // update pre/post images carry the exact old and new values
    val pre = feed.where(col("_commit_version") === v3 && col("_change_type") === "delete")
    val post = feed.where(col("_commit_version") === v3 && col("_change_type") === "insert")
    assert(pre.where(col("v") === col("id") * 10).count() == 3L)
    assert(post.where(col("v") === col("id") * 10 + 1).count() == 3L)
    // COW delete emits ONLY the deleted row, not the carried rewrites
    val cow = feed.where(col("_commit_version") === v4)
    assert(cow.select("id").as[Long].collect().toSeq == Seq(25L))

    // replaying the feed reconstructs the current table exactly
    val replayed = feed.groupBy("id", "v")
      .agg(sum(when(col("_change_type") === "insert", 1).otherwise(-1)).as("net"))
      .where(col("net") > 0).select("id", "v")
    assert(replayed.exceptAll(log.read(spark, v5).select("id", "v")).count() == 0L)
    assert(log.read(spark, v5).select("id", "v").exceptAll(replayed).count() == 0L)

    // a mid-range window sees only its own versions
    val window = log.readChanges(spark, v1, v3)
    assert(changeCounts(window).keySet.map(_._1) == Set(v2, v3))
  }

  test("key tombstones, dv collapse, and refusals") {
    val log = freshLog("t_cdf2")
    log.append((0 until 10).map(i => (i.toLong, s"p-$i")).toDF("id", "tag"), 1)
    val vDel = log.deleteRows(Seq(Tuple1(4L)).toDF("id"), 1)         // key tombstone
    val feed1 = log.readChanges(spark, vDel - 1L, vDel)
    val rows = feed1.collect()
    assert(rows.length == 1 && rows.head.getAs[String]("_change_type") == "delete" &&
      rows.head.getAs[Long]("id") == 4L)
    log.compact(spark, partitions = 1)
    // dv collapse is a pure mask reorg: zero change rows
    log.deleteWhere(spark, col("id") === 5L)
    val (vDv, _) = log.writeDeleteVectors(spark)
    assert(log.readChanges(spark, vDv - 1L, vDv).count() == 0L)
    // bad ranges refuse loudly
    intercept[IllegalArgumentException] { log.readChanges(spark, vDv, vDv) }
    intercept[IllegalArgumentException] { log.readChanges(spark, -1L, vDv + 99L) }
  }

  test("the feed serves column-mapped ranges under LOGICAL names; a mapping move splits it") {
    val log = freshLog("t_cdf_mapped")
    log.append((0 until 10).map(i => (i.toLong, i.toLong * 10)).toDF("id", "v"), 1)
    val vMap = log.enableColumnMapping(spark)
    val vRen = log.renameColumn("v", "w")
    // post-rename changes: appends land physical, the feed serves logical
    val vIns = log.appendMapped(
      (10 until 15).map(i => (i.toLong, i.toLong * 10)).toDF("id", "w"), 1)
    val (vDel, nDel) = log.deleteWhere(spark, col("id") === 11L)
    assert(nDel == 1L)
    val feed = log.readChanges(spark, vRen, vDel)
    assert(feed.columns.toSeq == Seq("id", "w", "_change_type", "_commit_version"))
    val counts = feed.groupBy("_commit_version", "_change_type").count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(counts((vIns, "insert")) == 5L && counts((vDel, "delete")) == 1L)
    assert(feed.where(col("_change_type") === "delete").head().getLong(0) == 11L)
    // a range spanning the RENAME mixes two namings: refuse, split there
    val ex = intercept[IllegalArgumentException] {
      log.readChanges(spark, vMap - 1L, vDel)
    }
    assert(ex.getMessage.contains("mapping moves inside"), ex.getMessage)
    // a range spanning the ENABLE commit mixes unmapped + mapped: refuse
    val ex2 = intercept[IllegalArgumentException] {
      log.readChanges(spark, -1L, vMap)
    }
    assert(ex2.getMessage.contains("mapping moves inside"), ex2.getMessage)
  }

  test("changeFeed's from-the-beginning window serves the MASKED head snapshot after an expire") {
    val log = freshLog("t_cdf_expirehead")
    log.append((0 until 6).map(i => (i.toLong, i.toLong * 10)).toDF("id", "v"), 1) // v0
    val (v1, nDel) = log.deleteWhere(spark, col("id") === 1L) // v1: mask lines
    val v2 = log.append(Seq((100L, 1000L)).toDF("id", "v"), 1)
    assert(nDel == 1L)
    // expire v0: the surviving head (v1) now CARRIES mask lines — the
    // from-the-beginning window must serve v1 as its masked snapshot
    // (the deleted row absent, NO delete rows, and no doomed join
    // against the expired v0)
    log.expire(keepFrom = v1)
    val feed = log.changeFeed(spark, v1 - 1L, v2)
    assert(feed.where(col("_change_type") === "delete").count() == 0L,
      "the initial snapshot window reports state, not history")
    val headIns = feed.where(col("_commit_version") === v1 &&
      col("_change_type") === "insert")
    assert(headIns.count() == 5L, "the masked head: 6 rows minus the deleted one")
    assert(headIns.where(col("id") === 1L).count() == 0L,
      "a row deleted before the window floor must not resurrect as an insert")
    assert(feed.where(col("_commit_version") === v2).count() == 1L)
  }
}
