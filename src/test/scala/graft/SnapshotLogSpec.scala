package graft

import java.io.File

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ConcurrentCommitException, SnapshotLog}
import graft.streaming.StreamingSessionize

class SnapshotLogSpec extends AnyFunSuite with TempRoots {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshLog(name: String): SnapshotLog = {
    val log = new SnapshotLog(s"${GraftSession.target}/snaplog_spec/$name")
    log.recreate()
    log
  }

  private def rows(n: Int, tag: String) =
    (0 until n).map(i => (i.toLong, s"$tag-$i")).toDF("id", "payload")

  test("append/overwrite version and preserve row sets exactly") {
    val log = freshLog("basic")
    assert(log.currentVersion.isEmpty)
    val v0 = log.append(rows(10, "a"), partitions = 2)
    assert(v0 == 0L && log.currentVersion.contains(0L))
    val v1 = log.append(rows(5, "b"), partitions = 1)
    assert(v1 == 1L)
    // v1 = union of both batches; v0 = first batch only
    assert(log.read(spark, v0).count() == 10L)
    assert(log.read(spark, v1).count() == 15L)
    val v2 = log.overwrite(rows(3, "c"), partitions = 1)
    assert(log.read(spark, v2).as[(Long, String)].collect().toSet ==
      Set((0L, "c-0"), (1L, "c-1"), (2L, "c-2")))
    // older versions untouched by the overwrite
    assert(log.read(spark, v1).count() == 15L)
  }

  test("schema evolution: an evolved append adds a column; pinned versions keep their schema") {
    val log = freshLog("evolve")
    val v0 = log.append(rows(6, "a"), partitions = 1)
    val evolved = rows(4, "b").withColumn("tier", col("id") % 2)
    val v1 = log.append(evolved, partitions = 1)
    // the pinned v0 manifest never lists the evolved files → old schema
    assert(!log.read(spark, v0).columns.contains("tier"),
      "a version pinned before the evolved append must keep the old schema")
    // merged latest: new column present, NULL for pre-evolution rows
    val latest = log.read(spark, v1, mergeSchema = true)
    assert(latest.columns.contains("tier"))
    assert(latest.where(col("tier").isNull).count() == 6L)
    assert(latest.where(col("tier").isNotNull).count() == 4L)
  }

  test("deleteRows: tombstone masks keys without rewriting; compact materializes; vacuum keeps live tombstones") {
    val log = freshLog("tombstone")
    val v0 = log.append(rows(10, "a"), partitions = 2)
    val v1 = log.deleteRows(Seq(2L, 5L, 7L).toDF("id"), partitions = 1)
    // no data file rewritten; one tombstone added
    assert(log.dataFiles(v1) == log.dataFiles(v0))
    assert(log.tombstoneFiles(v1).nonEmpty)
    assert(log.read(spark, v1).as[(Long, String)].collect().map(_._1).toSet ==
      Set(0L, 1L, 3L, 4L, 6L, 8L, 9L))
    // pinned v0 still sees all 10 rows
    assert(log.read(spark, v0).count() == 10L)
    // an append AFTER the delete: tombstones mask matching keys there too
    val v2 = log.append(Seq((5L, "late")).toDF("id", "payload"), partitions = 1)
    assert(log.read(spark, v2).where(col("id") === 5L).count() == 0L,
      "merge-on-read tombstones mask ALL files of the snapshot")
    // vacuum with live tombstones collects nothing committed
    assert(log.vacuum().isEmpty)
    // compact drops the tombstones and re-opens the key
    val v3 = log.compact(spark, partitions = 1)
    assert(log.tombstoneFiles(v3).isEmpty)
    assert(log.read(spark, v3).count() == 7L)
    val v4 = log.append(Seq((5L, "reborn")).toDF("id", "payload"), partitions = 1)
    assert(log.read(spark, v4).where(col("id") === 5L).count() == 1L)
    // deleteRows on an empty log fails loudly
    val fresh = freshLog("tombstone_empty")
    intercept[IllegalStateException] {
      fresh.deleteRows(Seq(1L).toDF("id"), partitions = 1)
    }
  }

  test("optimize: range-clustered rewrite yields disjoint per-file key ranges, rows intact") {
    val log = freshLog("optimize")
    val scattered = (0L until 200L).map(i => ((i * 37L) % 200L, s"p$i")).toDF("k", "payload")
    val v0 = log.append(scattered, partitions = 4)
    val v1 = log.optimize(spark, partitions = 3, sortCols = Seq(col("k")))
    assert(v1 == v0 + 1)
    val ranges = log.dataFiles(v1).map { p =>
      val r = spark.read.parquet(s"${log.root}/$p").agg(min(col("k")), max(col("k"))).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    assert(ranges.size > 1, "optimize must produce multiple clustered files")
    assert(ranges.zip(ranges.tail).forall { case ((_, aMax), (bMin, _)) => bMin > aMax },
      s"file key ranges must be disjoint: $ranges")
    assert(log.read(spark, v1).count() == 200L)
    // pinned unclustered version untouched
    assert(log.read(spark, v0).count() == 200L)
  }

  test("appendIndexed/readPruned: stats skip non-matching files; vacuum spares the sidecar") {
    val log = freshLog("stats")
    val clustered = (0L until 120L).map(i => (i, s"p$i")).toDF("k", "payload")
      .repartitionByRange(4, col("k")).sortWithinPartitions(col("k"))
    val v0 = log.appendIndexed(clustered, Seq("k"))
    val (pruned, (opened, total)) = log.readWhere(spark, v0, col("k").between(40L, 70L))
    assert(total == 4 && opened < total, s"expected a real skip, got $opened/$total")
    assert(pruned.select("k").as[Long].collect().toSet == (40L to 70L).toSet)
    // an out-of-range predicate opens nothing
    val (none, (opened0, _)) = log.readWhere(spark, v0, col("k").between(5000L, 6000L))
    assert(opened0 == 0 && none.count() == 0L)
    // vacuum must not collect the _stats sidecar while its files are live
    assert(log.vacuum().isEmpty)
    assert(log.readWhere(spark, v0, col("k").between(40L, 70L))._2._1 == opened,
      "stats must survive vacuum while their stage is live")
    // a stats-free append is kept conservatively
    log.append(Seq((200L, "late")).toDF("k", "payload"), partitions = 1)
    val (withLate, (o2, t2)) =
      log.readWhere(spark, log.currentVersion.get, col("k").between(199L, 201L))
    assert(withLate.count() == 1L && o2 >= 1 && t2 == 5)
  }

  test("delta-log metadata: change-sized anchors, periodic checkpoints, chains reconstruct") {
    val log = freshLog("delta") // checkpointInterval = 4
    val logDir = new File(s"${GraftSession.target}/snaplog_spec/delta/_log")
    def logName(v: Long, ext: String) = new File(logDir, f"v$v%08d.$ext")
    def rawLines(f: File) =
      java.nio.file.Files.readAllLines(f.toPath).toArray.map(_.toString).filter(_.nonEmpty)
    // `#ts=` anchor headers are commit metadata, not change lines
    def lines(f: File) = rawLines(f).filterNot(_.startsWith("#"))
    (0 to 5).foreach(i => log.append(rows(10, s"b$i"), partitions = 2))
    // every anchor records its commit wall-clock INSIDE the file, and
    // commitTimeMillis resolves from it (not from the copy-fragile mtime)
    val rawD3 = rawLines(logName(3L, "delta"))
    assert(rawD3.head.startsWith("#ts="), rawD3.head)
    assert(log.commitTimeMillis(3L) == rawD3.head.stripPrefix("#ts=").toLong)
    // anchors exist for every version; checkpoints only at the interval
    (0L to 5L).foreach(v => assert(logName(v, "delta").exists(), s"missing anchor v$v"))
    assert((0L to 5L).filter(v => logName(v, "manifest").exists()) == Seq(0L, 4L))
    // the v3 anchor records ONLY v3's change (2 added files), not the
    // 8-file table listing — the O(change) commit claim, measured
    val d3 = lines(logName(3L, "delta"))
    assert(d3.length == 2 && d3.forall(_.startsWith("+")), d3.mkString(","))
    assert(log.dataFiles(3L).size == 8)
    // reconstruction across the chain is exact at every version
    (0 to 5).foreach(v => assert(log.read(spark, v.toLong).count() == 10L * (v + 1)))
    // an overwrite's delta carries removes + adds
    log.overwrite(rows(4, "ow"), partitions = 1)
    val d6 = lines(logName(6L, "delta"))
    assert(d6.count(_.startsWith("-")) == 12 && d6.count(_.startsWith("+")) == 1)
    assert(log.read(spark, 6L).count() == 4L)
    // expire materializes a checkpoint at the oldest survivor so the
    // dropped chain is never needed again; later versions keep reading
    assert(log.expire(keepFrom = 2L) == Seq(0L, 1L))
    assert(logName(2L, "manifest").exists(), "expire must checkpoint the floor")
    assert(!logName(0L, "delta").exists() && !logName(1L, "delta").exists())
    assert(!logName(0L, "manifest").exists())
    (2 to 5).foreach(v => assert(log.read(spark, v.toLong).count() == 10L * (v + 1)))
    assert(log.versions == (2L to 6L))
    intercept[IllegalArgumentException](log.files(1L))
    ()
  }

  test("mergeCopyOnWrite: rewrites only key-matching files; untouched files carry over") {
    val log = freshLog("merge")
    val clustered = (0L until 120L).map(i => (i, s"p$i")).toDF("k", "payload")
      .repartitionByRange(4, col("k")).sortWithinPartitions(col("k"))
    val v0 = log.appendIndexed(clustered, Seq("k"))
    val v0Files = log.dataFiles(v0).toSet
    // updates hit keys 10..20 (one clustered file) + insert keys 200..204
    val upd = ((10L to 20L).map(i => (i, s"UP$i")) ++
      (200L to 204L).map(i => (i, s"NEW$i"))).toDF("k", "payload")
    val (v1, (rew, tot)) = log.mergeCopyOnWrite(upd, "k")
    assert(tot == 4 && rew == 1, s"expected exactly one rewritten file, got $rew/$tot")
    // untouched files are carried by path identity into the new manifest
    assert((log.dataFiles(v1).toSet intersect v0Files).size == 3)
    val out = log.read(spark, v1).as[(Long, String)].collect().toMap
    assert(out.size == 125)
    assert((10L to 20L).forall(i => out(i) == s"UP$i"), "matched keys must take the update row")
    assert((200L to 204L).forall(i => out(i) == s"NEW$i"), "unmatched update rows must insert")
    assert(out(9L) == "p9" && out(21L) == "p21" && out(119L) == "p119")
    // the pinned pre-merge snapshot still reads the old rows
    assert(log.read(spark, v0).where(col("k") === 15L)
      .select("payload").as[String].head() == "p15")
    // the merged stage carries its own stats: a post-merge pruned read skips
    val (_, (opened, total)) = log.readWhere(spark, v1, col("k").between(40L, 70L))
    assert(opened < total, s"post-merge stats must still prune, got $opened/$total")
    // a schema-mismatched update batch fails loudly
    intercept[IllegalArgumentException] {
      log.mergeCopyOnWrite(Seq((1L, "x", 2L)).toDF("k", "payload", "extra"), "k")
    }
    ()
  }

  test("appendChecked: NULL passes CHECK, FALSE rejects loudly, state untouched") {
    val log = freshLog("checked")
    val checks = Seq(
      "id_nonneg" -> (col("id") >= 0L),
      "payload_short" -> (length(col("payload")) < lit(100)))
    val v0 = log.appendChecked(rows(10, "ok"), partitions = 1, checks)
    // a NULL predicate passes (SQL CHECK semantics)
    val withNull = Seq((5L, null.asInstanceOf[String])).toDF("id", "payload")
    log.appendChecked(withNull, partitions = 1,
      Seq("payload_short" -> (length(col("payload")) < lit(100))))
    assert(log.readLatest(spark).count() == 11L)
    // an explicit FALSE rejects with the constraint name and count
    val err = intercept[IllegalArgumentException] {
      log.appendChecked(Seq((-1L, "x"), (-2L, "y"), (3L, "z")).toDF("id", "payload"),
        partitions = 1, checks)
    }
    assert(err.getMessage.contains("id_nonneg (2 rows)"), err.getMessage)
    assert(log.currentVersion.contains(v0 + 1) && log.readLatest(spark).count() == 11L)
  }

  test("concurrent writers: exactly one commit wins, the loser fails loudly") {
    val log = freshLog("conflict")
    log.append(rows(4, "base"), partitions = 1)
    // both writers read the SAME current version...
    val seenByA = log.currentVersion
    val seenByB = log.currentVersion
    val aFiles = log.stageData(rows(2, "a"), partitions = 1)
    val bFiles = log.stageData(rows(2, "b"), partitions = 1)
    // ...writer A commits first and wins...
    val vA = log.commit(seenByA, log.files(seenByA.get) ++ aFiles)
    assert(vA == 1L)
    // ...writer B's conditional commit against the stale version MUST fail
    val ex = intercept[ConcurrentCommitException] {
      log.commit(seenByB, log.files(seenByB.get) ++ bFiles)
    }
    assert(ex.getMessage.contains("v1"))
    // the failed commit left no manifest behind and B's files are intact,
    // so B retries against the NEW current version and succeeds
    assert(log.versions == Seq(0L, 1L))
    val vB = log.commit(log.currentVersion, log.files(vA) ++ bFiles)
    assert(vB == 2L && log.read(spark, vB).count() == 8L)
  }

  test("appendWithRetry: racing writers all land, data staged once, chain serializable") {
    val log = freshLog("retry_race")
    val writers = 6
    val latch = new java.util.concurrent.CountDownLatch(writers)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    try {
      val futures = (0 until writers).map { i =>
        pool.submit(new java.util.concurrent.Callable[(Long, Int)] {
          override def call(): (Long, Int) = {
            latch.countDown(); latch.await()
            log.appendWithRetry(rows(3, s"w$i"), partitions = 1)
          }
        })
      }
      val results = futures.map(_.get())
      // every writer committed a DISTINCT version; versions are dense
      assert(results.map(_._1).sorted == (0L until writers.toLong))
      assert(log.versions == (0L until writers.toLong))
    } finally { pool.shutdown() }
    // each version's listing strictly extends its parent (append-only chain)
    log.versions.dropRight(1).zip(log.versions.tail).foreach { case (a, b) =>
      val (fa, fb) = (log.files(a).toSet, log.files(b).toSet)
      assert(fa.subsetOf(fb) && fb.size == fa.size + 1, s"v$a -> v$b not an append")
    }
    // all rows present exactly once: 6 writers x 3 rows, no dup files
    val fin = log.files(log.currentVersion.get)
    assert(fin.size == writers && fin.distinct.size == fin.size)
    assert(log.readLatest(spark).count() == writers * 3L)
    assert(log.readLatest(spark).select("payload").distinct().count() == writers * 3L)
  }

  test("appendWithRetry: uncontended append burns zero retries") {
    val log = freshLog("retry_solo")
    val (v0, r0) = log.appendWithRetry(rows(2, "a"), partitions = 1)
    val (v1, r1) = log.appendWithRetry(rows(2, "b"), partitions = 1)
    assert(v0 == 0L && v1 == 1L && r0 == 0 && r1 == 0)
    assert(log.readLatest(spark).count() == 4L)
  }

  test("changeFeed: inserts from added files, deletes as full pre-state images; rewrites refused") {
    val log = freshLog("cdf")
    val v0 = log.append(rows(6, "a"), partitions = 1)
    log.append(rows(4, "b"), partitions = 1)
    log.deleteRows(Seq((1L, "a-1"), (2L, "b-2")).toDF("id", "payload"), partitions = 1)
    val v3 = log.append(rows(2, "c"), partitions = 1)
    val feed = log.changeFeed(spark, v0, v3).as[(Long, String, Long, String)]
      .collect().map { case (id, p, v, t) => (v, t, id, p) }.sorted
    // v1: 4 inserts; v2: 2 full-image deletes; v3: 2 inserts
    assert(feed.count(r => r._1 == 1L && r._2 == "insert") == 4)
    assert(feed.filter(r => r._1 == 2L && r._2 == "delete").map(r => (r._3, r._4)).toSeq
      == Seq((1L, "a-1"), (2L, "b-2")))
    assert(feed.count(r => r._1 == 3L && r._2 == "insert") == 2)
    assert(feed.length == 8)
    // a rewrite commit in range is refused loudly
    log.compact(spark, partitions = 1)
    val ex = intercept[IllegalArgumentException](
      log.changeFeed(spark, v0, log.currentVersion.get))
    assert(ex.getMessage.contains("rewrite"))
    // an empty window is refused rather than returning an empty frame
    intercept[IllegalArgumentException](log.changeFeed(spark, v3, v3))
  }

  test("history classifies every operation class from delta shape; restoreTo is a metadata-only rewrite") {
    val log = freshLog("history")
    val v0 = log.append(rows(8, "a"), partitions = 2)
    log.deleteRows(Seq(1L, 3L).toDF("id"), partitions = 1)
    log.compact(spark, partitions = 1)
    log.append(rows(2, "b"), partitions = 1)
    log.restoreTo(v0)
    val ops = log.history.map(h => (h._1, h._2))
    assert(ops == Seq(0L -> "append", 1L -> "delete", 2L -> "rewrite",
      3L -> "append", 4L -> "rewrite"))
    // restore re-listed v0's files exactly — no data moved, deleted rows back
    assert(log.files(4L) == log.files(v0))
    assert(log.read(spark, 4L).count() == 8L)
    // file accounting: v1 added one tombstone on two carried data files
    val h1 = log.history(1)
    assert(h1._3 == 0 && h1._4 == 1 && h1._5 == 0 && h1._6 == 3)
    // refusals: unknown version; restore to the current listing
    intercept[IllegalArgumentException](log.restoreTo(99L))
    intercept[IllegalArgumentException](log.restoreTo(4L))
    // the versions rolled past stay readable for the post-mortem
    assert(log.read(spark, 3L).count() == 8L) // 8 - 2 deleted + 2 appended
  }

  test("appendValueIndexed/readPrunedByValue: value sets prune point queries; wide files mark FULL and read conservatively") {
    val log = freshLog("values")
    // 3 clustered files: tiers A|B|C (ids 0..29, tier = id div 10)
    val clustered = (0L until 30L).map(i => (i, Seq("A", "B", "C")((i / 10).toInt)))
      .toDF("id", "tier")
      .repartitionByRange(3, col("tier")).sortWithinPartitions(col("tier"))
    val v0 = log.appendValueIndexed(clustered, Seq("tier"))
    val (pruned, (opened, total)) = log.readWhere(spark, v0, col("tier") === "B")
    assert(total == 3 && opened == 1, s"expected 1/3 files, got $opened/$total")
    assert(pruned.select("id").as[Long].collect().toSet == (10L until 20L).toSet)
    // an absent value opens nothing
    assert(log.readWhere(spark, v0, col("tier") === "Z")._2._1 == 0)
    // a high-cardinality file exceeds the cap → FULL marker → kept
    // conservatively for every probe
    log.append(Seq((100L, "Q")).toDF("id", "tier"), partitions = 1) // sidecar-free: conservative
    val wide = (0L until 50L).map(i => (1000L + i, s"t$i")).toDF("id", "tier").coalesce(1)
    log.appendValueIndexed(wide, Seq("tier"), maxDistinctPerFile = 8)
    val (all, (o2, t2)) = log.readWhere(spark, log.currentVersion.get, col("tier") === "B")
    // value files: B file (pruned in), sidecar-free file (conservative),
    // wide FULL file (conservative); A and C files pruned out
    assert(t2 == 5 && o2 == 3, s"expected 3/5 files, got $o2/$t2")
    assert(all.count() == 10L)
  }

  test("appendBloomIndexed/readPrunedByBloom: per-file blooms prune high-NDV point lookups, never lose rows") {
    val log = freshLog("blooms")
    // 4 files hash-scattered on a HIGH-NDV key: min/max ranges overlap
    // completely, a value set would overflow — exactly the bloom's case
    val scattered = (0L until 400L).map(i => (i, i * 7L)).toDF("id", "v")
      .repartition(4, col("id"))
    val v0 = log.appendBloomIndexed(scattered, Seq("id"),
      expectedItemsPerFile = 200L)
    // every key answers exactly its row, opening fewer files than total
    Seq(0L, 123L, 399L).foreach { k =>
      val (pruned, (opened, total)) =
        log.readWhere(spark, v0, col("id") === k)
      assert(total == 4 && opened < total, s"key $k opened $opened/$total")
      assert(pruned.select("v").as[Long].collect().toSeq == Seq(k * 7L))
    }
    // an absent key opens nothing (modulo false positives: assert <= 1
    // would be flaky by construction; assert CORRECTNESS instead — zero
    // rows regardless of how many files a false positive re-opened)
    assert(log.readWhere(spark, v0, col("id") === 999999L)._1.count() == 0L)
    // a sidecar-free stage stays conservative (opened includes it)
    log.append(Seq((10000L, 1L)).toDF("id", "v"), partitions = 1)
    val (withLate, (o2, t2)) =
      log.readWhere(spark, log.currentVersion.get, col("id") === 10000L)
    assert(t2 == 5 && o2 >= 1 && withLate.count() == 1L, s"got $o2/$t2")
    // masks compose: a position delete on the looked-up row hides it
    // from the pruned read exactly as from the full read
    val (vDel, nDel) = log.deleteWhere(spark, col("id") === 123L)
    assert(nDel == 1L)
    assert(log.readWhere(spark, vDel, col("id") === 123L)._1.count() == 0L)
  }

  test("cloneDeep: materialized at the pinned version, zero lifetime coupling to the source") {
    val dst = new File(s"${GraftSession.target}/snaplog_spec/deep_clone_dst")
    StreamingSessionize.deleteTree(dst.toPath)
    val log = freshLog("deep_clone_src")
    log.append(rows(10, "a"), partitions = 2) // v0
    log.append(rows(5, "b"), partitions = 1) // v1: 15 rows
    val clone = log.cloneDeep(dst.toString, version = Some(0L))
    // materialized: the clone owns its bytes (a data tree exists) and is
    // pinned at v0
    assert(clone.readLatest(spark).count() == 10L)
    assert(new File(dst, "data").exists(), "a deep clone must copy bytes")
    assert(!new File(dst, "_pool").exists(), "a deep clone borrows nothing")
    // no registration: the source's solo vacuum runs (the shallow-clone
    // guard must NOT fire), and the swept source leaves the clone whole
    log.overwrite(rows(1, "z"), partitions = 1)
    log.expire(keepFrom = log.currentVersion.get)
    log.vacuum()
    assert(clone.readLatest(spark).count() == 10L,
      "the deep clone reads through the source's expire+vacuum")
    // reopening by bare root (the catalog handle) sees its own pool
    assert(new SnapshotLog(dst.toString).readLatest(spark).count() == 10L)
    StreamingSessionize.deleteTree(dst.toPath)
  }

  test("cloneShallow: zero-copy, time-travel-pinned, independent, self-describing, vacuum-safe") {
    val log = freshLog("clone_src")
    log.append(rows(10, "a"), partitions = 2) // v0
    log.append(rows(5, "b"), partitions = 1) // v1: 15 rows
    val dst = s"${GraftSession.target}/snaplog_spec/clone_dst"
    new SnapshotLog(dst).recreate() // clear any prior run
    val clone = log.cloneShallow(dst, version = Some(0L))
    // pinned at v0: 10 rows, and NO bytes under the clone root
    assert(clone.readLatest(spark).count() == 10L)
    assert(!new File(dst, "data").exists(), "a shallow clone must copy nothing")
    // the catalog's bare-root reopen resolves the pool via the marker
    val reopened = new SnapshotLog(dst)
    assert(reopened.read(spark, 0L).count() == 10L)
    // independent histories: clone commits never reach the source
    reopened.append(rows(3, "c"), partitions = 1)
    assert(reopened.readLatest(spark).count() == 13L)
    assert(log.readLatest(spark).count() == 15L)
    // solo vacuum refuses on BOTH sides; the shared sweep keeps both live
    intercept[IllegalArgumentException](log.vacuum())
    intercept[IllegalArgumentException](reopened.vacuum())
    SnapshotLog.vacuumShared(Seq(log, reopened))
    assert(log.readLatest(spark).count() == 15L)
    assert(reopened.readLatest(spark).count() == 13L)
    // an occupied destination refuses
    intercept[IllegalArgumentException](log.cloneShallow(dst))
    // dropping the clone self-prunes its registration → vacuum unblocks
    // and collects the clone's now-orphaned exclusive file
    new SnapshotLog(dst).recreate()
    assert(log.vacuum().nonEmpty)
    assert(log.readLatest(spark).count() == 15L)
  }

  test("appendStrict enforces the current schema; drift names every offending column; evolution stays explicit") {
    val log = freshLog("strict")
    // first commit: nothing to enforce against
    assert(log.appendStrict(rows(4, "a"), partitions = 1) == 0L)
    // conforming batch passes (column order irrelevant)
    assert(log.appendStrict(
      rows(2, "b").select(col("payload"), col("id")), partitions = 1) == 1L)
    // missing + extra + retyped all named in one refusal
    val drifted = rows(2, "c")
      .withColumn("id", col("id").cast("int"))
      .withColumn("tier", lit(1L))
      .drop("payload")
    val ex = intercept[IllegalArgumentException](log.appendStrict(drifted, partitions = 1))
    assert(ex.getMessage.contains("payload") && ex.getMessage.contains("tier") &&
      ex.getMessage.contains("id: bigint -> int"))
    // the refusal staged nothing: vacuum finds no orphans, table intact
    assert(log.vacuum().isEmpty)
    assert(log.readLatest(spark).count() == 6L)
    // evolution remains available through the explicit permissive append
    log.append(rows(1, "d").withColumn("tier", lit(1L)), partitions = 1)
    assert(log.read(spark, log.currentVersion.get, mergeSchema = true)
      .columns.contains("tier"))
  }

  test("maintenancePlan advises from listing metadata only and comes back empty once executed") {
    val log = freshLog("maint")
    log.append(rows(400, "big"), partitions = 1)
    (0 until 4).foreach { i => log.append(rows(3, s"tail$i"), partitions = 1); () }
    // delete keys that live only in the big file (tombstones mask every
    // file of the snapshot, tails included — keep the count law clean)
    log.deleteRows(Seq(100L, 101L).toDF("id"), partitions = 1)
    log.deleteRows(Seq(102L).toDF("id"), partitions = 1)
    val sizes = log.dataFiles(log.currentVersion.get)
      .map(p => new File(s"${log.root}/$p").length()).sorted
    val small = sizes.last // the 4 tail files sit strictly under the big one
    val plan = log.maintenancePlan(small, maxSmallFiles = 3, maxTombstoneFiles = 2, maxVersions = 5)
    assert(plan == Seq(("compact_small", 4L), ("compact", 2L), ("expire_vacuum", 7L)))
    // under laxer thresholds only the version rule trips
    assert(log.maintenancePlan(small, 5, 3, 5) == Seq(("expire_vacuum", 7L)))
    assert(log.maintenancePlan(small, 5, 3, 10) == Seq.empty)
    // execute the advised passes; the re-plan is empty and the rows survive
    log.compactSmall(spark, small)
    log.compact(spark, partitions = 1)
    log.expire(keepFrom = log.currentVersion.get)
    log.vacuum()
    assert(log.maintenancePlan(small, 3, 2, 5).isEmpty)
    assert(log.readLatest(spark).count() == 400L + 12L - 3L)
  }

  test("compactSmall packs only the small tail; big files carried byte-identical; no-op under two smalls") {
    val log = freshLog("binpack")
    log.append(rows(500, "big"), partitions = 1)
    val bigPath = log.dataFiles(0L).head
    val bigFile = new File(log.root, bigPath)
    val (bigLen, bigMod) = (bigFile.length(), bigFile.lastModified())
    (0 until 4).foreach { i => log.append(rows(2, s"tail$i"), partitions = 1); () }
    val (v, (packed, written)) = log.compactSmall(spark, targetBytes = bigLen)
    assert(packed == 4 && written == 1)
    val after = log.dataFiles(v)
    assert(after.size == 2 && after.contains(bigPath))
    // carried file untouched on disk — same bytes, same mtime
    assert(bigFile.length() == bigLen && bigFile.lastModified() == bigMod)
    assert(log.read(spark, v).count() == 508L)
    // distinct payloads survive exactly once
    assert(log.read(spark, v).select("payload").distinct().count() == 508L)
    // fewer than two smalls -> no new commit
    val (v2, (p2, w2)) = log.compactSmall(spark, targetBytes = 10L)
    assert(v2 == v && p2 == 0 && w2 == 0)
    // tombstones are carried and keep masking after the pack
    val log2 = freshLog("binpack_tomb")
    log2.append(rows(300, "big"), partitions = 1)
    val thr = new File(log2.root, log2.dataFiles(0L).head).length()
    log2.append(rows(3, "t0"), partitions = 1)
    log2.append(rows(3, "t1"), partitions = 1)
    log2.deleteRows(Seq((0L, "t0-0")).toDF("id", "payload"), partitions = 1)
    val beforeCount = log2.readLatest(spark).count()
    val (v3, _) = log2.compactSmall(spark, targetBytes = thr)
    assert(log2.read(spark, v3).count() == beforeCount)
    assert(log2.tombstoneFiles(v3).nonEmpty)
  }

  test("tags pin immutably; unknown tags and uncommitted versions fail loudly") {
    val log = freshLog("tags")
    val v0 = log.append(rows(3, "a"), partitions = 1)
    assert(log.tag("baseline", v0))
    val v1 = log.append(rows(2, "b"), partitions = 1)
    // a tag never moves: the second put is refused, the pin stays on v0
    assert(!log.tag("baseline", v1))
    assert(log.tagVersion("baseline") == v0)
    assert(log.readTag(spark, "baseline").count() == 3L)
    assert(log.tags == Seq("baseline"))
    intercept[IllegalArgumentException](log.tagVersion("nope"))
    intercept[IllegalArgumentException](log.tag("future", v1 + 5))
    intercept[IllegalArgumentException](log.tag("bad/name", v0))
  }

  test("fork is zero-copy and isolated both ways; branch() reopens it") {
    val log = freshLog("branching")
    log.append(rows(4, "base"), partitions = 1)
    val parentFiles = log.files(log.currentVersion.get).toSet
    val dev = log.fork("dev")
    // zero-copy: the branch's v0 listing IS the parent listing — no new data
    assert(dev.files(0L).toSet == parentFiles)
    // divergence: each side appends; neither sees the other's commit
    dev.append(rows(2, "devonly"), partitions = 1)
    log.append(rows(3, "mainonly"), partitions = 1)
    assert(dev.readLatest(spark).count() == 6L)
    assert(log.readLatest(spark).count() == 7L)
    val mainF = log.files(log.currentVersion.get).toSet
    val devF = dev.files(dev.currentVersion.get).toSet
    assert((devF -- mainF).nonEmpty && (mainF -- devF).nonEmpty)
    // reopen by name; double-fork refused
    assert(log.branch("dev").readLatest(spark).count() == 6L)
    intercept[IllegalArgumentException](log.fork("dev"))
    intercept[IllegalArgumentException](log.branch("ghost"))
  }

  test("vacuumShared checks its contract: a forgotten clone or branch refuses; an empty _pool marker is loud") {
    val dst = new File(s"${GraftSession.target}/snaplog_spec/sharedvac_guard_clone")
    StreamingSessionize.deleteTree(dst.toPath)
    val log = freshLog("sharedvac_guard")
    log.append(rows(4, "base"), partitions = 1)
    val dev = log.fork("guarddev")
    dev.append(rows(2, "devonly"), partitions = 1)
    // forgetting the branch refuses BEFORE anything is swept
    val e1 = intercept[IllegalArgumentException](SnapshotLog.vacuumShared(Seq(log)))
    assert(e1.getMessage.contains("branch"), e1.getMessage)
    val clone = log.cloneShallow(dst.toString)
    // forgetting the clone refuses too — passing owner+branches is not
    // enough while a live clone still reads the pool
    val e2 = intercept[IllegalArgumentException](SnapshotLog.vacuumShared(Seq(log, dev)))
    assert(e2.getMessage.contains("clone"), e2.getMessage)
    // the complete set sweeps; every chain keeps reading
    SnapshotLog.vacuumShared(Seq(log, dev, clone))
    assert(log.readLatest(spark).count() == 4L)
    assert(dev.readLatest(spark).count() == 6L)
    assert(clone.readLatest(spark).count() == 4L)
    // an empty _pool marker fails loudly at OPEN (a borrower that cannot
    // resolve its pool must never silently fall back to its own root)
    java.nio.file.Files.write(new File(dst, "_pool").toPath, Array.empty[Byte])
    val e3 = intercept[IllegalStateException](new SnapshotLog(dst.toString))
    assert(e3.getMessage.contains("_pool marker"), e3.getMessage)
    StreamingSessionize.deleteTree(dst.toPath)
  }

  test("shared-pool vacuum: solo vacuum refuses, vacuumShared keeps every chain readable") {
    val log = freshLog("sharedvac")
    log.append(rows(4, "base"), partitions = 1)
    val dev = log.fork("dev")
    dev.append(rows(2, "devonly"), partitions = 1)
    // branch data lives ONLY in dev's chain — a parent-only sweep would
    // collect it; both solo entry points refuse
    intercept[IllegalArgumentException](log.vacuum())
    intercept[IllegalArgumentException](dev.vacuum())
    // an aborted stage is the only orphan; every live file survives
    log.stageData(rows(5, "aborted"), partitions = 1)
    val collected = SnapshotLog.vacuumShared(Seq(log, dev))
    assert(collected.size == 1)
    assert(log.readLatest(spark).count() == 4L)
    assert(dev.readLatest(spark).count() == 6L)
    // idempotent: a second sweep collects nothing
    assert(SnapshotLog.vacuumShared(Seq(log, dev)).isEmpty)
    // mixed pools refused
    val other = freshLog("sharedvac_other")
    other.append(rows(1, "x"), partitions = 1)
    intercept[IllegalArgumentException](SnapshotLog.vacuumShared(Seq(log, other)))
  }

  test("a reader pinned mid-prune sees a consistent snapshot throughout") {
    val log = freshLog("midprune")
    val v0 = log.append(rows(100, "x"), partitions = 4)
    // reader pins v0 BEFORE any maintenance: resolves the manifest once
    val pinnedPaths = log.files(v0)
    // maintenance storm lands while the reader is "running": compaction,
    // another append, expiry of v0's snapshot, and a vacuum sweep
    val v1 = log.compact(spark, partitions = 1)
    log.append(rows(7, "y"), partitions = 1)
    // vacuum with v0 still live: nothing referenced may be touched
    assert(log.vacuum().isEmpty)
    assert(pinnedPaths.forall(p => new File(log.root, p).exists()),
      "vacuum deleted a file referenced by a live snapshot")
    // the pinned read is still complete and correct mid-storm
    assert(log.read(spark, v0).count() == 100L)
    // only after the snapshot EXPIRES do its exclusive files collect
    log.expire(keepFrom = v1)
    val collected = log.vacuum()
    assert(collected.toSet == pinnedPaths.toSet,
      s"expected exactly v0's files collected, got $collected")
    // the newer snapshots still read completely after the sweep
    assert(log.readLatest(spark).count() == 107L)
    assert(log.vacuum().isEmpty, "vacuum must be idempotent")
  }

  test("vacuum collects aborted stages but never committed files") {
    val log = freshLog("aborted")
    log.append(rows(10, "keep"), partitions = 2)
    val aborted = log.stageData(rows(6, "dead"), partitions = 2)
    val collected = log.vacuum()
    assert(collected.toSet == aborted.toSet)
    assert(log.readLatest(spark).count() == 10L)
  }

  test("commit is put-if-absent: version numbers are dense and manifests immutable") {
    val log = freshLog("dense")
    val f = log.stageData(rows(2, "a"), partitions = 1)
    assert(log.commit(None, f) == 0L)
    // re-committing version 0 (expected None again) must conflict, not
    // overwrite — manifests are immutable once visible
    intercept[ConcurrentCommitException] { log.commit(None, Nil) }
    assert(log.files(0L) == f.sorted)
  }

  test("reading an expired or never-committed version fails loudly") {
    val log = freshLog("missing")
    val v0 = log.append(rows(3, "a"), partitions = 1)
    val v1 = log.append(rows(3, "b"), partitions = 1)
    log.expire(keepFrom = v1)
    intercept[IllegalArgumentException] { log.files(v0) }
    intercept[IllegalArgumentException] { log.read(spark, 99L) }
  }

  test("recreate refuses to wipe outside target/ scratch") {
    intercept[IllegalArgumentException] {
      new SnapshotLog(s"${GraftSession.target}/../snaplog_escape").recreate()
    }
  }

  test("position deletes remove one of two IDENTICAL rows — the no-unique-key delete") {
    val log = freshLog("posdel_dup")
    // two byte-identical rows: an equality tombstone could only drop both
    val dup = Seq((7L, "same"), (7L, "same"), (8L, "other")).toDF("id", "payload")
    val v0 = log.append(dup, partitions = 1)
    val one = log.readWithPositions(spark, v0)
      .where(col("id") === 7L).orderBy(col("_pos")).limit(1)
      .select(col("_file"), col("_pos"))
    val v1 = log.deletePositions(one)
    assert(log.dataFiles(v1).toSet == log.dataFiles(v0).toSet, "delete must not rewrite data")
    val left = log.read(spark, v1).as[(Long, String)].collect().sorted
    assert(left.toSeq == Seq((7L, "same"), (8L, "other")), s"got ${left.toSeq}")
    // v0 pinned read unaffected
    assert(log.read(spark, v0).count() == 3L)
  }

  test("position deletes are file-scoped: re-inserted keys stay visible; compact clears them") {
    val log = freshLog("posdel_reinsert")
    val v0 = log.append(rows(10, "a"), partitions = 2)
    val v1 = log.deletePositions(
      log.readWithPositions(spark, v0).where(col("id") < 3L)
        .select(col("_file"), col("_pos")))
    assert(log.read(spark, v1).count() == 7L)
    val v2 = log.append(rows(3, "b"), partitions = 1) // ids 0..2 again
    // unlike deleteRows' equality tombstones, the new rows are NOT masked
    assert(log.read(spark, v2).where(col("payload").startsWith("b")).count() == 3L)
    assert(log.read(spark, v2).count() == 10L)
    val v3 = log.compact(spark, partitions = 1)
    assert(log.posDeleteFiles(v3).isEmpty && log.posDeleteFiles(v2).nonEmpty)
    assert(log.read(spark, v3).exceptAll(log.read(spark, v2)).limit(1).count() == 0L)
    assert(log.read(spark, v2).exceptAll(log.read(spark, v3)).limit(1).count() == 0L)
  }

  test("dangling position addresses and wrong schemas are refused loudly") {
    val log = freshLog("posdel_guard")
    log.append(rows(4, "a"), partitions = 1)
    intercept[IllegalArgumentException] {
      log.deletePositions(Seq(("data/nope/f.parquet", 0L)).toDF("_file", "_pos"))
    }
    intercept[IllegalArgumentException] {
      log.deletePositions(Seq((0L, 0L)).toDF("id", "_pos"))
    }
  }

  test("changeFeed materializes a position-delete commit as full delete row images") {
    val log = freshLog("posdel_feed")
    val v0 = log.append(rows(6, "a"), partitions = 1)
    val v1 = log.deletePositions(
      log.readWithPositions(spark, v0).where(col("id") % 2 === 0L)
        .select(col("_file"), col("_pos")))
    val feed = log.changeFeed(spark, v0, v1)
    val dels = feed.where(col("_change_type") === "delete")
      .select(col("id"), col("payload")).as[(Long, String)].collect().sorted
    assert(dels.toSeq == Seq((0L, "a-0"), (2L, "a-2"), (4L, "a-4")))
  }

  test("physical repacks under position deletes: masked files carry, the rest repack") {
    val log = freshLog("posdel_repack")
    val v0 = log.append(rows(8, "a"), partitions = 4)
    log.deletePositions(
      log.readWithPositions(spark, v0).where(col("id") === 0L)
        .select(col("_file"), col("_pos")))
    // the masked file is NOT a repack candidate (its mask stays live
    // against the carried path); the three unmasked smalls bin-pack —
    // auto-compaction keeps working through interleaved DML
    val maskedBefore = log.maskedFiles(spark, log.currentVersion.get)
    assert(maskedBefore.size == 1)
    val (v1, (packed, written)) = log.compactSmall(spark, targetBytes = 1L << 20)
    assert(packed == 3 && written == 1, s"got ($packed, $written)")
    assert(maskedBefore.subsetOf(log.dataFiles(v1).toSet),
      "the masked file must carry byte-identical")
    assert(log.readLatest(spark).count() == 7L,
      "the mask keeps masking after the repack")
    // mergeCopyOnWrite still refuses (its rewrite scans candidates raw)
    intercept[IllegalArgumentException] {
      log.mergeCopyOnWrite(rows(1, "u"), keyCol = "id")
    }
    val swept = log.vacuum()
    assert(swept.isEmpty, s"vacuum must keep live pos-delete files, swept: $swept")
    assert(log.readLatest(spark).count() == 7L)
  }

  test("vacuum sweeps unreferenced COPY INTO ledger stages, keeps referenced ones") {
    val log = freshLog("ledger_sweep")
    log.append(rows(10, "a"), partitions = 1)
    // a real COPY ledger, referenced from the commit's meta
    val f = tempRoot("graft_ledger_src_")
      .resolve("x.parquet").toFile
    StreamingSessionize.writeOneFile(rows(3, "cp"), f.toPath)
    log.copyIngest(Seq((f.getCanonicalPath, f.length(), f.lastModified())),
      spark.read.parquet(f.toString), partitions = 1)
    val ledgerPool = new File(log.root, "data/_copyledger")
    val referenced = ledgerPool.listFiles().filter(_.isDirectory)
    assert(referenced.length == 1, "the committed COPY left one ledger stage")
    // an ABORTED attempt: a staged ledger dir no commit ever referenced
    val dead = new File(ledgerPool, "deadbeef-aborted")
    dead.mkdirs()
    java.nio.file.Files.write(new File(dead, "part-0.parquet").toPath,
      Array[Byte](1, 2, 3))
    val swept = log.vacuum()
    assert(swept.contains("data/_copyledger/deadbeef-aborted"),
      s"the aborted ledger stage must sweep, got $swept")
    assert(!dead.exists(), "the aborted ledger dir must be gone")
    assert(referenced.head.exists(),
      "the committed ledger stage is still referenced and must survive")
    // the ledger still reads — a re-run of the same COPY stays a no-op
    assert(log.copiedSources(spark, log.currentVersion.get).count() == 1L)
    // dry run previews the same ledger orphan without deleting
    val dead2 = new File(ledgerPool, "deadbeef-again")
    dead2.mkdirs()
    assert(log.vacuumDryRun().contains("data/_copyledger/deadbeef-again"))
    assert(dead2.exists(), "dry run must not delete")
  }

  test("optimize on non-numeric clustering keys falls back to lexicographic ranges") {
    val log = freshLog("cluster_strings")
    // 40 distinct string keys; a linear double-cast z-order would bucket
    // every row to a constant and funnel the rewrite into ONE file
    val df = (0 until 400).map(i => (f"cat-${i % 40}%03d", i.toLong))
      .toDF("grp", "k")
    log.append(df, partitions = 2)
    val before = log.readLatest(spark)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    log.optimize(spark, partitions = 4, Seq(col("grp"), col("k")))
    val cur = log.currentVersion.get
    assert(log.dataFiles(cur).size == 4,
      s"the string-keyed rewrite must spread over the asked partitions, " +
        s"got ${log.dataFiles(cur).size} files")
    val after = log.readLatest(spark)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(after == before, "content must survive the rewrite exactly")
    // per-file leading-key ranges are DISJOINT (range partitioning), so
    // footer min/max on grp still prunes
    val ranges = log.dataFiles(cur).map { p =>
      val one = spark.read.parquet(new File(log.root, "data").toString + "/" +
        p.stripPrefix("data/"))
      val r = one.agg(min(col("grp")), max(col("grp"))).head()
      (r.getString(0), r.getString(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi <= lo2, s"file grp ranges must be disjoint: $ranges")
      case _ =>
    }
  }

  test("mixed numeric + date clustering keys still take the z-order route") {
    val log = freshLog("cluster_date")
    val df = (0 until 300).map(i =>
      (i.toLong, java.sql.Date.valueOf(f"2024-${1 + i % 12}%02d-15")))
      .toDF("k", "d")
    log.append(df, partitions = 2)
    val before = log.readLatest(spark).count()
    // dates map to epoch-day axes — must not throw, must preserve rows
    log.optimize(spark, partitions = 3, Seq(col("k"), col("d")))
    assert(log.readLatest(spark).count() == before)
  }

  test("compactSmall pins the scan schema: evolved columns survive the repack") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val log = freshLog("compact_evolved")
    log.createEmpty(StructType(Seq(
      StructField("id", LongType), StructField("v", LongType))))
    log.append((0 until 5).map(i => (i.toLong, i.toLong)).toDF("id", "v"), 1)
    log.addColumns(spark, Seq(("tag", StringType)))
    log.append((5 until 10).map(i => (i.toLong, i.toLong, s"t-$i"))
      .toDF("id", "v", "tag"), 1)
    val (v, (packed, _)) = log.compactSmall(spark, targetBytes = 1L << 20)
    assert(packed == 2)
    val got = log.read(spark, v).orderBy(col("id")).collect()
      .map(r => (r.getLong(0), Option(r.getString(2)))).toMap
    assert(got.size == 10)
    assert(got(7L).contains("t-7"),
      "post-evolution values must survive the repack (schema pinned, not footer lottery)")
    assert(got(2L).isEmpty, "pre-evolution rows keep serving typed NULL")
  }

  test("compactSmall sizes its output by the files it actually repacks") {
    val log = freshLog("compact_sizing")
    // six small files; only two are in scope — output sizing must count
    // those two, not the whole small tail (which would shatter a 2-file
    // repack into N tiny outputs)
    val paths = (0 until 6).map { i =>
      log.append((0 until 2000).map(j =>
        ((i * 2000 + j).toLong, s"payload-$i-$j-${"x" * 40}"))
        .toDF("id", "payload"), 1)
      log.appendedFiles(log.currentVersion.get).head
        .stripPrefix(log.root + "/")
    }
    val oneFile = new java.io.File(log.root, paths.head).length()
    val target = oneFile * 3 // all six are "small"; two fit in one output
    val scope = paths.take(2).toSet
    val (v, (packed, written)) = log.compactSmall(spark, target, Some(scope))
    assert(packed == 2 && written == 1,
      s"two scoped files must pack into ONE output, got ($packed, $written)")
    assert(log.readLatest(spark).count() == 12000L)
    assert(log.dataFiles(v).size == 5, "6 files -> 4 carried + 1 packed")
  }
}
