package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.{Trace, TraceSpec}
import graft.sources.SnapshotLog

/** r11 snapshot-log surface: column mapping (RENAME/DROP as metadata
  * commits), predicate DELETE/UPDATE over the merge-on-read machinery,
  * the delete-absorbing OPTIMIZE law, and liquid-style incremental
  * OPTIMIZE. Brief-driven (the reference app has no lakehouse layer);
  * semantics follow the public Delta/Iceberg protocol designs.
  */
class SnapshotDmlSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshLog(name: String): SnapshotLog = {
    val log = new SnapshotLog(s"${GraftSession.target}/snapdml_spec/$name")
    log.recreate()
    log
  }

  private def rows(n: Int, tag: String) =
    (0 until n).map(i => (i.toLong, s"$tag-$i", i.toLong * 10)).toDF("id", "payload", "v")

  private def setEq(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("rename/drop column are metadata-only commits; time travel reads each vintage's names") {
    val log = freshLog("colmap")
    val v0 = log.append(rows(10, "a"), partitions = 2)
    val vMap = log.enableColumnMapping(spark)
    val vRen = log.renameColumn("payload", "body")
    // metadata commits move ZERO data: same data files, op class "metadata"
    assert(log.dataFiles(vRen).sorted == log.dataFiles(v0).sorted)
    assert(log.history.collect { case (v, op, _, _, _, _) if v == vMap || v == vRen => op }
      .forall(_ == "metadata"))
    // post-rename append writes the SAME physical column
    log.appendMapped(
      (10 until 15).map(i => (i.toLong, s"b-$i", i.toLong * 10)).toDF("id", "body", "v"),
      partitions = 1)
    val latest = log.readMapped(spark, log.currentVersion.get)
    assert(latest.columns.toSeq == Seq("id", "body", "v") && latest.count() == 15L)
    // pre-rename vintage still reads under the OLD name, same 10 rows
    val old = log.readMapped(spark, vMap)
    assert(old.columns.toSeq == Seq("id", "payload", "v") && old.count() == 10L)
    // same physical bytes: the old vintage equals the new one's first batch,
    // modulo the logical rename
    assert(setEq(old,
      latest.where(col("id") < 10).withColumnRenamed("body", "payload")
        .select("id", "payload", "v")))
  }

  test("drop column hides data without rewrite; re-added name mints a fresh physical id") {
    val log = freshLog("colmap_drop")
    log.append(rows(6, "a"), partitions = 1)
    log.enableColumnMapping(spark)
    val preDrop = log.currentVersion.get
    val vDrop = log.dropColumn("payload")
    assert(log.dataFiles(vDrop).sorted == log.dataFiles(preDrop).sorted, "drop rewrites nothing")
    assert(log.readMapped(spark, vDrop).columns.toSeq == Seq("id", "v"))
    // pinned pre-drop reader still sees the column
    assert(log.readMapped(spark, preDrop).columns.contains("payload"))
    // re-add the same logical name: fresh physical id, old values DO NOT resurrect
    log.appendMapped(Seq((100L, 1000L, "fresh")).toDF("id", "v", "payload"), partitions = 1)
    val cur = log.readMapped(spark, log.currentVersion.get)
    val payloads = cur.select("payload").collect().map(r => Option(r.getString(0))).toSeq
    assert(payloads.count(_.isDefined) == 1 && payloads.flatten == Seq("fresh"),
      "old rows must read NULL in the re-added column — dropped data never resurrects")
    val (_, pairs) = log.columnMapping(log.currentVersion.get).get
    assert(pairs.toMap.apply("payload").startsWith("c"), "re-added column rides a minted id")
  }

  test("widenColumn: int->bigint as metadata; old narrow files up-cast, new files ride wide") {
    val log = freshLog("widen")
    log.append(
      (0 until 8).map(i => (i.toLong, i * 100)).toDF("id", "v"), // v is INT
      partitions = 2)
    log.enableColumnMapping(spark)
    val preWiden = log.currentVersion.get
    val vW = log.widenColumn(spark, "v", "bigint")
    assert(log.dataFiles(vW).sorted == log.dataFiles(preWiden).sorted,
      "widening rewrites nothing")
    // post-widen append carries values no INT can hold
    log.appendMapped(
      (8 until 12).map(i => (i.toLong, i.toLong + 3000000000L)).toDF("id", "v"),
      partitions = 1)
    val cur = log.readMapped(spark, log.currentVersion.get)
    assert(cur.schema("v").dataType.sql.toLowerCase == "bigint")
    val got = cur.as[(Long, Long)].collect().toMap
    assert(got(0L) == 0L && got(7L) == 700L && got(11L) == 3000000011L,
      s"both vintages must read exactly under the widened type; got $got")
    assert(got.size == 12)
    // the pre-widen vintage still reads (its only stage is homogeneous int)
    assert(log.readMapped(spark, preWiden).count() == 8L)
    // unsupported target refused
    intercept[IllegalArgumentException] { log.widenColumn(spark, "v", "string") }
    // NARROWING refused: v is declared bigint now — "widening" to int
    // would silently overflow the +3e9 values under the non-ANSI cast
    intercept[IllegalArgumentException] { log.widenColumn(spark, "v", "int") }
    // lossy float target refused from a bigint current type
    intercept[IllegalArgumentException] { log.widenColumn(spark, "v", "float") }
    // and from the FILE-OBSERVED type too (id was written as bigint,
    // never declared): bigint -> double is lossy past 2^53
    intercept[IllegalArgumentException] { log.widenColumn(spark, "id", "double") }
  }

  test("widened mapped tables compose with merge-on-read masks via the pinned scan") {
    val log = freshLog("widen_mask")
    log.append((0 until 10).map(i => (i.toLong, i * 100)).toDF("id", "v"), 2)
    log.enableColumnMapping(spark)
    log.widenColumn(spark, "v", "bigint")
    log.appendMapped(
      (10 until 14).map(i => (i.toLong, i.toLong + 3000000000L)).toDF("id", "v"), 1)
    // a position delete over the widened table: the pinned-widened scan
    // is ONE relation with a _metadata address stream, so the mask
    // composes — no forced compact between a widen and a delete
    val (_, nDel) = log.deleteWhere(spark, col("id") === 3L || col("id") === 12L)
    assert(nDel == 2L)
    val cur = log.readMapped(spark, log.currentVersion.get)
    assert(cur.schema("v").dataType.sql.toLowerCase == "bigint")
    val got = cur.as[(Long, Long)].collect().toMap
    assert(got.size == 12 && !got.contains(3L) && !got.contains(12L) &&
      got(11L) == 3000000011L && got(7L) == 700L, got.toString)
  }

  test("deleteWhere masks by position without rewrite; updateWhere is one atomic delete+append") {
    val log = freshLog("dml")
    val v0 = log.append(rows(20, "a"), partitions = 2)
    val (vDel, nDel) = log.deleteWhere(spark, col("id") % 5 === 0)
    assert(nDel == 4L && vDel == v0 + 1L)
    assert(log.dataFiles(vDel).sorted == log.dataFiles(v0).sorted, "delete rewrites no data")
    assert(log.read(spark, vDel).count() == 16L)
    // idempotent: already-masked rows don't rematch
    val (vDel2, nDel2) = log.deleteWhere(spark, col("id") % 5 === 0)
    assert(nDel2 == 0L && vDel2 == vDel, "nothing matched → no commit")
    // UPDATE: set references the old value; exactly one version bump
    val (vUp, nUp) = log.updateWhere(spark, col("id") === 7L, Seq("v" -> (col("v") + 1L)))
    assert(nUp == 1L && vUp == vDel + 1L)
    val after = log.read(spark, vUp)
    assert(after.count() == 16L)
    assert(after.where(col("id") === 7L).select("v").as[Long].collect().toSeq == Seq(71L))
    // unknown SET column refused
    intercept[IllegalArgumentException] {
      log.updateWhere(spark, col("id") === 1L, Seq("nope" -> lit(1)))
    }
    // pre-update vintage unchanged
    assert(log.read(spark, vDel).where(col("id") === 7L)
      .select("v").as[Long].collect().toSeq == Seq(70L))
  }

  test("optimize absorbs outstanding deletes: zero tombstone lines, view bitwise preserved") {
    val log = freshLog("absorb")
    log.append(rows(30, "a"), partitions = 3)
    log.deleteWhere(spark, col("id") < 5)
    log.updateWhere(spark, col("id") >= 25, Seq("payload" -> concat(col("payload"), lit("!"))))
    val pre = log.currentVersion.get
    assert(log.posDeleteFiles(pre).nonEmpty, "precondition: outstanding position deletes")
    val mergeView = log.read(spark, pre).collect().toSet
    val vOpt = log.optimize(spark, partitions = 2, sortCols = Seq(col("id")))
    assert(log.tombstoneFiles(vOpt).isEmpty && log.posDeleteFiles(vOpt).isEmpty,
      "optimize must absorb every tombstone line")
    assert(log.read(spark, vOpt).collect().toSet == mergeView,
      "post-compaction snapshot must equal the merge-on-read view")
    // the pinned pre-optimize version still reads through its masks
    assert(log.read(spark, pre).count() == 25L)
  }

  test("mergeInto: full three-clause MERGE with fixed precedence, one atomic commit") {
    val log = freshLog("merge_full")
    // target: ids 0..9, v = id*10
    log.append((0 until 10).map(i => (i.toLong, i.toLong * 10)).toDF("id", "v"), 2)
    val v0 = log.currentVersion.get
    // source: ids 5..14, srcv = id*100
    val src = (5 until 15).map(i => (i.toLong, i.toLong * 100)).toDF("id", "v")
    // matched & id==5 → DELETE; matched else → UPDATE v = old v + src v;
    // not matched → INSERT; not matched by source & id<3 → DELETE
    val (v1, (nUpd, nDel, nIns), (rewritten, total)) = log.mergeInto(
      src, "id",
      updateWhen = Some(lit(true)),
      updateSet = Seq("v" -> (col("v") + col("src_v"))),
      deleteWhen = Some(col("id") === 5L),
      insertNotMatched = true,
      deleteNotMatchedBySource = Some(col("id") < 3L))
    assert(v1 == v0 + 1L, "one atomic commit")
    assert((nUpd, nDel, nIns) == (4L, 4L, 5L), s"got ($nUpd, $nDel, $nIns)")
    assert(rewritten == total, "an NMBS clause puts every file in scope")
    val got = log.read(spark, v1).as[(Long, Long)].collect().toMap
    // survivors 3,4 untouched; 6..9 updated old+new; 10..14 inserted
    assert(got == Map(
      3L -> 30L, 4L -> 40L,
      6L -> 660L, 7L -> 770L, 8L -> 880L, 9L -> 990L,
      10L -> 1000L, 11L -> 1100L, 12L -> 1200L, 13L -> 1300L, 14L -> 1400L))
    // ambiguous source keys refused
    intercept[IllegalArgumentException] {
      log.mergeInto(Seq((1L, 1L), (1L, 2L)).toDF("id", "v"), "id",
        updateWhen = Some(lit(true)), updateSet = Seq("v" -> col("src_v")))
    }
    // pinned pre-merge vintage unchanged
    assert(log.read(spark, v0).count() == 10L)
  }

  test("mergeInto without NMBS prunes the rewrite scope to key-range hits") {
    val log = freshLog("merge_pruned")
    // three range-clustered stages via appendIndexed: [0,9], [10,19], [20,29]
    (0 until 3).foreach { b =>
      log.appendIndexed(
        (b * 10 until (b + 1) * 10).map(i => (i.toLong, i.toLong)).toDF("id", "v")
          .coalesce(1), // one file per batch → contiguous disjoint id ranges
        statsCols = Seq("id"))
    }
    val src = Seq((25L, 999L)).toDF("id", "v")
    val (v, (nUpd, nDel, nIns), (rewritten, total)) = log.mergeInto(
      src, "id",
      updateWhen = Some(lit(true)), updateSet = Seq("v" -> col("src_v")))
    assert(nUpd == 1L && nDel == 0L && nIns == 0L)
    assert(total == 3 && rewritten == 1,
      s"only the [20,29] file may rewrite; got $rewritten of $total")
    assert(log.read(spark, v).where(col("id") === 25L)
      .select("v").as[Long].collect().toSeq == Seq(999L))
    assert(log.read(spark, v).count() == 30L)
    // insertNotMatched stays correct under the pruned membership check:
    // the anti-join probes only the rewrite scope's keys, so an
    // out-of-all-ranges key INSERTS while an in-scope match UPDATES —
    // and the scope stays one file, never a table-wide key scan
    val src2 = Seq((21L, 555L), (100L, 111L)).toDF("id", "v")
    val (v2, (u2, d2, i2), (rw2, tot2)) = log.mergeInto(
      src2, "id",
      updateWhen = Some(lit(true)), updateSet = Seq("v" -> col("src_v")),
      insertNotMatched = true)
    assert((u2, d2, i2) == (1L, 0L, 1L), s"got ($u2, $d2, $i2)")
    assert(rw2 <= 2 && tot2 == 3,
      s"membership must not widen the scope; got $rw2 of $tot2")
    val after = log.read(spark, v2)
    assert(after.count() == 31L)
    assert(after.where(col("id") === 100L).select("v").as[Long]
      .collect().toSeq == Seq(111L), "the out-of-range key must insert")
    assert(after.where(col("id") === 21L).select("v").as[Long]
      .collect().toSeq == Seq(555L))
  }

  test("mergeIntoKeys joins, uniquifies, and anti-joins on a compound key") {
    val log = freshLog("merge_compound")
    log.append(Seq((1L, "a", 10L), (1L, "b", 20L), (2L, "a", 30L))
      .toDF("k", "grp", "v"), partitions = 1)
    val src = Seq((1L, "b", 200L), (2L, "b", 300L)).toDF("k", "grp", "v")
    val (v, (nUpd, nDel, nIns), _) = log.mergeIntoKeys(
      src, Seq("k", "grp"),
      updateWhen = Some(lit(true)), updateSet = Seq("v" -> col("src_v")),
      insertNotMatched = true)
    assert((nUpd, nDel, nIns) == (1L, 0L, 1L), s"got ($nUpd, $nDel, $nIns)")
    val got = log.read(spark, v).collect()
      .map(r => ((r.getLong(0), r.getString(1)), r.getLong(2))).toMap
    assert(got == Map((1L, "a") -> 10L, (1L, "b") -> 200L,
      (2L, "a") -> 30L, (2L, "b") -> 300L), got.toString)
    // duplicate TUPLES refuse; distinct tuples sharing one column don't
    intercept[IllegalArgumentException] {
      log.mergeIntoKeys(Seq((1L, "a", 1L), (1L, "a", 2L)).toDF("k", "grp", "v"),
        Seq("k", "grp"),
        updateWhen = Some(lit(true)), updateSet = Seq("v" -> col("src_v")))
    }
    // sourceExtras: an extra control column drives clause conditions but
    // never lands in a written row image
    val cdc = Seq((1L, "a", 0L, true), (3L, "c", 99L, false))
      .toDF("k", "grp", "v", "_del")
    val (v3, (u3, d3, i3), _) = log.mergeIntoKeys(
      cdc, Seq("k", "grp"),
      updateWhen = Some(!coalesce(col("src__del"), lit(false))),
      updateSet = Seq("v" -> col("src_v")),
      deleteWhen = Some(coalesce(col("src__del"), lit(false))),
      insertNotMatched = true,
      insertWhen = Some(!coalesce(col("_del"), lit(false))),
      sourceExtras = Set("_del"))
    assert((u3, d3, i3) == (0L, 1L, 1L), s"got ($u3, $d3, $i3)")
    val after = log.read(spark, v3)
    assert(after.columns.toSeq.sorted == Seq("grp", "k", "v"),
      "the control column must never be written")
    assert(after.where(col("k") === 1L && col("grp") === "a").count() == 0L)
    assert(after.where(col("k") === 3L).count() == 1L)
  }

  test("mergeIntoKeys: NOT MATCHED BY SOURCE UPDATE marks lost rows, delete-first when both clauses given") {
    val log = freshLog("merge_nmbs_upd")
    log.append(Seq((1L, "live", 10L), (2L, "live", 20L), (3L, "live", 30L),
      (4L, "live", 40L)).toDF("id", "status", "v"), partitions = 2)
    // source holds only id=1 (update) and id=9 (insert); ids 2-4 lose
    // their match: even ones delete, the rest mark STALE with v zeroed
    val src = Seq((1L, "live", 100L), (9L, "new", 90L)).toDF("id", "status", "v")
    val (v, (nUpd, nDel, nIns), (rw, tot)) = log.mergeIntoKeys(
      src, Seq("id"),
      updateWhen = Some(lit(true)), updateSet = Seq("v" -> col("src_v")),
      insertNotMatched = true,
      deleteNotMatchedBySource = Some(col("id") % 2 === 0),
      nmbsUpdateWhen = Some(lit(true)),
      nmbsUpdateSet = Seq("status" -> lit("STALE"), "v" -> lit(0L)))
    // nUpd counts matched (id=1) + stale-marked (id=3); deletes are 2,4
    assert((nUpd, nDel, nIns) == (2L, 2L, 1L), s"got ($nUpd, $nDel, $nIns)")
    assert(rw == tot, "an NMBS clause puts every file in the rewrite scope")
    val got = log.read(spark, v).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2)))).toMap
    assert(got == Map(1L -> ("live", 100L), 3L -> ("STALE", 0L),
      9L -> ("new", 90L)), got.toString)
    // SET expressions read the OLD row (v doubles from its pre-image,
    // not from any partially-applied state)
    val (v2, (u2, _, _), _) = log.mergeIntoKeys(
      Seq((99L, "x", 0L)).toDF("id", "status", "v"), Seq("id"),
      insertNotMatched = true,
      nmbsUpdateWhen = Some(col("status") === "STALE"),
      nmbsUpdateSet = Seq("v" -> (col("v") * 2 + 1L)))
    assert(u2 == 1L)
    assert(log.read(spark, v2).where(col("id") === 3L)
      .select("v").as[Long].head() == 1L)
    // pairing is enforced
    intercept[IllegalArgumentException] {
      log.mergeIntoKeys(src, Seq("id"),
        nmbsUpdateWhen = Some(lit(true)))
    }
  }

  test("replaceWhere rewrites only grazed files, guards scope, and serves the empty (scoped-delete) form") {
    val log = freshLog("replace_where")
    // three range-clustered files: [0,99], [100,199], [200,299]
    log.appendIndexed((0L until 300L).map(i => (i, i))
      .toDF("k", "v")
      .repartitionByRange(3, col("k")).sortWithinPartitions(col("k")),
      Seq("k"))
    val filesBefore = log.dataFiles(log.currentVersion.get).toSet
    val ((v1, (nDel, nIns)), trace) = Trace.capture(spark)(log.replaceWhere(spark,
      (100L until 150L).map(i => (i, i * 10)).toDF("k", "v"),
      col("k").between(100, 199)))
    assert((nDel, nIns) == (100L, 50L), s"got ($nDel, $nIns)")
    // the discovery scan was STATS-PRUNED: of the three range-clustered
    // files only [100,199] intersects the predicate — out-of-scope files
    // are never read, not merely never rewritten
    val filesAfter = log.dataFiles(v1).toSet
    val grazed = filesBefore -- filesAfter
    val read = TraceSpec.filesRead(trace, filesBefore)
    assert(grazed.size == 1 && read == grazed, s"read $read of the table's files, grazed $grazed")
    // the two un-grazed files are carried byte-identical
    assert(filesBefore.intersect(filesAfter).size == 2,
      s"expected 2 carried files, got ${filesBefore.intersect(filesAfter).size}")
    val got = log.read(spark, v1).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 250)
    assert((100L until 150L).forall(i => got(i) == i * 10))
    assert((150L until 200L).forall(i => !got.contains(i)))
    assert(got(0L) == 0L && got(250L) == 250L)
    // a replacement row outside the scope fails the write job
    intercept[Exception] {
      log.replaceWhere(spark, Seq((999L, 1L)).toDF("k", "v"),
        col("k").between(100, 199))
    }
    assert(log.currentVersion.contains(v1), "a refused replace commits nothing")
    // the empty replacement is the scoped delete
    val (v2, (d2, i2)) = log.replaceWhere(spark,
      Seq.empty[(Long, Long)].toDF("k", "v"), col("k") < 50)
    assert((d2, i2) == (50L, 0L))
    assert(log.read(spark, v2).where(col("k") < 50).count() == 0L)
    assert(log.read(spark, v2).count() == 200L)
    // position deletes COMPOSE: a masked row in an untouched file stays
    // hidden through the replace (file-scoped masks carry live)
    val (_, nPd) = log.deleteWhere(spark, col("k") === 250L)
    assert(nPd == 1L)
    val (v3, _) = log.replaceWhere(spark,
      Seq((120L, 1L)).toDF("k", "v"), col("k").between(100, 199))
    assert(log.read(spark, v3).where(col("k") === 250L).count() == 0L,
      "the position-deleted row must stay masked after an unrelated replace")
    // a retyped replacement column refuses before anything commits
    intercept[IllegalArgumentException] {
      log.replaceWhere(spark, Seq((120L, 1.5)).toDF("k", "v"),
        col("k").between(100, 199))
    }
    // outstanding KEY tombstones COMPOSE: the re-inserted tombstoned key
    // serves the NEW row, out-of-scope tombstoned keys stay dead (their
    // maskings materialize as position deletes), and the key-addressed
    // lines are gone — hash-equal to the compact-first route
    val log2 = freshLog("replace_where_tomb")
    log2.append(Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("k", "v"), partitions = 1)
    log2.deleteRows(Seq(1L, 3L).toDF("k"), partitions = 1)
    val (vT, (dT, iT)) = log2.replaceWhere(spark,
      Seq((1L, 10L)).toDF("k", "v"), col("k") === 1L)
    assert((dT, iT) == (0L, 1L), s"the tombstoned key has no VISIBLE row to delete, got ($dT, $iT)")
    assert(log2.tombstoneFiles(vT).isEmpty, "key tombstones must drop in the commit")
    assert(log2.posDeleteFiles(vT).nonEmpty, "carried maskings must materialize")
    val gotT = log2.read(spark, vT).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotT == Map(1L -> 10L, 2L -> 2L),
      s"re-inserted key serves the new row, out-of-scope tombstone holds: $gotT")
  }

  test("statsCandidateFiles: conjunct pruning is exact on ranges and CONSERVATIVE on everything else") {
    val log = freshLog("stats_cands")
    log.appendIndexed((0L until 300L).map(i => (i, i)).toDF("k", "v")
      .repartitionByRange(3, col("k")).sortWithinPartitions(col("k")), Seq("k"))
    val cur = log.currentVersion.get
    val all = log.dataFiles(cur)
    def cands(p: org.apache.spark.sql.Column): Set[String] =
      log.statsCandidateFiles(spark, cur, p).toSet
    def fileOf(k: Long): String = {
      import org.apache.spark.sql.functions.{col => c, input_file_name}
      val abs = log.read(spark, cur).where(c("k") === k)
        .select(input_file_name()).head().getString(0)
        .stripPrefix("file://")
      all.find(p => abs.endsWith(p)).get
    }
    val (f0, f1, f2) = (fileOf(50L), fileOf(150L), fileOf(250L))
    // exact range pruning, Column-API and SQL-text alike, either operand order
    assert(cands(col("k") === 150L) == Set(f1))
    assert(cands(col("k") > 250L) == Set(f2))
    assert(cands(lit(120L) <= col("k") && col("k") < 130L) == Set(f1))
    assert(cands(org.apache.spark.sql.functions.expr("k BETWEEN 100 AND 199")) == Set(f1))
    assert(cands(org.apache.spark.sql.functions.expr("200 <= k")) == Set(f2))
    // an unprunable conjunct WIDENS nothing it shouldn't and NARROWS nothing
    assert(cands(col("k") === 150L && col("v") % 2 === 0) == Set(f1))
    // OR at top level: no per-term pruning (a disjunct is not a bound)
    assert(cands(col("k") === 50L || col("k") === 250L) == all.toSet)
    // NOT must never leak its inner comparison as a prunable term
    assert(cands(!(col("k") === 150L)) == all.toSet)
    assert(cands(org.apache.spark.sql.functions.expr(
      "NOT (k >= 100 AND k <= 199)")) == all.toSet)
    assert((f0, f1, f2).productIterator.toSet.size == 3)
  }

  test("replaceWhere byte-sizes its writes: output file count tracks ceil(bytes/target), never a fixed cap") {
    val log = freshLog("replace_where_sized")
    // high-entropy strings so parquet cannot compress them away
    def rows(from: Long, until: Long) = (from until until).map { i =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (i, h * 4)
    }
    log.appendIndexed(
      rows(0L, 20000L).toDF("k", "v")
        .repartitionByRange(2, col("k")).sortWithinPartitions(col("k")),
      Seq("k"))
    def newFiles(pre: Set[String], v: Long): Seq[String] =
      log.dataFiles(v).filterNot(pre)
    // small target: the replacement splits into several ~target files
    val pre1 = log.dataFiles(log.currentVersion.get).toSet
    val (v1, _) = log.replaceWhere(spark,
      rows(0L, 10000L).toDF("k", "v"), col("k") < 10000L,
      targetBytes = 64L * 1024)
    val small = newFiles(pre1, v1)
    assert(small.size >= 2,
      s"a ~1 MB replacement under a 64 KiB target must split, got ${small.size} file(s)")
    // huge target: the same replacement coalesces to one file
    val pre2 = log.dataFiles(v1).toSet
    val (v2, _) = log.replaceWhere(spark,
      rows(0L, 10000L).toDF("k", "v"), col("k") < 10000L,
      targetBytes = 1L * 1024 * 1024 * 1024)
    val big = newFiles(pre2, v2).filter(p =>
      new java.io.File(log.root, p).length() > 0)
    assert(big.size <= 2, // replacement + survivor stages
      s"a ~1 MB replacement under a 1 GiB target must coalesce, got ${big.size} file(s)")
  }

  test("appendIdentityStats: racing inserts re-derive the watermark under OCC — ids never collide") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val log = freshLog("identity_race")
    log.commitCreate(
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v BIGINT"),
      Nil, Map.empty)
    val pool = Executors.newFixedThreadPool(4)
    val gate = new CountDownLatch(1)
    (0 until 4).foreach { w =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          gate.await()
          val batch = (0 until 25)
            .map(i => (null: java.lang.Long, (w * 100 + i).toLong))
            .toDF("id", "v")
          log.withOccRetry()(
            log.appendIdentityStats(batch, "id", start = 1L, step = 1L,
              partitions = 2))
          ()
        }
      })
    }
    gate.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "racing inserts hung")
    val ids = log.readLatest(spark).select("id").as[Long].collect().sorted.toSeq
    // 4 × 25 rows: contiguous blocks, zero collisions, exactly 1..100 —
    // each OCC loser re-derived from the winner's committed watermark
    assert(ids == (1L to 100L), s"got ${ids.take(10).mkString(",")}…")
  }

  test("withOccRetry: racing non-commuting DML re-derives and converges, no lost effects") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val log = freshLog("occ_dml")
    log.append((0 until 100).map(i => (i.toLong, 0L)).toDF("id", "v"), 2)
    // 4 racing updaters, each incrementing a DISJOINT id stripe by 1, all
    // re-deriving from the then-current snapshot on every lost race
    val pool = Executors.newFixedThreadPool(4)
    val start = new CountDownLatch(1)
    val retries = new java.util.concurrent.atomic.AtomicInteger(0)
    val futures = (0 until 4).map { stripe =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          val (_, n) = log.withOccRetry() {
            log.updateWhere(spark, col("id") % 4 === stripe.toLong,
              Seq("v" -> (col("v") + 1L)))
          }
          retries.addAndGet(n)
          ()
        }
      })
    }
    start.countDown()
    futures.foreach(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    // every stripe's increment landed exactly once
    val got = log.readLatest(spark).agg(sum(col("v")), count(lit(1))).head()
    assert(got.getLong(0) == 100L && got.getLong(1) == 100L,
      s"expected all 100 rows incremented once, got sum=${got.getLong(0)}")
    info(s"retries consumed across 4 racers: ${retries.get()}")
    // retry budget exhausted → the original exception escapes
    intercept[graft.sources.ConcurrentCommitException] {
      log.withOccRetry(maxRetries = 0) {
        throw new graft.sources.ConcurrentCommitException("synthetic")
      }
    }
  }

  test("analyze persists exact versioned stats; statsJoin picks the build side from them") {
    import graft.sources.StatsOptimizer
    val fact = freshLog("stats_fact")
    val dim = freshLog("stats_dim")
    fact.append((0 until 100).map(i => (i.toLong % 10, i.toLong)).toDF("k", "x"), 2)
    dim.append((0 until 10).map(i => (i.toLong, s"t${i % 3}")).toDF("k", "tier"), 1)
    // stats missing → refused loudly, never guessed
    intercept[IllegalStateException] { StatsOptimizer.statsJoin(spark, dim, fact, "k") }
    fact.analyze(spark, Seq("k"), exact = true)
    dim.analyze(spark, Seq("k"), exact = true)
    val fv = fact.currentVersion.get
    assert(fact.tableStats(fv).contains((100L, Map("k" -> 10L))))
    assert(dim.tableStats(dim.currentVersion.get).contains((10L, Map("k" -> 10L))))
    val (joined, dec) = StatsOptimizer.statsJoin(spark, dim, fact, "k")
    assert(dec.broadcastLeft && dec.buildKeyUnique && dec.leftRows == 10L)
    assert(joined.count() == 100L)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("BuildRight"))
    // stats version WITH the snapshot: an append outdates them only forward;
    // the analyzed vintage keeps its numbers
    fact.append(Seq((11L, 1L)).toDF("k", "x"), 1)
    assert(fact.tableStats(fact.currentVersion.get).contains((100L, Map("k" -> 10L))),
      "carried stats describe the analyzed vintage until re-analyzed")
    // but a CONSUMER must not plan from them: the carried numbers no
    // longer describe the data state, and statsJoin refuses loudly
    val stale = intercept[IllegalStateException] {
      StatsOptimizer.statsJoin(spark, dim, fact, "k")
    }
    assert(stale.getMessage.contains("STALE"))
    fact.analyze(spark, Seq("k"), exact = true)
    assert(fact.tableStats(fact.currentVersion.get).contains((101L, Map("k" -> 11L))))
    // fresh again after re-analyze
    val (rejoined, dec2) = StatsOptimizer.statsJoin(spark, dim, fact, "k")
    assert(dec2.leftRows == 10L && dec2.rightRows == 101L && dec2.broadcastLeft)
    assert(rejoined.count() == 100L)
  }

  test("optimizeIncremental clusters only post-optimize files; read-back equals full rewrite") {
    val log = freshLog("liquid")
    log.append(rows(40, "a"), partitions = 4)
    val vFull = log.optimize(spark, partitions = 2, sortCols = Seq(col("id")))
    val clustered = log.dataFiles(vFull).toSet
    log.append((40 until 60).map(i => (i.toLong, s"b-$i", i.toLong * 10))
      .toDF("id", "payload", "v"), partitions = 3)
    val preIncr = log.currentVersion.get
    val before = log.read(spark, preIncr).collect().toSet
    val (vIncr, (rewritten, carried)) =
      log.optimizeIncremental(spark, partitions = 1, sortCols = Seq(col("id")))
    assert(rewritten == 3 && carried == clustered.size,
      s"only the 3 fresh files rewrite; got rewritten=$rewritten carried=$carried")
    // every pre-optimize clustered file is carried UNTOUCHED
    assert(clustered.subsetOf(log.dataFiles(vIncr).toSet),
      "incremental optimize must not touch already-clustered files")
    assert(log.read(spark, vIncr).collect().toSet == before, "content preserved exactly")
    // steady state: nothing fresh → no-op, no commit
    val (vAgain, (r2, _)) = log.optimizeIncremental(spark, 1, Seq(col("id")))
    assert(vAgain == vIncr && r2 == 0)
    // outstanding deletes COMPOSE since r12 (no forced compact): the
    // masked view is preserved through the maintenance pass
    val (_, nd) = log.deleteWhere(spark, col("id") === 1L)
    val maskedView = log.read(spark, log.currentVersion.get).collect().toSet
    val (vMor, _) = log.optimizeIncremental(spark, 1, Seq(col("id")))
    assert(nd == 1L && log.read(spark, vMor).collect().toSet == maskedView)
  }

  test("deletion vectors: posdels collapse to one sidecar, read is join-free and bitwise-equal, later deletes compose") {
    val log = freshLog("dv")
    log.append(rows(40, "a"), partitions = 4)
    log.deleteWhere(spark, col("id") % 7 === 1)
    val (vPos, _) = log.deleteWhere(spark, col("id") % 11 === 3)
    assert(log.posDeleteFiles(vPos).size == 2)
    val antiView = log.read(spark, vPos).collect().toSet
    val (vDv, nVecs) = log.writeDeleteVectors(spark)
    assert(log.posDeleteFiles(vDv).isEmpty && log.dvFiles(vDv).size == 1 && nVecs > 0,
      "both posdel files collapse into ONE dv sidecar")
    assert(log.dataFiles(vDv).sorted == log.dataFiles(vPos).sorted, "metadata-sized: no data rewrite")
    val dvView = log.read(spark, vDv)
    assert(dvView.collect().toSet == antiView, "dv route reads bitwise what the anti-join route read")
    assert(!dvView.queryExecution.executedPlan.toString.contains("Join"),
      "the dv mask is a scan-local probe, not a join")
    // a LATER predicate delete composes: new posdel beside the dv, both applied
    val (vMix, nMix) = log.deleteWhere(spark, col("id") === 2L)
    assert(nMix == 1L && log.read(spark, vMix).where(col("id") === 2L).count() == 0L)
    // and a second materialization ORs it into the vector
    val (vDv2, _) = log.writeDeleteVectors(spark)
    assert(log.posDeleteFiles(vDv2).isEmpty && log.dvFiles(vDv2).size == 1)
    assert(log.read(spark, vDv2).count() == log.read(spark, vMix).count())
    // no-op when nothing to convert
    val (vSame, _) = log.writeDeleteVectors(spark)
    assert(vSame == vDv2)
    // compact absorbs the vector entirely
    val before = log.read(spark, vDv2).collect().toSet
    val vC = log.compact(spark, partitions = 2)
    assert(log.dvFiles(vC).isEmpty && log.read(spark, vC).collect().toSet == before)
  }

  test("mergeInto composes with outstanding position deletes and equals the compact-first route") {
    def seed(name: String): SnapshotLog = {
      val l = freshLog(name)
      l.append(rows(30, "a"), partitions = 3)
      l.deleteWhere(spark, col("id") % 5 === 0)
      l
    }
    val mor = seed("merge_mor"); val ref = seed("merge_ref")
    ref.compact(spark, partitions = 3)
    val src = (Seq(3L, 10L, 35L)).map(i => (i, s"src-$i", i * 100)).toDF("id", "payload", "v")
    def merge(l: SnapshotLog) = l.mergeInto(
      src, "id",
      updateWhen = Some(lit(true)),
      updateSet = Seq("v" -> col("src_v")),
      insertNotMatched = true)
    val (vM, (nUpd, nDel, nIns), _) = merge(mor)
    merge(ref)
    // id=3 exists (update); id=10 was DELETED -> must count as INSERT, not update
    assert(nUpd == 1L && nDel == 0L && nIns == 2L, s"got ($nUpd, $nDel, $nIns)")
    assert(mor.posDeleteFiles(vM).nonEmpty, "masks still outstanding — no forced compact")
    assert(setEq(mor.read(spark, vM), ref.read(spark, ref.currentVersion.get)),
      "merge-on-read route equals compact-first route")
    // deleted-but-unmerged rows stay deleted (no resurrection through carried masks)
    assert(mor.read(spark, vM).where(col("id") === 5L).count() == 0L)
    // key tombstones still refuse: carrying them would re-delete merged rows
    val tomb = freshLog("merge_tomb")
    tomb.append(rows(10, "t"), partitions = 1)
    tomb.deleteRows(Seq(1L).toDF("id"), partitions = 1)
    intercept[IllegalArgumentException] { merge(tomb) }
  }

  test("optimizeIncremental composes with outstanding deletes: fresh rewrite masked, carried masks keep masking") {
    val log = freshLog("liquid_mor")
    log.append(rows(40, "a"), partitions = 4)
    val vFull = log.optimize(spark, partitions = 2, sortCols = Seq(col("id")))
    val clustered = log.dataFiles(vFull).toSet
    log.append((40 until 60).map(i => (i.toLong, s"b-$i", i.toLong * 10))
      .toDF("id", "payload", "v"), partitions = 3)
    // one delete hits a CLUSTERED file's rows, one hits FRESH rows
    log.deleteWhere(spark, col("id") === 7L)
    val (vDel, _) = log.deleteWhere(spark, col("id") === 45L)
    val before = log.read(spark, vDel).collect().toSet
    val (vIncr, (rewritten, carried)) =
      log.optimizeIncremental(spark, partitions = 1, sortCols = Seq(col("id")))
    assert(rewritten == 3 && carried == clustered.size)
    assert(clustered.subsetOf(log.dataFiles(vIncr).toSet), "clustered files untouched")
    assert(log.posDeleteFiles(vIncr).nonEmpty, "masks carried for the untouched files")
    assert(log.read(spark, vIncr).collect().toSet == before,
      "read-back equals the pre-optimize masked view: fresh delete absorbed, clustered delete still masked")
    assert(log.read(spark, vIncr).where(col("id") === 45L).count() == 0L, "absorbed, not resurrected")
    assert(log.read(spark, vIncr).where(col("id") === 7L).count() == 0L, "carried mask still masks")
  }

  test("expire + vacuum: retained versions read through the sweep, expired versions fail loudly") {
    val log = freshLog("retention")
    val v0 = log.append(rows(20, "a"), partitions = 2)
    val v1 = log.append((20 until 30).map(i => (i.toLong, s"b-$i", i.toLong * 10))
      .toDF("id", "payload", "v"), partitions = 1)
    val v2 = log.compact(spark, partitions = 2)
    val v3 = log.append((30 until 35).map(i => (i.toLong, s"c-$i", i.toLong * 10))
      .toDF("id", "payload", "v"), partitions = 1)
    assert(log.expire(keepFrom = v2).sorted == Seq(v0, v1))
    val removed = log.vacuum()
    assert(removed.nonEmpty, "the pre-compact files were exclusive to the expired versions")
    assert(log.read(spark, v2).count() == 30L && log.read(spark, v3).count() == 35L,
      "every retained version reads its full content after the sweep")
    intercept[IllegalArgumentException] { log.read(spark, v0).count() }
  }

  test("deleteWhereCow rewrites only grazed files, leaves no masks, composes with prior MOR deletes") {
    val log = freshLog("cow")
    val vA = log.append(rows(20, "a"), partitions = 1)
    val fileA = log.dataFiles(vA).head
    val vB = log.append((20 until 40).map(i => (i.toLong, s"b-$i", i.toLong * 10))
      .toDF("id", "payload", "v"), partitions = 1)
    val fileB = (log.dataFiles(vB).toSet - fileA).head
    // a prior merge-on-read delete composes: its mask absorbs into the rewrite
    log.deleteWhere(spark, col("id") === 3L)
    val (vCow, n) = log.deleteWhereCow(spark, col("id") === 5L)
    assert(n == 1L)
    assert(log.posDeleteFiles(vCow).nonEmpty, "the untouched mask line rides forward")
    assert(log.dataFiles(vCow).contains(fileB), "ungrazed file carried untouched")
    assert(!log.dataFiles(vCow).contains(fileA), "grazed file rewritten")
    val got = log.read(spark, vCow)
    assert(got.count() == 38L, "40 - MOR-deleted 3 - COW-deleted 5")
    assert(got.where(col("id").isin(3L, 5L)).count() == 0L)
    // absorbed, not resurrected: id=3 lived in the rewritten file
    // a COW delete on a mask-free table leaves it scan-clean
    log.compact(spark, partitions = 2)
    val (vClean, n2) = log.deleteWhereCow(spark, col("id") >= 30L)
    assert(n2 == 10L)
    assert(log.posDeleteFiles(vClean).isEmpty && log.dvFiles(vClean).isEmpty &&
      log.tombstoneFiles(vClean).isEmpty, "no masks outstanding after COW delete")
    assert(log.read(spark, vClean).count() == 28L)
    // nothing matched: no commit
    val (vSame, n3) = log.deleteWhereCow(spark, col("id") === 999L)
    assert(n3 == 0L && vSame == vClean)
  }
}
