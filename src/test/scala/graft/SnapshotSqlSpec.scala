package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.{Trace, TraceSpec}
import graft.sources.{GraftCatalog, SnapshotLog}
import graft.streaming.StreamingSessionize

/** DSv2 SQL addressability of snapshot-log tables ([[GraftCatalog]]):
  * `SELECT … FROM graftsnap.t` with `VERSION AS OF` / `TIMESTAMP AS OF`
  * riding Spark's native time-travel syntax into the log's pinned reads.
  */
class SnapshotSqlSpec extends AnyFunSuite with TempRoots {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val root = s"${GraftSession.target}/snapsql_spec"

  private def freshLog(name: String): SnapshotLog = {
    val log = new SnapshotLog(s"$root/$name")
    log.recreate()
    log
  }

  private def registerCatalog(): Unit = {
    GraftCatalog.mount(spark, "graftsnap", root)
  }

  /** Files the executed plan's V2 scan actually lists. */
  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.asInstanceOf[org.apache.spark.sql.execution.datasources.v2.FileScan]
          .fileIndex.inputFiles.length
    }.getOrElse(sys.error("no BatchScanExec leaf"))

  test("SQL reads the current snapshot through a V2 scan with pushdown; writes refuse") {
    val log = freshLog("t_sql")
    log.append((0 until 20).map(i => (i.toLong, s"p-$i", i.toLong * 10))
      .toDF("id", "payload", "v"), partitions = 2)
    registerCatalog()
    val out = spark.sql(
      "SELECT count(*) AS n, sum(v) AS sv FROM graftsnap.t_sql WHERE id >= 10").head()
    assert(out.getLong(0) == 10L && out.getLong(1) == (10 until 20).map(_ * 10L).sum)
    // the plan is a DSv2 BatchScan with the filter PUSHED to parquet
    val df = spark.sql("SELECT id, v FROM graftsnap.t_sql WHERE id >= 10")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan"), s"expected a V2 BatchScan, got:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThanOrEqual(id,10)]") ||
      plan.contains("GreaterThanOrEqual(id,10)"), s"filter not pushed:\n$plan")
    // column pruning reaches the scan: only the selected columns are read
    assert(plan.contains("ReadSchema") && !plan.contains("payload"),
      s"projection not pruned to (id, v):\n$plan")
    // transactional INSERT: one atomic manifest commit through appendStrict
    val vBefore = log.currentVersion.get
    spark.sql("INSERT INTO graftsnap.t_sql VALUES (99, 'x', 990)")
    assert(log.currentVersion.get == vBefore + 1L, "INSERT is exactly one commit")
    assert(spark.sql("SELECT count(*) AS n FROM graftsnap.t_sql").head().getLong(0) == 21L)
    assert(log.read(spark, log.currentVersion.get)
      .where(col("id") === 99L).count() == 1L, "the API read sees the SQL insert")
    // INSERT OVERWRITE = ONE tracked logical overwrite commit; history
    // stays time-travellable. (partitionOverwriteMode=static — under
    // dynamic the analyzer refuses upstream: no partitions to be
    // dynamic about.)
    val vPre = log.currentVersion.get
    val prevMode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try {
      spark.sql("INSERT OVERWRITE TABLE graftsnap.t_sql VALUES (7, 'y', 70)")
      assert(log.currentVersion.get == vPre + 1L, "overwrite is exactly one commit")
      assert(spark.sql("SELECT count(*) AS n, sum(v) AS s FROM graftsnap.t_sql")
        .head().toSeq == Seq(1L, 70L))
      // the pre-overwrite snapshot still reads — a tracked overwrite
      assert(spark.sql(s"SELECT count(*) AS n FROM graftsnap.t_sql VERSION AS OF $vPre")
        .head().getLong(0) == 21L)
      // a drifted overwrite refuses loudly, nothing committed
      val drift = intercept[Exception] {
        spark.sql("INSERT OVERWRITE TABLE graftsnap.t_sql VALUES (1, 'z')")
      }
      assert(drift.getMessage.contains("drifts from the table schema") ||
        drift.getMessage.contains("INSERT_COLUMN_ARITY_MISMATCH"), s"got: ${drift.getMessage}")
      assert(log.currentVersion.get == vPre + 1L)
      // TRUNCATE TABLE rides the copy-on-write delete — tracked, scan-clean
      spark.sql("TRUNCATE TABLE graftsnap.t_sql")
      assert(spark.sql("SELECT count(*) AS n FROM graftsnap.t_sql").head().getLong(0) == 0L)
      assert(log.currentVersion.get == vPre + 2L &&
        log.posDeleteFiles(log.currentVersion.get).isEmpty)
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
  }

  test("VERSION AS OF and TIMESTAMP AS OF pin historical snapshots; snapshot isolation holds") {
    val log = freshLog("t_travel")
    log.append((0 until 10).map(i => (i.toLong, i.toLong)).toDF("id", "v"), partitions = 1)
    val t0 = log.commitTimeMillis(log.currentVersion.get)
    // ensure a strictly later mtime for the second commit
    Thread.sleep(1100)
    log.append((10 until 25).map(i => (i.toLong, i.toLong)).toDF("id", "v"), partitions = 1)
    registerCatalog()
    assert(spark.sql("SELECT count(*) AS n FROM graftsnap.t_travel").head().getLong(0) == 25L)
    assert(spark.sql("SELECT count(*) AS n FROM graftsnap.t_travel VERSION AS OF 0")
      .head().getLong(0) == 10L)
    val ts = new java.sql.Timestamp(t0).toString
    assert(spark.sql(s"SELECT count(*) AS n FROM graftsnap.t_travel TIMESTAMP AS OF '$ts'")
      .head().getLong(0) == 10L)
    // a missing version refuses loudly
    val ex = intercept[Exception] {
      spark.sql("SELECT * FROM graftsnap.t_travel VERSION AS OF 99").collect()
    }
    assert(ex.getMessage.contains("does not exist"), s"unexpected: ${ex.getMessage}")
    // snapshot isolation: a table loaded BEFORE a new commit keeps reading
    // its own file listing
    val pinned = spark.sql("SELECT count(*) AS n FROM graftsnap.t_travel")
    log.append(Seq((100L, 100L)).toDF("id", "v"), partitions = 1)
    assert(pinned.head().getLong(0) == 25L, "loaded table must not see the later commit")
    assert(spark.sql("SELECT count(*) AS n FROM graftsnap.t_travel").head().getLong(0) == 26L)
  }

  test("masked snapshots serve SQL reads through the mask facade; writes stay refused; listTables sees the pool") {
    val log = freshLog("t_masked")
    log.append((0 until 10).map(i => (i.toLong, i.toLong)).toDF("id", "v"), partitions = 1)
    log.deleteWhere(spark, col("id") === 3L)
    registerCatalog()
    // the merge-on-read snapshot reads DIRECTLY in SQL — masks applied,
    // no compact() needed (the Delta DV-read shape)
    assert(spark.sql("SELECT count(*) AS n FROM graftsnap.t_masked").head().getLong(0) == 9L)
    assert(spark.sql("SELECT v FROM graftsnap.t_masked WHERE id = 3").count() == 0L,
      "the masked row must stay hidden through SQL")
    assert(spark.sql("SELECT CAST(sum(v) AS BIGINT) AS s FROM graftsnap.t_masked " +
      "WHERE id >= 5").head().getLong(0) == (5 until 10).map(_.toLong).sum)
    // read-only by capability: INSERT refuses while masks are outstanding
    intercept[Exception] {
      spark.sql("INSERT INTO graftsnap.t_masked VALUES (100, 100)")
    }
    // compact() absorbs the masks and the full read/write table returns
    log.compact(spark, partitions = 1)
    assert(spark.sql("SELECT count(*) AS n FROM graftsnap.t_masked").head().getLong(0) == 9L)
    spark.sql("INSERT INTO graftsnap.t_masked VALUES (100, 100)")
    assert(spark.sql("SELECT count(*) AS n FROM graftsnap.t_masked").head().getLong(0) == 10L)
    val names = spark.sql("SHOW TABLES IN graftsnap").collect().map(_.getString(1)).toSet
    assert(Set("t_sql", "t_travel", "t_masked").subsetOf(names), s"got $names")
    // column-mapped + masked composes too: the facade rides the
    // translating masked read — logical names out, masks applied
    spark.sql("DROP TABLE IF EXISTS graftsnap.t_maskmap")
    spark.sql("CREATE TABLE graftsnap.t_maskmap (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graftsnap.t_maskmap SELECT id, id * 3 FROM range(10)")
    spark.sql("ALTER TABLE graftsnap.t_maskmap RENAME COLUMN v TO val")
    val mlog = new SnapshotLog(s"$root/t_maskmap")
    mlog.deleteWhere(spark, col("v") === 9L) // physical name, masks id=3
    assert(spark.sql("SELECT count(*) AS n FROM graftsnap.t_maskmap")
      .head().getLong(0) == 9L)
    assert(spark.sql("SELECT val FROM graftsnap.t_maskmap WHERE id = 3").count() == 0L)
    assert(spark.sql("SELECT CAST(sum(val) AS BIGINT) AS s FROM graftsnap.t_maskmap")
      .head().getLong(0) == (0 until 10).filter(_ != 3).map(_ * 3L).sum)
    spark.sql("DROP TABLE IF EXISTS graftsnap.t_maskmap"); ()
  }

  test("SQL CREATE TABLE / CTAS / DROP TABLE round-trip through the log") {
    registerCatalog()
    spark.sql("DROP TABLE IF EXISTS graftsnap.t_ddl")
    spark.sql("DROP TABLE IF EXISTS graftsnap.t_ddl2")
    spark.sql("CREATE TABLE graftsnap.t_ddl (id BIGINT, tag STRING)")
    // the empty table reads with its declared schema
    val empty = spark.sql("SELECT * FROM graftsnap.t_ddl")
    assert(empty.count() == 0L && empty.schema.fieldNames.toSeq == Seq("id", "tag"))
    // IF NOT EXISTS no-ops; a plain re-CREATE refuses
    spark.sql("CREATE TABLE IF NOT EXISTS graftsnap.t_ddl (id BIGINT, tag STRING)")
    intercept[Exception] {
      spark.sql("CREATE TABLE graftsnap.t_ddl (id BIGINT, tag STRING)")
    }
    // the created table takes transactional INSERT and DELETE
    spark.sql("INSERT INTO graftsnap.t_ddl VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("DELETE FROM graftsnap.t_ddl WHERE id = 2")
    assert(spark.sql("SELECT sum(id) AS s FROM graftsnap.t_ddl").head().getLong(0) == 4L)
    // behind the SQL: a real log with v0 = the schema-only commit
    val log = new SnapshotLog(s"$root/t_ddl")
    assert(log.declaredSchema(0L).isDefined && log.dataFiles(0L).isEmpty)
    assert(log.currentVersion.get >= 2L)
    // CTAS = CREATE + transactional append
    spark.sql("CREATE TABLE graftsnap.t_ddl2 AS SELECT id, upper(tag) AS tag FROM graftsnap.t_ddl")
    assert(spark.sql("SELECT * FROM graftsnap.t_ddl2 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "A"), (3L, "C")))
    // PARTITIONED BY refuses loudly
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE graftsnap.t_ddl3 (id BIGINT, p STRING) PARTITIONED BY (p)")
    }
    assert(e.getMessage.contains("PARTITIONED BY"), s"got: ${e.getMessage}")
    // DROP removes the table; the name resolves no more
    spark.sql("DROP TABLE graftsnap.t_ddl2")
    intercept[Exception] { spark.sql("SELECT * FROM graftsnap.t_ddl2").count() }
  }

  test("SQL ALTER TABLE ADD COLUMNS is a metadata-only commit; old rows serve NULL") {
    val log = freshLog("t_alter")
    log.append((0 until 10).map(i => (i.toLong, s"p-$i")).toDF("id", "tag"), partitions = 1)
    registerCatalog()
    val vBefore = log.currentVersion.get
    val filesBefore = log.dataFiles(vBefore).toSet
    spark.sql("ALTER TABLE graftsnap.t_alter ADD COLUMNS (score BIGINT, note STRING)")
    // exactly one commit, zero data files touched — metadata-only evolution
    val vAfter = log.currentVersion.get
    assert(vAfter == vBefore + 1L, "ADD COLUMNS is exactly one commit")
    assert(log.dataFiles(vAfter).toSet == filesBefore, "no file rewrite")
    // old rows read as NULL in the added columns, through SQL and the API
    assert(spark.sql(
      "SELECT count(*) AS n FROM graftsnap.t_alter WHERE score IS NULL AND note IS NULL")
      .head().getLong(0) == 10L)
    assert(log.readLatest(spark).schema.fieldNames.toSeq ==
      Seq("id", "tag", "score", "note"))
    // INSERT now requires (and accepts) the widened shape
    spark.sql("INSERT INTO graftsnap.t_alter VALUES (100, 'x', 7, 'n')")
    assert(spark.sql(
      "SELECT sum(score) AS s FROM graftsnap.t_alter").head().getLong(0) == 7L)
    // DML sees the added column (readWithPositions pins the declared schema)
    spark.sql("DELETE FROM graftsnap.t_alter WHERE score = 7")
    assert(spark.sql("SELECT count(*) AS n FROM graftsnap.t_alter").head().getLong(0) == 10L)
    // the time-travelled pre-ALTER snapshot keeps the OLD schema
    assert(spark.sql(s"SELECT * FROM graftsnap.t_alter VERSION AS OF $vBefore")
      .schema.fieldNames.toSeq == Seq("id", "tag"))
    // duplicate / positioned / NOT NULL / rename ALTERs refuse loudly
    val dup = intercept[Exception] {
      spark.sql("ALTER TABLE graftsnap.t_alter ADD COLUMNS (TAG STRING)")
    }
    assert(dup.getMessage.contains("already exists"), s"got: ${dup.getMessage}")
    val pos = intercept[Exception] {
      spark.sql("ALTER TABLE graftsnap.t_alter ADD COLUMNS (z BIGINT FIRST)")
    }
    assert(pos.getMessage.contains("FIRST/AFTER"), s"got: ${pos.getMessage}")
    // RENAME COLUMN is supported since r13 (auto-upgrades to column
    // mapping; SnapshotSqlEvolutionSpec owns the full coverage) — here
    // just prove it composes with the ADD COLUMNS + DELETE history
    spark.sql("ALTER TABLE graftsnap.t_alter RENAME COLUMN tag TO label")
    assert(spark.table("graftsnap.t_alter").columns.contains("label"))
    assert(spark.sql("SELECT count(*) AS n FROM graftsnap.t_alter WHERE label IS NOT NULL")
      .head().getLong(0) == 10L)
  }

  test("SQL DROP COLUMN is metadata-only; ghosts cannot resurrect") {
    val log = freshLog("t_dropcol")
    log.append((0 until 10).map(i => (i.toLong, s"p-$i", i.toLong * 10))
      .toDF("id", "tag", "score"), partitions = 1)
    registerCatalog()
    val filesBefore = log.dataFiles(log.currentVersion.get).toSet
    spark.sql("ALTER TABLE graftsnap.t_dropcol DROP COLUMN score")
    // one commit, zero files touched; the column projects away everywhere
    assert(log.currentVersion.get == 1L &&
      log.dataFiles(1L).toSet == filesBefore)
    assert(spark.sql("SELECT * FROM graftsnap.t_dropcol").schema.fieldNames.toSeq ==
      Seq("id", "tag"))
    assert(log.readLatest(spark).schema.fieldNames.toSeq == Seq("id", "tag"))
    // time travel keeps the wide shape
    assert(spark.sql("SELECT * FROM graftsnap.t_dropcol VERSION AS OF 0")
      .schema.fieldNames.toSeq == Seq("id", "tag", "score"))
    // INSERT now takes the narrow shape
    spark.sql("INSERT INTO graftsnap.t_dropcol VALUES (100, 'x')")
    assert(spark.sql("SELECT count(*) AS n FROM graftsnap.t_dropcol")
      .head().getLong(0) == 11L)
    // resurrection refused: old files still carry the bytes
    val ex = intercept[Exception] {
      spark.sql("ALTER TABLE graftsnap.t_dropcol ADD COLUMNS (score BIGINT)")
    }
    assert(ex.getMessage.contains("previously DROPPED"), s"got: ${ex.getMessage}")
    // a fresh name is fine; dropping the last column refuses
    spark.sql("ALTER TABLE graftsnap.t_dropcol ADD COLUMNS (score2 BIGINT)")
    val last = intercept[Exception] {
      new SnapshotLog(s"$root/t_dropcol")
        .dropColumns(spark, Seq("id", "tag", "score2"))
    }
    assert(last.getMessage.contains("last column"), s"got: ${last.getMessage}")
  }

  test("metadata tables: history, files, properties resolve as t.<suffix>") {
    val log = freshLog("t_meta")
    log.append((0 until 10).map(i => (i.toLong, i.toLong)).toDF("id", "v"), partitions = 2)
    log.append((10 until 20).map(i => (i.toLong, i.toLong)).toDF("id", "v"), partitions = 1)
    log.deleteWhere(spark, col("id") === 3L)
    registerCatalog()
    // history: one row per version, operation classes from the log
    val hist = spark.sql(
      "SELECT version, operation, added_data, added_tombstones FROM graftsnap.t_meta.history ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSeq
    assert(hist == Seq((0L, "append", 2, 0), (1L, "append", 1, 0), (2L, "delete", 0, 1)),
      s"got $hist")
    // the scan is LOCAL — no executor exchange, no file source
    val plan = spark.sql("SELECT * FROM graftsnap.t_meta.history")
      .queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"), s"expected LocalTableScan:\n$plan")
    // files: 3 data files + 1 position-delete sidecar, sizes real
    val files = spark.sql(
      "SELECT kind, count(*) AS n, min(size_bytes) AS mn FROM graftsnap.t_meta.files GROUP BY kind ORDER BY kind")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(files.map(f => (f._1, f._2)) == Seq(("data", 3L), ("posdel", 1L)), s"got $files")
    assert(files.forall(_._3 > 0L), "sizes must be real on-disk bytes")
    // properties: ANALYZE stats land as a meta pair SQL can read
    log.analyze(spark, Seq("id"))
    val keys = spark.sql("SELECT key FROM graftsnap.t_meta.properties")
      .collect().map(_.getString(0)).toSet
    assert(keys.exists(_.startsWith("tablestats")), s"got $keys")
    // a real table named like a suffix is not shadowed: unknown suffixes refuse
    intercept[Exception] {
      spark.sql("SELECT * FROM graftsnap.t_meta.nope").collect()
    }
  }

  test("SQL scans skip files at the manifest level via stats sidecars") {
    val log = freshLog("t_skip")
    // four range-clustered files with recorded [lo, hi] stats on id
    val rows = (0 until 400).map(i => (i.toLong, i.toLong * 3))
    log.appendIndexed(
      rows.toDF("id", "v").repartitionByRange(4, col("id")).sortWithinPartitions(col("id")),
      statsCols = Seq("id"))
    registerCatalog()
    val all = spark.sql("SELECT * FROM graftsnap.t_skip")
    assert(plannedFiles(all) == 4, s"expected 4 files, got ${plannedFiles(all)}")
    // a key-range predicate plans over ONLY the files whose range it hits
    val narrow = spark.sql("SELECT id, v FROM graftsnap.t_skip WHERE id < 100")
    assert(plannedFiles(narrow) == 1,
      s"expected 1 surviving file, got ${plannedFiles(narrow)}")
    assert(narrow.count() == 100L)
    val mid = spark.sql("SELECT id FROM graftsnap.t_skip WHERE id >= 150 AND id <= 249")
    assert(plannedFiles(mid) == 2, s"got ${plannedFiles(mid)}")
    assert(mid.count() == 100L)
    val eq = spark.sql("SELECT v FROM graftsnap.t_skip WHERE id = 399")
    assert(plannedFiles(eq) == 1 && eq.head().getLong(0) == 1197L)
    // an all-excluding predicate still plans (empty scan) and returns 0
    val none = spark.sql("SELECT * FROM graftsnap.t_skip WHERE id > 100000")
    assert(plannedFiles(none) == 0 && none.count() == 0L)
    // parquet pushdown still reaches the pruned scan
    val plan = narrow.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("LessThan(id,100)"),
      s"pushdown lost:\n$plan")
    // a column without stats keeps every file (conservative)
    assert(plannedFiles(spark.sql("SELECT * FROM graftsnap.t_skip WHERE v = 30")) == 4)
  }

  test("spark.sql UPDATE and MERGE run the one-evaluation DML and return receipts") {
    val log = freshLog("t_dmlnat")
    log.append((0 until 10).map(i => (i.toLong, i.toLong)).toDF("id", "v"), partitions = 1)
    registerCatalog()
    val upd = spark.sql(
      "UPDATE graftsnap.t_dmlnat SET v = v + 100 WHERE id < 5").head()
    assert(upd.getString(0) == "UPDATE" && upd.getLong(3) == 5L, s"got $upd")
    assert(log.readLatest(spark).where(col("v") >= 100L).count() == 5L)
    Seq((3L, 7L), (20L, 20L)).toDF("id", "v").createOrReplaceTempView("dmlnat_src")
    val mrg = spark.sql(
      """MERGE INTO graftsnap.t_dmlnat AS t USING dmlnat_src AS s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin).head()
    assert(mrg.getString(0) == "MERGE" &&
      mrg.getLong(3) == 1L && mrg.getLong(5) == 1L, s"got $mrg")
    val rows = log.readLatest(spark).orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.contains((3L, 7L)) && rows.contains((20L, 20L)) && rows.length == 11)
  }

  test("maintenance verbs: OPTIMIZE / ZORDER / VACUUM / DESCRIBE HISTORY parse and run") {
    val log = freshLog("t_mnt")
    (0 until 3).foreach { i =>
      log.append((0 until 50).map(j => ((i * 50 + j).toLong, j.toLong)).toDF("id", "v"),
        partitions = 2)
      ()
    }
    registerCatalog()
    // OPTIMIZE bin-packs the six small files
    val opt = spark.sql("OPTIMIZE graftsnap.t_mnt").head()
    assert(opt.getString(1) == "bin_pack" && opt.getInt(2) == 6 && opt.getInt(3) == 1,
      s"got $opt")
    // ZORDER range-clusters; content survives
    val zo = spark.sql("OPTIMIZE graftsnap.t_mnt ZORDER BY (id)").head()
    assert(zo.getString(1) == "zorder")
    assert(spark.sql("SELECT count(*) AS n, sum(id) AS s FROM graftsnap.t_mnt")
      .head().toSeq == Seq(150L, (0 until 150).map(_.toLong).sum))
    // DESCRIBE HISTORY shows the whole chain with the two rewrites
    val hist = spark.sql("DESCRIBE HISTORY graftsnap.t_mnt").collect()
    assert(hist.length == 5 && hist.count(_.getString(1) == "rewrite") == 2, s"got ${hist.toSeq}")
    // DRY RUN previews the expire-then-sweep outcome, touching nothing
    val dry = spark.sql("VACUUM graftsnap.t_mnt RETAIN 1 VERSIONS DRY RUN").head()
    assert(dry.getBoolean(2) && dry.getInt(0) == 4 && dry.getInt(1) >= 6, s"got $dry")
    val log2 = new SnapshotLog(s"$root/t_mnt")
    assert(log2.versions.size == 5, "dry run must not expire")
    // VACUUM RETAIN 1 expires history and sweeps EXACTLY the preview
    val vac = spark.sql("VACUUM graftsnap.t_mnt RETAIN 1 VERSIONS").head()
    assert(vac.getInt(0) == 4 && vac.getInt(1) == dry.getInt(1) &&
      !vac.getBoolean(2), s"got $vac vs preview $dry")
    assert(spark.sql("SELECT count(*) AS n FROM graftsnap.t_mnt").head().getLong(0) == 150L)
    // real grammar is never shadowed; unknown tables refuse loudly
    assert(spark.sql("SELECT 1 + 1 AS two").head().getInt(0) == 2)
    val ex = intercept[Exception] { spark.sql("OPTIMIZE graftsnap.nope") }
    assert(ex.getMessage.contains("not a snapshot-log table"), s"got: ${ex.getMessage}")
  }

  test("INSERT and INSERT OVERWRITE cluster on write for clusterBy tables") {
    registerCatalog()
    spark.sql("DROP TABLE IF EXISTS graftsnap.cw")
    spark.sql("CREATE TABLE graftsnap.cw (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('clusterBy' = 'k')")
    spark.sql("INSERT INTO graftsnap.cw SELECT id * 3 AS k, id AS v FROM range(400)")
    // OVERWRITE replaces with interleaved keys — still clustered on
    // write (static overwrite: the table declares no partitions)
    val prevMode = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try spark.sql("INSERT OVERWRITE graftsnap.cw " +
      "SELECT (id * 7919) % 1200 AS k, id AS v FROM range(400)")
    finally prevMode match {
      case Some(m) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", m)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    val q = spark.sql("SELECT sum(v) AS s FROM graftsnap.cw WHERE k BETWEEN 0 AND 99")
    val log = new SnapshotLog(s"$root/cw")
    val planned = QueriesEtl.scanFiles(q.queryExecution.executedPlan).getOrElse(-1)
    val total = log.dataFiles(log.currentVersion.get).size
    assert(planned >= 1 && planned < total,
      s"overwritten content must skip on write-clustered ranges: $planned of $total")
    assert(spark.sql("SELECT count(*) AS n FROM graftsnap.cw").head().getLong(0) == 400L)
  }

  test("ANALYZE TABLE persists row count and NDVs through the SQL verb") {
    registerCatalog()
    spark.sql("DROP TABLE IF EXISTS graftsnap.anl")
    spark.sql("CREATE TABLE graftsnap.anl (id BIGINT, grp STRING)")
    spark.sql("INSERT INTO graftsnap.anl SELECT id, concat('g', id % 7) AS grp FROM range(500)")
    val analyzeSql = "ANALYZE TABLE graftsnap.anl COMPUTE STATISTICS FOR COLUMNS id, grp"
    val (r, trace) = Trace.capture(spark)(spark.sql(analyzeSql).head())
    assert(r.getLong(1) == 500L && r.getString(2) == "id,grp", r.toString)
    val log = new SnapshotLog(s"$root/anl")
    val (rows, ndvs) = log.tableStats(log.currentVersion.get).get
    // DEFAULT route: approximate NDVs (HLL++, 2% rsd) in ONE single-pass
    // aggregation — rows exact, NDVs within the sketch bound, and the
    // executed plan must NOT carry the multi-column-exact Expand blowup
    def close(approx: Long, exact: Long): Boolean =
      math.abs(approx - exact).toDouble / exact <= 0.05
    assert(rows == 500L && close(ndvs("id"), 500L) && close(ndvs("grp"), 7L),
      ndvs.toString)
    assert(!trace.plans.exists(_.contains("Expand")),
      s"approx ANALYZE must plan single-pass, no Expand:\n${trace.plans.mkString("\n")}")
    // the stats carry the analyzed data-state digest (staleness guard)
    assert(log.metaValues(log.currentVersion.get).contains("statsstate"))
    // EXACT route stays behind the conf — equality pinned
    spark.conf.set("spark.graft.analyze.exactNdv", "true")
    try {
      // ... and it plans the Expand the default avoids, so the capture sees one
      val (_, exactTrace) = Trace.capture(spark)(spark.sql(analyzeSql))
      assert(exactTrace.plans.exists(_.contains("Expand")))
      val (rows2, ndvs2) = log.tableStats(log.currentVersion.get).get
      assert(rows2 == 500L && ndvs2("id") == 500L && ndvs2("grp") == 7L,
        ndvs2.toString)
    } finally spark.conf.unset("spark.graft.analyze.exactNdv")
  }

  test("COPY INTO loads each source file exactly once; violations load nothing") {
    registerCatalog()
    spark.sql("DROP TABLE IF EXISTS graftsnap.cpy")
    spark.sql("CREATE TABLE graftsnap.cpy (id BIGINT, v BIGINT)")
    val srcDir = tempRoot("graft_copy_src_")
    def drop(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      StreamingSessionize.writeOneFile(df, srcDir.resolve(name))
    drop(spark.range(10).selectExpr("id", "id * 2 AS v"), "a.parquet")
    drop(spark.range(10, 20).selectExpr("id", "id * 2 AS v"), "b.parquet")
    val r1 = spark.sql(
      s"COPY INTO graftsnap.cpy FROM '$srcDir' FILEFORMAT = PARQUET").head()
    assert(r1.getInt(0) == 2 && r1.getLong(1) == 20L && r1.getInt(2) == 0, r1.toString)
    // idempotent: the same statement re-runs as a no-op
    val r2 = spark.sql(
      s"COPY INTO graftsnap.cpy FROM '$srcDir' FILEFORMAT = PARQUET").head()
    assert(r2.getInt(0) == 0 && r2.getInt(2) == 2 &&
      r2.getLong(3) == r1.getLong(3), s"re-copy must skip everything: $r2")
    // a new file arriving loads alone
    drop(spark.range(20, 25).selectExpr("id", "id * 2 AS v"), "c.parquet")
    val r3 = spark.sql(
      s"COPY INTO graftsnap.cpy FROM '$srcDir' FILEFORMAT = PARQUET").head()
    assert(r3.getInt(0) == 1 && r3.getLong(1) == 5L && r3.getInt(2) == 2, r3.toString)
    assert(spark.sql("SELECT count(*) AS n, count(DISTINCT id) AS d FROM graftsnap.cpy")
      .head().toSeq == Seq(25L, 25L), "each file's rows land exactly once")
    // CHECK constraints gate the load; a failed load marks NOTHING loaded
    spark.sql("ALTER TABLE graftsnap.cpy ADD CONSTRAINT v_nonneg CHECK (v >= 0)")
    drop(spark.range(25, 30).selectExpr("id", "-id AS v"), "bad.parquet")
    val log = new SnapshotLog(s"$root/cpy")
    val vPre = log.currentVersion.get
    val ex = intercept[Exception] {
      spark.sql(s"COPY INTO graftsnap.cpy FROM '$srcDir' FILEFORMAT = PARQUET")
    }
    def anywhere(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains("violates CHECK constraint")) ||
        anywhere(t.getCause))
    assert(anywhere(ex), ex.getMessage)
    assert(log.currentVersion.contains(vPre), "failed COPY must not commit")
    assert(log.copiedSources(spark, vPre).count() == 3L,
      "a failed load must not mark its files as loaded")
    // unknown-format and missing-path refusals
    val badFmt = intercept[Exception] {
      spark.sql(s"COPY INTO graftsnap.cpy FROM '$srcDir' FILEFORMAT = AVRO")
    }
    assert(badFmt.getMessage.contains("FILEFORMAT"), badFmt.getMessage)
    // CSV loads under the DECLARED schema (header + typed columns)
    val csvDir = tempRoot("graft_copy_csv_")
    java.nio.file.Files.write(csvDir.resolve("d.csv"),
      "id,v\n100,1\n101,2\n".getBytes("UTF-8"))
    val rc = spark.sql(
      s"COPY INTO graftsnap.cpy FROM '$csvDir' FILEFORMAT = CSV").head()
    assert(rc.getInt(0) == 1 && rc.getLong(1) == 2L, rc.toString)
    assert(spark.sql("SELECT v FROM graftsnap.cpy WHERE id = 101")
      .head().getLong(0) == 2L)
    // PATTERN narrows the candidate listing
    java.nio.file.Files.write(csvDir.resolve("skipme.txt"), "x".getBytes("UTF-8"))
    val rp = spark.sql(s"COPY INTO graftsnap.cpy FROM '$csvDir' " +
      "FILEFORMAT = CSV PATTERN = '*.csv'").head()
    assert(rp.getInt(0) == 0 && rp.getInt(2) == 1, rp.toString)
  }

  test("VACUUM RETAIN HOURS resolves wall-clocks; OPTIMIZE WHERE prunes by value sidecars") {
    val log = freshLog("t_hours")
    (0 until 3).foreach { i =>
      log.append((0 until 20).map(j => ((i * 20 + j).toLong, j.toLong)).toDF("id", "v"),
        partitions = 1)
      ()
    }
    registerCatalog()
    // a wide window keeps everything (preview proves it: zero expired)
    val dry = spark.sql("VACUUM graftsnap.t_hours RETAIN 1000 HOURS DRY RUN").head()
    assert(dry.getInt(0) == 0 && dry.getBoolean(2), dry.toString)
    // a zero window keeps only the current version (cutoff = now; every
    // commit wall-clock is in the past) — the time-based expire floor
    val vac = spark.sql("VACUUM graftsnap.t_hours RETAIN 0 HOURS").head()
    assert(vac.getInt(0) == 2 && !vac.getBoolean(2), vac.toString)
    assert(new SnapshotLog(s"$root/t_hours").versions == Seq(2L))
    assert(spark.sql("SELECT count(*) AS n FROM graftsnap.t_hours")
      .head().getLong(0) == 60L)

    // OPTIMIZE ... WHERE <col> = '<string>': the scope resolves through
    // the categorical value sidecars — only files that may hold the
    // value rewrite; the rest are carried byte-identical
    val vlog = freshLog("t_valscope")
    Seq("a", "b", "c").foreach { tag =>
      vlog.appendValueIndexed(
        (0 until 40).map(j => (j.toLong, tag)).toDF("id", "tag").repartition(2),
        valueCols = Seq("tag"))
      ()
    }
    val before = vlog.dataFiles(vlog.currentVersion.get)
    assert(before.size == 6)
    val receipt = spark.sql(
      "OPTIMIZE graftsnap.t_valscope WHERE tag = 'a' ZORDER BY (id)").head()
    assert(receipt.getString(1) == "zorder" && receipt.getInt(2) == 2,
      s"only the two tag='a' files are in scope, got $receipt")
    val after = vlog.dataFiles(vlog.currentVersion.get).toSet
    val scoped = spark.read.parquet(
      (after -- before.toSet).map(p => s"$root/t_valscope/" + p).toSeq: _*)
    assert(scoped.where(col("tag") =!= "a").count() == 0L &&
      scoped.count() == 40L, "exactly the tag='a' rows were rewritten")
    // content is untouched across the scoped rewrite
    assert(spark.sql("SELECT count(*) AS n FROM graftsnap.t_valscope")
      .head().getLong(0) == 120L)
  }

  test("RESTORE rolls the table back as a new commit; rolled-past history reads") {
    val log = freshLog("t_restore")
    log.append((0 until 10).map(i => (i.toLong, i.toLong)).toDF("id", "v"), partitions = 1)
    log.append((10 until 30).map(i => (i.toLong, i.toLong)).toDF("id", "v"), partitions = 1)
    registerCatalog()
    val r = spark.sql("RESTORE graftsnap.t_restore TO VERSION AS OF 0").head()
    assert(r.getLong(0) == 0L && r.getLong(1) == 2L, s"got $r")
    assert(spark.sql("SELECT count(*) AS n FROM graftsnap.t_restore").head().getLong(0) == 10L)
    // the rolled-past version stays readable for the post-mortem
    assert(spark.sql("SELECT count(*) AS n FROM graftsnap.t_restore VERSION AS OF 1")
      .head().getLong(0) == 30L)
  }

  test("SQL INSERTs record footer stats; later range queries skip whole inserts") {
    registerCatalog()
    spark.sql("DROP TABLE IF EXISTS graftsnap.t_fstats")
    spark.sql("CREATE TABLE graftsnap.t_fstats (id BIGINT, v BIGINT)")
    // three inserts, each a disjoint key slice (the time-ordered ingest
    // pattern): footer-derived stats land without any extra data pass
    Seq((0, 100), (100, 200), (200, 300)).foreach { case (lo, hi) =>
      (lo until hi).map(i => (i.toLong, i.toLong * 2)).toDF("id", "v")
        .createOrReplaceTempView("graft_fstats_src")
      spark.sql("INSERT INTO graftsnap.t_fstats SELECT * FROM graft_fstats_src")
    }
    val log = new SnapshotLog(s"$root/t_fstats")
    val cur = log.currentVersion.get
    val total = log.dataFiles(cur).size
    val firstInsertFiles = log.appendedFiles(1L).size
    // the first slice's keys plan over ONLY the first insert's files
    val narrow = spark.sql("SELECT v FROM graftsnap.t_fstats WHERE id < 100")
    assert(plannedFiles(narrow) == firstInsertFiles && firstInsertFiles < total,
      s"planned ${plannedFiles(narrow)}, first insert $firstInsertFiles, total $total")
    assert(narrow.count() == 100L)
    // stats really came from footers: the sidecar exists for each insert
    assert(log.fileStatsForColumn(spark, cur, "id").exists(_.size == total))
  }

  test("SQL equality on a categorical column skips files via value-set sidecars") {
    val log = freshLog("t_vskip")
    // cluster by category so each file carries one value set
    val rows = (0 until 300).map(i => (i.toLong, s"cat${i / 100}"))
    log.appendValueIndexed(
      rows.toDF("id", "cat").repartitionByRange(3, col("cat")).sortWithinPartitions(col("cat")),
      valueCols = Seq("cat"))
    registerCatalog()
    assert(plannedFiles(spark.sql("SELECT * FROM graftsnap.t_vskip")) == 3)
    val one = spark.sql("SELECT id FROM graftsnap.t_vskip WHERE cat = 'cat1'")
    assert(plannedFiles(one) == 1, s"got ${plannedFiles(one)}")
    assert(one.count() == 100L)
    val in2 = spark.sql("SELECT id FROM graftsnap.t_vskip WHERE cat IN ('cat0', 'cat2')")
    assert(plannedFiles(in2) == 2 && in2.count() == 200L)
    // an absent value plans an empty scan; correctness intact
    val none = spark.sql("SELECT * FROM graftsnap.t_vskip WHERE cat = 'nope'")
    assert(plannedFiles(none) == 0 && none.count() == 0L)
  }

  test("SQL DELETE routes through the copy-on-write delete; the table stays scan-clean") {
    val log = freshLog("t_del")
    val vA = log.append((0 until 20).map(i => (i.toLong, i.toLong)).toDF("id", "v"), partitions = 1)
    val fileA = log.dataFiles(vA).head
    log.append((20 until 40).map(i => (i.toLong, i.toLong)).toDF("id", "v"), partitions = 1)
    registerCatalog()
    val vBefore = log.currentVersion.get
    spark.sql("DELETE FROM graftsnap.t_del WHERE id < 5 OR id = 30")
    assert(log.currentVersion.get == vBefore + 1L, "DELETE is exactly one commit")
    assert(log.posDeleteFiles(log.currentVersion.get).isEmpty &&
      log.dvFiles(log.currentVersion.get).isEmpty, "copy-on-write leaves no masks")
    // the SQL read keeps working immediately — no compact step
    assert(spark.sql("SELECT count(*) AS n FROM graftsnap.t_del").head().getLong(0) == 34L)
    assert(spark.sql("SELECT count(*) AS n FROM graftsnap.t_del WHERE id < 5 OR id = 30")
      .head().getLong(0) == 0L)
    assert(!log.dataFiles(log.currentVersion.get).contains(fileA), "grazed file rewritten")
  }

  test("OPTIMIZE WHERE takes DATE literals and folds BETWEEN terms into the scope") {
    val log = freshLog("t_datescope")
    registerCatalog()
    spark.sql("DROP TABLE IF EXISTS graftsnap.t_datescope")
    spark.sql("CREATE TABLE graftsnap.t_datescope (id BIGINT, d DATE)")
    // three monthly two-file appends → three stage dirs with footer
    // DATE stats (the appendStrictStats SQL-INSERT machinery)
    Seq("2024-01", "2024-02", "2024-03").foreach { m =>
      log.appendStrictStats(
        spark.sql(s"SELECT id, DATE '$m-15' AS d FROM range(40)"), partitions = 2)
      ()
    }
    val before = log.dataFiles(log.currentVersion.get)
    assert(before.size == 6)
    // date-range scope: only the two March files satisfy d >= 2024-03-01
    val r = spark.sql("OPTIMIZE graftsnap.t_datescope " +
      "WHERE d >= DATE '2024-03-01' ZORDER BY (id)").head()
    assert(r.getString(1) == "zorder" && r.getInt(2) == 2,
      s"only the two March files are in scope, got $r")
    val after = log.dataFiles(log.currentVersion.get).toSet
    val rewritten = before.filterNot(after.contains)
    assert(rewritten.size == 2, s"exactly the March files rewrite, got $rewritten")
    val scoped = spark.read.parquet(
      (after -- before.toSet).map(p => s"$root/t_datescope/" + p).toSeq: _*)
    assert(scoped.count() == 40L &&
      scoped.where(col("d") =!= lit("2024-03-15").cast("date")).count() == 0L,
      "exactly the March rows were rewritten")
    assert(spark.sql("SELECT count(*) FROM graftsnap.t_datescope")
      .head().getLong(0) == 120L, "content untouched")
    // date BETWEEN narrows the same way
    val r2 = spark.sql("OPTIMIZE graftsnap.t_datescope " +
      "WHERE d BETWEEN DATE '2024-02-01' AND DATE '2024-02-28' ZORDER BY (id)")
      .head()
    assert(r2.getInt(2) == 2, s"only February in scope, got $r2")

    // integral BETWEEN folds into the interval scope (r14 dropped it —
    // a BETWEEN-only WHERE silently widened to the whole table)
    val blog = freshLog("t_betscope")
    (0 until 3).foreach { i =>
      blog.appendIndexed(
        (i * 100 until i * 100 + 100).map(j => (j.toLong, j.toLong))
          .toDF("id", "v").repartition(2),
        statsCols = Seq("id"))
      ()
    }
    val r3 = spark.sql("OPTIMIZE graftsnap.t_betscope " +
      "WHERE id BETWEEN 100 AND 150 ZORDER BY (id)").head()
    assert(r3.getInt(2) == 2,
      s"BETWEEN must scope to the one intersecting append (2 files), got $r3")
  }

  test("COPY INTO byte-sizes its staged output and scans the source exactly once") {
    registerCatalog()
    spark.sql("DROP TABLE IF EXISTS graftsnap.cpsz")
    spark.sql("CREATE TABLE graftsnap.cpsz (id BIGINT, v BIGINT)")
    val srcDir = tempRoot("graft_cpsz_")
    def drop(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      StreamingSessionize.writeOneFile(df, srcDir.resolve(name))
    (0 until 4).foreach(i => drop(
      spark.range(i * 200000, (i + 1) * 200000).selectExpr("id", "id * 2 AS v"),
      s"f$i.parquet"))
    val totalBytes = new java.io.File(srcDir.toString).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    // target a third of the source bytes → ceil gives 3-4 staged files,
    // never the fixed cap
    val target = totalBytes / 3
    spark.conf.set("spark.graft.optimize.maxFileSize", target.toString)
    // count ACTIONS whose plan scans the source directory: exactly one
    // (the staging write; the r14 shape ran a separate count() first)
    val srcTag = srcDir.getFileName.toString
    def scansSource(qe: org.apache.spark.sql.execution.QueryExecution): Boolean =
      qe.analyzed.collectFirst {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation
            if l.relation.isInstanceOf[
              org.apache.spark.sql.execution.datasources.HadoopFsRelation] &&
              l.relation.asInstanceOf[
                  org.apache.spark.sql.execution.datasources.HadoopFsRelation]
                .location.rootPaths.exists(_.toString.contains(srcTag)) => ()
      }.isDefined
    try {
      val (r, trace) = Trace.capture(spark)(spark.sql(
        s"COPY INTO graftsnap.cpsz FROM '$srcDir' FILEFORMAT = PARQUET").head())
      assert(r.getInt(0) == 4 && r.getLong(1) == 800000L, r.toString)
      val log = new SnapshotLog(s"$root/cpsz")
      val staged = log.appendedFiles(log.currentVersion.get)
      val expected = ((totalBytes + target - 1) / target).toInt
      assert(staged.size == expected,
        s"staged ${staged.size} files, expected ceil(bytes/target) = $expected")
      val scans = trace.statements.count(st => scansSource(st.qe))
      assert(scans == 1,
        s"the source must be scanned exactly once, saw $scans " +
          "source-scanning actions (count+write would be two)")
    } finally spark.conf.unset("spark.graft.optimize.maxFileSize")
  }

  test("generated/identity columns: CREATE-time-fixed, guarded against rename/CTAS, watermark survives reopen") {
    registerCatalog()
    spark.sql("DROP TABLE IF EXISTS graftsnap.genid")
    spark.sql("""CREATE TABLE graftsnap.genid (id BIGINT, k BIGINT, b BIGINT)
                |TBLPROPERTIES ('identity.id' = '10,2', 'generate.b' = 'k % 3')
                |""".stripMargin)
    spark.sql("INSERT INTO graftsnap.genid " +
      "SELECT CAST(NULL AS BIGINT), id, CAST(NULL AS BIGINT) FROM range(5)")
    // start=10, step=2 → ids {10,12,14,16,18}; b computed as k % 3
    val log = new SnapshotLog(s"$root/genid")
    val got = log.readLatest(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).sorted.toSeq == Seq(10L, 12L, 14L, 16L, 18L), got.mkString(","))
    assert(got.forall { case (_, k, b) => b == k % 3 })
    // the watermark persists: a second insert (fresh catalog load)
    // continues above it
    spark.sql("INSERT INTO graftsnap.genid " +
      "SELECT CAST(NULL AS BIGINT), id + 100, CAST(NULL AS BIGINT) FROM range(2)")
    val ids2 = log.readLatest(spark).select("id").as[Long].collect().sorted.toSeq
    assert(ids2 == Seq(10L, 12L, 14L, 16L, 18L, 20L, 22L), ids2.mkString(","))
    // renaming a column a generated expression reads — or the identity
    // column itself — refuses (CREATE-time-fixed semantics)
    def refuses(sql: String, needle: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains(needle))),
        s"expected '$needle' in: ${e.getMessage}")
    }
    refuses("ALTER TABLE graftsnap.genid RENAME COLUMN k TO kk",
      "generated column b")
    refuses("ALTER TABLE graftsnap.genid RENAME COLUMN id TO id2",
      "identity column")
    // INSERT OVERWRITE on an identity table refuses (would reset ids)
    intercept[Exception] {
      spark.sql("INSERT OVERWRITE graftsnap.genid " +
        "SELECT CAST(NULL AS BIGINT), id, CAST(NULL AS BIGINT) FROM range(1)")
    }
    // CTAS cannot mint identity/generated tables (the staged write
    // bypasses the column-minting insert path)
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE graftsnap.genid2 " +
        "TBLPROPERTIES ('identity.id' = '1') AS SELECT 1L AS id, 2L AS k")
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("CTAS"))), e.getMessage)
    // identity ids are engine-owned: UPDATE cannot assign them, and
    // MERGE cannot insert (no minting on that path)
    refuses("UPDATE graftsnap.genid SET id = 1 WHERE k = 100",
      "GENERATED ALWAYS AS")
    spark.sql("SELECT 999L AS id, 999L AS k, 0L AS b")
      .createOrReplaceTempView("genid_merge_src")
    refuses("MERGE INTO graftsnap.genid t USING genid_merge_src s ON t.id = s.id " +
      "WHEN NOT MATCHED THEN INSERT *", "cannot mint")
    spark.sql("DROP TABLE IF EXISTS graftsnap.genid")
  }

  test("table_changes TVF: version and timestamp windows compose with SQL; generated refs guard at CREATE") {
    registerCatalog()
    spark.sql("DROP TABLE IF EXISTS graftsnap.t_tvf")
    spark.sql("CREATE TABLE graftsnap.t_tvf (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graftsnap.t_tvf SELECT id, id FROM range(5)") // v1
    Thread.sleep(15)
    val cut = new java.sql.Timestamp(System.currentTimeMillis()).toString
    Thread.sleep(15)
    spark.sql("INSERT INTO graftsnap.t_tvf SELECT id + 10, id FROM range(3)") // v2
    assert(spark.sql(
      "SELECT count(*) AS n FROM table_changes('graftsnap.t_tvf', 1)")
      .head().getLong(0) == 8L, "open-ended window = both inserts")
    assert(spark.sql(
      "SELECT count(*) AS n FROM table_changes('graftsnap.t_tvf', 2, 2)")
      .head().getLong(0) == 3L, "pinned window = v2 only")
    assert(spark.sql(
      s"SELECT count(*) AS n FROM table_changes('graftsnap.t_tvf', '$cut')")
      .head().getLong(0) == 3L, "timestamp start = changes since the cut")
    assert(spark.sql(
      "SELECT CAST(sum(id) AS BIGINT) AS s FROM " +
        "table_changes('graftsnap.t_tvf', 1) WHERE _change_type = 'insert'")
      .head().getLong(0) == (0L until 5L).sum + (10L until 13L).sum,
      "the spliced feed composes with filters/aggregates above")
    spark.sql("DROP TABLE IF EXISTS graftsnap.t_tvf")
    // a generated expression reading another engine-owned column refuses
    val e = intercept[Exception](spark.sql(
      "CREATE TABLE graftsnap.t_genref (a BIGINT, b BIGINT, c BIGINT) " +
        "TBLPROPERTIES ('generate.b' = 'a % 2', 'generate.c' = 'b + 1')"))
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("engine-owned"))),
      e.getMessage)
    assert(!spark.sql("SHOW TABLES IN graftsnap").collect()
      .map(_.getString(1)).contains("t_genref"),
      "a refused CREATE must leave no table")
    // refusal contracts: malformed timestamps and non-version literals
    // refuse loudly with the real reason (never a silent wider window)
    spark.sql("DROP TABLE IF EXISTS graftsnap.t_tvfg")
    spark.sql("CREATE TABLE graftsnap.t_tvfg (id BIGINT)")
    spark.sql("INSERT INTO graftsnap.t_tvfg SELECT id FROM range(3)")
    def tvfRefuses(sql: String, needle: String): Unit = {
      val ex = intercept[Exception](spark.sql(sql).collect())
      assert(Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains(needle))),
        s"expected '$needle' in: ${ex.getMessage}")
    }
    tvfRefuses("SELECT * FROM table_changes('graftsnap.t_tvfg', 'not-a-time')",
      "neither a tag name nor a parseable timestamp")
    tvfRefuses("SELECT * FROM table_changes('graftsnap.t_tvfg', 1, 2.5)",
      "integer literals or timestamp strings")
    // a start timestamp PAST the latest commit refuses with the real
    // reason (previously the TVF was left unspliced — a baffling
    // unresolved-function error)
    tvfRefuses("SELECT * FROM table_changes('graftsnap.t_tvfg', '2099-01-01')",
      "after the latest commit")
    // and the from-the-beginning window serves v0's initial listing
    assert(spark.sql(
      "SELECT count(*) AS n FROM table_changes('graftsnap.t_tvfg', 0)")
      .head().getLong(0) == 3L)
    // TAG NAMES resolve as TVF bounds — the VERSION AS OF 'tag' symmetry
    val tlog = new SnapshotLog(s"$root/t_tvfg")
    assert(tlog.tag("start", 0L) && tlog.tag("cut", 1L))
    spark.sql("INSERT INTO graftsnap.t_tvfg SELECT id + 10 FROM range(2)") // v2
    assert(spark.sql(
      "SELECT count(*) AS n FROM table_changes('graftsnap.t_tvfg', 'start', 'cut')")
      .head().getLong(0) == 3L, "tag-to-tag window = v0 through the cut")
    assert(spark.sql(
      "SELECT count(*) AS n FROM table_changes('graftsnap.t_tvfg', 'cut')")
      .head().getLong(0) == 5L,
      "tag start behaves exactly like its version: inclusive")
    spark.sql("DROP TABLE IF EXISTS graftsnap.t_tvfg"); ()
  }

  test("OPTIMIZE rebuilds bloomBy sidecars over the rewritten files; ALTER enables the index post-hoc") {
    registerCatalog()
    spark.sql("DROP TABLE IF EXISTS graftsnap.blmopt")
    spark.sql("CREATE TABLE graftsnap.blmopt (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graftsnap.blmopt SELECT id, id * 7 FROM range(0, 20000)")
    // post-hoc enablement: the pre-existing files stay filterless
    // (conservative) until a rewrite; writes from here on get filters
    spark.sql("ALTER TABLE graftsnap.blmopt SET TBLPROPERTIES ('bloomBy' = 'k')")
    spark.sql("INSERT INTO graftsnap.blmopt SELECT id, id * 7 FROM range(20000, 40000)")
    val log = new SnapshotLog(s"$root/blmopt")
    spark.conf.set("spark.graft.optimize.maxFileSize", "65536")
    try {
      spark.sql("OPTIMIZE graftsnap.blmopt")
      val cur = log.currentVersion.get
      val probe = log.fileBloomProbe(spark, cur, "k", Seq("5"))
      assert(probe.isDefined, "rewritten files must carry rebuilt bloom filters")
      val all = log.dataFiles(cur)
        .map(p => new java.io.File(s"$root/blmopt", p).getCanonicalPath).toSet
      assert(all.subsetOf(probe.get.keySet),
        s"every post-OPTIMIZE file needs a filter: ${all -- probe.get.keySet}")
      // and the point-lookup skip still fires on the packed layout
      val (pruned, (opened, total)) = log.readWhere(spark, cur, col("k") === 5L)
      assert(pruned.count() == 1L && total >= 2 && opened < total,
        s"expected a live skip, got $opened/$total")
    } finally {
      spark.conf.unset("spark.graft.optimize.maxFileSize")
      spark.sql("DROP TABLE IF EXISTS graftsnap.blmopt"); ()
    }
  }

  test("table_changes serves column-mapped tables under LOGICAL names") {
    registerCatalog()
    spark.sql("DROP TABLE IF EXISTS graftsnap.t_tvfm")
    spark.sql("CREATE TABLE graftsnap.t_tvfm (id BIGINT, cents BIGINT)")
    spark.sql("INSERT INTO graftsnap.t_tvfm SELECT id, id * 7 FROM range(4)") // v1
    spark.sql("ALTER TABLE graftsnap.t_tvfm RENAME COLUMN cents TO pennies") // v2
    spark.sql("INSERT INTO graftsnap.t_tvfm SELECT id + 10, id FROM range(2)") // v3
    // a post-rename window serves the LOGICAL name `pennies`
    val feed = spark.sql(
      "SELECT id, pennies, _change_type FROM table_changes('graftsnap.t_tvfm', 3)")
    assert(feed.columns.toSeq == Seq("id", "pennies", "_change_type"))
    assert(feed.count() == 2L)
    // a window STRADDLING the rename refuses (one feed cannot mix namings)
    val e = intercept[Exception](spark.sql(
      "SELECT * FROM table_changes('graftsnap.t_tvfm', 1)").collect())
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("mapping moves inside"))),
      e.getMessage)
    spark.sql("DROP TABLE IF EXISTS graftsnap.t_tvfm"); ()
  }

  test("VERSION AS OF takes tag names in RESTORE and CLONE — the ref-read symmetry") {
    registerCatalog()
    spark.sql("DROP TABLE IF EXISTS graftsnap.rtag_c")
    spark.sql("DROP TABLE IF EXISTS graftsnap.rtag")
    spark.sql("CREATE TABLE graftsnap.rtag (k BIGINT)")
    spark.sql("INSERT INTO graftsnap.rtag SELECT id FROM range(5)") // v1
    val log = new SnapshotLog(s"$root/rtag")
    assert(log.tag("stable", log.currentVersion.get))
    spark.sql("INSERT INTO graftsnap.rtag SELECT id + 10 FROM range(3)") // v2
    // deep CLONE pinned by tag
    spark.sql("CREATE TABLE graftsnap.rtag_c CLONE graftsnap.rtag VERSION AS OF 'stable'")
    assert(spark.sql("SELECT count(*) AS n FROM graftsnap.rtag_c")
      .head().getLong(0) == 5L)
    // RESTORE by tag
    val r = spark.sql("RESTORE TABLE graftsnap.rtag TO VERSION AS OF 'stable'").head()
    assert(r.getLong(0) == log.tagVersion("stable"))
    assert(spark.sql("SELECT count(*) AS n FROM graftsnap.rtag")
      .head().getLong(0) == 5L)
    // unknown tags refuse loudly
    val e = intercept[Exception](
      spark.sql("RESTORE TABLE graftsnap.rtag TO VERSION AS OF 'ghost'").collect())
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("does not exist"))),
      e.getMessage)
    spark.sql("DROP TABLE IF EXISTS graftsnap.rtag_c")
    spark.sql("DROP TABLE IF EXISTS graftsnap.rtag"); ()
  }

  test("REPLACE WHERE: parse-based subquery guard, stats-pruned discovery, byte-sized writes") {
    registerCatalog()
    spark.sql("DROP TABLE IF EXISTS graftsnap.rwsql")
    spark.sql("CREATE TABLE graftsnap.rwsql (k BIGINT, note STRING, v BIGINT)")
    spark.sql(
      "INSERT INTO graftsnap.rwsql SELECT id, concat('n-', id), id * 3 " +
        "FROM range(0, 30000)")
    val log = new SnapshotLog(s"$root/rwsql")
    // range-cluster so the footer stats give disjoint per-file k ranges
    spark.conf.set("spark.graft.optimize.maxFileSize", "65536")
    try {
      spark.sql("OPTIMIZE graftsnap.rwsql ZORDER BY (k)")
      val filesBefore = log.dataFiles(log.currentVersion.get).toSet
      assert(filesBefore.size >= 4, s"need a multi-file layout, got $filesBefore")
      val (_, trace) = Trace.capture(spark)(spark.sql(
        "INSERT INTO graftsnap.rwsql REPLACE WHERE k < 1000 " +
          "SELECT id AS k, concat('n-', id) AS note, id * 5 AS v " +
          "FROM range(0, 1000)"))
      // the discovery scan was stats-pruned: only the files whose [lo, hi]
      // intersects k < 1000 were read — out-of-scope files never opened
      val grazed = filesBefore -- log.dataFiles(log.currentVersion.get)
      val read = TraceSpec.filesRead(trace, filesBefore)
      assert(read.nonEmpty && read.subsetOf(grazed) && grazed.size < filesBefore.size,
        s"read $read of ${filesBefore.size} files, grazed $grazed")
      assert(spark.sql(
        "SELECT sum(v) AS sv FROM graftsnap.rwsql WHERE k < 1000").head().getLong(0) ==
        (0L until 1000L).map(_ * 5).sum)
      // a predicate whose string literal merely SAYS select still parses
      spark.sql(
        "INSERT INTO graftsnap.rwsql REPLACE WHERE note = 'select' " +
          "SELECT id AS k, 'x' AS note, id AS v FROM range(0, 1) WHERE false")
      // a REAL subquery predicate refuses loudly (never a misparse)
      val e = intercept[Exception] {
        spark.sql(
          "INSERT INTO graftsnap.rwsql REPLACE WHERE k IN (SELECT 1) " +
            "SELECT id AS k, concat('n-', id) AS note, id AS v FROM range(0, 1)")
      }
      assert(Option(e.getMessage).exists(m =>
          m.contains("subqueries are not supported")),
        s"expected the subquery refusal, got: ${e.getMessage}")
    } finally {
      spark.conf.unset("spark.graft.optimize.maxFileSize")
      spark.sql("DROP TABLE IF EXISTS graftsnap.rwsql"); ()
    }
  }
}
