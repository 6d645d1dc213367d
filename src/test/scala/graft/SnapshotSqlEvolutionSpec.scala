package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftCatalog, SnapshotLog}

/** SQL-first schema evolution and atomic CTAS over snapshot-log tables
  * ([[GraftCatalog]]): `ALTER TABLE … RENAME COLUMN` / `ALTER COLUMN …
  * TYPE` as metadata-only commits under column mapping (the table
  * auto-upgrades on first use), mapped tables still fully SQL-readable
  * through the name-translating scan; `CREATE TABLE … AS SELECT` staged
  * and published as ONE commit so a crashed CTAS leaves no table; the
  * `clusterBy` property as OPTIMIZE's default keys.
  */
class SnapshotSqlEvolutionSpec extends AnyFunSuite with TempRoots {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val root = s"${GraftSession.target}/snapsql_evo_spec"

  private def register(): Unit = {
    GraftCatalog.mount(spark, "graftevo", root)
  }

  private def logOf(table: String) = new SnapshotLog(s"$root/$table")

  test("RENAME COLUMN is metadata-only; mapped reads translate, time travel keeps vintages") {
    register()
    spark.sql("DROP TABLE IF EXISTS graftevo.ren")
    spark.sql("CREATE TABLE graftevo.ren (k BIGINT, status STRING, cents BIGINT)")
    (0 until 20).map(i => (i.toLong, s"s${i % 3}", i * 10L))
      .toDF("k", "status", "cents").createOrReplaceTempView("ren_src")
    spark.sql("INSERT INTO graftevo.ren SELECT * FROM ren_src WHERE k < 10")
    val log = logOf("ren")
    val vPre = log.currentVersion.get
    val filesPre = log.dataFiles(vPre)
    spark.sql("ALTER TABLE graftevo.ren RENAME COLUMN status TO prio")
    // auto-upgrade to mapping (1 commit) + the rename (1 commit), zero
    // data files touched
    val vPost = log.currentVersion.get
    assert(vPost == vPre + 2L && log.dataFiles(vPost) == filesPre,
      "rename must be metadata-only commits")
    // the renamed column reads through SQL — old files under the new name
    assert(spark.sql("SELECT count(*) AS n FROM graftevo.ren WHERE prio = 's1'")
      .head().getLong(0) == 3L)
    // the OLD name is gone from the current schema
    val gone = intercept[Exception] {
      spark.sql("SELECT status FROM graftevo.ren").collect()
    }
    assert(gone.getMessage.contains("status"))
    // post-rename INSERT lands in the SAME physical column as old files
    spark.sql("INSERT INTO graftevo.ren SELECT k, status AS prio, cents " +
      "FROM ren_src WHERE k >= 10")
    assert(spark.sql("SELECT count(*) AS n FROM graftevo.ren WHERE prio = 's1'")
      .head().getLong(0) == 7L)
    assert(spark.sql("SELECT sum(cents) AS s FROM graftevo.ren").head().getLong(0) ==
      (0 until 20).map(_ * 10L).sum)
    // time travel to the pre-rename vintage serves the OLD name
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graftevo.ren VERSION AS OF $vPre WHERE status = 's1'")
      .head().getLong(0) == 3L)
    // filter pushdown still reaches parquet on the mapped scan
    val plan = spark.sql("SELECT k FROM graftevo.ren WHERE k >= 5")
      .queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(k,5)"), s"filter not pushed:\n$plan")
  }

  test("RENAME COLUMN on an empty declared table rewrites the schema, no mapping") {
    register()
    spark.sql("DROP TABLE IF EXISTS graftevo.ren_empty")
    spark.sql("CREATE TABLE graftevo.ren_empty (a BIGINT, b STRING)")
    spark.sql("ALTER TABLE graftevo.ren_empty RENAME COLUMN a TO a2")
    val log = logOf("ren_empty")
    assert(log.columnMapping(log.currentVersion.get).isEmpty,
      "empty-table rename must not upgrade to mapping")
    assert(spark.table("graftevo.ren_empty").columns.toSeq == Seq("a2", "b"))
    spark.sql("INSERT INTO graftevo.ren_empty VALUES (1, 'x')")
    assert(spark.sql("SELECT a2 FROM graftevo.ren_empty").head().getLong(0) == 1L)
  }

  test("ALTER COLUMN TYPE widens losslessly; lossy retypes refuse; old files promote") {
    register()
    spark.sql("DROP TABLE IF EXISTS graftevo.wid")
    spark.sql("CREATE TABLE graftevo.wid (k INT, cents BIGINT)")
    spark.sql("INSERT INTO graftevo.wid SELECT CAST(id AS INT) AS k, id * 10 AS cents " +
      "FROM range(10)")
    val log = logOf("wid")
    val filesPre = log.dataFiles(log.currentVersion.get)
    spark.sql("ALTER TABLE graftevo.wid ALTER COLUMN k TYPE BIGINT")
    assert(log.dataFiles(log.currentVersion.get) == filesPre,
      "widen must be metadata-only")
    // the widened table declares BIGINT and serves 64-bit values from
    // new files while promoting the old INT32 files in place
    assert(spark.table("graftevo.wid").schema("k").dataType ==
      org.apache.spark.sql.types.LongType)
    spark.sql("INSERT INTO graftevo.wid VALUES (3000000000, 77)")
    val out = spark.sql(
      "SELECT count(*) AS n, sum(k) AS sk FROM graftevo.wid").head()
    assert(out.getLong(0) == 11L && out.getLong(1) == (0 until 10).sum + 3000000000L)
    assert(spark.sql("SELECT k FROM graftevo.wid WHERE k > 100").head().getLong(0) ==
      3000000000L)
    // LOSSY retypes refuse loudly. A NARROWING (bigint→int) dies in
    // Spark's own analyzer (canUpCast) before reaching the catalog;
    // bigint→double is an "up-cast" to Spark but LOSES precision past
    // 2^53 — the engine's lossless allow-list catches that one.
    val narrow = intercept[Exception] {
      spark.sql("ALTER TABLE graftevo.wid ALTER COLUMN cents TYPE INT")
    }
    assert(narrow.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"), narrow.getMessage)
    val lossy = intercept[Exception] {
      spark.sql("ALTER TABLE graftevo.wid ALTER COLUMN cents TYPE DOUBLE")
    }
    assert(lossy.getMessage.contains("lossless"), lossy.getMessage)
  }

  test("a declared-but-unbackfilled column blocks the mapping upgrade loudly") {
    register()
    spark.sql("DROP TABLE IF EXISTS graftevo.ghost")
    spark.sql("CREATE TABLE graftevo.ghost (a BIGINT, b STRING)")
    spark.sql("INSERT INTO graftevo.ghost VALUES (1, 'x')")
    spark.sql("ALTER TABLE graftevo.ghost ADD COLUMNS (c BIGINT)")
    val ex = intercept[Exception] {
      spark.sql("ALTER TABLE graftevo.ghost RENAME COLUMN a TO a2")
    }
    assert(ex.getMessage.contains("no physical data"), ex.getMessage)
  }

  test("CTAS is atomic: one v0 commit with schema+data; a failed CTAS leaves NO table") {
    register()
    spark.sql("DROP TABLE IF EXISTS graftevo.ctas_ok")
    spark.sql("CREATE TABLE graftevo.ctas_ok AS SELECT id AS k, id * 2 AS v FROM range(50)")
    val log = logOf("ctas_ok")
    // schema AND data land in the SINGLE v0 commit — no empty husk ever
    assert(log.currentVersion.contains(0L), "CTAS must publish exactly one commit")
    assert(log.declaredSchema(0L).isDefined && log.dataFiles(0L).nonEmpty)
    assert(spark.sql("SELECT count(*) AS n, sum(v) AS sv FROM graftevo.ctas_ok")
      .head().toSeq == Seq(50L, (0 until 50).map(_ * 2L).sum))
    // a CTAS whose SELECT dies mid-write publishes NOTHING: no table, no
    // directory — tableExists stays false throughout
    spark.sql("DROP TABLE IF EXISTS graftevo.ctas_boom")
    val boom = intercept[Exception] {
      spark.sql("CREATE TABLE graftevo.ctas_boom AS " +
        "SELECT id, CAST(1 AS INT) / (CAST(id AS INT) - 5) AS bad FROM range(10)")
    }
    assert(boom != null)
    assert(spark.sql("SHOW TABLES IN graftevo").collect()
      .forall(_.getString(1) != "ctas_boom"), "a crashed CTAS must leave no table")
    assert(!new java.io.File(s"$root/ctas_boom/_log").exists())
    val noTable = intercept[Exception] {
      spark.sql("SELECT * FROM graftevo.ctas_boom").collect()
    }
    assert(noTable.getMessage.toLowerCase.contains("table"))
  }

  test("REPLACE TABLE AS SELECT publishes atomically; old versions time-travel") {
    register()
    spark.sql("DROP TABLE IF EXISTS graftevo.rtas")
    spark.sql("CREATE TABLE graftevo.rtas AS SELECT id AS k FROM range(10)")
    val log = logOf("rtas")
    val v0 = log.currentVersion.get
    spark.sql("REPLACE TABLE graftevo.rtas AS SELECT id AS k2, id * 3 AS w FROM range(5)")
    assert(log.currentVersion.contains(v0 + 1L), "replace is exactly one commit")
    assert(spark.table("graftevo.rtas").columns.toSeq == Seq("k2", "w"))
    assert(spark.sql("SELECT sum(w) AS s FROM graftevo.rtas").head().getLong(0) ==
      (0 until 5).map(_ * 3L).sum)
    assert(spark.sql(s"SELECT count(*) AS n FROM graftevo.rtas VERSION AS OF $v0")
      .head().getLong(0) == 10L)
  }

  test("clusterBy property drives a bare OPTIMIZE; skipping works on the declared keys") {
    register()
    spark.sql("DROP TABLE IF EXISTS graftevo.clu")
    spark.sql("CREATE TABLE graftevo.clu (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('clusterBy' = 'k')")
    val log = logOf("clu")
    assert(log.property(log.currentVersion.get, "clusterBy").contains("k"))
    // unsorted small appends — the state OPTIMIZE exists to fix
    (0 until 4).foreach { i =>
      spark.sql(s"INSERT INTO graftevo.clu SELECT id * 4 + $i AS k, id AS v FROM range(250)")
    }
    // small target file size: the byte-sized output partitioning must
    // still yield several files at test scale for the skipping probe
    spark.conf.set("spark.graft.optimize.maxFileSize", "4096")
    val receipt =
      try spark.sql("OPTIMIZE graftevo.clu").head()
      finally spark.conf.unset("spark.graft.optimize.maxFileSize")
    assert(receipt.getString(1) == "cluster_by", receipt.toString)
    // the clustered scan skips files on a k-range predicate
    val q = spark.sql("SELECT sum(v) AS s FROM graftevo.clu WHERE k BETWEEN 0 AND 99")
    val planned = QueriesEtl.scanFiles(q.queryExecution.executedPlan).getOrElse(-1)
    val total = log.dataFiles(log.currentVersion.get).size
    assert(planned >= 1 && planned < total,
      s"expected manifest-level skipping after OPTIMIZE: planned $planned of $total")
    // content untouched by the rewrite
    assert(spark.sql("SELECT count(*) AS n FROM graftevo.clu").head().getLong(0) == 1000L)
    // SET TBLPROPERTIES re-declares the keys, and SHOW TBLPROPERTIES
    // serves them from the log's own metadata
    spark.sql("ALTER TABLE graftevo.clu SET TBLPROPERTIES ('clusterBy' = 'v')")
    assert(log.property(log.currentVersion.get, "clusterBy").contains("v"))
    val shown = spark.sql("SHOW TBLPROPERTIES graftevo.clu").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(shown.get("clusterBy").contains("v"), shown.toString)
    // DESCRIBE DETAIL: one metadata-only summary row
    val det = spark.sql("DESCRIBE DETAIL graftevo.clu").head()
    assert(det.getString(0) == "graft" && det.getString(1) == "graftevo.clu")
    assert(det.getLong(2) == log.currentVersion.get)
    assert(det.getInt(4) == log.dataFiles(log.currentVersion.get).size)
    assert(det.getLong(6) > 0L, "size_bytes from the manifest listing")
    assert(det.getString(7) == "v" && !det.getBoolean(8) && det.getBoolean(9))
  }

  test("bare OPTIMIZE is incremental after the first pass; WHERE scopes the rewrite") {
    register()
    spark.sql("DROP TABLE IF EXISTS graftevo.incr")
    spark.sql("CREATE TABLE graftevo.incr (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('clusterBy' = 'k')")
    (0 until 3).foreach { i =>
      spark.sql(s"INSERT INTO graftevo.incr SELECT id * 3 + $i AS k, id AS v FROM range(200)")
    }
    val log = logOf("incr")
    spark.conf.set("spark.graft.optimize.maxFileSize", "4096")
    try {
      // first bare OPTIMIZE: no lastopt — full rewrite
      val r1 = spark.sql("OPTIMIZE graftevo.incr").head()
      assert(r1.getString(1) == "cluster_by", r1.toString)
      val clustered = log.dataFiles(log.currentVersion.get).toSet
      assert(clustered.size > 1, "byte-sized partitioning yields several files")
      // steady-state tick: small append + bare OPTIMIZE → only the tail
      // is rewritten; every clustered file carried byte-identical
      spark.sql("INSERT INTO graftevo.incr SELECT id + 600 AS k, id AS v FROM range(50)")
      val tail = log.dataFiles(log.currentVersion.get).filterNot(clustered)
      val r2 = spark.sql("OPTIMIZE graftevo.incr").head()
      assert(r2.getString(1) == "cluster_by" && r2.getInt(2) == tail.size,
        s"expected the tail (${tail.size}) rewritten, got $r2")
      val after = log.dataFiles(log.currentVersion.get).toSet
      assert(clustered.subsetOf(after), "clustered files carried byte-identical")
      // explicit ZORDER stays the full rewrite (the user asked for it)
      val r3 = spark.sql("OPTIMIZE graftevo.incr ZORDER BY (k)").head()
      assert(r3.getString(1) == "zorder")
      assert(log.dataFiles(log.currentVersion.get).toSet.intersect(after).isEmpty,
        "ZORDER re-clusters everything")
      // OPTIMIZE WHERE: only files whose stats range intersects rewrite
      spark.sql("INSERT INTO graftevo.incr SELECT id + 5000 AS k, id AS v FROM range(50)")
      spark.sql("INSERT INTO graftevo.incr SELECT id + 9000 AS k, id AS v FROM range(50)")
      val canonRoot = new java.io.File(log.root).getCanonicalPath
      val preScoped = log.dataFiles(log.currentVersion.get).size
      val zClustered = log.fileStatsForColumn(spark, log.currentVersion.get, "k")
        .get.collect { case (abs, (lo, _)) if lo < 5000L =>
          abs.stripPrefix(canonRoot + "/") }.toSet
      val r4 = spark.sql("OPTIMIZE graftevo.incr WHERE k >= 5000").head()
      assert(r4.getString(1) == "cluster_by" &&
        r4.getInt(2) == preScoped - zClustered.size, r4.toString)
      val after4 = log.dataFiles(log.currentVersion.get).toSet
      assert(zClustered.subsetOf(after4),
        "out-of-scope files carried byte-identical under WHERE")
      // IN is a bound the file-skipping rule reads: it scopes the rewrite
      val preIn = log.dataFiles(log.currentVersion.get)
      val inScope =
        log.statsCandidateFiles(spark, log.currentVersion.get, expr("k IN (1, 598)")).toSet
      val rIn = spark.sql("OPTIMIZE graftevo.incr WHERE k IN (1, 598) ZORDER BY (k)").head()
      assert(rIn.getString(1) == "zorder" && rIn.getInt(2) == inScope.size &&
        inScope.size >= 2 && inScope.size < preIn.size, s"$rIn over ${preIn.size} files")
      assert(preIn.filterNot(inScope).toSet.subsetOf(log.dataFiles(log.currentVersion.get).toSet),
        "out-of-scope files carried byte-identical under WHERE … IN")
      // content never changes across any route
      assert(spark.sql("SELECT count(*) AS n, sum(v) AS s FROM graftevo.incr")
        .head().toSeq == Seq(750L, (0 until 200).map(_.toLong).sum * 3 +
          (0 until 50).map(_.toLong).sum * 3))
      // a conjunct the rule cannot read refuses loudly
      val ex = intercept[Exception] {
        spark.sql("OPTIMIZE graftevo.incr WHERE k % 2 = 0")
      }
      assert(ex.getMessage.contains("file-stats range"), ex.getMessage)
    } finally spark.conf.unset("spark.graft.optimize.maxFileSize")
  }

  test("SQL CHECK constraints gate INSERTs; DROP CONSTRAINT lifts the gate") {
    register()
    spark.sql("DROP TABLE IF EXISTS graftevo.chk")
    spark.sql("CREATE TABLE graftevo.chk (k BIGINT, cents BIGINT)")
    spark.sql("INSERT INTO graftevo.chk VALUES (1, 10)")
    spark.sql("ALTER TABLE graftevo.chk ADD CONSTRAINT cents_nonneg CHECK (cents >= 0)")
    val log = logOf("chk")
    assert(log.property(log.currentVersion.get, "check.cents_nonneg")
      .exists(_.contains("cents")), "constraint stored in the log metadata")
    // a violating batch fails the WRITE JOB — nothing commits
    val vPre = log.currentVersion.get
    val bad = intercept[Exception] {
      spark.sql("INSERT INTO graftevo.chk VALUES (2, -5)")
    }
    assert(bad.getMessage.contains("cents_nonneg") ||
      bad.getMessage.contains("CHECK_CONSTRAINT") ||
      bad.getMessage.toLowerCase.contains("constraint"), bad.getMessage)
    assert(log.currentVersion.contains(vPre), "violating INSERT must not commit")
    // a clean batch passes
    spark.sql("INSERT INTO graftevo.chk VALUES (3, 30)")
    assert(spark.sql("SELECT count(*) AS n FROM graftevo.chk").head().getLong(0) == 2L)
    // DROP CONSTRAINT lifts the gate (one metadata commit)
    spark.sql("ALTER TABLE graftevo.chk DROP CONSTRAINT cents_nonneg")
    spark.sql("INSERT INTO graftevo.chk VALUES (4, -1)")
    assert(spark.sql("SELECT count(*) AS n FROM graftevo.chk WHERE cents < 0")
      .head().getLong(0) == 1L)
    // unknown names refuse unless IF EXISTS
    val unknown = intercept[Exception] {
      spark.sql("ALTER TABLE graftevo.chk DROP CONSTRAINT nope")
    }
    assert(unknown.getMessage.contains("nope"), unknown.getMessage)
    // SQL UPDATE enforces the stored checks on the UPDATED rows too
    // (the DML interpreter bypasses Spark's INSERT-plan gate, so the
    // guard rides the staged write)
    spark.sql("ALTER TABLE graftevo.chk ADD CONSTRAINT cents_small CHECK (cents < 1000)")
    val log2 = logOf("chk")
    val vU = log2.currentVersion.get
    val updBad = intercept[Exception] {
      spark.sql("UPDATE graftevo.chk SET cents = cents + 100000 WHERE k = 3")
    }
    def mentions(t: Throwable, s: String): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains(s)) || mentions(t.getCause, s))
    assert(mentions(updBad, "cents_small"), updBad.getMessage)
    assert(log2.currentVersion.contains(vU), "violating UPDATE must not commit")
    spark.sql("UPDATE graftevo.chk SET cents = cents + 1 WHERE k = 3")
    // post-update reads go through the API (the UPDATE is merge-on-read;
    // raw SQL scans refuse outstanding masks by design)
    assert(log2.readLatest(spark).where(col("k") === 3)
      .head().getLong(1) == 31L)
    // MERGE enforces the stored checks on exactly the row images it
    // WRITES (updated + inserted) — the raise_error guard rides the
    // merge's one-evaluation staged scan, so a violating matched-UPDATE
    // fails the write job with nothing committed
    spark.sql("SELECT CAST(3 AS BIGINT) AS k, CAST(100000 AS BIGINT) AS cents")
      .createOrReplaceTempView("chk_merge_bad")
    val vM = log2.currentVersion.get
    val mergeBad = intercept[Exception] {
      spark.sql("MERGE INTO graftevo.chk t USING chk_merge_bad s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET t.cents = s.cents")
    }
    assert(mentions(mergeBad, "cents_small"), mergeBad.getMessage)
    assert(log2.currentVersion.contains(vM), "violating MERGE must not commit")
    // a clean MERGE upserts through the same gate
    spark.sql("SELECT CAST(3 AS BIGINT) AS k, CAST(900 AS BIGINT) AS cents " +
      "UNION ALL SELECT CAST(99 AS BIGINT), CAST(500 AS BIGINT)")
      .createOrReplaceTempView("chk_merge_src")
    spark.sql("MERGE INTO graftevo.chk t USING chk_merge_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET t.cents = s.cents " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(log2.readLatest(spark).where(col("k") === 3).head().getLong(1) == 900L)
    assert(log2.readLatest(spark).where(col("k") === 99).head().getLong(1) == 500L)
    // a violating INSERT image through MERGE fails too (the guard covers
    // both written-row classes)
    spark.sql("SELECT CAST(77 AS BIGINT) AS k, CAST(100000 AS BIGINT) AS cents")
      .createOrReplaceTempView("chk_merge_badins")
    val vI = log2.currentVersion.get
    val insBad = intercept[Exception] {
      spark.sql("MERGE INTO graftevo.chk t USING chk_merge_badins s ON t.k = s.k " +
        "WHEN NOT MATCHED THEN INSERT *")
    }
    assert(mentions(insBad, "cents_small"), insBad.getMessage)
    assert(log2.currentVersion.contains(vI), "violating MERGE-INSERT must not commit")
    // ADD CONSTRAINT validates EXISTING rows before certifying (one
    // scan, the Delta discipline) — history that violates refuses; the
    // table still holds k=4, cents=-1 from the post-DROP insert above.
    // (compact away the UPDATE's merge-on-read masks first — the SQL
    // surface refuses masked snapshots by documented scope)
    log2.compact(spark, partitions = 1)
    val vC = log2.currentVersion.get
    val addBad = intercept[Exception] {
      spark.sql("ALTER TABLE graftevo.chk ADD CONSTRAINT cents_pos CHECK (cents > 0)")
    }
    assert(mentions(addBad, "existing rows"), addBad.getMessage)
    assert(log2.currentVersion.contains(vC),
      "violated ADD CONSTRAINT must not certify")

    // constraints declared AT CREATE land in the v0 commit and gate the
    // first INSERT already
    spark.sql("DROP TABLE IF EXISTS graftevo.chk0")
    spark.sql("CREATE TABLE graftevo.chk0 " +
      "(k BIGINT, cents BIGINT, CONSTRAINT pos_k CHECK (k > 0))")
    val log0 = logOf("chk0")
    assert(log0.property(0L, "check.pos_k").isDefined)
    val firstBad = intercept[Exception] {
      spark.sql("INSERT INTO graftevo.chk0 VALUES (0, 1)")
    }
    assert(firstBad.getMessage.toLowerCase.contains("constraint") ||
      firstBad.getMessage.contains("pos_k"), firstBad.getMessage)
    spark.sql("INSERT INTO graftevo.chk0 VALUES (1, 1)")
    assert(spark.sql("SELECT count(*) AS n FROM graftevo.chk0").head().getLong(0) == 1L)
    // RESTORE ... TIMESTAMP AS OF resolves from the recorded commit
    // wall-clocks (epoch-millis form)
    val tsAtV1 = log0.commitTimeMillis(log0.currentVersion.get)
    spark.sql("INSERT INTO graftevo.chk0 VALUES (2, 2)")
    val res = spark.sql(
      s"RESTORE TABLE graftevo.chk0 TO TIMESTAMP AS OF '$tsAtV1'").head()
    assert(res.getLong(0) == 1L, res.toString)
    assert(spark.sql("SELECT count(*) AS n FROM graftevo.chk0").head().getLong(0) == 1L)
    // RENAME / DROP of a column a stored CHECK references refuses up
    // front (the constraint would become unresolvable — every later
    // write would die on the stale name instead of enforcing)
    val renBad = intercept[Exception] {
      spark.sql("ALTER TABLE graftevo.chk0 RENAME COLUMN k TO kk")
    }
    assert(renBad.getMessage.contains("referenced by CHECK"), renBad.getMessage)
    val dropBad = intercept[Exception] {
      spark.sql("ALTER TABLE graftevo.chk0 DROP COLUMN k")
    }
    assert(dropBad.getMessage.contains("referenced by CHECK"), dropBad.getMessage)
  }

  test("VERSION AS OF resolves tag names against the log's refs") {
    register()
    spark.sql("DROP TABLE IF EXISTS graftevo.tagged")
    spark.sql("CREATE TABLE graftevo.tagged (k BIGINT)")
    spark.sql("INSERT INTO graftevo.tagged VALUES (1), (2)")
    val log = logOf("tagged")
    log.tag("release1", log.currentVersion.get)
    spark.sql("INSERT INTO graftevo.tagged VALUES (3)")
    assert(spark.sql("SELECT count(*) AS n FROM graftevo.tagged VERSION AS OF 'release1'")
      .head().getLong(0) == 2L)
    assert(spark.sql("SELECT count(*) AS n FROM graftevo.tagged").head().getLong(0) == 3L)
    val bad = intercept[Exception] {
      spark.sql("SELECT * FROM graftevo.tagged VERSION AS OF 'nope'").collect()
    }
    assert(bad.getMessage.contains("neither"), bad.getMessage)
  }

  test("column DEFAULT values fill omitted INSERT columns from the declared schema") {
    register()
    spark.sql("DROP TABLE IF EXISTS graftevo.dflt")
    spark.sql("CREATE TABLE graftevo.dflt (k BIGINT, tag STRING DEFAULT 'none', " +
      "w BIGINT DEFAULT 7)")
    spark.sql("INSERT INTO graftevo.dflt (k) VALUES (1)")
    spark.sql("INSERT INTO graftevo.dflt VALUES (2, 'real', 20)")
    spark.sql("INSERT INTO graftevo.dflt (k, tag) VALUES (3, DEFAULT)")
    val rows = spark.sql("SELECT k, tag, w FROM graftevo.dflt ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq((1L, "none", 7L), (2L, "real", 20L), (3L, "none", 7L)), rows)
    // ALTER COLUMN SET DEFAULT applies to FUTURE inserts only
    val log = logOf("dflt")
    val filesPre = log.dataFiles(log.currentVersion.get)
    spark.sql("ALTER TABLE graftevo.dflt ALTER COLUMN tag SET DEFAULT 'later'")
    assert(log.dataFiles(log.currentVersion.get) == filesPre,
      "SET DEFAULT must be metadata-only")
    spark.sql("INSERT INTO graftevo.dflt (k) VALUES (4)")
    assert(spark.sql("SELECT tag FROM graftevo.dflt WHERE k = 4")
      .head().getString(0) == "later")
    assert(spark.sql("SELECT count(*) AS n FROM graftevo.dflt WHERE tag = 'none'")
      .head().getLong(0) == 2L, "existing rows keep their values")
    // DROP DEFAULT: omitted columns go back to NULL
    spark.sql("ALTER TABLE graftevo.dflt ALTER COLUMN tag DROP DEFAULT")
    spark.sql("INSERT INTO graftevo.dflt (k) VALUES (5)")
    assert(spark.sql("SELECT tag FROM graftevo.dflt WHERE k = 5").head().isNullAt(0))
    // ADD COLUMNS with a DEFAULT: metadata-only, and the ANSI rule holds
    // — rows written BEFORE the column existed read the default, not NULL
    spark.sql("ALTER TABLE graftevo.dflt ADD COLUMNS (score BIGINT DEFAULT 42)")
    assert(spark.sql("SELECT count(*) AS n FROM graftevo.dflt WHERE score = 42")
      .head().getLong(0) == 5L, "existing rows read the ADD COLUMN default")
    spark.sql("INSERT INTO graftevo.dflt (k) VALUES (6)")
    assert(spark.sql("SELECT score FROM graftevo.dflt WHERE k = 6")
      .head().getLong(0) == 42L, "future inserts get it too")
  }

  test("column-mapped tables stream through the translating facade; a mid-stream rename refuses") {
    register()
    def anywhere(t: Throwable, s: String): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains(s)) || anywhere(t.getCause, s))
    spark.sql("DROP TABLE IF EXISTS graftevo.mapstream")
    spark.sql("CREATE TABLE graftevo.mapstream (a BIGINT, b BIGINT)")
    spark.sql("INSERT INTO graftevo.mapstream VALUES (1, 10), (2, 20)")
    spark.sql("ALTER TABLE graftevo.mapstream RENAME COLUMN a TO a2")
    spark.sql("INSERT INTO graftevo.mapstream VALUES (3, 30)")
    // SOURCE: the per-batch physical scan re-projects to LOGICAL names —
    // post-rename content streams exactly as the batch read serves it
    val q = spark.readStream.format("graft-log")
      .option("root", s"$root/mapstream").load()
      .writeStream.format("memory").queryName("mapstream_mem")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("mapstream_mem")
      assert(got.columns.toSeq == Seq("a2", "b"))
      assert(got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((1L, 10L), (2L, 20L), (3L, 30L)))
      // a RENAME landing mid-stream refuses loudly (fail once; a restart
      // of the same checkpoint re-pins and adopts)
      spark.sql("ALTER TABLE graftevo.mapstream RENAME COLUMN b TO b2")
      spark.sql("INSERT INTO graftevo.mapstream VALUES (4, 40)")
      val died = intercept[Exception] { q.processAllAvailable() }
      assert(anywhere(died, "mid-stream"), died.getMessage)
    } finally q.stop()
    // a fresh load() re-pins the moved mapping and serves everything
    val q2 = spark.readStream.format("graft-log")
      .option("root", s"$root/mapstream").load()
      .writeStream.format("memory").queryName("mapstream_mem2")
      .outputMode("append").start()
    try {
      q2.processAllAvailable()
      assert(spark.table("mapstream_mem2").columns.toSeq == Seq("a2", "b2"))
      assert(spark.table("mapstream_mem2").count() == 4L)
    } finally q2.stop()
    // SINK: a mapped destination stages streamed batches under PHYSICAL
    // ids — post-rename streamed appends land in the same physical
    // column as batch INSERTs, read back under the current logical names
    spark.sql("DROP TABLE IF EXISTS graftevo.mapsrc")
    spark.sql("CREATE TABLE graftevo.mapsrc (a2 BIGINT, b2 BIGINT)")
    spark.sql("INSERT INTO graftevo.mapsrc VALUES (5, 50)")
    val q3 = spark.readStream.format("graft-log")
      .option("root", s"$root/mapsrc").load()
      .writeStream.format("graft-log")
      .option("root", s"$root/mapstream")
      .option("checkpointLocation",
        tempRoot("graft_mapsink_").toString)
      .outputMode("append").start()
    try q3.processAllAvailable() finally q3.stop()
    assert(spark.sql("SELECT a2, b2 FROM graftevo.mapstream ORDER BY a2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L), (5L, 50L)))
    // no fresh physical id was minted by the streamed append
    val mlog = logOf("mapstream")
    assert(mlog.columnMapping(mlog.currentVersion.get).get._2.toSet ==
      Set("a2" -> "a", "b2" -> "b"))
  }
}
