package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftCatalog, GraftSqlDml, SnapshotLog}

/** SQL `UPDATE` / `MERGE INTO` / `DELETE` text routed through the
  * snapshot log's transactional DML ([[GraftSqlDml]]): Spark's own parser
  * front-ends the statement, the log commits it atomically, and the
  * result equals the equivalent API call.
  */
class GraftSqlDmlSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val root = s"${GraftSession.target}/sqldml_spec"

  private def freshLog(name: String): SnapshotLog = {
    val log = new SnapshotLog(s"$root/$name")
    log.recreate()
    log
  }

  private def registerCatalog(): Unit = {
    GraftCatalog.mount(spark, "graftdml", root)
  }

  test("SQL UPDATE: qualified and self-referential SET, WHERE honored, one atomic commit") {
    val log = freshLog("t_upd")
    val v0 = log.append((0 until 30).map(i => (i.toLong, s"p-$i", i.toLong * 10))
      .toDF("id", "payload", "v"), partitions = 2)
    registerCatalog()
    val r = GraftSqlDml.exec(spark,
      "UPDATE graftdml.t_upd AS t SET t.v = t.v * 2 + 1, payload = concat(payload, '!') " +
        "WHERE t.id >= 20")
    assert(r.op == "UPDATE" && r.rowsUpdated == 10L && r.version == v0 + 1L)
    val got = log.read(spark, r.version)
    assert(got.count() == 30L)
    assert(got.where(col("id") >= 20 &&
      col("v") === col("id") * 20 + 1 && col("payload").endsWith("!")).count() == 10L)
    assert(got.where(col("id") < 20 && col("v") === col("id") * 10).count() == 20L)
    // no-match UPDATE commits nothing
    val r2 = GraftSqlDml.exec(spark, "UPDATE graftdml.t_upd SET v = 0 WHERE id = 999")
    assert(r2.rowsUpdated == 0L && r2.version == r.version)
    // every SET expression reads the OLD row: payload captures v BEFORE v moves
    val r3 = GraftSqlDml.exec(spark,
      "UPDATE graftdml.t_upd SET v = v + 1, payload = cast(v AS string) WHERE id = 5")
    val row5 = log.read(spark, r3.version).where(col("id") === 5).head()
    assert(row5.getAs[Long]("v") == 51L && row5.getAs[String]("payload") == "50",
      s"SET must read the pre-update row, got $row5")
  }

  test("SQL DELETE goes copy-on-write; scan-clean after") {
    val log = freshLog("t_del2")
    log.append((0 until 20).map(i => (i.toLong, i.toLong)).toDF("id", "v"), partitions = 1)
    registerCatalog()
    val r = GraftSqlDml.exec(spark, "DELETE FROM graftdml.t_del2 WHERE id % 2 = 0")
    assert(r.rowsDeleted == 10L)
    assert(log.posDeleteFiles(r.version).isEmpty && log.dvFiles(r.version).isEmpty)
    assert(log.read(spark, r.version).count() == 10L)
  }

  test("SQL MERGE: three clauses, alias scoping, equals the API route") {
    val log = freshLog("t_mrg")
    log.append((0 until 20).map(i => (i.toLong, i.toLong * 10, s"r-$i"))
      .toDF("id", "amount", "tag"), partitions = 2)
    // source: updates 5..9 (+1000), deletes 0..4, inserts 20..24; 15..19 not matched by source
    (Seq.tabulate(10)(i => (i.toLong, i.toLong * 10 + 1000, s"s-$i")) ++
      Seq.tabulate(5)(i => (20L + i, (20L + i) * 10, s"n-$i")))
      .toDF("id", "amount", "tag").createOrReplaceTempView("mrg_src")
    registerCatalog()
    val r = GraftSqlDml.exec(spark,
      """MERGE INTO graftdml.t_mrg AS t USING mrg_src AS s ON t.id = s.id
        |WHEN MATCHED AND s.id < 5 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET amount = s.amount, t.tag = s.tag
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE AND t.id >= 18 THEN DELETE""".stripMargin)
    assert(r.op == "MERGE" && r.rowsUpdated == 5L && r.rowsDeleted == 7L &&
      r.rowsInserted == 5L)
    val got = log.read(spark, r.version).orderBy("id")
    assert(got.count() == 18L, "20 - 5 del - 2 nmbs + 5 ins")
    assert(got.where(col("id") < 5).count() == 0L)
    assert(got.where(col("id").between(5, 9) &&
      col("amount") === col("id") * 10 + 1000 && col("tag").startsWith("s-")).count() == 5L)
    assert(got.where(col("id").between(10, 17) && col("tag").startsWith("r-")).count() == 8L)
    assert(got.where(col("id") >= 20 && col("tag").startsWith("n-")).count() == 5L)
  }

  test("MERGE refuses the inexpressible loudly: update-before-delete order, conditional insert, ambiguous ref") {
    val log = freshLog("t_mrg_ref")
    log.append(Seq((1L, 1L)).toDF("id", "v"), partitions = 1)
    Seq((1L, 2L)).toDF("id", "v").createOrReplaceTempView("mrg_src2")
    registerCatalog()
    intercept[IllegalArgumentException] {
      GraftSqlDml.exec(spark,
        """MERGE INTO graftdml.t_mrg_ref t USING mrg_src2 s ON t.id = s.id
          |WHEN MATCHED AND v > 0 THEN UPDATE SET v = s.v
          |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    // a NOT MATCHED condition referencing TARGET columns refuses (ANSI
    // evaluates them as NULL there — not expressible as a source filter)
    intercept[IllegalArgumentException] {
      GraftSqlDml.exec(spark,
        """MERGE INTO graftdml.t_mrg_ref t USING mrg_src2 s ON t.id = s.id
          |WHEN NOT MATCHED AND t.v > 1 THEN INSERT *""".stripMargin)
    }
    // unqualified `v` exists on both sides → ambiguous
    intercept[IllegalArgumentException] {
      GraftSqlDml.exec(spark,
        """MERGE INTO graftdml.t_mrg_ref t USING mrg_src2 s ON t.id = s.id
          |WHEN MATCHED AND v > 0 THEN UPDATE SET t.v = s.v""".stripMargin)
    }
    // SELECT text is not DML
    intercept[UnsupportedOperationException] {
      GraftSqlDml.exec(spark, "SELECT 1")
    }
  }

  test("MERGE takes conditional NOT MATCHED inserts and inline subquery sources") {
    val log = freshLog("t_mrg_cond")
    log.append((0 until 10).map(i => (i.toLong, i.toLong)).toDF("id", "v"), partitions = 1)
    registerCatalog()
    // conditional INSERT *: only source rows passing the condition land
    (10 until 20).map(i => (i.toLong, i.toLong)).toDF("id", "v")
      .createOrReplaceTempView("mrg_cond_src")
    val r = GraftSqlDml.exec(spark,
      """MERGE INTO graftdml.t_mrg_cond t USING mrg_cond_src s ON t.id = s.id
        |WHEN NOT MATCHED AND s.v % 2 = 0 THEN INSERT *""".stripMargin)
    assert(r.rowsInserted == 5L, r.toString)
    assert(log.readLatest(spark).count() == 15L)
    assert(log.readLatest(spark).where(col("id") >= 10 && col("id") % 2 =!= 0)
      .count() == 0L, "odd not-matched rows filtered by the condition")
    // inline subquery source — no temp view registration
    val r2 = GraftSqlDml.exec(spark,
      """MERGE INTO graftdml.t_mrg_cond t
        |USING (SELECT id, id * 100 AS v FROM range(3)) AS s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = s.v""".stripMargin)
    assert(r2.rowsUpdated == 3L, r2.toString)
    assert(log.readLatest(spark).where(col("id") === 2).head().getLong(1) == 200L)
  }

  test("MERGE WITH SCHEMA EVOLUTION widens the target from the source") {
    registerCatalog()
    spark.sql("DROP TABLE IF EXISTS graftdml.t_evo")
    spark.sql("CREATE TABLE graftdml.t_evo (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graftdml.t_evo SELECT id, id * 10 AS v FROM range(10)")
    val log = new SnapshotLog(s"$root/t_evo")
    val vPre = log.currentVersion.get
    spark.range(10).selectExpr("id + 5 AS id", "(id + 5) * 10 AS v",
        "concat('t-', id) AS tag")
      .createOrReplaceTempView("evo_src")
    val r = GraftSqlDml.exec(spark,
      """MERGE WITH SCHEMA EVOLUTION INTO graftdml.t_evo t USING evo_src s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(r.rowsUpdated == 5L && r.rowsInserted == 5L, r.toString)
    // the evolution commit is metadata-only (no data file touched)
    assert(log.dataFiles(vPre + 1L) == log.dataFiles(vPre),
      "schema evolution must not move data")
    val got = log.readLatest(spark)
    assert(got.columns.toSeq == Seq("id", "v", "tag"))
    assert(got.count() == 15L)
    assert(got.where(col("id") === 7).head().getAs[String]("tag") == "t-2")
    assert(got.where(col("id") === 12).head().getAs[String]("tag") == "t-7")
    assert(got.where(col("id") === 3).head().isNullAt(2),
      "pre-evolution unmatched rows serve typed NULL")
    // without the keyword, a widened source still refuses (no silent drop)
    val ex = intercept[Exception] {
      GraftSqlDml.exec(spark,
        """MERGE INTO graftdml.t_evo t USING
          |(SELECT id, v, tag, 'x' AS extra FROM evo_src) AS s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET t.v = s.v""".stripMargin)
    }
    assert(ex.getMessage.contains("source schema"), ex.getMessage)
  }

  test("DML on a column-mapped table translates logical names to physical ids") {
    registerCatalog()
    spark.sql("DROP TABLE IF EXISTS graftdml.t_mapped")
    spark.sql("CREATE TABLE graftdml.t_mapped (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graftdml.t_mapped SELECT id, id * 10 AS v FROM range(20)")
    spark.sql("ALTER TABLE graftdml.t_mapped RENAME COLUMN v TO w")
    // post-rename INSERT lands in the SAME physical column (no fresh id)
    spark.sql("INSERT INTO graftdml.t_mapped SELECT id + 20, (id + 20) * 10 AS w FROM range(10)")
    val log = new SnapshotLog(s"$root/t_mapped")
    assert(log.columnMapping(log.currentVersion.get).get._2.toSet ==
      Set("id" -> "id", "w" -> "v"), "insert must not mint a fresh physical id")
    // DELETE through the translated native route (before the merge-on-
    // read UPDATE: the SQL surface refuses masked snapshots by scope)
    spark.sql("DELETE FROM graftdml.t_mapped WHERE id >= 28")
    assert(log.readMapped(spark, log.currentVersion.get).count() == 28L)
    // UPDATE referencing the NEW name, in SET target, SET value and WHERE
    val r = GraftSqlDml.exec(spark,
      "UPDATE graftdml.t_mapped SET w = w + 1 WHERE w >= 250 AND id < 28")
    assert(r.op == "UPDATE" && r.rowsUpdated == 3L, r.toString) // ids 25,26,27
    // the update landed in the physical column: the mapped read serves it
    val got = log.readMapped(spark, log.currentVersion.get)
    assert(got.columns.toSeq == Seq("id", "w"))
    assert(got.where(col("id") === 26).head().getLong(1) == 261L)
    assert(got.where(col("id") === 5).head().getLong(1) == 50L, "pre-rename rows intact")
    // MERGE: source speaks LOGICAL names; images land physical
    spark.range(2).selectExpr("id + 26 AS id", "(id + 26) * 1000 AS w")
      .createOrReplaceTempView("mapped_mrg_src")
    val m = GraftSqlDml.exec(spark,
      """MERGE INTO graftdml.t_mapped t USING mapped_mrg_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.w = s.w
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(m.rowsUpdated == 2L && m.rowsInserted == 0L, m.toString)
    val after = log.readMapped(spark, log.currentVersion.get)
    assert(after.where(col("id") === 27).head().getLong(1) == 27000L)
    // widened mapped tables take DML through the pinned-widened scan:
    // the narrow pre-widening file up-casts, the UPDATE writes wide
    spark.sql("DROP TABLE IF EXISTS graftdml.t_mapwide")
    spark.sql("CREATE TABLE graftdml.t_mapwide (id INT, v INT)")
    spark.sql("INSERT INTO graftdml.t_mapwide VALUES (1, 1), (2, 2)")
    spark.sql("ALTER TABLE graftdml.t_mapwide ALTER COLUMN v TYPE BIGINT")
    val wlog = new SnapshotLog(s"$root/t_mapwide")
    val u = GraftSqlDml.exec(spark,
      "UPDATE graftdml.t_mapwide SET v = v + 3000000000 WHERE id = 1")
    assert(u.rowsUpdated == 1L, u.toString)
    wlog.compact(spark, partitions = 1)
    val wide = spark.sql("SELECT id, v FROM graftdml.t_mapwide ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(wide == Seq((1, 3000000001L), (2, 2L)), wide.toString)
    // MERGE over the widened table — the rewrite scan pins wide too
    spark.range(1).selectExpr("2 AS id", "CAST(9000000000 AS BIGINT) AS v")
      .createOrReplaceTempView("mapwide_src")
    val wm = GraftSqlDml.exec(spark,
      """MERGE INTO graftdml.t_mapwide t USING mapwide_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = s.v""".stripMargin)
    assert(wm.rowsUpdated == 1L, wm.toString)
    assert(spark.sql("SELECT v FROM graftdml.t_mapwide WHERE id = 2")
      .head().getLong(0) == 9000000000L)
  }

  test("MERGE ON compound and differently-named business keys") {
    val log = freshLog("t_mrg_ck")
    log.append(
      Seq((1L, "a", 10L), (1L, "b", 20L), (2L, "a", 30L), (2L, "b", 40L))
        .toDF("k1", "k2", "v"), partitions = 1)
    registerCatalog()
    Seq((1L, "b", 200L), (2L, "c", 300L)).toDF("k1", "k2", "v")
      .createOrReplaceTempView("ck_src")
    // two-column key: only the exact (k1, k2) tuple matches
    val r = GraftSqlDml.exec(spark,
      """MERGE INTO graftdml.t_mrg_ck t USING ck_src s
        |ON t.k1 = s.k1 AND t.k2 = s.k2
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(r.rowsUpdated == 1L && r.rowsInserted == 1L, r.toString)
    val got = log.readLatest(spark)
      .collect().map(x => ((x.getLong(0), x.getString(1)), x.getLong(2))).toMap
    assert(got == Map((1L, "a") -> 10L, (1L, "b") -> 200L,
      (2L, "a") -> 30L, (2L, "b") -> 40L, (2L, "c") -> 300L), got.toString)
    // differently-named single key: ON t.k = s.sk (source reshaped so the
    // log merge joins on the target spelling)
    val log2 = freshLog("t_mrg_dk")
    log2.append(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), partitions = 1)
    Seq((2L, 200L), (3L, 300L)).toDF("sk", "v").createOrReplaceTempView("dk_src")
    val r2 = GraftSqlDml.exec(spark,
      """MERGE INTO graftdml.t_mrg_dk t USING dk_src s ON t.k = s.sk
        |WHEN MATCHED AND s.sk > 1 THEN UPDATE SET t.v = s.v""".stripMargin)
    assert(r2.rowsUpdated == 1L, r2.toString)
    val got2 = log2.readLatest(spark).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(got2 == Map(1L -> 10L, 2L -> 200L), got2.toString)
    // refusals: a non-equality term, and an ON term with both sides on
    // one relation, stay loud
    intercept[UnsupportedOperationException] {
      GraftSqlDml.exec(spark,
        """MERGE INTO graftdml.t_mrg_dk t USING dk_src s ON t.k >= s.sk
          |WHEN MATCHED THEN UPDATE SET t.v = s.v""".stripMargin)
    }
    intercept[UnsupportedOperationException] {
      GraftSqlDml.exec(spark,
        """MERGE INTO graftdml.t_mrg_dk t USING dk_src s ON s.sk = s.v
          |WHEN MATCHED THEN UPDATE SET t.v = s.v""".stripMargin)
    }
  }

  test("MERGE WITH SCHEMA EVOLUTION on a column-mapped target mints physical ids") {
    registerCatalog()
    spark.sql("DROP TABLE IF EXISTS graftdml.t_evomap")
    spark.sql("CREATE TABLE graftdml.t_evomap (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graftdml.t_evomap SELECT id, id * 10 AS v FROM range(10)")
    spark.sql("ALTER TABLE graftdml.t_evomap RENAME COLUMN v TO w")
    val log = new SnapshotLog(s"$root/t_evomap")
    val vPre = log.currentVersion.get
    spark.range(10).selectExpr("id + 5 AS id", "(id + 5) * 10 AS w",
        "concat('t-', id) AS tag")
      .createOrReplaceTempView("evomap_src")
    val r = GraftSqlDml.exec(spark,
      """MERGE WITH SCHEMA EVOLUTION INTO graftdml.t_evomap t USING evomap_src s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(r.rowsUpdated == 5L && r.rowsInserted == 5L, r.toString)
    // the evolution commit is metadata-only and mints a FRESH physical id
    assert(log.dataFiles(vPre + 1L) == log.dataFiles(vPre),
      "mapped schema evolution must not move data")
    val pairs = log.columnMapping(log.currentVersion.get).get._2.toMap
    assert(pairs("w") == "v" && pairs.contains("tag") && pairs("tag") != "tag",
      s"the evolved column must mint a physical id, got $pairs")
    // the declared schema carries the physical id (the DML scan pin)
    assert(log.declaredSchema(log.currentVersion.get).get
      .fieldNames.contains(pairs("tag")))
    val got = log.readMapped(spark, log.currentVersion.get)
    assert(got.columns.toSeq == Seq("id", "w", "tag"))
    assert(got.count() == 15L)
    assert(got.where(col("id") === 7).head().getAs[String]("tag") == "t-2")
    assert(got.where(col("id") === 3).head().isNullAt(2),
      "pre-evolution unmatched rows serve typed NULL")
    // a mapped UPDATE can now address the minted column by logical name
    val u = GraftSqlDml.exec(spark,
      "UPDATE graftdml.t_evomap SET tag = 'fixed' WHERE id = 3")
    assert(u.rowsUpdated == 1L, u.toString)
  }
}
