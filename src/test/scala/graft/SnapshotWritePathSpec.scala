package graft

import java.io.File

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftCatalog, SnapshotLog}
import graft.streaming.StreamingSessionize

/** The snapshot log's shared write-path steps, seen from the SQL surface:
  * every statement that commits data files into a `bloomBy` table leaves
  * a Bloom filter entry on each data file of the new version, and the
  * sidecar-pruned reads agree with the stats-pruned discovery set.
  */
class SnapshotWritePathSpec extends AnyFunSuite with TempRoots {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  /** Run `stmt`, then require a new version whose every data file has a
    * `k` Bloom entry.
    */
  private def assertBloomed(log: SnapshotLog, stmt: String): Unit = {
    val before = log.currentVersion
    spark.sql(stmt).collect()
    val v = log.currentVersion.get
    assert(before.forall(_ < v), s"$stmt committed nothing")
    val probe = log.fileBloomProbe(spark, v, "k", Seq("1")).getOrElse(Map.empty)
    val missing = log.dataFiles(v)
      .map(p => new File(log.root, p).getCanonicalPath).filterNot(probe.contains(_))
    assert(log.dataFiles(v).nonEmpty, s"$stmt: v$v has no data files")
    assert(missing.isEmpty, s"$stmt: data files of v$v without a bloom entry: $missing")
  }

  private def createBloomTable(root: String, name: String): SnapshotLog = {
    spark.sql(s"DROP TABLE IF EXISTS graftwp.$name")
    spark.sql(
      s"""CREATE TABLE graftwp.$name (k BIGINT, status STRING, cents BIGINT)
         |TBLPROPERTIES ('bloomBy' = 'k')""".stripMargin)
    new SnapshotLog(s"$root/$name")
  }

  test("bloomBy upkeep: every SQL write path leaves a filter on every data file") {
    val root = tempRoot("graft_writepath_").toString
    GraftCatalog.mount(spark, "graftwp", root)
    (0L until 400L).map(k => (k, if (k % 3 == 0) "F" else "O", k * 10))
      .toDF("k", "status", "cents").createOrReplaceTempView("graft_wp_src")
    val log = createBloomTable(root, "ord")
    assertBloomed(log, "INSERT INTO graftwp.ord SELECT * FROM graft_wp_src WHERE k < 200")
    assertBloomed(log, "INSERT INTO graftwp.ord SELECT * FROM graft_wp_src WHERE k >= 200")
    // the session default (dynamic) refuses an overwrite of an
    // unpartitioned catalog table; INSERT OVERWRITE runs static
    val mode = "spark.sql.sources.partitionOverwriteMode"
    val prevMode = spark.conf.get(mode)
    spark.conf.set(mode, "static")
    try assertBloomed(log, "INSERT OVERWRITE graftwp.ord SELECT * FROM graft_wp_src")
    finally spark.conf.set(mode, prevMode)
    assertBloomed(log, "DELETE FROM graftwp.ord WHERE k >= 350")
    assertBloomed(log, "UPDATE graftwp.ord SET cents = cents + 1 WHERE k < 50")
    assertBloomed(log,
      """MERGE INTO graftwp.ord t
        |USING (SELECT k, status, cents FROM graft_wp_src WHERE k >= 300) AS s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET t.cents = s.cents + 7
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val srcDir = tempRoot("graft_wp_copy_")
    StreamingSessionize.writeOneFile(
      (1000L until 1100L).map(k => (k, "N", k)).toDF("k", "status", "cents"),
      srcDir.resolve("a.parquet"))
    assertBloomed(log, s"COPY INTO graftwp.ord FROM '$srcDir' FILEFORMAT = PARQUET")
    assertBloomed(log,
      "INSERT INTO graftwp.ord REPLACE WHERE k BETWEEN 100 AND 150 " +
        "SELECT k, status, cents + 3 AS cents FROM graft_wp_src WHERE k BETWEEN 100 AND 150")
    assert(spark.sql("SELECT count(*) FROM graftwp.ord").head().getLong(0) == 500L)

    // a column-mapped table: DELETE translates to physical names and
    // still maintains the filters
    val mapped = createBloomTable(root, "ord_mapped")
    assertBloomed(mapped, "INSERT INTO graftwp.ord_mapped SELECT * FROM graft_wp_src")
    spark.sql("ALTER TABLE graftwp.ord_mapped RENAME COLUMN cents TO pennies")
    assert(mapped.columnMapping(mapped.currentVersion.get).isDefined)
    assertBloomed(mapped, "DELETE FROM graftwp.ord_mapped WHERE k >= 300")
  }

  test("readPrunedByValue opens exactly statsCandidateFiles' value-pruned set") {
    val log = new SnapshotLog(tempRoot("graft_values_").resolve("values").toString)
    val rows = (0L until 300L).map(k => (k, Seq("A", "B", "C", "D")((k % 4).toInt)))
      .toDF("k", "status")
    // two value-indexed stages of range-arranged files, plus one plain
    // stage without a sidecar (kept conservatively by both)
    log.appendValueIndexed(rows.where(col("k") < 200)
      .repartitionByRange(4, col("status")).sortWithinPartitions(col("status")), Seq("status"))
    log.appendValueIndexed(rows.where(col("k") >= 200)
      .repartitionByRange(2, col("status")).sortWithinPartitions(col("status")), Seq("status"))
    log.append(Seq((900L, "B")).toDF("k", "status"), partitions = 1)
    val v = log.currentVersion.get
    Seq("A", "B", "Z").foreach { value =>
      val (df, (opened, total)) = log.readWhere(spark, v, col("status") === value)
      val expected = log.statsCandidateFiles(spark, v, col("status") === lit(value))
        .map(p => new File(log.root, p).getCanonicalPath).toSet
      val kept = df.inputFiles.map(f => new File(new java.net.URI(f)).getCanonicalPath).toSet
      assert(kept == expected, s"status = $value")
      assert(opened == expected.size && total == log.dataFiles(v).size)
      assert(opened < total, s"status = $value pruned nothing")
      assert(df.count() == rows.where(col("status") === value).count() +
        (if (value == "B") 1L else 0L))
    }
  }
}
