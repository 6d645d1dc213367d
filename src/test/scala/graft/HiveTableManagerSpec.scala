package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TableManager
import graft.streaming.StreamingSessionize

/** A real Hive-metastore session (embedded Derby), isolated in its own
  * forked JVM (build.sbt `Test / testGrouping`): the catalog implementation
  * is a STATIC conf, fixed by the first SparkSession of the JVM, so this
  * cannot share [[SparkTestSession]]'s in-memory-catalog instance.
  *
  * Metastore, warehouse and Hive's resources dir live under target/ and
  * are wiped per run — Derby leaves lock files behind, and a stale
  * metastore would turn create-if-not-exists assertions into no-ops.
  */
object HiveTestSession {
  private val warehouseDir = s"${GraftSession.target}/hive-test-warehouse"
  private val metastoreDir = s"${GraftSession.target}/hive-test-metastore"
  // Hive's session start makes `<session uuid>_resources` here; its default
  // is java.io.tmpdir, where one such directory was left behind per run
  private val resourcesDir = s"${GraftSession.target}/hive-test-resources"

  lazy val spark: SparkSession = {
    Seq(warehouseDir, metastoreDir, resourcesDir)
      .foreach(d => StreamingSessionize.deleteTree(java.nio.file.Paths.get(d)))
    val s = GraftSession.builder(4, "graft-hive-test")
      .enableHiveSupport()
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config(
        "javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$metastoreDir;create=true")
      .config("hive.downloaded.resources.dir", resourcesDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** [[TableManager]] exercised against the catalog the reference actually
  * used — `enableHiveSupport` + Hive external tables
  * (`/root/reference/src/main/scala/connector/hive/HiveConnector.scala:17-57`).
  * The r1–r3 rounds proved the semantics on Spark's in-memory datasource
  * catalog; this suite proves the SAME code paths (ensure / extract /
  * overwritePartitions / MSCK-on-create) hold when the catalog is a real
  * Hive metastore.
  */
class HiveTableManagerSpec extends AnyFunSuite with TempRoots {
  import HiveTestSession._

  test("session really runs on the Hive catalog") {
    assert(spark.conf.get("spark.sql.catalogImplementation") == "hive")
  }

  test("ensure registers the table in the Hive metastore; extract sees it") {
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("d", StringType, nullable = false)))
    val t = new TableManager("h_ensure_spec", schema, Seq("d"))
    t.recreate(spark)
    // the entry lives in the metastore, not just this session's temp views
    assert(spark.sessionState.catalog.externalCatalog.tableExists("default", "h_ensure_spec"))
    assert(t.extract(spark, "SELECT count(*) AS n FROM {TABLE}").first().getLong(0) == 0L)
    t.drop(spark)
    assert(!spark.sessionState.catalog.externalCatalog.tableExists("default", "h_ensure_spec"))
  }

  test("dynamic partition overwrite on the Hive catalog is idempotent and partition-scoped") {
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("d", StringType, nullable = false)))
    val t = new TableManager("h_dyn_spec", schema, Seq("d"))
    t.recreate(spark)
    t.overwritePartitions(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "d"))
    t.overwritePartitions(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "d")) // idempotent
    assert(t.read(spark).count() == 2)
    t.overwritePartitions(spark, Seq((99L, "b")).toDF("k", "d")) // touches only d=b
    val got = t.read(spark).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (99L, "b")))
    t.drop(spark)
  }

  test("external table at a pinned location: DROP keeps data, MSCK-on-create recovers it") {
    import spark.implicits._
    val loc = tempRoot("h_ext_spec").toString
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("d", StringType, nullable = false)))
    val t1 = new TableManager("h_ext_spec", schema, Seq("d"), location = Some(loc))
    t1.recreate(spark)
    t1.overwritePartitions(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "d"))
    t1.drop(spark) // catalog entry gone; EXTERNAL files must survive

    val files = new java.io.File(loc).listFiles()
    assert(files != null && files.exists(_.getName.startsWith("d=")),
      "external location lost its partition directories on DROP from the Hive catalog")

    val t2 = new TableManager("h_ext_spec", schema, Seq("d"), location = Some(loc))
    val got = t2.read(spark).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "b")),
      "MSCK-on-create must resurface the pre-existing partitions")
    t2.drop(spark)
  }

  test("templated SQL aggregates over Hive-cataloged partitions") {
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("d", StringType, nullable = false)))
    val t = new TableManager("h_sql_spec", schema, Seq("d"))
    t.recreate(spark)
    t.overwritePartitions(spark, Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("k", "d"))
    val got = t.extract(
      spark, "SELECT d, count(*) AS n FROM {TABLE} GROUP BY d ORDER BY d")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("a", 2L), ("b", 1L)))
    t.drop(spark)
  }
}
