package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (Test/fork gives the
  * suite its own JVM; suites share this lazy instance).
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4, "graft-test")
      .config("spark.sql.warehouse.dir", "/root/repo/target/test-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val SfDir = "/root/testdata/sf0.001"
}
