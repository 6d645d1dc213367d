package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults.
  *
  * Local mode is a stand-in for a real cluster: shuffle partitions are sized
  * to cores here, but every operator in this library is written so that the
  * same plan holds on a 1000-executor cluster (AQE coalesces/splits at
  * runtime; dynamic partition overwrite gives idempotent backfill — the
  * reference sets the same conf at load time,
  * /root/reference/src/main/scala/connector/hive/HiveConnector.scala:48).
  *
  * The CLIs and the test session build through [[builder]]; `Bench` and
  * `Verify` spell the same effective conf out inline. The AQE coalesce,
  * skew-join and snappy keys set here are Spark's defaults.
  */
object GraftSession {
  def builder(cores: Int = 32, appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "/root/repo/target/warehouse")
      .config("spark.ui.enabled", "false")

  /** Per-SF scratch directory for queries that persist real artifacts
    * (a stored index, a streamed sketch table, a snapshot log):
    * `target/<area>_scratch/<sf>/<name>`, where `sf` is the last segment
    * of the data dir. The root stays an absolute `s"…/target/…"` literal:
    * `perfbench/build.sbt` rewrites that form to its per-run root.
    */
  def scratch(area: String, dir: String, name: String): String = {
    val sf = dir.replaceAll(".*/", "")
    s"/root/repo/target/${area}_scratch/$sf/$name"
  }

  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = builder(cores, appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
