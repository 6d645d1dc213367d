package graft

import java.io.File

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults, and the one
  * root every path the engine writes hangs from.
  *
  * Local mode is a stand-in for a real cluster: shuffle partitions are sized
  * to cores here, but every operator in this library is written so that the
  * same plan holds on a 1000-executor cluster (AQE, on by Spark's default,
  * coalesces/splits at runtime; dynamic partition overwrite gives idempotent
  * backfill — the reference sets the same conf at load time, in its
  * `HiveConnector.scala:48`).
  *
  * `Bench`, `Verify`, the CLIs and the test sessions all build through
  * [[builder]].
  */
object GraftSession {

  /** The checkout's `target` directory, resolved once against the working
    * directory — like the reference's `spark-warehouse/`. `sbt run`, the
    * forked test JVM and a perfbench run dir all start in the root they
    * own, so two checkouts never share scratch, warehouse or test roots.
    */
  val target: String = new File("target").getAbsolutePath

  def builder(cores: Int = 32, appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$target/warehouse")
      .config("spark.ui.enabled", "false")

  /** Per-SF scratch directory for queries that persist real artifacts
    * (a stored index, a streamed sketch table, a snapshot log):
    * `target/<area>_scratch/<sf>/<name>`, where `sf` is the last segment
    * of the data dir.
    */
  def scratch(area: String, dir: String, name: String): String = {
    val sf = dir.replaceAll(".*/", "")
    s"$target/${area}_scratch/$sf/$name"
  }

  /** Whether `f`, canonicalized first so `target/../..` cannot pass, has a
    * `target` path segment: the one rule every destructive helper checks
    * before it deletes a tree.
    */
  private[graft] def underTarget(f: File): Boolean =
    f.getCanonicalFile.getPath.split('/').contains("target")

  /** Delete `dir` and re-create it empty, refusing with `refusal: <path>`
    * unless it lies under a `target` segment.
    */
  private[graft] def wipe(dir: String, refusal: String): Unit = {
    val canonical = new File(dir).getCanonicalFile
    require(underTarget(canonical), s"$refusal: $canonical")
    graft.streaming.StreamingSessionize.deleteTree(canonical.toPath)
    canonical.mkdirs()
    ()
  }

  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = builder(cores, appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
