package graft.perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{QueriesEtl, QueriesLlm, QueriesRelational, SparkEntry}

/** The engine as the benchmark sees it: a session configured like
  * `graft.Bench`, the query populations each workload samples from, and
  * the timed calls into `SparkEntry`.
  */
object Engine {

  /** `graft.Bench`'s session conf, with the warehouse moved under the
    * run directory so every pass can start from an empty one.
    */
  def session(cores: Int, warehouse: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Makes the session ready: loads the query registry and runs one
    * codegen'd one-row statement through a graft kernel. A heavier warmup
    * (`graft.Bench` runs `wau_user`) would only move cold-start cost out of
    * the warm-up pass, which absorbs it anyway.
    */
  def warmup(spark: SparkSession): Unit = {
    require(SparkEntry.queries.nonEmpty)
    materialize(spark.sql("SELECT graft_dot(array(1d, 2d), array(3d, 4d)) AS d"))
  }

  def materialize(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  def jvmUptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  private def coreNames: Set[String] =
    SparkEntry.queries.keySet -- QueriesRelational.queries.keySet --
      QueriesEtl.queries.keySet -- QueriesLlm.queries.keySet

  private val LlmFamilies = Set("dedup", "knn", "bm25", "bpe", "mm", "embed", "curate", "graph")

  /** The family a query is sampled by: its name up to the first `_`
    * (`wau`, `sessionize`, `q6`, `dedup`, ...). The `stream_*` queries are
    * one population, sampled as a single family.
    */
  def family(population: String, name: String): String =
    if (population == "stream") population else name.takeWhile(_ != '_')

  /** Queries no population holds, because their DuckDB oracle cannot
    * check them at sf0.1 inside a run (4 threads, 2 GB, a few seconds).
    * Without the `curate_*` two, no seed draws the curate family.
    */
  val Unchecked: Map[String, String] = Map(
    "survival_km" -> "the oracle fails at sf0.1: DuckDB takes the logarithm of zero",
    "knn_mmr_rerank" -> "the oracle runs past 60 s and 12 GB",
    "embed_rp" -> "the oracle takes 42 s",
    "curate_corpus_mh" -> "the oracle takes 42 s",
    "curate_corpus" -> "the oracle runs past 60 s")

  /** Every query a population in `costs.tsv` holds, by the module that
    * declares it: `reference_olap`'s and `llm_curation`'s own samples,
    * and the `stream_*` queries `llm_curation` adds one of.
    */
  def population(name: String): Seq[String] = {
    val names = name match {
      case "reference_olap" =>
        (coreNames ++ QueriesRelational.queries.keySet).filterNot(_.startsWith("stream_"))
      case "llm_curation" =>
        QueriesLlm.queries.keySet.filter(n => LlmFamilies(family(name, n)))
      case "stream" => SparkEntry.queries.keySet.filter(_.startsWith("stream_"))
      case other => throw new IllegalArgumentException(s"unknown population $other")
    }
    (names -- Unchecked.keySet).toSeq.sorted
  }

  val Populations: Seq[String] = Seq("reference_olap", "llm_curation", "stream")
}
