package graft.cli

import java.nio.file.{Files, Paths}

/** Optimization-round helper: dump `.explain("formatted")` for named
  * SparkEntry queries to `plans/<tag>/<name>_<suffix>.txt` — the
  * before/after plan evidence the optimization write-ups cite
  * (Exchange count, join strategy, PushedFilters/ReadSchema).
  *
  * Usage: runMain graft.cli.PlanDump <tag> <suffix> <query1,query2,...>
  * Reads the data dir from SPARK_GRAFT_SF_DIR and cores from
  * SPARK_GRAFT_CPUS like the bench, so plans match what the bench runs.
  * Queries whose result frame is only constructible by EXECUTING side
  * statements (multi-statement DML proofs, streaming replays) still run
  * those statements here — the dumped plan is the final declared frame's.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: PlanDump <tag> <suffix> <q1,q2,...>")
    val Array(tag, suffix, namesCsv) = args
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus.toInt, "graft-plan-dump")
    val outDir = Paths.get(s"plans/$tag")
    Files.createDirectories(outDir)
    val names = namesCsv.split(",").map(_.trim).filter(_.nonEmpty)
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(outDir.resolve(s"${n}_$suffix.txt"), plan)
      println(s"[plandump] wrote plans/$tag/${n}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
