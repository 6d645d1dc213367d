package graft.perfbench

/** Writes the per-query cost table the workloads cap their samples
  * by: every population query, materialized three times after the warmup,
  * median seconds. Usage: `Calibrate <sfDir> <runDir> <out.tsv> [population...]`
  * (all populations when none is named).
  */
object Calibrate {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, runDir, out) = args.take(3)
    val populations = if (args.length > 3) args.drop(3).toSeq else Engine.Populations
    val spark = Engine.session(4, s"$runDir/warehouse")
    Engine.warmup(spark)
    val rows = for (w <- populations; q <- Engine.population(w)) yield {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        Engine.materialize(graft.SparkEntry.queries(q)(spark, sfDir))
        spark.sqlContext.clearCache()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      System.err.println(f"[calibrate] $w $q ${ts(1)}%.3f")
      f"$w\t$q\t${ts(1)}%.3f"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), rows.mkString("", "\n", "\n"))
    spark.stop()
  }
}
