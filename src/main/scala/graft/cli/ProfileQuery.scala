package graft.cli

import graft.obs.Trace

/** Optimization-round helper: run one SparkEntry query like the bench does
  * (noop sink, same session conf) under [[graft.obs.Trace.capture]] and
  * attribute wall-clock to Spark JOBS by call site — the "which line pays"
  * view the UI's Jobs tab would give if the sandbox had one.
  *
  * Usage: runMain graft.cli.ProfileQuery <query> [runs]
  * Env: SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as the bench.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileQuery <query> [runs]")
    val name = args(0)
    val runs = if (args.length > 1) args(1).toInt else 1
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus.toInt, "graft-profile")
    val q = graft.SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query $name"))

    // warmup (codegen/JIT) exactly like the bench, outside any capture
    graft.SparkEntry.queries("wau_user")(spark, sfDir)
      .write.mode("overwrite").format("noop").save()

    // what each run ran: jobs attributed by call site, and STATEMENTS —
    // multi-statement queries (SQL DML proofs) run dozens of actions, so
    // wall-clock is also grouped by the analyzed plan's root
    val traces = (1 to runs).map { i =>
      val (dt, trace) = Trace.capture(spark) {
        val t0 = System.nanoTime()
        q(spark, sfDir).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[profile] run $i: $dt%.3f s, ${trace.jobs.size} jobs")
      spark.sqlContext.clearCache()
      System.gc()
      trace
    }
    // (ms, key) rows → per-key (total ms, count), largest total first
    def totals(rows: Seq[(Long, String)]): Seq[(String, (Long, Int))] =
      rows.groupBy(_._2).view.mapValues(v => (v.map(_._1).sum, v.size)).toSeq
        .sortBy { case (_, (ms, _)) => -ms }
    val jobs = traces.flatMap(_.jobs).map(j => (j.durationMs, j.callSite))
    val stmts = traces.flatMap(_.statements).map { st =>
      val root = st.qe.analyzed.getClass.getSimpleName
      val head = st.qe.analyzed.simpleString(60).take(100).replace('\n', ' ')
      (st.durationNs / 1000000L, s"${st.funcName} | $root | $head")
    }
    println(f"[profile] total job ms ${jobs.map(_._1).sum}")
    totals(jobs).take(40).foreach { case (site, (ms, n)) =>
      println(f"[profile] $ms%8d ms  $n%4d jobs  $site")
    }
    println(f"[profile] total stmt ms ${stmts.map(_._1).sum} over ${stmts.size} statements")
    totals(stmts).take(50).foreach { case (s, (ms, n)) =>
      println(f"[stmt] $ms%8d ms  $n%4d x  $s")
    }
    spark.stop()
  }
}
