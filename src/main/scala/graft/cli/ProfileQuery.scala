package graft.cli

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Optimization-round helper: run one SparkEntry query like the bench does
  * (noop sink, same session conf) with a listener that attributes wall-clock
  * to Spark JOBS by call site — the "which line pays" view the UI's Jobs tab
  * would give if the sandbox had one.
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

    // listener callbacks arrive on the listener-bus thread while the main
    // thread reads/clears — synchronize on the buffers (ADVICE r16)
    val starts = mutable.Map[Int, (Long, String)]()
    val rows = mutable.ArrayBuffer[(Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
        rows.synchronized { starts(e.jobId) = (e.time, site); () }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = rows.synchronized {
        starts.remove(e.jobId).foreach { case (t0, site) =>
          rows += ((e.time - t0, site))
        }
      }
    })
    // per-STATEMENT attribution: multi-statement queries (SQL DML proofs)
    // run dozens of actions — group wall-clock by the executed plan's root
    val stmts = mutable.ArrayBuffer[(Long, String)]()
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        val root = qe.analyzed.getClass.getSimpleName
        val head = qe.analyzed.simpleString(60).take(100).replace('\n', ' ')
        stmts.synchronized { stmts += ((durationNs / 1000000L, s"$funcName | $root | $head")); () }
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    })

    // warmup (codegen/JIT) exactly like the bench
    graft.SparkEntry.queries("wau_user")(spark, sfDir)
      .write.mode("overwrite").format("noop").save()
    Thread.sleep(300) // listener drain (listenerBus is private[spark])
    rows.synchronized { rows.clear() }

    (1 to runs).foreach { i =>
      val t0 = System.nanoTime()
      q(spark, sfDir).write.mode("overwrite").format("noop").save()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[profile] run $i: $dt%.3f s, ${rows.synchronized(rows.size)} jobs")
      spark.sqlContext.clearCache()
      System.gc()
    }
    // group by call site, show totals (fixed-sleep drain: listenerBus is
    // private[spark]; the synchronized reads make the race benign)
    Thread.sleep(300)
    val bySite = rows.synchronized(rows.toSeq).groupBy(_._2).view
      .mapValues(v => (v.map(_._1).sum, v.size)).toSeq
      .sortBy { case (_, (ms, _)) => -ms }
    println(f"[profile] total job ms ${rows.synchronized(rows.map(_._1).sum)}")
    bySite.take(40).foreach { case (site, (ms, n)) =>
      println(f"[profile] $ms%8d ms  $n%4d jobs  $site")
    }
    val byStmt = stmts.synchronized(stmts.toSeq).groupBy(_._2).view
      .mapValues(v => (v.map(_._1).sum, v.size)).toSeq
      .sortBy { case (_, (ms, _)) => -ms }
    println(f"[profile] total stmt ms ${stmts.synchronized(stmts.map(_._1).sum)} over ${stmts.synchronized(stmts.size)} statements")
    byStmt.take(50).foreach { case (s, (ms, n)) =>
      println(f"[stmt] $ms%8d ms  $n%4d x  $s")
    }
    spark.stop()
  }
}
