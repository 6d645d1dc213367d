package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** One benchmark run in one JVM: set up, run passes of the workload, write
  * every raw timing and count to `<run>/result.json`. Metrics and oracle
  * checks are computed from that file by `perfbench/run.py`.
  *
  * A run has two phases, and pass `i` of the run is chain round `i` of
  * the first and query pass `i` of the second (when the second has one).
  * Before each round and each query pass the scratch, warehouse, temp and
  * chain roots are emptied, the catalog is cleared and the heap is
  * collected, so each starts from the same state.
  *
  * The chain phase runs the workload's chain in rounds: round 0, then at
  * least [[MinChainRounds]] more, and more while `--seconds` have not gone
  * by since round 1 began. It goes first, before any sampled query has
  * run: the queries a seed draws load and JIT-compile different code, and
  * that compilation, still running in the background, would otherwise land
  * in the chain's timings and make them depend on the seed. Round 0 is the
  * warm-up round and also checks the kernels against their models.
  *
  * The query phase runs the query sample once in an untraced run: pass 0,
  * which pays for the queries' class loading, codegen and JIT compilation
  * and materializes each query into a parquet dump for the oracle compare.
  *
  * A traced run (`--trace 1`) has [[MinTracedPasses]] steady passes in
  * both phases, and the Spark and action listeners are attached on even
  * passes only: untraced 1 and 3 alternate with traced 2 and 4, so the
  * warming trend mostly cancels in the overhead ratio, and passes 2 and 4
  * are the two traced executions whose counts must repeat.
  */
object Main {
  val MinChainRounds = 2
  val MinTracedPasses = 4

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      sf: String, run: String, costs: String, cores: Int)

  private def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("sf"), m("run"), m("costs"), m("cores").toInt)
  }

  /** Per workload: the size of its query sample and the calibrated cost cap
    * within a family, the number of `stream_*` queries added and their cap,
    * and the size of its chain. The kernels run `kernelRounds` times in each
    * steady pass (once in the warm-up pass): a single ~100 ms call still
    * warms from pass to pass, and its median over two passes spread 20%
    * between runs.
    */
  final case class Shape(queries: Int, cap: Double, streams: Int = 0, streamCap: Double = 0,
      loadBatches: Int = 0, commitChain: Boolean = false, kernelRows: Int = 0,
      kernelRounds: Int = 0)

  val Shapes: Map[String, Shape] = Map(
    "reference_olap" -> Shape(queries = 1, cap = 0.45, loadBatches = 3),
    "llm_curation" -> Shape(queries = 1, cap = 0.5, streams = 1, streamCap = 2.0, commitChain = true,
      kernelRows = 5000, kernelRounds = 2))

  /** A seeded sample of `k` queries of a population in `costs.tsv`, from
    * `k` different families drawn uniformly, so that every family is drawn
    * by some seed. Within its family a query is drawn among those whose
    * calibrated cost is at most `cap` seconds, or is the family's cheapest
    * when none is: the cap keeps a pass short without shutting a family
    * out. The sample is in seeded order.
    */
  def sample(costs: String, population: String, seed: Long, k: Int, cap: Double): Seq[String] = {
    val members = Engine.population(population).toSet
    val byFamily = Files.readAllLines(Paths.get(costs)).asScala.toSeq
      .map(_.split('\t')).collect {
        case Array(p, q, c) if p == population && members(q) => (q, c.toDouble)
      }.groupBy { case (q, _) => Engine.family(population, q) }
    require(byFamily.size >= k, s"$population: ${byFamily.size} families in $costs, need $k")
    val rnd = new Random(seed)
    rnd.shuffle(byFamily.keys.toSeq.sorted).take(k).map { f =>
      val qs = byFamily(f).sortBy(_.swap)
      val pool = Some(qs.filter(_._2 <= cap)).filter(_.nonEmpty).getOrElse(qs.take(1))
      pool(rnd.nextInt(pool.size))._1
    }
  }

  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val run = new File(o.run)
    val dirs = Seq("target", "tmp", "warehouse", "chain").map(new File(run, _))
    val spark = Engine.session(o.cores, new File(run, "warehouse").getPath)
    val probe = new Probe(spark)
    Engine.warmup(spark)
    val setupS = Engine.jvmUptimeS
    val result = measure(o, spark, probe, run, dirs) ++ Map(
      "setup_s" -> setupS,
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "cores" -> o.cores,
      "peak_rss_mb" -> peakRssMb)
    mapper.writeValue(new File(run, "result.json"), result)
    // everything the run needs is on disk; skip Spark's orderly shutdown
    // (about a second per JVM)
    Runtime.getRuntime.halt(0)
  }

  private def measure(o: Opts, spark: SparkSession, probe: Probe, run: File,
      dirs: Seq[File]): Map[String, Any] = {
    val shape = Shapes(o.workload)
    val names = sample(o.costs, o.workload, o.seed, shape.queries, shape.cap) ++
      (if (shape.streams > 0) sample(o.costs, "stream", o.seed, shape.streams, shape.streamCap)
       else Nil)
    val fns = SparkEntry.queries
    val gauge = new Gauge(o.cores)
    (1 to 10).foreach(_ => gauge.sample())
    val load = if (shape.loadBatches > 0) Some(new LoadChain(spark, o.sf, o.seed, shape.loadBatches)) else None
    val commitChain = if (shape.commitChain) Some(new CommitChain(spark, o.seed)) else None
    val kernels = if (shape.kernelRows > 0) Some(new KernelPass(spark, o.seed, shape.kernelRows)) else None
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    val passes = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = beans.map(_.getCollectionTime).sum
    def jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val (gc0, jit0) = (gcMs, jitMs)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var steadyT0 = 0L
    def traced(pass: Int) = o.trace && pass % 2 == 0

    // the chain phase: round 0, then rounds until `--seconds` have gone by
    var pass = -1
    while (pass < (if (o.trace) MinTracedPasses else MinChainRounds) ||
        (System.nanoTime() - steadyT0) / 1e9 < o.seconds) {
      pass += 1
      if (pass == 1) steadyT0 = System.nanoTime()
      // the kernel batch stays cached from round to round
      quiesce(spark, dirs, clearCache = false)
      kernels.foreach(_.prepare())
      val first = pass == 0
      probe.trace(traced(pass))
      val clock = new Clock(probe, gauge, traced(pass))
      val start = if (traced(pass)) probe.snapshot() else Map.empty[String, Long]
      val p = mutable.Map.empty[String, Any]
      load.foreach { c =>
        guarded(failures, s"pass $pass load chain")(c.run(clock)).foreach { wau =>
          p("wau") = wau.map(_.map { case (w, n) => s"$w=$n" })
        }
      }
      commitChain.foreach { c =>
        val root = new File(run, s"chain/pass$pass").getPath
        guarded(failures, s"pass $pass commit chain")(c.run(root, clock))
          .foreach { case (bad, (logFiles, bytes, live)) =>
            failures ++= bad.map(b => s"pass $pass commit chain $b")
            p ++= Seq("log_files" -> logFiles, "bytes_on_disk" -> bytes, "live_bytes" -> live)
          }
      }
      kernels.foreach { k =>
        guarded(failures, s"pass $pass kernel pass")(k.run(clock, if (first) 1 else shape.kernelRounds))
        if (first) failures ++= k.check(200).map(b => s"pass $pass kernel check $b")
      }
      attempted += clock.ops.size
      p ++= Seq(
        "traced" -> traced(pass),
        "chain_ms" -> clock.ops.map(_.ms).sum,
        "ops" -> clock.ops.map(op => Seq(op.kind, op.ms, op.gaugeMs)),
        "counts" -> clock.counts.clone())
      if (traced(pass)) p("totals") = Counters.diff(probe.snapshot(), start)
      passes += p
    }
    val chainS = elapsed
    // the loaded table outlives the query phase's wipes in the check root
    val loaded = load.map { c =>
      val dst = new File(run, "check/load_table")
      dst.getParentFile.mkdirs()
      Files.move(Paths.get(c.tablePath), dst.toPath)
      dst.getPath
    }

    // the query phase: pass 0, and passes 1 to 4 in a traced run
    val queryPasses = if (o.trace) MinTracedPasses else 0
    for (pass <- 0 to queryPasses) {
      quiesce(spark, dirs, clearCache = true)
      val first = pass == 0
      probe.trace(traced(pass))
      val start = if (traced(pass)) probe.snapshot() else Map.empty[String, Long]
      val counts = mutable.LinkedHashMap.empty[String, Map[String, Long]]
      var idleMs = 0.0
      val triggers = mutable.ArrayBuffer.empty[Double]
      val queries = mutable.LinkedHashMap.empty[String, Seq[Double]]
      names.foreach { q =>
        attempted += 1
        val before = if (traced(pass)) probe.snapshot() else { probe.drain(); Map.empty[String, Long] }
        probe.stream.triggerMs.clear()
        val t = System.nanoTime()
        try {
          val df = fns(q)(spark, o.sf)
          val built = System.nanoTime()
          // pass 0 materializes into the dump the oracle compare reads, the
          // way graft.Verify writes it; the steady passes use the noop sink
          if (first) df.coalesce(1).write.mode("overwrite").parquet(new File(run, s"check/$q").getPath)
          else Engine.materialize(df)
          val done = System.nanoTime()
          val (buildMs, matMs) = ((built - t) / 1e6, (done - built) / 1e6)
          val after = if (traced(pass)) probe.snapshot() else { probe.drain(); Map.empty[String, Long] }
          val trig = probe.stream.triggerMs.asScala.map(_.doubleValue).toSeq
          triggers ++= trig
          if (trig.nonEmpty) idleMs += math.max(0.0, buildMs + matMs - trig.sum)
          queries(q) = Seq(buildMs, matMs)
          if (traced(pass)) counts(q) = Counters.diff(after, before)
        } catch {
          case e: Throwable => failures += s"pass $pass $q: ${e.toString.take(300)}"
        }
      }
      val p = passes(pass)
      p ++= Seq(
        "query_ms" -> queries.values.map(_.sum).sum,
        "idle_ms" -> idleMs,
        "queries" -> queries,
        "triggers" -> triggers,
        "state_rows" -> probe.stream.stateRows,
        "counts" -> (p("counts").asInstanceOf[mutable.LinkedHashMap[String, Map[String, Long]]] ++ counts))
      probe.stream.reset()
      if (traced(pass)) {
        val chainTotals = p("totals").asInstanceOf[Map[String, Long]]
        val queryTotals = Counters.diff(probe.snapshot(), start)
        p("totals") = (chainTotals.keySet ++ queryTotals.keySet)
          .map(k => k -> (chainTotals.getOrElse(k, 0L) + queryTotals.getOrElse(k, 0L))).toMap
      }
    }
    probe.trace(false)
    Map(
      "chain_s" -> chainS,
      "measured_s" -> elapsed,
      "jvm_gc_s" -> (gcMs - gc0) / 1e3,
      "jvm_jit_s" -> (jitMs - jit0) / 1e3,
      "sample" -> names,
      "passes" -> passes.map(_.toMap),
      "query_passes" -> (queryPasses + 1),
      "attempted" -> attempted,
      "failures" -> failures,
      "oracles" -> names.map(q => q -> SparkEntry.oracleSql(q)).toMap) ++
      loaded.map("load_table" -> _) ++
      load.map(c => "load_bounds" -> c.bounds) ++
      kernels.map(_ => "kernel_rows" -> shape.kernelRows)
  }

  private def guarded[T](failures: mutable.ArrayBuffer[String], what: String)(body: => T): Option[T] =
    try Some(body) catch {
      case e: Throwable => failures += s"$what: ${e.toString.take(300)}"; None
    }

  /** Stops streams, clears the catalog (and the cache, if asked), empties
    * every root a pass writes to and collects the heap.
    */
  private def quiesce(spark: SparkSession, dirs: Seq[File], clearCache: Boolean): Unit = {
    spark.streams.active.foreach(_.stop())
    spark.catalog.listDatabases().collect().map(_.name).filter(_ != "default")
      .foreach(db => spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE"))
    spark.catalog.listTables("default").collect().foreach { t =>
      if (t.isTemporary) spark.catalog.dropTempView(t.name)
      else spark.sql(s"DROP TABLE IF EXISTS `${t.name}`")
    }
    if (clearCache) spark.sqlContext.clearCache()
    dirs.foreach { d => wipe(d); d.mkdirs() }
    System.gc()
  }

  private def wipe(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).getOrElse(Array.empty).foreach(wipe)
    f.delete()
    ()
  }

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)
}
