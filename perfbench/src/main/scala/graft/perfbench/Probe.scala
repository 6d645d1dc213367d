package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative, thread-safe counters fed by listeners on the Spark
  * listener bus. Readers call [[snapshot]] after [[drain]]; the difference
  * of two snapshots is what ran in between.
  */
final class Counters {
  private val adders = new ConcurrentHashMap[String, LongAdder]()

  def add(key: String, n: Long): Unit =
    if (n != 0L) adders.computeIfAbsent(key, _ => new LongAdder).add(n)

  def snapshot(): Map[String, Long] =
    adders.asScala.iterator.map { case (k, v) => k -> v.sum() }.toMap
}

object Counters {
  def diff(after: Map[String, Long], before: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
}

/** Job, stage and task counts with their executor metrics, and one count
  * per SQL execution start.
  */
final class SparkProbe(c: Counters) extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = c.add("jobs", 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = c.add("stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c.add("tasks", 1)
    val info = e.taskInfo
    if (info != null && !info.successful) c.add("failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      c.add("executor_run_ms", m.executorRunTime)
      c.add("executor_cpu_ns", m.executorCpuTime)
      c.add("task_gc_ms", m.jvmGCTime)
      c.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      c.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      c.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      c.add("input_bytes", m.inputMetrics.bytesRead)
      c.add("output_bytes", m.outputMetrics.bytesWritten)
      if (info != null && info.finished) {
        // the Spark UI's scheduler delay: task lifetime not spent running,
        // deserializing or serializing the result
        val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime
        c.add("sched_delay_ms", math.max(0L, delay))
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLExecutionStart => c.add("sql_execs", 1)
    case _ => ()
  }
}

/** Dataset actions (`collect`, `save`, ...) as the session reports them,
  * successful or not: the per-query count file's `actions` column.
  */
final class ActionProbe(c: Counters) extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    c.add("actions", 1)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    c.add("actions", 1)
}

/** Micro-batch progress: the trigger latencies the stream workload
  * reports, and the per-phase split of each trigger.
  */
final class StreamProbe(c: Counters) extends StreamingQueryListener {
  val triggerMs = new ConcurrentLinkedQueue[java.lang.Long]()
  private val peakStateRows = new ConcurrentHashMap[java.util.UUID, java.lang.Long]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    triggerMs.add(ms("triggerExecution"))
    c.add("triggers", 1)
    if (p.numInputRows == 0L) c.add("no_data_triggers", 1)
    Seq("addBatch", "getBatch", "walCommit", "commitOffsets", "queryPlanning")
      .foreach(k => c.add(s"${k}_ms", ms(k)))
    val ops = p.stateOperators
    c.add("state_commit_ms", ops.map(_.commitTimeMs).sum)
    val rows = ops.map(_.numRowsTotal).sum
    peakStateRows.merge(p.runId, rows, (a, b) => math.max(a.longValue, b.longValue))
  }

  /** Largest state held by each stream run, summed over the runs. */
  def stateRows: Long = peakStateRows.values.asScala.map(_.longValue).sum

  def reset(): Unit = { triggerMs.clear(); peakStateRows.clear() }
}

/** The listeners of one benchmark JVM. The stream probe stays attached
  * in every run (the stream workload's trigger latency needs it); the
  * Spark and action probes are attached only for traced passes.
  */
final class Probe(spark: SparkSession) {
  val counters = new Counters
  val stream = new StreamProbe(counters)
  private val sparkProbe = new SparkProbe(counters)
  private val actionProbe = new ActionProbe(counters)
  private var attached = false

  spark.streams.addListener(stream)

  def drain(): Unit = Bus.drain(spark.sparkContext)

  def trace(on: Boolean): Unit = if (on != attached) {
    drain()
    if (on) {
      spark.sparkContext.addSparkListener(sparkProbe)
      spark.listenerManager.register(actionProbe)
    } else {
      spark.sparkContext.removeSparkListener(sparkProbe)
      spark.listenerManager.unregister(actionProbe)
    }
    attached = on
  }

  def snapshot(): Map[String, Long] = { drain(); counters.snapshot() }
}
