package graft.obs

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftshim.ListenerBus
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** What ran during one [[Trace.capture]] body, each list in arrival order:
  * the session's successful statements (Dataset actions and commands), the
  * Spark jobs that started and ended, each finished task's input records,
  * and the micro-batch progress of every streaming query by name.
  */
final case class Trace(
    statements: Seq[Trace.Statement],
    jobs: Seq[Trace.Job],
    taskInputRecords: Seq[Long],
    progress: Map[String, Seq[StreamingQueryProgress]]) {

  def plans: Seq[String] = statements.map(_.qe.executedPlan.toString)

  def progressOf(queryName: String): Seq[StreamingQueryProgress] =
    progress.getOrElse(queryName, Nil)
}

object Trace {

  final case class Statement(funcName: String, qe: QueryExecution, durationNs: Long)

  /** `group` is the job's `spark.jobGroup.id`; `rootExecutionId` the SQL
    * execution that drove it (AQE sub-executions carry their own
    * `spark.sql.execution.id`, so the root id wins when present).
    */
  final case class Job(
      id: Int, group: Option[String], rootExecutionId: Option[Long],
      callSite: String, durationMs: Long)

  /** Run `body` with statement, job, task and streaming listeners attached
    * to `spark`; return its value and what ran. The listener bus is drained
    * before the trace is read, so it is complete on return, and the
    * listeners are detached however `body` ends.
    */
  def capture[T](spark: SparkSession)(body: => T): (T, Trace) = {
    val statements = new ConcurrentLinkedQueue[Statement]()
    val jobs = new ConcurrentLinkedQueue[Job]()
    val taskRecords = new ConcurrentLinkedQueue[java.lang.Long]()
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val started = new ConcurrentHashMap[Int, SparkListenerJobStart]()
    val sparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { started.put(e.jobId, e); () }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(started.remove(e.jobId)).foreach { s =>
          // properties is null for jobs submitted without local properties
          def prop(k: String) = Option(s.properties).flatMap(p => Option(p.getProperty(k)))
          val root = prop("spark.sql.execution.root.id").orElse(prop("spark.sql.execution.id"))
          // Dataset actions leave `callSite.short` unset; the final stage's
          // name is the call site Spark's UI shows for the job
          val site = prop("callSite.short")
            .orElse(s.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("?")
          jobs.add(Job(e.jobId, prop("spark.jobGroup.id"), root.map(_.toLong), site,
            e.time - s.time))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) taskRecords.add(e.taskMetrics.inputMetrics.recordsRead)
    }
    val statementListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        statements.add(Statement(funcName, qe, durationNs)); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val streamListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        progress.add(e.progress); ()
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(statementListener)
    spark.streams.addListener(streamListener)
    try {
      val out = body
      ListenerBus.drain(sc)
      (out, Trace(statements.asScala.toSeq, jobs.asScala.toSeq,
        taskRecords.asScala.map(_.longValue).toSeq,
        progress.asScala.toSeq.groupBy(p => Option(p.name).getOrElse(""))))
    } finally {
      sc.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(statementListener)
      spark.streams.removeListener(streamListener)
    }
  }
}
