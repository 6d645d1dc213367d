package graft.obs

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.graftshim.Listeners
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.streaming.StreamingSessionize

class TraceSpec extends AnyFunSuite {
  import SparkTestSession._

  test("a fixed action's job and statement counts are exact on return, no sleep") {
    spark.sparkContext.setJobGroup("tracespec-counts", "trace counts")
    val (rows, trace) =
      try Trace.capture(spark)(spark.range(0, 1000, 1, 4).collect())
      finally spark.sparkContext.clearJobGroup()
    assert(rows.length == 1000)
    // one collect: one statement, one shuffle-free job of 4 tasks
    assert(trace.statements.map(_.funcName) == Seq("collect"), trace.statements)
    assert(trace.jobs.size == 1, trace.jobs)
    val job = trace.jobs.head
    assert(job.group.contains("tracespec-counts") && job.rootExecutionId.isDefined, job)
    assert(trace.taskInputRecords.size == 4, trace.taskInputRecords)
  }

  test("a memory-sink drain's progress is captured under its query name") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Long]
    input.addData(1L, 2L, 3L)
    val (sink, trace) = Trace.capture(spark)(
      StreamingSessionize.drainToMemory(input.toDF(), "tracespec_sink"))
    assert(sink.count() == 3L)
    val progress = trace.progressOf("tracespec_sink")
    assert(progress.nonEmpty, trace.progress.keySet)
    assert(progress.map(_.numInputRows).sum == 3L)
  }

  test("listeners are detached after a body that throws") {
    val before = Listeners.count(spark)
    val e = intercept[IllegalStateException] {
      Trace.capture(spark) {
        assert(Listeners.count(spark) != before, "capture attached no listener")
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(Listeners.count(spark) == before)
  }
}

/** Plan readers the specs share over captured statements. */
object TraceSpec extends AdaptiveSparkPlanHelper {

  /** Every file-source scan of `plan`: through AQE stages, subqueries and
    * the plans of cached relations it reads.
    */
  def fileScans(plan: SparkPlan): Seq[FileSourceScanExec] =
    collectWithSubqueries(plan) {
      case s: FileSourceScanExec => Seq(s)
      case m: InMemoryTableScanExec => fileScans(m.relation.cachedPlan)
    }.flatten

  /** The members of `files` that a scan of `trace`'s statements read,
    * matched by file name.
    */
  def filesRead(trace: Trace, files: Set[String]): Set[String] = {
    def name(f: String) = new org.apache.hadoop.fs.Path(f).getName
    val read = trace.statements.flatMap(st => fileScans(st.qe.executedPlan))
      .flatMap(_.relation.location.inputFiles).map(name).toSet
    files.filter(f => read(name(f)))
  }
}
