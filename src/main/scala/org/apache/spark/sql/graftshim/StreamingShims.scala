package org.apache.spark.sql.graftshim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.SparkSession

/** The one internal-API bridge the engine's V1 streaming source needs:
  * `MicroBatchExecution` asserts that a [[org.apache.spark.sql.execution
  * .streaming.Source.getBatch]] result carries `isStreaming = true`, and
  * the only way to tag a batch-planned frame that way is the session's
  * `private[sql] internalCreateDataFrame` — the exact call Spark's own
  * `FileStreamSource` makes (`FileStreamSource.scala`, `getBatch`), and
  * the same bridge Delta's V1 `DeltaSource` ships on. Scoped to this
  * single method; nothing else reaches past the public API.
  */
object StreamingShims {

  /** `df`'s physical plan re-wrapped as a streaming-tagged frame: the
    * batch plan (with its pushdown/pruning already applied) compiles to
    * an RDD once, and the wrapper only flips the `isStreaming` bit the
    * micro-batch runner checks.
    */
  def asStreamingBatch(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** The mirror bridge for a V1 `Sink.addBatch`: the frame Spark hands a
    * sink wraps the micro-batch's ALREADY-PLANNED incremental execution —
    * re-planning it through `df.write` would re-analyze a plan carrying
    * a streaming source and refuse. Re-wrapping the planned RDD as a
    * batch-tagged frame (what Delta's V1 `DeltaSink` does) lets the sink
    * run normal batch writes over exactly this batch's rows.
    */
  def asBatch(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** Analyze an UNRESOLVED logical plan into a frame through the
    * session's own analyzer — the bridge [[graft.sources.GraftSqlDml]]
    * uses to accept an inline `USING (SELECT …) AS s` MERGE source: the
    * subquery resolves exactly as `spark.sql` would resolve it, no temp
    * view registration required.
    */
  def analyze(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[SparkSession], plan)
}
