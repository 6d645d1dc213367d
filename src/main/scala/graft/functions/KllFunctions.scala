package graft.functions

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.quantilescommon.QuantileSearchCriteria

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

/** KLL quantile sketches (Apache DataSketches, bundled with Spark) as
  * FIRST-CLASS mergeable columns — the piece `percentile_approx` cannot
  * give you: Spark's built-in sketch lives and dies inside one
  * aggregation, so every new time grain rescans the raw data. Persisting
  * the per-partition KLL sketch as bytes and MERGING sketches (daily →
  * weekly → monthly, exactly the [[ThetaFunctions]] /
  * [[graft.operators.Wau.wauSketchRollup]] rollup shape) re-aggregates
  * percentiles without touching history — the published KLL design
  * guarantees the merged sketch obeys the same normalized rank-error bound
  * ε(k) as a directly-built one.
  *
  * Surface: `graft_kll_sketch(v, k)` (build aggregate, double values),
  * `graft_kll_merge(sk, k)` (rollup aggregate over sketch bytes),
  * `graft_kll_quantile(sk, q)` (scalar estimate, INCLUSIVE criteria).
  * Estimates stay OUT of hashed query outputs (merge order varies with
  * partitioning); queries validate with measured rank-bound law columns.
  */
object KllFunctions {

  /** Build aggregate: double values → serialized KLL sketch bytes. */
  case class KllSketchAgg(
      child: Expression,
      k: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[KllDoublesSketch] {

    require(k >= 8 && k <= 65535, s"graft_kll_sketch: k out of range: $k")

    override def children: Seq[Expression] = Seq(child)
    override def nullable: Boolean = false
    override def dataType: DataType = BinaryType
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case DoubleType | FloatType | LongType | IntegerType =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_kll_sketch requires a numeric value, got ${other.sql}")
    }

    override def createAggregationBuffer(): KllDoublesSketch =
      KllDoublesSketch.newHeapInstance(k)

    override def update(buf: KllDoublesSketch, input: InternalRow): KllDoublesSketch = {
      child.eval(input) match {
        case null => ()
        case d: Double => buf.update(d)
        case f: Float => buf.update(f.toDouble)
        case l: Long => buf.update(l.toDouble)
        case i: Int => buf.update(i.toDouble)
        case other => throw new IllegalStateException(s"unexpected value: $other")
      }
      buf
    }

    override def merge(buf: KllDoublesSketch, other: KllDoublesSketch): KllDoublesSketch = {
      buf.merge(other)
      buf
    }

    override def eval(buf: KllDoublesSketch): Any = buf.toByteArray
    override def serialize(buf: KllDoublesSketch): Array[Byte] = buf.toByteArray
    // heapify returns an UPDATABLE heap sketch — no fresh-instance+merge
    // (which would pay an extra compaction per deserialized buffer)
    override def deserialize(bytes: Array[Byte]): KllDoublesSketch =
      KllDoublesSketch.heapify(Memory.wrap(bytes))

    override def withNewMutableAggBufferOffset(newOffset: Int): KllSketchAgg =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): KllSketchAgg =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(child = newChildren(0))
    override def prettyName: String = "graft_kll_sketch"
  }

  /** Rollup aggregate: already-built sketch bytes → merged sketch bytes. */
  case class KllMergeAgg(
      child: Expression,
      k: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[KllDoublesSketch] {

    require(k >= 8 && k <= 65535, s"graft_kll_merge: k out of range: $k")

    override def children: Seq[Expression] = Seq(child)
    override def nullable: Boolean = false
    override def dataType: DataType = BinaryType
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_kll_merge requires binary sketches, got ${other.sql}")
    }

    override def createAggregationBuffer(): KllDoublesSketch =
      KllDoublesSketch.newHeapInstance(k)
    override def update(buf: KllDoublesSketch, input: InternalRow): KllDoublesSketch = {
      child.eval(input) match {
        case null => ()
        case b: Array[Byte] => buf.merge(KllDoublesSketch.heapify(Memory.wrap(b)))
      }
      buf
    }
    override def merge(buf: KllDoublesSketch, other: KllDoublesSketch): KllDoublesSketch = {
      buf.merge(other)
      buf
    }
    override def eval(buf: KllDoublesSketch): Any = buf.toByteArray
    override def serialize(buf: KllDoublesSketch): Array[Byte] = buf.toByteArray
    override def deserialize(bytes: Array[Byte]): KllDoublesSketch =
      KllDoublesSketch.heapify(Memory.wrap(bytes))
    override def withNewMutableAggBufferOffset(newOffset: Int): KllMergeAgg =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): KllMergeAgg =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(child = newChildren(0))
    override def prettyName: String = "graft_kll_merge"
  }

  /** Quantile estimate from sketch bytes (INCLUSIVE search criteria — the
    * library default: the returned value's rank is &ge; q). An EMPTY
    * sketch (an all-null group — the build aggregate skips nulls) yields
    * NaN rather than the library's exception: a data condition must not
    * crash the query, and NaN propagates visibly through any downstream
    * math.
    */
  case class KllQuantile(left: Expression, right: Expression)
    extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (BinaryType, DoubleType) => TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"graft_kll_quantile requires (binary, double), got (${l.sql}, ${r.sql})")
      }
    override def nullSafeEval(sk: Any, q: Any): Any =
      KllFunctions.quantile(sk.asInstanceOf[Array[Byte]], q.asInstanceOf[Double])
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, (sk, q) =>
        s"${ev.value} = graft.functions.KllFunctions.quantile($sk, $q);")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
    override def prettyName: String = "graft_kll_quantile"
  }

  // codegen entry point
  def quantile(bytes: Array[Byte], q: Double): Double = {
    val sk = KllDoublesSketch.heapify(Memory.wrap(bytes))
    if (sk.isEmpty) Double.NaN
    else sk.getQuantile(q, QuantileSearchCriteria.INCLUSIVE)
  }

  private[functions] def kArg(name: String, e: Expression): Int = {
    require(e.foldable, s"$name: k must be a literal, got ${e.sql}")
    e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"$name: k must be an integer literal, got $other")
    }
  }

  def kllSketch(v: Column, k: Int): Column =
    call_function("graft_kll_sketch", v, lit(k))
  def kllMerge(sketch: Column, k: Int): Column =
    call_function("graft_kll_merge", sketch, lit(k))
  def kllQuantile(sketch: Column, q: Column): Column =
    call_function("graft_kll_quantile", sketch, q)
}
