package graft.functions

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{CompactSketch, SetOperation, Sketches, Union}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Theta-sketch set operations (Apache DataSketches, bundled with Spark) —
  * the piece Spark's built-in HLL functions cannot express: HLL unions but
  * never INTERSECTS, so "users active in BOTH weeks" / "new vs churned"
  * audience math at 100 TB needs theta sketches (the published
  * DataSketches design: a theta sketch is a uniform hash SAMPLE of the key
  * set, so set algebra — union, intersection, A-not-B — runs on the
  * samples with known error bounds).
  *
  * Surface:
  *  - `graft_theta_sketch(key, lgK)` — aggregate: one mergeable compact
  *    sketch per group (map-side combined like any
  *    [[TypedImperativeAggregate]]; what crosses the shuffle is the ≤ 2^lgK
  *    retained hashes, not the keys).
  *  - `graft_theta_union(sketch, lgK)` — aggregate over already-built
  *    sketches: the rollup shape ([[graft.operators.Wau.wauSketchRollup]]'s
  *    HLL analog) — daily sketch rows union into weeks without rescanning.
  *  - `graft_theta_estimate(sk)`, `graft_theta_intersect_est(a, b)`,
  *    `graft_theta_anotb_est(a, b)` — scalar estimates; intersection and
  *    difference are where theta earns its place.
  *
  * Sketches stay EXACT below 2^lgK distinct keys per group (the retained
  * set IS the key hash set) and degrade to bounded-error estimates above —
  * queries validate with the [[graft.operators.Wau.wauValidated]]
  * tolerance-boolean pattern either way, so the hashed output never
  * contains a raw estimate.
  */
object ThetaFunctions {

  private def newUnion(lgK: Int): Union =
    SetOperation.builder().setLogNominalEntries(lgK).buildUnion()

  private def heapify(bytes: Array[Byte]): CompactSketch =
    Sketches.heapifyCompactSketch(Memory.wrap(bytes))

  /** Build aggregate: keys (bigint or string) → compact theta sketch bytes. */
  case class ThetaSketchAgg(
      child: Expression,
      lgK: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Union] {

    require(lgK >= 4 && lgK <= 26, s"graft_theta_sketch: lgK out of range: $lgK")

    override def children: Seq[Expression] = Seq(child)
    override def nullable: Boolean = false
    override def dataType: DataType = BinaryType
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case LongType | IntegerType | StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_theta_sketch requires bigint/int/string key, got ${other.sql}")
    }

    override def createAggregationBuffer(): Union = newUnion(lgK)

    override def update(buf: Union, input: InternalRow): Union = {
      child.eval(input) match {
        case null => ()
        case l: Long => buf.update(l)
        case i: Int => buf.update(i.toLong)
        case s: UTF8String => buf.update(s.toString)
        case other => throw new IllegalStateException(s"unexpected key: $other")
      }
      buf
    }

    override def merge(buf: Union, other: Union): Union = {
      buf.union(other.getResult())
      buf
    }

    override def eval(buf: Union): Any = buf.getResult().toByteArray

    // serialize as the stable compact-sketch format; a fresh union re-absorbs
    // it on deserialize (the DataSketches-recommended transport)
    override def serialize(buf: Union): Array[Byte] = buf.getResult().toByteArray
    override def deserialize(bytes: Array[Byte]): Union = {
      val u = newUnion(lgK)
      u.union(heapify(bytes))
      u
    }

    override def withNewMutableAggBufferOffset(newOffset: Int): ThetaSketchAgg =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): ThetaSketchAgg =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(child = newChildren(0))
    override def prettyName: String = "graft_theta_sketch"
  }

  /** Rollup aggregate: already-built sketch bytes → unioned sketch bytes. */
  case class ThetaUnionAgg(
      child: Expression,
      lgK: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Union] {

    require(lgK >= 4 && lgK <= 26, s"graft_theta_union: lgK out of range: $lgK")

    override def children: Seq[Expression] = Seq(child)
    override def nullable: Boolean = false
    override def dataType: DataType = BinaryType
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_theta_union requires binary sketches, got ${other.sql}")
    }

    override def createAggregationBuffer(): Union = newUnion(lgK)
    override def update(buf: Union, input: InternalRow): Union = {
      child.eval(input) match {
        case null => ()
        case b: Array[Byte] => buf.union(heapify(b))
      }
      buf
    }
    override def merge(buf: Union, other: Union): Union = {
      buf.union(other.getResult())
      buf
    }
    override def eval(buf: Union): Any = buf.getResult().toByteArray
    override def serialize(buf: Union): Array[Byte] = buf.getResult().toByteArray
    override def deserialize(bytes: Array[Byte]): Union = {
      val u = newUnion(lgK)
      u.union(heapify(bytes))
      u
    }
    override def withNewMutableAggBufferOffset(newOffset: Int): ThetaUnionAgg =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): ThetaUnionAgg =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(child = newChildren(0))
    override def prettyName: String = "graft_theta_union"
  }

  private def requireBinary(name: String, dts: Seq[DataType]): TypeCheckResult =
    if (dts.forall(_ == BinaryType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires binary sketch arguments, got ${dts.map(_.sql).mkString(", ")}")

  /** Distinct-count estimate of one sketch. */
  case class ThetaEstimate(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes(): TypeCheckResult =
      requireBinary(prettyName, Seq(child.dataType))
    override def nullSafeEval(b: Any): Any =
      heapify(b.asInstanceOf[Array[Byte]]).getEstimate
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, b =>
        s"${ev.value} = graft.functions.ThetaFunctions.estimate($b);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "graft_theta_estimate"
  }

  /** |A ∩ B| estimate — the operation HLL cannot do. */
  case class ThetaIntersectEstimate(left: Expression, right: Expression)
    extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes(): TypeCheckResult =
      requireBinary(prettyName, Seq(left.dataType, right.dataType))
    override def nullSafeEval(a: Any, b: Any): Any =
      ThetaFunctions.intersectEstimate(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.ThetaFunctions.intersectEstimate($a, $b);")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
    override def prettyName: String = "graft_theta_intersect_est"
  }

  /** |A \ B| estimate (new-vs-churned audience math). */
  case class ThetaANotBEstimate(left: Expression, right: Expression)
    extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes(): TypeCheckResult =
      requireBinary(prettyName, Seq(left.dataType, right.dataType))
    override def nullSafeEval(a: Any, b: Any): Any =
      ThetaFunctions.aNotBEstimate(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.ThetaFunctions.aNotBEstimate($a, $b);")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
    override def prettyName: String = "graft_theta_anotb_est"
  }

  // codegen entry points (static, null-safe via nullSafeCodeGen)
  def estimate(bytes: Array[Byte]): Double = heapify(bytes).getEstimate
  def intersectEstimate(a: Array[Byte], b: Array[Byte]): Double =
    SetOperation.builder().buildIntersection()
      .intersect(heapify(a), heapify(b)).getEstimate
  def aNotBEstimate(a: Array[Byte], b: Array[Byte]): Double =
    SetOperation.builder().buildANotB()
      .aNotB(heapify(a), heapify(b)).getEstimate

  private[functions] def lgKArg(name: String, e: Expression): Int = {
    require(e.foldable, s"$name: lgK must be a literal, got ${e.sql}")
    e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"$name: lgK must be an integer literal, got $other")
    }
  }

  def thetaSketch(key: Column, lgK: Int): Column =
    call_function("graft_theta_sketch", key, lit(lgK))
  def thetaUnion(sketch: Column, lgK: Int): Column =
    call_function("graft_theta_union", sketch, lit(lgK))
  def thetaEstimate(sketch: Column): Column =
    call_function("graft_theta_estimate", sketch)
  def thetaIntersectEst(a: Column, b: Column): Column =
    call_function("graft_theta_intersect_est", a, b)
  def thetaANotBEst(a: Column, b: Column): Column =
    call_function("graft_theta_anotb_est", a, b)
}
