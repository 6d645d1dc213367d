package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Native Catalyst dot product over two `array<double>` columns.
  *
  * The r1 implementation expressed the dot product as
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` — higher-order functions are
  * interpreted (no codegen) and allocate an intermediate 64-element array per
  * pair, which made the pairwise-cosine operators the 85%-of-bench hotspot.
  * This expression participates in whole-stage codegen as a tight primitive
  * loop over `ArrayData` (same left-to-right accumulation order, so results —
  * and the DuckDB `list_sum` oracles — are bit-identical to the r1 plans).
  *
  * Elements must be non-null (embedding vectors are); a null ARRAY input
  * yields null via the standard BinaryExpression null contract. Mismatched
  * lengths (a ragged vector, a wrong-dim hyperplane) THROW rather than
  * silently truncating — the DuckDB oracles iterate the full vector length,
  * so a truncated dot product would surface only as an opaque hash mismatch,
  * or not at all in oracle-less production use.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ =>
      TypeCheckResult.TypeCheckFailure(
        s"graft_dot requires two array<double> arguments, got ${left.dataType.sql} / ${right.dataType.sql}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) {
      throw new IllegalArgumentException(
        s"graft_dot: mismatched vector lengths $n vs ${y.numElements()}")
    }
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("sum")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "graft_dot: mismatched vector lengths " + $n + " vs " + $b.numElements());
         |}
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dot"
}

/** Element-wise sum aggregate over an `array<double>` column — the
  * embedding-centroid workhorse (`centroid = vec_sum(v) / count`).
  *
  * Without it, per-group vector averaging needs `posexplode` → n·dim rows
  * through the shuffle → per-(group, position) agg → re-collect, i.e. a
  * 64× row blow-up on 64-dim embeddings. This aggregate keeps ONE
  * dim-length double buffer per group per task: the map-side partial is a
  * single array, what crosses the shuffle per group is `8·dim` bytes, and
  * merge order cannot change the row count — the standard
  * `TypedImperativeAggregate` shape Spark uses for its own sketches.
  *
  * Null input vectors are skipped (contribute nothing); an all-null/empty
  * group evaluates to null. Mismatched vector lengths THROW — same strict
  * contract as [[DotProduct]], a ragged corpus must not silently fold into
  * a wrong-dimension centroid. Summation order across rows is runtime
  * partition/merge order, so double rounding noise (~1e-15 relative) is
  * possible run-to-run — consumers comparing against an oracle follow the
  * repo-wide `round(·, 6)` discipline.
  */
/** Native Catalyst integer squared-L2 distance over two `array<long>`
  * quantization-code columns: `Σ_i (a_i − b_i)²` as one exact long.
  *
  * The KNN-Shapley routes expressed this as
  * `aggregate(zip_with(a, b, (x, y) => (x−y)·(x−y)), 0L, _+_)` — higher-order
  * functions are interpreted (no whole-stage codegen) and allocate an
  * intermediate 64-element array per PAIR, and the exact route evaluates it
  * |test|·|train| times. Same [[DotProduct]] discipline: a tight primitive
  * loop, left-to-right accumulation (integer adds — bitwise-identical to the
  * HOF chain and the DuckDB `list_sum` replays), null ARRAY inputs null out
  * via the BinaryExpression contract, and mismatched lengths THROW rather
  * than silently truncating. A null ELEMENT on either side nulls the
  * distance out — exactly what the replaced chain did (`zip_with` emits a
  * null term, the `aggregate` fold absorbs it into a null sum), so the
  * kernel can never silently diverge if a null element ever reaches this
  * path (ADVICE r16).
  */
case class SqDistLong(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType

  override def nullable: Boolean = left.nullable || right.nullable ||
    elementsNullable(left) || elementsNullable(right)

  private def elementsNullable(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, n) => n
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ =>
      TypeCheckResult.TypeCheckFailure(
        s"graft_sqdist_l requires two array<bigint> arguments, got ${left.dataType.sql} / ${right.dataType.sql}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) {
      throw new IllegalArgumentException(
        s"graft_sqdist_l: mismatched vector lengths $n vs ${y.numElements()}")
    }
    var s = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getLong(i) - y.getLong(i); s += d * d; i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("sum")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "graft_sqdist_l: mismatched vector lengths " + $n + " vs " + $b.numElements());
         |}
         |long $s = 0L;
         |for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; }
         |  else { long $d = $a.getLong($i) - $b.getLong($i); $s += $d * $d; }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_sqdist_l"
}

/** Native Catalyst equal-slot count over two `array<long>` signature
  * columns — the MinHash slot-agreement estimator
  * (`est_jaccard = eq_count(sig_a, sig_b) / k`).
  *
  * The LSH verify stages expressed this as
  * `size(filter(zip_with(a, b, _===_), identity))` — three interpreted
  * higher-order functions and TWO intermediate 32-element arrays per
  * candidate PAIR. Identical result for the equal-length non-null
  * signatures both sides produce; mismatched lengths THROW (a bands/width
  * drift must not read as disagreement), null ARRAY inputs null out. A
  * null ELEMENT on either side is NOT counted — exactly what the replaced
  * chain did (`zip_with` emits a null comparison, `filter` drops the null
  * predicate row), so a null slot reads as disagreement, never as a crash
  * or a silent match (ADVICE r16).
  */
case class EqSlotCount(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ =>
      TypeCheckResult.TypeCheckFailure(
        s"graft_eq_count requires two array<bigint> arguments, got ${left.dataType.sql} / ${right.dataType.sql}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) {
      throw new IllegalArgumentException(
        s"graft_eq_count: mismatched signature lengths $n vs ${y.numElements()}")
    }
    var c = 0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i) && x.getLong(i) == y.getLong(i)) c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val c = ctx.freshName("cnt")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "graft_eq_count: mismatched signature lengths " + $n + " vs " + $b.numElements());
         |}
         |int $c = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i) && $a.getLong($i) == $b.getLong($i)) $c++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_eq_count"
}

/** Native Catalyst Johnson–Lindenstrauss ±1 projection over one embedding
  * row: `y_j = (Σ_i x_i · s_{j·inDim+i}) / scale` for j < outDim, the signs
  * riding the plan as ONE reference object instead of `outDim` interpreted
  * `aggregate(sequence(...))` chains that each rebuilt an `inDim`-element
  * literal array per row (the r16 SqDistLong lesson, applied to the JL
  * kernel). The fold is the identical left-to-right
  * `acc + (double)x_i · s_i` IEEE chain (multiply then add, seed 0.0, one
  * final divide), so results are bitwise equal to the HOF plan and the
  * DuckDB `list_reduce` replay; the caller applies the repo-wide
  * `round(·, 6)` AFTER its posexplode, unchanged.
  *
  * Null contract mirrors the replaced chain exactly: a null ARRAY nulls the
  * row out (UnaryExpression contract); a null ELEMENT nulls every component
  * (the old fold nulled each y_j — the output array here is all-null, so
  * the caller's posexplode still emits `outDim` null-valued rows).
  * A vector shorter/longer than `inDim` THROWS (the strictness discipline —
  * under ANSI the old `element_at` threw on short vectors too; a LONGER
  * vector silently projecting its prefix is the silent-divergence class
  * ADVICE_r16 flagged).
  */
case class RpProject(child: Expression, signs: Seq[Double], outDim: Int)
  extends UnaryExpression {
  require(outDim > 0 && signs.length % outDim == 0,
    s"graft_rp_project: ${signs.length} signs not divisible by outDim=$outDim")
  private val inDim: Int = signs.length / outDim

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_rp_project requires array<float> or array<double>, got ${other.sql}")
  }

  private def childIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  @transient private lazy val flat: Array[Double] = signs.toArray

  override def nullSafeEval(v: Any): Any =
    VectorFunctions.rpProject(v.asInstanceOf[ArrayData], flat, outDim, childIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rpSigns", flat, "double[]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.VectorFunctions.rpProject($v, $ref, $outDim, $childIsFloat);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_rp_project"
}

/** Native Catalyst element sum of one `array<long>` column — the
  * `aggregate(codes, 0L, _+_)` fingerprint fold as a codegen'd loop
  * (integer adds, order-free: bitwise identical to the HOF fold and the
  * DuckDB `list_sum`). Null ARRAY nulls out; null elements are impossible
  * on the quantization codes this serves, and THROW if they ever appear
  * (the silent-divergence discipline).
  */
case class ArraySumLong(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_arr_sum_l requires array<bigint>, got ${other.sql}")
  }
  override def nullSafeEval(a: Any): Any =
    VectorFunctions.arraySumLong(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.VectorFunctions.arraySumLong($a);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_arr_sum_l"
}

case class VectorSumAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Double]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_vec_sum requires array<double>, got ${t.sql}")
  }

  override def createAggregationBuffer(): Array[Double] = Array.emptyDoubleArray

  private def addInto(buf: Array[Double], arr: ArrayData): Array[Double] = {
    val n = arr.numElements()
    if (buf.isEmpty) {
      val out = new Array[Double](n)
      var i = 0
      while (i < n) { out(i) = arr.getDouble(i); i += 1 }
      out
    } else {
      if (buf.length != n) {
        throw new IllegalArgumentException(
          s"graft_vec_sum: mismatched vector lengths ${buf.length} vs $n")
      }
      var i = 0
      while (i < n) { buf(i) += arr.getDouble(i); i += 1 }
      buf
    }
  }

  override def update(buffer: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v == null) buffer else addInto(buffer, v.asInstanceOf[ArrayData])
  }

  override def merge(buffer: Array[Double], other: Array[Double]): Array[Double] =
    if (other.isEmpty) buffer
    else if (buffer.isEmpty) other
    else {
      if (buffer.length != other.length) {
        throw new IllegalArgumentException(
          s"graft_vec_sum: mismatched vector lengths ${buffer.length} vs ${other.length}")
      }
      var i = 0
      while (i < buffer.length) { buffer(i) += other(i); i += 1 }
      buffer
    }

  override def eval(buffer: Array[Double]): Any =
    if (buffer.isEmpty) null else new GenericArrayData(buffer)

  override def serialize(buffer: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buffer.length * 8)
    buffer.foreach(bb.putDouble)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new Array[Double](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getDouble(); i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorSumAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorSumAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(child = newChildren(0))
  override def prettyName: String = "graft_vec_sum"
}

/** Element-wise extreme (min or max) aggregate over an `array<double>`
  * column — the stats pass of scalar quantization (`codes = (v - min) /
  * (max - min)` needs the per-dimension corpus range).
  *
  * Same scale rationale as [[VectorSumAgg]]: the alternative is
  * `posexplode` → per-(dim) agg, a dim× row fan-out before the map-side
  * combine kicks in. This keeps ONE dim-length double buffer per group per
  * task and ships `8·dim` bytes per group through the shuffle. min/max are
  * order-insensitive, so unlike the sum there is no floating-point
  * merge-order noise at all — the result is bit-exact across partitionings
  * and engines (it's a selection, not arithmetic), which is what lets the
  * quantization oracle replay without rounding.
  *
  * Null vectors are skipped; an all-null/empty group evaluates to null;
  * mismatched lengths THROW (the [[DotProduct]] strictness contract).
  */
case class VectorExtremeAgg(
    child: Expression,
    isMin: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Double]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${t.sql}")
  }

  private def pick(a: Double, b: Double): Double =
    if (isMin) math.min(a, b) else math.max(a, b)

  override def createAggregationBuffer(): Array[Double] = Array.emptyDoubleArray

  override def update(buffer: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v == null) return buffer
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (buffer.isEmpty) {
      val out = new Array[Double](n)
      var i = 0
      while (i < n) { out(i) = arr.getDouble(i); i += 1 }
      out
    } else {
      if (buffer.length != n) {
        throw new IllegalArgumentException(
          s"$prettyName: mismatched vector lengths ${buffer.length} vs $n")
      }
      var i = 0
      while (i < n) { buffer(i) = pick(buffer(i), arr.getDouble(i)); i += 1 }
      buffer
    }
  }

  override def merge(buffer: Array[Double], other: Array[Double]): Array[Double] =
    if (other.isEmpty) buffer
    else if (buffer.isEmpty) other
    else {
      if (buffer.length != other.length) {
        throw new IllegalArgumentException(
          s"$prettyName: mismatched vector lengths ${buffer.length} vs ${other.length}")
      }
      var i = 0
      while (i < buffer.length) { buffer(i) = pick(buffer(i), other(i)); i += 1 }
      buffer
    }

  override def eval(buffer: Array[Double]): Any =
    if (buffer.isEmpty) null else new GenericArrayData(buffer)

  override def serialize(buffer: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buffer.length * 8)
    buffer.foreach(bb.putDouble)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new Array[Double](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getDouble(); i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorExtremeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorExtremeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(child = newChildren(0))
  override def prettyName: String = if (isMin) "graft_vec_min" else "graft_vec_max"
}

object VectorFunctions {

  /** Static kernel for [[RpProject]], invoked from whole-stage-generated
    * Java (the TextKernels static-forwarder pattern). Pure function of its
    * inputs; the fold order is the replaced HOF chain's exactly.
    */
  def rpProject(v: ArrayData, signs: Array[Double], outDim: Int, isFloat: Boolean): ArrayData = {
    val inDim = signs.length / outDim
    val n = v.numElements()
    if (n != inDim) {
      throw new IllegalArgumentException(
        s"graft_rp_project: vector length $n != inDim $inDim")
    }
    val scale = math.sqrt(outDim.toDouble)
    var i = 0
    while (i < inDim) {
      if (v.isNullAt(i)) return new GenericArrayData(new Array[Any](outDim))
      i += 1
    }
    val x = new Array[Double](inDim)
    i = 0
    while (i < inDim) {
      x(i) = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      i += 1
    }
    val out = new Array[Any](outDim)
    var j = 0
    while (j < outDim) {
      var acc = 0.0
      val base = j * inDim
      var t = 0
      while (t < inDim) { acc = acc + x(t) * signs(base + t); t += 1 }
      out(j) = acc / scale
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Static kernel for [[ArraySumLong]]. */
  def arraySumLong(a: ArrayData): Long = {
    val n = a.numElements()
    var s = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) {
        throw new IllegalArgumentException("graft_arr_sum_l: null element")
      }
      s += a.getLong(i)
      i += 1
    }
    s
  }

  /** Codegen'd element sum of an array<long> column. */
  def arraySumLongCol(a: Column): Column = call_function("graft_arr_sum_l", a)

  /** Codegen'd JL ±1 projection: embedding → array<double> of `outDim`
    * UNROUNDED components. `signsFlat` is the
    * row-major `outDim × inDim` sign matrix.
    */
  def rpProjectCol(vec: Column, signsFlat: Seq[Double], outDim: Int): Column = {
    import org.apache.spark.sql.functions.{lit, typedLit}
    call_function("graft_rp_project", vec, typedLit(signsFlat), lit(outDim))
  }

  /** Codegen'd dot product. */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Codegen'd integer squared-L2 over two array<long> code columns. */
  def sqDistLong(a: Column, b: Column): Column = call_function("graft_sqdist_l", a, b)

  /** Codegen'd equal-slot count over two array<long> signature columns. */
  def eqSlotCount(a: Column, b: Column): Column = call_function("graft_eq_count", a, b)

  /** Element-wise vector-sum aggregate. */
  def vecSum(v: Column): Column = call_function("graft_vec_sum", v)

  /** Element-wise vector-min / vector-max aggregates. */
  def vecMin(v: Column): Column = call_function("graft_vec_min", v)
  def vecMax(v: Column): Column = call_function("graft_vec_max", v)

  /** Deterministic pseudo-random hyperplane component in [-0.5, 0.5):
    * unsigned first-8-hex-chars of md5("&lt;plane&gt;_&lt;dim&gt;") / 2^32 - 0.5.
    * Engine-neutral — DuckDB oracles recompute the identical value with
    * `('0x' || substr(md5(p || '_' || j), 1, 8))::BIGINT / 4294967296.0 - 0.5`.
    * Computed ONCE here on the driver and shipped as literals, instead of
    * per-row md5 evaluation (the r1 plans re-derived every plane component
    * for every vector).
    */
  def planeComponent(plane: Int, dim: Int): Double = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${plane}_$dim".getBytes("UTF-8"))
    val hex = digest.take(4).map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0 - 0.5
  }

  /** The full plane as an array<double> literal column. */
  def planeLit(plane: Int, dim: Int): Column = {
    import org.apache.spark.sql.functions.{array, lit}
    array((0 until dim).map(j => lit(planeComponent(plane, j))): _*)
  }
}
