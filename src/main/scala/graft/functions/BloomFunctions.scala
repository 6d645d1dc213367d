package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DataTypes, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Column access to Spark's own Bloom-filter machinery — the
  * [[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate]]
  * / [[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]]
  * pair Catalyst itself injects for runtime row-level filtering — so set
  * membership can ride a compact bitmap instead of a broadcast hash set.
  * The aggregate ORs fixed-seed xxhash64 bit positions, so the bitmap is
  * deterministic regardless of row or merge order; `mightContain` can
  * return a false POSITIVE but never a false negative, the asymmetry every
  * caller here leans on.
  */
object BloomFunctions {

  /** Bits for the standard optimal-m formula `-n·ln(p) / ln(2)²` — what
    * `spark.util.sketch.BloomFilter` allocates for (n, fpp).
    */
  def optimalNumBits(expectedItems: Long, fpp: Double): Long = {
    require(expectedItems > 0, s"expectedItems must be positive, got $expectedItems")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1), got $fpp")
    math.ceil(-expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong
  }

  /** Aggregate `v` (any xxhash64-able column) into a serialized Bloom filter
    * (binary). One pass, mergeable map-side partials (bitmap OR).
    */
  def bloomAgg(v: Column, expectedItems: Long, fpp: Double): Column =
    call_function(
      "graft_bloom_agg",
      xxhash64(v),
      lit(expectedItems),
      lit(optimalNumBits(expectedItems, fpp)))

  /** Membership probe of `v` against a serialized filter (usually a binary
    * literal riding the plan — Catalyst's own runtime-filter shape).
    */
  def bloomContains(filter: Column, v: Column): Column =
    call_function("graft_bloom_contains", filter, xxhash64(v))

  /** Static kernel for [[BloomCountIn]]: how many elements of `hs` the
    * deserialized filter might contain. Each probe is exactly the
    * [[bloomContains]] chain — `xxhash64(h)` (seed 42, the Catalyst
    * default) then `mightContainLong` — so the count equals the
    * interpreted `size(filter(hs, h => bloomContains(lit(bytes), h)))` it
    * replaces, which paid a per-element interpreted lambda AND a
    * per-element filter deserialization check.
    */
  def bloomCountIn(hs: ArrayData, bf: BloomFilter): Int = {
    val n = hs.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (bf.mightContainLong(XXH64.hashLong(hs.getLong(i), 42L))) c += 1
      i += 1
    }
    c
  }

  /** Codegen'd Bloom membership count over an array<long> hash column; the
    * serialized filter rides as one reference object and is deserialized
    * once per expression instance (the BloomFilterMightContain shape), not
    * once per probe.
    */
  case class BloomCountIn(child: Expression, filterBytes: Array[Byte])
    extends UnaryExpression {
    override def dataType: DataType = DataTypes.IntegerType
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_bloom_count_in requires array<bigint>, got ${other.sql}")
    }
    @transient private lazy val bf: BloomFilter =
      BloomFilter.readFrom(new java.io.ByteArrayInputStream(filterBytes))
    override def nullSafeEval(hs: Any): Any =
      BloomFunctions.bloomCountIn(hs.asInstanceOf[ArrayData], bf)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bloomCountFilter", bf,
        "org.apache.spark.util.sketch.BloomFilter")
      nullSafeCodeGen(ctx, ev, hs =>
        s"${ev.value} = graft.functions.BloomFunctions.bloomCountIn($hs, $ref);")
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "graft_bloom_count_in"
  }

  /** Extract a foldable binary literal function argument (the serialized
    * filter of `graft_bloom_count_in`).
    */
  private[functions] def binaryArg(fn: String, pos: Int, e: Expression): Array[Byte] = {
    require(e.foldable, s"$fn: argument ${pos + 1} must be a binary literal")
    e.eval() match {
      case b: Array[Byte] => b
      case other =>
        throw new IllegalArgumentException(
          s"$fn: argument ${pos + 1} must be a binary literal, got $other")
    }
  }

  /** Column form of [[BloomCountIn]]; the filter
    * bytes ride as a binary literal, deserialized once at plan time.
    */
  def bloomCountInCol(hs: Column, filterBytes: Array[Byte]): Column =
    call_function("graft_bloom_count_in", hs, lit(filterBytes))
}
