package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bounded group-wise top-k aggregate: `graft_topk(item, score, k)` keeps
  * the k best `(score DESC, item ASC)` entries per group and returns them
  * best-first as `array<struct<item string, score bigint>>`.
  *
  * Scale rationale — the window-rank idiom
  * (`row_number() OVER (PARTITION BY g ORDER BY n DESC)` then
  * `WHERE rank <= k`) shuffles EVERY candidate row to its group's
  * partition and sorts the full group before discarding all but k; the
  * per-group candidate count is unbounded (vocabulary-scale for token
  * stats). This aggregate is mergeable, so the map side combines each
  * partition down to ≤ k entries BEFORE the exchange: what crosses the
  * shuffle is `O(k · partitions)` per group regardless of candidate count,
  * and no sort node appears at all — the same reason Spark ships its own
  * sketches as `TypedImperativeAggregate`s. Selection is deterministic
  * (integer score, item tie-break), so the result is bit-identical to the
  * window route and DuckDB-replayable.
  *
  * Null item or null score rows are skipped; an empty group evaluates to
  * an empty array. `k` must be a positive foldable literal — it bounds
  * state, so a data-driven k would unbound the buffer.
  */
case class TopKAgg(
    item: Expression,
    score: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ArrayBuffer[(Long, String)]] {

  require(k > 0, s"graft_topk: k must be positive, got $k")

  override def children: Seq[Expression] = Seq(item, score)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("item", StringType, nullable = false),
      StructField("score", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (item.dataType, score.dataType) match {
      case (StringType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (i, s) => TypeCheckResult.TypeCheckFailure(
        s"graft_topk requires (string, bigint), got (${i.sql}, ${s.sql})")
    }

  // buffer invariant: sorted best-first by (score DESC, item ASC), size <= k
  private def better(aScore: Long, aItem: String, bScore: Long, bItem: String): Boolean =
    aScore > bScore || (aScore == bScore && aItem < bItem)

  private def insert(buf: ArrayBuffer[(Long, String)], s: Long, it: String): Unit = {
    if (buf.length == k) {
      val (ws, wi) = buf.last
      if (!better(s, it, ws, wi)) return
      buf.remove(buf.length - 1)
    }
    var pos = 0
    while (pos < buf.length && better(buf(pos)._1, buf(pos)._2, s, it)) pos += 1
    buf.insert(pos, (s, it))
  }

  override def createAggregationBuffer(): ArrayBuffer[(Long, String)] =
    ArrayBuffer.empty

  override def update(
      buf: ArrayBuffer[(Long, String)], input: InternalRow): ArrayBuffer[(Long, String)] = {
    val i = item.eval(input)
    val s = score.eval(input)
    if (i != null && s != null) insert(buf, s.asInstanceOf[Long], i.toString)
    buf
  }

  override def merge(
      buf: ArrayBuffer[(Long, String)],
      other: ArrayBuffer[(Long, String)]): ArrayBuffer[(Long, String)] = {
    other.foreach { case (s, it) => insert(buf, s, it) }
    buf
  }

  override def eval(buf: ArrayBuffer[(Long, String)]): Any =
    new GenericArrayData(buf.map { case (s, it) =>
      new GenericInternalRow(Array[Any](UTF8String.fromString(it), s))
    }.toArray[Any])

  override def serialize(buf: ArrayBuffer[(Long, String)]): Array[Byte] = {
    val items = buf.map { case (_, it) => it.getBytes("UTF-8") }
    val bb = java.nio.ByteBuffer.allocate(4 + buf.length * 12 + items.map(_.length).sum)
    bb.putInt(buf.length)
    buf.indices.foreach { i =>
      bb.putLong(buf(i)._1)
      bb.putInt(items(i).length)
      bb.put(items(i))
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[(Long, String)] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val out = new ArrayBuffer[(Long, String)](n)
    var i = 0
    while (i < n) {
      val s = bb.getLong()
      val len = bb.getInt()
      val arr = new Array[Byte](len)
      bb.get(arr)
      out += ((s, new String(arr, "UTF-8")))
      i += 1
    }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(item = newChildren(0), score = newChildren(1))
  override def prettyName: String = "graft_topk"
}

object TopKFunctions {

  /** Extract the foldable positive-int k argument (the [[TextKernels]]
    * `intArg` contract: state bounds must be plan literals).
    */
  private[functions] def kArg(exprs: Seq[Expression]): Int = {
    val e = exprs(2)
    require(e.foldable, s"graft_topk: k must be a literal, got ${e.sql}")
    e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"graft_topk: k must be an integer literal, got $other")
    }
  }

  /** Bounded top-k aggregate column. */
  def topK(item: Column, score: Column, k: Int): Column =
    call_function("graft_topk", item, score, org.apache.spark.sql.functions.lit(k))
}
