package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries heavy-hitters summary: `graft_mg(item, k)` maintains at most
  * `k` counters over a stream of items and returns the surviving
  * `(item, est)` entries `(est DESC, item ASC)`-sorted as
  * `array<struct<item string, est bigint>>`.
  *
  * The deterministic frequency-sketch sibling of the CMS ([[graft.operators
  * .CountMin]] is randomized-hash, fixed-width, overestimates) and the
  * exact [[TopKAgg]] (which needs the exact per-item counts as its input
  * score — i.e. a full `(group, item)` pre-aggregation shuffle). MG runs
  * directly on the RAW occurrence stream: each map-side partial holds ≤ k
  * counters however many occurrences it absorbs, so what crosses the
  * exchange is `O(k · partitions)` per group — the one-pass
  * bounded-memory shape that survives vocabulary-scale cardinality at
  * 100 TB.
  *
  * Classic update (Misra & Gries 1982): increment a present counter; open
  * a new one while fewer than k are live; otherwise decrement ALL k
  * counters by one, dropping zeros. Pairwise merge (the mergeable-
  * summaries construction, Agarwal et al., PODS'12): sum counters
  * item-wise, and if more than k survive, subtract the (k+1)-th largest
  * count from every counter and drop the non-positive ones.
  *
  * Guarantees (public literature, preserved under arbitrary merge trees):
  * with n total occurrences and S = Σ retained estimates,
  *   - underestimate only:            est(x) ≤ true(x)
  *   - bounded deficit:               true(x) − est(x) ≤ (n − S) / (k+1)
  *   - no-false-negative coverage:    true(x) · (k+1) > n  ⇒  x retained
  *
  * The SUMMARY ITSELF is merge-tree-dependent (different partitionings
  * yield different retained sets/estimates outside the guarantees), so
  * correctness queries must hash the law BOOLEANS and the exact
  * ground-truth counts — never the raw estimates — the same discipline as
  * the theta/KLL sketch queries.
  *
  * Null items are skipped; an empty group evaluates to an empty array.
  * `k` must be a positive foldable literal — it bounds state.
  */
case class MisraGriesAgg(
    item: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {

  require(k > 0, s"graft_mg: k must be positive, got $k")

  override def children: Seq[Expression] = Seq(item)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("item", StringType, nullable = false),
      StructField("est", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    item.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_mg requires a string item, got ${other.sql}")
    }

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(
      buf: mutable.HashMap[String, Long], input: InternalRow): mutable.HashMap[String, Long] = {
    val i = item.eval(input)
    if (i != null) {
      val it = i.toString
      buf.get(it) match {
        case Some(c) => buf.update(it, c + 1L)
        case None if buf.size < k => buf.update(it, 1L)
        case None =>
          // decrement-all round: every live counter pays one, zeros retire
          val dead = mutable.ArrayBuffer.empty[String]
          buf.keysIterator.foreach { key =>
            val c = buf(key) - 1L
            if (c == 0L) dead += key else buf.update(key, c)
          }
          dead.foreach(buf.remove)
      }
    }
    buf
  }

  override def merge(
      buf: mutable.HashMap[String, Long],
      other: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    other.foreach { case (it, c) =>
      buf.update(it, buf.getOrElse(it, 0L) + c)
    }
    if (buf.size > k) {
      // subtract the (k+1)-th largest count from all, keep the positive
      val counts = buf.values.toArray
      java.util.Arrays.sort(counts)
      val cut = counts(counts.length - (k + 1)) // (k+1)-th largest
      val dead = mutable.ArrayBuffer.empty[String]
      buf.keysIterator.foreach { key =>
        val c = buf(key) - cut
        if (c <= 0L) dead += key else buf.update(key, c)
      }
      dead.foreach(buf.remove)
    }
    buf
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    val sorted = buf.toArray.sortBy { case (it, c) => (-c, it) }
    new GenericArrayData(sorted.map { case (it, c) =>
      new GenericInternalRow(Array[Any](UTF8String.fromString(it), c))
    }.toArray[Any])
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val entries = buf.toArray
    val items = entries.map { case (it, _) => it.getBytes("UTF-8") }
    val bb = java.nio.ByteBuffer.allocate(4 + entries.length * 12 + items.map(_.length).sum)
    bb.putInt(entries.length)
    entries.indices.foreach { i =>
      bb.putLong(entries(i)._2)
      bb.putInt(items(i).length)
      bb.put(items(i))
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val out = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) {
      val c = bb.getLong()
      val len = bb.getInt()
      val arr = new Array[Byte](len)
      bb.get(arr)
      out.update(new String(arr, "UTF-8"), c)
      i += 1
    }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(item = newChildren(0))
  override def prettyName: String = "graft_mg"
}

object FreqFunctions {

  /** Extract the foldable positive-int k argument (state bound must be a
    * plan literal — the [[TopKFunctions.kArg]] contract).
    */
  private[functions] def kArg(exprs: Seq[Expression]): Int = {
    val e = exprs(1)
    require(e.foldable, s"graft_mg: k must be a literal, got ${e.sql}")
    e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"graft_mg: k must be an integer literal, got $other")
    }
  }

  /** Misra–Gries summary column. */
  def misraGries(item: Column, k: Int): Column =
    call_function("graft_mg", item, org.apache.spark.sql.functions.lit(k))
}
