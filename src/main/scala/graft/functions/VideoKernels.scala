package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** REAL frame iteration over an animated-GIF container (GIF89a, the
  * public CompuServe/W3C specification) — the moving-image analog of
  * [[MediaKernels]]' header sniff and the non-stub counterpart of
  * [[graft.operators.Multimodal.frameHashes]]' fixed-size chunking: a
  * GIF's frames are length-delimited BLOCKS that must be WALKED (skipping
  * color tables by their descriptor bits and data sub-blocks by their
  * length prefixes), exactly the access pattern a real video demuxer has.
  * No LZW decode — frame timing and geometry live entirely in the
  * container structure:
  *
  *  - header `GIF87a`/`GIF89a`, then the 7-byte logical screen descriptor
  *    (canvas width/height LE16, packed flags whose bit 7 announces a
  *    global color table of `3·2^(n+1)` bytes);
  *  - `0x21` extension blocks (label + length-prefixed sub-blocks,
  *    0-terminated) — the graphic-control extension (label `0xF9`)
  *    carries the NEXT frame's delay in centiseconds (LE16 at offset 1 of
  *    its 4-byte body);
  *  - `0x2C` image descriptors — one per FRAME: 8 bytes of geometry, a
  *    packed byte whose bit 7 announces a local color table, the LZW
  *    minimum-code-size byte, then the compressed data as 0-terminated
  *    sub-blocks;
  *  - `0x3B` trailer.
  *
  * One codegen'd walk per row; a sampler CLASSIFIES, never throws —
  * wrong magic or a truncated walk → null struct fields.
  */
object VideoKernels {

  val gifSchema: StructType = StructType(Seq(
    StructField("width", LongType, nullable = true),
    StructField("height", LongType, nullable = true),
    StructField("n_frames", LongType, nullable = true),
    StructField("total_delay_cs", LongType, nullable = true),
    StructField("delays_cs", ArrayType(LongType, containsNull = false), nullable = true)))

  private def le16(b: Array[Byte], p: Int): Long =
    ((b(p + 1) & 0xffL) << 8) | (b(p) & 0xffL)

  private val NullRow: InternalRow =
    new GenericInternalRow(Array[Any](null, null, null, null, null))

  /** GIF container walk → (width, height, n_frames, total_delay_cs,
    * per-frame delays). Null row for non-GIF or truncated payloads.
    */
  def gifFrames(bytes: Array[Byte]): InternalRow = {
    val n = bytes.length
    def magicOk: Boolean =
      n >= 13 && bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F' &&
        bytes(3) == '8' && (bytes(4) == '7' || bytes(4) == '9') && bytes(5) == 'a'
    if (!magicOk) return NullRow
    val width = le16(bytes, 6)
    val height = le16(bytes, 8)
    val packed = bytes(10) & 0xff
    var p = 13
    if ((packed & 0x80) != 0) p += 3 * (1 << ((packed & 0x07) + 1)) // global color table
    var pendingDelay = 0L
    val delays = scala.collection.mutable.ArrayBuffer.empty[Long]
    // skip 0-terminated data sub-blocks; returns -1 on truncation
    def skipSubBlocks(start: Int): Int = {
      var q = start
      while (q < n && (bytes(q) & 0xff) != 0) q += 1 + (bytes(q) & 0xff)
      if (q >= n) -1 else q + 1
    }
    while (p < n) {
      (bytes(p) & 0xff) match {
        case 0x3b => // trailer: a clean end
          return new GenericInternalRow(Array[Any](
            width, height, delays.length.toLong, delays.sum,
            new GenericArrayData(delays.toArray)))
        case 0x21 => // extension: label + sub-blocks
          if (p + 2 >= n) return NullRow
          val label = bytes(p + 1) & 0xff
          if (label == 0xf9 && p + 6 < n && (bytes(p + 2) & 0xff) >= 4)
            pendingDelay = le16(bytes, p + 4) // GCE body: packed, delay LE16, transparent idx
          p = skipSubBlocks(p + 2)
          if (p < 0) return NullRow
        case 0x2c => // image descriptor: one frame
          if (p + 10 >= n) return NullRow
          val ipacked = bytes(p + 9) & 0xff
          var q = p + 10
          if ((ipacked & 0x80) != 0) q += 3 * (1 << ((ipacked & 0x07) + 1)) // local color table
          q += 1 // LZW minimum code size
          if (q > n) return NullRow
          delays += pendingDelay
          pendingDelay = 0L
          p = skipSubBlocks(q)
          if (p < 0) return NullRow
        case _ =>
          return NullRow // unknown block: a sampler classifies, never guesses
      }
    }
    NullRow // ran off the end without a trailer: truncated
  }

  /** Codegen'd walk: binary GIF payload →
    * struct&lt;width, height, n_frames, total_delay_cs, delays_cs&gt;.
    */
  case class GifFrames(child: Expression) extends UnaryExpression {
    override def dataType: DataType = gifSchema
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"graft_gif_frames requires binary, got ${other.sql}")
    }
    override def nullSafeEval(b: Any): Any =
      VideoKernels.gifFrames(b.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, b =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) " +
          s"graft.functions.VideoKernels.gifFrames($b);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "graft_gif_frames"
  }

  def gifFramesCol(payload: Column): Column =
    call_function("graft_gif_frames", payload)
}
