package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Real container-header decode over opaque `binary` media payloads — the
  * piece of the multimodal pipeline that needs no codec, only public byte
  * arithmetic from the format specifications:
  *
  *  - PNG (RFC 2083 / W3C spec): 8-byte signature, then length-prefixed
  *    chunks; IHDR carries width/height as 4-byte big-endian, bit depth and
  *    color type as single bytes (color type → sample-per-pixel channels).
  *  - JPEG (ITU T.81): `FFD8` SOI, then FF-marker segments each with a
  *    2-byte big-endian length (length includes itself, not the marker);
  *    the frame header SOFn (C0–CF minus C4/C8/CC) carries precision,
  *    height, width, and component count. Finding SOFn requires WALKING the
  *    variable-length APPn/COM segments via their length fields.
  *  - WAV (RIFF, Microsoft/IBM 1991): `RIFF` + size + `WAVE`, then tagged
  *    chunks with 4-byte LITTLE-endian sizes (padded to even); the `fmt `
  *    chunk carries channels/sample-rate/bits-per-sample, all LE.
  *
  * One codegen'd pass per row (the [[TextKernels]] expression pattern); the
  * payload bytes never leave the task. Unrecognized magic → format
  * `unknown` with null fields, truncated headers → the format name with
  * null fields — a sniffer must classify, never throw, at 100 TB.
  */
object MediaKernels {

  val headerSchema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", LongType, nullable = true),
    StructField("height", LongType, nullable = true),
    StructField("channels", LongType, nullable = true),
    StructField("sample_rate", LongType, nullable = true),
    StructField("bits", LongType, nullable = true)))

  private def be16(b: Array[Byte], p: Int): Long =
    ((b(p) & 0xffL) << 8) | (b(p + 1) & 0xffL)
  private def be32(b: Array[Byte], p: Int): Long =
    ((b(p) & 0xffL) << 24) | ((b(p + 1) & 0xffL) << 16) | ((b(p + 2) & 0xffL) << 8) | (b(p + 3) & 0xffL)
  private def le16(b: Array[Byte], p: Int): Long =
    ((b(p + 1) & 0xffL) << 8) | (b(p) & 0xffL)
  private def le32(b: Array[Byte], p: Int): Long =
    ((b(p + 3) & 0xffL) << 24) | ((b(p + 2) & 0xffL) << 16) | ((b(p + 1) & 0xffL) << 8) | (b(p) & 0xffL)
  private def tagIs(b: Array[Byte], p: Int, t: String): Boolean = {
    var i = 0
    while (i < t.length) { if ((b(p + i) & 0xff) != t.charAt(i)) return false; i += 1 }
    true
  }

  private val PngSig: Array[Int] = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)

  private def row(format: String, width: Any, height: Any, channels: Any,
                  sampleRate: Any, bits: Any): InternalRow =
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(format), width, height, channels, sampleRate, bits))

  /** PNG color type → samples per pixel (spec §4.1.1): greyscale 1,
    * truecolor 3, palette 1, grey+alpha 2, truecolor+alpha 4.
    */
  private def pngChannels(colorType: Int): Any = colorType match {
    case 0 => 1L
    case 2 => 3L
    case 3 => 1L
    case 4 => 2L
    case 6 => 4L
    case _ => null
  }

  /** SOFn frame markers: C0–CF minus C4 (DHT), C8 (JPG extension), CC (DAC). */
  private def isSof(marker: Int): Boolean =
    marker >= 0xc0 && marker <= 0xcf && marker != 0xc4 && marker != 0xc8 && marker != 0xcc

  def decodeHeader(bytes: Array[Byte]): InternalRow = {
    val n = bytes.length
    // ── PNG ──
    if (n >= 8 && (0 until 8).forall(i => (bytes(i) & 0xff) == PngSig(i))) {
      var p = 8
      // chunk walk: length(4 BE) + type(4) + data + crc(4); IHDR must come
      // first per spec but a sniffer verifies rather than assumes
      while (p + 8 <= n) {
        val clen = be32(bytes, p)
        if (tagIs(bytes, p + 4, "IHDR") && clen >= 13 && p + 8 + 13 <= n) {
          val colorType = bytes(p + 8 + 9) & 0xff
          return row("png", be32(bytes, p + 8), be32(bytes, p + 12),
            pngChannels(colorType), null, (bytes(p + 8 + 8) & 0xffL): java.lang.Long)
        }
        // a corrupt length field must terminate the walk, not wrap the cursor
        if (clen > n) p = n else p += (12 + clen).toInt
      }
      return row("png", null, null, null, null, null)
    }
    // ── JPEG ──
    if (n >= 2 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8) {
      var p = 2
      while (p + 1 < n && (bytes(p) & 0xff) == 0xff) {
        val marker = bytes(p + 1) & 0xff
        if (isSof(marker)) {
          // SOFn payload: length(2) precision(1) height(2) width(2) ncomp(1)
          if (p + 10 <= n)
            return row("jpeg", be16(bytes, p + 7), be16(bytes, p + 5),
              (bytes(p + 9) & 0xffL): java.lang.Long, null, (bytes(p + 4) & 0xffL): java.lang.Long)
          return row("jpeg", null, null, null, null, null)
        } else if (marker == 0xd8 || marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) {
          p += 2 // standalone markers carry no length field
        } else if (marker == 0xd9 || marker == 0xda) {
          p = n // EOI / start-of-scan: no frame header seen
        } else if (p + 4 <= n) {
          p += 2 + be16(bytes, p + 2).toInt // segment length includes itself
        } else {
          p = n
        }
      }
      return row("jpeg", null, null, null, null, null)
    }
    // ── WAV ──
    if (n >= 12 && tagIs(bytes, 0, "RIFF") && tagIs(bytes, 8, "WAVE")) {
      var p = 12
      while (p + 8 <= n) {
        val csz = le32(bytes, p + 4)
        if (tagIs(bytes, p, "fmt ") && csz >= 16 && p + 8 + 16 <= n) {
          return row("wav", null, null,
            le16(bytes, p + 10): java.lang.Long, le32(bytes, p + 12): java.lang.Long,
            le16(bytes, p + 22): java.lang.Long)
        }
        // chunks pad to even byte boundaries; corrupt sizes terminate the walk
        if (csz > n) p = n else p += (8 + csz + (csz % 2)).toInt
      }
      return row("wav", null, null, null, null, null)
    }
    row("unknown", null, null, null, null, null)
  }

  /** Codegen'd header sniff: binary payload →
    * struct&lt;format, width, height, channels, sample_rate, bits&gt;.
    */
  case class DecodeMediaHeader(child: Expression) extends UnaryExpression {
    override def dataType: DataType = headerSchema
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"graft_media_header requires binary, got ${other.sql}")
    }
    override def nullSafeEval(b: Any): Any =
      MediaKernels.decodeHeader(b.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, b =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) " +
          s"graft.functions.MediaKernels.decodeHeader($b);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "graft_media_header"
  }

  def decodeHeaderCol(payload: Column): Column =
    call_function("graft_media_header", payload)
}
