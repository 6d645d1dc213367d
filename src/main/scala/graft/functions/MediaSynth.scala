package graft.functions

import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Codegen'd synthesis of the deterministic media payloads
  * ([[graft.operators.Multimodal]] fixtures): the PPM image, the per-frame
  * video PPM, and the PCM WAV clip, each a pure byte function of the row id
  * (and frame number) that the DuckDB oracle replays from arithmetic.
  *
  * The replaced shape was a nested interpreted `transform(sequence(...))`
  * lambda per ROW — 144 md5-plus-string-assembly evaluations per image (one
  * per (pixel-row, cell)), 65 per clip, none of it inside whole-stage
  * codegen. Each kernel here computes the IDENTICAL bytes in one compiled
  * pass per row (72 md5s per image — the cell field, not the per-pixel-row
  * re-derivation — written straight into the output buffer).
  *
  * Bit-compat notes, pinned by MultimodalSynthSpec against the retained
  * interpreted builders:
  *  - `id / 4` and `frame / sceneLen` reproduce Spark's integral `/`
  *    (true DOUBLE division, then cast-truncation toward zero);
  *  - md5 keys are the exact `"<g>_<cx>_<cy>"` decimal strings;
  *  - byte values reproduce `pmod(base + perturb, 256)` /
  *    `pmod(amp, 256)` + `(amp / 256) cast long`;
  *  - a NULL id (or frame) is handled at the CALL SITE: the interpreted
  *    `array_join` skipped the null cells and produced a header-only
  *    payload, so [[graft.operators.Multimodal]] guards
  *    `when(isNull, header).otherwise(kernel)` and the kernels stay
  *    null-in-null-out like every other graft expression.
  */
object MediaSynth {

  private def md5(key: String): Array[Byte] =
    java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes(US_ASCII))

  /** Spark's `longCol / intLit` is TRUE double division; the truncating
    * cast back to long is what the interpreted builders did. Identical for
    * every id below 2^52 and faithfully identical (double rounding and
    * all) above.
    */
  private def divTrunc(n: Long, d: Long): Long = (n.toDouble / d.toDouble).toLong

  private def pmod4(n: Long): Long = ((n % 4L) + 4L) % 4L

  // ── PPM (P6) 18×16, the withPpmPayload cell field ─────────────────────

  val PpmHeader: Array[Byte] = "P6\n18 16\n255\n".getBytes(US_ASCII)
  private val PpmRowBytes = 54 // 9 cells × 6 bytes (2 px × RGB)
  private val PpmBytes = PpmHeader.length + 16 * PpmRowBytes

  /** One image: header + 16 pixel rows of the 9×8 cell field. */
  def ppmPayload(id: Long): Array[Byte] = {
    val g = divTrunc(id, 4L)
    val v = pmod4(id)
    val out = new Array[Byte](PpmBytes)
    System.arraycopy(PpmHeader, 0, out, 0, PpmHeader.length)
    val gs = java.lang.Long.toString(g)
    var cy = 0
    while (cy < 8) {
      var cx = 0
      while (cx < 9) {
        val base = md5(s"${gs}_${cx}_$cy")(0) & 0xff
        val topLeft = cx == 0 && cy == 0
        val bottomRight = cx == 8 && cy == 7
        val perturb =
          if (v == 1L && topLeft) 100
          else if (v == 2L && (topLeft || bottomRight)) 100
          else if (v == 3L && (cx + cy) % 2 == 0) 128
          else 0
        val b = ((base + perturb) % 256).toByte
        // the cell's 6 bytes land in BOTH pixel rows of the 2×2 cell
        var row = 0
        while (row < 2) {
          val o = PpmHeader.length + (2 * cy + row) * PpmRowBytes + cx * 6
          var i = 0
          while (i < 6) { out(o + i) = b; i += 1 }
          row += 1
        }
        cx += 1
      }
      cy += 1
    }
    out
  }

  /** One VIDEO FRAME image: the withVideoFrames cell field — keyed by
    * `"<id>_<scene>_<cx>_<cy>"` with the frame-variant perturbations
    * (v1: top-left +100, v2: both corners +100, v3: bottom-right +100).
    */
  def ppmFramePayload(id: Long, frameNo: Long, sceneLen: Long): Array[Byte] = {
    val scene = divTrunc(frameNo, sceneLen)
    val v = pmod4(frameNo)
    val out = new Array[Byte](PpmBytes)
    System.arraycopy(PpmHeader, 0, out, 0, PpmHeader.length)
    val prefix = s"${id}_$scene"
    var cy = 0
    while (cy < 8) {
      var cx = 0
      while (cx < 9) {
        val base = md5(s"${prefix}_${cx}_$cy")(0) & 0xff
        val topLeft = cx == 0 && cy == 0
        val bottomRight = cx == 8 && cy == 7
        val perturb =
          if (v == 1L && topLeft) 100
          else if (v == 2L && (topLeft || bottomRight)) 100
          else if (v == 3L && bottomRight) 100
          else 0
        val b = ((base + perturb) % 256).toByte
        var row = 0
        while (row < 2) {
          val o = PpmHeader.length + (2 * cy + row) * PpmRowBytes + cx * 6
          var i = 0
          while (i < 6) { out(o + i) = b; i += 1 }
          row += 1
        }
        cx += 1
      }
      cy += 1
    }
    out
  }

  // ── WAV (PCM mono 16-bit), the withWavPayload envelope ────────────────

  private val WavWindows = 65
  private val WavSamplesPerWindow = 8
  private val WavDataLen = WavWindows * WavSamplesPerWindow * 2

  /** The fixed 44-byte RIFF/fmt/data header the interpreted builder
    * emitted as a hex literal.
    */
  val WavHeader: Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(44)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes(US_ASCII)).putInt(4 + 24 + 8 + WavDataLen)
    b.put("WAVE".getBytes(US_ASCII))
    b.put("fmt ".getBytes(US_ASCII)).putInt(16)
    b.putShort(1).putShort(1).putInt(8000).putInt(16000).putShort(2).putShort(16)
    b.put("data".getBytes(US_ASCII)).putInt(WavDataLen)
    b.array()
  }

  def wavPayload(id: Long): Array[Byte] = {
    val g = divTrunc(id, 4L)
    val v = pmod4(id)
    val out = new Array[Byte](44 + WavDataLen)
    System.arraycopy(WavHeader, 0, out, 0, 44)
    val gs = java.lang.Long.toString(g)
    val salt = if (v == 3L) "_x" else ""
    var w = 0
    while (w < WavWindows) {
      val d = md5(s"${gs}_$w$salt")
      // first THREE hex digits of the md5 = the top 12 bits of the digest
      val baseAmp = ((d(0) & 0xff) << 4) | ((d(1) & 0xff) >>> 4)
      val amp = baseAmp +
        (if ((v == 1L && w == 0) || (v == 2L && (w == 0 || w == 64))) 20000 else 0)
      val lo = (amp & 0xff).toByte
      val hi = (amp >>> 8).toByte
      var s = 0
      while (s < WavSamplesPerWindow) {
        val o = 44 + (w * WavSamplesPerWindow + s) * 2
        out(o) = lo
        out(o + 1) = hi
        s += 1
      }
      w += 1
    }
    out
  }

  // ── expressions ────────────────────────────────────────────────────────

  private def requireLong(name: String, e: Expression): TypeCheckResult =
    e.dataType match {
      case LongType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"$name requires bigint, got ${other.sql}")
    }

  /** Codegen'd `graft_ppm_payload(id)` → binary. */
  case class PpmPayload(child: Expression) extends UnaryExpression {
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = child.nullable
    override def checkInputDataTypes(): TypeCheckResult =
      requireLong("graft_ppm_payload", child)
    override def nullSafeEval(id: Any): Any =
      MediaSynth.ppmPayload(id.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, id => s"graft.functions.MediaSynth.ppmPayload($id)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "graft_ppm_payload"
  }

  /** Codegen'd `graft_wav_payload(id)` → binary. */
  case class WavPayload(child: Expression) extends UnaryExpression {
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = child.nullable
    override def checkInputDataTypes(): TypeCheckResult =
      requireLong("graft_wav_payload", child)
    override def nullSafeEval(id: Any): Any =
      MediaSynth.wavPayload(id.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, id => s"graft.functions.MediaSynth.wavPayload($id)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "graft_wav_payload"
  }

  /** Codegen'd `graft_ppm_frame_payload(id, frame_no, scene_len)` →
    * binary. `scene_len` is a long literal at the one call site; it rides
    * as a third child so the kernel is injected like every other graft
    * function.
    */
  case class PpmFramePayload(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression {
    override def dataType: DataType = BinaryType
    override def nullable: Boolean =
      first.nullable || second.nullable || third.nullable
    override def checkInputDataTypes(): TypeCheckResult =
      Seq(first, second, third).view
        .map(requireLong("graft_ppm_frame_payload", _))
        .collectFirst { case f: TypeCheckResult.TypeCheckFailure => f }
        .getOrElse(TypeCheckResult.TypeCheckSuccess)
    override def nullSafeEval(id: Any, fr: Any, sl: Any): Any =
      MediaSynth.ppmFramePayload(
        id.asInstanceOf[Long], fr.asInstanceOf[Long], sl.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (id, fr, sl) =>
        s"graft.functions.MediaSynth.ppmFramePayload($id, $fr, $sl)")
    override protected def withNewChildrenInternal(
        newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
      copy(first = newFirst, second = newSecond, third = newThird)
    override def prettyName: String = "graft_ppm_frame_payload"
  }

  def ppmPayloadCol(id: Column): Column = call_function("graft_ppm_payload", id)

  def wavPayloadCol(id: Column): Column = call_function("graft_wav_payload", id)

  def ppmFramePayloadCol(id: Column, frameNo: Column, sceneLen: Int): Column =
    call_function("graft_ppm_frame_payload", id, frameNo,
      org.apache.spark.sql.functions.lit(sceneLen.toLong))
}
