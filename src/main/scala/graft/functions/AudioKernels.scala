package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Perceptual AUDIO fingerprinting over DECODED samples — the 1-D analog
  * of [[ImageKernels]]' image dHash, computed from an uncompressed WAV
  * (RIFF PCM) payload with public byte arithmetic only: the container walk
  * is the same chunked RIFF parse [[MediaKernels]] sniffs (4-byte LE chunk
  * sizes, even-padded), and the samples are consecutive 16-bit
  * little-endian signed PCM values in the `data` chunk.
  *
  * The kernel: split the sample stream into 65 equal windows (truncating
  * the remainder), take each window's ENERGY (sum of absolute sample
  * values — loudness envelope), and emit one bit per adjacent window pair:
  * bit `k` is set iff `energy(k) < energy(k+1)` — 64 bits in one long.
  * Global gain changes scale every energy equally and preserve the
  * inequalities; a local edit flips only the bits whose windows it
  * touches. This is the energy-envelope fingerprint family (the shape
  * behind Chromaprint-style matchers, minus the spectral transform —
  * deliberately, so the whole pipeline stays exact-integer and
  * oracle-replayable), and it feeds the SAME banded Hamming index
  * ([[graft.operators.Dedup.hashBandPairs]]) the image hash uses.
  *
  * A fingerprinter CLASSIFIES, never throws: non-RIFF magic, missing
  * `fmt `/`data` chunks, compressed or non-16-bit PCM, or fewer than 65
  * samples → null.
  */
object AudioKernels {

  /** Window count: 65 windows → 64 adjacent-pair comparison bits. */
  val Windows = 65

  private def le16(b: Array[Byte], p: Int): Int =
    ((b(p + 1) & 0xff) << 8) | (b(p) & 0xff)
  private def le32(b: Array[Byte], p: Int): Long =
    ((b(p + 3) & 0xffL) << 24) | ((b(p + 2) & 0xffL) << 16) | ((b(p + 1) & 0xffL) << 8) | (b(p) & 0xffL)
  private def tagIs(b: Array[Byte], p: Int, t: String): Boolean = {
    var i = 0
    while (i < t.length) { if ((b(p + i) & 0xff) != t.charAt(i)) return false; i += 1 }
    true
  }

  /** The shared decode + FRAME-SAMPLE pass: WAV 16-bit PCM → the 65
    * per-window energies (sum of |sample| per equal-width window, exact
    * integers), or null for anything the PCM contract can't decode.
    * [[wavEnergyHash]] consumes this envelope one step further;
    * [[wavEnergyWindows]] exposes it directly as the real audio feature
    * (the envelope is what loudness normalization, silence trimming, and
    * the perceptual hash all read).
    */
  def wavEnergyEnvelope(bytes: Array[Byte]): Array[Long] = {
    val n = bytes.length
    if (n < 12 || !tagIs(bytes, 0, "RIFF") || !tagIs(bytes, 8, "WAVE")) return null
    var p = 12
    var fmtOk = false
    var dataAt = -1
    var dataLen = 0L
    while (p + 8 <= n && dataAt < 0) {
      val csz = le32(bytes, p + 4)
      if (tagIs(bytes, p, "fmt ") && csz >= 16 && p + 8 + 16 <= n) {
        // audio format 1 = PCM, 16 bits per sample — anything else needs a
        // real codec and must classify as unfingerprintable, not guess
        fmtOk = le16(bytes, p + 8) == 1 && le16(bytes, p + 8 + 14) == 16
      } else if (tagIs(bytes, p, "data")) {
        dataAt = p + 8
        dataLen = csz
      }
      if (csz > n) p = n else p += (8 + csz + (csz % 2)).toInt
    }
    if (!fmtOk || dataAt < 0) return null
    if (dataAt + dataLen > n) dataLen = (n - dataAt).toLong // truncated tail: use what's there
    val nSamples = (dataLen / 2).toInt
    if (nSamples < Windows) return null
    val win = nSamples / Windows
    val energy = new Array[Long](Windows)
    var w = 0
    while (w < Windows) {
      var j = 0
      var e = 0L
      val base = dataAt + 2 * w * win
      while (j < win) {
        val s = (le16(bytes, base + 2 * j) << 16) >> 16 // sign-extend
        e += math.abs(s)
        j += 1
      }
      energy(w) = e
      w += 1
    }
    energy
  }

  /** WAV 16-bit PCM → 64-bit energy-envelope hash, or null. */
  def wavEnergyHash(bytes: Array[Byte]): Any = {
    val energy = wavEnergyEnvelope(bytes)
    if (energy == null) return null
    var hash = 0L
    var k = 0
    while (k < 64) {
      if (energy(k) < energy(k + 1)) hash |= 1L << k
      k += 1
    }
    java.lang.Long.valueOf(hash)
  }

  /** [[wavEnergyEnvelope]] boxed for the expression layer. */
  def wavEnvelopeGrid(bytes: Array[Byte]): Any = {
    val e = wavEnergyEnvelope(bytes)
    if (e == null) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(e)
  }

  /** Codegen'd fingerprint: binary WAV payload → long (null when
    * unfingerprintable).
    */
  case class WavEnergyHash(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"graft_wav_ehash requires binary, got ${other.sql}")
    }
    override def nullSafeEval(b: Any): Any =
      AudioKernels.wavEnergyHash(b.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, b => s"""
        Object r = graft.functions.AudioKernels.wavEnergyHash($b);
        if (r == null) { ${ev.isNull} = true; } else { ${ev.value} = ((java.lang.Long) r).longValue(); }
      """)
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "graft_wav_ehash"
  }

  /** Codegen'd decode + frame-sample: binary WAV payload → array&lt;long&gt;
    * of the 65 window energies (null when undecodable).
    */
  case class WavEnvelope(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"graft_wav_envelope requires binary, got ${other.sql}")
    }
    override def nullSafeEval(b: Any): Any =
      AudioKernels.wavEnvelopeGrid(b.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, b => s"""
        Object r = graft.functions.AudioKernels.wavEnvelopeGrid($b);
        if (r == null) { ${ev.isNull} = true; }
        else { ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) r; }
      """)
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "graft_wav_envelope"
  }

  def wavEnergyHashCol(payload: Column): Column =
    call_function("graft_wav_ehash", payload)

  def wavEnvelopeCol(payload: Column): Column =
    call_function("graft_wav_envelope", payload)
}
