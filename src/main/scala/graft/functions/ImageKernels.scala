package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Perceptual image fingerprinting over DECODED pixels — the dHash
  * (difference hash) of the classic perceptual-dedup stack, computed from
  * an uncompressed PPM (P6) payload with nothing but public byte
  * arithmetic: the netpbm format is an ASCII header (`P6`, width, height,
  * maxval, each separated by whitespace, `#` comment lines allowed) followed
  * by a row-major `3·w·h` RGB raster at one byte per sample (maxval ≤ 255).
  * No codec dependency — which is exactly why production perceptual dedup
  * runs dHash over a DECODED grid, not over compressed container bytes
  * (two JPEG encodes of the same picture share no bytes but share a dHash).
  *
  * The kernel: ITU-R 601 integer luminance `(299·R + 587·G + 114·B) / 1000`
  * per pixel, average-pooled (as 2×2-exact block SUMS — comparing sums is
  * comparing means) onto a 9-column × 8-row grid, then one bit per
  * horizontally adjacent cell pair: bit `r·8+c` is set iff
  * `cell(r,c) < cell(r,c+1)` — 64 bits packed into one long. Brightness
  * and contrast shifts preserve the inequalities; small local edits flip
  * only the bits whose cells they touch, which is what makes banded
  * Hamming search ([[graft.operators.Dedup]]'s SimHash discipline) work.
  *
  * One codegen'd pass per row (the [[MediaKernels]] pattern); a sniffer
  * CLASSIFIES, never throws: non-P6 magic, maxval ≠ 255, truncated raster,
  * or dimensions not pooling evenly onto the 9×8 grid → null.
  */
object ImageKernels {

  /** dHash grid geometry: 9 columns × 8 rows → 8·8 = 64 comparison bits. */
  val GridCols = 9
  val GridRows = 8

  /** PPM P6 → 64-bit dHash, or null for anything the contract can't
    * fingerprint. Exposed for the oracle-replay spec; the hot path is the
    * [[PpmDhash]] expression calling this per row.
    */
  /** The shared decode + RESIZE pass: PPM P6 → the 9×8 average-pooled
    * luminance grid as 72 row-major BLOCK SUMS (exact integers), or null
    * for anything the contract can't decode. [[ppmDhash]] consumes this
    * grid one step further; [[ppmPooledGrid]] exposes it directly as the
    * real pixel-resize feature (downstream featurizers take the grid as
    * a dense vector; sums are exact where a rounded mean would not be).
    */
  def ppmPooledCells(bytes: Array[Byte]): Array[Long] = {
    val n = bytes.length
    if (n < 2 || bytes(0) != 'P' || bytes(1) != '6') return null
    var p = 2
    // whitespace/comment skipper per the netpbm spec: any run of
    // whitespace, with `#` starting a comment that runs to end of line
    def skip(): Unit = {
      var go = true
      while (go && p < n) {
        val b = bytes(p) & 0xff
        if (b == '#') { while (p < n && bytes(p) != '\n') p += 1 }
        else if (b == ' ' || b == '\t' || b == '\r' || b == '\n' || b == 0x0b || b == 0x0c) p += 1
        else go = false
      }
    }
    // one ASCII decimal token; -1 when the next byte is not a digit
    def int(): Long = {
      skip()
      if (p >= n || bytes(p) < '0' || bytes(p) > '9') return -1L
      var v = 0L
      while (p < n && bytes(p) >= '0' && bytes(p) <= '9' && v <= Int.MaxValue) {
        v = v * 10 + (bytes(p) - '0'); p += 1
      }
      v
    }
    val w = int(); val h = int(); val maxval = int()
    // exactly ONE whitespace byte separates maxval from the raster — a
    // non-whitespace byte there means a corrupt header, not an offset guess
    if (p >= n) return null
    val sep = bytes(p) & 0xff
    if (sep != ' ' && sep != '\t' && sep != '\r' && sep != '\n' && sep != 0x0b && sep != 0x0c)
      return null
    p += 1
    if (w <= 0 || h <= 0 || maxval != 255L) return null
    if (w % GridCols != 0 || h % GridRows != 0) return null
    val wi = w.toInt; val hi = h.toInt
    if (p + 3L * wi * hi > n) return null
    val bw = wi / GridCols; val bh = hi / GridRows
    // 2×-exact block sums: every pixel lands in exactly one cell
    val cells = new Array[Long](GridRows * GridCols)
    var y = 0
    while (y < hi) {
      val cr = y / bh
      var x = 0
      while (x < wi) {
        val o = p + 3 * (y * wi + x)
        val lum = (299L * (bytes(o) & 0xff) + 587L * (bytes(o + 1) & 0xff) +
          114L * (bytes(o + 2) & 0xff)) / 1000L
        cells(cr * GridCols + x / bw) += lum
        x += 1
      }
      y += 1
    }
    cells
  }

  def ppmDhash(bytes: Array[Byte]): Any = {
    val cells = ppmPooledCells(bytes)
    if (cells == null) return null
    var hash = 0L
    var k = 0
    while (k < 64) {
      val r = k >> 3; val c = k & 7
      if (cells(r * GridCols + c) < cells(r * GridCols + c + 1)) hash |= 1L << k
      k += 1
    }
    java.lang.Long.valueOf(hash)
  }

  /** [[ppmPooledCells]] boxed for the expression layer: GenericArrayData
    * of 72 longs, or null.
    */
  def ppmPooledGrid(bytes: Array[Byte]): Any = {
    val cells = ppmPooledCells(bytes)
    if (cells == null) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(cells)
  }

  /** Codegen'd dHash: binary PPM payload → long (null when undecodable). */
  case class PpmDhash(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"graft_ppm_dhash requires binary, got ${other.sql}")
    }
    override def nullSafeEval(b: Any): Any =
      ImageKernels.ppmDhash(b.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, b => s"""
        Object r = graft.functions.ImageKernels.ppmDhash($b);
        if (r == null) { ${ev.isNull} = true; } else { ${ev.value} = ((java.lang.Long) r).longValue(); }
      """)
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "graft_ppm_dhash"
  }

  /** Codegen'd decode + resize: binary PPM payload → array&lt;long&gt; of
    * the 72 pooled block sums (null when undecodable).
    */
  case class PpmPooledGrid(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"graft_ppm_resize requires binary, got ${other.sql}")
    }
    override def nullSafeEval(b: Any): Any =
      ImageKernels.ppmPooledGrid(b.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, b => s"""
        Object r = graft.functions.ImageKernels.ppmPooledGrid($b);
        if (r == null) { ${ev.isNull} = true; }
        else { ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) r; }
      """)
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "graft_ppm_resize"
  }

  def ppmDhashCol(payload: Column): Column =
    call_function("graft_ppm_dhash", payload)

  def ppmResizeCol(payload: Column): Column =
    call_function("graft_ppm_resize", payload)
}
