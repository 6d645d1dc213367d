package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.MediaKernels
import graft.operators.Multimodal

/** The header sniffer against hand-built byte arrays (every branch of the
  * three container walks) and the synthesized fixture (field-for-field
  * against the id-derived parameters, plus PNG CRC validity against
  * java.util.zip.CRC32 — the fixture claims VALID headers, so prove it with
  * an implementation the fixture doesn't share).
  */
class MediaKernelsSpec extends AnyFunSuite {
  import SparkTestSession._

  private def decode(bytes: Array[Byte]): (String, Option[Long], Option[Long], Option[Long], Option[Long], Option[Long]) = {
    val r = MediaKernels.decodeHeader(bytes)
    def f(i: Int): Option[Long] = if (r.isNullAt(i)) None else Some(r.getLong(i))
    (r.getUTF8String(0).toString, f(1), f(2), f(3), f(4), f(5))
  }

  private def hx(s: String): Array[Byte] =
    s.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  test("PNG: IHDR fields, color-type channel map, chunk before IHDR, truncation") {
    val sig = "89504E470D0A1A0A"
    // spec-shaped: IHDR first — width 800, height 600, depth 8, RGBA
    val png = hx(sig + "0000000D" + "49484452" + "00000320" + "00000258" + "0806000000" + "DEADBEEF")
    assert(decode(png) == (("png", Some(800L), Some(600L), Some(4L), None, Some(8L))))
    // greyscale (color type 0) → 1 channel; truecolor (2) → 3
    assert(decode(hx(sig + "0000000D49484452" + "00000010" + "00000010" + "1000000000" + "00000000"))
      ._4 == Some(1L))
    assert(decode(hx(sig + "0000000D49484452" + "00000010" + "00000010" + "0802000000" + "00000000"))
      ._4 == Some(3L))
    // a non-IHDR chunk first (4-byte data) — the walk must skip it by length
    val shifted = hx(sig + "00000004" + "74455874" + "AABBCCDD" + "00000000" +
      "0000000D" + "49484452" + "00000100" + "00000080" + "0806000000" + "00000000")
    assert(decode(shifted) == (("png", Some(256L), Some(128L), Some(4L), None, Some(8L))))
    // signature but no parseable IHDR → png with null fields, no throw
    assert(decode(hx(sig + "0000000D" + "494844")) == (("png", None, None, None, None, None)))
    // corrupt chunk length larger than the buffer → terminates, no throw
    assert(decode(hx(sig + "FFFFFFFF" + "74455874")) == (("png", None, None, None, None, None)))
  }

  test("JPEG: segment walk reaches SOFn past variable segments and standalone markers") {
    val sof0 = "FFC0" + "0011" + "08" + "0258" + "0320" + "03" + "012200" + "021101" + "031101"
    // SOI + APP0(16) + COM(9) + TEM standalone + RST3 + SOF0: walk must hop all
    val j = hx("FFD8" + "FFE00010" + "4A464946000101000001000100" + "00" +
      "FFFE0009" + "63636363636363" + "FF01" + "FFD3" + sof0)
    assert(decode(j) == (("jpeg", Some(800L), Some(600L), Some(3L), None, Some(8L))))
    // progressive SOF2 is a frame header too
    assert(decode(hx("FFD8" + "FFC2" + "0011" + "08" + "0010" + "0020" + "03" + "012200021101031101"))
      == (("jpeg", Some(32L), Some(16L), Some(3L), None, Some(8L))))
    // DHT (C4) is NOT a frame header — must be skipped by its length field
    assert(decode(hx("FFD8" + "FFC4" + "0004" + "AABB" + sof0))
      == (("jpeg", Some(800L), Some(600L), Some(3L), None, Some(8L))))
    // SOS before any SOF → jpeg with null dims (no frame header seen)
    assert(decode(hx("FFD8" + "FFDA" + "0002")) == (("jpeg", None, None, None, None, None)))
    // truncated mid-segment → no throw
    assert(decode(hx("FFD8" + "FFE000")) == (("jpeg", None, None, None, None, None)))
  }

  test("WAV: fmt fields little-endian, chunk walk with odd-size padding") {
    def le(v: Long, n: Int): String =
      (0 until n).map(i => f"${(v >> (8 * i)) & 0xff}%02X").mkString
    val fmt = "666D7420" + le(16, 4) + le(1, 2) + le(2, 2) + le(44100, 4) +
      le(44100L * 2 * 2, 4) + le(4, 2) + le(16, 2)
    val direct = hx("52494646" + le(4 + 24, 4) + "57415645" + fmt)
    assert(decode(direct) == (("wav", None, None, Some(2L), Some(44100L), Some(16L))))
    // an ODD-size chunk before fmt: the walk must pad to the even boundary
    val odd = hx("52494646" + le(4 + 8 + 3 + 1 + 24, 4) + "57415645" +
      "4A554E4B" + le(3, 4) + "AABBCC" + "00" + fmt)
    assert(decode(odd) == (("wav", None, None, Some(2L), Some(44100L), Some(16L))))
    // RIFF but not WAVE → unknown (an AVI is not audio metadata)
    assert(decode(hx("52494646" + le(4, 4) + "41564920"))._1 == "unknown")
    // no fmt chunk → wav with nulls, no throw
    assert(decode(hx("52494646" + le(4, 4) + "57415645")) == (("wav", None, None, None, None, None)))
  }

  test("unknown magic and tiny buffers never throw") {
    assert(decode(Array[Byte]())._1 == "unknown")
    assert(decode("plain text".getBytes("UTF-8"))._1 == "unknown")
    assert(decode(Array(0xff.toByte))._1 == "unknown")
  }

  test("fixture decode matches the id-derived parameters, end-to-end through codegen") {
    val rows = Multimodal.withMediaPayload(Tables.documents(spark, SfDir))
      .select(col("doc_id"), MediaKernels.decodeHeaderCol(col("payload")).as("m"))
      .select(col("doc_id"), col("m.format"), col("m.width"), col("m.height"),
        col("m.channels"), col("m.sample_rate"), col("m.bits"))
      .collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val id = r.getLong(0)
      def opt(i: Int): Option[Long] = if (r.isNullAt(i)) None else Some(r.getLong(i))
      val (w, h) = (16 + (id * 37) % 4080, 16 + (id * 53) % 3056)
      id % 3 match {
        case 0 =>
          assert(r.getString(1) == "png" && opt(2) == Some(w) && opt(3) == Some(h) &&
            opt(4) == Some(4L) && opt(5).isEmpty && opt(6) == Some(8L))
        case 1 =>
          assert(r.getString(1) == "jpeg" && opt(2) == Some(w) && opt(3) == Some(h) &&
            opt(4) == Some(3L) && opt(5).isEmpty && opt(6) == Some(8L))
        case _ =>
          assert(r.getString(1) == "wav" && opt(2).isEmpty && opt(3).isEmpty &&
            opt(4) == Some(1 + id % 2) && opt(5) == Some(8000 + (id % 5) * 8000) &&
            opt(6) == Some(8 * (1 + (id % 7) % 2)))
      }
    }
  }

  test("fixture PNG headers carry the true CRC-32 — the headers really are valid") {
    val payloads = Multimodal.withMediaPayload(Tables.documents(spark, SfDir))
      .where(col("doc_id") % 3 === 0).select(col("payload")).limit(50)
      .collect().map(_.getAs[Array[Byte]](0))
    assert(payloads.nonEmpty)
    payloads.foreach { b =>
      val crc = new java.util.zip.CRC32()
      crc.update(b, 12, 4 + 13) // chunk type + IHDR data
      val stored = ((b(29) & 0xffL) << 24) | ((b(30) & 0xffL) << 16) |
        ((b(31) & 0xffL) << 8) | (b(32) & 0xffL)
      assert(stored == crc.getValue)
    }
  }
}
