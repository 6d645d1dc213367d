package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal
import graft.operators.Multimodal.{PpmH, PpmW, WavSamples, WavSamplesPerWindow}

/** Pins the codegen'd payload-synthesis kernels
  * ([[graft.functions.MediaSynth]]) byte-for-byte against the interpreted
  * nested-`transform` builders they replaced, kept in the companion object
  * as oracles — every variant class (id % 4), negative ids (the pmod /
  * truncating-division corners), and the null-id header-only edge.
  */
class MultimodalSynthSpec extends AnyFunSuite {
  import SparkTestSession._
  import MultimodalSynthSpec._
  import spark.implicits._

  // covers 16+ groups × all four variants, the negative corners, and null
  private def ids(): DataFrame =
    ((-5L until 64L).map(Option(_)) :+ (None: Option[Long])).toDF("doc_id")

  private def hexed(df: DataFrame): DataFrame =
    df.select(col("doc_id"), hex(col("payload")).as("p"))

  test("graft_ppm_payload == the interpreted nested-transform bytes (null id included)") {
    val d = ids()
    assert(Proofs.sameMultiset(
      hexed(Multimodal.withPpmPayload(d)),
      hexed(ppmPayloadInterpreted(d))))
  }

  test("graft_wav_payload == the interpreted per-window bytes (null id included)") {
    val d = ids()
    assert(Proofs.sameMultiset(
      hexed(Multimodal.withWavPayload(d)),
      hexed(wavPayloadInterpreted(d))))
  }

  test("graft_ppm_frame_payload == the interpreted frame bytes (null id included)") {
    val d = ids()
    def hexf(df: DataFrame): DataFrame =
      df.select(col("doc_id"), col("frame_no"), hex(col("payload")).as("p"))
    assert(Proofs.sameMultiset(
      hexf(Multimodal.withVideoFrames(d, framesPerVideo = 12, sceneLen = 4)),
      hexf(videoFramesInterpreted(d, framesPerVideo = 12, sceneLen = 4))))
  }

  test("the kernels sit inside whole-stage codegen (no interpreted transform left)") {
    // spark.range: a non-foldable leaf, so the projection can't constant-fold
    val d = spark.range(64).toDF("doc_id")
    val plan = Multimodal.withPpmPayload(d).queryExecution.executedPlan.toString
    assert(!plan.contains("transform("), s"interpreted transform survives:\n$plan")
    assert(plan.contains("graft_ppm_payload"))
    assert(plan.contains("*(")) // whole-stage codegen span over the kernel
  }
}

object MultimodalSynthSpec {

  private val Windows65 = WavSamples / WavSamplesPerWindow

  /** The interpreted formula [[Multimodal.withPpmPayload]] replaced —
    * documentation of the byte derivation and the spec's reference
    * implementation.
    */
  def ppmPayloadInterpreted(df: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val id = col(idCol).cast("long")
    val g = (id / 4L).cast("long")
    val v = pmod(id, lit(4L))
    // one element per pixel ROW (16): each row spans 9 cells at cy = y/2,
    // every cell contributing 2 identical gray pixels (6 identical hex
    // bytes) — 9 md5 per row, 144 per image, each on a cell-sized key
    val body = array_join(
      transform(sequence(lit(0), lit(PpmH - 1)), { y =>
        val cy = (y / 2L).cast("long")
        array_join(
          transform(sequence(lit(0), lit(8)), { cx =>
            val topLeft = cx === 0L && cy === 0L
            val bottomRight = cx === 8L && cy === 7L
            val perturb = when(v === 1 && topLeft, 100L)
              .when(v === 2 && (topLeft || bottomRight), 100L)
              .when(v === 3 && pmod(cx + cy, lit(2L)) === 0L, 128L)
              .otherwise(0L)
            val key = concat(g.cast("string"), lit("_"), cx.cast("string"),
              lit("_"), cy.cast("string"))
            val base = conv(substring(md5(key), 1, 2), 16, 10).cast("long")
            val h = lpad(hex(pmod(base + perturb, lit(256L))), 2, "0")
            repeat(h, 6)
          }), "")
      }), "")
    df.withColumn("payload",
      concat(
        encode(lit(s"P6\n$PpmW $PpmH\n255\n"), "UTF-8"),
        unhex(body)))
  }

  /** The interpreted formula [[Multimodal.withWavPayload]] replaced — the
    * spec's reference implementation.
    */
  def wavPayloadInterpreted(df: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val id = col(idCol).cast("long")
    val g = (id / 4L).cast("long")
    val v = pmod(id, lit(4L))
    def leHexLit(value: Long, bytes: Int): String = {
      (0 until bytes).map(i => f"${(value >> (8 * i)) & 0xffL}%02X").mkString
    }
    val dataLen = WavSamples * 2L
    val headerHex =
      "52494646" + leHexLit(4 + 24 + 8 + dataLen, 4) + "57415645" +
        "666D7420" + "10000000" + "0100" + "0100" + leHexLit(8000L, 4) +
        leHexLit(16000L, 4) + "0200" + "1000" +
        "64617461" + leHexLit(dataLen, 4)
    // one element per WINDOW (65): all 8 samples of a window carry the
    // window amplitude, so the sample hex just repeats — one md5 per
    // window, not per sample (transform lambdas run interpreted)
    val body = array_join(
      transform(sequence(lit(0), lit(Windows65 - 1)), { w =>
        val salt = when(v === 3, lit("_x")).otherwise(lit(""))
        val key = concat(g.cast("string"), lit("_"), w.cast("string"), salt)
        val baseAmp = conv(substring(md5(key), 1, 3), 16, 10).cast("long")
        val amp = baseAmp +
          when(v === 1 && w === 0L, 20000L)
            .when(v === 2 && (w === 0L || w === 64L), 20000L)
            .otherwise(0L)
        repeat(
          concat(lpad(hex(pmod(amp, lit(256L))), 2, "0"),
            lpad(hex((amp / 256L).cast("long")), 2, "0")),
          WavSamplesPerWindow)
      }), "")
    df.withColumn("payload", unhex(concat(lit(headerHex), body)))
  }

  /** The interpreted formula [[Multimodal.withVideoFrames]] replaced — the
    * spec's reference implementation.
    */
  def videoFramesInterpreted(
      df: DataFrame,
      framesPerVideo: Int,
      sceneLen: Int,
      idCol: String = "doc_id"): DataFrame = {
    val id = col(idCol).cast("long")
    val fr = col("frame_no")
    val scene = (fr / sceneLen).cast("long")
    val v = pmod(fr, lit(4L))
    val body = array_join(
      transform(sequence(lit(0), lit(PpmH - 1)), { y =>
        val cy = (y / 2L).cast("long")
        array_join(
          transform(sequence(lit(0), lit(8)), { cx =>
            val topLeft = cx === 0L && cy === 0L
            val bottomRight = cx === 8L && cy === 7L
            val perturb = when(v === 1 && topLeft, 100L)
              .when(v === 2 && (topLeft || bottomRight), 100L)
              .when(v === 3 && bottomRight, 100L)
              .otherwise(0L)
            val key = concat(id.cast("string"), lit("_"), scene.cast("string"),
              lit("_"), cx.cast("string"), lit("_"), cy.cast("string"))
            val base = conv(substring(md5(key), 1, 2), 16, 10).cast("long")
            val h = lpad(hex(pmod(base + perturb, lit(256L))), 2, "0")
            repeat(h, 6)
          }), "")
      }), "")
    df.withColumn("frame_no", explode(sequence(lit(0L), lit(framesPerVideo - 1L))))
      .withColumn("payload",
        concat(
          encode(lit(s"P6\n$PpmW $PpmH\n255\n"), "UTF-8"),
          unhex(body)))
  }
}
