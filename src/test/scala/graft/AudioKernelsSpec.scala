package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.AudioKernels
import graft.operators.{Dedup, Multimodal}

class AudioKernelsSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Hand-built 16-bit PCM mono WAV from a per-sample amplitude fn. */
  private def wav(nSamples: Int, amp: Int => Int, junkBefore: Int = 0): Array[Byte] = {
    def le(v: Long, n: Int): Array[Byte] =
      (0 until n).map(i => ((v >> (8 * i)) & 0xff).toByte).toArray
    val data = (0 until nSamples).flatMap(j => le(amp(j) & 0xffff, 2)).toArray
    val junk =
      if (junkBefore == 0) Array.emptyByteArray
      else "JUNK".getBytes ++ le(junkBefore, 4) ++ new Array[Byte](junkBefore)
    val body = junk ++ "fmt ".getBytes ++ le(16, 4) ++
      le(1, 2) ++ le(1, 2) ++ le(8000, 4) ++ le(16000, 4) ++ le(2, 2) ++ le(16, 2) ++
      "data".getBytes ++ le(2L * nSamples, 4) ++ data
    "RIFF".getBytes ++ le(4 + body.length, 4) ++ "WAVE".getBytes ++ body
  }

  test("energy hash: classification, not exceptions — corrupt inputs fingerprint to null") {
    assert(AudioKernels.wavEnergyHash(wav(520, j => 100 + j % 7)) != null)
    // chunk walk must hop a JUNK chunk, like the MediaKernels sniffer
    assert(AudioKernels.wavEnergyHash(wav(520, j => 100 + j % 7, junkBefore = 10)) ==
      AudioKernels.wavEnergyHash(wav(520, j => 100 + j % 7)))
    assert(AudioKernels.wavEnergyHash("OggS not a wav".getBytes) == null)
    assert(AudioKernels.wavEnergyHash(wav(64, _ => 5)) == null) // < 65 samples
    assert(AudioKernels.wavEnergyHash(Array.emptyByteArray) == null)
    // 8-bit PCM (bits != 16) must classify as unfingerprintable
    val bad = wav(520, _ => 5)
    // fmt chunk bits-per-sample lives 22 bytes into the fmt payload
    val fmtAt = 12
    bad(fmtAt + 8 + 14) = 8
    assert(AudioKernels.wavEnergyHash(bad) == null)
  }

  test("energy envelope: exact per-window sums, hash derives from the same envelope, corrupt inputs null") {
    // 520 samples / 65 windows = 8 per window; constant amp 3 → energy 24
    val flat = AudioKernels.wavEnergyEnvelope(wav(520, _ => 3))
    assert(flat.length == 65 && flat.forall(_ == 24L))
    // one louder sample lands in exactly its window's energy
    val one = AudioKernels.wavEnergyEnvelope(wav(520, j => if (j == 8) 103 else 3))
    assert(one(1) == 24L + 100L && one.zipWithIndex.forall {
      case (e, 1) => e == 124L
      case (e, _) => e == 24L
    })
    // the hash is a pure function of this envelope: recompute bit 0
    val env = AudioKernels.wavEnergyEnvelope(wav(520, j => 50 + (j * 31) % 97))
    val h = AudioKernels.wavEnergyHash(wav(520, j => 50 + (j * 31) % 97))
      .asInstanceOf[Long]
    assert(((h & 1L) == 1L) == (env(0) < env(1)))
    assert(AudioKernels.wavEnvelopeGrid("OggS not a wav".getBytes) == null)
  }

  test("energy hash: gain invariance; negative samples count by magnitude") {
    val h0 = AudioKernels.wavEnergyHash(wav(520, j => 50 + (j / 8) % 40)).asInstanceOf[Long]
    val h2 = AudioKernels.wavEnergyHash(wav(520, j => 2 * (50 + (j / 8) % 40))).asInstanceOf[Long]
    assert(h0 == h2, "doubling the gain must not change the envelope hash")
    // a phase flip (negated samples) has the same energy envelope
    val hneg = AudioKernels.wavEnergyHash(wav(520, j => -(50 + (j / 8) % 40))).asInstanceOf[Long]
    assert(h0 == hneg, "energy is magnitude-based; sign must not matter")
  }

  test("fixture payloads decode through BOTH kernels and band-dedup into the group structure") {
    val docs = Tables.documents(spark, SfDir)
    val clips = Multimodal.withWavPayload(docs).cache()
    // the synthesized container is a REAL wav: the header sniffer agrees
    val sniffed = clips.select(
      graft.functions.MediaKernels.decodeHeaderCol(col("payload")).as("m"))
      .select(col("m.format"), col("m.channels"), col("m.sample_rate"), col("m.bits"))
      .distinct().collect()
    assert(sniffed.length == 1)
    assert(sniffed.head.getString(0) == "wav" && sniffed.head.getLong(1) == 1L &&
      sniffed.head.getLong(2) == 8000L && sniffed.head.getLong(3) == 16L)
    val hashed = clips.select(col("doc_id"),
      AudioKernels.wavEnergyHashCol(col("payload")).as("dhash"))
    val pairs = Dedup.hashBandPairs(hashed, maxHamming = 3, nBands = 4).collect()
    assert(pairs.nonEmpty)
    // variants 0-2 of a group pair up; nothing crosses groups
    assert(pairs.forall(r => r.getLong(0) / 4 == r.getLong(1) / 4))
    clips.unpersist()
  }
}
