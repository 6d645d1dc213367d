package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal

class MultimodalSpec extends AnyFunSuite {
  import SparkTestSession._

  test("frame hashes are byte-addressed: multi-byte chars straddling a frame boundary") {
    import spark.implicits._
    // 'é' is 2 bytes in UTF-8; 200 of them = 400 bytes, so frame 0 ends in
    // the MIDDLE of the 128th 'é' — a char-sliced engine would disagree.
    val text = "é" * 200
    val df = Multimodal.frameHashes(
      Multimodal.withPayload(Seq((1L, text)).toDF("doc_id", "text")), frameBytes = 256)
    val got = df.orderBy("frame_no").collect()
      .map(r => (r.getLong(2), r.getString(3)))

    // independent reference: md5 over the uppercase hex of each byte slice
    val bytes = text.getBytes("UTF-8")
    val expected = bytes.grouped(256).zipWithIndex.map { case (frame, i) =>
      val hx = frame.map(b => f"${b & 0xff}%02X").mkString
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(hx.getBytes("UTF-8"))
      (i.toLong, digest.map(b => f"${b & 0xff}%02x").mkString)
    }.toSeq
    assert(bytes.length == 400)
    assert(got.toSeq == expected)
  }

  test("frame sampling covers every payload byte exactly once") {
    val withP = Multimodal.withPayload(Tables.documents(spark, SfDir).limit(50))
    val frames = Multimodal.frameHashes(withP, frameBytes = 256)
    val perDoc = frames.groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"), first("n_bytes").as("n_bytes"))
      .collect()
    perDoc.foreach { r =>
      val expected = math.ceil(r.getLong(2).toDouble / 256).toLong
      assert(r.getLong(1) == expected)
    }
  }

  test("sceneCuts: cuts exactly at scene boundaries, shot index = running cut count") {
    import spark.implicits._
    val vids = Seq(0L, 5L).toDF("doc_id")
    val frames = Multimodal.withVideoFrames(vids, framesPerVideo = 8, sceneLen = 4)
      .select(col("doc_id"), col("frame_no"),
        graft.functions.ImageKernels.ppmDhashCol(col("payload")).as("dhash"))
    val got = Multimodal.sceneCuts(frames, col("dhash"), cutThreshold = 10)
      .orderBy(col("doc_id"), col("frame_no")).collect()
    assert(got.length == 16)
    got.foreach { r =>
      val (frame, hamming, isCut, shot) =
        (r.getLong(1), r.getLong(2), r.getBoolean(3), r.getLong(4))
      if (frame == 0L) {
        assert(hamming == -1L && !isCut && shot == 0L)
      } else if (frame == 4L) {
        // scene redraw: iid field flip, far above threshold
        assert(isCut && hamming >= 10L && shot == 1L)
      } else {
        // intra-scene wiggle cells sit in one comparison each
        assert(!isCut && hamming >= 0L && hamming <= 2L)
        assert(shot == (if (frame > 4L) 1L else 0L))
      }
    }
  }

  test("sceneCuts: identical consecutive frames have Hamming 0; threshold bounds enforced") {
    import spark.implicits._
    // two frames with the SAME hash: distance 0, never a cut
    val frames = Seq((1L, 0L, 42L), (1L, 1L, 42L), (1L, 2L, ~42L))
      .toDF("doc_id", "frame_no", "h")
    val got = Multimodal.sceneCuts(frames, col("h"), cutThreshold = 30)
      .orderBy(col("frame_no")).collect()
    assert(got(1).getLong(2) == 0L && !got(1).getBoolean(3))
    // ~42 ^ 42 = all 64 bits set
    assert(got(2).getLong(2) == 64L && got(2).getBoolean(3) && got(2).getLong(4) == 1L)
    intercept[IllegalArgumentException] {
      Multimodal.sceneCuts(frames, col("h"), cutThreshold = 0)
    }
  }
}
