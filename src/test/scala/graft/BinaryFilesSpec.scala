package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.BinaryFiles

class BinaryFilesSpec extends AnyFunSuite {
  import SparkTestSession._

  private val dir = s"${GraftSession.target}/test-binfiles"

  private def payloads(rows: (Long, Array[Byte])*) = {
    import spark.implicits._
    rows.toDF("doc_id", "payload")
  }

  test("write + binaryFile read is byte-lossless and recovers ids from paths") {
    val data = Seq(
      1L -> Array[Byte](0, 1, 2, -1, -128, 127),
      37L -> "snowman ☃".getBytes("UTF-8"))
    BinaryFiles.writeFiles(payloads(data: _*), "doc_id", "payload", dir)
    val got = BinaryFiles.readFiles(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Array[Byte]]("content").toSeq))
      .sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1L, 37L))
    data.sortBy(_._1).zip(got).foreach { case ((id, bytes), (gid, flen, content)) =>
      assert(gid == id)
      assert(content == bytes.toSeq, s"payload $id corrupted in flight")
      assert(flen == bytes.length.toLong, s"fs length metadata disagrees for $id")
    }
  }

  test("negative ids round-trip with their sign") {
    BinaryFiles.writeFiles(
      payloads(-5L -> Array[Byte](1), 5L -> Array[Byte](2)), "doc_id", "payload", dir)
    val ids = BinaryFiles.readFiles(spark, dir).select("id")
      .collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(-5L, 5L))
  }

  test("zero-byte files vanish in file-partition planning — documented, not hidden") {
    BinaryFiles.writeFiles(
      payloads(1L -> Array[Byte](5), 2L -> Array[Byte]()), "doc_id", "payload", dir)
    // both files exist on disk...
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".bin")) == 2)
    // ...but Spark's split planning emits no partition for a 0-byte file
    val ids = BinaryFiles.readFiles(spark, dir).select("id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(1L))
  }

  test("glob filter excludes foreign files; rewrite wipes stale assets") {
    BinaryFiles.writeFiles(payloads(5L -> Array[Byte](9)), "doc_id", "payload", dir)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "README.txt"), Array[Byte](1, 2))
    assert(BinaryFiles.readFiles(spark, dir).count() == 1)
    // rewriting drops both the old asset and the foreign file
    BinaryFiles.writeFiles(payloads(6L -> Array[Byte](8)), "doc_id", "payload", dir)
    val ids = BinaryFiles.readFiles(spark, dir).select("id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(6L))
  }

  test("refuses to scatter outside target/ scratch space") {
    val e = intercept[IllegalArgumentException] {
      BinaryFiles.writeFiles(
        payloads(1L -> Array[Byte](1)), "doc_id", "payload", "/tmp/not-scratch")
    }
    assert(e.getMessage.contains("target/"))
  }
}
