package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.BitmapFunctions
import graft.functions.BitmapFunctions._

class BitmapFunctionsSpec extends AnyFunSuite {
  import SparkTestSession._

  private def keyed(rows: (String, Long)*) = {
    import spark.implicits._
    rows.toDF("g", "k")
  }

  test("bitmap count is exact and duplicate-insensitive") {
    val df = keyed((1 to 5000).map(i => ("a", (i % 777).toLong)): _*)
    val n = df.groupBy(col("g"))
      .agg(bitmapCount(bitmapAgg(col("k"))).as("n"))
      .head().getLong(1)
    assert(n == 777L)
  }

  test("serialized bytes are partitioning-invariant (equal sets, equal bytes)") {
    val df = keyed((1 to 3000).map(i => ("a", (i * 37 % 2048).toLong)): _*)
    val blobs = Seq(1, 3, 8).map { p =>
      df.repartition(p).groupBy(col("g"))
        .agg(bitmapAgg(col("k")).as("bm"))
        .head().getAs[Array[Byte]](1).toSeq
    }
    assert(blobs.distinct.size == 1, "partition-dependent bitmap bytes")
  }

  test("and / andnot counts are exact set algebra") {
    // A = 0..599, B = 400..999 (and spread across two 65536-id containers
    // via a +70000 copy so the multi-container path is exercised)
    val df = keyed(
      ((0 until 600).map(i => ("A", i.toLong)) ++
        (0 until 600).map(i => ("A", (i + 70000).toLong)) ++
        (400 until 1000).map(i => ("B", i.toLong)) ++
        (400 until 1000).map(i => ("B", (i + 70000).toLong))): _*)
    val bm = df.groupBy(col("g")).agg(bitmapAgg(col("k")).as("bm"))
    val a = bm.where(col("g") === "A").select(col("bm").as("bm_a"))
    val b = bm.where(col("g") === "B").select(col("bm").as("bm_b"))
    val r = a.crossJoin(b).select(
      bitmapAndCount(col("bm_a"), col("bm_b")).as("inter"),
      bitmapAndNotCount(col("bm_a"), col("bm_b")).as("a_not_b"),
      bitmapAndNotCount(col("bm_b"), col("bm_a")).as("b_not_a")).head()
    assert(r.getLong(0) == 400L)
    assert(r.getLong(1) == 800L)
    assert(r.getLong(2) == 800L)
  }

  test("union rollup equals the direct bitmap of the union, bitwise") {
    val df = keyed((1 to 900).map(i => (s"day${i % 3}", (i * 13 % 5000).toLong)): _*)
    val rolled = df.groupBy(col("g")).agg(bitmapAgg(col("k")).as("bm"))
      .agg(bitmapUnion(col("bm")).as("u"))
      .head().getAs[Array[Byte]](0).toSeq
    val direct = df.agg(bitmapAgg(col("k")).as("u"))
      .head().getAs[Array[Byte]](0).toSeq
    assert(rolled == direct)
  }

  test("array/bitmap container forms round-trip at the 4096 boundary") {
    for (card <- Seq(ArrayFormMax - 1, ArrayFormMax, ArrayFormMax + 1)) {
      val bm = new GraftBitmap
      (0 until card).foreach(i => bm.add(i.toLong * 3))
      val bytes = bm.serialize()
      val back = BitmapFunctions.deserialize(bytes)
      assert(back.cardinality == card.toLong, s"card $card")
      assert(back.serialize().toSeq == bytes.toSeq, s"unstable round-trip at $card")
    }
  }

  test("array form is denser, bitmap form kicks in above the threshold") {
    val sparse = new GraftBitmap
    (0 until 100).foreach(i => sparse.add(i.toLong))
    assert(sparse.serialize().length < 1000)
    val dense = new GraftBitmap
    (0 until 60000).foreach(i => dense.add(i.toLong))
    // one full bitmap container: header + key + form + 8 KiB
    assert(dense.serialize().length < 9000)
  }

  test("nulls are skipped; out-of-range keys fail loudly") {
    import spark.implicits._
    val df = Seq(Some(1L), None, Some(5L)).toDF("k")
    val n = df.agg(bitmapCount(bitmapAgg(col("k"))).as("n")).head().getLong(0)
    assert(n == 2L)
    val bad = intercept[org.apache.spark.SparkException] {
      Seq(-1L).toDF("k").agg(bitmapAgg(col("k"))).collect()
    }
    assert(bad.getMessage.contains("dense-int range") ||
      Option(bad.getCause).exists(_.getMessage.contains("dense-int range")))
  }
}
