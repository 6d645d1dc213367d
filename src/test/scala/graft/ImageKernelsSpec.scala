package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ImageKernels
import graft.operators.{Dedup, Multimodal}

class ImageKernelsSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Hand-built P6: header + row-major RGB raster from a luminance fn. */
  private def ppm(w: Int, h: Int, lum: (Int, Int) => Int, header: String = null): Array[Byte] = {
    val hd = Option(header).getOrElse(s"P6\n$w $h\n255\n").getBytes("US-ASCII")
    val body = new Array[Byte](3 * w * h)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
      body(3 * (y * w + x) + c) = lum(x, y).toByte
    hd ++ body
  }

  test("dhash kernel: classification, not exceptions — corrupt inputs fingerprint to null") {
    // decodable baseline
    assert(ImageKernels.ppmDhash(ppm(18, 16, (x, y) => (x * 5 + y * 7) % 256)) != null)
    // wrong magic, truncated raster, bad maxval, misaligned grid, junk header
    assert(ImageKernels.ppmDhash("P5\n18 16\n255\n".getBytes ++ new Array[Byte](10)) == null)
    assert(ImageKernels.ppmDhash(ppm(18, 16, (_, _) => 7).dropRight(1)) == null)
    assert(ImageKernels.ppmDhash(ppm(18, 16, (_, _) => 7, header = "P6\n18 16\n65535\n")) == null)
    assert(ImageKernels.ppmDhash(ppm(10, 16, (_, _) => 7)) == null) // 10 % 9 != 0
    assert(ImageKernels.ppmDhash("P6\nxx yy\n255\n".getBytes) == null)
    assert(ImageKernels.ppmDhash(Array.emptyByteArray) == null)
    // comment lines between header tokens are part of the netpbm spec
    val commented = ppm(18, 16, (x, y) => (x + y) % 256,
      header = "P6\n# a comment\n18 16\n# another\n255\n")
    assert(ImageKernels.ppmDhash(commented) ==
      ImageKernels.ppmDhash(ppm(18, 16, (x, y) => (x + y) % 256)))
  }

  test("dhash kernel: brightness shift preserves the hash; a local edit flips only its cell's bit") {
    val base = (x: Int, y: Int) => (x * 11 + y * 23) % 200
    val h0 = ImageKernels.ppmDhash(ppm(18, 16, base)).asInstanceOf[Long]
    // global +40 brightness: every inequality between cell sums is preserved
    val h1 = ImageKernels.ppmDhash(ppm(18, 16, (x, y) => base(x, y) + 40)).asInstanceOf[Long]
    assert(h0 == h1, "dHash must be brightness-invariant")
    // brighten ONLY the top-left 2x2 block (grid cell (0,0)): that cell sits
    // in exactly one horizontal comparison -> at most bit 0 differs
    val h2 = ImageKernels.ppmDhash(
      ppm(18, 16, (x, y) => if (x < 2 && y < 2) base(x, y) + 55 else base(x, y)))
      .asInstanceOf[Long]
    assert(java.lang.Long.bitCount(h0 ^ h2) <= 1)
  }

  test("ppmPooledCells: exact block sums, dHash derives from the same grid, corrupt inputs null") {
    // uniform gray value 7 everywhere: every 2×2 block sums to 28
    val flat = ImageKernels.ppmPooledCells(ppm(18, 16, (_, _) => 7))
    assert(flat.length == 72 && flat.forall(_ == 28L))
    // a single brightened pixel lands in exactly one block's sum
    val one = ImageKernels.ppmPooledCells(
      ppm(18, 16, (x, y) => if (x == 0 && y == 0) 107 else 7))
    assert(one(0) == 128L && one.drop(1).forall(_ == 28L))
    // the hash is a pure function of this grid: recompute bit 0
    val g = ImageKernels.ppmPooledCells(ppm(18, 16, (x, y) => (x * 11 + y * 23) % 200))
    val h = ImageKernels.ppmDhash(ppm(18, 16, (x, y) => (x * 11 + y * 23) % 200))
      .asInstanceOf[Long]
    assert(((h & 1L) == 1L) == (g(0) < g(1)))
    // the sniffer discipline carries over
    assert(ImageKernels.ppmPooledCells(ppm(10, 16, (_, _) => 7)) == null)
    assert(ImageKernels.ppmPooledGrid(Array.emptyByteArray) == null)
  }

  test("band index is lossless at maxHamming 3: banded pairs == naive all-pairs (pigeonhole)") {
    val docs = Tables.documents(spark, SfDir)
    val hashed = Multimodal.withPpmPayload(docs)
      .select(col("doc_id"), ImageKernels.ppmDhashCol(col("payload")).as("dhash"))
      .cache()
    val banded = Dedup.hashBandPairs(hashed, maxHamming = 3, nBands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val naive = hashed.as("a").join(hashed.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.dhash").bitwiseXOR(col("b.dhash"))).cast("long").as("hamming"))
      .where(col("hamming") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(banded == naive, "banding must lose no pair at hamming <= 3")
    // the fixture's group structure: variants 0-2 of each group pair up
    assert(banded.nonEmpty)
    assert(banded.forall { case (a, b, _) => a / 4 == b / 4 },
      "md5-field groups must not collide across groups at hamming <= 3")
    hashed.unpersist()
  }

  test("band admission: decisions replay the naive rule; null hashes are quarantined") {
    import spark.implicits._
    val docs = Tables.documents(spark, SfDir)
    val hashed = Multimodal.withPpmPayload(docs)
      .select(col("doc_id"), ImageKernels.ppmDhashCol(col("payload")).as("dhash"))
      .cache()
    val indexed = hashed.where(pmod(col("doc_id"), lit(5)) =!= 0)
    val fresh = hashed.where(pmod(col("doc_id"), lit(5)) === 0)
    val got = Dedup.hashBandAdmit(indexed, fresh)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // naive replay of the admission rule from the raw hashes
    val hs = hashed.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val freshIds = hs.keys.filter(_ % 5 == 0).toSeq.sorted
    freshIds.foreach { f =>
      val dups = hs.count { case (p, h) =>
        (p % 5 != 0 || p < f) && p != f &&
          java.lang.Long.bitCount(h ^ hs(f)) <= 3
      }
      assert(got(f) == (dups.toLong, dups == 0), s"doc $f: got ${got(f)}, naive dups=$dups")
    }
    // the fixture admits the checkerboard variants and rejects near-dups
    assert(got.values.exists(_._2) && got.values.exists(!_._2))
    // an undecodable asset must be quarantined, not vouched for
    val withNull = fresh.unionByName(
      Seq((999999L, "not a ppm".getBytes)).toDF("doc_id", "p")
        .select(col("doc_id"), ImageKernels.ppmDhashCol(col("p")).as("dhash")))
    val q = Dedup.hashBandAdmit(indexed, withNull)
      .where(col("doc_id") === 999999L).collect().head
    assert(!q.getBoolean(2) && q.getLong(1) == 0L)
    hashed.unpersist()
  }

  test("expression guards: non-binary input is rejected at analysis") {
    import spark.implicits._
    val e = intercept[Exception] {
      Seq(1L).toDF("x").select(ImageKernels.ppmDhashCol(col("x"))).collect()
    }
    assert(e.getMessage.contains("graft_ppm_dhash"))
  }
}
