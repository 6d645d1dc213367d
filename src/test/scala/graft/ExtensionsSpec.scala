package graft

import scala.collection.mutable

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GraftExtensions, MediaSynth}

/** The SparkSessionExtensions deployment path: a session created with
  * `spark.sql.extensions=graft.functions.GraftExtensions` (SparkTestSession
  * sets it) must expose every kernel to plain SQL with no library call —
  * the extension is the only place a `graft_*` function is registered.
  */
class ExtensionsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("kernels are available to SQL via spark.sql.extensions injection") {
    val r = spark.sql(
      """SELECT
        |  graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |  size(graft_shingles(array('a','b','c','d'), 3)) AS ns,
        |  size(graft_minhash(array('a b c'))) AS nm,
        |  graft_simhash60(cast(array() AS array<string>)) AS sh,
        |  size(graft_winnow(array('a','b','c','d','e','f','g'), 3, 4)) AS nw,
        |  graft_repstats(array('a','b','a','b','a'), 2) AS rs
        |""".stripMargin).head()
    assert(r.getDouble(0) == 11.0)
    assert(r.getInt(1) == 2)   // grams: "a b c", "b c d"
    assert(r.getInt(2) == 32)  // 32 minhash slots
    assert(r.getLong(3) == 0L) // empty token set → zero signature
    assert(r.getInt(4) >= 1)   // 5 grams, window 4 → >= 1 fingerprint
    val rs = r.getStruct(5)    // grams: a b, b a, a b, b a → top "a b" ×2
    assert(rs.getLong(0) == 4L && rs.getLong(1) == 2L && rs.getLong(2) == 2L)
  }

  test("graft_bpe_apply is injected: SQL segmentation under a merge-table literal") {
    val r = spark.sql(
      """SELECT graft_bpe_apply('lllow', array('l','o', 'lo','w')) AS s,
        |       graft_bpe_apply('ab', cast(array() AS array<string>)) AS raw
        |""".stripMargin).head()
    // chars l,l,l,o,w → merge (l,o): l,l,lo,w → merge (lo,w): l,l,low
    assert(r.getSeq[String](0).toList == List("l", "l", "low"))
    assert(r.getSeq[String](1).toList == List("a", "b")) // empty table = chars
  }

  test("graft_sqdist_l / graft_eq_count match their interpreted HOF chains") {
    // the pair kernels the KNN-Shapley and LSH-verify hot paths swapped to:
    // same value as the aggregate(zip_with(...)) / size(filter(zip_with(...)))
    // chains they replaced, null arrays null out, ragged lengths throw
    val r = spark.sql(
      """SELECT
        |  graft_sqdist_l(array(1L, 5L, 2L), array(4L, 5L, 0L)) AS d,
        |  aggregate(zip_with(array(1L, 5L, 2L), array(4L, 5L, 0L),
        |            (x, y) -> (x - y) * (x - y)), 0L, (a, x) -> a + x) AS d_hof,
        |  graft_eq_count(array(1L, 5L, 2L), array(4L, 5L, 2L)) AS c,
        |  size(filter(zip_with(array(1L, 5L, 2L), array(4L, 5L, 2L),
        |              (x, y) -> x = y), b -> b)) AS c_hof,
        |  graft_sqdist_l(cast(null AS array<bigint>), array(1L)) AS dn,
        |  graft_eq_count(array(1L), cast(null AS array<bigint>)) AS cn
        |""".stripMargin).head()
    assert(r.getLong(0) == 13L && r.getLong(1) == 13L)
    assert(r.getInt(2) == 2 && r.getInt(3) == 2)
    assert(r.isNullAt(4) && r.isNullAt(5))
    val e = intercept[Exception] {
      spark.sql("SELECT graft_sqdist_l(array(1L), array(1L, 2L))").head()
    }
    assert(e.getMessage.contains("mismatched") ||
      Option(e.getCause).exists(_.getMessage.contains("mismatched")))
  }

  test("null ELEMENTS keep the interpreted chains' semantics (ADVICE r16)") {
    // sqdist: zip_with emits a null term, the aggregate fold absorbs it →
    // null distance; eq_count: filter drops the null comparison → the slot
    // reads as disagreement. The kernels must agree exactly.
    val r = spark.sql(
      """SELECT
        |  graft_sqdist_l(array(1L, NULL, 2L), array(4L, 5L, 0L)) AS d,
        |  aggregate(zip_with(array(1L, NULL, 2L), array(4L, 5L, 0L),
        |            (x, y) -> (x - y) * (x - y)), 0L, (a, x) -> a + x) AS d_hof,
        |  graft_eq_count(array(1L, NULL, 2L), array(4L, NULL, 2L)) AS c,
        |  size(filter(zip_with(array(1L, NULL, 2L), array(4L, NULL, 2L),
        |              (x, y) -> x = y), b -> b)) AS c_hof
        |""".stripMargin).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
    assert(r.getInt(2) == 1 && r.getInt(3) == 1)
  }

  test("r17 map-side kernels match their interpreted HOF chains") {
    // graft_count_in / graft_terms_present / graft_toklen_sum /
    // graft_adj_pairs / graft_filter_cands vs the filter/zip_with/aggregate
    // chains they replaced — same integers, same rows, same order
    val r = spark.sql(
      """SELECT
        |  graft_count_in(array('the','cat','the','a'), array('the','a')) AS ci,
        |  size(filter(array('the','cat','the','a'), t -> t IN ('the','a'))) AS ci_hof,
        |  graft_terms_present(array('the','cat','the'), array('the','a','cat')) AS tp,
        |  size(filter(array('the','a','cat'), s -> array_contains(array('the','cat','the'), s))) AS tp_hof,
        |  graft_toklen_sum(array('ab','c','def')) AS ls,
        |  aggregate(transform(array('ab','c','def'), t -> cast(length(t) AS double)), 0.0d, (a, x) -> a + x) AS ls_hof,
        |  graft_adj_pairs(array('a','b','c')) AS ap,
        |  zip_with(slice(array('a','b','c'), 1, 2), slice(array('a','b','c'), 2, 2),
        |           (l, r) -> struct(l, r)) AS ap_hof,
        |  graft_adj_pairs(array('x')) AS ap1,
        |  graft_filter_cands(array('the','abc','zz','abcd'), array('the'), 3) AS fc,
        |  filter(array('the','abc','zz','abcd'), w -> length(w) >= 3 AND NOT w IN ('the')) AS fc_hof
        |""".stripMargin).head()
    assert(r.getInt(0) == 3 && r.getInt(1) == 3)
    assert(r.getInt(2) == 2 && r.getInt(3) == 2)
    assert(r.getLong(4) == 6L && r.getDouble(5) == 6.0)
    val ap = r.getSeq[org.apache.spark.sql.Row](6).map(p => (p.getString(0), p.getString(1)))
    val apHof = r.getSeq[org.apache.spark.sql.Row](7).map(p => (p.getString(0), p.getString(1)))
    assert(ap == Seq(("a", "b"), ("b", "c")) && ap == apHof)
    assert(r.getSeq[String](8).isEmpty)
    assert(r.getSeq[String](9) == Seq("abc", "abcd") &&
      r.getSeq[String](9) == r.getSeq[String](10))
    val ic = spark.sql(
      """SELECT
        |  graft_inter_count(array('a','b','c','b'), array('b','c','d')) AS k,
        |  size(array_intersect(array('a','b','c','b'), array('b','c','d'))) AS hof,
        |  graft_inter_count(array('a'), cast(array() AS array<string>)) AS none
        |""".stripMargin).head()
    assert(ic.getInt(0) == 2 && ic.getInt(1) == 2 && ic.getInt(2) == 0)
  }

  test("graft_lambda_fold matches the interpreted element_at fold bitwise") {
    val lam = Seq(0.1, -0.25, 7.5e-3, 1.125)
    val lamSql = lam.map(d => s"${d}d").mkString("array(", ",", ")")
    val r = spark.sql(
      s"""SELECT
         |  graft_lambda_fold(array(5L, 2L, 11L, 0L), $lamSql) AS k,
         |  aggregate(transform(array(5L, 2L, 11L, 0L),
         |            h -> element_at($lamSql, cast(h % 4 AS int) + 1)),
         |            cast(0.0 AS double), (acc, x) -> acc + x) AS hof
         |""".stripMargin).head()
    assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
      java.lang.Double.doubleToLongBits(r.getDouble(1)))
  }

  test("graft_rp_project matches the interpreted aggregate(sequence(...)) chain bitwise") {
    import graft.operators.Similarity
    val outDim = 4
    val inDim = 8
    val signs = for (j <- 0 until outDim; i <- 0 until inDim) yield Similarity.rpSign(j, i)
    val scale = math.sqrt(outDim.toDouble)
    val vec = "array(" + (1 to inDim).map(i => s"cast(0.${i}25 as float)").mkString(",") + ")"
    val signsSql = signs.map(d => s"${d}d").mkString("array(", ",", ")")
    val ysHof = (0 until outDim).map { j =>
      val sj = (0 until inDim).map(i => s"${Similarity.rpSign(j, i)}d").mkString("array(", ",", ")")
      s"""aggregate(sequence(0, ${inDim - 1}), cast(0.0 as double),
         |  (acc, i) -> acc + element_at($vec, i + 1) * element_at($sj, i + 1)) / $scale""".stripMargin
    }.mkString("array(", ",", ")")
    val r = spark.sql(
      s"SELECT graft_rp_project($vec, $signsSql, $outDim) AS k, $ysHof AS hof").head()
    val k = r.getSeq[Double](0)
    val hof = r.getSeq[Double](1)
    assert(k.size == outDim && hof.size == outDim)
    k.zip(hof).foreach { case (a, b) =>
      assert(java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b))
    }
    // wrong input width must THROW, not silently project a prefix
    val e = intercept[Exception] {
      spark.sql(s"SELECT graft_rp_project(array(cast(1.0 as float)), $signsSql, $outDim)").head()
    }
    assert(e.getMessage.contains("vector length") ||
      Option(e.getCause).exists(_.getMessage.contains("vector length")))
  }

  test("graft_bloom_count_in matches the per-element graft_bloom_contains filter") {
    import graft.functions.BloomFunctions
    val docs = spark.range(0, 50).selectExpr("id AS v")
    val bytes = {
      import org.apache.spark.sql.functions._
      val bf = docs.select(BloomFunctions.bloomAgg(col("v"), 50L, 0.03).as("f")).head().getAs[Array[Byte]](0)
      bf
    }
    import org.apache.spark.sql.functions._
    val probe = spark.sql("SELECT array(1L, 2L, 999L, 12345L, 3L) AS hs")
    val kernel = probe.select(BloomFunctions.bloomCountInCol(col("hs"), bytes).as("c"))
      .head().getInt(0)
    val hof = probe.select(
      size(filter(col("hs"), h => BloomFunctions.bloomContains(lit(bytes), h))).as("c"))
      .head().getInt(0)
    assert(kernel == hof && kernel >= 3) // the three present ids always hit
  }

  test("the vec_sum aggregate is injected too") {
    val s = spark.sql(
      """SELECT graft_vec_sum(v) AS s
        |FROM VALUES (array(1.0d, 2.0d)), (array(3.0d, 4.0d)) AS t(v)""".stripMargin)
      .head().getAs[collection.Seq[Double]](0)
    assert(s == Seq(4.0, 6.0))
  }

  test("the vec_min / vec_max aggregates are injected too") {
    val r = spark.sql(
      """SELECT graft_vec_min(v) AS mn, graft_vec_max(v) AS mx
        |FROM VALUES (array(1.0d, 4.0d)), (array(3.0d, 2.0d)) AS t(v)""".stripMargin)
      .head()
    assert(r.getAs[collection.Seq[Double]](0) == Seq(1.0, 2.0))
    assert(r.getAs[collection.Seq[Double]](1) == Seq(3.0, 4.0))
  }

  test("media fingerprint kernels and text utilities are injected") {
    val r = spark.sql(
      """SELECT
        |  graft_media_header(cast('not media' AS BINARY)).format AS fmt,
        |  graft_ppm_dhash(cast('not a ppm' AS BINARY)) AS ph,
        |  graft_wav_ehash(cast('not a wav' AS BINARY)) AS ah,
        |  graft_nfc('é') AS nfc,
        |  size(graft_gram_hashes(array('a','b','c','d'), 3)) AS ng
        |""".stripMargin).head()
    assert(r.getString(0) == "unknown")
    assert(r.isNullAt(1) && r.isNullAt(2)) // classify, never throw
    assert(r.getString(3) == "é")     // composed NFC form
    assert(r.getInt(4) == 2)
  }

  test("sketch aggregates (theta, kll, bloom) are injected") {
    val r = spark.sql(
      """SELECT
        |  graft_theta_estimate(graft_theta_sketch(v, 12)) AS est,
        |  graft_kll_quantile(graft_kll_sketch(cast(v AS DOUBLE), 200), 0.5d) AS med
        |FROM VALUES (1L), (2L), (3L) AS t(v)""".stripMargin).head()
    assert(r.getDouble(0) == 3.0) // exact mode: estimate IS the count
    assert(r.getDouble(1) >= 1.0 && r.getDouble(1) <= 3.0)
    // might_contain requires the filter as a constant/scalar subquery
    val hit = spark.sql(
      """SELECT graft_bloom_contains(
        |  (SELECT graft_bloom_agg(xxhash64(v), 3L, 1024L) FROM VALUES (1L), (2L), (3L) AS t(v)),
        |  xxhash64(2L)) AS hit""".stripMargin).head().getBoolean(0)
    assert(hit) // no false negatives
  }

  test("exact bitmap aggregates are injected") {
    val r = spark.sql(
      """SELECT
        |  graft_bitmap_count(graft_bitmap_agg(v)) AS n,
        |  graft_bitmap_and_count(
        |    (SELECT graft_bitmap_agg(x) FROM VALUES (1L), (2L) AS a(x)),
        |    (SELECT graft_bitmap_agg(y) FROM VALUES (2L), (3L) AS b(y))) AS inter,
        |  graft_bitmap_andnot_count(
        |    (SELECT graft_bitmap_agg(x) FROM VALUES (1L), (2L) AS a(x)),
        |    (SELECT graft_bitmap_agg(y) FROM VALUES (2L), (3L) AS b(y))) AS anotb
        |FROM VALUES (1L), (2L), (2L), (5L) AS t(v)""".stripMargin).head()
    assert(r.getLong(0) == 3L)
    assert(r.getLong(1) == 1L)
    assert(r.getLong(2) == 1L)
    val u = spark.sql(
      """SELECT graft_bitmap_count(graft_bitmap_union(bm)) FROM (
        |  SELECT graft_bitmap_agg(v) AS bm FROM VALUES (1L, 1L), (1L, 2L), (2L, 2L), (2L, 9L) AS t(g, v)
        |  GROUP BY g)""".stripMargin).head().getLong(0)
    assert(u == 3L)
  }

  test("every injected graft_* kernel resolves on the shared session and on newSession()") {
    val injected = mutable.ArrayBuffer.empty[String]
    new GraftExtensions()(new SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = injected += f._1.funcName
    })
    val names = injected.toSet
    assert(injected.size == 51 && names.size == 51, injected.sorted.mkString(", "))
    assert(names.forall(_.startsWith("graft_")))
    val fresh = spark.newSession()
    for (session <- Seq(spark, fresh); n <- names.toSeq.sorted)
      assert(session.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)), n)

    // one SQL call to each kernel no other test reaches through SQL
    val dv = fresh.sql("SELECT graft_bitmap_agg(id) FROM range(2, 5)")
      .head().getAs[Array[Byte]](0).map(b => f"$b%02X").mkString
    val r = fresh.sql(
      s"""SELECT
         |  graft_ppm_payload(5L) AS ppm,
         |  graft_wav_payload(5L) AS wav,
         |  graft_ppm_frame_payload(5L, 2L, 4L) AS frame,
         |  size(graft_ppm_resize(graft_ppm_payload(5L))) AS grid,
         |  size(graft_wav_envelope(graft_wav_payload(5L))) AS env,
         |  graft_dv_contains(map('f', X'$dv'), 'f', 3L) AS hit,
         |  graft_dv_contains(map('f', X'$dv'), 'f', 7L) AS miss
         |""".stripMargin).head()
    assert(r.getAs[Array[Byte]](0).sameElements(MediaSynth.ppmPayload(5L)))
    assert(r.getAs[Array[Byte]](1).sameElements(MediaSynth.wavPayload(5L)))
    assert(r.getAs[Array[Byte]](2).sameElements(MediaSynth.ppmFramePayload(5L, 2L, 4L)))
    assert(r.getInt(3) == 72 && r.getInt(4) == 65) // pooled blocks, energy windows
    assert(r.getBoolean(5) && !r.getBoolean(6))
  }
}
