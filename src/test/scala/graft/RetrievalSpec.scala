package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Retrieval

class RetrievalSpec extends AnyFunSuite {
  import SparkTestSession._

  test("bm25: rarity wins — the doc matching the rare term outranks the common-term doc") {
    import spark.implicits._
    // "rare" appears in one doc, "common" in all three; query hits both
    val docs = Seq(
      (1L, "common rare alpha beta"),
      (2L, "common alpha alpha beta beta"),
      (3L, "common beta alpha gamma")).toDF("doc_id", "text")
    val got = Retrieval.bm25TopK(docs, Seq("q" -> "rare common"), k = 3)
      .orderBy(col("rank")).collect()
    assert(got.head.getAs[Long]("doc_id") == 1L, "doc with the rare term must rank first")
    assert(got.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L, 3L))
    // scores are 6-decimal quantized and strictly ordered with doc-id ties
    val scores = got.map(_.getAs[Double]("score"))
    assert(scores.sameElements(scores.sortBy(-_)))
    assert(scores.forall(s => (math.abs(s * 1e6 - math.rint(s * 1e6))) < 1e-3))
  }

  test("bm25: length normalization — same tf, shorter doc scores higher") {
    import spark.implicits._
    val docs = Seq(
      (1L, "term pad"),
      (2L, "term pad pad pad pad pad pad pad pad pad")).toDF("doc_id", "text")
    val got = Retrieval.bm25TopK(docs, Seq("q" -> "term"), k = 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    assert(got(1L) > got(2L))
  }

  test("bm25: a query with no matching terms returns no rows, never null scores") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    val got = Retrieval.bm25TopK(docs, Seq("q" -> "zzz qqq"), k = 5).collect()
    assert(got.isEmpty)
  }

  test("persisted bm25 index: stored probe is bitwise the in-query ranker; bad params fail loudly") {
    val docs = Tables.documents(spark, SfDir)
    val idx = s"${GraftSession.target}/retrieval_spec/bm25_index"
    Retrieval.bm25IndexWrite(docs, idx)
    val queries = Seq("q1" -> "alpha data common", "q2" -> "model training")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("score"), r.getAs[Long]("rank"))).sorted.toSeq
    val stored = rows(Retrieval.bm25TopKPersisted(spark, idx, queries, k = 7))
    val fresh = rows(Retrieval.bm25TopK(docs, queries, k = 7))
    assert(fresh.nonEmpty, "fixture queries must hit the corpus")
    assert(stored == fresh, "stored-index scores must be bitwise the in-query ranker's")
    // scoring parameters are part of the index identity: a probe against an
    // index recorded under different k1/b must fail loudly
    import spark.implicits._
    val m = spark.read.parquet(s"$idx/meta").collect().head
    Seq((m.getAs[Long]("n_docs"), m.getAs[Double]("avgdl"), 2.0, m.getAs[Double]("b")))
      .toDF("n_docs", "avgdl", "k1", "b")
      .write.mode("overwrite").parquet(s"$idx/meta")
    val e = intercept[IllegalArgumentException] {
      Retrieval.bm25TopKPersisted(spark, idx, queries, k = 7)
    }
    assert(e.getMessage.contains("k1=2.0"))
  }

  test("bm25 index merge: merged index is table-for-table the from-scratch union build") {
    val docs = Tables.documents(spark, SfDir)
    val idxIncr = s"${GraftSession.target}/retrieval_spec/bm25_incr"
    val idxFull = s"${GraftSession.target}/retrieval_spec/bm25_full"
    Retrieval.bm25IndexWrite(docs.where(pmod(col("doc_id"), lit(5)) =!= 0), idxIncr)
    Retrieval.bm25IndexMerge(docs.where(pmod(col("doc_id"), lit(5)) === 0), idxIncr)
    Retrieval.bm25IndexWrite(docs, idxFull)
    def table(path: String) = spark.read.parquet(path).collect()
      .map(_.toSeq).sortBy(_.mkString("|")).toSeq
    // BM25 statistics are additive: every stored relation must be SET-equal
    for (t <- Seq("postings", "doclens", "terms"))
      assert(table(s"$idxIncr/$t") == table(s"$idxFull/$t"),
        s"merged $t must equal the from-scratch union build")
    val (mi, mf) = (spark.read.parquet(s"$idxIncr/meta").head(),
      spark.read.parquet(s"$idxFull/meta").head())
    assert(mi.getAs[Long]("n_docs") == mf.getAs[Long]("n_docs"))
    assert(mi.getAs[Double]("avgdl") == mf.getAs[Double]("avgdl"))
    assert(mi.getAs[Long]("version") == 1L && mf.getAs[Long]("version") == 0L)
    // and therefore probe-for-probe bitwise
    val queries = Seq("q1" -> "alpha data common", "q2" -> "model training")
    def rows(idx: String) = Retrieval.bm25TopKPersisted(spark, idx, queries, k = 7)
      .collect().map(r => (r.getAs[String]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("score"), r.getAs[Long]("rank"))).sorted.toSeq
    val got = rows(idxIncr)
    assert(got.nonEmpty && got == rows(idxFull))
    // re-ingesting an indexed doc id must fail, not double-count scores
    val e = intercept[IllegalArgumentException] {
      Retrieval.bm25IndexMerge(docs.where(col("doc_id") < 3), idxIncr)
    }
    assert(e.getMessage.contains("shares doc ids"))
  }

  test("hybrid seed expansion: seeds excluded, ranks bounded, RRF is the exact integer fusion") {
    val docs = Tables.documents(spark, SfDir)
    val emb = Tables.embeddings(spark, SfDir)
    val seeds = Seq(3L, 42L)
    val got = Retrieval.hybridSeedExpand(docs, emb, seeds, k = 10, poolK = 50).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val seed = r.getAs[Long]("seed_id")
      val doc = r.getAs[Long]("doc_id")
      val lex = r.getAs[Long]("lex_rank")
      val vec = r.getAs[Long]("vec_rank")
      val rrf = r.getAs[Long]("rrf")
      assert(doc != seed, "the seed must not retrieve itself")
      assert(r.getAs[Long]("rank") >= 1L && r.getAs[Long]("rank") <= 10L)
      assert(lex >= 0L && lex <= 50L && vec >= 0L && vec <= 50L)
      assert(lex > 0L || vec > 0L, "a fused row must come from at least one pool")
      val expected =
        (if (lex > 0L) 1000000000L / (60L + lex) else 0L) +
          (if (vec > 0L) 1000000000L / (60L + vec) else 0L)
      assert(rrf == expected, s"seed=$seed doc=$doc: rrf $rrf != $expected")
    }
    // within a seed, fused rank order follows (rrf desc, doc_id asc)
    got.groupBy(_.getAs[Long]("seed_id")).values.foreach { rows =>
      val ordered = rows.sortBy(_.getAs[Long]("rank"))
      val keys = ordered.map(r => (-r.getAs[Long]("rrf"), r.getAs[Long]("doc_id"))).toSeq
      assert(keys == keys.sorted)
    }
  }

  test("trimodal: three-pool RRF is the exact integer fusion; seeds excluded everywhere") {
    import spark.implicits._
    val docs = Tables.documents(spark, SfDir)
    val emb = Tables.embeddings(spark, SfDir)
    val pairs = graft.operators.Dedup.winnowOverlapPairs(docs, minShared = 2)
    val seeds = pairs.select(col("doc_a").as("node"))
      .unionByName(pairs.select(col("doc_b").as("node"))).distinct()
      .orderBy(col("node")).limit(2).collect().map(_.getLong(0)).toSeq
    val got = Retrieval.trimodalSeedExpand(docs, emb, pairs, seeds, k = 5, poolK = 30).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getAs[Long]("doc_id") != r.getAs[Long]("seed_id"))
      val ranks = Seq("lex_rank", "vec_rank", "ppr_rank").map(r.getAs[Long])
      assert(ranks.forall(x => x >= 0L && x <= 30L))
      assert(ranks.exists(_ > 0L), "a fused row must come from at least one pool")
      val expected = ranks.map(x => if (x > 0L) 1000000000L / (60L + x) else 0L).sum
      assert(r.getAs[Long]("rrf") == expected)
    }
  }

  test("hybrid: empty seed set fails loudly") {
    val docs = Tables.documents(spark, SfDir)
    val emb = Tables.embeddings(spark, SfDir)
    val e = intercept[IllegalArgumentException] {
      Retrieval.hybridSeedExpand(docs, emb, Seq.empty)
    }
    assert(e.getMessage.contains("empty seed set"))
  }

  test("trigramSearch: candidates superset matches; false positives verified away; normalization applied") {
    import spark.implicits._
    val docs = Seq(
      (1L, "abc abc xyz"),    // true match
      (2L, "abc dbc ax abq"), // carries all 4 phrase trigrams, lacks the phrase
      (3L, "nothing here")).toDF("doc_id", "text")
    // phrase deliberately messy: must normalize to "abc abc"
    val got = graft.operators.Retrieval.trigramSearch(docs, Seq("p" -> "  ABC   abc "))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("p", 1L, 2L, 1L)),
      s"expected one verified match with two candidates, got ${got.toSeq}")
    // sub-3-char phrases are refused loudly
    val e = intercept[IllegalArgumentException] {
      graft.operators.Retrieval.trigramSearch(docs, Seq("tiny" -> " a "))
    }
    assert(e.getMessage.contains("normalizes below 3 chars"))
  }
}
