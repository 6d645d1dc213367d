package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bpe
import graft.operators.Bpe.Merge

class BpeSpec extends AnyFunSuite {
  import SparkTestSession._

  test("run corpus: greedy-left single-pass semantics, exact ranked table") {
    import spark.implicits._
    val docs = Seq((1L, "aaaa"), (2L, "aaaa"), (3L, "aaaa")).toDF("doc_id", "text")
    // each 'aaaa' has 3 adjacent (a,a) pairs; greedy-left gives [aa, aa],
    // so round 2's top pair is (aa, aa) — NOT (aa, a), which a sloppy
    // overlapping count would produce
    assert(Bpe.trainMerges(docs, 2) ==
      Seq(Merge(1, "a", "a", "aa", 9L), Merge(2, "aa", "aa", "aaaa", 3L)))
  }

  test("low/lower corpus: ties break lexicographically, merges chain") {
    import spark.implicits._
    val docs = Seq((1L, "low low low"), (2L, "low lower lower")).toDF("doc_id", "text")
    // (l,o) and (o,w) both count 6 — (l,o) wins the (count DESC, l, r)
    // order; after "lo"+"w" → "low", the only pairs left are in "lower"
    assert(Bpe.trainMerges(docs, 4) == Seq(
      Merge(1, "l", "o", "lo", 6L),
      Merge(2, "lo", "w", "low", 6L),
      Merge(3, "e", "r", "er", 2L),
      Merge(4, "low", "er", "lower", 2L)))
  }

  test("tokenCol reproduces the trained segmentation and handles unseen words") {
    import spark.implicits._
    val docs = Seq((1L, "low low low"), (2L, "low lower lower")).toDF("doc_id", "text")
    val merges = Bpe.trainMerges(docs, 4)
    val words = Seq("low", "lower", "slow", "wol").toDF("word")
    val got = words
      .select(org.apache.spark.sql.functions.col("word"),
        Bpe.tokenCol(org.apache.spark.sql.functions.col("word"), merges).as("toks"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    assert(got("low") == List("low"))
    assert(got("lower") == List("lower"))
    assert(got("slow") == List("s", "low")) // prefix char + learned subword
    assert(got("wol") == List("w", "o", "l")) // no merge applies backwards
  }

  test("selection-time pair counts are non-increasing across rounds") {
    // merging the global max can only shrink old pairs and mint new pairs
    // bounded by the merged count — the monotonicity a correct weighted
    // count must show on any corpus
    val ms = Bpe.trainMerges(Tables.documents(spark, SfDir), 6)
    assert(ms.map(_.count) == ms.map(_.count).sorted.reverse)
    assert(ms.map(_.rank) == (1L to 6L))
  }

  test("kernel route == staged fold == nested expression, including nasty words") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq((1L, "low low low"), (2L, "low lower lower")).toDF("doc_id", "text")
    val merges = Bpe.trainMerges(docs, 4)
    // runs (greedy-left), learned words, prefixes/suffixes, unicode
    // multi-byte, and a word equal to a merged symbol
    val words = Seq("llll", "lll", "low", "lower", "slow", "wol", "lo",
      "cafélow", "中low文", "o", "lowlow").toDF("word")
    def asMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    val kernel = asMap(words.select(col("word"),
      Bpe.tokenKernelCol(col("word"), merges).as("s")).collect())
    val staged = asMap(Bpe.withBpeTokens(words, "word", merges, "s")
      .select(col("word"), col("s")).collect())
    val nested = asMap(words.select(col("word"),
      Bpe.tokenCol(col("word"), merges).as("s")).collect())
    assert(kernel == staged)
    assert(kernel == nested)
    assert(kernel("lowlow") == List("low", "low"))
    assert(kernel("cafélow") == List("c", "a", "f", "é", "low"))
  }

  test("decodeIds reconstructs the character stream from a shuffled id stream") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "lower lowest low"),
      (2L, "newer newest new"),
      (3L, "low new lower")).toDF("doc_id", "text")
    val merges = Bpe.trainMerges(docs, 4)
    // build the (doc, pos, token_id) stream the declared query emits
    val words = docs.select(
      col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("wpos", "word")))
    val subs = words.select(
      col("doc_id"), col("wpos"),
      posexplode(Bpe.tokenKernelCol(col("word"), merges)).as(Seq("spos", "subword")))
    val vocab = subs.select(col("subword")).distinct()
      .withColumn("token_id",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("subword"))).cast("long"))
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("wpos"), col("spos"))
    val stream = subs.join(vocab, "subword")
      .select(col("doc_id"), (row_number().over(wd) - 1).cast("long").as("pos"), col("token_id"))
      // decode must NOT depend on arrival order — only on pos
      .orderBy(md5(concat(col("doc_id").cast("string"), col("pos").cast("string"))))
    val got = Bpe.decodeIds(stream, vocab)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      1L -> "lowerlowestlow", 2L -> "newernewestnew", 3L -> "lownewlower"))
  }

  test("degenerate inputs fail loudly") {
    import spark.implicits._
    val tiny = Seq((1L, "ab")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](Bpe.trainMerges(tiny, 3))
    assert(e.getMessage.contains("exhausted"))
    intercept[IllegalArgumentException](Bpe.trainMerges(tiny, 0))
  }

  test("driver-local route == distributed route, merge for merge") {
    import spark.implicits._
    // the exact corpora the distributed tests pin, plus the sf fixture —
    // same argmax tie-break, same greedy-left application, so the ranked
    // tables must be IDENTICAL including selection-time counts
    val run = Seq((1L, "aaaa"), (2L, "aaaa"), (3L, "aaaa")).toDF("doc_id", "text")
    assert(Bpe.trainMergesLocal(run, 2) == Bpe.trainMerges(run, 2))
    val low = Seq((1L, "low low low"), (2L, "low lower lower")).toDF("doc_id", "text")
    assert(Bpe.trainMergesLocal(low, 4) == Bpe.trainMerges(low, 4))
    val docs = Tables.documents(spark, SfDir)
    assert(Bpe.trainMergesLocal(docs, 6) == Bpe.trainMerges(docs, 6))
  }

  test("driver-local route refuses a vocabulary larger than maxWords") {
    val docs = Tables.documents(spark, SfDir)
    val e = intercept[IllegalArgumentException](
      Bpe.trainMergesLocal(docs, 2, maxWords = 10L))
    assert(e.getMessage.contains("maxWords"))
    intercept[IllegalArgumentException](Bpe.trainMergesLocal(docs, 0))
    // exhaustion fails loudly on the local route too
    import spark.implicits._
    val tiny = Seq((1L, "ab")).toDF("doc_id", "text")
    val x = intercept[IllegalArgumentException](Bpe.trainMergesLocal(tiny, 3))
    assert(x.getMessage.contains("exhausted"))
  }
}
