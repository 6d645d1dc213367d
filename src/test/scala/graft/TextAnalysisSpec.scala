package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextAnalysis

class TextAnalysisSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def one(text: String) = Seq((1L, text)).toDF("doc_id", "text")

  test("tokens / counts on a known string") {
    val df = one("The quick brown fox, jumps! Over 42 dogs.")
    val row = df.select(
      size(TextAnalysis.tokens(col("text"))).as("n"),
      TextAnalysis.tokenCountBpe(col("text")).as("bpe")).head()
    assert(row.getInt(0) == 8)
    // alpha runs: The quick brown fox jumps Over dogs (7) + digits 42 (1) + marks , ! . (3)
    assert(row.getInt(1) == 11)
  }

  test("fingerprint is whitespace/case invariant") {
    val fps = Seq((1L, "Hello  World"), (2L, "hello world "), (3L, "HELLO\tWORLD"))
      .toDF("doc_id", "text")
      .select(TextAnalysis.fingerprint(col("text"))).distinct().count()
    assert(fps == 1)
  }

  test("langId picks the marker language, und for no hits") {
    val df = Seq(
      (1L, "der hund und die katze ist da"),
      (2L, "le chat et la maison est grande"),
      (3L, "xyzzy plugh qwerty")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), TextAnalysis.langIdOf(TextAnalysis.tokens(col("text"))).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "de")
    assert(got(2L) == "fr")
    assert(got(3L) == "und")
  }

  test("bpePairCounts: every occurrence counted, (n desc, pair) order, 1-char tokens dropped") {
    val df = Seq((1L, "Abab cd"), (2L, "aba x")).toDF("doc_id", "text")
    // normalized tokens: abab cd | aba x; pairs within tokens of len >= 2:
    // abab → ab ba ab, cd → cd, aba → ab ba  ⇒  ab×3, ba×2, cd×1 ("x" has none)
    val got = TextAnalysis.bpePairCounts(df, topK = 10).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(got == Seq("ab" -> 3L, "ba" -> 2L, "cd" -> 1L))
    // topK truncates the same ordering
    val top1 = TextAnalysis.bpePairCounts(df, topK = 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(top1 == Seq("ab" -> 3L))
  }

  test("bpePairCounts conservation: Σn equals Σ(len-1) over multi-char tokens of the corpus") {
    val docs = Tables.documents(spark, SfDir)
    val total = TextAnalysis.bpePairCounts(docs, topK = Int.MaxValue)
      .agg(sum(col("n"))).head().getLong(0)
    val expected = docs
      .select(explode(TextAnalysis.tokens(col("text"))).as("t"))
      .where(length(col("t")) >= 2)
      .agg(sum(length(col("t")) - 1)).head().getLong(0)
    assert(total == expected)
  }

  test("chunkDocs: disjoint chunks tile the stream; stride<chunk overlaps; partial final kept") {
    val d = one((1 to 120).map(i => s"t$i").mkString(" "))
    val disjoint = TextAnalysis.chunkDocs(d).orderBy("chunk_idx").collect()
    assert(disjoint.map(_.getLong(2)).toSeq == Seq(50L, 50L, 20L))
    assert(disjoint.map(_.getLong(1)).toSeq == Seq(0L, 1L, 2L))
    // overlapping windows: starts 0/25/50/75 → sizes 50/50/50/45
    val overlap = TextAnalysis.chunkDocs(d, chunkTokens = 50, stride = 25)
      .orderBy("chunk_idx").collect()
    assert(overlap.map(_.getLong(2)).toSeq == Seq(50L, 50L, 50L, 45L))
    // shorter than one chunk → a single partial chunk
    val short = TextAnalysis.chunkDocs(one("a b c")).collect()
    assert(short.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((0L, 3L)))
    // chunk fingerprint is the md5 of the re-joined token slice
    assert(short.head.getString(3) ==
      java.security.MessageDigest.getInstance("MD5").digest("a b c".getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString)
    // empty / whitespace-only docs emit NO chunks (split("", " ") is [""],
    // so a naive token-array size guard would pass a phantom 1-token chunk)
    assert(TextAnalysis.chunkDocs(one("")).count() == 0L)
    assert(TextAnalysis.chunkDocs(one("   ")).count() == 0L)
  }

  test("quality score is in [0,1] and penalizes punctuation soup") {
    val clean = "the cat sat on the mat and looked at the dog in the garden " * 4
    val soup = "!!! ??? *** $$$ %%% ### @@@ &&&"
    val q = Seq((1L, clean), (2L, soup)).toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.qualityScoreOf(col("text"), TextAnalysis.tokens(col("text"))).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(q.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(q(1L) > q(2L))
  }

  test("qualityRules: each rule fails on its own counterexample, passes on clean prose") {
    val cases = Seq(
      (1L, "the quick brown foxes jumped over a lazy sleeping dog in the garden"), // all pass
      (2L, "too few"), // wc fails (3 tokens); stop fails (no 2 distinct)
      (3L, "the extraordinarily incomprehensible characteristically a " +
        "internationalization antidisestablishmentarianism of"), // mwl high
      (4L, "the !!! cat ??? sat *** mat $$$ and %%% dog ### a of"), // punct mass
      (5L, "cat dog mat park run jump walk swim fly crawl")) // no stopwords
    val rules = TextAnalysis.qualityRules(col("text"))
    val got = cases.toDF("doc_id", "text")
      .select(col("doc_id") +: rules.map { case (n, c) => c.as(n) }: _*)
      .collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4)))
      .toMap
    assert(got(1L) == ((true, true, true, true)))
    assert(!got(2L)._1, "3 tokens must fail the count band")
    assert(!got(3L)._2, "long-word soup must fail the mean-length band")
    assert(!got(4L)._3, "symbol soup must fail the punctuation bound")
    assert(!got(5L)._4, "stopword-free text must fail the evidence rule")
  }

  test("blocklistScreen: counts every occurrence, reports distinct terms sorted") {
    val (nb, terms) = TextAnalysis.blocklistScreen(
      col("text"), Seq("zeta", "alpha"))
    val got = Seq(
      (1L, "alpha beta alpha zeta"),
      (2L, "beta gamma"),
      (3L, "ZETA mixed case")).toDF("doc_id", "text")
      .select(col("doc_id"), nb.as("n"), terms.as("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq((1L, 3L, "alpha,zeta"), (2L, 0L, ""), (3L, 1L, "zeta")))
  }

  test("collocations: exact scaled PMI on hand-counted bigrams; floor prunes; pairs never span docs") {
    // doc 1: "a b a b"  → bigrams (a,b) (b,a) (a,b); doc 2: "b c"
    // N = 6 tokens; c(a)=2, c(b)=3, c(c)=1
    val docs = Seq((1L, "a b a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = TextAnalysis.collocations(docs, col("text"), minPairCount = 2L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(5)))
    // only (a,b) survives the floor: 6·2·1e6 div (2·3) = 2_000_000;
    // (b,a) has count 1 and no pair ever spans a document boundary
    assert(got.toSeq == Seq(("a", "b", 2L, 2000000L)))
    val full = TextAnalysis.collocations(docs, col("text"), minPairCount = 1L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(full == Set(("a", "b", 2L), ("b", "a", 1L), ("b", "c", 1L)))
  }

  test("vocabDrift: exact chi2_e6 on a hand-computed contingency; min-count prunes") {
    // slice A (doc 0): "x x y"  → NA = 3; slice B (doc 1): "y y z" → NB = 3
    val docs = Seq((0L, "x x y"), (1L, "y y z")).toDF("doc_id", "text")
    val got = TextAnalysis.vocabDrift(
      docs, col("doc_id") % 2 === 0, col("text"), minCount = 2L)
      .orderBy(col("token"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // x: a=2,b=0 → χ² = 6·(2·3−0)²·1e6 / (3·3·2·4) = 216e6/72 = 3.0e6
    // y: a=1,b=2 → diff = 1·3−2·3 = −3 → 6·9e6/(9·3·3) = 54e6/81 = 666666
    // z excluded by minCount (a+b = 1)
    assert(got.toSeq == Seq(("x", 2L, 0L, 3000000L), ("y", 1L, 2L, 666666L)))
  }

  test("stripHotChunks: corpus-hot chunks die, docs reassemble in order, stripped docs stay as rows") {
    import spark.implicits._
    def md5s(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // chunk width 2: "a b" occurs 4x corpus-wide (hot); everything else once
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "x y a b z w"),
      (3L, "a b a b")).toDF("doc_id", "text")
    val got = TextAnalysis.stripHotChunks(docs, chunkTokens = 2, maxCopies = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(got.toSeq == Seq(
      (1L, 3L, 1L, 4L, md5s("c d e f")),
      (2L, 3L, 1L, 4L, md5s("x y z w")),
      (3L, 2L, 2L, 0L, md5s(""))))
    // maxCopies above the hottest count strips nothing; texts round-trip
    val untouched = TextAnalysis.stripHotChunks(docs, chunkTokens = 2, maxCopies = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(4)))
    assert(untouched.toSeq == Seq(
      (1L, 0L, md5s("a b c d e f")),
      (2L, 0L, md5s("x y a b z w")),
      (3L, 0L, md5s("a b a b"))))
  }
}
