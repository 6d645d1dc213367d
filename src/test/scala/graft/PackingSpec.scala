package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Packing

class PackingSpec extends AnyFunSuite {
  import SparkTestSession._

  private val Budget = 8
  private val Shards = 2

  private def fixture = {
    import spark.implicits._
    Seq(
      (1L, "a b c d e"),
      (2L, "f g h"),
      (3L, ""), // empty → dropped (phantom-token guard)
      (4L, "   \t "), // whitespace-only → dropped
      (5L, (1 to 12).map(i => s"t$i").mkString(" ")), // spans cuts at budget 8
      (6L, "x y"),
      (7L, "one two three four five six seven"),
      (8L, "q r s t u v w")
    ).toDF("doc_id", "text")
  }

  test("layout: contiguous disjoint intervals per shard, degenerate docs dropped") {
    val rows = Packing.packSequences(fixture, Budget, Shards).collect()
    val ids = rows.map(_.getAs[Long]("doc_id")).toSet
    assert(!ids.contains(3L) && !ids.contains(4L), "empty docs must not pack")
    assert(ids.size == 6)
    rows.groupBy(_.getAs[Long]("shard")).values.foreach { rs =>
      var cursor = 0L
      rs.sortBy(_.getAs[Long]("doc_id")).foreach { r =>
        assert(r.getAs[Long]("start_tok") == cursor, "docs must abut: no gaps, no overlap")
        cursor += r.getAs[Long]("n_tokens")
      }
    }
    rows.foreach { r =>
      val start = r.getAs[Long]("start_tok")
      val n = r.getAs[Long]("n_tokens")
      assert(n > 0)
      assert(r.getAs[Long]("seq_in_shard") == start / Budget)
      assert(r.getAs[Long]("offset_in_seq") == start % Budget)
      assert(r.getAs[Long]("n_seqs") == (start + n - 1) / Budget - start / Budget + 1)
    }
  }

  test("a doc wider than the remaining window spans multiple sequences") {
    val spanning = Packing.packSequences(fixture, Budget, Shards)
      .where(col("n_tokens") > Budget).collect()
    assert(spanning.nonEmpty, "fixture doc 5 (12 tokens) must exceed the budget")
    spanning.foreach(r => assert(r.getAs[Long]("n_seqs") >= 2))
  }

  test("layout is a pure function of the data: invariant under input partitioning") {
    val a = Packing.packSequences(fixture, Budget, Shards).orderBy("doc_id").collect().toSeq
    val b = Packing.packSequences(fixture.repartition(7), Budget, Shards)
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("token conservation: every shard's stream covers exactly its docs' tokens") {
    Packing.packSequences(fixture, Budget, Shards)
      .groupBy("shard")
      .agg(
        sum("n_tokens").as("total"),
        max(col("start_tok") + col("n_tokens")).as("stream_end"))
      .collect()
      .foreach(r => assert(r.getAs[Long]("total") == r.getAs[Long]("stream_end")))
  }

  test("slices: every sequence holds exactly budget tokens except each shard's last") {
    val slices = Packing.packedSequenceSlices(fixture, Budget, Shards).collect()
    val byShard = slices.groupBy(_.getAs[Long]("shard"))
    byShard.foreach { case (_, rs) =>
      val lastSeq = rs.map(_.getAs[Long]("seq_in_shard")).max
      rs.groupBy(_.getAs[Long]("seq_in_shard")).foreach { case (seq, ss) =>
        val toks = ss.map(r => r.getAs[Long]("tok_to") - r.getAs[Long]("tok_from")).sum
        if (seq < lastSeq) assert(toks == Budget, s"interior seq $seq must be full")
        else assert(toks > 0 && toks <= Budget, "final seq must be non-empty, not overfull")
      }
    }
  }

  test("slices: per-doc ranges reassemble the whole document in order, no overlap") {
    val slices = Packing.packedSequenceSlices(fixture, Budget, Shards).collect()
    val layout = Packing.packSequences(fixture, Budget, Shards).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    slices.groupBy(_.getAs[Long]("doc_id")).foreach { case (id, ss) =>
      val sorted = ss.sortBy(r => (r.getAs[Long]("seq_in_shard")))
      var cursor = 0L
      sorted.foreach { r =>
        assert(r.getAs[Long]("tok_from") == cursor, s"doc $id slices must abut")
        cursor = r.getAs[Long]("tok_to")
      }
      assert(cursor == layout(id).getAs[Long]("n_tokens"), s"doc $id fully covered")
    }
  }

  test("slices: slice_idx is 0-based, dense, and ordered by stream position") {
    Packing.packedSequenceSlices(fixture, Budget, Shards).collect()
      .groupBy(r => (r.getAs[Long]("shard"), r.getAs[Long]("seq_in_shard")))
      .foreach { case (_, ss) =>
        assert(ss.map(_.getAs[Long]("slice_idx")).sorted.toSeq == (0L until ss.length).toSeq)
      }
  }

  test("gather: sequences reassemble each shard's token stream exactly") {
    // THE loader invariant: concatenating every sequence's gathered text in
    // (shard, seq) order must reproduce the shard's full token stream —
    // i.e. the normalized docs laid end to end in id order. Any slicing,
    // ordering, or join bug breaks this equality somewhere.
    val gathered = Packing.gatherSequenceText(fixture, Budget, Shards).collect()
    val layout = Packing.packSequences(fixture, Budget, Shards).collect()
    val docText = fixture.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def normToks(s: String): Seq[String] =
      s.toLowerCase.replaceAll("\\s+", " ").trim.split(" ").toSeq.filter(_.nonEmpty)
    gathered.groupBy(_.getAs[Long]("shard")).foreach { case (shard, seqs) =>
      val got = seqs.sortBy(_.getAs[Long]("seq_in_shard"))
        .flatMap(r => r.getAs[String]("seq_text").split(" ")).toSeq
      val expected = layout.filter(_.getAs[Long]("shard") == shard)
        .sortBy(_.getAs[Long]("doc_id"))
        .flatMap(r => normToks(docText(r.getAs[Long]("doc_id")))).toSeq
      assert(got == expected, s"shard $shard stream mismatch")
    }
    // every interior sequence's gathered text is exactly budget tokens
    gathered.groupBy(_.getAs[Long]("shard")).foreach { case (_, seqs) =>
      val lastSeq = seqs.map(_.getAs[Long]("seq_in_shard")).max
      seqs.foreach { r =>
        val n = r.getAs[String]("seq_text").split(" ").length
        assert(n == r.getAs[Long]("seq_tokens"), "seq_tokens must count the gathered tokens")
        if (r.getAs[Long]("seq_in_shard") < lastSeq) assert(n == Budget)
      }
    }
  }

  test("epochPlan: every epoch is a complete permutation with per-worker dense ranks") {
    val slices = Packing.packedSequenceSlices(fixture, Budget, Shards)
    val allSeqs = slices.select("shard", "seq_in_shard").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val plan = Packing.epochPlan(slices, epochs = 3, nWorkers = 2).collect()
    (1L to 3L).foreach { e =>
      val rows = plan.filter(_.getLong(0) == e)
      // complete: each sequence appears exactly once per epoch
      assert(rows.map(r => (r.getLong(3), r.getLong(4))).toSet == allSeqs)
      assert(rows.length == allSeqs.size)
      // dense 0-based positions within each worker
      rows.groupBy(_.getLong(1)).foreach { case (_, ws) =>
        assert(ws.map(_.getLong(2)).sorted.toSeq == (0L until ws.length).toSeq)
      }
    }
  }

  test("epochPlan: epochs permute differently AND re-deal sequences across workers") {
    val slices = Packing.packedSequenceSlices(fixture, Budget, Shards)
    val plan = Packing.epochPlan(slices, epochs = 2, nWorkers = 2).collect()
    def byEpoch(e: Long) = plan.filter(_.getLong(0) == e)
      .map(r => (r.getLong(3), r.getLong(4)) -> (r.getLong(1), r.getLong(2))).toMap
    val (e1, e2) = (byEpoch(1L), byEpoch(2L))
    // the fixture packs enough sequences that identical epoch plans would
    // mean the epoch salt is dead — some sequence must move worker or rank
    assert(e1 != e2, "epoch 2 must not replay epoch 1's plan")
    assert(e1.exists { case (k, (w, _)) => e2(k)._1 != w },
      "some sequence must change workers between epochs")
  }

  test("epochPlan is a pure function of the keys: repartition-invariant, slice-dup proof") {
    val slices = Packing.packedSequenceSlices(fixture, Budget, Shards)
    def run(df: org.apache.spark.sql.DataFrame) =
      Packing.epochPlan(df, epochs = 2, nWorkers = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    // slice tables carry one row per SLICE; the plan must dedupe to sequences
    assert(run(slices) == run(slices.repartition(7)))
    assert(run(slices) == run(slices.union(slices)))
  }

  test("epochPlan rejects degenerate geometry") {
    val slices = Packing.packedSequenceSlices(fixture, Budget, Shards)
    intercept[IllegalArgumentException](Packing.epochPlan(slices, epochs = 0, nWorkers = 2))
    intercept[IllegalArgumentException](Packing.epochPlan(slices, epochs = 1, nWorkers = 0))
  }

  test("packLayout: external counts (a real tokenizer's) obey the same layout laws") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // counts a whitespace proxy could never produce: primes, zeros, negatives
    val counts = Seq(
      (1L, 7L), (2L, 0L), (3L, 13L), (4L, -2L), (5L, 29L), (6L, 11L), (7L, 5L))
      .toDF("doc_id", "n_tokens")
    val got = Packing.packLayout(counts, budgetTokens = 16, nShards = 2).collect()
    // nonpositive counts are dropped, everything else kept
    assert(got.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 3L, 5L, 6L, 7L))
    // per shard: start_tok is the running sum in doc-id order (dense stream)
    got.groupBy(_.getAs[Long]("shard")).values.foreach { rows =>
      val ordered = rows.sortBy(_.getAs[Long]("doc_id"))
      var expect = 0L
      ordered.foreach { r =>
        assert(r.getAs[Long]("start_tok") == expect)
        assert(r.getAs[Long]("seq_in_shard") == expect / 16)
        assert(r.getAs[Long]("offset_in_seq") == expect % 16)
        val last = expect + r.getAs[Long]("n_tokens") - 1
        assert(r.getAs[Long]("n_seqs") == last / 16 - expect / 16 + 1)
        expect += r.getAs[Long]("n_tokens")
      }
    }
  }
}
