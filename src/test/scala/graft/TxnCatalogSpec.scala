package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ConcurrentCommitException, SnapshotLog, TxnCatalog}

class TxnCatalogSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def fixture(name: String): (TxnCatalog, SnapshotLog, SnapshotLog) = {
    val a = new SnapshotLog(s"${GraftSession.target}/txn_spec/$name/a")
    val b = new SnapshotLog(s"${GraftSession.target}/txn_spec/$name/b")
    a.recreate(); b.recreate()
    val cat = new TxnCatalog(s"${GraftSession.target}/txn_spec/$name/cat",
      Map("a" -> a, "b" -> b))
    cat.recreate()
    (cat, a, b)
  }

  private def rows(n: Int, tag: String) =
    (0 until n).map(i => (i.toLong, s"$tag-$i")).toDF("id", "payload")

  test("a txn anchors a complete consistent cut; partial updates inherit; readers resolve only via anchors") {
    val (cat, a, b) = fixture("basic")
    val av0 = a.append(rows(4, "a0"), partitions = 1)
    val bv0 = b.append(rows(6, "b0"), partitions = 1)
    // the first txn must cover every registered table
    intercept[IllegalArgumentException](cat.commitTxn(None, Map("a" -> av0)))
    val t0 = cat.commitTxn(None, Map("a" -> av0, "b" -> bv0))
    assert(t0 == 0L && cat.current.contains(0L))
    // advance only table a: b inherits its t0 version in the new anchor
    val av1 = a.append(rows(2, "a1"), partitions = 1)
    val t1 = cat.commitTxn(Some(t0), Map("a" -> av1))
    assert(cat.assignment(t1) == Map("a" -> av1, "b" -> bv0))
    assert(cat.readTable(spark, t1, "a").count() == 6L)
    assert(cat.readTable(spark, t1, "b").count() == 6L)
    // cross-table time travel: the pinned t0 cut is unchanged
    assert(cat.readTable(spark, t0, "a").count() == 4L)
    // refusals: unknown table, uncommitted version, unknown txn
    intercept[IllegalArgumentException](cat.commitTxn(Some(t1), Map("zz" -> 0L)))
    intercept[IllegalArgumentException](cat.commitTxn(Some(t1), Map("a" -> 99L)))
    intercept[IllegalArgumentException](cat.readTable(spark, 42L, "a"))
  }

  test("racing transactions: exactly one wins the anchor; crashed writes stay invisible and reported") {
    val (cat, a, b) = fixture("race")
    val t0 = cat.commitTxn(None, Map(
      "a" -> a.append(rows(4, "a0"), partitions = 1),
      "b" -> b.append(rows(4, "b0"), partitions = 1)))
    // two writers race the same expected txn — put-if-absent admits one
    val av1 = a.append(rows(1, "w1"), partitions = 1)
    val bv1 = b.append(rows(1, "w2"), partitions = 1)
    assert(cat.commitTxn(Some(t0), Map("a" -> av1)) == 1L)
    intercept[ConcurrentCommitException](cat.commitTxn(Some(t0), Map("b" -> bv1)))
    // the loser retries against current and lands
    val t2 = cat.commitTxn(cat.current, Map("b" -> bv1))
    assert(cat.assignment(t2) == Map("a" -> av1, "b" -> bv1))
    // a crash after the table-log commit, before the anchor: invisible
    val orphan = a.append(rows(9, "crash"), partitions = 1)
    assert(cat.readTable(spark, cat.current.get, "a").count() == 5L)
    assert(cat.unanchoredVersions == Map("a" -> Seq(orphan), "b" -> Seq.empty))
  }

  test("gcOrphanSuffix drops only the crashed suffix; mid-chain unanchored versions survive; vacuum reclaims") {
    val (cat, a, b) = fixture("gc")
    val t0 = cat.commitTxn(None, Map(
      "a" -> a.append(rows(6, "a0"), partitions = 1),
      "b" -> b.append(rows(4, "b0"), partitions = 1)))
    // a MID-chain unanchored version: a v1 lands, is never anchored, and
    // v2 builds on it and IS anchored — v1 is load-bearing in the chain
    a.append(rows(2, "skip"), partitions = 1)
    val av2 = a.append(rows(3, "a2"), partitions = 1)
    cat.commitTxn(Some(t0), Map("a" -> av2))
    // the crashed suffix: two appends above the highest anchor
    a.append(rows(1, "crash1"), partitions = 1)
    a.append(rows(1, "crash2"), partitions = 1)
    assert(cat.gcOrphanSuffix() == Map("a" -> Seq(3L, 4L), "b" -> Seq.empty))
    // suffix gone, mid-chain survivor still reconstructs its descendants
    assert(a.versions == Seq(0L, 1L, 2L))
    assert(a.read(spark, av2).count() == 11L)
    assert(cat.readTable(spark, cat.current.get, "a").count() == 11L)
    // vacuum reclaims exactly the two crashed files; second pass is empty
    assert(a.vacuum().size == 2)
    assert(cat.gcOrphanSuffix().values.forall(_.isEmpty) && a.vacuum().isEmpty)
    // truncateAbove refuses an uncommitted floor
    intercept[IllegalArgumentException](a.truncateAbove(99L))
  }

  test("incremental consume: increments compose, no-op commits nothing, a crashed run re-processes exactly once") {
    import graft.sources.Incremental
    import org.apache.spark.sql.functions.col
    val src = new SnapshotLog(s"${GraftSession.target}/txn_spec/incr/src")
    val out = new SnapshotLog(s"${GraftSession.target}/txn_spec/incr/out")
    src.recreate(); out.recreate()
    val cat = new TxnCatalog(s"${GraftSession.target}/txn_spec/incr/cat",
      Map("src" -> src, "out" -> out))
    cat.recreate()
    val double = (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("id"), (col("id") * 2L).as("twice"))
    def run() = Incremental.consume(spark, cat, "src", "out", double, partitions = 1)
    // nothing anchored, source empty → loud
    intercept[IllegalStateException](run())
    src.append(rows(5, "a"), partitions = 1)
    assert(run().contains((0L, 5L)))
    // no-op: source unchanged → None, no txn, no output version
    assert(run().isEmpty)
    assert(cat.current.contains(0L) && out.versions.size == 1)
    // two source commits consumed by ONE run
    src.append(rows(3, "b").select(col("id") + 100L as "id", col("payload")), partitions = 1)
    src.append(rows(2, "c").select(col("id") + 200L as "id", col("payload")), partitions = 1)
    assert(run().contains((1L, 5L)))
    // crash simulation: the output commit of a run lands, its anchor
    // does not — the retry publishes onto the ANCHORED listing, so the
    // derived table sees the increment exactly once
    src.append(rows(1, "d").select(col("id") + 300L as "id", col("payload")), partitions = 1)
    val orphanOut = out.append(double(rows(1, "d")
      .select(col("id") + 300L as "id", col("payload"))), partitions = 1)
    assert(run().contains((2L, 1L)))
    val finalOut = cat.readTable(spark, cat.current.get, "out")
    assert(finalOut.count() == 11L, "the crashed run's rows must not double")
    assert(finalOut.where(col("id") === 300L).count() == 1L)
    assert(cat.unanchoredVersions("out") == Seq(orphanOut))
  }
}
