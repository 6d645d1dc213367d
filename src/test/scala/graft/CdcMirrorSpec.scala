package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Incremental, SnapshotLog, TxnCatalog}

/** Exactly-once keyed replication off the change data feed
  * ([[Incremental.mirror]]): the mirror tracks inserts, updates AND
  * deletes; a crashed cycle's orphan never doubles; net-zero windows
  * still advance the anchor.
  */
class CdcMirrorSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  test("mirror tracks append / update / delete; crash re-derives exactly once; net-zero advances") {
    val src = new SnapshotLog(s"${GraftSession.target}/mirror_spec/src")
    val out = new SnapshotLog(s"${GraftSession.target}/mirror_spec/out")
    src.recreate(); out.recreate()
    val cat = new TxnCatalog(s"${GraftSession.target}/mirror_spec/cat",
      Map("src" -> src, "mir" -> out))
    cat.recreate()
    def run() = Incremental.mirror(spark, cat, "src", "mir", Seq("id"), partitions = 1)
    def mirrorNow() = cat.readTable(spark, cat.current.get, "mir")
    def srcNow() = src.read(spark, src.currentVersion.get)
    def sameAsSource(): Boolean = {
      val (m, s) = (mirrorNow(), srcNow())
      m.exceptAll(s).count() == 0L && s.exceptAll(m).count() == 0L
    }

    // cycle 1: initial load
    src.append((0 until 20).map(i => (i.toLong, i.toLong * 10)).toDF("id", "v"), 2)
    assert(run().contains((0L, 20L)))
    assert(sameAsSource())
    // no-op: nothing advanced
    assert(run().isEmpty)

    // cycle 2: one window holding a MOR delete, a MOR update, and an append
    src.deleteWhere(spark, col("id") < 3)
    src.updateWhere(spark, col("id").between(10, 12), Seq("v" -> (col("v") + 1)))
    src.append((20 until 25).map(i => (i.toLong, i.toLong * 10)).toDF("id", "v"), 1)
    val r2 = run()
    assert(r2.map(_._2).contains(3L + 3L + 5L), s"net rows: got $r2")
    assert(sameAsSource())
    assert(mirrorNow().where(col("id").between(10, 12) &&
      col("v") === col("id") * 10 + 1).count() == 3L)
    assert(mirrorNow().where(col("id") < 3).count() == 0L)

    // cycle 3: delete-then-reinsert of one key inside a window nets to the
    // final image; update-then-delete nets to the delete
    src.deleteWhereCow(spark, col("id") === 20L)
    src.append(Seq((20L, 999L)).toDF("id", "v"), 1)
    src.updateWhere(spark, col("id") === 21L, Seq("v" -> lit(888L)))
    src.deleteWhere(spark, col("id") === 21L)
    assert(run().isDefined)
    assert(sameAsSource())
    assert(mirrorNow().where(col("id") === 20L).select("v").as[Long].head() == 999L)
    assert(mirrorNow().where(col("id") === 21L).count() == 0L)

    // crash simulation: a mirror commit lands without its anchor — the
    // retried cycle re-derives against the ANCHORED base, exactly once
    src.deleteWhere(spark, col("id") === 5L)
    val orphan = out.append(Seq((5000L, 1L)).toDF("id", "v"), 1)
    assert(run().isDefined)
    assert(sameAsSource(), "orphaned unanchored mirror state must not leak")
    assert(mirrorNow().where(col("id") === 5000L).count() == 0L)
    assert(cat.unanchoredVersions("mir").contains(orphan))

    // net-zero window: insert+delete of the same key still anchors
    src.append(Seq((7000L, 1L)).toDF("id", "v"), 1)
    src.deleteWhere(spark, col("id") === 7000L)
    val before = cat.current.get
    assert(run().contains((before + 1L, 1L))) // one net 'd' row for 7000
    assert(sameAsSource())
  }
}
