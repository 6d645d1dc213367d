package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** MULTI-TABLE ATOMIC TRANSACTIONS over snapshot logs — the
  * catalog-level commit layer (the public Nessie / Iceberg-REST-catalog
  * multi-table-transaction design) that [[SnapshotLog]]'s single-table
  * protocol cannot express: "orders and lineitem advance TOGETHER or not
  * at all."
  *
  * The protocol:
  *
  *  1. A TXN is one immutable anchor (`_txn/t00000003.txn`) recording a
  *     complete, consistent `(table → version)` assignment for every
  *     registered table. Anchors are put-if-absent like every commit in
  *     this package: of two racing transactions exactly one wins, the
  *     loser re-reads and re-derives ([[ConcurrentCommitException]]).
  *  2. A WRITER first advances the individual table logs (those commits
  *     are real but CATALOG-INVISIBLE — no txn names them), then
  *     publishes the whole assignment in one atomic anchor. A crash
  *     between the two leaves table-log versions no txn references:
  *     invisible to every catalog reader, collectable by maintenance,
  *     never torn.
  *  3. A READER resolves versions ONLY through a pinned txn
  *     ([[readTable]]), so a cross-table join always sees one consistent
  *     cut — regardless of concurrent writers or half-finished crashes.
  *     Reading an old txn after newer ones landed is cross-table time
  *     travel.
  *
  * Scale shape: an anchor is table-count lines of metadata — commit cost
  * is independent of data size and of per-table file counts (those live
  * in the table logs' own change-sized deltas).
  */
class TxnCatalog(val root: String, val tables: Map[String, SnapshotLog]) {
  require(tables.nonEmpty, "TxnCatalog: need at least one registered table")
  tables.keys.foreach(n => require(n.nonEmpty && !n.contains("=") && !n.contains("\n"),
    s"TxnCatalog: table name must be '='-free and nonempty, got '$n'"))

  private val txnDir = new File(root, "_txn")

  private def txnFile(t: Long) = new File(txnDir, f"t$t%08d.txn")

  private def writeAtomic(target: File, lines: Seq[String]): Boolean = {
    txnDir.mkdirs()
    val tmp = File.createTempFile(target.getName + "-", ".tmp", txnDir)
    Files.write(tmp.toPath, (lines.mkString("\n") + "\n").getBytes(UTF_8))
    try {
      Files.createLink(target.toPath, tmp.toPath)
      true
    } catch {
      case _: FileAlreadyExistsException => false
    } finally {
      tmp.delete()
      ()
    }
  }

  /** Committed txn ids, ascending. */
  def txns: Seq[Long] =
    Option(txnDir.listFiles()).getOrElse(Array.empty)
      .map(_.getName)
      .collect { case n if n.startsWith("t") && n.endsWith(".txn") =>
        n.stripPrefix("t").stripSuffix(".txn").toLong
      }
      .toSeq.sorted

  def current: Option[Long] = txns.lastOption

  /** The complete `(table → version)` assignment a txn pinned. */
  def assignment(txn: Long): Map[String, Long] = {
    val f = txnFile(txn)
    require(f.exists(), s"txn $txn does not exist at $root (have $txns)")
    Files.readAllLines(f.toPath, UTF_8).asScala.filter(_.nonEmpty).map { l =>
      val Array(n, v) = l.split("=", 2)
      n -> v.toLong
    }.toMap
  }

  /** Atomically publish the next txn after `expected` (None = the first).
    * `updates` names the tables this transaction advanced; every other
    * registered table inherits its version from the expected txn — so an
    * anchor always carries a COMPLETE assignment and readers never chase
    * a chain. Every update must reference a version actually committed
    * in that table's log, and every registered table must end up
    * assigned. Throws [[ConcurrentCommitException]] on a lost race (the
    * caller re-reads [[current]], re-validates cross-table consistency
    * of its intended cut, and retries).
    */
  def commitTxn(expected: Option[Long], updates: Map[String, Long]): Long = {
    require(updates.nonEmpty, "commitTxn: empty update set")
    updates.foreach { case (n, v) =>
      val log = tables.getOrElse(n,
        throw new IllegalArgumentException(
          s"commitTxn: unknown table '$n' (registered: ${tables.keys.toSeq.sorted})"))
      require(log.versions.contains(v),
        s"commitTxn: table '$n' has no committed version $v (have ${log.versions})")
    }
    val inherited = expected.map(assignment).getOrElse(Map.empty)
    val full = inherited ++ updates
    val missing = tables.keySet -- full.keySet
    require(missing.isEmpty,
      s"commitTxn: no version assigned for ${missing.toSeq.sorted} — the first " +
        "txn must name every registered table")
    val next = expected.getOrElse(-1L) + 1L
    val lines = full.toSeq.sortBy(_._1).map { case (n, v) => s"$n=$v" }
    if (!writeAtomic(txnFile(next), lines))
      throw new ConcurrentCommitException(
        s"lost the txn race for t$next at $root: another transaction " +
          "committed first — re-read current and re-derive")
    next
  }

  /** Snapshot-pinned read of one table AT a txn — the only sanctioned
    * read path: versions resolve through the anchor's assignment, never
    * through the table logs' own `currentVersion` (which may include
    * catalog-invisible, possibly half-published work).
    */
  def readTable(spark: SparkSession, txn: Long, table: String): DataFrame = {
    val log = tables.getOrElse(table,
      throw new IllegalArgumentException(
        s"readTable: unknown table '$table' (registered: ${tables.keys.toSeq.sorted})"))
    val asg = assignment(txn)
    val v = asg.getOrElse(table,
      throw new IllegalArgumentException(s"readTable: txn $txn carries no '$table'"))
    log.read(spark, v)
  }

  /** Catalog-level DESCRIBE HISTORY: one row per (txn, table) with the
    * version that txn pinned and whether the txn ADVANCED that table
    * over its predecessor (the cross-table audit view: "which
    * transactions touched which tables"). Purely metadata — txn-count ×
    * table-count anchor reads.
    */
  def history: Seq[(Long, String, Long, Boolean)] = {
    val ts = txns
    ts.zipWithIndex.flatMap { case (t, i) =>
      val asg = assignment(t)
      val prev = if (i == 0) Map.empty[String, Long] else assignment(ts(i - 1))
      asg.toSeq.sortBy(_._1).map { case (n, v) =>
        (t, n, v, !prev.get(n).contains(v))
      }
    }
  }

  /** GARBAGE-COLLECT the orphan SUFFIX of every table log — the crashed-
    * write cleanup: versions ABOVE a table's highest anchored version
    * belong to writers that died before their anchor; no txn can ever
    * reference them (anchors are immutable and new txns build on
    * [[current]]), and nothing structurally depends on a suffix delta,
    * so they drop via [[SnapshotLog.truncateAbove]]. MID-chain
    * unanchored versions (superseded but load-bearing in the delta
    * chain) are deliberately left to [[SnapshotLog.expire]]'s
    * checkpoint-first prefix discipline. Follow with each log's
    * `vacuum()` to reclaim the dropped versions' exclusive data files.
    * Idempotent; returns the dropped versions per table.
    */
  def gcOrphanSuffix(): Map[String, Seq[Long]] = {
    val anchored = txns.map(assignment)
    tables.map { case (n, log) =>
      val live = anchored.flatMap(_.get(n))
      n -> (if (live.isEmpty) Seq.empty[Long] else log.truncateAbove(live.max))
    }
  }

  /** Wipe and re-init the catalog root — test/fixture reset ONLY (the
    * Verify re-run discipline), canonicalized and guarded to `target/`
    * scratch paths like every destructive helper in this package.
    */
  def recreate(): Unit =
    graft.GraftSession.wipe(root, "refusing to wipe a txn catalog outside a target/ scratch dir")

  /** Table-log versions no committed txn references — the catalog-level
    * orphan report (crashed half-published writes, superseded-but-never-
    * anchored commits). Metadata-sized: txn-count × table-count reads.
    */
  def unanchoredVersions: Map[String, Seq[Long]] = {
    val anchored = txns.map(assignment)
    tables.map { case (n, log) =>
      val live = anchored.flatMap(_.get(n)).toSet
      n -> log.versions.filterNot(live)
    }
  }
}
