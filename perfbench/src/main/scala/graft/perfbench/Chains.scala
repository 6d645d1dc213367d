package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.LocalDateTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.Tables
import graft.functions.TextKernels
import graft.operators.{EventsEtl, Wau}
import graft.sources.SnapshotLog

/** One timed call into a layer: `ms` is wall time around the call only;
  * `gaugeMs` is the [[Gauge]] sample taken right before it, averaged with
  * one taken right after it when the call ran longer than
  * [[Clock.LongCallMs]].
  */
final case class Op(kind: String, ms: Double, gaugeMs: Double)

/** Times the calls of one pass from outside, around each call into a
  * layer. In a traced pass it also records, under `<kind>#<n>`, the Spark
  * work each call did; the listener bus is drained outside the timer.
  */
final class Clock(probe: Probe, gauge: Gauge, traced: Boolean) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val counts = mutable.LinkedHashMap.empty[String, Map[String, Long]]

  def apply[T](kind: String)(body: => T): T = {
    val before = if (traced) probe.snapshot() else Map.empty[String, Long]
    val g = gauge.sample()
    val t0 = System.nanoTime()
    val r = body
    val ms = (System.nanoTime() - t0) / 1e6
    ops += Op(kind, ms, if (ms > Clock.LongCallMs) (g + gauge.sample()) / 2 else g)
    if (traced) counts(s"$kind#${ops.count(_.kind == kind)}") = Counters.diff(probe.snapshot(), before)
    r
  }
}

object Clock {
  /** Past this, the host's speed may change while the call runs, so the
    * call is bracketed by two gauge samples.
    */
  val LongCallMs = 500.0
}

/** The paper's incremental load and report: `events` cut at seeded UTC
  * instants (mid-day in KST, so sessions and KST dates straddle the cuts),
  * each slice loaded through `EventsEtl.loadBatch` into a
  * KST-date-partitioned `TableManager` table and followed by `Wau.wau`
  * over what has been loaded so far.
  */
final class LoadChain(spark: SparkSession, sfDir: String, seed: Long, batches: Int) {
  val table = EventsEtl.manager("perfbench_events_kst")
  private val first = LocalDateTime.parse("2024-01-01T00:00:00")
  private val monthSeconds = 30L * 24 * 3600
  private val Jitter = 3L * 3600

  /** Batch boundaries: 2024-01-01 and 2024-01-31 (the events' span) and
    * `batches - 1` cuts at seeded whole seconds, cut i within three hours
    * of its even spot i/batches (a UTC midnight, 09:00 in KST). The batches
    * hold the same days on every seed, give or take three hours, so the
    * median load does not move with the seed; the seed moves the instants
    * where sessions and KST dates are cut.
    */
  val bounds: Seq[String] = {
    val rnd = new Random(seed * 31 + 7)
    val step = monthSeconds / batches
    val cuts = (1 until batches).map(i => i * step - Jitter + rnd.nextLong(2 * Jitter))
    (0L +: cuts :+ monthSeconds).map(s => first.plusSeconds(s).toString.replace('T', ' ') match {
      case t if t.length == 16 => t + ":00"
      case t => t
    })
  }

  /** Runs the chain on a fresh table, timing each load and each WAU call;
    * returns, after each batch, the WAU rows as (week, wau).
    */
  def run(clock: Clock): Seq[Seq[(String, Long)]] = {
    table.recreate(spark)
    val events = Tables.events(spark, sfDir)
    bounds.sliding(2).map { case Seq(s, e) =>
      clock("load")(EventsEtl.loadBatch(spark, table, events, s, e))
      val rows = clock("wau")(
        Wau.wau(table.read(spark), "user_id", col("ts"), "2024-01-01", "2024-01-31").collect())
      rows.map(r => r.getDate(0).toString -> r.getLong(1)).toSeq
    }.toSeq
  }

  def tablePath: String =
    spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier(table.name)).getPath
}

/** Small appends, a position delete and a merge against a `SnapshotLog`,
  * mirrored by an in-memory model (key → value per version); then the
  * metadata calls and a time-travel read of every version, in seeded
  * order. Every read is compared with the model.
  *
  * The chain's shape is [[Plan]] on every seed; the seed draws the rows,
  * the keys and values, and the order of the reads. A read at a version
  * the delete masks applies it as an anti-join and costs about twice a
  * plain read, and a delete costs about ten appends, so a seeded shape
  * would make the median of like calls depend on the seed. Each call is
  * timed under its own kind: `append`, `merge`, `delete`, and `read` or,
  * at a version the delete masks, `read_masked`.
  */
final class CommitChain(spark: SparkSession, seed: Long) {
  /** After the first append of 200 rows: appends of 20 rows, a merge of
    * 10 updates and 10 inserts, and a position delete of 10 keys.
    */
  val Plan: Seq[String] = Seq("append", "merge", "append", "delete", "append")
  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", LongType, nullable = false)))

  private def frame(rows: Iterable[(Long, Long)]) =
    spark.createDataFrame(rows.map { case (k, v) => Row(k, v) }.toSeq.asJava, schema)

  /** Times each call with `clock`; returns the model mismatches found and
    * the log's on-disk shape: (log files, bytes on disk, live data bytes at
    * head).
    */
  def run(root: String, clock: Clock): (Seq[String], (Long, Long, Long)) = {
    val rnd = new Random(seed * 131 + 17)
    val log = new SnapshotLog(root)
    val model = mutable.LinkedHashMap.empty[Long, Long]
    val byVersion = mutable.Map.empty[Long, Map[Long, Long]]
    val mismatches = mutable.ArrayBuffer.empty[String]
    var nextKey = 0L
    def fresh(n: Int): Seq[(Long, Long)] =
      (0 until n).map { _ => nextKey += 1; nextKey -> rnd.nextLong(1000000L) }
    def existing(n: Int): Seq[Long] = rnd.shuffle(model.keys.toSeq).take(n)
    def check(v: Long, rows: Array[Row]): Unit = {
      val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toSeq
      val want = byVersion(v)
      if (got.size != want.size || got.toMap != want)
        mismatches += s"v$v: ${got.size} rows read, ${want.size} in the model"
    }
    def committed(v: Long): Unit = byVersion(v) = model.toMap

    val seedRows = fresh(200)
    val v0 = clock("append")(log.append(frame(seedRows), 1))
    model ++= seedRows
    committed(v0)
    var masked = Long.MaxValue
    Plan.foreach { kind =>
      kind match {
        case "append" =>
          val rows = fresh(20)
          val v = clock("append")(log.append(frame(rows), 1))
          model ++= rows
          committed(v)
        case "delete" =>
          val keys = existing(10)
          val (v, _) = clock("delete")(log.deleteWhere(spark, col("k").isin(keys: _*)))
          masked = math.min(masked, v)
          model --= keys
          committed(v)
        case "merge" =>
          val updates = existing(10).map(_ -> rnd.nextLong(1000000L)) ++ fresh(10)
          val (v, _, _) = clock("merge")(log.mergeInto(frame(updates), "k",
            updateWhen = Some(lit(true)), updateSet = Seq("v" -> col("src_v")),
            insertNotMatched = true))
          model ++= updates
          committed(v)
      }
    }
    val versions = clock("versions")(log.versions)
    if (versions != byVersion.keys.toSeq.sorted)
      mismatches += s"versions ${versions.mkString(",")} != committed ${byVersion.keys.toSeq.sorted.mkString(",")}"
    // every version once, in seeded order: the seed moves the order, not
    // which versions (and how many files) are read
    val past = rnd.shuffle(versions)
    past.foreach(v => clock("files")(log.files(v)))
    val history = clock("history")(log.history)
    if (history.map(_._1) != versions) mismatches += "history does not list every version"
    past.foreach { v =>
      check(v, clock(if (v >= masked) "read_masked" else "read")(log.read(spark, v).collect()))
    }
    val head = versions.last
    check(head, log.read(spark, head).collect())

    val logFiles = Option(new File(root, "_log").listFiles()).map(_.length.toLong).getOrElse(0L)
    val live = log.dataFiles(head).map(p => new File(root, p).length).sum
    (mismatches.toSeq, (logFiles, duBytes(new File(root)), live))
  }

  private def duBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(duBytes).sum
    else f.length
}

/** A seeded batch of token arrays and vectors, and the `graft_*` kernels
  * timed over it through SQL with a noop sink.
  */
final class KernelPass(spark: SparkSession, seed: Long, rows: Int) {
  val view = "perfbench_kernel_batch"

  /** kernel → the SQL expression that calls it */
  val kernels: Seq[(String, String)] = Seq(
    "graft_shingles" -> "graft_shingles(tokens, 3)",
    "graft_minhash" -> "graft_minhash(tokens)",
    "graft_simhash60" -> "graft_simhash60(tokens)",
    "graft_winnow" -> "graft_winnow(tokens, 5, 4)",
    "graft_gram_hashes" -> "graft_gram_hashes(tokens, 3)",
    "graft_dot" -> "graft_dot(a, b)",
    "graft_sqdist_l" -> "graft_sqdist_l(la, lb)",
    "graft_eq_count" -> "graft_eq_count(la, lb)")

  private case class Doc(id: Long, tokens: Seq[String], a: Seq[Double], b: Seq[Double],
      la: Seq[Long], lb: Seq[Long])

  private val docs: IndexedSeq[Doc] = {
    val rnd = new Random(seed * 1009 + 3)
    val vocab = IndexedSeq.fill(3000)(rnd.alphanumeric.filter(_.isLetter).take(3 + rnd.nextInt(7)).mkString.toLowerCase)
    // skewed word choice, so n-grams repeat within and across documents
    def word(): String = vocab((vocab.size * math.pow(rnd.nextDouble(), 3)).toInt)
    (0 until rows).map { i =>
      Doc(i.toLong, Seq.fill(20 + rnd.nextInt(60))(word()),
        Seq.fill(32)(rnd.nextGaussian()), Seq.fill(32)(rnd.nextGaussian()),
        Seq.fill(32)(rnd.nextLong(64L)), Seq.fill(32)(rnd.nextLong(64L)))
    }
  }

  private lazy val frame = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("tokens", ArrayType(StringType, containsNull = false), nullable = false),
      StructField("a", ArrayType(DoubleType, containsNull = false), nullable = false),
      StructField("b", ArrayType(DoubleType, containsNull = false), nullable = false),
      StructField("la", ArrayType(LongType, containsNull = false), nullable = false),
      StructField("lb", ArrayType(LongType, containsNull = false), nullable = false)))
    spark.createDataFrame(
      docs.map(d => Row(d.id, d.tokens, d.a, d.b, d.la, d.lb)).asJava, schema).repartition(4)
  }

  /** Caches the batch in memory and names it, outside every timer. */
  def prepare(): Unit = {
    if (frame.storageLevel == StorageLevel.NONE) frame.persist(StorageLevel.MEMORY_ONLY).count()
    frame.createOrReplaceTempView(view)
  }

  /** Calls every kernel once per round, rounds in turn. */
  def run(clock: Clock, rounds: Int): Unit = for (_ <- 1 to rounds; (k, expr) <- kernels)
    clock(k)(Engine.materialize(spark.sql(s"SELECT id, $expr AS out FROM $view")))

  /** Compares each kernel's output on the first `n` rows with a plain
    * Scala model of it; returns the mismatches.
    */
  def check(n: Int): Seq[String] = kernels.flatMap { case (k, expr) =>
    val got = spark.sql(s"SELECT id, $expr AS out FROM $view WHERE id < $n").collect()
      .map(r => r.getLong(0) -> normalize(r.get(1))).toMap
    val bad = docs.take(n).filterNot(d => got.get(d.id).contains(model(k, d)))
    if (bad.isEmpty && got.size == math.min(n, docs.size)) Nil
    else Seq(s"$k: ${bad.size} of ${math.min(n, docs.size)} rows differ from the model")
  }

  private def normalize(v: Any): Any = v match {
    case s: scala.collection.Seq[_] => s.toList
    case other => other
  }

  private val md5 = MessageDigest.getInstance("MD5")
  private def hash32(s: String): Long = {
    val d = md5.digest(s.getBytes(UTF_8))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }
  private def hash60(s: String): Long = {
    val d = md5.digest(s.getBytes(UTF_8))
    (0 until 8).foldLeft(0L)((v, i) => (v << 8) | (d(i) & 0xffL)) >>> 4
  }
  private def grams(t: Seq[String], n: Int): Seq[String] =
    if (t.size < n) Nil else t.sliding(n).map(_.mkString(" ")).toSeq

  private def model(kernel: String, d: Doc): Any = kernel match {
    case "graft_shingles" => grams(d.tokens, 3).distinct.toList
    case "graft_minhash" =>
      TextKernels.MinhashSeeds.map { case (a, b) =>
        d.tokens.map(t => (hash32(t) * a + b) % TextKernels.MinhashP).foldLeft(Long.MaxValue)(math.min)
      }.toList
    case "graft_simhash60" =>
      val hs = d.tokens.map(hash60)
      (0 until 60).foldLeft(0L) { (sig, bit) =>
        val votes = hs.map(h => if (((h >>> bit) & 1L) == 1L) 1 else -1).sum
        if (votes > 0) sig | (1L << bit) else sig
      }
    case "graft_winnow" =>
      val hs = grams(d.tokens, 5).map(hash32)
      if (hs.size < 4) Nil else hs.sliding(4).map(_.min).toSeq.distinct.sorted.toList
    case "graft_gram_hashes" => grams(d.tokens, 3).map(hash32).toList
    case "graft_dot" => d.a.zip(d.b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
    case "graft_sqdist_l" => d.la.zip(d.lb).map { case (x, y) => (x - y) * (x - y) }.sum
    case "graft_eq_count" => d.la.zip(d.lb).count { case (x, y) => x == y }
  }
}
