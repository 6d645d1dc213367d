package graft

import org.apache.spark.sql.functions.{col, expr, input_file_name}
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftCatalog, SnapshotLog}

/** The snapshot log's one file-skipping rule, seen from its front ends:
  * the pruned read, the candidate set that DML and OPTIMIZE scope by, and
  * the catalog's SQL scan must agree, and none may drop a file that holds
  * a matching row.
  */
class FileSkippingSpec extends AnyFunSuite with TempRoots {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  /** One table, four stages: `_stats` on k, `_values` on status,
    * `_blooms` on id, and a sidecar-free append.
    */
  private def fourStageTable(root: String): SnapshotLog = {
    val log = new SnapshotLog(s"$root/t")
    def rows(ks: Range, status: Long => String, id: Long => Long) =
      ks.map(_.toLong).map(k => (k, status(k), id(k))).toDF("k", "status", "id")
    log.appendIndexed(rows(0 until 200, k => Seq("A", "B", "C", "D")((k % 4).toInt),
      k => k * 7919 % 1000).repartitionByRange(4, col("k")).sortWithinPartitions(col("k")),
      Seq("k"))
    log.appendValueIndexed(rows(200 until 300, k => Seq("A", "E", "F")((k % 3).toInt),
      k => 2000 + k).repartitionByRange(3, col("status")).sortWithinPartitions(col("status")),
      Seq("status"))
    log.appendBloomIndexed(rows(300 until 400, _ => "G", k => 1000 + k * 37 % 500)
      .repartition(3, col("id")), Seq("id"), expectedItemsPerFile = 200L)
    log.append(rows(400 until 410, _ => "Z", k => 5000 + k), partitions = 1)
    log
  }

  private val kLit = Gen.oneOf(-1L, 0L, 49L, 50L, 150L, 199L, 200L, 250L, 299L, 350L, 405L, 1000L)
  // present in stage 1 (0, 919), stage 2 (2250), stage 3 (1100, 1137),
  // stage 4 (5405); absent (1001, 99999)
  private val idLit = Gen.oneOf(0L, 919L, 2250L, 1100L, 1137L, 5405L, 1001L, 99999L)
  private val statusLit = Gen.oneOf("'A'", "'B'", "'E'", "'G'", "'Q'", "'Z'")
  private def inList[T](g: Gen[T]): Gen[String] =
    Gen.choose(1, 3).flatMap(Gen.listOfN(_, g)).map(_.mkString("(", ", ", ")"))

  private val term: Gen[String] = Gen.oneOf(
    for (op <- Gen.oneOf("=", "<", "<=", ">", ">=", "<>"); v <- kLit; flip <- Gen.prob(0.3))
      yield if (flip) s"$v $op k" else s"k $op $v",
    for (op <- Gen.oneOf("=", "<>", ">="); v <- idLit) yield s"id $op $v",
    for (a <- kLit; b <- kLit) yield s"k BETWEEN $a AND $b",
    inList(kLit).map(l => s"k IN $l"),
    inList(idLit).map(l => s"id IN $l"),
    for (op <- Gen.oneOf("=", "<>"); s <- statusLit) yield s"status $op $s",
    inList(statusLit).map(l => s"status IN $l"))

  private def pred(depth: Int): Gen[String] =
    if (depth == 0) term
    else Gen.frequency(
      3 -> term,
      3 -> Gen.zip(pred(depth - 1), pred(depth - 1)).map { case (l, r) => s"($l AND $r)" },
      1 -> Gen.zip(pred(depth - 1), pred(depth - 1)).map { case (l, r) => s"($l OR $r)" },
      1 -> pred(depth - 1).map(p => s"NOT ($p)"))

  test("property: readWhere, statsCandidateFiles and the catalog scan agree and never drop a matching file") {
    val root = tempRoot("graft_skipping_").toString
    val log = fourStageTable(root)
    GraftCatalog.mount(spark, "graftskip", root)
    val v = log.currentVersion.get
    val all = log.read(spark, v)
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "status", "id").as[(Long, String, Long)].collect().toSeq.sorted
    val prop = Prop.forAllNoShrink(pred(3)) { p =>
      val cands = log.statsCandidateFiles(spark, v, expr(p))
      val (pruned, (opened, total)) = log.readWhere(spark, v, expr(p))
      val matching = all.where(expr(p)).select(input_file_name()).as[String].collect()
        .map(f => log.dataFiles(v).find(f.endsWith).get).toSet
      val planned = QueriesEtl.scanFiles(
        spark.sql(s"SELECT * FROM graftskip.t WHERE $p").queryExecution.executedPlan)
      (Prop(sorted(pruned) == sorted(all.where(expr(p)))) :| "readWhere rows" &&
        Prop(opened == cands.size && total == log.dataFiles(v).size) :| "readWhere counts" &&
        Prop(matching.subsetOf(cands.toSet)) :| s"dropped ${matching -- cands}" &&
        Prop(planned.getOrElse(0) == cands.size) :| s"catalog planned $planned, log ${cands.size}") :|
        s"WHERE $p"
    }
    val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(24), prop)
    assert(res.passed, Pretty.pretty(res))
    // the rule does prune on this table: one bound of each sidecar kind
    Seq("k BETWEEN 0 AND 49", "status = 'E'", "id = 1100").foreach { p =>
      assert(log.statsCandidateFiles(spark, v, expr(p)).size < log.dataFiles(v).size, p)
    }
  }

  test("a DOUBLE stats column keeps its files: its recorded ranges are truncated to longs") {
    val log = new SnapshotLog(tempRoot("graft_skipping_double_").resolve("t").toString)
    val v = log.appendIndexed(Seq((1L, 1.5), (2L, 2.7)).toDF("k", "x").coalesce(1), Seq("x"))
    assert(log.fileStatsForColumn(spark, v, "x").exists(_.values.toSeq == Seq((1L, 2L))))
    // `x > 2` compares doubles once resolved: no bound the rule reads
    assert(log.statsCandidateFiles(spark, v, col("x") > 2) == log.dataFiles(v))
    assert(log.readWhere(spark, v, col("x") > 2)._1.count() == 1L)
  }
}
