package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver contract itself: [[SparkEntry.entry]] must return rows (the
  * driver's smoke check), every query must have either an oracle or a
  * documented rows-only exemption, and oracle keys must be a subset of
  * query keys (an orphan oracle would silently never run).
  */
class SparkEntrySpec extends AnyFunSuite {
  import SparkTestSession._

  test("entry returns rows on the sf0.001 smoke data") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("checkpointed, partitioned-copy and COPY INTO queries leave no temp root behind") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def roots(): Set[String] =
      Option(tmp.list()).getOrElse(Array.empty[String]).filter(_.startsWith("graft")).toSet
    val before = roots()
    Seq("stream_log_pipeline", "cdc_merge_pruned", "snapshot_sql_copy_into", "ingest_batch")
      .foreach { q =>
        assert(SparkEntry.queries(q)(spark, SfDir).collect().nonEmpty, q)
      }
    val left = roots() -- before
    assert(left.isEmpty, s"temp roots left behind: $left")
  }

  test("oracle keys are exactly the query keys minus the documented rows-only set") {
    // r7: the two approximate-WAU queries became self-validating (exact count
    // + tolerance boolean), so the rows-only set is now empty — every
    // declared query has a hash-checked oracle.
    val rowsOnly = Set.empty[String]
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet),
      s"orphan oracles: ${(SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet).toSeq.sorted}")
    val unoracled = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unoracled == rowsOnly,
      s"queries without oracles beyond the documented rows-only set: ${(unoracled -- rowsOnly).toSeq.sorted}")
  }

  test("no source names a checkout: every root hangs off the working directory's target/") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    // the checkout the engine once hard-coded, spelled in parts so this
    // file does not match itself; the regex is any absolute literal into
    // a target/ dir, whichever checkout it names
    val checkout = Seq("root", "repo").mkString("/", "/", "/")
    val absoluteTarget = "\"/[^\"$]*/target/".r
    val files = Files.walk(Paths.get("src")).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    val hits = files.flatMap { (f: Path) =>
      Files.readAllLines(f, java.nio.charset.StandardCharsets.ISO_8859_1).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(checkout) || absoluteTarget.findFirstIn(line).nonEmpty =>
          s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(files.size > 100 && hits.isEmpty, s"${hits.size} hard-coded paths:\n${hits.mkString("\n")}")
    val target = new java.io.File("target").getCanonicalPath
    val scratch = new java.io.File(GraftSession.scratch("spec", SfDir, "x")).getCanonicalPath
    assert(scratch.startsWith(target + "/"), s"$scratch is not under $target")
  }
}
