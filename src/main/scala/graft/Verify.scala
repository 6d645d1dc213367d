package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus.toInt)
    // Wipe the previous dump FIRST: a query that fails this run must leave a
    // hole the compare flags, not last run's stale parquet silently passing
    // for it. (A COMPILE failure still leaves the previous dump untouched —
    // that case is only catchable by gating on the sbt exit code; see the
    // verify skill note.)
    val root = new java.io.File(outDir)
    // Wipe guard: a swapped/mistyped CLI arg must not erase an arbitrary
    // tree. Deleting is allowed only when the target is (a) empty, (b) a
    // previous dump (carries oracle_sql.json), or (c) under a target/ dir.
    if (root.exists()) {
      val entries = Option(root.listFiles()).getOrElse(Array.empty)
      val isPriorDump = entries.exists(_.getName == "oracle_sql.json")
      require(entries.isEmpty || isPriorDump || GraftSession.underTarget(root),
        s"refusing to wipe $outDir: non-empty, not under target/, and not a previous verify dump")
      graft.streaming.StreamingSessionize.deleteTree(root.toPath)
    }
    root.mkdirs()
    // SPARK_GRAFT_ONLY=q1,q2 restricts the dump AND the oracle json to the
    // named queries — local iteration aid (same env the Bench main honors);
    // the driver runs without it and gets the full surface.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def keep(name: String): Boolean = only.forall(_.contains(name))
    SparkEntry.queries.foreach { case (name, fn) =>
      if (keep(name)) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
