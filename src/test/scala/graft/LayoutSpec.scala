package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.{Trace, TraceSpec}
import graft.operators.Layout

class LayoutSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  /** Naive reference Morton interleave. */
  private def morton(x: Long, y: Long, bits: Int): Long =
    (0 until bits).foldLeft(0L) { (acc, i) =>
      acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
    }

  test("zorderKey matches the naive bit interleave over the full 6-bit grid") {
    val pairs = for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y)
    val got = pairs.toDF("x", "y")
      .select(col("x"), col("y"), Layout.zorderKey(col("x"), col("y"), 6).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (x, y, z) => assert(z == morton(x, y, 6), s"($x,$y)") }
    // Morton on a full grid is a bijection onto [0, 4096)
    assert(got.map(_._3).toSet == (0L until 4096L).toSet)
  }

  test("scanEfficiency: full-domain predicate scans everything at 1x") {
    val df = (0L until 256L).map(i => (i % 16L, i / 16L)).toDF("x", "y")
    val rows = Layout.scanEfficiency(
      df, col("x"), col("y"), dimBits = 4, fileBits = 3,
      xLo = 0, xHi = 15, yLo = 0, yHi = 15)
      .collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_files") == 8)
      assert(r.getAs[Long]("files_scanned") == 8)
      assert(r.getAs[Long]("rows_scanned") == 256L)
      assert(r.getAs[Long]("rows_matching") == 256L)
      assert(r.getAs[Long]("amplification_ppm") == 1000000L)
    }
  }

  test("scanEfficiency: box predicate — invariants hold and zorder prunes the 2-D box") {
    // 32x32 grid, one row per cell; box = a quarter in each dimension
    val df = (0L until 1024L).map(i => (i % 32L, i / 32L)).toDF("x", "y")
    val rows = Layout.scanEfficiency(
      df, col("x"), col("y"), dimBits = 5, fileBits = 4,
      xLo = 8, xHi = 15, yLo = 8, yHi = 15)
      .collect().map(r => r.getAs[String]("layout") -> r).toMap
    val z = rows("zorder"); val lin = rows("linear")
    // same rows match regardless of layout
    assert(z.getAs[Long]("rows_matching") == 64L)
    assert(lin.getAs[Long]("rows_matching") == 64L)
    for (r <- Seq(z, lin)) {
      assert(r.getAs[Long]("n_files") == 16L)
      assert(r.getAs[Long]("files_scanned") <= r.getAs[Long]("n_files"))
      assert(r.getAs[Long]("rows_scanned") >= r.getAs[Long]("rows_matching"))
      assert(r.getAs[Long]("amplification_ppm") >= 1000000L)
    }
    // on this uniform grid the bucket ids equal the raw coordinates, so the
    // morton layout's 16 equal-count files are aligned 8x8 tiles and the
    // 8x8 predicate box is EXACTLY one tile: 1 file, 64 rows, 1x read.
    assert(z.getAs[Long]("files_scanned") == 1L)
    assert(z.getAs[Long]("rows_scanned") == 64L)
    assert(z.getAs[Long]("amplification_ppm") == 1000000L)
    // the linear layout's files are 2-row y-stripes spanning ALL of x, so
    // the 8-row y-band drags in 4 full stripes = 256 rows for the same 64
    assert(lin.getAs[Long]("files_scanned") == 4L)
    assert(lin.getAs[Long]("rows_scanned") == 256L)
    assert(lin.getAs[Long]("amplification_ppm") == 4000000L)
  }

  // ── physical write path: REAL parquet files, REAL footer stats ──

  private val zRoot = s"${GraftSession.target}/layout_spec"
  private val (dimBits, fileBits) = (5, 4)
  private val (bxLo, bxHi, byLo, byHi) = (8L, 15L, 8L, 15L)
  // same 32x32 uniform grid as the simulation test, so the expected file
  // geometry (aligned 8x8 tiles vs 2-row y-stripes) carries over exactly
  private def grid = (0L until 1024L).map(i => (i % 32L, i / 32L)).toDF("x", "y")

  private def writeBoth(): (String, String) = {
    val (zp, lp) = (s"$zRoot/zorder", s"$zRoot/linear")
    Layout.writeLayout(grid, col("x"), col("y"), dimBits, fileBits, morton = true, zp)
    Layout.writeLayout(grid, col("x"), col("y"), dimBits, fileBits, morton = false, lp)
    (zp, lp)
  }

  /** Per parquet file under `path`: (rows, min_x, max_x, min_y, max_y) from
    * the FOOTER's row-group column statistics — read with parquet-hadoop
    * directly, independent of Spark's scan path.
    */
  private def footerStats(path: String): Seq[(Long, Long, Long, Long, Long)] = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val files = fs.listFiles(root, true)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
    while (files.hasNext) {
      val f = files.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf))
        try {
          import scala.jdk.CollectionConverters._
          val blocks = reader.getFooter.getBlocks.asScala
          def stat(colName: String, max: Boolean): Long = {
            val vals = blocks.map { b =>
              val c = b.getColumns.asScala
                .find(_.getPath.toDotString == colName)
                .getOrElse(fail(s"column $colName missing from footer of ${f.getPath}"))
              val s = c.getStatistics
              assert(s != null && !s.isEmpty, s"no stats for $colName in ${f.getPath}")
              val v = if (max) s.genericGetMax else s.genericGetMin
              v.asInstanceOf[java.lang.Long].longValue()
            }
            if (max) vals.max else vals.min
          }
          out += ((blocks.map(_.getRowCount).sum,
            stat("x", max = false), stat("x", max = true),
            stat("y", max = false), stat("y", max = true)))
        } finally reader.close()
      }
    }
    out.toSeq
  }

  test("writeLayout: one real parquet file per equal-count group, all rows present") {
    val (zp, lp) = writeBoth()
    for (p <- Seq(zp, lp)) {
      val stats = footerStats(p)
      assert(stats.length == (1 << fileBits), s"expected ${1 << fileBits} files at $p")
      assert(stats.map(_._1).sum == 1024L, "every row written exactly once")
      assert(stats.forall(_._1 == 1024L / (1 << fileBits)), "equal-count files")
      // read-back equality against the source grid
      val got = spark.read.parquet(p).select(col("x"), col("y"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(got.toSeq == grid.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted)
    }
  }

  test("writeLayout: footer min/max boxes deliver the simulation's predicted skip") {
    val (zp, lp) = writeBoth()
    def filesHit(p: String): Int = footerStats(p).count { case (_, mnx, mxx, mny, mxy) =>
      mxx >= bxLo && mnx <= bxHi && mxy >= byLo && mny <= byHi
    }
    // the simulated report's exact numbers, now from REAL footer statistics:
    // morton files are aligned 8x8 tiles → the 8x8 box hits exactly 1;
    // linear files are 2-row y-stripes → the y-band hits exactly 4
    assert(filesHit(zp) == 1, "z-order: box predicate must hit exactly one file's stats box")
    assert(filesHit(lp) == 4, "linear: box predicate must hit the 4 y-stripes")
  }

  test("manifest-driven scan: the file selection prunes at the PARTITION level") {
    // run the declared query (it writes the layout, fetches the manifest,
    // and reads the selected files back) at the spec's SF
    val (r, trace) = Trace.capture(spark)(
      SparkEntry.queries("zorder_manifest_scan")(spark, SparkTestSession.SfDir).collect())
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(1) < row.getLong(0),
      s"the box predicate must skip files: scanned ${row.getLong(1)} of ${row.getLong(0)}")
    // the selected read is the one scan filtering file_id directories
    val selected = trace.statements.flatMap(st => TraceSpec.fileScans(st.qe.executedPlan))
      .filter(_.partitionFilters.exists(_.references.exists(_.name == "file_id")))
    assert(selected.size == 1, "the manifest selection must prune file_id directories, " +
      s"not rows:\n${trace.plans.mkString("\n")}")
  }

  test("writeLayout: Spark's pushed filters actually skip row groups when reading back") {
    val (zp, lp) = writeBoth()
    def recordsRead(p: String): Long = {
      val (n, trace) = Trace.capture(spark)(spark.read.parquet(p)
        .where(col("x").between(bxLo, bxHi) && col("y").between(byLo, byHi))
        .count())
      assert(n == 64L, "predicate result must be layout-invariant")
      trace.taskInputRecords.sum
    }
    val (zRead, lRead) = (recordsRead(zp), recordsRead(lp))
    // z-order reads one 64-row file; linear reads four 64-row stripes. Allow
    // slack only upward bounds — the point is REAL row-group skipping, so
    // both must read far less than the 1024-row table and z-order less than
    // linear
    assert(zRead == 64L, s"z-order read $zRead rows, expected exactly the matching file")
    assert(lRead == 256L, s"linear read $lRead rows, expected the 4 stripes")
  }

  test("bloom manifest: no false negatives for ANY present id, bounded size") {
    // 400 ids scattered over 8 files — every id's true file must be a
    // candidate for its own lookup (the bloom law, checked exhaustively)
    val m = 512L
    val ids = (0L until 400L).map(i => (i, i % 8)).toDF("id", "file_id")
    val manifest = Layout.bloomManifest(ids, col("id"), col("file_id"), m, k = 3)
    // bounded: at most m bits per file, even though 50 ids × 3 hashes landed
    val perFile = manifest.groupBy("file_id").count().collect()
    assert(perFile.forall(_.getLong(1) <= m))
    val probes = ids.select(col("id").as("probe_id"))
    val cand = Layout.bloomCandidates(manifest, probes, "probe_id", m, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 400L).foreach { i =>
      assert(cand.contains((i, i % 8)), s"id $i missing its true file ${i % 8}")
    }
  }

  test("bloom manifest: absent ids mostly prune (false positives stay rare)") {
    val m = 8192L
    val ids = (0L until 800L).map(i => (i, i % 8)).toDF("id", "file_id")
    val manifest = Layout.bloomManifest(ids, col("id"), col("file_id"), m, k = 3)
    // 100 ids that are NOT in any file: candidates are pure false positives
    val absent = (10000L until 10100L).toDF("probe_id")
    val fpPairs = Layout.bloomCandidates(manifest, absent, "probe_id", m, k = 3).count()
    // 100 ids × 8 files with per-file fill ≈ 1-exp(-300/8192) ≈ 3.6% →
    // fp/file ≈ 0.0036³... practically zero; allow generous slack, the
    // point is ORDER OF MAGNITUDE pruning (deterministic fixture, no flake)
    assert(fpPairs < 80L, s"$fpPairs false-positive (probe, file) pairs of 800 possible")
  }

  test("hilbert key: bijective over the full 32x32 grid and adjacency-preserving (Morton is not)") {
    import spark.implicits._
    val bits = 5
    val n = 1 << bits
    val grid = (0 until n * n).map(i => (i.toLong % n, i.toLong / n)).toDF("xb", "yb")
    val keyed = Layout.withHilbertKey(grid, "xb", "yb", bits, "h")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // bijection onto [0, n^2)
    assert(keyed.map(_._3).distinct.length == n * n)
    assert(keyed.map(_._3).min == 0L && keyed.map(_._3).max == (n * n - 1).toLong)
    // THE Hilbert property: consecutive curve positions are grid
    // NEIGHBORS — |dx| + |dy| == 1, no long jumps, ever
    val byD = keyed.sortBy(_._3)
    byD.sliding(2).foreach { case Array(a, b) =>
      val dist = math.abs(a._1 - b._1) + math.abs(a._2 - b._2)
      assert(dist == 1L, s"jump between d=${a._3} and d=${b._3}: $a -> $b")
    }
    // Morton does NOT have it: the same walk over z_key jumps
    val z = grid.withColumn("z", Layout.zorderKey(col("xb"), col("yb"), bits))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._3)
    val zJumps = z.sliding(2).count { case Array(a, b) =>
      math.abs(a._1 - b._1) + math.abs(a._2 - b._2) > 1L
    }
    assert(zJumps > 0, "expected Morton long jumps on the grid")
  }

  test("scanEfficiencyHilbert: invariants hold; both curves beat the linear sort on the 2-D box") {
    import spark.implicits._
    // deterministic synthetic grid: every (x, y) cell in [0,64)^2 once
    val rows = (0 until 64 * 64).map(i => (i.toLong % 64, i.toLong / 64)).toDF("x", "y")
    val rep = Layout.scanEfficiencyHilbert(
      rows, col("x"), col("y"), dimBits = 6, fileBits = 6,
      xLo = 8L, xHi = 23L, yLo = 8L, yHi = 23L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .map(t => t._1 -> t).toMap
    // same file count and same matching rows for every layout
    assert(rep.values.map(_._2).toSet.size == 1)
    assert(rep.values.map(_._5).toSet.size == 1)
    val matching = rep("hilbert")._5
    assert(matching == 16L * 16L)
    // every layout scans at least the matching rows
    rep.values.foreach(t => assert(t._4 >= matching))
    // the square box is the multi-dimensional case: both curves beat linear
    assert(rep("hilbert")._4 < rep("linear")._4)
    assert(rep("zorder")._4 < rep("linear")._4)
  }
}
