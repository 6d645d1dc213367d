package graft.sources

import java.io.File

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType, TimestampType}

/** SQL MAINTENANCE STATEMENTS for snapshot-log tables — a delegating
  * parser injected through `SparkSessionExtensions.injectParser` (the
  * Delta approach: these verbs are not ANSI SQL, so they cannot ride
  * Spark's own grammar the way [[GraftSqlDml]]'s UPDATE/MERGE/DELETE do):
  *
  * {{{
  *   spark.sql("OPTIMIZE graftsnap.t")                       // bin-pack small files
  *   spark.sql("OPTIMIZE graftsnap.t ZORDER BY (k)")         // range-cluster on keys
  *   spark.sql("VACUUM graftsnap.t RETAIN 3 VERSIONS")       // expire + sweep orphans
  *   spark.sql("DESCRIBE HISTORY graftsnap.t")               // the commit chain
  * }}}
  *
  * Each statement parses to a `LeafRunnableCommand` that executes the
  * log's OWN maintenance API ([[SnapshotLog.compactSmall]] /
  * [[SnapshotLog.optimize]] / [[SnapshotLog.expire]]+[[SnapshotLog
  * .vacuum]] / [[SnapshotLog.history]]) and returns its receipt as rows
  * — driver-side metadata commands, the same execution class Spark's own
  * DDL uses. The table name resolves through the registered
  * [[GraftCatalog]] root (`spark.sql.catalog.<cat>.root`), so the SQL
  * surface and the catalog agree on what a table is. Everything that is
  * not one of these three verbs delegates verbatim to Spark's parser —
  * the extension never shadows real grammar.
  *
  * Register next to the function injections:
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlParser.maintenancePlanFor(sqlText).getOrElse(
      GraftSqlParser.interceptDml(delegate.parsePlan(sqlText), sqlText))

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
}

object GraftSqlParser {

  private val OptimizeRe =
    """(?is)\s*OPTIMIZE\s+(\w+)\.(\w+)\s*(?:WHERE\s+(.+?)\s*)??(?:ZORDER\s+BY\s*\(\s*(\w+(?:\s*,\s*\w+)*)\s*\))?\s*;?\s*""".r
  private val VacuumRe =
    """(?is)\s*VACUUM\s+(\w+)\.(\w+)\s*(?:RETAIN\s+(\d+)\s+(VERSIONS|HOURS))?\s*(DRY\s+RUN)?\s*;?\s*""".r
  private val HistoryRe =
    """(?is)\s*DESCRIBE\s+HISTORY\s+(\w+)\.(\w+)\s*;?\s*""".r
  private val DetailRe =
    """(?is)\s*DESCRIBE\s+DETAIL\s+(\w+)\.(\w+)\s*;?\s*""".r
  private val RestoreRe =
    """(?is)\s*RESTORE\s+(?:TABLE\s+)?(\w+)\.(\w+)\s+(?:TO\s+)?VERSION\s+AS\s+OF\s+(\d+|'[^']+')\s*;?\s*""".r
  private val RestoreTsRe =
    """(?is)\s*RESTORE\s+(?:TABLE\s+)?(\w+)\.(\w+)\s+(?:TO\s+)?TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*""".r
  private val AnalyzeRe =
    """(?is)\s*ANALYZE\s+TABLE\s+(\w+)\.(\w+)\s+COMPUTE\s+STATISTICS\s+FOR\s+COLUMNS\s+(\w+(?:\s*,\s*\w+)*)\s*;?\s*""".r
  private val CopyIntoRe =
    """(?is)\s*COPY\s+INTO\s+(\w+)\.(\w+)\s+FROM\s+'([^']+)'\s+FILEFORMAT\s*=\s*(\w+)\s*(?:PATTERN\s*=\s*'([^']+)')?\s*;?\s*""".r
  private val CloneRe =
    """(?is)\s*CREATE\s+TABLE\s+(\w+)\.(\w+)\s+(SHALLOW\s+)?CLONE\s+(\w+)\.(\w+)\s*(?:VERSION\s+AS\s+OF\s+(\d+|'[^']+'))?\s*;?\s*""".r
  private val ReplaceWhereRe =
    """(?is)\s*INSERT\s+INTO\s+(\w+)\.(\w+)\s+REPLACE\s+WHERE\s+(.+?)\s+(SELECT\s.*?)\s*;?\s*""".r

  /** True only when `<cat>` resolves to a REGISTERED [[GraftCatalog]]
    * with a root — the same gate [[interceptDml]]'s graftTarget applies.
    * Without it, a Delta/Iceberg catalog's identically-spelled OPTIMIZE/
    * VACUUM/RESTORE in the same session would parse into graft commands
    * and die at run instead of delegating to their own extension.
    */
  private def isGraftCatalog(cat: String): Boolean =
    try {
      val spark = SparkSession.active
      spark.conf.getOption(s"spark.sql.catalog.$cat.root").isDefined &&
        spark.conf.getOption(s"spark.sql.catalog.$cat")
          .contains(classOf[GraftCatalog].getName)
    } catch { case _: IllegalStateException => false } // no active session

  private def maintenancePlanFor(sqlText: String): Option[LogicalPlan] =
    sqlText match {
      case OptimizeRe(cat, table, where, zorder) if isGraftCatalog(cat) =>
        Some(OptimizeGraftTable(cat, table,
          Option(zorder).map(_.split(",").map(_.trim).toSeq).getOrElse(Nil),
          Option(where).map(_.trim)))
      case VacuumRe(cat, table, retain, unit, dry) if isGraftCatalog(cat) =>
        Some(VacuumGraftTable(cat, table, Option(retain).map(_.toInt),
          retainHours = unit != null && unit.equalsIgnoreCase("HOURS"),
          dryRun = dry != null))
      case HistoryRe(cat, table) if isGraftCatalog(cat) =>
        Some(DescribeGraftHistory(cat, table))
      case DetailRe(cat, table) if isGraftCatalog(cat) =>
        Some(DescribeGraftDetail(cat, table))
      case RestoreRe(cat, table, v) if isGraftCatalog(cat) =>
        Some(RestoreGraftTable(cat, table, Left(v)))
      case RestoreTsRe(cat, table, ts) if isGraftCatalog(cat) =>
        Some(RestoreGraftTable(cat, table, Right(ts)))
      case AnalyzeRe(cat, table, cols) if isGraftCatalog(cat) =>
        Some(AnalyzeGraftTable(cat, table,
          cols.split(',').map(_.trim).filter(_.nonEmpty).toSeq))
      case CopyIntoRe(cat, table, from, fmt, pattern) if isGraftCatalog(cat) =>
        Some(CopyIntoGraftTable(cat, table, from,
          fmt.toLowerCase(java.util.Locale.ROOT), Option(pattern)))
      case CloneRe(dstCat, dstTable, shallow, srcCat, srcTable, v)
          if isGraftCatalog(dstCat) && isGraftCatalog(srcCat) =>
        Some(CloneGraftTable(dstCat, dstTable, srcCat, srcTable,
          Option(v), shallow = shallow != null))
      case ReplaceWhereRe(cat, table, cond, select) if isGraftCatalog(cat) =>
        // the statement splits at the first top-level SELECT, so a
        // subquery predicate cannot ride it. Refusal is PARSE-BASED, not
        // regex: the condition must parse as a standalone expression
        // (a subquery's opening paren would have been truncated by the
        // split — unparseable) and must contain no subquery expression —
        // a string literal that merely SAYS 'select' passes fine.
        val parsedCond =
          try SparkSession.active.sessionState.sqlParser.parseExpression(cond)
          catch { case e: org.apache.spark.sql.catalyst.parser.ParseException =>
            throw new IllegalArgumentException(
              "REPLACE WHERE: the predicate does not parse as a standalone " +
                "expression — subqueries are not supported there; stage the " +
                s"key set into the SELECT instead (predicate: $cond)", e)
          }
        require(!parsedCond.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.SubqueryExpression]),
          "REPLACE WHERE: subqueries are not supported in the predicate — " +
            "stage the key set into the SELECT instead")
        Some(ReplaceWhereGraftTable(cat, table, cond.trim, select.trim))
      case _ => None
    }

  /** `spark.sql("UPDATE graftsnap.t SET …")` / `MERGE INTO` — JUST WORK:
    * Spark parses the full ANSI statement, and when its target is a
    * registered graft-catalog table (a `spark.sql.catalog.<cat>.root`
    * conf whose catalog class is [[GraftCatalog]]), the plan is wrapped
    * as a command that executes [[GraftSqlDml]]'s interpretation — the
    * log's one-evaluation transactional DML — and returns the receipt
    * row (op, version, row counts). Without this, analysis dies on
    * `SupportsRowLevelOperations`, which the raw-parquet delegate scan
    * cannot honestly provide. Statements whose target is any OTHER
    * catalog pass through untouched, as does DELETE (it already routes
    * natively through `SupportsDelete`'s copy-on-write path).
    */
  private def interceptDml(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      sqlText: String): LogicalPlan = {
    import org.apache.spark.sql.catalyst.plans.logical.{MergeIntoTable, SubqueryAlias, UpdateTable}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    def graftTarget(p: LogicalPlan): Boolean = p match {
      case SubqueryAlias(_, child) => graftTarget(child)
      case u: UnresolvedRelation if u.multipartIdentifier.length == 2 =>
        val cat = u.multipartIdentifier.head
        try {
          val spark = SparkSession.active
          spark.conf.getOption(s"spark.sql.catalog.$cat.root").isDefined &&
            spark.conf.getOption(s"spark.sql.catalog.$cat")
              .contains(classOf[GraftCatalog].getName)
        } catch { case _: IllegalStateException => false } // no active session
      case _ => false
    }
    // `table_changes('cat.t', startV [, endV])` — the Delta CDF
    // table-valued function, versions INCLUSIVE on both ends: the TVF
    // node is spliced with the change feed's own logical plan
    // ([[SnapshotLog.changeFeed]] reads exactly the files each commit
    // added — never a table-state diff), so the surrounding SQL
    // (projections, filters, aggregates, joins) composes and optimizes
    // normally. Non-graft or malformed calls pass through untouched
    // (Spark then reports the unknown function itself).
    val planT = plan.transformUp {
      case tvf: org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction
          if tvf.name.map(_.toLowerCase(java.util.Locale.ROOT)) ==
            Seq("table_changes") && tvf.functionArgs.nonEmpty =>
        import org.apache.spark.sql.catalyst.expressions.Literal
        val parsed = tvf.functionArgs.head match {
          case Literal(s, org.apache.spark.sql.types.StringType) if s != null =>
            s.toString.split('.') match {
              case Array(cat, table) => Some((cat, table))
              case _ => None
            }
          case _ => None
        }
        // version args: integral literals verbatim; STRING literals
        // resolve as a TAG NAME first (the `VERSION AS OF 'tag'`
        // symmetry — both TVF bounds take refs), else as timestamps — a
        // start-timestamp resolves to the EARLIEST commit at or after it
        // (the Delta startingTimestamp rule: "changes since ts"), an
        // end-timestamp to the snapshot as of it. A start-timestamp past
        // the latest commit refuses loudly instead of leaving the TVF
        // unspliced (which would surface as a baffling unresolved-
        // function error).
        def versionArg(log: SnapshotLog, i: Int, start: Boolean): Option[Long] =
          tvf.functionArgs.lift(i).flatMap {
            case Literal(v, org.apache.spark.sql.types.ByteType |
                org.apache.spark.sql.types.ShortType |
                org.apache.spark.sql.types.IntegerType |
                org.apache.spark.sql.types.LongType) if v != null =>
              Some(v.toString.toLong)
            case Literal(s, org.apache.spark.sql.types.StringType) if s != null =>
              val raw = s.toString.trim
              val asTag = try Some(log.tagVersion(raw))
                catch { case _: IllegalArgumentException => None }
              asTag match {
                case Some(v) => Some(v)
                case None =>
                  val millis =
                    try {
                      val t = if (raw.length == 10) raw + " 00:00:00" else raw
                      java.sql.Timestamp.valueOf(t.replace('T', ' ')).getTime
                    } catch { case _: IllegalArgumentException =>
                      throw new IllegalArgumentException(
                        s"table_changes: '$raw' is neither a tag name nor a " +
                          "parseable timestamp")
                    }
                  if (!start) Some(log.versionAt(millis))
                  else log.versions.find(v => log.commitTimeMillis(v) >= millis)
                    .orElse(throw new IllegalArgumentException(
                      s"table_changes: start timestamp '$raw' is after the " +
                        "latest commit — there are no changes since it"))
              }
            case other => throw new IllegalArgumentException(
              s"table_changes: version arguments must be integer literals or " +
                s"timestamp strings, got ${other.sql}")
          }
        (for {
          (cat, table) <- parsed
          if isGraftCatalog(cat)
          spark = SparkSession.active
          log = logFor(spark, cat, table)
          from <- versionArg(log, 1, start = true)
          to = versionArg(log, 2, start = false)
            .orElse(log.currentVersion).getOrElse(-1L)
        } yield log.changeFeed(spark, from - 1L, to).queryExecution.logical)
          .getOrElse(tvf)
    }
    planT match {
      case u @ UpdateTable(t, _, _) if graftTarget(t) => GraftDmlCommand(u)
      case m: MergeIntoTable if graftTarget(m.targetTable) => GraftDmlCommand(m)
      case other => other
    }
  }

  /** The runnable wrapper: [[GraftSqlDml.execPlan]] on the plan Spark's
    * grammar produced, receipt as the result row. `inner` is a
    * constructor field, NOT a child — the analyzer must not descend into
    * the unresolved DML plan (the interpreter owns its resolution).
    */
  private[sources] case class GraftDmlCommand(inner: LogicalPlan)
    extends LeafRunnableCommand {
    override val output: Seq[Attribute] = attrs(
      "op" -> StringType, "table" -> StringType, "version" -> LongType,
      "rows_updated" -> LongType, "rows_deleted" -> LongType,
      "rows_inserted" -> LongType, "occ_retries" -> IntegerType)
    override def run(spark: SparkSession): Seq[Row] = {
      val r = GraftSqlDml.execPlan(spark, inner)
      Seq(Row(r.op, r.table, r.version, r.rowsUpdated, r.rowsDeleted,
        r.rowsInserted, r.occRetries))
    }
  }

  /** The statement's table, resolved through the SAME catalog-root conf
    * the DSv2 catalog reads — one definition of what `cat.t` means.
    */
  private def logFor(spark: SparkSession, cat: String, table: String): SnapshotLog = {
    val root = spark.conf.getOption(s"spark.sql.catalog.$cat.root")
      .getOrElse(throw new IllegalArgumentException(
        s"GraftSqlParser: no snapshot-log catalog '$cat' is registered — " +
          s"set spark.sql.catalog.$cat.root"))
    val dir = new File(root, table)
    require(new File(dir, "_log").isDirectory,
      s"GraftSqlParser: $cat.$table is not a snapshot-log table under $root")
    new SnapshotLog(dir.toString)
  }

  private def attrs(fields: (String, org.apache.spark.sql.types.DataType)*): Seq[Attribute] =
    fields.map { case (n, t) => AttributeReference(n, t, nullable = false)() }

  /** The data files of the current snapshot an `OPTIMIZE … WHERE pred`
    * may rewrite: the log's one file-skipping rule
    * ([[SnapshotLog.candidateFiles]]) over the predicate's conjuncts —
    * files without sidecar entries are kept (rewriting more than asked
    * is safe; skipping a matching file would betray the WHERE). A
    * conjunct the rule cannot read refuses loudly: the statement would
    * otherwise rewrite files outside the scope it names. A column-mapped
    * table's WHERE speaks LOGICAL names; the sidecars are keyed by
    * PHYSICAL ids, so names are translated first.
    */
  private def whereFiles(spark: SparkSession, log: SnapshotLog, pred: String): Set[String] = {
    val cur = log.currentVersion.getOrElse(throw new IllegalStateException(
      s"OPTIMIZE WHERE: no committed snapshot at ${log.root}"))
    val physMap = log.columnMapping(cur).map(_._2.toMap).getOrElse(Map.empty[String, String])
    val phys = GraftSqlDml.translatePhys(
      spark.sessionState.sqlParser.parseExpression(pred), physMap)
    log.skipConjuncts(spark, cur, org.apache.spark.sql.functions.expr(phys.sql)) match {
      case None => Set.empty // no row can match
      case Some(conjuncts) =>
        // the optimizer adds `c IS NOT NULL` for every compared column c
        conjuncts.find(c => SkipBound.of(c).isEmpty &&
          !c.isInstanceOf[org.apache.spark.sql.catalyst.expressions.IsNotNull]).foreach { c =>
          throw new IllegalArgumentException(
            s"OPTIMIZE WHERE: cannot express '${c.sql}' as a file-stats range — use " +
              "conjunctions of comparisons, BETWEEN or IN over integral/date columns, " +
              "or = / IN over string columns")
        }
        log.candidateFiles(spark, cur, conjuncts).toSet
    }
  }

  /** `OPTIMIZE cat.t [WHERE <pred>] [ZORDER BY (cols)]`: with ZORDER,
    * range-cluster on the named columns — a FULL rewrite
    * ([[SnapshotLog.optimize]]; the user asked for a re-cluster).
    * Without ZORDER, the table's DECLARED clustering keys take over —
    * the `clusterBy` property, the liquid-clustering declaration — but
    * INCREMENTALLY ([[SnapshotLog.optimizeIncremental]]): only the
    * files appended since the last optimize are clustered, so the
    * steady-state maintenance pass after streaming appends is
    * batch-sized, never a table-sized rewrite (the 100 TB bar; a full
    * rewrite per maintenance tick goes quadratic-ish in total churn).
    * With neither keys, bin-pack the small-file tail
    * ([[SnapshotLog.compactSmall]], 128 MiB target).
    *
    * `WHERE <pred>` (the Delta partition-scoped OPTIMIZE, generalized
    * to file sidecars) limits every route to [[whereFiles]] —
    * out-of-scope files are carried byte-identical.
    *
    * Output partitions are sized by the STAGED BYTES (128 MiB target),
    * not a fixed cap — a fixed 32 would mean ~3 TB files at 100 TB.
    */
  private case class OptimizeGraftTable(
      cat: String, table: String, zorderCols: Seq[String],
      wherePred: Option[String])
    extends LeafRunnableCommand {
    override val output: Seq[Attribute] = attrs(
      "version" -> LongType, "operation" -> StringType,
      "files_in" -> IntegerType, "files_out" -> IntegerType)

    /** Target output file size (the Delta `optimize.maxFileSize` knob):
      * output partitions are sized so each staged file lands near this —
      * `ceil(bytes / target)`, never a fixed cap (a fixed 32 means ~3 TB
      * files at 100 TB; byte-sizing scales both directions).
      */
    private def targetBytes(spark: SparkSession): Long =
      spark.conf.getOption("spark.graft.optimize.maxFileSize")
        .map(_.toLong).getOrElse(128L * 1024 * 1024)

    private def partsFor(spark: SparkSession, log: SnapshotLog, rel: Seq[String]): Int = {
      val t = targetBytes(spark)
      val bytes = rel.map(p =>
        new File(log.dataRootPath, p).length()).sum
      math.max(1, ((bytes + t - 1L) / t).toInt)
    }

    override def run(spark: SparkSession): Seq[Row] = {
      import org.apache.spark.sql.functions.col
      val log = logFor(spark, cat, table)
      val declared =
        if (zorderCols.nonEmpty) Nil
        else log.currentVersion.toSeq.flatMap(log.clusterColumns)
      val keys = if (zorderCols.nonEmpty) zorderCols else declared
      val scope = wherePred.map(p => whereFiles(spark, log, p))
      val out = if (keys.isEmpty) {
        val (v, (packed, written)) =
          log.compactSmall(spark, targetBytes(spark), scope)
        Seq(Row(v, "bin_pack", packed, written))
      } else if (zorderCols.nonEmpty) {
        // explicit ZORDER: the user asked for a re-cluster — full
        // rewrite (or the scoped subset under WHERE)
        val before = log.dataFiles(log.currentVersion.get).size
        scope match {
          case Some(sc) =>
            val subset = log.dataFiles(log.currentVersion.get).filter(sc)
            val (v, (fin, fout)) = log.optimizeFiles(spark,
              partsFor(spark, log, subset), keys.map(col), subset)
            Seq(Row(v, "zorder", fin, fout))
          case None =>
            val all = log.dataFiles(log.currentVersion.get)
            val v = log.optimize(spark, partsFor(spark, log, all), keys.map(col))
            Seq(Row(v, "zorder", before, log.dataFiles(v).size))
        }
      } else {
        // declared clusterBy keys: INCREMENTAL — cluster only the files
        // appended since `lastopt` (batch-sized under steady ingest)
        val cur = log.currentVersion.get
        val lastOpt = log.metaValues(cur).get("lastopt")
          .map(_.toLong).filter(log.versions.contains)
        val clustered = lastOpt
          .map(l => log.dataFiles(l).toSet.intersect(log.dataFiles(cur).toSet))
          .getOrElse(Set.empty[String])
        val fresh0 = log.dataFiles(cur).filterNot(clustered)
        val fresh = scope.fold(fresh0)(sc => fresh0.filter(sc))
        val parts = partsFor(spark, log, fresh)
        val (v, (fin, fout)) = scope match {
          case Some(_) =>
            // scoped: rewrite exactly the fresh in-scope files
            log.optimizeFiles(spark, parts, keys.map(col), fresh)
          case None =>
            val (v0, (fin0, carried)) =
              log.optimizeIncremental(spark, parts, keys.map(col))
            (v0, (fin0, log.dataFiles(v0).size - carried))
        }
        Seq(Row(v, "cluster_by", fin, fout))
      }
      // `bloomBy` maintenance: a rewrite replaces files whose Bloom
      // sidecars covered the originals — rebuild filters over the
      // rewritten outputs so point-lookup skipping survives OPTIMIZE
      // (absence is only conservative, but a maintenance op must not
      // silently degrade the scan plan it exists to improve)
      log.writeBloomSidecarFor(spark, out.head.getLong(0))
      out
    }
  }

  /** `ANALYZE TABLE cat.t COMPUTE STATISTICS FOR COLUMNS c1, c2` —
    * persist row count + per-column NDVs in the log's metadata
    * ([[SnapshotLog.analyze]]), stamped with the analyzed data-state
    * digest so a consumer ([[StatsOptimizer]]'s stats-driven join
    * planning) can refuse stale numbers. ONE single-pass aggregation:
    * NDVs are `approx_count_distinct` sketches by default (multi-column
    * exact NDVs plan as an Expand — an N-columns× input blowup at
    * 100 TB); set `spark.graft.analyze.exactNdv=true` for the exact
    * pass. The receipt returns what was recorded.
    */
  private case class AnalyzeGraftTable(cat: String, table: String, cols: Seq[String])
    extends LeafRunnableCommand {
    override val output: Seq[Attribute] = attrs(
      "version" -> LongType, "row_count" -> LongType,
      "analyzed_columns" -> StringType)
    override def run(spark: SparkSession): Seq[Row] = {
      val log = logFor(spark, cat, table)
      val exact = spark.conf.getOption("spark.graft.analyze.exactNdv")
        .exists(_.toBoolean)
      val v = log.withOccRetry()(log.analyze(spark, cols, exact))._1
      val (rows, _) = log.tableStats(v).getOrElse((-1L, Map.empty[String, Long]))
      Seq(Row(v, rows, cols.mkString(",")))
    }
  }

  /** `COPY INTO cat.t FROM '<dir>' FILEFORMAT = PARQUET|CSV|JSON
    * [PATTERN = '<glob>']` — IDEMPOTENT bulk file ingest (the
    * Databricks `COPY INTO` shape): source files already loaded by a
    * prior COPY (identified by path + size + mtime against the table's
    * ledger, [[SnapshotLog.copiedSources]]) are SKIPPED; new files load
    * as one transactional append whose commit carries the updated
    * ledger reference atomically ([[SnapshotLog.copyIngest]]) — re-run
    * the same statement after a crash, a partial upload, or on a
    * schedule and each source file lands EXACTLY ONCE. CSV (with
    * header) and JSON read under the table's declared schema; stored
    * CHECK constraints gate the batch like every other write path.
    * Listing is file-count-sized driver metadata; the data pass reads
    * only the NEW files, EXACTLY ONCE (the loaded-row count is an
    * observed metric on the staging write, not a second scan), and the
    * staged output is byte-sized to `spark.graft.optimize.maxFileSize`.
    */
  private case class CopyIntoGraftTable(
      cat: String, table: String, from: String, format: String,
      pattern: Option[String])
    extends LeafRunnableCommand {
    override val output: Seq[Attribute] = attrs(
      "loaded_files" -> IntegerType, "loaded_rows" -> LongType,
      "skipped_files" -> IntegerType, "version" -> LongType)
    override def run(spark: SparkSession): Seq[Row] = {
      require(Seq("parquet", "csv", "json").contains(format),
        s"COPY INTO: FILEFORMAT must be PARQUET, CSV, or JSON — got $format")
      val log = logFor(spark, cat, table)
      val cur = log.currentVersion.getOrElse(throw new IllegalStateException(
        s"COPY INTO: no committed snapshot at $cat.$table"))
      // COLUMN-MAPPED destinations serve (closing the r15 refusal): the
      // source files speak LOGICAL names; the load reads them under the
      // logical schema and translates through the mapping before staging
      // ([[SnapshotLog.copyIngestMapped]]) — post-rename bulk ingest
      // lands in the same physical columns batch INSERTs do
      val mapping: Option[Seq[(String, String)]] =
        log.columnMapping(cur).map(_._2)
      val src = new File(from)
      require(src.exists(), s"COPY INTO: source path $from does not exist")
      val glob = java.nio.file.FileSystems.getDefault
        .getPathMatcher("glob:" + pattern.getOrElse(s"*.$format"))
      val listed =
        (if (src.isFile) Array(src)
         else Option(src.listFiles()).getOrElse(Array.empty))
          .filter(f => f.isFile && !f.getName.startsWith(".") &&
            !f.getName.startsWith("_") &&
            glob.matches(java.nio.file.Paths.get(f.getName)))
          .sortBy(_.getName)
      val cands = listed.map(f =>
        (f.getCanonicalPath, f.length(), f.lastModified())).toSeq
      import spark.implicits._
      // the anti-join runs INSIDE the OCC retry: a racing COPY of the
      // same directory that wins the commit updates the ledger, and the
      // retry re-derives the fresh set against it — two concurrent runs
      // of the same statement never double-load a file
      def freshAt(v: Long): Seq[(String, Long, Long)] = cands
        .toDF("path", "size", "mtime")
        .join(log.copiedSources(spark, v), Seq("path", "size", "mtime"),
          "left_anti")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
        .sortBy(_._1)
      val fresh0 = freshAt(cur)
      if (fresh0.isEmpty)
        return Seq(Row(0, 0L, cands.size, cur))
      // the reader schema speaks the table's USER-FACING names: the
      // declared schema, or — mapped — the logical projection of it
      val declared: Option[org.apache.spark.sql.types.StructType] =
        mapping match {
          case Some(pairs) =>
            val ds = log.scanSchema(cur).getOrElse(throw new IllegalStateException(
              s"COPY INTO: $cat.$table uses column mapping without a " +
                "declared schema"))
            val byPhys = ds.map(f => f.name -> f).toMap
            Some(org.apache.spark.sql.types.StructType(pairs.flatMap {
              case (l, p) => byPhys.get(p).map(f => f.copy(name = l)) }))
          case None => log.declaredSchema(cur)
        }
      def readerFor(paths: Seq[String]): org.apache.spark.sql.DataFrame =
        format match {
          case "parquet" => declared match {
            case Some(s) => spark.read.schema(s).parquet(paths: _*)
            case None => spark.read.parquet(paths: _*)
          }
          case "csv" =>
            val s = declared.getOrElse(throw new IllegalStateException(
              s"COPY INTO: CSV loads need $cat.$table's declared schema " +
                "(CREATE TABLE with columns first)"))
            spark.read.schema(s).option("header", "true").csv(paths: _*)
          case _ =>
            val s = declared.getOrElse(throw new IllegalStateException(
              s"COPY INTO: JSON loads need $cat.$table's declared schema " +
                "(CREATE TABLE with columns first)"))
            spark.read.schema(s).json(paths: _*)
        }
      // stored CHECK constraints gate this write path like every other:
      // a violating source file fails the load with nothing committed
      val checks = log.metaValues(cur).collect {
        case (k, sql) if k.startsWith("prop.check.") =>
          k.stripPrefix("prop.check.") -> sql
      }.toSeq.sortBy(_._1)
      // identity destinations MINT (the Delta COPY INTO shape): the
      // ledger entry, the id-block advance, and the data land in ONE
      // commit ([[SnapshotLog.copyIngestIdentity]] — the streaming
      // sink's watermark discipline, here keyed by the source-file
      // ledger), so re-running after any crash can neither double-load
      // nor double-mint; generated columns fold into the same
      // staged-write guard as INSERT
      val identity = GraftCatalog.identitySpec(log)
      require(identity.isEmpty || mapping.isEmpty,
        s"COPY INTO: $cat.$table is both column-mapped and identity-minting " +
          "— that combination is not supported on the bulk path; " +
          "INSERT INTO ... SELECT from the staged files instead")
      def guard(raw: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
        val derived = GraftCatalog.generatedTransform(log, raw)
        if (checks.isEmpty) derived
        else {
          import org.apache.spark.sql.functions.{coalesce, col, expr, lit, raise_error, when}
          val allOk = checks.map { case (_, sql) => coalesce(expr(sql), lit(true)) }
            .reduce(_ && _)
          val first = derived.columns.head
          derived.withColumn(first,
            when(allOk, col(first)).otherwise(raise_error(lit(
              s"COPY INTO: a source row violates CHECK constraint(s) " +
                s"[${checks.map(_._1).mkString(", ")}] — nothing committed"))))
        }
      }
      // write partitions are BYTE-SIZED from the fresh source listing
      // (sizes already in hand — zero extra IO): ceil(bytes / target),
      // the same `spark.graft.optimize.maxFileSize` knob OPTIMIZE sizes
      // by — a fixed cap would mean ~3 TB files at a 100 TB backfill
      val target = spark.conf.getOption("spark.graft.optimize.maxFileSize")
        .map(_.toLong).getOrElse(128L * 1024 * 1024)
      val ((loaded, rows, v), _) = log.withOccRetry() {
        val now = log.currentVersion.getOrElse(cur)
        val fresh = if (now == cur) fresh0 else freshAt(now)
        if (fresh.isEmpty) (0, 0L, now)
        else {
          val parts = math.max(1L,
            (fresh.map(_._2).sum + target - 1L) / target).toInt
          // ONE source scan: the loaded-row count comes from the staged
          // parquet FOOTERS after the commit (driver-side metadata, one
          // footer read per staged file) instead of a separate count()
          // pass that would read every fresh file twice; the CHECK guard
          // rides the same write — a violation fails the write job with
          // nothing committed, its aborted stage is vacuum fodder
          // on a mapped destination the frame translates logical →
          // physical BEFORE the guard (stored CHECK / generated props
          // speak physical names, like every mapped write path)
          val logical = readerFor(fresh.map(_._1))
          val translated = mapping match {
            case Some(pairs) =>
              val m = pairs.toMap
              logical.select(logical.columns.toSeq.map(c =>
                org.apache.spark.sql.functions.col(c).as(m(c))): _*)
            case None => logical
          }
          val df = guard(translated)
          val ver = (identity, mapping) match {
            case (Some((idc, st, sp)), _) =>
              log.copyIngestIdentity(fresh, df, idc, st, sp, parts)
            case (_, Some(_)) => log.copyIngestMapped(fresh, df, parts)
            case _ => log.copyIngest(fresh, df, parts)
          }
          (fresh.size, log.footerRowCount(log.appendedFiles(ver)), ver)
        }
      }
      // bloomBy maintenance over the freshly-loaded files (post-commit
      // is safe: absence reads conservatively)
      if (loaded > 0) log.writeBloomSidecarFor(spark, v)
      Seq(Row(loaded, rows, cands.size - loaded, v))
    }
  }

  /** `VACUUM cat.t [RETAIN n VERSIONS] [DRY RUN]`: with RETAIN, expire
    * versions below the keep horizon first ([[SnapshotLog.expire]] —
    * pinned readers of retained versions stay safe, the
    * vacuum_retention_travel law); then sweep unreferenced files
    * ([[SnapshotLog.vacuum]]). `DRY RUN` previews the orphan listing
    * WITHOUT expiring or deleting anything ([[SnapshotLog.vacuumDryRun]]
    * — the Delta preview discipline before a destructive sweep).
    */
  private case class VacuumGraftTable(
      cat: String, table: String, retainVersions: Option[Int],
      retainHours: Boolean, dryRun: Boolean)
    extends LeafRunnableCommand {
    override val output: Seq[Attribute] = attrs(
      "versions_expired" -> IntegerType, "files_removed" -> IntegerType,
      "dry_run" -> org.apache.spark.sql.types.BooleanType)

    /** The expire floor the RETAIN clause resolves to. `RETAIN n
      * VERSIONS` counts back from the head; `RETAIN n HOURS` (the Delta
      * time-based form) keeps every version committed inside the window,
      * resolved against the commit wall-clocks RECORDED INSIDE the
      * anchors — the current version is always kept.
      */
    private def keepFromFor(log: SnapshotLog): Option[Long] =
      retainVersions.map { n =>
        val cur = log.currentVersion.getOrElse(throw new IllegalStateException(
          s"VACUUM: no committed snapshot at $cat.$table"))
        if (retainHours) {
          val cutoff = System.currentTimeMillis() - n.toLong * 3600L * 1000L
          log.versions.find(v => log.commitTimeMillis(v) >= cutoff).getOrElse(cur)
        } else {
          require(n >= 1, s"VACUUM: RETAIN must keep at least 1 version, got $n")
          cur - n + 1L
        }
      }

    override def run(spark: SparkSession): Seq[Row] = {
      val log = logFor(spark, cat, table)
      val keepFrom = keepFromFor(log)
      if (dryRun) {
        // preview only: nothing expires, nothing deletes — the live set
        // is computed from the versions the RETAIN horizon would keep,
        // so the file count matches what the real sequence removes
        val wouldExpire = keepFrom.map(k => log.versions.count(_ < k)).getOrElse(0)
        Seq(Row(wouldExpire, log.vacuumDryRun(keepFrom).size, true))
      } else {
        val expired = keepFrom.map(k => log.expire(keepFrom = k).size).getOrElse(0)
        Seq(Row(expired, log.vacuum().size, false))
      }
    }
  }

  /** `RESTORE [TABLE] cat.t [TO] VERSION AS OF n` / `TIMESTAMP AS OF
    * '<ts>'` — the incident rollback ([[SnapshotLog.restoreTo]]): the
    * old listing re-commits as the NEXT version, no data bytes move,
    * rolled-past history stays readable for the post-mortem. The
    * timestamp form resolves against the commit wall-clocks recorded
    * inside the anchors ([[SnapshotLog.versionAt]]), accepting epoch
    * millis or `yyyy-MM-dd[ HH:mm:ss]`.
    */
  private case class RestoreGraftTable(
      cat: String, table: String, target: Either[String, String])
    extends LeafRunnableCommand {
    override val output: Seq[Attribute] = attrs(
      "restored_to" -> LongType, "new_version" -> LongType)
    override def run(spark: SparkSession): Seq[Row] = {
      val log = logFor(spark, cat, table)
      val toVersion = target match {
        // VERSION AS OF takes a snapshot number or a quoted TAG name
        // (the Iceberg ref-read symmetry — same rule as the catalog's
        // time travel and the table_changes bounds)
        case Left(v) if !v.startsWith("'") => v.toLong
        case Left(tag) => log.tagVersion(tag.stripPrefix("'").stripSuffix("'"))
        case Right(raw) =>
          val millis = raw.trim.toLongOption.getOrElse {
            val t = if (raw.trim.length == 10) raw.trim + " 00:00:00" else raw.trim
            java.sql.Timestamp.valueOf(t.replace('T', ' ')).getTime
          }
          log.versionAt(millis)
      }
      Seq(Row(toVersion, log.restoreTo(toVersion)))
    }
  }

  /** `INSERT INTO cat.t REPLACE WHERE <cond> SELECT …` — Delta's
    * predicate-scoped atomic overwrite ([[SnapshotLog.replaceWhere]]):
    * the idempotent-backfill statement. Matching rows leave, the
    * SELECT's rows land, ONE commit; only predicate-grazed files
    * rewrite. Replacement rows outside the predicate fail the write
    * (nothing committed), stored CHECK constraints and generated-column
    * derivations guard the new rows exactly as INSERT does, and
    * identity destinations refuse (the replacement cannot mint).
    */
  private case class ReplaceWhereGraftTable(
      cat: String, table: String, condSql: String, selectSql: String)
    extends LeafRunnableCommand {
    override val output: Seq[Attribute] = attrs(
      "op" -> StringType, "table" -> StringType, "version" -> LongType,
      "rows_deleted" -> LongType, "rows_inserted" -> LongType)
    override def run(spark: SparkSession): Seq[Row] = {
      import org.apache.spark.sql.functions.{coalesce, col, expr, lit, raise_error, when}
      val log = logFor(spark, cat, table)
      GraftCatalog.identitySpec(log).foreach { case (c, _, _) =>
        throw new IllegalArgumentException(
          s"REPLACE WHERE: $cat.$table declares GENERATED ALWAYS AS IDENTITY " +
            s"column $c — the replacement cannot mint ids")
      }
      // COLUMN-MAPPED targets serve (closing the r15 refusal): the
      // statement speaks LOGICAL names, the engine runs in PHYSICAL
      // ones — the replacement frame and the predicate are translated
      // through the mapping (appendMapped's discipline, the same facade
      // every mapped DML path applies), so a post-rename backfill lands
      // in the same physical columns batch INSERTs do
      val mapping: Option[Map[String, String]] =
        log.currentVersion.flatMap(v => log.columnMapping(v).map(_._2.toMap))
      val raw = spark.sql(selectSql)
      val dfPhys = mapping match {
        case Some(m) =>
          val unknown = raw.columns.filterNot(m.contains)
          require(unknown.isEmpty,
            s"REPLACE WHERE: column(s) ${unknown.mkString(", ")} are not in " +
              s"$cat.$table's mapping")
          raw.select(raw.columns.toSeq.map(c => col(c).as(m(c))): _*)
        case None => raw
      }
      val df0 = GraftCatalog.generatedTransform(log, dfPhys)
      val checks = log.currentVersion.toSeq.flatMap(v =>
        log.metaValues(v).collect {
          case (k, sql) if k.startsWith("prop.check.") =>
            k.stripPrefix("prop.check.") -> sql
        }.toSeq.sortBy(_._1))
      val df =
        if (checks.isEmpty) df0
        else {
          val allOk = checks.map { case (_, sql) =>
            coalesce(expr(sql), lit(true)) }.reduce(_ && _)
          val first = df0.columns.head
          df0.withColumn(first,
            when(allOk, col(first)).otherwise(raise_error(lit(
              s"REPLACE WHERE: a replacement row violates CHECK " +
                s"constraint(s) [${checks.map(_._1).mkString(", ")}] — " +
                "nothing committed"))))
        }
      // byte-sized writes, never a fixed task cap — the same
      // `optimize.maxFileSize` knob OPTIMIZE and COPY INTO size by
      val target = spark.conf.getOption("spark.graft.optimize.maxFileSize")
        .map(_.toLong).getOrElse(128L * 1024 * 1024)
      val condPhys = mapping match {
        case Some(m) => GraftSqlDml.translatePhys(
          spark.sessionState.sqlParser.parseExpression(condSql), m).sql
        case None => condSql
      }
      val ((v, (nDel, nIns)), _) = log.withOccRetry()(
        log.replaceWhere(spark, df, expr(condPhys), target))
      log.writeBloomSidecarFor(spark, v)
      Seq(Row("REPLACE WHERE", s"$cat.$table", v, nDel, nIns))
    }
  }

  /** `CREATE TABLE dst SHALLOW CLONE src [VERSION AS OF n]` — the
    * zero-copy table clone ([[SnapshotLog.cloneShallow]]): the new
    * table's v0 references the source snapshot's files in place; no
    * data moves regardless of table size (the dev/test-against-prod
    * workflow, and the instant time-travel materialization). The
    * receipt row reports what was referenced; the source registers the
    * clone so its solo VACUUM refuses instead of silently breaking the
    * clone (stricter than Delta).
    */
  private case class CloneGraftTable(
      dstCat: String, dstTable: String,
      srcCat: String, srcTable: String, versionArg: Option[String],
      shallow: Boolean)
    extends LeafRunnableCommand {
    override val output: Seq[Attribute] = attrs(
      "op" -> StringType, "table" -> StringType, "source" -> StringType,
      "cloned_version" -> LongType, "files_referenced" -> LongType,
      "bytes_copied" -> LongType)
    override def run(spark: SparkSession): Seq[Row] = {
      val src = logFor(spark, srcCat, srcTable)
      val dstRoot = new File(
        spark.conf.get(s"spark.sql.catalog.$dstCat.root"), dstTable).toString
      // VERSION AS OF: a snapshot number or a quoted TAG name (the same
      // ref-read rule the catalog's time travel applies)
      val version: Option[Long] = versionArg.map { raw =>
        if (raw.startsWith("'")) src.tagVersion(raw.stripPrefix("'").stripSuffix("'"))
        else raw.toLong
      }
      val v = version.getOrElse(src.currentVersion.get)
      if (shallow) {
        val child = src.cloneShallow(dstRoot, version)
        Seq(Row("SHALLOW CLONE", s"$dstCat.$dstTable", s"$srcCat.$srcTable",
          v, child.dataFiles(0L).size.toLong, 0L))
      } else {
        // deep: a MATERIALIZED copy at the pinned version — no lifetime
        // coupling to the source (its VACUUM/expire/DROP cannot break
        // this table); file copies fan out over the cluster
        val child = src.cloneDeep(dstRoot, version, parallelCopyWith = Some(spark))
        val copied = child.dataFiles(0L)
        val bytes = copied.map(p => new File(dstRoot, p).length()).sum
        Seq(Row("CLONE", s"$dstCat.$dstTable", s"$srcCat.$srcTable",
          v, copied.size.toLong, bytes))
      }
    }
  }

  /** `DESCRIBE DETAIL cat.t` (the Delta shape): ONE metadata-only row
    * summarizing the current snapshot — version, commit wall-clock, file
    * counts per kind, on-disk bytes, the declared clustering keys, and
    * whether column mapping / a declared schema are in force. Everything
    * comes from the manifest and `File.length` — never a data scan.
    */
  private case class DescribeGraftDetail(cat: String, table: String)
    extends LeafRunnableCommand {
    override val output: Seq[Attribute] = attrs(
      "format" -> StringType, "name" -> StringType, "version" -> LongType,
      "committed_at" -> TimestampType, "num_data_files" -> IntegerType,
      "num_mask_files" -> IntegerType, "size_bytes" -> LongType,
      "cluster_by" -> StringType, "column_mapping" -> org.apache.spark.sql.types.BooleanType,
      "declared_schema" -> org.apache.spark.sql.types.BooleanType)
    override def run(spark: SparkSession): Seq[Row] = {
      val log = logFor(spark, cat, table)
      val cur = log.currentVersion.getOrElse(throw new IllegalStateException(
        s"DESCRIBE DETAIL: no committed snapshot at $cat.$table"))
      val data = log.dataFiles(cur)
      val masks = log.tombstoneFiles(cur).size + log.posDeleteFiles(cur).size +
        log.dvFiles(cur).size
      val bytes = data.map(p => new File(log.dataRootPath, p).length()).sum
      Seq(Row("graft", s"$cat.$table", cur,
        new java.sql.Timestamp(log.commitTimeMillis(cur)),
        data.size, masks, bytes,
        log.property(cur, "clusterBy").getOrElse(""),
        log.columnMapping(cur).isDefined,
        log.declaredSchema(cur).isDefined))
    }
  }

  /** `DESCRIBE HISTORY cat.t`: the commit chain from the log's own
    * metadata ([[SnapshotLog.history]]) — the rows `cat.t.history`
    * serves, as the statement every lakehouse user types first.
    */
  private case class DescribeGraftHistory(cat: String, table: String)
    extends LeafRunnableCommand {
    override val output: Seq[Attribute] = attrs(
      "version" -> LongType, "operation" -> StringType,
      "added_data" -> IntegerType, "added_tombstones" -> IntegerType,
      "removed" -> IntegerType, "files_total" -> IntegerType,
      "committed_at" -> TimestampType)
    override def run(spark: SparkSession): Seq[Row] = {
      val log = logFor(spark, cat, table)
      log.history.map { case (v, op, ad, at, rm, tot) =>
        Row(v, op, ad, at, rm, tot,
          new java.sql.Timestamp(log.commitTimeMillis(v)))
      }
    }
  }
}
