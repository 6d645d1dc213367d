package graft.sources

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions.{expr, lit}

/** SQL `UPDATE` / `MERGE INTO` / `DELETE` for snapshot-log tables — the
  * row-level DML statements Spark's DSv2 can't route through
  * [[GraftCatalog]] (UPDATE/MERGE need `SupportsRowLevelOperations`,
  * which would force the raw-parquet delegate scan to mint row ids).
  * Instead the statement text is parsed by SPARK'S OWN SQL parser
  * (`spark.sessionState.sqlParser.parsePlan` — full ANSI grammar, not a
  * regex dialect), the resulting `UpdateTable` / `MergeIntoTable` /
  * `DeleteFromTable` logical plan is interpreted here, and execution
  * routes into the snapshot log's transactional one-evaluation DML
  * ([[SnapshotLog.updateWhere]] / [[SnapshotLog.mergeInto]] /
  * [[SnapshotLog.deleteWhereCow]]) under OCC retry. Reproduces the
  * reference's SQL-first posture (`HiveConnector.scala:29-32` — SQL text
  * is the query interface) for writes as well as reads.
  *
  * Semantics honored, refused loudly when not expressible:
  *   - qualifiers: target/source aliases resolve per ANSI scoping;
  *     an unqualified name present on BOTH sides of a MERGE is
  *     ambiguous and refused (the analyzer's rule).
  *   - MERGE clause order is first-match-wins in declaration order; the
  *     log API fixes delete-before-update, so a MERGE declaring UPDATE
  *     before DELETE (where the order could matter) is refused rather
  *     than silently reordered.
  *   - `WHEN NOT MATCHED [AND cond] THEN INSERT` must be the full-row
  *     insert (`INSERT *` or an identity column list) — the log's merge
  *     takes whole source rows. The optional condition may reference
  *     SOURCE columns only (ANSI evaluates target refs as NULL there,
  *     which the one-pass source filter cannot express — refused).
  *   - the source may be a table, a view, or an inline aliased subquery
  *     (`USING (SELECT …) AS s` — analyzed through the session).
  *   - DELETE takes the copy-on-write route ([[SnapshotLog
  *     .deleteWhereCow]]) so the table stays scan-clean for the SQL
  *     read path, same as [[GraftCatalog]]'s `DELETE FROM`.
  *
  * Scale: nothing here adds work past the underlying DML — UPDATE is
  * update-sized (merge-on-read), MERGE's rewrite scope stays
  * stats-pruned, DELETE rewrites only grazed files. The interpreter
  * itself is driver-side string/tree work, zero data motion.
  */
object GraftSqlDml {

  /** One committed DML statement's receipt. */
  final case class DmlResult(
      op: String,
      table: String,
      version: Long,
      rowsUpdated: Long,
      rowsDeleted: Long,
      rowsInserted: Long,
      occRetries: Int)

  /** Parse and execute one UPDATE / MERGE INTO / DELETE statement against
    * a `<catalog>.<table>` snapshot-log table. The catalog name must be
    * configured (`spark.sql.catalog.<name>.root`) exactly as for
    * [[GraftCatalog]] SQL reads.
    */
  def exec(spark: SparkSession, sql: String): DmlResult =
    execPlan(spark, spark.sessionState.sqlParser.parsePlan(sql))

  /** [[exec]] from an already-parsed plan — the entry the injected
    * parser's command wrapper uses (the session parser may BE
    * [[GraftSqlParser]], whose parsePlan re-wraps DML plans; accepting
    * the plan directly keeps one interpretation, no re-parse loop).
    */
  def execPlan(spark: SparkSession, plan: LogicalPlan): DmlResult =
    plan match {
      case UpdateTable(table, assignments, condition) =>
        execUpdate(spark, table, assignments, condition)
      case m: MergeIntoTable => execMerge(spark, m)
      case DeleteFromTable(table, condition) =>
        execDelete(spark, table, condition)
      case w: GraftSqlParser.GraftDmlCommand => execPlan(spark, w.inner)
      case other => throw new UnsupportedOperationException(
        s"GraftSqlDml: only UPDATE / MERGE INTO / DELETE statements run here " +
          s"(got ${other.nodeName}) — SELECT and INSERT go through spark.sql " +
          "with the GraftCatalog")
    }

  // ───────────────────────── table resolution ─────────────────────────

  /** A resolved DML target: the log, the table name, the qualifier
    * spellings that refer to it, and — for COLUMN-MAPPED tables — the
    * logical→physical name map the interpreter translates every
    * reference through. The DML machinery itself always runs in
    * PHYSICAL names (the names the files and the declared schema carry;
    * renames move only the `colmap` logical side), so after translation
    * the one-evaluation semantics are untouched — the same facade the
    * read path's PruningScanBuilder applies, here for writes.
    */
  private final case class Target(
      log: SnapshotLog, name: String, quals: Set[String],
      physMap: Map[String, String]) {
    def phys(n: String): String = physMap.getOrElse(n, n)
  }

  private def resolveTarget(
      spark: SparkSession,
      plan: LogicalPlan): Target = plan match {
    case SubqueryAlias(alias, child) =>
      val t = resolveTarget(spark, child)
      t.copy(quals = t.quals + alias.name.toLowerCase)
    case r: UnresolvedRelation =>
      val parts = r.multipartIdentifier
      require(parts.length == 2,
        s"GraftSqlDml: target must be <catalog>.<table>, got ${parts.mkString(".")}")
      val root = spark.conf.getOption(s"spark.sql.catalog.${parts.head}.root")
        .getOrElse(throw new IllegalArgumentException(
          s"GraftSqlDml: '${parts.head}' is not a configured graft catalog " +
            s"(set spark.sql.catalog.${parts.head}.root)"))
      val log = new SnapshotLog(new java.io.File(root, parts(1)).toString)
      val physMap = log.currentVersion.flatMap { cur =>
        log.columnMapping(cur).map { case (_, pairs) =>
          // widened mapped tables serve: the DML scan pins the declared
          // schema WITH widenings applied ([[SnapshotLog.scanSchema]] —
          // the parquet reader up-casts narrow vintages), so the
          // (file, pos) address stream is the ordinary single scan. Only
          // float-target widenings (no reader promotion) still refuse.
          require(log.wideningsPinnable(cur),
            s"GraftSqlDml: ${parts.mkString(".")} declares a float-target " +
              "type widening, which the pinned scan cannot up-cast — " +
              "optimize() the table to materialize the widening first")
          // the DML scan pins the DECLARED schema, whose names are the
          // PHYSICAL ids (renames move only the colmap logical side) —
          // a mapped table without that invariant cannot be addressed
          val ds = log.declaredSchema(cur).getOrElse(
            throw new UnsupportedOperationException(
              s"GraftSqlDml: ${parts.mkString(".")} uses column mapping " +
                "without a declared schema — rewrite through the " +
                "SnapshotLog API (readMapped + appendMapped/overwrite)"))
          // every live mapping must resolve into the pinned scan; extra
          // declared fields (DROPPED columns' physical ids) are fine —
          // the mapping hides them and a re-add mints a fresh id
          require(pairs.map(_._2).toSet.subsetOf(ds.fieldNames.toSet),
            s"GraftSqlDml: ${parts.mkString(".")}'s declared schema " +
              s"(${ds.fieldNames.mkString(", ")}) does not cover its physical " +
              s"ids (${pairs.map(_._2).mkString(", ")}) — DML cannot address rows")
          pairs.toMap // logical -> physical
        }
      }.getOrElse(Map.empty)
      Target(log, parts(1), Set(parts(1).toLowerCase), physMap)
    case other => throw new UnsupportedOperationException(
      s"GraftSqlDml: unsupported target relation ${other.nodeName}")
  }

  // ─────────────────────── expression rewriting ───────────────────────

  /** Strip target qualifiers (`t.c` → `c`); used by UPDATE / DELETE where
    * only the target table is in scope.
    */
  private def stripQualifiers(e: Expression, quals: Set[String]): Expression =
    e.transformUp {
      case a: UnresolvedAttribute if a.nameParts.length > 1 &&
          quals.contains(a.nameParts.head.toLowerCase) =>
        UnresolvedAttribute(a.nameParts.tail)
    }

  /** Rewrite LOGICAL column references to their PHYSICAL ids (column-
    * mapped targets; identity otherwise). Names outside the mapping pass
    * through — a pre-rename-stored CHECK already speaks physical names,
    * and a genuinely unknown name still fails loudly downstream.
    */
  private[sources] def translatePhys(e: Expression, physMap: Map[String, String]): Expression =
    if (physMap.isEmpty) e
    else e.transformUp {
      case a: UnresolvedAttribute if a.nameParts.length == 1 &&
          physMap.contains(a.nameParts.head) =>
        UnresolvedAttribute(Seq(physMap(a.nameParts.head)))
    }

  private def toColumn(e: Expression): Column = expr(e.sql)

  /** MERGE scoping: source-qualified refs become `src_<name>` (the log
    * merge's source prefix), target-qualified refs drop the qualifier,
    * and unqualified refs resolve by schema membership — ambiguous or
    * unknown names refuse loudly.
    */
  private def rewriteMergeExpr(
      e: Expression,
      tgtQuals: Set[String], srcQuals: Set[String],
      tgtCols: Set[String], srcCols: Set[String]): Expression =
    e.transformUp {
      case a: UnresolvedAttribute =>
        val parts = a.nameParts
        if (parts.length > 1 && srcQuals.contains(parts.head.toLowerCase))
          UnresolvedAttribute(Seq("src_" + parts.last))
        else if (parts.length > 1 && tgtQuals.contains(parts.head.toLowerCase))
          UnresolvedAttribute(Seq(parts.last))
        else if (parts.length == 1) {
          val n = parts.head
          (tgtCols.contains(n), srcCols.contains(n)) match {
            case (true, false) => a
            case (false, true) => UnresolvedAttribute(Seq("src_" + n))
            case (true, true) => throw new IllegalArgumentException(
              s"GraftSqlDml: reference '$n' is ambiguous in MERGE — qualify it " +
                "with the target or source alias")
            case _ => throw new IllegalArgumentException(
              s"GraftSqlDml: unknown column '$n' in MERGE expression")
          }
        } else throw new IllegalArgumentException(
          s"GraftSqlDml: cannot resolve qualifier '${parts.head}' " +
            s"in ${a.sql} — use the target or source alias")
    }

  private def assignmentName(key: Expression, quals: Set[String]): String =
    stripQualifiers(key, quals) match {
      case a: UnresolvedAttribute if a.nameParts.length == 1 => a.nameParts.head
      case other => throw new IllegalArgumentException(
        s"GraftSqlDml: SET target must be a plain column, got ${other.sql}")
    }

  // ───────────────────────────── UPDATE ─────────────────────────────

  private def execUpdate(
      spark: SparkSession,
      table: LogicalPlan,
      assignments: Seq[Assignment],
      condition: Option[Expression]): DmlResult = {
    val t = resolveTarget(spark, table)
    val set = assignments.map(a =>
      t.phys(assignmentName(a.key, t.quals)) ->
        toColumn(translatePhys(stripQualifiers(a.value, t.quals), t.physMap)))
    // a GENERATED ALWAYS AS IDENTITY column is engine-owned: assigning
    // it would forge ids past the watermark (the Delta refusal)
    GraftCatalog.identitySpec(t.log).foreach { case (c, _, _) =>
      require(!set.exists(_._1 == t.phys(c)),
        s"GraftSqlDml: column $c of ${t.name} is GENERATED ALWAYS AS " +
          "IDENTITY — UPDATE cannot assign it")
    }
    val cond = condition
      .map(c => toColumn(translatePhys(stripQualifiers(c, t.quals), t.physMap)))
      .getOrElse(lit(true))
    // stored CHECK constraints gate the UPDATED rows too (Spark's
    // analyzer only plants enforcement into INSERT plans — this route
    // writes through the log's own machinery, so the gate rides the
    // staged write as a raise_error guard)
    val checks = storedChecks(spark, t)
    val ((v, n), retries) =
      t.log.withOccRetry()(t.log.updateWhere(spark, cond, set, checks = checks))
    t.log.writeBloomSidecarFor(spark, v)
    DmlResult("UPDATE", t.name, v, n, 0L, 0L, retries)
  }

  /** The table's stored `prop.check.<name>` CHECK constraints as
    * (name, predicate) pairs — references translated to physical ids on
    * mapped targets (the DML scan runs in physical names).
    */
  private def storedChecks(
      spark: SparkSession,
      t: Target): Seq[(String, org.apache.spark.sql.Column)] =
    t.log.currentVersion.toSeq.flatMap(cur => t.log.metaValues(cur).collect {
      case (k, sql) if k.startsWith("prop.check.") =>
        k.stripPrefix("prop.check.") -> toColumn(translatePhys(
          spark.sessionState.sqlParser.parseExpression(sql), t.physMap))
      // GENERATED ALWAYS AS columns guard row-level DML too: a written
      // row must still satisfy `col <=> expr` (null-safe, so a
      // computed-NULL expression round-trips) — an UPDATE that changes a
      // source column without restating the generated one refuses
      // instead of silently de-deriving it
      case (k, sql) if k.startsWith("prop.generate.") =>
        val c = k.stripPrefix("prop.generate.")
        s"generated($c)" -> toColumn(translatePhys(
          spark.sessionState.sqlParser.parseExpression(s"$c <=> ($sql)"),
          t.physMap))
    }.toSeq.sortBy(_._1))

  // ───────────────────────────── DELETE ─────────────────────────────

  private def execDelete(
      spark: SparkSession,
      table: LogicalPlan,
      condition: Expression): DmlResult = {
    val t = resolveTarget(spark, table)
    val cond = condition match {
      case Literal(true, _) => lit(true)
      case c => toColumn(translatePhys(stripQualifiers(c, t.quals), t.physMap))
    }
    val ((v, n), retries) = t.log.withOccRetry()(t.log.deleteWhereCow(spark, cond))
    t.log.writeBloomSidecarFor(spark, v)
    DmlResult("DELETE", t.name, v, 0L, n, 0L, retries)
  }

  // ────────────────────────────── MERGE ──────────────────────────────

  private def execMerge(spark: SparkSession, m: MergeIntoTable): DmlResult = {
    val t0 = resolveTarget(spark, m.targetTable)
    val (log, name, tgtQuals) = (t0.log, t0.name, t0.quals)

    // source: a named table / temp view (optionally aliased); arbitrary
    // subqueries would need the analyzer — register them as a view first
    val (srcDf0, srcQuals) = m.sourceTable match {
      case SubqueryAlias(alias, r: UnresolvedRelation) =>
        (spark.table(r.multipartIdentifier.mkString(".")),
          Set(alias.name.toLowerCase, r.multipartIdentifier.last.toLowerCase))
      case r: UnresolvedRelation =>
        (spark.table(r.multipartIdentifier.mkString(".")),
          Set(r.multipartIdentifier.last.toLowerCase))
      case SubqueryAlias(alias, child) =>
        // an inline derived table — `USING (SELECT …) AS s`: the
        // subquery analyzes through Spark's own session (any relation
        // it names resolves normally, graft catalogs included)
        (org.apache.spark.sql.graftshim.StreamingShims.analyze(spark, child),
          Set(alias.name.toLowerCase))
      case other => throw new UnsupportedOperationException(
        s"GraftSqlDml: MERGE source must be a table, view, or aliased " +
          s"subquery (got ${other.nodeName})")
    }
    // MERGE … WITH SCHEMA EVOLUTION (the Delta automatic-evolution
    // shape): SOURCE columns the target lacks are added to the declared
    // schema FIRST (one metadata-only commit — existing rows serve typed
    // NULL), then the merge proceeds against the widened target. On a
    // COLUMN-MAPPED target the evolution mints fresh physical ids
    // through [[SnapshotLog.addColumnsMapped]] (the appendMapped
    // discipline, metadata-only) — the merge then runs in the widened
    // physical names like every mapped DML. The evolution and the merge
    // are two commits — a crash between them leaves only the benign
    // widened schema, never partial data.
    if (m.withSchemaEvolution) {
      val cur0 = log.currentVersion.getOrElse(throw new IllegalStateException(
        s"GraftSqlDml: MERGE target $name has no committed snapshot"))
      val have: Set[String] =
        if (t0.physMap.isEmpty) log.read(spark, cur0).columns.toSet
        else t0.physMap.keySet
      val extra = srcDf0.schema.fields.filterNot(f => have.contains(f.name))
      if (extra.nonEmpty) {
        if (t0.physMap.isEmpty)
          log.withOccRetry()(
            log.addColumns(spark, extra.toSeq.map(f => (f.name, f.dataType))))
        else
          log.withOccRetry()(
            log.addColumnsMapped(spark, extra.toSeq.map(f => (f.name, f.dataType))))
        ()
      }
    }
    // re-resolve AFTER a possible evolution commit: on a mapped target
    // the logical→physical map just gained the minted pairs
    val t = if (m.withSchemaEvolution) resolveTarget(spark, m.targetTable) else t0
    val cur = log.currentVersion.getOrElse(throw new IllegalStateException(
      s"GraftSqlDml: MERGE target $name has no committed snapshot"))
    // resolution runs over LOGICAL names (what the statement and the
    // source speak); the merge machinery runs over PHYSICAL names — on a
    // mapped target the source columns are renamed logical→physical and
    // every resolved reference is translated the same way
    val tgtPhysical = log.read(spark, cur).columns.toSet
    val tgtCols =
      if (t.physMap.isEmpty) tgtPhysical else t.physMap.keySet
    val srcCols = srcDf0.columns.toSet

    // ON <conj of equalities> — COMPOUND and DIFFERENTLY-NAMED keys both
    // resolve here: each term equates one target-side and one source-side
    // column (by qualifier, or unambiguously by schema membership), and a
    // source key named differently from its target key is RENAMED to the
    // target spelling in the source reshape below, so the log merge joins
    // on the target names throughout. Non-equality terms and ambiguous
    // references refuse loudly.
    def splitConj(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        splitConj(l) ++ splitConj(r)
      case other => Seq(other)
    }
    // Some(true) = target side, Some(false) = source side
    def sideOf(a: UnresolvedAttribute): Option[Boolean] =
      if (a.nameParts.length > 1) {
        val q = a.nameParts.head.toLowerCase
        if (tgtQuals.contains(q)) Some(true)
        else if (srcQuals.contains(q)) Some(false)
        else None
      } else {
        val n = a.nameParts.head
        (tgtCols.contains(n), srcCols.contains(n)) match {
          case (true, false) => Some(true)
          case (false, true) => Some(false)
          case _ => None
        }
      }
    val keyPairs: Seq[(String, String)] = splitConj(m.mergeCondition).map {
      case eq @ EqualTo(l: UnresolvedAttribute, r: UnresolvedAttribute) =>
        (sideOf(l), sideOf(r)) match {
          case (Some(true), Some(false)) => (l.nameParts.last, r.nameParts.last)
          case (Some(false), Some(true)) => (r.nameParts.last, l.nameParts.last)
          case _ if l.nameParts.length == 1 && r.nameParts.length == 1 &&
              l.nameParts == r.nameParts && tgtCols.contains(l.nameParts.head) &&
              srcCols.contains(l.nameParts.head) =>
            // `ON k = k` with k on both sides: the only consistent
            // reading is target-k = source-k
            (l.nameParts.head, r.nameParts.head)
          case _ => throw new UnsupportedOperationException(
            s"GraftSqlDml: cannot resolve MERGE ON term ${eq.sql} to one " +
              "target and one source column — qualify both sides")
        }
      case other => throw new UnsupportedOperationException(
        s"GraftSqlDml: MERGE ON must be a conjunction of equalities " +
          s"t.k = s.k, got ${other.sql}")
    }
    require(keyPairs.map(_._1).distinct.size == keyPairs.size,
      s"GraftSqlDml: MERGE ON equates target column(s) " +
        s"${keyPairs.map(_._1).diff(keyPairs.map(_._1).distinct).mkString(", ")} " +
        "more than once")
    // source keys spelled differently from their target key are renamed
    // to the target spelling; a collision with another source column
    // would silently shadow it — refuse
    val srcRename: Map[String, String] =
      keyPairs.collect { case (tk, sk) if tk != sk => sk -> tk }.toMap
    srcRename.foreach { case (sk, tk) =>
      require(!srcCols.contains(tk),
        s"GraftSqlDml: MERGE ON maps source $sk to target $tk, but the " +
          s"source already has a column named $tk — reshape the source first")
    }
    val srcDf = srcDf0.select(srcDf0.columns.toSeq.map(c =>
      org.apache.spark.sql.functions.col(c)
        .as(t.phys(srcRename.getOrElse(c, c)))): _*)
    def rwExpr(e: Expression): Expression = {
      val r0 = rewriteMergeExpr(e, tgtQuals, srcQuals, tgtCols, srcCols)
      val r = if (srcRename.isEmpty) r0
        else r0.transformUp {
          case a: UnresolvedAttribute if a.nameParts.length == 1 &&
              a.nameParts.head.startsWith("src_") &&
              srcRename.contains(a.nameParts.head.stripPrefix("src_")) =>
            UnresolvedAttribute(
              Seq("src_" + srcRename(a.nameParts.head.stripPrefix("src_"))))
        }
      if (t.physMap.isEmpty) r
      else r.transformUp {
        case a: UnresolvedAttribute if a.nameParts.length == 1 =>
          val n = a.nameParts.head
          if (n.startsWith("src_"))
            UnresolvedAttribute(Seq("src_" + t.phys(n.stripPrefix("src_"))))
          else UnresolvedAttribute(Seq(t.phys(n)))
      }
    }
    def rw(e: Expression): Column = toColumn(rwExpr(e))

    val keyCols = keyPairs.map(p => t.phys(p._1))

    // matched clauses: at most one DELETE and one UPDATE; the log API
    // evaluates delete-before-update, so an UPDATE declared first (whose
    // first-match-wins order could differ) is refused, not reordered
    var deleteWhen: Option[Column] = None
    var updateWhen: Option[Column] = None
    var updateSet: Seq[(String, Column)] = Nil
    m.matchedActions.foreach {
      case DeleteAction(cond) =>
        require(deleteWhen.isEmpty, "GraftSqlDml: one WHEN MATCHED DELETE clause only")
        require(updateWhen.isEmpty,
          "GraftSqlDml: declare WHEN MATCHED ... DELETE before WHEN MATCHED ... " +
            "UPDATE — the log merge evaluates delete first, and honoring an " +
            "update-first declaration would silently change first-match-wins")
        deleteWhen = Some(cond.map(rw).getOrElse(lit(true)))
      case UpdateAction(cond, assigns, _) =>
        require(updateWhen.isEmpty, "GraftSqlDml: one WHEN MATCHED UPDATE clause only")
        updateWhen = Some(cond.map(rw).getOrElse(lit(true)))
        updateSet = assigns.map(a =>
          t.phys(assignmentName(a.key, tgtQuals)) -> rw(a.value))
      case UpdateStarAction(cond) =>
        require(updateWhen.isEmpty, "GraftSqlDml: one WHEN MATCHED UPDATE clause only")
        updateWhen = Some(cond.map(rw).getOrElse(lit(true)))
        updateSet = log.read(spark, cur).columns.toSeq
          .map(c => c -> org.apache.spark.sql.functions.col("src_" + c))
      case other => throw new UnsupportedOperationException(
        s"GraftSqlDml: unsupported WHEN MATCHED action ${other.getClass.getSimpleName}")
    }

    // not matched: INSERT * (or an identity column list), optionally
    // conditional — `WHEN NOT MATCHED AND <cond>` may reference SOURCE
    // columns only (a not-matched row has no target image; ANSI says
    // target refs there are NULL, which the one-pass source filter
    // cannot express — refuse rather than silently coerce)
    def insertCondition(cond: Expression): Column = {
      val r = rewriteMergeExpr(cond, tgtQuals, srcQuals, tgtCols, srcCols)
      val targetRefs = r.collect {
        case a: UnresolvedAttribute if a.nameParts.length == 1 &&
            !a.nameParts.head.startsWith("src_") => a.nameParts.head
      }
      require(targetRefs.isEmpty,
        s"GraftSqlDml: WHEN NOT MATCHED AND may reference source columns " +
          s"only (got target ref(s) ${targetRefs.mkString(", ")} — those are " +
          "NULL on not-matched rows; restate the predicate over the source)")
      // the filter runs over the bare anti-joined SOURCE rows (physical
      // names on mapped targets): strip the src_ scope prefix
      toColumn(r.transformUp {
        case a: UnresolvedAttribute if a.nameParts.length == 1 &&
            a.nameParts.head.startsWith("src_") =>
          val orig = a.nameParts.head.stripPrefix("src_")
          UnresolvedAttribute(Seq(t.phys(srcRename.getOrElse(orig, orig))))
      })
    }
    var insertWhen: Option[Column] = None
    val insertNotMatched = m.notMatchedActions match {
      case Nil => false
      case Seq(InsertStarAction(cond)) =>
        insertWhen = cond.map(insertCondition)
        true
      case Seq(InsertAction(cond, assigns)) =>
        val pairs = assigns.map { a =>
          val tgt = t.phys(assignmentName(a.key, tgtQuals))
          rwExpr(a.value) match {
            case v: UnresolvedAttribute if v.nameParts == Seq("src_" + tgt) => tgt
            case other => throw new UnsupportedOperationException(
              s"GraftSqlDml: INSERT must map each column to the same-named source " +
                s"column (got $tgt <- ${other.sql}) — the log merge inserts whole " +
                "source rows; reshape the source view instead")
          }
        }
        require(pairs.toSet == tgtPhysical,
          s"GraftSqlDml: INSERT must cover every target column " +
            s"(missing ${(tgtPhysical -- pairs).mkString(", ")})")
        insertWhen = cond.map(insertCondition)
        true
      case _ => throw new UnsupportedOperationException(
        "GraftSqlDml: one WHEN NOT MATCHED clause only")
    }

    // not matched by source: at most one DELETE and one UPDATE (the full
    // Delta NMBS pair), delete-declared-first like the matched clauses.
    // Conditions and SET expressions may reference TARGET columns only —
    // source columns are absent (NULL) on a row with no source match, so
    // a source reference is almost certainly a bug; refuse loudly.
    def rwNmbs(e: Expression): Column = {
      val r = rwExpr(e)
      val srcRefs = r.collect {
        case a: UnresolvedAttribute if a.nameParts.length == 1 &&
            a.nameParts.head.startsWith("src_") =>
          a.nameParts.head.stripPrefix("src_")
      }
      require(srcRefs.isEmpty,
        s"GraftSqlDml: WHEN NOT MATCHED BY SOURCE clauses may reference " +
          s"target columns only (got source ref(s) ${srcRefs.mkString(", ")} " +
          "— source columns are NULL on rows with no source match)")
      toColumn(r)
    }
    var deleteNmbs: Option[Column] = None
    var nmbsUpdateWhen: Option[Column] = None
    var nmbsUpdateSet: Seq[(String, Column)] = Nil
    m.notMatchedBySourceActions.foreach {
      case DeleteAction(cond) =>
        require(deleteNmbs.isEmpty,
          "GraftSqlDml: one WHEN NOT MATCHED BY SOURCE DELETE clause only")
        require(nmbsUpdateWhen.isEmpty,
          "GraftSqlDml: declare WHEN NOT MATCHED BY SOURCE ... DELETE before " +
            "... UPDATE — the log merge evaluates delete first, and honoring " +
            "an update-first declaration would silently change first-match-wins")
        deleteNmbs = Some(cond.map(rwNmbs).getOrElse(lit(true)))
      case UpdateAction(cond, assigns, _) =>
        require(nmbsUpdateWhen.isEmpty,
          "GraftSqlDml: one WHEN NOT MATCHED BY SOURCE UPDATE clause only")
        nmbsUpdateWhen = Some(cond.map(rwNmbs).getOrElse(lit(true)))
        nmbsUpdateSet = assigns.map(a =>
          t.phys(assignmentName(a.key, tgtQuals)) -> rwNmbs(a.value))
      case other => throw new UnsupportedOperationException(
        s"GraftSqlDml: unsupported WHEN NOT MATCHED BY SOURCE action " +
          s"${other.getClass.getSimpleName}")
    }

    // identity columns are engine-owned on the MERGE path too: SET
    // cannot assign one, and NOT MATCHED INSERT would land
    // source-provided ids past the watermark — both refuse (the insert
    // shape belongs to INSERT INTO, which mints)
    GraftCatalog.identitySpec(log).foreach { case (c, _, _) =>
      val pc = t.phys(c)
      require(!updateSet.exists(_._1 == pc) && !nmbsUpdateSet.exists(_._1 == pc),
        s"GraftSqlDml: column $c of $name is GENERATED ALWAYS AS IDENTITY — " +
          "MERGE cannot assign it")
      require(!insertNotMatched,
        s"GraftSqlDml: WHEN NOT MATCHED INSERT into $name is not supported — " +
          s"$c is GENERATED ALWAYS AS IDENTITY and the merge cannot mint " +
          "ids; insert new rows via INSERT INTO")
    }
    // stored CHECK constraints gate the row images this MERGE writes
    // (updated + inserted), folded into the merge's one evaluation as a
    // raise_error guard — same discipline as UPDATE: a violation fails
    // the write job with nothing committed, zero extra scans
    val ((v, (nUpd, nDel, nIns), _), retries) = log.withOccRetry()(
      log.mergeIntoKeys(srcDf, keyCols, updateWhen, updateSet, deleteWhen,
        insertNotMatched, deleteNmbs, checks = storedChecks(spark, t),
        insertWhen = insertWhen,
        nmbsUpdateWhen = nmbsUpdateWhen, nmbsUpdateSet = nmbsUpdateSet))
    log.writeBloomSidecarFor(spark, v)
    DmlResult("MERGE", name, v, nUpd, nDel, nIns, retries)
  }
}
