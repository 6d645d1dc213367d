package graft.sources

import java.io.File
import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.catalog.{Identifier, StagedTable, StagingTableCatalog, SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{And => FAnd, EqualNullSafe => FEqualNullSafe, EqualTo => FEqualTo, Filter, GreaterThan => FGreaterThan, GreaterThanOrEqual => FGreaterThanOrEqual, In => FIn, InsertableRelation, IsNotNull => FIsNotNull, IsNull => FIsNull, LessThan => FLessThan, LessThanOrEqual => FLessThanOrEqual, Not => FNot, Or => FOr, StringContains => FStringContains, StringEndsWith => FStringEndsWith, StringStartsWith => FStringStartsWith}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource-V2 [[TableCatalog]] over [[SnapshotLog]] tables — SQL
  * addressability for the engine's own storage layer, mirroring the
  * reference's SQL-first query path (`HiveConnector.scala:29-32` runs
  * templated SQL against registered tables; this registers the snapshot
  * log the same way, so `SELECT … FROM graftsnap.t` just works, with
  * `VERSION AS OF` / `TIMESTAMP AS OF` riding Spark's native time-travel
  * syntax into [[SnapshotLog]]'s pinned-version reads).
  *
  * Register per session:
  * {{{
  *   GraftCatalog.mount(spark, "graftsnap", "/path/to/logs")
  *   spark.sql("SELECT * FROM graftsnap.t VERSION AS OF 3")
  * }}}
  * Each subdirectory of `root` holding a `_log` is a table. The `root`
  * conf is re-read at every `loadTable` (not pinned at catalog init), so
  * one session can point the catalog at different pools across queries.
  *
  * Read path: the snapshot's data-file listing resolves AT LOAD TIME and
  * the returned table scans exactly those immutable files through
  * Spark's own vectorized parquet [[ParquetTable]] — full predicate
  * pushdown, column pruning, and whole-stage codegen for free, with
  * snapshot isolation (a concurrent commit never moves a loaded table).
  *
  * Write path: `INSERT INTO graftsnap.t …` routes through the log's OWN
  * transactional append (V1 write fallback →
  * [[SnapshotLog.appendStrict]] under [[SnapshotLog.withOccRetry]]) —
  * one atomic manifest commit per INSERT, schema drift refused loudly,
  * commit races resolved by OCC retry. Never a raw file write past the
  * manifest. `DELETE FROM graftsnap.t WHERE …` routes through the
  * COPY-ON-WRITE delete ([[SnapshotLog.deleteWhereCow]] — only grazed
  * files rewrite, NO masks left outstanding, so the next SQL SELECT
  * still scans clean; the merge-on-read [[SnapshotLog.deleteWhere]]
  * stays the cheaper API-side choice). `INSERT OVERWRITE` commits one
  * tracked LOGICAL overwrite (schema enforced, prior versions stay
  * time-travellable), `TRUNCATE TABLE` rides the copy-on-write delete,
  * and a time-travelled load is read-only by capability — history is
  * immutable.
  *
  * COLUMN-MAPPED tables (RENAME COLUMN / type widening) are first-class
  * SQL citizens: the scan is built over the PHYSICAL schema (widened
  * types declared, so parquet's lossless type promotion up-casts old
  * narrow files) and a name-translating facade re-reports logical names
  * — same bytes, full pushdown/pruning, see
  * [[org.apache.spark.sql.graftshim.PruningScanBuilder]]. `ALTER TABLE
  * … RENAME COLUMN` / `ALTER COLUMN … TYPE` route to
  * [[SnapshotLog.renameColumn]]/[[SnapshotLog.widenColumn]]
  * (metadata-only commits; lossy retypes refused by the widening
  * allow-list), auto-upgrading the table to column mapping on first use.
  *
  * ATOMIC CTAS: this catalog is a [[StagingTableCatalog]] — `CREATE
  * TABLE … AS SELECT` stages the SELECT's files invisibly and publishes
  * schema + data as ONE put-if-absent v0 commit
  * ([[SnapshotLog.commitCreate]]); a crash mid-write leaves NO table
  * (where Spark's non-atomic fallback leaves an empty committed husk).
  * `REPLACE TABLE … AS SELECT` publishes the same way over the old
  * listing ([[SnapshotLog.commitReplace]]), prior versions still
  * time-travellable.
  *
  * Scope (refused loudly, never silently wrong): snapshots carrying
  * outstanding merge-on-read masks (key tombstones, position deletes,
  * deletion vectors) need mask application that a raw file scan cannot
  * express — read those via [[SnapshotLog.read]], or `compact()` first.
  * The same trade early Delta DSv2 made; lifting it means a custom scan
  * that plants the masks, which the API read already is.
  */
class GraftCatalog extends TableCatalog with StagingTableCatalog {

  private var catalogName: String = _
  private var initOptions: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty()

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    initOptions = options
  }

  override def name(): String = catalogName

  // `ALTER TABLE … ADD CONSTRAINT … CHECK (…)` routes through alterTable
  // and `CREATE TABLE (… DEFAULT …)` keeps its defaults; without these
  // capabilities the analyzer refuses the DDL upfront. Column defaults
  // ride the declared schema's field metadata (CURRENT_DEFAULT /
  // EXISTS_DEFAULT), which the schema-json meta line persists verbatim —
  // Spark's own analyzer fills omitted columns at INSERT time.
  override def capabilities()
      : util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.Set.of(
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  private def rootDir: String =
    SparkSession.active.conf.getOption(s"spark.sql.catalog.$catalogName.root")
      .orElse(Option(initOptions.get("root")))
      .getOrElse(throw new IllegalStateException(
        s"GraftCatalog '$catalogName': set spark.sql.catalog.$catalogName.root " +
          "to the directory holding the snapshot logs"))

  private def requireNamespace(namespace: Array[String]): Unit =
    if (!(namespace.isEmpty || namespace.sameElements(Array("default"))))
      throw new NoSuchNamespaceException(namespace)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    requireNamespace(namespace)
    Option(new File(rootDir).listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && new File(d, "_log").isDirectory)
      .map(d => Identifier.of(Array.empty[String], d.getName))
      .sortBy(_.name())
  }

  override def tableExists(ident: Identifier): Boolean =
    (ident.namespace().isEmpty || ident.namespace().sameElements(Array("default"))) &&
      new File(new File(rootDir, ident.name()), "_log").isDirectory

  override def loadTable(ident: Identifier): Table =
    GraftCatalog.metadataTable(this, rootDir, ident).getOrElse(loadAt(ident, None))

  /** `VERSION AS OF <v>` — Spark routes the literal here. A non-numeric
    * literal resolves as a TAG NAME (`VERSION AS OF 'release1'` — the
    * Iceberg tag-read shape) against the log's refs.
    */
  override def loadTable(ident: Identifier, version: String): Table =
    loadAt(ident, Some(version.toLongOption.getOrElse {
      val log = logFor(ident)
      try log.tagVersion(version)
      catch {
        case e: IllegalArgumentException => throw new IllegalArgumentException(
          s"GraftCatalog: VERSION AS OF wants a snapshot version or a tag " +
            s"name, and '$version' is neither — ${e.getMessage}")
      }
    }))

  /** `TIMESTAMP AS OF <ts>` — Spark passes epoch MICROseconds. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val log = logFor(ident)
    loadAt(ident, Some(log.versionAt(timestampMicros / 1000L)))
  }

  private def logFor(ident: Identifier): SnapshotLog = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    new SnapshotLog(new File(rootDir, ident.name()).toString)
  }

  private def loadAt(ident: Identifier, version: Option[Long]): Table = {
    val log = logFor(ident)
    val v = version.getOrElse(log.currentVersion.getOrElse(
      throw new NoSuchTableException(ident)))
    require(log.versions.contains(v),
      s"GraftCatalog: snapshot v$v of ${ident.name()} does not exist " +
        s"(have ${log.versions.mkString(", ")} — expired or never committed)")
    val paths = log.dataFiles(v).map(p => new File(log.dataRootPath, p).toString)
    val opts = new CaseInsensitiveStringMap(util.Map.of("mergeSchema", "true"))
    val tname =
      s"$catalogName.${ident.name()}" + version.map(x => s"@v$x").getOrElse("")
    val spark = SparkSession.active
    val masked = log.tombstoneFiles(v).nonEmpty || log.posDeleteFiles(v).nonEmpty ||
      log.dvFiles(v).nonEmpty
    if (masked) {
      // merge-on-read snapshot: SQL reads serve through the mask-applying
      // facade (read-only); a column-mapped one rides the translating
      // masked read (logical names out)
      return new GraftCatalog.MaskedReadTable(tname, log, v,
        log.metaValues(v).collect {
          case (k, pv) if k.startsWith("prop.") => k.stripPrefix("prop.") -> pv
        },
        mapped = log.columnMapping(v).isDefined)
    }
    val tableProps = log.metaValues(v).collect {
      case (k, pv) if k.startsWith("prop.") => k.stripPrefix("prop.") -> pv
    }
    // file skipping: the files the pushed filters may match, through the
    // log's one rule
    def keep(conjuncts: Seq[Expression]): Seq[String] =
      log.candidateFiles(spark, v, conjuncts).map(p => new File(log.dataRootPath, p).toString)
    log.columnMapping(v) match {
      case Some((_, pairs)) =>
        // COLUMN-MAPPED snapshot: the parquet scan runs over the PHYSICAL
        // schema (widened logical types declared — parquet's lossless
        // promotion up-casts old narrow files in place) and the pruner's
        // translating facade re-reports LOGICAL names; see mappedSchemas.
        require(paths.nonEmpty,
          s"GraftCatalog: mapped snapshot v$v of ${ident.name()} has no data files")
        val (physSchema, logSchema, l2p) =
          GraftCatalog.mappedSchemas(spark, log, v, pairs, paths)
        val inner = ParquetTable(
          tname, spark, opts, paths, Some(physSchema), classOf[ParquetFileFormat])
        val pruner = GraftCatalog.Pruner(
          paths,
          keep,
          kept => ParquetTable(tname, spark, opts, kept, Some(physSchema),
            classOf[ParquetFileFormat]),
          l2p, Some(logSchema), tableProps)
        if (version.isEmpty) new GraftCatalog.MappedWritableTable(inner, log, pruner)
        else new GraftCatalog.ReadOnlyTable(inner, pruner)
      case None =>
        // a DECLARED schema (CREATE TABLE / ALTER TABLE ADD COLUMNS) pins
        // the scan: files predating an ADD COLUMN serve NULL for the added
        // columns, and a data-less table reads as the empty relation.
        // Without one, the scan needs at least one data file — stay loud.
        val declared = log.declaredSchema(v)
        require(paths.nonEmpty || declared.isDefined,
          s"GraftCatalog: snapshot v$v of ${ident.name()} has no data files")
        val inner = ParquetTable(
          tname, spark, opts, paths, declared, classOf[ParquetFileFormat])
        // file-skipping context: a rebuild of the parquet table over the
        // surviving paths (the resolved schema pins rebuilds, so even an
        // all-pruned scan plans)
        val resolved = inner.schema
        val pruner = GraftCatalog.Pruner(
          paths,
          keep,
          kept => ParquetTable(tname, spark, opts, kept, Some(resolved),
            classOf[ParquetFileFormat]),
          tableProps = tableProps)
        if (version.isEmpty) new GraftCatalog.WritableTable(inner, log, pruner)
        else new GraftCatalog.ReadOnlyTable(inner, pruner)
    }
  }

  private def readOnly(op: String): Nothing =
    throw new UnsupportedOperationException(
      s"GraftCatalog: $op must go through the SnapshotLog transactional API " +
        "(renameColumn/widenColumn/...) — an untracked metadata change would " +
        "bypass the manifest")

  /** `CREATE TABLE catalog.t (…)` — one metadata-only v0 commit declaring
    * the schema ([[SnapshotLog.createEmpty]]); `CREATE TABLE … AS SELECT`
    * rides Spark's non-atomic CTAS (this create + the V1 append write,
    * i.e. a transactional [[SnapshotLog.appendStrict]]). `PARTITIONED BY`
    * is refused loudly: physical layout is the log's own job
    * ([[SnapshotLog.optimize]] clustering / stats sidecars), not a
    * directory scheme.
    */
  /** The table properties this engine persists (`meta:prop.<key>`).
    * `clusterBy` declares the clustering keys `OPTIMIZE cat.t` defaults
    * to (the liquid-clustering declaration); everything else in the map
    * is Spark bookkeeping (owner/provider/…) and is dropped.
    */
  /** The TBLPROPERTIES this catalog persists: `clusterBy`, plus the
    * CREATE-time column semantics `generate.<col>` (a GENERATED ALWAYS
    * AS expression — computed when the insert provides NULL, enforced
    * CHECK-style when it provides a value) and `identity.<col>`
    * (`'start[,step]'` — a GENERATED ALWAYS AS IDENTITY column: the
    * insert must provide NULL; values are minted monotonically above a
    * persisted high watermark). Both are validated against the declared
    * schema when one is available; ALTER refuses them, so CREATE is the
    * single point of truth.
    */
  private def persistedProps(
      properties: util.Map[String, String],
      schema: Option[StructType],
      allowGenerated: Boolean = true): Map[String, String] = {
    val kept = {
      import scala.jdk.CollectionConverters._
      properties.asScala.toMap.filter { case (k, _) =>
        k == "clusterBy" || k == "bloomBy" ||
          k.startsWith("generate.") || k.startsWith("identity.")
      }
    }
    val gens = kept.keys.filter(_.startsWith("generate."))
      .map(_.stripPrefix("generate.")).toSeq.sorted
    val idents = kept.keys.filter(_.startsWith("identity."))
      .map(_.stripPrefix("identity.")).toSeq.sorted
    if (!allowGenerated)
      require(gens.isEmpty && idents.isEmpty,
        "GraftCatalog: generate./identity. columns are not supported on " +
          "CTAS/RTAS — the staged write bypasses the column-minting insert " +
          "path; CREATE TABLE, then INSERT INTO")
    require(idents.size <= 1,
      s"GraftCatalog: at most one identity column (got ${idents.mkString(", ")})")
    require(gens.intersect(idents).isEmpty,
      s"GraftCatalog: ${gens.intersect(idents).mkString(", ")} cannot be both " +
        "generated and identity")
    kept.foreach {
      case (k, v) if k.startsWith("generate.") =>
        require(!v.exists(ch => ch == '\n' || ch == '\r'),
          s"GraftCatalog: $k expression must be single-line")
        // a generated expression reading another engine-owned column
        // would evaluate against its PRE-derivation value (fold order),
        // silently deriving from NULL — refuse at CREATE
        val refs =
          try SparkSession.active.sessionState.sqlParser
            .parseExpression(v).collect {
              case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
                a.nameParts.last
            }.toSet
          catch { case _: IllegalStateException => Set.empty[String] }
        val owned = refs.intersect((gens ++ idents).toSet)
        require(owned.isEmpty,
          s"GraftCatalog: $k ($v) references engine-owned column(s) " +
            s"${owned.mkString(", ")} — generated expressions may read " +
            "plain columns only (self-references included)")
      case (k, v) if k.startsWith("identity.") =>
        val parts = v.split(',').map(_.trim)
        require(parts.nonEmpty && parts.length <= 2 &&
            parts.forall(p => scala.util.Try(p.toLong).isSuccess),
          s"GraftCatalog: $k must be 'start' or 'start,step', got '$v'")
        require(parts.length < 2 || parts(1).toLong != 0L,
          s"GraftCatalog: $k step must be non-zero")
      case _ => ()
    }
    schema.foreach { s =>
      (gens ++ idents).foreach(c => require(s.fieldNames.contains(c),
        s"GraftCatalog: generated/identity column $c is not in the schema " +
          s"(${s.fieldNames.mkString(", ")})"))
      idents.foreach(c => require(
        s(c).dataType == org.apache.spark.sql.types.LongType,
        s"GraftCatalog: identity column $c must be BIGINT, got " +
          s"${s(c).dataType.simpleString}"))
    }
    kept
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    requireNamespace(ident.namespace())
    require(partitions.isEmpty,
      "GraftCatalog: PARTITIONED BY is not supported — snapshot-log layout " +
        "is managed by OPTIMIZE/clustering, not a partition directory scheme")
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        Seq(name(), ident.name()))
    val log = new SnapshotLog(new File(rootDir, ident.name()).toString)
    log.commitCreate(schema, Nil, persistedProps(properties, Some(schema)))
    loadTable(ident)
  }

  /** `CREATE TABLE … (…, CONSTRAINT nn CHECK (…))` — the TableInfo
    * route the analyzer takes when the catalog declares
    * `SUPPORT_TABLE_CONSTRAINT`: declared CHECK constraints land as
    * `prop.check.<name>` metadata in the same v0 commit as the schema,
    * so the gate is in force from the very first INSERT.
    */
  override def createTable(
      ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): Table = {
    requireNamespace(ident.namespace())
    require(info.partitions().isEmpty,
      "GraftCatalog: PARTITIONED BY is not supported — snapshot-log layout " +
        "is managed by OPTIMIZE/clustering, not a partition directory scheme")
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        Seq(name(), ident.name()))
    val checks = info.constraints().toSeq.map {
      case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
        require(c.enforced(),
          "GraftCatalog: NOT ENFORCED CHECK constraints are not supported")
        val sql = Option(c.predicateSql()).getOrElse(readOnly(
          "CREATE TABLE CONSTRAINT without a predicate SQL"))
        require(!sql.exists(ch => ch == '\n' || ch == '\r'),
          "GraftCatalog: CHECK predicate must be single-line")
        s"check.${c.name()}" -> sql
      case other => readOnly(
        s"CREATE TABLE CONSTRAINT (${other.getClass.getSimpleName} — " +
          "only enforced CHECK constraints are supported)")
    }
    val log = new SnapshotLog(new File(rootDir, ident.name()).toString)
    log.commitCreate(info.schema(), Nil,
      persistedProps(info.properties(), Some(info.schema())) ++ checks)
    loadTable(ident)
  }

  /** ATOMIC `CREATE TABLE … AS SELECT`: stage the SELECT's files
    * invisibly, publish schema + properties + data as ONE v0 commit on
    * [[StagedTable.commitStagedChanges]]. A crash or abort anywhere
    * before the publish leaves NO table.
    */
  override def stageCreate(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    requireNamespace(ident.namespace())
    require(partitions.isEmpty,
      "GraftCatalog: PARTITIONED BY is not supported — snapshot-log layout " +
        "is managed by OPTIMIZE/clustering, not a partition directory scheme")
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        Seq(name(), ident.name()))
    new GraftCatalog.StagedGraftTable(
      new SnapshotLog(new File(rootDir, ident.name()).toString),
      s"$catalogName.${ident.name()}", schema,
      persistedProps(properties, Some(schema), allowGenerated = false),
      replace = false)
  }

  /** ATOMIC `REPLACE TABLE … AS SELECT`: same staging, published as one
    * commit over the previous listing — old versions stay
    * time-travellable, carried metadata belongs to the old definition
    * and is dropped with it.
    */
  override def stageReplace(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    requireNamespace(ident.namespace())
    require(partitions.isEmpty,
      "GraftCatalog: PARTITIONED BY is not supported — snapshot-log layout " +
        "is managed by OPTIMIZE/clustering, not a partition directory scheme")
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    new GraftCatalog.StagedGraftTable(
      new SnapshotLog(new File(rootDir, ident.name()).toString),
      s"$catalogName.${ident.name()}", schema,
      persistedProps(properties, Some(schema), allowGenerated = false),
      replace = true)
  }

  override def stageCreateOrReplace(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable =
    if (tableExists(ident)) stageReplace(ident, schema, partitions, properties)
    else stageCreate(ident, schema, partitions, properties)

  /** `ALTER TABLE catalog.t` — the metadata-only evolution verbs:
    *
    *  - `ADD COLUMNS (…)` / `DROP COLUMN c` → [[SnapshotLog.addColumns]]
    *    / [[SnapshotLog.dropColumns]] (declared-schema commits; dropped
    *    names blocklisted against resurrection);
    *  - `RENAME COLUMN a TO b` → [[SnapshotLog.renameColumn]] under
    *    column mapping — the table auto-upgrades to mapping on first use
    *    (one extra metadata commit, refused if a declared column has no
    *    physical data yet: the upgrade would silently drop it). An empty
    *    declared table renames by schema rewrite, no mapping needed;
    *  - `ALTER COLUMN c TYPE t` → [[SnapshotLog.widenColumn]] — only
    *    provably-lossless widenings (the Delta allow-list); lossy
    *    retypes (bigint→int, bigint→double) refuse loudly;
    *  - `SET TBLPROPERTIES ('clusterBy' = …)` → the declared clustering
    *    keys `OPTIMIZE cat.t` defaults to.
    *
    * Everything else (NOT NULL, FIRST/AFTER placement, nested fields) is
    * refused loudly. All commits OCC-retried; no data file is ever
    * touched.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val log = logFor(ident)
    val spark = SparkSession.active
    changes.foreach {
      case _: TableChange.AddColumn | _: TableChange.DeleteColumn |
           _: TableChange.RenameColumn | _: TableChange.UpdateColumnType |
           _: TableChange.SetProperty | _: TableChange.AddConstraint |
           _: TableChange.DropConstraint |
           _: TableChange.UpdateColumnDefaultValue => ()
      case other => readOnly(s"ALTER TABLE (${other.getClass.getSimpleName})")
    }
    val adds = changes.collect { case a: TableChange.AddColumn =>
      require(a.fieldNames().length == 1,
        s"GraftCatalog: nested ADD COLUMN ${a.fieldNames().mkString(".")} " +
          "is not supported — add a top-level column")
      require(a.position() == null,
        "GraftCatalog: ADD COLUMN … FIRST/AFTER is not supported — " +
          "added columns always append at the end (metadata-only commit)")
      require(a.isNullable,
        s"GraftCatalog: ADD COLUMN ${a.fieldNames()(0)} NOT NULL is not " +
          "supported — existing rows would violate it; add nullable, " +
          "backfill, then constrain")
      (a.fieldNames()(0), a.dataType())
    }
    // `ADD COLUMNS (c T DEFAULT v)`: the default lands as a follow-up
    // metadata commit setting BOTH CURRENT_DEFAULT (future inserts) and
    // EXISTS_DEFAULT (the ANSI rule: rows written before the column
    // existed read the default — Spark's file readers fill missing
    // columns from that metadata). Silently dropping it would betray
    // the statement.
    val addDefaults = changes.collect {
      case a: TableChange.AddColumn if a.defaultValue() != null =>
        val sql = Option(a.defaultValue().getSql).getOrElse(readOnly(
          s"ADD COLUMN ${a.fieldNames()(0)} with an expression-only default"))
        (a.fieldNames()(0), sql)
    }
    val drops = changes.collect { case d: TableChange.DeleteColumn =>
      require(d.fieldNames().length == 1,
        s"GraftCatalog: nested DROP COLUMN ${d.fieldNames().mkString(".")} " +
          "is not supported — drop a top-level column")
      d.fieldNames()(0)
    }
    val renames = changes.collect { case r: TableChange.RenameColumn =>
      require(r.fieldNames().length == 1,
        s"GraftCatalog: nested RENAME COLUMN ${r.fieldNames().mkString(".")} " +
          "is not supported — rename a top-level column")
      (r.fieldNames()(0), r.newName())
    }
    val retypes = changes.collect { case t: TableChange.UpdateColumnType =>
      require(t.fieldNames().length == 1,
        s"GraftCatalog: nested ALTER COLUMN ${t.fieldNames().mkString(".")} " +
          "is not supported — retype a top-level column")
      (t.fieldNames()(0), t.newDataType())
    }
    val props = changes.collect { case p: TableChange.SetProperty =>
      // clusterBy re-declares OPTIMIZE's default keys; bloomBy enables
      // the Bloom point-lookup index post-hoc (new writes get filters
      // immediately; existing files read conservatively until an
      // OPTIMIZE rewrite backfills them). generate./identity. stay
      // CREATE-time-only — adopting them later would need a
      // certification scan over history this ALTER does not run.
      require(p.property() == "clusterBy" || p.property() == "bloomBy",
        s"GraftCatalog: only the clusterBy/bloomBy table properties can be " +
          s"altered, got ${p.property()}")
      (p.property(), p.value())
    }
    // a RENAME or DROP of a column a stored CHECK references would leave
    // the constraint unresolvable — every later INSERT/UPDATE/MERGE
    // would die on the stale name instead of enforcing (or, dropped,
    // silently certify nothing). Refuse up front, the Delta discipline.
    (renames.map(_._1) ++ drops).foreach { colName =>
      log.currentVersion.foreach { cur =>
        log.metaValues(cur).foreach { case (k, sql) =>
          if (k.startsWith("prop.check.")) {
            val refs = spark.sessionState.sqlParser.parseExpression(sql).collect {
              case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
                a.nameParts.last
            }.toSet
            require(!refs.contains(colName),
              s"GraftCatalog: column $colName of ${ident.name()} is referenced " +
                s"by CHECK constraint ${k.stripPrefix("prop.check.")} ($sql) — " +
                "DROP CONSTRAINT first, then rename/drop the column")
          } else if (k.startsWith("prop.generate.")) {
            // same hazard for generated columns: renaming the column (or
            // one its expression reads) would orphan the stored
            // expression and every later INSERT would enforce a lie
            val genCol = k.stripPrefix("prop.generate.")
            val refs = spark.sessionState.sqlParser.parseExpression(sql).collect {
              case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
                a.nameParts.last
            }.toSet + genCol
            require(!refs.contains(colName),
              s"GraftCatalog: column $colName of ${ident.name()} is part of " +
                s"generated column $genCol ($sql) — generated columns are " +
                "CREATE-time-fixed; recreate the table to change them")
          } else if (k.startsWith("prop.identity.")) {
            require(colName != k.stripPrefix("prop.identity."),
              s"GraftCatalog: column $colName of ${ident.name()} is the " +
                "identity column — identity is CREATE-time-fixed")
          }
        }
      }
    }
    if (adds.nonEmpty) log.withOccRetry()(log.addColumns(spark, adds))
    addDefaults.foreach { case (n, sql) =>
      log.withOccRetry()(log.setColumnDefault(n, Some(sql), forExistingRows = true))
    }
    if (drops.nonEmpty) log.withOccRetry()(log.dropColumns(spark, drops))
    renames.foreach { case (from, to) =>
      log.withOccRetry() {
        val cur = log.currentVersion.getOrElse(throw new NoSuchTableException(ident))
        if (log.dataFiles(cur).isEmpty && log.columnMapping(cur).isEmpty &&
            log.declaredSchema(cur).isDefined)
          log.renameEmptyDeclared(from, to)
        else {
          ensureColumnMapping(spark, log, ident)
          log.renameColumn(from, to)
        }
      }
    }
    retypes.foreach { case (name, dt) =>
      log.withOccRetry() {
        ensureColumnMapping(spark, log, ident)
        log.widenColumn(spark, name, dt.sql.toLowerCase(java.util.Locale.ROOT))
      }
    }
    props.foreach { case (k, v) => log.withOccRetry()(log.setProperty(k, v)) }
    changes.foreach {
      case u: TableChange.UpdateColumnDefaultValue =>
        require(u.fieldNames().length == 1,
          s"GraftCatalog: nested ALTER COLUMN ${u.fieldNames().mkString(".")} " +
            "is not supported")
        // DROP DEFAULT arrives as an empty default text
        val d = Option(u.newDefaultValue()).map(_.trim).filter(_.nonEmpty)
        log.withOccRetry()(log.setColumnDefault(u.fieldNames()(0), d))
        ()
      case _ => ()
    }
    changes.foreach {
      case a: TableChange.AddConstraint =>
        val c = a.constraint() match {
          case chk: org.apache.spark.sql.connector.catalog.constraints.Check => chk
          case other => readOnly(
            s"ALTER TABLE ADD CONSTRAINT (${other.getClass.getSimpleName} — " +
              "only enforced CHECK constraints are supported)")
        }
        require(c.enforced(),
          "GraftCatalog: NOT ENFORCED CHECK constraints are not supported — " +
            "an unenforced gate would be a silent no-op")
        val sql = Option(c.predicateSql()).getOrElse(readOnly(
          "ALTER TABLE ADD CONSTRAINT without a predicate SQL"))
        require(!sql.exists(ch => ch == '\n' || ch == '\r'),
          "GraftCatalog: CHECK predicate must be single-line")
        // EXISTING rows must already satisfy the constraint (the Delta
        // ADD CONSTRAINT discipline: one validation scan BEFORE the
        // certifying commit) — silently certifying violated history
        // would turn every later write-path guard into a lie. ANSI
        // three-valued: only FALSE violates, NULL passes.
        log.withOccRetry() {
          val cur = log.currentVersion.getOrElse(throw new NoSuchTableException(ident))
          if (log.dataFiles(cur).nonEmpty) {
            import org.apache.spark.sql.functions.{coalesce, expr, lit}
            val view =
              if (log.columnMapping(cur).isDefined) log.readMapped(spark, cur)
              else log.read(spark, cur)
            val violating = view.where(!coalesce(expr(sql), lit(true))).limit(1).count()
            require(violating == 0L,
              s"GraftCatalog: existing rows of ${ident.name()} violate CHECK " +
                s"(${sql}) — fix the data before ADD CONSTRAINT ${c.name()}")
          }
          log.setProperty(s"check.${c.name()}", sql)
        }
        ()
      case d: TableChange.DropConstraint =>
        val key = s"check.${d.name()}"
        val cur = log.currentVersion.getOrElse(throw new NoSuchTableException(ident))
        require(d.ifExists() || log.property(cur, key).isDefined,
          s"GraftCatalog: no CHECK constraint named ${d.name()} on ${ident.name()}")
        log.withOccRetry()(log.removeProperty(key))
        ()
      case _ => ()
    }
    loadTable(ident)
  }

  /** Upgrade a table to column mapping if it isn't yet — the RENAME /
    * widen prerequisite. Refused when a DECLARED column has no physical
    * data in any file: the upgrade maps the files' physical schema, so
    * the never-backfilled column would silently vanish from the table.
    */
  private def ensureColumnMapping(
      spark: SparkSession, log: SnapshotLog, ident: Identifier): Unit = {
    val cur = log.currentVersion.getOrElse(throw new NoSuchTableException(ident))
    // identity tables refuse the mapping upgrade itself (not just the
    // later insert): a rename would strand the table in a state where
    // every INSERT refuses — surface the incompatibility at the DDL
    GraftCatalog.identitySpec(log).foreach { case (c, _, _) =>
      throw new IllegalArgumentException(
        s"GraftCatalog: ${ident.name()} declares GENERATED ALWAYS AS " +
          s"IDENTITY column $c — identity tables do not support column " +
          "mapping (rename/widen); recreate the table instead")
    }
    if (log.columnMapping(cur).isEmpty) {
      log.declaredSchema(cur).foreach { ds =>
        val paths = log.dataFiles(cur).map(p => new File(log.dataRootPath, p).toString)
        require(paths.nonEmpty,
          s"GraftCatalog: ${ident.name()} declares a schema but holds no data — " +
            "INSERT first, or rename via the empty-table schema rewrite")
        val physical = spark.read.option("mergeSchema", "true")
          .parquet(paths: _*).schema.fieldNames.toSet
        val missing = ds.fieldNames.filterNot(physical)
        require(missing.isEmpty,
          s"GraftCatalog: declared column(s) ${missing.mkString(", ")} of " +
            s"${ident.name()} carry no physical data yet — the column-mapping " +
            "upgrade would silently drop them; backfill (INSERT) before " +
            "RENAME COLUMN / ALTER COLUMN TYPE")
      }
      log.enableColumnMapping(spark)
      ()
    }
  }

  /** `DROP TABLE catalog.t` — removes the table directory (log and data
    * pool) entirely; snapshot history goes with it, as Delta's DROP does.
    */
  override def dropTable(ident: Identifier): Boolean = {
    if (!tableExists(ident)) return false
    val dir = new File(rootDir, ident.name())
    // a pool OWNER with live shallow clones must not vanish under them —
    // dropping it would orphan every clone's data references (the silent
    // breakage Delta allows; we refuse loudly — drop the clones first)
    // a borrower (its `_pool` marker points elsewhere) is always safe to
    // drop; registrations self-prune on the owner's next cloneRoots walk
    if (new File(dir, "_log").isDirectory && !new File(dir, "_pool").exists()) {
      val log = new SnapshotLog(dir.toString)
      val live = log.cloneRoots
      require(live.isEmpty,
        s"DROP TABLE ${ident.name()}: shallow clone(s) at " +
          s"${live.mkString(", ")} still read this table's data pool — " +
          "drop the clones first")
    }
    graft.streaming.StreamingSessionize.deleteTree(dir.toPath)
    true
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    readOnly("RENAME TABLE")
}

object GraftCatalog {

  /** Mount a graft catalog named `name` on `spark`, its tables under
    * `root` (`spark.sql.catalog.<name>` + `.root`).
    */
  def mount(spark: SparkSession, name: String, root: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
  }

  /** GENERATED ALWAYS AS (expr) columns (`prop.generate.<col>`): the
    * write contract folded into the batch as one expression per column —
    * computed where the batch provides NULL, kept where it provides the
    * matching value, and a MISMATCHED provided value fails the write job
    * (raise_error) with nothing committed. Null-safe equality (`<=>`)
    * so a computed-NULL expression round-trips. Schema unchanged; rides
    * whole-stage codegen, zero extra passes.
    */
  private[sources] def generatedTransform(
      log: SnapshotLog,
      data: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, lit, raise_error, when}
    val gens = log.currentVersion.toSeq.flatMap(v => log.metaValues(v).collect {
      case (k, sql) if k.startsWith("prop.generate.") =>
        k.stripPrefix("prop.generate.") -> sql
    }).sortBy(_._1)
    gens.foldLeft(data) { case (d, (c, sql)) =>
      require(d.columns.contains(c),
        s"GraftCatalog: generated column $c is missing from the batch")
      val gen = expr(sql).cast(d.schema(c).dataType)
      d.withColumn(c,
        when(col(c).isNull, gen)
          .otherwise(when(col(c) <=> gen, col(c)).otherwise(raise_error(lit(
            s"GraftCatalog: provided value for generated column $c does not " +
              s"match its expression ($sql) — nothing committed")))))
    }
  }

  /** The table's GENERATED ALWAYS AS IDENTITY column, if declared
    * (`prop.identity.<col>` = `'start[,step]'`).
    */
  private[sources] def identitySpec(log: SnapshotLog): Option[(String, Long, Long)] =
    log.currentVersion.flatMap(v => log.metaValues(v).collectFirst {
      case (k, spec) if k.startsWith("prop.identity.") =>
        val parts = spec.split(',').map(_.trim.toLong)
        (k.stripPrefix("prop.identity."), parts(0),
          if (parts.length > 1) parts(1) else 1L)
    })


  /** SQL METADATA TABLES (the Iceberg `db.table.history`-style suffix
    * addressing): `SELECT * FROM graftsnap.t.history` / `.files` /
    * `.properties` resolve when `t` is a snapshot-log table — Spark
    * parses the three-part name as namespace `[t]` + table `<suffix>`,
    * which a flat catalog can claim unambiguously (real tables always
    * carry the empty namespace). Rows are computed from the log's OWN
    * metadata at load time (metadata-sized — version count, manifest
    * line count, never a data scan) and served through a [[LocalScan]]:
    * the planner turns them into a local relation, no executor work at
    * all.
    *
    *  - `history`: one row per committed version — operation class
    *    ([[SnapshotLog.history]]), add/remove counts, commit time;
    *  - `files`: the CURRENT manifest's physical files with kind
    *    (data/tombstone/posdel/dv) and on-disk size;
    *  - `properties`: the current snapshot's `meta:` key→value pairs.
    */
  private def metadataTable(
      cat: GraftCatalog, rootDir: String, ident: Identifier): Option[Table] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.types._
    val ns = ident.namespace()
    if (ns.length != 1) return None
    if (!cat.tableExists(Identifier.of(Array.empty[String], ns(0)))) return None
    val log = new SnapshotLog(new File(rootDir, ns(0)).toString)
    def utf(s: String) = UTF8String.fromString(s)
    ident.name() match {
      case "history" =>
        val schema = StructType(Seq(
          StructField("version", LongType, nullable = false),
          StructField("operation", StringType, nullable = false),
          StructField("added_data", IntegerType, nullable = false),
          StructField("added_tombstones", IntegerType, nullable = false),
          StructField("removed", IntegerType, nullable = false),
          StructField("files_total", IntegerType, nullable = false),
          StructField("committed_at", TimestampType, nullable = false)))
        val rows = log.history.map { case (v, op, ad, at, rm, tot) =>
          InternalRow(v, utf(op), ad, at, rm, tot, log.commitTimeMillis(v) * 1000L)
        }.toArray
        Some(new MetadataTable(s"${cat.name()}.${ns(0)}.history", schema, rows))
      case "files" =>
        val cur = log.currentVersion.getOrElse(
          throw new NoSuchTableException(ident))
        val schema = StructType(Seq(
          StructField("path", StringType, nullable = false),
          StructField("kind", StringType, nullable = false),
          StructField("size_bytes", LongType, nullable = false),
          StructField("snapshot_version", LongType, nullable = false)))
        val kinds = Seq(
          "data" -> log.dataFiles(cur), "tombstone" -> log.tombstoneFiles(cur),
          "posdel" -> log.posDeleteFiles(cur), "dv" -> log.dvFiles(cur))
        val rows = kinds.flatMap { case (kind, paths) =>
          paths.sorted.map(p => InternalRow(
            utf(p), utf(kind), new File(log.dataRootPath, p).length(), cur))
        }.toArray
        Some(new MetadataTable(s"${cat.name()}.${ns(0)}.files", schema, rows))
      case "properties" =>
        val cur = log.currentVersion.getOrElse(
          throw new NoSuchTableException(ident))
        val schema = StructType(Seq(
          StructField("key", StringType, nullable = false),
          StructField("value", StringType, nullable = false)))
        val rows = log.metaValues(cur).toSeq.sortBy(_._1)
          .map { case (k, v) => InternalRow(utf(k), utf(v)) }.toArray
        Some(new MetadataTable(s"${cat.name()}.${ns(0)}.properties", schema, rows))
      case _ => None
    }
  }

  /** Driver-computed metadata rows as a read-only V2 table: the scan is
    * a [[org.apache.spark.sql.connector.read.LocalScan]], planned as a
    * local relation — metadata-table queries never touch an executor.
    */
  private final class MetadataTable(
      tableName: String,
      tableSchema: StructType,
      data: Array[org.apache.spark.sql.catalyst.InternalRow])
    extends Table with SupportsRead {
    override def name(): String = tableName
    override def schema(): StructType = tableSchema
    override def capabilities(): util.Set[TableCapability] =
      util.Collections.singleton(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder {
        override def build(): org.apache.spark.sql.connector.read.Scan =
          new org.apache.spark.sql.connector.read.LocalScan {
            override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = data
            override def readSchema(): StructType = tableSchema
            override def description(): String = tableName
          }
      }
  }

  /** The V1 `Filter` subset a SQL DELETE can push — translated to the
    * Column predicates [[SnapshotLog.deleteWhereCow]] evaluates. `None`
    * marks an untranslatable filter; `canDeleteWhere` then refuses the
    * whole DELETE loudly rather than deleting a superset or subset.
    */
  private[sources] def filterToColumn(
      f: Filter,
      rename: String => String = identity): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{lit}
    def col(a: String) = org.apache.spark.sql.functions.col(rename(a))
    f match {
      case _: org.apache.spark.sql.sources.AlwaysTrue => Some(lit(true))
      case _: org.apache.spark.sql.sources.AlwaysFalse => Some(lit(false))
      case FEqualTo(a, v) => Some(col(a) === lit(v))
      case FEqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case FGreaterThan(a, v) => Some(col(a) > lit(v))
      case FGreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case FLessThan(a, v) => Some(col(a) < lit(v))
      case FLessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case FIn(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
      case FIsNull(a) => Some(col(a).isNull)
      case FIsNotNull(a) => Some(col(a).isNotNull)
      case FStringStartsWith(a, v) => Some(col(a).startsWith(v))
      case FStringEndsWith(a, v) => Some(col(a).endsWith(v))
      case FStringContains(a, v) => Some(col(a).contains(v))
      case FAnd(l, r) =>
        for (lc <- filterToColumn(l, rename); rc <- filterToColumn(r, rename))
          yield lc && rc
      case FOr(l, r) =>
        for (lc <- filterToColumn(l, rename); rc <- filterToColumn(r, rename))
          yield lc || rc
      case FNot(c) => filterToColumn(c, rename).map(!_)
      case _ => None
    }
  }

  /** File-skipping context for a loaded snapshot: the full path list,
    * the log's file-skipping rule over pushed filters
    * ([[SnapshotLog.candidateFiles]], absolute paths out), and a
    * parquet-table rebuild over pruned paths — everything
    * [[org.apache.spark.sql.graftshim.PruningScanBuilder]] needs. For
    * COLUMN-MAPPED snapshots, `logicalToPhysical` drives the builder's
    * name translation and `reportedSchema` is the LOGICAL schema the
    * table presents (the delegate parquet table holds the physical one).
    */
  private[sources] final case class Pruner(
      paths: Seq[String],
      keep: Seq[Expression] => Seq[String],
      rebuildTable: Seq[String] => ParquetTable,
      logicalToPhysical: Map[String, String] = Map.empty,
      reportedSchema: Option[StructType] = None,
      tableProps: Map[String, String] = Map.empty)

  /** The PHYSICAL scan schema, the LOGICAL table schema, and the
    * logical→physical name map of a column-mapped snapshot. Types come
    * from the declared widenings ([[SnapshotLog.columnTypes]]) first,
    * else the (required-unique) parquet footer type across the stage
    * directories that carry the physical column — metadata-sized (one
    * footer read per stage dir, the same planning cost every schema
    * inference pays). A mapped column present in NO file is skipped
    * (its data arrives with its first mapped append — the
    * [[SnapshotLog.readMapped]] semantics).
    */
  private[sources] def mappedSchemas(
      spark: SparkSession,
      log: SnapshotLog,
      v: Long,
      pairs: Seq[(String, String)],
      paths: Seq[String]): (StructType, StructType, Map[String, String]) = {
    import org.apache.spark.sql.types.{DataType, StructField}
    val widened = log.columnTypes(v)
    val base = log.columnBaseTypes(v)
    // footer reads happen ONLY for physical columns with neither a
    // widening nor a recorded base type (legacy enables, encoding-unsafe
    // DDL) — the common mapped table plans from metadata alone
    lazy val dirTypes: Seq[Map[String, DataType]] = paths
      .groupBy(p => new File(p).getParent).toSeq.sortBy(_._1)
      .map { case (_, ps) =>
        spark.read.parquet(ps: _*).schema.fields.map(f => f.name -> f.dataType).toMap
      }
    val canon: Seq[(String, String, DataType)] = pairs.flatMap { case (l, p) =>
      widened.get(p).orElse(base.get(p)) match {
        case Some(t) => Some((l, p, DataType.fromDDL(t)))
        case None =>
          val seen = dirTypes.flatMap(_.get(p)).distinct
          require(seen.size <= 1,
            s"GraftCatalog: physical column $p has conflicting types $seen " +
              "across stages; declare the widening via ALTER COLUMN TYPE")
          seen.headOption.map(dt => (l, p, dt))
      }
    }
    require(canon.nonEmpty,
      s"GraftCatalog: no mapped column of v$v has data")
    (StructType(canon.map { case (_, p, dt) => StructField(p, dt) }),
      StructType(canon.map { case (l, _, dt) => StructField(l, dt) }),
      canon.map { case (l, p, _) => l -> p }.toMap)
  }

  /** Read-only facade over the delegated [[ParquetTable]]: exposes ONLY
    * `BATCH_READ`, so Spark's analyzer refuses INSERT/overwrite at plan
    * time instead of letting a file write slip past the manifest. Used
    * for every time-travelled load — history is immutable. Scans go
    * through the file-skipping builder, so a predicate on a
    * stats-indexed column prunes FILES at the manifest level before the
    * parquet scan ever lists them. Column-mapped loads present the
    * pruner's LOGICAL schema; the builder translates names both ways.
    */
  /** SQL-readable facade over a MERGE-ON-READ snapshot (outstanding key
    * tombstones / position deletes / deletion vectors): the scan routes
    * through [[SnapshotLog.read]]'s mask application via the V1Scan
    * bridge — the masked plan (parquet scans + mask anti-joins) runs
    * fully optimized; only the final row handoff crosses the V1
    * boundary. Delta serves DV-masked tables in SQL the same way a DML
    * mix expects; refusing until compact() made every SELECT after a
    * merge-on-read DELETE a maintenance event.
    *
    * Column pruning and translatable filters push into the masked frame
    * ([[PrunedFilteredScan]]) — Catalyst then pushes them through the
    * anti-join to the parquet scans, so a point lookup on a masked
    * 100 TB table still prunes and skips; untranslatable filters are
    * re-applied by Spark above (the `unhandledFilters` default).
    * Read-only by capability: writes land through the log API or the
    * unmasked table. Column-mapped snapshots ride [[SnapshotLog.readMapped]]
    * (logical names out — SQL filters apply untranslated); its guards
    * refuse the non-composable corners at analysis time.
    */
  private final class MaskedReadTable(
      tname: String, log: SnapshotLog, v: Long,
      tableProps: Map[String, String] = Map.empty,
      // column-mapped snapshots route through the translating masked
      // read (logical names out, so SQL filters apply untranslated);
      // its own guards refuse the non-composable corners (key
      // tombstones, float-target widenings) at analysis time
      mapped: Boolean = false)
    extends Table with SupportsRead {
    private def masked(spark: SparkSession): org.apache.spark.sql.DataFrame =
      if (mapped) log.readMapped(spark, v) else log.read(spark, v)
    private lazy val reportedSchema: StructType =
      masked(SparkSession.active).schema
    override def name(): String = tname
    override def schema(): StructType = reportedSchema
    override def properties(): util.Map[String, String] = {
      val m = new util.HashMap[String, String]()
      tableProps.foreach { case (k, pv) => m.put(k, pv) }
      m
    }
    override def capabilities(): util.Set[TableCapability] =
      util.Collections.singleton(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder
          with org.apache.spark.sql.connector.read.SupportsPushDownFilters
          with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
        // DSv2 pushdown feeding the V1 bridge (the JDBC-connector
        // shape): translatable filters are claimed as pushed — they are
        // FULLY applied inside the masked frame via the same translation
        // DELETE trusts, and Catalyst pushes them through the mask
        // anti-joins to the parquet scans; the residue re-applies above
        private var pushed: Array[Filter] = Array.empty
        private var required: Option[StructType] = None
        override def pushFilters(filters: Array[Filter]): Array[Filter] = {
          val (ok, residual) =
            filters.partition(f => GraftCatalog.filterToColumn(f).isDefined)
          pushed = ok
          residual
        }
        override def pushedFilters(): Array[Filter] = pushed
        override def pruneColumns(requiredSchema: StructType): Unit =
          required = Some(requiredSchema)
        override def build(): org.apache.spark.sql.connector.read.Scan =
          new org.apache.spark.sql.connector.read.V1Scan {
            override def readSchema(): StructType =
              required.getOrElse(reportedSchema)
            override def toV1TableScan[T <: org.apache.spark.sql.sources.BaseRelation
                with org.apache.spark.sql.sources.TableScan](
                context: org.apache.spark.sql.SQLContext): T = {
              val rel = new org.apache.spark.sql.sources.BaseRelation
                  with org.apache.spark.sql.sources.TableScan {
                override def sqlContext: org.apache.spark.sql.SQLContext = context
                override def schema: StructType = readSchema()
                override def buildScan()
                    : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
                  val conds = pushed.toSeq.flatMap(f =>
                    GraftCatalog.filterToColumn(f))
                  val filtered = conds.foldLeft(masked(context.sparkSession))(_ where _)
                  val cols = required.map(_.fieldNames.toSeq)
                    .getOrElse(reportedSchema.fieldNames.toSeq)
                  (if (cols.isEmpty) filtered
                   else filtered.select(cols.map(
                     org.apache.spark.sql.functions.col): _*)).rdd
                }
              }
              rel.asInstanceOf[T]
            }
          }
      }
  }

  private sealed class ReadOnlyTable(
      protected val inner: ParquetTable, pruner: Pruner)
    extends Table with SupportsRead {
    override def name(): String = inner.name
    override def schema(): StructType = pruner.reportedSchema.getOrElse(inner.schema)
    // `SHOW TBLPROPERTIES cat.t` serves the log's prop.* metadata
    override def properties(): util.Map[String, String] = {
      val m = new util.HashMap[String, String]()
      pruner.tableProps.foreach { case (k, v) => m.put(k, v) }
      m
    }
    // stored CHECK constraints report through the DSv2 contract, so
    // Spark's OWN analyzer plants the enforcement into every INSERT's
    // plan (a violating batch fails the WRITE JOB — before anything is
    // committed; aborted stage files are vacuum fodder). Zero extra
    // passes: the check rides the write scan.
    override def constraints()
        : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
      pruner.tableProps.toSeq.sortBy(_._1).collect {
        case (k, sql) if k.startsWith("check.") =>
          org.apache.spark.sql.connector.catalog.constraints.Constraint
            .check(k.stripPrefix("check.")).predicateSql(sql).build()
            : org.apache.spark.sql.connector.catalog.constraints.Constraint
      }.toArray
    override def capabilities(): util.Set[TableCapability] =
      util.Collections.singleton(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new org.apache.spark.sql.graftshim.PruningScanBuilder(
        inner.newScanBuilder(options)
          .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.FileScanBuilder],
        pruner.paths,
        pruner.keep,
        kept => pruner.rebuildTable(kept).newScanBuilder(options)
          .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.FileScanBuilder],
        pruner.logicalToPhysical)
  }

  /** The CURRENT snapshot's table: readable as [[ReadOnlyTable]] and
    * insertable through the log's transactional append — the V1 write
    * fallback hands the resolved batch frame straight to
    * [[SnapshotLog.appendStrict]] (schema enforcement) inside
    * [[SnapshotLog.withOccRetry]] (commit-race retry), so a SQL INSERT
    * is exactly one atomic manifest commit.
    */
  private final class WritableTable(
      inner0: ParquetTable, log: SnapshotLog, pruner0: Pruner)
    extends ReadOnlyTable(inner0, pruner0) with SupportsWrite with SupportsDelete {
    // TRUNCATE: SupportsDelete's default truncateTable() routes through
    // deleteWhere(AlwaysTrue) — the same copy-on-write commit, so
    // `TRUNCATE TABLE cat.t` is tracked and time-travellable for free
    override def capabilities(): util.Set[TableCapability] =
      util.Set.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
        TableCapability.TRUNCATE)

    private def requireSameSchema(data: org.apache.spark.sql.DataFrame): Unit = {
      val drift = SchemaDrift.of(inner.schema, data.schema)
      require(drift.isEmpty,
        s"GraftCatalog: INSERT OVERWRITE batch drifts from the table schema — $drift")
    }

    /** The table's declared `clusterBy` keys present in `data`. */
    private def clusterKeys(data: org.apache.spark.sql.DataFrame): Seq[String] =
      log.currentVersion.toSeq.flatMap(log.clusterColumns).filter(data.columns.contains)

    override def canDeleteWhere(filters: Array[Filter]): Boolean =
      filters.forall(f => GraftCatalog.filterToColumn(f).isDefined)

    /** `DELETE FROM … WHERE …` — copy-on-write so the table stays
      * scan-clean for the SQL read path; one atomic commit, OCC-retried.
      */
    override def deleteWhere(filters: Array[Filter]): Unit = {
      val cond = filters.toSeq
        .map(f => GraftCatalog.filterToColumn(f).getOrElse(
          throw new UnsupportedOperationException(
            s"GraftCatalog: cannot translate DELETE filter $f — " +
              "use SnapshotLog.deleteWhere with an arbitrary Column predicate")))
        .reduceOption(_ && _)
        .getOrElse(org.apache.spark.sql.functions.lit(true))
      val ((vDel, _), _) = log.withOccRetry()(
        log.deleteWhereCow(SparkSession.active, cond))
      // `bloomBy` maintenance over the survivor files the rewrite staged
      // (the INSERT-path hook; absence only reads conservatively)
      log.writeBloomSidecarFor(SparkSession.active, vDel)
    }
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {
        // (WritableTable)
        // INSERT OVERWRITE arrives as overwrite-by-TRUE: the planner
        // demands a truncating builder. The V1 exec does NOT thread the
        // flag into insert(), so the builder records it itself.
        private var truncateFirst = false
        override def truncate(): WriteBuilder = { truncateFirst = true; this }
        override def build(): Write = new V1Write {
          override def toInsertableRelation: InsertableRelation =
            new InsertableRelation {
              override def insert(data0: org.apache.spark.sql.DataFrame,
                  overwrite: Boolean): Unit = {
                val parts = math.max(1, math.min(32,
                  data0.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt))
                // generated columns fold into the batch expressions;
                // identity tables route to the watermark-advancing append
                val data = generatedTransform(log, data0)
                val ident = identitySpec(log)
                if (overwrite || truncateFirst) {
                  require(ident.isEmpty,
                    s"GraftCatalog: INSERT OVERWRITE on identity table is not " +
                      "supported — the replacement would reset minted ids; " +
                      "DELETE + INSERT instead")
                  // INSERT OVERWRITE = one tracked LOGICAL overwrite
                  // commit ([[SnapshotLog.overwrite]]): prior versions
                  // stay time-travellable, metadata carries. Schema
                  // still enforced — an overwrite may replace the rows,
                  // never silently retype the table. (Under
                  // partitionOverwriteMode=dynamic the analyzer refuses
                  // upstream — the table declares no partitions.)
                  // clusterBy tables cluster the replacement on write,
                  // same as the append path.
                  requireSameSchema(data)
                  val ck = clusterKeys(data)
                  val vNew =
                    if (ck.isEmpty) log.overwrite(data, parts)
                    else log.overwriteArrangedStats(log.rangeArrange(data, ck, parts))
                  log.writeBloomSidecarFor(data.sparkSession, vNew)
                } else {
                  // CLUSTER ON WRITE (the liquid-clustering ingest half):
                  // a table with DECLARED clusterBy keys range-arranges
                  // each INSERT batch on them before staging, so the
                  // footer min/max stats below give DISJOINT per-file
                  // ranges and the skipping scan prunes freshly-inserted
                  // data immediately — no OPTIMIZE pass needed first.
                  // One batch-sized range shuffle.
                  val ck = clusterKeys(data)
                  val (vNew, _) = ident match {
                    case Some((idc, st, sp)) =>
                      log.withOccRetry()(log.appendIdentityStats(
                        data, idc, st, sp, parts, ck))
                    case None if ck.isEmpty =>
                      log.withOccRetry()(log.appendStrictStats(data, parts))
                    case None =>
                      log.withOccRetry()(log.appendArrangedStrictStats(
                        log.rangeArrange(data, ck, parts)))
                  }
                  // `bloomBy` maintenance: extend the Bloom sidecars over
                  // the freshly-committed files (post-commit is safe —
                  // a reader planning in the window just keeps the new
                  // files conservatively)
                  log.writeBloomSidecarFor(data.sparkSession, vNew)
                }
                ()
              }
            }
        }
      }
  }

  /** The writable face of a COLUMN-MAPPED table: reads through the
    * translating scan ([[ReadOnlyTable]]); `INSERT INTO` routes through
    * [[SnapshotLog.appendMapped]] — logical columns translated to their
    * physical ids, so post-rename inserts land in the same physical
    * columns as pre-rename files (the batch must carry EXACTLY the
    * table's logical columns — an unknown column would silently mint a
    * fresh physical id); `DELETE FROM … WHERE …` translates the pushed
    * filters through the same logical→physical map and runs the normal
    * copy-on-write delete (rows are addressed by (file, pos) — physical
    * ids make the predicate rename-stable). Tables with declared type
    * WIDENINGS refuse DELETE (the heterogeneous-stage read has no
    * single address stream). OVERWRITE is refused at plan time.
    */
  private final class MappedWritableTable(
      inner0: ParquetTable, log: SnapshotLog, pruner0: Pruner)
    extends ReadOnlyTable(inner0, pruner0) with SupportsWrite with SupportsDelete {
    // deliberately NO TRUNCATE capability: INSERT OVERWRITE on a mapped
    // table must refuse at ANALYSIS (the capability gate), not
    // mid-execution after the source query already ran — the mapped
    // overwrite path would need mapping-aware physical-id staging
    override def capabilities(): util.Set[TableCapability] =
      util.Set.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE)

    private def physName(logical: String): String =
      pruner0.logicalToPhysical.getOrElse(logical, logical)

    override def canDeleteWhere(filters: Array[Filter]): Boolean =
      log.currentVersion.exists { v =>
        // declared schema pins the (file, pos) scan in physical names;
        // without it a heterogeneous mapped table (API-minted columns)
        // could silently drop columns in the rewrite — refuse those.
        // Declared widenings ride the pin (scanSchema up-casts narrow
        // vintages); only float targets stay out of reach.
        log.wideningsPinnable(v) && log.declaredSchema(v).isDefined
      } && filters.forall(f => GraftCatalog.filterToColumn(f, physName).isDefined)

    override def deleteWhere(filters: Array[Filter]): Unit = {
      val cond = filters.toSeq
        .map(f => GraftCatalog.filterToColumn(f, physName).getOrElse(
          throw new UnsupportedOperationException(
            s"GraftCatalog: cannot translate DELETE filter $f on a mapped " +
              "table — use SnapshotLog.deleteWhere with a Column predicate")))
        .reduceOption(_ && _)
        .getOrElse(org.apache.spark.sql.functions.lit(true))
      val ((vDel, _), _) = log.withOccRetry()(
        log.deleteWhereCow(SparkSession.active, cond))
      // `bloomBy` maintenance over the survivor files the rewrite staged
      // (the INSERT-path hook; absence only reads conservatively)
      log.writeBloomSidecarFor(SparkSession.active, vDel)
    }
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder {
        override def build(): Write = new V1Write {
          override def toInsertableRelation: InsertableRelation =
            new InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                  overwrite: Boolean): Unit = {
                require(!overwrite,
                  "GraftCatalog: INSERT OVERWRITE is not supported on a " +
                    "column-mapped table — use the SnapshotLog API")
                val logical = schema()
                val drift = SchemaDrift.of(logical, data.schema)
                require(drift.isEmpty,
                  s"GraftCatalog: INSERT batch drifts from the mapped table schema — $drift")
                val parts = math.max(1, math.min(32,
                  data.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt))
                // generated/identity semantics hold on the mapped insert
                // path too (the batch is LOGICAL-named here, pre-
                // translation, so the stored expressions apply directly);
                // identity minting does not compose with the mapped
                // staging yet — refuse loudly rather than commit NULL ids
                GraftCatalog.identitySpec(log).foreach { case (c, _, _) =>
                  throw new IllegalArgumentException(
                    s"GraftCatalog: mapped table ${name()} declares GENERATED " +
                      s"ALWAYS AS IDENTITY column $c — identity minting does " +
                      "not compose with column mapping")
                }
                val derived = GraftCatalog.generatedTransform(log, data)
                val ordered = derived.select(logical.fieldNames.map(
                  org.apache.spark.sql.functions.col(_)).toIndexedSeq: _*)
                log.withOccRetry()(log.appendMappedStats(ordered, parts))
                ()
              }
            }
        }
      }
  }

  /** The in-flight half of an atomic CTAS/RTAS: the SELECT's output is
    * STAGED (immutable parquet under the table's pool, invisible — no
    * manifest references it) and `commitStagedChanges` publishes schema
    * + properties + files as ONE put-if-absent commit
    * ([[SnapshotLog.commitCreate]] / [[SnapshotLog.commitReplace]]).
    * `abortStagedChanges` removes the staged files — and for a CREATE,
    * the whole table directory (nothing was ever committed, so nothing
    * was ever visible: `tableExists` stays false throughout).
    */
  private final class StagedGraftTable(
      log: SnapshotLog,
      tname: String,
      tableSchema: StructType,
      props: Map[String, String],
      replace: Boolean)
    extends StagedTable with SupportsWrite {

    @volatile private var staged: Seq[String] = Nil

    override def name(): String = tname
    override def schema(): StructType = tableSchema
    // TRUNCATE: a REPLACE TABLE AS SELECT plans its write as
    // truncate-then-append; the staged publish IS the whole-table swap,
    // so the flag is implicit — the builder just accepts it
    override def capabilities(): util.Set[TableCapability] =
      util.Set.of(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {
        override def truncate(): WriteBuilder = this
        override def build(): Write = new V1Write {
          override def toInsertableRelation: InsertableRelation =
            new InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                  overwrite: Boolean): Unit = {
                val parts = math.max(1, math.min(32,
                  data.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt))
                // an empty SELECT stages zero files and publishes a
                // declared-empty table — still atomic
                staged = log.stageData(data, parts, allowEmpty = true)
              }
            }
        }
      }

    override def commitStagedChanges(): Unit = {
      if (replace) log.commitReplace(tableSchema, staged, props)
      else log.commitCreate(tableSchema, staged, props)
      ()
    }

    override def abortStagedChanges(): Unit = {
      def rmTree(f: File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
        f.delete(); ()
      }
      staged.map(rel => new File(log.dataRootPath, rel).getParentFile)
        .distinct.foreach(rmTree)
      if (!replace && log.currentVersion.isEmpty) rmTree(new File(log.root))
    }
  }
}
