package graft.sources

import java.io.File

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.graftshim.StreamingShims
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

/** NATIVE STRUCTURED-STREAMING SOURCE over a [[SnapshotLog]] table (the
  * Delta table-as-stream source, as a first-class `format("graft-log")`):
  *
  * {{{
  *   spark.readStream
  *     .format("graft-log")            // or classOf[GraftLogSourceProvider].getName
  *     .option("root", "/pool/t")      // the SnapshotLog root
  *     .load()
  * }}}
  *
  * OFFSETS ARE LOG VERSIONS: the stream's offset after a micro-batch is
  * the highest committed version whose appended files that batch carried,
  * so Spark's own checkpoint (offset log + commit log) makes consumption
  * EXACTLY-ONCE across kill/restart — a resumed query re-reads nothing it
  * committed and skips nothing, because the restart replays from the
  * checkpointed version boundary, not from a file listing. This replaces
  * the hard-link staging of
  * [[graft.streaming.StreamingCdc.logStreamReplay]] with the log's own
  * manifest as the progress ledger: discovering a micro-batch is ONE
  * metadata diff (versions `(start, end]` → their appended files via
  * [[SnapshotLog.appendedFiles]]), never a directory scan — the property
  * that keeps a 100 TB table streamable from a laptop-sized driver.
  *
  * Append-only contract (every lakehouse streaming source's): a commit
  * that REMOVES files (compact/optimize/merge rewrites) or adds
  * tombstones refuses loudly mid-stream via [[SnapshotLog.appendedFiles]]
  * — consume those through `readChanges`/`changeFeed`. Metadata-only
  * commits (ALTER/ANALYZE/tags) stream as empty progress, not errors.
  *
  * CHANGE-FEED MODE (`option("readChangeFeed", "true")` — the Delta CDF
  * streaming read): micro-batches carry ROW-LEVEL CHANGES instead of
  * appended rows — the table schema plus `_change_type`
  * (insert/delete) and `_commit_version`, computed purely from manifest
  * deltas by [[SnapshotLog.readChanges]]. Where the append-mode stream
  * must refuse a delete or rewrite commit, the change feed serves it:
  * merge-on-read DELETEs stream as `delete` pre-images, UPDATEs as
  * delete+insert pairs under one version, and reorg commits
  * (compact/optimize) net to zero rows — so a downstream consumer can
  * maintain a replica through DML, not just through appends.
  *
  * Options: `root` (required) — the log root; `startingVersion` — first
  * version to serve (default: the oldest surviving version, whose whole
  * listing counts as the initial snapshot batch); `startingTimestamp` —
  * the TIMESTAMP AS OF mirror of `startingVersion`: resolved against the
  * recorded commit wall-clocks exactly as the batch read's time travel
  * ([[SnapshotLog.versionAt]] over [[SnapshotLog.commitTimeMillis]]),
  * accepting epoch millis or an ISO `yyyy-MM-dd['T'HH:mm:ss]` instant;
  * `readChangeFeed` — stream row-level changes instead of appended rows.
  *
  * ADMISSION CONTROL (`maxFilesPerTrigger` / `maxBytesPerTrigger` /
  * `maxVersionsPerTrigger` — the Delta rate-limit family, the
  * difference between a backfill that checkpoints incrementally and one
  * that scans 100 TB in a single micro-batch): when set,
  * [[GraftLogSource.getOffset]] returns the highest version whose
  * CUMULATIVE appended data files (or bytes — manifest-listed sizes, no
  * data read; or commit count) fit the budget instead of the log head,
  * so Spark's checkpoint advances version by version through a backlog.
  * A version is atomic — one commit never splits across triggers, so a
  * single commit larger than the budget still serves whole (and alone).
  * Bounds compose with kill/restart: the admission cursor re-seeds from
  * the checkpoint's own offsets, never re-serving an admitted version.
  * Change-feed mode takes only `maxVersionsPerTrigger` (CDF batches are
  * version-diff-shaped, not file-shaped — the file/byte pair refuses
  * loudly there).
  *
  * The SAME format is a SINK (`writeStream.format("graft-log")`) — see
  * [[GraftLogSourceProvider.createSink]]: one watermarked transactional
  * commit per micro-batch, append or complete mode, redeliveries skipped
  * idempotently, making a log→log pipeline exactly-once end to end.
  */
class GraftLogSourceProvider
  extends StreamSourceProvider with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft-log"

  /** `writeStream.format("graft-log")` — the EXACTLY-ONCE sink half:
    * each micro-batch commits through [[SnapshotLog.appendTxn]] (append
    * mode — one transactional append per batch) or
    * [[SnapshotLog.overwriteTxn]] (complete mode — the batch REPLACES
    * the table, a streaming aggregation maintaining a materialized
    * view), every commit carrying the `txn.<appId> = batchId` watermark
    * so a post-crash redelivery of an already-committed batch is
    * skipped idempotently. Source offsets + sink watermark together make
    * a log→log pipeline exactly-once END TO END with zero staging
    * directories. `appId` defaults to the checkpoint's query id via the
    * batch's own session; set `.option("appId", …)` to share one
    * watermark across rewritten query graphs (the Delta
    * `txnAppId` discipline). `partitions` sizes each batch's staged
    * files (default 1 — micro-batches are small by construction).
    */
  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(partitionColumns.isEmpty,
      "graft-log sink: partitionBy is not supported — snapshot-log layout " +
        "is managed by OPTIMIZE/clustering, not a partition directory scheme")
    val complete = outputMode == OutputMode.Complete()
    require(complete || outputMode == OutputMode.Append(),
      s"graft-log sink: unsupported output mode $outputMode — use append " +
        "(transactional appends) or complete (materialized overwrite)")
    new GraftLogSink(
      new SnapshotLog(parameters.getOrElse("root",
        throw new IllegalArgumentException(
          "graft-log sink: set .option(\"root\", <snapshot-log root>)"))),
      parameters.get("appId"),
      parameters.get("partitions").map(_.toInt).getOrElse(1),
      complete,
      mergeKey = parameters.get("mergeKey"),
      deleteIndicator = parameters.get("deleteIndicator"),
      replaceWhere = parameters.get("replaceWhere"),
      mergeSchema = parameters.get("mergeSchema").exists(_.toBoolean),
      // `autoCompactEveryBatches` is a committed-BATCH cadence (compact
      // every N batches), not Delta's small-file-count threshold — named
      // for what it counts; `autoCompactMinFiles` stays as a deprecated
      // alias for checkpoints written against the old spelling
      autoCompactEvery =
        if (!parameters.get("autoCompact").exists(_.toBoolean)) 0
        else parameters.get("autoCompactEveryBatches")
          .orElse(parameters.get("autoCompactMinFiles"))
          .map(_.toInt).getOrElse(16),
      autoCompactTargetBytes = parameters.get("autoCompactTargetBytes")
        .map(_.toLong).getOrElse(128L * 1024 * 1024))
  }

  private def logFor(parameters: Map[String, String]): SnapshotLog =
    new SnapshotLog(parameters.getOrElse("root",
      throw new IllegalArgumentException(
        "graft-log source: set .option(\"root\", <snapshot-log root>)")))

  private def isCdf(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.toBoolean)

  /** Option sanity, checked at `load()` time (sourceSchema) so a bad
    * combination refuses BEFORE a checkpoint directory ever exists —
    * createSource re-validates for the resume path.
    */
  private def validateOptions(parameters: Map[String, String]): Unit = {
    val cdf = isCdf(parameters)
    parameters.get("maxFilesPerTrigger").map(_.toInt).foreach(m => require(m >= 1,
      s"graft-log source: maxFilesPerTrigger must be >= 1, got $m"))
    parameters.get("maxBytesPerTrigger").map(_.toLong).foreach(m => require(m >= 1L,
      s"graft-log source: maxBytesPerTrigger must be >= 1, got $m"))
    parameters.get("maxVersionsPerTrigger").map(_.toInt).foreach(m => require(m >= 1,
      s"graft-log source: maxVersionsPerTrigger must be >= 1, got $m"))
    require(!cdf || (!parameters.contains("maxFilesPerTrigger") &&
        !parameters.contains("maxBytesPerTrigger")),
      "graft-log source: maxFilesPerTrigger/maxBytesPerTrigger do not " +
        "compose with readChangeFeed — CDF batches are version-diff-" +
        "shaped; bound the feed with maxVersionsPerTrigger instead")
    require(!(parameters.contains("startingVersion") &&
        parameters.contains("startingTimestamp")),
      "graft-log source: set startingVersion OR startingTimestamp, not both")
    require(!(cdf && parameters.get("skipChangeCommits").exists(_.toBoolean)),
      "graft-log source: skipChangeCommits does not compose with " +
        "readChangeFeed — the change feed SERVES change commits")
  }

  /** The streaming view of a COLUMN-MAPPED snapshot: the pinned
    * PHYSICAL scan schema, the LOGICAL schema the stream serves, and
    * the logical→physical pairs — derived from the same metadata the
    * batch catalog scan plans from ([[GraftCatalog.mappedSchemas]]).
    * WIDENED mapped tables serve: the pinned physical schema carries the
    * DECLARED widened types and the parquet reader up-casts narrow
    * pre-widening files on the scan (the Spark 4 type-widening read —
    * the same pin the batch catalog scan plans), so each micro-batch is
    * hash-equal to the batch read of the same files. Tombstoned mapped
    * tables still refuse (no rename-stable mask).
    */
  private def mappedView(
      spark: org.apache.spark.sql.SparkSession,
      log: SnapshotLog,
      cur: Long): Option[(StructType, StructType, Seq[(String, String)])] =
    log.columnMapping(cur).map { case (_, pairs) =>
      require(log.wideningsPinnable(cur),
        s"graft-log source: ${log.root} declares a float-target type " +
          "widening, which the pinned scan cannot up-cast — optimize() " +
          "the table to materialize the widening first")
      require(log.tombstoneFiles(cur).isEmpty,
        s"graft-log source: ${log.root} carries key tombstones, which do " +
          "not compose with column mapping — compact() them away first")
      val paths = log.dataFiles(cur).map(p =>
        new java.io.File(log.dataRootPath, p).toString)
      val (phys, logical, _) = GraftCatalog.mappedSchemas(spark, log, cur, pairs, paths)
      (phys, logical, pairs)
    }

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty,
      "graft-log source: the schema comes from the log's committed " +
        "snapshot — do not pass .schema(...)")
    validateOptions(parameters)
    val log = logFor(parameters)
    val cur = log.currentVersion.getOrElse(throw new IllegalStateException(
      s"graft-log source: no committed snapshot at ${log.root}"))
    // COLUMN-MAPPED tables stream through the same translating facade
    // the batch scan uses: the batch reads PHYSICAL names under a pinned
    // physical schema and re-projects to the mapping's LOGICAL names per
    // micro-batch. CDF mode still refuses (readChanges owns that
    // refusal: physical names would leak into the feed).
    // CDF mode composes too: [[SnapshotLog.readChanges]] serves mapped
    // ranges under LOGICAL names (uniform-mapping rule), matching the
    // logical schema pinned here; mid-stream mapping moves refuse in
    // getBatch exactly as in append mode.
    val mapped = mappedView(sqlContext.sparkSession, log, cur)
    val table = mapped match {
      case Some((_, logical, _)) => logical
      case None => log.read(sqlContext.sparkSession, cur).schema
    }
    val out =
      if (!isCdf(parameters)) table
      else StructType(table.fields ++ Seq(
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("_commit_version",
          org.apache.spark.sql.types.LongType, nullable = false)))
    ("graft-log", out)
  }

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source = {
    validateOptions(parameters)
    val log = logFor(parameters)
    val fromVersion = parameters.get("startingVersion").map(_.toLong)
    val fromTimestamp = parameters.get("startingTimestamp").map { raw =>
      // epoch millis, or an ISO instant/date in the session's local zone —
      // the forms batch TIMESTAMP AS OF accepts
      val millis = raw.trim.toLongOption.getOrElse {
        val t = if (raw.trim.length == 10) raw.trim + " 00:00:00" else raw.trim
        java.sql.Timestamp.valueOf(t.replace('T', ' ')).getTime
      }
      log.versionAt(millis)
    }
    val cdf = isCdf(parameters)
    val cur = log.currentVersion.getOrElse(throw new IllegalStateException(
      s"graft-log source: no committed snapshot at ${log.root}"))
    new GraftLogSource(sqlContext, log,
      sourceSchema(sqlContext, schema, providerName, parameters)._2,
      fromVersion.orElse(fromTimestamp),
      changeFeed = cdf,
      maxFilesPerTrigger = parameters.get("maxFilesPerTrigger").map(_.toInt),
      maxBytesPerTrigger = parameters.get("maxBytesPerTrigger").map(_.toLong),
      maxVersionsPerTrigger = parameters.get("maxVersionsPerTrigger").map(_.toInt),
      mapping = mappedView(sqlContext.sparkSession, log, cur)
        .map { case (phys, _, pairs) => (phys, pairs) },
      skipChangeCommits = parameters.get("skipChangeCommits").exists(_.toBoolean))
  }
}

/** The running sink: one transactional log commit per micro-batch,
  * watermarked for idempotent redelivery. See
  * [[GraftLogSourceProvider.createSink]] for the contract.
  */
class GraftLogSink(
    log: SnapshotLog,
    appIdOpt: Option[String],
    partitions: Int,
    complete: Boolean,
    // UPSERT MODE (`.option("mergeKey", "<col>")` — the streaming CDC
    // apply shape): each micro-batch MERGES into the destination on the
    // key instead of appending — matched keys take the batch row
    // (update), unmatched insert — through [[SnapshotLog.mergeInto]]'s
    // stats-pruned copy-on-write scope, so a narrow batch over a
    // range-clustered table rewrites O(touched files). Exactly-once via
    // the same `txn.<appId>=batchId` watermark the append sink records:
    // redelivered batches skip; batches must be UNIQUE on the key
    // (pre-aggregate a CDC feed to last-per-key first — ambiguous
    // multi-matches refuse loudly). Append output mode only.
    mergeKey: Option[String] = None,
    // CDC DELETES (`.option("deleteIndicator", "<col>")`, with mergeKey
    // — the full CDC-apply shape): the indicator is an EXTRA boolean
    // batch column, never written to the destination. Rows where it is
    // true DELETE their key (a delete for an absent key is a no-op);
    // the rest update/insert as before — so a Debezium-style feed
    // (upserts + deletes, pre-aggregated to last-per-key) replays into
    // an exact replica. Same txn watermark, same one-evaluation merge.
    deleteIndicator: Option[String] = None,
    // STREAMING REPLACE WHERE (`.option("replaceWhere", "<pred>")` — the
    // Delta idempotent-partition-backfill shape, as a first-class option
    // instead of a foreachBatch idiom): every trigger's rows REPLACE the
    // predicate's scope in ONE commit ([[SnapshotLog.replaceWhere]] —
    // byte-sized writes, stats-pruned grazed-file discovery, rows
    // outside the scope fail the trigger), with the `txn.<appId>`
    // watermark riding the same commit so a redelivered trigger is a
    // structural skip. The natural shapes: an AvailableNow backfill of
    // one slice, or a per-trigger recomputation that owns its scope.
    // An EMPTY trigger commits NOTHING (a transient no-data batch must
    // not wipe the scope — replace-with-empty is an explicit DELETE's
    // job). Append output mode only; composes with neither mergeKey nor
    // identity (the replacement cannot mint).
    replaceWhere: Option[String] = None,
    // SCHEMA EVOLUTION ON WRITE (`.option("mergeSchema", "true")` — the
    // Delta autoMerge shape): a batch carrying columns the DECLARED
    // destination schema lacks EVOLVES it first (one metadata-only
    // addColumns commit; existing rows serve typed NULL), and a batch
    // MISSING declared columns appends anyway (the pinned-schema read
    // serves NULL for them). Retypes still refuse. Off by default —
    // silent evolution is opt-in, exactly as in Delta.
    mergeSchema: Boolean = false,
    // AUTO-COMPACTION (`.option("autoCompact", "true")` — the Delta
    // autoCompact shape): every `autoCompactEvery` committed batches the
    // sink bin-packs the destination's small-file tail
    // ([[SnapshotLog.compactSmall]], `autoCompactTargetBytes` target) as
    // its own follow-up commit — a micro-batch-per-file ingest stream
    // stays at O(data/target) files instead of O(batches), the
    // difference between a queryable table and a million-file listing
    // after a week of triggers. The compaction commit is a REWRITE:
    // downstream log-streams of this table must consume the change feed
    // (append-mode streams refuse rewrites by contract). Outstanding
    // merge-on-read masks don't stall it: only UNMASKED small files
    // repack; masked ones carry untouched with their masks live.
    autoCompactEvery: Int = 0,
    autoCompactTargetBytes: Long = 128L * 1024 * 1024) extends Sink {

  private var batchesSinceCompact = 0

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // the query id is stable across restarts (it lives in the checkpoint
    // metadata) — exactly the watermark scope a redelivery check needs
    val appId = appIdOpt
      .orElse(Option(data.sparkSession.sparkContext
        .getLocalProperty("sql.streaming.queryId")))
      .getOrElse("default")
    require(!appId.contains('=') && !appId.exists(c => c == '\n' || c == '\r'),
      s"graft-log sink: appId must be '='-free and newline-free, got $appId")
    // SCHEMA ENFORCEMENT (the appendStrict gate, applied per batch): a
    // query graph rewritten to emit drifted columns must refuse loudly,
    // not rot the table — schema-only work, no data pass. COLUMN-MAPPED
    // destinations validate against the mapping's LOGICAL names, and the
    // staged batch is translated logical→physical below, so post-rename
    // streamed appends land in the same physical columns batch INSERTs
    // do — never a freshly-minted id, never a logical-name file.
    val physProject: Option[Seq[(String, String)]] =
      log.currentVersion.flatMap { cur =>
        val mapped = log.columnMapping(cur).map(_._2)
        val base: Seq[org.apache.spark.sql.types.StructField] = mapped match {
          case Some(pairs) =>
            // declared widenings ride the pinned scan (mappedSchemas
            // reports the WIDENED logical types, so enforcement expects
            // the wide batch shape); only float targets stay refused
            require(log.wideningsPinnable(cur),
              s"graft-log sink: ${log.root} declares a float-target type " +
                "widening, which the pinned scan cannot up-cast; " +
                "optimize() the table to materialize the widening first")
            val paths = log.dataFiles(cur).map(p =>
              new File(log.dataRootPath, p).toString)
            val (_, logical, _) = GraftCatalog.mappedSchemas(
              data.sparkSession, log, cur, pairs, paths)
            logical
          case None => log.read(data.sparkSession, cur).schema
        }
        // the CDC delete indicator is a control column, not payload —
        // never part of the destination schema, so the drift check and
        // the mapped translation both look straight through it
        val drift = SchemaDrift.of(base,
          data.schema.filterNot(f => deleteIndicator.contains(f.name)))
        if (mergeSchema && mapped.isEmpty && drift.retyped.isEmpty && drift.extra.nonEmpty) {
          // evolve-on-write: the new columns land as one metadata-only
          // commit BEFORE the batch (schema first, data second — a crash
          // between leaves only the benign widened schema)
          require(log.declaredSchema(cur).isDefined,
            s"graft-log sink: mergeSchema needs ${log.root}'s declared " +
              "schema (create the table first) — evolving a derived " +
              "schema would be guesswork")
          val fields = data.schema.fields.filter(f => drift.extra.contains(f.name))
          log.withOccRetry()(
            log.addColumns(data.sparkSession, fields.toSeq.map(f => (f.name, f.dataType))))
          ()
        } else
          require((drift.missing.isEmpty || (mergeSchema && mapped.isEmpty)) &&
              drift.extra.isEmpty && drift.retyped.isEmpty,
            s"graft-log sink: batch $batchId drifts from the table schema at v$cur — $drift" +
              (if (mergeSchema) "" else "; set .option(\"mergeSchema\", " +
                "\"true\") to evolve the destination from the batch"))
        mapped.map(_.filter { case (l, _) => base.exists(_.name == l) })
      }
    // GENERATED/IDENTITY column semantics hold on the streaming path
    // too: generated columns fold in compute-when-NULL / enforce-else
    // exactly as the batch insert does, and an identity destination
    // mints its id block per trigger through the watermark-carrying
    // append below (append mode only — complete would reset minted ids,
    // and the merge path cannot mint). Skipping either here would make
    // the sink the one write path that silently breaks the invariant.
    val identSpec = GraftCatalog.identitySpec(log)
    identSpec.foreach { case (c, _, _) =>
      require(!complete && mergeKey.isEmpty,
        s"graft-log sink: destination ${log.root} declares GENERATED " +
          s"ALWAYS AS IDENTITY column $c — identity composes with append " +
          "mode only (complete overwrites minted ids; mergeKey cannot mint)")
    }
    val batch = GraftCatalog.generatedTransform(log, StreamingShims.asBatch(data))
    // CHECK ENFORCEMENT (the Delta invariant discipline — EVERY write
    // path enforces, streaming included): the destination's stored
    // `prop.check.*` constraints fold into the staged batch as a
    // raise_error guard on the first column — one evaluation, zero extra
    // scans; a violating batch FAILS ITS TRIGGER with nothing committed,
    // exactly as the same rows through SQL INSERT would fail the write
    // job. ANSI semantics: only FALSE violates, NULL passes. The
    // constraint list is metadata-sized (parsed from the snapshot's meta
    // lines, no data touched).
    val checks = log.currentVersion.toSeq.flatMap(cur =>
      log.metaValues(cur).collect {
        case (k, sql) if k.startsWith("prop.check.") =>
          k.stripPrefix("prop.check.") -> sql
      }.toSeq.sortBy(_._1))
    val guarded =
      if (checks.isEmpty) batch
      else {
        import org.apache.spark.sql.functions.{coalesce, col, expr, lit, raise_error, when}
        val allOk = checks.map { case (_, sql) => coalesce(expr(sql), lit(true)) }
          .reduce(_ && _)
        val first = batch.columns.head
        batch.withColumn(first,
          when(allOk, col(first)).otherwise(raise_error(lit(
            s"graft-log sink: batch $batchId violates CHECK constraint(s) " +
              s"[${checks.map(_._1).mkString(", ")}] on ${log.root} — " +
              "nothing committed"))))
      }
    // mapped destinations: stage under PHYSICAL ids (the appendMapped
    // translation, under the txn watermark) — the colmap metadata rides
    // the carried meta lines unchanged; the delete indicator (a control
    // column outside the mapping) passes through untranslated
    import org.apache.spark.sql.functions.{coalesce => cl, col, lit, not}
    val staged = physProject.fold(guarded) { pairs =>
      guarded.select(pairs.map { case (l, p) => col(l).as(p) } ++
        deleteIndicator.filter(guarded.columns.contains).map(col): _*)
    }
    require(mergeKey.isEmpty || !complete,
      "graft-log sink: mergeKey does not compose with complete mode — " +
        "a complete batch already replaces the table")
    require(deleteIndicator.isEmpty || mergeKey.isDefined,
      "graft-log sink: deleteIndicator needs mergeKey (deletes address a key)")
    deleteIndicator.foreach(i => require(data.columns.contains(i),
      s"graft-log sink: deleteIndicator '$i' is not a batch column " +
        s"(${data.columns.mkString(", ")})"))
    replaceWhere.foreach { _ =>
      require(mergeKey.isEmpty && !complete && identSpec.isEmpty,
        "graft-log sink: replaceWhere composes with append mode only, and " +
          "with neither mergeKey nor an identity destination (the scoped " +
          "replacement cannot merge or mint)")
    }
    val committed = replaceWhere match {
      case Some(predSql) =>
        // predicate speaks the table's LOGICAL names; on a mapped
        // destination it translates to physical ids exactly as the
        // staged batch does
        val sql = physProject.map(_.toMap).filter(_.nonEmpty) match {
          case Some(m) => GraftSqlDml.translatePhys(
            data.sparkSession.sessionState.sqlParser.parseExpression(predSql),
            m).sql
          case None => predSql
        }
        val target = data.sparkSession.conf
          .getOption("spark.graft.optimize.maxFileSize")
          .map(_.toLong).getOrElse(128L * 1024 * 1024)
        // an empty trigger is a NO-OP, never a scope wipe (the check
        // rides the guarded plan, so a violating first row still fails
        // the trigger here); micro-batches are small by construction
        if (staged.limit(1).count() == 0L) false
        else log.withOccRetry() {
          val before = log.currentVersion.getOrElse(-1L)
          val (vRw, _) = log.replaceWhere(data.sparkSession, staged,
            org.apache.spark.sql.functions.expr(sql),
            targetBytes = target, txn = Some((appId, batchId)))
          if (vRw != before) log.writeBloomSidecarFor(data.sparkSession, vRw)
          vRw != before
        }._1
      case None => mergeKey match {
      case Some(key0) =>
        // on a mapped destination the merge runs in PHYSICAL names (the
        // [[GraftSqlDml]] discipline): the key and every SET column
        // translate through the mapping; the declared schema pins the
        // rewrite-scope scan so pre-evolution files serve typed NULL
        val l2p = physProject.map(_.toMap).getOrElse(Map.empty[String, String])
        physProject.foreach { _ =>
          require(log.currentVersion.flatMap(log.declaredSchema).isDefined,
            s"graft-log sink: mergeKey on the column-mapped ${log.root} " +
              "needs a declared schema (create the table first) — without " +
              "it the rewrite scan cannot pin physical ids")
        }
        val key = l2p.getOrElse(key0, key0)
        require(staged.columns.contains(key),
          s"graft-log sink: mergeKey '$key0' is not a batch column " +
            s"(${data.columns.mkString(", ")})")
        val payload = staged.columns.toSeq.filterNot(deleteIndicator.contains)
        val setAll = payload.map(c => c -> col(s"src_$c"))
        // indicator semantics: TRUE deletes the key; NULL/false upserts
        val delWhen = deleteIndicator.map(i =>
          cl(col(s"src_$i").cast("boolean"), lit(false)))
        val insWhen = deleteIndicator.map(i =>
          not(cl(col(i).cast("boolean"), lit(false))))
        // the watermark re-checks INSIDE the retry (the appendTxn
        // discipline): a racing instance of the SAME query that commits
        // this very batch makes the loser's retry a skip, never a
        // double merge
        def wmNow: Long = log.currentVersion
          .flatMap(v => log.metaValues(v).get(s"txn.$appId")).map(_.toLong)
          .getOrElse(-1L)
        log.withOccRetry() {
          if (batchId <= wmNow) false
          else {
            log.mergeIntoKeys(staged, Seq(key),
              updateWhen = Some(delWhen.map(d => !d).getOrElse(lit(true))),
              updateSet = setAll,
              deleteWhen = delWhen,
              insertNotMatched = true, insertWhen = insWhen,
              txn = Some((appId, batchId)),
              sourceExtras = deleteIndicator.toSet)
            true
          }
        }._1
      case None =>
        require(deleteIndicator.isEmpty,
          "graft-log sink: deleteIndicator needs mergeKey")
        identSpec match {
          case Some((c, st, sp)) =>
            // identity append: the id-block advance and the txn
            // watermark land in ONE commit, and the watermark check is
            // INSIDE appendIdentityStats, anchored to the very version
            // the commit targets (the appendTxn discipline) — a racing
            // instance of the same query can neither double-mint nor
            // double-commit
            require(physProject.isEmpty,
              s"graft-log sink: identity destination ${log.root} is " +
                "column-mapped — unsupported (the mapping upgrade refuses " +
                "on identity tables; this state implies an API-side enable)")
            log.withOccRetry() {
              val before = log.currentVersion.getOrElse(-1L)
              log.appendIdentityStats(staged, c, st, sp, partitions,
                txn = Some((appId, batchId))) != before
            }._1
          case None =>
            if (complete) log.overwriteTxn(staged, partitions, appId, batchId)._2
            else log.appendTxn(staged, partitions, appId, batchId)._2
        }
      }
    }
    if (committed && !complete && autoCompactEvery > 0) {
      batchesSinceCompact += 1
      if (batchesSinceCompact >= autoCompactEvery) {
        // merge-on-read masks no longer stall the pass: compactSmall
        // repacks only UNMASKED small files (masked ones carry with
        // their mask lines live), so auto-compaction keeps firing
        // through a stream that interleaves DML on its destination
        val ((vc, (repacked, _)), _) = log.withOccRetry()(
          log.compactSmall(data.sparkSession, autoCompactTargetBytes))
        // bloomBy destinations: rebuild filters over the repacked files
        // (same discipline as OPTIMIZE — maintenance must not silently
        // degrade the point-lookup skip it coexists with). A no-op pass
        // (nothing repacked) rebuilds nothing.
        if (repacked > 0) log.writeBloomSidecarFor(data.sparkSession, vc)
        batchesSinceCompact = 0
      }
    }
    ()
  }

  override def toString: String =
    s"GraftLogSink[${new File(log.root).getName}, " +
      s"${if (complete) "complete" else "append"}]"
}

/** The running source: version-valued offsets over one [[SnapshotLog]].
  * See [[GraftLogSourceProvider]] for the contract.
  */
class GraftLogSource(
    sqlContext: SQLContext,
    log: SnapshotLog,
    override val schema: StructType,
    startingVersion: Option[Long],
    changeFeed: Boolean = false,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    maxVersionsPerTrigger: Option[Int] = None,
    // COLUMN-MAPPED tables: the pinned PHYSICAL scan schema plus the
    // logical→physical pairs pinned at start — each micro-batch scans
    // physical names and re-projects to `schema`'s logical names (the
    // batch facade, per batch)
    mapping: Option[(StructType, Seq[(String, String)])] = None,
    // `.option("skipChangeCommits", "true")` (the Delta option): a
    // commit that REMOVES files or adds tombstones (compact / OPTIMIZE /
    // DML) is silently SKIPPED instead of failing the stream — appends
    // keep serving. The documented trade: the stream does NOT reflect
    // the skipped deletes/updates; consume the change feed when it must.
    skipChangeCommits: Boolean = false) extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  // versions strictly BELOW the floor never stream; the floor itself is
  // the initial-snapshot batch (oldest survivor = whole listing, per
  // [[SnapshotLog.appendedFiles]])
  private val floor: Long = {
    val oldest = log.versions.headOption.getOrElse(
      throw new IllegalStateException(
        s"graft-log source: no committed snapshot at ${log.root}"))
    startingVersion match {
      case Some(v) =>
        require(log.versions.contains(v),
          s"graft-log source: startingVersion $v is not a committed " +
            s"version of ${log.root} (have ${log.versions.mkString(", ")})")
        v
      case None => oldest
    }
  }

  private def asVersion(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    // a checkpoint restart hands offsets back as their serialized JSON
    case other => other.json.trim.toLong
  }

  // The highest version this source has ADMITTED (returned from
  // getOffset or replayed through getBatch). Seeds the bounded-admission
  // cursor; across a restart Spark re-calls getBatch with the
  // checkpointed offsets BEFORE the first getOffset (the V1 restart
  // contract KafkaSource relies on), so the cursor never resets below
  // what the checkpoint committed and a resumed backfill re-serves
  // nothing.
  @volatile private var admittedHi: Option[Long] = None

  private def bounded: Boolean =
    maxFilesPerTrigger.isDefined || maxBytesPerTrigger.isDefined ||
      maxVersionsPerTrigger.isDefined

  // the type-widening declarations in force when this run pinned its
  // schemas — the baseline the mid-stream widening guard compares against
  private val pinnedWidenings: Map[String, String] =
    if (mapping.isEmpty) Map.empty
    else log.currentVersion.map(log.columnTypes).getOrElse(Map.empty)

  /** The appended DATA files of `v` with their manifest-listed sizes —
    * metadata-only (a listing diff plus `File.length`, never a data
    * read). Same refusal semantics as the batch path: delete/rewrite
    * commits throw toward the change feed.
    */
  private def appendedParquet(v: Long): Seq[String] =
    if (skipChangeCommits && !log.isAppendOnlyCommit(v))
      // the OLDEST retained version's "delta" is the whole listing (the
      // initial snapshot, not a change commit) — when it carries mask
      // lines it must still SERVE (getBatch reads it as the masked
      // snapshot), so size admission by its live data files; later
      // non-append commits skip for real
      (if (v == log.versions.head)
        log.dataFiles(v).map(p => new File(log.dataRootPath, p).toString)
      else Nil)
    else log.appendedFiles(v).filter(_.endsWith(".parquet"))

  /** The highest version in `(fromExclusive, latest]` whose cumulative
    * appended files/bytes (or commit count) fit the trigger budgets. A
    * version is atomic: the first version always admits (even alone over
    * a budget — a commit never splits); later versions stop at whichever
    * budget trips. Metadata-only commits ride free past the file/byte
    * budgets but count toward `maxVersionsPerTrigger`. In change-feed
    * mode only the version budget applies (no file sizing — delete/
    * rewrite commits have no "appended files" to count).
    */
  private def admitUpTo(fromExclusive: Long, latest: Long): Long = {
    val sizeBounded = maxFilesPerTrigger.isDefined || maxBytesPerTrigger.isDefined
    val pending = log.versions
      .filter(v => v > fromExclusive && v <= latest && v >= floor)
    var end = fromExclusive
    var files = 0L
    var bytes = 0L
    var admitted = 0
    var admittedData = false
    pending.foreach { v =>
      // version budget first — never walks metadata past the stop point
      if (admitted > 0 && maxVersionsPerTrigger.exists(admitted >= _)) return end
      val (n, b) =
        if (!sizeBounded) (0L, 0L)
        else {
          val fs = appendedParquet(v)
          (fs.size.toLong,
            if (maxBytesPerTrigger.isDefined) fs.map(new File(_).length()).sum
            else 0L)
        }
      if (admitted > 0 && admittedData && n > 0 &&
          (maxFilesPerTrigger.exists(m => files + n > m) ||
            maxBytesPerTrigger.exists(m => bytes + b > m))) return end
      end = v; files += n; bytes += b; admitted += 1
      if (n > 0) admittedData = true
    }
    end
  }

  /** The next micro-batch's end offset — unbounded: the log head (one
    * metadata listing, never a data scan); bounded: the furthest version
    * the admission budget reaches past the checkpoint cursor, so a
    * backlog drains over as many checkpointed triggers as it needs.
    */
  override def getOffset: Option[Offset] =
    nextEndVersion().map(LongOffset(_))

  private def nextEndVersion(): Option[Long] =
    log.currentVersion.map { cur0 =>
      // under Trigger.AvailableNow the run's end is FROZEN at prepare
      // time: commits landing during the drain wait for the next run
      val cur = availableNowCap.fold(cur0)(math.min(_, cur0))
      if (!bounded) cur
      else {
        val from = admittedHi.getOrElse(floor - 1L)
        val end = if (from >= cur) from else admitUpTo(from, cur)
        admittedHi = Some(end)
        end
      }
    }

  // ── Trigger.AvailableNow (the FileStreamSource discipline): without
  // this, Spark wraps a plain v1 Source in AvailableNowSourceWrapper,
  // which snapshots ONE end offset and serves the whole backlog as a
  // single monolithic batch — admission options silently ignored. A
  // 100 TB backlog must drain in bounded, checkpointed batches, so the
  // source implements the interface itself: prepare freezes the target,
  // latestOffset keeps stepping the SAME bounded admission toward it,
  // and the run self-terminates when the cursor reaches the freeze.
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    // a data-less log freezes BELOW the floor (sentinel, not None —
    // None would mean "uncapped" and a busy writer could keep the
    // self-terminating run alive forever)
    availableNowCap = Some(log.currentVersion.getOrElse(floor - 1L))
  }

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  override def latestOffset(
      startOffset: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset =
    nextEndVersion().map(LongOffset(_)).orNull

  /** Rows of versions `(start, end]` — their appended data files scanned
    * through the normal parquet path (pushdown/pruning intact), tagged
    * streaming for the micro-batch runner. `start = None` is the very
    * first batch: everything from the floor.
    */
  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val lo = start.map(asVersion).getOrElse(floor - 1L)
    val hi = asVersion(end)
    // keep the admission cursor at least at what Spark's checkpoint has
    // already claimed — on restart this getBatch replay runs BEFORE the
    // first getOffset, re-seeding bounded admission past committed work
    admittedHi = Some(math.max(admittedHi.getOrElse(Long.MinValue), hi))
    val spark = sqlContext.sparkSession
    // SCHEMA-EVOLUTION HANDSHAKE (the Delta schema-tracking shape): the
    // source schema is pinned for the life of the RUN, so an ALTER TABLE
    // that WIDENED the declared schema mid-stream must refuse LOUDLY —
    // a pinned-schema scan would silently serve NULL for the new column
    // in every post-evolution append forever. The refusal is fail-ONCE:
    // a restart of the SAME checkpoint re-resolves the source schema at
    // load(), adopts the evolved one, and replays committed batches with
    // pre-evolution rows serving TYPED NULL for the added columns (batch
    // semantics) — no re-ingest, zero rows re-emitted. Conversely a
    // batch whose declared schema is a PREFIX of the pin (a bounded
    // backfill or startingVersion below a past ADD COLUMNS) serves fine
    // under the pin — refusing there would break exactly the
    // incremental-backfill case the rate limits exist for. Metadata-
    // sized check; a replayed batch of an EXPIRED version skips it (its
    // metadata is gone; the expire guard below owns that refusal).
    (if (log.versions.contains(hi)) log.declaredSchema(hi) else None).foreach { declared =>
      val pinnedData = schema.fields
        .filterNot(f => changeFeed &&
          (f.name == "_change_type" || f.name == "_commit_version"))
        .map(f => (f.name, f.dataType)).toSet
      // mapped sources pin the PHYSICAL schema (= declared names); the
      // logical evolution guard below compares mapping pairs instead.
      // The pin carries WIDENED types (mappedSchemas applies coltypes),
      // while the declared schema keeps the physical base type — apply
      // the same widenings to the declared side before comparing, or a
      // legitimately-pinned widening would read as novel evolution
      val pinnedNames: Set[(String, org.apache.spark.sql.types.DataType)] =
        mapping.fold(pinnedData)(_._1.fields.map(f => (f.name, f.dataType)).toSet)
      val widenedAtHi: Map[String, org.apache.spark.sql.types.DataType] =
        if (mapping.isEmpty) Map.empty
        else log.columnTypes(hi).map { case (p, t) =>
          p -> org.apache.spark.sql.types.DataType.fromDDL(t) }
      val nowDeclared = declared.fields
        .map(f => (f.name, widenedAtHi.getOrElse(f.name, f.dataType))).toSeq
      val novel = nowDeclared.filterNot(pinnedNames)
      require(novel.isEmpty,
        s"graft-log source: the schema of ${log.root} evolved mid-stream " +
          s"(v$hi declares ${novel.map(_._1).mkString("[", ",", "]")} beyond " +
          "the pinned schema) — a pinned-schema scan would silently drop the " +
          "evolution; RESTART the query on the SAME checkpoint to adopt it " +
          "(pre-evolution batches then serve typed NULL, nothing re-emits)")
    }
    // COLUMN-MAPPING guard: a mapping whose pairs go BEYOND what this
    // run pinned (a rename, a drop + re-add minting a fresh physical id,
    // an added column) must refuse — the pinned projection would
    // mis-bind or silently hide it. Same fail-once/restart-adopts
    // discipline as the declared-schema handshake. Pairs at or below the
    // pin (identity enable, pre-evolution vintages) serve fine.
    if ((!changeFeed || mapping.isDefined) && log.versions.contains(hi))
      log.columnMapping(hi).foreach { case (_, pairsAtHi) =>
        val pinnedPairs = mapping.map(_._2.toSet).getOrElse(
          schema.fields.map(f => (f.name, f.name)).toSet)
        val novel = pairsAtHi.filterNot(pinnedPairs)
        require(novel.isEmpty,
          s"graft-log source: the column mapping of ${log.root} moved " +
            s"mid-stream (v$hi maps ${novel.map(p => s"${p._1}>${p._2}")
              .mkString("[", ",", "]")} beyond the pin) — the pinned " +
            "projection would mis-bind physical columns; RESTART the query " +
            "on the SAME checkpoint to adopt the new mapping")
      }
    // TYPE-WIDENING guard (the mapped-table mirror of the declared-schema
    // handshake): widenings at or below the pin serve — the pinned
    // physical schema already carries them and the parquet reader
    // up-casts narrow files on the scan; a widening declared AFTER the
    // pin must refuse loudly (post-widen appends would scan under a
    // narrower pin). Fail-once: a restart re-pins the widened types.
    if (mapping.isDefined && log.versions.contains(hi)) {
      val novelTypes = log.columnTypes(hi).toSet -- pinnedWidenings.toSet
      require(novelTypes.isEmpty,
        s"graft-log source: ${log.root} widened column type(s) mid-stream " +
          s"(v$hi declares ${novelTypes.map(t => s"${t._1}>${t._2}")
            .mkString("[", ",", "]")} beyond the pin) — RESTART the query " +
          "on the SAME checkpoint to adopt the widening")
    }
    val batch =
      if (changeFeed)
        // row-level changes of versions (lo, hi] straight off the
        // manifest diff — DML and reorg commits serve, never refuse
        log.readChanges(spark, math.max(lo, floor - 1L), hi)
      else {
        val slice = log.versions.filter(v => v > lo && v <= hi && v >= floor)
        // appended-file discovery treats the OLDEST SURVIVING version as
        // "everything added" — correct only for the stream's own initial
        // batch. If an expire() ran under this checkpoint and ate the
        // parent of a pending version, serving it would RE-EMIT the whole
        // carried listing as fresh rows: refuse loudly instead.
        slice.headOption.foreach { h =>
          // `start.isEmpty` marks the stream's genuinely-first batch (no
          // prior offset anywhere, checkpoint included) — the only case
          // the whole-listing semantics is for. A RESTART recomputes the
          // floor from the now-shorter chain, so the floor alone cannot
          // distinguish "initial" from "resumed past an expire".
          require((start.isEmpty && h == floor) || log.versions.contains(h - 1L),
            s"graft-log source: v${h - 1L} of ${log.root} was expired under " +
              s"a running stream — discovering v$h's appends would re-emit " +
              "carried files; restart from a fresh checkpoint or startingVersion")
        }
        // the OLDEST retained version counts as the INITIAL SNAPSHOT, not
        // a change commit: under skipChangeCommits a masked listing there
        // must still serve (Delta's skipChangeCommits serves the initial
        // snapshot too) — as the MASKED snapshot read, so outstanding
        // deletes never resurrect; classifying it as skippable would
        // silently emit ZERO rows for the entire base table
        val snapHead = slice.headOption.filter(h =>
          skipChangeCommits && h == log.versions.head &&
            !log.isAppendOnlyCommit(h))
        val files = slice.filterNot(snapHead.contains).flatMap { v =>
          if (skipChangeCommits && !log.isAppendOnlyCommit(v)) Nil
          else log.appendedFiles(v)
        }.filter(_.endsWith(".parquet"))
        import org.apache.spark.sql.functions.col
        val snapDf = snapHead.map { h =>
          val base = mapping match {
            case Some(_) => log.readMapped(spark, h)
            case None => log.read(spark, h)
          }
          // columns the run's pin carries beyond this oldest vintage
          // (a later ADD COLUMNS) serve typed NULL; present columns CAST
          // to the pinned type (a widening declared after this vintage
          // would otherwise leak its narrow type into the batch schema)
          val have = base.columns.toSet
          base.select(schema.fields.toSeq.map(f =>
            if (have(f.name)) col(f.name).cast(f.dataType).as(f.name)
            else org.apache.spark.sql.functions.lit(null)
              .cast(f.dataType).as(f.name)): _*)
        }
        val appendDf =
          if (files.isEmpty) None
          else Some(mapping match {
            case Some((physSchema, pairs)) =>
              // the mapped facade, per micro-batch: scan PHYSICAL names
              // under the pinned physical schema (files predating an
              // append-minted column serve NULL) and re-project to the
              // pinned LOGICAL names — pushdown/pruning intact, identical
              // to the batch read of the same renamed table
              val l2p = pairs.toMap
              spark.read.schema(physSchema).parquet(files: _*)
                .select(schema.fieldNames.toSeq.map(l =>
                  col(l2p(l)).as(l)): _*)
            case None => spark.read.schema(schema).parquet(files: _*)
          })
        (snapDf, appendDf) match {
          case (Some(a), Some(b)) => a.unionByName(b)
          case (Some(a), None) => a
          case (None, Some(b)) => b
          case (None, None) =>
            // a metadata-only commit window (ALTER/ANALYZE/tags): empty
            // progress in the declared schema, not an error
            spark.createDataFrame(
              new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
        }
      }
    StreamingShims.asStreamingBatch(batch)
  }

  override def stop(): Unit = ()

  override def toString: String =
    s"GraftLogSource[${new File(log.root).getName} from v$floor]"
}
