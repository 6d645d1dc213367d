package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructField}

/** A concurrent writer lost the commit race: the target manifest version
  * already exists. The loser must re-read the new current snapshot,
  * re-validate (or re-derive) its change against it, and re-commit — the
  * optimistic-concurrency loop every snapshot-log table format runs.
  */
class ConcurrentCommitException(msg: String) extends RuntimeException(msg)

/** Transactional snapshot log — the minimal Delta/Iceberg-style commit
  * protocol that makes the manifest family ([[graft.operators.Layout]]'s
  * zone-map/bloom manifests, [[TableManager.retentionPrune]], file
  * compaction) safe under concurrent readers and writers. Without it, a
  * reader racing a compaction or retention prune can list a half-rewritten
  * directory: old files deleted, new files half-visible — torn data.
  *
  * The protocol (public design, per the Delta log / Iceberg metadata tree):
  *
  *  1. Data files are IMMUTABLE and written to unique paths
  *     (`data/<writeId>/part-*.parquet`) — a write never touches a byte a
  *     reader could be holding ([[stageData]]).
  *  2. A SNAPSHOT is the file listing of one table version, carried in
  *     the log as a CHANGE record (`_log/v00000007.delta`: `+path` adds,
  *     `-path` removes against the parent) plus periodic full-listing
  *     checkpoints (`v00000008.manifest`). Both are metadata —
  *     change-sized / file-count-sized, never row-count-sized.
  *  3. A COMMIT is one atomic put-if-absent of the next version's delta
  *     ([[commit]]): stage the change record to a temp file, then
  *     hard-link it to `v<expected+1>.delta` — link creation is atomic
  *     and fails if the name exists, so of two racing writers exactly
  *     ONE wins and the loser gets [[ConcurrentCommitException]]
  *     (optimistic concurrency). On a real object store this maps to a
  *     conditional put (`If-None-Match: *`) or an HDFS no-overwrite
  *     rename; the protocol is identical.
  *  4. A READ pins a version: list the manifest's files once, then scan
  *     exactly those paths ([[read]]). Later commits, compactions, and
  *     vacuums of OTHER versions cannot change what the pinned reader
  *     sees — snapshot isolation by construction. Reading an older
  *     version after newer ones landed is time travel for free.
  *  5. VACUUM ([[vacuum]]) deletes only data files referenced by NO live
  *     manifest — aborted stages and files whose last referencing
  *     snapshot was [[expire]]d. A pinned snapshot whose manifest still
  *     exists keeps every file it references, so old readers never break;
  *     vacuum is idempotent (a second sweep collects nothing).
  *
  * Scale notes — the DELTA-LOG + PERIODIC-CHECKPOINT metadata protocol
  * (the Delta Lake log design, public): the atomic commit anchor for
  * version N is `_log/v<N>.delta`, listing only the CHANGE against the
  * parent (`+entry` adds, `-entry` removes) — a 3-file append to a
  * 10⁶-file table commits 3 lines of metadata, not 10⁶. Every
  * `checkpointInterval`-th commit additionally materializes
  * `v<N>.manifest`, the full listing at N (written AFTER the anchor wins
  * the race; purely an optimization, never the atomicity carrier — the
  * put-if-absent stays on the single `.delta` name, so two racers can
  * never split-brain across file types). A read reconstructs version V
  * by walking back at most `checkpointInterval` deltas to the nearest
  * checkpoint and replaying forward — O(interval) metadata files
  * touched, each change-sized. [[expire]] materializes a checkpoint at
  * the oldest surviving version before dropping the chain below it, so
  * reconstruction never needs an expired file. No directory listing of
  * `data/` ever happens on the read path (listing is only vacuum's job,
  * an offline maintenance pass).
  */
class SnapshotLog(
    val root: String,
    val checkpointInterval: Int = 4,
    dataRootOpt: Option[String] = None) {
  require(checkpointInterval >= 1,
    s"checkpointInterval must be >= 1, got $checkpointInterval")

  private val logDir = new File(root, "_log")
  // the data pool: this log's own root, or a SHARED parent pool when this
  // log is a zero-copy branch ([[fork]]) or shallow clone
  // ([[cloneShallow]]) — every data-relative path resolves against it.
  // Borrowing logs are SELF-DESCRIBING on disk via a `_pool` marker file
  // (written at fork/clone time) so reopening one by bare root — the
  // catalog's only handle — resolves the shared pool without the caller
  // having to know the table's lineage.
  private[sources] val dataRootPath: String = {
    val marker = new File(root, "_pool")
    val declared = dataRootOpt.orElse {
      if (marker.exists()) Some(readLines(marker).headOption.getOrElse(
        throw new IllegalStateException(
          s"SnapshotLog: the _pool marker at $marker is empty/truncated — " +
            "this table borrows a shared data pool and cannot resolve it; " +
            "restore the marker (one line: the pool root path)")))
      else None
    }
    new File(declared.getOrElse(root)).getCanonicalPath
  }
  private val dataDir = new File(dataRootPath, "data")

  private def manifestFile(v: Long) = new File(logDir, f"v$v%08d.manifest")

  private def deltaFile(v: Long) = new File(logDir, f"v$v%08d.delta")

  /** Write `lines` to `target` atomically (temp file + hard link —
    * put-if-absent). Returns false if `target` already exists.
    */
  private def writeAtomic(target: File, lines: Seq[String]): Boolean = {
    logDir.mkdirs()
    val tmp = File.createTempFile(target.getName + "-", ".tmp", logDir)
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

  private def readLines(f: File): Seq[String] =
    Files.readAllLines(f.toPath, UTF_8).asScala.filter(_.nonEmpty).toSeq

  /** Manifest-line marker for tombstone (delete) files — see
    * [[deleteRows]]. Data lines are bare relative paths; tombstone lines
    * are `del:<relative path>`.
    */
  private val DelPrefix = "del:"

  /** Manifest-line marker for POSITION-delete files — see
    * [[deletePositions]]. Lines are `posdel:<relative path>`; the file
    * holds `(_file string, _pos bigint)` rows naming exact physical rows.
    */
  private val PosDelPrefix = "posdel:"

  /** Manifest-line marker for TABLE METADATA entries — key=value pairs
    * that version WITH the snapshot (column mapping, last-optimize
    * pointer). Lines are `meta:<key>=<value>`; they ride the same
    * change-sized delta protocol as file paths, so a metadata change
    * (e.g. RENAME COLUMN) is one atomic two-line commit that moves zero
    * data bytes — the Delta/Iceberg metadata-commit class.
    */
  /** Manifest-line prefix for deletion-vector sidecar files
    * ([[writeDeleteVectors]]): one parquet of (_file, dv) rows, `dv` the
    * [[graft.functions.BitmapFunctions.GraftBitmap]] wire format over the
    * file's deleted row ordinals. */
  private val DvPrefix = "dv:"

  private val MetaPrefix = "meta:"

  /** Anchor-header prefix recording the commit wall-clock (epoch millis)
    * as the anchor's first line — see [[commitTimeMillis]].
    */
  private val TsPrefix = "#ts="

  private def isMetaLine(l: String): Boolean = l.startsWith(MetaPrefix)

  private def isTombLine(l: String): Boolean =
    l.startsWith(DelPrefix) || l.startsWith(PosDelPrefix) || l.startsWith(DvPrefix)

  /** Metadata lines of a snapshot (still `meta:`-prefixed). */
  def metaLines(version: Long): Seq[String] = files(version).filter(isMetaLine)

  /** Metadata key→value view of a snapshot's `meta:` lines. */
  def metaValues(version: Long): Map[String, String] =
    metaLines(version).map { l =>
      val kv = l.stripPrefix(MetaPrefix)
      val i = kv.indexOf('=')
      require(i > 0, s"malformed meta line in v$version: $l")
      kv.substring(0, i) -> kv.substring(i + 1)
    }.toMap

  private def metaLine(key: String, value: String): String = {
    require(!key.contains('=') && !(key + value).exists(c => c == '\n' || c == '\r'),
      s"meta entry must be newline-free with '='-free key: $key=$value")
    s"$MetaPrefix$key=$value"
  }

  /** `other` with the `key` meta entry replaced by (or extended with)
    * `value` — the building block of every metadata commit.
    */
  private def withMeta(lines: Seq[String], key: String, value: String): Seq[String] =
    lines.filterNot(_.startsWith(s"$MetaPrefix$key=")) :+ metaLine(key, value)

  /** Committed versions, ascending. Empty before the first commit. A
    * version is committed iff its `.delta` anchor exists (or only its
    * `.manifest` checkpoint survives an [[expire]]).
    */
  def versions: Seq[Long] =
    Option(logDir.listFiles()).getOrElse(Array.empty)
      .map(_.getName)
      .collect {
        case n if n.startsWith("v") && n.endsWith(".manifest") =>
          n.stripPrefix("v").stripSuffix(".manifest").toLong
        case n if n.startsWith("v") && n.endsWith(".delta") =>
          n.stripPrefix("v").stripSuffix(".delta").toLong
      }
      .toSeq.distinct.sorted

  def currentVersion: Option[Long] = versions.lastOption

  /** [[currentVersion]] for an operation that needs a committed
    * snapshot: refuses with `caller`'s name on an empty log.
    */
  private def committedVersion(caller: String): Long = currentVersion.getOrElse(
    throw new IllegalStateException(s"$caller: no committed snapshot at $root"))

  /** Commit wall-clock of a version (epoch millis) — the `#ts=` header
    * RECORDED INSIDE the commit anchor at commit time (the Delta
    * `commitInfo.timestamp` discipline): it survives log compaction,
    * checkpoint re-materialization, and table copies/restores, none of
    * which preserve file mtimes. Anchors written before the header
    * existed fall back to the anchor's mtime (legacy). Monotone within a
    * chain in practice (commits serialize through the put-if-absent
    * anchor) — the resolution TIMESTAMP AS OF needs.
    */
  def commitTimeMillis(version: Long): Long = {
    val df = deltaFile(version)
    val f = if (df.exists()) df else manifestFile(version)
    require(f.exists(), s"snapshot v$version does not exist at $root")
    // only the FIRST line is inspected — a checkpoint manifest can list
    // every file of a 100 TB table, and [[versionAt]] calls this per
    // version of the chain; materializing whole listings would make
    // TIMESTAMP AS OF resolution O(chain × listing) instead of O(chain)
    val br = new java.io.BufferedReader(new java.io.InputStreamReader(
      new java.io.FileInputStream(f), UTF_8))
    val first = try Option(br.readLine()) finally br.close()
    first match {
      case Some(l) if l.startsWith(TsPrefix) => l.stripPrefix(TsPrefix).toLong
      case _ => f.lastModified()
    }
  }

  /** TIMESTAMP AS OF: the latest committed version whose anchor was
    * written at or before `millis`. Refuses loudly when the timestamp
    * predates the table.
    */
  def versionAt(millis: Long): Long = {
    val at = versions.filter(v => commitTimeMillis(v) <= millis)
    require(at.nonEmpty,
      s"no snapshot of $root committed at or before epoch-ms $millis " +
        s"(earliest is ${versions.headOption.map(commitTimeMillis)})")
    at.max
  }

  /** The manifest lines of a committed snapshot: bare relative paths for
    * data files, `del:`-prefixed relative paths for tombstone files.
    * Served from the version's checkpoint when one exists; otherwise
    * reconstructed by replaying at most [[checkpointInterval]] delta
    * files onto the nearest ancestor checkpoint — bounded metadata work,
    * never data-sized.
    */
  def files(version: Long): Seq[String] = {
    val mf = manifestFile(version)
    // `#`-prefixed lines are anchor headers (`#ts=` commit wall-clock),
    // not listing entries — stripped on read, so headers never leak into
    // a reconstructed listing or a later commit's delta
    if (mf.exists()) readLines(mf).filterNot(_.startsWith("#"))
    else {
      val df = deltaFile(version)
      require(df.exists(),
        s"snapshot v$version does not exist at $root (expired or never committed)")
      val parent = if (version == 0L) Seq.empty[String] else files(version - 1)
      val lines = readLines(df)
      val removed = lines.collect { case l if l.startsWith("-") => l.substring(1) }.toSet
      val adds = lines.collect { case l if l.startsWith("+") => l.substring(1) }
      parent.filterNot(removed) ++ adds
    }
  }

  /** Data-file relative paths of a snapshot (tombstone and metadata
    * lines excluded).
    */
  def dataFiles(version: Long): Seq[String] =
    files(version).filterNot(l => isTombLine(l) || isMetaLine(l))

  /** Total row count of `absPaths` parquet files from their FOOTERS —
    * driver-side, file-count-sized metadata work (the parquet block
    * record counts), never a data scan. The one-scan COPY INTO receipt
    * reads its loaded-row count here instead of a second source pass.
    */
  def footerRowCount(absPaths: Seq[String]): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = new org.apache.hadoop.conf.Configuration()
    absPaths.map { p =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(p), conf))
      try reader.getRecordCount finally reader.close()
    }.sum
  }

  /** The relative data-file paths ADDRESSED by outstanding
    * position-delete / deletion-vector masks at `version` — the files a
    * physical repack must carry untouched. Mask-file-sized read (the
    * sidecars' `_file` column), never a data scan.
    */
  def maskedFiles(spark: SparkSession, version: Long): Set[String] = {
    def filesOf(paths: Seq[String]): Set[String] =
      if (paths.isEmpty) Set.empty
      else spark.read
        .parquet(paths.map(p => new File(dataRootPath, p).toString): _*)
        .select("_file").distinct()
        .collect().map(_.getString(0)).toSet
    filesOf(posDeleteFiles(version)) ++ filesOf(dvFiles(version))
  }

  /** Key-tombstone-file relative paths of a snapshot. */
  def tombstoneFiles(version: Long): Seq[String] =
    files(version).filter(_.startsWith(DelPrefix)).map(_.stripPrefix(DelPrefix))

  /** Position-delete-file relative paths of a snapshot. */
  def posDeleteFiles(version: Long): Seq[String] =
    files(version).filter(_.startsWith(PosDelPrefix)).map(_.stripPrefix(PosDelPrefix))

  /** Deletion-vector sidecar relative paths of a snapshot
    * ([[writeDeleteVectors]]). */
  def dvFiles(version: Long): Seq[String] =
    files(version).filter(_.startsWith(DvPrefix)).map(_.stripPrefix(DvPrefix))

  /** Phase 1 of the two-phase write: materialize `df` as immutable parquet
    * files under a fresh unique directory and return their relative paths
    * (sorted). NOTHING is visible to readers until a [[commit]] references
    * these paths; a crash here leaves an orphaned stage that [[vacuum]]
    * collects.
    */
  def stageData(df: DataFrame, partitions: Int, allowEmpty: Boolean = false): Seq[String] = {
    require(partitions >= 1, s"stageData: partitions must be >= 1, got $partitions")
    stage("stageData", df.repartition(partitions), allowEmpty)
  }

  /** [[stageData]] with BYTE-SIZED output partitioning for a frame whose
    * size is unknown until it is evaluated (a REPLACE WHERE replacement
    * SELECT, an arbitrary backfill): the write rides an AQE REBALANCE
    * with `advisoryPartitionSizeInBytes` pinned to `targetBytes`, so the
    * runtime both COALESCES a small replacement into few files and
    * SPLITS a 100 TB backfill into ~target-sized ones — never a fixed
    * task cap (a fixed 32 means ~3 TB files at 100 TB), and never a
    * second evaluation pass just to count bytes first.
    */
  def stageDataSized(
      df: DataFrame, targetBytes: Long, allowEmpty: Boolean = false): Seq[String] = {
    require(targetBytes >= 1L, s"stageDataSized: targetBytes must be >= 1, got $targetBytes")
    val spark = df.sparkSession
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, targetBytes.toString)
    try stage("stageDataSized", df.hint("rebalance"), allowEmpty)
    finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  /** [[stageData]] minus the repartition: write `df` EXACTLY as arranged
    * (the caller owns partitioning/order — [[optimize]]'s clustering
    * would be destroyed by a hash repartition).
    */
  private def stageArranged(df: DataFrame): Seq[String] =
    stage("stageArranged", df, allowEmpty = false)

  /** The one staging step under every write: `df` as written lands in a
    * fresh `data/<uuid>/` directory; returns its `*.parquet` files as
    * relative paths, sorted, refusing an empty result unless allowed.
    */
  private def stage(caller: String, df: DataFrame, allowEmpty: Boolean): Seq[String] = {
    val id = java.util.UUID.randomUUID().toString
    val dir = new File(dataDir, id)
    df.write.mode("error").parquet(dir.toString)
    val staged = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .map(f => s"data/$id/${f.getName}")
      .toSeq.sorted
    require(allowEmpty || staged.nonEmpty,
      s"$caller: write produced no parquet files under $dir")
    staged
  }

  /** Phase 2: atomically publish `fileList` as the next version after
    * `expectedCurrent` (None = committing the very first version). Returns
    * the committed version number. Throws [[ConcurrentCommitException]] if
    * another writer committed that version first — the caller must re-read
    * the new snapshot and retry against it (its staged files stay on disk
    * and remain usable in the retried commit).
    */
  def commit(expectedCurrent: Option[Long], fileList: Seq[String]): Long = {
    val next = expectedCurrent.getOrElse(-1L) + 1L
    // the anchor is CHANGE-sized: only entries added to / removed from
    // the parent listing cross the commit, however large the table is
    val parent = expectedCurrent.map(files).getOrElse(Seq.empty)
    val parentSet = parent.toSet
    val nextSet = fileList.toSet
    val delta = parent.filterNot(nextSet.contains).map("-" + _) ++
      fileList.filterNot(parentSet.contains).map("+" + _)
    // the commit wall-clock rides INSIDE the anchor (a `#ts=` header) so
    // TIMESTAMP AS OF survives compaction and copies — mtimes don't
    val ts = s"$TsPrefix${System.currentTimeMillis()}"
    // hard-link creation is the local-FS atomic put-if-absent: it either
    // installs the COMPLETE delta under the version name or throws — no
    // reader can ever observe a partially-written commit
    if (!writeAtomic(deltaFile(next), ts +: delta))
      throw new ConcurrentCommitException(
        s"lost the commit race for v$next at $root: another writer " +
          "committed first — re-read the current snapshot and retry")
    // periodic checkpoint AFTER the anchor won: a full listing that
    // bounds every reconstruction walk; losing the race here is benign
    // (a racer or retry already wrote identical content)
    if (next % checkpointInterval == 0) {
      writeAtomic(manifestFile(next), ts +: fileList)
      ()
    }
    next
  }

  /** Stage + commit `df` as new files ADDED to the current snapshot. */
  def append(df: DataFrame, partitions: Int): Long = {
    val cur = currentVersion
    val staged = stageData(df, partitions)
    commit(cur, appendLines(cur, staged))
  }

  /** The listing of an append commit: `cur`'s lines plus `staged`. */
  private def appendLines(cur: Option[Long], staged: Seq[String]): Seq[String] =
    cur.map(files).getOrElse(Nil) ++ staged

  /** [[append]] carrying a STREAMING-TRANSACTION WATERMARK (the Delta
    * `SetTransaction` shape, the write-side half of exactly-once): the
    * commit records `txn.<appId> = batchId` in its metadata, and a batch
    * at or below the recorded watermark is SKIPPED idempotently — the
    * redelivery a crashed streaming query makes after its sink commit
    * but before its checkpoint advance. Staging happens only for batches
    * that will commit; a skip stages nothing. Commit races retry through
    * [[withOccRetry]], metadata-only against the re-read watermark (an
    * append commutes; the staged files are reused), so N racing sinks
    * converge without re-staging data.
    *
    * @return (current version after the call, true iff this batch
    *         committed — false = idempotent skip)
    */
  def appendTxn(
      df: DataFrame, partitions: Int, appId: String, batchId: Long,
      maxRetries: Int = 50): (Long, Boolean) = {
    val key = s"txn.$appId"
    def watermark(v: Option[Long]): Long =
      v.flatMap(x => metaValues(x).get(key)).map(_.toLong).getOrElse(-1L)
    val before = currentVersion
    if (batchId <= watermark(before)) return (before.get, false)
    val staged = stageData(df, partitions)
    withOccRetry(maxRetries) {
      val cur = currentVersion
      if (batchId <= watermark(cur)) {
        // another instance of the SAME query won the race with this very
        // batch — drop the duplicate staging, nothing to commit
        staged.foreach(p => new File(dataRootPath, p).delete())
        (cur.get, false)
      } else
        (commit(cur, withMeta(appendLines(cur, staged), key, batchId.toString)), true)
    }._1
  }

  /** [[overwrite]] under the [[appendTxn]] watermark discipline — the
    * complete-output-mode sink shape: each committed batch REPLACES the
    * table's data files (a streaming aggregation maintaining a
    * materialized table), metadata carried, redeliveries skipped. An
    * overwrite does NOT commute, so a lost commit race refuses rather
    * than blind-retrying — the racer may have been a foreign writer
    * whose state this batch must not clobber.
    */
  def overwriteTxn(
      df: DataFrame, partitions: Int, appId: String, batchId: Long): (Long, Boolean) = {
    val key = s"txn.$appId"
    val cur = currentVersion
    val last = cur.flatMap(x => metaValues(x).get(key)).map(_.toLong).getOrElse(-1L)
    if (batchId <= last) return (cur.get, false)
    val lines = withMeta(
      cur.map(metaLines).getOrElse(Nil) ++ stageData(df, partitions),
      key, batchId.toString)
    (commit(cur, lines), true)
  }

  /** Stage + commit `df` as the ENTIRE next snapshot (logical overwrite —
    * prior versions' files stay on disk for their pinned readers).
    */
  def overwrite(df: DataFrame, partitions: Int): Long = {
    // table metadata survives a logical overwrite (the Delta
    // overwrite-without-overwriteSchema shape); data files are replaced
    val cur = currentVersion
    commit(cur, cur.map(metaLines).getOrElse(Nil) ++ stageData(df, partitions))
  }

  /** [[append]] under MULTI-WRITER contention: optimistic-concurrency
    * retry. An append COMMUTES with any concurrent commit — it only ADDS
    * files, touching nothing another writer could have rewritten — so a
    * lost race needs no conflict analysis: re-read the (now newer) current
    * listing, re-attach the SAME staged files, commit again. The data is
    * staged exactly ONCE; every retry is metadata-only (one change-sized
    * delta write through [[withOccRetry]]), which is what makes N racing
    * appenders converge in O(N²) tiny commit attempts rather than
    * re-staging data. Non-commuting operations
    * (overwrite/delete/merge/compact) deliberately do NOT get a blind
    * re-attach — their parent snapshot may have changed meaning, so they
    * re-derive their whole change per attempt instead (the Delta/Iceberg
    * distinction between blind appends and conflicting transactions). An
    * exhausted budget rethrows the last [[ConcurrentCommitException]].
    *
    * @return (committed version, retries consumed)
    */
  def appendWithRetry(
      df: DataFrame, partitions: Int, maxRetries: Int = 50): (Long, Int) = {
    val staged = stageData(df, partitions)
    withOccRetry(maxRetries) {
      val cur = currentVersion
      commit(cur, appendLines(cur, staged))
    }
  }

  // ── named refs: immutable tags + zero-copy branches (the Iceberg
  // refs / Delta shallow-clone shape) ──────────────────────────────────

  private def refsDir = new File(logDir, "refs")

  private def validateRefName(name: String): Unit =
    require(name.nonEmpty &&
        name.forall(c => c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"ref name must be [A-Za-z0-9._-]+, got '$name'")

  private def refFile(name: String) = {
    validateRefName(name)
    new File(refsDir, name)
  }

  /** Pin `version` under an IMMUTABLE name — metadata-only (one
    * version-number file, put-if-absent like every commit anchor).
    * Returns false if the tag already exists (tags never move; delete +
    * re-create is deliberately not offered — an audit pin that can be
    * repointed is not a pin). A tagged version survives [[expire]] only
    * if the caller keeps it — tagging does not retain; pair tags with the
    * `keepFrom` floor.
    */
  def tag(name: String, version: Long): Boolean = {
    require(versions.contains(version),
      s"tag: version $version is not committed at $root (have $versions)")
    refsDir.mkdirs()
    writeAtomic(refFile(name), Seq(version.toString))
  }

  /** The version a tag pins. Loud on unknown names. */
  def tagVersion(name: String): Long = {
    val f = refFile(name)
    require(f.exists(), s"tag '$name' does not exist at $root")
    readLines(f).head.toLong
  }

  /** Snapshot-pinned read by tag name — time travel by ref. */
  def readTag(spark: SparkSession, name: String): DataFrame =
    read(spark, tagVersion(name))

  /** Tag names present, sorted. */
  def tags: Seq[String] =
    Option(refsDir.listFiles()).getOrElse(Array.empty).map(_.getName).toSeq.sorted

  /** ZERO-COPY branch: a new independent commit chain seeded with the
    * current snapshot's listing, SHARING this log's immutable data pool —
    * no bytes move (the Delta shallow-clone / Iceberg branch shape, and
    * the dev/test-against-prod-data workflow it exists for). The branch
    * commits, deletes, compacts, and expires independently; the parent
    * never sees its versions. Because the pool is shared, single-log
    * [[vacuum]] refuses on both sides — orphan collection must see EVERY
    * chain's live set ([[SnapshotLog.vacuumShared]]).
    */
  def fork(name: String): SnapshotLog = {
    validateRefName(name)
    val cur = committedVersion("fork")
    val child = new SnapshotLog(
      s"$root/branches/$name", checkpointInterval, Some(dataRootPath))
    require(child.currentVersion.isEmpty,
      s"fork: branch '$name' already exists at ${child.root}")
    child.writePoolMarker()
    child.commit(None, files(cur))
    child
  }

  /** Persist the shared-pool pointer so a bare `new SnapshotLog(root)`
    * reopen resolves data against the pool this log borrows.
    */
  private def writePoolMarker(): Unit = {
    new File(root).mkdirs()
    Files.write(new File(root, "_pool").toPath,
      (dataRootPath + "\n").getBytes(UTF_8))
    ()
  }

  /** ZERO-COPY SHALLOW CLONE to an ARBITRARY root (the Delta
    * `CREATE TABLE … SHALLOW CLONE` shape): a new independent table
    * whose v0 is the source snapshot's complete listing — schema, CHECK
    * constraints, column mapping, masks, data files — sharing this log's
    * immutable data pool; no bytes move regardless of table size. Where
    * [[fork]] nests the child under `branches/` (a ref of this table),
    * a clone is a FIRST-CLASS table anywhere (typically a sibling in the
    * same catalog root): it commits, evolves, and time-travels
    * independently, starting its own history at v0.
    *
    * Pool safety is stricter than Delta's (where vacuuming the source
    * silently breaks clones): the clone registers itself under the POOL
    * root (`_clones/<id>` → clone root), and the owner's [[vacuum]]
    * refuses while live registrations exist — sweep with
    * [[SnapshotLog.vacuumShared]] over the owner plus [[cloneRoots]].
    * A dropped clone (its `_log` gone) self-prunes at guard time.
    *
    * `version` pins which snapshot to clone (time-travel clone);
    * default the current one.
    */
  def cloneShallow(dstRoot: String, version: Option[Long] = None): SnapshotLog = {
    val cur = committedVersion("cloneShallow")
    val v = version.getOrElse(cur)
    require(versions.contains(v),
      s"cloneShallow: version $v does not exist at $root (have ${versions.mkString(", ")})")
    val dstCanonical = new File(dstRoot).getCanonicalPath
    require(dstCanonical != new File(root).getCanonicalPath,
      "cloneShallow: destination is the source itself")
    val child = new SnapshotLog(dstRoot, checkpointInterval, Some(dataRootPath))
    require(child.currentVersion.isEmpty,
      s"cloneShallow: a table already exists at $dstRoot")
    child.writePoolMarker()
    // register under the POOL root (not this log's root — a clone of a
    // branch must still block the pool owner's solo vacuum)
    val clonesDir = new File(dataRootPath, "_clones")
    clonesDir.mkdirs()
    Files.write(
      new File(clonesDir, java.util.UUID.randomUUID().toString).toPath,
      (dstCanonical + "\n").getBytes(UTF_8))
    child.commit(None, files(v))
    child
  }

  /** MATERIALIZED (deep) CLONE to an arbitrary root (the Delta
    * `CREATE TABLE … CLONE` shape, complementing [[cloneShallow]]): the
    * source snapshot's manifest lines commit as the new table's v0 and
    * every referenced file's BYTES are copied under the clone's OWN data
    * pool — the archival/fork shape with zero lifetime coupling: no pool
    * marker, no clone registration, and the source's VACUUM/expire/DROP
    * can never touch it. Stats/Bloom/value sidecars of the copied stage
    * directories ride along, so file skipping works on the clone
    * immediately. Copy cost is the snapshot's bytes; with
    * `parallelCopyWith` the per-file copies DISTRIBUTE over the
    * cluster (one task per file batch, idempotent under task retry —
    * at 100 TB a driver-side byte loop is days, a 1000-executor fan-out
    * is minutes), and only the manifest-sized listing plus the small
    * per-stage sidecars stay driver-side.
    */
  def cloneDeep(
      dstRoot: String,
      version: Option[Long] = None,
      parallelCopyWith: Option[SparkSession] = None): SnapshotLog = {
    val cur = committedVersion("cloneDeep")
    val v = version.getOrElse(cur)
    require(versions.contains(v),
      s"cloneDeep: version $v does not exist at $root (have ${versions.mkString(", ")})")
    val dstCanonical = new File(dstRoot).getCanonicalPath
    require(dstCanonical != new File(root).getCanonicalPath,
      "cloneDeep: destination is the source itself")
    val child = new SnapshotLog(dstRoot, checkpointInterval)
    require(child.currentVersion.isEmpty,
      s"cloneDeep: a table already exists at $dstRoot")
    // COPY INTO ledgers and streaming txn watermarks are SOURCE-lifetime
    // state (the Delta clone rule): the ledger dirs live under the
    // source's pool and the txn marks belong to the source's streams —
    // carrying either would break the clone's own ingest. Everything
    // else (schema, mapping, checks, identity watermark, clusterBy)
    // clones verbatim.
    val lines = files(v).filterNot(l =>
      l.startsWith(s"${MetaPrefix}copyledgers=") ||
        l.startsWith(s"${MetaPrefix}txn."))
    val rels = lines.filterNot(isMetaLine).map { l =>
      if (l.startsWith(DelPrefix)) l.stripPrefix(DelPrefix)
      else if (l.startsWith(PosDelPrefix)) l.stripPrefix(PosDelPrefix)
      else if (l.startsWith(DvPrefix)) l.stripPrefix(DvPrefix)
      else l
    }
    def copyTree(from: File, to: File): Unit = {
      if (from.isDirectory) {
        to.mkdirs()
        Option(from.listFiles()).getOrElse(Array.empty)
          .foreach(f => copyTree(f, new File(to, f.getName)))
      } else {
        to.getParentFile.mkdirs()
        Files.copy(from.toPath, to.toPath)
        ()
      }
    }
    parallelCopyWith match {
      case Some(spark) if rels.nonEmpty =>
        // distributed copy: executors each copy a slice of the file list
        // (file paths only cross the wire — manifest-sized). REPLACE on
        // the target makes a retried task idempotent over its own
        // partial copy; nothing references the destination until the
        // commit below, so a failed job leaves only sweepable orphans.
        val (srcPool, dst) = (dataRootPath, dstCanonical)
        spark.sparkContext
          .parallelize(rels, math.max(1, math.min(rels.size, 64)))
          .foreach { rel =>
            val to = new File(dst, rel)
            to.getParentFile.mkdirs()
            Files.copy(new File(srcPool, rel).toPath, to.toPath,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            ()
          }
      case _ =>
        rels.foreach { rel =>
          copyTree(new File(dataRootPath, rel), new File(dstCanonical, rel))
        }
    }
    // per-stage sidecars (stats / blooms / value sets) are directory
    // metadata, not manifest lines — copy them with their stages so the
    // clone skips exactly like the source
    rels.map(r => new File(dataRootPath, r).getParentFile).distinct.foreach { dir =>
      val relDir = dir.getCanonicalPath.stripPrefix(dataRootPath + "/")
      Seq("_stats.parquet", "_blooms.parquet", "_values.parquet").foreach { s =>
        val side = new File(dir, s)
        if (side.exists())
          copyTree(side, new File(new File(dstCanonical, relDir), s))
      }
    }
    child.commit(None, lines)
    child
  }

  /** Roots of the LIVE shallow clones registered against this pool —
    * registrations whose `_log` directory no longer exists (a dropped
    * clone) are pruned as they are discovered. Meaningful on the pool
    * OWNER; a borrower sees the same listing (the pool's).
    */
  def cloneRoots: Seq[String] = {
    val dir = new File(dataRootPath, "_clones")
    Option(dir.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
      val dst = readLines(f).head
      if (new File(dst, "_log").isDirectory) Some(dst)
      else { f.delete(); None } // dropped clone: self-prune
    }.sorted
  }

  /** Open an existing branch previously created by [[fork]]. */
  def branch(name: String): SnapshotLog = {
    validateRefName(name)
    val child = new SnapshotLog(
      s"$root/branches/$name", checkpointInterval, Some(dataRootPath))
    require(child.currentVersion.isDefined,
      s"branch '$name' does not exist at $root — fork it first")
    child
  }

  /** Row-level DELETE without rewriting data (the deletion-vector /
    * merge-on-read pattern): `keys` — a frame holding ONLY the key
    * columns of the rows to drop — stages as tombstone files and commits
    * as the next version; every data file of the prior snapshot is
    * carried UNTOUCHED. [[read]] applies tombstones as one hash
    * anti-join on the tombstone schema's columns (merge-on-read);
    * [[compact]] materializes the surviving rows and drops the
    * tombstones (the rewrite, deferred to maintenance time). At 100 TB
    * this is the difference between committing a KB-sized tombstone and
    * rewriting every partition a delete grazes.
    *
    * Tombstones mask matching keys in ALL data files of their snapshot —
    * including rows appended AFTER the delete; re-inserting a previously
    * deleted key requires a [[compact]] first (documented merge-on-read
    * semantics, kept deliberately simple: no per-file sequence numbers).
    */
  def deleteRows(keys: DataFrame, partitions: Int): Long = {
    val cur = committedVersion("deleteRows")
    val staged = stageData(keys, partitions)
    commit(Some(cur), files(cur) ++ staged.map(DelPrefix + _))
  }

  /** The relative-path + row-ordinal address of every VISIBLE row of
    * `version` next to the row itself — `_file` (manifest-relative data
    * path) and `_pos` (parquet row index within that file), both from the
    * scan's own `_metadata` struct, so the address is exactly what
    * [[deletePositions]] consumes. This is how callers select rows for a
    * position delete: read-with-positions, filter by any predicate,
    * project `(_file, _pos)`.
    */
  def readWithPositions(spark: SparkSession, version: Long): DataFrame =
    readWithPositionsOf(spark, version, dataFiles(version))

  /** [[readWithPositions]] restricted to a SUBSET of the snapshot's data
    * files — the stats-pruned DML discovery scan ([[replaceWhere]] reads
    * only the files whose sidecar stats intersect its predicate, never
    * the whole table). Masks still apply exactly (position-delete and DV
    * masks are per-(file, pos) anti-joins/probes — restricting the data
    * side never changes which of ITS rows are masked).
    */
  private[sources] def readWithPositionsOf(
      spark: SparkSession, version: Long, subset: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, regexp_extract}
    val live = dataFiles(version).toSet
    require(subset.forall(live.contains),
      s"readWithPositionsOf: subset names file(s) outside snapshot v$version")
    val paths = subset.map(p => new File(dataRootPath, p).toString)
    // pin the declared scan schema (widenings applied) when one exists
    // so rows predating an [[addColumns]] carry NULL for the added
    // columns here too — DML predicates may reference them
    val raw = scanSchema(version) match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
    val clash = raw.columns.filter(c => c == "_file" || c == "_pos")
    require(clash.isEmpty,
      s"readWithPositions: the table's own columns ${clash.mkString(", ")} " +
        "collide with the derived address columns (_file, _pos); " +
        "position-delete addressing needs those names free")
    val data = raw
      .withColumn("_file",
        regexp_extract(col("_metadata.file_path"), "(data/[^/]+/[^/]+)$", 1))
      .withColumn("_pos", col("_metadata.row_index"))
    applyMasks(spark, version, data, addressed = true)
  }

  /** Row-level DELETE by PHYSICAL POSITION (the Iceberg v2
    * position-delete-file shape, complementing [[deleteRows]]'s
    * key/equality tombstones): `positions` holds `(_file, _pos)` rows —
    * typically a filtered projection of [[readWithPositions]] — staged as
    * a position-delete file and committed as the next version with every
    * data file carried untouched. Because the address is (file, ordinal),
    * not a key value, this deletes exact rows on tables WITHOUT a unique
    * key (duplicate-keyed facts), and — unlike an equality tombstone — it
    * is file-scoped by construction, so rows appended LATER are never
    * masked and a deleted key can be re-inserted without compacting
    * first. [[read]] applies position deletes as one anti-join on the
    * scan's `_metadata` address; [[compact]] materializes them away.
    * Every referenced `_file` must be a data file of the current
    * snapshot (checked loudly — a dangling address is a corrupt delete).
    */
  def deletePositions(positions: DataFrame): Long = {
    import org.apache.spark.sql.functions.col
    val cur = committedVersion("deletePositions")
    require(positions.columns.sorted.toSeq == Seq("_file", "_pos"),
      s"deletePositions: positions must be exactly (_file, _pos), got " +
        positions.columns.toSeq.mkString(", "))
    val live = dataFiles(cur).toSet
    import positions.sparkSession.implicits._
    // stage FIRST, validate from the staged file: `positions` is
    // evaluated exactly once, so the committed addresses are the very
    // rows the dangling check inspected (a nondeterministic input can
    // never pass validation with one row set and commit another)
    val staged = stageData(
      positions.select(col("_file").cast("string"), col("_pos").cast("long")), 1)
    val referenced = positions.sparkSession.read
      .parquet(staged.map(p => new File(dataRootPath, p).toString): _*)
      .select(col("_file")).distinct().as[String].collect()
    val dangling = referenced.filterNot(live)
    if (dangling.nonEmpty) {
      staged.foreach(p => new File(dataRootPath, p).delete())
      throw new IllegalArgumentException(
        s"deletePositions: positions reference file(s) not in snapshot v$cur: " +
          dangling.sorted.take(5).mkString(", "))
    }
    commit(Some(cur), files(cur) ++ staged.map(PosDelPrefix + _))
  }

  /** Materialize the snapshot's outstanding POSITION DELETES as per-file
    * DELETION VECTORS (the Delta deletion-vector shape): one aggregation
    * rolls the (file, ordinal) delete rows up into a roaring-style
    * bitmap per file ([[graft.functions.BitmapFunctions.GraftBitmap]]
    * wire format, the engine's own exact-bitmap machinery), staged as a
    * single `dv:`-prefixed sidecar replacing every `posdel:` line (and
    * merged by bitmap OR with any existing sidecar). Data files are
    * untouched — this is mask COMPACTION, metadata-sized work.
    *
    * Why: the anti-join mask pays a per-read shuffle-shaped probe
    * against delete-count rows; the vector turns it into a file-local
    * O(1) bitmap probe on the scan (read path: scan → filter, NO join —
    * see [[applyMasks]]), and N accumulated delete files collapse to one
    * sidecar. Row ordinals are file-local and bounded far below the
    * bitmap's dense-int ceiling. Readers of pinned earlier versions
    * still see the original posdel lines — immutable either way.
    *
    * @return (committed version — unchanged when no position deletes
    *         exist, files carrying a deletion vector)
    */
  def writeDeleteVectors(spark: SparkSession): (Long, Int) = {
    import org.apache.spark.sql.functions.col
    val cur = committedVersion("writeDeleteVectors")
    val pos = posDeleteFiles(cur)
    if (pos.isEmpty) return (cur, dvFiles(cur).size)
    val fromPos = spark.read
      .parquet(pos.map(p => new File(dataRootPath, p).toString): _*)
      .groupBy(col("_file"))
      .agg(graft.functions.BitmapFunctions.bitmapAgg(col("_pos")).as("dv"))
    val existing = dvFiles(cur)
    val all =
      if (existing.isEmpty) fromPos
      else fromPos.unionByName(
          spark.read.parquet(existing.map(p => new File(dataRootPath, p).toString): _*)
            .select(col("_file"), col("dv")))
        .groupBy(col("_file"))
        .agg(graft.functions.BitmapFunctions.bitmapUnion(col("dv")).as("dv"))
    val staged = stageData(all.select(col("_file"), col("dv")), 1)
    val carried = files(cur).filterNot(l =>
      l.startsWith(PosDelPrefix) || l.startsWith(DvPrefix))
    val v = commit(Some(cur), carried ++ staged.map(DvPrefix + _))
    (v, spark.read.parquet(
      staged.map(p => new File(dataRootPath, p).toString): _*).count().toInt)
  }

  /** Apply a snapshot's merge-on-read masks to `data` (a raw scan of the
    * snapshot's data files): position deletes first — one anti-join on
    * the `_metadata` (file, row-ordinal) address — then key tombstones —
    * one anti-join on the tombstone schema's columns. Delete-free
    * snapshots pay nothing (the input plan is returned untouched).
    */
  private def applyMasks(
      spark: SparkSession,
      version: Long,
      data: DataFrame,
      addressed: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, regexp_extract}
    // `addressed` is an EXPLICIT caller contract ([[readWithPositions]]
    // already derived `_file`/`_pos` from the scan's `_metadata`), never
    // inferred by sniffing column names: a user table that legitimately
    // carries a `_file` or `_pos` column must not silently key the
    // position-delete anti-join on user data instead of the physical
    // (file, row-ordinal) address.
    val posTombs = posDeleteFiles(version)
    val dvSides = dvFiles(version)
    if (!addressed && (posTombs.nonEmpty || dvSides.nonEmpty)) {
      val clash = data.columns.filter(c => c == "_file" || c == "_pos")
      require(clash.isEmpty,
        s"read of snapshot v$version with position deletes: the table's own " +
          s"columns ${clash.mkString(", ")} collide with the position-delete " +
          "address columns (_file, _pos); rename them or compact the deletes away")
    }
    def withAddr(d: DataFrame): DataFrame =
      if (addressed) d
      else d
        .withColumn("_file",
          regexp_extract(col("_metadata.file_path"), "(data/[^/]+/[^/]+)$", 1))
        .withColumn("_pos", col("_metadata.row_index"))
    def dropAddr(d: DataFrame): DataFrame =
      if (addressed) d else d.drop("_file", "_pos")
    val afterPos =
      if (posTombs.isEmpty && dvSides.isEmpty) data
      else {
        var d = withAddr(data)
        if (posTombs.nonEmpty) {
          val pos = spark.read.parquet(
            posTombs.map(p => new File(dataRootPath, p).toString): _*)
          d = d.join(pos, Seq("_file", "_pos"), "left_anti")
        }
        if (dvSides.nonEmpty) {
          // deletion vectors: the sidecar is file-count-sized (one row
          // per file carrying deletes), so it collects to a driver map
          // and rides the plan as a literal — the mask is a codegen'd
          // per-row bitmap PROBE on the scan, not a join
          import org.apache.spark.sql.functions.typedlit
          val dvMap: Map[String, Array[Byte]] = spark.read.parquet(
              dvSides.map(p => new File(dataRootPath, p).toString): _*)
            .select(col("_file"), col("dv"))
            .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
          d = d.where(!graft.functions.BitmapFunctions.dvContains(
            typedlit(dvMap), col("_file"), col("_pos")))
        }
        dropAddr(d)
      }
    val tombs = tombstoneFiles(version)
    if (tombs.isEmpty) afterPos
    else {
      val keys = spark.read.parquet(tombs.map(p => new File(dataRootPath, p).toString): _*)
      afterPos.join(keys, keys.columns.toSeq, "left_anti")
    }
  }

  /** [[append]] gated by CHECK constraints (the Delta/Lakehouse table-
    * constraint shape): every named predicate must hold on EVERY row of
    * the batch — SQL CHECK semantics, so a NULL predicate passes and
    * only an explicit FALSE violates. Violations reject the whole batch
    * LOUDLY (per-constraint violation counts in the error) before
    * anything stages, so a committed snapshot can never contain a row
    * that breaks a declared invariant. Validation is ONE aggregate pass
    * over the batch (batch-sized, never table-sized): all constraint
    * counters ride in a single job.
    */
  def appendChecked(
      df: DataFrame,
      partitions: Int,
      constraints: Seq[(String, org.apache.spark.sql.Column)]): Long = {
    require(constraints.nonEmpty, "appendChecked: need at least one constraint")
    import org.apache.spark.sql.functions.{coalesce, lit, not, sum => ssum, when}
    val counters = constraints.map { case (name, pred) =>
      ssum(when(not(coalesce(pred, lit(true))), 1L).otherwise(0L)).as(name)
    }
    val row = df.agg(counters.head, counters.tail: _*).head()
    val violated = constraints.zipWithIndex.collect {
      case ((name, _), i) if !row.isNullAt(i) && row.getLong(i) > 0 =>
        s"$name (${row.getLong(i)} rows)"
    }
    if (violated.nonEmpty)
      throw new IllegalArgumentException(
        s"appendChecked: batch violates CHECK constraints: ${violated.mkString(", ")}")
    append(df, partitions)
  }

  /** [[append]] with SCHEMA ENFORCEMENT (the Delta write-compatibility
    * gate): the batch must carry exactly the current snapshot's columns —
    * same names, same types, order-insensitive — and any drift (missing,
    * extra, or retyped columns) refuses the WHOLE batch loudly, naming
    * every offending column. Evolution stays available through plain
    * [[append]] + `mergeSchema` read: enforcement is the default
    * discipline, evolution the explicit act — silent widening is how a
    * 100 TB table rots. The first commit has nothing to enforce against.
    */
  def appendStrict(df: DataFrame, partitions: Int): Long = {
    currentVersion match {
      case None => append(df, partitions)
      case Some(cur) =>
        val drift = SchemaDrift.of(read(df.sparkSession, cur).schema, df.schema)
        require(drift.isEmpty,
          s"appendStrict: batch schema drifts from v$cur — $drift; " +
            "use append() if evolution is intended")
        append(df, partitions)
    }
  }

  // ─────────────────────────── COPY INTO ───────────────────────────
  // Idempotent bulk file ingest (the Databricks `COPY INTO` shape): the
  // set of already-loaded source files is a LEDGER of parquet files
  // under `data/_copyledger/` (an underscore pool the vacuum walk never
  // enters), referenced from ONE `copyledgers` meta value. Ledger and
  // data commit ATOMICALLY: the ledger file is staged first (invisible
  // — nothing references it), and the single commit adds the data files
  // AND the meta reference together, so a crash anywhere loads either
  // the whole batch exactly once or nothing. A REPLACE TABLE drops the
  // meta with the old definition — dedup state resets with the table.

  private val CopyLedgerKey = "copyledgers"

  /** The (path, size, mtime) identities of every source file a past
    * [[copyIngest]] loaded into this snapshot's lineage — empty frame
    * when no COPY ever ran.
    */
  def copiedSources(spark: SparkSession, version: Long): DataFrame = {
    import spark.implicits._
    metaValues(version).get(CopyLedgerKey)
      .map(_.split(',').filter(_.nonEmpty).toSeq) match {
      case Some(ids) if ids.nonEmpty =>
        spark.read.parquet(ids.map(id =>
          new File(dataDir, s"_copyledger/$id").toString): _*)
      case _ =>
        Seq.empty[(String, Long, Long)].toDF("path", "size", "mtime")
    }
  }

  /** Load one COPY batch: `sources` are the new files' identities (the
    * caller already anti-joined against [[copiedSources]]), `data` their
    * rows. Stages the data AND a ledger file recording the identities,
    * then commits both in ONE version — the ledger meta reference makes
    * re-running the same COPY a no-op even across a crash at any point
    * (an unreferenced ledger stage is simply invisible). Schema is
    * enforced strictly ([[appendStrict]] semantics).
    */
  def copyIngest(
      sources: Seq[(String, Long, Long)],
      data: DataFrame,
      partitions: Int): Long = {
    require(sources.nonEmpty, "copyIngest: no source files to load")
    val spark = data.sparkSession
    val cur = committedVersion("copyIngest")
    val drift = SchemaDrift.of(read(spark, cur).schema, data.schema)
    require(drift.isEmpty, s"copyIngest: source schema drifts from v$cur — $drift")
    val id = stageLedger(spark, sources)
    import org.apache.spark.sql.functions.col
    val projected =
      data.select(read(spark, cur).columns.map(col).toSeq: _*)
    // cluster-on-write (the INSERT discipline): a clusterBy table's bulk
    // backfill lands range-arranged so its footer stats give disjoint
    // per-file ranges immediately — no OPTIMIZE pass needed first
    val clusterKeys = clusterColumns(cur).filter(projected.columns.contains)
    val staged =
      if (clusterKeys.isEmpty) stageData(projected, partitions)
      else stageArranged(rangeArrange(projected, clusterKeys, partitions))
    // footer-derived min/max sidecars (zero extra data pass) — COPY'd
    // data skips like INSERTed data does
    writeFooterStatsSidecar(spark, staged)
    commit(Some(cur), ledgerLines(cur, staged, id))
  }

  /** Stage a COPY batch's ledger file — the `sources` identities under
    * `data/_copyledger/<id>/`, invisible until a commit's meta line
    * references it. Returns the ledger id.
    */
  private def stageLedger(spark: SparkSession, sources: Seq[(String, Long, Long)]): String = {
    import spark.implicits._
    val id = java.util.UUID.randomUUID().toString
    sources.toDF("path", "size", "mtime")
      .coalesce(1).write.mode("error")
      .parquet(new File(dataDir, s"_copyledger/$id").toString)
    id
  }

  /** The listing of a COPY commit: `cur`'s lines plus `staged`, with
    * ledger `id` appended to the `copyledgers` meta value — data and
    * ledger reference land in the same version.
    */
  private def ledgerLines(cur: Long, staged: Seq[String], id: String): Seq[String] = {
    val prev = metaValues(cur).get(CopyLedgerKey).filter(_.nonEmpty)
    withMeta(files(cur) ++ staged, CopyLedgerKey, prev.map(_ + ",").getOrElse("") + id)
  }

  /** [[copyIngest]] for a COLUMN-MAPPED table: `data` arrives already in
    * PHYSICAL names (the caller translates through the mapping, exactly
    * as every mapped DML path does) and the strict schema gate pins the
    * LIVE mapped physical fields of the declared scan schema — no
    * minting, no evolution; bulk ingest must match the table. Ledger and
    * data commit atomically exactly as [[copyIngest]].
    */
  def copyIngestMapped(
      sources: Seq[(String, Long, Long)],
      data: DataFrame,
      partitions: Int): Long = {
    import org.apache.spark.sql.functions.col
    require(sources.nonEmpty, "copyIngestMapped: no source files to load")
    val spark = data.sparkSession
    val cur = committedVersion("copyIngestMapped")
    val (_, pairs) = columnMapping(cur).getOrElse(throw new IllegalStateException(
      s"copyIngestMapped: column mapping is not enabled at $root — use copyIngest"))
    require(wideningsPinnable(cur),
      "copyIngestMapped: a float-target type widening is in force — " +
        "optimize() first")
    val ds = scanSchema(cur).getOrElse(throw new IllegalStateException(
      s"copyIngestMapped: $root uses column mapping without a declared schema"))
    val live = pairs.map(_._2)
    val drift = SchemaDrift.of(ds.filter(f => live.contains(f.name)), data.schema)
    require(drift.isEmpty, s"copyIngestMapped: source schema drifts from v$cur — $drift")
    val id = stageLedger(spark, sources)
    val staged = stageData(data.select(live.map(col): _*), partitions)
    writeFooterStatsSidecar(spark, staged)
    commit(Some(cur), ledgerLines(cur, staged, id))
  }

  /** [[copyIngest]] into a GENERATED ALWAYS AS IDENTITY table (the Delta
    * COPY-INTO-mints shape): ids are assigned with [[appendIdentityStats]]'
    * distributed discipline — per-partition offsets + `row_number`, one
    * contiguous block above the persisted `prop.idhwm.<col>` watermark —
    * and the LEDGER entry, the id-block advance, and the data files land
    * in ONE commit, so a crash or OCC race can neither double-load a
    * source file nor double-mint its ids (re-running the statement after
    * any failure is a no-op or a clean completion, never a skip).
    * `data` must carry `idCol` all-NULL (ALWAYS semantics — the reader
    * serves NULL when the source files lack the column entirely).
    */
  def copyIngestIdentity(
      sources: Seq[(String, Long, Long)],
      data: DataFrame,
      idCol: String,
      start: Long,
      step: Long,
      partitions: Int): Long = {
    require(sources.nonEmpty, "copyIngestIdentity: no source files to load")
    require(step != 0L, "copyIngestIdentity: step must be non-zero")
    val spark = data.sparkSession
    val cur = committedVersion("copyIngestIdentity")
    require(data.columns.contains(idCol),
      s"copyIngestIdentity: identity column $idCol not in the batch")
    val drift = SchemaDrift.of(read(spark, cur).schema, data.schema)
    require(drift.sameColumnsBut(idCol),
      s"copyIngestIdentity: source schema drifts from v$cur — $drift")
    withMintedIds(data, cur, idCol, start, step, read(spark, cur).columns.toSeq,
      s"copyIngestIdentity: $idCol is GENERATED ALWAYS AS IDENTITY — " +
        "source files must not provide values for it") { (assigned, n, hwm) =>
      // ledger staged first (invisible until the meta line references it)
      val id = stageLedger(spark, sources)
      val staged =
        if (n == 0L) Seq.empty[String]
        else stageData(assigned, partitions)
      writeFooterStatsSidecar(spark, staged)
      val lines = ledgerLines(cur, staged, id)
      commit(Some(cur),
        if (n == 0L) lines else withMeta(lines, s"prop.idhwm.$idCol", hwm.toString))
    }
  }

  /** [[overwrite]] staging the frame's OWN partitioning plus footer
    * stats sidecars — the cluster-on-write half of `INSERT OVERWRITE`
    * into a clusterBy table: the replacement content lands range-
    * arranged and immediately skippable, exactly like the append path.
    */
  def overwriteArrangedStats(df: DataFrame): Long = {
    val cur = currentVersion
    val staged = stageArranged(df)
    val v = commit(cur, cur.map(metaLines).getOrElse(Nil) ++ staged)
    writeFooterStatsSidecar(df.sparkSession, staged)
    v
  }

  /** [[appendStrictStats]] staging the frame's OWN partitioning (the
    * cluster-on-write INSERT path): a pre-arranged batch
    * (`repartitionByRange` + `sortWithinPartitions` on the declared
    * clustering keys) must NOT go through [[stageData]]'s generic
    * re-repartition — it would destroy the disjoint per-file ranges the
    * arrangement exists to produce. Schema enforced exactly as
    * [[appendStrict]]; footer min/max sidecars written so the skipping
    * scan prunes the fresh files immediately.
    */
  def appendArrangedStrictStats(df: DataFrame): Long = {
    val spark = df.sparkSession
    currentVersion.foreach { cur =>
      val drift = SchemaDrift.of(read(spark, cur).schema, df.schema)
      require(drift.isEmpty,
        s"appendArrangedStrictStats: batch schema drifts from v$cur — $drift")
    }
    val cur = currentVersion
    val staged = stageArranged(df)
    val v = commit(cur, appendLines(cur, staged))
    writeFooterStatsSidecar(spark, staged)
    v
  }

  /** METADATA-DRIVEN MAINTENANCE PLANNING (the auto-OPTIMIZE advisor
    * shape): inspect the current snapshot's file listing — sizes,
    * tombstone count, live-version count, all metadata, never a data
    * scan — and recommend the maintenance passes whose trigger
    * conditions hold, with the measured count that tripped each:
    *
    *  - `compact_small` when at least `maxSmallFiles` data files are
    *    under `smallBytes` (the streaming-ingest tail — [[compactSmall]]
    *    repacks just the tail);
    *  - `compact` when at least `maxTombstoneFiles` tombstone files mask
    *    reads (every read pays the anti-join until [[compact]]
    *    materializes);
    *  - `expire_vacuum` when more than `maxVersions` versions are live
    *    (metadata walk length and vacuum-protected garbage both grow
    *    with the chain — [[expire]] + [[vacuum]] bound them).
    *
    * Deterministic order, empty when healthy. The caller owns execution
    * and policy thresholds; this is the planning half of the maintenance
    * loop, split out so it can run cheaply and often.
    */
  def maintenancePlan(
      smallBytes: Long,
      maxSmallFiles: Int,
      maxTombstoneFiles: Int,
      maxVersions: Int): Seq[(String, Long)] = {
    val cur = committedVersion("maintenancePlan")
    val nSmall = dataFiles(cur)
      .count(p => new File(dataRootPath, p).length() < smallBytes).toLong
    val nTombs = (tombstoneFiles(cur).size + posDeleteFiles(cur).size).toLong
    val nVersions = versions.size.toLong
    Seq(
      ("compact_small", nSmall, nSmall >= maxSmallFiles),
      ("compact", nTombs, nTombs >= maxTombstoneFiles),
      ("expire_vacuum", nVersions, nVersions > maxVersions))
      .collect { case (action, n, true) => (action, n) }
  }

  /** [[append]] gated by a REFERENTIAL-INTEGRITY check (the FK
    * complement of [[appendChecked]]'s row-local CHECK constraints):
    * every non-null value of `fkCol` in the batch must exist in
    * `refKeys` (a one-column frame of valid keys — typically a
    * snapshot-pinned read of the parent table's key column, which makes
    * the check transactional: validated against a CONSISTENT parent
    * version, not a moving directory). Violations reject the whole
    * batch loudly with the orphan count before anything stages. Cost is
    * one batch-sized left-anti join — at 100 TB the batch is the small
    * side and the parent key column broadcasts or hash-joins on the key.
    * SQL FK semantics: NULL foreign keys pass.
    */
  def appendCheckedRef(
      df: DataFrame,
      partitions: Int,
      fkCol: String,
      refKeys: DataFrame): Long = {
    require(refKeys.columns.length == 1,
      s"appendCheckedRef: refKeys must carry exactly the key column, got ${refKeys.columns.toSeq}")
    import org.apache.spark.sql.functions.col
    val refName = refKeys.columns.head
    val orphans = df.where(col(fkCol).isNotNull)
      .join(refKeys, df(fkCol) === refKeys(refName), "left_anti")
      .count()
    if (orphans > 0)
      throw new IllegalArgumentException(
        s"appendCheckedRef: batch has $orphans row(s) whose '$fkCol' " +
          s"references no key in '$refName' — foreign-key gate rejects the batch")
    append(df, partitions)
  }

  /** Rewrite the current snapshot into `partitions` files (small-file
    * compaction under the log: readers of old versions are untouched, and
    * the old files become vacuum-collectable only once their snapshots
    * expire).
    */
  def compact(spark: SparkSession, partitions: Int): Long = {
    val cur = committedVersion("compact")
    // table metadata (column mapping, optimize pointers) survives the
    // rewrite; tombstones are absorbed (read() is the merge-on-read view)
    commit(Some(cur), metaLines(cur) ++ stageData(read(spark, cur), partitions))
  }

  /** CHANGE DATA FEED from the log's own metadata (the Delta CDF shape):
    * row-level changes across `(fromVersion, toVersion]`, derived from
    * exactly the files each commit ADDED — never by diffing table states.
    * An added data file contributes its rows as `insert`s; an added
    * tombstone contributes `delete`s, materialized as FULL row images by
    * joining the keys against the pre-commit snapshot (the standard CDF
    * materialization; the pre-state side prunes on the key predicate /
    * file stats at scale, so the join is delete-sized, not table-sized).
    * Feed rows carry `_commit_version` and `_change_type` next to the
    * table schema.
    *
    * Defined for the APPEND/DELETE commit class only: a commit that
    * REMOVES files (overwrite, compact, optimize, merge rewrites) is
    * refused loudly — the layout subclass carries no row-level change and
    * the overwrite subclass needs before/after row diffing, which is
    * [[graft.operators.Cdc.snapshotDiff]]'s job, not the feed's.
    */
  def changeFeed(spark: SparkSession, fromVersion: Long, toVersion: Long): DataFrame = {
    val vs = versions
    // fromVersion == head - 1 is the FROM-THE-BEGINNING window: the
    // earliest surviving version's "delta" is its whole listing (the
    // initial snapshot — exactly how the streaming source serves it), so
    // `table_changes(t, 0)` and post-expire floors both work
    require((vs.contains(fromVersion) || fromVersion == vs.head - 1L) &&
        vs.contains(toVersion) && fromVersion < toVersion,
      s"changeFeed: need committed fromVersion < toVersion, got $fromVersion..$toVersion of $vs")
    import org.apache.spark.sql.functions.lit
    val parts = ((fromVersion + 1L) to toVersion).flatMap { v =>
      if (v == vs.head) {
        // the from-the-beginning window: the earliest surviving version
        // is served as its MASKED SNAPSHOT (exactly the streaming
        // source's initial-snapshot batch) — after an expire the head
        // version may carry mask lines, and materializing those as
        // deletes would report dead rows live AND join against v-1,
        // which no longer exists
        if (dataFiles(v).isEmpty) Nil
        else Seq(read(spark, v)
          .withColumn("_commit_version", lit(v))
          .withColumn("_change_type", lit("insert")))
      } else changeDelta(spark, v)
    }
    require(parts.nonEmpty, s"changeFeed: no changes in ($fromVersion, $toVersion]")
    val feed = parts.reduce(_ unionByName _)
    // COLUMN-MAPPED tables serve the feed under LOGICAL names (the
    // machinery above reads physical files; users speak the mapping) —
    // the [[readChanges]] rule, including its uniform-mapping guard: a
    // rename INSIDE the window would mix two namings in one feed.
    columnMapping(toVersion).map(_._2) match {
      case None => feed
      case Some(pairs) =>
        import org.apache.spark.sql.functions.col
        val range = versions.filter(v => v > fromVersion && v <= toVersion)
        val per = range.map(v => columnMapping(v).map(_._2))
        require(per.forall(_.contains(pairs)),
          s"changeFeed: the column mapping moves inside " +
            s"($fromVersion, $toVersion] — a feed cannot mix namings; " +
            "split the feed at the mapping commit")
        val present = feed.columns.toSet
        feed.select(pairs.collect {
          case (l, p) if present(p) => col(p).as(l)
        } ++ Seq(col("_commit_version"), col("_change_type")): _*)
    }
  }

  /** One version's row-level delta for [[changeFeed]] — the
    * non-initial-window commit class (v has a committed parent).
    */
  private def changeDelta(spark: SparkSession, v: Long): Seq[DataFrame] = {
    import org.apache.spark.sql.functions.lit
    {
      // meta lines are table metadata, not files: a metadata commit
      // (rename, optimize pointer) carries no row-level change
      val prev = files(v - 1L).filterNot(isMetaLine)
      val prevSet = prev.toSet
      val curF = files(v).filterNot(isMetaLine)
      val removed = prevSet -- curF.toSet
      require(removed.isEmpty,
        s"changeFeed: v$v removes ${removed.size} file(s) — rewrite/overwrite " +
          "commits carry no row-level feed (diff states via Cdc.snapshotDiff instead)")
      val added = curF.filterNot(prevSet)
      val dataAdds = added.filterNot(isTombLine)
      val delAdds = added.filter(_.startsWith(DelPrefix)).map(_.substring(DelPrefix.length))
      val posAdds = added.filter(_.startsWith(PosDelPrefix)).map(_.substring(PosDelPrefix.length))
      val ins =
        if (dataAdds.isEmpty) Nil
        else Seq(spark.read.parquet(dataAdds.map(p => new File(dataRootPath, p).toString): _*)
          .withColumn("_commit_version", lit(v))
          .withColumn("_change_type", lit("insert")))
      val del =
        if (delAdds.isEmpty) Nil
        else {
          val keys = spark.read.parquet(delAdds.map(p => new File(dataRootPath, p).toString): _*)
          Seq(read(spark, v - 1L).join(keys, keys.columns.toSeq)
            .withColumn("_commit_version", lit(v))
            .withColumn("_change_type", lit("delete")))
        }
      val posDel =
        if (posAdds.isEmpty) Nil
        else {
          // position deletes materialize their full row images by joining
          // the (file, ordinal) addresses against the pre-commit snapshot
          // read WITH addresses — delete-sized, the pos file names exactly
          // which files the scan must visit
          val pos = spark.read.parquet(posAdds.map(p => new File(dataRootPath, p).toString): _*)
          Seq(readWithPositions(spark, v - 1L).join(pos, Seq("_file", "_pos"))
            .drop("_file", "_pos")
            .withColumn("_commit_version", lit(v))
            .withColumn("_change_type", lit("delete")))
        }
      ins ++ del ++ posDel
    }
  }

  /** The data files `version` ADDED over its parent, as ABSOLUTE paths —
    * the unit a table-as-stream consumer reads ([[graft.streaming
    * .StreamingCdc.logStreamReplay]]). Append-class commits only: a
    * commit that removed files is refused loudly (the `ignoreDeletes`
    * contract every table-as-stream source documents — a rewrite carries
    * no append-only row delta), and so is one that added tombstones;
    * route both through [[changeFeed]] / snapshot diffing. For the
    * oldest surviving version the whole listing counts as added (the
    * starting-snapshot batch of a from-the-beginning stream).
    */
  /** Whether `version`'s delta is APPEND-ONLY (no file removed, no
    * tombstone added) — the commit class [[appendedFiles]] accepts and
    * a `skipChangeCommits` stream silently skips when it is not.
    * Metadata-sized.
    */
  def isAppendOnlyCommit(version: Long): Boolean = {
    val vs = versions
    require(vs.contains(version),
      s"isAppendOnlyCommit: v$version is not committed at $root (have $vs)")
    val cur = files(version).filterNot(isMetaLine)
    val prev =
      if (version == vs.head) Seq.empty[String]
      else files(version - 1L).filterNot(isMetaLine)
    val prevSet = prev.toSet
    (prevSet -- cur.toSet).isEmpty && !cur.filterNot(prevSet).exists(isTombLine)
  }

  def appendedFiles(version: Long): Seq[String] = {
    val vs = versions
    require(vs.contains(version),
      s"appendedFiles: v$version is not committed at $root (have $vs)")
    val cur = files(version).filterNot(isMetaLine)
    val prev =
      if (version == vs.head) Seq.empty[String]
      else files(version - 1L).filterNot(isMetaLine)
    val prevSet = prev.toSet
    val removed = prevSet -- cur.toSet
    require(removed.isEmpty,
      s"appendedFiles: v$version removes ${removed.size} file(s) — rewrite " +
        "commits do not stream as appends; consume changeFeed/snapshotDiff instead")
    val added = cur.filterNot(prevSet)
    require(!added.exists(isTombLine),
      s"appendedFiles: v$version adds tombstones — delete commits do not " +
        "stream as appends; consume changeFeed instead")
    added.map(p => new File(dataRootPath, p).toString)
  }

  /** DESCRIBE HISTORY from the log's own metadata (the Delta
    * `DESCRIBE HISTORY` shape): one row per committed version with the
    * operation CLASS derived from the delta's shape alone — adds-only
    * commits split into `append` (data files), `delete` (tombstones),
    * and `append+delete` (both); a commit that removes files is a
    * `rewrite` (compact / optimize / merge / overwrite / restore), and a
    * removes-only commit is a `prune`. Purely metadata-sized: the walk
    * touches delta/checkpoint files, never data. Returned driver-side
    * (version-count rows) for the caller to lift into a frame.
    *
    * Each row: (version, op, addedData, addedTombstones, removed,
    * filesTotal).
    */
  def history: Seq[(Long, String, Int, Int, Int, Int)] =
    versions.map { v =>
      val cur = files(v)
      val prev = if (v == versions.head) Seq.empty[String] else files(v - 1L)
      val prevSet = prev.toSet
      val curSet = cur.toSet
      val addedAll = cur.filterNot(prevSet)
      val removedAll = prev.filterNot(curSet)
      // meta-line churn is table metadata, not file movement: a commit
      // whose entire delta is meta lines is its own `metadata` class
      // (RENAME/DROP COLUMN, optimize pointers), and mixed commits
      // classify by their FILE delta alone
      val added = addedAll.filterNot(isMetaLine)
      val removed = removedAll.count(!isMetaLine(_))
      val addedData = added.count(!isTombLine(_))
      val addedTombs = added.size - addedData
      val op =
        if (added.isEmpty && removed == 0 && (addedAll.nonEmpty || removedAll.nonEmpty))
          "metadata"
        else if (removed > 0 && added.nonEmpty) "rewrite"
        else if (removed > 0) "prune"
        else if (addedData > 0 && addedTombs > 0) "append+delete"
        else if (addedTombs > 0) "delete"
        else if (addedData > 0) "append"
        else "noop"
      (v, op, addedData, addedTombs, removed, cur.count(!isMetaLine(_)))
    }

  /** RESTORE the table to the state of `version`, as a NEW commit (the
    * Delta `RESTORE TABLE ... TO VERSION AS OF` shape): metadata-only —
    * the old snapshot's file listing is re-committed as the next
    * version, no data bytes move, and the versions being rolled past
    * stay fully readable (history is preserved, so the incident can be
    * audited after the rollback). Because every file the restored
    * listing names is still referenced by a live manifest, [[vacuum]]
    * keeps them by construction. Restoring to the current listing is
    * refused — a no-op commit would only fog the history.
    */
  def restoreTo(version: Long): Long = {
    val cur = committedVersion("restoreTo")
    require(versions.contains(version),
      s"restoreTo: version $version is not committed at $root (have $versions)")
    val target = files(version)
    require(target.toSet != files(cur).toSet,
      s"restoreTo: v$version has the same file listing as current v$cur — nothing to restore")
    commit(Some(cur), target)
  }

  /** BIN-PACKING small-file compaction (the production `OPTIMIZE` shape,
    * unlike [[compact]]'s full rewrite): only data files UNDER
    * `targetBytes` are read and re-packed into ~targetBytes outputs;
    * every file already at/above the target is CARRIED into the new
    * snapshot untouched — byte-identical, same path, no read, no write.
    * At 100 TB that asymmetry is the whole point: streaming ingest
    * ([[graft.streaming.StreamingCdc]]) lands thousands of KB-sized
    * files per day next to TB of well-sized history, and maintenance
    * cost must scale with the SMALL tail, not the table. Tombstone
    * files are carried as-is (they keep masking; [[compact]] is the
    * full materialization). Committed atomically; a no-op (fewer than
    * two small files) commits nothing and returns the current version.
    *
    * @return (version, (smallFilesPacked, filesWritten))
    */
  def compactSmall(
      spark: SparkSession,
      targetBytes: Long,
      scope: Option[Set[String]] = None): (Long, (Int, Int)) = {
    require(targetBytes >= 1L, s"compactSmall: targetBytes must be >= 1, got $targetBytes")
    val cur = committedVersion("compactSmall")
    // position deletes / deletion vectors address physical (file,
    // ordinal) rows, and the repack reads its candidates RAW — so files
    // a mask addresses are simply NOT candidates: they carry untouched
    // (their mask lines stay live against them), and only the unmasked
    // small tail repacks. A streaming sink's auto-compaction keeps
    // firing through interleaved DML instead of stalling until a full
    // compact() — the mask-file-sized address read is the entire cost.
    val masked: Set[String] =
      if (posDeleteFiles(cur).isEmpty && dvFiles(cur).isEmpty) Set.empty
      else maskedFiles(spark, cur)
    val data = dataFiles(cur)
    val sized = data.map(p => p -> new File(dataRootPath, p).length())
    // `scope` (the OPTIMIZE … WHERE shape): only in-scope files are
    // candidates for the repack; everything else is carried untouched
    val smalls = sized.filter(_._2 < targetBytes).map(_._1)
      .filter(p => scope.forall(_.contains(p)) && !masked.contains(p))
    if (smalls.size < 2) return (cur, (0, 0))
    val carried = files(cur).filterNot(smalls.toSet)
    // output sizing counts ONLY the files actually repacked — sizing by
    // the full small tail while masks/scope exclude most of it would
    // emit more tiny files than it packs
    val smallSet = smalls.toSet
    val smallBytes = sized.collect { case (p, b) if smallSet(p) => b }.sum
    val nOut = math.max(1L, (smallBytes + targetBytes - 1L) / targetBytes).toInt
    // the repack scan pins the scan schema (declared + widenings) so
    // pre-evolution vintages serve typed NULL / up-cast instead of a
    // footer-lottery schema silently dropping columns; schema-free
    // tables union footers (mergeSchema) for the same reason
    val merged = (scanSchema(cur) match {
      case Some(s) => spark.read.schema(s)
      case None => spark.read.option("mergeSchema", "true")
    }).parquet(smalls.map(p => new File(dataRootPath, p).toString): _*)
    val staged = stageData(merged, nOut)
    (commit(Some(cur), carried ++ staged), (smalls.size, staged.size))
  }

  /** Range-cluster `df` on `sortCols` — ONE column sorts directly; TWO
    * or more interleave as a Z-ORDER curve (true multi-dimensional
    * clustering, the Delta ZORDER shape): each column linearly buckets
    * into 256 cells between its min and max (one aggregation pass for
    * the bounds — at 100 TB that single pass is the price of making
    * EVERY listed dimension skippable, not just the leading one; a
    * lexicographic multi-column sort leaves trailing columns' file
    * ranges full-width and unprunable), the per-column bucket bits
    * interleave into one z-value, and the frame range-partitions + sorts
    * on it. Codegen-friendly: the z-value is shifts/ands/ors, no UDF.
    * NULLs bucket to cell 0; a column with no non-null values buckets
    * constant. Linear bucketing is skew-sensitive where Delta's
    * range-ids are not — a periodic re-run re-derives the bounds.
    */
  private[sources] def clusterArrange(
      df: DataFrame,
      sortCols: Seq[org.apache.spark.sql.Column],
      partitions: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{DateType, NumericType, TimestampType}
    // the linear z-bucketing below needs a NUMERIC axis per column —
    // dates map to epoch-day, timestamps to epoch-second; anything else
    // (strings, binaries) has no meaningful linear min/max (a string's
    // lexicographic bounds cast to NaN/NULL, bucketing EVERY row to cell
    // 0 and funneling the whole rewrite into one partition), so a mixed
    // or non-numeric key set falls back to the lexicographic multi-
    // column range sort — trailing columns prune worse, but every file
    // still gets a disjoint leading-key range and correctness is exact
    lazy val numericAxes: Option[Seq[org.apache.spark.sql.Column]] = {
      val fields = df.select(sortCols: _*).schema.fields
      val axes = fields.zip(sortCols).map {
        case (f, c) => f.dataType match {
          case _: NumericType => Some(c.cast("double"))
          case DateType => Some(unix_date(c).cast("double"))
          case TimestampType => Some(c.cast("double"))
          case _ => None
        }
      }
      if (axes.forall(_.isDefined)) Some(axes.map(_.get).toSeq) else None
    }
    if (sortCols.size <= 1 || numericAxes.isEmpty)
      df.repartitionByRange(partitions, sortCols: _*)
        .sortWithinPartitions(sortCols: _*)
    else {
      val axes = numericAxes.get
      val aggs = axes.flatMap(c => Seq(min(c), max(c)))
      val stats = df.agg(aggs.head, aggs.tail: _*).head()
      // bits per column shrink with dimensionality so the interleaved
      // z-value stays inside 31 bits (never drop HIGH bucket bits — that
      // would destroy the curve's ordering)
      val n = sortCols.size
      val bits = math.max(1, math.min(8, 31 / n))
      val cells = 1 << bits
      val bucketed = axes.zipWithIndex.map { case (c, i) =>
        if (stats.isNullAt(2 * i) || stats.isNullAt(2 * i + 1)) lit(0)
        else {
          val lo = stats.getDouble(2 * i)
          val hi = stats.getDouble(2 * i + 1)
          val width = math.max(hi - lo, 1e-12)
          coalesce(least(lit(cells - 1), greatest(lit(0),
            floor((c - lit(lo)) / lit(width) * cells.toDouble)
              .cast("int"))), lit(0))
        }
      }
      require(!df.columns.contains("__zorder"),
        "clusterArrange: a table column named __zorder collides with the " +
          "z-value staging name; rename it first")
      val z = (0 until bits).flatMap { bit =>
        bucketed.zipWithIndex.map { case (b, j) =>
          shiftleft(shiftright(b, bit).bitwiseAND(lit(1)), bit * n + (n - 1 - j))
        }
      }.reduce(_.bitwiseOR(_))
      df.withColumn("__zorder", z)
        .repartitionByRange(partitions, col("__zorder"))
        .sortWithinPartitions(col("__zorder"))
        .drop("__zorder")
    }
  }

  /** The cluster-on-write arrangement: `df` range-partitioned into
    * `partitions` on `keys`, each partition sorted by them, so footer
    * stats give disjoint per-file ranges.
    */
  private[sources] def rangeArrange(df: DataFrame, keys: Seq[String], partitions: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.repartitionByRange(partitions, keys.map(col): _*)
      .sortWithinPartitions(keys.map(col): _*)
  }

  /** OPTIMIZE under the log (the Delta `OPTIMIZE ... ZORDER/ORDER BY`
    * shape): rewrite the current snapshot RANGE-CLUSTERED on `sortCols` —
    * `repartitionByRange` gives every output file a disjoint key range
    * (Spark's range partitioner maps each key to exactly one partition)
    * and `sortWithinPartitions` orders rows inside each file, so
    * min/max-based scan planning (zone maps, parquet footer stats) prunes
    * to the few files whose range matches instead of sampling every file.
    * Committed atomically like any rewrite; pinned readers of the
    * unclustered versions are untouched. The staged files are written
    * WITHOUT the generic re-repartition (it would destroy the clustering).
    */
  def optimize(
      spark: SparkSession,
      partitions: Int,
      sortCols: Seq[org.apache.spark.sql.Column]): Long = {
    require(sortCols.nonEmpty, "optimize: need at least one clustering column")
    val cur = committedVersion("optimize")
    val arranged = clusterArrange(read(spark, cur), sortCols, partitions)
    // read() is the merge-on-read view, and ONLY the staged rewrite is
    // committed — outstanding key tombstones and position deletes are
    // ABSORBED into the clustered files (merge-on-read → copy-on-write
    // compaction; the post-optimize snapshot carries zero tombstone
    // lines and reads bitwise-equal to the pre-optimize masked view).
    // Table metadata survives; `lastopt` records this version so
    // [[optimizeIncremental]] knows which files are already clustered.
    val next = cur + 1L
    val staged = stageArranged(arranged)
    val v = commit(Some(cur),
      withMeta(metaLines(cur), "lastopt", next.toString) ++ staged)
    // footer-derived min/max sidecars over the freshly-clustered files:
    // zero extra data pass (driver-side footer reads), and the point of
    // clustering — manifest-level file skipping — works immediately
    writeFooterStatsSidecar(spark, staged)
    v
  }

  /** INCREMENTAL OPTIMIZE (the liquid-clustering maintenance shape):
    * range-cluster ONLY the files appended since the last optimize,
    * leaving every already-clustered file untouched — under a steady
    * append load this bounds each maintenance pass to the NEW data
    * (batch-sized), where the full [[optimize]] rewrite is table-sized
    * and quadratic-ish in total churn at 100 TB. The still-clustered
    * set is recovered from the `lastopt` meta pointer: files present in
    * BOTH the last-optimized snapshot and the current one are clustered
    * by construction (files are immutable). The read-back content equals
    * a full rewrite's (same rows, only file grouping differs); global
    * cross-file range disjointness is deliberately NOT maintained — the
    * new files cluster among themselves, which is exactly the liquid
    * trade (per-file min/max stats still prune; a periodic full
    * [[optimize]] restores global disjointness when wanted).
    *
    * Falls back to the full rewrite when no optimize ever ran (or its
    * version expired). COMPOSES with outstanding merge-on-read deletes
    * (no forced compact between a deleteWhere and the maintenance pass):
    * the fresh-file scan is read under the snapshot's masks, so the
    * rewrite absorbs the deletes that hit FRESH files, while every mask
    * line is carried forward — position-delete entries against the
    * rewritten files become inert (their file paths leave the manifest)
    * and entries against clustered files keep masking exactly as before.
    * Key tombstones mask by key at read on every file, carried unchanged.
    * Read-back is bitwise the pre-optimize masked view either way.
    *
    * @return (committed version, (files rewritten, clustered files carried))
    */
  def optimizeIncremental(
      spark: SparkSession,
      partitions: Int,
      sortCols: Seq[org.apache.spark.sql.Column]): (Long, (Int, Int)) = {
    require(sortCols.nonEmpty, "optimizeIncremental: need at least one clustering column")
    val cur = committedVersion("optimizeIncremental")
    val lastOpt = metaValues(cur).get("lastopt").map(_.toLong).filter(versions.contains)
    lastOpt match {
      case None =>
        val v = optimize(spark, partitions, sortCols)
        (v, (dataFiles(cur).size, 0))
      case Some(l) =>
        val clustered = dataFiles(l).toSet.intersect(dataFiles(cur).toSet)
        val fresh = dataFiles(cur).filterNot(clustered)
        if (fresh.isEmpty) (cur, (0, clustered.size))
        else {
          // masked scan: deletes that hit fresh files are absorbed by
          // the rewrite (never resurrected); mask lines ride in
          // `carried` below for the untouched clustered files
          val arranged = clusterArrange(
            applyMasks(spark, cur, spark.read
              .parquet(fresh.map(p => new File(dataRootPath, p).toString): _*)),
            sortCols, partitions)
          val staged = stageArranged(arranged)
          val next = cur + 1L
          val carried = files(cur).filterNot(fresh.toSet)
          val v = commit(Some(cur),
            withMeta(carried, "lastopt", next.toString) ++ staged)
          // footer-derived min/max sidecars over the freshly-clustered
          // files (same zero-data-pass step as the full [[optimize]]):
          // without them the incremental route's output files would
          // plan conservatively and skipping would decay per pass
          writeFooterStatsSidecar(spark, staged)
          (v, (fresh.size, clustered.size))
        }
    }
  }

  /** OPTIMIZE scoped to an explicit FILE SUBSET (the engine half of the
    * Delta `OPTIMIZE t WHERE <predicate>` shape — the caller resolves
    * the predicate to candidate files via stats sidecars, this method
    * rewrites exactly those): the subset is read under the snapshot's
    * masks, range-clustered on `sortCols`, and committed with every
    * out-of-scope file CARRIED BYTE-IDENTICAL — maintenance cost scales
    * with the matched partition of the data, never the table. Mask
    * lines ride forward exactly as in [[optimizeIncremental]] (absorbed
    * for rewritten files, still masking carried ones). `lastopt` is NOT
    * advanced — a later bare incremental pass conservatively treats the
    * scoped output as fresh, which only re-clusters, never corrupts.
    *
    * @return (committed version, (files rewritten, files staged))
    */
  def optimizeFiles(
      spark: SparkSession,
      partitions: Int,
      sortCols: Seq[org.apache.spark.sql.Column],
      subset: Seq[String]): (Long, (Int, Int)) = {
    require(sortCols.nonEmpty, "optimizeFiles: need at least one clustering column")
    val cur = committedVersion("optimizeFiles")
    val live = dataFiles(cur).toSet
    val dangling = subset.filterNot(live)
    require(dangling.isEmpty,
      s"optimizeFiles: ${dangling.take(3).mkString(", ")} are not data files " +
        s"of v$cur — the scope must name current-snapshot files")
    if (subset.size < 2) return (cur, (0, 0)) // nothing to regroup
    val arranged = clusterArrange(
      applyMasks(spark, cur, spark.read
        .parquet(subset.map(p => new File(dataRootPath, p).toString): _*)),
      sortCols, partitions)
    val staged = stageArranged(arranged)
    val carried = files(cur).filterNot(subset.toSet)
    val v = commit(Some(cur), carried ++ staged)
    writeFooterStatsSidecar(spark, staged)
    (v, (subset.size, staged.size))
  }

  /** Predicate-level row DELETE (the `DELETE FROM t WHERE …` sugar over
    * the merge-on-read machinery): rows matching `predicate` on the
    * CURRENT snapshot are resolved to their physical (file, row-ordinal)
    * addresses via [[readWithPositions]] and committed as one position-
    * delete file — delete-sized work and metadata, zero data rewritten,
    * no unique key required. The matched set excludes rows already
    * masked (the predicate runs over the merge-on-read view), so
    * repeated deletes are idempotent. [[optimize]]/[[compact]] later
    * absorb the tombstones into rewritten files.
    *
    * @return (committed version — unchanged when nothing matched,
    *         rows deleted)
    */
  def deleteWhere(
      spark: SparkSession,
      predicate: org.apache.spark.sql.Column): (Long, Long) = {
    import org.apache.spark.sql.functions.col
    val cur = committedVersion("deleteWhere")
    if (dataFiles(cur).isEmpty) return (cur, 0L) // declared-empty table
    // Stage FIRST (the updateWhere discipline): the predicate scan is the
    // ONLY evaluation of the matched set — the old shape pre-counted with
    // a second full table scan before deletePositions staged the same
    // addresses again. The count, the per-file validation set, and the
    // committed artifact all read the ordinal-sized staged file.
    val matched = readWithPositions(spark, cur)
      .where(predicate)
      .select(col("_file").cast("string"), col("_pos").cast("long"))
    val staged = stageData(matched, 1)
    import spark.implicits._
    // one job over the address file: per-file counts give n AND the
    // dangling-reference check in a single driver-sized collect
    val perFile = spark.read
      .parquet(staged.map(p => new File(dataRootPath, p).toString): _*)
      .groupBy(col("_file")).count()
      .as[(String, Long)].collect()
    val n = perFile.map(_._2).sum
    if (n == 0L) {
      // nothing matched — remove the empty staged address file instead of
      // leaving an orphan for vacuum, and commit nothing
      staged.foreach(p => new File(dataRootPath, p).delete())
      (cur, 0L)
    } else {
      val live = dataFiles(cur).toSet
      val dangling = perFile.map(_._1).filterNot(live)
      require(dangling.isEmpty, // structurally impossible (addresses come
        // from this snapshot's own scan) — kept for the loud-failure
        // discipline deletePositions documents
        s"deleteWhere: positions reference file(s) not in snapshot v$cur: " +
          dangling.sorted.take(5).mkString(", "))
      (commit(Some(cur), files(cur) ++ staged.map(PosDelPrefix + _)), n)
    }
  }

  /** Predicate-level UPDATE (`UPDATE t SET … WHERE …`) as DELETE + APPEND
    * in ONE atomic commit: matching rows' addresses become a position-
    * delete file AND their updated images become new data files, both
    * referenced by the same manifest version — a reader sees either the
    * fully pre-update or the fully post-update table, never a torn
    * middle. `set` expressions may reference the row's own old values
    * (`"v" -> col("v") * 2`). Update-sized work: only matching rows are
    * rewritten (merge-on-read; the untouched files are carried), where a
    * copy-on-write UPDATE would rewrite every grazed file.
    *
    * @return (committed version — unchanged when nothing matched,
    *         rows updated)
    */
  def updateWhere(
      spark: SparkSession,
      predicate: org.apache.spark.sql.Column,
      set: Seq[(String, org.apache.spark.sql.Column)],
      partitions: Int = 0,
      checks: Seq[(String, org.apache.spark.sql.Column)] = Nil): (Long, Long) = {
    import org.apache.spark.sql.functions.col
    require(set.nonEmpty, "updateWhere: need at least one SET assignment")
    val cur = committedVersion("updateWhere")
    if (dataFiles(cur).isEmpty) return (cur, 0L) // declared-empty table
    val base = readWithPositions(spark, cur)
    val baseCols = base.columns.toSeq.filterNot(c => c == "_file" || c == "_pos")
    // __u<i> are this method's staging names: a table column spelled that
    // way would be silently overwritten by the temp value and committed —
    // refuse loudly (the mergeInto reserved-name discipline)
    require(!baseCols.exists(_.matches("__u\\d+")),
      s"updateWhere: table columns ${baseCols.filter(_.matches("__u\\d+")).mkString(", ")} " +
        "collide with the reserved UPDATE staging names __u<n>; rename them first")
    set.foreach { case (n, _) =>
      require(baseCols.contains(n),
        s"updateWhere: SET names unknown column $n — UPDATE assigns existing columns " +
          s"only (have ${baseCols.mkString(", ")}); evolve the schema via append instead")
    }
    val matched = base.where(predicate)
    // Freeze the matched row set ONCE: staging the addresses is the only
    // evaluation of the predicate, and both commit artifacts derive from
    // that frozen file — the position-delete file IS it, and the updated
    // images join the deterministic scan back to it by (file, ordinal).
    // (r11 evaluated `matched` in three independent jobs; a
    // nondeterministic predicate or input could commit position deletes
    // and new images describing DIFFERENT row sets in one "atomic"
    // commit, silently corrupting the table.)
    val posStaged = stageData(
      matched.select(col("_file").cast("string"), col("_pos").cast("long")), 1)
    val addrs = spark.read.parquet(
      posStaged.map(p => new File(dataRootPath, p).toString): _*)
    val n = addrs.count()
    if (n == 0L) {
      // nothing matched — remove the empty staged address file instead of
      // leaving an orphan for vacuum
      posStaged.foreach(p => new File(dataRootPath, p).delete())
      (cur, 0L)
    } else {
      // every SET expression reads the OLD row (the SQL UPDATE rule):
      // stage new values in temp columns BEFORE any target column is
      // overwritten, so `SET v = v*2, w = v` sees the pre-update v
      val matchedRows = base.join(addrs, Seq("_file", "_pos"), "left_semi")
      val withTmp = set.zipWithIndex.foldLeft(matchedRows) {
        case (d, ((_, c), i)) => d.withColumn(s"__u$i", c)
      }
      val updated0 = set.zipWithIndex.foldLeft(withTmp) {
        case (d, ((name, _), i)) => d.withColumn(name, col(s"__u$i"))
      }
      // CHECK enforcement rides the staged write itself (a raise_error
      // guard folded into the first output column — the repo's
      // zero-extra-scan loud-failure discipline): an updated row that
      // violates a constraint fails the WRITE JOB before anything
      // commits. ANSI semantics: only FALSE violates, NULL passes.
      val updated = (if (checks.isEmpty) updated0
        else {
          import org.apache.spark.sql.functions.{coalesce, lit, raise_error, when}
          val allOk = checks.map { case (_, c) => coalesce(c, lit(true)) }
            .reduce(_ && _)
          val names = checks.map(_._1).mkString(", ")
          updated0.withColumn(baseCols.head,
            when(allOk, col(baseCols.head)).otherwise(raise_error(lit(
              s"updateWhere: an updated row violates CHECK constraint(s) " +
                s"[$names] — nothing committed"))))
        }).select(baseCols.map(col): _*)
      // partitions = 0 (the default) auto-sizes the staged update
      // images by MATCHED ROWS (~1M per file, capped): a 10-row UPDATE
      // stages one file, a billion-row UPDATE never funnels through a
      // single writer — the update-sized-at-100-TB shape
      val parts =
        if (partitions > 0) partitions
        else math.max(1, math.min(200, ((n + 999999L) / 1000000L).toInt))
      val dataStaged = stageData(updated, parts)
      (commit(Some(cur),
        files(cur) ++ posStaged.map(PosDelPrefix + _) ++ dataStaged), n)
    }
  }

  /** CHANGE DATA FEED over a committed version range (the Delta CDF /
    * Iceberg incremental-changelog shape) computed purely from the log's
    * per-version FILE DELTAS — zero extra write-path cost, nothing new
    * persisted: every row the commits in `(fromExclusive, toInclusive]`
    * inserted or deleted, as the table's columns plus `_change_type`
    * ('insert' | 'delete') and `_commit_version`. An UPDATE rides as its
    * delete pre-image + insert post-image under one version (the
    * add/remove-file representation Delta falls back to without CDC
    * files); reorg commits — compact, optimize, deletion-vector
    * collapse — net to ZERO rows by construction. `fromExclusive = -1`
    * reads from the first commit.
    *
    * Scale: the common commits (append, merge-on-read delete / update)
    * cost CHANGE-sized reads — only the delta's own files open (new data
    * files; new position-delete files plus the exact rows they address;
    * a key tombstone pays the one masked read its own semantics require).
    * Only commits that REMOVE data files (copy-on-write delete, merge,
    * compact, optimize) pay a multiset diff (`exceptAll`) over the
    * touched files — rewrite-scoped; a compact in range therefore costs
    * a scan of what that compact rewrote, and proves itself a no-op.
    *
    * Column-mapped snapshots are refused loudly (physical names would
    * leak into the feed); pre-image reads need the PARENT version's
    * manifest, so feeds across [[expireVersions]]' horizon refuse too.
    */
  def readChanges(
      spark: SparkSession,
      fromExclusive: Long,
      toInclusive: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, regexp_extract}
    val vs = versions
    require(fromExclusive < toInclusive,
      s"readChanges: empty range ($fromExclusive, $toInclusive]")
    require(vs.contains(toInclusive),
      s"readChanges: v$toInclusive does not exist (have ${vs.mkString(", ")})")
    require(fromExclusive == -1L || vs.contains(fromExclusive),
      s"readChanges: from-version v$fromExclusive does not exist " +
        "(expired or never committed)")
    val range = vs.filter(v => v > fromExclusive && v <= toInclusive)
    range.foreach { v =>
      require(v == 0L || vs.contains(v - 1L),
        s"readChanges: v$v's parent v${v - 1} is expired — pre-images are " +
          "unrecoverable; start the feed at a retained boundary")
    }
    // COLUMN-MAPPED ranges serve under the mapping's LOGICAL names —
    // the change machinery below runs in physical names (exactly as the
    // mapped batch scan does) and the final projection translates. The
    // mapping must be UNIFORM across the range: a rename or enable
    // INSIDE it would mix two namings in one feed — split there instead.
    val mappedPairs: Option[Seq[(String, String)]] = {
      val per = range.map(v => columnMapping(v).map(_._2))
      val defined = per.flatten.distinct
      require(defined.size <= 1 && (defined.isEmpty || per.forall(_.isDefined)),
        s"readChanges: the column mapping moves inside " +
          s"($fromExclusive, $toInclusive] — a feed cannot mix namings; " +
          "split the feed at the mapping commit")
      defined.headOption
    }
    mappedPairs.foreach { _ =>
      require(columnTypes(toInclusive).isEmpty,
        s"readChanges: v$toInclusive declares type widenings — the feed's " +
          "physical scan cannot read heterogeneous stages; optimize() first")
    }
    val outSchema = read(spark, toInclusive).schema
    val outCols = outSchema.fieldNames.toSeq
    val reserved = Seq("_change_type", "_commit_version", "_file", "_pos")
    require(!outCols.exists(reserved.contains) &&
        !mappedPairs.exists(_.exists(p => reserved.contains(p._1))),
      s"readChanges: table columns collide with ${reserved.mkString(", ")}")

    def paths(ps: Seq[String]) = ps.map(p => new File(dataRootPath, p).toString)
    def withAddr(d: DataFrame): DataFrame = d
      .withColumn("_file",
        regexp_extract(col("_metadata.file_path"), "(data/[^/]+/[^/]+)$", 1))
      .withColumn("_pos", col("_metadata.row_index"))
    // a range spanning a metadata-only ADD COLUMNS commit serves
    // pre-evolution versions' rows with typed NULL for the later-added
    // columns (exactly what a batch read of those versions sees) instead
    // of dying on the missing attribute
    def conform(d: DataFrame): DataFrame = {
      val have = d.columns.toSet
      outSchema.fields.foldLeft(d) { (acc, f) =>
        if (have(f.name)) acc
        else acc.withColumn(f.name, lit(null).cast(f.dataType))
      }
    }
    def shape(d: DataFrame, ct: String, v: Long): DataFrame =
      conform(d).select(outCols.map(col): _*)
        .withColumn("_change_type", lit(ct))
        .withColumn("_commit_version", lit(v))

    val perVersion: Seq[DataFrame] = range.flatMap { v =>
      val prevLines = if (v == 0L) Seq.empty[String] else files(v - 1L)
      val curLines = files(v)
      val prevSet = prevLines.toSet
      val curSet = curLines.toSet
      val added = curLines.filterNot(prevSet)
      val removed = prevLines.filterNot(curSet)
      def dataOf(ls: Seq[String]) = ls.filter(l => !isMetaLine(l) && !isTombLine(l))
      val addedData = dataOf(added)
      val removedData = dataOf(removed)
      val addedPos = added.filter(_.startsWith(PosDelPrefix)).map(_.stripPrefix(PosDelPrefix))
      val addedTomb = added.filter(_.startsWith(DelPrefix)).map(_.stripPrefix(DelPrefix))
      // dv lines are only ever minted by [[writeDeleteVectors]]' pure mask
      // collapse (masked set unchanged); anything else is an unknown
      // producer this feed must not guess about
      if (added.exists(_.startsWith(DvPrefix)))
        require(addedData.isEmpty && removedData.isEmpty &&
            addedPos.isEmpty && addedTomb.isEmpty,
          s"readChanges: v$v adds deletion vectors alongside data changes — " +
            "not a known commit shape, refusing to infer its change set")

      // deletes minted by NEW masks: position deletes address exact rows
      // (pre-images read from the immutable referenced files); a key
      // tombstone masks by value over the parent's visible rows
      val posPre =
        if (addedPos.isEmpty) None
        else {
          val addrs = spark.read.parquet(paths(addedPos): _*)
          import spark.implicits._
          val refs = addrs.select(col("_file")).distinct().as[String].collect().toSeq
          Some(withAddr(spark.read.parquet(paths(refs): _*))
            .join(addrs, Seq("_file", "_pos"), "left_semi")
            .drop("_file", "_pos"))
        }
      val keyPre =
        if (addedTomb.isEmpty) None
        else {
          val keys = spark.read.parquet(paths(addedTomb): _*)
          Some(read(spark, v - 1L).join(keys, keys.columns.toSeq, "left_semi"))
        }

      // file-level adds/removes, each side mask-visible AT ITS version;
      // the multiset diff cancels rewrite-carried rows so reorgs net zero
      val addVis =
        if (addedData.isEmpty) None
        else Some(conform(applyMasks(spark, v,
          spark.read.option("mergeSchema", "true").parquet(paths(addedData): _*)))
          .select(outCols.map(col): _*))
      val remVis =
        if (removedData.isEmpty) None
        else Some(conform(applyMasks(spark, v - 1L,
          spark.read.option("mergeSchema", "true").parquet(paths(removedData): _*)))
          .select(outCols.map(col): _*))
      val (ins, fileDel) = (addVis, remVis) match {
        case (Some(a), Some(r)) => (Some(a.exceptAll(r)), Some(r.exceptAll(a)))
        case other => other
      }
      (posPre.toSeq ++ keyPre.toSeq ++ fileDel.toSeq).map(shape(_, "delete", v)) ++
        ins.toSeq.map(shape(_, "insert", v))
    }
    val empty = shape(read(spark, toInclusive).limit(0), "insert", 0L).limit(0)
    val physical = perVersion.foldLeft(empty)(_.unionByName(_))
    mappedPairs match {
      case None => physical
      case Some(pairs) =>
        // translate to the mapping's logical names (physical columns a
        // dropped mapping entry no longer names simply fall away)
        val present = physical.columns.toSet
        physical.select(pairs.collect {
          case (l, p) if present(p) => col(p).as(l)
        } ++ Seq(col("_change_type"), col("_commit_version")): _*)
    }
  }

  /** COPY-ON-WRITE predicate DELETE (the Iceberg-v1 delete shape, the
    * SQL-surface complement of the merge-on-read [[deleteWhere]]):
    * resolve the matching rows' FILES, rewrite only those grazed files
    * WITHOUT the matching rows, carry every other file untouched — one
    * atomic commit, NO outstanding masks afterwards, so a raw scan
    * (the DSv2 catalog's SQL read) stays valid with no compact step.
    * Work scales with grazed files, not the table; the merge-on-read
    * variant stays the cheaper choice when reads go through the API.
    *
    * Composes with existing masks: the rewrite reads the MASKED view,
    * so prior deletes absorb into the rewritten files; carried mask
    * lines keep masking untouched files and are inert against the
    * rewritten ones. Addresses are staged ONCE (the [[updateWhere]]
    * determinism discipline) and both the grazed-file set and the
    * delete count derive from that frozen file.
    *
    * @return (committed version — unchanged when nothing matched,
    *         rows deleted)
    */
  def deleteWhereCow(
      spark: SparkSession,
      predicate: org.apache.spark.sql.Column): (Long, Long) = {
    import org.apache.spark.sql.functions.col
    val cur = committedVersion("deleteWhereCow")
    if (dataFiles(cur).isEmpty) return (cur, 0L) // declared-empty table
    val base = readWithPositions(spark, cur)
    val addrStaged = stageData(
      base.where(predicate)
        .select(col("_file").cast("string"), col("_pos").cast("long")), 1)
    val addrs = spark.read.parquet(
      addrStaged.map(p => new File(dataRootPath, p).toString): _*)
    import spark.implicits._
    val grazed = addrs.select(col("_file")).distinct().as[String].collect().toSeq.sorted
    val n = addrs.count()
    def dropAddrStage(): Unit =
      addrStaged.foreach(p => new File(dataRootPath, p).delete())
    if (n == 0L) { dropAddrStage(); (cur, 0L) }
    else {
      val inGrazed = base.where(col("_file").isin(grazed: _*))
      val survivors = inGrazed
        .join(addrs, Seq("_file", "_pos"), "left_anti")
        .drop("_file", "_pos")
      // a delete that empties every grazed file stages nothing (an empty
      // write can produce zero part files, which stageData refuses). The
      // emptiness probe stops at the FIRST surviving row — the old
      // `inGrazed.count() == n` equivalent paid one extra full scan of
      // every grazed file on every COW delete
      val staged =
        if (survivors.limit(1).count() == 0L) Seq.empty[String]
        else stageData(survivors, math.max(1, grazed.size))
      val grazedSet = grazed.toSet
      val carried = files(cur).filterNot(grazedSet)
      // a delete that empties the WHOLE table (TRUNCATE) declares the
      // pre-delete schema in the commit, so the data-less table keeps
      // reading as the empty relation — the [[createEmpty]] state
      val lines =
        if (staged.isEmpty && !carried.exists(l => !isMetaLine(l) && !isTombLine(l)))
          withMeta(carried, "schema", org.apache.spark.sql.types.StructType(
            base.schema.filterNot(f => f.name == "_file" || f.name == "_pos")).json)
        else carried ++ staged
      val v = commit(Some(cur), lines)
      dropAddrStage()
      (v, n)
    }
  }

  /** Predicate-scoped atomic OVERWRITE (Delta's `replaceWhere` — THE
    * idempotent-backfill primitive): in ONE commit, every row matching
    * `predicate` leaves the table and `df`'s rows land. Only the files
    * the predicate actually GRAZES rewrite (their non-matching survivors
    * are carried into fresh files); every other file rides the manifest
    * untouched — a day-scoped backfill over a date-clustered 100 TB
    * table rewrites that day's files, not the table. Every NEW row must
    * satisfy `predicate` (a raise_error guard riding the staged write —
    * the Delta replaceWhere constraint): without it the statement could
    * write outside its declared scope and a re-run would not be
    * idempotent. Position deletes and deletion vectors compose (the
    * scan is position-aware; those mask lines are file-scoped — live
    * for untouched files, inert for rewritten and new ones); KEY
    * tombstones compose too — their carried-file maskings materialize
    * as position deletes in the same commit and the key-addressed lines
    * drop, so a tombstoned key re-inserted by the replacement serves
    * the new row (hash-equal to the compact-first route).
    * Footer stats sidecars cover both the survivor and the new files,
    * so skipping keeps working.
    *
    * Scale shape (the 100× plan): grazed-file DISCOVERY scans only the
    * [[statsCandidateFiles]] whose sidecar stats intersect the predicate
    * — a day-scoped backfill over a date-clustered 100 TB table reads
    * that day's files to find matches, never the table; the replacement
    * and survivor writes are BYTE-SIZED (`targetBytes` per output file —
    * [[stageDataSized]]'s AQE rebalance for the unknown-size replacement,
    * `ceil(grazedBytes / target)` for the known-size survivors), never a
    * fixed task cap.
    * Returns (version, (rowsDeleted, rowsInserted)).
    */
  def replaceWhere(
      spark: SparkSession,
      df: DataFrame,
      predicate: org.apache.spark.sql.Column,
      targetBytes: Long = 128L * 1024 * 1024,
      // streaming-transaction watermark (the [[appendTxn]] discipline):
      // the `txn.<appId>=batchId` mark rides the SAME commit as the
      // scoped overwrite, so a redelivered trigger re-replacing its own
      // scope is a structural no-op, not a hopeful one
      txn: Option[(String, Long)] = None): (Long, (Long, Long)) = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, raise_error, when}
    val cur = committedVersion("replaceWhere")
    txn.foreach { case (app, b) =>
      val wm = metaValues(cur).get(s"txn.$app").map(_.toLong).getOrElse(-1L)
      if (b <= wm) return (cur, (0L, 0L))
    }
    // KEY tombstones COMPOSE (the r16 lift of the old refusal): their
    // maskings on CARRIED files are materialized as file-scoped POSITION
    // deletes in this same commit and the key-addressed lines dropped —
    // so a tombstoned key re-inserted by the replacement serves the NEW
    // row while every pre-delete row stays dead (hash-equal to the
    // compact-first route, without the table-sized compaction). Grazed
    // files need nothing: their survivors are read mask-applied.
    val tombs = tombstoneFiles(cur)
    // appendStrict's gate, names AND types: a retyped replacement column
    // would commit parquet the declared-schema scan can never read back.
    // On a COLUMN-MAPPED table the machinery runs in PHYSICAL names (the
    // names the files and sidecars carry — callers translate): the gate
    // pins the LIVE mapped physical fields of the declared scan schema.
    val mappedPairs = columnMapping(cur)
    val baseSchema = mappedPairs match {
      case Some((_, pairs)) =>
        require(tombs.isEmpty,
          "replaceWhere: key tombstones do not compose with column mapping " +
            "(they store delete-time logical names); compact() first")
        require(wideningsPinnable(cur),
          "replaceWhere: a float-target type widening is in force — the " +
            "pinned scan cannot up-cast it; optimize() first")
        val ds = scanSchema(cur).getOrElse(throw new IllegalStateException(
          s"replaceWhere: $root uses column mapping without a declared " +
            "schema — the physical scan cannot be pinned"))
        val live = pairs.map(_._2).toSet
        require(live.subsetOf(ds.fieldNames.toSet),
          s"replaceWhere: declared schema does not cover the mapping's " +
            s"physical ids (${(live -- ds.fieldNames.toSet).mkString(", ")})")
        org.apache.spark.sql.types.StructType(ds.filter(f => live(f.name)))
      case None => read(spark, cur).schema
    }
    val baseCols = baseSchema.fieldNames.toSeq
    val drift = SchemaDrift.of(baseSchema, df.schema)
    require(drift.isEmpty, s"replaceWhere: batch schema drifts from v$cur — $drift")
    // scope guard: NULL counts as outside the scope (only TRUE admits)
    val guarded = df.withColumn(baseCols.head,
      when(coalesce(predicate, lit(false)), col(baseCols.head))
        .otherwise(raise_error(lit(
          "replaceWhere: a replacement row falls outside the REPLACE WHERE " +
            "predicate — nothing committed"))))
      .select(baseCols.map(col): _*)
    // an EMPTY replacement is the scoped-delete form of the statement
    val stagedNew = stageDataSized(guarded, targetBytes, allowEmpty = true)
    val nIns = footerRowCount(stagedNew.map(p => new File(dataRootPath, p).toString))
    // grazed files + survivor rewrite — the deleteWhereCow shape, with
    // the discovery scan STATS-PRUNED to the files whose recorded
    // sidecar ranges/values intersect the predicate (a file the stats
    // exclude cannot hold a matching row, so the grazed set is exact)
    val candidates =
      if (dataFiles(cur).isEmpty) Seq.empty[String]
      else statsCandidateFiles(spark, cur, predicate)
    val base =
      if (candidates.isEmpty) null
      else readWithPositionsOf(spark, cur, candidates)
    val (grazed, nDel, stagedSurv) =
      if (base == null) (Seq.empty[String], 0L, Seq.empty[String])
      else {
        val matching = base.where(predicate)
          .select(col("_file").cast("string"), col("_pos").cast("long"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          import spark.implicits._
          val g = matching.select(col("_file")).distinct().as[String]
            .collect().toSeq.sorted
          val n = matching.count()
          if (n == 0L) (Seq.empty[String], 0L, Seq.empty[String])
          else {
            val inGrazed = base.where(col("_file").isin(g: _*))
            // survivors project to the LIVE columns (on a mapped table
            // the pinned scan also carries dropped-column physical ids —
            // re-staging those would re-materialize ghost data)
            val survivors = inGrazed.where(!coalesce(predicate, lit(false)))
              .select(baseCols.map(col): _*)
            // survivor bytes are bounded by the grazed files' on-disk
            // bytes (already in hand from the manifest walk — zero IO):
            // ceil(bytes / target), the byte-sizing OPTIMIZE uses
            val grazedBytes = g.map(p => new File(dataRootPath, p).length()).sum
            val parts = math.max(1L, (grazedBytes + targetBytes - 1L) / targetBytes).toInt
            val s =
              if (survivors.limit(1).count() == 0L) Seq.empty[String]
              else stageData(survivors, parts)
            (g, n, s)
          }
        } finally { matching.unpersist(); () }
      }
    writeFooterStatsSidecar(spark, stagedNew)
    if (stagedSurv.nonEmpty) writeFooterStatsSidecar(spark, stagedSurv)
    val grazedSet = grazed.toSet
    // key-tombstone composition: every masking a tombstone still owes on
    // a CARRIED data file becomes a position delete (file-scoped — inert
    // for the staged replacement), and the key-addressed lines drop in
    // this same commit. The conversion scan touches only carried files
    // (the table's MOR debt), never a rewrite.
    val stagedTombPos: Seq[String] =
      if (tombs.isEmpty) Seq.empty
      else {
        import org.apache.spark.sql.functions.{max => smax, min => smin, regexp_extract}
        val carriedData0 = dataFiles(cur).filterNot(grazedSet)
        val keys = spark.read.parquet(
          tombs.map(p => new File(dataRootPath, p).toString): _*)
        // the conversion scan is STATS-PRUNED too: a carried file whose
        // recorded [lo, hi] for an integral tombstone key column cannot
        // contain ANY tombstoned key owes no masking — the key bounds
        // come from one tombstone-sized aggregate and go through
        // [[statsCandidateFiles]], so a narrow delete over a
        // range-clustered table converts O(touched files)
        val integral = keys.schema.filter(f => f.dataType match {
          case _: org.apache.spark.sql.types.ByteType => true
          case _: org.apache.spark.sql.types.ShortType => true
          case _: org.apache.spark.sql.types.IntegerType => true
          case _: org.apache.spark.sql.types.LongType => true
          case _ => false // date/string keys: keep all (conservative)
        }).map(_.name)
        val carriedData =
          if (carriedData0.isEmpty || integral.isEmpty) carriedData0
          else {
            val aggs = integral.flatMap(c => Seq(smin(col(c)), smax(col(c))))
            val row = keys.agg(aggs.head, aggs.tail: _*).head()
            val bounds = integral.indices.filterNot(i => row.isNullAt(2 * i)).map(i =>
              col(integral(i)).between(lit(row.get(2 * i)), lit(row.get(2 * i + 1))))
            if (bounds.isEmpty) carriedData0
            else carriedData0.filter(statsCandidateFiles(spark, cur, bounds.reduce(_ && _)).toSet)
          }
        if (carriedData.isEmpty) Seq.empty
        else {
          val paths = carriedData.map(p => new File(dataRootPath, p).toString)
          val raw = scanSchema(cur) match {
            case Some(s) => spark.read.schema(s).parquet(paths: _*)
            case None => spark.read.parquet(paths: _*)
          }
          val owed = raw
            .withColumn("_file",
              regexp_extract(col("_metadata.file_path"), "(data/[^/]+/[^/]+)$", 1))
            .withColumn("_pos", col("_metadata.row_index"))
            .join(keys, keys.columns.toSeq, "left_semi")
            .select(col("_file").cast("string"), col("_pos").cast("long"))
          stageData(owed, 1, allowEmpty = true)
        }
      }
    val carried = files(cur).filterNot(grazedSet)
      .filterNot(_.startsWith(DelPrefix))
    val masks = stagedTombPos.map(PosDelPrefix + _)
    // the scoped-delete form can empty the whole table: declare the
    // schema in the commit so it keeps reading as the empty relation
    val lines =
      if (stagedSurv.isEmpty && stagedNew.isEmpty && masks.isEmpty &&
          !carried.exists(l => !isMetaLine(l) && !isTombLine(l)))
        withMeta(carried, "schema", baseSchema.json)
      else carried ++ masks ++ stagedSurv ++ stagedNew
    val lines2 = txn.fold(lines) { case (app, b) =>
      withMeta(lines, s"txn.$app", b.toString) }
    val v = commit(Some(cur), lines2)
    (v, (nDel, nIns))
  }

  /** The one optimistic-concurrency RETRY loop: re-runs `op` after each
    * lost commit race, rethrowing the last [[ConcurrentCommitException]]
    * once `maxRetries` retries are spent. For the NON-COMMUTING DML class
    * ([[deleteWhere]]/[[updateWhere]]/[[mergeInto]]/[[optimize]]) it is
    * correct because every DML entry point here RE-DERIVES its whole
    * change from `currentVersion` at invocation — the retry doesn't
    * re-attach stale staged files to a moved table, it re-resolves the
    * predicate/source against the NEW snapshot (the Delta
    * conflict-resolution model: logical intent retries, physical plans
    * don't). The op's semantic intent must itself be retry-stable (a
    * predicate, a source batch — not "whatever rows I staged last
    * time"). The commuting appends ([[appendWithRetry]], [[appendTxn]])
    * stage once outside it and retry only their metadata commit.
    *
    * @return (op result, retries consumed)
    */
  def withOccRetry[T](maxRetries: Int = 20)(op: => T): (T, Int) = {
    require(maxRetries >= 0, s"withOccRetry: maxRetries must be >= 0, got $maxRetries")
    var tries = 0
    while (true) {
      try return (op, tries)
      catch {
        case e: ConcurrentCommitException =>
          if (tries >= maxRetries) throw e
          tries += 1
      }
    }
    sys.error("unreachable")
  }

  // ───────────────────────── column mapping ─────────────────────────
  // The Delta/Iceberg name→physical-id indirection: data files carry
  // immutable PHYSICAL column names; the snapshot's `colmap` meta line
  // maps logical names to them. RENAME and DROP COLUMN become one-line
  // metadata commits (zero data rewritten), time travel reads each
  // vintage under its own names, and a re-added logical name mints a
  // FRESH physical id so dropped data is never resurrected.
  // Meta format: `colmap=<nextId>|log1>phys1,log2>phys2` (ordered).

  private val ColMapKey = "colmap"

  /** The (nextPhysicalId, logical→physical pairs in schema order) of a
    * snapshot, when column mapping is enabled.
    */
  def columnMapping(version: Long): Option[(Int, Seq[(String, String)])] =
    metaValues(version).get(ColMapKey).map { v =>
      val i = v.indexOf('|')
      require(i > 0, s"malformed colmap in v$version: $v")
      val pairs =
        if (v.length == i + 1) Seq.empty[(String, String)]
        else v.substring(i + 1).split(',').toSeq.map { e =>
          val j = e.indexOf('>')
          require(j > 0, s"malformed colmap entry in v$version: $e")
          (e.substring(0, j), e.substring(j + 1))
        }
      (v.substring(0, i).toInt, pairs)
    }

  private def renderColMap(next: Int, pairs: Seq[(String, String)]): String = {
    pairs.foreach { case (l, p) =>
      require(!(l + p).exists(c => c == ',' || c == '>' || c == '|' || c == '=' ||
          c == '\n' || c == '\r'),
        s"column mapping forbids ',>|=' and newlines in names: $l -> $p")
    }
    s"$next|${pairs.map { case (l, p) => s"$l>$p" }.mkString(",")}"
  }

  /** Turn column mapping ON for an existing table: the current physical
    * schema becomes the identity mapping in one metadata commit. From
    * here on, write through [[appendMapped]] and read through
    * [[readMapped]]; [[renameColumn]]/[[dropColumn]] are metadata-only.
    */
  def enableColumnMapping(spark: SparkSession): Long = {
    val cur = committedVersion("enableColumnMapping")
    require(columnMapping(cur).isEmpty,
      s"enableColumnMapping: column mapping is already enabled at $root")
    require(tombstoneFiles(cur).isEmpty,
      "enableColumnMapping: key tombstones predate the mapping and would stop " +
        "composing with renames; compact() them away first")
    val paths = dataFiles(cur).map(p => new File(dataRootPath, p).toString)
    require(paths.nonEmpty, "enableColumnMapping: empty table has no schema to map")
    val schema = spark.read.option("mergeSchema", "true").parquet(paths: _*).schema
    val fields = schema.fieldNames.toSeq
    val mapped = withMeta(files(cur), ColMapKey,
      renderColMap(fields.size, fields.map(f => (f, f))))
    // record the physical BASE types alongside the mapping (a separate
    // `colbasetypes` line — the `coltypes` line stays reserved for real
    // widenings, which readMapped's heterogeneous path keys on): every
    // future mapped scan plans from METADATA alone — no per-statement
    // parquet footer walk, the 100 TB planning shape. Types whose DDL
    // would break the `p>t,p>t` encoding (nested commas/angles) are
    // skipped — those fall back to the footer route.
    val baseTypes = schema.fields
      .map(f => f.name -> f.dataType.sql.toLowerCase(java.util.Locale.ROOT))
      .filter { case (n, t) => !(n + t).exists(c =>
        c == ',' || c == '>' || c == '|' || c == '=' || c == '\n' || c == '\r') }
      .toMap
    val withTypes =
      if (baseTypes.isEmpty) mapped
      else withMeta(mapped, BaseTypesKey,
        baseTypes.toSeq.sorted.map { case (p, t) => s"$p>$t" }.mkString(","))
    commit(Some(cur), withTypes)
  }

  private val BaseTypesKey = "colbasetypes"

  /** Physical-column → BASE type declarations recorded at
    * [[enableColumnMapping]] (and extended by [[appendMapped]] for
    * freshly-minted columns) — the metadata that lets a mapped scan plan
    * without touching parquet footers. Distinct from [[columnTypes]]
    * (declared WIDENINGS, which win where both exist).
    */
  def columnBaseTypes(version: Long): Map[String, String] =
    metaValues(version).get(BaseTypesKey).map { v =>
      v.split(',').map { e =>
        val j = e.indexOf('>')
        e.substring(0, j) -> e.substring(j + 1)
      }.toMap
    }.getOrElse(Map.empty)

  /** RENAME COLUMN as a metadata-only commit: the logical name moves,
    * the physical id (and every data byte) stays. Pinned readers of
    * pre-rename versions keep the old name — time travel reads each
    * vintage under its own mapping.
    */
  def renameColumn(from: String, to: String): Long = {
    val cur = committedVersion("renameColumn")
    val (next, pairs) = columnMapping(cur).getOrElse(throw new IllegalStateException(
      s"renameColumn: column mapping is not enabled at $root (enableColumnMapping first)"))
    require(pairs.exists(_._1 == from), s"renameColumn: no column named $from " +
      s"(have ${pairs.map(_._1).mkString(", ")})")
    require(!pairs.exists(_._1 == to), s"renameColumn: column $to already exists")
    val updated = pairs.map { case (l, p) => (if (l == from) to else l, p) }
    commit(Some(cur), withMeta(files(cur), ColMapKey, renderColMap(next, updated)))
  }

  /** DROP COLUMN as a metadata-only commit: the mapping entry goes, the
    * physical data stays (readable by pinned pre-drop versions). A later
    * [[appendMapped]] re-adding the same logical name mints a FRESH
    * physical id, so the dropped column's old values never resurrect.
    */
  def dropColumn(name: String): Long = {
    val cur = committedVersion("dropColumn")
    val (next, pairs) = columnMapping(cur).getOrElse(throw new IllegalStateException(
      s"dropColumn: column mapping is not enabled at $root (enableColumnMapping first)"))
    require(pairs.exists(_._1 == name), s"dropColumn: no column named $name " +
      s"(have ${pairs.map(_._1).mkString(", ")})")
    require(pairs.size > 1, s"dropColumn: refusing to drop the last column $name")
    commit(Some(cur),
      withMeta(files(cur), ColMapKey, renderColMap(next, pairs.filterNot(_._1 == name))))
  }

  /** [[append]] under column mapping: `df`'s LOGICAL columns are
    * translated to their physical ids before staging, so post-rename
    * appends land in the same physical columns as pre-rename files.
    * Logical columns not yet mapped (ADD COLUMN) mint fresh `c<n>`
    * physical ids in the same commit as their first data.
    */
  def appendMapped(df: DataFrame, partitions: Int): Long = {
    import org.apache.spark.sql.functions.col
    val cur = committedVersion("appendMapped")
    val (next0, pairs0) = columnMapping(cur).getOrElse(throw new IllegalStateException(
      s"appendMapped: column mapping is not enabled at $root (enableColumnMapping first)"))
    val known = pairs0.toMap
    var next = next0
    val added = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val physCols = df.columns.toSeq.map { c =>
      known.get(c) match {
        case Some(p) => col(c).as(p)
        case None =>
          val p = s"c$next"
          next += 1
          added += ((c, p))
          col(c).as(p)
      }
    }
    val staged = stageData(df.select(physCols: _*), partitions)
    val lines =
      if (added.isEmpty) files(cur)
      else {
        // freshly-minted physical columns record their base type too, so
        // mapped scans keep planning from metadata alone
        val dfTypes = df.schema.fields
          .map(f => f.name -> f.dataType.sql.toLowerCase(java.util.Locale.ROOT)).toMap
        val newTypes = added.toSeq.flatMap { case (l, p) =>
          dfTypes.get(l).filter(t => !(p + t).exists(c =>
            c == ',' || c == '>' || c == '|' || c == '=' || c == '\n' || c == '\r'))
            .map(p -> _)
        }
        val withMap = withMeta(files(cur), ColMapKey, renderColMap(next, pairs0 ++ added))
        if (newTypes.isEmpty) withMap
        else withMeta(withMap, BaseTypesKey,
          (columnBaseTypes(cur) ++ newTypes).toSeq.sorted
            .map { case (p, t) => s"$p>$t" }.mkString(","))
      }
    commit(Some(cur), lines ++ staged)
  }

  /** [[appendMapped]] + footer-derived min/max stats sidecars — the
    * mapped SQL INSERT path: manifest-level file skipping keeps working
    * over post-rename inserts with zero extra data passes (sidecars are
    * keyed by PHYSICAL column names, which is exactly what the
    * translating scan asks for after pushdown translation).
    */
  def appendMappedStats(df: DataFrame, partitions: Int): Long = {
    val v = appendMapped(df, partitions)
    writeFooterStatsSidecar(df.sparkSession, appendedFiles(v)
      .map(abs => new File(abs).toString.stripPrefix(dataRootPath + "/")))
    v
  }

  /** `ALTER TABLE … ADD COLUMNS` for a COLUMN-MAPPED table — ONE
    * metadata-only commit minting fresh `c<n>` physical ids (the
    * [[appendMapped]] discipline, without waiting for first data): the
    * mapping gains (logical → minted-physical) pairs, the DECLARED
    * schema gains the minted PHYSICAL fields (the invariant every mapped
    * DML path pins its scan on), and the base-type line records the
    * types so mapped scans keep planning from metadata alone. Existing
    * files lack the ids physically and serve typed NULL — exactly the
    * Delta mapped-evolution shape. Re-adding a DROPPED logical name is
    * safe here by construction: the fresh id never matches the retired
    * one, so ghost values cannot resurrect.
    */
  def addColumnsMapped(
      spark: SparkSession,
      cols: Seq[(String, org.apache.spark.sql.types.DataType)]): Long = {
    require(cols.nonEmpty, "addColumnsMapped: need at least one column to add")
    val cur = committedVersion("addColumnsMapped")
    val (next0, pairs) = columnMapping(cur).getOrElse(throw new IllegalStateException(
      s"addColumnsMapped: column mapping is not enabled at $root — use addColumns"))
    val ds = declaredSchema(cur).getOrElse(throw new IllegalStateException(
      s"addColumnsMapped: $root declares no schema — the mapped DML scan " +
        "needs the physical-id pin; create the table first"))
    val taken = scala.collection.mutable.Set(
      pairs.map(_._1.toLowerCase(java.util.Locale.ROOT)): _*)
    cols.foreach { case (n, _) =>
      require(n != "_file" && n != "_pos",
        s"addColumnsMapped: $n collides with the reserved address columns")
      require(taken.add(n.toLowerCase(java.util.Locale.ROOT)),
        s"addColumnsMapped: column $n already exists (names are case-insensitive)")
    }
    var next = next0
    val minted = cols.map { case (n, t) =>
      val p = s"c$next"; next += 1; (n, p, t)
    }
    val evolved = org.apache.spark.sql.types.StructType(
      ds.fields ++ minted.map { case (_, p, t) =>
        org.apache.spark.sql.types.StructField(p, t, nullable = true) })
    val newTypes = minted.map { case (l, p, t) =>
      val ddl = t.sql.toLowerCase(java.util.Locale.ROOT)
      // a METADATA-ONLY column must be recoverable from metadata alone —
      // with no data file carrying the minted id yet, a base type that
      // cannot ride the `p>t` encoding (decimal's comma, nested types'
      // angle brackets) would make the column silently invisible to
      // mapped scans until first data; refuse loudly instead
      require(!(p + ddl).exists(c => c == ',' || c == '>' || c == '|' ||
          c == '=' || c == '\n' || c == '\r'),
        s"addColumnsMapped: the type of $l ($ddl) cannot ride the base-type " +
          "metadata encoding — add it with its first data (appendMapped) instead")
      p -> ddl
    }
    val withMap = withMeta(
      withMeta(files(cur), ColMapKey,
        renderColMap(next, pairs ++ minted.map { case (l, p, _) => (l, p) })),
      "schema", evolved.json)
    commit(Some(cur),
      if (newTypes.isEmpty) withMap
      else withMeta(withMap, BaseTypesKey,
        (columnBaseTypes(cur) ++ newTypes).toSeq.sorted
          .map { case (p, t) => s"$p>$t" }.mkString(",")))
  }

  /** [[read]] under column mapping: scan the snapshot's physical files
    * (schemas merged — files predating an ADD COLUMN serve nulls) and
    * project to the snapshot's LOGICAL schema in mapping order. A column
    * whose physical id appears in no file of this vintage is skipped
    * (its data arrives with its first mapped append). Key tombstones are
    * refused — they store delete-time logical names and do not compose
    * with renames; position deletes ([[deleteWhere]]) compose fine.
    */
  def readMapped(spark: SparkSession, version: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val (_, pairs) = columnMapping(version).getOrElse(throw new IllegalStateException(
      s"readMapped: column mapping is not enabled at v$version of $root"))
    require(tombstoneFiles(version).isEmpty,
      "readMapped: key tombstones do not compose with column mapping " +
        "(they store delete-time logical names); use deleteWhere/deletePositions, " +
        "or compact() the tombstones away first")
    val widened = columnTypes(version)
    val paths = dataFiles(version).map(p => new File(dataRootPath, p).toString)
    val data =
      if (widened.isEmpty) spark.read.option("mergeSchema", "true").parquet(paths: _*)
      else if (wideningsPinnable(version)) {
        // the PINNED widened physical schema serves every vintage in ONE
        // scan: the parquet reader up-casts narrow pre-widening files
        // (the Spark 4 widening read — the same pin the catalog scan and
        // the stream facade plan), so masks and DML compose exactly as
        // on an unwidened table; the per-stage union below survives only
        // for the FLOAT-target widenings the reader cannot promote
        val (phys, _, _) = GraftCatalog.mappedSchemas(spark, this, version, pairs, paths)
        spark.read.schema(phys).parquet(paths: _*)
      } else {
        // widened columns make the file schemas HETEROGENEOUS (old files
        // keep the narrow physical type), which mergeSchema refuses —
        // read each stage directory under its own schema, project every
        // mapped physical column (absent → typed null), cast widened
        // ones up, and union. Planning cost is one footer read per stage
        // dir (append-count-bounded; compact/optimize collapses dirs).
        val byDir = paths.groupBy(p => new File(p).getParent).toSeq.sortBy(_._1)
        val raw = byDir.map { case (_, ps) => spark.read.parquet(ps: _*) }
        val dirTypes = raw.map(_.schema.fields.map(f => f.name -> f.dataType).toMap)
        // canonical type per physical column: the declared widening, else
        // the (required-unique) type across the stages that carry it — a
        // silent union coercion would hide a corrupt write
        val canon: Map[String, String] = pairs.flatMap { case (_, phys) =>
          widened.get(phys) match {
            case Some(t) => Some(phys -> t)
            case None =>
              val seen = dirTypes.flatMap(_.get(phys)).distinct
              require(seen.size <= 1,
                s"readMapped: physical column $phys has conflicting types " +
                  s"$seen across stages; declare the widening via widenColumn")
              seen.headOption.map(dt => phys -> dt.sql)
          }
        }.toMap
        val frames = raw.zip(dirTypes).map { case (one, have) =>
          one.select(pairs.collect {
            case (_, phys) if canon.contains(phys) =>
              if (have.contains(phys)) col(phys).cast(canon(phys)).as(phys)
              else lit(null).cast(canon(phys)).as(phys)
          }: _*)
        }
        frames.reduce(_.unionByName(_))
      }
    val masked =
      if (widened.isEmpty || wideningsPinnable(version))
        applyMasks(spark, version, data)
      else {
        require(posDeleteFiles(version).isEmpty && tombstoneFiles(version).isEmpty &&
            dvFiles(version).isEmpty,
          "readMapped: outstanding deletes do not compose with a float-target " +
            "widening (the per-stage union path has no single _metadata " +
            "address stream); optimize()/compact() the deletes away first")
        data
      }
    val present = masked.columns.toSet
    val projected = pairs.collect { case (log, phys) if present(phys) => col(phys).as(log) }
    require(projected.nonEmpty, s"readMapped: no mapped column of v$version has data")
    masked.select(projected: _*)
  }

  /** TYPE WIDENING as a metadata-only commit (the Delta type-widening
    * shape): the physical column keeps its narrow type in every existing
    * file; the `coltypes` meta entry declares the LOGICAL type, reads
    * up-cast old files on the fly, and new [[appendMapped]] batches
    * write the wide type directly. Only provably-lossless widenings are
    * allowed — the column's CURRENT type is resolved (declared widening
    * first, else the stage directories' parquet footers — metadata-sized,
    * no data scan) and checked against the lossless from→to pairs, so a
    * "widening" can never narrow (bigint→int) or lose precision
    * (bigint→double): Spark's non-ANSI cast would silently overflow
    * those on read. No data rewrite, no precision trap.
    */
  def widenColumn(spark: SparkSession, logicalName: String, toType: String): Long = {
    val cur = committedVersion("widenColumn")
    val (_, pairs) = columnMapping(cur).getOrElse(throw new IllegalStateException(
      s"widenColumn: column mapping is not enabled at $root (enableColumnMapping first)"))
    val phys = pairs.collectFirst { case (l, p) if l == logicalName => p }
      .getOrElse(throw new IllegalArgumentException(
        s"widenColumn: no column named $logicalName (have ${pairs.map(_._1).mkString(", ")})"))
    val allowed = Set("smallint", "int", "bigint", "float", "double")
    val target = toType.toLowerCase
    require(allowed.contains(target),
      s"widenColumn: target $toType is not a supported widening target ($allowed)")
    // every representable value of `from` must map exactly into `to`:
    // integer chains up, and float→double (every binary32 is a binary64).
    // int→float (24-bit mantissa) and bigint→double (53-bit) are LOSSY
    // and refused — the Delta type-widening allow-list.
    val lossless: Map[String, Set[String]] = Map(
      "tinyint" -> Set("smallint", "int", "bigint", "float", "double"),
      "smallint" -> Set("int", "bigint", "float", "double"),
      "int" -> Set("bigint", "double"),
      "float" -> Set("double"),
      "bigint" -> Set.empty,
      "double" -> Set.empty)
    val declared = columnTypes(cur)
    val observed: Seq[String] = declared.get(phys)
      .orElse(columnBaseTypes(cur).get(phys)) match {
      case Some(t) => Seq(t)
      case None =>
        val paths = dataFiles(cur).map(p => new File(dataRootPath, p).toString)
        paths.groupBy(p => new File(p).getParent).toSeq.sortBy(_._1)
          .flatMap { case (_, ps) =>
            spark.read.parquet(ps: _*).schema.fields
              .find(_.name == phys).map(_.dataType.sql.toLowerCase)
          }.distinct
    }
    observed.foreach { from =>
      require(lossless.getOrElse(from, Set.empty).contains(target),
        s"widenColumn: $logicalName is currently $from and $from -> $target " +
          s"is not a provably-lossless widening (allowed from $from: " +
          s"${lossless.getOrElse(from, Set.empty).toSeq.sorted.mkString(", ")})")
    }
    val cts = columnTypes(cur) + (phys -> target)
    val rendered = cts.toSeq.sorted.map { case (p, t) => s"$p>$t" }.mkString(",")
    commit(Some(cur), withMeta(files(cur), "coltypes", rendered))
  }

  /** The physical-column → widened-logical-type declarations of a
    * snapshot ([[widenColumn]]); empty when no widening ever happened.
    */
  def columnTypes(version: Long): Map[String, String] =
    metaValues(version).get("coltypes").map { v =>
      v.split(',').map { e =>
        val j = e.indexOf('>')
        e.substring(0, j) -> e.substring(j + 1)
      }.toMap
    }.getOrElse(Map.empty)

  // ───────────────────────── table statistics ─────────────────────────

  /** ANALYZE TABLE under the log: ONE aggregate pass computes the row
    * count and per-column distinct counts (NDV) for `cols`, and
    * commits them as a `tablestats` meta line — versioned WITH the
    * snapshot (stats from v3 never describe v7; RESTORE brings the old
    * stats back with the old data). NDVs are APPROXIMATE by default
    * (HLL++ sketches, ~2% rsd — a true single partial-aggregation pass;
    * multi-column exact NDVs would plan an Expand, an N× input blowup
    * at 100 TB); `exact = true` restores the exact pass for callers
    * that pin equality. One table-sized pass, run explicitly as
    * maintenance like every ANALYZE; readers get the numbers for free
    * from metadata. Serialized `rows|col>ndv,col>ndv` — the
    * cost-based-optimizer inputs ([[StatsOptimizer.statsJoin]] consumes
    * them for the broadcast-side decision).
    */
  def analyze(spark: SparkSession, cols: Seq[String], exact: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{approx_count_distinct, count, countDistinct, lit, col => c}
    require(cols.nonEmpty, "analyze: need at least one column")
    val cur = committedVersion("analyze")
    val data = read(spark, cur)
    // DEFAULT APPROXIMATE (HLL++, ~2% rsd): multi-column EXACT NDVs plan
    // as an Expand — N copies of every input row through the aggregate,
    // an N× blowup at 100 TB — where the sketches ride ONE single-pass
    // partial aggregation. CBO consumers (broadcast-side choice) only
    // need the magnitude; `exact = true` keeps the old plan for callers
    // that truly need equality.
    val aggs = count(lit(1)).as("__rows") +:
      cols.map(n =>
        (if (exact) countDistinct(c(n))
         else approx_count_distinct(c(n), 0.02)).as(s"__ndv_$n"))
    val agged = data.agg(aggs.head, aggs.tail: _*)
    val row = agged.head()
    val rows = row.getLong(0)
    val ndvs = cols.zipWithIndex.map { case (n, i) => (n, row.getLong(i + 1)) }
    ndvs.foreach { case (n, _) =>
      require(!n.exists(c => c == ',' || c == '>' || c == '|' || c == '='),
        s"analyze: column name forbids ',>|=': $n")
    }
    val rendered = s"$rows|${ndvs.map { case (n, v) => s"$n>$v" }.mkString(",")}"
    // the stats meta line is CARRIED by later data commits (append/merge
    // preserve meta), so a consumer cannot tell from the line alone
    // whether the numbers still describe the table — record the analyzed
    // data state (digest over data-file + mask-line sets) beside them;
    // [[StatsOptimizer.statsJoin]] refuses stats whose recorded state no
    // longer matches the snapshot it is about to plan
    commit(Some(cur),
      withMeta(withMeta(files(cur), "tablestats", rendered),
        "statsstate", dataStateDigest(cur)))
  }

  /** Stable digest of a snapshot's DATA state — the sorted data-file,
    * position-delete, and key-tombstone path sets. Two snapshots with
    * equal digests serve bitwise-identical tables (files are immutable),
    * so stats analyzed at one describe the other exactly; metadata-only
    * commits (rename, widen, tags) keep the digest, any data-changing
    * commit moves it.
    */
  def dataStateDigest(version: Long): String = {
    val lines = (dataFiles(version).map("d:" + _) ++
      posDeleteFiles(version).map("p:" + _) ++
      tombstoneFiles(version).map("t:" + _)).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(lines.mkString("\n").getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
  }

  /** The data-state digest recorded by the latest [[analyze]] carried at
    * `version`, if any — compare against [[dataStateDigest]] of the same
    * version to know whether the carried tablestats are STALE.
    */
  def statsState(version: Long): Option[String] =
    metaValues(version).get("statsstate")

  /** The (rowCount, column→NDV) recorded by the latest [[analyze]] at or
    * before `version`, if any.
    */
  def tableStats(version: Long): Option[(Long, Map[String, Long])] =
    metaValues(version).get("tablestats").map { v =>
      val i = v.indexOf('|')
      require(i > 0, s"malformed tablestats in v$version: $v")
      val ndvs =
        if (v.length == i + 1) Map.empty[String, Long]
        else v.substring(i + 1).split(',').map { e =>
          val j = e.indexOf('>')
          e.substring(0, j) -> e.substring(j + 1).toLong
        }.toMap
      (v.substring(0, i).toLong, ndvs)
    }

  /** Stage + commit `df` EXACTLY as arranged, with PER-FILE MIN/MAX
    * STATS for `statsCols` recorded in a `_stats.parquet` sidecar beside
    * the staged files (the Delta add-file-stats shape): [[readWhere]]
    * then answers a range predicate by opening only the files whose
    * recorded range intersects it — metadata-sized scan planning under
    * the transaction log. The caller owns the arrangement
    * (range-cluster first, or stats degenerate to full-range files and
    * prune nothing); stats are computed by one bounded per-staged-file
    * pass before the commit, so a reader can never observe a committed
    * file without its stats.
    */
  def appendIndexed(df: DataFrame, statsCols: Seq[String]): Long = {
    val cur = currentVersion
    val staged = stageIndexed(df, statsCols)
    commit(cur, appendLines(cur, staged))
  }

  /** Stage + commit `df` EXACTLY as arranged with PER-FILE DISTINCT-VALUE
    * SETS for `valueCols` recorded in a `_values.parquet` sidecar — the
    * CATEGORICAL complement of [[appendIndexed]]'s min/max ranges: an
    * equality predicate on a low-cardinality column (status, priority,
    * country, tier) prunes to exactly the files whose value set contains
    * the literal, where min/max can only approximate once values
    * interleave lexically. A file whose per-column distinct count
    * exceeds `maxDistinctPerFile` records a FULL marker instead, so the
    * sidecar stays bounded per file per column and such files read
    * conservatively. Values are recorded in STRING form (the sidecar is
    * type-erased; [[readWhere]] probes it with string literals). The
    * caller owns the arrangement — cluster by the column first, or every
    * file carries every value and nothing prunes.
    */
  def appendValueIndexed(
      df: DataFrame,
      valueCols: Seq[String],
      maxDistinctPerFile: Int = 32): Long = {
    require(valueCols.nonEmpty, "appendValueIndexed: need at least one value column")
    require(maxDistinctPerFile >= 1,
      s"appendValueIndexed: maxDistinctPerFile must be >= 1, got $maxDistinctPerFile")
    val spark = df.sparkSession
    val staged = stageArranged(df)
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val entries = staged.flatMap { p =>
      val one = spark.read.parquet(new File(dataRootPath, p).toString)
      valueCols.flatMap { c =>
        val vs = one.select(col(c).cast("string")).distinct()
          .limit(maxDistinctPerFile + 1).collect().map(r => Option(r.getString(0)))
        if (vs.length > maxDistinctPerFile) Seq((p, c, null: String, true))
        else vs.toSeq.map(v => (p, c, v.orNull, false))
      }
    }
    val dir = new File(dataRootPath, staged.head).getParentFile
    entries.toDF("file", "col", "value", "is_full")
      .coalesce(1).write.mode("overwrite")
      .parquet(new File(dir, "_values.parquet").toString)
    val cur = currentVersion
    commit(cur, appendLines(cur, staged))
  }

  /** Stage + commit `df` EXACTLY as arranged with a PER-FILE BLOOM
    * FILTER for each of `bloomCols` recorded in a `_blooms.parquet`
    * sidecar — the HIGH-CARDINALITY complement of [[appendValueIndexed]]:
    * a point lookup on a high-NDV column (order id, user id, content
    * hash) cannot prune on min/max once values scatter across files, and
    * a distinct-value set overflows its bound at exactly the cardinality
    * where skipping matters most (the FULL marker reads conservatively).
    * A Bloom filter stays bits-per-row-sized regardless of NDV and
    * answers "definitely absent" — a false POSITIVE only re-opens a
    * file, never changes a result (the asymmetry every caller of
    * [[graft.functions.BloomFunctions]] leans on). This is the Delta
    * Bloom-filter-index / Iceberg Puffin shape.
    *
    * Built in ONE distributed pass over the staged files (group by
    * `input_file_name` → [[graft.functions.BloomFunctions.bloomAgg]] per
    * column — mergeable map-side partials, never a per-file driver
    * loop); values hash in STRING form (the sidecar is type-erased, like
    * [[appendValueIndexed]]) so [[readWhere]] probes with the
    * same cast. `fpp` trades sidecar bytes for re-opened files (1% ≈
    * 9.6 bits per row); `expectedItemsPerFile` sizes each filter — an
    * overfull file degrades toward more false positives (more files
    * opened), never wrong answers.
    */
  def appendBloomIndexed(
      df: DataFrame,
      bloomCols: Seq[String],
      expectedItemsPerFile: Long = 100000L,
      fpp: Double = 0.01): Long = {
    require(bloomCols.nonEmpty, "appendBloomIndexed: need at least one bloom column")
    require(bloomCols.forall(df.columns.contains),
      s"appendBloomIndexed: column(s) " +
        s"${bloomCols.filterNot(df.columns.contains).mkString(", ")} not in " +
        s"the frame (${df.columns.mkString(", ")})")
    val spark = df.sparkSession
    val staged = stageArranged(df)
    writeBloomSidecar(spark, staged, bloomCols, expectedItemsPerFile, fpp)
    val cur = currentVersion
    commit(cur, appendLines(cur, staged))
  }

  /** The `clusterBy` table-property columns of a version, parsed — the
    * declared clustering keys cluster-on-write (INSERT, INSERT
    * OVERWRITE, COPY INTO) and a bare `OPTIMIZE` use.
    */
  def clusterColumns(version: Long): Seq[String] = columnList(version, "clusterBy")

  /** The `bloomBy` table-property columns of a version, parsed — the
    * columns [[writeBloomSidecarFor]] keeps Bloom sidecars for.
    */
  private def bloomColumns(version: Long): Seq[String] = columnList(version, "bloomBy")

  /** The one parse of a comma-list table property. */
  private def columnList(version: Long, key: String): Seq[String] =
    property(version, key).toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))

  /** Build the `_blooms.parquet` sidecar for a set of staged files in
    * ONE distributed pass (group by `input_file_name` → Bloom aggregate
    * per column — mergeable map-side partials, never a per-file driver
    * loop). All `staged` paths must share one stage directory. Safe to
    * run before OR after the commit that references the files: a reader
    * that plans before the sidecar lands just keeps every file
    * (conservative), never wrong.
    */
  private[sources] def writeBloomSidecar(
      spark: SparkSession,
      staged: Seq[String],
      bloomCols0: Seq[String],
      expectedItemsPerFile: Long,
      fpp: Double): Unit = {
    if (staged.isEmpty || bloomCols0.isEmpty) return
    import org.apache.spark.sql.functions.{col, element_at, input_file_name, lit, split}
    val dir = new File(dataRootPath, staged.head).getParentFile
    val stageId = dir.getName
    // `input_file_name` is reduced to the bare file name (staged names
    // are unique within the stage directory)
    val one = spark.read
      .parquet(staged.map(p => new File(dataRootPath, p).toString): _*)
      .withColumn("__fname", element_at(split(input_file_name(), "/"), -1))
    // a declared bloom column absent from these files (typo'd property,
    // dropped column) records nothing — absence reads conservatively,
    // and a maintenance pass must not die after its rewrite committed
    val bloomCols = bloomCols0.filter(one.columns.contains)
    if (bloomCols.isEmpty) return
    val perCol = bloomCols.map { c =>
      one.groupBy(col("__fname"))
        .agg(graft.functions.BloomFunctions
          .bloomAgg(col(c).cast("string"), expectedItemsPerFile, fpp).as("bits"))
        .select(col("__fname"), lit(c).as("col"), col("bits"))
    }.reduce(_ unionByName _)
      .withColumn("file",
        org.apache.spark.sql.functions.concat(
          lit(s"data/$stageId/"), col("__fname")))
      .select("file", "col", "bits")
    perCol.coalesce(1).write.mode("overwrite")
      .parquet(new File(dir, "_blooms.parquet").toString)
    ()
  }

  /** Extend the bloom sidecars to cover the files a COMMITTED version
    * added, for the version's `bloomBy` columns — the table-property
    * maintenance hook every SQL write path (INSERT, OVERWRITE, DELETE,
    * UPDATE, MERGE, COPY INTO, REPLACE WHERE, OPTIMIZE, the log sink's
    * REPLACE WHERE and auto-compaction) calls after its commit; a no-op
    * on a table without `bloomBy`. A file without a filter only reads
    * conservatively, but point-lookup skipping must not silently degrade
    * on exactly the hot DML tables that need it. Stage-dir-grouped;
    * existing sidecar rows for OTHER stages are untouched (each stage dir
    * owns its own sidecar). Filters are sized for 100k items per file at
    * 1% fpp.
    */
  def writeBloomSidecarFor(spark: SparkSession, version: Long): Unit = {
    val bloomCols = bloomColumns(version)
    if (bloomCols.isEmpty) return
    // the ADDED data files of `version` as a manifest diff — unlike
    // [[appendedFiles]] this serves rewrite commits too (OPTIMIZE
    // replaces files; its outputs are exactly what needs fresh filters)
    val before = versions.takeWhile(_ < version).lastOption
      .map(dataFiles(_).toSet).getOrElse(Set.empty[String])
    val appended = dataFiles(version)
      .filterNot(before).filter(_.endsWith(".parquet"))
    appended.groupBy(p => new File(dataRootPath, p).getParent).foreach {
      case (_, staged) =>
        writeBloomSidecar(spark, staged.toSeq, bloomCols, 100000L, 0.01)
    }
  }

  /** Per-file `[lo, hi]` for every INTEGRAL column of the staged files,
    * read from the PARQUET FOOTERS the write already produced — the
    * Delta stats-at-write shape with ZERO extra data pass: footer reads
    * are driver-side, file-count-sized metadata work. Columns whose
    * statistics are absent or non-integral are skipped (pruning stays
    * conservative for them); a row group with no stats poisons the whole
    * file's entry for that column (dropped — never a guessed range).
    */
  private def footerStats(staged: Seq[String]): Seq[(String, String, Long, Long)] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val conf = new org.apache.hadoop.conf.Configuration()
    staged.flatMap { p =>
      val in = HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(new File(dataRootPath, p).toString), conf)
      val reader = ParquetFileReader.open(in)
      try {
        val blocks = reader.getFooter.getBlocks
        import scala.jdk.CollectionConverters._
        val perCol = scala.collection.mutable.Map.empty[String, (Long, Long)]
        val poisoned = scala.collection.mutable.Set.empty[String]
        blocks.asScala.foreach { b =>
          b.getColumns.asScala.foreach { c =>
            if (c.getPath.size() == 1) {
              val name = c.getPath.toDotString
              val tpe = c.getPrimitiveType.getPrimitiveTypeName
              val logical = c.getPrimitiveType.getLogicalTypeAnnotation
              val isPlainInt = (tpe == PrimitiveTypeName.INT64 ||
                tpe == PrimitiveTypeName.INT32) &&
                (logical == null || logical.isInstanceOf[
                  org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation])
              // DATE columns are INT32 epoch-days under the hood — their
              // footer stats record as that integral axis, so date-range
              // scopes (OPTIMIZE … WHERE d >= DATE '…') prune on the
              // same [lo, hi] machinery as any long column
              val isDate = tpe == PrimitiveTypeName.INT32 &&
                logical != null && logical.isInstanceOf[
                  org.apache.parquet.schema.LogicalTypeAnnotation.DateLogicalTypeAnnotation]
              val st = c.getStatistics
              if (!isPlainInt && !isDate) ()
              else if (st == null || !st.hasNonNullValue() || st.isEmpty) {
                poisoned += name; ()
              } else {
                val (lo, hi) = st.genericGetMin match {
                  case l: java.lang.Long => (l.longValue(), st.genericGetMax.asInstanceOf[java.lang.Long].longValue())
                  case i: java.lang.Integer => (i.longValue(), st.genericGetMax.asInstanceOf[java.lang.Integer].longValue())
                  case _ => (Long.MinValue, Long.MaxValue)
                }
                perCol.updateWith(name) {
                  case Some((a, b)) => Some((math.min(a, lo), math.max(b, hi)))
                  case None => Some((lo, hi))
                }
                ()
              }
            }
          }
        }
        (perCol.keySet -- poisoned).toSeq.sorted.map { c =>
          val (lo, hi) = perCol(c); (p, c, lo, hi)
        }
      } finally reader.close()
    }
  }

  /** [[writeStatsSidecar]] from [[footerStats]] — the zero-scan path SQL
    * INSERTs take so a plain `INSERT INTO` gets manifest-level file
    * skipping for free.
    */
  private def writeFooterStatsSidecar(spark: SparkSession, staged: Seq[String]): Unit =
    writeStatsSidecar(spark, staged, footerStats(staged))

  /** Write the staged directory's `_stats.parquet` sidecar: one
    * (file, col, lo, hi) row per recorded range; nothing when `rows` is
    * empty.
    */
  private def writeStatsSidecar(
      spark: SparkSession,
      staged: Seq[String],
      rows: Seq[(String, String, Long, Long)]): Unit =
    if (rows.nonEmpty) {
      import spark.implicits._
      val dir = new File(dataRootPath, staged.head).getParentFile
      rows.toDF("file", "col", "lo", "hi")
        .coalesce(1).write.mode("overwrite")
        .parquet(new File(dir, "_stats.parquet").toString)
    }

  /** [[appendStrict]] + footer-derived stats sidecars — the SQL INSERT
    * path: schema enforcement, then min/max for every integral column
    * recorded from the parquet footers the write just produced, so
    * catalog scans skip files over freshly-inserted data with no extra
    * data pass and no caller ceremony.
    */
  def appendStrictStats(df: DataFrame, partitions: Int): Long = {
    val v = appendStrict(df, partitions)
    writeFooterStatsSidecar(df.sparkSession, appendedFiles(v)
      .map(abs => new File(abs).toString.stripPrefix(dataRootPath + "/")))
    v
  }

  /** [[appendStrictStats]] for a table with a GENERATED ALWAYS AS
    * IDENTITY column: the batch must provide NULL for `idCol` (ALWAYS
    * semantics — an explicit value refuses loudly, the Delta error);
    * values are minted as ONE CONTIGUOUS block above the persisted high
    * watermark (`prop.idhwm.<col>`, advanced in the SAME commit as the
    * data — atomic, so an OCC loser re-derives from the winner's
    * watermark and ids can never collide across racing inserts).
    *
    * Assignment is distributed and batch-shaped: the batch is pinned to
    * ONE evaluation (persist), a partition-count-sized counts pass
    * yields per-partition offsets, and a per-partition `row_number`
    * completes `hwm + step · (offset + rank)` — no global sort, no
    * single-partition window, one batch-sized shuffle. Which ROW gets
    * which id is partitioning-dependent (unspecified, as in every
    * warehouse); uniqueness and monotonic blocks are the contract.
    */
  def appendIdentityStats(
      df: DataFrame,
      idCol: String,
      start: Long,
      step: Long,
      partitions: Int,
      clusterKeys: Seq[String] = Nil,
      // streaming-transaction watermark (the [[appendTxn]] discipline):
      // the id-block advance and the `txn.<appId>=batchId` mark land in
      // ONE commit, so a redelivered batch can neither re-mint nor skip
      // the watermark separately
      txn: Option[(String, Long)] = None): Long = {
    val spark = df.sparkSession
    require(df.columns.contains(idCol),
      s"appendIdentityStats: identity column $idCol not in the batch")
    require(step != 0L, "appendIdentityStats: step must be non-zero")
    val cur = committedVersion("appendIdentityStats")
    // the watermark check anchors to the SAME `cur` the commit below
    // targets (the [[appendTxn]] discipline): a racing instance's commit
    // between check and commit raises ConcurrentCommitException, the
    // caller's OCC retry re-runs, and the re-read watermark skips —
    // double-minting is structurally impossible, not just unlikely
    txn.foreach { case (app, b) =>
      val wm = metaValues(cur).get(s"txn.$app").map(_.toLong).getOrElse(-1L)
      if (b <= wm) return cur
    }
    // appendStrict's drift gate (same message shape): evolution through
    // the identity path is never intended
    val drift = SchemaDrift.of(read(df.sparkSession, cur).schema, df.schema)
    require(drift.sameColumnsBut(idCol),
      s"appendIdentityStats: batch schema drifts from v$cur — $drift")
    withMintedIds(df, cur, idCol, start, step, df.columns.toSeq,
      s"appendIdentityStats: $idCol is GENERATED ALWAYS AS IDENTITY — " +
        "provide NULL (or omit the column via an INSERT column list)") {
      (assigned, n, hwm) =>
        if (n == 0L)
          // an empty batch mints nothing, but a WATERMARKED empty batch
          // still records its txn mark (metadata-only commit) — the
          // watermark must never lag a processed batch
          txn.fold(cur) { case (app, b) =>
            commit(Some(cur), withMeta(files(cur), s"txn.$app", b.toString))
          }
        else {
          val staged = stageArranged(
            if (clusterKeys.isEmpty) assigned.repartition(partitions)
            else rangeArrange(assigned, clusterKeys, partitions))
          writeFooterStatsSidecar(spark, staged)
          val lines0 = withMeta(files(cur), s"prop.idhwm.$idCol", hwm.toString)
          val lines = txn.fold(lines0) { case (app, b) =>
            withMeta(lines0, s"txn.$app", b.toString) }
          commit(Some(cur), lines ++ staged)
        }
    }
  }

  /** The identity-minting step of [[appendIdentityStats]] and
    * [[copyIngestIdentity]]: pins `df` to ONE evaluation (persist),
    * refuses any non-NULL `idCol` with `nonNullMsg` (ALWAYS semantics),
    * counts rows per partition (one partition-count-sized pass) and
    * hands `use` three things: the batch projected to `cols` with `idCol`
    * = `hwm + step · (offset + rank)` (a per-partition `row_number`
    * above per-partition offsets — no global sort, no single-partition
    * window), the row count `n`, and the advanced watermark
    * `hwm + step · n`, where `hwm` is `cur`'s `prop.idhwm.<idCol>`. The
    * batch stays persisted until `use` returns.
    */
  private def withMintedIds[T](
      df: DataFrame,
      cur: Long,
      idCol: String,
      start: Long,
      step: Long,
      cols: Seq[String],
      nonNullMsg: => String)(use: (DataFrame, Long, Long) => T): T = {
    import org.apache.spark.sql.functions.{broadcast, col, lit,
      monotonically_increasing_id, row_number, spark_partition_id}
    val spark = df.sparkSession
    val src = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      require(src.where(col(idCol).isNotNull).limit(1).count() == 0L, nonNullMsg)
      val hwm = property(cur, s"idhwm.$idCol").map(_.toLong)
        .getOrElse(start - step)
      val withPid = src.withColumn("__pid", spark_partition_id())
      val counts = withPid.groupBy("__pid").count().collect()
        .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
      val n = counts.map(_._2).sum
      var acc = 0L
      val offs = counts.map { case (pid, c) => val o = acc; acc += c; (pid, o) }
      import spark.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("__pid").orderBy(monotonically_increasing_id())
      val assigned = withPid
        .join(broadcast(offs.toSeq.toDF("__pid", "__off")), "__pid")
        .withColumn(idCol,
          lit(hwm) + lit(step) * (col("__off") + row_number().over(w)))
        .select(cols.map(col): _*)
      use(assigned, n, hwm + step * n)
    } finally { src.unpersist(); () }
  }

  /** [[stageArranged]] plus the `_stats.parquet` min/max sidecar — the
    * shared staging step of [[appendIndexed]] and [[mergeCopyOnWrite]].
    * One bounded per-staged-file aggregation pass; nothing is committed.
    */
  private def stageIndexed(df: DataFrame, statsCols: Seq[String]): Seq[String] = {
    require(statsCols.nonEmpty, "stageIndexed: need at least one stats column")
    val spark = df.sparkSession
    val staged = stageArranged(df)
    import org.apache.spark.sql.functions.{col, max => smax, min => smin}
    import spark.implicits._
    // min/max ranges exist only on the integral axis: non-numeric stats
    // columns (a string member of a compound merge key) record nothing —
    // consumers treat the file as full-range for them, and under ANSI a
    // string→long cast would fail the stage outright
    val numericStats = {
      val numeric = df.schema.fields
        .filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
        .map(_.name).toSet
      statsCols.filter(numeric.contains)
    }
    // parquet footers record EXACT min/max for integral columns: read the
    // footers the write just produced (driver-side metadata, zero Spark
    // jobs, zero data re-scan) instead of one aggregation ACTION per
    // staged file — the old shape ran a merge staging F files as F
    // sequential jobs, a per-file driver loop at 100 TB scale
    val fromFooters = footerStats(staged).filter {
      case (_, c, _, _) => numericStats.contains(c)
    }
    val covered = fromFooters.map { case (p, c, _, _) => (p, c) }.toSet
    // residue the footers cannot serve exactly — non-integral numeric
    // columns (double/decimal members of a stats set) and files whose
    // footer carries no usable stats (empty or all-null): the old
    // bounded per-file aggregation, now only over that residue
    // (typically empty), keeping the recorded rows bit-identical
    val fallback = staged.flatMap { p =>
      val need = numericStats.filterNot(c => covered((p, c)))
      if (need.isEmpty) Nil
      else {
        val one = spark.read.parquet(new File(dataRootPath, p).toString)
        val present = one.columns.toSet
        need.filter(present.contains).map { c =>
          val r = one.agg(smin(col(c)).cast("long"), smax(col(c)).cast("long")).head()
          (p, c,
            if (r.isNullAt(0)) Long.MinValue else r.getLong(0),
            if (r.isNullAt(1)) Long.MaxValue else r.getLong(1))
        }
      }
    }
    writeStatsSidecar(spark, staged, fromFooters ++ fallback)
    staged
  }

  // ─────────────────────────── file skipping ───────────────────────────

  /** The data files of `version` grouped by stage directory, each group
    * with that directory's `name` sidecar (`_stats.parquet`,
    * `_values.parquet`, `_blooms.parquet`) when one exists — the one
    * place readers locate sidecars.
    */
  private def stageSidecars(version: Long, name: String): Seq[(Seq[String], Option[File])] =
    dataFiles(version).groupBy(p => new File(dataRootPath, p).getParent).toSeq.map {
      case (dir, paths) => (paths, Some(new File(dir, name)).filter(_.exists()))
    }

  /** The rows of `version`'s `name` sidecars (`_stats`, `_values`: file
    * first, column second) that describe its live data files — one read
    * per stage directory that has the sidecar, nothing without one.
    */
  private def sidecarRows(
      spark: SparkSession, version: Long, name: String): Seq[org.apache.spark.sql.Row] =
    stageSidecars(version, name).flatMap {
      case (_, None) => Nil
      case (paths, Some(sidecar)) =>
        val live = paths.toSet
        spark.read.parquet(sidecar.toString).collect().toSeq.filter(r => live(r.getString(0)))
    }

  /** Per-file `[lo, hi]` ranges from the `_stats.parquet` sidecars
    * ([[stageIndexed]], footer stats): relative path → column → range. A
    * file or column without an entry has no recorded range (full-range).
    */
  private def fileStats(
      spark: SparkSession, version: Long): Map[String, Map[String, (Long, Long)]] =
    sidecarRows(spark, version, "_stats.parquet").groupBy(_.getString(0)).map {
      case (p, rs) => p -> rs.map(r => r.getString(1) -> (r.getLong(2), r.getLong(3))).toMap
    }

  /** Per-file distinct-value sets from the `_values.parquet` sidecars
    * ([[appendValueIndexed]]): relative path → column → `Some(set)`, or
    * `None` where the file's distinct count overflowed the bound (FULL).
    */
  private def fileValueSets(
      spark: SparkSession, version: Long): Map[String, Map[String, Option[Set[String]]]] =
    sidecarRows(spark, version, "_values.parquet").groupBy(_.getString(0)).map {
      case (p, rs) => p -> rs.groupBy(_.getString(1)).map { case (c, es) =>
        c -> (if (es.exists(_.getBoolean(3))) None
              else Some(es.flatMap(r => Option(r.getString(2))).toSet))
      }
    }

  /** Per-file `[lo, hi]` of `keyCol` for every data file of `version`:
    * `None` where the file's stage recorded no stats for the column.
    */
  private def fileRanges(
      spark: SparkSession,
      version: Long,
      keyCol: String): Seq[(String, Option[(Long, Long)])] = {
    val stats = fileStats(spark, version)
    dataFiles(version).map(p => p -> stats.get(p).flatMap(_.get(keyCol)))
  }

  /** [[fileRanges]] for consumers outside the log: per-data-file
    * `[lo, hi]` of `keyCol`, keyed by ABSOLUTE path, for exactly the files
    * whose stage recorded stats. `None` when no file carries stats for
    * the column. File-count-sized metadata work.
    */
  def fileStatsForColumn(
      spark: SparkSession, version: Long, keyCol: String): Option[Map[String, (Long, Long)]] = {
    val rs = fileRanges(spark, version, keyCol)
    val present = rs.collect { case (p, Some(r)) =>
      new File(dataRootPath, p).toString -> r }
    if (present.isEmpty) None else Some(present.toMap)
  }

  /** Bloom membership per data file of `version`, one map (relative path
    * → might contain a value) per `(column, values)` probe. Membership
    * is evaluated INSIDE one union read of every stage's
    * `_blooms.parquet` (a deserialize-and-probe UDF over the
    * file-count-sized sidecar rows), so only per-file BOOLEANS reach the
    * driver — at 100 TB the filters are GB-scale in aggregate and must
    * never be collected. Files without a filter for the column are
    * absent. The probe hash is the build side's
    * `xxhash64(cast(c as string))`, computed through the same Catalyst
    * expression.
    */
  private def bloomHits(
      spark: SparkSession,
      version: Long,
      probes: Seq[(String, Seq[String])]): Seq[Map[String, Boolean]] = {
    val sidecars = stageSidecars(version, "_blooms.parquet").flatMap(_._2).map(_.toString)
    if (probes.isEmpty || sidecars.isEmpty) return probes.map(_ => Map.empty[String, Boolean])
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.functions.{col, udf}
    val hashes = probes.map { case (c, vs) =>
      c -> vs.map(s => new XxHash64(Seq(Literal.create(s, org.apache.spark.sql.types.StringType)))
        .eval(null).asInstanceOf[Long])
    }
    val hit = udf((c: String, bits: Array[Byte]) => {
      val f = Option(bits).map(b => org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(b)))
      hashes.map { case (pc, hs) => pc == c && f.forall(bf => hs.exists(bf.mightContainLong)) }
    })
    val live = dataFiles(version).toSet
    val rows = spark.read.parquet(sidecars: _*)
      .where(col("col").isin(probes.map(_._1).distinct: _*))
      .select(col("file"), col("col"), hit(col("col"), col("bits")))
      .collect().filter(r => live(r.getString(0)))
    probes.indices.map { i =>
      rows.collect { case r if r.getString(1) == probes(i)._1 =>
        r.getString(0) -> r.getSeq[Boolean](2)(i) }.toMap
    }
  }

  /** [[bloomHits]] of one probe for consumers outside the log, keyed by
    * ABSOLUTE path. `None` when no filter anywhere covers the column.
    */
  def fileBloomProbe(
      spark: SparkSession,
      version: Long,
      bloomCol: String,
      values: Seq[String]): Option[Map[String, Boolean]] =
    if (values.isEmpty) None
    else Some(bloomHits(spark, version, Seq(bloomCol -> values)).head.map {
      case (p, h) => new File(dataRootPath, p).toString -> h
    }).filter(_.nonEmpty)

  /** One pruning call's sidecars: each kind is read at most once, and
    * only when the rule first asks for it; the bloom read probes every
    * bound's keys together.
    */
  private final class Sidecars(spark: SparkSession, version: Long, bounds: Seq[SkipBound]) {
    lazy val stats: Map[String, Map[String, (Long, Long)]] = fileStats(spark, version)
    lazy val values: Map[String, Map[String, Option[Set[String]]]] = fileValueSets(spark, version)
    lazy val blooms: Map[(String, Seq[String]), Map[String, Boolean]] = {
      val probes = bounds.filter(_.bloomKeys.nonEmpty).map(b => (b.col, b.bloomKeys)).distinct
      probes.zip(bloomHits(spark, version, probes)).toMap
    }
  }

  /** THE file-skipping rule: false only when `file`'s sidecars PROVE no
    * row can satisfy `b`. A file or column without a sidecar entry and a
    * FULL value set keep the file; a Bloom false positive only re-opens
    * it. Checks run cheapest first and stop at the first proof.
    */
  private def mayMatch(b: SkipBound, sc: Sidecars, file: String): Boolean =
    (b.ranges.isEmpty || sc.stats.get(file).flatMap(_.get(b.col)).forall {
      case (lo, hi) => b.ranges.exists { case (from, to) => from <= hi && to >= lo }
    }) &&
      (b.strings.isEmpty || sc.values.get(file).flatMap(_.get(b.col)).flatten
        .forall(set => b.strings.exists(set))) &&
      (b.bloomKeys.isEmpty || sc.blooms((b.col, b.bloomKeys)).getOrElse(file, true))

  /** The data files of `version` that MAY hold a row satisfying every one
    * of `conjuncts` — resolved Catalyst expressions in PHYSICAL column
    * names, as a catalog scan pushes them
    * ([[org.apache.spark.sql.graftshim.PruningScanBuilder]]). A conjunct
    * the rule cannot read keeps every file. Sidecar-sized metadata work,
    * never a data scan.
    */
  private[sources] def candidateFiles(
      spark: SparkSession,
      version: Long,
      conjuncts: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Seq[String] = {
    val bounds = conjuncts.flatMap(SkipBound.of)
    val sc = new Sidecars(spark, version, bounds)
    dataFiles(version).filter(p => bounds.forall(mayMatch(_, sc, p)))
  }

  /** `predicate`'s top-level conjuncts in the form a catalog scan pushes
    * them: resolved against `version`'s schema (physical names) and run
    * through the session optimizer, which folds literal casts and turns
    * BETWEEN, NOT over a comparison and one-element IN into plain
    * comparisons. `None` when the optimizer proves no row can match. No
    * Spark job: the relation is an empty RDD and the schema comes from
    * the declared one or the footers.
    */
  private[sources] def skipConjuncts(
      spark: SparkSession,
      version: Long,
      predicate: org.apache.spark.sql.Column)
      : Option[Seq[org.apache.spark.sql.catalyst.expressions.Expression]] = {
    import org.apache.spark.sql.catalyst.expressions.{And, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case other => Seq(other)
    }
    val schema = scanSchema(version).getOrElse(footerSchema(version))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .where(predicate).queryExecution.optimizedPlan match {
      case Filter(cond, child) if child.children.isEmpty => Some(split(cond))
      case _: LocalRelation => None
      case _ => Some(Nil)
    }
  }

  /** The union of `version`'s data-file schemas from one parquet footer
    * per stage directory (one write, one schema) — driver-side, never a
    * Spark job.
    */
  private def footerSchema(version: Long): org.apache.spark.sql.types.StructType = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = new org.apache.hadoop.conf.Configuration()
    val converter = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter(org.apache.spark.sql.internal.SQLConf.get)
    val fields = dataFiles(version).groupBy(p => new File(dataRootPath, p).getParent)
      .toSeq.sortBy(_._1).flatMap { case (_, ps) =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(new File(dataRootPath, ps.head).toString), conf))
        try converter.convert(reader.getFooter.getFileMetaData.getSchema).fields.toSeq
        finally reader.close()
      }
    org.apache.spark.sql.types.StructType(fields.distinctBy(_.name))
  }

  /** The data files of `version` that MAY hold a row satisfying
    * `predicate` — the one pruning entry for reads, DML scopes and
    * OPTIMIZE WHERE: its top-level conjuncts ([[skipConjuncts]]) through
    * the one rule ([[candidateFiles]]). Dropping a conjunct the rule
    * cannot read only widens the set, since a row satisfying the whole
    * AND satisfies each kept term.
    */
  def statsCandidateFiles(
      spark: SparkSession,
      version: Long,
      predicate: org.apache.spark.sql.Column): Seq[String] =
    if (dataFiles(version).isEmpty) Nil
    else skipConjuncts(spark, version, predicate)
      .fold(Seq.empty[String])(candidateFiles(spark, version, _))

  /** A predicate read that opens only [[statsCandidateFiles]]: the kept
    * files read under the snapshot's masks and filtered by `predicate`
    * (the empty relation when nothing is kept), plus (filesOpened,
    * filesTotal) so callers can assert the skip fired.
    */
  def readWhere(
      spark: SparkSession,
      version: Long,
      predicate: org.apache.spark.sql.Column): (DataFrame, (Int, Int)) = {
    val keep = statsCandidateFiles(spark, version, predicate)
    val pruned =
      if (keep.isEmpty) read(spark, version).where(org.apache.spark.sql.functions.lit(false))
      else applyMasks(spark, version,
        spark.read.parquet(keep.sorted.map(p => new File(dataRootPath, p).toString): _*)
          .where(predicate))
    (pruned, (keep.size, dataFiles(version).size))
  }

  /** The data files of `cur` whose recorded `keyCol` range holds one of
    * `source`'s distinct keys, plus every file without a recorded range
    * — exact merge candidacy: the distinct keys range-join the broadcast
    * file ranges, so the output is file-count-sized. Sorted.
    */
  private def keyCandidates(
      spark: SparkSession, cur: Long, source: DataFrame, keyCol: String): Seq[String] = {
    import org.apache.spark.sql.functions.{broadcast, col}
    import spark.implicits._
    val ranges = fileRanges(spark, cur, keyCol)
    val statted = ranges.collect { case (p, Some((lo, hi))) => (p, lo, hi) }
    val hit =
      if (statted.isEmpty) Seq.empty[String]
      else source.select(col(keyCol).cast("long").as("k")).distinct()
        .join(broadcast(statted.toDF("file", "lo", "hi")),
          col("k") >= col("lo") && col("k") <= col("hi"))
        .select("file").distinct().as[String].collect().toSeq
    (ranges.collect { case (p, None) => p } ++ hit).sorted
  }

  /** MERGE (upsert) under the log, COPY-ON-WRITE with stats-pruned
    * rewrite scope (the Delta `MERGE INTO` + file-pruning shape):
    * matched keys take the update row, unmatched update rows insert, and
    * — the scale point — only the data files whose recorded `keyCol`
    * range ([[stageIndexed]] sidecars) actually CONTAINS an update key
    * are rewritten; every other file is carried into the new manifest
    * untouched. Candidacy is exact, not min/max-of-the-batch coarse: the
    * file ranges (file-count-sized) broadcast against the DISTINCT
    * update keys, so a narrow update batch over a range-clustered table
    * rewrites O(touched files), not O(table). Committed atomically as
    * one new version; pinned readers of the pre-merge snapshot are
    * untouched. Stats-free files are rewritten conservatively.
    *
    * `updates` must carry the base schema; `keyCol` must be unique per
    * row in both base and updates (upsert key). Returns the committed
    * version plus (filesRewritten, filesTotal) so callers can assert the
    * copy-on-write scope was bounded. Merge-on-read tombstones must be
    * [[compact]]ed away first — mixing the two rewrite disciplines in
    * one commit would hide which mechanism masked a key.
    */
  def mergeCopyOnWrite(updates: DataFrame, keyCol: String): (Long, (Int, Int)) = {
    import org.apache.spark.sql.functions.col
    val spark = updates.sparkSession
    val cur = committedVersion("mergeCopyOnWrite")
    require(tombstoneFiles(cur).isEmpty && posDeleteFiles(cur).isEmpty,
      "mergeCopyOnWrite: compact() merge-on-read tombstones/position deletes before merging")
    val rewrite = keyCandidates(spark, cur, updates, keyCol)
    val untouched = dataFiles(cur).filterNot(rewrite.toSet)
    val baseCols = read(spark, cur).columns.toSeq
    require(updates.columns.toSeq.sorted == baseCols.sorted,
      s"mergeCopyOnWrite: updates schema ${updates.columns.toSeq} != base $baseCols")
    val keyOnly = updates.select(col(keyCol))
    val stagedNew = {
      // survivors of the touched files (update keys anti-joined away)
      // ride in the SAME stage as the update rows: one write, one
      // sidecar. The declared schema pins the scan when one exists so
      // files predating an ADD COLUMNS serve typed NULL here too.
      val survivors =
        if (rewrite.isEmpty) None
        else Some((scanSchema(cur) match {
          case Some(s) => spark.read.schema(s)
            .parquet(rewrite.map(p => new File(dataRootPath, p).toString): _*)
          case None => spark.read
            .parquet(rewrite.map(p => new File(dataRootPath, p).toString): _*)
        }).join(keyOnly, Seq(keyCol), "left_anti"))
      val fresh = updates.select(baseCols.map(col): _*)
      stageIndexed(
        survivors.fold(fresh)(s => s.select(baseCols.map(col): _*).unionByName(fresh)),
        Seq(keyCol))
    }
    val v = commit(Some(cur), metaLines(cur) ++ untouched ++ stagedNew)
    (v, (rewrite.size, dataFiles(cur).size))
  }

  /** FULL three-clause MERGE INTO (the complete Delta `MERGE` semantics,
    * where [[mergeCopyOnWrite]] is the plain-upsert special case):
    *
    *   - WHEN MATCHED AND `deleteWhen`        THEN DELETE
    *   - WHEN MATCHED AND `updateWhen`        THEN UPDATE SET `updateSet`
    *   - WHEN NOT MATCHED (`insertNotMatched`) THEN INSERT *
    *   - WHEN NOT MATCHED BY SOURCE AND
    *     `deleteNotMatchedBySource`           THEN DELETE
    *
    * Clause order is fixed delete-before-update (first applicable clause
    * wins, per the SQL MERGE evaluation rule); every SET / condition
    * expression reads the OLD row — source columns ride `src_`-prefixed
    * (`col("src_amount")`), target columns plainly. All effects commit as
    * ONE atomic version.
    *
    * Scale scope: without a NOT-MATCHED-BY-SOURCE clause only the data
    * files whose [[stageIndexed]] key range contains a source key are
    * rewritten (exact candidacy, as in [[mergeCopyOnWrite]]); with one,
    * every file is in scope by definition (any target row might lose its
    * source match). Inserts anti-join the distinct TARGET key column —
    * one key-column scan, the unavoidable global membership check.
    * Source keys must be unique (ambiguous multi-match is refused, the
    * Delta error). Returns (version, (updated, deleted, inserted),
    * (filesRewritten, filesTotal)).
    *
    * `checks` — declared CHECK constraints as (name, predicate) pairs:
    * enforced on exactly the row images this merge WRITES (updated
    * images and inserted rows — carried survivors are certified by the
    * constraint's own admission scan), folded into the one evaluation as
    * a raise_error guard so a violation fails the write job with nothing
    * committed and zero extra scans. ANSI semantics: only FALSE
    * violates, NULL passes.
    */
  def mergeInto(
      source: DataFrame,
      keyCol: String,
      updateWhen: Option[org.apache.spark.sql.Column] = None,
      updateSet: Seq[(String, org.apache.spark.sql.Column)] = Nil,
      deleteWhen: Option[org.apache.spark.sql.Column] = None,
      insertNotMatched: Boolean = false,
      deleteNotMatchedBySource: Option[org.apache.spark.sql.Column] = None,
      checks: Seq[(String, org.apache.spark.sql.Column)] = Nil,
      insertWhen: Option[org.apache.spark.sql.Column] = None,
      // streaming-transaction watermark (the [[appendTxn]] discipline
      // for MERGE commits — the upsert sink's exactly-once half): the
      // commit records `txn.<appId> = batchId` so the CALLER can skip
      // redelivered batches; a no-change merge commits nothing (a
      // redelivery of it re-runs to the same no-change, idempotent)
      txn: Option[(String, Long)] = None)
      : (Long, (Long, Long, Long), (Int, Int)) =
    mergeIntoKeys(source, Seq(keyCol), updateWhen, updateSet, deleteWhen,
      insertNotMatched, deleteNotMatchedBySource, checks, insertWhen, txn)

  /** [[mergeInto]] generalized two ways:
    *
    *   - `keyCols` — a COMPOUND merge key: the join, the uniqueness
    *     check, the insert anti-join, and the staged stats all run over
    *     the column tuple (the business-key MERGE every warehouse needs;
    *     rewrite-scope pruning stays stats-driven on the LEADING key —
    *     trailing keys refine matches, not candidacy).
    *   - `sourceExtras` — source columns BEYOND the target schema
    *     (a CDC delete indicator, a change-type tag): visible to clause
    *     conditions as `src_<name>` (and by bare name in `insertWhen`,
    *     which evaluates over the raw source), NEVER written — every
    *     staged row image projects exactly the target columns.
    *
    * Plus the fourth Delta clause: WHEN NOT MATCHED BY SOURCE THEN
    * UPDATE (`nmbsUpdateWhen`/`nmbsUpdateSet` — mark-stale-rows).
    * Either NMBS clause puts EVERY file in the rewrite scope by
    * definition (any target row might lose its source match), so both
    * carry the same full-table scale caveat.
    */
  def mergeIntoKeys(
      source: DataFrame,
      keyCols: Seq[String],
      updateWhen: Option[org.apache.spark.sql.Column] = None,
      updateSet: Seq[(String, org.apache.spark.sql.Column)] = Nil,
      deleteWhen: Option[org.apache.spark.sql.Column] = None,
      insertNotMatched: Boolean = false,
      deleteNotMatchedBySource: Option[org.apache.spark.sql.Column] = None,
      checks: Seq[(String, org.apache.spark.sql.Column)] = Nil,
      insertWhen: Option[org.apache.spark.sql.Column] = None,
      txn: Option[(String, Long)] = None,
      sourceExtras: Set[String] = Set.empty,
      // WHEN NOT MATCHED BY SOURCE AND `nmbsUpdateWhen`
      //   THEN UPDATE SET `nmbsUpdateSet` — the "mark stale rows" half of
      // the Delta NMBS pair (delete evaluates first when both are given,
      // same first-match-wins discipline as the matched clauses). SET /
      // condition expressions read the OLD target row; source columns are
      // NULL by definition on such rows, so callers restrict them to
      // target references.
      nmbsUpdateWhen: Option[org.apache.spark.sql.Column] = None,
      nmbsUpdateSet: Seq[(String, org.apache.spark.sql.Column)] = Nil)
      : (Long, (Long, Long, Long), (Int, Int)) = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum, when}
    val spark = source.sparkSession
    require(keyCols.nonEmpty, "mergeInto: need at least one key column")
    require(keyCols.distinct == keyCols,
      s"mergeInto: duplicate key columns in ${keyCols.mkString(", ")}")
    require(updateWhen.isDefined == updateSet.nonEmpty,
      "mergeInto: updateWhen and updateSet come together (use lit(true) for unconditional)")
    require(nmbsUpdateWhen.isDefined == nmbsUpdateSet.nonEmpty,
      "mergeInto: nmbsUpdateWhen and nmbsUpdateSet come together " +
        "(use lit(true) for unconditional)")
    require(updateWhen.isDefined || deleteWhen.isDefined || insertNotMatched ||
        deleteNotMatchedBySource.isDefined || nmbsUpdateWhen.isDefined,
      "mergeInto: at least one clause required")
    val cur = committedVersion("mergeInto")
    // position deletes COMPOSE (merge-on-read merge): the rewrite-scope
    // scan is masked, so a deleteWhere → mergeInto sequence needs no
    // compact between two otherwise delete-sized operations; the
    // pos-delete lines are carried forward — entries against rewritten
    // files become inert (their paths leave the manifest), entries
    // against untouched files keep masking. Key tombstones are still
    // refused: they mask by KEY over every file at read, so carrying
    // them would re-delete rows this merge just inserted/updated under
    // the same keys — absorbing them partially is not expressible.
    require(tombstoneFiles(cur).isEmpty,
      "mergeInto: compact() key tombstones before merging (position deletes compose)")
    val baseCols = read(spark, cur).columns.toSeq
    require(sourceExtras.intersect(baseCols.toSet).isEmpty,
      s"mergeInto: sourceExtras ${sourceExtras.mkString(", ")} collide with " +
        "target columns")
    require(source.columns.toSeq.sorted == (baseCols ++ sourceExtras).sorted,
      s"mergeInto: source schema ${source.columns.toSeq.sorted} != target " +
        s"${(baseCols ++ sourceExtras).sorted}")
    require(keyCols.forall(baseCols.contains),
      s"mergeInto: key column(s) ${keyCols.filterNot(baseCols.contains).mkString(", ")} " +
        s"not in target schema (${baseCols.mkString(", ")})")
    require(!keyCols.exists(sourceExtras.contains),
      "mergeInto: a key column cannot be a sourceExtra")
    require(!baseCols.exists(c => c.startsWith("src_") || c == "__matched"),
      "mergeInto: target columns must not be named src_* or __matched")
    // the source batch feeds four consumers (uniqueness check, rewrite
    // scope probe, the join, the insert anti-join) — pin ONE evaluation
    val src = source.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val srcCounts = src.agg(
      count(lit(1)),
      org.apache.spark.sql.functions.countDistinct(
        keyCols.head, keyCols.tail: _*)).head()
    require(srcCounts.getLong(0) == srcCounts.getLong(1),
      s"mergeInto: source keys must be unique on (${keyCols.mkString(", ")}) — " +
        s"${srcCounts.getLong(0)} rows, ${srcCounts.getLong(1)} distinct (ambiguous matches)")

    // rewrite scope: stats-pruned on the LEADING key unless a
    // NOT-MATCHED-BY-SOURCE clause puts every target row in play
    // (trailing compound keys refine match identity, not file candidacy
    // — a file whose leading-key range misses every source key cannot
    // hold a matched row)
    val headNumeric = source.schema.fields.find(_.name == keyCols.head)
      .exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
    val rewrite: Seq[String] =
      if (deleteNotMatchedBySource.isDefined || nmbsUpdateWhen.isDefined ||
          !headNumeric) dataFiles(cur)
      else keyCandidates(spark, cur, src, keyCols.head)
    val untouched = dataFiles(cur).filterNot(rewrite.toSet)

    val srcPref = src.columns.foldLeft(src: DataFrame) { (d, c) =>
      d.withColumnRenamed(c, s"src_$c")
    }.withColumn("__matched", lit(true))
    // merge-on-read: mask outstanding position deletes out of the
    // rewrite-scope scan so the rewrite can never resurrect them. The
    // DECLARED schema pins the scan when one exists — files predating an
    // ADD COLUMNS lack the added columns physically and must serve typed
    // NULL here exactly as the table read does (without the pin, a merge
    // touching pre-evolution files dies on the missing attribute)
    val tgt =
      if (rewrite.isEmpty) read(spark, cur).limit(0)
      else applyMasks(spark, cur, scanSchema(cur) match {
        case Some(s) => spark.read.schema(s)
          .parquet(rewrite.map(p => new File(dataRootPath, p).toString): _*)
        case None => spark.read
          .parquet(rewrite.map(p => new File(dataRootPath, p).toString): _*)
      })
    // ONE evaluation of the joined scan feeds the clause metrics, the
    // emptiness probe, and the staging write (r11 re-read it up to four
    // times — three redundant scans of the rewrite scope at 100 TB, and
    // a nondeterministic source could commit metrics and images
    // describing different row sets)
    val joined = tgt.join(srcPref,
        keyCols.map(k => col(k) === col(s"src_$k")).reduce(_ && _), "left_outer")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val matched = coalesce(col("__matched"), lit(false))
    // a NULL clause condition means "does not apply" (SQL three-valued)
    def applies(c: org.apache.spark.sql.Column) = coalesce(c, lit(false))
    val delApplies = deleteWhen.map(c => matched && applies(c)).getOrElse(lit(false))
    val updApplies = updateWhen
      .map(c => matched && !delApplies && applies(c)).getOrElse(lit(false))
    val nmbsApplies = deleteNotMatchedBySource
      .map(c => !matched && applies(c)).getOrElse(lit(false))
    // NMBS UPDATE evaluates after NMBS DELETE (first applicable wins)
    val nmbsUpdApplies = nmbsUpdateWhen
      .map(c => !matched && !nmbsApplies && applies(c)).getOrElse(lit(false))
    // clause metrics in ONE pass over the rewrite scope
    val m = joined.agg(
      sum(when(delApplies, 1L).otherwise(0L)),
      sum(when(updApplies, 1L).otherwise(0L)),
      sum(when(nmbsApplies, 1L).otherwise(0L)),
      sum(when(nmbsUpdApplies, 1L).otherwise(0L))).head()
    def metric(i: Int) = if (m.isNullAt(i)) 0L else m.getLong(i)
    val (nDelM, nUpd, nDelNmbs, nUpdNmbs) =
      (metric(0), metric(1), metric(2), metric(3))
    // every SET expression reads the OLD row: stage new values in temp
    // columns BEFORE any target column is overwritten (both clause
    // families — a row is matched-updated XOR nmbs-updated, never both)
    val survivors = joined.where(!delApplies && !nmbsApplies)
    val withTmp = nmbsUpdateSet.zipWithIndex.foldLeft(
        updateSet.zipWithIndex.foldLeft(
            survivors.withColumn("__upd", updApplies)
              .withColumn("__nupd", nmbsUpdApplies)) {
          case (d, ((_, c), i)) => d.withColumn(s"__u$i", c)
        }) {
      case (d, ((_, c), i)) => d.withColumn(s"__n$i", c)
    }
    // CHECK enforcement rides the rows this merge writes — the guard
    // fires only where the row image CHANGED (updated or inserted), so a
    // pre-existing violation in a carried survivor can never fail an
    // unrelated merge
    def guardChecks(d: DataFrame, changed: org.apache.spark.sql.Column): DataFrame =
      if (checks.isEmpty) d
      else {
        import org.apache.spark.sql.functions.raise_error
        val allOk = checks.map { case (_, c) => coalesce(c, lit(true)) }.reduce(_ && _)
        val names = checks.map(_._1).mkString(", ")
        d.withColumn(baseCols.head,
          when(!changed || allOk, col(baseCols.head)).otherwise(raise_error(lit(
            s"mergeInto: a written row violates CHECK constraint(s) " +
              s"[$names] — nothing committed"))))
      }
    val updated = guardChecks(
      nmbsUpdateSet.zipWithIndex.foldLeft(
          updateSet.zipWithIndex.foldLeft(withTmp) {
            case (d, ((n, _), i)) =>
              d.withColumn(n, when(col("__upd"), col(s"__u$i")).otherwise(col(n)))
          }) {
        case (d, ((n, _), i)) =>
          d.withColumn(n, when(col("__nupd"), col(s"__n$i")).otherwise(col(n)))
      }, col("__upd") || col("__nupd")).select(baseCols.map(col): _*)
    // `insertWhen` (the `WHEN NOT MATCHED AND <cond>` filter): evaluated
    // over the SOURCE row alone — a not-matched row has no target image,
    // so the caller restricts the predicate to source columns
    require(insertWhen.isEmpty || insertNotMatched,
      "mergeInto: insertWhen requires insertNotMatched")
    // insert anti-join against the REWRITE SCOPE's keys, not the whole
    // table: a target key equal to a source key must live in a file
    // whose recorded leading-key range contains it — exactly the files
    // the scope already holds (stats-free files are always in scope, and
    // non-numeric/NMBS merges scope to the full table anyway). A narrow
    // CDC batch over a range-clustered 100 TB table pays O(touched
    // files) for the membership check instead of a table-wide key scan.
    // The key side reads the PERSISTED joined frame (every target row of
    // the scope appears exactly once there — source keys are unique), so
    // the anti-join costs zero extra parquet scans; `inserts` is pinned
    // too, so its count and the staging write share one evaluation (the
    // old shape re-ran the anti-join, and its target-key re-scan, twice).
    val inserts =
      if (!insertNotMatched) None
      else Some(guardChecks(src
        .join(joined.select(keyCols.map(col): _*).distinct(),
          keyCols, "left_anti")
        .where(insertWhen.getOrElse(lit(true)))
        .select(baseCols.map(col): _*), lit(true))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try {
    val nIns = inserts.map(_.count()).getOrElse(0L)
    if (rewrite.isEmpty && nIns == 0L) (cur, (0L, 0L, 0L), (0, dataFiles(cur).size))
    else {
      val out = inserts.fold(updated)(updated.unionByName(_))
      // a merge that deletes the entire rewrite scope stages nothing;
      // when rows were inserted the scope is provably non-empty already
      val staged =
        if (nIns == 0L && out.limit(1).count() == 0L) Seq.empty[String]
        else stageIndexed(out, keyCols)
      // pos-delete and deletion-vector lines ride forward: still masking
      // the untouched files, inert against the rewritten ones
      val posDelLines = files(cur).filter(l =>
        l.startsWith(PosDelPrefix) || l.startsWith(DvPrefix))
      val lines0 = metaLines(cur) ++ posDelLines ++ untouched ++ staged
      val lines = txn.fold(lines0) { case (app, b) =>
        withMeta(lines0, s"txn.$app", b.toString) }
      val v = commit(Some(cur), lines)
      (v, (nUpd + nUpdNmbs, nDelM + nDelNmbs, nIns),
        (rewrite.size, dataFiles(cur).size))
    }
    } finally { inserts.foreach(_.unpersist()); () }
    } finally { joined.unpersist(); src.unpersist(); () }
  }

  /** Snapshot-pinned read of version `v`: exactly the manifest's files,
    * regardless of what lands in the log afterwards.
    *
    * `mergeSchema = true` unions the schemas of the snapshot's files
    * (schema EVOLUTION under the log: an append may add columns — old
    * files serve nulls for them, and a version pinned BEFORE the evolved
    * append keeps the old schema because its manifest never lists the new
    * files). Off by default: merging reads every file footer at planning
    * time, which a homogeneous-schema read doesn't need to pay.
    */
  def read(spark: SparkSession, version: Long, mergeSchema: Boolean = false): DataFrame = {
    val paths = dataFiles(version).map(p => new File(dataRootPath, p).toString)
    // the scan pin carries declared type widenings — one homogeneous
    // typed relation over narrow and wide file vintages alike
    val declared = scanSchema(version)
    if (paths.isEmpty && declared.isDefined)
      // a data-less snapshot with a DECLARED schema ([[createEmpty]] —
      // CREATE TABLE before the first insert) reads as the empty relation
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), declared.get)
    // a DECLARED schema is authoritative once present: files written
    // before an [[addColumns]] lack the added columns physically, and the
    // pinned-schema scan serves them as NULL — the Delta metadata-only
    // ADD COLUMN read semantics (no mergeSchema footer walk needed)
    val data = declared match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.option("mergeSchema", mergeSchema.toString).parquet(paths: _*)
    }
    applyMasks(spark, version, data)
  }

  /** CREATE an EMPTY table with a DECLARED schema (the `CREATE TABLE`
    * shape): v0 is one metadata-only commit carrying `meta:schema=<json>`
    * and ZERO data files. [[read]] of a data-less snapshot returns the
    * empty relation in this schema; the schema meta line rides every
    * later commit unchanged, and [[appendStrict]] (the SQL INSERT route)
    * validates batches against it from the very first insert.
    */
  def createEmpty(schema: org.apache.spark.sql.types.StructType): Long =
    commitCreate(schema, Nil)

  /** The table-definition meta lines of a CREATE/REPLACE: the declared
    * schema plus `prop.<key>` table properties (e.g. `clusterBy`, the
    * declared clustering keys OPTIMIZE defaults to).
    */
  private def definitionMeta(
      schema: org.apache.spark.sql.types.StructType,
      properties: Map[String, String]): Seq[String] =
    metaLine("schema", schema.json) +:
      properties.toSeq.sorted.map { case (k, v) => metaLine(s"prop.$k", v) }

  /** CREATE a table whose v0 carries the declared schema, table
    * properties, AND `staged` data files in ONE atomic commit — the
    * publish half of an ATOMIC CTAS ([[graft.sources.GraftCatalog]]'s
    * `StagingTableCatalog` route): the SELECT's output is staged first
    * (invisible), and this single put-if-absent commit makes schema and
    * data appear together, so a crash anywhere before it leaves NO
    * table — never the empty-but-committed husk Spark's non-atomic CTAS
    * can leave.
    */
  def commitCreate(
      schema: org.apache.spark.sql.types.StructType,
      staged: Seq[String],
      properties: Map[String, String] = Map.empty): Long = {
    require(currentVersion.isEmpty,
      s"commitCreate: $root already has committed snapshots")
    commit(None, definitionMeta(schema, properties) ++ staged)
  }

  /** REPLACE the table definition and content in ONE commit (the atomic
    * `REPLACE TABLE … AS SELECT` publish): the new declared schema,
    * properties, and staged files supersede the ENTIRE previous listing —
    * carried metadata (column mapping, stats pointers) belongs to the
    * old definition and is dropped with it. Prior versions stay
    * time-travellable as always.
    */
  def commitReplace(
      schema: org.apache.spark.sql.types.StructType,
      staged: Seq[String],
      properties: Map[String, String] = Map.empty): Long = {
    val cur = committedVersion("commitReplace")
    commit(Some(cur), definitionMeta(schema, properties) ++ staged)
  }

  /** Set one `prop.<key>` table property as a metadata-only commit (the
    * `ALTER TABLE … SET TBLPROPERTIES` route).
    */
  def setProperty(key: String, value: String): Long = {
    val cur = committedVersion("setProperty")
    commit(Some(cur), withMeta(files(cur), s"prop.$key", value))
  }

  /** The `prop.<key>` table property of a snapshot, if set. */
  def property(version: Long, key: String): Option[String] =
    metaValues(version).get(s"prop.$key")

  /** Remove one `prop.<key>` table property as a metadata-only commit
    * (the `ALTER TABLE … DROP CONSTRAINT`/UNSET route). Returns the
    * current version unchanged when the property was never set.
    */
  def removeProperty(key: String): Long = {
    val cur = committedVersion("removeProperty")
    if (property(cur, key).isEmpty) cur
    else commit(Some(cur),
      files(cur).filterNot(_.startsWith(s"${MetaPrefix}prop.$key=")))
  }

  /** SET / DROP a column's DEFAULT (the `ALTER TABLE … ALTER COLUMN c
    * SET DEFAULT expr` route) as ONE metadata-only commit: only the
    * declared schema's `CURRENT_DEFAULT` field metadata moves — future
    * INSERTs that omit the column get the new default (applied by
    * Spark's own analyzer), existing rows and files-lacking-the-column
    * semantics (`EXISTS_DEFAULT`) are untouched, exactly the Delta
    * behavior. `None` drops the default. `forExistingRows` additionally
    * sets `EXISTS_DEFAULT` — the `ADD COLUMNS (c T DEFAULT v)` case,
    * where ANSI says rows written BEFORE the column existed read the
    * default too (Spark's file readers fill missing columns from that
    * metadata).
    */
  def setColumnDefault(
      name: String,
      sqlText: Option[String],
      forExistingRows: Boolean = false): Long = {
    val cur = committedVersion("setColumnDefault")
    require(columnMapping(cur).isEmpty,
      s"setColumnDefault: $root uses column mapping — defaults ride the " +
        "declared schema, which mapping supersedes")
    val ds = declaredSchema(cur).getOrElse(throw new IllegalStateException(
      s"setColumnDefault: $root declares no schema (CREATE TABLE first)"))
    require(ds.fieldNames.contains(name),
      s"setColumnDefault: no column named $name (have ${ds.fieldNames.mkString(", ")})")
    val updated = org.apache.spark.sql.types.StructType(ds.fields.map { f =>
      if (f.name != name) f
      else {
        val b = new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
        sqlText match {
          case Some(t) =>
            b.putString("CURRENT_DEFAULT", t)
            if (forExistingRows) b.putString("EXISTS_DEFAULT", t)
          case None => b.remove("CURRENT_DEFAULT")
        }
        f.copy(metadata = b.build())
      }
    })
    commit(Some(cur), withMeta(files(cur), "schema", updated.json))
  }

  /** RENAME COLUMN on a DECLARED-BUT-EMPTY table: with zero data files
    * there is no physical name to preserve, so the rename is a pure
    * declared-schema rewrite — no column-mapping upgrade needed. The
    * moment data exists, renames must go through [[renameColumn]] under
    * column mapping.
    */
  def renameEmptyDeclared(from: String, to: String): Long = {
    val cur = committedVersion("renameEmptyDeclared")
    require(dataFiles(cur).isEmpty,
      s"renameEmptyDeclared: $root has data files — rename under column mapping")
    require(columnMapping(cur).isEmpty,
      s"renameEmptyDeclared: $root uses column mapping — use renameColumn")
    val ds = declaredSchema(cur).getOrElse(throw new IllegalStateException(
      s"renameEmptyDeclared: $root declares no schema"))
    require(ds.fieldNames.contains(from),
      s"renameEmptyDeclared: no column named $from (have ${ds.fieldNames.mkString(", ")})")
    require(!ds.fieldNames.contains(to), s"renameEmptyDeclared: column $to already exists")
    val renamed = org.apache.spark.sql.types.StructType(
      ds.fields.map(f => if (f.name == from) f.copy(name = to) else f))
    commit(Some(cur), withMeta(files(cur), "schema", renamed.json))
  }

  /** The schema a table declared ([[createEmpty]]) or evolved to
    * ([[addColumns]]), if any. Absent on tables whose schema is derived
    * purely from their data files.
    */
  def declaredSchema(version: Long): Option[org.apache.spark.sql.types.StructType] =
    metaValues(version).get("schema").map(j =>
      org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** The schema a pinned DATA SCAN of `version` uses: the declared
    * schema with any declared type WIDENINGS ([[widenColumn]]'s
    * `coltypes`) applied — narrow pre-widening files up-cast on the scan
    * itself (the Spark 4 parquet widening read), post-widening files
    * match exactly, and every consumer (reads, DML rewrite scans,
    * position addressing) sees ONE homogeneous typed relation. Identity
    * when nothing widened.
    */
  def scanSchema(version: Long): Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types.{DataType, StructField, StructType}
    val widened = columnTypes(version)
    declaredSchema(version).map { ds =>
      if (widened.isEmpty) ds
      else StructType(ds.fields.map(f =>
        widened.get(f.name).fold(f)(t =>
          f.copy(dataType = DataType.fromDDL(t)))))
    }.orElse {
      // a WIDENED mapped table without a declared schema (API-built):
      // the pin derives from the mapping metadata — live physical ids
      // under their widened-or-base types ([[columnBaseTypes]]); absent
      // base types (legacy enables) fall through to the callers' own
      // handling rather than a guessed pin
      if (widened.isEmpty) None
      else columnMapping(version).flatMap { case (_, pairs) =>
        val base = columnBaseTypes(version)
        val fields = pairs.map { case (_, p) =>
          p -> widened.get(p).orElse(base.get(p)) }
        if (fields.forall(_._2.isDefined))
          Some(StructType(fields.map { case (p, t) =>
            StructField(p, DataType.fromDDL(t.get)) }))
        else None
      }
    }
  }

  /** Whether every declared widening of `version` is servable by the
    * PINNED-schema scan (the parquet reader's up-cast set). The one hole
    * is a FLOAT target (tinyint/smallint → float): lossless on paper but
    * not a reader promotion — those tables keep the per-stage union read
    * and its mask/DML refusals.
    */
  def wideningsPinnable(version: Long): Boolean =
    !columnTypes(version).values.exists(_ == "float")

  /** `ALTER TABLE … ADD COLUMNS` — ONE METADATA-ONLY COMMIT (the Delta
    * ADD COLUMN shape): the snapshot's declared schema gains the new
    * nullable fields at the end; NO data file is touched or rewritten.
    * Existing files lack the columns physically and every read path
    * ([[read]], [[readWithPositions]]) pins the declared schema so old
    * rows serve NULL for them, while [[appendStrict]] (the SQL INSERT
    * route) starts enforcing the widened shape on the very next batch.
    * Duplicate names (case-insensitive, against the table or within the
    * batch), the reserved `_file`/`_pos` address names, and
    * column-mapped tables (whose physical schema is managed by
    * [[renameColumn]]/[[widenColumn]]) are refused loudly.
    */
  def addColumns(
      spark: SparkSession,
      cols: Seq[(String, org.apache.spark.sql.types.DataType)]): Long = {
    require(cols.nonEmpty, "addColumns: need at least one column to add")
    val cur = committedVersion("addColumns")
    require(columnMapping(cur).isEmpty,
      s"addColumns: $root uses column mapping — evolve its physical schema " +
        "through the mapping-aware path (renameColumn/widenColumn)")
    val base = read(spark, cur).schema
    val taken = scala.collection.mutable.Set(
      base.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toIndexedSeq: _*)
    cols.foreach { case (n, _) =>
      require(n != "_file" && n != "_pos",
        s"addColumns: $n collides with the reserved position-delete address columns")
      require(taken.add(n.toLowerCase(java.util.Locale.ROOT)),
        s"addColumns: column $n already exists (names are case-insensitive)")
    }
    val dropped = droppedColumns(cur)
    cols.foreach { case (n, _) =>
      require(!dropped.contains(n.toLowerCase(java.util.Locale.ROOT)),
        s"addColumns: $n was previously DROPPED — re-adding the name would " +
          "resurrect ghost values from files that still carry it physically; " +
          "pick a new name, or evolve under column mapping (physical ids)")
    }
    val evolved = org.apache.spark.sql.types.StructType(
      base.fields ++ cols.map { case (n, t) =>
        org.apache.spark.sql.types.StructField(n, t, nullable = true) })
    commit(Some(cur), withMeta(files(cur), "schema", evolved.json))
  }

  /** Column names a [[dropColumns]] retired (lower-cased) — the
    * resurrection blocklist [[addColumns]] enforces.
    */
  private def droppedColumns(version: Long): Set[String] =
    metaValues(version).get("droppedcols")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  /** `ALTER TABLE … DROP COLUMN` — ONE METADATA-ONLY COMMIT, the dual of
    * [[addColumns]]: the declared schema loses the named columns and NO
    * data file is touched — the pinned-schema read simply stops
    * projecting them (files keep the bytes; a [[compact]] materializes
    * the narrow shape physically). Time-travelled reads keep the old
    * schema. The dropped names join a RESURRECTION BLOCKLIST carried in
    * the commit metadata: re-adding one later would silently expose the
    * ghost values old files still carry, so [[addColumns]] refuses it —
    * the hazard Delta solves with column mapping, here made loud
    * instead. Dropping the last column, unknown names, and column-mapped
    * tables are refused.
    */
  def dropColumns(spark: SparkSession, names: Seq[String]): Long = {
    require(names.nonEmpty, "dropColumns: need at least one column to drop")
    val cur = committedVersion("dropColumns")
    require(columnMapping(cur).isEmpty,
      s"dropColumns: $root uses column mapping — evolve its physical schema " +
        "through the mapping-aware path")
    names.foreach(n => require(!n.contains(',') && !n.contains('='),
      s"dropColumns: column name $n cannot ride the metadata line"))
    val base = read(spark, cur).schema
    val lower = names.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    require(lower.size == names.size, "dropColumns: duplicate names in the batch")
    val missing = lower.filterNot(
      base.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet)
    require(missing.isEmpty,
      s"dropColumns: no column(s) named ${missing.toSeq.sorted.mkString(", ")} " +
        s"(have ${base.fieldNames.mkString(", ")})")
    val kept = base.fields.filterNot(f =>
      lower.contains(f.name.toLowerCase(java.util.Locale.ROOT)))
    require(kept.nonEmpty, "dropColumns: a table cannot lose its last column")
    val blocklist = (droppedColumns(cur) ++ lower).toSeq.sorted.mkString(",")
    commit(Some(cur), withMeta(
      withMeta(files(cur), "schema",
        org.apache.spark.sql.types.StructType(kept).json),
      "droppedcols", blocklist))
  }

  def readLatest(spark: SparkSession): DataFrame =
    read(spark, committedVersion("read"))

  /** Drop commits strictly below `keepFrom` (their exclusive files
    * become orphans for [[vacuum]]). Before deleting, a checkpoint is
    * materialized at the oldest SURVIVING version if it doesn't already
    * have one — the delta chain below it is about to disappear, and
    * reconstruction of every later version re-bases on that checkpoint.
    * Returns the expired versions.
    */
  def expire(keepFrom: Long): Seq[Long] = {
    val vs = versions
    val expired = vs.filter(_ < keepFrom)
    if (expired.nonEmpty) {
      vs.find(_ >= keepFrom).foreach { floor =>
        if (!manifestFile(floor).exists()) {
          // carry the ORIGINAL commit wall-clock into the materialized
          // checkpoint — TIMESTAMP AS OF must not shift because an
          // expire re-based the chain
          writeAtomic(manifestFile(floor),
            s"$TsPrefix${commitTimeMillis(floor)}" +: files(floor))
          ()
        }
      }
    }
    expired.map { v =>
      manifestFile(v).delete()
      deltaFile(v).delete()
      v
    }
  }

  /** Drop commits strictly ABOVE `keepMax` — the crashed-suffix cleanup
    * (the dual of [[expire]]'s prefix drop, and
    * [[TxnCatalog.gcOrphanSuffix]]'s per-table step): a writer that died
    * after its table-log commit but before its catalog anchor leaves a
    * version suffix nothing references, and chains only look BACKWARD —
    * no surviving version's reconstruction needs a dropped suffix delta,
    * so this is safe by construction (a MID-chain version, by contrast,
    * is a structural ancestor of every later delta and cannot be dropped
    * without re-checkpointing). The dropped versions' exclusive data
    * files become [[vacuum]] orphans. Returns the dropped versions.
    */
  def truncateAbove(keepMax: Long): Seq[Long] = {
    require(versions.contains(keepMax),
      s"truncateAbove: version $keepMax is not committed at $root (have $versions)")
    versions.filter(_ > keepMax).map { v =>
      manifestFile(v).delete()
      deltaFile(v).delete()
      v
    }
  }

  /** Collect data files referenced by NO live manifest — aborted stages
    * and expired snapshots' exclusive files. Never touches a file any
    * existing manifest still lists, so every pinned snapshot keeps
    * reading; idempotent by construction. Returns the deleted relative
    * paths, sorted.
    */
  def vacuum(): Seq[String] = {
    require(ownsPool,
      s"vacuum: this log borrows the data pool at $dataRootPath — a lone " +
        "sweep would collect files other refs still read; use " +
        "SnapshotLog.vacuumShared over every log sharing the pool")
    require(!branchesDir.exists() ||
        Option(branchesDir.listFiles()).getOrElse(Array.empty).isEmpty,
      s"vacuum: branches exist under $root and share this data pool; use " +
        "SnapshotLog.vacuumShared over the parent and every branch")
    val liveClones = cloneRoots
    require(liveClones.isEmpty,
      s"vacuum: shallow clone(s) at ${liveClones.mkString(", ")} share this " +
        "data pool; use SnapshotLog.vacuumShared over the owner and every clone")
    sweepOrphans(liveFiles, liveLedgerIds)
  }

  /** Whether this log's data pool is its own root (false for branches
    * and shallow clones, however they were opened).
    */
  private def ownsPool: Boolean =
    dataRootPath == new File(root).getCanonicalPath

  /** What [[vacuum]] WOULD delete, touching nothing — the dry run every
    * operator wants before a destructive sweep. Same guards, same orphan
    * listing, zero deletions; a following [[vacuum]] removes exactly
    * this list (modulo concurrent commits). With `keepFrom`, the live
    * set is computed from the versions an [[expire]]`(keepFrom)` would
    * RETAIN — previewing the full expire-then-vacuum sequence without
    * running either.
    */
  def vacuumDryRun(keepFrom: Option[Long] = None): Seq[String] = {
    require(ownsPool,
      s"vacuumDryRun: this log borrows the data pool at $dataRootPath — " +
        "preview against every log sharing the pool")
    require(!branchesDir.exists() ||
        Option(branchesDir.listFiles()).getOrElse(Array.empty).isEmpty,
      s"vacuumDryRun: branches exist under $root and share this data pool")
    require(cloneRoots.isEmpty,
      s"vacuumDryRun: shallow clone(s) share this data pool")
    val retained = keepFrom match {
      case Some(k) =>
        val vs = versions.filter(_ >= k)
        require(vs.nonEmpty,
          s"vacuumDryRun: keepFrom $k would retain no version of $root")
        vs
      case None => versions
    }
    val liveLedgers = retained.flatMap(v =>
      metaValues(v).get(CopyLedgerKey).toSeq
        .flatMap(_.split(',')).filter(_.nonEmpty)).toSet
    listOrphans(retained.flatMap(v =>
      dataFiles(v) ++ tombstoneFiles(v) ++ posDeleteFiles(v) ++ dvFiles(v)).toSet) ++
      orphanLedgerDirs(liveLedgers).map(d => s"data/_copyledger/${d.getName}")
  }

  /** All data/tombstone relative paths any live version of THIS log still
    * references — the per-log contribution to a shared-pool vacuum.
    */
  private[sources] def liveFiles: Set[String] =
    versions.flatMap(v =>
      dataFiles(v) ++ tombstoneFiles(v) ++ posDeleteFiles(v) ++ dvFiles(v)).toSet

  /** COPY INTO ledger ids any live version's `copyledgers` meta still
    * references — the per-log contribution to the ledger sweep. The meta
    * value is cumulative (each COPY appends its id), so committed
    * ledgers stay referenced for the life of the chain; only ABORTED
    * stages (a crash before the commit, each losing side of an OCC
    * retry) ever fall out of this set.
    */
  private[sources] def liveLedgerIds: Set[String] =
    versions.flatMap(v => metaValues(v).get(CopyLedgerKey).toSeq
      .flatMap(_.split(',')).filter(_.nonEmpty)).toSet

  /** The `_copyledger/<uuid>` staging dirs referenced by NO live
    * version — a crashed or OCC-retried COPY INTO leaves one per lost
    * attempt, and nothing else ever collects them (the orphan walk
    * skips underscore dirs by design).
    */
  private def orphanLedgerDirs(liveLedgers: Set[String]): Seq[File] =
    Option(new File(dataDir, "_copyledger").listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && !liveLedgers.contains(d.getName))
      .toSeq.sortBy(_.getName)

  private[sources] def branchesDir = new File(root, "branches")

  /** Canonical roots of this log's LIVE branches ([[fork]]) — the chains
    * a shared-pool sweep must also protect.
    */
  private[sources] def liveBranchRoots: Seq[String] =
    Option(branchesDir.listFiles()).getOrElse(Array.empty).toSeq
      .filter(d => new File(d, "_log").isDirectory)
      .map(_.getCanonicalPath).sorted

  /** The orphan listing [[sweepOrphans]] deletes and [[vacuumDryRun]]
    * previews — underscore-prefixed entries (the `_stats.parquet`
    * sidecar) are stage METADATA, not data files: never orphan-collected
    * on their own, dropped with the directory once its last data file
    * dies.
    */
  private def listOrphans(live: Set[String]): Seq[String] =
    Option(dataDir.listFiles()).getOrElse(Array.empty)
      // underscore-prefixed DIRECTORIES are engine metadata pools (the
      // COPY INTO ledger) — referenced from meta values, not manifest
      // file lines, so the orphan walk must never enter them
      .filter(d => d.isDirectory && !d.getName.startsWith("_"))
      .flatMap { d =>
        Option(d.listFiles()).getOrElse(Array.empty)
          .filter(f => f.getName.endsWith(".parquet") &&
            !f.getName.startsWith(".") && !f.getName.startsWith("_"))
          .map(f => s"data/${d.getName}/${f.getName}")
          .filterNot(live.contains)
      }.toSeq.sorted

  // `liveLedgers` is deliberately NOT defaulted: an implicit empty set
  // would classify every committed COPY INTO ledger as dead and destroy
  // the copy-dedup state — every caller must state what it protects
  private[sources] def sweepOrphans(
      live: Set[String], liveLedgers: Set[String]): Seq[String] = {
    val writeDirs = Option(dataDir.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && !d.getName.startsWith("_"))
    val orphans = listOrphans(live)
    orphans.foreach(p => new File(dataRootPath, p).delete())
    // ledger stages referenced by no retained version (aborted COPY INTO
    // attempts) are an unbounded on-disk leak without this sweep
    val deadLedgers = orphanLedgerDirs(liveLedgers)
    deadLedgers.foreach(d => graft.streaming.StreamingSessionize.deleteTree(d.toPath))
    // a write dir with no DATA parquet left holds only markers/sidecars —
    // clear it so the data tree shrinks with the snapshots
    writeDirs.foreach { d =>
      val remaining = Option(d.listFiles()).getOrElse(Array.empty)
      if (!remaining.exists(f => f.getName.endsWith(".parquet") &&
          !f.getName.startsWith(".") && !f.getName.startsWith("_")))
        graft.streaming.StreamingSessionize.deleteTree(d.toPath)
    }
    orphans ++ deadLedgers.map(d => s"data/_copyledger/${d.getName}")
  }

  /** Wipe and re-init the log root — test/fixture reset ONLY (the Verify
    * re-run discipline). Canonicalized and guarded to `target/` scratch
    * paths like every other destructive helper in this package.
    */
  def recreate(): Unit =
    graft.GraftSession.wipe(root, "refusing to wipe a snapshot log outside a target/ scratch dir")
}

/** The column diff of a write batch against its table: the table's
  * columns `missing` from the batch, the batch's `extra` columns, and the
  * shared columns `retyped` as (name, table type, batch type), each sorted
  * by name. Every schema gate computes it here and keeps its own accept
  * rule and message prefix; `toString` renders the diff for the refusal.
  */
private[graft] final case class SchemaDrift(
    missing: Seq[String], extra: Seq[String], retyped: Seq[(String, DataType, DataType)]) {
  def isEmpty: Boolean = missing.isEmpty && extra.isEmpty && retyped.isEmpty

  /** Same columns, and only `col` may differ in type (an identity column
    * the batch carries as NULL).
    */
  def sameColumnsBut(col: String): Boolean =
    missing.isEmpty && extra.isEmpty && retyped.forall(_._1 == col)

  override def toString: String = {
    val re = retyped.map { case (c, t, b) => s"$c: ${t.simpleString} -> ${b.simpleString}" }
    Seq("missing" -> missing, "extra" -> extra, "retyped" -> re)
      .map { case (k, v) => v.mkString(s"$k=[", ",", "]") }.mkString(" ")
  }
}

private[graft] object SchemaDrift {
  def of(table: Seq[StructField], batch: Seq[StructField]): SchemaDrift = {
    val t = table.map(f => f.name -> f.dataType).toMap
    val b = batch.map(f => f.name -> f.dataType).toMap
    SchemaDrift(
      (t.keySet -- b.keySet).toSeq.sorted,
      (b.keySet -- t.keySet).toSeq.sorted,
      t.keySet.intersect(b.keySet).toSeq.sorted.collect {
        case c if t(c) != b(c) => (c, t(c), b(c))
      })
  }
}

/** One conjunct in a shape the file-skipping rule reads, over the
  * PHYSICAL column `col`: the value lies in one of the closed
  * integral/date intervals `ranges` (checked against `_stats`), is one
  * of `strings` (checked against `_values`), and hashes like one of
  * `bloomKeys` (checked against `_blooms`, which hash the value's
  * string form). An empty list checks nothing.
  */
private[sources] final case class SkipBound(
    col: String, ranges: Seq[(Long, Long)], strings: Seq[String], bloomKeys: Seq[String])

private[sources] object SkipBound {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.types._

  /** The bound `e` states when its shape is one the rule reads: a
    * comparison of a column with a literal (either side) or `IN`
    * literals, over integral and date columns; `=` or `IN` over string
    * columns. Every other shape (OR, NOT, a function of a column,
    * column against column, non-integral numbers) prunes nothing.
    */
  def of(e: Expression): Option[SkipBound] = e match {
    case EqualTo(a: Attribute, l: Literal) => oneOf(a, Seq(l))
    case EqualTo(l: Literal, a: Attribute) => oneOf(a, Seq(l))
    case In(a: Attribute, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
      oneOf(a, vs.map(_.asInstanceOf[Literal]))
    case GreaterThan(a: Attribute, l: Literal) => from(a, l, 1L)
    case LessThan(l: Literal, a: Attribute) => from(a, l, 1L)
    case GreaterThanOrEqual(a: Attribute, l: Literal) => from(a, l, 0L)
    case LessThanOrEqual(l: Literal, a: Attribute) => from(a, l, 0L)
    case LessThan(a: Attribute, l: Literal) => upTo(a, l, 1L)
    case GreaterThan(l: Literal, a: Attribute) => upTo(a, l, 1L)
    case LessThanOrEqual(a: Attribute, l: Literal) => upTo(a, l, 0L)
    case GreaterThanOrEqual(l: Literal, a: Attribute) => upTo(a, l, 0L)
    case _ => None
  }

  // the axis the stats record: integers as themselves, a DATE as its
  // epoch day. A step past Long's end wraps to the full range — the
  // bound widens, never narrows.
  private def axis(l: Literal): Option[Long] = l.dataType match {
    case ByteType | ShortType | IntegerType | LongType | DateType =>
      Option(l.value).map(_.toString.toLong)
    case _ => None
  }

  private def from(a: Attribute, l: Literal, step: Long): Option[SkipBound] =
    axis(l).map(v => SkipBound(a.name, Seq((v + step, Long.MaxValue)), Nil, Nil))

  private def upTo(a: Attribute, l: Literal, step: Long): Option[SkipBound] =
    axis(l).map(v => SkipBound(a.name, Seq((Long.MinValue, v - step)), Nil, Nil))

  private def oneOf(a: Attribute, ls: Seq[Literal]): Option[SkipBound] =
    if (ls.forall(axis(_).isDefined)) {
      val vs = ls.flatMap(axis)
      // a DATE's bloom key is its ISO string, not its epoch day: only
      // integral points probe the filters
      val keys = if (ls.exists(_.dataType == DateType)) Nil else vs.map(_.toString)
      Some(SkipBound(a.name, vs.map(v => (v, v)), Nil, keys))
    } else if (ls.forall(l => l.dataType == StringType && l.value != null)) {
      val ss = ls.map(_.value.toString)
      Some(SkipBound(a.name, Nil, ss, ss))
    } else None
}

object SnapshotLog {

  /** Orphan collection over a SHARED data pool: the union of every
    * chain's live set protects a file if ANY ref (parent or branch)
    * still references it. The caller must pass every log sharing the
    * pool — the per-log [[SnapshotLog.vacuum]] guards refuse to run
    * solo exactly so this contract can't be skipped silently.
    */
  def vacuumShared(logs: Seq[SnapshotLog]): Seq[String] = {
    require(logs.nonEmpty, "vacuumShared: need at least one log")
    val pool = logs.head.dataRootPath
    require(logs.forall(_.dataRootPath == pool),
      s"vacuumShared: all logs must share one data pool, got " +
        logs.map(_.dataRootPath).distinct.mkString(", "))
    // the "every log sharing the pool" contract is CHECKED, not trusted:
    // a caller passing the owner but forgetting a live clone or branch
    // would otherwise bypass the solo-vacuum guards and delete files the
    // forgotten ref still reads — silent breakage the clone registry and
    // the branches/ convention exist to prevent
    val present = logs.map(l => new File(l.root).getCanonicalPath).toSet
    val missingClones = logs.head.cloneRoots.filterNot(present)
    require(missingClones.isEmpty,
      s"vacuumShared: live shallow clone(s) share this pool but were not " +
        s"passed: ${missingClones.mkString(", ")}")
    val missingBranches = logs.flatMap(_.liveBranchRoots).distinct.filterNot(present)
    require(missingBranches.isEmpty,
      s"vacuumShared: live branch(es) share this pool but were not " +
        s"passed: ${missingBranches.mkString(", ")}")
    logs.head.sweepOrphans(logs.flatMap(_.liveFiles).toSet,
      logs.flatMap(_.liveLedgerIds).toSet)
  }
}
