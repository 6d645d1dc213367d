package graft.sources

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.streaming.StreamingSessionize.deleteTree

/** VERSION-KEYED QUERY RESULT CACHE over a [[SnapshotLog]] table — the
  * lakehouse result-cache design (Databricks/Snowflake publish the same
  * contract): a cached result is valid exactly as long as the table
  * version it was computed against is still current, so the SNAPSHOT LOG
  * gives correct invalidation for free — the cache key is
  * `(queryTag, version)`, a new commit changes the version and the next
  * lookup misses, and NO timestamp heuristics or manual invalidation
  * exist anywhere. A directory-scan cache over the same data would be
  * wrong the moment a writer raced the reader; the version key cannot be.
  *
  * Storage: one parquet directory per (tag, version) under `root`,
  * written to a temp name and RENAMED into place (the local-FS analog of
  * the log's own put-if-absent commit), so a concurrent reader either
  * sees a complete entry or none — never a half-written one. A crashed
  * write leaves only a temp directory, swept by [[prune]].
  *
  * Scale note: the cache stores RESULTS (aggregate-sized), not inputs —
  * a hit costs one metadata lookup + a result-sized scan, never a table
  * scan; entries for versions no longer live in the log are dropped by
  * [[prune]] (result garbage tracks snapshot retention, the same policy
  * surface as `expire`/`vacuum`).
  */
class ResultCache(val root: String) {

  private def entryDir(tag: String, version: Long): File = {
    require(tag.matches("[A-Za-z0-9_.-]+"), s"ResultCache: unsafe tag '$tag'")
    new File(new File(root, tag), f"v$version%08d")
  }

  /** Computed-or-cached result of `compute` over the CURRENT version of
    * `log`: on a cache hit the stored parquet is read back and `compute`
    * is NOT invoked; on a miss `compute` runs against the snapshot-pinned
    * read of the current version and its result is stored before being
    * returned (read back from the cache, so hit and miss return the same
    * physical representation). Returns (result, wasHit).
    */
  def resultFor(
      spark: SparkSession,
      log: SnapshotLog,
      tag: String)(compute: DataFrame => DataFrame): (DataFrame, Boolean) = {
    val v = log.currentVersion.getOrElse(
      throw new IllegalStateException(s"ResultCache: no committed snapshot at ${log.root}"))
    val dir = entryDir(tag, v)
    if (new File(dir, "_SUCCESS").exists())
      (spark.read.parquet(dir.toString), true)
    else {
      val tmp = new File(dir.getParentFile, s".${dir.getName}.tmp-${java.util.UUID.randomUUID()}")
      compute(log.read(spark, v)).write.mode("overwrite").parquet(tmp.toString)
      dir.getParentFile.mkdirs()
      if (!tmp.renameTo(dir)) {
        // a racer published the same (tag, version) first — both computed
        // the identical deterministic result; drop ours, serve theirs
        deleteTree(tmp.toPath)
      }
      (spark.read.parquet(dir.toString), false)
    }
  }

  /** Drop cache entries whose version is no longer live in `log` plus any
    * crashed temp directories; returns the deleted entry paths. Entries
    * for LIVE versions (current or still-readable pinned history) stay —
    * a pinned reader's re-run should still hit.
    *
    * A dot-prefixed temp dir is swept only past `tempGraceMs` (default
    * 1 h) of mtime age: a concurrent [[resultFor]] miss may have an
    * IN-FLIGHT `.tmp-<uuid>` write this old-enough check must not rip out
    * from under the writer — young temps are a racer, old temps a crash.
    */
  def prune(log: SnapshotLog, tempGraceMs: Long = 3600000L): Seq[String] = {
    val live = log.versions.map(v => f"v$v%08d").toSet
    val cutoff = System.currentTimeMillis() - tempGraceMs
    val tags = Option(new File(root).listFiles()).getOrElse(Array.empty).filter(_.isDirectory)
    val dead = tags.flatMap { t =>
      Option(t.listFiles()).getOrElse(Array.empty).filter { d =>
        (d.getName.startsWith(".") && d.lastModified() < cutoff) ||
          (d.getName.startsWith("v") && !live.contains(d.getName))
      }
    }.toSeq
    dead.foreach(d => deleteTree(d.toPath))
    dead.map(_.toString).sorted
  }

  /** Wipe and re-init the store (tests/demos; refuses to delete outside a
    * target/ scratch tree, like [[SnapshotLog.recreate]]).
    */
  def recreate(): Unit =
    graft.GraftSession.wipe(root, "refusing to wipe a result cache outside a target/ scratch dir")
}
