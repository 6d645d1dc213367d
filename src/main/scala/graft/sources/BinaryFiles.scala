package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Raw-media file I/O around Spark's `binaryFile` source — the ingestion
  * edge of a multimodal pipeline, where assets live as one FILE per item
  * (crawl output, object-store buckets) rather than rows in a table.
  *
  * Read side is Spark-native: `spark.read.format("binaryFile")` yields
  * `(path, modificationTime, length, content)` with the usual source
  * goodies (glob filters, recursive lookup, partition parallelism by file).
  *
  * Write side: Spark ships NO binary-file sink (`binaryFile` is read-only),
  * so [[writeFiles]] has each task write its partition's payloads straight
  * to storage — the standard media-export idiom: embarrassingly parallel,
  * zero shuffle, zero driver involvement. On a cluster the target is shared
  * storage (objects keyed by id); the local-FS form here is the same code
  * shape. This is the one deliberate per-row imperative loop in the
  * library — it exists because the sink genuinely is not expressible as a
  * DataFrame write.
  */
object BinaryFiles {

  /** One file per row: `dir/<id>.<ext>` with the payload bytes, written
    * task-parallel. Wipes `dir` first for idempotent re-runs — guarded to
    * `target/` scratch paths (the Verify wipe discipline: a mistyped
    * absolute path must not delete an arbitrary tree).
    */
  def writeFiles(
      df: DataFrame,
      idCol: String,
      payloadCol: String,
      dir: String,
      ext: String = "bin"): Unit = {
    graft.GraftSession.wipe(dir, "refusing to write binary scatter outside a target/ scratch dir")
    df.select(col(idCol).cast("long").as("id"), col(payloadCol).as("payload"))
      .foreachPartition { rows: Iterator[Row] =>
        rows.foreach { r =>
          Files.write(
            Paths.get(dir, s"${r.getLong(0)}.$ext"),
            r.getAs[Array[Byte]]("payload"))
          ()
        }
      }
  }

  /** Read a file-per-asset directory through the binaryFile source, with
    * the id recovered from the file name. `length` (file-system metadata)
    * rides along separately from `content` so callers can cross-check the
    * two — a cheap corruption tripwire at ingest.
    *
    * Caveat (spec-pinned): Spark's file-split planning emits NO partition
    * for a zero-byte file, so empty assets silently vanish from the scan —
    * validate emptiness upstream if it must be an error.
    */
  def readFiles(spark: SparkSession, dir: String, glob: String = "*.bin"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(
        regexp_extract(col("path"), "(-?[0-9]+)\\.[a-z]+$", 1).cast("long").as("id"),
        col("length").cast("long").as("file_bytes"),
        col("content"))
}
