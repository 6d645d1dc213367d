package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Partitioned-table manager — the reference's Hive connector surface
  * re-expressed on Spark's catalog
  * (`/root/reference/src/main/scala/connector/hive/HiveConnector.scala:8-57`).
  *
  * - [[ensure]]: create-if-not-exists from the declared schema (empty frame +
  *   `saveAsTable` `mode("ignore")`, partitioned parquet + snappy — ref :17-27).
  * - [[extract]]: templated SQL with `{TABLE}` substitution (ref :29-32).
  * - [[overwritePartitions]]: idempotent load — columns reordered so partition
  *   keys come last (ref `orderedColumns` :13-15), then a positional
  *   `insertInto` under `partitionOverwriteMode=dynamic`, which replaces ONLY
  *   the partitions present in the batch (ref's temp-table + INSERT OVERWRITE
  *   dance :34-57 collapses to one write on the datasource path — same
  *   semantics, one less metastore round-trip and no temp-table window).
  *
  * Scale notes: dynamic overwrite writes each partition exactly once per
  * batch; re-running a failed backfill converges (idempotent).
  * [[overwritePartitions]] writes the frame as it is partitioned: every task
  * holding rows of an output partition writes its own file there. A caller
  * that wants one file per output partition routes rows by partition key
  * first (`EventsEtl.loadBatch` hash-repartitions by `event_date_kst`).
  *
  * `location` pins the table to an explicit path, giving the reference's
  * EXTERNAL-table semantics (`HiveConnector.scala:17-27` creates the Hive
  * table at `LOCATION '...'`): data lives outside the warehouse, and DROP
  * TABLE removes only the catalog entry — the files survive and re-creating
  * the table at the same location sees them again. `None` = managed table
  * in the warehouse (dropped data is deleted), as before.
  */
class TableManager(
    val name: String,
    val schema: StructType,
    val partitionKeys: Seq[String],
    val location: Option[String] = None) {

  /** Non-partition columns first, partition keys last — required row layout
    * for partitioned writes (ref `HiveConnector.scala:13-15`).
    */
  def orderedColumns: Seq[Column] =
    schema.fieldNames.filterNot(partitionKeys.contains).map(col).toSeq ++
      partitionKeys.map(col)

  def ensure(spark: SparkSession): Unit = {
    val existed = spark.catalog.tableExists(name)
    if (!existed) {
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        StructType(orderedColumns.map(c => schema(c.toString))))
      val writer = empty.write
        .mode("ignore")
        .format("parquet")
        .option("compression", "snappy")
        .partitionBy(partitionKeys: _*)
      location.fold(writer)(loc => writer.option("path", loc)).saveAsTable(name)
      // external tables: partitions written by earlier incarnations of the
      // catalog entry exist on disk but not in the fresh entry — recover them
      // (the datasource-path analogue of Hive's MSCK REPAIR TABLE). Runs ONLY
      // on entry creation: repairing on every ensure() would charge each
      // read/load an O(partitions) listing and could register half-written
      // partitions of a concurrent load.
      if (location.isDefined) spark.sql(s"MSCK REPAIR TABLE $name")
    }
  }

  /** Templated SQL over the table: `{TABLE}` → table name. */
  def extract(spark: SparkSession, templatedSql: String): DataFrame = {
    ensure(spark)
    spark.sql(templatedSql.replace("{TABLE}", name))
  }

  def read(spark: SparkSession): DataFrame = {
    ensure(spark)
    spark.table(name)
  }

  /** Dynamic-partition-overwrite load; requires
    * `spark.sql.sources.partitionOverwriteMode=dynamic` (set by GraftSession /
    * Verify / Bench builders). Idempotent: loading the same batch twice leaves
    * the table identical.
    */
  def overwritePartitions(spark: SparkSession, df: DataFrame): Unit = {
    ensure(spark)
    df.select(orderedColumns: _*)
      .write
      .mode("overwrite")
      .insertInto(name)
  }

  /** Partition-level RETENTION — the 100 TB way to expire a log table:
    * partitions whose `key` value compares strictly below `cutoff` are
    * dropped as UNITS (one catalog/metadata operation per partition, the
    * files go with it) — never a row-level delete, which would rewrite
    * every surviving file. Returns the dropped `key` values ascending;
    * running it again is a no-op (idempotent, like the loads).
    *
    * The comparison is LEXICOGRAPHIC on the partition-value string —
    * correct for the zero-padded date/hour formats partition keys use
    * (`yyyy-MM-dd` sorts chronologically); a numeric un-padded key needs
    * padding at write time, the standard partition-naming discipline.
    */
  def retentionPrune(spark: SparkSession, key: String, cutoff: String): Seq[String] = {
    require(partitionKeys.contains(key),
      s"retentionPrune: $key is not a partition key of $name (keys: $partitionKeys)")
    ensure(spark)
    val parts = spark.sql(s"SHOW PARTITIONS $name").collect().map(_.getString(0))
    val dropped = parts.toSeq.flatMap { p =>
      val kv = p.split("/").map { seg =>
        val Array(k, v) = seg.split("=", 2)
        k -> v
      }.toMap
      if (kv.get(key).exists(_ < cutoff)) Some(kv) else None
    }
    dropped.foreach { kv =>
      val spec = kv.map { case (k, v) => s"$k='${v.replace("'", "''")}'" }.mkString(", ")
      spark.sql(s"ALTER TABLE $name DROP IF EXISTS PARTITION ($spec)")
    }
    dropped.map(_(key)).sorted
  }

  /** Drop the named partitions as UNITS (metadata op + their files; no
    * row-level rewrite) — the targeted sibling of [[retentionPrune]]'s
    * cutoff sweep, for callers that already know exactly which partitions
    * must go (e.g. a purge that emptied them).
    */
  def dropPartitions(spark: SparkSession, key: String, values: Seq[String]): Unit = {
    require(partitionKeys.contains(key),
      s"dropPartitions: $key is not a partition key of $name (keys: $partitionKeys)")
    values.foreach { v =>
      // partition values are data-derived: escape quotes or a value like
      // "2024'x" breaks the statement mid-purge
      val esc = v.replace("'", "''")
      spark.sql(s"ALTER TABLE $name DROP IF EXISTS PARTITION ($key='$esc')")
    }
  }

  def drop(spark: SparkSession): Unit =
    spark.sql(s"DROP TABLE IF EXISTS $name")

  /** Drop and delete any leftover files from a previous JVM's run (the
    * in-memory catalog forgets tables across sessions but the warehouse —
    * or the pinned external location — survives), then create fresh.
    */
  def recreate(spark: SparkSession): Unit = {
    drop(spark)
    val loc = location.map(new java.net.URI(_)).getOrElse(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(name)))
    val path = new org.apache.hadoop.fs.Path(loc)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) fs.delete(path, true)
    ensure(spark)
  }
}
