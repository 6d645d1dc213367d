package graft.sources

import org.apache.spark.sql.DataFrame

/** Bucketed-table writes — the shuffle-elimination tool for repeated
  * fact-to-fact joins at 100 TB.
  *
  * A bucketed table is hash-partitioned BY FILE LAYOUT on its bucket key:
  * every join or aggregation keyed on it reads pre-partitioned data, so
  * Catalyst drops the Exchange on that side entirely (asserted in
  * BucketingSpec: two tables bucketed on the same key sort-merge-join with
  * ZERO shuffles). Bucket count is fixed at write time — size it to the
  * target parallelism (buckets ≈ cluster cores, each bucket < a few GB) and
  * co-bucket the tables that join together (same key, same count).
  *
  * This is the write-side complement of [[TableManager]]'s partition
  * pruning: partition columns prune WHICH files a query reads, bucket
  * columns shape HOW the surviving files join.
  */
object Bucketing {

  /** Write `df` as a bucketed, bucket-sorted parquet table. Overwrites —
    * including an ORPHANED location: with an in-memory catalog, a table
    * written by a previous JVM leaves its warehouse directory behind while
    * the catalog entry is gone, and `saveAsTable` then fails with
    * LOCATION_ALREADY_EXISTS. If the catalog does not know the table but
    * its default location exists, clear the location first (guarded to the
    * session's own warehouse dir).
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketKey: String,
      buckets: Int,
      sortKey: Option[String] = None): Unit = {
    val spark = df.sparkSession
    if (!spark.catalog.tableExists(table)) {
      // resolve the DEFAULT location through the catalog, not by joining the
      // raw name onto the warehouse dir: a database-qualified 'db.tbl' lives
      // at warehouse/db.db/tbl, and the raw join would miss it (leaving the
      // LOCATION_ALREADY_EXISTS failure this cleanup exists to prevent)
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
      val loc = new java.io.File(
        spark.sessionState.catalog.defaultTablePath(ident)).getCanonicalFile
      if (loc.exists() && graft.GraftSession.underTarget(loc))
        graft.streaming.StreamingSessionize.deleteTree(loc.toPath)
    }
    val w = df.write
      .mode("overwrite")
      .format("parquet")
      .option("compression", "snappy")
      .bucketBy(buckets, bucketKey)
    sortKey.fold(w)(k => w.sortBy(k)).saveAsTable(table)
  }
}
