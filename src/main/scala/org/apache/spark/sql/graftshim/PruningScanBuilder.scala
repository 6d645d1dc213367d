package org.apache.spark.sql.graftshim

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.v2.FileScanBuilder
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.StructType

/** MANIFEST-LEVEL FILE SKIPPING for DSv2 SQL scans (the Delta/Iceberg
  * data-skipping shape): a ScanBuilder wrapper that hands the catalyst
  * filters Spark pushes to the snapshot log's one file-skipping rule
  * ([[graft.sources.SnapshotLog.candidateFiles]]) and — when it drops
  * files — REBUILDS the parquet scan over only the surviving paths.
  * Planning cost is sidecar-sized (each sidecar kind read at most once);
  * the win at 100 TB is that a selective predicate never even LISTS the
  * excluded files into the scan, where parquet row-group stats alone
  * would still open every footer.
  *
  * Lives in this package because Spark's file sources receive their
  * filters through the `private[sql]` catalyst-filter channel
  * (`SupportsPushDownCatalystFilters` — the interface `FileScanBuilder`
  * itself implements); delegation is total, so pushdown/pruning behave
  * exactly as the wrapped parquet builder decides.
  *
  * Pruning is CONSERVATIVE by construction: a file drops only when its
  * `_stats` ranges (integral and date comparisons, `IN`), `_values` sets
  * (string `=`/`IN`) or `_blooms` filters (integral and string `=`/`IN`)
  * prove no row can match; a file without a sidecar entry and every
  * other predicate shape keep the file.
  *
  * @param inner     the parquet builder over the snapshot's FULL file list
  * @param paths     absolute path of every data file in the snapshot
  * @param keep      the absolute paths, in `paths` order, of the files
  *                  the pushed filters (PHYSICAL names) may match
  * @param rebuild   builds a fresh parquet ScanBuilder over a pruned list
  * @param logicalToPhysical COLUMN-MAPPING translation (empty = identity):
  *                  the snapshot's logical→physical name pairs. Pushed
  *                  filters and pruned columns are translated to physical
  *                  names before reaching the parquet builder (whose
  *                  declared schema is the PHYSICAL one), and the built
  *                  scan re-reports its read schema under LOGICAL names —
  *                  the row bytes are untouched (mapping renames, never
  *                  retypes within one scan; type widening rides the
  *                  declared physical schema's parquet promotion). exprIds
  *                  survive `withName`, so post-scan filter residue still
  *                  binds to the logical output attributes.
  */
class PruningScanBuilder(
    inner: FileScanBuilder,
    paths: Seq[String],
    keep: Seq[Expression] => Seq[String],
    rebuild: Seq[String] => FileScanBuilder,
    logicalToPhysical: Map[String, String] = Map.empty)
  extends ScanBuilder
  with SupportsPushDownCatalystFilters with SupportsPushDownRequiredColumns {

  private val physicalToLogical: Map[String, String] = logicalToPhysical.map(_.swap)

  private def toPhysical(e: Expression): Expression =
    if (logicalToPhysical.isEmpty) e
    else e.transform {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
          if logicalToPhysical.contains(a.name) =>
        a.withName(logicalToPhysical(a.name))
    }

  private def renameFields(s: StructType, m: Map[String, String]): StructType =
    if (m.isEmpty) s
    else StructType(s.fields.map(f => f.copy(name = m.getOrElse(f.name, f.name))))

  private var pushedExprs: Seq[Expression] = Nil
  private var required: Option[StructType] = None

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    pushedExprs = filters.map(toPhysical)
    inner.pushFilters(pushedExprs)
  }

  override def pushedFilters(): Array[Predicate] = inner.pushedFilters

  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = Some(renameFields(requiredSchema, logicalToPhysical))
    inner.pruneColumns(required.get)
  }

  override def build(): Scan = {
    val kept = keep(pushedExprs)
    val built =
      if (kept.size == paths.size) inner.build()
      else {
        val b = rebuild(kept)
        b.pushFilters(pushedExprs)
        required.foreach(b.pruneColumns)
        b.build()
      }
    if (logicalToPhysical.isEmpty) built
    else new Scan {
      // the mapped facade: same bytes, logical names — readSchema order
      // tracks the inner pruned schema positionally
      override def readSchema(): StructType =
        renameFields(built.readSchema(), physicalToLogical)
      override def toBatch: org.apache.spark.sql.connector.read.Batch = built.toBatch
      override def description(): String = built.description()
      override def supportedCustomMetrics()
          : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
        built.supportedCustomMetrics()
      override def reportDriverMetrics()
          : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
        built.reportDriverMetrics()
      override def columnarSupportMode(): Scan.ColumnarSupportMode =
        built.columnarSupportMode()
    }
  }
}
