package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Row-level change-data-capture merge — the MERGE INTO semantics a
  * warehouse applies when a CDC feed (upserts + deletes) lands on a base
  * relation, expressed without any table-format dependency: ONE full-outer
  * shuffle join on the key decides every row's fate. This is the row-level
  * complement of [[graft.sources.TableManager]]'s partition-level
  * idempotent overwrite: partitions for append-shaped loads, keyed merge
  * for mutating feeds.
  *
  * Semantics (strict full-row-image CDC):
  *  - change `op = 'd'`: the key is dropped (a delete for an absent key is
  *    a no-op);
  *  - change `op = 'u'` or `'i'`: the change row's full image replaces /
  *    inserts the key (an update for an absent key inserts — upsert);
  *  - no change row: the base row passes through untouched.
  * Changes carry FULL row images, so an update CAN set a column to NULL —
  * the merge selects sides by change presence, never by value coalescing.
  * At most one change row per key (CDC compaction is the feed's contract).
  * The contract is ENFORCED by default (`validate = true`): a second
  * change row for any key fails the job with `raise_error` instead of
  * silently emitting join-order-dependent duplicate/contradictory rows.
  * The guard is a windowed count partitioned by the SAME key the merge
  * joins on, so its shuffle is the one the join needs anyway — cost is
  * one extra window aggregation, no extra exchange. Pass
  * `validate = false` only when the feed is compacted upstream by
  * construction and the window pass is worth skipping.
  *
  * Scale shape: one shuffle each side hash-partitioned by the key (or zero
  * exchanges if both sides are bucketed on it — [[graft.sources.Bucketing]]),
  * no broadcast assumption (CDC batches can be arbitrarily large), and the
  * output is immediately writable back through the partitioned sink.
  */
object Cdc {

  /** PARTITION-PRUNED CDC merge: at 100 TB a CDC batch typically touches a
    * fraction of the base's partitions, and the full-outer shape of
    * [[applyChanges]] would still read (and a rewrite would rewrite) ALL of
    * them. This variant computes the set of partitions the change batch
    * touches, restricts the merge to THOSE partitions of the base — the
    * partition predicate is a literal disjunction, so it reaches the scan
    * as PartitionFilters (static pruning, PlanSpec-pinned) — and returns
    * only the touched partitions' merged rows, ready for
    * [[graft.sources.TableManager]]-style DYNAMIC partition overwrite:
    * untouched partitions are never read and never rewritten.
    *
    * The touched-partition collect is METADATA-scale (bounded by the
    * number of partitions one CDC batch touches, never by data volume) —
    * the same class as a partition listing, not a data-plane collect.
    *
    * Contract (on top of [[applyChanges]]'s): partition values are STABLE
    * per key — full-row-image changes carry their key's partition value,
    * and a feed that MOVES a key across partitions must use the
    * unpartitioned [[applyChanges]] (the old partition's row lives outside
    * the pruned read, so a move would duplicate the key; this is the
    * standard immutable-partition-key constraint of pruned MERGEs). Insert
    * rows may target partitions absent from the base — dynamic overwrite
    * creates them.
    */
  def applyChangesPruned(
      base: DataFrame,
      changes: DataFrame,
      keyCols: Seq[String],
      partCols: Seq[String],
      opCol: String = "op",
      validate: Boolean = true,
      maxLiteralPartitions: Int = 4096): DataFrame = {
    require(partCols.nonEmpty, "applyChangesPruned: need at least one partition column")
    require(keyCols.intersect(partCols).isEmpty,
      s"applyChangesPruned: key and partition columns overlap: ${keyCols.intersect(partCols)}")
    // Predicate-width guard: the literal OR-of-conjunctions below is the
    // STATIC prune (reaches the scan as PartitionFilters, plan-pinned), but
    // its size is proportional to the touched-partition count — a
    // pathological batch touching ~10⁴⁺ partitions would push a giant
    // predicate through the driver and analyzer. Above `maxLiteralPartitions`
    // the restriction switches to a broadcast LEFT SEMI join against the
    // distinct touched tuples — the dynamic-partition-pruning shape
    // (constant driver/plan cost; on a partition-aware source the runtime
    // filter does the skipping). The touched set is collected only up to
    // threshold+1, so driver memory is bounded by construction, not by the
    // feed. Output contract is identical on both routes: ONLY the touched
    // partitions' merged rows.
    val touchedDf = changes.select(partCols.map(col): _*).distinct()
    val touched = touchedDf.limit(maxLiteralPartitions + 1).collect()
    require(touched.nonEmpty, "applyChangesPruned: empty change batch (no partitions touched)")
    val restricted =
      if (touched.length <= maxLiteralPartitions) {
        val pred = touched.map { row =>
          partCols.zipWithIndex.map { case (c, i) => col(c) <=> lit(row.get(i)) }.reduce(_ && _)
        }.reduce(_ || _)
        base.where(pred)
      } else {
        base.join(broadcast(touchedDf), partCols, "left_semi")
      }
    applyChanges(restricted, changes, keyCols, opCol, validate)
  }

  /** Prefix the change batch's data columns `__c_*`, carry the op column as
    * `__c_op`, and (default-on) enforce the at-most-one-change-per-key
    * contract with a raise_error riding `__c_op` — shared by
    * [[applyChanges]] and [[applyChangesScd2]]. The guard rides a column
    * used downstream on purpose: a guard on a dropped column would be
    * pruned by Catalyst and never evaluate. Its window shuffle partitions
    * by the SAME key the merge joins on — no extra exchange.
    */
  private def prefixedChanges(
      changes: DataFrame,
      keyCols: Seq[String],
      dataCols: Seq[String],
      opCol: String,
      validate: Boolean): DataFrame = {
    val c0 = changes.select(
      keyCols.map(col) ++ dataCols.map(n => col(n).as(s"__c_$n"))
        :+ col(opCol).as("__c_op"): _*)
    if (!validate) c0
    else {
      val wk = Window.partitionBy(keyCols.map(col): _*)
      c0.withColumn("__c_n", count(lit(1)).over(wk))
        .withColumn(
          "__c_op",
          when(col("__c_n") === 1L, col("__c_op")).otherwise(
            raise_error(concat(
              lit("applyChanges: multiple change rows for key ("),
              concat_ws(",", keyCols.map(n => col(n).cast("string")): _*),
              lit(") — compact the CDC feed or pass validate = false")))))
        .drop("__c_n")
    }
  }

  /** Wrap `__c_op` so an unknown op fails the job loudly. */
  private def guardOps(df: DataFrame): DataFrame =
    df.withColumn(
      "__c_op",
      when(col("__c_op").isNull || col("__c_op").isin("i", "u", "d"), col("__c_op"))
        .otherwise(raise_error(concat(lit("applyChanges: unknown op "), col("__c_op")))))

  def applyChanges(
      base: DataFrame,
      changes: DataFrame,
      keyCols: Seq[String],
      opCol: String = "op",
      validate: Boolean = true): DataFrame = {
    require(keyCols.nonEmpty, "applyChanges: need at least one key column")
    val dataCols = base.columns.filterNot(keyCols.contains).toSeq
    val b = base.select(
      keyCols.map(col) ++ dataCols.map(n => col(n).as(s"__b_$n")): _*)
    val c = prefixedChanges(changes, keyCols, dataCols, opCol, validate)
    guardOps(b.join(c, keyCols, "full_outer"))
      .where(col("__c_op").isNull || col("__c_op") =!= "d")
      .select(
        keyCols.map(col) ++ dataCols.map { n =>
          when(col("__c_op").isNotNull, col(s"__c_$n"))
            .otherwise(col(s"__b_$n")).as(n)
        }: _*)
  }

  /** SCD2 metadata columns every history relation carries. */
  val Scd2Meta: Seq[String] = Seq("valid_from", "valid_to", "is_current")

  /** Stamp a plain snapshot as the initial SCD2 history: every row current
    * from integer sequence `seq` (epoch second or batch number — integer so
    * the DuckDB replay is bitwise).
    */
  /** Snapshot diff — the audit inverse of [[applyChanges]]: given two
    * versions of a keyed table, classify every key as `added` / `removed` /
    * `changed` / `unchanged` and emit one row per class with the row count
    * and the integer sum of the keys in that class (the membership pin the
    * hash compare locks, without materializing the diff itself).
    *
    * Row identity is an md5 fingerprint over `compareCols` in the given
    * order (`chr(1)`-joined, NULL encoded as `chr(0)` so NULL ≠ empty
    * string) — the engine-portable row-hash discipline, so any engine
    * recomputes identical fingerprints from identical values. Cost: one
    * map-side fingerprint pass per side plus ONE full-outer key shuffle;
    * at 100 TB both sides bucketed on the key make it exchange-free, and a
    * partition-pruned variant composes exactly like [[applyChangesPruned]]
    * (diff only the partitions a manifest says changed).
    */
  def snapshotDiff(
      oldDf: DataFrame,
      newDf: DataFrame,
      keyCol: String,
      compareCols: Seq[String]): DataFrame = {
    require(compareCols.nonEmpty, "snapshotDiff: need at least one compare column")
    def fingerprinted(df: DataFrame, fpName: String): DataFrame = df.select(
      col(keyCol).cast("long").as("k"),
      md5(concat_ws("\u0001",
        compareCols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*))
        .as(fpName))
    fingerprinted(oldDf, "o_fp")
      .join(fingerprinted(newDf, "n_fp"), Seq("k"), "full_outer")
      .select(
        col("k"),
        when(col("o_fp").isNull, "added")
          .when(col("n_fp").isNull, "removed")
          .when(col("o_fp") =!= col("n_fp"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_rows"), sum(col("k")).as("sum_key"))
      .orderBy(col("status"))
  }

  def scd2Init(snapshot: DataFrame, seq: Long): DataFrame =
    snapshot
      .withColumn("valid_from", lit(seq))
      .withColumn("valid_to", lit(null).cast("long"))
      .withColumn("is_current", lit(true))

  /** TYPE-2 slowly-changing-dimension merge: instead of overwriting
    * ([[applyChanges]]), each change VERSIONS its key — the current row is
    * closed (`valid_to = seq`, `is_current = false`) and, for `i`/`u` ops,
    * a new current version opens at `seq`; `d` closes without a successor;
    * closed history rows pass through untouched forever. The full history
    * answers "what did this dimension row look like when that fact
    * happened" — the as-of-join input shape ([[AsofJoin]] consumes it).
    *
    * Same feed contract as [[applyChanges]] (full row images, at most one
    * change per key — enforced by default, unknown ops fail loudly), plus:
    * `seq` must exceed every live `valid_from` (monotone batch sequence —
    * the caller's clock discipline, not re-derived here with an extra
    * corpus pass).
    *
    * Scale shape: the join touches ONLY the current slice (a dimension's
    * live cardinality, not its accumulated history); each joined row
    * expands to ≤ 2 output rows through one typed array-explode pass — one
    * key-partitioned shuffle total, no second join, no window over
    * history. Closed rows ride a union that Spark plans as a scan
    * passthrough; written back through a `valid_from`-partitioned sink,
    * history partitions stay byte-stable (append-only versioning).
    */
  def applyChangesScd2(
      history: DataFrame,
      changes: DataFrame,
      keyCols: Seq[String],
      seq: Long,
      opCol: String = "op",
      validate: Boolean = true): DataFrame = {
    require(keyCols.nonEmpty, "applyChangesScd2: need at least one key column")
    val dataCols = history.columns
      .filterNot(c => keyCols.contains(c) || Scd2Meta.contains(c)).toSeq
    val outCols = keyCols ++ dataCols ++ Scd2Meta
    val closedHistory = history.where(!col("is_current")).select(outCols.map(col): _*)
    val current = history.where(col("is_current"))
    val b = current.select(
      keyCols.map(col) ++ (dataCols ++ Scd2Meta).map(n => col(n).as(s"__b_$n")): _*)
    val c = prefixedChanges(changes, keyCols, dataCols, opCol, validate)
    val j = guardOps(b.join(c, keyCols, "full_outer"))
    def out(dataSide: String, from: Column, to: Column, cur: Column): Column =
      struct(
        keyCols.map(col) ++ dataCols.map(n => col(s"${dataSide}_$n").as(n))
          :+ from.as("valid_from") :+ to.as("valid_to") :+ cur.as("is_current"): _*)
    val carried = out("__b", col("__b_valid_from"), lit(null).cast("long"), lit(true))
    val closed = out("__b", col("__b_valid_from"), lit(seq), lit(false))
    val opened = out("__c", lit(seq), lit(null).cast("long"), lit(true))
    val none = slice(array(carried), 1, 0) // typed empty array
    val hasBase = col("__b_is_current").isNotNull
    val hasChange = col("__c_op").isNotNull
    j.select(explode(concat(
        when(hasBase && !hasChange, array(carried)).otherwise(none),
        when(hasBase && hasChange, array(closed)).otherwise(none),
        when(hasChange && col("__c_op") =!= "d", array(opened)).otherwise(none)))
        .as("r"))
      .select(col("r.*"))
      .unionByName(closedHistory)
  }

  /** TEMPORAL lookup against an SCD2 history: each fact row joins the
    * dimension VERSION that was valid at the fact's sequence number —
    * `factSeq ∈ [valid_from, valid_to)` with an open `valid_to` meaning
    * "still current". This is the consuming half of [[applyChangesScd2]]:
    * "what did the customer look like WHEN the order happened", the query
    * a versioned warehouse exists to answer.
    *
    * Semantics are INNER on the validity window: a fact whose seq precedes
    * its key's first version (or whose key never existed) drops — make the
    * initial snapshot's `valid_from` your epoch if every fact must match.
    *
    * Scale shape: an EQUI-join on the dimension key (key-partitioned —
    * sort-merge for big dims, broadcast for small, Catalyst's choice) with
    * the validity window as a post-join filter. SCD2 keys carry few
    * versions each, so the pre-filter fan-out is bounded by the version
    * count, never a range-join blow-up; no theta join is ever planned.
    * History columns are suffixed `_dim` where they collide with fact
    * columns.
    */
  def scd2Lookup(
      facts: DataFrame,
      history: DataFrame,
      factKeyCols: Seq[String],
      dimKeyCols: Seq[String],
      factSeq: Column): DataFrame = {
    require(factKeyCols.nonEmpty && factKeyCols.length == dimKeyCols.length,
      "scd2Lookup: fact/dim key column lists must be non-empty and aligned")
    val factCols = facts.columns.toSet
    val dim = history.select(history.columns.map { c =>
      if (factCols.contains(c)) col(c).as(s"${c}_dim") else col(c)
    }.toSeq: _*)
    def dimCol(c: String): Column =
      if (factCols.contains(c)) col(s"${c}_dim") else col(c)
    val keyEq = factKeyCols.zip(dimKeyCols)
      .map { case (f, d) => col(f) === dimCol(d) }.reduce(_ && _)
    facts.join(dim, keyEq)
      .where(factSeq >= dimCol("valid_from") &&
        (dimCol("valid_to").isNull || factSeq < dimCol("valid_to")))
  }
}
