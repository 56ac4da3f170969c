package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CDC generation by snapshot differencing — the backfill complement of
  * the bus-driven pipeline. When the change bus is unavailable (retention
  * expired, a consumer fell off the replay window — the reference's
  * recovery story ends at resubscribe-from-earliest) the standard recovery
  * is to diff two full snapshots of the entity table and synthesize the
  * missing change events: rows only in the new snapshot are CREATEs, rows
  * only in the old are DELETEs, rows in both with any differing column are
  * UPDATEs carrying the changed-field list (the `changedFields` header the
  * wire events carry, reference `worker/lambda/app.py:59`). Unchanged rows
  * emit nothing.
  *
  * Scale shape: ONE full-outer equi-join on the key — both sides shuffle
  * by key once (or not at all when the snapshots are bucketed/co-partitioned
  * by key, the natural layout for periodic snapshots), and the per-column
  * null-safe compares are scan-side projections on the joined row. Nothing
  * is collected, no window, no skew hazard beyond the join itself (snapshot
  * keys are unique per side, so buckets are 1×1). This is the DMS-style
  * full-load-compare shape and holds at any snapshot size.
  */
object SnapshotDiff {

  /** Diff two keyed snapshots into change events.
    *
    * @param oldSnap   previous snapshot; `key` must be unique within it
    * @param newSnap   current snapshot; `key` must be unique within it
    * @param key       join key column name
    * @param valueCols compared columns (present in both snapshots);
    *                  `changed_fields` lists the differing ones in sorted
    *                  name order, comma-joined (flat string by design —
    *                  the sink- and harness-friendly shape, like cdc11)
    * @return one row per changed key: key, change_type
    *         (CREATE/UPDATE/DELETE), changed_fields (non-empty only for
    *         UPDATE), and old_<col>/new_<col> for every value column
    *         (null on the absent side)
    */
  def diff(oldSnap: DataFrame, newSnap: DataFrame, key: String,
           valueCols: Seq[String]): DataFrame = {
    val sortedCols = valueCols.sorted
    val o = oldSnap.select(
      col(key) +: lit(true).as("_in_old") +:
        sortedCols.map(c => col(c).as(s"old_$c")): _*)
    val n = newSnap.select(
      col(key) +: lit(true).as("_in_new") +:
        sortedCols.map(c => col(c).as(s"new_$c")): _*)
    val inOld = coalesce(col("_in_old"), lit(false))
    val inNew = coalesce(col("_in_new"), lit(false))
    // null-safe inequality: a column counts as changed when the values
    // are not <=>-equal (so null→value and value→null both register)
    def differs(c: String): Column = !(col(s"old_$c") <=> col(s"new_$c"))
    val changedFields = concat_ws(",",
      sortedCols.map(c => when(differs(c), lit(c))): _*)
    val changeType = when(!inOld, "CREATE")
      .when(!inNew, "DELETE")
      .when(changedFields =!= "", "UPDATE")
    o.join(n, Seq(key), "full_outer")
      .withColumn("change_type", changeType)
      .filter(col("change_type").isNotNull)
      .withColumn("changed_fields",
        when(col("change_type") === "UPDATE", changedFields).otherwise(""))
      .select(col(key) +: col("change_type") +: col("changed_fields") +:
        sortedCols.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c"))): _*)
  }

  /** Streaming incremental snapshot reconciliation — the foreachBatch form
    * of [[diff]] for the "periodic full export" feed shape (each trigger
    * delivers ONE complete snapshot carrying a monotone `version` column):
    * diff the incoming snapshot against the persisted previous one, append
    * the resulting change events (tagged with the snapshot version) to an
    * event LEDGER, then swap the state to the new snapshot. The first
    * snapshot is the initial load — every row emits as CREATE. The read
    * and the swap are [[CdcMaterialize.mergeState]]'s: only a MISSING
    * state counts as the initial load; an unreadable one throws, so a
    * damaged state is never silently re-emitted as CREATEs and replaced.
    *
    * Idempotence: a REPLAYED trigger (at-least-once delivery) diffs the
    * snapshot against the state it already produced — an identical-
    * snapshot diff is EMPTY, so redelivery mints nothing. The one
    * remaining hazard (failure between ledger append and state swap
    * re-appends the same version's events) is closed at read time:
    * consumers dedupe the ledger on (version, key), which
    * [[readLedger]] does. At 100 TB the state swap is a MERGE INTO on a
    * transactional table and the ledger is the change topic itself —
    * this operator is the seam where that transport plugs in. */
  def foreachBatchReconcile(stateDir: String, ledgerDir: String, key: String,
      valueCols: Seq[String])(batch: DataFrame, batchId: Long): Unit = {
    val snap = batch.drop("version")
    val ver = batch.agg(max(col("version"))).head().getLong(0)
    CdcMaterialize.mergeState(stateDir, batch, batchId) { prev =>
      val events = prev match {
        case Some(p) => diff(p, snap, key, valueCols)
        case None => // initial load: everything is a CREATE
          val sorted = valueCols.sorted
          snap.select(col(key) +: lit("CREATE").as("change_type") +:
            lit("").as("changed_fields") +:
            sorted.flatMap(c => Seq(
              lit(null).cast(snap.schema(c).dataType).as(s"old_$c"),
              col(c).as(s"new_$c"))): _*)
      }
      // events first — the ledger append completes before mergeState
      // stages and swaps in the new state
      events.withColumn("version", lit(ver))
        .write.mode("append").parquet(ledgerDir)
      snap
    }
  }

  /** The reconciliation ledger with the at-least-once dedupe applied:
    * one event per (version, key), version-ordered consumption. */
  def readLedger(spark: org.apache.spark.sql.SparkSession, ledgerDir: String,
      key: String): DataFrame =
    spark.read.parquet(ledgerDir)
      .dropDuplicates(Seq("version", key))
}
