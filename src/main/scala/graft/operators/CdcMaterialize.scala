package graft.operators

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.CdcModel.ChangeType

/** Current-state materialization from a CDC change log — the downstream
  * half the reference leaves to the reader of its S3 JSON (SURVEY.md §1.4
  * "sink table"): compact a log of full-record changes + tombstones into
  * the latest row per (entity, Id).
  *
  * Ordering follows the CDC envelope's own clock: (commitNumber,
  * sequenceNumber, replayId) — the same total order Salesforce promises per
  * record. DELETE wins over any earlier change; a later CREATE (undelete
  * pattern) resurrects the row.
  *
  * Scale posture: one shuffle on (entityName, Id) shared by the ranking
  * window; this is the standard log-compaction job run per partition of a
  * 100 TB change lake (or continuously via foreachBatch MERGE into a table
  * format).
  */
object CdcMaterialize {

  /** Latest change per (entityName, Id) INCLUDING tombstones — the durable
    * compaction state. Tombstones must be retained so a late-arriving
    * change that is OLDER than the delete cannot resurrect the row. */
  def latestStateAll(changes: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("entityName"), col("Id"))
      .orderBy(col("commitNumber").desc, col("sequenceNumber").desc, col("replayId").desc)
    changes
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** `changes`: rows with entityName, Id, UIND (changeType), commitNumber,
    * sequenceNumber, replayId + the record payload columns. Returns the
    * live rows only (latest change per key, tombstoned keys dropped). */
  def latestState(changes: DataFrame): DataFrame =
    latestStateAll(changes).filter(col("UIND") =!= ChangeType.Delete)

  /** SCD2 history materialization — the OTHER standard downstream of a CDC
    * lake (next to [[latestState]]'s type-1 compaction): every non-DELETE
    * change opens a dimension VERSION valid from its commitTimestamp until
    * the next change to the same key on the envelope clock; a tombstone
    * closes the prior version without opening one. The open (current)
    * version per key is flagged `is_current`.
    *
    * Scale posture: identical to [[latestStateAll]] — ONE shuffle on
    * (entityName, Id) feeding a per-key ordered window (lead); per-key
    * history fits a partition run by construction (versions per record are
    * bounded), so there is no skew hazard and nothing else moves. */
  def scd2History(changes: DataFrame): DataFrame =
    scd2HistoryAll(changes).filter(col("UIND") =!= ChangeType.Delete)

  /** [[scd2History]] INCLUDING tombstone marker rows (never current —
    * they close the prior version without opening one). The streaming
    * merge must retain them in its state: replaying a key's history needs
    * the delete's clock position, or a late-arriving change that is
    * commit-older than the delete would chain past it and resurrect the
    * row (the same rationale as [[latestStateAll]]'s tombstones). */
  def scd2HistoryAll(changes: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("entityName"), col("Id"))
      .orderBy(col("commitNumber"), col("sequenceNumber"), col("replayId"))
    changes
      .withColumn("valid_to", lead(col("commitTimestamp"), 1).over(w))
      .withColumn("is_current",
        col("valid_to").isNull && col("UIND") =!= ChangeType.Delete)
      .withColumnRenamed("commitTimestamp", "valid_from")
  }

  /** Shared read-merge-swap scaffolding of the foreachBatch sinks: read
    * prior state (None ONLY when the path does not exist yet — any other
    * read failure, e.g. a footer corrupted by a crash mid-swap, must THROW
    * so task retry surfaces it instead of silently replacing the whole
    * state with one batch), apply `merge`, write to a staging dir, swap.
    * Single-writer assumption; a transactional table format turns the
    * whole body into MERGE INTO.
    *
    * Crash window: between the swap's delete and rename the state exists
    * only as the fully-written staging dir. On a missing state path the
    * reader therefore first tries to complete the interrupted swap —
    * rename the NEWEST staging generation into place — before concluding
    * there is no prior state. */
  private[operators] def mergeState(stateDir: String, batch: DataFrame, batchId: Long)(
      merge: Option[DataFrame] => DataFrame): Unit = {
    val spark = batch.sparkSession
    val tmp = s"$stateDir.staging-$batchId"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(stateDir)

    def readState(): Option[DataFrame] =
      try Some(spark.read.parquet(stateDir))
      catch {
        case e: AnalysisException
            if Option(e.getCondition).exists(_.contains("PATH_NOT_FOUND")) ||
              e.getMessage.contains("Path does not exist") => None
      }

    def recoverInterruptedSwap(): Boolean = {
      val parent = dst.getParent
      val prefix = dst.getName + ".staging-"
      if (parent == null || !fs.exists(parent)) return false
      // only a COMPLETED staging write (committer's _SUCCESS marker) may be
      // promoted: a crash mid-write leaves a partial dir whose promotion
      // would corrupt the state (or wedge every retry on schema inference)
      val staged = fs.listStatus(parent).map(_.getPath)
        .filter(_.getName.startsWith(prefix))
        .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
        .flatMap(p => scala.util.Try(p.getName.stripPrefix(prefix).toLong)
          .toOption.map(_ -> p))
      if (staged.isEmpty) false
      else if (fs.rename(staged.maxBy(_._1)._2, dst)) true
      // a completed generation EXISTS but cannot be promoted: proceeding
      // with "no prior state" would silently discard it — the failure the
      // read contract above says must throw
      else throw new java.io.IOException(
        s"cannot promote interrupted swap ${staged.maxBy(_._1)._2} -> $stateDir")
    }

    val existing = readState().orElse {
      if (recoverInterruptedSwap()) readState() else None
    }
    merge(existing).write.mode("overwrite").parquet(tmp)
    // swap: parquet overwrite of the dir we are reading is not safe in-place
    fs.delete(dst, true)
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), dst))
      throw new java.io.IOException(s"state swap failed: $tmp -> $stateDir")
  }

  /** The per-key envelope clock — one change, one state row. */
  private val ClockKey = Seq("entityName", "Id", "commitNumber", "sequenceNumber", "replayId")

  /** Streaming SCD2 via foreachBatch: the type-2 sibling of
    * [[foreachBatchUpsert]]. Every version row in the state IS its
    * original change row (valid_from = commitTimestamp, clock columns
    * retained), so history for the keys a micro-batch touches can be
    * re-derived EXACTLY — those keys' rows reopen into change rows, merge
    * with the batch, and re-window; the closed history of untouched keys
    * is carried over untouched. Out-of-order and late changes therefore
    * splice into the version chain correctly, not just append.
    *
    * foreachBatch is at-least-once: a replayed batch's rows are already in
    * the reopened state, so the union dedupes on the envelope clock key
    * before windowing — without it each replayed change would mint a
    * duplicate zero-width version ([[foreachBatchUpsert]] gets the same
    * idempotence for free from latestStateAll's rank-1 filter).
    *
    * Scale posture: per trigger the window recomputes only |touched keys|
    * histories; the anti-join carrying the rest is a key-equality join
    * against the (small) batch key set. */
  def foreachBatchScd2(stateDir: String)(batch: DataFrame, batchId: Long): Unit =
    mergeState(stateDir, batch, batchId) {
      case Some(h) =>
        val keys = batch.select(col("entityName"), col("Id")).distinct()
        val untouched = h.join(keys, Seq("entityName", "Id"), "left_anti")
        val reopened = h.join(keys, Seq("entityName", "Id"), "left_semi")
          .drop("valid_to", "is_current")
          .withColumnRenamed("valid_from", "commitTimestamp")
        scd2HistoryAll(
          reopened.unionByName(batch, allowMissingColumns = true)
            .dropDuplicates(ClockKey))
          .unionByName(untouched, allowMissingColumns = true)
      case None => scd2HistoryAll(batch.dropDuplicates(ClockKey))
    }

  /** Streaming transaction ledger via foreachBatch — the state behind
    * cdc11's rollup when the change stream is LIVE. Atomic per-transaction
    * apply is inherently a streaming concern: a consumer must hold a
    * transaction's events until its boundaries stop moving, then apply
    * them as one unit. The state dir holds exactly that ledger — the raw
    * decoded change rows keyed by the envelope clock — and
    * [[graft.operators.CdcQueries.txnAssemblyOf]] derives the
    * per-transaction boundary rollup from it at any point.
    *
    * Idempotence: foreachBatch is at-least-once, and a transaction's
    * events can span triggers; the merge therefore dedupes the unioned
    * ledger on the clock key (same rationale as [[foreachBatchScd2]]) —
    * a replayed batch or a redelivered envelope changes nothing, and a
    * transaction whose tail arrives two triggers later simply grows its
    * ledger rows. Scale posture: the union is append-shaped (no window,
    * no join); at 100 TB the ledger partitions by transactionKey and the
    * merge becomes MERGE INTO on a transactional table. */
  def foreachBatchTxnLedger(stateDir: String)(batch: DataFrame, batchId: Long): Unit =
    mergeState(stateDir, batch, batchId) {
      case Some(led) =>
        led.unionByName(batch, allowMissingColumns = true).dropDuplicates(ClockKey)
      case None => batch.dropDuplicates(ClockKey)
    }

  /** Streaming upsert via foreachBatch — the sink-side extension point
    * (SURVEY.md §2.8): each micro-batch merges into the parquet state dir
    * by unioning the existing state (re-tagged as lowest precedence) with
    * the batch's changes and re-compacting. Idempotent under micro-batch
    * replay by construction: latestStateAll keeps rank-1 per key, so
    * re-applying the same changes is a no-op. */
  def foreachBatchUpsert(stateDir: String)(batch: DataFrame, batchId: Long): Unit =
    mergeState(stateDir, batch, batchId) {
      case Some(st) =>
        // existing rows were already compacted; they keep their original
        // clock columns so a late-arriving older change cannot regress them
        latestStateAll(st.unionByName(batch, allowMissingColumns = true))
      case None => latestStateAll(batch)
    }
}
