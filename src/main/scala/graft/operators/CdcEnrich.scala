package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.CdcModel.ChangeType

/** Route + enrich stage — the reference's centerpiece (SURVEY.md §2.4 J1).
  *
  * Semantics reproduced exactly from `worker/lambda/app.py:75-113`:
  *  - T9 routing: DELETE events bypass enrichment entirely and emit a
  *    tombstone; everything else (CREATE/UPDATE/UNDELETE — quirk Q2:
  *    changeType passes through verbatim as UIND) goes to the lookup join.
  *  - J1 enrichment is a point-in-time lookup against the CURRENT snapshot,
  *    NOT an as-of join: two rapid updates both emit the final state.
  *  - Inner-join drop: ids hard-deleted between event and lookup silently
  *    disappear (`app.py:101` iterates only returned records).
  *  - T7 tombstone: `{attributes:{type}, Id, UIND:"DELETE"}` with a CLEAN
  *    id (quirk Q1 decision: the reference leaks SOQL quotes into the Id;
  *    we emit the unquoted id).
  *  - T6 UIND append: the operation marker is the changeType.
  *
  * Scale posture: the per-trigger changed-id set is tiny relative to the
  * snapshot (BATCH_SIZE≈50 in the reference; ≤ a few million at 100 TB), so
  * the id side is the broadcast build side — `snapshot ⋈ broadcast(ids)` is
  * a broadcast hash join with zero shuffle of the big table. The tombstone
  * branch is a pure map-side projection.
  */
object CdcEnrich {

  /** Tombstone branch (T7). Input: exploded change rows (one per Id). */
  def tombstones(changes: DataFrame): DataFrame =
    changes.filter(col("changeType") === ChangeType.Delete)
      .select(
        struct(col("entityName").as("type")).as("attributes"),
        col("Id"),
        col("changeType").as("UIND"))

  /** Enrichment branch (J1+T6): broadcast the changed-id set against the
    * snapshot; emit the full current record + UIND. `snapshot` must carry
    * an `Id` column; all its other columns are projected verbatim ("full
    * payload" is the spec — deliberately no column pruning, SURVEY.md §4).
    */
  def enriched(changes: DataFrame, snapshot: DataFrame): DataFrame = {
    val ids = changes.filter(col("changeType") =!= ChangeType.Delete)
      .select(col("entityName"), col("changeType"), col("Id"))
    val snapCols = snapshot.columns.filter(_ != "Id").map(col)
    // hint kept (backwards estimate): unhinted, the snapshot is broadcast, not the ids
    snapshot.join(broadcast(ids), Seq("Id"))
      .select(
        Seq(struct(col("entityName").as("type")).as("attributes"), col("Id")) ++
          snapCols :+ col("changeType").as("UIND"): _*)
  }

  /** Full route: enriched ∪ tombstones. Tombstones carry only
    * {attributes, Id, UIND}; snapshot fields are null there (matching the
    * reference's narrower tombstone JSON). */
  def apply(changes: DataFrame, snapshot: DataFrame): DataFrame =
    enriched(changes, snapshot)
      .unionByName(tombstones(changes), allowMissingColumns = true)

  /** Multi-entity route — the Q7 generalization (SURVEY.md §2.9): one
    * micro-batch WILL mix entities (the reference's per-event dict could
    * not, `worker/lambda/app.py:65-72`), so each entity's changes join its
    * own snapshot; different entities have different schemas, so the
    * branches union by name with nulls for columns an entity lacks.
    * Tombstones for ALL entities (even unregistered ones) are emitted. */
  def multiEntity(changes: DataFrame, snapshots: Map[String, DataFrame]): DataFrame = {
    val enrichedBranches = snapshots.toSeq.sortBy(_._1).map { case (entity, snap) =>
      enriched(changes.filter(col("entityName") === entity), snap)
    }
    val all = enrichedBranches :+ tombstones(changes)
    all.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
  }
}
