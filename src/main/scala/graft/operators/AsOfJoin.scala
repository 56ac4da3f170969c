package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Backward as-of join — for each left row, the single latest right row
  * with `right.ts <= left.ts` in the same key group. Spark has no native
  * ASOF operator; the usual renderings are a range join (quadratic per
  * key without an interval index) or a per-key mapPartitions merge. This
  * is the scalable composition: UNION the two sides, one window over
  * (key) ordered by (ts, side), and a null-skipping running `last` that
  * carries the most recent right payload forward into each left row.
  *
  * Cost: exactly ONE shuffle (hash partition by key) + a per-partition
  * sort — the same price as any keyed window, with none of the range
  * join's candidate blowup. At 100 TB the key space (record ids) is huge
  * and uniform, so the shuffle parallelizes cleanly; a per-key version
  * history lives contiguously in one sorted run.
  *
  * Tie semantics: a right row at exactly `left.ts` MATCHES (<=, the ASOF
  * convention). Right rows must be unique per (key, ts) — with duplicate
  * version timestamps "the latest version" is ill-defined; pre-compact
  * with [[CdcMaterialize.latestStateAll]] if needed.
  */
object AsOfJoin {

  /** `left`, `right`: both must carry `keyCols` and a `ts` column of one
    * orderable type. Right-side payload = every right column except key
    * and ts, surfaced on matched left rows (null where no right row is
    * at-or-before). Left rows keep all their columns. */
  def asOfBackward(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      tsCol: String): DataFrame = {
    val rPayload = right.columns.filterNot(c => keyCols.contains(c) || c == tsCol)
    val leftCols = left.columns
    val clash = rPayload.toSet.intersect(leftCols.toSet)
    require(clash.isEmpty,
      s"right payload columns must not collide with left columns: ${clash.mkString(", ")}")
    val reserved = Set("_side", "_r", "_l", "_asof")
    require((leftCols ++ right.columns).forall(!reserved.contains(_)),
      s"inputs must not carry reserved columns ${reserved.mkString(", ")}")
    // pack the right payload into one struct so a single null-skipping
    // `last` carries all of it; left rows contribute null structs
    val rTagged = right.select(
      (keyCols.map(col) :+ col(tsCol) :+ lit(0).as("_side") :+
        struct(rPayload.map(col).toIndexedSeq: _*).as("_r")): _*)
    val lTagged = left.select(
      (keyCols.map(col) :+ col(tsCol) :+ lit(1).as("_side") :+
        lit(null).cast(rTagged.schema("_r").dataType).as("_r") :+
        struct(leftCols.map(col).toIndexedSeq: _*).as("_l")): _*)
    val unioned = rTagged
      .withColumn("_l", lit(null).cast(lTagged.schema("_l").dataType))
      .unionByName(lTagged)
    // right rows sort BEFORE left rows at equal ts, so ts-equal versions match
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol), col("_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = unioned
      .withColumn("_asof", last(col("_r"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
    matched.select(
      leftCols.map(c => col(s"_l.$c").as(c)).toIndexedSeq ++
        rPayload.map(c => col(s"_asof.$c").as(c)): _*)
  }
}
