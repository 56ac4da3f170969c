package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.{CdcModel, EntitySchemaRegistry}

/** Decode stage: raw transport record → typed change rows.
  *
  * Reference behavior reproduced (SURVEY.md §2.2/§2.3):
  *  - T1 base64 decode (`worker/lambda/app.py:51-54`) → `unbase64`
  *  - T2 JSON parse (`app.py:55`) → `from_json` with the fixed envelope
  *    struct; the dynamic entity body stays as raw JSON (schema-on-read)
  *  - T3 header projection (`app.py:57-62`) → nested-field select
  *  - D1 first-seen dedupe of recordIds within one event (`app.py:64-72`)
  *    → `array_distinct` (order-preserving first-seen, same semantics)
  *  - T5 explode to one row per changed id (`app.py:66-72`)
  *
  * All column-to-column (no UDFs): whole-stage codegen keeps this stage in
  * one pass over the scan, and it works identically in batch and streaming
  * (Spark's unified Dataset API).
  */
object CdcDecode {

  /** T1+T2: base64 transport payload → envelope columns + raw payload JSON.
    * Input: any DataFrame with a base64-encoded string column (the
    * `kinesis.data` shape). */
  def decodeBase64(raw: DataFrame, dataCol: Column): DataFrame =
    decodeJson(raw.withColumn("_json", unbase64(dataCol).cast(StringType)), col("_json"))
      .drop("_json")

  /** T2+T3: envelope JSON string → header projection. Keeps `payload_json`
    * (the full payload object, dynamic body included) for downstream
    * re-typing against the entity catalog. */
  def decodeJson(raw: DataFrame, jsonCol: Column): DataFrame = {
    val env = from_json(jsonCol, CdcModel.envelopeType)
    raw
      .withColumn("_env", env)
      .withColumn("payload_json", get_json_object(jsonCol, "$.payload"))
      .select(
        raw.columns.map(col).toIndexedSeq ++ Seq(
          col("_env.schema").as("schema_fingerprint"),
          col("_env.event.replayId").as("replayId"),
          col("_env.payload.ChangeEventHeader.entityName").as("entityName"),
          col("_env.payload.ChangeEventHeader.changeType").as("changeType"),
          timestamp_millis(col("_env.payload.ChangeEventHeader.commitTimestamp"))
            .as("commitTimestamp"),
          col("_env.payload.ChangeEventHeader.commitNumber").as("commitNumber"),
          col("_env.payload.ChangeEventHeader.sequenceNumber").as("sequenceNumber"),
          col("_env.payload.ChangeEventHeader.transactionKey").as("transactionKey"),
          col("_env.payload.ChangeEventHeader.changedFields").as("changedFields"),
          array_distinct(col("_env.payload.ChangeEventHeader.recordIds")).as("recordIds"),
          col("payload_json")): _*)
      .drop("_env")
  }

  /** D1+T5: one row per (deduped) changed record id. */
  def explodeIds(decoded: DataFrame): DataFrame =
    decoded.withColumn("Id", explode(col("recordIds"))).drop("recordIds")

  /** Over [[decodeJson]]'s columns: the envelope lacks a header field
    * routing needs. Without `entityName` or `changeType` the enrich
    * branches drop the row, and without `recordIds` the explode yields
    * nothing, so such a row must be dead-lettered, never routed. */
  val missingHeader: Column =
    col("entityName").isNull || col("changeType").isNull || col("recordIds").isNull

  /** Dead-letter split: rows whose envelope failed to parse or lacks a
    * header field ([[missingHeader]]) go to a quarantine branch
    * instead of vanishing — the idiomatic upgrade of the reference's
    * swallow-and-log (quirk Q8, `KinesisExample.java:143-147`). Both
    * branches are filters over the same decode, so the scan is shared. */
  def partitionValid(decoded: DataFrame): (DataFrame, DataFrame) =
    (decoded.filter(!missingHeader), decoded.filter(missingHeader))

  /** Wire-level dead-letter routing with REASONS — the production
    * upgrade of [[partitionValid]]'s post-decode null test. The reference
    * has no error handling at all (`worker/lambda/app.py:47-72` lets a
    * malformed record throw and leans on the Lambda retry machinery,
    * which retries a poison record forever); a deployed pipeline instead
    * classifies each wire record ONCE and routes it:
    *
    *  - `dlq_bad_base64`  — not base64 text (charset/padding/length)
    *  - `dlq_bad_json`    — decodes, but the bytes are not JSON
    *  - `dlq_missing_header` — JSON, but no ChangeEventHeader.entityName
    *  - `ok`              — decodes end-to-end
    *
    * Classification is pure column expressions (regex gate → lenient
    * unbase64 behind it → `try_parse_json` validity → header path probe),
    * so the whole routing stays in one codegen'd scan pass — no
    * exceptions, no UDFs, no second read of the wire. Fields extractable
    * BEFORE the failing stage are surfaced on DLQ rows too (a
    * missing-header record still carries its replayId), which is what a
    * reprocessing consumer needs to resume past a poison record.
    *
    * Base64 validity is checked structurally (standard alphabet, tail
    * padding only, length ≡ 0 mod 4) rather than by catching a decode
    * error: Spark's `unbase64` is LENIENT (it skips invalid bytes), so an
    * error-based test would silently mis-accept; the structural test is
    * also engine-portable, which keeps the DuckDB twin bit-identical. */
  def routeDlq(wire: DataFrame, dataCol: Column): DataFrame = {
    // A NULL payload must classify as a transport-level failure, not fall
    // through to dlq_bad_json: rlike(NULL) is NULL and `when` skips NULL
    // conditions, so the structural test is coalesced to false.
    val b64ok = coalesce(
      dataCol.rlike("^[A-Za-z0-9+/]*={0,2}$") &&
        length(dataCol) % 4 === 0,
      lit(false))
    val s = when(b64ok, unbase64(dataCol).cast(StringType))
    val jsonOk = try_parse_json(col("_s")).isNotNull
    val entity =
      get_json_object(col("_s"), "$.payload.ChangeEventHeader.entityName")
    wire
      .withColumn("_b64ok", b64ok)
      .withColumn("_s", s)
      .withColumn("_jok", when(col("_s").isNotNull, jsonOk).otherwise(lit(false)))
      .withColumn("status",
        when(!col("_b64ok"), lit("dlq_bad_base64"))
          .when(!col("_jok"), lit("dlq_bad_json"))
          .when(entity.isNull, lit("dlq_missing_header"))
          .otherwise(lit("ok")))
      .withColumn("entity_name", when(col("_jok"), entity))
      .withColumn("change_type", when(col("_jok"),
        get_json_object(col("_s"), "$.payload.ChangeEventHeader.changeType")))
      .withColumn("replay_id", when(col("_jok"),
        get_json_object(col("_s"), "$.event.replayId").cast(LongType)))
      .drop("_b64ok", "_s", "_jok")
  }

  /** §1.3 catalog re-typing: parse the dynamic body with the entity's
    * registered schema (the cached `describe()` — fixes quirk Q5). Only
    * valid on a single-entity slice, like the reference's per-entity loop. */
  def typedBody(decoded: DataFrame, entity: String, registry: EntitySchemaRegistry): DataFrame =
    registry.get(entity) match {
      case Some(schema) =>
        decoded.filter(col("entityName") === entity)
          .withColumn("body", from_json(col("payload_json"), schema))
      case None =>
        decoded.filter(col("entityName") === entity)
          .withColumn("body", from_json(col("payload_json"), MapType(StringType, StringType)))
    }

  /** Schema-evolution-aware re-typing: events re-type with the schema
    * registered for THEIR fingerprint (falling back to the entity's current
    * schema), then union by name — new fields are null on old-schema rows.
    * This is what carrying the wire fingerprint (ignored by the reference)
    * buys: an in-flight mix of schema versions decodes losslessly. */
  def typedBodyEvolving(
      decoded: DataFrame, entity: String, registry: EntitySchemaRegistry): DataFrame = {
    val slice = decoded.filter(col("entityName") === entity)
    val fps = registry.fingerprints(entity)
    if (fps.isEmpty) typedBody(decoded, entity, registry)
    else {
      val known = fps.map { fp =>
        val schema = registry.get(entity, fp).get
        slice.filter(col("schema_fingerprint") === fp)
          .withColumn("body", from_json(col("payload_json"), schema))
      }
      val rest = slice.filter(!col("schema_fingerprint").isin(fps: _*))
        .withColumn("body", from_json(col("payload_json"),
          registry.get(entity).getOrElse(MapType(StringType, StringType))))
      (known :+ rest).reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
    }
  }
}
