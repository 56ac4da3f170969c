package graft.streaming

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.storage.StorageLevel

import graft.operators.{CdcDecode, CdcEnrich}

/** End-to-end streaming wiring (SURVEY.md §3.4): the reference's two-process
  * subscriber→Kinesis→Lambda topology collapses into ONE Structured
  * Streaming query, [[writerExactlyOnce]]:
  *
  *   source(offsets ≡ replayId) → decode → explode/dedupe
  *     → route(enrich ⋈ snapshot ∪ tombstones) → to_json → keyed file sink
  *                                             ↘ dead letters → dlq sink
  *
  * Offset semantics: the reference's replay map (`ReplayExtension.java:39-75`)
  * and resubscribe-on-reconnect (`EmpConnector.java:286-299`) are exactly
  * Structured Streaming's checkpointed offset WAL + restart-from-checkpoint;
  * `replayFrom = -2 / -1` on the `cdc-replay` source ≡ `startingOffsets =
  * earliest / latest`.
  *
  * Rate semantics: INTERVAL (`worker/template.yaml:59-60`) maps to
  * `Trigger.ProcessingTime`; the per-trigger cap is the `cdc-replay`
  * source's `batchSize` option. The reference's BATCH_SIZE sizes SOQL
  * IN-list chunks, which the broadcast enrichment join does not have.
  *
  * Partitioning: the reference keys Kinesis by entityName
  * (`KinesisExample.java:105-108`) and prefixes S3 with `sfdc-cdc/`
  * (`worker/template.yaml:112`); here the record sink lands at
  * `sfdc-cdc/batch_id=<n>/entityName=<e>/` — the reference layout under
  * the exactly-once batch partition, shuffle-free (the sink writes each
  * task's rows into per-entity files without a repartition; add
  * `.repartition($"entityName")` only if small-file pressure demands it at
  * scale). Dead letters land at `dlq/batch_id=<n>/`.
  */
object CdcPipeline {

  /** Config mirroring the reference's env contract
    * (`worker/lambda/app.py:42-45`, `worker/template.yaml:56-60`). */
  final case class Config(
      intervalSecs: Int = 1,
      outputPrefix: String = "sfdc-cdc")

  object Config {

    /** Startup fetch through the external config-store seam
      * ([[graft.sources.ConfigSource]]): the reference reads its trigger
      * interval from the environment (`app.py:42-45` — `INTERVAL`,
      * defaulting when absent) and the sink name from
      * `TARGET_DELIVERY_STREAM` (`app.py:45`). Paths here map to exactly
      * those env names under [[graft.sources.EnvConfigSource]]'s
      * path→name rule, and to file/SSM keys under the other bindings —
      * so `Config.fromSource(ConfigSource.chain(new EnvConfigSource,
      * new FileConfigSource(...)))` is the production startup path with
      * env-over-file layering. Absent keys keep this engine's defaults. */
    def fromSource(cs: graft.sources.ConfigSource): Config = {
      val d = Config()
      Config(
        intervalSecs = cs.get("/interval").map(_.trim.toInt).getOrElse(d.intervalSecs),
        outputPrefix = cs.get("/target_delivery_stream").getOrElse(d.outputPrefix))
    }
  }

  /** Transform shared by batch and streaming: raw envelope JSON strings →
    * routed output rows. `snapshot` is the static lookup side. */
  def transform(rawJson: DataFrame, snapshot: DataFrame): DataFrame = {
    val decoded = CdcDecode.decodeJson(rawJson, col("value"))
    val changes = CdcDecode.explodeIds(decoded)
    CdcEnrich(changes, snapshot)
  }

  /** Duplicate-DELIVERY suppression: at-least-once transports (the
    * reference's bus + Kinesis hop, quirk Q8) can redeliver the same
    * replayId; dropping repeats within the watermark upgrades the pipeline
    * to effectively-once WITHOUT violating Q6 (same-id CHANGES still pass —
    * the key is the event's replayId, not the record id). State is bounded
    * by the watermark horizon. Apply to the decoded stream before routing.
    */
  def dedupeRedeliveries(decoded: DataFrame, watermarkDelay: String = "10 minutes"): DataFrame =
    decoded
      .withWatermark("commitTimestamp", watermarkDelay)
      .dropDuplicatesWithinWatermark("replayId")

  /** Streaming-side DLQ split — poison-pill handling for the LIVE
    * pipeline (the batch classification twin is `CdcDecode.routeDlq` /
    * oracle cdc15; the bus transport has already unwrapped T1 base64, so
    * here the failure modes are the JSON tail: unparseable envelope or
    * parseable-but-headerless). Without the split, a malformed record
    * either nulls through `from_json` into silent inner-join loss (the
    * reference's behavior, quirk Q8) or — under ANSI-strict settings —
    * fails the micro-batch and wedges the query on the SAME record at
    * every retry, which is precisely how a poison pill takes down a
    * consumer. Classification is two scan-side expressions; DLQ rows
    * carry reason + raw text + replayId (when extractable), which is the
    * resume-past-poison contract.
    *
    * Two steps: `stage` classifies and decodes each envelope in ONE
    * projection over `rawJson`, and `route` splits that staged frame
    * into (routed records, dead letters). Both outputs are plans over the
    * same staged frame; [[writeBatchExactlyOnce]] persists it so one
    * micro-batch is read and decoded once for both sinks. Called
    * directly, nothing is persisted and each output re-reads `rawJson`. */
  def transformWithDlq(rawJson: DataFrame, snapshot: DataFrame): (DataFrame, DataFrame) =
    route(stage(rawJson), snapshot)

  /** One projection over the raw envelopes: `CdcDecode.decodeJson` and
    * the DLQ classification over its columns (`_dlq_reason`, null on good
    * rows; a header missing `entityName`, `changeType` or `recordIds` is
    * the batch path's `CdcDecode.missingHeader` rule), kept to the columns
    * the two sinks read. `raw` and `replay_id` are filled only on
    * dead-letter rows, so a persisted stage does not hold the envelope
    * text of every good row. */
  private def stage(rawJson: DataFrame): DataFrame = {
    val jok = try_parse_json(col("value")).isNotNull
    val reason = when(!jok, lit("dlq_bad_json"))
      .when(CdcDecode.missingHeader, lit("dlq_missing_header"))
    val dead = col("_dlq_reason").isNotNull
    CdcDecode.decodeJson(rawJson, col("value"))
      .withColumn("_dlq_reason", reason)
      .select(
        col("_dlq_reason"),
        when(dead, col("value")).as("raw"),
        when(dead && jok, get_json_object(col("value"), "$.event.replayId").cast("long"))
          .as("replay_id"),
        col("entityName"), col("changeType"), col("recordIds"))
  }

  /** The DLQ filter and, over the good rows, explode → enrich/tombstone.
    * `snapshot` is read as-is on every call: the lookup stays
    * point-in-time per batch. */
  private def route(staged: DataFrame, snapshot: DataFrame): (DataFrame, DataFrame) = {
    val dead = col("_dlq_reason").isNotNull
    val dlq = staged.filter(dead)
      .select(col("_dlq_reason").as("reason"), col("raw"), col("replay_id"))
    (CdcEnrich(CdcDecode.explodeIds(staged.filter(!dead)), snapshot), dlq)
  }

  /** EXACTLY-ONCE batch write: the target is partitioned by `batch_id`
    * and each micro-batch OVERWRITES exactly its own partition (dynamic
    * partition overwrite — the plain-filesystem stand-in for a
    * transactional MERGE keyed on batchId; on a real lakehouse table the
    * same batch_id column drives `MERGE INTO`). Replaying a batch —
    * including one that crashed mid-write or BETWEEN two sinks — rewrites
    * the same partition with the same rows: duplicates are structurally
    * impossible, and a partially-written partition is healed, not
    * appended to. The batch_id partition column doubles as the read-side
    * provenance of every row. Returns the configured writer; the caller
    * picks the format (`.json(dir)`, `.parquet(dir)`). */
  def exactlyOnceBatchWrite(df: DataFrame, batchId: Long,
                            extraPartitionCols: Seq[String] = Nil): DataFrameWriter[Row] =
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id" +: extraPartitionCols: _*)

  /** One micro-batch of [[writerExactlyOnce]]: both sinks via
    * [[exactlyOnceBatchWrite]]. Both sinks read one persisted stage of
    * `batch`: the micro-batch is read and decoded once, and the stage is
    * unpersisted before this returns or throws. Recorded cache decision:
    * `persist(MEMORY_AND_DISK)`, not `localCheckpoint` — the blocks keep
    * their lineage back to the replayable source, so a lost executor
    * recomputes them instead of failing the batch; `unpersist` runs in
    * `finally`, so no staged block outlives its batch, whether the sinks
    * return or throw. `snapshot` is never cached. Public so the crash
    * adjudication spec can drive the identical write path with a
    * failpoint between the two sinks. */
  def writeBatchExactlyOnce(
      snapshot: DataFrame, outputDir: String, config: Config = Config(),
      betweenSinks: Long => Unit = _ => ())(
      batch: DataFrame, batchId: Long): Unit = {
    val staged = stage(batch).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (routed, dlq) = route(staged, snapshot)
      exactlyOnceBatchWrite(toJsonLines(routed), batchId,
        extraPartitionCols = Seq("entityName"))
        .json(s"$outputDir/${config.outputPrefix}")
      betweenSinks(batchId)
      exactlyOnceBatchWrite(dlq, batchId).json(s"$outputDir/dlq")
    } finally staged.unpersist(blocking = true)
  }

  /** The CDC landing query: call `.start()` on the result. One
    * checkpointed query fans each micro-batch into the partitioned record
    * sink AND a quarantine directory via `foreachBatch` (two sinks, one
    * offset WAL). Batch replay is idempotent by partition overwrite
    * (spec-adjudicated with a kill between the sinks). */
  def writerExactlyOnce(
      rawJson: DataFrame,
      snapshot: DataFrame,
      outputDir: String,
      checkpointDir: String,
      config: Config = Config()): DataStreamWriter[Row] =
    rawJson.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(s"${config.intervalSecs} seconds"))
      .foreachBatch(writeBatchExactlyOnce(snapshot, outputDir, config) _)

  /** Serialize to the sink shape: one JSON line per record (K2/K3), keyed
    * by entity for the partitioned layout (K1). */
  def toJsonLines(routed: DataFrame): DataFrame =
    routed.select(
      col("attributes.type").as("entityName"),
      to_json(struct(routed.columns.toIndexedSeq.map(col): _*)).as("value"))
}
