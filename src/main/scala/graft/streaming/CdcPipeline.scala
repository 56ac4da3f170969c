package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.storage.StorageLevel

import graft.operators.{CdcDecode, CdcEnrich}

/** End-to-end streaming wiring (SURVEY.md §3.4): the reference's two-process
  * subscriber→Kinesis→Lambda topology collapses into ONE Structured
  * Streaming query:
  *
  *   source(offsets ≡ replayId) → decode → explode/dedupe
  *     → route(enrich ⋈ snapshot ∪ tombstones) → to_json → keyed file sink
  *
  * Offset semantics: the reference's replay map (`ReplayExtension.java:39-75`)
  * and resubscribe-on-reconnect (`EmpConnector.java:286-299`) are exactly
  * Structured Streaming's checkpointed offset WAL + restart-from-checkpoint;
  * `replayFrom = -2 / -1` ≡ `startingOffsets = earliest / latest`.
  *
  * Rate semantics: BATCH_SIZE/INTERVAL (`worker/template.yaml:59-60`) map to
  * `maxOffsetsPerTrigger`-style source options + `Trigger.ProcessingTime`.
  *
  * Partitioning: the reference keys Kinesis by entityName
  * (`KinesisExample.java:105-108`) and prefixes S3 with `sfdc-cdc/`
  * (`worker/template.yaml:112`); here that is `partitionBy("entityName")`
  * on the file sink — same layout, shuffle-free (the sink writes each
  * task's rows into per-entity files without a repartition; add
  * `.repartition($"entityName")` only if small-file pressure demands it at
  * scale).
  */
object CdcPipeline {

  /** Config mirroring the reference's env contract
    * (`worker/lambda/app.py:42-45`, `worker/template.yaml:56-60`). */
  final case class Config(
      batchSize: Int = 50,
      intervalSecs: Int = 1,
      outputPrefix: String = "sfdc-cdc",
      startingOffsets: String = "earliest")

  object Config {

    /** Startup fetch through the external config-store seam
      * ([[graft.sources.ConfigSource]]): the reference reads its rate
      * knobs from the environment (`app.py:42-45` — `BATCH_SIZE` and
      * `INTERVAL`, both defaulting when absent), the sink name from
      * `TARGET_DELIVERY_STREAM` (`app.py:45`), and the replay start as a
      * process argument (`KinesisExample.java:48-50`). Paths here map to
      * exactly those env names under [[graft.sources.EnvConfigSource]]'s
      * path→name rule, and to file/SSM keys under the other bindings —
      * so `Config.fromSource(ConfigSource.chain(new EnvConfigSource,
      * new FileConfigSource(...)))` is the production startup path with
      * env-over-file layering. Absent keys keep this engine's defaults. */
    def fromSource(cs: graft.sources.ConfigSource): Config = {
      val d = Config()
      Config(
        batchSize = cs.get("/batch_size").map(_.trim.toInt).getOrElse(d.batchSize),
        intervalSecs = cs.get("/interval").map(_.trim.toInt).getOrElse(d.intervalSecs),
        outputPrefix = cs.get("/target_delivery_stream").getOrElse(d.outputPrefix),
        startingOffsets = cs.get("/replay_from").map {
          case "-2" => "earliest"; case "-1" => "latest"; case s => s
        }.getOrElse(d.startingOffsets))
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
    * same staged frame; the `foreachBatch` writers persist it so one
    * micro-batch is read and decoded once for both sinks
    * (`withStagedBatch`). Called directly, nothing is persisted and each
    * output re-reads `rawJson`. */
  def transformWithDlq(rawJson: DataFrame, snapshot: DataFrame): (DataFrame, DataFrame) =
    route(stage(rawJson), snapshot)

  /** One projection over the raw envelopes: the DLQ classification
    * (`_dlq_reason`, null on good rows) and `CdcDecode.decodeJson`, kept
    * to the columns the two sinks read. `raw` and `replay_id` are filled
    * only on dead-letter rows, so a persisted stage does not hold the
    * envelope text of every good row. */
  private def stage(rawJson: DataFrame): DataFrame = {
    val jok = try_parse_json(col("value")).isNotNull
    val entity = get_json_object(col("value"), "$.payload.ChangeEventHeader.entityName")
    val reason = when(!jok, lit("dlq_bad_json"))
      .when(entity.isNull, lit("dlq_missing_header"))
    val dead = col("_dlq_reason").isNotNull
    CdcDecode.decodeJson(rawJson.withColumn("_dlq_reason", reason), col("value"))
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

  /** The staging path both `foreachBatch` writers share: stage `batch`,
    * persist it, hand (routed records, dead letters) over the persisted
    * stage to `sinks`, and release it. Recorded cache decision:
    * `persist(MEMORY_AND_DISK)`, not `localCheckpoint` — the blocks keep
    * their lineage back to the replayable source, so a lost executor
    * recomputes them instead of failing the batch; `unpersist` runs in
    * `finally`, so no staged block outlives its batch, whether the sinks
    * return or throw. `snapshot` is never cached. */
  private def withStagedBatch(batch: DataFrame, snapshot: DataFrame)(
      sinks: (DataFrame, DataFrame) => Unit): Unit = {
    val staged = stage(batch).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (routed, dlq) = route(staged, snapshot)
      sinks(routed, dlq)
    } finally staged.unpersist(blocking = true)
  }

  /** Exactly-once-per-batch guard for a side-effecting sink write inside
    * `foreachBatch`: runs `write` only if no commit marker exists for
    * (outputDir, sink, batchId), then creates the marker. foreachBatch is
    * at-least-once PER SINK — a crash anywhere inside the function replays
    * the whole batch (same batchId) on restart — so a two-sink writer
    * that crashed BETWEEN its writes would otherwise re-append the first
    * sink's rows on replay. With markers, the replay skips every sink
    * that already committed and completes only the missing ones.
    *
    * Delivery contract (stated, not assumed): batch-replay duplication is
    * eliminated; the residual window is a crash between a sink's data
    * write and its marker creation, which re-runs THAT sink's append —
    * the irreducible at-least-once of a non-transactional file APPEND —
    * closed in this codebase by [[exactlyOnceBatchWrite]], whose
    * batch_id-partition overwrite makes replay structurally idempotent
    * (at scale: a transactional table where the batchId column drives
    * MERGE). Markers go through the
    * Hadoop FileSystem API, so the scheme holds on HDFS/S3A, not just
    * local disk. Returns true iff `write` ran. */
  def idempotentSinkWrite(
      spark: SparkSession, outputDir: String, sink: String, batchId: Long)(
      write: => Unit): Boolean = {
    val dir = new org.apache.hadoop.fs.Path(outputDir, "_commits")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val marker = new org.apache.hadoop.fs.Path(dir, s"$sink-$batchId")
    if (fs.exists(marker)) false
    else {
      write
      fs.mkdirs(dir)
      fs.create(marker, true).close()
      true
    }
  }

  /** One micro-batch of [[writerWithDlq]]: the record sink and the DLQ
    * sink each guarded by [[idempotentSinkWrite]]. Both sinks read one
    * persisted stage of `batch` (`withStagedBatch`): the micro-batch is
    * read and decoded once, and the stage is unpersisted before this
    * returns or throws. Public so the crash adjudication spec can drive
    * the IDENTICAL write path with a failpoint between the two sinks. */
  def writeBatchWithDlq(
      snapshot: DataFrame, outputDir: String, config: Config = Config(),
      betweenSinks: Long => Unit = _ => ())(
      batch: DataFrame, batchId: Long): Unit =
    withStagedBatch(batch, snapshot) { (routed, dlq) =>
      idempotentSinkWrite(batch.sparkSession, outputDir, "records", batchId) {
        toJsonLines(routed).write.mode("append")
          .partitionBy("entityName").json(s"$outputDir/${config.outputPrefix}")
      }
      betweenSinks(batchId)
      idempotentSinkWrite(batch.sparkSession, outputDir, "dlq", batchId) {
        dlq.write.mode("append").json(s"$outputDir/dlq")
      }
    }

  /** EXACTLY-ONCE batch append WITHOUT commit markers — the named closure
    * of [[idempotentSinkWrite]]'s residual window (r12 verdict task 4):
    * the target is partitioned by `batch_id` and each micro-batch
    * OVERWRITES exactly its own partition (dynamic partition overwrite —
    * the plain-filesystem stand-in for a transactional MERGE keyed on
    * batchId; on a real lakehouse table the same batch_id column drives
    * `MERGE INTO`). Replaying a batch — including one that crashed
    * mid-write or BETWEEN two sinks, the exact window the marker protocol
    * could not close — rewrites the same partition with the same rows:
    * duplicates are structurally impossible rather than
    * marker-suppressed, and a partially-written partition is healed, not
    * appended to. The batch_id partition column doubles as the read-side
    * provenance of every row. */
  def exactlyOnceBatchWrite(df: DataFrame, outputDir: String, batchId: Long,
                            extraPartitionCols: Seq[String] = Nil): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id" +: extraPartitionCols: _*)
      .json(outputDir)

  /** One micro-batch of [[writerExactlyOnce]]: both sinks via
    * [[exactlyOnceBatchWrite]] — no markers anywhere. Both sinks read one
    * persisted stage of `batch` (`withStagedBatch`): the micro-batch is
    * read and decoded once, and the stage is unpersisted before this
    * returns or throws. Public so the crash adjudication spec can drive
    * the identical write path with a failpoint between the two sinks. */
  def writeBatchExactlyOnce(
      snapshot: DataFrame, outputDir: String, config: Config = Config(),
      betweenSinks: Long => Unit = _ => ())(
      batch: DataFrame, batchId: Long): Unit =
    withStagedBatch(batch, snapshot) { (routed, dlq) =>
      exactlyOnceBatchWrite(toJsonLines(routed),
        s"$outputDir/${config.outputPrefix}", batchId,
        extraPartitionCols = Seq("entityName"))
      betweenSinks(batchId)
      exactlyOnceBatchWrite(dlq, s"$outputDir/dlq", batchId)
    }

  /** [[writerWithDlq]] upgraded to the marker-free exactly-once target:
    * same two-sink fan-out, same offset WAL, but batch replay is
    * idempotent by partition overwrite instead of marker suppression —
    * the at-least-once residual the marker protocol documents does not
    * exist here (spec-adjudicated with a kill between the sinks). */
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

  /** [[writer]] with the DLQ split: one checkpointed query fans each
    * micro-batch into the partitioned record sink AND a quarantine
    * directory via `foreachBatch` (two sinks, one offset WAL — the
    * delivered stream and its dead letters advance atomically from the
    * source's point of view). Each sink's append is made idempotent
    * under batch replay by [[idempotentSinkWrite]]'s per-(sink, batchId)
    * commit markers — see that method's scaladoc for the exact delivery
    * contract, including the crash-between-sinks case. */
  def writerWithDlq(
      rawJson: DataFrame,
      snapshot: DataFrame,
      outputDir: String,
      checkpointDir: String,
      config: Config = Config()): DataStreamWriter[Row] =
    rawJson.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(s"${config.intervalSecs} seconds"))
      .foreachBatch(writeBatchWithDlq(snapshot, outputDir, config) _)

  /** Serialize to the sink shape: one JSON line per record (K2/K3), keyed
    * by entity for the partitioned layout (K1). */
  def toJsonLines(routed: DataFrame): DataFrame =
    routed.select(
      col("attributes.type").as("entityName"),
      to_json(struct(routed.columns.toIndexedSeq.map(col): _*)).as("value"))

  /** Full streaming query: call `.start()` on the result. */
  def writer(
      rawJson: DataFrame,
      snapshot: DataFrame,
      outputDir: String,
      checkpointDir: String,
      config: Config = Config()): DataStreamWriter[Row] =
    toJsonLines(transform(rawJson, snapshot))
      .writeStream
      .format("json")
      .option("path", s"$outputDir/${config.outputPrefix}")
      .option("checkpointLocation", checkpointDir)
      .partitionBy("entityName")
      .trigger(Trigger.ProcessingTime(s"${config.intervalSecs} seconds"))
      .outputMode("append")
}
