package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._

import graft.llmdata.SessionCache
import graft.operators.{CdcDecode, CdcMaterialize}

/** The composed production ingest the whole repo implies (SURVEY §9): a
  * replayable CDC bus delivers document change events; each micro-batch
  * runs
  *
  *   decode (T1–T5) → text extraction → dd15 Bloom + dd3 banded
  *   admission against the CURRENT corpus → append-only admission
  *   LEDGER → admitted docs upsert into the corpus state
  *
  * as ONE `foreachBatch` body. Two durable artifacts come out: the
  * admission ledger (every event's verdict — the curation audit trail a
  * training-data pipeline keeps) and the corpus state (latest admitted
  * version per document — the dedup context of every FUTURE batch).
  *
  * Restart invariance: both artifacts derive admission context from DISK
  * (the corpus is read from the state dir, never held in driver memory),
  * and both merges are idempotent — the ledger dedupes on the envelope
  * clock key and the upsert keeps rank-1 per key — so an at-least-once
  * replayed micro-batch changes nothing (StreamingOpsSpec kills and
  * resumes the query and asserts byte-equal artifacts).
  *
  * Scale posture: admission is dd12's shape — the micro-batch is the
  * broadcast build side, the corpus is scanned once per trigger and never
  * self-joined; the Bloom bitset is one map-side-combined DISTINCT. At
  * 100 TB the corpus read prunes to the entity's partition and both
  * merges become MERGE INTO on a transactional table.
  */
object CurationIngest {

  private val clockCols =
    Seq("entityName", "Id", "commitNumber", "sequenceNumber", "replayId")

  /** Decode a raw-envelope micro-batch and extract the curated text
    * field from the typed payload. */
  private def decodeText(batch: DataFrame, textField: String): DataFrame =
    CdcDecode.explodeIds(
        CdcDecode.decodeJson(batch.select(col("value")), col("value"))
          .drop("value"))
      .withColumn("text",
        get_json_object(col("payload_json"), s"$$.$textField"))
      .drop("payload_json")

  /** The current corpus as (doc_id, text), derived from the persisted
    * state — empty on the first trigger. */
  private def corpusOf(batch: DataFrame, corpusDir: String): DataFrame = {
    val spark = batch.sparkSession
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
    try spark.read.parquet(corpusDir)
      .select(xxhash64(col("Id")).as("doc_id"), col("text"))
    catch {
      case e: AnalysisException
          if Option(e.getCondition).exists(_.contains("PATH_NOT_FOUND")) ||
            e.getMessage.contains("Path does not exist") => empty
    }
  }

  /** One micro-batch of the composed ingest; wire as
    * `.writeStream.foreachBatch(CurationIngest.foreachBatchCurate(corpusDir, ledgerDir) _)`
    * on the cdc-replay (or any raw-envelope `value`) stream. The three
    * pinned frames are released before the batch returns. */
  def foreachBatchCurate(corpusDir: String, ledgerDir: String,
                         textField: String = "Name")
                        (batch: DataFrame, batchId: Long): Unit =
    SessionCache.withPins { pins =>
      // the decoded rows feed the admission pass, the ledger and the
      // corpus upsert — pin once (the cur12/dd11 shared-subtree discipline)
      val decoded = decodeText(batch, textField).transform(pins.pin)
      if (!decoded.isEmpty) curate(decoded, corpusDir, ledgerDir, batchId, pins)
    }

  private def curate(decoded: DataFrame, corpusDir: String, ledgerDir: String,
                     batchId: Long, pins: SessionCache.Pins): Unit = {
    // one admission verdict per DOCUMENT per batch: admit on the latest
    // version in the batch (two versions of one doc in one trigger get
    // the newest text's verdict, and the ledger records it on every row)
    val incoming = decoded
      .groupBy(xxhash64(col("Id")).as("doc_id"))
      .agg(max_by(col("text"),
        struct(col("commitNumber"), col("sequenceNumber"), col("replayId")))
        .as("text"),
        max(struct(col("commitNumber"), col("sequenceNumber"),
          col("replayId"))).as("clock"))
    // INTRA-BATCH pass first (r12 ADVICE): two fresh documents that
    // duplicate each other in ONE micro-batch both pass the corpus-only
    // check (the corpus state is from PRIOR triggers). The clock-earliest
    // copy proceeds to corpus admission; the later ones are rejected
    // in-batch — deterministic, so a replayed batch agrees with itself.
    val intra = graft.llmdata.Dedup
      .dedupWithinSlice(incoming.select(col("doc_id"), col("text"), col("clock")))
      .transform(pins.pin)
    val keptIncoming = incoming
      .join(intra.filter(col("status") === "kept").select(col("doc_id")), "doc_id")
      .select(col("doc_id"), col("text"))
    val verdicts = graft.llmdata.Dedup
      .admitAgainstWithBloom(corpusOf(decoded, corpusDir), keptIncoming)
      // in-batch rejects enter the ledger with their own statuses; the
      // Bloom was never consulted for them (null, not false)
      .union(intra.filter(col("status") =!= "kept")
        .select(col("doc_id"), lit(null).cast("boolean").as("bloom_maybe"),
          col("status")))
      .transform(pins.pin)
    // 1) admission ledger: every decoded event row + its doc's verdict,
    //    deduped on the envelope clock (idempotent under batch replay)
    val ledgerRows = decoded
      .withColumn("doc_id", xxhash64(col("Id")))
      .join(verdicts, "doc_id")
      .select((clockCols.map(col) :+ col("text") :+ col("status") :+
        col("bloom_maybe")): _*)
    CdcMaterialize.foreachBatchTxnLedger(ledgerDir)(ledgerRows, batchId)
    // 2) corpus state: admitted docs upsert by the envelope clock
    //    (rank-1 per key — replay is a no-op)
    val admittedIds = verdicts.filter(col("status") === "admitted")
      .select(col("doc_id"))
    val admitted = decoded
      .withColumn("doc_id", xxhash64(col("Id")))
      .join(admittedIds, "doc_id")
      .drop("doc_id")
    CdcMaterialize.foreachBatchUpsert(corpusDir)(admitted, batchId)
  }
}
