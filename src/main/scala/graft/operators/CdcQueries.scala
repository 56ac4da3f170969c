package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.EntitySchemaRegistry
import graft.sources.Tables

/** Driver-gated batch renderings of the CDC pipeline (SURVEY.md §2.2-§2.4).
  *
  * The streaming pipeline (`graft.streaming.CdcPipeline`) is covered by
  * ScalaTest, but the driver's DuckDB oracle gate only sees batch
  * `SparkEntry.queries` — so these queries run the SAME operator objects
  * (`CdcDecode`, `CdcEnrich`, `CdcMaterialize` — Spark's unified Dataset
  * API means the batch and streaming plans share the code path) over
  * envelopes synthesized deterministically from the `customer` fixture:
  * each customer row becomes one transport record, `to_json` → `base64`,
  * exactly the wire shape of the reference's Kinesis payload
  * (`worker/lambda/app.py:51-55`). The oracle rebuilds the same envelope
  * with DuckDB JSON/base64 functions and decodes it with `from_base64` +
  * JSON path extraction, so BOTH engines round-trip the full
  * encode→decode path and must agree bit-exact on every header field.
  *
  * Fixture semantics per customer key k:
  *  - changeType: k%4 → CREATE/UPDATE/DELETE/UNDELETE (quirk Q2: UIND
  *    passes through verbatim)
  *  - recordIds: k%7==0 → duplicated id (exercises D1 first-seen dedupe);
  *    k%5==0 → second id `002k` absent from the snapshot (exercises the
  *    enrichment inner-join drop, `app.py:101`); else a single id
  *  - changedFields: non-empty only for UPDATE (T3 header projection)
  */
object CdcQueries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  // backfill-topic generations (see batchReplayDecode): monotone token +
  // the last two topics per dir, older generations are cleared
  private val backfillGen = new java.util.concurrent.atomic.AtomicLong()
  private val backfillHistory = scala.collection.mutable.Map.empty[String, List[String]]

  private val k: Column = col("c_custkey")
  private def ks: Column = k.cast(StringType)

  private val changeType: Column =
    when(k % 4 === 0, "CREATE").when(k % 4 === 1, "UPDATE")
      .when(k % 4 === 2, "DELETE").otherwise("UNDELETE")

  private val recordIds: Column = {
    val id1 = concat(lit("001"), ks)
    val id2 = concat(lit("002"), ks)
    when(k % 7 === 0, array(id1, id1))
      .when(k % 5 === 0, array(id1, id2))
      .otherwise(array(id1))
  }

  private val changedFields: Column =
    when(k % 4 === 1, array(lit("c_name"), lit("c_acctbal")))
      .otherwise(array().cast(ArrayType(StringType)))

  /** One synthetic base64 transport record per customer row (the
    * `kinesis.data` shape). `bodyFields` are the dynamic entity body —
    * to_json drops null fields (default ignoreNullFields), so a null body
    * column is ABSENT from the wire JSON, as on a real schema-v1 event. */
  private def wireJson(fp: Column, bodyFields: Seq[Column],
                       ct: Column = changeType): Column = {
    val header = struct(
      (k * 10).as("commitNumber"),
      concat(lit("u"), (k % 5).cast(StringType)).as("commitUser"),
      (lit(1) + k % 3).cast(IntegerType).as("sequenceNumber"),
      lit("Customer").as("entityName"),
      ct.as("changeType"),
      changedFields.as("changedFields"),
      lit("api").as("changeOrigin"),
      concat(lit("tk-"), ks).as("transactionKey"),
      (lit(1583300894000L) + k * 1000).as("commitTimestamp"),
      recordIds.as("recordIds"))
    val env = struct(
      fp.as("schema"),
      struct(bodyFields :+ header.as("ChangeEventHeader"): _*).as("payload"),
      struct((k + 10).as("replayId")).as("event"))
    to_json(env)
  }

  /** Unchunked base64, the actual transport convention: Spark's `base64`
    * emits MIME-chunked text (a `\r\n` every 76 chars) that a strict
    * RFC 4648 validator rejects; the reference's Kinesis payload
    * (`worker/lambda/app.py:51-54`) is SDK-produced unchunked base64, so
    * the wire fixture strips the chunking. DuckDB's `base64` is already
    * unchunked — this also makes the two engines' wires bit-identical. */
  private def wireB64(bytes: Column): Column =
    regexp_replace(base64(bytes), "[\\r\\n]", "")

  /** One synthetic wire record per customer row. REPARTITIONED first
    * (r20): the fixture is one single-row-group parquet file, so the
    * whole synth → to_json → base64 → decode → from_json chain — the cdc
    * family's dominant compute, ~50× more CPU per byte than the scan —
    * inherited the scan's ONE partition and ran serial in every batch
    * gate query. Width derives from the cluster (defaultParallelism);
    * the cost is one exchange of the 15k-row customer projection. The
    * streaming pipeline is untouched — its micro-batch sources arrive
    * already sharded (numShards). */
  private def synthRaw(customer: DataFrame, fp: Column, bodyFields: Seq[Column],
                       ct: Column = changeType): DataFrame =
    customer.repartition(customer.sparkSession.sparkContext.defaultParallelism)
      .select(wireB64(wireJson(fp, bodyFields, ct).cast(BinaryType)).as("data"))

  private def custName: Column = concat(lit("Cust-"), ks)

  /** Decoded + exploded change rows (T1 base64 → T2 JSON → T3 headers →
    * D1 id dedupe → T5 explode), dead letters split off (quirk Q8). */
  private def changes(spark: SparkSession, dir: String): DataFrame = {
    val raw = synthRaw(t(spark, dir, "customer"), lit("fp_v1"), Seq(custName.as("Name")))
    val (good, _) = CdcDecode.partitionValid(
      CdcDecode.decodeBase64(raw, col("data")).drop("data"))
    CdcDecode.explodeIds(good)
  }

  // ------------------------------------------------------------ cdc1

  private def headerProjection(changeRows: DataFrame): DataFrame =
    changeRows.select(
      col("Id").as("record_id"),
      col("entityName").as("entity_name"),
      col("changeType").as("change_type"),
      col("commitNumber").as("commit_number"),
      col("sequenceNumber").as("sequence_number"),
      unix_millis(col("commitTimestamp")).as("commit_ts_ms"),
      col("transactionKey").as("transaction_key"),
      col("replayId").as("replay_id"),
      col("schema_fingerprint"),
      array_join(col("changedFields"), ",").as("changed_fields"),
      get_json_object(col("payload_json"), "$.Name").as("name"))
      .orderBy(col("record_id"), col("replay_id"))

  /** T1+T2+T3+D1+T5 under the oracle gate: every envelope header field
    * survives the base64+JSON round trip bit-exact. */
  def decodeHeaders(spark: SparkSession, dir: String): DataFrame =
    headerProjection(changes(spark, dir))

  // ------------------------------------------------------------ cdc8

  /** Batch/backfill read of the bus — the reference's retention window
    * exists precisely so a consumer can reprocess a replayId range
    * (`subscriber/cloudformation/subscriber.yaml:39`). The cdc1 wire
    * records are PUBLISHED onto an in-memory topic, re-read with
    * `spark.read.format("cdc-replay")` (the sharded batch scan), and fed
    * through the same decode chain — so the records must survive
    * publish → sharded batch scan → decode bit-exact against cdc1's
    * oracle. The driver-side publish loop is transport fixture machinery
    * (the wire must originate outside the plan for the read path to be
    * exercised), not operator dataflow.
    *
    * Each invocation publishes onto a FRESH generation of the topic, so a
    * still-lazy frame from the previous invocation keeps reading its own
    * (immutable) data instead of racing a clear+republish. Only the
    * latest two generations per dir are retained: a frame is valid until
    * two newer invocations for the same dir have been built. */
  def batchReplayDecode(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.ReplayBus
    val topic = s"/data/backfill:$dir#${backfillGen.incrementAndGet()}"
    backfillHistory.synchronized {
      val prior = backfillHistory.getOrElse(dir, Nil)
      prior.drop(1).foreach(ReplayBus.clear)
      backfillHistory(dir) = topic :: prior.take(1)
    }
    val raw = synthRaw(t(spark, dir, "customer"), lit("fp_v1"), Seq(custName.as("Name")))
    raw.collect().foreach(r => ReplayBus.publish(topic, r.getString(0)))
    val bus = spark.read.format("cdc-replay")
      .option("topic", topic).option("numShards", "8").load()
      .select(col("value")) // envelope carries its own replayId (k+10)
    val (good, _) = CdcDecode.partitionValid(
      CdcDecode.decodeBase64(bus, col("value")).drop("value"))
    headerProjection(CdcDecode.explodeIds(good))
  }

  // ------------------------------------------------------------ cdc2

  /** T9 routing + J1 broadcast enrichment + T6 UIND append + T7 tombstones
    * (`worker/lambda/app.py:75-113`): DELETEs become tombstones with null
    * snapshot columns; everything else inner-joins the current snapshot
    * (ids missing there — the `002k` ids — are silently dropped). */
  def routeEnrich(spark: SparkSession, dir: String): DataFrame = {
    val snapshot = t(spark, dir, "customer").select(
      concat(lit("001"), ks).as("Id"),
      col("c_name"), col("c_acctbal"), col("c_mktsegment"))
    // localCheckpoint: CdcEnrich consumes the decoded change rows TWICE
    // (enrichment branch ∪ tombstone branch) and Catalyst does not share
    // common subtrees, so the whole synth→base64→JSON-decode→explode
    // chain ran once per branch (r19 plan audit: 3 customer scans → 1).
    // Batch-fixture-side only — the streaming pipeline's frames can't
    // checkpoint. There the foreachBatch writers persist one decoded stage
    // per micro-batch and read the source once; the plain
    // CdcPipeline.writer/transform file-sink path still reads it once per
    // branch (twice).
    CdcEnrich(changes(spark, dir).localCheckpoint(), snapshot)
      .select(
        col("attributes.type").as("attr_type"),
        col("Id").as("record_id"),
        col("c_name"), col("c_acctbal"), col("c_mktsegment"),
        col("UIND").as("uind"))
      .orderBy(col("record_id"), col("uind"))
  }

  // ------------------------------------------------------------ cdc12

  /** GAP_* mix for the cdc12 fixture: Salesforce emits GAP_CREATE/
    * GAP_UPDATE/GAP_DELETE/GAP_UNDELETE — and GAP_OVERFLOW on the
    * /data/ChangeEvents overflow channel — when change payloads cannot be
    * delivered (recordIds, no field values). A literal DELETE rides along
    * so the mix exercises both router branches, and a literal UNDELETE
    * pins quirk Q2's decision through the full wire round trip: the
    * reference leaves UNDELETE TBD (`worker/lambda/app.py:77` routes on
    * `== 'DELETE'` only), so an undeleted record takes the enrichment
    * branch and re-fetches current state — exactly what a restored record
    * needs. */
  private val gapChangeType: Column =
    when(k % 7 === 0, "GAP_CREATE").when(k % 7 === 1, "GAP_UPDATE")
      .when(k % 7 === 2, "GAP_DELETE").when(k % 7 === 3, "GAP_OVERFLOW")
      .when(k % 7 === 4, "GAP_UNDELETE").when(k % 7 === 5, "UNDELETE")
      .otherwise("DELETE")

  /** GAP/OVERFLOW recovery under the gate (cdc12): the reference's router
    * matches `== 'DELETE'` exactly (`worker/lambda/app.py:77`), so every
    * GAP_* marker — including GAP_DELETE and GAP_OVERFLOW — takes the
    * enrichment branch and re-queries the CURRENT full record: re-fetch
    * IS the documented consumer recovery for gap events. UIND carries the
    * raw GAP_* marker through (Q2); ids hard-deleted since the gap (the
    * `002k` fixture ids) drop via inner-join semantics; only the literal
    * DELETE tombstones. Same wire round trip and snapshot join as cdc2 —
    * this row pins the RECOVERY path the spec-only test covered before. */
  def gapRouteEnrich(spark: SparkSession, dir: String): DataFrame = {
    val raw = synthRaw(t(spark, dir, "customer"), lit("fp_v1"),
      Seq(custName.as("Name")), gapChangeType)
    val (good, _) = CdcDecode.partitionValid(
      CdcDecode.decodeBase64(raw, col("data")).drop("data"))
    val snapshot = t(spark, dir, "customer").select(
      concat(lit("001"), ks).as("Id"),
      col("c_name"), col("c_acctbal"), col("c_mktsegment"))
    // localCheckpoint: two enrich/tombstone branches, one decode (see
    // routeEnrich)
    CdcEnrich(CdcDecode.explodeIds(good).localCheckpoint(), snapshot)
      .select(
        col("attributes.type").as("attr_type"),
        col("Id").as("record_id"),
        col("c_name"), col("c_acctbal"), col("c_mktsegment"),
        col("UIND").as("uind"))
      .orderBy(col("record_id"), col("uind"))
  }

  // ------------------------------------------------------------ cdc3

  /** Log compaction (SURVEY.md §1.4): three change versions per key where
    * the LAST-arriving version (v2) is commit-older than an earlier one —
    * latest-state must rank by the envelope clock (commitNumber,
    * sequenceNumber, replayId), not arrival, and tombstoned keys drop. */
  def materializeLatest(spark: SparkSession, dir: String): DataFrame = {
    val log = t(spark, dir, "customer").select(col("c_custkey").as("k"))
      .withColumn("v", explode(array(lit(0), lit(1), lit(2))))
      .select(
        lit("Customer").as("entityName"),
        concat(lit("001"), col("k").cast(StringType)).as("Id"),
        (col("k") * 100 + when(col("v") === 2, 1).otherwise(2)).as("commitNumber"),
        (col("v") + 1).cast(IntegerType).as("sequenceNumber"),
        (col("k") * 10 + col("v")).as("replayId"),
        when(col("v") === 1,
          when(col("k") % 3 === 0, "DELETE").otherwise("UPDATE"))
          .when(col("v") === 0, "CREATE").otherwise("UPDATE").as("UIND"),
        concat(lit("Cust-"), col("k").cast(StringType), lit("-v"),
          col("v").cast(StringType)).as("name"),
        (col("k") * 10 + col("v")).as("payload_val"))
    CdcMaterialize.latestState(log)
      .select(
        col("Id").as("record_id"), col("UIND").as("uind"),
        col("commitNumber").as("commit_number"),
        col("sequenceNumber").as("sequence_number"),
        col("replayId").as("replay_id"), col("name"), col("payload_val"))
      .orderBy(col("record_id"))
  }

  // ------------------------------------------------------------ cdc9

  /** SCD2 history (`CdcMaterialize.scd2History`) under the gate: the same
    * out-of-order change log as cdc3 (v2 arrives last but is commit-OLDEST)
    * plus an envelope-clock-monotone commitTimestamp. Version intervals
    * must chain on the envelope clock — v2 → v0 → v1 — so valid_to of each
    * version equals valid_from of the clock-next one; tombstones (k%3==0
    * at the clock-latest version) close the chain, leaving those keys with
    * NO current row. Hash-compared against DuckDB's lead() rendering. */
  def scd2History(spark: SparkSession, dir: String): DataFrame = {
    val log = t(spark, dir, "customer").select(col("c_custkey").as("k"))
      .withColumn("v", explode(array(lit(0), lit(1), lit(2))))
      .select(
        lit("Customer").as("entityName"),
        concat(lit("001"), col("k").cast(StringType)).as("Id"),
        (col("k") * 100 + when(col("v") === 2, 1).otherwise(2)).as("commitNumber"),
        (col("v") + 1).cast(IntegerType).as("sequenceNumber"),
        (col("k") * 10 + col("v")).as("replayId"),
        when(col("v") === 1,
          when(col("k") % 3 === 0, "DELETE").otherwise("UPDATE"))
          .when(col("v") === 0, "CREATE").otherwise("UPDATE").as("UIND"),
        concat(lit("Cust-"), col("k").cast(StringType), lit("-v"),
          col("v").cast(StringType)).as("name"))
      .withColumn("commitTimestamp",
        lit(1583300000000L) + col("commitNumber") * 1000 + col("sequenceNumber"))
    CdcMaterialize.scd2History(log)
      .select(
        col("Id").as("record_id"), col("UIND").as("uind"),
        col("valid_from"), col("valid_to"), col("is_current"), col("name"))
      .orderBy(col("record_id"), col("valid_from"))
  }

  val scd2HistorySql: String =
    """WITH src AS (SELECT c_custkey AS k, unnest([0,1,2]) AS v FROM customer),
      |log AS (SELECT '001' || k AS record_id,
      |  k*100 + CASE WHEN v = 2 THEN 1 ELSE 2 END AS commit_number,
      |  CAST(v + 1 AS INT) AS sequence_number, k*10 + v AS replay_id,
      |  CASE WHEN v = 1 THEN (CASE WHEN k % 3 = 0 THEN 'DELETE' ELSE 'UPDATE' END)
      |       WHEN v = 0 THEN 'CREATE' ELSE 'UPDATE' END AS uind,
      |  'Cust-' || k || '-v' || v AS name
      |  FROM src),
      |ts AS (SELECT *, 1583300000000 + commit_number*1000 + sequence_number
      |         AS valid_from FROM log),
      |led AS (SELECT *, lead(valid_from) OVER (PARTITION BY record_id
      |  ORDER BY commit_number, sequence_number, replay_id) AS valid_to FROM ts)
      |SELECT record_id, uind, valid_from, valid_to,
      |  valid_to IS NULL AS is_current, name
      |FROM led WHERE uind <> 'DELETE'
      |ORDER BY record_id, valid_from""".stripMargin

  // ------------------------------------------------------------ cdc5

  /** T8/T11 sink serialization under the gate: the pipeline's own
    * `toJsonLines` (the shape written to the keyed file sink) vs DuckDB
    * building the identical compact JSON text. Null fields are OMITTED by
    * to_json, so tombstones serialize to the reference's narrower
    * `{attributes, Id, UIND}` shape while enriched rows carry the full
    * record — the oracle renders each branch with its own struct.
    * Snapshot columns here are string/int only: JSON double formatting is
    * engine-specific, and the sink contract is exercised by shape, not by
    * float text. */
  def serializeSink(spark: SparkSession, dir: String): DataFrame = {
    val snapshot = t(spark, dir, "customer").select(
      concat(lit("001"), ks).as("Id"),
      col("c_name"), col("c_nationkey"), col("c_mktsegment"))
    // localCheckpoint: two enrich/tombstone branches, one decode (see
    // routeEnrich)
    graft.streaming.CdcPipeline.toJsonLines(
      CdcEnrich(changes(spark, dir).localCheckpoint(), snapshot))
      .select(col("entityName").as("entity_name"), col("value").as("json_line"))
      .orderBy(col("json_line"))
  }

  // ------------------------------------------------------------ cdc6

  /** Q7 multi-entity routing under the gate (`CdcEnrich.multiEntity`):
    * one batch mixes Customer and Supplier envelopes; each entity's
    * changes join its OWN snapshot, branches union by name with nulls for
    * columns the other entity lacks, and tombstones are emitted for both.
    * (The reference's per-event dict could not mix entities —
    * `worker/lambda/app.py:65-72`.) */
  def multiEntityRoute(spark: SparkSession, dir: String): DataFrame = {
    val sk = col("s_suppkey")
    val suppHeader = struct(
      (sk * 10).as("commitNumber"),
      (lit(1)).cast(IntegerType).as("sequenceNumber"),
      lit("Supplier").as("entityName"),
      when(sk % 4 === 0, "CREATE").when(sk % 4 === 1, "UPDATE")
        .when(sk % 4 === 2, "DELETE").otherwise("UNDELETE").as("changeType"),
      (lit(1583300894000L) + sk * 1000).as("commitTimestamp"),
      array(concat(lit("S01"), sk.cast(StringType))).as("recordIds"))
    val suppEnv = struct(
      lit("fp_s1").as("schema"),
      struct(concat(lit("Supp-"), sk.cast(StringType)).as("Name"),
        suppHeader.as("ChangeEventHeader")).as("payload"),
      struct((sk + 20).as("replayId")).as("event"))
    val suppRaw = t(spark, dir, "supplier")
      .select(base64(to_json(suppEnv).cast(BinaryType)).as("data"))
    val custRaw = synthRaw(t(spark, dir, "customer"), lit("fp_v1"), Seq(custName.as("Name")))

    // localCheckpoint: multiEntity consumes the decoded rows THREE times
    // (one enrichment branch per entity + the tombstone branch); without
    // the pin both entities' synth→decode chains ran per branch (r19
    // plan audit: 8 scans → 2 + the snapshots)
    val decoded = CdcDecode.explodeIds(
      CdcDecode.decodeBase64(custRaw.unionByName(suppRaw), col("data")).drop("data"))
      .localCheckpoint()
    val custSnap = t(spark, dir, "customer").select(
      concat(lit("001"), ks).as("Id"), col("c_name"), col("c_mktsegment"))
    val suppSnap = t(spark, dir, "supplier").select(
      concat(lit("S01"), sk.cast(StringType)).as("Id"), col("s_name"))
    CdcEnrich.multiEntity(decoded,
      Map("Customer" -> custSnap, "Supplier" -> suppSnap))
      .select(
        col("attributes.type").as("attr_type"),
        col("Id").as("record_id"),
        col("c_name"), col("c_mktsegment"), col("s_name"),
        col("UIND").as("uind"))
      .orderBy(col("record_id"), col("uind"))
  }

  // ------------------------------------------------------------ cdc4

  /** S10 schema evolution under the gate: two schema fingerprints coexist
    * in one batch (fp_v1 body = {Name}, fp_v2 body = {Name, Tier}); the
    * registry re-types each event with the schema it was WRITTEN with, and
    * v1 rows surface null Tier after the union-by-name. */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val fp = when(k % 2 === 0, "fp_v1").otherwise("fp_v2")
    val tier = when(k % 2 === 1, concat(lit("T"), (k % 3).cast(StringType)))
    val raw = synthRaw(t(spark, dir, "customer"), fp,
      Seq(custName.as("Name"), tier.as("Tier")))
    // localCheckpoint: typedBodyEvolving re-types the batch once per
    // coexisting fingerprint and unions the slices — the decode chain ran
    // once per fingerprint branch without the pin (r19: 3 scans → 1)
    val decoded = CdcDecode.explodeIds(
      CdcDecode.decodeBase64(raw, col("data")).drop("data"))
      .localCheckpoint()
    val registry = new EntitySchemaRegistry
    val v1 = StructType(Seq(StructField("Name", StringType)))
    val v2 = StructType(Seq(
      StructField("Name", StringType), StructField("Tier", StringType)))
    registry.register("Customer", v2)
    registry.register("Customer", "fp_v1", v1)
    registry.register("Customer", "fp_v2", v2)
    CdcDecode.typedBodyEvolving(decoded, "Customer", registry)
      .select(
        col("Id").as("record_id"),
        col("schema_fingerprint"),
        col("body.Name").as("name"),
        col("body.Tier").as("tier"))
      .orderBy(col("record_id"))
  }

  // ------------------------------------------------------------ cdc13

  /** Typed-payload enrichment at entity-schema scale (cdc13): ONE batch
    * mixes two entities whose bodies share field NAMES with different
    * TYPES — Customer {Name: string, Code: bigint, Score: double} vs
    * Supplier {Name: string, Code: string, Score: bigint} — the Q7
    * generalization SURVEY §1.3 warns about (the reference's per-event
    * dict could carry one entity's shape at a time). Each entity's slice
    * re-types through its OWN registered StructType ([[CdcDecode
    * .typedBody]]), and the union surfaces per-entity typed columns. The
    * gate compares column TYPES as well as values, so a slice typed with
    * the wrong schema (a string Code parsed as BIGINT nulls out) fails
    * schema_match — the mix cannot silently collapse to strings. Doubles
    * are exact binary fractions (k/4.0), so the Spark-side JSON round
    * trip and the oracle's direct synthesis meet bit-identically. */
  def typedPayloads(spark: SparkSession, dir: String): DataFrame = {
    val custRaw = synthRaw(t(spark, dir, "customer"), lit("fp_c2"),
      Seq(custName.as("Name"), k.as("Code"),
        (k.cast(DoubleType) / lit(4.0)).as("Score")))
    val sk = col("s_suppkey")
    val suppHeader = struct(
      (sk * 10).as("commitNumber"),
      lit(1).cast(IntegerType).as("sequenceNumber"),
      lit("Supplier").as("entityName"),
      when(sk % 4 === 0, "CREATE").otherwise("UPDATE").as("changeType"),
      (lit(1583300894000L) + sk * 1000).as("commitTimestamp"),
      array(concat(lit("S01"), sk.cast(StringType))).as("recordIds"))
    val suppEnv = struct(
      lit("fp_s2").as("schema"),
      struct(
        concat(lit("Supp-"), sk.cast(StringType)).as("Name"),
        concat(lit("S-"), sk.cast(StringType)).as("Code"),
        (sk * 7).as("Score"),
        suppHeader.as("ChangeEventHeader")).as("payload"),
      struct((sk + 20).as("replayId")).as("event"))
    val suppRaw = t(spark, dir, "supplier")
      .select(base64(to_json(suppEnv).cast(BinaryType)).as("data"))

    // NO localCheckpoint here (r19 verdict item 4): cdc13 got the same
    // decode-once pin as its siblings in r19 but was the one query it
    // made SLOWER in the builder's own same-window battery (0.64 → 0.83 s
    // at sf0.1) — its two typedBody branches are CHEAP consumers (one
    // from_json + casts each over ~3.2k synthesized rows; no explode fan-
    // out, no tombstone union like cdc2/4/5/6/12), so the eager
    // materialization job costs more than the decode it saves. The
    // checkpoint-before-fan-out rule stands only where ≥2 consumers
    // re-run an expensive chain; siblings keep theirs.
    val decoded = CdcDecode.explodeIds(
      CdcDecode.decodeBase64(custRaw.unionByName(suppRaw), col("data")).drop("data"))
    val registry = new EntitySchemaRegistry
    registry.register("Customer", StructType(Seq(
      StructField("Name", StringType), StructField("Code", LongType),
      StructField("Score", DoubleType))))
    registry.register("Supplier", StructType(Seq(
      StructField("Name", StringType), StructField("Code", StringType),
      StructField("Score", LongType))))
    val cust = CdcDecode.typedBody(decoded, "Customer", registry)
      .select(col("entityName").as("entity_name"), col("Id").as("record_id"),
        col("body.Name").as("name"),
        col("body.Code").as("code_num"),
        lit(null).cast(StringType).as("code_str"),
        col("body.Score").as("score_frac"),
        lit(null).cast(LongType).as("score_points"))
    val supp = CdcDecode.typedBody(decoded, "Supplier", registry)
      .select(col("entityName").as("entity_name"), col("Id").as("record_id"),
        col("body.Name").as("name"),
        lit(null).cast(LongType).as("code_num"),
        col("body.Code").as("code_str"),
        lit(null).cast(DoubleType).as("score_frac"),
        col("body.Score").as("score_points"))
    cust.unionByName(supp).orderBy(col("entity_name"), col("record_id"))
  }

  /** Work-equivalent twin (r10 verdict "what's wrong" #1): both entities'
    * envelopes are synthesized, base64-encoded, decoded, and their typed
    * body fields extracted with per-entity CASTS out of the JSON — the
    * same wire round trip + registry re-typing work the Spark side does,
    * instead of synthesizing the final typed values directly. Score
    * doubles are exact binary fractions (k/4.0), so the JSON text round
    * trip stays bit-identical in both engines. */
  val typedPayloadsSql: String =
    """WITH csrc AS (
      |  SELECT c_custkey AS k, 'Cust-' || c_custkey AS name,
      |    CASE CAST(c_custkey % 4 AS INT) WHEN 0 THEN 'CREATE' WHEN 1 THEN 'UPDATE'
      |         WHEN 2 THEN 'DELETE' ELSE 'UNDELETE' END AS change_type,
      |    CASE WHEN c_custkey % 7 = 0 THEN ['001' || c_custkey, '001' || c_custkey]
      |         WHEN c_custkey % 5 = 0 THEN ['001' || c_custkey, '002' || c_custkey]
      |         ELSE ['001' || c_custkey] END AS record_ids,
      |    CASE WHEN c_custkey % 4 = 1 THEN ['c_name','c_acctbal'] ELSE [] END AS changed_fields
      |  FROM customer),
      |cenv AS (
      |  SELECT base64(encode(CAST(to_json({
      |    'schema': 'fp_c2',
      |    'payload': {'Name': name, 'Code': k, 'Score': CAST(k AS DOUBLE) / 4.0,
      |      'ChangeEventHeader': {
      |       'commitNumber': k*10, 'commitUser': 'u' || (k%5),
      |       'sequenceNumber': CAST(1 + k%3 AS INT),
      |       'entityName': 'Customer', 'changeType': change_type,
      |       'changedFields': changed_fields, 'changeOrigin': 'api',
      |       'transactionKey': 'tk-' || k,
      |       'commitTimestamp': 1583300894000 + k*1000, 'recordIds': record_ids
      |    }}, 'event': {'replayId': k + 10}
      |  }) AS VARCHAR))) AS data FROM csrc),
      |cdec AS (SELECT decode(from_base64(data)) AS j FROM cenv),
      |cu AS (
      |  SELECT 'Customer' AS entity_name,
      |    unnest(list_distinct(
      |      CAST(j->'$.payload.ChangeEventHeader.recordIds' AS VARCHAR[]))) AS record_id,
      |    j->>'$.payload.Name' AS name,
      |    CAST(j->'$.payload.Code' AS BIGINT) AS code_num,
      |    CAST(NULL AS VARCHAR) AS code_str,
      |    CAST(j->'$.payload.Score' AS DOUBLE) AS score_frac,
      |    CAST(NULL AS BIGINT) AS score_points
      |  FROM cdec),
      |senv AS (
      |  SELECT base64(encode(CAST(to_json({
      |    'schema': 'fp_s2',
      |    'payload': {'Name': 'Supp-' || s_suppkey, 'Code': 'S-' || s_suppkey,
      |      'Score': s_suppkey * 7,
      |      'ChangeEventHeader': {
      |       'commitNumber': s_suppkey*10, 'sequenceNumber': 1,
      |       'entityName': 'Supplier',
      |       'changeType': CASE WHEN s_suppkey % 4 = 0 THEN 'CREATE' ELSE 'UPDATE' END,
      |       'commitTimestamp': 1583300894000 + s_suppkey*1000,
      |       'recordIds': ['S01' || s_suppkey]}},
      |    'event': {'replayId': s_suppkey + 20}
      |  }) AS VARCHAR))) AS data FROM supplier),
      |sdec AS (SELECT decode(from_base64(data)) AS j FROM senv),
      |su AS (
      |  SELECT 'Supplier' AS entity_name,
      |    unnest(list_distinct(
      |      CAST(j->'$.payload.ChangeEventHeader.recordIds' AS VARCHAR[]))) AS record_id,
      |    j->>'$.payload.Name' AS name,
      |    CAST(NULL AS BIGINT) AS code_num,
      |    j->>'$.payload.Code' AS code_str,
      |    CAST(NULL AS DOUBLE) AS score_frac,
      |    CAST(j->'$.payload.Score' AS BIGINT) AS score_points
      |  FROM sdec)
      |SELECT * FROM cu UNION ALL SELECT * FROM su
      |ORDER BY entity_name, record_id""".stripMargin

  // ------------------------------------------------------------ cdc14

  /** Snapshot differencing (cdc14): CDC generation when the bus is NOT
    * available — the backfill path ([[SnapshotDiff]]). The fixture mutates
    * the customer snapshot deterministically: every k%7==0 row is dropped
    * (DELETE), k%3==0 rows change name and balance (UPDATE with a
    * changed-field list), k%5==0 rows rewrite the segment — which for rows
    * already in that segment writes the SAME value and must emit nothing
    * (the write-without-change case a naive differ gets wrong) — and
    * supplier-derived rows appear fresh (CREATE). The oracle rebuilds both
    * snapshots and diffs them with a DuckDB full-outer join, pinning the
    * classification, the sorted changed-field list, and the old/new value
    * columns bit-exact. */
  def snapshotDiffEvents(spark: SparkSession, dir: String): DataFrame = {
    val v1 = t(spark, dir, "customer").select(
      concat(lit("001"), ks).as("record_id"),
      col("c_name"), col("c_acctbal"), col("c_mktsegment"))
    val mutated = t(spark, dir, "customer").filter(!(k % 7 === 0)).select(
      concat(lit("001"), ks).as("record_id"),
      when(k % 3 === 0, concat(col("c_name"), lit("-r")))
        .otherwise(col("c_name")).as("c_name"),
      when(k % 3 === 0, col("c_acctbal") + lit(10.25))
        .otherwise(col("c_acctbal")).as("c_acctbal"),
      when(k % 5 === 0, lit("MACHINERY"))
        .otherwise(col("c_mktsegment")).as("c_mktsegment"))
    val created = t(spark, dir, "supplier").select(
      concat(lit("009"), col("s_suppkey").cast(StringType)).as("record_id"),
      concat(lit("Acct-"), col("s_suppkey").cast(StringType)).as("c_name"),
      col("s_acctbal").as("c_acctbal"),
      lit("BUILDING").as("c_mktsegment"))
    SnapshotDiff.diff(v1, mutated.unionByName(created), "record_id",
        Seq("c_name", "c_acctbal", "c_mktsegment"))
      .orderBy(col("record_id"))
  }

  val snapshotDiffEventsSql: String =
    """WITH v1 AS (SELECT '001' || c_custkey AS record_id,
      |             c_name, c_acctbal, c_mktsegment FROM customer),
      |v2 AS (
      |  SELECT '001' || c_custkey AS record_id,
      |    CASE WHEN c_custkey % 3 = 0 THEN c_name || '-r' ELSE c_name END AS c_name,
      |    CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 10.25 ELSE c_acctbal END AS c_acctbal,
      |    CASE WHEN c_custkey % 5 = 0 THEN 'MACHINERY' ELSE c_mktsegment END AS c_mktsegment
      |  FROM customer WHERE c_custkey % 7 <> 0
      |  UNION ALL
      |  SELECT '009' || s_suppkey, 'Acct-' || s_suppkey, s_acctbal, 'BUILDING'
      |  FROM supplier),
      |j AS (
      |  SELECT COALESCE(a.record_id, b.record_id) AS record_id,
      |    a.record_id IS NOT NULL AS in_old, b.record_id IS NOT NULL AS in_new,
      |    a.c_acctbal AS old_c_acctbal, b.c_acctbal AS new_c_acctbal,
      |    a.c_mktsegment AS old_c_mktsegment, b.c_mktsegment AS new_c_mktsegment,
      |    a.c_name AS old_c_name, b.c_name AS new_c_name
      |  FROM v1 a FULL OUTER JOIN v2 b ON a.record_id = b.record_id),
      |c AS (
      |  SELECT *, concat_ws(',',
      |      CASE WHEN old_c_acctbal IS DISTINCT FROM new_c_acctbal THEN 'c_acctbal' END,
      |      CASE WHEN old_c_mktsegment IS DISTINCT FROM new_c_mktsegment THEN 'c_mktsegment' END,
      |      CASE WHEN old_c_name IS DISTINCT FROM new_c_name THEN 'c_name' END) AS cf
      |  FROM j)
      |SELECT record_id,
      |  CASE WHEN NOT in_old THEN 'CREATE' WHEN NOT in_new THEN 'DELETE'
      |       WHEN cf <> '' THEN 'UPDATE' END AS change_type,
      |  CASE WHEN in_old AND in_new AND cf <> '' THEN cf ELSE '' END AS changed_fields,
      |  old_c_acctbal, new_c_acctbal, old_c_mktsegment, new_c_mktsegment,
      |  old_c_name, new_c_name
      |FROM c
      |WHERE NOT in_old OR NOT in_new OR cf <> ''
      |ORDER BY record_id""".stripMargin

  // ------------------------------------------------------------ cdc7

  /** As-of enrichment (the temporal upgrade of J1's point-in-time lookup):
    * each change joins the snapshot VERSION in effect at its commit time,
    * not the current state — the operator Spark lacks natively, rendered
    * join-free by [[AsOfJoin.asOfBackward]] (one shuffle) and verified
    * against DuckDB's native ASOF JOIN. Version histories are synthesized
    * 3-deep per customer; k%5 keys shift their history 100 s later so some
    * changes predate every version (the ASOF inner-drop case). */
  def asOfEnrich(spark: SparkSession, dir: String): DataFrame = {
    val base = lit(1583300000000L)
    val vshift = when(k % 5 === 0, 100000L).otherwise(0L)
    val versions = t(spark, dir, "customer")
      .withColumn("v", explode(array(lit(0), lit(1), lit(2))))
      .select(
        concat(lit("001"), ks).as("record_id"),
        (base + k * 1000 + col("v") * 300000 + vshift).as("ts"),
        concat(lit("Cust-"), ks, lit("-v"), col("v").cast(StringType)).as("version_name"))
    val changeLog = t(spark, dir, "customer").select(
      concat(lit("001"), ks).as("record_id"),
      (base + k * 1000 + (k % 4) * 250000).as("ts"),
      changeType.as("change_type"))
    AsOfJoin.asOfBackward(changeLog, versions, Seq("record_id"), "ts")
      .filter(col("version_name").isNotNull)
      .select(col("record_id"), col("ts").as("change_ts"),
        col("change_type"), col("version_name"))
      .orderBy(col("record_id"))
  }

  // ------------------------------------------------------- oracle SQL

  /** Shared oracle prefix: synthesize the identical envelope with DuckDB
    * struct→JSON, base64-encode, then DECODE it back (from_base64 + JSON
    * paths) — the oracle exercises the same wire round trip as Spark.
    * Parameterized on the change-type expression (unique placeholder, not
    * a text fragment, so the substitution cannot hit anything else) so
    * the cdc12 GAP mix reuses the whole chain, mirroring synthRaw's `ct`
    * parameter. */
  private def synthHdrSqlWith(changeTypeSql: String): String = {
    require(synthHdrTemplateSql.contains("__CHANGE_TYPE__"))
    synthHdrTemplateSql.replace("__CHANGE_TYPE__", changeTypeSql)
  }

  private val synthHdrTemplateSql: String =
    """WITH src AS (
      |  SELECT c_custkey AS k, 'Cust-' || c_custkey AS name,
      |    __CHANGE_TYPE__ AS change_type,
      |    CASE WHEN c_custkey % 7 = 0 THEN ['001' || c_custkey, '001' || c_custkey]
      |         WHEN c_custkey % 5 = 0 THEN ['001' || c_custkey, '002' || c_custkey]
      |         ELSE ['001' || c_custkey] END AS record_ids,
      |    CASE WHEN c_custkey % 4 = 1 THEN ['c_name','c_acctbal'] ELSE [] END AS changed_fields
      |  FROM customer),
      |env AS (
      |  SELECT base64(encode(CAST(to_json({
      |    'schema': 'fp_v1',
      |    'payload': {'Name': name, 'ChangeEventHeader': {
      |       'commitNumber': k*10, 'commitUser': 'u' || (k%5),
      |       'sequenceNumber': CAST(1 + k%3 AS INT),
      |       'entityName': 'Customer', 'changeType': change_type,
      |       'changedFields': changed_fields, 'changeOrigin': 'api',
      |       'transactionKey': 'tk-' || k,
      |       'commitTimestamp': 1583300894000 + k*1000, 'recordIds': record_ids
      |    }}, 'event': {'replayId': k + 10}
      |  }) AS VARCHAR))) AS data FROM src),
      |dec AS (SELECT decode(from_base64(data)) AS j FROM env),
      |hdr AS (SELECT
      |   j->>'$.schema' AS schema_fingerprint,
      |   CAST(j->'$.event.replayId' AS BIGINT) AS replay_id,
      |   j->>'$.payload.ChangeEventHeader.entityName' AS entity_name,
      |   j->>'$.payload.ChangeEventHeader.changeType' AS change_type,
      |   CAST(j->'$.payload.ChangeEventHeader.commitNumber' AS BIGINT) AS commit_number,
      |   CAST(j->'$.payload.ChangeEventHeader.sequenceNumber' AS INT) AS sequence_number,
      |   CAST(j->'$.payload.ChangeEventHeader.commitTimestamp' AS BIGINT) AS commit_ts_ms,
      |   j->>'$.payload.ChangeEventHeader.transactionKey' AS transaction_key,
      |   coalesce(array_to_string(
      |     CAST(j->'$.payload.ChangeEventHeader.changedFields' AS VARCHAR[]), ','), '') AS changed_fields,
      |   list_distinct(CAST(j->'$.payload.ChangeEventHeader.recordIds' AS VARCHAR[])) AS record_ids,
      |   j->>'$.payload.Name' AS name
      | FROM dec)""".stripMargin

  private val synthHdrSql: String = synthHdrSqlWith(
    "CASE CAST(c_custkey % 4 AS INT) WHEN 0 THEN 'CREATE' WHEN 1 THEN 'UPDATE' " +
      "WHEN 2 THEN 'DELETE' ELSE 'UNDELETE' END")

  val decodeHeadersSql: String = synthHdrSql +
    """
      |SELECT unnest(record_ids) AS record_id, entity_name, change_type,
      |  commit_number, sequence_number, commit_ts_ms, transaction_key,
      |  replay_id, schema_fingerprint, changed_fields, name
      |FROM hdr ORDER BY record_id, replay_id""".stripMargin

  /** Route+enrich oracle tail, shared by cdc2 (clean mix) and cdc12 (GAP
    * mix) — the router itself must not know which mix it is fed. */
  private val routeEnrichTailSql: String =
    """,
      |chg AS (SELECT unnest(record_ids) AS record_id, change_type FROM hdr),
      |snap AS (SELECT '001' || c_custkey AS record_id, c_name, c_acctbal, c_mktsegment
      |         FROM customer)
      |SELECT 'Customer' AS attr_type, chg.record_id, s.c_name, s.c_acctbal,
      |  s.c_mktsegment, chg.change_type AS uind
      |FROM chg JOIN snap s USING (record_id) WHERE chg.change_type <> 'DELETE'
      |UNION ALL
      |SELECT 'Customer', record_id, CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE),
      |  CAST(NULL AS VARCHAR), 'DELETE'
      |FROM chg WHERE change_type = 'DELETE'
      |ORDER BY record_id, uind""".stripMargin

  val routeEnrichSql: String = synthHdrSql + routeEnrichTailSql

  val gapRouteEnrichSql: String = synthHdrSqlWith(
    "CASE CAST(c_custkey % 7 AS INT) WHEN 0 THEN 'GAP_CREATE' WHEN 1 THEN 'GAP_UPDATE' " +
      "WHEN 2 THEN 'GAP_DELETE' WHEN 3 THEN 'GAP_OVERFLOW' " +
      "WHEN 4 THEN 'GAP_UNDELETE' WHEN 5 THEN 'UNDELETE' ELSE 'DELETE' END") +
    routeEnrichTailSql

  val serializeSinkSql: String = synthHdrSql +
    """,
      |chg AS (SELECT unnest(record_ids) AS record_id, change_type FROM hdr),
      |snap AS (SELECT '001' || c_custkey AS record_id, c_name, c_nationkey, c_mktsegment
      |         FROM customer),
      |enr AS (SELECT 'Customer' AS entity_name,
      |   CAST(to_json({'attributes': {'type': 'Customer'}, 'Id': chg.record_id,
      |     'c_name': s.c_name, 'c_nationkey': s.c_nationkey,
      |     'c_mktsegment': s.c_mktsegment, 'UIND': chg.change_type}) AS VARCHAR) AS json_line
      | FROM chg JOIN snap s USING (record_id) WHERE chg.change_type <> 'DELETE'),
      |tomb AS (SELECT 'Customer' AS entity_name,
      |   CAST(to_json({'attributes': {'type': 'Customer'}, 'Id': record_id,
      |     'UIND': 'DELETE'}) AS VARCHAR) AS json_line
      | FROM chg WHERE change_type = 'DELETE')
      |SELECT * FROM (SELECT * FROM enr UNION ALL SELECT * FROM tomb)
      |ORDER BY json_line""".stripMargin

  val multiEntityRouteSql: String = synthHdrSql +
    """,
      |senv AS (SELECT base64(encode(CAST(to_json({
      |    'schema': 'fp_s1',
      |    'payload': {'Name': 'Supp-' || s_suppkey, 'ChangeEventHeader': {
      |       'commitNumber': s_suppkey*10, 'sequenceNumber': 1,
      |       'entityName': 'Supplier',
      |       'changeType': CASE CAST(s_suppkey % 4 AS INT) WHEN 0 THEN 'CREATE'
      |         WHEN 1 THEN 'UPDATE' WHEN 2 THEN 'DELETE' ELSE 'UNDELETE' END,
      |       'commitTimestamp': 1583300894000 + s_suppkey*1000,
      |       'recordIds': ['S01' || s_suppkey]}},
      |    'event': {'replayId': s_suppkey + 20}}) AS VARCHAR))) AS data FROM supplier),
      |sdec AS (SELECT decode(from_base64(data)) AS j FROM senv),
      |shdr AS (SELECT j->>'$.payload.ChangeEventHeader.changeType' AS change_type,
      |  list_distinct(CAST(j->'$.payload.ChangeEventHeader.recordIds' AS VARCHAR[])) AS record_ids
      |  FROM sdec),
      |cchg AS (SELECT unnest(record_ids) AS record_id, change_type FROM hdr),
      |schg AS (SELECT unnest(record_ids) AS record_id, change_type FROM shdr),
      |csnap AS (SELECT '001' || c_custkey AS record_id, c_name, c_mktsegment FROM customer),
      |ssnap AS (SELECT 'S01' || s_suppkey AS record_id, s_name FROM supplier)
      |SELECT 'Customer' AS attr_type, c.record_id, s.c_name, s.c_mktsegment,
      |  CAST(NULL AS VARCHAR) AS s_name, c.change_type AS uind
      |FROM cchg c JOIN csnap s USING (record_id) WHERE c.change_type <> 'DELETE'
      |UNION ALL
      |SELECT 'Supplier', c.record_id, NULL, NULL, s.s_name, c.change_type
      |FROM schg c JOIN ssnap s USING (record_id) WHERE c.change_type <> 'DELETE'
      |UNION ALL
      |SELECT 'Customer', record_id, NULL, NULL, NULL, 'DELETE'
      |FROM cchg WHERE change_type = 'DELETE'
      |UNION ALL
      |SELECT 'Supplier', record_id, NULL, NULL, NULL, 'DELETE'
      |FROM schg WHERE change_type = 'DELETE'
      |ORDER BY record_id, uind""".stripMargin

  val materializeLatestSql: String =
    """WITH src AS (SELECT c_custkey AS k, unnest([0,1,2]) AS v FROM customer),
      |log AS (SELECT '001' || k AS record_id,
      |  k*100 + CASE WHEN v = 2 THEN 1 ELSE 2 END AS commit_number,
      |  CAST(v + 1 AS INT) AS sequence_number, k*10 + v AS replay_id,
      |  CASE WHEN v = 1 THEN (CASE WHEN k % 3 = 0 THEN 'DELETE' ELSE 'UPDATE' END)
      |       WHEN v = 0 THEN 'CREATE' ELSE 'UPDATE' END AS uind,
      |  'Cust-' || k || '-v' || v AS name, k*10 + v AS payload_val
      |  FROM src),
      |ranked AS (SELECT *, row_number() OVER (PARTITION BY record_id
      |  ORDER BY commit_number DESC, sequence_number DESC, replay_id DESC) AS rn FROM log)
      |SELECT record_id, uind, commit_number, sequence_number, replay_id, name, payload_val
      |FROM ranked WHERE rn = 1 AND uind <> 'DELETE' ORDER BY record_id""".stripMargin

  val schemaEvolutionSql: String =
    """WITH src AS (
      |  SELECT c_custkey AS k, 'Cust-' || c_custkey AS name,
      |    CASE WHEN c_custkey % 2 = 0 THEN 'fp_v1' ELSE 'fp_v2' END AS fp,
      |    CASE WHEN c_custkey % 2 = 1 THEN 'T' || (c_custkey % 3) END AS tier,
      |    CASE WHEN c_custkey % 7 = 0 THEN ['001' || c_custkey, '001' || c_custkey]
      |         WHEN c_custkey % 5 = 0 THEN ['001' || c_custkey, '002' || c_custkey]
      |         ELSE ['001' || c_custkey] END AS record_ids
      |  FROM customer),
      |env AS (
      |  SELECT base64(encode(CAST(to_json({
      |    'schema': fp,
      |    'payload': {'Name': name, 'Tier': tier, 'ChangeEventHeader': {
      |       'recordIds': record_ids}},
      |    'event': {'replayId': k + 10}
      |  }) AS VARCHAR))) AS data FROM src),
      |dec AS (SELECT decode(from_base64(data)) AS j FROM env),
      |hdr AS (SELECT
      |   j->>'$.schema' AS schema_fingerprint,
      |   list_distinct(CAST(j->'$.payload.ChangeEventHeader.recordIds' AS VARCHAR[])) AS record_ids,
      |   j->>'$.payload.Name' AS name,
      |   j->>'$.payload.Tier' AS tier
      | FROM dec)
      |SELECT unnest(record_ids) AS record_id, schema_fingerprint, name, tier
      |FROM hdr ORDER BY record_id""".stripMargin

  val asOfEnrichSql: String =
    """WITH v AS (
      |  SELECT '001' || c_custkey AS record_id,
      |    1583300000000 + c_custkey*1000 + x.v*300000 +
      |      CASE WHEN c_custkey % 5 = 0 THEN 100000 ELSE 0 END AS vts,
      |    'Cust-' || c_custkey || '-v' || x.v AS version_name
      |  FROM customer, (SELECT unnest([0,1,2]) AS v) x),
      |chg AS (
      |  SELECT '001' || c_custkey AS record_id,
      |    1583300000000 + c_custkey*1000 + (c_custkey%4)*250000 AS change_ts,
      |    CASE CAST(c_custkey % 4 AS INT) WHEN 0 THEN 'CREATE' WHEN 1 THEN 'UPDATE'
      |         WHEN 2 THEN 'DELETE' ELSE 'UNDELETE' END AS change_type
      |  FROM customer)
      |SELECT chg.record_id, chg.change_ts, chg.change_type, v.version_name
      |FROM chg ASOF JOIN v ON chg.record_id = v.record_id AND chg.change_ts >= v.vts
      |ORDER BY chg.record_id""".stripMargin

  // ------------------------------------------------------------ cdc10

  /** Replay-continuity audit (cdc10): the consumer-side monitoring query a
    * replayable-bus subscriber runs to DETECT missed replay ranges — the
    * operational companion of S4/S5 offset tracking (the reference
    * recovers by resubscribing from the last stored replayId,
    * `subscriber/.../EmpConnector.java`; this measures what a recovery
    * skipped). Generic over any (entity_name, replay_id) delivery log:
    * per entity in replay order, gap = id − lag(id) − 1; the rollup
    * reports delivered count, id range, gap count, missing total, and the
    * largest contiguous loss.
    *
    * Scale: ONE shuffle on entity_name feeds both the lag window and the
    * rollup; on the real bus the partition key is (entity, shard) and
    * per-shard continuity composes identically. */
  def replayContinuityAudit(delivered: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("entity_name")).orderBy(col("replay_id"))
    val gap = col("replay_id") - lag(col("replay_id"), 1).over(w) - 1
    delivered
      .withColumn("gap", coalesce(gap, lit(0L)))
      .groupBy(col("entity_name"))
      .agg(count(lit(1)).as("n_delivered"),
        min(col("replay_id")).as("first_replay_id"),
        max(col("replay_id")).as("last_replay_id"),
        sum(when(col("gap") > 0, 1L).otherwise(0L)).as("n_gaps"),
        sum(col("gap")).as("missing_total"),
        max(col("gap")).as("max_gap"))
      .orderBy(col("entity_name"))
  }

  /** cdc10 rendering: the delivery log is the decoded synth stream minus
    * every 23rd replayId (deterministic synthetic transport loss — the
    * harness's loss model, like the envelope generator itself; the
    * operator is loss-model agnostic). explodeIds multiplies rows per
    * record id, so the audit first collapses to one row per event. */
  def replayAudit(spark: SparkSession, dir: String): DataFrame =
    replayContinuityAudit(
      changes(spark, dir)
        .filter(col("replayId") % 23 =!= 0)
        .select(col("entityName").as("entity_name"),
          col("replayId").as("replay_id"))
        .distinct())

  /** Work-equivalent twin (r10 verdict "what's wrong" #1): the delivered
    * set comes out of the SAME envelope-synthesis + base64 + JSON decode
    * chain the Spark side runs (synthHdrSql), not straight off customer —
    * so the per-query bench ratio compares equal work. */
  val replayAuditSql: String = synthHdrSql +
    """,
      |d AS (SELECT DISTINCT entity_name, replay_id FROM hdr
      |      WHERE replay_id % 23 <> 0),
      |g AS (SELECT entity_name, replay_id,
      |        COALESCE(replay_id - lag(replay_id)
      |          OVER (PARTITION BY entity_name ORDER BY replay_id) - 1, 0) AS gap
      |      FROM d)
      |SELECT entity_name, CAST(COUNT(*) AS BIGINT) AS n_delivered,
      |  MIN(replay_id) AS first_replay_id, MAX(replay_id) AS last_replay_id,
      |  CAST(SUM(CASE WHEN gap > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
      |  CAST(SUM(gap) AS BIGINT) AS missing_total,
      |  MAX(gap) AS max_gap
      |FROM g GROUP BY 1 ORDER BY entity_name""".stripMargin

  // ------------------------------------------------------------ cdc11

  /** Transaction reassembly (cdc11): group the decoded change stream by
    * `transactionKey` — the envelope field that exists precisely so a
    * consumer can stitch one Salesforce transaction's events back
    * together (reference envelope:
    * `worker/lambda/app.py` ChangeEventHeader.transactionKey) — and emit
    * per-transaction boundaries: event/record counts, entity set, change-
    * type mix, commit-clock span, replay-id range. The atomic-apply
    * building block: a downstream that applies per TRANSACTION (not per
    * event) consumes exactly this rollup joined back to the events.
    *
    * Scale: ONE shuffle on transactionKey with every aggregate map-side
    * combinable (counts, min/max, distinct-set collects bounded by the
    * per-transaction event count — single-digit by construction). The
    * entity/change-type sets are emitted as sorted comma-joined strings:
    * the friendlier sink shape (flat columns survive CSV/JDBC sinks), and
    * scalar cells are what the oracle harness can hash. */
  def txnAssembly(spark: SparkSession, dir: String): DataFrame =
    txnAssemblyOf(changes(spark, dir))

  /** The cdc11 aggregate over ANY decoded change-row frame — the batch
    * fixture above, or the streaming transaction LEDGER state maintained
    * by [[CdcMaterialize.foreachBatchTxnLedger]] (whose per-trigger merge
    * dedupes on the envelope clock, so this rollup is restart-invariant
    * over it; StreamingOpsSpec drives that composition). */
  def txnAssemblyOf(changeRows: DataFrame): DataFrame =
    changeRows
      .groupBy(col("transactionKey").as("transaction_key"))
      .agg(
        countDistinct(col("replayId")).as("n_events"),
        count(lit(1)).as("n_record_changes"),
        array_join(sort_array(collect_set(col("entityName"))), ",").as("entities"),
        array_join(sort_array(collect_set(col("changeType"))), ",").as("change_types"),
        min(col("commitNumber")).as("first_commit"),
        max(col("commitNumber")).as("last_commit"),
        min(col("replayId")).as("first_replay_id"),
        max(col("replayId")).as("last_replay_id"))
      .orderBy(col("transaction_key"))

  /** Work-equivalent twin (r10 verdict "what's wrong" #1): rebuilds and
    * DECODES the cdc1 wire (synthHdrSql) before assembling transactions;
    * n_ids is the decoded record-id list's length (explodeIds' D1 dedupe
    * ≡ the list_distinct inside the shared header decode). */
  val txnAssemblySql: String = synthHdrSql +
    """,
      |chg AS (
      |  SELECT transaction_key, replay_id, entity_name, change_type,
      |    commit_number, len(record_ids) AS n_ids
      |  FROM hdr)
      |SELECT transaction_key,
      |  CAST(COUNT(DISTINCT replay_id) AS BIGINT) AS n_events,
      |  CAST(SUM(n_ids) AS BIGINT) AS n_record_changes,
      |  array_to_string(list_sort(list_distinct(list(entity_name))), ',') AS entities,
      |  array_to_string(list_sort(list_distinct(list(change_type))), ',') AS change_types,
      |  CAST(MIN(commit_number) AS BIGINT) AS first_commit,
      |  CAST(MAX(commit_number) AS BIGINT) AS last_commit,
      |  CAST(MIN(replay_id) AS BIGINT) AS first_replay_id,
      |  CAST(MAX(replay_id) AS BIGINT) AS last_replay_id
      |FROM chg GROUP BY transaction_key
      |ORDER BY transaction_key""".stripMargin

  // ------------------------------------------------------------ cdc15

  /** Wire-level DLQ routing ([[CdcDecode.routeDlq]]) under the oracle
    * gate: the cdc1 wire with per-record corruption injected by key —
    * k%11==3 appends non-alphabet bytes to the base64 text, k%11==5
    * replaces the record with base64 of a non-JSON byte string, k%11==7
    * ships a valid envelope MISSING its ChangeEventHeader. Both engines
    * classify every record (bad_base64 / bad_json / missing_header / ok)
    * and surface whatever fields survive up to the failing stage — a
    * missing-header record still yields its replayId, which is what a
    * consumer resuming past a poison record needs. */
  def dlqRoute(spark: SparkSession, dir: String): DataFrame = {
    val good = wireB64(wireJson(lit("fp_v1"), Seq(custName.as("Name"))).cast(BinaryType))
    val noHeader = wireB64(to_json(struct(
      lit("fp_v1").as("schema"),
      struct(custName.as("Name")).as("payload"),
      struct((k + 10).as("replayId")).as("event"))).cast(BinaryType))
    val data = when(k % 11 === 3, concat(good, lit("!!")))
      .when(k % 11 === 5, wireB64(lit("{\"oops\"").cast(BinaryType)))
      .when(k % 11 === 7, noHeader)
      .otherwise(good)
    val wire = t(spark, dir, "customer").select(k.as("wire_key"), data.as("data"))
    CdcDecode.routeDlq(wire, col("data"))
      .select(col("wire_key"), col("status"), col("entity_name"),
        col("change_type"), col("replay_id"))
      .orderBy(col("wire_key"))
  }

  val dlqRouteSql: String =
    """WITH src AS (
      |  SELECT c_custkey AS k, 'Cust-' || c_custkey AS name,
      |    CASE CAST(c_custkey % 4 AS INT) WHEN 0 THEN 'CREATE' WHEN 1 THEN 'UPDATE' WHEN 2 THEN 'DELETE' ELSE 'UNDELETE' END AS change_type,
      |    CASE WHEN c_custkey % 7 = 0 THEN ['001' || c_custkey, '001' || c_custkey]
      |         WHEN c_custkey % 5 = 0 THEN ['001' || c_custkey, '002' || c_custkey]
      |         ELSE ['001' || c_custkey] END AS record_ids,
      |    CASE WHEN c_custkey % 4 = 1 THEN ['c_name','c_acctbal'] ELSE [] END AS changed_fields
      |  FROM customer),
      |wires AS (
      |  SELECT k,
      |    base64(encode(CAST(to_json({
      |      'schema': 'fp_v1',
      |      'payload': {'Name': name, 'ChangeEventHeader': {
      |         'commitNumber': k*10, 'commitUser': 'u' || (k%5),
      |         'sequenceNumber': CAST(1 + k%3 AS INT),
      |         'entityName': 'Customer', 'changeType': change_type,
      |         'changedFields': changed_fields, 'changeOrigin': 'api',
      |         'transactionKey': 'tk-' || k,
      |         'commitTimestamp': 1583300894000 + k*1000, 'recordIds': record_ids
      |      }}, 'event': {'replayId': k + 10}
      |    }) AS VARCHAR))) AS good,
      |    base64(encode(CAST(to_json({
      |      'schema': 'fp_v1', 'payload': {'Name': name},
      |      'event': {'replayId': k + 10}
      |    }) AS VARCHAR))) AS nohdr
      |  FROM src),
      |wire AS (
      |  SELECT k AS wire_key,
      |    CASE WHEN k % 11 = 3 THEN good || '!!'
      |         WHEN k % 11 = 5 THEN base64(encode('{"oops"'))
      |         WHEN k % 11 = 7 THEN nohdr
      |         ELSE good END AS data
      |  FROM wires),
      |cls AS (
      |  SELECT wire_key, data,
      |    (regexp_full_match(data, '[A-Za-z0-9+/]*={0,2}') AND length(data) % 4 = 0) AS b64ok
      |  FROM wire),
      |dec AS (SELECT wire_key, decode(from_base64(data)) AS s FROM cls WHERE b64ok),
      |jv AS (SELECT wire_key, s, json_valid(s) AS jok FROM dec),
      |fields AS (
      |  SELECT wire_key,
      |    s->>'$.payload.ChangeEventHeader.entityName' AS entity_name,
      |    s->>'$.payload.ChangeEventHeader.changeType' AS change_type,
      |    CAST(s->'$.event.replayId' AS BIGINT) AS replay_id
      |  FROM jv WHERE jok)
      |SELECT c.wire_key,
      |  CASE WHEN NOT c.b64ok THEN 'dlq_bad_base64'
      |       WHEN NOT coalesce(j.jok, false) THEN 'dlq_bad_json'
      |       WHEN f.entity_name IS NULL THEN 'dlq_missing_header'
      |       ELSE 'ok' END AS status,
      |  f.entity_name, f.change_type, f.replay_id
      |FROM cls c
      |LEFT JOIN jv j USING (wire_key)
      |LEFT JOIN fields f USING (wire_key)
      |ORDER BY wire_key""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc15_dlq_route" -> dlqRoute,
    "cdc14_snapshot_diff" -> snapshotDiffEvents,
    "cdc13_typed_payloads" -> typedPayloads,
    "cdc12_gap_route" -> gapRouteEnrich,
    "cdc11_txn_assembly" -> txnAssembly,
    "cdc10_replay_audit" -> replayAudit,
    "cdc1_decode" -> decodeHeaders,
    "cdc2_route_enrich" -> routeEnrich,
    "cdc3_materialize" -> materializeLatest,
    "cdc4_schema_evolution" -> schemaEvolution,
    "cdc5_serialize_sink" -> serializeSink,
    "cdc6_multi_entity" -> multiEntityRoute,
    "cdc7_asof_enrich" -> asOfEnrich,
    "cdc8_batch_replay" -> batchReplayDecode,
    "cdc9_scd2_history" -> scd2History)

  val oracle: Map[String, String] = Map(
    "cdc15_dlq_route" -> dlqRouteSql,
    "cdc14_snapshot_diff" -> snapshotDiffEventsSql,
    "cdc13_typed_payloads" -> typedPayloadsSql,
    "cdc12_gap_route" -> gapRouteEnrichSql,
    "cdc11_txn_assembly" -> txnAssemblySql,
    "cdc10_replay_audit" -> replayAuditSql,
    "cdc1_decode" -> decodeHeadersSql,
    "cdc2_route_enrich" -> routeEnrichSql,
    "cdc3_materialize" -> materializeLatestSql,
    "cdc4_schema_evolution" -> schemaEvolutionSql,
    "cdc5_serialize_sink" -> serializeSinkSql,
    "cdc6_multi_entity" -> multiEntityRouteSql,
    "cdc7_asof_enrich" -> asOfEnrichSql,
    // same oracle as cdc1: the batch-scan path must not change one byte
    "cdc8_batch_replay" -> decodeHeadersSql,
    "cdc9_scd2_history" -> scd2HistorySql)
}
