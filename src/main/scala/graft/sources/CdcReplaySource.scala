package graft.sources

import java.util

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Replayable CDC-bus source — the Spark-native rendering of the
  * reference's EmpConnector subscription model (SURVEY.md §2.1 S1-S5):
  *
  *  - the bus ([[ReplayBus]]) holds per-topic events keyed by a monotone
  *    `replayId`, like the CometD event bus with its replay extension
  *    (`/root/reference/subscriber/.../ReplayExtension.java:39-82`);
  *  - `replayFrom = -2` (earliest) / `-1` (tip) / explicit id mirror the
  *    sentinels at `EmpConnector.java:103-104` (S2/S3);
  *  - offset tracking + resubscribe-on-reconnect (S4/S5,
  *    `EmpConnector.java:286-299`) are Structured Streaming's checkpointed
  *    offset WAL: on restart with a checkpoint, the WAL wins over
  *    `replayFrom`, exactly like the reference re-sends its replay map;
  *  - `batchSize` caps events per micro-batch (B1/B3 rate semantics,
  *    `worker/template.yaml:59,68`).
  *
  * Schema: (replayId LONG, value STRING) — `value` is the CDC envelope
  * JSON, fed to CdcPipeline.transform. In production the bus would be the
  * actual transport client; the contract (monotone offsets, range reads,
  * commit) is identical.
  */
object ReplayBus {
  final case class BusEvent(replayId: Long, value: String)

  private val topics = new util.concurrent.ConcurrentHashMap[String, ArrayBuffer[BusEvent]]()

  private def buf(topic: String): ArrayBuffer[BusEvent] =
    topics.computeIfAbsent(topic, _ => ArrayBuffer.empty)

  /** Publish one event; returns its replayId (monotone per topic). */
  def publish(topic: String, value: String): Long = {
    val b = buf(topic)
    b.synchronized {
      val id = b.lastOption.map(_.replayId + 1).getOrElse(1L)
      b += BusEvent(id, value)
      id
    }
  }

  def tip(topic: String): Long = {
    val b = buf(topic)
    b.synchronized(b.lastOption.map(_.replayId).getOrElse(0L))
  }

  /** Events with replayId in (from, to]. ReplayIds ascend with the buffer
    * index (`publish` appends last + 1), so both ends are binary-searched
    * and only the slice between them is copied under the lock. */
  def range(topic: String, from: Long, to: Long): Seq[BusEvent] = {
    val b = buf(topic)
    b.synchronized {
      // index of the first event whose replayId is > id
      def after(id: Long): Int = {
        var lo = 0
        var hi = b.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (b(mid).replayId <= id) lo = mid + 1 else hi = mid
        }
        lo
      }
      b.view.slice(after(from), after(to)).toVector
    }
  }

  def clear(topic: String): Unit = {
    val b = buf(topic)
    b.synchronized(b.clear())
  }

  val ReplayFromEarliest: Long = -2L
  val ReplayFromTip: Long = -1L
}

class CdcReplaySourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "cdc-replay"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CdcReplayTable.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new CdcReplayTable(new CaseInsensitiveStringMap(properties))
}

object CdcReplayTable {
  val schema: StructType = StructType(Seq(
    StructField("replayId", LongType, nullable = false),
    StructField("value", StringType, nullable = false)))

  /** T10 topic normalization (`EmpConnector.java:192,254-256`,
    * `ReplayExtension.java:94-96`): strip the query string and a trailing
    * slash, so `/data/ChangeEvents/?x=1` and `/data/ChangeEvents` address
    * the same replay stream (and the same offset bookkeeping). Ordering
    * divergence, documented like Q1: the reference strips the slash
    * BEFORE the query, so `/t/?x` keys its replay map under `/t/` —
    * a second decoration of the same stream; we canonicalize fully. */
  def normalizeTopic(raw: String): String = {
    // limit=2 keeps a leading empty segment ("?x".split -> Array("")) and
    // /+$ strips ALL trailing slashes — one decorated form, one stream
    val t = raw.split("\\?", 2)(0).replaceAll("/+$", "")
    require(t.nonEmpty, s"topic '$raw' normalizes to an empty stream name")
    t
  }
}

class CdcReplayTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {

  private val topic = CdcReplayTable.normalizeTopic(
    options.getOrDefault("topic", "/data/ChangeEvents"))

  override def name(): String = s"cdc-replay:$topic"
  override def schema(): StructType = CdcReplayTable.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = CdcReplayTable.schema
        /** Batch/backfill read over a replayId range — the reference's
          * retention-window reprocessing (its bus keeps 24 h of events
          * precisely so a consumer can re-read a range,
          * `subscriber/cloudformation/subscriber.yaml:39`). Defaults read
          * everything up to the tip observed at planning time. */
        override def toBatch: Batch =
          new CdcReplayBatch(
            topic,
            opts.getLong("replayFrom", ReplayBus.ReplayFromEarliest),
            opts.getLong("replayUntil", ReplayBus.ReplayFromTip),
            opts.getInt("numShards", CdcReplaySharding.DefaultShards))
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new CdcReplayMicroBatchStream(
            topic,
            opts.getLong("replayFrom", ReplayBus.ReplayFromEarliest),
            opts.getLong("batchSize", Long.MaxValue),
            opts.getInt("numShards", CdcReplaySharding.DefaultShards))
      }
    }
}

/** Range sharding shared by the batch and micro-batch scans: split
  * (from, until] into at most `numShards` contiguous replayId sub-ranges,
  * mirroring the reference's per-shard Kinesis parallelism (shard count at
  * `subscriber/cloudformation/subscriber.yaml:10-13`). Ordering contract =
  * Kinesis's: replayIds are ascending WITHIN a partition; there is no
  * cross-partition order (downstream stages that need one sort, as the CDC
  * materializer already does). Without this, every decode of a trigger
  * landed on ONE task until the first exchange — invisible at local[32]
  * with small batches, the ingest bottleneck on a cluster. */
object CdcReplaySharding {
  val DefaultShards: Int = 4

  def plan(topic: String, from: Long, until: Long, numShards: Int): Array[InputPartition] = {
    val range = until - from
    if (range <= 0L) Array.empty
    else {
      val n = math.max(1L, math.min(numShards.toLong, range)).toInt
      Array.tabulate(n) { i =>
        CdcReplayPartition(topic, from + range * i / n, from + range * (i + 1) / n)
      }
    }
  }
}

/** One reader per contiguous replayId sub-range. */
class CdcReplayReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val cp = p.asInstanceOf[CdcReplayPartition]
    val events = ReplayBus.range(cp.topic, cp.from, cp.until).iterator
    new PartitionReader[InternalRow] {
      private var cur: ReplayBus.BusEvent = _
      override def next(): Boolean =
        if (events.hasNext) { cur = events.next(); true } else false
      override def get(): InternalRow =
        InternalRow(cur.replayId, UTF8String.fromString(cur.value))
      override def close(): Unit = ()
    }
  }
}

/** Batch scan of a published replayId range: (replayFrom, replayUntil],
  * with the -2/-1 sentinels meaning earliest/tip (resolved at planning
  * time). Backfill path for reprocessing retained bus history. */
class CdcReplayBatch(topic: String, replayFrom: Long, replayUntil: Long, numShards: Int)
    extends Batch {

  override def planInputPartitions(): Array[InputPartition] = {
    val from = replayFrom match {
      case ReplayBus.ReplayFromEarliest => 0L
      case ReplayBus.ReplayFromTip => ReplayBus.tip(topic)
      case id => id
    }
    val until =
      if (replayUntil < 0L) ReplayBus.tip(topic) else replayUntil
    CdcReplaySharding.plan(topic, from, until, numShards)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CdcReplayReaderFactory
}

/** Offset = last consumed replayId (the reference's per-topic replay map
  * entry, `EmpConnector.java:112`). */
case class ReplayOffset(replayId: Long) extends Offset {
  override def json(): String = replayId.toString
}

class CdcReplayMicroBatchStream(
    topic: String, replayFrom: Long, batchSize: Long,
    numShards: Int = CdcReplaySharding.DefaultShards)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  /** Trigger.AvailableNow pins the tip at query start; batches then step
    * toward it under the batchSize cap (without this, the engine would
    * snapshot the FIRST capped offset as the final target and stop after
    * one batch). */
  @volatile private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(ReplayBus.tip(topic))

  /** Used only when no checkpoint exists — afterwards the WAL resumes,
    * mirroring the reference's resubscribe-with-saved-offsets (S5). */
  override def initialOffset(): Offset = replayFrom match {
    case ReplayBus.ReplayFromEarliest => ReplayOffset(0L)
    case ReplayBus.ReplayFromTip => ReplayOffset(ReplayBus.tip(topic))
    case id => ReplayOffset(id)
  }

  /** Admission control: one micro-batch admits at most `batchSize` events
    * (B1/B3) — the engine records exactly this offset in the WAL, so capped
    * events are never skipped, just deferred to the next trigger. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[ReplayOffset].replayId
    val tip = availableNowTarget.getOrElse(ReplayBus.tip(topic))
    // saturating add: from + MaxValue would overflow into a bogus negative
    // offset that differs from `start` on every poll (= infinite batches)
    val cap = from + batchSize
    ReplayOffset(math.min(tip, if (cap < from) Long.MaxValue else cap))
  }

  override def getDefaultReadLimit: ReadLimit =
    if (batchSize == Long.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxRows(batchSize)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is used (SupportsAdmissionControl)")

  override def deserializeOffset(json: String): Offset = ReplayOffset(json.toLong)

  /** Sharded: one micro-batch fans out over up to `numShards` contiguous
    * replayId sub-ranges (see [[CdcReplaySharding]]), so decode work is
    * parallel from the source instead of serialized on one task. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    CdcReplaySharding.plan(
      topic,
      start.asInstanceOf[ReplayOffset].replayId,
      end.asInstanceOf[ReplayOffset].replayId,
      numShards)

  override def createReaderFactory(): PartitionReaderFactory =
    new CdcReplayReaderFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class CdcReplayPartition(topic: String, from: Long, until: Long)
    extends InputPartition
