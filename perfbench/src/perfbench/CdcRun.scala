package perfbench

import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, from_json, lit, sum, when, xxhash64}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryListener, Trigger}
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryIdleEvent, QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.apache.spark.sql.types.{DecimalType, StringType, StructType}

import graft.operators.CdcDecode
import graft.streaming.CdcPipeline

/** One committed micro-batch as the listener saw it: replayIds in
  * (start, end], committed at `commitMs`. */
final case class Batch(batchId: Long, start: Long, end: Long, rows: Long,
    commitMs: Long, durations: Map[String, Long])

/** Collects the progress of one named streaming query. */
final class ProgressLog(queryName: String) extends StreamingQueryListener {
  private val q = new ConcurrentLinkedQueue[Batch]()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.name == queryName && p.sources.nonEmpty) {
      val s = p.sources.head
      def off(o: String): Long = Option(o).map(_.trim).filter(_.nonEmpty).map(_.toLong).getOrElse(0L)
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      q.add(Batch(p.batchId, off(s.startOffset), off(s.endOffset), p.numInputRows,
        Instant.parse(p.timestamp).toEpochMilli + d.getOrElse("triggerExecution", 0L), d))
    }
  }
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  /** Batches that consumed events, in commit order. */
  def batches: Seq[Batch] = q.asScala.toSeq.filter(b => b.end > b.start).sortBy(_.batchId)
}

/** Pieces of the CDC workload: the production writer (or its
  * traced equivalent), the output check and the per-layer replay. */
object CdcRun {
  val Config: CdcPipeline.Config = CdcPipeline.Config()

  def source(spark: SparkSession, topic: String, batchSize: Long): DataFrame =
    spark.readStream.format("cdc-replay")
      .option("topic", topic).option("replayFrom", "-2")
      .option("batchSize", batchSize.toString).load()

  /** The production exactly-once two-sink writer. Traced, the same
    * per-batch function runs inside a span and its `betweenSinks` hook
    * splits the record sink's time from the DLQ sink's. */
  def writer(raw: DataFrame, snapshot: DataFrame, out: String, trace: Trace,
             calls: ConcurrentLinkedQueue[Long]): DataStreamWriter[Row] =
    if (!trace.on) CdcPipeline.writerExactlyOnce(raw, snapshot, out, s"$out/_checkpoint", Config)
    else
      raw.writeStream
        .option("checkpointLocation", s"$out/_checkpoint")
        .trigger(Trigger.ProcessingTime(s"${Config.intervalSecs} seconds"))
        .foreachBatch { (batch: DataFrame, id: Long) =>
          calls.add(id)
          trace.span("streaming.batch", id.toString) {
            val t0 = System.nanoTime()
            var mid = 0L
            CdcPipeline.writeBatchExactlyOnce(snapshot, out, Config,
              betweenSinks = _ => mid = System.nanoTime())(batch, id)
            val t1 = System.nanoTime()
            trace.record("streaming.record_sink", id.toString, t0, mid)
            trace.record("streaming.dlq_sink", id.toString, mid, t1)
          }
        }

  /** Reads the sinks of every output directory in `outs` back and checks
    * each committed batch against what the generator offered. The batches
    * of each output must tile the offered replayIds once, and per batch:
    * change rows + dead letters = rows sunk + enrichment misses + dead
    * letters sunk; the sunk rows match the expected (type, Id, UIND, Name)
    * rows in count and content hash, so a duplicate (an exactly-once
    * failure) or a lost or altered row fails the batch; every dead letter
    * is `dlq_bad_json`. Returns the number of events that broke a check,
    * each counted once per output. */
  def reconcile(spark: SparkSession, load: CdcLoad, outs: Seq[(String, Seq[Batch])],
                offered: Int): (Long, Seq[(String, String)]) = {
    import spark.implicits._
    def hash(cols: Seq[String]) = sum(xxhash64(cols.map(col): _*).cast(DecimalType(20, 0)))
    def readAll(sub: String, schema: StructType): Option[DataFrame] =
      outs.zipWithIndex.map { case ((out, _), k) => (s"$out/$sub", k) }
        .filter(p => Files.exists(Paths.get(p._1)))
        .map { case (path, k) => spark.read.schema(schema).json(path).withColumn("run", lit(k)) }
        .reduceOption(_ unionByName _)
    def byBatch(df: DataFrame, aggs: Column*): Map[(Int, Long), Row] =
      df.groupBy(col("run"), col("batch_id").cast("long").as("b")).agg(aggs.head, aggs.tail: _*)
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r).toMap
    val record = new StructType().add("attributes", new StructType().add("type", StringType))
      .add("Id", StringType).add("Name", StringType).add("UIND", StringType)
    val sunk = readAll(Config.outputPrefix, new StructType().add("value", StringType))
      .map(df => byBatch(df.select(col("run"), col("batch_id"), from_json(col("value"), record).as("r"))
        .select(col("run"), col("batch_id"), col("r.attributes.type").as("t"), col("r.Id").as("i"),
          col("r.UIND").as("u"), col("r.Name").as("n")),
        count(lit(1)), hash(Seq("t", "i", "u", "n")))).getOrElse(Map.empty)
    val dead = readAll("dlq", new StructType().add("reason", StringType).add("raw", StringType))
      .map(df => byBatch(df, count(lit(1)), sum(when(col("reason") === "dlq_bad_json", 1).otherwise(0))))
      .getOrElse(Map.empty)
    // expected rows and hash once per distinct replayId range
    val ranges = outs.flatMap(_._2.map(b => (b.start, math.min(b.end, offered.toLong)))).distinct
    val expected: Map[(Long, Long), Row] = ranges.zipWithIndex
      .flatMap { case ((from, until), k) =>
        (from.toInt until until.toInt).flatMap(load.records).map(r =>
          (k, r._1, r._2, r._3, Option(r._4).filter(_.nonEmpty).orNull))
      }.toDF("k", "t", "i", "u", "n")
      .groupBy("k").agg(count(lit(1)), hash(Seq("t", "i", "u", "n"))).collect()
      .map(r => ranges(r.getInt(0)) -> r).toMap
    var failed = 0L
    var checked = 0L
    outs.zipWithIndex.foreach { case ((_, batches), k) =>
      val covered = new Array[Int](offered)
      batches.foreach { b =>
        val range = b.start.toInt until math.min(b.end, offered.toLong).toInt
        range.foreach(i => covered(i) += 1)
        val got = sunk.get((k, b.batchId))
        val want = expected.get((b.start, math.min(b.end, offered.toLong)))
        val rows = got.map(_.getLong(2)).getOrElse(0L)
        val letters = range.count(load.malformed).toLong
        val (dlqRows, badJson) = dead.get((k, b.batchId))
          .map(r => (r.getLong(2), r.getLong(3))).getOrElse((0L, 0L))
        val balanced = range.map(load.changeRows).sum + letters ==
          rows + range.map(load.misses).sum + dlqRows
        val same = got.map(_.get(3)) == want.map(_.get(2)) && rows == want.map(_.getLong(1)).getOrElse(0L)
        if (!balanced || !same || badJson != letters || b.end > offered) failed += range.size
        checked += range.size
      }
      failed += covered.count(_ != 1)
    }
    (failed, Seq("events_checked" -> checked.toString,
      "batches_checked" -> outs.map(_._2.size).sum.toString,
      "rows_sunk" -> sunk.values.map(_.getLong(2)).sum.toString,
      "dlq_rows" -> dead.values.map(_.getLong(2)).sum.toString))
  }

  /** Files and bytes the two sinks hold. */
  def sinkSize(out: String): (Long, Long) = {
    val files = Seq(s"$out/${Config.outputPrefix}", s"$out/dlq").map(Paths.get(_))
      .filter(Files.exists(_))
      .flatMap(p => Files.walk(p).iterator().asScala.toSeq)
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
    (files.size.toLong, files.map(Files.size).sum)
  }

  /** Replays committed batch ranges through the batch `cdc-replay` read and
    * the operators the writer calls, timing each step and counting rows at
    * each operator. Runs only in the traced run, after the stream stopped. */
  def layerReplay(spark: SparkSession, topic: String, snapshot: DataFrame,
                  batches: Seq[Batch], trace: Trace): Seq[Metric] = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def timed(name: String, key: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      trace.span(name, key)(body)
      (System.nanoTime() - t0) / 1e6
    }
    val rows = batches.map { b =>
      val key = b.batchId.toString
      val raw = spark.read.format("cdc-replay").option("topic", topic)
        .option("replayFrom", b.start.toString).option("replayUntil", b.end.toString).load()
      val readMs = timed("sources.range_read", key)(noop(raw))
      val decodeObs = Observation(s"decode-$key")
      val decodeMs = timed("operators.decode", key)(noop(
        CdcDecode.explodeIds(CdcDecode.decodeJson(raw, col("value")))
          .observe(decodeObs, count(lit(1)).as("changes"))))
      val inObs = Observation(s"in-$key")
      val outObs = Observation(s"out-$key")
      val dlqObs = Observation(s"dlq-$key")
      val (routed, dlq) = CdcPipeline.transformWithDlq(
        raw.observe(inObs, count(lit(1)).as("envelopes")), snapshot)
      val routeMs = timed("operators.route", key) {
        noop(CdcPipeline.toJsonLines(routed.observe(outObs,
          sum(when(col("UIND") === "DELETE", 1).otherwise(0)).as("tombstones"),
          sum(when(col("UIND") =!= "DELETE", 1).otherwise(0)).as("hits"))))
        noop(dlq.observe(dlqObs, count(lit(1)).as("dlq")))
      }
      def get(o: Observation, k: String): Long =
        Option(o.get(k)).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
      val changes = get(decodeObs, "changes")
      val tomb = get(outObs, "tombstones")
      val hits = get(outObs, "hits")
      (readMs, decodeMs, routeMs, get(inObs, "envelopes"), changes, tomb, hits,
        changes - tomb - hits, get(dlqObs, "dlq"))
    }
    val hits = rows.map(_._7).sum.toDouble
    val misses = rows.map(_._8).sum.toDouble
    Seq(
      Metric("sources.range_read_ms", "ms", Stats.median(rows.map(_._1))),
      Metric("operators.decode_ms", "ms", Stats.median(rows.map(_._2))),
      Metric("operators.route_ms", "ms", Stats.median(rows.map(_._3))),
      Metric("operators.envelopes", "count", rows.map(_._4).sum.toDouble),
      Metric("operators.change_rows", "count", rows.map(_._5).sum.toDouble),
      Metric("operators.tombstones", "count", rows.map(_._6).sum.toDouble),
      Metric("operators.enrich_hits", "count", hits),
      Metric("operators.enrich_misses", "count", misses),
      Metric("operators.enrich_hit_ratio", "ratio", if (hits + misses > 0) hits / (hits + misses) else 0.0),
      Metric("operators.dlq_rows", "count", rows.map(_._9).sum.toDouble))
  }

  /** Per-layer streaming metrics from the listener and the traced writer;
    * `retried` counts writer calls that repeated a batch id. */
  def streamingMetrics(batches: Seq[Batch], trace: Trace, retried: Int,
                       sink: (Long, Long)): Seq[Metric] = {
    def ms(k: String) = batches.map(_.durations.getOrElse(k, 0L).toDouble)
    def p50(k: String) = Stats.median(ms(k))
    Seq(
      Metric("streaming.batches", "count", batches.size.toDouble),
      Metric("streaming.trigger_ms_p50", "ms", p50("triggerExecution")),
      Metric("streaming.query_planning_ms_p50", "ms", p50("queryPlanning")),
      Metric("streaming.wal_commit_ms_p50", "ms", p50("walCommit")),
      Metric("streaming.commit_offsets_ms_p50", "ms", p50("commitOffsets")),
      Metric("streaming.record_sink_ms_p50", "ms", Stats.median(trace.durationsMs("streaming.record_sink"))),
      Metric("streaming.dlq_sink_ms_p50", "ms", Stats.median(trace.durationsMs("streaming.dlq_sink"))),
      Metric("streaming.sink_files", "count", sink._1.toDouble),
      Metric("streaming.sink_bytes", "bytes", sink._2.toDouble),
      Metric("streaming.batches_retried", "count", retried.toDouble))
  }
}
