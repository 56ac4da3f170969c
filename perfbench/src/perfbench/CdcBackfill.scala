package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.BenchListenerBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.sources.ReplayBus

/** `cdc_backfill`: the production exactly-once two-sink writer under
  * `Trigger.AvailableNow` with a 50k batch cap drains a pre-published
  * retained history from earliest, again and again for the run length;
  * each drain is a fresh query with its own checkpoint and sinks. */
object CdcBackfill {
  val Backlog = 100000
  val BatchSize = 50000L
  private val CommitBase = 1600000000000L

  def run(spark: SparkSession, seed: Long, seconds: Double, trace: Trace, dir: String,
          sessionS: Double): Result = {
    val snapshot = CdcLoad.snapshot(spark)
    val load = new CdcLoad(seed, Backlog)
    val jsons = Array.tabulate(Backlog)(i => load.json(i, CommitBase + i))
    val topic = "backfill"
    // set-up: the backlog is published three times, each publication timed
    // per event for the sources layer; the median publication is reported
    val publishUs = new Array[Double](3 * Backlog)
    val setupS = sessionS + Stats.median((0 until 3).map { r =>
      ReplayBus.clear(topic)
      val t0 = System.nanoTime()
      var i = 0
      while (i < Backlog) {
        val p0 = System.nanoTime()
        ReplayBus.publish(topic, jsons(i))
        publishUs(r * Backlog + i) = (System.nanoTime() - p0) / 1e3
        i += 1
      }
      (System.nanoTime() - t0) / 1e9
    })
    // two untimed drains first: the JIT is still compiling through them
    val warmupS = (0 until 2).map(w =>
      drain(spark, topic, snapshot, s"$dir/warmup-$w", s"warmup-$w", new Trace(false)).wallS)

    val t0 = System.nanoTime()
    val drains = scala.collection.mutable.ArrayBuffer.empty[Drain]
    while (drains.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds)
      drains += drain(spark, topic, snapshot, s"$dir/out-${drains.size}", s"drain-${drains.size}", trace)
    val r0 = System.nanoTime()
    val (failed, recon) = CdcRun.reconcile(spark, load, drains.map(d => d.out -> d.batches).toSeq, Backlog)
    val reconcileS = (System.nanoTime() - r0) / 1e9
    val last = drains.last
    // each drain's landing percentile, then the median over drains: pooled,
    // the ranks fall on batch boundaries and pick one drain's extreme
    def landing(p: Double) = Stats.median(drains.map(d => Stats.pct(d.landingMs, p)).toSeq)
    val layers =
      if (!trace.on) Nil
      else CdcRun.streamingMetrics(drains.flatMap(_.batches).toSeq, trace,
        drains.map(d => d.calls.size - d.calls.distinct.size).sum, CdcRun.sinkSize(last.out)) ++
        Seq(Metric("sources.publish_us_p50", "us", Stats.median(publishUs.toSeq))) ++
        CdcRun.layerReplay(spark, topic, snapshot, last.batches, trace)
    Result(
      attempted = Backlog.toLong * drains.size,
      failed = failed,
      metrics = Seq(
        Metric("latency_p50_ms", "ms", landing(0.5)),
        Metric("latency_p90_ms", "ms", landing(0.9)),
        Metric("throughput_per_s", "1/s", Backlog / Stats.median(drains.map(_.wallS).toSeq)),
        Metric("setup_s", "s", setupS)) ++ layers,
      details = Seq(
        "backlog_events" -> Backlog.toString,
        "batch_size" -> BatchSize.toString,
        "drains" -> drains.size.toString,
        "drain_s" -> drains.map(d => Json.num(d.wallS)).mkString("[", ",", "]"),
        "warmup_drain_s" -> warmupS.map(Json.num).mkString("[", ",", "]"),
        "reconcile_s" -> Json.num(reconcileS),
        "reconcile" -> Json.obj(recon)))
  }

  /** One drain: its wall seconds, each event's landing time after the drain
    * started, the committed batches, the output directory and the batch
    * ids the traced writer was called with. */
  final case class Drain(wallS: Double, landingMs: Seq[Double], batches: Seq[Batch], out: String,
      calls: Seq[Long])

  def drain(spark: SparkSession, topic: String, snapshot: org.apache.spark.sql.DataFrame,
            out: String, name: String, trace: Trace): Drain = {
    val log = new ProgressLog(name)
    spark.streams.addListener(log)
    val calls = new ConcurrentLinkedQueue[Long]
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val q = trace.span("cdc_backfill.drain", name) {
      val q = CdcRun.writer(CdcRun.source(spark, topic, BatchSize), snapshot, out, trace, calls)
        .trigger(Trigger.AvailableNow()).queryName(name).start()
      q.awaitTermination()
      q
    }
    val wall = (System.nanoTime() - t0) / 1e9
    q.exception.foreach(e => throw e)
    BenchListenerBus.drain(spark.sparkContext)
    spark.streams.removeListener(log)
    val batches = log.batches
    val landing = batches.flatMap(b => Seq.fill((b.end - b.start).toInt)((b.commitMs - startMs).toDouble))
    Drain(wall, landing, batches, out, calls.asScala.toSeq)
  }
}
