package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.TestListenerBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.ReplayBus
import graft.streaming.CdcPipeline

/** The two `foreachBatch` writers read each micro-batch once and sink
  * exactly what `transformWithDlq` computes for it. */
class CdcStagingSpec extends SparkSpec {
  import spark.implicits._

  private def env(id: Long, ct: String, rids: String*): String =
    s"""{"schema":"fp","payload":{"ChangeEventHeader":{"commitNumber":1,""" +
      s""""commitUser":"u","sequenceNumber":1,"entityName":"Account",""" +
      s""""changeType":"$ct","changedFields":[],"changeOrigin":"t",""" +
      s""""transactionKey":"tk","commitTimestamp":1583300894000,""" +
      s""""recordIds":[${rids.map(r => s""""$r"""").mkString(",")}]}},""" +
      s""""event":{"replayId":$id}}"""

  private def publish(topic: String, values: Seq[String]): DataFrame = {
    ReplayBus.clear(topic)
    values.foreach(ReplayBus.publish(topic, _))
    spark.read.format("cdc-replay").option("topic", topic).load()
  }

  /** Rows read by the distinct source scans of every query `run` executes,
    * counting a scan inside a cached plan once however often the cache is
    * read. */
  private def scannedRows(run: => Unit): Long = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    TestListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      run
      TestListenerBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val scans = new java.util.IdentityHashMap[BatchScanExec, Unit]()
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
      case b: BatchScanExec => scans.put(b, ())
      case other => (other.children ++ other.subqueries).foreach(walk)
    }
    plans.asScala.foreach(walk)
    assert(!scans.isEmpty, "no source scan seen")
    scans.keySet.asScala.toSeq.map(_.metrics("numOutputRows").value).sum
  }

  test("each foreachBatch writer scans its micro-batch once for both sinks") {
    val n = 2000
    val batch = publish("t_stage_scans", (1 to n).map { i =>
      if (i % 100 == 0) """{"oops""" else env(i, if (i % 5 == 0) "DELETE" else "UPDATE", f"001$i%05d")
    })
    val snapshot = (1 to n).map(i => (f"001$i%05d", s"n$i")).toDF("Id", "Name")
    val writers = Seq(
      "writeBatchExactlyOnce" -> CdcPipeline.writeBatchExactlyOnce(
        snapshot, Files.createTempDirectory("stage_eo").toString) _,
      "writeBatchWithDlq" -> CdcPipeline.writeBatchWithDlq(
        snapshot, Files.createTempDirectory("stage_dlq").toString) _)
    writers.foreach { case (name, write) =>
      val persisted = spark.sparkContext.getPersistentRDDs.size
      assert(scannedRows(write(batch, 0L)) == n, s"$name source rows scanned")
      assert(spark.sparkContext.getPersistentRDDs.size == persisted, s"$name left a cache")
    }
  }

  test("writeBatchExactlyOnce sinks exactly what transformWithDlq computes") {
    val batch = publish("t_stage_equiv", Seq(
      env(1, "CREATE", "001A"),
      env(2, "UPDATE", "001B", "001B"), // repeated id: one row
      env(3, "UNDELETE", "001C"),
      env(4, "DELETE", "001D"),         // tombstone, no lookup
      env(5, "UPDATE", "001Z"),         // snapshot miss: dropped
      """{"oops""",
      """{"payload":{},"event":{"replayId":7}}""",
      "[1]"))                           // JSON, but no header
    val snapshot = Seq(("001A", "Alice"), ("001B", "Bob"), ("001C", "Carol"))
      .toDF("Id", "Name")
    val out = Files.createTempDirectory("stage_equiv").toString
    CdcPipeline.writeBatchExactlyOnce(snapshot, out)(batch, 0L)

    val (routed, dlq) = CdcPipeline.transformWithDlq(batch, snapshot)
    val wantRecords = CdcPipeline.toJsonLines(routed).select("value").as[String].collect().sorted
    val gotRecords = spark.read.schema(new StructType().add("value", StringType))
      .json(s"$out/sfdc-cdc").select("value").as[String].collect().sorted
    assert(gotRecords.toSeq == wantRecords.toSeq)
    assert(wantRecords.length == 4, wantRecords.mkString("; "))
    Seq("\"Id\":\"001A\",\"Name\":\"Alice\",\"UIND\":\"CREATE\"",
        "\"Id\":\"001B\",\"Name\":\"Bob\",\"UIND\":\"UPDATE\"",
        "\"Id\":\"001C\",\"Name\":\"Carol\",\"UIND\":\"UNDELETE\"",
        "\"Id\":\"001D\",\"UIND\":\"DELETE\"").foreach { part =>
      assert(wantRecords.count(_.contains(part)) == 1, part)
    }

    type Letter = (String, String, Option[Long])
    def letters(df: DataFrame): Seq[Letter] =
      df.collect().map(r => (r.getString(0), r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]))).toSeq.sortBy(_.toString)
    val dlqSchema = new StructType().add("reason", StringType).add("raw", StringType)
      .add("replay_id", LongType)
    val wantLetters = letters(dlq)
    assert(letters(spark.read.schema(dlqSchema).json(s"$out/dlq")
      .select("reason", "raw", "replay_id")) == wantLetters)
    assert(wantLetters == Seq[Letter](
      ("dlq_bad_json", """{"oops""", None),
      ("dlq_missing_header", "[1]", None),
      ("dlq_missing_header", """{"payload":{},"event":{"replayId":7}}""", Some(7L)))
      .sortBy(_.toString))
  }
}
