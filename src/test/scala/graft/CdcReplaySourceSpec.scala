package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger

import graft.sources.ReplayBus

/** Replay semantics of the custom MicroBatchStream source (SURVEY.md §2.1
  * S1-S5): earliest/tip/explicit offsets, batch-size admission control, and
  * restart-from-checkpoint (the reference's replay map + resubscribe). */
class CdcReplaySourceSpec extends SparkSpec {
  import spark.implicits._

  private def readTopic(topic: String, opts: (String, String)*) = {
    val base = spark.readStream.format("cdc-replay").option("topic", topic)
    opts.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load()
  }

  private def drain(topic: String, name: String, opts: (String, String)*): Unit = {
    val q = readTopic(topic, opts: _*)
      .writeStream.format("memory").queryName(name).outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  test("replayFrom=-2 (earliest) delivers everything; ids are monotone") {
    val topic = "t_earliest"
    ReplayBus.clear(topic)
    (1 to 5).foreach(i => ReplayBus.publish(topic, s"e$i"))
    drain(topic, "src_earliest", "replayFrom" -> "-2")
    val got = spark.table("src_earliest").as[(Long, String)].collect().sortBy(_._1)
    assert(got.map(_._2).toSeq == (1 to 5).map(i => s"e$i"))
    assert(got.map(_._1).toSeq == (1L to 5L))
  }

  test("replayFrom=-1 (tip) skips the backlog") {
    val topic = "t_tip"
    ReplayBus.clear(topic)
    (1 to 3).foreach(i => ReplayBus.publish(topic, s"old$i"))
    implicit val ctx = spark.sqlContext
    val q = readTopic(topic, "replayFrom" -> "-1")
      .writeStream.format("memory").queryName("src_tip").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("src_tip").count() == 0)
      ReplayBus.publish(topic, "new1")
      q.processAllAvailable()
      assert(spark.table("src_tip").as[(Long, String)].collect().toSeq == Seq((4L, "new1")))
    } finally q.stop()
  }

  test("explicit replayFrom resumes mid-stream") {
    val topic = "t_mid"
    ReplayBus.clear(topic)
    (1 to 6).foreach(i => ReplayBus.publish(topic, s"e$i"))
    drain(topic, "src_mid", "replayFrom" -> "3")
    assert(spark.table("src_mid").as[(Long, String)].collect().map(_._2).sorted.toSeq ==
      Seq("e4", "e5", "e6"))
  }

  test("batchSize caps events per micro-batch without losing any") {
    val topic = "t_batch"
    ReplayBus.clear(topic)
    (1 to 10).foreach(i => ReplayBus.publish(topic, s"e$i"))
    implicit val ctx = spark.sqlContext
    val q = readTopic(topic, "replayFrom" -> "-2", "batchSize" -> "3")
      .writeStream.format("memory").queryName("src_batch").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("src_batch").count() == 10) // all delivered...
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.forall(_.numInputRows <= 3)) // ...3 at a time
      assert(batches.map(_.numInputRows).sum == 10)
    } finally q.stop()
  }

  test("restart from checkpoint resumes from WAL, not replayFrom (S4/S5)") {
    val topic = "t_restart"
    ReplayBus.clear(topic)
    val ckpt = Files.createTempDirectory("cdc_ckpt").toString
    val out = Files.createTempDirectory("cdc_out").toString
    (1 to 4).foreach(i => ReplayBus.publish(topic, s"e$i"))

    def run(): Unit = {
      val q = readTopic(topic, "replayFrom" -> "-2")
        .writeStream.format("json")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    run()
    ReplayBus.publish(topic, "e5")
    ReplayBus.publish(topic, "e6")
    run() // second run must process ONLY 5..6 despite replayFrom=-2
    val vals = spark.read.json(out).select("value").as[String].collect().sorted
    assert(vals.toSeq == (1 to 6).map(i => s"e$i"), s"got ${vals.toSeq}")
    // exactly-once at file-sink level: no duplicates
    assert(vals.distinct.length == vals.length)
  }

  test("batch read: spark.read over a published range, sharded, complete") {
    val topic = "t_batchread"
    ReplayBus.clear(topic)
    (1 to 20).foreach(i => ReplayBus.publish(topic, s"e$i"))
    val df = spark.read.format("cdc-replay")
      .option("topic", topic).option("numShards", "4").load()
    assert(df.rdd.getNumPartitions == 4, "range must split into numShards partitions")
    // per-partition ordering contract (Kinesis-style): ascending within a
    // shard, contiguous ranges, union covers everything exactly once
    val perPart = df.select("replayId").rdd
      .mapPartitions(it => Iterator(it.map(_.getLong(0)).toSeq)).collect()
    perPart.foreach(p => assert(p == p.sorted, s"shard not ordered: $p"))
    assert(perPart.flatten.sorted.toSeq == (1L to 20L))
    // explicit sub-range backfill: (5, 15]
    val sub = spark.read.format("cdc-replay")
      .option("topic", topic).option("replayFrom", "5").option("replayUntil", "15")
      .load().select("value").as[String].collect().sorted
    assert(sub.toSeq == (6 to 15).map(i => s"e$i").sorted)
    // ReplayBus.range boundaries, against a filter over the whole topic
    def ids(from: Long, to: Long) = ReplayBus.range(topic, from, to).map(_.replayId)
    def expect(from: Long, to: Long) = (1L to 20L).filter(i => i > from && i <= to)
    Seq((0L, 20L), (0L, 7L), (5L, 20L), (7L, 7L), (9L, 3L), (15L, 99L), (20L, 25L),
        (0L, Long.MaxValue), (-2L, 4L)).foreach { case (from, to) =>
      assert(ids(from, to) == expect(from, to), s"range($from, $to]")
    }
    assert(ReplayBus.range(topic, 3, 5).map(_.value) == Seq("e4", "e5"))
    // past the tip through the batch read too
    assert(spark.read.format("cdc-replay")
      .option("topic", topic).option("replayFrom", "18").option("replayUntil", "99")
      .load().select("value").as[String].collect().sorted.toSeq == Seq("e19", "e20"))
    // after clear() ids restart at 1 and range sees only the new events
    ReplayBus.clear(topic)
    assert(ids(0, 20).isEmpty)
    (1 to 5).foreach(i => ReplayBus.publish(topic, s"r$i"))
    assert(ids(0, 20) == (1L to 5L))
    assert(ReplayBus.range(topic, 2, 4).map(_.value) == Seq("r3", "r4"))
  }

  test("bootstrap handoff: a batch backfill to replayId X then a stream " +
      "from X covers the log exactly once across the seam") {
    // the deployment pattern the two read paths exist FOR: bulk-load
    // history with the (cheap, sharded) batch scan, record the highest
    // replayId it delivered, subscribe the stream from exactly there —
    // no gap, no overlap, even with events published between the two
    val topic = "t_handoff"
    ReplayBus.clear(topic)
    (1 to 20).foreach(i => ReplayBus.publish(topic, s"e$i"))
    val bootstrap = spark.read.format("cdc-replay")
      .option("topic", topic).option("replayUntil", "15").option("numShards", "4")
      .load().select("replayId", "value").as[(Long, String)].collect()
    val seam = bootstrap.map(_._1).max
    assert(seam == 15L, "the backfill reports the offset the stream resumes at")
    // events 16..20 were already published BEFORE the stream starts — the
    // seam must not drop them; more land while the stream is conceptually up
    (21 to 25).foreach(i => ReplayBus.publish(topic, s"e$i"))
    drain(topic, "src_handoff", "replayFrom" -> seam.toString)
    val streamed = spark.table("src_handoff").as[(Long, String)].collect()
    val all = (bootstrap ++ streamed).sortBy(_._1)
    assert(all.map(_._1).toSeq == (1L to 25L), "exactly-once across the seam")
    assert(all.map(_._2).toSeq == (1 to 25).map(i => s"e$i"))
    assert(bootstrap.map(_._1).toSet.intersect(streamed.map(_._1).toSet).isEmpty)
  }

  test("T10: topic option is normalized — trailing slash and query string stripped") {
    val topic = "/data/t_norm"
    ReplayBus.clear(topic)
    (1 to 3).foreach(i => ReplayBus.publish(topic, s"e$i"))
    // decorated forms address the SAME stream (EmpConnector.java:192,254-256)
    Seq(s"$topic/", s"$topic//", s"$topic?replay=-2", s"$topic/?x=1").foreach { decorated =>
      val vals = spark.read.format("cdc-replay")
        .option("topic", decorated).load()
        .select("value").as[String].collect().sorted
      assert(vals.toSeq == Seq("e1", "e2", "e3"), s"for topic option '$decorated'")
    }
    // degenerate options fail loudly, not with an opaque index error
    Seq("?", "/", "?x=1").foreach { bad =>
      intercept[IllegalArgumentException](
        graft.sources.CdcReplayTable.normalizeTopic(bad))
    }
  }

  test("batch read: more shards than events degrades to one partition per event") {
    val topic = "t_batchsmall"
    ReplayBus.clear(topic)
    (1 to 3).foreach(i => ReplayBus.publish(topic, s"e$i"))
    val df = spark.read.format("cdc-replay")
      .option("topic", topic).option("numShards", "8").load()
    assert(df.rdd.getNumPartitions == 3)
    assert(df.count() == 3)
  }

  test("micro-batch sharding: a capped trigger fans out and loses nothing") {
    val topic = "t_shardstream"
    ReplayBus.clear(topic)
    (1 to 17).foreach(i => ReplayBus.publish(topic, s"e$i"))
    drain(topic, "src_shard", "replayFrom" -> "-2", "batchSize" -> "8", "numShards" -> "4")
    val got = spark.table("src_shard").as[(Long, String)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == (1L to 17L))
    assert(got.map(_._2).toSeq == (1 to 17).map(i => s"e$i"))
  }

  test("CdcPipeline.writer: partitioned-by-entity JSON sink layout (K1∘K3)") {
    val topic = "t_writer"
    ReplayBus.clear(topic)
    def env(id: Long, entity: String, ct: String, rid: String): String =
      s"""{"schema":"fp","payload":{"ChangeEventHeader":{"commitNumber":1,""" +
        s""""commitUser":"u","sequenceNumber":1,"entityName":"$entity",""" +
        s""""changeType":"$ct","changedFields":[],"changeOrigin":"t",""" +
        s""""transactionKey":"tk","commitTimestamp":1583300894000,""" +
        s""""recordIds":["$rid"]}},"event":{"replayId":$id}}"""
    ReplayBus.publish(topic, env(1, "Account", "CREATE", "001A"))
    ReplayBus.publish(topic, env(2, "Contact", "DELETE", "003X"))
    val snapshot = Seq(("001A", "Alice Corp")).toDF("Id", "Name")
    val out = Files.createTempDirectory("writer_out").toString
    val ckpt = Files.createTempDirectory("writer_ckpt").toString
    val q = graft.streaming.CdcPipeline.writerExactlyOnce(
        readTopic(topic, "replayFrom" -> "-2"), snapshot, out, ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // reference layout under the batch partition:
    // <out>/sfdc-cdc/batch_id=<n>/entityName=<entity>/*.json
    val base = new java.io.File(s"$out/sfdc-cdc/batch_id=0")
    val dirs = base.listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("entityName=Account", "entityName=Contact"))
    val rows = spark.read.json(s"$out/sfdc-cdc").select("value").as[String].collect()
    assert(rows.length == 2)
    assert(rows.exists(v => v.contains("Alice Corp") && v.contains("\"UIND\":\"CREATE\"")))
    assert(rows.exists(v => v.contains("\"Id\":\"003X\"") && v.contains("\"UIND\":\"DELETE\"")))
  }

  test("writerWithDlq: poison records quarantine with reasons; the query survives and resumes") {
    val topic = "t_dlq_writer"
    ReplayBus.clear(topic)
    def env(id: Long, rid: String): String =
      s"""{"schema":"fp","payload":{"ChangeEventHeader":{"commitNumber":1,""" +
        s""""commitUser":"u","sequenceNumber":1,"entityName":"Account",""" +
        s""""changeType":"CREATE","changedFields":[],"changeOrigin":"t",""" +
        s""""transactionKey":"tk","commitTimestamp":1583300894000,""" +
        s""""recordIds":["$rid"]}},"event":{"replayId":$id}}"""
    ReplayBus.publish(topic, env(1, "001A"))
    ReplayBus.publish(topic, """{"oops""")                       // unparseable
    ReplayBus.publish(topic, """{"payload":{},"event":{"replayId":3}}""") // headerless
    ReplayBus.publish(topic, env(4, "001B"))
    val snapshot = Seq(("001A", "Alice"), ("001B", "Bob")).toDF("Id", "Name")
    val out = Files.createTempDirectory("dlq_out").toString
    val ckpt = Files.createTempDirectory("dlq_ckpt").toString
    def runOnce(): Unit = {
      val q = graft.streaming.CdcPipeline.writerExactlyOnce(
          readTopic(topic, "replayFrom" -> "-2"), snapshot, out, ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    val ok1 = spark.read.json(s"$out/sfdc-cdc").select("value").as[String].collect()
    assert(ok1.length == 2, ok1.mkString("; "))
    assert(ok1.forall(_.contains("\"UIND\":\"CREATE\"")))
    val dlq1 = spark.read.json(s"$out/dlq")
      .select("reason", "raw", "replay_id").collect()
    assert(dlq1.length == 2, dlq1.mkString("; "))
    val byReason = dlq1.map(r => r.getAs[String]("reason") -> r).toMap
    assert(byReason.contains("dlq_bad_json") && byReason.contains("dlq_missing_header"))
    // the headerless record still surfaces its replayId (resume-past-poison)
    assert(byReason("dlq_missing_header").getAs[Long]("replay_id") == 3L)
    assert(byReason("dlq_bad_json").isNullAt(2))
    // restart from the checkpoint: only NEW records process (offset WAL
    // advanced past the poison records — they are not re-delivered)
    ReplayBus.publish(topic, env(5, "001A"))
    runOnce()
    assert(spark.read.json(s"$out/sfdc-cdc").count() == 3)
    assert(spark.read.json(s"$out/dlq").count() == 2)
  }

  test("writerExactlyOnce: crash between sinks replays without duplicates and WITHOUT markers") {
    // foreachBatch is at-least-once per sink: a crash after the record
    // write but before the DLQ write replays the WHOLE batch (same
    // batchId) on restart. The batch_id partition-overwrite target makes
    // that replay rewrite its own partition, so no duplicate is POSSIBLE
    // and no commit marker is needed.
    val topic = "t_eo_crash"
    ReplayBus.clear(topic)
    def env(id: Long, rid: String): String =
      s"""{"schema":"fp","payload":{"ChangeEventHeader":{"commitNumber":1,""" +
        s""""commitUser":"u","sequenceNumber":1,"entityName":"Account",""" +
        s""""changeType":"CREATE","changedFields":[],"changeOrigin":"t",""" +
        s""""transactionKey":"tk","commitTimestamp":1583300894000,""" +
        s""""recordIds":["$rid"]}},"event":{"replayId":$id}}"""
    ReplayBus.publish(topic, env(1, "001A"))
    ReplayBus.publish(topic, """{"oops""") // -> dlq_bad_json
    ReplayBus.publish(topic, env(2, "001B"))
    val snapshot = Seq(("001A", "Alice"), ("001B", "Bob")).toDF("Id", "Name")
    val out = Files.createTempDirectory("eo_crash_out").toString
    val ckpt = Files.createTempDirectory("eo_crash_ckpt").toString
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val boom: Long => Unit = _ =>
      if (!crashed.getAndSet(true)) throw new RuntimeException("injected crash between sinks")
    // the writer persists each staged micro-batch; it must be released
    // whether the batch throws or completes
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val q1 = readTopic(topic, "replayFrom" -> "-2").writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(graft.streaming.CdcPipeline.writeBatchExactlyOnce(
        snapshot, out, betweenSinks = boom) _)
      .trigger(Trigger.AvailableNow()).start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    assert(spark.sparkContext.getPersistentRDDs.size == persisted,
      "staged batch still persisted after the injected failure")
    // records landed before the crash; the DLQ write never ran
    assert(spark.read.json(s"$out/sfdc-cdc").count() == 2)
    assert(!new java.io.File(s"$out/dlq").exists())
    // restart the production exactly-once writer on the same checkpoint —
    // the batch replays under its original batchId and OVERWRITES its own
    // partition
    val q2 = graft.streaming.CdcPipeline.writerExactlyOnce(
        readTopic(topic, "replayFrom" -> "-2"), snapshot, out, ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(spark.sparkContext.getPersistentRDDs.size == persisted,
      "staged batch still persisted after the replay")
    val vals = spark.read.json(s"$out/sfdc-cdc").select("value").as[String].collect()
    assert(vals.length == 2, s"record sink duplicated on replay: ${vals.length} rows")
    assert(vals.count(_.contains("Alice")) == 1 && vals.count(_.contains("Bob")) == 1)
    val dlq = spark.read.json(s"$out/dlq").select("reason").as[String].collect()
    assert(dlq.toSeq == Seq("dlq_bad_json"))
    // the whole point: NO marker protocol was involved
    assert(!new java.io.File(s"$out/_commits").exists(),
      "exactly-once target must not rely on commit markers")
    // and every row carries its batch provenance
    assert(spark.read.json(s"$out/sfdc-cdc").columns.contains("batch_id"))
  }

  test("end-to-end: cdc-replay source through the CDC pipeline") {
    val topic = "t_pipeline"
    ReplayBus.clear(topic)
    val env =
      """{"schema":"fp","payload":{"Name":"Acme","ChangeEventHeader":{
        |"commitNumber":1,"commitUser":"u","sequenceNumber":1,
        |"entityName":"Account","changeType":"CREATE","changedFields":[],
        |"changeOrigin":"t","transactionKey":"tk","commitTimestamp":1583300894000,
        |"recordIds":["001A"]}},"event":{"replayId":1}}""".stripMargin.replace("\n", "")
    ReplayBus.publish(topic, env)
    val snapshot = Seq(("001A", "Alice Corp")).toDF("Id", "Name")
    implicit val ctx = spark.sqlContext
    val routed = graft.streaming.CdcPipeline.transform(
      readTopic(topic, "replayFrom" -> "-2"), snapshot)
    val q = graft.streaming.CdcPipeline.toJsonLines(routed)
      .writeStream.format("memory").queryName("pipe_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("pipe_out").as[(String, String)].collect()
      assert(rows.length == 1)
      assert(rows.head._1 == "Account")
      assert(rows.head._2.contains("\"UIND\":\"CREATE\"") && rows.head._2.contains("Alice Corp"))
    } finally q.stop()
  }
}
