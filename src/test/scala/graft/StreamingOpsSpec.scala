package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.EventStreamOps
import graft.streaming.EventStreamOps.Event

/** Streaming semantics: watermark drops late data; stateful sessionization
  * closes sessions on gap. */
class StreamingOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, t: String, user: Long = 1L): Event =
    Event(id, Timestamp.valueOf(t), user, "click", 1.0)

  test("windowed counts with watermark: in-order data aggregates per hour") {
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = EventStreamOps.windowedCounts(stream.toDF(), "1 hour", "2 hours")
      .writeStream.format("memory").queryName("win_out")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(
        ev(1, "2024-01-01 10:05:00"), ev(2, "2024-01-01 10:55:00"),
        ev(3, "2024-01-01 11:10:00"))
      q.processAllAvailable()
      // advance watermark far enough to finalize hours 10 and 11
      stream.addData(ev(4, "2024-01-01 14:30:00"))
      q.processAllAvailable()
      stream.addData(ev(5, "2024-01-01 23:00:00"))
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .select($"window_start".cast("string"), $"n_events").as[(String, Long)]
        .collect().toMap
      assert(rows("2024-01-01 10:00:00") == 2L)
      assert(rows("2024-01-01 11:00:00") == 1L)
    } finally q.stop()
  }

  test("ev9 streaming twin: the KMV Aggregator runs inside a watermarked window") {
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[Event]
    val agg = stream.toDF()
      .withWatermark("ts", "2 hours")
      .groupBy(window($"ts", "1 hour"))
      .agg(
        graft.functions.KmvDistinct.kmvDistinct(
          md5($"user_id".cast("string")), 4).as("kmv_users"),
        count(lit(1)).as("n_events"))
      .select($"window.start".as("win_start"), $"kmv_users", $"n_events")
    val q = agg.writeStream.format("memory").queryName("kmv_out")
      .outputMode(OutputMode.Append).start()
    try {
      // hour 10 sees 6 events over 5 distinct users (> k=4: estimation
      // path), split across TWO micro-batches so sketch MERGE is exercised
      stream.addData(ev(1, "2024-01-01 10:05:00", 1), ev(2, "2024-01-01 10:10:00", 2),
        ev(3, "2024-01-01 10:15:00", 3))
      q.processAllAvailable()
      stream.addData(ev(4, "2024-01-01 10:20:00", 4), ev(5, "2024-01-01 10:25:00", 5),
        ev(6, "2024-01-01 10:30:00", 1))
      q.processAllAvailable()
      stream.addData(ev(7, "2024-01-01 14:00:00", 9)) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("kmv_out")
        .select($"win_start".cast("string"), $"kmv_users", $"n_events")
        .as[(String, Double, Long)].collect()
      val h10 = rows.find(_._1 == "2024-01-01 10:00:00").get
      assert(h10._3 == 6L)
      // the streaming merge must equal the batch sketch over the same set
      val expected = Seq(1L, 2L, 3L, 4L, 5L).toDF("user_id")
        .agg(graft.functions.KmvDistinct.kmvDistinct(
          md5($"user_id".cast("string")), 4)).as[Double].head()
      assert(h10._2 == expected,
        s"streaming sketch ${h10._2} != batch sketch $expected")
    } finally q.stop()
  }

  test("ev18 streaming twin: watermarked day-register tables merge-equal the batch build") {
    implicit val ctx = spark.sqlContext
    def evt(id: Long, t: String, user: Long, typ: String): Event =
      Event(id, Timestamp.valueOf(t), user, typ, 1.0)
    val stream = MemoryStream[Event]
    val q = EventStreamOps.hllDayRegisters(stream.toDF())
      .writeStream.format("memory").queryName("hll_days")
      .outputMode(OutputMode.Append).start()
    // days 1-2, two types, users split across micro-batches so the
    // in-day register MAX-merge is exercised through the state store
    val d12 = Seq(
      evt(1, "2024-01-01 10:00:00", 1, "click"),
      evt(2, "2024-01-01 11:00:00", 2, "click"),
      evt(3, "2024-01-01 12:00:00", 3, "view"),
      evt(4, "2024-01-01 13:00:00", 4, "click"),
      evt(5, "2024-01-01 14:00:00", 1, "view"),
      evt(6, "2024-01-02 09:00:00", 5, "click"),
      evt(7, "2024-01-02 10:00:00", 6, "click"))
    try {
      stream.addData(d12.take(3): _*)
      q.processAllAvailable()
      stream.addData(d12.slice(3, 5): _*)
      q.processAllAvailable()
      stream.addData(d12.drop(5): _*)
      q.processAllAvailable()
      // advance the watermark far past day 2 so both day tables finalize
      stream.addData(evt(8, "2024-01-04 09:00:00", 9, "view"))
      q.processAllAvailable()
      val streamed = spark.table("hll_days")
        .select($"day".cast("string"), $"event_type", $"reg", $"mr")
        .as[(String, String, Long, Int)].collect().toSet
      // batch twin over the same event rows: identical day tables
      val h = md5($"user_id".cast("string"))
      val batch = d12.toDF()
        .select(date_trunc("day", $"ts").cast("date").cast("string").as("day"),
          $"event_type",
          graft.relational.EventsAnalytics.hllRegOf(h).as("reg"),
          graft.relational.EventsAnalytics.hllRankOf(h).as("rank"))
        .groupBy($"day", $"event_type", $"reg")
        .agg(max($"rank").as("mr"))
        .as[(String, String, Long, Int)].collect().toSet
      assert(streamed == batch,
        "stream-built day registers must equal the batch-built tables")
      // downstream range merge off the STREAMED artifact: idempotent MAX —
      // merging day 1 twice (at-least-once re-emission) changes nothing
      val days = spark.table("hll_days")
        .select($"day", $"event_type", $"reg", $"mr")
      val once = days.groupBy($"event_type", $"reg").agg(max($"mr").as("mr"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
      val twice = days.union(days.filter($"day".cast("string") === "2024-01-01"))
        .groupBy($"event_type", $"reg").agg(max($"mr").as("mr"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
      assert(once == twice, "HLL MAX-merge must be idempotent under replay")
      // lossless-merge audit (ev18's contract): the merged register set
      // equals a direct sketch of the raw days-1-2 events
      val direct = d12.toDF()
        .select($"event_type",
          graft.relational.EventsAnalytics.hllRegOf(h).as("reg"),
          graft.relational.EventsAnalytics.hllRankOf(h).as("rank"))
        .groupBy($"event_type", $"reg").agg(max($"rank").as("mr"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
      assert(once == direct,
        "week merge of stream-built day tables must be lossless vs the raw sketch")
    } finally q.stop()
  }

  test("unified API: streaming window counts over the events fixture match batch") {
    import org.apache.spark.sql.types._
    val dir = sf()
    // file-stream the fixture with the same ts normalization the batch
    // loader applies (Tables.load)
    val rawSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    // the file-stream source wants a directory; stage the fixture into one
    val staged = java.nio.file.Files.createTempDirectory("ev_stream_src")
    java.nio.file.Files.createSymbolicLink(
      staged.resolve("events.parquet"), java.nio.file.Paths.get(s"$dir/events.parquet"))
    val stream = spark.readStream.schema(rawSchema)
      .parquet(staged.toString)
      // raw fixture ts is TIMESTAMP(MICROS) NTZ; same normalization as
      // Tables.load (session tz UTC → value-preserving instant cast)
      .withColumn("ts", col("ts").cast("timestamp"))
    val q = EventStreamOps.windowedCounts(stream, "1 day", "0 seconds")
      .writeStream.format("memory").queryName("ev_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("ev_stream")
      .select($"window_start".cast("date").cast("string"), $"event_type", $"n_events")
      .as[(String, String, Long)].collect().toSet
    val batch = graft.relational.EventsAnalytics.tumblingWindow(spark, dir)
      .select($"day".cast("string"), $"event_type", $"n_events")
      .as[(String, String, Long)].collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("unified API: streaming HOPPING window counts match the ev10 batch operator") {
    import org.apache.spark.sql.types._
    val dir = sf()
    val rawSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val staged = java.nio.file.Files.createTempDirectory("ev_hop_src")
    java.nio.file.Files.createSymbolicLink(
      staged.resolve("events.parquet"), java.nio.file.Paths.get(s"$dir/events.parquet"))
    val stream = spark.readStream.schema(rawSchema)
      .parquet(staged.toString)
      // raw fixture ts is TIMESTAMP(MICROS) NTZ; same normalization as
      // Tables.load (session tz UTC → value-preserving instant cast)
      .withColumn("ts", col("ts").cast("timestamp"))
    val q = EventStreamOps.windowedCounts(stream, "1 day", "0 seconds", slide = "6 hours")
      .writeStream.format("memory").queryName("ev_hop_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("ev_hop_stream")
      .select(unix_millis($"window_start"), $"event_type", $"n_events")
      .as[(Long, String, Long)].collect().toSet
    val batch = graft.relational.EventsAnalytics.hoppingWindow(spark, dir)
      .select($"window_start_ms", $"event_type", $"n_events")
      .as[(Long, String, Long)].collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
    // every tumbling day total is recoverable from its 4 hops: each event
    // appears in exactly 4 hopping windows
    val hopTotal = batch.toSeq.map(_._3).sum
    val dayTotal = graft.relational.EventsAnalytics.tumblingWindow(spark, dir)
      .select($"n_events").as[Long].collect().sum
    assert(hopTotal == 4 * dayTotal)
  }

  test("unified API: stream-stream attribution interval join matches the batch join") {
    import org.apache.spark.sql.types._
    val dir = sf()
    val rawSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val staged = java.nio.file.Files.createTempDirectory("ev_join_src")
    java.nio.file.Files.createSymbolicLink(
      staged.resolve("events.parquet"), java.nio.file.Paths.get(s"$dir/events.parquet"))
    // two independent file streams over the same fixture, split by type —
    // each side buffers in the join state store, keyed by user_id
    def side(tpe: String) = spark.readStream.schema(rawSchema)
      .parquet(staged.toString)
      .withColumn("ts", col("ts").cast("timestamp"))
      .filter($"event_type" === tpe)
    val q = EventStreamOps.attributionJoin(side("click"), side("purchase"))
      .writeStream.format("memory").queryName("ev_join_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    // the join must have run as a STATEFUL stream-stream join (symmetric
    // hash join buffering both sides in the state store), not a batch
    // rewrite — state rows prove the buffer existed
    val stateOps = q.recentProgress.flatMap(_.stateOperators)
    assert(stateOps.exists(s =>
      s.operatorName.contains("symmetricHashJoin") && s.numRowsTotal > 0),
      s"expected symmetricHashJoin state, got: ${stateOps.map(_.operatorName).toSeq}")
    val streamed = spark.table("ev_join_stream")
      .select($"purchase_id", $"click_id").as[(Long, Long)].collect().toSet
    // batch twin: the same interval predicate as a plain join
    val ev = graft.sources.Tables.load(spark, dir, "events")
    val c = ev.filter($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id".as("c_user"), $"ts".as("c_ts"))
    val p = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id".as("p_user"), $"ts".as("p_ts"))
    val batchPairs = p.join(c,
        $"p_user" === $"c_user" && $"c_ts" <= $"p_ts" &&
          $"c_ts" >= $"p_ts" - expr("INTERVAL 3600 SECONDS"))
      .select($"purchase_id", $"click_id").as[(Long, Long)].collect().toSet
    assert(streamed == batchPairs)
    assert(batchPairs.nonEmpty)
  }

  test("streaming incremental dedup: admission composes into foreachBatch with growing corpus") {
    // three micro-batches of documents; each batch admits against the
    // corpus accumulated from everything admitted so far — the streaming
    // form of dd12 (Dedup.admitAgainst is the per-batch operator)
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val results = scala.collection.mutable.Map.empty[Long, String]
    var corpus = Seq((0L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val verdicts = graft.llmdata.Dedup.admitAgainst(corpus, batch).collect()
        verdicts.foreach(r => results(r.getAs[Long]("doc_id")) = r.getAs[String]("status"))
        val admitted = verdicts.filter(_.getAs[String]("status") == "admitted")
          .map(_.getAs[Long]("doc_id")).toSet
        corpus = corpus.union(batch.filter(col("doc_id").isin(admitted.toSeq: _*)))
        () // foreachBatch wants Unit
      }
      .start()
    try {
      input.addData((1L, "alpha beta gamma delta epsilon zeta")) // exact dup of seed
      input.addData((2L, "one two three four five six seven eight nine ten"))
      q.processAllAvailable()
      // batch 3: near-dup of doc 2 (admitted last batch), exact dup of doc 2, fresh doc
      input.addData(
        (3L, "one two three four five six seven eight nine zzz"),
        (4L, "one two three four five six seven eight nine ten"),
        (5L, "totally different words in this new document body"))
      q.processAllAvailable()
    } finally q.stop()
    assert(results(1L) == "exact_dup", results.toString)
    assert(results(2L) == "admitted")
    assert(results(3L) == "near_dup", s"cross-batch near-dup missed: $results")
    assert(results(4L) == "exact_dup", s"cross-batch exact dup missed: $results")
    assert(results(5L) == "admitted")
  }

  test("cdc11 streaming twin: txn ledger across triggers + restart matches batch assembly") {
    // Atomic per-transaction apply is a streaming concern: a consumer
    // holds a transaction's events until its boundaries stop moving. The
    // ledger state (foreachBatchTxnLedger) accumulates decoded change
    // rows deduped on the envelope clock; txnAssemblyOf derives cdc11's
    // rollup from it. Exercised here: a transaction spanning triggers, a
    // redelivered envelope (must not double-count), a mid-stream restart
    // with a transaction tail arriving after it.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.{CdcDecode, CdcMaterialize, CdcQueries}
    import graft.sources.ReplayBus
    import java.nio.file.Files

    def event(tk: String, replay: Long, entity: String, ct: String, ids: Seq[String]): String =
      s"""{"schema":"fp","payload":{"ChangeEventHeader":{""" +
        s""""commitNumber":${replay * 10},"commitUser":"u","sequenceNumber":1,""" +
        s""""entityName":"$entity","changeType":"$ct",""" +
        s""""changedFields":[],"changeOrigin":"t","transactionKey":"$tk",""" +
        s""""commitTimestamp":${1700000000000L + replay * 1000},""" +
        s""""recordIds":[${ids.map("\"" + _ + "\"").mkString(",")}]}},""" +
        s""""event":{"replayId":$replay}}"""

    val clockKey = Seq("entityName", "Id", "commitNumber", "sequenceNumber", "replayId")
    def decode(df: DataFrame): DataFrame =
      CdcDecode.explodeIds(
        CdcDecode.decodeJson(df.select(col("value")), col("value")).drop("value"))
        .drop("payload_json")

    def ledgerBatch(stateDir: String)(batch: DataFrame, batchId: Long): Unit =
      CdcMaterialize.foreachBatchTxnLedger(stateDir)(decode(batch), batchId)

    def drive(topic: String, stateDir: String, ckpt: String): Unit = {
      val q = spark.readStream.format("cdc-replay")
        .option("topic", topic).option("replayFrom", "-2")
        .option("batchSize", "2").load()
        .writeStream.foreachBatch(ledgerBatch(stateDir) _)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    val run1 = Seq( // batchSize=2 -> 3 triggers; tk-A spans triggers 1 and 2
      event("tk-A", 1, "Customer", "CREATE", Seq("C1")),
      event("tk-B", 2, "Order", "CREATE", Seq("O1")),
      event("tk-A", 3, "Order", "UPDATE", Seq("O1", "O2")),
      event("tk-C", 4, "Customer", "DELETE", Seq("C9")),
      event("tk-B", 5, "Order", "UPDATE", Seq("O1")),
      event("tk-A", 1, "Customer", "CREATE", Seq("C1"))) // redelivered envelope
    val run2 = Seq( // tk-A's tail and tk-C's second event arrive after the restart
      event("tk-C", 6, "Order", "CREATE", Seq("O7")),
      event("tk-D", 7, "Customer", "UPDATE", Seq("C3")),
      event("tk-A", 8, "Customer", "UPDATE", Seq("C1")))

    val topicA = "t_txn_restart"
    ReplayBus.clear(topicA)
    val stateA = Files.createTempDirectory("txn_a").toString + "/ledger"
    val ckptA = Files.createTempDirectory("txn_a_ckpt").toString
    run1.foreach(ReplayBus.publish(topicA, _))
    drive(topicA, stateA, ckptA)
    run2.foreach(ReplayBus.publish(topicA, _))
    drive(topicA, stateA, ckptA) // resumes from WAL

    val topicB = "t_txn_ref"
    ReplayBus.clear(topicB)
    val stateB = Files.createTempDirectory("txn_b").toString + "/ledger"
    val ckptB = Files.createTempDirectory("txn_b_ckpt").toString
    (run1 ++ run2).foreach(ReplayBus.publish(topicB, _))
    drive(topicB, stateB, ckptB)

    def roll(stateDir: String): Set[Seq[Any]] =
      CdcQueries.txnAssemblyOf(spark.read.parquet(stateDir))
        .collect().map(_.toSeq).toSet
    assert(roll(stateA) == roll(stateB),
      "restarted ledger rollup must equal the single-run rollup")

    // batch reference: decode ALL envelopes in one frame, clock-dedupe
    // (the batch rendering of the ledger), same aggregate
    val expected = CdcQueries.txnAssemblyOf(
      decode((run1 ++ run2).toDF("value")).dropDuplicates(clockKey))
      .collect().map(_.toSeq).toSet
    assert(roll(stateA) == expected, "streaming ledger must equal batch assembly")

    val tkA = CdcQueries.txnAssemblyOf(spark.read.parquet(stateA))
      .filter(col("transaction_key") === "tk-A").collect().head
    assert(tkA.getAs[Long]("n_events") == 3L, "redelivery must not mint an event")
    assert(tkA.getAs[Long]("n_record_changes") == 4L)
    assert(tkA.getAs[String]("entities") == "Customer,Order")
    assert(tkA.getAs[String]("change_types") == "CREATE,UPDATE")
    assert(tkA.getAs[Long]("first_replay_id") == 1L)
    assert(tkA.getAs[Long]("last_replay_id") == 8L)
  }

  test("cdc14 streaming twin: snapshot reconciliation across triggers + restart") {
    // The periodic-full-export feed shape: each trigger delivers ONE
    // complete snapshot version; foreachBatchReconcile diffs it against
    // the persisted previous snapshot, appends version-tagged events to
    // the ledger, and swaps the state. Exercised: initial load, update/
    // delete/create across versions, a mid-stream restart before the
    // last version, and ledger-replay completeness.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.{DoubleType, LongType}
    import graft.operators.SnapshotDiff
    import graft.sources.ReplayBus
    import java.nio.file.Files

    def row(id: String, name: String, bal: Double, ver: Long) = s"$id|$name|$bal|$ver"
    val v1 = Seq(row("k1", "a", 1.0, 1), row("k2", "b", 2.0, 1), row("k3", "c", 3.0, 1),
      row("k4", "d", 4.0, 1), row("k5", "e", 5.0, 1), row("k6", "f", 6.0, 1))
    val v2 = Seq(row("k1", "a", 1.0, 2), row("k2", "b", 2.5, 2), row("k4", "d", 4.0, 2),
      row("k5", "e", 5.0, 2), row("k6", "f", 6.0, 2), row("k7", "g", 7.0, 2))
    val v3 = Seq(row("k1", "a2", 1.0, 3), row("k2", "b", 2.5, 3), row("k4", "d", 4.0, 3),
      row("k5", "e", 5.0, 3), row("k6", "f", 6.0, 3), row("k8", "h", 8.0, 3))

    def parse(df: DataFrame): DataFrame =
      df.select(split(col("value"), "\\|").as("p"))
        .select(col("p").getItem(0).as("id"), col("p").getItem(1).as("name"),
          col("p").getItem(2).cast(DoubleType).as("bal"),
          col("p").getItem(3).cast(LongType).as("version"))

    def drive(topic: String, state: String, ledger: String, ckpt: String): Unit = {
      val q = spark.readStream.format("cdc-replay")
        .option("topic", topic).option("replayFrom", "-2")
        .option("batchSize", "6").load()
        .writeStream.foreachBatch { (b: DataFrame, id: Long) =>
          SnapshotDiff.foreachBatchReconcile(state, ledger, "id",
            Seq("name", "bal"))(parse(b), id)
        }
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    val topicA = "t_snap_restart"
    ReplayBus.clear(topicA)
    val stateA = Files.createTempDirectory("snap_a").toString + "/state"
    val ledgerA = Files.createTempDirectory("snap_a").toString + "/ledger"
    val ckptA = Files.createTempDirectory("snap_a_ckpt").toString
    (v1 ++ v2).foreach(ReplayBus.publish(topicA, _))
    drive(topicA, stateA, ledgerA, ckptA)
    v3.foreach(ReplayBus.publish(topicA, _))
    drive(topicA, stateA, ledgerA, ckptA) // resumes from WAL

    // final state == latest snapshot, exactly
    val got = spark.read.parquet(stateA)
      .select("id", "name", "bal").as[(String, String, Double)].collect().toSet
    val want = v3.map(_.split("\\|")).map(p => (p(0), p(1), p(2).toDouble)).toSet
    assert(got == want, "reconciled state must equal the latest snapshot")

    // ledger completeness: replaying events version-by-version from empty
    // reproduces the latest snapshot
    val ledger = SnapshotDiff.readLedger(spark, ledgerA, "id")
      .select("version", "id", "change_type", "new_name", "new_bal")
      .as[(Long, String, String, Option[String], Option[Double])]
      .collect().sortBy(e => (e._1, e._2))
    val replayed = ledger.foldLeft(Map.empty[String, (String, Double)]) {
      case (m, (_, id, "DELETE", _, _)) => m - id
      case (m, (_, id, _, n, b)) => m + (id -> ((n.get, b.get)))
    }
    assert(replayed.map { case (id, (n, b)) => (id, n, b) }.toSet == want,
      "ledger replay from empty must reproduce the latest snapshot")

    // event shape: v1 = initial load (all CREATE), v2/v3 = targeted deltas
    def evs(ver: Long) = ledger.filter(_._1 == ver).map(e => e._3 -> e._2)
    assert(evs(1).forall(_._1 == "CREATE") && evs(1).length == 6)
    assert(evs(2).toSet == Set("UPDATE" -> "k2", "DELETE" -> "k3", "CREATE" -> "k7"))
    assert(evs(3).toSet == Set("UPDATE" -> "k1", "DELETE" -> "k7", "CREATE" -> "k8"))

    // restart-invariance: a single uninterrupted run produces the same ledger
    val topicB = "t_snap_ref"
    ReplayBus.clear(topicB)
    val stateB = Files.createTempDirectory("snap_b").toString + "/state"
    val ledgerB = Files.createTempDirectory("snap_b").toString + "/ledger"
    val ckptB = Files.createTempDirectory("snap_b_ckpt").toString
    (v1 ++ v2 ++ v3).foreach(ReplayBus.publish(topicB, _))
    drive(topicB, stateB, ledgerB, ckptB)
    val refLedger = SnapshotDiff.readLedger(spark, ledgerB, "id")
      .select("version", "id", "change_type", "new_name", "new_bal")
      .as[(Long, String, String, Option[String], Option[Double])]
      .collect().sortBy(e => (e._1, e._2))
    assert(ledger.toSeq == refLedger.toSeq,
      "restarted reconciliation must emit the identical event ledger")
  }

  test("snapshot reconciliation: an unreadable state throws instead of " +
      "re-emitting the snapshot as an initial load") {
    import graft.operators.SnapshotDiff
    import java.nio.file.Files
    val root = Files.createTempDirectory("snap_bad")
    val state = Files.createDirectories(root.resolve("state"))
    val stateFile = state.resolve("part-00000.parquet")
    Files.writeString(stateFile, "not parquet")
    val ledger = root.resolve("ledger")
    val batch = Seq(("k1", "a", 1.0, 1L)).toDF("id", "name", "bal", "version")
    intercept[Exception] {
      SnapshotDiff.foreachBatchReconcile(state.toString, ledger.toString, "id",
        Seq("name", "bal"))(batch, 0L)
    }
    assert(!Files.exists(ledger), "no CREATE events may reach the ledger")
    assert(Files.readString(stateFile) == "not parquet", "state must not be replaced")
  }

  test("composition: cdc decode -> bloom-gated admission -> scd2 state across a restart") {
    // The full ingest composition the engine exists for: a replayable CDC
    // bus delivers document change events; each micro-batch is decoded
    // (T1-T5), admitted against the CURRENT corpus through the dd15 Bloom
    // prefilter fused into dd12 admission, and the survivors merge into
    // the SCD2 parquet state (cdc9's operator). The corpus is DERIVED from
    // the persisted state (is_current rows), never held in driver memory —
    // that is what makes the composition restart-invariant: a restarted
    // query rebuilds its admission context from the state dir.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.{CdcDecode, CdcMaterialize}
    import graft.sources.ReplayBus
    import java.nio.file.Files

    def event(docId: Long, text: String, commit: Long): String =
      s"""{"schema":"fp","payload":{"Name":"$text","ChangeEventHeader":{""" +
        s""""commitNumber":$commit,"commitUser":"u","sequenceNumber":1,""" +
        s""""entityName":"Document","changeType":"UPDATE",""" +
        s""""changedFields":[],"changeOrigin":"t","transactionKey":"tk$commit",""" +
        s""""commitTimestamp":${1700000000000L + commit * 1000},""" +
        s""""recordIds":["D$docId"]}},"event":{"replayId":$commit}}"""

    val statuses = scala.collection.concurrent.TrieMap.empty[(Long, Long), (String, Boolean)]
    val batchCount = new java.util.concurrent.atomic.AtomicInteger(0)

    def admitBatch(stateDir: String)(batch: DataFrame, batchId: Long): Unit = {
      batchCount.incrementAndGet()
      val sess = batch.sparkSession
      val decoded = CdcDecode.explodeIds(
        CdcDecode.decodeJson(batch.select(col("value")), col("value")).drop("value"))
        .withColumn("Name", get_json_object(col("payload_json"), "$.Name"))
        .drop("payload_json")
        .withColumn("UIND", col("changeType"))
      val corpus =
        if (new java.io.File(stateDir).exists)
          sess.read.parquet(stateDir).filter(col("is_current"))
            .select(expr("CAST(substring(Id, 2) AS BIGINT)").as("doc_id"),
              col("Name").as("text"))
        else Seq.empty[(Long, String)].toDF("doc_id", "text")
      val incoming = decoded.select(
        expr("CAST(substring(Id, 2) AS BIGINT)").as("doc_id"),
        col("Name").as("text"),
        col("commitNumber"))
      val verdicts = graft.llmdata.Dedup
        .admitAgainstWithBloom(corpus, incoming.drop("commitNumber")).collect()
      val commits = incoming.select(col("doc_id"), col("commitNumber")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      verdicts.foreach(r => statuses(
        (r.getAs[Long]("doc_id"), commits(r.getAs[Long]("doc_id")))) =
        (r.getAs[String]("status"), r.getAs[Boolean]("bloom_maybe")))
      val admitted = verdicts.filter(_.getAs[String]("status") == "admitted")
        .map(r => s"D${r.getAs[Long]("doc_id")}").toSet
      val keep = decoded.filter(col("Id").isin(admitted.toSeq: _*))
      CdcMaterialize.foreachBatchScd2(stateDir)(keep, batchId)
    }

    // disjoint-vocabulary texts; near-dups share 8 of 10 union bigrams
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t1near = "alpha beta gamma delta epsilon zeta eta theta iota QQQ"
    val t4 = "one two three four five six seven eight nine ten"
    val t4near = "one two three four five six seven eight nine zzz"
    val t5 = "red orange yellow green blue indigo violet umber ochre teal"
    val t1v2 = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    val t7 = "north south east west up down left right front back"

    val run1 = Seq( // batchSize=2: [fresh,fresh], [exact,near], [fresh,exact]
      event(1, t1, 1), event(4, t4, 2),
      event(2, t1, 3), event(3, t1near, 4),
      event(5, t5, 5), event(6, t4, 6))
    val run2 = Seq( // [new version of d1, fresh], [exact of d5, near of d4]
      event(1, t1v2, 7), event(7, t7, 8),
      event(8, t5, 9), event(9, t4near, 10))

    def drive(topic: String, stateDir: String, ckpt: String): Unit = {
      val q = spark.readStream.format("cdc-replay")
        .option("topic", topic).option("replayFrom", "-2")
        .option("batchSize", "2").load()
        .writeStream.foreachBatch(admitBatch(stateDir) _)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    def readState(stateDir: String): Set[(String, String, String, String, Boolean)] =
      spark.read.parquet(stateDir)
        .select(col("Id"), col("Name"), col("valid_from").cast("string"),
          coalesce(col("valid_to").cast("string"), lit("open")), col("is_current"))
        .as[(String, String, String, String, Boolean)].collect().toSet

    // restarted run: 3 triggers, stop, publish more, resume from checkpoint
    val topicA = "t_compose_restart"
    ReplayBus.clear(topicA)
    val stateA = Files.createTempDirectory("compose_a").toString + "/hist"
    val ckptA = Files.createTempDirectory("compose_a_ckpt").toString
    run1.foreach(ReplayBus.publish(topicA, _))
    drive(topicA, stateA, ckptA)
    assert(batchCount.get() >= 3, s"expected >=3 triggers, got ${batchCount.get()}")
    run2.foreach(ReplayBus.publish(topicA, _))
    drive(topicA, stateA, ckptA) // resumes from WAL despite replayFrom=-2

    // reference run: identical events, no restart, fresh state+checkpoint
    val topicB = "t_compose_ref"
    ReplayBus.clear(topicB)
    val stateB = Files.createTempDirectory("compose_b").toString + "/hist"
    val ckptB = Files.createTempDirectory("compose_b_ckpt").toString
    (run1 ++ run2).foreach(ReplayBus.publish(topicB, _))
    drive(topicB, stateB, ckptB)

    assert(readState(stateA) == readState(stateB),
      "restarted composition must equal the single-run state")

    // admission verdicts: dup events rejected, fresh admitted, and the
    // Bloom gate agreed with the digest join everywhere it fired
    val byDoc = statuses.collect { case ((d, c), (s, _)) if c <= 10 => (d, c) -> s }
    assert(byDoc((1L, 1L)) == "admitted" && byDoc((4L, 2L)) == "admitted")
    assert(byDoc((2L, 3L)) == "exact_dup", statuses.toString)
    assert(byDoc((3L, 4L)) == "near_dup", statuses.toString)
    assert(byDoc((5L, 5L)) == "admitted" && byDoc((6L, 6L)) == "exact_dup")
    assert(byDoc((1L, 7L)) == "admitted", "new version of d1 must re-admit")
    assert(byDoc((7L, 8L)) == "admitted")
    assert(byDoc((8L, 9L)) == "exact_dup" && byDoc((9L, 10L)) == "near_dup")
    // every exact_dup was a Bloom hit (no false negatives) and at least
    // one fresh doc took the admitted-fast path (bloom_maybe false)
    statuses.values.foreach { case (s, maybe) => if (s == "exact_dup") assert(maybe) }
    assert(statuses.values.exists { case (s, maybe) => s == "admitted" && !maybe })

    // SCD2 history: d1's first version closed by its second
    val a = spark.read.parquet(stateA).filter(col("Id") === "D1")
      .select(col("Name"), col("is_current")).as[(String, Boolean)].collect().toSet
    assert(a == Set((t1, false), (t1v2, true)), a.toString)
  }

  test("E2E curation ingest: cdc-replay -> decode -> bloom+banded admission " +
      "-> ledger + corpus state, restart-invariant") {
    // the packaged production composition (CurationIngest): same dataflow
    // as the hand-rolled composition test above, but the operator owns the
    // whole foreachBatch body and emits TWO durable artifacts — the
    // admission ledger and the corpus state — both rebuilt-from-disk and
    // idempotent, so a killed-and-resumed query must produce byte-equal
    // artifacts to an uninterrupted run.
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.ReplayBus
    import graft.streaming.CurationIngest
    import java.nio.file.Files

    def event(docId: Long, text: String, commit: Long): String =
      s"""{"schema":"fp","payload":{"Name":"$text","ChangeEventHeader":{""" +
        s""""commitNumber":$commit,"commitUser":"u","sequenceNumber":1,""" +
        s""""entityName":"Document","changeType":"UPDATE",""" +
        s""""changedFields":[],"changeOrigin":"t","transactionKey":"tk$commit",""" +
        s""""commitTimestamp":${1700000000000L + commit * 1000},""" +
        s""""recordIds":["D$docId"]}},"event":{"replayId":$commit}}"""

    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t1near = "alpha beta gamma delta epsilon zeta eta theta iota QQQ"
    val t4 = "one two three four five six seven eight nine ten"
    val t4near = "one two three four five six seven eight nine zzz"
    val t5 = "red orange yellow green blue indigo violet umber ochre teal"
    val t1v2 = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    val t7 = "north south east west up down left right front back"

    val run1 = Seq(
      event(1, t1, 1), event(4, t4, 2),
      event(2, t1, 3), event(3, t1near, 4),
      event(5, t5, 5), event(6, t4, 6))
    val tX = "apple banana cherry date elder fig grape honey kiwi lemon"
    val tXnear = "apple banana cherry date elder fig grape honey kiwi MANGO"
    val run2 = Seq(
      event(1, t1v2, 7), event(7, t7, 8),
      event(8, t5, 9), event(9, t4near, 10),
      // two FRESH mutual near-dups inside ONE batch (batchSize = 2): the
      // corpus has never seen either, so only the intra-batch pass can
      // catch the second (r12 ADVICE)
      event(10, tX, 11), event(11, tXnear, 12))

    def drive(topic: String, corpusDir: String, ledgerDir: String,
              ckpt: String): Unit = {
      val q = spark.readStream.format("cdc-replay")
        .option("topic", topic).option("replayFrom", "-2")
        .option("batchSize", "2").load()
        .writeStream
        .foreachBatch(CurationIngest.foreachBatchCurate(corpusDir, ledgerDir) _)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    def ledgerOf(dir: String): Set[(String, Long, String, String, Option[Boolean])] =
      spark.read.parquet(dir)
        .select(col("Id"), col("commitNumber"), col("text"), col("status"),
          col("bloom_maybe"))
        .as[(String, Long, String, String, Option[Boolean])].collect().toSet

    def corpusTexts(dir: String): Set[(String, String)] =
      spark.read.parquet(dir).select(col("Id"), col("text"))
        .as[(String, String)].collect().toSet

    val topicA = "t_curate_restart"
    ReplayBus.clear(topicA)
    val corpusA = Files.createTempDirectory("curate_a").toString + "/corpus"
    val ledgerA = Files.createTempDirectory("curate_a").toString + "/ledger"
    val ckptA = Files.createTempDirectory("curate_a_ckpt").toString
    run1.foreach(ReplayBus.publish(topicA, _))
    drive(topicA, corpusA, ledgerA, ckptA)
    run2.foreach(ReplayBus.publish(topicA, _))
    drive(topicA, corpusA, ledgerA, ckptA) // resumes from the WAL

    val topicB = "t_curate_ref"
    ReplayBus.clear(topicB)
    val corpusB = Files.createTempDirectory("curate_b").toString + "/corpus"
    val ledgerB = Files.createTempDirectory("curate_b").toString + "/ledger"
    val ckptB = Files.createTempDirectory("curate_b_ckpt").toString
    (run1 ++ run2).foreach(ReplayBus.publish(topicB, _))
    drive(topicB, corpusB, ledgerB, ckptB)

    assert(ledgerOf(ledgerA) == ledgerOf(ledgerB),
      "restarted ledger must equal the single-run ledger")
    assert(corpusTexts(corpusA) == corpusTexts(corpusB),
      "restarted corpus state must equal the single-run state")

    // verdicts recorded in the ledger: dups rejected, fresh admitted,
    // a re-versioned doc re-admitted
    val status = ledgerOf(ledgerA).map(r => (r._1, r._2) -> r._4).toMap
    assert(status(("D1", 1L)) == "admitted" && status(("D4", 2L)) == "admitted")
    assert(status(("D2", 3L)) == "exact_dup")
    // D3 shares its batch with D2 and near-dups it — the INTRA-batch pass
    // claims it before the corpus check runs (sequencing is intra-first)
    assert(status(("D3", 4L)) == "near_dup_in_batch")
    assert(status(("D5", 5L)) == "admitted" && status(("D6", 6L)) == "exact_dup")
    assert(status(("D1", 7L)) == "admitted", "new version of d1 must re-admit")
    assert(status(("D7", 8L)) == "admitted")
    assert(status(("D8", 9L)) == "exact_dup" && status(("D9", 10L)) == "near_dup")
    // the fresh in-batch near-dup pair: clock-earliest admitted, the
    // later one rejected BY THE BATCH (the corpus knew neither)
    assert(status(("D10", 11L)) == "admitted")
    assert(status(("D11", 12L)) == "near_dup_in_batch")
    // Bloom soundness in the recorded trail: every exact_dup was a hit;
    // in-batch rejects never consulted the Bloom (null, not false)
    ledgerOf(ledgerA).foreach { case (_, _, _, s, maybe) =>
      if (s == "exact_dup") assert(maybe.contains(true), "exact dup missed by the Bloom gate")
      if (s.endsWith("_in_batch")) assert(maybe.isEmpty, "in-batch reject must not carry a Bloom verdict")
    }
    // the corpus state holds the latest ADMITTED version per doc: dup
    // events left no rows, and D1 carries its second version
    val texts = corpusTexts(corpusA).toMap
    assert(texts("D1") == t1v2)
    assert(Set("D1", "D4", "D5", "D7", "D10") == texts.keySet,
      s"corpus keys: ${texts.keySet}")
  }

  test("QueryObserver: listener surfaces lifecycle and per-batch progress (§3.3)") {
    implicit val ctx = spark.sqlContext
    val obs = graft.streaming.QueryObserver.attach(spark)
    val stream = MemoryStream[Event]
    val q = stream.toDF().groupBy($"event_type").count()
      .writeStream.format("memory").queryName("obs_out").outputMode("complete").start()
    try {
      stream.addData(ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:01:00"))
      q.processAllAvailable()
      // listener delivery is async — wait briefly for the progress event
      val deadline = System.currentTimeMillis() + 10000
      while (!obs.batches.exists(b => b.queryName == "obs_out" && b.numInputRows == 2) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(obs.started >= 1)
      assert(obs.batches.exists(b => b.queryName == "obs_out" && b.numInputRows == 2))
    } finally {
      q.stop()
      graft.streaming.QueryObserver.detach(spark, obs)
    }
  }

  test("dedupeRedeliveries: same replayId delivered twice emits once; distinct events pass") {
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[String]
    val env = (id: Long, rid: String) =>
      s"""{"schema":"fp","payload":{"ChangeEventHeader":{"commitNumber":1,""" +
        s""""commitUser":"u","sequenceNumber":1,"entityName":"Account",""" +
        s""""changeType":"UPDATE","changedFields":[],"changeOrigin":"t",""" +
        s""""transactionKey":"tk","commitTimestamp":1583300894000,""" +
        s""""recordIds":["$rid"]}},"event":{"replayId":$id}}"""
    val decoded = graft.operators.CdcDecode.decodeJson(stream.toDF(), col("value"))
    val q = graft.streaming.CdcPipeline.dedupeRedeliveries(decoded)
      .select("replayId")
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      stream.addData(env(1, "001A"), env(1, "001A"), env(2, "001A"))
      q.processAllAvailable()
      stream.addData(env(2, "001A"), env(3, "001B")) // cross-batch redelivery of 2
      q.processAllAvailable()
      val ids = spark.table("dedup_out").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L)) // each replayId once; same record id ok (Q6)
    } finally q.stop()
  }

  test("stream-stream join: clicks enriched with purchases within the time bound") {
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val buys = MemoryStream[Event]
    val c = clicks.toDF().select($"user_id", $"ts".as("click_ts"), $"event_id".as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val b = buys.toDF().select($"user_id".as("b_user"), $"ts".as("buy_ts"),
      $"value".as("amount")).withWatermark("buy_ts", "1 hour")
    val joined = c.join(b,
      $"user_id" === $"b_user" &&
        $"buy_ts" >= $"click_ts" && $"buy_ts" <= $"click_ts" + expr("INTERVAL 30 MINUTES"))
    val q = joined.select($"user_id", $"click_id", $"amount")
      .writeStream.format("memory").queryName("ssj_out").outputMode("append").start()
    try {
      clicks.addData(ev(1, "2024-01-01 10:00:00", user = 7))
      buys.addData(Event(100, Timestamp.valueOf("2024-01-01 10:20:00"), 7, "purchase", 9.5))
      buys.addData(Event(101, Timestamp.valueOf("2024-01-01 11:30:00"), 7, "purchase", 1.0))
      q.processAllAvailable()
      val rows = spark.table("ssj_out").as[(Long, Long, Double)].collect()
      assert(rows.toSeq == Seq((7L, 1L, 9.5))) // only the in-window purchase joins
    } finally q.stop()
  }

  test("session_window: native merging sessions match the custom state path " +
      "and the batch form — with the documented end-bound mapping") {
    implicit val ctx = spark.sqlContext
    val gapMs = 10 * 60 * 1000L
    // two users, a burst + a gap-separated singleton, plus a far-future
    // flush event (user 99) that advances the watermark past every real
    // session so append mode emits them all
    // event-time order (watermark delay is 0, so any out-of-order event
    // would be dropped as late — that behavior has its own test)
    val data = Seq(
      ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:05:00"),
      ev(4, "2024-01-01 10:30:00", user = 2L),
      ev(3, "2024-01-01 12:00:00"),
      ev(99, "2024-01-02 00:00:00", user = 99L))

    def run(name: String, mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
      val stream = MemoryStream[Event]
      val q = mk(stream.toDF())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      try {
        data.init.foreach { e => stream.addData(e); q.processAllAvailable() }
        stream.addData(data.last); q.processAllAvailable()
      } finally q.stop()
      spark.table(name)
    }

    val native = run("sw_native",
      df => EventStreamOps.sessionWindowCounts(df, "10 minutes", "0 seconds"))
      .filter($"user_id" =!= 99L)
      .select($"user_id", unix_millis($"session_start"),
        unix_millis($"session_end"), $"n_events")
      .as[(Long, Long, Long, Long)].collect().toSet

    // batch form: identical session_window call over the same rows
    val batch = EventStreamOps.sessionWindowCounts(
        data.toDF(), "10 minutes", "0 seconds")
      .filter($"user_id" =!= 99L)
      .select($"user_id", unix_millis($"session_start"),
        unix_millis($"session_end"), $"n_events")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(native == batch, "streaming append must equal the batch sessions")
    assert(native.size == 3)

    // custom-state twin: same sessions; its end bound is LAST EVENT, the
    // native end is last-event + gap — the exact documented mapping
    val stream = MemoryStream[Event]
    val q = EventStreamOps.sessionize(stream.toDS(), gapMs = gapMs,
        watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("sw_custom")
      .outputMode(OutputMode.Append).start()
    try {
      data.init.foreach { e => stream.addData(e); q.processAllAvailable() }
      stream.addData(data.last); q.processAllAvailable()
    } finally q.stop()
    val custom = spark.table("sw_custom")
      .filter($"user_id" =!= 99L)
      .select($"user_id", $"session_start_ms",
        ($"session_end_ms" + gapMs), $"n_events")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(custom == native,
      "custom-state sessions (end = last event) must map onto native " +
        "session windows (end = last event + gap)")
  }

  test("sessionize: gap splits sessions; in-batch ordering is by (ts, id)") {
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = EventStreamOps.sessionize(stream.toDS(), gapMs = 10 * 60 * 1000L)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append).start()
    try {
      // one user, two bursts separated by > gap: first session closes as
      // soon as the second burst arrives (no timeout needed)
      stream.addData(
        ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:05:00"))
      q.processAllAvailable()
      stream.addData(ev(3, "2024-01-01 12:00:00"))
      q.processAllAvailable()
      val sessions = spark.table("sess_out")
        .select($"user_id", $"n_events").as[(Long, Long)].collect()
      assert(sessions.toSeq == Seq((1L, 2L)))
    } finally q.stop()
  }

  test("PackingIngest: streaming placements equal batch tx26 across " +
      "arbitrary micro-batch chops and a kill+restart (offset in state)") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.PackingIngest
    val cols = Seq("source", "doc_id", "n_bpe", "tok_offset",
      "start_bin", "end_bin", "crosses_boundary")
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .filter($"text".isNotNull)
      .select($"source", $"doc_id", $"text").as[(String, Long, String)]
      .collect().sortBy(_._2) // CDC-replay arrival order: doc_id ascending
    // three deliberately uneven chops
    val chunks = Seq(docs.take(7), docs.slice(7, 160), docs.drop(160))
    val dir = java.nio.file.Files.createTempDirectory("packing").toString
    val out = s"$dir/out"; val ckpt = s"$dir/ckpt"
    val stream = MemoryStream[(String, Long, String)]
    def start() = PackingIngest.packStream(
        stream.toDF.toDF("source", "doc_id", "text"))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()
    var q = start()
    try {
      stream.addData(chunks(0).toSeq); q.processAllAvailable()
      q.stop() // kill between micro-batches …
      q = start() // … and resume from the checkpointed state store
      chunks.drop(1).foreach { c =>
        stream.addData(c.toSeq); q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.read.parquet(out)
      .select(cols.map(col): _*).collect()
      .map(_.toSeq).sortBy(r => (r.head.toString, r(1).asInstanceOf[Long]))
    val want = graft.llmdata.TextAnalysis.bpePackingCore(spark, sf())
      .select(cols.map(col): _*).collect()
      .map(_.toSeq).sortBy(r => (r.head.toString, r(1).asInstanceOf[Long]))
    assert(got.length == want.length,
      s"row count: ${got.length} != ${want.length}")
    assert(got.sameElements(want),
      "streaming placements must be row-identical to batch tx26")
    // in-order arrival ⇒ the order sentinel never fires: zero flags is
    // the certificate that batch-parity held for this run
    assert(spark.read.parquet(out).filter($"arrived_late").count() == 0L,
      "in-order arrival must produce no arrived_late flags")
  }

  test("PackingIngest: incremental shard segments equal the batch shard " +
      "files across chops, and a replayed batch changes nothing") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.PackingIngest
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .filter($"text".isNotNull)
      .select($"source", $"doc_id", $"text").as[(String, Long, String)]
      .collect().sortBy(_._2)
    val chunks = Seq(docs.take(7), docs.slice(7, 160), docs.drop(160))
    val dir = java.nio.file.Files.createTempDirectory("shard_inc").toString
    val out = s"$dir/segs"
    val stream = MemoryStream[(String, Long, String)]
    val q = PackingIngest.packStream(
        stream.toDF.toDF("source", "doc_id", "text"))
      .writeStream
      .foreachBatch(PackingIngest.foreachBatchShardSegments(out) _)
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode(OutputMode.Append).start()
    try chunks.foreach { c => stream.addData(c.toSeq); q.processAllAvailable() }
    finally q.stop()
    def canon(p: String, drop: Seq[String]): Seq[String] = {
      val df = spark.read.parquet(p)
      df.select(df.columns.filterNot(drop.contains).sorted
          .map(c => col(c).cast("string")): _*)
        .collect().map(_.toString).sorted.toSeq
    }
    // content-identical to the batch writer (in-order arrival)
    val out2 = s"$dir/segs_batch"
    graft.llmdata.Curation.writeShardFiles(spark, sf(), out2)
    assert(canon(out, Seq("batch_id")) == canon(out2, Seq()),
      "incremental segments must equal the batch shard files")
    // exactly-once: replaying the LAST chop (same batchId, same
    // state-deterministic placements) rewrites its own partitions with
    // identical rows — nothing changes
    val before = canon(out, Seq())
    val chopIds = chunks(2).map(_._2).toSet
    val placements = graft.llmdata.TextAnalysis.bpePackingCore(spark, sf())
      .filter($"doc_id".isin(chopIds.toSeq: _*))
      .select($"source", $"doc_id", $"n_bpe", $"tok_offset",
        $"start_bin", $"end_bin", $"crosses_boundary",
        org.apache.spark.sql.functions.lit(false).as("arrived_late"))
      .as[graft.streaming.PackPlacement]
    PackingIngest.foreachBatchShardSegments(out)(placements, 2L)
    assert(canon(out, Seq()) == before, "replayed batch must change nothing")
  }

  test("PackingIngest: out-of-order arrival is detectably flagged, never " +
      "silently corrupted — arrival order is the pack order") {
    implicit val ctx = spark.sqlContext
    import graft.streaming.PackingIngest
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .filter($"text".isNotNull)
      .select($"source", $"doc_id", $"text").as[(String, Long, String)]
      .collect().sortBy(_._2)
    val median = docs(docs.length / 2)._2
    // a crawl-frontier chop: the HIGH half of every source arrives first
    val (hi, lo) = (docs.filter(_._2 >= median), docs.filter(_._2 < median))
    val dir = java.nio.file.Files.createTempDirectory("packing_ooo").toString
    val stream = MemoryStream[(String, Long, String)]
    val q = PackingIngest.packStream(
        stream.toDF.toDF("source", "doc_id", "text"))
      .writeStream.format("parquet").option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(hi.toSeq); q.processAllAvailable()
      stream.addData(lo.toSeq); q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(s"$dir/out").collect()
    assert(got.length == docs.length, "no document lost or duplicated")
    // DETECTABILITY: flagged exactly = late-trigger rows whose source
    // already placed a higher doc_id (every hi id > every lo id, so:
    // lo rows of sources present in hi)
    val hiSources = hi.map(_._1).toSet
    val expectFlag = lo.filter(d => hiSources(d._1))
      .map(d => (d._1, d._2)).toSet
    val gotFlag = got.filter(_.getAs[Boolean]("arrived_late"))
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"))).toSet
    assert(gotFlag == expectFlag, "flag set must be exactly the late arrivals")
    assert(gotFlag.nonEmpty, "this chop must produce late arrivals")
    // NO CORRUPTION: per source, placements are contiguous in arrival
    // order (offsets tile the token stream exactly once) and the token
    // total equals the batch packer's
    got.groupBy(_.getAs[String]("source")).foreach { case (src, rows) =>
      val byOff = rows.sortBy(_.getAs[Long]("tok_offset"))
      var off = 0L
      byOff.foreach { r =>
        assert(r.getAs[Long]("tok_offset") == off,
          s"$src: offset gap at doc ${r.getAs[Long]("doc_id")}")
        off += r.getAs[Long]("n_bpe")
        assert(r.getAs[Long]("end_bin") >= r.getAs[Long]("start_bin"))
      }
    }
    val batchTotals = graft.llmdata.TextAnalysis.bpePackingCore(spark, sf())
      .groupBy($"source").agg(org.apache.spark.sql.functions.sum($"n_bpe"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got.groupBy(_.getAs[String]("source")).foreach { case (src, rows) =>
      assert(rows.map(_.getAs[Long]("n_bpe")).sum == batchTotals(src),
        s"$src: token total diverged from batch")
    }
  }
}
