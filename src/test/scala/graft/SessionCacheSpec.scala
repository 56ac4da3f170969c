package graft

import org.apache.spark.sql.GraftCheckpoint.pin

import graft.llmdata.{Dedup, SessionCache}

/** Releasing the session caches must free every block they pinned — also
  * the blocks of checkpointed frames (`GraftCheckpoint.pin`), which
  * `Dataset.unpersist` alone leaves in place. */
class SessionCacheSpec extends SparkSpec {

  test("cache release frees checkpointed blocks: a union of checkpointed " +
      "pieces and a persisted frame over a checkpoint") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // a cache no engine code names: the one release list must still reach it
    val cache = SessionCache.persisted()
    val union = cache.get(spark, "union")(
      pin(spark.range(0, 50).toDF()).union(pin(spark.range(50, 100).toDF())))
    val persisted = cache.get(spark, "persisted")(
      pin(spark.range(0, 100).toDF()).selectExpr("id * 2 AS x").persist())
    assert(union.count() == 100 && persisted.count() == 100)
    val pinned = sc.getPersistentRDDs.keySet -- before
    assert(pinned.size == 4, s"two pieces, one checkpoint, one cached frame: $pinned")
    Dedup.uncacheShingles(spark)
    val left = sc.getPersistentRDDs.keySet.intersect(pinned)
    assert(left.isEmpty, s"RDDs still pinned after the release: $left")
  }

  test("storage ledger: one battery query per family, then uncacheShingles, " +
      "leaves no persisted RDD beyond the family's baseline") {
    val sc = spark.sparkContext
    val families = Seq("cdc2_route_enrich", "cur9_token_budget", "dd5_simhash_neardup",
      "ev2_sessionize", "fm2_fuzzy_match_minhash", "mm10_interleaved_packing",
      "q30_range_join", "ss20_graph_serve_filtered", "tx4_quality_score")
    val leaks = families.flatMap { q =>
      // a difference, not an equality: the ContextCleaner may drop older
      // unreachable RDDs meanwhile
      val before = sc.getPersistentRDDs.keySet.toSet
      SparkEntry.queries(q)(spark, sf()).write.format("noop").mode("overwrite").save()
      Dedup.uncacheShingles(spark)
      val left = sc.getPersistentRDDs.keySet.toSet -- before
      if (left.isEmpty) None else Some(s"$q: ${left.toSeq.sorted.mkString(",")}")
    }
    assert(leaks.isEmpty, s"RDDs still pinned after the release: ${leaks.mkString("; ")}")
  }

  test("each micro-batch releases what it pins: AnnIngest.upsertVectors, " +
      "AnnIngest.compact and CurationIngest.foreachBatchCurate leave no " +
      "new persisted RDD") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.{col, max => fmax}
    import spark.implicits._
    import graft.streaming.{AnnIngest, CurationIngest}
    val sc = spark.sparkContext
    // the ids a call leaves behind; a difference, not an equality, because
    // the ContextCleaner may drop older unreachable RDDs meanwhile
    def leftPinned(call: => Unit): Set[Int] = {
      val before = sc.getPersistentRDDs.keySet
      call
      sc.getPersistentRDDs.keySet.toSet -- before
    }
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val maxId = emb.agg(fmax(col("vec_id"))).collect()(0).getLong(0)
    val holdOut = maxId - 3
    val tmp = Files.createTempDirectory("pin_release").toString
    emb.filter(col("vec_id") < holdOut).write.parquet(s"$tmp/fixture/embeddings.parquet")
    val idx = s"$tmp/idx"
    AnnIngest.writeAnnIndex(spark, s"$tmp/fixture", idx)
    val batch = emb.filter(col("vec_id") >= holdOut)
      .select(col("vec_id"), col("embedding"))
    val upsert = leftPinned(AnnIngest.upsertVectors(spark, idx, batch, batchId = 0L))
    assert(upsert.isEmpty, s"upsertVectors left RDDs pinned: $upsert")
    val compact = leftPinned(AnnIngest.compact(spark, idx))
    assert(compact.isEmpty, s"compact left RDDs pinned: $compact")

    def event(docId: Long, text: String, commit: Long): String =
      s"""{"schema":"fp","payload":{"Name":"$text","ChangeEventHeader":{""" +
        s""""commitNumber":$commit,"commitUser":"u","sequenceNumber":1,""" +
        s""""entityName":"Document","changeType":"UPDATE",""" +
        s""""changedFields":[],"changeOrigin":"t","transactionKey":"tk$commit",""" +
        s""""commitTimestamp":${1700000000000L + commit * 1000},""" +
        s""""recordIds":["D$docId"]}},"event":{"replayId":$commit}}"""
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val envelopes = Seq(event(1, t1, 1), event(2, t1, 2),
      event(3, "one two three four five six seven eight nine ten", 3)).toDF("value")
    val curate = leftPinned(CurationIngest.foreachBatchCurate(
      s"$tmp/corpus", s"$tmp/ledger")(envelopes, 0L))
    assert(curate.isEmpty, s"foreachBatchCurate left RDDs pinned: $curate")
    assert(spark.read.parquet(s"$tmp/ledger").count() == 3)
  }
}
