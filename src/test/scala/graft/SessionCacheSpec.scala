package graft

import graft.llmdata.{Dedup, SessionCache}

/** Releasing the session caches must free every block they pinned — also
  * the blocks of `localCheckpoint()`ed frames, which `Dataset.unpersist`
  * alone leaves in place. */
class SessionCacheSpec extends SparkSpec {

  test("cache release frees checkpointed blocks: a union of checkpointed " +
      "pieces and a persisted frame over a checkpoint") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // a cache no engine code names: the one release list must still reach it
    val cache = SessionCache.persisted()
    val union = cache.get(spark, "union")(
      spark.range(0, 50).localCheckpoint().union(spark.range(50, 100).localCheckpoint())
        .toDF())
    val persisted = cache.get(spark, "persisted")(
      spark.range(0, 100).localCheckpoint().selectExpr("id * 2 AS x").persist())
    assert(union.count() == 100 && persisted.count() == 100)
    val pinned = sc.getPersistentRDDs.keySet -- before
    assert(pinned.size == 4, s"two pieces, one checkpoint, one cached frame: $pinned")
    Dedup.uncacheShingles(spark)
    val left = sc.getPersistentRDDs.keySet.intersect(pinned)
    assert(left.isEmpty, s"RDDs still pinned after the release: $left")
  }
}
