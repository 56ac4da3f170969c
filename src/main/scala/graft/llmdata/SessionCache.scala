package graft.llmdata

import org.apache.spark.sql.{DataFrame, GraftCheckpoint, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Session-scoped materialization cache — the "materialize once per corpus
  * snapshot" artifact store behind the shingle/pair/signature/codebook/
  * PQ-index caches (SURVEY.md §9). One implementation so the three-part
  * idiom every cache needs — key on the session OBJECT (reference equality;
  * hash values can collide across sessions and would hand one session a
  * frame bound to another's stopped context), sweep entries of stopped
  * sessions, release storage on clear — cannot drift between copies.
  *
  * Every cache registers itself at construction, and
  * [[SessionCache.clearAll]] (reached via `Dedup.uncacheShingles`) clears
  * them all, so a new cache cannot be left off a hand-kept release list.
  *
  * Staleness contract (shared by every user): the key is (session, logical
  * key), not a data fingerprint — rewrite the parquet under a cached dir
  * within a live session and the cache keeps serving the old snapshot
  * until `clearAll`.
  */
private[graft] final class SessionCache[V](onRemove: V => Unit) {
  private val entries =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), V]

  SessionCache.registry.add(this)

  /** Fetch-or-build. Entries of stopped sessions are swept first; their
    * contexts (and any pinned storage) are already gone, so `onRemove` is
    * deliberately NOT called for them — only the strong references drop. */
  def get(spark: SparkSession, key: String)(build: => V): V = {
    entries.keys.filter(_._1.sparkContext.isStopped).foreach(entries.remove)
    entries.getOrElseUpdate((spark, key), build)
  }

  /** Drop this session's entries, releasing each via `onRemove`. */
  private def clear(spark: SparkSession): Unit =
    entries.keys.filter(_._1 eq spark).foreach { k =>
      entries.remove(k).foreach(onRemove)
    }
}

private[graft] object SessionCache {
  private val registry =
    new java.util.concurrent.CopyOnWriteArrayList[SessionCache[_]]()

  /** Clear this session's entries in every cache constructed so far. One
    * list, so caches that share checkpointed leaves (a frame built over
    * another cache's pinned frame) are always released together. Then free every
    * pin no cache owns, such as the subtree a query pins for its own two
    * consumers, so a family's release returns the storage ledger to its
    * baseline without waiting for a garbage collection. */
  def clearAll(spark: SparkSession): Unit = {
    registry.forEach(_.clear(spark))
    GraftCheckpoint.releaseAll(spark)
  }

  /** Release a cached frame's storage: unpersist the frame, then the RDD
    * behind every `LogicalRDD` leaf of its plan. A pinned frame
    * (`GraftCheckpoint.pin`) is such a leaf, and `Dataset.unpersist`
    * alone frees neither it nor a union or persisted frame built over it —
    * those blocks stay in `getPersistentRDDs` until the session ends. */
  def release(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    df.queryExecution.logical
      .collectWithSubqueries { case r: LogicalRDD => r.rdd }
      .foreach(_.unpersist(blocking = false))
  }

  /** The frames one unit of work pinned; see [[withPins]]. */
  final class Pins private[SessionCache] () {
    private[SessionCache] val held =
      scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    /** `GraftCheckpoint.pin`, released when the scope ends. */
    def pin(df: DataFrame): DataFrame = {
      val p = GraftCheckpoint.pin(df)
      held += p
      p
    }
  }

  /** Run `body`, then [[release]] every frame it pinned through its
    * [[Pins]], also when it throws: what a micro-batch pins is freed
    * within that batch instead of waiting for a garbage collection to
    * let the ContextCleaner reclaim it. */
  def withPins[T](body: Pins => T): T = {
    val pins = new Pins
    try body(pins) finally pins.held.foreach(release)
  }

  /** The common case: cached DataFrames, storage released on clear. */
  def persisted(): SessionCache[DataFrame] = new SessionCache[DataFrame](release)
}
