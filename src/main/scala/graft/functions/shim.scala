package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.DataType

/** Bridge between graft's native functions and the public Column API (the
  * Expression<->Column converters and `AbstractDataType` are private[sql]
  * in Spark 4's classic module). */
object GraftColumn {
  def of(e: Expression): Column = ExpressionUtils.column(e)
  def expr(c: Column): Expression = ExpressionUtils.expression(c)

  /** `obj.fn(args)` as one Catalyst call through Spark's `StaticInvoke`:
    * codegen emits the direct static call (so the helper stays inside
    * WholeStageCodegen), and with codegen off it is evaluated by
    * reflection. A null argument yields null without calling `fn`;
    * `inputTypes` is the analysis-time type check (one per argument);
    * `returnsNull` says whether `fn` itself may return null, which sets
    * the result's nullability. */
  def staticCall(obj: AnyRef, fn: String, out: DataType, args: Seq[Column],
      inputTypes: Seq[DataType], returnsNull: Boolean): Column =
    of(StaticInvoke(obj.getClass, out, fn, args.map(expr), inputTypes,
      returnNullable = returnsNull))
}

/** The engine's one checkpoint policy. Every frame the engine pins — an
  * iterated loop's round, a subtree read by several consumers, a cached
  * index artifact — goes through [[pin]]; `EntrySpec` keeps Spark's local
  * checkpoint call in this file only.
  *
  * Local, not `persist` and not a reliable checkpoint: the pinned frame
  * becomes a `LogicalRDD` leaf, so every consumer plans against a flat
  * lineage and never re-analyzes (or re-executes) the build plan behind
  * it. A persisted frame keeps that whole plan, and Catalyst re-walks it
  * on every downstream action. The price is fault tolerance: the blocks
  * live only in the executors' block managers, with no lineage to
  * recompute them, so a lost executor fails the query. Every query and every
  * micro-batch is a unit of work that is re-run whole, so nothing relies
  * on the lineage. (`CdcPipeline`'s staged batch is the one frame that
  * needs `persist(MEMORY_AND_DISK)` instead; it keeps its own contract.)
  *
  * The leaf carries its measured size. Spark's checkpoint leaf keeps the
  * source plan's size estimate, and join estimates multiply their
  * children's sizes, so a checkpointed loop's estimate doubled its digit
  * count every round: planning a deep graph walk spent minutes in
  * `BigInteger` multiplication, and the inflated sizes kept small frames
  * from broadcasting. [[pin]] rebuilds the leaf with rows × the schema's
  * row width (`EstimationUtils.getSizePerRow`) and the row count, and
  * keeps the leaf's inferred constraints. It is not sized from
  * `SparkContext.getRDDStorageInfo`, which walks every block of every
  * cached RDD on each call.
  *
  * Release: `SessionCache.release` frees the blocks behind every
  * `LogicalRDD` leaf of a frame, so releasing a frame built over pinned
  * pieces frees them all. `Dedup.uncacheShingles` releases every session
  * cache's entries and then every pin still reachable ([[releaseAll]]),
  * also those a query pinned for its own plan; a `foreachBatch` function
  * pins through `SessionCache.withPins`, which releases its pins before
  * the batch returns. */
object GraftCheckpoint {
  // weakly held, so an unreachable pin is still left to the ContextCleaner
  private val live = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(new java.util.WeakHashMap[RDD[_], java.lang.Boolean]))

  /** Pin `df` and materialize it with one job — the row count, which is
    * the job Spark's eager checkpoint runs anyway. */
  def pin(df: DataFrame): DataFrame = {
    val leaf = df.localCheckpoint(eager = false).queryExecution.logical
      .asInstanceOf[LogicalRDD]
    live.add(leaf.rdd)
    val rows = leaf.rdd.count()
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val size = EstimationUtils.getSizePerRow(leaf.output) * rows
    classic.Dataset.ofRows(session, leaf.copy()(session,
      Some(Statistics(size, Some(BigInt(rows)))), Some(leaf.constraints)))
  }

  /** Free the blocks of every pin of `spark`'s context that is still
    * reachable. A frame that reads one of them fails afterwards. */
  def releaseAll(spark: SparkSession): Unit = {
    val pins = live.synchronized(new java.util.ArrayList[RDD[_]](live))
    pins.forEach { rdd =>
      if (rdd.sparkContext eq spark.sparkContext) {
        rdd.unpersist(blocking = false)
        live.remove(rdd)
      }
    }
  }
}
