package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftCheckpoint.pin
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils

import graft.llmdata.Similarity

/** A pinned frame's `LogicalRDD` leaf carries its measured size, so the
  * planner's estimates stay near the data however many pinned rounds a
  * loop runs. Spark's own checkpoint leaf keeps the source plan's
  * estimate, and join estimates multiply: the digit count doubled every
  * round. */
class CheckpointSpec extends SparkSpec {

  private def estimate(df: DataFrame) = df.queryExecution.optimizedPlan.stats

  test("twelve pinned self-join rounds keep the size estimate bounded") {
    var df = pin(spark.range(0, 100).toDF("id"))
    for (_ <- 1 to 12)
      df = pin(df.alias("a").join(df.alias("b"), Seq("id")).distinct())
    val st = estimate(df)
    assert(st.sizeInBytes < BigInt(10).pow(6),
      s"estimate grew to ${st.sizeInBytes.toString.length} digits")
    assert(st.rowCount.contains(BigInt(100)), s"row count ${st.rowCount}")
  }

  test("the converged kNN graph's estimate is within 100x of its true size") {
    val g = Similarity.knnGraphConverged(spark, sf())
    val est = estimate(g).sizeInBytes
    val truth = BigInt(g.count()) *
      EstimationUtils.getSizePerRow(g.queryExecution.optimizedPlan.output)
    assert(est <= truth * 100 && est * 100 >= truth,
      s"estimate $est (${est.toString.length} digits) vs rows x width $truth")
  }
}
