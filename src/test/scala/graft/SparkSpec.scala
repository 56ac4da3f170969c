package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites — one session per JVM (Spark reuses the
  * active session across suites via getOrCreate). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder(4)
    .appName("graft-test")
    .getOrCreate()

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}
