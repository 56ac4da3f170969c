package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.BenchListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.types.DecimalType

/** Per-job-group task totals. Jobs carry the group set by `setJobGroup`,
  * so each query's work is attributed to it without a counter window. */
final class GroupMetrics extends SparkListener {
  final class Acc {
    var jobs = 0L; var tasks = 0L; var executorMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L
  }
  private val byGroup = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def acc(g: String): Acc = byGroup.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      acc(g).synchronized(acc(g).jobs += 1)
      e.stageIds.foreach(stageGroup.put(_, g))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val a = acc(g)
      a.synchronized {
        a.tasks += 1
        a.executorMs += m.executorRunTime
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def get(group: String): Acc = acc(group)
}

/** Closed loop, one client: a sample of `SparkEntry.queries` on the
  * committed fixture tables. First an untimed warm-up pass, family by
  * family, that checks every result against the committed expected row
  * count and content hash, runs each query once more in full, and notes
  * which cached blocks each family adds.
  * Then timed full executions (`write.format("noop")`, so no column or
  * join is pruned away) on the caches the warm-up built: the same number
  * of passes over every query, each pass in an order the seed shuffles.
  * Then the session caches are released; what a family cached and the
  * release left behind is its pinned storage. */
object Battery {
  val AnalyticsFamilies: Set[String] = Set("q", "ev", "cdc", "fm")
  val Families: Seq[String] = Seq("cdc", "cur", "dd", "ev", "fm", "mm", "q", "ss", "tx")

  /** One query per family: the one at the family's median warm
    * full-execution time, measured over all 208 queries on 4 cores when the
    * benchmark was defined. All 208 take about 145 s cold and 80 s warm at
    * this scale, more than one run may take. */
  val Queries: Seq[String] = Seq(
    "cdc2_route_enrich", "cur9_token_budget", "dd5_simhash_neardup", "ev2_sessionize",
    "fm2_fuzzy_match_minhash", "mm10_interleaved_packing", "q30_range_join",
    "ss20_graph_serve_filtered", "tx4_quality_score")

  /** Timed passes for a run of `seconds`, one per 4 s; one pass of the
    * nine queries takes about 5 s on 4 cores. Fixed by the run length, not
    * by measured times, so every query gets the same weight whatever the
    * code's speed. */
  def passes(seconds: Double): Int = math.max(3, math.round(seconds / 4).toInt)

  def family(name: String): String = name.takeWhile(!_.isDigit)

  final case class Expected(rows: Long, hash: String, twin: String)

  /** Row count and an order-independent content hash: the exact decimal sum
    * of one 64-bit hash per row over all columns (renamed by position, so
    * duplicate column names cannot collide). */
  def fingerprint(df: DataFrame): (Long, String) = {
    val byPos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val row = byPos.agg(
      count(lit(1)),
      sum(xxhash64(byPos.columns.toIndexedSeq.map(col): _*).cast(DecimalType(20, 0))))
      .head()
    (row.getLong(0), Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  def readExpected(path: Path): Map[String, Expected] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new String(Files.readAllBytes(path), StandardCharsets.UTF_8))
    root.properties().asScala.map { e =>
      e.getKey -> Expected(e.getValue.get("rows").asLong(), e.getValue.get("hash").asText(),
        e.getValue.get("twin").asText())
    }.toMap
  }

  /** Cached RDDs and their MB in memory and on disk. */
  private def storage(spark: SparkSession): Map[Int, Double] =
    spark.sparkContext.getRDDStorageInfo.map(r => r.id -> (r.memSize + r.diskSize) / 1e6).toMap

  def run(spark: SparkSession, dataDir: String, expectedPath: Path, seed: Long,
          seconds: Double, trace: Trace, setupS: Double): Result = {
    val expected = readExpected(expectedPath)
    val listener = new GroupMetrics
    spark.sparkContext.addSparkListener(listener)
    val sc = spark.sparkContext
    val all = graft.SparkEntry.queries
    val queries = Queries.map(q => q -> all(q))
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def fail(name: String, e: Exception): Unit =
      failures(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"

    val warmupS = scala.collection.mutable.Map.empty[String, Double]
    val cachedBy = scala.collection.mutable.Map.empty[String, Map[Int, Double]]
    Families.foreach { fam =>
      val before = storage(spark)
      val w0 = System.nanoTime()
      trace.span("battery.warmup", fam) {
        queries.filter(q => family(q._1) == fam).foreach { case (name, fn) =>
          sc.setJobGroup(s"w:$name", name, interruptOnCancel = false)
          trace.span("battery.check", name) {
            try {
              val got = fingerprint(fn(spark, dataDir))
              expected.get(name) match {
                case None => failures(name) = "no expected value"
                case Some(e) if e.rows != got._1 || e.hash != got._2 =>
                  failures(name) = s"expected rows=${e.rows} hash=${e.hash}, got rows=${got._1} hash=${got._2}"
                case _ => ()
              }
              // one full execution more, so the timed passes start on a warmer JIT
              fn(spark, dataDir).write.format("noop").mode("overwrite").save()
            } catch { case e: Exception => fail(name, e) }
          }
        }
      }
      warmupS(fam) = (System.nanoTime() - w0) / 1e9
      sc.clearJobGroup()
      cachedBy(fam) = storage(spark) -- before.keys
    }

    val rnd = new scala.util.Random(seed)
    val n = passes(seconds)
    val ok = queries.filterNot(q => failures.contains(q._1))
    val timedMs = scala.collection.mutable.Map.empty[String, Seq[Double]]
    for (_ <- 1 to n; (name, fn) <- rnd.shuffle(ok)) {
      sc.setJobGroup(s"t:$name", name, interruptOnCancel = false)
      trace.span("battery.query", name) {
        val q0 = System.nanoTime()
        try {
          fn(spark, dataDir).write.format("noop").mode("overwrite").save()
          timedMs(name) = timedMs.getOrElse(name, Nil) :+ (System.nanoTime() - q0) / 1e6
        } catch { case e: Exception => fail(name, e) }
      }
      sc.clearJobGroup()
    }
    trace.span("battery.release")(graft.llmdata.Dedup.uncacheShingles(spark))
    val left = storage(spark)
    val pinnedMb = Families.map(f => f -> cachedBy(f).keys.flatMap(left.get).sum).toMap
    BenchListenerBus.drain(sc)
    spark.sparkContext.removeSparkListener(listener)

    val perQueryMs = timedMs.view.mapValues(Stats.median).toMap
    val famMetrics = Families.flatMap { fam =>
      val names = Queries.filter(family(_) == fam)
      val accs = names.map(q => listener.get(s"t:$q"))
      val wallS = names.flatMap(perQueryMs.get).sum / 1e3
      def per(v: Double) = v / n
      val execS = per(accs.map(_.executorMs).sum / 1e3)
      Seq(
        Metric(s"battery.$fam.wall_s", "s", wallS),
        Metric(s"battery.$fam.warmup_s", "s", warmupS(fam)),
        Metric(s"battery.$fam.jobs", "count", per(accs.map(_.jobs).sum.toDouble)),
        Metric(s"battery.$fam.tasks", "count", per(accs.map(_.tasks).sum.toDouble)),
        Metric(s"battery.$fam.executor_s", "s", execS),
        Metric(s"battery.$fam.parallelism", "ratio", if (wallS > 0) execS / wallS else 0.0),
        Metric(s"battery.$fam.shuffle_mb", "MB", per(accs.map(_.shuffleBytes).sum / 1e6)),
        Metric(s"battery.$fam.spill_mb", "MB", per(accs.map(_.spillBytes).sum / 1e6)),
        Metric(s"battery.$fam.pinned_mb", "MB", pinnedMb(fam)))
    }
    val execs = timedMs.values.flatten.toSeq
    def famSum(fs: String => Boolean) =
      perQueryMs.filter(q => fs(family(q._1))).values.sum / 1e3
    Result(
      attempted = Queries.size,
      failed = failures.size,
      metrics = Seq(
        Metric("latency_p50_ms", "ms", Stats.pct(execs, 0.5)),
        Metric("latency_p90_ms", "ms", Stats.pct(execs, 0.9)),
        Metric("throughput_per_s", "1/s", execs.size / (execs.sum / 1e3)),
        Metric("setup_s", "s", setupS + warmupS.values.sum),
        Metric("battery.analytics_s", "s", famSum(AnalyticsFamilies)),
        Metric("battery.llmdata_s", "s", famSum(f => !AnalyticsFamilies(f)))) ++ famMetrics,
      details = Seq(
        "passes" -> n.toString,
        "cached_mb" -> Json.obj(Families.map(f => f -> Json.num(cachedBy(f).values.sum))),
        "executions_timed" -> execs.size.toString,
        "twin_fail" -> Json.obj(Queries.filter(q => expected.get(q).exists(_.twin == "fail"))
          .map(k => k -> Json.str(failures.getOrElse(k, "ok")))),
        "failures" -> Json.obj(failures.toSeq.map { case (k, v) => k -> Json.str(v) }),
        // listener totals over all of the query's timed executions
        "per_query_ms" -> Json.obj(perQueryMs.toSeq.sortBy(_._1).map { case (k, v) =>
          val a = listener.get(s"t:$k")
          k -> Json.obj(Seq("ms" -> Json.num(v), "executions" -> timedMs(k).size.toString,
            "jobs" -> a.jobs.toString,
            "tasks" -> a.tasks.toString, "executor_ms" -> a.executorMs.toString,
            "shuffle_bytes" -> a.shuffleBytes.toString, "spill_bytes" -> a.spillBytes.toString))
        })))
  }
}
