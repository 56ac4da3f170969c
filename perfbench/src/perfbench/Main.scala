package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** One benchmark run in its own JVM:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --cores <n> --bench-dir <dir> --work <dir> --result <file>
  *
  * writes every metric it measured, with attempted/failed counts, to the
  * result file as one JSON object. `run.py` selects and prints them.
  *
  *   perfbench.Main --derive <verify dump dir> --twins <check_oracle log> --result <file>
  *
  * derives the battery's expected values from a `graft.Verify` dump. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opt.contains("derive")) derive(opt("derive"), opt("twins"), opt("result"))
    else run(opt)
  }

  private def run(opt: Map[String, String]): Unit = {
    val t0 = System.nanoTime()
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = new Trace(opt("trace") == "1")
    val cores = opt("cores").toInt
    val benchDir = opt("bench-dir")
    val work = opt("work")
    val spark = Session.create(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val result = try workload match {
      case "cdc_backfill" =>
        CdcBackfill.run(spark, seed, seconds, trace, s"$work/backfill", sessionS)
      case "battery" =>
        Battery.run(spark, s"$benchDir/data/sf0.001",
          Paths.get(s"$benchDir/expected/battery_sf0.001.json"), seed, seconds, trace, sessionS)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally spark.stop()
    if (trace.on) trace.writeJsonLines(Paths.get(opt("result") + ".spans.jsonl"))
    val json = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "cores" -> cores.toString,
      "trace" -> trace.on.toString,
      "attempted" -> result.attempted.toString,
      "failed" -> result.failed.toString,
      "metrics" -> Json.obj(result.metrics.map(m =>
        m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit))))),
      "details" -> Json.obj(result.details)))
    Files.write(Paths.get(opt("result")), (json + "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** Expected battery values from a `graft.Verify` dump: row count and
    * content hash of each query's parquet output, and whether the query
    * passed its DuckDB twin in `tools/check_oracle.py`'s log ("none" when
    * it has no twin, so only its rows are compared to the dump). */
  private def derive(dumpDir: String, twinsLog: String, resultPath: String): Unit = {
    val spark = Session.create(Runtime.getRuntime.availableProcessors(),
      Files.createTempDirectory("perfbench-derive").toString)
    val twin = scala.io.Source.fromFile(twinsLog).getLines().flatMap { l =>
      l.split(" ", 3) match {
        case Array("PASS", n, _*) => Some(n -> "pass")
        case Array("FAIL", n, _*) => Some(n.stripSuffix(":") -> "fail")
        case _ => None
      }
    }.toMap
    val entries = graft.SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val (rows, hash) = Battery.fingerprint(spark.read.parquet(s"$dumpDir/$name"))
      name -> Json.obj(Seq("rows" -> rows.toString, "hash" -> Json.str(hash),
        "twin" -> Json.str(twin.getOrElse(name, "none"))))
    }
    Files.write(Paths.get(resultPath),
      entries.map { case (k, v) => s"  ${Json.str(k)}: $v" }
        .mkString("{\n", ",\n", "\n}\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
