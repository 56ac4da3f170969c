package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

import graft.llmdata.{Dedup, Similarity, TextAnalysis}
import graft.relational.{EventsAnalytics, Relational}

/** Physical-plan quality gates — the 100 TB posture, asserted, not hoped:
  * filters reach the parquet scan, column pruning holds, dimension joins
  * broadcast, top-k compiles to TakeOrderedAndProject, and the vector hot
  * path stays inside WholeStageCodegen. A regression in any of these is a
  * scale bug even while results stay correct. */
class PlanQualitySpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q3: all three predicates push into the parquet scan") {
    val p = plan(Relational.q3RevenueFilter(spark, sf()))
    assert(p.contains("PushedFilters:"))
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("l_shipdate") && pushed.contains("l_discount") &&
      pushed.contains("l_quantity"), pushed)
  }

  test("q1: scan reads only the columns the query needs (pruning)") {
    val p = plan(Relational.q1PricingSummary(spark, sf()))
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("l_returnflag") && read.contains("l_quantity"))
    assert(!read.contains("l_partkey") && !read.contains("l_suppkey"), read)
  }

  test("q5: snowflake dimensions broadcast; no cartesian products anywhere") {
    val p = plan(Relational.q5NationRevenue(spark, sf()))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
    // the only sort-merge-or-shuffle join keys are the fact-fact orderkey
    assert(p.contains("Exchange") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"))
  }

  test("q2: ORDER BY + LIMIT compiles to TakeOrderedAndProject (no global sort)") {
    val p = plan(Relational.q2MarketRevenue(spark, sf()))
    assert(p.contains("TakeOrderedAndProject"), p.linesIterator.take(30).mkString("\n"))
  }

  test("broadcast hints only on fixed-cardinality dims — SF-scaling tables left to AQE") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    def hintCount(df: DataFrame): Int =
      df.queryExecution.analyzed.collect { case h: ResolvedHint => h }.size
    // a hint overrides AQE's size check: on customer / the q18 qualifying
    // set (both grow with SF) it becomes a forced multi-GB build at 100×
    assert(hintCount(Relational.q2MarketRevenue(spark, sf())) == 0,
      "q2 must not hint-broadcast customer")
    assert(hintCount(Relational.q18BigOrders(spark, sf())) == 0,
      "q18 must not hint-broadcast the HAVING set or customer")
    assert(hintCount(Relational.q5NationRevenue(spark, sf())) == 2,
      "q5 hints exactly nation + region (fixed 25/5 rows)")
    // the planner already broadcasts these sides at fixture scale; a hint
    // would only stop the shuffle fallback once they outgrow the threshold
    assert(hintCount(Relational.q42ProfitRollup(spark, sf())) == 0,
      "q42 must not hint-broadcast supplier or nation")
    assert(hintCount(Dedup.decontaminate(spark, sf())) == 0,
      "dd13 must not hint-broadcast the eval gram set")
    assert(hintCount(Dedup.incrementalDedup(spark, sf())) == 0,
      "dd12 must not hint-broadcast the incoming bands")
    assert(hintCount(TextAnalysis.bigramQuality(spark, sf())) == 0,
      "tx19 must not hint-broadcast the bigram table")
    assert(hintCount(EventsAnalytics.thetaSetOps(spark, sf())) == 0,
      "ev19 must not hint-broadcast the per-type sketches")
  }

  test("q42: with broadcast joins switched off, the supplier join shuffles " +
      "instead of being forced into memory") {
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan(Relational.q42ProfitRollup(spark, sf()))
      assert(!p.contains("BroadcastHashJoin"),
        "no join may broadcast past the threshold:\n" + p.linesIterator.take(40).mkString("\n"))
      assert(p.contains("SortMergeJoin"), "the dimension joins must fall back to a shuffle")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("q18: AQE chooses broadcast for the qualifying set at test SF without a hint") {
    val df = Relational.q18BigOrders(spark, sf())
    df.collect() // drive AQE to the final plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      "expected AQE to pick a broadcast join at this scale:\n" +
        p.linesIterator.take(40).mkString("\n"))
  }

  test("knn: native cosine stays inside WholeStageCodegen; query side broadcasts") {
    val df = Similarity.knnBruteForce(spark, sf())
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(p.contains("cosine_sim"), "native expression expected in plan")
    // pre-execution AQE plans don't render codegen spans — check with AQE off
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val cg = Similarity.knnBruteForce(spark, sf()).queryExecution
        .explainString(ExplainMode.fromString("codegen"))
      assert(!cg.contains("Found 0 WholeStageCodegen"), cg.take(200))
      assert(cg.contains("cosine_sim") || cg.contains("CosineSimilarity"),
        "cosine must appear in generated code")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("minhash LSH: candidates come off capped band buckets — no self-join, no window") {
    val p = plan(Dedup.minhashLsh(spark, sf()))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "LSH candidates must come off capped (band, hash) buckets")
    assert(!p.contains("Window"), "the bucket cap must not rank via a window sort")
    assert(p.contains("collect_list"), "capped posting lists expected")
  }

  test("dd5: simhash bands are 4 x 16-bit blocks off capped buckets") {
    val p = plan(Dedup.simhashNearDup(spark, sf()))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("Window"), "the bucket cap must not rank via a window sort")
    assert(p.contains("collect_list"), "capped posting lists expected")
    // 64-bit signature banded 4 x 16: the last block reads bits 49..64 —
    // a regression to 8-bit blocks (256 bucket values) would show ", 8)"
    assert(p.contains("49, 16)"), "expected 16-bit band keys over a 64-bit signature")
    assert(!p.contains("substring(simhash") || !p.contains(", 8)"))
  }

  test("ss3/dd9: IVF cell assignment is scan-side — zero shuffle, no window") {
    val p = plan(Similarity.ivfCells(spark, sf()))
    assert(!p.contains("Window"), "assignment must not rank via a window sort")
    assert(!p.contains("Exchange hashpartitioning"),
      "cell assignment must be zero-shuffle:\n" + p.linesIterator.take(30).mkString("\n"))
    assert(p.contains("cosine_sim"), "native cosine expected in the argmax")
  }

  test("cdc15: DLQ classification is scan-side — no hash exchange, no window, no UDF") {
    val p = plan(graft.operators.CdcQueries.dlqRoute(spark, sf()))
    assert(!p.contains("Exchange hashpartitioning"),
      "classification must not shuffle:\n" + p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("Window") && !p.contains("CartesianProduct"))
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"))
  }

  test("ss11: the metadata filter pushes into the embeddings parquet scan") {
    val p = plan(Similarity.annIvfFiltered(spark, sf()))
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    // pre-filter composition: label < N must reach the scan (at 100 TB
    // with a label-partitioned layout this same predicate PRUNES files)
    assert(pushed.contains("label"), "label predicate must be pushed:\n" + pushed)
    assert(pushed.contains("vec_id"), "corpus split predicate must be pushed:\n" + pushed)
    assert(!p.contains("CartesianProduct"))
  }

  test("ann paths: multiprobe LSH and IVF near-dup stay on equi-joins") {
    for (df <- Seq(Similarity.annLshMultiprobe(spark, sf()),
        Dedup.ivfNearDup(spark, sf()))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), "candidate generation must not be a cross join")
    }
  }

  test("tx10: first-occurrence is a plain MIN agg — no window sort") {
    val p = plan(graft.llmdata.TextAnalysis.repeatedChunkRemoval(spark, sf()))
    assert(!p.contains("Window"), "first-occurrence must be groupBy.min, not row_number")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("dd13: the eval gram set is the broadcast side; corpus never self-joins") {
    val p = plan(Dedup.decontaminate(spark, sf()))
    assert(p.contains("BroadcastHashJoin"), "eval grams must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("dd6: candidates come off capped posting lists — no self-join, no full-index sort") {
    val p = plan(Dedup.ngramJaccard(spark, sf()))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("Window"), "the DF cap must not rank via a window sort")
    // pair generation is expression-level off collect_list postings; the
    // only joins left are the two candidate->grams equi-lookups
    assert(p.contains("collect_list"), p.linesIterator.take(30).mkString("\n"))
  }

  test("q30: bucketized range join is an equi-join, not a nested loop") {
    val p = plan(Relational.q30RangeJoin(spark, sf()))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "range join must go through the bin equi-join")
    // the exact BETWEEN filter exists, but only over per-bin candidates
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"))
  }

  test("dd12: the incoming slice is the broadcast side; corpus is never self-joined") {
    val p = plan(Dedup.incrementalDedup(spark, sf()))
    assert(p.contains("BroadcastHashJoin"), "incoming bands must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("cdc enrichment: the changed-id side is the broadcast build side") {
    import spark.implicits._
    val snapshot = Seq(("001A", "n")).toDF("Id", "Name")
    val changes = Seq(("001A", "Account", "CREATE")).toDF("Id", "entityName", "changeType")
    val p = plan(graft.operators.CdcEnrich(changes, snapshot))
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(25).mkString("\n"))
  }

  test("mm5: phash candidates come off capped block buckets; media bytes never shuffle") {
    val p = plan(graft.llmdata.Multimodal.phashNearDup(spark, sf()))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("Window"), "the bucket cap must not rank via a window sort")
    assert(p.contains("collect_list"), "capped posting lists expected")
    // only (id, signature) rows may enter an exchange — the binary payload
    // is consumed by the scan-side phash projection
    assert(!p.linesIterator.exists(l => l.contains("Exchange") && l.contains("content")),
      "media payload bytes must not be a shuffle key")
  }

  test("mm11: real-codec decode is scan-side (ppm_pixels inside the " +
      "signature projection); media bytes never shuffle") {
    val p = plan(graft.llmdata.Multimodal.ppmDecodedNearDup(spark, sf()))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(!p.linesIterator.exists(l => l.contains("Exchange") && l.contains("content")),
      "media payload bytes must not be a shuffle key")
    // the signature table is session-cached (localCheckpoint/persist), so
    // the decode itself ran at build time; pin it on the UNCACHED build
    val raw = plan(graft.llmdata.Multimodal.ppmMediaTable(spark, sf()))
    assert(!raw.contains("Exchange"), "payload synthesis must be scan-side")
  }

  test("mm12: decode → resize → encode → decode is ONE scan-side " +
      "projection — no join, no aggregate, one documents scan, input " +
      "payload bytes never shuffle") {
    val p = plan(graft.llmdata.Multimodal.ppmResize(spark, sf()))
    assert(!p.matches("(?s).*\\(\\d+\\) [A-Za-z]*Join.*"), "no join of any kind")
    assert(!p.contains("HashAggregate") && !p.contains("Window"))
    assert(p.contains("PpmUtil.resizeHalf") && p.contains("PpmUtil.pixels"),
      "both native codec calls must be in-plan")
    assert(!p.linesIterator.exists(l => l.contains("Exchange") && l.contains("content")),
      "input payload bytes must not be a shuffle key")
    val scans = p.linesIterator.filter(_.contains("Location"))
      .count(_.contains("documents.parquet"))
    assert(scans == 1, s"documents scans: $scans")
  }

  test("mm13: the container parses once scan-side; sampling is a filter " +
      "over the exploded frames — no join, payload bytes never a " +
      "shuffle key") {
    val p = plan(graft.llmdata.Multimodal.ppmFrameSample(spark, sf()))
    assert(!p.matches("(?s).*\\(\\d+\\) [A-Za-z]*Join.*"), "no join of any kind")
    assert(p.contains("PpmUtil.framePlaneArray"), "the native frame parse in-plan")
    assert(p.linesIterator.count(_.matches("^\\(\\d+\\) Generate.*")) == 1,
      "one posexplode of the parsed frames")
    assert(!p.linesIterator.exists(l => l.contains("Exchange") && l.contains("content")),
      "container bytes must not be a shuffle key")
    val scans = p.linesIterator.filter(_.contains("Location"))
      .count(_.contains("documents.parquet"))
    assert(scans == 1, s"documents scans: $scans")
  }

  test("mm14: the RIFF walk + feature fold is one scan-side projection — " +
      "no join, no aggregate, payload bytes never a shuffle key") {
    val p = plan(graft.llmdata.Multimodal.wavAudioFeatures(spark, sf()))
    assert(!p.matches("(?s).*\\(\\d+\\) [A-Za-z]*Join.*"), "no join of any kind")
    assert(!p.contains("HashAggregate") && !p.contains("Window"))
    assert(p.contains("WavUtil.featureRow"), "the native parse in-plan")
    assert(!p.linesIterator.exists(l => l.contains("Exchange") && l.contains("content")),
      "container bytes must not be a shuffle key")
    val scans = p.linesIterator.filter(_.contains("Location"))
      .count(_.contains("documents.parquet"))
    assert(scans == 1, s"documents scans: $scans")
  }

  test("tx12: the top-V vocab is the broadcast side of the scoring join") {
    val p = plan(graft.llmdata.TextAnalysis.vocabQuality(spark, sf()))
    assert(p.contains("BroadcastHashJoin"), "vocab must broadcast")
    assert(p.contains("TakeOrderedAndProject"),
      "top-V must be a bounded heap, not a global sort")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("ev8: histogram sketch is one map-side-combined aggregate; window runs on bins only") {
    val df = graft.relational.EventsAnalytics.histogramQuantiles(spark, sf())
    val p = plan(df)
    // partial_count before the exchange = map-side combine of the sketch
    assert(p.contains("partial_count") || p.contains("partial_sum"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("ss5: kNN graph joins per cell — no cartesian, scan-side assignment") {
    val p = plan(Similarity.knnGraph(spark, sf()))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "in-cell self-join must be a key-equality join on cell")
    assert(p.contains("cosine_sim"), "native cosine expected")
    // per-source top-k runs through the bounded-heap aggregator, never a
    // window: a window would sort every source's full per-cell fan-out
    assert(!p.contains("Window"),
      "ss5 top-k must be the TopKByScore aggregator, not a window sort")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      "bounded-heap top-k aggregate expected")
  }

  test("ss18: diversify prunes via key-equality joins over graph keys — no cartesian") {
    val p = plan(Similarity.graphDiversifyUncached(spark, sf()))
    // (the descent build inside legitimately BNLJ-joins the 1-row corpus
    // count scalar; a CartesianProduct would mean real row-pair blowup)
    assert(!p.contains("CartesianProduct"),
      "occlusion pair scoring must be key-equality joins")
    assert(p.contains("cosine_sim"), "native cosine expected in pair scoring")
  }

  test("ss17: serve touches the corpus only through key-equality joins") {
    val p = plan(Similarity.graphServe(spark, sf()))
    assert(!p.contains("CartesianProduct"),
      "serve must never cartesian the corpus")
    assert(p.contains("cosine_sim"), "native cosine expected")
    // the final top-k keep is a bounded-heap aggregate (TopKByScore),
    // never a corpus-wide window; the walk's frontier keeps happen inside
    // the per-query beam search
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      "bounded-heap keeps expected")
    // the walk reads no checkpointed piece: one per-query search, not a
    // union of pinned per-hop frames
    assert(!p.contains("ExistingRDD"), "serve must not scan pinned walk pieces")
  }

  test("dd26/mm9: sweep and census are window-free with no cartesian joins") {
    val pd = plan(Dedup.bandingSweep(spark, sf()))
    // capped buckets via sorted-list aggregate, never a per-bucket window
    assert(!pd.contains("CartesianProduct"), "dd26 must not cartesian")
    assert(!pd.contains("Window"), "dd26 caps via the sorted-list aggregate")
    val pm = plan(graft.llmdata.Multimodal.contentChunkCensus(spark, sf()))
    assert(!pm.contains("CartesianProduct"), "mm9 must not cartesian")
    assert(!pm.contains("Window"), "mm9 is aggregate-only")
  }

  test("q41: one conditional-share pass — dims broadcast, predicates pushed") {
    val p = plan(Relational.q41MarketShare(spark, sf()))
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("p_size") && pushed.contains("o_orderdate"),
      "part-band and date predicates must reach their scans:\n" + pushed)
    assert(p.contains("BroadcastHashJoin"), "the region-filtered nation list must broadcast")
    assert(!p.contains("CartesianProduct"))
    // the share is ONE aggregate over one joined stream — a second join
    // tree (numerator/denominator computed separately) would scan
    // lineitem twice
    val scans = p.linesIterator.count(l => l.contains("Location") && l.contains("lineitem"))
    assert(scans == 1, s"expected a single lineitem scan, saw $scans")
  }

  test("q42: Q9-shaped profit rollup — no cartesian, dims broadcast, single scans") {
    val p = plan(Relational.q42ProfitRollup(spark, sf()))
    assert(!p.contains("CartesianProduct"), "q42 must not cartesian")
    assert(p.contains("BroadcastHashJoin"),
      "supplier/nation dims must broadcast into the fact stream")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("p_partkey"),
      "the part key-range predicate must reach the part scan:\n" + pushed)
    // one scan per physical table: the derived contract ledger is built
    // from the SAME single part scan (generate over the dim scan), and
    // lineitem feeds the whole tree once
    Seq("lineitem", "part.parquet", "orders").foreach { t =>
      val scans = p.linesIterator.count(l => l.contains("Location") && l.contains(t))
      assert(scans == 1, s"expected a single $t scan, saw $scans")
    }
  }

  test("cur2: the near-dup and contamination drop sets broadcast against the corpus scan") {
    val p = plan(graft.llmdata.Curation.curationNearDup(spark, sf()))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"), "drop-id sets must broadcast")
  }

  test("cur5b: sketch curriculum is window-free — histogram cuts fold into a scan-side CASE") {
    val p = plan(graft.llmdata.Curation.curriculumScheduleSketch(spark, sf()))
    // the whole point of the sketch tier: NO window anywhere (cur5's exact
    // ntile is the single-task global sort this path exists to avoid)
    assert(!p.contains("Window"), "sketch tier must not contain a window:\n" + p.take(2000))
    // the ≤4-row rollup joins must broadcast, never shuffle-sort both sides
    assert(!p.contains("SortMergeJoin"), "schedule rollup joins must broadcast")
    assert(p.contains("BroadcastExchange"), "triangular self-join + total must broadcast")
    // the only Sort is the trailing ≤4-row presentation ORDER BY (epoch);
    // no sort may feed an aggregate or join
    assert(!p.contains("CartesianProduct"))
  }

  test("dd15: the bloom bitset broadcasts; membership is evaluated at the incoming scan") {
    val p = plan(Dedup.bloomPrefilter(spark, sf()))
    // the single-row bitset rides a broadcast nested-loop (cross of 1 row),
    // never a CartesianProduct over data-sized sides
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("BroadcastExchange"), "bitset must broadcast")
    // corpus positions collapse via hash aggregate (map-side combinable),
    // not a sort-based distinct
    assert(p.contains("HashAggregate"))
    // the streaming admission path (no fixture: two in-memory frames) builds
    // on its 1-row bitset the same way
    import spark.implicits._
    val corpus = Seq((1L, "alpha beta gamma delta"), (2L, "one two three four"))
      .toDF("doc_id", "text")
    val incoming = Seq((3L, "alpha beta gamma delta"), (4L, "red orange yellow green"))
      .toDF("doc_id", "text")
    val admit = plan(Dedup.admitAgainstWithBloom(corpus, incoming))
    assert(admit.contains("BroadcastNestedLoopJoin Cross BuildRight"),
      admit.linesIterator.take(60).mkString("\n"))
  }

  test("tx13: repetition stats are two hash aggregates — no window, no sort before agg") {
    val p = plan(graft.llmdata.TextAnalysis.repetitionSignals(spark, sf()))
    assert(!p.contains("Window"), "no window in the repetition rollup")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "per-(doc,n,gram) count must map-side combine:\n" + p.take(2000))
  }

  test("tx14: packing is ONE per-source window — no global sort, no join") {
    val df = graft.llmdata.TextAnalysis.sequencePacking(spark, sf())
    val p = plan(df)
    assert(p.contains("Window"))
    // the only shuffle is hashpartitioning on source feeding the window;
    // the trailing global Sort belongs to the gate's ORDER BY, not packing
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "packing must not join")
    val hashParts = "hashpartitioning".r.findAllIn(p).size
    assert(hashParts >= 1, "per-source shuffle expected")
  }

  test("cur3: mixture weights never sort or window — aggregates plus one broadcast total") {
    val p = plan(graft.llmdata.Curation.mixtureWeights(spark, sf()))
    assert(!p.contains("Window"))
    assert(p.contains("BroadcastExchange"), "the 1-row totals must broadcast")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "per-source token counts must map-side combine")
  }

  test("ss6: PQ encode is scan-side (zero shuffle); ADC joins only broadcast query tables") {
    val enc = plan(Similarity.pqCodes(spark, sf()))
    assert(!enc.contains("Exchange hashpartitioning") && !enc.contains("Window"),
      "PQ encode must be a pure scan-side projection:\n" +
        enc.linesIterator.take(30).mkString("\n"))
    assert(enc.contains("dot_product"), "native sub-inner-products expected")
    val p = plan(Similarity.annPq(spark, sf()))
    assert(!p.contains("CartesianProduct"),
      "query tables must broadcast (BroadcastNestedLoopJoin over 10 rows)")
  }

  test("ss7: IVF+PQ candidates join probed cells by equality; corpus payload never shuffles") {
    val p = plan(Similarity.annIvfPq(spark, sf()))
    assert(!p.contains("CartesianProduct"), "candidate generation must be an equi-join on cell")
    assert(p.contains("BroadcastHashJoin"), "probe tables and shortlist must broadcast")
    // the only window is the final refine ranking over <= R rows/query;
    // the ADC shortlist itself is the bounded-heap aggregator
    val windows = Similarity.annIvfPq(spark, sf()).queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size <= 1,
      "ADC shortlist must be the TopKByScore aggregator, not a window sort")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      "bounded-heap shortlist aggregate expected")
  }

  test("ss8: SQ8 bounds broadcast back and the shortlist is the bounded-heap aggregator") {
    val p = plan(Similarity.annSq(spark, sf()))
    // the 1-row bounds table and the query table broadcast; the scored
    // scan must not sort — shortlist is TopKByScore, the only window is
    // the final refine ranking over <= R rows/query
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "bounds and query tables must broadcast")
    val windows = Similarity.annSq(spark, sf()).queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size <= 1,
      "SQ shortlist must be the TopKByScore aggregator, not a window sort")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      "bounded-heap shortlist aggregate expected")
  }

  test("tx16: duplicate test is a combinable digest-key aggregate; text never shuffles") {
    val df = graft.llmdata.TextAnalysis.duplicatedSpans(spark, sf())
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "window-duplicate detection must be a key aggregate, not a join product")
    assert(p.contains("HashAggregate"), "corpus-wide count must partial-aggregate")
    // only md5 window keys and positions cross the wire — never document text
    assert(!p.linesIterator.exists(l => l.contains("Exchange") && l.contains("text")),
      "document text must not enter an exchange")
  }

  test("dd16: estimate path shuffles signatures only — no text, no gram arrays") {
    val p = plan(graft.llmdata.Dedup.minhashEstimate(spark, sf()))
    assert(!p.contains("CartesianProduct"))
    assert(!p.linesIterator.exists(l => l.contains("Exchange") &&
      (l.contains("text") || l.contains("grams"))),
      "dd16 must read only the signature table after signing")
  }

  test("dd18: the incoming slice broadcasts into the cell join; no products") {
    val p = plan(graft.llmdata.Dedup.semanticAdmission(spark, sf()))
    assert(!p.contains("CartesianProduct"),
      "semantic admission must join on cell, never cross")
    assert(p.contains("BroadcastHashJoin"),
      "the incoming slice is the broadcast build side — the corpus is scanned once")
  }

  test("tx18: the top merge pairs come off a bounded TakeOrdered, not a global sort") {
    val p = plan(graft.llmdata.TextAnalysis.bpePairCounts(spark, sf()))
    assert(p.contains("TakeOrderedAndProject"),
      "top-k pairs must be TakeOrdered (bounded heap), not sort-then-limit")
    assert(!p.contains("CartesianProduct"))
  }

  test("tx15: classifier inference is zero-shuffle — the fold runs inside the scan") {
    val p = plan(graft.llmdata.TextAnalysis.classifierScore(spark, sf()))
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("Window"),
      "model scoring must not move data:\n" + p.linesIterator.take(25).mkString("\n"))
  }

  test("fm1: blocking joins on rare trigrams only — no probe x base product") {
    val p = plan(graft.operators.FuzzyMatch.fuzzyMatch(spark, sf()))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidates must come from the capped posting join")
    assert(p.contains("jaccard"), "native set-similarity expected in verify")
  }

  test("fm2: candidates come off band buckets; top-1 is an aggregate, not a window") {
    val p = plan(graft.operators.FuzzyMatch.fuzzyMatchMinhash(spark, sf()))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "probe x base must be blocked by the band-bucket equi-join")
    assert(p.contains("jaccard"), "native set-similarity expected in verify")
    assert(!p.contains("Window"),
      "per-probe best match must be the max-struct aggregate, not a window sort")
  }

  test("cdc9: SCD2 shares cdc3's shape — one key shuffle feeding the lead window") {
    val p = plan(graft.operators.CdcQueries.scd2History(spark, sf()))
    assert(p.contains("Window"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "SCD2 must not join")
  }

  test("tx19: the top-B bigram table is the broadcast side of the scoring join") {
    val p = plan(graft.llmdata.TextAnalysis.bigramQuality(spark, sf()))
    assert(p.contains("BroadcastHashJoin"),
      "the B-row bigram table must broadcast into the doc-bigram scan")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("Window"), "top-B must be TakeOrdered, not a window")
  }

  test("cdc14: snapshot diff is ONE join and zero windows") {
    val p = plan(graft.operators.CdcQueries.snapshotDiffEvents(spark, sf()))
    // count operator DETAIL headers only ("(n) SortMergeJoin ...") — the
    // formatted explain also names each operator once in the tree sketch
    val joins = p.linesIterator.count(l =>
      l.matches("""^\(\d+\) .*Join.*""") && !l.contains("BroadcastNestedLoop"))
    assert(joins == 1, s"expected exactly one join operator, plan had $joins")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"))
  }

  test("q36: the share filter needs no second fact pass — one lineitem scan") {
    val p = plan(Relational.q36PartValueShare(spark, sf()))
    assert(p.linesIterator.count(_.contains("lineitem.parquet")) <= 1 ||
      p.linesIterator.filter(_.contains("Scan parquet"))
        .count(_.contains("lineitem")) <= 1,
      "the scalar-subquery total must come from the per-part aggregate, " +
        "not a second lineitem scan")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "supplier restriction and the 1-row total must broadcast")
  }

  test("mm7: chunk-dedup candidates come off capped posting lists; no products") {
    val p = plan(graft.llmdata.Multimodal.chunkDedup(spark, sf()))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "pairs must come from the capped per-chunk posting join")
    assert(!p.contains("Window"), "df cap is slice-of-sorted-list, not a window")
  }

  test("ev15: HLL is two combinable aggregates — no window, no text shuffle") {
    val p = plan(graft.relational.EventsAnalytics.hllDistinct(spark, sf()))
    assert(!p.contains("Window") && !p.contains("CartesianProduct"))
    assert(p.contains("HashAggregate"), "register max + rollup must hash-aggregate")
  }

  test("fm4: damerau verify is codegen'd over blocked candidates; " +
      "top-1 is an aggregate, not a window") {
    val df = graft.operators.FuzzyMatch.fuzzyMatchDamerau(spark, sf())
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidates must come from the rare-trigram posting join")
    assert(p.contains("damerau"), "native DL expression expected in verify")
    assert(!p.contains("Window"),
      "per-probe best match must be the max-struct aggregate")
    // pre-execution AQE plans don't render codegen spans — check with AQE off
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val cg = graft.operators.FuzzyMatch.fuzzyMatchDamerau(spark, sf())
        .queryExecution.explainString(ExplainMode.fromString("codegen"))
      assert(!cg.contains("Found 0 WholeStageCodegen"), cg.take(200))
      assert(cg.contains("damerauLevenshtein"),
        "the DL kernel must appear in generated code, not interpreted eval")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("dd23: triangle close is an equi-semi-join; no products, no windows") {
    val p = plan(Dedup.triangleCensus(spark, sf()))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the wedge join and the closing semi-join must both be key-equality")
    assert(!p.contains("Window"))
    assert(p.linesIterator.exists(l => l.contains("LeftSemi")),
      "triangle closure must be a semi-join against the edge set")
  }

  test("cur10: the vocab surprisal table broadcasts into the token stream") {
    val p = plan(graft.llmdata.Curation.unigramLmFilter(spark, sf()))
    assert(p.contains("BroadcastHashJoin"),
      "the (Heaps-small) vocab must broadcast; corpus tokens never build a hash side")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"))
  }

  test("tx22: first-appearance is a combinable aggregate; the only window " +
      "is the 10-row cumulative walk") {
    val p = plan(graft.llmdata.TextAnalysis.vocabGrowth(spark, sf()))
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastExchange"))
    // min(doc_id) per type must be a hash aggregate (map-side combinable),
    // not any form of per-type sort
    assert(p.contains("HashAggregate"))
  }

  test("ev17: the merged tier aggregates day cells — no event re-scan joins") {
    val p = plan(graft.relational.EventsAnalytics.histMergeWeekly(spark, sf()))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // exactly two events scans by design: the artifact build + the audit
    // rescan (fixture-scale proof); the merged path itself re-reads cells
    val scans = p.linesIterator.filter(_.contains("Scan parquet"))
      .count(_.contains("events"))
    assert(scans <= 2, s"merged quantiles must not re-scan events: $scans scans")
  }

  test("cur11: the fitted B-row bucket model broadcasts into the feature " +
      "stream as a LOCAL relation — serving is ONE corpus pass (the fit " +
      "is a separate session-cached control-plane job)") {
    val p = plan(graft.llmdata.Curation.dsirWeights(spark, sf()))
    assert(p.contains("BroadcastHashJoin"),
      "the 1024-row log-ratio table must broadcast; the corpus never builds a hash side")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // ONE documents scan: the per-doc rollup (the r16 rawCnt/tgtCnt/
    // totals trio cost 4 scan branches; the fused fit pays 1 more, once
    // per corpus snapshot, in its own job)
    val scans = p.linesIterator.filter(_.contains("Location"))
      .count(_.contains("documents.parquet"))
    assert(scans == 1, s"per-doc rollup only: $scans scans")
    assert(!p.contains("Window"), "the totals window lives in the fit job")
    assert(p.contains("LocalTableScan") || p.contains("LocalRelation"),
      "the model side is the collected local table")
  }

  test("dd24: fingerprint derivation is scan-side; candidates off capped " +
      "postings — no window, no products") {
    val p = plan(Dedup.winnowingNearDup(spark, sf()))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "pairs must come from the capped fingerprint posting join")
    assert(!p.contains("Window"),
      "the rolling window-min is a HOF inside the scan, not a Window operator; " +
        "the df cap is slice-of-sorted-list")
  }

  test("ev18: the merged tier aggregates day registers — bounded event scans") {
    val p = plan(graft.relational.EventsAnalytics.hllMergeWeekly(spark, sf()))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("Window"))
    // three events scans by design: the register build, the audit-tier
    // direct week sketch, and the exact distinct verification column
    val scans = p.linesIterator.filter(_.contains("Scan parquet"))
      .count(_.contains("events"))
    assert(scans <= 3, s"merged HLL must not re-scan events beyond its tiers: $scans")
  }

  test("tx23: rollups run over type rows; the only window ranks per-source types") {
    val p = plan(graft.llmdata.TextAnalysis.zipfProfile(spark, sf()))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("HashAggregate"), "the (source, word) count must hash-aggregate")
  }

  test("mm8: the exchange carries histogram cells — combinable count, " +
      "no window, no products") {
    val p = plan(graft.llmdata.Multimodal.byteEntropy(spark, sf()))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("Window"))
    assert(p.contains("HashAggregate"),
      "the (media, byte) count must be a hash aggregate (map-side combine " +
        "collapses each payload to ≤256 cells before the shuffle)")
  }

  test("q39: the positive-balance average broadcasts; the recency check is " +
      "an anti-join, not a correlated re-scan") {
    val p = plan(Relational.q39IdleRichCustomers(spark, sf("sf0.01")))
    assert(p.contains("BroadcastExchange"), "the 1-row aggregate must broadcast")
    assert(p.contains("LeftAnti"), "NOT EXISTS must plan as an anti-join")
    assert(!p.contains("CartesianProduct") ||
      p.linesIterator.count(_.contains("CartesianProduct")) == 0)
    // customer feeds the threshold pass and the anti-join; two scans max
    val scans = p.linesIterator.filter(_.contains("Location"))
      .count(_.contains("customer.parquet"))
    assert(scans >= 1 && scans <= 2, s"customer scans: $scans")
  }

  test("cur12: the trigram model attaches by broadcast joins — no window, " +
      "no sort of the token stream") {
    val p = plan(graft.llmdata.Curation.trigramLmFilter(spark, sf("sf0.01")))
    assert(!p.contains("Window"),
      "context attaches scan-side (transform-then-explode), never by lag()")
    assert(p.contains("BroadcastHashJoin"),
      "the closed-vocab model tables must broadcast into the token scan")
    assert(!p.contains("CartesianProduct"))
  }

  test("ev19: the sketch build is a bounded-heap aggregate, not a per-type " +
      "sort; only the exact audit tier joins elements") {
    val p = plan(graft.relational.EventsAnalytics.thetaSetOps(spark, sf("sf0.01")))
    // the k-minima come from the combinable Aggregator: the only Sort
    // allowed is the final ORDER BY over |types|^2 rows
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      "BottomKByKey must aggregate, not window")
    assert(!p.contains("Window"))
  }

  test("ev20/ev21: per-step MINs and decayed sums are hash aggregates; the " +
      "1-row max-ts broadcasts") {
    val p20 = plan(graft.relational.EventsAnalytics.sequenceMatch(spark, sf("sf0.01")))
    assert(!p20.contains("Window") && !p20.contains("CartesianProduct"))
    assert(p20.contains("HashAggregate"))
    val p21 = plan(graft.relational.EventsAnalytics.decayedCounters(spark, sf("sf0.01")))
    assert(p21.contains("BroadcastExchange"),
      "the max-ts reference must broadcast, not re-scan")
    assert(!p21.contains("Window"))
  }

  test("ss13: augmentation is scan-side off one broadcast max-norm row; " +
      "queries broadcast into the corpus scan") {
    val p = plan(graft.llmdata.Similarity.mipsAugmented(spark, sf("sf0.01")))
    assert(p.contains("BroadcastExchange"))
    val corpusScans = p.linesIterator.filter(_.contains("Location"))
      .count(_.contains("embeddings.parquet"))
    assert(corpusScans >= 1 && corpusScans <= 3, s"embeddings scans: $corpusScans")
  }

  test("ss14: the audit is one corpus scan + a cell-keyed hash rollup — " +
      "no shuffle before the rollup, no window") {
    val p = plan(graft.llmdata.Similarity.clusterQuality(spark, sf("sf0.01")))
    assert(!p.contains("Window"),
      "top-2 exemplar scores come off the scan-side sorted literal array")
    assert(p.contains("HashAggregate"))
    val scans = p.linesIterator.filter(_.contains("Location"))
      .count(_.contains("embeddings.parquet"))
    assert(scans == 1, s"embeddings scans: $scans")
  }

  test("q40: grouping sets run as ONE aggregate pass (Expand), not a " +
      "union of scans") {
    val p = plan(Relational.q40GroupingSets(spark, sf("sf0.01")))
    assert(p.contains("Expand"), "grouping sets plan via Expand")
    // the parquet path sits on the Location line, one per scan node
    val scans = p.linesIterator.filter(_.contains("Location"))
      .count(_.contains("orders.parquet"))
    assert(scans == 1, s"orders scans: $scans")
  }

  test("tx24: tokenization is ONE scan-side projection — the merge table " +
      "ships inside the expression, so no join, no aggregate, no shuffle " +
      "but the output sort") {
    val p = plan(graft.llmdata.TextAnalysis.bpeEncodeTokens(spark, sf()))
    assert(!p.matches("(?s).*\\(\\d+\\) [A-Za-z]*Join.*"), "no join of any kind")
    assert(!p.contains("HashAggregate") && !p.contains("Window"))
    val exchanges = p.linesIterator.count(_.matches("^\\(\\d+\\) Exchange.*"))
    assert(exchanges <= 1, s"only the output sort may exchange: $exchanges")
    val scans = p.linesIterator.filter(_.contains("Location"))
      .count(_.contains("documents.parquet"))
    assert(scans == 1, s"documents scans: $scans")
    // codegen membership (defineCodeGen on the expression) is asserted
    // by construction; the pre-execution AQE plan prints no codegen ids
  }

  test("tx30: byte-level tokenization keeps tx24's shape — pretokenizer + " +
      "byte map + merges all scan-side, no join, no aggregate") {
    val p = plan(graft.llmdata.TextAnalysis.bpeBytesEncodeTokens(spark, sf()))
    assert(!p.matches("(?s).*\\(\\d+\\) [A-Za-z]*Join.*"), "no join of any kind")
    assert(!p.contains("HashAggregate") && !p.contains("Window"))
    val exchanges = p.linesIterator.count(_.matches("^\\(\\d+\\) Exchange.*"))
    assert(exchanges <= 1, s"only the output sort may exchange: $exchanges")
    val scans = p.linesIterator.filter(_.contains("Location"))
      .count(_.contains("documents.parquet"))
    assert(scans == 1, s"documents scans: $scans")
  }

  test("tx26: BPE packing shuffles ONCE (the per-source window); the " +
      "encode is scan-side and both cumulative sums share one Window") {
    val p = plan(graft.llmdata.TextAnalysis.bpePacking(spark, sf()))
    assert(!p.matches("(?s).*\\(\\d+\\) [A-Za-z]*Join.*"), "no join of any kind")
    assert(!p.contains("HashAggregate"))
    val windows = p.linesIterator.count(_.matches("^\\(\\d+\\) Window.*"))
    assert(windows == 1, s"both running sums must share one Window: $windows")
    val exchanges = p.linesIterator.count(_.matches("^\\(\\d+\\) Exchange.*"))
    assert(exchanges <= 2, s"window partition + output sort only: $exchanges")
    val scans = p.linesIterator.filter(_.contains("Location"))
      .count(_.contains("documents.parquet"))
    assert(scans == 1, s"documents scans: $scans")
  }

  test("tx27: tokenizer audit is one scan + one keyed aggregate — the " +
      "encode and all per-doc counts ride the scan; no join, no window") {
    val p = plan(graft.llmdata.TextAnalysis.tokenizerAudit(spark, sf()))
    assert(!p.matches("(?s).*\\(\\d+\\) [A-Za-z]*Join.*"), "no join of any kind")
    assert(!p.contains("Window"))
    val aggs = p.linesIterator.count(_.matches("^\\(\\d+\\) HashAggregate.*"))
    assert(aggs == 2, s"partial+final of ONE aggregate: $aggs")
    val exchanges = p.linesIterator.count(_.matches("^\\(\\d+\\) Exchange.*"))
    assert(exchanges <= 2, s"agg exchange + output sort only: $exchanges")
    val scans = p.linesIterator.filter(_.contains("Location"))
      .count(_.contains("documents.parquet"))
    assert(scans == 1, s"documents scans: $scans")
  }

  test("tx31: tokenizer swap audit runs BOTH encodes in ONE scan-side " +
      "projection — one scan, one aggregate, no join (the twin pays two " +
      "recursion chains and two joins for the same answer)") {
    val p = plan(graft.llmdata.TextAnalysis.tokenizerSwapAudit(spark, sf()))
    assert(!p.matches("(?s).*\\(\\d+\\) [A-Za-z]*Join.*"), "no join of any kind")
    assert(!p.contains("Window"))
    val aggs = p.linesIterator.count(_.matches("^\\(\\d+\\) HashAggregate.*"))
    assert(aggs == 2, s"partial+final of ONE aggregate: $aggs")
    val exchanges = p.linesIterator.count(_.matches("^\\(\\d+\\) Exchange.*"))
    assert(exchanges <= 2, s"agg exchange + output sort only: $exchanges")
    val scans = p.linesIterator.filter(_.contains("Location"))
      .count(_.contains("documents.parquet"))
    assert(scans == 1, s"documents scans: $scans")
  }

  test("tx29: cross-domain audit is tx27's shape over three domain scans — " +
      "the full-table encode rides each scan; one union aggregate, no join") {
    val p = plan(graft.llmdata.TextAnalysis.bpeDomainAudit(spark, sf()))
    assert(!p.matches("(?s).*\\(\\d+\\) [A-Za-z]*Join.*"), "no join of any kind")
    assert(!p.contains("Window"))
    val aggs = p.linesIterator.count(_.matches("^\\(\\d+\\) HashAggregate.*"))
    assert(aggs == 2, s"partial+final of ONE aggregate: $aggs")
    val exchanges = p.linesIterator.count(_.matches("^\\(\\d+\\) Exchange.*"))
    assert(exchanges <= 2, s"agg exchange + output sort only: $exchanges")
    Seq("documents.parquet", "part.parquet", "supplier.parquet").foreach { f =>
      val scans = p.linesIterator.filter(_.contains("Location"))
        .count(_.contains(f))
      assert(scans == 1, s"$f scans: $scans")
    }
  }

  test("cur15: crawl→corpus adds no shuffle class beyond cur1's — scan-side " +
      "extraction Generate, one reassembly aggregate, cur1's one dedup " +
      "window, one ledger aggregate, no join") {
    val p = plan(graft.llmdata.Curation.crawlCuration(spark, sf()))
    assert(!p.matches("(?s).*\\(\\d+\\) [A-Za-z]*Join.*"), "no join of any kind")
    val windows = p.linesIterator.count(_.matches("^\\(\\d+\\) Window.*"))
    assert(windows == 1, s"cur1's one dedup window only: $windows")
    val generates = p.linesIterator.count(_.matches("^\\(\\d+\\) Generate.*"))
    assert(generates == 1, s"one block-explode Generate: $generates")
    val aggs = p.linesIterator.count(_.matches("^\\(\\d+\\) [A-Za-z]*HashAggregate.*"))
    assert(aggs == 4, s"reassembly + ledger, partial+final each: $aggs")
    val exchanges = p.linesIterator.count(_.matches("^\\(\\d+\\) Exchange.*"))
    assert(exchanges <= 4,
      s"reassembly agg + dedup window + ledger agg + output sort: $exchanges")
    val scans = p.linesIterator.filter(_.contains("Location"))
      .count(_.contains("documents.parquet"))
    assert(scans == 1, s"documents scans: $scans")
  }

  test("mm10: interleaved packing is tx26's shape — encode + patch count " +
      "scan-side, one Window, no join") {
    val p = plan(graft.llmdata.Multimodal.interleavedPacking(spark, sf()))
    assert(!p.matches("(?s).*\\(\\d+\\) [A-Za-z]*Join.*"), "no join of any kind")
    assert(!p.contains("HashAggregate"))
    val windows = p.linesIterator.count(_.matches("^\\(\\d+\\) Window.*"))
    assert(windows == 1, s"one Window: $windows")
    val exchanges = p.linesIterator.count(_.matches("^\\(\\d+\\) Exchange.*"))
    assert(exchanges <= 2, s"window partition + output sort only: $exchanges")
    val scans = p.linesIterator.filter(_.contains("Location"))
      .count(_.contains("documents.parquet"))
    assert(scans == 1, s"documents scans: $scans")
  }

  test("tx28: BPE training's only data-scale step is the word-frequency " +
      "reduce — one scan, one keyed aggregate, then a single-task loop") {
    val p = plan(graft.llmdata.TextAnalysis.bpeTrain(spark, sf()))
    assert(!p.matches("(?s).*\\(\\d+\\) [A-Za-z]*Join.*"), "no join of any kind")
    val aggs = p.linesIterator.count(_.matches("^\\(\\d+\\) HashAggregate.*"))
    assert(aggs == 2, s"partial+final of ONE aggregate: $aggs")
    assert(p.contains("MapPartitions"), "the merge loop must be an executor task")
    val exchanges = p.linesIterator.count(_.matches("^\\(\\d+\\) Exchange.*"))
    assert(exchanges <= 3,
      s"agg exchange + single-task repartition + output sort only: $exchanges")
    val scans = p.linesIterator.filter(_.contains("Location"))
      .count(_.contains("documents.parquet"))
    assert(scans == 1, s"documents scans: $scans")
  }

  test("cur13: packed-shard export is one pass — no join (bin fill summed " +
      "during the explode), placement window + shard window, one aggregate") {
    val p = plan(graft.llmdata.Curation.packedShards(spark, sf()))
    assert(!p.matches("(?s).*\\(\\d+\\) [A-Za-z]*Join.*"), "no join of any kind")
    val windows = p.linesIterator.count(_.matches("^\\(\\d+\\) Window.*"))
    assert(windows == 2, s"placement + shard windows: $windows")
    val aggs = p.linesIterator.count(_.matches("^\\(\\d+\\) HashAggregate.*"))
    assert(aggs == 2, s"partial+final of ONE (source,bin) aggregate: $aggs")
    val scans = p.linesIterator.filter(_.contains("Location"))
      .count(_.contains("documents.parquet"))
    assert(scans == 1, s"documents scans: $scans")
    val exchanges = p.linesIterator.count(_.matches("^\\(\\d+\\) Exchange.*"))
    assert(exchanges <= 4,
      s"placement window + agg + shard window + output sort only: $exchanges")
  }

  test("tx33: id-level encode is one scan-side native expression — no " +
      "join (the vocab ships as a plan reference, not a build side), no " +
      "aggregate, no window") {
    val p = plan(graft.llmdata.TextAnalysis.bpeEncodeIds(spark, sf()))
    assert(!p.matches("(?s).*\\(\\d+\\) [A-Za-z]*Join.*"), "no join of any kind")
    assert(!p.contains("HashAggregate") && !p.contains("Window"))
    assert(p.contains("static_invoke(graft.functions.BpeUtil.encodeTextIds("),
      "the native id encode must be in-plan")
    assert("""BpeVocab\(\d+ tokens\)""".r.findFirstIn(p).isDefined,
      "the vocab literal prints its size, not its entries")
    val scans = p.linesIterator.filter(_.contains("Location"))
      .count(_.contains("documents.parquet"))
    assert(scans == 1, s"documents scans: $scans")
  }

  test("tx34: encode∘decode fuses into one scan-side projection — no " +
      "join (forward vocab AND inverse vocab both ship as plan " +
      "references), one documents scan, one per-source aggregate") {
    val p = plan(graft.llmdata.TextAnalysis.bpeRoundtrip(spark, sf()))
    assert(!p.matches("(?s).*\\(\\d+\\) [A-Za-z]*Join.*"), "no join of any kind")
    assert(!p.contains("Window"))
    assert(p.contains("static_invoke(graft.functions.BpeUtil.encodeTextIds(") &&
      p.contains("static_invoke(graft.functions.BpeUtil.decodeIds("),
      "both native expressions must be in-plan, fused in the same projection")
    val aggs = p.linesIterator.count(_.matches("^\\(\\d+\\) HashAggregate.*"))
    assert(aggs == 2, s"partial+final of ONE per-source aggregate: $aggs")
    val scans = p.linesIterator.filter(_.contains("Location"))
      .count(_.contains("documents.parquet"))
    assert(scans == 1, s"documents scans: $scans")
  }

  test("tx35: byte-level encode∘decode fuses scan-side like tx34 — no " +
      "join, both native fns in-plan, one scan, one aggregate") {
    val p = plan(graft.llmdata.TextAnalysis.bpeBytesRoundtrip(spark, sf()))
    assert(!p.matches("(?s).*\\(\\d+\\) [A-Za-z]*Join.*"), "no join of any kind")
    assert(!p.contains("Window"))
    assert(p.contains("BpeBytesUtil.encodeText") && p.contains("BpeBytesUtil.decodeText"))
    val aggs = p.linesIterator.count(_.matches("^\\(\\d+\\) HashAggregate.*"))
    assert(aggs == 2, s"partial+final of ONE per-source aggregate: $aggs")
    val scans = p.linesIterator.filter(_.contains("Location"))
      .count(_.contains("documents.parquet"))
    assert(scans == 1, s"documents scans: $scans")
  }

  test("tx36: the frozen-vocab OOV audit is tx29's shape — no join (the " +
      "vocab is a plan reference, not a build side), one scan per " +
      "domain table, one aggregate") {
    val p = plan(graft.llmdata.TextAnalysis.frozenVocabOov(spark, sf()))
    assert(!p.matches("(?s).*\\(\\d+\\) [A-Za-z]*Join.*"), "no join of any kind")
    assert(p.contains("static_invoke(graft.functions.BpeUtil.encodeTextIds("),
      "the vocab-folded id encode in-plan")
    val aggs = p.linesIterator.count(_.matches("^\\(\\d+\\) HashAggregate.*"))
    assert(aggs == 2, s"partial+final of ONE per-domain aggregate: $aggs")
    val scans = p.linesIterator.count(_.contains("Location"))
    assert(scans == 3, s"documents + part + supplier scans: $scans")
  }

  test("cur16: id-level shard payload keeps cur13's shape — no join, the " +
      "one placement window (ids ride it), one documents scan, one " +
      "assembly aggregate") {
    val p = plan(graft.llmdata.Curation.shardSequences(spark, sf()))
    assert(!p.matches("(?s).*\\(\\d+\\) [A-Za-z]*Join.*"), "no join of any kind")
    val windows = p.linesIterator.count(_.matches("^\\(\\d+\\) Window.*"))
    assert(windows == 1, s"only the placement window: $windows")
    val scans = p.linesIterator.filter(_.contains("Location"))
      .count(_.contains("documents.parquet"))
    assert(scans == 1, s"documents scans: $scans")
    val aggs = p.linesIterator.count(
      _.matches("^\\(\\d+\\) (Object)?HashAggregate.*"))
    assert(aggs == 2, s"partial+final of ONE assembly aggregate: $aggs")
  }

  test("cur14: epoch audit rides cur13's bin aggregate — no join, no " +
      "window, all three epoch assignments computed in one projection") {
    val p = plan(graft.llmdata.Curation.epochShuffleAudit(spark, sf()))
    assert(!p.matches("(?s).*\\(\\d+\\) [A-Za-z]*Join.*"), "no join of any kind")
    val windows = p.linesIterator.count(_.matches("^\\(\\d+\\) Window.*"))
    assert(windows == 1, s"only the placement window: $windows")
    val scans = p.linesIterator.filter(_.contains("Location"))
      .count(_.contains("documents.parquet"))
    assert(scans == 1, s"documents scans: $scans")
    val aggs = p.linesIterator.count(_.matches("^\\(\\d+\\) HashAggregate.*"))
    assert(aggs <= 6, s"three aggregates (bin, epoch-shard, epoch): $aggs")
  }

  test("cur17: step schedule is join-free — per-epoch shard windows only, " +
      "no global sort before the output ORDER BY") {
    val p = plan(graft.llmdata.Curation.stepSchedule(spark, sf()))
    assert(!p.matches("(?s).*\\(\\d+\\) [A-Za-z]*Join.*"), "no join of any kind")
    // one placement window per epoch branch + one shard-partitioned
    // rank window per epoch = 4 total; nothing global except the final
    // presentation sort
    val windows = p.linesIterator.count(_.matches("^\\(\\d+\\) Window.*"))
    assert(windows <= 4, s"windows: $windows")
    val scans = p.linesIterator.filter(_.contains("Location"))
      .count(_.contains("documents.parquet"))
    assert(scans <= 2, s"documents scans (one per epoch branch): $scans")
  }

  test("ss24: sweep candidates come off ONE corpus scan pair — cell " +
      "assignment and scoring are scan-side vs broadcast codebook literals") {
    val p = plan(Similarity.ivfProbeSweep(spark, sf()))
    assert(!p.contains("CartesianProduct"), "no cartesian anywhere")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "probe set must broadcast against the corpus scan")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the corpus must never shuffle for a join")
  }

  test("tx25: synth + extraction are scan-side (one Generate for the " +
      "block explode); no join, no aggregate") {
    val p = plan(graft.llmdata.TextAnalysis.htmlExtract(spark, sf()))
    assert(!p.matches("(?s).*\\(\\d+\\) [A-Za-z]*Join.*"), "no join of any kind")
    assert(!p.contains("HashAggregate") && !p.contains("Window"))
    assert(p.linesIterator.exists(_.matches("^\\(\\d+\\) Generate.*")),
      "block explode plans as Generate")
    val exchanges = p.linesIterator.count(_.matches("^\\(\\d+\\) Exchange.*"))
    assert(exchanges <= 1, s"only the output sort may exchange: $exchanges")
    val scans = p.linesIterator.filter(_.contains("Location"))
      .count(_.contains("documents.parquet"))
    assert(scans == 1, s"documents scans: $scans")
  }
}
