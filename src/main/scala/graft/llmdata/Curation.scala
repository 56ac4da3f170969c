package graft.llmdata

import org.apache.spark.sql.{Column, DataFrame, GraftCheckpoint, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** End-to-end corpus curation — the composed form of the pipeline a
  * 100 TB training-data run actually executes, demonstrating that the
  * engine's operators chain inside ONE lazy DAG (no materialization
  * between stages): language-ID → quality scoring → exact dedup →
  * deterministic stratified sampling → per-stratum accounting.
  *
  * Scale posture: two shuffles total — the content-hash dedup window
  * (high-cardinality key, no skew) and ONE (lang, band) aggregate that
  * carries the census sums and the md5-ranked sample together via the
  * bounded-heap [[graft.functions.BottomKByKey]] aggregator (O(SampleK)
  * state per stratum, combinable through the partial-aggregation
  * shuffle). Everything upstream is a single map pass over the scan.
  * There are only |langs|×|bands| strata, so a row_number window here
  * would make each stratum ONE task sorting it end-to-end — the heap
  * never sorts a stratum whole. The md5-ranked sample is deliberately
  * rand()-free so it is replayable and partition-stable.
  */
object Curation {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  private val words: Column = split(col("text"), " ")

  private val SampleK = 25

  def corpusCuration(spark: SparkSession, dir: String): DataFrame = {
    // language-ID marker voting (tx2's heuristic, inlined so the whole
    // pipeline stays one projection until the first window)
    def hits(markers: Seq[String]): Column =
      size(filter(words, w => markers.map(w === _).reduce(_ || _))).cast(LongType)
    val en = hits(Seq("the", "and", "of", "is"))
    val es = hits(Seq("el", "la", "de", "que"))
    val fr = hits(Seq("le", "les", "des", "une"))
    val de = hits(Seq("der", "und", "die", "nicht"))
    val best = greatest(en, es, fr, de)
    val pred = when(best === 0, lit("und"))
      .when(en === best, lit("en"))
      .when(es === best, lit("es"))
      .when(fr === best, lit("fr"))
      .otherwise(lit("de"))
    // quality composite (tx4's arithmetic: int-derived doubles, fixed
    // operation order — bit-identical across engines)
    val nw = size(words).cast(DoubleType)
    val ndw = size(array_distinct(words)).cast(DoubleType)
    val quality = least(nw / lit(80.0), lit(1.0)) * lit(0.5) + (ndw / nw) * lit(0.5)

    val feats = t(spark, dir, "documents").select(
      col("doc_id"),
      pred.as("pred_lang"),
      quality.as("quality"),
      regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
        .cast(LongType).as("re_tokens"),
      md5(col("text")).as("content_hash"))

    // exact dedup: canonical copy = lowest doc_id per content hash
    val canon = feats
      .withColumn("_dup_rn", row_number().over(
        Window.partitionBy(col("content_hash")).orderBy(col("doc_id"))))
      .filter(col("_dup_rn") === 1)

    // filter gate: identified language + quality floor, then band
    val kept = canon
      .filter(col("pred_lang") =!= "und" && col("quality") >= 0.45)
      .withColumn("band", when(col("quality") >= 0.6, lit("high")).otherwise(lit("medium")))

    // deterministic md5-ranked sample of SampleK docs per stratum, taken
    // INSIDE the census aggregate: BottomKByKey keeps the SampleK lowest
    // (md5, doc_id) entries with their token payloads, so the sample
    // statistics come off the heap with no second window/join — the md5
    // hex digest is a 128-bit order a Double score can't represent, hence
    // the string-keyed aggregator rather than TopKByScore
    kept.groupBy(col("pred_lang"), col("band"))
      .agg(
        count(lit(1)).as("n_kept"),
        sum(col("re_tokens")).as("total_tokens"),
        graft.functions.BottomKByKey.bottomK(
          md5(col("doc_id").cast(StringType)), col("doc_id"),
          col("re_tokens"), SampleK).as("_sample"),
        // nano-scaled integer sum: the average must not depend on
        // partial-aggregation order (see tx4)
        ((sum(round(col("quality") * lit(1e9)).cast(LongType)).cast(DoubleType) /
          count(lit(1))) / lit(1e9)).as("avg_quality"))
      .select(col("pred_lang"), col("band"), col("n_kept"), col("total_tokens"),
        size(col("_sample")).cast(LongType).as("n_sampled"),
        aggregate(col("_sample"), lit(0L),
          (acc, e) => acc + e.getField("payload")).as("sample_tokens"),
        col("avg_quality"))
      .orderBy(col("pred_lang"), col("band"))
  }

  val corpusCurationSql: String =
    s"""WITH f AS (
       |  SELECT doc_id,
       |    CASE WHEN greatest(en,es,fr,de)=0 THEN 'und'
       |         WHEN en=greatest(en,es,fr,de) THEN 'en'
       |         WHEN es=greatest(en,es,fr,de) THEN 'es'
       |         WHEN fr=greatest(en,es,fr,de) THEN 'fr'
       |         ELSE 'de' END AS pred_lang,
       |    least(CAST(len(string_split(text,' ')) AS DOUBLE) / 80.0, 1.0) * 0.5 +
       |    (CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) /
       |     CAST(len(string_split(text,' ')) AS DOUBLE)) * 0.5 AS quality,
       |    len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens,
       |    md5(text) AS content_hash
       |  FROM (SELECT doc_id, text,
       |    len(list_filter(string_split(text,' '), w -> w='the' OR w='and' OR w='of' OR w='is')) AS en,
       |    len(list_filter(string_split(text,' '), w -> w='el' OR w='la' OR w='de' OR w='que')) AS es,
       |    len(list_filter(string_split(text,' '), w -> w='le' OR w='les' OR w='des' OR w='une')) AS fr,
       |    len(list_filter(string_split(text,' '), w -> w='der' OR w='und' OR w='die' OR w='nicht')) AS de
       |  FROM documents)),
       |canon AS (SELECT * FROM f
       |  QUALIFY row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) = 1),
       |kept AS (SELECT *, CASE WHEN quality >= 0.6 THEN 'high' ELSE 'medium' END AS band
       |  FROM canon WHERE pred_lang <> 'und' AND quality >= 0.45),
       |s AS (SELECT *, row_number() OVER (PARTITION BY pred_lang, band
       |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS srn FROM kept)
       |SELECT pred_lang, band, COUNT(*) AS n_kept,
       |  CAST(SUM(re_tokens) AS BIGINT) AS total_tokens,
       |  CAST(SUM(CASE WHEN srn <= $SampleK THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       |  CAST(SUM(CASE WHEN srn <= $SampleK THEN re_tokens END) AS BIGINT) AS sample_tokens,
       |  (CAST(SUM(CAST(round(quality * 1000000000.0) AS BIGINT)) AS DOUBLE) / COUNT(*))
       |    / 1000000000.0 AS avg_quality
       |FROM s GROUP BY 1, 2 ORDER BY pred_lang, band""".stripMargin

  /** Near-dup-aware curation accounting (cur2): the OTHER half of the
    * production curation DAG — near-duplicate removal (dd3's confirmed
    * MinHash+LSH pairs) and benchmark decontamination (dd13's n-gram
    * containment) composed into one outcome ledger. Every document lands
    * in exactly one bucket, with precedence eval_holdout >
    * removed_neardup > removed_contaminated > kept:
    *   - `eval_holdout`   — the benchmark slice itself (doc_id % EvalMod)
    *   - `removed_neardup` — greedy near-dup drop: any doc with a
    *     confirmed pair to a LOWER doc_id (pairs are emitted doc_a <
    *     doc_b, so the drop set is exactly `distinct doc_b` — the same
    *     deterministic keep-lowest rule dd1/dd2 use)
    *   - `removed_contaminated` — trigram containment in the eval gram
    *     union ≥ the dd13 threshold
    *   - `kept` — survives all gates
    *
    * Scale posture: the expensive pass is dd3's sign→band→verify, shared
    * through the session pair cache ("materialize once per corpus
    * snapshot"); the drop/contaminated id sets are tiny relative to the
    * corpus and broadcast, so this ledger adds ONE corpus scan + one
    * map-side-combined aggregate on top of work the pipeline already did. */
  def curationNearDup(spark: SparkSession, dir: String): DataFrame = {
    val isEval = col("doc_id") % Constants.EvalMod === 0
    val dupDocs = Dedup.minhashLsh(spark, dir)
      .select(col("doc_b").as("dup_id")).distinct()
    val contaminated = Dedup.decontaminate(spark, dir)
      .filter(col("contaminated")).select(col("doc_id").as("cont_id"))
    val outcome = when(isEval, lit("eval_holdout"))
      .when(col("dup_id").isNotNull, lit("removed_neardup"))
      .when(col("cont_id").isNotNull, lit("removed_contaminated"))
      .otherwise(lit("kept"))
    t(spark, dir, "documents")
      // hint kept (inflated estimate): unhinted, the join to dd3's drop ids sort-merges
      .join(broadcast(dupDocs), col("doc_id") === col("dup_id"), "left")
      .join(contaminated, col("doc_id") === col("cont_id"), "left")
      .select(outcome.as("outcome"), col("doc_id"),
        size(words).cast(LongType).as("n_tokens"))
      .groupBy(col("outcome"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("outcome"))
  }

  val curationNearDupSql: String =
    s"""WITH dups AS (SELECT DISTINCT doc_b AS dup_id
       |              FROM (${Dedup.minhashLshSql})),
       |cont AS (SELECT doc_id AS cont_id FROM (${Dedup.decontaminateSql})
       |         WHERE contaminated),
       |d AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
       |      FROM documents),
       |cat AS (SELECT d.doc_id, d.n_tokens,
       |    CASE WHEN d.doc_id % ${Constants.EvalMod} = 0 THEN 'eval_holdout'
       |         WHEN p.dup_id IS NOT NULL THEN 'removed_neardup'
       |         WHEN c.cont_id IS NOT NULL THEN 'removed_contaminated'
       |         ELSE 'kept' END AS outcome
       |  FROM d LEFT JOIN dups p ON d.doc_id = p.dup_id
       |         LEFT JOIN cont c ON d.doc_id = c.cont_id)
       |SELECT outcome, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       |FROM cat GROUP BY outcome ORDER BY outcome""".stripMargin

  /** Data-mixture weighting (cur3): the source-sampling plan of a
    * multi-corpus pretraining run — per source, exact token volumes plus a
    * TEMPERATURE-scaled sampling weight that upweights small sources
    * (τ = 2, i.e. weight ∝ tokens^(1/2) — the multilingual-sampling rule
    * of Conneau & Lample 2019; GPT-3/Pile mixtures are the same shape
    * with hand-tuned exponents).
    *
    * Float-parity design: exponent 1/2 makes the power a SQRT — the one
    * power IEEE 754 requires to be correctly rounded, so both engines get
    * the identical double where pow(x, 0.7) could differ in ULPs. The
    * normalization denominator is a SUM of sqrt values floored to exact
    * micro-units (BIGINTs), so partial-aggregation order cannot perturb
    * it. token_share and sampled_share are single divisions of exact
    * integers.
    *
    * Scale posture: one map-side-combined aggregate over the corpus scan
    * (|sources| cells), then a broadcast single-row total — no sort, no
    * window, nothing scales with row count after the scan. */
  def mixtureWeights(spark: SparkSession, dir: String): DataFrame = {
    val perSource = t(spark, dir, "documents")
      .select(col("source"), size(words).cast(LongType).as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      .withColumn("w_micro",
        floor(sqrt(col("n_tokens").cast(DoubleType)) * lit(1e6)).cast(LongType))
    val totals = perSource.agg(
      sum(col("n_tokens")).as("tot_tokens"),
      sum(col("w_micro")).as("tot_w"))
    perSource.crossJoin(totals)
      .select(
        col("source"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast(DoubleType) / col("tot_tokens")).as("token_share"),
        (col("w_micro").cast(DoubleType) / col("tot_w")).as("sampled_share"))
      .orderBy(col("source"))
  }

  val mixtureWeightsSql: String =
    """WITH s AS (SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |w AS (SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0)
      |    AS BIGINT) AS w_micro FROM s),
      |t AS (SELECT SUM(n_tokens) AS tot_tokens, SUM(w_micro) AS tot_w FROM w)
      |SELECT source, n_docs, n_tokens,
      |  CAST(n_tokens AS DOUBLE) / tot_tokens AS token_share,
      |  CAST(w_micro AS DOUBLE) / tot_w AS sampled_share
      |FROM w CROSS JOIN t ORDER BY source""".stripMargin

  /** Leakage-safe split audit (cur4): the train/val/test assignment every
    * pretraining run needs, plus the check that makes it SAFE — near-dup
    * pairs (dd3's confirmed MinHash+LSH pairs) must not straddle a split
    * boundary, or eval measures memorization of training near-copies.
    * Assignment is a deterministic md5 bucket of the doc id (first hex
    * char: 0–b train = 12/16, c–d val, e–f test — replayable, no rand()),
    * and each split's ledger counts the leaky pairs touching it (a
    * cross-split pair is counted under BOTH splits it touches; fixing it
    * means moving one side, so both owners see it).
    *
    * Scale posture: the split column is a scan-side hash; the audit
    * reuses dd3's cached pair pass and joins the (tiny) pair set against
    * the doc→split map twice — one broadcast-sized lookup per side plus a
    * map-side-combined rollup. No new shuffle class: this is cur2's
    * ledger shape pointed at split boundaries. */
  def leakageSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    val splitOf = (id: Column) => {
      val h = substring(md5(id.cast(StringType)), 1, 1)
      when(h.isin("c", "d"), "val")
        .when(h.isin("e", "f"), "test")
        .otherwise("train")
    }
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), splitOf(col("doc_id")).as("split"),
        size(words).cast(LongType).as("n_tokens"))
    val pairs = Dedup.minhashLsh(spark, dir)
      .select(col("doc_a"), col("doc_b"),
        splitOf(col("doc_a")).as("split_a"), splitOf(col("doc_b")).as("split_b"))
    val leaky = pairs.filter(col("split_a") =!= col("split_b"))
    val leakBySplit = leaky.select(col("split_a").as("split"))
      .unionByName(leaky.select(col("split_b").as("split")))
      .groupBy(col("split")).agg(count(lit(1)).as("n_leaky_pairs"))
    docs.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      .join(leakBySplit, Seq("split"), "left")
      .select(col("split"), col("n_docs"), col("total_tokens"),
        coalesce(col("n_leaky_pairs"), lit(0L)).as("n_leaky_pairs"))
      .orderBy(col("split"))
  }

  val leakageSafeSplitSql: String = {
    def splitOf(id: String): String =
      s"CASE WHEN substr(md5(CAST($id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'val' " +
        s"WHEN substr(md5(CAST($id AS VARCHAR)), 1, 1) IN ('e','f') THEN 'test' " +
        "ELSE 'train' END"
    s"""WITH d AS (SELECT doc_id, ${splitOf("doc_id")} AS split,
       |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |p AS (SELECT doc_a, doc_b, ${splitOf("doc_a")} AS split_a,
       |        ${splitOf("doc_b")} AS split_b
       |      FROM (${Dedup.minhashLshSql})),
       |leaky AS (SELECT split_a AS split FROM p WHERE split_a <> split_b
       |          UNION ALL
       |          SELECT split_b FROM p WHERE split_a <> split_b),
       |lc AS (SELECT split, COUNT(*) AS n_leaky_pairs FROM leaky GROUP BY split),
       |ds AS (SELECT split, COUNT(*) AS n_docs, SUM(n_tokens) AS total_tokens
       |       FROM d GROUP BY split)
       |SELECT ds.split, ds.n_docs, CAST(ds.total_tokens AS BIGINT) AS total_tokens,
       |  COALESCE(lc.n_leaky_pairs, 0) AS n_leaky_pairs
       |FROM ds LEFT JOIN lc USING (split)
       |ORDER BY ds.split""".stripMargin
  }

  // ---------------- contamination-aware mixture weighting (cur7)

  /** Contamination- and duplication-aware mixture weighting (cur7): cur3's
    * temperature-scaled sampling plan recomputed over each source's
    * EFFECTIVE token mass — the volume a curated run would actually draw
    * from, not the raw volume: benchmark-contaminated docs (dd13) and the
    * eval holdout itself contribute ZERO tokens, and near-duplicate docs
    * contribute tokens/|cluster| (dd17's soft-dedup rule, so a duplicate
    * class carries one doc-equivalent of mass). A source that is 40%
    * boilerplate clones and 10% benchmark leak gets the sampling share of
    * its genuine content.
    *
    * Float parity: per-doc effective tokens are floor-scaled MICRO-unit
    * BIGINTs summed exactly (order-free); τ = 2 ⇒ sqrt (the one
    * correctly-rounded power); shares are single divisions of exact
    * integers — cur3's parity design throughout.
    *
    * Scale shape: reuses dd3's cached pair pass, dd11's diameter-bounded
    * label propagation, and dd13's broadcast eval-gram union; on top it
    * adds ONE documents scan joined to the (≪ corpus) cluster-size and
    * contaminated sets, one map-side-combined per-source aggregate, and a
    * broadcast 1-row total. No new shuffle class. */
  def contaminationAwareMixture(spark: SparkSession, dir: String): DataFrame = {
    val contaminated = Dedup.decontaminate(spark, dir)
      .filter(col("contaminated")).select(col("doc_id").as("cont_id"))
    val sizes = Dedup.softDedupWeights(spark, dir)
      .select(col("doc_id"), col("cluster_size"))
    val d = t(spark, dir, "documents")
      .select(col("doc_id"), col("source"), size(words).cast(LongType).as("nt"))
    val isEval = col("doc_id") % Constants.EvalMod === 0
    val eff = d.join(sizes, Seq("doc_id"))
      .join(contaminated, col("doc_id") === col("cont_id"), "left")
      .select(col("source"), col("nt"), isEval.as("is_eval"),
        col("cont_id").isNotNull.as("is_cont"),
        when(isEval || col("cont_id").isNotNull, 0L)
          .otherwise(floor(col("nt").cast(DoubleType) * lit(1e6) /
            col("cluster_size").cast(DoubleType)).cast(LongType)).as("eff_micro"))
    val perSource = eff.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("is_eval"), 1L).otherwise(0L)).as("n_eval"),
        sum(when(col("is_cont"), 1L).otherwise(0L)).as("n_contaminated"),
        sum(col("nt")).as("n_tokens"),
        sum(col("eff_micro")).as("eff_tokens_micro"))
      .withColumn("w_micro",
        floor(sqrt(col("eff_tokens_micro").cast(DoubleType) / lit(1e6)) * lit(1e6))
          .cast(LongType))
    val totals = perSource.agg(
      sum(col("n_tokens")).as("tot_tokens"), sum(col("w_micro")).as("tot_w"))
    perSource.crossJoin(totals)
      .select(col("source"), col("n_docs"), col("n_eval"), col("n_contaminated"),
        col("n_tokens"), col("eff_tokens_micro"),
        (col("n_tokens").cast(DoubleType) / col("tot_tokens")).as("token_share"),
        (col("w_micro").cast(DoubleType) / col("tot_w")).as("sampled_share"))
      .orderBy(col("source"))
  }

  val contaminationAwareMixtureSql: String =
    s"""WITH sw AS (SELECT doc_id, cluster_size FROM (${Dedup.softDedupWeightsSql})),
       |cont AS (SELECT doc_id FROM (${Dedup.decontaminateSql}) WHERE contaminated),
       |d AS (SELECT doc_id, source,
       |        CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
       |      FROM documents),
       |eff AS (SELECT d.source, d.nt,
       |          (d.doc_id % ${Constants.EvalMod} = 0) AS is_eval,
       |          (c.doc_id IS NOT NULL) AS is_cont,
       |          CASE WHEN d.doc_id % ${Constants.EvalMod} = 0 OR c.doc_id IS NOT NULL
       |               THEN 0
       |               ELSE CAST(floor(CAST(d.nt AS DOUBLE) * 1000000.0 /
       |                      CAST(sw.cluster_size AS DOUBLE)) AS BIGINT) END AS eff_micro
       |        FROM d JOIN sw USING (doc_id)
       |             LEFT JOIN cont c ON d.doc_id = c.doc_id),
       |s AS (SELECT source, COUNT(*) AS n_docs,
       |        CAST(SUM(CASE WHEN is_eval THEN 1 ELSE 0 END) AS BIGINT) AS n_eval,
       |        CAST(SUM(CASE WHEN is_cont THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       |        CAST(SUM(nt) AS BIGINT) AS n_tokens,
       |        CAST(SUM(eff_micro) AS BIGINT) AS eff_tokens_micro
       |      FROM eff GROUP BY source),
       |w AS (SELECT *, CAST(floor(sqrt(CAST(eff_tokens_micro AS DOUBLE) / 1000000.0)
       |        * 1000000.0) AS BIGINT) AS w_micro FROM s),
       |t AS (SELECT SUM(n_tokens) AS tot_tokens, SUM(w_micro) AS tot_w FROM w)
       |SELECT source, n_docs, n_eval, n_contaminated, n_tokens, eff_tokens_micro,
       |  CAST(n_tokens AS DOUBLE) / tot_tokens AS token_share,
       |  CAST(w_micro AS DOUBLE) / tot_w AS sampled_share
       |FROM w CROSS JOIN t ORDER BY source""".stripMargin

  // ---------------------------------------------- curriculum (cur5)

  private val CurriculumBins = 4

  /** Quality-binned curriculum schedule (cur5): rank the corpus by tx15's
    * classifier score, cut it into [[CurriculumBins]] equal-count quality
    * tiers (ntile over score DESC, doc_id tie-break), and emit the
    * training schedule — epoch k trains on tier k, best first, with
    * per-epoch document/token volumes, cumulative token budget, and each
    * tier's score range (quality-staged training; the anti-curriculum is
    * the same table read backwards).
    *
    * Scale note: exact ntile is a global sort — the VERIFICATION tier of
    * this operator (like q31's exact percentiles). At 100 TB the epoch
    * assignment uses broadcast quantile thresholds from a mergeable
    * histogram sketch (ev8's machinery) and becomes a scan-side CASE; the
    * schedule rollup below is unchanged either way. Float parity: scores
    * reuse tx15's fold; shares are one division of exact BIGINTs. */
  def curriculumSchedule(spark: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis.classifierScore(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("clf_score"))
    val wOrd = Window.orderBy(col("clf_score").desc, col("doc_id"))
    val binned = scored
      .withColumn("epoch", ntile(CurriculumBins).over(wOrd).cast(LongType))
    val agg = binned.groupBy(col("epoch")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("n_tokens"),
      min(col("clf_score")).as("min_score"),
      max(col("clf_score")).as("max_score"))
    val wCum = Window.orderBy(col("epoch"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    agg
      .withColumn("cum_tokens", sum(col("n_tokens")).over(wCum))
      .withColumn("token_share", col("n_tokens").cast(DoubleType) /
        sum(col("n_tokens")).over(wAll).cast(DoubleType))
      .select(col("epoch"), col("n_docs"), col("n_tokens"), col("cum_tokens"),
        col("min_score"), col("max_score"), col("token_share"))
      .orderBy(col("epoch"))
  }

  val curriculumScheduleSql: String =
    s"""WITH cs AS (SELECT doc_id, n_tokens, clf_score
       |            FROM (${TextAnalysis.classifierScoreSql})),
       |binned AS (SELECT *, CAST(ntile($CurriculumBins)
       |    OVER (ORDER BY clf_score DESC, doc_id) AS BIGINT) AS epoch FROM cs),
       |agg AS (SELECT epoch, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |          CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |          MIN(clf_score) AS min_score, MAX(clf_score) AS max_score
       |        FROM binned GROUP BY 1)
       |SELECT epoch, n_docs, n_tokens,
       |  CAST(SUM(n_tokens) OVER (ORDER BY epoch
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
       |  min_score, max_score,
       |  CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS DOUBLE) AS token_share
       |FROM agg ORDER BY epoch""".stripMargin

  // ------------------------------- curriculum, sketch tier (cur5b)

  /** Score-bin width scale for the sketch-tier curriculum: bin =
    * floor(clf_score · 256). 256 = 2^8, so the multiply only shifts the
    * double's exponent — no rounding — making the bin id bit-deterministic
    * in any engine that computed the same score (tx15's fold is, and is
    * itself oracle-gated). */
  private val CurricBinScale = 256

  /** Sketch-tier curriculum schedule (cur5b) — [[curriculumSchedule]]'s
    * 100 TB path, as specified in cur5's scale note. cur5's exact ntile
    * funnels the whole scored corpus through ONE task (a partitionBy-less
    * window sort — the verification tier, like q31's exact percentiles);
    * here the epoch assignment is ev8's mergeable-histogram contract
    * instead:
    *
    *  1. histogram: one map-side-combined (bin → count) aggregate whose
    *     post-shuffle size is ≤ [[CurricBinScale]] cells REGARDLESS of
    *     corpus size;
    *  2. cut points: the ≤256-row histogram is collected (the k-row
    *     codebook pattern of Similarity's IVF) and the three quartile
    *     bin thresholds t1 ≥ t2 ≥ t3 are derived in exact integer
    *     arithmetic — tk = the highest bin whose descending cumulative
    *     count reaches ceil(k·n/4);
    *  3. assignment: the thresholds fold into the plan as literals — a
    *     scan-side CASE, zero extra shuffle, no window anywhere;
    *  4. the schedule rollup (≤4 rows) computes its cumulative budget
    *     with a broadcast triangular self-join instead of a window, so
    *     the WHOLE plan is window-free (PlanQualitySpec "cur5b" asserts
    *     this — zero Window nodes, no sort-merge join).
    *
    * The scored projection feeds TWO jobs (the histogram collect and the
    * returned assignment plan), so it is pinned ([[GraftCheckpoint]]): tx15's
    * classifier fold runs ONCE per call instead of twice (the uncached-
    * derived-table trap that made dd21 the slowest query in r8). The
    * pinned frame is 3 narrow columns per doc — per-doc metadata, not
    * bodies — and is released by the ContextCleaner when the returned
    * frame is dropped.
    *
    * The trade vs cur5 is bin-granular quartiles: every doc in one bin
    * lands in one epoch, so epoch populations deviate from n/4 by at most
    * one bin's population — and tier ordering becomes STRICT (equal
    * scores can never straddle epochs, which ntile's row-split allows).
    * Degenerate corpus (every clf_score NULL, so the histogram is empty):
    * every row lands in epoch 4, matching the SQL twin's CASE ELSE — a
    * NULL epoch would silently vanish through the inner triangular join.
    * The DuckDB twin derives the same cut points in SQL, so the
    * approximation itself is under the hash gate, like ev8's bin lower
    * bounds. */
  def curriculumScheduleSketch(spark: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis.classifierScore(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("clf_score"))
      .transform(GraftCheckpoint.pin)
    val bin = floor(col("clf_score") * CurricBinScale).cast(LongType)
    val hist = scored.select(bin.as("bin"))
      .filter(col("bin").isNotNull)
      .groupBy(col("bin")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(-_._1)
    val n = hist.map(_._2).sum
    // descending cumulative over the collected histogram: cums(b) =
    // #docs with bin ≥ b; tk = max bin with cums ≥ ceil(k·n/4)
    val cums = hist.scanLeft((0L, 0L)) {
      case ((_, acc), (b, c)) => (b, acc + c)
    }.drop(1)
    def cut(q: Int): Long = {
      val thr = (q * n + 3) / 4
      cums.filter(_._2 >= thr).map(_._1).max
    }
    // n == 0 with rows present means every score is NULL: the SQL twin's
    // CASE (NULL >= NULL → no branch) lands them in ELSE 4, so mirror
    // that here — a NULL epoch would be dropped by the inner triangular
    // rollup join below and the row would vanish from the schedule
    val epoch =
      if (n == 0) lit(4L)
      else when(bin >= cut(1), 1L).when(bin >= cut(2), 2L)
        .when(bin >= cut(3), 3L).otherwise(4L)
    val agg = scored.withColumn("epoch", epoch)
      .groupBy(col("epoch")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("clf_score")).as("min_score"),
        max(col("clf_score")).as("max_score"))
    // window-free rollup over the ≤4-row schedule: cumulative budget via
    // a broadcast triangular self-join, total via a broadcast 1-row agg
    val tot = agg.agg(sum(col("n_tokens")).as("tot_tokens"))
    val parts = agg.select(col("epoch").as("e2"), col("n_tokens").as("nt2"))
    agg.join(parts, col("e2") <= col("epoch"))
      .groupBy(col("epoch"), col("n_docs"), col("n_tokens"),
        col("min_score"), col("max_score"))
      .agg(sum(col("nt2")).as("cum_tokens"))
      .crossJoin(tot)
      .select(col("epoch"), col("n_docs"), col("n_tokens"), col("cum_tokens"),
        col("min_score"), col("max_score"),
        (col("n_tokens").cast(DoubleType) / col("tot_tokens").cast(DoubleType))
          .as("token_share"))
      .orderBy(col("epoch"))
  }

  val curriculumScheduleSketchSql: String =
    s"""WITH cs AS (SELECT doc_id, n_tokens, clf_score
       |            FROM (${TextAnalysis.classifierScoreSql})),
       |b AS (SELECT doc_id, n_tokens, clf_score,
       |        CAST(floor(clf_score * $CurricBinScale) AS BIGINT) AS bin FROM cs),
       |h AS (SELECT bin, COUNT(*) AS c FROM b WHERE bin IS NOT NULL GROUP BY 1),
       |cw AS (SELECT bin,
       |    SUM(c) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING) AS cum,
       |    SUM(c) OVER () AS n FROM h),
       |t AS (SELECT
       |    MAX(CASE WHEN cum >= (1*n+3)//4 THEN bin END) AS t1,
       |    MAX(CASE WHEN cum >= (2*n+3)//4 THEN bin END) AS t2,
       |    MAX(CASE WHEN cum >= (3*n+3)//4 THEN bin END) AS t3 FROM cw),
       |e AS (SELECT b.n_tokens, b.clf_score,
       |        CASE WHEN bin >= t1 THEN 1 WHEN bin >= t2 THEN 2
       |             WHEN bin >= t3 THEN 3 ELSE 4 END AS epoch
       |      FROM b CROSS JOIN t),
       |agg AS (SELECT CAST(epoch AS BIGINT) AS epoch,
       |          CAST(COUNT(*) AS BIGINT) AS n_docs,
       |          CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |          MIN(clf_score) AS min_score, MAX(clf_score) AS max_score
       |        FROM e GROUP BY 1)
       |SELECT epoch, n_docs, n_tokens,
       |  CAST(SUM(n_tokens) OVER (ORDER BY epoch
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
       |  min_score, max_score,
       |  CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS DOUBLE) AS token_share
       |FROM agg ORDER BY epoch""".stripMargin

  // ---------------------------------------------- dataset card (cur6)

  /** Per-source dataset card (cur6) — the datasheet a corpus release
    * ships: volumes (docs / tokens / chars), exact-duplicate share,
    * dominant language with its share, and the tx15 quality-gate pass
    * rate, one row per source. Every statistic is an exact integer or a
    * single division of two exact BIGINTs (a mean of per-doc double
    * scores would be aggregation-order-dependent — the accept COUNT is
    * the parity-safe summary).
    *
    * Scale shape: four independent per-source aggregates — volumes
    * (combinable sums), digest duplicate counts (one md5-key count,
    * payload never re-shuffled), language mode (per-source rank over
    * \|langs\| cells), quality joins tx15's zero-shuffle scan — joined on
    * the tiny source key. No new shuffle class. */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
    val vol = d.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " ")).cast(LongType)).as("n_tokens"),
      sum(length(col("text")).cast(LongType)).as("n_chars"))
    val digests = d.select(col("source"), md5(col("text")).as("h"))
    val hCounts = digests.groupBy(col("h")).agg(count(lit(1)).as("hc"))
    val dup = digests.join(hCounts, "h").groupBy(col("source"))
      .agg(sum(when(col("hc") > 1, 1L).otherwise(0L)).as("n_exact_dup"))
    val langTop = d.groupBy(col("source"), col("lang")).agg(count(lit(1)).as("lc"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("lc").desc, col("lang"))))
      .filter(col("rn") === 1)
      .select(col("source"), col("lang").as("top_lang"), col("lc").as("top_lang_docs"))
    val quality = d.select(col("doc_id"), col("source"))
      .join(TextAnalysis.classifierScore(spark, dir).select(col("doc_id"), col("accepted")),
        "doc_id")
      .groupBy(col("source"))
      .agg(sum(when(col("accepted"), 1L).otherwise(0L)).as("n_accepted"))
    vol.join(dup, "source").join(langTop, "source").join(quality, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
        col("n_exact_dup"),
        (col("n_exact_dup").cast(DoubleType) / col("n_docs").cast(DoubleType))
          .as("dup_frac"),
        col("top_lang"),
        (col("top_lang_docs").cast(DoubleType) / col("n_docs").cast(DoubleType))
          .as("top_lang_share"),
        col("n_accepted"),
        (col("n_accepted").cast(DoubleType) / col("n_docs").cast(DoubleType))
          .as("accept_frac"))
      .orderBy(col("source"))
  }

  /** tx15's SQL ends with its presentation `ORDER BY doc_id`; drop exactly
    * that TRAILING clause for use as a join input. A blanket
    * `replace("ORDER BY doc_id", "")` would also hit any same-text window
    * frame inside the query (tx14's SQL already contains one), silently
    * corrupting the generated oracle — so anchor to the suffix and fail
    * loudly at class-load if the upstream shape ever changes. */
  private[llmdata] def classifierScoreSqlNoOrder: String = {
    val sql = TextAnalysis.classifierScoreSql
    val idx = sql.lastIndexOf("ORDER BY doc_id")
    require(idx >= 0 && sql.substring(idx).trim == "ORDER BY doc_id",
      "classifierScoreSql no longer ends with its presentation ORDER BY")
    sql.substring(0, idx)
  }

  val datasetCardSql: String =
    s"""WITH d AS (SELECT doc_id, source, lang, text FROM documents),
       |vol AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |          CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       |          CAST(SUM(len(text)) AS BIGINT) AS n_chars
       |        FROM d GROUP BY source),
       |dg AS (SELECT source, md5(text) AS h FROM d),
       |hc AS (SELECT h, COUNT(*) AS hc FROM dg GROUP BY h),
       |dup AS (SELECT source,
       |          CAST(SUM(CASE WHEN hc > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup
       |        FROM dg JOIN hc USING (h) GROUP BY source),
       |lt AS (SELECT source, lang AS top_lang, lc AS top_lang_docs FROM (
       |         SELECT source, lang, COUNT(*) AS lc,
       |           ROW_NUMBER() OVER (PARTITION BY source
       |             ORDER BY COUNT(*) DESC, lang) AS rn
       |         FROM d GROUP BY source, lang) x WHERE rn = 1),
       |q AS (SELECT d.source,
       |        CAST(SUM(CASE WHEN c.accepted THEN 1 ELSE 0 END) AS BIGINT) AS n_accepted
       |      FROM d JOIN ($classifierScoreSqlNoOrder) c
       |        ON d.doc_id = c.doc_id
       |      GROUP BY d.source)
       |SELECT source, n_docs, n_tokens, n_chars, n_exact_dup,
       |  CAST(n_exact_dup AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_frac,
       |  top_lang,
       |  CAST(top_lang_docs AS DOUBLE) / CAST(n_docs AS DOUBLE) AS top_lang_share,
       |  n_accepted,
       |  CAST(n_accepted AS DOUBLE) / CAST(n_docs AS DOUBLE) AS accept_frac
       |FROM vol JOIN dup USING (source) JOIN lt USING (source) JOIN q USING (source)
       |ORDER BY source""".stripMargin

  // ----------------------- deterministic shard export plan (cur8)

  /** Deterministic training-shard export manifest (cur8): the write-side
    * contract of the pipeline — every document is assigned a shard by
    * content-independent key hash (md5 of doc_id, so re-runs and
    * re-partitions land every doc in the SAME shard regardless of input
    * order or cluster shape), and the manifest records per-shard volumes
    * plus order-free boundary digests (min/max member hash). Training jobs
    * resume/restart against the manifest; a changed digest pinpoints which
    * shard's contents drifted. All stats are exact integers or min/max of
    * hex strings — no aggregation-order hazard anywhere.
    *
    * Scale: one documents scan, one combinable aggregate over [[Constants.NumShards]]
    * keys. The actual shard WRITE at 100 TB is
    * `repartition(Constants.NumShards, shard).write` — the assignment column here is
    * exactly that partitioning expression, so the manifest and the layout
    * cannot disagree. */
  def shardPlan(spark: SparkSession, dir: String): DataFrame = {
    val h = md5(col("doc_id").cast(StringType))
    t(spark, dir, "documents")
      .select(
        (conv(substring(h, 1, 2), 16, 10).cast(LongType) % Constants.NumShards).as("shard"),
        h.as("h"), size(words).cast(LongType).as("nt"), col("n_chars"))
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nt")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        min(col("h")).as("first_digest"),
        max(col("h")).as("last_digest"))
      .orderBy(col("shard"))
  }

  val shardPlanSql: String =
    s"""WITH d AS (SELECT md5(CAST(doc_id AS VARCHAR)) AS h,
       |             CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
       |             n_chars
       |           FROM documents)
       |SELECT ('0x' || substr(h, 1, 2))::BIGINT % ${Constants.NumShards} AS shard,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(nt) AS BIGINT) AS n_tokens,
       |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       |  MIN(h) AS first_digest, MAX(h) AS last_digest
       |FROM d GROUP BY shard ORDER BY shard""".stripMargin

  // ------------------------------------------------------------ cur9

  /** Total training budget in "corpus epochs": budget = 2 × Σ m_s. */
  private val BudgetEpochs = 2L

  /** cur9: token-budget WATERFILLING under license-tiered repetition
    * caps — the allocation step between mixture weighting (cur3/cur7:
    * what SHARE each source deserves) and the shard plan (cur8: how the
    * chosen tokens lay out): given a total token budget B and a hard
    * per-source repetition cap (restricted-license sources — even src
    * index — may be seen ONCE; permissive sources up to 4 epochs),
    * compute the exact per-source token allocation a_s = min(cap_s, λ)
    * with the water level λ set so Σ a_s = B.
    *
    * Deterministic exact form: sort sources by cap ascending; the
    * cap-bound set is provably a PREFIX of that order (if filling row i
    * to its cap is affordable, so is filling any j < i), so k* = the
    * largest prefix where cumcap_{k-1} + cap_k·(n−k+1) ≤ B; rows ≤ k*
    * take their cap, the remainder R = B − cumcap_{k*} divides as
    * R DIV cnt per level-bound row with the first R MOD cnt rows (in the
    * same sort order) taking one extra token — all BIGINT, no float in
    * the allocation; `epochs` is the single a_s/m_s division at the end.
    *
    * Precondition for EXACT budget exhaustion (Σ a_s = B): Σ cap_s ≥ B.
    * With B = 2·Σm and emax ∈ {1, 4}, that holds iff permissive sources
    * carry ≥ 1/3 of the token mass (Σcap = Σm + 3·Σm_permissive). When
    * it does NOT hold (e.g. every source restricted-license), the math
    * still degrades losslessly — every row is cap-feasible, k* = n, and
    * the allocation caps out at Σ a_s = Σcap < B with epochs = emax
    * everywhere — but the exhaustion invariant the spec asserts
    * (Σ alloc = B) is then deliberately unattainable: a budget larger
    * than the license-admissible corpus cannot be spent. Callers sizing
    * B against a restricted-heavy mix should check Σcap first.
    *
    * Scale posture: the corpus contributes one combinable token-mass
    * aggregate; everything after runs on the ≤|sources| table (the
    * windows order 20 rows, corpus-size-independent — the cur3/cur6
    * reporting-tier contract). */
  def tokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val srcIdx = expr("CAST(substring(source, 4) AS INT)")
    val masses = t(spark, dir, "documents")
      .select(col("source"),
        regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
          .cast(LongType).as("tok"))
      .groupBy(col("source"))
      .agg(sum(col("tok")).as("m"))
      .withColumn("emax", when(srcIdx % 2 === 0, 1L).otherwise(4L))
      .withColumn("cap", col("m") * col("emax"))
    val wOrd = Window.orderBy(col("cap"), col("source"))
    val ordered = masses
      .withColumn("i", row_number().over(wOrd).cast(LongType))
      .withColumn("cumcap", sum(col("cap"))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tots = masses.agg(count(lit(1)).cast(LongType).as("n"),
      (sum(col("m")) * lit(BudgetEpochs)).as("budget"))
    val feas = ordered.crossJoin(tots)
      .withColumn("feasible",
        col("cumcap") - col("cap") + col("cap") * (col("n") - col("i") + 1) <= col("budget"))
    val ks = feas.agg(
      coalesce(max(when(col("feasible"), col("i"))), lit(0L)).as("kstar"),
      coalesce(max(when(col("feasible"), col("cumcap"))), lit(0L)).as("capsum"))
    feas.crossJoin(ks)
      .withColumn("alloc",
        when(col("i") <= col("kstar"), col("cap"))
          .when(col("n") - col("kstar") === 0, col("cap"))
          .otherwise(
            expr("(budget - capsum) DIV (n - kstar)") +
              when(col("i") - col("kstar") <= (col("budget") - col("capsum")) % (col("n") - col("kstar")),
                1L).otherwise(0L)))
      .select(col("source"), col("m").as("n_tokens"), col("emax"),
        col("cap").as("cap_tokens"), col("alloc").as("alloc_tokens"),
        (col("alloc").cast(DoubleType) / col("m").cast(DoubleType)).as("epochs"),
        (col("i") <= col("kstar")).as("capped"))
      .orderBy(col("source"))
  }

  val tokenBudgetSql: String =
    s"""WITH masses AS (
       |  SELECT source,
       |    CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS m
       |  FROM documents GROUP BY source),
       |caps AS (
       |  SELECT source, m,
       |    CAST(CASE WHEN CAST(substring(source, 4) AS INT) % 2 = 0 THEN 1 ELSE 4 END AS BIGINT) AS emax,
       |    m * (CASE WHEN CAST(substring(source, 4) AS INT) % 2 = 0 THEN 1 ELSE 4 END) AS cap
       |  FROM masses),
       |ordered AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY cap, source) AS BIGINT) AS i,
       |    SUM(cap) OVER (ORDER BY cap, source ROWS UNBOUNDED PRECEDING) AS cumcap
       |  FROM caps),
       |tots AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |                $BudgetEpochs * SUM(m) AS budget FROM masses),
       |feas AS (
       |  SELECT o.*, t.n, t.budget,
       |    (o.cumcap - o.cap + o.cap * (t.n - o.i + 1) <= t.budget) AS feasible
       |  FROM ordered o CROSS JOIN tots t),
       |ks AS (SELECT COALESCE(MAX(CASE WHEN feasible THEN i END), 0) AS kstar,
       |              COALESCE(MAX(CASE WHEN feasible THEN cumcap END), 0) AS capsum
       |       FROM feas),
       |alloc AS (
       |  SELECT f.source, f.m, f.emax, f.cap, f.i, k.kstar,
       |    CASE WHEN f.i <= k.kstar THEN f.cap
       |         WHEN f.n - k.kstar = 0 THEN f.cap
       |         ELSE (f.budget - k.capsum) // (f.n - k.kstar)
       |              + (CASE WHEN f.i - k.kstar <= (f.budget - k.capsum) % (f.n - k.kstar)
       |                 THEN 1 ELSE 0 END)
       |    END AS a
       |  FROM feas f CROSS JOIN ks k)
       |SELECT source, m AS n_tokens, emax, cap AS cap_tokens,
       |  CAST(a AS BIGINT) AS alloc_tokens,
       |  CAST(a AS DOUBLE) / CAST(m AS DOUBLE) AS epochs,
       |  (i <= kstar) AS capped
       |FROM alloc ORDER BY source""".stripMargin

  // ----------------------------------------------------------- cur10

  /** Perplexity threshold for [[unigramLmFilter]], in micro-nats per
    * token: a doc whose mean unigram surprisal exceeds this is flagged
    * for the drop side of the quality split. */
  private val LmThresholdMicroNats = 3_410_000L

  /** cur10: unigram-LM perplexity filter — the CCNet/RedPajama quality
    * gate re-expressed Spark-first. A language-model score is the one
    * quality axis the rule-based signals (tx4/tx7/tx15) cannot see: a doc
    * of individually-reasonable words in an improbable mix (keyword
    * stuffing, mixed-corpus pastes, OCR soup) reads as high-surprisal
    * under a model fit on the corpus itself. The model here is the exact
    * unigram MLE — P(w) = count(w)/total — the degenerate-but-real end of
    * the KenLM family whose higher orders differ only in the key being an
    * n-gram context.
    *
    * Exact-parity discipline for an inherently-float score: each TYPE's
    * surprisal −ln P(w) is quantized ONCE to integer micro-nats (the tx4
    * nano-unit rule applied at the vocab, not the doc); a doc's total NLL
    * is then an exact BIGINT sum — independent of partial-aggregation
    * order — and the keep/drop decision compares integers
    * (nll_micro ≤ thr·n_tokens), so no engine ever compares accumulated
    * doubles. One final division renders nats/token for the report.
    *
    * Scale: two token-keyed combinable aggregates (the tx6-df exchange
    * class) + one vocab→token-stream join. The vocab (distinct types,
    * ≪ corpus — Heaps: ~n^0.6) BROADCASTS here; at 100 TB vocab it
    * degrades to an ordinary shuffle join on the token key with the same
    * plan otherwise. Corpus text crosses no exchange — tokens are
    * exploded and reduced scan-side. */
  def unigramLmFilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val toks = docs.select(col("doc_id"), col("source"),
      explode(split(col("text"), " ")).as("w"))
    val totFrame = toks.agg(count(lit(1)).as("tot"))
    val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .crossJoin(totFrame)
      .select(col("w"),
        round(-log(col("cnt").cast(DoubleType) / col("tot").cast(DoubleType))
          * lit(1000000.0)).cast(LongType).as("surprisal_micro"))
    // hint kept (backwards estimate): unhinted, the token stream is the build side
    val perDoc = toks.join(broadcast(vocab), "w")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("surprisal_micro")).as("nll_micro"))
    perDoc
      .select(col("doc_id"), col("source"), col("n_tokens"), col("nll_micro"),
        (col("nll_micro").cast(DoubleType) /
          (lit(1000000.0) * col("n_tokens").cast(DoubleType))).as("nats_per_token"),
        (col("nll_micro") <= lit(LmThresholdMicroNats) * col("n_tokens")).as("keep"))
      .orderBy(col("doc_id"))
  }

  val unigramLmFilterSql: String =
    s"""WITH toks AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
       |             FROM documents),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot FROM toks),
       |vocab AS (SELECT w,
       |    CAST(round(-ln(CAST(COUNT(*) AS DOUBLE) / CAST(tot.tot AS DOUBLE))
       |      * 1000000.0) AS BIGINT) AS surprisal_micro
       |  FROM toks, tot GROUP BY w, tot.tot),
       |pd AS (SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |         CAST(SUM(surprisal_micro) AS BIGINT) AS nll_micro
       |       FROM toks JOIN vocab USING (w)
       |       GROUP BY doc_id, source)
       |SELECT doc_id, source, n_tokens, nll_micro,
       |  CAST(nll_micro AS DOUBLE) /
       |    (1000000.0 * CAST(n_tokens AS DOUBLE)) AS nats_per_token,
       |  nll_micro <= $LmThresholdMicroNats * n_tokens AS keep
       |FROM pd ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------- cur11

  /** Hashed-feature bucket count for [[dsirWeights]] (DSIR's 10k-bucket
    * hashed n-gram space, scaled to the fixture vocabulary). */
  private val DsirBuckets = 1024L

  /** cur11: DSIR importance weights — "Data Selection for Language Models
    * via Importance Resampling" (Xie et al. 2023). Where cur10 scores
    * docs against the corpus's OWN distribution, DSIR scores them against
    * a TARGET domain: hash every word bigram into [[DsirBuckets]]
    * buckets, fit two smoothed multinomials — the target sample (here
    * the `lang='en'` slice, the "looks like quality English" proxy) and
    * the raw corpus — and weight each doc by its log likelihood RATIO
    * Σ ln p̂_target(f)/p̂_raw(f) over its feature instances. Docs with
    * positive log-ratio read as more target-like than corpus-average and
    * are admitted; resampling ∝ weight is the paper's sampling step, the
    * deterministic admission here is its selection-tier rendering.
    *
    * Exactness (cur10's discipline, applied to a ratio): each BUCKET's
    * add-one-smoothed log-ratio ln((c_t+1)/(T_t+B)) − ln((c_r+1)/(T_r+B))
    * is quantized ONCE to integer micro-nats at the 1024-row bucket
    * table; a doc's log-weight is then an exact BIGINT sum of bucket
    * values — aggregation-order-free — and the admit decision is an
    * integer sign test. One final division renders nats/feature.
    *
    * Scale: the bucket table is B rows regardless of corpus size and
    * BROADCASTS into the feature stream; the corpus crosses exactly one
    * exchange (the doc-key rollup). Refreshing the target re-fits a
    * B-row table — the corpus is never re-shuffled.
    *
    * The FITTED bucket table is a model, and serving detaches from
    * fitting (the codebook idiom — `Similarity.collectedExemplars`,
    * `TextAnalysis.collectedVocab`): ≤[[DsirBuckets]] rows collect once
    * per corpus snapshot into [[dsirModelCache]] (control plane), and
    * every subsequent scoring invocation is ONE corpus pass joining the
    * cached local table — the shape a production DSIR deployment has,
    * where the model refits on target refresh, not per scoring run.
    * Same staleness contract as every SessionCache user. */
  private val dsirModelCache = new SessionCache[Array[(Long, Long)]](_ => ())

  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    // transform-then-explode, not explode-then-project: measured at
    // sf0.1, the per-bigram lambda costs LESS (1.2 s) than a Generate
    // that duplicates (doc_id, source, lang, _w) across 10M position
    // rows (1.5 s) — the bigram md5 is cheap relative to the row fanout,
    // the opposite trade from mm8's per-byte extraction. r19: the hash
    // array itself now comes from the native TextHashFunctions.gramHashes
    // (one JVM loop per row — winnowing's 60-bit md5-prefix convention,
    // bit-identical to the conv(substring(md5(concat_ws(...)))) tree it
    // replaces) instead of an interpreted per-gram lambda; only the
    // cheap % bucketing stays a lambda.
    val feats = docs
      .withColumn("_w", split(col("text"), " "))
      // mirror the twin's WHERE len(w) >= 2: a 1-word doc yields no
      // bigram (gramHashes returns empty below k words; the filter
      // keeps the plan aligned with the twin's WHERE)
      .filter(size(col("_w")) >= 2)
      .select(col("doc_id"), col("source"), col("lang"),
        explode(transform(
          graft.functions.TextHashFunctions.gramHashes(col("_w"), 2),
          h => h % DsirBuckets)).as("b"))
    // ONE corpus pass builds the whole bucket table (r16 verdict task 4:
    // the previous rawCnt/tgtCnt/totals trio re-derived the bigram
    // explode three times): a single groupBy(b) with a conditional count
    // yields both masses, and the totals come from the B-row result via
    // a single-partition window — ≤[[DsirBuckets]] rows, control plane,
    // not a data shuffle (sum(c_r) over all buckets IS t_r because every
    // feature instance lands in exactly one bucket)
    val allBuckets = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val bucketCnt = feats.groupBy(col("b")).agg(
      count(lit(1)).as("c_r"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_t"))
    // B-row bucket table: every observed bucket, both smoothed masses,
    // ONE quantization of the log-ratio to micro-nats
    def fitBuckets(): Array[(Long, Long)] = bucketCnt
      .withColumn("t_r", sum(col("c_r")).over(allBuckets))
      .withColumn("t_t", sum(col("c_t")).over(allBuckets))
      .select(col("b"),
        round((log((col("c_t") + 1).cast(DoubleType) /
          (col("t_t") + DsirBuckets).cast(DoubleType)) -
          log((col("c_r") + 1).cast(DoubleType) /
            (col("t_r") + DsirBuckets).cast(DoubleType))) * lit(1000000.0))
          .cast(LongType).as("lr_micro"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val fitted = dsirModelCache.get(spark, s"dsir_buckets:$dir")(fitBuckets())
    import spark.implicits._
    val buckets = fitted.toSeq.toDF("b", "lr_micro")
    val perDoc = feats.join(buckets, "b")
      .groupBy(col("doc_id"), col("source"), col("lang"))
      .agg(count(lit(1)).as("n_feats"), sum(col("lr_micro")).as("logw_micro"))
    perDoc
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_feats"), col("logw_micro"),
        (col("logw_micro").cast(DoubleType) /
          (lit(1000000.0) * col("n_feats").cast(DoubleType))).as("nats_per_feat"),
        (col("logw_micro") > 0L).as("admit"))
      .orderBy(col("doc_id"))
  }

  val dsirWeightsSql: String =
    s"""WITH d AS (SELECT doc_id, source, lang, string_split(text, ' ') AS w
       |           FROM documents),
       |i0 AS (SELECT doc_id, source, lang, w,
       |         unnest(generate_series(1, len(w) - 1)) AS i
       |       FROM d WHERE len(w) >= 2),
       |feats AS (SELECT doc_id, source, lang,
       |    CAST('0x' || substr(md5(w[i] || ' ' || w[i+1]), 1, 15) AS BIGINT)
       |      % $DsirBuckets AS b
       |  FROM i0),
       |raw_cnt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c_r FROM feats GROUP BY b),
       |tgt_cnt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c_t FROM feats
       |            WHERE lang = 'en' GROUP BY b),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_r,
       |          CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS t_t
       |        FROM feats),
       |buckets AS (SELECT r.b,
       |    CAST(round((ln(CAST(coalesce(t.c_t, 0) + 1 AS DOUBLE) /
       |                   CAST(tot.t_t + $DsirBuckets AS DOUBLE)) -
       |                ln(CAST(r.c_r + 1 AS DOUBLE) /
       |                   CAST(tot.t_r + $DsirBuckets AS DOUBLE))) * 1000000.0)
       |      AS BIGINT) AS lr_micro
       |  FROM raw_cnt r LEFT JOIN tgt_cnt t ON r.b = t.b CROSS JOIN tot),
       |pd AS (SELECT doc_id, source, lang, CAST(COUNT(*) AS BIGINT) AS n_feats,
       |         CAST(SUM(lr_micro) AS BIGINT) AS logw_micro
       |       FROM feats JOIN buckets USING (b)
       |       GROUP BY doc_id, source, lang)
       |SELECT doc_id, source, lang, n_feats, logw_micro,
       |  CAST(logw_micro AS DOUBLE) /
       |    (1000000.0 * CAST(n_feats AS DOUBLE)) AS nats_per_feat,
       |  logw_micro > 0 AS admit
       |FROM pd ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------- cur12

  /** Backoff penalty −ln(0.4) in micro-nats, quantized ONCE as a shared
    * integer constant so neither engine evaluates the float. */
  private val BackoffPenaltyMicroNats = 916291L

  /** Keep threshold for [[trigramLmFilter]], micro-nats per token: sits
    * between the train-half ceiling (~2.85) and the held-out median
    * (~3.67) at the fixture, so the gate actually discriminates. */
  private val TrigramLmThresholdMicroNats = 3_500_000L

  /** cur12: trigram-LM perplexity filter with Stupid Backoff — the full
    * CCNet/KenLM-shaped quality gate whose degenerate unigram case is
    * cur10. The model is fit on a HELD-OUT half of the corpus (docs whose
    * `md5(doc_id)` leads 0–7 — the deterministic split discipline of
    * cur4) and scores EVERY doc, so unseen n-grams really occur and the
    * backoff chain is exercised, not just implemented. Scoring follows
    * Brants et al. 2007 ("Large Language Models in Machine Translation"):
    * S(w|w₋₂w₋₁) = c₃/c₂ if the trigram was seen, else 0.4·S(w|w₋₁),
    * else 0.4²·c₁/N, with an OOV floor of c₁:=1; a position whose context
    * is shorter (first/second token) starts lower in the chain with no
    * penalty.
    *
    * Exact-parity discipline (cur10's, applied per MODEL ORDER): each
    * model row's surprisal −ln(count ratio) is quantized to integer
    * micro-nats AT THE MODEL — the 0.4 backoff penalty is the shared
    * integer constant [[BackoffPenaltyMicroNats]], never a float — so a
    * token's surprisal is `base(deepest hit) + (lvl − hit)·P`, all
    * BIGINT, and the doc NLL is an order-independent exact sum.
    *
    * Scale: context is attached SCAN-SIDE (transform-then-explode over
    * the token array — no lag window, so the corpus text never shuffles
    * for ordering); the model fit is three gram-keyed combinable
    * aggregates over the train slice; the three model tables broadcast at
    * closed-vocab fixture scale and degrade to ordinary co-partitioned
    * joins on the gram key at open-vocab scale (the plan is otherwise
    * identical — this is KenLM's sharded-model lookup, declaratively).
    * The per-doc rollup is the corpus's one exchange. */
  def trigramLmFilter(spark: SparkSession, dir: String): DataFrame = {
    val P = BackoffPenaltyMicroNats
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("_w"))
    // (w, w1=prev, w2=prev2) per position, built scan-side; transform's
    // lambda index is 0-based, element_at is 1-based
    def toksOf(d: DataFrame): DataFrame = d
      .select(col("doc_id"), col("source"),
        explode(transform(col("_w"), (x, i) =>
          struct(x.as("w"),
            when(i >= 1, element_at(col("_w"), i)).as("w1"),
            when(i >= 2, element_at(col("_w"), i - 1)).as("w2")))).as("g"))
      .select(col("doc_id"), col("source"),
        col("g.w"), col("g.w1"), col("g.w2"),
        (substring(md5(col("doc_id").cast(StringType)), 1, 1) < "8")
          .as("is_train"))
    val toks = toksOf(docs)
    // The SCORE pass repartitions its corpus slice first (r20): the
    // fixture is one single-row-group parquet file, so the scoring
    // Generate + model probe + per-doc rollup chain inherited the scan's
    // ONE partition and ran serial (measured 9 tasks / parallelism 0.7 on
    // 32 cores). Width derives from the cluster; the cost is one exchange
    // of the 5k-row document table. The FIT pass deliberately keeps the
    // scan layout: its groupBy collapses ~2.5M train tokens to ~27k
    // trigram types IN the partial aggregate, and fragmenting it into 32
    // partial maps measurably inflates the exchange more than the
    // parallelism repays at this corpus (A/B: fit-side repartition was a
    // wash; score-side-only kept the win).
    val scoreToks = toksOf(
      docs.repartition(spark.sparkContext.defaultParallelism))
    // ONE aggregate pass over the train stream builds a full-context
    // count cube (null-keyed rows keep the short-context positions); the
    // three model count tables are marginals of the CUBE, not re-scans —
    // without this the plan re-exploded the corpus once per model table
    // (6 Generates at sf0.1; 2 corpus passes total now: fit + score)
    // the pin holds the cube (|trigram types| rows, ~27k at sf0.1)
    // so its six consumers (tot×2, uni, bi, tri, and m1's cross) read one
    // materialization instead of re-aggregating the corpus — cur5b's
    // single-scoring-scan discipline applied to the model fit
    val ctxCube = toks.filter(col("is_train"))
      .groupBy(col("w2"), col("w1"), col("w")).agg(count(lit(1)).as("c"))
      .transform(GraftCheckpoint.pin)
    val totF = ctxCube.agg(sum(col("c")).as("tot"))
    val uni = ctxCube.groupBy(col("w")).agg(sum(col("c")).as("c1"))
    val bi = ctxCube.filter(col("w1").isNotNull)
      .groupBy(col("w1").as("p"), col("w")).agg(sum(col("c")).as("c2"))
    val tri = ctxCube.filter(col("w2").isNotNull)
      .groupBy(col("w2").as("p2"), col("w1").as("p1"), col("w"))
      .agg(sum(col("c")).as("c3"))
    def q(x: Column): Column = round(-log(x) * lit(1000000.0)).cast(LongType)
    val m3 = tri.join(bi.select(col("p").as("_bp"), col("w").as("_bw"),
        col("c2").as("_bc2")),
        col("p2") === col("_bp") && col("p1") === col("_bw"))
      .select(col("p2"), col("p1"), col("w"),
        q(col("c3").cast(DoubleType) / col("_bc2").cast(DoubleType)).as("s3"))
    val m2 = bi.join(uni.select(col("w").as("_uw"), col("c1").as("_uc1")),
        col("p") === col("_uw"))
      .select(col("p"), col("w"),
        q(col("c2").cast(DoubleType) / col("_uc1").cast(DoubleType)).as("s2"))
    val m1 = uni.crossJoin(totF)
      .select(col("w"),
        q(col("c1").cast(DoubleType) / col("tot").cast(DoubleType)).as("s1"))
    val oovF = totF.select(
      round(log(col("tot").cast(DoubleType)) * lit(1000000.0))
        .cast(LongType).as("s_oov"))
    val lvl = when(col("w2").isNotNull, 2)
      .when(col("w1").isNotNull, 1).otherwise(0)
    val hit = when(col("s3").isNotNull, 2)
      .when(col("s2").isNotNull, 1).otherwise(0)
    // ONE fused broadcast lookup keyed by w (r19 verdict item 7): the
    // three per-level model tables used to be three separate broadcast
    // builds + three probe joins per token. All three lookups share the
    // trailing word w, so the fused table carries, per unigram type, the
    // unigram surprisal plus a map of its bigram contexts (w1 → s2) and a
    // map of its trigram contexts ("w2 w1" → s3 — words come from
    // split(' '), so the space-joined context key is collision-free).
    // Identical values land in identical columns (s3/s2/s1 as before,
    // null when the context was unseen — try_element_at returns null on a
    // missing key under ANSI and non-ANSI alike), so the coalesce chain,
    // hit/lvl arithmetic, and the oracle twin are untouched. One
    // broadcast build job instead of three; one stream-side join instead
    // of three (guide §3.1).
    val fused = m1
      .join(m2.groupBy(col("w"))
        .agg(map_from_entries(collect_list(struct(col("p"), col("s2"))))
          .as("_m2")), Seq("w"), "left")
      .join(m3.groupBy(col("w"))
        .agg(map_from_entries(collect_list(struct(
          concat(col("p2"), lit(" "), col("p1")), col("s3")))).as("_m3")),
        Seq("w"), "left")
      .withColumnRenamed("w", "_w1c")
    val scored = scoreToks
      // hint kept (inflated estimate): at sf0.1, unhinted, this join sort-merges
      .join(broadcast(fused), col("w") === col("_w1c"), "left")
      .withColumn("s3", when(col("w2").isNotNull,
        try_element_at(col("_m3"), concat(col("w2"), lit(" "), col("w1")))))
      .withColumn("s2", when(col("w1").isNotNull,
        try_element_at(col("_m2"), col("w1"))))
      .crossJoin(oovF)
      .select(col("doc_id"), col("source"), col("is_train"),
        (coalesce(col("s3"), col("s2"), col("s1"), col("s_oov")) +
          (lvl - hit).cast(LongType) * lit(P)).as("surpr"),
        (lvl - hit).cast(LongType).as("bk"),
        col("s1").isNull.as("oov"))
    scored
      .groupBy(col("doc_id"), col("source"), col("is_train"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("surpr")).as("nll_micro"),
        sum(col("bk")).as("n_backoff"),
        sum(when(col("oov"), 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("source"), col("is_train"), col("n_tokens"),
        col("nll_micro"), col("n_backoff"), col("n_oov"),
        (col("nll_micro").cast(DoubleType) /
          (lit(1000000.0) * col("n_tokens").cast(DoubleType)))
          .as("nats_per_token"),
        (col("nll_micro") <= lit(TrigramLmThresholdMicroNats) * col("n_tokens"))
          .as("keep"))
      .orderBy(col("doc_id"))
  }

  val trigramLmFilterSql: String = {
    val P = BackoffPenaltyMicroNats
    s"""WITH w AS (SELECT doc_id, source, string_split(text,' ') AS w FROM documents),
       |tk AS (SELECT doc_id, source, unnest(w) AS w,
       |         unnest(list_transform(generate_series(1, len(w)),
       |           i -> CASE WHEN i >= 2 THEN w[i-1] END)) AS w1,
       |         unnest(list_transform(generate_series(1, len(w)),
       |           i -> CASE WHEN i >= 3 THEN w[i-2] END)) AS w2,
       |         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8' AS is_train
       |       FROM w),
       |tr AS (SELECT * FROM tk WHERE is_train),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM tr),
       |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM tr GROUP BY w),
       |bi AS (SELECT w1 AS p, w, CAST(count(*) AS BIGINT) AS c2 FROM tr
       |       WHERE w1 IS NOT NULL GROUP BY w1, w),
       |tri AS (SELECT w2 AS p2, w1 AS p1, w, CAST(count(*) AS BIGINT) AS c3
       |        FROM tr WHERE w2 IS NOT NULL GROUP BY w2, w1, w),
       |m3 AS (SELECT t.p2, t.p1, t.w,
       |         CAST(round(-ln(CAST(t.c3 AS DOUBLE) / CAST(b.c2 AS DOUBLE))
       |           * 1000000.0) AS BIGINT) AS s3
       |       FROM tri t JOIN bi b ON b.p = t.p2 AND b.w = t.p1),
       |m2 AS (SELECT b.p, b.w,
       |         CAST(round(-ln(CAST(b.c2 AS DOUBLE) / CAST(u.c1 AS DOUBLE))
       |           * 1000000.0) AS BIGINT) AS s2
       |       FROM bi b JOIN uni u ON u.w = b.p),
       |m1 AS (SELECT u.w,
       |         CAST(round(-ln(CAST(u.c1 AS DOUBLE) / CAST(tot.tot AS DOUBLE))
       |           * 1000000.0) AS BIGINT) AS s1
       |       FROM uni u, tot),
       |sc AS (SELECT tk.doc_id, tk.source, tk.is_train,
       |         CASE WHEN tk.w2 IS NOT NULL THEN 2
       |              WHEN tk.w1 IS NOT NULL THEN 1 ELSE 0 END AS lvl,
       |         CASE WHEN m3.s3 IS NOT NULL THEN 2
       |              WHEN m2.s2 IS NOT NULL THEN 1 ELSE 0 END AS hit,
       |         m1.s1 IS NULL AS oov,
       |         COALESCE(m3.s3, m2.s2, m1.s1,
       |           (SELECT CAST(round(ln(CAST(tot AS DOUBLE)) * 1000000.0)
       |              AS BIGINT) FROM tot)) AS base
       |       FROM tk
       |       LEFT JOIN m3 ON m3.p2 = tk.w2 AND m3.p1 = tk.w1 AND m3.w = tk.w
       |       LEFT JOIN m2 ON m2.p = tk.w1 AND m2.w = tk.w
       |       LEFT JOIN m1 ON m1.w = tk.w),
       |pd AS (SELECT doc_id, source, is_train,
       |         CAST(count(*) AS BIGINT) AS n_tokens,
       |         CAST(SUM(base + (lvl - hit) * $P) AS BIGINT) AS nll_micro,
       |         CAST(SUM(lvl - hit) AS BIGINT) AS n_backoff,
       |         CAST(SUM(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
       |       FROM sc GROUP BY doc_id, source, is_train)
       |SELECT doc_id, source, is_train, n_tokens, nll_micro, n_backoff, n_oov,
       |  CAST(nll_micro AS DOUBLE) /
       |    (1000000.0 * CAST(n_tokens AS DOUBLE)) AS nats_per_token,
       |  nll_micro <= $TrigramLmThresholdMicroNats * n_tokens AS keep
       |FROM pd ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------ cur13

  /** Epoch label seeding the deterministic training-order shuffle — the
    * next epoch is a new seed (re-shuffle), nothing else changes. */
  private val ShuffleEpoch = "epoch0"

  /** cur13: PACKED training-shard export — the last step of the
    * pipeline (tokenize tx24 → pack tx26 → SHUFFLE + SHARD here). The
    * unit shuffled and sharded is the packed [[Constants.PackBudget]]
    * -token SEQUENCE (tx26's bin), NOT the document: shuffling must
    * happen AFTER packing so each context window stays an intact
    * per-source run of documents while consecutive training sequences
    * decorrelate. Each bin gets a seeded md5 rank; shard = first rank
    * byte mod Constants.NumShards (cur8's assignment idiom), within-shard
    * position = rank order — a deterministic global permutation (same
    * seed ⇒ byte-identical shards; replayable, partition-stable,
    * rand()-free). Per bin the manifest carries `n_docs` (sequences
    * crossing it) and `n_tokens` (exact fill: [[Constants.PackBudget]]
    * for every full bin, the remainder for each source's last — audit
    * that the packer left no holes).
    *
    * Scale posture: ONE pass — scan (encode rides it) → per-source
    * placement window (tx26's shuffle) → bin explode (≤ 2 bins/doc
    * typically) → (source, bin) aggregate (satisfied by the window's
    * hash partitioning on source, so NO extra exchange) → shard
    * row_number window over Constants.NumShards groups. No join anywhere: per-bin
    * token fill is summed from per-doc overlap lengths during the
    * explode instead of joining per-source totals back. At 100 TB the
    * within-shard window is the write-side sort of `partitionBy(shard)`
    * — exactly the shuffle the shard writer pays anyway. */
  /** The packed bins (source, bin, n_docs, n_tokens) — cur13 ranks them
    * into shards; cur14 audits alternate epoch seeds over them. */
  private def packedBins(spark: SparkSession, dir: String): DataFrame = {
    val budget = lit(Constants.PackBudget.toLong)
    TextAnalysis.bpePackingCore(spark, dir)
      .select(col("source"), col("tok_offset"), col("n_bpe"),
        explode(sequence(col("start_bin"), col("end_bin"))).as("bin"))
      .groupBy(col("source"), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(least((col("bin") + 1L) * budget, col("tok_offset") + col("n_bpe"))
          - greatest(col("bin") * budget, col("tok_offset"))).as("n_tokens"))
  }

  /** Seeded shard rank: md5("source:bin:epochN"). */
  private[graft] def epochHash(epoch: Int): Column =
    md5(concat_ws(":", col("source"), col("bin"), lit(s"epoch$epoch")))

  private[graft] def shardOf(h: Column): Column =
    conv(substring(h, 1, 2), 16, 10).cast(LongType) % Constants.NumShards

  def packedShards(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("h"))
    packedBins(spark, dir)
      .select(col("source"), col("bin"), col("n_docs"), col("n_tokens"),
        epochHash(0).as("h"))
      .withColumn("shard", shardOf(col("h")))
      .withColumn("shard_pos", row_number().over(w).cast(LongType))
      .select(col("shard"), col("shard_pos"), col("source"), col("bin"),
        col("n_docs"), col("n_tokens"))
      .orderBy(col("shard"), col("shard_pos"))
  }

  val packedShardsSql: String = {
    val b = Constants.PackBudget
    TextAnalysis.bpePlacementCtes + ",\n" +
      s"""placed AS (
         |  SELECT source, tok_offset, n_bpe,
         |    CAST(floor(tok_offset / $b) AS BIGINT) AS start_bin,
         |    CAST(floor((tok_offset + greatest(n_bpe, 1) - 1) / $b)
         |      AS BIGINT) AS end_bin
         |  FROM o),
         |ov AS (
         |  SELECT source, CAST(u.bin AS BIGINT) AS bin,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(least((u.bin + 1) * $b, tok_offset + n_bpe)
         |      - greatest(u.bin * $b, tok_offset)) AS BIGINT) AS n_tokens
         |  FROM placed, unnest(range(start_bin, end_bin + 1)) u(bin)
         |  GROUP BY 1, 2),
         |x AS (
         |  SELECT source, bin, n_docs, n_tokens,
         |    md5(source || ':' || CAST(bin AS VARCHAR) || ':$ShuffleEpoch')
         |      AS h
         |  FROM ov),
         |y AS (
         |  SELECT *, ('0x' || substr(h, 1, 2))::BIGINT % ${Constants.NumShards} AS shard
         |  FROM x)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h)
         |    AS BIGINT) AS shard_pos,
         |  source, bin, n_docs, n_tokens
         |FROM y ORDER BY shard, shard_pos""".stripMargin
  }

  // ------------------------------------------------------------ cur17

  /** Epochs the step schedule materializes. */
  private val ScheduleEpochs = 2

  /** cur17: the TRAINING-STEP schedule — the data-loader contract that
    * closes the corpus → shards (cur13) → epochs (cur14) chain down to
    * the unit a trainer actually replays: global step k consumes the
    * k-th sequence of EVERY shard (one sequence per shard per step — the
    * rank-per-shard round-robin of a distributed data-parallel loader,
    * global batch = |shards|). That definition is deliberate: it needs
    * NO global permutation — each shard is read sequentially in cur13's
    * seeded within-shard order, and the cross-shard interleave IS the
    * decorrelation cur14 measures. Per (epoch, step): sequences drawn,
    * exact token volume, distinct sources touched, and whether the step
    * is full (tail steps go partial as shorter shards exhaust — the
    * drain the trainer's last steps actually see; real loaders either
    * drop or pad them, and this ledger is how you size that choice).
    * Epoch 1 re-seeds shard assignment AND order (cur13's rule), so the
    * schedule differs per epoch while staying byte-replayable.
    *
    * Exactness: hashes, ranks, counts, and token sums are all exact
    * integer/string ops — no doubles anywhere.
    *
    * Scale posture: reuses the packer's one pass to (source, bin)
    * aggregates, then per epoch ONE row_number window over |shards|
    * hash groups (the exact exchange cur13's shard writer pays — no
    * global sort: the round-robin step index is the WITHIN-shard
    * position) and one combinable per-step aggregate over ≤ max-shard-
    * length keys. */
  def stepSchedule(spark: SparkSession, dir: String): DataFrame = {
    val bins = packedBins(spark, dir)
    (0 until ScheduleEpochs).map { e =>
      val w = Window.partitionBy(col("shard")).orderBy(col("h"))
      bins.withColumn("h", epochHash(e))
        .withColumn("shard", shardOf(col("h")))
        .withColumn("step", (row_number().over(w) - 1).cast(LongType))
        .groupBy(col("step"))
        .agg(count(lit(1)).as("n_seqs"), sum(col("n_tokens")).as("n_tokens"),
          countDistinct(col("source")).as("n_sources"))
        .select(lit(e.toLong).as("epoch"), col("step"), col("n_seqs"),
          col("n_tokens"), col("n_sources"),
          (col("n_seqs") === lit(Constants.NumShards.toLong)).as("is_full"))
    }.reduce(_ unionByName _).orderBy(col("epoch"), col("step"))
  }

  val stepScheduleSql: String = {
    val b = Constants.PackBudget
    val epochs = (0 until ScheduleEpochs).map { e =>
      s"""s$e AS (
         |  SELECT CAST($e AS BIGINT) AS epoch, CAST(step AS BIGINT) AS step,
         |    CAST(count(*) AS BIGINT) AS n_seqs,
         |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources
         |  FROM (
         |    SELECT *, row_number() OVER (PARTITION BY shard ORDER BY h) - 1
         |        AS step
         |    FROM (
         |      SELECT source, n_tokens, h,
         |        ('0x' || substr(h, 1, 2))::BIGINT % ${Constants.NumShards} AS shard
         |      FROM (
         |        SELECT source, bin, n_tokens,
         |          md5(source || ':' || CAST(bin AS VARCHAR) || ':epoch$e') AS h
         |        FROM ov)))
         |  GROUP BY step)""".stripMargin
    }.mkString(",\n")
    TextAnalysis.bpePlacementCtes + ",\n" +
      s"""placed AS (
         |  SELECT source, tok_offset, n_bpe,
         |    CAST(floor(tok_offset / $b) AS BIGINT) AS start_bin,
         |    CAST(floor((tok_offset + greatest(n_bpe, 1) - 1) / $b)
         |      AS BIGINT) AS end_bin
         |  FROM o),
         |ov AS (
         |  SELECT source, CAST(u.bin AS BIGINT) AS bin,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(least((u.bin + 1) * $b, tok_offset + n_bpe)
         |      - greatest(u.bin * $b, tok_offset)) AS BIGINT) AS n_tokens
         |  FROM placed, unnest(range(start_bin, end_bin + 1)) u(bin)
         |  GROUP BY 1, 2),
         |$epochs
         |SELECT epoch, step, n_seqs, n_tokens, n_sources,
         |  n_seqs = ${Constants.NumShards} AS is_full
         |FROM (${(0 until ScheduleEpochs).map(e => s"SELECT * FROM s$e")
            .mkString(" UNION ALL ")})
         |ORDER BY epoch, step""".stripMargin
  }

  // ------------------------------------------------------------ cur18

  /** cur18: per-shard LICENSE-COMPLIANCE manifest — the audit a trainer
    * runs before building a permissive-only model from an existing
    * shard set: for each of cur13's shipped shards, exact token/sequence
    * volumes split by license tier (cur9's convention: even-indexed
    * sources are restricted-license, emax 1; odd are permissive, emax 4)
    * and the restricted-token share. A shard with restricted_frac 0 can
    * ship into a permissive run as-is; anything else needs re-sharding
    * or tier-filtered reads — this table is how you see which, without
    * touching the corpus. Composes cur13's manifest with a scan-free
    * tier derivation (the tier is a function of the source NAME, so no
    * join back to documents).
    *
    * Exactness: tier split is integer arithmetic on the source index;
    * token sums are cur13's exact BIGINT fills; restricted_frac is one
    * division of exact BIGINTs.
    *
    * Scale posture: rides cur13's one-pass manifest (the packer window
    * it already pays); adds one combinable per-shard aggregate over
    * ≤ |shards| keys. Nothing new touches documents. */
  def shardLicenseManifest(spark: SparkSession, dir: String): DataFrame = {
    val srcIdx = expr("CAST(substring(source, 4) AS INT)")
    val restricted = (srcIdx % 2 === 0).cast(LongType)
    packedShards(spark, dir)
      .select(col("shard"), col("n_tokens"), restricted.as("r"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_seqs"),
        sum(col("n_tokens") * (lit(1L) - col("r"))).as("permissive_tokens"),
        sum(col("n_tokens") * col("r")).as("restricted_tokens"))
      .select(col("shard"), col("n_seqs"),
        col("permissive_tokens"), col("restricted_tokens"),
        // zero-token shard (all-empty bins) → NULL, not 0/0: Spark's
        // double division yields NaN where DuckDB yields NULL (r16
        // advice — unreachable on the fixture, guarded anyway)
        when(col("permissive_tokens") + col("restricted_tokens") === 0L,
          lit(null))
          .otherwise(col("restricted_tokens").cast(DoubleType) /
            (col("permissive_tokens") + col("restricted_tokens"))
              .cast(DoubleType))
          .as("restricted_frac"))
      .orderBy(col("shard"))
  }

  // assembled by concatenation, NOT one big stripMargin: the embedded
  // cur13 twin contains `||` concatenations that an outer stripMargin
  // would mangle (the tx37 lesson)
  val shardLicenseManifestSql: String =
    "WITH t AS (SELECT shard, n_tokens,\n" +
      "  CASE WHEN CAST(substring(source, 4) AS INT) % 2 = 0\n" +
      "       THEN 1 ELSE 0 END AS r\n" +
      s"  FROM (\n$packedShardsSql\n) m)\n" +
      """SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_seqs,
        |  CAST(SUM(n_tokens * (1 - r)) AS BIGINT) AS permissive_tokens,
        |  CAST(SUM(n_tokens * r) AS BIGINT) AS restricted_tokens,
        |  CASE WHEN SUM(n_tokens) = 0 THEN NULL
        |       ELSE CAST(SUM(n_tokens * r) AS DOUBLE) /
        |         CAST(SUM(n_tokens * (1 - r)) + SUM(n_tokens * r) AS DOUBLE)
        |  END AS restricted_frac
        |FROM t GROUP BY shard ORDER BY shard""".stripMargin

  /** The shard FILES behind cur13's manifest — the actual training-data
    * artifact a loader mounts (cur13 emits the per-sequence accounting;
    * this writes the per-segment content map, `partitionBy(shard)`).
    * One row per (bin × overlapping document): the document segment that
    * fills `[pos_in_bin, pos_in_bin + seg_len)` of the bin's
    * [[Constants.PackBudget]]-token window with the document's tokens
    * `[seg_from, seg_from + seg_len)` — everything a trainer needs to
    * assemble sequences (re-encoding each doc scan-side at read time, or
    * joining a token store by doc_id). Zero-token documents keep their
    * 0-length row so the files reconcile 1:1 with the manifest's n_docs.
    *
    * Join-free by the same argument as cur13: the shard is RECOMPUTED
    * from the seeded (source, bin) hash — deterministic, so files and
    * manifest agree without ever joining them — and the only exchange
    * beyond the packer's window is the repartition-by-shard the
    * `partitionBy(shard)` writer pays anyway (16 output groups, sorted
    * by (source, bin, pos) within each for stable, diffable files).
    * LlmDataSpec reconciles a read-back against cur13 (shard equality,
    * exact token/doc totals per sequence), pins that segments tile every
    * bin and every document exactly once, and that a rewrite is
    * content-identical. */
  def writeShardFiles(spark: SparkSession, dir: String, out: String): Unit = {
    val budget = lit(Constants.PackBudget.toLong)
    TextAnalysis.bpePackingCore(spark, dir)
      .select(col("source"), col("doc_id"), col("tok_offset"), col("n_bpe"),
        explode(sequence(col("start_bin"), col("end_bin"))).as("bin"))
      .select(col("source"), col("bin"), col("doc_id"),
        greatest(col("tok_offset") - col("bin") * budget, lit(0L))
          .as("pos_in_bin"),
        greatest(col("bin") * budget - col("tok_offset"), lit(0L))
          .as("seg_from"),
        (least((col("bin") + 1L) * budget, col("tok_offset") + col("n_bpe"))
          - greatest(col("bin") * budget, col("tok_offset"))).as("seg_len"))
      .withColumn("shard", shardOf(epochHash(0)))
      .repartition(Constants.NumShards, col("shard"))
      .sortWithinPartitions(col("source"), col("bin"), col("pos_in_bin"))
      .write.mode("overwrite").partitionBy("shard").parquet(out)
  }

  // ---------------- cur16: id-level shard payload (r15 verdict task 1)

  /** One row per (bin × overlapping document) — [[writeShardFiles]]'s
    * segment map with the MATERIALIZED id slice: `seg_ids` is the
    * document's token-id subarray `[seg_from, seg_from + seg_len)`, so a
    * trainer assembles the bin's [[Constants.PackBudget]]-token
    * sequence by concatenating `seg_ids` in `pos_in_bin` order — no
    * re-encode, no token-store join. */
  private def shardIdSegments(spark: SparkSession, dir: String): DataFrame = {
    val budget = lit(Constants.PackBudget.toLong)
    TextAnalysis.bpePackingIdsCore(spark, dir)
      .select(col("source"), col("doc_id"), col("ids"), col("tok_offset"),
        col("n_bpe"),
        explode(sequence(col("start_bin"), col("end_bin"))).as("bin"))
      .select(col("source"), col("bin"), col("doc_id"),
        greatest(col("tok_offset") - col("bin") * budget, lit(0L))
          .as("pos_in_bin"),
        greatest(col("bin") * budget - col("tok_offset"), lit(0L))
          .as("seg_from"),
        (least((col("bin") + 1L) * budget, col("tok_offset") + col("n_bpe"))
          - greatest(col("bin") * budget, col("tok_offset"))).as("seg_len"),
        col("ids"))
      .withColumn("seg_ids",
        slice(col("ids"), (col("seg_from") + 1L).cast(IntegerType),
          col("seg_len").cast(IntegerType)))
      .drop("ids")
  }

  /** cur16: the LOADABLE training sequences — per (source, bin), the
    * assembled [[Constants.PackBudget]]-length token-ID array (exact
    * fill for every bin but each source's last), with the bin's shard
    * assignment and the segment accounting. This closes the
    * tokenize→pack→shard story at the ID level: cur13 ships the
    * manifest, [[writeShardFilesWithIds]] the files, and this query is
    * the oracle-gated content contract: each sequence is rendered as
    * `seq_md5 = md5(array_join(seq_ids, ','))` — a per-sequence content
    * hash of the exact assembled id stream, scalar-sortable by the
    * driver comparator (top-level `array<int>` columns break it; r16
    * verdict task 1). The shard parquet keeps the raw arrays.
    *
    * Plan: the packer's one per-source window (id arrays ride it — the
    * token stream materializing, see [[TextAnalysis.bpePackingIdsCore]]),
    * one Generate (segments), one keyed aggregate whose `array_sort ∘
    * collect_list ∘ flatten` is the in-group assembly ((pos_in_bin,
    * doc_id) is unique per bin, so the sort is deterministic; zero-token
    * documents contribute empty slices at their offset position). The
    * aggregate's group is one training sequence — bounded state
    * ([[Constants.PackBudget]] ids), any corpus size. */
  def shardSequences(spark: SparkSession, dir: String): DataFrame =
    shardIdSegments(spark, dir)
      .groupBy(col("source"), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("seg_len")).as("n_tokens"),
        flatten(transform(
          array_sort(collect_list(struct(col("pos_in_bin"), col("doc_id"),
            col("seg_ids")))),
          x => x.getField("seg_ids"))).as("seq_ids"))
      .withColumn("shard", shardOf(epochHash(0)))
      .select(col("shard"), col("source"), col("bin"), col("n_docs"),
        col("n_tokens"),
        md5(array_join(transform(col("seq_ids"),
          _.cast(org.apache.spark.sql.types.StringType)), ","))
          .as("seq_md5"))
      .orderBy(col("source"), col("bin"))

  val shardSequencesSql: String = {
    val b = Constants.PackBudget
    TextAnalysis.bpePlacementCtes + ",\n" + TextAnalysis.bpeVocabIdsCtes + ",\n" +
      s"""placed AS (
         |  SELECT source, doc_id, n_bpe, tok_offset,
         |    CAST(floor(tok_offset / $b) AS BIGINT) AS start_bin,
         |    CAST(floor((tok_offset + greatest(n_bpe, 1) - 1) / $b)
         |      AS BIGINT) AS end_bin
         |  FROM o),
         |segs AS (
         |  SELECT p.source, CAST(u.bin AS BIGINT) AS bin, p.doc_id,
         |    CAST(greatest(p.tok_offset - u.bin * $b, 0) AS BIGINT)
         |      AS pos_in_bin,
         |    CAST(greatest(u.bin * $b - p.tok_offset, 0) AS BIGINT)
         |      AS seg_from,
         |    CAST(least((u.bin + 1) * $b, p.tok_offset + p.n_bpe)
         |      - greatest(u.bin * $b, p.tok_offset) AS BIGINT) AS seg_len
         |  FROM placed p, unnest(range(p.start_bin, p.end_bin + 1)) u(bin)),
         |wids AS (
         |  SELECT s.*, COALESCE(
         |    list_slice(i.ids, s.seg_from + 1, s.seg_from + s.seg_len),
         |    CAST([] AS INTEGER[])) AS seg_ids
         |  FROM segs s LEFT JOIN ids i USING (doc_id))
         |SELECT
         |  CAST(('0x' || substr(md5(source || ':' || CAST(bin AS VARCHAR)
         |    || ':epoch0'), 1, 2))::BIGINT % ${Constants.NumShards} AS BIGINT) AS shard,
         |  source, bin,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(seg_len) AS BIGINT) AS n_tokens,
         |  md5(COALESCE(array_to_string(
         |    flatten(list(seg_ids ORDER BY pos_in_bin, doc_id)), ','), ''))
         |    AS seq_md5
         |FROM wids GROUP BY source, bin ORDER BY source, bin""".stripMargin
  }

  /** [[writeShardFiles]] upgraded to the ID-LEVEL payload: the segment
    * rows carry `seg_ids` (materialized token-id slices), and the vocab
    * artifact that decodes them lands beside the files — everything a
    * loader mounts, with no re-encode and no join at read time:
    *
    *   out/segments/shard=N/…   (source, bin, doc_id, pos_in_bin,
    *                             seg_from, seg_len, seg_ids)
    *   out/vocab/…              (token_id, token, n_occurrences)
    *
    * Same join-free shard recomputation and write-side sort as
    * [[writeShardFiles]]; the only delta is the id payload riding the
    * packer's window (the token stream itself — the irreducible bytes of
    * a loadable shard). LlmDataSpec gates: read-back assembles exactly
    * [[Constants.PackBudget]]-length sequences for every non-final
    * bin, per-source id streams reconcile with tx33's per-doc arrays,
    * the vocab round-trips, and a rewrite is content-identical. */
  def writeShardFilesWithIds(spark: SparkSession, dir: String,
                             out: String): Unit = {
    shardIdSegments(spark, dir)
      .withColumn("shard", shardOf(epochHash(0)))
      .repartition(Constants.NumShards, col("shard"))
      .sortWithinPartitions(col("source"), col("bin"), col("pos_in_bin"))
      .write.mode("overwrite").partitionBy("shard")
      .parquet(s"$out/segments")
    TextAnalysis.bpeVocabCore(spark, dir)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$out/vocab")
  }

  // ------------------------------------------------------------ cur14

  /** cur14: multi-epoch SHUFFLE AUDIT over cur13's shard assignment —
    * the two numbers a training-infra owner checks before trusting a
    * seeded shuffle for another epoch: (a) per-epoch shard BALANCE
    * (min/max token fill across the [[Constants.NumShards]] shards — a skewed
    * shard is a straggler every step of that epoch) and (b) cross-epoch
    * DECORRELATION (the fraction of sequences landing in the same shard
    * as the previous epoch — should sit near the 1/[[Constants.NumShards]] chance
    * line; higher means epochs replay the same co-residency and the
    * shuffle isn't buying fresh batch composition). Three epoch seeds
    * (epoch0 = cur13's shipped assignment) in ONE pass.
    *
    * Exactness: balance and decorrelation are divisions of exact BIGINT
    * sums (identical operation order in the twin); NULL for epoch 0's
    * prev-epoch columns. A shard that received NO bins — the worst
    * imbalance, invisible to a min() over populated shards — is
    * accounted explicitly: `n_empty_shards` > 0 forces
    * `min_shard_tokens` to 0 and `imbalance` to NULL (unbounded).
    *
    * Scale posture: the per-bin flags and all three shard assignments
    * ride the bin aggregate's output (no re-scan, no join); one Generate
    * (3 rows per bin) + two keyed aggregates — the second is over
    * 3×[[Constants.NumShards]] rows. Nothing here touches documents a second
    * time. */
  def epochShuffleAudit(spark: SparkSession, dir: String): DataFrame = {
    val shards = (0 to 2).map(e => shardOf(epochHash(e)))
    packedBins(spark, dir)
      .select(col("source"), col("bin"), col("n_tokens"),
        shards(0).as("s0"), shards(1).as("s1"), shards(2).as("s2"))
      .select(col("n_tokens"),
        explode(array(
          struct(lit(0L).as("epoch"), col("s0").as("shard"),
            lit(null).cast(LongType).as("same_prev")),
          struct(lit(1L).as("epoch"), col("s1").as("shard"),
            (col("s1") === col("s0")).cast(LongType).as("same_prev")),
          struct(lit(2L).as("epoch"), col("s2").as("shard"),
            (col("s2") === col("s1")).cast(LongType).as("same_prev"))))
          .as("x"))
      .select(col("n_tokens"), col("x.epoch"), col("x.shard"),
        col("x.same_prev"))
      .groupBy(col("epoch"), col("shard"))
      .agg(count(lit(1)).as("n_bins"),
        sum(col("n_tokens")).as("shard_tokens"),
        sum(col("same_prev")).as("n_same"))
      .groupBy(col("epoch"))
      .agg(
        sum(col("n_bins")).as("n_bins"),
        min(col("shard_tokens")).as("min_hit_tokens"),
        max(col("shard_tokens")).as("max_shard_tokens"),
        count(lit(1)).as("n_hit"),
        sum(col("n_same")).as("same_shard_prev"))
      // a shard with NO bins is the worst imbalance, and the per-shard
      // aggregate has no row for it — account for it explicitly instead
      // of letting min() see only the populated shards
      .select(col("epoch"), col("n_bins"),
        (lit(Constants.NumShards) - col("n_hit")).cast(LongType).as("n_empty_shards"),
        when(col("n_hit") < Constants.NumShards, lit(0L))
          .otherwise(col("min_hit_tokens")).as("min_shard_tokens"),
        col("max_shard_tokens"),
        when(col("n_hit") < Constants.NumShards, lit(null).cast(DoubleType))
          .otherwise(col("max_shard_tokens").cast(DoubleType)
            / col("min_hit_tokens").cast(DoubleType)).as("imbalance"),
        col("same_shard_prev"),
        (col("same_shard_prev").cast(DoubleType)
          / col("n_bins").cast(DoubleType)).as("same_frac_prev"))
      .orderBy(col("epoch"))
  }

  val epochShuffleAuditSql: String = {
    val b = Constants.PackBudget
    def shard(e: Int) =
      s"('0x' || substr(md5(source || ':' || CAST(bin AS VARCHAR) " +
        s"|| ':epoch$e'), 1, 2))::BIGINT % ${Constants.NumShards}"
    TextAnalysis.bpePlacementCtes + ",\n" +
      s"""placed AS (
         |  SELECT source, tok_offset, n_bpe,
         |    CAST(floor(tok_offset / $b) AS BIGINT) AS start_bin,
         |    CAST(floor((tok_offset + greatest(n_bpe, 1) - 1) / $b)
         |      AS BIGINT) AS end_bin
         |  FROM o),
         |ov AS (
         |  SELECT source, CAST(u.bin AS BIGINT) AS bin,
         |    CAST(SUM(least((u.bin + 1) * $b, tok_offset + n_bpe)
         |      - greatest(u.bin * $b, tok_offset)) AS BIGINT) AS n_tokens
         |  FROM placed, unnest(range(start_bin, end_bin + 1)) u(bin)
         |  GROUP BY 1, 2),
         |sh AS (
         |  SELECT n_tokens, CAST(${shard(0)} AS BIGINT) AS s0,
         |    CAST(${shard(1)} AS BIGINT) AS s1,
         |    CAST(${shard(2)} AS BIGINT) AS s2
         |  FROM ov),
         |ex AS (
         |  SELECT n_tokens,
         |    CAST(e.epoch AS BIGINT) AS epoch,
         |    CASE e.epoch WHEN 0 THEN s0 WHEN 1 THEN s1 ELSE s2 END AS shard,
         |    CASE e.epoch WHEN 0 THEN NULL
         |      WHEN 1 THEN CAST(s1 = s0 AS BIGINT)
         |      ELSE CAST(s2 = s1 AS BIGINT) END AS same_prev
         |  FROM sh, unnest(range(0, 3)) e(epoch)),
         |pershard AS (
         |  SELECT epoch, shard, CAST(count(*) AS BIGINT) AS n_bins,
         |    CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
         |    CAST(SUM(same_prev) AS BIGINT) AS n_same
         |  FROM ex GROUP BY 1, 2),
         |agg AS (
         |  SELECT epoch, CAST(SUM(n_bins) AS BIGINT) AS n_bins,
         |    CAST(MIN(shard_tokens) AS BIGINT) AS min_hit_tokens,
         |    CAST(MAX(shard_tokens) AS BIGINT) AS max_shard_tokens,
         |    CAST(COUNT(*) AS BIGINT) AS n_hit,
         |    CAST(SUM(n_same) AS BIGINT) AS same_shard_prev
         |  FROM pershard GROUP BY 1)
         |SELECT epoch, n_bins,
         |  CAST(${Constants.NumShards} - n_hit AS BIGINT) AS n_empty_shards,
         |  CAST(CASE WHEN n_hit < ${Constants.NumShards} THEN 0 ELSE min_hit_tokens END
         |    AS BIGINT) AS min_shard_tokens,
         |  max_shard_tokens,
         |  CASE WHEN n_hit < ${Constants.NumShards} THEN NULL
         |    ELSE CAST(max_shard_tokens AS DOUBLE)
         |      / CAST(min_hit_tokens AS DOUBLE) END AS imbalance,
         |  same_shard_prev,
         |  CAST(same_shard_prev AS DOUBLE) / CAST(n_bins AS DOUBLE)
         |    AS same_frac_prev
         |FROM agg ORDER BY epoch""".stripMargin
  }

  // --------- cur15: crawl → corpus (tx25 extraction composed into the gate)

  /** cur15: the "crawl to corpus" loop a real pipeline runs — tx25's
    * boilerplate extraction composed END-TO-END into cur1's curation gate,
    * with the per-stage ledger a curation owner reads to see where crawl
    * volume dies. Stages: crawl-shaped markup → per-block classify (tx25's
    * exact integer rules) → reassemble the `good` blocks in block order
    * into the document's cleaned text → cur1's gate on the REBUILT text
    * (marker lang-ID, exact-dup keep-lowest-doc_id, quality floor).
    * Every extracted document lands in exactly ONE bucket (cur2's
    * precedence idiom):
    *   - `no_good_blocks`     — extraction left nothing (all blocks
    *     short/boilerplate/low_text); the doc never reaches the gate
    *   - `removed_dup`        — exact dup of a lower doc_id's rebuilt text
    *   - `removed_lang`       — no language marker survived extraction
    *   - `removed_quality`    — rebuilt text under cur1's 0.45 floor
    *   - `kept`               — enters the corpus
    * plus the per-stage volumes (blocks seen, good blocks, rebuilt words)
    * and the nano-int exact avg quality (NULL for `no_good_blocks`, where
    * quality is undefined). Documents whose raw text is empty never
    * produce a block (tx25's input filter) and are upstream of this
    * ledger, as in tx25 itself.
    *
    * Scale posture: no new shuffle class beyond cur1's — the extractor is
    * scan-side (one Generate), reassembly is ONE keyed aggregate, the dup
    * rule is cur1's one window, the ledger one tiny aggregate
    * (PlanQualitySpec pins window count and join absence). At 100 TB the
    * rebuilt-text aggregate is the same per-doc combine every curation
    * stack pays once. */
  def crawlCuration(spark: SparkSession, dir: String): DataFrame = {
    val blocks = TextAnalysis.htmlExtractCore(spark, dir)
    val perdoc = blocks.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("klass") === "good", 1L).otherwise(0L)).as("n_good"),
        array_join(transform(array_sort(collect_list(
          when(col("klass") === "good",
            struct(col("block_idx"), col("clean_text"))))),
          e => e.getField("clean_text")), " ").as("rebuilt"))
    // `_rw` MUST be a materialized column, not the split(...) expression
    // itself: the marker filters and quality terms reference it from
    // NINE expressions (four of them interpreted lambda filters), and a
    // non-trivial lambda-referenced expression re-evaluates per reference
    // — the bigrams() discipline (r19: one split per row, not nine)
    val rwords = col("_rw")
    def hits(markers: Seq[String]): Column =
      size(filter(rwords, w => markers.map(w === _).reduce(_ || _))).cast(LongType)
    val en = hits(Seq("the", "and", "of", "is"))
    val es = hits(Seq("el", "la", "de", "que"))
    val fr = hits(Seq("le", "les", "des", "une"))
    val de = hits(Seq("der", "und", "die", "nicht"))
    val best = greatest(en, es, fr, de)
    val pred = when(best === 0, lit("und"))
      .when(en === best, lit("en"))
      .when(es === best, lit("es"))
      .when(fr === best, lit("fr"))
      .otherwise(lit("de"))
    val nw = size(rwords).cast(DoubleType)
    val ndw = size(array_distinct(rwords)).cast(DoubleType)
    val quality =
      least(nw / lit(80.0), lit(1.0)) * lit(0.5) + (ndw / nw) * lit(0.5)
    val scored = perdoc.withColumn("_rw", split(col("rebuilt"), " ")).select(
      col("doc_id"), col("n_blocks"), col("n_good"),
      when(col("n_good") === 0, 0L)
        .otherwise(size(rwords).cast(LongType)).as("n_words"),
      when(col("n_good") > 0, pred).as("pred_lang"),
      when(col("n_good") > 0, quality).as("quality"),
      md5(col("rebuilt")).as("content_hash"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("content_hash")).orderBy(col("doc_id"))))
    scored.select(
      when(col("n_good") === 0, "no_good_blocks")
        .when(col("_rn") > 1, "removed_dup")
        .when(col("pred_lang") === "und", "removed_lang")
        .when(col("quality") < 0.45, "removed_quality")
        .otherwise("kept").as("bucket"),
      col("n_blocks"), col("n_good"), col("n_words"), col("quality"))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_blocks")).as("n_blocks"),
        sum(col("n_good")).as("n_good_blocks"),
        sum(col("n_words")).as("n_words"),
        sum(when(col("quality").isNotNull, 1L).otherwise(0L)).as("_nq"),
        sum(when(col("quality").isNotNull,
          round(col("quality") * lit(1e9)).cast(LongType)).otherwise(0L))
          .as("_qsum"))
      .select(col("bucket"), col("n_docs"), col("n_blocks"),
        col("n_good_blocks"), col("n_words"),
        when(col("_nq") === 0, lit(null).cast(DoubleType))
          .otherwise((col("_qsum").cast(DoubleType) / col("_nq")) / lit(1e9))
          .as("avg_quality"))
      .orderBy(col("bucket"))
  }

  val crawlCurationSql: String = TextAnalysis.htmlExtractCtes + ",\n" +
    s"""perdoc AS (
       |  SELECT doc_id,
       |    CAST(count(*) AS BIGINT) AS n_blocks,
       |    CAST(sum(CASE WHEN klass = 'good' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_good,
       |    coalesce(string_agg(CASE WHEN klass = 'good' THEN clean_text END,
       |      ' ' ORDER BY block_idx), '') AS rebuilt
       |  FROM blk GROUP BY doc_id),
       |scored AS (
       |  SELECT doc_id, n_blocks, n_good,
       |    CASE WHEN n_good = 0 THEN 0
       |      ELSE CAST(len(string_split(rebuilt, ' ')) AS BIGINT) END AS n_words,
       |    CASE WHEN n_good = 0 THEN NULL
       |      WHEN greatest(en,es,fr,de) = 0 THEN 'und'
       |      WHEN en = greatest(en,es,fr,de) THEN 'en'
       |      WHEN es = greatest(en,es,fr,de) THEN 'es'
       |      WHEN fr = greatest(en,es,fr,de) THEN 'fr'
       |      ELSE 'de' END AS pred_lang,
       |    CASE WHEN n_good = 0 THEN NULL ELSE
       |      least(CAST(len(string_split(rebuilt,' ')) AS DOUBLE) / 80.0, 1.0)
       |        * 0.5 +
       |      (CAST(len(list_distinct(string_split(rebuilt,' '))) AS DOUBLE) /
       |       CAST(len(string_split(rebuilt,' ')) AS DOUBLE)) * 0.5 END
       |      AS quality,
       |    row_number() OVER (PARTITION BY md5(rebuilt) ORDER BY doc_id) AS rn
       |  FROM (SELECT *,
       |    len(list_filter(string_split(rebuilt,' '),
       |      w -> w='the' OR w='and' OR w='of' OR w='is')) AS en,
       |    len(list_filter(string_split(rebuilt,' '),
       |      w -> w='el' OR w='la' OR w='de' OR w='que')) AS es,
       |    len(list_filter(string_split(rebuilt,' '),
       |      w -> w='le' OR w='les' OR w='des' OR w='une')) AS fr,
       |    len(list_filter(string_split(rebuilt,' '),
       |      w -> w='der' OR w='und' OR w='die' OR w='nicht')) AS de
       |  FROM perdoc)),
       |ledger AS (
       |  SELECT
       |    CASE WHEN n_good = 0 THEN 'no_good_blocks'
       |         WHEN rn > 1 THEN 'removed_dup'
       |         WHEN pred_lang = 'und' THEN 'removed_lang'
       |         WHEN quality < 0.45 THEN 'removed_quality'
       |         ELSE 'kept' END AS bucket,
       |    n_blocks, n_good, n_words, quality
       |  FROM scored)
       |SELECT bucket,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_blocks) AS BIGINT) AS n_blocks,
       |  CAST(sum(n_good) AS BIGINT) AS n_good_blocks,
       |  CAST(sum(n_words) AS BIGINT) AS n_words,
       |  CASE WHEN sum(CASE WHEN quality IS NOT NULL THEN 1 ELSE 0 END) = 0
       |    THEN NULL
       |    ELSE (CAST(sum(CASE WHEN quality IS NOT NULL
       |        THEN CAST(round(quality * 1000000000.0) AS BIGINT)
       |        ELSE 0 END) AS DOUBLE)
       |      / sum(CASE WHEN quality IS NOT NULL THEN 1 ELSE 0 END))
       |      / 1000000000.0 END AS avg_quality
       |FROM ledger GROUP BY bucket ORDER BY bucket""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cur18_shard_licenses" -> shardLicenseManifest,
    "cur17_step_schedule" -> stepSchedule,
    "cur16_shard_sequences" -> shardSequences,
    "cur15_crawl_curation" -> crawlCuration,
    "cur14_epoch_shuffle" -> epochShuffleAudit,
    "cur13_packed_shards" -> packedShards,
    "cur12_trigram_lm_filter" -> trigramLmFilter,
    "cur11_dsir_weights" -> dsirWeights,
    "cur10_unigram_lm_filter" -> unigramLmFilter,
    "cur9_token_budget" -> tokenBudget,
    "cur8_shard_plan" -> shardPlan,
    "cur7_contamination_mixture" -> contaminationAwareMixture,
    "cur6_dataset_card" -> datasetCard,
    "cur5_curriculum" -> curriculumSchedule,
    "cur5b_curriculum_sketch" -> curriculumScheduleSketch,
    "cur1_corpus_curation" -> corpusCuration,
    "cur2_neardup_curation" -> curationNearDup,
    "cur3_mixture_weights" -> mixtureWeights,
    "cur4_leakage_safe_split" -> leakageSafeSplit)

  val oracle: Map[String, String] = Map(
    "cur18_shard_licenses" -> shardLicenseManifestSql,
    "cur17_step_schedule" -> stepScheduleSql,
    "cur16_shard_sequences" -> shardSequencesSql,
    "cur15_crawl_curation" -> crawlCurationSql,
    "cur14_epoch_shuffle" -> epochShuffleAuditSql,
    "cur13_packed_shards" -> packedShardsSql,
    "cur12_trigram_lm_filter" -> trigramLmFilterSql,
    "cur11_dsir_weights" -> dsirWeightsSql,
    "cur10_unigram_lm_filter" -> unigramLmFilterSql,
    "cur9_token_budget" -> tokenBudgetSql,
    "cur8_shard_plan" -> shardPlanSql,
    "cur7_contamination_mixture" -> contaminationAwareMixtureSql,
    "cur6_dataset_card" -> datasetCardSql,
    "cur5_curriculum" -> curriculumScheduleSql,
    "cur5b_curriculum_sketch" -> curriculumScheduleSketchSql,
    "cur1_corpus_curation" -> corpusCurationSql,
    "cur2_neardup_curation" -> curationNearDupSql,
    "cur3_mixture_weights" -> mixtureWeightsSql,
    "cur4_leakage_safe_split" -> leakageSafeSplitSql)
}
