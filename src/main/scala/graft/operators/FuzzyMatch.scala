package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Fuzzy entity matching (record linkage) — the data-quality operator a
  * Salesforce CDC consumer runs constantly: match an INCOMING, possibly
  * corrupted record name against the existing entity table (lead/account
  * dedupe; the reference's org is exactly such a table, SURVEY.md §1.4).
  * Re-expressed Spark-first over the `customer` fixture: a probe set of
  * deterministically corrupted names (every [[CorruptStride]]-th character
  * dropped) is matched back by char-trigram Jaccard.
  *
  * Blocking (candidate generation) is the part that decides 100 TB
  * viability: trigrams shared by most of the table ("Cus", "ust", …, the
  * common-prefix grams here; "Inc"/"LLC" in real names) are USELESS for
  * blocking and would go quadratic, so candidates come only from trigrams
  * with document frequency ≤ [[BlockDfCap]] — the stop-gram rule every
  * production linkage system applies, the idf analogue of dd6's capped
  * posting lists. Verification then scores the FULL trigram sets (common
  * grams included) and keeps the best match per probe.
  *
  * Scale posture: one shuffle keyed by rare trigram (posting lists bounded
  * by the df cap), one by candidate pair, one per-probe top-1 window —
  * never probe × base. Accuracy (matched key == source key) is itself
  * under the oracle, so the operator's QUALITY is gated, not just its
  * plumbing.
  */
object FuzzyMatch {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** Every probe drops the chars at positions ≡ 0 (mod stride). */
  private val CorruptStride = 7
  /** Probe slice: every 10th customer. */
  private val ProbeMod = 10
  /** A trigram blocks (generates candidates) only if its document
    * frequency in the base table is ≤ this. */
  private val BlockDfCap = 50

  private def trigramsOf(c: Column): Column =
    when(length(c) >= 3,
      array_distinct(transform(sequence(lit(1), length(c) - 2),
        i => c.substr(i, lit(3)))))
      .otherwise(array(c))

  private def corrupt(c: Column): Column =
    concat_ws("",
      transform(
        filter(sequence(lit(1), length(c)), i => i % CorruptStride =!= 0),
        i => c.substr(i, lit(1))))

  def fuzzyMatch(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "customer")
      .select(col("c_custkey").as("base_key"),
        trigramsOf(col("c_name")).as("base_grams"))
    val probes = t(spark, dir, "customer")
      .filter(col("c_custkey") % ProbeMod === 0)
      .select(col("c_custkey").as("probe_key"),
        trigramsOf(corrupt(col("c_name"))).as("probe_grams"))

    // blocking: rare base trigrams only (df <= cap)
    val basePost = base.select(col("base_key"), explode(col("base_grams")).as("g"))
    val rare = basePost.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= BlockDfCap).select(col("g"))
    val probePost = probes.select(col("probe_key"), explode(col("probe_grams")).as("g"))
    val cands = probePost.join(rare, "g").join(basePost, "g")
      .select(col("probe_key"), col("base_key")).distinct()

    // verify on the FULL trigram sets; best match per probe via the
    // max-struct aggregate (sim DESC, base_key ASC), fm2/fm4/fm5's shape —
    // r19: the window form paid a per-probe sort where the aggregate
    // map-side combines to one O(1) state per probe, and its rank filter
    // also hid the aggregate's key-uniqueness from the optimizer (the
    // final left join is provably 1:1 off a groupBy, not off a window)
    val scored = cands
      .join(probes, "probe_key").join(base, "base_key")
      .select(col("probe_key"), col("base_key"),
        graft.functions.TextHashFunctions
          .jaccard(col("probe_grams"), col("base_grams")).as("sim"))
    val best = scored.groupBy(col("probe_key"))
      .agg(max(struct(col("sim"), (lit(0L) - col("base_key")).as("nb"))).as("m"))
      .select(col("probe_key"), (lit(0L) - col("m.nb")).as("matched_key"),
        col("m.sim").as("sim"))
    // a probe whose every trigram is a stop-gram has NO candidates — a
    // linkage run must REPORT it unmatched, not silently drop it
    probes.select(col("probe_key"))
      .join(best, Seq("probe_key"), "left")
      .select(col("probe_key"), col("matched_key"),
        coalesce(col("sim"), lit(0.0)).as("sim"),
        coalesce(col("matched_key") === col("probe_key"), lit(false)).as("correct"))
      .orderBy(col("probe_key"))
  }

  val fuzzyMatchSql: String =
    s"""WITH gset AS (SELECT c_custkey AS base_key,
       |    CASE WHEN len(c_name) >= 3 THEN list_distinct(list_transform(
       |      generate_series(1, len(c_name)-2), i -> substr(c_name, i, 3)))
       |    ELSE [c_name] END AS base_grams
       |  FROM customer),
       |probe0 AS (SELECT c_custkey AS probe_key,
       |    array_to_string(list_transform(
       |      list_filter(generate_series(1, len(c_name)), i -> i % $CorruptStride <> 0),
       |      i -> substr(c_name, i, 1)), '') AS pname
       |  FROM customer WHERE c_custkey % $ProbeMod = 0),
       |probes AS (SELECT probe_key,
       |    CASE WHEN len(pname) >= 3 THEN list_distinct(list_transform(
       |      generate_series(1, len(pname)-2), i -> substr(pname, i, 3)))
       |    ELSE [pname] END AS probe_grams
       |  FROM probe0),
       |bpost AS (SELECT base_key, unnest(base_grams) AS g FROM gset),
       |rare AS (SELECT g FROM bpost GROUP BY g HAVING COUNT(*) <= $BlockDfCap),
       |ppost AS (SELECT probe_key, unnest(probe_grams) AS g FROM probes),
       |cands AS (SELECT DISTINCT probe_key, base_key
       |          FROM ppost JOIN rare USING (g) JOIN bpost USING (g)),
       |scored AS (SELECT c.probe_key, c.base_key,
       |    CAST(len(list_intersect(p.probe_grams, b.base_grams)) AS DOUBLE) /
       |    (len(p.probe_grams) + len(b.base_grams)
       |     - len(list_intersect(p.probe_grams, b.base_grams))) AS sim
       |  FROM cands c JOIN probes p USING (probe_key) JOIN gset b USING (base_key)),
       |best AS (SELECT probe_key, base_key AS matched_key, sim
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_key
       |          ORDER BY sim DESC, base_key) AS rank FROM scored) x
       |  WHERE rank = 1)
       |SELECT p.probe_key, b.matched_key, COALESCE(b.sim, 0.0) AS sim,
       |  COALESCE(b.matched_key = p.probe_key, false) AS correct
       |FROM probes p LEFT JOIN best b USING (probe_key)
       |ORDER BY p.probe_key""".stripMargin

  // --------------------------------------------- fm2: MinHash pre-block

  /** Word-drop stride for the LONG-string probes (fm2): every 7th word of
    * a probed document is dropped, the word analogue of fm1's char rule. */
  private val WordStride = 7

  /** fm2 — record linkage for LONG strings: MinHash-band pre-blocking
    * (dd3's exact machinery — 12 hashes, 6 bands × 2 rows, capped
    * buckets) ahead of the exact-Jaccard verify. fm1's rare-trigram
    * posting lists are the right block for SHORT keys (names), but a long
    * document has thousands of grams and its posting lists grow with
    * corpus size; banding the MinHash signature keeps the blocking key
    * per document CONSTANT (NumBands rows) no matter how long the text
    * is, which is what survives 100 TB. Probes are every [[ProbeMod]]-th
    * document with every [[WordStride]]-th word dropped; candidates are
    * probe×base pairs sharing a band bucket (base postings capped at
    * [[Dedup.BandBucketCap]] per bucket, dd3's rule); verification scores
    * the FULL bigram-shingle sets and keeps the best match per probe via
    * a max-struct aggregate (O(1) state per probe — no window sort).
    * Unmatched probes (no shared bucket) are REPORTED, not dropped. */
  def fuzzyMatchMinhash(spark: SparkSession, dir: String): DataFrame = {
    import graft.llmdata.Dedup
    val base = Dedup.gramsOf(spark, dir, 2)
      .select(col("doc_id").as("base_id"), col("grams").as("base_grams"))
    val probeDocs = t(spark, dir, "documents")
      .filter(col("doc_id") % ProbeMod === 0)
      .select(col("doc_id"),
        concat_ws(" ", filter(split(col("text"), " "),
          (_, i) => (i + 1) % WordStride =!= 0)).as("text"))
    val probes = Dedup.gramsOfDocs(probeDocs, 2)
      .select(col("doc_id").as("probe_id"), col("grams").as("probe_grams"))

    // blocking: band buckets, base side capped at the lowest doc_ids
    val baseCapped = Dedup.bandedDocs(spark, dir)
      .groupBy(col("band"), col("bh"))
      .agg(slice(sort_array(collect_list(col("doc_id"))), 1, Dedup.BandBucketCap)
        .as("docs"))
      .select(col("band"), col("bh"), explode(col("docs")).as("base_id"))
    val probeBands = Dedup.bandedOf(
      probes.select(col("probe_id").as("doc_id"), col("probe_grams").as("grams")))
      .select(col("doc_id").as("probe_id"), col("band"), col("bh"))
    val cands = probeBands.join(baseCapped, Seq("band", "bh"))
      .select(col("probe_id"), col("base_id")).distinct()

    // verify on the full shingle sets; best match per probe (max-struct:
    // jaccard DESC, base_id ASC — no window, no per-probe sort)
    val scored = cands.join(probes, "probe_id").join(base, "base_id")
      .select(col("probe_id"), col("base_id"),
        graft.functions.TextHashFunctions
          .jaccard(col("probe_grams"), col("base_grams")).as("jacc"))
    val best = scored.groupBy(col("probe_id"))
      .agg(max(struct(col("jacc"), (lit(0L) - col("base_id")).as("nb"))).as("m"))
      .select(col("probe_id"), (lit(0L) - col("m.nb")).as("matched_id"),
        col("m.jacc").as("jacc"))
    probes.select(col("probe_id"))
      .join(best, Seq("probe_id"), "left")
      .select(col("probe_id"), col("matched_id"),
        coalesce(col("jacc"), lit(0.0)).as("jaccard"),
        coalesce(col("matched_id") === col("probe_id"), lit(false)).as("correct"))
      .orderBy(col("probe_id"))
  }

  val fuzzyMatchMinhashSql: String = {
    import graft.llmdata.Dedup
    val sigList = Dedup.sigListSql
    val bandExprs = Dedup.bandExprsSql
    s"""WITH bw AS (SELECT doc_id AS base_id, string_split(text,' ') AS w FROM documents),
       |bsh AS (SELECT base_id, CASE WHEN len(w) >= 2 THEN
       |          list_distinct(list_transform(generate_series(1, len(w)-1),
       |            i -> w[i] || ' ' || w[i+1])) ELSE [] END AS g FROM bw),
       |bsig AS (SELECT base_id, g, $sigList AS sig FROM (SELECT base_id, g FROM bsh)),
       |bband AS (SELECT base_id, band, $bandExprs[band+1] AS bh
       |          FROM bsig CROSS JOIN (SELECT unnest(generate_series(0, ${Dedup.NumBands - 1})) AS band)),
       |bcap AS (SELECT base_id, band, bh FROM bband
       |         QUALIFY row_number() OVER (PARTITION BY band, bh ORDER BY base_id) <= ${Dedup.BandBucketCap}),
       |pw AS (SELECT doc_id AS probe_id,
       |         list_filter(string_split(text,' '), (x, i) -> i % $WordStride <> 0) AS w
       |       FROM documents WHERE doc_id % $ProbeMod = 0),
       |psh AS (SELECT probe_id, CASE WHEN len(w) >= 2 THEN
       |          list_distinct(list_transform(generate_series(1, len(w)-1),
       |            i -> w[i] || ' ' || w[i+1])) ELSE [] END AS g FROM pw),
       |psig AS (SELECT probe_id, g, $sigList AS sig FROM (SELECT probe_id, g FROM psh)),
       |pband AS (SELECT probe_id, band, $bandExprs[band+1] AS bh
       |          FROM psig CROSS JOIN (SELECT unnest(generate_series(0, ${Dedup.NumBands - 1})) AS band)),
       |cands AS (SELECT DISTINCT probe_id, base_id
       |          FROM pband JOIN bcap USING (band, bh)),
       |scored AS (SELECT c.probe_id, c.base_id,
       |    CAST(len(list_intersect(p.g, b.g)) AS DOUBLE) /
       |    CAST(len(list_distinct(p.g || b.g)) AS DOUBLE) AS jacc
       |  FROM cands c JOIN psh p USING (probe_id) JOIN bsh b USING (base_id)),
       |best AS (SELECT probe_id, base_id AS matched_id, jacc
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
       |          ORDER BY jacc DESC, base_id) AS rnk FROM scored) x
       |  WHERE rnk = 1)
       |SELECT p.probe_id, b.matched_id, COALESCE(b.jacc, 0.0) AS jaccard,
       |  COALESCE(b.matched_id = p.probe_id, false) AS correct
       |FROM psh p LEFT JOIN best b USING (probe_id)
       |ORDER BY p.probe_id""".stripMargin
  }

  // ------------------------------------------- fm3: edit-distance verify

  /** fm3 — fm1's blocking with LEVENSHTEIN verification: the metric
    * record-linkage systems actually rank short-string fields by (set
    * Jaccard ignores order and repeats; edit distance doesn't). Candidates
    * come from the identical rare-trigram block — blocking and verification
    * are independent axes, and this pins the second one. Best match = MIN
    * edit distance (tie → min base key); unmatched probes report a null
    * match, as in fm1. Parity is trivial: Levenshtein is an exact integer
    * in both engines (Spark `levenshtein`, DuckDB `levenshtein`).
    *
    * Scale posture: identical to fm1 — the df cap bounds posting lists,
    * verification runs on candidate pairs only, and the per-pair cost is
    * O(|a|·|b|) on short name strings. */
  def fuzzyMatchEdit(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "customer")
      .select(col("c_custkey").as("base_key"), col("c_name").as("base_name"),
        trigramsOf(col("c_name")).as("base_grams"))
    val probes = t(spark, dir, "customer")
      .filter(col("c_custkey") % ProbeMod === 0)
      .select(col("c_custkey").as("probe_key"),
        corrupt(col("c_name")).as("probe_name"))
      .withColumn("probe_grams", trigramsOf(col("probe_name")))

    val basePost = base.select(col("base_key"), explode(col("base_grams")).as("g"))
    val rare = basePost.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= BlockDfCap).select(col("g"))
    val probePost = probes.select(col("probe_key"), explode(col("probe_grams")).as("g"))
    val cands = probePost.join(rare, "g").join(basePost, "g")
      .select(col("probe_key"), col("base_key")).distinct()

    val scored = cands
      .join(probes.select(col("probe_key"), col("probe_name")), "probe_key")
      .join(base.select(col("base_key"), col("base_name")), "base_key")
      .select(col("probe_key"), col("base_key"),
        levenshtein(col("probe_name"), col("base_name")).cast(LongType).as("edit_dist"))
    // best match = MIN edit distance (tie → min base key) via fm4's
    // max-struct over negated values — combinable aggregate, no per-probe
    // window sort (r19; see fuzzyMatch for the plan rationale)
    val best = scored.groupBy(col("probe_key"))
      .agg(max(struct((lit(0L) - col("edit_dist")).as("nd"),
        (lit(0L) - col("base_key")).as("nb"))).as("m"))
      .select(col("probe_key"), (lit(0L) - col("m.nb")).as("matched_key"),
        (lit(0L) - col("m.nd")).as("edit_dist"))
    probes.select(col("probe_key"))
      .join(best, Seq("probe_key"), "left")
      .select(col("probe_key"), col("matched_key"), col("edit_dist"),
        coalesce(col("matched_key") === col("probe_key"), lit(false)).as("correct"))
      .orderBy(col("probe_key"))
  }

  val fuzzyMatchEditSql: String =
    s"""WITH gset AS (SELECT c_custkey AS base_key, c_name AS base_name,
       |    CASE WHEN len(c_name) >= 3 THEN list_distinct(list_transform(
       |      generate_series(1, len(c_name)-2), i -> substr(c_name, i, 3)))
       |    ELSE [c_name] END AS base_grams
       |  FROM customer),
       |probe0 AS (SELECT c_custkey AS probe_key,
       |    array_to_string(list_transform(
       |      list_filter(generate_series(1, len(c_name)), i -> i % $CorruptStride <> 0),
       |      i -> substr(c_name, i, 1)), '') AS probe_name
       |  FROM customer WHERE c_custkey % $ProbeMod = 0),
       |probes AS (SELECT probe_key, probe_name,
       |    CASE WHEN len(probe_name) >= 3 THEN list_distinct(list_transform(
       |      generate_series(1, len(probe_name)-2), i -> substr(probe_name, i, 3)))
       |    ELSE [probe_name] END AS probe_grams
       |  FROM probe0),
       |bpost AS (SELECT base_key, unnest(base_grams) AS g FROM gset),
       |rare AS (SELECT g FROM bpost GROUP BY g HAVING COUNT(*) <= $BlockDfCap),
       |ppost AS (SELECT probe_key, unnest(probe_grams) AS g FROM probes),
       |cands AS (SELECT DISTINCT probe_key, base_key
       |          FROM ppost JOIN rare USING (g) JOIN bpost USING (g)),
       |scored AS (SELECT c.probe_key, c.base_key,
       |    CAST(levenshtein(p.probe_name, b.base_name) AS BIGINT) AS edit_dist
       |  FROM cands c JOIN probes p USING (probe_key) JOIN gset b USING (base_key)),
       |best AS (SELECT probe_key, base_key AS matched_key, edit_dist
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_key
       |          ORDER BY edit_dist, base_key) AS rank FROM scored) x
       |  WHERE rank = 1)
       |SELECT p.probe_key, b.matched_key, b.edit_dist,
       |  COALESCE(b.matched_key = p.probe_key, false) AS correct
       |FROM probes p LEFT JOIN best b USING (probe_key)
       |ORDER BY p.probe_key""".stripMargin

  // ------------------------------------- fm4: transposition-typo linkage

  /** Swap stride for fm4's probes: the chars at 1-based positions
    * (i, i+1) with i ≡ 1 (mod [[SwapStride]]) are transposed — the
    * hand-entry typo class (teh, recieve) that [[fuzzyMatchEdit]]'s plain
    * Levenshtein over-charges 2 edits for. */
  private val SwapStride = 6

  private def swapCorrupt(c: Column): Column =
    concat_ws("",
      transform(sequence(lit(1), length(c)), i =>
        when(i % SwapStride === 1 && i < length(c), c.substr(i + 1, lit(1)))
          .when(i % SwapStride === 2, c.substr(i - 1, lit(1)))
          .otherwise(c.substr(i, lit(1)))))

  /** fm4 — fm1's rare-trigram blocking with native DAMERAU-LEVENSHTEIN
    * verification (unrestricted Lowrance-Wagner, the variant DuckDB's
    * `damerau_levenshtein` implements): probes are names with every
    * [[SwapStride]]-th adjacent character pair transposed, the typo class
    * where DL is the right metric — each swap costs 1 DL edit but 2 plain
    * Levenshtein edits, so DL separates swap-corrupted true matches from
    * genuinely-different names at half the distance. The output carries
    * BOTH metrics per matched pair so the margin is itself under the
    * oracle. Spark has no Damerau builtin → the (b)-tier native call
    * [[graft.functions.TextHashFunctions.damerau]] (O(|a|·|b|) per
    * candidate pair, candidates bounded by the df-capped block exactly as
    * fm1/fm3). */
  def fuzzyMatchDamerau(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "customer")
      .select(col("c_custkey").as("base_key"), col("c_name").as("base_name"),
        trigramsOf(col("c_name")).as("base_grams"))
    val probes = t(spark, dir, "customer")
      .filter(col("c_custkey") % ProbeMod === 0)
      .select(col("c_custkey").as("probe_key"),
        swapCorrupt(col("c_name")).as("probe_name"))
      .withColumn("probe_grams", trigramsOf(col("probe_name")))

    val basePost = base.select(col("base_key"), explode(col("base_grams")).as("g"))
    val rare = basePost.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= BlockDfCap).select(col("g"))
    val probePost = probes.select(col("probe_key"), explode(col("probe_grams")).as("g"))
    val cands = probePost.join(rare, "g").join(basePost, "g")
      .select(col("probe_key"), col("base_key")).distinct()

    val scored = cands
      .join(probes.select(col("probe_key"), col("probe_name")), "probe_key")
      .join(base.select(col("base_key"), col("base_name")), "base_key")
      .select(col("probe_key"), col("base_key"),
        graft.functions.TextHashFunctions
          .damerau(col("probe_name"), col("base_name")).as("dl_dist"),
        levenshtein(col("probe_name"), col("base_name")).cast(LongType).as("lev_dist"))
    // best match per probe: min DL distance, tie → min base key (max-struct
    // over negated keys — no per-probe window sort)
    val best = scored.groupBy(col("probe_key"))
      .agg(max(struct((lit(0L) - col("dl_dist")).as("nd"),
        (lit(0L) - col("base_key")).as("nb"),
        col("lev_dist").as("lv"))).as("m"))
      .select(col("probe_key"), (lit(0L) - col("m.nb")).as("matched_key"),
        (lit(0L) - col("m.nd")).as("dl_dist"), col("m.lv").as("lev_dist"))
    probes.select(col("probe_key"))
      .join(best, Seq("probe_key"), "left")
      .select(col("probe_key"), col("matched_key"), col("dl_dist"), col("lev_dist"),
        coalesce(col("matched_key") === col("probe_key"), lit(false)).as("correct"))
      .orderBy(col("probe_key"))
  }

  val fuzzyMatchDamerauSql: String =
    s"""WITH gset AS (SELECT c_custkey AS base_key, c_name AS base_name,
       |    CASE WHEN len(c_name) >= 3 THEN list_distinct(list_transform(
       |      generate_series(1, len(c_name)-2), i -> substr(c_name, i, 3)))
       |    ELSE [c_name] END AS base_grams
       |  FROM customer),
       |probe0 AS (SELECT c_custkey AS probe_key,
       |    array_to_string(list_transform(generate_series(1, len(c_name)), i ->
       |      CASE WHEN i % $SwapStride = 1 AND i < len(c_name) THEN substr(c_name, i+1, 1)
       |           WHEN i % $SwapStride = 2 THEN substr(c_name, i-1, 1)
       |           ELSE substr(c_name, i, 1) END), '') AS probe_name
       |  FROM customer WHERE c_custkey % $ProbeMod = 0),
       |probes AS (SELECT probe_key, probe_name,
       |    CASE WHEN len(probe_name) >= 3 THEN list_distinct(list_transform(
       |      generate_series(1, len(probe_name)-2), i -> substr(probe_name, i, 3)))
       |    ELSE [probe_name] END AS probe_grams
       |  FROM probe0),
       |bpost AS (SELECT base_key, unnest(base_grams) AS g FROM gset),
       |rare AS (SELECT g FROM bpost GROUP BY g HAVING COUNT(*) <= $BlockDfCap),
       |ppost AS (SELECT probe_key, unnest(probe_grams) AS g FROM probes),
       |cands AS (SELECT DISTINCT probe_key, base_key
       |          FROM ppost JOIN rare USING (g) JOIN bpost USING (g)),
       |scored AS (SELECT c.probe_key, c.base_key,
       |    CAST(damerau_levenshtein(p.probe_name, b.base_name) AS BIGINT) AS dl_dist,
       |    CAST(levenshtein(p.probe_name, b.base_name) AS BIGINT) AS lev_dist
       |  FROM cands c JOIN probes p USING (probe_key) JOIN gset b USING (base_key)),
       |best AS (SELECT probe_key, base_key AS matched_key, dl_dist, lev_dist
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_key
       |          ORDER BY dl_dist, base_key) AS rank FROM scored) x
       |  WHERE rank = 1)
       |SELECT p.probe_key, b.matched_key, b.dl_dist, b.lev_dist,
       |  COALESCE(b.matched_key = p.probe_key, false) AS correct
       |FROM probes p LEFT JOIN best b USING (probe_key)
       |ORDER BY p.probe_key""".stripMargin

  // ----------------------------------- fm5: token-sort-normalized linkage

  /** fm5 — word-order-robust linkage (the fuzzywuzzy `token_sort_ratio`
    * shape): real-world descriptors arrive with fields permuted
    * ("SMITH, JOHN" vs "John Smith"; "bolt red small" vs "small red
    * bolt"), a corruption class where raw edit distance explodes while
    * the CONTENT is identical. The fix is canonicalization, not a
    * cleverer metric: sort each descriptor's tokens before comparing, so
    * any pure reorder collapses to distance 0. Probes are part
    * descriptors (name ∥ brand ∥ type) with their word order REVERSED;
    * the output carries the token-sort distance AND the raw-form
    * distance per matched pair, so the margin the normalization buys is
    * itself under the oracle — as is linkage accuracy (`correct`; note
    * duplicate descriptors across partkeys make some probes land on the
    * min-key twin, a determinism the tiebreak pins, not noise).
    *
    * Blocking runs on the NORMALIZED form's rare trigrams (df ≤ cap, the
    * fm1 rule) — blocking on the raw form would miss every reorder whose
    * boundary trigrams changed. Verify cost bounded by the df-capped
    * blocks; never probe×base. */
  def fuzzyMatchTokenSort(spark: SparkSession, dir: String): DataFrame = {
    def normed(c: Column): Column =
      concat_ws(" ", sort_array(split(c, " ")))
    val base = t(spark, dir, "part")
      .select(col("p_partkey").as("base_key"),
        concat_ws(" ", col("p_name"), col("p_brand"), col("p_type")).as("base_desc"))
      .withColumn("base_norm", normed(col("base_desc")))
      .withColumn("base_grams", trigramsOf(col("base_norm")))
    val probes = t(spark, dir, "part")
      .filter(col("p_partkey") % ProbeMod === 0)
      .select(col("p_partkey").as("probe_key"),
        concat_ws(" ", reverse(split(
          concat_ws(" ", col("p_name"), col("p_brand"), col("p_type")), " ")))
          .as("probe_desc"))
      .withColumn("probe_norm", normed(col("probe_desc")))
      .withColumn("probe_grams", trigramsOf(col("probe_norm")))

    val basePost = base.select(col("base_key"), explode(col("base_grams")).as("g"))
    val rare = basePost.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= BlockDfCap).select(col("g"))
    val probePost = probes.select(col("probe_key"), explode(col("probe_grams")).as("g"))
    val cands = probePost.join(rare, "g").join(basePost, "g")
      .select(col("probe_key"), col("base_key")).distinct()

    val scored = cands
      .join(probes.select(col("probe_key"), col("probe_desc"), col("probe_norm")), "probe_key")
      .join(base.select(col("base_key"), col("base_desc"), col("base_norm")), "base_key")
      .select(col("probe_key"), col("base_key"),
        levenshtein(col("probe_norm"), col("base_norm")).cast(LongType).as("ts_dist"),
        levenshtein(col("probe_desc"), col("base_desc")).cast(LongType).as("raw_dist"))
    val best = scored.groupBy(col("probe_key"))
      .agg(max(struct((lit(0L) - col("ts_dist")).as("nd"),
        (lit(0L) - col("base_key")).as("nb"),
        col("raw_dist").as("rd"))).as("m"))
      .select(col("probe_key"), (lit(0L) - col("m.nb")).as("matched_key"),
        (lit(0L) - col("m.nd")).as("ts_dist"), col("m.rd").as("raw_dist"))
    probes.select(col("probe_key"))
      .join(best, Seq("probe_key"), "left")
      .select(col("probe_key"), col("matched_key"), col("ts_dist"), col("raw_dist"),
        coalesce(col("matched_key") === col("probe_key"), lit(false)).as("correct"))
      .orderBy(col("probe_key"))
  }

  val fuzzyMatchTokenSortSql: String =
    s"""WITH b0 AS (SELECT p_partkey AS base_key,
       |    p_name || ' ' || p_brand || ' ' || p_type AS base_desc
       |  FROM part),
       |gset AS (SELECT base_key, base_desc,
       |    array_to_string(list_sort(string_split(base_desc, ' ')), ' ') AS base_norm
       |  FROM b0),
       |gset2 AS (SELECT *, CASE WHEN len(base_norm) >= 3 THEN
       |      list_distinct(list_transform(generate_series(1, len(base_norm)-2),
       |        i -> substr(base_norm, i, 3)))
       |    ELSE [base_norm] END AS base_grams
       |  FROM gset),
       |p0 AS (SELECT p_partkey AS probe_key,
       |    array_to_string(list_reverse(string_split(
       |      p_name || ' ' || p_brand || ' ' || p_type, ' ')), ' ') AS probe_desc
       |  FROM part WHERE p_partkey % $ProbeMod = 0),
       |probes0 AS (SELECT probe_key, probe_desc,
       |    array_to_string(list_sort(string_split(probe_desc, ' ')), ' ') AS probe_norm
       |  FROM p0),
       |probes AS (SELECT *, CASE WHEN len(probe_norm) >= 3 THEN
       |      list_distinct(list_transform(generate_series(1, len(probe_norm)-2),
       |        i -> substr(probe_norm, i, 3)))
       |    ELSE [probe_norm] END AS probe_grams
       |  FROM probes0),
       |bpost AS (SELECT base_key, unnest(base_grams) AS g FROM gset2),
       |rare AS (SELECT g FROM bpost GROUP BY g HAVING COUNT(*) <= $BlockDfCap),
       |ppost AS (SELECT probe_key, unnest(probe_grams) AS g FROM probes),
       |cands AS (SELECT DISTINCT probe_key, base_key
       |          FROM ppost JOIN rare USING (g) JOIN bpost USING (g)),
       |scored AS (SELECT c.probe_key, c.base_key,
       |    CAST(levenshtein(p.probe_norm, b.base_norm) AS BIGINT) AS ts_dist,
       |    CAST(levenshtein(p.probe_desc, b.base_desc) AS BIGINT) AS raw_dist
       |  FROM cands c JOIN probes p USING (probe_key) JOIN gset2 b USING (base_key)),
       |best AS (SELECT probe_key, base_key AS matched_key, ts_dist, raw_dist
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_key
       |          ORDER BY ts_dist, base_key) AS rank FROM scored) x
       |  WHERE rank = 1)
       |SELECT p.probe_key, b.matched_key, b.ts_dist, b.raw_dist,
       |  COALESCE(b.matched_key = p.probe_key, false) AS correct
       |FROM probes p LEFT JOIN best b USING (probe_key)
       |ORDER BY p.probe_key""".stripMargin

  // ------------------------------------------ fm6: Jaro-Winkler linkage

  /** fm6: JARO-WINKLER record linkage — the census-linkage similarity
    * built for short NAME fields (Winkler 1990): position-windowed
    * character matching with a shared-prefix boost, which tolerates the
    * mid-string deletions fm1's trigram Jaccard punishes and rewards the
    * intact prefixes typo'd names keep. The metric runs as the native
    * codegen expression `jaro_winkler` (Spark ships levenshtein but no
    * Jaro family; DuckDB's built-in `jaro_winkler_similarity` is the
    * oracle twin — its exact semantics, incl. the 0.7 boost threshold
    * and empty→0, are probed and pinned in
    * [[graft.functions.TextHashUtil.jaroWinkler]]'s contract).
    *
    * Parity: the float similarity quantizes ONCE to integer micro-units
    * per candidate pair; ranking, tie-breaks, and the match-accept
    * threshold all compare BIGINTs, so a last-ULP divergence between
    * JVM and C++ arithmetic cannot reorder anything.
    *
    * Scale: fm1's rare-trigram blocking bounds candidates (never
    * probe×base); best-match is the combinable max-struct aggregate. */
  def fuzzyMatchJaroWinkler(spark: SparkSession, dir: String): DataFrame = {
    // the part composite descriptor (fm5's field): enough entropy for a
    // name-shaped metric — customer/supplier names are serial-numbered
    // with an 9-char shared prefix, the known degenerate regime for a
    // prefix-boosting similarity (documented, not hidden: that trade is
    // WHY fm1's trigram blocking scores those)
    val descOf = concat_ws(" ", col("p_name"), col("p_brand"), col("p_type"))
    val base = t(spark, dir, "part")
      .select(col("p_partkey").as("base_key"), descOf.as("base_name"))
      .withColumn("base_grams", trigramsOf(col("base_name")))
    val probes = t(spark, dir, "part")
      .filter(col("p_partkey") % ProbeMod === 0)
      .select(col("p_partkey").as("probe_key"), descOf.as("orig_name"),
        corrupt(descOf).as("probe_name"))
      .withColumn("probe_grams", trigramsOf(col("probe_name")))
    val basePost = base.select(col("base_key"), explode(col("base_grams")).as("g"))
    val rare = basePost.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= BlockDfCap).select(col("g"))
    val probePost = probes.select(col("probe_key"), explode(col("probe_grams")).as("g"))
    val cands = probePost.join(rare, "g").join(basePost, "g")
      .select(col("probe_key"), col("base_key")).distinct()
    val scored = cands
      .join(probes.select(col("probe_key"), col("probe_name")), "probe_key")
      .join(base.select(col("base_key"), col("base_name")), "base_key")
      .select(col("probe_key"), col("base_key"), col("base_name"),
        round(graft.functions.TextHashFunctions
          .jaroWinkler(col("probe_name"), col("base_name")) * lit(1000000.0))
          .cast(LongType).as("jw_micro"))
    // the matched record's descriptor rides INSIDE the max-struct (a
    // trailing field can never flip the max: (s, nb) is already a total
    // order) instead of a second base join on matched_key — r19: one
    // less shuffle join, and the final left join is 1:1 off the
    // aggregate like fm4/fm5's
    val best = scored.groupBy(col("probe_key"))
      .agg(max(struct(col("jw_micro").as("s"),
        (lit(0L) - col("base_key")).as("nb"),
        col("base_name").as("mn"))).as("m"))
      .select(col("probe_key"), (lit(0L) - col("m.nb")).as("matched_key"),
        col("m.s").as("jw_micro"), col("m.mn").as("matched_name"))
    // correct = the matched record carries the probe's own descriptor
    // (duplicate descriptors tie-break to the min key, fm5's contract)
    probes.select(col("probe_key"), col("orig_name"))
      .join(best, Seq("probe_key"), "left")
      .select(col("probe_key"), col("matched_key"),
        coalesce(col("jw_micro"), lit(0L)).as("jw_micro"),
        coalesce(col("matched_name") === col("orig_name"), lit(false))
          .as("correct"))
      .orderBy(col("probe_key"))
  }

  val fuzzyMatchJaroWinklerSql: String =
    s"""WITH b0 AS (SELECT p_partkey AS base_key,
       |    p_name || ' ' || p_brand || ' ' || p_type AS base_name FROM part),
       |base AS (SELECT base_key, base_name,
       |    CASE WHEN len(base_name) >= 3 THEN list_distinct(list_transform(
       |      generate_series(1, len(base_name)-2), i -> substr(base_name, i, 3)))
       |    ELSE [base_name] END AS base_grams
       |  FROM b0),
       |p0 AS (SELECT p_partkey AS probe_key,
       |    p_name || ' ' || p_brand || ' ' || p_type AS orig_name
       |  FROM part WHERE p_partkey % $ProbeMod = 0),
       |probe0 AS (SELECT probe_key, orig_name,
       |    array_to_string(list_transform(
       |      list_filter(generate_series(1, len(orig_name)), i -> i % $CorruptStride <> 0),
       |      i -> substr(orig_name, i, 1)), '') AS probe_name
       |  FROM p0),
       |probes AS (SELECT probe_key, orig_name, probe_name,
       |    CASE WHEN len(probe_name) >= 3 THEN list_distinct(list_transform(
       |      generate_series(1, len(probe_name)-2), i -> substr(probe_name, i, 3)))
       |    ELSE [probe_name] END AS probe_grams
       |  FROM probe0),
       |bpost AS (SELECT base_key, unnest(base_grams) AS g FROM base),
       |rare AS (SELECT g FROM bpost GROUP BY g HAVING COUNT(*) <= $BlockDfCap),
       |ppost AS (SELECT probe_key, unnest(probe_grams) AS g FROM probes),
       |cands AS (SELECT DISTINCT probe_key, base_key
       |          FROM ppost JOIN rare USING (g) JOIN bpost USING (g)),
       |scored AS (SELECT c.probe_key, c.base_key,
       |    CAST(round(jaro_winkler_similarity(p.probe_name, b.base_name)
       |      * 1000000.0) AS BIGINT) AS jw_micro
       |  FROM cands c JOIN probes p USING (probe_key) JOIN base b USING (base_key)),
       |best AS (SELECT probe_key, base_key AS matched_key, jw_micro
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_key
       |          ORDER BY jw_micro DESC, base_key) AS rank FROM scored) x
       |  WHERE rank = 1)
       |SELECT p.probe_key, b.matched_key,
       |  COALESCE(b.jw_micro, CAST(0 AS BIGINT)) AS jw_micro,
       |  COALESCE(m.base_name = p.orig_name, false) AS correct
       |FROM probes p LEFT JOIN best b USING (probe_key)
       |LEFT JOIN b0 m ON m.base_key = b.matched_key
       |ORDER BY p.probe_key""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "fm6_fuzzy_match_jaro_winkler" -> fuzzyMatchJaroWinkler,
    "fm5_fuzzy_match_token_sort" -> fuzzyMatchTokenSort,
    "fm1_fuzzy_match" -> fuzzyMatch,
    "fm2_fuzzy_match_minhash" -> fuzzyMatchMinhash,
    "fm3_fuzzy_match_edit" -> fuzzyMatchEdit,
    "fm4_fuzzy_match_damerau" -> fuzzyMatchDamerau)

  val oracle: Map[String, String] = Map(
    "fm6_fuzzy_match_jaro_winkler" -> fuzzyMatchJaroWinklerSql,
    "fm5_fuzzy_match_token_sort" -> fuzzyMatchTokenSortSql,
    "fm1_fuzzy_match" -> fuzzyMatchSql,
    "fm2_fuzzy_match_minhash" -> fuzzyMatchMinhashSql,
    "fm3_fuzzy_match_edit" -> fuzzyMatchEditSql,
    "fm4_fuzzy_match_damerau" -> fuzzyMatchDamerauSql)
}
