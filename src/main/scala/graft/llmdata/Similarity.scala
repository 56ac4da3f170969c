package graft.llmdata


import org.apache.spark.sql.{Column, DataFrame, GraftCheckpoint, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{ServeIndex, ServeWalk}
import graft.sources.Tables

/** Similarity search over the `embeddings` fixture (64-dim unit vectors):
  * exact brute-force top-k as the ground-truth baseline, plus two scale
  * paths — random-hyperplane LSH bucketing and an IVF-style coarse
  * quantizer — that turn the O(n·q) scan into key-equality joins.
  * LLM-data north star module (SURVEY.md §7.1 step 7).
  *
  * Scale posture (100 TB): the query set is broadcast (it is always small
  * relative to the corpus); the corpus is never shuffled in ss1 (one scan +
  * per-query top-k) and is shuffled only by bucket/cell key in ss2/ss3.
  * Recall of the approximate paths vs the exact baseline is asserted in
  * LlmDataSpec.
  *
  * Oracle parity: every float is cast to double BEFORE any arithmetic and
  * every reduction is an index-ordered left fold, so Spark and DuckDB
  * produce bit-identical doubles (see Dedup.dot/cosine).
  */
object Similarity {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** Queries = vec_id < NumQueries; corpus = the rest. */
  private[graft] val NumQueries = 10
  private val TopK = 5
  private val AnnTopK = 3

  private def corpus(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings").filter(col("vec_id") >= NumQueries)
      .select(col("vec_id"), Dedup.vecD(col("embedding")).as("v"))

  private def queriesDf(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings").filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), Dedup.vecD(col("embedding")).as("q"))

  private val dotSql =
    "list_reduce(list_transform(generate_series(1,64), i -> %s[i] * %s[i]), (x,y) -> x+y)"
  private def cosSql(a: String, b: String): String = {
    val d = dotSql.format(a, b)
    val na = s"sqrt(list_reduce(list_transform($a, x -> x*x), (x,y) -> x+y))"
    val nb = s"sqrt(list_reduce(list_transform($b, x -> x*x), (x,y) -> x+y))"
    s"$d / ($na * $nb)"
  }

  // ------------------------------------------------------ exact brute force

  /** Exact top-k cosine neighbors per query: broadcast the query set, one
    * scan of the corpus, per-query ranking. The ground truth for ss2/ss3. */
  def knnBruteForce(spark: SparkSession, dir: String): DataFrame = {
    val scored = corpus(spark, dir).crossJoin(queriesDf(spark, dir))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Dedup.cosine(col("q"), col("v")).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  val knnBruteForceSql: String =
    s"""WITH c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings WHERE vec_id >= $NumQueries),
       |q AS (SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q
       |      FROM embeddings WHERE vec_id < $NumQueries),
       |scored AS (SELECT query_id, vec_id AS neighbor_id, ${cosSql("q", "v")} AS cos_sim
       |           FROM c CROSS JOIN q)
       |SELECT query_id, rank, neighbor_id, cos_sim FROM (
       |  SELECT query_id, neighbor_id, cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM scored) x
       |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin

  // ------------------------------------------------- random-hyperplane LSH

  private val NumHyperplanes = 8

  /** Deterministic ±1 hyperplanes derived from md5("hp:<j>:<d>") — the same
    * bytes any engine computes, so the oracle embeds identical constants
    * (shared with the native expression). */
  private[llmdata] def hyperplaneSigns: Array[Array[Double]] =
    graft.functions.HyperplaneLsh.signs

  /** 8-bit LSH code via the native [[graft.functions.LshFunctions.lshCode]]. (The
    * composable form — 8×64 `lit(sign) * element_at` terms — was a ~1000-
    * node tree whose analysis/codegen time dominated the query.) */
  def lshCode(v: Column): Column = graft.functions.LshFunctions.lshCode(v)

  private def lshCodeSql(v: String): String = {
    val bits = hyperplaneSigns.map { signs =>
      val lst = signs.mkString("[", ",", "]")
      val d = s"list_reduce(list_transform(generate_series(1,64), i -> ($lst)[i] * $v[i]), (x,y) -> x+y)"
      s"CASE WHEN $d > 0 THEN '1' ELSE '0' END"
    }
    bits.mkString(" || ")
  }

  /** ANN via LSH: bucket corpus and queries by 8-bit hyperplane code, rank
    * only within the query's bucket. The corpus→bucket map is one pass; the
    * search is a key-equality join on the code. */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir).withColumn("code", lshCode(col("v")))
    val q = queriesDf(spark, dir).withColumn("code", lshCode(col("q")))
    val scored = c.join(q, "code")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Dedup.cosine(col("q"), col("v")).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= AnnTopK)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  val annLshSql: String =
    s"""WITH c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings WHERE vec_id >= $NumQueries),
       |cc AS (SELECT vec_id, v, ${lshCodeSql("v")} AS code FROM c),
       |q AS (SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q
       |      FROM embeddings WHERE vec_id < $NumQueries),
       |qc AS (SELECT query_id, q, ${lshCodeSql("q")} AS code FROM q),
       |scored AS (SELECT query_id, vec_id AS neighbor_id, ${cosSql("q", "v")} AS cos_sim
       |           FROM cc JOIN qc USING (code))
       |SELECT query_id, rank, neighbor_id, cos_sim FROM (
       |  SELECT query_id, neighbor_id, cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM scored) x
       |WHERE rank <= $AnnTopK ORDER BY query_id, rank""".stripMargin

  /** Multi-probe LSH: in addition to its own bucket, each query probes the
    * 8 buckets at hamming distance 1 — still a key-equality join (the probe
    * codes are exploded on the small query side), with ~9× the candidate
    * pool and far better recall than single-bucket ss2. */
  def annLshMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir).withColumn("code", lshCode(col("v")))
    def flip(code: Column, j: Int): Column =
      concat(
        code.substr(lit(1), lit(j - 1)),
        when(code.substr(lit(j), lit(1)) === "1", lit("0")).otherwise(lit("1")),
        code.substr(lit(j + 1), lit(NumHyperplanes - j)))
    val probeArr = array(col("code") +: (1 to NumHyperplanes).map(j => flip(col("code"), j)): _*)
    val q = queriesDf(spark, dir).withColumn("code", lshCode(col("q")))
      .select(col("query_id"), col("q"), explode_outer(probeArr).as("probe"))
    val scored = c.join(q, c("code") === q("probe"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Dedup.cosine(col("q"), col("v")).as("cos_sim"))
      .distinct() // a neighbor can match via several probes
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= AnnTopK)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  val annLshMultiprobeSql: String = {
    val flips = (1 to NumHyperplanes).map { j =>
      s"substr(code,1,${j - 1}) || (CASE WHEN substr(code,$j,1)='1' THEN '0' ELSE '1' END)" +
        s" || substr(code,${j + 1},${NumHyperplanes - j})"
    }
    val probeList = ("code" +: flips).mkString("[", ", ", "]")
    s"""WITH c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings WHERE vec_id >= $NumQueries),
       |cc AS (SELECT vec_id, v, ${lshCodeSql("v")} AS code FROM c),
       |q AS (SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q
       |      FROM embeddings WHERE vec_id < $NumQueries),
       |qc AS (SELECT query_id, q, ${lshCodeSql("q")} AS code FROM q),
       |probes AS (SELECT query_id, q, unnest($probeList) AS probe FROM qc),
       |scored AS (SELECT DISTINCT query_id, vec_id AS neighbor_id,
       |             ${cosSql("q", "v")} AS cos_sim
       |           FROM cc JOIN probes ON cc.code = probes.probe)
       |SELECT query_id, rank, neighbor_id, cos_sim FROM (
       |  SELECT query_id, neighbor_id, cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM scored) x
       |WHERE rank <= $AnnTopK ORDER BY query_id, rank""".stripMargin
  }

  // --------------------------------------------------- IVF coarse quantizer

  /** Codebook size — the number of coarse cells (and of sub-centroids
    * per PQ subspace); the DuckDB twins interpolate the same constant.
    * Deliberately ≠ the fixture's label count (10) so the quantizer is
    * proven label-free.
    *
    * WHY k does NOT auto-scale with the corpus (r19, measured): the
    * FAISS √n sizing rule (k = max(16, ⌊√(n ÷ 8)⌋), knee at n = 2048,
    * twin-rendered as a scalar subquery — sqrt is the one float op IEEE
    * 754 requires correctly rounded, so both engines agree exactly) was
    * implemented, gated 208/208 green, and then REJECTED BY MEASUREMENT:
    * this codebook also SEEDS the NN-descent graph build
    * ([[corpusSeedGraph]] draws each node's seed candidates cell-
    * locally), and a √n codebook makes the seeds hyper-local — at the
    * probe's 19990-vector corpus the k = 49 build served recall@3 0.533
    * vs 0.767 for the k = 16 build at identical (beam 9, entries 2,
    * hops 12), 0.622 vs 0.744 at 9990 (30-query fixture, granularity
    * 0.011); an entries-4 retry recovered only ~0.03, so the loss is
    * build navigability, not entry quality. One codebook serves two
    * masters here, and the graph tier is the one the serve path walks.
    * The measured-future path for the IVF tier at deployment scale is
    * an ss24-style tuning curve at the target corpus with k AND nprobe
    * co-scaled (FAISS scales both) — not a unilateral k default the
    * build pays for. Evidence: SCALING.md "Graph-serve corpus-scale
    * probe" part 5. */
  private[llmdata] val IvfK = 16

  /** How many coarse cells a QUERY probes in ss3 (corpus vectors are still
    * single-assigned — the index stays one-cell-per-vector). Multiprobe is
    * the standard recall knob of an IVF index (FAISS `nprobe`): with
    * uniform hash-sampled seeds a true neighbor often sits just across the
    * Voronoi boundary of the query's own cell, so probing the P nearest
    * cells trades P× candidate volume for recall without touching the
    * index; the DuckDB twins interpolate the same constant. */
  private[llmdata] val IvfProbes = 4

  /** Hash-sampled codebook: the k vectors of the `embeddings` table with
    * the lowest md5("seed:" + vec_id) — a deterministic uniform sample
    * over ALL rows (query vectors included; at corpus scale the handful of
    * query rows is statistically invisible, and one sampling rule shared
    * by every IVF-family oracle beats a second filtered variant) that
    * needs NO label column (real corpora have none; the label-seeded
    * round-5 form could not be pointed at unlabeled data). Cell id = the
    * seed's own vec_id. Train cost is one TakeOrderedAndProject scan
    * (per-partition top-k, then a k-way driver merge — never a global
    * sort), and the result is cached per session via [[exemplarCache]].
    *
    * The seed codebook is what most of the IVF family serves from;
    * [[lloydRefine]] is the FAISS-default refinement on top of it, made
    * order-independent (exact nano-unit mean) so the refined codebook is
    * itself oracle-gateable — ss10 serves the refined variant under the
    * same hash gate via [[refinedExemplarCteSql]]. */
  private[graft] def exemplarsOf(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "embeddings")
      .select(col("vec_id").cast(LongType).as("cell"),
        Dedup.vecD(col("embedding")).as("cv"),
        md5(concat(lit("seed:"), col("vec_id").cast(StringType))).as("h"))
      .orderBy(col("h"), col("cell"))
      .limit(IvfK)
      .select(col("cell"), col("cv"))
  }

  /** The exemplar SELECT — the DuckDB rendering of [[exemplarsOf]] at the
    * default k (assumes a CTE `e(vec_id, v)` over `embeddings`). */
  private[llmdata] val exemplarSelectSql: String =
    s"""SELECT vec_id AS cell, v AS cv FROM e
       |       ORDER BY md5('seed:' || CAST(vec_id AS VARCHAR)), vec_id
       |       LIMIT $IvfK""".stripMargin

  /** The shared `ex` CTE form of [[exemplarSelectSql]]. Referenced by
    * every oracle in the IVF family (ss3/ss5 here — ss6 wraps the SELECT
    * to number the codebook — and dd9/dd14 in Dedup) so the training rule
    * cannot drift between them. */
  private[llmdata] val exemplarCteSql: String =
    s"ex AS ($exemplarSelectSql)"

  /** The collected codebook, cached per exemplar DataFrame's session+plan:
    * annIvf/ivfCells rebuild logically-identical exemplar frames on every
    * call (bench runs each query twice), and the train-step collect is a
    * real job at corpus scale — cache it like Dedup's shingle tables.
    * Keyed by the session OBJECT and dir-bearing plan string; stopped
    * sessions are evicted so dead contexts don't pin the heap.
    *
    * Staleness contract (same as Dedup's gramsCache): the key is the
    * LOGICAL plan, not a data fingerprint — if the parquet under `dir` is
    * rewritten within a live session, IVF assignment keeps the codebook it
    * trained on the old data until `Dedup.uncacheShingles` is called. That is
    * deliberate: a stable codebook is what makes incremental assignment
    * reproducible; re-train explicitly when the corpus changes. */
  private val exemplarCache =
    new SessionCache[Array[(Long, Array[Double])]](_ => ())

  private def collectedExemplars(exemplars: DataFrame): Array[(Long, Array[Double])] =
    exemplarCache.get(exemplars.sparkSession,
      exemplars.queryExecution.logical.toString)(
      exemplars.collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1))

  /** Nearest-exemplar assignment as a SCAN-SIDE expression: the exemplar
    * set (the hash-sampled IVF "codebook" — k rows, always tiny relative
    * to the corpus) is collected once at build time and folded into the
    * plan as literals; `greatest` over (sim, -idx) structs is the argmax,
    * with the same tie-break as ORDER BY sim DESC, cell ASC (struct
    * comparison is lexicographic; idx is the rank of the cell in ascending
    * order). Zero shuffle and zero extra rows — the previous crossJoin +
    * row_number variant shuffled and sorted the ENTIRE corpus keyed by its
    * own row id just to take this per-row argmax over a broadcast side. */
  /** [[assignCells]] for external (graft-internal) callers — the
    * incremental-index path assigns NEW vectors with the STORED codebook
    * (the stable-training staleness contract above). */
  private[graft] def assignCellsWith(df: DataFrame, vcol: String,
                                     exemplars: DataFrame): DataFrame =
    assignCells(df, vcol, exemplars)

  private def assignCells(df: DataFrame, vcol: String, exemplars: DataFrame): DataFrame = {
    val ex = collectedExemplars(exemplars)
    require(ex.nonEmpty, "IVF assignment requires at least one exemplar")
    val scored = ex.zipWithIndex.map { case ((_, cv), i) =>
      struct(Dedup.cosine(col(vcol), lit(cv)).as("s"), lit(-i).as("ni"))
    }
    val best = if (scored.length == 1) scored.head else greatest(scored.toIndexedSeq: _*)
    val cellOf = element_at(lit(ex.map(_._1)), lit(1) - best.getField("ni"))
    df.withColumn("cell", cellOf)
  }

  /** Top-P nearest exemplar cells, still scan-side: the scored struct
    * array sorts ascending on (-sim, idx) ≡ sim DESC, cell ASC, the first
    * `probes` entries map back to cell ids, and `explode` emits one row
    * per probed cell. Only the (small, broadcast) query side ever takes
    * probes > 1, so the P× row fan-out never touches the corpus. */
  private def assignCellsTopP(df: DataFrame, vcol: String, exemplars: DataFrame,
                              probes: Int): DataFrame = {
    val ex = collectedExemplars(exemplars)
    require(ex.nonEmpty, "IVF assignment requires at least one exemplar")
    val scored = array(ex.zipWithIndex.map { case ((_, cv), i) =>
      struct((lit(0.0) - Dedup.cosine(col(vcol), lit(cv))).as("ns"), lit(i).as("i"))
    }.toIndexedSeq: _*)
    val cells = transform(slice(array_sort(scored), 1, probes),
      s => element_at(lit(ex.map(_._1)), s.getField("i") + lit(1)))
    df.withColumn("cell", explode(cells))
  }

  /** All embeddings with their IVF cell — (vec_id, v, cell). Used by the
    * IVF search here and the cell-bucketed near-dup (Dedup.ivfNearDup). */
  def ivfCells(spark: SparkSession, dir: String): DataFrame = {
    val all = t(spark, dir, "embeddings")
      .select(col("vec_id"), Dedup.vecD(col("embedding")).as("v"))
    assignCells(all, "v", exemplarsOf(spark, dir))
  }

  /** Lloyd (spherical k-means) refinement of the hash-sampled seed
    * codebook — the FAISS-default train step, and since round 8 fully
    * oracle-gateable: the per-cell mean sums FLOOR-SCALED NANO-UNIT
    * BIGINTs (the cur1/cur3 parity idiom), so the centroid is a pure
    * deterministic function of the data — no partial-aggregation-order
    * hazard — and DuckDB reproduces it bit-exact (ss10 serves from this
    * codebook under the hash gate). The 1e-9 quantization of the mean is
    * noise against the quantizer's own distortion. Each iteration: assign
    * every vector to its nearest current centroid (the zero-shuffle
    * scan-side argmax), exact-mean per cell, L2-normalize the mean
    * (embeddings are unit-ish, so cosine argmax ≡ dot argmax on
    * normalized centroids). Cells that capture no vectors keep their
    * previous centroid. Cost per iteration: one assignment scan + one
    * (cell, dim)-keyed aggregate whose state is k×64 longs — independent
    * of corpus size. `iters = 0` returns the raw seed codebook. */
  def lloydRefine(spark: SparkSession, dir: String, iters: Int = 1): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val all = t(spark, dir, "embeddings")
      .select(col("vec_id"), Dedup.vecD(col("embedding")).as("v"))
    var ex = exemplarsOf(spark, dir)
    for (_ <- 1 to iters) {
      val means = assignCells(all, "v", ex)
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(((sum(floor(col("x") * lit(1e9))).cast(DoubleType) / lit(1e9)) /
          count(lit(1)).cast(DoubleType)).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell"), transform(col("pm"), p => p.getField("m")).as("cv0"))
      val norm = sqrt(aggregate(col("cv0"), lit(0.0), (acc, x) => acc + x * x))
      val refined = means.select(col("cell"),
        transform(col("cv0"), x => x / norm).as("cv"))
      ex = ex.as("old").join(refined.as("new"), Seq("cell"), "left")
        .select(col("cell"), coalesce(col("new.cv"), col("old.cv")).as("cv"))
    }
    ex
  }

  def annIvf(spark: SparkSession, dir: String): DataFrame =
    annIvfWith(spark, dir, exemplarsOf(spark, dir))

  /** ss10: the SERVED refined-codebook variant — identical search plan to
    * ss3, but cells come from one exact-arithmetic Lloyd step
    * ([[lloydRefine]], [[RefineIters]] iteration) over the seed codebook.
    * This is FAISS's default train shape (sample seeds, refine, serve);
    * the exact nano-unit mean keeps the whole chain under the hash gate,
    * and the recall gate (LlmDataSpec) holds the refined serve to at
    * least ss3's floor. */
  def annIvfRefined(spark: SparkSession, dir: String): DataFrame =
    annIvfWith(spark, dir, lloydRefine(spark, dir, RefineIters))

  private[llmdata] val RefineIters = 1

  private def annIvfWith(spark: SparkSession, dir: String,
                         exemplars: DataFrame): DataFrame = {
    val c = assignCells(corpus(spark, dir), "v", exemplars)
    // multiprobe: each query searches its P nearest cells; each corpus
    // vector lives in exactly one cell, so (query, neighbor) pairs are
    // already distinct across probes — no dedup step needed
    val q = assignCellsTopP(queriesDf(spark, dir), "q", exemplars, IvfProbes)
    val scored = c.join(q, "cell")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Dedup.cosine(col("q"), col("v")).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= AnnTopK)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** One exact-arithmetic Lloyd step as CTEs ending in the same `ex`
    * shape as [[exemplarCteSql]] — the DuckDB rendering of
    * [[lloydRefine]] at iters = 1: seed (ex0) → full-corpus nearest-seed
    * assignment → per-(cell, dim) exact mean (floor-scaled nano-unit
    * BIGINT sums, fixed division order) → L2 normalization (index-ordered
    * fold) → empty cells keep their seed. Any oracle interpolating
    * [[exemplarCteSql]] can swap this in to serve the refined codebook. */
  private[llmdata] val refinedExemplarCteSql: String =
    s"""ex0 AS ($exemplarSelectSql),
       |asg0 AS (SELECT vec_id, v, cell FROM (
       |           SELECT e.vec_id, e.v, ex0.cell,
       |             ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |               ORDER BY ${cosSql("e.v", "ex0.cv")} DESC, ex0.cell) AS rn
       |           FROM e CROSS JOIN ex0) x WHERE rn = 1),
       |mm0 AS (SELECT cell, pos,
       |          (CAST(SUM(CAST(floor(v[pos] * 1000000000.0) AS BIGINT)) AS DOUBLE)
       |            / 1000000000.0) / CAST(COUNT(*) AS DOUBLE) AS m
       |        FROM asg0 CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos)
       |        GROUP BY cell, pos),
       |cv00 AS (SELECT cell, list(m ORDER BY pos) AS cv0 FROM mm0 GROUP BY cell),
       |ref0 AS (SELECT cell, list_transform(cv0, x -> x /
       |           sqrt(list_reduce(list_transform(cv0, y -> y * y),
       |                            (a, b) -> a + b))) AS cv
       |         FROM cv00),
       |ex AS (SELECT ex0.cell, COALESCE(ref0.cv, ex0.cv) AS cv
       |       FROM ex0 LEFT JOIN ref0 USING (cell))""".stripMargin

  val annIvfSql: String = annIvfSqlWith(exemplarCteSql)
  val annIvfRefinedSql: String = annIvfSqlWith(refinedExemplarCteSql)

  // ------------------------------------------------- metadata-filtered ANN

  /** Corpus-metadata predicate for ss11 — deliberately a RANGE compare,
    * the shape Spark's parquet datasource can push into the scan
    * (PushedFilters; a modulo or expression predicate cannot push). At
    * 100 TB with a label-partitioned lake layout the same predicate
    * becomes partition PRUNING: filtered search then never opens the
    * excluded files at all. */
  private[llmdata] val FilterLabelLt = 5

  /** ss11: metadata-FILTERED ANN — "nearest neighbors among vectors
    * satisfying a predicate", the query every production vector store
    * serves (filter by tenant/language/license/date) and the classic
    * pre-filter-vs-post-filter design fork. This is the PRE-FILTER
    * composition: the predicate applies to the corpus BEFORE cell-join
    * and ranking, so recall among eligible vectors is exactly ss3's
    * recall (post-filtering the unfiltered top-k instead can return
    * FEWER than k — or zero — eligible neighbors when the predicate is
    * selective). Same plan as ss3 otherwise: scan-side cell argmax, ≤P
    * probed cells per query, broadcast query side, bounded ranking.
    *
    * Scale posture: the filter reaches the parquet scan (PushedFilters,
    * PlanQualitySpec-pinned), so the filtered index scan reads LESS than
    * the unfiltered one — selectivity is pure savings, never extra work;
    * the IVF cell structure is untouched (cells just thin out), which is
    * how FAISS/Milvus-style filtered IVF behaves with bitset filters. */
  def annIvfFiltered(spark: SparkSession, dir: String): DataFrame = {
    val ex = exemplarsOf(spark, dir)
    val filteredCorpus = t(spark, dir, "embeddings")
      .filter(col("vec_id") >= NumQueries && col("label") < FilterLabelLt)
      .select(col("vec_id"), Dedup.vecD(col("embedding")).as("v"))
    val c = assignCells(filteredCorpus, "v", ex)
    val q = assignCellsTopP(queriesDf(spark, dir), "q", ex, IvfProbes)
    val scored = c.join(q, "cell")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Dedup.cosine(col("q"), col("v")).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= AnnTopK)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** [[annIvfSqlWith]] with the label predicate on the corpus assignment
    * only — exemplar training and query probing stay UNFILTERED, exactly
    * as the Spark side composes (one codebook serves every predicate). */
  val annIvfFilteredSql: String =
    s"""WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings),
       |$exemplarCteSql,
       |ca AS (SELECT vec_id, v, cell FROM (
       |         SELECT e.vec_id, e.v, ex.cell,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosSql("e.v", "ex.cv")} DESC, ex.cell) AS rn
       |         FROM e CROSS JOIN ex
       |         WHERE e.vec_id >= $NumQueries AND e.label < $FilterLabelLt) x
       |       WHERE rn = 1),
       |qa AS (SELECT query_id, q, cell FROM (
       |         SELECT e.vec_id AS query_id, e.v AS q, ex.cell,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosSql("e.v", "ex.cv")} DESC, ex.cell) AS rn
       |         FROM e CROSS JOIN ex WHERE e.vec_id < $NumQueries) x
       |       WHERE rn <= $IvfProbes),
       |scored AS (SELECT query_id, vec_id AS neighbor_id, ${cosSql("q", "v")} AS cos_sim
       |           FROM ca JOIN qa USING (cell))
       |SELECT query_id, rank, neighbor_id, cos_sim FROM (
       |  SELECT query_id, neighbor_id, cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM scored) x
       |WHERE rank <= $AnnTopK ORDER BY query_id, rank""".stripMargin

  private def annIvfSqlWith(exCte: String): String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings),
       |$exCte,
       |ca AS (SELECT vec_id, v, cell FROM (
       |         SELECT e.vec_id, e.v, ex.cell,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosSql("e.v", "ex.cv")} DESC, ex.cell) AS rn
       |         FROM e CROSS JOIN ex WHERE e.vec_id >= $NumQueries) x WHERE rn = 1),
       |qa AS (SELECT query_id, q, cell FROM (
       |         SELECT e.vec_id AS query_id, e.v AS q, ex.cell,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosSql("e.v", "ex.cv")} DESC, ex.cell) AS rn
       |         FROM e CROSS JOIN ex WHERE e.vec_id < $NumQueries) x
       |       WHERE rn <= $IvfProbes),
       |scored AS (SELECT query_id, vec_id AS neighbor_id, ${cosSql("q", "v")} AS cos_sim
       |           FROM ca JOIN qa USING (cell))
       |SELECT query_id, rank, neighbor_id, cos_sim FROM (
       |  SELECT query_id, neighbor_id, cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM scored) x
       |WHERE rank <= $AnnTopK ORDER BY query_id, rank""".stripMargin

  // --------------------------------------------------- in-cell kNN graph

  private val GraphTopK = 3

  /** Corpus-wide kNN graph within IVF cells (ss5): every vector's
    * [[GraphTopK]] nearest same-cell neighbors — the SemDeDup shape
    * (cluster first, exact similarity only inside each cluster). The
    * graph is the input to embedding-space semantic dedup and diversity
    * sampling at corpus scale.
    *
    * Scale posture: cell assignment is the scan-side zero-shuffle argmax
    * (shared with ss3/dd9); the only join is the per-cell self-join, so
    * candidate volume is Σ|cell|² — bounded by the quantizer's balance,
    * NOT n² (train more cells as the corpus grows; cell count is the
    * knob). The per-source top-k runs through the bounded-heap
    * [[graft.functions.TopKByScore]] aggregator — O(k) state per source
    * through the partial-agg shuffle — instead of a window, which would
    * sort every source's FULL candidate fan-out (the per-cell self-join
    * makes that fan-out the dominant row count of the query) just to
    * discard all but k rows. */
  /** The built kNN graph caches per (session, dir) like the PQ/SQ index
    * artifacts: ss5 serves it and ss16's descent round reads it as the
    * seed — without the cache each min-of-3 bench pass re-ran the
    * per-cell all-pairs build (the graph IS the persisted index artifact
    * at scale). Evicted by `Dedup.uncacheShingles`. */
  private val knnGraphCache = SessionCache.persisted()

  def knnGraph(spark: SparkSession, dir: String): DataFrame =
    knnGraphCache.get(spark, dir)(knnGraphUncached(spark, dir).persist())

  private def knnGraphUncached(spark: SparkSession, dir: String): DataFrame = {
    val cells = ivfCells(spark, dir)
    val a = cells.select(col("cell"), col("vec_id").as("src_id"), col("v").as("va"))
    val b = cells.select(col("cell"), col("vec_id").as("neighbor_id"), col("v").as("vb"))
    a.join(b, "cell")
      .filter(col("src_id") =!= col("neighbor_id"))
      .select(col("src_id"), col("neighbor_id"),
        Dedup.cosine(col("va"), col("vb")).as("cos_sim"))
      .groupBy(col("src_id"))
      .agg(graft.functions.TopKByScore.topK(
        col("cos_sim"), col("neighbor_id"), GraphTopK).as("top"))
      .select(col("src_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("src_id"), (col("pos") + 1).cast(LongType).as("rank"),
        col("e.id").as("neighbor_id"), col("e.score").as("cos_sim"))
      .orderBy(col("src_id"), col("rank"))
  }

  /** Unordered core of [[knnGraphSql]], for embedding as a CTE body (the
    * descent/serve twins compose it; appending ORDER BY only at the top
    * level avoids the fragile strip-the-sort string surgery). */
  private[llmdata] val knnGraphCoreSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings),
       |$exemplarCteSql,
       |ca AS (SELECT vec_id, v, cell FROM (
       |         SELECT e.vec_id, e.v, ex.cell,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosSql("e.v", "ex.cv")} DESC, ex.cell) AS rn
       |         FROM e CROSS JOIN ex) x WHERE rn = 1),
       |scored AS (SELECT a.vec_id AS src_id, b.vec_id AS neighbor_id,
       |             ${cosSql("a.v", "b.v")} AS cos_sim
       |           FROM ca a JOIN ca b USING (cell)
       |           WHERE a.vec_id <> b.vec_id)
       |SELECT src_id, rank, neighbor_id, cos_sim FROM (
       |  SELECT src_id, neighbor_id, cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY src_id
       |      ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM scored) x
       |WHERE rank <= $GraphTopK""".stripMargin

  val knnGraphSql: String = s"$knnGraphCoreSql ORDER BY src_id, rank"

  // --------------------------------------------- product quantization

  /** PQ geometry: 64 dims split into [[PqM]] subspaces of [[PqSubDim]];
    * the per-subspace codebook is the hash-sampled IVF exemplar set's
    * sub-vectors ([[IvfK]] entries per subspace — deterministic,
    * shared training with ss3/dd9). */
  private val PqM = 4
  private val PqSubDim = 16
  /** ADC shortlist size per query; the shortlist is exact-rescored and the
    * top [[AnnTopK]] by TRUE cosine are emitted (FAISS's refine stage).
    * This is PQ's recall knob (FAISS `k_factor`): quantization error only
    * costs recall when a true neighbor's ADC rank falls outside the
    * shortlist, so R scales with how lossy the codebook is — 16 sub-
    * centroids per 16-dim subspace is coarse, and R = 10 left recall@3 at
    * 0.2; R = 30 clears the 0.3 gate while the refine rescore still
    * touches only R rows per query, never the corpus. */
  private val PqRefineR = 30

  /** Product-quantization ANN with ADC scoring (ss6): the memory-bound
    * scale path of brute-force search (Jégou et al. 2011). The corpus is
    * ENCODED once — per subspace, the index of the max-inner-product
    * sub-centroid, a scan-side argmax over codebook literals (zero
    * shuffle, like ss3's cell assignment) — so the search scan carries 4
    * small ints per vector instead of 64 doubles (16× less bandwidth,
    * which is the entire game when the corpus outweighs RAM). Each query
    * precomputes its distance TABLE (K inner products per subspace);
    * scoring a corpus row is then [[PqM]] table lookups + 3 adds —
    * asymmetric distance computation. The ADC top-[[PqRefineR]]
    * shortlist per query is then exact-rescored (the refine stage) and the
    * final top-k ranks by TRUE cosine — quantization bounds the shortlist,
    * never the reported ordering.
    *
    * Float parity: sub-inner-products are index-ordered left folds (the
    * native dot expression ≡ DuckDB list_reduce); the ADC sum is written
    * as explicit left-associated adds t0+t1+t2+t3, never a SUM aggregate
    * whose combine order could differ. */
  private def subVec(cv: Array[Double], m: Int): Array[Double] =
    cv.slice(m * PqSubDim, (m + 1) * PqSubDim)
  private def subCol(vcol: String, m: Int): Column =
    slice(col(vcol), m * PqSubDim + 1, PqSubDim)

  /** Sub-codebook argmax for subspace `m` of `vcol` — the PQ encode step
    * as a single column expression over codebook literals, shared by the
    * standalone encoder ([[pqCodes]] → ss6) and the fused IVF+PQ candidate
    * scan ([[annIvfPq]] → ss7). */
  private def pqCodeCol(ex: Array[(Long, Array[Double])], vcol: String, m: Int): Column = {
    val scored = ex.zipWithIndex.map { case ((_, cv), k) =>
      struct(graft.functions.VectorFunctions.dotProduct(
        subCol(vcol, m), lit(subVec(cv, m))).as("s"),
        lit(-k).as("nk"))
    }
    val best = if (scored.length == 1) scored.head else greatest(scored.toIndexedSeq: _*)
    (lit(0) - best.getField("nk")).as(s"code_$m")
  }

  /** Per-subspace query distance table — K inner products per subspace,
    * folded into one array column per subspace (shared by ss6/ss7). */
  private def pqQueryTabs(ex: Array[(Long, Array[Double])], qdf: DataFrame): DataFrame =
    qdf.select(
      col("query_id") +: (0 until PqM).map { m =>
        array(ex.map { case (_, cv) =>
          graft.functions.VectorFunctions.dotProduct(subCol("q", m), lit(subVec(cv, m)))
        }.toIndexedSeq: _*).as(s"tab_$m")
      }: _*)

  /** ADC score: [[PqM]] table lookups + explicit left-associated adds. */
  private val adcScore: Column = (0 until PqM).map(m =>
    element_at(col(s"tab_$m"), col(s"code_$m") + 1)).reduce(_ + _)

  /** The encoded corpus — (vec_id, code_0..code_3), each code a scan-side
    * argmax over sub-codebook literals (zero shuffle, gated like ss3's
    * cell assignment). */
  private[graft] def pqCodes(spark: SparkSession, dir: String): DataFrame = {
    val ex = collectedExemplars(exemplarsOf(spark, dir))
    require(ex.nonEmpty, "PQ requires a trained codebook")
    corpus(spark, dir).select(
      col("vec_id") +: (0 until PqM).map(m => pqCodeCol(ex, "v", m)): _*)
  }

  /** The PQ INDEX is a build-once artifact (FAISS trains and encodes once,
    * then serves many queries) — cache the encoded corpus per (session,
    * dir) like the shingle/pair/exemplar tables; same staleness contract,
    * released by `Dedup.uncacheShingles`. */
  private val pqCodesCache = SessionCache.persisted()

  private def pqCodesCached(spark: SparkSession, dir: String): DataFrame =
    pqCodesCache.get(spark, dir)(pqCodes(spark, dir).persist())

  def annPq(spark: SparkSession, dir: String): DataFrame = {
    val ex = collectedExemplars(exemplarsOf(spark, dir))
    require(ex.nonEmpty, "PQ requires a trained codebook")
    val codes = pqCodesCached(spark, dir)

    val tabs = pqQueryTabs(ex, queriesDf(spark, dir))
    // hint kept (backwards estimate): unhinted, the persisted PQ codes are broadcast
    val scored = codes.crossJoin(broadcast(tabs))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        adcScore.as("approx_score"))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_score").desc, col("neighbor_id"))
    val wExact = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("_arank", row_number().over(wAdc))
      .filter(col("_arank") <= PqRefineR)
      // the refine stage: exact cosine touches only the ADC shortlist
      .join(corpus(spark, dir).select(col("vec_id").as("neighbor_id"), col("v")),
        "neighbor_id")
      .join(queriesDf(spark, dir), "query_id")
      .withColumn("cos_sim", Dedup.cosine(col("q"), col("v")))
      .withColumn("rank", row_number().over(wExact).cast(LongType))
      .filter(col("rank") <= AnnTopK)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("approx_score"), col("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  val annPqSql: String = {
    def subDot(a: String, b: String, m: String): String =
      s"list_reduce(list_transform(generate_series(1,$PqSubDim), " +
        s"i -> $a[$m*$PqSubDim+i] * $b[$m*$PqSubDim+i]), (x,y) -> x+y)"
    val codeCols = (0 until PqM)
      .map(m => s"MAX(CASE WHEN m=$m THEN code END) AS c$m").mkString(", ")
    val tabCols = (0 until PqM)
      .map(m => s"list(t ORDER BY k) FILTER (WHERE m=$m) AS t$m").mkString(", ")
    val adc = (0 until PqM).map(m => s"t$m[c$m+1]").mkString(" + ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings),
       |ex AS (SELECT cell, cv, ROW_NUMBER() OVER (ORDER BY cell) - 1 AS k FROM (
       |         $exemplarSelectSql)),
       |ms AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS m),
       |enc0 AS (SELECT e.vec_id, ms.m, ex.k, ${subDot("e.v", "ex.cv", "ms.m")} AS s
       |         FROM e CROSS JOIN ms CROSS JOIN ex WHERE e.vec_id >= $NumQueries),
       |enc AS (SELECT vec_id, m, k AS code FROM (
       |          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |            ORDER BY s DESC, k) AS rn FROM enc0) x WHERE rn = 1),
       |encw AS (SELECT vec_id, $codeCols FROM enc GROUP BY vec_id),
       |tab AS (SELECT e.vec_id AS query_id, ms.m, ex.k, ${subDot("e.v", "ex.cv", "ms.m")} AS t
       |        FROM e CROSS JOIN ms CROSS JOIN ex WHERE e.vec_id < $NumQueries),
       |tabw AS (SELECT query_id, $tabCols FROM tab GROUP BY query_id),
       |scored AS (SELECT query_id, vec_id AS neighbor_id, $adc AS approx_score
       |           FROM encw CROSS JOIN tabw),
       |short AS (SELECT query_id, neighbor_id, approx_score FROM (
       |            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |              ORDER BY approx_score DESC, neighbor_id) AS arank
       |            FROM scored) x WHERE arank <= $PqRefineR),
       |rescored AS (SELECT s.query_id, s.neighbor_id, s.approx_score,
       |               ${cosSql("q.v", "c.v")} AS cos_sim
       |             FROM short s
       |             JOIN e c ON s.neighbor_id = c.vec_id
       |             JOIN e q ON s.query_id = q.vec_id)
       |SELECT query_id, rank, neighbor_id, approx_score, cos_sim FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM rescored) x
       |WHERE rank <= $AnnTopK
       |ORDER BY query_id, rank""".stripMargin
  }

  // --------------------------------------------- IVF + PQ (the composed index)

  /** IVF+PQ ANN with ADC scoring and exact refine (ss7) — the composed
    * billion-scale index (FAISS `IVFPQ`; Jégou et al. 2011 §V): the coarse
    * quantizer bounds WHICH rows are scored (only the query's
    * [[IvfProbes]] nearest cells — candidate volume is the probed
    * cells' population, not the corpus) and PQ bounds WHAT each candidate
    * costs (4 code lookups + 3 adds over a 4-int payload instead of a
    * 64-double dot). ss3 bounds candidates but pays full vectors; ss6
    * compresses vectors but scans the whole corpus; ss7 is why real
    * engines compose them.
    *
    * Scale posture, stage by stage: the candidate index is ONE corpus scan
    * emitting (cell, code_0..3) — coarse cell and PQ codes are BOTH
    * scan-side argmaxes over codebook literals, so the index build is
    * zero-shuffle and the scan payload entering the join is 4 ints + a
    * cell id per vector. The probe side (queries × P cells × K-entry
    * tables) is broadcast; the candidate join is a broadcast hash join on
    * cell — the corpus never shuffles. The per-query ADC shortlist runs
    * through the bounded-heap [[graft.functions.TopKByScore]] (O(R) state
    * per query through the partial-agg shuffle — a window would sort every
    * query's full probed fan-out). The refine stage broadcasts the R-row
    * shortlist back against the corpus scan (exact cosine touches R rows
    * per query, never the corpus) and the final top-k ranks by TRUE
    * cosine. Each corpus vector lives in exactly one cell, so probe
    * fan-out never duplicates (query, neighbor) pairs.
    *
    * Float parity with the oracle: same discipline as ss6 (index-ordered
    * left-fold dots; ADC as explicit left-associated adds), plus ss3's
    * cell-assignment tie-break (sim DESC, cell ASC). */
  /** The IVF+PQ candidate index — (cell, id, 4 codes) — is the build-once
    * artifact of ss7 (FAISS encodes once, serves many queries); cached per
    * (session, dir) under the exemplar staleness contract. */
  private val ivfPqIndexCache = SessionCache.persisted()

  private def ivfPqIndex(spark: SparkSession, dir: String): DataFrame =
    ivfPqIndexCache.get(spark, dir) {
      val exemplars = exemplarsOf(spark, dir)
      val ex = collectedExemplars(exemplars)
      assignCells(corpus(spark, dir), "v", exemplars)
        .select(col("cell") +: col("vec_id").as("neighbor_id") +:
          (0 until PqM).map(m => pqCodeCol(ex, "v", m)): _*)
        .persist()
    }

  /** Persist the trained IVF+PQ index as parquet — the artifact a real
    * deployment builds once and ships to every search cluster (FAISS's
    * `write_index`): the 16-row codebook plus the encoded candidate table
    * (cell, id, 4 codes). [[annIvfPqFromIndex]] searches from it COLD —
    * no training, no corpus encode — proving the index is self-contained. */
  def writeIvfPqIndex(spark: SparkSession, dir: String, out: String): Unit = {
    exemplarsOf(spark, dir).write.mode("overwrite").parquet(s"$out/exemplars")
    ivfPqIndex(spark, dir).write.mode("overwrite").parquet(s"$out/candidates")
  }

  /** ss7's search stage over a PERSISTED index (see [[writeIvfPqIndex]]):
    * identical plan from the candidate join onward, but the codebook and
    * encoded corpus come from the stored artifact instead of the session
    * caches. Row-identical to [[annIvfPq]] (spec-asserted) — the index
    * lifecycle contract: train/encode once, serve anywhere. The refine
    * stage still reads the live corpus (exact vectors are not part of the
    * compressed index, as in FAISS's IVFPQ without refine storage). */
  def annIvfPqFromIndex(spark: SparkSession, dir: String, indexPath: String): DataFrame = {
    val exemplars = spark.read.parquet(s"$indexPath/exemplars")
    val cand = spark.read.parquet(s"$indexPath/candidates")
    annIvfPqSearch(spark, dir, exemplars, cand)
  }

  def annIvfPq(spark: SparkSession, dir: String): DataFrame =
    annIvfPqSearch(spark, dir, exemplarsOf(spark, dir), ivfPqIndex(spark, dir))

  private def annIvfPqSearch(spark: SparkSession, dir: String,
      exemplars: DataFrame, cand: DataFrame): DataFrame = {
    val ex = collectedExemplars(exemplars)
    require(ex.nonEmpty, "IVF-PQ requires a trained codebook")
    val probes = assignCellsTopP(queriesDf(spark, dir), "q", exemplars, IvfProbes)
      .select(col("query_id"), col("cell"))
    val tabs = pqQueryTabs(ex, queriesDf(spark, dir))
    // hint kept (inflated estimate): unhinted, the candidate index is the build side
    val scored = cand.join(broadcast(probes.join(tabs, "query_id")), "cell")
      .select(col("query_id"), col("neighbor_id"), adcScore.as("approx_score"))
    val short = scored.groupBy(col("query_id"))
      .agg(graft.functions.TopKByScore.topK(
        col("approx_score"), col("neighbor_id"), PqRefineR).as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e.id").as("neighbor_id"),
        col("e.score").as("approx_score"))
    val wExact = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    corpus(spark, dir).select(col("vec_id").as("neighbor_id"), col("v"))
      // hint kept (inflated estimate): unhinted, the corpus is the build side
      .join(broadcast(short), "neighbor_id")
      .join(queriesDf(spark, dir), "query_id")
      .withColumn("cos_sim", Dedup.cosine(col("q"), col("v")))
      .withColumn("rank", row_number().over(wExact).cast(LongType))
      .filter(col("rank") <= AnnTopK)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("approx_score"), col("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  val annIvfPqSql: String = {
    def subDot(a: String, b: String, m: String): String =
      s"list_reduce(list_transform(generate_series(1,$PqSubDim), " +
        s"i -> $a[$m*$PqSubDim+i] * $b[$m*$PqSubDim+i]), (x,y) -> x+y)"
    val codeCols = (0 until PqM)
      .map(m => s"MAX(CASE WHEN m=$m THEN code END) AS c$m").mkString(", ")
    val tabCols = (0 until PqM)
      .map(m => s"list(t ORDER BY k) FILTER (WHERE m=$m) AS t$m").mkString(", ")
    val adc = (0 until PqM).map(m => s"t$m[c$m+1]").mkString(" + ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings),
       |ex AS (SELECT cell, cv, ROW_NUMBER() OVER (ORDER BY cell) - 1 AS k FROM (
       |         $exemplarSelectSql)),
       |ca AS (SELECT vec_id, cell FROM (
       |         SELECT e.vec_id, ex.cell,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosSql("e.v", "ex.cv")} DESC, ex.cell) AS rn
       |         FROM e CROSS JOIN ex WHERE e.vec_id >= $NumQueries) x WHERE rn = 1),
       |qa AS (SELECT query_id, cell FROM (
       |         SELECT e.vec_id AS query_id, ex.cell,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosSql("e.v", "ex.cv")} DESC, ex.cell) AS rn
       |         FROM e CROSS JOIN ex WHERE e.vec_id < $NumQueries) x
       |       WHERE rn <= $IvfProbes),
       |ms AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS m),
       |enc0 AS (SELECT e.vec_id, ms.m, ex.k, ${subDot("e.v", "ex.cv", "ms.m")} AS s
       |         FROM e CROSS JOIN ms CROSS JOIN ex WHERE e.vec_id >= $NumQueries),
       |enc AS (SELECT vec_id, m, k AS code FROM (
       |          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |            ORDER BY s DESC, k) AS rn FROM enc0) x WHERE rn = 1),
       |encw AS (SELECT vec_id, $codeCols FROM enc GROUP BY vec_id),
       |tab AS (SELECT e.vec_id AS query_id, ms.m, ex.k, ${subDot("e.v", "ex.cv", "ms.m")} AS t
       |        FROM e CROSS JOIN ms CROSS JOIN ex WHERE e.vec_id < $NumQueries),
       |tabw AS (SELECT query_id, $tabCols FROM tab GROUP BY query_id),
       |scored AS (SELECT qa.query_id, ca.vec_id AS neighbor_id, $adc AS approx_score
       |           FROM ca JOIN qa USING (cell)
       |           JOIN encw ON encw.vec_id = ca.vec_id
       |           JOIN tabw ON tabw.query_id = qa.query_id),
       |short AS (SELECT query_id, neighbor_id, approx_score FROM (
       |            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |              ORDER BY approx_score DESC, neighbor_id) AS arank
       |            FROM scored) x WHERE arank <= $PqRefineR),
       |rescored AS (SELECT s.query_id, s.neighbor_id, s.approx_score,
       |               ${cosSql("q.v", "c.v")} AS cos_sim
       |             FROM short s
       |             JOIN e c ON s.neighbor_id = c.vec_id
       |             JOIN e q ON s.query_id = q.vec_id)
       |SELECT query_id, rank, neighbor_id, approx_score, cos_sim FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM rescored) x
       |WHERE rank <= $AnnTopK
       |ORDER BY query_id, rank""".stripMargin
  }

  // ------------------------------------------- scalar quantization (SQ8)

  /** ADC shortlist size for the SQ8 refine stage. */
  private val SqRefineR = 30
  private val SqLevels = 255
  private val VecDim = 64

  /** Scalar-quantized ANN (ss8) — FAISS `SQ8`'s shape: train per-DIMENSION
    * [lo, hi] bounds over the corpus (one aggregate), encode each vector as
    * 64 uint8 codes (scan-side, after a 1-row broadcast of the bounds),
    * score queries against the DEQUANTIZED approximation, shortlist, and
    * refine by true cosine. The third point in the compression design
    * space: ss3/ss7 prune candidates; ss6/ss8 compress the scan — SQ
    * trades PQ's 16× compression for 8× with far lower distortion and no
    * codebook training.
    *
    * Scale posture: bounds are 2×64 doubles (one map-side-combinable
    * min/max aggregate, broadcast back — no driver collect); encode is
    * scan-side; the search scan carries 64 ints per vector instead of 64
    * doubles (at a real 100 TB deployment the codes column is the stored
    * index — 8× less scan I/O, the point of SQ); per-query shortlist via
    * the bounded-heap [[graft.functions.TopKByScore]]; the refine stage
    * touches [[SqRefineR]] rows per query. The corpus shuffles only its
    * (query, id, score) projection into the partial-agg exchange.
    *
    * Float parity: quantization is `floor((x−lo)/(hi−lo)·255 + 0.5)`
    * (floor, not round — identical IEEE semantics in both engines),
    * dequantization `lo + code·((hi−lo)/255)` in the same operation
    * order, and both dots are index-ordered left folds. */
  /** The SQ index — (id, bounds, 64 uint8 codes) — is ss8's build-once
    * artifact (bounds + encoded corpus), cached like [[pqCodesCached]]. */
  private val sqIndexCache = SessionCache.persisted()

  private def sqIndex(spark: SparkSession, dir: String): DataFrame =
    sqIndexCache.get(spark, dir) {
      val c = corpus(spark, dir)
      val bounds = c.agg(
        array((1 to VecDim).map(i => min(element_at(col("v"), i))): _*).as("lo"),
        array((1 to VecDim).map(i => max(element_at(col("v"), i))): _*).as("hi"))
      c.crossJoin(bounds)
        .select(col("vec_id").as("neighbor_id"), col("lo"), col("hi"),
          transform(sequence(lit(1), lit(VecDim)), i => {
            val x = element_at(col("v"), i)
            val lo = element_at(col("lo"), i)
            val hi = element_at(col("hi"), i)
            when(hi === lo, lit(0L))
              .otherwise(floor((x - lo) / (hi - lo) * SqLevels + 0.5d))
          }).as("codes"))
        .persist()
    }

  def annSq(spark: SparkSession, dir: String): DataFrame = {
    val xq = transform(sequence(lit(1), lit(VecDim)), i =>
      element_at(col("lo"), i) + element_at(col("codes"), i).cast(DoubleType) *
        ((element_at(col("hi"), i) - element_at(col("lo"), i)) / SqLevels))
    // dequantize ONCE per corpus row (transform is a non-codegen HOF —
    // inside the query crossJoin it would re-interpret per (row × query))
    val decoded = sqIndex(spark, dir)
      .select(col("neighbor_id"), xq.as("xq"))
    val scored = decoded.crossJoin(queriesDf(spark, dir))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.VectorFunctions.dotProduct(col("q"), col("xq"))
          .as("approx_score"))
    val short = scored.groupBy(col("query_id"))
      .agg(graft.functions.TopKByScore.topK(
        col("approx_score"), col("neighbor_id"), SqRefineR).as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e.id").as("neighbor_id"),
        col("e.score").as("approx_score"))
    val wExact = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    corpus(spark, dir).select(col("vec_id").as("neighbor_id"), col("v"))
      // hint kept (inflated estimate): unhinted, the corpus is the build side
      .join(broadcast(short), "neighbor_id")
      .join(queriesDf(spark, dir), "query_id")
      .withColumn("cos_sim", Dedup.cosine(col("q"), col("v")))
      .withColumn("rank", row_number().over(wExact).cast(LongType))
      .filter(col("rank") <= AnnTopK)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("approx_score"), col("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  val annSqSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings),
       |c AS (SELECT vec_id, v FROM e WHERE vec_id >= $NumQueries),
       |q AS (SELECT vec_id AS query_id, v AS q FROM e WHERE vec_id < $NumQueries),
       |ds AS (SELECT unnest(generate_series(1, $VecDim)) AS d),
       |b AS (SELECT d, min(v[d]) AS lo, max(v[d]) AS hi
       |      FROM c CROSS JOIN ds GROUP BY d),
       |enc AS (SELECT c.vec_id, b.d,
       |    CASE WHEN b.hi = b.lo THEN 0
       |         ELSE floor((c.v[b.d] - b.lo) / (b.hi - b.lo) * $SqLevels + 0.5) END
       |      AS code, b.lo, b.hi
       |  FROM c CROSS JOIN b),
       |xqs AS (SELECT vec_id,
       |          list(lo + code * ((hi - lo) / $SqLevels) ORDER BY d) AS xq
       |        FROM enc GROUP BY vec_id),
       |scored AS (SELECT q.query_id, x.vec_id AS neighbor_id,
       |    ${dotSql.format("q.q", "x.xq")} AS approx_score
       |  FROM xqs x CROSS JOIN q),
       |short AS (SELECT query_id, neighbor_id, approx_score FROM (
       |            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |              ORDER BY approx_score DESC, neighbor_id) AS arank
       |            FROM scored) x WHERE arank <= $SqRefineR),
       |rescored AS (SELECT s.query_id, s.neighbor_id, s.approx_score,
       |               ${cosSql("q.v", "c.v")} AS cos_sim
       |             FROM short s
       |             JOIN e c ON s.neighbor_id = c.vec_id
       |             JOIN e q ON s.query_id = q.vec_id)
       |SELECT query_id, rank, neighbor_id, approx_score, cos_sim FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS rank
       |  FROM rescored) x
       |WHERE rank <= $AnnTopK
       |ORDER BY query_id, rank""".stripMargin

  // --------------------------------------------- reciprocal-rank fusion

  private val RrfK = 60

  /** Reciprocal-rank fusion of the LSH and IVF ANN lists (ss9) — the
    * hybrid-retrieval layer that sits ABOVE the indexes (Cormack et al.'s
    * RRF, the standard way real stacks combine lexical/vector or
    * multi-index results): per (query, candidate), score =
    * Σ 1/([[RrfK]] + rank) over the lists that retrieved it, top-k by
    * fused score. A candidate found by BOTH indexes outranks one found by
    * either alone — fusion recovers recall the individual probes lose.
    *
    * Scale shape: the two input lists are already tiny (≤ k rows per
    * query each), so the fusion is a full-outer join + rank over
    * bounded-size per-query groups — negligible next to the index scans
    * it composes. Float parity: the fused score is ONE fixed-shape sum
    * of two coalesced divisions (no aggregation-order hazard). */
  def annRrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val a = annLsh(spark, dir)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("rank_lsh"))
    val b = annIvf(spark, dir)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("rank_ivf"))
    val fused = a.join(b, Seq("query_id", "neighbor_id"), "full_outer")
      .select(col("query_id"), col("neighbor_id"),
        (coalesce(lit(1.0) / (lit(RrfK) + col("rank_lsh")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("rank_ivf")), lit(0.0)))
          .as("rrf_score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("neighbor_id"))
    fused.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= AnnTopK)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("rrf_score"))
      .orderBy(col("query_id"), col("rank"))
  }

  val annRrfFusionSql: String =
    s"""WITH lsh AS (SELECT query_id, neighbor_id, rank AS rank_lsh FROM ($annLshSql)),
       |ivf AS (SELECT query_id, neighbor_id, rank AS rank_ivf FROM ($annIvfSql)),
       |fused AS (SELECT
       |    COALESCE(l.query_id, i.query_id) AS query_id,
       |    COALESCE(l.neighbor_id, i.neighbor_id) AS neighbor_id,
       |    COALESCE(CAST(1 AS DOUBLE) / ($RrfK + l.rank_lsh), CAST(0 AS DOUBLE)) +
       |    COALESCE(CAST(1 AS DOUBLE) / ($RrfK + i.rank_ivf), CAST(0 AS DOUBLE))
       |      AS rrf_score
       |  FROM lsh l FULL OUTER JOIN ivf i
       |    ON l.query_id = i.query_id AND l.neighbor_id = i.neighbor_id)
       |SELECT query_id, rank, neighbor_id, rrf_score FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY rrf_score DESC, neighbor_id) AS rank
       |  FROM fused) x
       |WHERE rank <= $AnnTopK
       |ORDER BY query_id, rank""".stripMargin

  /** ss12: ANN recall@k audit — the measurement layer every ANN
    * deployment runs before trusting an index (FAISS's `eval` loop as an
    * operator): per query, how many of the EXACT top-k (ss1 truncated to
    * the ANN k) each approximate index actually returned. Recall is THE
    * index-tuning signal — nprobe/band/cap knobs move it, and a recall
    * regression after a corpus refresh is how index staleness surfaces.
    * Output: per (index, query) k / hits / recall@k for the LSH (ss2)
    * and IVF (ss3) tiers, so per-query tail behavior (the queries an
    * index FAILS on) is visible, not just the mean — the mean is one
    * aggregate away and the spec asserts it.
    *
    * Exactness: hits are integer set intersections of result lists;
    * recall is one division of exact BIGINTs.
    *
    * Scale: joins RESULT LISTS only (≤ k rows per query per index —
    * ss9's contract); the corpus is touched exactly by the underlying
    * index queries themselves. The exact tier is the audit's cost at
    * 100 TB — run it over a sampled query set (the standard practice:
    * ground truth for 10k queries, not the corpus). */
  def annRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    val exact = knnBruteForce(spark, dir).filter(col("rank") <= AnnTopK)
      .select(col("query_id"), col("neighbor_id"))
    def audit(ann: DataFrame, name: String): DataFrame =
      exact.join(
        ann.select(col("query_id"), col("neighbor_id"), lit(1L).as("hit")),
        Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("hit"), lit(0L))).as("hits"))
        .select(lit(name).as("index_name"), col("query_id"), col("k"),
          col("hits"),
          (col("hits").cast(DoubleType) / col("k").cast(DoubleType)).as("recall"))
    audit(annLsh(spark, dir), "lsh")
      .unionByName(audit(annIvf(spark, dir), "ivf"))
      .orderBy(col("index_name"), col("query_id"))
  }

  val annRecallAuditSql: String =
    s"""WITH e AS (SELECT query_id, neighbor_id FROM ($knnBruteForceSql) x
       |           WHERE rank <= $AnnTopK),
       |l AS (SELECT query_id, neighbor_id FROM ($annLshSql) x),
       |i AS (SELECT query_id, neighbor_id FROM ($annIvfSql) x),
       |rl AS (SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS k,
       |    CAST(SUM(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
       |  FROM e LEFT JOIN l ON e.query_id = l.query_id AND e.neighbor_id = l.neighbor_id
       |  GROUP BY e.query_id),
       |ri AS (SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS k,
       |    CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
       |  FROM e LEFT JOIN i ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
       |  GROUP BY e.query_id)
       |SELECT index_name, query_id, k, hits,
       |  CAST(hits AS DOUBLE) / CAST(k AS DOUBLE) AS recall
       |FROM (
       |  SELECT 'lsh' AS index_name, * FROM rl
       |  UNION ALL
       |  SELECT 'ivf' AS index_name, * FROM ri) u
       |ORDER BY index_name, query_id""".stripMargin

  // ------------------------------------------------ MIPS reduction (ss13)

  /** ss13: maximum-INNER-PRODUCT search via norm augmentation — the
    * reduction (Bachrach et al. 2014, "Speeding Up the Xbox Recommender";
    * Neyshabur & Srebro 2015) that makes every cosine ANN tier in this
    * file serve MIPS, the ranking recommenders and reward models actually
    * need (un-normalized embeddings, where cosine and inner product
    * disagree): corpus x → [x/M ; √(1−‖x/M‖²)] (unit norm by
    * construction, M = max corpus norm), query q → [q ; 0]. Then
    * cos(q′, x′) = (q·x)/(M‖q‖) — a per-query-constant scaling of the
    * inner product, so the cosine RANKING over augmented vectors IS the
    * MIPS ranking. The query computes both rankings exactly — raw-dot
    * top-k and augmented-cosine top-k through the SAME native cosine
    * expression the ANN tiers use — and ships the per-row rank agreement
    * as an output column (all-true at the fixture; the float caveat is
    * that ‖x′‖ re-computes as 1±ε, so equality of ranks is measured, not
    * assumed).
    *
    * Scale: augmentation is scan-side (one broadcast 1-row max-norm
    * aggregate); after it, MIPS inherits every ANN scale path unchanged —
    * IVF cells, PQ codes, SQ8 — because they only ever see unit-sphere
    * cosine. The brute-force twin here is the ss1-shaped proof layer. */
  def mipsAugmented(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    val mF = c.agg(max(Dedup.norm(col("v"))).as("m"))
    val scaled = transform(col("v"), x => x / col("m"))
    val ca = c.crossJoin(mF)
      .select(col("vec_id"), col("v"),
        concat(scaled, array(sqrt(greatest(lit(0.0),
          lit(1.0) - Dedup.dot(scaled, scaled))))).as("va"))
    val qa = queriesDf(spark, dir)
      .select(col("query_id"), col("q"),
        concat(col("q"), array(lit(0.0))).as("qa"))
    val scored = ca.crossJoin(qa)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Dedup.dot(col("q"), col("v")).as("ip"),
        Dedup.cosine(col("qa"), col("va")).as("aug_cos"))
    val wIp = Window.partitionBy(col("query_id"))
      .orderBy(col("ip").desc, col("neighbor_id"))
    val wAug = Window.partitionBy(col("query_id"))
      .orderBy(col("aug_cos").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(wIp).cast(LongType))
      .withColumn("rank_aug", row_number().over(wAug).cast(LongType))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("ip"), col("aug_cos"), (col("rank") === col("rank_aug")).as("agree"))
      .orderBy(col("query_id"), col("rank"))
  }

  val mipsAugmentedSql: String = {
    val dot65 =
      "list_reduce(list_transform(generate_series(1,65), i -> qa[i] * va[i]), (x,y) -> x+y)"
    s"""WITH c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings WHERE vec_id >= $NumQueries),
       |m AS (SELECT max(sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y))) AS m
       |      FROM c),
       |ca AS (SELECT vec_id, v,
       |         list_transform(v, x -> x / m.m) ||
       |           [sqrt(greatest(0.0, 1.0 -
       |              list_reduce(list_transform(list_transform(v, x -> x / m.m),
       |                x -> x*x), (x,y) -> x+y)))] AS va
       |       FROM c, m),
       |q AS (SELECT vec_id AS query_id,
       |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q,
       |        list_transform(embedding, x -> CAST(x AS DOUBLE)) || [0.0] AS qa
       |      FROM embeddings WHERE vec_id < $NumQueries),
       |scored AS (SELECT query_id, vec_id AS neighbor_id,
       |    ${dotSql.format("q", "v")} AS ip,
       |    $dot65
       |      / (sqrt(list_reduce(list_transform(qa, x -> x*x), (x,y) -> x+y))
       |         * sqrt(list_reduce(list_transform(va, x -> x*x), (x,y) -> x+y))) AS aug_cos
       |  FROM ca CROSS JOIN q),
       |rk AS (SELECT query_id, neighbor_id, ip, aug_cos,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ip DESC, neighbor_id) AS rank,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY aug_cos DESC, neighbor_id) AS rank_aug
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id, ip, aug_cos, rank = rank_aug AS agree
       |FROM rk WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin
  }

  // --------------------------------------- cluster quality audit (ss14)

  /** ss14: IVF CLUSTER-QUALITY audit — the SemDeDup/embedding-clustering
    * QA layer: per cell, how tight is it (mean cosine of members to their
    * OWN exemplar) and how close is the nearest competing exemplar (mean
    * second-best cosine) — the exemplar-level silhouette margin that says
    * which cells are trustworthy dedup/sampling units and which need
    * re-training (margin ≈ 0 means members sit on a cell boundary and
    * assignment is effectively arbitrary there — the cells semantic dedup
    * should NOT hard-trust). Both similarities come from the SAME sorted
    * scan-side score array the ss3 assignment uses, so the audit measures
    * exactly the quantizer it audits.
    *
    * Parity: per-vector cosines quantize ONCE to integer micro-units;
    * per-cell means are exact BIGINT sums with one final division.
    *
    * Scale: one corpus scan (the k-exemplar codebook folds in as
    * literals, zero shuffle for scoring) + one cell-keyed combinable
    * rollup of three BIGINTs — the audit costs what one IVF assignment
    * pass costs, regardless of corpus size. */
  def clusterQuality(spark: SparkSession, dir: String): DataFrame = {
    val all = t(spark, dir, "embeddings")
      .filter(col("vec_id") >= NumQueries)
      .select(col("vec_id"), Dedup.vecD(col("embedding")).as("v"))
    val ex = collectedExemplars(exemplarsOf(spark, dir))
    require(ex.length >= 2, "cluster quality needs at least two cells")
    val scored = array(ex.zipWithIndex.map { case ((_, cv), i) =>
      struct((lit(0.0) - Dedup.cosine(col("v"), lit(cv))).as("ns"), lit(i).as("i"))
    }.toIndexedSeq: _*)
    val top2 = slice(array_sort(scored), 1, 2)
    val per = all
      .withColumn("_t", top2)
      .select(
        element_at(lit(ex.map(_._1)),
          element_at(col("_t"), 1).getField("i") + lit(1)).as("cell"),
        round((lit(0.0) - element_at(col("_t"), 1).getField("ns")) *
          lit(1000000.0)).cast(LongType).as("coh_micro"),
        round((lit(0.0) - element_at(col("_t"), 2).getField("ns")) *
          lit(1000000.0)).cast(LongType).as("sep_micro"))
    per.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("coh_micro")).as("sc"), sum(col("sep_micro")).as("ss"))
      .select(col("cell"), col("n_vecs"),
        (col("sc").cast(DoubleType) /
          (lit(1000000.0) * col("n_vecs").cast(DoubleType))).as("cohesion"),
        (col("ss").cast(DoubleType) /
          (lit(1000000.0) * col("n_vecs").cast(DoubleType))).as("separation"),
        ((col("sc") - col("ss")).cast(DoubleType) /
          (lit(1000000.0) * col("n_vecs").cast(DoubleType))).as("margin"))
      .orderBy(col("cell"))
  }

  val clusterQualitySql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings),
       |$exemplarCteSql,
       |ranked AS (SELECT e.vec_id, ex.cell,
       |    CAST(round(${cosSql("e.v", "ex.cv")} * 1000000.0) AS BIGINT) AS s_micro,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e.v", "ex.cv")} DESC, ex.cell) AS rn
       |  FROM e CROSS JOIN ex WHERE e.vec_id >= $NumQueries),
       |own AS (SELECT vec_id, cell, s_micro AS coh FROM ranked WHERE rn = 1),
       |sec AS (SELECT vec_id, s_micro AS sep FROM ranked WHERE rn = 2),
       |per AS (SELECT own.cell, own.coh, sec.sep FROM own JOIN sec USING (vec_id)),
       |agg AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
       |          CAST(SUM(coh) AS BIGINT) AS sc, CAST(SUM(sep) AS BIGINT) AS ss
       |        FROM per GROUP BY cell)
       |SELECT cell, n_vecs,
       |  CAST(sc AS DOUBLE) / (1000000.0 * CAST(n_vecs AS DOUBLE)) AS cohesion,
       |  CAST(ss AS DOUBLE) / (1000000.0 * CAST(n_vecs AS DOUBLE)) AS separation,
       |  CAST(sc - ss AS DOUBLE) / (1000000.0 * CAST(n_vecs AS DOUBLE)) AS margin
       |FROM agg ORDER BY cell""".stripMargin

  // ---------------------------------------- hard-negative mining (ss15)

  /** False-negative guard for [[hardNegativeMining]]: a candidate scoring
    * above this fraction of the query's nearest POSITIVE is presumed an
    * unlabeled positive and excluded (the RocketQA/SBERT denoising rule). */
  private val HardNegMarginFactor = 0.95

  /** ss15: HARD-NEGATIVE mining — the contrastive-training data op
    * (RocketQA, Karpukhin et al. DPR, SBERT mining): for each query, the
    * top-k most-similar corpus vectors with a DIFFERENT label, excluding
    * candidates scoring above 0.95× the query's nearest same-label
    * similarity (near-positive candidates are more likely unlabeled
    * positives than useful negatives — the documented denoising margin).
    * These are the negatives that actually move a contrastive loss;
    * random negatives are trivially separable.
    *
    * Scale: the nearest-positive anchor is one combinable per-query MAX;
    * candidate scoring inherits ss1's broadcast-queries/one-corpus-scan
    * shape here and ss3's IVF composition at scale (mine within probed
    * cells — the label filter composes with ss11's pushed predicate at a
    * label-partitioned lake); ranking is per-query over the margin-
    * filtered shortlist. */
  def hardNegativeMining(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    val c = e.filter(col("vec_id") >= NumQueries)
      .select(col("vec_id"), col("label").as("neighbor_label"),
        Dedup.vecD(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        Dedup.vecD(col("embedding")).as("q"))
    // hint kept (backwards estimate): unhinted, the corpus is broadcast
    val scored = c.crossJoin(broadcast(q))
      .select(col("query_id"), col("q_label"),
        col("vec_id").as("neighbor_id"), col("neighbor_label"),
        Dedup.cosine(col("q"), col("v")).as("cos_sim"))
    val pos = scored.filter(col("neighbor_label") === col("q_label"))
      .groupBy(col("query_id")).agg(max(col("cos_sim")).as("pos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.filter(col("neighbor_label") =!= col("q_label"))
      // hint kept (inflated estimate): unhinted, the join to the per-query MAX sort-merges
      .join(broadcast(pos), "query_id")
      .filter(col("cos_sim") < lit(HardNegMarginFactor) * col("pos_sim"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("neighbor_label"), col("cos_sim"), col("pos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  val hardNegativeMiningSql: String =
    s"""WITH c AS (SELECT vec_id, label AS neighbor_label,
       |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings WHERE vec_id >= $NumQueries),
       |q AS (SELECT vec_id AS query_id, label AS q_label,
       |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q
       |      FROM embeddings WHERE vec_id < $NumQueries),
       |scored AS (SELECT query_id, q_label, vec_id AS neighbor_id,
       |             neighbor_label, ${cosSql("q", "v")} AS cos_sim
       |           FROM c CROSS JOIN q),
       |pos AS (SELECT query_id, max(cos_sim) AS pos_sim FROM scored
       |        WHERE neighbor_label = q_label GROUP BY query_id),
       |neg AS (SELECT s.query_id, s.neighbor_id, s.neighbor_label,
       |          s.cos_sim, p.pos_sim,
       |          ROW_NUMBER() OVER (PARTITION BY s.query_id
       |            ORDER BY s.cos_sim DESC, s.neighbor_id) AS rank
       |        FROM scored s JOIN pos p USING (query_id)
       |        WHERE s.neighbor_label <> s.q_label
       |          AND s.cos_sim < $HardNegMarginFactor * p.pos_sim)
       |SELECT query_id, rank, neighbor_id, neighbor_label, cos_sim, pos_sim
       |FROM neg WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin

  // ------------------------------------------- NN-descent round (ss16)

  /** CORPUS-SCALED build degree: K(n) = clamp(2·⌊log2 n⌋, 8, 20). r12
    * measured the scale failure this exists to fix: the fixed degree-3
    * descent graph served recall@3 = 0.63 at the 500-vector corpus but
    * 0.30 at 2 000 vectors — fixed-degree graphs lose navigability as the
    * corpus grows, the published reason production graph indexes (HNSW,
    * NSG, kgraph) build at K ≈ 20–50. ⌊log2 n⌋ is computed from the BIT
    * LENGTH (63 − nlz(n) here, length(bin(n)) − 1 in the twin) — integer-
    * exact in both engines, where a float log2 could straddle a rounding
    * boundary differently per engine at powers of two. K(1990) = 20,
    * K(490) = 16 on the fixtures. */
  private[graft] def degreeOf(n: Long): Int = degreeOf(n, DegreeCap)

  private[graft] def degreeOf(n: Long, cap: Int): Int =
    math.min(cap, math.max(8, 2 * (63 - java.lang.Long.numberOfLeadingZeros(n))))

  /** The build-degree cap — 64 since r18, so `2·log2 n` is the effective
    * default degree everywhere the fixtures (and any corpus below ~4
    * billion vectors) can reach. The r17 corpus-scale probe (SCALING.md
    * "Graph-serve corpus-scale probe"; its main is kept in git history,
    * `git show 8c8f44f:src/main/scala/graft/GraphServeScaleProbe.scala`)
    * measured the OLD cap of 20 as the BINDING constraint past
    * ~2000 vectors: `min(20, 2·log2 n)` saturates at n ≥ 1024, the graph
    * gets relatively sparser as the corpus grows, and serve recall at the
    * shipped operating point collapsed to 0.300 at 4990 vectors — while
    * the uncapped degree (24 there) restored iso-recall 0.767 at the
    * SHIPPED beam with the LOWEST visited fraction measured (17.7%).
    * Denser graph beats wider frontier, so the default now follows the
    * measurement; 64 is HNSW's published upper build-degree band (M ≤ 64
    * at 1e8+ vectors) and binds only past n ≈ 2^32. Gate corpora (490,
    * 1990) build at 16/20 under EITHER cap — bit-identical oracle
    * builds; the twins render the same `least(64, …)`.
    * [[setDegreeCapOverride]] still lets a deployment — and the specs —
    * PIN a different cap per (session, dir) without touching gated
    * builds (no override ⇒ default behavior). */
  private val DegreeCap = 64

  private val degreeCapOverrides =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Int]

  /** Override the build-degree cap for one (session, dir) — callers must
    * clear the index caches (`Dedup.uncacheShingles`) first if a graph was
    * already built, or the cached build keeps the old degree. PROBE /
    * DEPLOYMENT PINNING ONLY: the SQL twins always render the default
    * `least($DegreeCap, …)`, so an override left set on an oracle-gated
    * dir breaks Spark/DuckDB parity BY DESIGN (the gate would catch it);
    * never set one on a dir a gated query will read. */
  private[graft] def setDegreeCapOverride(spark: SparkSession, dir: String,
                                          cap: Int): Unit =
    degreeCapOverrides.put((spark, dir), cap)

  private[graft] def clearDegreeCapOverride(spark: SparkSession,
                                            dir: String): Unit =
    degreeCapOverrides.remove((spark, dir))

  private def degreeCapFor(spark: SparkSession, dir: String): Int = {
    // sweep overrides of stopped sessions (the SessionCache discipline —
    // r17 ADVICE: this map used to be the one session-keyed store that
    // never evicted)
    degreeCapOverrides.keys.filter(_._1.sparkContext.isStopped)
      .foreach(degreeCapOverrides.remove)
    degreeCapOverrides.getOrElse((spark, dir), DegreeCap)
  }

  /** Corpus sizes, keyed (session, dir) like every other index cache so
    * the staleness contract is uniform: a corpus rewrite under a cached
    * dir serves stale until THIS session's `Dedup.uncacheShingles`, and clearing
    * one session never drops another's counts (r13 ADVICE — the old
    * JVM-global dir-keyed map had both scopes wrong). The count is
    * metadata-only, so per-session recount is one footer read. */
  private val corpusCounts = new SessionCache[Long](_ => ())

  private def corpusCount(spark: SparkSession, dir: String): Long =
    corpusCounts.get(spark, dir)(
      t(spark, dir, "embeddings").filter(col("vec_id") >= NumQueries).count())

  private[graft] def buildDegree(spark: SparkSession, dir: String): Int =
    degreeOf(corpusCount(spark, dir), degreeCapFor(spark, dir))

  /** The twin's rendering of [[buildDegree]]: `deg(k)`. Interpolates
    * [[DegreeCap]] so the engine's default and the twin cannot drift
    * (overrides are never set on gated dirs — see
    * [[setDegreeCapOverride]]). */
  private val degCteSql: String =
    s"""deg AS (SELECT least($DegreeCap, greatest(8,
       |          2 * (length(bin(CAST(count(*) AS BIGINT))) - 1))) AS k
       |        FROM embeddings WHERE vec_id >= $NumQueries)""".stripMargin

  /** Candidate-sampling width for NN-descent: each node contributes only
    * max(4, K/2) hash-chosen undirected neighbors to the 2-hop
    * expansion — Dong et al. 2011 §2.3's ρK sampling at ρ = 0.5 against
    * the 2(K+R) undirected degree, which cuts the dominant candidate
    * volume from |V|·deg² to |V|·(ρK)² (~4×) WITHOUT weakening the
    * monotonicity guarantee, because the full direct neighbor list still
    * enters the candidate set. The sample is ordered by a deterministic
    * per-edge hash (then neighbor_id), so the DuckDB twin mirrors it
    * bit-exactly. */
  private def sampleWidthOf(k: Int): Int = math.max(4, k / 2)

  /** Deterministic random-init partners per node (the paper's random
    * seeding; without them the cell-local seed graph is cell-disconnected
    * and 2-hop exploration can never leave a cell — measured, not
    * assumed). */
  private val DescentRandomR = 2

  /** The descent seed: the in-cell exact kNN graph at corpus-scaled
    * degree over CORPUS nodes only (vec_id ≥ [[NumQueries]] on both edge
    * ends — the descent graph is a corpus INDEX; query vectors are what
    * ss17 serves against it, so they must not join the node set). ss5's
    * fixture-degree-3 graph remains the SemDeDup/dd-family surface; the
    * index build seeds from this scaled variant, same per-cell self-join,
    * deeper keep. Cached per (session, dir) like the ss5 graph. */
  private val seedGraphCache = SessionCache.persisted()

  private[graft] def corpusSeedGraph(spark: SparkSession, dir: String): DataFrame =
    seedGraphCache.get(spark, dir) {
      val k = buildDegree(spark, dir)
      val cells = ivfCells(spark, dir).filter(col("vec_id") >= NumQueries)
      val a = cells.select(col("cell"), col("vec_id").as("src_id"), col("v").as("va"))
      val b = cells.select(col("cell"), col("vec_id").as("neighbor_id"), col("v").as("vb"))
      a.join(b, "cell")
        .filter(col("src_id") =!= col("neighbor_id"))
        .select(col("src_id"), col("neighbor_id"),
          Dedup.cosine(col("va"), col("vb")).as("cos_sim"))
        .groupBy(col("src_id"))
        .agg(graft.functions.TopKByScore.topK(
          col("cos_sim"), col("neighbor_id"), k).as("top"))
        .select(col("src_id"), posexplode(col("top")).as(Seq("pos", "e")))
        .select(col("src_id"), (col("pos") + 1).cast(LongType).as("rank"),
          col("e.id").as("neighbor_id"), col("e.score").as("cos_sim"))
        // pinned: persisted instead, the descent/prune chain paid ~3 s of
        // SF-independent planning on every downstream action
        .transform(GraftCheckpoint.pin)
    }

  /** One sampled NN-descent round over an arbitrary seed edge set
    * (src_id, neighbor_id): undirect the seed plus [[DescentRandomR]]
    * hash-derived random edges, expand 2-hop through the
    * [[sampleWidthOf]]-sampled neighbor lists, exact re-rank, keep the
    * bounded-heap top-[[buildDegree]] (corpus-scaled). `discovered` marks
    * edges absent from the passed seed. Shared by the oracle-gated single
    * round (ss16), the convergence loop ([[knnGraphConverged]]), and the
    * serve path's index build.
    *
    * Scale: candidates are |V|·((ρK)² + 2(K+R)) graph-key rows — joins on
    * vec_id only, payloads untouched; re-rank joins the embeddings scan
    * twice; per-node keep is the O(k)-state bounded-heap aggregate. */
  private[graft] def descentRound(spark: SparkSession, dir: String,
                                    seed: DataFrame): DataFrame = {
    val kDeg = buildDegree(spark, dir)
    val sampK = sampleWidthOf(kDeg)
    val e0 = t(spark, dir, "embeddings").select(col("vec_id"))
    val nF = e0.agg((max(col("vec_id")) + 1L).as("nv"))
    val rnd = e0.filter(col("vec_id") >= NumQueries).crossJoin(nF)
      .select(col("vec_id").as("src_id"),
        explode(array((1 to DescentRandomR).map(j =>
          lit(NumQueries.toLong) +
            pmod(col("vec_id") * lit(1103515245L) + lit(j * 12345L),
              col("nv") - lit(NumQueries.toLong))): _*)).as("neighbor_id"))
      .filter(col("src_id") =!= col("neighbor_id"))
    val gr = seed.union(rnd)
    val und = gr.union(gr.select(col("neighbor_id").as("src_id"),
        col("src_id").as("neighbor_id")))
      .distinct()
    // deterministic sample order: small multiplicative hash, exact in a
    // Double (< 2^31), identical in both engines
    val sampleOrd = (col("src_id") * lit(1000003L) +
      col("neighbor_id") * lit(7919L)) % lit(999983L)
    val samp = und
      .groupBy(col("src_id"))
      .agg(graft.functions.TopKByScore.topK(
        (lit(0L) - sampleOrd).cast(DoubleType), col("neighbor_id"),
        sampK).as("top"))
      .select(col("src_id"), explode(col("top")).as("e"))
      .select(col("src_id"), col("e.id").as("neighbor_id"))
    val twoHop = samp.select(col("src_id"), col("neighbor_id").as("mid"))
      .join(samp.select(col("src_id").as("mid"), col("neighbor_id").as("cand")),
        "mid")
      .select(col("src_id"), col("cand"))
      .filter(col("src_id") =!= col("cand"))
    val cands = und.select(col("src_id"), col("neighbor_id").as("cand"))
      .union(twoHop).distinct()
    val e = t(spark, dir, "embeddings")
      .select(col("vec_id"), Dedup.vecD(col("embedding")).as("v"))
    val scored = cands
      .join(e.select(col("vec_id").as("src_id"), col("v").as("va")), "src_id")
      .join(e.select(col("vec_id").as("cand"), col("v").as("vb")), "cand")
      .select(col("src_id"), col("cand").as("neighbor_id"),
        Dedup.cosine(col("va"), col("vb")).as("cos_sim"))
    val kept = scored.groupBy(col("src_id"))
      .agg(graft.functions.TopKByScore.topK(
        col("cos_sim"), col("neighbor_id"), kDeg).as("top"))
      .select(col("src_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("src_id"), (col("pos") + 1).cast(LongType).as("rank"),
        col("e.id").as("neighbor_id"), col("e.score").as("cos_sim"))
    kept.join(seed.withColumn("seen", lit(true)), Seq("src_id", "neighbor_id"),
        "left")
      .select(col("src_id"), col("rank"), col("neighbor_id"), col("cos_sim"),
        coalesce(!col("seen"), lit(true)).as("discovered"))
  }

  /** The refined descent graph caches per (session, dir) like the ss5
    * seed: ss16 serves it and ss17's graph search reads it as the index.
    * Evicted by `Dedup.uncacheShingles`. */
  private val knnDescentCache = SessionCache.persisted()

  /** ss16: one NN-DESCENT round over the corpus-scaled in-cell seed
    * graph (Dong et al. 2011, "Efficient K-Nearest Neighbor Graph
    * Construction") — the local-search principle behind every graph-ANN
    * index build (NGT, HNSW neighborhoods, kgraph): a neighbor of my
    * neighbor is likely my neighbor, so candidates = the 2-hop
    * neighborhood through SAMPLED neighbor lists ([[sampleWidthOf]]),
    * exact re-rank, keep the new top-[[buildDegree]]. This repairs
    * exactly the blind spot the cell-local seed has: true neighbors that
    * landed in an adjacent IVF cell are unreachable within the cell but
    * reachable through a shared neighbor. Nodes are CORPUS vectors only
    * ([[corpusSeedGraph]]); edges surviving from the seed keep
    * `discovered = false`. Improvement is MONOTONE by construction (the
    * direct neighbor list is in the candidate set, so per-node min
    * similarity can only rise — the spec asserts it). Both degree and
    * sample width scale with the corpus (r12's fixed degree-3 graph is
    * the measured scale failure — see [[degreeOf]]). */
  def knnGraphDescent(spark: SparkSession, dir: String): DataFrame =
    knnDescentCache.get(spark, dir)(
      descentRound(spark, dir,
        corpusSeedGraph(spark, dir).select(col("src_id"), col("neighbor_id")))
        .orderBy(col("src_id"), col("rank")).transform(GraftCheckpoint.pin))

  /** Iterated NN-descent to convergence (Dong et al. 2011's outer loop):
    * repeat [[descentRound]] until the count of changed edges falls to or
    * below delta·|V|·K — the paper's δ termination. Each round is
    * pinned by [[GraftCheckpoint]] (the dd11 iteration discipline: flat
    * lineage, no re-execution of prior rounds), and so is the result: it
    * is an index artifact read by several consumers, and pinned it plans
    * at its measured size rather than the seed join's product estimate.
    * Not oracle-gated — the round count is data-dependent — but
    * spec-pinned (LlmDataSpec): per-node floors monotone across rounds, a
    * fixed point is reached, and one more round past termination changes
    * nothing at delta = 0. `discovered` in the result is relative to the
    * ORIGINAL ss5 corpus seed. */
  def knnGraphConverged(spark: SparkSession, dir: String,
                        maxRounds: Int = 24,
                        delta: Double = 0.0): DataFrame = {
    require(maxRounds >= 1, "knnGraphConverged needs at least one round")
    val nV = t(spark, dir, "embeddings")
      .filter(col("vec_id") >= NumQueries).count()
    val threshold = delta * nV.toDouble * buildDegree(spark, dir)
    val seed0 = corpusSeedGraph(spark, dir)
      .select(col("src_id"), col("neighbor_id"))
    var g = seed0.transform(GraftCheckpoint.pin)
    var full: DataFrame = null
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      val next = descentRound(spark, dir, g)
        .select(col("src_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
        .transform(GraftCheckpoint.pin)
      val edges = next.select(col("src_id"), col("neighbor_id"))
      val updates = edges.except(g).count()
      done = updates <= threshold
      g = edges
      full = next
      round += 1
    }
    full.join(seed0.withColumn("seen", lit(true)), Seq("src_id", "neighbor_id"),
        "left")
      .select(col("src_id"), col("rank"), col("neighbor_id"), col("cos_sim"),
        coalesce(!col("seen"), lit(true)).as("discovered"))
      .orderBy(col("src_id"), col("rank"))
      .transform(GraftCheckpoint.pin)
  }

  /** One descent round's full SQL over an arbitrary seed: `extraCtes`
    * (trailing-comma'd, possibly empty) precede the `g AS ($seedSelect)`
    * seed CTE; the rest of the chain (random partners, undirect, sample,
    * 2-hop, re-rank, keep, `discovered` vs the seed) is shared verbatim
    * between the ss16 single round and the build path's second round —
    * the SQL rendering of [[descentRound]]'s seed parameter. */
  private def descentCoreSqlOver(extraCtes: String, seedSelect: String): String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings),
       |$exemplarCteSql,
       |$degCteSql,
       |${extraCtes}g AS ($seedSelect),
       |n AS (SELECT max(vec_id) + 1 AS nv FROM embeddings),
       |rnd AS (SELECT e0.vec_id AS src_id,
       |          $NumQueries + ((e0.vec_id * 1103515245 + j.j * 12345)
       |              % (n.nv - $NumQueries) + (n.nv - $NumQueries))
       |            % (n.nv - $NumQueries) AS neighbor_id
       |        FROM embeddings e0, n, (SELECT unnest([1, 2]) AS j) j
       |        WHERE e0.vec_id >= $NumQueries
       |          AND $NumQueries + ((e0.vec_id * 1103515245 + j.j * 12345)
       |              % (n.nv - $NumQueries) + (n.nv - $NumQueries))
       |            % (n.nv - $NumQueries) <> e0.vec_id),
       |gr AS (SELECT src_id, neighbor_id FROM g
       |       UNION ALL SELECT src_id, neighbor_id FROM rnd),
       |und AS (SELECT DISTINCT src_id, neighbor_id FROM (
       |          SELECT src_id, neighbor_id FROM gr
       |          UNION ALL
       |          SELECT neighbor_id AS src_id, src_id AS neighbor_id FROM gr)),
       |samp AS (SELECT src_id, neighbor_id FROM (
       |          SELECT src_id, neighbor_id,
       |            ROW_NUMBER() OVER (PARTITION BY src_id
       |              ORDER BY (src_id * 1000003 + neighbor_id * 7919) % 999983,
       |                       neighbor_id) AS rn
       |          FROM und) s WHERE rn <= (SELECT greatest(4, k // 2) FROM deg)),
       |cands AS (SELECT DISTINCT src_id, cand FROM (
       |          SELECT src_id, neighbor_id AS cand FROM und
       |          UNION ALL
       |          SELECT a.src_id, b.neighbor_id AS cand
       |          FROM samp a JOIN samp b ON a.neighbor_id = b.src_id) x
       |        WHERE src_id <> cand),
       |scored AS (SELECT c.src_id, c.cand AS neighbor_id,
       |             ${cosSql("a.v", "b.v")} AS cos_sim
       |           FROM cands c JOIN e a ON a.vec_id = c.src_id
       |                        JOIN e b ON b.vec_id = c.cand),
       |kept AS (SELECT src_id, neighbor_id, cos_sim,
       |           ROW_NUMBER() OVER (PARTITION BY src_id
       |             ORDER BY cos_sim DESC, neighbor_id) AS rank
       |         FROM scored QUALIFY rank <= (SELECT k FROM deg))
       |SELECT k.src_id, k.rank, k.neighbor_id, k.cos_sim,
       |  g.src_id IS NULL AS discovered
       |FROM kept k LEFT JOIN g ON g.src_id = k.src_id
       |  AND g.neighbor_id = k.neighbor_id""".stripMargin

  /** The corpus-only cell-assignment CTE + the in-cell scaled-degree seed
    * select — round 1's seed ([[corpusSeedGraph]]'s twin). */
  private val inCellSeedCtesSql: String =
    s"""caC AS (SELECT vec_id, v, cell FROM (
       |         SELECT e.vec_id, e.v, ex.cell,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosSql("e.v", "ex.cv")} DESC, ex.cell) AS rn
       |         FROM e CROSS JOIN ex WHERE e.vec_id >= $NumQueries) x WHERE rn = 1),
       |""".stripMargin

  private val inCellSeedSelectSql: String =
    s"""SELECT src_id, neighbor_id FROM (
       |        SELECT a.vec_id AS src_id, b.vec_id AS neighbor_id,
       |          ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |            ORDER BY ${cosSql("a.v", "b.v")} DESC, b.vec_id) AS rank
       |        FROM caC a JOIN caC b USING (cell)
       |        WHERE a.vec_id <> b.vec_id) s
       |      WHERE rank <= (SELECT k FROM deg)""".stripMargin

  /** Unordered core of [[knnGraphDescentSql]]: ONE descent round over the
    * corpus-scaled in-cell seed ([[corpusSeedGraph]]). The ss18 build
    * twin runs a SECOND round over this output before pruning. Degree and
    * sample width come from the `deg` scalar CTE ([[degCteSql]] —
    * bit-length, integer-exact). */
  private[llmdata] val knnGraphDescentCoreSql: String =
    descentCoreSqlOver(inCellSeedCtesSql, inCellSeedSelectSql)

  val knnGraphDescentSql: String =
    s"$knnGraphDescentCoreSql\nORDER BY k.src_id, k.rank"

  // --------------------------------- graph edge diversification (ss18)

  /** Pruned serve out-degree R(n) = max(4, K(n)/2): half the build
    * degree, the NSG/HNSW convention (build wide, prune to a sparse
    * navigable graph — R = 10 at the sf0.1 fixture, 8 at sf0.01). */
  private[graft] def pruneDegreeOf(k: Int): Int = math.max(4, k / 2)

  /** NSG/Vamana α for the occlusion rule: occlude c only if a
    * better-ranked b satisfies α·(1 − cos(b,c)) < (1 − cos(u,c)) — the
    * RobustPrune relaxation (Subramanya et al. 2019; α = 1 is exactly
    * the rule this build always ran, cos(b,c) > cos(u,c)). Distance
    * form, not the cosine shorthand: scaling a possibly-negative cosine
    * by α would INVERT the relaxation on obtuse pairs.
    *
    * MEASURED AND PINNED AT 1.0 (r15 verdict task 4 hypothesized α≈1.2;
    * an α sweep at sf0.1 — fresh JVM per α so session caches cannot mix
    * builds, ss17 serve settings fixed — refuted it; SURVEY.md records
    * the run, `git show 8c8f44f:src/main/scala/graft/AlphaProbe.scala`
    * the sweep main):
    *
    *   α        0.7    0.8    0.9    0.95   1.0    1.1    ≥1.2
    *   recall   0.533  0.533  0.533  0.633  0.667  0.567  0.600
    *   divShare 0.12   0.20   0.40   0.58   0.80   0.996  1.00
    *
    * Above 1.1 the batch rule occludes NOTHING (divShare → 1: the
    * "pruned" graph degenerates to rank-truncated kNN, whose clustered
    * edges are the problem diversification exists to fix); below 1.0 the
    * over-pruning the relaxation was meant to correct gets worse. The
    * r15 recall task was closed on the serve side instead — see
    * [[ServeEntries]]' operating-point note. The build and the DuckDB
    * twin both interpolate this constant, so Spark and oracle cannot
    * disagree. */
  private[graft] val DiversifyAlpha = 1.0

  /** The diversified graph caches per (session, dir) alongside the
    * descent graph it prunes. Evicted by `Dedup.uncacheShingles`. */
  private val divGraphCache = SessionCache.persisted()

  /** ss18: EDGE DIVERSIFICATION — the NSG/HNSW edge-selection pass that
    * turns the descent kNN graph into a NAVIGABLE serving graph (Fu et
    * al. 2019 NSG; Malkov & Yashunin 2018 §4's heuristic): a kNN graph's
    * edges all point into the same tight cluster, so greedy search that
    * enters the wrong cluster can never cross; diversification keeps a
    * neighbor only if no better-ranked kept neighbor is closer to it
    * than the node itself is, forcing edges to spread across DIRECTIONS.
    * This is the batch (non-recursive) occlusion rule — c is pruned if
    * ANY better-ranked candidate b has cos(b,c) > cos(u,c) — rather than
    * HNSW's sequential kept-set recursion, because the batch rule is a
    * pure self-join + anti-join the DuckDB twin mirrors bit-exactly
    * (slightly more aggressive pruning, same diversity effect). Occluded
    * edges BACKFILL by rank to the fixed out-degree R (HNSW's
    * keepPrunedConnections), so no node is stranded below degree.
    * `diversified` marks rule-survivors vs backfill.
    *
    * The pruned graph is built from TWO descent rounds (the ss16 round
    * plus one more — a fixed, deterministic count, unlike
    * [[knnGraphConverged]]'s data-dependent loop, so the twin can nest
    * it): the second round measured +0.10–0.20 serve recall at every
    * fixture at identical serve cost — better build quality is the
    * cheapest recall there is, because the build runs once per index
    * while serve pays per query.
    *
    * Scale: the pair scoring is Σ_u K² graph-key rows (K ≤ 20) joined to
    * the embeddings scan by vec_id — linear in |V|, payloads never
    * shuffle; the per-node re-rank window sorts a K-bounded fan-out
    * (bounded by construction, unlike a corpus-wide window). */
  def graphDiversify(spark: SparkSession, dir: String): DataFrame =
    divGraphCache.get(spark, dir) {
      graphDiversifyUncached(spark, dir)
        // pinned for the same planning-cost reason as the seed: this
        // frame is the INDEX ARTIFACT — its consumers (the serve
        // index collect, the battery count, the persisted-index writer)
        // must not re-analyze the whole two-round build per action
        .transform(GraftCheckpoint.pin)
    }

  /** The un-truncated build plan — what the plan-quality pin inspects
    * (the cached artifact is a checkpointed RDD scan with no lineage). */
  private[graft] def graphDiversifyUncached(spark: SparkSession,
                                            dir: String): DataFrame = {
      val r = pruneDegreeOf(buildDegree(spark, dir))
      // NOTE (r16): Vamana-style reverse-edge augmentation before the
      // prune (candidates = g ∪ reverse(g) re-ranked by sim, capped 2K)
      // was prototyped and measured WORSE at sf0.1 — 0.600/0.567/0.600
      // serve recall across α 1.0/1.1/1.2 vs 0.667 without it (the
      // in-degree it balances is already served by the walk's undirected
      // adjacency) — so the build keeps the plain two-round candidates.
      val g = descentRound(spark, dir, knnGraphDescent(spark, dir)
          .select(col("src_id"), col("neighbor_id")))
        .select(col("src_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
      val e = t(spark, dir, "embeddings")
        .select(col("vec_id"), Dedup.vecD(col("embedding")).as("v"))
      val b = g.select(col("src_id"), col("rank").as("b_rank"),
        col("neighbor_id").as("bn"))
      val c = g.select(col("src_id"), col("rank").as("c_rank"),
        col("neighbor_id").as("cn"), col("cos_sim").as("uc_sim"))
      val occ = b.join(c, "src_id").filter(col("b_rank") < col("c_rank"))
        .join(e.select(col("vec_id").as("bn"), col("v").as("vb")), "bn")
        .join(e.select(col("vec_id").as("cn"), col("v").as("vc")), "cn")
        .filter((lit(1.0) - Dedup.cosine(col("vb"), col("vc")))
          * DiversifyAlpha < lit(1.0) - col("uc_sim"))
        .select(col("src_id"), col("cn").as("neighbor_id")).distinct()
      val w = Window.partitionBy(col("src_id"))
        .orderBy(col("diversified").desc, col("rank"))
      g.join(occ.withColumn("occluded", lit(true)),
          Seq("src_id", "neighbor_id"), "left")
        .withColumn("diversified", coalesce(!col("occluded"), lit(true)))
        .withColumn("out_rank", row_number().over(w).cast(LongType))
        .filter(col("out_rank") <= r)
        .select(col("src_id"), col("out_rank"), col("neighbor_id"),
          col("cos_sim"), col("diversified"))
        .orderBy(col("src_id"), col("out_rank"))
  }

  /** Unordered core of [[graphDiversifySql]] — the serve twins embed it
    * whole as their adjacency CTE. `gd1` is the ss16 single round; `gd`
    * is the second descent round over it (the build path's two-round
    * refinement — see [[graphDiversify]]); the prune runs over `gd`. */
  private[llmdata] val graphDiversifyCoreSql: String =
    s"""WITH gd1 AS MATERIALIZED ($knnGraphDescentCoreSql),
       |gd AS MATERIALIZED (${descentCoreSqlOver("",
             "SELECT src_id, neighbor_id FROM gd1")}),
       |eD AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |       FROM embeddings),
       |dg AS (SELECT least($DegreeCap, greatest(8,
       |          2 * (length(bin(CAST(count(*) AS BIGINT))) - 1))) AS k
       |       FROM embeddings WHERE vec_id >= $NumQueries),
       |occ AS (SELECT DISTINCT b.src_id, c.neighbor_id
       |        FROM gd b JOIN gd c ON b.src_id = c.src_id AND b.rank < c.rank
       |        JOIN eD vb ON vb.vec_id = b.neighbor_id
       |        JOIN eD vc ON vc.vec_id = c.neighbor_id
       |        WHERE (1.0 - (${cosSql("vb.v", "vc.v")})) * $DiversifyAlpha
       |          < 1.0 - c.cos_sim),
       |flagged AS (SELECT g.src_id, g.rank, g.neighbor_id, g.cos_sim,
       |              o.src_id IS NULL AS diversified
       |            FROM gd g LEFT JOIN occ o ON o.src_id = g.src_id
       |              AND o.neighbor_id = g.neighbor_id)
       |SELECT src_id, out_rank, neighbor_id, cos_sim, diversified FROM (
       |  SELECT src_id, rank, neighbor_id, cos_sim, diversified,
       |    ROW_NUMBER() OVER (PARTITION BY src_id
       |      ORDER BY diversified DESC, rank) AS out_rank
       |  FROM flagged) x
       |WHERE out_rank <= (SELECT greatest(4, k // 2) FROM dg)""".stripMargin

  val graphDiversifySql: String =
    s"$graphDiversifyCoreSql\nORDER BY src_id, out_rank"

  // ---------------------------------------------- graph-ANN serve (ss17)

  /** Serve beam width: at each hop only the [[ServeBeam]] best NEW nodes
    * per query stay on the frontier (the bounded frontier of best-first
    * search / HNSW's ef parameter).
    *
    * Deliberately CONSTANT in corpus size, unlike the two budgets that do
    * scale ([[degreeOf]], [[serveHopsOf]]), because the r17 corpus-scale
    * probe measured it: once build degree follows 2·log2 n (see
    * [[degreeOf]]), beam 9 holds the iso-recall band at every corpus size
    * probed (0.833 @ 490/deg 16, 0.800 @ 1990/deg 20, 0.767 @ 4990/deg 24
    * — SCALING.md part 2), and the iso-recall visited fraction FALLS
    * monotonically (59.6% → 23.3% → 17.7%). The cap-20 retune grid shows
    * the counterfactual: with degree frozen the beam must grow ~linearly
    * in n/2^10 (beam 24 × entries 8 at 4990) and the visited fraction
    * plateaus at ~23% instead of falling — i.e. beam-widening is the
    * EXPENSIVE substitute for the degree the build should have had.
    * Spec-pinned with the (degree, beam, hops) triple at the probe
    * corpora (LlmDataSpec).
    *
    * SCALE BOUND (decision): the walk searches a driver-built
    * [[ServeIndex]] — the undirected adjacency and every node's vector,
    * shipped with the plan as a literal — so the index is O(corpus) in the
    * driver heap and in each stage's task binary: at most 8·dim + 16·R
    * bytes per node for stored out-degree R, 1.3 MB at sf0.1's 1 990
    * vectors (SCALING.md). Past a few hundred MB the corpus outgrows this
    * posture and needs a partition-local index per corpus shard instead;
    * per-query work stays O(hops·beam·degree) either way. */
  private[graft] val ServeBeam = 9

  /** Serve hop budget scales with the corpus, with a MEASURED knee at
    * n = 2048: hops(n) = ⌊log2 n⌋ − 4 below it (4 at the 490-vector
    * fixtures, 6 at 1 990 — the gate-pinned slope the ss19 sweep set)
    * and ⌊log2 n⌋ − 2 above (10 at the probe's 4990, 11 at 9990),
    * clamped to [2, [[ServeHopsCap]]]. A FIXED depth cannot satisfy
    * both ends: the depth that reaches the recall band at 2 000 vectors
    * walks half of a 500-vector corpus (ss19 sweep — the serve-effort
    * analogue of the [[degreeOf]] lesson). The knee is r18's probe
    * finding: at the −4 slope the 4990-vector corpus serves 0.667 at
    * its scaled 8 hops even on the degree-24 graph, while −2 (10 hops)
    * restores the 0.77 band at 17.7% visited — and the same slope holds
    * at 9990 (11 hops, 0.767 at 10.0% visited). 2048 is where the OLD
    * degree cap saturated: past it the
    * per-hop similarity gain flattens (degree grows only with log n
    * while cluster diameters keep growing in the mixture geometry), so
    * the walk needs proportionally more hops per octave. Work per query
    * stays O(hops·beam·degree) — logarithmic in corpus size, which is
    * the entire point of paying for the graph build. */
  private[graft] def serveHopsOf(n: Long): Int = {
    val lg = 63 - java.lang.Long.numberOfLeadingZeros(n)
    math.min(ServeHopsCap, math.max(2, lg - (if (n < 2048L) 4 else 2)))
  }

  /** Engine-side hop-budget safety cap (binds only past n = 2^16
    * vectors; a deployment at 1e8+ vectors raises it with the twin
    * unroll — HNSW walks ~log n hops there too). Distinct from
    * [[MaxServeHops]] since r18: the scaled hop count must keep growing
    * past the gate corpora (the 4990-vector probe needs 8 hops at the
    * shipped beam) without forcing the SQL twins to unroll deeper. */
  private val ServeHopsCap = 12

  /** The twin's static unrolled hop depth (and the ss19 sweep's measured
    * depth). Covers every corpus the oracle gate runs (hops(n) ≤ 6 ⇔
    * n < 2^11 = 2048; the fixtures are 490 and 1990): beyond the scaled
    * count the unrolled hops are data-gated no-ops in the twin. A twin
    * gating a corpus past 2048 vectors must raise this together with
    * re-timing — the ENGINE's serve keeps scaling to [[ServeHopsCap]]
    * regardless, which is the production behavior the r17 probe
    * validated. ENFORCED since r19: the gated builders throw when the
    * scaled budgets outgrow this unroll (see `gatedGraph`), so a larger
    * gate fixture fails loudly at the formula, not as a hash mismatch. */
  private val MaxServeHops = 6

  /** Entry-point fan-out: the traversal starts from the
    * [[ServeEntries]] nearest corpus exemplars (multiple entries hedge
    * against a bad region of the graph — HNSW's multi-entry / NSG's
    * navigating-node analogue).
    *
    * OPERATING POINT (r16 decision — the r15 verdict's task 4, chased
    * through three measured levers at sf0.1, corpus 1 990, 25% visited
    * budget = 497):
    *
    *  1. BUILD-side α-relaxed occlusion (the verdict's published lever,
    *     [[DiversifyAlpha]]): recall is MAXIMAL at α = 1.0 — 0.667,
    *     degrading both ways (0.633 at 0.95, 0.533 at 0.9, 0.600 at
    *     ≥1.1 where occlusion vanishes). Rejected by measurement.
    *  2. BUILD-side reverse-edge (Vamana backward-edge) augmentation
    *     before the prune: 0.600/0.567/0.600 at α 1.0/1.1/1.2 — below
    *     the 0.667 baseline. Rejected by measurement.
    *  3. SERVE-side depth+width (the r14 sweep's own conclusion that
    *     hop DEPTH is the recall lever at this scale, taken further):
    *     at the old (8, 3), hops 5/6/7 read 0.700/0.733/0.733 — a
    *     0.733 plateau under the budget line. The (beam, entries) grid
    *     at depth 6: (8,4) 0.800 @ 25.3%, (10,3) 0.833 @ 26.8%,
    *     (9,3) 0.867 @ 25.1% — all over budget — and
    *     **(9, 2, 6 hops) = recall@3 0.800 at 463.5 mean / 480 max
    *     visited (23.3% / 24.1%)** — the 0.8 band inside the budget.
    *
    * So the published point is (beam 9, entries 2) with
    * [[serveHopsOf]]'s slope moved −6 → −4 (6 hops at 1 990, 4 at the
    * 490-vector spec fixtures): +0.133 recall for +43% visited work,
    * bought with depth+width at one FEWER entry — the two entries the
    * walk keeps are the ones it actually expands, and the third was
    * pure visited cost at this corpus. ss19's sweep carries the
    * operating point and its rejected neighbors under the oracle
    * gate.
    *
    * CONSTANT in corpus size since r19, like the beam and for the same
    * reason: the sharper 30-query probe fixture (granularity 0.011)
    * measured the entries ladder FLAT at both post-knee corpora —
    * 9990: entries 2/3/4/5 read 0.744/0.744/0.767/0.711; 19990: entries
    * 2/4/5/6/8 read 0.767/0.778/0.767/0.778/0.778 — every step within
    * ~2 pairs (≈1σ of a 90-pair binomial), while visited cost rises
    * monotonically (5.58% → 6.40% across the 19990 ladder). r18's
    * +2-per-octave slope past 8192 (anchored on 2 → 0.600 at 9990) was
    * an artifact of the 10-query instrument's 0.033 granularity and is
    * corrected in print (SCALING.md part 5); the codebook-dilution
    * mechanism it assumed is real geometry but its recall effect at
    * these scales is below measurement noise, and the walk's OWN hops ×
    * beam budget dominates entry placement once the build degree scales
    * (2·log2 n — the r18 finding this one rhymes with: budget belongs
    * in the structure, not the frontier). */
  private[graft] val ServeEntries = 2

  /** The serve index per (session, dir): the ss18 diversified graph and
    * the corpus vectors, collected once (see [[ServeIndex]]); ss21 adds
    * the same graph over the dequantized SQ8 codes under `dir#sq`. It IS
    * the index artifact the search walks, so each query batch must not
    * re-collect it. */
  private val serveIndexCache = new SessionCache[ServeIndex](_ => ())

  private def serveIndex(spark: SparkSession, dir: String): ServeIndex =
    serveIndexCache.get(spark, dir)(
      serveIndexOf(graphDiversify(spark, dir), corpus(spark, dir)))

  /** ss17: GRAPH-ANN SERVE — greedy best-first search over the cached
    * DIVERSIFIED graph (ss18 — the HNSW/NSG serving path that makes the
    * graph build pay rent): enter at the nearest corpus exemplar (the
    * IVF medoid), repeatedly expand the frontier's undirected neighbors,
    * score only UNVISITED nodes, keep the best [[ServeBeam]] as the next
    * frontier, and after [[serveHopsOf]] corpus-scaled hops exact-re-rank the full
    * visited set for the top-[[AnnTopK]]. Recall is measured IN-BAND (the
    * ss12 pattern): `in_exact` flags each served neighbor against the
    * exact brute-force top-k, and `visited_count` exposes the bounded
    * work, both under the oracle hash gate. Serving over the PRUNED
    * graph, not the raw descent kNN graph, is the r12→r13 fix: the kNN
    * graph's edges all point into one tight cluster, so its recall
    * HALVED when the corpus 4×ed (0.63 → 0.30); the corpus-scaled
    * diversified graph is the published cure.
    *
    * Scale: the walk is one [[ServeWalk]] call per query over the
    * driver-built [[ServeIndex]] — per query O(hops·beam·degree) scored
    * nodes, NOT a corpus scan; the index itself is O(corpus) (see
    * [[ServeBeam]]); the result keep is the O(k) bounded-heap aggregate.
    * The exact-recall join is the audit tier (one corpus scan, same as
    * ss1) — drop it in production serving and no full scan remains. */
  def graphServe(spark: SparkSession, dir: String): DataFrame =
    serveResult(spark, dir, standardVisited(spark, dir))

  /** One (beam, entries) walk's visited rows to [[MaxServeHops]] depth,
    * or to the corpus-scaled depth where that is deeper (past 2048
    * vectors hops keep scaling beyond the twin unroll, see
    * [[ServeHopsCap]]): ss17 and ss20 read the standard setting to
    * [[serveHopsOf]], ss19 every swept setting at each depth
    * 1..[[MaxServeHops]].
    *
    * Cached per (session, dir, setting) as driver-local rows (at most
    * queries × hops·beam·degree of them). Re-running the walk on every
    * serve pass measured ss20 at 1.49 s `battery.ss.wall_s` against 0.86 s
    * for the hop-unrolled walk's cached pieces (perfbench `--trace 1`, 4
    * cores). A persisted frame is no cheaper: its lineage carries the
    * [[ServeIndex]] literal into the task binary of every stage that
    * reads it. */
  private val visitedCache = new SessionCache[DataFrame](_ => ())

  private def serveVisited(spark: SparkSession, dir: String,
                           beam: Int, entries: Int): DataFrame =
    visitedCache.get(spark, s"$dir#b${beam}e$entries") {
      val v = serveSearch(queriesDf(spark, dir),
        exemplarsOf(spark, dir).filter(col("cell") >= NumQueries),
        serveIndex(spark, dir), beam, entries,
        math.max(MaxServeHops, serveHops(spark, dir)))
      spark.createDataFrame(java.util.Arrays.asList(v.collect(): _*), v.schema)
    }

  private def standardVisited(spark: SparkSession, dir: String): DataFrame =
    serveVisited(spark, dir, ServeBeam, ServeEntries)
      .filter(col("hop") <= serveHops(spark, dir))

  private def serveHops(spark: SparkSession, dir: String): Int =
    serveHopsOf(corpusCount(spark, dir))

  /** A cosine-scored [[ServeIndex]] over directed (src_id, neighbor_id)
    * `edges` and (id, vector) rows, both collected to the driver. */
  private[graft] def serveIndexOf(edges: DataFrame, vectors: DataFrame): ServeIndex =
    ServeIndex.build(
      edges.select(col("src_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))),
      collectVectors(vectors), cosine = true)

  private def collectVectors(vectors: DataFrame): Seq[(Long, Array[Double])] =
    vectors.collect().toSeq.map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  /** Serve over an arbitrary edge set — the convergence spec passes
    * [[knnGraphConverged]]'s edges here; [[graphServe]] itself goes
    * through the cached index. */
  private[graft] def graphServeOver(spark: SparkSession, dir: String,
                                    edges: DataFrame,
                                    beam: Int = ServeBeam,
                                    hops: Int = -1,
                                    entries: Int = ServeEntries): DataFrame =
    serveResult(spark, dir,
      serveSearch(queriesDf(spark, dir),
        exemplarsOf(spark, dir).filter(col("cell") >= NumQueries),
        serveIndexOf(edges, corpus(spark, dir)), beam, entries,
        if (hops > 0) hops else serveHops(spark, dir)))

  /** Persist the DIVERSIFIED serving graph as parquet — the graph-index
    * artifact a deployment builds once (descent + ss18 prune, optionally
    * iterated to convergence first) and ships to every serving cluster
    * (the ss7 `write_index` posture; NSG likewise ships the pruned
    * graph, not the raw kNN graph). Stored directed with out-ranks /
    * similarities / the diversified flag so a cold reader can also audit
    * or re-prune from it. */
  def writeKnnGraphIndex(spark: SparkSession, dir: String, out: String): Unit =
    graphDiversify(spark, dir).write.mode("overwrite").parquet(s"$out/graph")

  /** ss17's search served COLD from a persisted graph (see
    * [[writeKnnGraphIndex]]): adjacency comes from the stored artifact —
    * no seed build, no descent round, no prune. Row-identical to
    * [[graphServe]] (spec-asserted). The exact-recall audit column still
    * reads the live corpus, as in ss7's refine stage. */
  def graphServeFromIndex(spark: SparkSession, dir: String,
                          indexPath: String): DataFrame = {
    val stored = spark.read.parquet(s"$indexPath/graph")
    // a batch_id column marks AnnIngest's versioned delta-log layout:
    // per src_id the highest COMMITTED version's list is the serving
    // adjacency (bounded by the /vectors commit marker, so a torn
    // mid-upsert /graph partition never serves)
    val current =
      if (stored.columns.contains("batch_id"))
        graft.streaming.AnnIngest.latestGraph(spark, indexPath)
      else stored
    graphServeOver(spark, dir, current)
  }

  /** The search over ARBITRARY (query_id, q) query, (cell, cv) entry and
    * index inputs — the serve path above binds the fixture tables;
    * [[graft.streaming.AnnIngest]] binds a persisted index's vector store
    * with NEW vectors as queries (the HNSW insert primitive: an insert IS
    * a search for the insertion neighborhood). The entries are each
    * query's `entries` nearest cells by exact cosine (score desc, then
    * cell), as in the twin's v0. */
  private[graft] def serveSearch(q: DataFrame, ex: DataFrame, index: ServeIndex,
                                 beam: Int, entries: Int, hops: Int): DataFrame = {
    val entW = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("node_id"))
    val entry = q.crossJoin(ex)
      .select(col("query_id"), col("cell").as("node_id"),
        Dedup.cosine(col("q"), col("cv")).as("score"))
      .withColumn("rn", row_number().over(entW))
      .filter(col("rn") <= entries).drop("rn")
    beamSearch(q, entry, index, beam, hops)
  }

  /** The walk itself, scorer-agnostic: the index scores candidates by
    * exact cosine (ss17/ss19/ss20, inserts) or by the dot against SQ8
    * codes (ss21). Takes (query_id, node_id, score) entries and
    * (query_id, q) queries, and returns every node the walk scores as
    * (query_id, node_id, score, hop), the entries at hop 0: the visited
    * set after hop h is the rows with `hop <= h`. One [[ServeWalk]] call
    * per query row — no per-hop job, no pinned piece. */
  private def beamSearch(q: DataFrame, entry: DataFrame, index: ServeIndex,
                         beam: Int, hops: Int): DataFrame =
    entry.groupBy(col("query_id"))
      .agg(collect_list(struct(col("node_id"), col("score"))).as("entries"))
      .join(q, "query_id")
      .select(col("query_id"), explode(ServeWalk.visited(col("q"),
        col("entries"), index, beam, hops)).as("w"))
      .select(col("query_id"), col("w.node_id"), col("w.score"), col("w.hop"))

  private def serveResult(spark: SparkSession, dir: String,
                          visited: DataFrame): DataFrame = {
    val vis = visited.groupBy(col("query_id"))
      .agg(count(lit(1)).as("visited_count"))
    val res = visited.groupBy(col("query_id"))
      .agg(graft.functions.TopKByScore.topK(
        col("score"), col("node_id"), AnnTopK).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("query_id"), (col("pos") + 1).cast(LongType).as("rank"),
        col("e.id").as("neighbor_id"), col("e.score").as("cos_sim"))
    val exact = knnBruteForce(spark, dir).filter(col("rank") <= AnnTopK)
      .select(col("query_id"), col("neighbor_id"), lit(true).as("hit"))
    res.join(exact, Seq("query_id", "neighbor_id"), "left")
      .join(vis, "query_id")
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cos_sim"), coalesce(col("hit"), lit(false)).as("in_exact"),
        col("visited_count"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Shared serve-twin CTEs: the diversified adjacency (embedding the
    * whole ss18 core), corpus/query vectors, corpus exemplars, and the
    * exact top-k audit set. Referenced by the ss17 chain and every ss19
    * sweep chain. */
  private def serveSharedCtesSql: String =
    s"""gdv AS MATERIALIZED ($graphDiversifyCoreSql),
       |und2 AS MATERIALIZED (SELECT DISTINCT src_id, neighbor_id FROM (
       |          SELECT src_id, neighbor_id FROM gdv
       |          UNION ALL
       |          SELECT neighbor_id AS src_id, src_id AS neighbor_id FROM gdv)),
       |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |      FROM embeddings),
       |eC AS (SELECT vec_id, v FROM e WHERE vec_id >= $NumQueries),
       |qv AS (SELECT vec_id AS query_id, v AS q FROM e
       |       WHERE vec_id < $NumQueries),
       |$exemplarCteSql,
       |exC AS (SELECT cell, cv FROM ex WHERE cell >= $NumQueries),
       |ek AS (SELECT query_id, neighbor_id FROM (
       |         SELECT q.query_id, e.vec_id AS neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY q.query_id
       |             ORDER BY ${cosSql("q.q", "e.v")} DESC, e.vec_id) AS rn
       |         FROM eC e CROSS JOIN qv q) z WHERE rn <= $AnnTopK)""".stripMargin

  /** One serve traversal's CTE chain at (beam, entries) to `hops` depth,
    * prefix-named so the sweep twin can stack several chains over the
    * shared CTEs — the SQL unroll of [[ServeWalk]]'s loop. `gate(h)`
    * injects an extra per-hop candidate predicate: the ss17 twin gates
    * hop h on the data-computed scaled depth (hops beyond it produce
    * empty candidate sets, so v_h stalls at v_{hops(n)} — a static
    * unroll serving a data-dependent depth). */
  private val exactHopScoreSql: String => String = cands =>
    s"""SELECT c.query_id, c.node_id, ${cosSql("q.q", "e.v")} AS score
       |        FROM $cands c JOIN eC e ON e.vec_id = c.node_id
       |                   JOIN qv q ON q.query_id = c.query_id""".stripMargin

  private def serveChainSql(p: String, beam: Int, entries: Int,
                            hops: Int,
                            gate: Int => String = _ => "",
                            scoreSql: String => String = null): String = {
    val scorer = Option(scoreSql).getOrElse(exactHopScoreSql)
    val head =
      s"""${p}v0 AS MATERIALIZED (SELECT query_id, node_id, score FROM (
         |         SELECT q.query_id, x.cell AS node_id,
         |           ${cosSql("q.q", "x.cv")} AS score,
         |           ROW_NUMBER() OVER (PARTITION BY q.query_id
         |             ORDER BY ${cosSql("q.q", "x.cv")} DESC, x.cell) AS rn
         |         FROM qv q CROSS JOIN exC x) y WHERE rn <= $entries),
         |${p}f0 AS (SELECT query_id, node_id FROM ${p}v0)""".stripMargin
    head + ",\n" + serveChainHopsSql(p, beam, hops, gate, scorer)
  }

  /** The hop CTEs alone (no v0/f0 head) — the ss21 twin supplies its own
    * ADC-scored entry CTEs and appends this chain. */
  private def serveChainHopsSql(p: String, beam: Int, hops: Int,
                                gate: Int => String,
                                scorer: String => String): String =
    (1 to hops).map { h =>
      val pv = s"${p}v${h - 1}"
      val pf = s"${p}f${h - 1}"
      s"""${p}c$h AS (SELECT DISTINCT f.query_id, u.neighbor_id AS node_id
         |        FROM $pf f JOIN und2 u ON u.src_id = f.node_id
         |        WHERE NOT EXISTS (SELECT 1 FROM $pv v
         |          WHERE v.query_id = f.query_id AND v.node_id = u.neighbor_id)${gate(h)}),
         |${p}s$h AS MATERIALIZED (
         |        ${scorer(s"${p}c$h")}),
         |${p}v$h AS MATERIALIZED (
         |        SELECT query_id, node_id, score FROM $pv
         |        UNION ALL SELECT query_id, node_id, score FROM ${p}s$h),
         |${p}f$h AS (SELECT query_id, node_id FROM (
         |          SELECT query_id, node_id,
         |            ROW_NUMBER() OVER (PARTITION BY query_id
         |              ORDER BY score DESC, node_id) AS rn
         |          FROM ${p}s$h) x WHERE rn <= $beam)""".stripMargin
    }.mkString(",\n")

  val graphServeSql: String =
    s"""WITH $serveSharedCtesSql,
       |hcfg AS (SELECT least($MaxServeHops, greatest(2,
       |           (length(bin(CAST(count(*) AS BIGINT))) - 1) - 4)) AS h
       |         FROM embeddings WHERE vec_id >= $NumQueries),
       |${serveChainSql("", ServeBeam, ServeEntries, MaxServeHops,
             h => s"\n          AND $h <= (SELECT h FROM hcfg)")},
       |vis AS (SELECT query_id, CAST(count(*) AS BIGINT) AS visited_count
       |        FROM v$MaxServeHops GROUP BY query_id),
       |res AS (SELECT query_id, node_id AS neighbor_id, score AS cos_sim,
       |          ROW_NUMBER() OVER (PARTITION BY query_id
       |            ORDER BY score DESC, node_id) AS rank
       |        FROM v$MaxServeHops QUALIFY rank <= $AnnTopK)
       |SELECT r.query_id, r.rank, r.neighbor_id, r.cos_sim,
       |  k.neighbor_id IS NOT NULL AS in_exact, vis.visited_count
       |FROM res r LEFT JOIN ek k ON k.query_id = r.query_id
       |  AND k.neighbor_id = r.neighbor_id
       |JOIN vis ON vis.query_id = r.query_id
       |ORDER BY r.query_id, r.rank""".stripMargin

  // ------------ compressed-scored graph serve, exact refine (ss21)

  /** Walk-stage shortlist width per query for the exact refine — the
    * DiskANN `L`-list analogue: the code-scored visited set keeps its
    * top-[[DiskRefineR]]; only those rows ever touch full-precision
    * vectors. */
  private val DiskRefineR = 10

  /** ss21: COMPRESSED-SCORED GRAPH SERVE WITH EXACT REFINE — the DiskANN
    * memory-hierarchy split (Jayaram Subramanya et al. 2019) on the ss18
    * graph: walk exactly like ss17, but score every candidate (entries
    * included) against the SQ8-dequantized code table (ss8's index — 64
    * bytes/vector instead of 512) and exact-rescore only the walk's
    * top-[[DiskRefineR]], ranking the final top-k by TRUE cosine. The
    * split is what lets a graph index serve a corpus that outweighs RAM:
    * the walk touches the graph (keys) and the compact codes (RAM tier);
    * full-precision vectors (the disk tier) are read for R rows per
    * query, never per hop. SQ8, not PQ, guides the walk deliberately:
    * the fixture's 16-entry shared PQ codebook mis-ranks neighborhoods
    * badly enough to strand the frontier (measured: walk-coverage recall
    * ceiling 0.43, served 0.20 — ss6 needs its R=30 full-corpus refine
    * for the same reason), while the 8-bit-per-dimension scalar codes
    * preserve the ordering the greedy walk needs at an 8× bandwidth cut.
    * `in_exact` audits against the exact brute-force top-k;
    * `visited_count` is the walk's bounded work.
    *
    * Parity: quantize/dequantize are the ss8 formulas verbatim; scores
    * are index-ordered dot folds; the walk's keep decisions compare
    * bit-identical doubles in both engines. */
  def graphServeSq(spark: SparkSession, dir: String): DataFrame = {
    val xq = transform(sequence(lit(1), lit(VecDim)), i =>
      element_at(col("lo"), i) + element_at(col("codes"), i).cast(DoubleType) *
        ((element_at(col("hi"), i) - element_at(col("lo"), i)) / SqLevels))
    val decoded = sqIndex(spark, dir)
      .select(col("neighbor_id").as("node_id"), xq.as("xq"))
    val q = queriesDf(spark, dir)
    val entW = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("node_id"))
    val exCells = exemplarsOf(spark, dir).filter(col("cell") >= NumQueries)
      .select(col("cell").as("node_id"))
    val entry = q.crossJoin(exCells).join(decoded, "node_id")
      .select(col("query_id"), col("node_id"),
        graft.functions.VectorFunctions.dotProduct(col("q"), col("xq"))
          .as("score"))
      .withColumn("rn", row_number().over(entW))
      .filter(col("rn") <= ServeEntries).drop("rn")
    // the walk scores against the same graph's dequantized codes: one
    // collect per (session, dir), like ss17's index
    val index = serveIndexCache.get(spark, s"$dir#sq")(
      serveIndex(spark, dir).withVectors(collectVectors(decoded), cosine = false))
    val visited = beamSearch(q, entry, index, ServeBeam, serveHops(spark, dir))
    val vis = visited.groupBy(col("query_id"))
      .agg(count(lit(1)).as("visited_count"))
    val short = visited.groupBy(col("query_id"))
      .agg(graft.functions.TopKByScore.topK(
        col("score"), col("node_id"), DiskRefineR).as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e.id").as("neighbor_id"),
        col("e.score").as("approx_score"))
    val wExact = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    val res = short
      .join(corpus(spark, dir).select(col("vec_id").as("neighbor_id"), col("v")),
        "neighbor_id")
      .join(q, "query_id")
      .withColumn("cos_sim", Dedup.cosine(col("q"), col("v")))
      .withColumn("rank", row_number().over(wExact).cast(LongType))
      .filter(col("rank") <= AnnTopK)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("approx_score"), col("cos_sim"))
    val exact = knnBruteForce(spark, dir).filter(col("rank") <= AnnTopK)
      .select(col("query_id"), col("neighbor_id"), lit(true).as("hit"))
    res.join(exact, Seq("query_id", "neighbor_id"), "left")
      .join(vis, "query_id")
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("approx_score"), col("cos_sim"),
        coalesce(col("hit"), lit(false)).as("in_exact"),
        col("visited_count"))
      .orderBy(col("query_id"), col("rank"))
  }

  val graphServeSqSql: String = {
    val sqScoreBody: String => String = cands =>
      s"""SELECT c.query_id, c.node_id, ${dotSql.format("q.q", "x.xq")} AS score
         |        FROM $cands c JOIN sxq x ON x.vec_id = c.node_id
         |                   JOIN qv q ON q.query_id = c.query_id""".stripMargin
    s"""WITH $serveSharedCtesSql,
       |sds AS (SELECT unnest(generate_series(1, $VecDim)) AS d),
       |sb AS (SELECT d, min(v[d]) AS lo, max(v[d]) AS hi
       |       FROM eC CROSS JOIN sds GROUP BY d),
       |senc AS (SELECT eC.vec_id, sb.d,
       |    CASE WHEN sb.hi = sb.lo THEN 0
       |         ELSE floor((eC.v[sb.d] - sb.lo) / (sb.hi - sb.lo) * $SqLevels + 0.5) END
       |      AS code, sb.lo, sb.hi
       |  FROM eC CROSS JOIN sb),
       |sxq AS MATERIALIZED (SELECT vec_id,
       |          list(lo + code * ((hi - lo) / $SqLevels) ORDER BY d) AS xq
       |        FROM senc GROUP BY vec_id),
       |hcfg AS (SELECT least($MaxServeHops, greatest(2,
       |           (length(bin(CAST(count(*) AS BIGINT))) - 1) - 4)) AS h
       |         FROM embeddings WHERE vec_id >= $NumQueries),
       |p0v0 AS MATERIALIZED (SELECT query_id, node_id, score FROM (
       |         SELECT q.query_id, xc.cell AS node_id,
       |           ${dotSql.format("q.q", "x.xq")} AS score,
       |           ROW_NUMBER() OVER (PARTITION BY q.query_id
       |             ORDER BY ${dotSql.format("q.q", "x.xq")} DESC, xc.cell) AS rn
       |         FROM qv q CROSS JOIN exC xc
       |         JOIN sxq x ON x.vec_id = xc.cell) y WHERE rn <= $ServeEntries),
       |p0f0 AS (SELECT query_id, node_id FROM p0v0),
       |${serveChainHopsSql("p0", ServeBeam, MaxServeHops,
             h => s"\n          AND $h <= (SELECT h FROM hcfg)",
             sqScoreBody)},
       |vis AS (SELECT query_id, CAST(count(*) AS BIGINT) AS visited_count
       |        FROM p0v$MaxServeHops GROUP BY query_id),
       |short AS (SELECT query_id, node_id AS neighbor_id, score AS approx_score
       |          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |              ORDER BY score DESC, node_id) AS arank
       |            FROM p0v$MaxServeHops) x WHERE arank <= $DiskRefineR),
       |res AS (SELECT query_id, neighbor_id, approx_score, cos_sim,
       |          ROW_NUMBER() OVER (PARTITION BY query_id
       |            ORDER BY cos_sim DESC, neighbor_id) AS rank
       |        FROM (SELECT s.query_id, s.neighbor_id, s.approx_score,
       |                ${cosSql("q.q", "c.v")} AS cos_sim
       |              FROM short s JOIN eC c ON c.vec_id = s.neighbor_id
       |                           JOIN qv q ON q.query_id = s.query_id) r0
       |        QUALIFY rank <= $AnnTopK)
       |SELECT r.query_id, r.rank, r.neighbor_id, r.approx_score, r.cos_sim,
       |  k.neighbor_id IS NOT NULL AS in_exact, vis.visited_count
       |FROM res r LEFT JOIN ek k ON k.query_id = r.query_id
       |  AND k.neighbor_id = r.neighbor_id
       |JOIN vis ON vis.query_id = r.query_id
       |ORDER BY r.query_id, r.rank""".stripMargin
  }

  // ------------------------------ filtered graph-ANN serve (ss20)

  /** ss20: FILTERED GRAPH-ANN SERVE — metadata-constrained search on the
    * graph tier (the ss11-for-ss17): return the top-k among corpus
    * vectors with `label < ` [[FilterLabelLt]], but traverse the
    * UNFILTERED graph. Routing THROUGH non-matching nodes is the load-
    * bearing choice (the filtered-HNSW / ACORN observation): pre-
    * filtering the graph deletes nodes and fragments connectivity —
    * matching regions reachable only via non-matching nodes become
    * unreachable — while post-filtering only the RESULT keeps the walk
    * connected and the filter exact. Contrast ss11, where pre-filtering
    * is RIGHT because IVF cells are independent posting lists and the
    * predicate composes into the scan. `in_exact` audits against the
    * FILTERED brute-force top-k; `visited_count` still counts every
    * scored node including routed-through non-matching ones — the
    * navigability price, visible under the gate.
    *
    * Scale: shares ss17's walk verbatim (same index, same setting, same
    * depth); the label attach is a key join of
    * the visited set (≤ hops·beam·degree rows per query) against the
    * embeddings scan; the filtered exact audit is ss1's one scan. */
  def graphServeFiltered(spark: SparkSession, dir: String): DataFrame = {
    val visited = standardVisited(spark, dir)
    val lab = t(spark, dir, "embeddings")
      .select(col("vec_id").as("node_id"), col("label"))
    val vis = visited.groupBy(col("query_id"))
      .agg(count(lit(1)).as("visited_count"))
    val res = visited.join(lab, "node_id")
      .filter(col("label") < FilterLabelLt)
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKByScore.topK(
        col("score"), col("node_id"), AnnTopK).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("query_id"), (col("pos") + 1).cast(LongType).as("rank"),
        col("e.id").as("neighbor_id"), col("e.score").as("cos_sim"))
    val exF = t(spark, dir, "embeddings")
      .filter(col("vec_id") >= NumQueries && col("label") < FilterLabelLt)
      .select(col("vec_id"), Dedup.vecD(col("embedding")).as("v"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    val exact = exF.crossJoin(queriesDf(spark, dir))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Dedup.cosine(col("q"), col("v")).as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= AnnTopK)
      .select(col("query_id"), col("neighbor_id"), lit(true).as("hit"))
    res.join(exact, Seq("query_id", "neighbor_id"), "left")
      .join(vis, "query_id")
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cos_sim"), coalesce(col("hit"), lit(false)).as("in_exact"),
        col("visited_count"))
      .orderBy(col("query_id"), col("rank"))
  }

  val graphServeFilteredSql: String =
    s"""WITH $serveSharedCtesSql,
       |hcfg AS (SELECT least($MaxServeHops, greatest(2,
       |           (length(bin(CAST(count(*) AS BIGINT))) - 1) - 4)) AS h
       |         FROM embeddings WHERE vec_id >= $NumQueries),
       |${serveChainSql("", ServeBeam, ServeEntries, MaxServeHops,
             h => s"\n          AND $h <= (SELECT h FROM hcfg)")},
       |lab AS (SELECT vec_id AS node_id, label FROM embeddings),
       |vis AS (SELECT query_id, CAST(count(*) AS BIGINT) AS visited_count
       |        FROM v$MaxServeHops GROUP BY query_id),
       |res AS (SELECT query_id, node_id AS neighbor_id, score AS cos_sim,
       |          ROW_NUMBER() OVER (PARTITION BY query_id
       |            ORDER BY score DESC, node_id) AS rank
       |        FROM (SELECT v.query_id, v.node_id, v.score
       |              FROM v$MaxServeHops v JOIN lab l ON l.node_id = v.node_id
       |              WHERE l.label < $FilterLabelLt) f
       |        QUALIFY rank <= $AnnTopK),
       |ekf AS (SELECT query_id, neighbor_id FROM (
       |         SELECT q.query_id, e.vec_id AS neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY q.query_id
       |             ORDER BY ${cosSql("q.q", "e.v")} DESC, e.vec_id) AS rn
       |         FROM (SELECT eC.vec_id, eC.v FROM eC
       |               JOIN lab l ON l.node_id = eC.vec_id
       |               WHERE l.label < $FilterLabelLt) e
       |         CROSS JOIN qv q) z WHERE rn <= $AnnTopK)
       |SELECT r.query_id, r.rank, r.neighbor_id, r.cos_sim,
       |  k.neighbor_id IS NOT NULL AS in_exact, vis.visited_count
       |FROM res r LEFT JOIN ekf k ON k.query_id = r.query_id
       |  AND k.neighbor_id = r.neighbor_id
       |JOIN vis ON vis.query_id = r.query_id
       |ORDER BY r.query_id, r.rank""".stripMargin

  // ------------------------------------ serve-parameter sweep (ss19)

  /** The swept (beam, entries) grid. Small by design: each setting is a
    * full traversal in BOTH engines; the hop dimension rides free off
    * the traversal's prefixes. */
  private val SweepSettings = Seq((4, 1), (8, 3), (9, 2))

  /** ss19: SERVE-PARAMETER SWEEP under the oracle gate (the dd26
    * pattern: the tuning evidence that justified the serve settings is
    * itself a hash-gated query, so it re-runs whenever the index build
    * changes). For each (beam, entries) in [[SweepSettings]] and each
    * hop depth 1..[[MaxServeHops]], the ACHIEVED recall@3 and visited work
    * over the cached serve index — per-hop numbers come from each walk's
    * `hop` column, not separate runs. Ratios divide exact
    * BIGINTs once (hits/30, visited/10), so the doubles are engine-
    * identical. */
  def serveSweep(spark: SparkSession, dir: String): DataFrame = {
    val exact = knnBruteForce(spark, dir).filter(col("rank") <= AnnTopK)
      .select(col("query_id"), col("neighbor_id"), lit(true).as("hit"))
    // a node first scored at hop p belongs to the visited state of every
    // depth h >= max(p, 1): each setting's walk is read once and its rows
    // exploded over their depth range, then TWO keyed aggregates — not 18
    // cumulative states, nor 12 scalar-aggregate branches whose per-stage
    // fixed cost dominated the sweep's final action
    val all = SweepSettings.map { case (beam, entries) =>
      serveVisited(spark, dir, beam, entries)
        .filter(col("hop") <= MaxServeHops)
        .select(lit(beam.toLong).as("beam"), lit(entries.toLong).as("entries"),
          explode(sequence(greatest(col("hop"), lit(1)).cast(LongType),
            lit(MaxServeHops.toLong))).as("hop"),
          col("query_id"), col("node_id"), col("score"))
    }.reduce(_.union(_))
    val keys = Seq(col("beam"), col("entries"), col("hop"))
    val top3 = all.groupBy(keys :+ col("query_id"): _*)
      .agg(graft.functions.TopKByScore.topK(
        col("score"), col("node_id"), AnnTopK).as("top"))
      .select(keys :+ col("query_id") :+ explode(col("top")).as("e"): _*)
      .select(keys :+ col("query_id") :+ col("e.id").as("neighbor_id"): _*)
    // hint kept (inflated estimate): the |queries|·k-row top-k would sort-merge unhinted
    val hits = top3.join(broadcast(exact), Seq("query_id", "neighbor_id"), "left")
      .groupBy(keys: _*)
      .agg(sum(when(col("hit"), 1L).otherwise(0L)).as("hits3"))
    val vis = all.groupBy(keys: _*)
      .agg(count(lit(1)).as("visited_total"))
    hits.join(vis, Seq("beam", "entries", "hop"))
      .select(col("beam"), col("entries"), col("hop"), col("hits3"),
        col("visited_total"),
        (col("hits3").cast(DoubleType) /
          lit((NumQueries * AnnTopK).toDouble)).as("recall3"),
        (col("visited_total").cast(DoubleType) /
          lit(NumQueries.toDouble)).as("mean_visited"))
      .orderBy(col("beam"), col("entries"), col("hop"))
  }

  val serveSweepSql: String = {
    val chains = SweepSettings.map { case (beam, entries) =>
      serveChainSql(s"b${beam}e$entries", beam, entries, MaxServeHops)
    }.mkString(",\n")
    val metrics = SweepSettings.flatMap { case (beam, entries) =>
      val p = s"b${beam}e$entries"
      (1 to MaxServeHops).map { h =>
        s"""SELECT CAST($beam AS BIGINT) AS beam,
           |  CAST($entries AS BIGINT) AS entries,
           |  CAST($h AS BIGINT) AS hop,
           |  (SELECT CAST(count(*) AS BIGINT) FROM (
           |     SELECT query_id, node_id FROM (
           |       SELECT query_id, node_id,
           |         ROW_NUMBER() OVER (PARTITION BY query_id
           |           ORDER BY score DESC, node_id) AS rn
           |       FROM ${p}v$h) t
           |     WHERE rn <= $AnnTopK) v
           |   JOIN ek k ON k.query_id = v.query_id
           |     AND k.neighbor_id = v.node_id) AS hits3,
           |  (SELECT CAST(count(*) AS BIGINT) FROM ${p}v$h) AS visited_total""".stripMargin
      }
    }.mkString("\nUNION ALL\n")
    s"""WITH $serveSharedCtesSql,
       |$chains,
       |m AS ($metrics)
       |SELECT beam, entries, hop, hits3, visited_total,
       |  CAST(hits3 AS DOUBLE) / ${NumQueries * AnnTopK} AS recall3,
       |  CAST(visited_total AS DOUBLE) / $NumQueries AS mean_visited
       |FROM m ORDER BY beam, entries, hop""".stripMargin
  }

  // -------------------- ss22: Matryoshka truncated-dim recall audit

  /** Dimension prefixes audited by ss22 — quarter, half, full. Full is
    * the control tier: its ranking must equal ss1's exactly (recall 1.0
    * per query), which turns the audit into a cross-engine identity. */
  private val MrlDims = Seq(16, 32, 64)

  /** ss22: MATRYOSHKA (truncated-dimension) recall audit — the
    * measurement a deployment runs before serving a dim-prefix of its
    * embeddings (MRL, Kusupati et al. 2022; the `dimensions` knob on
    * hosted embedding APIs): search quality when cosine runs over only
    * the first d components. Per (dim, query): how many of the EXACT
    * full-dim top-k the prefix-dim ranking retains — ss12's recall
    * shape, with the index axis replaced by the dimension axis. The
    * full-dim tier (d = 64) is a built-in control: its ranking is the
    * exact ranking by construction, so recall = 1.0 per query is part
    * of the oracle-gated result, and the truncated tiers quantify the
    * storage/latency ⇄ recall trade (embeddings NOT trained with
    * matryoshka losses — like this fixture — degrade visibly at d/4;
    * MRL-trained ones hold, and this operator is how you tell).
    *
    * Exactness: prefix cosine is the same native left-fold over sliced
    * arrays both engines compute in index order (Dedup.cosine's
    * discipline); hits are integer set intersections; recall one
    * division of exact BIGINTs.
    *
    * Scale posture: truncation is scan-side (`slice` inside the
    * projection — no data movement beyond ss1's broadcast-query scan);
    * the audit joins RESULT LISTS only (≤ k rows per query per tier).
    * At 100 TB the prefix rankings come from the ANN tiers over
    * truncated vectors and the exact tier runs over a sampled query
    * set — ss12's argument, unchanged. */
  def mrlRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    val exact = knnBruteForce(spark, dir).filter(col("rank") <= AnnTopK)
      .select(col("query_id"), col("neighbor_id"))
    def prefixTopK(d: Int): DataFrame = {
      val scored = corpus(spark, dir).crossJoin(queriesDf(spark, dir))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          Dedup.cosine(slice(col("q"), 1, d), slice(col("v"), 1, d)).as("cos_sim"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("neighbor_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= AnnTopK)
        .select(col("query_id"), col("neighbor_id"))
    }
    MrlDims.map { d =>
      exact.join(
        prefixTopK(d).select(col("query_id"), col("neighbor_id"), lit(1L).as("hit")),
        Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("hit"), lit(0L))).as("hits"))
        .select(lit(d.toLong).as("dim"), col("query_id"), col("k"), col("hits"),
          (col("hits").cast(DoubleType) / col("k").cast(DoubleType)).as("recall"))
    }.reduce(_ unionByName _)
      .orderBy(col("dim"), col("query_id"))
  }

  /** Prefix-dim cosine in the oracle dialect: dot over the first d index
    * pairs, norms over the d-sliced lists — the same index-ordered
    * left fold as [[cosSql]], restricted to the prefix. */
  private def cosSqlDim(a: String, b: String, d: Int): String = {
    val dot = s"list_reduce(list_transform(generate_series(1,$d), i -> $a[i] * $b[i]), (x,y) -> x+y)"
    val na = s"sqrt(list_reduce(list_transform($a[1:$d], x -> x*x), (x,y) -> x+y))"
    val nb = s"sqrt(list_reduce(list_transform($b[1:$d], x -> x*x), (x,y) -> x+y))"
    s"$dot / ($na * $nb)"
  }

  val mrlRecallAuditSql: String = {
    val tiers = MrlDims.map { d =>
      s"""SELECT CAST($d AS BIGINT) AS dim, e.query_id,
         |    CAST(COUNT(*) AS BIGINT) AS k,
         |    CAST(SUM(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
         |  FROM e LEFT JOIN (
         |    SELECT query_id, neighbor_id FROM (
         |      SELECT query_id, vec_id AS neighbor_id,
         |        ROW_NUMBER() OVER (PARTITION BY query_id
         |          ORDER BY ${cosSqlDim("q", "v", d)} DESC, vec_id) AS rank
         |      FROM c CROSS JOIN qd) t WHERE rank <= $AnnTopK) p
         |    ON e.query_id = p.query_id AND e.neighbor_id = p.neighbor_id
         |  GROUP BY e.query_id""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings WHERE vec_id >= $NumQueries),
       |qd AS (SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q
       |       FROM embeddings WHERE vec_id < $NumQueries),
       |e AS (SELECT query_id, neighbor_id FROM ($knnBruteForceSql) x
       |      WHERE rank <= $AnnTopK),
       |u AS ($tiers)
       |SELECT dim, query_id, k, hits,
       |  CAST(hits AS DOUBLE) / CAST(k AS DOUBLE) AS recall
       |FROM u ORDER BY dim, query_id""".stripMargin
  }

  // -------------------- ss23: Matryoshka funnel (adaptive) retrieval

  /** Funnel stage-1 dimension prefix and shortlist size — the measured
    * operating point on this non-MRL fixture (DuckDB grid, sf0.001 /
    * sf0.01): d16 prefixes are too lossy for a small shortlist (recall
    * 0.53/0.43 at S=50/25) while the HALF prefix holds (d32 × S=50 →
    * recall@3 0.80/0.77; S=100 → 0.93). The shortlist is deliberately
    * small relative to the corpus (50 of ≥490, and a CONSTANT as the
    * corpus grows) — the whole point of the funnel is that stage 2 pays
    * full-dim cost on a fixed-size candidate set. */
  private val FunnelDim = 32
  private val FunnelShortlist = 50

  /** ss23: MATRYOSHKA FUNNEL retrieval — the SERVING pattern ss22's
    * audit motivates (MRL "adaptive retrieval", Kusupati et al. 2022
    * §4.3; the shortlist-then-rerank funnel every production vector
    * store runs): stage 1 ranks the corpus by PREFIX-dim cosine
    * (d = 32, half the stored vector — 2× less bandwidth per candidate)
    * and keeps a fixed shortlist; stage 2 reranks ONLY the shortlist at
    * full dimension and serves top-k. Output is the served list per
    * query with its full-dim score, a `hit` flag against the exact
    * full-dim top-k (recall is in-band, ss12's convention), and the
    * shortlist share actually scored at full dim — the measured funnel
    * economics. ss22 told you what a prefix RANKING loses end to end
    * (recall 0.3–0.5 at d/4 on this non-MRL fixture); ss23 shows the
    * funnel recovering most of it, because stage 1 only has to get the
    * true neighbors into the top-[[FunnelShortlist]], not the top-3 —
    * and the constants doc records the measured grid that picked the
    * half prefix over the quarter.
    *
    * Exactness: both stages are the same index-ordered cosine folds as
    * ss1/ss22, ties broken by neighbor_id; shortlist membership and
    * hits are integer row-number / set operations — deterministic on
    * both engines.
    *
    * Scale posture: stage 1 is ss1's broadcast-query scan over SLICED
    * vectors (scan-side `slice`, no extra movement; at 100 TB this
    * tier is served by the ANN family over truncated vectors — IVF/PQ/
    * graph all compose, ss12's argument); stage 2 touches exactly
    * |shortlist| rows per query — a broadcast-size rerank no matter the
    * corpus size. The funnel is WHY truncated embeddings are stored. */
  def mrlFunnel(spark: SparkSession, dir: String): DataFrame = {
    val exact = knnBruteForce(spark, dir).filter(col("rank") <= AnnTopK)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    val scored = corpus(spark, dir).crossJoin(queriesDf(spark, dir))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        Dedup.cosine(slice(col("q"), 1, FunnelDim), slice(col("v"), 1, FunnelDim))
          .as("pre_sim"),
        Dedup.cosine(col("q"), col("v")).as("cos_sim"))
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(col("pre_sim").desc, col("neighbor_id"))
    val shortlist = scored.withColumn("srank", row_number().over(w1))
      .filter(col("srank") <= FunnelShortlist)
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    val corpusN = corpus(spark, dir)
      .agg(count(lit(1)).cast(DoubleType).as("corpus_n"))
    // scored_share reports the shortlist rows ACTUALLY reranked at full
    // dim (a window count over the same query_id partitioning as the
    // rerank rank — no extra exchange), not the FunnelShortlist
    // constant: on a corpus (or filtered candidate set) smaller than
    // the constant the two differ, and the economics column must not
    // overstate stage-2 work (r16 advice)
    shortlist.withColumn("rank", row_number().over(w2).cast(LongType))
      .withColumn("n_sl",
        count(lit(1)).over(Window.partitionBy(col("query_id"))).cast(DoubleType))
      .filter(col("rank") <= AnnTopK)
      .join(exact, Seq("query_id", "neighbor_id"), "left")
      .crossJoin(corpusN)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"),
        coalesce(col("hit"), lit(0L)).as("hit"),
        (col("n_sl") / col("corpus_n")).as("scored_share"))
      .orderBy(col("query_id"), col("rank"))
  }

  val mrlFunnelSql: String =
    s"""WITH c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings WHERE vec_id >= $NumQueries),
       |qd AS (SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q
       |       FROM embeddings WHERE vec_id < $NumQueries),
       |e AS (SELECT query_id, neighbor_id FROM ($knnBruteForceSql) x
       |      WHERE rank <= $AnnTopK),
       |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS corpus_n FROM c),
       |sl AS (SELECT query_id, neighbor_id, cos_sim FROM (
       |    SELECT query_id, vec_id AS neighbor_id,
       |      ${cosSqlDim("q", "v", FunnelDim)} AS pre_sim,
       |      ${cosSql("q", "v")} AS cos_sim,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY ${cosSqlDim("q", "v", FunnelDim)} DESC, vec_id) AS srank
       |    FROM c CROSS JOIN qd) t WHERE srank <= $FunnelShortlist),
       |served AS (SELECT query_id, neighbor_id, cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos_sim DESC, neighbor_id) AS rank,
       |    CAST(COUNT(*) OVER (PARTITION BY query_id) AS DOUBLE) AS n_sl
       |  FROM sl)
       |SELECT s.query_id, CAST(s.rank AS BIGINT) AS rank, s.neighbor_id, s.cos_sim,
       |  CAST(CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS hit,
       |  s.n_sl / n.corpus_n AS scored_share
       |FROM served s CROSS JOIN n
       |LEFT JOIN e ON s.query_id = e.query_id AND s.neighbor_id = e.neighbor_id
       |WHERE s.rank <= $AnnTopK ORDER BY s.query_id, s.rank""".stripMargin

  // -------------------- ss24: IVF nprobe sweep (the tuning curve)

  /** Probe counts the ss24 sweep measures — the configured operating
    * point ([[IvfProbes]] = 4) sits inside the grid so the curve
    * justifies it the way ss19's sweep justifies the graph serve. */
  private val IvfSweepProbes = Seq(1, 2, 4, 8)

  /** ss24: IVF NPROBE sweep — the recall ⇄ candidate-volume tuning
    * curve every FAISS deployment reads before fixing `nprobe` (ss19 is
    * this measurement for the graph serve; ss24 is it for the IVF
    * family that ss3/ss7/ss10/ss11 all serve from). For each probe
    * count P: the exact candidate volume (population of each query's P
    * nearest cells), recall@3 of the within-candidates cosine ranking
    * vs the exact top-3, and the mean share of the corpus scored — the
    * number that says what P buys and what it costs. Probe sets NEST
    * (cell rank ≤ P), so the whole grid derives from ONE candidate pass
    * at max(P) with the probe rank attached; levels are prefix filters,
    * the ss19 lesson (one union + keyed aggregates, not per-level
    * scalar branches).
    *
    * Exactness: probe rank ties break (sim DESC, cell ASC) — ss3's
    * convention; candidate counts are exact BIGINTs; recall and share
    * are single divisions of exact integers.
    *
    * Scale posture: the corpus is scanned ONCE for cell assignment
    * (scan-side argmax over codebook literals) and once for candidate
    * scoring against the broadcast probe set — identical to ss3's serve
    * plan; the sweep adds only a per-level tag explode over the (tiny)
    * candidate keys and two combinable aggregates. At 100 TB the curve
    * runs on a sampled query set (ss12's argument) — it is a tuning
    * measurement, not a serving path. */
  def ivfProbeSweep(spark: SparkSession, dir: String): DataFrame = {
    val exemplars = exemplarsOf(spark, dir)
    val ex = collectedExemplars(exemplars)
    require(ex.nonEmpty, "IVF sweep requires a trained codebook")
    val exact = knnBruteForce(spark, dir).filter(col("rank") <= AnnTopK)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    val c = assignCells(corpus(spark, dir), "v", exemplars)
    val scoredCells = array(ex.zipWithIndex.map { case ((_, cv), i) =>
      struct((lit(0.0) - Dedup.cosine(col("q"), lit(cv))).as("ns"), lit(i).as("i"))
    }.toIndexedSeq: _*)
    val probeCells = transform(slice(array_sort(scoredCells), 1, IvfSweepProbes.max),
      s => element_at(lit(ex.map(_._1)), s.getField("i") + lit(1)))
    val q = queriesDf(spark, dir)
      .select(col("query_id"), col("q"), posexplode(probeCells).as(Seq("p0", "cell")))
      .withColumn("prank", col("p0") + 1)
    val cand = c.join(q, "cell")
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("prank"),
        Dedup.cosine(col("q"), col("v")).as("cos_sim"))
    // levels nest, so a candidate at probe rank r belongs to every level
    // P >= r: tag by exploding the applicable levels — ONE candidate
    // pass, not a per-level union re-scanning the corpus
    val levelsArr = array(IvfSweepProbes.map(p => lit(p.toLong)): _*)
    val tagged = cand.select(col("query_id"), col("neighbor_id"), col("cos_sim"),
      explode(filter(levelsArr, l => l >= col("prank"))).as("nprobe"))
    // ONE grouped pass computes BOTH the per-(level, query) top-3 and the
    // per-(level, query) candidate count, pinned tiny (|levels|·|queries|
    // rows) so the hits and volume branches below read it instead of
    // re-executing the candidate scan — r18's plan paid the corpus
    // candidate pass twice (top3 + vols were separate consumers of
    // `tagged`) plus a third corpus scan just for corpus_n, which the
    // session-cached metadata count already knows (r18 verdict task 4)
    val g1 = tagged.groupBy(col("nprobe"), col("query_id"))
      .agg(graft.functions.TopKByScore.topK(
        col("cos_sim"), col("neighbor_id"), AnnTopK).as("top"),
        count(lit(1)).as("ncand"))
      .transform(GraftCheckpoint.pin)
    val top3 = g1
      .select(col("nprobe"), col("query_id"), explode(col("top")).as("e"))
      .select(col("nprobe"), col("query_id"), col("e.id").as("neighbor_id"))
    // hint kept (inflated estimate): the |queries|·k-row top-k would sort-merge unhinted
    val hits = top3.join(broadcast(exact), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("nprobe"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits3"))
    val vols = g1.groupBy(col("nprobe"))
      .agg(sum(col("ncand")).as("n_candidates"))
    val corpusN = corpusCount(spark, dir).toDouble
    hits.join(vols, "nprobe")
      .select(col("nprobe"), col("n_candidates"), col("hits3"),
        (col("hits3").cast(DoubleType) /
          lit((NumQueries * AnnTopK).toDouble)).as("recall3"),
        (col("n_candidates").cast(DoubleType) /
          lit(NumQueries.toDouble * corpusN)).as("visited_share"),
        (col("nprobe") === lit(IvfProbes.toLong)).as("is_configured"))
      .orderBy(col("nprobe"))
  }

  val ivfProbeSweepSql: String = {
    val maxP = IvfSweepProbes.max
    val levels = IvfSweepProbes.map(p => s"SELECT CAST($p AS BIGINT) AS nprobe")
      .mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings),
       |$exemplarCteSql,
       |ca AS (SELECT vec_id, v, cell FROM (
       |         SELECT e.vec_id, e.v, ex.cell,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosSql("e.v", "ex.cv")} DESC, ex.cell) AS rn
       |         FROM e CROSS JOIN ex WHERE e.vec_id >= $NumQueries) x WHERE rn = 1),
       |qa AS (SELECT query_id, q, cell, prank FROM (
       |         SELECT e.vec_id AS query_id, e.v AS q, ex.cell,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${cosSql("e.v", "ex.cv")} DESC, ex.cell) AS prank
       |         FROM e CROSS JOIN ex WHERE e.vec_id < $NumQueries) x
       |       WHERE prank <= $maxP),
       |cand AS (SELECT qa.query_id, ca.vec_id AS neighbor_id, qa.prank,
       |           ${cosSql("qa.q", "ca.v")} AS cos_sim
       |         FROM ca JOIN qa USING (cell)),
       |lv AS ($levels),
       |tg AS (SELECT lv.nprobe, c.query_id, c.neighbor_id, c.cos_sim
       |       FROM cand c JOIN lv ON c.prank <= lv.nprobe),
       |t3 AS (SELECT nprobe, query_id, neighbor_id FROM (
       |         SELECT nprobe, query_id, neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY nprobe, query_id
       |             ORDER BY cos_sim DESC, neighbor_id) AS rank
       |         FROM tg) x WHERE rank <= $AnnTopK),
       |ex3 AS (SELECT query_id, neighbor_id FROM ($knnBruteForceSql) x
       |        WHERE rank <= $AnnTopK),
       |h AS (SELECT t3.nprobe,
       |        CAST(SUM(CASE WHEN ex3.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
       |          AS BIGINT) AS hits3
       |      FROM t3 LEFT JOIN ex3 ON t3.query_id = ex3.query_id
       |        AND t3.neighbor_id = ex3.neighbor_id
       |      GROUP BY t3.nprobe),
       |vv AS (SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS n_candidates
       |       FROM tg GROUP BY nprobe),
       |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS corpus_n FROM ca)
       |SELECT h.nprobe, vv.n_candidates, h.hits3,
       |  CAST(h.hits3 AS DOUBLE) / ${(NumQueries * AnnTopK).toDouble} AS recall3,
       |  CAST(vv.n_candidates AS DOUBLE) / ($NumQueries.0 * n.corpus_n)
       |    AS visited_share,
       |  h.nprobe = $IvfProbes AS is_configured
       |FROM h JOIN vv USING (nprobe) CROSS JOIN n
       |ORDER BY h.nprobe""".stripMargin
  }

  /** Oracle-gate parity guard (r18 ADVICE + r18 verdict task 6): the
    * ss16–ss21 twins render the DEFAULT degree formula and statically
    * unroll [[MaxServeHops]] hops at [[ServeEntries]] entry points, so a
    * gated invocation must run exactly those defaults. The gated builders
    * THROW on violation (the documented builder's-choice; silent ignore
    * would hide a half-applied probe session) — fail loudly AT THE
    * FORMULA, not as a downstream hash mismatch: a probe override left
    * set on the dir, or a future gate fixture large enough that the
    * corpus-scaled hop budget outgrows the twin's static unroll, both surface
    * here by name instead of as an inscrutable oracle diff. */
  private def gatedGraph(name: String, serve: Boolean)(
      f: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      if (degreeCapOverrides.contains((spark, dir)))
        throw new IllegalStateException(
          s"$name is oracle-gated but a degree-cap override is set on " +
          s"$dir — overrides are probe/deployment pinning only " +
          "(clearDegreeCapOverride first, or serve via graphServeOver)")
      if (serve) {
        val n = corpusCount(spark, dir)
        val h = serveHopsOf(n)
        if (h > MaxServeHops)
          throw new IllegalStateException(
            s"$name is oracle-gated but $dir has corpus n=$n, whose " +
            s"corpus-scaled serve hop budget ($h) exceeds the twin's " +
            s"static unroll ($MaxServeHops hops) — raise MaxServeHops " +
            "in the twin SQL and re-time the baseline")
      }
      f(spark, dir)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ss24_ivf_sweep" -> ivfProbeSweep,
    "ss23_mrl_funnel" -> mrlFunnel,
    "ss22_mrl_recall" -> mrlRecallAudit,
    "ss21_graph_serve_sq" -> gatedGraph("ss21_graph_serve_sq",
      serve = true)(graphServeSq),
    "ss20_graph_serve_filtered" -> gatedGraph("ss20_graph_serve_filtered",
      serve = true)(graphServeFiltered),
    "ss19_serve_sweep" -> gatedGraph("ss19_serve_sweep",
      serve = true)(serveSweep),
    "ss18_graph_diversify" -> gatedGraph("ss18_graph_diversify",
      serve = false)(graphDiversify),
    "ss17_graph_serve" -> gatedGraph("ss17_graph_serve",
      serve = true)(graphServe),
    "ss16_knn_descent" -> gatedGraph("ss16_knn_descent",
      serve = false)(knnGraphDescent),
    "ss15_hard_negatives" -> hardNegativeMining,
    "ss14_cluster_quality" -> clusterQuality,
    "ss13_mips_augmented" -> mipsAugmented,
    "ss12_recall_audit" -> annRecallAudit,
    "ss6_ann_pq" -> annPq,
    "ss7_ann_ivfpq" -> annIvfPq,
    "ss8_ann_sq8" -> annSq,
    "ss9_rrf_fusion" -> annRrfFusion,
    "ss5_knn_graph" -> knnGraph,
    "ss1_knn_brute_force" -> knnBruteForce,
    "ss2_ann_lsh" -> annLsh,
    "ss3_ann_ivf" -> annIvf,
    "ss4_ann_lsh_multiprobe" -> annLshMultiprobe,
    "ss10_ann_ivf_refined" -> annIvfRefined,
    "ss11_ann_filtered" -> annIvfFiltered)

  val oracle: Map[String, String] = Map(
    "ss24_ivf_sweep" -> ivfProbeSweepSql,
    "ss23_mrl_funnel" -> mrlFunnelSql,
    "ss22_mrl_recall" -> mrlRecallAuditSql,
    "ss21_graph_serve_sq" -> graphServeSqSql,
    "ss20_graph_serve_filtered" -> graphServeFilteredSql,
    "ss19_serve_sweep" -> serveSweepSql,
    "ss18_graph_diversify" -> graphDiversifySql,
    "ss17_graph_serve" -> graphServeSql,
    "ss16_knn_descent" -> knnGraphDescentSql,
    "ss15_hard_negatives" -> hardNegativeMiningSql,
    "ss14_cluster_quality" -> clusterQualitySql,
    "ss13_mips_augmented" -> mipsAugmentedSql,
    "ss12_recall_audit" -> annRecallAuditSql,
    "ss6_ann_pq" -> annPqSql,
    "ss7_ann_ivfpq" -> annIvfPqSql,
    "ss8_ann_sq8" -> annSqSql,
    "ss9_rrf_fusion" -> annRrfFusionSql,
    "ss5_knn_graph" -> knnGraphSql,
    "ss1_knn_brute_force" -> knnBruteForceSql,
    "ss2_ann_lsh" -> annLshSql,
    "ss3_ann_ivf" -> annIvfSql,
    "ss4_ann_lsh_multiprobe" -> annLshMultiprobeSql,
    "ss10_ann_ivf_refined" -> annIvfRefinedSql,
    "ss11_ann_filtered" -> annIvfFilteredSql)
}
