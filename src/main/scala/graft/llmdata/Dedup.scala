package graft.llmdata

import org.apache.spark.sql.{Column, DataFrame, GraftCheckpoint, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Deduplication operators for a training-data pipeline, over the
  * `documents` and `embeddings` fixtures: exact, normalized-key, MinHash+LSH,
  * SimHash banding, inverted-index n-gram Jaccard, and embedding-cosine
  * near-dup. Part of the engine's LLM-data surface (SURVEY.md §7.1 step 7);
  * the reference itself only dedupes record ids within one CDC event
  * (SURVEY.md §2.3 D1 — `/root/reference/worker/lambda/app.py:64-72`).
  *
  * Scale posture (100 TB): no O(n²) pass except the explicitly-labelled
  * exact baseline [[embeddingNearDup]]. Candidate generation is always a
  * key-equality shuffle join (LSH band hash, SimHash block, shared shingle)
  * so Spark partitions by the join key and each executor only sees its
  * bucket; the expensive exact verification runs on candidates only.
  *
  * Oracle parity: hashes are md5 hex (identical string in both engines;
  * lexicographic min over fixed-width hex == numeric min), set sizes are
  * ints, and similarity ratios are int-derived doubles computed in the same
  * operation order — all bit-identical vs DuckDB.
  */
object Dedup {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  private val words: Column = split(col("text"), " ")

  private val noGrams: Column = array().cast(ArrayType(StringType))

  /** Distinct word-bigram shingles of a document. IMPORTANT: `w` must be a
    * materialized array column, not the `split(...)` expression itself —
    * Spark re-evaluates a non-trivial lambda-referenced expression on every
    * `element_at`, turning shingling O(words²) per row (measured 8× the
    * whole-query cost at sf0.1). The size guard matters: `sequence(1, 0)`
    * counts DOWN through 0 and `element_at(w, 0)` throws under ANSI —
    * a one-word document must yield an empty shingle set (as DuckDB's
    * empty `generate_series(1, 0)` does), not an error. */
  private def bigrams(w: Column): Column =
    when(size(w) >= 2, array_distinct(transform(sequence(lit(1), size(w) - 1),
      i => concat(element_at(w, i), lit(" "), element_at(w, i + 1)))))
      .otherwise(noGrams)

  /** Distinct word-trigram shingles (same materialization + guard caveats). */
  private def trigrams(w: Column): Column =
    when(size(w) >= 3, array_distinct(transform(sequence(lit(1), size(w) - 2),
      i => concat_ws(" ", element_at(w, i), element_at(w, i + 1), element_at(w, i + 2)))))
      .otherwise(noGrams)

  /** documents → (doc_id, grams): words materialized once, then shingled.
    * The result is persisted: every consumer self-joins it (bands × bands,
    * inv × inv, plus two candidate→grams lookups), and without a cache
    * Spark recomputes the shingling per branch. At 100 TB the equivalent
    * is materializing the shingle table once per corpus snapshot.
    *
    * Keyed per (session, dir, n) like Tables.load — a bare `.persist()`
    * here pinned a FRESH shingle table per call (dd3/dd6/dd8/dd10 ×
    * every query run), a session-lifetime storage leak that degraded
    * everything sharing the executor heap. The cache bounds pinned
    * storage to one table per (dir, shingle width). */
  private val gramsCache = SessionCache.persisted()

  private[graft] def gramsOf(spark: SparkSession, dir: String, n: Int): DataFrame =
    gramsCache.get(spark, s"$dir#$n")(
      gramsOfDocs(t(spark, dir, "documents"), n).persist())

  /** (doc_id, hg) with hg = SORTED DISTINCT 60-bit gram hashes — the
    * verify-side projection of [[gramsOf]], cached per (session, dir, n).
    * r19: every consumer pass over the cached STRING shingle table paid
    * ~1.5 s of columnar-batch deserialization at sf0.1 (~30 MB of
    * strings) plus an interpreted per-gram md5 transform; the hashed
    * table is 8 bytes per gram, already sorted for the merge-walk
    * verifiers (dd6 both sides, dd20 both sides). Same artifact class as
    * the signature cache. */
  private val hashedGramsCache = SessionCache.persisted()

  private[graft] def hashedGramsOf(spark: SparkSession, dir: String, n: Int): DataFrame =
    hashedGramsCache.get(spark, s"$dir#$n")(
      gramsOf(spark, dir, n).select(col("doc_id"),
        graft.functions.TextHashFunctions.hashedGramSet(col("grams")).as("hg"))
        .persist())

  /** Shingle an arbitrary (doc_id, text) frame — the uncached form behind
    * [[gramsOf]], usable on non-fixture frames (e.g. a streaming
    * micro-batch in [[admitAgainst]]). */
  private[graft] def gramsOfDocs(docs: DataFrame, n: Int): DataFrame = {
    val sh = if (n == 2) bigrams(col("_w")) else trigrams(col("_w"))
    docs.withColumn("_w", words).select(col("doc_id"), sh.as("grams"))
  }

  /** Release this session's entries in EVERY session cache (shingle
    * tables, pair sets, signatures, codebooks, graph indexes, vocabularies
    * — [[SessionCache.clearAll]]) and every checkpoint still pinned —
    * e.g. before a phase that needs the storage memory, after a dedup pass
    * completes, or after rewriting the parquet under a dir this session
    * already read. Subsequent queries transparently rebuild them. */
  def uncacheShingles(spark: SparkSession): Unit = SessionCache.clearAll(spark)

  /** Exact Jaccard on distinct shingle arrays — native one-pass expression
    * (same counts and division as size(array_intersect)/size(array_union),
    * which interpreted to two hash-set builds per candidate pair). */
  private def jaccard(a: Column, b: Column): Column =
    graft.functions.TextHashFunctions.jaccard(a, b)

  // ---------------------------------------------------------------- exact

  /** Exact dedup summary: content-hash groupBy. At scale this is one
    * shuffle on the 32-byte digest (never on the document body). */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("copies"), min(col("doc_id")).as("keep_id"))
      .agg(
        count(lit(1)).as("n_unique"),
        sum(col("copies")).as("n_docs"),
        (sum(col("copies")) - count(lit(1))).as("n_removed"))

  val exactDedupSql: String =
    """SELECT COUNT(*) AS n_unique, CAST(SUM(copies) AS BIGINT) AS n_docs,
      |  CAST(SUM(copies) - COUNT(*) AS BIGINT) AS n_removed
      |FROM (SELECT md5(text) AS content_hash, COUNT(*) AS copies,
      |        MIN(doc_id) AS keep_id
      |      FROM documents GROUP BY 1)""".stripMargin

  /** Normalized-key dedup: key = digest of the sorted distinct word set
    * (bag-of-words normalization). Keeps the lowest doc_id per group. */
  def normalizedDedup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy(md5(concat_ws(" ", array_sort(array_distinct(words)))).as("norm_key"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("group_size"))
      .select(col("keep_id"), col("group_size"), col("norm_key"))
      .orderBy(col("keep_id"))

  val normalizedDedupSql: String =
    """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS group_size, norm_key
      |FROM (SELECT doc_id,
      |        md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')) AS norm_key
      |      FROM documents)
      |GROUP BY norm_key ORDER BY keep_id""".stripMargin

  // ---------------------------------------------------------- MinHash+LSH

  /** Number of MinHash functions and LSH banding (6 bands × 2 rows):
    * catch probability at J=0.5 is 1-(1-0.25)^6 ≈ 0.82, at J=0.8 ≈ 0.999;
    * background pairs (J≈0.05) almost never collide. */
  private val NumHashes = 12
  private val BandRows = 2
  private[graft] val NumBands = NumHashes / BandRows
  private val MinhashJaccardThreshold = 0.35

  /** Per-band-bucket cap — the dd6 posting-list trick applied to banded
    * candidate generation (MinHash bands here, SimHash blocks in dd5): only
    * the [[BandBucketCap]] LOWEST doc_ids of a bucket generate candidate
    * pairs, so even a degenerate bucket (e.g. near-empty docs all hashing
    * to one signature) is bounded at C(cap,2) pairs instead of bucket².
    * Sampling (not dropping) keeps within-bucket pairs of oversized
    * duplicate clusters among the sampled members — members beyond the cap
    * escape only if they share no OTHER band, the documented recall trade.
    * Mirrored in the oracles (row_number over (band, hash) by doc_id). */
  private[graft] val BandBucketCap = 50

  /** MinHash signature: per seed, the minimum md5 over shingles of the
    * seed-tagged shingle (`md5(seed || ':' || gram)`) — computed by the
    * native TextHashFunctions.minhashSig (one JVM loop instead of k
    * interpreted array_min(transform(...)) passes; bit-identical). */
  private def minhashSig(grams: Column): Column =
    graft.functions.TextHashFunctions.minhashSig(grams, NumHashes)

  /** MinHash + LSH near-dup pairs: sign → band → bucket-join candidates →
    * exact bigram-Jaccard verification. The only shuffles are the band-hash
    * self-join and the two candidate→signature lookups; all are key-equality
    * joins that AQE can re-plan on skewed buckets.
    *
    * The confirmed-pair set is tiny (hundreds of rows for thousands of
    * docs) but costs the full sign+band+verify pass, and dd10/dd11 build
    * on it — so it is persisted per (session, dir) like the shingle
    * cache ("materialize once per corpus snapshot"). */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    pairsCache.get(spark, dir)(minhashLshUncached(spark, dir).persist())

  private val pairsCache = SessionCache.persisted()

  /** The signed corpus — (doc_id, 12-component MinHash sig) — cached per
    * (session, dir) like the shingle table it derives from: the signing
    * scan (~|grams|·k md5s per doc) is the expensive pass, and THREE
    * consumers re-ran it per dd16 run before this cache (band table + both
    * sides of the pair join — measured 13 s at sf0.1, vs one ~2 s signing).
    * At 100 TB the signature table is the materialized index artifact. */
  private val sigCache = SessionCache.persisted()

  private[graft] def signaturesOf(spark: SparkSession, dir: String): DataFrame =
    sigCache.get(spark, dir)(
      gramsOf(spark, dir, 2)
        .select(col("doc_id"), minhashSig(col("grams")).as("sig")).persist())

  /** (doc_id, band, bh) LSH band table over bigram shingles — shared by
    * the self-join (dd3) and incremental (dd12) candidate generators;
    * reads the cached signature table. */
  private[graft] def bandedDocs(spark: SparkSession, dir: String): DataFrame =
    bandsOfSig(signaturesOf(spark, dir))

  /** (doc_id, grams) → one row per (doc_id, band, band-hash) — the
    * uncached form for arbitrary frames (e.g. a streaming micro-batch). */
  private[graft] def bandedOf(grams: DataFrame): DataFrame =
    bandsOfSig(grams.select(col("doc_id"), minhashSig(col("grams")).as("sig")))

  private def bandsOfSig(sig: DataFrame): DataFrame = {
    val bandHashes = array((0 until NumBands).map { b =>
      md5(concat((0 until BandRows).map(r => element_at(col("sig"), b * BandRows + r + 1)): _*))
    }: _*)
    // posexplode_outer: plain posexplode makes Catalyst push a
    // size(..)>0 filter to the scan with the full (expensive) signature
    // expression inlined — evaluated 2 extra times per row. Outer explode
    // emits a null row instead, which the equi-join drops anyway.
    sig.select(col("doc_id"), posexplode_outer(bandHashes).as(Seq("band", "bh")))
  }

  /** Distinct (doc_a < doc_b) pairs off a frame with a sorted, capped
    * `docs` array column — i<j positions of a sorted array ⇒ doc_a <
    * doc_b, each bucket bounded at C(cap, 2) pairs. Shared by every
    * capped-bucket candidate generator (dd3/dd6/dd16). */
  private def cappedBucketPairs(buckets: DataFrame): DataFrame =
    cappedBucketPairsRaw(buckets).distinct()

  /** [[cappedBucketPairs]] WITHOUT the dedup — for verifiers whose
    * per-pair check is cheaper than the full-pair-set exchange a distinct
    * costs (dd6), which dedupe the (tiny) verified output instead.
    * Pairs come from the native TextHashFunctions.sortedPairs (one JVM pass
    * per bucket; the composable nested transform interpreted ~1.3M
    * per-element lambda frames per dd6 run); single-doc buckets yield a
    * null array → explode_outer's null row → dropped by the verify
    * equi-join, exactly as the when(n >= 2, ...) guard did. */
  private def cappedBucketPairsRaw(buckets: DataFrame): DataFrame =
    buckets.select(explode_outer(
      graft.functions.TextHashFunctions.sortedPairs(col("docs"))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))

  /** Candidate pairs off a (doc_id, band, bh) band table with the
    * per-bucket cap applied — the full bounded generator (bucket → capped
    * sorted list → i<j pairs → distinct) as one reusable seam, so the
    * C(cap, 2) skew bound is testable on a degenerate corpus. */
  private[graft] def cappedPairsOfBands(bands: DataFrame): DataFrame =
    cappedBucketPairs(bands.groupBy(col("band"), col("bh"))
      .agg(slice(sort_array(collect_list(col("doc_id"))), 1, BandBucketCap).as("docs")))

  /** The banded candidate-pair set, cached per (session, dir): dd3's
    * verify AND dd20's containment verify both run over exactly this set,
    * and without the cache dd20 re-derived the whole band → bucket →
    * capped-pairs → distinct chain the dd3 pass had already paid for
    * (r19). Same artifact class as the signature cache feeding it — the
    * banding index is built once per corpus snapshot. Released with the
    * other dedup caches via [[uncacheShingles]]. */
  private val bandCandsCache = SessionCache.persisted()

  private[graft] def bandCandidates(spark: SparkSession, dir: String): DataFrame =
    bandCandsCache.get(spark, dir)(
      cappedPairsOfBands(bandedDocs(spark, dir)).persist())

  private def minhashLshUncached(spark: SparkSession, dir: String): DataFrame =
    minhashVerify(spark, dir, bandCandidates(spark, dir))

  /** dd3's exact-verification stage over an arbitrary candidate-pair set:
    * join both sides' shingle arrays, exact bigram Jaccard, threshold. */
  private def minhashVerify(spark: SparkSession, dir: String,
                            cands: DataFrame): DataFrame = {
    val docs = gramsOf(spark, dir, 2)
    val ga = docs.select(col("doc_id").as("doc_a"), col("grams").as("grams_a"))
    val gb = docs.select(col("doc_id").as("doc_b"), col("grams").as("grams_b"))
    cands.join(ga, "doc_a").join(gb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        jaccard(col("grams_a"), col("grams_b")).as("jaccard"))
      .filter(col("jaccard") >= MinhashJaccardThreshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Persist the signed corpus — (doc_id, 12-component MinHash sig) — as
    * parquet: the dd3/dd16 index artifact a deployment builds once per
    * corpus snapshot and ships (the FAISS `write_index` posture ss7
    * established; the signature table is the expensive signing scan's
    * output and everything candidate-side derives from it). */
  def writeSignatureIndex(spark: SparkSession, dir: String, out: String): Unit =
    signaturesOf(spark, dir).write.mode("overwrite")
      .parquet(s"$out/signatures")

  /** dd3 served COLD from a persisted signature table (see
    * [[writeSignatureIndex]]): band the stored signatures, bucket-join
    * candidates, exact-verify against the corpus shingles. Row-identical
    * to [[minhashLsh]] (spec-asserted) — no re-signing of the corpus. */
  def minhashLshFromIndex(spark: SparkSession, dir: String,
                          indexPath: String): DataFrame =
    minhashVerify(spark, dir, cappedPairsOfBands(
      bandsOfSig(spark.read.parquet(s"$indexPath/signatures"))))

  private[graft] val sigListSql: String = (0 until NumHashes).map { s =>
    s"list_aggregate(list_transform(g, x -> md5('$s:' || x)), 'min')"
  }.mkString("[", ", ", "]")

  private[graft] val bandExprsSql: String = (0 until NumBands).map { b =>
    s"md5(sig[${b * BandRows + 1}] || sig[${b * BandRows + 2}])"
  }.mkString("[", ", ", "]")

  /** Unordered core of [[minhashLshSql]] — composed as a CTE body by the
    * dd19/dd25 twins (appending ORDER BY only at the top level instead of
    * string-stripping the sort out of the ordered form). */
  private[llmdata] val minhashLshCoreSql: String = {
    val sigList = sigListSql
    val bandExprs = bandExprsSql
    s"""WITH w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-1),
       |         i -> w[i] || ' ' || w[i+1])) AS g FROM w),
       |sig AS (SELECT doc_id, g, $sigList AS sig FROM sh),
       |bands AS (SELECT doc_id, band, $bandExprs[band+1] AS bh
       |          FROM sig CROSS JOIN (SELECT unnest(generate_series(0, ${NumBands - 1})) AS band)),
       |capped AS (SELECT doc_id, band, bh FROM bands
       |           QUALIFY row_number() OVER (PARTITION BY band, bh ORDER BY doc_id) <= $BandBucketCap),
       |cands AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |          FROM capped x JOIN capped y
       |            ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b,
       |  CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
       |  CAST(len(list_distinct(a.g || b.g)) AS DOUBLE) AS jaccard
       |FROM cands JOIN sh a ON cands.doc_a = a.doc_id
       |           JOIN sh b ON cands.doc_b = b.doc_id
       |WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
       |      CAST(len(list_distinct(a.g || b.g)) AS DOUBLE) >= $MinhashJaccardThreshold""".stripMargin
  }

  val minhashLshSql: String = s"$minhashLshCoreSql ORDER BY doc_a, doc_b"

  // ------------------------------------- signature-only estimate (dd16)

  private val MinhashEstThreshold = 0.5

  /** Signature-only estimated-Jaccard near-dup (dd16): dd3's band-bucket
    * candidates, but similarity is ESTIMATED as the matching fraction of
    * MinHash components instead of exact Jaccard over the shingle sets.
    * E[matches/k] = J (the MinHash property); k = [[NumHashes]] = 12 gives
    * σ ≈ 0.14 at J = 0.5 — the documented precision trade.
    *
    * Why it exists next to dd3: this is the pure-sketch 100 TB path.
    * After the one signing scan, candidate generation AND scoring read
    * only the 12-component signature table — original text is never
    * re-joined, so the per-pair cost is 12 string equalities instead of a
    * merge walk over ~200 shingles, and the only materialized artifact is
    * the signature index. dd3 is the composition target (this shape +
    * exact rescoring of survivors) when precision matters. */
  def minhashEstimate(spark: SparkSession, dir: String): DataFrame = {
    val sigs = signaturesOf(spark, dir)
    val cands = cappedPairsOfBands(bandedDocs(spark, dir))
    val sa = sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val sb = sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    val nMatch = size(filter(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
      .cast(LongType)
    cands.join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"), nMatch.as("n_match"),
        (nMatch.cast(DoubleType) / NumHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= MinhashEstThreshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val minhashEstimateSql: String = {
    val nm = s"len(list_filter(generate_series(1, $NumHashes), i -> a.sig[i] = b.sig[i]))"
    s"""WITH w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-1),
       |         i -> w[i] || ' ' || w[i+1])) AS g FROM w),
       |sig AS (SELECT doc_id, $sigListSql AS sig FROM sh),
       |bands AS (SELECT doc_id, band, $bandExprsSql[band+1] AS bh
       |          FROM sig CROSS JOIN (SELECT unnest(generate_series(0, ${NumBands - 1})) AS band)),
       |capped AS (SELECT doc_id, band, bh FROM bands
       |           QUALIFY row_number() OVER (PARTITION BY band, bh ORDER BY doc_id) <= $BandBucketCap),
       |cands AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |          FROM capped x JOIN capped y
       |            ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b,
       |  CAST($nm AS BIGINT) AS n_match,
       |  CAST($nm AS DOUBLE) / $NumHashes AS est_jaccard
       |FROM cands JOIN sig a ON cands.doc_a = a.doc_id
       |           JOIN sig b ON cands.doc_b = b.doc_id
       |WHERE CAST($nm AS DOUBLE) / $NumHashes >= $MinhashEstThreshold
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // -------------------------------------------------------------- SimHash

  /** SimHash width and banding: 64 bits in 4 blocks of 16. The block key
    * space per band is 2^16 = 65,536 values, so a uniform corpus spreads
    * each block's buckets to ~n/65536 docs (32-bit 4×8 banding capped out
    * at 256 values per block — O(n²/256) candidate pairs, the round-3
    * scale finding). Pigeonhole: hamming ≤ SimHashBlocks-1 = 3 always
    * shares ≥1 full block, so banding itself loses nothing under
    * [[HammingMax]] — but the guarantee holds only for pairs that SURVIVE
    * the per-bucket [[BandBucketCap]]: a qualifying pair whose members
    * both fall past the cap in every shared block is sampled away (the
    * same bounded-recall trade dd6's posting-list cap makes). */
  private val SimHashWidth = 64
  private val SimHashBlocks = 4
  private val BlockBits = SimHashWidth / SimHashBlocks

  /** 64-bit SimHash over whitespace tokens (md5-derived bits, frequency
    * weighted): pure per-row map — no shuffle at all. Computed by the
    * native TextHashFunctions.simhash64 (one JVM loop; the composable form —
    * interpreted `aggregate` folds over the token hashes — benchmarked 60×
    * slower at sf0.1 already at 32 bits). */
  def simhashOf(docs: DataFrame): DataFrame =
    docs.withColumn("simhash",
      graft.functions.TextHashFunctions.simhash64(split(col("text"), " ")))

  /** Per-document SimHash signatures. */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashOf(t(spark, dir, "documents"))
      .select(col("doc_id"), col("simhash"))
      .orderBy(col("doc_id"))

  /** Shared oracle CTEs computing the 64-bit signature: per token the
    * first 16 hex chars of md5 (= 64 bits MSB-first), per bit position a
    * ±1 vote sum — the exact bit math of TextHashUtil.simhashBits. */
  private val simhashShSql: String =
    s"""tok AS (
       |  SELECT doc_id, substr(md5(unnest(string_split(text,' '))), 1, ${SimHashWidth / 4}) AS h
       |  FROM documents),
       |bits AS (
       |  SELECT doc_id, p,
       |    SUM(CASE WHEN
       |      floor((strpos('0123456789abcdef', substr(h, ((p-1)//4)+1, 1)) - 1)
       |            // power(2, 3-((p-1)%4))) % 2 = 1
       |      THEN 1 ELSE -1 END) AS vote
       |  FROM tok CROSS JOIN (SELECT unnest(generate_series(1,$SimHashWidth)) AS p)
       |  GROUP BY doc_id, p),
       |sh AS (SELECT doc_id,
       |         string_agg(CASE WHEN vote > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS simhash
       |       FROM bits GROUP BY doc_id)""".stripMargin

  /** Unordered core of [[simhashSql]] — composed by the q34 twin. */
  private[graft] val simhashCoreSql: String =
    s"""WITH $simhashShSql
       |SELECT doc_id, simhash FROM sh""".stripMargin

  val simhashSql: String = s"$simhashCoreSql ORDER BY doc_id"

  /** Max hamming distance for a verified near-dup pair. With 4 blocks the
    * pigeonhole guarantee covers exactly hamming ≤ 3; on 64 bits that is a
    * STRICTER similarity bar than 3-of-32 (≈95.3% vs ≈90.6% bit agreement)
    * — near-identical documents (the dedup target) stay well under it. */
  private val HammingMax = 3

  /** SimHash near-dup pairs: band the 64 bits into 4 blocks of 16; pairs
    * agreeing on ≥1 full block are candidates (pigeonhole: hamming ≤ 3 is
    * always caught); verify hamming ≤ [[HammingMax]].
    *
    * Candidate generation is ONE shuffle — `groupBy(blk, bv)` with capped
    * sorted posting lists, pairs off each list (i<j of a sorted array ⇒
    * doc_a < doc_b) — no band self-join, every bucket bounded by the cap. */
  def simhashNearDup(spark: SparkSession, dir: String): DataFrame = {
    // pinned (GraftCheckpoint.pin): the signature table feeds THREE consumers (block
    // explode + both verify sides) and each re-ran the full per-token
    // simhash scan without the pin (r19 plan audit; per-invocation
    // materialization, not a cross-run cache — mm5 holds its signatures
    // in a session cache because two queries share them, dd5's are its
    // own). The pinned frame is one 64-char string per doc.
    val sh = simhashOf(t(spark, dir, "documents"))
      .select(col("doc_id"), col("simhash")).transform(GraftCheckpoint.pin)
    val blocks = sh.select(col("doc_id"),
      posexplode_outer(array((0 until SimHashBlocks).map(b =>
        substring(col("simhash"), b * BlockBits + 1, BlockBits)): _*))
        .as(Seq("blk", "bv")))
    val buckets = blocks.groupBy(col("blk"), col("bv"))
      .agg(slice(sort_array(collect_list(col("doc_id"))), 1, BandBucketCap).as("docs"))
    // native pair generator — see cappedBucketPairsRaw
    val cands = buckets.select(explode_outer(
      graft.functions.TextHashFunctions.sortedPairs(col("docs"))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
    val sa = sh.select(col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val sb = sh.select(col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    val hamming = graft.functions.TextHashFunctions.hamming(col("sh_a"), col("sh_b"))
    cands.join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"), hamming.as("hamming"))
      .filter(col("hamming") <= HammingMax)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val simhashNearDupSql: String =
    s"""WITH $simhashShSql,
       |blocks AS (SELECT doc_id, simhash, blk, substr(simhash, blk*$BlockBits+1, $BlockBits) AS bv
       |           FROM sh CROSS JOIN (SELECT unnest(generate_series(0,${SimHashBlocks - 1})) AS blk)),
       |capped AS (SELECT doc_id, blk, bv FROM blocks
       |           QUALIFY row_number() OVER (PARTITION BY blk, bv ORDER BY doc_id) <= $BandBucketCap),
       |cands AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |          FROM capped x JOIN capped y
       |            ON x.blk = y.blk AND x.bv = y.bv AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b,
       |  len(list_filter(generate_series(1,$SimHashWidth),
       |    i -> substr(a.simhash, i, 1) <> substr(b.simhash, i, 1))) AS hamming
       |FROM cands JOIN sh a ON cands.doc_a = a.doc_id
       |           JOIN sh b ON cands.doc_b = b.doc_id
       |WHERE len(list_filter(generate_series(1,$SimHashWidth),
       |    i -> substr(a.simhash, i, 1) <> substr(b.simhash, i, 1))) <= $HammingMax
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------- n-gram Jaccard (exact)

  private[graft] val TrigramJaccardThreshold = 0.1

  /** Posting-list document-frequency cap: per shingle, only the
    * [[ShingleDfCap]] LOWEST doc_ids stay in candidate generation. Without
    * a cap one hot stop-shingle shared by k docs creates a k² candidate
    * bucket — the classic inverted-index scale killer. SAMPLING the
    * posting list (rather than dropping it outright) means a boilerplate
    * cluster larger than the cap still generates within-cluster candidate
    * pairs among its sampled members; docs of such a cluster sharing ONLY
    * capped shingles with each other can still escape — the documented
    * recall trade for bounding the bucket at cap². Mirrored in the oracle
    * (row_number over gram ordered by doc_id). */
  private[graft] val ShingleDfCap = 20

  /** Exact n-gram Jaccard dedup with inverted-index candidate generation:
    * docs sharing ≥1 trigram shingle are candidates, then the exact
    * Jaccard filter runs on candidates only.
    *
    * ONE shuffle builds the capped posting lists — `groupBy(gram)` with
    * `sort_array ∘ collect_list` sliced to [[ShingleDfCap]] (identical
    * semantics to ranking every posting list by doc_id; the per-group
    * sort is local, never a full-index sort). Candidate pairs then come
    * straight off each capped list (i<j positions of a sorted array ⇒
    * doc_a < doc_b), so each gram emits each pair ONCE — no
    * inverted-index self-join, no df² bucket probe; the pair count per
    * gram is bounded by C(cap,2). Skew note: a degenerate stop-shingle
    * concentrates its (capped) posting build in one task — the same
    * concentration a window/self-join would have, bounded by the cap.
    *
    * Cost note (why this is the slowest battery query, ~2.9 s at sf0.1):
    * the fixture's dense vocabulary yields ~1.13M candidate pairs from
    * 27k distinct trigrams, and EVERY pair pays the exact merge-walk
    * verify — that is the semantics of the exact inverted-index tier,
    * not waste. dd3 (MinHash verify) and dd16 (signature-only estimate)
    * are the tiers that trade this exactness away at scale. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // The whole pipeline runs on HASHED shingles (each gram → its first
    // 15 md5 hex chars as a 60-bit long, distinct + sorted ONCE per
    // document in the cached [[hashedGramsOf]] table): posting lists key
    // by the hash, and the per-pair Jaccard is a merge walk over longs
    // instead of ~2·|grams| string hashings (the hot path: ~1.3M pairs
    // at sf0.1). A 60-bit collision (P ≈ 2⁻⁴⁵ inside one pair's union,
    // ~27k²/2⁶¹ for a posting-list merge) is the only way this differs
    // from string grams, and the oracle hashes identically so parity
    // holds even then. r19: previously only the verify tier hashed —
    // the posting build and both verify sides each re-deserialized the
    // ~30 MB cached STRING table (~1.5 s per pass at sf0.1).
    val hdocs = hashedGramsOf(spark, dir, 3)
    // explode_outer: see minhashLsh — avoids re-evaluating the array
    // expression inside a pushed-down size(..)>0 filter.
    val invAll = hdocs.select(col("doc_id"), explode_outer(col("hg")).as("gram"))
    // REPARTITION the capped posting lists across the cluster before pair
    // generation (r20): the stage downstream of this aggregate is the
    // query's entire hot loop — the C(cap,2) pair explosion plus the
    // per-pair merge-walk verify, ~50× more compute per byte than the
    // bytes suggest — and AQE's BYTE-based partition coalescing collapsed
    // the postings exchange to ~1 partition at gate scale (the whole
    // verify measured 6 tasks / parallelism 0.8 on 32 cores). The width
    // derives from the cluster (defaultParallelism), not a constant; the
    // cost is one exchange of the |grams|-row posting table (27k rows at
    // sf0.1 — trivial against the serialized verify it unblocks).
    val postings = invAll.filter(col("gram").isNotNull)
      .groupBy(col("gram"))
      .agg(slice(sort_array(collect_list(col("doc_id"))), 1, ShingleDfCap).as("docs"))
      .repartition(spark.sparkContext.defaultParallelism)
    // NO pre-verify distinct: a pair re-emitted by each shared gram
    // (~12% of raw pairs at sf0.1) re-runs only the cheap merge walk,
    // where deduping FIRST paid a full 1.1M-row exchange + two hash
    // aggregates (r19: the single most expensive stage of the query);
    // the post-filter distinct below dedupes the ~300 surviving rows.
    val cands = cappedBucketPairsRaw(postings)
    // BROADCAST THE DOC SIDE, STREAM THE PAIRS (r20): left to size
    // estimates the planner broadcast the ~1.3M-row PAIR stream
    // (BuildLeft) and streamed the doc table — so the whole merge-walk
    // verify (the query's hot loop: ~400 long comparisons per pair plus a
    // ~1.6 KB grams_a copy per matched row) ran at the doc scan's
    // parallelism, a near-single-partition InMemoryTableScan. With the
    // doc side pinned as the build side (the planner already builds the
    // `gb` join on the doc side), the pair stream keeps the postings
    // exchange's partitioning and the verify spreads over every core (guide §3.1 "broadcast the side that fits" — the pair stream
    // is always the bigger side: |pairs| ≥ docs·(cap−1)/2 shared grams).
    // hint kept (backwards estimate): unhinted, the pair stream is broadcast (above)
    val ga = broadcast(
      hdocs.select(col("doc_id").as("doc_a"), col("hg").as("grams_a")))
    val gb = hdocs.select(col("doc_id").as("doc_b"), col("hg").as("grams_b"))
    cands.join(ga, "doc_a").join(gb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        graft.functions.TextHashFunctions.jaccardSorted(col("grams_a"), col("grams_b"))
          .as("jaccard"))
      .filter(col("jaccard") >= TrigramJaccardThreshold)
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val ngramJaccardSql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
       |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g FROM w),
       |hg AS MATERIALIZED (SELECT doc_id, list_distinct(list_transform(g,
       |         x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT))) AS g
       |       FROM sh),
       |inv_all AS (SELECT doc_id, unnest(g) AS gram FROM hg),
       |inv AS (SELECT doc_id, gram FROM inv_all
       |        QUALIFY row_number() OVER (PARTITION BY gram ORDER BY doc_id) <= $ShingleDfCap),
       |cands AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |          FROM inv x JOIN inv y ON x.gram = y.gram AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b,
       |  CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
       |  CAST(len(list_distinct(a.g || b.g)) AS DOUBLE) AS jaccard
       |FROM cands JOIN hg a ON cands.doc_a = a.doc_id
       |           JOIN hg b ON cands.doc_b = b.doc_id
       |WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
       |      CAST(len(list_distinct(a.g || b.g)) AS DOUBLE) >= $TrigramJaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------- embedding cosine near-dup

  private val CosineThreshold = 0.4

  /** Double-cast vector as a column (float32 → float64 BEFORE any
    * arithmetic, so Spark and DuckDB do identical IEEE double ops). */
  def vecD(c: Column): Column = transform(c, x => x.cast(DoubleType))

  /** Left-fold dot product in index order — bit-identical across engines. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))

  /** Composable higher-order-function form — kept as the readable reference
    * implementation and the A/B baseline for the native expression. */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine via the native codegen expression (bit-identical to
    * [[cosineHof]] — same widen-to-double, same left-to-right accumulation
    * — but runs inside WholeStageCodegen instead of interpreted lambdas). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosineSim(a, b)

  /** Embedding near-dup pairs by cosine — the EXACT O(n²) baseline, kept
    * deliberately as the ground truth the ANN path (Similarity.annLsh) is
    * measured against. At 100 TB one runs the LSH variant; this one is for
    * verification tiers and small slices. */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings").select(col("vec_id"), vecD(col("embedding")).as("v"))
    val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"))
    val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), cosine(col("va"), col("vb")).as("cos_sim"))
      .filter(col("cos_sim") >= CosineThreshold)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  val embeddingNearDupSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  list_reduce(list_transform(generate_series(1,64), i -> a.v[i] * b.v[i]), (x,y) -> x+y) /
       |  (sqrt(list_reduce(list_transform(a.v, x -> x*x), (x,y) -> x+y)) *
       |   sqrt(list_reduce(list_transform(b.v, x -> x*x), (x,y) -> x+y))) AS cos_sim
       |FROM e a JOIN e b ON a.vec_id < b.vec_id
       |WHERE list_reduce(list_transform(generate_series(1,64), i -> a.v[i] * b.v[i]), (x,y) -> x+y) /
       |      (sqrt(list_reduce(list_transform(a.v, x -> x*x), (x,y) -> x+y)) *
       |       sqrt(list_reduce(list_transform(b.v, x -> x*x), (x,y) -> x+y))) >= $CosineThreshold
       |ORDER BY vec_a, vec_b""".stripMargin

  /** Embedding near-dup AT SCALE: candidates are pairs sharing an IVF
    * coarse cell (Similarity.ivfCells — a key-equality join on the cell),
    * verified by exact cosine. The subset of [[embeddingNearDup]]'s pairs
    * whose members quantize to the same cell; at 100 TB this is the
    * runnable variant (per-cell self-joins instead of O(n²)). */
  def ivfNearDup(spark: SparkSession, dir: String): DataFrame = {
    // confirmed-pair cache, same contract as dd3's: dd9/dd14 both consume
    // this pass (dd14 twice per bench run), and the per-cell self-join +
    // exact verify is the expensive step — materialize once per snapshot
    ivfPairsCache.get(spark, dir) {
      val cells = Similarity.ivfCells(spark, dir)
      val a = cells.select(col("cell"), col("vec_id").as("vec_a"), col("v").as("va"))
      val b = cells.select(col("cell"), col("vec_id").as("vec_b"), col("v").as("vb"))
      a.join(b, Seq("cell"))
        .filter(col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"), cosine(col("va"), col("vb")).as("cos_sim"))
        .filter(col("cos_sim") >= CosineThreshold)
        .orderBy(col("vec_a"), col("vec_b"))
        .persist()
    }
  }

  private val ivfPairsCache = SessionCache.persisted()

  val ivfNearDupSql: String = {
    val cos = "list_reduce(list_transform(generate_series(1,64), i -> %s[i] * %s[i]), (x,y) -> x+y)" +
      " / (sqrt(list_reduce(list_transform(%s, x -> x*x), (x,y) -> x+y))" +
      " * sqrt(list_reduce(list_transform(%s, x -> x*x), (x,y) -> x+y)))"
    val cellCos = cos.format("e.v", "ex.cv", "e.v", "ex.cv")
    val pairCos = cos.format("va", "vb", "va", "vb")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings),
       |${Similarity.exemplarCteSql},
       |cells AS (SELECT vec_id, v, cell FROM (
       |            SELECT e.vec_id, e.v, ex.cell,
       |              ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |                ORDER BY $cellCos DESC, ex.cell) AS rn
       |            FROM e CROSS JOIN ex) x WHERE rn = 1),
       |pairs AS (SELECT a.vec_id AS vec_a, a.v AS va, b.vec_id AS vec_b, b.v AS vb
       |          FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b, $pairCos AS cos_sim
       |FROM pairs
       |WHERE $pairCos >= $CosineThreshold
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  /** Cross-modal near-dup validation: the MinHash+LSH text pairs joined
    * with the embedding cosine of the same ids (doc_id ≡ vec_id in the
    * fixtures) — the standard second signal before dropping a "duplicate"
    * at scale. Two broadcast lookups against the small pair set. */
  def crossmodalNearDup(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashLsh(spark, dir)
    val e = t(spark, dir, "embeddings")
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
    val ea = e.select(col("vec_id").as("doc_a"), col("v").as("va"))
    val eb = e.select(col("vec_id").as("doc_b"), col("v").as("vb"))
    pairs.join(ea, "doc_a").join(eb, "doc_b")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        cosine(col("va"), col("vb")).as("cos_sim"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val crossmodalNearDupSql: String = {
    val cos = "list_reduce(list_transform(generate_series(1,64), i -> va[i] * vb[i]), (x,y) -> x+y)" +
      " / (sqrt(list_reduce(list_transform(va, x -> x*x), (x,y) -> x+y))" +
      " * sqrt(list_reduce(list_transform(vb, x -> x*x), (x,y) -> x+y)))"
    s"""WITH pairs AS ($minhashLshCoreSql),
       |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |      FROM embeddings)
       |SELECT doc_a, doc_b, jaccard, $cos AS cos_sim
       |FROM pairs
       |JOIN (SELECT vec_id AS doc_a, v AS va FROM e) USING (doc_a)
       |JOIN (SELECT vec_id AS doc_b, v AS vb FROM e) USING (doc_b)
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ------------------------------------------- KMV distinct-count sketch

  private val KmvK = 256

  /** Corpus-wide distinct-shingle count via the KMV sketch Aggregator
    * (graft.functions.KmvDistinct) next to the exact count — the sketch is
    * deterministic (set-minimum), so even the ESTIMATE hash-matches the
    * DuckDB oracle computing the same k minima. At 100 TB the sketch path
    * shuffles O(k) per partition instead of every distinct shingle. */
  def kmvDistinctShingles(spark: SparkSession, dir: String): DataFrame = {
    val docs = gramsOf(spark, dir, 3)
    val inv = docs.select(explode_outer(col("grams")).as("gram"))
      .filter(col("gram").isNotNull)
    inv.agg(
      graft.functions.KmvDistinct.kmvDistinct(md5(col("gram")), KmvK).as("kmv_estimate"),
      countDistinct(col("gram")).as("exact_distinct"))
      .select(col("kmv_estimate"), col("exact_distinct"),
        ((col("kmv_estimate") - col("exact_distinct")) / col("exact_distinct"))
          .as("rel_error"))
  }

  val kmvDistinctShinglesSql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
       |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g FROM w),
       |inv AS (SELECT unnest(g) AS gram FROM sh),
       |h AS (SELECT DISTINCT md5(gram) AS hv FROM inv),
       |mins AS (SELECT hv FROM h ORDER BY hv LIMIT $KmvK),
       |kth AS (SELECT max(hv) AS kh FROM mins),
       |est AS (SELECT CASE WHEN (SELECT count(*) FROM mins) < $KmvK
       |          THEN CAST((SELECT count(*) FROM mins) AS DOUBLE)
       |          ELSE ($KmvK - 1) * power(16.0, 12.0) /
       |            (SELECT list_reduce(list_transform(generate_series(1,12),
       |              i -> CAST(strpos('0123456789abcdef', substr(kh,i,1)) - 1 AS DOUBLE)
       |                   * power(16.0, CAST(12 - i AS DOUBLE))), (x,y) -> x+y)
       |             FROM kth) END AS kmv_estimate)
       |SELECT kmv_estimate,
       |  (SELECT count(*) FROM h) AS exact_distinct,
       |  (kmv_estimate - (SELECT count(*) FROM h)) / (SELECT count(*) FROM h) AS rel_error
       |FROM est""".stripMargin

  // ------------------------------------------------- incremental dedup

  /** Incremental dedup — the production admission shape: a small INCOMING
    * batch (doc_id % 10 == 0, standing in for a new crawl slice) checked
    * against the EXISTING corpus (everything else). Exact content matches
    * drop first, then minhash-band near-dups verified by exact Jaccard
    * (dd3's thresholds). Plan shape for 100 TB: the incoming side is
    * small, so ITS hash set and band table are the broadcast build sides
    * — the existing corpus is scanned once and never self-joined, which
    * is what makes per-slice admission O(corpus scan), not O(corpus²).
    * Incoming-vs-incoming duplicates are deliberately not checked here
    * (that is dd1/dd3's job on the slice itself). */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val isIncoming = col("doc_id") % 10 === 0
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    val g = gramsOf(spark, dir, 2) // cached shingle table, shared with dd3
    admitImpl(docs.filter(!isIncoming), g.filter(!isIncoming),
      docs.filter(isIncoming), g.filter(isIncoming))
  }

  /** INTRA-SLICE dedup verdicts — the r12 ADVICE gap: two fresh
    * documents that duplicate EACH OTHER inside one slice/micro-batch
    * both pass any corpus-only admission check. Non-recursive clock rule
    * (the ss18 occlusion analogue — the batch variant of "process in
    * order"): a document is a duplicate-in-slice if it exact- or
    * near-dups ANY strictly (clock, doc_id)-earlier document of the same
    * slice, whether or not that one is itself admitted downstream —
    * deterministic and order-free, so replayed batches agree. One banded
    * self-join (dd3's candidate shape) + exact-Jaccard verification;
    * digest equality for the exact tier. Input: (doc_id, text, clock);
    * returns (doc_id, status ∈ {kept, exact_dup_in_batch,
    * near_dup_in_batch}). */
  def dedupWithinSlice(incoming: DataFrame): DataFrame = {
    val keyed = incoming.select(col("doc_id"), col("text"),
      struct(col("clock"), col("doc_id")).as("ck"))
    val h = keyed.select(col("doc_id"), md5(col("text")).as("h"), col("ck"))
    val exactDup = h.as("a").join(h.as("b"),
        col("a.h") === col("b.h") && col("a.ck") < col("b.ck"))
      .select(col("b.doc_id").as("doc_id")).distinct()
    val g = gramsOfDocs(keyed, 2)
    val bands = bandedOf(g)
    val ckOf = keyed.select(col("doc_id"), col("ck"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.doc_id").as("ea_id"), col("y.doc_id").as("in_id"))
      .distinct()
      .join(ckOf.select(col("doc_id").as("ea_id"), col("ck").as("ck_a")), "ea_id")
      .join(ckOf.select(col("doc_id").as("in_id"), col("ck").as("ck_b")), "in_id")
      .filter(col("ck_a") < col("ck_b"))
    val gi = g.select(col("doc_id").as("in_id"), col("grams").as("grams_in"))
    val ge = g.select(col("doc_id").as("ea_id"), col("grams").as("grams_ex"))
    val nearDup = cand.join(gi, "in_id").join(ge, "ea_id")
      .filter(jaccard(col("grams_in"), col("grams_ex")) >= MinhashJaccardThreshold)
      .select(col("in_id").as("doc_id")).distinct()
    keyed.select(col("doc_id"))
      .join(exactDup.withColumn("_e", lit(1)), Seq("doc_id"), "left")
      .join(nearDup.withColumn("_n", lit(1)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("_e") === 1, "exact_dup_in_batch")
          .when(col("_n") === 1, "near_dup_in_batch")
          .otherwise("kept").as("status"))
  }

  /** Free-standing admission operator — dd12's dataflow over ARBITRARY
    * (doc_id, text) frames instead of the fixture split, so it composes
    * into a streaming pipeline: call per micro-batch from `foreachBatch`
    * with the accumulated corpus as `corpus` and the batch as `incoming`
    * (StreamingOpsSpec drives exactly that). Same plan shape: the
    * incoming slice is the broadcast build side, the corpus is scanned
    * once and never self-joined. */
  def admitAgainst(corpus: DataFrame, incoming: DataFrame): DataFrame =
    admitImpl(corpus, gramsOfDocs(corpus, 2), incoming, gramsOfDocs(incoming, 2))

  /** [[admitAgainst]] with the dd15 Bloom prefilter fused in front of the
    * exact-duplicate check: the corpus digest bitset is built once (one
    * map-side-combined DISTINCT, state ≤ m positions) and broadcast, and
    * only incoming rows the filter cannot rule out (`bloom_maybe`) pay
    * the digest join — no-false-negatives makes the verdicts IDENTICAL
    * to [[admitAgainst]]'s (asserted in StreamingOpsSpec). The near-dup
    * band check still sees every incoming row: similar-but-not-identical
    * text hashes to different Bloom positions, so the filter can never
    * gate it. Returns (doc_id, bloom_maybe, status). */
  def admitAgainstWithBloom(corpus: DataFrame, incoming: DataFrame): DataFrame = {
    val bits = corpus.select(explode(bloomPositions(col("text"))).as("p"))
      .distinct().agg(sort_array(collect_list(col("p"))).as("bits"))
    val flagged = incoming.crossJoin(bits)
      .withColumn("bloom_maybe",
        forall(bloomPositions(col("text")), p => array_contains(col("bits"), p)))
      .select(col("doc_id"), col("text"), col("bloom_maybe"))
    admitImpl(corpus, gramsOfDocs(corpus, 2),
      incoming, gramsOfDocs(incoming, 2),
      exactCheckIds = Some(flagged.filter(col("bloom_maybe")).select(col("doc_id"))))
      .join(flagged.select(col("doc_id"), col("bloom_maybe")), "doc_id")
      .select(col("doc_id"), col("bloom_maybe"), col("status"))
      .orderBy(col("doc_id"))
  }

  private def admitImpl(
      corpus: DataFrame, corpusGrams: DataFrame,
      incoming: DataFrame, incomingGrams: DataFrame,
      exactCheckIds: Option[DataFrame] = None): DataFrame = {
    val inAll = incoming.select(col("doc_id"), md5(col("text")).as("h"))
    // with a Bloom gate, only the maybe-rows reach the digest join
    val inH = exactCheckIds.fold(inAll)(ids =>
      inAll.join(ids, Seq("doc_id"), "left_semi"))
    val existingH = corpus.select(md5(col("text")).as("h")).distinct()
    val exactDup = inH.join(existingH, Seq("h"), "left_semi").select(col("doc_id"))
    val cand = bandedOf(corpusGrams).as("x")
      .join(bandedOf(incomingGrams).as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .select(col("y.doc_id").as("in_id"), col("x.doc_id").as("ex_id"))
      .distinct()
    val gi = incomingGrams.select(col("doc_id").as("in_id"), col("grams").as("grams_in"))
    val ge = corpusGrams.select(col("doc_id").as("ex_id"), col("grams").as("grams_ex"))
    val nearDup = cand.join(gi, "in_id").join(ge, "ex_id")
      .filter(jaccard(col("grams_in"), col("grams_ex")) >= MinhashJaccardThreshold)
      .select(col("in_id").as("doc_id")).distinct()
    incoming.select(col("doc_id"))
      .join(exactDup.withColumn("_e", lit(1)), Seq("doc_id"), "left")
      .join(nearDup.withColumn("_n", lit(1)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("_e") === 1, "exact_dup")
          .when(col("_n") === 1, "near_dup")
          .otherwise("admitted").as("status"))
      .orderBy(col("doc_id"))
  }

  val incrementalDedupSql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-1),
       |         i -> w[i] || ' ' || w[i+1])) AS g FROM w),
       |h AS (SELECT doc_id, md5(text) AS h FROM documents),
       |inc AS (SELECT doc_id, h FROM h WHERE doc_id % 10 = 0),
       |exact_dup AS (SELECT doc_id FROM inc
       |  WHERE h IN (SELECT h FROM h WHERE doc_id % 10 <> 0)),
       |sig AS (SELECT doc_id, g, $sigListSql AS sig FROM sh),
       |bands AS (SELECT doc_id, band, $bandExprsSql[band+1] AS bh
       |          FROM sig CROSS JOIN (SELECT unnest(generate_series(0, ${NumBands - 1})) AS band)),
       |cand AS (SELECT DISTINCT y.doc_id AS in_id, x.doc_id AS ex_id
       |         FROM bands x JOIN bands y ON x.band = y.band AND x.bh = y.bh
       |         WHERE y.doc_id % 10 = 0 AND x.doc_id % 10 <> 0),
       |near_dup AS (SELECT DISTINCT in_id AS doc_id FROM cand
       |  JOIN sh a ON cand.in_id = a.doc_id JOIN sh b ON cand.ex_id = b.doc_id
       |  WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
       |        CAST(len(list_distinct(a.g || b.g)) AS DOUBLE) >= $MinhashJaccardThreshold)
       |SELECT i.doc_id,
       |  CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
       |       WHEN n.doc_id IS NOT NULL THEN 'near_dup'
       |       ELSE 'admitted' END AS status
       |FROM inc i LEFT JOIN exact_dup e ON i.doc_id = e.doc_id
       |           LEFT JOIN near_dup n ON i.doc_id = n.doc_id
       |ORDER BY i.doc_id""".stripMargin

  // --------------------------------------------- semantic admission (dd18)

  /** Semantic admission (dd18): dd12's incremental-admission shape lifted
    * from lexical shingles to EMBEDDINGS — an incoming vector slice
    * (vec_id % 10 == 0) is admitted only if no existing-corpus vector in
    * its IVF cell reaches [[CosineThreshold]] cosine; otherwise it is a
    * semantic duplicate of its nearest neighbor. This is the admission
    * counterpart of dd14's batch semantic dedup: dd14 cleans a corpus
    * in place, dd18 gates what enters it (paraphrases and re-encodings
    * that lexical admission — dd12 — cannot see).
    *
    * Scale shape: cell assignment is the scan-side argmax over codebook
    * literals (shared with dd9 via Similarity.ivfCells); the incoming
    * batch is the BROADCAST side of the cell equi-join, so the corpus is
    * scanned once and never self-joined; the nearest-neighbor pick is a
    * map-side-combinable MAX over struct(cos, −id) — no window. Verdicts
    * for vectors with an empty probed cell are 'admitted' with null
    * nearest. Multiprobe assignment (ss4/ss7's pattern) is the recall
    * knob when cells are fine-grained.
    *
    * Broadcast contract: the small side should be the ADMISSION BATCH —
    * bounded by ingest cadence, not by corpus size. The fixture's
    * `vec_id % 10` slice stands in for that batch at test scale; the join
    * carries no hint, so an incoming side that is a corpus FRACTION is
    * shuffled once it outgrows the threshold (the rest of the shape is
    * unchanged). */
  def semanticAdmission(spark: SparkSession, dir: String): DataFrame = {
    val isIncoming = col("vec_id") % 10 === 0
    val cells = Similarity.ivfCells(spark, dir)
    val inc = cells.filter(isIncoming)
      .select(col("cell"), col("vec_id"), col("v").as("vi"))
    val ex = cells.filter(!isIncoming)
      .select(col("cell"), col("vec_id").as("ex_id"), col("v").as("ve"))
    val best = ex.join(inc, "cell")
      .select(col("vec_id"),
        struct(cosine(col("vi"), col("ve")).as("c"), (-col("ex_id")).as("ni")).as("s"))
      .groupBy(col("vec_id"))
      .agg(max(col("s")).as("b"))
      .select(col("vec_id"), (-col("b.ni")).as("nearest_id"),
        col("b.c").as("nearest_sim"))
    inc.select(col("vec_id"))
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("nearest_id"), col("nearest_sim"),
        when(col("nearest_sim") >= CosineThreshold, "semantic_dup")
          .otherwise("admitted").as("status"))
      .orderBy(col("vec_id"))
  }

  val semanticAdmissionSql: String = {
    val cos = "list_reduce(list_transform(generate_series(1,64), i -> %s[i] * %s[i]), (x,y) -> x+y)" +
      " / (sqrt(list_reduce(list_transform(%s, x -> x*x), (x,y) -> x+y))" +
      " * sqrt(list_reduce(list_transform(%s, x -> x*x), (x,y) -> x+y)))"
    val cellCos = cos.format("e.v", "ex.cv", "e.v", "ex.cv")
    val pairCos = cos.format("i.v", "x.v", "i.v", "x.v")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |           FROM embeddings),
       |${Similarity.exemplarCteSql},
       |cells AS (SELECT vec_id, v, cell FROM (
       |            SELECT e.vec_id, e.v, ex.cell,
       |              ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |                ORDER BY $cellCos DESC, ex.cell) AS rn
       |            FROM e CROSS JOIN ex) x WHERE rn = 1),
       |inc AS (SELECT * FROM cells WHERE vec_id % 10 = 0),
       |exc AS (SELECT * FROM cells WHERE vec_id % 10 <> 0),
       |scored AS (SELECT i.vec_id, x.vec_id AS ex_id, $pairCos AS cos_sim
       |           FROM inc i JOIN exc x ON i.cell = x.cell),
       |best AS (SELECT vec_id, ex_id AS nearest_id, cos_sim AS nearest_sim FROM (
       |           SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |             ORDER BY cos_sim DESC, ex_id) AS rn FROM scored) y WHERE rn = 1)
       |SELECT i.vec_id, b.nearest_id, b.nearest_sim,
       |  CASE WHEN b.nearest_sim >= $CosineThreshold THEN 'semantic_dup'
       |       ELSE 'admitted' END AS status
       |FROM (SELECT vec_id FROM inc) i LEFT JOIN best b USING (vec_id)
       |ORDER BY i.vec_id""".stripMargin
  }

  // --------------------------------------------- bloom admission prefilter

  /** Bloom hash count (k) and width: each key sets k positions drawn from
    * non-overlapping 3-hex-char (12-bit) windows of its md5, so the filter
    * is m = 4096 bits and the position math is exact integer arithmetic in
    * both engines (no modulo of floating point anywhere). */
  private val BloomK = 3

  private def bloomPositions(c: Column): Column =
    array((0 until BloomK).map(i =>
      conv(substring(md5(c), i * 3 + 1, 3), 16, 10).cast(LongType)): _*)

  /** Bloom-filter admission prefilter (dd15) — the cheap gate in FRONT of
    * dd12's exact/near-dup admission: the corpus's content-hash Bloom
    * filter is a FIXED-SIZE bit set (here m = 4096, k = [[BloomK]]), so
    * membership of an incoming document is decided scan-side against a
    * broadcast bitset with NO join at all for the definitely-new majority.
    * A Bloom miss is a guarantee (no false negatives — a true duplicate
    * always sets positions the corpus set), so the production admission
    * path filters `bloom_maybe` BEFORE the digest join and only Bloom hits
    * pay the exact check. This gate query deliberately labels every
    * incoming row (including the misses) so the false-positive rate —
    * `admitted_after_check` — is itself under the oracle.
    *
    * Scale posture: the corpus pass is one map-side-combined DISTINCT over
    * ≤ m position values (the aggregate state is the bitset, independent
    * of corpus size — same contract as dd8/ev7's sketches); the bitset
    * broadcasts; the incoming scan evaluates membership per row. At 100 TB
    * m grows to a few hundred MB of bits and the shape is unchanged —
    * this is exactly how production pipelines avoid re-shuffling the
    * corpus digest table for every incoming crawl slice. */
  def bloomPrefilter(spark: SparkSession, dir: String): DataFrame = {
    val isIncoming = col("doc_id") % 10 === 0
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    val corpus = docs.filter(!isIncoming)
    val bits = corpus.select(explode(bloomPositions(col("text"))).as("p"))
      .distinct().agg(sort_array(collect_list(col("p"))).as("bits"))
    val corpusH = corpus.select(md5(col("text")).as("h")).distinct()
      .withColumn("_dup", lit(1))
    docs.filter(isIncoming)
      .select(col("doc_id"), md5(col("text")).as("h"),
        bloomPositions(col("text")).as("pos"))
      .crossJoin(bits)
      .withColumn("bloom_maybe",
        forall(col("pos"), p => array_contains(col("bits"), p)))
      .join(corpusH, Seq("h"), "left")
      .select(
        col("doc_id"), col("bloom_maybe"),
        col("_dup").isNotNull.as("is_exact_dup"),
        when(!col("bloom_maybe"), "admitted_fast")
          .when(col("_dup").isNotNull, "rejected_dup")
          .otherwise("admitted_after_check").as("status"))
      .orderBy(col("doc_id"))
  }

  val bloomPrefilterSql: String = {
    def hex3(off: Int): String =
      s"(strpos('0123456789abcdef', substr(h, ${off * 3 + 1}, 1))-1)*256 + " +
        s"(strpos('0123456789abcdef', substr(h, ${off * 3 + 2}, 1))-1)*16 + " +
        s"(strpos('0123456789abcdef', substr(h, ${off * 3 + 3}, 1))-1)"
    s"""WITH d AS (SELECT doc_id, md5(text) AS h FROM documents),
       |pos AS (SELECT doc_id, unnest([${(0 until BloomK).map(hex3).mkString(", ")}]) AS p
       |        FROM d),
       |cbits AS (SELECT DISTINCT p FROM pos WHERE doc_id % 10 <> 0),
       |ch AS (SELECT DISTINCT h FROM d WHERE doc_id % 10 <> 0),
       |m AS (SELECT pos.doc_id, bool_and(cb.p IS NOT NULL) AS bloom_maybe
       |      FROM pos LEFT JOIN cbits cb ON pos.p = cb.p
       |      WHERE pos.doc_id % 10 = 0 GROUP BY pos.doc_id)
       |SELECT i.doc_id, m.bloom_maybe, ch.h IS NOT NULL AS is_exact_dup,
       |  CASE WHEN NOT m.bloom_maybe THEN 'admitted_fast'
       |       WHEN ch.h IS NOT NULL THEN 'rejected_dup'
       |       ELSE 'admitted_after_check' END AS status
       |FROM (SELECT doc_id, h FROM d WHERE doc_id % 10 = 0) i
       |JOIN m ON i.doc_id = m.doc_id
       |LEFT JOIN ch ON i.h = ch.h
       |ORDER BY i.doc_id""".stripMargin
  }

  // --------------------------------------------- dedup cluster assignment

  /** Near-dup CLUSTER assignment — the step that turns pairwise matches
    * into delete decisions at 100 TB: connected components over the dd3
    * pair graph, cluster id = min doc_id in the component (so "keep the
    * canonical copy, drop the rest" is `doc_id != cluster_id`).
    *
    * Min-label propagation (the Pregel pattern): each iteration joins
    * labels across edges and takes the per-node min; each round is pinned
    * ([[GraftCheckpoint]]), which truncates the growing lineage (its per-iteration blocks — a few KB
    * of labels each — are reclaimed by Spark's ContextCleaner once the
    * intermediate frames become unreachable, the standard cost of
    * iterative Spark). The driver loop is the documented exception to
    * "no driver-side loops" — iteration count is the component DIAMETER
    * (near-dup clusters are tiny and dense, 2-4 hops), not the data
    * size, and each step is a distributed join.
    * Deterministic (min is order-independent), so the whole clustering
    * hash-matches a DuckDB recursive-CTE transitive closure. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    textMinLabels(spark, dir)
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        (count(lit(1)) - 1).as("n_removed"))
      .orderBy(col("cluster_id"))
  }

  /** dd3's text near-dup components, propagated ONCE per corpus snapshot
    * and session-cached (r16, the cur7 adjudication): the label
    * propagation is a multi-JOB iteration loop (one checkpoint job per
    * diameter hop), and its per-consumer cost — not any consumer's own
    * plan — was what moved cur7 across battery layouts (dd11 / dd17 /
    * dd22 / cur7 each re-ran the identical loop over the same cached
    * pairs; isolated-warm cur7 read 1.49 s of which ~1 s was this loop).
    * The labels frame is ≪ corpus (only docs in some pair) and already
    * pinned by [[GraftCheckpoint]] — the canonical SessionCache shape. */
  private val textLabelsCache = SessionCache.persisted()

  /** dd14's embedding-component labels, cached per (session, dir) exactly
    * like [[textMinLabels]] — see [[semanticDedup]]. */
  private val embLabelsCache = SessionCache.persisted()
  private def textMinLabels(spark: SparkSession, dir: String): DataFrame =
    textLabelsCache.get(spark, dir)(
      minLabelComponents(
        minhashLsh(spark, dir).select(col("doc_a"), col("doc_b"))))

  /** Connected components by min-label propagation over an undirected
    * pair list (columns doc_a, doc_b) → (node, label) with label = min
    * node id of the component. Shared by dd11 (text near-dup clusters)
    * and dd14 (embedding semantic-dedup clusters); see [[dedupClusters]]
    * for why the driver loop is bounded by component DIAMETER, not data
    * size. The result is pinned ([[GraftCheckpoint]]), so it stays valid
    * after the edge cache is released. Text-pair consumers go through
    * [[textMinLabels]]'s cache, not this directly. */
  private def minLabelComponents(pairs: DataFrame): DataFrame = {
    val edges = pairs.unionByName(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))).persist()
    try {
      var labels = edges.select(col("doc_a").as("node")).distinct()
        .withColumn("label", col("node")).transform(GraftCheckpoint.pin)
      var changed = 1L
      var iters = 0
      while (changed > 0 && iters < 50) {
        val neigh = edges.join(labels, edges("doc_b") === labels("node"))
          .select(edges("doc_a").as("node"), col("label"),
            lit(null).cast(LongType).as("old"))
        // carry each node's previous label through the same aggregate
        // (only the labels branch supplies `old`, so min picks it) — the
        // convergence check is then a count over the materialized frame
        // instead of a second join+aggregate job per iteration
        val updated = labels.withColumn("old", col("label"))
          .unionByName(neigh)
          .groupBy(col("node"))
          .agg(min(col("label")).as("label"), min(col("old")).as("old"))
          .transform(GraftCheckpoint.pin)
        changed = updated.filter(col("label") =!= col("old")).count()
        labels = updated.select(col("node"), col("label"))
        iters += 1
      }
      // a non-converged result is WRONG (components split arbitrarily),
      // not approximate — fail loudly rather than return it
      require(changed == 0,
        s"minLabelComponents did not converge in $iters iterations (component diameter > $iters)")
      labels
    } finally edges.unpersist(blocking = false)
  }

  /** Semantic dedup over embeddings (dd14) — SemDeDup end to end: IVF-cell
    * cosine pairs (dd9's bounded candidate generator) → connected
    * components ([[minLabelComponents]]) → a per-vector keep/drop ledger
    * with cluster_id = the component's min vec_id (the canonical copy).
    * Singletons keep themselves. This is the table a curation run joins
    * against to drop semantic duplicates the lexical passes (dd1–dd6)
    * cannot see.
    *
    * Scale posture: inherits dd9's per-cell candidate bound and dd11's
    * diameter-bounded propagation; the final left join is labels (≪
    * corpus) against one embeddings scan. */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    // component labels cached per (session, dir) like textMinLabels (the
    // dd11/dd17 cache): the propagation is a driver LOOP of per-iteration
    // join+aggregate jobs over the (cached) ivf pair set, and re-running
    // it per invocation re-paid the whole loop each time (r19: dd14 was
    // the third-slowest battery query with both of its inputs cached).
    // "Materialize once per corpus snapshot" — the labels ARE the dedup
    // ledger a curation run joins against, the same artifact class as the
    // confirmed-pair cache feeding it. Released via uncacheShingles.
    val labels = embLabelsCache.get(spark, dir)(
      minLabelComponents(ivfNearDup(spark, dir)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))))
    t(spark, dir, "embeddings").select(col("vec_id"))
      .join(labels, col("vec_id") === col("node"), "left")
      .select(col("vec_id"),
        coalesce(col("label"), col("vec_id")).as("cluster_id"))
      .withColumn("keep", col("vec_id") === col("cluster_id"))
      .orderBy(col("vec_id"))
  }

  val semanticDedupSql: String =
    s"""WITH RECURSIVE
       |p AS (SELECT vec_a, vec_b FROM ($ivfNearDupSql)),
       |ed AS (SELECT vec_a AS src, vec_b AS dst FROM p
       |       UNION ALL SELECT vec_b, vec_a FROM p),
       |nodes AS (SELECT DISTINCT src AS node FROM ed),
       |reach AS (
       |  SELECT node AS src, node AS dst FROM nodes
       |  UNION
       |  SELECT r.src, ed.dst FROM reach r JOIN ed ON r.dst = ed.src
       |),
       |lab AS (SELECT src AS node, MIN(dst) AS cluster_id FROM reach GROUP BY src)
       |SELECT v.vec_id,
       |  COALESCE(l.cluster_id, v.vec_id) AS cluster_id,
       |  v.vec_id = COALESCE(l.cluster_id, v.vec_id) AS keep
       |FROM embeddings v LEFT JOIN lab l ON v.vec_id = l.node
       |ORDER BY v.vec_id""".stripMargin

  val dedupClustersSql: String =
    s"""WITH RECURSIVE
       |p AS (SELECT doc_a, doc_b FROM ($minhashLshSql)),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
       |      UNION ALL SELECT doc_b, doc_a FROM p),
       |n AS (SELECT DISTINCT src AS node FROM e),
       |reach AS (
       |  SELECT node AS src, node AS dst FROM n
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src
       |),
       |lab AS (SELECT src AS node, MIN(dst) AS cluster_id FROM reach GROUP BY src)
       |SELECT cluster_id, COUNT(*) AS n_members,
       |  CAST(COUNT(*) - 1 AS BIGINT) AS n_removed
       |FROM lab GROUP BY 1 ORDER BY cluster_id""".stripMargin

  // ---------------------------------------------------- soft dedup (dd17)

  /** Soft dedup (dd17): instead of DROPPING near-duplicates, down-weight
    * them — each document's sampling weight is 1 / |its near-dup cluster|,
    * so every duplicate CLASS contributes one document-equivalent of
    * probability mass to the training mixture (the down-weighting
    * alternative to dd11's hard drop; duplicates then still add surface
    * diversity without over-representing their content). Clusters are
    * dd11's min-label components over dd3's confirmed pairs; singletons
    * weigh 1.
    *
    * Scale shape: labels (≪ corpus — only docs in some pair) left-join
    * one documents scan; cluster sizes are a map-side-combinable count;
    * the weight is one division of an exact BIGINT. No new shuffle class
    * beyond dd11. */
  def softDedupWeights(spark: SparkSession, dir: String): DataFrame = {
    val labels = textMinLabels(spark, dir)
    val assigned = t(spark, dir, "documents").select(col("doc_id"))
      .join(labels, col("doc_id") === col("node"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster_id"))
    val sizes = assigned.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    assigned.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (lit(1.0) / col("cluster_size").cast(DoubleType)).as("weight"))
      .orderBy(col("doc_id"))
  }

  val softDedupWeightsSql: String =
    s"""WITH RECURSIVE
       |p AS (SELECT doc_a, doc_b FROM ($minhashLshSql)),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
       |      UNION ALL SELECT doc_b, doc_a FROM p),
       |n AS (SELECT DISTINCT src AS node FROM e),
       |reach AS (
       |  SELECT node AS src, node AS dst FROM n
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src
       |),
       |lab AS (SELECT src AS node, MIN(dst) AS cluster_id FROM reach GROUP BY src),
       |assigned AS (SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
       |             FROM documents d LEFT JOIN lab l ON d.doc_id = l.node),
       |sizes AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
       |          FROM assigned GROUP BY 1)
       |SELECT doc_id, cluster_id, cluster_size,
       |  1.0 / CAST(cluster_size AS DOUBLE) AS weight
       |FROM assigned JOIN sizes USING (cluster_id)
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------- decontamination

  private val ContaminationThreshold = 0.5

  /** Benchmark decontamination (dd13): flag training documents whose
    * trigram-shingle CONTAINMENT in the eval set's gram union crosses
    * [[ContaminationThreshold]] — the standard test-set-overlap guard an
    * LLM data pipeline runs before training (n-gram containment, as in
    * GPT-3/C4-style dataset audits).
    *
    * Scale shape: the eval gram union is DISTINCT grams of a benchmark —
    * small by construction — so it BROADCASTS; the corpus side is one
    * explode + broadcast semi-count + map-side-combinable groupBy. The
    * corpus is never self-joined and never shuffled by gram. Shares the
    * cached shingle table with dd6 ([[gramsOf]]). */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val g = gramsOf(spark, dir, 3)
    val isEval = col("doc_id") % Constants.EvalMod === 0
    val evalGrams = g.filter(isEval)
      .select(explode_outer(col("grams")).as("gram"))
      .filter(col("gram").isNotNull).distinct()
    val corpus = g.filter(!isEval)
    val shared = corpus.select(col("doc_id"), explode_outer(col("grams")).as("gram"))
      .join(evalGrams, Seq("gram"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    corpus.select(col("doc_id"), size(col("grams")).cast(LongType).as("n_grams"))
      .join(shared, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        when(col("n_grams") > 0,
          coalesce(col("n_shared"), lit(0L)).cast(DoubleType) / col("n_grams"))
          .otherwise(lit(0.0)).as("containment"))
      .withColumn("contaminated", col("containment") >= ContaminationThreshold)
      .orderBy(col("doc_id"))
  }

  val decontaminateSql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(
       |         generate_series(1, greatest(len(w)-2, 0)),
       |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g FROM w),
       |ev AS (SELECT DISTINCT unnest(g) AS gram FROM sh WHERE doc_id % ${Constants.EvalMod} = 0),
       |corp AS (SELECT doc_id, g FROM sh WHERE doc_id % ${Constants.EvalMod} <> 0),
       |cg AS (SELECT doc_id, unnest(g) AS gram FROM corp),
       |shared AS (SELECT doc_id, count(*) AS n_shared FROM cg JOIN ev USING (gram)
       |           GROUP BY doc_id)
       |SELECT c.doc_id, CAST(len(c.g) AS BIGINT) AS n_grams,
       |  CAST(COALESCE(s.n_shared, 0) AS BIGINT) AS n_shared,
       |  CASE WHEN len(c.g) > 0
       |    THEN CAST(COALESCE(s.n_shared, 0) AS DOUBLE) / len(c.g)
       |    ELSE 0.0 END AS containment,
       |  CASE WHEN len(c.g) > 0
       |    THEN CAST(COALESCE(s.n_shared, 0) AS DOUBLE) / len(c.g)
       |    ELSE 0.0 END >= $ContaminationThreshold AS contaminated
       |FROM corp c LEFT JOIN shared s USING (doc_id)
       |ORDER BY c.doc_id""".stripMargin

  // ------------------------------ asymmetric containment dedup (dd20)

  private val ContainmentMin = 0.8

  /** Asymmetric containment near-dup (dd20): pairs where one document's
    * shingle set is (near-)contained in the other's — |A∩B|/|A| ≥
    * [[ContainmentMin]] in either direction. This is the wholesale-quote
    * case symmetric Jaccard structurally MISSES: a 50-gram doc embedded
    * verbatim in a 500-gram doc has containment 1.0 but Jaccard ≤ 0.1,
    * under every dd3-family threshold. Candidates still come off dd3's
    * capped band buckets (MinHash under-samples high-containment/low-
    * Jaccard pairs, but shared-shingle banding still surfaces them at
    * this corpus's size mix — the exactness lives in the verify tier, the
    * recall trade is the documented LSH property); verification computes
    * both directed containments plus Jaccard for contrast, all from
    * exact intersection counts.
    *
    * Scale: identical shape to dd3 — cached signatures, C(cap,2)-bounded
    * candidates, per-pair verify cost O(|grams|) — no new shuffle. */
  def containmentDup(spark: SparkSession, dir: String): DataFrame =
    containmentOfHashed(hashedGramsOf(spark, dir, 2), bandCandidates(spark, dir))

  /** The containment verify tier over an explicit (doc_id, grams) frame
    * and candidate pairs — the testable seam behind dd20. Grams must be
    * DISTINCT per document (they are: [[bigrams]] applies array_distinct).
    *
    * Verification runs on HASHED shingles, dd6's trick: each gram → its
    * first 15 md5 hex chars as a 60-bit long, sorted ONCE per document —
    * then ONE codegen merge walk per pair yields |A∩B|, from which both
    * directed containments AND the Jaccard derive arithmetically
    * (|A∪B| = |A|+|B|−|A∩B|). The string form evaluated
    * `array_intersect` (a per-pair hash-set build over string arrays)
    * plus a separate string-set Jaccard — ~4 set builds per pair on the
    * ~100k-pair hot path. A 60-bit collision inside one pair's union is
    * the only way counts could differ (P ≈ 2⁻⁴⁵ per pair), and the
    * oracle twin hashes identically so parity holds even then. */
  private[graft] def containmentOf(docs: DataFrame, cands: DataFrame): DataFrame =
    containmentOfHashed(docs.select(col("doc_id"),
      graft.functions.TextHashFunctions.hashedGramSet(col("grams")).as("hg")), cands)

  /** [[containmentOf]] over an already-hashed (doc_id, hg) frame — the
    * query path reads the cached [[hashedGramsOf]] table directly. */
  private def containmentOfHashed(hdocs: DataFrame, cands: DataFrame): DataFrame = {
    val ga = hdocs.select(col("doc_id").as("doc_a"), col("hg").as("grams_a"))
    val gb = hdocs.select(col("doc_id").as("doc_b"), col("hg").as("grams_b"))
    val inter = graft.functions.TextHashFunctions
      .interSorted(col("grams_a"), col("grams_b"))
    val na = size(col("grams_a")).cast(LongType)
    val nb = size(col("grams_b")).cast(LongType)
    cands.join(ga, "doc_a").join(gb, "doc_b")
      .select(col("doc_a"), col("doc_b"), inter.as("n_shared"),
        col("grams_a"), col("grams_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        (col("n_shared").cast(DoubleType) / na.cast(DoubleType))
          .as("containment_a"),
        (col("n_shared").cast(DoubleType) / nb.cast(DoubleType))
          .as("containment_b"),
        (col("n_shared").cast(DoubleType) /
          (na + nb - col("n_shared")).cast(DoubleType)).as("jaccard"))
      .filter(greatest(col("containment_a"), col("containment_b")) >= ContainmentMin)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val containmentDupSql: String = {
    val sigList = sigListSql
    val bandExprs = bandExprsSql
    s"""WITH w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-1),
       |         i -> w[i] || ' ' || w[i+1])) AS g FROM w),
       |sig AS (SELECT doc_id, g, $sigList AS sig FROM sh),
       |bands AS (SELECT doc_id, band, $bandExprs[band+1] AS bh
       |          FROM sig CROSS JOIN (SELECT unnest(generate_series(0, ${NumBands - 1})) AS band)),
       |capped AS (SELECT doc_id, band, bh FROM bands
       |           QUALIFY row_number() OVER (PARTITION BY band, bh ORDER BY doc_id) <= $BandBucketCap),
       |cands AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |          FROM capped x JOIN capped y
       |            ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
       |hg AS MATERIALIZED (SELECT doc_id, list_distinct(list_transform(g,
       |         x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT))) AS g
       |       FROM sh),
       |v AS (SELECT doc_a, doc_b,
       |        CAST(len(list_intersect(a.g, b.g)) AS BIGINT) AS n_shared,
       |        CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / len(a.g) AS containment_a,
       |        CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / len(b.g) AS containment_b,
       |        CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
       |          (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) AS jaccard
       |      FROM cands JOIN hg a ON cands.doc_a = a.doc_id
       |                 JOIN hg b ON cands.doc_b = b.doc_id)
       |SELECT * FROM v
       |WHERE greatest(containment_a, containment_b) >= $ContainmentMin
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ----------------------------- near-dup graph PageRank (dd21)

  private val PagerankIters = 3

  /** PageRank over the near-dup graph (dd21): which documents are the
    * duplication HUBS — a doc near-duplicated by many docs that are
    * themselves widely duplicated (a template, a syndicated original)
    * outranks one with the same degree in a quiet corner; degree (what
    * dd11's cluster sizes see) cannot make that distinction. Edges are
    * dd3's verified pairs, undirected; damping 0.85, [[PagerankIters]]
    * fixed iterations from a uniform start.
    *
    * Exact parity for an ITERATIVE numeric algorithm: ranks live in
    * integer micro-units and every step is integer arithmetic —
    * contribution = r // deg, next = (15·(1e6 // N) + 85·Σ) // 100 — so
    * the fixpoint trajectory is bit-identical in any engine and under
    * any partial-aggregation schedule; one double division renders the
    * final rank. The driver loop is dd11's documented exception
    * (iteration count fixed, each step a distributed join); the DuckDB
    * oracle unrolls the same three steps as chained CTEs.
    *
    * Scale: per iteration one edge join + one combinable sum — the
    * standard Pregel cost; edges are the C(cap,2)-bounded pair set.
    * The unrolled lineage is LINEAR (see the body comment): each rank
    * frame is consumed exactly once, so no per-iteration checkpoint jobs
    * are needed and the whole trajectory runs as one job chain (the r8
    * 4.07 s blow-up was the rank frame feeding TWO consumers per level —
    * 2^iters re-execution — which r8 fixed with an eager checkpoint per
    * iteration and r20 removes structurally; integer arithmetic is
    * oblivious to where materialization barriers sit). */
  def pagerank(spark: SparkSession, dir: String): DataFrame =
    pagerankIterated(spark, dir, PagerankIters)

  /** [[pagerank]] with the iteration count as a knob; the public entry
    * pins it to [[PagerankIters]] so the DuckDB oracle's unrolled CTE
    * chain always matches. */
  private[llmdata] def pagerankIterated(
      spark: SparkSession, dir: String, iters: Int): DataFrame = {
    val pairs = minhashLsh(spark, dir).select(col("doc_a"), col("doc_b"))
    val edges = pairs
      .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .toDF("src", "dst").distinct().transform(GraftCheckpoint.pin)
    // n0 — the STATIC (doc_id, deg, n) node frame — is checkpointed once;
    // each iteration's new rank joins contribs back to n0, NOT to the
    // previous rank frame, so r is consumed exactly ONCE per iteration
    // (deg/n ride in via n0). That makes the unrolled lineage LINEAR —
    // the r8 4.07 s blow-up came from r feeding both the contrib join and
    // the rebuild (2^iters re-execution), which the old code fixed with a
    // checkpoint JOB per iteration; consuming r once removes the
    // need for either (r19 verdict item 9: 3 fixed iterations now run as
    // one job chain instead of 3 eager checkpoint jobs + the final
    // action). Integer trajectory unchanged — same joins, same div order.
    val nodes = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("doc_id"), col("deg"))
    val nFrame = nodes.agg(count(lit(1)).as("n"))
    val n0 = nodes.crossJoin(nFrame).transform(GraftCheckpoint.pin)
    var r = n0.select(col("doc_id"), col("deg"), col("n"),
      expr("1000000 div n").as("r"))
    for (_ <- 1 to iters) {
      val contribs = edges
        .join(r.select(col("doc_id").as("src"), expr("r div deg").as("c")), "src")
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      r = n0.join(contribs, col("doc_id") === col("dst"), "left")
        .select(col("doc_id"), col("deg"), col("n"),
          expr("(15 * (1000000 div n) + 85 * coalesce(s, 0)) div 100").as("r"))
    }
    r.select(col("doc_id"), col("r").as("pagerank_micro"),
        (col("r").cast(DoubleType) / lit(1e6)).as("pagerank"))
      .orderBy(col("pagerank_micro").desc, col("doc_id"))
  }

  val pagerankSql: String = {
    val steps = (1 to PagerankIters).map { k =>
      s"""r$k AS (SELECT n0.doc_id, n0.deg, n0.n,
         |  (15 * (1000000 // n0.n) + 85 * COALESCE(s.s, 0)) // 100 AS r
         |  FROM n0 LEFT JOIN (
         |    SELECT e.dst, SUM(r${k - 1}.r // r${k - 1}.deg) AS s
         |    FROM e JOIN r${k - 1} ON e.src = r${k - 1}.doc_id
         |    GROUP BY e.dst) s ON n0.doc_id = s.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH p AS (SELECT doc_a, doc_b FROM ($minhashLshSql)),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
       |      UNION SELECT doc_b, doc_a FROM p),
       |d AS (SELECT src AS doc_id, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
       |n0 AS (SELECT doc_id, deg, (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n FROM d),
       |r0 AS (SELECT doc_id, deg, n, 1000000 // n AS r FROM n0),
       |$steps
       |SELECT doc_id, CAST(r AS BIGINT) AS pagerank_micro,
       |  CAST(r AS DOUBLE) / 1000000.0 AS pagerank
       |FROM r$PagerankIters
       |ORDER BY pagerank_micro DESC, doc_id""".stripMargin
  }

  // --------------------------------- cross-source overlap matrix (dd19)

  /** Cross-source duplication overlap (dd19): which sources clone each
    * other — dd3's verified near-dup pairs rolled up to the source level.
    * For each unordered source pair: the pair count and the distinct
    * documents involved. The diagonal (source_x == source_y) is
    * within-source boilerplate; off-diagonal mass is cross-source
    * syndication — the signal that tells mixture design WHICH pairings
    * caused the duplication cur7 down-weights (a mirror site, a shared
    * wire feed), and which single source to keep when collapsing.
    *
    * Scale: reads the cached confirmed-pair set (≪ corpus, C(cap,2)-
    * bounded) and joins it to the (doc_id, source) projection twice — at
    * 100 TB the pair set is millions of rows and the doc→source map joins
    * by key equality; the rollup is one combinable aggregate over ≤
    * |sources|² keys. The corpus text is never touched. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val src = t(spark, dir, "documents").select(col("doc_id"), col("source"))
    val tagged = minhashLsh(spark, dir).select(col("doc_a"), col("doc_b"))
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        least(col("src_a"), col("src_b")).as("source_x"),
        greatest(col("src_a"), col("src_b")).as("source_y"))
    val pairCounts = tagged.groupBy(col("source_x"), col("source_y"))
      .agg(count(lit(1)).as("n_pairs"))
    val docCounts = tagged.select(col("source_x"), col("source_y"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy(col("source_x"), col("source_y"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    pairCounts.join(docCounts, Seq("source_x", "source_y"))
      .orderBy(col("source_x"), col("source_y"))
  }

  val sourceOverlapSql: String =
    s"""WITH p AS (SELECT doc_a, doc_b FROM ($minhashLshSql)),
       |s AS (SELECT doc_id, source FROM documents),
       |tg AS (SELECT p.doc_a, p.doc_b,
       |         least(a.source, b.source) AS source_x,
       |         greatest(a.source, b.source) AS source_y
       |       FROM p JOIN s a ON p.doc_a = a.doc_id
       |              JOIN s b ON p.doc_b = b.doc_id),
       |c AS (SELECT source_x, source_y, CAST(COUNT(*) AS BIGINT) AS n_pairs
       |      FROM tg GROUP BY source_x, source_y),
       |u AS (SELECT source_x, source_y,
       |        CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
       |      FROM (SELECT source_x, source_y, unnest([doc_a, doc_b]) AS doc_id
       |            FROM tg) GROUP BY source_x, source_y)
       |SELECT c.source_x, c.source_y, c.n_pairs, u.n_docs
       |FROM c JOIN u USING (source_x, source_y)
       |ORDER BY source_x, source_y""".stripMargin

  // --------------------------------------------- canonical representatives

  /** dd22: QUALITY-AWARE canonical representative per near-dup cluster —
    * the decision a dedup pass actually ships. cur2's keep-first rule
    * keeps the LOWEST doc_id of each duplicate class; real pipelines keep
    * the BEST member (highest quality-classifier score) and map every
    * other member to it, so downstream joins (attribution, provenance,
    * URL canonicalization) have a stable, quality-chosen target. Clusters
    * are dd11's min-label components over dd3's confirmed pairs; quality
    * is tx15's deterministic hashed-classifier score; the representative
    * is argmax (clf_score, −doc_id) — score ties break to the lowest id.
    *
    * Scale shape: no new shuffle class — labels (≪ corpus: only docs in
    * some pair) join the score scan, the per-cluster argmax is ONE
    * combinable struct-MAX aggregate (no window over members), and the
    * map-back is a join on the ≪-corpus cluster table. The argmax
    * compare is exact: clf_score is tx15's fixed-order fold, so both
    * engines rank identical doubles. */
  def canonicalReps(spark: SparkSession, dir: String): DataFrame = {
    val labels = textMinLabels(spark, dir)
    val scores = TextAnalysis.classifierScore(spark, dir)
      .select(col("doc_id"), col("clf_score"))
    val members = labels.join(scores, col("node") === col("doc_id"))
      .select(col("label").as("cluster_id"), col("doc_id"), col("clf_score"))
    val reps = members.groupBy(col("cluster_id"))
      .agg(
        max(struct(col("clf_score").as("s"), (-col("doc_id")).as("ni"))).as("best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), (-col("best.ni")).as("rep_id"), col("n_members"))
    members.join(reps, "cluster_id")
      .select(col("cluster_id"), col("doc_id"), col("rep_id"),
        (col("doc_id") === col("rep_id")).as("is_rep"),
        col("n_members"), col("clf_score"))
      .orderBy(col("cluster_id"), col("doc_id"))
  }

  val canonicalRepsSql: String =
    s"""WITH RECURSIVE
       |p AS (SELECT doc_a, doc_b FROM ($minhashLshSql)),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
       |      UNION ALL SELECT doc_b, doc_a FROM p),
       |n AS (SELECT DISTINCT src AS node FROM e),
       |reach AS (
       |  SELECT node AS src, node AS dst FROM n
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src
       |),
       |lab AS (SELECT src AS node, MIN(dst) AS cluster_id FROM reach GROUP BY src),
       |mem AS (SELECT lab.cluster_id, s.doc_id, s.clf_score
       |        FROM lab JOIN (${Curation.classifierScoreSqlNoOrder}) s
       |          ON lab.node = s.doc_id),
       |rep AS (SELECT cluster_id, doc_id AS rep_id FROM (
       |          SELECT cluster_id, doc_id,
       |            ROW_NUMBER() OVER (PARTITION BY cluster_id
       |              ORDER BY clf_score DESC, doc_id) AS rn
       |          FROM mem) x WHERE rn = 1),
       |cnt AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
       |        FROM mem GROUP BY cluster_id)
       |SELECT m.cluster_id, m.doc_id, r.rep_id,
       |  m.doc_id = r.rep_id AS is_rep, c.n_members, m.clf_score
       |FROM mem m JOIN rep r USING (cluster_id) JOIN cnt c USING (cluster_id)
       |ORDER BY m.cluster_id, m.doc_id""".stripMargin

  // ------------------------------- near-dup graph triangle census (dd23)

  /** dd23: triangle census of the near-dup graph — per-document triangle
    * participation and local clustering coefficient. Distinguishes two
    * duplication topologies that degree and PageRank (dd21) conflate: a
    * TEMPLATE family (all copies pairwise-similar → dense triangles, high
    * clustering) vs a CHAIN of incremental edits (A~B~C but A≁C → zero
    * triangles at the same degree). Cluster-shape is what decides whether
    * dd11's transitive-closure clusters over-merge: high triangle density
    * says the cluster is a genuine clique family; a triangle-free
    * high-degree hub says transitivity is doing the merging and a
    * containment check (dd20) should gate it.
    *
    * Edges are dd3's verified pairs (already oriented doc_a < doc_b). The
    * triangle enumerator is the standard ORIENTED edge-iterator: wedges
    * (a<b, a<c, b<c) from a self-join on the lower endpoint, closed by a
    * semi-join against the edge set — each triangle found exactly once,
    * never materialized per-permutation. Per-doc counts are one explode +
    * combinable count; clustering = 2·tri/(deg·(deg−1)) is a single
    * integer-ratio division, bit-identical in any engine.
    *
    * Scale: the wedge join is the only super-edge-linear step; its size is
    * Σ_a C(deg(a),2) over LOWER-endpoint degrees, which the C(cap,2) pair
    * bound already caps per bucket — at 100 TB the standard upgrade is
    * degree-ordering the orientation (point edges at the higher-degree
    * endpoint) which this operator's a<b orientation approximates for
    * id-assigned-by-arrival corpora; the edge table (≪ corpus) is the only
    * shuffled data, never the text. */
  def triangleCensus(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashLsh(spark, dir).select(col("doc_a"), col("doc_b"))
    val wedges = pairs
      .join(pairs.select(col("doc_a"), col("doc_b").as("doc_c")), "doc_a")
      .filter(col("doc_b") < col("doc_c"))
    val triangles = wedges.join(
      pairs.select(col("doc_a").as("doc_b"), col("doc_b").as("doc_c")),
      Seq("doc_b", "doc_c"), "leftsemi")
    val perDoc = triangles
      .select(explode(array(col("doc_a"), col("doc_b"), col("doc_c"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("triangles"))
    val deg = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
    deg.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") >= 2,
          lit(2.0) * coalesce(col("triangles"), lit(0L)).cast(DoubleType) /
            (col("degree") * (col("degree") - 1)).cast(DoubleType))
          .otherwise(lit(0.0)).as("clustering"))
      .orderBy(col("doc_id"))
  }

  val triangleCensusSql: String =
    s"""WITH p AS (SELECT doc_a, doc_b FROM ($minhashLshSql)),
       |tr AS (SELECT w.doc_a, w.doc_b, w.doc_c
       |       FROM (SELECT e1.doc_a, e1.doc_b, e2.doc_b AS doc_c
       |             FROM p e1 JOIN p e2
       |               ON e1.doc_a = e2.doc_a AND e1.doc_b < e2.doc_b) w
       |       WHERE EXISTS (SELECT 1 FROM p e3
       |                     WHERE e3.doc_a = w.doc_b AND e3.doc_b = w.doc_c)),
       |tc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS triangles
       |       FROM (SELECT unnest([doc_a, doc_b, doc_c]) AS doc_id FROM tr)
       |       GROUP BY doc_id),
       |deg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree
       |        FROM (SELECT unnest([doc_a, doc_b]) AS doc_id FROM p)
       |        GROUP BY doc_id)
       |SELECT deg.doc_id, deg.degree,
       |  COALESCE(tc.triangles, 0) AS triangles,
       |  CASE WHEN deg.degree >= 2 THEN
       |    2.0 * CAST(COALESCE(tc.triangles, 0) AS DOUBLE) /
       |    CAST(deg.degree * (deg.degree - 1) AS DOUBLE)
       |  ELSE 0.0 END AS clustering
       |FROM deg LEFT JOIN tc USING (doc_id)
       |ORDER BY deg.doc_id""".stripMargin

  // ------------------------------- winnowing fingerprints (dd24)

  /** Gram width (words) for winnowing fingerprints. */
  private val WinnowK = 4

  /** Winnowing window (grams): each window of [[WinnowW]] consecutive
    * gram hashes contributes its minimum as a fingerprint. */
  private val WinnowW = 4

  /** Fingerprint-set Jaccard threshold for a confirmed winnowing pair. */
  private val WinnowJaccardThreshold = 0.5

  /** dd24: WINNOWING fingerprint near-dup (Schleimer, Wilkerson, Aiken
    * 2003 — the MOSS local fingerprinting algorithm). Each document's
    * [[WinnowK]]-word gram hashes pass a sliding window of [[WinnowW]];
    * every window's MINIMUM hash is selected, and the distinct selected
    * values are the document's fingerprints. The winnowing guarantee:
    * any shared word run of ≥ k+w−1 words yields at least one SHARED
    * fingerprint, at an expected density of 2/(w+1) of the gram count —
    * a principled, locality-preserving sample where dd3's MinHash is a
    * whole-document sketch (winnowing localizes: partial overlaps keep
    * matching). Docs sharing a fingerprint are candidates; exact
    * fingerprint-set Jaccard verifies.
    *
    * Scale shape: gram hashing, the rolling window minimum, and the
    * distinct-fingerprint set are ALL scan-side higher-order functions —
    * zero shuffle until the (already ~2/(w+1)-compressed) fingerprints
    * explode into capped posting lists (dd6's `ShingleDfCap` machinery:
    * pairs bounded at C(cap,2) per fingerprint, no self-join); the
    * verify walks two sorted fingerprint arrays, each a fraction of the
    * gram array dd6's verify carries. Short docs (< k+w−1 words) take
    * one degenerate window over whatever grams exist; docs under k words
    * have no grams and exit the tier (dd1/dd3 cover them). Float parity:
    * the reported jaccard is one division of two exact BIGINTs. */
  /** Per-(session, dir) winnowing fingerprint table — the signature table
    * IS the index (dd3's sigCache contract): one scan signs the corpus,
    * and the query's three consumers (posting build + both verify sides)
    * read the cached rows instead of re-hashing every gram per consumer. */
  private val winnowCache = SessionCache.persisted()

  /** (doc_id, fps) via the native [[graft.functions.TextHashFunctions.winnowFps]]
    * — sorted distinct window minima, one codegen'd JVM pass.
    * The composable HOF twin [[winnowFpsComposable]] is the A/B parity
    * baseline (bit-identity spec-asserted); interpreted, it cost ~20 ms
    * PER DOCUMENT (a lambda frame per window element + a fresh slice
    * array per window), which made dd24 the battery's 10 s outlier. */
  private def winnowFpTable(spark: SparkSession, dir: String): DataFrame =
    winnowCache.get(spark, s"$dir#winnow")(
      t(spark, dir, "documents").withColumn("_w", words)
        .filter(size(col("_w")) >= WinnowK)
        .select(col("doc_id"),
          graft.functions.TextHashFunctions.winnowFps(col("_w"), WinnowK, WinnowW)
            .as("fps"))
        .persist())

  /** The composable-column reference form of the fingerprint derivation —
    * gram hashes via md5 slices, window minima via transform/slice/
    * array_min — kept as the readable spec of the native expression's
    * semantics and its parity baseline. */
  private[graft] def winnowFpsComposable(wordsCol: Column): Column = {
    val h = transform(
      sequence(lit(1), size(wordsCol) - (WinnowK - 1)),
      i => conv(substring(md5(concat_ws(" ", slice(wordsCol, i, lit(WinnowK)))), 1, 15), 16, 10)
        .cast(LongType))
    sort_array(array_distinct(transform(
      sequence(lit(1), greatest(size(h) - (WinnowW - 1), lit(1))),
      j => array_min(slice(h, j, lit(WinnowW))))))
  }

  def winnowingNearDup(spark: SparkSession, dir: String): DataFrame = {
    val fp = winnowFpTable(spark, dir)
    val postings = fp.select(col("doc_id"), explode(col("fps")).as("f"))
      .groupBy(col("f"))
      .agg(slice(sort_array(collect_list(col("doc_id"))), 1, ShingleDfCap).as("docs"))
    val cands = cappedBucketPairs(postings)
    val fa = fp.select(col("doc_id").as("doc_a"),
      col("fps").as("fa"), size(col("fps")).cast(LongType).as("n_fp_a"))
    val fb = fp.select(col("doc_id").as("doc_b"),
      col("fps").as("fb"), size(col("fps")).cast(LongType).as("n_fp_b"))
    cands.join(fa, "doc_a").join(fb, "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_fp_a"), col("n_fp_b"),
        graft.functions.TextHashFunctions.jaccardSorted(col("fa"), col("fb"))
          .as("fp_jaccard"))
      .filter(col("fp_jaccard") >= WinnowJaccardThreshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val winnowingNearDupSql: String = {
    val e = WinnowK - 1
    val we = WinnowW - 1
    s"""WITH w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
       |g AS (SELECT doc_id, list_transform(generate_series(1, len(w) - $e),
       |        i -> CAST('0x' || substr(md5(array_to_string(w[i:i+$e], ' ')), 1, 15) AS BIGINT)) AS h
       |      FROM w WHERE len(w) >= $WinnowK),
       |fp AS (SELECT doc_id, list_distinct(list_transform(
       |         generate_series(1, greatest(len(h) - $we, 1)),
       |         j -> list_aggregate(h[j:j+$we], 'min'))) AS fps FROM g),
       |inv_all AS (SELECT doc_id, unnest(fps) AS f FROM fp),
       |inv AS (SELECT doc_id, f FROM inv_all
       |        QUALIFY row_number() OVER (PARTITION BY f ORDER BY doc_id) <= $ShingleDfCap),
       |cands AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |          FROM inv x JOIN inv y ON x.f = y.f AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b,
       |  CAST(len(a.fps) AS BIGINT) AS n_fp_a,
       |  CAST(len(b.fps) AS BIGINT) AS n_fp_b,
       |  CAST(len(list_intersect(a.fps, b.fps)) AS DOUBLE) /
       |  CAST(len(list_distinct(a.fps || b.fps)) AS DOUBLE) AS fp_jaccard
       |FROM cands JOIN fp a ON cands.doc_a = a.doc_id
       |           JOIN fp b ON cands.doc_b = b.doc_id
       |WHERE CAST(len(list_intersect(a.fps, b.fps)) AS DOUBLE) /
       |      CAST(len(list_distinct(a.fps || b.fps)) AS DOUBLE) >= $WinnowJaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ------------------------------------- LSH parameter tuning (dd25)

  /** dd25: MinHash-LSH S-CURVE parameter tuning, grounded in the corpus —
    * the design-of-experiments layer over dd3: for every (bands b, rows r)
    * factorization of the 12-component signature, the collision
    * probability of a pair at Jaccard s is P(s) = 1−(1−s^r)^b (the
    * S-curve; Leskovec/Rajaraman/Ullman ch. 3), the curve's midpoint is
    * t50 = (1−0.5^(1/b))^(1/r), and the EXPECTED RECALL over the
    * corpus's own dd3-verified near-dup pairs is the mean of P(jaccard)
    * across them — so the recommendation ("which banding for THIS
    * corpus?") is measured against real pair mass, not a rule of thumb.
    *
    * Parity discipline: each pair's P is quantized ONCE to integer
    * micro-units (round(P·1e6) — both engines evaluate the same closed
    * form on the same doubles), the per-(b,r) mean is an exact BIGINT sum
    * with one final division, and t50 ships quantized to micro too.
    *
    * Scale: the pair table is dd3's cached, C(cap,2)-bounded candidate
    * set; the combo table is the ≤ d(12) divisor pairs broadcast; the
    * rollup groups 6 keys. Nothing here re-touches documents. */
  def lshTuning(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val combos = Seq((1, 12), (2, 6), (3, 4), (4, 3), (6, 2), (12, 1))
      .toDF("bands", "rows_per_band")
      .select(col("bands").cast(LongType), col("rows_per_band").cast(LongType))
    val pairs = minhashLsh(spark, dir).select(col("jaccard"))
    val pCol = lit(1.0) - pow(lit(1.0) -
      pow(col("jaccard"), col("rows_per_band").cast(DoubleType)),
      col("bands").cast(DoubleType))
    val t50 = pow(lit(1.0) - pow(lit(0.5),
        lit(1.0) / col("bands").cast(DoubleType)),
      lit(1.0) / col("rows_per_band").cast(DoubleType))
    pairs.crossJoin(combos)
      .select(col("bands"), col("rows_per_band"),
        round(pCol * lit(1000000.0)).cast(LongType).as("p_micro"))
      .groupBy(col("bands"), col("rows_per_band"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("p_micro")).as("sum_p"))
      .select(col("bands"), col("rows_per_band"), col("n_pairs"),
        round(t50 * lit(1000000.0)).cast(LongType).as("t50_micro"),
        (col("sum_p").cast(DoubleType) /
          (lit(1000000.0) * col("n_pairs").cast(DoubleType)))
          .as("expected_recall"),
        (col("bands") === NumBands.toLong).as("is_configured"))
      .orderBy(col("bands"))
  }

  val lshTuningSql: String =
    s"""WITH pairs AS ($minhashLshCoreSql),
       |combos AS (SELECT CAST(bands AS BIGINT) AS bands,
       |             CAST(rows_per_band AS BIGINT) AS rows_per_band
       |           FROM (VALUES (1, 12), (2, 6), (3, 4), (4, 3), (6, 2),
       |                        (12, 1)) AS t(bands, rows_per_band)),
       |pm AS (SELECT bands, rows_per_band,
       |         CAST(round((1.0 - power(1.0 - power(jaccard,
       |             CAST(rows_per_band AS DOUBLE)), CAST(bands AS DOUBLE)))
       |           * 1000000.0) AS BIGINT) AS p_micro
       |       FROM pairs CROSS JOIN combos),
       |agg AS (SELECT bands, rows_per_band, CAST(count(*) AS BIGINT) AS n_pairs,
       |          CAST(SUM(p_micro) AS BIGINT) AS sum_p
       |        FROM pm GROUP BY bands, rows_per_band)
       |SELECT bands, rows_per_band, n_pairs,
       |  CAST(round(power(1.0 - power(0.5, 1.0 / CAST(bands AS DOUBLE)),
       |      1.0 / CAST(rows_per_band AS DOUBLE)) * 1000000.0) AS BIGINT)
       |    AS t50_micro,
       |  CAST(sum_p AS DOUBLE) / (1000000.0 * CAST(n_pairs AS DOUBLE))
       |    AS expected_recall,
       |  bands = $NumBands AS is_configured
       |FROM agg ORDER BY bands""".stripMargin

  // ------------------------------ banding design sweep APPLIED (dd26)

  /** The (bands, rows_per_band) factorizations of the 12-component
    * signature that dd25 scores analytically and dd26 actually builds. */
  private val BandCombos = Seq((1, 12), (2, 6), (3, 4), (4, 3), (6, 2), (12, 1))

  /** dd26: the dd25 design sweep APPLIED — for every (bands, rows)
    * factorization of the signature, actually re-band the cached
    * signature table, run the capped-bucket candidate generator, and
    * measure what dd25 only predicts: how many of the dd3-VERIFIED pairs
    * each banding actually surfaces (achieved recall) and how many
    * candidate pairs it pays for them (the S-curve's other axis). The
    * analytic expectation rides along per combo, so prediction and
    * measurement sit in one hash-gated row — the design-of-experiments
    * loop closed: tune on dd25, pick on dd26, ship the banding.
    *
    * Scale: one signing scan total (the cached signature table, shared
    * with dd3/dd16); each combo re-bands SIGNATURE rows only (|docs|·b
    * exploded rows — text never re-enters), candidates stay C(cap,2)-
    * bounded per bucket, and the verified ledger is the tiny cached pair
    * set. The whole sweep costs O(Σ_b |docs|·b) signature traffic — the
    * corpus is never re-touched. */
  def bandingSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sigs = signaturesOf(spark, dir)
    val verified = minhashLsh(spark, dir).select(col("doc_a"), col("doc_b"))
    val combos = BandCombos.toDF("bands", "rows_per_band")
      .select(col("bands").cast(LongType), col("rows_per_band").cast(LongType))
    val perCombo = BandCombos.map { case (b, r) =>
      val bandHashes = array((0 until b).map { i =>
        md5(concat((0 until r).map(j =>
          element_at(col("sig"), i * r + j + 1)): _*))
      }: _*)
      val bands = sigs.select(col("doc_id"),
        posexplode_outer(bandHashes).as(Seq("band", "bh")))
        // a null band hash (doc with no shingles) must not form a bucket:
        // groupBy groups nulls together, the twin's equality join never
        // matches them — mirror the join semantics
        .filter(col("bh").isNotNull)
      cappedPairsOfBands(bands)
        // the generator's explode_outer emits one (null, null) row for
        // pairless buckets; dd3's inner verify-join drops it silently,
        // but dd26 COUNTS raw candidates — drop it explicitly
        .filter(col("doc_a").isNotNull)
        .select(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
          col("doc_a"), col("doc_b"))
    }.reduce(_ union _)
    val flagged = perCombo
      .join(verified.withColumn("verified", lit(true)), Seq("doc_a", "doc_b"),
        "left")
      .groupBy(col("bands"), col("rows_per_band"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("verified"), 1L).otherwise(0L)).as("n_found"))
    val nVer = verified.agg(count(lit(1)).as("n_verified"))
    val expected = lshTuning(spark, dir)
      .select(col("bands"), col("rows_per_band"), col("expected_recall"))
    combos.join(flagged, Seq("bands", "rows_per_band"), "left")
      .join(expected, Seq("bands", "rows_per_band"))
      .crossJoin(nVer)
      .select(col("bands"), col("rows_per_band"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_found"), lit(0L)).as("n_found"),
        col("n_verified"),
        (coalesce(col("n_found"), lit(0L)).cast(DoubleType) /
          col("n_verified").cast(DoubleType)).as("achieved_recall"),
        col("expected_recall"),
        (col("bands") === NumBands.toLong).as("is_configured"))
      .orderBy(col("bands"))
  }

  val bandingSweepSql: String = {
    val comboCtes = BandCombos.map { case (b, r) =>
      val bandExprs = (0 until b).map { i =>
        (0 until r).map(j => s"sig[${i * r + j + 1}]").mkString("md5(", " || ", ")")
      }.mkString("[", ", ", "]")
      s"""bt_${b}_$r AS (SELECT doc_id, band, $bandExprs[band+1] AS bh
         |  FROM sg CROSS JOIN (SELECT unnest(generate_series(0, ${b - 1})) AS band)),
         |cp_${b}_$r AS (SELECT doc_id, band, bh FROM bt_${b}_$r
         |  QUALIFY row_number() OVER (PARTITION BY band, bh ORDER BY doc_id) <= $BandBucketCap),
         |cd_${b}_$r AS (SELECT DISTINCT CAST($b AS BIGINT) AS bands,
         |    CAST($r AS BIGINT) AS rows_per_band,
         |    x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM cp_${b}_$r x JOIN cp_${b}_$r y
         |    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id)""".stripMargin
    }.mkString(",\n")
    val unionAll = BandCombos.map { case (b, r) =>
      s"SELECT bands, rows_per_band, doc_a, doc_b FROM cd_${b}_$r"
    }.mkString("\nUNION ALL\n")
    s"""WITH ver0 AS ($minhashLshCoreSql),
       |ver AS (SELECT doc_a, doc_b, jaccard FROM ver0),
       |nv AS (SELECT CAST(count(*) AS BIGINT) AS n_verified FROM ver),
       |w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-1),
       |         i -> w[i] || ' ' || w[i+1])) AS g FROM w),
       |sg AS (SELECT doc_id, $sigListSql AS sig FROM sh),
       |$comboCtes,
       |allc AS ($unionAll),
       |fl AS (SELECT a.bands, a.rows_per_band,
       |         CAST(count(*) AS BIGINT) AS n_candidates,
       |         CAST(SUM(CASE WHEN v.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_found
       |       FROM allc a LEFT JOIN ver v
       |         ON v.doc_a = a.doc_a AND v.doc_b = a.doc_b
       |       GROUP BY a.bands, a.rows_per_band),
       |combos AS (SELECT CAST(bands AS BIGINT) AS bands,
       |             CAST(rows_per_band AS BIGINT) AS rows_per_band
       |           FROM (VALUES ${BandCombos.map { case (b, r) => s"($b, $r)" }.mkString(", ")})
       |             AS t(bands, rows_per_band)),
       |pm AS (SELECT c.bands, c.rows_per_band,
       |         CAST(round((1.0 - power(1.0 - power(v.jaccard,
       |             CAST(c.rows_per_band AS DOUBLE)), CAST(c.bands AS DOUBLE)))
       |           * 1000000.0) AS BIGINT) AS p_micro
       |       FROM ver v CROSS JOIN combos c),
       |exp_ AS (SELECT bands, rows_per_band,
       |          CAST(SUM(p_micro) AS DOUBLE) /
       |            (1000000.0 * CAST(count(*) AS DOUBLE)) AS expected_recall
       |        FROM pm GROUP BY bands, rows_per_band)
       |SELECT c.bands, c.rows_per_band,
       |  COALESCE(f.n_candidates, 0) AS n_candidates,
       |  COALESCE(f.n_found, 0) AS n_found,
       |  nv.n_verified,
       |  CAST(COALESCE(f.n_found, 0) AS DOUBLE) / CAST(nv.n_verified AS DOUBLE)
       |    AS achieved_recall,
       |  e.expected_recall,
       |  c.bands = $NumBands AS is_configured
       |FROM combos c
       |LEFT JOIN fl f ON f.bands = c.bands AND f.rows_per_band = c.rows_per_band
       |JOIN exp_ e ON e.bands = c.bands AND e.rows_per_band = c.rows_per_band
       |CROSS JOIN nv
       |ORDER BY c.bands""".stripMargin
  }

  // ------------------------------ exact-copy inflation ledger (dd27)

  /** dd27: per-source EXACT-DUPLICATION inflation ledger — the "how much
    * of this source's crawl budget is copies" card a corpus owner reads
    * next to dd19's overlap matrix. Global exact groups (dd1's
    * content-hash key, keeper = lowest doc_id ACROSS sources) are
    * attributed back to each source: docs removed by a global exact
    * dedup, chars those copies hold, the resulting char-inflation factor
    * (source chars ÷ surviving chars — the multiplier the source's
    * apparent volume overstates its unique contribution by), and the
    * share of removals whose KEEPER lives in a different source — the
    * syndication signal (a mirror inflates itself with someone else's
    * content; boilerplate inflates within-source). dd1 reports the
    * corpus-level totals; dd27 is the same ledger made per-source and
    * attribution-aware, which is what mixture design (cur3) actually
    * consumes.
    *
    * Exactness: counts and char sums are exact BIGINTs off the fixture's
    * n_chars column; inflation is one division of two exact BIGINTs
    * (NULL when a source keeps nothing — the all-copies degenerate).
    *
    * Scale shape: one groupBy on the 16-byte digest (never the body),
    * one key-equality join back on the digest, one doc_id join for the
    * keeper's source, one combinable per-source aggregate over
    * ≤ |sources| keys. Shuffled rows carry (doc_id, source, digest,
    * chars) — fixed ~60 bytes/row at any corpus size. */
  def dupInflation(spark: SparkSession, dir: String): DataFrame = {
    // explicit null-text guard (dd1 convention, r16 advice): without it
    // null-text rows ride on both engines agreeing that null hash keys
    // drop in the digest join
    val docs = t(spark, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"),
        col("n_chars").as("chars"))
    val groups = docs.groupBy(col("h"))
      .agg(min(col("doc_id")).as("keep_id"))
    val keeperSrc = docs
      .select(col("doc_id").as("keep_id"), col("source").as("keep_source"))
    val removedFlag = (col("doc_id") =!= col("keep_id")).cast(LongType)
    docs.join(groups, "h").join(keeperSrc, "keep_id")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(removedFlag).as("n_removed"),
        sum(col("chars")).as("n_chars"),
        sum(col("chars") * removedFlag).as("chars_removed"),
        sum(removedFlag *
          (col("source") =!= col("keep_source")).cast(LongType))
          .as("cross_source_removed"))
      .select(col("source"), col("n_docs"), col("n_removed"),
        col("n_chars"), col("chars_removed"), col("cross_source_removed"),
        when(col("n_chars") === col("chars_removed"), lit(null))
          .otherwise(col("n_chars").cast(DoubleType) /
            (col("n_chars") - col("chars_removed")).cast(DoubleType))
          .as("char_inflation"))
      .orderBy(col("source"))
  }

  val dupInflationSql: String =
    """WITH d AS (SELECT doc_id, source, md5(text) AS h, n_chars AS chars
      |           FROM documents WHERE text IS NOT NULL),
      |g AS (SELECT h, MIN(doc_id) AS keep_id FROM d GROUP BY h),
      |k AS (SELECT doc_id AS keep_id, source AS keep_source FROM d),
      |j AS (SELECT d.source, d.chars,
      |        CASE WHEN d.doc_id <> g.keep_id THEN 1 ELSE 0 END AS removed,
      |        CASE WHEN d.doc_id <> g.keep_id
      |               AND d.source <> k.keep_source THEN 1 ELSE 0 END AS xsrc
      |      FROM d JOIN g USING (h) JOIN k USING (keep_id))
      |SELECT source,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(removed) AS BIGINT) AS n_removed,
      |  CAST(SUM(chars) AS BIGINT) AS n_chars,
      |  CAST(SUM(chars * removed) AS BIGINT) AS chars_removed,
      |  CAST(SUM(xsrc) AS BIGINT) AS cross_source_removed,
      |  CASE WHEN SUM(chars) = SUM(chars * removed) THEN NULL
      |       ELSE CAST(SUM(chars) AS DOUBLE) /
      |            CAST(SUM(chars) - SUM(chars * removed) AS DOUBLE) END
      |    AS char_inflation
      |FROM j GROUP BY source ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd27_dup_inflation" -> dupInflation,
    "dd26_banding_sweep" -> bandingSweep,
    "dd25_lsh_tuning" -> lshTuning,
    "dd24_winnowing" -> winnowingNearDup,
    "dd23_triangle_census" -> triangleCensus,
    "dd22_canonical_rep" -> canonicalReps,
    "dd21_pagerank" -> pagerank,
    "dd20_containment" -> containmentDup,
    "dd19_source_overlap" -> sourceOverlap,
    "dd15_bloom_prefilter" -> bloomPrefilter,
    "dd14_semantic_dedup" -> semanticDedup,
    "dd13_decontaminate" -> decontaminate,
    "dd12_incremental_dedup" -> incrementalDedup,
    "dd11_dedup_clusters" -> dedupClusters,
    "dd8_kmv_distinct" -> kmvDistinctShingles,
    "dd9_ivf_neardup" -> ivfNearDup,
    "dd10_crossmodal_neardup" -> crossmodalNearDup,
    "dd1_exact_dedup" -> exactDedup,
    "dd2_normalized_dedup" -> normalizedDedup,
    "dd3_minhash_lsh" -> minhashLsh,
    "dd16_minhash_estimate" -> minhashEstimate,
    "dd17_soft_dedup" -> softDedupWeights,
    "dd18_semantic_admission" -> semanticAdmission,
    "dd4_simhash" -> simhash,
    "dd5_simhash_neardup" -> simhashNearDup,
    "dd6_ngram_jaccard" -> ngramJaccard,
    "dd7_embedding_neardup" -> embeddingNearDup)

  val oracle: Map[String, String] = Map(
    "dd27_dup_inflation" -> dupInflationSql,
    "dd26_banding_sweep" -> bandingSweepSql,
    "dd25_lsh_tuning" -> lshTuningSql,
    "dd24_winnowing" -> winnowingNearDupSql,
    "dd23_triangle_census" -> triangleCensusSql,
    "dd22_canonical_rep" -> canonicalRepsSql,
    "dd21_pagerank" -> pagerankSql,
    "dd20_containment" -> containmentDupSql,
    "dd19_source_overlap" -> sourceOverlapSql,
    "dd15_bloom_prefilter" -> bloomPrefilterSql,
    "dd14_semantic_dedup" -> semanticDedupSql,
    "dd13_decontaminate" -> decontaminateSql,
    "dd12_incremental_dedup" -> incrementalDedupSql,
    "dd11_dedup_clusters" -> dedupClustersSql,
    "dd8_kmv_distinct" -> kmvDistinctShinglesSql,
    "dd9_ivf_neardup" -> ivfNearDupSql,
    "dd10_crossmodal_neardup" -> crossmodalNearDupSql,
    "dd1_exact_dedup" -> exactDedupSql,
    "dd2_normalized_dedup" -> normalizedDedupSql,
    "dd3_minhash_lsh" -> minhashLshSql,
    "dd16_minhash_estimate" -> minhashEstimateSql,
    "dd17_soft_dedup" -> softDedupWeightsSql,
    "dd18_semantic_admission" -> semanticAdmissionSql,
    "dd4_simhash" -> simhashSql,
    "dd5_simhash_neardup" -> simhashNearDupSql,
    "dd6_ngram_jaccard" -> ngramJaccardSql,
    "dd7_embedding_neardup" -> embeddingNearDupSql)
}
