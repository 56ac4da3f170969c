package graft.llmdata

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{BpeTable, BpeVocab}
import graft.sources.Tables

/** Text-analysis operators for a training-data pipeline, over the
  * `documents` fixture (FIXTURES.md §B): per-document statistics, heuristic
  * language ID, token counting, quality scoring, and content fingerprinting.
  *
  * The reference (nickksun/sfdc-cdc-aws) has no text operators — this module
  * is part of the engine's LLM-data north star (SURVEY.md §7.1 step 7).
  *
  * Scale posture (100 TB): every operator here is a pure per-row map
  * (columnar, no UDFs, no shuffle except the final small aggregate), so it
  * scales linearly with input splits. Oracle parity: all derived doubles are
  * ratios of exact integers computed in the identical operation order as the
  * DuckDB SQL, so values are bit-identical.
  */
object TextAnalysis {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** Whitespace word list — the shared tokenizer of this module. */
  private val words: Column = split(col("text"), " ")

  /** Per-source corpus statistics: document/word/char volumes and
    * type-token-ish ratios. One map pass + a tiny hash aggregate. */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(
        col("source"),
        col("n_chars"),
        size(words).cast(LongType).as("nw"),
        size(array_distinct(words)).cast(LongType).as("ndw"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nw")).as("total_words"),
        sum(col("ndw")).as("total_distinct_words"),
        (sum(col("n_chars")).cast(DoubleType) / count(lit(1))).as("avg_chars"),
        max(col("nw")).as("max_words"),
        min(col("nw")).as("min_words"))
      .orderBy(col("source"))

  val textStatsSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS total_words,
      |  CAST(SUM(len(list_distinct(string_split(text,' ')))) AS BIGINT) AS total_distinct_words,
      |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
      |  MAX(len(string_split(text,' '))) AS max_words,
      |  MIN(len(string_split(text,' '))) AS min_words
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** Heuristic language ID: stopword-marker voting (the classic fast n-gram
    * LID reduced to its word-marker core — deterministic and engine-portable;
    * a production LID would load larger char-n-gram profiles the same way).
    * Emits the confusion matrix of predicted vs labeled language. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
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
    t(spark, dir, "documents")
      .select(col("lang"), pred.as("pred_lang"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  val langIdSql: String =
    """WITH scored AS (
      |  SELECT lang,
      |    len(list_filter(string_split(text,' '), w -> w='the' OR w='and' OR w='of' OR w='is')) AS en,
      |    len(list_filter(string_split(text,' '), w -> w='el' OR w='la' OR w='de' OR w='que')) AS es,
      |    len(list_filter(string_split(text,' '), w -> w='le' OR w='les' OR w='des' OR w='une')) AS fr,
      |    len(list_filter(string_split(text,' '), w -> w='der' OR w='und' OR w='die' OR w='nicht')) AS de
      |  FROM documents)
      |SELECT lang,
      |  CASE WHEN greatest(en,es,fr,de)=0 THEN 'und'
      |       WHEN en=greatest(en,es,fr,de) THEN 'en'
      |       WHEN es=greatest(en,es,fr,de) THEN 'es'
      |       WHEN fr=greatest(en,es,fr,de) THEN 'fr'
      |       ELSE 'de' END AS pred_lang,
      |  COUNT(*) AS n_docs
      |FROM scored GROUP BY 1, 2 ORDER BY lang, pred_lang""".stripMargin

  /** Token counting: whitespace tokens plus a BPE-ish regex token count
    * (letter runs / digit runs / single punctuation — the pre-tokenizer
    * split most BPE vocabularies assume). */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(
        col("source"),
        size(words).cast(LongType).as("ws_tokens"),
        regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast(LongType)
          .as("re_tokens"))
      .groupBy(col("source"))
      .agg(
        sum(col("ws_tokens")).as("total_ws_tokens"),
        sum(col("re_tokens")).as("total_re_tokens"),
        (sum(col("re_tokens")).cast(DoubleType) / count(lit(1))).as("avg_re_tokens"))
      .orderBy(col("source"))

  val tokenCountSql: String =
    """SELECT source,
      |  CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS total_ws_tokens,
      |  CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS total_re_tokens,
      |  CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS DOUBLE) / COUNT(*) AS avg_re_tokens
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** Quality scoring: a deterministic composite of length saturation and
    * lexical diversity, banded for filtering decisions. The score arithmetic
    * (int-derived doubles, fixed operation order) is bit-identical across
    * engines. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val nw = size(words).cast(DoubleType)
    val ndw = size(array_distinct(words)).cast(DoubleType)
    val score = least(nw / lit(80.0), lit(1.0)) * lit(0.5) + (ndw / nw) * lit(0.5)
    val band = when(score >= 0.6, lit("high"))
      .when(score >= 0.45, lit("medium"))
      .otherwise(lit("low"))
    t(spark, dir, "documents")
      .select(col("doc_id"), score.as("quality"), band.as("band"))
      .groupBy(col("band"))
      .agg(
        count(lit(1)).as("n_docs"),
        // Sum nano-scaled integers so the average is independent of
        // partial-aggregation order (a raw double sum is only accidentally
        // stable on a single split).
        ((sum(round(col("quality") * lit(1e9)).cast(LongType)).cast(DoubleType) /
          count(lit(1))) / lit(1e9)).as("avg_quality"),
        min(col("quality")).as("min_quality"),
        max(col("quality")).as("max_quality"))
      .orderBy(col("band"))
  }

  val qualityScoreSql: String =
    """WITH q AS (
      |  SELECT doc_id,
      |    least(CAST(len(string_split(text,' ')) AS DOUBLE) / 80.0, 1.0) * 0.5 +
      |    (CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) /
      |     CAST(len(string_split(text,' ')) AS DOUBLE)) * 0.5 AS quality
      |  FROM documents)
      |SELECT CASE WHEN quality >= 0.6 THEN 'high'
      |            WHEN quality >= 0.45 THEN 'medium'
      |            ELSE 'low' END AS band,
      |  COUNT(*) AS n_docs,
      |  (CAST(SUM(CAST(round(quality * 1000000000.0) AS BIGINT)) AS DOUBLE) / COUNT(*)) / 1000000000.0 AS avg_quality,
      |  MIN(quality) AS min_quality, MAX(quality) AS max_quality
      |FROM q GROUP BY 1 ORDER BY band""".stripMargin

  /** Content fingerprinting: a full-text digest plus a winnowing-style
    * minimum over strided character-8-gram digests (the rolling-hash
    * fingerprint family; md5 stands in for the rolling hash so the oracle
    * computes the identical value — lexicographic min over fixed-width hex
    * equals numeric min). Pure map; emits one fingerprint row per doc. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val gramHashes = transform(
      sequence(lit(1), greatest(length(col("text")) - 7, lit(1)), lit(4)),
      i => md5(col("text").substr(i, lit(8))))
    t(spark, dir, "documents")
      .select(
        col("doc_id"),
        md5(col("text")).as("fp_full"),
        array_min(gramHashes).as("fp_min_gram"))
      .orderBy(col("doc_id"))
  }

  val fingerprintSql: String =
    """SELECT doc_id, md5(text) AS fp_full,
      |  list_aggregate(list_transform(generate_series(1, greatest(length(text)-7, 1), 4),
      |    i -> md5(substr(text, i, 8))), 'min') AS fp_min_gram
      |FROM documents ORDER BY doc_id""".stripMargin

  /** TF-IDF top terms per document (rational idf = N/df, no log — log()
    * last-ulp behavior differs across libm implementations, which would
    * break oracle parity; the ranking is monotone-equivalent).
    * Two shuffles: docfreq aggregation + the term-score ranking window. */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    // document frequency comes off the tf AGGREGATE, not a second explode
    // + distinct over the corpus: tf's (doc_id, term) rows ARE the
    // distinct pairs, so df = count per term over them — r19: this drops
    // a full term-explode scan and its distinct shuffle; the shared
    // (doc_id, term) exchange is reused at runtime (AQE stage reuse).
    val tfAgg = docs.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tc"))
    val tf = tfAgg
      .withColumn("nw", sum(col("tc")).over(Window.partitionBy(col("doc_id"))))
    val df_ = tfAgg.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // corpus size as a 1-row aggregate (ev5 pattern) — keeps the
    // whole query one lazy DAG instead of an eager driver-side count() scan
    val n = t(spark, dir, "documents")
      .agg(count(lit(1)).cast(DoubleType).as("n_total"))
    val scored = tf.join(df_, "term").crossJoin(n)
      .withColumn("tfidf",
        (col("tc").cast(DoubleType) / col("nw").cast(DoubleType)) *
          (col("n_total") / col("df").cast(DoubleType)))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tfidf"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val tfidfTopTermsSql: String =
    """WITH terms AS (
      |  SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tc FROM terms GROUP BY doc_id, term),
      |tfn AS (SELECT doc_id, term, tc,
      |          SUM(tc) OVER (PARTITION BY doc_id) AS nw FROM tf),
      |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY term),
      |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
      |scored AS (
      |  SELECT doc_id, term,
      |    (CAST(tc AS DOUBLE) / CAST(nw AS DOUBLE)) * ((SELECT n FROM n) / CAST(df.df AS DOUBLE)) AS tfidf
      |  FROM tfn JOIN df USING (term))
      |SELECT doc_id, rank, term, tfidf FROM (
      |  SELECT doc_id, term, tfidf,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
      |  FROM scored) x
      |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** Full quality-signal battery per language: length, punctuation ratio,
    * and stopword ratio — the classic pre-filter trio for web-scale corpus
    * cleaning. All ratios are int-derived doubles in fixed op order. */
  def qualitySignals(spark: SparkSession, dir: String): DataFrame = {
    val nChars = length(col("text")).cast(DoubleType)
    val nPunct = regexp_count(col("text"), lit("[^a-z0-9 ]")).cast(DoubleType)
    val nWords = size(words).cast(DoubleType)
    val nStop = size(filter(words,
      w => Seq("the", "and", "of", "is", "a", "to").map(w === _).reduce(_ || _)))
      .cast(DoubleType)
    t(spark, dir, "documents")
      .select(col("lang"), col("n_chars"),
        (nPunct / nChars).as("punct_ratio"),
        (nStop / nWords).as("stopword_ratio"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        max(col("punct_ratio")).as("max_punct_ratio"),
        min(col("stopword_ratio")).as("min_stopword_ratio"),
        max(col("stopword_ratio")).as("max_stopword_ratio"))
      .orderBy(col("lang"))
  }

  val qualitySignalsSql: String =
    """WITH q AS (
      |  SELECT lang, n_chars,
      |    CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE) /
      |      CAST(length(text) AS DOUBLE) AS punct_ratio,
      |    CAST(len(list_filter(string_split(text,' '),
      |        w -> w='the' OR w='and' OR w='of' OR w='is' OR w='a' OR w='to')) AS DOUBLE) /
      |      CAST(len(string_split(text,' ')) AS DOUBLE) AS stopword_ratio
      |  FROM documents)
      |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  MAX(punct_ratio) AS max_punct_ratio,
      |  MIN(stopword_ratio) AS min_stopword_ratio,
      |  MAX(stopword_ratio) AS max_stopword_ratio
      |FROM q GROUP BY lang ORDER BY lang""".stripMargin

  /** Deterministic stratified sampling: within each language, take the 20
    * documents with the smallest md5(doc_id) — a reproducible, seedable,
    * cluster-stable sample (rand()-based sampling is neither replayable nor
    * partition-stable). One shuffle on the stratum key. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast(StringType)), col("doc_id"))
    t(spark, dir, "documents")
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 20)
      .select(col("lang"), col("rn"), col("doc_id"))
      .orderBy(col("lang"), col("rn"))
  }

  val stratifiedSampleSql: String =
    """SELECT lang, rn, doc_id FROM (
      |  SELECT lang, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents) x
      |WHERE rn <= 20 ORDER BY lang, rn""".stripMargin

  /** Token-window chunking — the pre-training segmentation step: each
    * document splits into windows of [[ChunkSize]] tokens at [[Stride]]
    * (overlap = ChunkSize - Stride), the last window truncated. Pure
    * map + generator (zero shuffle — at 100 TB chunking is a scan-side
    * transform); emits per-chunk token count + content digest. */
  private val ChunkSize = 32
  private val Stride = 24

  def chunkWindows(spark: SparkSession, dir: String): DataFrame = {
    val nw = size(col("_w"))
    // last chunk index: ceil((n_words - ChunkSize) / Stride), floored at 0
    val lastIdx = greatest(
      ceil((nw.cast(DoubleType) - ChunkSize) / Stride), lit(0L))
    val chunks = transform(sequence(lit(0L), lastIdx),
      i => concat_ws(" ", slice(col("_w"), (i * Stride + 1).cast(IntegerType), lit(ChunkSize))))
    t(spark, dir, "documents")
      // null text: Spark's concat_ws would swallow the null into "" while
      // the oracle keeps NULL — skip null docs identically on both sides
      .filter(col("text").isNotNull)
      .withColumn("_w", words)
      .select(col("doc_id"), posexplode_outer(chunks).as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx").cast(LongType).as("chunk_idx"),
        size(split(col("chunk"), " ")).cast(LongType).as("n_tokens"),
        md5(col("chunk")).as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  val chunkWindowsSql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents
       |       WHERE text IS NOT NULL),
       |c0 AS (SELECT doc_id, w,
       |    unnest(generate_series(0,
       |      greatest(CAST(ceil((len(w) - $ChunkSize) / $Stride.0) AS BIGINT), 0))) AS chunk_idx
       |  FROM w),
       |c AS (SELECT doc_id, chunk_idx,
       |    array_to_string(w[(chunk_idx*$Stride + 1):(chunk_idx*$Stride + $ChunkSize)], ' ') AS chunk
       |  FROM c0)
       |SELECT doc_id, chunk_idx,
       |  CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_tokens,
       |  md5(chunk) AS chunk_hash
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  // ------------------------------------------- repeated-span removal (tx10)

  /** Boilerplate span width (words): the corpus-dedup unit. */
  private val BoilerChunk = 8

  /** C4-style repeated-span removal (tx10): documents split into
    * NON-overlapping [[BoilerChunk]]-word chunks; every chunk VALUE
    * survives exactly once in the corpus — at its first occurrence, the
    * minimum (doc_id, pos) — and all later instances are dropped, then
    * each document is reassembled from its surviving chunks in order
    * (C4's repeated-three-sentence-span dedup, re-expressed over the
    * word-soup fixture).
    *
    * Scale shape: first-occurrence is `groupBy(chunk).min(struct(doc_id,
    * pos))` — MIN over a struct is lexicographic and stays map-side
    * combinable, so a corpus-hot boilerplate chunk costs one combiner
    * cell per task instead of a sorted partition, with no packed-bigint
    * overflow hazard at any doc length. Two shuffles total (chunk key,
    * then doc reassembly), both linear in chunk count. */
  def repeatedChunkRemoval(spark: SparkSession, dir: String): DataFrame = {
    val nChunks = ceil(size(col("_w")).cast(DoubleType) / BoilerChunk).cast(IntegerType)
    val chunks = transform(sequence(lit(1), nChunks),
      i => concat_ws(" ", slice(col("_w"), ((i - 1) * BoilerChunk + 1), lit(BoilerChunk))))
    val inst = t(spark, dir, "documents")
      .withColumn("_w", words)
      .select(col("doc_id"), posexplode_outer(chunks).as(Seq("pos0", "chunk")))
      .select(col("doc_id"), (col("pos0") + 1).cast(LongType).as("pos"), col("chunk"))
    val locKey = struct(col("doc_id"), col("pos"))
    val first = inst.groupBy(col("chunk").as("c")).agg(min(locKey).as("first_key"))
    val kept = inst.join(first, inst("chunk") === col("c") && locKey === col("first_key"))
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("chunk")))),
          s => s.getField("chunk"))).as("clean"))
    inst.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        (col("n_chunks") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean"), lit("")).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  val repeatedChunkRemovalSql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
       |i0 AS (SELECT doc_id, w, unnest(generate_series(1,
       |         CAST(ceil(len(w) / $BoilerChunk.0) AS BIGINT))) AS pos FROM w),
       |inst AS (SELECT doc_id, pos,
       |    array_to_string(w[((pos-1)*$BoilerChunk + 1):(pos*$BoilerChunk)], ' ') AS chunk
       |  FROM i0),
       |firsts AS (SELECT chunk, min({'doc_id': doc_id, 'pos': pos}) AS first_key
       |           FROM inst GROUP BY chunk),
       |kept AS (SELECT i.doc_id, count(*) AS n_kept,
       |           string_agg(i.chunk, ' ' ORDER BY i.pos) AS clean
       |         FROM inst i JOIN firsts f
       |           ON i.chunk = f.chunk AND {'doc_id': i.doc_id, 'pos': i.pos} = f.first_key
       |         GROUP BY i.doc_id),
       |stats AS (SELECT doc_id, count(*) AS n_chunks FROM inst GROUP BY doc_id)
       |SELECT s.doc_id, s.n_chunks,
       |  CAST(s.n_chunks - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed,
       |  COALESCE(k.clean, '') AS clean_text
       |FROM stats s LEFT JOIN kept k USING (doc_id)
       |ORDER BY s.doc_id""".stripMargin

  // ------------------------------------------------- PII redaction (tx11)

  /** Both regexes stay inside the RE2 ∩ java.util.regex common dialect
    * (character classes + bounded repetition only) so Spark and DuckDB
    * match identical spans. */
  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val LongNumRe = "[0-9]{5,}"

  /** PII redaction (tx11): scrub emails and long digit runs from text —
    * the scan-side scrub every training-data pipeline runs. The fixture
    * corpus carries no PII, so a deterministic synthetic tail (an email
    * derived from doc_id, a digit run of doc_id²) is appended IDENTICALLY
    * in both engines before redaction; counts come from the pre-redaction
    * match sets. Pure per-row map — zero shuffle at any scale. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val tainted = concat(col("text"),
      lit(" contact user"), col("doc_id").cast(StringType),
      lit("@example.com ref "),
      (col("doc_id") * col("doc_id")).cast(StringType))
    t(spark, dir, "documents")
      .withColumn("_t", tainted)
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("_t"), lit(EmailRe), lit(0))).cast(LongType)
          .as("n_emails"),
        size(regexp_extract_all(
          regexp_replace(col("_t"), EmailRe, "[EMAIL]"), lit(LongNumRe), lit(0)))
          .cast(LongType).as("n_long_nums"),
        regexp_replace(
          regexp_replace(col("_t"), EmailRe, "[EMAIL]"), LongNumRe, "[NUM]")
          .as("redacted"))
      .orderBy(col("doc_id"))
  }

  val piiRedactSql: String =
    s"""WITH m AS (SELECT doc_id,
       |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com ref '
       |      || CAST(doc_id*doc_id AS VARCHAR) AS t
       |  FROM documents),
       |e AS (SELECT doc_id, t,
       |    regexp_replace(t, '$EmailRe', '[EMAIL]', 'g') AS t1 FROM m)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t, '$EmailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(t1, '$LongNumRe')) AS BIGINT) AS n_long_nums,
       |  regexp_replace(t1, '$LongNumRe', '[NUM]', 'g') AS redacted
       |FROM e ORDER BY doc_id""".stripMargin

  // --------------------------------------- unigram-LM quality (tx12)

  /** Vocabulary size for the corpus language model: the V most frequent
    * words, ties broken lexicographically so the vocab is deterministic. */
  private val VocabTopV = 2000
  /** A word this rare (corpus occurrences ≤ threshold) counts as "rare"
    * even inside the vocab — the CCNet tail-quality signal. */
  private val RareFreq = 2L

  /** Unigram-LM quality scoring (tx12): CCNet/Gopher-style corpus-fit
    * signals without the float-perplexity parity hazard — instead of
    * mean −log p(w) (libm log differs in ULPs across engines), score each
    * document by exact integer statistics of the corpus unigram table:
    * vocab coverage (share of tokens inside the top-V vocab), OOV count,
    * rare-token share, and mean corpus frequency of in-vocab tokens. All
    * doubles are single divisions of exact BIGINTs — bit-identical in
    * both engines. Low coverage / high OOV is exactly what high
    * perplexity under a corpus LM flags: text unlike the corpus.
    *
    * Scale posture: the unigram table is ONE map-side-combined aggregate;
    * top-V is a TakeOrdered (O(V) heap per partition, no global sort);
    * the vocab then BROADCASTS — at 100 TB the corpus is scanned twice
    * (count pass + score pass) and shuffled once by doc_id for the final
    * per-doc aggregate, never by word on the scoring side. */
  def vocabQuality(spark: SparkSession, dir: String): DataFrame = {
    val toks = t(spark, dir, "documents")
      .select(col("doc_id"), explode_outer(words).as("w"))
    val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .orderBy(col("wc").desc, col("w").asc).limit(VocabTopV)
    toks.join(vocab, Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("wc").isNotNull, 1L).otherwise(0L)).as("n_in_vocab"),
        sum(when(col("wc").isNotNull && col("wc") <= RareFreq, 1L)
          .otherwise(0L)).as("n_rare"),
        sum(coalesce(col("wc"), lit(0L))).as("freq_mass"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_in_vocab"),
        (col("n_tokens") - col("n_in_vocab")).as("n_oov"),
        (col("n_in_vocab").cast(DoubleType) / col("n_tokens"))
          .as("vocab_coverage"),
        (col("n_rare").cast(DoubleType) / col("n_tokens")).as("rare_share"),
        when(col("n_in_vocab") > 0,
          col("freq_mass").cast(DoubleType) / col("n_in_vocab"))
          .otherwise(lit(0.0)).as("mean_corpus_freq"))
      .orderBy(col("doc_id"))
  }

  val vocabQualitySql: String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |              FROM documents),
       |vocab AS (SELECT w, COUNT(*) AS wc FROM toks GROUP BY w
       |          ORDER BY wc DESC, w ASC LIMIT $VocabTopV),
       |j AS (SELECT t.doc_id, v.wc FROM toks t
       |      LEFT JOIN vocab v ON t.w = v.w),
       |a AS (SELECT doc_id, COUNT(*) AS n_tokens,
       |        SUM(CASE WHEN wc IS NOT NULL THEN 1 ELSE 0 END) AS n_in_vocab,
       |        SUM(CASE WHEN wc IS NOT NULL AND wc <= $RareFreq
       |                 THEN 1 ELSE 0 END) AS n_rare,
       |        SUM(COALESCE(wc, 0)) AS freq_mass
       |      FROM j GROUP BY doc_id)
       |SELECT doc_id, n_tokens, CAST(n_in_vocab AS BIGINT) AS n_in_vocab,
       |  CAST(n_tokens - n_in_vocab AS BIGINT) AS n_oov,
       |  CAST(n_in_vocab AS DOUBLE) / n_tokens AS vocab_coverage,
       |  CAST(n_rare AS DOUBLE) / n_tokens AS rare_share,
       |  CASE WHEN n_in_vocab > 0
       |    THEN CAST(freq_mass AS DOUBLE) / n_in_vocab ELSE 0.0 END
       |    AS mean_corpus_freq
       |FROM a ORDER BY doc_id""".stripMargin

  // ----------------------------------------- bigram-LM quality (tx19)

  /** Bigram table size for tx19 — the B most frequent word pairs, ties
    * broken lexicographically (deterministic, like [[VocabTopV]]). */
  private val BigramTopB = 4000

  /** Bigram-LM quality scoring (tx19): the n = 2 extension of tx12 —
    * sequence-aware corpus fit, which unigram coverage cannot see (a
    * bag-of-frequent-words doc scores high on tx12 but its word ORDER is
    * unlike the corpus). Signals per document, all parity-safe:
    *   - `bigram_coverage` — share of the doc's bigram instances found in
    *     the corpus's top-B bigram table (the KenLM-style "known n-gram"
    *     hit rate; low coverage ≈ high perplexity without the libm-log
    *     ULP hazard tx12's docstring documents)
    *   - `n_unseen` — bigram instances outside the table (novel
    *     transitions)
    *   - `mean_cond_micro` — mean over KNOWN bigram instances of the
    *     conditional probability p(w2|w1) = c(w1 w2)/c(w1) in exact
    *     floor-scaled MICRO-units: each instance contributes the BIGINT
    *     floor(1e6·c12/c1), summed exactly, divided once at the end — the
    *     aggregation-order-free rendering of mean transition probability.
    *
    * Scale posture: the bigram table is one map-side-combined count +
    * TakeOrdered top-B (O(B) heap per partition); its first-word counts
    * join INSIDE the B-row table build (B rows, not the corpus); the
    * table then BROADCASTS to the scoring scan — the corpus is scanned
    * twice and shuffled once by doc_id, never by word pair. */
  def bigramQuality(spark: SparkSession, dir: String): DataFrame = {
    val toBigrams = (w: Column) => {
      val cnt = size(w) - 1
      when(cnt >= 1, transform(sequence(lit(1), cnt),
        i => concat_ws(" ", slice(w, i, lit(2)))))
    }
    val docBigrams = t(spark, dir, "documents")
      .withColumn("_w", words)
      .select(col("doc_id"), explode(toBigrams(col("_w"))).as("bg"))
    val uni = t(spark, dir, "documents")
      .select(explode_outer(words).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val bigrams = docBigrams.groupBy(col("bg")).agg(count(lit(1)).as("c12"))
      .orderBy(col("c12").desc, col("bg").asc).limit(BigramTopB)
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .join(uni, col("w1") === col("w"))
      .select(col("bg"), col("c12"),
        floor(col("c12").cast(DoubleType) * lit(1e6) /
          col("c1").cast(DoubleType)).cast(LongType).as("cond_micro"))
    docBigrams.join(bigrams, Seq("bg"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("c12").isNotNull, 1L).otherwise(0L)).as("n_known"),
        sum(coalesce(col("cond_micro"), lit(0L))).as("cond_mass_micro"))
      .select(
        col("doc_id"), col("n_bigrams"), col("n_known"),
        (col("n_bigrams") - col("n_known")).as("n_unseen"),
        (col("n_known").cast(DoubleType) / col("n_bigrams")).as("bigram_coverage"),
        when(col("n_known") > 0,
          col("cond_mass_micro").cast(DoubleType) / col("n_known"))
          .otherwise(lit(0.0)).as("mean_cond_micro"))
      .orderBy(col("doc_id"))
  }

  val bigramQualitySql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |db AS (SELECT doc_id,
       |         unnest(list_transform(generate_series(1, len(ws) - 1),
       |           i -> array_to_string(ws[i:i+1], ' '))) AS bg
       |       FROM w),
       |uni AS (SELECT unnest(string_split(text, ' ')) AS wd FROM documents),
       |uc AS (SELECT wd, CAST(COUNT(*) AS BIGINT) AS c1 FROM uni GROUP BY wd),
       |bt AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c12 FROM db GROUP BY bg
       |       ORDER BY c12 DESC, bg ASC LIMIT $BigramTopB),
       |btc AS (SELECT bt.bg, bt.c12,
       |          CAST(floor(CAST(bt.c12 AS DOUBLE) * 1000000.0 /
       |            CAST(uc.c1 AS DOUBLE)) AS BIGINT) AS cond_micro
       |        FROM bt JOIN uc ON string_split(bt.bg, ' ')[1] = uc.wd),
       |a AS (SELECT d.doc_id, COUNT(*) AS n_bigrams,
       |        SUM(CASE WHEN b.c12 IS NOT NULL THEN 1 ELSE 0 END) AS n_known,
       |        SUM(COALESCE(b.cond_micro, 0)) AS cond_mass_micro
       |      FROM db d LEFT JOIN btc b USING (bg) GROUP BY d.doc_id)
       |SELECT doc_id, n_bigrams, CAST(n_known AS BIGINT) AS n_known,
       |  CAST(n_bigrams - n_known AS BIGINT) AS n_unseen,
       |  CAST(n_known AS DOUBLE) / n_bigrams AS bigram_coverage,
       |  CASE WHEN n_known > 0
       |    THEN CAST(cond_mass_micro AS DOUBLE) / n_known ELSE 0.0 END
       |    AS mean_cond_micro
       |FROM a ORDER BY doc_id""".stripMargin

  // ------------------------------------------- repetition signals (tx13)

  /** Gopher/MassiveText-style repetition filters: the fraction of a
    * document made of REPEATED n-grams is the strongest cheap signal for
    * machine-generated/boilerplate text (Rae et al. 2021 §A1.1 use
    * duplicate-line fraction and top-n-gram fraction as hard gates). Per
    * (doc, n) for n ∈ 1..3 over whitespace tokens:
    *   - `dup_frac`  — fraction of n-gram INSTANCES whose value already
    *     occurred in the doc (0 = all distinct, →1 = one value repeated)
    *   - `top_frac`  — fraction of instances taken by the most frequent
    *     n-gram value (Gopher's "top word/2-gram/3-gram fraction")
    *
    * Scale posture: grams are generated scan-side; the per-(doc, n, gram)
    * count and per-(doc, n) rollup are both map-side-combinable hash
    * aggregates keyed by high-cardinality keys — two linear shuffles, no
    * window, no sort. All fractions are single divisions of exact BIGINTs. */
  private val RepMaxN = 3

  def repetitionSignals(spark: SparkSession, dir: String): DataFrame = {
    val grams = (1 to RepMaxN).map { n =>
      val cnt = size(col("_w")) - (n - 1)
      // guard: Spark's sequence(1, 0) is the DECREASING [1, 0], not empty —
      // a doc shorter than n words must yield no grams (null → explode
      // drops the row, matching DuckDB's empty generate_series)
      val g = when(cnt >= 1, transform(sequence(lit(1), cnt),
        i => concat_ws(" ", slice(col("_w"), i, lit(n)))))
      t(spark, dir, "documents")
        .withColumn("_w", words)
        .select(col("doc_id"), lit(n).as("gram_n"), explode(g).as("gram"))
    }.reduce(_ unionByName _)
    grams
      .groupBy(col("doc_id"), col("gram_n"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"), col("gram_n"))
      .agg(
        sum(col("cnt")).as("n_grams"),
        count(lit(1)).as("n_distinct"),
        max(col("cnt")).as("top_cnt"))
      .select(
        col("doc_id"), col("gram_n"), col("n_grams"),
        ((col("n_grams") - col("n_distinct")).cast(DoubleType) / col("n_grams"))
          .as("dup_frac"),
        (col("top_cnt").cast(DoubleType) / col("n_grams")).as("top_frac"))
      .orderBy(col("doc_id"), col("gram_n"))
  }

  val repetitionSignalsSql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
       |inst AS (
       |  SELECT doc_id, n AS gram_n,
       |    unnest(list_transform(generate_series(1, len(w) - (n-1)),
       |      i -> array_to_string(w[i:i+n-1], ' '))) AS gram
       |  FROM w CROSS JOIN (SELECT unnest(generate_series(1, $RepMaxN)) AS n)),
       |cnt AS (SELECT doc_id, gram_n, gram, COUNT(*) AS cnt
       |        FROM inst GROUP BY doc_id, gram_n, gram),
       |agg AS (SELECT doc_id, gram_n, SUM(cnt) AS n_grams,
       |          COUNT(*) AS n_distinct, MAX(cnt) AS top_cnt
       |        FROM cnt GROUP BY doc_id, gram_n)
       |SELECT doc_id, gram_n, CAST(n_grams AS BIGINT) AS n_grams,
       |  CAST(n_grams - n_distinct AS DOUBLE) / n_grams AS dup_frac,
       |  CAST(top_cnt AS DOUBLE) / n_grams AS top_frac
       |FROM agg ORDER BY doc_id, gram_n""".stripMargin

  // ------------------------------------------- sequence packing (tx14)

  /** Sequence packing (tx14): pretraining packs documents end-to-end into
    * fixed-size context windows, splitting at window boundaries — the
    * throughput-critical batch-assembly step. Documents are concatenated
    * per SOURCE in doc_id order; each doc's token span maps to the bins
    * it lands in: start_bin = floor(offset / B), end_bin =
    * floor((offset + n_tokens - 1) / B). Emits the per-doc placement plus
    * the boundary-crossing flag (the fraction of crossing docs is the
    * packing-efficiency metric attention-masking strategies care about).
    *
    * Scale posture: ONE shuffle — the per-source ordered window for the
    * running token offset (exact BIGINT cumsum, order-deterministic); at
    * 100 TB the packing unit is per source shard / input split, which is
    * exactly the partitionBy here. No global sort ever happens. */
  def sequencePacking(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t(spark, dir, "documents")
      .select(col("source"), col("doc_id"), size(words).cast(LongType).as("n_tokens"))
      .withColumn("tok_offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(
        col("source"), col("doc_id"), col("n_tokens"), col("tok_offset"),
        floor(col("tok_offset") / Constants.PackBudget).as("start_bin"),
        floor((col("tok_offset") + col("n_tokens") - 1) / Constants.PackBudget).as("end_bin"))
      .withColumn("crosses_boundary", col("end_bin") > col("start_bin"))
      .orderBy(col("source"), col("doc_id"))
  }

  val sequencePackingSql: String =
    s"""WITH d AS (SELECT source, doc_id,
       |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |o AS (SELECT *, COALESCE(SUM(n_tokens) OVER (PARTITION BY source
       |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |    0) AS tok_offset
       |  FROM d)
       |SELECT source, doc_id, n_tokens, CAST(tok_offset AS BIGINT) AS tok_offset,
       |  CAST(floor(tok_offset / ${Constants.PackBudget}) AS BIGINT) AS start_bin,
       |  CAST(floor((tok_offset + n_tokens - 1) / ${Constants.PackBudget}) AS BIGINT) AS end_bin,
       |  floor((tok_offset + n_tokens - 1) / ${Constants.PackBudget}) >
       |    floor(tok_offset / ${Constants.PackBudget}) AS crosses_boundary
       |FROM o ORDER BY source, doc_id""".stripMargin

  // --------------------------------------- hashed linear classifier (tx15)

  /** Weight-table width (hash buckets) for the stub classifier. A power
    * of two so the weight derivation's /4096 is EXACT in binary floating
    * point (4096 = 2^12 — the division only shifts the exponent). */
  private val ClfBuckets = 4096

  /** Hashed linear quality classifier (tx15): the fastText-shaped filter
    * every production curation pipeline runs (CCNet / GPT-3 style "does
    * this look like reference text") reduced to its dataflow — per token,
    * hash into a weight table, sum the weights, threshold the mean. The
    * WEIGHTS here are a deterministic stub (derived from md5 of the
    * bucket index, uniform in [-0.5, 0.5)) exactly as mm2 stubs the
    * codec: a real deployment broadcasts a trained table; the inference
    * shape — hash → lookup → index-ordered fold, all at the scan — is
    * the part under test and under the oracle.
    *
    * Scale posture: ZERO shuffle — scoring is a per-row left fold over
    * the token array inside the scan (model inference never moves data);
    * only the gate's ORDER BY sorts. The fold is index-ordered, so the
    * double sum is bit-identical in both engines (no aggregation-order
    * hazard, unlike an explode+SUM rendering). */
  def classifierScore(spark: SparkSession, dir: String): DataFrame = {
    // bucket = first 12 bits of md5(token); weight = first 12 bits of
    // md5("w:" || bucket) mapped to [-0.5, 0.5) — as a Column expression:
    //   conv(substring(md5(concat("w:", conv(substring(md5(tok),1,3),16,10))),1,3),16,10)
    //     .cast(Double) / ClfBuckets - 0.5
    val nw = size(col("_w"))
    // the fold runs as the native TextHashFunctions.clfTotal — one codegen
    // JVM loop per row (1 md5 per token + a precomputed 4096-entry weight
    // table holding exactly the column expression above) instead of an
    // interpreted `aggregate` lambda evaluating two md5 expression trees
    // per token; bit-identical left-fold accumulation (r19 — this fold
    // was the whole cost of cur5/cur5b/cur6's scored scans: cur5 2.25 s
    // → 0.34 s, cur5b 3.00 s → 0.57 s isolated at sf0.1).
    val total = graft.functions.TextHashFunctions.clfTotal(col("_w"))
    t(spark, dir, "documents")
      .withColumn("_w", words)
      .select(
        col("doc_id"),
        nw.cast(LongType).as("n_tokens"),
        (total / nw).as("clf_score"))
      // derive the decision from the EMITTED score (single fold tree; the
      // threshold can never drift from the reported number)
      .withColumn("accepted", col("clf_score") > 0.0)
      .orderBy(col("doc_id"))
  }

  val classifierScoreSql: String = {
    def hex3(e: String): String =
      s"CAST((strpos('0123456789abcdef', substr($e, 1, 1))-1)*256 + " +
        s"(strpos('0123456789abcdef', substr($e, 2, 1))-1)*16 + " +
        s"(strpos('0123456789abcdef', substr($e, 3, 1))-1) AS BIGINT)"
    val bucket = hex3("substr(md5(t), 1, 3)")
    val w = s"CAST(${hex3(s"substr(md5('w:' || CAST($bucket AS VARCHAR)), 1, 3)")} AS DOUBLE)" +
      s" / $ClfBuckets - 0.5"
    s"""WITH d AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
       |s AS (SELECT doc_id, len(w) AS n_tokens,
       |    list_reduce(list_prepend(0.0, list_transform(w, t -> $w)),
       |      (acc, x) -> acc + x) AS total
       |  FROM d)
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  total / n_tokens AS clf_score,
       |  total / n_tokens > 0.0 AS accepted
       |FROM s ORDER BY doc_id""".stripMargin
  }

  // --------------------------------- exact-substring duplicated spans (tx16)

  /** Exact-substring duplicated-span report (tx16) — the ExactSubstr dedup
    * shape of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better"), re-expressed relationally: every OVERLAPPING
    * [[Constants.SubstrW]]-word window (stride 1) is keyed by md5; a window VALUE
    * seen at ≥ 2 locations corpus-wide marks all its occurrences as
    * duplicated; per document, the covered word intervals
    * [pos, pos+W−1] are merged into maximal spans (islands-and-gaps:
    * a start opens a new span iff it clears the running max end by ≥ 2).
    * Output per doc: span count, duplicated-word count, duplicated
    * fraction — the report a removal pass would consume. tx10 is the
    * cheaper non-overlapping-chunk variant; tx16 catches duplicates at
    * ANY alignment, which is what the suffix-array pass buys in the paper.
    *
    * Scale shape: windows are generated scan-side; the corpus-wide
    * duplicate test is ONE map-side-combinable count over 16-byte keys
    * (payload never shuffles — md5 keys do); the interval merge's window
    * sort runs per doc over DUPLICATED starts only (a small subset unless
    * the doc is mostly duplicate, in which case it is bounded by doc
    * length). Two linear shuffles + one bounded per-doc sort. Float
    * parity: dup_frac is one division of two exact BIGINTs. */
  def duplicatedSpans(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents").withColumn("_w", words)
      .select(col("doc_id"), col("_w"),
        size(col("_w")).cast(LongType).as("n_words"))
    val inst = d.filter(size(col("_w")) >= Constants.SubstrW)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(1), size(col("_w")) - (Constants.SubstrW - 1)),
        i => md5(concat_ws(" ", slice(col("_w"), i, lit(Constants.SubstrW))))))
        .as(Seq("pos0", "wk")))
      .select(col("doc_id"), (col("pos0") + 1).cast(LongType).as("pos"), col("wk"))
    val dup = inst.groupBy(col("wk"))
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 2).select("wk")
    val starts = inst.join(dup, "wk").select(col("doc_id"), col("pos"))
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val prevEnd = max(col("pos") + (Constants.SubstrW - 1))
      .over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
    val spans = starts
      .withColumn("ni",
        when(prevEnd.isNull || col("pos") > prevEnd + 1, 1L).otherwise(0L))
      .withColumn("island", sum(col("ni")).over(wOrd))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + (Constants.SubstrW - 1)).as("e"))
    val perDoc = spans.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_dup_spans"),
      sum(col("e") - col("s") + 1).as("n_dup_words"))
    d.select(col("doc_id"), col("n_words"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("n_dup_words"), lit(0L)).as("n_dup_words"),
        (coalesce(col("n_dup_words"), lit(0L)).cast(DoubleType) /
          col("n_words").cast(DoubleType)).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  val duplicatedSpansSql: String = {
    val e = Constants.SubstrW - 1
    s"""WITH d AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
       |dd AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words, w FROM d),
       |i0 AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - $e)) AS pos
       |       FROM dd WHERE len(w) >= ${Constants.SubstrW}),
       |keyed AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |            md5(array_to_string(w[pos:pos+$e], ' ')) AS wk FROM i0),
       |dup AS (SELECT wk FROM keyed GROUP BY wk HAVING count(*) >= 2),
       |starts AS (SELECT doc_id, pos FROM keyed WHERE wk IN (SELECT wk FROM dup)),
       |isl AS (SELECT doc_id, pos,
       |    CASE WHEN max(pos + $e) OVER (PARTITION BY doc_id ORDER BY pos
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
       |      OR pos > max(pos + $e) OVER (PARTITION BY doc_id ORDER BY pos
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
       |      THEN 1 ELSE 0 END AS ni
       |  FROM starts),
       |isl2 AS (SELECT doc_id, pos,
       |    SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM isl),
       |spans AS (SELECT doc_id, island, min(pos) AS s, max(pos) + $e AS e
       |          FROM isl2 GROUP BY doc_id, island),
       |perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans,
       |             CAST(SUM(e - s + 1) AS BIGINT) AS n_dup_words
       |           FROM spans GROUP BY doc_id)
       |SELECT dd.doc_id, dd.n_words,
       |  coalesce(n_dup_spans, 0) AS n_dup_spans,
       |  coalesce(n_dup_words, 0) AS n_dup_words,
       |  CAST(coalesce(n_dup_words, 0) AS DOUBLE) / CAST(dd.n_words AS DOUBLE)
       |    AS dup_frac
       |FROM dd LEFT JOIN perdoc USING (doc_id)
       |ORDER BY dd.doc_id""".stripMargin
  }

  // ------------------------- span-level decontamination (tx38)

  /** tx38: SPAN-level decontamination report — dd13 tells you WHICH
    * documents touch the eval set; this tells you WHERE, and what a
    * span-excision pass (the Dolma/OLMo decontamination shape: remove
    * the matched region, keep the document) retains vs dd13's doc-level
    * drop. Eval side = dd13's holdout convention (doc_id % EvalMod = 0):
    * its distinct [[Constants.SubstrW]]-word window keys form the broadcast match
    * set; every corpus window whose key appears there marks its
    * [pos, pos+W−1] interval, and per document the marked intervals
    * merge into maximal spans (tx16's islands-and-gaps rule). Output per
    * corpus doc: matched-span count, eval-covered word count and
    * fraction, and `clean_words` — what survives excision; summed over
    * contaminated docs, n_words − eval_words is exactly the volume a
    * doc-level drop overshoots by.
    *
    * Scale shape: windows are generated scan-side (tx16's projection);
    * the eval key set broadcasts (the holdout is ≪ corpus — dd13's
    * argument); matched starts are a broadcast-hash lookup, and the
    * interval merge's per-doc window sorts MATCHED starts only. No
    * self-join, no corpus shuffle beyond the per-doc rollup. Float
    * parity: eval_frac is one division of two exact BIGINTs. */
  def spanDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    // explicit null-text guard (tx37/tx16 convention, r16 advice): don't
    // lean on both engines agreeing about null propagation through
    // split/len/md5
    val d = t(spark, dir, "documents").filter(col("text").isNotNull)
      .withColumn("_w", words)
      .select(col("doc_id"), col("_w"),
        size(col("_w")).cast(LongType).as("n_words"))
    def windowKeys(df: DataFrame): DataFrame = df
      .filter(size(col("_w")) >= Constants.SubstrW)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(1), size(col("_w")) - (Constants.SubstrW - 1)),
        i => md5(concat_ws(" ", slice(col("_w"), i, lit(Constants.SubstrW))))))
        .as(Seq("pos0", "wk")))
      .select(col("doc_id"), (col("pos0") + 1).cast(LongType).as("pos"), col("wk"))
    val isEval = col("doc_id") % Constants.EvalMod === 0
    val evalKeys = windowKeys(d.filter(isEval)).select(col("wk")).distinct()
    val starts = windowKeys(d.filter(!isEval))
      .join(evalKeys, "wk").select(col("doc_id"), col("pos"))
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val prevEnd = max(col("pos") + (Constants.SubstrW - 1))
      .over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
    val spans = starts
      .withColumn("ni",
        when(prevEnd.isNull || col("pos") > prevEnd + 1, 1L).otherwise(0L))
      .withColumn("island", sum(col("ni")).over(wOrd))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + (Constants.SubstrW - 1)).as("e"))
    val perDoc = spans.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_eval_spans"),
      sum(col("e") - col("s") + 1).as("eval_words"))
    d.filter(!isEval).select(col("doc_id"), col("n_words"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_eval_spans"), lit(0L)).as("n_eval_spans"),
        coalesce(col("eval_words"), lit(0L)).as("eval_words"),
        (coalesce(col("eval_words"), lit(0L)).cast(DoubleType) /
          col("n_words").cast(DoubleType)).as("eval_frac"),
        (col("n_words") - coalesce(col("eval_words"), lit(0L))).as("clean_words"))
      .orderBy(col("doc_id"))
  }

  // Plain val again: this twin used to reference Dedup.EvalMod, whose
  // init reads Curation, which reads back into THIS object — a cycle
  // that forced it lazy (commit 7bcaca9). The shared constants now live
  // on the dependency-free llmdata.Constants object, so no cross-object
  // init can run mid-cycle here; EntrySpec's artifact lint guards the
  // baked-null failure mode regardless.
  val spanDecontaminateSql: String = {
    val e = Constants.SubstrW - 1
    s"""WITH d AS (SELECT doc_id, string_split(text,' ') AS w FROM documents
       |            WHERE text IS NOT NULL),
       |dd AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words, w FROM d),
       |i0 AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - $e)) AS pos
       |       FROM dd WHERE len(w) >= ${Constants.SubstrW}),
       |keyed AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |            md5(array_to_string(w[pos:pos+$e], ' ')) AS wk FROM i0),
       |ev AS (SELECT DISTINCT wk FROM keyed WHERE doc_id % ${Constants.EvalMod} = 0),
       |starts AS (SELECT doc_id, pos FROM keyed
       |           WHERE doc_id % ${Constants.EvalMod} <> 0
       |             AND wk IN (SELECT wk FROM ev)),
       |isl AS (SELECT doc_id, pos,
       |    CASE WHEN max(pos + $e) OVER (PARTITION BY doc_id ORDER BY pos
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
       |      OR pos > max(pos + $e) OVER (PARTITION BY doc_id ORDER BY pos
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
       |      THEN 1 ELSE 0 END AS ni
       |  FROM starts),
       |isl2 AS (SELECT doc_id, pos,
       |    SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM isl),
       |spans AS (SELECT doc_id, island, min(pos) AS s, max(pos) + $e AS e
       |          FROM isl2 GROUP BY doc_id, island),
       |perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_eval_spans,
       |             CAST(SUM(e - s + 1) AS BIGINT) AS eval_words
       |           FROM spans GROUP BY doc_id)
       |SELECT dd.doc_id, dd.n_words,
       |  coalesce(n_eval_spans, 0) AS n_eval_spans,
       |  coalesce(eval_words, 0) AS eval_words,
       |  CAST(coalesce(eval_words, 0) AS DOUBLE) / CAST(dd.n_words AS DOUBLE)
       |    AS eval_frac,
       |  dd.n_words - coalesce(eval_words, 0) AS clean_words
       |FROM dd LEFT JOIN perdoc USING (doc_id)
       |WHERE dd.doc_id % ${Constants.EvalMod} <> 0
       |ORDER BY dd.doc_id""".stripMargin
  }

  // ------------------------------------------- cross-doc novelty (tx17)

  /** Cross-document novelty score (tx17): the fraction of a document's
    * DISTINCT trigrams that appear nowhere else in the corpus (df = 1).
    * tx13 measures repetition WITHIN a document; this measures what a
    * document adds to the corpus — the cheap surface-level signal behind
    * "select for diversity" data-curation passes (a doc of df>1 grams
    * re-states what the corpus already has). Emitted per doc: distinct
    * gram count, unique-gram count, novelty ratio (one division of exact
    * BIGINTs).
    *
    * Scale shape: shares dd6's cached trigram table; corpus df is ONE
    * map-side-combinable count over gram keys; the per-doc rollup joins
    * (gram → df) back to the exploded doc-gram list — a second linear
    * key shuffle, no self-join, text never moves (the gram strings do,
    * as in dd6; hash the keys for narrower exchanges at 100 TB). */
  def noveltyScore(spark: SparkSession, dir: String): DataFrame = {
    val docGrams = gramsOfShared(spark, dir)
      .select(col("doc_id"), explode_outer(col("grams")).as("gram"))
      .filter(col("gram").isNotNull)
    val df = docGrams.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    docGrams.join(df, "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_grams"), col("n_unique"),
        (col("n_unique").cast(DoubleType) / col("n_grams").cast(DoubleType))
          .as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** dd6's cached distinct-trigram table (Dedup.gramsOf) — one shingle
    * pass per corpus snapshot, shared across modules. */
  private def gramsOfShared(spark: SparkSession, dir: String): DataFrame =
    Dedup.gramsOf(spark, dir, 3)

  val noveltyScoreSql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
       |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g FROM w),
       |dg AS (SELECT doc_id, unnest(g) AS gram FROM sh),
       |df AS (SELECT gram, COUNT(*) AS df FROM dg GROUP BY gram),
       |per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
       |          CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
       |        FROM dg JOIN df USING (gram) GROUP BY doc_id)
       |SELECT doc_id, n_grams, n_unique,
       |  CAST(n_unique AS DOUBLE) / CAST(n_grams AS DOUBLE) AS novelty
       |FROM per ORDER BY doc_id""".stripMargin

  // --------------------------------------- BPE pair statistics (tx18)

  private val BpeTopPairs = 20

  /** BPE first-merge pair statistics (tx18): corpus-weighted counts of
    * adjacent CHARACTER pairs inside words — the inner statistic of
    * byte-pair-encoding tokenizer training (each BPE iteration merges the
    * top pair and recounts; this is the exact first iteration, and the
    * shape every later iteration reuses). Top [[BpeTopPairs]] pairs by
    * count, ties broken lexicographically.
    *
    * Scale shape: ONE combinable count collapses the corpus to its
    * distinct words (the standard BPE trick — pair generation then runs
    * over the vocabulary, not the corpus); pairs explode from distinct
    * words only, weighted by word frequency, into a second combinable
    * count; the top-k is a TakeOrdered, never a global sort. Repeats
    * inside a word ("aaa" → "aa" twice) count with multiplicity, as in
    * reference BPE. */
  def bpePairCounts(spark: SparkSession, dir: String): DataFrame = {
    val words = t(spark, dir, "documents")
      .select(explode_outer(split(col("text"), " ")).as("w"))
      .filter(col("w").isNotNull && length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
    val pairs = words.select(col("wc"), explode_outer(
      transform(sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .filter(col("pair").isNotNull)
    pairs.groupBy(col("pair")).agg(sum(col("wc")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(BpeTopPairs)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("pair"))).cast(LongType))
      .select(col("rank"), col("pair"), col("n"))
      .orderBy(col("rank"))
  }

  val bpePairCountsSql: String =
    s"""WITH w0 AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       |words AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS wc FROM w0
       |          WHERE len(w) >= 2 GROUP BY w),
       |pairs AS (SELECT substr(w, i, 2) AS pair, wc
       |          FROM words, unnest(generate_series(1, len(w) - 1)) AS t(i)),
       |agg AS (SELECT pair, CAST(SUM(wc) AS BIGINT) AS n FROM pairs GROUP BY pair)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rank,
       |  pair, n
       |FROM agg ORDER BY n DESC, pair LIMIT $BpeTopPairs""".stripMargin

  // ------------------------------------- encoding quality (tx20)

  /** Encoding/mojibake quality signals (tx20): per document, exact counts
    * of U+FFFD replacement characters (the fingerprint of a bad decode
    * upstream), C0 control characters (excluding tab/newline/CR), and
    * non-ASCII characters (legitimate international text ALSO counts here
    * — the two corruption counters are what gate, non-ASCII is context),
    * plus one bad-character ratio. The standard C4/CCNet pre-filter step
    * that catches double-decoded or truncated-multibyte inputs before
    * they poison tokenizer statistics.
    *
    * The fixture corpus is pure ASCII, so the query plants deterministic
    * corruption: doc_id % 17 adds replacement + BEL characters (true
    * mojibake, must flag), doc_id % 11 adds accented letters (legitimate
    * non-ASCII, must stay clean) — both engines build the identical
    * suffix from character codes. Counts come from translate (single
    * chars) and global regexp_replace length deltas; both engines count
    * CHARACTERS, not bytes.
    *
    * Scale: pure scan-side projections — zero shuffle, zero state. */
  def encodingQuality(spark: SparkSession, dir: String): DataFrame = {
    val corrupted = when(col("doc_id") % 17 === 0,
        concat(col("text"), lit(" \uFFFD\u0007\uFFFD")))
      .when(col("doc_id") % 11 === 0,
        concat(col("text"), lit(" \u00E9\u00FC")))
      .otherwise(col("text"))
    val s = col("s")
    val nRepl = length(s) - length(translate(s, "\uFFFD", ""))
    val nCtrl = length(s) -
      length(regexp_replace(s, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", ""))
    val nNonAscii = length(s) - length(regexp_replace(s, "[^\\x00-\\x7F]", ""))
    t(spark, dir, "documents")
      .select(col("doc_id"), corrupted.as("s"))
      .select(col("doc_id"),
        length(s).cast(LongType).as("n_chars"),
        nRepl.cast(LongType).as("n_replacement"),
        nCtrl.cast(LongType).as("n_control"),
        nNonAscii.cast(LongType).as("n_nonascii"),
        ((nRepl + nCtrl).cast(DoubleType) / length(s).cast(DoubleType))
          .as("bad_ratio"),
        (nRepl + nCtrl === 0).as("clean"))
      .orderBy(col("doc_id"))
  }

  val encodingQualitySql: String =
    """WITH c AS (SELECT doc_id,
      |    CASE WHEN doc_id % 17 = 0 THEN text || ' ' || chr(65533) || chr(7) || chr(65533)
      |         WHEN doc_id % 11 = 0 THEN text || ' ' || chr(233) || chr(252)
      |         ELSE text END AS s
      |  FROM documents),
      |m AS (SELECT doc_id, s,
      |    length(s) - length(replace(s, chr(65533), '')) AS n_replacement,
      |    length(s) - length(regexp_replace(s, '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g'))
      |      AS n_control,
      |    length(s) - length(regexp_replace(s, '[^\x00-\x7F]', '', 'g')) AS n_nonascii
      |  FROM c)
      |SELECT doc_id, CAST(length(s) AS BIGINT) AS n_chars,
      |  CAST(n_replacement AS BIGINT) AS n_replacement,
      |  CAST(n_control AS BIGINT) AS n_control,
      |  CAST(n_nonascii AS BIGINT) AS n_nonascii,
      |  CAST(n_replacement + n_control AS DOUBLE) / length(s) AS bad_ratio,
      |  n_replacement + n_control = 0 AS clean
      |FROM m ORDER BY doc_id""".stripMargin

  // ------------------------------------------ lexical complexity (tx21)

  /** tx21: lexical-complexity profile — the readability axis of the
    * quality-filter stack (tx7 measures punctuation/stopword hygiene,
    * tx12 vocabulary coverage, tx20 encoding health; none measures HOW
    * HARD the prose is). Syllables are proxied by VOWEL GROUPS
    * (`[aeiou]+` runs — the deterministic, engine-portable core of every
    * readability formula's syllable counter), counted in ONE
    * `regexp_count` over the full text (a space can't extend a vowel
    * group, so text-level counting equals the per-word sum); long-word
    * and monosyllable fractions classify each doc into a complexity
    * band on exact integer ratios. Per-source × band rollup with BIGINT
    * sums and one final division — no cross-row float accumulation.
    *
    * Scale: pure scan-side maps + one combinable aggregate over
    * ≤ |sources|×3 groups — the tx1 shape. */
  def lexicalComplexity(spark: SparkSession, dir: String): DataFrame = {
    val nWords = size(words).cast(LongType)
    val nSyl = regexp_count(col("text"), lit("[aeiou]+")).cast(LongType)
    val nLong = size(filter(words, w => length(w) >= 7)).cast(LongType)
    val nMono = size(filter(words,
      w => regexp_count(w, lit("[aeiou]+")) === 1)).cast(LongType)
    val avgSyl = nSyl.cast(DoubleType) / nWords.cast(DoubleType)
    val band = when(avgSyl >= 1.8, lit("complex"))
      .when(avgSyl >= 1.4, lit("moderate"))
      .otherwise(lit("simple"))
    t(spark, dir, "documents")
      .select(col("source"), band.as("band"), nWords.as("nw"),
        nSyl.as("ns"), nLong.as("nl"), nMono.as("nm"))
      .groupBy(col("source"), col("band"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nw")).as("total_words"),
        sum(col("ns")).as("total_vowel_groups"),
        (sum(col("ns")).cast(DoubleType) / sum(col("nw")).cast(DoubleType))
          .as("avg_syl_per_word"),
        (sum(col("nl")).cast(DoubleType) / sum(col("nw")).cast(DoubleType))
          .as("long_word_frac"),
        (sum(col("nm")).cast(DoubleType) / sum(col("nw")).cast(DoubleType))
          .as("monosyllable_frac"))
      .orderBy(col("source"), col("band"))
  }

  val lexicalComplexitySql: String =
    """WITH d AS (
      |  SELECT source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
      |    CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT) AS ns,
      |    CAST(len(list_filter(string_split(text, ' '), w -> len(w) >= 7)) AS BIGINT) AS nl,
      |    CAST(len(list_filter(string_split(text, ' '),
      |      w -> len(regexp_extract_all(w, '[aeiou]+')) = 1)) AS BIGINT) AS nm
      |  FROM documents),
      |b AS (
      |  SELECT source, nw, ns, nl, nm,
      |    CASE WHEN CAST(ns AS DOUBLE) / CAST(nw AS DOUBLE) >= 1.8 THEN 'complex'
      |         WHEN CAST(ns AS DOUBLE) / CAST(nw AS DOUBLE) >= 1.4 THEN 'moderate'
      |         ELSE 'simple' END AS band
      |  FROM d)
      |SELECT source, band, COUNT(*) AS n_docs,
      |  CAST(SUM(nw) AS BIGINT) AS total_words,
      |  CAST(SUM(ns) AS BIGINT) AS total_vowel_groups,
      |  CAST(SUM(ns) AS DOUBLE) / CAST(SUM(nw) AS DOUBLE) AS avg_syl_per_word,
      |  CAST(SUM(nl) AS DOUBLE) / CAST(SUM(nw) AS DOUBLE) AS long_word_frac,
      |  CAST(SUM(nm) AS DOUBLE) / CAST(SUM(nw) AS DOUBLE) AS monosyllable_frac
      |FROM b GROUP BY source, band ORDER BY source, band""".stripMargin

  // ------------------------------------ tx22: vocabulary growth (Heaps)

  /** Checkpoint count for the vocabulary-growth curve: the corpus is cut
    * into this many equal doc-id slices and vocabulary is measured
    * cumulatively at each cut. */
  private val VocabBuckets = 10

  /** tx22: vocabulary-growth (Heaps-law) profile — how fast the corpus
    * keeps yielding NEW types as documents accumulate. The curve is the
    * standard corpus-health diagnostic: a healthy crawl keeps minting
    * types (V ∝ n^β, β ≈ 0.5–0.7); a curve that flattens early says the
    * tail of the corpus is re-treading the head's vocabulary (template
    * spam, a looping crawler) and more data will not buy more diversity —
    * the decision input for "do we crawl more or curate harder". The TYPE
    * unit is the word TRIGRAM, not the single word: a closed-class word
    * list saturates in the first slice of any corpus (this fixture's
    * word vocabulary is complete after one decile), while trigram contexts
    * keep growing exactly when genuinely-new text keeps arriving — the
    * same reason decontamination (dd13) and novelty (tx17) key on n-grams.
    *
    * The naive form ("distinct types among the first k docs", per k) is
    * k re-scans. This is the one-pass formulation: each type is owned by
    * its FIRST document (min doc_id — one combinable aggregate over the
    * gram stream), first-appearance rolls up to the doc-id slice, and the
    * cumulative-over-slices sum is a 10-row window. Gram totals come from
    * scan-side `size`; the corpus text crosses no shuffle — the only
    * keyed exchange is the gram→min(doc_id) aggregate, map-side
    * combinable. All counts are exact BIGINTs; the type/token ratio is
    * one final division.
    *
    * At 100 TB: identical shape — one gram-keyed aggregate (the same
    * exchange class as tx6's df computation) + a |buckets|-row window. */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = words
    // sequence(1, n) counts DOWN for n <= 0 — short docs must yield none
    val grams = when(size(w) >= 3,
      transform(sequence(lit(1), size(w) - 2), i =>
        concat_ws(" ", element_at(w, i), element_at(w, i + 1),
          element_at(w, i + 2))))
      .otherwise(array().cast(ArrayType(StringType)))
    val docs = t(spark, dir, "documents")
    val nFrame = docs.agg((max(col("doc_id")) + 1).as("n"))
    val bucket = expr(s"least((doc_id * $VocabBuckets) div n, ${VocabBuckets - 1})")
    val perBucket = docs.crossJoin(nFrame)
      .select(bucket.as("bucket"), size(grams).cast(LongType).as("nw"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("tokens"))
    val firstSeen = docs
      .select(col("doc_id"), explode(grams).as("w"))
      .groupBy(col("w")).agg(min(col("doc_id")).as("fd"))
    val newTypes = firstSeen.crossJoin(nFrame)
      .select(expr(s"least((fd * $VocabBuckets) div n, ${VocabBuckets - 1})").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("new_types"))
    val cum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket.join(newTypes, Seq("bucket"), "left")
      .select(col("bucket"), col("n_docs"),
        coalesce(col("new_types"), lit(0L)).as("new_types"),
        sum(coalesce(col("new_types"), lit(0L))).over(cum).as("vocab_cum"),
        sum(col("tokens")).over(cum).as("tokens_cum"))
      .withColumn("type_token_ratio",
        col("vocab_cum").cast(DoubleType) / col("tokens_cum").cast(DoubleType))
      .orderBy(col("bucket"))
  }

  val vocabGrowthSql: String = {
    val b = VocabBuckets
    s"""WITH n AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
       |ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |g AS (SELECT doc_id, list_transform(generate_series(1, len(w) - 2),
       |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS grams
       |      FROM ws),
       |d AS (SELECT least((doc_id * $b) // n.n, ${b - 1}) AS bucket,
       |        CAST(len(grams) AS BIGINT) AS nw
       |      FROM g, n),
       |pb AS (SELECT bucket, COUNT(*) AS n_docs, CAST(SUM(nw) AS BIGINT) AS tokens
       |       FROM d GROUP BY bucket),
       |fw AS (SELECT w, MIN(doc_id) AS fd
       |       FROM (SELECT doc_id, unnest(grams) AS w FROM g) GROUP BY w),
       |nt AS (SELECT least((fd * $b) // n.n, ${b - 1}) AS bucket,
       |         CAST(COUNT(*) AS BIGINT) AS new_types
       |       FROM fw, n GROUP BY 1),
       |c AS (SELECT pb.bucket, pb.n_docs,
       |        COALESCE(nt.new_types, 0) AS new_types,
       |        CAST(SUM(COALESCE(nt.new_types, 0)) OVER
       |          (ORDER BY pb.bucket ROWS BETWEEN UNBOUNDED PRECEDING
       |           AND CURRENT ROW) AS BIGINT) AS vocab_cum,
       |        CAST(SUM(pb.tokens) OVER
       |          (ORDER BY pb.bucket ROWS BETWEEN UNBOUNDED PRECEDING
       |           AND CURRENT ROW) AS BIGINT) AS tokens_cum
       |      FROM pb LEFT JOIN nt USING (bucket))
       |SELECT bucket, n_docs, new_types, vocab_cum, tokens_cum,
       |  CAST(vocab_cum AS DOUBLE) / CAST(tokens_cum AS DOUBLE) AS type_token_ratio
       |FROM c ORDER BY bucket""".stripMargin
  }

  // --------------------------- tx23: Zipf head-concentration profile

  /** Head size (types) for [[zipfProfile]]'s concentration measure. */
  private val ZipfHeadK = 10

  /** tx23: Zipf head-concentration profile — the rank-frequency
    * complement of tx22's type-minting curve: per source, how much of
    * the token mass the frequency HEAD carries. A crawl slice whose
    * top-[[ZipfHeadK]] types cover an outsized token share is
    * boilerplate/templated (the Zipf exponent steepened); one whose
    * hapax share balloons is OCR soup or ID-like noise minting one-off
    * types. Both tails of the same diagnostic; per source so mixture
    * design sees WHICH feed drifted.
    *
    * Per source: exact token/type/hapax counts, the top-K types' token
    * mass (rank by count desc with lexicographic tiebreak — fully
    * deterministic), and two ratios (each ONE division of exact
    * BIGINTs): head_share = top-K mass / tokens, hapax_share =
    * hapax types / types.
    *
    * Scale shape: one (source, word)-keyed combinable count — the tx6-df
    * exchange class; every rollup after it runs over TYPE rows (≪
    * tokens, Heaps-bounded), and the top-K rank windows over per-source
    * type counts exactly like ev11's trending rank (group = |types|).
    * Corpus text never crosses an exchange. */
  def zipfProfile(spark: SparkSession, dir: String): DataFrame = {
    val types = t(spark, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("cnt"))
    val perSrc = types.groupBy(col("source")).agg(
      sum(col("cnt")).as("n_tokens"),
      count(lit(1)).as("n_types"),
      sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("hapax_types"))
    val rankW = Window.partitionBy(col("source"))
      .orderBy(col("cnt").desc, col("w"))
    val head = types.withColumn("rk", row_number().over(rankW))
      .filter(col("rk") <= ZipfHeadK)
      .groupBy(col("source")).agg(sum(col("cnt")).as("head_tokens"))
    perSrc.join(head, "source")
      .select(col("source"), col("n_tokens"), col("n_types"),
        col("hapax_types"), col("head_tokens"),
        (col("head_tokens").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .as("head_share"),
        (col("hapax_types").cast(DoubleType) / col("n_types").cast(DoubleType))
          .as("hapax_share"))
      .orderBy(col("source"))
  }

  val zipfProfileSql: String =
    s"""WITH types AS (
       |  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
       |    SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY source, w),
       |per_src AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       |    CAST(COUNT(*) AS BIGINT) AS n_types,
       |    CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_types
       |  FROM types GROUP BY source),
       |head AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS head_tokens FROM (
       |    SELECT source, cnt, row_number() OVER
       |      (PARTITION BY source ORDER BY cnt DESC, w) AS rk FROM types)
       |  WHERE rk <= $ZipfHeadK GROUP BY source)
       |SELECT source, n_tokens, n_types, hapax_types, head_tokens,
       |  CAST(head_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS head_share,
       |  CAST(hapax_types AS DOUBLE) / CAST(n_types AS DOUBLE) AS hapax_share
       |FROM per_src JOIN head USING (source)
       |ORDER BY source""".stripMargin

  // ------------------------------- tx24: BPE tokenizer APPLY

  /** tx24: full BPE tokenizer apply — the operator every downstream
    * token budget (tx3 counting, tx14 packing, cur3/cur9 quotas) proxied
    * with whitespace until now. Per document: greedy lowest-rank-first
    * merge-table application over each whitespace word (exact semantics
    * and the memoized scan-side JVM loop in
    * [[graft.functions.BpeUtil]]), emitting the token count and the
    * space-joined token stream.
    *
    * The merge table is the offline-trained [[graft.functions.BpeTable]]
    * data, a per-JVM constant inside the native call — the degenerate
    * best case of a broadcast (zero build side). The plan is
    * ONE parquet scan + project, no join and no aggregate: tokenization
    * at 100 TB is embarrassingly parallel and this plan keeps it that
    * way (PlanQualitySpec pins zero joins/aggregates).
    *
    * Twin: the same greedy loop as a recursive CTE over a doubled-
    * separator token encoding (`..t1..t2..` — the doubling makes the
    * boundary-guarded pair pattern `␟a␟␟b␟` left-to-right `replace()`
    * EXACTLY the classic non-overlapping merge scan, including adjacent
    * occurrences), over DISTINCT words (the vocabulary trick) joined
    * back positionally. Caveat (documented): the twin's separator is
    * U+001F; words containing it are opaque single tokens on both
    * sides, and the fixture corpus contains none. */
  def bpeEncodeTokens(spark: SparkSession, dir: String): DataFrame = {
    val tokens = graft.functions.TextHashFunctions.bpeEncode(col("text"))
    t(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), tokens.as("tokens"))
      .select(col("doc_id"),
        size(col("tokens")).cast(LongType).as("n_tokens"),
        array_join(col("tokens"), " ").as("toks"))
      .orderBy(col("doc_id"))
  }

  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** A merge table as a SQL VALUES literal — single source of truth is
    * [[graft.functions.BpeTable]] (the band prefix for the
    * documents-family twins, the full table for the cross-domain audit's
    * realistic-size table). */
  private def bpeMergesValuesOf(ms: IndexedSeq[(String, String)]): String =
    ms.zipWithIndex
      .map { case ((a, b), i) => s"($i,${sqlLit(a)},${sqlLit(b)})" }
      .mkString(",")

  private def bpeMergesValues: String = bpeMergesValuesOf(BpeTable.Char.band)

  /** Shared CTE chain for the BPE twins: ends at `per(doc_id, ts)` — the
    * per-document U+001F-joined token stream. tx24 renders it; tx26
    * counts it into packing bins. (Single use per query, so no
    * MATERIALIZED hint needed.) */
  private[llmdata] def bpePerDocCtes: String =
    s"""WITH RECURSIVE merges(rank, a, b) AS (VALUES $bpeMergesValues),
       |dwords AS (
       |  SELECT DISTINCT w FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents
       |    WHERE text IS NOT NULL)
       |  WHERE w <> '' AND strpos(w, chr(31)) = 0),
       |enc AS (
       |  SELECT w,
       |    regexp_replace(w, '(.)', chr(31) || chr(31) || '\\1', 'g')
       |      || chr(31) || chr(31) AS s
       |  FROM dwords
       |  UNION ALL
       |  SELECT e.w, replace(e.s,
       |      chr(31) || p.a || chr(31) || chr(31) || p.b || chr(31),
       |      chr(31) || p.a || p.b || chr(31)) AS s
       |  FROM enc e, LATERAL (
       |    SELECT m.a, m.b FROM merges m
       |    WHERE strpos(e.s, chr(31) || m.a || chr(31) || chr(31) || m.b
       |      || chr(31)) > 0
       |    ORDER BY m.rank LIMIT 1) p),
       |final AS (
       |  SELECT w, trim(replace(s, chr(31) || chr(31), chr(31)), chr(31)) AS s
       |  FROM enc e
       |  WHERE NOT EXISTS (SELECT 1 FROM merges m
       |    WHERE strpos(e.s, chr(31) || m.a || chr(31) || chr(31) || m.b
       |      || chr(31)) > 0)),
       |docw AS (
       |  SELECT doc_id, i, parts[i] AS w
       |  FROM (SELECT doc_id, string_split(text, ' ') AS parts
       |        FROM documents WHERE text IS NOT NULL) d,
       |    unnest(range(1, len(parts) + 1)) t(i)),
       |tok AS (
       |  SELECT dw.doc_id, dw.i, coalesce(f.s, dw.w) AS s
       |  FROM docw dw LEFT JOIN final f ON f.w = dw.w
       |  WHERE dw.w <> ''),
       |per AS (
       |  SELECT doc_id, string_agg(s, chr(31) ORDER BY i) AS ts
       |  FROM tok GROUP BY doc_id)""".stripMargin

  // NOTE: the CTE chain is interpolated AFTER its own stripMargin — the
  // tail fragments strip their margins separately (a second stripMargin
  // over the whole string would mangle the chain's `||` continuations).
  val bpeEncodeTokensSql: String = bpePerDocCtes + "\n" +
    s"""SELECT d.doc_id,
       |  CAST(CASE WHEN p.ts IS NULL THEN 0
       |    ELSE len(p.ts) - len(replace(p.ts, chr(31), '')) + 1 END
       |    AS BIGINT) AS n_tokens,
       |  coalesce(replace(p.ts, chr(31), ' '), '') AS toks
       |FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
       |LEFT JOIN per p USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // --------------------- tx25: HTML boilerplate extraction

  /** Stopword list for the block classifier — the fixture vocabulary's
    * function words (jusText classifies on stopword density against a
    * per-language list; this is the corpus's). */
  private val ExtractStopwords = Seq("the", "a", "of", "to", "is")

  /** tx25: HTML → clean-text BOILERPLATE EXTRACTION — the step every
    * real pipeline runs before the curation stack sees "text" (the gap
    * between `documents.parquet` and a crawl). Two halves, both
    * scan-side:
    *
    *  - SYNTH (fixture-only): each document is deterministically
    *    rendered to markup — 20-word blocks, every third block
    *    (doc_id + idx ≡ 0 mod 3) a link-farm `<div class="nav">` with
    *    each word wrapped in an anchor, the rest plain `<p>` — so the
    *    extractor has real tag soup with known-varying link density to
    *    chew on. (The per-word anchor wrap is an interpreted lambda —
    *    fine for fixture synthesis; a production crawl arrives already
    *    marked up and skips this half entirely.)
    *  - EXTRACT (the operator): split on closing block tags (RE2-safe
    *    alternation — no lookbehind, so the twin's regex engine agrees),
    *    strip tags to raw text, and per block compute the exact integer
    *    signals of jusText-style classification (Pomikálek 2011):
    *    word count, anchor count (one `<a ` occurrence each — a
    *    length-difference count, no regex), stopword count against
    *    [[ExtractStopwords]]. Class rules are INTEGER comparisons
    *    (3·links > words; 10·stops ≥ words), so no float threshold can
    *    diverge between engines: `short` (< 8 words), `boilerplate`
    *    (link density > 1/3), `good` (stopword density ≥ 1/10), else
    *    `low_text`.
    *
    * Scale: one scan, one Generate (block explode), projections —
    * no join, no aggregate; the only exchange is the output sort
    * (PlanQualitySpec pins it). Per-block rows keep the downstream
    * choice open: a curation pass keeps `good` blocks' clean_text,
    * an audit reads the signals. */
  def htmlExtract(spark: SparkSession, dir: String): DataFrame =
    htmlExtractCore(spark, dir).orderBy(col("doc_id"), col("block_idx"))

  /** tx25's per-block classification without the output sort — cur15
    * builds its crawl→corpus reassembly on this so the extractor's
    * ORDER BY never rides into the curation plan as a dead mid-plan
    * exchange. */
  private[llmdata] def htmlExtractCore(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        filter(split(col("text"), " "), w => w =!= "").as("ws"))
      .filter(size(col("ws")) > 0)
    val nBlocks = floor((size(col("ws")) + lit(19)) / lit(20)).cast(LongType)
    val anchored = array_join(transform(col("bw"),
      w => concat(lit("<a href=\"#\">"), w, lit("</a>"))), " ")
    val blocks = d
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(1L), nBlocks)).as("bi"))
      .select(col("doc_id"), col("bi"),
        slice(col("ws"), ((col("bi") - 1) * 20 + 1).cast(IntegerType),
          lit(20)).as("bw"))
      .select(col("doc_id"), col("bi"),
        when((col("doc_id") + col("bi")) % 3 === 0,
          concat(lit("<div class=\"nav\">"), anchored, lit("</div>")))
          .otherwise(concat(lit("<p>"), array_join(col("bw"), " "),
            lit("</p>"))).as("html"))
    val seg = blocks.select(col("doc_id"), col("bi"), col("html"),
      trim(regexp_replace(col("html"), "<[^>]+>", " ")).as("raw_text"))
    val sig = seg.select(col("doc_id"),
      col("bi").cast(LongType).as("block_idx"),
      regexp_replace(col("raw_text"), " +", " ").as("clean_text"),
      size(filter(split(col("raw_text"), " +"), w => w =!= ""))
        .cast(LongType).as("n_words"),
      ((length(col("html")) - length(regexp_replace(col("html"), "<a ", "")))
        / 3).cast(LongType).as("n_links"),
      size(filter(split(col("raw_text"), " +"),
        w => w.isInCollection(ExtractStopwords))).cast(LongType).as("n_stop"))
    sig.select(col("doc_id"), col("block_idx"), col("n_words"),
        col("n_links"), col("n_stop"),
        when(col("n_words") < 8, "short")
          .when(col("n_links") * 3 > col("n_words"), "boilerplate")
          .when(col("n_stop") * 10 >= col("n_words"), "good")
          .otherwise("low_text").as("klass"),
        col("clean_text"))
  }

  /** Shared twin CTE chain for the extractor: ends at `blk(doc_id,
    * block_idx, n_words, n_links, n_stop, klass, clean_text)`. tx25
    * renders it; cur15 reassembles `good` blocks into a cleaned corpus. */
  private[llmdata] val htmlExtractCtes: String = {
    val stops = ExtractStopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH d AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
       |  FROM documents WHERE text IS NOT NULL),
       |blocks AS (
       |  SELECT doc_id, bi,
       |    CASE WHEN (doc_id + bi) % 3 = 0
       |      THEN '<div class="nav">' ||
       |           array_to_string(list_transform(ws[(bi-1)*20+1 : bi*20],
       |             w -> '<a href="#">' || w || '</a>'), ' ') || '</div>'
       |      ELSE '<p>' || array_to_string(ws[(bi-1)*20+1 : bi*20], ' ')
       |           || '</p>'
       |    END AS html
       |  FROM d, unnest(range(1, CAST((len(ws) + 19) // 20 AS BIGINT) + 1)) t(bi)
       |  WHERE len(ws) > 0),
       |seg AS (
       |  SELECT doc_id, bi, html,
       |    trim(regexp_replace(html, '<[^>]+>', ' ', 'g')) AS raw_text
       |  FROM blocks),
       |sig AS (
       |  SELECT doc_id, CAST(bi AS BIGINT) AS block_idx,
       |    regexp_replace(raw_text, ' +', ' ', 'g') AS clean_text,
       |    CAST(len(list_filter(string_split_regex(raw_text, ' +'),
       |      w -> w <> '')) AS BIGINT) AS n_words,
       |    CAST((len(html) - len(replace(html, '<a ', ''))) // 3
       |      AS BIGINT) AS n_links,
       |    CAST(len(list_filter(string_split_regex(raw_text, ' +'),
       |      w -> w IN ($stops))) AS BIGINT) AS n_stop
       |  FROM seg),
       |blk AS (
       |  SELECT doc_id, block_idx, n_words, n_links, n_stop,
       |    CASE WHEN n_words < 8 THEN 'short'
       |         WHEN 3 * n_links > n_words THEN 'boilerplate'
       |         WHEN 10 * n_stop >= n_words THEN 'good'
       |         ELSE 'low_text' END AS klass,
       |    clean_text
       |  FROM sig)""".stripMargin
  }

  val htmlExtractSql: String = htmlExtractCtes + "\n" +
    """SELECT doc_id, block_idx, n_words, n_links, n_stop, klass, clean_text
      |FROM blk ORDER BY doc_id, block_idx""".stripMargin

  // --------------- tx26: sequence packing on REAL BPE token budgets

  /** tx26: tx14's context-window packer re-run on the REAL token budget —
    * [[bpeEncodeTokens]]' per-document BPE counts instead of the
    * whitespace proxy — closing the loop the r13 verdict opened ("every
    * downstream token count proxies on whitespace"). Same placement
    * algebra as tx14 (per-source running BIGINT offset → start/end bin at
    * [[Constants.PackBudget]] tokens), plus the audit columns the proxy question
    * needs: `n_ws` (the proxy count), `ws_start_bin` (the bin the proxy
    * would have packed this doc into), and `bin_drift = start_bin −
    * ws_start_bin` — the compounding downstream displacement a
    * whitespace-budgeted packer would have suffered (≥ 0 since BPE never
    * under-counts words; LlmDataSpec pins both).
    *
    * Empty documents (0 BPE tokens) occupy their offset's bin:
    * `end_bin = floor((offset + max(n_bpe,1) − 1)/B)` keeps end ≥ start
    * without advancing the offset.
    *
    * Scale posture: identical to tx14 — the scan-side BPE encode adds
    * zero data movement (the merge table ships in the task binary), and
    * the ONE shuffle is the per-source ordered window for the running
    * offset; at 100 TB the packing unit is the per-source input shard,
    * which is exactly the partitionBy. Both cumulative sums share one
    * Window (PlanQualitySpec pins the single exchange). */
  /** Placement algebra shared by the packers (tx26 / mm10 — and, in
    * scalar form, the streaming PackingIngest): the bin range of a
    * [offset, offset + n) token footprint under `budget`-token bins;
    * a zero-token doc occupies the single bin at its offset. One
    * definition so the empty-doc convention cannot desynchronize. */
  private[llmdata] def startBinCol(offset: Column, budget: Int): Column =
    floor(offset / budget)
  private[llmdata] def endBinCol(offset: Column, n: Column,
                                 budget: Int): Column =
    floor((offset + greatest(n, lit(1L)) - 1) / budget)

  def bpePacking(spark: SparkSession, dir: String): DataFrame =
    bpePackingCore(spark, dir).orderBy(col("source"), col("doc_id"))

  /** tx26's placement without the output sort — cur13 builds its bin
    * explode on this so the packer's ORDER BY never rides into the
    * shard plan as a dead mid-plan exchange. */
  private[graft] def bpePackingCore(spark: SparkSession, dir: String): DataFrame = {
    val toks = graft.functions.TextHashFunctions.bpeEncode(col("text"))
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("source"), col("doc_id"),
        size(toks).cast(LongType).as("n_bpe"),
        size(filter(split(col("text"), " "), x => x =!= ""))
          .cast(LongType).as("n_ws"))
      .withColumn("tok_offset", coalesce(sum(col("n_bpe")).over(w), lit(0L)))
      .withColumn("ws_offset", coalesce(sum(col("n_ws")).over(w), lit(0L)))
      .select(col("source"), col("doc_id"), col("n_bpe"), col("n_ws"),
        col("tok_offset"),
        startBinCol(col("tok_offset"), Constants.PackBudget).as("start_bin"),
        endBinCol(col("tok_offset"), col("n_bpe"), Constants.PackBudget).as("end_bin"),
        startBinCol(col("ws_offset"), Constants.PackBudget).as("ws_start_bin"))
      .withColumn("crosses_boundary", col("end_bin") > col("start_bin"))
      .withColumn("bin_drift", col("start_bin") - col("ws_start_bin"))
  }

  /** Shared twin CTE chain ending at `o(source, doc_id, n_bpe, n_ws,
    * tok_offset, ws_offset)` — the per-doc BPE packing placement. tx26
    * renders it; cur13 bins it into shards. */
  private[llmdata] def bpePlacementCtes: String = bpePerDocCtes + ",\n" +
    s"""counts AS (
       |  SELECT d.source, d.doc_id,
       |    CAST(CASE WHEN p.ts IS NULL THEN 0
       |      ELSE len(p.ts) - len(replace(p.ts, chr(31), '')) + 1 END
       |      AS BIGINT) AS n_bpe,
       |    CAST(len(list_filter(string_split(d.text, ' '), w -> w <> ''))
       |      AS BIGINT) AS n_ws
       |  FROM documents d LEFT JOIN per p USING (doc_id)
       |  WHERE d.text IS NOT NULL),
       |o AS (
       |  SELECT *,
       |    COALESCE(SUM(n_bpe) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS tok_offset,
       |    COALESCE(SUM(n_ws) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS ws_offset
       |  FROM counts)""".stripMargin

  val bpePackingSql: String = bpePlacementCtes + "\n" +
    s"""SELECT source, doc_id, n_bpe, n_ws,
       |  CAST(tok_offset AS BIGINT) AS tok_offset,
       |  CAST(floor(tok_offset / ${Constants.PackBudget}) AS BIGINT) AS start_bin,
       |  CAST(floor((tok_offset + greatest(n_bpe, 1) - 1) / ${Constants.PackBudget})
       |    AS BIGINT) AS end_bin,
       |  CAST(floor(ws_offset / ${Constants.PackBudget}) AS BIGINT) AS ws_start_bin,
       |  floor((tok_offset + greatest(n_bpe, 1) - 1) / ${Constants.PackBudget}) >
       |    floor(tok_offset / ${Constants.PackBudget}) AS crosses_boundary,
       |  CAST(floor(tok_offset / ${Constants.PackBudget}) - floor(ws_offset / ${Constants.PackBudget})
       |    AS BIGINT) AS bin_drift
       |FROM o ORDER BY source, doc_id""".stripMargin

  // ------ tx32/tx33: token-id vocabulary + id-level encode (r15 task 1)

  /** tx32: the VOCABULARY artifact of the applied tokenizer — one row per
    * distinct BPE token in the documents corpus under the default Band
    * table, with `token_id` = 0-based lexicographic rank (deterministic:
    * re-running the build over the same corpus snapshot yields the same
    * ids regardless of cluster shape) and the corpus occurrence count.
    * This is the table a tokenizer RELEASE ships next to its merge list:
    * ids, not token strings, are what training shards store and what an
    * embedding matrix is sized by ([[Curation.writeShardFilesWithIds]]
    * persists it as parquet beside the shard files — the ss7-style
    * write/read index lifecycle, spec-gated round trip).
    *
    * Scale posture: one documents scan (the encode is the scan-side
    * native expression), one hash aggregate over token instances, and a
    * single-partition window over the DISTINCT tokens only — |vocab| is
    * Heaps-law sublinear (a production tokenizer caps it at 32k–256k
    * ids), so the unpartitioned rank is a control-plane sort, not a data
    * shuffle. */
  def bpeVocab(spark: SparkSession, dir: String): DataFrame =
    bpeVocabCore(spark, dir).orderBy(col("token_id"))

  private[graft] def bpeVocabCore(spark: SparkSession, dir: String): DataFrame = {
    val toks = graft.functions.TextHashFunctions.bpeEncode(col("text"))
    t(spark, dir, "documents").filter(col("text").isNotNull)
      .select(explode(toks).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"))
      .withColumn("token_id",
        (row_number().over(Window.orderBy(col("token"))) - 1)
          .cast(IntegerType))
      .select(col("token_id"), col("token"), col("n_occurrences"))
  }

  /** The vocab as a driver-side [[BpeVocab]], session-cached per corpus
    * dir — the IVF-codebook idiom (`Similarity.collectedExemplars`):
    * collected ONCE (|vocab| rows, control plane), then passed to the id
    * encode and decode as a literal so the per-token lookup is an in-task
    * O(1) hash probe with zero data movement. Same staleness contract as every
    * SessionCache user. */
  private val vocabCache = new SessionCache[BpeVocab](_ => ())
  private def collectedVocab(spark: SparkSession, dir: String): BpeVocab =
    vocabCache.get(spark, s"bpe_vocab:$dir")(BpeVocab(
      bpeVocabCore(spark, dir).collect()
        .map(r => r.getString(1) -> r.getInt(0)).toMap))

  /** The id-level encode column: text → array<int> under the corpus
    * vocab (native [[graft.functions.TextHashFunctions.bpeEncodeIds]];
    * merge walk + id lookup in one scan-side pass). */
  private def bpeIdsCol(spark: SparkSession, dir: String): Column =
    graft.functions.TextHashFunctions.bpeEncodeIds(col("text"), collectedVocab(spark, dir))

  /** tx33: per-document token-ID sequences — tx24's apply emitting the
    * INT ids a trainer consumes instead of token strings. Zero-token
    * documents keep an empty sequence (they are real corpus rows and the
    * packer accounts for them). Scan-side; the ONLY movement is the
    * output itself.
    *
    * Gate shape (r16 verdict task 1): the id array is rendered as
    * `ids_md5 = md5(array_join(ids, ','))` — a per-document CONTENT hash
    * of the exact sequence, strictly stronger than the previous
    * rows-only check and scalar-sortable by any harness (top-level
    * `array<int>` columns break the driver's row comparator). Consumers
    * who need the raw arrays read the shard parquet
    * ([[Curation.writeShardFilesWithIds]]), which keeps them. */
  def bpeEncodeIds(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"), bpeIdsCol(spark, dir).as("ids"))
      .select(col("doc_id"), size(col("ids")).cast(LongType).as("n_ids"),
        md5(array_join(transform(col("ids"), _.cast(StringType)), ","))
          .as("ids_md5"))
      .orderBy(col("doc_id"))

  /** tx34: detokenizer ROUND-TRIP audit — decode(encode(text)) vs the
    * text itself, per source. The release gate of a tokenizer artifact:
    * before any shard ships, prove the id stream is LOSSLESS back to the
    * corpus through the inverse vocab (the exact check HuggingFace's
    * `tokenizer.decode(tokenizer.encode(x)) == x` convention runs). The
    * identity here is exact up to the tokenizer's own whitespace rule
    * (single-space split, empty words dropped, tokens concatenated), so
    * the audited invariant is `decode(ids) == text with spaces removed` —
    * `n_roundtrip_exact == n_docs` corpus-wide, plus the char-volume
    * reconciliation (decoded chars + dropped spaces == source chars).
    *
    * Scale posture: encode∘decode fuses into ONE scan-side projection
    * (native `bpe_encode_ids` → `bpe_decode_ids`, both codegen; the
    * inverse vocab is a dense array indexed by id — ids are lexicographic
    * ranks — shipped in the same vocab literal as the forward map), then one
    * combinable per-source aggregate. Zero joins, zero extra shuffle. */
  def bpeRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val decoded = graft.functions.TextHashFunctions.bpeDecodeIds(
      bpeIdsCol(spark, dir), collectedVocab(spark, dir))
    t(spark, dir, "documents").filter(col("text").isNotNull)
      .select(col("source"),
        decoded.as("decoded"),
        translate(col("text"), " ", "").as("expected"),
        length(col("text")).cast(LongType).as("nt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("decoded") === col("expected"), 1L).otherwise(0L))
          .as("n_roundtrip_exact"),
        sum(length(col("decoded")).cast(LongType)).as("n_decoded_chars"),
        sum(col("nt") - length(col("expected")).cast(LongType))
          .as("n_spaces_dropped"))
      .orderBy(col("source"))
  }

  // lazy: bpeVocabIdsCtes is declared further down the object (val init
  // order would null it here)
  lazy val bpeRoundtripSql: String = bpePerDocCtes + ",\n" + bpeVocabIdsCtes + ",\n" +
    """dec AS (
       |  SELECT x.doc_id, string_agg(v.token, '' ORDER BY x.o) AS decoded
       |  FROM (SELECT i.doc_id, u.o, i.ids[u.o] AS tid
       |        FROM ids i, unnest(range(1, len(i.ids) + 1)) u(o)) x
       |  JOIN vocab v ON v.token_id = x.tid
       |  GROUP BY x.doc_id),
       |aud AS (
       |  SELECT d.source,
       |    COALESCE(dc.decoded, '') AS decoded,
       |    replace(d.text, ' ', '') AS expected,
       |    length(d.text) AS nt
       |  FROM documents d LEFT JOIN dec dc USING (doc_id)
       |  WHERE d.text IS NOT NULL)
       |SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN decoded = expected THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_roundtrip_exact,
       |  CAST(sum(length(decoded)) AS BIGINT) AS n_decoded_chars,
       |  CAST(sum(nt - length(expected)) AS BIGINT) AS n_spaces_dropped
       |FROM aud GROUP BY source ORDER BY source""".stripMargin

  /** tx35: BYTE-level detokenizer round-trip — the EXACT identity
    * (spaces included) that is the byte-level tokenizer's defining
    * property, vs tx34's space-squashed identity for the whitespace-split
    * char tokenizer. `bpe_decode_bytes(bpe_encode_bytes(text)) == text`
    * per document: mapped tokens unmap Ġ→space, opaque pretokens pass
    * through raw ([[graft.functions.BpeBytesUtil.decodeText]]), so the
    * round trip is exact for any input without a literal U+0120. The
    * ledger column `n_spaces_restored` counts the spaces that survived
    * the trip — the bytes the char-level tokenizer deliberately drops.
    *
    * Scale posture: encode∘decode fuse into one scan-side projection
    * (both native codegen, both stateless), then one combinable
    * per-source aggregate. Zero joins, zero extra shuffle. */
  def bpeBytesRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val decoded = graft.functions.TextHashFunctions.bpeDecodeBytes(
      graft.functions.TextHashFunctions.bpeEncodeBytes(col("text")))
    t(spark, dir, "documents").filter(col("text").isNotNull)
      .select(col("source"),
        decoded.as("decoded"),
        col("text").as("expected"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("decoded") === col("expected"), 1L).otherwise(0L))
          .as("n_roundtrip_exact"),
        sum(length(col("decoded")).cast(LongType)).as("n_decoded_chars"),
        sum((length(col("decoded")) -
          length(translate(col("decoded"), " ", ""))).cast(LongType))
          .as("n_spaces_restored"))
      .orderBy(col("source"))
  }

  /** Twin: decode = strip the chr(31) joiners from the per-doc byte
    * token stream, then unmap chr(288)=Ġ globally — valid because the
    * fixture surface is printable ASCII, where every Ġ in the stream is
    * a mapped space (the Spark side applies the per-token opaque rule;
    * on this corpus the two coincide — the guard divergence is
    * documented at [[graft.functions.BpeBytesUtil.decodeText]]). */
  val bpeBytesRoundtripSql: String =
    "WITH RECURSIVE " + bpeBytesPerDocCtes("") + ",\n" +
    """aud AS (
      |  SELECT d.source,
      |    COALESCE(replace(replace(p.ts, chr(31), ''), chr(288), ' '), '')
      |      AS decoded,
      |    d.text AS expected
      |  FROM documents d LEFT JOIN per p USING (doc_id)
      |  WHERE d.text IS NOT NULL)
      |SELECT source,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN decoded = expected THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_roundtrip_exact,
      |  CAST(sum(length(decoded)) AS BIGINT) AS n_decoded_chars,
      |  CAST(sum(length(decoded) - length(replace(decoded, ' ', '')))
      |    AS BIGINT) AS n_spaces_restored
      |FROM aud GROUP BY source ORDER BY source""".stripMargin

  /** tx26's placement CARRYING the materialized id arrays — the feed of
    * the id-level shard payload (cur16 / writeShardFilesWithIds). The id
    * arrays ride the packer's one per-source window shuffle: that IS the
    * token stream materializing, the irreducible volume of an id-level
    * artifact (the pointer-only variant that avoids it is
    * [[Curation.writeShardFiles]], whose scaladoc concedes a trainer
    * must re-encode at read time — r15 verdict task 1 closes that). */
  private[graft] def bpePackingIdsCore(spark: SparkSession,
                                       dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t(spark, dir, "documents").filter(col("text").isNotNull)
      .select(col("source"), col("doc_id"), bpeIdsCol(spark, dir).as("ids"))
      .withColumn("n_bpe", size(col("ids")).cast(LongType))
      .withColumn("tok_offset", coalesce(sum(col("n_bpe")).over(w), lit(0L)))
      .select(col("source"), col("doc_id"), col("ids"), col("n_bpe"),
        col("tok_offset"),
        startBinCol(col("tok_offset"), Constants.PackBudget).as("start_bin"),
        endBinCol(col("tok_offset"), col("n_bpe"), Constants.PackBudget).as("end_bin"))
  }

  /** Twin CTE fragment appending to a chain that contains `tok` (from
    * [[bpePerDocCtes]]): flattens the per-word token strings to one row
    * per token position, ranks the distinct tokens into `vocab`, and
    * assembles per-doc id lists. */
  private[llmdata] val bpeVocabIdsCtes: String =
    s"""tokflat AS (
       |  SELECT t.doc_id, t.i, u.j, t.tl[u.j] AS tkn
       |  FROM (SELECT doc_id, i, string_split(s, chr(31)) AS tl FROM tok) t,
       |    unnest(range(1, len(t.tl) + 1)) u(j)),
       |vocab AS (
       |  SELECT tkn AS token,
       |    CAST(row_number() OVER (ORDER BY tkn) - 1 AS INTEGER) AS token_id,
       |    CAST(cnt AS BIGINT) AS n_occurrences
       |  FROM (SELECT tkn, count(*) AS cnt FROM tokflat GROUP BY tkn)),
       |ids AS (
       |  SELECT tf.doc_id, list(v.token_id ORDER BY tf.i, tf.j) AS ids
       |  FROM tokflat tf JOIN vocab v ON v.token = tf.tkn
       |  GROUP BY tf.doc_id)""".stripMargin

  val bpeVocabSql: String = bpePerDocCtes + ",\n" + bpeVocabIdsCtes + "\n" +
    "SELECT token_id, token, n_occurrences FROM vocab ORDER BY token_id"

  val bpeEncodeIdsSql: String = bpePerDocCtes + ",\n" + bpeVocabIdsCtes + "\n" +
    s"""SELECT d.doc_id,
       |  CAST(coalesce(len(i.ids), 0) AS BIGINT) AS n_ids,
       |  md5(COALESCE(array_to_string(i.ids, ','), '')) AS ids_md5
       |FROM documents d LEFT JOIN ids i USING (doc_id)
       |WHERE d.text IS NOT NULL
       |ORDER BY doc_id""".stripMargin

  // ------------------ tx27: tokenizer-health audit (fertility per source)

  /** tx27: per-source TOKENIZER-HEALTH audit over the applied BPE
    * artifact — the dashboard every tokenizer owner watches (fertility,
    * compression, unmerged-rate drift across domains decide when to
    * retrain). Completes the tokenizer story: train (offline
    * `tools/train_bpe.py` artifact) → apply (tx24) → pack (tx26) →
    * audit (this). Per source:
    *
    *  - `fertility` = tokens/word — the headline cross-domain metric
    *    (a domain far off the training distribution runs hot);
    *  - `chars_per_token` — the compression the merge table delivers;
    *  - `single_char_share` — the unmerged-fallback rate (tokens still
    *    at 1 char after all merges; the "byte-fallback rate" analogue);
    *
    * each a SINGLE division of two exact BIGINT sums (same operation
    * order both engines, so bit-identical — the module's standard float
    * discipline).
    *
    * Scale posture: one scan (the encode rides in the task binary —
    * zero data movement) + one tiny per-source hash aggregate
    * (map-side combine; |sources| rows). PlanQualitySpec pins
    * one scan + one aggregate, no join. */
  def tokenizerAudit(spark: SparkSession, dir: String): DataFrame = {
    val toks = graft.functions.TextHashFunctions.bpeEncode(col("text"))
    def ratio(num: Column, den: Column): Column =
      when(den === 0L, lit(null).cast(DoubleType))
        .otherwise(num.cast(DoubleType) / den.cast(DoubleType))
    t(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("source"),
        size(filter(split(col("text"), " "), x => x =!= ""))
          .cast(LongType).as("nw"),
        toks.as("tk"))
      .select(col("source"), col("nw"),
        size(col("tk")).cast(LongType).as("nt"),
        length(array_join(col("tk"), "")).cast(LongType).as("nc"),
        size(filter(col("tk"), x => length(x) === 1))
          .cast(LongType).as("n1"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nw")).as("n_words"),
        sum(col("nt")).as("n_tokens"),
        sum(col("nc")).as("n_chars"),
        sum(col("n1")).as("n_single"))
      .select(col("source"), col("n_docs"), col("n_words"),
        col("n_tokens"), col("n_chars"), col("n_single"),
        ratio(col("n_tokens"), col("n_words")).as("fertility"),
        ratio(col("n_chars"), col("n_tokens")).as("chars_per_token"),
        ratio(col("n_single"), col("n_tokens")).as("single_char_share"))
      .orderBy(col("source"))
  }

  val tokenizerAuditSql: String = bpePerDocCtes + ",\n" +
    s"""perdoc AS (
       |  SELECT d.source,
       |    CAST(len(list_filter(string_split(d.text, ' '), w -> w <> ''))
       |      AS BIGINT) AS nw,
       |    CAST(CASE WHEN p.ts IS NULL THEN 0
       |      ELSE len(p.ts) - len(replace(p.ts, chr(31), '')) + 1 END
       |      AS BIGINT) AS nt,
       |    CAST(CASE WHEN p.ts IS NULL THEN 0
       |      ELSE len(replace(p.ts, chr(31), '')) END AS BIGINT) AS nc,
       |    CAST(CASE WHEN p.ts IS NULL THEN 0
       |      ELSE len(list_filter(string_split(p.ts, chr(31)),
       |        t -> len(t) = 1)) END AS BIGINT) AS n1
       |  FROM documents d LEFT JOIN per p USING (doc_id)
       |  WHERE d.text IS NOT NULL),
       |agg AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(nw) AS BIGINT) AS n_words,
       |    CAST(SUM(nt) AS BIGINT) AS n_tokens,
       |    CAST(SUM(nc) AS BIGINT) AS n_chars,
       |    CAST(SUM(n1) AS BIGINT) AS n_single
       |  FROM perdoc GROUP BY source)
       |SELECT source, n_docs, n_words, n_tokens, n_chars, n_single,
       |  CASE WHEN n_words = 0 THEN NULL
       |    ELSE CAST(n_tokens AS DOUBLE) / CAST(n_words AS DOUBLE) END
       |    AS fertility,
       |  CASE WHEN n_tokens = 0 THEN NULL
       |    ELSE CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) END
       |    AS chars_per_token,
       |  CASE WHEN n_tokens = 0 THEN NULL
       |    ELSE CAST(n_single AS DOUBLE) / CAST(n_tokens AS DOUBLE) END
       |    AS single_char_share
       |FROM agg ORDER BY source""".stripMargin

  // ------------------ tx28: in-engine BPE tokenizer training

  /** Number of merges the tx28 QUERY learns over the documents corpus —
    * small enough for the 40-level unrolled DuckDB twin to gate it
    * exactly. The realistic-size table ([[BpeTable.Char]]'s full 2000 merges
    * over [[BpeCorpus.unionWordFreq]]) is gated by trainer parity
    * instead: LlmDataSpec asserts [[bpeTrainOn]] at N=2000 reproduces
    * the baked Python-trained artifact bit-for-bit (the twin cannot
    * unroll 2000 CTE levels). */
  private val BpeTrainMerges = 40

  /** tx28: BPE tokenizer TRAINING in-engine — closes the tokenizer
    * lifecycle (train → apply tx24 → pack tx26 → audit tx27) without the
    * offline Python step. Classic character-level byte-pair encoding
    * (Sennrich et al. 2016, the public subword-nmt algorithm, no
    * end-of-word marker): N times, count adjacent symbol pairs over the
    * frequency-weighted vocabulary, merge the most frequent pair
    * everywhere (ties lexicographic, so the table is deterministic).
    *
    * Scale posture (100 TB): the ONLY data-scale-dependent step is the
    * distributed word-frequency reduce (one scan + one map-side-combined
    * hash aggregate — the subword-nmt vocabulary trick: all training
    * passes run over DISTINCT words weighted by count). The iterative
    * merge loop is O(|vocab| · merges) over that compacted table —
    * corpus-size-independent — and is inherently sequential (each argmax
    * depends on the previous merge), so it runs in ONE executor task via
    * `repartition(1).mapPartitions`, NOT as 40 driver-scheduled jobs and
    * NOT as a driver-side collect. At web scale |vocab| is millions of
    * rows — megabytes — while the corpus is 100 TB; shipping the vocab to
    * one task is the textbook design (it is what every production BPE
    * trainer does after the distributed count).
    *
    * Exactness: characters are CODE POINTS (surrogate-safe, matching
    * DuckDB's `regexp_replace('(.)')` and Python iteration); tie-break
    * compares (−count, left, right) with UTF-8/code-point string order.
    * The twin trains the same table via a 40-level unrolled MATERIALIZED
    * CTE chain (argmax + single-pair merge per level, on the same
    * double-separator encoding as tx24's apply chain). */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    bpeTrainOn(BpeCorpus.documentsWordFreq(spark, dir), BpeTrainMerges)

  /** Code-point string order (what Python tuple compare and DuckDB's
    * UTF-8 binary ORDER BY both use) — Java's natural String order is
    * UTF-16 code-unit order, which disagrees for supplementary-plane vs
    * U+E000..U+FFFF symbols. */
  private val cpOrder: Ordering[String] = (x: String, y: String) => {
    val xi = x.codePoints().toArray; val yi = y.codePoints().toArray
    val n = math.min(xi.length, yi.length)
    var i = 0
    while (i < n && xi(i) == yi(i)) i += 1
    if (i < n) Integer.compare(xi(i), yi(i))
    else Integer.compare(xi.length, yi.length)
  }

  /** BPE training over an arbitrary word-frequency table — tx28's engine,
    * parameterized so the same loop trains both the 40-merge documents
    * oracle table and the 2000-merge union-corpus artifact (the parity
    * spec's subject). The corpus-scale reduce stays distributed; the
    * merge loop ships the compacted vocabulary to ONE executor task. */
  private[graft] def bpeTrainOn(wordFreq: DataFrame, nMerges: Int): DataFrame = {
    val spark = wordFreq.sparkSession
    import spark.implicits._
    wordFreq.as[(String, Long)].repartition(1).mapPartitions { it =>
      trainMerges(it, nMerges).iterator
    }.toDF("merge_rank", "pair_left", "pair_right")
      .orderBy(col("merge_rank"))
  }

  /** The in-task merge loop, with the INCREMENTAL pair-statistics update
    * the published subword-nmt implementation uses: pair → exact count
    * plus pair → affected-word index, so each merge touches only the
    * words containing the merged pair. Total cost is bounded by total
    * merge applications (each shortens one word by one symbol), NOT
    * O(|vocab| · merges) — at 2000 merges over the 16k-word union
    * vocabulary this is ~100× less work than the full recount, and the
    * counts (hence argmax + tie-break, hence the table) are bit-identical
    * to the naive loop because the increments are exact. */
  private[llmdata] def trainMerges(
      it: Iterator[(String, Long)], nMerges: Int): Vector[(Long, String, String)] = {
    import scala.collection.mutable
    // seed: each word as its code-point sequence, frequency-weighted
    val words = mutable.ArrayBuffer.empty[Array[String]]
    val freq = mutable.ArrayBuffer.empty[Long]
    it.foreach { case (w, c) =>
      val cps = mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < w.length) {
        val n = Character.charCount(w.codePointAt(i))
        cps += w.substring(i, i + n); i += n
      }
      words += cps.toArray
      freq += c
    }
    val pc = mutable.HashMap.empty[(String, String), Long]
    val occ = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    var wi = 0
    while (wi < words.length) {
      val w = words(wi); val c = freq(wi)
      var i = 0
      while (i < w.length - 1) {
        val p = (w(i), w(i + 1))
        pc.update(p, pc.getOrElse(p, 0L) + c)
        occ.getOrElseUpdate(p, mutable.Set.empty) += wi
        i += 1
      }
      wi += 1
    }
    val pairOrd = Ordering.Tuple3(Ordering.Long, cpOrder, cpOrder)
    val out = Vector.newBuilder[(Long, String, String)]
    var rank = 0
    while (rank < nMerges && pc.nonEmpty) {
      val (a, b) = pc.minBy { case ((l, r), c) => (-c, l, r) }(pairOrd)._1
      out += ((rank.toLong, a, b))
      val affected = occ.getOrElse((a, b), mutable.Set.empty).toArray
      java.util.Arrays.sort(affected) // deterministic touch order (counts
      // are order-independent, but keep the walk reproducible anyway)
      affected.foreach { wi =>
        val w = words(wi); val c = freq(wi)
        var i = 0
        while (i < w.length - 1) {
          val p = (w(i), w(i + 1))
          val nv = pc(p) - c
          if (nv == 0L) pc.remove(p) else pc.update(p, nv)
          i += 1
        }
        val nw = mutable.ArrayBuffer.empty[String]
        i = 0
        while (i < w.length) {
          if (i + 1 < w.length && w(i) == a && w(i + 1) == b) {
            nw += a + b; i += 2
          } else { nw += w(i); i += 1 }
        }
        words(wi) = nw.toArray
        val u = words(wi)
        i = 0
        while (i < u.length - 1) {
          val p = (u(i), u(i + 1))
          pc.update(p, pc.getOrElse(p, 0L) + c)
          occ.getOrElseUpdate(p, mutable.Set.empty) += wi
          i += 1
        }
      }
      occ.remove((a, b))
      rank += 1
    }
    out.result()
  }

  /** The twin's per-level pair: argmax over adjacent pairs of the
    * previous segmentation, then one-pair merge via the exact
    * double-separator `replace` (tx24's encoding: `␟␟` between tokens,
    * so one replace pass IS the left-to-right non-overlapping BPE scan).
    * MATERIALIZED is load-bearing: v(k) is referenced twice per level
    * and default CTE inlining would re-derive the whole prefix 2^40
    * times. */
  private def bpeTrainLevelSql(k: Int): String =
    s"""p$k AS MATERIALIZED (
       |  SELECT a, b FROM (
       |    SELECT t[i] AS a, t[i+1] AS b, SUM(freq) AS c
       |    FROM (SELECT string_split(trim(s, chr(31)), chr(31)||chr(31)) AS t,
       |            freq FROM v${k - 1}),
       |      unnest(range(1, len(t))) u(i)
       |    GROUP BY 1, 2)
       |  ORDER BY c DESC, a, b LIMIT 1),
       |v$k AS MATERIALIZED (
       |  SELECT replace(v.s, chr(31)||p.a||chr(31)||chr(31)||p.b||chr(31),
       |                 chr(31)||p.a||p.b||chr(31)) AS s, v.freq
       |  FROM v${k - 1} v, p$k p)""".stripMargin

  val bpeTrainSql: String =
    s"""WITH wf AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents
       |    WHERE text IS NOT NULL) WHERE w <> '' GROUP BY w),
       |v0 AS MATERIALIZED (
       |  SELECT regexp_replace(w, '(.)', chr(31) || chr(31) || '\\1', 'g')
       |    || chr(31) || chr(31) AS s, freq FROM wf),
       |""".stripMargin +
      (1 to BpeTrainMerges).map(bpeTrainLevelSql).mkString(",\n") + "\n" +
      "SELECT merge_rank, pair_left, pair_right FROM (\n" +
      (1 to BpeTrainMerges)
        .map(k => s"SELECT CAST(${k - 1} AS BIGINT) AS merge_rank, " +
          s"a AS pair_left, b AS pair_right FROM p$k")
        .mkString(" UNION ALL ") +
      "\n) ORDER BY merge_rank"

  // ------------- tx29: cross-domain tokenizer audit (realistic table)

  /** tx29: tx27's tokenizer-health dashboard run CROSS-DOMAIN under the
    * realistic-size merge table ([[BpeTable.Char]]'s full 2000 merges over the
    * union corpus — see [[BpeCorpus]]): the comparison a tokenizer owner
    * reads before reusing one tokenizer across heterogeneous shards.
    * Domains (one row each): `documents` (prose — a CLOSED 31-word
    * in-vocabulary surface, so under the full table it saturates at
    * fertility exactly 1.0, the asymptote any tokenizer reaches on its
    * own closed training set), `part_names` (a 16-word color vocabulary —
    * also saturates) and `supplier_names` (ID-shaped text with digit
    * tails — runs HOT: the digit diversity keeps names multi-token, the
    * published pattern of numeric/ID domains). The documents-family
    * operators deliberately DON'T use this table: the mid-band
    * band prefix keeps their fertility/packing-drift
    * signals alive (see [[BpeTable]] scaladoc for the measured
    * saturation that forces the split).
    *
    * Scale posture: identical to tx27 — the encode rides in the task
    * binary (zero data movement), one scan per domain table, one tiny
    * per-domain combinable aggregate; no join.  */
  def bpeDomainAudit(spark: SparkSession, dir: String): DataFrame = {
    val full = BpeTable.Char.full.length
    def enc(c: Column) = graft.functions.TextHashFunctions.bpeEncode(c, full)
    def ratio(num: Column, den: Column): Column =
      when(den === 0L, lit(null).cast(DoubleType))
        .otherwise(num.cast(DoubleType) / den.cast(DoubleType))
    val domains = Seq(
      ("documents", t(spark, dir, "documents").select(col("text").as("s"))),
      ("part_names", t(spark, dir, "part").select(col("p_name").as("s"))),
      ("supplier_names", t(spark, dir, "supplier").select(col("s_name").as("s"))))
    domains.map { case (d, df) =>
      df.filter(col("s").isNotNull).select(lit(d).as("domain"), col("s"))
    }.reduce(_.unionAll(_))
      .select(col("domain"),
        size(filter(split(col("s"), " "), x => x =!= ""))
          .cast(LongType).as("nw"),
        enc(col("s")).as("tk"))
      .select(col("domain"), col("nw"),
        size(col("tk")).cast(LongType).as("nt"),
        length(array_join(col("tk"), "")).cast(LongType).as("nc"),
        size(filter(col("tk"), x => length(x) === 1))
          .cast(LongType).as("n1"))
      .groupBy(col("domain"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("nw")).as("n_words"),
        sum(col("nt")).as("n_tokens"),
        sum(col("nc")).as("n_chars"),
        sum(col("n1")).as("n_single"))
      .select(col("domain"), col("n_rows"), col("n_words"), col("n_tokens"),
        col("n_chars"), col("n_single"),
        ratio(col("n_tokens"), col("n_words")).as("fertility"),
        ratio(col("n_chars"), col("n_tokens")).as("chars_per_token"),
        ratio(col("n_single"), col("n_tokens")).as("single_char_share"))
      .orderBy(col("domain"))
  }

  val bpeDomainAuditSql: String =
    s"""WITH RECURSIVE merges(rank, a, b) AS (VALUES ${bpeMergesValuesOf(BpeTable.Char.full)}),
       |src AS (
       |  SELECT 'documents' AS domain, unnest(string_split(text, ' ')) AS w
       |  FROM documents WHERE text IS NOT NULL
       |  UNION ALL
       |  SELECT 'part_names' AS domain, unnest(string_split(p_name, ' ')) AS w
       |  FROM part WHERE p_name IS NOT NULL
       |  UNION ALL
       |  SELECT 'supplier_names' AS domain, unnest(string_split(s_name, ' ')) AS w
       |  FROM supplier WHERE s_name IS NOT NULL),
       |srcw AS (SELECT domain, w FROM src WHERE w <> ''),
       |rowsrc AS (
       |  SELECT 'documents' AS domain, CAST(count(*) AS BIGINT) AS n_rows
       |  FROM documents WHERE text IS NOT NULL
       |  UNION ALL
       |  SELECT 'part_names', CAST(count(*) AS BIGINT) FROM part
       |  WHERE p_name IS NOT NULL
       |  UNION ALL
       |  SELECT 'supplier_names', CAST(count(*) AS BIGINT) FROM supplier
       |  WHERE s_name IS NOT NULL),
       |dwords AS (
       |  SELECT DISTINCT w FROM srcw WHERE strpos(w, chr(31)) = 0),
       |enc AS (
       |  SELECT w,
       |    regexp_replace(w, '(.)', chr(31) || chr(31) || '\\1', 'g')
       |      || chr(31) || chr(31) AS s
       |  FROM dwords
       |  UNION ALL
       |  SELECT e.w, replace(e.s,
       |      chr(31) || p.a || chr(31) || chr(31) || p.b || chr(31),
       |      chr(31) || p.a || p.b || chr(31)) AS s
       |  FROM enc e, LATERAL (
       |    SELECT m.a, m.b FROM merges m
       |    WHERE strpos(e.s, chr(31) || m.a || chr(31) || chr(31) || m.b
       |      || chr(31)) > 0
       |    ORDER BY m.rank LIMIT 1) p),
       |final AS (
       |  SELECT w, trim(replace(s, chr(31) || chr(31), chr(31)), chr(31)) AS s
       |  FROM enc e
       |  WHERE NOT EXISTS (SELECT 1 FROM merges m
       |    WHERE strpos(e.s, chr(31) || m.a || chr(31) || chr(31) || m.b
       |      || chr(31)) > 0)),
       |tokw AS (
       |  SELECT sw.domain, coalesce(f.s, sw.w) AS s
       |  FROM srcw sw LEFT JOIN final f ON f.w = sw.w),
       |agg AS (
       |  SELECT domain,
       |    CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(SUM(len(s) - len(replace(s, chr(31), '')) + 1) AS BIGINT)
       |      AS n_tokens,
       |    CAST(SUM(len(replace(s, chr(31), ''))) AS BIGINT) AS n_chars,
       |    CAST(SUM(len(list_filter(string_split(s, chr(31)),
       |      t -> len(t) = 1))) AS BIGINT) AS n_single
       |  FROM tokw GROUP BY domain)
       |SELECT a.domain, r.n_rows, a.n_words, a.n_tokens, a.n_chars, a.n_single,
       |  CASE WHEN a.n_words = 0 THEN NULL
       |    ELSE CAST(a.n_tokens AS DOUBLE) / CAST(a.n_words AS DOUBLE) END
       |    AS fertility,
       |  CASE WHEN a.n_tokens = 0 THEN NULL
       |    ELSE CAST(a.n_chars AS DOUBLE) / CAST(a.n_tokens AS DOUBLE) END
       |    AS chars_per_token,
       |  CASE WHEN a.n_tokens = 0 THEN NULL
       |    ELSE CAST(a.n_single AS DOUBLE) / CAST(a.n_tokens AS DOUBLE) END
       |    AS single_char_share
       |FROM agg a JOIN rowsrc r USING (domain)
       |ORDER BY domain""".stripMargin

  // ------- tx36: frozen-vocab OOV audit (the UnkId path, finally gated)

  /** tx36: what happens when a FROZEN vocab meets NEW text — the audit a
    * tokenizer owner runs before pointing a released (merges, vocab)
    * artifact at an unseen domain. tx33's id-encode contract says a
    * token outside the vocab maps to [[graft.functions.BpeUtil.UnkId]],
    * "impossible when vocab and corpus coincide" — this query exercises
    * the OTHER side of that contract: the documents-derived vocab (the
    * tx32 artifact) applied to `part_names` and `supplier_names`, whose
    * Band-table tokens are mostly NOT in the prose vocabulary. Per
    * domain: token volume, UNK count, and the OOV rate that decides
    * whether the release needs a retrain before ingesting that shard
    * (the documents row doubles as the closed-contract control:
    * `n_oov == 0`, LlmDataSpec-pinned). The twin computes UNK by
    * MEMBERSHIP (its own Band encode of documents is the vocab set), so
    * the two engines agree on semantics without sharing ranks.
    *
    * Scale posture: tx29's shape exactly — one scan per domain table,
    * the vocab rides the task binary as the id-encode's reference
    * object, one combinable per-domain aggregate; no join. */
  def frozenVocabOov(spark: SparkSession, dir: String): DataFrame = {
    def ratio(num: Column, den: Column): Column =
      when(den === 0L, lit(null).cast(DoubleType))
        .otherwise(num.cast(DoubleType) / den.cast(DoubleType))
    val domains = Seq(
      ("documents", t(spark, dir, "documents").select(col("text").as("s"))),
      ("part_names", t(spark, dir, "part").select(col("p_name").as("s"))),
      ("supplier_names",
        t(spark, dir, "supplier").select(col("s_name").as("s"))))
    val ids = graft.functions.TextHashFunctions.bpeEncodeIds(col("s"),
      collectedVocab(spark, dir))
    domains.map { case (d, df) =>
      df.filter(col("s").isNotNull).select(lit(d).as("domain"), col("s"))
    }.reduce(_.unionAll(_))
      .select(col("domain"), ids.as("ids"))
      .select(col("domain"),
        size(col("ids")).cast(LongType).as("nt"),
        size(filter(col("ids"), x => x === graft.functions.BpeUtil.UnkId))
          .cast(LongType).as("nu"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("nt")).as("n_tokens"),
        sum(col("nu")).as("n_oov"))
      .select(col("domain"), col("n_rows"), col("n_tokens"), col("n_oov"),
        ratio(col("n_oov"), col("n_tokens")).as("oov_rate"))
      .orderBy(col("domain"))
  }

  /** Twin: tx29's union-domain encode under the BAND table (the table
    * the vocab was built with), UNK decided by membership against the
    * documents token set. */
  val frozenVocabOovSql: String =
    s"""WITH RECURSIVE merges(rank, a, b) AS (VALUES ${bpeMergesValuesOf(BpeTable.Char.band)}),
       |src AS (
       |  SELECT 'documents' AS domain, unnest(string_split(text, ' ')) AS w
       |  FROM documents WHERE text IS NOT NULL
       |  UNION ALL
       |  SELECT 'part_names' AS domain, unnest(string_split(p_name, ' ')) AS w
       |  FROM part WHERE p_name IS NOT NULL
       |  UNION ALL
       |  SELECT 'supplier_names' AS domain, unnest(string_split(s_name, ' ')) AS w
       |  FROM supplier WHERE s_name IS NOT NULL),
       |srcw AS (SELECT domain, w FROM src WHERE w <> ''),
       |rowsrc AS (
       |  SELECT 'documents' AS domain, CAST(count(*) AS BIGINT) AS n_rows
       |  FROM documents WHERE text IS NOT NULL
       |  UNION ALL
       |  SELECT 'part_names', CAST(count(*) AS BIGINT) FROM part
       |  WHERE p_name IS NOT NULL
       |  UNION ALL
       |  SELECT 'supplier_names', CAST(count(*) AS BIGINT) FROM supplier
       |  WHERE s_name IS NOT NULL),
       |dwords AS (
       |  SELECT DISTINCT w FROM srcw WHERE strpos(w, chr(31)) = 0),
       |enc AS (
       |  SELECT w,
       |    regexp_replace(w, '(.)', chr(31) || chr(31) || '\\1', 'g')
       |      || chr(31) || chr(31) AS s
       |  FROM dwords
       |  UNION ALL
       |  SELECT e.w, replace(e.s,
       |      chr(31) || p.a || chr(31) || chr(31) || p.b || chr(31),
       |      chr(31) || p.a || p.b || chr(31)) AS s
       |  FROM enc e, LATERAL (
       |    SELECT m.a, m.b FROM merges m
       |    WHERE strpos(e.s, chr(31) || m.a || chr(31) || chr(31) || m.b
       |      || chr(31)) > 0
       |    ORDER BY m.rank LIMIT 1) p),
       |final AS (
       |  SELECT w, trim(replace(s, chr(31) || chr(31), chr(31)), chr(31)) AS s
       |  FROM enc e
       |  WHERE NOT EXISTS (SELECT 1 FROM merges m
       |    WHERE strpos(e.s, chr(31) || m.a || chr(31) || chr(31) || m.b
       |      || chr(31)) > 0)),
       |tokw AS (
       |  SELECT sw.domain, coalesce(f.s, sw.w) AS s
       |  FROM srcw sw LEFT JOIN final f ON f.w = sw.w),
       |toks AS (
       |  SELECT domain, unnest(string_split(s, chr(31))) AS tkn FROM tokw),
       |vtok AS (
       |  SELECT DISTINCT tkn AS token FROM toks WHERE domain = 'documents'),
       |agg AS (
       |  SELECT t.domain,
       |    CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_oov
       |  FROM toks t LEFT JOIN vtok v ON v.token = t.tkn
       |  GROUP BY t.domain)
       |SELECT a.domain, r.n_rows, a.n_tokens, a.n_oov,
       |  CASE WHEN a.n_tokens = 0 THEN NULL
       |    ELSE CAST(a.n_oov AS DOUBLE) / CAST(a.n_tokens AS DOUBLE) END
       |    AS oov_rate
       |FROM agg a JOIN rowsrc r USING (domain)
       |ORDER BY domain""".stripMargin

  // --------- tx30: BYTE-level BPE apply (GPT-2-shaped; tx24's complement)

  /** tx30: tx24's encode under the BYTE-level GPT-2-shaped tokenizer —
    * the variant production LLM stacks actually ship (see
    * [[graft.functions.BpeBytesUtil]] for the pretokenizer, byte map,
    * opaque guard, and the documented RE2-driven divergences from the
    * canonical GPT-2 regex). Same output surface as tx24 (doc_id,
    * n_tokens, joined token text) so the two tokenizers are directly
    * comparable; same scan-side zero-data-movement posture; the byte
    * merge table ([[BpeTable.Bytes]]'s band, the mid-band prefix of the
    * 2000-merge bytes-mode artifact) rides in the task binary.
    *
    * Twin: the tx24 recursion over DISTINCT MAPPED PRETOKENS — the
    * pretokens come from the same RE2 pattern (positional `parts[i]`
    * explode keeps document order), the byte map is `replace(' ',
    * chr(288))`, and non-printable-ASCII pretokens stay opaque/unmapped
    * (same caveat as tx24's U+001F guard: the fixture corpus has none). */
  def bpeBytesEncodeTokens(spark: SparkSession, dir: String): DataFrame = {
    val tokens = graft.functions.TextHashFunctions.bpeEncodeBytes(col("text"))
    t(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), tokens.as("tokens"))
      .select(col("doc_id"),
        size(col("tokens")).cast(LongType).as("n_tokens"),
        array_join(col("tokens"), " ").as("toks"))
      .orderBy(col("doc_id"))
  }

  /** Byte-chain twin CTE fragment (no WITH keyword): CTE names prefixed
    * with `x` so it can coexist with the char chain's names inside one
    * WITH RECURSIVE (tx31 runs both); ends at `${x}per(doc_id, ${x}ts)`. */
  private def bpeBytesPerDocCtes(x: String): String = {
    val pat = graft.functions.BpeBytesUtil.PretokenRegex.replace("'", "''")
    s"""${x}merges(rank, a, b) AS (
       |  VALUES ${bpeMergesValuesOf(BpeTable.Bytes.band)}),
       |${x}pret AS (
       |  SELECT doc_id, i, parts[i] AS w
       |  FROM (SELECT doc_id, regexp_extract_all(text, '$pat') AS parts
       |        FROM documents WHERE text IS NOT NULL) d,
       |    unnest(range(1, len(parts) + 1)) t(i)),
       |${x}mp AS (
       |  SELECT doc_id, i, w,
       |    CASE WHEN regexp_matches(w, '[^ -~]') THEN NULL
       |         ELSE replace(w, ' ', chr(288)) END AS mw
       |  FROM ${x}pret),
       |${x}dwords AS (SELECT DISTINCT mw AS w FROM ${x}mp WHERE mw IS NOT NULL),
       |${x}enc AS (
       |  SELECT w,
       |    regexp_replace(w, '(.)', chr(31) || chr(31) || '\\1', 'g')
       |      || chr(31) || chr(31) AS s
       |  FROM ${x}dwords
       |  UNION ALL
       |  SELECT e.w, replace(e.s,
       |      chr(31) || p.a || chr(31) || chr(31) || p.b || chr(31),
       |      chr(31) || p.a || p.b || chr(31)) AS s
       |  FROM ${x}enc e, LATERAL (
       |    SELECT m.a, m.b FROM ${x}merges m
       |    WHERE strpos(e.s, chr(31) || m.a || chr(31) || chr(31) || m.b
       |      || chr(31)) > 0
       |    ORDER BY m.rank LIMIT 1) p),
       |${x}final AS (
       |  SELECT w, trim(replace(s, chr(31) || chr(31), chr(31)), chr(31)) AS s
       |  FROM ${x}enc e
       |  WHERE NOT EXISTS (SELECT 1 FROM ${x}merges m
       |    WHERE strpos(e.s, chr(31) || m.a || chr(31) || chr(31) || m.b
       |      || chr(31)) > 0)),
       |${x}tok AS (
       |  SELECT m.doc_id, m.i, coalesce(f.s, m.mw, m.w) AS s
       |  FROM ${x}mp m LEFT JOIN ${x}final f ON f.w = m.mw),
       |${x}per AS (
       |  SELECT doc_id, string_agg(s, chr(31) ORDER BY i) AS ${x}ts
       |  FROM ${x}tok GROUP BY doc_id)""".stripMargin
  }

  val bpeBytesEncodeTokensSql: String =
    "WITH RECURSIVE " + bpeBytesPerDocCtes("") + "\n" +
    s"""SELECT d.doc_id,
       |  CAST(CASE WHEN p.ts IS NULL THEN 0
       |    ELSE len(p.ts) - len(replace(p.ts, chr(31), '')) + 1 END
       |    AS BIGINT) AS n_tokens,
       |  coalesce(replace(p.ts, chr(31), ' '), '') AS toks
       |FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
       |LEFT JOIN per p USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ------ tx31: tokenizer swap audit (char-level vs byte-level budgets)

  /** tx31: the MIGRATION question a pipeline owner asks before switching
    * tokenizers — what happens to every per-source token budget if the
    * corpus moves from the char-level table (tx24, packing/shard budgets
    * tx26/mm10/cur13) to the byte-level GPT-2-shaped one (tx30)? Per
    * source: word volume, both token totals under each tokenizer's
    * shipped default (Band) table, and `byte_to_char_ratio` — the factor
    * every downstream budget (context-window fill, shard token targets,
    * token-budget waterfilling) must be rescaled by. One exact division
    * of two BIGINT sums (the module's float discipline).
    *
    * Scale posture: ONE scan — both encodes are scan-side expressions in
    * the same projection (both merge tables ride the task binary), then
    * one |sources|-row combinable aggregate. The twin pays two full
    * recursion chains + two joins for the same answer — the clearest
    * case in the battery of the expression-level design beating the
    * SQL-expressible form. */
  def tokenizerSwapAudit(spark: SparkSession, dir: String): DataFrame = {
    val charToks = graft.functions.TextHashFunctions.bpeEncode(col("text"))
    val byteToks = graft.functions.TextHashFunctions.bpeEncodeBytes(col("text"))
    def ratio(num: Column, den: Column): Column =
      when(den === 0L, lit(null).cast(DoubleType))
        .otherwise(num.cast(DoubleType) / den.cast(DoubleType))
    t(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("source"),
        size(filter(split(col("text"), " "), x => x =!= ""))
          .cast(LongType).as("nw"),
        size(charToks).cast(LongType).as("nc"),
        size(byteToks).cast(LongType).as("nb"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nw")).as("n_words"),
        sum(col("nc")).as("n_char_tokens"),
        sum(col("nb")).as("n_byte_tokens"))
      .select(col("source"), col("n_docs"), col("n_words"),
        col("n_char_tokens"), col("n_byte_tokens"),
        ratio(col("n_byte_tokens"), col("n_char_tokens"))
          .as("byte_to_char_ratio"))
      .orderBy(col("source"))
  }

  val tokenizerSwapAuditSql: String =
    bpePerDocCtes + ",\n" + bpeBytesPerDocCtes("b") + ",\n" +
    s"""cnt AS (
       |  SELECT d.source, d.doc_id,
       |    CAST(len(list_filter(string_split(d.text, ' '), w -> w <> ''))
       |      AS BIGINT) AS nw,
       |    CAST(CASE WHEN p.ts IS NULL THEN 0
       |      ELSE len(p.ts) - len(replace(p.ts, chr(31), '')) + 1 END
       |      AS BIGINT) AS nc,
       |    CAST(CASE WHEN b.bts IS NULL THEN 0
       |      ELSE len(b.bts) - len(replace(b.bts, chr(31), '')) + 1 END
       |      AS BIGINT) AS nb
       |  FROM documents d
       |  LEFT JOIN per p USING (doc_id)
       |  LEFT JOIN bper b USING (doc_id)
       |  WHERE d.text IS NOT NULL)
       |SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(nw) AS BIGINT) AS n_words,
       |  CAST(sum(nc) AS BIGINT) AS n_char_tokens,
       |  CAST(sum(nb) AS BIGINT) AS n_byte_tokens,
       |  CASE WHEN sum(nc) = 0 THEN NULL
       |    ELSE CAST(sum(nb) AS DOUBLE) / CAST(sum(nc) AS DOUBLE) END
       |    AS byte_to_char_ratio
       |FROM cnt GROUP BY source ORDER BY source""".stripMargin

  // ------ tx37: merge-budget ablation (the vocab-size curve)

  /** Merge-table prefixes for the tx37 curve — quarter/half/¾/full of
    * the shipped Band table. Level 0 (pure character level) is derived,
    * not encoded: at zero merges every token is one character, so its
    * token total IS the char total — the curve's exact anchor. */
  private val AblationLevels = Seq(
    BpeTable.Char.bandN / 4, BpeTable.Char.bandN / 2,
    BpeTable.Char.bandN * 3 / 4, BpeTable.Char.bandN)

  /** tx37: MERGE-BUDGET ablation — the vocab-size question a tokenizer
    * owner answers before fixing |V| (vocab-scaling studies ask exactly
    * this; Gallé 2019 frames BPE quality as compression per merge): the
    * corpus token total under each PREFIX of the merge table
    * (0/¼/½/¾/full), with fertility, compression, and the MARGINAL
    * tokens-saved-per-added-merge between consecutive levels — the
    * diminishing-returns signal that says where to stop growing the
    * vocabulary (the curve's knee).
    *
    * Exactness: token totals are exact BIGINT sums (BPE tokens
    * partition each word's characters, so the level-0 anchor equals the
    * char total by identity, and `n_chars` is level-invariant); every
    * ratio is ONE division of two exact BIGINTs.
    *
    * Scale posture: ONE scan — all four encodes are scan-side native
    * expressions in the same projection (prefix tables ride the task
    * binary; the per-JVM word memo makes the 4× encode sublinear in
    * practice because the vocabulary trick applies per level) — then a
    * single combinable global aggregate (one row) exploded into the
    * five curve rows driver-side of the aggregate, costing nothing.
    * The twin pays four full recursion chains for the same answer —
    * tx31's argument at 4×. */
  def bpeMergeAblation(spark: SparkSession, dir: String): DataFrame = {
    def tk(n: Int) = graft.functions.TextHashFunctions.bpeEncode(col("text"), n)
    val perDoc = t(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(
        size(filter(split(col("text"), " "), x => x =!= ""))
          .cast(LongType).as("nw") +:
        length(array_join(tk(BpeTable.Char.bandN), "")).cast(LongType).as("nc") +:
        AblationLevels.zipWithIndex.map { case (l, i) =>
          size(tk(l)).cast(LongType).as(s"nt$i")
        }: _*)
    val totals = perDoc.agg(
      sum(col("nw")).as("n_words"),
      sum(col("nc")).as("n_chars") +:
        AblationLevels.indices.map(i => sum(col(s"nt$i")).as(s"t$i")): _*)
    // five curve rows out of the single aggregate row: level 0 is the
    // char anchor; each level's marginal is measured against the
    // previous level's total
    val rows = (lit(0L), col("n_chars"), lit(null).cast(DoubleType)) +:
      AblationLevels.zipWithIndex.map { case (l, i) =>
        val prevT = if (i == 0) col("n_chars") else col(s"t${i - 1}")
        val prevL = if (i == 0) 0 else AblationLevels(i - 1)
        (lit(l.toLong), col(s"t$i"),
          (prevT - col(s"t$i")).cast(DoubleType) / lit((l - prevL).toDouble))
      }
    val curve = array(rows.map { case (nm, nt, marg) =>
      struct(nm.as("n_merges"), nt.as("n_tokens"), marg.as("marginal"))
    }: _*)
    totals.select(col("n_words"), col("n_chars"), explode(curve).as("r"))
      .select(col("r.n_merges").as("n_merges"),
        col("r.n_tokens").as("n_tokens"),
        col("n_words"), col("n_chars"),
        (col("r.n_tokens").cast(DoubleType) / col("n_words").cast(DoubleType))
          .as("fertility"),
        (col("n_chars").cast(DoubleType) / col("r.n_tokens").cast(DoubleType))
          .as("chars_per_token"),
        col("r.marginal").as("marginal_tokens_per_merge"))
      .orderBy(col("n_merges"))
  }

  val bpeMergeAblationSql: String = {
    // one shared merges table + distinct-word instance counts; one
    // recursion chain per prefix level, each gated by `m.rank < L`
    val chains = AblationLevels.zipWithIndex.map { case (l, i) =>
      s"""enc$i AS (
         |  SELECT w,
         |    regexp_replace(w, '(.)', chr(31) || chr(31) || '\\1', 'g')
         |      || chr(31) || chr(31) AS s
         |  FROM dwords
         |  UNION ALL
         |  SELECT e.w, replace(e.s,
         |      chr(31) || p.a || chr(31) || chr(31) || p.b || chr(31),
         |      chr(31) || p.a || p.b || chr(31)) AS s
         |  FROM enc$i e, LATERAL (
         |    SELECT m.a, m.b FROM merges m
         |    WHERE m.rank < $l AND strpos(e.s, chr(31) || m.a || chr(31)
         |      || chr(31) || m.b || chr(31)) > 0
         |    ORDER BY m.rank LIMIT 1) p),
         |fin$i AS (
         |  SELECT w, trim(replace(s, chr(31) || chr(31), chr(31)), chr(31)) AS s
         |  FROM enc$i e
         |  WHERE NOT EXISTS (SELECT 1 FROM merges m
         |    WHERE m.rank < $l AND strpos(e.s, chr(31) || m.a || chr(31)
         |      || chr(31) || m.b || chr(31)) > 0)),
         |tot$i AS (
         |  SELECT CAST(SUM(wc.cnt * (len(f.s) - len(replace(f.s, chr(31), ''))
         |    + 1)) AS BIGINT) AS nt
         |  FROM wc JOIN fin$i f USING (w))""".stripMargin
    }.mkString(",\n")
    val levelRows = ("SELECT CAST(0 AS BIGINT) AS n_merges, " +
      "(SELECT nc FROM base) AS n_tokens, CAST(NULL AS DOUBLE) AS marginal") +:
      AblationLevels.zipWithIndex.map { case (l, i) =>
        val prev = if (i == 0) "(SELECT nc FROM base)"
          else s"(SELECT nt FROM tot${i - 1})"
        val prevL = if (i == 0) 0 else AblationLevels(i - 1)
        s"""SELECT CAST($l AS BIGINT) AS n_merges,
           |  (SELECT nt FROM tot$i) AS n_tokens,
           |  CAST($prev - (SELECT nt FROM tot$i) AS DOUBLE)
           |    / CAST(${l - prevL} AS DOUBLE) AS marginal""".stripMargin
      }
    // each fragment strips its own margin BEFORE concatenation — a
    // second stripMargin over the interpolated chains would eat the
    // leading pipe of `||` continuation lines (see the tx24 note)
    val head =
      s"""WITH RECURSIVE merges(rank, a, b) AS (VALUES $bpeMergesValues),
         |wc AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents
         |    WHERE text IS NOT NULL)
         |  WHERE w <> '' AND strpos(w, chr(31)) = 0
         |  GROUP BY w),
         |dwords AS (SELECT w FROM wc),
         |base AS (
         |  SELECT CAST(SUM(cnt) AS BIGINT) AS nw,
         |    CAST(SUM(cnt * len(w)) AS BIGINT) AS nc
         |  FROM wc),""".stripMargin
    val tail =
      s"""curve AS (${levelRows.mkString("\nUNION ALL\n")})
         |SELECT n_merges, n_tokens,
         |  (SELECT nw FROM base) AS n_words,
         |  (SELECT nc FROM base) AS n_chars,
         |  CAST(n_tokens AS DOUBLE) / CAST((SELECT nw FROM base) AS DOUBLE)
         |    AS fertility,
         |  CAST((SELECT nc FROM base) AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         |    AS chars_per_token,
         |  marginal AS marginal_tokens_per_merge
         |FROM curve ORDER BY n_merges""".stripMargin
    head + "\n" + chains + ",\n" + tail
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tx37_merge_ablation" -> bpeMergeAblation,
    "tx36_frozen_vocab_oov" -> frozenVocabOov,
    "tx35_bpe_bytes_roundtrip" -> bpeBytesRoundtrip,
    "tx34_bpe_roundtrip" -> bpeRoundtrip,
    "tx33_bpe_ids" -> bpeEncodeIds,
    "tx32_bpe_vocab" -> bpeVocab,
    "tx31_tokenizer_swap" -> tokenizerSwapAudit,
    "tx30_bpe_bytes_encode" -> bpeBytesEncodeTokens,
    "tx29_bpe_domain_audit" -> bpeDomainAudit,
    "tx28_bpe_train" -> bpeTrain,
    "tx27_tokenizer_audit" -> tokenizerAudit,
    "tx26_bpe_packing" -> bpePacking,
    "tx25_html_extract" -> htmlExtract,
    "tx24_bpe_encode" -> bpeEncodeTokens,
    "tx23_zipf_profile" -> zipfProfile,
    "tx22_vocab_growth" -> vocabGrowth,
    "tx21_lexical_complexity" -> lexicalComplexity,
    "tx20_encoding_quality" -> encodingQuality,
    "tx18_bpe_pairs" -> bpePairCounts,
    "tx19_bigram_quality" -> bigramQuality,
    "tx17_novelty" -> noveltyScore,
    "tx38_span_decontam" -> spanDecontaminate,
    "tx16_dup_spans" -> duplicatedSpans,
    "tx15_quality_classifier" -> classifierScore,
    "tx13_repetition_signals" -> repetitionSignals,
    "tx14_sequence_packing" -> sequencePacking,
    "tx10_repeated_chunks" -> repeatedChunkRemoval,
    "tx11_pii_redact" -> piiRedact,
    "tx12_vocab_quality" -> vocabQuality,
    "tx9_chunk_windows" -> chunkWindows,
    "tx6_tfidf_top_terms" -> tfidfTopTerms,
    "tx7_quality_signals" -> qualitySignals,
    "tx8_stratified_sample" -> stratifiedSample,
    "tx1_text_stats" -> textStats,
    "tx2_lang_id" -> langId,
    "tx3_token_count" -> tokenCount,
    "tx4_quality_score" -> qualityScore,
    "tx5_fingerprint" -> fingerprint)

  val oracle: Map[String, String] = Map(
    "tx37_merge_ablation" -> bpeMergeAblationSql,
    "tx36_frozen_vocab_oov" -> frozenVocabOovSql,
    "tx35_bpe_bytes_roundtrip" -> bpeBytesRoundtripSql,
    "tx34_bpe_roundtrip" -> bpeRoundtripSql,
    "tx33_bpe_ids" -> bpeEncodeIdsSql,
    "tx32_bpe_vocab" -> bpeVocabSql,
    "tx31_tokenizer_swap" -> tokenizerSwapAuditSql,
    "tx30_bpe_bytes_encode" -> bpeBytesEncodeTokensSql,
    "tx29_bpe_domain_audit" -> bpeDomainAuditSql,
    "tx28_bpe_train" -> bpeTrainSql,
    "tx27_tokenizer_audit" -> tokenizerAuditSql,
    "tx26_bpe_packing" -> bpePackingSql,
    "tx25_html_extract" -> htmlExtractSql,
    "tx24_bpe_encode" -> bpeEncodeTokensSql,
    "tx23_zipf_profile" -> zipfProfileSql,
    "tx22_vocab_growth" -> vocabGrowthSql,
    "tx21_lexical_complexity" -> lexicalComplexitySql,
    "tx20_encoding_quality" -> encodingQualitySql,
    "tx18_bpe_pairs" -> bpePairCountsSql,
    "tx19_bigram_quality" -> bigramQualitySql,
    "tx17_novelty" -> noveltyScoreSql,
    "tx38_span_decontam" -> spanDecontaminateSql,
    "tx16_dup_spans" -> duplicatedSpansSql,
    "tx15_quality_classifier" -> classifierScoreSql,
    "tx13_repetition_signals" -> repetitionSignalsSql,
    "tx14_sequence_packing" -> sequencePackingSql,
    "tx10_repeated_chunks" -> repeatedChunkRemovalSql,
    "tx11_pii_redact" -> piiRedactSql,
    "tx12_vocab_quality" -> vocabQualitySql,
    "tx9_chunk_windows" -> chunkWindowsSql,
    "tx6_tfidf_top_terms" -> tfidfTopTermsSql,
    "tx7_quality_signals" -> qualitySignalsSql,
    "tx8_stratified_sample" -> stratifiedSampleSql,
    "tx1_text_stats" -> textStatsSql,
    "tx2_lang_id" -> langIdSql,
    "tx3_token_count" -> tokenCountSql,
    "tx4_quality_score" -> qualityScoreSql,
    "tx5_fingerprint" -> fingerprintSql)
}
