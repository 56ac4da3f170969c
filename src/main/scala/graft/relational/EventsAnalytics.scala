package graft.relational

import org.apache.spark.sql.{Column, DataFrame, GraftCheckpoint, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Event-stream analytics over the `events` fixture — the batch twins of
  * the streaming operators in graft.streaming (Spark's unified API runs the
  * identical plan over readStream): tumbling-window aggregation, gap-based
  * sessionization, and dynamic-JSON property extraction (the same
  * schema-on-read pattern as the CDC payload body, SURVEY.md §1.3).
  *
  * Oracle parity: timestamps never appear raw in output (epoch millis or
  * DATE casts only); double sums go through DECIMAL.
  */
object EventsAnalytics {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** Tumbling 1-day windows per event type: the batch form of
    * `groupBy(window($"ts", "1 day"), $"event_type")`. */
  def tumblingWindow(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(
        date_trunc("day", col("ts")).cast(DateType).as("day"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("total_value"))
      .orderBy(col("day"), col("event_type"))

  val tumblingWindowSql: String =
    """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
      |  COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin

  /** Gap-based sessionization (30-minute inactivity gap): lag + cumulative
    * session counter — one shuffle on user_id that both window passes
    * reuse. The streaming twin is flatMapGroupsWithState (EventSessionize).
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapMs = 30L * 60 * 1000
    val withGap = t(spark, dir, "events")
      .withColumn("prev_ms", lag(unix_millis(col("ts")), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ms").isNull ||
          unix_millis(col("ts")) - col("prev_ms") > gapMs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(byUser))
    withGap
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(unix_millis(col("ts"))).as("start_ms"),
        max(unix_millis(col("ts"))).as("end_ms"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_sessions"),
        max(col("n_events")).as("max_session_events"),
        sum(col("end_ms") - col("start_ms")).as("total_session_ms"))
      .orderBy(col("user_id"))
  }

  val sessionizeSql: String =
    """WITH g AS (
      |  SELECT user_id, event_id, ts, epoch_ms(ts) AS ms,
      |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
      |  FROM events),
      |s AS (
      |  SELECT user_id, ms,
      |    SUM(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
      |  FROM g),
      |per_session AS (
      |  SELECT user_id, session_id, COUNT(*) AS n_events,
      |    MIN(ms) AS start_ms, MAX(ms) AS end_ms
      |  FROM s GROUP BY user_id, session_id)
      |SELECT user_id, COUNT(*) AS n_sessions,
      |  MAX(n_events) AS max_session_events,
      |  CAST(SUM(end_ms - start_ms) AS BIGINT) AS total_session_ms
      |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Dynamic JSON property extraction — `props` is schema-on-read exactly
    * like the CDC entity body: get_json_object pulls a typed field out. */
  def jsonProps(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  val jsonPropsSql: String =
    """SELECT event_type, COUNT(k) AS n_with_k, CAST(SUM(k) AS BIGINT) AS sum_k,
      |  MIN(k) AS min_k, MAX(k) AS max_k
      |FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |      FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Top event per user-day by value (dedup-to-best, a common training-data
    * reduction): window rank over (user, day). */
  def topEventPerUserDay(spark: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"), date_trunc("day", col("ts")))
      .orderBy(col("value").desc, col("event_id"))
    t(spark, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"),
        date_trunc("day", col("ts")).cast(DateType).as("day"),
        col("event_id"), col("event_type"), col("value"))
      .orderBy(col("user_id"), col("day"))
  }

  val topEventPerUserDaySql: String =
    """SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
      |  event_id, event_type, value
      |FROM (SELECT *, ROW_NUMBER() OVER (
      |        PARTITION BY user_id, date_trunc('day', ts)
      |        ORDER BY value DESC, event_id) AS rn
      |      FROM events) x
      |WHERE rn = 1 ORDER BY user_id, day""".stripMargin

  /** Ordered funnel (view → click → purchase): each stage's timestamp must
    * follow the previous stage's FIRST occurrence. Three small aggregations
    * over the same user partitioning — Catalyst reuses the shuffle. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events").select(col("user_id"), col("event_type"),
      unix_millis(col("ts")).as("ms"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ms")).as("v_ms"))
    val c = e.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ms") > col("v_ms"))
      .groupBy(col("user_id")).agg(min(col("ms")).as("c_ms"))
    val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ms") > col("c_ms"))
      .groupBy(col("user_id")).agg(min(col("ms")).as("p_ms"))
    // one distributed plan, no driver-side actions
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_click_after_view")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchase_after_click")))
  }

  val funnelSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
      |v AS (SELECT user_id, MIN(ms) AS v_ms FROM e WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, MIN(ms) AS c_ms FROM e JOIN v USING (user_id)
      |      WHERE event_type = 'click' AND ms > v_ms GROUP BY e.user_id),
      |p AS (SELECT e.user_id, MIN(ms) AS p_ms FROM e JOIN c USING (user_id)
      |      WHERE event_type = 'purchase' AND ms > c_ms GROUP BY e.user_id)
      |SELECT (SELECT COUNT(*) FROM v) AS n_view,
      |       (SELECT COUNT(*) FROM c) AS n_click_after_view,
      |       (SELECT COUNT(*) FROM p) AS n_purchase_after_click""".stripMargin

  /** Weekly retention cohorts: users grouped by first-seen week; how many
    * were active again exactly k weeks later. Two aggregations over the
    * user partitioning + one small (cohort, offset) rollup. */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
      .select(col("user_id"), date_trunc("week", col("ts")).cast(DateType).as("week"))
      .distinct()
    val first = e.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    e.join(first, "user_id")
      .withColumn("week_offset", datediff(col("week"), col("cohort_week")) / 7)
      .groupBy(col("cohort_week"), col("week_offset").cast(LongType).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val retentionSql: String =
    """WITH e AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
      |           FROM events),
      |f AS (SELECT user_id, MIN(week) AS cohort_week FROM e GROUP BY user_id)
      |SELECT cohort_week,
      |  CAST(date_diff('day', cohort_week, week) / 7 AS BIGINT) AS week_offset,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM e JOIN f USING (user_id)
      |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin

  /** Heavy hitters via the Count-Min sketch Aggregator
    * (graft.functions.CountMinSketch) next to exact counts: the sketch
    * aggregates into a fixed 4×64 cell matrix (one 2 KB array per
    * partition shuffles, not the key universe) and the per-key point
    * estimate — min over depth rows of the md5-addressed cells — always
    * upper-bounds the exact count. Deterministic (order-independent
    * sums + fixed md5 buckets), so even the ESTIMATE is oracle-gated. */
  def cmsHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.CountMinSketch
    val d = CountMinSketch.DefaultDepth
    val w = CountMinSketch.DefaultWidth
    // null keys excluded on every path: the Aggregator skips them, so the
    // exact side and the oracle must too (all three agree by construction)
    val ev = t(spark, dir, "events").filter(col("event_type").isNotNull)
    val sketch = ev.agg(CountMinSketch.countMin(col("event_type")).as("cells"))
    val exact = ev.groupBy(col("event_type")).agg(count(lit(1)).as("exact_count"))
    def bucket(i: Int): Column =
      conv(substring(md5(concat(lit(s"$i:"), col("event_type"))), 1, 15), 16, 10)
        .cast(LongType) % w
    val est = least((0 until d).map(i =>
      element_at(col("cells"), (lit(i * w) + bucket(i) + 1).cast(IntegerType))): _*)
    exact.crossJoin(sketch)
      .select(col("event_type"), col("exact_count"), est.as("cms_estimate"),
        (est - col("exact_count")).as("overcount"))
      .orderBy(col("event_type"))
  }

  val cmsHeavyHittersSql: String =
    """WITH dx AS (SELECT unnest([0,1,2,3]) AS i),
      |cells AS (SELECT i, b, CAST(COUNT(*) AS BIGINT) AS v FROM (
      |    SELECT dx.i AS i,
      |      CAST(('0x' || substr(md5(dx.i || ':' || event_type), 1, 15)) AS BIGINT) % 64 AS b
      |    FROM events, dx WHERE event_type IS NOT NULL) GROUP BY 1, 2),
      |keys AS (SELECT event_type, COUNT(*) AS exact_count FROM events
      |         WHERE event_type IS NOT NULL GROUP BY 1),
      |kb AS (SELECT event_type, exact_count, dx.i AS i,
      |    CAST(('0x' || substr(md5(dx.i || ':' || event_type), 1, 15)) AS BIGINT) % 64 AS b
      |  FROM keys, dx)
      |SELECT kb.event_type, kb.exact_count, MIN(c.v) AS cms_estimate,
      |  MIN(c.v) - kb.exact_count AS overcount
      |FROM kb JOIN cells c ON kb.i = c.i AND kb.b = c.b
      |GROUP BY 1, 2 ORDER BY event_type""".stripMargin

  // ----------------------------------------- histogram quantiles (ev8)

  private val HistBinWidth = 16.0
  /** Mergeable fixed-bin histogram quantiles (ev8): the 100 TB answer to
    * q31's exact percentiles. q31 sorts every partition of every key
    * (row_number over the full value stream); this sketch reduces the
    * stream to (event_type, bin) counts — a map-side-combined aggregate
    * whose post-shuffle size is |types|×|bins| REGARDLESS of row count —
    * then reads quantiles off the cumulative histogram. The quantile is
    * approximate (bin lower bound, error ≤ [[HistBinWidth]]); the
    * histogram math itself is exact integers, so the whole result is
    * oracle-gated. The cumulative window runs over the tiny binned table,
    * not the events. This is the same partial-aggregate contract as dd8's
    * KMV and ev7's CMS: sketch state merges associatively, so it also
    * drops straight into streaming aggregation. */
  def histogramQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val binned = t(spark, dir, "events")
      .select(col("event_type"),
        floor(col("value") / HistBinWidth).as("bin"))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("c"))
    val cumW = Window.partitionBy(col("event_type")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totW = Window.partitionBy(col("event_type"))
    val cum = binned
      .withColumn("cum", sum(col("c")).over(cumW))
      .withColumn("n", sum(col("c")).over(totW))
    def pick(p: Double): Column =
      min(when(col("cum") >= ceil(lit(p) * col("n")), col("bin"))) *
        lit(HistBinWidth)
    cum.groupBy(col("event_type"))
      .agg(max(col("n")).as("n_events"),
        pick(0.5).as("p50_lo"), pick(0.9).as("p90_lo"), pick(0.99).as("p99_lo"))
      .orderBy(col("event_type"))
  }

  val histogramQuantilesSql: String =
    s"""WITH b AS (SELECT event_type,
       |    CAST(floor(value / $HistBinWidth) AS BIGINT) AS bin, COUNT(*) AS c
       |  FROM events GROUP BY 1, 2),
       |cw AS (SELECT event_type, bin, c,
       |    SUM(c) OVER (PARTITION BY event_type ORDER BY bin
       |                 ROWS UNBOUNDED PRECEDING) AS cum,
       |    SUM(c) OVER (PARTITION BY event_type) AS n
       |  FROM b)
       |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_events,
       |  MIN(CASE WHEN cum >= ceil(0.5 * n) THEN bin END) * $HistBinWidth AS p50_lo,
       |  MIN(CASE WHEN cum >= ceil(0.9 * n) THEN bin END) * $HistBinWidth AS p90_lo,
       |  MIN(CASE WHEN cum >= ceil(0.99 * n) THEN bin END) * $HistBinWidth AS p99_lo
       |FROM cw GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------- windowed distinct sketch (ev9)

  /** Sketch size for the per-window distinct-user estimate; deliberately
    * smaller than the ~130 daily actives so the ESTIMATION path (not the
    * exact small-set path) is what the oracle gates. */
  private val WindowKmvK = 64

  /** Per-window distinct users via the KMV sketch (ev9): dd8's sketch
    * composed with ev1's tumbling window — the daily-active-users shape
    * every event pipeline runs. The sketch column next to the exact
    * count makes the estimate error itself oracle-gated per window.
    *
    * Scale posture: ONE map-side-combined aggregate; each combiner cell
    * is an O(k) sketch regardless of how many users a window saw — the
    * exact countDistinct column is the verification tier (it shuffles
    * every distinct (day, user) pair) and would be DROPPED at 100 TB,
    * leaving a post-shuffle size of |windows|·k. In streaming form the
    * same Aggregator runs inside a watermarked `groupBy(window(...))`. */
  def windowedDistinctSketch(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(date_trunc("day", col("ts")).cast(DateType).as("day"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("exact_users"),
        graft.functions.KmvDistinct.kmvDistinct(
          md5(col("user_id").cast(StringType)), WindowKmvK).as("kmv_users"))
      .select(
        col("day"), col("n_events"), col("exact_users"), col("kmv_users"),
        ((col("kmv_users") - col("exact_users")) / col("exact_users"))
          .as("rel_error"))
      .orderBy(col("day"))

  val windowedDistinctSketchSql: String =
    s"""WITH e AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       |             md5(CAST(user_id AS VARCHAR)) AS hv
       |           FROM events),
       |d AS (SELECT DISTINCT day, hv FROM e),
       |r AS (SELECT day, hv,
       |        row_number() OVER (PARTITION BY day ORDER BY hv) AS rn FROM d),
       |a AS (SELECT day, COUNT(*) AS nd,
       |        MAX(CASE WHEN rn <= $WindowKmvK THEN hv END) AS kth
       |      FROM r GROUP BY day),
       |est AS (SELECT day, CASE WHEN nd < $WindowKmvK THEN CAST(nd AS DOUBLE)
       |          ELSE ($WindowKmvK - 1) * power(16.0, 12.0) /
       |            list_reduce(list_transform(generate_series(1,12),
       |              i -> CAST(strpos('0123456789abcdef', substr(kth,i,1)) - 1 AS DOUBLE)
       |                   * power(16.0, CAST(12 - i AS DOUBLE))), (x,y) -> x+y)
       |          END AS kmv_users,
       |        nd FROM a),
       |c AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       |        COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS exact_users
       |      FROM events GROUP BY 1)
       |SELECT c.day, c.n_events, c.exact_users, est.kmv_users,
       |  (est.kmv_users - c.exact_users) / c.exact_users AS rel_error
       |FROM c JOIN est USING (day) ORDER BY c.day""".stripMargin

  // ---------------------------------------------------- hopping windows

  private val HopMs = 6L * 3600 * 1000
  private val HopWindowMs = 24L * 3600 * 1000

  /** Hopping (sliding) 1-day windows at a 6-hour hop (ev10): every event
    * lands in size/hop = 4 overlapping windows — the streaming form is
    * `groupBy(window($"ts", "1 day", "6 hours"))` verbatim and runs this
    * exact plan over readStream. ev1 is the hop == size degenerate case.
    *
    * Scale shape: Spark expands each row to its 4 windows AT THE SCAN
    * (TimeWindow rewrites to an explode over a 4-element array — no join,
    * no self-union) and the aggregate stays map-side combinable; state per
    * window is one combiner cell, so the shuffle grows 4× in rows but not
    * in structure. In streaming the same plan is incremental with
    * watermark-bounded state. Window starts are epoch-aligned multiples of
    * the hop, so the oracle reproduces membership arithmetically. */
  def hoppingWindow(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(window(col("ts"), "1 day", "6 hours").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("total_value"))
      .select(unix_millis(col("w.start")).as("window_start_ms"),
        col("event_type"), col("n_events"), col("n_users"), col("total_value"))
      .orderBy(col("window_start_ms"), col("event_type"))

  val hoppingWindowSql: String =
    s"""WITH e AS (SELECT epoch_ms(ts) AS ms, event_type, user_id, value FROM events),
       |h AS (SELECT *, unnest(generate_series(0, ${HopWindowMs / HopMs - 1})) AS i FROM e),
       |w AS (SELECT ms - (ms % $HopMs) - i * $HopMs AS ws, event_type, user_id, value
       |      FROM h)
       |SELECT ws AS window_start_ms, event_type,
       |  COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
       |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
       |FROM w GROUP BY 1, 2 ORDER BY window_start_ms, event_type""".stripMargin

  private val TrendingK = 3

  /** Trending event types (ev11): top-[[TrendingK]] types per hopping
    * window by event count — the "what is rising right now" dashboard
    * query, ev10's windows composed with a per-window rank. The ranked
    * groups are per-window COUNTS, so group size is \|event types\| (tiny
    * by nature) — a window sort here is over that bounded set, not raw
    * events; raw events only pass through the map-side-combined count.
    * Ties break by event_type for a deterministic total order. */
  def trendingWindow(spark: SparkSession, dir: String): DataFrame = {
    val counts = t(spark, dir, "events")
      .groupBy(window(col("ts"), "1 day", "6 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_millis(col("w.start")).as("window_start_ms"),
        col("event_type"), col("n_events"))
    val w = Window.partitionBy(col("window_start_ms"))
      .orderBy(col("n_events").desc, col("event_type"))
    counts.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= TrendingK)
      .select(col("window_start_ms"), col("rank"), col("event_type"), col("n_events"))
      .orderBy(col("window_start_ms"), col("rank"))
  }

  val trendingWindowSql: String =
    s"""WITH e AS (SELECT epoch_ms(ts) AS ms, event_type FROM events),
       |h AS (SELECT *, unnest(generate_series(0, ${HopWindowMs / HopMs - 1})) AS i FROM e),
       |w AS (SELECT ms - (ms % $HopMs) - i * $HopMs AS ws, event_type FROM h),
       |c AS (SELECT ws AS window_start_ms, event_type, COUNT(*) AS n_events
       |      FROM w GROUP BY 1, 2)
       |SELECT window_start_ms, rank, event_type, n_events FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start_ms
       |    ORDER BY n_events DESC, event_type) AS rank
       |  FROM c) x
       |WHERE rank <= $TrendingK
       |ORDER BY window_start_ms, rank""".stripMargin

  private val LatenessWatermarkMs = 60L * 60 * 1000

  /** Watermark-lateness audit (ev12): for each event type, how many
    * events would a 1-hour watermark DROP, and how late is the worst
    * straggler — the tuning query behind every `withWatermark` choice
    * (EventStreamOps documents the drop divergence; this measures it).
    * The fixture is generated in event-time order, so the audit replays
    * it under a DETERMINISTIC arrival permutation — day order preserved,
    * md5(event_id)-shuffled WITHIN each day (the harness's bounded
    * transport-disorder model, exactly as cdc10 synthesizes loss); an
    * event is late iff its event time trails
    * the running max event time among earlier arrivals of its type by
    * more than the watermark. On a real delivery log the arrival column
    * is the log's ingest sequence. AUDIT-tier scale posture (like
    * q31/cur5's exact tiers):
    * the per-type running max is an ordered window per logical stream —
    * at 100 TB one runs it per (type, shard) exactly as the real
    * watermark is tracked per source partition; the rollup is unchanged. */
  def latenessAudit(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(date_trunc("day", col("ts")), md5(col("event_id").cast(StringType)))
      .rowsBetween(Window.unboundedPreceding, -1)
    val lateness = greatest(
      max(unix_millis(col("ts"))).over(w) - unix_millis(col("ts")), lit(0L))
    t(spark, dir, "events")
      .withColumn("lateness_ms", coalesce(lateness, lit(0L)))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("lateness_ms") > LatenessWatermarkMs, 1L).otherwise(0L))
          .as("n_dropped"),
        max(col("lateness_ms")).as("max_lateness_ms"))
      .select(col("event_type"), col("n_events"), col("n_dropped"),
        (col("n_dropped").cast(DoubleType) / col("n_events").cast(DoubleType))
          .as("drop_frac"),
        col("max_lateness_ms"))
      .orderBy(col("event_type"))
  }

  val latenessAuditSql: String =
    s"""WITH l AS (SELECT event_type,
       |    GREATEST(COALESCE(MAX(epoch_ms(ts)) OVER (PARTITION BY event_type
       |      ORDER BY date_trunc('day', ts), md5(CAST(event_id AS VARCHAR))
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      - epoch_ms(ts), 0) AS lateness_ms
       |  FROM events)
       |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       |  CAST(SUM(CASE WHEN lateness_ms > $LatenessWatermarkMs THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dropped,
       |  CAST(SUM(CASE WHEN lateness_ms > $LatenessWatermarkMs THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS drop_frac,
       |  CAST(MAX(lateness_ms) AS BIGINT) AS max_lateness_ms
       |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin

  private val AnomalyTrailDays = 7
  private val AnomalyZ = 2.0

  /** Event-rate anomaly detection (ev13): per (type, day), the z-score of
    * the daily event count against its trailing [[AnomalyTrailDays]]-day
    * mean/σ — the ops-dashboard "is today's volume weird" query. The
    * trailing frame is a RANGE over CALENDAR days (epoch-day order key),
    * not a ROWS frame over observed days: a zero-event day must shrink
    * the baseline, not silently widen it to older history. Days without
    * all [[AnomalyTrailDays]] preceding calendar days observed emit no
    * verdict (cold start / sparse history is not an anomaly).
    *
    * Float parity: the trailing sums are BIGINT (order-independent);
    * mean, variance, σ, and z are then derived in one fixed expression
    * order (s1/cnt, s2/cnt − mean², √, (n−mean)/σ) — no aggregation-order
    * hazard anywhere. Scale shape: one combinable daily count, then a
    * per-type window over DAYS (≤ a few thousand rows per type at any
    * corpus size — the window is over the aggregate, not the events). */
  def rateAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val daily = t(spark, dir, "events")
      .groupBy(date_trunc("day", col("ts")).cast(DateType).as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    // RANGE frame needs a numeric order key: days since epoch
    val w = Window.partitionBy(col("event_type")).orderBy(col("_daynum"))
      .rangeBetween(-AnomalyTrailDays, -1)
    val s1 = sum(col("n_events")).over(w)
    val s2 = sum(col("n_events") * col("n_events")).over(w)
    val cnt = count(col("n_events")).over(w)
    daily
      .withColumn("_daynum", datediff(col("day"), to_date(lit("1970-01-01"))))
      .withColumn("_s1", s1).withColumn("_s2", s2).withColumn("_cnt", cnt)
      .filter(col("_cnt") === AnomalyTrailDays)
      .withColumn("mean_7d", col("_s1").cast(DoubleType) / col("_cnt"))
      .withColumn("std_7d", sqrt(greatest(
        col("_s2").cast(DoubleType) / col("_cnt") - col("mean_7d") * col("mean_7d"),
        lit(0.0))))
      .withColumn("z", when(col("std_7d") > 0.0,
        (col("n_events").cast(DoubleType) - col("mean_7d")) / col("std_7d"))
        .otherwise(lit(0.0)))
      .select(col("day"), col("event_type"), col("n_events"),
        col("mean_7d"), col("std_7d"), col("z"),
        (abs(col("z")) > AnomalyZ).as("is_anomaly"))
      .orderBy(col("day"), col("event_type"))
  }

  val rateAnomalySql: String =
    s"""WITH daily AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
       |    CAST(COUNT(*) AS BIGINT) AS n_events
       |  FROM events GROUP BY 1, 2),
       |tw AS (SELECT *,
       |    SUM(n_events) OVER w AS s1,
       |    SUM(n_events * n_events) OVER w AS s2,
       |    COUNT(n_events) OVER w AS cnt
       |  FROM daily
       |  WINDOW w AS (PARTITION BY event_type ORDER BY (day - DATE '1970-01-01')
       |               RANGE BETWEEN $AnomalyTrailDays PRECEDING AND 1 PRECEDING)),
       |m AS (SELECT *, CAST(s1 AS DOUBLE) / cnt AS mean_7d,
       |        sqrt(GREATEST(CAST(s2 AS DOUBLE) / cnt
       |          - (CAST(s1 AS DOUBLE) / cnt) * (CAST(s1 AS DOUBLE) / cnt), 0.0)) AS std_7d
       |      FROM tw WHERE cnt = $AnomalyTrailDays)
       |SELECT day, event_type, n_events, mean_7d, std_7d,
       |  CASE WHEN std_7d > 0.0
       |       THEN (CAST(n_events AS DOUBLE) - mean_7d) / std_7d ELSE 0.0 END AS z,
       |  ABS(CASE WHEN std_7d > 0.0
       |       THEN (CAST(n_events AS DOUBLE) - mean_7d) / std_7d ELSE 0.0 END)
       |    > $AnomalyZ AS is_anomaly
       |FROM m ORDER BY day, event_type""".stripMargin

  // ------------------------------------------ attribution (ev14)

  /** Last-touch attribution (ev14): for each purchase, the most recent
    * click by the same user at-or-before the purchase, attributed only
    * within a 1-hour lookback — the standard conversion-attribution query,
    * and the events-domain consumer of [[graft.operators.AsOfJoin]] (cdc7
    * proves the operator against DuckDB's native ASOF JOIN; this row
    * proves the composition on real event data). Clicks pre-compact to
    * one row per (user, ts) — max event_id, deterministic — because "the
    * latest click" is ill-defined under timestamp ties.
    *
    * Scale: the as-of join is ONE shuffle on user_id + a per-partition
    * sort (AsOfJoin's union+window shape — no range-join candidate
    * blowup); the lookback filter is scan-side on the joined row. */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("click_id"))
      .withColumn("click_ts", col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
    val lat = unix_timestamp(col("ts")) - unix_timestamp(col("click_ts"))
    val ok = col("click_ts").isNotNull && lat <= 3600
    graft.operators.AsOfJoin.asOfBackward(purchases, clicks, Seq("user_id"), "ts")
      .select(
        col("purchase_id"), col("user_id"),
        col("ts").cast(DateType).as("purchase_date"),
        when(ok, col("click_id")).as("click_id"),
        when(ok, lat).cast(LongType).as("latency_s"),
        coalesce(ok, lit(false)).as("attributed"))
      .orderBy(col("purchase_id"))
  }

  val attributionSql: String =
    """WITH c AS (SELECT user_id, ts, MAX(event_id) AS click_id
      |           FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
      |p AS (SELECT event_id AS purchase_id, user_id, ts
      |      FROM events WHERE event_type = 'purchase'),
      |a AS (SELECT p.purchase_id, p.user_id, p.ts, c.click_id, c.ts AS click_ts
      |      FROM p ASOF LEFT JOIN c
      |        ON p.user_id = c.user_id AND p.ts >= c.ts)
      |SELECT purchase_id, user_id, CAST(ts AS DATE) AS purchase_date,
      |  CASE WHEN click_ts IS NOT NULL AND date_diff('second', click_ts, ts) <= 3600
      |       THEN click_id END AS click_id,
      |  CASE WHEN click_ts IS NOT NULL AND date_diff('second', click_ts, ts) <= 3600
      |       THEN CAST(date_diff('second', click_ts, ts) AS BIGINT) END AS latency_s,
      |  COALESCE(click_ts IS NOT NULL AND date_diff('second', click_ts, ts) <= 3600,
      |           FALSE) AS attributed
      |FROM a ORDER BY purchase_id""".stripMargin

  // ---------------------------------------- HyperLogLog distinct (ev15)

  /** HLL register count m = 2^8 (first two md5 hex digits). */
  private val HllM = 256

  /** Fixed single-division scale α_m·m²·2^49, computed once on the JVM
    * and interpolated as a literal into the oracle, so both engines
    * perform ONE identical double division — no cross-engine libm or
    * association hazard. α_m = 0.7213/(1 + 1.079/m) for m ≥ 128
    * (Flajolet et al. 2007). */
  private val HllScale: Double =
    0.7213 / (1.0 + 1.079 / HllM) * 65536.0 * 562949953421312.0

  /** HyperLogLog distinct-count sketch (ev15) — the industry-standard
    * cardinality estimator next to ev9's KMV: per event type, each user's
    * md5 picks a register (first 2 hex digits) and a rank (position of
    * the first set bit in the next 48 bits); the estimate is
    * α_m·m²/Σ 2^−M_j over per-register max ranks M_j.
    *
    * Exact parity without libm: the rank comes from STRING ops (trim the
    * leading hex zeros, classify the first significant digit — no log2),
    * each register's indicator term 2^−M_j is held in units of 2^−49 so
    * the Σ is an exact BIGINT (empty registers contribute 2^49 each), and
    * the final estimate is one double division by a JVM-computed literal
    * scale. The exact distinct rides along so the sketch error is itself
    * under the gate. No linear-counting small-range correction: that
    * needs ln() (documented libm ULP hazard, cf. tx12) — v_zero and the
    * exact count expose when it would apply.
    *
    * Scale: aggregate state is m=256 ranks per group — independent of
    * cardinality, same contract as ev7's CMS / dd8's KMV; one shuffle on
    * (type, register), one on type. */
  def hllDistinct(spark: SparkSession, dir: String): DataFrame = {
    val h = md5(col("user_id").cast(StringType))
    val sig = ltrim(substring(h, 3, 12), "0")
    val first = substring(sig, 1, 1)
    val firstBits = when(first.isin("8", "9", "a", "b", "c", "d", "e", "f"), 4)
      .when(first.isin("4", "5", "6", "7"), 3)
      .when(first.isin("2", "3"), 2).otherwise(1)
    val rank = when(length(sig) === 0, lit(49))
      .otherwise(lit(49) - ((length(sig) - 1) * 4 + firstBits))
    val regs = t(spark, dir, "events")
      .select(col("event_type"), col("user_id"),
        conv(substring(h, 1, 2), 16, 10).cast(LongType).as("reg"),
        rank.as("rank"))
    val perReg = regs.groupBy(col("event_type"), col("reg"))
      .agg(max(col("rank")).as("mr"))
    val agg = perReg.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_regs"),
      sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(49 - mr AS INT))")).as("s_present"))
    val exact = t(spark, dir, "events").groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    val s = col("s_present") + (lit(HllM.toLong) - col("n_regs")) * lit(562949953421312L)
    agg.join(exact, Seq("event_type"))
      .select(col("event_type"),
        (lit(HllM.toLong) - col("n_regs")).as("v_zero"),
        s.as("s_term"),
        (lit(HllScale) / s.cast(DoubleType)).as("hll_estimate"),
        col("n_exact"))
      .orderBy(col("event_type"))
  }

  val hllDistinctSql: String =
    s"""WITH h AS (SELECT event_type, user_id,
       |             md5(CAST(user_id AS VARCHAR)) AS h FROM events),
       |r AS (SELECT event_type,
       |        ('0x' || substr(h, 1, 2))::BIGINT AS reg,
       |        ltrim(substr(h, 3, 12), '0') AS sig
       |      FROM h),
       |rk AS (SELECT event_type, reg,
       |         CASE WHEN len(sig) = 0 THEN 49
       |              ELSE 49 - ((len(sig) - 1) * 4 +
       |                CASE WHEN substr(sig,1,1) IN ('8','9','a','b','c','d','e','f') THEN 4
       |                     WHEN substr(sig,1,1) IN ('4','5','6','7') THEN 3
       |                     WHEN substr(sig,1,1) IN ('2','3') THEN 2
       |                     ELSE 1 END) END AS rank
       |       FROM r),
       |mx AS (SELECT event_type, reg, MAX(rank) AS mr FROM rk GROUP BY event_type, reg),
       |agg AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_regs,
       |          CAST(SUM(CAST(1 AS BIGINT) << CAST(49 - mr AS INT)) AS BIGINT) AS s_present
       |        FROM mx GROUP BY event_type),
       |ex AS (SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
       |       FROM events GROUP BY event_type)
       |SELECT a.event_type,
       |  CAST($HllM - a.n_regs AS BIGINT) AS v_zero,
       |  CAST(a.s_present + ($HllM - a.n_regs) * 562949953421312 AS BIGINT) AS s_term,
       |  $HllScale / CAST(a.s_present + ($HllM - a.n_regs) * 562949953421312 AS DOUBLE)
       |    AS hll_estimate,
       |  ex.n_exact
       |FROM agg a JOIN ex USING (event_type)
       |ORDER BY a.event_type""".stripMargin

  // ------------------------------------------- mergeable sketch tables (ev16)

  /** ev16: sketch tables + sketch ALGEBRA — the DataSketches-style
    * warehouse pattern ev7 stops short of: instead of one inline sketch,
    * persist a PER-DAY CMS cell table (day, depth, bucket, count) — the
    * storable artifact an ingest job writes per partition — then answer a
    * range query by MERGING sketches cell-wise (CMS merge = cell-wise
    * SUM, an associative/commutative monoid) and reading estimates off
    * the merged sketch. For CMS the merge is LOSSLESS: summing per-day
    * cell counts reproduces the whole-range sketch exactly, so the
    * merged estimate equals ev7's single-sketch estimate bit-for-bit
    * (spec-asserted) — which is why a 100 TB deployment sketches each
    * ingest partition once and never re-scans history for a new range.
    *
    * Scale shape: the day table is one map-side-combinable count
    * (|days|×d×w rows regardless of event count); the merge aggregates
    * ≤ |days|×d×w rows; per-key estimates join d rows per key. History
    * is never re-read. */
  def cmsMergeDaily(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.CountMinSketch
    val d = CountMinSketch.DefaultDepth
    val w = CountMinSketch.DefaultWidth
    // pinned ×2 (r19 plan audit: 3 event passes → 1): `ev` feeds
    // the daily sketch build AND the exact key counts; `daily` feeds the
    // monoid merge AND the day census. Catalyst shares neither subtree;
    // the pinned frames are the narrow event projection and the
    // |days|×d×w-cell artifact table.
    val ev = t(spark, dir, "events").filter(col("event_type").isNotNull)
      .select(col("event_type"), date_trunc("day", col("ts")).cast(DateType).as("day"))
      .transform(GraftCheckpoint.pin)
    def bucketOf(i: Column, key: Column): Column =
      conv(substring(md5(concat(i.cast(StringType), lit(":"), key)), 1, 15), 16, 10)
        .cast(LongType) % w
    // the persisted artifact: one sketch (d×w cells) per day
    val daily = ev
      .select(col("day"), col("event_type"),
        explode(sequence(lit(0), lit(d - 1))).as("i"))
      .withColumn("b", bucketOf(col("i"), col("event_type")))
      .groupBy(col("day"), col("i"), col("b")).agg(count(lit(1)).as("v"))
      .transform(GraftCheckpoint.pin)
    // range query: cell-wise monoid merge, no event re-scan
    val merged = daily.groupBy(col("i"), col("b")).agg(sum(col("v")).as("v"))
    val nDays = daily.agg(countDistinct(col("day")).as("n_days"))
    val keys = ev.groupBy(col("event_type")).agg(count(lit(1)).as("exact_count"))
    val kb = keys
      .select(col("event_type"), col("exact_count"),
        explode(sequence(lit(0), lit(d - 1))).as("i"))
      .withColumn("b", bucketOf(col("i"), col("event_type")))
    kb.join(merged, Seq("i", "b"))
      .groupBy(col("event_type"), col("exact_count"))
      .agg(min(col("v")).as("cms_estimate"))
      .crossJoin(nDays)
      .select(col("event_type"), col("n_days"), col("exact_count"),
        col("cms_estimate"),
        (col("cms_estimate") - col("exact_count")).as("overcount"))
      .orderBy(col("event_type"))
  }

  val cmsMergeDailySql: String =
    """WITH dx AS (SELECT unnest([0,1,2,3]) AS i),
      |daily AS (SELECT day, i, b, CAST(COUNT(*) AS BIGINT) AS v FROM (
      |    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, dx.i AS i,
      |      CAST(('0x' || substr(md5(dx.i || ':' || event_type), 1, 15)) AS BIGINT) % 64 AS b
      |    FROM events, dx WHERE event_type IS NOT NULL) GROUP BY 1, 2, 3),
      |merged AS (SELECT i, b, CAST(SUM(v) AS BIGINT) AS v FROM daily GROUP BY 1, 2),
      |nd AS (SELECT CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days FROM daily),
      |keys AS (SELECT event_type, COUNT(*) AS exact_count FROM events
      |         WHERE event_type IS NOT NULL GROUP BY 1),
      |kb AS (SELECT event_type, exact_count, dx.i AS i,
      |    CAST(('0x' || substr(md5(dx.i || ':' || event_type), 1, 15)) AS BIGINT) % 64 AS b
      |  FROM keys, dx)
      |SELECT kb.event_type, nd.n_days, kb.exact_count, MIN(m.v) AS cms_estimate,
      |  MIN(m.v) - kb.exact_count AS overcount
      |FROM kb JOIN merged m ON kb.i = m.i AND kb.b = m.b CROSS JOIN nd
      |GROUP BY 1, 2, 3 ORDER BY event_type""".stripMargin

  /** ev17: MERGEABLE histogram-quantile tables — ev16's warehouse pattern
    * (per-day sketch artifacts + monoid range-merge) applied to the
    * quantile sketch. The persisted artifact is one fixed-width histogram
    * per day (|bins| integer cells); a range query ("p99 of week N") is a
    * cell-wise SUM over the requested days — NO re-scan of raw events —
    * followed by the |bins|-row cumulative walk. Unlike CMS (ev16, whose
    * merge preserves the ESTIMATE's error bound), a fixed-grid histogram
    * merge is exactly lossless: merging day cells then walking equals
    * walking the raw week. The query PROVES that property in-band — each
    * week's p50/p90/p99 is computed BOTH ways (merged daily artifacts vs
    * a raw re-scan of the week) and the equality ships as a column the
    * oracle hash-checks.
    *
    * All arithmetic is exact: integer cells, integer cumulative ranks
    * (ceil(q·n)), bin lower-bound estimates = bin·width (one exact double
    * product per output cell; same floor/ceil in both engines).
    *
    * Scale: the daily table is |days|×|bins| rows regardless of event
    * count — the merge input at 100 TB is thousands of rows, not 100 TB;
    * the only event-sized pass is building the daily cells (scan-side
    * floor + one combinable count). The audit rescan exists only to prove
    * losslessness at fixture scale; a deployment runs the merged side. */
  def histMergeWeekly(spark: SparkSession, dir: String): DataFrame = {
    val binned = t(spark, dir, "events")
      .select(date_trunc("day", col("ts")).cast(DateType).as("day"),
        floor(col("value") / HistBinWidth).as("bin"))
    // the persisted artifact: one histogram (bin → count) per day
    val daily = binned.groupBy(col("day"), col("bin")).agg(count(lit(1)).as("c"))
    // range query: cell-wise monoid merge of day sketches into ISO weeks
    val weekly = daily
      .select(date_trunc("week", col("day")).cast(DateType).as("week"),
        col("bin"), col("c"))
      .groupBy(col("week"), col("bin")).agg(sum(col("c")).as("c"))

    def quantiles(cells: DataFrame, prefix: String): DataFrame = {
      val cumW = Window.partitionBy(col("week")).orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val totW = Window.partitionBy(col("week"))
      val cum = cells
        .withColumn("cum", sum(col("c")).over(cumW))
        .withColumn("n", sum(col("c")).over(totW))
      def pick(p: Double): Column =
        min(when(col("cum") >= ceil(lit(p) * col("n")), col("bin"))) *
          lit(HistBinWidth)
      cum.groupBy(col("week"))
        .agg(max(col("n")).as(s"${prefix}n"),
          pick(0.5).as(s"${prefix}p50_lo"), pick(0.9).as(s"${prefix}p90_lo"),
          pick(0.99).as(s"${prefix}p99_lo"))
    }

    val merged = quantiles(weekly, "")
    // audit tier: the same quantiles off a raw re-scan of each week
    val rescan = quantiles(
      binned.select(date_trunc("week", col("day")).cast(DateType).as("week"),
          col("bin"))
        .groupBy(col("week"), col("bin")).agg(count(lit(1)).as("c")),
      "r_")
    merged.join(rescan, "week")
      .select(col("week"), col("n").as("n_events"),
        col("p50_lo"), col("p90_lo"), col("p99_lo"),
        (col("p50_lo") === col("r_p50_lo") && col("p90_lo") === col("r_p90_lo") &&
          col("p99_lo") === col("r_p99_lo") && col("n") === col("r_n"))
          .as("merge_lossless"))
      .orderBy(col("week"))
  }

  val histMergeWeeklySql: String =
    """WITH binned AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(floor(value / 16.0) AS BIGINT) AS bin
      |  FROM events),
      |daily AS (SELECT day, bin, CAST(COUNT(*) AS BIGINT) AS c
      |          FROM binned GROUP BY day, bin),
      |weekly AS (SELECT CAST(date_trunc('week', day) AS DATE) AS week, bin,
      |             CAST(SUM(c) AS BIGINT) AS c
      |           FROM daily GROUP BY 1, 2),
      |mq AS (SELECT week, MAX(n) AS n,
      |    MIN(CASE WHEN cum >= ceil(0.5 * n) THEN bin END) * 16.0 AS p50_lo,
      |    MIN(CASE WHEN cum >= ceil(0.9 * n) THEN bin END) * 16.0 AS p90_lo,
      |    MIN(CASE WHEN cum >= ceil(0.99 * n) THEN bin END) * 16.0 AS p99_lo
      |  FROM (SELECT week, bin, c,
      |          SUM(c) OVER (PARTITION BY week ORDER BY bin
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |          SUM(c) OVER (PARTITION BY week) AS n
      |        FROM weekly) x GROUP BY week),
      |rweek AS (SELECT CAST(date_trunc('week', day) AS DATE) AS week, bin,
      |            CAST(COUNT(*) AS BIGINT) AS c
      |          FROM binned GROUP BY 1, 2),
      |rq AS (SELECT week, MAX(n) AS n,
      |    MIN(CASE WHEN cum >= ceil(0.5 * n) THEN bin END) * 16.0 AS p50_lo,
      |    MIN(CASE WHEN cum >= ceil(0.9 * n) THEN bin END) * 16.0 AS p90_lo,
      |    MIN(CASE WHEN cum >= ceil(0.99 * n) THEN bin END) * 16.0 AS p99_lo
      |  FROM (SELECT week, bin, c,
      |          SUM(c) OVER (PARTITION BY week ORDER BY bin
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |          SUM(c) OVER (PARTITION BY week) AS n
      |        FROM rweek) x GROUP BY week)
      |SELECT mq.week, CAST(mq.n AS BIGINT) AS n_events,
      |  mq.p50_lo, mq.p90_lo, mq.p99_lo,
      |  (mq.p50_lo = rq.p50_lo AND mq.p90_lo = rq.p90_lo
      |   AND mq.p99_lo = rq.p99_lo AND mq.n = rq.n) AS merge_lossless
      |FROM mq JOIN rq USING (week)
      |ORDER BY mq.week""".stripMargin

  /** ev18: MERGEABLE HLL register tables — the third leg of the sketch
    * warehouse (ev16 CMS merge = cell-wise SUM, ev17 histogram merge =
    * cell-wise SUM, here HLL merge = cell-wise MAX). The persisted
    * artifact is one register table per (day, type): reg → max rank,
    * ≤ m=256 rows per key per day regardless of event volume. A range
    * query ("distinct users per type for week N") merges the requested
    * days' registers with MAX — associative, commutative, IDEMPOTENT, so
    * unlike CMS the merge is exactly lossless even under overlapping or
    * replayed day ranges (re-merging a day twice changes nothing — the
    * property that makes HLL artifacts safe under at-least-once ingest).
    * Losslessness is proven IN-BAND: the merged s_term is compared
    * against a direct sketch of the raw week and shipped as a hash-gated
    * `merge_lossless` column, exactly ev17's audit contract.
    *
    * Arithmetic parity: identical to ev15 — string-derived ranks (no
    * log2), Σ 2^−M_j as exact BIGINT in 2^−49 units, ONE double division
    * by a JVM-literal scale; exact weekly distinct rides along.
    *
    * Scale: daily tables are |days|×|types|×m rows; the merge reads
    * those, never the events; the only event-sized pass builds the day
    * registers (one combinable MAX). */
  /** HLL register index (first md5 byte) — shared by the ev18 batch day
    * build and the streaming day-register builder
    * ([[graft.streaming.EventStreamOps.hllDayRegisters]]). */
  private[graft] def hllRegOf(h: Column): Column =
    conv(substring(h, 1, 2), 16, 10).cast(LongType)

  /** HLL rank over the next 48 md5 bits, string-derived (no log2) —
    * identical arithmetic to ev15; shared with the streaming builder. */
  private[graft] def hllRankOf(h: Column): Column = {
    val sig = ltrim(substring(h, 3, 12), "0")
    val first = substring(sig, 1, 1)
    val firstBits = when(first.isin("8", "9", "a", "b", "c", "d", "e", "f"), 4)
      .when(first.isin("4", "5", "6", "7"), 3)
      .when(first.isin("2", "3"), 2).otherwise(1)
    when(length(sig) === 0, lit(49))
      .otherwise(lit(49) - ((length(sig) - 1) * 4 + firstBits))
  }

  def hllMergeWeekly(spark: SparkSession, dir: String): DataFrame = {
    val h = md5(col("user_id").cast(StringType))
    val regs = t(spark, dir, "events")
      .select(date_trunc("day", col("ts")).cast(DateType).as("day"),
        col("event_type"), col("user_id"),
        hllRegOf(h).as("reg"),
        hllRankOf(h).as("rank"))
    // the persisted artifact: one register table per (day, type)
    val daily = regs.groupBy(col("day"), col("event_type"), col("reg"))
      .agg(max(col("rank")).as("mr"))
    def estimate(regTable: DataFrame, prefix: String): DataFrame =
      regTable.groupBy(col("week"), col("event_type")).agg(
        count(lit(1)).as(s"${prefix}n_regs"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(49 - mr AS INT))"))
          .as(s"${prefix}s_present"))
    // range query: cell-wise MAX merge of the day artifacts into weeks
    val merged = estimate(
      daily.select(date_trunc("week", col("day")).cast(DateType).as("week"),
          col("event_type"), col("reg"), col("mr"))
        .groupBy(col("week"), col("event_type"), col("reg"))
        .agg(max(col("mr")).as("mr")),
      "")
    // audit tier: a direct sketch of the raw week (no day artifact hop)
    val rescan = estimate(
      regs.select(date_trunc("week", col("day")).cast(DateType).as("week"),
          col("event_type"), col("reg"), col("rank"))
        .groupBy(col("week"), col("event_type"), col("reg"))
        .agg(max(col("rank")).as("mr")),
      "r_")
    val exact = regs
      .select(date_trunc("week", col("day")).cast(DateType).as("week"),
        col("event_type"), col("user_id"))
      .groupBy(col("week"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    val emptyTerm = lit(562949953421312L)
    val s = col("s_present") + (lit(HllM.toLong) - col("n_regs")) * emptyTerm
    val rs = col("r_s_present") + (lit(HllM.toLong) - col("r_n_regs")) * emptyTerm
    merged.join(rescan, Seq("week", "event_type"))
      .join(exact, Seq("week", "event_type"))
      .select(col("week"), col("event_type"),
        (lit(HllM.toLong) - col("n_regs")).as("v_zero"),
        s.as("s_term"),
        (lit(HllScale) / s.cast(DoubleType)).as("hll_estimate"),
        col("n_exact"),
        (s === rs).as("merge_lossless"))
      .orderBy(col("week"), col("event_type"))
  }

  val hllMergeWeeklySql: String =
    s"""WITH h AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       |             event_type, user_id,
       |             md5(CAST(user_id AS VARCHAR)) AS h FROM events),
       |r AS (SELECT day, event_type, user_id,
       |        ('0x' || substr(h, 1, 2))::BIGINT AS reg,
       |        ltrim(substr(h, 3, 12), '0') AS sig
       |      FROM h),
       |rk AS (SELECT day, event_type, user_id, reg,
       |         CASE WHEN len(sig) = 0 THEN 49
       |              ELSE 49 - ((len(sig) - 1) * 4 +
       |                CASE WHEN substr(sig,1,1) IN ('8','9','a','b','c','d','e','f') THEN 4
       |                     WHEN substr(sig,1,1) IN ('4','5','6','7') THEN 3
       |                     WHEN substr(sig,1,1) IN ('2','3') THEN 2
       |                     ELSE 1 END) END AS rank
       |       FROM r),
       |daily AS (SELECT day, event_type, reg, MAX(rank) AS mr
       |          FROM rk GROUP BY day, event_type, reg),
       |wmerge AS (SELECT CAST(date_trunc('week', day) AS DATE) AS week,
       |             event_type, reg, MAX(mr) AS mr
       |           FROM daily GROUP BY 1, 2, 3),
       |magg AS (SELECT week, event_type, CAST(COUNT(*) AS BIGINT) AS n_regs,
       |           CAST(SUM(CAST(1 AS BIGINT) << CAST(49 - mr AS INT)) AS BIGINT) AS s_present
       |         FROM wmerge GROUP BY week, event_type),
       |wscan AS (SELECT CAST(date_trunc('week', day) AS DATE) AS week,
       |            event_type, reg, MAX(rank) AS mr
       |          FROM rk GROUP BY 1, 2, 3),
       |ragg AS (SELECT week, event_type, CAST(COUNT(*) AS BIGINT) AS n_regs,
       |           CAST(SUM(CAST(1 AS BIGINT) << CAST(49 - mr AS INT)) AS BIGINT) AS s_present
       |         FROM wscan GROUP BY week, event_type),
       |ex AS (SELECT CAST(date_trunc('week', day) AS DATE) AS week, event_type,
       |         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
       |       FROM rk GROUP BY 1, 2)
       |SELECT m.week, m.event_type,
       |  CAST($HllM - m.n_regs AS BIGINT) AS v_zero,
       |  CAST(m.s_present + ($HllM - m.n_regs) * 562949953421312 AS BIGINT) AS s_term,
       |  $HllScale / CAST(m.s_present + ($HllM - m.n_regs) * 562949953421312 AS DOUBLE)
       |    AS hll_estimate,
       |  ex.n_exact,
       |  (m.s_present + ($HllM - m.n_regs) * 562949953421312
       |   = r.s_present + ($HllM - r.n_regs) * 562949953421312) AS merge_lossless
       |FROM magg m
       |JOIN ragg r USING (week, event_type)
       |JOIN ex USING (week, event_type)
       |ORDER BY m.week, m.event_type""".stripMargin

  // ------------------------------------------------- theta set ops (ev19)

  /** Sketch size for [[thetaSetOps]] — small enough that estimation (not
    * exhaustion) is exercised at every fixture SF (sets are ~1.6k
    * elements at sf0.01). */
  private val ThetaK = 64

  /** ev19: KMV/theta-sketch SET ALGEBRA — the fourth leg of the sketch
    * warehouse (ev16 CMS = SUM-merge, ev17 histograms = SUM-merge, ev18
    * HLL = MAX-merge) and the one HLL cannot provide: distinct
    * INTERSECTION and DIFFERENCE, not just union. Per event type the
    * sketch is the k smallest 48-bit hash prefixes of the type's
    * distinct user-day activity set (the KMV θ-sketch of Beyer et al.
    * 2007 / the DataSketches theta family); for a pair of sketches all
    * three estimates are computed AT THE COMMON θ = min(θ_a, θ_b):
    * |A∪B| ≈ |{h∈S_A∪S_B : h<θ}|/θ, likewise ∩ and A∖B — which makes the
    * estimates exactly inclusion-exclusion-consistent (union = |A|<θ +
    * |B|<θ − inter at θ; the spec asserts it). A sketch holding its whole
    * set (n < k) has θ = 1 and degrades to exact membership.
    *
    * Determinism/parity: the sketch is a SET MINIMUM (no randomness, no
    * insertion-order dependence); θ's numeric form derives from the same
    * 12-hex-char integer in both engines, so even the float estimates
    * hash-match. Exact tiers (the distinct-element self-join) ride along
    * as the fixture-scale audit layer, ev18's contract.
    *
    * Scale: sketch build = one map-side-combined distinct on
    * (type, hash) + an O(k)-state bounded-heap aggregate (BottomKByKey —
    * never a per-type sort of the full set); the pair algebra runs on
    * |types|² rows of k-element arrays. The exact tier is the only
    * event-sized join and is the audit layer you drop at 100 TB. */
  def thetaSetOps(spark: SparkSession, dir: String): DataFrame = {
    val K = ThetaK
    val elem = concat(col("user_id").cast(StringType), lit("#"),
      col("ts").cast(DateType).cast(StringType))
    // pinned: the distinct activity set feeds the sketch build
    // AND both sides of the exact-intersection audit self-join — without
    // the pin the events scan + distinct ran three times (r19 plan
    // audit: 6 scans → 1). The pinned frame is the distinct (type,
    // user-day) set, ≪ events.
    val evu = t(spark, dir, "events")
      .select(col("event_type"), elem.as("e")).distinct()
      .transform(GraftCheckpoint.pin)
    val ev = evu.select(col("event_type"), md5(col("e")).substr(1, 12).as("h"))
      .distinct()
    // exact count and KMV sketch in ONE aggregate over the hashed set —
    // the separate count aggregate re-derived `ev` and joined back (two
    // per-type shuffles + a join collapsed into one combinable pass)
    val sk = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("dx"),
        graft.functions.BottomKByKey
          .bottomK(col("h"), lit(0L), lit(0L), K).as("ents"))
      .select(col("event_type"), transform(col("ents"), e => e("key")).as("sk"),
        col("dx"))
    val a = sk.select(col("event_type").as("type_a"), col("sk").as("ska"),
      col("dx").as("exact_a"))
    val b = sk.select(col("event_type").as("type_b"), col("sk").as("skb"),
      col("dx").as("exact_b"))
    val th = when(size(col("ska")) >= K && size(col("skb")) >= K,
        least(element_at(col("ska"), K), element_at(col("skb"), K)))
      .when(size(col("ska")) >= K, element_at(col("ska"), K))
      .when(size(col("skb")) >= K, element_at(col("skb"), K))
    val pr = a.join(b, col("type_a") < col("type_b"))
      .withColumn("th", th)
      .withColumn("th_norm", when(col("th").isNull, lit(1.0))
        .otherwise(conv(col("th"), 16, 10).cast(DoubleType) /
          lit(281474976710656.0)))
    def below(arr: Column): Column =
      size(filter(arr, x => col("th").isNull || x < col("th"))).cast(LongType)
    val cnts = pr.select(col("type_a"), col("type_b"),
      col("exact_a"), col("exact_b"), col("th_norm"),
      below(array_distinct(concat(col("ska"), col("skb")))).as("u_cnt"),
      below(array_intersect(col("ska"), col("skb"))).as("i_cnt"),
      size(filter(col("ska"), x => !array_contains(col("skb"), x) &&
        (col("th").isNull || x < col("th")))).cast(LongType).as("dcnt"))
    val l = evu.select(col("event_type").as("type_a"), col("e"))
    val r = evu.select(col("event_type").as("type_b"), col("e"))
    val exi = l.join(r, l("e") === r("e") && col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("exact_inter"))
    cnts.join(exi, Seq("type_a", "type_b"))
      .select(col("type_a"), col("type_b"),
        (col("u_cnt").cast(DoubleType) / col("th_norm")).as("union_est"),
        (col("i_cnt").cast(DoubleType) / col("th_norm")).as("inter_est"),
        (col("dcnt").cast(DoubleType) / col("th_norm")).as("diff_est"),
        (col("exact_a") + col("exact_b") - col("exact_inter"))
          .as("exact_union"),
        col("exact_inter"),
        (col("exact_a") - col("exact_inter")).as("exact_diff"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val thetaSetOpsSql: String = {
    val K = ThetaK
    val hex2dbl =
      """list_reduce(list_transform(generate_series(1,12),
        |    i -> CAST(strpos('0123456789abcdef', substr(th,i,1)) - 1 AS DOUBLE)
        |         * power(16.0, CAST(12 - i AS DOUBLE))), (x,y) -> x+y)
        |  / power(16.0, 12.0)""".stripMargin
    s"""WITH evu AS (SELECT DISTINCT event_type,
       |    CAST(user_id AS VARCHAR) || '#' || CAST(CAST(ts AS DATE) AS VARCHAR) AS e
       |  FROM events),
       |ev AS (SELECT DISTINCT event_type, substr(md5(e), 1, 12) AS h FROM evu),
       |d AS (SELECT event_type, CAST(count(*) AS BIGINT) AS dx FROM ev GROUP BY 1),
       |sk AS (SELECT event_type, (list(h ORDER BY h))[1:$K] AS sk FROM ev GROUP BY 1),
       |pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
       |         a.sk AS ska, b.sk AS skb, da.dx AS exact_a, db.dx AS exact_b,
       |         CASE WHEN len(a.sk) >= $K AND len(b.sk) >= $K
       |                THEN least(a.sk[$K], b.sk[$K])
       |              WHEN len(a.sk) >= $K THEN a.sk[$K]
       |              WHEN len(b.sk) >= $K THEN b.sk[$K] END AS th
       |       FROM sk a JOIN sk b ON a.event_type < b.event_type
       |       JOIN d da ON da.event_type = a.event_type
       |       JOIN d db ON db.event_type = b.event_type),
       |cnts AS (SELECT type_a, type_b, exact_a, exact_b,
       |         CASE WHEN th IS NULL THEN 1.0 ELSE $hex2dbl END AS th_norm,
       |         CAST(len(list_filter(list_distinct(ska || skb),
       |           x -> th IS NULL OR x < th)) AS BIGINT) AS u_cnt,
       |         CAST(len(list_filter(list_intersect(ska, skb),
       |           x -> th IS NULL OR x < th)) AS BIGINT) AS i_cnt,
       |         CAST(len(list_filter(ska, x -> NOT list_contains(skb, x)
       |           AND (th IS NULL OR x < th))) AS BIGINT) AS dcnt
       |       FROM pr),
       |exi AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
       |          CAST(count(*) AS BIGINT) AS exact_inter
       |        FROM evu a JOIN evu b
       |          ON a.e = b.e AND a.event_type < b.event_type
       |        GROUP BY 1, 2)
       |SELECT c.type_a, c.type_b,
       |  CAST(c.u_cnt AS DOUBLE) / c.th_norm AS union_est,
       |  CAST(c.i_cnt AS DOUBLE) / c.th_norm AS inter_est,
       |  CAST(c.dcnt AS DOUBLE) / c.th_norm AS diff_est,
       |  c.exact_a + c.exact_b - x.exact_inter AS exact_union,
       |  x.exact_inter,
       |  c.exact_a - x.exact_inter AS exact_diff
       |FROM cnts c JOIN exi x USING (type_a, type_b)
       |ORDER BY c.type_a, c.type_b""".stripMargin
  }

  // ------------------------------------------- sequence match (ev20)

  /** Per-step horizon for [[sequenceMatch]]: each step must follow the
    * previous within this many milliseconds (24 h — at the fixture it
    * yields a real gradient: 150 → 60 → 25 users at sf0.01). */
  private val SeqHorizonMs = 24L * 3600L * 1000L

  /** ev20: time-bounded SEQUENCE-PATTERN detection — the MATCH_RECOGNIZE
    * shape (`PATTERN (V C P) ... ONE ROW PER MATCH`, greedy) that ev5's
    * unbounded funnel cannot express: find per user the greedy
    * view→click→purchase chain where EACH step follows the previous
    * within [[SeqHorizonMs]], and emit the MATCHED ROWS (step timestamps,
    * per-step and end-to-end durations, and how far the user got), not
    * just stage counts. Greedy semantics, stated: the chain anchors at
    * the user's FIRST view, then takes the first horizon-compatible
    * click, then the first horizon-compatible purchase — the same
    * skip-past-last-row determinism a streaming state machine implements,
    * and the documented trade (a later anchor could convert where the
    * greedy one does not) for linear per-user state.
    *
    * Scale: each step is one equi-join on user_id + a combinable MIN —
    * three user-keyed exchanges total, no window over a user's full
    * event history, state per user is one timestamp per step (the
    * streaming twin would be a 3-state mapGroupsWithState). */
  def sequenceMatch(spark: SparkSession, dir: String): DataFrame = {
    val H = SeqHorizonMs
    val e = t(spark, dir, "events").select(col("user_id"), col("event_type"),
      unix_millis(col("ts")).as("ms"))
    val s1 = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ms")).as("v_ms"))
    val s2 = e.filter(col("event_type") === "click").join(s1, "user_id")
      .filter(col("ms") > col("v_ms") && col("ms") <= col("v_ms") + H)
      .groupBy(col("user_id")).agg(min(col("ms")).as("c_ms"))
    val s3 = e.filter(col("event_type") === "purchase").join(s2, "user_id")
      .filter(col("ms") > col("c_ms") && col("ms") <= col("c_ms") + H)
      .groupBy(col("user_id")).agg(min(col("ms")).as("p_ms"))
    s1.join(s2.select(col("user_id"), col("c_ms")), Seq("user_id"), "left")
      .join(s3.select(col("user_id"), col("p_ms")), Seq("user_id"), "left")
      .select(col("user_id"),
        when(col("p_ms").isNotNull, 3L).when(col("c_ms").isNotNull, 2L)
          .otherwise(1L).as("step_reached"),
        col("v_ms"), col("c_ms"), col("p_ms"),
        (col("c_ms") - col("v_ms")).as("v_to_c_ms"),
        (col("p_ms") - col("c_ms")).as("c_to_p_ms"),
        (col("p_ms") - col("v_ms")).as("v_to_p_ms"))
      .orderBy(col("user_id"))
  }

  val sequenceMatchSql: String = {
    val H = SeqHorizonMs
    s"""WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
       |s1 AS (SELECT user_id, MIN(ms) AS v_ms FROM e
       |       WHERE event_type = 'view' GROUP BY user_id),
       |s2 AS (SELECT e.user_id, MIN(ms) AS c_ms FROM e JOIN s1 USING (user_id)
       |       WHERE event_type = 'click' AND ms > v_ms AND ms <= v_ms + $H
       |       GROUP BY e.user_id),
       |s3 AS (SELECT e.user_id, MIN(ms) AS p_ms FROM e JOIN s2 USING (user_id)
       |       WHERE event_type = 'purchase' AND ms > c_ms AND ms <= c_ms + $H
       |       GROUP BY e.user_id)
       |SELECT s1.user_id,
       |  CAST(CASE WHEN s3.p_ms IS NOT NULL THEN 3
       |            WHEN s2.c_ms IS NOT NULL THEN 2 ELSE 1 END AS BIGINT)
       |    AS step_reached,
       |  s1.v_ms, s2.c_ms, s3.p_ms,
       |  s2.c_ms - s1.v_ms AS v_to_c_ms,
       |  s3.p_ms - s2.c_ms AS c_to_p_ms,
       |  s3.p_ms - s1.v_ms AS v_to_p_ms
       |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
       |ORDER BY s1.user_id""".stripMargin
  }

  // --------------------------------------- decayed counters (ev21)

  /** Weight scale exponent for [[decayedCounters]]: weights are
    * 2^(Scale − age_weeks) BIGINT units, i.e. fixed-point with 2^Scale
    * = 1.0. */
  private val DecayScale = 40

  /** ev21: exponentially-DECAYED counters — the "what's popular NOW"
    * aggregate (Cormode et al. 2009, forward-decay; the popularity score
    * every feed/trending system keeps) that a plain count can't express
    * and ev11's fixed window only approximates: each event contributes
    * weight 2^−age, halving per week, measured from the corpus's max
    * timestamp (a deterministic "now"). The decay trade is explicit:
    * unlike a sliding window there is no cliff — yesterday's burst still
    * counts, half as much each week.
    *
    * Exactness without quantization: weights are DYADIC RATIONALS —
    * age_weeks is an integer (BIGINT millisecond floor-division), so the
    * weight is exactly 2^(40−n) fixed-point units, summed as BIGINT (no
    * float accumulates anywhere; one final division renders the decayed
    * count). Ages beyond 40 weeks clamp to weight 0 — at a 1-week
    * half-life they contribute < 1e−12 of an event anyway. The BIGINT
    * headroom is 2^23 events per (type) at this scale — beyond that,
    * drop Scale (the spec's property: halving Scale halves every unit
    * weight, the ratio is invariant).
    *
    * Scale posture: one broadcast 1-row max-ts aggregate, then the
    * weighted count is a single combinable per-type SUM at the scan —
    * decayed counters shuffle exactly what a plain count shuffles. */
  def decayedCounters(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
      .select(col("event_type"), unix_millis(col("ts")).as("ms"))
    val tF = e.agg(max(col("ms")).as("t_ms"))
    val n = expr("(t_ms - ms) DIV 604800000")
    // functions.shiftleft takes a literal shift; the SQL form shifts by a
    // column (codegen'd ShiftLeft either way)
    val w = when(n <= DecayScale,
      expr(s"shiftleft(cast(1 as bigint), " +
        s"cast($DecayScale - ((t_ms - ms) DIV 604800000) as int))"))
      .otherwise(lit(0L))
    e.crossJoin(tF)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(w).as("w_units"),
        max(n).as("max_age_weeks"))
      .select(col("event_type"), col("n_events"), col("w_units"),
        col("max_age_weeks"),
        (col("w_units").cast(DoubleType) /
          lit(math.pow(2.0, DecayScale))).as("decayed_count"),
        (col("w_units").cast(DoubleType) /
          (lit(math.pow(2.0, DecayScale)) * col("n_events").cast(DoubleType)))
          .as("decay_ratio"))
      .orderBy(col("event_type"))
  }

  val decayedCountersSql: String = {
    val S = DecayScale
    s"""WITH e AS (SELECT event_type, epoch_ms(ts) AS ms FROM events),
       |t AS (SELECT max(ms) AS t_ms FROM e),
       |w AS (SELECT event_type,
       |        (t_ms - ms) // 604800000 AS n
       |      FROM e, t),
       |agg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       |          CAST(SUM(CASE WHEN n <= $S
       |            THEN (CAST(1 AS BIGINT) << CAST($S - n AS INTEGER))
       |            ELSE 0 END) AS BIGINT) AS w_units,
       |          CAST(max(n) AS BIGINT) AS max_age_weeks
       |        FROM w GROUP BY event_type)
       |SELECT event_type, n_events, w_units, max_age_weeks,
       |  CAST(w_units AS DOUBLE) / power(2.0, $S.0) AS decayed_count,
       |  CAST(w_units AS DOUBLE) / (power(2.0, $S.0) * CAST(n_events AS DOUBLE))
       |    AS decay_ratio
       |FROM agg ORDER BY event_type""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ev21_decayed_counters" -> decayedCounters,
    "ev20_sequence_match" -> sequenceMatch,
    "ev19_theta_set_ops" -> thetaSetOps,
    "ev18_hll_merge" -> hllMergeWeekly,
    "ev17_hist_merge" -> histMergeWeekly,
    "ev16_cms_merge" -> cmsMergeDaily,
    "ev15_hll_distinct" -> hllDistinct,
    "ev14_attribution" -> attribution,
    "ev13_rate_anomaly" -> rateAnomaly,
    "ev12_lateness_audit" -> latenessAudit,
    "ev11_trending" -> trendingWindow,
    "ev10_hopping_window" -> hoppingWindow,
    "ev9_windowed_distinct" -> windowedDistinctSketch,
    "ev8_histogram_quantiles" -> histogramQuantiles,
    "ev7_cms_heavy_hitters" -> cmsHeavyHitters,
    "ev5_funnel" -> funnel,
    "ev6_retention" -> retention,
    "ev1_tumbling_window" -> tumblingWindow,
    "ev2_sessionize" -> sessionize,
    "ev3_json_props" -> jsonProps,
    "ev4_top_event_per_user_day" -> topEventPerUserDay)

  val oracle: Map[String, String] = Map(
    "ev21_decayed_counters" -> decayedCountersSql,
    "ev20_sequence_match" -> sequenceMatchSql,
    "ev19_theta_set_ops" -> thetaSetOpsSql,
    "ev18_hll_merge" -> hllMergeWeeklySql,
    "ev17_hist_merge" -> histMergeWeeklySql,
    "ev16_cms_merge" -> cmsMergeDailySql,
    "ev15_hll_distinct" -> hllDistinctSql,
    "ev14_attribution" -> attributionSql,
    "ev13_rate_anomaly" -> rateAnomalySql,
    "ev12_lateness_audit" -> latenessAuditSql,
    "ev11_trending" -> trendingWindowSql,
    "ev10_hopping_window" -> hoppingWindowSql,
    "ev9_windowed_distinct" -> windowedDistinctSketchSql,
    "ev8_histogram_quantiles" -> histogramQuantilesSql,
    "ev7_cms_heavy_hitters" -> cmsHeavyHittersSql,
    "ev5_funnel" -> funnelSql,
    "ev6_retention" -> retentionSql,
    "ev1_tumbling_window" -> tumblingWindowSql,
    "ev2_sessionize" -> sessionizeSql,
    "ev3_json_props" -> jsonPropsSql,
    "ev4_top_event_per_user_day" -> topEventPerUserDaySql)
}
