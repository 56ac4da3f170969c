package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** The relational query surface (t2 gate).
  *
  * The reference (nickksun/sfdc-cdc-aws) has no relational operators of its
  * own — see SURVEY.md §2.7 — so this module generalizes its data-processing
  * surface into the full relational algebra the driver's correctness gate
  * exercises: scans, filter/project, all join kinds, hash aggregation,
  * grouping sets, window functions, sorts/limits, set operations, and the
  * scalar-function families (string/date/conditional/json).
  *
  * Correctness-by-construction decisions (DuckDB-oracle parity):
  *  - Money arithmetic is done in DECIMAL(18,2) (exact, order-independent
  *    under reassociation by parallel partial aggregation) and only cast to
  *    DOUBLE at the very end — identical bits in Spark and DuckDB.
  *  - No raw TIMESTAMP output columns (writer/reader tz-semantics differ);
  *    cast to DATE or group on date_trunc cast to DATE.
  *  - Every ORDER BY ... LIMIT has a total tie-break so the selected SET is
  *    deterministic across engines.
  *  - Derived integer columns are cast to BIGINT (Spark int vs DuckDB bigint).
  *
  * Scale posture (100 TB): every query is a declarative single DataFrame
  * plan — Catalyst pushes filters/projections into the parquet scan, picks
  * broadcast joins for the small dimensions (region/nation/supplier), and
  * AQE handles skew. No collects, no driver-side loops.
  */
object Relational {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  private def money(c: Column): Column = c.cast(DoubleType)
  private def ts(s: String): Column = lit(s).cast(TimestampType)
  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** TPC-H Q1-style pricing summary: wide hash aggregation with exact
    * decimal partial aggregation (map-side combine keeps the shuffle tiny:
    * |groups| = 6 regardless of input scale). */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    li.filter(col("l_shipdate") <= ts("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        money(sum(dec(col("l_quantity")))).as("sum_qty"),
        money(sum(dec(col("l_extendedprice")))).as("sum_base_price"),
        money(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))))
          .as("sum_disc_price"),
        (money(sum(dec(col("l_quantity")))) / count(lit(1))).as("avg_qty"),
        (money(sum(dec(col("l_extendedprice")))) / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      |  COUNT(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3-style: 3-way join (customer ⋈ orders ⋈ lineitem) + top-N.
    * customer ROWS SCALE WITH SF, so no broadcast hint — a hint overrides
    * AQE's size check and becomes a multi-GB build at 100×. AQE/file stats
    * pick BroadcastHashJoin while the filtered side fits (asserted in
    * PlanQualitySpec at test SF). The ORDER BY..LIMIT compiles to
    * TakeOrderedAndProject (no global sort). */
  def q2MarketRevenue(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(spark, dir, "orders").filter(col("o_orderdate") < ts("1997-06-01"))
    val l = t(spark, dir, "lineitem").filter(col("l_shipdate") > ts("1997-06-01"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate").cast(DateType).as("orderdate"),
        col("o_orderpriority"))
      .agg(money(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))))
        .as("revenue"))
      .select(col("l_orderkey"), col("revenue"), col("orderdate"), col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q2Sql: String =
    """SELECT l_orderkey,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  CAST(o_orderdate AS DATE) AS orderdate, o_orderpriority
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1997-06-01' AND l_shipdate > TIMESTAMP '1997-06-01'
      |GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** TPC-H Q6-style: tight filter + single global aggregate. The three
    * predicates all push into the parquet scan (PushedFilters). */
  def q3RevenueFilter(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    li.filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1997-01-01") &&
        col("l_discount") >= lit(0.05).cast(DoubleType) &&
        col("l_discount") <= lit(0.07).cast(DoubleType) &&
        col("l_quantity") < lit(24.0))
      .agg(money(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val q3Sql: String =
    """SELECT
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount >= CAST(0.05 AS DOUBLE) AND l_discount <= CAST(0.07 AS DOUBLE)
      |  AND l_quantity < 24.0""".stripMargin

  /** TPC-H Q4-style: EXISTS via left-semi join, then aggregate. Semi join
    * shuffles only the key column — at 100 TB this is the cheapest way to
    * express "orders having at least one qualifying lineitem". */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1996-07-01"))
    val l = t(spark, dir, "lineitem").filter(col("l_quantity") > lit(45.0))
      .select(col("l_orderkey"))
    o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  val q4Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
      |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45.0)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q5-style: 6-way snowflake join down to revenue per nation.
    * Only the FIXED-CARDINALITY dims (region=5, nation=25) carry broadcast
    * hints; customer and supplier scale with SF, so AQE decides for them —
    * at small SF it still broadcasts (file stats under the threshold), at
    * 100× it shuffles instead of OOMing the driver on a forced multi-GB
    * build. The only unavoidable shuffle is orders⋈lineitem on orderkey. */
  def q5NationRevenue(spark: SparkSession, dir: String): DataFrame = {
    val r = t(spark, dir, "region")
    val n = t(spark, dir, "nation")
    val c = t(spark, dir, "customer")
    val s = t(spark, dir, "supplier")
    val o = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1997-01-01"))
    val l = t(spark, dir, "lineitem")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(s, l("l_suppkey") === s("s_suppkey") &&
        c("c_nationkey") === s("s_nationkey"))
      // hint kept (test-pinned): PlanQualitySpec asserts q5's nation hint
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      // hint kept (test-pinned): PlanQualitySpec asserts q5's region hint
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(money(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q5Sql: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
      |  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  /** Window function: top-3 orders per customer by price (dense ranking
    * with a deterministic tie-break on orderkey). The window shuffles once
    * on o_custkey — same partitioning a downstream per-customer op reuses. */
  def q6WindowTopOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  val q6Sql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) x
      |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  /** Window function: running revenue per customer over time (cumulative
    * frame). Exact decimal running sum, surfaced as double. */
  def q7RunningTotal(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.filter(col("o_custkey") < 100)
      .select(col("o_custkey"), col("o_orderkey"),
        money(sum(dec(col("o_totalprice"))).over(w)).as("running_spend"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val q7Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
      |FROM orders WHERE o_custkey < 100
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Grouping sets (ROLLUP) over status × priority: one pass, Catalyst
    * expands to a single Expand + hash aggregate (no re-scan per set). */
  def q8Rollup(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    o.rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        money(sum(dec(col("o_totalprice")))).as("total_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
  }

  val q8Sql: String =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  /** Set operation: customers active in both 1996 and 1997 (INTERSECT). */
  def q9Intersect(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val y96 = o.filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1997-01-01"))
      .select(col("o_custkey").as("custkey"))
    val y97 = o.filter(col("o_orderdate") >= ts("1997-01-01") && col("o_orderdate") < ts("1998-01-01"))
      .select(col("o_custkey").as("custkey"))
    y96.intersect(y97).orderBy(col("custkey"))
  }

  val q9Sql: String =
    """SELECT o_custkey AS custkey FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
      |INTERSECT
      |SELECT o_custkey FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      |ORDER BY custkey""".stripMargin

  /** Set operation: 1996 customers who lapsed in 1997 (EXCEPT). */
  def q10Except(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val y96 = o.filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1997-01-01"))
      .select(col("o_custkey").as("custkey"))
    val y97 = o.filter(col("o_orderdate") >= ts("1997-01-01") && col("o_orderdate") < ts("1998-01-01"))
      .select(col("o_custkey").as("custkey"))
    y96.except(y97).orderBy(col("custkey"))
  }

  val q10Sql: String =
    """SELECT o_custkey AS custkey FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
      |EXCEPT
      |SELECT o_custkey FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      |ORDER BY custkey""".stripMargin

  /** Multi-distinct aggregation (expands to a single grouping-set plan). */
  def q11DistinctCounts(spark: SparkSession, dir: String): DataFrame = {
    val l = t(spark, dir, "lineitem")
    l.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  val q11Sql: String =
    """SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS n_orders,
      |  COUNT(DISTINCT l_partkey) AS n_parts, COUNT(DISTINCT l_suppkey) AS n_supps,
      |  COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Conditional aggregation (TPC-H Q12 shape): CASE WHEN inside SUM. */
  def q12CaseAgg(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val l = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1997-01-01"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("o_orderpriority") === "1-URGENT" ||
          col("o_orderpriority") === "2-HIGH", lit(1L)).otherwise(lit(0L)))
          .as("high_line_count"),
        sum(when(col("o_orderpriority") =!= "1-URGENT" &&
          col("o_orderpriority") =!= "2-HIGH", lit(1L)).otherwise(lit(0L)))
          .as("low_line_count"))
      .orderBy(col("l_returnflag"))
  }

  val q12Sql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority <> '1-URGENT' AND o_orderpriority <> '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM lineitem, orders
      |WHERE l_orderkey = o_orderkey AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** TPC-H Q13-style: LEFT OUTER join + two-level aggregation (order-count
    * distribution across customers, including zero-order customers). */
  def q13CustDistribution(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q13Sql: String =
    """SELECT c_count, COUNT(*) AS custdist FROM (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      |  GROUP BY c_custkey) x
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** Anti join: customers with no orders since 1998-03 (NOT EXISTS) —
    * windowed so the result is non-empty at every scale factor. */
  def q14AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= ts("1998-03-01")).select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val q14Sql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |                  AND o_orderdate >= TIMESTAMP '1998-03-01')
      |ORDER BY c_custkey""".stripMargin

  /** GROUP BY ... HAVING: suppliers whose shipped revenue clears a bar. */
  def q15Having(spark: SparkSession, dir: String): DataFrame = {
    val l = t(spark, dir, "lineitem")
    l.groupBy(col("l_suppkey"))
      .agg(money(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))))
        .as("supplier_revenue"), count(lit(1)).as("n_lines"))
      .filter(col("n_lines") > 100)
      .orderBy(col("supplier_revenue").desc, col("l_suppkey"))
  }

  val q15Sql: String =
    """SELECT l_suppkey,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS supplier_revenue,
      |  COUNT(*) AS n_lines
      |FROM lineitem GROUP BY l_suppkey HAVING COUNT(*) > 100
      |ORDER BY supplier_revenue DESC, l_suppkey""".stripMargin

  /** String-function battery: LIKE, UPPER, SUBSTR, ||, LENGTH. */
  def q16StringFuncs(spark: SparkSession, dir: String): DataFrame = {
    val p = t(spark, dir, "part")
    p.filter(col("p_name").like("%bolt%"))
      .groupBy(col("p_brand"), upper(col("p_type")).as("type_u"))
      .agg(count(lit(1)).as("cnt"),
        min(substring(col("p_name"), 1, 5)).as("name5"),
        max(concat(col("p_brand"), lit(":"), col("p_type"))).as("brand_type"),
        sum(length(col("p_name")).cast(LongType)).as("name_chars"))
      .orderBy(col("p_brand"), col("type_u"))
  }

  val q16Sql: String =
    """SELECT p_brand, UPPER(p_type) AS type_u, COUNT(*) AS cnt,
      |  MIN(SUBSTR(p_name, 1, 5)) AS name5,
      |  MAX(p_brand || ':' || p_type) AS brand_type,
      |  CAST(SUM(LENGTH(p_name)) AS BIGINT) AS name_chars
      |FROM part WHERE p_name LIKE '%bolt%'
      |GROUP BY p_brand, UPPER(p_type) ORDER BY p_brand, type_u""".stripMargin

  /** TPC-H Q17-style: join against a per-group average (correlated-subquery
    * semantics, expressed as a self-aggregate join so both sides shuffle on
    * l_partkey once — no nested-loop re-evaluation). */
  def q17SmallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    // r19 optimization audit: measured, then left alone — a per-partkey
    // window rewrite (1 scan, no join) replaced the join-back's REUSED
    // shuffle stage with a real per-part sort and measured worse
    // (0.50 s → 0.58 s isolated, sf0.1); the aggregate+join form's two
    // lineitem subtrees differ above the scan, but the avg side feeds a
    // broadcast, so only one full shuffle exists either way.
    val l = t(spark, dir, "lineitem")
    val avgQ = l.groupBy(col("l_partkey").as("pk"))
      .agg((money(sum(dec(col("l_quantity")))) / count(lit(1))).as("avg_qty"))
    l.join(avgQ, l("l_partkey") === avgQ("pk"))
      .filter(col("l_quantity") < col("avg_qty") * 0.5)
      .agg((money(sum(dec(col("l_extendedprice")))) / lit(7.0)).as("avg_yearly"),
        count(lit(1)).as("n_small"))
  }

  val q17Sql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
      |  COUNT(*) AS n_small
      |FROM lineitem JOIN (
      |  SELECT l_partkey AS pk,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
      |  FROM lineitem GROUP BY l_partkey) a ON l_partkey = pk
      |WHERE l_quantity < avg_qty * 0.5""".stripMargin

  /** TPC-H Q18-style: big orders — HAVING-filtered keys joined back to the
    * fact + dimensions. The qualifying-key set and customer both GROW WITH
    * SF, so neither side is hint-broadcast: AQE sees the post-HAVING size
    * at runtime and broadcasts only while it actually fits (the hint
    * variant force-collected a linearly-growing set onto the driver). */
  def q18BigOrders(spark: SparkSession, dir: String): DataFrame = {
    val l = t(spark, dir, "lineitem")
    val o = t(spark, dir, "orders")
    val c = t(spark, dir, "customer")
    val big = l.groupBy(col("l_orderkey").as("bk"))
      .agg(money(sum(dec(col("l_quantity")))).as("sum_qty"))
      .filter(col("sum_qty") > 180.0)
    o.join(big, o("o_orderkey") === big("bk"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate").cast(DateType).as("orderdate"),
        col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
  }

  val q18Sql: String =
    """SELECT c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS orderdate,
      |  o_totalprice, sum_qty
      |FROM orders
      |JOIN (SELECT l_orderkey AS bk, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |      FROM lineitem GROUP BY l_orderkey HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 180.0) b
      |  ON o_orderkey = bk
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin

  /** Date functions: monthly revenue trend (date_trunc + year/month parts).
    * Grouping on a DATE-cast truncation keeps output types portable. */
  def q19MonthlyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    o.groupBy(date_trunc("month", col("o_orderdate")).cast(DateType).as("month"))
      .agg(count(lit(1)).as("n_orders"),
        money(sum(dec(col("o_totalprice")))).as("revenue"))
      .withColumn("yr", year(col("month")).cast(LongType))
      .withColumn("mon", month(col("month")).cast(LongType))
      .select(col("month"), col("yr"), col("mon"), col("n_orders"), col("revenue"))
      .orderBy(col("month"))
  }

  val q19Sql: String =
    """SELECT month, CAST(YEAR(month) AS BIGINT) AS yr, CAST(MONTH(month) AS BIGINT) AS mon,
      |  n_orders, revenue
      |FROM (SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month,
      |        COUNT(*) AS n_orders,
      |        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |      FROM orders GROUP BY 1) x
      |ORDER BY month""".stripMargin

  /** Full-outer join of per-year customer activity (exercises FULL OUTER +
    * COALESCE null handling). */
  def q20FullOuter(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val a = o.filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1997-01-01"))
      .groupBy(col("o_custkey").as("ck96")).agg(count(lit(1)).as("n96"))
    val b = o.filter(col("o_orderdate") >= ts("1997-01-01") && col("o_orderdate") < ts("1998-01-01"))
      .groupBy(col("o_custkey").as("ck97")).agg(count(lit(1)).as("n97"))
    a.join(b, a("ck96") === b("ck97"), "full_outer")
      .select(coalesce(col("ck96"), col("ck97")).as("custkey"),
        coalesce(col("n96"), lit(0L)).as("n96"),
        coalesce(col("n97"), lit(0L)).as("n97"))
      .orderBy(col("custkey"))
  }

  val q20Sql: String =
    """SELECT COALESCE(ck96, ck97) AS custkey, COALESCE(n96, 0) AS n96, COALESCE(n97, 0) AS n97
      |FROM (SELECT o_custkey AS ck96, COUNT(*) AS n96 FROM orders
      |      WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01' GROUP BY 1) a
      |FULL OUTER JOIN
      |     (SELECT o_custkey AS ck97, COUNT(*) AS n97 FROM orders
      |      WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01' GROUP BY 1) b
      |  ON ck96 = ck97
      |ORDER BY custkey""".stripMargin

  /** Window-function battery: lag/lead/first_value over an ordered frame
    * plus ntile quartiles over a second ordering — both windows share the
    * o_custkey partitioning, so the plan shuffles once and sorts twice. */
  def q26WindowFuncs(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders").filter(col("o_custkey") < 200)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val w2 = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.select(
      col("o_custkey"), col("o_orderkey"),
      lag(col("o_orderkey"), 1).over(w).as("prev_order"),
      lead(col("o_orderkey"), 1).over(w).as("next_order"),
      first(col("o_orderkey")).over(w).as("first_order"),
      ntile(4).over(w2).cast(LongType).as("spend_quartile"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val q26Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  LAG(o_orderkey, 1) OVER w AS prev_order,
      |  LEAD(o_orderkey, 1) OVER w AS next_order,
      |  FIRST_VALUE(o_orderkey) OVER w AS first_order,
      |  CAST(NTILE(4) OVER w2 AS BIGINT) AS spend_quartile
      |FROM orders WHERE o_custkey < 200
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      |       w2 AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Pivot: revenue by returnflag spread over linestatus columns. Spark's
    * `pivot` with explicit values compiles to a single hash aggregate of
    * conditional sums — the oracle states that desugaring directly. */
  def q27Pivot(spark: SparkSession, dir: String): DataFrame = {
    val l = t(spark, dir, "lineitem")
    l.groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(money(sum(dec(col("l_extendedprice")))))
      .withColumnRenamed("F", "rev_f").withColumnRenamed("O", "rev_o")
      .orderBy(col("l_returnflag"))
  }

  val q27Sql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_f,
      |  CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_o
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q6's semantics through the bounded-heap TopK Aggregator instead of a
    * window: O(k) state per group through the partial-agg shuffle, no full
    * per-partition sort. Shares q6's oracle — the two operators must be
    * row-identical. */
  def q6bTopKAggregator(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    o.groupBy(col("o_custkey"))
      .agg(graft.functions.TopKByScore.topK(
        col("o_totalprice"), col("o_orderkey"), 3).as("top"))
      .select(col("o_custkey"), posexplode_outer(col("top")).as(Seq("pos", "e")))
      .select(col("o_custkey"), col("e.id").as("o_orderkey"),
        col("e.score").as("o_totalprice"), (col("pos") + 1).cast(LongType).as("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Supplier revenue through the SALTED join (graft.operators.SkewJoin):
    * the skewed fact side is salted, the dimension replicated — and the
    * oracle is the PLAIN join, proving result equivalence through the gate.
    */
  def q28SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val l = t(spark, dir, "lineitem")
      .select(col("l_suppkey").as("suppkey"), col("l_extendedprice"))
    val s = t(spark, dir, "supplier")
      .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
    graft.operators.SkewJoin.salted(l, s, "suppkey", salts = 8)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_lines"),
        money(sum(dec(col("l_extendedprice")))).as("revenue"))
      .orderBy(col("s_nationkey"))
  }

  val q28Sql: String =
    """SELECT s_nationkey, COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  /** Multiset set operations (EXCEPT ALL / INTERSECT ALL): per-occurrence
    * semantics, unlike the distinct q9/q10 forms. */
  def q29SetOpsAll(spark: SparkSession, dir: String): DataFrame = {
    val l = t(spark, dir, "lineitem")
    val a = l.filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1997-01-01"))
      .select(col("l_suppkey").as("suppkey"))
    val b = l.filter(col("l_returnflag") === "R").select(col("l_suppkey").as("suppkey"))
    val ex = a.exceptAll(b).groupBy(col("suppkey")).agg(count(lit(1)).as("n_except"))
    val in = a.intersectAll(b).groupBy(col("suppkey")).agg(count(lit(1)).as("n_intersect"))
    ex.join(in, Seq("suppkey"), "full_outer")
      .select(col("suppkey"),
        coalesce(col("n_except"), lit(0L)).as("n_except"),
        coalesce(col("n_intersect"), lit(0L)).as("n_intersect"))
      .orderBy(col("suppkey"))
  }

  val q29Sql: String =
    """WITH a AS (SELECT l_suppkey AS suppkey FROM lineitem
      |           WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'),
      |b AS (SELECT l_suppkey AS suppkey FROM lineitem WHERE l_returnflag = 'R'),
      |ex AS (SELECT suppkey, COUNT(*) AS n_except FROM (
      |         SELECT suppkey FROM a EXCEPT ALL SELECT suppkey FROM b) GROUP BY suppkey),
      |i AS (SELECT suppkey, COUNT(*) AS n_intersect FROM (
      |        SELECT suppkey FROM a INTERSECT ALL SELECT suppkey FROM b) GROUP BY suppkey)
      |SELECT suppkey, COALESCE(n_except, 0) AS n_except,
      |  COALESCE(n_intersect, 0) AS n_intersect
      |FROM ex FULL OUTER JOIN i USING (suppkey)
      |ORDER BY suppkey""".stripMargin

  /** Point-in-interval range join via graft.operators.RangeJoin: event ids
    * against per-customer intervals. A raw BETWEEN predicate would plan as
    * BroadcastNestedLoopJoin (O(points × intervals)); the bucketized form
    * is an equi-join on the bin (asserted in PlanQualitySpec). The oracle
    * is DuckDB's native range join over the same predicate. */
  def q30RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val intervals = t(spark, dir, "customer").select(
      col("c_custkey").as("ckey"),
      (col("c_custkey") * 6).as("lo"),
      (col("c_custkey") * 6 + 10 + (col("c_custkey") % 5) * 8).as("hi"))
    val points = t(spark, dir, "events").select(col("event_id"))
    graft.operators.RangeJoin.bucketed(points, intervals, "event_id", "lo", "hi", 32L)
      .groupBy(col("ckey"))
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("min_event"),
        max(col("event_id")).as("max_event"))
      .orderBy(col("ckey"))
  }

  val q30Sql: String =
    """SELECT c_custkey AS ckey, COUNT(*) AS n_events,
      |  MIN(event_id) AS min_event, MAX(event_id) AS max_event
      |FROM customer c JOIN events e
      |  ON e.event_id >= c.c_custkey*6
      | AND e.event_id <= c.c_custkey*6 + 10 + (c.c_custkey%5)*8
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Exact discrete percentiles per group — selection, not interpolation:
    * pXX = the value at rank ceil(p·n) in the group's sort order, so no
    * float arithmetic touches the data (`approx_percentile`/interpolating
    * `percentile` would both break engine parity). One shuffle: the rank
    * and count windows share the same partitioning. The rank index is
    * computed as ceil(p·n) in IEEE double on BOTH engines, so even its
    * last-ulp behavior agrees. Scale: exact per-group sort — the honest
    * cost of exact percentiles; at extreme cardinality swap in a sketch. */
  def q31Percentiles(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
    val cw = Window.partitionBy(col("event_type"))
    val ranked = t(spark, dir, "events").select(
      col("event_type"), col("value"),
      row_number().over(w).cast(LongType).as("rn"),
      count(lit(1)).over(cw).as("n"))
    def pick(p: Double): Column =
      max(when(col("rn") === ceil(lit(p) * col("n")), col("value")))
    ranked.groupBy(col("event_type"))
      .agg(max(col("n")).as("n_events"),
        pick(0.5).as("p50"), pick(0.9).as("p90"), pick(0.99).as("p99"))
      .orderBy(col("event_type"))
  }

  val q31Sql: String =
    """WITH r AS (SELECT event_type, value,
      |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM events)
      |SELECT event_type, MAX(n) AS n_events,
      |  MAX(CASE WHEN rn = CAST(ceil(0.5*n) AS BIGINT) THEN value END) AS p50,
      |  MAX(CASE WHEN rn = CAST(ceil(0.9*n) AS BIGINT) THEN value END) AS p90,
      |  MAX(CASE WHEN rn = CAST(ceil(0.99*n) AS BIGINT) THEN value END) AS p99
      |FROM r GROUP BY 1 ORDER BY event_type""".stripMargin

  /** CUBE over two dimensions with explicit grouping flags (q32): all four
    * grouping sets of (status, priority) in one pass. The flags are
    * per-column `grouping()` bits — portable, unlike the engines'
    * differently-packed grouping_id integers. Scale: a cube is the same
    * single hash-aggregate shape as a plain groupBy (each input row feeds
    * 2^k combiner cells map-side); key cardinality here is bounded
    * (|status| × |priority|), so the exchange stays tiny at any SF. */
  def q32Cube(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    o.cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        money(sum(dec(col("o_totalprice")))).as("total_price"),
        grouping(col("o_orderstatus")).cast(LongType).as("g_status"),
        grouping(col("o_orderpriority")).cast(LongType).as("g_priority"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)
  }

  val q32Sql: String =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
      |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
      |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  /** TPC-H Q7-shaped volume shipping (q33): revenue flowing between two
    * chosen nations, by direction and ship year. Exercises the join shape
    * q5 doesn't: the SAME broadcast dimension (nation) joins TWICE under
    * different role keys (supplier's nation vs customer's nation), with
    * the direction filter only resolvable after both joins. Ship-year is
    * derived (cast BIGINT for oracle parity); the fact table shuffles on
    * its join keys once per hop, dims broadcast. */
  def q33VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val n1 = t(spark, dir, "nation")
      .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
    val n2 = t(spark, dir, "nation")
      .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
    val l = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1998-01-01"))
    val s = t(spark, dir, "supplier")
    val o = t(spark, dir, "orders")
    val c = t(spark, dir, "customer")
    l.join(s, l("l_suppkey") === s("s_suppkey"))
      .join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(n1, s("s_nationkey") === col("s_nkey"))
      .join(n2, c("c_nationkey") === col("c_nkey"))
      .filter(
        (col("supp_nation") === "NATION_12" && col("cust_nation") === "NATION_10") ||
          (col("supp_nation") === "NATION_10" && col("cust_nation") === "NATION_12"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast(LongType).as("l_year"))
      .agg(money(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))))
        .as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  val q33Sql: String =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10')
      |    OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12'))
      |GROUP BY 1, 2, 3
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** TPC-H Q21-shaped sole-late-supplier census (q35): suppliers who were
    * the ONLY late shipper on a multi-supplier order (lateness adapted to
    * the fixture: shipped > 90 days after the order date — the fixture
    * carries no commit/receipt dates). Q21's correlated EXISTS / NOT
    * EXISTS pair is re-expressed as per-order distinct-supplier counts —
    * the aggregate form Catalyst plans as two map-side-combinable counts
    * instead of two correlated self-joins; the qualifying (order,
    * supplier) pairs then join back to the late lineitems. Top-10 with a
    * name tie-break via TakeOrdered. */
  def q35SoleLateSupplier(spark: SparkSession, dir: String): DataFrame = {
    val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS")
    // collapse to (order, supplier, was-ever-late) FIRST — one combinable
    // pass replaces two countDistincts AND gives both consumers the small
    // pair table instead of re-joining lineitem x orders per branch.
    // r19 optimization audit: measured, then left alone — the two `pairs`
    // consumers produce the IDENTICAL (okey, skey) exchange, which AQE's
    // runtime stage reuse executes once (initial-plan explain shows two
    // subtrees; the executed plan reuses the shuffle stage); a window
    // rewrite of perOrder replaced that reused exchange with a real
    // per-okey sort and measured WORSE (1.27 s → 1.48 s isolated, sf0.1).
    val pairs = t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("okey"), col("l_suppkey").as("skey"),
        late.as("late"))
      .groupBy(col("okey"), col("skey")).agg(max(col("late")).as("late"))
    val perOrder = pairs.groupBy(col("okey")).agg(
      count(lit(1)).as("n_supps"),
      sum(when(col("late"), 1L).otherwise(0L)).as("n_late_supps"))
    val qualifying = pairs.filter(col("late")).select(col("okey"), col("skey"))
      .join(perOrder.filter(col("n_supps") > 1 && col("n_late_supps") === 1), "okey")
    qualifying.join(t(spark, dir, "supplier"), col("skey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(10)
  }

  val q35Sql: String =
    """WITH l AS (
      |  SELECT l_orderkey AS okey, l_suppkey AS skey,
      |    l_shipdate > o_orderdate + INTERVAL 90 DAY AS late
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |per_order AS (
      |  SELECT okey, COUNT(DISTINCT skey) AS n_supps,
      |    COUNT(DISTINCT CASE WHEN late THEN skey END) AS n_late_supps
      |  FROM l GROUP BY okey),
      |late_supp AS (SELECT DISTINCT okey, skey FROM l WHERE late),
      |q AS (SELECT ls.okey, ls.skey FROM late_supp ls
      |      JOIN per_order p ON ls.okey = p.okey
      |      WHERE p.n_supps > 1 AND p.n_late_supps = 1)
      |SELECT s_name, COUNT(*) AS numwait
      |FROM q JOIN supplier ON skey = s_suppkey
      |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin

  /** TPC-H Q11 shape (q36): per-part revenue from one nation's suppliers,
    * keeping parts whose value exceeds a FRACTION of the global total —
    * supplier restriction = even-keyed nations (name-constant-free, so
    * the query is non-degenerate at every SF) —
    * the group-vs-scalar-subquery-share pattern. The share compare is
    * exact: both sides stay DECIMAL and the threshold is rendered as
    * `v * 2000 > total` (integer scale shift, no decimal division), so
    * the qualifying set cannot drift on rounding. Plan: broadcast the
    * one-nation supplier list into the lineitem scan, one combinable
    * per-part aggregate, then a broadcast 1-row total — no second pass
    * over lineitem for the subquery. */
  def q36PartValueShare(spark: SparkSession, dir: String): DataFrame = {
    // even-keyed nations rather than one name: a single nation owns zero
    // suppliers at tiny SF (the fixture has ~10 suppliers across 25
    // nations), and the Q11 SHAPE — restricted supplier set, share-of-
    // total filter — is what this query pins, not the constant
    val nat = t(spark, dir, "nation").filter(col("n_nationkey") % 2 === 0)
    val supp = t(spark, dir, "supplier")
      .join(nat, col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    // r19 optimization audit: measured, then left alone — perPart's two
    // consumers share one IDENTICAL per-part exchange, which AQE stage
    // reuse executes once at runtime; a checkpoint pin added an
    // eager materialization job and measured WORSE (0.64 s → 0.87 s
    // isolated, sf0.1).
    val perPart = t(spark, dir, "lineitem")
      // hint kept (backwards estimate): unhinted, lineitem is broadcast, not supp
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))).as("v"))
    val total = perPart.agg(sum(col("v")).as("tot"))
    perPart.crossJoin(total)
      .filter(col("v") * lit(2000) > col("tot"))
      .select(col("l_partkey").as("partkey"), money(col("v")).as("value"))
      .orderBy(col("value").desc, col("partkey"))
  }

  val q36Sql: String =
    """WITH s AS (SELECT s_suppkey FROM supplier
      |           JOIN nation ON s_nationkey = n_nationkey
      |           WHERE n_nationkey % 2 = 0),
      |pp AS (SELECT l_partkey,
      |         SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |             (1 - CAST(l_discount AS DECIMAL(18,2)))) AS v
      |       FROM lineitem JOIN s ON l_suppkey = s_suppkey
      |       GROUP BY l_partkey),
      |tt AS (SELECT SUM(v) AS tot FROM pp)
      |SELECT l_partkey AS partkey, CAST(v AS DOUBLE) AS value
      |FROM pp CROSS JOIN tt
      |WHERE v * 2000 > tot
      |ORDER BY value DESC, partkey""".stripMargin

  /** TPC-H Q15 shape (q37): the revenue view + argmax — suppliers whose
    * quarterly revenue EQUALS the global maximum. The equality compare
    * stays DECIMAL (exact partial aggregation ⇒ the max and every
    * candidate are bit-identical computations), so the tie semantics are
    * deterministic — the known Q15 subtlety that breaks under double
    * rounding. One combinable per-supplier aggregate, broadcast 1-row
    * max, no second lineitem pass and no window. */
  def q37TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    // r19 optimization audit: measured, then left alone — the revenue
    // view's two consumers share one identical per-supplier exchange
    // (AQE stage reuse); a checkpoint pin measured worse (0.24 s →
    // 0.32 s isolated, sf0.1) for the same reason as q36.
    val perSupp = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1996-04-01"))
      .groupBy(col("l_suppkey"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
        .as("total_revenue"))
    val top = perSupp.agg(max(col("total_revenue")).as("max_revenue"))
    perSupp.crossJoin(top)
      .filter(col("total_revenue") === col("max_revenue"))
      .join(t(spark, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        money(col("total_revenue")).as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  val q37Sql: String =
    """WITH r AS (SELECT l_suppkey,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |        (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY l_suppkey),
      |m AS (SELECT MAX(total_revenue) AS max_revenue FROM r)
      |SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
      |FROM r CROSS JOIN m
      |JOIN supplier ON l_suppkey = s_suppkey
      |WHERE total_revenue = max_revenue
      |ORDER BY s_suppkey""".stripMargin

  /** TPC-H Q20 shape (q38): a semi-join driven by a PER-GROUP correlated
    * aggregate threshold — Q20 keeps suppliers whose availqty exceeds
    * half of a part's shipped volume; with no partsupp fixture the same
    * structure becomes "suppliers shipping MORE THAN THE PER-SUPPLIER
    * AVERAGE of a part" (`q·n > total`, non-degenerate at every SF where
    * a fixed-share threshold empties out as per-part supplier fan-out
    * grows). The compare stays DECIMAL end to end — quantity sums and
    * the count product never touch a double, so the threshold is exact
    * (the q36/q37 idiom).
    *
    * Scale: two combinable aggregates over the same (part, supplier)
    * shuffle — the per-part rollup reuses the pair table rather than
    * re-scanning lineitem — then one ≪-corpus join back; no window, no
    * correlated re-scan (the naive Q20 runs the inner aggregate per
    * outer row). */
  def q38AboveAvgSupplier(spark: SparkSession, dir: String): DataFrame = {
    val ps = t(spark, dir, "lineitem")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(dec(col("l_quantity"))).as("q"))
    // per-part rollup as a WINDOW over the pair table, not a second
    // aggregate joined back: Catalyst does not share common subtrees, so
    // the ps⋈pt form re-ran the lineitem scan + (part, supplier) shuffle
    // twice and joined the copies (r19 plan audit — one lineitem pass now)
    val wPart = Window.partitionBy(col("l_partkey"))
    val lead = ps
      .withColumn("total", sum(col("q")).over(wPart))
      .withColumn("n_supps", count(lit(1)).over(wPart))
      .filter(col("q") * col("n_supps") > col("total"))
    lead.join(t(spark, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("n_lead_parts"),
        money(sum(col("q"))).as("lead_qty"))
      .orderBy(col("s_name"))
  }

  val q38Sql: String =
    """WITH ps AS (
      |  SELECT l_partkey, l_suppkey,
      |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS q
      |  FROM lineitem GROUP BY l_partkey, l_suppkey),
      |pt AS (
      |  SELECT l_partkey, SUM(q) AS total, COUNT(*) AS n_supps
      |  FROM ps GROUP BY l_partkey),
      |lead AS (
      |  SELECT ps.l_suppkey, ps.q FROM ps JOIN pt USING (l_partkey)
      |  WHERE ps.q * pt.n_supps > pt.total)
      |SELECT s_name, COUNT(*) AS n_lead_parts,
      |  CAST(SUM(q) AS DOUBLE) AS lead_qty
      |FROM lead JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_name ORDER BY s_name""".stripMargin

  /** TPC-H Q22 shape (q39): the "idle rich customers" census — customers
    * whose balance beats the average POSITIVE balance and who placed no
    * RECENT orders (none since mid-1998 — the fixture's order history is
    * dense enough that literally-orderless customers don't exist below
    * sf0.1, so the anti-join is windowed like q14's, with the cutoff
    * placed where every SF keeps at least one idle-rich customer), rolled up per
    * country code (the fixture carries no phone column, so `c_nationkey`
    * plays Q22's substring country code — the SHAPE pinned here is
    * scalar-avg subquery + NOT EXISTS anti-join + rollup, not the
    * constants).
    *
    * Exactness: the average is never divided out — a customer qualifies
    * when `acctbal · n_pos > total_pos` with both sides DECIMAL (q36's
    * integer scale-shift trick applied to AVG), so the qualifying set
    * cannot drift on rounding; the final balance sum goes to double once.
    *
    * Plan: the positive-balance aggregate is one combinable pass
    * broadcast back as a 1-row table; the anti-join shuffles customer
    * and the projected o_custkey column on the key (at 100 TB both
    * sides partition by custkey — co-located if the lake buckets on it);
    * the rollup is a combinable aggregate over ≤ |nations| keys. */
  def q39IdleRichCustomers(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val pos = c.filter(dec(col("c_acctbal")) > lit(0))
      .agg(sum(dec(col("c_acctbal"))).as("tot_pos"),
        count(lit(1)).as("n_pos"))
    val rich = c.crossJoin(pos)
      .filter(dec(col("c_acctbal")) * col("n_pos") > col("tot_pos"))
    val o = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= ts("1998-06-01")).select(col("o_custkey"))
    rich.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").as("cntrycode"))
      .agg(count(lit(1)).as("numcust"),
        money(sum(dec(col("c_acctbal")))).as("totacctbal"))
      .orderBy(col("cntrycode"))
  }

  val q39Sql: String =
    """WITH pos AS (
      |  SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS tot_pos,
      |    COUNT(*) AS n_pos
      |  FROM customer WHERE CAST(c_acctbal AS DECIMAL(18,2)) > 0)
      |SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
      |FROM customer, pos
      |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * pos.n_pos > pos.tot_pos
      |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |                  AND o_orderdate >= TIMESTAMP '1998-06-01')
      |GROUP BY c_nationkey ORDER BY cntrycode""".stripMargin

  /** Explicit GROUPING SETS (q40) — the asymmetric multi-rollup neither
    * ROLLUP (q8) nor CUBE (q32) can express: (status, priority),
    * (status, year), and the grand total in ONE aggregate pass — the
    * reporting shape that otherwise takes a UNION ALL of three scans.
    * Spark 4's `Dataset.groupingSets` is the declarative form; per-column
    * `grouping()` flags keep the set-id portable (engines pack
    * grouping_id bits differently). Scale: same single hash-aggregate as
    * a plain groupBy — each row feeds |sets| combiner cells map-side; key
    * space is bounded by the dimension cardinalities, so the exchange is
    * tiny at any SF. */
  def q40GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
      .withColumn("o_year", year(col("o_orderdate")).cast(LongType))
    o.groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus"), col("o_year")),
          Seq.empty[Column]),
        col("o_orderstatus"), col("o_orderpriority"), col("o_year"))
      .agg(count(lit(1)).as("n_orders"),
        money(sum(dec(col("o_totalprice")))).as("total_price"),
        grouping(col("o_orderstatus")).cast(LongType).as("g_status"),
        grouping(col("o_orderpriority")).cast(LongType).as("g_priority"),
        grouping(col("o_year")).cast(LongType).as("g_year"))
      .orderBy(col("g_status"), col("g_priority"), col("g_year"),
        col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first,
        col("o_year").asc_nulls_first)
  }

  val q40Sql: String =
    """WITH o AS (SELECT *, CAST(year(o_orderdate) AS BIGINT) AS o_year FROM orders)
      |SELECT o_orderstatus, o_orderpriority, o_year, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
      |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
      |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
      |  CAST(GROUPING(o_year) AS BIGINT) AS g_year
      |FROM o
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
      |                        (o_orderstatus, o_year), ())
      |ORDER BY g_status, g_priority, g_year,
      |  o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST,
      |  o_year ASC NULLS FIRST""".stripMargin

  /** q41: NATIONAL MARKET SHARE — the TPC-H Q8 shape (adapted to the
    * fixture's synthetic constants: key-range predicates — region 0
    * customers, p_size band, supplier nation-group s_nationkey % 5 —
    * instead of named constants, so every SF owns rows; see the
    * fixture-constant caveat in the verify skill): within one region's
    * customers and a part band, the share of yearly revenue supplied by
    * the watched nation group. The plan property worth pinning: the share
    * is ONE conditional aggregate over a single joined stream — the naive
    * form computes numerator and denominator as two full join trees and
    * joins them (2× the scans, an extra shuffle).
    *
    * Scale: lineitem joins orders/part/supplier on their keys (the fact
    * shuffles); the region-filtered nation list broadcasts into customer
    * and the predicate prunes before the fact join; one combinable
    * aggregate per year. DECIMAL(18,2) per-factor discipline for oracle
    * cent-parity; the share divides the two DOUBLE-rendered sums (decimal
    * division precision rules differ between engines). */
  def q41MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val l = t(spark, dir, "lineitem")
    val o = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= ts("1995-01-01") &&
        col("o_orderdate") < ts("1997-01-01"))
    val p = t(spark, dir, "part").filter(col("p_size") <= 20)
      .select(col("p_partkey"))
    val s = t(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val c = t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val cn = t(spark, dir, "nation").filter(col("n_regionkey") === 0)
      .select(col("n_nationkey").as("c_nkey"))
    val vol = dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))
    val watched = col("s_nationkey") % 5 === 0
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(p, l("l_partkey") === p("p_partkey"))
      .join(s, l("l_suppkey") === s("s_suppkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(cn, col("c_nationkey") === col("c_nkey"))
      .groupBy(year(col("o_orderdate")).cast(LongType).as("o_year"))
      .agg(
        (money(sum(when(watched, vol).otherwise(dec(lit(0))))) /
          money(sum(vol))).as("mkt_share"),
        money(sum(vol)).as("volume"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("o_year"))
  }

  /** q42: PRODUCT-TYPE PROFIT ROLLUP — the TPC-H Q9 shape (profit by
    * supplier nation × order year over the widest join tree in the
    * battery). The fixture ships no partsupp table, so the supply-cost
    * side is a DERIVED CONTRACT LEDGER with the same plan role: 8 cost
    * tiers per part (|part|×8 rows — an SF-scaling build side, like
    * partsupp's 0.8×|lineitem|), keyed (ps_partkey, tier) with a line's
    * tier = l_suppkey % 8, so every surviving lineitem matches exactly
    * one contract row at every SF (a modulo tier join, not a sparse
    * (partkey, suppkey) sample whose selectivity would shrink with SF).
    * Cost = retail price × a deterministic 0.55–0.88 tier factor. The
    * part filter is key-range (p_partkey % 3 — the '%green%' analogue;
    * named fixture constants can own zero rows at sf0.001, see the
    * verify-skill caveat).
    *
    * Scale/plan posture (PlanQualitySpec): ONE lineitem scan; the fact
    * shuffle-joins orders and the derived ledger on their keys (two
    * SF-scaling build sides — the q18 AQE-vs-hint discipline actually
    * bites here); supplier and nation carry no hint — they broadcast
    * while they fit and shuffle past the threshold; the part->ledger
    * explode is scan-side (generate over a broadcastable dim scan);
    * profit is one combinable aggregate, no numerator/denominator
    * double-tree. DECIMAL(18,2) per-factor discipline throughout; the
    * tier factor double (0.55 + k/100.0) is the same IEEE expression in
    * both engines, so its 2-decimal cast is bit-identical. */
  def q42ProfitRollup(spark: SparkSession, dir: String): DataFrame = {
    val ps = t(spark, dir, "part")
      .filter(col("p_partkey") % 3 === 0)
      .select(col("p_partkey").as("ps_partkey"),
        explode(sequence(lit(0L), lit(7L))).as("g"),
        col("p_retailprice"))
      .select(col("ps_partkey"), col("g"),
        (dec(col("p_retailprice")) *
          dec(lit(0.55) + ((col("ps_partkey") * 7 + col("g") * 13) % 34) /
            lit(100.0))).as("ps_supplycost"))
    val l = t(spark, dir, "lineitem")
    val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_orderdate"))
    val s = t(spark, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
    val n = t(spark, dir, "nation").select(col("n_nationkey"), col("n_name"))
    val amount = dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))) -
      col("ps_supplycost") * dec(col("l_quantity"))
    l.join(ps, l("l_partkey") === ps("ps_partkey") &&
        l("l_suppkey") % 8 === ps("g"))
      .join(o, l("l_orderkey") === o("o_orderkey"))
      .join(s, l("l_suppkey") === s("s_suppkey"))
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast(LongType).as("o_year"))
      .agg(money(sum(amount)).as("sum_profit"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  val q42Sql: String =
    """WITH ps AS (
      |  SELECT p_partkey AS ps_partkey, g,
      |    CAST(p_retailprice AS DECIMAL(18,2)) *
      |    CAST(0.55 + ((p_partkey*7 + g*13) % 34)/100.0 AS DECIMAL(18,2)) AS ps_supplycost
      |  FROM part, (SELECT unnest(generate_series(0,7)) AS g) gs
      |  WHERE p_partkey % 3 = 0)
      |SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
      |    - ps_supplycost * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_profit,
      |  CAST(COUNT(*) AS BIGINT) AS n_lines
      |FROM lineitem
      |JOIN ps ON l_partkey = ps_partkey AND l_suppkey % 8 = g
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN nation ON n_nationkey = s_nationkey
      |GROUP BY 1, 2
      |ORDER BY nation, o_year DESC""".stripMargin

  /** q43: CUSTOMER ORDER-COUNT DISTRIBUTION — the TPC-H Q13 shape, the
    * battery's only LEFT-OUTER + double-aggregate plan: every customer
    * (including the order-less ones — the whole point of Q13) gets an
    * order count under an order-side predicate (key-range per the
    * fixture-constant caveat: the '%special%requests%' exclusion
    * analogue), then the distribution histograms the counts. `count(col)`
    * skips the outer join's nulls in both engines, so zero-order
    * customers land in the c_count = 0 bucket, not nowhere.
    *
    * Scale/plan posture: the outer join shuffles on custkey (both sides
    * SF-scaling — no broadcast hint, the q2/q18 discipline); phase-1
    * count is per-custkey combinable; phase-2 re-aggregates |distinct
    * counts| rows — a second exchange over a tiny key space. */
  def q43CustomerDistribution(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer").select(col("c_custkey"))
    val o = t(spark, dir, "orders")
      .filter(col("o_orderkey") % 5 =!= 0)
      .select(col("o_custkey"), col("o_orderkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q43Sql: String =
    """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist FROM (
      |  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderkey % 5 <> 0
      |  GROUP BY c_custkey) cc
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  val q41Sql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  CAST(SUM(CASE WHEN s_nationkey % 5 = 0
      |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
      |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) /
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
      |    AS mkt_share,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS volume,
      |  CAST(COUNT(*) AS BIGINT) AS n_lines
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation cn ON c_nationkey = cn.n_nationkey
      |WHERE cn.n_regionkey = 0 AND p_size <= 20
      |  AND o_orderdate >= TIMESTAMP '1995-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY 1 ORDER BY o_year""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q41_market_share" -> q41MarketShare,
    "q42_profit_rollup" -> q42ProfitRollup,
    "q43_customer_distribution" -> q43CustomerDistribution,
    "q40_grouping_sets" -> q40GroupingSets,
    "q39_idle_rich_customers" -> q39IdleRichCustomers,
    "q38_above_avg_supplier" -> q38AboveAvgSupplier,
    "q37_top_supplier" -> q37TopSupplier,
    "q36_part_value_share" -> q36PartValueShare,
    "q35_sole_late_supplier" -> q35SoleLateSupplier,
    "q33_volume_shipping" -> q33VolumeShipping,
    "q32_cube" -> q32Cube,
    "q31_percentiles" -> q31Percentiles,
    "q30_range_join" -> q30RangeJoin,
    "q29_set_ops_all" -> q29SetOpsAll,
    "q26_window_funcs" -> q26WindowFuncs,
    "q27_pivot" -> q27Pivot,
    "q28_salted_join" -> q28SaltedJoin,
    "q6b_topk_aggregator" -> q6bTopKAggregator,
    "q1_pricing_summary" -> q1PricingSummary,
    "q2_market_revenue" -> q2MarketRevenue,
    "q3_revenue_filter" -> q3RevenueFilter,
    "q4_order_priority" -> q4OrderPriority,
    "q5_nation_revenue" -> q5NationRevenue,
    "q6_window_top_orders" -> q6WindowTopOrders,
    "q7_running_total" -> q7RunningTotal,
    "q8_rollup" -> q8Rollup,
    "q9_intersect" -> q9Intersect,
    "q10_except" -> q10Except,
    "q11_distinct_counts" -> q11DistinctCounts,
    "q12_case_agg" -> q12CaseAgg,
    "q13_cust_distribution" -> q13CustDistribution,
    "q14_anti_join" -> q14AntiJoin,
    "q15_having" -> q15Having,
    "q16_string_funcs" -> q16StringFuncs,
    "q17_small_qty_revenue" -> q17SmallQtyRevenue,
    "q18_big_orders" -> q18BigOrders,
    "q19_monthly_revenue" -> q19MonthlyRevenue,
    "q20_full_outer" -> q20FullOuter)

  val oracle: Map[String, String] = Map(
    "q41_market_share" -> q41Sql,
    "q42_profit_rollup" -> q42Sql,
    "q43_customer_distribution" -> q43Sql,
    "q40_grouping_sets" -> q40Sql,
    "q39_idle_rich_customers" -> q39Sql,
    "q38_above_avg_supplier" -> q38Sql,
    "q37_top_supplier" -> q37Sql,
    "q36_part_value_share" -> q36Sql,
    "q32_cube" -> q32Sql,
    "q33_volume_shipping" -> q33Sql,
    "q35_sole_late_supplier" -> q35Sql,
    "q31_percentiles" -> q31Sql,
    "q30_range_join" -> q30Sql,
    "q26_window_funcs" -> q26Sql,
    "q27_pivot" -> q27Sql,
    "q28_salted_join" -> q28Sql, // oracle is the PLAIN join (equivalence)
    "q29_set_ops_all" -> q29Sql,
    "q6b_topk_aggregator" -> q6Sql, // must be row-identical to the window form

    "q1_pricing_summary" -> q1Sql,
    "q2_market_revenue" -> q2Sql,
    "q3_revenue_filter" -> q3Sql,
    "q4_order_priority" -> q4Sql,
    "q5_nation_revenue" -> q5Sql,
    "q6_window_top_orders" -> q6Sql,
    "q7_running_total" -> q7Sql,
    "q8_rollup" -> q8Sql,
    "q9_intersect" -> q9Sql,
    "q10_except" -> q10Sql,
    "q11_distinct_counts" -> q11Sql,
    "q12_case_agg" -> q12Sql,
    "q13_cust_distribution" -> q13Sql,
    "q14_anti_join" -> q14Sql,
    "q15_having" -> q15Sql,
    "q16_string_funcs" -> q16Sql,
    "q17_small_qty_revenue" -> q17Sql,
    "q18_big_orders" -> q18Sql,
    "q19_monthly_revenue" -> q19Sql,
    "q20_full_outer" -> q20Sql)
}
