package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables

/** The batch analytics catalog over the star schema.
  *
  * Every query shape from the reference EDA surface
  * (/root/reference/spark_eda.py — see SURVEY.md §2.1) is re-expressed
  * here against the TPC-H-ish tables, plus the star-schema joins the
  * reference never had (SURVEY.md §2.2 "Joins", /root/reference/stage3.md:64-67
  * explicitly avoids joins by denormalizing — we support both shapes).
  *
  * == Cross-engine determinism conventions ==
  * The driver hash-compares our parquet output against DuckDB running
  * [[graft.SparkEntry.oracleSql]]. Doubles summed in parallel are
  * order-dependent, so every money/quantity aggregate:
  *   1. casts each row value to DECIMAL(18,4) (unambiguous — source data
  *      has ≤2 decimal digits, derived products ≤4),
  *   2. SUMs in decimal (exact, associative → partition-order-proof),
  *   3. casts the final scalar to DOUBLE (single correctly-rounded
  *      conversion, identical in JVM BigDecimal and DuckDB).
  * Averages are explicit sum/count with one IEEE double division.
  * Every query ends in a total ORDER BY (unique tiebreaker) so LIMITs
  * are deterministic.
  *
  * == Scale posture (100 TB) ==
  * All plans are declarative DataFrame chains: filters/projections reach
  * the parquet scan (PushedFilters/ReadSchema), aggregates get
  * partial+final HashAggregate, dimension joins are broadcast
  * (region/nation/supplier/part stay dimension-sized as the fact tables
  * grow), fact-fact joins (lineitem⋈orders) shuffle on the join key and
  * AQE can re-plan/skew-split them. No driver-side loops, no collect()
  * mid-plan; every public result is bounded (agg or limit).
  */
object StarQueries {

  // determinism convention: one shared owner (graft.functions.DecimalSums)
  private val D = graft.functions.DecimalSums.D
  private def dsum(c: Column): Column = graft.functions.DecimalSums.dsum(c)
  private def davg(c: Column): Column = graft.functions.DecimalSums.davg(c)
  private def decSum(c: Column): Column = graft.functions.DecimalSums.decSum(c)
  private def sqlDsum(e: String): String = graft.functions.DecimalSums.sqlDsum(e)
  private def sqlDavg(e: String): String = graft.functions.DecimalSums.sqlDavg(e)

  private def revenue: Column = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
  private val sqlRevenue = "l_extendedprice * (1.0 - l_discount)"

  // ---------------------------------------------------------------------------
  // q01 — pricing summary (scan → filter → groupBy agg → order).
  // Reference shape: spark_eda.py:70-90; TPC-H Q1 flavor.
  // Plan: parquet scan w/ pushed filters → partial HashAggregate →
  // exchange(key) → final HashAggregate → sort. Two stages at any scale.
  // ---------------------------------------------------------------------------
  def q01PricingSummary(spark: SparkSession, dir: String): DataFrame =
    // layout-adaptive spread (round 15): the partial aggregate pipelines
    // on the scan — one task on a one-row-group file; identity at scale
    graft.ScalePolicy.spreadIfNarrow(Tables.lineitem(spark, dir), col("l_orderkey"))
      .filter(col("l_quantity").isNotNull && col("l_extendedprice").isNotNull)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(revenue).as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q01Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${sqlDsum("l_quantity")} AS sum_qty,
       |  ${sqlDsum("l_extendedprice")} AS sum_base_price,
       |  ${sqlDsum(sqlRevenue)} AS sum_disc_price,
       |  ${sqlDavg("l_quantity")} AS avg_qty,
       |  ${sqlDavg("l_extendedprice")} AS avg_price,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------------------
  // q02 — revenue by part type, top 15 (genre-revenue analog of
  // spark_eda.py:70-90 with the genre dimension as a joined dim table).
  // part is a dimension → broadcast hash join: no shuffle of lineitem.
  // ---------------------------------------------------------------------------
  def q02PartTypeRevenue(spark: SparkSession, dir: String): DataFrame =
    // layout-adaptive spread — the q01 rationale (broadcast join +
    // partial agg pipeline on the scan)
    graft.ScalePolicy.spreadIfNarrow(Tables.lineitem(spark, dir), col("l_orderkey"))
      .join(broadcast(Tables.part(spark, dir)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type"))
      .agg(
        dsum(revenue).as("total_revenue"),
        count(lit(1)).as("line_count"))
      .orderBy(col("total_revenue").desc, col("p_type"))
      .limit(15)

  val q02Sql: String =
    s"""SELECT p_type,
       |  ${sqlDsum(sqlRevenue)} AS total_revenue,
       |  COUNT(*) AS line_count
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |GROUP BY p_type
       |ORDER BY total_revenue DESC, p_type
       |LIMIT 15""".stripMargin

  // ---------------------------------------------------------------------------
  // q03 — supplier metrics (developer-metrics shape, spark_eda.py:97-117:
  // groupBy un-exploded key, three aggregates, top-15).
  // ---------------------------------------------------------------------------
  def q03SupplierMetrics(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(
        dsum(revenue).as("total_revenue"),
        dsum(col("l_quantity")).as("total_quantity"),
        count(lit(1)).as("line_count"))
      .orderBy(col("total_revenue").desc, col("s_name"))
      .limit(15)

  val q03Sql: String =
    s"""SELECT s_name,
       |  ${sqlDsum(sqlRevenue)} AS total_revenue,
       |  ${sqlDsum("l_quantity")} AS total_quantity,
       |  COUNT(*) AS line_count
       |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       |GROUP BY s_name
       |ORDER BY total_revenue DESC, s_name
       |LIMIT 15""".stripMargin

  // ---------------------------------------------------------------------------
  // q04 — yearly trend (spark_eda.py:124-148; the reference computed
  // avg_price driver-side at :147 — here it's in-plan).
  // ---------------------------------------------------------------------------
  def q04YearlyTrend(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("order_year", year(col("o_orderdate")))
      .filter(col("order_year").between(1995, 2000))
      .groupBy(col("order_year"))
      .agg(
        dsum(col("o_totalprice")).as("total_revenue"),
        davg(col("o_totalprice")).as("avg_price"),
        count(lit(1)).as("order_count"))
      .orderBy(col("order_year"))

  val q04Sql: String =
    s"""SELECT CAST(YEAR(o_orderdate) AS INT) AS order_year,
       |  ${sqlDsum("o_totalprice")} AS total_revenue,
       |  ${sqlDavg("o_totalprice")} AS avg_price,
       |  COUNT(*) AS order_count
       |FROM orders
       |WHERE YEAR(o_orderdate) BETWEEN 1995 AND 2000
       |GROUP BY 1
       |ORDER BY order_year""".stripMargin

  // ---------------------------------------------------------------------------
  // q05 — when-chain price buckets → avg + count, ordered by the LABEL
  // (the reference sorts bucket labels lexicographically, spark_eda.py:175
  // — label prefixes keep that ordering meaningful here).
  // ---------------------------------------------------------------------------
  private def priceBucket: Column =
    when(col("o_totalprice") < 100000, "a_under_100k")
      .when(col("o_totalprice") < 200000, "b_100k_200k")
      .when(col("o_totalprice") < 300000, "c_200k_300k")
      .when(col("o_totalprice") < 400000, "d_300k_400k")
      .otherwise("e_400k_plus")

  private val sqlPriceBucket =
    """CASE WHEN o_totalprice < 100000 THEN 'a_under_100k'
      |     WHEN o_totalprice < 200000 THEN 'b_100k_200k'
      |     WHEN o_totalprice < 300000 THEN 'c_200k_300k'
      |     WHEN o_totalprice < 400000 THEN 'd_300k_400k'
      |     ELSE 'e_400k_plus' END""".stripMargin

  def q05PriceBuckets(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_totalprice").isNotNull)
      .withColumn("price_range", priceBucket)
      .groupBy(col("price_range"))
      .agg(
        davg(col("o_totalprice")).as("avg_price"),
        count(lit(1)).as("order_count"))
      .orderBy(col("price_range"))

  val q05Sql: String =
    s"""SELECT $sqlPriceBucket AS price_range,
       |  ${sqlDavg("o_totalprice")} AS avg_price,
       |  COUNT(*) AS order_count
       |FROM orders
       |WHERE o_totalprice IS NOT NULL
       |GROUP BY 1
       |ORDER BY price_range""".stripMargin

  // ---------------------------------------------------------------------------
  // q06 — top supplier by revenue, then its top-10 lines (spark_eda.py:
  // 194-229 pulled the winner to the driver via first(); here the winner is
  // a rank-1 filter so the whole thing stays one distributed plan).
  // ---------------------------------------------------------------------------
  def q06TopSupplierHits(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .withColumn("line_revenue", revenue)
    val bySupp = li.groupBy(col("s_name"))
      .agg(dsum(col("line_revenue")).as("total_revenue"))
    // rank-1 as orderBy().limit(1): plans as TakeOrderedAndProject
    // (per-partition top-1 + driver merge) instead of an unpartitioned
    // row_number window that would sort everything on one task
    val top = bySupp
      .orderBy(col("total_revenue").desc, col("s_name"))
      .limit(1)
      .select(col("s_name").as("top_name"))
    li.join(broadcast(top), col("s_name") === col("top_name"))
      .select(
        col("s_name"),
        col("l_orderkey"), col("l_linenumber"),
        col("line_revenue").cast(D).cast(DoubleType).as("line_revenue"),
        col("l_quantity"))
      .orderBy(col("line_revenue").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(10)
  }

  val q06Sql: String =
    s"""WITH li AS (
       |  SELECT s_name, l_orderkey, l_linenumber, l_quantity,
       |         CAST(CAST($sqlRevenue AS DECIMAL(18,4)) AS DOUBLE) AS line_revenue
       |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey),
       |top AS (
       |  SELECT s_name AS top_name
       |  FROM li GROUP BY s_name
       |  ORDER BY ${sqlDsum("line_revenue")} DESC, s_name LIMIT 1)
       |SELECT s_name, l_orderkey, l_linenumber, line_revenue, l_quantity
       |FROM li JOIN top ON s_name = top_name
       |ORDER BY line_revenue DESC, l_orderkey, l_linenumber
       |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------------------
  // q07 — SQL-surface price stats with exact median + HAVING
  // (spark_eda.py:235-265 used a temp view + PERCENTILE_APPROX; we keep the
  // temp-view/spark.sql entry path and use exact percentile so the DuckDB
  // quantile_cont oracle is bit-comparable — SURVEY.md §7.4 risk 4).
  // ---------------------------------------------------------------------------
  def q07FlagPriceStats(spark: SparkSession, dir: String): DataFrame = {
    // layout-adaptive spread — the q01 rationale (percentile buffers
    // collect per-group values map-side)
    graft.ScalePolicy.spreadIfNarrow(Tables.lineitem(spark, dir), col("l_orderkey"))
      .createOrReplaceTempView("graft_q07_lineitem")
    spark.sql(
      s"""SELECT l_returnflag,
         |  COUNT(*) AS cnt,
         |  ${sqlDavg("l_extendedprice")} AS avg_price,
         |  percentile(l_extendedprice, 0.5) AS median_price,
         |  MIN(l_extendedprice) AS min_price,
         |  MAX(l_extendedprice) AS max_price
         |FROM graft_q07_lineitem
         |GROUP BY l_returnflag
         |HAVING COUNT(*) >= 10
         |ORDER BY avg_price DESC, l_returnflag
         |LIMIT 20""".stripMargin)
  }

  val q07Sql: String =
    s"""SELECT l_returnflag,
       |  COUNT(*) AS cnt,
       |  ${sqlDavg("l_extendedprice")} AS avg_price,
       |  quantile_cont(l_extendedprice, 0.5) AS median_price,
       |  MIN(l_extendedprice) AS min_price,
       |  MAX(l_extendedprice) AS max_price
       |FROM lineitem
       |GROUP BY l_returnflag
       |HAVING COUNT(*) >= 10
       |ORDER BY avg_price DESC, l_returnflag
       |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------------
  // q08 — SQL-surface with FROM-subquery + HAVING (spark_eda.py:271-298
  // shape: per-key count/sum/avg, HAVING count>=3, top-20).
  // orders⋈customer: customer stays dimension-sized → broadcast.
  // ---------------------------------------------------------------------------
  def q08CustomerOrderStats(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_q08_orders")
    Tables.customer(spark, dir).createOrReplaceTempView("graft_q08_customer")
    spark.sql(
      s"""SELECT c_custkey, c_name,
         |  COUNT(*) AS order_count,
         |  ${sqlDsum("o_totalprice")} AS total_spend,
         |  ${sqlDavg("o_totalprice")} AS avg_spend
         |FROM (SELECT c_custkey, c_name, o_totalprice
         |      FROM graft_q08_orders JOIN graft_q08_customer
         |        ON o_custkey = c_custkey) t
         |GROUP BY c_custkey, c_name
         |HAVING COUNT(*) >= 3
         |ORDER BY order_count DESC, c_custkey
         |LIMIT 20""".stripMargin)
  }

  val q08Sql: String =
    s"""SELECT c_custkey, c_name,
       |  COUNT(*) AS order_count,
       |  ${sqlDsum("o_totalprice")} AS total_spend,
       |  ${sqlDavg("o_totalprice")} AS avg_spend
       |FROM (SELECT c_custkey, c_name, o_totalprice
       |      FROM orders JOIN customer ON o_custkey = c_custkey) t
       |GROUP BY c_custkey, c_name
       |HAVING COUNT(*) >= 3
       |ORDER BY order_count DESC, c_custkey
       |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------------
  // q09 — order-width performance (multi-genre analog, spark_eda.py:304-324:
  // derive a per-entity cardinality, keep >1, aggregate metrics by it).
  // Two-level aggregate: per-order line_count (shuffle on l_orderkey, which
  // a bucketed-by-orderkey layout would make shuffle-free), then re-agg.
  // ---------------------------------------------------------------------------
  def q09OrderWidthPerf(spark: SparkSession, dir: String): DataFrame = {
    // layout-adaptive spread on the GROUPING key — the groupBy reuses
    // this exchange (guide §2.4), so no shuffle is added even locally
    val widths = graft.ScalePolicy.spreadIfNarrow(Tables.lineitem(spark, dir),
        col("l_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("line_count"),
           dsum(revenue).as("order_revenue"))
    widths.filter(col("line_count") > 1)
      .groupBy(col("line_count"))
      .agg(
        count(lit(1)).as("order_count"),
        davg(col("order_revenue")).as("avg_order_revenue"))
      .orderBy(col("line_count"))
  }

  val q09Sql: String =
    s"""WITH widths AS (
       |  SELECT l_orderkey, COUNT(*) AS line_count,
       |         ${sqlDsum(sqlRevenue)} AS order_revenue
       |  FROM lineitem GROUP BY l_orderkey)
       |SELECT line_count, COUNT(*) AS order_count,
       |       ${sqlDavg("order_revenue")} AS avg_order_revenue
       |FROM widths WHERE line_count > 1
       |GROUP BY line_count
       |ORDER BY line_count""".stripMargin

  // ---------------------------------------------------------------------------
  // q10 — month distribution (spark_eda.py:465-476 substring-month shape).
  // ---------------------------------------------------------------------------
  def q10MonthDistribution(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderdate").isNotNull)
      .withColumn("order_month", month(col("o_orderdate")))
      .groupBy(col("order_month"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("order_month"))

  val q10Sql: String =
    """SELECT CAST(MONTH(o_orderdate) AS INT) AS order_month,
      |       COUNT(*) AS order_count
      |FROM orders
      |WHERE o_orderdate IS NOT NULL
      |GROUP BY 1
      |ORDER BY order_month""".stripMargin

  // ---------------------------------------------------------------------------
  // q11 — categorical distribution (range-count shape of spark_eda.py:479-510).
  // ---------------------------------------------------------------------------
  def q11PriorityDistribution(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("order_count"),
        davg(col("o_totalprice")).as("avg_price"))
      .orderBy(col("o_orderpriority"))

  val q11Sql: String =
    s"""SELECT o_orderpriority,
       |  COUNT(*) AS order_count,
       |  ${sqlDavg("o_totalprice")} AS avg_price
       |FROM orders
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------------------
  // q12 — seeded sample for scatter data (spark_eda.py:513-520; the
  // reference sampled UNseeded — we pin seed 42, SURVEY.md §2.2 "Sampling").
  // Sampling is engine-specific → no SQL oracle (rows-only check).
  // ---------------------------------------------------------------------------
  def q12SampleScatter(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_extendedprice") > 0 && col("l_discount") > 0)
      .sample(withReplacement = false, fraction = 0.1, seed = 42L)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
              revenue.cast(D).cast(DoubleType).as("line_revenue"))
      // total order directly under the cut (plans as
      // TakeOrderedAndProject): without it the kept 5000 is an
      // arbitrary partition prefix that shifts with parallelism
      .orderBy(col("l_orderkey"), col("l_linenumber"))
      .limit(5000)
      .select(col("l_extendedprice"), col("line_revenue"))

  // ---------------------------------------------------------------------------
  // q13 — revenue concentration / Pareto (spark_eda.py:567-578 did a
  // driver-side loop). The output is the FULL per-supplier table, whose
  // cardinality is the group-key count and grows with the data — an
  // unpartitioned window here is the one plan shape that stops scaling
  // (round-1 weak finding). [[Cumulative.withCumsumAndRank]] computes
  // the same running sum with P parallel per-partition windows plus
  // broadcast prefix offsets; the global total is a separate aggregate
  // broadcast onto the result.
  // ---------------------------------------------------------------------------
  def q13SupplierPareto(spark: SparkSession, dir: String): DataFrame = {
    val bySupp = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(decSum(revenue).as("rev_dec"))
    Cumulative.withCumsumAndRank(bySupp,
        Seq(col("rev_dec").desc, col("s_name")), col("rev_dec"),
        cumName = "cum_dec", rankName = "__rk", totName = "tot_dec")
      .select(
        col("s_name"),
        col("rev_dec").cast(DoubleType).as("total_revenue"),
        col("cum_dec").cast(DoubleType).as("cumulative_revenue"),
        (col("cum_dec").cast(DoubleType) / col("tot_dec").cast(DoubleType))
          .as("cumulative_share"))
      .orderBy(col("total_revenue").desc, col("s_name"))
  }

  val q13Sql: String =
    s"""WITH by_supp AS (
       |  SELECT s_name, SUM(CAST($sqlRevenue AS DECIMAL(18,4))) AS rev_dec
       |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       |  GROUP BY s_name)
       |SELECT s_name,
       |  CAST(rev_dec AS DOUBLE) AS total_revenue,
       |  CAST(SUM(rev_dec) OVER (ORDER BY rev_dec DESC, s_name
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |    AS cumulative_revenue,
       |  CAST(SUM(rev_dec) OVER (ORDER BY rev_dec DESC, s_name
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |    / CAST(SUM(rev_dec) OVER () AS DOUBLE) AS cumulative_share
       |FROM by_supp
       |ORDER BY total_revenue DESC, s_name""".stripMargin

  // ---------------------------------------------------------------------------
  // q14 — market-segment revenue (genre-combo analog spark_eda.py:589-605:
  // group by the un-exploded combo key).
  // ---------------------------------------------------------------------------
  def q14SegmentRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        dsum(col("o_totalprice")).as("total_revenue"),
        count(lit(1)).as("order_count"))
      .orderBy(col("total_revenue").desc, col("c_mktsegment"))
      .limit(10)

  val q14Sql: String =
    s"""SELECT c_mktsegment,
       |  ${sqlDsum("o_totalprice")} AS total_revenue,
       |  COUNT(*) AS order_count
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_mktsegment
       |ORDER BY total_revenue DESC, c_mktsegment
       |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------------------
  // q15 — avg revenue per entity (spark_eda.py:608-613: derived ratio of two
  // aggregates, top-100).
  // ---------------------------------------------------------------------------
  def q15CustomerOrderValue(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(
        dsum(col("o_totalprice")).as("total_spend"),
        count(lit(1)).as("order_count"))
      .withColumn("avg_order_value",
        col("total_spend") / col("order_count").cast(DoubleType))
      .filter(col("order_count") >= 2)
      .orderBy(col("avg_order_value").desc, col("c_custkey"))
      .limit(100)

  val q15Sql: String =
    s"""SELECT c_custkey, c_name,
       |  ${sqlDsum("o_totalprice")} AS total_spend,
       |  COUNT(*) AS order_count,
       |  ${sqlDsum("o_totalprice")} / CAST(COUNT(*) AS DOUBLE) AS avg_order_value
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_custkey, c_name
       |HAVING COUNT(*) >= 2
       |ORDER BY avg_order_value DESC, c_custkey
       |LIMIT 100""".stripMargin

  // ---------------------------------------------------------------------------
  // q16 / q17 — yearly averages (spark_eda.py:670-700 pair).
  // ---------------------------------------------------------------------------
  def q16YearlyAvgPrice(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("order_year", year(col("o_orderdate")))
      .groupBy(col("order_year"))
      .agg(davg(col("o_totalprice")).as("avg_price"))
      .orderBy(col("order_year"))

  val q16Sql: String =
    s"""SELECT CAST(YEAR(o_orderdate) AS INT) AS order_year,
       |  ${sqlDavg("o_totalprice")} AS avg_price
       |FROM orders
       |GROUP BY 1
       |ORDER BY order_year""".stripMargin

  def q17YearlyAvgQuantity(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_quantity").isNotNull)
      .withColumn("ship_year", year(col("l_shipdate")))
      .groupBy(col("ship_year"))
      .agg(davg(col("l_quantity")).as("avg_quantity"),
           count(lit(1)).as("line_count"))
      .orderBy(col("ship_year"))

  val q17Sql: String =
    s"""SELECT CAST(YEAR(l_shipdate) AS INT) AS ship_year,
       |  ${sqlDavg("l_quantity")} AS avg_quantity,
       |  COUNT(*) AS line_count
       |FROM lineitem
       |WHERE l_quantity IS NOT NULL
       |GROUP BY 1
       |ORDER BY ship_year""".stripMargin

  // ---------------------------------------------------------------------------
  // e1 — serving profile with reversed rowkey (stage3.ipynb cell 2 /
  // stage3.md:46-47 anti-hotspot key; same trick as shuffle-skew salting).
  // ---------------------------------------------------------------------------
  def e1CustomerProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(
        reverse(col("c_custkey").cast("string")).as("rowkey"),
        col("c_custkey"), col("c_name"), col("c_mktsegment"), col("c_acctbal"))
      .orderBy(col("rowkey"), col("c_custkey"))
      .limit(50)

  val e1Sql: String =
    """SELECT reverse(CAST(c_custkey AS VARCHAR)) AS rowkey,
      |       c_custkey, c_name, c_mktsegment, c_acctbal
      |FROM customer
      |ORDER BY rowkey, c_custkey
      |LIMIT 50""".stripMargin

  // ---------------------------------------------------------------------------
  // e2 — pre-aggregated serving summary (stage3.ipynb cell 2 dev_analytics:
  // count, sum, round(avg, 2)).
  // ---------------------------------------------------------------------------
  def e2NationSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("customer_count"),
        dsum(col("c_acctbal")).as("total_acctbal"),
        round(davg(col("c_acctbal")), 2).as("avg_acctbal"))
      .orderBy(col("n_name"))

  val e2Sql: String =
    s"""SELECT n_name,
       |  COUNT(*) AS customer_count,
       |  ${sqlDsum("c_acctbal")} AS total_acctbal,
       |  ${graft.functions.DecimalSums.sqlRound2(sqlDavg("c_acctbal"))} AS avg_acctbal
       |FROM customer JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY n_name
       |ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------------------
  // e3 — inverted index (stage3.md:64-67 wide-column product_list: the
  // one-to-many relation denormalized per key; sorted CSV keeps the
  // cross-engine compare order-stable — the map-shaped variant is
  // map_from_entries(collect_list(struct(...))) with identical plan shape).
  // ---------------------------------------------------------------------------
  def e3NationIndex(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("customer_count"),
        array_join(sort_array(collect_list(col("c_custkey").cast("string"))), ",")
          .as("custkey_index"))
      .orderBy(col("n_name"))

  val e3Sql: String =
    """SELECT n_name,
      |  COUNT(*) AS customer_count,
      |  string_agg(CAST(c_custkey AS VARCHAR), ','
      |             ORDER BY CAST(c_custkey AS VARCHAR)) AS custkey_index
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------------------
  // q18 — set operations (SURVEY.md §2.2 lists union/intersect/except as
  // absent in the reference; they are part of a complete engine surface).
  // Customers active in 2001 vs 2002: UNION counts both-years customers
  // once, INTERSECT keeps the loyal set, EXCEPT the churned one. All
  // three plan as aggregates/joins — no custom work.
  // ---------------------------------------------------------------------------
  def q18CustomerSetOps(spark: SparkSession, dir: String): DataFrame = {
    def activeIn(yr: Int) =
      Tables.orders(spark, dir)
        .filter(year(col("o_orderdate")) === yr)
        .select(col("o_custkey"))
        .distinct()
    val a = activeIn(2001)
    val b = activeIn(2002)
    val rows = Seq(
      ("union", a.union(b).distinct()),
      ("intersect", a.intersect(b)),
      ("except", a.except(b)))
    rows.map { case (name, df) =>
      df.agg(count(lit(1)).as("customers")).select(lit(name).as("op"), col("customers"))
    }.reduce(_.unionAll(_)).orderBy(col("op"))
  }

  val q18Sql: String =
    """WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE YEAR(o_orderdate) = 2001),
      |b AS (SELECT DISTINCT o_custkey FROM orders WHERE YEAR(o_orderdate) = 2002)
      |SELECT 'except' AS op, COUNT(*) AS customers FROM (SELECT * FROM a EXCEPT SELECT * FROM b) t
      |UNION ALL
      |SELECT 'intersect', COUNT(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b) t
      |UNION ALL
      |SELECT 'union', COUNT(*) FROM (SELECT * FROM a UNION SELECT * FROM b) t
      |ORDER BY op""".stripMargin

  // ---------------------------------------------------------------------------
  // q19 — rollup with grouping_id (multi-level pre-aggregation in ONE
  // pass — the Expand operator feeds every grouping set from a single
  // scan, which is how a 100 TB dashboard cube avoids N scans).
  // ---------------------------------------------------------------------------
  def q19RollupRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .withColumn("order_year", year(col("o_orderdate")))
      .rollup(col("c_mktsegment"), col("order_year"))
      .agg(
        dsum(col("o_totalprice")).as("total_price"),
        count(lit(1)).as("order_count"),
        grouping_id().as("gid"))
      // null placement pinned: Spark defaults NULLS FIRST, DuckDB NULLS
      // LAST — benign on today's non-null TPC-H columns, a latent hash
      // mismatch if data ever carries NULL segment/year
      .orderBy(col("gid"), col("c_mktsegment").asc_nulls_last,
        col("order_year").asc_nulls_last)

  val q19Sql: String =
    s"""SELECT c_mktsegment, order_year,
       |  ${sqlDsum("o_totalprice")} AS total_price,
       |  COUNT(*) AS order_count,
       |  GROUPING(c_mktsegment, order_year) AS gid
       |FROM (SELECT c_mktsegment, CAST(YEAR(o_orderdate) AS INT) AS order_year,
       |             o_totalprice
       |      FROM orders JOIN customer ON o_custkey = c_custkey) t
       |GROUP BY ROLLUP(c_mktsegment, order_year)
       |ORDER BY gid, c_mktsegment NULLS LAST, order_year NULLS LAST""".stripMargin

  // ---------------------------------------------------------------------------
  // q32 — full cube with grouping_id: all four grouping sets of
  // (segment, year) from the same ONE-pass Expand as q19's rollup —
  // including the ((), year) slice a rollup can never produce. Expand
  // multiplies rows by the grouping-set count BEFORE the aggregate's
  // map-side combine, so a 100 TB cube still reads the fact table once.
  // ---------------------------------------------------------------------------
  def q32CubeRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .withColumn("order_year", year(col("o_orderdate")))
      .cube(col("c_mktsegment"), col("order_year"))
      .agg(
        dsum(col("o_totalprice")).as("total_price"),
        count(lit(1)).as("order_count"),
        grouping_id().as("gid"))
      // null placement pinned: Spark defaults NULLS FIRST, DuckDB NULLS
      // LAST — benign on today's non-null TPC-H columns, a latent hash
      // mismatch if data ever carries NULL segment/year
      .orderBy(col("gid"), col("c_mktsegment").asc_nulls_last,
        col("order_year").asc_nulls_last)

  val q32Sql: String =
    s"""SELECT c_mktsegment, order_year,
       |  ${sqlDsum("o_totalprice")} AS total_price,
       |  COUNT(*) AS order_count,
       |  GROUPING(c_mktsegment, order_year) AS gid
       |FROM (SELECT c_mktsegment, CAST(YEAR(o_orderdate) AS INT) AS order_year,
       |             o_totalprice
       |      FROM orders JOIN customer ON o_custkey = c_custkey) t
       |GROUP BY CUBE(c_mktsegment, order_year)
       |ORDER BY gid, c_mktsegment NULLS LAST, order_year NULLS LAST""".stripMargin

  // ---------------------------------------------------------------------------
  // q20 — full star join: lineitem⋈orders (fact-fact shuffle join, AQE
  // re-plannable) then customer→nation→region broadcast chain.
  // ---------------------------------------------------------------------------
  def q20RegionYearRevenue(spark: SparkSession, dir: String): DataFrame =
    // layout-adaptive spread on the fact-fact JOIN key: the join's own
    // exchange subsumes it, and the post-join broadcast chain + partial
    // aggregate inherit the width
    graft.ScalePolicy.spreadIfNarrow(Tables.lineitem(spark, dir), col("l_orderkey"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .withColumn("order_year", year(col("o_orderdate")))
      .groupBy(col("r_name"), col("order_year"))
      .agg(
        dsum(revenue).as("total_revenue"),
        count(lit(1)).as("line_count"))
      .orderBy(col("r_name"), col("order_year"))

  val q20Sql: String =
    s"""SELECT r_name, CAST(YEAR(o_orderdate) AS INT) AS order_year,
       |  ${sqlDsum(sqlRevenue)} AS total_revenue,
       |  COUNT(*) AS line_count
       |FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey
       |GROUP BY r_name, 2
       |ORDER BY r_name, order_year""".stripMargin

  // ---------------------------------------------------------------------------
  // q21 / q22 — semi & anti join (EXISTS / NOT EXISTS; SURVEY.md §2.2 joins).
  // ---------------------------------------------------------------------------
  def q21CustomersWithOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir),
            col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("active_customers"))
      .orderBy(col("c_mktsegment"))

  val q21Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS active_customers
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  def q22CustomersWithoutOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir)
              .filter(year(col("o_orderdate")) === 2001),
            col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("inactive_customers"))
      .orderBy(col("c_mktsegment"))

  val q22Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS inactive_customers
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND YEAR(o_orderdate) = 2001)
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------------------
  // q23 — distinct counting (exact count-distinct shuffles on (key, value);
  // the approx variant for 100 TB dashboards is approx_count_distinct —
  // exact here because the oracle must match).
  // ---------------------------------------------------------------------------
  // Two-phase distinct on INTEGER keys before any string is shuffled:
  // dedup (suppkey, partkey) with map-side partial aggregation (the
  // exchange carries one compact row per surviving pair, not one per
  // lineitem row), re-aggregate per suppkey, and only then broadcast
  // the supplier names onto the ~|supplier| result. The naive
  // countDistinct-after-join shape shuffled (s_name, l_partkey) for
  // every lineitem row — 2.1× the recorded baseline at sf0.1.
  def q23SupplierPartBreadth(spark: SparkSession, dir: String): DataFrame = {
    val perPair = Tables.lineitem(spark, dir)
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(count(lit(1)).as("pair_lines"))
    val perSupp = perPair
      .groupBy(col("l_suppkey"))
      // count(col) skips the NULL-partkey group, matching
      // COUNT(DISTINCT l_partkey) semantics; line_count keeps all rows
      .agg(count(col("l_partkey")).as("distinct_parts"),
           sum(col("pair_lines")).as("line_count"))
    perSupp
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("distinct_parts"), col("line_count"))
      .orderBy(col("s_name"))
  }

  val q23Sql: String =
    """SELECT s_name,
      |  COUNT(DISTINCT l_partkey) AS distinct_parts,
      |  COUNT(*) AS line_count
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_name
      |ORDER BY s_name""".stripMargin

  // ---------------------------------------------------------------------------
  // q25 — APPROXIMATE distinct counting: the 100 TB dashboard variant of
  // q23. HLL++ sketches merge associatively, so the plan is one partial+
  // final aggregate pass with fixed-size state — no (key, value) pair
  // expansion at all. Sketch output is engine-specific → rows-only gate;
  // the relative-error contract vs exact q23 is pinned in
  // StarQueriesSpec.
  // ---------------------------------------------------------------------------
  def q25ApproxPartBreadth(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_suppkey"))
      .agg(approx_count_distinct(col("l_partkey"), rsd = 0.02).as("approx_parts"))
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("approx_parts"))
      .orderBy(col("s_name"))

  // ---------------------------------------------------------------------------
  // q24 — windowed top-N per group (row_number over partitioned window;
  // SURVEY.md §2.2 "Window functions" — claimed by the reference report but
  // absent from its code; first-class here).
  // ---------------------------------------------------------------------------
  def q24TopBrandsPerFlag(spark: SparkSession, dir: String): DataFrame = {
    val byBrand = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_returnflag"), col("p_brand"))
      .agg(dsum(revenue).as("brand_revenue"))
    byBrand
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("l_returnflag"))
          .orderBy(col("brand_revenue").desc, col("p_brand"))))
      .filter(col("rk") <= 3)
      .orderBy(col("l_returnflag"), col("rk"))
  }

  val q24Sql: String =
    s"""WITH by_brand AS (
       |  SELECT l_returnflag, p_brand,
       |         ${sqlDsum(sqlRevenue)} AS brand_revenue
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  GROUP BY l_returnflag, p_brand)
       |SELECT l_returnflag, p_brand, brand_revenue,
       |       CAST(rk AS INT) AS rk
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
       |              ORDER BY brand_revenue DESC, p_brand) AS rk
       |      FROM by_brand) t
       |WHERE rk <= 3
       |ORDER BY l_returnflag, rk""".stripMargin

  // ---------------------------------------------------------------------------
  // p01 — bounded per-group sampling through the typed Aggregator UDAF
  // ([[graft.functions.PrioritySample]]): 5 deterministic hash-priority
  // samples per brand, O(k) state per group regardless of group size.
  // HASH-GATED (round 12): priorities are md5 hex strings (was
  // xxhash64), so DuckDB replays the exact sample AND its order with
  // `ORDER BY md5(p_name), p_name`; uniformity, bound, and
  // merge-order-independence stay pinned in PrioritySampleSpec.
  // ---------------------------------------------------------------------------
  def p01PrioritySample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.part(spark, dir)
      .select(col("p_brand"), col("p_name"))
      .as[(String, String)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(graft.functions.PrioritySample.topK(5).toColumn.name("sample"))
      .toDF("p_brand", "sample")
      .select(col("p_brand"), array_join(col("sample"), ",").as("sample_csv"))
      .orderBy(col("p_brand"))
  }

  val p01Sql: String =
    """WITH ranked AS (
      |  SELECT p_brand, p_name,
      |         ROW_NUMBER() OVER (PARTITION BY p_brand
      |           ORDER BY md5(p_name), p_name) AS rk
      |  FROM part)
      |SELECT p_brand,
      |       string_agg(p_name, ',' ORDER BY md5(p_name), p_name) AS sample_csv
      |FROM ranked
      |WHERE rk <= 5
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  // ---------------------------------------------------------------------------
  // q26 — pivot: ship-year rows × return-flag columns of decimal-summed
  // revenue. The value list is EXPLICIT (Seq("A","N","R")) — with it,
  // pivot is a single pass (one partial+final aggregate, no extra
  // values-discovery job, schema fixed at plan time), which is the only
  // form you'd run at 100 TB.
  // ---------------------------------------------------------------------------
  def q26ReturnflagPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(year(col("l_shipdate")).as("ship_year"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(dsum(col("l_extendedprice")))
      .select(col("ship_year"), col("A").as("rev_a"),
        col("N").as("rev_n"), col("R").as("rev_r"))
      .orderBy(col("ship_year"))

  val q26Sql: String = {
    def branch(flag: String) =
      "CAST(SUM(CASE WHEN l_returnflag = '" + flag + "' THEN " +
        graft.functions.DecimalSums.sqlDec("l_extendedprice") +
        " END) AS DOUBLE)"
    s"""SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
       |  ${branch("A")} AS rev_a,
       |  ${branch("N")} AS rev_n,
       |  ${branch("R")} AS rev_r
       |FROM lineitem
       |GROUP BY 1
       |ORDER BY ship_year""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q27 — unpivot (melt) of the q26 matrix back to long form. Spark's
  // unpivot EXCLUDES null cells by design; the oracle's UNION-ALL
  // branches carry the matching IS NOT NULL guard.
  // ---------------------------------------------------------------------------
  def q27ReturnflagUnpivot(spark: SparkSession, dir: String): DataFrame =
    q26ReturnflagPivot(spark, dir)
      .unpivot(Array(col("ship_year")),
        Array(col("rev_a"), col("rev_n"), col("rev_r")), "flag", "revenue")
      .orderBy(col("ship_year"), col("flag"))

  val q27Sql: String = {
    val base = q26Sql.replace("ORDER BY ship_year", "")
    def branch(c: String) =
      s"SELECT ship_year, '$c' AS flag, $c AS revenue FROM p WHERE $c IS NOT NULL"
    s"""WITH p AS ($base)
       |${branch("rev_a")}
       |UNION ALL ${branch("rev_n")}
       |UNION ALL ${branch("rev_r")}
       |ORDER BY ship_year, flag""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q28 — correlation & stddev WITHOUT the built-in corr()/stddev():
  // the builtins accumulate running doubles, so their result depends on
  // partition visit order — they can never hash-match a serial engine.
  // Instead the five moment sums (Σx, Σy, Σxy, Σx², Σy²) are summed
  // EXACTLY in decimal (products of (18,4) values fit decimal(38,8)),
  // and the textbook formulas combine them in a handful of IEEE double
  // ops: deterministic at any parallelism, same value in DuckDB.
  // ---------------------------------------------------------------------------
  def q28PriceQtyStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.DecimalSums.{mdec, asDouble}
    val x = col("l_quantity"); val y = col("l_extendedprice")
    // layout-adaptive spread — the q01 rationale; the six decimal
    // moment sums are exact (order-proof), so width changes nothing
    graft.ScalePolicy.spreadIfNarrow(Tables.lineitem(spark, dir), col("l_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(mdec(x)).as("sx"), sum(mdec(y)).as("sy"),
        sum(mdec(x * y)).as("sxy"),
        sum(mdec(x * x)).as("sxx"), sum(mdec(y * y)).as("syy"))
      // moments → double via DecimalSums.asDouble (string hop — see its
      // doc for why a direct cast drifts an ulp between engines), then
      // the formulas are a fixed sequence of IEEE ops
      .select(col("l_returnflag"), col("n"),
        col("n").cast(DoubleType).as("nd"),
        asDouble(col("sx")).as("dsx"),
        asDouble(col("sy")).as("dsy"),
        asDouble(col("sxy")).as("dsxy"),
        asDouble(col("sxx")).as("dsxx"),
        asDouble(col("syy")).as("dsyy"))
      .select(
        col("l_returnflag"),
        col("n"),
        ((col("dsxy") - col("dsx") * col("dsy") / col("nd")) /
          sqrt((col("dsxx") - col("dsx") * col("dsx") / col("nd")) *
            (col("dsyy") - col("dsy") * col("dsy") / col("nd"))))
          .as("price_qty_corr"),
        sqrt((col("dsxx") - col("dsx") * col("dsx") / col("nd")) /
          (col("nd") - lit(1.0))).as("qty_stddev"))
      .orderBy(col("l_returnflag"))
  }

  val q28Sql: String = {
    import graft.functions.DecimalSums.{sqlMdec, sqlAsDouble}
    s"""WITH mom AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    SUM(${sqlMdec("l_quantity")}) AS sx,
      |    SUM(${sqlMdec("l_extendedprice")}) AS sy,
      |    SUM(${sqlMdec("l_quantity * l_extendedprice")}) AS sxy,
      |    SUM(${sqlMdec("l_quantity * l_quantity")}) AS sxx,
      |    SUM(${sqlMdec("l_extendedprice * l_extendedprice")}) AS syy
      |  FROM lineitem
      |  GROUP BY l_returnflag),
      |d AS (
      |  SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
      |    ${sqlAsDouble("sx")} AS dsx,
      |    ${sqlAsDouble("sy")} AS dsy,
      |    ${sqlAsDouble("sxy")} AS dsxy,
      |    ${sqlAsDouble("sxx")} AS dsxx,
      |    ${sqlAsDouble("syy")} AS dsyy
      |  FROM mom)
      |SELECT l_returnflag, n,
      |  (dsxy - dsx * dsy / nd) /
      |    sqrt((dsxx - dsx * dsx / nd) * (dsyy - dsy * dsy / nd))
      |    AS price_qty_corr,
      |  sqrt((dsxx - dsx * dsx / nd) / (nd - 1.0)) AS qty_stddev
      |FROM d
      |ORDER BY l_returnflag""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // q33 — salted aggregation gate: the reduce side of a 3-key groupBy
  // over the whole fact table is the textbook hot-key funnel (every
  // lineitem row lands on one of three reduce tasks). Skew.saltedAgg
  // spreads each key over 16 sub-aggregations and merges the partials;
  // the oracle is the PLAIN group-by — salting must be invisible in the
  // result. Exact long partials keep the sum order-proof across the
  // extra merge level (the dsum kernel's parts).
  // ---------------------------------------------------------------------------
  def q33SaltedFlagStats(spark: SparkSession, dir: String): DataFrame = {
    val (qtyHi, qtyLo) = graft.functions.DecimalSums.parts(col("l_quantity"))
    Skew.saltedAgg(
        Tables.lineitem(spark, dir),
        keys = Seq("l_returnflag"),
        aggs = Map(
          "qty_hi"     -> ("sum", qtyHi),
          "qty_lo"     -> ("sum", qtyLo),
          "line_count" -> ("count", lit(1)),
          "max_qty"    -> ("max", col("l_quantity"))),
        distributeBy = col("l_orderkey"))
      .select(col("l_returnflag"),
        graft.functions.DecimalSums.fromParts(col("qty_hi"), col("qty_lo"))
          .cast(DoubleType).as("sum_qty"),
        col("line_count"), col("max_qty"))
      .orderBy(col("l_returnflag"))
  }

  val q33Sql: String =
    s"""SELECT l_returnflag,
       |  ${sqlDsum("l_quantity")} AS sum_qty,
       |  COUNT(*) AS line_count,
       |  MAX(l_quantity) AS max_qty
       |FROM lineitem
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------------------
  // q34 — salted join gate: lineitem⋈part on partkey through
  // Skew.saltedJoin (big side salted into 16 sub-keys, part replicated
  // per bucket), then brand revenue on top. The oracle is the PLAIN
  // join+aggregate — the salt must change the task layout, never the
  // pair set. This is the manual fallback for skewed joins AQE cannot
  // re-split (bucketed inputs, streaming stages); the equality proof on
  // a hot-key corpus is in ScalePostureSpec.
  // ---------------------------------------------------------------------------
  def q34SaltedBrandRevenue(spark: SparkSession, dir: String): DataFrame =
    Skew.saltedJoin(
        Tables.lineitem(spark, dir).select(
          col("l_partkey").as("partkey"), col("l_orderkey"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        Tables.part(spark, dir).select(
          col("p_partkey").as("partkey"), col("p_brand")),
        key = "partkey", distributeBy = col("l_orderkey"))
      .groupBy(col("p_brand"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("brand_revenue"),
        count(lit(1)).as("line_count"))
      .orderBy(col("p_brand"))

  val q34Sql: String =
    s"""SELECT p_brand,
       |  ${sqlDsum(sqlRevenue)} AS brand_revenue,
       |  COUNT(*) AS line_count
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |GROUP BY p_brand
       |ORDER BY p_brand""".stripMargin

  // ---------------------------------------------------------------------------
  // q35 — explicit GROUPING SETS beside q19's rollup and q32's cube: the
  // ((segment, year), (year)) set list is one a rollup can never produce
  // (it has the year-only slice but NOT the segment-only or grand-total
  // slices a cube would force). Same one-pass Expand: the fact side is
  // read once and multiplied per set before the partial aggregate.
  // ---------------------------------------------------------------------------
  def q35GroupingSetsRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .withColumn("order_year", year(col("o_orderdate")))
      .groupingSets(
        Seq(Seq(col("c_mktsegment"), col("order_year")), Seq(col("order_year"))),
        col("c_mktsegment"), col("order_year"))
      .agg(
        dsum(col("o_totalprice")).as("total_price"),
        count(lit(1)).as("order_count"),
        grouping_id().as("gid"))
      // null placement pinned: Spark defaults NULLS FIRST, DuckDB NULLS
      // LAST — benign on today's non-null TPC-H columns, a latent hash
      // mismatch if data ever carries NULL segment/year
      .orderBy(col("gid"), col("c_mktsegment").asc_nulls_last,
        col("order_year").asc_nulls_last)

  val q35Sql: String =
    s"""SELECT c_mktsegment, order_year,
       |  ${sqlDsum("o_totalprice")} AS total_price,
       |  COUNT(*) AS order_count,
       |  GROUPING(c_mktsegment, order_year) AS gid
       |FROM (SELECT c_mktsegment, CAST(YEAR(o_orderdate) AS INT) AS order_year,
       |             o_totalprice
       |      FROM orders JOIN customer ON o_custkey = c_custkey) t
       |GROUP BY GROUPING SETS ((c_mktsegment, order_year), (order_year))
       |ORDER BY gid, c_mktsegment NULLS LAST, order_year NULLS LAST""".stripMargin

  // ---------------------------------------------------------------------------
  // q36 — GLOBAL NTILE without a global window. Spark's own
  // `ntile(4).over(Window.orderBy(...))` moves the whole table through
  // ONE task (the same single-partition WindowExec q13 was rewritten to
  // avoid); here the global row_number comes from the two-phase
  // [[Cumulative]] prefix sum and the tile id is the closed-form NTILE
  // bucket function of (rank, total): with c rows in k tiles, the first
  // c mod k tiles get ⌈c/k⌉ rows and the rest ⌊c/k⌋ — the exact
  // remainder semantics SQL NTILE defines, so DuckDB's builtin NTILE is
  // the oracle for every per-row assignment (pinned through the
  // per-quartile aggregate). All arithmetic is integral `div` on longs:
  // exact at any corpus size.
  // ---------------------------------------------------------------------------
  def q36OrderValueQuartiles(spark: SparkSession, dir: String): DataFrame =
    Cumulative.withCumsumAndRank(
        Tables.orders(spark, dir).select(col("o_orderkey"), col("o_totalprice")),
        Seq(col("o_totalprice"), col("o_orderkey")),
        lit(1L), cumName = "__rn", totName = "__cnt")
      .withColumn("quartile", expr(
        """CAST(CASE
          |  WHEN __rn <= (__cnt % 4) * (__cnt div 4 + 1)
          |    THEN (__rn - 1) div (__cnt div 4 + 1) + 1
          |  ELSE (__cnt % 4)
          |    + (__rn - (__cnt % 4) * (__cnt div 4 + 1) - 1) div (__cnt div 4)
          |    + 1
          |END AS INT)""".stripMargin))
      .groupBy(col("quartile"))
      .agg(
        count(lit(1)).as("n_orders"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("quartile"))

  val q36Sql: String =
    s"""WITH r AS (
       |  SELECT o_totalprice,
       |    CAST(NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) AS INT)
       |      AS quartile
       |  FROM orders)
       |SELECT quartile, COUNT(*) AS n_orders,
       |  MIN(o_totalprice) AS min_price,
       |  MAX(o_totalprice) AS max_price,
       |  ${sqlDsum("o_totalprice")} AS sum_price
       |FROM r
       |GROUP BY quartile
       |ORDER BY quartile""".stripMargin

  // ---------------------------------------------------------------------------
  // q37 — customers spending above 2× their nation's average (correlated
  // scalar subquery). Written AS SQL so Catalyst's decorrelation does the
  // planning: the per-row subquery rewrites to one per-nation aggregate
  // joined back — never a re-executed subquery per outer row, never a
  // cartesian (plan-pinned in StarQueriesSpec). TPC-H Q17/Q22's shape on
  // this schema. Both the spend and the nation average ride the decimal
  // path, so the strict threshold compare is engine-stable.
  // ---------------------------------------------------------------------------
  def q37AboveNationAvg(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_q37_orders")
    Tables.customer(spark, dir).createOrReplaceTempView("graft_q37_customer")
    spark.sql(q37Text("graft_q37_orders", "graft_q37_customer"))
  }

  private def q37Text(orders: String, customer: String): String =
    s"""WITH spend AS (
       |  SELECT c_custkey, c_nationkey, ${sqlDsum("o_totalprice")} AS spend
       |  FROM $orders JOIN $customer ON o_custkey = c_custkey
       |  GROUP BY c_custkey, c_nationkey)
       |SELECT c_custkey, c_nationkey, spend
       |FROM spend s
       |WHERE spend > 2 * (
       |  SELECT CAST(SUM(CAST(s2.spend AS DECIMAL(18, 4))) AS DOUBLE)
       |           / COUNT(*)
       |  FROM spend s2 WHERE s2.c_nationkey = s.c_nationkey)
       |ORDER BY c_nationkey, spend DESC, c_custkey""".stripMargin

  val q37Sql: String = q37Text("orders", "customer")

  // ---------------------------------------------------------------------------
  // q38 — RECURSIVE CTE subtree rollup (the bill-of-materials shape) over
  // a synthetic 4-ary part hierarchy: parent(p) = p DIV 4, so the tree is
  // closed-form in the key and ~log₄(N) deep. The recursion builds the
  // (ancestor, descendant) closure — Σdepth(p) ≈ N·log₄N rows, NOT N² —
  // and one grouped pass rolls every part's subtree size and decimal
  // retail value. Exercises Spark 4's WITH RECURSIVE end to end (analyzer
  // loop + UnionLoop execution), hash-gated: DuckDB runs the IDENTICAL
  // query text modulo its `//` spelling of integer division. At 100 TB
  // the per-round frontier join is key-partitioned like any other
  // equi-join; depth — not data volume — bounds the round count.
  // ---------------------------------------------------------------------------
  def q38BomRollup(spark: SparkSession, dir: String): DataFrame = {
    Tables.part(spark, dir).createOrReplaceTempView("graft_q38_part")
    spark.sql(q38Text("graft_q38_part", "DIV"))
  }

  private def q38Text(part: String, div: String): String =
    s"""WITH RECURSIVE cl(anc, node) AS (
       |  SELECT p_partkey, p_partkey FROM $part
       |  UNION ALL
       |  SELECT cl.anc, c.p_partkey
       |  FROM cl JOIN $part c ON c.p_partkey $div 4 = cl.node
       |                       AND c.p_partkey <> cl.node)
       |SELECT cl.anc AS part_key,
       |       CAST(COUNT(*) AS BIGINT) AS subtree_n,
       |       ${sqlDsum("c.p_retailprice")} AS subtree_price
       |FROM cl JOIN $part c ON c.p_partkey = cl.node
       |GROUP BY cl.anc
       |ORDER BY part_key""".stripMargin

  val q38Sql: String = q38Text("part", "//")

  /** name → query for [[graft.SparkEntry]]. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary"    -> q01PricingSummary _,
    "q02_parttype_revenue"   -> q02PartTypeRevenue _,
    "q03_supplier_metrics"   -> q03SupplierMetrics _,
    "q04_yearly_trend"       -> q04YearlyTrend _,
    "q05_price_buckets"      -> q05PriceBuckets _,
    "q06_top_supplier_hits"  -> q06TopSupplierHits _,
    "q07_flag_price_stats"   -> q07FlagPriceStats _,
    "q08_customer_order_stats" -> q08CustomerOrderStats _,
    "q09_order_width_perf"   -> q09OrderWidthPerf _,
    "q10_month_distribution" -> q10MonthDistribution _,
    "q11_priority_distribution" -> q11PriorityDistribution _,
    "q12_sample_scatter"     -> q12SampleScatter _,
    "q13_supplier_pareto"    -> q13SupplierPareto _,
    "q14_segment_revenue"    -> q14SegmentRevenue _,
    "q15_customer_order_value" -> q15CustomerOrderValue _,
    "q16_yearly_avg_price"   -> q16YearlyAvgPrice _,
    "q17_yearly_avg_quantity" -> q17YearlyAvgQuantity _,
    "e1_customer_profile"    -> e1CustomerProfile _,
    "e2_nation_summary"      -> e2NationSummary _,
    "e3_nation_index"        -> e3NationIndex _,
    "q18_customer_set_ops"  -> q18CustomerSetOps _,
    "q19_rollup_revenue"    -> q19RollupRevenue _,
    "q32_cube_revenue"      -> q32CubeRevenue _,
    "q33_salted_flag_stats" -> q33SaltedFlagStats _,
    "q34_salted_brand_revenue" -> q34SaltedBrandRevenue _,
    "q35_grouping_sets_revenue" -> q35GroupingSetsRevenue _,
    "q36_order_value_quartiles" -> q36OrderValueQuartiles _,
    "q37_above_nation_avg"  -> q37AboveNationAvg _,
    "q38_bom_rollup"        -> q38BomRollup _,
    "q20_region_year_revenue" -> q20RegionYearRevenue _,
    "q21_customers_with_orders" -> q21CustomersWithOrders _,
    "q22_customers_without_orders" -> q22CustomersWithoutOrders _,
    "q23_supplier_part_breadth" -> q23SupplierPartBreadth _,
    "q24_top_brands_per_flag" -> q24TopBrandsPerFlag _,
    "q25_approx_part_breadth" -> q25ApproxPartBreadth _,
    "p01_priority_sample" -> p01PrioritySample _,
    "q26_returnflag_pivot" -> q26ReturnflagPivot _,
    "q27_returnflag_unpivot" -> q27ReturnflagUnpivot _,
    "q28_price_qty_stats" -> q28PriceQtyStats _,
  )

  /** name → DuckDB oracle (q12 sampling is engine-specific → rows-only). */
  val oracles: Map[String, String] = Map(
    "p01_priority_sample" -> p01Sql,
    "q26_returnflag_pivot" -> q26Sql,
    "q27_returnflag_unpivot" -> q27Sql,
    "q28_price_qty_stats" -> q28Sql,
    "q01_pricing_summary"    -> q01Sql,
    "q02_parttype_revenue"   -> q02Sql,
    "q03_supplier_metrics"   -> q03Sql,
    "q04_yearly_trend"       -> q04Sql,
    "q05_price_buckets"      -> q05Sql,
    "q06_top_supplier_hits"  -> q06Sql,
    "q07_flag_price_stats"   -> q07Sql,
    "q08_customer_order_stats" -> q08Sql,
    "q09_order_width_perf"   -> q09Sql,
    "q10_month_distribution" -> q10Sql,
    "q11_priority_distribution" -> q11Sql,
    "q13_supplier_pareto"    -> q13Sql,
    "q14_segment_revenue"    -> q14Sql,
    "q15_customer_order_value" -> q15Sql,
    "q16_yearly_avg_price"   -> q16Sql,
    "q17_yearly_avg_quantity" -> q17Sql,
    "e1_customer_profile"    -> e1Sql,
    "e2_nation_summary"      -> e2Sql,
    "e3_nation_index"        -> e3Sql,
    "q18_customer_set_ops"  -> q18Sql,
    "q19_rollup_revenue"    -> q19Sql,
    "q32_cube_revenue"      -> q32Sql,
    "q33_salted_flag_stats" -> q33Sql,
    "q34_salted_brand_revenue" -> q34Sql,
    "q35_grouping_sets_revenue" -> q35Sql,
    "q36_order_value_quartiles" -> q36Sql,
    "q37_above_nation_avg"  -> q37Sql,
    "q38_bom_rollup"        -> q38Sql,
    "q20_region_year_revenue" -> q20Sql,
    "q21_customers_with_orders" -> q21Sql,
    "q22_customers_without_orders" -> q22Sql,
    "q23_supplier_part_breadth" -> q23Sql,
    "q24_top_brands_per_flag" -> q24Sql,
  )
}
