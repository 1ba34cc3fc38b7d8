package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType}

import graft.sources.GamesSource

/** The reference's games-table catalog, quirks included — every query
  * from /root/reference/spark_eda.py §2.1 (SURVEY.md) plus the stage-3
  * ETL frames, re-expressed in Scala over the games-shaped derivation
  * of the driver's `part` table ([[GamesSource.deriveFromPart]]), which
  * makes each one DuckDB-oracle-checkable.
  *
  * Bug-compatibility contract (SURVEY.md §1.4/§1.5/§7.4 — preserved
  * deliberately, with the reference line cited per query):
  *  - Genres are exploded; Developers are grouped as the whole cleaned
  *    string (the `Ltd.` pseudo-developer artifact survives).
  *  - Year range filters compare STRINGS before casting int.
  *  - Bucket when-chains order-evaluate; NULLs fall into `otherwise`.
  *  - revenue is float32 arithmetic (price float × owners int).
  * Deviations (documented): limits get a total-order tiebreaker so the
  * cut is deterministic; float sums go through the DECIMAL(18,4)
  * convention (cross-engine/partition-order proof — see StarQueries);
  * year cast uses try_cast (ANSI-safe; the reference ran non-ANSI 3.5
  * where a junk year became NULL instead of an error).
  */
object GameAnalytics {

  // determinism convention: one shared owner (graft.functions.DecimalSums)
  import graft.functions.DecimalSums.{dec, decSum, dsum, davg, sqlDsum, sqlDavg}
  private val D = graft.functions.DecimalSums.D

  private def games(spark: SparkSession, dir: String): DataFrame =
    GamesSource.cachedGames(spark, dir)

  private val rev = GamesSource.sqlRevenue
  private val cte = GamesSource.oracleCte

  /** Two-step strip used by the EDA queries (spark_eda.py:73,101):
    * quotes first, then brackets. */
  private def strip2(c: Column): Column =
    regexp_replace(regexp_replace(c, "'", ""), "\\[|\\]", "")
  private def sqlStrip2(e: String): String =
    s"regexp_replace(regexp_replace($e, '''', '', 'g'), '\\[|\\]', '', 'g')"

  /** Exploded-genre frame (spark_eda.py:70-75 shape). */
  def genresExploded(g: DataFrame): DataFrame =
    g.withColumn("Genre", explode(split(strip2(col("Genres")), ",")))
      .withColumn("Genre", trim(col("Genre")))

  private val sqlGenresExploded =
    s"""games CROSS JOIN LATERAL (
       |    SELECT trim(t.g) AS Genre
       |    FROM (SELECT unnest(string_split(${sqlStrip2("Genres")}, ',')) AS g) t) ge""".stripMargin

  /** Whole-string developer key — NO explode (spark_eda.py:101,202). */
  private def devKey: Column = trim(strip2(col("Developers")))
  private val sqlDevKey = s"trim(${sqlStrip2("Developers")})"

  // ---------------------------------------------------------------------------
  // g01 — genre revenue top-15 (Q1, spark_eda.py:70-90)
  // ---------------------------------------------------------------------------
  def g01GenreRevenue(spark: SparkSession, dir: String): DataFrame =
    g01(games(spark, dir))

  def g01(g: DataFrame): DataFrame =
    genresExploded(g)
      .filter(col("Genre") =!= "" && col("Genre").isNotNull && col("revenue").isNotNull)
      .groupBy(col("Genre"))
      .agg(dsum(col("revenue")).as("total_revenue"),
        count(lit(1)).as("game_count"))
      .orderBy(col("total_revenue").desc, col("Genre"))
      .limit(15)

  val g01Sql: String =
    s"""$cte
       |SELECT Genre, ${sqlDsum(rev)} AS total_revenue, COUNT(*) AS game_count
       |FROM $sqlGenresExploded
       |WHERE Genre <> '' AND Genre IS NOT NULL AND $rev IS NOT NULL
       |GROUP BY Genre
       |ORDER BY total_revenue DESC, Genre
       |LIMIT 15""".stripMargin

  // ---------------------------------------------------------------------------
  // g02 — developer metrics top-15 (Q2, spark_eda.py:97-117; §1.4: the
  // whole cleaned string is the key, so ['Ltd.'] groups as 'Ltd.')
  // ---------------------------------------------------------------------------
  def g02DevMetrics(spark: SparkSession, dir: String): DataFrame =
    g02(games(spark, dir))

  def g02(g: DataFrame): DataFrame =
    g.withColumn("Developer", devKey)
      .filter(col("Developer") =!= "" && col("Developer").isNotNull)
      .groupBy(col("Developer"))
      .agg(
        dsum(col("revenue")).as("total_revenue"),
        sum(col("avg_owners")).as("total_owners"),
        count(lit(1)).as("game_count"))
      .orderBy(col("total_revenue").desc_nulls_last, col("Developer"))
      .limit(15)

  val g02Sql: String =
    s"""$cte
       |SELECT $sqlDevKey AS Developer,
       |  ${sqlDsum(rev)} AS total_revenue,
       |  CAST(SUM(avg_owners) AS BIGINT) AS total_owners,
       |  COUNT(*) AS game_count
       |FROM games
       |WHERE $sqlDevKey <> '' AND $sqlDevKey IS NOT NULL
       |GROUP BY Developer
       |ORDER BY total_revenue DESC NULLS LAST, Developer
       |LIMIT 15""".stripMargin

  // ---------------------------------------------------------------------------
  // g03 — yearly trend (Q3, spark_eda.py:124-148: STRING-compared year
  // range, int cast after; avg_price pushed into the agg instead of the
  // reference's driver-side division)
  // ---------------------------------------------------------------------------
  def g03YearlyTrend(spark: SparkSession, dir: String): DataFrame =
    games(spark, dir)
      .select(substring(col("release_date"), 1, 4).as("Year"),
        col("revenue"), col("clean_price"))
      .filter(col("Year").isNotNull && col("Year") >= "2000" &&
        col("Year") <= "2024" && col("revenue").isNotNull)
      .withColumn("Year", expr("try_cast(Year AS INT)"))
      .groupBy(col("Year"))
      .agg(
        dsum(col("revenue")).as("total_revenue"),
        dsum(col("clean_price")).as("total_price"),
        count(lit(1)).as("game_count"))
      .withColumn("avg_price",
        col("total_price") / col("game_count").cast(DoubleType))
      .orderBy(col("Year"))

  val g03Sql: String =
    s"""$cte
       |SELECT TRY_CAST(Year AS INT) AS Year,
       |  ${sqlDsum(rev)} AS total_revenue,
       |  ${sqlDsum("clean_price")} AS total_price,
       |  COUNT(*) AS game_count,
       |  ${sqlDsum("clean_price")} / CAST(COUNT(*) AS DOUBLE) AS avg_price
       |FROM (SELECT substring(release_date, 1, 4) AS Year, clean_price,
       |             avg_owners FROM games) g
       |WHERE Year IS NOT NULL AND Year >= '2000' AND Year <= '2024'
       |  AND $rev IS NOT NULL
       |GROUP BY 1
       |ORDER BY Year""".stripMargin

  // ---------------------------------------------------------------------------
  // g04 — price bucket → avg owners (Q4, spark_eda.py:156-180: ordered
  // when-chain, 免费 label, lexicographic output order)
  // ---------------------------------------------------------------------------
  private def priceBucket: Column =
    when(col("clean_price") === 0, "免费")
      .when(col("clean_price") < 5, "$0-5")
      .when(col("clean_price") < 10, "$5-10")
      .when(col("clean_price") < 20, "$10-20")
      .when(col("clean_price") < 40, "$20-40")
      .otherwise("$40+")

  private val sqlPriceBucket =
    """CASE WHEN clean_price = 0 THEN '免费'
      |     WHEN clean_price < 5 THEN '$0-5'
      |     WHEN clean_price < 10 THEN '$5-10'
      |     WHEN clean_price < 20 THEN '$10-20'
      |     WHEN clean_price < 40 THEN '$20-40'
      |     ELSE '$40+' END""".stripMargin

  def g04PriceOwnerBuckets(spark: SparkSession, dir: String): DataFrame =
    g04(games(spark, dir))

  def g04(g: DataFrame): DataFrame =
    g.withColumn("price_category", priceBucket)
      .filter(col("avg_owners").isNotNull)
      .groupBy(col("price_category"))
      .agg(davg(col("avg_owners")).as("avg_owners"),
        count(lit(1)).as("game_count"))
      .orderBy(col("price_category"))

  val g04Sql: String =
    s"""$cte
       |SELECT $sqlPriceBucket AS price_category,
       |  ${sqlDavg("avg_owners")} AS avg_owners,
       |  COUNT(*) AS game_count
       |FROM games
       |WHERE avg_owners IS NOT NULL
       |GROUP BY 1
       |ORDER BY price_category""".stripMargin

  // ---------------------------------------------------------------------------
  // g05 — top developer's hit games (Q5+Q6, spark_eda.py:194-229: the
  // reference first()s the winner to the driver; here a rank-1 filter
  // keeps it one distributed plan)
  // ---------------------------------------------------------------------------
  def g05TopDevHits(spark: SparkSession, dir: String): DataFrame = {
    val withDev = games(spark, dir).withColumn("Developer", devKey)
      .filter(col("Developer") =!= "" && col("Developer").isNotNull)
    // rank-1 as orderBy().limit(1): plans as TakeOrderedAndProject
    // instead of an unpartitioned row_number window (round-1 weak plan)
    val top = withDev.groupBy(col("Developer"))
      .agg(decSum(col("revenue")).as("rev_dec"))
      .orderBy(col("rev_dec").desc_nulls_last, col("Developer"))
      .limit(1)
      .select(col("Developer").as("top_dev"))
    withDev.join(broadcast(top), col("Developer") === col("top_dev"))
      .select(col("Developer"), col("Name"), col("Genres"),
        dec(col("revenue")).cast(DoubleType).as("revenue"),
        col("avg_owners"), col("clean_price"))
      .orderBy(col("revenue").desc_nulls_last, col("Name"), col("avg_owners"))
      .limit(10)
  }

  val g05Sql: String =
    s"""$cte, with_dev AS (
       |  SELECT $sqlDevKey AS Developer, Name, Genres,
       |         CAST(CAST(CAST($rev AS DOUBLE) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
       |         avg_owners, clean_price
       |  FROM games
       |  WHERE $sqlDevKey <> '' AND $sqlDevKey IS NOT NULL),
       |top AS (
       |  SELECT Developer AS top_dev FROM with_dev
       |  GROUP BY Developer
       |  ORDER BY SUM(CAST(CAST(revenue AS DOUBLE) AS DECIMAL(18,4))) DESC NULLS LAST, Developer
       |  LIMIT 1)
       |SELECT Developer, Name, Genres, revenue, avg_owners, clean_price
       |FROM with_dev JOIN top ON Developer = top_dev
       |ORDER BY revenue DESC NULLS LAST, Name, avg_owners
       |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------------------
  // g06 — genre price stats, SQL entry path (Q7, spark_eda.py:235-265).
  // Exact percentile instead of PERCENTILE_APPROX so the DuckDB
  // quantile_cont oracle is bit-comparable (SURVEY.md §7.4 risk 4).
  // ---------------------------------------------------------------------------
  def g06GenrePriceStats(spark: SparkSession, dir: String): DataFrame = {
    genresExploded(games(spark, dir))
      .filter(col("Genre") =!= "" && col("Genre").isNotNull && col("clean_price").isNotNull)
      .select(col("Genre"), col("clean_price"))
      .createOrReplaceTempView("graft_games_genres")
    spark.sql(
      s"""SELECT Genre,
         |  COUNT(*) AS game_count,
         |  ${sqlDavg("clean_price")} AS avg_price,
         |  CAST(percentile(clean_price, 0.5) AS DOUBLE) AS median_price,
         |  MIN(clean_price) AS min_price,
         |  MAX(clean_price) AS max_price
         |FROM graft_games_genres
         |WHERE Genre IS NOT NULL AND Genre != ''
         |GROUP BY Genre
         |HAVING COUNT(*) >= 10
         |ORDER BY avg_price DESC, Genre
         |LIMIT 20""".stripMargin)
  }

  val g06Sql: String =
    s"""$cte
       |SELECT Genre,
       |  COUNT(*) AS game_count,
       |  ${sqlDavg("clean_price")} AS avg_price,
       |  CAST(quantile_cont(clean_price, 0.5) AS DOUBLE) AS median_price,
       |  MIN(clean_price) AS min_price,
       |  MAX(clean_price) AS max_price
       |FROM $sqlGenresExploded
       |WHERE Genre IS NOT NULL AND Genre <> '' AND clean_price IS NOT NULL
       |GROUP BY Genre
       |HAVING COUNT(*) >= 10
       |ORDER BY avg_price DESC, Genre
       |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------------
  // g07 — developer game-count distribution, SQL FROM-subquery (Q8,
  // spark_eda.py:271-298)
  // ---------------------------------------------------------------------------
  def g07DevGameDist(spark: SparkSession, dir: String): DataFrame = {
    games(spark, dir).createOrReplaceTempView("graft_games_temp")
    spark.sql(
      s"""SELECT Developer,
         |  COUNT(*) AS game_count,
         |  ${sqlDsum("revenue")} AS total_revenue,
         |  ${sqlDavg("revenue")} AS avg_revenue_per_game
         |FROM (
         |  SELECT AppID, Name,
         |         trim(regexp_replace(regexp_replace(Developers, "'", ""), "\\\\[|\\\\]", "")) AS Developer,
         |         revenue
         |  FROM graft_games_temp
         |  WHERE Developers IS NOT NULL
         |    AND trim(regexp_replace(regexp_replace(Developers, "'", ""), "\\\\[|\\\\]", "")) != ''
         |) t2
         |GROUP BY Developer
         |HAVING COUNT(*) >= 3
         |ORDER BY game_count DESC, Developer
         |LIMIT 20""".stripMargin)
  }

  val g07Sql: String =
    s"""$cte
       |SELECT $sqlDevKey AS Developer,
       |  COUNT(*) AS game_count,
       |  ${sqlDsum(rev)} AS total_revenue,
       |  ${sqlDavg(rev)} AS avg_revenue_per_game
       |FROM games
       |WHERE Developers IS NOT NULL AND $sqlDevKey <> ''
       |GROUP BY Developer
       |HAVING COUNT(*) >= 3
       |ORDER BY game_count DESC, Developer
       |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------------
  // g08 — multi-genre performance (Q9, spark_eda.py:304-324: contains
  // ',' tested on the RAW string; count via size(split(cleaned)))
  // ---------------------------------------------------------------------------
  def g08MultiGenrePerf(spark: SparkSession, dir: String): DataFrame =
    games(spark, dir)
      .filter(col("Genres").isNotNull)
      .withColumn("genre_count",
        when(col("Genres").contains(","),
          size(split(strip2(col("Genres")), ","))).otherwise(1))
      .filter(col("genre_count") > 1)
      .groupBy(col("genre_count"))
      .agg(
        count(lit(1)).as("game_count"),
        davg(col("revenue")).as("avg_revenue"),
        davg(col("clean_price")).as("avg_price"),
        davg(col("avg_owners")).as("avg_owners"))
      .orderBy(col("genre_count"))

  val g08Sql: String =
    s"""$cte
       |SELECT genre_count, COUNT(*) AS game_count,
       |  ${sqlDavg("revenue")} AS avg_revenue,
       |  ${sqlDavg("clean_price")} AS avg_price,
       |  ${sqlDavg("avg_owners")} AS avg_owners
       |FROM (
       |  SELECT CAST(CASE WHEN position(',' IN Genres) > 0
       |              THEN len(string_split(${sqlStrip2("Genres")}, ','))
       |              ELSE 1 END AS INTEGER) AS genre_count,
       |         $rev AS revenue, clean_price, avg_owners
       |  FROM games WHERE Genres IS NOT NULL) t
       |WHERE genre_count > 1
       |GROUP BY genre_count
       |ORDER BY genre_count""".stripMargin

  // ---------------------------------------------------------------------------
  // g09 — release-month distribution (Q10, spark_eda.py:465-476; the
  // malformed date's month slice '6-' flows through — quirk preserved)
  // ---------------------------------------------------------------------------
  def g09MonthDistribution(spark: SparkSession, dir: String): DataFrame =
    g09(games(spark, dir))

  def g09(g: DataFrame): DataFrame =
    g.select(substring(col("release_date"), 6, 2).as("Month"))
      .filter(col("Month").isNotNull && col("Month") =!= "")
      .groupBy(col("Month"))
      .agg(count(lit(1)).as("game_count"))
      .orderBy(col("Month"))

  val g09Sql: String =
    s"""$cte
       |SELECT substring(release_date, 6, 2) AS Month, COUNT(*) AS game_count
       |FROM games
       |WHERE substring(release_date, 6, 2) IS NOT NULL
       |  AND substring(release_date, 6, 2) <> ''
       |GROUP BY 1
       |ORDER BY Month""".stripMargin

  // ---------------------------------------------------------------------------
  // g10 — owners-range counts (fig 3.3, spark_eda.py:496-510: NO null
  // filter — NULL owners fall into the otherwise bucket '200万+')
  // ---------------------------------------------------------------------------
  def g10OwnersRanges(spark: SparkSession, dir: String): DataFrame =
    games(spark, dir)
      .select(
        when(col("avg_owners") < 10000, "0-1万")
          .when(col("avg_owners") < 50000, "1-5万")
          .when(col("avg_owners") < 150000, "5-15万")
          .when(col("avg_owners") < 500000, "15-50万")
          .when(col("avg_owners") < 2000000, "50-200万")
          .otherwise("200万+").as("owners_range"))
      .groupBy(col("owners_range"))
      .agg(count(lit(1)).as("game_count"))
      .orderBy(col("owners_range"))

  val g10Sql: String =
    s"""$cte
       |SELECT CASE WHEN avg_owners < 10000 THEN '0-1万'
       |            WHEN avg_owners < 50000 THEN '1-5万'
       |            WHEN avg_owners < 150000 THEN '5-15万'
       |            WHEN avg_owners < 500000 THEN '15-50万'
       |            WHEN avg_owners < 2000000 THEN '50-200万'
       |            ELSE '200万+' END AS owners_range,
       |  COUNT(*) AS game_count
       |FROM games
       |GROUP BY 1
       |ORDER BY owners_range""".stripMargin

  // ---------------------------------------------------------------------------
  // g11 — genre-combo revenue (fig 4.2 / Q15, spark_eda.py:589-605: the
  // UN-exploded cleaned string is the key, untrimmed; NULL keys group)
  // ---------------------------------------------------------------------------
  def g11GenreCombos(spark: SparkSession, dir: String): DataFrame =
    games(spark, dir)
      .withColumn("genres_clean", strip2(col("Genres")))
      .groupBy(col("genres_clean"))
      .agg(dsum(col("revenue")).as("total_revenue"),
        count(lit(1)).as("game_count"))
      .orderBy(col("total_revenue").desc_nulls_last, col("genres_clean"))
      .limit(10)

  val g11Sql: String =
    s"""$cte
       |SELECT ${sqlStrip2("Genres")} AS genres_clean,
       |  ${sqlDsum(rev)} AS total_revenue,
       |  COUNT(*) AS game_count
       |FROM games
       |GROUP BY 1
       |ORDER BY total_revenue DESC NULLS LAST, genres_clean
       |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------------------
  // g12 — dev avg revenue per game (fig 4.3 / Q16, spark_eda.py:608-613)
  // ---------------------------------------------------------------------------
  def g12DevAvgRevenue(spark: SparkSession, dir: String): DataFrame =
    games(spark, dir)
      .withColumn("Developer", devKey)
      .filter(col("Developer") =!= "" && col("Developer").isNotNull)
      .groupBy(col("Developer"))
      .agg(dsum(col("revenue")).as("total_revenue"),
        count(lit(1)).as("game_count"))
      .withColumn("avg_revenue_per_game",
        col("total_revenue") / col("game_count").cast(DoubleType))
      .orderBy(col("total_revenue").desc_nulls_last, col("Developer"))
      .limit(100)

  val g12Sql: String =
    s"""$cte
       |SELECT $sqlDevKey AS Developer,
       |  ${sqlDsum(rev)} AS total_revenue,
       |  COUNT(*) AS game_count,
       |  ${sqlDsum(rev)} / CAST(COUNT(*) AS DOUBLE) AS avg_revenue_per_game
       |FROM games
       |WHERE $sqlDevKey <> '' AND $sqlDevKey IS NOT NULL
       |GROUP BY Developer
       |ORDER BY total_revenue DESC NULLS LAST, Developer
       |LIMIT 100""".stripMargin

  // ---------------------------------------------------------------------------
  // g13 — revenue concentration of the top-50 devs (fig 4.1 / Q14,
  // spark_eda.py:567-578: the reference's driver-side cumulative loop
  // becomes a proper window cumsum; share of the GLOBAL revenue total)
  // ---------------------------------------------------------------------------
  def g13DevPareto(spark: SparkSession, dir: String): DataFrame = {
    val g = games(spark, dir)
    val byDev = g.withColumn("Developer", devKey)
      .filter(col("Developer") =!= "" && col("Developer").isNotNull)
      .groupBy(col("Developer"))
      .agg(decSum(col("revenue")).as("rev_dec"))
    val globalTotal = g.agg(decSum(col("revenue")).as("tot_dec"))
    // developer cardinality grows with the data → no unpartitioned
    // window; two-phase cumsum + rank (see Cumulative), then keep top-50
    Cumulative.withCumsumAndRank(byDev,
        Seq(col("rev_dec").desc_nulls_last, col("Developer")), col("rev_dec"),
        cumName = "cum_dec", rankName = "rk")
      .filter(col("rk") <= 50)
      .crossJoin(broadcast(globalTotal))
      .select(
        col("rk").as("top_rank"),
        col("Developer"),
        col("rev_dec").cast(DoubleType).as("total_revenue"),
        (col("cum_dec").cast(DoubleType) / col("tot_dec").cast(DoubleType) * 100.0)
          .as("cum_percent"))
      .orderBy(col("top_rank"))
  }

  val g13Sql: String =
    s"""$cte, by_dev AS (
       |  SELECT $sqlDevKey AS Developer,
       |         SUM(CAST(CAST($rev AS DOUBLE) AS DECIMAL(18,4))) AS rev_dec
       |  FROM games
       |  WHERE $sqlDevKey <> '' AND $sqlDevKey IS NOT NULL
       |  GROUP BY 1),
       |tot AS (SELECT SUM(CAST(CAST($rev AS DOUBLE) AS DECIMAL(18,4))) AS tot_dec FROM games),
       |ranked AS (
       |  SELECT Developer, rev_dec,
       |    ROW_NUMBER() OVER (ORDER BY rev_dec DESC NULLS LAST, Developer) AS rk,
       |    SUM(rev_dec) OVER (ORDER BY rev_dec DESC NULLS LAST, Developer
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_dec
       |  FROM by_dev)
       |SELECT CAST(rk AS INT) AS top_rank, Developer,
       |  CAST(rev_dec AS DOUBLE) AS total_revenue,
       |  CAST(cum_dec AS DOUBLE) / CAST(tot_dec AS DOUBLE) * 100.0 AS cum_percent
       |FROM ranked, tot
       |WHERE rk <= 50
       |ORDER BY top_rank""".stripMargin

  // ---------------------------------------------------------------------------
  // g14 — yearly avg price (fig 5.2 / Q17, spark_eda.py:670-676: Q3's
  // filtered frame, avg only)
  // ---------------------------------------------------------------------------
  def g14YearlyAvgPrice(spark: SparkSession, dir: String): DataFrame =
    games(spark, dir)
      .select(substring(col("release_date"), 1, 4).as("Year"), col("clean_price"),
        col("revenue"))
      .filter(col("Year").isNotNull && col("Year") >= "2000" &&
        col("Year") <= "2024" && col("revenue").isNotNull)
      .withColumn("Year", expr("try_cast(Year AS INT)"))
      .groupBy(col("Year"))
      .agg(davg(col("clean_price")).as("avg_price"))
      .orderBy(col("Year"))

  val g14Sql: String =
    s"""$cte
       |SELECT TRY_CAST(Year AS INT) AS Year,
       |  ${sqlDavg("clean_price")} AS avg_price
       |FROM (SELECT substring(release_date, 1, 4) AS Year, clean_price,
       |             $rev AS revenue FROM games) g
       |WHERE Year IS NOT NULL AND Year >= '2000' AND Year <= '2024'
       |  AND revenue IS NOT NULL
       |GROUP BY 1
       |ORDER BY Year""".stripMargin

  // ---------------------------------------------------------------------------
  // g15 — yearly avg owners (fig 5.4 / Q18, spark_eda.py:684-700:
  // filters on OWNERS not revenue — a different frame than g14)
  // ---------------------------------------------------------------------------
  def g15YearlyAvgOwners(spark: SparkSession, dir: String): DataFrame =
    games(spark, dir)
      .select(substring(col("release_date"), 1, 4).as("Year"), col("avg_owners"))
      .filter(col("Year").isNotNull && col("Year") >= "2000" &&
        col("Year") <= "2024" && col("avg_owners").isNotNull)
      .withColumn("Year", expr("try_cast(Year AS INT)"))
      .groupBy(col("Year"))
      .agg(davg(col("avg_owners")).as("avg_owners"))
      .orderBy(col("Year"))

  val g15Sql: String =
    s"""$cte
       |SELECT TRY_CAST(Year AS INT) AS Year,
       |  ${sqlDavg("avg_owners")} AS avg_owners
       |FROM (SELECT substring(release_date, 1, 4) AS Year, avg_owners
       |      FROM games) g
       |WHERE Year IS NOT NULL AND Year >= '2000' AND Year <= '2024'
       |  AND avg_owners IS NOT NULL
       |GROUP BY 1
       |ORDER BY Year""".stripMargin

  // ---------------------------------------------------------------------------
  // g16 — game_profile ETL (E1, stage3.ipynb cell 2: single-regex clean,
  // reverse-AppID rowkey for storage anti-hotspotting, 7-col projection)
  // ---------------------------------------------------------------------------
  private def strip1(c: Column): Column = regexp_replace(c, "[\\[\\]']", "")
  private def sqlStrip1(e: String): String =
    s"regexp_replace($e, '[\\[\\]'']', '', 'g')"

  def g16GameProfile(spark: SparkSession, dir: String): DataFrame =
    g16(games(spark, dir))

  def g16(g: DataFrame): DataFrame =
    g.withColumn("clean_dev", strip1(col("Developers")))
      .withColumn("clean_genre", strip1(col("Genres")))
      .withColumn("rowkey", reverse(col("AppID").cast("string")))
      .select(col("rowkey"), col("Name"), col("clean_dev"), col("clean_genre"),
        col("release_date"), col("clean_price"), col("avg_owners"))
      .orderBy(col("rowkey"))

  val g16Sql: String =
    s"""$cte
       |SELECT reverse(CAST(AppID AS VARCHAR)) AS rowkey, Name,
       |  ${sqlStrip1("Developers")} AS clean_dev,
       |  ${sqlStrip1("Genres")} AS clean_genre,
       |  release_date, clean_price, avg_owners
       |FROM games
       |ORDER BY rowkey""".stripMargin

  // ---------------------------------------------------------------------------
  // g17 — dev_analytics summary ETL (E2, stage3.ipynb cell 2: no trim,
  // no filter — and round(avg, 2))
  // ---------------------------------------------------------------------------
  def g17DevAnalytics(spark: SparkSession, dir: String): DataFrame =
    games(spark, dir)
      .withColumn("clean_dev", strip1(col("Developers")))
      .groupBy(col("clean_dev"))
      .agg(
        count(col("AppID")).as("game_count"),
        sum(col("avg_owners")).as("total_owners"),
        round(davg(col("clean_price")), 2).as("avg_price"))
      .orderBy(col("clean_dev"))

  val g17Sql: String =
    s"""$cte
       |SELECT ${sqlStrip1("Developers")} AS clean_dev,
       |  COUNT(AppID) AS game_count,
       |  CAST(SUM(avg_owners) AS BIGINT) AS total_owners,
       |  ROUND(${sqlDavg("clean_price")}, 2) AS avg_price
       |FROM games
       |GROUP BY 1
       |ORDER BY clean_dev""".stripMargin

  // ---------------------------------------------------------------------------
  // g18 — product_list inverted index (E3, stage3.ipynb cell 3 +
  // stage3.md:64-67: the per-developer {AppID → Name} wide-column map,
  // denormalized so the serving layer never joins; top-20 devs by
  // total_owners). Map rendered as a sorted CSV so DuckDB can compare.
  // ---------------------------------------------------------------------------
  def g18ProductList(spark: SparkSession, dir: String): DataFrame =
    games(spark, dir)
      .withColumn("clean_dev", strip1(col("Developers")))
      .groupBy(col("clean_dev"))
      .agg(
        sum(col("avg_owners")).as("total_owners"),
        array_join(sort_array(collect_list(
          concat(col("AppID").cast("string"), lit(":"), col("Name")))), ",")
          .as("product_list"))
      .orderBy(col("total_owners").desc_nulls_last,
        col("clean_dev").asc_nulls_last)
      .limit(20)

  val g18Sql: String =
    s"""$cte
       |SELECT ${sqlStrip1("Developers")} AS clean_dev,
       |  CAST(SUM(avg_owners) AS BIGINT) AS total_owners,
       |  string_agg(AppID || ':' || Name, ',' ORDER BY AppID || ':' || Name)
       |    AS product_list
       |FROM games
       |GROUP BY 1
       |ORDER BY total_owners DESC NULLS LAST, clean_dev NULLS LAST
       |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------------
  // g19 — price-range counts (fig 3.2, spark_eda.py:479-493: the same
  // ordered when-chain as g04 but COUNT-only and with NO null filter —
  // a NULL clean_price falls through every comparison into '$40+')
  // ---------------------------------------------------------------------------
  def g19PriceRanges(spark: SparkSession, dir: String): DataFrame =
    games(spark, dir)
      .select(priceBucket.as("price_range"))
      .groupBy(col("price_range"))
      .agg(count(lit(1)).as("game_count"))
      .orderBy(col("price_range"))

  val g19Sql: String =
    s"""$cte
       |SELECT $sqlPriceBucket AS price_range,
       |  COUNT(*) AS game_count
       |FROM games
       |GROUP BY 1
       |ORDER BY price_range""".stripMargin

  // ---------------------------------------------------------------------------
  // g20 — price/revenue scatter sample (fig 3.4, spark_eda.py:513-520;
  // the reference sampled UNseeded — seed pinned to 42 as in q12).
  // Sampling is engine-specific → rows-only gate.
  // ---------------------------------------------------------------------------
  def g20SampleScatter(spark: SparkSession, dir: String): DataFrame =
    games(spark, dir)
      .filter(col("clean_price") > 0 && col("revenue") > 0)
      .sample(withReplacement = false, fraction = 0.1, seed = 42L)
      .select(col("AppID"), col("clean_price"), col("revenue"))
      // total order directly under the cut (plans as
      // TakeOrderedAndProject): without it the kept 5000 is an
      // arbitrary partition prefix that shifts with parallelism
      .orderBy(col("AppID"))
      .limit(5000)
      .select(col("clean_price"), col("revenue"))

  // ---------------------------------------------------------------------------
  // g21 — genre median via PERCENTILE_APPROX, the reference's actual
  // aggregate (spark_eda.py:250). The sketch is engine-specific → rows-
  // only gate; |approx − exact| tolerance vs g06's exact median is
  // pinned in GamesSpec.
  // ---------------------------------------------------------------------------
  def g21GenreApproxMedian(spark: SparkSession, dir: String): DataFrame =
    genresExploded(games(spark, dir))
      .filter(col("Genre") =!= "" && col("Genre").isNotNull && col("clean_price").isNotNull)
      .groupBy(col("Genre"))
      .agg(
        percentile_approx(col("clean_price"), lit(0.5), lit(10000))
          .cast(DoubleType).as("approx_median_price"),
        count(lit(1)).as("game_count"))
      .orderBy(col("Genre"))

  // ---------------------------------------------------------------------------
  // g22 — the PRODUCTION CSV ingest path under the gate: readCsv + clean
  // (reference spark_eda.py:42-49) over the checked-in quirk fixture
  // (quoted commas, doubled-quote escapes, empty→NULL fields, a short
  // corrupt row). Spark excludes the corrupt-captured row; the DuckDB
  // oracle reads the same file with ignore_errors, which rejects the
  // same short row. Corrupt-capture itself is pinned in GamesSpec.
  // ---------------------------------------------------------------------------
  def g22CsvIngest(spark: SparkSession, dir: String): DataFrame = {
    val path = GamesSource.ensureFixture()
    // cache before filtering on _corrupt_record: Spark's CSV parser only
    // parses the columns a query needs, so on the lazy reader a
    // malformed-row predicate can silently see NULL (documented Spark
    // CSV semantics — same pattern as the ingest unit test)
    GamesSource.clean(GamesSource.readCsv(spark, path)).cache()
      .filter(col("_corrupt_record").isNull)
      .select(col("AppID"), col("Name"), col("release_date"),
        col("clean_price"), col("avg_owners"), col("Developers"),
        col("Genres"), col("revenue"))
      .orderBy(col("AppID"))
  }

  val g22Sql: String =
    s"""WITH raw AS (
       |  SELECT CAST(AppID AS INT) AS AppID, Name, release_date,
       |         CAST(clean_price AS FLOAT) AS clean_price,
       |         CAST(avg_owners AS INT) AS avg_owners,
       |         Developers, Genres
       |  FROM read_csv('${GamesSource.fixtureTmpPath}',
       |                header=true, all_varchar=true, ignore_errors=true))
       |SELECT AppID, Name, release_date, clean_price, avg_owners,
       |       Developers, Genres,
       |       CAST(clean_price * avg_owners AS FLOAT) AS revenue
       |FROM raw
       |ORDER BY AppID""".stripMargin

  // ---------------------------------------------------------------------------
  // g23 — the SAME ingest through the custom DataSource V2 connector
  // (`graft.sources.GamesCsvSource`: hand-built parser, byte-range
  // splits, column pruning, AppID filter pushdown), hash-gated against
  // the SAME oracle as g22: three independent readers — the builtin
  // PERMISSIVE CSV reader, DuckDB's read_csv, and our connector — must
  // agree byte-for-byte on the quirk fixture (quoted commas, doubled
  // quotes, empty→NULL, the short corrupt row dropped).
  // ---------------------------------------------------------------------------
  def g23Dsv2Ingest(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.GamesSource.ensureFixture()
    graft.sources.GamesSource.clean(
        spark.read.format("games-csv").load(path))
      .select(col("AppID"), col("Name"), col("release_date"),
        col("clean_price"), col("avg_owners"), col("Developers"),
        col("Genres"), col("revenue"))
      .orderBy(col("AppID"))
  }

  // ---------------------------------------------------------------------------
  // g24 — the DSv2 WRITE ladder, proven by ROUND TRIP: the fixture read
  // through the custom connector, written back out through its
  // staging-commit CSV sink (repartitioned, so the driver commit
  // assembles MULTIPLE task part files), read again through the
  // connector, and cleaned — must hash-match the SAME DuckDB oracle as
  // g22 reading the original file. Quoting normalization (the sink only
  // quotes fields that need it) is invisible to the gate because the
  // grammar round-trips: csvField is parseLine's exact inverse.
  // ---------------------------------------------------------------------------
  def g24Dsv2Roundtrip(spark: SparkSession, dir: String): DataFrame = {
    val src = graft.sources.GamesSource.ensureFixture()
    val base = java.nio.file.Files.createTempDirectory("graft_g24")
    val rt = base.resolve("games_rt.csv").toString
    try {
      spark.read.format("games-csv").load(src)
        .repartition(3, col("AppID"))
        .write.format("games-csv").mode("overwrite").save(rt)
      graft.sources.GamesSource.clean(
          spark.read.format("games-csv").load(rt))
        .select(col("AppID"), col("Name"), col("release_date"),
          col("clean_price"), col("avg_owners"), col("Developers"),
          col("Genres"), col("revenue"))
        .orderBy(col("AppID"))
        .localCheckpoint() // materialize before the temp file is deleted
    } finally {
      new scala.reflect.io.Directory(base.toFile).deleteRecursively()
      ()
    }
  }

  // ---------------------------------------------------------------------------
  // g25 — the reference's HBase LOAD step ITSELF (stage3.ipynb cell 3):
  // the reference never uses an HBase client — it renders collected
  // rows into a batch_put_step4.txt of HBase-shell `put` commands and
  // pipes the file through `hbase shell`. g25 regenerates that command
  // stream as a (seq, cmd) frame, every line hash-gated: section 1 =
  // game_profile (50 rows × 5 puts, cell-3 column order, Name/dev
  // quote-stripped but genres NOT — reference quirk preserved),
  // section 2 = dev_analytics summaries (top-20 by total_owners, 2
  // puts, rowkey = dev with quotes stripped and spaces → '_'),
  // section 3 = the product_list inverted index (50 rows, column
  // qualifier = AppID, value = quote-stripped Name). Deliberate
  // divergences, both forced: the reference's `.limit(n).collect()`
  // is partition-order-arbitrary — every section here takes the same
  // n rows under a TOTAL order (rowkey / owners-desc-then-dev /
  // AppID; the every-LIMIT-needs-a-tiebreaker rule) — and numeric
  // values render through engine-stable casts (float→double→
  // decimal(10,2) for price, BIGINT for owners) instead of Python's
  // str(float). NULL values render 'None' (str(None) — what cell 3's
  // f-strings actually emit). Bounded by construction: three LIMITed
  // sections, never a corpus-sized collect.
  // ---------------------------------------------------------------------------
  private def putCmd(table: String, rk: Column, colq: Column,
                     v: Column): Column =
    concat(lit(s"put '$table', '"), rk, lit("', '"), colq, lit("', '"),
      coalesce(v, lit("None")), lit("'"))

  private def noQuote(c: Column): Column = translate(c, "'", "")

  def g25HbasePutBatch(spark: SparkSession, dir: String): DataFrame = {
    val g = games(spark, dir)
    val priceS = col("clean_price").cast("double")
      .cast(org.apache.spark.sql.types.DecimalType(10, 2)).cast("string")
    val wProf = Window.orderBy(col("rowkey")) // bounded: 50 rows post-limit
    val profile = g16(g).limit(50)
      .withColumn("rnk", row_number().over(wProf))
      .select(col("rnk"), posexplode(array(
        putCmd("game_profile", col("rowkey"), lit("info:name"),
          noQuote(col("Name"))),
        putCmd("game_profile", col("rowkey"), lit("info:dev"),
          noQuote(col("clean_dev"))),
        putCmd("game_profile", col("rowkey"), lit("info:genres"),
          col("clean_genre")),
        putCmd("game_profile", col("rowkey"), lit("metrics:price"), priceS),
        putCmd("game_profile", col("rowkey"), lit("metrics:owners"),
          col("avg_owners").cast("string")))))
      .select(((col("rnk") - 1) * 5 + col("pos") + 1).cast("long").as("seq"),
        col("col").as("cmd"))
    val devRk = translate(noQuote(col("clean_dev")), " ", "_")
    val wDev = Window.orderBy(col("total_owners").desc_nulls_last,
      col("clean_dev").asc_nulls_last) // bounded: 20 rows post-limit
    val summaries = g
      .withColumn("clean_dev", strip1(col("Developers")))
      .groupBy(col("clean_dev"))
      .agg(count(col("AppID")).as("game_count"),
        sum(col("avg_owners")).as("total_owners"))
      .orderBy(col("total_owners").desc_nulls_last,
        col("clean_dev").asc_nulls_last)
      .limit(20)
      .withColumn("rnk", row_number().over(wDev))
      .select(col("rnk"), posexplode(array(
        putCmd("dev_analytics", devRk, lit("summary:game_count"),
          col("game_count").cast("string")),
        putCmd("dev_analytics", devRk, lit("summary:total_owners"),
          col("total_owners").cast("string")))))
      .select((lit(250) + (col("rnk") - 1) * 2 + col("pos") + 1)
        .cast("long").as("seq"), col("col").as("cmd"))
    val wRaw = Window.orderBy(col("AppID")) // bounded: 50 rows post-limit
    val inverted = g
      .withColumn("clean_dev", strip1(col("Developers")))
      .orderBy(col("AppID")).limit(50)
      .withColumn("rnk", row_number().over(wRaw))
      .select((lit(290) + col("rnk")).cast("long").as("seq"),
        putCmd("dev_analytics", devRk,
          concat(lit("product_list:"), col("AppID").cast("string")),
          noQuote(col("Name"))).as("cmd"))
    profile.unionAll(summaries).unionAll(inverted).orderBy(col("seq"))
  }

  /** DuckDB rebuilds the identical command stream; dollar-quoted
    * literals keep the embedded shell quotes readable. */
  val g25Sql: String = {
    def put(table: String, rk: String, colq: String, v: String): String =
      s"$$$$put '$table', '$$$$ || $rk || $$$$', '$$$$ || $colq || " +
        s"$$$$', '$$$$ || COALESCE($v, 'None') || $$$$'$$$$"
    val noq = (e: String) => s"replace($e, chr(39), '')"
    s"""$cte,
       |prof AS (
       |  SELECT reverse(CAST(AppID AS VARCHAR)) AS rowkey, Name,
       |    ${sqlStrip1("Developers")} AS clean_dev,
       |    ${sqlStrip1("Genres")} AS clean_genre,
       |    clean_price, avg_owners
       |  FROM games ORDER BY rowkey LIMIT 50),
       |prow AS (SELECT *, ROW_NUMBER() OVER (ORDER BY rowkey) AS rnk FROM prof),
       |dev AS (
       |  SELECT ${sqlStrip1("Developers")} AS clean_dev,
       |    COUNT(AppID) AS game_count,
       |    CAST(SUM(avg_owners) AS BIGINT) AS total_owners
       |  FROM games GROUP BY 1
       |  ORDER BY total_owners DESC NULLS LAST, clean_dev NULLS LAST LIMIT 20),
       |drow AS (SELECT *, ROW_NUMBER() OVER
       |           (ORDER BY total_owners DESC NULLS LAST, clean_dev NULLS LAST) AS rnk
       |         FROM dev),
       |raw AS (
       |  SELECT AppID, Name, ${sqlStrip1("Developers")} AS clean_dev
       |  FROM games ORDER BY AppID LIMIT 50),
       |rrow AS (SELECT *, ROW_NUMBER() OVER (ORDER BY AppID) AS rnk FROM raw),
       |lines AS (
       |  SELECT (rnk-1)*5 + 1 AS seq,
       |    ${put("game_profile", "rowkey", "'info:name'", noq("Name"))} AS cmd
       |  FROM prow
       |  UNION ALL SELECT (rnk-1)*5 + 2,
       |    ${put("game_profile", "rowkey", "'info:dev'", noq("clean_dev"))}
       |  FROM prow
       |  UNION ALL SELECT (rnk-1)*5 + 3,
       |    ${put("game_profile", "rowkey", "'info:genres'", "clean_genre")}
       |  FROM prow
       |  UNION ALL SELECT (rnk-1)*5 + 4,
       |    ${put("game_profile", "rowkey", "'metrics:price'",
                  "CAST(CAST(clean_price::DOUBLE AS DECIMAL(10,2)) AS VARCHAR)")}
       |  FROM prow
       |  UNION ALL SELECT (rnk-1)*5 + 5,
       |    ${put("game_profile", "rowkey", "'metrics:owners'",
                  "CAST(avg_owners AS VARCHAR)")}
       |  FROM prow
       |  UNION ALL SELECT 250 + (rnk-1)*2 + 1,
       |    ${put("dev_analytics", s"replace(${noq("clean_dev")}, ' ', '_')",
                  "'summary:game_count'", "CAST(game_count AS VARCHAR)")}
       |  FROM drow
       |  UNION ALL SELECT 250 + (rnk-1)*2 + 2,
       |    ${put("dev_analytics", s"replace(${noq("clean_dev")}, ' ', '_')",
                  "'summary:total_owners'", "CAST(total_owners AS VARCHAR)")}
       |  FROM drow
       |  UNION ALL SELECT 290 + rnk,
       |    ${put("dev_analytics", s"replace(${noq("clean_dev")}, ' ', '_')",
                  "'product_list:' || CAST(AppID AS VARCHAR)", noq("Name"))}
       |  FROM rrow)
       |SELECT CAST(seq AS BIGINT) AS seq, cmd FROM lines ORDER BY seq""".stripMargin
  }

  // ---------------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g23_dsv2_ingest"        -> g23Dsv2Ingest _,
    "g24_dsv2_roundtrip"     -> g24Dsv2Roundtrip _,
    "g25_hbase_put_batch"    -> g25HbasePutBatch _,
    "g01_genre_revenue"      -> g01GenreRevenue _,
    "g02_dev_metrics"        -> g02DevMetrics _,
    "g03_yearly_trend"       -> g03YearlyTrend _,
    "g04_price_owner_buckets" -> g04PriceOwnerBuckets _,
    "g05_top_dev_hits"       -> g05TopDevHits _,
    "g06_genre_price_stats"  -> g06GenrePriceStats _,
    "g07_dev_game_dist"      -> g07DevGameDist _,
    "g08_multi_genre_perf"   -> g08MultiGenrePerf _,
    "g09_month_distribution" -> g09MonthDistribution _,
    "g10_owners_ranges"      -> g10OwnersRanges _,
    "g11_genre_combos"       -> g11GenreCombos _,
    "g12_dev_avg_revenue"    -> g12DevAvgRevenue _,
    "g13_dev_pareto"         -> g13DevPareto _,
    "g14_yearly_avg_price"   -> g14YearlyAvgPrice _,
    "g15_yearly_avg_owners"  -> g15YearlyAvgOwners _,
    "g16_game_profile"       -> g16GameProfile _,
    "g17_dev_analytics"      -> g17DevAnalytics _,
    "g18_product_list"       -> g18ProductList _,
    "g19_price_ranges"       -> g19PriceRanges _,
    "g20_sample_scatter"     -> g20SampleScatter _,
    "g21_genre_approx_median" -> g21GenreApproxMedian _,
    "g22_csv_ingest"         -> g22CsvIngest _,
  )

  val oracles: Map[String, String] = Map(
    "g01_genre_revenue"      -> g01Sql,
    "g02_dev_metrics"        -> g02Sql,
    "g03_yearly_trend"       -> g03Sql,
    "g04_price_owner_buckets" -> g04Sql,
    "g05_top_dev_hits"       -> g05Sql,
    "g06_genre_price_stats"  -> g06Sql,
    "g07_dev_game_dist"      -> g07Sql,
    "g08_multi_genre_perf"   -> g08Sql,
    "g09_month_distribution" -> g09Sql,
    "g10_owners_ranges"      -> g10Sql,
    "g11_genre_combos"       -> g11Sql,
    "g12_dev_avg_revenue"    -> g12Sql,
    "g13_dev_pareto"         -> g13Sql,
    "g14_yearly_avg_price"   -> g14Sql,
    "g15_yearly_avg_owners"  -> g15Sql,
    "g16_game_profile"       -> g16Sql,
    "g17_dev_analytics"      -> g17Sql,
    "g18_product_list"       -> g18Sql,
    "g19_price_ranges"       -> g19Sql,
    "g22_csv_ingest"         -> g22Sql,
    "g23_dsv2_ingest"        -> g22Sql, // same semantics, custom connector
    "g24_dsv2_roundtrip"     -> g22Sql, // write+read round trip is lossless
    "g25_hbase_put_batch"    -> g25Sql,
  )
}
