package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DoubleType

import graft.Tables

/** Batch analytics over the `events` table whose semantics mirror the
  * Structured Streaming pipelines in [[graft.streaming.EventStreams]]:
  * tumbling-window aggregation, gap-based sessionization, and
  * dedup-within-window. The batch forms are DuckDB-oracle-checkable;
  * the streaming forms reuse the same column logic and are replay-tested
  * in ScalaTest (SURVEY.md §2.2 "Streaming").
  *
  * Timestamps: the corpus has exact-microsecond values, so Spark's
  * ns→µs truncation is lossless and epoch-µs arithmetic is identical in
  * both engines.
  */
object EventQueries {

  private def dsum(c: Column): Column = graft.functions.DecimalSums.dsum(c)
  private def sqlDsum(e: String): String = graft.functions.DecimalSums.sqlDsum(e)

  private val tsFmt = "yyyy-MM-dd HH:mm:ss"

  // ---------------------------------------------------------------------------
  // v01 — tumbling 10-minute windows per event type (epoch-aligned, the
  // same alignment Structured Streaming's window() uses).
  // ---------------------------------------------------------------------------
  def v01TumblingCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("event_count"),
        dsum(col("value")).as("total_value"))
      .select(
        date_format(col("window.start"), tsFmt).as("window_start"),
        col("event_type"), col("event_count"), col("total_value"))
      .orderBy(col("window_start"), col("event_type"))

  val v01Sql: String =
    s"""SELECT strftime(time_bucket(INTERVAL '10 minutes', ts),
       |                '%Y-%m-%d %H:%M:%S') AS window_start,
       |  event_type,
       |  COUNT(*) AS event_count,
       |  ${sqlDsum("value")} AS total_value
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY window_start, event_type""".stripMargin

  // ---------------------------------------------------------------------------
  // v02 — gap-based sessionization (30-min inactivity gap), the batch twin
  // of session_window()/flatMapGroupsWithState. Classic lag→flag→running-sum
  // session ids; all arithmetic in epoch-µs longs (exact).
  // Shuffles once on user_id; at 100 TB the window partitions by user so
  // state never concentrates on one task (skew = one hyperactive user —
  // mitigated by per-(user, day) pre-split if observed).
  // ---------------------------------------------------------------------------
  def v02Sessions(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gapUs = 30L * 60 * 1000000
    val newSession =
      when(lag(col("ts"), 1).over(byUser).isNull, 1)
        .when(unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(byUser)) > gapUs, 1)
        .otherwise(0)
    Tables.events(spark, dir)
      .withColumn("new_s", newSession)
      .withColumn("session_id",
        sum(col("new_s")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("event_count"),
        date_format(min(col("ts")), tsFmt).as("session_start"),
        ((unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
          .cast(DoubleType) / lit(1000000.0)).as("duration_sec"),
        dsum(col("value")).as("session_value"))
      .orderBy(col("user_id"), col("session_id"))
      .limit(2000)
  }

  val v02Sql: String =
    s"""WITH flagged AS (
       |  SELECT user_id, event_id, ts, value,
       |    CASE WHEN lag(ts) OVER w IS NULL THEN 1
       |         WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1
       |         ELSE 0 END AS new_s
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sessions AS (
       |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       |  FROM flagged)
       |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       |  COUNT(*) AS event_count,
       |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       |  CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS DOUBLE) / 1000000.0
       |    AS duration_sec,
       |  ${sqlDsum("value")} AS session_value
       |FROM sessions
       |GROUP BY user_id, session_id
       |ORDER BY user_id, session_id
       |LIMIT 2000""".stripMargin

  // ---------------------------------------------------------------------------
  // v03 — dedup within a minute bucket (batch twin of
  // dropDuplicatesWithinWatermark: one event per (user, type, minute)).
  // ---------------------------------------------------------------------------
  def v03MinuteDedupCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
              date_trunc("minute", col("ts")).as("minute"))
      .dropDuplicates("user_id", "event_type", "minute")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("deduped_count"))
      .orderBy(col("event_type"))

  val v03Sql: String =
    """SELECT event_type, COUNT(*) AS deduped_count
      |FROM (SELECT DISTINCT user_id, event_type,
      |             date_trunc('minute', ts) AS minute
      |      FROM events) t
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------------
  // v04 — sliding windows (10-min window, 5-min slide): each event lands in
  // two windows. Mirrors streaming window(ts, "10 minutes", "5 minutes").
  // ---------------------------------------------------------------------------
  def v04SlidingCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(
        count(lit(1)).as("event_count"),
        dsum(col("value")).as("total_value"))
      .select(
        date_format(col("window.start"), tsFmt).as("window_start"),
        col("event_count"), col("total_value"))
      .orderBy(col("window_start"))
      .limit(2000)

  val v04Sql: String =
    s"""WITH buckets AS (
       |  SELECT time_bucket(INTERVAL '5 minutes', ts) AS b5, value
       |  FROM events),
       |both_windows AS (
       |  SELECT b5 AS wstart, value FROM buckets
       |  UNION ALL
       |  SELECT b5 - INTERVAL '5 minutes' AS wstart, value FROM buckets)
       |SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
       |  COUNT(*) AS event_count,
       |  ${sqlDsum("value")} AS total_value
       |FROM both_windows
       |GROUP BY wstart
       |ORDER BY window_start
       |LIMIT 2000""".stripMargin

  // ---------------------------------------------------------------------------
  // v06 — JSON property extraction (events.props carries a JSON object;
  // from_json with an explicit schema is the codegen-friendly path —
  // a schema'd parse, not a per-access string scan).
  // ---------------------------------------------------------------------------
  def v06PropsProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k"))
      .groupBy(col("event_type"))
      .agg(
        count(col("k")).as("with_k"),
        graft.functions.DecimalSums.davg(col("k")).as("avg_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  val v06Sql: String =
    """SELECT event_type,
      |  COUNT(k) AS with_k,
      |  CAST(SUM(CAST(k AS DECIMAL(18,4))) AS DOUBLE) / CAST(COUNT(k) AS DOUBLE)
      |    AS avg_k,
      |  MAX(k) AS max_k
      |FROM (SELECT event_type,
      |             CAST(json_extract_string(props, '$.k') AS INT) AS k
      |      FROM events) t
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------------
  // v07 — click→purchase attribution: every purchase a user makes within
  // 30 minutes of a click, the batch twin of the watermarked
  // stream-stream interval join in EventStreams.attributedPurchases.
  // Plans as an equi-join on user_id (one shuffle each side, or a
  // broadcast when one side is small) with the time-range predicate
  // evaluated inside the join — the scalable shape for interval joins
  // whose key carries most of the selectivity.
  // ---------------------------------------------------------------------------
  def v07AttributedPurchases(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"), col("value"))
    clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        ((unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
          .cast(DoubleType) / lit(1000000.0)).as("lag_sec"),
        col("value").as("purchase_value"))
      .orderBy(col("click_id"), col("purchase_id"))
      .limit(2000)
  }

  val v07Sql: String =
    """WITH c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts, value
      |      FROM events WHERE event_type = 'purchase')
      |SELECT click_id, purchase_id, c.user_id AS user_id,
      |  CAST(epoch_us(purchase_ts) - epoch_us(click_ts) AS DOUBLE) / 1000000.0
      |    AS lag_sec,
      |  value AS purchase_value
      |FROM c JOIN p ON c.user_id = p.user_id
      |  AND purchase_ts >= click_ts
      |  AND purchase_ts <= click_ts + INTERVAL 30 MINUTES
      |ORDER BY click_id, purchase_id
      |LIMIT 2000""".stripMargin

  // ---------------------------------------------------------------------------
  // v08 — trailing 1-hour spend per user at every event: a time-RANGE
  // window frame (not ROWS — peers with equal timestamps all enter the
  // frame, which is what makes the result order-independent). Frame
  // bounds are epoch-µs longs because Spark's rangeBetween needs a
  // numeric ORDER BY; one shuffle on user_id, per-user sort.
  // ---------------------------------------------------------------------------
  def v08TrailingSpend(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-3600000000L, 0L)
    Tables.events(spark, dir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("trail_1h_value",
        graft.functions.DecimalSums.decSumOver(col("value"), w)
          .cast(DoubleType))
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), tsFmt).as("event_ts"), col("trail_1h_value"))
      .orderBy(col("user_id"), col("us"), col("event_id"))
      .limit(2000)
  }

  val v08Sql: String = {
    val decVal = graft.functions.DecimalSums.sqlDec("value")
    s"""SELECT event_id, user_id,
       |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
       |  CAST(SUM($decVal) OVER (
       |    PARTITION BY user_id ORDER BY epoch_us(ts)
       |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE)
       |    AS trail_1h_value
       |FROM events
       |ORDER BY user_id, epoch_us(ts), event_id
       |LIMIT 2000""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // v09 — resample to a dense minutely grid (day one of the corpus):
  // time-series consumers need explicit zeros, not absent rows. The
  // spine is generated IN-PLAN (sequence + explode — ~1440 rows/day per
  // type, cost-free at any fact-table size) and the fact side is
  // pre-aggregated per (minute, type) BEFORE the join, so the left join
  // is spine ⋈ aggregate — never spine ⋈ raw events.
  // ---------------------------------------------------------------------------
  def v09MinuteGapFill(spark: SparkSession, dir: String): DataFrame = {
    val dayStart = "2024-01-01 00:00:00"
    val dayEnd = "2024-01-01 23:59:00"
    val counts = Tables.events(spark, dir)
      .filter(col("ts") >= to_timestamp(lit(dayStart)) &&
        col("ts") < to_timestamp(lit(dayEnd)) + expr("INTERVAL 1 MINUTE"))
      .groupBy(date_trunc("minute", col("ts")).as("minute"),
        col("event_type"))
      .agg(count(lit(1)).as("c"))
    val types = Tables.events(spark, dir)
      .select(col("event_type")).distinct()
    val spine = spark.range(1)
      .select(explode(sequence(
        to_timestamp(lit(dayStart)), to_timestamp(lit(dayEnd)),
        expr("INTERVAL 1 MINUTE"))).as("minute"))
      .crossJoin(types)
    spine.join(counts, Seq("minute", "event_type"), "left")
      .select(
        date_format(col("minute"), tsFmt).as("minute"),
        col("event_type"),
        coalesce(col("c"), lit(0L)).as("event_count"))
      .orderBy(col("minute"), col("event_type"))
  }

  val v09Sql: String =
    """WITH spine AS (
      |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
      |                                TIMESTAMP '2024-01-01 23:59:00',
      |                                INTERVAL 1 MINUTE)) AS minute),
      |types AS (SELECT DISTINCT event_type FROM events),
      |counts AS (
      |  SELECT date_trunc('minute', ts) AS minute, event_type,
      |         COUNT(*) AS c
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
      |    AND ts < TIMESTAMP '2024-01-01 23:59:00' + INTERVAL 1 MINUTE
      |  GROUP BY 1, 2)
      |SELECT strftime(s.minute, '%Y-%m-%d %H:%M:%S') AS minute,
      |       t.event_type,
      |       CAST(COALESCE(c.c, 0) AS BIGINT) AS event_count
      |FROM spine s CROSS JOIN types t
      |  LEFT JOIN counts c ON c.minute = s.minute AND c.event_type = t.event_type
      |ORDER BY 1, 2""".stripMargin

  /** Batch oracle for the streamed per-user lifetime profile (v17).
    * The span floors to MILLISECONDS on both sides: the fMGWS state
    * stores `Timestamp.getTime` longs (ms, micros floored away) and
    * DuckDB's `epoch_ms` floors the µs-precision timestamp the same
    * way; the value sum is the standard exact-decimal convention —
    * the scaled-long accumulator in `UserState` rounds each row to 4
    * decimals HALF_UP exactly as the decimal(18,4) cast does. */
  val v17Sql: String =
    s"""SELECT user_id,
       |  COUNT(*) AS event_count,
       |  ${sqlDsum("value")} AS total_value,
       |  (epoch_ms(MAX(ts)) - epoch_ms(MIN(ts))) / 1000.0 AS active_span_sec
       |FROM events
       |GROUP BY user_id
       |ORDER BY user_id""".stripMargin

  /** v19 — weekly retention cohorts: users grouped by their FIRST
    * active epoch-week, then for every (cohort, weeks-since) cell the
    * count of cohort members still active and their share of the
    * cohort — the classic product-analytics retention matrix.
    *
    * Week indexing is pure integer arithmetic on epoch microseconds
    * (`unix_micros DIV 7-days` / DuckDB `epoch_us // 7-days`) — no
    * calendar/locale week semantics to diverge on. Distributed shape:
    * one distinct over (user, week) — partial-aggregated, 16-byte
    * rows — one per-user min (user-keyed shuffle), one user-keyed
    * equi-join back, grouped counts; cohort sizes broadcast back onto
    * the matrix. Everything integer until the final rounded share. */
  def v19RetentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val weekUs = 7L * 86400L * 1000000L
    val wk = Tables.events(spark, dir)
      .select(col("user_id"), expr(s"unix_micros(ts) DIV $weekUs").as("wk"))
      .distinct()
    val cohort = wk.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    val sizes = cohort.groupBy(col("cohort_wk"))
      .agg(count(lit(1)).as("cohort_size"))
    wk.join(cohort, "user_id")
      .groupBy(col("cohort_wk"),
        (col("wk") - col("cohort_wk")).as("week_offset"))
      .agg(count(lit(1)).as("n_users")) // (user, wk) is distinct already
      .join(broadcast(sizes), "cohort_wk")
      .select(col("cohort_wk"), col("week_offset"), col("n_users"),
        col("cohort_size"),
        round(col("n_users").cast("double") /
          col("cohort_size").cast("double"), 6).as("retention_r"))
      .orderBy(col("cohort_wk"), col("week_offset"))
  }

  val v19Sql: String =
    """WITH wk AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS wk
      |  FROM events),
      |coh AS (SELECT user_id, MIN(wk) AS cohort_wk FROM wk GROUP BY 1),
      |sizes AS (SELECT cohort_wk, CAST(COUNT(*) AS BIGINT) AS cohort_size
      |          FROM coh GROUP BY 1),
      |m AS (
      |  SELECT c.cohort_wk, w.wk - c.cohort_wk AS week_offset,
      |         CAST(COUNT(*) AS BIGINT) AS n_users
      |  FROM wk w JOIN coh c USING (user_id)
      |  GROUP BY 1, 2)
      |SELECT m.cohort_wk, m.week_offset, m.n_users, s.cohort_size,
      |       ROUND(CAST(m.n_users AS DOUBLE) / CAST(s.cohort_size AS DOUBLE), 6)
      |         AS retention_r
      |FROM m JOIN sizes s USING (cohort_wk)
      |ORDER BY m.cohort_wk, m.week_offset""".stripMargin

  /** Conversion window for v20: every later step must land within this
    * span of the user's FIRST signup (mirrored in [[v20Sql]]). 3 days
    * against this corpus' event density gives a genuinely shaped
    * funnel (~70% → ~40% → ~15% at sf0.01), not a degenerate
    * everyone-converts column. */
  val funnelWindowUs: Long = 3L * 86400L * 1000000L

  /** v20 — windowed ordered conversion funnel signup → view → click →
    * purchase: how many users completed each prefix of the journey IN
    * ORDER (each step strictly after the previous step's matched
    * instant) within [[funnelWindowUs]] of their first signup.
    *
    * Execution is ONE user-keyed shuffle + a per-user in-memory walk
    * over that user's (ts, event_id)-sorted events — a greedy state
    * machine that matches each stage at its earliest eligible instant.
    * Because the window anchors at the FIXED first signup, greedy-
    * earliest is provably equivalent to the oracle's min-after CTE
    * chain (t2 = MIN(view.ts > t1 within window), …): each stage's
    * eligibility interval is (prev match, t1+W], and taking the
    * earliest match only widens every later interval. The SQL chain
    * would cost one events-sized join per step; the walk costs one
    * shuffle total. Per-user memory is that user's event count — the
    * same bounded-per-key assumption every sessionization op here
    * makes (skewed power users would be capped upstream). */
  def v20OrderedFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val steps = Seq("signup", "view", "click", "purchase")
    val reached = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .as[(Long, String, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (uid, it) =>
        val evs = it.toArray.sortBy(e => (e._3, e._4))
        var stage = 0
        var lastUs = Long.MinValue
        var deadline = Long.MaxValue
        evs.foreach { e =>
          if (stage < steps.length && e._2 == steps(stage) &&
            (stage == 0 || (e._3 > lastUs && e._3 <= deadline))) {
            if (stage == 0) deadline = e._3 + funnelWindowUs
            lastUs = e._3; stage += 1
          }
        }
        (uid, stage)
      }
      .toDF("user_id", "stage")
    // coalesce: an empty step must count 0 like the oracle's COUNT
    // over an empty CTE, not sum-of-nothing NULL
    reached.agg(
      coalesce(sum(when(col("stage") >= 1, 1L)), lit(0L)).as("n1"),
      coalesce(sum(when(col("stage") >= 2, 1L)), lit(0L)).as("n2"),
      coalesce(sum(when(col("stage") >= 3, 1L)), lit(0L)).as("n3"),
      coalesce(sum(when(col("stage") >= 4, 1L)), lit(0L)).as("n4"))
      .select(expr(
        """stack(4,
          |  1, 'signup',   n1,
          |  2, 'view',     n2,
          |  3, 'click',    n3,
          |  4, 'purchase', n4)
          |AS (step_id, step, n_users)""".stripMargin))
      .orderBy(col("step_id"))
  }

  val v20Sql: String = {
    val w = funnelWindowUs
    s"""WITH t1 AS (
       |  SELECT user_id, MIN(ts) AS t FROM events
       |  WHERE event_type = 'signup' GROUP BY 1),
       |t2 AS (
       |  SELECT e.user_id, MIN(e.ts) AS t
       |  FROM events e JOIN t1 USING (user_id)
       |  WHERE e.event_type = 'view' AND e.ts > t1.t
       |    AND epoch_us(e.ts) <= epoch_us(t1.t) + $w GROUP BY 1),
       |t3 AS (
       |  SELECT e.user_id, MIN(e.ts) AS t
       |  FROM events e JOIN t2 USING (user_id) JOIN t1 USING (user_id)
       |  WHERE e.event_type = 'click' AND e.ts > t2.t
       |    AND epoch_us(e.ts) <= epoch_us(t1.t) + $w GROUP BY 1),
       |t4 AS (
       |  SELECT e.user_id, MIN(e.ts) AS t
       |  FROM events e JOIN t3 USING (user_id) JOIN t1 USING (user_id)
       |  WHERE e.event_type = 'purchase' AND e.ts > t3.t
       |    AND epoch_us(e.ts) <= epoch_us(t1.t) + $w GROUP BY 1)
       |SELECT CAST(1 AS INT) AS step_id, 'signup' AS step,
       |       CAST(COUNT(*) AS BIGINT) AS n_users FROM t1
       |UNION ALL SELECT 2, 'view', COUNT(*) FROM t2
       |UNION ALL SELECT 3, 'click', COUNT(*) FROM t3
       |UNION ALL SELECT 4, 'purchase', COUNT(*) FROM t4
       |ORDER BY step_id""".stripMargin
  }

  /** v21 — behavioral transition matrix: for every ordered pair of
    * consecutive events WITHIN a user's timeline, the count and the
    * row-normalized probability P(next | prev) — the first-order
    * Markov model of user behavior (feeds both product analytics and
    * anomaly detection: an improbable transition burst is a bot
    * signature).
    *
    * One user-partitioned lag window (the v02 sessionization shape —
    * per-user ordered state, never a global sort), one grouped count,
    * and a per-prev-row share window over the 5×5 matrix. (ts,
    * event_id) ordering makes the lag a total order. */
  def v21TransitionMatrix(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val wPrev = Window.partitionBy(col("prev_type"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p_r", round(
        col("n").cast("double") / sum(col("n")).over(wPrev).cast("double"), 6))
      .orderBy(col("prev_type"), col("event_type"))
  }

  val v21Sql: String =
    """WITH t AS (
      |  SELECT event_type,
      |         lag(event_type) OVER (PARTITION BY user_id
      |                               ORDER BY ts, event_id) AS prev_type
      |  FROM events),
      |m AS (
      |  SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM t WHERE prev_type IS NOT NULL
      |  GROUP BY 1, 2)
      |SELECT prev_type, event_type, n,
      |  ROUND(CAST(n AS DOUBLE) /
      |        CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE), 6) AS p_r
      |FROM m
      |ORDER BY prev_type, event_type""".stripMargin

  /** v22 — A/B experiment analysis: users split 50/50 by the canonical
    * md5 bucket ([[Pipeline.md5Bucket]] — deterministic, engine-stable,
    * no RNG state), per-variant exposure/conversion/revenue, and the
    * two-proportion pooled z statistic for the conversion lift. The
    * whole readout is ONE pass over events (variant is a projection on
    * user_id; countDistinct + decimal revenue sums per variant) plus a
    * two-row pivot into the single summary row — at 100 TB this is a
    * partial-aggregated shuffle on a 2-value key (countDistinct
    * internally expands to (variant, user) partials — still bounded by
    * distinct users, the analysis' inherent cardinality).
    *
    * Every float step of the z arithmetic is written structurally
    * identically in both engines (same division tree, same sqrt), so
    * the statistic is hash-gated, not toleranced. */
  def v22ExperimentLift(spark: SparkSession, dir: String): DataFrame = {
    // conversion = at least one HIGH-VALUE purchase (value >= 90) —
    // plain any-purchase saturates this corpus (every user buys), which
    // would put the pooled p-hat at 1 and the z denominator at 0.
    // Revenue (ARPU) stays over ALL purchases.
    val isP = col("event_type") === "purchase"
    val isConv = isP && col("value") >= 90.0
    val per = Tables.events(spark, dir)
      .select(
        when(Pipeline.md5Bucket(col("user_id")) < 128, "A").otherwise("B")
          .as("v"),
        col("user_id"), col("event_type"), col("value"))
      .groupBy(col("v"))
      .agg(
        countDistinct(col("user_id")).as("n"),
        countDistinct(when(isConv, col("user_id"))).as("conv"),
        graft.functions.DecimalSums.decSum(when(isP, col("value")))
          .as("rev"))
    def pick(v: String, c: String) = max(when(col("v") === v, col(c)))
    val wide = per.agg(
      pick("A", "n").as("n_a"), pick("B", "n").as("n_b"),
      pick("A", "conv").as("conv_a"), pick("B", "conv").as("conv_b"),
      pick("A", "rev").as("rev_a"), pick("B", "rev").as("rev_b"))
    val d = DoubleType
    val pa = col("conv_a").cast(d) / col("n_a").cast(d)
    val pb = col("conv_b").cast(d) / col("n_b").cast(d)
    val ph = (col("conv_a") + col("conv_b")).cast(d) /
      (col("n_a") + col("n_b")).cast(d)
    val se = sqrt(ph * (lit(1.0) - ph) *
      (lit(1.0) / col("n_a").cast(d) + lit(1.0) / col("n_b").cast(d)))
    wide.select(
      col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
      round(pa, 6).as("cvr_a_r"), round(pb, 6).as("cvr_b_r"),
      round(col("rev_a").cast(d) / col("n_a").cast(d), 6).as("arpu_a_r"),
      round(col("rev_b").cast(d) / col("n_b").cast(d), 6).as("arpu_b_r"),
      round(pb - pa, 6).as("lift_r"),
      // total even on degenerate corpora (all or none converted)
      when(se > 0.0, round((pb - pa) / se, 6)).as("z_r"))
  }

  val v22Sql: String = {
    val bucket = Pipeline.sqlMd5Bucket("user_id")
    """WITH per AS (
      |  SELECT CASE WHEN BUCKET < 128 THEN 'A' ELSE 'B' END AS v,
      |         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n,
      |         CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase'
      |                                   AND value >= 90.0
      |                                  THEN user_id END) AS BIGINT) AS conv,
      |         SUM(CAST(CAST(CASE WHEN event_type = 'purchase' THEN value END
      |                       AS DOUBLE) AS DECIMAL(18,4))) AS rev
      |  FROM events GROUP BY 1),
      |wide AS (
      |  SELECT MAX(CASE WHEN v = 'A' THEN n END) AS n_a,
      |         MAX(CASE WHEN v = 'B' THEN n END) AS n_b,
      |         MAX(CASE WHEN v = 'A' THEN conv END) AS conv_a,
      |         MAX(CASE WHEN v = 'B' THEN conv END) AS conv_b,
      |         MAX(CASE WHEN v = 'A' THEN rev END) AS rev_a,
      |         MAX(CASE WHEN v = 'B' THEN rev END) AS rev_b
      |  FROM per)
      |SELECT n_a, n_b, conv_a, conv_b,
      |  ROUND(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS cvr_a_r,
      |  ROUND(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS cvr_b_r,
      |  ROUND(CAST(rev_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS arpu_a_r,
      |  ROUND(CAST(rev_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS arpu_b_r,
      |  ROUND(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
      |      - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS lift_r,
      |  CASE WHEN sqrt((CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
      |           * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
      |           * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) > 0.0
      |  THEN ROUND((CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
      |       - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE))
      |      / sqrt((CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
      |           * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
      |           * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6)
      |  END AS z_r
      |FROM wide""".stripMargin.replace("BUCKET", bucket)
  }

  /** v24 — schemaless semi-structured analytics through Spark 4's
    * VARIANT type: `parse_json` shreds props into a variant ONCE and
    * `variant_get` path-extracts without a declared schema — the
    * ingest-first, schema-later path for logs whose shape drifts
    * (v06 is the schema'd `from_json` twin; a drifted key there means
    * a migration, here just a new path string). Decile buckets over
    * the extracted k with decimal value sums; DuckDB mirrors with its
    * JSON path extraction — both engines parse the same text, so the
    * gate pins the extraction semantics end to end. */
  def v24VariantBuckets(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k",
        expr("variant_get(parse_json(props), '$.k', 'int')"))
      .filter(col("k").isNotNull)
      .groupBy(expr("k DIV 10").as("k_decile"))
      .agg(
        count(lit(1)).as("n"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        dsum(col("value")).as("total_value"))
      .orderBy(col("k_decile"))

  val v24Sql: String =
    s"""SELECT CAST(CAST(json_extract_string(props, '$$.k') AS INT) // 10
       |            AS BIGINT) AS k_decile,
       |  COUNT(*) AS n,
       |  MIN(CAST(json_extract_string(props, '$$.k') AS INT)) AS min_k,
       |  MAX(CAST(json_extract_string(props, '$$.k') AS INT)) AS max_k,
       |  ${sqlDsum("value")} AS total_value
       |FROM events
       |WHERE json_extract_string(props, '$$.k') IS NOT NULL
       |GROUP BY 1
       |ORDER BY k_decile""".stripMargin

  /** v25 — time-series burst detection: hourly event counts per type,
    * each compared against its SIX most recent preceding observed
    * hours (a ROWS frame — "observed" because an hour with zero events
    * of a type has no row; the trailing baseline is the last six
    * *active* hours, the form that stays well-defined on sparse
    * types). The spike predicate is kept in INTEGER arithmetic —
    * `count > 2 × (trail_sum / 6)` rewritten as `3·count > trail_sum`
    * — so there is no float boundary to flip between engines and the
    * flag hash-gates exactly.
    *
    * Scale: one partial-aggregated shuffle to (hour, type), then a
    * window partitioned by type — tiny key space, and the per-type
    * series length grows with time, not corpus size. At 100 TB the
    * hourly rollup (not the raw events) is what the window ever sees. */
  def v25SpikeWindows(spark: SparkSession, dir: String): DataFrame = {
    val wTrail = Window.partitionBy(col("event_type"))
      .orderBy(col("hour_start")).rowsBetween(-6, -1)
    Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"),
        col("event_type"))
      .agg(count(lit(1)).as("event_count"))
      .withColumn("trail_n", count(col("event_count")).over(wTrail))
      .withColumn("trail_sum",
        coalesce(sum(col("event_count")).over(wTrail), lit(0L)))
      .withColumn("is_spike",
        col("trail_n") === 6 && col("event_count") * 3 > col("trail_sum"))
      .select(col("event_type"),
        date_format(col("hour_start"), tsFmt).as("hour_start"),
        col("event_count"), col("trail_n"), col("trail_sum"),
        col("is_spike"))
      .orderBy(col("event_type"), col("hour_start"))
  }

  val v25Sql: String =
    """WITH hourly AS (
      |  SELECT date_trunc('hour', ts) AS h, event_type,
      |         CAST(COUNT(*) AS BIGINT) AS event_count
      |  FROM events GROUP BY 1, 2),
      |trailed AS (
      |  SELECT event_type, h, event_count,
      |    CAST(COUNT(event_count) OVER w AS BIGINT) AS trail_n,
      |    CAST(COALESCE(SUM(event_count) OVER w, 0) AS BIGINT) AS trail_sum
      |  FROM hourly
      |  WINDOW w AS (PARTITION BY event_type ORDER BY h
      |               ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING))
      |SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_start,
      |  event_count, trail_n, trail_sum,
      |  (trail_n = 6 AND event_count * 3 > trail_sum) AS is_spike
      |FROM trailed
      |ORDER BY event_type, hour_start""".stripMargin

  /** v26 — sequential pattern mining over sessions: the most frequent
    * 3-step event-type paths, where steps are consecutive events
    * INSIDE a v02 session (the 30-min-gap sessionization), never
    * across a session boundary. Paths are built with two `lead`s over
    * the (session, ts, event_id) order — a projection, not a
    * collect_list, so no per-session array ever materializes and the
    * operator stays a window + one aggregate at any corpus size. The
    * output is integer counts over strings → hash-exact; top-40 under
    * the (n desc, path) total order. */
  def v26SessionPaths(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gapUs = 30L * 60 * 1000000
    val newSession =
      when(lag(col("ts"), 1).over(byUser).isNull, 1)
        .when(unix_micros(col("ts")) -
          unix_micros(lag(col("ts"), 1).over(byUser)) > gapUs, 1)
        .otherwise(0)
    val bySess = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("new_s", newSession)
      .withColumn("session_id", sum(col("new_s")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("t2", lead(col("event_type"), 1).over(bySess))
      .withColumn("t3", lead(col("event_type"), 2).over(bySess))
      .filter(col("t2").isNotNull && col("t3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3"))
        .as("path"), col("user_id"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("n").desc, col("path"))
      .limit(40)
  }

  val v26Sql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    CASE WHEN lag(ts) OVER w IS NULL THEN 1
      |         WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1
      |         ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged),
      |steps AS (
      |  SELECT user_id, event_type,
      |    lead(event_type, 1) OVER s AS t2,
      |    lead(event_type, 2) OVER s AS t3
      |  FROM sessions
      |  WINDOW s AS (PARTITION BY user_id, session_id ORDER BY ts, event_id))
      |SELECT event_type || '>' || t2 || '>' || t3 AS path,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM steps
      |WHERE t2 IS NOT NULL AND t3 IS NOT NULL
      |GROUP BY 1
      |ORDER BY n DESC, path
      |LIMIT 40""".stripMargin

  /** v32 oracle: v07's attribution as a batch LEFT JOIN — unconverted
    * clicks carry null purchase columns. Null purchase_ids sort LAST
    * explicitly (Spark's ASC default is NULLS FIRST, DuckDB's is
    * configurable — both sides pin NULLS LAST so the LIMIT is stable). */
  val v32Sql: String =
    """WITH c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts, value
      |      FROM events WHERE event_type = 'purchase')
      |SELECT click_id, purchase_id, c.user_id AS user_id,
      |  CAST(epoch_us(purchase_ts) - epoch_us(click_ts) AS DOUBLE) / 1000000.0
      |    AS lag_sec,
      |  value AS purchase_value
      |FROM c LEFT JOIN p ON c.user_id = p.user_id
      |  AND purchase_ts >= click_ts
      |  AND purchase_ts <= click_ts + INTERVAL 30 MINUTES
      |ORDER BY click_id, purchase_id ASC NULLS LAST
      |LIMIT 2000""".stripMargin

  /** v31 oracle: the stream-static enrichment rollup as one batch
    * query — events joined to the customer dimension, counted and
    * decimal-summed per (10-min window, segment). */
  val v31Sql: String =
    s"""SELECT strftime(time_bucket(INTERVAL '10 minutes', e.ts),
       |                '%Y-%m-%d %H:%M:%S') AS window_start,
       |  c.c_mktsegment AS segment,
       |  COUNT(*) AS event_count,
       |  ${sqlDsum("e.value")} AS total_value
       |FROM events e JOIN customer c ON e.user_id = c.c_custkey
       |GROUP BY 1, 2
       |ORDER BY window_start, segment""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "v25_spike_windows"       -> v25SpikeWindows _,
    "v26_session_paths"       -> v26SessionPaths _,
    "v24_variant_buckets"     -> v24VariantBuckets _,
    "v22_experiment_lift"     -> v22ExperimentLift _,
    "v21_transition_matrix"   -> v21TransitionMatrix _,
    "v20_ordered_funnel"      -> v20OrderedFunnel _,
    "v19_retention_cohorts"   -> v19RetentionCohorts _,
    "v01_tumbling_counts"     -> v01TumblingCounts _,
    "v02_sessions"            -> v02Sessions _,
    "v03_minute_dedup_counts" -> v03MinuteDedupCounts _,
    "v04_sliding_counts"      -> v04SlidingCounts _,
    "v06_props_profile"       -> v06PropsProfile _,
    "v07_attributed_purchases" -> v07AttributedPurchases _,
    "v08_trailing_spend"       -> v08TrailingSpend _,
    "v09_minute_gap_fill"      -> v09MinuteGapFill _,
    // the actual Structured Streaming micro-batch runtime, replayed to
    // completion — hash-gated against the batch v01/v02/v03 oracles
    "v12_streamed_tumbling"    -> graft.streaming.EventStreams.v12StreamedTumbling _,
    "v13_streamed_sessions"    -> graft.streaming.EventStreams.v13StreamedSessions _,
    "v14_streamed_dedup"       -> graft.streaming.EventStreams.v14StreamedDedup _,
    // the file-source production ingest with a checkpointed mid-stream
    // restart — no MemoryStream involved
    "v15_filesource_tumbling"  -> graft.streaming.EventStreams.v15FileSourceTumbling _,
    "v16_streamed_attribution" -> graft.streaming.EventStreams.v16StreamedAttribution _,
    // the fMGWS custom-state store: hand-rolled state restored across
    // micro-batch boundaries, settled profile vs a plain batch GROUP BY
    "v17_streamed_profiles"    -> graft.streaming.EventStreams.v17StreamedProfiles _,
    // fMGWS in the incremental-emission regime: per-event pair output
    // with batch-boundary-spanning chains, vs v17's settled summaries
    "v23_streamed_transitions" -> graft.streaming.EventStreams.v23StreamedTransitions _,
    // fMGWS with a BOUNDED-deque baseline + EventTimeTimeout hour
    // finalization: the streamed v25 anomaly detector
    "v28_streamed_spikes"      -> graft.streaming.EventStreams.v28StreamedSpikes _,
    // the stream-STATIC broadcast enrichment join: stateless dimension
    // lookup per micro-batch, the one join family v16 doesn't exercise
    "v31_streamed_enrichment"  -> graft.streaming.EventStreams.v31StreamedEnrichment _,
    // the stream-stream join's LEFT-OUTER regime: watermark-proven null
    // emission for unconverted clicks, the eviction path v16 never hits
    "v32_streamed_funnel"      -> graft.streaming.EventStreams.v32StreamedFunnel _,
    // warehouse-as-state streaming ingest dedup over documents: parquet
    // LSH index carried across micro-batches AND a checkpointed restart
    "v18_streamed_ingest_dedup" -> graft.streaming.IngestDedup.v18StreamedIngestDedup _,
    // the embedding twin: banded hyperplane-LSH index (d13's recall-1
    // dials) carried across micro-batches and a checkpointed restart
    "v30_streamed_semantic_dedup" -> graft.streaming.IngestDedup.v30StreamedSemanticDedup _,
  )

  val oracles: Map[String, String] = Map(
    "v25_spike_windows"        -> v25Sql,
    "v26_session_paths"        -> v26Sql,
    "v19_retention_cohorts"    -> v19Sql,
    "v22_experiment_lift"      -> v22Sql,
    "v24_variant_buckets"      -> v24Sql,
    "v20_ordered_funnel"       -> v20Sql,
    "v21_transition_matrix"    -> v21Sql,
    "v07_attributed_purchases" -> v07Sql,
    "v08_trailing_spend"       -> v08Sql,
    "v09_minute_gap_fill"      -> v09Sql,
    "v01_tumbling_counts"     -> v01Sql,
    "v02_sessions"            -> v02Sql,
    "v03_minute_dedup_counts" -> v03Sql,
    "v04_sliding_counts"      -> v04Sql,
    "v06_props_profile"       -> v06Sql,
    "v12_streamed_tumbling"   -> v01Sql, // stream must equal the batch answer
    "v13_streamed_sessions"   -> v02Sql,
    "v23_streamed_transitions" -> v21Sql, // stream must equal the batch answer
    "v28_streamed_spikes"      -> v25Sql, // stream must equal the batch answer
    "v14_streamed_dedup"      -> v03Sql,
    "v15_filesource_tumbling" -> v01Sql,
    "v16_streamed_attribution" -> v07Sql,
    "v31_streamed_enrichment" -> v31Sql,
    "v32_streamed_funnel"     -> v32Sql,
    "v17_streamed_profiles"   -> v17Sql,
    "v18_streamed_ingest_dedup" -> graft.streaming.IngestDedup.v18Sql,
    "v30_streamed_semantic_dedup" -> graft.streaming.IngestDedup.v30Sql,
  )
}
