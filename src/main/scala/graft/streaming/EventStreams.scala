package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import java.sql.Timestamp

/** Structured Streaming pipelines over the `events` stream — the
  * streaming twins of [[graft.operators.EventQueries]] (the reference
  * has no streaming surface, SURVEY.md §2.2 "Streaming"; this is the
  * north-star extension). Each transform takes an unbounded DataFrame
  * (`readStream` file source in production, MemoryStream in tests) with
  * the events schema `(event_id, ts: timestamp, user_id, event_type,
  * value, props)` and returns the streaming DataFrame to hand to
  * `writeStream`.
  *
  * Batch equivalence is the correctness contract: run on a bounded
  * replay of the same rows, each pipeline must produce exactly the
  * batch counterpart's rows (pinned in EventStreamsSpec). That makes
  * the DuckDB oracle for the batch forms transitively cover these.
  *
  * Scale posture (100 TB/day of events):
  *  - All aggregations key state by (window, event_type) or
  *    (user, session) — state is sharded by the shuffle on those keys
  *    across executors; nothing accumulates driver-side.
  *  - Watermarks bound state: 15 min lateness → state for a 10-min
  *    window is dropped ~25 min after its end. Without a watermark the
  *    windowed-state map grows forever.
  *  - `dropDuplicatesWithinWatermark` keeps only in-horizon keys: exact
  *    dedup over an unbounded stream with bounded memory.
  *  - flatMapGroupsWithState holds one small case class per active
  *    user — state size tracks active users, not event volume.
  */
object EventStreams {

  private val D = DecimalType(18, 4)
  private val tsFmt = "yyyy-MM-dd HH:mm:ss"

  /** Allowed event-time lateness of every watermarked transform. */
  val defaultLateness = "15 minutes"

  // ---------------------------------------------------------------------------
  // Tumbling windows (streaming v01)
  // ---------------------------------------------------------------------------

  /** 10-minute tumbling counts+sums per event type. Append-mode capable:
    * a (window, type) result row is emitted once the watermark passes
    * window end. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", defaultLateness)
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("event_count"),
        graft.functions.DecimalSums.dsum(col("value")).as("total_value"))
      .select(
        date_format(col("window.start"), tsFmt).as("window_start"),
        col("event_type"), col("event_count"), col("total_value"))

  // ---------------------------------------------------------------------------
  // Stream-static enrichment join (streaming v31)
  // ---------------------------------------------------------------------------

  /** Stream⋈STATIC dimension enrichment — the join family v16's
    * stream-stream join doesn't touch: each event is enriched with its
    * user's market segment from the bounded `customer` dimension, then
    * rolled up per (10-min window, segment). Stream-static joins are
    * STATELESS on the stream side (no join state store, no watermark
    * needed for the join itself — only the downstream windowed agg
    * needs one), which is why this is THE shape for dimension lookup
    * at 100 TB/day: the dimension broadcasts to every executor once
    * per micro-batch plan and event rows never buffer.
    *
    * The watermark is declared BEFORE the join: rows the inner join
    * drops (unknown users — including the replay harness's flush
    * sentinel, user −1) still advance event time at the watermark
    * node, so windows close even when the last rows seen are
    * non-joining. */
  def segmentRollup(events: DataFrame, customer: DataFrame): DataFrame =
    events
      .withWatermark("ts", defaultLateness)
      .join(broadcast(customer.select(col("c_custkey").as("user_id"),
        col("c_mktsegment"))), Seq("user_id"))
      .groupBy(window(col("ts"), "10 minutes"), col("c_mktsegment"))
      .agg(
        count(lit(1)).as("event_count"),
        graft.functions.DecimalSums.dsum(col("value")).as("total_value"))
      .select(
        date_format(col("window.start"), tsFmt).as("window_start"),
        col("c_mktsegment").as("segment"),
        col("event_count"), col("total_value"))

  // ---------------------------------------------------------------------------
  // Session windows (streaming v02)
  // ---------------------------------------------------------------------------

  /** Gap-based sessionization: a session closes after 30 minutes of
    * user inactivity — the built-in session_window keeps per-(user,
    * session) state and merges windows as late events arrive. Semantics
    * match the batch lag()-based sessionizer in EventQueries.v02Sessions
    * (same 30-min gap rule). */
  def sessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", defaultLateness)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(
        count(lit(1)).as("event_count"),
        date_format(min(col("ts")), tsFmt).as("session_start"),
        ((unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
          .cast(DoubleType) / lit(1000000.0)).as("duration_sec"),
        graft.functions.DecimalSums.dsum(col("value")).as("session_value"))
      .select(col("user_id"), col("event_count"), col("session_start"),
        col("duration_sec"), col("session_value"))

  // ---------------------------------------------------------------------------
  // Streaming dedup (streaming v03)
  // ---------------------------------------------------------------------------

  /** One event per (user, type, minute) with state bounded by the
    * watermark horizon — the streaming form of the batch
    * dropDuplicates in v03. Emits the first arrival, suppresses
    * duplicates arriving within the watermark delay. */
  def minuteDedup(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), col("event_type"),
        date_trunc("minute", col("ts")).as("minute"), col("ts"))
      .withWatermark("ts", defaultLateness)
      .dropDuplicatesWithinWatermark("user_id", "event_type", "minute")
      .select(col("user_id"), col("event_type"), col("minute"))

  // ---------------------------------------------------------------------------
  // Stream-stream interval join (streaming v07)
  // ---------------------------------------------------------------------------

  /** Click→purchase attribution as a watermarked stream-stream self-join:
    * each purchase joins every click by the same user in the preceding
    * 30 minutes. Both sides carry a watermark AND the join condition
    * bounds purchase_ts to [click_ts, click_ts + 30 min] — that pair is
    * what lets Spark expire join state: a buffered click can be dropped
    * once the purchase-side watermark passes click_ts + 30 min, so state
    * is one watermark-horizon of clicks per shuffle partition, not the
    * whole history. Semantics match the batch
    * EventQueries.v07AttributedPurchases (oracle-checked); equivalence
    * pinned in EventStreamsSpec. */
  def attributedPurchases(events: DataFrame): DataFrame =
    attributionJoin(events, "inner")

  /** The watermarked click⋈purchase interval join behind
    * [[attributedPurchases]] (inner) and [[attributionFunnel]]
    * (left outer). */
  private def attributionJoin(events: DataFrame, joinType: String): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", defaultLateness)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", defaultLateness)
    clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
        joinType)
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        ((unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
          .cast(DoubleType) / lit(1000000.0)).as("lag_sec"),
        col("value").as("purchase_value"))
  }

  /** As [[attributedPurchases]] but LEFT OUTER: clicks that never
    * convert still emit (null purchase columns) — but only once the
    * watermark proves no in-window purchase can still arrive, i.e. the
    * null row for a click surfaces after the purchase-side watermark
    * passes click_ts + 30 min. Same state bound as the inner form. */
  def attributionFunnel(events: DataFrame): DataFrame =
    attributionJoin(events, "left_outer")

  // ---------------------------------------------------------------------------
  // Custom state: per-user running profile via flatMapGroupsWithState
  // ---------------------------------------------------------------------------

  /** Input row shape for the stateful profile. */
  final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                      event_type: String, value: Double)

  /** Mutable-per-user accumulator carried across micro-batches.
    * `totalValueE4` holds the running sum in ten-thousandths (a scaled
    * Long): a Double accumulator would round at every micro-batch
    * boundary once totals grow past ~15 significant digits, making the
    * final profile depend on how a replay happened to batch the rows. */
  final case class UserState(events: Long, totalValueE4: Long,
                             firstTs: Long, lastTs: Long)

  /** Emitted once per user per micro-batch that touched the user. */
  final case class UserProfile(user_id: Long, events: Long,
                               total_value: Double, active_span_sec: Double)

  /** Per-user lifetime profile with explicit state — the escape hatch
    * for aggregations the built-in operators can't express (here:
    * first/last-seen span plus running totals, emitted incrementally).
    * State: one UserState per user, kept without timers: processing-time
    * timers force perpetual no-data micro-batches, so a bounded replay
    * would never settle. */
  def userProfiles(events: Dataset[Ev]): Dataset[UserProfile] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserState, UserProfile](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[Ev], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(
            UserState(0L, 0L, Long.MaxValue, Long.MinValue))
          // integer accumulation in ten-thousandths: micro-batch
          // boundaries are not deterministic, so the state must not
          // round between batches (see UserState doc)
          var n = prev.events
          var totE4 = prev.totalValueE4
          var first = prev.firstTs
          var last = prev.lastTs
          rows.foreach { e =>
            n += 1
            totE4 += BigDecimal(e.value)
              .setScale(4, BigDecimal.RoundingMode.HALF_UP)
              .bigDecimal.unscaledValue.longValueExact()
            val t = e.ts.getTime
            if (t < first) first = t
            if (t > last) last = t
          }
          state.update(UserState(n, totE4, first, last))
          Iterator.single(UserProfile(
            userId, n, totE4 / 1e4, (last - first) / 1000.0))
      }
  }

  /** One observed behavioral transition, emitted incrementally. */
  final case class Trans(prev_type: String, event_type: String)

  /** Last-seen event type per user, carried across micro-batches. */
  final case class LastType(tpe: String)

  /** Incremental per-user transition emission — the streaming form of
    * the v21 first-order Markov matrix: state is ONE string per active
    * user (the last event type seen), and each micro-batch emits the
    * (prev, next) pairs its events complete, including the pair that
    * SPANS the batch boundary (batch N's last event chains to batch
    * N+1's first — the part a per-batch window could never see).
    * Events inside a batch are ordered by full-microsecond (ts,
    * event_id) — the same total order the batch twin's lag window
    * uses. */
  def transitionPairs(events: Dataset[Ev]): Dataset[Trans] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastType, Trans](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[Ev], state: GroupState[LastType]) =>
          val types = rows.toSeq
            .sortBy(e => (e.ts.toInstant.getEpochSecond * 1000000L +
              e.ts.getNanos / 1000, e.event_id))
            .map(_.event_type)
          if (types.isEmpty) Iterator.empty
          else {
            val chain = state.getOption.map(_.tpe).toSeq ++ types
            state.update(LastType(chain.last))
            chain.sliding(2).collect { case Seq(a, b) => Trans(a, b) }
          }
      }
  }

  /** Per-type spike-detector state: the hour being accumulated (-1 =
    * none pending), its running count, and the counts of the up-to-six
    * most recent FINALIZED hours (the trailing baseline). */
  final case class HourState(hour: Long, cnt: Long, trail: Seq[Long])

  /** One finalized hour of one event type, with its trailing baseline
    * and the integer-exact spike flag (the batch v25 shape). */
  final case class SpikeRow(event_type: String, hour_start: Timestamp,
                            event_count: Long, trail_n: Long,
                            trail_sum: Long, is_spike: Boolean)

  /** Streaming twin of the batch v25 spike detector: fMGWS keyed by
    * event type, carrying a BOUNDED deque of the last six finalized
    * hourly counts across micro-batch boundaries. An hour finalizes
    * when a later-hour event of the same type arrives in-line, or —
    * for idle types and at end of stream — when the event-time
    * watermark passes its EventTimeTimeout (the far-future sentinel
    * closes every pending hour, so the bounded replay settles). A
    * timeout finalizes but KEEPS the trail in state, so a type that
    * goes quiet and returns continues its baseline exactly like the
    * batch ROWS frame over observed hours. State per key is O(6)
    * longs — watermark-independent, unconditionally bounded. */
  def spikeHourly(events: Dataset[Ev]): Dataset[SpikeRow] = {
    import events.sparkSession.implicits._
    events.toDF().withWatermark("ts", defaultLateness).as[Ev]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[HourState, SpikeRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (tpe: String, rows: Iterator[Ev], state: GroupState[HourState]) =>
          def finalizeHour(st: HourState): (SpikeRow, HourState) = {
            val tn = st.trail.size.toLong
            val tsum = st.trail.sum
            (SpikeRow(tpe, new Timestamp(st.hour * 3600000L), st.cnt, tn,
              tsum, tn == 6 && st.cnt * 3 > tsum),
              HourState(-1L, 0L, (st.trail :+ st.cnt).takeRight(6)))
          }
          if (state.hasTimedOut) {
            state.getOption.filter(_.hour >= 0) match {
              case Some(st) =>
                val (row, next) = finalizeHour(st)
                state.update(next) // keep the trail: the type may return
                Iterator.single(row)
              case None => Iterator.empty
            }
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            if (sorted.isEmpty) Iterator.empty
            else {
              var st = state.getOption.getOrElse(HourState(-1L, 0L, Nil))
              val out = scala.collection.mutable.ArrayBuffer[SpikeRow]()
              sorted.foreach { e =>
                val h = Math.floorDiv(e.ts.getTime, 3600000L)
                if (st.hour == h) st = st.copy(cnt = st.cnt + 1)
                else {
                  if (st.hour >= 0) {
                    val (row, next) = finalizeHour(st)
                    out += row
                    st = next
                  }
                  st = st.copy(hour = h, cnt = 1L)
                }
              }
              state.update(st)
              // fires only once the watermark proves no same-or-earlier
              // hour rows can still arrive (the replay is ts-ordered)
              state.setTimeoutTimestamp(sorted.last.ts.getTime + 2 * 3600000L)
              out.iterator
            }
          }
      }
  }

  // ---------------------------------------------------------------------------
  // Gate query: the actual micro-batch runtime, replayed to completion
  // ---------------------------------------------------------------------------

  private val sinkId = new java.util.concurrent.atomic.AtomicLong(0)

  /** Shuffle (and so state) partitions of the bounded replay harnesses
    * (v12–v17, v18/v30, the ScalingBench streaming suites): every
    * stateful operator pays one state-store commit (delta file +
    * snapshot bookkeeping) per partition per micro-batch, and the
    * per-batch joins move kilobytes, so 32 partitions quadruple the
    * fixed IO for zero parallelism benefit. Results are
    * partition-count-independent (swept in DeterminismSpec); a
    * production deployment sizes this to the cluster instead. */
  private[graft] val replayPartitions = 8

  /** Far-future sentinel event: pushes the event-time watermark past all
    * real data so every append-mode window closes and emits. */
  private val flushSentinel =
    Ev(-1L, Timestamp.valueOf("2100-01-01 00:00:00"), -1L, "sentinel", 0.0)

  /** Replay the events table through a MemoryStream in four
    * event-time-ordered micro-batches — so watermark advancement, state
    * carry-over between batches, and append-mode emission are all
    * genuinely exercised by the REAL micro-batch runtime, not just the
    * batch semantics of the same plan — flush with a far-future
    * sentinel so every append-mode window closes, and return the
    * settled memory-sink table (sentinel-derived rows still present;
    * callers filter them by their own output shape).
    *
    * The driver-side collect here is the MemoryStream REPLAY HARNESS,
    * not the operator: MemoryStream is driver-resident by construction
    * (it exists to feed deterministic tests). The production ingest is
    * [[readEvents]] (file source, executor-side) feeding the identical
    * transforms. */
  private def replayThroughRuntime(spark: SparkSession, dir: String,
      transform: DataFrame => DataFrame,
      rowFilter: org.apache.spark.sql.Column = lit(true),
      flush: Seq[Ev] = Seq(flushSentinel)): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // rowFilter drops rows the transform's FIRST operator would discard
    // anyway (e.g. v16 only consumes clicks+purchases) — replay volume
    // shrinks, semantics cannot change
    val rows = graft.Tables.events(spark, dir)
      .filter(rowFilter)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Ev].collect()
      // event-time order across batch boundaries: the watermark from
      // batch N (max ts − lateness) must never classify batch N+1 rows
      // as late, or the stream would drop what the batch oracle counts
      .sortBy(e => (e.ts.getTime, e.event_id))
    val name = s"graft_stream_sink_${sinkId.incrementAndGet()}"
    val ms = MemoryStream[Ev](spark)
    // Checkpoint the REPLAY HARNESS on tmpfs when the host has one.
    // Every micro-batch commits one fsync'd delta file per state-store
    // instance (a stream-stream join = 4 stores × 8 partitions = 32
    // fsyncs per batch, data or not — measured ~0.9 s/batch even for
    // 0-row no-data batches on a disk-backed java.io.tmpdir, and the
    // round-13 adjudication caught v32 at 2.1× floor purely from fsync
    // latency drift the CPU anchor is blind to). The bounded replay's
    // checkpoint is pure harness scaffolding — it is never restarted
    // from — so RAM-backed durability is sound here; the production
    // path (v15 / sinkToWarehouse) keeps explicit on-disk checkpoints
    // because THOSE are the crash-recovery contract.
    val ckptBase = {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) shm.toPath
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    }
    val ckpt = java.nio.file.Files.createTempDirectory(ckptBase, "graft_replay_ckpt_")
    try graft.GraftSession.withConf(spark)(
        "spark.sql.shuffle.partitions" -> replayPartitions.toString) {
      val q = transform(ms.toDF()).writeStream
        .format("memory").queryName(name)
        .option("checkpointLocation", ckpt.toString)
        .outputMode(OutputMode.Append()).start()
      try {
        val batchSize = math.max(1, rows.length / 4 + 1)
        rows.grouped(batchSize).foreach { b =>
          ms.addData(b.toSeq); q.processAllAvailable()
        }
        ms.addData(flush); q.processAllAvailable()
      } finally q.stop()
    } finally {
      // tmpfs is RAM — a leaked checkpoint dir is leaked memory
      new scala.reflect.io.Directory(ckpt.toFile).deleteRecursively()
    }
    // the frame keeps the sink's rows through its resolved plan; the
    // view itself would pin them for the session's lifetime
    val out = spark.table(name)
    spark.catalog.dropTempView(name)
    out
  }

  /** v12 — tumbling counts computed by the streaming runtime, hash-gated
    * against the SAME DuckDB oracle as the batch v01: the micro-batch
    * path must reproduce the batch answer exactly. */
  def v12StreamedTumbling(spark: SparkSession, dir: String): DataFrame =
    replayThroughRuntime(spark, dir, tumblingCounts(_))
      .filter(col("event_type") =!= "sentinel")
      .orderBy(col("window_start"), col("event_type"))

  /** v13 — session windows computed by the streaming runtime (the
    * session-MERGE state store, which v12's simple window state never
    * touches), hash-gated against batch v02's oracle. The settled sink
    * has one row per (user, session); the batch shape's ordinal
    * `session_id` is assigned post-settle by session start order —
    * sound because two sessions of one user are >30 min apart, so
    * second-precision `session_start` strings order them totally. */
  def v13StreamedSessions(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("session_start"))
    replayThroughRuntime(spark, dir, sessions(_))
      .filter(col("user_id") >= 0) // drop the sentinel user's session
      .withColumn("session_id", row_number().over(w).cast("bigint"))
      .select(col("user_id"), col("session_id"), col("event_count"),
        col("session_start"), col("duration_sec"), col("session_value"))
      .orderBy(col("user_id"), col("session_id"))
      .limit(2000)
  }

  /** v14 — watermark dedup computed by the streaming runtime (the
    * dropDuplicatesWithinWatermark state store), hash-gated against
    * batch v03's oracle. The replay is event-time ordered, so every
    * duplicate of a (user, type, minute) key lands within the watermark
    * horizon of its first arrival and the stream's dedup is exact. */
  def v14StreamedDedup(spark: SparkSession, dir: String): DataFrame =
    replayThroughRuntime(spark, dir, minuteDedup(_))
      .filter(col("event_type") =!= "sentinel")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("deduped_count"))
      .orderBy(col("event_type"))

  /** v31 — the stream-STATIC enrichment join through the runtime: the
    * broadcast dimension must be re-resolved against every micro-batch
    * (a stateless join each batch, no join state store), and the
    * downstream windowed aggregate's state must close correctly when
    * the stream's last rows are non-joining (the sentinel advances the
    * watermark at the pre-join watermark node, then the join drops
    * it). Hash-gated against DuckDB running the same events⋈customer
    * rollup as one batch query. */
  def v31StreamedEnrichment(spark: SparkSession, dir: String): DataFrame = {
    val dim = graft.Tables.customer(spark, dir)
    replayThroughRuntime(spark, dir, segmentRollup(_, dim))
      .orderBy(col("window_start"), col("segment"))
  }

  /** v16 — the stream-stream interval JOIN state store through the
    * runtime, the one store v12–v14 never touch: clicks and purchases
    * are buffered on both sides of the watermarked self-join across
    * micro-batch boundaries (a purchase in batch N+1 must still find
    * its batch-N click in the join state). Inner-join matches emit
    * without waiting for the watermark, so the replay settles without
    * type-specific sentinels; hash-gated against batch v07's oracle. */
  def v16StreamedAttribution(spark: SparkSession, dir: String): DataFrame =
    replayThroughRuntime(spark, dir, attributedPurchases(_),
        rowFilter = col("event_type").isin("click", "purchase"))
      .orderBy(col("click_id"), col("purchase_id"))
      .limit(2000)

  /** v32 — the stream-stream join's LEFT-OUTER regime through the
    * runtime: where v16's inner matches emit eagerly, an unconverted
    * click's null row may only surface once the PURCHASE-side watermark
    * proves no in-window purchase can still arrive — the state-store
    * eviction path v16 never exercises. The generic flush sentinel
    * can't close it (type "sentinel" fails both side filters and never
    * advances their watermarks — the v16 lesson), so the flush is a
    * pair of far-future type-specific rows on users no real row can
    * join (-2/-3, different users so they can't join each other; the
    * crafted click's own null emission is dropped post-settle with the
    * real sentinel rows). Hash-gated against the batch LEFT JOIN
    * oracle. */
  def v32StreamedFunnel(spark: SparkSession, dir: String): DataFrame =
    replayThroughRuntime(spark, dir, attributionFunnel(_),
        rowFilter = col("event_type").isin("click", "purchase"),
        flush = Seq(
          Ev(-2L, Timestamp.valueOf("2100-01-01 00:00:00"), -2L, "click", 0.0),
          Ev(-3L, Timestamp.valueOf("2100-06-01 00:00:00"), -3L, "purchase", 0.0)))
      .filter(col("user_id") >= 0)
      .orderBy(col("click_id"), col("purchase_id").asc_nulls_last)
      .limit(2000)

  /** v17 — the flatMapGroupsWithState CUSTOM-STATE store through the
    * runtime — the fifth and last stateful-operator family v12–v16
    * never touch: [[userProfiles]]'s hand-rolled `UserState` must be
    * restored, mutated, and re-persisted across micro-batch boundaries
    * (a user active in batches 1 and 3 carries batch-1 state through
    * batch 2's commit). Each micro-batch that touches a user emits an
    * interim profile; the SETTLED profile per user is the emission with
    * the highest event count (the count is strictly monotone per user),
    * and that lifetime profile must hash-match a plain batch GROUP BY —
    * count, exact scaled-decimal value sum, and first→last-seen span. */
  def v17StreamedProfiles(spark: SparkSession, dir: String): DataFrame = {
    implicit val evEnc: org.apache.spark.sql.Encoder[Ev] =
      org.apache.spark.sql.Encoders.product[Ev]
    replayThroughRuntime(spark, dir, df => userProfiles(df.as[Ev]).toDF())
      .filter(col("user_id") >= 0) // drop the sentinel user's profile
      .groupBy(col("user_id"))
      // events is strictly increasing across a user's emissions, so the
      // struct max IS the final emission — no ties possible
      .agg(max(struct(col("events"), col("total_value"),
        col("active_span_sec"))).as("m"))
      .select(col("user_id"), col("m.events").as("event_count"),
        col("m.total_value").as("total_value"),
        col("m.active_span_sec").as("active_span_sec"))
      .orderBy(col("user_id"))
  }

  /** v23 — the streamed transition matrix: [[transitionPairs]]' pair
    * emissions through the runtime (the fMGWS store again, but in the
    * INCREMENTAL-emission regime — per-event output with a
    * boundary-spanning chain, where v17 emits settled summaries),
    * aggregated post-settle into the same (count, row-share) matrix as
    * batch v21 and hash-gated against v21's oracle. The sentinel user
    * (-1) has a single event and therefore completes no pair; the
    * filter is belt-and-braces. */
  def v23StreamedTransitions(spark: SparkSession, dir: String): DataFrame = {
    implicit val evEnc: org.apache.spark.sql.Encoder[Ev] =
      org.apache.spark.sql.Encoders.product[Ev]
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("prev_type"))
    replayThroughRuntime(spark, dir, df => transitionPairs(df.as[Ev]).toDF())
      .filter(col("prev_type") =!= "sentinel" &&
        col("event_type") =!= "sentinel")
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p_r", round(
        col("n").cast("double") / sum(col("n")).over(w).cast("double"), 6))
      .orderBy(col("prev_type"), col("event_type"))
  }

  /** v28 — the spike detector computed by the streaming runtime
    * (bounded-deque fMGWS state + EventTimeTimeout finalization),
    * hash-gated against batch v25's oracle: every finalized hour, its
    * trailing baseline, and the spike flag must match the batch ROWS
    * frame exactly, including the final pending hour of every type
    * (closed by the sentinel-driven timeout sweep). */
  def v28StreamedSpikes(spark: SparkSession, dir: String): DataFrame = {
    implicit val evEnc: org.apache.spark.sql.Encoder[Ev] =
      org.apache.spark.sql.Encoders.product[Ev]
    replayThroughRuntime(spark, dir, df => spikeHourly(df.as[Ev]).toDF())
      .filter(col("event_type") =!= "sentinel")
      .select(col("event_type"),
        date_format(col("hour_start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_count"), col("trail_n"), col("trail_sum"), col("is_spike"))
      .orderBy(col("event_type"), col("hour_start"))
  }

  /** v15 — the PRODUCTION ingest path, gate-exercised end to end: the
    * events table is staged as three time-sliced parquet files, streamed
    * by [[readEvents]] (`maxFilesPerTrigger = 1` forces one file per
    * micro-batch), landed through the exactly-once [[sinkToWarehouse]],
    * STOPPED after the first two files (a crash stand-in), and restarted
    * from the checkpoint to consume the rest — files that arrived while
    * the query was down, carrying later event times than the restored
    * watermark. The landed result must hash-match the batch v01 oracle:
    * no loss, no dupes, no driver-fed MemoryStream anywhere. */
  def v15FileSourceTumbling(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Staging.scratch("v15") { base =>
      val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
      val ev = graft.Tables.events(spark, dir)
      val mm = ev.agg(min(col("ts")), max(col("ts"))).head()
      val (t0, t1) = (mm.getTimestamp(0).getTime, mm.getTimestamp(1).getTime)
      val cut1 = new Timestamp(t0 + (t1 - t0) / 3)
      val cut2 = new Timestamp(t0 + 2 * (t1 - t0) / 3)
      // mtime-stamped staging: discovery order == staging order
      val stage = Staging.stager(src)
      stage(ev.filter(col("ts") < lit(cut1)))
      stage(ev.filter(col("ts") >= lit(cut1) && col("ts") < lit(cut2)))
      def start() = sinkToWarehouse(
        tumblingCounts(readEvents(spark, src)), out, ckpt)
      val q1 = start()
      try q1.processAllAvailable() finally q1.stop()
      // the rest of the stream (and the flush sentinel) lands while down
      stage(ev.filter(col("ts") >= lit(cut2)))
      stage(Seq((-1L, flushSentinel.ts, -1L, "sentinel", 0.0, ""))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      spark.read.parquet(out)
        .filter(col("event_type") =!= "sentinel").drop("batch_id")
        .orderBy(col("window_start"), col("event_type"))
    }
  }

  // ---------------------------------------------------------------------------
  // Production entry points (file-source streams)
  // ---------------------------------------------------------------------------

  /** The stream's wire schema (micro-second timestamps — the batch
    * loader's post-conversion shape, see [[graft.Tables.events]]). */
  val eventsSchemaDdl: String =
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"

  /** Unbounded file-source reader for an events directory: new parquet
    * files appearing under `dir` become micro-batches, one file per
    * batch, so one huge backlog can't blow executor memory at 100 TB
    * replay. */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(eventsSchemaDdl)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)

  /** Production sink: land a streaming result in the parquet warehouse
    * with end-to-end exactly-once-per-batch semantics.
    *
    * foreachBatch gives at-least-once batch delivery (a batch replays
    * after a crash between sink write and checkpoint commit), so the
    * write must be IDEMPOTENT: each batch writes into its own
    * `batch_id=` partition with dynamic partition overwrite — a
    * replayed batch overwrites exactly its own output, never a
    * neighbor's. Combined with `checkpointDir` (offsets + state), a
    * restarted query resumes mid-stream with no loss and no dupes;
    * pinned by the kill-and-restart spec. Readers drop the `batch_id`
    * column (or compact it away — [[graft.sources.Warehouse.compact]]). */
  def sinkToWarehouse(streamed: DataFrame, outDir: String,
                      checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    streamed.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batch.withColumn("batch_id", lit(id))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outDir)
        ()
      }
      .start()
}
