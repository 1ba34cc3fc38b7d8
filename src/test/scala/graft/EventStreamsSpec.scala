package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import java.sql.Timestamp

import graft.operators.EventQueries
import graft.streaming.EventStreams
import graft.streaming.EventStreams.{Ev, UserProfile}

/** Deterministic replay tests: each streaming pipeline, fed the sf0.001
  * events through a MemoryStream (plus a far-future sentinel that pushes
  * the watermark past all real data so append-mode state flushes), must
  * emit exactly what its batch twin computes. This is the correctness
  * story for the streaming surface — the batch twins are DuckDB-oracle
  * checked, so equivalence extends the oracle to the streams. */
class EventStreamsSpec extends SparkSpec {
  import spark.implicits._

  private def events: Dataset[Ev] =
    Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Ev]

  /** Sentinel a year past the corpus: advances the event-time watermark
    * beyond every real window/session so they all close and emit. */
  private val sentinel =
    Ev(-1L, Timestamp.valueOf("2025-01-30 00:00:00"), -1L, "sentinel", 0.0)

  private var qn = 0

  /** Run a streaming transform over the full corpus + sentinel in
    * append mode; return the memory-sink table of emitted rows. */
  private def replay(build: DataFrame => DataFrame,
                     batches: Seq[Seq[Ev]] = null): DataFrame = {
    qn += 1
    val name = s"stream_out_$qn"
    val ms = MemoryStream[Ev](spark)
    val q = build(ms.toDF()).writeStream
      .format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    val data = Option(batches).getOrElse(Seq(events.collect().toSeq))
    data.foreach { b => ms.addData(b); q.processAllAvailable() }
    ms.addData(Seq(sentinel)); q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  private def assertSameRows(streamed: DataFrame, batch: DataFrame): Unit = {
    val cols = batch.columns.sorted.map(col)
    val s = streamed.select(cols: _*)
    val b = batch.select(cols: _*)
    val extra = s.exceptAll(b).count()
    val missing = b.exceptAll(s).count()
    assert(extra == 0 && missing == 0,
      s"stream vs batch divergence: extra=$extra missing=$missing")
  }

  test("tumblingCounts replay matches batch v01 exactly") {
    val streamed = replay(EventStreams.tumblingCounts(_))
      .filter($"event_type" =!= "sentinel")
    assertSameRows(streamed, EventQueries.v01TumblingCounts(spark, sf))
  }

  test("replay gates drop their memory-sink views; the frames still collect") {
    val v12 = EventStreams.v12StreamedTumbling(spark, sf)
    val v13 = EventStreams.v13StreamedSessions(spark, sf)
    val sinks = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_stream_sink_"))
    assert(sinks.isEmpty, s"leaked sink views: ${sinks.mkString(", ")}")
    assert(v13.count() > 0)
    val batch = EventQueries.v01TumblingCounts(spark, sf)
    val cols = batch.columns.sorted.map(col)
    val got = v12.select(cols: _*).collect().map(_.toString).sorted.toSeq
    val want = batch.select(cols: _*).collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty && got == want)
  }

  test("slidingCounts replay matches batch v04 (first 2000 windows)") {
    // 10-minute windows sliding every 5: each event lands in two windows
    val streamed = replay(_
        .withWatermark("ts", EventStreams.defaultLateness)
        .groupBy(window($"ts", "10 minutes", "5 minutes"))
        .agg(count(lit(1)).as("event_count"),
          graft.functions.DecimalSums.dsum($"value").as("total_value"))
        .select(date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("window_start"),
          $"event_count", $"total_value"))
      // drop the sentinel's two windows (start >= 2025)
      .filter($"window_start" < "2025-01-01")
      .orderBy($"window_start").limit(2000)
    assertSameRows(streamed, EventQueries.v04SlidingCounts(spark, sf))
  }

  test("v23 streamed transitions match the batch v21 matrix exactly") {
    assertSameRows(
      EventStreams.v23StreamedTransitions(spark, sf),
      EventQueries.v21TransitionMatrix(spark, sf))
  }

  test("sessions replay matches the batch sessionizer") {
    val streamed = replay(EventStreams.sessions(_))
      .filter($"user_id" =!= -1L)
    val batch = EventQueries.v02Sessions(spark, sf)
      .drop("session_id")
    assert(batch.count() < 2000, "fixture outgrew v02's limit; rework test")
    assertSameRows(streamed, batch)
  }

  test("minuteDedup replay matches batch v03 counts, duplicates suppressed") {
    val all = events.collect().toSeq
    // feed every event twice in separate batches: within-watermark
    // duplicates must be suppressed by state, not by chance
    val streamed = replay(EventStreams.minuteDedup(_), Seq(all, all))
      .filter($"user_id" =!= -1L)
      .groupBy($"event_type").agg(count(lit(1)).as("deduped_count"))
    assertSameRows(streamed, EventQueries.v03MinuteDedupCounts(spark, sf))
  }

  test("file-source stream end-to-end: readEvents + tumblingCounts matches batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    try {
      // stage the corpus as TWO files so the source takes multiple batches
      val ev = Tables.events(spark, sf)
      ev.filter($"event_id" % 2 === 0).coalesce(1).write.mode("append").parquet(dir)
      ev.filter($"event_id" % 2 === 1).coalesce(1).write.mode("append").parquet(dir)
      qn += 1
      val name = s"stream_out_$qn"
      val q = EventStreams.tumblingCounts(
          EventStreams.readEvents(spark, dir))
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      q.processAllAvailable()
      // sentinel file pushes the watermark past all real windows
      Seq((-1L, java.sql.Timestamp.valueOf("2025-01-30 00:00:00"), -1L, "sentinel", 0.0, ""))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
      q.stop()
      val streamed = spark.table(name).filter($"event_type" =!= "sentinel")
      assertSameRows(streamed, EventQueries.v01TumblingCounts(spark, sf))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("stream-static banded range join matches the batch banded join") {
    val t0 = events.agg(min($"ts")).head().getTimestamp(0).toInstant
    val ivs = (0 until 6).map { i =>
      (i, Timestamp.from(t0.plusSeconds(i * 7200L)),
        Timestamp.from(t0.plusSeconds(i * 7200L + 5400L)))
    }.toDF("iv_id", "w_start", "w_end")
    val streamed = replay(df => graft.operators.RangeJoin.banded(
      df, $"ts", ivs, $"w_start", $"w_end", 3600L * 1000000L))
    val batch = graft.operators.RangeJoin.banded(
      events.toDF(), $"ts", ivs, $"w_start", $"w_end", 3600L * 1000000L)
    assert(batch.count() > 0, "fixture must produce matches")
    assertSameRows(streamed, batch)
  }

  test("segmentRollup replay matches the batch enrichment rollup") {
    val dim = Tables.customer(spark, sf)
    // the sentinel (user −1) matches no customer: the inner join drops
    // it AFTER it advanced the watermark — windows must still close
    val streamed = replay(EventStreams.segmentRollup(_, dim))
    val batch = Tables.events(spark, sf)
      .join(dim.select($"c_custkey".as("user_id"), $"c_mktsegment"),
        Seq("user_id"))
      .groupBy(window($"ts", "10 minutes"), $"c_mktsegment")
      .agg(count(lit(1)).as("event_count"),
        graft.functions.DecimalSums.dsum($"value").as("total_value"))
      .select(date_format($"window.start", "yyyy-MM-dd HH:mm:ss")
        .as("window_start"), $"c_mktsegment".as("segment"),
        $"event_count", $"total_value")
    assert(batch.count() > 0, "fixture must produce enriched windows")
    assertSameRows(streamed, batch)
  }

  test("attributedPurchases replay matches batch v07 exactly") {
    val streamed = replay(EventStreams.attributedPurchases(_))
    assertSameRows(streamed, EventQueries.v07AttributedPurchases(spark, sf))
  }

  test("attributedPurchases: multi-click attribution and window edge") {
    def ev(id: Long, t: String, u: Long, typ: String) =
      Ev(id, Timestamp.valueOf(t), u, typ, 1.0)
    val crafted = Seq(
      ev(1, "2024-01-01 10:00:00", 7, "click"),
      ev(2, "2024-01-01 10:20:00", 7, "click"),
      ev(3, "2024-01-01 10:30:00", 7, "purchase"),  // joins clicks 1 AND 2
      ev(4, "2024-01-01 12:00:00", 7, "click"),
      ev(5, "2024-01-01 12:31:00", 7, "purchase"),  // 31 min > window: no pair
      ev(6, "2024-01-01 10:25:00", 8, "click"))     // other user: no pair
    val got = replay(EventStreams.attributedPurchases(_), Seq(crafted))
      .select($"click_id", $"purchase_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 3L), (2L, 3L)))
  }

  test("attributionFunnel: unconverted clicks emit nulls after watermark") {
    def ev(id: Long, t: String, u: Long, typ: String) =
      Ev(id, Timestamp.valueOf(t), u, typ, 1.0)
    val crafted = Seq(
      ev(1, "2024-01-01 10:00:00", 7, "click"),
      ev(2, "2024-01-01 10:10:00", 7, "purchase"),  // converts click 1
      ev(3, "2024-01-01 11:00:00", 9, "click"))     // never converts
    // outer-join eviction needs (a) watermark-advancing rows that pass
    // the click/purchase FILTERS — the type-filtered replay sentinel
    // never reaches the watermark operator — and (b) one further batch:
    // eviction runs with the watermark computed at the END of the
    // previous batch. So: far-future click+purchase advance both
    // watermarks in batch 2; replay()'s trailing sentinel batch then
    // evicts click 3 and emits its null row.
    val wmPush = Seq(
      ev(98, "2024-06-01 00:00:00", 98, "click"),
      ev(99, "2024-06-01 00:00:00", 99, "purchase"))
    val got = replay(EventStreams.attributionFunnel(_), Seq(crafted, wmPush))
      .filter($"click_id" < 90)
      .select($"click_id", $"purchase_id")
      .as[(Long, Option[Long])].collect().toSet
    assert(got == Set((1L, Some(2L)), (3L, None)))
  }

  test("sinkToWarehouse: checkpoint restart resumes with no loss or dupes") {
    val base = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    try {
      val ev = Tables.events(spark, sf)
      // three source files SPLIT BY TIME — the checkpoint restores the
      // watermark on restart, so data landing while the query is down
      // must carry later event times (id-sliced full-range files would
      // be legitimately dropped as late)
      val (c1, c2) = ("2024-01-10", "2024-01-20")
      ev.filter($"ts" < c1).coalesce(1).write.mode("append").parquet(src)
      ev.filter($"ts" >= c1 && $"ts" < c2).coalesce(1).write.mode("append").parquet(src)
      val q1 = EventStreams.sinkToWarehouse(
        EventStreams.tumblingCounts(
          EventStreams.readEvents(spark, src)),
        out, ckpt)
      q1.processAllAvailable()
      q1.stop() // "crash": the third file lands while the query is down
      ev.filter($"ts" >= c2).coalesce(1).write.mode("append").parquet(src)
      // sentinel closes all real windows so append-mode emits them
      Seq((-1L, java.sql.Timestamp.valueOf("2025-01-30 00:00:00"), -1L, "sentinel", 0.0, ""))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(src)
      val q2 = EventStreams.sinkToWarehouse(
        EventStreams.tumblingCounts(
          EventStreams.readEvents(spark, src)),
        out, ckpt)
      q2.processAllAvailable()
      q2.stop()
      val landed = spark.read.parquet(out)
        .filter($"event_type" =!= "sentinel").drop("batch_id")
      assertSameRows(landed, EventQueries.v01TumblingCounts(spark, sf))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(base)).deleteRecursively()
    }
  }

  test("userProfiles accumulates state across micro-batches") {
    val all = events.collect().toSeq.sortBy(_.ts.getTime)
    val (h1, h2) = all.splitAt(all.size / 2)
    qn += 1
    val name = s"stream_out_$qn"
    val ms = MemoryStream[Ev](spark)
    val q = EventStreams.userProfiles(ms.toDS()).writeStream
      .format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    ms.addData(h1); q.processAllAvailable()
    ms.addData(h2); q.processAllAvailable()
    q.stop()
    // last emission per user (max events — the count is monotone)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"events".desc)
    val finalProfiles = spark.table(name)
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1).drop("rn")
    val expected = events.toDF()
      .groupBy($"user_id")
      .agg(
        count(lit(1)).as("events"),
        sum($"value".cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("total_value"),
        ((unix_millis(max($"ts")) - unix_millis(min($"ts"))) / 1000.0)
          .as("active_span_sec"))
    assertSameRows(finalProfiles, expected)
  }

  test("streamed spike detector matches batch v25, pending hours closed by timeout") {
    assertSameRows(
      graft.streaming.EventStreams.v28StreamedSpikes(spark, sf),
      graft.operators.EventQueries.v25SpikeWindows(spark, sf))
  }
}
