package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Graph

class ScalePolicySpec extends SparkSpec {

  /** `body`'s result and the number of jobs it started, counted by a
    * SparkListener. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    ListenerBus.drain(sc)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val a = body
      ListenerBus.drain(sc)
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def frame(parts: Int): DataFrame =
    spark.range(0, 1000, 1, parts).toDF().filter(col("id") % 3 =!= 0)

  test("checkpoint counts what count() counts, at 1, 4 and 7 partitions and empty") {
    for (p <- Seq(1, 4, 7)) {
      val df = frame(p)
      val cp = ScalePolicy.checkpoint(df, min(col("id")).as("lo"))
      assert(cp.rows == df.count(), s"at $p partitions")
      assert(cp.long("lo") == 1L)
    }
    val empty = frame(4).filter(col("id") < 0)
    val cp = ScalePolicy.checkpoint(empty, min(col("id")).as("lo"))
    assert(cp.rows == 0L && empty.count() == 0L)
    // an aggregate over no rows is null: reading it fails, never 0
    intercept[IllegalArgumentException](cp.long("lo"))
  }

  test("checkpoint starts exactly one job and its frame still reads") {
    val df = frame(4)
    val (cp, jobs) = jobsDuring(
      ScalePolicy.checkpoint(df, sum(col("id")).as("s")))
    assert(jobs == 1, s"expected one job, got $jobs")
    assert(cp.long("s") == df.agg(sum(col("id"))).head().getLong(0))
    assert(cp.frame.count() == cp.rows)
    assert(cp.frame.orderBy(col("id")).head().getLong(0) == 1L)
  }

  test("each envelope broadcasts at its cap and not one row past it") {
    val big = spark.range(0, 100).withColumnRenamed("id", "k")
    val small = spark.range(0, 10).withColumnRenamed("id", "k")
    GraftSession.withConf(spark)("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      for (env <- Seq(ScalePolicy.nodeFrames, ScalePolicy.edgeFrames,
                      ScalePolicy.rankSummaries, ScalePolicy.vectorFrames)) {
        def plan(n: Long) =
          big.join(env.hint(n)(small), "k").queryExecution.executedPlan.toString
        assert(plan(env.rows).contains("BroadcastExchange"), s"cap ${env.rows}")
        assert(!plan(env.rows + 1).contains("BroadcastExchange"), s"cap ${env.rows} + 1")
      }
    }
  }

  test("spreadIfNarrow refuses to probe a frame with exchanges") {
    val scan = Tables.lineitem(spark, sf)
    val derived = scan.groupBy(col("l_orderkey")).count()
    val e = intercept[IllegalArgumentException](
      ScalePolicy.spreadIfNarrow(derived, col("l_orderkey")))
    assert(e.getMessage.contains("exchange-free"))
    // probing the base scan instead is plan-only: no job runs
    val (spread, jobs) = jobsDuring(
      ScalePolicy.spreadIfNarrow(derived, col("l_orderkey"), scan = Some(scan)))
    assert(jobs == 0, s"the layout probe ran $jobs jobs")
    assert(spread.count() == derived.count())
  }

  test("x03's builder starts 17 jobs: its sizes ride the edge checkpoint") {
    val (_, jobs) = jobsDuring(Graph.bfsHopsFrom(Tables.lineitem(spark, sf)))
    assert(jobs == 17, s"x03 builder jobs: $jobs")
  }
}
