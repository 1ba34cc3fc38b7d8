package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Cumulative

class CumulativeSpec extends SparkSpec {
  import spark.implicits._

  // values on a grid with collisions so the tiebreaker matters; some nulls
  private def fixture = spark.range(500)
    .select($"id",
      when($"id" % 11 === 0, lit(null)).otherwise($"id" % 37).as("v"))

  // the operators range-partition at the session's shuffle width, read
  // (and materialized) while the result frame is built
  private def atWidth[A](p: Int)(body: => A): A =
    GraftSession.withConf(spark)("spark.sql.shuffle.partitions" -> p.toString)(body)

  test("two-phase cumsum + rank equals the one-phase unpartitioned window") {
    val df = fixture
    val sort = Seq($"v".desc_nulls_last, $"id")
    val w = Window.orderBy(sort: _*)
    val onePhase = df
      .withColumn("cum", sum($"v").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rk", row_number().over(w))
      .select($"id", $"cum", $"rk")
    val twoPhase = atWidth(7)(Cumulative
      .withCumsumAndRank(df, sort, $"v", "cum", "rk"))
      .select($"id", $"cum", $"rk")
    assert(twoPhase.exceptAll(onePhase).count() == 0)
    assert(onePhase.exceptAll(twoPhase).count() == 0)
  }

  test("null prefix stays null until the first non-null value (global, not per-partition)") {
    // nulls FIRST in the order: every partition boundary inside the null
    // run must still produce a null cum, and the first non-null row after
    // it must not see a spurious zero
    val df = spark.range(100)
      .select($"id", when($"id" < 40, lit(null)).otherwise($"id").as("v"))
    val out = atWidth(6)(Cumulative
      .withCumsumAndRank(df, Seq($"v".asc_nulls_first, $"id"), $"v",
        "cum", "rk"))
      .orderBy($"rk")
      .select($"cum").as[Option[Long]].collect()
    assert(out.take(40).forall(_.isEmpty), "cum over an all-null prefix must be null")
    assert(out(40).contains(40L), "first non-null cum is its own value")
    assert(out.last.contains((40L to 99L).sum))
  }

  test("totName column is the exact global sum") {
    val df = fixture
    val expected = df.agg(sum($"v")).as[Long].head()
    val tot = atWidth(7)(Cumulative
      .withCumsumAndRank(df, Seq($"v".desc_nulls_last, $"id"), $"v",
        "cum", "rk", totName = "tot"))
      .select($"tot").distinct().as[Long].collect()
    assert(tot.toSeq == Seq(expected))
  }

  test("cumsum-only form matches the ranked form and computes no row_number") {
    val df = fixture
    val sort = Seq($"v".desc_nulls_last, $"id")
    val ranked = atWidth(7)(Cumulative
      .withCumsumAndRank(df, sort, $"v", "cum", "rk"))
      .select($"id", $"cum")
    val cumOnly = atWidth(7)(Cumulative
      .withCumsumAndRank(df, sort, $"v", "cum"))
    assert(cumOnly.columns.toSeq == Seq("id", "v", "cum"))
    assert(cumOnly.select($"id", $"cum").exceptAll(ranked).count() == 0)
    // the saved work is real: no RowNumber window function in the plan
    assert(!cumOnly.queryExecution.executedPlan.toString.contains("row_number"))
  }

  test("plan contains no unpartitioned WindowExec (the single-task scale hazard)") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = Cumulative.withCumsumAndRank(
      fixture, Seq($"v".desc_nulls_last, $"id"), $"v", "cum", "rk")
    val windows = df.queryExecution.sparkPlan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "expected per-partition WindowExec nodes")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "every WindowExec must have a partition spec")
  }

  test("grouped rank equals the one-phase partitioned window, groups straddling partitions") {
    // 3 groups × ~170 rows over 7 range partitions — every group spans
    // several partition boundaries, so the prefix offsets do real work
    val df = spark.range(500)
      .select($"id", concat(lit("g"), ($"id" % 3).cast("string")).as("g"),
        md5($"id".cast("string")).as("k"))
    val w = Window.partitionBy($"g").orderBy($"k", $"id")
    val onePhase = df
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"g")))
      .select($"id", $"rk", $"n")
    val twoPhase = atWidth(7)(Cumulative
      .withGroupedRank(df, Seq($"g"), Seq($"k", $"id"), "rk", "n"))
      .select($"id", $"rk", $"n")
    assert(twoPhase.exceptAll(onePhase).count() == 0)
    assert(onePhase.exceptAll(twoPhase).count() == 0)
    // every local window is keyed by (partition id, group) — never one
    // task per group
    import org.apache.spark.sql.execution.window.WindowExec
    val windows = twoPhase.queryExecution.sparkPlan
      .collect { case win: WindowExec => win }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.size >= 2),
      "grouped rank must window on (__pid, group), not the group alone")
  }
}
