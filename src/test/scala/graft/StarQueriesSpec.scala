package graft

import org.apache.spark.sql.functions._

import graft.operators.StarQueries

/** Cross-query semantic invariants over the sf0.001 fixtures — these
  * catch logic regressions the rows>0 smoke can't (the DuckDB hash gate
  * runs driver-side; here we pin relationships that must hold on ANY
  * input, so they stay valid if the fixtures are regenerated). */
class StarQueriesSpec extends SparkSpec {
  import spark.implicits._

  test("q01: group counts partition the filtered lineitem table") {
    val li = Tables.lineitem(spark, sf)
      .filter($"l_quantity".isNotNull && $"l_extendedprice".isNotNull)
    val total = StarQueries.q01PricingSummary(spark, sf)
      .agg(sum("count_order")).as[Long].head()
    assert(total == li.count())
  }

  test("q01: avg_qty equals sum_qty / count_order") {
    val bad = StarQueries.q01PricingSummary(spark, sf)
      .filter(abs($"avg_qty" - $"sum_qty" / $"count_order") > 1e-9)
      .count()
    assert(bad == 0)
  }

  test("q05: price buckets are a disjoint total partition of orders") {
    val total = StarQueries.q05PriceBuckets(spark, sf)
      .agg(sum("order_count")).as[Long].head()
    val orders = Tables.orders(spark, sf).filter($"o_totalprice".isNotNull)
    assert(total == orders.count())
  }

  test("q06: all result lines belong to one supplier") {
    val suppliers = StarQueries.q06TopSupplierHits(spark, sf)
      .select("s_name").distinct().count()
    assert(suppliers == 1)
  }

  test("q13: cumulative revenue is monotone and ends at the total share 1.0") {
    val rows = StarQueries.q13SupplierPareto(spark, sf)
      .select("cumulative_revenue", "cumulative_share")
      .as[(Double, Double)].collect()
    assert(rows.sliding(2).forall {
      case Array(a, b) => b._1 >= a._1; case _ => true
    }, "cumulative_revenue must be non-decreasing")
    assert(math.abs(rows.last._2 - 1.0) < 1e-9, "last share must be 1.0")
  }

  test("q21 + q22(no filter year) partition customers per segment") {
    // q21 = semi join (any order), q22 = anti join on year-2001 orders.
    // Complement check with the same predicate on both sides:
    val cust = Tables.customer(spark, sf)
    val withAny = StarQueries.q21CustomersWithOrders(spark, sf)
      .agg(sum("active_customers")).as[Long].head()
    val semiCount = cust.join(Tables.orders(spark, sf),
      $"c_custkey" === $"o_custkey", "left_semi").count()
    assert(withAny == semiCount)
    val without2001 = StarQueries.q22CustomersWithoutOrders(spark, sf)
      .agg(sum("inactive_customers")).as[Long].head()
    val with2001 = cust.join(
      Tables.orders(spark, sf).filter(year($"o_orderdate") === 2001),
      $"c_custkey" === $"o_custkey", "left_semi").count()
    assert(without2001 + with2001 == cust.count())
  }

  test("q12: pinned-seed sample is reproducible") {
    val a = digest(StarQueries.q12SampleScatter(spark, sf))
    val b = digest(StarQueries.q12SampleScatter(spark, sf))
    assert(a == b, "sample must be seed-pinned (SURVEY.md §2.2 Sampling)")
  }

  test("e3: inverted index entry count equals customer_count per nation") {
    val bad = StarQueries.e3NationIndex(spark, sf)
      .select($"customer_count",
        size(split($"custkey_index", ",")).cast("long").as("idx_size"))
      .filter($"customer_count" =!= $"idx_size").count()
    assert(bad == 0, "index must list exactly the aggregated customers")
  }

  test("dimension joins broadcast: q02 physical plan contains BroadcastHashJoin") {
    val plan = StarQueries.q02PartTypeRevenue(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"part-dim join should broadcast, plan was:\n$plan")
  }

  test("q25: approx distinct within the HLL++ error contract of exact q23") {
    val exact = StarQueries.q23SupplierPartBreadth(spark, sf)
      .select($"s_name", $"distinct_parts")
    val approx = StarQueries.q25ApproxPartBreadth(spark, sf)
    val joined = approx.join(exact, "s_name")
    assert(joined.count() == exact.count())
    val maxRelErr = joined
      .select(max(abs($"approx_parts" - $"distinct_parts")
        / $"distinct_parts".cast("double")))
      .as[Double].head()
    // rsd=0.02; 5 standard deviations of headroom keeps this a contract
    // pin (deterministic sketch on fixed data), not a flake
    assert(maxRelErr <= 0.10, s"approx_count_distinct rel err $maxRelErr")
  }

  test("q12: deterministic cut plans as TakeOrderedAndProject, not a full sort") {
    val plan = StarQueries.q12SampleScatter(spark, sf)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"sample cut must be top-K, not a global sort:\n$plan")
  }

  test("q36: two-phase NTILE matches the builtin single-partition ntile") {
    import org.apache.spark.sql.expressions.Window
    val ref = Tables.orders(spark, sf)
      .select($"o_orderkey", $"o_totalprice")
      .withColumn("quartile",
        ntile(4).over(Window.orderBy($"o_totalprice", $"o_orderkey")))
      .groupBy($"quartile")
      .agg(count(lit(1)).as("n_orders"),
        min($"o_totalprice").as("min_price"),
        max($"o_totalprice").as("max_price"))
      .orderBy($"quartile")
      .as[(Int, Long, Double, Double)].collect().toSeq
    val got = StarQueries.q36OrderValueQuartiles(spark, sf)
      .select($"quartile", $"n_orders", $"min_price", $"max_price")
      .as[(Int, Long, Double, Double)].collect().toSeq
    assert(got == ref)
    // remainder semantics: tile sizes differ by at most one, larger first
    val sizes = got.map(_._2)
    assert(sizes.max - sizes.min <= 1 && sizes.sortBy(-_) == sizes)
  }

  test("q38 recursive closure matches an in-memory tree walk") {
    val r = operators.StarQueries.q38BomRollup(spark, sf)
      .select($"part_key", $"subtree_n").as[(Long, Long)].collect().toMap
    val keys = Tables.part(spark, sf).select($"p_partkey")
      .as[Long].collect().sorted
    // independent oracle: children(k) = {p : p/4 == k, p != k}; subtree
    // sizes by bottom-up accumulation
    val size = scala.collection.mutable.Map(keys.map(_ -> 1L): _*)
    keys.reverse.foreach { p =>
      val parent = p / 4
      if (parent != p && size.contains(parent)) size(parent) += size(p)
    }
    assert(r == size.toMap)
    // the 4-ary root's subtree is the whole catalog
    assert(r(0L) == keys.length.toLong)
  }

  test("q37 decorrelates the scalar subquery and matches the manual rewrite") {
    val q = StarQueries.q37AboveNationAvg(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    // Catalyst must turn the per-row correlated aggregate into a
    // joined per-nation aggregate — never a nested-loop re-execution
    assert(!plan.contains("CartesianProduct"), s"decorrelation failed:\n$plan")
    val got = q.as[(Long, Long, Double)].collect().toSeq
    // manual decorrelation: spend per customer, threshold per nation
    import graft.functions.DecimalSums.{dsum, decSum}
    val spend = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), $"o_custkey" === $"c_custkey")
      .groupBy($"c_custkey", $"c_nationkey")
      .agg(dsum($"o_totalprice").as("spend"))
    val thresh = spend.groupBy($"c_nationkey".as("nk"))
      .agg((decSum($"spend").cast("double") /
        count(lit(1)).cast("double")).as("nation_avg"))
    val ref = spend.join(thresh, $"c_nationkey" === $"nk")
      .filter($"spend" > lit(2) * $"nation_avg")
      .orderBy($"c_nationkey", $"spend".desc, $"c_custkey")
      .select($"c_custkey", $"c_nationkey", $"spend")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.nonEmpty && got == ref, s"subquery result diverged: $got vs $ref")
  }

  test("parquet scans prune columns: q01 reads only the 5 needed lineitem cols") {
    val scans = StarQueries.q01PricingSummary(spark, sf)
      .queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    // ReadSchema must exclude untouched columns like l_shipdate/l_partkey
    assert(!scans.contains("l_shipdate") && !scans.contains("l_partkey"),
      "column pruning regressed")
  }
}
