package graft

import org.apache.spark.sql.functions._

import graft.operators.Sketches

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  test("bloomPrune keeps every true match (no false negatives)") {
    val small = Tables.orders(spark, sf)
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_orderkey")
    val big = Tables.lineitem(spark, sf)
    val pruned = Sketches.bloomPrune(big, $"l_orderkey", small, $"o_orderkey")
    // exact semi-join rows must survive pruning bit-for-bit
    val trueMatches = big.join(small, $"l_orderkey" === $"o_orderkey", "left_semi")
    val lost = trueMatches.exceptAll(
      pruned.join(small, $"l_orderkey" === $"o_orderkey", "left_semi")).count()
    assert(lost == 0, s"bloom pruned away $lost true-matching rows")
  }

  test("bloomPrune actually prunes (selective build side)") {
    val small = Tables.orders(spark, sf)
      .filter($"o_orderpriority" === "1-URGENT" && year($"o_orderdate") === 1997)
      .select($"o_orderkey")
    val big = Tables.lineitem(spark, sf)
    val kept = Sketches.bloomPrune(big, $"l_orderkey", small, $"o_orderkey").count()
    val total = big.count()
    // ~1/35 of rows truly match (1 of 5 priorities × 1 of 7 years); with
    // 3% FPP the pruned side must stay well under a quarter of the fact
    assert(kept < total / 4, s"bloom kept $kept of $total rows — not pruning")
  }

  test("bloomPrune widens mismatched integral key types (no silent false negatives)") {
    // xxhash64(INT 5) != xxhash64(BIGINT 5): without widening, an
    // int-keyed probe against a long-keyed build would prune EVERY row
    val small = Seq(1L, 2L, 3L).toDF("k")
    val big = Seq(1, 2, 3, 4, 5).toDF("k")
    val kept = Sketches.bloomPrune(big, $"k", small, $"k")
      .as[Int].collect().toSet
    assert(Set(1, 2, 3).subsetOf(kept), s"true matches pruned: kept $kept")
    // non-integral type mismatch is refused loudly, not hashed wrong
    val smallStr = Seq("1").toDF("k")
    val e = intercept[IllegalArgumentException] {
      Sketches.bloomPrune(big, $"k", smallStr, $"k")
    }
    assert(e.getMessage.contains("share a data type"))
  }

  test("q29 pruned join equals the plain join") {
    val plain = {
      val urgent = Tables.orders(spark, sf)
        .filter($"o_orderpriority" === "1-URGENT" && year($"o_orderdate") === 1997)
        .select($"o_orderkey", $"o_orderdate")
      Tables.lineitem(spark, sf)
        .join(urgent, $"l_orderkey" === $"o_orderkey")
        .groupBy(month($"o_orderdate").as("order_month"))
        .agg(
          graft.functions.DecimalSums.dsum(
            $"l_extendedprice" * (lit(1.0) - $"l_discount")).as("total_revenue"),
          count(lit(1)).as("line_count"))
    }
    assert(digest(Sketches.q29BloomPrunedJoin(spark, sf)) == digest(plain))
  }

  test("q30 HLL estimates stay within 5% of exact distincts") {
    val est = Sketches.q30HllDistinctRollup(spark, sf)
      .select($"order_year", $"est_unique_customers").as[(Int, Long)]
      .collect().toMap
    val exact = Tables.orders(spark, sf)
      .groupBy(year($"o_orderdate").as("order_year"))
      .agg(countDistinct($"o_custkey").as("n"))
      .as[(Int, Long)].collect().toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (y, n) =>
      val e = est(y)
      assert(math.abs(e - n).toDouble / n <= 0.05,
        s"year $y: estimate $e vs exact $n exceeds 5%")
    }
  }

  // NOTE (round 12, dev/scaling.md §"estimation-mode boundary", the
  // q30 promotion-boundary finding): this pin holds on the FIXTURE's
  // file layout and is NOT a general property at this cardinality. At
  // ~1.2k distincts the sketches sit at the set→HLL promotion
  // boundary, where the union estimate depends on partial grouping —
  // the estimation suite reproduces a counterexample on a rewritten
  // copy of the same rows. Fully-dense sketches (x10/x100) are
  // genuinely layout-invariant (register-wise max union). If you widen
  // the fixture and this test breaks, you have most likely moved the
  // promotion boundary, not introduced nondeterminism — read the
  // scaling.md section before "fixing" anything.
  test("q30 merged yearly estimate is order-independent (repartition-proof)") {
    val a = Sketches.q30HllDistinctRollup(spark, sf)
    val b = GraftSession.withConf(spark)("spark.sql.shuffle.partitions" -> "7") {
      Sketches.q30HllDistinctRollup(spark, sf)
        .collect().toSeq // materialize under the altered conf
    }
    assert(a.collect().toSeq == b,
      "q30 layout-sensitivity: likely the set->HLL promotion boundary " +
        "(dev/scaling.md, q30 estimation-mode finding), not nondeterminism")
  }

  test("q39 theta set algebra is exact below nominal entries and internally consistent") {
    import graft.operators.Sketches
    val rows = Sketches.q39ThetaFlagOverlap(spark, sf)
      .as[(String, String, Long, Long, Long, Long, Long)].collect()
    assert(rows.length == 3, "three flags → three unordered pairs")
    // exact populations per flag pair, computed without sketches
    val fp = Tables.lineitem(spark, sf)
      .select($"l_returnflag".as("flag"), $"l_partkey".as("p")).distinct()
    val sets = fp.as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    rows.foreach { case (fa, fb, na, nb, nu, ni, nd) =>
      val (a, b) = (sets(fa), sets(fb))
      // below 2^12 retained hashes the sketch is in exact mode
      assert((na, nb, nu, ni, nd) ==
        (a.size.toLong, b.size.toLong, (a | b).size.toLong,
          (a & b).size.toLong, (a -- b).size.toLong),
        s"pair ($fa,$fb) disagrees with exact set algebra")
    }
  }

  test("q39 sketches are partitioning-invariant") {
    import graft.operators.Sketches
    val a = Sketches.q39ThetaFlagOverlap(spark, sf).collect().toSeq
    val li = Tables.lineitem(spark, sf)
    val sk = li.repartition(7)
      .select($"l_returnflag".as("flag"), $"l_partkey")
      .groupBy($"flag")
      .agg(expr("theta_sketch_agg(l_partkey, 12)").as("sk"))
    val b = sk.as("a").join(sk.as("b"), $"a.flag" < $"b.flag")
      .select($"a.flag", $"b.flag",
        expr("CAST(theta_sketch_estimate(theta_intersection(a.sk, b.sk)) AS BIGINT)"))
      .orderBy($"a.flag", $"b.flag")
      .as[(String, String, Long)].collect().toSeq
    assert(a.map(r => (r.getString(0), r.getString(1), r.getLong(5))) == b,
      "intersection estimates must not depend on partitioning")
  }
}
