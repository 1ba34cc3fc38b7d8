package graft

import org.apache.spark.sql.functions._

import graft.operators.Profile

class ProfileSpec extends SparkSpec {
  import spark.implicits._

  test("profile reports exact per-column stats on a known frame") {
    val df = Seq(
      (1, Some("a"), Some(10)),
      (2, Some("b"), None),
      (3, Some("a"), Some(30)),
      (4, None, Some(30))
    ).toDF("id", "s", "v")
    val rows = Profile.profile(df, Seq("id", "s", "v"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))
      .toMap
    assert(rows("id") == ((4L, 0L, 4L, "1", "4")))
    assert(rows("s") == ((4L, 1L, 2L, "a", "b")))
    assert(rows("v") == ((4L, 1L, 2L, "10", "30")))
  }

  test("observed metrics are collected by the caller's own action") {
    val df = Seq((1, Some("a")), (2, None), (3, Some("c")))
      .toDF("id", "s")
    val obs = org.apache.spark.sql.Observation()
    val tagged = df.observe(obs, count(lit(1)).as("n_rows"),
      (count(lit(1)) - count($"id")).as("n_nulls_id"),
      (count(lit(1)) - count($"s")).as("n_nulls_s"))
    tagged.write.format("noop").mode("overwrite").save() // the only pass
    val m = obs.get
    assert(m("n_rows") == 3L && m("n_nulls_id") == 0L && m("n_nulls_s") == 1L)
  }

  test("profile output is sorted and complete over the documents table") {
    val out = Profile.p03DataProfile(spark, sf).collect()
    assert(out.map(_.getString(0)).toSeq ==
      Seq("doc_id", "lang", "n_chars", "source", "text"))
    // doc_id is the key: distinct == rows, no nulls
    val docId = out.find(_.getString(0) == "doc_id").get
    assert(docId.getLong(1) == docId.getLong(3) && docId.getLong(2) == 0L)
  }

  test("p05 approx profile: ≤5% distinct error, everything else exact") {
    def byCol(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))
        .toMap
    val exact = byCol(Profile.p03DataProfile(spark, sf).collect())
    val approx = byCol(Profile.p05ApproxProfile(spark, sf).collect())
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (c, (n, nulls, nd, mn, mx)) =>
      val (an, aNulls, and, amn, amx) = approx(c)
      // only the distinct estimate may differ — counts/nulls/min/max are
      // the same single-pass aggregates in both forms
      assert((an, aNulls, amn, amx) == ((n, nulls, mn, mx)), s"column $c")
      assert(math.abs(and - nd).toDouble <= 0.05 * nd,
        s"column $c: approx distinct $and vs exact $nd exceeds 5%")
    }
  }
}
