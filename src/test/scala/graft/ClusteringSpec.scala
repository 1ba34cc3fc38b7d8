package graft

import org.apache.spark.sql.functions._

import graft.operators.Clustering
import graft.functions.VectorOps

class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  private def emb = Tables.embeddings(spark, sf)

  test("kmeansAssign: total assignment, cells within range") {
    val a = Clustering.kmeansAssign(emb).as[(Long, Int)].collect()
    assert(a.length == emb.count())
    assert(a.map(_._1).distinct.length == a.length)
    assert(a.forall(r => r._2 >= 0 && r._2 < Clustering.numCells))
    // more than one cell actually populated — the fit did something
    assert(a.map(_._2).distinct.length > 1)
  }

  test("kmeansAssign is invariant under input partitioning") {
    val base = Clustering.kmeansAssign(emb)
    val repart = Clustering.kmeansAssign(emb.repartition(7, col("label")))
    assert(digest(base) == digest(repart))
  }

  test("kmeansAssign: every vector is argmin against the fit's centroids") {
    // self-consistency against the centroids the operator actually
    // used (NOT recomputed ones — the returned assignment predates the
    // next hypothetical update): own-cell distance must equal the
    // minimum over all cells, with the cell-id tie-break
    val (cents, aDf) = Clustering.kmeansFit(emb)
    val e = emb.select(col("vec_id"),
      VectorOps.asDouble(col("embedding")).as("v"))
    val vecs = e.join(aDf, "vec_id").as[(Long, Seq[Double], Int)].collect()
    def dist(v: Seq[Double], c: Seq[Double]): Double =
      BigDecimal(v.zip(c).foldLeft(0.0) { case (acc, (x, m)) =>
        acc + -2.0 * x * m
      } + c.foldLeft(0.0)((acc, m) => acc + m * m))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    vecs.foreach { case (_, v, cell) =>
      val ds = cents.map { case (c, arr) => (dist(v, arr), c) }
      assert(ds.min == ((ds.find(_._2 == cell).get._1, cell)))
    }
  }

  test("assignment plan is a pure projection: no join, no window, no agg") {
    // the centroids ride as literals, so the final assignment frame
    // must plan as checkpoint-scan -> project -> (orderBy exchange) —
    // a join or window here would mean the operator regressed to a
    // shuffle per iteration
    val plan = Clustering.kmeansAssign(emb)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
    assert(!plan.contains("Window"), s"unexpected window:\n$plan")
    assert(!plan.contains("HashAggregate"), s"unexpected aggregate:\n$plan")
  }

  test("c02 quality report: totals cover the corpus, metrics well-formed") {
    val rows = graft.operators.Clustering
      .c02ClusterQuality(spark, sf).as[(Int, Long, Double, Double)].collect()
    assert(rows.map(_._2).sum == Tables.embeddings(spark, sf).count())
    rows.foreach { case (_, n, compact, sepa) =>
      assert(n > 0 && compact >= 0.0 && sepa > 0.0)
    }
  }

  test("c03 domain mix: counts cover the corpus, shares sum to 1 per cell") {
    val rows = graft.operators.Clustering
      .c03DomainMix(spark, sf).as[(Int, String, Long, Double)].collect()
    assert(rows.map(_._3).sum == Tables.embeddings(spark, sf).count())
    rows.groupBy(_._1).values.foreach { cell =>
      val s = cell.map(_._4).sum
      assert(math.abs(s - 1.0) < 1e-3, s"cell shares sum to $s")
    }
  }

  test("c04 purity: totals cover the corpus, dominant label dominates") {
    val rows = graft.operators.Clustering
      .c04ClusterPurity(spark, sf).as[(Int, Long, Int, Long, Double)].collect()
    assert(rows.map(_._2).sum == emb.count())
    rows.foreach { case (_, n, _, topN, p) =>
      assert(topN >= 1 && topN <= n)
      assert(p > 0.0 && p <= 1.0)
      // the dominant label must hold at least an even share
      assert(topN * 10L >= n, "top label below the 10-label uniform floor")
    }
  }

  test("empty cell keeps its previous centroid instead of vanishing") {
    // vec 1 and vec 2 are IDENTICAL far points, so init centroids
    // c1 == c2: the (dist, cell) tie-break sends every far point to
    // cell 1 and cell 2 empties on round one — the carry-forward path
    // runs every round. Because the far blob's mean IS (9,9) exactly
    // (one more identical twin at the same spot keeps the mean fixed
    // enough that ties keep resolving to cell 1), cell 2 stays starved:
    // the fit must neither crash nor mis-assign.
    val pts = Seq(
      (0L, Seq(0.0f, 0.0f)), (1L, Seq(9.0f, 9.0f)), (2L, Seq(9.0f, 9.0f)),
      (3L, Seq(0.1f, 0.0f)), (4L, Seq(9.0f, 9.0f))
    ).toDF("vec_id", "embedding")
    val a = Clustering.kmeansAssign(pts, k = 3)
      .as[(Long, Int)].collect().sortBy(_._1)
    assert(a.length == 5)
    // cell 2 (the starved twin) never receives a member
    assert(!a.exists(_._2 == 2))
    // origin blob in cell 0, far blob in cell 1
    assert(a.filter(r => Set(0L, 3L)(r._1)).forall(_._2 == 0))
    assert(a.filter(r => Set(1L, 2L, 4L)(r._1)).forall(_._2 == 1))
  }

  test("c05 elbow: every k covers the corpus; capacity shows between the ladder ends") {
    val rows = Clustering.c05ElbowCurve(spark, sf)
      .as[(Int, Long, Double)].collect()
    assert(rows.map(_._1).toSeq == Clustering.elbowKs)
    val n = Tables.embeddings(spark, sf).count()
    assert(rows.forall(_._2 == n), "every fit assigns every vector")
    assert(rows.forall(_._3 > 0.0))
    val byK = rows.map(r => r._1 -> r._3).toMap
    assert(byK(16) < byK(2),
      s"16 centroids must fit far tighter than 2: ${byK(16)} vs ${byK(2)}")
  }
}
