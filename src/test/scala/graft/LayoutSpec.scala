package graft

import org.apache.spark.sql.functions._

import graft.operators.Layout
import graft.functions.ZOrderExprs.InterleaveBits

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  /** Reference Morton implementation the codegen kernel must match. */
  private def refZ(vals: Seq[Int], bits: Int): Long = {
    val n = vals.size
    var z = 0L
    for (j <- 0 until n; i <- 0 until bits)
      z |= ((vals(j) >> i) & 1L) << (i * n + (n - 1 - j))
    z
  }

  test("InterleaveBits matches the reference on random bucket ids") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(200)((rnd.nextInt(256), rnd.nextInt(256)))
    val got = rows.toDF("a", "b")
      .select(Layout.zvalue(Seq($"a", $"b"), 8).as("z"))
      .as[Long].collect().toSeq
    val want = rows.map { case (a, b) => refZ(Seq(a, b), 8) }
    assert(got == want)
  }

  test("InterleaveBits: 3 columns, null propagation, SQL registry form") {
    // 3-col interleave and the codegen path agree with the reference
    val got3 = Seq((5, 3, 7)).toDF("a", "b", "c")
      .select(Layout.zvalue(Seq($"a", $"b", $"c"), 4).as("z"))
      .as[Long].head()
    assert(got3 == refZ(Seq(5, 3, 7), 4))
    // null in any position nulls the key
    val nulls = Seq((Some(1), Option.empty[Int]))
      .toDF("a", "b")
      .select(Layout.zvalue(Seq($"a", $"b"), 8).as("z"))
      .filter($"z".isNull).count()
    assert(nulls == 1)
    // SQL surface plans the same kernel
    Seq((9, 2)).toDF("a", "b").createOrReplaceTempView("zin")
    val sqlZ = spark.sql("SELECT interleave_bits(a, b, 8) AS z FROM zin")
      .as[Long].head()
    assert(sqlZ == refZ(Seq(9, 2), 8))
  }

  test("zvalue orders locality: adjacent cells differ less than distant ones") {
    // monotone sanity: the curve keeps the quadrant structure — all
    // cells of the low-low quadrant sort before any high-high cell
    val lowLow = refZ(Seq(3, 3), 4)
    val highHigh = refZ(Seq(12, 12), 4)
    assert(lowLow < highHigh)
  }

  test("z-order layout prunes files a linear sort cannot (stats-based skipping)") {
    // The payoff assert: per-file (min,max) boxes are exactly what a
    // stats-pruning reader consults (parquet row-group stats; Delta/
    // Iceberg file-level stats) — a file whose box misses the predicate
    // box is never opened. Count those files for the same two-dim
    // predicate under both layouts.
    val li = Tables.lineitem(spark, sf).select($"l_partkey", $"l_suppkey")
    val g = li.agg(
      min($"l_partkey").cast("long"), max($"l_partkey").cast("long"),
      min($"l_suppkey").cast("long"), max($"l_suppkey").cast("long")).head()
    val (pMin, pMax, sMin, sMax) =
      (g.getLong(0), g.getLong(1), g.getLong(2), g.getLong(3))
    // two-dim predicate: middle half of partkey × bottom tenth of suppkey
    val (pLo, pHi) = (pMin + (pMax - pMin) / 4, pMin + 3 * (pMax - pMin) / 4)
    val (sLo, sHi) = (sMin, sMin + (sMax - sMin) / 10)

    /** (files whose stats box intersects the predicate box, total files). */
    def scanSet(layout: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_skip").toString
      layout.write.mode("overwrite").parquet(dir)
      val boxes = spark.read.parquet(dir)
        .withColumn("__f", input_file_name())
        .groupBy($"__f")
        .agg(
          min($"l_partkey").cast("long").as("pmn"),
          max($"l_partkey").cast("long").as("pmx"),
          min($"l_suppkey").cast("long").as("smn"),
          max($"l_suppkey").cast("long").as("smx"))
        .cache()
      val total = boxes.count()
      val scanned = boxes.filter(
        !($"pmx" < pLo || $"pmn" > pHi || $"smx" < sLo || $"smn" > sHi)).count()
      boxes.unpersist()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      (scanned, total)
    }

    val (zScan, zTotal) = scanSet(
      Layout.zorderLayout(li, Seq("l_partkey", "l_suppkey"), numFiles = 16))
    val (lScan, lTotal) = scanSet(
      li.repartitionByRange(16, $"l_partkey").sortWithinPartitions($"l_partkey"))
    assert(zTotal == 16 && lTotal == 16, s"expected 16 files, got $zTotal/$lTotal")
    // linear sort prunes by partkey only → ~half the files survive the
    // partkey slice and the suppkey band removes none of them
    assert(lScan >= lTotal / 2,
      s"linear layout should scan at least half its files, scanned $lScan/$lTotal")
    // z-order prunes by BOTH dims: the suppkey band alone eliminates
    // most z-cells the partkey slice left
    assert(zScan < lScan,
      s"z-order must scan fewer files: $zScan vs linear $lScan (of $zTotal)")
    // absolute bound is distribution-dependent (TPC-H correlates suppkey
    // with partkey, which costs z-cells); half-of-files is the robust
    // line that still separates it from linear's ≥-half floor
    assert(zScan <= zTotal / 2,
      s"z-order should scan at most half its files, scanned $zScan/$zTotal")
  }

  test("zorderLayout refuses caller columns that clash with its helpers") {
    val df = Seq((1, 2, 3L)).toDF("a", "b", "__zv")
    val e = intercept[IllegalArgumentException] {
      Layout.zorderLayout(df, Seq("a", "b"))
    }
    assert(e.getMessage.contains("__zv"))
  }

  test("z-ordered files are narrow in BOTH dimensions; linear sort is not") {
    val li = Tables.lineitem(spark, sf)
      .select($"l_partkey", $"l_suppkey")
    // per-file normalized range of a column, given a layout on disk
    def fileRanges(df: org.apache.spark.sql.DataFrame, c: String): Double = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_layout").toString
      df.write.mode("overwrite").parquet(dir)
      val global = li.agg((max(col(c)) - min(col(c))).cast("double")).head().getDouble(0)
      val meanRange = spark.read.parquet(dir)
        .withColumn("__f", input_file_name())
        .groupBy($"__f")
        .agg(((max(col(c)) - min(col(c))).cast("double") / global).as("r"))
        .agg(avg($"r")).head().getDouble(0)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      meanRange
    }
    val z = Layout.zorderLayout(li, Seq("l_partkey", "l_suppkey"),
      numFiles = 16)
    val linear = li.repartitionByRange(16, $"l_partkey")
      .sortWithinPartitions($"l_partkey")
    // z-order: each of 16 files covers ~1/4 of each dimension's range
    val zP = fileRanges(z, "l_partkey")
    val zS = fileRanges(z, "l_suppkey")
    assert(zP < 0.6 && zS < 0.6,
      f"z-order per-file ranges should be narrow in both dims: p=$zP%.2f s=$zS%.2f")
    // linear: first dim narrow, second dim spans ~everything per file
    val lP = fileRanges(linear, "l_partkey")
    val lS = fileRanges(linear, "l_suppkey")
    assert(lP < 0.3, f"linear sort should be narrow on its sort key: $lP%.2f")
    assert(lS > 0.8, f"linear sort should NOT prune the second dim: $lS%.2f")
    assert(zS < lS / 2,
      f"z-order must beat linear sort on the second dim: $zS%.2f vs $lS%.2f")
  }
}
