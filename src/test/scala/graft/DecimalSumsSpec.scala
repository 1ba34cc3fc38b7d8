package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.DecimalSums
import graft.functions.DecimalSums.{dec, decSum, decSumOver, davg, dsum}

/** Pins the exact unscaled-long kernel behind `dsum`/`davg`/`decSum`
  * to the plain `sum(dec(c))` form it replaces — kept here, and only
  * here, as the oracle. Per row the kernel's unscaled long must equal
  * `dec(c)`'s; per group every output double must be bit-identical, at
  * 1, 4 and 7 partitions; errors and nulls must be the oracle's. */
class DecimalSumsSpec extends SparkSpec {

  private def oldSum(c: Column): Column = sum(dec(c))
  private def oldDsum(c: Column): Column = oldSum(c).cast(DoubleType)
  private def oldDavg(c: Column): Column =
    oldSum(c).cast(DoubleType) / count(c).cast(DoubleType)

  private val rnd = new scala.util.Random(17)

  /** Shortest-repr halves (k + 0.5)·1e-4 of both signs (≤ 15 digits,
    * so the parsed double prints back as exactly that decimal) and
    * their ±1–2-ulp neighbours: the inputs the fast path must hand to
    * the exact cast. */
  private val halves: Seq[Double] = {
    val ks = (0 to 13).flatMap { e =>
      val hi = math.pow(10, e).toLong
      Seq(hi - 1, hi, hi + 1) ++ Seq.fill(6)((rnd.nextDouble() * hi).toLong)
    }.filter(_ >= 0)
    ks.flatMap { k =>
      val h = (BigDecimal(k) + BigDecimal("0.5")).bigDecimal.movePointLeft(4)
      val v = h.doubleValue
      val near = Seq(v, math.nextUp(v), math.nextDown(v),
        math.nextUp(math.nextUp(v)), math.nextDown(math.nextDown(v)))
      near ++ near.map(-_)
    }
  }

  /** Around the fast-path bound: |x| = |v|·1e4 = 2^40. */
  private val aroundBound: Seq[Double] = {
    val b = math.pow(2, 40) / 1e4
    val base = Seq(b, b + 5e-5, b - 5e-5, b + 1e-4, b - 1e-4, b + 1, b - 1)
    val near = base.flatMap { v =>
      Iterator.iterate(v)(math.nextUp).take(4) ++
        Iterator.iterate(v)(math.nextDown).take(4)
    }
    near ++ near.map(-_)
  }

  /** Revenue-style products p·(1 − d): 2-decimal prices and discounts. */
  private val prices: Seq[(Double, Double)] = Seq.fill(400)(
    ((90000 + rnd.nextInt(10000000)) / 100.0, rnd.nextInt(11) / 100.0))

  private val plain: Seq[Double] =
    Seq(0.0, -0.0, 1e-5, 4.99e-5, 5e-5, 1.0, 0.1, 0.2, 0.3, 123.4567,
      9.99999999999999e13, -9.99999999999999e13, 99999999999999.99,
      1e13 + 0.5, 12345678.12345) ++
      Seq.fill(300)((rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(14)))

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("g", IntegerType, nullable = false),
    StructField("v", DoubleType),
    StructField("p", DoubleType),
    StructField("disc", DoubleType),
    StructField("i", IntegerType),
    StructField("l", LongType),
    StructField("m", DecimalType(15, 2))))

  /** Five value groups plus group 99, whose values are all null. */
  private lazy val frame: DataFrame = {
    val vs = halves ++ aroundBound ++ plain
    val rows = vs.zipWithIndex.map { case (v, n) =>
      val (p, d) = prices(n % prices.size)
      val isNull = n % 37 == 0
      def orNull[T](t: T): Any = if (isNull) null else t
      Row(n.toLong, n % 5, orNull(v), p, d, orNull(rnd.nextInt()),
        orNull(rnd.nextLong() % 9000000000000L),
        orNull(java.math.BigDecimal.valueOf(rnd.nextLong() % 100000000000000L, 2)))
    } ++ (0 until 7).map(n =>
      Row(1000000L + n, 99, null, null, null, null, null, null))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  /** Every input the kernel must handle; float from the double column
    * (below 1e13, where float rounding cannot reach the 1e14 limit). */
  private val inputs: Seq[(String, Column)] = Seq(
    "double" -> col("v"),
    "float" -> when(abs(col("v")) < 1e13, col("v")).cast(FloatType),
    "int" -> col("i"),
    "long" -> col("l"),
    "decimal" -> col("m"),
    "revenue" -> col("p") * (lit(1.0) - col("disc")))

  private def condition(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.reverse
      .collectFirst { case t: SparkThrowable if t.getCondition != null =>
        t.getCondition }
      .getOrElse(e.getClass.getName)

  private def outcome(df: => DataFrame): Either[String, Seq[Row]] =
    try Right(df.collect().toSeq) catch { case e: Exception => Left(condition(e)) }

  private def bits(r: Row, i: Int): Option[Long] =
    if (r.isNullAt(i)) None
    else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(i)))

  test("per row, the unscaled long equals dec(c)'s, on both paths") {
    val b = math.pow(2, 40)
    val xs = frame.select(col("v")).collect().flatMap(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0) * 1e4))
    val fast = xs.count(x =>
      math.abs(x) < b && math.abs(x - math.floor(x) - 0.5) > 1e-3)
    // the corpus must drive both the fast path and the exact fallback
    assert(fast > 100 && xs.length - fast > 100, s"fast=$fast of ${xs.length}")
    for ((name, c) <- inputs) {
      val rows = frame.select(DecimalSums.unscaled(c), dec(c)).collect()
      val bad = rows.filterNot { r =>
        if (r.isNullAt(1)) r.isNullAt(0)
        else !r.isNullAt(0) &&
          r.getLong(0) == r.getDecimal(1).movePointRight(4).longValueExact
      }
      assert(bad.isEmpty, s"$name: ${bad.take(5).mkString(", ")}")
    }
  }

  test("dsum/davg doubles are bit-identical to sum(dec(c)) at 1, 4 and 7 partitions") {
    for ((name, c) <- inputs; parts <- Seq(1, 4, 7)) {
      val got = frame.repartition(parts).groupBy(col("g"))
        .agg(dsum(c), oldDsum(c), davg(c), oldDavg(c))
        .orderBy(col("g")).collect()
      assert(got.length == 6)
      for (r <- got) {
        assert(bits(r, 1) == bits(r, 2), s"$name dsum g=${r.get(0)} p=$parts: $r")
        assert(bits(r, 3) == bits(r, 4), s"$name davg g=${r.get(0)} p=$parts: $r")
        if (r.getInt(0) == 99) assert(r.isNullAt(1) && r.isNullAt(3))
        else assert(!r.isNullAt(1))
      }
    }
  }

  test("decSum is sum(dec(c)): same decimal(28,4) type and value, plain, windowed and via parts") {
    val c = col("p") * (lit(1.0) - col("disc")) + col("v") / 7
    val df = frame.repartition(4)
    assert(df.select(decSum(c)).schema.head.dataType ==
      df.select(oldSum(c)).schema.head.dataType)
    assert(df.select(decSum(c)).schema.head.dataType == DecimalSums.S)
    val plainAgg = df.groupBy(col("g")).agg(decSum(c), oldSum(c)).collect()
    plainAgg.foreach(r => assert(r.get(1) == r.get(2), r))
    for (w <- Seq(
        Window.partitionBy(col("g")).orderBy(col("id")).rowsBetween(-3, 0),
        Window.partitionBy(col("g")).orderBy(col("id")).rangeBetween(-40, 0))) {
      val win = df.select(decSumOver(c, w), oldSum(c).over(w)).collect()
      win.foreach(r => assert(r.get(0) == r.get(1), r))
    }
    // parts summed in two levels (the salted-aggregate shape)
    val (hi, lo) = DecimalSums.parts(c)
    val twoLevel = df.groupBy(col("g"), col("id") % 3)
      .agg(sum(hi).as("h"), sum(lo).as("l"))
      .groupBy(col("g"))
      .agg(DecimalSums.fromParts(sum(col("h")), sum(col("l"))).as("s"))
      .join(df.groupBy(col("g")).agg(oldSum(c).as("o")), "g").collect()
    assert(twoLevel.length == 6)
    twoLevel.foreach(r => assert(r.get(1) == r.get(2), r))
  }

  test("past the decimal(18,4) range, NaN and ±Inf: the same outcome as sum(dec(c))") {
    val bad = Seq(1e14, -1e14, 1.5e14, 3e18, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity)
    for (v <- bad; parts <- Seq(1, 4)) {
      val df = spark.range(0, 8, 1, parts)
        .select(col("id"), when(col("id") === 3, lit(v)).otherwise(lit(2.5)).as("v"))
      val got = outcome(df.agg(dsum(col("v")), davg(col("v"))))
      val want = outcome(df.agg(oldDsum(col("v")), oldDavg(col("v"))))
      assert(got == want, s"v=$v")
    }
    // the overflow range must really fail under the session's ANSI mode
    if (spark.conf.get("spark.sql.ansi.enabled").toBoolean)
      assert(outcome(spark.range(1).select(lit(1e14).as("v"))
        .agg(dsum(col("v")))).isLeft)
  }
}
