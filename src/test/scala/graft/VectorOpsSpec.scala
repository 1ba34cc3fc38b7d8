package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.VectorOps

class VectorOpsSpec extends SparkSpec {
  import spark.implicits._

  private def lift(v: Seq[Double]) = array(v.map(lit): _*)

  private def eval1(c: Column): Double =
    spark.range(1).select(c.cast("double").as("x")).as[Double].head()

  /** Reference higher-order-function forms of [[VectorOps.dot]] and
    * [[VectorOps.norm2]]: the same strict left-to-right accumulation,
    * through interpreted lambdas. */
  private def hofDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  private def hofNorm2(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => acc + x * x)

  test("dot/norm/cosine match hand-computed values") {
    val a = Seq(1.0, 2.0, 3.0)
    val b = Seq(4.0, -5.0, 6.0)
    assert(eval1(VectorOps.dot(lift(a), lift(b))) == 12.0)
    assert(math.abs(eval1(VectorOps.norm(lift(a))) - math.sqrt(14.0)) < 1e-12)
    val expected = 12.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(math.abs(eval1(VectorOps.cosine(lift(a), lift(b))) - expected) < 1e-12)
  }

  test("cosine properties: self≈1, bounded, symmetric (20 seeded samples)") {
    // no scalatest↔scalacheck bridge in the offline cache → sample Gen
    // directly with pinned seeds (still property-shaped, reproducible)
    val vecGen = Gen.listOfN(8, Gen.choose(-10.0, 10.0))
      .suchThat(v => v.exists(x => math.abs(x) > 1e-3))
    for (i <- 0 until 20) {
      val a = vecGen.apply(Gen.Parameters.default, Seed(2 * i)).get
      val b = vecGen.apply(Gen.Parameters.default, Seed(2 * i + 1)).get
      val self = eval1(VectorOps.cosine(lift(a), lift(a)))
      assert(math.abs(self - 1.0) < 1e-9)
      val ab = eval1(VectorOps.cosine(lift(a), lift(b)))
      val ba = eval1(VectorOps.cosine(lift(b), lift(a)))
      assert(ab <= 1.0 + 1e-9 && ab >= -1.0 - 1e-9)
      assert(math.abs(ab - ba) < 1e-12)
    }
  }

  test("hyperplaneBucket: opposite vectors land in complementary buckets") {
    val planes = VectorOps.randomPlanes(8, 3, seed = 42L)
    val v = Seq(0.3, -0.7, 0.5)
    val bv = eval1(VectorOps.hyperplaneBucket(lift(v), planes)).toLong
    val bn = eval1(VectorOps.hyperplaneBucket(lift(v.map(-_)), planes)).toLong
    // sign flips on every plane (no exact-zero dot products for this v)
    assert((bv ^ bn) == 255L)
  }

  test("native codegen dot/norm2 are bit-identical to the HOF forms") {
    val vecGen = Gen.listOfN(16, Gen.choose(-100.0, 100.0))
    for (i <- 0 until 20) {
      val a = vecGen.apply(Gen.Parameters.default, Seed(100 + 2 * i)).get
      val b = vecGen.apply(Gen.Parameters.default, Seed(101 + 2 * i)).get
      // exact ==: both accumulate strictly left-to-right in doubles
      assert(eval1(VectorOps.dot(lift(a), lift(b))) ==
        eval1(hofDot(lift(a), lift(b))))
      assert(eval1(VectorOps.norm2(lift(a))) ==
        eval1(hofNorm2(lift(a))))
    }
  }

  test("native dot handles nulls and length mismatch") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val nullArr = lit(null).cast(ArrayType(DoubleType))
    val r = spark.range(1)
      .select(VectorOps.dot(nullArr, lift(Seq(1.0))).as("x"))
      .collect()(0)
    assert(r.isNullAt(0), "null array must yield null, not crash")
    assert(eval1(VectorOps.dot(lift(Seq(1.0, 2.0, 3.0)), lift(Seq(2.0)))) == 2.0)
  }

  test("null ELEMENTS null the result, same as the HOF forms") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val withNull = array(lit(1.0), lit(null).cast(DoubleType), lit(3.0))
    val clean = lift(Seq(2.0, 2.0, 2.0))
    val row = spark.range(1).select(
      VectorOps.dot(withNull, clean).as("d"),
      VectorOps.norm2(withNull).as("n"),
      hofDot(withNull, clean).as("hd")).collect()(0)
    assert(row.isNullAt(0), "native dot must not read a null slot as 0.0")
    assert(row.isNullAt(1), "native norm2 must not read a null slot as 0.0")
    assert(row.isNullAt(2), "HOF reference agrees")
  }

  test("randomPlanes is seed-deterministic") {
    assert(VectorOps.randomPlanes(4, 16, 7L) == VectorOps.randomPlanes(4, 16, 7L))
    assert(VectorOps.randomPlanes(4, 16, 7L) != VectorOps.randomPlanes(4, 16, 8L))
  }
}
