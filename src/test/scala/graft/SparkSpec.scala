package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for the whole forked test JVM.
  * Suites never stop it — scalatest runs suites sequentially in one JVM
  * and session startup (~5s) would otherwise dominate test time. It is
  * built through [[GraftSession.builder]], so the suites run the
  * engine's deployment posture, the codegen cache size included. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  /** t1-scale fixtures: ~6k lineitem rows, fast enough for unit tests. */
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.sf

  /** Deterministic content digest of a DataFrame, column-order and
    * row-order independent (mirrors the driver's canonicalization).
    * Row hashes are summed in decimal(38,0) — a plain long sum would
    * hit ANSI ARITHMETIC_OVERFLOW. */
  def digest(df: DataFrame): BigDecimal = {
    import org.apache.spark.sql.functions._
    val cols = df.columns.sorted.map(c =>
      coalesce(col(c).cast("string"), lit(" null")))
    val d = df.select(xxhash64(cols: _*)
        .cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("h"))
      .agg(sum("h")).collect()(0).getDecimal(0)
    BigDecimal(d)
  }
}
