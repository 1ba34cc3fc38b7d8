package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import graft.Tables
import graft.functions.ZOrderExprs.InterleaveBits

/** Multi-dimensional data layout — Z-order clustering for file
  * skipping (see [[graft.functions.ZOrderExprs]] for why linear sort
  * only prunes one predicate column). The write path:
  *
  *   1. bucketize each clustering column to `[0, 2^bits)` against its
  *      global min/max (a 1-row broadcast — the plan stays lazy; at
  *      100 TB the ranges come from table stats or a sample, and
  *      quantile-based buckets replace min/max when a dimension is
  *      heavily skewed);
  *   2. interleave the bucket bits into the Morton key (codegen'd
  *      [[InterleaveBits]]);
  *   3. `repartitionByRange` + in-partition sort on the key, so each
  *      output file owns a contiguous Z-range = a small hyper-rectangle
  *      of the clustered dimensions, which parquet min/max stats then
  *      prune on ANY clustered column.
  *
  * LayoutSpec proves the claim measurably: after a Z-ordered write,
  * per-file ranges are narrow in BOTH dimensions, where the linear sort
  * leaves the second dimension spanning the full range in every file.
  */
object Layout {

  /** Bucket id in `[0, 2^bits)` for `x` in `[mn, mx]`. The division is
    * IEEE double (correctly rounded, bit-identical across engines — the
    * oracle mirrors it textually); operands stay ≤2^53 for any int32
    * dimension so the doubles are exact. */
  def bucket(x: Column, mn: Column, mx: Column, bits: Int): Column =
    // cast BEFORE subtracting: int32 x - mn can overflow when the
    // range spans most of the int domain
    floor(((x.cast(LongType) - mn.cast(LongType)) * lit(1L << bits))
        .cast(DoubleType) /
      (mx.cast(LongType) - mn.cast(LongType) + lit(1L)).cast(DoubleType))
      .cast(IntegerType)

  /** The Morton key over already-bucketized dimension ids. */
  def zvalue(buckets: Seq[Column], bits: Int): Column =
    GraftSqlBridge.column(
      InterleaveBits(buckets.map(GraftSqlBridge.expression), bits))

  /** `df` re-laid-out on the Z-curve of `cols` (8 bits per column)
    * into `numFiles` range slices (write with `.parquet(...)` to
    * materialize the layout).
    * Ranges are computed from the data in one tiny broadcast aggregate;
    * ties beyond the Z-key keep the input order within a partition. */
  def zorderLayout(df: DataFrame, cols: Seq[String],
                   numFiles: Int = 32): DataFrame = {
    val bits = 8
    // the helper columns join onto the caller's frame BY NAME: a caller
    // column with a reserved name would either throw an ambiguous
    // reference or be silently swallowed by the final drop()
    val reserved = "__zv" +: cols.flatMap(c => Seq(s"__mn_$c", s"__mx_$c"))
    val clash = df.columns.toSet.intersect(reserved.toSet)
    require(clash.isEmpty,
      s"zorderLayout reserves column name(s) ${clash.mkString(", ")} — rename them first")
    val aggs = cols.flatMap(c => Seq(
      min(col(c).cast(LongType)).as(s"__mn_$c"),
      max(col(c).cast(LongType)).as(s"__mx_$c")))
    val ranges = df.agg(aggs.head, aggs.tail: _*)
    val buckets = cols.map(c =>
      bucket(col(c).cast(LongType), col(s"__mn_$c"), col(s"__mx_$c"), bits))
    df.crossJoin(broadcast(ranges))
      .withColumn("__zv", zvalue(buckets, bits))
      .repartitionByRange(numFiles, col("__zv"))
      .sortWithinPartitions(col("__zv"))
      .drop(("__zv" +: cols.flatMap(c => Seq(s"__mn_$c", s"__mx_$c"))): _*)
  }

  // ---------------------------------------------------------------------------
  // q31 — the Z-curve itself, oracle-pinned: bucket (l_partkey,
  // l_suppkey) to 8 bits each and interleave; DuckDB recomputes the
  // same key from first principles (explicit shift/mask terms), so the
  // custom codegen expression is hash-verified bit-for-bit.
  // ---------------------------------------------------------------------------
  private val zBits = 8

  def q31ZorderCurve(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"))
    val ranges = li.agg(
      min(col("l_partkey")).as("__mn_p"), max(col("l_partkey")).as("__mx_p"),
      min(col("l_suppkey")).as("__mn_s"), max(col("l_suppkey")).as("__mx_s"))
    li.crossJoin(broadcast(ranges))
      .withColumn("zv", zvalue(Seq(
        bucket(col("l_partkey"), col("__mn_p"), col("__mx_p"), zBits),
        bucket(col("l_suppkey"), col("__mn_s"), col("__mx_s"), zBits)), zBits))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"), col("zv"))
      .orderBy(col("zv"), col("l_orderkey"), col("l_linenumber"))
      .limit(100)
  }

  val q31Sql: String = {
    // both differences go through BIGINT before multiplying/adding,
    // mirroring the Scala path's long arithmetic — in the column's
    // native INT32 a wide key range × 2^bits would overflow in DuckDB
    def bkt(x: String, mn: String, mx: String) =
      s"CAST(FLOOR(CAST(CAST($x - $mn AS BIGINT) * ${1L << zBits} AS DOUBLE) / " +
        s"CAST(CAST($mx AS BIGINT) - $mn + 1 AS DOUBLE)) AS INT)"
    // z = Σ_i bit_i(bp)<<(2i+1) | bit_i(bs)<<(2i) — first dim in the
    // higher slot, matching InterleaveBits
    val terms = (0 until zBits).flatMap(i => Seq(
      s"(((CAST(bp AS BIGINT) >> $i) & 1) << ${2 * i + 1})",
      s"(((CAST(bs AS BIGINT) >> $i) & 1) << ${2 * i})"))
    s"""WITH r AS (
       |  SELECT MIN(l_partkey) AS mnp, MAX(l_partkey) AS mxp,
       |         MIN(l_suppkey) AS mns, MAX(l_suppkey) AS mxs
       |  FROM lineitem),
       |b AS (
       |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       |         ${bkt("l_partkey", "mnp", "mxp")} AS bp,
       |         ${bkt("l_suppkey", "mns", "mxs")} AS bs
       |  FROM lineitem CROSS JOIN r)
       |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       |       (${terms.mkString(" | ")}) AS zv
       |FROM b
       |ORDER BY zv, l_orderkey, l_linenumber
       |LIMIT 100""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q31_zorder_curve" -> q31ZorderCurve _,
  )

  val oracles: Map[String, String] = Map(
    "q31_zorder_curve" -> q31Sql,
  )
}
