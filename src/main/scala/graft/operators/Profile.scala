package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.Tables

/** Dataset profiling — the standing QC pass every training-data
  * pipeline runs before (and after) a transform batch: per-column row
  * counts, null counts, exact distinct cardinalities, and min/max,
  * computed in ONE logical query over the corpus.
  *
  * Scale notes: the exact form (p03) runs multiple `COUNT(DISTINCT)`s
  * in one aggregate plan through Spark's Expand (one input row fans to
  * one row per distinct aggregate) — a deliberate one-pass/expand
  * trade, kept because it is oracle-checkable. The 100 TB form (p05,
  * [[approxProfile]]) swaps `approx_count_distinct` (HLL++, no Expand,
  * mergeable sketches) into the identical shape. Min/max on strings
  * compare binary (both engines' default), so the profile is
  * cross-engine stable.
  */
object Profile {

  /** One profile row per listed column: (column_name, n_rows, n_nulls,
    * n_distinct, min_value, max_value) — min/max surfaced as strings so
    * heterogeneous column types fit one frame. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame =
    profileWith(df, cols, c => countDistinct(col(c)))

  /** The 100 TB profile: identical shape, but distinct cardinalities via
    * `approx_count_distinct` (HLL++, relative standard deviation
    * 0.02). No Expand fan-out — each input row
    * is consumed once — and the sketches are mergeable partial
    * aggregates, so the whole profile is one streaming pass whatever the
    * column count. Estimates are engine-specific (rows-only gate); the
    * error envelope vs the exact profile is pinned in ProfileSpec. */
  def approxProfile(df: DataFrame, cols: Seq[String]): DataFrame =
    profileWith(df, cols, c => approx_count_distinct(col(c), 0.02).cast("bigint"))

  private def profileWith(df: DataFrame, cols: Seq[String],
                          distinctAgg: String => Column): DataFrame = {
    val aggs: Seq[Column] = count(lit(1)).as("__n") +: cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__nn_$c"),
        distinctAgg(c).as(s"__nd_$c"),
        min(col(c)).cast(StringType).as(s"__mn_$c"),
        max(col(c)).cast(StringType).as(s"__mx_$c"))
    }
    val groups = cols.map(c =>
      s"'$c', __n, __n - __nn_$c, __nd_$c, __mn_$c, __mx_$c").mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .select(expr(
        s"""stack(${cols.size}, $groups)
           |AS (column_name, n_rows, n_nulls, n_distinct, min_value, max_value)"""
          .stripMargin))
      .orderBy(col("column_name"))
  }

  // ---------------------------------------------------------------------------
  // p03 — the documents-table profile, oracle-checked column for column.
  // ---------------------------------------------------------------------------
  private val docCols = Seq("doc_id", "lang", "n_chars", "source", "text")

  def p03DataProfile(spark: SparkSession, dir: String): DataFrame =
    profile(Tables.documents(spark, dir), docCols)

  /** p05 — the approx (HLL++) twin of p03, the form that actually runs
    * at 100 TB. Rows-only gate; ≤5% distinct error pinned in ProfileSpec. */
  def p05ApproxProfile(spark: SparkSession, dir: String): DataFrame =
    approxProfile(Tables.documents(spark, dir), docCols)

  val p03Sql: String = {
    val agg = docCols.zipWithIndex.map { case (c, i) =>
      s"COUNT($c) AS nn$i, COUNT(DISTINCT $c) AS nd$i, " +
        s"CAST(MIN($c) AS VARCHAR) AS mn$i, CAST(MAX($c) AS VARCHAR) AS mx$i"
    }.mkString(", ")
    val branches = docCols.zipWithIndex.map { case (c, i) =>
      s"SELECT '$c' AS column_name, n AS n_rows, n - nn$i AS n_nulls, " +
        s"nd$i AS n_distinct, mn$i AS min_value, mx$i AS max_value FROM a"
    }.mkString("\nUNION ALL ")
    s"""WITH a AS (SELECT COUNT(*) AS n, $agg FROM documents)
       |$branches
       |ORDER BY column_name""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p03_data_profile"   -> p03DataProfile _,
    "p05_approx_profile" -> p05ApproxProfile _,
  )

  val oracles: Map[String, String] = Map(
    "p03_data_profile" -> p03Sql,
  )
}
