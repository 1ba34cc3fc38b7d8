package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provisioned star schema
  * (`/root/testdata/sf*`, see TESTDATA.md). One parquet file per table.
  *
  * At 100 TB these would be partitioned/bucketed datasets; the loader
  * stays the same (`spark.read.parquet(dir)`) — partition pruning and
  * filter pushdown are handled by the parquet source, so every query in
  * [[graft.operators.StarQueries]] scans only what it projects.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    normalizeTimestamps(spark.read.parquet(s"$dir/$name.parquet"))

  /** Driver fixture generators have shipped timestamps in three parquet
    * encodings across rounds: TIMESTAMP(MICROS, adjustedToUTC) → Spark
    * TimestampType; TIMESTAMP(MICROS, not adjusted) → TIMESTAMP_NTZ;
    * TIMESTAMP(NANOS) → rejected unless read as long (see [[events]]).
    * Every downstream consumer (`unix_micros`, typed `Timestamp`
    * encoders, window/as-of arithmetic) expects TimestampType, so fold
    * any NTZ column to it here. The session timezone is pinned to UTC
    * ([[GraftSession]]), which makes the cast value-preserving: the
    * wall-clock fields are reinterpreted as the same UTC instant DuckDB
    * reads from the file. */
  private def normalizeTimestamps(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val ntz = df.schema.fields.collect {
      case f if f.dataType == TimestampNTZType => f.name
    }
    ntz.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast(TimestampType)))
  }

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark 4's vectorized
    * reader rejects. Read it as a nanos long (legacy conf) and convert to
    * a proper TimestampType column — the corpus has exact-microsecond
    * values, so ns→µs is lossless.
    *
    * KNOWN SESSION-WIDE EFFECT: the `nanosAsLong` conf stays set for
    * the session. It cannot be save/restored here because the returned
    * DataFrame is lazy — the scan consults the conf at execution, after
    * this method returned. It only alters reads of TIMESTAMP(NANOS)
    * parquet (the events table is the sole such source in this system);
    * a session that must read other nanos sources as timestamps should
    * load events first and flip the conf back after materializing. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integral DIV — double division would lose precision on epoch-ns
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
