package graft

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.{broadcast, count, lit}

/** The one owner of the engine's scale decisions: the shuffle width
  * every spread pins, the layout probe that decides whether to spread,
  * the broadcast envelopes that decide whether a join ships a frame or
  * shuffles it, and the checkpoint that measures a frame's size while
  * materializing it. Operators ask here; none reads the width conf,
  * probes a layout or compares a row count to a literal on its own
  * (`MutationSitesSpec` fails on a new site). Every decision changes
  * plan shape only — results are partitioning- and strategy-invariant
  * by the engine's determinism conventions (DeterminismSpec).
  *
  * Width: `spark.sql.shuffle.partitions` is the ONE deployment-tracked
  * width knob ([[GraftSession]]) — cores locally, thousands on a
  * cluster — so a spread scales with the deployment instead of
  * hardcoding a local constant. Spreading is the round-15 fix for
  * compute-dense pipelines whose parallelism would otherwise be
  * inherited from the INPUT layout. Two layout pathologies motivate it
  * (guide §2.5/§6): (a) a single-row-group parquet file is
  * unsplittable, so a scan of it is ONE task and everything pipelined
  * on top (shingle explodes, all-pairs cosine scoring, wedge
  * enumeration) runs on one core of the whole cluster; (b) AQE's
  * partition coalescing sizes post-shuffle partitions by their INPUT
  * bytes, so a small frame feeding a high-fan-out join/generate is
  * coalesced to one partition and the fan-out work serializes. An
  * explicit numPartitions pins the width (AQE never coalesces
  * user-specified repartitioning). Hash partitioning on an explicit key
  * keeps the assignment deterministic under task retry (a keyless
  * round-robin repartition pays a per-partition sort and rides on
  * input order).
  *
  * Sizes: a broadcast decision needs a row count, and the frames it is
  * about are materialized anyway — [[checkpoint]] takes the count (and
  * any other one-pass metric) as an `Observation` on the same eager
  * `localCheckpoint` job, never as a separate `count()` job over a
  * frame checkpointed one line earlier. */
object ScalePolicy {

  /** The session's shuffle width — the one place it is read. */
  def width(spark: SparkSession): Int =
    spark.sessionState.conf.numShufflePartitions

  /** Hash-repartition `df` on `by` across the session's shuffle width. */
  def spread(df: DataFrame, by: Column*): DataFrame = {
    require(by.nonEmpty, "spread needs an explicit deterministic key")
    df.repartition(width(df.sparkSession), by: _*)
  }

  /** [[spread]] `df` on `by` ONLY when a scan's layout is narrower than
    * half the shuffle width — the input-layout-adaptive form for heavy
    * per-row work over a base-table scan. The probed scan is `df`
    * itself by default, or `scan` when `df` is derived from it (joins,
    * aggregations upstream).
    *
    * At deployment scale the fact table arrives as thousands of splits,
    * the condition is false, and this is the identity: the partial
    * aggregation stays map-side on the scan and no raw-row shuffle is
    * ever added (repartitioning a 100 TB scan before its partial agg
    * would be a full extra pass). On a narrow layout (the gate fixtures
    * are single-row-group files — unsplittable, one task per scan) it
    * pays one narrow exchange of the pruned columns to buy the full
    * width for the per-row work. Column pruning pushes the projection
    * below the repartition, so only consumed columns move.
    *
    * The probed frame must be exchange-free, and this is checked: under
    * AQE, `.rdd` on a frame with exchanges MATERIALIZES every upstream
    * query stage — it runs the whole chain once just to read a
    * partition count, and the real action then runs it again (measured:
    * p12 1.8× slower with the probe on its derived frame, round 16). On
    * an exchange-free scan `.rdd` is plan-only. */
  def spreadIfNarrow(df: DataFrame, by: Column,
                     scan: Option[DataFrame] = None): DataFrame = {
    val probe = scan.getOrElse(df)
    val exchangeFree = probe.queryExecution.executedPlan.find {
      case _: AdaptiveSparkPlanExec | _: Exchange => true
      case _ => false
    }.isEmpty
    require(exchangeFree, "spreadIfNarrow probes only exchange-free scans: " +
      "the layout of a frame with exchanges is known only by running it")
    if (2 * probe.rdd.getNumPartitions >= width(df.sparkSession)) df
    else spread(df, by)
  }

  /** A broadcast envelope: a frame of at most `rows` rows is shipped
    * whole into its joins. Pinning the exchange-free broadcast at
    * planner time beats leaving SMJ-vs-BHJ to AQE's runtime estimate:
    * AQE can only convert AFTER both sides' shuffles have materialized
    * (the map-side write is paid either way), while a planner-time hint
    * never exchanges the big side at all. Past the envelope the join
    * keeps its keyed-shuffle plan — results identical either way. */
  final class Envelope private[ScalePolicy] (val rows: Long) {
    def fits(n: Long): Boolean = n <= rows

    /** `broadcast` when `n` rows fit, else the identity. */
    def hint(n: Long): DataFrame => DataFrame =
      if (fits(n)) broadcast else identity
  }

  /** Per-round NODE-sized graph frames (rank vectors, label frames, BFS
    * frontiers, keep-sets, degree tables): ~16 B/row payload, well under
    * the 8 GB broadcast cap with hash-relation overhead. */
  val nodeFrames = new Envelope(4000000L)

  /** An EDGE-sized graph frame (the triangle closure list — two longs a
    * row); the wedge probe holds the whole relation per task. */
  val edgeFrames = new Envelope(4000000L)

  /** `Cumulative.withGroupedRank`'s (partition × group) summary, ≈ tens
    * of MB at ~50 B/row — e.g. 32 partitions × >30k strata. Past it the
    * offset/total joins shuffle, so stratum cardinality can grow
    * without bound. */
  val rankSummaries = new Envelope(1000000L)

  /** Frames carrying query or corpus VECTORS into the IVF candidate
    * joins (|queries|·nprobe probe rows, or a vector table, × dim
    * doubles): an unconditional hint on a million-query batch would
    * OOM the driver. */
  val vectorFrames = new Envelope(200000L)

  /** A frame [[checkpoint]] materialized, with what was observed on it. */
  final case class Checkpointed(frame: DataFrame, rows: Long,
                                metrics: Map[String, Any]) {
    /** A `Long` metric. An aggregate over no rows (`min`, `sum`) is
      * null, which a cast would silently turn into 0 — it fails here
      * instead. */
    def long(name: String): Long = metrics(name) match {
      case null => throw new IllegalArgumentException(
        s"observed metric $name is null: the checkpointed frame is empty")
      case v => v.asInstanceOf[Long]
    }
  }

  /** Eager `localCheckpoint` of `df` whose row count — and each of
    * `metrics`, one-pass aggregates only (counts, sums, min/max; no
    * distincts) — rides the checkpoint's own job as an `Observation`:
    * no extra pass, no extra job. */
  def checkpoint(df: DataFrame, metrics: Column*): Checkpointed = {
    val obs = Observation()
    val frame = df.observe(obs, count(lit(1)).as("rows"), metrics: _*)
      .localCheckpoint(true)
    val m = obs.get
    Checkpointed(frame, m("rows").asInstanceOf[Long], m)
  }
}
