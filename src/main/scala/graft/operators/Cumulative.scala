package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Distributed cumulative sum + rank under a TOTAL order — the scalable
  * replacement for `Window.orderBy(...)` with no `partitionBy`, which
  * Spark executes by moving every row to one task ("WindowExec: No
  * Partition Defined"). That is fine for a 25-row yearly table and a
  * hazard when the windowed frame is group-key-sized (developers,
  * suppliers): group-key cardinality grows with the data, so at 100×
  * scale the single task sorts everything.
  *
  * Shape (the classic two-phase prefix sum):
  *  1. range-repartition on the sort order, so physical partition i
  *     holds a contiguous slice of the global order;
  *  2. run the window PER PARTITION (`partitionBy(spark_partition_id)`)
  *     — P parallel local windows instead of one global one;
  *  3. correct each partition by the sums/counts of its predecessors:
  *     a P-row per-partition summary, prefix-combined with a triangle
  *     join (P² pairs, P = shuffle parallelism — trivial), broadcast
  *     back onto the rows.
  * `sortCols` must be a total order (unique tiebreaker) — with ties the
  * range partitioner and the rank would not agree on a single global
  * order.
  *
  * Cache lifetime: the partitioned frame is materialized once via an
  * EAGER `localCheckpoint` (group-key-sized blocks, freed by the
  * ContextCleaner when the result frame is garbage-collected), and the
  * transient persist on the input is dropped as soon as that checkpoint
  * completes — repeated calls in a long-lived session do not accrete
  * cache entries. The eager checkpoint means CONSTRUCTING the result
  * runs the range-sampling + shuffle jobs immediately (the callers are
  * gate queries that execute right away; a plan-only inspection pays
  * one small materialization).
  */
object Cumulative {

  /** Adds `cumName` (running sum of `valueCol`, nulls skipped exactly as
    * an unpartitioned window would) and — when `rankName` is non-null —
    * a global row_number (INT) under `sortCols`. When `totName` is set, also adds the GLOBAL sum of
    * `valueCol` as a column — derived from the per-partition summaries,
    * so it costs one tiny aggregate instead of a second pass over the
    * input's lineage.
    *
    * The input is persisted (MEMORY_AND_DISK) only for the duration of
    * this call: range partitioning runs a boundary-sampling job over the
    * child before the shuffle, which would otherwise recompute the
    * input's whole lineage a second time. Once the partitioned frame is
    * checkpointed the input persist is released. The materialized frame
    * is the windowed frame itself — group-key cardinality, not fact
    * data. */
  def withCumsumAndRank(df: DataFrame, sortCols: Seq[Column], valueCol: Column,
                        cumName: String, rankName: String = null,
                        totName: String = null): DataFrame = {
    val p = graft.ScalePolicy.width(df.sparkSession)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // the input persist keeps the range-boundary sampling job from
    // recomputing its lineage; the eager localCheckpoint materializes
    // the repartitioned+labeled frame ONCE for its three consumers
    // (row-level window, partition summary, optional total) and lets the
    // input persist drop immediately — no cache entries survive the call.
    // Persist/unpersist ONLY if the caller hasn't cached df already:
    // persist() on an already-cached plan is a no-op, so an unconditional
    // unpersist here would evict the CALLER's cache entry.
    val ownCache =
      df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val in = if (ownCache) df.persist(lvl) else df
    val parted = in
      .repartitionByRange(p, sortCols: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    if (ownCache) in.unpersist(blocking = false)
    val wLoc = Window.partitionBy(col("__pid")).orderBy(sortCols: _*)
    val cummed = parted
      .withColumn("__cum_loc", sum(valueCol).over(
        wLoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // rank is opt-in: a cumsum-only caller (t12 packing) should not pay
    // a per-row row_number it never reads
    val local = if (rankName == null) cummed
      else cummed.withColumn("__rn_loc", row_number().over(wLoc))
    val parts = parted.groupBy(col("__pid"))
      .agg(sum(valueCol).as("__psum"), count(lit(1)).as("__pcnt"))
    val preds = parts.select(col("__pid").as("__bpid"),
      col("__psum").as("__bpsum"), col("__pcnt").as("__bpcnt"))
    // prefix offsets: for partition k, the sum/count over partitions < k
    val offs = parts.join(preds, col("__bpid") < col("__pid"), "left")
      .groupBy(col("__pid"))
      .agg(sum(col("__bpsum")).as("__osum"), sum(col("__bpcnt")).as("__ocnt"))
    val withOffs = local.join(broadcast(offs), Seq("__pid"))
    val out =
      if (totName == null) withOffs
      else withOffs.crossJoin(broadcast(parts.agg(sum(col("__psum")).as(totName))))
    val withCum = out
      // null-skipping semantics of the one-phase window: cum is null only
      // while no non-null value has been seen yet in the global prefix
      .withColumn(cumName,
        when(col("__cum_loc").isNull && col("__osum").isNull, lit(null))
          .otherwise(coalesce(col("__cum_loc"), lit(0)) +
                     coalesce(col("__osum"), lit(0))))
    (if (rankName == null) withCum
     else withCum.withColumn(rankName,
       (col("__rn_loc") + coalesce(col("__ocnt"), lit(0L))).cast("int")))
      .drop("__pid", "__cum_loc", "__rn_loc", "__osum", "__ocnt")
  }

  /** Adds `rankName` (1-based row_number within each `groupCols` group
    * under `sortCols`) and `totName` (the group's row count) — the
    * GROUPED generalization of [[withCumsumAndRank]], for when the
    * groups themselves can be huge: `Window.partitionBy(group)` moves
    * every row of a group to ONE task, so a billion-document stratum
    * serializes; here the range partitioner splits on
    * (group, sortCols), each partition ranks its contiguous slice
    * locally, and a (partition × group)-sized summary supplies each
    * slice's per-group offset and each group's total. Within-group
    * `sortCols` must totally order rows of that group; `groupCols` must
    * be simple named columns with NON-NULL values (the offset/total
    * joins are name-keyed equality joins).
    *
    * The (pid × group) summary is BROADCAST only while it fits
    * [[graft.ScalePolicy.rankSummaries]]: past it the offset/total
    * joins fall back to ordinary shuffle hash/merge joins, keyed on
    * (pid, group) and (group) respectively, so stratum cardinality can
    * grow without bound without risking driver/executor OOM on the
    * broadcast. The row count that picks the strategy rides the
    * summary's own eager checkpoint — no extra job. */
  def withGroupedRank(df: DataFrame, groupCols: Seq[Column],
                      sortCols: Seq[Column], rankName: String,
                      totName: String): DataFrame = {
    val p = graft.ScalePolicy.width(df.sparkSession)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val ownCache =
      df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val in = if (ownCache) df.persist(lvl) else df
    // group-first range order: a partition holds contiguous runs of at
    // most a few groups, and a huge group spans MANY partitions
    val order = groupCols ++ sortCols
    val parted = in
      .repartitionByRange(p, order: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    if (ownCache) in.unpersist(blocking = false)
    val wLoc = Window.partitionBy(col("__pid") +: groupCols: _*)
      .orderBy(sortCols: _*)
    val local = parted.withColumn("__rn_loc", row_number().over(wLoc))
    // (pid, group) summary — partition-count × groups-per-partition
    // rows, tiny next to the data; checkpointed for its three consumers
    val partsCp = graft.ScalePolicy.checkpoint(
      parted.groupBy(col("__pid") +: groupCols: _*)
        .agg(count(lit(1)).as("__pcnt")))
    val parts = partsCp.frame
    val gkeys = groupCols.map(_.toString)
    val preds = parts.select(
      col("__pid").as("__bpid") +: col("__pcnt").as("__bpcnt") +:
        gkeys.map(k => col(k).as(s"__g_$k")): _*)
    // per-(pid, group) offset: same group's counts in earlier partitions
    val offs = parts.join(preds,
        gkeys.map(k => col(k) <=> col(s"__g_$k")).reduce(_ && _) &&
          col("__bpid") < col("__pid"), "left")
      .groupBy(col("__pid") +: gkeys.map(col): _*)
      .agg(sum(col("__bpcnt")).as("__ocnt"))
    val tots = parts.groupBy(gkeys.map(col): _*)
      .agg(sum(col("__pcnt")).as(totName))
    val hint = graft.ScalePolicy.rankSummaries.hint(partsCp.rows)
    local
      .join(hint(offs), Seq("__pid") ++ gkeys)
      .join(hint(tots), gkeys)
      .withColumn(rankName,
        (col("__rn_loc") + coalesce(col("__ocnt"), lit(0L))).cast("long"))
      .drop("__pid", "__rn_loc", "__ocnt")
  }
}
