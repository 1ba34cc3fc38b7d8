package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

import graft.streaming.Staging

/** Partitioned parquet serving layer — the engine's write path
  * (replaces the reference's HBase shell-put sink, stage3.ipynb cell 3;
  * semantics preserved as queryable tables, store swapped for a format
  * Spark scans with pruning).
  *
  * Scale posture:
  *  - `partitionBy` on low-cardinality query predicates (year, kind)
  *    turns those predicates into directory pruning — a year-filtered
  *    scan of a 100 TB table touches only that year's files.
  *  - The pre-write `repartition(partition cols)` routes each
  *    partition's rows to one task → one file per partition instead of
  *    (tasks × partitions) small files, the classic small-file failure
  *    at scale. For very large single partitions add a bucketing
  *    column to the repartition to split output files.
  */
object Warehouse {

  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String],
                       mode: SaveMode = SaveMode.Overwrite): Unit =
    df.repartition(partitionCols.map(col): _*)
      .write
      .mode(mode)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Output file size [[compact]] aims at (128 MiB). */
  private val targetFileBytes = 128L * 1024 * 1024

  /** Small-file compaction — the standing maintenance job of any
    * long-lived parquet warehouse: streaming/append producers leave
    * thousands of KB-scale files per directory, and at 100 TB the
    * resulting task-per-file scheduling + open/footer overhead dominates
    * scans. Rewrites `path` into ⌈bytes / targetFileBytes⌉ files via a
    * round-robin repartition (size-balanced without needing a shuffle
    * key), writes to a temp sibling, then swaps (a production lakehouse
    * does the swap under a table-format transaction — Spark-level
    * compaction is the same rewrite). The swap moves the NEW files into
    * the live path first and deletes the old generation after, so a
    * crash at any point leaves at least one complete copy under the
    * live path: before the move it is the old files; mid-swap it is the
    * old files plus a prefix of the new ones (recover by deleting the
    * `compacted-<stamp>-` generation); after the move the new copy is
    * complete and the deletes only remove redundancy. Single-writer
    * maintenance window assumed (a reader overlapping the swap can see
    * both generations).
    *
    * For a `partitionBy` layout, run per partition directory (each is a
    * flat parquet dir); compacting the root would flatten the partition
    * columns out of the directory structure, so a root containing
    * `name=value` partition directories is refused.
    *
    * Returns (filesBefore, filesAfter). */
  def compact(spark: SparkSession, path: String): (Int, Int) = {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    // Files.walk streams hold open DirectoryStreams — materialize under
    // try/finally or a per-partition maintenance loop leaks an fd per call
    def walk(p: Path): Seq[Path] = {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq finally s.close()
    }
    def parquetFiles(p: String) =
      walk(Paths.get(p))
        .filter(f => f.toString.endsWith(".parquet") && Files.isRegularFile(f))
    val dir = Paths.get(path)
    // refuse ANY subdirectory, not only hive name=value ones: the sizing
    // walk and the delete are recursive, but spark.read.parquet(path)
    // does not read non-hive nested files — compacting such a root
    // would delete nested rows without rewriting them
    val subDirs = walk(dir).filter(p => p != dir && Files.isDirectory(p))
    require(subDirs.isEmpty, {
      val names = subDirs.take(3).map(_.getFileName).mkString(", ")
      if (subDirs.exists(_.getFileName.toString.contains("=")))
        s"compact: $path contains partition directories ($names…); " +
          "compacting the root would flatten the hive layout — " +
          "run compact on each partition directory instead"
      else
        s"compact: $path contains subdirectories ($names…); their files " +
          "are invisible to a top-level parquet read and would be " +
          "deleted without being rewritten — compact flat directories only"
    })
    // crash detection: the swap below brackets its danger window with a
    // marker file (underscore-prefixed — invisible to parquet readers).
    // A surviving marker means a previous compact died mid-swap and the
    // directory holds a MIXED state that a blind re-run would
    // double-count (compact would faithfully rewrite the doubled rows).
    // Name-based detection can't do this job: `compacted-*` plus
    // `part-*` is also the legitimate compact-then-append state.
    // cross-refusal: if an UPSERT died mid-swap on the owning table,
    // this directory (a leaf of that table, or the table itself) may be
    // an emptied or partial partition — compacting it would faithfully
    // rewrite the damage and erase the evidence. The table root is
    // found by climbing out of the hive name=value levels.
    val tableRoot = Iterator.iterate(dir)(_.getParent)
      .dropWhile(p => p.getParent != null &&
        p.getFileName.toString.contains("=")).next()
    val upsertMarker = tableRoot.resolve("_graft_upsert_inprogress")
    require(!Files.exists(upsertMarker),
      s"compact: $tableRoot has an unfinished upsert ($upsertMarker) — " +
        "this directory may be a mid-swap partition; recover the upsert " +
        "first (see the upsert marker's refusal message)")
    val marker = dir.resolve("_graft_compaction_inprogress")
    require(!Files.exists(marker), {
      val Array(phase, stamp) =
        new String(Files.readAllBytes(marker), "UTF-8").split("\n", 2)
      val recovery =
        if (phase == "swap")
          s"the OLD generation is complete — delete compacted-$stamp-* " +
            "files, the __compacting directory, then the marker"
        else
          s"the NEW generation (compacted-$stamp-*) is complete — delete " +
            "every other parquet file, the __compacting directory, then the marker"
      s"compact: $path has an unfinished compaction swap ($marker, " +
        s"phase=$phase): $recovery"
    })
    val before = parquetFiles(path)
    val totalBytes = before.map(Files.size).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val tmp = path.stripSuffix("/") + "__compacting"
    spark.read.parquet(path)
      .repartition(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(tmp)
    // swap order matters for crash safety: snapshot the old generation,
    // move the new files IN (stamped names — cannot collide with the old
    // part-* names), and only then delete the old generation. The marker
    // records which generation is complete at every instant: phase=swap
    // (old complete, new possibly partial) until every move lands, then
    // phase=clean (new complete, old possibly partially deleted).
    val old = walk(dir).filter(p => p != dir && Files.isRegularFile(p))
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    Files.write(marker, s"swap\n$stamp".getBytes("UTF-8"))
    walk(Paths.get(tmp))
      .filter(f => f.toString.endsWith(".parquet") && Files.isRegularFile(f))
      .foreach(f => Files.move(f, dir.resolve(s"compacted-$stamp-${f.getFileName}")))
    Files.write(marker, s"clean\n$stamp".getBytes("UTF-8"))
    old.foreach(Files.delete)
    walk(Paths.get(tmp)).reverse.foreach(Files.delete)
    Files.delete(marker)
    (before.size, parquetFiles(path).size)
  }

  /** Compact every LEAF partition directory of a `partitionBy` layout in
    * one call — the per-partition invocation [[compact]]'s scaladoc
    * prescribes, automated. Walks `name=value` directories to the
    * leaves (each a flat parquet dir) and compacts each independently,
    * so partition pruning metadata (the directory names) is untouched
    * and a crash mid-run damages at most one leaf's swap (recoverable
    * via that leaf's marker). Refuses non-partition subdirectories —
    * same rationale as [[compact]]'s flat-dir refusal.
    *
    * Returns (filesBefore, filesAfter) summed over leaves. */
  def compactPartitions(spark: SparkSession, root: String): (Int, Int) = {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    def children(p: Path): Seq[Path] = {
      val s = Files.list(p)
      try s.iterator().asScala.toSeq finally s.close()
    }
    def leafDirs(p: Path): Seq[Path] = {
      val dirs = children(p).filter(Files.isDirectory(_))
      val nonPart = dirs.filterNot(_.getFileName.toString.contains("="))
      require(nonPart.isEmpty,
        s"compactPartitions: non-partition subdirectories under $p " +
          s"(${nonPart.take(3).map(_.getFileName).mkString(", ")}) — " +
          "not a pure partitionBy layout")
      if (dirs.isEmpty) Seq(p) else dirs.flatMap(leafDirs)
    }
    val rootPath = Paths.get(root)
    require(children(rootPath).exists(p =>
        Files.isDirectory(p) && p.getFileName.toString.contains("=")),
      s"compactPartitions: $root has no name=value partition " +
        "directories — use compact for flat directories")
    val results = leafDirs(rootPath).map(l => compact(spark, l.toString))
    (results.map(_._1).sum, results.map(_._2).sum)
  }

  /** Partition-scoped UPSERT (merge) into a `partitionBy` layout — the
    * incremental-corpus maintenance op: land an update batch by
    * rewriting ONLY the partitions the batch touches, resolving each
    * key to its latest version inside those partitions.
    *
    * Mechanics:
    *  1. the batch's distinct partition tuples are collected (bounded
    *     by partition count, never row count) and compiled into a
    *     STATIC pruning predicate, so the existing-side read scans only
    *     touched directories — at 100 TB an update touching one day
    *     reads one day;
    *  2. existing ∪ batch resolve per key by (versionCol desc, batch
    *     over existing on ties) — a single window inside the touched
    *     slice;
    *  3. the merged slice is STAGED to a sibling directory
    *     (`<root>__upserting`, outside the table tree), then each
    *     touched leaf flips into the live tree with two atomic
    *     directory renames (live → `<leaf>__old`, staged → live); all
    *     other partitions are physically untouched (pinned by
    *     file-identity in ScalePostureSpec).
    *
    * Contract: partition column values are immutable per key — a key
    * that "moves" partitions would leave its old row behind (detecting
    * that requires a full-table key scan, which is the opposite of the
    * touched-partitions-only design; do a full rewrite for those).
    * Single-writer maintenance window, like [[compact]].
    *
    * READ CONSISTENCY: the merge and stage write happen entirely
    * OUTSIDE the table root, so the reader-visible inconsistency window
    * per touched partition is two directory renames (metadata ops) —
    * not the delete-then-rewrite of dynamic partition overwrite, where
    * a listing reader could see a partition empty for the whole write.
    * A reader that resolved its file list before the flip keeps
    * reading the old generation until `<leaf>__old` is deleted (same
    * exposure as [[compact]]'s stamped-move swap); readers of untouched
    * partitions never notice. The contract remains single-writer AND no
    * new listings of a touched partition inside its two-rename flip;
    * deployments needing fully concurrent readers put a snapshotting
    * table format or catalog in front (the flip becomes a metadata
    * commit). The crash marker bounds a writer dying mid-run to
    * "refuse further maintenance until recovered", with per-phase
    * mechanical recovery steps in the refusal message. */
  def upsert(spark: SparkSession, root: String, updates: DataFrame,
             keyCols: Seq[String], versionCol: String,
             partitionCols: Seq[String]): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{lit, row_number, xxhash64}
    import java.nio.file.{Files, Paths}
    require(keyCols.nonEmpty && partitionCols.nonEmpty)
    require(!updates.columns.exists(Set("__src", "__rn")),
      "upsert: __src/__rn are reserved merge helper names")
    // materialize the batch ONCE: it feeds the touched-partition collect
    // AND the merge write — a recomputed nondeterministic lineage could
    // write a partition that was never read (silent data loss), and the
    // double execution is the multi-consumer anti-pattern anyway
    val u = updates.localCheckpoint(true)
    val touched = u.select(partitionCols.map(col): _*).distinct().collect()
    require(touched.nonEmpty, "upsert: empty update batch")
    // null-safe matching: === against a null partition value is null,
    // which would skip reading the existing null-partition rows while
    // the dynamic overwrite still replaced their directory
    val touchedPred = touched.map { r =>
      partitionCols.zipWithIndex
        .map { case (c, i) => col(c) <=> lit(r.get(i)) }
        .reduce(_ && _)
    }.reduce(_ || _)
    val existing = read(spark, root).filter(touchedPred)
    require(existing.columns.toSet == u.columns.toSet,
      s"upsert: batch columns ${u.columns.sorted.mkString(",")} must equal " +
        s"table columns ${existing.columns.sorted.mkString(",")} — a missing " +
        "column would silently narrow every rewritten partition")
    // ...and TYPES, not just names: unionByName would coerce a drifted
    // batch type (version INT vs table BIGINT, a re-typed payload) and
    // silently rewrite every touched partition with changed column types
    val drift = existing.schema.flatMap { f =>
      val bt = u.schema(f.name).dataType
      if (bt == f.dataType) None else Some(s"${f.name}: table ${f.dataType.sql} vs batch ${bt.sql}")
    }
    require(drift.isEmpty,
      s"upsert: batch column types drifted from the table (${drift.mkString("; ")}) — " +
        "implicit coercion would re-type every rewritten partition")
    val ordered = u.columns.toSeq // one canonical column order
    // total order: version, then batch-over-existing, then a full-row
    // content hash — duplicate (key, version) rows resolve identically
    // under any shuffle width (identical rows are interchangeable)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(versionCol).desc, col("__src").desc,
        xxhash64(ordered.map(col): _*).asc)
    val merged = existing.select(ordered.map(col): _*).withColumn("__src", lit(0))
      .unionByName(u.select(ordered.map(col): _*).withColumn("__src", lit(1)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__src", "__rn")
    // crash detection, same posture as compact: the marker records the
    // phase so recovery is mechanical. phase=stage never touched the
    // live tree; phase=swap strands at most one leaf between its two
    // renames. A surviving marker makes the NEXT upsert refuse instead
    // of silently merging against a half-flipped partition.
    val marker = Paths.get(root).resolve("_graft_upsert_inprogress")
    val staging = root.stripSuffix("/") + "__upserting"
    require(!Files.exists(marker), {
      val phase = new String(Files.readAllBytes(marker), "UTF-8")
        .linesIterator.toSeq.headOption.getOrElse("")
      val recovery = phase match {
        case "stage" =>
          s"it died while staging: the live table is fully intact — delete $staging and this marker, then re-run"
        case "swap" =>
          "it died mid-flip. For each leaf listed in the marker: if the live leaf exists and no <leaf>__old — that flip finished (or never started; its staged twin under " +
            s"$staging then still holds the new generation, rename it in); if <leaf>__old exists beside a live leaf — the old generation was superseded, delete <leaf>__old; " +
            s"if <leaf>__old exists and the live leaf is MISSING — rename the staged leaf (or <leaf>__old) back in. Then delete $staging and this marker"
        case other =>
          s"unrecognized marker phase '$other': verify the touched partitions against $staging and upstream, then delete the marker"
      }
      s"upsert: $root has an unfinished upsert ($marker) — $recovery"
    })
    // cross-refusal: an unfinished COMPACTION in any partition means that
    // leaf may hold a doubled or partial generation — merging against it
    // would bake the damage into the rewritten partition and delete the
    // recovery trail. One namespace walk (metadata only, short-circuits
    // on the first hit), the same listing cost compactPartitions pays.
    val compacting = {
      val s = Files.walk(Paths.get(root))
      try s.filter(p =>
          p.getFileName.toString == "_graft_compaction_inprogress")
        .findFirst() finally s.close()
    }
    require(!compacting.isPresent,
      s"upsert: $root has an unfinished compaction (${compacting.orElse(null)}) — " +
        "recover that leaf per its marker before upserting")
    require(!Files.exists(Paths.get(staging)),
      s"upsert: leftover staging directory $staging (a previous run's " +
        "remains) — remove it first")
    import scala.jdk.CollectionConverters._
    def walk(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq finally s.close()
    }
    Files.write(marker,
      ("stage\n" + touched.map(_.toString).mkString("\n")).getBytes("UTF-8"))
    merged
      .repartition(partitionCols.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(staging)
    // the staged slice's leaf dirs ARE the touched partitions, carrying
    // Spark's own hive escaping (null → __HIVE_DEFAULT_PARTITION__,
    // %-encoded specials) — discovered from the write, never
    // reconstructed by hand-escaping values
    val stagingPath = Paths.get(staging)
    val stagedLeaves = walk(stagingPath).filter { p =>
      Files.isDirectory(p) && p.getFileName.toString.contains("=") && {
        val s = Files.list(p)
        try s.iterator().asScala.exists(Files.isRegularFile(_)) finally s.close()
      }
    }
    Files.write(marker, ("swap\n" + stagedLeaves
      .map(stagingPath.relativize(_).toString).sorted.mkString("\n"))
      .getBytes("UTF-8"))
    stagedLeaves.foreach { sl =>
      val live = Paths.get(root).resolve(stagingPath.relativize(sl))
      val old = live.resolveSibling(live.getFileName.toString + "__old")
      Files.createDirectories(live.getParent)
      if (Files.exists(live))
        Files.move(live, old, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      Files.move(sl, live, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      if (Files.exists(old)) walk(old).reverse.foreach(Files.delete)
    }
    walk(stagingPath).reverse.foreach(Files.delete)
    Files.delete(marker)
  }

  // ---------------------------------------------------------------------------
  // Incremental aggregate refresh (materialized-view maintenance)
  // ---------------------------------------------------------------------------

  /** Recompute the pre-aggregate rows of `touched` partition values
    * ONLY and swap them into the agg table — the incremental
    * materialized-view maintenance every reporting warehouse hand-rolls:
    * after an upsert touches a few partitions, the per-partition
    * aggregate is stale exactly there, and a full recompute re-scans
    * the other 99.99% of a 100 TB table for nothing. The slice read is
    * statically partition-pruned (`partCol IN touched` against the
    * partition directory column), so the refresh job's scan is
    * proportional to the touched data; the agg write swaps only the
    * touched rows' partitions (dynamic overwrite — the agg table is
    * partition-keyed, one directory per partition value).
    *
    * Correctness contract: aggregates must be per-partition-local
    * (grouping on `partCol`) — each partition's agg row depends only on
    * that partition's rows, so refreshing touched partitions alone
    * equals the full recompute (pinned in ScalePostureSpec, and the w01
    * gate's oracle IS the full recompute). */
  def refreshAgg(spark: SparkSession, tableRoot: String, aggRoot: String,
                 partCol: String, touched: Seq[Any],
                 aggs: Seq[Column], subCols: Seq[String] = Nil): Unit =
    read(spark, tableRoot)
      .filter(col(partCol).isin(touched: _*))
      .groupBy((partCol +: subCols).map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol)
      .parquet(aggRoot)

  /** w01 — the maintenance cycle end to end, hash-gated: land orders
    * partitioned by year with a per-year pre-aggregate; a deterministic
    * update batch (latest year, every 7th order key, re-priced 2×)
    * upserts in; the aggregate refreshes ONLY the touched year. The
    * final agg table must equal the full recompute over the updated
    * data — which is exactly what the DuckDB oracle computes from the
    * fixture. */
  def w01IncrementalAggRefresh(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, year}
    Staging.scratch("w01") { base =>
      val (root, aggRoot) = (s"$base/orders", s"$base/orders_by_year")
      val orders = graft.Tables.orders(spark, dir)
        .withColumn("o_year", year(col("o_orderdate")))
        .withColumn("version", lit(1L))
      writePartitioned(orders, root, Seq("o_year"))
      val aggSpec = Seq(
        count(lit(1)).as("n_orders"),
        graft.functions.DecimalSums.dsum(col("o_totalprice")).as("revenue"))
      val years = orders.select(col("o_year")).distinct()
        .collect().map(_.getInt(0)).toSeq // bounded: one value per year
      refreshAgg(spark, root, aggRoot, "o_year", years, aggSpec)
      val maxYear = years.max
      val batch = orders
        .filter(col("o_year") === lit(maxYear) && col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .withColumn("version", lit(2L))
      upsert(spark, root, batch, Seq("o_orderkey"), "version", Seq("o_year"))
      refreshAgg(spark, root, aggRoot, "o_year", Seq(maxYear), aggSpec)
      read(spark, aggRoot)
        .select(col("o_year"), col("n_orders"), col("revenue"))
        .orderBy(col("o_year"))
    }
  }

  /** Oracle: the FULL recompute over the updated fixture — the gate
    * passes only if the incremental path loses nothing. */
  val w01Sql: String = {
    val dsum = graft.functions.DecimalSums.sqlDsum("price")
    s"""WITH o AS (
       |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       |    CASE WHEN year(o_orderdate) =
       |             (SELECT MAX(year(o_orderdate)) FROM orders)
       |           AND o_orderkey % 7 = 0
       |         THEN o_totalprice * 2 ELSE o_totalprice END AS price
       |  FROM orders)
       |SELECT o_year, COUNT(*) AS n_orders, $dsum AS revenue
       |FROM o GROUP BY o_year ORDER BY o_year""".stripMargin
  }

  /** w08 — SKETCH-BACKED incremental rollup maintenance: the w01
    * cycle with mergeable summaries instead of decomposable sums. The
    * standing rollup table holds one row per (year, month) carrying a
    * theta customer sketch, a [[graft.functions.QuantileSketch]] price
    * sketch, and a count; an update batch (latest year, every 7th
    * order: price ×2, customer re-assigned) upserts into the base and
    * ONLY the touched year's rollup rows are re-sketched. The final
    * per-year answer — distinct customers, p50/p90 price, order count
    * — is computed ENTIRELY from the blobs (theta_union_agg +
    * QuantileSketch merge over the 12 month rows), never re-reading
    * raw orders.
    *
    * Why this matters at 100 TB: COUNT(DISTINCT) and percentiles are
    * the two rollup statistics partial sums cannot maintain — without
    * mergeable summaries every dashboard refresh re-shuffles raw keys
    * (q30's motivation) AND re-sorts raw values (q40's). Here both
    * ride the w01 maintenance protocol: land once, refresh touched
    * partitions, answer any rollup level from kilobyte blobs.
    *
    * Hash gate soundness: at gate SF every year holds < 2^12 distinct
    * customers (theta exact below nominal — the q39 argument, ACROSS a
    * union of exact month sketches) and < 4096 distinct prices
    * (QuantileSketch exact below capacity), so the blob-derived answer
    * equals DuckDB's exact recompute bit for bit. */
  def w08SketchRollup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, expr, lit, month, sum, udaf, udf, year}
    import graft.functions.QuantileSketch
    val (cap, lo, hi, bins) = (4096, 0.0, 512000.0, 8192) // the q40 dials
    val qb = udaf(QuantileSketch.buildAgg(cap, lo, hi, bins))
    val qm = udaf(QuantileSketch.mergeAgg(cap, lo, hi, bins))
    val qq = udf((b: Array[Byte], q: Double) =>
      QuantileSketch.quantile(b, q, lo, hi))
    Staging.scratch("w08") { base =>
      val (root, skRoot) = (s"$base/orders", s"$base/sketch_rollup")
      val orders = graft.Tables.orders(spark, dir)
        .withColumn("o_year", year(col("o_orderdate")))
        .withColumn("o_month", month(col("o_orderdate")))
        .withColumn("version", lit(1L))
      writePartitioned(orders, root, Seq("o_year"))
      val skSpec = Seq(
        expr("theta_sketch_agg(o_custkey, 12)").as("cust_sk"),
        qb(col("o_totalprice")).as("price_sk"),
        count(lit(1)).as("n_orders"))
      val years = orders.select(col("o_year")).distinct()
        .collect().map(_.getInt(0)).toSeq // bounded: one value per year
      refreshAgg(spark, root, skRoot, "o_year", years, skSpec,
        subCols = Seq("o_month"))
      val maxYear = years.max
      val batch = orders
        .filter(col("o_year") === lit(maxYear) && col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .withColumn("o_custkey", col("o_custkey") + lit(1000000L))
        .withColumn("version", lit(2L))
      upsert(spark, root, batch, Seq("o_orderkey"), "version", Seq("o_year"))
      refreshAgg(spark, root, skRoot, "o_year", Seq(maxYear), skSpec,
        subCols = Seq("o_month"))
      read(spark, skRoot)
        .groupBy(col("o_year"))
        .agg(
          expr("CAST(theta_sketch_estimate(theta_union_agg(cust_sk, 12)) AS BIGINT)")
            .as("distinct_customers"),
          qm(col("price_sk")).as("price_yr"),
          sum(col("n_orders")).as("n_orders"))
        .select(col("o_year"), col("n_orders"), col("distinct_customers"),
          qq(col("price_yr"), lit(0.5)).as("p50_price"),
          qq(col("price_yr"), lit(0.9)).as("p90_price"))
        .orderBy(col("o_year"))
    }
  }

  /** Oracle: exact distincts and exact r-th-smallest (the q40 rule)
    * over the full recompute of the updated fixture. */
  val w08Sql: String =
    """WITH o AS (
      |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
      |    CASE WHEN year(o_orderdate) =
      |             (SELECT MAX(year(o_orderdate)) FROM orders)
      |           AND o_orderkey % 7 = 0
      |         THEN o_totalprice * 2 ELSE o_totalprice END AS price,
      |    CASE WHEN year(o_orderdate) =
      |             (SELECT MAX(year(o_orderdate)) FROM orders)
      |           AND o_orderkey % 7 = 0
      |         THEN o_custkey + 1000000 ELSE o_custkey END AS cust
      |  FROM orders),
      |d AS (
      |  SELECT o_year, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |    CAST(COUNT(DISTINCT cust) AS BIGINT) AS distinct_customers
      |  FROM o GROUP BY 1),
      |r AS (
      |  SELECT o_year, price,
      |    ROW_NUMBER() OVER (PARTITION BY o_year ORDER BY price) AS rn,
      |    COUNT(*) OVER (PARTITION BY o_year) AS n
      |  FROM o),
      |q AS (
      |  SELECT o_year,
      |    MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT) THEN price END) AS p50_price,
      |    MAX(CASE WHEN rn = CAST(CEIL(0.9 * n) AS BIGINT) THEN price END) AS p90_price
      |  FROM r GROUP BY 1)
      |SELECT d.o_year, d.n_orders, d.distinct_customers, q.p50_price, q.p90_price
      |FROM d JOIN q USING (o_year)
      |ORDER BY o_year""".stripMargin

  // ---------------------------------------------------------------------------
  // Snapshot diff (CDC read between two generations)
  // ---------------------------------------------------------------------------

  /** Per-key diff of two snapshots of a keyed table: one full-outer
    * join on the key, each row classified `added` (key only in `neu`),
    * `removed` (only in `old`), `changed` (present in both, any
    * `compareCols` value differs — null-safe), or `unchanged`. Returns
    * the key columns, the status, and old_/new_-prefixed compare
    * columns, so downstream can aggregate deltas without re-joining.
    *
    * Scale: ONE shuffle per side on the key (the join), no collect —
    * this is the change-data-capture read every warehouse without a
    * log-backed table format hand-rolls; at 100 TB both sides prune to
    * the partitions being compared and the join is the same
    * sort-merge shape as the upsert's merge. */
  def snapshotDiff(old: DataFrame, neu: DataFrame, keyCols: Seq[String],
                   compareCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, lit, when}
    val oldP = old.select(
      keyCols.map(col) ++ compareCols.map(c => col(c).as(s"old_$c")): _*)
      .withColumn("__in_old", lit(true))
    val neuP = neu.select(
      keyCols.map(col) ++ compareCols.map(c => col(c).as(s"new_$c")): _*)
      .withColumn("__in_new", lit(true))
    val differs = compareCols
      .map(c => !(col(s"old_$c") <=> col(s"new_$c")))
      .reduce(_ || _)
    oldP.join(neuP, keyCols, "full_outer")
      .withColumn("status",
        when(coalesce(col("__in_old"), lit(false)) === false, lit("added"))
          .when(coalesce(col("__in_new"), lit(false)) === false, lit("removed"))
          .when(differs, lit("changed"))
          .otherwise(lit("unchanged")))
      .drop("__in_old", "__in_new")
  }

  /** w02 — the CDC read, hash-gated: a second orders generation is
    * derived by rule (every 11th key removed, every 7th surviving key
    * re-priced 2×, every 17th key cloned to a shifted id), the diff is
    * computed by the REAL full-outer join, and the per-(year, status)
    * counts and price deltas must match the oracle's closed-form
    * prediction of exactly those rules. */
  def w02SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, when, year}
    val orders = graft.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"),
        year(col("o_orderdate")).as("o_year"))
    // the next generation, by deterministic rule (1e8 clears every
    // fixture key range through sf1, so cloned keys never collide)
    val neu = orders
      .filter(col("o_orderkey") % 11 =!= 3)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 7 === 0, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")))
      .unionByName(orders.filter(col("o_orderkey") % 17 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L)))
    val delta =
      when(col("status") === "added", col("new_o_totalprice"))
        .when(col("status") === "removed", -col("old_o_totalprice"))
        .otherwise(col("new_o_totalprice") - col("old_o_totalprice"))
    snapshotDiff(orders, neu, Seq("o_orderkey"),
        Seq("o_totalprice", "o_year"))
      .filter(col("status") =!= "unchanged")
      .withColumn("o_year", org.apache.spark.sql.functions.coalesce(
        col("old_o_year"), col("new_o_year")))
      .groupBy(col("o_year"), col("status"))
      .agg(count(lit(1)).as("n"),
        graft.functions.DecimalSums.dsum(delta).as("price_delta"))
      .orderBy(col("o_year"), col("status"))
  }

  /** Oracle: closed-form prediction of the diff rules (removed wins
    * over changed — a removed key is absent from the new generation;
    * clones are added regardless of their source row's fate). */
  val w02Sql: String = {
    val d = graft.functions.DecimalSums.sqlDsum _
    s"""WITH base AS (
       |  SELECT o_orderkey AS k, o_totalprice AS p,
       |         CAST(year(o_orderdate) AS INT) AS y
       |  FROM orders),
       |diff AS (
       |  SELECT y, 'removed' AS status, -p AS delta FROM base
       |  WHERE k % 11 = 3
       |  UNION ALL
       |  SELECT y, 'changed', p FROM base
       |  WHERE k % 11 <> 3 AND k % 7 = 0
       |  UNION ALL
       |  SELECT y, 'added', p FROM base
       |  WHERE k % 17 = 0)
       |SELECT y AS o_year, status, COUNT(*) AS n,
       |       ${d("delta")} AS price_delta
       |FROM diff GROUP BY y, status
       |ORDER BY o_year, status""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // Versioned snapshots (time travel)
  // ---------------------------------------------------------------------------

  /** Append `df` as the next numbered generation of a versioned table:
    * write to a dot-prefixed staging dir, then ONE atomic directory
    * rename to `gen=N` — a reader never sees a partial generation, and
    * existing generations are never touched (immutable history = the
    * snapshot-isolation contract). Returns the new generation id. */
  def writeSnapshot(df: DataFrame, root: String): Int = {
    new java.io.File(root).mkdirs()
    val gen = listGenerations(root).lastOption.map(_ + 1).getOrElse(0)
    val staging = new java.io.File(root, s".gen-$gen.staging")
    df.write.mode(SaveMode.Overwrite).parquet(staging.getPath)
    val target = new java.io.File(root, s"gen=$gen")
    if (!staging.renameTo(target))
      throw new IllegalStateException(
        s"snapshot commit failed: could not rename $staging to $target")
    gen
  }

  /** Generation ids present under `root`, ascending. Dot-prefixed
    * staging dirs are invisible by construction. */
  def listGenerations(root: String): Seq[Int] = {
    val fs = Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
    fs.collect {
      case f if f.isDirectory && f.getName.startsWith("gen=") =>
        f.getName.stripPrefix("gen=").toInt
    }.toSeq.sorted
  }

  /** Read the table AS OF generation `gen` (negative = latest). */
  def readSnapshot(spark: SparkSession, root: String, gen: Int = -1): DataFrame = {
    val gens = listGenerations(root)
    require(gens.nonEmpty, s"no generations under $root")
    val g = if (gen < 0) gens.last else gen
    require(gens.contains(g), s"generation $g absent (have ${gens.mkString(",")})")
    spark.read.parquet(s"$root/gen=$g")
  }

  /** w04 — time-travel read over three written generations: gen0 is
    * the keyed orders projection, gen1/gen2 each apply the w02
    * mutation rule to their predecessor (remove k%11=3, re-price 2×
    * k%7=0, clone k%17=0 to a shifted id — clones of clones compound).
    * Every generation is REALLY written (staging + atomic rename) and
    * REALLY read back as-of its id; the summary per generation must
    * match the oracle's closed-form replay of the rule chain — so the
    * gate pins both the snapshot bookkeeping (immutability, as-of
    * addressing) and the content. */
  def w04TimeTravel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, sum, when}
    def mutate(df: DataFrame): DataFrame =
      df.filter(col("k") % 11 =!= 3)
        .withColumn("p",
          when(col("k") % 7 === 0, col("p") * 2).otherwise(col("p")))
        .unionByName(df.filter(col("k") % 17 === 0)
          .withColumn("k", col("k") + lit(100000000L)))
    Staging.scratch("w04") { base =>
      val root = s"$base/orders_versioned"
      val g0 = graft.Tables.orders(spark, dir)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
      writeSnapshot(g0, root)
      writeSnapshot(mutate(readSnapshot(spark, root, 0)), root)
      writeSnapshot(mutate(readSnapshot(spark, root, 1)), root)
      listGenerations(root).map { g =>
        readSnapshot(spark, root, g).agg(
          lit(g).as("gen"),
          count(lit(1)).as("n_rows"),
          sum(col("k")).cast("long").as("key_sum"),
          graft.functions.DecimalSums.dsum(col("p")).as("price_sum"))
      }.reduce(_ unionByName _)
        .select(col("gen"), col("n_rows"), col("key_sum"), col("price_sum"))
        .orderBy(col("gen"))
    }
  }

  /** Oracle: the rule chain replayed as CTEs — no filesystem involved,
    * which is the point: the engine's written-and-read-back snapshots
    * must equal the pure computation. */
  val w04Sql: String = {
    val d = graft.functions.DecimalSums.sqlDsum _
    def mutate(src: String): String =
      s"""SELECT k, CASE WHEN k % 7 = 0 THEN p * 2 ELSE p END AS p
         |  FROM $src WHERE k % 11 <> 3
         |  UNION ALL
         |  SELECT k + 100000000, p FROM $src WHERE k % 17 = 0""".stripMargin
    s"""WITH g0 AS (
       |  SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
       |g1 AS (
       |  ${mutate("g0")}),
       |g2 AS (
       |  ${mutate("g1")})
       |SELECT CAST(0 AS INT) AS gen, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |       CAST(SUM(k) AS BIGINT) AS key_sum, ${d("p")} AS price_sum
       |FROM g0
       |UNION ALL SELECT 1, COUNT(*), CAST(SUM(k) AS BIGINT), ${d("p")} FROM g1
       |UNION ALL SELECT 2, COUNT(*), CAST(SUM(k) AS BIGINT), ${d("p")} FROM g2
       |ORDER BY gen""".stripMargin
  }

  /** Read EVERY generation under `root`, reconciled to the LATEST
    * generation's schema — the schema-evolution read a long-lived
    * ingest table needs once append batches start carrying new columns
    * or widened types: a column absent in an old generation comes back
    * null; a column whose type drifted is cast to the latest type
    * (the read-side half of "add column" / "widen column" DDL, without
    * a metastore). Returns the union with a `gen` column.
    *
    * This is deliberately NOT `mergeSchema=true`: Spark's parquet
    * schema merge REFUSES drifted primitive types (float→double,
    * int→long), which is exactly the evolution a real table suffers;
    * per-generation cast-then-unionByName handles both forms and reads
    * each footer once. Scale: one parquet scan per generation, no
    * shuffle — normalization is a projection. */
  def readEvolvedSnapshots(spark: SparkSession, root: String): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val gens = listGenerations(root)
    require(gens.nonEmpty, s"no generations under $root")
    val target = readSnapshot(spark, root, gens.last).schema
    gens.map { g =>
      val df = readSnapshot(spark, root, g)
      val have = df.schema.map(f => f.name -> f.dataType).toMap
      val cols = target.map { f =>
        have.get(f.name) match {
          case Some(t) if t == f.dataType => col(f.name)
          case Some(_)                    => col(f.name).cast(f.dataType).as(f.name)
          case None => lit(null).cast(f.dataType).as(f.name)
        }
      }
      df.select(lit(g).as("gen") +: cols: _*)
    }.reduce(_ unionByName _)
  }

  /** w05 — schema-evolution read over three REALLY-written append
    * generations of an orders slice: gen0 is (k, float price) — the
    * narrow v1 schema; gen1 re-types price to double and adds `seg`;
    * gen2 adds `disc`. [[readEvolvedSnapshots]] must null-fill the
    * missing columns and widen the float — the per-generation
    * aggregate is hash-gated against the pure CTE replay (no
    * filesystem on the oracle side, same w04 discipline). */
  def w05SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{concat, count, floor, lit, when}
    val orders = graft.Tables.orders(spark, dir)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
    Staging.scratch("w05") { base =>
      val root = s"$base/orders_evolving"
      // v1 stored whole-dollar float32 prices: floor keeps the values
      // float-exact (< 2^24), so the float→double widening is
      // value-preserving and the decimal gate sees no float noise
      // (double→decimal(18,4) quantizes shortest-repr in the JVM but
      // the exact binary expansion in DuckDB — they only agree when
      // the value IS its shortest repr)
      writeSnapshot(orders.filter(col("k") % 3 === 0)
        .select(col("k"), floor(col("p")).cast("float").as("p")), root)
      val seg = concat(lit("S"), (col("k") % 4).cast("string"))
      writeSnapshot(orders.filter(col("k") % 3 === 1)
        .select(col("k"), col("p"), seg.as("seg")), root)
      writeSnapshot(orders.filter(col("k") % 3 === 2)
        .select(col("k"), col("p"), seg.as("seg"),
          when(col("k") % 5 === 0, col("p") * 0.1).as("disc")), root)
      readEvolvedSnapshots(spark, root)
        .groupBy(col("gen"))
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("seg")).as("n_seg"),
          graft.functions.DecimalSums.dsum(col("p")).as("price_sum"),
          graft.functions.DecimalSums.dsum(col("disc")).as("disc_sum"))
        .orderBy(col("gen"))
    }
  }

  /** Oracle: the three generations as CTEs, normalized exactly the way
    * the evolved read must normalize them (float widened THROUGH the
    * float — CAST(CAST(p AS REAL) AS DOUBLE) replays the precision
    * loss of the v1 write). */
  val w05Sql: String = {
    val d = graft.functions.DecimalSums.sqlDsum _
    """WITH u AS (
      |  SELECT 0 AS gen, o_orderkey AS k,
      |         CAST(CAST(FLOOR(o_totalprice) AS REAL) AS DOUBLE) AS p,
      |         CAST(NULL AS VARCHAR) AS seg, CAST(NULL AS DOUBLE) AS disc
      |  FROM orders WHERE o_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT 1, o_orderkey, o_totalprice,
      |         'S' || CAST(o_orderkey % 4 AS VARCHAR), CAST(NULL AS DOUBLE)
      |  FROM orders WHERE o_orderkey % 3 = 1
      |  UNION ALL
      |  SELECT 2, o_orderkey, o_totalprice,
      |         'S' || CAST(o_orderkey % 4 AS VARCHAR),
      |         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 0.1 END
      |  FROM orders WHERE o_orderkey % 3 = 2)
      |SELECT CAST(gen AS INT) AS gen, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(COUNT(seg) AS BIGINT) AS n_seg,
      |       PRICE_SUM AS price_sum, DISC_SUM AS disc_sum
      |FROM u GROUP BY gen ORDER BY gen""".stripMargin
      .replace("PRICE_SUM", d("p")).replace("DISC_SUM", d("disc"))
  }

  /** Generic distributed MERGE — the APPLY side of CDC ([[snapshotDiff]]
    * is the read side): `changes` carries the key columns, an `op`
    * column (`I` insert / `U` update / `D` delete), and new values for
    * every non-key column of `base`. Resolution per key:
    * `D` drops the row (a `D` for an absent key is a no-op), `U`/`I`
    * take the change payload (a `U` for an absent key degrades to an
    * insert — upsert semantics, the Delta/Iceberg MERGE convention),
    * and an untouched base row passes through. Exactly ONE shuffle
    * join on the key — the same sort-merge shape Delta's MERGE
    * compiles to; at 100 TB both sides prune to touched partitions
    * first and the join never widens beyond them. Requires at most one
    * change row per key (the CDC compaction invariant). */
  def mergeApply(base: DataFrame, changes: DataFrame,
                 keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{lit, when}
    val payload = base.columns.filterNot(keyCols.contains).toSeq
    val b = base.select(
      keyCols.map(col) ++ payload.map(c => col(c).as(s"__b_$c")): _*)
    val ch = changes.select(
      keyCols.map(col) ++ payload.map(c => col(c).as(s"__c_$c"))
        :+ col("op"): _*)
    b.join(ch, keyCols, "full_outer")
      .filter(!(col("op") <=> lit("D")))
      .select(keyCols.map(col) ++ payload.map(c =>
        when(col("op").isin("U", "I"), col(s"__c_$c"))
          .otherwise(col(s"__b_$c")).as(c)): _*)
  }

  /** w06 — the MERGE end to end, hash-gated: the w02 rule set
    * re-expressed as an explicit changeset (D every 11th key, U with
    * 2× price every surviving 7th, I clones at every 17th key), applied
    * to the keyed orders projection by the REAL full-outer merge, and
    * the per-year row counts and price sums of the FINAL table must
    * match the oracle's closed-form prediction of the merged state. */
  def w06MergeApply(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, year}
    val orders = graft.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"),
        year(col("o_orderdate")).as("o_year"))
    val k = col("o_orderkey")
    val deletes = orders.filter(k % 11 === 3)
      .select(k.as("o_orderkey"),
        lit(null).cast("double").as("o_totalprice"),
        lit(null).cast("int").as("o_year"), lit("D").as("op"))
    val updates = orders.filter(k % 11 =!= 3 && k % 7 === 0)
      .select(k.as("o_orderkey"),
        (col("o_totalprice") * 2).as("o_totalprice"),
        col("o_year"), lit("U").as("op"))
    val inserts = orders.filter(k % 17 === 0)
      .select((k + lit(100000000L)).as("o_orderkey"),
        col("o_totalprice"), col("o_year"), lit("I").as("op"))
    mergeApply(orders, deletes.unionByName(updates).unionByName(inserts),
        Seq("o_orderkey"))
      .groupBy(col("o_year"))
      .agg(count(lit(1)).as("n"),
        graft.functions.DecimalSums.dsum(col("o_totalprice"))
          .as("price_sum"))
      .orderBy(col("o_year"))
  }

  /** Oracle: the closed-form merged state (delete wins, updates double
    * the survivors' prices, clones land at shifted keys). */
  val w06Sql: String = {
    val d = graft.functions.DecimalSums.sqlDsum _
    s"""WITH base AS (
       |  SELECT o_orderkey AS k, o_totalprice AS p,
       |         CAST(year(o_orderdate) AS INT) AS y
       |  FROM orders),
       |merged AS (
       |  SELECT k, CASE WHEN k % 7 = 0 THEN p * 2 ELSE p END AS p, y
       |  FROM base WHERE k % 11 <> 3
       |  UNION ALL
       |  SELECT k + 100000000, p, y FROM base WHERE k % 17 = 0)
       |SELECT y AS o_year, COUNT(*) AS n, ${d("p")} AS price_sum
       |FROM merged GROUP BY y
       |ORDER BY o_year""".stripMargin
  }

  /** Bin width of the w07 drift gate (price units; mirrored literally
    * in [[w07Sql]]). */
  val psiBinWidth = 50000L

  /** Distribution-drift report between two snapshots of a numeric
    * column — the population-stability-index (PSI) monitor every
    * production pipeline runs before trusting a refreshed table. Fixed-
    * width bins (deterministic, no quantile fitting), Laplace-smoothed
    * shares p = (n+1)/(N+B) so empty bins contribute finite terms, and
    * the per-bin PSI contribution (p_new − p_old)·ln(p_new/p_old).
    * Every count is an exact integer and both engines form the same
    * double quotients, so the report hash-gates (round-9, t16
    * convention). Scale: two partial-aggregated shuffles onto the bin
    * key (cardinality = value range / width, independent of row
    * count), one broadcast of the 3-scalar totals. */
  def distributionDrift(old: DataFrame, neu: DataFrame, valueCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, count,
      floor, lit, log, round, sum}
    def binned(df: DataFrame, nAs: String) = df
      .select(floor(col(valueCol) / psiBinWidth).cast("long").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as(nAs))
    val j = binned(old, "n_old")
      .join(binned(neu, "n_new"), Seq("bin"), "full_outer")
      .select(col("bin"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
    val tot = j.agg(sum(col("n_old")).as("tot_old"),
      sum(col("n_new")).as("tot_new"), count(lit(1)).as("nbins"))
    val d = org.apache.spark.sql.types.DoubleType
    val pOld = (col("n_old") + 1).cast(d) / (col("tot_old") + col("nbins")).cast(d)
    val pNew = (col("n_new") + 1).cast(d) / (col("tot_new") + col("nbins")).cast(d)
    j.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_old"), col("n_new"),
        round(pOld, 9).as("p_old_r"),
        round(pNew, 9).as("p_new_r"),
        round((pNew - pOld) * log(pNew / pOld), 9).as("psi_r"))
      .orderBy(col("bin"))
  }

  /** w07 — the drift monitor over the w02 generation rules (the 2×
    * re-pricing shifts real mass into higher bins), hash-gated against
    * the closed-form new generation. */
  def w07DriftPsi(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.when
    val orders = graft.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    val neu = orders
      .filter(col("o_orderkey") % 11 =!= 3)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 7 === 0, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")))
      .unionByName(orders.filter(col("o_orderkey") % 17 === 0))
    distributionDrift(orders, neu, "o_totalprice")
  }

  val w07Sql: String =
    s"""WITH base AS (
       |  SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
       |neu AS (
       |  SELECT CASE WHEN k % 7 = 0 THEN p * 2 ELSE p END AS p
       |  FROM base WHERE k % 11 <> 3
       |  UNION ALL
       |  SELECT p FROM base WHERE k % 17 = 0),
       |ob AS (SELECT CAST(FLOOR(p / $psiBinWidth) AS BIGINT) AS bin,
       |              CAST(COUNT(*) AS BIGINT) AS n_old
       |       FROM base GROUP BY 1),
       |nb AS (SELECT CAST(FLOOR(p / $psiBinWidth) AS BIGINT) AS bin,
       |              CAST(COUNT(*) AS BIGINT) AS n_new
       |       FROM neu GROUP BY 1),
       |j AS (
       |  SELECT COALESCE(ob.bin, nb.bin) AS bin,
       |         COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new
       |  FROM ob FULL OUTER JOIN nb ON ob.bin = nb.bin),
       |t AS (SELECT SUM(n_old) AS tot_old, SUM(n_new) AS tot_new,
       |             COUNT(*) AS nbins FROM j)
       |SELECT bin, n_old, n_new,
       |  ROUND(CAST(n_old + 1 AS DOUBLE) / CAST(tot_old + nbins AS DOUBLE), 9)
       |    AS p_old_r,
       |  ROUND(CAST(n_new + 1 AS DOUBLE) / CAST(tot_new + nbins AS DOUBLE), 9)
       |    AS p_new_r,
       |  ROUND((CAST(n_new + 1 AS DOUBLE) / CAST(tot_new + nbins AS DOUBLE)
       |       - CAST(n_old + 1 AS DOUBLE) / CAST(tot_old + nbins AS DOUBLE))
       |    * LN((CAST(n_new + 1 AS DOUBLE) / CAST(tot_new + nbins AS DOUBLE))
       |       / (CAST(n_old + 1 AS DOUBLE) / CAST(tot_old + nbins AS DOUBLE))), 9)
       |    AS psi_r
       |FROM j CROSS JOIN t
       |ORDER BY bin""".stripMargin

  // ---------------------------------------------------------------------------
  // Zone-map data skipping (w09)
  // ---------------------------------------------------------------------------

  /** Per-file zone map of `zoneCol` over a flat parquet directory: one
    * row per file with (min, max, rows). This is the stats table a
    * table format (Delta/Iceberg) maintains incrementally at write
    * time; bootstrapping it here is ONE column-pruned scan (only
    * `zoneCol` + the metadata struct are read), and an appending
    * producer keeps it current by unioning the new files' rows — the
    * map never needs a full rebuild. */
  def zoneMapStats(spark: SparkSession, root: String,
                   zoneCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    spark.read.parquet(root)
      .select(col("_metadata.file_path").as("file"), col(zoneCol))
      .groupBy(col("file"))
      .agg(min(col(zoneCol)).as("zmin"), max(col(zoneCol)).as("zmax"),
        count(lit(1)).as("n_rows"))
  }

  /** Append a batch into a zone-mapped table and maintain the stats
    * table INCREMENTALLY — the claim that makes [[zoneMapStats]]'
    * one-scan bootstrap a one-TIME cost: the batch lands as new files
    * (append mode, clustered on the zone column), their stats come
    * from ONE scan of THOSE FILES ONLY (identified by a before/after
    * directory listing — driver-side metadata, never rows), and the
    * updated map is the old stats plus the new files' rows. The
    * full-table rebuild never runs again; ScalePostureSpec pins the
    * incrementally-maintained map row-identical to a fresh
    * [[zoneMapStats]] rebuild. Single-writer append assumed (the
    * standing Warehouse discipline).
    *
    * `stats` must be a MATERIALIZED map (a stored stats table, a
    * checkpoint, a collected frame) — passing the LAZY
    * [[zoneMapStats]] plan over the same `root` would re-scan the
    * post-append directory inside the union and double-count the new
    * files. */
  def appendWithZoneStats(batch: DataFrame, root: String, zoneCol: String,
                          stats: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val spark = batch.sparkSession
    // Hadoop FS, not java.nio: the rest of the zone-map layer works
    // over any spark.read-able path (hdfs://, s3a://), and a
    // bootstrap append must tolerate a not-yet-existing root
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listParquet(): Set[String] =
      if (!fs.exists(rootPath)) Set.empty
      else fs.listStatus(rootPath).map(_.getPath.toString)
        .filter(_.endsWith(".parquet")).toSet
    val before = listParquet()
    batch
      .repartitionByRange(4, col(zoneCol))
      .sortWithinPartitions(col(zoneCol))
      .write.mode(SaveMode.Append).parquet(root)
    val fresh = (listParquet() -- before).toSeq.sorted
    require(fresh.nonEmpty, s"appendWithZoneStats: no new files under $root")
    val freshStats = spark.read.parquet(fresh: _*)
      .select(col("_metadata.file_path").as("file"), col(zoneCol))
      .groupBy(col("file"))
      .agg(min(col(zoneCol)).as("zmin"), max(col(zoneCol)).as("zmax"),
        count(lit(1)).as("n_rows"))
    // materialized before returning: the updated map must itself
    // satisfy this function's stats precondition (chained appends) and
    // must not re-aggregate the new data files on every consumption —
    // a lazy union would pay the per-use scan the incremental claim
    // retires. File-count-sized, so the checkpoint is metadata-cheap.
    stats.unionByName(freshStats).localCheckpoint(true)
  }

  /** Range-scan `root` reading ONLY the files whose [zmin, zmax]
    * interval intersects [lo, hi] per `stats` (a [[zoneMapStats]]
    * frame). Sound for any file layout — a file whose zone interval
    * misses the predicate range cannot hold a matching row — and
    * effective exactly when the data was written clustered on
    * `zoneCol` (range-repartitioned/sorted, or Z-ordered via
    * [[graft.operators.Layout]] for multi-column predicates). The
    * residual filter stays on the scan, so pruning is invisible in
    * the result by construction.
    *
    * The driver materializes only the SURVIVING FILE LIST (the same
    * boundedness argument as partition pruning — metadata, never
    * rows; a 100 TB table at 128 MB files is ~800k stats rows, and
    * the intersection of a selective predicate is far smaller). */
  def skippingScan(spark: SparkSession, stats: DataFrame, zoneCol: String,
                   lo: Column, hi: Column): DataFrame = {
    val picked = stats
      .filter(col("zmax") >= lo && col("zmin") <= hi)
      .select(col("file")).collect().map(_.getString(0)).sorted
    require(picked.nonEmpty,
      s"skippingScan: no file's [$zoneCol] zone intersects the range — " +
        "empty scans should short-circuit at the caller")
    spark.read.parquet(picked.toIndexedSeq: _*)
      .filter(col(zoneCol) >= lo && col(zoneCol) <= hi)
  }

  /** w09 — zone-map FILE skipping: the data-skipping layer below
    * partition pruning. Orders are written clustered on o_orderdate
    * (range-repartition + sort — the layout decision), a per-file
    * min/max stats table is derived in one pass, and a one-year range
    * scan reads ONLY the files whose zones intersect 1996 (the
    * ScalePostureSpec pin: a strict minority of files). At 100 TB this
    * is the difference between scanning a 7-year table and scanning
    * ~1/7th of it WITHOUT any partition column — finer-grained than
    * hive partitioning (works on any clustered column, composes with
    * it), and the mechanism under every lakehouse table format's
    * "data skipping". Hash-gated against DuckDB's plain filtered scan
    * of the SAME table: skipping must be invisible in the result. */
  def w09ZoneMapSkipping(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, month}
    Staging.scratch("w09") { base =>
      val root = s"$base/orders_clustered"
      graft.Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
        .repartitionByRange(16, col("o_orderdate"))
        .sortWithinPartitions(col("o_orderdate"))
        .write.parquet(root)
      val stats = zoneMapStats(spark, root, "o_orderdate")
      val (lo, hi) = (lit("1996-01-01 00:00:00").cast("timestamp"),
        lit("1996-12-31 23:59:59").cast("timestamp"))
      skippingScan(spark, stats, "o_orderdate", lo, hi)
        .groupBy(month(col("o_orderdate")).as("order_month"))
        .agg(count(lit(1)).as("n_orders"),
          graft.functions.DecimalSums.dsum(col("o_totalprice")).as("revenue"))
        .orderBy(col("order_month"))
    }
  }

  /** Oracle: the un-skipped scan — DuckDB reads every row of orders
    * and filters; the engine must produce the identical result from
    * the pruned file subset. */
  val w09Sql: String = {
    val dsum = graft.functions.DecimalSums.sqlDsum("o_totalprice")
    s"""SELECT CAST(MONTH(o_orderdate) AS INT) AS order_month,
       |  COUNT(*) AS n_orders, $dsum AS revenue
       |FROM orders
       |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate <= TIMESTAMP '1996-12-31 23:59:59'
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "w07_drift_psi"       -> w07DriftPsi _,
    "w09_zone_map_skipping" -> w09ZoneMapSkipping _,
    "w01_incremental_agg" -> w01IncrementalAggRefresh _,
    "w08_sketch_rollup"   -> w08SketchRollup _,
    "w02_snapshot_diff"   -> w02SnapshotDiff _,
    "w04_time_travel"     -> w04TimeTravel _,
    "w05_schema_evolution" -> w05SchemaEvolution _,
    "w06_merge_apply"     -> w06MergeApply _)

  val oracles: Map[String, String] = Map(
    "w07_drift_psi"       -> w07Sql,
    "w09_zone_map_skipping" -> w09Sql,
    "w01_incremental_agg" -> w01Sql,
    "w08_sketch_rollup"   -> w08Sql,
    "w02_snapshot_diff"   -> w02Sql,
    "w04_time_travel"     -> w04Sql,
    "w05_schema_evolution" -> w05Sql,
    "w06_merge_apply"     -> w06Sql)

  /** Bucketed + sorted table write — the co-located-join layout.
    * Two tables bucketed on their join key with the SAME bucket count
    * sort-merge-join with NO exchange on either side (each bucket pair
    * joins file-to-file), which at 100 TB removes the single biggest
    * cost of a recurring fact⋈fact join. Requires the session catalog
    * (bucket metadata lives in the table definition, not the files) —
    * this is the standing-warehouse layout decision, made once at
    * write time and amortized over every subsequent join. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    buckets: Int): Unit = {
    val spark = df.sparkSession
    // a managed-table LOCATION can outlive its catalog entry (the
    // default in-memory catalog dies with the session, the warehouse
    // dir does not) — an Overwrite into a fresh session then fails
    // LOCATION_ALREADY_EXISTS; clear the orphaned dir first. Scope:
    // unqualified default-database names only (a db-qualified name
    // lives at <warehouse>/<db>.db/<t>, not <warehouse>/<t>), and the
    // cleanup assumes the session-per-process single-writer discipline
    // the repo already runs (sbt invocations are serialized; two JVMs
    // concurrently owning one table name would race here regardless)
    if (!table.contains(".") && !spark.catalog.tableExists(table)) {
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"),
        table.toLowerCase(java.util.Locale.ROOT))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    // cluster rows by the bucket hash BEFORE the write (round 15): a
    // bucketed write emits one file per (task, bucket-held) pair, so an
    // unclustered input of t tasks can fan out to t × buckets files —
    // and a 1-task input (an AQE-coalesced join tail) sorts and writes
    // every bucket serially. Repartitioning on the bucket column at the
    // bucket count gives one task per bucket: parallel sort+write,
    // exactly `buckets` output files, and identical table contents
    // (bucket membership is a pure function of the column).
    df.repartition(buckets, df(bucketCol))
      .write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
  }
}
