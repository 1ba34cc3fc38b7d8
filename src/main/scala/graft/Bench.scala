package graft


/** Benchmark main: one JSON line with per-query wall-clock at
  * `SPARK_GRAFT_SF_DIR`. Three measurement choices that matter:
  *  - two untimed warmup passes at sf0.001 first, so JIT warmup and
  *    Janino compiles aren't billed to whichever query happens to run
  *    first. GraftSession's codegen cache holds 1024 entries, over
  *    7× the largest query's working set but about half of a whole
  *    catalog pass, so a query's later timed repeats reuse its classes
  *    (at Spark's 100-entry default even one query's repeats could
  *    recompile) while in a full pass its first timed repeat may
  *    compile again. A body whose source changes between executions
  *    (a new codegen stage id under AQE, say) always compiles;
  *  - the timed action is a noop-sink write, which materializes every
  *    output column (a bare count() lets Catalyst skip computing
  *    projected values — under-measures scan/compute-heavy queries);
  *  - each query's recorded number is the MINIMUM of three timed
  *    repeats, SPLIT 2+1 ACROSS TWO FULL CATALOG PASSES (round 15). A
  *    single-shot pass is hostage to transient host contention — one
  *    noisy-neighbor window once recorded a phantom 10-20×
  *    "regression" across a contiguous alphabetical block of queries;
  *    back-to-back repeats sit INSIDE such a window, so rounds 13/14
  *    still produced 3-4 phantom >2× readings each. The minimum is
  *    the statistic least sensitive to one-sided noise (contention
  *    only ever adds time), the cross-pass split decorrelates it from
  *    windows spanning minutes, and it matches how BASELINE.md rows
  *    are adjudicated (isolated 3-run minimums).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus)

    def runOnce(dir: String, name: String): Boolean =
      try {
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        true
      } catch { case _: Throwable => false }

    // SPARK_GRAFT_BENCH_ONLY=q1,q2,... — isolated re-measure of a
    // subset (the BASELINE.md refresh convention: floors come from
    // isolated or low-contention minimums, never from one contended
    // full-catalog pass). The driver never sets this, so round
    // artifacts stay full-catalog; subset artifacts feed
    // dev/refresh_baseline.py alongside them.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a typo'd name must fail fast, not silently bench a partial subset
    // and feed an incomplete artifact into a BASELINE refresh
    only.foreach { o =>
      val unknown = o -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names not in the catalog: ${unknown.toSeq.sorted.mkString(",")}")
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // warmup dir: explicit env, else the smallest sibling SF, else the
    // bench dir itself — and report failures rather than silently
    // skipping warmup (an unwarmed first query inflates its number)
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", {
      val sibling = new java.io.File(sfDir).getParentFile match {
        case null => sfDir
        case p    => new java.io.File(p, "sf0.001").getPath
      }
      if (new java.io.File(sibling).isDirectory) sibling else sfDir
    })
    // two passes: the second catches code JIT'd only after the first
    // execution (measured on the typed mapPartitions decode path, the
    // one query outside WholeStageCodegen — first timed run was ~2.5×
    // its steady state with a single warmup)
    val warmFailures = (1 to 2).map(_ => names.count(n => !runOnce(warmDir, n))).sum
    if (warmFailures > 0)
      System.err.println(s"[bench] $warmFailures/${2 * names.size} warmup runs failed (dir=$warmDir)")

    // host-speed anchor (round 13): a PINNED CPU-bound in-memory query
    // — 200M xxhash64-sum over range(), no IO, no shuffle, whole-stage
    // codegen — timed min-of-3 in the same JVM right after warmup.
    // BASELINE.md floors record the anchor of the host that set them,
    // so a later adjudication can normalize apparent regressions by the
    // anchor ratio instead of re-measuring the whole catalog on a
    // drifted host (the round-12 adjudication cost four full passes).
    def anchorOnce(): Double = {
      import org.apache.spark.sql.functions.{bit_count, col, sum, xxhash64}
      val t0 = System.nanoTime()
      // bit_count keeps the per-row term in [0, 64] so the 200M-row sum
      // can never overflow a long under ANSI (a raw xxhash64 sum does)
      spark.range(0L, 200000000L, 1L, cpus)
        .select(sum(bit_count(xxhash64(col("id"))).cast("long"))).head()
      (System.nanoTime() - t0) / 1e9
    }
    anchorOnce() // its own warmup — JIT of the anchor loop itself
    val anchorSecs = (1 to 3).map(_ => anchorOnce()).min

    // IO anchor (round 14): the CPU anchor is blind to disk-latency
    // drift — round 13's v32 "regression" was fsync latency doubling on
    // the bench host while anchor_secs read FASTER. This pins the exact
    // pattern the disk-backed gates pay (many small fsync'd files:
    // state-store delta commits, warehouse batch_id partitions): 64
    // sequential 64 KiB create+write+fsync files in java.io.tmpdir
    // (the device temp checkpoints land on), min-of-3. Adjudication
    // rule: a slow artifact whose io_anchor_secs is elevated against
    // the floor's is host IO drift — normalize, don't re-measure.
    def ioAnchorOnce(): Double = {
      val dir = java.nio.file.Files.createTempDirectory("graft_io_anchor")
      try {
        val buf = java.nio.ByteBuffer.allocate(65536)
        val t0 = System.nanoTime()
        (1 to 64).foreach { i =>
          val ch = java.nio.channels.FileChannel.open(dir.resolve(s"f$i"),
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.WRITE)
          try { buf.rewind(); ch.write(buf); ch.force(true) } finally ch.close()
        }
        (System.nanoTime() - t0) / 1e9
      } finally
        new scala.reflect.io.Directory(dir.toFile).deleteRecursively()
    }
    ioAnchorOnce() // warmup (dentry cache, JIT)
    val ioAnchorSecs = (1 to 3).map(_ => ioAnchorOnce()).min

    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3").toInt.max(1)
    // TWO DECORRELATED CATALOG PASSES (round 15): three back-to-back
    // repeats defeat per-query noise but not CONTENTION WINDOWS, which
    // span minutes — i.e. several contiguous queries — and produced
    // 3-4 phantom >2x-floor readings per round (every one cleared
    // isolated, each costing a judge an adjudication pass). Same total
    // work, split 2+1 across two full passes: a window now has to hit
    // the SAME query in both passes, minutes apart, to fake a
    // regression. Per-query minimum over all runs of both passes.
    val passPlan: Seq[Int] =
      if (repeats == 1) Seq(1)
      else Seq(repeats - repeats / 2, repeats / 2)
    val measured: Seq[Map[String, Double]] = passPlan.map { k =>
      names.map { name =>
        val secs = (1 to k).map { _ =>
          val t0 = System.nanoTime()
          val ok = runOnce(sfDir, name)
          val sec = (System.nanoTime() - t0) / 1e9
          if (ok) sec else -1.0
        }
        // a query that fails any repeat is reported failed (-1), not
        // flattered by a successful earlier repeat
        name -> (if (secs.exists(_ < 0)) -1.0 else secs.min)
      }.toMap
    }
    val results = names.map { name =>
      val vs = measured.map(_(name))
      name -> (if (vs.exists(_ < 0)) -1.0 else vs.min)
    }
    // millisecond resolution: bench numbers live in a ±5-10% host-noise
    // band, and full-precision doubles nearly double the line the
    // driver's bounded tail capture has to hold. Locale.ROOT: a
    // decimal-comma default locale would render invalid JSON.
    def fmt(v: Double): String =
      if (v < 0) "-1.0"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val json = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","anchor_secs":${fmt(anchorSecs)},"io_anchor_secs":${fmt(ioAnchorSecs)},"queries":$qs,"sf":"$sfDir"}"""
    println(json)
    // stdout of an sbt run is scraped into a BOUNDED tail window: with
    // 183+ queries the headline alone can overflow it and truncate
    // mid-JSON (round-8 driver artifact held 57/183 and parsed null).
    // Print one more SMALL line, LAST, that still parses whole inside
    // any ~1.5 KB window: the per-query seconds alone (ordered by
    // sorted query name — reconstructible from SparkEntry.queries),
    // gzip+base64'd to ~0.7 KB. Whichever line the scraper's parse
    // lands on, the full per-query map is recoverable — and the
    // lossless plain twin is persisted below and committed as
    // dev/bench_r*.json each round.
    val gz = {
      val secsCsv = results.map { case (_, v) => fmt(v) }.mkString(",")
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(secsCsv.getBytes("UTF-8")); g.close()
      java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
    }
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","n":${results.size},""" +
      s""""anchor_secs":${fmt(anchorSecs)},"io_anchor_secs":${fmt(ioAnchorSecs)},"secs_by_sorted_name_gz_b64":"$gz"}""")
    // also persist the plain line so the round artifact is
    // machine-readable in full regardless of stdout capture
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outPath: $e") }
    spark.stop()
  }
}
