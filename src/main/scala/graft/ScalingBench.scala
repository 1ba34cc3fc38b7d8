package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.operators.{Dedup, Graph, Pipeline, ScaleCorpus, TextAnalysis}
import graft.streaming.IngestDedup

/** Scaling-curve harness behind `dev/scaling.md`: times each
  * capped-vs-uncapped operator pair on deterministically up-scaled
  * corpora ([[graft.operators.ScaleCorpus]]) and prints one JSON line
  * per (scale, query) measurement. The claim under test: the capped /
  * banded paths (the declared 100 TB route) grow ~linearly with corpus
  * size while their uncapped exact twins bend quadratic on the
  * boilerplate population the synthesis plants.
  *
  * Usage: `runMain graft.ScalingBench [baseSfDir] [replicas...]`
  * (defaults: `/root/testdata/sf0.01`, scales 1 10 100). Set
  * `SPARK_GRAFT_SCALING_SKIP_UNCAPPED` to a comma-separated scale list
  * to skip the quadratic twins where they stop being affordable —
  * skipped runs print `-1` (the Bench sentinel convention).
  */
object ScalingBench {

  /** Corpus dirs whose s17 index was built by THIS invocation. */
  private val s17Built =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** dir → id cutoff of the 90% base index built for the append row. */
  private val appendBase =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  private def force(df: DataFrame): Long = {
    // noop datasource: full distributed execution, zero driver pull
    df.write.format("noop").mode("overwrite").save()
    0L
  }

  private def time(fn: => DataFrame): Double = {
    val t0 = System.nanoTime()
    force(fn)
    (System.nanoTime() - t0) / 1e9
  }

  /** RECALL-at-scale suite (`SPARK_GRAFT_SCALING_RECALL=1`) — the
    * numbers behind dev/scaling.md's recall columns: at each scale,
    * the depth-scaled LSH paths (d13 / d16 / v30 at the depth
    * [[Dedup.lshPlanesFor]] picks) are scored against their EXACT
    * twins (d12's all-pairs scan, d16's exact cross-split scan, v30's
    * no-smaller-id-neighbor survivor rule). Precision is 1 by
    * construction everywhere (every emitted pair passed the true
    * cosine test), so the one number that can move is recall — and
    * because fewer discovered edges can only SPLIT dup components,
    * the LSH survivor set is always a superset of the exact one:
    * `extra_survivors` is the whole survivor-level error.
    * `d13_recall_comp` re-runs the d13 generator with the band count
    * the compensation dial ([[Dedup.lshBandsFor]]) prescribes for the
    * picked depth — the measured cost/recall trade of holding the
    * boundary-pair miss probability flat while buckets deepen. */
  private def recallSuite(spark: SparkSession, dir: String, scale: Int,
                          only: Option[Set[String]]): Unit = {
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val planes = Dedup.lshPlanesFor(n)
    def want(q: String) = only.forall(_.contains(q))
    def emit(query: String, fields: (String, Any)*): Unit = {
      val kv = fields.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      println(s"""{"scale":$scale,"vecs":$n,"planes":$planes,"query":"$query",$kv}""")
      System.out.flush()
    }

    // exact pair set — the shared denominator of d13/v30.
    // SPARK_GRAFT_SCALING_RECALL_T overrides the pair threshold (default
    // 0.45, the gate bar): recall is REGIME-dependent — a 0.45-cosine
    // "near-dup" sits at ~63°, the diffuse end where space partitioning
    // is weakest, while real near-dup corpora concentrate mass near 1.0
    // where any cell/band geometry holds far more of it.
    val recallT = sys.env.get("SPARK_GRAFT_SCALING_RECALL_T")
      .map(_.toDouble).getOrElse(0.45)
    // lazy (round 14): a media-cap-only invocation (m10_cap/m11_cap)
    // must not pay the exact all-pairs scan — at x100 that is a
    // 2.5B-cosine denominator no cap row reads
    lazy val exactPairs = Dedup.embeddingNearDupPairs(emb, recallT)
      .select(col("id_a"), col("id_b")).localCheckpoint(true)
    lazy val nExact = exactPairs.count()
    lazy val exactDropped = Graph.starContract(exactPairs)
      .filter(col("node") =!= col("lbl")).select(col("node"))
      .localCheckpoint(true)
    lazy val nExactDropped = exactDropped.count()

    // shared scorer for any precision-1 pair generator: pair recall vs
    // the exact set + survivor-level error (found ⊆ exact ⇒ generator
    // components split, never merge ⇒ generator-dropped ⊆ exact-dropped:
    // the extra survivors ARE the whole survivor-level error)
    def pairMetrics(tag: String, mkFound: => DataFrame,
                    fields: (String, Any)*): Unit = try {
      val t0 = System.nanoTime()
      val found = mkFound
        .select(col("id_a"), col("id_b")).localCheckpoint(true)
      val genSec = (System.nanoTime() - t0) / 1e9
      val nFound = found.count()
      val hits = found.join(exactPairs, Seq("id_a", "id_b")).count()
      val genDropped = Graph.starContract(found)
        .filter(col("node") =!= col("lbl")).select(col("node"))
      val extraSurvivors = exactDropped.exceptAll(genDropped).count()
      emit(tag, (fields ++ Seq("gen_sec" -> f"$genSec%.1f",
        "exact_pairs" -> nExact,
        "found_pairs" -> nFound, "pair_hits" -> hits,
        "pair_recall" -> f"${if (nExact == 0) 1.0 else hits.toDouble / nExact}%.4f",
        "exact_dropped" -> nExactDropped,
        "extra_survivors" -> extraSurvivors)): _*)
    } catch {
      // the volume-budget pre-flight raises the TYPED
      // VolumeBudgetExceeded on un-affordable dials — record the
      // refusal as a row instead of killing the remaining grid points
      // (the runs-table per-query convention). ONLY that type (round-15
      // ADVICE: matching the bare IllegalArgumentException also caught
      // unrelated preconditions — quantizer-range requires, band-count
      // requires — and recorded genuine misconfigurations as polite
      // refusals); everything else, IAE included, is recorded as its
      // own failed-not-refused row and the grid continues.
      case e: operators.Similarity.VolumeBudgetExceeded =>
        emit(tag, (fields ++ Seq("refused" -> true,
          "reason" -> ("\"" + Option(e.getMessage).getOrElse("")
            .takeWhile(_ != '\n').replace("\"", "'") + "\""))): _*)
      case scala.util.control.NonFatal(e) =>
        emit(tag, (fields ++ Seq("failed" -> true,
          "error" -> ("\"" + (e.getClass.getSimpleName + ": " +
            Option(e.getMessage).getOrElse(""))
            .takeWhile(_ != '\n').replace("\"", "'") + "\""))): _*)
    }
    def d13Metrics(tag: String, bands: Int): Unit =
      pairMetrics(tag,
        Dedup.embeddingNearDupPairsLSH(emb, recallT, bands = bands,
          planesPerBand = planes, maxBucketSize = Some(4096L)),
        "bands" -> bands)
    if (want("d13_recall")) d13Metrics("d13_recall", 24)
    // SPARK_GRAFT_SCALING_COMP_BANDS overrides the dial's band count —
    // the partial-dial points of the recall/cost curve (the full dial
    // at b=8 is 240 bands, measured past this host's memory)
    if (want("d13_recall_comp"))
      d13Metrics("d13_recall_comp",
        sys.env.get("SPARK_GRAFT_SCALING_COMP_BANDS").map(_.toInt)
          .getOrElse(Dedup.lshBandsFor(planes)))

    // d14 (round 12): the IVF pair generator's recall across its TWO
    // dials — spill probes and cell size — both of which multiply the
    // candidate volume (~N·targetCell·spill²/2). The recall suite's own
    // x100 guidance routes users here once the LSH band dial becomes
    // unaffordable, so the dial it recommends needs its own curve, and
    // at fixed volume the two dials are alternatives: spill² vs
    // targetCell. (spill, targetCell) points come from
    // SPARK_GRAFT_SCALING_D14_POINTS=spill:cell,... (default: the spill
    // sweep at the gate's 256-vector cells; spill = 3 is the d14 gate).
    if (want("d14_recall")) {
      // spill:cell[:quantizers] — the third field is the round-12
      // OR-dial (candidate union across independently-init'd
      // quantizers)
      val points = sys.env.get("SPARK_GRAFT_SCALING_D14_POINTS")
        .map(_.split(",").toSeq.map { p =>
          p.split(":") match {
            case Array(s, c)    => (s.trim.toInt, c.trim.toLong, 1)
            case Array(s, c, q) => (s.trim.toInt, c.trim.toLong, q.trim.toInt)
          }
        })
        .getOrElse(Seq(2, 3, 4, 8).map((_, 256L, 1)))
      for ((spill, cell, q) <- points) {
        pairMetrics("d14_recall",
          Dedup.embeddingNearDupPairsIVF(emb, recallT, spill = spill,
            targetCell = cell, quantizers = q),
          "spill" -> spill, "target_cell" -> cell, "quantizers" -> q)
      }
    }

    // s15 (round 12): edge recall of the IVF mutual-kNN graph vs the
    // exact s13 graph across NPROBE settings. An edge needs BOTH
    // endpoints' rankings (edge recall ≈ vertex recall²); the IVF edge
    // set is not a subset of the exact one (approximate rankings can
    // also CREATE edges), so found/hits are reported separately.
    if (want("s15_recall")) {
      val e = emb
      val nlist = math.max(16L, n / 512L).toInt
      val exactEdges = operators.Similarity.mutualKnn(
          operators.Similarity.bruteForceKnn(e, e, 5, roundCosineTo = 9))
        .select(col("id_a"), col("id_b")).localCheckpoint(true)
      val nEdges = exactEdges.count()
      // nprobe[:quantizers[:pool[:lsh]]] — the second field is the
      // round-12 OR-dial; the third (round 14) is the pool-depth
      // re-rank dial: pool > 5 routes through mutualKnnPooled
      // (directed lists cut at rk <= pool, symmetrized, re-ranked to
      // top-5), pool <= 5 (or absent) is the historical unpooled
      // path; the fourth (round 15, the s23 composition) set to 1
      // unions the banded-LSH generator's verified pairs (d13's
      // corpus-scaled dials) into the pool before the re-rank —
      // CROSS-GENERATOR discovery for the edges neither endpoint's
      // probes found
      val s15Points = sys.env.get("SPARK_GRAFT_SCALING_S15_POINTS")
        .map(_.split(",").toSeq.map { p =>
          p.split(":") match {
            case Array(np)       => (np.trim.toInt, 1, 0, 0)
            case Array(np, q)    => (np.trim.toInt, q.trim.toInt, 0, 0)
            case Array(np, q, pl) =>
              (np.trim.toInt, q.trim.toInt, pl.trim.toInt, 0)
            case Array(np, q, pl, ls) =>
              (np.trim.toInt, q.trim.toInt, pl.trim.toInt, ls.trim.toInt)
          }
        })
        .getOrElse(Seq((2, 1, 0, 0), (4, 1, 0, 0), (8, 1, 0, 0)))
      for ((np, orQ, pool, lsh) <- s15Points) try {
        val t0 = System.nanoTime()
        val ivfEdges = (if (pool > 5) {
            val directed0 = operators.Similarity.ivfKnn(e, e, pool,
                nlist = nlist, nprobe = math.min(np, nlist),
                quantizers = orQ)
              .select(col("query_id"), col("neighbor_id"))
            val directed = if (lsh == 0) directed0 else
              directed0.union(
                Dedup.embeddingNearDupPairsLSH(e, recallT, bands = 24,
                  planesPerBand = Dedup.lshPlanesFor(n),
                  maxBucketSize = Some(4096L), bandChunks = 4)
                .select(col("id_a").as("query_id"),
                  col("id_b").as("neighbor_id")))
            operators.Similarity.mutualKnnPooled(e, directed, 5)
          } else
            operators.Similarity.mutualKnn(
              operators.Similarity.ivfKnn(e, e, 5, nlist = nlist,
                nprobe = math.min(np, nlist), quantizers = orQ)))
          .select(col("id_a"), col("id_b")).localCheckpoint(true)
        val genSec = (System.nanoTime() - t0) / 1e9
        val found = ivfEdges.count()
        val hits = ivfEdges.join(exactEdges, Seq("id_a", "id_b")).count()
        emit("s15_recall", "nprobe" -> np, "quantizers" -> orQ,
          "pool" -> pool, "lsh" -> lsh, "nlist" -> nlist,
          "gen_sec" -> f"$genSec%.1f",
          "exact_edges" -> nEdges, "found_edges" -> found,
          "edge_hits" -> hits,
          "edge_recall" ->
            f"${if (nEdges == 0) 1.0 else hits.toDouble / nEdges}%.4f")
      } catch {
        // same typed split as pairMetrics: only the volume-budget
        // pre-flight's VolumeBudgetExceeded is a refusal; anything
        // else is a real failure recorded as such (null-safe message)
        case e: operators.Similarity.VolumeBudgetExceeded =>
          emit("s15_recall", "nprobe" -> np, "quantizers" -> orQ,
            "pool" -> pool, "lsh" -> lsh, "refused" -> true,
            "reason" -> ("\"" + Option(e.getMessage).getOrElse("")
              .takeWhile(_ != '\n').replace("\"", "'") + "\""))
        case scala.util.control.NonFatal(e) =>
          emit("s15_recall", "nprobe" -> np, "quantizers" -> orQ,
            "pool" -> pool, "lsh" -> lsh, "failed" -> true,
            "error" -> ("\"" + (e.getClass.getSimpleName + ": " +
              Option(e.getMessage).getOrElse(""))
              .takeWhile(_ != '\n').replace("\"", "'") + "\""))
      }
    }

    if (want("d16_recall")) {
      val split = emb.select(col("vec_id"),
        Pipeline.splitOf(Pipeline.md5Bucket(col("vec_id"))).as("sp"))
      val e = emb
        .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
        .withColumn("nrm", VectorOps.norm(col("v")))
        .join(split, "vec_id").localCheckpoint(true)
      val held = e.filter(col("sp") =!= "train")
      val train = e.filter(col("sp") === "train")
      val exactContam = held.as("a").join(train.as("b"),
          VectorOps.dot(col("a.v"), col("b.v")) /
            (col("a.nrm") * col("b.nrm")) >= 0.45)
        .select(col("a.vec_id")).distinct().localCheckpoint(true)
      val nContam = exactContam.count()
      val found = Dedup.d16SemanticDecontam(spark, dir)
        .select(col("vec_id")).localCheckpoint(true)
      val hits = found.join(exactContam, Seq("vec_id")).count()
      emit("d16_recall", "exact_contaminated" -> nContam,
        "found" -> found.count(), "hits" -> hits,
        "recall" -> f"${if (nContam == 0) 1.0 else hits.toDouble / nContam}%.4f")
    }

    if (want("v30_recall")) {
      // exact first-wins twin: survivors = vectors never the LARGER id
      // of an exact pair (the v30 oracle rule)
      val exactSurv = emb.select(col("vec_id"))
        .join(exactPairs.select(col("id_b").as("vec_id")).distinct(),
          Seq("vec_id"), "left_anti").localCheckpoint(true)
      val landed = IngestDedup.v30StreamedSemanticDedup(spark, dir)
        .select(col("vec_id")).localCheckpoint(true)
      val missing = exactSurv.exceptAll(landed).count()
      val extra = landed.exceptAll(exactSurv).count()
      emit("v30_recall", "exact_survivors" -> exactSurv.count(),
        "landed" -> landed.count(), "missing" -> missing, "extra" -> extra)
    }

    // m10/m11 hot-band cap at scale (round 14): the multimodal pairing
    // join where a band bucket is GENUINELY hot — the regime the cap
    // exists for. Signature-level synthesis (the gates already pin
    // decode→signature bit-for-bit; the operator under measure is the
    // band join): organic signatures are xxhash64-derived per scaled
    // doc_id (random 64-bit pHashes barely collide in 16-bit bands;
    // random audio contours collide plenty in 8-bit bands — both
    // organic regimes represented), plus one PLANTED identical-
    // signature cluster of 8,192 (> the 4,096 cap — the degenerate
    // clump: re-uploads of one asset) and one of 2,048 (< cap — a
    // popular-but-legitimate near-dup family the cap must KEEP).
    // Emitted: capped vs uncapped wall-clock and pair counts; the
    // surrendered pairs are exactly the hot cluster's C(8193,2) —
    // cluster-level-policy territory, the d08/d11 contract.
    def capPoint(tag: String, mkSig: DataFrame => DataFrame,
                 pairs: (DataFrame, Option[Long]) => DataFrame): Unit = {
      val ids = Tables.documents(spark, dir).select(col("doc_id"))
      val nOrg = ids.count()
      val organic = mkSig(ids)
      val hot = 8192L; val cold = 2048L
      // constant-signature cluster: sign ONE seed id, replicate the
      // signature under fresh media_ids disjoint from the organic range
      def plantedConst(salt: Long, copies: Long) = {
        val seed = mkSig(spark.range(1)
          .select(lit(salt).as("doc_id")))
          .drop("media_id")
        spark.range(copies)
          .select((col("id") + lit(nOrg * 8 + salt * 4000000L)).as("media_id"))
          .crossJoin(broadcast(seed))
      }
      val corpus = organic
        .unionByName(plantedConst(1L, hot))
        .unionByName(plantedConst(2L, cold))
        .localCheckpoint(true)
      def run(cap: Option[Long]): (Double, Long) = {
        val t0 = System.nanoTime()
        val n = pairs(corpus, cap).count()
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val (uncSec, uncPairs) = run(None)
      val (capSec, capPairs) = run(Some(4096L))
      emit(tag, "organic" -> nOrg, "hot" -> hot, "cold" -> cold,
        "uncapped_sec" -> f"$uncSec%.1f", "uncapped_pairs" -> uncPairs,
        "capped_sec" -> f"$capSec%.1f", "capped_pairs" -> capPairs,
        "surrendered" -> (uncPairs - capPairs))
    }
    if (want("m10_cap"))
      capPoint("m10_cap",
        ids => ids.select(col("doc_id").as("media_id"),
          xxhash64(col("doc_id"), lit("m10hi")).as("phash_hi"),
          xxhash64(col("doc_id"), lit("m10lo")).as("phash_lo")),
        (sig, cap) => operators.Media.phashNearDupPairs(sig,
          maxBucketSize = cap))
    if (want("m11_cap"))
      capPoint("m11_cap",
        ids => ids.select(col("doc_id").as("media_id"),
          pmod(xxhash64(col("doc_id"), lit("m11")), lit(1L << 31))
            .as("afp")),
        (sig, cap) => operators.Media.audioNearDupPairs(sig,
          maxBucketSize = cap))

    // x02 wedge cap at scale (round 15): the (deg, id) orientation
    // already defuses a STAR hub (the celebrity ends up with out-deg
    // 0), so the true degenerate is a DENSE CLUMP — one order holding
    // 512 mutually co-purchased parts makes a 512-clique whose wedge
    // volume is Σ j² ≈ 45M regardless of corpus size. Planted beside
    // the organic graph, capped (maxWedgeDegree 64 → ~2M clump
    // wedges) vs uncapped wall-clock and the surrendered triangle
    // mass — the m10/m11 shape applied to the graph family.
    if (want("x02_cap")) {
      val base = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_partkey"))
      val mx = base.agg(max(col("l_orderkey")).as("o"),
        max(col("l_partkey")).as("p")).head()
      val (maxOrd, maxPart) = (mx.getLong(0), mx.getLong(1))
      val cliqueN = 512L
      val planted = spark.range(cliqueN)
        .select(lit(maxOrd + 1L).as("l_orderkey"),
          (col("id") + maxPart + 1L).as("l_partkey"))
      val liG = base.unionByName(planted).localCheckpoint(true)
      def runTri(cap: Option[Int]): (Double, Long) = {
        val t0 = System.nanoTime()
        val s = operators.Graph.triangles(liG, cap)
          .agg(coalesce(sum(col("n_tri")), lit(0L)).as("s"))
          .head().getLong(0)
        ((System.nanoTime() - t0) / 1e9, s)
      }
      val (uncSec, uncTri) = runTri(None)
      val (capSec, capTri) = runTri(Some(64))
      emit("x02_cap", "clique" -> cliqueN, "cap" -> 64,
        "uncapped_sec" -> f"$uncSec%.1f", "uncapped_tri_sum" -> uncTri,
        "capped_sec" -> f"$capSec%.1f", "capped_tri_sum" -> capTri,
        "surrendered" -> (uncTri - capTri))
    }
  }

  /** STREAMING THROUGHPUT suite (`SPARK_GRAFT_SCALING_STREAM=1`) — the
    * rows/s numbers behind dev/scaling.md's streaming section: the
    * scaled events table ([[graft.operators.ScaleCorpus.events]]: R×
    * the rows, R× the user-key cardinality, same 30-day horizon) is
    * staged as 8 ts-ordered files and driven through the PRODUCTION
    * ingest shape — file source, one file per micro-batch, RocksDB
    * state store, noop sink — for two stateful pipelines: the v16
    * stream-stream interval join and the v31 stream-static enrichment
    * + windowed aggregate. A second pass over 8 near-empty files with
    * the same batch count measures the FIXED micro-batch overhead
    * (offset log, state-store commits, planning), so the marginal
    * per-row cost — the number that extrapolates to 100 TB/day — is
    * separated from the harness constant. */
  private def streamSuite(spark: SparkSession, baseDir: String, dir: String,
                          scale: Int, only: Option[Set[String]]): Unit = {
    import graft.streaming.{EventStreams, Staging}
    import org.apache.spark.sql.expressions.Window
    val rocksdb =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val dim = Tables.customer(spark, baseDir) // dims don't scale with events
    val evEnc: org.apache.spark.sql.Encoder[EventStreams.Ev] =
      org.apache.spark.sql.Encoders.product[EventStreams.Ev]
    val shapes: Seq[(String, DataFrame => DataFrame)] = Seq(
      ("v16_join_throughput", df => EventStreams.attributedPurchases(df)),
      ("v31_enrich_throughput", df => EventStreams.segmentRollup(df, dim)),
      // round 15: the newer runtime gates' stateful shapes on the
      // x-axis — the two fMGWS regimes (v23 incremental pair
      // emission, v28 bounded-deque + EventTimeTimeout) and the
      // left-outer join's eviction path (v32; final-window nulls stay
      // pending without a flush — irrelevant to throughput, which
      // measures the processed input volume)
      ("v23_transitions_throughput",
        df => EventStreams.transitionPairs(df.as[EventStreams.Ev](evEnc)).toDF()),
      ("v28_spikes_throughput",
        df => EventStreams.spikeHourly(df.as[EventStreams.Ev](evEnc)).toDF()),
      ("v32_outer_join_throughput",
        df => EventStreams.attributionFunnel(df)))
    val ev = Tables.events(spark, dir)
    val slices = 8
    // contiguous ts-ordered slices: watermark advancement across
    // micro-batches mirrors a live in-order ingest
    val sliced = ev.withColumn("__slice",
      ntile(slices).over(Window.orderBy(col("ts"), col("event_id"))))
      .localCheckpoint(true)
    val nRows = sliced.count()
    def drive(name: String, srcDir: String, mk: DataFrame => DataFrame,
              ckpt: String): (Double, Long, Long, Long, Long) = {
      val t0 = System.nanoTime()
      val q = mk(EventStreams.readEvents(spark, srcDir))
        .writeStream.format("noop")
        .option("checkpointLocation", s"$srcDir/$ckpt")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .start()
      try q.processAllAvailable() finally q.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      val progress = q.recentProgress
      val input = progress.map(_.numInputRows).sum
      val batches = progress.length.toLong
      // PEAK state across the replay — the end state is mostly evicted
      val withState = progress.filter(_.stateOperators.nonEmpty)
      val peakRows =
        if (withState.isEmpty) 0L
        else withState.map(_.stateOperators.map(_.numRowsTotal).sum).max
      val peakBytes =
        if (withState.isEmpty) 0L
        else withState.map(_.stateOperators.map(_.memoryUsedBytes).sum).max
      (sec, input, batches, peakRows, peakBytes)
    }
    // v30 (round 12): the heaviest stateful shape — per-batch LSH
    // signing + the warehouse-index candidate join + auto-depth
    // re-bucket amortization — measured as THREE separated costs:
    //   fixed_sec     near-empty twin (8 one-vector batches): harness +
    //                 per-batch state-read floor;
    //   sec           the full replay at the FINAL depth pinned
    //                 explicitly → marginal rows/s with NO re-buckets;
    //   auto_sec      the same replay in auto-depth mode → the
    //                 re-bucket premium is auto_sec − sec.
    // foreachBatch state lives in the parquet index (not a state
    // store), so this block runs before the RocksDB conf switch.
    if (only.forall(_.contains("v30_throughput"))) {
      import graft.operators.Dedup
      GraftSession.withConf(spark)(
          "spark.sql.shuffle.partitions" -> EventStreams.replayPartitions.toString) {
        val emb = Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("embedding"), col("label"))
        val vSlices = 8
        val vSliced = emb.withColumn("__slice",
          ntile(vSlices).over(Window.orderBy(col("vec_id"))))
          .localCheckpoint(true)
        val nVecs = vSliced.count()
        val finalDepth = Dedup.lshPlanesFor(nVecs)
        val root = s"$dir/__stream_v30"
        new scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
        val stageFull = Staging.stager(s"$root/full")
        for (k <- 1 to vSlices)
          stageFull(vSliced.filter(col("__slice") === k).drop("__slice"))
        val headV = vSliced.orderBy(col("vec_id")).limit(vSlices).drop("__slice")
        val stageTiny = Staging.stager(s"$root/tiny")
        for (r <- headV.collect())
          stageTiny(spark.createDataFrame(
            java.util.Arrays.asList(r), headV.schema))
        def driveV30(name: String, srcDir: String,
                     depth: Option[Int]): (Double, Long, Long) = {
          val t0 = System.nanoTime()
          val q = IngestDedup.semanticDedupingSink(
            IngestDedup.readVecs(spark, srcDir),
            // run outputs live under run_<name>, NEVER under a source
            // dir: the file source lists its input path recursively, so
            // an out/idx/ckpt planted inside it is read back as
            // conflicting partition structure mid-stream
            s"$root/run_$name/out", s"$root/run_$name/idx",
            s"$root/run_$name/ckpt",
            planesPerBand = depth)
          try q.processAllAvailable() finally q.stop()
          val sec = (System.nanoTime() - t0) / 1e9
          val progress = q.recentProgress
          (sec, progress.map(_.numInputRows).sum, progress.length.toLong)
        }
        driveV30("warm", s"$root/tiny", Some(3)) // codegen warm-up, discarded
        val (fixedSec, _, _) = driveV30("tiny", s"$root/tiny", Some(3))
        val (sec, input, batches) =
          driveV30("fixedd", s"$root/full", Some(finalDepth))
        val (autoSec, _, _) = driveV30("auto", s"$root/full", None)
        // marginal divides CORPUS vectors, not numInputRows: each
        // foreachBatch action re-executes the file-source scan, so the
        // progress counter reads ~5× the vectors — a per-row COST,
        // not extra throughput (input_rows stays in the artifact for
        // transparency)
        val marginal =
          if (sec > fixedSec && nVecs > 0) nVecs / (sec - fixedSec) else -1.0
        println(s"""{"scale":$scale,"query":"v30_throughput","rows":$nVecs,""" +
          s""""input_rows":$input,"batches":$batches,"depth":$finalDepth,""" +
          s""""sec":${f"$sec%.3f"},"fixed_sec":${f"$fixedSec%.3f"},""" +
          s""""auto_sec":${f"$autoSec%.3f"},""" +
          s""""rebucket_overhead_sec":${f"${autoSec - sec}%.3f"},""" +
          s""""rows_per_sec":${f"${nVecs / sec}%.0f"},""" +
          s""""marginal_rows_per_sec":${f"$marginal%.0f"}}""")
        System.out.flush()
      }
    }

    GraftSession.withConf(spark)(confKey -> rocksdb,
        "spark.sql.shuffle.partitions" -> EventStreams.replayPartitions.toString) {
      for ((name, mk) <- shapes if only.forall(_.contains(name))) {
        val root = s"$dir/__stream_$name"
        new scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
        val stageFull = Staging.stager(s"$root/full")
        for (k <- 1 to slices)
          stageFull(sliced.filter(col("__slice") === k).drop("__slice"))
        // near-empty twin: the 8 earliest rows, one per file — same
        // batch count, ~zero rows → the fixed overhead measurement
        val head8 = sliced.orderBy(col("ts"), col("event_id")).limit(slices)
          .drop("__slice")
        val stageTiny = Staging.stager(s"$root/tiny")
        for (r <- head8.collect())
          stageTiny(spark.createDataFrame(
            java.util.Arrays.asList(r), head8.schema))
        // warm-up drive first (discarded): plan/codegen warm-up must be
        // charged to neither the throughput nor the overhead estimate
        drive(name, s"$root/tiny", mk, "__ckpt_warm")
        val (sec, input, batches, stateRows, stateBytes) =
          drive(name, s"$root/full", mk, "__ckpt_full")
        val (fixedSec, _, _, _, _) = drive(name, s"$root/tiny", mk, "__ckpt_fix")
        val marginal =
          if (sec > fixedSec && input > 0) input / (sec - fixedSec) else -1.0
        println(s"""{"scale":$scale,"query":"$name","rows":$nRows,""" +
          s""""input_rows":$input,"batches":$batches,""" +
          s""""sec":${f"$sec%.3f"},"fixed_sec":${f"$fixedSec%.3f"},""" +
          s""""rows_per_sec":${f"${input / sec}%.0f"},""" +
          s""""marginal_rows_per_sec":${f"$marginal%.0f"},""" +
          s""""state_rows":$stateRows,"state_bytes":$stateBytes}""")
        System.out.flush()
      }
    }
  }

  /** Estimation-mode boundary suite (`SPARK_GRAFT_SCALING_EST=1`) —
    * the measured exact→estimation transition the sketch family's
    * documentation argues from construction: q39's theta sketches are
    * EXACT below 2^12 retained hashes and q40's QuantileSketch below
    * 4096 distinct values (that soundness argument carries their hash
    * gates at gate SF), and deterministic ESTIMATORS above. This
    * crosses the boundary on scaled REAL tables
    * ([[ScaleCorpus.lineitem]] with partial flag overlaps,
    * [[ScaleCorpus.orders]] with replica-cent price spread): x1 sits
    * below both capacities and must read error 0; x10/x100 sit above
    * and read the actual estimation error — against exact twins
    * computed in-engine on the same scaled tables (q39: the distinct
    * (flag, part) set algebra; q40: the sketch's own r = ⌈q·n⌉
    * rule). Each operator is also re-run twice and under a different
    * shuffle-partition count: in estimation mode determinism and
    * partitioning-invariance are CLAIMS (SketchesSpec pins them at
    * gate SF), and this suite re-checks them where estimation is
    * actually engaged. w08's maintenance blobs are these same two
    * mechanisms. */
  private def estimationSuite(spark: SparkSession, baseDir: String,
                              scale: Int, only: Option[Set[String]]): Unit = {
    val dir = s"/tmp/graft_scaling/est_x$scale"
    val parts = ScalePolicy.width(spark)
    // capacity/bin-width labels come from the operators' own dials
    // (single owner — Sketches), never re-hardcoded here
    val thetaCap = 1L << operators.Sketches.thetaLgK
    val qsCap = operators.Sketches.qsCap
    val binWidth = operators.Sketches.qsBinWidth
    // accept BOTH the bare token and the full gate name (the other
    // suites match full names — passing q39_theta_flag_overlap here
    // used to silently run nothing)
    def wantEst(tok: String, full: String) =
      only.forall(o => o.contains(tok) || o.contains(full))
    val wantQ39 = wantEst("q39", "q39_theta_flag_overlap")
    val wantQ40 = wantEst("q40", "q40_quantile_rollup")
    val wantQ30 = wantEst("q30", "q30_hll_distinct_rollup")
    if (wantQ39)
      ScaleCorpus.lineitem(Tables.lineitem(spark, baseDir), scale, keepPct = 70)
        .repartition(parts)
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    if (wantQ40 || wantQ30)
      ScaleCorpus.orders(Tables.orders(spark, baseDir), scale)
        .repartition(parts)
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")

    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    // (deterministic re-run, different-shuffle-partitioning re-run)
    // against the caller's already-collected baseline — one re-run
    // each, never a third baseline evaluation of a corpus-scale plan
    def stability(baseline: Seq[String], mk: => DataFrame)
        : (Boolean, Boolean) = {
      val det = baseline == rows(mk)
      val inv = GraftSession.withConf(spark)(
        "spark.sql.shuffle.partitions" -> "7")(baseline == rows(mk))
      (det, inv)
    }
    // -1 is the undefined-relative-error sentinel (exact = 0 with a
    // nonzero estimate has no meaningful ratio — the Bench convention)
    def relErr(est: Long, exact: Long): Double =
      if (exact == 0L) { if (est == 0L) 0.0 else -1.0 }
      else math.abs(est - exact).toDouble / exact

    if (wantQ39) {
      val fp = Tables.lineitem(spark, dir)
        .select(col("l_returnflag").as("flag"), col("l_partkey").as("p"))
        .distinct()
      val cnt = fp.groupBy(col("flag")).agg(count(lit(1)).as("n"))
      val inter = fp.as("x")
        .join(fp.as("y"),
          col("x.p") === col("y.p") && col("x.flag") < col("y.flag"))
        .groupBy(col("x.flag").as("fa"), col("y.flag").as("fb"))
        .agg(count(lit(1)).as("ni"))
      val exact = cnt.as("ca")
        .join(cnt.as("cb"), col("ca.flag") < col("cb.flag"))
        .join(inter,
          col("fa") === col("ca.flag") && col("fb") === col("cb.flag"), "left")
        .select(
          col("ca.flag").as("flag_a"), col("cb.flag").as("flag_b"),
          col("ca.n").as("e_a"), col("cb.n").as("e_b"),
          (col("ca.n") + col("cb.n") - coalesce(col("ni"), lit(0L)))
            .as("e_union"),
          coalesce(col("ni"), lit(0L)).as("e_inter"),
          (col("ca.n") - coalesce(col("ni"), lit(0L))).as("e_diff"))
      // materialize the estimate ONCE (localCheckpoint): the baseline
      // rows and the error join both read the materialized frame, so
      // only the two stability re-runs re-execute the sketch plan
      val est = operators.Sketches.q39ThetaFlagOverlap(spark, dir)
        .localCheckpoint(true)
      val estBaseline = rows(est)
      // the largest UNION is the first population to cross the sketch
      // capacity — the honest mode label for the pairwise algebra
      val maxUnion = exact.agg(max(col("e_union"))).head().getLong(0)
      val joined = est.join(exact, Seq("flag_a", "flag_b")).collect()
      for (r <- joined) {
        val stats = Seq("a", "b", "union", "inter", "diff").map { s =>
          val e = r.getAs[Long](s"n_$s"); val x = r.getAs[Long](s"e_$s")
          s""""rel_err_$s":${f"${relErr(e, x)}%.4f"}"""
        }
        println(s"""{"suite":"estimation","scale":$scale,"query":"q39",""" +
          s""""pair":"${r.getAs[String]("flag_a")}|${r.getAs[String]("flag_b")}",""" +
          s""""exact_union":${r.getAs[Long]("e_union")},""" +
          s""""est_union":${r.getAs[Long]("n_union")},""" +
          stats.mkString(",") + "}")
      }
      val (det, inv) = stability(estBaseline,
        operators.Sketches.q39ThetaFlagOverlap(spark, dir))
      println(s"""{"suite":"estimation","scale":$scale,"query":"q39",""" +
        s""""largest_union":$maxUnion,"capacity":$thetaCap,""" +
        // exactness is defined on RETAINED hashes, not population —
        // exactly AT capacity the sketch may already estimate, so the
        // label is conservative: strictly below capacity = exact
        s""""mode":"${if (maxUnion < thetaCap) "exact" else "estimation"}",""" +
        s""""deterministic":$det,"part_invariant":$inv}""")
      System.out.flush()
    }

    if (wantQ40) {
      import org.apache.spark.sql.expressions.Window
      val o = Tables.orders(spark, dir)
        .select(year(col("o_orderdate")).as("order_year"),
          col("o_totalprice").as("v"))
      val w = Window.partitionBy(col("order_year")).orderBy(col("v"))
      val ranked = o
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1))
          .over(Window.partitionBy(col("order_year"))))
      def atQ(q: Double) = max(when(
        col("rn") === ceil(lit(q) * col("n")), col("v")))
      val exact = ranked.groupBy(col("order_year")).agg(
        countDistinct(col("v")).as("n_distinct"),
        atQ(0.25).as("e25"), atQ(0.5).as("e50"),
        atQ(0.75).as("e75"), atQ(0.9).as("e90"))
      val est = operators.Sketches.q40QuantileRollup(spark, dir)
      val estBaseline = rows(est)
      val joined = est.join(exact, Seq("order_year"))
        .orderBy(col("order_year")).collect()
      for (r <- joined) {
        val errs = Seq(("p25_price", "e25"), ("p50_price", "e50"),
          ("p75_price", "e75"), ("p90_price", "e90"))
          .map { case (a, b) =>
            math.abs(r.getAs[Double](a) - r.getAs[Double](b)) }
        val nd = r.getAs[Long]("n_distinct")
        println(s"""{"suite":"estimation","scale":$scale,"query":"q40",""" +
          s""""year":${r.getAs[Int]("order_year")},"n_distinct":$nd,""" +
          s""""mode":"${if (nd <= qsCap) "exact" else "grid"}",""" +
          s""""max_abs_err":${f"${errs.max}%.4f"},"bin_width":$binWidth}""")
      }
      val (det, inv) = stability(estBaseline,
        operators.Sketches.q40QuantileRollup(spark, dir))
      println(s"""{"suite":"estimation","scale":$scale,"query":"q40",""" +
        s""""deterministic":$det,"part_invariant":$inv}""")
      System.out.flush()
    }

    // q30 — the HLL third of the sketch family (rows-only at the gate:
    // DuckDB cannot replay DataSketches HLL). Its ≤5% pin lives at
    // gate SF; this measures the real error against the exact per-year
    // distinct-customer count where the population is 10×/100× bigger,
    // plus the same determinism/invariance re-checks (HLL unions are
    // order-insensitive by design — measured, not assumed).
    if (wantQ30) {
      val exact = Tables.orders(spark, dir)
        .select(year(col("o_orderdate")).as("order_year"), col("o_custkey"))
        .groupBy(col("order_year"))
        .agg(countDistinct(col("o_custkey")).as("n_exact"))
      val est = operators.Sketches.q30HllDistinctRollup(spark, dir)
      val estBaseline = rows(est)
      val joined = est.join(exact, Seq("order_year"))
        .orderBy(col("order_year")).collect()
      for (r <- joined) {
        val e = r.getAs[Long]("est_unique_customers")
        val x = r.getAs[Long]("n_exact")
        println(s"""{"suite":"estimation","scale":$scale,"query":"q30",""" +
          s""""year":${r.getAs[Int]("order_year")},"n_exact":$x,""" +
          s""""n_est":$e,"rel_err":${f"${relErr(e, x)}%.4f"}}""")
      }
      val (det, inv) = stability(estBaseline,
        operators.Sketches.q30HllDistinctRollup(spark, dir))
      println(s"""{"suite":"estimation","scale":$scale,"query":"q30",""" +
        s""""deterministic":$det,"part_invariant":$inv}""")
      System.out.flush()
    }
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.01")
    val scales =
      if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(1, 10, 100)
    val skipUncapped = sys.env.get("SPARK_GRAFT_SCALING_SKIP_UNCAPPED")
      .map(_.split(",").map(_.trim.toInt).toSet).getOrElse(Set.empty[Int])
    // measure a subset without re-running the whole (expensive) grid
    val only = sys.env.get("SPARK_GRAFT_SCALING_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)

    // (name, capped?, runner). Caps/bands mirror the d08/d11/d13/t15
    // gate parameters; v18 has no uncapped twin — its curve measures
    // the O(batch + candidates) per-batch index join directly.
    val runs: Seq[(String, Boolean, (SparkSession, String) => DataFrame)] = Seq(
      ("d02_jaccard_uncapped", false,
        (s, d) => Dedup.jaccardPairs(Tables.documents(s, d), 0.8)),
      ("d08_jaccard_capped", true,
        (s, d) => Dedup.jaccardPairs(Tables.documents(s, d), 0.8,
          maxShingleFreq = Some(8))),
      ("d03_minhash_uncapped", false,
        (s, d) => Dedup.minhashDedupPairs(Tables.documents(s, d), 0.8)),
      ("d11_minhash_capped", true,
        (s, d) => Dedup.minhashDedupPairs(Tables.documents(s, d), 0.8,
          maxBucketSize = Some(32))),
      ("d12_semantic_exact", false, Dedup.d12SemanticDedup _),
      // round 8 measured the fixed-depth (b = 3 at any N) form OOMing
      // the JVM at x100 — ~N²/8 candidates per band. d13 now scales its
      // plane depth with log₂(N/256) and caps hot buckets, so it sits
      // on the capped side; the x100 row must COMPLETE, that's the claim
      ("d13_semantic_lsh", true, Dedup.d13SemanticDedupLsh _),
      // band-at-a-time (round 15): same dials, same result set, peak
      // candidate spill / 12 — the row that must COMPLETE at x1000
      // where the single-pass form correctly refuses (~1.5G estimate
      // vs the 200M peak budget; /12 -> ~122M per chunk)
      ("d13_semantic_lsh_chunked", true,
        Dedup.d13SemanticDedupLshChunked(12) _),
      ("d14_semantic_ivf", true, Dedup.d14SemanticDedupIvf _),
      ("t13_decontam_uncapped", false,
        (s, d) => TextAnalysis.decontaminate(Tables.documents(s, d))),
      ("t15_decontam_capped", true,
        (s, d) => TextAnalysis.decontaminate(Tables.documents(s, d),
          maxShingleFreq = Some(8))),
      ("v18_streamed_ingest_dedup", true, IngestDedup.v18StreamedIngestDedup _),
      ("v30_streamed_semantic_dedup", true, IngestDedup.v30StreamedSemanticDedup _),
      // singletons with no quadratic twin — their claim is a ~linear
      // slope: c01's assignment is a projection + constant-size
      // exchange, t17's rounds run over the word-TYPE table (which
      // grows far slower than the corpus), m07's decode+sign is
      // embarrassingly parallel with 16-byte outputs
      ("c01_kmeans_assign", true, operators.Clustering.c01KmeansAssign _),
      ("t17_bpe_merges", true, operators.TextAnalysis.t17BpeMerges _),
      ("m07_image_phash", true, operators.Media.m07ImagePhash _),
      // chunking is one projection + a bounded explode (claim: linear
      // in corpus tokens); p13 adds the chunk_md5-keyed doc-frequency
      // join + keep-first window on top (claim: stays ~linear — the
      // shuffle keys on content hashes, whose population grows with
      // the corpus, never a pair join)
      ("t25_chunk_windows", true, operators.TextAnalysis.t25ChunkWindows _),
      ("p13_rag_corpus", true, Pipeline.p13RagCorpus _),
      // mutual-kNN graph: the exact all-pairs candidate stage (the s13
      // gate) vs the same mutual filter over IVF candidates with a
      // corpus-scaled cell count (~512 vectors/cell, nprobe 4 → ~2k
      // scored candidates per query REGARDLESS of corpus size). The
      // mutual filter itself is bounded (k·N) either way — the curve
      // isolates the candidate generator.
      ("s13_mutual_exact", false,
        (s, d) => {
          val e = Tables.embeddings(s, d)
          operators.Similarity.mutualKnn(
            operators.Similarity.bruteForceKnn(e, e, 5, roundCosineTo = 9))
        }),
      ("s13_mutual_ivf", true,
        (s, d) => {
          val e = Tables.embeddings(s, d)
          val nlist = math.max(16, (e.count() / 512).toInt)
          operators.Similarity.mutualKnn(
            operators.Similarity.ivfKnn(e, e, 5, nlist = nlist, nprobe = 4))
        }),
      // semantic decontamination (d16): d13's pair stage restricted
      // cross-split — must inherit d13's completes-at-x100 behavior
      // (same generator, strictly smaller downstream)
      ("d16_semantic_decontam", true,
        operators.Dedup.d16SemanticDecontam _),
      // the same cross-only join at a LOOSER contamination bar — how
      // verified pair volume (and wall-clock) scales when the
      // threshold drops toward the LSH bucketing's discovery angle
      ("d16_decontam_t035", true,
        (s, d) => operators.Dedup.semanticDecontam(s, d, 0.35)),
      // p12 (round 12): the end-to-end pretrain job. The gate form's
      // stage 1 is the UNCAPPED jaccard pair join (oracle parity) —
      // quadratic onset at x100 per the d02 curve — so it sits on the
      // uncapped side; the capped twin engages the d08 hot-shingle cap
      // in stage 1 (pinned row-identical at gate SF, PipelineSpec) and
      // must stay off the d02 curve. Everything downstream (cross-only
      // decontam, two-phase rank) is shared and ~linear.
      ("p12_pretrain_uncapped", false, Pipeline.p12PretrainCorpus _),
      ("p12_pretrain_capped", true, Pipeline.p12PretrainCorpusCapped _),
      // the decontam stage band-at-a-time (round 15): x1000's ~466M
      // cross-only estimate / 6 chunks -> ~117M per chunk under the
      // 200M peak budget — the one refusal a real pre-train pipeline
      // would demand completed
      ("p12_pretrain_chunked", true,
        Pipeline.p12PretrainCorpusChunked(6) _),
      // persisted IVF (s17): the build-once/query-many decomposition.
      // The BUILD row pays the corpus-scaled fit + the cell-partitioned
      // write; the SEARCH row is a 20-query batch probing 4 cells each,
      // whose cost should stay ~flat while the corpus grows 100× —
      // that flatness IS the amortization claim. The search REQUIRES
      // its build in the same invocation: __s17_index survives under
      // /tmp/graft_scaling/x$r across runs while ScaleCorpus only
      // rewrites the tables, so a SCALING_ONLY=search run would
      // silently time a stale index against fresh embeddings.
      ("s17_ivf_index_build", true,
        (s, d) => {
          val e = Tables.embeddings(s, d)
          val nlist = math.max(16, (e.count() / 512).toInt)
          operators.Similarity.writeIvfIndex(e, s"$d/__s17_index", nlist)
          s17Built.add(d)
          s.read.parquet(s"$d/__s17_index/cells")
        }),
      ("s17_ivf_index_search", true,
        (s, d) => {
          require(s17Built.contains(d),
            s"s17_ivf_index_search at $d needs s17_ivf_index_build in " +
              "the SAME invocation (include it in SPARK_GRAFT_SCALING_ONLY)")
          val q = Tables.embeddings(s, d).filter(col("vec_id") < 20)
          operators.Similarity.ivfKnnFromIndex(q, s"$d/__s17_index", 5)
        }),
      // incremental maintenance (round 11): build the index on the
      // first 90% of ids (the standing corpus), then time ONLY the
      // append of the last 10% — held against s17_ivf_index_build
      // (the full fit+write): an append pays batch-sized assignment +
      // one new generation's files, never the fit or the old corpus.
      // The returned frame reads back just the appended generation
      // (partition-pruned), so the timing is the append, not a
      // full-corpus scan.
      ("s17_ivf_append_base", true,
        (s, d) => {
          val e = Tables.embeddings(s, d)
          val cut = e.agg(max(col("vec_id"))).head().getLong(0) * 9L / 10L
          val baseCorpus = e.filter(col("vec_id") < cut)
          val nlist = math.max(16, (baseCorpus.count() / 512).toInt)
          operators.Similarity.writeIvfIndex(
            baseCorpus, s"$d/__s17_append_index", nlist)
          appendBase.put(d, cut)
          s.read.parquet(s"$d/__s17_append_index/cells")
        }),
      ("s17_ivf_index_append", true,
        (s, d) => {
          require(appendBase.containsKey(d),
            s"s17_ivf_index_append at $d needs s17_ivf_append_base in " +
              "the SAME invocation (include it in SPARK_GRAFT_SCALING_ONLY)")
          val batch = Tables.embeddings(s, d)
            .filter(col("vec_id") >= appendBase.get(d))
          operators.Similarity.appendToIvfIndex(batch, s"$d/__s17_append_index")
          s.read.parquet(s"$d/__s17_append_index/cells")
            .filter(col("gen") === 1)
        }))

    // Second axis for queries over the TPC-H-shaped tables (the graph
    // family reads orders/lineitem, which ScaleCorpus does not scale):
    // SPARK_GRAFT_SCALING_SF_DIRS=dir1,dir2,... iterates REAL sf dirs
    // (sf0.001 → sf0.01 → sf0.1 spans 100×) and times the graph
    // queries there, skipping the corpus synthesis entirely.
    val sfDirAxis = sys.env.get("SPARK_GRAFT_SCALING_SF_DIRS")
    sfDirAxis.foreach { dirsCsv =>
      val graphRuns: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
        ("x01_pagerank", operators.Graph.x01Pagerank _),
        ("x02_triangles", operators.Graph.x02Triangles _),
        ("x03_bfs_hops", operators.Graph.x03BfsHops _),
        ("x06_star_components", operators.Graph.x06StarComponents _),
        // same rounds as x01 over the bucketed edge table — the curve
        // includes the one-time bucketed write each run pays
        ("x07_pagerank_bucketed", operators.Graph.x07PagerankBucketed _))
      for (dir <- dirsCsv.split(",").map(_.trim).filter(_.nonEmpty)) {
        val nOrders = spark.read.parquet(s"$dir/orders.parquet").count()
        val nLines = spark.read.parquet(s"$dir/lineitem.parquet").count()
        for ((name, fn) <- graphRuns if only.forall(_.contains(name))) {
          val sec = try time(fn(spark, dir)) catch {
            case e: Exception =>
              System.err.println(s"[scaling] $name@$dir failed: ${e.getMessage}")
              -1.0
          }
          println(s"""{"sfDir":"$dir","orders":$nOrders,"lineitem":$nLines,""" +
            s""""query":"$name","sec":${String.format(java.util.Locale.ROOT, "%.3f", Double.box(sec))}}""")
          System.out.flush()
        }
      }
    }

    val recallMode = sys.env.contains("SPARK_GRAFT_SCALING_RECALL")
    val streamMode = sys.env.contains("SPARK_GRAFT_SCALING_STREAM")
    val estMode = sys.env.contains("SPARK_GRAFT_SCALING_EST")
    for (r <- scales if sfDirAxis.isEmpty && estMode)
      estimationSuite(spark, base, r, only)
    for (r <- scales if sfDirAxis.isEmpty && recallMode && !estMode) {
      // SPARK_GRAFT_SCALING_TIGHT_PCT > 0 plants the tight-regime
      // near-dup population (ScaleCorpus.embeddings tightPct — per-id
      // cliques at cos ≈ 0.96-0.98) for RECALL_T ≈ 0.9 runs; written
      // to its own dir so a plain-corpus run never reads a tight one
      val tightPct = sys.env.get("SPARK_GRAFT_SCALING_TIGHT_PCT")
        .map(_.toInt).getOrElse(0)
      val dir = if (tightPct > 0) s"/tmp/graft_scaling/tight_x$r"
                else s"/tmp/graft_scaling/x$r"
      ScaleCorpus.write(base, dir, r, spark, tightPct)
      recallSuite(spark, dir, r, only)
    }
    for (r <- scales if sfDirAxis.isEmpty && streamMode && !recallMode
           && !estMode) {
      val dir = s"/tmp/graft_scaling/x$r"
      ScaleCorpus.write(base, dir, r, spark)
      streamSuite(spark, base, dir, r, only)
    }

    for (r <- scales if sfDirAxis.isEmpty && !recallMode && !streamMode
           && !estMode) {
      val dir = s"/tmp/graft_scaling/x$r"
      ScaleCorpus.write(base, dir, r, spark)
      val nDocs = Tables.documents(spark, dir).count()
      val nVecs = Tables.embeddings(spark, dir).count()
      for ((name, capped, fn) <- runs if only.forall(_.contains(name))) {
        val sec =
          if (!capped && skipUncapped.contains(r)) -1.0
          else try time(fn(spark, dir)) catch {
            case e: Exception =>
              System.err.println(s"[scaling] $name@x$r failed: ${e.getMessage}")
              -1.0
          }
        println(s"""{"scale":$r,"docs":$nDocs,"vecs":$nVecs,""" +
          s""""query":"$name","capped":$capped,"sec":${String.format(java.util.Locale.ROOT, "%.3f", Double.box(sec))}}""")
        System.out.flush()
      }
    }
    spark.stop()
  }
}
