package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.streaming.Staging
import graft.functions.VectorOps

/** Similarity search over the `embeddings` table: exact brute-force
  * cosine top-k (the correctness baseline), the approximate scale
  * paths — LSH buckets, IVF cells (flat, two-level, persisted,
  * OR-dial), int8 (SQ) and product (PQ) quantization and their IVF
  * compositions — and the retrieval shapes built on a ranking:
  * filtered, hybrid (token Jaccard + RRF), MMR and mutual kNN.
  *
  * Every kNN path is written from the same stage owners, so a change to
  * a stage is a one-site edit:
  *  - vector sides: [[querySide]] `(query_id, keep…, qv, qn)` and
  *    [[corpusSide]] `(neighbor_id, keep…, cv, cn)` — each embedding
  *    cast to doubles and its norm computed once per row;
  *  - per-query top-k: [[topKPerQuery]], the only per-query window;
  *    [[cosineTopK]] ranks pairs by cosine under the
  *    (cosine desc, neighbor_id) total order, and [[rankCandidates]] is
  *    the round-9 exact tail every ANN path ends in;
  *  - coarse, then rerank: [[rerank]] keeps each query's top
  *    rerankFactor·k by a coarse score — the int8 [[cosine8]] (scale:
  *    [[withMaxAbs]] / [[int8]]) or the PQ [[adcExpr]] — and re-ranks
  *    them exactly.
  *
  * Each `s*` gate's DuckDB oracle replays these stages in SQL; the
  * shared oracle fragments have `sql*` owners beside them.
  */
object Similarity {

  /** Typed pre-flight volume-budget refusal (round 15 — ADVICE: other
    * driver-side preconditions also throw IllegalArgumentException, so
    * harnesses matching on the bare type recorded genuine
    * misconfigurations as polite refusals). Subclasses
    * IllegalArgumentException so callers treating a refusal as an
    * invalid-argument error keep working; harnesses that must
    * distinguish (ScalingBench's refused-vs-failed rows) match on THIS
    * type. */
  final class VolumeBudgetExceeded(msg: String)
    extends IllegalArgumentException(msg)

  /** Exact top-k neighbors (cosine) for each query vector. Norms are
    * computed once per side (O(rows)) so the pair loop pays only the
    * dot product. */
  def bruteForceKnn(queries: DataFrame, corpus: DataFrame, k: Int,
                    roundCosineTo: Int = -1): DataFrame =
    // spread the query side across the shuffle width BEFORE the
    // all-pairs join (round 15): the N·|q| scoring + per-query top-k
    // sort pipelines directly on the query-side scan, whose parallelism
    // is the input's split count — one task on a single-row-group file,
    // i.e. the whole quadratic stage on one core (measured: s13's one
    // 3.9 s job). The shuffle moves only the narrow query projection.
    cosineTopK(graft.ScalePolicy.spread(querySide(queries), col("query_id"))
      .join(corpusSide(corpus), col("query_id") =!= col("neighbor_id")),
      k, roundCosineTo)

  // ---------------------------------------------------------------------------
  // ANN stage owners
  // ---------------------------------------------------------------------------

  /** The query side of every kNN join: (query_id, keep…, qv, qn) — the
    * embedding as doubles and its norm, computed once per row. */
  private def querySide(df: DataFrame, keep: String*): DataFrame =
    df.select((col("vec_id").as("query_id") +: keep.map(col) :+
      VectorOps.asDouble(col("embedding")).as("qv")): _*)
      .withColumn("qn", VectorOps.norm(col("qv")))

  /** The corpus side of every kNN join: (neighbor_id, keep…, cv, cn). */
  private def corpusSide(df: DataFrame, keep: String*): DataFrame =
    df.select((col("vec_id").as("neighbor_id") +: keep.map(col) :+
      VectorOps.asDouble(col("embedding")).as("cv")): _*)
      .withColumn("cn", VectorOps.norm(col("cv")))

  /** Each query's first `k` rows of `df` under `order`, numbered from 1
    * in column `rank` — the one per-query window of the kNN paths. */
  private def topKPerQuery(df: DataFrame, k: Int, rank: String)(order: Column*): DataFrame =
    df.withColumn(rank,
        row_number().over(Window.partitionBy(col("query_id")).orderBy(order: _*)))
      .filter(col(rank) <= k)

  /** Cosine top-k of (query, candidate) pairs that carry both sides'
    * vectors and norms: cosine rounded to `roundTo` decimals (unrounded
    * when negative), ranked under the (cosine desc, neighbor_id) total
    * order, output (query_id, rk, neighbor_id). */
  private def cosineTopK(pairs: DataFrame, k: Int, roundTo: Int): DataFrame = {
    val raw = VectorOps.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))
    topKPerQuery(pairs.withColumn("cosine", if (roundTo >= 0) round(raw, roundTo) else raw),
      k, "rk")(col("cosine").desc, col("neighbor_id"))
      .select(col("query_id"), col("rk"), col("neighbor_id"))
  }

  /** Shared exact-rerank tail of every ANN path: drop self-pairs, score
    * candidates by true cosine rounded to 9 decimals — the s08/s13
    * rank-stability convention, so the hash-gated IVF tails
    * (s04/s05/s17) rank bit-identically cross-engine — and keep the
    * top-k per query. Expects [[querySide]] and [[corpusSide]] columns. */
  private def rankCandidates(cands: DataFrame, k: Int): DataFrame =
    cosineTopK(cands.filter(col("query_id") =!= col("neighbor_id")), k, 9)

  /** Coarse, then rerank: keep each query's top `rerankFactor·k`
    * candidates of `coarse` by its coarse `score` order (neighbor-id
    * tiebreak), drop to the narrow id pairs, join the full-precision
    * sides `q` and `c` back by id — candidate-set-sized, the wide
    * doubles never enter the coarse join — and [[rankCandidates]]. */
  private def rerank(coarse: DataFrame, score: Column, k: Int, rerankFactor: Int,
                     q: DataFrame, c: DataFrame): DataFrame =
    rankCandidates(
      topKPerQuery(coarse, k * rerankFactor, "crk")(score, col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"))
        .join(q, Seq("query_id")).join(c, Seq("neighbor_id")), k)

  /** `df` with the one-row global max |x| of its vectors `v` broadcast
    * onto every row as `max_abs` — the int8 scale. greatest(…, ε): an
    * all-zero side would otherwise scale by ∞ and quantize to NaN→null
    * instead of harmless zeros. */
  private def withMaxAbs(df: DataFrame, v: Column): DataFrame =
    df.crossJoin(broadcast(df
      .select(array_max(transform(v, x => abs(x))).as("m"))
      .agg(greatest(max(col("m")), lit(1e-30)).as("max_abs"))))

  /** `v` quantized to int8 by the [[withMaxAbs]] scale. */
  private def int8(v: Column): Column =
    transform(v, x => round(x * (lit(127.0) / col("max_abs"))).cast("tinyint"))

  /** Coarse cosine over int8 sides (qv8/qn8, cv8/cn8), with the
    * zero-norm guard: a vector whose components all quantize to 0 has
    * norm 0, and 0/0 = NaN sorts ABOVE every real cosine under desc —
    * unguarded, enough such vectors fill the whole re-rank buffer with
    * garbage for every query. Score them below any true cosine instead. */
  private def cosine8: Column =
    when(col("qn8") === 0.0 || col("cn8") === 0.0, lit(-2.0))
      .otherwise(VectorOps.dot(col("qv8"), col("cv8")) / (col("qn8") * col("cn8")))

  /** Corpus with its LSH bucket id attached. The plane dimensionality
    * is probed from the data (one cheap first-row action) — a
    * hardcoded dim on mismatched embeddings would null every dot
    * product and silently funnel ALL rows into bucket 0, turning the
    * sub-linear path into a hidden cross join.
    *
    * Planes are the md5-derived ±1 family ([[VectorOps.md5Planes]],
    * round 12 — was seeded Gaussian), so the s02/s03 gates hash
    * against a DuckDB oracle that replays the identical buckets. */
  def annBuckets(emb: DataFrame, numPlanes: Int = 8,
                 tag: String = "ann"): DataFrame = {
    val probed = emb.select(size(col("embedding")).as("d"))
      .filter(col("d").isNotNull).head(1)
    val dim = if (probed.isEmpty) 1 else probed(0).getInt(0)
    val planes = VectorOps.md5Planes(numPlanes, dim, tag)
    emb.select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
      .withColumn("bucket", VectorOps.signBucket(col("v"), planes))
  }

  /** Approximate top-k: exact ranking restricted to the query's bucket,
    * plus `multiProbe` flip-1-bit neighbor buckets (standard multi-probe
    * LSH: a true neighbor differing on exactly one hyperplane sign is
    * still found). Probing b buckets multiplies candidate volume by ~b
    * while staying sub-linear in the corpus — the recall/compute dial.
    * multiProbe = 0 is single-probe; multiProbe = numPlanes probes every
    * hamming-1 bucket. */
  def annKnn(queries: DataFrame, corpus: DataFrame, k: Int,
             numPlanes: Int = 8, tag: String = "ann",
             multiProbe: Int = 0): DataFrame = {
    require(multiProbe >= 0 && multiProbe <= numPlanes)
    val qb0 = annBuckets(queries, numPlanes, tag)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("bucket"))
      .withColumn("qn", VectorOps.norm(col("qv")))
    // probe buckets are plain bit-twiddles on the query's own bucket id;
    // the corpus side stays single-bucketed so its shuffle key is unchanged
    val probes = col("bucket") +: (0 until multiProbe).map(i =>
      col("bucket").bitwiseXOR(lit(1L << i)))
    val qb = qb0.select(col("query_id"), col("qv"), col("qn"),
      explode(array(probes: _*)).as("bucket"))
    val cb = annBuckets(corpus, numPlanes, tag)
      .select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("bucket"))
      .withColumn("cn", VectorOps.norm(col("cv")))
    rankCandidates(qb.join(cb, Seq("bucket")), k)
  }

  /** Default candidate-volume budget of the IVF dials (round 13) —
    * the pre-flight affordability bar for [[ivfKnn]]'s OR-dial and
    * [[graft.operators.Dedup.embeddingNearDupPairsIVF]]. Candidate
    * volume is closed-form (pair generator: ~N·targetCell·spill²/2·q;
    * kNN: ~nQ·nprobe·(N/nlist)·q scored pairs) and this host's disk
    * walls were measured by dying (dev/scaling.md: at N = 50k the
    * generator DISK-OOM'd at 230M estimated pairs — spill 8, cell
    * 1024, and q = 5 shapes alike — while every ≤ 173M shape
    * completed). 200M sits between the worst survivor and the best
    * casualty; a run above the budget now REFUSES up front with the
    * estimate in the message instead of spending multi-hundred-second
    * doomed I/O. Callers with more disk (a real cluster spreads the
    * same volume across executors) raise or disable it per call. */
  val IvfCandidateVolumeBudget: Long = 200000000L

  /** [[ivfKnn]]'s own default budget — an order of magnitude looser.
    * The kNN path has NO measured wall: its candidates are narrow id
    * pairs re-joined conditionally (the 50k×50k wide-row spill failure
    * was designed out before the dial shipped), and the largest
    * measured-complete x100 point (nprobe 8, q = 2) already scores
    * ~412M candidates. 2G catches runaway dials (nprobe ≈ nlist over a
    * huge corpus) without refusing measured-good ones. */
  val IvfKnnCandidateVolumeBudget: Long = 2000000000L

  private[operators] def checkIvfVolume(estimate: Long, budget: Long,
                                        detail: String): Unit =
    if (estimate > budget) throw new VolumeBudgetExceeded(
      f"estimated candidate volume $estimate%,d exceeds the " +
        f"volume budget $budget%,d [$detail] — the measured single-host " +
        "walls sit at ~230M generated pairs / JVM-OOM at ~1.5G LSH " +
        "candidates (dev/scaling.md); shrink the dials " +
        "(spill/targetCell/nprobe/quantizers/bands/depth), or raise " +
        "volumeBudget if the backing store can absorb the spill")

  /** Codegen'd argmin-cell projection over LITERAL centroids — the
    * Clustering.assignCell shape: round(−2·v·c + |c|², 9) ranked with
    * the cell id as tie-break (a total order), |c|² precomputed to a
    * driver literal (custom expressions never constant-fold). No join,
    * no shuffle — one scan, k dots per row. */
  private def argminCellExpr(v: Column, cents: Array[Array[Double]]): Column =
    if (cents.length == 1) lit(0)
    else least(cents.toSeq.zipWithIndex.map { case (arr, i) =>
      var s = 0.0; var j = 0
      while (j < arr.length) { s += arr(j) * arr(j); j += 1 }
      struct(
        round(VectorOps.dot(v, array(arr.toSeq.map(lit): _*)) * lit(-2.0)
          + lit(s), 9).as("d"),
        lit(i).as("c"))
    }: _*).getField("c")

  /** Fit the coarse quantizer and assign every corpus vector to a cell
    * — the index-build step shared by [[ivfKnn]] and the s05 balance
    * diagnostics. Returns (cells: neighbor_id/cv/cn/cell, centroids:
    * cell/centroid/cn2 — nlist rows, broadcast side).
    *
    * The fit is the REPLAYABLE driver-local [[lloydFit]] over a
    * bounded id-ordered sample: quantizers are trained on a sample in
    * practice anyway (sample-then-fit), the id-ordered head keeps the
    * sample — and thus the centroids — identical across partitionings
    * AND engines, and assignment is a codegen'd literal projection
    * over the full corpus (no join, no shuffle). A distributed ML
    * KMeans fit was tried first and rejected twice over: partial-sum
    * merge order is task-completion-dependent (not bit-deterministic),
    * and k-means|| init is not SQL-replayable, which kept s05/s07/s10
    * rows-only.
    *
    * `orderMix` != 0 orders the fit sample by neighbor_id XOR the mix
    * (a tie-free bijection) — an INDEPENDENTLY initialized quantizer
    * over the same corpus, the [[ivfKnn]] OR-dial's source of
    * independence. 0 (every gate path) is the historical id order. */
  private[operators] def ivfIndex(corpus: DataFrame, nlist: Int,
                                  orderMix: Long = 0L): (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val c0 = corpusSide(corpus).drop("cn") // cells re-add cn after cell
    val sampleKey =
      if (orderMix == 0L) col("neighbor_id")
      else col("neighbor_id").bitwiseXOR(lit(orderMix))
    val sample = c0.orderBy(sampleKey)
      .limit(flatFitSampleRows(nlist))
      .select(col("cv")).as[Seq[Double]].collect().map(_.toArray)
    val cents = lloydFit(sample, nlist)
    val cells = c0
      .withColumn("cell", argminCellExpr(col("cv"), cents))
      .withColumn("cn", VectorOps.norm(col("cv")))
    val centroids = cents.toSeq.zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }.toDF("cell", "centroid")
      .withColumn("cn2", VectorOps.norm2(col("centroid")))
    (cells, centroids)
  }

  /** Fit-sample bound of the flat [[ivfIndex]] — mirrored in the s05
    * oracle chain. */
  private[operators] def flatFitSampleRows(nlist: Int): Int =
    math.max(nlist * 64, 1024)

  /** Both levels of the two-level fit: the k1-row coarse table, the
    * final cell table carrying its `coarse` parent — so assignment can
    * be HIERARCHICAL (rank k1 coarse centroids, then only the chosen
    * group's k2 subs: N·(k1+k2) scored pairs instead of N·nlist) —
    * and the (id, coarse) assignment the fit already computed over the
    * full corpus, so callers never pay the N·k1 coarse scoring pass a
    * second time. */
  private[operators] final case class TwoLevelIndex(
      coarse: DataFrame, cells: DataFrame, coarseAssign: DataFrame)

  private[operators] def twoLevelCentroids(pts: DataFrame, nlist: Int): DataFrame =
    twoLevelIndex(pts, nlist).cells.drop("coarse")

  /** TWO-LEVEL (hierarchical) centroid fit — the quantizer for cell
    * counts past what any bounded single fit can shape (~10⁵ cells,
    * the documented d14/s04 gap): a coarse k-means over a bounded
    * deterministic sample splits the corpus into ~√nlist groups, then
    * EACH group fits its own ~√nlist sub-centroids as one DISTRIBUTED
    * task (flatMapGroups over a per-group id-sorted bounded sample,
    * running the same deterministic in-task Lloyd the PQ codebooks
    * use). Fit work is spread over k1 parallel tasks of bounded size
    * instead of one driver loop whose cost grows with nlist — and
    * nothing downstream cares: the output is just a (cell, centroid,
    * cn2) table, and assignment/probe/candidate joins are indifferent
    * to which quantizer produced the cell ids.
    *
    * Determinism: coarse fit is a driver-local [[lloydFit]] over an
    * id-ordered bounded sample, coarse assignment argmin tie-broken on
    * cell id, per-group samples id-ranked, [[lloydFit]] iteration
    * order fixed — bit-identical across runs and partitionings
    * (pinned in SimilaritySpec).
    *
    * Empty coarse groups (possible when k1 exceeds the natural cluster
    * count) simply contribute no sub-centroids; cell ids stay unique
    * via the coarse·k2+j numbering. `pts` columns: (id, v). */
  private[operators] def twoLevelIndex(pts: DataFrame, nlist: Int): TwoLevelIndex = {
    val spark = pts.sparkSession
    import spark.implicits._
    // k1·k2 <= nlist ALWAYS: the cell count must not exceed the nominal
    // nlist, or nprobe = nlist stops being exhaustive and the
    // degenerates-to-exact contract (and its pins) breaks. The min
    // clamp covers nlist = 1 (k1 would floor to 2 and mint 2 cells).
    val (k1, k2) = twoLevelKs(nlist)
    // coarse fit runs DRIVER-LOCAL on the collected bounded sample
    // (same deterministic [[lloydFit]] the sub-fits and PQ codebooks
    // use): the sample is capped at 16384 rows regardless of corpus
    // size — the established bounded-fit-sample discipline — and an ML
    // KMeans over a coalesce(1) sample was single-threaded anyway
    // while paying one scheduler job PER ITERATION (the measured
    // d14/s04 fit overhead at gate SF; ~15 jobs for 10 iters)
    val coarseSample = pts.orderBy(col("id"))
      .limit(coarseFitSampleRows(k1))
      .select(col("v")).as[Seq[Double]].collect().map(_.toArray)
    val cents = lloydFit(coarseSample, k1)
    val coarseCentroids = cents.toSeq.zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }.toDF("coarse", "ccent")
      .withColumn("ccn2", VectorOps.norm2(col("ccent")))
    // coarse assignment is a PURE PROJECTION (the Clustering.assignCell
    // shape): the k1 centroids are driver-local, so the argmin — same
    // -2·dot + |c|² metric, lowest index on ties via least() over
    // (d, c) structs — runs as a codegen'd column expression over
    // literal centroid arrays instead of the former N×k1 crossJoin +
    // min(struct) shuffle + re-join. |c|² is precomputed to a literal
    // (a norm2 over a literal array is NOT constant-folded — custom
    // expressions aren't foldable — and would re-evaluate per row).
    // NOT checkpointed: each consumer re-runs one scan + k1 dots per
    // row over the caller's (already checkpointed) corpus frame —
    // cheaper at any scale than materializing a second full copy of
    // the corpus WITH its vectors. Very large k1 degrades codegen to
    // interpreted eval but stays shuffle-free.
    val assigned = pts
      .select(col("id"), col("v"), argminCellExpr(col("v"), cents).as("coarse"))
    // bounded per-group sample BEFORE grouping, so no task ever holds a
    // whole coarse group — then one sub-fit task per group
    val wS = Window.partitionBy(col("coarse")).orderBy(col("id"))
    val sample = assigned
      .withColumn("srk", row_number().over(wS))
      .filter(col("srk") <= subFitSampleRows(k2))
      .select(col("coarse"), col("id"), col("v"))
    val cells = sample
      .as[(Int, Long, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (coarse: Int, it: Iterator[(Int, Long, Seq[Double])]) =>
        val grp = it.toArray.sortBy(_._2).map(_._3.toArray)
        lloydFit(grp, k2).zipWithIndex.iterator
          .map { case (c, j) => (coarse * k2 + j, coarse, c.toSeq) }
      }
      .toDF("cell", "coarse", "centroid")
      .withColumn("cn2", VectorOps.norm2(col("centroid")))
    TwoLevelIndex(coarseCentroids, cells,
      assigned.select(col("id"), col("coarse")))
  }

  /** The two level counts of [[twoLevelIndex]] — shared with the s04
    * oracle chain generator so both derive from ONE formula. */
  private[operators] def twoLevelKs(nlist: Int): (Int, Int) = {
    val k1 = math.min(nlist,
      math.max(2, math.floor(math.sqrt(nlist.toDouble)).toInt))
    (k1, math.max(1, nlist / k1))
  }

  /** Fit-sample bounds — mirrored in the s04 oracle chain. */
  private[operators] def coarseFitSampleRows(k1: Int): Int =
    math.min(math.max(k1 * 64, 1024), 16384)
  private[operators] def subFitSampleRows(k2: Int): Int =
    math.max(k2 * 64, 256)

  /** [[ivfIndex]]'s shape (cells, centroids) built on the two-level
    * quantizer, with HIERARCHICAL assignment: each vector ranks the k1
    * coarse centroids, then only its chosen group's sub-centroids —
    * N·(k1+k2) scored pairs instead of N·nlist, and both argmins are
    * partial-aggregatable `min(struct(dist, id))` (no window sort of a
    * N·nlist frame). The standard multi-level-quantizer trade: a
    * boundary vector may land in a sub-cell that is not its GLOBAL
    * argmin cell — which shifts recall-at-defaults slightly (pinned),
    * and changes NOTHING about the exhaustive-probe==exact contract:
    * probing every cell covers the corpus regardless of which single
    * cell each vector sits in. */
  private[operators] def ivfIndexTwoLevel(corpus: DataFrame,
                                          nlist: Int): (DataFrame, DataFrame) = {
    val (cells, subs, _) = ivfIndexTwoLevelFull(corpus, nlist)
    (cells, subs)
  }

  /** [[ivfIndexTwoLevel]] plus the k1-row coarse centroid table — the
    * piece [[writeIvfIndex]] persists so [[appendToIvfIndex]] can
    * replay the hierarchical assignment on later batches without the
    * fit. */
  private[operators] def ivfIndexTwoLevelFull(
      corpus: DataFrame, nlist: Int): (DataFrame, DataFrame, DataFrame) = {
    val c0 = corpusSide(corpus).drop("cn")
    val idx = twoLevelIndex(
      c0.select(col("neighbor_id").as("id"), col("cv").as("v")), nlist)
    val subs = idx.cells.localCheckpoint(true) // assignment + probe ranking
    // the fit already scored every vector against the coarse level —
    // reuse its materialized (id, coarse) instead of recomputing N·k1
    val coarsePick = idx.coarseAssign.withColumnRenamed("id", "neighbor_id")
    val cells = assignToSubCells(c0.join(coarsePick, "neighbor_id"), subs)
    (cells, subs.drop("coarse"), idx.coarse)
  }

  /** The sub-cell argmin of the hierarchical assignment: expects
    * (neighbor_id, cv, coarse) rows and the (cell, coarse, centroid,
    * cn2) sub-centroid table; returns (neighbor_id, cv, cell, cn).
    * Round-9 distance, cell-id tie-break — the replayable total order.
    * Shared by the build and [[appendToIvfIndex]], so appended batches
    * land in EXACTLY the cell the build would have assigned. */
  private def assignToSubCells(withCoarse: DataFrame,
                               subs: DataFrame): DataFrame = {
    val cellPick = withCoarse
      .join(broadcast(subs), "coarse")
      .withColumn("cdist", round(
        VectorOps.dot(col("cv"), col("centroid")) * lit(-2.0) + col("cn2"), 9))
      .groupBy(col("neighbor_id"))
      .agg(min(struct(col("cdist"), col("cell"))).as("m"))
      .select(col("neighbor_id"), col("m.cell").as("cell"))
    withCoarse.select(col("neighbor_id"), col("cv"))
      .join(cellPick, "neighbor_id")
      .select(col("neighbor_id"), col("cv"), col("cell"))
      .withColumn("cn", VectorOps.norm(col("cv")))
  }

  /** IVF (inverted-file) approximate kNN — the second standard ANN
    * scale path next to LSH ([[annKnn]]), mirroring the public
    * IVF-Flat design: a k-means coarse quantizer (the replayable
    * [[lloydFit]], see [[ivfIndex]]) partitions the corpus into `nlist`
    * cells; each query probes its `nprobe` nearest centroids (by the
    * same Euclidean metric the fit assigns with) and exact-ranks only
    * those cells' vectors.
    *
    * Scale notes: the index is built once (the quantizer is fit on a
    * bounded sample), the corpus is shuffled once on cell id, and each
    * query touches nprobe/nlist of the corpus — the recall/compute
    * dial. `nprobe = nlist` degenerates to exact brute force, which the
    * ScalaTest pin exploits.
    *
    * `quantizers` > 1 (round 12) is the OR-dial the d14 recall curves
    * validated, applied to kNN: candidates are UNIONED across q
    * independently initialized quantizers (fit-sample order id XOR a
    * fixed mix — [[VectorOps.orMixConstants]]), deduped per
    * (query, neighbor), then exact-re-ranked as one pool. The top-k
    * over a candidate SUPERSET can only move toward the exact ranking
    * (anything displacing a true top-k hit is a better hit), so
    * per-query recall is monotone in q — pinned in SimilaritySpec.
    * quantizers = 1 (every gate) is the historical single-fit path.
    * Flat quantizer only: the OR-dial exists precisely for the regime
    * where nlist is still flat-fittable but recall needs compounding. */
  def ivfKnn(queries: DataFrame, corpus: DataFrame, k: Int,
             nlist: Int = 16, nprobe: Int = 4,
             twoLevel: Boolean = false,
             quantizers: Int = 1,
             volumeBudget: Long = IvfKnnCandidateVolumeBudget): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist)
    require(quantizers >= 1 && quantizers < VectorOps.orMixConstants.size,
      s"quantizers must be in [1, ${VectorOps.orMixConstants.size - 1}]")
    require(quantizers == 1 || !twoLevel,
      "the OR-dial composes with the flat quantizer only")
    val q = querySide(queries)
    if (quantizers == 1) {
      val (cells, centroids) =
        if (twoLevel) ivfIndexTwoLevel(corpus, nlist)
        else ivfIndex(corpus, nlist)
      rankCandidates(probeCells(q, centroids, nprobe).join(cells, Seq("cell")), k)
    } else {
      // pre-flight affordability (round 13): candidate volume is
      // closed-form — ~nQ·nprobe·(N/nlist)·q scored pairs — and the
      // disk walls were measured by dying (dev/scaling.md); refuse
      // BEFORE the fits rather than discover the wall mid-join.
      // BALANCED-CELL ASSUMPTION (round-14 ADVICE note): N/nlist is the
      // AVERAGE cell population — a skewed fit's hot cells can be
      // probed disproportionately often, so true volume can exceed the
      // estimate; the 10× headroom in IvfKnnCandidateVolumeBudget is
      // the mitigation, not a bound. When an index is already
      // materialized, max cell size would bound it exactly — but this
      // path fits fresh per call, so the estimate must precede the fit
      // by construction.
      val nCorpus0 = corpus.count()
      val nQ0 = queries.count()
      checkIvfVolume(
        nQ0 * nprobe.toLong * math.max(1L, nCorpus0 / nlist) * quantizers,
        volumeBudget,
        s"ivfKnn(nQ=$nQ0, N=$nCorpus0, nlist=$nlist, nprobe=$nprobe, " +
          s"quantizers=$quantizers)")
      // cross-quantizer dedup runs on NARROW (query, neighbor) id
      // pairs — 16 B/row — and the vectors re-join only for the
      // surviving pool (the d14 candidate-join discipline): deduping
      // rows that still carry both embedding arrays would shuffle
      // ~1 KB/candidate and was measured to exhaust the host's spill
      // disk at 50k×50k, q=2
      // spread (round 15): the deduped pair list is small in BYTES, so
      // AQE coalesces the distinct's output to one partition — and the
      // wide vector re-join + per-query rank below then run serially.
      // Hash width on query_id parallelizes the re-join and
      // pre-satisfies rankCandidates' window partitioning.
      // spread BELOW the distinct (round 16): hashpartitioning on
      // query_id — a subset of the distinct's (query_id, neighbor_id)
      // clustering keys — satisfies its required distribution, so the
      // dedup aggregate reuses the width-pinned exchange instead of
      // minting its own narrow one first (one exchange of the pair
      // list, was two back-to-back).
      val idPairs = graft.ScalePolicy.spread(
        (0 until quantizers).map { qi =>
          val (cells, centroids) =
            ivfIndex(corpus, nlist, VectorOps.orMixConstants(qi))
          probeCells(q.select(col("query_id"), col("qv")), centroids, nprobe)
            .join(cells, Seq("cell"))
            .select(col("query_id"), col("neighbor_id"))
        }.reduce(_ union _),
        col("query_id")).distinct()
      // vector re-join strategy is SIZE-CONDITIONAL (the probe-frame
      // rule at ivfKnnFromIndex): broadcast the vector tables while
      // they fit, so the pair fan-out PIPELINES through cosine+prune
      // and no wide row ever hits an exchange — a sort-merge plan here
      // sorts candidate-volume rows carrying a 64-double array each,
      // measured to exhaust the host's spill disk at 50k×50k q=2.
      // Past the bound, fall back to keyed shuffles of the (narrow)
      // pair list against corpus-sized vector tables.
      val vec = graft.ScalePolicy.vectorFrames
      rankCandidates(
        idPairs.join(vec.hint(nQ0)(q), Seq("query_id"))
          .join(vec.hint(nCorpus0)(corpusSide(corpus)), Seq("neighbor_id")), k)
    }
  }

  /** Centroid ranking shared by every IVF probe: argmin over
    * |q|² − 2·q·c + |c|², and |q|² is constant within a query's ranking
    * — rank by round(−2·q·c + |c|², 9) with the cell id tie-break (the
    * assignment's total order, so the probe set replays cross-engine).
    * Expects (query_id, qv[, qn]) × (cell, centroid, cn2). */
  private def probeCells(q: DataFrame, centroids: DataFrame,
                         nprobe: Int): DataFrame =
    // spread the QUERY frame, below the window (round 16): the round-15
    // form spread the probe OUTPUT, above the window — but a user
    // repartition directly over a window partitioned by the same key is
    // collapsed as redundant during planning, leaving only the window's
    // own ENSURE_REQUIREMENTS exchange, which AQE then coalesced to 1-2
    // partitions (probe rows are tiny in bytes) — and the cell-fan-out
    // candidate join + cosine scoring above it ran 1-2 tasks (the
    // measured 3.7 s s22 stage). Spreading the INPUT survives: the
    // centroid cross-scoring runs at the pinned width, the window's
    // ClusteredDistribution(query_id) is pre-satisfied by the
    // REPARTITION_BY_NUM partitioning (no ENSURE exchange minted, so
    // nothing for AQE to coalesce), and the BHJ candidate join + rank
    // above inherit the width. Also strictly fewer exchanged bytes:
    // nQ query rows move instead of nQ·nprobe probe rows.
    topKPerQuery(graft.ScalePolicy.spread(q, col("query_id"))
      .crossJoin(broadcast(centroids))
      .withColumn("d2p", round(
        VectorOps.dot(col("qv"), col("centroid")) * lit(-2.0) + col("cn2"), 9)),
      nprobe, "crk")(col("d2p"), col("cell"))
      .select((q.columns.map(col) :+ col("cell")).toIndexedSeq: _*)

  /** Commit metadata of a persisted IVF index — the content of the
    * `_graft_ivf_commit` marker. `gen` is the highest COMMITTED
    * generation: cells files live under `gen=<g>/cell=<c>` partitions
    * and a reader only trusts `gen <= meta.gen`, which is what makes
    * [[appendToIvfIndex]] snapshot-consistent (files of an in-flight
    * append are invisible until the marker advances). */
  final case class IvfMeta(nlist: Int, k1: Int, k2: Int, gen: Int)

  private def ivfMetaPath(indexDir: String) =
    java.nio.file.Paths.get(s"$indexDir/_graft_ivf_commit")

  private[operators] def readIvfMeta(indexDir: String): IvfMeta = {
    val p = ivfMetaPath(indexDir)
    require(java.nio.file.Files.exists(p),
      s"ivf index at $indexDir has no commit marker — a build crashed " +
        "mid-write (or never ran, or a maintenance swap is in flight); " +
        "re-run writeIvfIndex / maintainIvfIndex before searching")
    val kv = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      .trim.split("\\s+").map(_.split("=")).map(a => a(0) -> a(1).toInt).toMap
    IvfMeta(kv("nlist"), kv("k1"), kv("k2"), kv("gen"))
  }

  /** Marker write is ATOMIC (temp file + ATOMIC_MOVE): the marker is
    * the commit point of both the initial build and every append. */
  private def writeIvfMeta(indexDir: String, m: IvfMeta): Unit = {
    val p = ivfMetaPath(indexDir)
    val tmp = java.nio.file.Paths.get(s"$indexDir/_graft_ivf_commit.__tmp__")
    java.nio.file.Files.write(tmp,
      s"nlist=${m.nlist} k1=${m.k1} k2=${m.k2} gen=${m.gen}".getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Build the IVF index ONCE into the warehouse (the vector-DB shape
    * [[graft.streaming.IngestDedup]] already proved for the LSH dedup
    * index): the assigned-cells table written PARTITIONED BY
    * (gen, cell), the sub-centroid table and the k1-row COARSE centroid
    * table beside it (the stored quantizer [[appendToIvfIndex]] replays
    * on later batches). Every later query batch loads these and
    * searches WITHOUT re-fitting — the fit cost (and its determinism
    * dials) is paid at index-build time, amortized over every query
    * until the corpus outgrows the quantizer (then [[maintainIvfIndex]]
    * re-fits, the v30 `rebucketIndex` precedent).
    *
    * Partitioning by cell is the point: [[ivfKnnFromIndex]] filters
    * the scan to the batch's probed cells on the PARTITION COLUMN, so
    * only those cells' files are listed and read — at a billion
    * vectors in 4096 cells, a 20-query batch probing 4 cells each
    * touches ≤80 partition directories, not the corpus
    * (`SimilaritySpec` pins the files-read metric). The `gen` partition
    * level above it is the append/commit unit — bounded by append
    * count, compactable by [[maintainIvfIndex]]'s re-fit. */
  def writeIvfIndex(corpus: DataFrame, indexDir: String, nlist: Int = 16): Unit = {
    // Torn-rebuild protection (the v30 rebucketIndex meta-last
    // precedent): cells/centroids/coarse are separate overwrites, and a
    // crash between them would pair NEW assignments with OLD centroids
    // — silently wrong neighbors. The commit marker is deleted FIRST
    // and written LAST (atomically), so any torn state has no marker
    // and [[ivfKnnFromIndex]] refuses loudly instead of searching it.
    java.nio.file.Files.deleteIfExists(ivfMetaPath(indexDir))
    val (cells, centroids, coarse) = ivfIndexTwoLevelFull(corpus, nlist)
    graft.sources.Warehouse.writePartitioned(
      cells.withColumn("gen", lit(0)), s"$indexDir/cells", Seq("gen", "cell"))
    centroids.coalesce(1).write.mode("overwrite")
      .parquet(s"$indexDir/centroids")
    coarse.coalesce(1).write.mode("overwrite")
      .parquet(s"$indexDir/coarse")
    val (k1, k2) = twoLevelKs(nlist)
    writeIvfMeta(indexDir, IvfMeta(nlist, k1, k2, gen = 0))
  }

  /** Append a batch of new vectors to a persisted index WITHOUT
    * re-fitting — the maintenance op a real vector store runs between
    * re-fits: the batch is assigned with the STORED quantizer (the
    * coarse argmin over the persisted k1 coarse centroids, then the
    * sub-cell argmin within the chosen group — [[assignToSubCells]],
    * the build's own arithmetic, so an appended vector lands in
    * exactly the cell the build would have put it) and lands as new
    * files under the NEXT generation's (gen, cell) partitions.
    *
    * Snapshot consistency: a search concurrent with an append sees
    * either the old corpus or old+batch, never a torn half-batch —
    * readers filter `gen <= marker.gen` and the marker only advances
    * (atomic move) AFTER every batch file is written. A crashed append
    * leaves invisible orphan files under the uncommitted generation;
    * re-running the append overwrites that generation's partitions
    * (idempotent by generation number).
    *
    * What appends do NOT do is adapt the quantizer — cell sizes drift
    * as the appended distribution shifts, which is [[maintainIvfIndex]]'s
    * trigger to re-fit. Batching-invariance (one append == two halves)
    * and search-over-append == exact-at-full-probe are pinned in
    * SimilaritySpec. */
  def appendToIvfIndex(batch: DataFrame, indexDir: String): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val meta = readIvfMeta(indexDir)
    val newGen = meta.gen + 1
    val coarseCents = spark.read.parquet(s"$indexDir/coarse")
      .orderBy(col("coarse")).select(col("ccent"))
      .as[Seq[Double]].collect().map(_.toArray)
    // sub-centroid table with its coarse parent re-derived from the
    // cell numbering (cell = coarse·k2 + j — writeIvfIndex's contract)
    val subs = spark.read.parquet(s"$indexDir/centroids")
      .withColumn("coarse", (col("cell") / lit(meta.k2)).cast("int"))
    val withCoarse = corpusSide(batch).drop("cn").withColumn("coarse",
      argminCellExpr(col("cv"), coarseCents))
    val cells = assignToSubCells(withCoarse, subs)
      .withColumn("gen", lit(newGen))
      // materialized BEFORE the orphan sweep below deletes the dir a
      // lazy plan could otherwise still be reading its own inputs from
      .localCheckpoint(true)
    // sweep any UNCOMMITTED leftovers of this generation first: a
    // crashed append retried with a DIFFERENT batch would otherwise
    // leave the old attempt's files in cell partitions the new batch
    // doesn't touch — invisible now, silently visible the moment the
    // marker advances. (Dynamic overwrite alone only replaces the
    // partitions the NEW batch writes.)
    val genDir = new org.apache.hadoop.fs.Path(s"$indexDir/cells/gen=$newGen")
    val fs = genDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(genDir)) fs.delete(genDir, true)
    // dynamic partition overwrite of ONLY this generation's partitions:
    // idempotent re-append after a crash, appends never touch committed
    // generations' files
    cells.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("gen", "cell")
      .parquet(s"$indexDir/cells")
    writeIvfMeta(indexDir, meta.copy(gen = newGen)) // the commit point
  }

  /** Cell-balance maintenance: if appends have drifted any cell past
    * `maxSkew`× the mean population, re-fit the whole quantizer from
    * the index's OWN stored vectors and swap the index move-aside-
    * atomically (the rebucketIndex protocol) — one idempotent batch
    * job, generations compacted back to a single gen=0. Returns true
    * iff a re-fit ran. A search hitting the swap window finds no
    * marker and refuses loudly rather than reading a torn index; a
    * crash BETWEEN the two renames (indexDir itself missing) is
    * detected and completed/rolled back at the next maintain entry by
    * [[repairTornSwap]] — committed staging finishes the swap,
    * uncommitted staging restores the moved-aside dir. `nlist` defaults
    * to corpus-scaled (~512 vectors/cell, the s15/s17 convention) so a
    * grown corpus also gets a GROWN cell count out of the same
    * trigger. */
  def maintainIvfIndex(spark: SparkSession, indexDir: String,
                       maxSkew: Double = 4.0,
                       nlist: Option[Int] = None): Boolean = {
    repairTornSwap(spark, indexDir)
    val meta = readIvfMeta(indexDir)
    val cells = spark.read.parquet(s"$indexDir/cells")
      .filter(col("gen") <= meta.gen)
    val pops = cells.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .agg(sum(col("n")).as("total"), max(col("n")).as("biggest")).head()
    val (total, biggest) = (pops.getLong(0), pops.getLong(1))
    if (biggest.toDouble <= maxSkew * (total.toDouble / meta.nlist)) false
    else {
      val corpus = cells
        .select(col("neighbor_id").as("vec_id"), col("cv").as("embedding"))
      val newNlist = nlist.getOrElse(
        math.max(meta.nlist, (total / 512L).toInt))
      import org.apache.hadoop.fs.Path
      val cur = new Path(indexDir)
      val tmp = new Path(s"$indexDir.__refit__")
      val aside = new Path(s"$indexDir.__old__")
      val fs = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(tmp)) fs.delete(tmp, true) // leftover of a torn run
      writeIvfIndex(corpus.localCheckpoint(true), tmp.toString, newNlist)
      if (fs.exists(aside)) fs.delete(aside, true)
      require(fs.rename(cur, aside), s"maintain: move-aside $cur failed")
      try require(fs.rename(tmp, cur), s"maintain: rename $tmp -> $cur failed")
      catch {
        case e: Throwable =>
          if (!fs.exists(cur) && fs.exists(aside)) fs.rename(aside, cur)
          throw e
      }
      fs.delete(aside, true)
      true
    }
  }

  /** Finish or roll back a maintenance swap that crashed BETWEEN the
    * two renames: after rename(cur→aside) succeeds and the JVM dies
    * before rename(tmp→cur), `indexDir` itself is gone — a bare re-run
    * would throw at [[readIvfMeta]] and even searches can't proceed,
    * because the corpus lives in the moved-aside dir. Recovery is
    * decided by the refit staging dir's OWN commit marker
    * (writeIvfIndex writes it last, atomically): a committed
    * `<dir>.__refit__` is a complete new index — finish the swap; an
    * uncommitted one is torn — roll the `<dir>.__old__` copy back and
    * discard the staging. Both arms are idempotent (pure renames), so
    * a crash inside the repair just repairs again. No-op whenever
    * `indexDir` exists. */
  private def repairTornSwap(spark: SparkSession, indexDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val cur = new Path(indexDir)
    val fs = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(cur)) return
    val tmp = new Path(s"$indexDir.__refit__")
    val aside = new Path(s"$indexDir.__old__")
    val tmpCommitted =
      fs.exists(new Path(s"$indexDir.__refit__/_graft_ivf_commit"))
    if (tmpCommitted) {
      // the refit finished — the crash lost only the final rename
      require(fs.rename(tmp, cur), s"maintain repair: $tmp -> $cur failed")
      if (fs.exists(aside)) fs.delete(aside, true)
    } else if (fs.exists(aside)) {
      // refit never committed: the moved-aside index is still the truth
      require(fs.rename(aside, cur), s"maintain repair: $aside -> $cur failed")
      if (fs.exists(tmp)) fs.delete(tmp, true)
    }
    // neither exists: no index was ever built here — fall through to
    // readIvfMeta's loud no-commit-marker error
  }

  /** Search a [[writeIvfIndex]] index: rank the stored centroids per
    * query (broadcast — nlist rows), probe `nprobe` cells through the
    * partition-column equi-join, exact cosine inside. No fit, no
    * corpus scan, bit-identical to [[ivfKnn]] with the same dials
    * (same quantizer output, same probe arithmetic — pinned).
    *
    * Partition pruning is EXPLICIT: the batch's probed-cell set
    * (bounded by nlist — the w09 file-list boundedness argument) is
    * collected and applied as a static IN filter on the partition
    * column, so the cells scan lists only probed cell= directories —
    * guaranteed, metric-pinned in SimilaritySpec. Dynamic partition
    * pruning was tried first and measured a no-op here: under AQE the
    * planted DPP filter degenerated to `dynamicpruningexpression
    * (true)` and the scan read every partition regardless of join
    * build side — right answer, zero pruning. A deterministic
    * metadata-cost filter beats a planner heuristic the operator
    * can't rely on. */
  def ivfKnnFromIndex(queries: DataFrame, indexDir: String, k: Int,
                      nprobe: Int = 4,
                      volumeBudget: Long = IvfKnnCandidateVolumeBudget): DataFrame = {
    val meta = readIvfMeta(indexDir)
    val spark = queries.sparkSession
    val centroids = spark.read.parquet(s"$indexDir/centroids")
    // gen <= marker: the snapshot filter that makes concurrent appends
    // invisible until their commit point (a partition-column filter —
    // uncommitted generations' directories are pruned, never read)
    val cells = spark.read.parquet(s"$indexDir/cells")
      .filter(col("gen") <= meta.gen)
    // materialized once: consumed by the cell-set pull AND the join;
    // its row count sizes the broadcast below
    val probedCp = graft.ScalePolicy.checkpoint(
      probeCells(querySide(queries), centroids, nprobe))
    val probed = probedCp.frame
    val probedCells = probed.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted // bounded by nlist
    val pruned = cells.filter(col("cell")
      .isin(probedCells.map(Int.box).toIndexedSeq: _*))
    // EXACT volume bound (round 15, closing the round-14 ADVICE note):
    // unlike the fresh-fit ivfKnn path — which must estimate with the
    // balanced N/nlist BEFORE any fit exists — a materialized index
    // already knows its true per-cell populations, so the pre-flight
    // sums the ACTUAL sizes of exactly the (query, cell) probes: a
    // skew-proof bound, not a balanced-cell guess (a hot cell probed
    // by every query is charged at its real population). Cost: one
    // count-aggregate over the pruned cell partitions (parquet
    // metadata-cheap) — the established pre-flight price.
    val cellSizes = pruned.groupBy(col("cell")).agg(count(lit(1)).as("csz"))
    val exactVolume = probed.select(col("query_id"), col("cell"))
      .join(cellSizes, Seq("cell"))
      .agg(coalesce(sum(col("csz")), lit(0L))).head().getLong(0)
    checkIvfVolume(exactVolume, volumeBudget,
      s"ivfKnnFromIndex($indexDir, nprobe=$nprobe — EXACT bound from " +
        "stored cell sizes; shrink nprobe/the query batch, or split " +
        "the batch")
    // the probe frame carries query VECTORS: broadcast only while it
    // fits, else a keyed shuffle of the pruned cells
    val hint = graft.ScalePolicy.vectorFrames.hint(probedCp.rows)
    rankCandidates(hint(probed).join(pruned, Seq("cell")), k)
  }

  /** Int8 scalar quantization + exact re-rank — the memory/IO scale
    * path orthogonal to bucketing: the corpus is stored and SHUFFLED as
    * `array<tinyint>` (4× smaller than float32, 8× than the double
    * compute form), the coarse ranking runs on the quantized vectors,
    * and only the top `rerankFactor·k` candidates per query pay an
    * exact re-score against the full-precision vectors (fetched by id —
    * the wide doubles never enter the candidate-generation join).
    * Cosine is scale-invariant, so the shared global scale factor
    * cancels and the coarse scores differ from the true ones only by
    * int8 rounding — the re-rank buffer absorbs that (recall vs exact
    * pinned in SimilaritySpec).
    *
    * The global max|x| the scale derives from is a 1-row broadcast
    * (no driver action — the plan stays lazy); at 100 TB you would
    * compute it on a sample once and persist it with the index.
    *
    * NOTE: the coarse stage here is still O(queries × corpus) —
    * quantization cuts bytes per pair, not pair count. It is the
    * oracle-friendly baseline for the quantization semantics; the
    * 100 TB path is [[ivfSqKnn]], which runs the identical int8
    * scoring inside probed IVF cells (sub-linear candidates). */
  def quantized(emb: DataFrame, idAs: String): DataFrame = {
    val v = VectorOps.asDouble(col("embedding"))
    withMaxAbs(emb, v).select(col("vec_id").as(idAs), int8(v).as("qvec"))
  }

  def quantizedKnn(queries: DataFrame, corpus: DataFrame, k: Int,
                   rerankFactor: Int = 4): DataFrame = {
    val q8 = quantized(queries, "query_id")
      .select(col("query_id"), VectorOps.asDouble(col("qvec")).as("qv8"))
      .withColumn("qn8", VectorOps.norm(col("qv8")))
    val c8 = quantized(corpus, "neighbor_id")
      .select(col("neighbor_id"), VectorOps.asDouble(col("qvec")).as("cv8"))
      .withColumn("cn8", VectorOps.norm(col("cv8")))
    rerank(q8.join(c8, col("query_id") =!= col("neighbor_id")).withColumn("cosine8", cosine8),
      col("cosine8").desc, k, rerankFactor, querySide(queries), corpusSide(corpus))
  }

  /** IVF-SQ: int8 scalar quantization INSIDE IVF cells — the
    * composition that fixes [[quantizedKnn]]'s O(queries × corpus)
    * coarse stage. The corpus is partitioned into `nlist` k-means cells
    * once ([[ivfIndex]]); each query probes its `nprobe` nearest
    * centroids; the coarse int8 scoring then runs as a plain equi-join
    * on cell id — candidates are cell-bucketed, never all-pairs — and
    * only the top `rerankFactor·k` survivors per query pay the exact
    * full-precision re-score. This is the IVF-SQ layout of the public
    * inverted-file ANN literature: cells bound the candidates
    * (nprobe/nlist of the corpus per query), quantization bounds the
    * bytes each candidate costs (4× vs float32, 8× vs the double
    * compute form).
    *
    * Quantization scales are per-side 1-row broadcasts; cosine is
    * scale-invariant per vector pair, so independent query/corpus
    * scales cancel exactly and the coarse ranking differs from true
    * cosine only by int8 rounding — absorbed by the re-rank buffer
    * (recall vs exact pinned in SimilaritySpec). */
  def ivfSqKnn(queries: DataFrame, corpus: DataFrame, k: Int,
               nlist: Int = 16, nprobe: Int = 4,
               rerankFactor: Int = 4): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist)
    val (cells, centroids) = ivfIndex(corpus, nlist)

    // quantized cell vectors: this is the frame the candidate join
    // shuffles — array<tinyint> payload, keyed by cell
    val c8 = withMaxAbs(cells, col("cv"))
      .select(col("cell"), col("neighbor_id"),
        VectorOps.asDouble(int8(col("cv"))).as("cv8"))
      .withColumn("cn8", VectorOps.norm(col("cv8")))

    val q = querySide(queries)
    val q8 = withMaxAbs(q, col("qv"))
      .select(col("query_id"), VectorOps.asDouble(int8(col("qv"))).as("qv8"))
      .withColumn("qn8", VectorOps.norm(col("qv8")))

    // probe: rank centroids per query — nlist-row broadcast, as ivfKnn
    val probed = probeCells(q.select(col("query_id"), col("qv")),
      centroids, nprobe).select(col("query_id"), col("cell"))

    // coarse stage: equi-join on cell — the int8 scoring only ever sees
    // (query, probed-cell-member) pairs
    val coarse = probed
      .join(q8, Seq("query_id"))
      .join(c8, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine8", cosine8)
    rerank(coarse, col("cosine8").desc, k, rerankFactor, q, corpusSide(corpus))
  }

  // ---------------------------------------------------------------------------
  // Product quantization (PQ-ADC)
  // ---------------------------------------------------------------------------

  /** Unit-normalize with a zero-norm guard (zero vectors stay zero,
    * instead of going NaN and poisoning every downstream argmin). */
  private def unitize(v: Column, n: Column): Column =
    when(n > 0.0, transform(v, x => x / n)).otherwise(v)

  /** Per-subspace k-means codebooks for product quantization: `m`
    * codebooks of `ksub` centroids, each over a dim/m slice of the
    * UNIT-NORMALIZED vector (so squared-L2 ADC ranks like cosine:
    * ‖a−b‖² = 2 − 2·cos on the unit sphere). The fit follows
    * [[ivfIndex]]'s determinism recipe — id-ordered bounded sample,
    * fixed per-subspace seed, in-driver [[lloydFit]] — so the codebooks
    * (and every code derived from them) are identical across runs and
    * partitionings. Returns codebooks(s)(j) = centroid j of subspace
    * s; subspace width is dim/m. */
  private[operators] def pqCodebooks(corpus: DataFrame, m: Int,
                                     ksub: Int): Array[Array[Array[Double]]] = {
    val probed = corpus.select(size(col("embedding")).as("d"))
      .filter(col("d").isNotNull).head(1)
    val dim = if (probed.isEmpty) m else probed(0).getInt(0)
    require(dim % m == 0, s"dim $dim does not divide into $m subspaces")
    val dsub = dim / m
    // ONE bounded collect of the id-ordered unit-normalized sample; the
    // m per-subspace fits then run as in-driver Lloyd iterations over
    // slices of it. Fitting each subspace as a separate ML KMeans job
    // costed m × ~20 scheduler round-trips on a ≤1024-row frame —
    // measured as ~10 of s09's 12.8 s at sf0.1 — for work that is
    // ~20M flops. The sample stays deliberately bounded (the d14
    // fit-sample lesson: never let the fit grow with the corpus); past
    // ~10⁵ sample rows the deployed form is the distributed fit, as the
    // ivfIndex doc already prescribes.
    // ordered by the kept vec_id (the unused neighbor_id alias is pruned)
    val sample: Array[Array[Double]] = corpusSide(corpus, "vec_id")
      .withColumn("nv", unitize(col("cv"), col("cn")))
      .orderBy(col("vec_id"))
      .limit(math.max(ksub * 64, 1024))
      .select(col("nv")).collect()
      .map(_.getSeq[Double](0).toArray)
    (0 until m).toArray.map { s =>
      lloydFit(sample.map(v =>
        java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub)), ksub)
    }
  }

  /** Round half-away-from-zero at 9 decimals via the decimal hop —
    * bit-identical to Spark's `round(col, 9)` (both go through
    * BigDecimal.valueOf + HALF_UP) and gate-proven against DuckDB's
    * ROUND by the c01 chain on this very table.
    *
    * Fast path: when x·10⁹'s fractional part is provably far from the
    * .5 tie (beyond the combined double-multiply + shortest-repr error
    * envelope, ~|y|·2⁻⁵¹ ≪ the 1e-14 guard), the rounding DECISION is
    * identical in double and decimal arithmetic, and z/1e9 (z an exact
    * ≤2⁵³ integer, 1e9 exact) is the correctly-rounded double of the
    * exact decimal z·10⁻⁹ — the same double BigDecimal.doubleValue
    * returns. Only near-tie values (probability ~1e-14 per call) pay
    * the BigDecimal hop. This is the lloydFit inner-loop cost driver:
    * the PQ fits call it m·ksub·sample·iters ≈ 2.6M times. */
  private[graft] def r9(x: Double): Double = {
    // non-finite passthrough, matching Spark's Round semantics: without
    // it a single NaN/±Inf embedding coordinate skips the fast path
    // (comparisons false) and BigDecimal.valueOf(x) throws an opaque
    // NumberFormatException out of the driver-local fit
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) return x
    if (x == 0.0) return 0.0 // normalize -0.0 like BigDecimal does
    val y = x * 1e9
    val ay = math.abs(y)
    if (ay < 4.5e15) { // f, f+1 exactly representable; tol meaningful
      val f = math.floor(y)
      val frac = y - f
      if (math.abs(frac - 0.5) > math.max(1e-9, ay * 1e-14))
        return (if (frac > 0.5) f + 1.0 else f) / 1e9
    }
    java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue
  }

  /** REPLAYABLE in-driver Lloyd's over a bounded id-ordered sample —
    * the [[graft.operators.Clustering]] cross-engine discipline applied
    * to the quantizer fit, so a DuckDB WITH-chain can re-derive every
    * centroid and the IVF gates hash-gate (s04/s05/s17) instead of
    * rows-only:
    *  - init: the first min(k, n) sample points (sample is id-ordered —
    *    no RNG, no seed state);
    *  - assignment: argmin over round(−2·p·c + |c|², 9) with ties to
    *    the lowest centroid index (|p|² is constant per point and
    *    dropped; rounding absorbs sub-ulp accumulation skew between
    *    engines — the RoundingBoundarySpec caveat applies);
    *  - update: per-dimension means as EXACT decimal(18,12) sums
    *    (each value rounded to 12 decimals first — Spark/DuckDB's
    *    double→decimal cast), surfaced through the decimal→string→
    *    double hop and rounded to 9 (the [[graft.functions.DecimalSums]]
    *    string-hop, driver-local); an emptied centroid keeps its
    *    previous value;
    *  - fixed iteration count ([[lloydIters]]): convergence loops
    *    diverge the moment the engines disagree once.
    * Iteration order over the (id-ordered) sample is fixed, so the
    * result is identical across runs and partitionings — and across
    * ENGINES, which the old seeded-shuffle init could never be. */
  private[operators] val lloydIters = 10

  private[operators] def lloydFit(pts: Array[Array[Double]],
                                  k: Int): Array[Array[Double]] = {
    import java.math.{BigDecimal => JBD, RoundingMode}
    require(pts.nonEmpty, "empty fit sample")
    val dim = pts(0).length
    val kEff = math.min(k, pts.length)
    val cents = Array.tabulate(kEff)(i => pts(i).clone)
    val cn2 = new Array[Double](kEff)
    val cnts = new Array[Long](kEff)
    // the decimal(18,12) cast of each coordinate is iteration-invariant
    // — converting inside the loop was the measured cost driver of the
    // PQ fits (m × ksub × sample × iters conversions)
    val pts12: Array[Array[JBD]] = pts.map(_.map(x =>
      JBD.valueOf(x).setScale(12, RoundingMode.HALF_UP)))
    for (_ <- 0 until lloydIters) {
      var c = 0
      while (c < kEff) {
        var s = 0.0; var j = 0
        while (j < dim) { s += cents(c)(j) * cents(c)(j); j += 1 }
        cn2(c) = s; c += 1
      }
      java.util.Arrays.fill(cnts, 0L)
      val sums = Array.fill(kEff, dim)(JBD.ZERO)
      var pi = 0
      while (pi < pts.length) {
        val p = pts(pi)
        var best = 0; var bestD = Double.MaxValue
        var ci = 0
        while (ci < kEff) {
          var dot = 0.0; var j = 0
          while (j < dim) { dot += p(j) * cents(ci)(j); j += 1 }
          val d = r9(-2.0 * dot + cn2(ci))
          if (d < bestD) { bestD = d; best = ci }
          ci += 1
        }
        val p12 = pts12(pi)
        var j = 0
        while (j < dim) {
          sums(best)(j) = sums(best)(j).add(p12(j))
          j += 1
        }
        cnts(best) += 1
        pi += 1
      }
      var c2 = 0
      while (c2 < kEff) {
        if (cnts(c2) > 0) {
          var j = 0
          while (j < dim) {
            cents(c2)(j) = r9(sums(c2)(j).toPlainString.toDouble / cnts(c2))
            j += 1
          }
        }
        c2 += 1
      }
    }
    cents
  }

  /** Distance-to-centroid ranking term for one literal centroid:
    * −2·x·c + ‖c‖² (the ‖x‖² term is constant across a subspace's
    * codes and dropped). Shared by the encode argmin and the query
    * lookup tables, so both sides score against bit-identical
    * expressions. */
  private def pqScore(sub: Column, cj: Array[Double]): Column =
    VectorOps.dot(sub, array(cj.map(lit).toIndexedSeq: _*)) * lit(-2.0) +
      lit(cj.map(x => x * x).sum)

  /** Replace every vector by its `m` codebook codes `__c0..__c{m-1}`
    * (argmin squared distance per subspace, least-index tiebreak via
    * array_position's first-match semantics). Each subvector is
    * materialized through a projection once; the per-code scoring then
    * reads a plain column (the HOF-recompute rule). The output frame
    * is (id, m small ints) — the wide doubles never leave the encode
    * projection, which is the point: this is the frame the pair scan
    * streams. */
  private def pqEncode(emb: DataFrame, cb: Array[Array[Array[Double]]]): DataFrame = {
    val m = cb.length
    val dsub = cb(0)(0).length
    val subs = corpusSide(emb)
      .withColumn("nv", unitize(col("cv"), col("cn")))
      .select((col("neighbor_id") +: (0 until m).map(s =>
        slice(col("nv"), s * dsub + 1, dsub).as(s"__sub$s"))): _*)
    subs.select((col("neighbor_id") +: (0 until m).map { s =>
      val scores = array(cb(s).toIndexedSeq.map(cj =>
        pqScore(col(s"__sub$s"), cj)): _*)
      (array_position(scores, array_min(scores)) - 1)
        .cast("int").as(s"__c$s")
    }): _*)
  }

  /** Per-query ADC lookup tables against shared codebooks:
    * __lut{s}[j] = −2·q_s·c_{s,j} + ‖c_{s,j}‖² (‖q_s‖² is constant
    * within a query's ranking and dropped). Carries qv/qn alongside so
    * the exact re-rank tail can join back without re-deriving them. */
  private def pqLuts(queries: DataFrame,
                     cb: Array[Array[Array[Double]]]): DataFrame = {
    val m = cb.length
    val dsub = cb(0)(0).length
    val q = querySide(queries)
      .withColumn("nv", unitize(col("qv"), col("qn")))
      .select((Seq(col("query_id"), col("qv"), col("qn")) ++
        (0 until m).map(s =>
          slice(col("nv"), s * dsub + 1, dsub).as(s"__sub$s"))): _*)
    q.select(
      (Seq(col("query_id"), col("qv"), col("qn")) ++ (0 until m).map { s =>
        array(cb(s).toIndexedSeq.map(cj =>
          pqScore(col(s"__sub$s"), cj)): _*).as(s"__lut$s")
      }): _*)
  }

  /** The ADC distance: m fixed-order lookups summed — expects the
    * __lut{s} columns from [[pqLuts]] and the __c{s} codes from
    * [[pqEncode]] on the same row. */
  private def adcExpr(m: Int): Column =
    (0 until m).map(s =>
      element_at(col(s"__lut$s"), col(s"__c$s") + 1)).reduce(_ + _)

  /** PQ geometry of [[pqKnn]] and [[ivfPqKnn]]: `pqM` subspaces of
    * `pqKsub` centroids each. */
  private val pqM = 8
  private val pqKsub = 32

  /** PQ-ADC kNN: the query stays full precision, every corpus vector
    * is replaced by its m codebook codes, and each scored pair costs m
    * table lookups into the query's per-subspace lookup tables (built
    * once per query against the shared codebooks: lut_s[j] =
    * −2·q_s·c_{s,j} + ‖c_{s,j}‖²). This is [[quantizedKnn]]'s
    * compression story taken further — 64 doubles (512 B) per corpus
    * vector become m=8 ints, a ~64× shrink of the frame the pair loop
    * streams, and the per-pair FLOPs drop from a dim-wide dot to m adds
    * — and like s06 it is an all-pairs scan BY DESIGN: PQ cuts bytes
    * and FLOPs per pair, not pair count. Cell pruning is IVF's job
    * ([[ivfSqKnn]]); composing the two (IVF-PQ) drops this ADC
    * expression into the cell-bucketed candidate join unchanged.
    *
    * The top rerankFactor·k ADC survivors per query pay an exact
    * full-precision cosine re-rank ([[rankCandidates]]), which absorbs
    * quantization error. Recall vs exact at defaults is pinned in
    * SimilaritySpec; rerank depth ≥ corpus degenerates to exact brute
    * force (also pinned). */
  def pqKnn(queries: DataFrame, corpus: DataFrame, k: Int,
            rerankFactor: Int = 8): DataFrame = {
    require(rerankFactor >= 1)
    val m = pqM
    val cb = pqCodebooks(corpus, m, pqKsub)
    val codes = pqEncode(corpus, cb)
    val luts = pqLuts(queries, cb)

    // coarse ADC scan: narrow LUT side × narrow code side; the adc sum
    // is a fixed-order chain of m lookups, deterministic per pair
    val coarse = luts
      .select((col("query_id") +: (0 until m).map(s => col(s"__lut$s"))): _*)
      .join(codes, col("query_id") =!= col("neighbor_id"))
      .withColumn("__adc", adcExpr(m))
    rerank(coarse, col("__adc"), k, rerankFactor,
      luts.select(col("query_id"), col("qv"), col("qn")), corpusSide(corpus))
  }

  /** IVF-PQ: the inverted-file/product-quantization composition the
    * large-scale ANN literature deploys — IVF's k-means cells bound the
    * pair COUNT (each query meets only its nprobe probed cells' members,
    * through a cell equi-join, never all-pairs), PQ's codes bound the
    * pair COST (m lookups over an m-int frame instead of a dim-wide dot
    * over 512 B of doubles). [[ivfSqKnn]] composed cells with int8
    * rows; this swaps the int8 coarse scoring for the ADC expression —
    * which drops into the cell-bucketed candidate join unchanged, as
    * promised at [[pqKnn]]. The codebooks here are global (fit on the
    * unit-normalized corpus, not per-cell residuals): residual PQ buys
    * accuracy when cells are tight, but costs a per-cell codebook
    * broadcast; at these cell counts the exact re-rank buffer absorbs
    * the difference (recall floor pinned in SimilaritySpec).
    *
    * Exhaustive probe (nprobe = nlist) + a corpus-deep re-rank buffer
    * degenerates to exact brute force — pinned, as s07. */
  def ivfPqKnn(queries: DataFrame, corpus: DataFrame, k: Int,
               nlist: Int = 16, nprobe: Int = 4,
               rerankFactor: Int = 8): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist)
    val (cells, centroids) = ivfIndex(corpus, nlist)
    val m = pqM
    val cb = pqCodebooks(corpus, m, pqKsub)
    // the candidate-join payload: (cell, id, m codes) — cell keys the
    // shuffle, the codes are all the coarse stage ever reads
    val codes = pqEncode(corpus, cb)
      .join(cells.select(col("neighbor_id"), col("cell")), Seq("neighbor_id"))
    val luts = pqLuts(queries, cb)

    // probe: rank centroids per query — nlist-row broadcast, as ivfKnn
    val probed = probeCells(luts.select(col("query_id"), col("qv")),
      centroids, nprobe).select(col("query_id"), col("cell"))

    val coarse = probed
      .join(luts.select((col("query_id") +:
        (0 until m).map(s => col(s"__lut$s"))): _*), Seq("query_id"))
      .join(codes, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__adc", adcExpr(m))
    rerank(coarse, col("__adc"), k, rerankFactor,
      luts.select(col("query_id"), col("qv"), col("qn")), corpusSide(corpus))
  }

  // ---------------------------------------------------------------------------
  // Hybrid retrieval (lexical + vector, reciprocal-rank fusion)
  // ---------------------------------------------------------------------------

  /** Exact token-set-Jaccard top-k per query document — the lexical
    * side of hybrid retrieval. One distinct (doc, token) posting frame
    * per side, one equi-join on the token (the d02 posting-list shape:
    * sub-quadratic because only docs sharing a token ever meet), one
    * count aggregate, then a per-query rank. Jaccard is an exact
    * integer ratio, so ranks are engine-stable with the neighbor-id
    * tiebreak. At 100 TB the corpus side gets the d08 hot-token cap
    * (drop stopword-grade tokens from the posting join) — recall is
    * unaffected for ranking purposes because a token shared by half
    * the corpus carries no discriminative weight. */
  def tokenJaccardKnn(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    def postings(df: DataFrame, idAs: String) = df
      .select(col("doc_id").as(idAs),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
    def sizes(df: DataFrame, idAs: String, nAs: String) = df
      .select(col("doc_id").as(idAs),
        size(array_distinct(split(col("text"), " "))).as(nAs))
    val inter = postings(queries, "query_id")
      .join(postings(corpus, "neighbor_id"), Seq("tok"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(count(lit(1)).as("inter"))
    val scored = inter
      .join(sizes(queries, "query_id", "qn"), Seq("query_id"))
      .join(sizes(corpus, "neighbor_id", "cn"), Seq("neighbor_id"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("qn") + col("cn") - col("inter")).cast("double"))
    topKPerQuery(scored, k, "rk")(col("jaccard").desc, col("neighbor_id"))
      .select(col("query_id"), col("rk"), col("neighbor_id"))
  }

  /** Reciprocal-rank fusion of two (query_id, rk, neighbor_id)
    * rankings: score = Σ 1/(c + rank) over the lists the candidate
    * appears in (the standard RRF constant c = 60). A full-outer join
    * on (query, candidate) keeps single-list candidates; the fused
    * ranks are integer-derived doubles, so the result hash-gates.
    * Scale: both inputs are already top-k-per-query (bounded), so the
    * join and the final rank window touch k·|queries| rows, never the
    * corpus. */
  def rrfFuse(vector: DataFrame, lexical: DataFrame, k: Int): DataFrame = {
    val c = 60
    val v = vector.withColumnRenamed("rk", "vrk")
    val l = lexical.withColumnRenamed("rk", "lrk")
    val fused = v.join(l, Seq("query_id", "neighbor_id"), "full_outer")
      .withColumn("score",
        coalesce(lit(1.0) / (lit(c) + col("vrk")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("lrk")), lit(0.0)))
    topKPerQuery(fused, k, "rk")(col("score").desc, col("neighbor_id"))
      .select(col("query_id"), col("rk"), col("neighbor_id"))
  }

  // ---------------------------------------------------------------------------
  // Gate queries
  // ---------------------------------------------------------------------------

  /** Exact top-5 for the first 20 vectors. Rank-only output: ids are
    * integers, so the hash compare is immune to last-ulp cosine noise. */
  def s01KnnBruteForce(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    bruteForceKnn(emb.filter(col("vec_id") < 20), emb, 5)
      .orderBy(col("query_id"), col("rk"))
  }

  val s01Sql: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      |           FROM embeddings WHERE vec_id < 20),
      |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
      |      FROM embeddings),
      |scored AS (
      |  SELECT query_id, neighbor_id,
      |         list_cosine_similarity(qv, cv) AS cosine
      |  FROM q JOIN c ON query_id <> neighbor_id)
      |SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |             ORDER BY cosine DESC, neighbor_id) AS rk
      |      FROM scored) t
      |WHERE rk <= 5
      |ORDER BY query_id, rk""".stripMargin

  /** LSH-bucketed ANN for the same queries, HASH-GATED (round 12):
    * the planes are the md5-derived ±1 family, so the oracle replays
    * bucketing, the full hamming-1 multi-probe fan-out, and the
    * round-9 cosine rank — the approximate ANSWER ITSELF is pinned
    * cross-engine, not just its row count (recall vs s01 additionally
    * pinned in ScalaTest). Full multi-probe: the corpus here is small
    * relative to bucket count, so probing buys recall at negligible
    * candidate cost. */
  def s02KnnAnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    annKnn(emb.filter(col("vec_id") < 20), emb, 5, multiProbe = 8)
      .orderBy(col("query_id"), col("rk"))
  }

  /** Oracle planes: the SAME md5 ±1 family the queries bucket with.
    * The oracle text pins dim = 64 (every test table's embedding
    * width); the Spark side probes the dim at runtime and agrees on
    * all driver data. */
  private def annOraclePlanes: Seq[Seq[Double]] =
    graft.functions.VectorOps.md5Planes(8, 64, "ann")

  val s02Sql: String = {
    import graft.functions.VectorOps.sqlSignBucket
    // probe masks: the query's own bucket (0) + one flipped bit each
    val masks = (Seq(0L) ++ (0 until 8).map(i => 1L << i))
      .map(m => s"($m)").mkString(", ")
    s"""WITH emb AS MATERIALIZED (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cb AS MATERIALIZED (
       |  SELECT vec_id, ${sqlSignBucket("v", annOraclePlanes)} AS bucket
       |  FROM emb),
       |q AS (SELECT vec_id AS query_id, bucket FROM cb WHERE vec_id < 20),
       |probes AS (
       |  SELECT q.query_id, xor(q.bucket, CAST(p.m AS BIGINT)) AS bucket
       |  FROM q CROSS JOIN (VALUES $masks) p(m)),
       |cand AS (
       |  SELECT p.query_id, c.vec_id AS neighbor_id
       |  FROM probes p JOIN cb c USING (bucket)
       |  WHERE c.vec_id <> p.query_id),
       |scored AS (
       |  SELECT c.query_id, c.neighbor_id,
       |         ${sqlCosine9("eq.v", "en.v")} AS cosine
       |  FROM cand c
       |  JOIN emb eq ON eq.vec_id = c.query_id
       |  JOIN emb en ON en.vec_id = c.neighbor_id)
       |SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |             ORDER BY cosine DESC, neighbor_id) AS rk
       |      FROM scored) t
       |WHERE rk <= 5
       |ORDER BY query_id, rk""".stripMargin
  }

  /** IVF ANN for the same queries, HASH-GATED (round 11): the gate
    * runs on the TWO-LEVEL quantizer ([[twoLevelIndex]]) — the form
    * whose fit stays distributed past ~10⁵ cells — and since the fit
    * became the replayable [[lloydFit]] (first-k id-ordered init,
    * round-9 argmin, decimal string-hop means), the DuckDB oracle
    * re-derives BOTH levels through generated Lloyd chains
    * ([[s04Sql]]), replays the hierarchical cell assignment, the probe
    * ranking, and the final cosine top-5 — rank-only output, the
    * s01/s13 discipline. Exhaustive-probe == exact and
    * recall-at-default stay pinned in SimilaritySpec. */
  def s04KnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    ivfKnn(emb.filter(col("vec_id") < 20), emb, 5, twoLevel = true)
      .orderBy(col("query_id"), col("rk"))
  }

  /** s17 — the same search as s04, but from a PERSISTED index: built
    * once into a warehouse directory ([[writeIvfIndex]]), then searched
    * with no fit and no corpus scan ([[ivfKnnFromIndex]]) — the
    * build-once/query-many lifecycle every real vector store runs.
    * HASH-GATED like s04 (round 11) against the SAME generated Lloyd
    * replay — the round trip is pinned bit-identical to the in-memory
    * s04 path in SimilaritySpec, so one oracle covers both, and a
    * persist/reload defect now breaks a hash, not just a pin.
    * SimilaritySpec also pins full-probe-from-index == exact and the
    * EXPLICIT probed-cell partition pruning on the files-read METRIC
    * (one probe reads one of 16 partition files — never a plan-string
    * pin; see [[ivfKnnFromIndex]] for why DPP was rejected). */
  def s17KnnIvfPersisted(spark: SparkSession, dir: String): DataFrame =
    Staging.scratch("s17") { scratch =>
      val base = s"$scratch/idx"
      val emb = Tables.embeddings(spark, dir)
      writeIvfIndex(emb, base)
      ivfKnnFromIndex(emb.filter(col("vec_id") < 20), base, 5)
        .orderBy(col("query_id"), col("rk"))
    }

  /** s18 — the APPEND LIFECYCLE of the persisted index, hash-gated:
    * build on the first ~90% of ids ([[writeIvfIndex]] — the standing
    * corpus), [[appendToIvfIndex]] the last ~10% with the STORED
    * quantizer (no re-fit), then search the committed union
    * ([[ivfKnnFromIndex]]). The oracle ([[s18Sql]]) re-derives the
    * quantizer through the same generated Lloyd chains as s04 but over
    * the BUILD subset only, then assigns EVERY vector — including the
    * appended ones — hierarchically with that stored quantizer, which
    * is precisely the append contract. A defect anywhere in the
    * lifecycle (fit leaking appended rows, append re-fitting, a torn
    * generation, assignment drift between build and append) moves the
    * searched neighbor set and breaks the hash. Batching-invariance
    * and orphan-sweep stay ScalaTest-pinned (SimilaritySpec); this
    * gate makes the lifecycle itself a judged query. */
  def s18KnnIvfAppend(spark: SparkSession, dir: String): DataFrame =
    Staging.scratch("s18") { scratch =>
      val base = s"$scratch/idx"
      val emb = Tables.embeddings(spark, dir)
      // the same 90% cut the oracle computes: FLOOR(0.9·N) on the
      // (0-based contiguous) vec_id space
      val cut = math.floor(0.9 * emb.count()).toLong
      writeIvfIndex(emb.filter(col("vec_id") < cut), base)
      appendToIvfIndex(emb.filter(col("vec_id") >= cut), base)
      ivfKnnFromIndex(emb.filter(col("vec_id") < 20), base, 5)
        .orderBy(col("query_id"), col("rk"))
    }

  /** s20 — the MAINTENANCE lifecycle of the persisted index,
    * hash-gated: build on the first ~90% of ids, append the rest
    * (s18's lifecycle), then FORCE a drift re-fit
    * ([[maintainIvfIndex]] with maxSkew 0 — any populated cell trips
    * the trigger) and search the swapped-in index. The re-fit fits the
    * stored-quantizer corpus read back from the index's own cells —
    * every committed generation, compacted to gen=0 — through the same
    * deterministic two-level fit a fresh build runs, and the fit
    * sample is id-ordered, so a correct maintenance pass is
    * BIT-IDENTICAL to building once over the full corpus: the oracle
    * is [[s04Sql]] itself. A defect anywhere (a vector lost or
    * duplicated across append+compaction, a re-fit seeing a stale
    * generation, a torn swap leaving the old quantizer, double
    * float→double conversion skewing stored vectors) moves the
    * neighbor set and breaks the hash. The swap-crash repair and
    * drift-trigger threshold stay ScalaTest-pinned (SimilaritySpec);
    * this gate makes the re-fit path itself a judged query. */
  def s20KnnIvfMaintain(spark: SparkSession, dir: String): DataFrame =
    Staging.scratch("s20") { scratch =>
      // maintenance renames the index dir itself, so it is a subdir
      val base = s"$scratch/idx"
      val emb = Tables.embeddings(spark, dir)
      val cut = math.floor(0.9 * emb.count()).toLong
      writeIvfIndex(emb.filter(col("vec_id") < cut), base)
      appendToIvfIndex(emb.filter(col("vec_id") >= cut), base)
      val refit = maintainIvfIndex(spark, base, maxSkew = 0.0,
        nlist = Some(16))
      require(refit, "s20: the forced maintenance re-fit did not run")
      ivfKnnFromIndex(emb.filter(col("vec_id") < 20), base, 5)
        .orderBy(col("query_id"), col("rk"))
    }

  /** s19 — the multi-quantizer OR-dial ([[ivfKnn]] `quantizers = 2`)
    * as a judged query, HASH-GATED: candidates are unioned across two
    * INDEPENDENTLY initialized flat quantizers (fit-sample order
    * vec_id XOR [[VectorOps.orMixConstants]](1)), deduped, and
    * exact-re-ranked — the recall dial dev/scaling.md measured to
    * 0.38→0.62→0.76 at x100 where every other single-host dial topped
    * out. Both fits are the replayable [[lloydFit]], and XOR is the
    * same two's-complement operation in both engines, so the oracle
    * ([[s19Sql]]) re-derives BOTH quantizers through generated Lloyd
    * chains over their mixed-order samples, replays both probe sets,
    * unions/dedups the candidate pairs, and re-ranks — a drift
    * anywhere (a fit seeing the wrong sample order, a lost arm, a
    * dedup miss double-counting a pair) moves the neighbor set and
    * breaks the hash. Recall monotonicity in q and q=1 ≡ the
    * historical path stay pinned in SimilaritySpec. */
  def s19KnnIvfOrDial(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    ivfKnn(emb.filter(col("vec_id") < 20), emb, 5, nlist = 16, nprobe = 4,
      quantizers = 2)
      .orderBy(col("query_id"), col("rk"))
  }

  /** s21 — the mutual-kNN graph over the OR-dial candidate generator:
    * s15's composition with [[ivfKnn]] `quantizers = 2` — the point
    * dev/scaling.md's s15×quantizers curve motivated (quantizer
    * diversity beats deeper probing per cell probed: nprobe 4 × q3
    * matches nprobe 8 × q2's edge recall at 44% of its wall-clock).
    * HASH-GATED: [[mutualKnn]] composes with any top-k ranking by
    * construction, and every piece of this one already replays —
    * the oracle ([[s21Sql]]) is s19's two-arm Lloyd-chain replay with
    * the query frame widened to the whole corpus, re-ranked to top-5,
    * then s13/s15's column-swap mutual filter. A drift anywhere (an
    * arm's fit, the candidate union/dedup, the re-rank, the mutual
    * join) moves the edge set and breaks the hash. Edge-recall
    * monotonicity in q stays measured in the scaling suite
    * (dev/scaling.md), not pinned here — the gate pins that both
    * engines make the SAME approximation. */
  def s21MutualKnnOrDial(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    mutualKnn(ivfKnn(emb, emb, 5, nlist = 16, nprobe = 4, quantizers = 2))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** s22 — s21's composition with the round-14 POOL-DEPTH dial
    * ([[mutualKnnPooled]], P = 10, k = 5): the directed OR-dial lists
    * go twice as deep, the pool is symmetrized, and the top-5 cut
    * happens on the pooled exact re-rank. Same dials as s21 otherwise,
    * so the two gates bracket the dial. HASH-GATED: every stage of the
    * pooling (the deeper rk ≤ P cut, the swap-union, the round-9
    * re-rank, the mutual filter) is the same replayable arithmetic as
    * s21's — both engines make the SAME approximation. Recall-vs-P
    * curves live in dev/scaling.md; monotonicity is pinned in
    * SimilaritySpec. */
  def s22MutualKnnPooled(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    mutualKnnPooled(emb,
      ivfKnn(emb, emb, 10, nlist = 16, nprobe = 4, quantizers = 2), 5)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** s23 — CROSS-GENERATOR pooling (round 15): s22's symmetrized pool
    * widened with the banded md5-plane LSH generator's verified pairs
    * ([[Dedup.embeddingNearDupPairsLSH]] at d07's exact dials) before
    * the exact re-rank. The round-14 measurement left a pure DISCOVERY
    * residual in the tight regime — exact edges neither endpoint's IVF
    * probes found, which no pool depth can recover — while the banded
    * LSH generator discovers exactly those pairs (recall 1 at
    * cos ≥ 0.9, dev/scaling.md round 13) through an independent
    * mechanism (hyperplane sign agreement vs centroid-cell sharing).
    * Soundness is [[mutualKnnPooled]]'s own superset argument: an
    * exact edge's endpoints rank ≤ k in ANY candidate pool containing
    * them, so unioning a second generator's pairs never loses an edge
    * — exact∩s23 ⊇ exact∩s22, pinned in SimilaritySpec. HASH-GATED:
    * the composition is s22's chain with one more pool arm, and that
    * arm is d07's already-replayable bucket arms ([[Dedup.d07Sql]]'s
    * literal planes, single owner) — the oracle ([[s23Sql]]) unions
    * the verified LSH pairs into the pool CTE and re-runs s22's tail
    * verbatim. Scale shape: the extra arm adds verified-pair id rows
    * to a pool that is already ≤ 2·P·N narrow pairs; the generator
    * itself is the budgeted, bucketed d07/d13 path — no new quadratic
    * anywhere. */
  def s23MutualKnnCrossPool(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val directed = ivfKnn(emb, emb, 10, nlist = 16, nprobe = 4,
      quantizers = 2)
      .select(col("query_id"), col("neighbor_id"))
    val lshPairs = Dedup.embeddingNearDupPairsLSH(emb, 0.45,
      md5Tag = Some("d07"))
      .select(col("id_a").as("query_id"), col("id_b").as("neighbor_id"))
    mutualKnnPooled(emb, directed.union(lshPairs), 5)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** s23's oracle: s22's chain with the d07 bucket arms' verified
    * pairs unioned into the pool CTE — both generators replayed, same
    * tail. */
  val s23Sql: String = {
    val arms = (0 until 2)
      .map(qi => orDialArmSql(VectorOps.orMixConstants(qi), s"g${qi}_"))
    s"""WITH emb AS MATERIALIZED (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS MATERIALIZED (
       |  SELECT vec_id AS query_id, v AS qv FROM emb),
       |${arms.mkString(",\n")},
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT query_id, neighbor_id FROM (
       |    SELECT * FROM g0_cand UNION ALL SELECT * FROM g1_cand)),
       |dir AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT c.query_id, c.neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY c.query_id ORDER BY
       |             ${sqlCosine9("eq.v", "en.v")} DESC,
       |             c.neighbor_id) AS rk
       |    FROM cand c JOIN emb eq ON eq.vec_id = c.query_id
       |    JOIN emb en ON en.vec_id = c.neighbor_id) t
       |  WHERE rk <= 10),
       |lshb AS MATERIALIZED (
       |${Dedup.lshBucketArmsSql()}),
       |lshp AS MATERIALIZED (
       |  SELECT c.id_a AS query_id, c.id_b AS neighbor_id
       |  FROM (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |        FROM lshb a JOIN lshb b
       |          ON a.band = b.band AND a.bucket = b.bucket
       |         AND a.vec_id < b.vec_id) c
       |  JOIN emb ea ON ea.vec_id = c.id_a
       |  JOIN emb eb ON eb.vec_id = c.id_b
       |  WHERE list_cosine_similarity(ea.v, eb.v) >= 0.45),
       |pool AS MATERIALIZED (
       |  SELECT DISTINCT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id FROM dir
       |    UNION ALL SELECT neighbor_id AS query_id, query_id AS neighbor_id
       |    FROM dir
       |    UNION ALL SELECT query_id, neighbor_id FROM lshp
       |    UNION ALL SELECT neighbor_id AS query_id, query_id AS neighbor_id
       |    FROM lshp)),
       |knn AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, rk FROM (
       |    SELECT p.query_id, p.neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
       |             ${sqlCosine9("eq.v", "en.v")} DESC,
       |             p.neighbor_id) AS rk
       |    FROM pool p JOIN emb eq ON eq.vec_id = p.query_id
       |    JOIN emb en ON en.vec_id = p.neighbor_id) t
       |  WHERE rk <= 5)
       |${sqlMutualPairs("query_id", "neighbor_id")}""".stripMargin
  }

  /** Corpus bucket histogram — exercises the bucketing shape the
    * 100 TB path shuffles on. HASH-GATED (round 12): the md5 ±1
    * planes replay in SQL, so every vector's bucket id is pinned
    * cross-engine, not just the histogram's row count. */
  def s03AnnBucketProfile(spark: SparkSession, dir: String): DataFrame =
    annBuckets(Tables.embeddings(spark, dir))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("vec_count"))
      .orderBy(col("bucket"))

  val s03Sql: String = {
    import graft.functions.VectorOps.sqlSignBucket
    s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
       |SELECT ${sqlSignBucket("v", annOraclePlanes)} AS bucket,
       |       COUNT(*) AS vec_count
       |FROM emb
       |GROUP BY bucket
       |ORDER BY bucket""".stripMargin
  }

  /** s05 — IVF index health: per cell, population and mean
    * centroid-distance, HASH-GATED since the fit became the replayable
    * [[lloydFit]]: the oracle re-derives the 16 centroids through the
    * generated Lloyd chain ([[s05Sql]]) and replays every vector's cell
    * — one disagreement anywhere in the fit breaks the gate. The
    * balance numbers are what an operator tunes nlist/nprobe by — one
    * empty or monster cell means the probe budget is mis-spent. The
    * per-vector distance rounds to 9 (the assignment discipline) and
    * the mean runs in exact decimal(18,8) through the string-hop, so
    * the profile is bit-identical across thread counts AND engines. */
  def s05IvfCellProfile(spark: SparkSession, dir: String): DataFrame = {
    val (cells, centroids) = ivfIndex(Tables.embeddings(spark, dir), 16)
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val D8 = DecimalType(18, 8)
    cells.join(broadcast(centroids), Seq("cell"))
      .withColumn("dist", round(
        sqrt(greatest(
          col("cn") * col("cn") -
            VectorOps.dot(col("cv"), col("centroid")) * lit(2.0) + col("cn2"),
          lit(0.0))), 9))
      .groupBy(col("cell"))
      .agg(
        count(lit(1)).as("vec_count"),
        round(graft.functions.DecimalSums.asDouble(sum(col("dist").cast(D8))) /
          count(lit(1)).cast(DoubleType), 6).as("avg_centroid_dist"))
      .orderBy(col("cell"))
  }

  // ---------------------------------------------------------------------------
  // Generated Lloyd-replay oracles (s04 / s05 / s17)
  // ---------------------------------------------------------------------------

  /** ROUND(−2·v·c + |c|², 9) — the assignment/probe distance term, the
    * c01 chain's expression verbatim. Shared with the d14 oracle
    * ([[graft.operators.Dedup.d14Sql]]). */
  private[operators] def sqlDist(v: String, c: String): String =
    s"ROUND(-2 * list_inner_product($v, $c) + " +
      s"list_inner_product($c, $c), 9)"

  /** The one Lloyd SQL generator: a `rounds`-round [[lloydFit]] (or
    * [[Clustering.kmeansFit]]) replay as DuckDB CTEs over `src`
    * (columns vec_id, v — already the id-ordered bounded sample):
    * {pfx}cent0 … {pfx}cent{rounds}. Mirrors the driver loop literally:
    * first-k init in id order, per-round argmin over [[sqlDist]] with
    * the lowest cell id on ties (MIN over a (d, c) struct), exact
    * decimal(18,12) means through the string-hop rounded to 9,
    * empty-cell carry-forward. Every CTE name is `pfx`-prefixed so
    * several fits can coexist inside one WITH. */
  private[operators] def lloydChainSql(src: String, k: Int, pfx: String,
                                       rounds: Int = lloydIters): String = {
    val roundCtes = (1 to rounds).map { i =>
      s"""${pfx}a$i AS MATERIALIZED (
         |  SELECT vec_id, (MIN({'d': ${sqlDist("s.v", "ct.clist")}, 'c': ct.cell})).c AS cell
         |  FROM $src s CROSS JOIN ${pfx}cent${i - 1} ct
         |  GROUP BY vec_id),
         |${pfx}m$i AS MATERIALIZED (
         |  SELECT a.cell, dd.d,
         |    ROUND(CAST(CAST(SUM(CAST(s.v[dd.d] AS DECIMAL(18,12))) AS VARCHAR)
         |               AS DOUBLE) / COUNT(*), 9) AS mu
         |  FROM $src s JOIN ${pfx}a$i a USING (vec_id)
         |  CROSS JOIN LATERAL (SELECT unnest(range(1, len(s.v) + 1)) AS d) dd
         |  GROUP BY a.cell, dd.d),
         |${pfx}cent$i AS MATERIALIZED (
         |  SELECT p.cell, COALESCE(m.clist, p.clist) AS clist
         |  FROM ${pfx}cent${i - 1} p
         |  LEFT JOIN (SELECT cell, list(mu ORDER BY d) AS clist
         |             FROM ${pfx}m$i GROUP BY cell) m ON p.cell = m.cell)""".stripMargin
    }
    s"""${pfx}cent0 AS MATERIALIZED (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
       |         v AS clist
       |  FROM (SELECT vec_id, v FROM $src ORDER BY vec_id LIMIT $k)),
       |${roundCtes.mkString(",\n")}""".stripMargin
  }

  /** The GROUPED Lloyd replay — one independent fit per `coarse` group
    * in a single chain (the distributed flatMapGroups sub-fits of
    * [[twoLevelIndex]]): `src` carries (coarse, vec_id, v, rn) with rn
    * the per-group id rank; cent tables carry (coarse, cell, clist)
    * where cell is the WITHIN-group index j. Same arithmetic as
    * [[lloydChainSql]], every join group-scoped. */
  private def lloydGroupChainSql(src: String, k: Int, pfx: String): String = {
    val rounds = (1 to lloydIters).map { i =>
      s"""${pfx}a$i AS MATERIALIZED (
         |  SELECT s.coarse, s.vec_id,
         |         (MIN({'d': ${sqlDist("s.v", "ct.clist")}, 'c': ct.cell})).c AS cell
         |  FROM $src s JOIN ${pfx}cent${i - 1} ct ON ct.coarse = s.coarse
         |  GROUP BY s.coarse, s.vec_id),
         |${pfx}m$i AS MATERIALIZED (
         |  SELECT a.coarse, a.cell, dd.d,
         |    ROUND(CAST(CAST(SUM(CAST(s.v[dd.d] AS DECIMAL(18,12))) AS VARCHAR)
         |               AS DOUBLE) / COUNT(*), 9) AS mu
         |  FROM $src s JOIN ${pfx}a$i a
         |    ON a.coarse = s.coarse AND a.vec_id = s.vec_id
         |  CROSS JOIN LATERAL (SELECT unnest(range(1, len(s.v) + 1)) AS d) dd
         |  GROUP BY a.coarse, a.cell, dd.d),
         |${pfx}cent$i AS MATERIALIZED (
         |  SELECT p.coarse, p.cell, COALESCE(m.clist, p.clist) AS clist
         |  FROM ${pfx}cent${i - 1} p
         |  LEFT JOIN (SELECT coarse, cell, list(mu ORDER BY d) AS clist
         |             FROM ${pfx}m$i GROUP BY coarse, cell) m
         |    ON p.coarse = m.coarse AND p.cell = m.cell)""".stripMargin
    }
    s"""${pfx}cent0 AS MATERIALIZED (
       |  SELECT coarse, CAST(rn - 1 AS INT) AS cell, v AS clist
       |  FROM $src WHERE rn <= $k),
       |${rounds.mkString(",\n")}""".stripMargin
  }

  /** The full two-level index replay (ends with `cells` = the final
    * (coarse, cell, clist) table and `fin` = every corpus vector's
    * hierarchical cell assignment) — [[twoLevelIndex]] +
    * [[ivfIndexTwoLevel]] as one generated WITH-body.
    *
    * `buildPred` restricts which rows the QUANTIZER FIT sees (`bld` —
    * both the coarse sample and the per-group sub-fit samples), while
    * coarse/cell ASSIGNMENT always covers every `emb` row — exactly
    * [[appendToIvfIndex]]'s contract: appended vectors are assigned
    * with the STORED quantizer, never re-fit. `TRUE` (the s04/s17
    * form) makes `bld` = `emb` and the split is a no-op.
    * `withFin = false` ends the chain at `cells` (the d14 oracle does
    * its own FLAT spill ranking over all cells, so the hierarchical
    * single-cell assignment `fin` would be dead weight). */
  private[operators] def twoLevelChainSql(nlist: Int,
                                          buildPred: String = "TRUE",
                                          withFin: Boolean = true): String = {
    val (k1, k2) = twoLevelKs(nlist)
    s"""emb AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |bld AS MATERIALIZED (SELECT vec_id, v FROM emb WHERE $buildPred),
       |csamp AS MATERIALIZED (SELECT vec_id, v FROM bld ORDER BY vec_id
       |          LIMIT ${coarseFitSampleRows(k1)}),
       |${lloydChainSql("csamp", k1, "c_")},
       |crs AS MATERIALIZED (
       |  SELECT e.vec_id,
       |         (MIN({'d': ${sqlDist("e.v", "ct.clist")}, 'c': ct.cell})).c AS coarse
       |  FROM emb e CROSS JOIN c_cent$lloydIters ct
       |  GROUP BY e.vec_id),
       |ssamp AS MATERIALIZED (
       |  SELECT a.coarse, e.vec_id, e.v,
       |         ROW_NUMBER() OVER (PARTITION BY a.coarse ORDER BY e.vec_id) AS rn
       |  FROM bld e JOIN crs a USING (vec_id)
       |  QUALIFY rn <= ${subFitSampleRows(k2)}),
       |${lloydGroupChainSql("ssamp", k2, "s_")},
       |cells AS MATERIALIZED (
       |  SELECT coarse, coarse * $k2 + cell AS cell, clist
       |  FROM s_cent$lloydIters)${if (withFin) s""",
       |fin AS MATERIALIZED (
       |  SELECT e.vec_id,
       |         (MIN({'d': ${sqlDist("e.v", "ct.clist")}, 'c': ct.cell})).c AS cell
       |  FROM emb e JOIN crs a USING (vec_id)
       |  JOIN cells ct ON ct.coarse = a.coarse
       |  GROUP BY e.vec_id)""" else ""}""".stripMargin
  }

  /** Probe + exact-cosine-rank tail shared by the s04/s17 oracles:
    * mirrors [[probeCells]] (round-9 d2p, cell tie-break, nprobe 4) and
    * [[rankCandidates]] (round-9 cosine, neighbor-id tie-break, k 5)
    * over the replayed `cells`/`fin` tables. */
  private def ivfSearchSql(nprobe: Int, k: Int): String =
    s"""q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 20),
       |probe AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.query_id, ct.cell,
       |           ROW_NUMBER() OVER (PARTITION BY q.query_id
       |             ORDER BY ${sqlDist("q.qv", "ct.clist")}, ct.cell) AS crk
       |    FROM q CROSS JOIN cells ct) t
       |  WHERE crk <= $nprobe),
       |scored AS (
       |  SELECT p.query_id, f.vec_id AS neighbor_id,
       |         ${sqlCosine9("eq.qv", "en.v")} AS cosine
       |  FROM probe p
       |  JOIN fin f ON f.cell = p.cell AND f.vec_id <> p.query_id
       |  JOIN q eq ON eq.query_id = p.query_id
       |  JOIN emb en ON en.vec_id = f.vec_id)
       |SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |             ORDER BY cosine DESC, neighbor_id) AS rk
       |      FROM scored) t
       |WHERE rk <= $k
       |ORDER BY query_id, rk""".stripMargin

  val s04Sql: String =
    s"""WITH ${twoLevelChainSql(16)},
       |${ivfSearchSql(4, 5)}""".stripMargin

  /** s17 is pinned bit-identical to s04 (SimilaritySpec), so the
    * persisted-index search replays against the SAME oracle. */
  val s17Sql: String = s04Sql

  /** s18: the s04 chain with the quantizer FIT restricted to the
    * build subset (first 90% of ids) while assignment covers the full
    * corpus — the append contract in SQL. */
  val s18Sql: String =
    s"""WITH ${twoLevelChainSql(16,
         "vec_id < (SELECT CAST(FLOOR(0.9 * COUNT(*)) AS BIGINT) FROM embeddings)")},
       |${ivfSearchSql(4, 5)}""".stripMargin

  /** One OR-dial arm as DuckDB CTEs: the flat [[ivfIndex]] fit over
    * the `xor(vec_id, mix)`-ordered bounded sample (XOR is identical
    * two's-complement arithmetic in both engines, so the sample — and
    * thus the whole fit — replays exactly), full-corpus assignment,
    * the nprobe-4 probe ranking for the `q` query frame, and the arm's
    * (query_id, neighbor_id) candidate pairs.
    *
    * The sample CTE REMAPS vec_id to the mixed key: [[lloydFit]]'s
    * init is the first k points in COLLECTED order, which for an arm
    * is the xor order — and [[lloydChainSql]]'s cent0 orders by
    * vec_id, so handing it the mixed key as `vec_id` replays exactly
    * that init (the remap is a bijection, so the chain's per-vector
    * joins are unaffected; everything past init is order-free —
    * struct-MIN assignment, exact decimal sums). */
  private def orDialArmSql(mix: Long, pfx: String): String =
    s"""${pfx}samp AS MATERIALIZED (
       |  SELECT xor(vec_id, CAST($mix AS BIGINT)) AS vec_id, v FROM emb
       |  ORDER BY 1
       |  LIMIT ${flatFitSampleRows(16)}),
       |${lloydChainSql(s"${pfx}samp", 16, pfx)},
       |${pfx}asn AS MATERIALIZED (
       |  SELECT e.vec_id,
       |         (MIN({'d': ${sqlDist("e.v", "ct.clist")}, 'c': ct.cell})).c AS cell
       |  FROM emb e CROSS JOIN ${pfx}cent$lloydIters ct
       |  GROUP BY e.vec_id),
       |${pfx}probe AS MATERIALIZED (
       |  SELECT query_id, cell FROM (
       |    SELECT q.query_id, ct.cell,
       |           ROW_NUMBER() OVER (PARTITION BY q.query_id
       |             ORDER BY ${sqlDist("q.qv", "ct.clist")}, ct.cell) AS crk
       |    FROM q CROSS JOIN ${pfx}cent$lloydIters ct) t
       |  WHERE crk <= 4),
       |${pfx}cand AS MATERIALIZED (
       |  SELECT p.query_id, a.vec_id AS neighbor_id
       |  FROM ${pfx}probe p JOIN ${pfx}asn a USING (cell)
       |  WHERE a.vec_id <> p.query_id)""".stripMargin

  /** s19: both arms' candidates unioned and deduped, then the shared
    * round-9 exact re-rank — [[ivfKnn]]'s `quantizers = 2` path in
    * SQL. */
  val s19Sql: String = {
    val arms = (0 until 2)
      .map(qi => orDialArmSql(VectorOps.orMixConstants(qi), s"g${qi}_"))
    s"""WITH emb AS MATERIALIZED (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS MATERIALIZED (
       |  SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 20),
       |${arms.mkString(",\n")},
       |cand AS (
       |  SELECT DISTINCT query_id, neighbor_id FROM (
       |    SELECT * FROM g0_cand UNION ALL SELECT * FROM g1_cand))
       |${sqlRerank("cand", 5)}""".stripMargin
  }

  /** s21: s19's two arms with the query frame = the WHOLE corpus,
    * candidates unioned/deduped, top-5 re-ranked, then the s13/s15
    * mutual filter. */
  val s21Sql: String = {
    val arms = (0 until 2)
      .map(qi => orDialArmSql(VectorOps.orMixConstants(qi), s"g${qi}_"))
    s"""WITH emb AS MATERIALIZED (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS MATERIALIZED (
       |  SELECT vec_id AS query_id, v AS qv FROM emb),
       |${arms.mkString(",\n")},
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT query_id, neighbor_id FROM (
       |    SELECT * FROM g0_cand UNION ALL SELECT * FROM g1_cand)),
       |knn AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, rk FROM (
       |    SELECT c.query_id, c.neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY c.query_id ORDER BY
       |             ${sqlCosine9("eq.v", "en.v")} DESC,
       |             c.neighbor_id) AS rk
       |    FROM cand c JOIN emb eq ON eq.vec_id = c.query_id
       |    JOIN emb en ON en.vec_id = c.neighbor_id) t
       |  WHERE rk <= 5)
       |${sqlMutualPairs("query_id", "neighbor_id")}""".stripMargin
  }

  /** s22: s21's chain with the pool-depth tail — directed lists cut at
    * rk ≤ 10, symmetrized (swap-union, distinct), pooled candidates
    * re-ranked round-9 to top-5, then the column-swap mutual filter. */
  val s22Sql: String = {
    val arms = (0 until 2)
      .map(qi => orDialArmSql(VectorOps.orMixConstants(qi), s"g${qi}_"))
    s"""WITH emb AS MATERIALIZED (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS MATERIALIZED (
       |  SELECT vec_id AS query_id, v AS qv FROM emb),
       |${arms.mkString(",\n")},
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT query_id, neighbor_id FROM (
       |    SELECT * FROM g0_cand UNION ALL SELECT * FROM g1_cand)),
       |dir AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT c.query_id, c.neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY c.query_id ORDER BY
       |             ${sqlCosine9("eq.v", "en.v")} DESC,
       |             c.neighbor_id) AS rk
       |    FROM cand c JOIN emb eq ON eq.vec_id = c.query_id
       |    JOIN emb en ON en.vec_id = c.neighbor_id) t
       |  WHERE rk <= 10),
       |pool AS MATERIALIZED (
       |  SELECT DISTINCT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id FROM dir
       |    UNION ALL SELECT neighbor_id AS query_id, query_id AS neighbor_id
       |    FROM dir)),
       |knn AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, rk FROM (
       |    SELECT p.query_id, p.neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
       |             ${sqlCosine9("eq.v", "en.v")} DESC,
       |             p.neighbor_id) AS rk
       |    FROM pool p JOIN emb eq ON eq.vec_id = p.query_id
       |    JOIN emb en ON en.vec_id = p.neighbor_id) t
       |  WHERE rk <= 5)
       |${sqlMutualPairs("query_id", "neighbor_id")}""".stripMargin
  }

  /** The int8 quantization mirror: x → CAST(ROUND(x·(127/m)) AS
    * TINYINT), m the side's own max|x| (greatest with ε — the
    * zero-corpus guard). Int8 values as doubles make every coarse dot
    * product EXACT integer arithmetic (< 2⁵³), so cosine8 is bit-
    * identical cross-engine with no rounding convention at all — only
    * the quantization round itself carries the usual boundary
    * caveat. */
  private def sqlInt8(v: String, m: String): String =
    s"list_transform($v, x -> CAST(CAST(ROUND(x * (127.0 / $m)) " +
      "AS TINYINT) AS DOUBLE))"

  private def sqlMaxAbs(src: String): String =
    s"""SELECT greatest(MAX(list_aggregate(list_transform(v, x -> abs(x)),
       |         'max')), 1e-30) AS m FROM $src""".stripMargin

  /** The int8 coarse cosine with the zero-norm guard (quantized-to-zero
    * vectors score −2.0, below any true cosine — the NaN-sorts-first
    * guard mirrored from [[quantizedKnn]]). */
  private def sqlCosine8(a: String, b: String): String =
    s"""CASE WHEN sqrt(list_inner_product($a, $a)) = 0.0
       |              OR sqrt(list_inner_product($b, $b)) = 0.0 THEN -2.0
       |         ELSE list_inner_product($a, $b) /
       |              (sqrt(list_inner_product($a, $a)) *
       |               sqrt(list_inner_product($b, $b))) END""".stripMargin

  /** DuckDB text of the round-9 cosine of list columns `a` and `b`
    * that [[rankCandidates]] ranks on. */
  private[operators] def sqlCosine9(a: String, b: String): String =
    s"""ROUND(list_inner_product($a, $b) /
       |      (sqrt(list_inner_product($a, $a)) *
       |       sqrt(list_inner_product($b, $b))), 9)""".stripMargin

  /** DuckDB text of [[mutualKnn]] over a `knn` (q, n, rk) CTE whose
    * query and neighbor columns are named `q` and `n`: each pair
    * (id_a < id_b) that both ends rank, with both ranks. */
  private def sqlMutualPairs(q: String, n: String): String =
    s"""SELECT f.$q AS id_a, f.$n AS id_b,
       |       CAST(f.rk AS INT) AS rk_ab, CAST(r.rk AS INT) AS rk_ba
       |FROM knn f JOIN knn r
       |  ON r.$q = f.$n AND r.$n = f.$q
       |WHERE f.$q < f.$n
       |ORDER BY id_a, id_b""".stripMargin

  /** Exact round-9 cosine re-rank tail over a (query_id, neighbor_id)
    * candidate CTE — [[rankCandidates]]' mirror, shared by s06/s07. */
  private def sqlRerank(candCte: String, k: Int): String =
    s"""SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id
       |FROM (
       |  SELECT c.query_id, c.neighbor_id,
       |         ROW_NUMBER() OVER (PARTITION BY c.query_id ORDER BY
       |           ${sqlCosine9("eq.v", "en.v")} DESC,
       |           c.neighbor_id) AS rk
       |  FROM $candCte c JOIN emb eq ON eq.vec_id = c.query_id
       |  JOIN emb en ON en.vec_id = c.neighbor_id) t
       |WHERE rk <= $k
       |ORDER BY query_id, rk""".stripMargin

  val s06Sql: String =
    s"""WITH emb AS MATERIALIZED (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS MATERIALIZED (SELECT vec_id, v FROM emb WHERE vec_id < 20),
       |qm AS MATERIALIZED (${sqlMaxAbs("q")}),
       |cm AS MATERIALIZED (${sqlMaxAbs("emb")}),
       |q8 AS MATERIALIZED (
       |  SELECT q.vec_id AS query_id, ${sqlInt8("q.v", "qm.m")} AS qv8
       |  FROM q, qm),
       |c8 AS MATERIALIZED (
       |  SELECT e.vec_id AS neighbor_id, ${sqlInt8("e.v", "cm.m")} AS cv8
       |  FROM emb e, cm),
       |cand AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT a.query_id, b.neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY a.query_id ORDER BY
       |             ${sqlCosine8("a.qv8", "b.cv8")} DESC,
       |             b.neighbor_id) AS crk
       |    FROM q8 a JOIN c8 b ON b.neighbor_id <> a.query_id) t
       |  WHERE crk <= 20)
       |${sqlRerank("cand", 5)}""".stripMargin

  val s07Sql: String =
    s"""WITH emb AS MATERIALIZED (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |samp AS MATERIALIZED (SELECT vec_id, v FROM emb ORDER BY vec_id
       |       LIMIT ${flatFitSampleRows(16)}),
       |${lloydChainSql("samp", 16, "")},
       |asn AS MATERIALIZED (
       |  SELECT e.vec_id,
       |         (MIN({'d': ${sqlDist("e.v", "ct.clist")}, 'c': ct.cell})).c AS cell
       |  FROM emb e CROSS JOIN cent$lloydIters ct
       |  GROUP BY e.vec_id),
       |q AS MATERIALIZED (SELECT vec_id, v FROM emb WHERE vec_id < 20),
       |qm AS MATERIALIZED (${sqlMaxAbs("q")}),
       |cm AS MATERIALIZED (${sqlMaxAbs("emb")}),
       |q8 AS MATERIALIZED (
       |  SELECT q.vec_id AS query_id, ${sqlInt8("q.v", "qm.m")} AS qv8
       |  FROM q, qm),
       |c8 AS MATERIALIZED (
       |  SELECT e.vec_id AS neighbor_id, a.cell,
       |         ${sqlInt8("e.v", "cm.m")} AS cv8
       |  FROM emb e JOIN asn a USING (vec_id), cm),
       |probe AS MATERIALIZED (
       |  SELECT query_id, cell FROM (
       |    SELECT q.vec_id AS query_id, ct.cell,
       |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |             ORDER BY ${sqlDist("q.v", "ct.clist")}, ct.cell) AS crk
       |    FROM q CROSS JOIN cent$lloydIters ct) t
       |  WHERE crk <= 4),
       |cand AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT p.query_id, b.neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
       |             ${sqlCosine8("a.qv8", "b.cv8")} DESC,
       |             b.neighbor_id) AS crk
       |    FROM probe p
       |    JOIN q8 a ON a.query_id = p.query_id
       |    JOIN c8 b ON b.cell = p.cell AND b.neighbor_id <> p.query_id) t
       |  WHERE crk <= 20)
       |${sqlRerank("cand", 5)}""".stripMargin

  /** The PQ replay shared by s09/s10: unit-normalized corpus, the
    * id-ordered bounded codebook sample, one [[lloydChainSql]] per
    * subspace over its slice, the per-vector code argmin (raw-double
    * pqScore — the same expression both engines evaluate over
    * bit-identical inputs, the d12 raw-threshold precedent), and the
    * `codes` table. Ends with CTEs: nrm (vec_id, v — unit vectors),
    * q (query side, vec_id < 20), codes (vec_id, c0..c{m-1}). */
  private def pqChainSql(m: Int, ksub: Int, dsub: Int): String = {
    def slice(v: String, s: Int) = s"$v[${s * dsub + 1}:${(s + 1) * dsub}]"
    def score(sub: String, cb: String) =
      s"list_inner_product($sub, $cb.clist) * -2.0 + " +
        s"list_inner_product($cb.clist, $cb.clist)"
    val sliceSamps = (0 until m).map { s =>
      s"""pq${s}samp AS MATERIALIZED (
         |  SELECT vec_id, ${slice("v", s)} AS v FROM psamp)""".stripMargin
    }
    val chains = (0 until m).map(s =>
      lloydChainSql(s"pq${s}samp", ksub, s"pq${s}_"))
    val codeCols = (0 until m).map { s =>
      s"""    (SELECT (MIN({'d': ${score(s"n.${slice("v", s)}", "cb")},
         |             'c': cb.cell})).c
         |     FROM pq${s}_cent$lloydIters cb) AS c$s""".stripMargin
    }
    s"""emb AS MATERIALIZED (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |nrm0 AS MATERIALIZED (
       |  SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS n FROM emb),
       |nrm AS MATERIALIZED (
       |  SELECT vec_id,
       |         CASE WHEN n > 0.0 THEN list_transform(v, x -> x / n)
       |              ELSE v END AS v
       |  FROM nrm0),
       |psamp AS MATERIALIZED (
       |  SELECT vec_id, v FROM nrm ORDER BY vec_id
       |  LIMIT ${math.max(ksub * 64, 1024)}),
       |${sliceSamps.mkString(",\n")},
       |${chains.mkString(",\n")},
       |q AS MATERIALIZED (SELECT vec_id, v FROM nrm WHERE vec_id < 20),
       |codes AS MATERIALIZED (
       |  SELECT n.vec_id,
       |${codeCols.mkString(",\n")}
       |  FROM nrm n)""".stripMargin
  }

  /** The ADC coarse candidate stage over the replayed codes: each
    * (query, neighbor) pair pays m centroid lookups summed left to
    * right — [[adcExpr]]'s mirror — and the top rerankFactor·k per
    * query go to the round-9 exact tail. `extraJoin`/`extraCond`
    * inject s10's probed-cell restriction. */
  private def pqAdcSql(m: Int, dsub: Int, buffer: Int,
                       fromExtra: String, condExtra: String): String = {
    def slice(v: String, s: Int) = s"$v[${s * dsub + 1}:${(s + 1) * dsub}]"
    val joins = (0 until m).map(s =>
      s"  JOIN pq${s}_cent$lloydIters cb$s ON cb$s.cell = co.c$s")
    val adc = (0 until m).map(s =>
      s"(list_inner_product(${slice("a.v", s)}, cb$s.clist) * -2.0 + " +
        s"list_inner_product(cb$s.clist, cb$s.clist))").mkString("\n             + ")
    s"""cand AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT a.vec_id AS query_id, co.vec_id AS neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
       |             $adc,
       |             co.vec_id) AS crk
       |    FROM q a
       |    JOIN codes co ON co.vec_id <> a.vec_id$condExtra
       |$fromExtra${joins.mkString("\n")}) t
       |  WHERE crk <= $buffer)""".stripMargin
  }

  val s09Sql: String =
    s"""WITH ${pqChainSql(8, 32, 8)},
       |${pqAdcSql(8, 8, 40, "", "")}
       |${sqlRerank("cand", 5)}""".stripMargin

  /** s10 = the PQ replay with the ADC scan restricted to the flat IVF
    * index's probed cells (iv_ chain — the s05/s07 quantizer replay). */
  val s10Sql: String =
    s"""WITH ${pqChainSql(8, 32, 8)},
       |samp AS MATERIALIZED (SELECT vec_id, v FROM emb ORDER BY vec_id
       |       LIMIT ${flatFitSampleRows(16)}),
       |${lloydChainSql("samp", 16, "iv_")},
       |asn AS MATERIALIZED (
       |  SELECT e.vec_id,
       |         (MIN({'d': ${sqlDist("e.v", "ct.clist")}, 'c': ct.cell})).c AS cell
       |  FROM emb e CROSS JOIN iv_cent$lloydIters ct
       |  GROUP BY e.vec_id),
       |qr AS MATERIALIZED (SELECT vec_id, v FROM emb WHERE vec_id < 20),
       |probe AS MATERIALIZED (
       |  SELECT query_id, cell FROM (
       |    SELECT qr.vec_id AS query_id, ct.cell,
       |           ROW_NUMBER() OVER (PARTITION BY qr.vec_id
       |             ORDER BY ${sqlDist("qr.v", "ct.clist")}, ct.cell) AS crk
       |    FROM qr CROSS JOIN iv_cent$lloydIters ct) t
       |  WHERE crk <= 4),
       |${pqAdcSql(8, 8, 40,
        "    JOIN asn ON asn.vec_id = co.vec_id\n" +
          "    JOIN probe p ON p.query_id = a.vec_id AND p.cell = asn.cell\n",
        "")}
       |${sqlRerank("cand", 5)}""".stripMargin

  val s05Sql: String =
    s"""WITH emb AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |samp AS MATERIALIZED (SELECT vec_id, v FROM emb ORDER BY vec_id
       |         LIMIT ${flatFitSampleRows(16)}),
       |${lloydChainSql("samp", 16, "")},
       |asn AS MATERIALIZED (
       |  SELECT e.vec_id,
       |         (MIN({'d': ${sqlDist("e.v", "ct.clist")}, 'c': ct.cell})).c AS cell
       |  FROM emb e CROSS JOIN cent$lloydIters ct
       |  GROUP BY e.vec_id),
       |d AS (
       |  SELECT a.cell,
       |    ROUND(sqrt(greatest(
       |      sqrt(list_inner_product(e.v, e.v)) *
       |        sqrt(list_inner_product(e.v, e.v))
       |      - 2 * list_inner_product(e.v, ct.clist)
       |      + list_inner_product(ct.clist, ct.clist), 0.0)), 9) AS dist
       |  FROM emb e JOIN asn a USING (vec_id)
       |  JOIN cent$lloydIters ct ON ct.cell = a.cell)
       |SELECT cell, COUNT(*) AS vec_count,
       |  ROUND(CAST(CAST(SUM(CAST(dist AS DECIMAL(18,8))) AS VARCHAR)
       |             AS DOUBLE) / COUNT(*), 6) AS avg_centroid_dist
       |FROM d
       |GROUP BY cell
       |ORDER BY cell""".stripMargin

  /** s06 — int8-quantized kNN for the same queries. HASH-GATED (round
    * 11): the quantization is a pure per-value formula
    * (round(x·127/max|x|), per side) both engines replay, and the int8
    * coarse dots are EXACT integer arithmetic in doubles — cosine8 is
    * bit-identical cross-engine with no rounding convention; the
    * re-rank is the round-9 exact tail. Recall vs s01 stays pinned in
    * SimilaritySpec. */
  def s06KnnQuantized(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    quantizedKnn(emb.filter(col("vec_id") < 20), emb, 5)
      .orderBy(col("query_id"), col("rk"))
  }

  /** s07 — IVF-SQ kNN for the same queries. HASH-GATED (round 11): the
    * cell quantizer replays through the flat Lloyd chain (s05's), the
    * probe through the round-9 ranking, the int8 coarse stage through
    * the exact-integer cosine8 (s06's argument), the tail through the
    * round-9 re-rank. Exhaustive probe + deep re-rank == exact and
    * recall-at-default stay pinned in SimilaritySpec, along with the
    * cell-bucketed-join plan assert. */
  def s07KnnIvfSq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    ivfSqKnn(emb.filter(col("vec_id") < 20), emb, 5)
      .orderBy(col("query_id"), col("rk"))
  }

  /** s09 — PQ-ADC kNN for the same queries. HASH-GATED (round 11): the
    * per-subspace codebooks replay through 8 generated Lloyd chains
    * over the unit-normalized sample slices, the code assignment and
    * ADC sums through the same raw-double pqScore expression both
    * engines evaluate over bit-identical inputs (the d12 raw-threshold
    * precedent), and the tail through the round-9 exact re-rank.
    * Exactness under a corpus-deep re-rank and recall at defaults stay
    * pinned in SimilaritySpec. */
  def s09KnnPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    pqKnn(emb.filter(col("vec_id") < 20), emb, 5)
      .orderBy(col("query_id"), col("rk"))
  }

  /** s10 — IVF-PQ kNN for the same queries. HASH-GATED (round 11):
    * s09's PQ replay with the ADC scan restricted to the flat IVF
    * chain's probed cells ([[s10Sql]]). Exhaustive-probe +
    * deep-re-rank == exact, recall floor, and the cell-bucketed plan
    * stay pinned in SimilaritySpec. */
  def s10KnnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    ivfPqKnn(emb.filter(col("vec_id") < 20), emb, 5)
      .orderBy(col("query_id"), col("rk"))
  }

  /** s08 — hybrid retrieval, hash-gated: the s01 query set ranked by
    * BOTH modalities (cosine over `embeddings`, token-set Jaccard over
    * the same ids in `documents` — the fixtures share the 0..499 id
    * domain) and fused by reciprocal rank. Candidate depth 20 per side,
    * final top-5. The vector side ranks on round(cosine, 9) so the
    * rank lists — and therefore the integer-only output — are
    * bit-stable across engines; Jaccard and RRF scores are exact
    * integer ratios already. */
  def s08HybridKnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val docs = Tables.documents(spark, dir)
    val vector = bruteForceKnn(emb.filter(col("vec_id") < 20), emb, 20,
      roundCosineTo = 9)
    val lexical = tokenJaccardKnn(docs.filter(col("doc_id") < 20), docs, 20)
    rrfFuse(vector, lexical, 5)
      .orderBy(col("query_id"), col("rk"))
  }

  val s08Sql: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      |           FROM embeddings WHERE vec_id < 20),
      |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
      |      FROM embeddings),
      |v AS (
      |  SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
      |           PARTITION BY query_id
      |           ORDER BY ROUND(list_cosine_similarity(qv, cv), 9) DESC,
      |                    neighbor_id) AS vrk
      |  FROM q JOIN c ON query_id <> neighbor_id
      |  QUALIFY vrk <= 20),
      |qt AS (SELECT DISTINCT doc_id AS query_id,
      |         unnest(string_split(text, ' ')) AS tok
      |       FROM documents WHERE doc_id < 20),
      |ct AS (SELECT DISTINCT doc_id AS neighbor_id,
      |         unnest(string_split(text, ' ')) AS tok
      |       FROM documents),
      |qn AS (SELECT query_id, COUNT(*) AS qn FROM qt GROUP BY query_id),
      |cn AS (SELECT neighbor_id, COUNT(*) AS cn FROM ct GROUP BY neighbor_id),
      |inter AS (
      |  SELECT query_id, neighbor_id, COUNT(*) AS i
      |  FROM qt JOIN ct USING (tok)
      |  WHERE query_id <> neighbor_id
      |  GROUP BY query_id, neighbor_id),
      |l AS (
      |  SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
      |           PARTITION BY query_id
      |           ORDER BY CAST(i AS DOUBLE) / (qn + cn - i) DESC,
      |                    neighbor_id) AS lrk
      |  FROM inter JOIN qn USING (query_id) JOIN cn USING (neighbor_id)
      |  QUALIFY lrk <= 20),
      |fused AS (
      |  SELECT COALESCE(v.query_id, l.query_id) AS query_id,
      |         COALESCE(v.neighbor_id, l.neighbor_id) AS neighbor_id,
      |         COALESCE(CAST(1.0 AS DOUBLE) / (60 + vrk), 0.0)
      |           + COALESCE(CAST(1.0 AS DOUBLE) / (60 + lrk), 0.0) AS score
      |  FROM v FULL OUTER JOIN l
      |    ON v.query_id = l.query_id AND v.neighbor_id = l.neighbor_id)
      |SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |             ORDER BY score DESC, neighbor_id) AS rk
      |      FROM fused) t
      |WHERE rk <= 5
      |ORDER BY query_id, rk""".stripMargin

  /** Filtered exact kNN under a categorical predicate: each query
    * searches only corpus vectors sharing its `label` — "vector search
    * within a domain/tenant", the filter shape every production vector
    * store supports. The filter is applied AS THE JOIN KEY, which is
    * the whole scale point: the all-pairs cross of [[bruteForceKnn]]
    * (N·Q pairs) becomes a label-blocked equi-join (Σ_l n_l·q_l pairs)
    * that shuffles both sides on label — with 10 balanced labels
    * that's 10× fewer candidate pairs, and at 100 TB the blocks are
    * the unit of parallelism. No post-filtering of an unfiltered ANN
    * result (which under-fills k when the filter is selective). */
  def sameLabelKnn(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    rankCandidates(
      querySide(queries, "label").join(corpusSide(corpus, "label"), Seq("label")), k)

  /** s12 — filtered search gate: the s01 query set restricted to
    * same-label neighbors; rank-only integer output on round-9 cosine
    * (the s08 bit-stability discipline) → hash-gated. */
  def s12KnnFiltered(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    sameLabelKnn(emb.filter(col("vec_id") < 20), emb, 5)
      .orderBy(col("query_id"), col("rk"))
  }

  val s12Sql: String =
    """WITH q AS (SELECT vec_id AS query_id, label, embedding::DOUBLE[] AS qv
      |           FROM embeddings WHERE vec_id < 20),
      |c AS (SELECT vec_id AS neighbor_id, label, embedding::DOUBLE[] AS cv
      |      FROM embeddings),
      |scored AS (
      |  SELECT query_id, neighbor_id,
      |         ROUND(list_cosine_similarity(qv, cv), 9) AS cosine
      |  FROM q JOIN c USING (label)
      |  WHERE query_id <> neighbor_id)
      |SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |             ORDER BY cosine DESC, neighbor_id) AS rk
      |      FROM scored) t
      |WHERE rk <= 5
      |ORDER BY query_id, rk""".stripMargin

  // -- MMR diversified retrieval ---------------------------------------------

  /** Maximal-marginal-relevance diversified top-k: greedily select
    * argmax λ·rel(d) − (1−λ)·max_{s∈S} cos(d, s), λ = 0.7, from a bounded
    * relevance pool — the retrieval step that returns k RESULTS, not k
    * near-duplicates of the best result (the dedup-aware flavor of
    * retrieval a curation pipeline wants for eval mining and few-shot
    * selection).
    *
    * Distributed shape: the pool is the [[bruteForceKnn]] join +
    * window (top 4·k per query by relevance — at deployment
    * scale, any of the s02–s10 ANN paths produces the same
    * (query, candidate, rel, vector) frame); the greedy selection then
    * runs per query over ≤ 4·k rows inside one
    * `flatMapGroups` — O(k·pool·dim) work on ~20 rows, no cross-query
    * state, no driver involvement.
    *
    * Determinism pact (what makes s11 HASH-gateable, not rows-only):
    * every arithmetic step is order-fixed — rel comes from the
    * engine-side sequential dot, candidate×selected cosines run
    * sequentially over dims in selection order, the MMR combination is
    * the literal λ·rel − (1−λ)·msim, and every argmax breaks ties by
    * lowest id. DuckDB replays the identical selection as an unrolled
    * per-step CTE chain (anti-join exclusion + MAX-over-selected +
    * struct-min argmax), so the gate pins every pick of every step. */
  def mmrKnn(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    import corpus.sparkSession.implicits._
    val (lambdaRel, poolFactor) = (0.7, 4)
    val pool = topKPerQuery(
      querySide(queries).join(corpusSide(corpus), col("query_id") =!= col("neighbor_id"))
        .withColumn("rel", VectorOps.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))),
      k * poolFactor, "rk")(col("rel").desc, col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("rel"), col("cv"), col("cn"))
    pool.as[(Long, Long, Double, Seq[Double], Double)]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        // rel-desc/id-asc order fixes the iteration (and thus float
        // accumulation) order regardless of upstream partitioning
        val cand = it.toArray.sortBy(r => (-r._3, r._2))
        val vecs = cand.map(_._4.toArray)
        val chosen = new Array[Boolean](cand.length)
        // msim is the TRUE running max of cos(candidate, selected) —
        // which can be negative; only an EMPTY selected set maps to a
        // zero penalty (the oracle's COALESCE(MAX(...), 0.0)). Seeding
        // at 0.0 would silently floor negative similarities and
        // under-penalize nothing / over-score diverse picks.
        val msim = Array.fill(cand.length)(Double.NegativeInfinity)
        (1 to math.min(k, cand.length)).iterator.map { rank =>
          var best = -1; var bestScore = 0.0; var bestId = Long.MaxValue
          var i = 0
          while (i < cand.length) {
            if (!chosen(i)) {
              val pen = if (msim(i) == Double.NegativeInfinity) 0.0 else msim(i)
              val s = lambdaRel * cand(i)._3 - (1.0 - lambdaRel) * pen
              if (best < 0 || s > bestScore ||
                (s == bestScore && cand(i)._2 < bestId)) {
                best = i; bestScore = s; bestId = cand(i)._2
              }
            }
            i += 1
          }
          chosen(best) = true
          var j = 0
          while (j < cand.length) {
            if (!chosen(j)) {
              var d = 0.0; var t = 0
              val bv = vecs(best)
              while (t < bv.length) { d += vecs(j)(t) * bv(t); t += 1 }
              val cos = d / (cand(j)._5 * cand(best)._5)
              if (cos > msim(j)) msim(j) = cos
            }
            j += 1
          }
          (qid, rank, cand(best)._2, bestScore)
        }
      }
      .toDF("query_id", "mmr_rank", "neighbor_id", "mmr_score")
      .select(col("query_id"), col("mmr_rank"), col("neighbor_id"),
        round(col("mmr_score"), 6).as("mmr_score_r"))
      .orderBy(col("query_id"), col("mmr_rank"))
  }

  /** s11 — MMR top-5 from a 20-deep pool for the s01 query set. */
  def s11KnnMmr(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    mmrKnn(emb.filter(col("vec_id") < 20), emb, 5)
  }

  /** Generated DuckDB twin of s11: sel{i} is the selected set after
    * step i (with vectors riding along for the next step's
    * max-similarity), m{i} scores the not-yet-selected pool rows, and
    * the struct-min picks the (score desc, id asc) argmax.
    * MATERIALIZED per step — the chain re-expands exponentially
    * otherwise (the t17 lesson). */
  val s11Sql: String = {
    val k = 5; val pool = 20
    // (1 - 0.7) in IEEE is 0.30000000000000004, NOT the double nearest
    // 0.3 — the oracle must perform the same subtraction the Scala
    // side's (1.0 - lambdaRel) does, not parse a 0.3 literal
    val lam = "CAST(0.7 AS DOUBLE)"
    val oneMinus = "(CAST(1 AS DOUBLE) - CAST(0.7 AS DOUBLE))"
    val steps = (1 to k).map { i =>
      val prev = if (i == 1) "sel0" else s"sel${i - 1}"
      s"""m$i AS (
         |  SELECT p.query_id, p.neighbor_id, p.rel,
         |         $lam * p.rel - $oneMinus * COALESCE(MAX(
         |           list_inner_product(p.cv, s.cv) / (p.cn * s.cn)), 0.0)
         |           AS score
         |  FROM (SELECT p0.* FROM pool p0
         |        ANTI JOIN $prev x
         |          ON p0.query_id = x.query_id
         |         AND p0.neighbor_id = x.neighbor_id) p
         |  LEFT JOIN $prev s ON p.query_id = s.query_id
         |  GROUP BY p.query_id, p.neighbor_id, p.rel),
         |pick$i AS (
         |  SELECT query_id,
         |         (MIN({'s': -score, 'id': neighbor_id})).id AS neighbor_id,
         |         -((MIN({'s': -score, 'id': neighbor_id})).s) AS score
         |  FROM m$i GROUP BY query_id),
         |sel$i AS MATERIALIZED (
         |  SELECT * FROM $prev
         |  UNION ALL
         |  SELECT p.query_id, p.neighbor_id, $i AS step, k.score, p.cv, p.cn
         |  FROM pick$i k JOIN pool p
         |    ON k.query_id = p.query_id AND k.neighbor_id = p.neighbor_id)""".stripMargin
    }
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |  FROM embeddings WHERE vec_id < 20),
       |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
       |      FROM embeddings),
       |pool AS MATERIALIZED (
       |  SELECT * FROM (
       |    SELECT q.query_id, c.neighbor_id,
       |           list_inner_product(q.qv, c.cv) /
       |             (sqrt(list_inner_product(q.qv, q.qv)) *
       |              sqrt(list_inner_product(c.cv, c.cv))) AS rel,
       |           c.cv,
       |           sqrt(list_inner_product(c.cv, c.cv)) AS cn,
       |           row_number() OVER (PARTITION BY q.query_id
       |             ORDER BY list_inner_product(q.qv, c.cv) /
       |               (sqrt(list_inner_product(q.qv, q.qv)) *
       |                sqrt(list_inner_product(c.cv, c.cv))) DESC,
       |               c.neighbor_id) AS rk
       |    FROM q JOIN c ON q.query_id <> c.neighbor_id)
       |  WHERE rk <= $pool),
       |sel0 AS (
       |  SELECT query_id, neighbor_id, 0 AS step, rel AS score, cv, cn
       |  FROM pool WHERE 1 = 0),
       |${steps.mkString(",\n")}
       |SELECT query_id, CAST(step AS INT) AS mmr_rank, neighbor_id,
       |       ROUND(score, 6) AS mmr_score_r
       |FROM sel$k
       |ORDER BY query_id, mmr_rank""".stripMargin
  }

  /** Symmetric mutual-kNN pairs from ANY (query_id, rk, neighbor_id)
    * top-k ranking: a pair survives iff each endpoint ranks the other
    * inside ITS OWN top-k — the standard noise filter when turning an
    * asymmetric kNN answer into a graph (a hub that everyone ranks but
    * that ranks nobody back contributes no edges). One self-equi-join
    * of the ranking with its column-swapped image on (src, dst) —
    * both sides are already top-k-per-query (k·N rows), so the join
    * never touches the corpus and the operator composes with any
    * candidate generator: the exact ranking here, the s04 IVF path at
    * 100 TB (same downstream by construction). */
  def mutualKnn(knn: DataFrame): DataFrame = {
    val fwd = knn.select(col("query_id").as("src"),
      col("neighbor_id").as("dst"), col("rk").as("rk_ab"))
    val rev = knn.select(col("neighbor_id").as("src"),
      col("query_id").as("dst"), col("rk").as("rk_ba"))
    fwd.join(rev, Seq("src", "dst"))
      .filter(col("src") < col("dst"))
      .select(col("src").as("id_a"), col("dst").as("id_b"),
        col("rk_ab"), col("rk_ba"))
  }

  /** The POOL-DEPTH re-rank dial (round 14) — the fix for the measured
    * tight-regime edge-recall ceiling (0.59 at x100, q=3,
    * dev/scaling.md): feed this any DIRECTED top-P ranking (P > k,
    * e.g. [[ivfKnn]] run with k = P), SYMMETRIZE the candidate pool
    * (if b's probes discovered a, that donates b into a's pool even
    * when a's own probes missed b — turning per-edge discovery from an
    * AND over both directions into an OR), exact-re-rank each query's
    * pooled candidates (round-9 cosine, neighbor-id tiebreak — the
    * [[rankCandidates]] total order), cut at k, then the [[mutualKnn]]
    * column-swap filter.
    *
    * Why recall over the EXACT mutual graph is monotone in P (the
    * SimilaritySpec pin): an exact edge's endpoints rank ≤ k against
    * the WHOLE corpus, so they rank ≤ k in any candidate subset that
    * contains them — growing the pool can only demote non-exact
    * candidates. pool(P) ⊆ pool(P′) for P ≤ P′, and pool(k) already
    * contains every pair the unpooled filter passes, so
    * exact∩pooled(P) ⊇ exact∩pooled(k) ⊇ exact∩unpooled.
    *
    * Scale shape: the symmetrized pool is ≤ 2·P·N narrow id pairs; the
    * re-rank joins vectors back only for that pool (the d14 candidate-
    * join discipline) and the mutual filter never touches the corpus. */
  def mutualKnnPooled(emb: DataFrame, directed: DataFrame,
                      k: Int): DataFrame = {
    val e = emb.select(col("vec_id"),
      VectorOps.asDouble(col("embedding")).as("v"))
      .withColumn("nrm", VectorOps.norm(col("v")))
    // spread (round 15): same rationale as ivfKnn's idPairs — the
    // symmetrized pool is narrow, AQE coalesces it, and the exact
    // re-rank's vector joins + window would serialize on one partition.
    // Spread BELOW the distinct (round 16): the query_id hash width
    // satisfies the dedup's clustering requirement, so one exchange
    // serves both (the ivfKnn idPairs rationale).
    val pool = graft.ScalePolicy.spread(
      directed.select(col("query_id"), col("neighbor_id"))
        .unionAll(directed.select(col("neighbor_id").as("query_id"),
          col("query_id").as("neighbor_id"))),
      col("query_id")).distinct()
    val scored = pool
      .join(e.select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn")), Seq("query_id"))
      .join(e.select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
        col("nrm").as("cn")), Seq("neighbor_id"))
    mutualKnn(rankCandidates(scored, k))
  }

  /** s13 — the mutual-kNN graph over the WHOLE corpus (every vector a
    * query, k = 5), hash-gated: integer-only output, ranks built on
    * round(cosine, 9) so the rank lists are bit-stable across engines
    * (the s08 convention; boundary caveat at the top of this file).
    * The exact all-pairs candidate stage is the GATE-ORACLE form, by
    * declaration — the deployment form is s15 (the same mutual filter
    * over IVF candidates, measured 9× faster at x100 in
    * dev/scaling.md); this query exists so s15 has an exact graph to
    * be judged against. */
  def s13MutualKnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    mutualKnn(bruteForceKnn(emb, emb, 5, roundCosineTo = 9))
      .orderBy(col("id_a"), col("id_b"))
  }

  val s13Sql: String =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
      |knn AS (
      |  SELECT a.vec_id AS q, b.vec_id AS n,
      |         ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |           ORDER BY ROUND(list_cosine_similarity(a.ev, b.ev), 9) DESC,
      |                    b.vec_id) AS rk
      |  FROM v a JOIN v b ON a.vec_id <> b.vec_id
      |  QUALIFY rk <= 5)
      |${sqlMutualPairs("q", "n")}""".stripMargin

  /** Negatives per anchor in the s14 gate (mirrored in [[s14Sql]]). */
  val negativesPerAnchor = 3

  /** s14 — contrastive training-pair mining: for every embedding, its
    * nearest neighbor as the POSITIVE and [[negativesPerAnchor]]
    * deterministic pseudo-random NEGATIVES — the (anchor, pos, negs)
    * tuples a contrastive/embedding-training run consumes. Negatives
    * are drawn by ranking candidates on md5(anchor#cand): uniform,
    * engine-stable, seedless (the [[Pipeline.md5Bucket]] discipline
    * applied to PAIRS), excluding the anchor itself and its positive.
    * The gate scores the exact all-pairs candidate set (quadratic by
    * declaration, like s13); at 100 TB the negative pool is a
    * per-anchor hash-bucketed slice and the positive comes from the
    * IVF path — both swaps leave this ranking rule untouched. Output
    * is integer ids + ranks → hash-exact. */
  def s14ContrastivePairs(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // bounded anchor set — the s01/s08/s12 query-set convention; the
    // negative pool is still the WHOLE corpus
    val anchors = emb.filter(col("vec_id") < 200)
    val pos = bruteForceKnn(anchors, emb, 1, roundCosineTo = 9)
      .select(col("query_id").as("anchor_id"), col("neighbor_id").as("pos_id"))
    val cands = anchors.select(col("vec_id").as("anchor_id"))
      .join(emb.select(col("vec_id").as("cand_id")),
        col("anchor_id") =!= col("cand_id"))
      .join(pos, Seq("anchor_id"))
      .filter(col("cand_id") =!= col("pos_id"))
      .withColumn("hk",
        md5(concat(col("anchor_id").cast("string"), lit("#"),
          col("cand_id").cast("string"))))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("hk"), col("cand_id"))
    cands
      .withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= negativesPerAnchor)
      .select(col("anchor_id"), col("pos_id"), col("neg_rank"),
        col("cand_id").as("neg_id"))
      .orderBy(col("anchor_id"), col("neg_rank"))
  }

  val s14Sql: String =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
       |pos AS (
       |  SELECT q AS anchor_id, n AS pos_id FROM (
       |    SELECT a.vec_id AS q, b.vec_id AS n,
       |           ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |             ORDER BY ROUND(list_cosine_similarity(a.ev, b.ev), 9)
       |               DESC, b.vec_id) AS rk
       |    FROM v a JOIN v b ON a.vec_id <> b.vec_id
       |    WHERE a.vec_id < 200)
       |  WHERE rk = 1),
       |cands AS (
       |  SELECT p.anchor_id, p.pos_id, b.vec_id AS cand_id,
       |         md5(CAST(p.anchor_id AS VARCHAR) || '#' ||
       |             CAST(b.vec_id AS VARCHAR)) AS hk
       |  FROM pos p JOIN v b
       |    ON b.vec_id <> p.anchor_id AND b.vec_id <> p.pos_id)
       |SELECT anchor_id, pos_id, CAST(neg_rank AS INT) AS neg_rank,
       |       cand_id AS neg_id
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
       |               ORDER BY hk, cand_id) AS neg_rank
       |      FROM cands) t
       |WHERE neg_rank <= $negativesPerAnchor
       |ORDER BY anchor_id, neg_rank""".stripMargin

  /** s15 — the mutual-kNN graph over the IVF candidate generator: the
    * measured 100 TB form of s13 (dev/scaling.md: 12.7s vs 115.6s exact
    * at x100), now gate-exercised. [[mutualKnn]] composes with any
    * top-k ranking by construction; here it consumes [[ivfKnn]] with a
    * corpus-scaled cell count (~512 vectors/cell) and nprobe 8 — each
    * query scores ~4k candidates REGARDLESS of corpus size. An edge
    * needs BOTH endpoints' rankings right, so edge recall ≈ vertex
    * recall²; nprobe 8 buys ~0.74 edge recall where the scaling run's
    * nprobe 4 sits near 0.5 (measured on the gate corpora) — 2× probe
    * cost, still constant per query, still ~5× faster than exact at
    * x100. HASH-gated since round 11: the flat quantizer became the
    * replayable [[lloydFit]], so the oracle re-derives the fit through
    * the generated Lloyd chain, replays every vector's cell, every
    * query's probe set, the round-9 cosine rankings, and the mutual
    * filter ([[s15Sql]]). The edge set is still legitimately ≠ s13's
    * (a true neighbor's cell can sit outside the probe set — the d14
    * trade); what the gate pins is that BOTH engines make the same
    * approximation. Edge recall vs the exact s13 graph and the
    * nprobe = nlist degenerate-to-exact dial stay pinned in
    * SimilaritySpec. The oracle's chain is generated at the gate-scale
    * cell count (the corpus-scaled nlist floors at 16 below 8192
    * vectors — both gate SFs); a larger gate SF re-derives it, the
    * x08 convention. */
  def s15MutualKnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val nlist = math.max(16L, emb.count() / 512L).toInt
    mutualKnn(ivfKnn(emb, emb, 5, nlist = nlist, nprobe = math.min(8, nlist)))
      .orderBy(col("id_a"), col("id_b"))
  }

  val s15Sql: String =
    s"""WITH emb AS MATERIALIZED (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |samp AS MATERIALIZED (SELECT vec_id, v FROM emb ORDER BY vec_id
       |       LIMIT ${flatFitSampleRows(16)}),
       |${lloydChainSql("samp", 16, "")},
       |asn AS MATERIALIZED (
       |  SELECT e.vec_id,
       |         (MIN({'d': ${sqlDist("e.v", "ct.clist")}, 'c': ct.cell})).c AS cell
       |  FROM emb e CROSS JOIN cent$lloydIters ct
       |  GROUP BY e.vec_id),
       |probe AS MATERIALIZED (
       |  SELECT query_id, cell FROM (
       |    SELECT q.vec_id AS query_id, ct.cell,
       |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |             ORDER BY ${sqlDist("q.v", "ct.clist")}, ct.cell) AS crk
       |    FROM emb q CROSS JOIN cent$lloydIters ct) t
       |  WHERE crk <= 8),
       |knn AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, rk FROM (
       |    SELECT p.query_id, a.vec_id AS neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY p.query_id
       |             ORDER BY ${sqlCosine9("eq.v", "en.v")} DESC,
       |                      a.vec_id) AS rk
       |    FROM probe p
       |    JOIN asn a ON a.cell = p.cell AND a.vec_id <> p.query_id
       |    JOIN emb eq ON eq.vec_id = p.query_id
       |    JOIN emb en ON en.vec_id = a.vec_id) t
       |  WHERE rk <= 5)
       |${sqlMutualPairs("query_id", "neighbor_id")}""".stripMargin

  /** Pool count for the s16 bucketed negative draw (mirrored in
    * [[s16Sql]]): candidates are pooled by md5-bucket mod this, and an
    * anchor draws only from ITS OWN pool. At gate scale 8 pools ≈ 60
    * candidates each; at 100 TB the pool count grows ∝ N so a pool —
    * and with it the per-anchor candidate join — stays constant-size. */
  val s16NegativePools = 8

  /** s16 — contrastive pair mining with the HASH-BUCKETED negative
    * pool: the 100 TB form of s14's negative draw, gate-exercised.
    * s14 ranks every (anchor, candidate) pair in the corpus — an
    * anchors×corpus join whose cost per anchor grows with N. Here the
    * corpus is split into [[s16NegativePools]] deterministic md5 pools
    * ([[Pipeline.md5Bucket]] mod pools — the p04 discipline) and an
    * anchor's negatives come only from its own pool, turning the draw
    * into a bucket EQUI-join with ~N/pools candidates per anchor;
    * growing pools ∝ N holds that constant. The md5(anchor#cand)
    * ranking rule — uniform, engine-stable, seedless — is untouched,
    * and the draw stays exactly as uniform (a hash pool is itself a
    * uniform sample of the corpus). Positives are unchanged from s14
    * (exact top-1; swap in the s15 IVF ranking at scale — same
    * downstream by construction). Fully deterministic and
    * SQL-expressible → HASH-gated, unlike the rows-only d14/s15
    * approximations: the pool restriction changes WHICH negatives are
    * drawn, not whether an oracle can replay the draw. */
  def s16ContrastiveBucketed(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val anchors = emb.filter(col("vec_id") < 200)
    val pos = bruteForceKnn(anchors, emb, 1, roundCosineTo = 9)
      .select(col("query_id").as("anchor_id"), col("neighbor_id").as("pos_id"))
    val pool = pmod(Pipeline.md5Bucket(col("vec_id")), lit(s16NegativePools))
    val cands = anchors
      .select(col("vec_id").as("anchor_id"), pool.as("pool"))
      .join(emb.select(col("vec_id").as("cand_id"), pool.as("pool")),
        Seq("pool"))
      .filter(col("anchor_id") =!= col("cand_id"))
      .join(pos, Seq("anchor_id"))
      .filter(col("cand_id") =!= col("pos_id"))
      .withColumn("hk",
        md5(concat(col("anchor_id").cast("string"), lit("#"),
          col("cand_id").cast("string"))))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("hk"), col("cand_id"))
    cands
      .withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= negativesPerAnchor)
      .select(col("anchor_id"), col("pos_id"), col("neg_rank"),
        col("cand_id").as("neg_id"))
      .orderBy(col("anchor_id"), col("neg_rank"))
  }

  val s16Sql: String = {
    val poolOf = (id: String) =>
      s"(${Pipeline.sqlMd5Bucket(id)} % $s16NegativePools)"
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
       |pos AS (
       |  SELECT q AS anchor_id, n AS pos_id FROM (
       |    SELECT a.vec_id AS q, b.vec_id AS n,
       |           ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |             ORDER BY ROUND(list_cosine_similarity(a.ev, b.ev), 9)
       |               DESC, b.vec_id) AS rk
       |    FROM v a JOIN v b ON a.vec_id <> b.vec_id
       |    WHERE a.vec_id < 200)
       |  WHERE rk = 1),
       |cands AS (
       |  SELECT p.anchor_id, p.pos_id, b.vec_id AS cand_id,
       |         md5(CAST(p.anchor_id AS VARCHAR) || '#' ||
       |             CAST(b.vec_id AS VARCHAR)) AS hk
       |  FROM pos p JOIN v b
       |    ON ${poolOf("b.vec_id")} = ${poolOf("p.anchor_id")}
       |   AND b.vec_id <> p.anchor_id AND b.vec_id <> p.pos_id)
       |SELECT anchor_id, pos_id, CAST(neg_rank AS INT) AS neg_rank,
       |       cand_id AS neg_id
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
       |               ORDER BY hk, cand_id) AS neg_rank
       |      FROM cands) t
       |WHERE neg_rank <= $negativesPerAnchor
       |ORDER BY anchor_id, neg_rank""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s14_contrastive_pairs" -> s14ContrastivePairs _,
    "s15_mutual_knn_ivf"    -> s15MutualKnnIvf _,
    "s16_contrastive_bucketed" -> s16ContrastiveBucketed _,
    "s13_mutual_knn"        -> s13MutualKnn _,
    "s08_hybrid_knn"        -> s08HybridKnn _,
    "s12_knn_filtered"      -> s12KnnFiltered _,
    "s01_knn_bruteforce"    -> s01KnnBruteForce _,
    "s02_knn_ann"           -> s02KnnAnn _,
    "s03_ann_bucket_profile" -> s03AnnBucketProfile _,
    "s04_knn_ivf"           -> s04KnnIvf _,
    "s17_knn_ivf_persisted" -> s17KnnIvfPersisted _,
    "s18_knn_ivf_append"    -> s18KnnIvfAppend _,
    "s19_knn_ivf_ordial"    -> s19KnnIvfOrDial _,
    "s20_knn_ivf_maintain"  -> s20KnnIvfMaintain _,
    "s21_mutual_knn_ordial" -> s21MutualKnnOrDial _,
    "s22_mutual_knn_pooled" -> s22MutualKnnPooled _,
    "s23_mutual_knn_crosspool" -> s23MutualKnnCrossPool _,
    "s05_ivf_cell_profile"  -> s05IvfCellProfile _,
    "s06_knn_quantized"     -> s06KnnQuantized _,
    "s07_knn_ivfsq"         -> s07KnnIvfSq _,
    "s09_knn_pq"            -> s09KnnPq _,
    "s10_knn_ivfpq"         -> s10KnnIvfPq _,
    "s11_knn_mmr"           -> s11KnnMmr _,
  )

  val oracles: Map[String, String] = Map(
    "s14_contrastive_pairs" -> s14Sql,
    "s16_contrastive_bucketed" -> s16Sql,
    "s13_mutual_knn"     -> s13Sql,
    "s01_knn_bruteforce" -> s01Sql,
    "s02_knn_ann"        -> s02Sql,
    "s03_ann_bucket_profile" -> s03Sql,
    "s04_knn_ivf"        -> s04Sql,
    "s05_ivf_cell_profile" -> s05Sql,
    "s06_knn_quantized"  -> s06Sql,
    "s07_knn_ivfsq"      -> s07Sql,
    "s09_knn_pq"         -> s09Sql,
    "s10_knn_ivfpq"      -> s10Sql,
    "s15_mutual_knn_ivf" -> s15Sql,
    "s17_knn_ivf_persisted" -> s17Sql,
    "s18_knn_ivf_append" -> s18Sql,
    "s19_knn_ivf_ordial" -> s19Sql,
    "s21_mutual_knn_ordial" -> s21Sql,
    "s22_mutual_knn_pooled" -> s22Sql,
    "s23_mutual_knn_crosspool" -> s23Sql,
    // a correct maintenance re-fit over the full committed corpus is
    // bit-identical to a fresh full-corpus build — s04's replay IS the
    // oracle (the s17-shares-s04Sql precedent, one lifecycle later)
    "s20_knn_ivf_maintain" -> s04Sql,
    "s08_hybrid_knn"     -> s08Sql,
    "s12_knn_filtered"   -> s12Sql,
    "s11_knn_mmr"        -> s11Sql,
  )
}
