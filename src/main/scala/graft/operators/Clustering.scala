package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables
import graft.functions.{DecimalSums, VectorOps}

/** Deterministic k-means domain clustering over the embedding corpus —
  * the curation step that buckets documents into topical domains for
  * mixing/balancing (the SemDeDup/DoReMi-style pipeline stage), built
  * so that EVERY membership decision is cross-engine reproducible and
  * the whole fit is hash-gated, not just row-counted:
  *
  *  - init: the k lowest-vec_id vectors (no RNG, no seed state);
  *  - assignment: argmin over cells of round(−2·v·c + |c|², 9) with
  *    cell id as the tie-break — a TOTAL order. The |v|² term is
  *    constant per vector and dropped. Rounding to 9 decimals absorbs
  *    sub-ulp accumulation differences between engines while sitting
  *    far below any real inter-centroid distance gap (the
  *    rounding-boundary caveat and its pin: RoundingBoundarySpec);
  *  - update: per-dimension means in EXACT decimal(18,12) sums
  *    (order-proof across partitionings — the [[DecimalSums]]
  *    discipline), surfaced through the decimal→string→double hop and
  *    rounded to 9, so both engines iterate from bit-identical
  *    centroids; an emptied cell keeps its previous centroid;
  *  - fixed iteration count: convergence-test loops diverge the moment
  *    the engines disagree on one assignment for one round.
  *
  * Spark execution shape, per iteration: assignment is a PURE
  * PROJECTION — the k centroids ride into the expression as literals
  * (the driver only transports engine-computed values, it never does
  * arithmetic), so there is no join and no shuffle; the update is one
  * partial-aggregated shuffle of (cell, dim, decimal-partial) rows —
  * k·dim·tasks rows, independent of corpus size. That is the textbook
  * 100 TB k-means profile: corpus touched once per iteration,
  * all-reduce-sized exchange. The driver collects k·dim rounded means
  * per round (bounded, like [[Dedup.dupClusters]]' per-round count).
  *
  * DuckDB replays the identical rounds as a generated CTE chain
  * (cent{i} → a{i} → m{i}), so the oracle pins every per-vector
  * membership after every round, not a summary.
  */
object Clustering {

  /** Cells and rounds for the c01 gate — mirrored in [[c01Sql]]'s
    * generated chain; change both by changing THESE. */
  val numCells = 8
  val numRounds = 4

  private def litArr(a: Seq[Double]): Column = array(a.map(lit): _*)

  /** The assignment projection: cell = argmin by (round-9 distance,
    * cell id) over the literal centroid set. `least` over structs
    * compares lexicographically — exactly the (dist, cell) total
    * order. */
  private def assignCell(v: Column, cents: Seq[(Int, Seq[Double])]): Column =
    least(cents.map { case (c, arr) =>
      val ca = litArr(arr)
      struct(
        round(lit(-2.0) * VectorOps.dot(v, ca) + VectorOps.norm2(ca), 9)
          .as("d"),
        lit(c).as("c"))
    }: _*).getField("c")

  /** Run the [[numRounds]]-round fit and return the final per-vector
    * assignment (vec_id, cell). */
  def kmeansAssign(emb: DataFrame, k: Int = numCells): DataFrame =
    kmeansFit(emb, k)._2

  /** The fit with its final centroids exposed (assignment is argmin
    * against exactly THESE — the self-consistency the spec pins). */
  def kmeansFit(emb: DataFrame, k: Int = numCells)
      : (Seq[(Int, Seq[Double])], DataFrame) =
    kmeansFitOn(checkpointCorpus(emb), k)

  /** The cast corpus, materialized once — the multi-consumer frame
    * every fit round scans. Shared by [[c05ElbowCurve]] so the k-ladder
    * pays the materialization once, not per fit. (A round-15 experiment
    * spread it across the shuffle width first; per-round fit work is
    * k·dim dots per row — so small that the added width cost ~0.4 s of
    * task overhead per round at gate scale for no win. At deployment
    * scale the scan arrives parallel from the file layout.) */
  private def checkpointCorpus(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
      .localCheckpoint(true)

  /** [[kmeansFit]] over an already-materialized (vec_id, v) corpus. */
  private def kmeansFitOn(e: DataFrame, k: Int)
      : (Seq[(Int, Seq[Double])], DataFrame) = {
    val D12 = DecimalType(18, 12)
    var cents: Seq[(Int, Seq[Double])] = e.orderBy(col("vec_id")).limit(k)
      .select(col("v")).collect().toSeq
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](0).toSeq) }
    for (_ <- 1 to numRounds) {
      val means = e
        .withColumn("cell", assignCell(col("v"), cents))
        .select(col("cell"), posexplode(col("v")).as(Seq("d", "x")))
        .groupBy(col("cell"), col("d"))
        .agg(round(
          DecimalSums.asDouble(sum(col("x").cast(D12))) /
            count(lit(1)).cast(DoubleType), 9).as("mu"))
        .collect()
      val byCell: Map[Int, Seq[Double]] = means
        .groupBy((r: Row) => r.getInt(0))
        .map { case (c, rs) =>
          c -> rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      cents = cents.map { case (c, old) => (c, byCell.getOrElse(c, old)) }
    }
    (cents,
      e.select(col("vec_id"), assignCell(col("v"), cents).as("cell"))
        .orderBy(col("vec_id")))
  }

  /** c01 — the per-vector domain assignment after [[numRounds]] rounds,
    * hash-gated against the DuckDB replay. */
  def c01KmeansAssign(spark: SparkSession, dir: String): DataFrame =
    kmeansAssign(Tables.embeddings(spark, dir))

  /** `{pfx}fin` = the final per-vector assignment against
    * `{pfx}cent{numRounds}` of one oracle fit, replayed by the shared
    * Lloyd generator ([[Similarity.lloydChainSql]] over the `emb` CTE
    * with [[numRounds]] rounds; CTE names are `pfx`-prefixed so the
    * c05 elbow's fits coexist in one WITH). */
  private def finSql(pfx: String): String =
    s"""${pfx}fin AS MATERIALIZED (
       |  SELECT vec_id, (MIN({'d': ${Similarity.sqlDist("e.v", "ct.clist")}, 'c': ct.cell})).c AS cell
       |  FROM emb e CROSS JOIN ${pfx}cent$numRounds ct GROUP BY vec_id)""".stripMargin

  private val embSql =
    """emb AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)""".stripMargin

  private val chainSql: String =
    s"""WITH $embSql,
       |${Similarity.lloydChainSql("emb", numCells, "", numRounds)},
       |${finSql("")}""".stripMargin

  val c01Sql: String =
    s"""$chainSql
       |SELECT e.vec_id, a.cell
       |FROM emb e JOIN fin a USING (vec_id)
       |ORDER BY e.vec_id""".stripMargin

  /** c02 — cluster quality report: per populated cell, the member
    * count, the mean squared distance to the OWN centroid (compactness)
    * and the squared distance to the NEAREST other centroid
    * (separation) — the Davies-Bouldin-style diagnostic that tells a
    * curation run whether its domains are real clusters or one smear.
    * Per-vector d² rounds to 9 (the assignment discipline), the mean
    * runs in exact decimal(18,9) through the string-hop, inter-centroid
    * distances are engine-side on both ends. Starved cells have no
    * members and therefore no row — identically in both engines. */
  def c02ClusterQuality(spark: SparkSession, dir: String): DataFrame = {
    val D9 = DecimalType(18, 9)
    val emb = Tables.embeddings(spark, dir)
    val (cents, assigned) = kmeansFit(emb)
    val e = emb.select(col("vec_id"),
      VectorOps.asDouble(col("embedding")).as("v"))
    // own-centroid d² = |v|² − 2·v·c + |c|², picked by a when-chain on
    // the assigned cell (centroids are literals — no join)
    val d2own = cents.tail.foldLeft(
      when(col("cell") === cents.head._1, d2Expr(col("v"), cents.head._2))) {
      case (acc, (c, arr)) => acc.when(col("cell") === c, d2Expr(col("v"), arr))
    }
    val compact = e.join(assigned, "vec_id")
      .withColumn("d2", d2own)
      .groupBy(col("cell"))
      .agg(
        count(lit(1)).as("n_vecs"),
        round(graft.functions.DecimalSums.asDouble(sum(col("d2").cast(D9))) /
          count(lit(1)).cast(DoubleType), 6).as("mean_d2_r"))
    // nearest-other-centroid d², computed over the k×k literal table
    // term-order mirrors the oracle exactly: ((−2·Σab) + Σa²) + Σb²,
    // each Σ a sequential dot — NOT Σ(−2ab), which rounds differently
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    val sep = cents.flatMap { case (i, ci) =>
      cents.collect { case (j, cj) if j != i =>
        (i, -2.0 * dot(ci, cj) + dot(ci, ci) + dot(cj, cj))
      }
    }.groupBy(_._1).map { case (c, ds) =>
      (c, ds.map(d => BigDecimal(d._2)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble).min)
    }.toSeq
    val sepDf = {
      import spark.implicits._
      sep.toDF("cell", "min_other_d2_r")
    }
    compact.join(broadcast(sepDf), "cell")
      .select(col("cell"), col("n_vecs"), col("mean_d2_r"),
        col("min_other_d2_r"))
      .orderBy(col("cell"))
  }

  /** (|v|² − 2·v·c) + |c|² with the literal centroid — term order
    * mirrors the oracle's left-to-right `t1 - t2 + t3`. */
  private def d2Expr(v: Column, c: Seq[Double]): Column = {
    val ca = litArr(c)
    round(VectorOps.norm2(v) - lit(2.0) * VectorOps.dot(v, ca) +
      VectorOps.norm2(ca), 9)
  }

  val c02Sql: String =
    s"""$chainSql,
       |own AS (
       |  SELECT a.cell,
       |    ROUND(list_inner_product(e.v, e.v)
       |          - 2 * list_inner_product(e.v, ct.clist)
       |          + list_inner_product(ct.clist, ct.clist), 9) AS d2
       |  FROM emb e JOIN fin a USING (vec_id)
       |  JOIN cent$numRounds ct ON a.cell = ct.cell),
       |q AS (
       |  SELECT cell, COUNT(*) AS n_vecs,
       |    ROUND(CAST(CAST(SUM(CAST(d2 AS DECIMAL(18,9))) AS VARCHAR)
       |               AS DOUBLE) / COUNT(*), 6) AS mean_d2_r
       |  FROM own GROUP BY cell),
       |sep AS (
       |  SELECT i.cell,
       |    MIN(ROUND(-2 * list_inner_product(i.clist, j.clist)
       |              + list_inner_product(i.clist, i.clist)
       |              + list_inner_product(j.clist, j.clist), 9))
       |      AS min_other_d2_r
       |  FROM cent$numRounds i JOIN cent$numRounds j ON i.cell <> j.cell
       |  GROUP BY i.cell)
       |SELECT q.cell, q.n_vecs, q.mean_d2_r, s.min_other_d2_r
       |FROM q JOIN sep s ON q.cell = s.cell
       |ORDER BY q.cell""".stripMargin

  /** c03 — domain-mix crosstab: which sources feed which embedding
    * cluster, with each source's share of its cell — the input a
    * mixing/balancing step (p06/p09) consumes when reweighting by
    * DISCOVERED domain rather than by labeled source. One hash join
    * (embedding ids against documents) + one grouped count + a
    * cell-partitioned share window. */
  def c03DomainMix(spark: SparkSession, dir: String): DataFrame = {
    val assigned = kmeansFit(Tables.embeddings(spark, dir))._2
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
    val counts = assigned
      .join(docs, assigned("vec_id") === docs("doc_id"))
      .groupBy(col("cell"), col("source"))
      .agg(count(lit(1)).as("n_docs"))
    val wCell = org.apache.spark.sql.expressions.Window.partitionBy(col("cell"))
    counts
      .withColumn("cell_share", round(
        col("n_docs").cast(DoubleType) /
          sum(col("n_docs")).over(wCell).cast(DoubleType), 6))
      .orderBy(col("cell"), col("source"))
  }

  val c03Sql: String =
    s"""$chainSql,
       |x AS (
       |  SELECT a.cell, d.source, COUNT(*) AS n_docs
       |  FROM fin a JOIN documents d ON a.vec_id = d.doc_id
       |  GROUP BY 1, 2)
       |SELECT cell, source, n_docs,
       |  ROUND(CAST(n_docs AS DOUBLE) /
       |        CAST(SUM(n_docs) OVER (PARTITION BY cell) AS DOUBLE), 6)
       |    AS cell_share
       |FROM x
       |ORDER BY cell, source""".stripMargin

  /** c04 — cluster purity against the corpus' ground-truth labels: per
    * populated cell, the dominant label (argmax count, ties to the
    * lowest label id), its count, and the cell's purity share — the
    * external-validation metric that says whether the unsupervised
    * domains recover the labeled structure. Integer counts + one
    * rounded ratio; the dominant-label argmax is the same struct-min
    * total order the assignment itself uses. */
  def c04ClusterPurity(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val assigned = kmeansFit(emb)._2
    val counts = assigned
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
      .groupBy(col("cell"), col("label"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cell"))
      .orderBy(col("n").desc, col("label").asc)
    counts
      .withColumn("__rk", row_number().over(w))
      .withColumn("n_vecs", sum(col("n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("cell"))))
      .filter(col("__rk") === 1)
      .select(col("cell"), col("n_vecs"), col("label").as("top_label"),
        col("n").as("top_label_n"),
        round(col("n").cast(DoubleType) / col("n_vecs").cast(DoubleType), 6)
          .as("purity_r"))
      .orderBy(col("cell"))
  }

  val c04Sql: String =
    s"""$chainSql,
       |cnt AS (
       |  SELECT a.cell, e.label, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM fin a JOIN embeddings e ON a.vec_id = e.vec_id
       |  GROUP BY 1, 2),
       |tot AS (SELECT cell, CAST(SUM(n) AS BIGINT) AS n_vecs
       |        FROM cnt GROUP BY 1),
       |top AS (
       |  SELECT cell,
       |         (MIN({'k': -n, 'l': label})).l AS top_label,
       |         -((MIN({'k': -n, 'l': label})).k) AS top_label_n
       |  FROM cnt GROUP BY cell)
       |SELECT t.cell, tt.n_vecs, t.top_label,
       |       CAST(t.top_label_n AS BIGINT) AS top_label_n,
       |       ROUND(CAST(t.top_label_n AS DOUBLE) / CAST(tt.n_vecs AS DOUBLE), 6)
       |         AS purity_r
       |FROM top t JOIN tot tt ON t.cell = tt.cell
       |ORDER BY t.cell""".stripMargin

  /** The k ladder of the c05 gate — mirrored in [[c05Sql]]'s generated
    * chains. */
  val elbowKs = Seq(2, 4, 8, 16)

  /** c05 — the elbow curve: the full deterministic fit at each k on
    * the ladder, reporting mean own-centroid d² (inertia/n). The model-
    * selection readout a curation run uses to PICK k before committing
    * to a domain layout. Each fit is the c01 algorithm verbatim (same
    * init, same round-9 argmin, same decimal means), the per-vector d²
    * rounds to 9 and accumulates in exact decimal — so all four fits
    * hash-gate against four generated DuckDB chains in one query.
    * Scale: 4 fits × [[numRounds]] passes, each the no-join projection
    * + k·dim-row shuffle profile of [[kmeansFit]]. */
  def c05ElbowCurve(spark: SparkSession, dir: String): DataFrame = {
    val D9 = DecimalType(18, 9)
    val emb = Tables.embeddings(spark, dir)
    // ONE materialized corpus for all four fits (round 15 — each fit
    // used to checkpoint its own copy of the identical projection), and
    // the four fits run CONCURRENTLY from a driver thread pool (guide
    // §2.6): each fit is a chain of small sequential driver actions
    // (one mean-collect per round), so overlapping the independent k
    // arms back-fills the idle executor time between one fit's jobs
    // with another's. Every fit's arithmetic is unchanged and
    // self-contained — results are assembled in ladder order, so the
    // output (and its oracle) is identical to the sequential form.
    val e = checkpointCorpus(emb)
    import scala.concurrent.{Await, Future, ExecutionContext}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(elbowKs.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val rows = try elbowKs.map { k =>
      Future {
        val (cents, assigned) = kmeansFitOn(e, k)
        val d2own = cents.tail.foldLeft(
          when(col("cell") === cents.head._1, d2Expr(col("v"), cents.head._2))) {
          case (acc, (c, arr)) =>
            acc.when(col("cell") === c, d2Expr(col("v"), arr))
        }
        e.join(assigned, "vec_id")
          .withColumn("d2", d2own)
          .agg(
            count(lit(1)).as("n_vecs"),
            round(graft.functions.DecimalSums.asDouble(sum(col("d2").cast(D9))) /
              count(lit(1)).cast(DoubleType), 6).as("mean_d2_r"))
          .select(lit(k).as("k"), col("n_vecs"), col("mean_d2_r"))
      }
    }.map(Await.result(_, scala.concurrent.duration.Duration.Inf))
    finally pool.shutdown()
    rows.reduce(_.unionByName(_)).orderBy(col("k"))
  }

  val c05Sql: String = {
    val perK = elbowKs.map { k =>
      val p = s"k${k}_"
      s"""SELECT $k AS k, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |  ROUND(CAST(CAST(SUM(CAST(
         |      ROUND(list_inner_product(e.v, e.v)
         |            - 2 * list_inner_product(e.v, ct.clist)
         |            + list_inner_product(ct.clist, ct.clist), 9)
         |      AS DECIMAL(18,9))) AS VARCHAR) AS DOUBLE) / COUNT(*), 6)
         |    AS mean_d2_r
         |FROM emb e JOIN ${p}fin a USING (vec_id)
         |JOIN ${p}cent$numRounds ct ON ct.cell = a.cell""".stripMargin
    }
    val fits = elbowKs.map { k =>
      val p = s"k${k}_"
      s"${Similarity.lloydChainSql("emb", k, p, numRounds)},\n${finSql(p)}"
    }
    s"""WITH $embSql,
       |${fits.mkString(",\n")}
       |${perK.mkString("\nUNION ALL\n")}
       |ORDER BY k""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c01_kmeans_assign"  -> c01KmeansAssign _,
    "c02_cluster_quality" -> c02ClusterQuality _,
    "c03_domain_mix"     -> c03DomainMix _,
    "c04_cluster_purity" -> c04ClusterPurity _,
    "c05_elbow_curve"    -> c05ElbowCurve _,
  )

  val oracles: Map[String, String] = Map(
    "c01_kmeans_assign"  -> c01Sql,
    "c02_cluster_quality" -> c02Sql,
    "c03_domain_mix"     -> c03Sql,
    "c04_cluster_purity" -> c04Sql,
    "c05_elbow_curve"    -> c05Sql,
  )
}
