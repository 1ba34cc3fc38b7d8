package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic corpus up-scaling for the capped-vs-uncapped scaling
  * measurements (`graft.ScalingBench`, `dev/scaling.md`): replicate the
  * fixture `documents`/`embeddings` tables R× while preserving the dup
  * structure a real corpus grows with —
  *
  *  - WITHIN a replica, the original near-dup structure is intact
  *    (replica 0 IS the original corpus; replica k is a token-renamed
  *    copy with the same pairwise overlaps);
  *  - ACROSS replicas, documents are NOT near-dups of each other (every
  *    non-shared token carries the replica id, so Jaccard across
  *    replicas collapses), keeping true-pair volume ~linear in R;
  *  - a deterministic ~20% of the VOCABULARY (token-content
  *    hashed, so two near-dup docs perturb identically and their
  *    within-replica Jaccard is untouched) keeps the original token in
  *    EVERY replica — corpus-global boilerplate whose shingle
  *    document-frequency grows ∝ R. That is exactly the population
  *    that makes UNCAPPED all-pairs candidate volume bend quadratic
  *    while the hot-shingle / hot-bucket caps bound it — the effect
  *    the scaling curves measure.
  *
  * Embedding replicas get per-(replica, dimension) deterministic sign
  * flips: within-replica geometry (norms, pairwise cosines) is exactly
  * preserved, while cross-replica cosines scatter around 0 and stay
  * below any near-dup threshold — again ~linear true-pair growth.
  */
object ScaleCorpus {

  /** `docs` replicated `replicas`×. Ids offset by replica stride; text
    * token-perturbed as in the class doc; `n_chars` recomputed. */
  def documents(docs: DataFrame, replicas: Int): DataFrame = {
    val spark = docs.sparkSession
    val stride = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val reps = spark.range(replicas.toLong).select(col("id").cast("int").as("k"))
    // materialize the token array BEFORE the lambda (HOF lambdas are
    // interpreted and re-evaluate embedded expressions per element)
    val toks = docs.select(col("doc_id"), col("lang"), col("source"),
      split(col("text"), " ").as("toks"))
    val perturbed = toks.crossJoin(reps)
      .withColumn("toks2", transform(col("toks"), t =>
        when(col("k") === 0 || pmod(xxhash64(t), lit(100)) < lit(20), t)
          .otherwise(concat(t, lit("~"), col("k")))))
      .select(
        (col("doc_id") + col("k").cast("long") * stride).as("doc_id"),
        array_join(col("toks2"), " ").as("text"),
        col("lang"), col("source"))
    perturbed.withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** `emb` replicated `replicas`× with per-(replica, dim) sign flips.
    *
    * `tightPct` > 0 (round 13) plants the TIGHT-regime near-dup
    * population the recall suite's regime axis needs: a deterministic
    * ~tightPct% of base vec_ids (token-hashed — `xxhash64(vec_id)` mod
    * 100) become, in every replica k ≥ 1, a small multiplicative
    * perturbation of the ORIGINAL vector instead of the sign-flipped
    * scatter: v′ᵢ = vᵢ·(1 + ε·sᵢ) with per-(vec_id, k, dim) signs
    * sᵢ = ±1 and ε = 0.2. Closed-form geometry: with random
    * signs, cos(v, v′) ≈ 1/√(1+ε²) and cos(v′(k₁), v′(k₂)) ≈ 1/(1+ε²)
    * — at ε = 0.2 that is ≈ 0.980 and ≈ 0.962, with
    * per-pair spread ~ε/√dim ≈ 0.03 — so each tight id carries a
    * deterministic clique of `replicas` mutually ≥ 0.9-cosine vectors
    * (the regime real near-dup corpora concentrate in), while every
    * tight copy stays far from every OTHER id's vectors (the base
    * corpus has no cross-id pairs ≥ 0.6). The exact pair set is still
    * measured by the suite's brute-force denominator — the closed
    * form predicts the population, the scan defines it.
    * `tightPct` = 0 (the default, and every non-recall path) is
    * bit-identical to the historical replication. */
  def embeddings(emb: DataFrame, replicas: Int, tightPct: Int = 0): DataFrame = {
    val spark = emb.sparkSession
    val stride = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    val reps = spark.range(replicas.toLong).select(col("id").cast("int").as("k"))
    // all refs below see the BASE vec_id (the offset is aliased in the
    // same select) — tightness and the perturbation signs hash it, so
    // every replica agrees on WHICH ids are tight
    val isTight = pmod(xxhash64(col("vec_id")), lit(100)) < lit(tightPct)
    emb.crossJoin(reps)
      .select(
        (col("vec_id") + col("k").cast("long") * stride).as("vec_id"),
        // cast restores the fixture's array<float> element type: the
        // tight branch's double literals would otherwise promote the
        // WHOLE when() to array<double> (type unification is static —
        // even at tightPct = 0), breaking strict-schema readers like
        // the v30 file-stream source; the non-tight branches round-trip
        // float→double→float exactly
        when(col("k") === 0, col("embedding"))
          .otherwise(when(isTight,
            transform(col("embedding"), (x, i) =>
              x * (lit(1.0) + lit(0.2) *
                when(pmod(xxhash64(col("vec_id"), col("k"), i), lit(2)) === 0,
                  lit(1.0)).otherwise(lit(-1.0)))))
          .otherwise(transform(col("embedding"), (x, i) =>
            when(pmod(xxhash64(col("k"), i), lit(2)) === 0, x).otherwise(-x))))
          .cast("array<float>")
          .as("embedding"),
        col("label"))
  }

  /** `events` replicated `replicas`× — the axis of the streaming
    * THROUGHPUT measurements: event ids offset by stride, USER ids
    * offset per replica (so the user-key cardinality — the state-store
    * entry count of every keyed stateful operator — grows ∝ R, the
    * honest scale direction for a stream), timestamps untouched (the
    * same 30-day horizon carries R× the rows, so per-window volume
    * grows like a busier service, not a longer one). */
  def events(ev: DataFrame, replicas: Int): DataFrame = {
    val spark = ev.sparkSession
    val head = ev.agg(max(col("event_id")), max(col("user_id"))).head()
    val (stride, userStride) = (head.getLong(0) + 1, head.getLong(1) + 1)
    val reps = spark.range(replicas.toLong).select(col("id").cast("int").as("k"))
    ev.crossJoin(reps)
      .select(
        (col("event_id") + col("k").cast("long") * stride).as("event_id"),
        col("ts"),
        (col("user_id") + col("k").cast("long") * userStride).as("user_id"),
        col("event_type"), col("value"), col("props"))
  }

  /** `lineitem` replicated `replicas`× with order/part keys offset per
    * replica — each per-flag part population (the q39 theta set) grows
    * exactly R×. `keepPct` < 100 additionally thins by a deterministic
    * per-(partkey, flag, replica) hash, so each flag's set keeps
    * ~keepPct% of its replica's parts INDEPENDENTLY of the other flags
    * — partial pairwise overlaps instead of the fixture's
    * every-flag-sees-every-part degeneracy, which is what makes
    * intersection/difference estimation error measurable in the
    * estimation-mode suite. */
  def lineitem(li: DataFrame, replicas: Int, keepPct: Int = 100): DataFrame = {
    val spark = li.sparkSession
    val head = li.agg(max(col("l_orderkey")), max(col("l_partkey"))).head()
    val (okStride, pkStride) = (head.getLong(0) + 1, head.getLong(1) + 1)
    val reps = spark.range(replicas.toLong).select(col("id").cast("int").as("k"))
    li.crossJoin(reps)
      .filter(lit(keepPct >= 100) ||
        pmod(xxhash64(col("l_partkey"), col("l_returnflag"), col("k")),
          lit(100)) < lit(keepPct))
      .withColumn("l_orderkey",
        col("l_orderkey") + col("k").cast("long") * okStride)
      .withColumn("l_partkey",
        col("l_partkey") + col("k").cast("long") * pkStride)
      .drop("k")
  }

  /** `orders` replicated `replicas`× — order AND customer keys offset
    * per replica; `o_totalprice` shifted by a per-replica cent
    * (+k·0.01 — at most R·0.01, far below the q40 grid's 62.5 bin
    * width). Grows BOTH estimation axes at once: the per-year DISTINCT
    * price count (the QuantileSketch capacity, q40) and the per-year
    * distinct customer population (the HLL axis, q30) scale ~R× while
    * every quantile VALUE moves by under a cent. */
  def orders(o: DataFrame, replicas: Int): DataFrame = {
    val spark = o.sparkSession
    val head = o.agg(max(col("o_orderkey")), max(col("o_custkey"))).head()
    val (stride, custStride) = (head.getLong(0) + 1, head.getLong(1) + 1)
    val reps = spark.range(replicas.toLong).select(col("id").cast("int").as("k"))
    o.crossJoin(reps)
      .withColumn("o_orderkey",
        col("o_orderkey") + col("k").cast("long") * stride)
      .withColumn("o_custkey",
        col("o_custkey") + col("k").cast("long") * custStride)
      .withColumn("o_totalprice",
        col("o_totalprice") + col("k").cast("double") * lit(0.01))
      .drop("k")
  }

  /** Writes a scaled corpus dir shaped like the driver fixtures
    * (`documents.parquet`, `embeddings.parquet`, `events.parquet`) so
    * every gate entry point runs against it unmodified. */
  def write(baseDir: String, outDir: String, replicas: Int,
            spark: org.apache.spark.sql.SparkSession,
            tightPct: Int = 0): Unit = {
    val width = graft.ScalePolicy.width(spark)
    documents(graft.Tables.documents(spark, baseDir), replicas)
      .repartition(width)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    embeddings(graft.Tables.embeddings(spark, baseDir), replicas, tightPct)
      .repartition(width)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    events(graft.Tables.events(spark, baseDir), replicas)
      .repartition(width)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
  }
}
