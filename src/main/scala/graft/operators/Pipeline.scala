package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** The end-to-end training-data preparation pipeline — the composition
  * the north-star modules exist for, as ONE job:
  *
  *   ingest → stopword scrub → exact dedup → quality filter →
  *   near-dup clustering → keep cluster heads
  *
  * The gate query reports the funnel (documents and kept-token volume
  * after each stage), which pins every stage's semantics at once: a
  * wrong scrub, keep-policy, threshold, or cluster drop changes some
  * row of the funnel.
  *
  * Composition notes at scale:
  *  - stages 0–3 are FLAGS on one frame, not materialized frames: the
  *    exact-dedup keep decision is a window row_number (the funnel's
  *    single corpus shuffle) and the quality stage is a predicate on
  *    top, so the whole stage-0–3 funnel is one conditional aggregate
  *    over one pass of the corpus;
  *  - the near-dup stage runs the posting-list pair join over quality
  *    SURVIVORS only (the cheapest place to do it — every earlier stage
  *    shrinks its input), then [[Dedup.dupClusters]] label propagation;
  *  - the flagged frame is the one genuinely multi-consumer
  *    intermediate (pair generation + the final aggregate), so it alone
  *    is eagerly localCheckpoint'd — an unmaterialized frame would
  *    re-execute once per consumer (same race d09 hit — see dupClusters
  *    doc). Consequence: CONSTRUCTING this DataFrame executes the
  *    scrub→dedup→cluster work (the checkpoint plus dupClusters'
  *    iterative materialization), not just plans it — callers wanting
  *    plan-only inspection should look at the stage operators
  *    individually;
  *  - the exact pair generator keeps the gate deterministic; swapping
  *    in [[Dedup.minhashDedupPairs]] (identical output, sub-quadratic)
  *    is the documented 100 TB configuration.
  */
object Pipeline {

  val minQuality = 0.35
  val minKeptTokens = 25
  val nearDupThreshold = 0.8

  /** p02 — the pipeline funnel: (stage_id, stage, docs, tokens). */
  def p02PipelineFunnel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val enriched = TextAnalysis.scrubFrame(Tables.documents(spark, dir))
      .select(
        col("doc_id"), col("text"),
        size(col("toks")).as("raw_tok"),
        size(col("kept")).as("kept_tok"),
        col("cleaned"),
        TextAnalysis.qualityScore(col("text")).as("q"))

    // stage flags: dedup keep = arg-min doc_id per cleaned text (one
    // window shuffle), quality keep = predicate on top of it
    val wDedup = Window.partitionBy(col("cleaned")).orderBy(col("doc_id"))
    val flagged = enriched
      .withColumn("dedup_keep", row_number().over(wDedup) === 1)
      .withColumn("qual_keep",
        col("dedup_keep") &&
          col("q") >= minQuality && col("kept_tok") >= minKeptTokens)
      .localCheckpoint(true) // two consumers: pair generation + final agg

    val pairs = Dedup.jaccardPairs(
      flagged.filter(col("qual_keep")).select(col("doc_id"), col("text")),
      nearDupThreshold)
    // non-head cluster members grow with the duplicate volume — a plain
    // shuffle join on doc_id (AQE turns it into a broadcast when small)
    val nonHeads = Dedup.dupClusters(pairs)
      .filter(col("node") =!= col("lbl"))
      .select(col("node"), lit(true).as("clustered_drop"))

    // coalesce to 0: a stage that filters out EVERY document must count
    // 0 like the oracle's COUNT over an empty CTE, not sum-of-nothing NULL
    def docsTok(cond: Column): (Column, Column) =
      (coalesce(sum(when(cond, 1L)), lit(0L)).cast("long"),
       coalesce(sum(when(cond, col("kept_tok"))), lit(0L)).cast("long"))
    val (d2, t2) = docsTok(col("dedup_keep"))
    val (d3, t3) = docsTok(col("qual_keep"))
    val (d4, t4) = docsTok(col("qual_keep") && col("clustered_drop").isNull)
    flagged
      .join(nonHeads, flagged("doc_id") === nonHeads("node"), "left")
      .agg(
        count(lit(1)).as("d0"),
        sum(col("raw_tok")).cast("long").as("t0"),
        sum(col("kept_tok")).cast("long").as("t1"),
        d2.as("d2"), t2.as("t2"), d3.as("d3"), t3.as("t3"),
        d4.as("d4"), t4.as("t4"))
      .select(expr(
        """stack(5,
          |  0, 'ingest',         d0, t0,
          |  1, 'scrub',          d0, t1,
          |  2, 'exact_dedup',    d2, t2,
          |  3, 'quality_filter', d3, t3,
          |  4, 'near_dedup',     d4, t4)
          |AS (stage_id, stage, docs, tokens)""".stripMargin))
      .orderBy(col("stage_id"))
  }

  val p02Sql: String =
    s"""WITH RECURSIVE t AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
       |k AS (
       |  SELECT doc_id, text, toks,
       |         list_filter(toks, w -> w NOT IN (${TextAnalysis.sqlStops}))
       |           AS kept
       |  FROM t),
       |e AS (
       |  SELECT doc_id, text, len(toks) AS raw_tok, len(kept) AS kept_tok,
       |         array_to_string(kept, ' ') AS cleaned,
       |         ${TextAnalysis.sqlQuality} AS q
       |  FROM k),
       |dd AS (
       |  SELECT * FROM e
       |  QUALIFY row_number() OVER (PARTITION BY cleaned ORDER BY doc_id) = 1),
       |qf AS (
       |  SELECT * FROM dd WHERE q >= $minQuality AND kept_tok >= $minKeptTokens),
       |sh AS (
       |  ${Dedup.sqlShingles("qf")}),
       |${Dedup.sqlScoredPairs},
       |pairs AS (SELECT id_a, id_b FROM scored WHERE jaccard >= $nearDupThreshold),
       |${Dedup.sqlClosure},
       |dropped AS (SELECT node FROM labels WHERE node <> lbl),
       |fin AS (SELECT * FROM qf ANTI JOIN dropped ON doc_id = node)
       |SELECT CAST(0 AS INT) AS stage_id, 'ingest' AS stage,
       |       COUNT(*) AS docs, CAST(SUM(raw_tok) AS BIGINT) AS tokens FROM e
       |UNION ALL SELECT 1, 'scrub', COUNT(*), CAST(SUM(kept_tok) AS BIGINT) FROM e
       |UNION ALL SELECT 2, 'exact_dedup', COUNT(*), CAST(SUM(kept_tok) AS BIGINT) FROM dd
       |UNION ALL SELECT 3, 'quality_filter', COUNT(*), CAST(SUM(kept_tok) AS BIGINT) FROM qf
       |UNION ALL SELECT 4, 'near_dedup', COUNT(*), CAST(SUM(kept_tok) AS BIGINT) FROM fin
       |ORDER BY stage_id""".stripMargin

  /** THE canonical md5 bucket (last two hex digits of md5(doc_id),
    * uniform over 0..255) — single owner for every deterministic
    * keep/split decision in the pipeline (p04 split, p06 mix, t13
    * decontamination). Retuning it means changing THIS and
    * [[sqlMd5Bucket]], nowhere else. */
  def md5Bucket(idCol: Column): Column =
    conv(substring(md5(idCol.cast("string")), 31, 2), 16, 10).cast("int")

  /** DuckDB text of [[md5Bucket]] — DuckDB has no base-16 conv(); the
    * two hex digits are decoded by position in the hex alphabet
    * instead, value-identical to the Spark side's conv(substr,16,10). */
  def sqlMd5Bucket(id: String): String =
    s"""CAST(16 * (strpos('0123456789abcdef',
       |                  substring(md5(CAST($id AS VARCHAR)), 31, 1)) - 1)
       |     +    (strpos('0123456789abcdef',
       |                  substring(md5(CAST($id AS VARCHAR)), 32, 1)) - 1)
       |  AS INT)""".stripMargin

  /** The canonical ~80/10/10 split over [[md5Bucket]]:
    * train < 205 (≈80.1%), val < 230 (≈9.8%), test otherwise (≈10.2%). */
  def splitOf(bucket: Column): Column =
    when(bucket < lit(205), lit("train"))
      .when(bucket < lit(230), lit("val"))
      .otherwise(lit("test"))

  /** DuckDB text of [[splitOf]] over the SQL expression `bucket`. */
  def sqlSplitOf(bucket: String): String =
    s"""CASE WHEN $bucket < 205 THEN 'train'
       |     WHEN $bucket < 230 THEN 'val' ELSE 'test' END""".stripMargin

  /** p04 — deterministic train/val/test split keyed on md5(doc_id):
    * the split a training pipeline needs to be STABLE across runs,
    * machines, and engines — no seed state, no sampling order
    * dependence, and a re-run over a grown corpus never reassigns an
    * existing document.
    *
    * Scale: one narrow projection — no shuffle at all until the gate's
    * ORDER BY (production writes would partitionBy("split") instead).
    * Hash-gated: DuckDB computes the identical md5 hex, so the oracle
    * pins every per-document assignment, not just the proportions. */
  def p04HashSplit(spark: SparkSession, dir: String): DataFrame = {
    val bucket = md5Bucket(col("doc_id"))
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        bucket.as("bucket"),
        splitOf(bucket).as("split"))
      .orderBy(col("doc_id"))
  }

  val p04Sql: String =
    s"""WITH b AS (
      |  SELECT doc_id,
      |    ${sqlMd5Bucket("doc_id")} AS bucket
      |  FROM documents)
      |SELECT doc_id, bucket,
      |  ${sqlSplitOf("bucket")} AS split
      |FROM b
      |ORDER BY doc_id""".stripMargin

  /** Deterministic weighted source mixing — the "data mixing" step that
    * composes a training corpus from heterogeneous sources at chosen
    * proportions (web × 0.5, books × 1.0, …). A document is kept iff
    * its p04-style md5 bucket falls under the source's target rate
    * (`bucket < rate·256`), so the sample is: per-document stable
    * across runs/engines/corpus growth, exactly reproducible, and a
    * pure narrow filter — NO shuffle, no sampling-order dependence, no
    * seed state to coordinate across 1000 executors. `rateCol` is any
    * column expression in [0, 1] (a broadcast-joined weights table or a
    * formula). */
  def hashMix(docs: DataFrame, rateCol: Column): DataFrame =
    docs.filter(mixKeep(rateCol))

  /** The keep decision behind [[hashMix]], exposed so aggregates can
    * count kept rows in the same single pass that counts totals. */
  def mixKeep(rateCol: Column): Column =
    md5Bucket(col("doc_id")) < rateCol * lit(256)

  /** p06 — per-source mixing report under formula weights
    * (src-number % 4 + 1)/4 ∈ {0.25, 0.5, 0.75, 1.0}: kept counts and
    * realized rates, hash-gated (DuckDB reproduces every per-document
    * keep decision through the same md5 arithmetic). */
  def p06SourceMix(spark: SparkSession, dir: String): DataFrame = {
    // try_cast, mirrored by the oracle's TRY_CAST: a digitless source
    // yields a null rate → row never kept, identically on both engines
    // (a plain ANSI cast would THROW here and raise a conversion error
    // in DuckDB — a latent engine divergence on drifted fixtures)
    val srcNum = expr("try_cast(regexp_extract(source, '([0-9]+)', 1) AS int)")
    val rate = (srcNum % 4 + 1).cast("double") / lit(4.0)
    // ONE scan: kept and total counted side by side via the shared keep
    // expression (the oracle uses the identical one-pass shape)
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(mixKeep(rate), 1)).as("n_kept"),
        max(rate).as("target_rate"))
      .select(col("source"), col("n_docs"), col("n_kept"), col("target_rate"),
        round(col("n_kept").cast("double") / col("n_docs"), 6)
          .as("realized_rate"))
      .orderBy(col("source"))
  }

  val p06Sql: String =
    s"""WITH b AS (
      |  SELECT source,
      |    ${sqlMd5Bucket("doc_id")} AS bucket,
      |    (TRY_CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) % 4 + 1) / 4.0
      |      AS rate
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN bucket < rate * 256 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept,
      |  MAX(rate) AS target_rate,
      |  ROUND(CAST(SUM(CASE WHEN bucket < rate * 256 THEN 1 ELSE 0 END)
      |               AS DOUBLE) / COUNT(*), 6) AS realized_rate
      |FROM b
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** THE deterministic shuffle order key: md5 over a "shuffle:"-prefixed
    * doc id. The prefix puts the shuffle order in a DIFFERENT key space
    * than [[md5Bucket]]'s split/mix decisions — reordering the corpus
    * and (re)splitting it stay independent decisions even though both
    * ride the same hash function. Single owner, like [[md5Bucket]]:
    * p07 and its oracle mirror this formula, change both or neither. */
  def shuffleKey(idCol: Column): Column =
    md5(concat(lit("shuffle:"), idCol.cast("string")))

  /** Deterministic global shuffle → fixed-size training shards: order
    * the corpus by [[shuffleKey]] (a full-strength hash order — the
    * "shuffle the data before training" step, reproducible across
    * runs/engines with no seed state), then cut the order into shards
    * of `shardSize` documents (`pos_in_shard` = offset within the
    * shard, so a shard writer can verify it received a contiguous,
    * complete slice).
    *
    * Scale: the global position is the two-phase
    * [[Cumulative.withCumsumAndRank]] prefix sum (range-partition by
    * the hash key → per-partition window → broadcast prefix offsets) —
    * NOT an unpartitioned row_number, whose single sort task is the
    * classic 100 TB shuffle-writer bottleneck. One range shuffle of
    * (doc_id, 32-byte key) pairs; the shard math is a pure projection
    * on top. A production writer would `partitionBy("shard_id")` (or
    * `repartitionByRange` on it) so each shard lands as one file. */
  def shuffleShards(docs: DataFrame, shardSize: Long): DataFrame =
    Cumulative.withCumsumAndRank(
        docs.select(col("doc_id"), shuffleKey(col("doc_id")).as("__sk")),
        Seq(col("__sk"), col("doc_id")),
        lit(1L), cumName = "__rn") // running count of ones IS the rank
      // integer div, not `/`: double division loses exactness past 2^53
      .withColumn("shard_id", expr(s"(__rn - 1L) div ${shardSize}L").cast("int"))
      .withColumn("pos_in_shard", ((col("__rn") - lit(1L)) % shardSize).cast("int"))
      .select(col("doc_id"), col("shard_id"), col("pos_in_shard"))

  /** p07 — 64-document shards over the hash-shuffled corpus. Hash-gated:
    * DuckDB reproduces the identical md5 order, so every per-document
    * (shard, position) assignment is pinned, not just the shard sizes. */
  def p07ShuffleShards(spark: SparkSession, dir: String): DataFrame =
    shuffleShards(Tables.documents(spark, dir), 64L)
      .orderBy(col("doc_id"))

  val p07Sql: String =
    """WITH r AS (
      |  SELECT doc_id,
      |    ROW_NUMBER() OVER (
      |      ORDER BY md5('shuffle:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents)
      |SELECT doc_id,
      |  CAST((rn - 1) // 64 AS INT) AS shard_id,
      |  CAST((rn - 1) % 64 AS INT) AS pos_in_shard
      |FROM r
      |ORDER BY doc_id""".stripMargin

  /** Temperature-reweighted source sampling rates, derived from the
    * corpus' OWN source shares (p06's rates are handed in; these are
    * computed): the multinomial temperature scheme of the multilingual
    * LM literature, where target shares q_s ∝ p_s^α flatten the source
    * distribution for α < 1. Realized by sampling WITHOUT upsampling —
    * scale the per-source keep rates so the rate-1 source is the one
    * that needs the most relative boost, i.e. the smallest:
    *
    *   rate_s = (q_s/p_s) / max_t(q_t/p_t) = (n_min/n_s)^(1−α)
    *
    * (the Σ p_t^α normalizer cancels — only the per-source counts and
    * their minimum are needed). α = 1 keeps everything (natural
    * distribution); α = 0 equalizes expected kept counts. The rate is
    * rounded to 6 decimals before it meets the md5 bucket (`pow` is
    * the only cross-engine-ulp-risky term — the t11 pin), so every
    * per-document keep decision replays exactly in the oracle.
    *
    * Scale: one tiny source-keyed count aggregate, a 1-row min
    * broadcast onto the per-source frame, and the rate table broadcast
    * back onto the corpus for the same narrow [[mixKeep]] filter as
    * p06 — no extra wide shuffle at any corpus size. */
  def temperatureRates(docs: DataFrame, alpha: Double): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha $alpha outside [0, 1]")
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val mn = counts.agg(min(col("n_docs")).as("__min"))
    counts.crossJoin(broadcast(mn))
      .withColumn("temp_rate", round(
        pow(col("__min").cast("double") / col("n_docs").cast("double"),
          lit(1.0 - alpha)), 6))
      .select(col("source"), col("n_docs"), col("temp_rate"))
  }

  /** p09 — per-source mixing report under α = 0.5 temperature rates:
    * kept counts and realized vs target rates, hash-gated end to end
    * (DuckDB re-derives the rates from the same counts and replays
    * every md5 keep decision). */
  def p09TemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val rates = temperatureRates(docs, 0.5)
    docs.join(broadcast(rates), Seq("source"))
      .groupBy(col("source"))
      .agg(
        max(col("n_docs")).as("n_docs"),   // per-source constant
        max(col("temp_rate")).as("temp_rate"),
        count(when(mixKeep(col("temp_rate")), 1)).as("n_kept"))
      .select(col("source"), col("n_docs"), col("temp_rate"), col("n_kept"),
        round(col("n_kept").cast("double") / col("n_docs"), 6)
          .as("realized_rate"))
      .orderBy(col("source"))
  }

  val p09Sql: String =
    s"""WITH counts AS (
      |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
      |m AS (SELECT MIN(n_docs) AS mn FROM counts),
      |rates AS (
      |  SELECT source, n_docs,
      |         ROUND(POW(CAST(mn AS DOUBLE) / CAST(n_docs AS DOUBLE), 0.5), 6)
      |           AS temp_rate
      |  FROM counts CROSS JOIN m),
      |b AS (
      |  SELECT d.source, r.n_docs, r.temp_rate,
      |    ${sqlMd5Bucket("d.doc_id")} AS bucket
      |  FROM documents d JOIN rates r USING (source))
      |SELECT source, n_docs, temp_rate,
      |  CAST(SUM(CASE WHEN bucket < temp_rate * 256 THEN 1 ELSE 0 END)
      |       AS BIGINT) AS n_kept,
      |  ROUND(CAST(SUM(CASE WHEN bucket < temp_rate * 256 THEN 1 ELSE 0 END)
      |               AS DOUBLE) / n_docs, 6) AS realized_rate
      |FROM b
      |GROUP BY source, n_docs, temp_rate
      |ORDER BY source""".stripMargin

  /** THE deterministic stratification key: md5 over a "strat:"-prefixed
    * doc id — its own key space, independent of [[md5Bucket]] (split/
    * mix) and [[shuffleKey]] (order), same single-owner rule: p08 and
    * its oracle mirror this formula, change both or neither. */
  def stratKey(idCol: Column): Column =
    md5(concat(lit("strat:"), idCol.cast("string")))

  /** Per-stratum holdout with EXACT quotas: within every stratum
    * (source), rank documents by [[stratKey]] and take the first
    * ⌊n/10⌋ as validation — each stratum contributes precisely its
    * 10%, unlike a Bernoulli split whose per-stratum fraction wobbles
    * (and whose small strata can land 0 or 2× held-out docs). The
    * quota compare is integer (`rank*10 <= n`), so both engines decide
    * every document identically — no float ceil at the boundary.
    *
    * Scale: strata are domains — a web crawl's biggest domain is
    * billions of documents, so `Window.partitionBy(source)` (one task
    * per stratum) is the classic skew trap. The rank rides
    * [[Cumulative.withGroupedRank]]: range-partition on
    * (source, key) → per-partition local ranks → broadcast per-group
    * prefix offsets — a giant stratum spans many partitions and every
    * task holds a bounded slice. */
  def stratifiedSplit(docs: DataFrame): DataFrame =
    Cumulative.withGroupedRank(
        docs.select(col("doc_id"), col("source"),
          stratKey(col("doc_id")).as("__sk")),
        Seq(col("source")), Seq(col("__sk"), col("doc_id")),
        rankName = "strat_rank", totName = "__n")
      .withColumn("split",
        when(col("strat_rank") * lit(10L) <= col("__n"), lit("val"))
          .otherwise(lit("train")))
      .select(col("doc_id"), col("source"), col("strat_rank"), col("split"))

  /** p08 — the per-source 90/10 stratified split. Hash-gated: DuckDB
    * reproduces the identical md5 order, so every per-document
    * (rank, split) assignment is pinned, not just the quotas. */
  def p08StratifiedSplit(spark: SparkSession, dir: String): DataFrame =
    stratifiedSplit(Tables.documents(spark, dir))
      .orderBy(col("doc_id"))

  val p08Sql: String =
    """WITH r AS (
      |  SELECT doc_id, source,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR)), doc_id) AS rnk,
      |    COUNT(*) OVER (PARTITION BY source) AS n
      |  FROM documents)
      |SELECT doc_id, source, rnk AS strat_rank,
      |  CASE WHEN rnk * 10 <= n THEN 'val' ELSE 'train' END AS split
      |FROM r
      |ORDER BY doc_id""".stripMargin

  /** p10 — leakage-safe train/val/test split: the p04 hash split with
    * one repair — near-duplicate documents NEVER straddle a split
    * boundary. A plain per-document split leaks test answers into
    * training whenever a test doc has a near-dup twin in train (the
    * classic eval-contamination path t13 only *measures*); here the
    * whole near-dup CLUSTER (connected components over the exact
    * jaccard ≥ 0.8 pairs, transitively) is assigned as one unit, keyed
    * by the md5 bucket of its head (min doc_id). Singletons keep their
    * own-id bucket, so p10 degrades to p04 exactly on a dup-free
    * corpus, and an existing document's assignment never changes when
    * the corpus grows — unless a new duplicate genuinely links it into
    * a cluster, which is precisely when it SHOULD move.
    *
    * `regrouped` flags the docs whose naive p04 split was overridden —
    * the leakage events the repair closed.
    *
    * Scale (100 TB): [[Dedup.jaccardPairs]]' posting-list join (at
    * deployment scale, d03's LSH pairs — identical schema, see d09) +
    * per-round 16-byte label shuffles for the components + ONE
    * hash-join of labels (pair-participants only — a tiny fraction of
    * the corpus) back to docs; the split itself stays a narrow
    * projection, same as p04. */
  def p10LeakageSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val labels = Dedup.dupClusters(
      Dedup.jaccardPairs(docs.select(col("doc_id"), col("text")), 0.8)
        .select(col("id_a"), col("id_b")))
    val head = coalesce(col("lbl"), col("doc_id"))
    docs.join(labels, docs("doc_id") === labels("node"), "left")
      .select(col("doc_id"), head.as("head_id"),
        splitOf(md5Bucket(head)).as("split"),
        (splitOf(md5Bucket(head)) =!=
          splitOf(md5Bucket(col("doc_id")))).as("regrouped"))
      .orderBy(col("doc_id"))
  }

  // d09's recursive-CTE transitive closure feeding p04's md5 decode,
  // applied to the cluster head — per-document assignments pinned.
  val p10Sql: String =
    s"""WITH RECURSIVE sh AS (
      |  ${Dedup.sqlShingles("documents")}),
      |${Dedup.sqlScoredPairs},
      |pairs AS (SELECT id_a, id_b FROM scored WHERE jaccard >= 0.8),
      |${Dedup.sqlClosure},
      |heads AS (
      |  SELECT d.doc_id, COALESCE(l.lbl, d.doc_id) AS head_id
      |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.node),
      |bk AS (
      |  SELECT doc_id, head_id,
      |    ${sqlMd5Bucket("head_id")} AS hb,
      |    ${sqlMd5Bucket("doc_id")} AS ob
      |  FROM heads)
      |SELECT doc_id, head_id,
      |  ${sqlSplitOf("hb")} AS split,
      |  (${sqlSplitOf("hb")}) <>
      |  (${sqlSplitOf("ob")}) AS regrouped
      |FROM bk
      |ORDER BY doc_id""".stripMargin

  /** p11 — curriculum ordering: the schedule a curriculum-learning run
    * consumes. Documents are binned by the t02 quality heuristic
    * (highest bin first — train on clean data early), deterministically
    * shuffled WITHIN each bin by md5(doc_id) (a seedless, engine-stable
    * shuffle — same discipline as the p04 split), and assigned a
    * GLOBAL curriculum rank plus the running token total (the "how many
    * tokens has the model seen by this position" schedule axis).
    *
    * Scale: the global rank/cumsum is [[Cumulative.withCumsumAndRank]]'s
    * two-phase range-partitioned form — per-partition windows + a
    * broadcast of per-partition offsets — NOT a single-partition
    * window; the bin and shuffle keys are narrow projections. Quality
    * thresholds compare the bit-identical cross-engine quality double
    * (t02's hash gate is the proof), so every bin decision replays. */
  def p11CurriculumOrder(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val scored = docs.select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"),
      TextAnalysis.qualityScore(col("text")).as("q"))
      .withColumn("bin",
        when(col("q") >= 0.8, 4).when(col("q") >= 0.6, 3)
          .when(col("q") >= 0.4, 2).when(col("q") >= 0.2, 1).otherwise(0))
      .withColumn("shuf", md5(col("doc_id").cast("string")))
    Cumulative.withCumsumAndRank(scored,
      Seq(col("bin").desc, col("shuf").asc, col("doc_id").asc),
      col("n_tok"), cumName = "cum_tokens", rankName = "curriculum_rank")
      .select(col("doc_id"), col("bin"), col("curriculum_rank"),
        col("cum_tokens").cast("long").as("cum_tokens"))
      .orderBy(col("curriculum_rank"))
  }

  val p11Sql: String = {
    import TextAnalysis.sqlQuality
    s"""WITH s AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |    $sqlQuality AS q,
       |    md5(CAST(doc_id AS VARCHAR)) AS shuf
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, n_tok, shuf,
       |    CASE WHEN q >= 0.8 THEN 4 WHEN q >= 0.6 THEN 3
       |         WHEN q >= 0.4 THEN 2 WHEN q >= 0.2 THEN 1 ELSE 0 END AS bin
       |  FROM s)
       |SELECT doc_id, bin,
       |  CAST(ROW_NUMBER() OVER w AS INT) AS curriculum_rank,
       |  CAST(SUM(n_tok) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
       |                          AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |FROM b
       |WINDOW w AS (ORDER BY bin DESC, shuf, doc_id)
       |ORDER BY curriculum_rank""".stripMargin
  }

  /** p12 — the FULL pre-training data path as one judged job, the
    * composition the pipeline modules exist for:
    *
    *   leakage-safe split (p10: near-dup clusters assigned as units)
    *   → semantic test-set decontamination of TRAIN (d16's cross-only
    *     candidate stage against THIS split: every train doc at cosine
    *     ≥ 0.45 to any held-out doc is dropped — the eval-leak d16
    *     reports per held-out vector, here closed on the train side)
    *   → curriculum ordering of the surviving train corpus (p11's
    *     quality bins, md5 shuffle, global rank + token schedule).
    *
    * One output frame: the ordered training corpus a run would consume,
    * with every upstream decision (cluster labels, split buckets,
    * contamination drops, bins, ranks, token cumsum) pinned by the
    * hash gate — a defect anywhere in the chain moves some row.
    *
    * Scale: each stage is its gate query's own plan (posting-list pair
    * join + O(log n) clustering; cross-only LSH candidates; two-phase
    * global cumsum) — composing them adds no new shuffle shape. The
    * split frame is the one multi-consumer intermediate (contamination
    * join sides + the survivor filter), so it alone is eagerly
    * materialized. */
  def p12PretrainCorpus(spark: SparkSession, dir: String): DataFrame =
    p12Body(spark, dir, maxShingleFreq = None)

  /** p12 with the 100 TB pair-stage swap engaged: the d08 hot-shingle
    * cap bounds the posting-list fan-out of stage 1's Jaccard join —
    * the ONE quadratic-onset stage in the composition (the d02-vs-d08
    * scaling curves; everything downstream is cross-only LSH + the
    * two-phase rank, both ~linear). At gate SF the cap is LOSSLESS
    * (row-identical to the uncapped gate form — pinned in
    * PipelineSpec, the d08-vs-d02 precedent applied at the pipeline
    * level); at x100 it is what keeps the job off the d02 curve
    * (measured rows in dev/scaling.md). Not a separate gate query —
    * the gate stays the oracle-parity uncapped form. */
  def p12PretrainCorpusCapped(spark: SparkSession, dir: String): DataFrame =
    p12Body(spark, dir, maxShingleFreq = Some(8L))

  /** The capped p12 with the decontam stage's band-at-a-time execution
    * engaged (round 15) — the x1000 completion path: the cross-only
    * candidate join (p12's one measured disk wall) runs one band group
    * at a time, peak spill ÷ bandChunks, result row-identical (the
    * crossSplitContamination chunked == unchunked pin). ScalingBench
    * row only; the gate stays the single-pass oracle-parity form. */
  def p12PretrainCorpusChunked(bandChunks: Int)(
      spark: SparkSession, dir: String): DataFrame =
    p12Body(spark, dir, maxShingleFreq = Some(8L), bandChunks = bandChunks)

  private def p12Body(spark: SparkSession, dir: String,
                      maxShingleFreq: Option[Long],
                      bandChunks: Int = 1): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    // 1. leakage-safe split — p10's exact assignment (cluster head's
    // md5 bucket; singletons keep their own id)
    val labels = Dedup.dupClusters(
      Dedup.jaccardPairs(docs.select(col("doc_id"), col("text")), 0.8,
          maxShingleFreq = maxShingleFreq)
        .select(col("id_a"), col("id_b")))
    val head = coalesce(col("lbl"), col("doc_id"))
    val split = docs.join(labels, docs("doc_id") === labels("node"), "left")
      .select(col("doc_id").as("vec_id"), splitOf(md5Bucket(head)).as("sp"))
      .localCheckpoint(true)
    // 2. semantic decontamination: drop every train doc contaminated
    // by a held-out doc under THIS split (the doc/vec id domains are
    // the shared fixture ids)
    val contaminated = Dedup.crossSplitContamination(emb, split, 0.45,
        bandChunks = bandChunks)
      .select(col("train_id").as("doc_id")).distinct()
    // 3. p11's curriculum over the decontaminated train corpus
    val train = docs
      .join(split.filter(col("sp") === "train")
        .select(col("vec_id").as("doc_id")), Seq("doc_id"))
      .join(contaminated, Seq("doc_id"), "left_anti")
    // layout-adaptive spread before the regex-heavy scoring projection
    // (round 16 — the t14 rationale): tokenCount + qualityScore
    // otherwise pipeline on the 1-task gate scan through the broadcast
    // joins (a measured 0.77 s single-task stage); identity at scale.
    // The narrowness probe reads the DOCS SCAN, not the derived join —
    // probing `train` itself would materialize the whole decontam
    // chain under AQE (ScalePolicy.spreadIfNarrow doc).
    val scored = graft.ScalePolicy.spreadIfNarrow(train, col("doc_id"),
        scan = Some(docs)).select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"),
      TextAnalysis.qualityScore(col("text")).as("q"))
      .withColumn("bin",
        when(col("q") >= 0.8, 4).when(col("q") >= 0.6, 3)
          .when(col("q") >= 0.4, 2).when(col("q") >= 0.2, 1).otherwise(0))
      .withColumn("shuf", md5(col("doc_id").cast("string")))
    Cumulative.withCumsumAndRank(scored,
      Seq(col("bin").desc, col("shuf").asc, col("doc_id").asc),
      col("n_tok"), cumName = "cum_tokens", rankName = "curriculum_rank")
      .select(col("doc_id"), col("bin"), col("curriculum_rank"),
        col("cum_tokens").cast("long").as("cum_tokens"))
      .orderBy(col("curriculum_rank"))
  }

  /** p10's recursive closure + split decode, the exact cross-split
    * cosine scan (the d16 oracle's rule under the p10 split), and
    * p11's window — the whole pipeline replayed. */
  val p12Sql: String = {
    import TextAnalysis.sqlQuality
    s"""WITH RECURSIVE sh AS (
       |  ${Dedup.sqlShingles("documents")}),
       |${Dedup.sqlScoredPairs},
       |pairs AS (SELECT id_a, id_b FROM scored WHERE jaccard >= 0.8),
       |${Dedup.sqlClosure},
       |sp AS (
       |  SELECT doc_id,
       |    ${sqlSplitOf("hb")} AS split
       |  FROM (SELECT d.doc_id,
       |          ${sqlMd5Bucket("COALESCE(l.lbl, d.doc_id)")} AS hb
       |        FROM documents d LEFT JOIN labels l ON d.doc_id = l.node)),
       |h AS (SELECT e.vec_id, e.embedding
       |      FROM embeddings e JOIN sp ON sp.doc_id = e.vec_id
       |      WHERE sp.split <> 'train'),
       |r AS (SELECT e.vec_id, e.embedding
       |      FROM embeddings e JOIN sp ON sp.doc_id = e.vec_id
       |      WHERE sp.split = 'train'),
       |contaminated AS (
       |  SELECT DISTINCT r.vec_id AS doc_id
       |  FROM h JOIN r
       |    ON list_cosine_similarity(h.embedding::DOUBLE[],
       |                              r.embedding::DOUBLE[]) >= 0.45),
       |train AS (
       |  SELECT d.doc_id, d.text
       |  FROM documents d JOIN sp ON sp.doc_id = d.doc_id
       |  WHERE sp.split = 'train'
       |    AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)),
       |s AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |    $sqlQuality AS q,
       |    md5(CAST(doc_id AS VARCHAR)) AS shuf
       |  FROM train),
       |b AS (
       |  SELECT doc_id, n_tok, shuf,
       |    CASE WHEN q >= 0.8 THEN 4 WHEN q >= 0.6 THEN 3
       |         WHEN q >= 0.4 THEN 2 WHEN q >= 0.2 THEN 1 ELSE 0 END AS bin
       |  FROM s)
       |SELECT doc_id, bin,
       |  CAST(ROW_NUMBER() OVER w AS INT) AS curriculum_rank,
       |  CAST(SUM(n_tok) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
       |                          AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |FROM b
       |WINDOW w AS (ORDER BY bin DESC, shuf, doc_id)
       |ORDER BY curriculum_rank""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // p13 — the RETRIEVAL-corpus build (the RAG twin of p12's pretrain
  // path): chunk every document into t25's overlapping windows, drop
  // BOILERPLATE chunks (chunk content recurring across > maxDocFreq
  // distinct documents — headers/footers/navigation, the population
  // RefinedWeb-style line dedup targets, here at chunk granularity),
  // exact-dedup the survivors to their first occurrence under the
  // (doc_id, chunk_id) total order, and quality-filter on the t02
  // heuristic over the CHUNK text (a document's good prose keeps its
  // chunks even when a sibling chunk is digit-soup). Output: the
  // surviving chunk manifest — the frame a RAG pipeline hands to the
  // embedder.
  //
  // Scale shape: chunking is one projection + one bounded explode
  // (t25); the boilerplate count and keep-first window both key on
  // chunk_md5 — one hash-shuffle partitioning reused by the join and
  // the window, no global window, nothing driver-side. Every stage is
  // deterministic (md5 identity, integer counts, the t24-precedent
  // engine-identical quality doubles), so the whole composition
  // hash-gates: the oracle rebuilds chunks through the SHARED t25 CTE
  // chain and replays frequency, dedup and quality verbatim.
  // ---------------------------------------------------------------------------
  def ragCorpus(docs: DataFrame, window: Int, stride: Int,
                maxDocFreq: Long, minQuality: Double): DataFrame = {
    val chunks = TextAnalysis.chunkRaw(docs, window, stride)
      // chunk text materialized ONCE; everything downstream reads it
      .select(col("doc_id"), col("chunk_id"),
        size(col("ct")).as("n_tokens"),
        array_join(col("ct"), " ").as("text"))
      .withColumn("chunk_md5", md5(col("text").cast("binary")))
      .withColumn("q", TextAnalysis.qualityScore(col("text")))
      // two consumers (docFreq aggregate + join probe side) — without
      // this the tokenize/explode/md5/quality pipeline executes twice
      // per run (the p02 multi-consumer rule)
      .localCheckpoint(true)
    val docFreq = chunks
      .groupBy(col("chunk_md5"))
      .agg(countDistinct(col("doc_id")).as("docs"))
    chunks
      .join(docFreq, Seq("chunk_md5"))
      .filter(col("docs") <= maxDocFreq && col("q") >= minQuality)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("chunk_md5"))
          .orderBy(col("doc_id"), col("chunk_id"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("chunk_id"), col("n_tokens"),
        col("chunk_md5"))
  }

  /** p13's dials — single owners interpolated into BOTH the gate
    * function and [[p13Sql]] (the p02 `$minQuality` discipline), so a
    * retune cannot desynchronize the two sides of the hash gate.
    * Deliberately NOT [[minQuality]]: p02 scores whole documents,
    * p13 scores 64-token chunks — same value today, different dial. */
  val ragMaxDocFreq = 2L
  val ragMinQuality = 0.35

  /** p13 at t25's 64/48 windows; boilerplate bar [[ragMaxDocFreq]]
    * distinct docs, quality bar [[ragMinQuality]] (≈ the corpus
    * median — both bars bite at gate SF: the fixture carries one
    * 3-doc boilerplate chunk, six 2-doc duplicated chunks, and a
    * ~half-splitting quality spread). */
  def p13RagCorpus(spark: SparkSession, dir: String): DataFrame =
    ragCorpus(Tables.documents(spark, dir), 64, 48,
      maxDocFreq = ragMaxDocFreq, minQuality = ragMinQuality)
      .orderBy(col("doc_id"), col("chunk_id"))

  val p13Sql: String = {
    import TextAnalysis.sqlQuality
    s"""WITH ${TextAnalysis.chunkCtesSql(64, 48)},
       |ch AS (
       |  SELECT doc_id, chunk_id, CAST(len(ct) AS INT) AS n_tokens,
       |         array_to_string(ct, ' ') AS text
       |  FROM c),
       |sc AS MATERIALIZED (
       |  SELECT doc_id, chunk_id, n_tokens,
       |         md5(text) AS chunk_md5, $sqlQuality AS q
       |  FROM ch),
       |df AS (
       |  SELECT chunk_md5, COUNT(DISTINCT doc_id) AS docs
       |  FROM sc GROUP BY 1),
       |kept AS (
       |  SELECT sc.doc_id, sc.chunk_id, sc.n_tokens, sc.chunk_md5
       |  FROM sc JOIN df USING (chunk_md5)
       |  WHERE df.docs <= $ragMaxDocFreq AND sc.q >= $ragMinQuality),
       |firsts AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY chunk_md5
       |           ORDER BY doc_id, chunk_id) AS rn
       |  FROM kept)
       |SELECT doc_id, chunk_id, n_tokens, chunk_md5
       |FROM firsts WHERE rn = 1
       |ORDER BY doc_id, chunk_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p02_pipeline_funnel" -> p02PipelineFunnel _,
    "p04_hash_split"      -> p04HashSplit _,
    "p06_source_mix"      -> p06SourceMix _,
    "p07_shuffle_shards"  -> p07ShuffleShards _,
    "p08_stratified_split" -> p08StratifiedSplit _,
    "p09_temperature_mix" -> p09TemperatureMix _,
    "p10_leakage_safe_split" -> p10LeakageSafeSplit _,
    "p11_curriculum_order" -> p11CurriculumOrder _,
    "p12_pretrain_corpus" -> p12PretrainCorpus _,
    "p13_rag_corpus"      -> p13RagCorpus _,
  )

  val oracles: Map[String, String] = Map(
    "p02_pipeline_funnel" -> p02Sql,
    "p04_hash_split"      -> p04Sql,
    "p06_source_mix"      -> p06Sql,
    "p07_shuffle_shards"  -> p07Sql,
    "p08_stratified_split" -> p08Sql,
    "p09_temperature_mix" -> p09Sql,
    "p10_leakage_safe_split" -> p10Sql,
    "p11_curriculum_order" -> p11Sql,
    "p12_pretrain_corpus" -> p12Sql,
    "p13_rag_corpus"      -> p13Sql,
  )
}
