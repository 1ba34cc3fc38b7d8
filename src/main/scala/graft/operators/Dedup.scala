package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DoubleType

import graft.Tables
import graft.functions.VectorOps

/** Deduplication operators for the training-data pipeline: exact,
  * n-gram Jaccard (exact pairwise via shingle inverted index),
  * MinHash+LSH (band/bucket candidate generation + exact verification),
  * SimHash (64-bit fingerprint + pigeonhole banding), and
  * embedding-cosine near-dup.
  *
  * All hashing uses Spark's built-in `xxhash64` (codegen'd, fixed seed
  * 42) so signatures are deterministic across runs and executors.
  *
  * Scale notes (100 TB):
  *  - The shingle inverted-index join is the standard exact algorithm;
  *    its hazard is hot shingles (a shingle shared by millions of docs
  *    makes the self-join quadratic). `maxShingleFreq` drops
  *    super-common shingles before the join — the same trick as
  *    stop-word removal in suffix-array dedup pipelines.
  *  - MinHash+LSH is the sub-quadratic path: candidates are generated
  *    by equality joins on (band, bandHash) — a plain shuffle join that
  *    AQE handles — and only candidates pay the exact-verify cost.
  *  - SimHash pairs use 4×16-bit pigeonhole bands, so hamming≤3
  *    candidates are equality-join discoverable, never all-pairs.
  */
object Dedup {

  // -- exact ------------------------------------------------------------------

  /** Keep exactly one row per key (lowest tieBreaker), preserving all
    * columns. One shuffle on the key columns. */
  def exact(df: DataFrame, keys: Seq[String], tieBreaker: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tieBreaker))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  // -- shingling --------------------------------------------------------------

  /** Word n-gram length of every document shingle (the d-family gates
    * and their oracles all shingle 3-grams). */
  val shingleN = 3

  /** Distinct word n-gram shingles from an ALREADY-MATERIALIZED token
    * array column. The token column must come through a projection
    * boundary (an attribute, not an inline `split(...)`): higher-order
    * lambdas are interpreted, so an embedded split would re-tokenize
    * the whole document on every element access — measured 3-5× the
    * total cost of the dedup pipeline. A doc shorter than n tokens
    * contributes its whole text as a single shingle. */
  def shingleTokens(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (1 to n).map(k => element_at(toks, i + k)): _*))))
      .otherwise(array(concat_ws(" ", toks)))

  /** DuckDB text of [[docShingles]] for the body of an `sh` (doc_id,
    * shingle) CTE over `src`'s (doc_id, text): distinct word 3-grams,
    * and a doc shorter than 3 tokens as its whole text, the
    * [[shingleTokens]] rule. */
  def sqlShingles(src: String): String =
    s"""SELECT DISTINCT doc_id,
       |         w[i.i] || ' ' || w[i.i+1] || ' ' || w[i.i+2] AS shingle
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM $src
       |        WHERE len(string_split(text, ' ')) >= 3)
       |  CROSS JOIN LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i) i
       |  UNION ALL
       |  SELECT doc_id, text AS shingle FROM $src
       |  WHERE len(string_split(text, ' ')) < 3""".stripMargin

  /** (doc_id, tokens) with the split materialized once per row — and,
    * when the scan layout is narrower than the shuffle width, spread
    * first (round 15): tokenize + shingle-explode + the map-side
    * partial aggregation above every posting shuffle otherwise pipeline
    * on the document SCAN, whose parallelism is the input's split count
    * (one task on a single-row-group file — measured as the dominant
    * cost of the whole d02 family). On an already-wide layout this is
    * the identity — no extra pass of the heaviest column (round 16).
    * A `docs` derived from the scan (a semi-join) names that `scan` for
    * the layout probe. */
  private def tokenized(docs: DataFrame,
                        scan: Option[DataFrame] = None): DataFrame =
    graft.ScalePolicy.spreadIfNarrow(docs, col("doc_id"), scan)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))

  /** (doc_id, shingle) exploded. The hot-shingle cap (scale guard —
    * see class doc) is [[pairIntersections]]' posting-list filter.
    *
    * `shingle` is the xxhash64 of the n-gram STRING, hashed in the
    * projection right after the explode: every downstream shuffle
    * (posting-list groupBy, pair expansion, size joins) carries
    * 16-byte (long, long) rows instead of full n-gram strings — at
    * 3-gram × ~7-byte words that is ~2× fewer shuffle bytes, and the
    * sort/hash comparisons inside the exchanges become single-word
    * compares. A 64-bit collision merely merges two posting lists
    * (birthday-bounded: P ≈ m²/2⁶⁵ over m distinct shingles — ~3e-8
    * even at 10⁹ shingles), and the probabilistic paths re-verify
    * candidates against exact text anyway. */
  def docShingles(docs: DataFrame): DataFrame =
    tokenized(docs)
      .select(col("doc_id"), explode(shingleTokens(col("toks"), shingleN)).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("shingle"))

  // -- exact n-gram Jaccard ---------------------------------------------------

  /** All pairs with shingle-Jaccard ≥ threshold, exact up to 64-bit
    * shingle-hash collisions (negligible — see [[docShingles]]) — the
    * oracle-checkable baseline the probabilistic variants are validated
    * against. Pair generation goes through posting lists
    * (shingle → sorted doc list → in-list combinations) rather than a
    * self-join: one shuffle of the shingle frame instead of two, and
    * the quadratic blow-up is confined to each posting list, which
    * `maxShingleFreq` caps at scale. */
  def jaccardPairs(docs: DataFrame, threshold: Double,
                   maxShingleFreq: Option[Long] = None): DataFrame =
    pairIntersections(docs, maxShingleFreq)
      .withColumn("jaccard",
        col("inter").cast(DoubleType) /
          (col("sz_a") + col("sz_b") - col("inter")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** DuckDB text of [[pairIntersections]] and [[jaccardPairs]]' score
    * over an `sh` (doc_id, shingle) CTE ([[sqlShingles]]): the CTEs
    * `sizes` (doc_id, sz), `inter` (id_a < id_b, c = shared shingles)
    * and `scored` (id_a, id_b, c, sz_a, sz_b, jaccard). Oracles filter
    * or select `scored`; none joins `sizes` itself. */
  val sqlScoredPairs: String =
    """sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT id_a, id_b, c, sa.sz AS sz_a, sb.sz AS sz_b,
      |         CAST(c AS DOUBLE) / CAST(sa.sz + sb.sz - c AS DOUBLE) AS jaccard
      |  FROM inter
      |    JOIN sizes sa ON id_a = sa.doc_id
      |    JOIN sizes sb ON id_b = sb.doc_id)""".stripMargin

  /** The shared pair frame under every exact shingle-overlap scorer:
    * (id_a < id_b, inter, sz_a, sz_b) for every doc pair sharing at
    * least one surviving shingle. Jaccard, containment, and the
    * incremental variants differ only in how they normalize `inter`. */
  private def pairIntersections(docs: DataFrame,
                                maxShingleFreq: Option[Long]): DataFrame = {
    // postings grouped ONCE by shingle (round 15): the per-shingle doc
    // list's LENGTH *is* the shingle's document frequency, so the hot-
    // shingle cap is a filter on size(ds) — the capped path used to pay
    // a separate hot-count aggregation plus an anti-join and then
    // re-group the survivors. The spread on the grouping key pins the
    // width AQE would otherwise coalesce away (the posting frame is
    // small in BYTES but the in-list pair expansion below is the
    // quadratic cost of the whole family — it must not run on one
    // core); it is the same single shuffle the groupBy needed anyway.
    val ds = col("ds")
    val lists = graft.ScalePolicy.spread(docShingles(docs), col("shingle"))
      .groupBy(col("shingle"))
      .agg(collect_list(col("doc_id")).as("ds"))
      .transform(l => maxShingleFreq.fold(l)(lim => l.filter(size(ds) <= lim)))
      .localCheckpoint(true)
    // per-doc set size FROM THE POSTING LISTS (round 15): a doc's
    // surviving-shingle count is exactly its posting occurrences —
    // uncapped it equals size(shingleTokens(toks)) because per-doc
    // shingles are array_distinct'd before the explode. Deriving it
    // from the materialized lists frame (a) reuses the one tokenize
    // pass instead of re-tokenizing per join side, and (b) keeps the
    // score filter's inferred isnotnull(sz) constraint OFF the scan —
    // Catalyst was pushing the entire interpreted shingle HOF into the
    // document scan as a DataFilter, where it re-ran single-task per
    // sizes branch (measured as d02's residual 4.3 s one-task stage).
    // The lists frame has two consumers (sizes + pairs) — checkpointed
    // once, post-cap.
    val sizes = lists.select(explode(ds).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    // pairs: every doc pair sharing this shingle, ordered id_a < id_b.
    // Pair expansion is TWO generator explodes (posexplode the left
    // element, explode the list's tail slice for its partners) — both
    // codegen'd Generates — rather than nested transform/flatten HOFs,
    // whose interpreted per-element lambda dispatch measured ~25% slower
    // on the same 1.1M-pair expansion. The list stays UNSORTED (each
    // unordered pair still appears exactly once — postings are distinct
    // doc ids); id_a < id_b comes from least/greatest at emit time,
    // trading the per-list O(k log k) sort + array copy for O(1) per
    // pair.
    // the pair-count exchange is ALSO width-pinned: the pair frame is
    // ~24 B/row, so AQE coalesces its ENSURE exchange to one partition
    // and the count + size-joins + score filter over the million-pair
    // frame serialize (measured: d02's residual 3.1 s one-task stage)
    val inter = graft.ScalePolicy.spread(
        lists
          .filter(size(ds) > 1)
          .select(posexplode(ds).as(Seq("i", "a")), ds)
          .select(col("a"),
            explode(slice(ds, col("i") + lit(2), size(ds))).as("b"))
          .select(least(col("a"), col("b")).as("id_a"),
            greatest(col("a"), col("b")).as("id_b")),
        col("id_a"), col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("id_b") === col("sb.doc_id"))
      .select(col("id_a"), col("id_b"), col("inter"),
        col("sa.sz").as("sz_a"), col("sb.sz").as("sz_b"))
  }

  /** All pairs with one-sided shingle CONTAINMENT ≥ threshold:
    * c(A,B) = |A∩B| / min(|A|,|B|) — the subset-duplicate detector
    * Jaccard structurally misses. A short document embedded verbatim in
    * a much longer one (a quote, a boilerplate block, a doc + appended
    * noise) has jaccard ≈ |A|/|B| → 0 as the host grows, but
    * containment stays ≈ 1: the smaller side's gram set is covered.
    * Same inverted-index pair frame as [[jaccardPairs]] — identical
    * shuffle shape, identical `maxShingleFreq` 100 TB guard — only the
    * normalizer changes, so everything the d02/d08 scale analysis says
    * carries over verbatim. */
  def containmentPairs(docs: DataFrame, threshold: Double): DataFrame =
    pairIntersections(docs, None)
      .withColumn("containment",
        col("inter").cast(DoubleType) /
          least(col("sz_a"), col("sz_b")).cast(DoubleType))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))

  // -- MinHash + LSH ----------------------------------------------------------

  /** numHashes hash functions: one INDEPENDENT xxhash64 per band, with
    * the band's rows derived from it by a two-hash linear family
    * g_i(x) = (a + i·b) mod 2³² (a/b the 32-bit halves, b forced odd —
    * the Kirsch–Mitzenmacher construction). The banding miss-probability
    * analysis ((1-J^r)^B) needs independence BETWEEN bands, which the
    * per-band hashes provide; within a band the r=4 rows only need
    * approximate min-wise behavior, where the linear family is the
    * standard practical choice. numBands hash evaluations per shingle
    * row instead of numHashes; 32-bit arithmetic keeps every product
    * < 2⁴⁰, overflow-free under ANSI mode, and fully codegen'd. */
  final case class MinHashParams(numHashes: Int = 128, bandRows: Int = 4) {
    require(numHashes % bandRows == 0, "numHashes must divide into bands")
    val numBands: Int = numHashes / bandRows
  }

  /** One row per doc: doc_id, m0..m{k-1} minhash signature columns.
    *
    * The explicit repartition on doc_id puts each document on one task
    * BEFORE aggregating, so the exchange carries raw (doc_id, h) rows
    * (~16 B each) instead of per-partition partial buffers of
    * numHashes longs per document (which, at 128 hashes × partitions,
    * is an order of magnitude more shuffle bytes — measured ~40% of
    * d03's runtime). The groupBy then satisfies its distribution
    * requirement from the repartition: one shuffle total. */
  def signatures(docs: DataFrame, p: MinHashParams = MinHashParams()): DataFrame = {
    val mask = lit(0xFFFFFFFFL)
    // shuffle carries only (doc_id, h) — 16 B/row; h IS docShingles'
    // hashed shingle (64-bit collisions are birthday-bounded and merely
    // merge two shingles' minhash contributions — harmless). The
    // numBands band hashes are derived AFTER the exchange from h, so
    // band independence costs no shuffle bytes. They are materialized
    // in a post-shuffle projection because codegen does not share
    // subexpressions ACROSS aggregate update expressions — referencing
    // attributes keeps it at numBands hash evaluations per row instead
    // of numHashes.
    val sh = docShingles(docs)
      .withColumnRenamed("shingle", "h")
      .repartition(col("doc_id"))
      .select(col("doc_id") +: (0 until p.numBands).map { bnd =>
        xxhash64(col("h"), lit(bnd)).as(s"hb$bnd")
      }: _*)
    val mins = (0 until p.numHashes).map { i =>
      val bnd = i / p.bandRows
      val row = i % p.bandRows
      val a = col(s"hb$bnd").bitwiseAND(mask)
      val b = shiftrightunsigned(col(s"hb$bnd"), 32).bitwiseOR(lit(1L))
      min((a + lit(row.toLong) * b).bitwiseAND(mask)).as(s"m$i")
    }
    sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** (doc_id, band, bucket) — one row per signature band, the LSH
    * equality-join key. */
  private[operators] def bandBuckets(sig: DataFrame, p: MinHashParams): DataFrame = {
    val bandCols = (0 until p.numBands).map { bnd =>
      val rows = (0 until p.bandRows).map(r => col(s"m${bnd * p.bandRows + r}"))
      xxhash64(lit(bnd) +: rows: _*)
    }
    sig.select(col("doc_id"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bucket")))
  }

  /** Drop (band, bucket) groups holding more than `limit` members
    * before a candidate self-join — the bucket-level analog of
    * `maxShingleFreq`. A degenerate bucket of k docs costs k²/2
    * candidate rows, and at 100 TB a boilerplate-heavy corpus (license
    * headers, templated pages) concentrates millions of docs into a few
    * buckets; the cap bounds every bucket's pair contribution at
    * limit²/2.
    *
    * Recall consequence (documented, deliberate): a true pair is lost
    * only if EVERY band bucket it shares is over the cap. Near-dup
    * pairs at j ≥ threshold share ~all bands, and a band bucket's
    * population is essentially its duplicate-cluster size (an unrelated
    * doc lands in the bucket only with probability jᵇᵃⁿᵈ_ʳᵒʷˢ), so the
    * cap loses pairs only inside duplicate CLUSTERS larger than
    * `limit` — exactly the boilerplate blobs a dedup pass wants to
    * handle by cluster-level policy rather than pairwise enumeration.
    * Set the cap above the expected organic cluster size. */
  private[graft] def capBuckets(buckets: DataFrame, maxBucketSize: Option[Long]): DataFrame =
    maxBucketSize match {
      case None => buckets
      case Some(limit) =>
        // materialize ONCE before fanning out: the frame is consumed
        // twice (population count + anti-join probe side) and the two
        // consumers' exchange subtrees differ (partial-agg vs plain),
        // so ReuseExchange never fires and the whole upstream signature
        // pipeline — the expensive part — would execute twice. The
        // checkpoint holds only (doc_id, band, bucket) rows, 24 B each.
        // Measured on d11 at sf0.1: 4.78s → ~3.6s.
        val b = buckets.localCheckpoint(true)
        val hot = b.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("pop"))
          .filter(col("pop") > limit)
          .select(col("band"), col("bucket"))
        b.join(hot, Seq("band", "bucket"), "left_anti")
    }

  /** Candidate pairs: docs sharing ≥1 LSH band bucket. `maxBucketSize`
    * engages the hot-bucket scale guard ([[capBuckets]]). */
  def lshCandidates(sig: DataFrame,
                    maxBucketSize: Option[Long] = None): DataFrame = {
    // materialize before the self-join: the two sides' exchange
    // subtrees are alias-identical but ReuseExchange does not reliably
    // fire across the aggregate upstream, so an unmaterialized frame
    // executes the signature pipeline once per side (measured: the
    // capped path, which checkpoints internally, beat the uncapped one
    // 1.6s vs 3.4s at sf0.1 before this). 24 B/row.
    val buckets = capBuckets(bandBuckets(sig, MinHashParams()), maxBucketSize)
      .localCheckpoint(true)
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  /** (doc_id, band, bucket) LSH index rows for `docs` — the PERSISTABLE
    * per-document unit of the streaming ingest dedup
    * ([[graft.streaming.IngestDedup]]): a new batch signs only its own
    * documents and discovers candidates by equality-join against the
    * stored rows, so per-batch cost is O(batch + candidates), never
    * O(corpus). At 100 TB the store is bucketed by `bucket` so the
    * candidate join is bucket-pruned. */
  def bucketIndex(docs: DataFrame, p: MinHashParams = MinHashParams()): DataFrame =
    bandBuckets(signatures(docs, p), p)

  /** Exact-Jaccard verification of (id_a, id_b) candidate pairs against
    * document text — public facade over [[verifyCandidates]] for the
    * streaming ingest path (only docs appearing in a candidate are
    * re-shingled). */
  def verifyPairs(cand: DataFrame, docs: DataFrame, threshold: Double): DataFrame =
    verifyCandidates(cand, docs, threshold)

  /** MinHash-LSH near-dup pairs with exact Jaccard verification of the
    * candidates (array_intersect on the collected shingle sets — cheap
    * because only candidates reach it). With 128 hashes / 32 bands the
    * miss probability at j=0.9 is (1-0.9⁴)³² ≈ 3e-15, so the result
    * matches the exact all-pairs oracle. */
  def minhashDedupPairs(docs: DataFrame, threshold: Double,
                        maxBucketSize: Option[Long] = None): DataFrame =
    verifyCandidates(lshCandidates(signatures(docs), maxBucketSize),
      docs, threshold)

  /** Exact-Jaccard verification of (id_a, id_b) candidate pairs.
    * Shingle sets are only rebuilt for documents that appear in a
    * candidate pair — semi-join first so the expensive re-shingling is
    * O(candidates), not O(corpus). */
  private def verifyCandidates(cand: DataFrame, docs: DataFrame,
                               threshold: Double): DataFrame = {
    // two consumers (the candidate-doc id list + the verify join), and
    // upstream is the whole candidate-generation pipeline — materialize
    // once; candidate pair lists are small by construction
    val c = cand.localCheckpoint(true)
    val candDocs = c
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .distinct()
    val sets = tokenized(docs.join(candDocs, Seq("doc_id"), "left_semi"),
        scan = Some(docs))
      .select(col("doc_id"),
        array_distinct(shingleTokens(col("toks"), shingleN)).as("sset"))
    c
      .join(sets.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sets.as("sb"), col("id_b") === col("sb.doc_id"))
      .withColumn("inter", size(array_intersect(col("sa.sset"), col("sb.sset"))))
      .withColumn("jaccard",
        col("inter").cast(DoubleType) /
          (size(col("sa.sset")) + size(col("sb.sset")) - col("inter")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Incremental near-dup detection — the production shape for a
    * CONTINUOUSLY INGESTING corpus: check today's batch against the
    * standing corpus without ever re-pairing the corpus with itself.
    * Candidates come from `newBuckets ⋈ (existing ∪ new)Buckets`, so
    * the corpus×corpus quadrant — quadratically the largest — is never
    * generated; at 100 TB the existing side's signatures/buckets are
    * precomputed once and served from the warehouse (partitioned by
    * bucket), making each ingest batch's cost proportional to the
    * BATCH, not the corpus. Within-batch duplicates are found too
    * (against earlier ids of the same batch).
    *
    * Returns (doc_id, dup_id, jaccard): `doc_id` is a new document,
    * `dup_id` its duplicate authority — an existing doc or a
    * smaller-id new doc. Caller guarantees the two frames' ids are
    * disjoint. Recall argument is [[minhashDedupPairs]]'s. */
  def incrementalPairs(newDocs: DataFrame, existing: DataFrame,
                       threshold: Double): DataFrame = {
    // ONE signature pass over the union (one scan + one shuffle — two
    // separate passes measured ~2× the runtime), then a batch-id flag
    // joined onto the bucket rows (ids-only frame, broadcast-sized
    // relative to the buckets it tags)
    val allDocs = newDocs.unionByName(existing)
    // the flagged bucket frame feeds BOTH join sides, and the batch
    // side's extra filter makes the subtrees differ — without an eager
    // materialization the signature pipeline executes once per side
    val buckets = bandBuckets(signatures(allDocs), MinHashParams())
      .join(newDocs.select(col("doc_id"), lit(true).as("is_new")),
        Seq("doc_id"), "left")
      .na.fill(false, Seq("is_new"))
      .localCheckpoint(true)
    val bNew = buckets.filter(col("is_new"))
    val cand = bNew.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          (!col("b.is_new") || col("b.doc_id") < col("a.doc_id")))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    verifyCandidates(cand, allDocs, threshold)
      .select(col("id_a").as("doc_id"), col("id_b").as("dup_id"), col("jaccard"))
  }

  // -- SimHash ----------------------------------------------------------------

  /** 64-bit SimHash over whitespace tokens (multiplicity-weighted).
    *
    * The per-token ±1 weights come from the first 16 hex digits of
    * md5(token) (round 15 — the d04 hash-gate conversion, the
    * s02/s03/d07 md5-plane precedent one hash family over): bit b of
    * the signature reads bit (b mod 4) of hex digit ⌊b/4⌋, which
    * replays in DuckDB as literal strpos/shift arithmetic
    * ([[d04Sql]]), so the whole pair set is pinned cross-engine. The
    * digit values are materialized through a projection — never
    * recomputed inside the 64 aggregate expressions' when() conditions
    * beyond the cheap shift — so the md5 runs once per token. */
  def simhashes(docs: DataFrame): DataFrame = {
    // the 16 hex digits packed as TWO 32-bit halves (round 15 — was 16
    // separate conv(substring) columns, measured ~2× the query): digit
    // i is a nibble of one half, so each of the 64 bit reads below is
    // one shift+mask on a long. Digit i = nibble (7 - i%8) of half i/8
    // (hex strings are big-endian).
    val halves = (0 until 2).map { h =>
      conv(substring(md5(col("w")), 8 * h + 1, 8), 16, 10)
        .cast("long").as(s"hx$h")
    }
    val tok = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id") +: halves: _*)
    def bitSet(b: Int): Column = {
      val digit = b / 4
      val shift = 4 * (7 - digit % 8) + b % 4
      shiftright(col(s"hx${digit / 8}"), shift).bitwiseAND(lit(1L)) === 1L
    }
    val bitSums = (0 until 64).map { b =>
      sum(when(bitSet(b), 1).otherwise(-1)).as(s"b$b")
    }
    val packed = (0 until 64).map { b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    tok.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), packed.as("simhash"))
  }

  /** Pairs within hamming distance 3 (the 4×16-bit pigeonhole banding:
    * any such pair agrees on ≥1 band). */
  def simhashPairs(docs: DataFrame): DataFrame = {
    val sh = simhashes(docs)
    // materialized once for the self-join's two sides (same rationale
    // as lshCandidates — the 64-bit-sum aggregation above is the cost)
    val banded = sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map { k =>
        shiftright(col("simhash"), 16 * k).bitwiseAND(lit(0xFFFFL))
      }: _*)).as(Seq("band", "chunk")))
      .localCheckpoint(true)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.simhash").as("sim_a"), col("b.simhash").as("sim_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= 3)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  // -- winnowing (rolling-hash) near-dup --------------------------------------

  /** Near-dup candidate pairs via rolling-hash winnowing
    * ([[graft.functions.RollingHash]]): per-band window-hash minima are
    * equality-join keys, exactly the MinHash-LSH join shape but with no
    * shingle strings materialized — the whole signature is one pass
    * over the document bytes. Returns the pairs agreeing on at least 2
    * of the 8 bands, with the number of agreeing bands (more bands ⇒
    * longer shared byte runs). */
  def winnowPairs(docs: DataFrame, k: Int = 24): DataFrame = {
    val sig = docs.select(col("doc_id"),
      posexplode(graft.functions.RollingHash.windowMins(col("text"), k))
        .as(Seq("band", "min_hash")))
      // Long.MaxValue marks a band no window hashed into — joining on
      // it would pair every document that shares an empty band
      .filter(col("min_hash") =!= Long.MaxValue)
      // materialized once for the self-join's two sides (the rolling
      // hash over every document byte is the cost, not these rows)
      .localCheckpoint(true)
    sig.as("a")
      .join(sig.as("b"),
        col("a.band") === col("b.band") && col("a.min_hash") === col("b.min_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared_bands"))
      .filter(col("shared_bands") >= 2)
  }

  // -- embedding cosine near-dup ----------------------------------------------

  /** Pairs with cosine ≥ threshold. Brute-force all-pairs — EXACT, the
    * oracle-checkable baseline; quadratic, so it is the small-corpus /
    * verification tool. The 100 TB path is
    * [[embeddingNearDupPairsLSH]]. */
  def embeddingNearDupPairs(emb: DataFrame, threshold: Double): DataFrame = {
    // norms once per row (O(n)); the quadratic pair loop pays only the
    // codegen'd dot product
    // left side spread (round 15 — the bruteForceKnn rationale): the
    // quadratic scoring pipelines on the left scan's split count
    val e = emb.select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
      .withColumn("nrm", VectorOps.norm(col("v")))
    graft.ScalePolicy.spread(e, col("vec_id")).as("a")
      .join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cosine",
        VectorOps.dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
      .filter(col("cosine") >= threshold)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(col("cosine"), 6).as("cosine_r"))
  }

  /** Seed of band b's Gaussian hyperplanes is `planeSeed + b`. */
  private val planeSeed = 42L

  /** (vec_id, band, bucket) hyperplane-LSH rows for `emb` — the
    * PERSISTABLE per-vector unit of the streamed semantic ingest dedup
    * ([[graft.streaming.IngestDedup.semanticDedupingSink]]), the exact
    * analog of [[bucketIndex]] for embeddings: a new batch buckets only
    * its own vectors and discovers candidates by equality-join against
    * the stored rows. A vector's buckets depend only on the vector (and
    * the shared planes), never on batching — the discoverability
    * argument the streamed gate rests on. Same expressions as the batch
    * [[embeddingNearDupPairsLSH]] by construction. */
  def embeddingBucketIndex(emb: DataFrame, bands: Int, planesPerBand: Int,
                           md5Tag: Option[String] = None): DataFrame = {
    val e = emb.select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
    val probed = e.select(size(col("v")).as("d"))
      .filter(col("d").isNotNull).head(1)
    val dim = if (probed.isEmpty) 1 else probed(0).getInt(0)
    // md5Tag switches band b to the cross-engine-replayable ±1 family
    // ([[VectorOps.md5Planes]] at "tag:b", round-9 sign test) — the
    // d07 hash gate's family. The default stays the seeded Gaussian
    // family the d13/d16/v18/v30 exact-oracle gates were pinned on
    // (their soundness rests on recall-1 pins at gate dials — not
    // re-derived planes — so their family is deliberately untouched).
    val bandBuckets = (0 until bands).map { b =>
      md5Tag match {
        case Some(tag) => VectorOps.signBucket(col("v"),
          VectorOps.md5Planes(planesPerBand, dim, s"$tag:$b"))
        case None => VectorOps.hyperplaneBucket(col("v"),
          VectorOps.randomPlanes(planesPerBand, dim, planeSeed + b))
      }
    }
    e.select(col("vec_id"),
      posexplode(array(bandBuckets: _*)).as(Seq("band", "bucket")))
  }

  /** Banded hyperplane-LSH embedding near-dup candidates + exact cosine
    * verification — the same band/bucket equality-join shape as
    * MinHash-LSH, applied to vectors. With G independent bands of b
    * hyperplanes, a pair at angle θ shares some band's bucket with
    * probability 1-(1-(1-θ/π)ᵇ)ᴳ — the defaults (12 bands × 3 planes)
    * give ~0.98 recall at cosine 0.45. Precision is exactly 1: every
    * emitted pair passed the true cosine test.
    *
    * SCALE HONESTY: at FIXED `planesPerBand` the bucket granularity is
    * fixed (2ᵇ buckets per band), so on an unclustered corpus candidate
    * volume is ~N²/2ᵇ per band — a constant-factor saving over exact
    * all-pairs, not an asymptotic one (measured: the uncapped fixed-b
    * form OOM'd the 128 GiB JVM at 50k vectors, dev/scaling.md round 8).
    * The scale form therefore grows b with the corpus
    * ([[lshPlanesFor]]: 2ᵇ ≈ N/targetBucket, what d13 does), holding
    * bucket population ~constant and candidate volume ~linear — the
    * E2LSH trade: recall per band at the threshold angle shrinks as pᵇ
    * (p = 1-θ/π), so a deployment holding boundary recall raises
    * `bands` ∝ p⁻ᵇ as it deepens b; near-identical pairs (p ≈ 1, the
    * actual duplicates) survive any depth. For moderate-threshold
    * semantic dedup where band growth is unaffordable, use
    * [[embeddingNearDupPairsIVF]], whose cell count scales with the
    * corpus at fixed probe cost. The d13 gate keeps this path
    * hash-correct (its auto-scaled parameters equal the fixed ones at
    * gate scale); the scaling curves (dev/scaling.md) record both the
    * fixed-b bend and the scaled-b line. */
  def embeddingNearDupPairsLSH(emb: DataFrame, threshold: Double,
                               bands: Int = 12, planesPerBand: Int = 3,
                               maxBucketSize: Option[Long] = None,
                               md5Tag: Option[String] = None,
                               bandChunks: Int = 1,
                               volumeBudget: Long =
                                 Similarity.IvfCandidateVolumeBudget): DataFrame = {
    require(bandChunks >= 1 && bandChunks <= bands,
      s"bandChunks must be in [1, $bands]")
    // pre-flight affordability (round 14 — the d13 x1000 lesson: the
    // round-13 budgets covered only the IVF paths, and the un-budgeted
    // LSH generator JVM-OOM'd at 500k vectors where the closed-form
    // expected volume reads ~1.5G). Expected candidates per band are
    // N·pop/2 with pop = min(cap, N/2^b) — the same balanced-population
    // convention as the IVF estimate; depth-scaled callers
    // ([[lshPlanesFor]]) hold pop ≈ targetBucket, so the estimate is
    // ~bands·N·targetBucket/2: LINEAR in N, and the refusal threshold
    // is therefore a corpus-size bound at fixed dials, exactly like
    // d14's.
    //
    // BAND-AT-A-TIME (round 15): the budget guards PEAK transient
    // volume — the candidate distinct's shuffle/spill, which is what
    // actually hit the measured walls — and peak divides by processing
    // band groups sequentially: `bandChunks` > 1 runs each group's
    // candidate join + distinct + cosine verify as its own eagerly
    // materialized job and unions the VERIFIED pairs (a pair found in
    // any band is the same pair — idempotent union, the result set
    // unchanged; pinned chunked == unchunked in DedupSpec). Total work
    // is identical; the refusal threshold therefore checks the
    // PER-CHUNK estimate, turning the d13/p12 x1000 refusals into
    // bounded completions at the same peak budget.
    val nVol = emb.count()
    val expPop = math.max(1L, nVol >> planesPerBand)
    val popBound = maxBucketSize.fold(expPop)(c => math.min(c, expPop))
    val chunkBands = (bands + bandChunks - 1) / bandChunks
    Similarity.checkIvfVolume(chunkBands.toLong * nVol * popBound / 2L,
      volumeBudget,
      s"embeddingNearDupPairsLSH(N=$nVol, bands=$bands, " +
        s"planesPerBand=$planesPerBand, cap=$maxBucketSize, " +
        s"bandChunks=$bandChunks — raising bandChunks divides the " +
        "peak estimate)")
    // layout-adaptive width for the per-vector projection work (round
    // 16): the 36-dot hyperplane bucketing and the norm projection
    // otherwise pipeline on the embeddings SCAN — one task on a
    // single-row-group gate file (a measured 1.3 s single-task
    // checkpoint stage inside s23). Identity on already-wide layouts;
    // batch-only (this entry point), the streaming path calls
    // [[embeddingBucketIndex]] directly on its micro-batch frames.
    val embW = graft.ScalePolicy.spreadIfNarrow(emb, col("vec_id"))
    val e = embW.select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
      .withColumn("nrm", VectorOps.norm(col("v")))
    // materialized for the same reason as lshCandidates: the self-join
    // consumes it twice and the hyperplane-projection pipeline above it
    // is the expensive part. NARROW rows only — (vec_id, band, bucket),
    // never the vectors: the candidate self-join's output volume is
    // Σ_bucket C(pop, 2), and with 2^planesPerBand buckets per band
    // that is ~N²/2^b per band on an unclustered corpus — carrying the
    // 64-double payload through it OOMs at 50k vectors (measured),
    // while id-pair rows merely shuffle. Vectors re-join AFTER distinct,
    // only for the candidates that survive.
    val bucketed = capBuckets(
      embeddingBucketIndex(embW, bands, planesPerBand, md5Tag),
      maxBucketSize)
      .localCheckpoint(true)
    def verifiedPairs(bk: DataFrame): DataFrame = {
      val cand = bk.as("a")
        .join(bk.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
        .distinct()
      cand
        .join(e.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na")), Seq("id_a"))
        .join(e.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")), Seq("id_b"))
        .withColumn("cosine", VectorOps.dot(col("va"), col("vb")) / (col("na") * col("nb")))
        .filter(col("cosine") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine_r"))
    }
    if (bandChunks == 1) verifiedPairs(bucketed)
    else {
      val chunks = (0 until bandChunks).map { ci =>
        // eager per chunk: the next chunk's candidate shuffle must not
        // overlap this one's — that sequencing IS the peak division
        val out = verifiedPairs(
          bucketed.filter(col("band") % bandChunks === ci))
          .localCheckpoint(true)
        // nudge the context cleaner so the finished chunk's shuffle
        // files are dropped before the next chunk writes its own —
        // without it total DISK still accumulates toward the unchunked
        // footprint (the cleaner keys off JVM GC, default-periodic at
        // 30 min — far longer than a chunk)
        System.gc()
        out
      }
      // a boundary pair discovered by bands in two different chunks
      // appears once per chunk (identical row — cosine is a pure
      // function of the pair): distinct restores exactly the unchunked
      // set
      chunks.reduce(_ union _).distinct()
    }
  }

  /** Corpus-scaled hyperplane depth: the smallest b ≥ 3 with
    * 2ᵇ ≥ n/256, so a band's expected bucket population stays ~256
    * (the target bucket) as the corpus grows and the candidate
    * self-join's volume stays ~N·256/2 per band instead of ~N²/2ᵇ.
    * Pinned in DedupSpec; at gate scale (≤2k vectors) this equals the
    * historical fixed b = 3, so the d13 hash gate is parameter-stable. */
  def lshPlanesFor(n: Long): Int = {
    val needed = math.ceil(
      math.log(math.max(1.0, n.toDouble / 256L)) / math.log(2.0)).toInt
    math.max(3, needed)
  }

  /** The band-count COMPENSATION DIAL for the depth-scaled LSH paths:
    * the bands needed at depth `planesPerBand` to keep the boundary-
    * pair discovery probability the gate geometry (24 bands × 3
    * planes) delivers at the threshold angle. A random hyperplane
    * agrees on a pair at cosine t with probability p = 1 − acos(t)/π,
    * a b-plane band matches with pᵇ, and G independent bands miss with
    * (1−pᵇ)ᴳ — so holding the miss probability fixed across depths
    * means G(b) = ln(miss₀) / ln(1−pᵇ), which grows ≈ p⁻ᐞᵇ ≈ 2.4× per
    * added plane at t = 0.45. That growth is the honest price of
    * holding BOUNDARY recall while deepening buckets (near-identical
    * pairs, p ≈ 1, survive any depth for free): candidate volume per
    * vector stays ~targetBucket·G — linear in N with a G-factor
    * constant — and the measured recall columns in dev/scaling.md
    * show where the uncompensated geometry starts paying. A
    * deployment that can't afford the band growth at its depth uses
    * the IVF generator instead ([[embeddingNearDupPairsIVF]]), whose
    * probe cost is flat in N — the same trade, paid in spill-probes.
    * At gate scale planesPerBand = 3, so this returns 24 and every
    * gate hash is untouched (pinned in DedupSpec). */
  def lshBandsFor(planesPerBand: Int): Int = {
    val (threshold, baseBands, basePlanes) = (0.45, 24, 3)
    require(planesPerBand >= basePlanes,
      s"depth $planesPerBand below the base geometry's $basePlanes")
    if (planesPerBand == basePlanes) baseBands
    else {
      val p = 1.0 - math.acos(threshold) / math.Pi
      val missBase = baseBands * math.log1p(-math.pow(p, basePlanes))
      math.ceil(missBase / math.log1p(-math.pow(p, planesPerBand))).toInt
    }
  }

  /** Re-sign the streamed semantic-dedup parquet index
    * ([[graft.streaming.IngestDedup.semanticDedupingSink]]'s
    * `indexDir`) at a deeper hyperplane depth — THE batch job the
    * sink's 100 TB story presupposes: as the ingested corpus
    * decade-steps, [[lshPlanesFor]] wants more planes per band, and the
    * already-landed `index/buckets` rows (signed at the old depth) stop
    * being equi-join-compatible with freshly bucketed batches. This job
    * rebuilds `index/buckets` from `index/vecs` at `newPlanesPerBand` —
    * bit-identical to what a fresh full-corpus
    * [[embeddingBucketIndex]] at the new depth would have produced
    * (pinned in IngestDedupSpec), because a vector's buckets depend
    * only on the vector and the shared seeded planes, never on WHEN it
    * was bucketed. The per-row `batch_id` survives (re-joined from
    * `index/vecs`), so the sink's `batch_id < id` retry filter keeps
    * working across a re-bucket.
    *
    * The swap is move-aside atomic (the games-csv commit discipline):
    * new rows are written beside the live dir, the live dir is renamed
    * aside, the new dir renamed in, the aside deleted. A crash between
    * the renames is repaired by re-running the job (it is idempotent —
    * deterministic signing of an unchanged `index/vecs`); the sink's
    * `planes` meta file is updated LAST, so a torn run re-buckets
    * again rather than mis-joining. Single-writer discipline is the
    * sink's own (one stream owns an index dir). */
  def rebucketIndex(spark: SparkSession, indexDir: String, bands: Int,
                    newPlanesPerBand: Int): Unit = {
    import org.apache.hadoop.fs.Path
    // a band-count mismatch would silently zero recall on the missing
    // bands (rows re-signed with fewer bands than the sink probes) —
    // the meta records bands exactly so this slip fails loudly
    graft.streaming.IngestDedup.readPlanesMeta(spark, indexDir)
      .foreach { case (_, b) =>
        require(b == bands,
          s"index at $indexDir is signed with $b bands, re-bucket asked " +
            s"for $bands — band count is fixed for an index's lifetime")
      }
    val vecs = spark.read.parquet(s"$indexDir/vecs")
    val resigned = embeddingBucketIndex(
        vecs.select(col("vec_id"), col("embedding")),
        bands, newPlanesPerBand)
      .join(vecs.select(col("vec_id"), col("batch_id")), Seq("vec_id"))
    val cur = new Path(s"$indexDir/buckets")
    val tmp = new Path(s"$indexDir/buckets.__rebucket__")
    val aside = new Path(s"$indexDir/buckets.__old__")
    val fs = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)
    resigned.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("batch_id").parquet(tmp.toString)
    if (fs.exists(aside)) fs.delete(aside, true) // leftover of a torn run
    // cur can be absent only when a previous run crashed between the
    // two renames — then the re-signed tmp IS the recovery
    if (fs.exists(cur))
      require(fs.rename(cur, aside), s"rebucket: move-aside $cur failed")
    try require(fs.rename(tmp, cur), s"rebucket: rename $tmp -> $cur failed")
    catch {
      case e: Throwable =>
        if (!fs.exists(cur) && fs.exists(aside)) fs.rename(aside, cur)
        throw e
    }
    fs.delete(aside, true)
    graft.streaming.IngestDedup.writePlanesMeta(spark, indexDir,
      newPlanesPerBand, bands)
  }

  /** IVF-celled embedding near-dup — the TRUE 100 TB path for
    * moderate-threshold semantic dedup: coarse-quantize the corpus
    * (k-means, fit on a deterministic sample — the
    * [[graft.operators.Similarity.ivfIndex]] pattern), SPILL-assign
    * every vector to its `spill` nearest centroids, take candidate
    * pairs only WITHIN a shared cell, and exact-verify cosine.
    * Precision is exactly 1 (every pair passes the true cosine test);
    * recall comes from spill — a pair at cosine ≥ threshold is missed
    * only if the two vectors share none of their `spill` nearest
    * centroids (pinned vs the exact pair set in DedupSpec) — and from
    * the `quantizers` OR-dial, the better exchange rate of the two
    * (recall compounds as 1−(1−r)^q for ~q× volume; measured at x100
    * to three decimals of the independence prediction, dev/scaling.md).
    *
    * Why this scales where banded LSH does not: `nlist` grows with the
    * corpus (`max(16, N/targetCell)`), so cell population stays
    * ~`targetCell·spill` regardless of N and candidate volume is
    * Σ_cell C(pop, 2) ≈ N·targetCell·spill²/2 — LINEAR in N at fixed
    * cell size, vs ~N²/2ᵇ for fixed-granularity hyperplane buckets.
    * Costs that grow with nlist stay sane: assignment is one
    * N×nlist broadcast dot-product scan (the standard IVF trade), and
    * the k-means fit sees only a bounded sample. The candidate join
    * carries narrow (vec_id, cell) rows; vectors re-join after
    * `distinct` for verification only. */
  def embeddingNearDupPairsIVF(emb: DataFrame, threshold: Double,
                               spill: Int = 3, targetCell: Long = 256L,
                               quantizers: Int = 1,
                               volumeBudget: Long =
                                 Similarity.IvfCandidateVolumeBudget): DataFrame = {
    require(quantizers >= 1 && quantizers < VectorOps.orMixConstants.size,
      s"quantizers must be in [1, ${VectorOps.orMixConstants.size - 1}]")
    // two consumers (assign, verify); the row count sizes nlist
    val cp = graft.ScalePolicy.checkpoint(emb.select(col("vec_id"),
        VectorOps.asDouble(col("embedding")).as("v"))
      .withColumn("nrm", VectorOps.norm(col("v"))))
    val (e, n) = (cp.frame, cp.rows)
    val nlist = math.max(16L, n / targetCell).toInt
    // pre-flight affordability (round 13): refuse un-affordable dials
    // up front — the closed-form volume estimate against the measured
    // disk wall (see [[Similarity.IvfCandidateVolumeBudget]]) — instead
    // of a multi-hundred-second doomed run into a DISK-OOM
    Similarity.checkIvfVolume(
      n * targetCell * spill.toLong * spill * quantizers / 2L,
      volumeBudget,
      s"embeddingNearDupPairsIVF(N=$n, spill=$spill, " +
        s"targetCell=$targetCell, quantizers=$quantizers)")
    // TWO-LEVEL quantizer ([[Similarity.twoLevelCentroids]], round 9):
    // coarse k-means over a bounded deterministic sample, then one
    // DISTRIBUTED sub-fit task per coarse group — fit work spread over
    // ~√nlist parallel tasks of bounded size, so the quantizer keeps
    // shape past ~10⁵ cells where round 8's bounded single-driver-loop
    // fit (16k sample, 10 iters — itself the fix for a measured O(N²)
    // fit bug, dev/scaling.md) ran out of road. The spill-assignment
    // and candidate joins below are indifferent to which quantizer
    // produced the (cell, centroid, cn2) table.
    //
    // `quantizers` > 1 (round 12) is the OR-dial the recall curves
    // motivated: candidate pairs are UNIONED across q INDEPENDENTLY
    // initialized quantizers — the band-OR principle applied to IVF.
    // A pair is missed only if it straddles cell boundaries in EVERY
    // quantizer, so recall compounds as 1−(1−r₁)^q for ~q× candidate
    // volume, a better exchange rate at x100 than either spill² or
    // cell size (measured, dev/scaling.md). Independence comes from
    // the fit's sample/init order: quantizer q orders by vec_id XOR a
    // fixed odd constant — a bijection (deterministic, tie-free,
    // overflow-free under ANSI) that hands each fit a different
    // bounded sample and init. quantizers = 1 is bit-identical to the
    // historical single-quantizer path (the d14 gate).
    def assignedBy(q: Int): DataFrame = {
      val fitId =
        if (q == 0) col("vec_id")
        else col("vec_id").bitwiseXOR(lit(VectorOps.orMixConstants(q)))
      val centroids = Similarity.twoLevelCentroids(
        e.select(fitId.as("id"), col("v")), nlist)
        .localCheckpoint(true) // broadcast side of the spill assignment
      // spill assignment: rank cells by |v−c|² = |v|² − 2v·c + |c|²
      // (the |v|² term is constant per vector), keep the `spill`
      // nearest; cell ids offset by q·nlist so the self-join below
      // never pairs across quantizers. ROUND 9 (round 14): the same
      // round-9 argmin discipline as every other assignment/probe in
      // the engine ([[Similarity.sqlDist]]) — what makes the d14
      // oracle's DuckDB replay of this ranking exact rather than
      // hostage to float noise at cell boundaries.
      val wCell = Window.partitionBy(col("vec_id"))
        .orderBy(col("cdist"), col("cell")) // cell id breaks exact ties
      e.crossJoin(broadcast(centroids))
        .withColumn("cdist", round(
          VectorOps.dot(col("v"), col("centroid")) * lit(-2.0) + col("cn2"), 9))
        .withColumn("crk", row_number().over(wCell))
        .filter(col("crk") <= spill)
        .select(col("vec_id"), (col("cell") + lit(q * nlist)).as("cell"))
    }
    val assigned = (0 until quantizers).map(assignedBy)
      .reduce(_ union _)
      .localCheckpoint(true) // consumed twice by the self-join
    val cand = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na")), Seq("id_a"))
      .join(e.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")), Seq("id_b"))
      .withColumn("cosine", VectorOps.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine_r"))
  }

  // -- duplicate clustering ---------------------------------------------------

  /** Connected components over a near-dup pair list: every document in a
    * component is a near-duplicate (possibly transitively) of its
    * cluster head, the minimum doc_id — the canonical survivor a dedup
    * pass keeps.
    *
    * Pregel-style iterative min-label propagation: each round every node
    * takes the min of its own label and its neighbors' labels, until a
    * round changes nothing. Rounds = component diameter, and near-dup
    * components at a high threshold are near-cliques (diameter ~2), so
    * the loop is short; the driver only ever sees the per-round changed
    * COUNT, never data. Each round is one shuffle of (node, lbl) pairs —
    * 16 bytes/row — joined against the edge list; at 100 TB this is the
    * standard formulation (alternating large-star/small-star is the
    * same join shape with a better worst-case round bound).
    *
    * Every round MUST truncate lineage, not merely cache: the round's
    * plan references the previous labels twice (join + convergence
    * check), so the logical plan doubles per round and the analyzer
    * itself goes exponential long before any data moves (a 10-round
    * path graph OOMs the driver on explain-string generation alone).
    * `localCheckpoint(eager)` replaces the plan with the materialized
    * partitions; a multi-job production run would use reliable
    * `checkpoint` to survive executor loss.
    *
    * Returns (node, lbl): every document that appears in a pair, with
    * its cluster head. Singletons never enter (they have no pair — a
    * full dedup keeps them untouched). */
  def dupClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // materialize the pair list ONCE before fanning out: `edges` refers
    // to it twice (one union branch per direction), and both branches
    // can run in the same job, so a lazy cache races and the whole
    // upstream pair pipeline (the expensive part) executes twice —
    // measured 6.3s → 4.4s on d09 at sf0.1
    val p = pairs.localCheckpoint(true)
    val edges = p
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist()
    var labels = edges.groupBy(col("src")).agg(min(col("dst")).as("mn"))
      .select(col("src").as("node"), least(col("src"), col("mn")).as("lbl"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = edges.join(labels, edges("dst") === labels("node"))
        .groupBy(edges("src")).agg(min(col("lbl")).as("nlbl"))
        .select(col("src").as("node"), col("nlbl"))
      // ONE job per round: the convergence count rides the checkpoint's
      // own materialization as an observed metric, instead of a second
      // action (the old shape paid a next×labels join + count job on
      // top of the checkpoint job every round)
      val step = graft.ScalePolicy.checkpoint(
        labels.as("l").join(nbrMin.as("n"), Seq("node"))
          .select(col("node"), col("l.lbl").as("__old"),
            least(col("l.lbl"), col("n.nlbl")).as("lbl")),
        count(when(col("lbl") < col("__old"), 1)).as("changed"))
      labels = step.frame.select(col("node"), col("lbl"))
      converged = step.long("changed") == 0L
      iter += 1
    }
    edges.unpersist()
    // fail LOUD on truncation: partially-propagated labels look exactly
    // like finished ones (each is some doc_id), so returning them would
    // hand the caller silently-wrong survivors. Components wider than
    // maxIter hops mean either raise maxIter or switch the propagation
    // to pointer-jumping (label-of-label doubles the hop per round).
    if (!converged)
      throw new IllegalStateException(
        s"dupClusters did not converge within $maxIter rounds — " +
          "a component's diameter exceeds maxIter; raise it")
    labels
  }

  /** DuckDB text of [[dupClusters]] over a `pairs` (id_a, id_b) CTE, for
    * a `WITH RECURSIVE`: `edges` both ways, `reach` (the transitive
    * closure by recursive CTE) and `labels` (node, lbl = the least
    * reachable id). */
  val sqlClosure: String =
    """edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
      |          UNION SELECT id_b, id_a FROM pairs),
      |reach AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src),
      |labels AS (
      |  SELECT src AS node, least(src, MIN(dst)) AS lbl
      |  FROM reach GROUP BY src)""".stripMargin

  // ---------------------------------------------------------------------------
  // Gate queries
  // ---------------------------------------------------------------------------

  /** Exact dedup of documents on text: summary checksum of survivors. */
  def d01ExactDedup(spark: SparkSession, dir: String): DataFrame = {
    val kept = exact(Tables.documents(spark, dir), Seq("text"), "doc_id")
    kept.agg(
      count(lit(1)).as("kept_docs"),
      sum(col("doc_id")).as("kept_id_sum"),
      sum(col("n_chars")).as("kept_char_sum"))
  }

  // min_by ties n_chars to the KEPT row (the min-doc_id one) — an
  // independent MIN(n_chars) would agree only while n_chars is a pure
  // function of the group key, silently passing a wrong keep-policy.
  // CASTs pin DuckDB's SUM(int)->HUGEINT widening back to Spark's
  // int64 output (the driver hash is type-sensitive through Arrow).
  val d01Sql: String =
    """SELECT COUNT(*) AS kept_docs,
      |       CAST(SUM(doc_id) AS BIGINT) AS kept_id_sum,
      |       CAST(SUM(n_chars) AS BIGINT) AS kept_char_sum
      |FROM (SELECT MIN(doc_id) AS doc_id, min_by(n_chars, doc_id) AS n_chars
      |      FROM documents GROUP BY text) t""".stripMargin

  /** Exact 3-gram Jaccard pairs ≥ 0.8 (inverted-index join). */
  def d02JaccardPairs(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs(Tables.documents(spark, dir), 0.8)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard_r"))
      .orderBy(col("id_a"), col("id_b"))

  val d02Sql: String =
    s"""WITH sh AS (
      |  ${sqlShingles("documents")}),
      |$sqlScoredPairs
      |SELECT id_a, id_b, ROUND(jaccard, 6) AS jaccard_r
      |FROM scored
      |WHERE jaccard >= 0.8
      |ORDER BY id_a, id_b""".stripMargin

  /** Jaccard pairs WITH the hot-shingle cap engaged — the 100 TB scale
    * guard (a shingle shared by k docs costs k²/2 pairs; the cap bounds
    * k). Oracle-checked: the DuckDB side drops the same hot shingles and
    * recomputes per-doc sizes over the survivors, so both the pair set
    * AND the capped-size jaccard values must agree. */
  def d08JaccardCapped(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs(Tables.documents(spark, dir), 0.8, maxShingleFreq = Some(8))
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard_r"))
      .orderBy(col("id_a"), col("id_b"))

  val d08Sql: String =
    s"""WITH sh_all AS (
      |  ${sqlShingles("documents")}),
      |hot AS (SELECT shingle FROM sh_all GROUP BY shingle HAVING COUNT(*) > 8),
      |sh AS (SELECT * FROM sh_all ANTI JOIN hot USING (shingle)),
      |$sqlScoredPairs
      |SELECT id_a, id_b, ROUND(jaccard, 6) AS jaccard_r
      |FROM scored
      |WHERE jaccard >= 0.8
      |ORDER BY id_a, id_b""".stripMargin

  /** d15 — one-sided containment pairs ≥ 0.8. On this corpus every
    * near-dup pair is a symmetric rewrite (sz_a ≈ sz_b), so the PAIR
    * SET matches d02's — but the reported score is the containment
    * normalizer, so the oracle hash checks the min-side math, not a
    * re-run of d02. The asymmetric case containment exists for (short
    * doc verbatim inside a long host: jaccard → 0, containment = 1) is
    * pinned in DedupSpec where the synthetic corpus cannot express it. */
  def d15ContainmentPairs(spark: SparkSession, dir: String): DataFrame =
    containmentPairs(Tables.documents(spark, dir), 0.8)
      .select(col("id_a"), col("id_b"),
        round(col("containment"), 6).as("containment_r"))
      .orderBy(col("id_a"), col("id_b"))

  val d15Sql: String =
    s"""WITH sh AS (
      |  ${sqlShingles("documents")}),
      |$sqlScoredPairs
      |SELECT id_a, id_b,
      |       ROUND(CAST(c AS DOUBLE) / CAST(LEAST(sz_a, sz_b) AS DOUBLE), 6)
      |         AS containment_r
      |FROM scored
      |WHERE CAST(c AS DOUBLE) / CAST(LEAST(sz_a, sz_b) AS DOUBLE) >= 0.8
      |ORDER BY id_a, id_b""".stripMargin

  /** MinHash-LSH near-dup pairs ≥ 0.8 — same oracle as d02: the LSH
    * candidate generation + exact verification must reproduce the
    * exact all-pairs answer (recall argument in minhashDedupPairs doc). */
  def d03MinhashPairs(spark: SparkSession, dir: String): DataFrame =
    minhashDedupPairs(Tables.documents(spark, dir), 0.8)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard_r"))
      .orderBy(col("id_a"), col("id_b"))

  /** d11 — MinHash-LSH near-dup pairs with the hot-bucket cap ENGAGED —
    * the 100 TB guard against degenerate LSH buckets (boilerplate-heavy
    * corpora concentrate thousands of docs into a few buckets, each
    * costing pop²/2 candidates). Same oracle as d02/d03: on this corpus
    * every band bucket is far below the cap (measured max population 4
    * at sf0.01, 11 at sf0.1), so the capped path must still reproduce
    * the exact all-pairs answer while the guard itself (population
    * count + anti-join) is fully exercised in the plan. The
    * candidate-bounding behavior on a corpus that DOES trip the cap is
    * pinned in DedupSpec. */
  def d11MinhashCapped(spark: SparkSession, dir: String): DataFrame =
    minhashDedupPairs(Tables.documents(spark, dir), 0.8, maxBucketSize = Some(32))
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard_r"))
      .orderBy(col("id_a"), col("id_b"))

  /** d10 — incremental dedup: the last third of the corpus (by id)
    * arrives as "today's batch" and is checked against the first two
    * thirds as the standing corpus. Oracle = the exact all-pairs
    * Jaccard restricted to pairs whose larger id is in the batch — the
    * incremental path must find exactly those pairs (LSH recall
    * argument as d03) while never generating a corpus×corpus
    * candidate. The split point is computed from the data (one tiny
    * driver action) so the gate is SF-independent. */
  def d10IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val split = docs.agg(expr("2 * MAX(doc_id) DIV 3").as("s")).head().getLong(0)
    incrementalPairs(
      docs.filter(col("doc_id") >= split),
      docs.filter(col("doc_id") < split), 0.8)
      .select(col("doc_id"), col("dup_id"),
        round(col("jaccard"), 6).as("jaccard_r"))
      .orderBy(col("doc_id"), col("dup_id"))
  }

  val d10Sql: String =
    s"""WITH sh AS (
      |  ${sqlShingles("documents")}),
      |$sqlScoredPairs,
      |split AS (SELECT 2 * MAX(doc_id) // 3 AS s FROM documents)
      |SELECT id_b AS doc_id, id_a AS dup_id, ROUND(jaccard, 6) AS jaccard_r
      |FROM scored CROSS JOIN split
      |WHERE jaccard >= 0.8
      |  AND id_b >= s
      |ORDER BY doc_id, dup_id""".stripMargin

  /** SimHash fingerprint pairs within hamming ≤ 3, HASH-GATED (round
    * 15 — previously rows-only): the md5 hex-digit bit family
    * ([[simhashes]]) replays in DuckDB as literal
    * strpos/shift arithmetic, so the oracle ([[d04Sql]]) re-derives
    * every fingerprint bit, the 4×16 pigeonhole banding, the candidate
    * join, and the hamming cut — the whole approximate pair set pinned
    * cross-engine (the s02/s03/d07 conversion precedent). Semantics
    * (verbatim pair at distance 0, unrelated excluded) stay pinned in
    * DedupSpec. */
  def d04SimhashPairs(spark: SparkSession, dir: String): DataFrame =
    simhashPairs(Tables.documents(spark, dir))
      .orderBy(col("id_a"), col("id_b"))

  /** d04's oracle: fingerprints as 64-char bit STRINGS (bit b of the
    * packed long ⟺ position b+1 — band k's 16-bit chunk ⟺
    * substring(1+16k, 16), hamming(long) ⟺ hamming(string)), the same
    * md5 hex-digit bit rule as the Spark side, banding self-join,
    * distance cut. */
  val d04Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, md5(unnest(string_split(text, ' '))) AS m
      |  FROM documents),
      |bits AS (
      |  SELECT doc_id, bb.b,
      |         SUM(CASE WHEN ((strpos('0123456789abcdef',
      |                    substring(m, 1 + bb.b // 4, 1)) - 1)
      |                  >> (bb.b % 4)) & 1 = 1
      |             THEN 1 ELSE -1 END) AS s
      |  FROM tok CROSS JOIN (SELECT unnest(range(0, 64)) AS b) bb
      |  GROUP BY doc_id, bb.b),
      |fp AS (
      |  SELECT doc_id,
      |         string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END,
      |                    '' ORDER BY b) AS f
      |  FROM bits GROUP BY doc_id),
      |bands AS (
      |  SELECT doc_id, f, kk.k AS band,
      |         substring(f, 1 + 16 * kk.k, 16) AS chunk
      |  FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS k) kk),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
      |         a.f AS fa, b.f AS fb
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.chunk = b.chunk
      |   AND a.doc_id < b.doc_id)
      |SELECT id_a, id_b, CAST(hamming(fa, fb) AS INT) AS hamming
      |FROM cand
      |WHERE hamming(fa, fb) <= 3
      |ORDER BY id_a, id_b""".stripMargin

  /** Winnowing near-dup pairs (engine-specific wrapping-arithmetic
    * hash → rows-only gate; semantics pinned in ScalaTest). */
  def d06WinnowPairs(spark: SparkSession, dir: String): DataFrame =
    winnowPairs(Tables.documents(spark, dir))
      .orderBy(col("id_a"), col("id_b"))

  /** Banded-LSH embedding near-dup at the same threshold, HASH-GATED
    * (round 12): the 12 bands × 3 planes are the md5-derived ±1 family
    * ([[VectorOps.md5Planes]]), so the DuckDB oracle ([[d07Sql]])
    * replays every band's bucket ids, the candidate equality-join, and
    * the exact cosine verification — the approximate PAIR SET itself
    * is pinned cross-engine (recall < 1 vs the exact d05 answer is the
    * operator's contract, separately pinned in ScalaTest). */
  def d07EmbeddingLshPairs(spark: SparkSession, dir: String): DataFrame =
    embeddingNearDupPairsLSH(Tables.embeddings(spark, dir), 0.45,
      md5Tag = Some("d07"))
      .orderBy(col("id_a"), col("id_b"))

  /** The md5-plane bucket arms of the d07 oracle as a reusable
    * WITH-body fragment over an `emb(vec_id, v)` CTE — single owner of
    * the literal planes shared by [[d07Sql]] and the s23 cross-pool
    * oracle ([[Similarity.s23Sql]]): d07's 12 bands × 3 planes, tag
    * "d07". Dim pinned 64 (every test table). */
  private[operators] def lshBucketArmsSql(): String = {
    import graft.functions.VectorOps.{md5Planes, sqlSignBucket}
    (0 until 12).map { b =>
      s"""  SELECT vec_id, $b AS band,
         |         ${sqlSignBucket("v", md5Planes(3, 64, s"d07:$b"))} AS bucket
         |  FROM emb""".stripMargin
    }.mkString("\nUNION ALL\n")
  }

  /** d07's oracle: per-band md5-plane bucketing (12 UNION ALL arms —
    * same literal planes as the Spark side, single owner), the
    * (band, bucket) candidate self-join, exact-cosine verification at
    * the threshold, round-6 output — [[embeddingNearDupPairsLSH]]
    * replayed end to end. Dim pinned 64 (every test table). */
  val d07Sql: String = {
    val arms = lshBucketArmsSql()
    s"""WITH emb AS MATERIALIZED (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |buckets AS MATERIALIZED (
       |$arms),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM buckets a JOIN buckets b
       |    ON a.band = b.band AND a.bucket = b.bucket
       |   AND a.vec_id < b.vec_id)
       |SELECT c.id_a, c.id_b,
       |       ROUND(list_cosine_similarity(ea.v, eb.v), 6) AS cosine_r
       |FROM cand c
       |JOIN emb ea ON ea.vec_id = c.id_a
       |JOIN emb eb ON eb.vec_id = c.id_b
       |WHERE list_cosine_similarity(ea.v, eb.v) >= 0.45
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Embedding near-dup pairs (cosine ≥ 0.45 — sits in a wide margin gap
    * of the corpus similarity distribution). */
  def d05EmbeddingPairs(spark: SparkSession, dir: String): DataFrame =
    embeddingNearDupPairs(Tables.embeddings(spark, dir), 0.45)
      .orderBy(col("id_a"), col("id_b"))

  val d05Sql: String =
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |       ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
      |                                    b.embedding::DOUBLE[]), 6) AS cosine_r
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(a.embedding::DOUBLE[],
      |                             b.embedding::DOUBLE[]) >= 0.45
      |ORDER BY id_a, id_b""".stripMargin

  /** d16 — SEMANTIC decontamination across the canonical md5 split:
    * for every held-out vector (val/test by [[Pipeline.splitOf]], the
    * ONE owner of the 205/230 split), report any TRAIN vector within
    * cosine ≥ 0.45 — the embedding-space contamination check that
    * n-gram decontamination (t13) structurally misses (a paraphrased
    * benchmark item shares no 5-gram but sits at high cosine).
    *
    * The candidate stage is CROSS-ONLY (the d10 batch-vs-corpus
    * shape): one signing pass buckets the corpus at d13's gate dials
    * (corpus-scaled depth, 24 bands, hot-bucket cap), then the
    * held-out rows equality-join the TRAIN rows on (band, bucket) —
    * the train×train quadrant (the dominant ~64% of d13's pair volume)
    * is never generated. Discoverability is IDENTICAL to d13's
    * generator restricted cross-split: a vector's buckets depend only
    * on the vector and the shared planes (the v18/v30 argument), so a
    * cross pair shares a bucket here iff it does there, and d13's
    * recall-1-at-gate-dials pin (DedupSpec) covers this gate's hash
    * soundness; DedupSpec additionally pins this path == the exact
    * cross-split recomputation end to end.
    *
    * Hash-gated: DuckDB replays the identical md5 split arithmetic
    * (p04's oracle discipline) and the exact all-pairs cross-split
    * cosine scan. */
  def d16SemanticDecontam(spark: SparkSession, dir: String): DataFrame =
    semanticDecontam(spark, dir, 0.45)

  /** d16's body with the contamination threshold exposed — the
    * ScalingBench second-threshold row (0.35) measures how the
    * cross-only candidate join's verified volume scales when the
    * contamination bar loosens; the gate stays pinned at 0.45. */
  def semanticDecontam(spark: SparkSession, dir: String,
                       threshold: Double): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val split = emb.select(col("vec_id"),
      Pipeline.splitOf(Pipeline.md5Bucket(col("vec_id"))).as("sp"))
    crossSplitContamination(emb, split, threshold)
      .groupBy(col("held_id").as("vec_id"))
      // min, not first: the split is a pure function of the id (every
      // row agrees), but first() is partition-order-dependent by
      // contract and would trip the determinism discipline
      .agg(min(col("held_sp")).as("split"),
        count(lit(1)).as("n_train_dups"),
        // round is monotone, so max∘round == round∘max — matches the
        // oracle's MAX over per-pair ROUND(...,6)
        max(round(col("cosine"), 6)).as("max_cosine_r"))
      .orderBy(col("vec_id"))
  }

  /** The CROSS-ONLY contamination stage shared by d16 (grouped per
    * held-out vector) and p12 (the train-side drop list): every
    * (held, train) pair at cosine ≥ threshold, discovered at d13's
    * dials (corpus-scaled depth, 24 bands, 4096 hot-bucket cap) and
    * exact-cosine verified. `split` columns: (vec_id, sp). The
    * train×train quadrant never exists — held-out rows equality-join
    * TRAIN rows on (band, bucket). Returns (held_id, held_sp,
    * train_id, cosine). */
  def crossSplitContamination(emb: DataFrame, split: DataFrame,
                              threshold: Double,
                              bandChunks: Int = 1): DataFrame = {
    require(bandChunks >= 1 && bandChunks <= 24,
      s"bandChunks must be in [1, 24]")
    val nVol = emb.count()
    val planes = lshPlanesFor(nVol)
    // pre-flight affordability (round 14 — p12's x1000 attempt spilled
    // past the 80 GB disk in THIS stage): cross-only expected volume
    // per band is held·min(cap, train/2^b) with held ≈ 51/256 and
    // train ≈ 205/256 of the corpus (the md5 split's arithmetic) —
    // ~37M at x100 (completes, measured) vs ~470M at x1000 (the disk
    // wall). Refuse up front, the d13/d14 convention. `bandChunks` > 1
    // processes band groups sequentially (the
    // [[embeddingNearDupPairsLSH]] round-15 mechanism — same union-of-
    // verified-pairs idempotence, pinned chunked == unchunked in
    // DedupSpec), so the budget checks the PER-CHUNK estimate.
    val heldEst = nVol * 51L / 256L
    val trainEst = nVol * 205L / 256L
    val popBound = math.min(4096L, math.max(1L, trainEst >> planes))
    val chunkBands = (24 + bandChunks - 1) / bandChunks
    Similarity.checkIvfVolume(chunkBands * heldEst * popBound,
      Similarity.IvfCandidateVolumeBudget,
      s"crossSplitContamination(N=$nVol, bands=24, planesPerBand=$planes, " +
        s"bandChunks=$bandChunks — raising bandChunks divides the peak " +
        "estimate)")
    // cap BEFORE the split flag, on whole-corpus populations — the
    // same degenerate-clump guard semantics as d13's generator. The
    // flagged bucket frame feeds both join sides with differing
    // filters; eager materialization stops the signing pipeline
    // running once per side (incrementalPairs discipline).
    // spreadIfNarrow (round 16): the 24-band signing pipeline
    // otherwise runs on the embeddings scan's task count — one task on
    // a single-row-group gate file; identity on wide layouts
    // (the embeddingNearDupPairsLSH rationale).
    val buckets = capBuckets(
        embeddingBucketIndex(
          graft.ScalePolicy.spreadIfNarrow(emb, col("vec_id")),
          bands = 24, planesPerBand = planes),
        Some(4096L))
      .join(split, Seq("vec_id"))
      .localCheckpoint(true)
    val e = emb.select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
      .withColumn("nrm", VectorOps.norm(col("v")))
    def verifiedFor(bk: DataFrame): DataFrame = {
      val cand = bk.filter(col("sp") =!= "train").as("a")
        .join(bk.filter(col("sp") === "train").as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
        .select(col("a.vec_id").as("held_id"), col("a.sp").as("held_sp"),
          col("b.vec_id").as("train_id"))
        .distinct()
      cand
        .join(e.select(col("vec_id").as("held_id"), col("v").as("va"),
          col("nrm").as("na")), Seq("held_id"))
        .join(e.select(col("vec_id").as("train_id"), col("v").as("vb"),
          col("nrm").as("nb")), Seq("train_id"))
        .withColumn("cosine",
          VectorOps.dot(col("va"), col("vb")) / (col("na") * col("nb")))
        .filter(col("cosine") >= threshold)
        .select(col("held_id"), col("held_sp"), col("train_id"), col("cosine"))
    }
    if (bandChunks == 1) verifiedFor(buckets)
    else {
      val chunks = (0 until bandChunks).map { ci =>
        val out = verifiedFor(
          buckets.filter(col("band") % bandChunks === ci))
          .localCheckpoint(true)
        System.gc() // drop the finished chunk's shuffle files (cleaner)
        out
      }
      // cosine is a pure function of the pair — cross-chunk duplicates
      // are identical rows; distinct restores the unchunked set
      chunks.reduce(_ union _).distinct()
    }
  }

  /** Exact cross-split replay: same md5 arithmetic as p04's oracle,
    * exact all-pairs cosine — the LSH path must find every
    * contaminated held-out vector and the same per-vector counts. */
  val d16Sql: String =
    s"""WITH sp AS (
      |  SELECT vec_id,
      |    ${Pipeline.sqlSplitOf("bucket")} AS split
      |  FROM (SELECT vec_id, ${Pipeline.sqlMd5Bucket("vec_id")} AS bucket
      |        FROM embeddings)),
      |h AS (SELECT e.vec_id, sp.split, e.embedding
      |      FROM embeddings e JOIN sp ON sp.vec_id = e.vec_id
      |      WHERE sp.split <> 'train'),
      |r AS (SELECT e.vec_id, e.embedding
      |      FROM embeddings e JOIN sp ON sp.vec_id = e.vec_id
      |      WHERE sp.split = 'train'),
      |pairs AS (
      |  SELECT h.vec_id, h.split,
      |    ROUND(list_cosine_similarity(h.embedding::DOUBLE[],
      |                                 r.embedding::DOUBLE[]), 6) AS c
      |  FROM h JOIN r
      |    ON list_cosine_similarity(h.embedding::DOUBLE[],
      |                              r.embedding::DOUBLE[]) >= 0.45)
      |SELECT vec_id, MIN(split) AS split,
      |       COUNT(*) AS n_train_dups, MAX(c) AS max_cosine_r
      |FROM pairs GROUP BY 1
      |ORDER BY vec_id""".stripMargin

  /** d12 — SEMANTIC dedup end to end (the SemDeDup shape): cluster the
    * exact embedding near-dup pairs transitively, drop every non-head
    * member, keep heads and singletons — the survivor checksum a
    * pipeline consumes. Composition of [[embeddingNearDupPairs]] and
    * [[dupClusters]]; at 100 TB swap the exact pair stage for the
    * banded-LSH d07 path (same downstream shape). Oracle: DuckDB
    * recursive-CTE closure over the same cosine pairs. */
  def d12SemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    semanticSurvivors(emb, embeddingNearDupPairs(emb, 0.45))
  }

  /** Shared downstream of d12/d13/d14: cluster the pair list, drop
    * every non-head member, summarize the survivor set. The pair
    * generator is the ONLY thing that differs between the exact gate
    * (d12) and the scale paths (d13/d14) — identical survivor logic by
    * construction.
    *
    * Clustering runs through [[Graph.starContract]] (round 9), not
    * [[dupClusters]]: both produce the identical component-minimum
    * labeling (cross-pinned in GraphSpec), but min-label propagation
    * needs DIAMETER rounds and the x100 scaling corpus produced a
    * near-dup chain whose diameter blew past its 20-round budget
    * (measured failure, dev/scaling.md) — star contraction covers the
    * same component in O(log n) alternations. */
  private def semanticSurvivors(emb: DataFrame, pairDf: DataFrame): DataFrame = {
    val dropped = Graph.starContract(pairDf.select(col("id_a"), col("id_b")))
      .filter(col("node") =!= col("lbl"))
      .select(col("node").as("vec_id"))
    emb.select(col("vec_id"))
      .join(dropped, Seq("vec_id"), "left_anti")
      .agg(count(lit(1)).as("kept_vecs"), sum(col("vec_id")).as("kept_id_sum"))
      .crossJoin(dropped.agg(count(lit(1)).as("dropped_vecs")))
  }

  /** d13 — banded-hyperplane-LSH semantic dedup, SCALE-BOUNDED:
    * identical downstream to d12 (same [[dupClusters]] →
    * drop-non-heads → survivor checksum via [[semanticSurvivors]]) but
    * the pair stage is the banded-LSH candidate generator instead of
    * the exact all-pairs scan, with BOTH scale guards engaged:
    *
    *  - **corpus-scaled granularity** ([[lshPlanesFor]]): plane depth
    *    grows with log₂(N/256) so bucket population — and with it
    *    candidate volume per band — stays ~constant per vector. Round
    *    8's fixed-depth form (b = 3 at any N) OOM'd the 128 GiB JVM at
    *    50k vectors (~N²/8 candidates per band, dev/scaling.md); the
    *    scaled form completes there (see the re-measured row).
    *  - **hot-bucket cap** ([[capBuckets]] via `maxBucketSize`): with
    *    granularity scaled, an organic bucket holds ~256 vectors, so a
    *    bucket over 4096 is a degenerate identical-vector clump whose
    *    pairwise enumeration is quadratic by definition — dropped, to
    *    be handled by cluster-level policy (the d08/d11 precedent;
    *    engagement pinned in DedupSpec on a synthetic clump).
    *
    * Hash-gated against the SAME oracle as d12 — every LSH candidate
    * passes exact cosine verification (precision 1), and at gate scale
    * the auto-scaled depth equals the historical fixed b = 3 while 24
    * bands give recall 1 on this corpus (d07's default 12 bands miss
    * one borderline pair at cosine 0.475; 24 ⇒ ~5·10⁻⁴ miss). Pair-set
    * equality vs the exact scan is pinned in DedupSpec, so the capped,
    * depth-scaled path must reproduce the exact survivor set bit for
    * bit. The remaining honest trade at 100 TB: deeper b shrinks
    * per-band recall at the THRESHOLD angle as pᵇ (near-identical
    * pairs survive any depth), so a deployment holding boundary recall
    * raises `bands` with depth — or uses [[d14SemanticDedupIvf]],
    * whose probe cost is flat in N. */
  def d13SemanticDedupLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val planes = lshPlanesFor(emb.count())
    semanticSurvivors(emb, embeddingNearDupPairsLSH(emb, 0.45, bands = 24,
      planesPerBand = planes, maxBucketSize = Some(4096L)))
  }

  /** d13 with band-at-a-time execution engaged — the x1000 completion
    * path (round 15): identical pair set and survivor set (chunked ==
    * unchunked pinned in DedupSpec; the union of verified pairs is
    * idempotent), peak candidate spill ÷ bandChunks. Not a separate
    * gate query — the gate stays the single-pass form; this is the
    * ScalingBench row that turns the round-14 refusal into a bounded
    * completion. */
  def d13SemanticDedupLshChunked(bandChunks: Int)(
      spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val planes = lshPlanesFor(emb.count())
    semanticSurvivors(emb, embeddingNearDupPairsLSH(emb, 0.45, bands = 24,
      planesPerBand = planes, maxBucketSize = Some(4096L),
      bandChunks = bandChunks))
  }

  /** d14 — semantic dedup over the IVF-CELLED pair generator
    * ([[embeddingNearDupPairsIVF]]) — the path whose candidate volume
    * stays linear as the corpus grows (cell count scales with N; see
    * dev/scaling.md for the measured curves). Same downstream as
    * d12/d13 via [[semanticSurvivors]].
    *
    * HASH-GATED from round 14 against a generated oracle that makes
    * the SAME approximation (the s15 precedent): cell partitioning
    * still trades boundary-pair recall for linear scaling, so the
    * survivor checksum is legitimately ≠ d12's on corpora with
    * straddling pairs — but every stage is cross-engine replayable
    * (the seedless two-level Lloyd fit via [[Similarity.twoLevelChainSql]],
    * the round-9 flat spill ranking, in-cell pairs, exact cosine ≥ t,
    * the d12 recursive-CTE closure), so DuckDB reproduces the
    * approximate survivor set bit for bit. Still pinned in DedupSpec:
    * precision exactly 1, recall ≥ 0.8 at defaults, and spill = nlist
    * (probe every cell) degenerates to the EXACT pair set. */
  def d14SemanticDedupIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    semanticSurvivors(emb, embeddingNearDupPairsIVF(emb, 0.45))
  }

  /** d14's generated oracle: replay the WHOLE approximate pipeline in
    * DuckDB — both engines make the SAME approximation (the s15
    * precedent), so the gate checks the machinery, not recall.
    * Chain: [[Similarity.twoLevelChainSql]](16) (nlist = max(16,
    * N/256) = 16 at the 500-vector gate SF — mirrored literally, the
    * m03/m06 convention: change the Scala dials and this constant
    * together) → flat round-9 spill-3 ranking over ALL cells (d14's
    * `assignedBy`, NOT the chain's hierarchical `fin`) → distinct
    * in-cell pairs → exact cosine ≥ 0.45 → the d12 recursive-CTE
    * closure and survivor checksum. */
  val d14Sql: String =
    s"""WITH RECURSIVE ${Similarity.twoLevelChainSql(16, withFin = false)},
      |spl AS MATERIALIZED (
      |  SELECT vec_id, cell FROM (
      |    SELECT e.vec_id, ct.cell,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |        ORDER BY ${Similarity.sqlDist("e.v", "ct.clist")}, ct.cell) AS crk
      |    FROM emb e CROSS JOIN cells ct) t
      |  WHERE crk <= 3),
      |cand AS MATERIALIZED (
      |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM spl a JOIN spl b ON a.cell = b.cell AND a.vec_id < b.vec_id),
      |pairs AS MATERIALIZED (
      |  SELECT id_a, id_b FROM cand
      |  JOIN emb ea ON ea.vec_id = cand.id_a
      |  JOIN emb eb ON eb.vec_id = cand.id_b
      |  WHERE list_cosine_similarity(ea.v, eb.v) >= 0.45),
      |$sqlClosure,
      |dropped AS (SELECT node FROM labels WHERE node <> lbl)
      |SELECT COUNT(*) AS kept_vecs,
      |  CAST(SUM(vec_id) AS BIGINT) AS kept_id_sum,
      |  (SELECT COUNT(*) FROM dropped) AS dropped_vecs
      |FROM embeddings
      |WHERE vec_id NOT IN (SELECT node FROM dropped)""".stripMargin

  val d12Sql: String =
    s"""WITH RECURSIVE pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |  WHERE list_cosine_similarity(a.embedding::DOUBLE[],
      |                               b.embedding::DOUBLE[]) >= 0.45),
      |$sqlClosure,
      |dropped AS (SELECT node FROM labels WHERE node <> lbl)
      |SELECT COUNT(*) AS kept_vecs,
      |  CAST(SUM(vec_id) AS BIGINT) AS kept_id_sum,
      |  (SELECT COUNT(*) FROM dropped) AS dropped_vecs
      |FROM embeddings
      |WHERE vec_id NOT IN (SELECT node FROM dropped)""".stripMargin

  /** d09 — duplicate clusters over the exact Jaccard pairs: per cluster
    * head, how many documents collapse into it. The exact pairs feed the
    * gate for oracle determinism; at scale the same [[dupClusters]] runs
    * off d03's LSH pairs (identical schema, and on this corpus an
    * identical pair set — see d03). Oracle = transitive closure by
    * recursive CTE in DuckDB. */
  def d09DupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = jaccardPairs(Tables.documents(spark, dir), 0.8)
      .select(col("id_a"), col("id_b"))
    dupClusters(pairs)
      .groupBy(col("lbl"))
      .agg(
        count(lit(1)).as("cluster_size"),
        sum(col("node")).as("member_id_sum"),
        max(col("node")).as("max_doc_id"))
      .select(col("lbl").as("cluster_id"), col("cluster_size"),
        col("member_id_sum"), col("max_doc_id"))
      .orderBy(col("cluster_id"))
  }

  val d09Sql: String =
    s"""WITH RECURSIVE sh AS (
      |  ${sqlShingles("documents")}),
      |$sqlScoredPairs,
      |pairs AS (SELECT id_a, id_b FROM scored WHERE jaccard >= 0.8),
      |$sqlClosure
      |SELECT lbl AS cluster_id,
      |  COUNT(*) AS cluster_size,
      |  CAST(SUM(node) AS BIGINT) AS member_id_sum,
      |  MAX(node) AS max_doc_id
      |FROM labels
      |GROUP BY lbl
      |ORDER BY cluster_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d01_exact_dedup"     -> d01ExactDedup _,
    "d02_jaccard_pairs"   -> d02JaccardPairs _,
    "d03_minhash_pairs"   -> d03MinhashPairs _,
    "d04_simhash_pairs"   -> d04SimhashPairs _,
    "d05_embedding_pairs" -> d05EmbeddingPairs _,
    "d06_winnow_pairs"    -> d06WinnowPairs _,
    "d07_embedding_lsh_pairs" -> d07EmbeddingLshPairs _,
    "d08_jaccard_capped"  -> d08JaccardCapped _,
    "d09_dup_clusters"    -> d09DupClusters _,
    "d10_incremental_dedup" -> d10IncrementalDedup _,
    "d11_minhash_capped"  -> d11MinhashCapped _,
    "d12_semantic_dedup"  -> d12SemanticDedup _,
    "d13_semantic_dedup_lsh" -> d13SemanticDedupLsh _,
    "d14_semantic_dedup_ivf" -> d14SemanticDedupIvf _,
    "d15_containment_pairs" -> d15ContainmentPairs _,
    "d16_semantic_decontam" -> d16SemanticDecontam _,
  )

  val oracles: Map[String, String] = Map(
    "d01_exact_dedup"     -> d01Sql,
    "d02_jaccard_pairs"   -> d02Sql,
    "d03_minhash_pairs"   -> d02Sql, // must equal the exact answer
    "d04_simhash_pairs"   -> d04Sql,
    "d05_embedding_pairs" -> d05Sql,
    "d07_embedding_lsh_pairs" -> d07Sql,
    "d08_jaccard_capped"  -> d08Sql,
    "d09_dup_clusters"    -> d09Sql,
    "d10_incremental_dedup" -> d10Sql,
    "d11_minhash_capped"  -> d02Sql, // cap must not lose true pairs here
    "d12_semantic_dedup"  -> d12Sql,
    "d13_semantic_dedup_lsh" -> d12Sql, // scale path must equal the exact answer
    // d14's oracle makes the SAME cell-partitioning approximation (the
    // s15 precedent): the seedless fit, round-9 spill ranking, and
    // closure all replay exactly — see d14Sql
    "d14_semantic_dedup_ivf" -> d14Sql,
    "d15_containment_pairs" -> d15Sql,
    "d16_semantic_decontam" -> d16Sql,
  )
}
