package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

import graft.operators.Dedup
import graft.operators.Dedup.MinHashParams

/** Streaming ingest deduplication — the continuous-corpus twin of the
  * batch [[graft.operators.Dedup.incrementalPairs]]: documents arrive
  * as micro-batches, and a document LANDS only if no smaller-id
  * document seen so far is a near-duplicate (shingle-Jaccard ≥
  * threshold). Min-id-wins is the policy of every "first occurrence
  * wins" training-data pipeline; rejected documents still become dup
  * AUTHORITIES (a doc similar only to an already-rejected doc is also
  * rejected — boilerplate families stay suppressed without transitive
  * closure bookkeeping).
  *
  * State is NOT a Spark state store — it is two append-only parquet
  * tables the sink maintains itself (the warehouse-as-state pattern):
  *  - `index/buckets`: (doc_id, band, bucket) LSH rows of every doc
  *    ever seen ([[Dedup.bucketIndex]]) — the candidate-join side;
  *  - `index/text`:    (doc_id, text) — fetched only for candidate
  *    verification.
  *
  * Scale posture (100 TB): each micro-batch signs ONLY its own
  * documents (one signature pass over the batch), discovers candidates
  * by an equality join of its bucket rows against the stored index, and
  * exact-verifies just the candidates — per-batch cost is
  * O(batch + candidates), never O(corpus). The index grows with the
  * corpus but is only ever equi-joined (production stores it bucketed
  * by `bucket`, and the text store bucketed by `doc_id`, so both joins
  * are bucket-pruned). The sink runs without the batch path's
  * hot-bucket cap (`maxBucketSize`, d11-gate-proven): no bucket of the
  * v18 gate's corpus is hot. Both landings partition by `batch_id` and use
  * dynamic partition overwrite, so a retried micro-batch overwrites its
  * own partition instead of duplicating it (exactly-once, the
  * [[EventStreams.sinkToWarehouse]] pattern), and the index read
  * excludes the current batch id so a retry never pairs a document with
  * its own first attempt.
  *
  * Arrival contract: doc_id is the ingest sequence number — batches
  * arrive in ascending doc_id ranges (the gate stages slices in order).
  * The authority condition is `authority.doc_id < new.doc_id` on BOTH
  * the seen side and the within-batch side, so the survivor set is
  * exactly "docs with no smaller-id near-dup among all docs", which the
  * batch oracle expresses as one anti-join over the exact all-pairs set
  * (no recursion): LSH discoverability of a pair depends only on the
  * two signatures, not on batching, so the streamed answer equals the
  * exact oracle whenever the batch LSH does (d03/d10's recall
  * argument). */
object IngestDedup {

  /** The documents wire schema (matches `documents.parquet`). */
  val docsSchemaDdl: String =
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"

  /** Unbounded file-source reader for a documents directory: new
    * parquet files become micro-batches, one file per batch, so one
    * backlog file cannot blow executor memory. */
  def readDocs(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(StructType.fromDDL(docsSchemaDdl))
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)

  private def readStateOrEmpty(spark: SparkSession, dir: String,
                               schemaDdl: String, beforeBatch: Long): DataFrame =
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
      spark.read.parquet(dir).filter(col("batch_id") < beforeBatch)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType.fromDDL(schemaDdl + ", batch_id BIGINT"))

  private[graft] def landPartitioned(df: DataFrame, id: Long, dir: String): Unit =
    df.withColumn("batch_id", lit(id))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(dir)

  /** The semantic index's signing meta: `indexDir/planes` holds
    * "planes bands" — the parameters its `buckets` rows are signed
    * with. Written by EVERY sink mode before its first bucket rows
    * land (auto AND explicit — an index without meta cannot be safely
    * resumed at a different depth) and LAST by a re-bucket
    * ([[graft.operators.Dedup.rebucketIndex]]), so a torn re-bucket
    * re-runs rather than mis-joining. Bands are recorded so an offline
    * re-bucket with the wrong band count fails loudly instead of
    * silently zeroing the missing bands' recall. */
  private[graft] def writePlanesMeta(spark: SparkSession, indexDir: String,
                                     planes: Int, bands: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/planes")
    val tmp = new org.apache.hadoop.fs.Path(s"$indexDir/planes.__tmp__")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(tmp, true)
    try out.write(s"$planes $bands".getBytes("UTF-8")) finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    require(fs.rename(tmp, p), s"planes meta rename $tmp -> $p failed")
  }

  /** Generic signing-dials guard for the MinHash sink's index (the
    * hyperplane sink has the richer planes/bands meta above, which
    * also drives depth scaling): first batch writes `indexDir/signing`
    * atomically; every batch requires the stored line to equal its
    * own dials — a restart under different dials must fail loudly,
    * not equi-join nothing. */
  private[graft] def checkSigningMeta(spark: SparkSession, indexDir: String,
                                      line: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/signing")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) {
      val tmp = new org.apache.hadoop.fs.Path(s"$indexDir/signing.__tmp__")
      val out = fs.create(tmp, true)
      try out.write(line.getBytes("UTF-8")) finally out.close()
      require(fs.rename(tmp, p), s"signing meta rename $tmp -> $p failed")
    } else {
      val in = fs.open(p)
      val stored = try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        buf.toString("UTF-8").trim
      } finally in.close()
      require(stored == line,
        s"index at $indexDir was signed with '$stored', sink runs '$line'" +
          " — signing dials are fixed for an index's lifetime")
    }
  }

  /** (planes, bands) of the stored index, if its meta exists. */
  private[graft] def readPlanesMeta(spark: SparkSession,
                                    indexDir: String): Option[(Int, Int)] = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/planes")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        val parts = buf.toString("UTF-8").trim.split("\\s+")
        Some((parts(0).toInt, parts(1).toInt))
      } finally in.close()
    }
  }

  /** Start the deduplicating ingest: survivors land under `outDir`,
    * the seen-docs index under `indexDir` (both batch_id-partitioned,
    * see class doc for the exactly-once argument). A document is a
    * near-duplicate at shingle-Jaccard ≥ 0.8 (the d-family gates'
    * threshold); `p` are the MinHash dials the index is signed with. */
  def dedupingSink(streamed: DataFrame, outDir: String, indexDir: String,
                   checkpointDir: String,
                   p: MinHashParams = MinHashParams()): StreamingQuery =
    streamed.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], id: Long) =>
        val spark = batch.sparkSession
        val docs = batch.select(col("doc_id"), col("text"))
        // the v30-class signing-drift guard: stored bucket rows are only
        // equi-join-compatible with batches signed under the SAME
        // (numHashes, bandRows, shingle n) — a restart with different
        // dials would silently match nothing and land near-dups as
        // survivors. First batch records the dials; every batch checks.
        checkSigningMeta(spark, indexDir,
          s"minhash ${p.numHashes} ${p.bandRows} ${Dedup.shingleN}")
        // one signature pass over the BATCH only; three consumers
        // (candidate probe, within-batch authority side, index landing)
        // — materialize once
        val mine = Dedup.bucketIndex(docs, p).localCheckpoint(true)
        val seenBuckets = readStateOrEmpty(spark, s"$indexDir/buckets",
          "doc_id BIGINT, band INT, bucket BIGINT", id)
          .select(col("doc_id"), col("band"), col("bucket"))
        val seenText = readStateOrEmpty(spark, s"$indexDir/text",
          "doc_id BIGINT, text STRING", id)
          .select(col("doc_id"), col("text"))
        // authorities: any smaller-id doc — seen in an earlier batch or
        // earlier in this one
        val authorities = seenBuckets.unionByName(mine)
        val cand = mine.as("a")
          .join(authorities.as("b"),
            col("a.band") === col("b.band") &&
              col("a.bucket") === col("b.bucket") &&
              col("b.doc_id") < col("a.doc_id"))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .distinct()
        val rejected = Dedup.verifyPairs(cand,
            docs.unionByName(seenText), 0.8)
          .select(col("id_a").as("doc_id")).distinct()
        landPartitioned(batch.join(rejected, Seq("doc_id"), "left_anti"),
          id, outDir)
        // the index lands LAST and includes every batch doc (rejected
        // docs are authorities too); written after the candidate read,
        // and the read excludes batch_id = id, so a retry is safe
        landPartitioned(mine, id, s"$indexDir/buckets")
        landPartitioned(docs, id, s"$indexDir/text")
        ()
      }
      .start()

  /** v18 — the streaming ingest dedup end to end, hash-gated against
    * the exact batch oracle: the documents table is staged as three
    * ascending doc_id slices, streamed one file per micro-batch through
    * [[dedupingSink]], STOPPED after two slices (crash stand-in) and
    * restarted from the checkpoint — the parquet-persisted index must
    * carry the seen-docs state across the restart (no state store
    * involved). The landed survivor set must equal "documents with no
    * smaller-id near-dup at Jaccard ≥ 0.8 among ALL documents". */
  def v18StreamedIngestDedup(spark: SparkSession, dir: String): DataFrame = {
    Staging.scratch("v18") { base =>
      val (src, out, idx, ckpt) =
        (s"$base/src", s"$base/out", s"$base/idx", s"$base/ckpt")
      val docs = graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      // slice bounds from the data (one tiny driver action), like d10
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val (c1, c2) = (maxId / 3, 2 * maxId / 3)
      // mtime-stamped staging: discovery order == staging order
      val stage = Staging.stager(src)
      stage(docs.filter(col("doc_id") <= lit(c1)))
      stage(docs.filter(col("doc_id") > lit(c1) && col("doc_id") <= lit(c2)))
      def start() = dedupingSink(readDocs(spark, src), out, idx, ckpt)
      // the replay width: the per-batch joins move kilobytes, so
      // 32-way exchanges are pure task overhead ×3 batches
      graft.GraftSession.withConf(spark)(
          "spark.sql.shuffle.partitions" -> EventStreams.replayPartitions.toString) {
        val q1 = start()
        try q1.processAllAvailable() finally q1.stop()
        // the last slice arrives while the query is down
        stage(docs.filter(col("doc_id") > lit(c2)))
        val q2 = start()
        try q2.processAllAvailable() finally q2.stop()
      }
      spark.read.parquet(out)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }
  }

  /** The embeddings wire schema (matches `embeddings.parquet`). */
  val vecsSchemaDdl: String =
    "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"

  /** Unbounded file-source reader for an embeddings directory. */
  def readVecs(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(StructType.fromDDL(vecsSchemaDdl))
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)

  /** LSH bands of [[semanticDedupingSink]]'s index. */
  private val semanticBands = 24

  /** Streamed SEMANTIC ingest dedup — [[dedupingSink]]'s embedding
    * twin, same warehouse-as-state pattern with the banded hyperplane
    * LSH index in place of MinHash buckets:
    *
    *  - `index/buckets`: (vec_id, band, bucket) rows of every vector
    *    ever seen ([[graft.operators.Dedup.embeddingBucketIndex]]) —
    *    the candidate equi-join side;
    *  - `index/vecs`:    (vec_id, embedding) — fetched only for exact
    *    cosine verification of candidates.
    *
    * A vector LANDS only if no smaller-id vector seen so far sits at
    * cosine ≥ 0.45 (min-id-wins); rejected vectors still become
    * authorities. Per-batch cost is O(batch + candidates): the batch
    * buckets only its own vectors and equi-joins the stored index.
    * The dials are the d13 gate's (24 bands × 3 planes, the setting
    * DedupSpec pins to recall 1 at 0.45 on the gate corpus, seed 42,
    * hot buckets capped at 4096 rows) —
    * that pin is exactly what makes the exact-all-pairs oracle sound
    * for the streamed gate: LSH discoverability of a pair depends only
    * on the two vectors, never on batching.
    *
    * DEPTH SCALING (the 100 TB story, now built, not just documented):
    * with `planesPerBand = None` the sink picks its hyperplane depth
    * per batch from the corpus seen so far
    * ([[graft.operators.Dedup.lshPlanesFor]]), and when the corpus
    * decade-steps past the stored index's depth (the `indexDir/planes`
    * meta) it first re-signs the whole parquet index at the deeper
    * depth via [[graft.operators.Dedup.rebucketIndex]] — one idempotent
    * batch job with a move-aside-atomic swap — then buckets the batch
    * at the new depth. Landed survivors are unaffected by WHEN the
    * re-bucket happens: a re-bucketed index is bit-identical to a
    * fresh full-corpus bucketing at the new depth (IngestDedupSpec
    * pins both the bit-identity and survivor-set invariance across a
    * mid-stream re-bucket). At gate scale `lshPlanesFor` floors at the
    * d13 dials' b = 3, so the v30 hash gate is parameter-stable; a
    * deployment holding boundary recall raises the band count as depth
    * grows (the [[graft.operators.Dedup.embeddingNearDupPairsLSH]]
    * E2LSH note). */
  def semanticDedupingSink(streamed: DataFrame, outDir: String,
                           indexDir: String, checkpointDir: String,
                           planesPerBand: Option[Int] = None): StreamingQuery =
    streamed.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], id: Long) =>
        val spark = batch.sparkSession
        import graft.functions.VectorOps
        val vecs = batch.select(col("vec_id"), col("embedding"))
        val seenVecs = readStateOrEmpty(spark, s"$indexDir/vecs",
          "vec_id BIGINT, embedding ARRAY<FLOAT>", id)
          .select(col("vec_id"), col("embedding"))
        // depth decision BEFORE bucketing: auto mode re-signs the stored
        // index first when the corpus has outgrown its depth, so the
        // batch's buckets and the index's are always join-compatible
        val meta = readPlanesMeta(spark, indexDir)
        meta.foreach { case (_, b) =>
          require(b == semanticBands,
            s"index at $indexDir is signed with $b bands, sink runs $semanticBands" +
              " — change neither mid-index, or re-bucket offline first")
        }
        val depth = planesPerBand match {
          case Some(d) =>
            // explicit mode still RECORDS its signing so an auto-mode
            // resume (or an offline re-bucket) knows the stored depth
            if (meta.isEmpty) writePlanesMeta(spark, indexDir, d, semanticBands)
            d
          case None =>
            val want = Dedup.lshPlanesFor(seenVecs.count() + vecs.count())
            meta match {
              case Some((have, _)) if want > have =>
                Dedup.rebucketIndex(spark, indexDir, semanticBands, want)
                want
              case Some((have, _)) => have // never shrink below stored depth
              case None if seenVecs.isEmpty =>
                writePlanesMeta(spark, indexDir, want, semanticBands)
                want
              case None =>
                // committed rows exist but their signing is unrecorded
                // (an index from before meta existed): the only sound
                // move is to re-sign everything at `want` — rebucket is
                // idempotent, depth-agnostic about the old rows, and
                // writes the meta last
                Dedup.rebucketIndex(spark, indexDir, semanticBands, want)
                want
            }
        }
        val mine = Dedup.embeddingBucketIndex(vecs, semanticBands, depth)
          .localCheckpoint(true)
        val seenBuckets = readStateOrEmpty(spark, s"$indexDir/buckets",
          "vec_id BIGINT, band INT, bucket BIGINT", id)
          .select(col("vec_id"), col("band"), col("bucket"))
        // the d13 hot-bucket guard, counted over the COMBINED frame (the
        // dedupingSink accounting): an identical-vector clump maps every
        // band to one bucket, and the uncapped candidate join would pay
        // C(n,2) per band — the exact blow-up that OOM'd the round-8
        // fixed-depth d13 measurement. 4096 is lossless at gate scale
        // (no organic bucket approaches it) and bounds every bucket's
        // pair contribution at 100 TB.
        val authorities = Dedup.capBuckets(
          seenBuckets.unionByName(mine), Some(4096L))
        val cand = mine.as("a")
          .join(authorities.as("b"),
            col("a.band") === col("b.band") &&
              col("a.bucket") === col("b.bucket") &&
              col("b.vec_id") < col("a.vec_id"))
          .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
          .distinct()
        val all = vecs.unionByName(seenVecs)
          .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("v"))
          .withColumn("nrm", VectorOps.norm(col("v")))
        val rejected = cand
          .join(all.select(col("vec_id").as("id_a"), col("v").as("va"),
            col("nrm").as("na")), Seq("id_a"))
          .join(all.select(col("vec_id").as("id_b"), col("v").as("vb"),
            col("nrm").as("nb")), Seq("id_b"))
          .filter(graft.functions.VectorOps.dot(col("va"), col("vb")) /
            (col("na") * col("nb")) >= 0.45)
          .select(col("id_a").as("vec_id")).distinct()
        landPartitioned(batch.join(rejected, Seq("vec_id"), "left_anti"),
          id, outDir)
        landPartitioned(mine, id, s"$indexDir/buckets")
        landPartitioned(vecs, id, s"$indexDir/vecs")
        ()
      }
      .start()

  /** v30 — streamed semantic ingest dedup end to end, hash-gated
    * against the exact batch oracle (the v18 protocol verbatim): the
    * embeddings table staged as three ascending vec_id slices, streamed
    * one file per micro-batch, STOPPED mid-ingest and restarted from
    * the checkpoint — the parquet-persisted bucket/vector index carries
    * the seen-vectors state across the restart. The landed survivor set
    * must equal "vectors with no smaller-id near-dup at cosine ≥ 0.45
    * among ALL vectors". */
  def v30StreamedSemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    Staging.scratch("v30") { base =>
      val (src, out, idx, ckpt) =
        (s"$base/src", s"$base/out", s"$base/idx", s"$base/ckpt")
      val vecs = graft.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"), col("label"))
      val maxId = vecs.agg(max(col("vec_id"))).head().getLong(0)
      val (c1, c2) = (maxId / 3, 2 * maxId / 3)
      val stage = Staging.stager(src)
      stage(vecs.filter(col("vec_id") <= lit(c1)))
      stage(vecs.filter(col("vec_id") > lit(c1) && col("vec_id") <= lit(c2)))
      def start() = semanticDedupingSink(readVecs(spark, src), out, idx, ckpt)
      graft.GraftSession.withConf(spark)(
          "spark.sql.shuffle.partitions" -> EventStreams.replayPartitions.toString) {
        val q1 = start()
        try q1.processAllAvailable() finally q1.stop()
        stage(vecs.filter(col("vec_id") > lit(c2)))
        val q2 = start()
        try q2.processAllAvailable() finally q2.stop()
      }
      spark.read.parquet(out)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    }
  }

  /** Oracle: survivors = vectors that never appear as the LARGER id of
    * an exact all-pairs cosine ≥ 0.45 pair (d12's pair CTE). */
  val v30Sql: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
      |rejected AS (
      |  SELECT DISTINCT b.vec_id AS id_b
      |  FROM v a JOIN v b ON a.vec_id < b.vec_id
      |  WHERE list_cosine_similarity(a.ev, b.ev) >= 0.45)
      |SELECT vec_id, label FROM embeddings
      |WHERE vec_id NOT IN (SELECT id_b FROM rejected)
      |ORDER BY vec_id""".stripMargin

  /** Oracle: survivors = docs that never appear as the LARGER id of an
    * exact all-pairs shingle-Jaccard ≥ 0.8 pair (the pair CTE is
    * d02's). */
  val v18Sql: String =
    s"""WITH sh AS (
      |  ${Dedup.sqlShingles("documents")}),
      |${Dedup.sqlScoredPairs},
      |rejected AS (SELECT DISTINCT id_b FROM scored WHERE jaccard >= 0.8)
      |SELECT doc_id, source, n_chars FROM documents
      |WHERE doc_id NOT IN (SELECT id_b FROM rejected)
      |ORDER BY doc_id""".stripMargin
}
