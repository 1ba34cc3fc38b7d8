package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  // Hand-crafted corpus: A≈B (one token differs), C=A verbatim, D unrelated.
  private def docs: DataFrame = Seq(
    (1L, "the quick brown fox jumps over the lazy dog today"),
    (2L, "the quick brown fox jumps over the lazy cat today"),
    (3L, "the quick brown fox jumps over the lazy dog today"),
    (4L, "completely different text about spark catalyst optimizer internals")
  ).toDF("doc_id", "text")

  test("exact() keeps one row per key, lowest tiebreaker") {
    val df = Seq((1L, "a", 3L), (1L, "b", 1L), (2L, "c", 5L))
      .toDF("k", "v", "ts")
    val out = Dedup.exact(df, Seq("k"), "ts").orderBy("k")
      .as[(Long, String, Long)].collect()
    assert(out.toSeq == Seq((1L, "b", 1L), (2L, "c", 5L)))
  }

  test("shingleArray: n-grams are distinct and positional") {
    val got = spark.range(1)
      .select(Dedup.shingleTokens(split(lit("a b c d"), " "), 3).as("s"))
      .as[Seq[String]].head()
    assert(got == Seq("a b c", "b c d"))
  }

  test("shingleArray: doc shorter than n falls back to whole text") {
    val got = spark.range(1)
      .select(Dedup.shingleTokens(split(lit("a b"), " "), 3).as("s"))
      .as[Seq[String]].head()
    assert(got == Seq("a b"))
  }

  test("jaccardPairs finds the verbatim pair at j=1.0 and excludes unrelated docs") {
    val pairs = Dedup.jaccardPairs(docs, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val exact = pairs.find(p => p._1 == 1L && p._2 == 3L)
    assert(exact.exists(_._3 == 1.0), s"expected (1,3,1.0) in $pairs")
    // near pair (1,2): 10 tokens → 8 shingles each; the differing 9th
    // token appears in the 2 final shingles → |∩|=6, |∪|=10
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L &&
      math.abs(p._3 - 0.6) < 1e-12))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), "doc 4 is unrelated")
  }

  test("containmentPairs catches the subset-dup that jaccard misses") {
    // doc 2 = doc 1 verbatim + 3x unrelated tail: the smaller side's
    // gram set is fully covered (containment 1.0) while jaccard dies
    // with the host's growth — the case d15 exists for
    val subset = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta " +
        "one two three four five six seven eight nine ten " +
        "eleven twelve thirteen fourteen fifteen sixteen"),
      (3L, "totally unrelated filler text about nothing at all")
    ).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(subset, 0.9)
      .as[(Long, Long, Double)].collect().toSeq
    assert(cont == Seq((1L, 2L, 1.0)))
    assert(Dedup.jaccardPairs(subset, 0.9).count() == 0L)
  }

  test("containmentPairs >= jaccardPairs score on every shared pair") {
    val c = Dedup.containmentPairs(docs, 0.0)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val j = Dedup.jaccardPairs(docs, 0.0)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(c.keySet == j.keySet && c.nonEmpty)
    j.foreach { case (k, jv) => assert(c(k) >= jv) }
  }

  test("minhashDedupPairs matches exact jaccardPairs on the same corpus") {
    val exact = Dedup.jaccardPairs(docs, 0.4)
      .as[(Long, Long, Double)].collect().toSet
    val lsh = Dedup.minhashDedupPairs(docs, 0.4)
      .as[(Long, Long, Double)].collect().toSet
    assert(lsh == exact)
  }

  test("simhash: identical docs get identical fingerprints") {
    val fp = Dedup.simhashes(docs).orderBy("doc_id")
      .select("simhash").as[Long].collect()
    assert(fp(0) == fp(2), "verbatim duplicates must collide")
    assert(fp(0) != fp(3), "unrelated docs should differ")
  }

  test("simhashPairs: verbatim pair at distance 0, unrelated excluded") {
    val pairs = Dedup.simhashPairs(docs)
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs.exists(p => p._1 == 1L && p._2 == 3L && p._3 == 0))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    // the d04 gate family (md5 hex-digit bits, round 15, the only
    // family): identical token multisets collide at distance 0 and
    // unrelated docs stay excluded
    val md5Pairs = Dedup.simhashPairs(docs)
      .as[(Long, Long, Int)].collect().toSet
    assert(md5Pairs.exists(p => p._1 == 1L && p._2 == 3L && p._3 == 0))
    assert(!md5Pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("banded-LSH embedding pairs: precision 1, recall high vs exact") {
    val emb = Tables.embeddings(spark, sf)
    val exactPairs = Dedup.embeddingNearDupPairs(emb, 0.45)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lshPairs = Dedup.embeddingNearDupPairsLSH(emb, 0.45)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lshPairs.subsetOf(exactPairs),
      "every LSH-found pair must pass the exact cosine test (precision 1)")
    val recall = lshPairs.size.toDouble / exactPairs.size
    // analytic expectation at cosine 0.45 with 12 bands x 3 planes ≈ 0.98
    assert(recall >= 0.7, f"LSH recall degraded to $recall%.2f")
    // d13's dial: 24 bands must recover EVERY true pair on this corpus —
    // the condition that lets the scale path hash-match d12's exact
    // oracle (miss prob per threshold-angle pair ~5e-4 vs ~2% at 12)
    val lsh24 = Dedup.embeddingNearDupPairsLSH(emb, 0.45, bands = 24)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh24 == exactPairs,
      "24-band LSH pair set must equal the exact pair set at 0.45")
    // the d07 gate family (md5 ±1 planes, round 12): same geometry, same
    // precision-1/recall contract — the hash gate pins the PAIR SET, this
    // pins its quality vs exact
    val md5Pairs = Dedup.embeddingNearDupPairsLSH(emb, 0.45,
        md5Tag = Some("d07"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(md5Pairs.subsetOf(exactPairs),
      "md5-plane LSH pair must pass the exact cosine test (precision 1)")
    val md5Recall = md5Pairs.size.toDouble / exactPairs.size
    assert(md5Recall >= 0.7, f"md5-plane LSH recall degraded to $md5Recall%.2f")
  }

  test("lshPlanesFor: depth scales with log2(N/target), floors at the gate's b=3") {
    // parameter stability at gate scale is what keeps the d13 hash gate
    // sound: sf0.01 (500 vecs) and sf0.1 (5k) stay within the floor or
    // one step above it, while 100 TB-class corpora deepen logarithmically
    assert(Dedup.lshPlanesFor(500) == 3)
    assert(Dedup.lshPlanesFor(2048) == 3)
    assert(Dedup.lshPlanesFor(5000) == 5)
    assert(Dedup.lshPlanesFor(50000) == 8)
    assert(Dedup.lshPlanesFor(5000000) == 15)
    // expected bucket population n/2^b never exceeds 2*target above floor
    for (n <- Seq(10000L, 1000000L, 100000000L))
      assert(n.toDouble / (1L << Dedup.lshPlanesFor(n)) <= 512.0,
        s"bucket population unbounded at n=$n")
  }

  test("lshBandsFor: identity at the gate geometry, miss probability held across depths") {
    // the compensation dial (round 11): gate hashes depend on
    // lshBandsFor(3) == 24 — the d13/d16/v30 band counts are literal
    assert(Dedup.lshBandsFor(3) == 24)
    // strictly increasing in depth, ≈2.4× per added plane at t = 0.45
    val ladder = (3 to 10).map(Dedup.lshBandsFor(_))
    assert(ladder.zip(ladder.tail).forall { case (a, b) => b > a },
      s"band ladder not increasing: $ladder")
    // the dial's contract: at the prescribed band count, the boundary
    // miss probability (1-p^b)^G never exceeds the gate geometry's
    val p = 1.0 - math.acos(0.45) / math.Pi
    val missBase = math.pow(1.0 - math.pow(p, 3), 24)
    for (b <- 4 to 12) {
      val miss = math.pow(1.0 - math.pow(p, b), Dedup.lshBandsFor(b))
      assert(miss <= missBase * 1.0000001,
        f"dial under-compensates at b=$b: miss $miss%.2e vs base $missBase%.2e")
    }
  }

  test("d13's guards: depth-scaled + capped LSH still equals the exact pair set") {
    // the EXACT parameterization d13SemanticDedupLsh feeds the gate:
    // auto-scaled depth, 24 bands, 4096 hot-bucket cap — must reproduce
    // the exact pair set bit for bit on the gate corpus (the cap is
    // lossless here: no organic bucket approaches 4096)
    val emb = Tables.embeddings(spark, sf)
    val exactPairs = Dedup.embeddingNearDupPairs(emb, 0.45)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val scaled = Dedup.embeddingNearDupPairsLSH(emb, 0.45, bands = 24,
      planesPerBand = Dedup.lshPlanesFor(emb.count()),
      maxBucketSize = Some(4096L))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(scaled == exactPairs,
      "d13's scale guards must be lossless on the gate corpus")
  }

  test("bandChunks: band-at-a-time equals the single pass, and divides the peak budget") {
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count()
    val single = Dedup.embeddingNearDupPairsLSH(emb, 0.45, bands = 24,
        maxBucketSize = Some(4096L))
      .as[(Long, Long, Double)].collect().toSet
    // 5 does not divide 24 — exercises the uneven last chunk
    val chunked = Dedup.embeddingNearDupPairsLSH(emb, 0.45, bands = 24,
        maxBucketSize = Some(4096L), bandChunks = 5)
      .as[(Long, Long, Double)].collect().toSet
    assert(chunked == single,
      "chunked execution must reproduce the single-pass pair set exactly")
    // the budget check moves to the PER-CHUNK estimate: a budget below
    // the full 24-band volume but above one chunk's refuses the single
    // pass and completes chunked — the x1000 mechanism at gate scale
    val pop = math.min(4096L, math.max(1L, n >> 3))
    val fullEst = 24L * n * pop / 2L
    val tight = fullEst / 2L
    intercept[IllegalArgumentException] {
      Dedup.embeddingNearDupPairsLSH(emb, 0.45, bands = 24,
        maxBucketSize = Some(4096L), volumeBudget = tight)
    }
    val underTight = Dedup.embeddingNearDupPairsLSH(emb, 0.45, bands = 24,
        maxBucketSize = Some(4096L), bandChunks = 4, volumeBudget = tight)
      .as[(Long, Long, Double)].collect().toSet
    assert(underTight == single,
      "the chunked pass must complete (identically) under the budget " +
        "that refuses the single pass")
    // the cross-split generator: same mechanism, same invariance
    val split = emb.select(col("vec_id"),
      operators.Pipeline.splitOf(
        operators.Pipeline.md5Bucket(col("vec_id"))).as("sp"))
    val csSingle = Dedup.crossSplitContamination(emb, split, 0.45)
      .as[(Long, String, Long, Double)].collect().toSet
    val csChunked = Dedup.crossSplitContamination(emb, split, 0.45,
        bandChunks = 7)
      .as[(Long, String, Long, Double)].collect().toSet
    assert(csChunked == csSingle,
      "chunked cross-split contamination must equal the single pass")
  }

  test("embedding hot-bucket cap drops an identical-vector clump, keeps organic pairs") {
    // 40 IDENTICAL vectors: every band maps the clump to one bucket, so
    // uncapped candidate volume pays C(40,2) quadratic per band. Two
    // near-dup organic vectors elsewhere sit in population-2 buckets
    // and must survive. This is the engagement pin for d13's cap.
    val clump = (1L to 40L).map(i => (i, Array(1.0f, 0.02f, 0.01f, 0.03f)))
    val organic = Seq(
      (100L, Array(-0.9f, 0.85f, -0.7f, 0.6f)),
      (101L, Array(-0.88f, 0.87f, -0.72f, 0.58f)))
    val emb = (clump ++ organic).toDF("vec_id", "embedding")
    val uncapped = Dedup.embeddingNearDupPairsLSH(emb, 0.9, bands = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val capped = Dedup.embeddingNearDupPairsLSH(emb, 0.9, bands = 8,
      maxBucketSize = Some(10L))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.count(p => p._1 <= 40L && p._2 <= 40L) == 40 * 39 / 2,
      "clump must dominate the uncapped pair set")
    assert(capped.contains((100L, 101L)),
      "organic small-bucket pair must survive the cap")
    assert(!capped.exists(p => p._1 <= 40L && p._2 <= 40L),
      "every clump bucket is over the cap, so its pairs are dropped " +
        "(cluster-level policy territory, the d08/d11 contract)")
  }

  test("IVF-celled embedding pairs: precision 1, bounded recall, exact at full probe") {
    val emb = Tables.embeddings(spark, sf)
    val exactPairs = Dedup.embeddingNearDupPairs(emb, 0.45)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val ivfPairs = Dedup.embeddingNearDupPairsIVF(emb, 0.45)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(ivfPairs.subsetOf(exactPairs),
      "every IVF-found pair must pass the exact cosine test (precision 1)")
    // boundary pairs may straddle cells (the linear-scaling trade);
    // observed 6/7 at defaults on this corpus
    val recall = ivfPairs.size.toDouble / exactPairs.size
    assert(recall >= 0.8, f"IVF recall degraded to $recall%.2f")
    // machinery-correctness dial: probing EVERY cell must degenerate to
    // the exact all-pairs answer (the s04 nprobe=nlist pin's twin)
    val full = Dedup.embeddingNearDupPairsIVF(emb, 0.45, spill = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(full == exactPairs,
      "spill = nlist must reproduce the exact pair set")
    // the OR-dial (round 12): unioning candidates across independently
    // initialized quantizers can only ADD verified pairs (precision
    // stays 1 — the identical exact-cosine verify), never lose one,
    // and quantizers = 1 is the historical path bit-for-bit
    val or2 = Dedup.embeddingNearDupPairsIVF(emb, 0.45, quantizers = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(ivfPairs.subsetOf(or2),
      "a second quantizer must never drop a pair the first found")
    assert(or2.subsetOf(exactPairs),
      "OR-dial pairs must still pass the exact cosine test (precision 1)")
    val or2Again = Dedup.embeddingNearDupPairsIVF(emb, 0.45, quantizers = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(or2 == or2Again, "the OR-dial must be deterministic")
  }

  test("volume budget (round 13): un-affordable IVF dials are refused up front") {
    val emb = Tables.embeddings(spark, sf)
    // estimate N·targetCell·spill²·q/2 over a tiny budget → refuse with
    // the estimate in the message, BEFORE any fit or join runs
    val e = intercept[IllegalArgumentException] {
      Dedup.embeddingNearDupPairsIVF(emb, 0.45, volumeBudget = 1000L)
    }
    assert(e.getMessage.contains("volume budget"),
      s"unexpected refusal message: ${e.getMessage}")
    val e2 = intercept[IllegalArgumentException] {
      operators.Similarity.ivfKnn(emb, emb, 5, nlist = 16, nprobe = 4,
        quantizers = 2, volumeBudget = 10L)
    }
    assert(e2.getMessage.contains("volume budget"))
    // round 14: the banded-LSH generator is budgeted too (the d13
    // x1000 lesson — it JVM-OOM'd at 500k vectors where the expected
    // volume reads ~1.5G, because the round-13 budgets covered only
    // the IVF paths)
    val e3 = intercept[IllegalArgumentException] {
      Dedup.embeddingNearDupPairsLSH(emb, 0.45, volumeBudget = 10L)
    }
    assert(e3.getMessage.contains("volume budget"),
      s"unexpected LSH refusal message: ${e3.getMessage}")
  }

  test("hot-bucket cap bounds LSH candidates on a boilerplate-heavy corpus") {
    // 40 identical boilerplate docs = one degenerate duplicate cluster:
    // all 40 share every band bucket, so uncapped candidate generation
    // pays the full C(40,2) quadratic. Two genuine near-dups with
    // unique text (J = 7/9 ≈ 0.78 → P(no shared band) ≈ 4e-7) sit in
    // population-2 buckets and must survive the cap.
    val boiler = (1L to 40L).map(i =>
      (i, "all rights reserved this file is licensed under the apache license"))
    val pair = Seq(
      (100L, "graft computes minhash signatures over shingled token arrays quickly"),
      (101L, "graft computes minhash signatures over shingled token arrays slowly"))
    val corpus = (boiler ++ pair).toDF("doc_id", "text")
    val sig = Dedup.signatures(corpus)
    val uncapped = Dedup.lshCandidates(sig).count()
    val capped = Dedup.lshCandidates(sig, maxBucketSize = Some(10L))
      .as[(Long, Long)].collect().toSet
    assert(uncapped >= 40L * 39 / 2, s"blob must dominate uncapped ($uncapped)")
    assert(capped.contains((100L, 101L)), "small-bucket true pair must survive")
    assert(capped.size <= 5,
      s"cap must drop the blob's quadratic candidates, got ${capped.size}")
  }

  test("capped minhashDedupPairs still equals exact when clusters fit the cap") {
    val exact = Dedup.jaccardPairs(docs, 0.4)
      .as[(Long, Long, Double)].collect().toSet
    val capped = Dedup.minhashDedupPairs(docs, 0.4,
      maxBucketSize = Some(32L))
      .as[(Long, Long, Double)].collect().toSet
    assert(capped == exact)
  }

  private def clustersOf(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.dupClusters(pairs.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap

  test("dupClusters: transitive chain collapses to the min label") {
    // 1-2, 2-3, 3-4 share no direct pair between 1 and 4
    val got = clustersOf(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("dupClusters: disjoint components keep separate heads") {
    val got = clustersOf(Seq((5L, 9L), (2L, 7L), (7L, 3L)))
    assert(got == Map(5L -> 5L, 9L -> 5L, 2L -> 2L, 7L -> 2L, 3L -> 2L))
  }

  test("dupClusters: long path needs multiple propagation rounds") {
    // path 10-9-8-...-1: diameter 9, label 1 must reach node 10
    val path = (1L until 10L).map(i => (i, i + 1))
    val got = clustersOf(path)
    assert(got.size == 10 && got.values.forall(_ == 1L))
  }

  test("dupClusters refuses to return truncated labels past maxIter") {
    val path = (1L until 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.dupClusters(path, maxIter = 3).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("d12 semantic dedup: drops exactly the non-head cluster members") {
    // one near-dup cluster {1,2,3} plus an isolated vector 4
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f, 0.01f)),
      (2L, Seq(1.0f, 0.01f, 0.0f)),
      (3L, Seq(0.99f, 0.0f, 0.0f)),
      (4L, Seq(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(emb, 0.9).select($"id_a", $"id_b")
    val dropped = Dedup.dupClusters(pairs)
      .filter($"node" =!= $"lbl").select($"node").as[Long].collect().toSet
    assert(dropped == Set(2L, 3L), "heads and singletons survive")
  }

  test("incrementalPairs equals the full-batch pairs restricted to new docs") {
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val split = docs.agg(expr("2 * MAX(doc_id) DIV 3")).head().getLong(0)
    val inc = Dedup.incrementalPairs(
      docs.filter($"doc_id" >= split), docs.filter($"doc_id" < split), 0.8)
      .select($"doc_id", $"dup_id").as[(Long, Long)].collect().toSet
    // full-batch exact answer, re-oriented to (larger, smaller)
    val full = Dedup.jaccardPairs(docs, 0.8)
      .select($"id_b".as("doc_id"), $"id_a".as("dup_id"))
      .filter($"doc_id" >= split)
      .as[(Long, Long)].collect().toSet
    assert(full.nonEmpty, "fixture must contain cross-batch duplicates")
    assert(inc == full, s"incremental=${inc.size} vs full=${full.size}")
    // every reported duplicate authority precedes its new doc
    assert(inc.forall { case (d, a) => a < d })
  }

  test("d16 semantic decontam equals the exact cross-split recomputation") {
    // the gate's LSH pair stage (d13 dials) vs an exact-generator
    // replay of the same held-out-vs-train restriction — the recall-1
    // argument the hash gate rests on, exercised end to end
    import graft.operators.Pipeline
    val emb = Tables.embeddings(spark, sf)
    val got = Dedup.d16SemanticDecontam(spark, sf)
      .select($"vec_id", $"split", $"n_train_dups", $"max_cosine_r")
      .as[(Long, String, Long, Double)].collect().toSet
    val split = emb.select($"vec_id",
      Pipeline.splitOf(Pipeline.md5Bucket($"vec_id")).as("sp"))
    val exactPairs = Dedup.embeddingNearDupPairs(emb, 0.45)
      .join(split.select($"vec_id".as("id_a"), $"sp".as("sp_a")), Seq("id_a"))
      .join(split.select($"vec_id".as("id_b"), $"sp".as("sp_b")), Seq("id_b"))
      .withColumn("held_id",
        when($"sp_a" =!= "train" && $"sp_b" === "train", $"id_a")
          .when($"sp_b" =!= "train" && $"sp_a" === "train", $"id_b"))
      .filter($"held_id".isNotNull)
      .withColumn("held_sp",
        when($"held_id" === $"id_a", $"sp_a").otherwise($"sp_b"))
      .groupBy($"held_id".as("vec_id"))
      .agg(min($"held_sp").as("split"), count(lit(1)).as("n_train_dups"),
        max($"cosine_r").as("max_cosine_r"))
      .as[(Long, String, Long, Double)].collect().toSet
    assert(got == exactPairs,
      s"LSH decontam=${got.size} vs exact=${exactPairs.size}")
    // a planted paraphrase: a held-out vector cloned from a train one
    // must be flagged with cosine ~1 (mechanism check on a corpus where
    // the fixture may have no contamination at all)
    val ids = emb.select($"vec_id",
      Pipeline.md5Bucket($"vec_id").as("b")).as[(Long, Int)].collect()
    val trainId = ids.find(_._2 < 205).get._1
    val heldId = ids.find(_._2 >= 230).get._1
    val trainVec = emb.filter($"vec_id" === trainId)
      .select($"embedding").head().getSeq[Float](0)
    val two = Seq((trainId, trainVec), (heldId, trainVec))
      .toDF("vec_id", "embedding")
    val pairs2 = Dedup.embeddingNearDupPairsLSH(two, 0.45, bands = 24,
      planesPerBand = 3)
    assert(pairs2.count() == 1, "identical cross-split vectors must pair")
  }
}
