package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, ScaleCorpus}

/** Pins the scaling-curve machinery (`ScalingBench` / `dev/scaling.md`):
  * the synthetic up-scaled corpus preserves the structure the
  * measurement needs, the hot-shingle/hot-bucket caps genuinely ENGAGE
  * on it, and the candidate-pair VOLUME (the cost driver the wall-clock
  * curves track) grows super-linearly uncapped but ~linearly capped.
  * Volume is asserted instead of time so the pin is host-noise-free. */
class ScaleCorpusSpec extends SparkSpec {

  private val cap = 8L
  private lazy val base = Tables.documents(spark, sf).filter(col("doc_id") < 120)

  private def corpus(r: Int): DataFrame =
    ScaleCorpus.documents(base, r).localCheckpoint()

  /** Σ_key C(population, 2) — the pair volume a key-equality join emits. */
  private def pairVolume(byKey: DataFrame): Long =
    byKey.agg(sum(col("pop") * (col("pop") - 1))).head().getLong(0) / 2

  /** Pair volume of the shingle postings, with the running cap's rule
    * when `freq` is set: a shingle whose population (its posting-list
    * length) exceeds the cap is dropped. */
  private def shingleVolume(docs: DataFrame, freq: Option[Long]): Long = {
    val postings = Dedup.docShingles(docs)
      .groupBy(col("shingle")).agg(count(lit(1)).as("pop"))
    pairVolume(freq.fold(postings)(cap => postings.filter(col("pop") <= cap)))
  }

  test("replicas preserve structure: linear rows, no cross-replica dup floods") {
    val c3 = corpus(3)
    assert(c3.count() == 3 * base.count())
    // replica 0 is the original corpus verbatim
    val orig = base.select(col("doc_id"), col("text"))
    val rep0 = c3.filter(col("doc_id") < 120).select(col("doc_id"), col("text"))
    assert(rep0.exceptAll(orig).count() == 0 && orig.exceptAll(rep0).count() == 0)
    // true near-dup pairs stay ~linear: every verified pair is
    // within-replica (stride-120 id blocks), so pairs(3x) == 3 × pairs(1x)
    val p1 = Dedup.jaccardPairs(base, 0.8).count()
    val p3 = Dedup.jaccardPairs(c3, 0.8)
      .filter((col("id_a") / 120).cast("long") =!= (col("id_b") / 120).cast("long"))
      .count()
    assert(p3 == 0, s"$p3 cross-replica near-dup pairs; synthesis leaks dups")
    assert(Dedup.jaccardPairs(c3, 0.8).count() == 3 * p1)
  }

  test("hot-shingle cap engages on the scaled corpus and bounds volume growth") {
    // spread 2 → 12 so the shared-vocabulary shingles CROSS the cap:
    // below the cap every df-f shingle still pays C(f,2) (the allowed
    // quadratic region), so a narrow spread shows both curves
    // pre-asymptotic; at 12× every corpus-global shingle has df ≥ 12 > 8
    // and the capped curve sheds the whole quadratic population
    val (c2, c12) = (corpus(2), corpus(12))
    val (u2, u12) = (shingleVolume(c2, None), shingleVolume(c12, None))
    val (k2, k12) = (shingleVolume(c2, Some(cap)), shingleVolume(c12, Some(cap)))
    assert(k12 < u12, "cap did not engage at scale 12")
    // 6× the rows: uncapped volume bends super-linear…
    val uGrowth = u12.toDouble / u2
    assert(uGrowth > 10.0, f"uncapped growth $uGrowth%.1f× not super-linear")
    // …while the capped volume stays ~linear (6× + slop)
    val kGrowth = k12.toDouble / k2
    assert(kGrowth < 7.0, f"capped growth $kGrowth%.1f× not ~linear")
    assert(uGrowth > 1.5 * kGrowth,
      f"cap does not separate the curves: $uGrowth%.1f× vs $kGrowth%.1f×")
  }

  test("hot-bucket cap engages on the scaled corpus (LSH candidate volume)") {
    val bucketCap = 4L
    def vol(docs: DataFrame, capped: Option[Long]): Long = {
      val buckets = Dedup.bucketIndex(docs)
        .groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("pop"))
      val kept = capped match {
        case None => buckets
        case Some(c) => buckets.filter(col("pop") <= c)
      }
      pairVolume(kept)
    }
    // boilerplate stand-in: one shared text under 30 FRESH doc ids
    // (reusing base ids would merge into base docs at the signature
    // groupBy) — its band buckets fill ∝ R and must be capped away
    val hot = base.limit(30)
      .withColumn("doc_id", col("doc_id") + lit(100000L))
      .withColumn("text",
        lit("the quick brown fox jumps over the lazy dog again and again"))
    val c6 = ScaleCorpus.documents(base.union(hot), 6).localCheckpoint()
    val (u, k) = (vol(c6, None), vol(c6, Some(bucketCap)))
    assert(k < u, "bucket cap did not engage")
    // the capped candidate volume must drop the hot buckets' quadratic
    // contribution: 180 identical docs alone cost C(180,2)=16110 per band
    assert(u > 16000L && k < u / 10,
      s"cap does not bound the hot buckets: uncapped=$u capped=$k")
  }

  test("embedding replicas: within-replica geometry exact, cross-replica scattered") {
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 100)
    val e3 = ScaleCorpus.embeddings(emb, 3).localCheckpoint()
    assert(e3.count() == 3 * emb.count())
    // within-replica pairs reproduce the original near-dup pair count
    val p1 = Dedup.embeddingNearDupPairs(emb, 0.45).count()
    val all = Dedup.embeddingNearDupPairs(e3, 0.45)
    val cross = all
      .filter((col("id_a") / 100).cast("long") =!= (col("id_b") / 100).cast("long"))
      .count()
    assert(all.count() - cross == 3 * p1,
      "sign flips altered within-replica cosine structure")
    // sign-flipped replicas must not flood the pair set: a handful of
    // chance sign-alignments is fine, a near-dup family across every
    // replica is not
    assert(cross <= e3.count() / 20,
      s"$cross cross-replica near-dup pairs on ${e3.count()} vectors")
  }

  test("tight population (round 13): planted cliques are exactly the >=0.9 pair set") {
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 100)
    val t3 = ScaleCorpus.embeddings(emb, 3, tightPct = 20).localCheckpoint()
    // the deterministic tight subset: xxhash64(base id) mod 100 < 20
    val tightIds = emb.select(col("vec_id"))
      .filter(pmod(xxhash64(col("vec_id")), lit(100)) < 20)
      .collect().map(_.getLong(0)).toSet
    assert(tightIds.nonEmpty)
    val pairs = Dedup.embeddingNearDupPairs(t3, 0.9)
      .select(col("id_a"), col("id_b")).collect()
    // every >= 0.9 pair sits INSIDE one tight id's clique (stride = 100
    // here, so base id = vec_id mod 100) …
    pairs.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(a % 100 == b % 100 && tightIds.contains(a % 100),
        s"unexpected tight-regime pair $a-$b")
    }
    // … and every clique pair clears the bar: C(3,2) = 3 pairs per
    // tight id (ε = 0.2 ⇒ base-copy cos ≈ 0.980, copy-copy ≈ 0.962 —
    // the closed form the ScaleCorpus doc derives; deterministic corpus,
    // so this is a pin, not a probabilistic hope)
    assert(pairs.length == tightIds.size * 3,
      s"expected ${tightIds.size * 3} planted pairs, found ${pairs.length}")
    // non-tight ids keep the historical sign-flip scatter: their copies
    // must not enter the tight pair set at all (checked above by the
    // membership assert) and the tightPct = 0 path stays bit-identical
    val plain = ScaleCorpus.embeddings(emb, 3).localCheckpoint()
    val zero = ScaleCorpus.embeddings(emb, 3, tightPct = 0)
    assert(plain.exceptAll(zero).count() == 0)
  }
}
