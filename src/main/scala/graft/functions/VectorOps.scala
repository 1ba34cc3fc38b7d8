package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Dense-vector column math over `ArrayType` embeddings. The hot
  * primitives (dot, norm²) are native Catalyst expressions with
  * primitive-array codegen ([[VectorExprs]]); the composite forms here
  * stay plain Column algebra. Sequential left-to-right accumulation
  * everywhere — bit-identical results across partitions and engines.
  *
  * Scale note: in pair-join plans (near-dup, kNN) these run O(pairs)
  * times, so per-pair cost dominates — precompute norms per SIDE of the
  * join (O(rows)) and keep only the dot product per pair, as
  * [[graft.operators.Similarity]] / [[graft.operators.Dedup]] do.
  */
object VectorOps {

  /** Cast float embeddings to double once, up front. */
  def asDouble(v: Column): Column = transform(v, _.cast(DoubleType))

  /** Native codegen'd forms (see [[VectorExprs]]) — bit-identical to
    * the higher-order-function `aggregate(zip_with(…))` forms
    * (VectorOpsSpec's reference; same sequential accumulation order),
    * ~an order of magnitude less per-pair cost. */
  def dot(a: Column, b: Column): Column = VectorExprs.dot(a, b)

  def norm2(a: Column): Column = VectorExprs.norm2(a)

  def norm(a: Column): Column = sqrt(norm2(a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Random-hyperplane (SimHash-for-vectors) LSH bucket id: one sign bit
    * per plane packed into a long. Planes are literal arrays so the
    * expression is constant-folded and identical on every executor. */
  def hyperplaneBucket(v: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val plane = array(p.map(lit): _*)
      when(dot(v, plane) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  /** Deterministic plane set for [[hyperplaneBucket]]. */
  def randomPlanes(numPlanes: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(rng.nextGaussian()))
  }

  /** md5-derived ±1 (Rademacher) sign planes — the CROSS-ENGINE
    * replayable plane family (the `Pipeline.md5Bucket` discipline
    * applied to LSH): plane i's coordinate j is +1 iff the first hex
    * nibble of md5("tag:i:j") is odd. Sign-test LSH needs a symmetric
    * coordinate distribution, not Gaussianity (SimHash is exactly the
    * ±1 family), so the collision-probability geometry
    * P[agree] = 1 − θ/π is unchanged. Because the planes are a pure
    * function of (tag, i, j) — independent of the data — a DuckDB
    * oracle replays them as literal lists ([[sqlPlaneList]]) and the
    * whole bucket/candidate pipeline hash-gates, which the seeded
    * Gaussian family (JDK RNG stream, no SQL twin) never could. */
  def md5Planes(numPlanes: Int, dim: Int, tag: String): Seq[Seq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Seq.tabulate(numPlanes)(i => Seq.tabulate(dim) { j =>
      val d = md.digest(s"$tag:$i:$j".getBytes("UTF-8"))
      if (((d(0) >> 4) & 1) == 1) 1.0 else -1.0
    })
  }

  /** [[hyperplaneBucket]] for the replayable family: the sign test
    * runs on round(dot, 9) — the established cross-engine rounding
    * discipline — so the bucket id is bit-identical in Spark and
    * DuckDB (both sides accumulate the dot left-to-right; the round
    * absorbs any sub-ulp divergence, with the usual ~1e-14 boundary
    * caveat). */
  def signBucket(v: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val plane = array(p.map(lit): _*)
      when(round(dot(v, plane), 9) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  /** DuckDB literal for one ±1 plane — consumed by generated oracles,
    * same Seq the Spark side buckets with (single owner). */
  def sqlPlaneList(p: Seq[Double]): String =
    p.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ", ", "]")

  /** Fixed odd 64-bit mixing constants (splitmix64 / golden-ratio and
    * sqrt-prime fractions) shared by the multi-quantizer OR-dials
    * (Dedup.embeddingNearDupPairsIVF, Similarity.ivfKnn): quantizer q
    * orders its fit sample by id XOR orMixConstants(q) — a bijection
    * (deterministic, tie-free, overflow-free under ANSI) that hands
    * each fit an independent bounded sample and init. Index 0 is the
    * identity: the historical single-quantizer gate path. */
  val orMixConstants: IndexedSeq[Long] = IndexedSeq(
    0L, 0x9E3779B97F4A7C15L, 0x6A09E667F3BCC909L, 0xBF58476D1CE4E5B9L,
    0x94D049BB133111EBL, 0xD6E8FEB86659FD93L, 0xA5A3564DC6EF372FL,
    0xC2B2AE3D27D4EB4FL)

  /** DuckDB mirror of [[signBucket]] over column text `v`. */
  def sqlSignBucket(v: String, planes: Seq[Seq[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN ROUND(list_inner_product($v, ${sqlPlaneList(p)}), 9) >= 0" +
        s" THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)"
    }.mkString("(", " + ", ")")
}
