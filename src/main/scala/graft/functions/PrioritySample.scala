package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Deterministic bounded per-group sampling as a typed `Aggregator`
  * (the UDAF surface of SURVEY.md §2.2) — keep the k items with the
  * smallest md5(item) priority. Hash-priority sampling is
  * the distributed form of reservoir sampling: commutative/associative
  * merges (any partitioning, any order → same result), deterministic
  * across reruns, and uniform over distinct items. The training-data
  * use is per-domain/per-class subsampling: one shuffle, bounded state
  * per group, no second pass.
  *
  * Priorities are md5 HEX STRINGS compared lexicographically —
  * numerically identical to comparing the 128-bit hash values, and
  * (round 12, was xxhash64) CROSS-ENGINE REPLAYABLE: DuckDB's
  * `ORDER BY md5(item)` reproduces the exact sample and its order, so
  * the p01 gate hash-compares instead of rows-only. Ties order by the
  * item itself ((priority, item) is a total order; equal-item ties are
  * interchangeable by construction).
  *
  * Buffer is a bounded max-heap of (priority, item): O(k) memory per
  * group regardless of group size — the property that makes it safe
  * under a 10⁹-row monster group.
  */
object PrioritySample {

  type Buf = mutable.PriorityQueue[(String, String)]

  /** Hex md5 of the item — the [[graft.operators.Pipeline.md5Bucket]]
    * hash-family discipline; DuckDB twin: `md5(item)`. */
  private[graft] def priority(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d.map(b => f"$b%02x").mkString
  }

  /** Sample k strings per group, priority-ordered by md5. */
  def topK(k: Int): Aggregator[String, Buf, Seq[String]] =
    new Aggregator[String, Buf, Seq[String]] {

      // max-heap on (priority, item): the ROOT is the worst kept entry
      override def zero: Buf =
        mutable.PriorityQueue.empty(Ordering.Tuple2[String, String])

      private def offer(b: Buf, p: String, v: String): Buf = {
        if (b.size < k) b.enqueue((p, v))
        else if (Ordering.Tuple2[String, String].lt((p, v), b.head)) {
          b.dequeue(); b.enqueue((p, v))
        }
        b
      }

      override def reduce(b: Buf, s: String): Buf =
        offer(b, priority(s), s)

      override def merge(a: Buf, b: Buf): Buf = {
        b.foreach { case (p, v) => offer(a, p, v) }
        a
      }

      override def finish(b: Buf): Seq[String] =
        b.toSeq.sorted.map(_._2)

      override def bufferEncoder: Encoder[Buf] =
        Encoders.kryo[Buf]
      override def outputEncoder: Encoder[Seq[String]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[String]]()
    }
}
