package graft

import org.apache.spark.sql.functions._

import graft.functions.RollingHash
import graft.operators.Dedup

class RollingHashSpec extends SparkSpec {
  import spark.implicits._

  private def evalL(c: org.apache.spark.sql.Column): Long =
    spark.range(1).select(c.as("x")).as[Long].head()

  test("polyHash matches a reference JVM loop and is seed-sensitive") {
    def ref(s: String, seed: Long): Long =
      s.getBytes("UTF-8").foldLeft(seed)((h, b) => h * RollingHash.B + (b & 0xffL))
    for (s <- Seq("", "a", "hello world", "ünïcode §ymbols")) {
      assert(evalL(RollingHash.polyHash(lit(s))) == ref(s, 0xcbf29ce484222325L))
    }
    assert(evalL(RollingHash.polyHash(lit("x"), seed = 1L)) !=
      evalL(RollingHash.polyHash(lit("x"), seed = 2L)))
  }

  test("windowMins: identical docs identical; shared-run docs share band minima") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and keeps running far"),
      (2L, "the quick brown fox jumps over the lazy dog and keeps running far"),
      (3L, "PREFIX the quick brown fox jumps over the lazy dog and keeps running far"),
      (4L, "zzz completely unrelated bytes qqq with nothing shared at all yyy")
    ).toDF("doc_id", "text")
    val mins = docs.select($"doc_id",
      RollingHash.windowMins($"text", k = 8).as("m"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(mins(1L) == mins(2L), "verbatim duplicates must be identical")
    // count only real (non-sentinel) agreements
    def shared(a: Seq[Long], b: Seq[Long]): Int =
      a.zip(b).count { case (x, y) => x == y && x != Long.MaxValue }
    // doc 3 contains doc 1 verbatim → band assignment is content-keyed,
    // so the shared windows land in the same bands
    assert(shared(mins(1L), mins(3L)) >= 4,
      s"long shared run should align minima, got ${shared(mins(1L), mins(3L))}/8")
    assert(shared(mins(1L), mins(4L)) == 0, "unrelated docs should share nothing")
  }

  test("windowMins: short doc falls back to whole-string hash in every band") {
    val m = spark.range(1)
      .select(RollingHash.windowMins(lit("tiny"), k = 100).as("m"))
      .as[Seq[Long]].head()
    assert(m.distinct.size == 1 && m.size == 8)
  }

  test("winnowPairs finds duplicate and containment pairs, skips unrelated") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and keeps running far"),
      (2L, "the quick brown fox jumps over the lazy dog and keeps running far"),
      (3L, "PREFIX the quick brown fox jumps over the lazy dog and keeps running far"),
      (4L, "zzz completely unrelated bytes qqq with nothing shared at all yyy")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(docs, k = 8)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 8L),
      s"verbatim pair must agree on all 8 bands: $pairs")
    assert(pairs.exists(p => p._1 == 1L && p._2 == 3L), "containment pair")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), "unrelated excluded")
  }

  test("d06 runs on the corpus, deterministic") {
    val a = digest(Dedup.d06WinnowPairs(spark, sf))
    val b = digest(Dedup.d06WinnowPairs(spark, sf))
    assert(a == b)
  }
}
