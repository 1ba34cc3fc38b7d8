package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Guards the codegen posture [[GraftSession.builder]] sets. At Spark's
  * default cache size of 100 entries, the three pipeline_graph queries
  * evict their own generated classes, and every run compiles dozens of
  * them again. With artifact isolation on, every start of a streaming
  * query runs its tasks under a new class loader, which is part of the
  * cache key, so each run compiles its classes again. With both set,
  * the third run of the same queries finds every class in the cache. */
class CodegenCacheSpec extends SparkSpec {

  private def thirdRunCompiles(names: String*): Long = {
    def pass(): Unit = names.foreach { n =>
      SparkEntry.queries(n)(spark, sf).write.format("noop").mode("overwrite").save()
    }
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    pass()
    pass()
    val before = compiles
    pass()
    compiles - before
  }

  test("a third run of x03, d09 and d02 compiles no generated class") {
    val n = thirdRunCompiles("x03_bfs_hops", "d09_dup_clusters", "d02_jaccard_pairs")
    assert(n == 0, s"the third run compiled $n classes: the codegen cache evicts them")
  }

  test("a third run of a streamed query compiles no generated class") {
    val n = thirdRunCompiles("v12_streamed_tumbling")
    assert(n == 0, s"the third run compiled $n classes: each stream start gets new cache keys")
  }
}
