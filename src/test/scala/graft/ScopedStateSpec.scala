package graft

import java.io.File

import graft.streaming.Staging

/** The two owners of query-scoped scratch state: [[GraftSession.withConf]]
  * puts every overridden key back exactly as it was (value or unset),
  * also when the body throws, and [[Staging.scratch]] deletes its dir on
  * success and failure while the frame it returns keeps reading. */
class ScopedStateSpec extends SparkSpec {

  private val partitions = "spark.sql.shuffle.partitions"
  // registered with a default, never set by the test session: getOption
  // reads the default, but the key must come back UNSET, not pinned
  private val registered = "spark.sql.optimizer.maxIterations"
  private val unregistered = "graft.spec.scoped.key"
  private def isSet(key: String) = spark.conf.getAll.contains(key)

  test("withConf restores a set key and leaves unset keys unset") {
    val before = spark.conf.get(partitions)
    assert(!isSet(registered) && !isSet(unregistered))
    assert(spark.conf.getOption(registered).isDefined)
    val seen = GraftSession.withConf(spark)(
        partitions -> "3", registered -> "77", unregistered -> "x") {
      (spark.conf.get(partitions), spark.conf.get(registered),
        spark.conf.get(unregistered))
    }
    assert(seen == (("3", "77", "x")))
    assert(spark.conf.get(partitions) == before)
    assert(!isSet(registered))
    assert(!isSet(unregistered))
    assert(spark.conf.getOption(unregistered).isEmpty)
  }

  test("withConf restores when the body throws") {
    val before = spark.conf.get(partitions)
    val e = intercept[IllegalStateException] {
      GraftSession.withConf(spark)(partitions -> "5", unregistered -> "y") {
        assert(spark.conf.get(partitions) == "5")
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(spark.conf.get(partitions) == before)
    assert(!isSet(unregistered))
  }

  test("scratch deletes its dir and the returned frame still reads") {
    import spark.implicits._
    var dir: String = null
    val out = Staging.scratch("spec_ok") { d =>
      dir = d
      (1 to 50).toDF("x").write.parquet(s"$d/t")
      spark.read.parquet(s"$d/t").filter($"x" % 5 === 0)
    }
    assert(dir != null && new File(dir).getName.startsWith("graft_spec_ok"))
    assert(!new File(dir).exists, s"scratch dir left behind: $dir")
    assert(out.as[Int].collect().sorted.toSeq == (5 to 50 by 5))
  }

  test("scratch deletes its dir when the body throws") {
    import spark.implicits._
    var dir: String = null
    intercept[IllegalStateException] {
      Staging.scratch("spec_fail") { d =>
        dir = d
        (1 to 5).toDF("x").write.parquet(s"$d/t")
        throw new IllegalStateException("body failed after writing")
      }
    }
    assert(dir != null && !new File(dir).exists, s"scratch dir left behind: $dir")
  }
}
