package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guard for query-scoped state and scale decisions:
  * session conf overrides go through [[GraftSession.withConf]], scratch
  * dirs through `Staging.scratch`, and width and broadcast decisions
  * through [[ScalePolicy]], so a new `conf.set`/`conf.unset`,
  * `createTempDirectory`, size-conditional broadcast or shuffle-width
  * read in `src/main` fails here. The allowed sites, per file:
  *  - `GraftSession.scala`: `withConf`'s set, restore and unset;
  *  - `Tables.scala`: `events`' lazy-scan `nanosAsLong` set (it cannot
  *    be restored: the scan reads the conf at execution time);
  *  - `Staging.scala`: `scratch`'s temp dir;
  *  - `EventStreams.scala`: the replay harness's tmpfs checkpoint;
  *  - `Bench.scala`: the IO anchor's fsync dir;
  *  - `ScalePolicy.scala` (width reads and broadcast envelopes) and
  *    `GraftSession.scala` (width reads): any number. Setting the width
  *    through `withConf` is a write, not a read, and is not matched. */
class MutationSitesSpec extends AnyFunSuite {

  private val confMutation = raw"\bconf\.(set|unset)\(|\bsetConf(String)?\(".r
  private val tempDir = raw"\bcreateTempDirectory\b".r
  private val sizeBroadcast =
    raw"\bhintIf\b|\bbroadcast(\([^)]*\))?\s+else\b|\belse\s+broadcast\b|\w*BroadcastRows\b".r
  private val widthRead =
    raw"""\bnumShufflePartitions\b|\bconf\.get\(\s*"spark\.sql\.shuffle\.partitions"""".r

  private val allowedConf = Map(
    "graft/GraftSession.scala" -> 3, "graft/Tables.scala" -> 1)
  private val allowedTempDirs = Map(
    "graft/streaming/Staging.scala" -> 1,
    "graft/streaming/EventStreams.scala" -> 1,
    "graft/Bench.scala" -> 1)
  private val allowedBroadcast = Map("graft/ScalePolicy.scala" -> Int.MaxValue)
  private val allowedWidth = Map(
    "graft/ScalePolicy.scala" -> Int.MaxValue,
    "graft/GraftSession.scala" -> Int.MaxValue)

  /** Code lines of `text` matching `pattern`, comments left out. */
  private def sites(text: String, pattern: scala.util.matching.Regex): Int =
    text.linesIterator.map(_.trim)
      .filterNot(l => l.startsWith("*") || l.startsWith("/*") || l.startsWith("//"))
      .map(l => pattern.findAllIn(l.split("//", 2)(0)).size).sum

  /** (path relative to src/main/scala, count) for every file with a site
    * beyond its allowance. */
  private def excess(pattern: scala.util.matching.Regex,
                     allowed: Map[String, Int]): Seq[(String, Int)] = {
    def scalaFiles(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val root = mainRoot
    scalaFiles(root).flatMap { f =>
      val rel = root.toPath.relativize(f.toPath).toString.replace('\\', '/')
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val n = try sites(src.mkString, pattern) finally src.close()
      if (n > allowed.getOrElse(rel, 0)) Some(rel -> n) else None
    }.sortBy(_._1)
  }

  /** `src/main/scala`, found from the working directory upwards. */
  private lazy val mainRoot: File =
    Iterator.iterate(new File(sys.props("user.dir")).getAbsoluteFile)(_.getParentFile)
      .takeWhile(_ != null)
      .map(new File(_, "src/main/scala"))
      .find(d => new File(d, "graft/GraftSession.scala").isFile)
      .getOrElse(fail("src/main/scala not found above the working directory"))

  test("session conf is mutated only inside GraftSession.withConf (and Tables.events)") {
    val extra = excess(confMutation, allowedConf)
    assert(extra.isEmpty,
      s"conf.set/unset outside the owners — use GraftSession.withConf: $extra")
  }

  test("scratch dirs are created only by Staging.scratch (and the two anchors)") {
    val extra = excess(tempDir, allowedTempDirs)
    assert(extra.isEmpty,
      s"createTempDirectory outside the owners — use Staging.scratch: $extra")
  }

  test("width and broadcast decisions are made only in ScalePolicy") {
    val broadcasts = excess(sizeBroadcast, allowedBroadcast)
    assert(broadcasts.isEmpty,
      s"size-conditional broadcast outside ScalePolicy — use its envelopes: $broadcasts")
    val widths = excess(widthRead, allowedWidth)
    assert(widths.isEmpty,
      s"shuffle-width read outside ScalePolicy — use ScalePolicy.width: $widths")
  }

  test("the scan sees code sites and skips comments") {
    val src =
      """/** `spark.conf.set` in scaladoc
        |  * spark.conf.set("a", "b") */
        |// spark.conf.unset("a")
        |val p = spark.conf.set("k", "v") // spark.conf.set again
        |spark.conf.unset("k"); sqlContext.setConf("k", "v")
        |val d = java.nio.file.Files.createTempDirectory("x")""".stripMargin
    assert(sites(src, confMutation) == 3)
    assert(sites(src, tempDir) == 1)
    val scale =
      """/** hintIf(n <= nodeBroadcastRows) in scaladoc */
        |// if (small) broadcast else identity
        |private def hintIf(small: Boolean) = if (small) broadcast else identity
        |val v = if (n <= cap) broadcast(df) else df
        |val h = if (big) identity else broadcast
        |private val edgeBroadcastRows = 4000000L
        |val w = spark.sessionState.conf.numShufflePartitions
        |val p = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
        |GraftSession.withConf(spark)("spark.sql.shuffle.partitions" -> "8")(q)
        |val b = broadcast(offs) // broadcast else, unconditionally""".stripMargin
    assert(sites(scale, sizeBroadcast) == 5)
    assert(sites(scale, widthRead) == 2)
  }
}
