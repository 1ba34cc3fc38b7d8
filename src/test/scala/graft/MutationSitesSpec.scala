package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guard for query-scoped state, scale decisions and
  * operator dials: session conf overrides go through
  * [[GraftSession.withConf]], scratch dirs through `Staging.scratch`,
  * and width and broadcast decisions through [[ScalePolicy]], so a new
  * `conf.set`/`conf.unset`, `createTempDirectory`, size-conditional
  * broadcast or shuffle-width read in `src/main` fails here. So does a
  * new defaulted `def` parameter: each file may hold only the dials
  * listed in `allowedDefaults` (every other operator value is a
  * constant), and adding one means raising that file's allowance in
  * the same change. The allowed state and scale sites, per file:
  *  - `GraftSession.scala`: `withConf`'s set, restore and unset;
  *  - `Tables.scala`: `events`' lazy-scan `nanosAsLong` set (it cannot
  *    be restored: the scan reads the conf at execution time);
  *  - `Staging.scala`: `scratch`'s temp dir;
  *  - `EventStreams.scala`: the replay harness's tmpfs checkpoint;
  *  - `Bench.scala`: the IO anchor's fsync dir;
  *  - `ScalePolicy.scala` (width reads and broadcast envelopes) and
  *    `GraftSession.scala` (width reads): any number. Setting the width
  *    through `withConf` is a write, not a read, and is not matched.
  *
  * Oracle SQL fragments that two oracles share have one `sql*` owner
  * each (`ownedFragments`): a marker of the fragment's text anywhere
  * but in its owner means a pasted copy.
  *
  * Sessions are built only by [[GraftSession.builder]], in `src/main`
  * and `src/test` alike: a second `SparkSession.builder` would run
  * without the engine's posture (the codegen cache size is a static
  * conf, fixed by the first session that generates code).
  *
  * Each ANN stage has one engine owner in `Similarity.scala`
  * (`ownedStages`): the per-query window is `topKPerQuery`'s, and the
  * embedding-to-`qv`/`cv` projection is `querySide`'s and
  * `corpusSide`'s, one line each. A further code line anywhere means a
  * pasted copy of the stage. */
class MutationSitesSpec extends AnyFunSuite {

  private val confMutation = raw"\bconf\.(set|unset)\(|\bsetConf(String)?\(".r
  private val tempDir = raw"\bcreateTempDirectory\b".r
  private val sizeBroadcast =
    raw"\bhintIf\b|\bbroadcast(\([^)]*\))?\s+else\b|\belse\s+broadcast\b|\w*BroadcastRows\b".r
  private val widthRead =
    raw"""\bnumShufflePartitions\b|\bconf\.get\(\s*"spark\.sql\.shuffle\.partitions"""".r
  private val sessionBuilder = raw"\bSparkSession\s*\.\s*builder\b".r

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
  private val allowedBuilders = Map("graft/GraftSession.scala" -> 1)

  /** Defaulted `def` parameters per file: the dials a query, bench or
    * spec sets to more than one value, plus deployment names and
    * SQL-function arities. */
  private val allowedDefaults = Map(
    "graft/ScalePolicy.scala" -> 1,
    "graft/functions/RollingHash.scala" -> 2,
    "graft/operators/Clustering.scala" -> 2,
    "graft/operators/Cumulative.scala" -> 2,
    "graft/operators/Dedup.scala" -> 20,
    "graft/operators/Graph.scala" -> 7,
    "graft/operators/Layout.scala" -> 1,
    "graft/operators/Media.scala" -> 5,
    "graft/operators/Pipeline.scala" -> 1,
    "graft/operators/ScaleCorpus.scala" -> 3,
    "graft/operators/Similarity.scala" -> 28,
    "graft/operators/Skew.scala" -> 2,
    "graft/operators/TextAnalysis.scala" -> 4,
    "graft/sources/Report.scala" -> 6,
    "graft/sources/Warehouse.scala" -> 3,
    "graft/streaming/EventStreams.scala" -> 2,
    "graft/streaming/IngestDedup.scala" -> 2)

  /** Oracle fragments with one owner: (marker of its text, file that
    * holds the owner, number of marker lines in that owner). */
  private val ownedFragments = Seq(
    // Dedup.sqlShingles
    (raw"w\[i\.i\+2\] AS shingle", "graft/operators/Dedup.scala", 1),
    // Dedup.sqlScoredPairs: sizes, inter, the Jaccard score, the sizes join
    (raw"COUNT\(\*\) AS sz FROM sh\b", "graft/operators/Dedup.scala", 1),
    (raw"a\.shingle = b\.shingle AND a\.doc_id < b\.doc_id", "graft/operators/Dedup.scala", 1),
    (raw"sa\.sz \+ sb\.sz - c\b", "graft/operators/Dedup.scala", 1),
    (raw"JOIN sizes sa ON id_a = sa\.doc_id", "graft/operators/Dedup.scala", 1),
    // Dedup.sqlClosure
    (raw"FROM reach r JOIN edges\b", "graft/operators/Dedup.scala", 1),
    // Pipeline.sqlMd5Bucket: the two hex digits (d04's bit rule is another rule)
    (raw"AS VARCHAR\)\), 3[12], 1\)", "graft/operators/Pipeline.scala", 2),
    // Pipeline.sqlSplitOf
    (raw"< 205 THEN 'train'", "graft/operators/Pipeline.scala", 1),
    // Similarity.sqlCosine9
    (raw"sqrt\(list_inner_product\((\S+), \1\)\)\), 9\)", "graft/operators/Similarity.scala", 1),
    // Similarity.sqlMutualPairs
    (raw"AS rk_ab, CAST\(r\.rk AS INT\) AS rk_ba", "graft/operators/Similarity.scala", 1)
  ).map { case (m, f, n) => (m.r, f, n) }

  /** Engine stages with one owner: (marker of the stage's code, file
    * that holds the owners, number of marker sites in it). */
  private val ownedStages = Seq(
    // Similarity.topKPerQuery
    (raw"""partitionBy\(col\("query_id"\)\)""", "graft/operators/Similarity.scala", 1),
    // Similarity.querySide and corpusSide
    (raw"""asDouble\(col\("embedding"\)\)\.as\("[qc]v"\)""", "graft/operators/Similarity.scala", 2)
  ).map { case (m, f, n) => (m.r, f, n) }

  /** Code lines of `text` matching `pattern`, comments left out. */
  private def sites(text: String, pattern: scala.util.matching.Regex): Int =
    text.linesIterator.map(_.trim)
      .filterNot(l => l.startsWith("*") || l.startsWith("/*") || l.startsWith("//"))
      .map(l => pattern.findAllIn(l.split("//", 2)(0)).size).sum

  /** Lines of `text` matching `pattern`, comment lines left out. Unlike
    * [[sites]], a line is not cut at `//`: inside oracle text that is
    * DuckDB's integer division. */
  private def textSites(text: String, pattern: scala.util.matching.Regex): Int =
    text.linesIterator.map(_.trim)
      .filterNot(l => l.startsWith("*") || l.startsWith("/*") || l.startsWith("//"))
      .count(l => pattern.findFirstIn(l).isDefined)

  /** `SparkSession.builder` calls in the code of `text`, also when the
    * call is split over two lines. */
  private def builderSites(text: String): Int =
    sessionBuilder.findAllIn(codeOnly(text)).size

  /** `text` with comments dropped and string and char literals emptied,
    * so that only code reaches [[defaultedParams]] and [[builderSites]]. */
  private def codeOnly(text: String): String = {
    val out = new StringBuilder
    val n = text.length
    var i = 0
    while (i < n) {
      if (text.startsWith("\"\"\"", i)) {
        val j = text.indexOf("\"\"\"", i + 3)
        i = if (j < 0) n else j + 3
        out ++= "\"\""
      } else if (text.charAt(i) == '"') {
        var j = i + 1
        while (j < n && text.charAt(j) != '"' && text.charAt(j) != '\n') {
          if (text.charAt(j) == '\\') j += 1
          j += 1
        }
        i = j + 1
        out ++= "\"\""
      } else if (text.startsWith("//", i)) {
        val j = text.indexOf('\n', i)
        i = if (j < 0) n else j
      } else if (text.startsWith("/*", i)) {
        val j = text.indexOf("*/", i + 2)
        i = if (j < 0) n else j + 2
        out += ' '
      } else if (text.charAt(i) == '\'' && i + 2 < n && text.charAt(i + 2) == '\'') {
        out ++= "'x'"
        i += 3
      } else {
        out += text.charAt(i)
        i += 1
      }
    }
    out.toString
  }

  /** Defaulted parameters in the `def` parameter lists of `text`, over
    * any number of lines: a parameter counts when it holds a `=` at
    * bracket depth 0 that is not part of `=>`, `==`, `<=`, `>=` or `!=`. */
  private def defaultedParams(text: String): Int = {
    val code = codeOnly(text)
    val n = code.length
    def skipWs(k: Int): Int = {
      var j = k
      while (j < n && code.charAt(j).isWhitespace) j += 1
      j
    }
    /** Index of the bracket that closes the one at `k`. */
    def close(k: Int): Int = {
      var (d, j) = (0, k)
      while (j < n) {
        val c = code.charAt(j)
        if ("([{".indexOf(c) >= 0) d += 1
        else if (")]}".indexOf(c) >= 0) {
          d -= 1
          if (d == 0) return j
        }
        j += 1
      }
      n
    }
    /** `list` cut at its depth-0 commas. */
    def params(list: String): Seq[String] = {
      val out = Seq.newBuilder[String]
      var (d, from) = (0, 0)
      list.indices.foreach { j =>
        val c = list.charAt(j)
        if ("([{".indexOf(c) >= 0) d += 1
        else if (")]}".indexOf(c) >= 0) d -= 1
        else if (c == ',' && d == 0) { out += list.substring(from, j); from = j + 1 }
      }
      (out += list.substring(from)).result()
    }
    def hasDefault(p: String): Boolean = {
      var d = 0
      p.indices.exists { j =>
        val c = p.charAt(j)
        if ("([{".indexOf(c) >= 0) d += 1
        else if (")]}".indexOf(c) >= 0) d -= 1
        c == '=' && d == 0 &&
          (j == 0 || "=<>!".indexOf(p.charAt(j - 1)) < 0) &&
          (j + 1 == p.length || "=>".indexOf(p.charAt(j + 1)) < 0)
      }
    }
    raw"\bdef\s+(?:[\w$$]+|[^\s\w(\[:]+)".r.findAllMatchIn(code).map { m =>
      var i = skipWs(m.end)
      if (i < n && code.charAt(i) == '[') i = skipWs(close(i) + 1)
      var count = 0
      while (i < n && code.charAt(i) == '(') {
        val j = close(i)
        count += params(code.substring(i + 1, math.min(j, n))).count(hasDefault)
        i = skipWs(j + 1)
      }
      count
    }.sum
  }

  /** (path relative to src/main/scala, count) for every file whose
    * `count` is beyond its allowance. */
  private def excess(count: String => Int,
                     allowed: Map[String, Int]): Seq[(String, Int)] =
    excessUnder(mainRoot, count, allowed)

  /** [[excess]] over the Scala files under `root`. */
  private def excessUnder(root: File, count: String => Int,
                          allowed: Map[String, Int]): Seq[(String, Int)] = {
    def scalaFiles(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    scalaFiles(root).flatMap { f =>
      val rel = root.toPath.relativize(f.toPath).toString.replace('\\', '/')
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val n = try count(src.mkString) finally src.close()
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

  /** `src/test/scala`, beside [[mainRoot]]. */
  private lazy val testRoot: File = new File(mainRoot.getParentFile.getParentFile, "test/scala")

  test("session conf is mutated only inside GraftSession.withConf (and Tables.events)") {
    val extra = excess(sites(_, confMutation), allowedConf)
    assert(extra.isEmpty,
      s"conf.set/unset outside the owners — use GraftSession.withConf: $extra")
  }

  test("scratch dirs are created only by Staging.scratch (and the two anchors)") {
    val extra = excess(sites(_, tempDir), allowedTempDirs)
    assert(extra.isEmpty,
      s"createTempDirectory outside the owners — use Staging.scratch: $extra")
  }

  test("width and broadcast decisions are made only in ScalePolicy") {
    val broadcasts = excess(sites(_, sizeBroadcast), allowedBroadcast)
    assert(broadcasts.isEmpty,
      s"size-conditional broadcast outside ScalePolicy — use its envelopes: $broadcasts")
    val widths = excess(sites(_, widthRead), allowedWidth)
    assert(widths.isEmpty,
      s"shuffle-width read outside ScalePolicy — use ScalePolicy.width: $widths")
  }

  test("no file gains a defaulted def parameter beyond its allowance") {
    val extra = excess(defaultedParams, allowedDefaults)
    assert(extra.isEmpty,
      s"new operator dials — fold the value into a constant, or raise the " +
        s"file's allowedDefaults entry with the reason: $extra")
  }

  test("sessions are built only through GraftSession.builder, in main and test code") {
    assert(testRoot.isDirectory, s"$testRoot not found")
    val extra = excessUnder(mainRoot, builderSites, allowedBuilders) ++
      excessUnder(testRoot, builderSites, Map.empty).map { case (f, n) => s"test/$f" -> n }
    assert(extra.isEmpty,
      s"SparkSession.builder outside GraftSession — use GraftSession.builder: $extra")
  }

  test("a shared oracle fragment appears only in its sql* owner") {
    val extra = ownedFragments.flatMap { case (marker, owner, n) =>
      excess(textSites(_, marker), Map(owner -> n)).map { case (f, k) => (marker.regex, f, k) }
    }
    assert(extra.isEmpty,
      s"pasted oracle fragments — call the fragment's sql* owner: $extra")
  }

  test("an ANN stage appears only in its Similarity owner") {
    val extra = ownedStages.flatMap { case (marker, owner, n) =>
      excess(sites(_, marker), Map(owner -> n)).map { case (f, k) => (marker.regex, f, k) }
    }
    assert(extra.isEmpty,
      s"pasted ANN stages — call topKPerQuery / querySide / corpusSide: $extra")
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
    val defs =
      """/** def doc(a: Int = 1) in scaladoc */
        |// def line(a: Int = 1)
        |def one(a: Int = 1, f: Int => Int = identity,
        |        g: (Int, Int) => Boolean = _ == _): Int = a
        |def two[T](x: T)(p: Boolean = 1 <= 2, q: String = "a = b, c")
        |          (implicit s: Ordering[T]): Int = 0
        |def none(f: Int => Int, eq: Boolean): Boolean = f(1) == 2
        |val v = call(named = 3)
        |def multi(
        |    a: Int,
        |    b: Map[String, Int] = Map("x" -> 1), // b: Int = 2
        |    /* c: Int = 3, */ d: Long = 4L): Unit = ()""".stripMargin
    assert(defaultedParams(defs) == 7)
    val oracle =
      """/** d02's sh CTE: w[i.i] || ' ' || w[i.i+1] || ' ' || w[i.i+2] AS shingle */
        |// CASE WHEN b < 205 THEN 'train'
        |  val d02Sql = s"WITH sh AS ("
        |     |  SELECT DISTINCT doc_id,
        |     |         w[i.i] || ' ' || w[i.i+1] || ' ' || w[i.i+2] AS shingle
        |     |split AS (SELECT 2 * MAX(doc_id) // 3 AS s FROM documents),
        |     |WHERE 2 // 2 = 1 AND CAST(c AS DOUBLE) / CAST(sa.sz + sb.sz - c AS DOUBLE) >= 0.8
        |     |  FROM inter JOIN sizes sa ON id_a = sa.doc_id
        |     |  CASE WHEN bucket < 205 THEN 'train'
        |     |    CAST(16 * (strpos('0123456789abcdef',
        |     |                      substring(md5(CAST(doc_id AS VARCHAR)), 31, 1)) - 1)
        |     |         +    (strpos('0123456789abcdef',
        |     |                      substring(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1)
        |     |         ROUND(list_inner_product(eq.v, en.v) /
        |     |               (sqrt(list_inner_product(eq.v, eq.v)) *
        |     |                sqrt(list_inner_product(en.v, en.v))), 9) AS cosine
        |     |  ROUND(-2 * list_inner_product(i.clist, j.clist), 9)
        |     |         SUM(CASE WHEN ((strpos('0123456789abcdef',
        |     |                    substring(m, 1 + bb.b // 4, 1)) - 1)""".stripMargin
    def hits(i: Int): Int = textSites(oracle, ownedFragments(i)._1)
    assert(hits(0) == 1) // the shingle line, not its scaladoc
    assert(hits(3) == 1) // the Jaccard score behind a DuckDB `//`
    assert(hits(4) == 1) // the pairs' join to their sizes
    assert(hits(6) == 2) // both md5 hex digits, not d04's bit rule
    assert(hits(7) == 1) // the split, not the commented one
    assert(hits(8) == 1) // the round-9 cosine, not the Lloyd distance
    val sessions =
      """/** SparkSession.builder() in scaladoc */
        |// val s = SparkSession.builder().getOrCreate()
        |val doc = "SparkSession.builder()"
        |val s = SparkSession.builder()
        |  .master("local[2]").getOrCreate()
        |val t = SparkSession
        |  .builder.getOrCreate()
        |GraftSession.builder("local[4]", 4).getOrCreate()""".stripMargin
    assert(builderSites(sessions) == 2) // the one-line and the split site
    val owners =
      """/** Window.partitionBy(col("query_id")) in scaladoc */
        |// .select(VectorOps.asDouble(col("embedding")).as("qv"))
        |private def querySide(df: DataFrame, keep: String*): DataFrame =
        |  df.select((col("vec_id").as("query_id") +: keep.map(col) :+
        |    VectorOps.asDouble(col("embedding")).as("qv")): _*)
        |private def corpusSide(df: DataFrame, keep: String*): DataFrame =
        |  df.select((col("vec_id").as("neighbor_id") +: keep.map(col) :+
        |    VectorOps.asDouble(col("embedding")).as("cv")): _*)
        |private def topKPerQuery(df: DataFrame, k: Int, rank: String)(order: Column*) =
        |  df.withColumn(rank,
        |    row_number().over(Window.partitionBy(col("query_id")).orderBy(order: _*)))
        |val byLabel = Window.partitionBy(col("label")) // partitionBy(col("query_id"))""".stripMargin
    val Seq((window, _, nWindow), (side, _, nSides)) = ownedStages
    assert(sites(owners, window) == nWindow && sites(owners, side) == nSides)
    val pastedWindow = owners + "\n" +
      """val w = Window.partitionBy(col("query_id"))
        |  .orderBy(col("cosine").desc, col("neighbor_id"))""".stripMargin
    assert(sites(pastedWindow, window) > nWindow)
    val pastedSide = owners + "\n" +
      """val c = corpus.select(col("vec_id").as("neighbor_id"),
        |  VectorOps.asDouble(col("embedding")).as("cv"))""".stripMargin
    assert(sites(pastedSide, side) > nSides)
  }
}
