package graft

import org.apache.spark.sql.functions._

import graft.operators.Skew
import graft.sources.Warehouse

class ScalePostureSpec extends SparkSpec {
  import spark.implicits._

  test("saltedAgg equals the plain aggregation on skewed data") {
    // 90% of rows share one hot key
    val skewed = spark.range(20000)
      .select(
        when($"id" % 10 =!= 0, lit(42L)).otherwise($"id" % 50).as("k"),
        ($"id" % 97).as("v"))
    val plain = skewed.groupBy("k")
      .agg(sum($"v").as("total"), count($"v").as("n"),
        min($"v").as("lo"), max($"v").as("hi"))
    val salted = Skew.saltedAgg(skewed, Seq("k"),
      Map("total" -> ("sum", $"v"), "n" -> ("count", $"v"),
        "lo" -> ("min", $"v"), "hi" -> ("max", $"v")),
      distributeBy = $"v", buckets = 8)
    assert(salted.select("k", "total", "n", "lo", "hi")
      .exceptAll(plain.select("k", "total", "n", "lo", "hi")).count() == 0)
    assert(plain.exceptAll(salted.select("k", "total", "n", "lo", "hi")).count() == 0)
  }

  test("saltedJoin equals the plain join and spreads the hot key") {
    // 90% of the fact shares one hot key; dim has one row per key
    val fact = spark.range(20000)
      .select(
        when($"id" % 10 =!= 0, lit(42L)).otherwise($"id" % 50).as("k"),
        $"id".as("row_id"))
    val dim = spark.range(50).select($"id".as("k"),
      concat(lit("name_"), $"id").as("k_name"))
    val plain = fact.join(dim, Seq("k"))
    val salted = Skew.saltedJoin(fact, dim, "k",
      distributeBy = $"row_id", buckets = 8)
      .select(plain.columns.map(col): _*)
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
    // the hot key's rows really occupy several salt buckets
    val spread = fact.filter($"k" === 42L)
      .select(pmod(xxhash64($"row_id"), lit(8)).as("b"))
      .distinct().count()
    assert(spread > 4, s"hot key should spread over most buckets, got $spread")
  }

  test("saltedAgg rejects non-decomposable aggregates") {
    intercept[IllegalArgumentException] {
      Skew.saltedAgg(spark.range(1).toDF("k"), Seq("k"),
        Map("bad" -> ("avg", col("k"))), col("k"))
    }
  }

  test("partitioned write prunes partitions on read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wh").toString
    try {
      val events = Tables.events(spark, sf)
        .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
      Warehouse.writePartitioned(events, dir, Seq("day"))
      val back = Warehouse.read(spark, dir)
      assert(back.count() == events.count())
      // a day-filtered scan must show partition pruning, not a filter
      val oneDay = back.filter($"day" === "2024-01-05")
      val scan = oneDay.queryExecution.executedPlan.collectLeaves()
        .map(_.toString).mkString
      assert(scan.contains("PartitionFilters: [isnotnull(day"),
        s"day predicate must prune partitions, scan was:\n$scan")
      assert(oneDay.count() ==
        events.filter($"day" === "2024-01-05").count())
      // one file per partition (plus _SUCCESS etc.): no small-file spray
      val dayDirs = new java.io.File(dir).listFiles().filter(_.getName.startsWith("day="))
      assert(dayDirs.nonEmpty)
      val filesPerDay = dayDirs.map(_.listFiles().count(_.getName.endsWith(".parquet")))
      assert(filesPerDay.forall(_ == 1), s"expected 1 file/partition, got ${filesPerDay.toSeq}")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("q09 first-level aggregate over a bucketed-by-orderkey layout has no exchange") {
    // q09's first shuffle is the per-order groupBy(l_orderkey); a
    // lineitem table bucketed on l_orderkey satisfies that aggregate's
    // distribution from the files, removing the shuffle entirely — the
    // standing-warehouse layout the q09 scaladoc promises.
    Warehouse.writeBucketed(
      Tables.lineitem(spark, sf), "graft_lineitem_b", "l_orderkey", 4)
    try {
      def widths(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("line_count"))
      val bucketed = widths(spark.table("graft_lineitem_b"))
      val plan = bucketed.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed per-order aggregate must not shuffle:\n$plan")
      // same answer as the plain parquet path
      val viaParquet = widths(Tables.lineitem(spark, sf))
      assert(bucketed.exceptAll(viaParquet).count() == 0)
      assert(viaParquet.exceptAll(bucketed).count() == 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_lineitem_b")
    }
  }

  test("bucketed tables sort-merge-join with zero exchanges") {
    // force SMJ so the assertion is about bucketing, not broadcast
    try GraftSession.withConf(spark)("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      Warehouse.writeBucketed(
        Tables.orders(spark, sf), "graft_orders_b", "o_custkey", 4)
      Warehouse.writeBucketed(
        Tables.customer(spark, sf), "graft_customer_b", "c_custkey", 4)
      val joined = spark.table("graft_orders_b")
        .join(spark.table("graft_customer_b"),
          col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
      // and it is still correct
      val expected = Tables.orders(spark, sf)
        .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
        .count()
      assert(joined.count() == expected)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_orders_b")
      spark.sql("DROP TABLE IF EXISTS graft_customer_b")
    }
  }

  test("round-5 operators keep their promised plans (scan counts, no cartesians)") {
    // p06: kept+total in ONE corpus scan, no join anywhere
    val p06 = graft.operators.Pipeline.p06SourceMix(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p06.contains("Join"), "p06 must be a single-pass aggregate")
    assert("Scan parquet".r.findAllIn(p06).size == 1, "p06 must scan documents once")
    // t14: narrow regexp projection — the output ORDER BY range exchange,
    // plus (on narrow gate layouts only) the layout-adaptive spread's
    // hashpartitioning(doc_id); spreadIfNarrow is the identity at scale
    val t14 = graft.operators.TextAnalysis.t14PiiRedaction(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!t14.contains("Join"), "t14 must not join")
    val t14Exchanges = "Exchange".r.findAllIn(t14).size
    assert(t14Exchanges <= 2,
      s"t14 exchanges are the ORDER BY + at most the narrow-layout spread, got $t14Exchanges")
    assert("rangepartitioning".r.findAllIn(t14).size == 1,
      "t14's presentation sort is the one range exchange")
    if (t14Exchanges == 2)
      assert(t14.contains("hashpartitioning(doc_id"),
        "t14's extra exchange must be the spreadIfNarrow hash on doc_id")
    // t13: shingle-keyed equi-join only — a cartesian means the join key fell off
    val t13 = graft.operators.TextAnalysis.t13Decontamination(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!t13.contains("CartesianProduct"), "t13 must join on the shingle key")
  }

  test("round-16 plan postures: wedge broadcast; probe width survives planning") {
    // x02: under the gate-corpus edge envelope, BOTH wedge joins take
    // the oriented-edge list broadcast — no SMJ means no wedge-row
    // exchange anywhere (the round-16 closure-shuffle removal); past
    // the envelope the operator falls back to the keyed spread shape
    // (exercised by the envelope constant, not reachable at suite SF)
    val x02 = graft.operators.Graph.triangles(Tables.lineitem(spark, sf))
      .queryExecution.executedPlan.toString
    assert(x02.contains("BroadcastHashJoin"),
      "gate-sized wedge joins must broadcast the edge list")
    assert(!x02.contains("SortMergeJoin"),
      "no wedge rows may be exchanged under the broadcast envelope")
    // s21: probeCells' width-pinned spread must SURVIVE planning — the
    // round-15 form (repartition above the same-keyed window) was
    // collapsed as redundant, leaving only ENSURE exchanges that AQE
    // coalesced to 1-2 tasks (the measured serialized candidate stage)
    val s21 = graft.operators.Similarity.s21MutualKnnOrDial(spark, sf)
      .queryExecution.executedPlan.toString
    assert(s21.contains("REPARTITION_BY_NUM"),
      "the probe/idPairs spreads must survive as user repartitions")
  }

  test("round-6 operators keep their promised plans (no cartesians)") {
    // d13: every pair comes from the banded-LSH equi-join, never all-pairs
    val d13 = graft.operators.Dedup.d13SemanticDedupLsh(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!d13.contains("CartesianProduct"),
      "d13's pair stage must be the LSH band equi-join")
    // t15: the cap must not change the join's keyed shape
    val t15 = graft.operators.TextAnalysis.t15DecontaminationCapped(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!t15.contains("CartesianProduct"), "t15 must join on the shingle key")
    // v18's candidate stage: batch buckets ⋈ index buckets is an
    // equi-join on (band, bucket) — the id inequality must ride ON the
    // keyed join as a post-condition, not degrade it to a cartesian
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val mine = graft.operators.Dedup.bucketIndex(docs)
    val cand = mine.as("a").join(mine.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("b.doc_id") < col("a.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"))
    val v18 = cand.queryExecution.executedPlan.toString
    assert(!v18.contains("CartesianProduct") && !v18.contains("BroadcastNestedLoop"),
      "v18 candidate join must stay keyed on (band, bucket)")
  }

  test("round-8 operators keep their promised plans (keyed joins, no cartesians)") {
    // every new-this-round multi-input operator must stay on keyed
    // joins; s13's candidate stage is intentionally the exact all-pairs
    // scorer (quadratic by declaration, IVF is the 100 TB path), so it
    // is exempt here and documented at its definition instead
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    for ((name, df) <- Seq(
      "x04" -> graft.operators.Graph.x04LabelCommunities(spark, sf),
      "x05" -> graft.operators.Graph.x05PersonalizedPagerank(spark, sf),
      "w06" -> graft.sources.Warehouse.w06MergeApply(spark, sf),
      "w07" -> graft.sources.Warehouse.w07DriftPsi(spark, sf),
      "t22" -> graft.operators.TextAnalysis.t22PmiCollocations(spark, sf),
      "v26" -> graft.operators.EventQueries.v26SessionPaths(spark, sf),
      "v27" -> graft.operators.AsOf.v27NearestPurchase(spark, sf))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), s"$name degraded to a cartesian")
    }
    // the mutualKnn filter itself is one equi-join of two bounded
    // top-k frames — keyed even though its s13 INPUT stage is all-pairs
    val knn = graft.operators.Similarity.bruteForceKnn(
      Tables.embeddings(spark, sf).limit(50),
      Tables.embeddings(spark, sf).limit(50), 5)
    val mk = plan(graft.operators.Similarity.mutualKnn(knn))
    assert(!mk.contains("CartesianProduct"),
      "mutualKnn must equi-join on the (src, dst) pair")
  }

  test("evolved read: null-fills missing columns, widens drifted types") {
    import graft.sources.Warehouse
    val root = java.nio.file.Files.createTempDirectory("graft_evo").toString + "/t"
    try {
      import spark.implicits._
      // gen0: (k int, x float); gen1: (k long, x double, s string)
      Warehouse.writeSnapshot(
        Seq((1, 1.5f), (2, 2.5f)).toDF("k", "x"), root)
      Warehouse.writeSnapshot(
        Seq((3L, 3.5, "c")).toDF("k", "x", "s"), root)
      val r = Warehouse.readEvolvedSnapshots(spark, root)
      // reconciled to the LATEST schema, gen column first
      assert(r.schema.map(f => (f.name, f.dataType.simpleString)) ==
        Seq(("gen", "int"), ("k", "bigint"), ("x", "double"), ("s", "string")))
      val rows = r.as[(Int, Long, Double, Option[String])]
        .collect().sortBy(t => (t._1, t._2)).toSeq
      assert(rows == Seq((0, 1L, 1.5, None), (0, 2L, 2.5, None),
        (1, 3L, 3.5, Some("c"))))
    } finally {
      new scala.reflect.io.Directory(
        new java.io.File(root).getParentFile).deleteRecursively()
      ()
    }
  }

  test("snapshots: immutable history, as-of addressing, invisible staging") {
    import graft.sources.Warehouse
    val root = java.nio.file.Files.createTempDirectory("graft_snap").toString + "/t"
    try {
      import spark.implicits._
      val g0 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      assert(Warehouse.writeSnapshot(g0, root) == 0)
      val d0 = digest(Warehouse.readSnapshot(spark, root, 0))
      assert(Warehouse.writeSnapshot(
        Seq((1L, "a2"), (3L, "c")).toDF("k", "v"), root) == 1)
      // writing gen1 must not disturb gen0 (snapshot isolation)
      assert(digest(Warehouse.readSnapshot(spark, root, 0)) == d0)
      // latest addressing
      assert(Warehouse.readSnapshot(spark, root).as[(Long, String)]
        .collect().sortBy(_._1).toSeq == Seq((1L, "a2"), (3L, "c")))
      assert(Warehouse.listGenerations(root) == Seq(0, 1))
      // no staging residue survives a successful commit
      val residue = new java.io.File(root).listFiles()
        .filter(_.getName.contains("staging"))
      assert(residue.isEmpty)
      intercept[IllegalArgumentException] {
        Warehouse.readSnapshot(spark, root, 7)
      }
    } finally {
      new scala.reflect.io.Directory(
        new java.io.File(root).getParentFile).deleteRecursively()
      ()
    }
  }

  test("upsert rewrites only touched partitions, latest version per key wins") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft_upsert").toString
    try {
      val base = Seq(
        (1L, "a", 1L, 2023), (2L, "b", 1L, 2023),
        (3L, "c", 1L, 2024), (4L, "d", 1L, 2024))
        .toDF("id", "payload", "version", "year")
      Warehouse.writePartitioned(base, root, Seq("year"))
      def filesOf(part: String) = {
        val s = Files.list(Paths.get(s"$root/$part"))
        try s.iterator().asScala.map(p =>
          (p.getFileName.toString, Files.getLastModifiedTime(p))).toSet
        finally s.close()
      }
      val untouchedBefore = filesOf("year=2023")
      // batch: update id=3 (newer version), insert id=5, stale id=4
      val batch = Seq(
        (3L, "c2", 2L, 2024), (5L, "e", 1L, 2024), (4L, "stale", 0L, 2024))
        .toDF("id", "payload", "version", "year")
      Warehouse.upsert(spark, root, batch, Seq("id"), "version", Seq("year"))
      val got = Warehouse.read(spark, root)
        .select($"id", $"payload", $"version").as[(Long, String, Long)]
        .collect().toSet
      assert(got == Set(
        (1L, "a", 1L), (2L, "b", 1L),          // untouched partition intact
        (3L, "c2", 2L),                         // newer version won
        (4L, "d", 1L),                          // stale update lost
        (5L, "e", 1L)))                         // insert landed
      assert(filesOf("year=2023") == untouchedBefore,
        "untouched partition files must be physically identical")
      // equal versions: the batch side wins (the re-run/backfill rule)
      val tie = Seq((1L, "a2", 1L, 2023)).toDF("id", "payload", "version", "year")
      Warehouse.upsert(spark, root, tie, Seq("id"), "version", Seq("year"))
      val a = Warehouse.read(spark, root).filter($"id" === 1L)
        .select($"payload").as[String].head()
      assert(a == "a2", "on version ties the update batch wins")
      // guards: reserved helper names, schema narrowing, unfinished swap
      intercept[IllegalArgumentException](Warehouse.upsert(spark, root,
        batch.withColumn("__src", lit(9)), Seq("id"), "version", Seq("year")))
      intercept[IllegalArgumentException](Warehouse.upsert(spark, root,
        batch.drop("payload"), Seq("id"), "version", Seq("year")))
      val marker = java.nio.file.Paths.get(root, "_graft_upsert_inprogress")
      java.nio.file.Files.write(marker, "x".getBytes)
      intercept[IllegalArgumentException](
        Warehouse.upsert(spark, root, batch, Seq("id"), "version", Seq("year")))
      java.nio.file.Files.delete(marker)
      // null partition value: the null-safe predicate must READ the
      // existing __HIVE_DEFAULT_PARTITION__ rows before overwriting them
      val baseN = Seq((10L, "n0", 1L, Some(2025)), (11L, "keep", 1L, None))
        .toDF("id", "payload", "version", "year")
      Warehouse.writePartitioned(baseN, root, Seq("year"), org.apache.spark.sql.SaveMode.Append)
      val batchN = Seq((12L, "n1", 1L, Option.empty[Int]))
        .toDF("id", "payload", "version", "year")
      Warehouse.upsert(spark, root, batchN, Seq("id"), "version", Seq("year"))
      val nulls = Warehouse.read(spark, root).filter($"year".isNull)
        .select($"id").as[Long].collect().toSet
      assert(nulls == Set(11L, 12L),
        "existing null-partition rows must survive a null-partition upsert")
      // duplicate (key, version) rows still yield exactly one survivor
      val dup = Seq((9L, "p", 5L, 2024), (9L, "q", 5L, 2024))
        .toDF("id", "payload", "version", "year")
      Warehouse.upsert(spark, root, dup, Seq("id"), "version", Seq("year"))
      assert(Warehouse.read(spark, root).filter($"id" === 9L).count() == 1)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(root)).deleteRecursively()
    }
  }

  test("maintenance ops refuse type drift and each other's crash markers") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_upsert_guards").toString
    try {
      val base = Seq((1L, "a", 1L, 2023), (2L, "b", 1L, 2024))
        .toDF("id", "payload", "version", "year")
      Warehouse.writePartitioned(base, root, Seq("year"))
      // type drift: same column NAMES, re-typed version column — the
      // coercion that would silently rewrite partitions must refuse
      val drifted = Seq((1L, "a2", 2, 2023)).toDF("id", "payload", "version", "year")
      val e1 = intercept[IllegalArgumentException](Warehouse.upsert(
        spark, root, drifted, Seq("id"), "version", Seq("year")))
      assert(e1.getMessage.contains("types drifted"), e1.getMessage)
      // an unfinished COMPACTION in a leaf refuses upsert on the table
      val cMarker = Paths.get(root, "year=2023", "_graft_compaction_inprogress")
      Files.write(cMarker, "swap\nabcd1234".getBytes)
      val batch = Seq((1L, "a2", 2L, 2023)).toDF("id", "payload", "version", "year")
      val e2 = intercept[IllegalArgumentException](Warehouse.upsert(
        spark, root, batch, Seq("id"), "version", Seq("year")))
      assert(e2.getMessage.contains("unfinished compaction"), e2.getMessage)
      Files.delete(cMarker)
      // an unfinished UPSERT at the root refuses compaction of a leaf
      // (compact climbs the name=value levels to find the table root)
      // and of the whole layout
      val uMarker = Paths.get(root, "_graft_upsert_inprogress")
      Files.write(uMarker, "x".getBytes)
      val e3 = intercept[IllegalArgumentException](
        Warehouse.compact(spark, s"$root/year=2023"))
      assert(e3.getMessage.contains("unfinished upsert"), e3.getMessage)
      val e4 = intercept[IllegalArgumentException](
        Warehouse.compactPartitions(spark, root))
      assert(e4.getMessage.contains("unfinished upsert"), e4.getMessage)
      Files.delete(uMarker)
      // recovered: both ops work again
      Warehouse.upsert(spark, root, batch, Seq("id"), "version", Seq("year"))
      Warehouse.compactPartitions(spark, root)
      assert(Warehouse.read(spark, root).filter($"id" === 1L)
        .select($"payload").as[String].head() == "a2")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(root)).deleteRecursively()
    }
  }

  test("upsert stages outside the root, flips clean, and refuses phase-aware") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_upsert_stage").toString
    try {
      val base = Seq((1L, "a", 1L, 2023), (2L, "b", 1L, 2024))
        .toDF("id", "payload", "version", "year")
      Warehouse.writePartitioned(base, root, Seq("year"))
      val batch = Seq((2L, "b2", 2L, 2024)).toDF("id", "payload", "version", "year")
      // a leftover staging dir (previous recovery's remains) refuses
      val staging = Paths.get(root + "__upserting")
      Files.createDirectories(staging)
      val e1 = intercept[IllegalArgumentException](Warehouse.upsert(
        spark, root, batch, Seq("id"), "version", Seq("year")))
      assert(e1.getMessage.contains("leftover staging"), e1.getMessage)
      Files.delete(staging)
      // phase-aware refusals: stage = live intact; swap = mid-flip steps
      val marker = Paths.get(root, "_graft_upsert_inprogress")
      Files.write(marker, "stage\n[2024]".getBytes)
      val e2 = intercept[IllegalArgumentException](Warehouse.upsert(
        spark, root, batch, Seq("id"), "version", Seq("year")))
      assert(e2.getMessage.contains("fully intact"), e2.getMessage)
      Files.write(marker, "swap\nyear=2024".getBytes)
      val e3 = intercept[IllegalArgumentException](Warehouse.upsert(
        spark, root, batch, Seq("id"), "version", Seq("year")))
      assert(e3.getMessage.contains("mid-flip"), e3.getMessage)
      Files.delete(marker)
      // a clean run leaves no staging dir, no marker, no __old leaves
      Warehouse.upsert(spark, root, batch, Seq("id"), "version", Seq("year"))
      assert(!Files.exists(staging) && !Files.exists(marker))
      val leftovers = {
        val s = Files.walk(Paths.get(root))
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.filter(_.getFileName.toString.contains("__old")).toSeq
        } finally s.close()
      }
      assert(leftovers.isEmpty, s"stranded __old dirs: $leftovers")
      assert(Warehouse.read(spark, root).filter($"id" === 2L)
        .select($"payload").as[String].head() == "b2")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(root)).deleteRecursively()
    }
  }

  test("refreshAgg touches only stale partitions and equals the full recompute") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val base = Files.createTempDirectory("graft_refresh").toString
    try {
      val (root, agg) = (s"$base/t", s"$base/t_agg")
      val data = Seq(
        (1L, 10.0, 1L, 2023), (2L, 20.0, 1L, 2023),
        (3L, 30.0, 1L, 2024), (4L, 40.0, 1L, 2024))
        .toDF("id", "v", "version", "year")
      Warehouse.writePartitioned(data, root, Seq("year"))
      val aggSpec = Seq(count(lit(1)).as("n"),
        graft.functions.DecimalSums.dsum($"v").as("sv"))
      Warehouse.refreshAgg(spark, root, agg, "year", Seq(2023, 2024), aggSpec)
      def filesOf(part: String) = {
        val s = Files.list(Paths.get(s"$agg/$part"))
        try s.iterator().asScala.map(p =>
          (p.getFileName.toString, Files.getLastModifiedTime(p)))
          .toSet
        finally s.close()
      }
      val before2023 = filesOf("year=2023")
      // an update lands in 2024 only; refresh only that year
      Warehouse.upsert(spark, root,
        Seq((4L, 400.0, 2L, 2024)).toDF("id", "v", "version", "year"),
        Seq("id"), "version", Seq("year"))
      Warehouse.refreshAgg(spark, root, agg, "year", Seq(2024), aggSpec)
      assert(filesOf("year=2023") == before2023,
        "untouched partition's agg files must be physically untouched")
      // the incremental result equals the full recompute
      val full = Warehouse.read(spark, root)
        .groupBy($"year").agg(aggSpec.head, aggSpec.tail: _*)
        .select($"year", $"n", $"sv")
      val inc = Warehouse.read(spark, agg).select($"year", $"n", $"sv")
      assert(inc.exceptAll(full).count() == 0 && full.exceptAll(inc).count() == 0)
      // and the refresh scan is statically pruned to the touched year
      val scan = Warehouse.read(spark, root).filter($"year" === 2024)
        .queryExecution.executedPlan.toString
      assert(scan.contains("PartitionFilters"), scan)
    } finally {
      new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
      ()
    }
  }

  test("snapshotDiff classifies added/removed/changed with null-safe compares") {
    val old = Seq((1L, Option(1.0)), (2L, Option.empty[Double]),
      (3L, Option(3.0)), (4L, Option(4.0))).toDF("k", "v")
    val neu = Seq((2L, Option.empty[Double]), (3L, Option(3.5)),
      (4L, Option(4.0)), (5L, Option(5.0))).toDF("k", "v")
    val d = Warehouse.snapshotDiff(old, neu, Seq("k"), Seq("v"))
      .select($"k", $"status").as[(Long, String)].collect().toMap
    assert(d == Map(1L -> "removed", 2L -> "unchanged", // null <=> null
      3L -> "changed", 4L -> "unchanged", 5L -> "added"), d.toString)
    // a null-to-value flip is a CHANGE, not an add/remove
    val d2 = Warehouse.snapshotDiff(
      Seq((1L, Option.empty[Double])).toDF("k", "v"),
      Seq((1L, Option(9.0))).toDF("k", "v"), Seq("k"), Seq("v"))
      .select($"status").as[String].head()
    assert(d2 == "changed")
  }

  test("mergeApply: D drops, U updates, I inserts; absent-key U upserts, absent-key D no-ops") {
    val base = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("k", "v")
    val ch = Seq(
      (2L, Option(9.0), "U"), (3L, Option.empty[Double], "D"),
      (4L, Option(4.0), "I"), (5L, Option(5.0), "U"),
      (9L, Option.empty[Double], "D")).toDF("k", "v", "op")
    val out = Warehouse.mergeApply(base, ch, Seq("k"))
      .as[(Long, Option[Double])].collect().toMap
    assert(out == Map(1L -> Some(1.0), 2L -> Some(9.0),
      4L -> Some(4.0), 5L -> Some(5.0)), out.toString)
  }

  test("mergeApply inverts snapshotDiff: diff-then-apply reproduces the new snapshot") {
    val old = Tables.orders(spark, sf)
      .select($"o_orderkey".as("k"), $"o_totalprice".as("v"))
    val neu = old.filter($"k" % 11 =!= 3)
      .withColumn("v", when($"k" % 7 === 0, $"v" * 2).otherwise($"v"))
      .unionByName(old.filter($"k" % 17 === 0)
        .withColumn("k", $"k" + 100000000L))
    val ch = Warehouse.snapshotDiff(old, neu, Seq("k"), Seq("v"))
      .filter($"status" =!= "unchanged")
      .select($"k", $"new_v".as("v"),
        when($"status" === "added", "I")
          .when($"status" === "removed", "D").otherwise("U").as("op"))
    assert(digest(Warehouse.mergeApply(old, ch, Seq("k"))) == digest(neu))
  }

  test("distributionDrift: zero against itself, positive mass shift detected, bins partition both sides") {
    val base = Tables.orders(spark, sf).select($"o_orderkey", $"o_totalprice")
    val self = Warehouse.distributionDrift(base, base, "o_totalprice")
    assert(self.filter($"psi_r" =!= 0.0 || $"n_old" =!= $"n_new").count() == 0,
      "identical snapshots must produce an all-zero PSI report")
    val shifted = base.withColumn("o_totalprice", $"o_totalprice" * 2)
    val drift = Warehouse.distributionDrift(base, shifted, "o_totalprice")
    val psi = drift.agg(sum($"psi_r")).as[Double].head()
    assert(psi > 0.1, s"a 2x price shift must register substantial drift, got $psi")
    val (o, n) = (base.count(), shifted.count())
    val sums = drift.agg(sum($"n_old"), sum($"n_new")).as[(Long, Long)].head()
    assert(sums == ((o, n)), "every row lands in exactly one bin")
  }

  test("compact collapses a fragmented directory without changing data") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    try {
      val events = Tables.events(spark, sf)
      // simulate an append-heavy producer: 64 tiny files
      events.repartition(64).write.mode("overwrite").parquet(dir)
      val fragmented = digest(Warehouse.read(spark, dir))
      val (before, after) = Warehouse.compact(spark, dir)
      assert(before >= 64, s"fixture not fragmented: $before files")
      assert(after < 8, s"compaction left $after files")
      assert(digest(Warehouse.read(spark, dir)) == fragmented,
        "compaction changed the data")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("compactPartitions compacts every leaf of a 2-level layout, data intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_leaves").toString
    try {
      // append-heavy producer over a 2-level hive layout: each leaf
      // collects several small files across the two writes
      val ev = Tables.events(spark, sf)
        .withColumn("etype", $"event_type")
        .withColumn("bucket", (pmod($"event_id", lit(2))).cast("int"))
        .repartition(4)
      ev.write.mode("overwrite").partitionBy("etype", "bucket").parquet(dir)
      ev.write.mode("append").partitionBy("etype", "bucket").parquet(dir)
      val fragmented = digest(Warehouse.read(spark, dir))
      val (before, after) = Warehouse.compactPartitions(spark, dir)
      assert(before > after && after > 0,
        s"expected leaf-level compaction, got $before -> $after files")
      assert(digest(Warehouse.read(spark, dir)) == fragmented,
        "compactPartitions changed the data")
      // partition pruning still works over the compacted layout
      val oneLeaf = Warehouse.read(spark, dir)
        .filter($"etype" === "click" && $"bucket" === 0)
      assert(oneLeaf.count() > 0)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("compact refuses a directory with an unfinished swap marker") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_marker")
    try {
      Tables.region(spark, sf).write.mode("overwrite").parquet(dir.toString)
      java.nio.file.Files.write(dir.resolve("_graft_compaction_inprogress"),
        "swap\ndeadbeef".getBytes("UTF-8"))
      val e = intercept[IllegalArgumentException] {
        Warehouse.compact(spark, dir.toString)
      }
      assert(e.getMessage.contains("unfinished compaction swap") &&
        e.getMessage.contains("OLD generation is complete"))
    } finally {
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively()
    }
  }

  test("compact refuses a hive-partitioned root instead of flattening it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_part").toString
    try {
      Tables.events(spark, sf)
        .withColumn("etype", $"event_type")
        .write.mode("overwrite").partitionBy("etype").parquet(dir)
      val e = intercept[IllegalArgumentException] {
        Warehouse.compact(spark, dir)
      }
      assert(e.getMessage.contains("partition directories"))
      // a plain (non-hive) nested dir is refused too: its files are
      // invisible to a top-level read and would be deleted unrewritten
      val plain = java.nio.file.Files.createTempDirectory("graft_compact_sub")
      try {
        Tables.region(spark, sf).write.mode("overwrite")
          .parquet(plain.resolve("nested").toString)
        Tables.region(spark, sf).write.mode("append")
          .parquet(plain.toString)
        val e2 = intercept[IllegalArgumentException] {
          Warehouse.compact(spark, plain.toString)
        }
        assert(e2.getMessage.contains("subdirectories"))
      } finally {
        import scala.reflect.io.Directory
        new Directory(plain.toFile).deleteRecursively()
      }
      // per-partition invocation (the documented path) still works
      val sub = new java.io.File(dir).listFiles()
        .filter(f => f.isDirectory && f.getName.contains("=")).head
      val before = digest(spark.read.parquet(sub.toString))
      Warehouse.compact(spark, sub.toString)
      assert(digest(spark.read.parquet(sub.toString)) == before)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("zone-map skipping reads a strict minority of files, result identical") {
    val base = java.nio.file.Files.createTempDirectory("graft_w09_spec")
    try {
      val root = base.resolve("orders_clustered").toString
      Tables.orders(spark, sf)
        .select($"o_orderkey", $"o_orderdate", $"o_totalprice")
        .repartitionByRange(16, $"o_orderdate")
        .sortWithinPartitions($"o_orderdate")
        .write.parquet(root)
      val stats = Warehouse.zoneMapStats(spark, root, "o_orderdate")
        .cache()
      val total = stats.count()
      assert(total >= 8, s"expected a multi-file layout, got $total files")
      // zone maps cover every row exactly once
      assert(stats.agg(sum($"n_rows")).head.getLong(0) ==
        Tables.orders(spark, sf).count())
      val (lo, hi) = (lit("1996-01-01 00:00:00").cast("timestamp"),
        lit("1996-12-31 23:59:59").cast("timestamp"))
      // the skipping decision: a strict minority of files intersect the
      // one-year range of a ~6.6-year clustered table
      val picked = stats.filter($"zmax" >= lo && $"zmin" <= hi).count()
      assert(picked >= 1 && picked * 2 < total,
        s"one year should intersect a strict minority of zones: $picked/$total")
      // pruning is invisible: pruned scan == full-table filter, row for row
      val pruned = Warehouse.skippingScan(spark, stats, "o_orderdate", lo, hi)
        .select($"o_orderkey", $"o_orderdate", $"o_totalprice")
      val full = spark.read.parquet(root)
        .filter($"o_orderdate" >= lo && $"o_orderdate" <= hi)
        .select($"o_orderkey", $"o_orderdate", $"o_totalprice")
      assert(pruned.exceptAll(full).count() == 0)
      assert(full.exceptAll(pruned).count() == 0)
      // an empty zone intersection is refused loudly, not an empty scan
      val e = intercept[IllegalArgumentException] {
        Warehouse.skippingScan(spark, stats, "o_orderdate",
          lit("2050-01-01 00:00:00").cast("timestamp"),
          lit("2050-12-31 00:00:00").cast("timestamp"))
      }
      assert(e.getMessage.contains("zone"))
      // incremental maintenance: an appended batch's stats come from a
      // scan of the NEW files only, and the unioned map must be
      // row-identical to a fresh full rebuild — the one-time-bootstrap
      // claim. The old map enters as a MATERIALIZED snapshot (the
      // stored-stats-table shape the API documents): the lazy plan
      // would re-scan the post-append dir, and leaving it CACHED would
      // serve the stale pre-append map to the rebuild via plan-cache
      // substitution — both real footguns this test documents.
      val statsSnap = stats.localCheckpoint(true)
      stats.unpersist()
      val batch = Tables.orders(spark, sf)
        .filter($"o_orderkey" % 5 === 0)
        .select($"o_orderkey" + 10000000L as "o_orderkey",
          $"o_orderdate", $"o_totalprice")
      val incr = Warehouse.appendWithZoneStats(batch, root, "o_orderdate",
        statsSnap)
      val rebuilt = Warehouse.zoneMapStats(spark, root, "o_orderdate")
      assert(incr.exceptAll(rebuilt).count() == 0 &&
        rebuilt.exceptAll(incr).count() == 0,
        "incrementally-maintained zone map diverged from a full rebuild")
      // and the skipping scan over the maintained map sees the new rows
      val pruned2 = Warehouse.skippingScan(spark, incr, "o_orderdate",
        lo, hi).select($"o_orderkey")
      val full2 = spark.read.parquet(root)
        .filter($"o_orderdate" >= lo && $"o_orderdate" <= hi)
        .select($"o_orderkey")
      assert(pruned2.exceptAll(full2).count() == 0 &&
        full2.exceptAll(pruned2).count() == 0)
    } finally {
      import scala.reflect.io.Directory
      new Directory(base.toFile).deleteRecursively()
    }
  }
}
