package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private def evalS(c: Column): String =
    spark.range(1).select(c.cast("string").as("x")).as[String].head()
  private def evalD(c: Column): Double =
    spark.range(1).select(c.cast("double").as("x")).as[Double].head()

  test("tokenCount counts whitespace tokens") {
    assert(evalD(TextAnalysis.tokenCount(lit("one two three"))) == 3.0)
    assert(evalD(TextAnalysis.tokenCount(lit("single"))) == 1.0)
  }

  test("regexTokenCount splits words, numbers and punctuation") {
    // "it's 42%" → it, ', s, 42, % = 5 BPE-ish tokens
    assert(evalD(TextAnalysis.regexTokenCount(lit("it's 42%"))) == 5.0)
  }

  test("stopword and digit ratios are bounded and exact on crafted input") {
    // 4 tokens, 2 stopwords (the, of)
    val t = lit("the acceleration of bodies")
    assert(evalD(TextAnalysis.stopwordRatio(t)) == 0.5)
    // "a1b2" → 2 digits / 4 chars
    assert(evalD(TextAnalysis.digitRatio(lit("a1b2"))) == 0.5)
  }

  test("langId identifies obvious languages by marker words") {
    assert(evalS(TextAnalysis.langId(lit("the cat and the dog are in that house"))) == "en")
    assert(evalS(TextAnalysis.langId(lit("el perro y la casa de los gatos"))) == "es")
    assert(evalS(TextAnalysis.langId(lit("le chien et la maison des chats"))) == "fr")
    assert(evalS(TextAnalysis.langId(lit("der Hund und die Katze nicht das Haus"))) == "de")
  }

  test("fingerprint canonicalizes case and runs of spaces") {
    val a = TextAnalysis.fingerprint(lit("Hello,  World!"))
    val b = TextAnalysis.fingerprint(lit("hello, world!"))
    assert(evalS(a) == evalS(b), "fingerprint must be case/space-run-invariant")
    val c = TextAnalysis.fingerprint(lit("hello,world!"))
    assert(evalS(a) != evalS(c), "distinct canonical forms must differ")
  }

  test("qualityScore stays within [0,1] on the real corpus") {
    val out = Tables.documents(spark, sf)
      .select(TextAnalysis.qualityScore(col("text")).as("q"))
      .agg(min("q").as("mn"), max("q").as("mx"))
      .as[(Double, Double)].head()
    assert(out._1 >= 0.0 && out._2 <= 1.0, s"quality out of range: $out")
  }

  test("langId is total over the corpus: always one of the known codes") {
    // (the fixture's lang column is a synthetic label — its text is one
    // shared vocabulary, so accuracy-vs-label is not a meaningful pin;
    // real-language behavior is pinned by the crafted sentences above)
    val known = Seq("en", "es", "de", "fr", "zh")
    val bad = Tables.documents(spark, sf)
      .select(TextAnalysis.langId(col("text")).as("pred"))
      .filter(!col("pred").isin(known: _*)).count()
    assert(bad == 0)
  }

  test("native MaxRun equals the HOF maxMultiplicity over the corpus") {
    import graft.functions.ArrayExprs
    val bg = Tables.documents(spark, sf)
      .select(TextAnalysis.wsTokens(col("text")).as("toks"))
      .select(sort_array(TextAnalysis.bigramsAll(col("toks"))).as("b"))
    val diverged = bg.select(
        ArrayExprs.maxRun(col("b")).as("native"),
        TextAnalysis.maxMultiplicity(col("b")).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diverged == 0)
    // null element poisons both forms identically
    val nullCase = spark.range(1)
      .select(ArrayExprs.maxRun(
        array(lit("a"), lit(null).cast("string"), lit("a"))).as("m"))
      .as[Option[Int]].head()
    assert(nullCase.isEmpty)
  }

  test("maxMultiplicity equals the naive mode count, in-row") {
    val got = spark.range(1)
      .select(TextAnalysis.maxMultiplicity(
        sort_array(split(lit("b a c a b a"), " "))).as("m"))
      .as[Int].head()
    assert(got == 3) // "a" appears 3 times
    val empty = spark.range(1)
      .select(TextAnalysis.maxMultiplicity(
        array().cast("array<string>")).as("m")).as[Int].head()
    assert(empty == 0)
  }

  test("CMS estimates: never under the exact count, over by at most eps*N") {
    val rows = TextAnalysis.t10CmsTopkEstimates(spark, sf)
      .as[(String, Long, Long)].collect()
    assert(rows.length == 20)
    val n = Tables.documents(spark, sf)
      .select(explode(TextAnalysis.wsTokens(col("text")))).count()
    rows.foreach { case (tok, exact, est) =>
      assert(est >= exact, s"$tok: CMS under-estimated $est < $exact")
      // per-query guarantee is ≤ eps*N with prob 0.99; across 20 probes
      // allow a small multiple before calling it broken
      assert(est - exact <= (0.001 * n * 5).toLong,
        s"$tok: estimate $est too far above exact $exact (N=$n)")
    }
  }

  test("tfidf top terms match a hand-computed fixture") {
    // N=3; "rare" appears in 1 doc, "mid" in 2, "all" in 3.
    // smooth idf: ln((N+1)/(df+1))+1 → rare 1.693, mid 1.288, all 1.0
    val docs = Seq(
      (0L, "all rare mid"),
      (1L, "all mid all"),
      (2L, "all")
    ).toDF("doc_id", "text")
    val top = TextAnalysis.tfidfTopTerms(docs, 3)
      .orderBy($"doc_id", $"rk")
      .select($"doc_id", $"rk", $"term", $"tf", $"df")
      .as[(Long, Int, String, Long, Long)].collect().toSeq
    assert(top == Seq(
      // doc 0: rare(1×1.693) > mid(1×1.288) > all(1×1.0)
      (0L, 1, "rare", 1L, 1L), (0L, 2, "mid", 1L, 2L), (0L, 3, "all", 1L, 3L),
      // doc 1: all(tf=2, 2.0) > mid(1.288)
      (1L, 1, "all", 2L, 3L), (1L, 2, "mid", 1L, 2L),
      (2L, 1, "all", 1L, 3L)))
  }

  test("chunkDocuments: full coverage, exact interior windows, truncated tail, short-doc singleton") {
    // 10 tokens, window 4, stride 3: starts 0,3,6 (K = ceil(6/3) = 2)
    // -> chunks t0..t3 / t3..t6 / t6..t9 (last one truncates at 4? no:
    // start 6 + window 4 = 10 = n, exact); and an 11-token doc gets a
    // 4th chunk of 2 tokens (start 9)
    val docs = Seq(
      (1L, (0 until 10).map(i => s"w$i").mkString(" ")),
      (2L, (0 until 11).map(i => s"x$i").mkString(" ")),
      (3L, "just three tokens")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocuments(docs, 4, 3)
      .orderBy($"doc_id", $"chunk_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(out.toSeq == Seq(
      (1L, 0, 4), (1L, 1, 4), (1L, 2, 4),
      (2L, 0, 4), (2L, 1, 4), (2L, 2, 4), (2L, 3, 2),
      (3L, 0, 3)))
    // coverage: last chunk of every doc reaches the document end
    // (start K·stride + its n_tokens == n), first starts at 0 — with
    // stride <= window nothing between consecutive starts is skipped
    for ((doc, n) <- Seq((1L, 10), (2L, 11), (3L, 3))) {
      val chunks = out.filter(_._1 == doc)
      assert(chunks.head._2 == 0)
      val (_, lastK, lastLen) = chunks.last
      assert(lastK * 3 + lastLen == n, s"doc $doc must be covered to $n")
    }
    // fingerprints: identical text -> identical chunk_md5, and the md5
    // really is of the joined window (doc 3's only chunk)
    val fp = TextAnalysis.chunkDocuments(docs, 4, 3)
      .filter($"doc_id" === 3L).select($"chunk_md5").as[String].head()
    val expected = spark.range(1)
      .select(md5(lit("just three tokens").cast("binary"))).as[String].head()
    assert(fp == expected)
  }

  test("piiRedact: masks emails/urls/phones, leaves prose alone, idempotent") {
    import spark.implicits._
    val rows = Seq(
      ("mail me at bob.smith+x@corp.example.com today",
       "mail me at <EMAIL> today"),
      ("see https://a.example.org/p?q=1 and http://b.io/z now",
       "see <URL> and <URL> now"),
      ("call 555-867-5309 x2", "call <PHONE> x2"),
      // an URL with an email-shaped path must redact as ONE url
      ("go https://h.io/u@v.ee/x stop", "go <URL> stop"),
      ("plain words 12-34 a@b nothing", "plain words 12-34 a@b nothing"))
      .toDF("raw", "expected")
    val got = rows.select($"expected",
      TextAnalysis.piiRedact($"raw").as("got"),
      TextAnalysis.piiRedact(TextAnalysis.piiRedact($"raw")).as("twice"))
      .collect()
    got.foreach { r =>
      assert(r.getString(1) == r.getString(0), s"redaction mismatch: ${r.getString(1)}")
      assert(r.getString(2) == r.getString(1), "redaction must be idempotent")
    }
  }

  test("bpeMergeTable learns hand-computable merges, count-then-pair order") {
    // corpus: "low" x3, "lower" x2, "west" x1 — pair counts round 1:
    // (l,o)=5, (o,w)=5, (w,e)=3, (e,r)=2, (e,s)=1, (s,t)=1; ties break
    // lexicographically: 'l o' < 'o w', so merge 1 = (l,o)->lo.
    // Round 2: (lo,w)=5 wins. Round 3: (w,e)=3 -> we... but 'low' has
    // no trailing slot; "lower"= [low,e,r], "west"=[w,e,s,t]:
    // (low,e)=2, (e,r)=2, (w,e)=1, (e,s)=1, (s,t)=1 -> 'e r' vs
    // 'low e': 'e r' < 'low e'? counts tie at 2, 'e r' sorts first.
    val docs = Seq((1L, "low low lower west"), (2L, "low lower"))
      .toDF("doc_id", "text")
    val merges = TextAnalysis.bpeMergeTable(docs, k = 3)
    assert(merges == Seq(
      (1, "l o", "lo", 5L),
      (2, "lo w", "low", 5L),
      (3, "e r", "er", 2L)))
  }

  test("bpe replace-fixpoint semantics: chained runs fully merge") {
    // 'a b a b a b' single-pass replace merges only alternate links;
    // the fixed multi-pass application must reach the fixpoint [ab ab ab]
    val docs = Seq((1L, "ababab x")).toDF("doc_id", "text")
    // word 'ababab' => chars a b a b a b; round 1 best pair is (a,b)=3
    val merges = TextAnalysis.bpeMergeTable(docs, k = 2)
    assert(merges.head == ((1, "a b", "ab", 3L)))
    // after applying (a,b), the surviving symbols are [ab ab ab], so
    // round 2's top pair must be (ab, ab) with count 2 — that only
    // happens if ALL THREE links merged in round 1
    assert(merges(1) == ((2, "ab ab", "abab", 2L)))
  }

  test("bigramLogprob: repeated-sequence doc outscores shuffled-word doc") {
    // same unigram multiset, different sequences: the bigram model must
    // prefer the doc whose transitions dominate the corpus
    val docs = Seq(
      (1L, "a b a b a b a b"),
      (2L, "b b a a b a b a"),
      (3L, "a b a b")).toDF("doc_id", "text")
    val r = TextAnalysis.bigramLogprob(docs)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    // bigram counts: n_tokens-1 per doc
    assert(r.map(_._2).toSeq == Seq(7L, 7L, 3L))
    // doc 1 is pure (a,b)/(b,a) chains — the corpus majority; doc 2
    // contains the rare (b,b)/(a,a) transitions and must score lower
    assert(r(0)._3 > r(1)._3)
  }

  test("bpeFit vocabulary encodes hand-checkable symbol sequences") {
    // after (l,o)->lo, (lo,w)->low, (e,r)->er:
    // low=[low](1), lower=[low,er](2), west=[w,e,s,t](4)
    val docs = Seq((1L, "low low lower west"), (2L, "low lower"))
      .toDF("doc_id", "text")
    val vocab = TextAnalysis.bpeFit(docs, k = 3)._2
      .select($"word", trim($"syms").as("s")).as[(String, String)]
      .collect().toMap
    assert(vocab == Map(
      "low" -> "low", "lower" -> "low er", "west" -> "w e s t"))
  }

  test("blockDedup flags the shared block, not the distinct remainder") {
    // docs 1/2 share an exact 4-token block (block 0) and then diverge
    // completely; doc 3 is all-original. With blockTokens=4: doc1 has
    // blocks [shared, x], doc2 [shared, y], doc3 [z].
    val docs = Seq(
      (1L, "common tokens appear here alpha beta gamma delta"),
      (2L, "common tokens appear here ones twos threes fours"),
      (3L, "entirely original content nothing shared at all here2")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.blockDedup(docs, blockTokens = 4)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 1L, 0.5), (2L, 2L, 1L, 0.5), (3L, 2L, 0L, 0.0)))
  }

  test("blockDedup: a block repeated only WITHIN one doc is not cross-doc dup") {
    val docs = Seq(
      (1L, "a b a b"), // with blockTokens=2: blocks [a b, a b] — same doc
      (2L, "c d e f")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.blockDedup(docs, blockTokens = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 0L, 0.0), (2L, 2L, 0L, 0.0)))
  }

  test("t19 vocab growth: exact prefix sums, genuinely decaying debuts") {
    val rows = TextAnalysis.vocabGrowth(Tables.documents(spark, sf))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.nonEmpty && rows.forall(_._2 > 0))
    var run = 0L
    rows.foreach { case (_, nw, cum) => run += nw; assert(cum == run) }
    // Heaps decay: later corpus slices debut fewer new types
    assert(rows.last._2 < rows.head._2)
  }

  test("decontaminate: a shared 5-gram across the split is reported exactly") {
    import spark.implicits._
    // independent implementation of the md5 bucketing — also pins that
    // Spark's conv(substring(md5…)) agrees with MessageDigest
    def bucket(id: Long): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      Integer.parseInt(hex.substring(30, 32), 16)
    }
    def split(id: Long): String =
      if (bucket(id) < 205) "train" else if (bucket(id) < 230) "val" else "test"
    val ids = 0L until 60L
    val trainIds = ids.filter(split(_) == "train")
    val testIds = ids.filter(split(_) == "test")
    assert(trainIds.nonEmpty && testIds.nonEmpty, "fixture must span the split")
    // every doc: one corpus-wide 5-gram + one unique trailing token
    val docs = ids.map(i => (i, s"alpha beta gamma delta epsilon unique$i"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.decontaminate(docs).collect()
    assert(out.map(_.getLong(0)).toSeq == testIds, "every test doc is contaminated")
    out.foreach { r =>
      assert(r.getLong(1) == 2, "6 tokens yield two distinct 5-grams")
      assert(r.getLong(2) == 1, "only the leading shared 5-gram matches")
      assert(r.getDouble(3) == 0.5)
      assert(r.getLong(4) == trainIds.size, "every train doc shares it")
    }
    // the hot-shingle cap drops the corpus-wide gram entirely
    assert(TextAnalysis.decontaminate(docs, Some(1L)).count() == 0)
  }

  test("decontaminate cap bounds join expansion on a stopword-heavy corpus") {
    import spark.implicits._
    def bucket(id: Long): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      Integer.parseInt(hex.substring(30, 32), 16)
    }
    val ids = 0L until 200L
    val trainIds = ids.filter(bucket(_) < 205)
    val testId = ids.find(bucket(_) >= 230).get
    // every train doc opens with the same stopword boilerplate 5-gram;
    // ONE train doc also carries a rare content 5-gram
    val rareTrain = trainIds.head
    val docs = (trainIds.map { i =>
      // the rare-gram doc shares ONLY [r1..r5] with the test doc (its
      // zz-prefixed grams collide with nothing); every other train doc
      // carries the boilerplate gram + a unique tail
      if (i == rareTrain) (i, "zz1 zz2 zz3 r1 r2 r3 r4 r5")
      else (i, s"the of and to in u$i")
    } :+ (testId, "the of and to in r1 r2 r3 r4 r5")).toDF("doc_id", "text")
    val un = TextAnalysis.decontaminate(docs)
      .filter($"doc_id" === testId).head()
    // uncapped: the boilerplate gram joins the test doc to EVERY train
    // doc — the k-rows-per-test-gram expansion the cap exists to bound
    assert(un.getLong(1) == 6, "10 tokens yield six distinct 5-grams")
    assert(un.getLong(2) == 2, "boilerplate + rare gram both shared")
    assert(un.getLong(4) == trainIds.size.toLong,
      "uncapped scan fans out to the whole train corpus")
    // capped at 2: the hot gram (df = |train|+1) is dropped before the
    // join, the rare gram (df = 2) survives — expansion collapses from
    // |train| rows to one while the DENOMINATOR stays the true gram
    // count (sizes are computed pre-cap)
    val cp = TextAnalysis.decontaminate(docs, Some(2L))
      .filter($"doc_id" === testId).head()
    assert(cp.getLong(1) == 6, "n_grams must not shrink under the cap")
    assert(cp.getLong(2) == 1, "only the rare gram survives the cap")
    assert(cp.getLong(4) == 1L, "join expansion bounded to the rare match")
    assert(cp.getDouble(3) == 0.166667, "contamination = round(1/6, 6)")
  }

  test("t15 cap is lossless on the gate corpus: no shared 5-gram exceeds it") {
    // the condition that lets t15 (cap = 2) hash-match t13's exact
    // oracle at sf0.01: the most-shared train∩test shingle has df 2,
    // while df-3 shingles DO exist (so the cap genuinely drops rows)
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val sh = docs.select($"doc_id",
        split($"text", " ").as("toks"),
        graft.operators.Pipeline.splitOf(
          graft.operators.Pipeline.md5Bucket($"doc_id")).as("split"))
      .select($"doc_id", $"split",
        explode(graft.operators.Dedup.shingleTokens($"toks", 5)).as("s"))
      .select($"split", xxhash64($"s").as("shingle"))
    val byShingle = sh.groupBy($"shingle").agg(
        count(lit(1)).as("df"),
        sum(when($"split" === "train", 1).otherwise(0)).as("n_train"),
        sum(when($"split" === "test", 1).otherwise(0)).as("n_test"))
    val r = byShingle.agg(
        max(when($"n_train" > 0 && $"n_test" > 0, $"df")).as("max_shared_df"),
        sum(when($"df" > 2, 1).otherwise(0)).as("n_hot")).head()
    assert(r.getLong(0) <= 2L,
      s"a shared shingle has df ${r.getLong(0)} > 2 — t15's cap would lose it")
    assert(r.getLong(1) > 0L, "the cap must actually drop something")
  }

  test("tfidf ranking is partitioning-independent") {
    val a = TextAnalysis.t11TfidfTopTerms(spark, sf).collect().toSeq
    GraftSession.withConf(spark)("spark.sql.shuffle.partitions" -> "7") {
      val b = TextAnalysis.t11TfidfTopTerms(spark, sf).collect().toSeq
      assert(a == b)
    }
  }

  test("lmLogprob matches hand-computed Laplace unigram surprisal") {
    // unigrams: a:5, b:1, c:1 → N=7, V=3 → p(w) = (cnt+1)/10
    val docs = Seq((0L, "a a a a"), (1L, "a b"), (2L, "c"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.lmLogprob(docs).collect()
    assert(r.map(_.getLong(1)).toSeq == Seq(4L, 2L, 1L))
    def lp(p: Double) = BigDecimal(math.log(p))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def avg6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = Seq(
      avg6(lp(0.6).toDouble),                       // doc 0: common tokens
      avg6((lp(0.6) + lp(0.2)).toDouble / 2.0),     // doc 1: mixed (exact
                                                    //   decimal sum, then /2)
      avg6(lp(0.2).toDouble))                       // doc 2: rare-token soup
    assert(r.map(_.getDouble(2)).toSeq == expected,
      s"got ${r.map(_.getDouble(2)).toSeq}, want $expected")
    // the quality-filter signal: common-token docs score higher
    assert(r(0).getDouble(2) > r(2).getDouble(2))
  }

  test("lmLogprob on the corpus: one row per doc, all scores negative") {
    val docs = Tables.documents(spark, sf)
    val out = TextAnalysis.lmLogprob(docs).cache()
    try {
      assert(out.count() == docs.count())
      assert(out.filter($"avg_logprob" >= 0.0 || $"tok_count" <= 0L).count() == 0)
    } finally { out.unpersist(); () }
  }

  test("t22: support floor holds, ranking is total, and the head PMI recomputes exactly") {
    val rows = TextAnalysis.t22PmiCollocations(spark, sf)
      .as[(String, String, Long, Double)].collect()
    assert(rows.nonEmpty && rows.length <= 50)
    assert(rows.forall(_._3 >= TextAnalysis.pmiMinCount))
    assert(rows.map(_._4).sameElements(rows.map(_._4).sorted.reverse))
    // recompute the head row's PMI from first-principles counts
    val (w1, w2, cab, pmi) = rows.head
    val toks = Tables.documents(spark, sf)
      .select(split($"text", " ").as("toks"))
    val uni = toks.select(explode($"toks").as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c"))
      .as[(String, Long)].collect().toMap
    val n = toks.select(greatest(size($"toks") - 1, lit(0)).as("s"))
      .agg(sum($"s")).as[Long].head()
    val expected = BigDecimal(math.log(
      (cab.toDouble * n) / (uni(w1).toDouble * uni(w2))))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(pmi == expected, s"head PMI $pmi != recomputed $expected")
  }

  test("t23: a frequency-sorted curve must fit with negative slope and sane r²") {
    val (n, slope, _, r2) = TextAnalysis.t23ZipfFit(spark, sf)
      .as[(Long, Double, Double, Double)].head()
    assert(n >= 2 && n <= TextAnalysis.zipfRanks)
    assert(slope < 0.0, s"rank-frequency slope must be negative, got $slope")
    assert(r2 > 0.0 && r2 <= 1.0, s"r² out of range: $r2")
  }

  test("t24: scores stay in (-1,1), keep matches the threshold, prose beats digit spam") {
    val rows = TextAnalysis.t24QualityModel(spark, sf)
      .as[(Long, Double, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, s, keep) =>
      assert(s > -1.0 && s < 1.0, s"doc $id softsign out of range: $s")
      assert(keep == (s >= TextAnalysis.t24KeepThreshold),
        s"doc $id keep flag disagrees with the threshold")
    }
    // behavioral pin on crafted extremes via the same expressions the
    // gate runs: stopword-rich prose must outscore digit spam
    val crafted = Seq(
      (1L, "the cat sat on the mat and it was the best of days for all of them"),
      (2L, "8429 1039 5823 9321 7743 0921 5534 8812 9932 1204 5531 8820"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_t24")
    try {
      crafted.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val scores = TextAnalysis.t24QualityModel(spark, tmp.toString)
        .as[(Long, Double, Boolean)].collect().map(t => t._1 -> (t._2, t._3)).toMap
      assert(scores(1L)._1 > scores(2L)._1,
        s"prose must outscore digit spam: $scores")
      assert(scores(1L)._2 && !scores(2L)._2,
        s"keep decisions must split the extremes: $scores")
    } finally {
      new scala.reflect.io.Directory(tmp.toFile).deleteRecursively()
      ()
    }
  }
}
