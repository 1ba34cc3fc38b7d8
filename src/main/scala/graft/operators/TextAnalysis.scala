package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}

import graft.Tables

/** Text-analysis operators for the training-data pipeline over the
  * `documents` table: tokenization, quality scoring, language-ID, and
  * document fingerprinting.
  *
  * Everything is built from codegen'd Catalyst expressions
  * (`split`/`regexp_count`/`filter`/`md5` — no UDFs), so the per-doc
  * work stays inside WholeStageCodegen and scales embarrassingly
  * parallel: no shuffles except the final distribution aggregates.
  *
  * Each heuristic is deliberately expressible in ANSI SQL so the DuckDB
  * oracle can replay the identical scoring (the gate hash-matches our
  * operator's semantics, not just row counts).
  */
object TextAnalysis {

  // -- tokenization -----------------------------------------------------------

  /** Whitespace tokens (single-space convention of the corpus). */
  def wsTokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(wsTokens(text))

  /** BPE-ish token regex: letter runs, digit runs, single symbols.
    * Chosen to behave identically under Java regex and RE2. */
  val tokenRegex = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  def regexTokenCount(text: Column): Column = regexp_count(text, lit(tokenRegex))

  // -- quality scoring --------------------------------------------------------

  val stopwords: Seq[String] =
    Seq("the", "a", "and", "of", "is", "to", "in", "that")

  def stopwordCount(text: Column): Column =
    size(filter(wsTokens(text), w => w.isInCollection(stopwords)))

  def stopwordRatio(text: Column): Column =
    stopwordCount(text).cast(DoubleType) / tokenCount(text).cast(DoubleType)

  def digitRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[0-9]", "")))
      .cast(DoubleType) / length(text).cast(DoubleType)

  /** Mean token length (chars excluding the single separators). */
  def avgTokenLen(text: Column): Column =
    (length(text) - tokenCount(text) + lit(1)).cast(DoubleType) /
      tokenCount(text).cast(DoubleType)

  /** Composite [0,1]-ish quality heuristic (stopword density + word-length
    * plausibility + digit sparsity) — the shape of C4/Gopher-style rules. */
  def qualityScore(text: Column): Column =
    lit(0.5) * stopwordRatio(text) +
      lit(0.3) * least(avgTokenLen(text) / lit(10.0), lit(1.0)) +
      lit(0.2) * (lit(1.0) - digitRatio(text))

  // SQL mirrors of the above (DuckDB dialect).
  private val sqlTok = "string_split(text, ' ')"
  private val sqlNTok = s"CAST(len($sqlTok) AS DOUBLE)"
  private[operators] val sqlStops = stopwords.map(s => s"'$s'").mkString(", ")
  private val sqlStopCnt =
    s"CAST(len(list_filter($sqlTok, w -> w IN ($sqlStops))) AS DOUBLE)"
  private val sqlDigitRatio =
    "CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)"
  private val sqlAvgTokLen =
    s"CAST(length(text) - len($sqlTok) + 1 AS DOUBLE) / $sqlNTok"
  private[operators] val sqlQuality =
    s"0.5 * ($sqlStopCnt / $sqlNTok) + 0.3 * least($sqlAvgTokLen / 10.0, 1.0) + 0.2 * (1.0 - $sqlDigitRatio)"

  // -- language identification ------------------------------------------------

  /** Stopword-profile scores per language + a CJK character trigger.
    * Marker lists are disjoint-enough for a deterministic argmax; ties
    * break by the fixed chain order (en > es > de > fr). */
  val langMarkers: Map[String, String] = Map(
    "en" -> "\\b(the|and|of|is|to|in|that|it)\\b",
    "es" -> "\\b(el|los|las|de|que|y|en|un|una|es)\\b",
    "de" -> "\\b(der|die|das|und|ist|nicht|mit|ein|zu|von)\\b",
    "fr" -> "\\b(le|les|et|est|dans|pour|une|du|des)\\b")

  val cjkRegex = "[一-鿿]"

  def langScore(text: Column, lang: String): Column =
    regexp_count(text, lit(langMarkers(lang)))

  def langId(text: Column): Column = {
    val en = langScore(text, "en")
    val es = langScore(text, "es")
    val de = langScore(text, "de")
    val fr = langScore(text, "fr")
    when(regexp_count(text, lit(cjkRegex)) > 0, "zh")
      .when(en >= es && en >= de && en >= fr, "en")
      .when(es >= de && es >= fr, "es")
      .when(de >= fr, "de")
      .otherwise("fr")
  }

  private def sqlLangScore(lang: String): String =
    s"len(regexp_extract_all(text, '${langMarkers(lang)}'))"

  private val sqlLangId: String = {
    val en = sqlLangScore("en"); val es = sqlLangScore("es")
    val de = sqlLangScore("de"); val fr = sqlLangScore("fr")
    s"""CASE WHEN len(regexp_extract_all(text, '$cjkRegex')) > 0 THEN 'zh'
       |     WHEN $en >= $es AND $en >= $de AND $en >= $fr THEN 'en'
       |     WHEN $es >= $de AND $es >= $fr THEN 'es'
       |     WHEN $de >= $fr THEN 'de'
       |     ELSE 'fr' END""".stripMargin
  }

  // -- fingerprinting ---------------------------------------------------------

  /** Canonical-form fingerprint: lowercase, collapse whitespace, md5.
    * (The rolling-hash variant lives in graft.functions.RollingHash as a
    * custom Catalyst expression; md5 is the cross-engine-checkable one.) */
  def fingerprint(text: Column): Column =
    md5(to_binary(trim(regexp_replace(lower(text), " +", " ")), lit("utf-8")))

  private val sqlFingerprint =
    "md5(trim(regexp_replace(lower(text), ' +', ' ', 'g')))"

  // ---------------------------------------------------------------------------
  // Gate queries
  // ---------------------------------------------------------------------------

  /** Per-document token statistics (bounded output). */
  def t01TokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        tokenCount(col("text")).as("ws_tokens"),
        regexTokenCount(col("text")).as("re_tokens"),
        length(col("text")).as("n_chars_calc"),
        avgTokenLen(col("text")).as("avg_token_len"))
      .orderBy(col("doc_id"))
      .limit(1000)

  val t01Sql: String =
    s"""SELECT doc_id,
       |  CAST(len($sqlTok) AS INT) AS ws_tokens,
       |  CAST(len(regexp_extract_all(text, '$tokenRegex')) AS INT) AS re_tokens,
       |  CAST(length(text) AS INT) AS n_chars_calc,
       |  $sqlAvgTokLen AS avg_token_len
       |FROM documents
       |ORDER BY doc_id
       |LIMIT 1000""".stripMargin

  /** Per-document quality heuristics. */
  def t02QualityScores(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        stopwordRatio(col("text")).as("stop_ratio"),
        digitRatio(col("text")).as("digit_ratio"),
        qualityScore(col("text")).as("quality_score"))
      .orderBy(col("doc_id"))
      .limit(1000)

  val t02Sql: String =
    s"""SELECT doc_id,
       |  $sqlStopCnt / $sqlNTok AS stop_ratio,
       |  $sqlDigitRatio AS digit_ratio,
       |  $sqlQuality AS quality_score
       |FROM documents
       |ORDER BY doc_id
       |LIMIT 1000""".stripMargin

  /** Language-ID prediction vs the labeled column. */
  def t03LangId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), langId(col("text")).as("pred_lang"))
      .orderBy(col("doc_id"))
      .limit(1000)

  val t03Sql: String =
    s"""SELECT doc_id, lang, $sqlLangId AS pred_lang
       |FROM documents
       |ORDER BY doc_id
       |LIMIT 1000""".stripMargin

  /** Canonical fingerprints. */
  def t04Fingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), fingerprint(col("text")).as("fingerprint"))
      .orderBy(col("doc_id"))
      .limit(1000)

  val t04Sql: String =
    s"""SELECT doc_id, $sqlFingerprint AS fingerprint
       |FROM documents
       |ORDER BY doc_id
       |LIMIT 1000""".stripMargin

  /** Corpus profile: per labeled lang, volume + mean quality.
    * Per-doc quality is an arbitrary double, so the mean goes through the
    * decimal(18,8) convention (round each value once, sum exactly) to stay
    * partition-order-independent — same trick as StarQueries money sums. */
  def t05LangProfile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val qDec = qualityScore(col("text")).cast(DecimalType(18, 8))
    Tables.documents(spark, dir)
      .withColumn("q", qDec)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("doc_count"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("q")).cast(DoubleType) / count(col("q")).cast(DoubleType))
          .as("avg_quality"))
      .orderBy(col("lang"))
  }

  val t05Sql: String =
    s"""SELECT lang, COUNT(*) AS doc_count,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |  CAST(SUM(q) AS DOUBLE) / CAST(COUNT(q) AS DOUBLE) AS avg_quality
       |FROM (SELECT lang, n_chars,
       |        CAST(($sqlQuality) AS DECIMAL(18,8)) AS q FROM documents) t
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  /** The scrub frame every scrub consumer shares (t07 gate,
    * [[Pipeline]], specs): (doc_id, text, toks, kept, cleaned) as a
    * pure projection chain. Each array materializes once per row (HOF
    * lambdas are interpreted and re-evaluate their inputs — the
    * projection boundaries keep each `split` to a single evaluation);
    * no shuffle, embarrassingly parallel at any corpus size. One owner
    * so the scrub semantics cannot drift between its gates. */
  def scrubFrame(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"), wsTokens(col("text")).as("toks"))
      .select(col("doc_id"), col("text"), col("toks"),
        filter(col("toks"), w => !w.isInCollection(stopwords)).as("kept"))
      .select(col("doc_id"), col("text"), col("toks"), col("kept"),
        array_join(col("kept"), " ").as("cleaned"))

  /** t07 — stopword scrubbing: the cleaning transform of a training-data
    * pipeline (C4-style token filtering); metrics + canonical md5 over
    * [[scrubFrame]], all codegen'd column ops. */
  def t07Scrub(spark: SparkSession, dir: String): DataFrame =
    scrubFrame(Tables.documents(spark, dir))
      .select(
        col("doc_id"),
        size(col("toks")).as("tokens_before"),
        size(col("kept")).as("tokens_after"),
        length(col("cleaned")).as("chars_after"),
        md5(to_binary(col("cleaned"), lit("utf-8"))).as("clean_fp"))
      .orderBy(col("doc_id"))
      .limit(1000)

  val t07Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |k AS (
       |  SELECT doc_id, toks,
       |         list_filter(toks, w -> w NOT IN ($sqlStops)) AS kept
       |  FROM t),
       |s AS (
       |  SELECT doc_id, toks, kept, array_to_string(kept, ' ') AS cleaned
       |  FROM k)
       |SELECT doc_id,
       |  CAST(len(toks) AS INT) AS tokens_before,
       |  CAST(len(kept) AS INT) AS tokens_after,
       |  CAST(length(cleaned) AS INT) AS chars_after,
       |  md5(cleaned) AS clean_fp
       |FROM s
       |ORDER BY doc_id
       |LIMIT 1000""".stripMargin

  /** In-row longest-equal-run over a SORTED array — the max multiplicity
    * of any element, computed by a single `aggregate` fold instead of an
    * explode + groupBy: per-document repetition never leaves the row, so
    * the repetition scan has no shuffle and no skew surface (a
    * pathological doc costs its own O(n log n) sort, nobody else's).
    * This HOF form is the reference implementation; the gate runs the
    * codegen'd [[graft.functions.ArrayExprs.MaxRun]] (HOF lambdas are
    * interpreted), and ScalaTest pins the two equal over the corpus. */
  def maxMultiplicity(sortedArr: Column): Column = {
    val step = (acc: Column, x: Column) => {
      val run = when(x === acc.getField("prev"), acc.getField("run") + lit(1))
        .otherwise(lit(1))
      struct(x.as("prev"), run.as("run"),
        greatest(acc.getField("best"), run).as("best"))
    }
    aggregate(
      sortedArr,
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      step,
      _.getField("best"))
  }

  /** ALL adjacent bigrams with multiplicity (unlike the dedup shingler,
    * which is distinct-set semantics). Empty array below 2 tokens — the
    * guard matters because `sequence(0, -1)` would count DOWN. */
  def bigramsAll(toks: Column): Column =
    when(size(toks) >= 2,
      transform(sequence(lit(0), size(toks) - 2), i =>
        concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2))))
      .otherwise(array().cast("array<string>"))

  /** t08 — Gopher-style repetition signals per document: the fraction of
    * tokens that are repeats of an earlier token, and the share of
    * bigram slots taken by the single most frequent bigram. High values
    * of either are the classic machine-generated/boilerplate tells a
    * training-data filter cuts on. All in-row (see [[maxMultiplicity]]). */
  def t08Repetition(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), wsTokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        sort_array(bigramsAll(col("toks"))).as("bigrams"))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        (lit(1.0) -
          size(array_distinct(col("toks"))).cast(DoubleType) /
            size(col("toks")).cast(DoubleType)).as("dup_token_frac"),
        graft.functions.ArrayExprs.maxRun(col("bigrams"))
          .as("top_bigram_count"),
        // a doc below 2 tokens has no bigram slots: define its share as
        // 0.0 (0/0 would be NaN here and a dropped row in a naive
        // oracle join — both engines must take this branch)
        when(size(col("bigrams")) === 0, lit(0.0))
          .otherwise(graft.functions.ArrayExprs.maxRun(col("bigrams"))
            .cast(DoubleType) /
            size(col("bigrams")).cast(DoubleType)).as("top_bigram_frac"))
      .orderBy(col("doc_id"))
      .limit(1000)

  val t08Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |bg AS (
       |  SELECT doc_id, w[i.i] || ' ' || w[i.i+1] AS bigram
       |  FROM toks CROSS JOIN LATERAL (SELECT unnest(range(1, len(w))) AS i) i),
       |top AS (
       |  SELECT doc_id, MAX(c) AS topc FROM (
       |    SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2)
       |  GROUP BY doc_id)
       |SELECT t.doc_id,
       |  CAST(len(w) AS INT) AS n_tokens,
       |  1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE)
       |    AS dup_token_frac,
       |  CAST(COALESCE(topc, 0) AS INT) AS top_bigram_count,
       |  CASE WHEN len(w) <= 1 THEN 0.0
       |       ELSE CAST(topc AS DOUBLE) / CAST(len(w) - 1 AS DOUBLE) END
       |    AS top_bigram_frac
       |FROM toks t LEFT JOIN top USING (doc_id)
       |ORDER BY doc_id
       |LIMIT 1000""".stripMargin

  /** t09 — corpus-wide top-20 tokens: the exact heavy-hitters query.
    * explode + hash-aggregate is the right distributed shape — the
    * partial aggregate collapses each task's token counts BEFORE the
    * shuffle, so shuffle volume is (distinct tokens × tasks), not token
    * occurrences; the final top-k is a TakeOrderedAndProject (no global
    * sort). Token ties break lexicographically for a total order. */
  def t09TokenTopK(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(wsTokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("occurrences"))
      .orderBy(col("occurrences").desc, col("token"))
      .limit(20)

  val t09Sql: String =
    """SELECT token, COUNT(*) AS occurrences
      |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
      |GROUP BY token
      |ORDER BY occurrences DESC, token
      |LIMIT 20""".stripMargin

  /** t10 — count-min-sketch token counts beside the exact answer: the
    * sketch is the 100 TB heavy-hitters path (one aggregate pass to a
    * few-KB mergeable summary; the exact t09 shuffle carries every
    * distinct token). The collected sketch is the OUTPUT of the
    * distributed pass, not a driver-side loop over data — estimating
    * the 20 probe tokens from it is O(k·depth). Engine-specific
    * hashing → rows-only gate; the CMS guarantees (never under, over by
    * ≤ ε·N w.h.p.) are pinned in TextAnalysisSpec. */
  def t10CmsTopkEstimates(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sketchBytes = Tables.documents(spark, dir)
      .select(explode(wsTokens(col("text"))).as("token"))
      .agg(expr("count_min_sketch(token, 0.001d, 0.99d, 42)"))
      .head().getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(sketchBytes))
    t09TokenTopK(spark, dir).as[(String, Long)].collect().toSeq
      .map { case (tok, exact) => (tok, exact, cms.estimateCount(tok)) }
      .toDF("token", "occurrences", "cms_estimate")
      .orderBy(col("occurrences").desc, col("token"))
  }

  /** Rolling-hash fingerprints via the native PolyHash expression
    * (wrapping mod-2⁶⁴ arithmetic → engine-specific → rows-only gate;
    * determinism + collision behavior pinned in ScalaTest). */
  def t06PolyFingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.RollingHash.polyHash(col("text")).as("poly_fp"))
      .orderBy(col("doc_id"))
      .limit(1000)

  /** Per-document salient terms by smoothed TF-IDF — the standard
    * corpus-statistics ranking a text pipeline uses for topic tagging /
    * keyword extraction. One exploded-token pass builds (doc, term, tf);
    * document frequency folds OVER THE SAME FRAME (it is already
    * distinct per (doc, term)), so the corpus is read once; N arrives
    * as a 1-row broadcast. idf = ln((N+1)/(df+1)) + 1 (sklearn's
    * smooth_idf) — no zero-division, unseen-term-safe.
    *
    * Rank per doc under (score DESC, term) — the term tiebreaker makes
    * the output deterministic across partitionings. Hash gate via
    * PINNED ROUNDING: the idf factor is rounded to 6 decimals before
    * the tf multiply, so two engines whose `ln` differs in the last ulp
    * still rank identically — the comparison operates on tf (exact
    * integer) × a 6-decimal idf, both IEEE-identical across engines
    * (idf ≥ 1 > 0, so Spark HALF_UP and DuckDB round-half-away agree).
    * 1e-6 is far coarser than the ~1e-16 cross-engine `ln` disagreement
    * and far finer than any real idf gap at these corpus sizes. */
  def tfidfTopTerms(docs: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    val tf = docs
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("__n"))
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf") *
        round(log((col("__n") + 1).cast(DoubleType) / (col("df") + 1).cast(DoubleType))
          + lit(1.0), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk").cast(IntegerType).as("rk"),
        col("term"), col("tf"), col("df"))
  }

  /** t11 — top-3 TF-IDF terms for the first 50 docs (df/N stay
    * corpus-global; only the ranked output is restricted). */
  def t11TfidfTopTerms(spark: SparkSession, dir: String): DataFrame =
    tfidfTopTerms(Tables.documents(spark, dir), 3)
      .filter(col("doc_id") < 50)
      .orderBy(col("doc_id"), col("rk"))

  /** The DuckDB twin of t11 — same smoothed TF-IDF with the identical
    * round(ln(..)+1, 6) pin, ranked by the identical (score DESC, term)
    * window. */
  val t11Sql: String =
    """WITH tf AS (
      |  SELECT doc_id, token AS term, COUNT(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |        FROM documents) t
      |  GROUP BY doc_id, token),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |ranked AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id ORDER BY
      |      tf.tf * ROUND(LN(CAST(n.n + 1 AS DOUBLE)
      |                       / CAST(df.df + 1 AS DOUBLE)) + 1.0, 6) DESC,
      |      tf.term) AS rk
      |  FROM tf JOIN df USING (term) CROSS JOIN n)
      |SELECT doc_id, CAST(rk AS INT) AS rk, term, tf, df
      |FROM ranked
      |WHERE rk <= 3 AND doc_id < 50
      |ORDER BY doc_id, rk""".stripMargin

  /** Sequence packing: assign documents to fixed token-budget training
    * bins by GLOBAL cumulative token count under a deterministic order
    * (doc_id). A document's bin is the one containing its START offset
    * (`(cum_before) div budget` — greedy concat-then-chunk; a document
    * longer than the budget still belongs to the bin where it begins,
    * the downstream tokenizer chunks its overflow).
    *
    * Scale: the global running sum is the two-phase
    * [[Cumulative.withCumsumAndRank]] (range-partition → per-partition
    * window → broadcast prefix offsets), NOT an unpartitioned window —
    * the same shape q13 ships. One pass over the corpus, one range
    * shuffle of (doc_id, tok) pairs. */
  def sequencePack(docs: DataFrame, budget: Long): DataFrame = {
    val toks = docs.select(col("doc_id"),
      tokenCount(col("text")).cast("long").as("tok"))
    Cumulative.withCumsumAndRank(toks, Seq(col("doc_id")), col("tok"),
        cumName = "cum") // cumsum-only: the bin math never reads a rank
      // integer div, not `/` (double division would lose exactness once
      // the global token count passes 2^53)
      .withColumn("bin_id", expr(s"(cum - tok) div ${budget}L"))
      .groupBy(col("bin_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("tok")).as("bin_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }

  /** t12 — 256-token sequence packing over the corpus. */
  def t12SequencePack(spark: SparkSession, dir: String): DataFrame =
    sequencePack(Tables.documents(spark, dir), 256L)
      .orderBy(col("bin_id"))

  val t12Sql: String =
    """WITH t AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, tok,
      |    SUM(tok) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM t)
      |SELECT CAST((cum - tok) // 256 AS BIGINT) AS bin_id,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(tok) AS BIGINT) AS bin_tokens,
      |  MIN(doc_id) AS first_doc,
      |  MAX(doc_id) AS last_doc
      |FROM c
      |GROUP BY 1
      |ORDER BY bin_id""".stripMargin

  // -- Overlapping window chunking (RAG / context-window prep) ---------------

  /** The raw chunk frame (doc_id, chunk_id: Int, ct: Array[String]) —
    * the shared core of [[chunkDocuments]] (t25) and the p13 RAG
    * composition ([[Pipeline.ragCorpus]]).
    *
    * Coverage rule: chunk starts are k·stride for k = 0..K with
    * K = ⌈(n − window)/stride⌉ (0 when n ≤ window) — the last window
    * starts at or after n − window, so EVERY token lands in ≥1 chunk
    * and a short document is exactly one chunk; trailing windows
    * truncate at the document end rather than padding.
    *
    * Shape: the token array is materialized by a projection ONCE
    * (never recomputed inside a lambda — the HOF re-evaluation trap),
    * the fan-out is one `explode(sequence(...))` bounded by ⌈n/stride⌉
    * rows per document, and everything else is per-row expressions —
    * no shuffle, linear in corpus tokens at any scale. */
  private[operators] def chunkRaw(docs: DataFrame, window: Int,
                                  stride: Int): DataFrame = {
    require(window >= 1 && stride >= 1 && stride <= window,
      s"need 1 <= stride <= window, got window=$window stride=$stride")
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")))
      // integer DIV ceil: (n - window + stride - 1) DIV stride
      .withColumn("last_k", expr(
        s"CASE WHEN n > $window THEN (n - $window + ${stride - 1}) " +
          s"DIV $stride ELSE 0L END"))
      .withColumn("chunk_id", explode(sequence(lit(0L), col("last_k"))))
      .select(
        col("doc_id"),
        col("chunk_id").cast("int").as("chunk_id"),
        slice(col("toks"),
          (col("chunk_id") * stride + lit(1L)).cast("int"), lit(window))
          .as("ct"))
  }

  /** DuckDB CTE chain ending in `c` = (doc_id, chunk_id, ct) — the
    * [[chunkRaw]] mirror shared by the t25 and p13 oracles (single
    * owner of the coverage arithmetic on the SQL side too). */
  private[operators] def chunkCtesSql(window: Int, stride: Int): String =
    s"""t0 AS MATERIALIZED (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |t AS (
       |  SELECT doc_id, toks, len(toks) AS n FROM t0),
       |k AS (
       |  SELECT doc_id, toks,
       |    unnest(range(0, (CASE WHEN n > $window
       |                          THEN (n - $window + ${stride - 1}) // $stride
       |                          ELSE 0 END) + 1)) AS chunk_id
       |  FROM t),
       |c AS (
       |  SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       |         list_slice(toks, chunk_id * $stride + 1,
       |                    chunk_id * $stride + $window) AS ct
       |  FROM k)""".stripMargin

  /** Overlapping fixed-window chunking — the retrieval-corpus prep
    * step t12's packing does NOT cover: packing assigns whole
    * documents to training bins, chunking splits each document into
    * `window`-token pieces advancing by `stride` (< window ⇒
    * `window − stride` tokens of overlap), the unit a RAG index embeds
    * and retrieves. Chunk identity is the stable (doc_id, chunk_id)
    * pair plus an md5 fingerprint of the chunk text (the downstream
    * join/dedup key — chunks, not documents, are what near-dup
    * detection sees in a retrieval corpus). Coverage/shape contract:
    * [[chunkRaw]]. */
  def chunkDocuments(docs: DataFrame, window: Int, stride: Int): DataFrame =
    chunkRaw(docs, window, stride)
      .select(
        col("doc_id"), col("chunk_id"),
        size(col("ct")).as("n_tokens"),
        md5(array_join(col("ct"), " ").cast("binary")).as("chunk_md5"))

  /** t25 — 64-token windows, stride 48 (16-token overlap). */
  def t25ChunkWindows(spark: SparkSession, dir: String): DataFrame =
    chunkDocuments(Tables.documents(spark, dir), 64, 48)
      .orderBy(col("doc_id"), col("chunk_id"))

  val t25Sql: String =
    s"""WITH ${chunkCtesSql(64, 48)}
       |SELECT doc_id, chunk_id,
       |  CAST(len(ct) AS INT) AS n_tokens,
       |  md5(array_to_string(ct, ' ')) AS chunk_md5
       |FROM c
       |ORDER BY doc_id, chunk_id""".stripMargin

  // -- PII redaction ----------------------------------------------------------

  /** RE2-safe patterns (no lookaround/backrefs) so Spark's Java regex
    * and DuckDB's RE2 match the SAME spans — the cross-engine contract
    * the t14 gate pins byte-for-byte via md5 of the redacted text. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[^ ]+"
  val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** Mask emails, URLs and phone numbers — the PII scrub every training
    * corpus goes through before the tokenizer. URL first (an URL may
    * embed an email-shaped path segment), then email, then phone.
    * Pure codegen'd regexp_replace chain: one narrow projection, no
    * shuffle, linear scan at any scale. */
  def piiRedact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, UrlRe, "<URL>"),
        EmailRe, "<EMAIL>"),
      PhoneRe, "<PHONE>")

  /** t14 — PII redaction, hash-gated end to end. The corpus carries no
    * natural PII (it is synthetic prose), so both engines first inject
    * the SAME deterministic PII — an email, a URL and a phone number
    * derived from doc_id — and the gate then pins the per-doc match
    * counts AND the md5 of the redacted text: any divergence in match
    * spans, replacement order, or regex semantics between Java regex
    * and DuckDB's RE2 breaks the hash. */
  def t14PiiRedaction(spark: SparkSession, dir: String): DataFrame = {
    val id3 = lpad((col("doc_id") % 1000).cast("string"), 3, "0")
    val id4 = lpad((col("doc_id") % 10000).cast("string"), 4, "0")
    val augmented = concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@mail.example.org via "),
      lit("https://ex.org/d/"), col("doc_id"), lit("?ref=abc or 555-"),
      id3, lit("-"), id4)
    // layout-adaptive spread (round 15): three regexp_count passes + a
    // triple regexp_replace per row with NO shuffle anywhere — on a
    // one-row-group scan the whole query ran on one core
    graft.ScalePolicy.spreadIfNarrow(Tables.documents(spark, dir), col("doc_id"))
      .select(col("doc_id"), augmented.as("aug"))
      .select(
        col("doc_id"),
        regexp_count(col("aug"), lit(EmailRe)).as("n_emails"),
        regexp_count(col("aug"), lit(UrlRe)).as("n_urls"),
        regexp_count(col("aug"), lit(PhoneRe)).as("n_phones"),
        md5(piiRedact(col("aug"))).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  val t14Sql: String =
    s"""WITH aug AS (
       |  SELECT doc_id,
       |    text || ' contact user' || doc_id || '@mail.example.org via ' ||
       |    'https://ex.org/d/' || doc_id || '?ref=abc or 555-' ||
       |    lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
       |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS aug
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(aug, '$EmailRe')) AS INT) AS n_emails,
       |  CAST(len(regexp_extract_all(aug, '$UrlRe')) AS INT) AS n_urls,
       |  CAST(len(regexp_extract_all(aug, '$PhoneRe')) AS INT) AS n_phones,
       |  md5(regexp_replace(regexp_replace(regexp_replace(aug,
       |        '$UrlRe', '<URL>', 'g'),
       |        '$EmailRe', '<EMAIL>', 'g'),
       |        '$PhoneRe', '<PHONE>', 'g')) AS clean_md5
       |FROM aug
       |ORDER BY doc_id""".stripMargin

  /** Train/test contamination scan — the decontamination pass every
    * LLM training pipeline runs before evaluation is trustable: find
    * test-split documents sharing word 5-grams with any train-split
    * document. The split is [[Pipeline.p04HashSplit]]'s deterministic
    * md5 bucketing (so the scan is stable across engines and re-runs);
    * shingling reuses [[Dedup.shingleTokens]] (distinct n-grams,
    * whole-text fallback for short docs), hashed to int64 so the
    * shingle-keyed equi-join shuffles 16-byte rows (same convention and
    * collision argument as d02).
    *
    * Scale: one tokenize+shingle pass per side, one hash-keyed
    * equi-join; no doc×doc quadrant anywhere. At 100 TB add the d08
    * hot-shingle cap (`maxShingleFreq`) — a stopword-like n-gram
    * shared by k train docs costs k rows per matching test gram, which
    * the cap bounds; the gate runs uncapped because the oracle is
    * exact. */
  def decontaminate(docs: DataFrame,
                    maxShingleFreq: Option[Long] = None): DataFrame = {
    // THE canonical split (single owner: Pipeline) — t13 must scan the
    // same train/test frontier the rest of the pipeline uses
    val tagged = docs.select(col("doc_id"),
      split(col("text"), " ").as("toks"),
      Pipeline.splitOf(Pipeline.md5Bucket(col("doc_id"))).as("split"))
    // materialized ONCE: the frame feeds the train side, the test side,
    // and the per-doc sizes — without this the tokenize+shingle+hash
    // pipeline re-executes per consumer (the d03/d04 lesson); what is
    // pinned here is (doc_id, split, int64) rows, not text
    val sh0 = tagged
      .select(col("doc_id"), col("split"),
        explode(Dedup.shingleTokens(col("toks"), 5)).as("s"))
      .select(col("doc_id"), col("split"), xxhash64(col("s")).as("shingle"))
      .localCheckpoint(true)
    val sh = maxShingleFreq match {
      case None => sh0
      case Some(limit) =>
        val hot = sh0.groupBy(col("shingle"))
          .agg(count(lit(1)).as("df")).filter(col("df") > limit)
          .select(col("shingle"))
        sh0.join(hot, Seq("shingle"), "left_anti")
    }
    val train = sh.filter(col("split") === "train")
      .select(col("doc_id").as("train_id"), col("shingle"))
    val test = sh.filter(col("split") === "test")
      .select(col("doc_id"), col("shingle"))
    // the contamination DENOMINATOR is the doc's TRUE gram count, so it
    // comes from the PRE-cap side: the cap is a join-expansion guard,
    // not a redefinition of document size — a capped run reports the
    // same n_grams and only its shared-gram numerator can shrink
    val sizes = sh0.filter(col("split") === "test").groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams")) // shingles are distinct per doc
    test.join(train, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(
        countDistinct(col("shingle")).as("n_shared_grams"),
        countDistinct(col("train_id")).as("n_train_docs"))
      .join(sizes, Seq("doc_id"))
      .select(col("doc_id"), col("n_grams"), col("n_shared_grams"),
        round(col("n_shared_grams").cast(DoubleType) / col("n_grams"), 6)
          .as("contamination"),
        col("n_train_docs"))
      .orderBy(col("doc_id"))
  }

  /** t13 — 5-gram test-vs-train contamination report. */
  def t13Decontamination(spark: SparkSession, dir: String): DataFrame =
    decontaminate(Tables.documents(spark, dir))

  /** t15 — the decontamination scan WITH the hot-shingle cap ENGAGED —
    * the 100 TB join-expansion guard made executable, not just a
    * parameter: cap 2 drops every document-frequency-3 shingle on the
    * gate corpus (74 of them — the anti-join genuinely removes rows)
    * yet loses no contaminated gram, because the most-shared
    * train∩test shingle has df 2 (measured on the corpus; the
    * cap-loses-nothing condition is pinned in TextAnalysisSpec). The
    * capped scan must therefore reproduce t13's exact oracle hash for
    * hash — same pattern as d11's capped MinHash vs the exact d02
    * answer.
    *
    * The lose-nothing premise is a MEASURED property of the gate
    * corpus (sf0.01), not of the operator: at sf0.001 a train∩test
    * shared shingle has df 3, the cap drops it, and the capped scan
    * honestly loses one contaminated gram for one test doc (84/86
    * shared vs the exact 85/86 — round-16 measurement). That is the
    * documented, intended behavior of a capped approximation off its
    * measured corpus; the gate contract holds at the gate SF. */
  def t15DecontaminationCapped(spark: SparkSession, dir: String): DataFrame =
    decontaminate(Tables.documents(spark, dir), maxShingleFreq = Some(2))

  val t13Sql: String =
    s"""WITH b AS (
      |  SELECT doc_id, text,
      |    ${Pipeline.sqlMd5Bucket("doc_id")} AS bucket
      |  FROM documents),
      |tagged AS (
      |  SELECT doc_id, text,
      |    ${Pipeline.sqlSplitOf("bucket")} AS split
      |  FROM b),
      |sh AS (
      |  SELECT DISTINCT doc_id, split,
      |         w[i.i] || ' ' || w[i.i+1] || ' ' || w[i.i+2] || ' '
      |               || w[i.i+3] || ' ' || w[i.i+4] AS shingle
      |  FROM (SELECT doc_id, split, string_split(text, ' ') AS w FROM tagged
      |        WHERE len(string_split(text, ' ')) >= 5)
      |  CROSS JOIN LATERAL (SELECT unnest(range(1, len(w) - 3)) AS i) i
      |  UNION ALL
      |  SELECT doc_id, split, text FROM tagged
      |  WHERE len(string_split(text, ' ')) < 5),
      |test AS (SELECT doc_id, shingle FROM sh WHERE split = 'test'),
      |train AS (SELECT doc_id AS train_id, shingle FROM sh WHERE split = 'train'),
      |sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM test GROUP BY doc_id),
      |agg AS (
      |  SELECT t.doc_id, COUNT(DISTINCT t.shingle) AS n_shared_grams,
      |         COUNT(DISTINCT tr.train_id) AS n_train_docs
      |  FROM test t JOIN train tr USING (shingle)
      |  GROUP BY t.doc_id)
      |SELECT a.doc_id, s.n_grams, a.n_shared_grams,
      |  ROUND(CAST(a.n_shared_grams AS DOUBLE) / s.n_grams, 6) AS contamination,
      |  a.n_train_docs
      |FROM agg a JOIN sizes s USING (doc_id)
      |ORDER BY a.doc_id""".stripMargin

  /** Corpus-unigram LM surprisal scoring — the language-model quality
    * filter of the CCNet/Gopher lineage, with the LM trained on the
    * corpus itself in the same job: one exploded-token pass builds the
    * unigram table, p(w) is Laplace-smoothed ((cnt+1)/(N+V)), and each
    * document is scored by its mean token log-probability (near zero =
    * common fluent tokens; large negative = rare-token soup — the
    * perplexity-filter signal, in log space). Reuses the t11 frame
    * shape: per-(doc, term) tf feeds BOTH the unigram table (sum of
    * tf) and the scoring join, so the corpus is exploded once and the
    * scoring join carries doc×distinct-term rows, never one row per
    * occurrence.
    *
    * Determinism (the t11 ln pin, extended to a weighted mean): the
    * per-term logprob rounds to 9 decimals — coarser than cross-engine
    * `ln` ulp drift, far finer than real probability gaps — the
    * tf-weighted sum runs in exact decimal(18,9) (order-proof across
    * partitionings), surfaces through the decimal→string→double hop
    * ([[graft.functions.DecimalSums.asDouble]]), and the mean rounds
    * to 6.
    *
    * Scale (100 TB): one exploded-token shuffle to (doc, term), one
    * term-keyed shuffle for the unigram table, one term equi-join (the
    * posting-list shape), and a 1-row (N, V) broadcast. No all-pairs
    * anywhere; the vocabulary stays distributed — never collected,
    * never broadcast. */
  def lmLogprob(docs: DataFrame): DataFrame = {
    import graft.functions.DecimalSums
    val D9 = org.apache.spark.sql.types.DecimalType(18, 9)
    val tf = docs
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val uni = tf.groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
    val stats = uni.agg(sum(col("cnt")).as("__n"), count(lit(1)).as("__v"))
    tf.join(uni, Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("lp", round(
        log((col("cnt") + 1).cast(DoubleType) /
          (col("__n") + col("__v")).cast(DoubleType)), 9))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).as("tok_count"),
        round(
          DecimalSums.asDouble(sum((col("tf") * col("lp")).cast(D9))) /
            sum(col("tf")).cast(DoubleType), 6).as("avg_logprob"))
      .orderBy(col("doc_id"))
  }

  /** t16 — mean unigram log-probability per document, corpus-trained. */
  def t16LmLogprob(spark: SparkSession, dir: String): DataFrame =
    lmLogprob(Tables.documents(spark, dir))

  /** DuckDB twin of t16: identical smoothing, identical round-9 ln
    * pin, identical decimal(18,9) weighted sum and string-hop. */
  val t16Sql: String =
    """WITH tf AS (
      |  SELECT doc_id, token AS term, COUNT(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |        FROM documents) t
      |  GROUP BY doc_id, token),
      |uni AS (SELECT term, SUM(tf) AS cnt FROM tf GROUP BY term),
      |stats AS (SELECT SUM(cnt) AS n, COUNT(*) AS v FROM uni),
      |lp AS (
      |  SELECT tf.doc_id, tf.tf,
      |         ROUND(LN(CAST(uni.cnt + 1 AS DOUBLE)
      |                  / CAST(stats.n + stats.v AS DOUBLE)), 9) AS lp
      |  FROM tf JOIN uni USING (term) CROSS JOIN stats)
      |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS tok_count,
      |       ROUND(CAST(CAST(SUM(CAST(CAST(tf * lp AS DOUBLE)
      |                                AS DECIMAL(18,9))) AS VARCHAR) AS DOUBLE)
      |             / CAST(SUM(tf) AS DOUBLE), 6) AS avg_logprob
      |FROM lp
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Interpolation weight on the bigram MLE term of t21 — mirrored
    * literally in [[t21Sql]]. */
  val bigramLambda = 0.75

  /** t21 — interpolated BIGRAM LM surprisal (the second-order
    * extension of t16's unigram filter): each in-document bigram (a,b)
    * scores ln(λ·P_MLE(b|a) + (1−λ)·P_Laplace(b)), and a document
    * reports the bigram-weighted mean — the stronger
    * perplexity-quality signal (boilerplate and word-salad separate on
    * SEQUENCE probability even when their unigram mix looks normal).
    *
    * Shape: bigram instances come from one slice/zip projection over
    * the materialized token array (no HOF-lambda recompute, no
    * positional self-join); corpus bigram and unigram tables are
    * partial-aggregated; the per-(a,b) score joins back by equi-key.
    * Everything downstream of the counts is the t16 discipline —
    * round-9 ln, decimal(18,9) weighted sums through the string hop,
    * round-6 mean — so the whole statistic hash-gates. */
  def bigramLogprob(docs: DataFrame): DataFrame = {
    import graft.functions.DecimalSums
    val D9 = org.apache.spark.sql.types.DecimalType(18, 9)
    val toks = docs.select(col("doc_id"), wsTokens(col("text")).as("w"))
    val inst = toks
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("w"), lit(1), size(col("w")) - 1),
        slice(col("w"), lit(2), size(col("w")) - 1))).as("p"))
      .select(col("doc_id"),
        col("p").getField("0").as("a"), col("p").getField("1").as("b"))
    val tf2 = inst.groupBy(col("doc_id"), col("a"), col("b"))
      .agg(count(lit(1)).as("tf"))
    val big = tf2.groupBy(col("a"), col("b")).agg(sum(col("tf")).as("c2"))
    val uni = docs
      .select(explode(wsTokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val stats = uni.agg(sum(col("cnt")).as("__n"), count(lit(1)).as("__v"))
    val scored = big
      .join(uni.select(col("term").as("a"), col("cnt").as("ca")), "a")
      .join(uni.select(col("term").as("b"), col("cnt").as("cb")), "b")
      .crossJoin(broadcast(stats))
      .withColumn("lp", round(log(
        lit(bigramLambda) * (col("c2").cast(DoubleType) / col("ca").cast(DoubleType)) +
          lit(1.0 - bigramLambda) * ((col("cb") + 1).cast(DoubleType) /
            (col("__n") + col("__v")).cast(DoubleType))), 9))
      .select(col("a"), col("b"), col("lp"))
    tf2.join(scored, Seq("a", "b"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).as("bigram_count"),
        round(
          DecimalSums.asDouble(sum((col("tf") * col("lp")).cast(D9))) /
            sum(col("tf")).cast(DoubleType), 6).as("avg_logprob2"))
      .orderBy(col("doc_id"))
  }

  def t21BigramLogprob(spark: SparkSession, dir: String): DataFrame =
    bigramLogprob(Tables.documents(spark, dir))

  /** DuckDB twin of t21: bigrams by positional lateral unnest (the
    * t17 pattern), identical interpolation arithmetic, identical
    * round-9 ln / decimal(18,9) string-hop / round-6 mean. */
  val t21Sql: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |inst AS (
       |  SELECT doc_id, w[j.j] AS a, w[j.j + 1] AS b
       |  FROM w CROSS JOIN LATERAL (SELECT unnest(range(1, len(w))) AS j) j),
       |tf2 AS (
       |  SELECT doc_id, a, b, COUNT(*) AS tf FROM inst GROUP BY 1, 2, 3),
       |big AS (SELECT a, b, SUM(tf) AS c2 FROM tf2 GROUP BY a, b),
       |uni AS (
       |  SELECT token AS term, COUNT(*) AS cnt
       |  FROM (SELECT unnest(string_split(text, ' ')) AS token
       |        FROM documents) t
       |  GROUP BY token),
       |stats AS (SELECT SUM(cnt) AS n, COUNT(*) AS v FROM uni),
       |scored AS (
       |  SELECT big.a, big.b,
       |         ROUND(LN($bigramLambda *
       |                    (CAST(big.c2 AS DOUBLE) / CAST(ua.cnt AS DOUBLE))
       |                  + ${1.0 - bigramLambda} *
       |                    (CAST(ub.cnt + 1 AS DOUBLE)
       |                     / CAST(stats.n + stats.v AS DOUBLE))), 9) AS lp
       |  FROM big JOIN uni ua ON ua.term = big.a
       |           JOIN uni ub ON ub.term = big.b
       |  CROSS JOIN stats)
       |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS bigram_count,
       |       ROUND(CAST(CAST(SUM(CAST(CAST(tf * lp AS DOUBLE)
       |                                AS DECIMAL(18,9))) AS VARCHAR) AS DOUBLE)
       |             / CAST(SUM(tf) AS DOUBLE), 6) AS avg_logprob2
       |FROM tf2 JOIN scored USING (a, b)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // -- BPE merge learning -----------------------------------------------------

  /** Number of BPE merges the t17 gate learns (mirrored in [[t17Sql]]'s
    * generated CTE chain — change both by changing THIS). */
  val bpeMerges = 6

  /** Replace passes per merge: `replace` is left-to-right
    * NON-OVERLAPPING in both engines (Java and DuckDB), and the padded
    * pattern `' l r '` shares its boundary space with a chaining next
    * occurrence (`a b a b` → first match consumes the middle space), so
    * one pass merges only alternate links of a chained run. Repeating
    * the identical replace reaches the fixpoint — every adjacent
    * occurrence merged; 4 passes cover chains far longer than any
    * word in a natural-language vocabulary (pass p resolves chains of
    * ~2^p links), and a FIXED count keeps the two engines' expressions
    * structurally identical. The fixpoint convention (not strict
    * leftmost-greedy: `a a a a a` → `aa a aa`, greedy gives
    * `aa aa a`) is this operator's pinned merge-application semantics,
    * identical on both sides. */
  val bpeReplacePasses = 4

  /** Distributed byte-pair-encoding merge learning — the tokenizer-
    * training step of a training-data pipeline, over word TYPES: one
    * corpus pass builds the (word, freq) vocabulary (the only
    * corpus-sized shuffle), each word becomes its space-joined
    * character sequence, and each of k rounds (a) counts adjacent
    * symbol pairs weighted by word frequency — partial-aggregated
    * map-side, so the shuffle carries (pair, partial-count) rows
    * bounded by distinct pairs × tasks, (b) picks the argmax pair
    * (count desc, pair asc — a total order), (c) applies the merge to
    * every word via [[bpeReplacePasses]] literal `replace` passes.
    *
    * The driver sees exactly ONE row per round (the winning pair) —
    * the classic bounded-collect iterative shape ([[Dedup.dupClusters]]
    * precedent); the vocabulary itself stays distributed end to end,
    * so at 100 TB (word-type tables in the 10⁸ range) nothing changes:
    * per-round cost is two narrow passes + one pair-keyed shuffle of
    * partial aggregates. Each round's frame is localCheckpoint'd: k
    * nested replaces would otherwise stack into one deep codegen
    * expression re-evaluated from raw text per consumer.
    *
    * Returns the learned merge table: (merge_rank, pair, merged,
    * pair_count). */
  def bpeMergeTable(docs: DataFrame,
                    k: Int = bpeMerges): Seq[(Int, String, String, Long)] =
    bpeFit(docs, k)._1

  /** The fit with its post-merge vocabulary exposed: word → final
    * space-separated symbol sequence (what [[t20BpeEncode]] joins the
    * corpus against). Carrying `word` through the rounds changes
    * nothing about the learned sequence — pair counts read only
    * (freq, syms). */
  def bpeFit(docs: DataFrame, k: Int = bpeMerges)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    var vocab = docs
      .select(explode(wsTokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"),
        concat(lit(" "),
          concat_ws(" ", array_remove(split(col("word"), ""), lit(""))),
          lit(" ")).as("syms"))
      .localCheckpoint(true)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (rank <- 1 to k) {
      val best = vocab
        .select(col("freq"), split(trim(col("syms")), " ").as("w"))
        .select(col("freq"), col("w"), posexplode(col("w")).as(Seq("i", "s")))
        .filter(col("i") < size(col("w")) - 1)
        .select(col("freq"),
          concat_ws(" ", col("s"), element_at(col("w"), col("i") + 2)).as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(1).collect()(0)
      val pair = best.getString(0)
      val cnt = best.getLong(1)
      val merged = pair.replace(" ", "")
      merges += ((rank, pair, merged, cnt))
      val applied = (1 to bpeReplacePasses).foldLeft(col("syms")) { (c, _) =>
        call_function("replace", c, lit(s" $pair "), lit(s" $merged "))
      }
      vocab = vocab.select(col("word"), col("freq"), applied.as("syms"))
        .localCheckpoint(true)
    }
    (merges.result(), vocab)
  }

  /** t17 — the first [[bpeMerges]] learned BPE merges over the corpus
    * vocabulary, hash-gated: DuckDB replays the identical rounds as a
    * generated CTE chain, so every pair count, every argmax tie-break,
    * and every replace-fixpoint application is pinned cross-engine. */
  def t17BpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeMergeTable(Tables.documents(spark, dir))
      .toDF("merge_rank", "pair", "merged", "pair_count")
      .orderBy(col("merge_rank"))
  }

  /** Generated DuckDB twin of t17: v{i} is the vocabulary after i
    * merges, p{i}/b{i} the round-i pair counts and winner; the
    * [[bpeReplacePasses]] nested replaces mirror the Spark side
    * structurally. */
  val t17Sql: String = {
    val rounds = (0 until bpeMerges).map { i =>
      val rep = (1 to bpeReplacePasses).foldLeft("syms") { (s, _) =>
        s"replace($s, ' ' || (SELECT pair FROM b$i) || ' ', " +
          s"' ' || (SELECT replace(pair, ' ', '') FROM b$i) || ' ')"
      }
      s"""p$i AS (
         |  SELECT w[j.j] || ' ' || w[j.j+1] AS pair,
         |         CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, string_split(trim(syms), ' ') AS w FROM v$i)
         |  CROSS JOIN LATERAL (SELECT unnest(range(1, len(w))) AS j) j
         |  GROUP BY 1),
         |b$i AS MATERIALIZED (
         |  SELECT pair, cnt FROM p$i ORDER BY cnt DESC, pair LIMIT 1),
         |v${i + 1} AS MATERIALIZED (SELECT freq, $rep AS syms FROM v$i)""".stripMargin
    }
    val out = (0 until bpeMerges).map { i =>
      s"SELECT CAST(${i + 1} AS INT) AS merge_rank, pair, " +
        s"replace(pair, ' ', '') AS merged, cnt AS pair_count FROM b$i"
    }
    s"""WITH v0 AS MATERIALIZED (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS freq,
       |         ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS syms
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  GROUP BY word),
       |${rounds.mkString(",\n")}
       |${out.mkString("\nUNION ALL ")}
       |ORDER BY merge_rank""".stripMargin
  }

  /** t20 — BPE ENCODING: apply the [[bpeMerges]] learned merges to the
    * whole corpus and report each document's post-BPE token count —
    * the tokenizer-application step that turns t17's learned merge
    * table into the number every training-data budget actually uses
    * (sequence packing, cost estimates, token-per-word compression).
    *
    * Shape: the merge application happens on the word-TYPE table (the
    * t17 frame — vocabulary-sized, not corpus-sized), each type's
    * encoded length is one `size(split())`, and the corpus pass is a
    * single explode + equi-join of token instances against that
    * vocabulary (broadcast-sized in practice; a shuffle join at worst)
    * + one doc-keyed partial-aggregated count/sum. Linear in corpus
    * tokens, independent of how many merges were learned.
    *
    * Hash-gated: DuckDB re-learns the merges through the identical
    * t17 chain (same argmax total order, same replace-fixpoint
    * passes), re-encodes every word type, and recounts every document
    * — so every learned merge AND every document's token arithmetic
    * is pinned cross-engine. */
  def t20BpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val enc = bpeFit(docs)._2
      .select(col("word"), size(split(trim(col("syms")), " ")).as("n_sym"))
    docs
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("word"))
      .join(enc, "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sym").cast("long")).as("n_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_tokens"),
        round(col("n_tokens").cast("double") /
          col("n_words").cast("double"), 6).as("tok_per_word_r"))
      .orderBy(col("doc_id"))
  }

  /** Generated DuckDB twin of t20: the t17 learning chain with `word`
    * carried through, then per-type encoded lengths joined back to the
    * exploded corpus. */
  val t20Sql: String = {
    val rounds = (0 until bpeMerges).map { i =>
      val rep = (1 to bpeReplacePasses).foldLeft("syms") { (s, _) =>
        s"replace($s, ' ' || (SELECT pair FROM b$i) || ' ', " +
          s"' ' || (SELECT replace(pair, ' ', '') FROM b$i) || ' ')"
      }
      s"""p$i AS (
         |  SELECT w[j.j] || ' ' || w[j.j+1] AS pair,
         |         CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, string_split(trim(syms), ' ') AS w FROM v$i)
         |  CROSS JOIN LATERAL (SELECT unnest(range(1, len(w))) AS j) j
         |  GROUP BY 1),
         |b$i AS MATERIALIZED (
         |  SELECT pair, cnt FROM p$i ORDER BY cnt DESC, pair LIMIT 1),
         |v${i + 1} AS MATERIALIZED (
         |  SELECT word, freq, $rep AS syms FROM v$i)""".stripMargin
    }
    s"""WITH v0 AS MATERIALIZED (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
       |         ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS syms
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  GROUP BY word),
       |${rounds.mkString(",\n")},
       |enc AS (
       |  SELECT word, len(string_split(trim(syms), ' ')) AS n_sym
       |  FROM v$bpeMerges),
       |inst AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |  FROM documents)
       |SELECT i.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |       CAST(SUM(e.n_sym) AS BIGINT) AS n_tokens,
       |       ROUND(CAST(SUM(e.n_sym) AS DOUBLE) /
       |             CAST(COUNT(*) AS DOUBLE), 6) AS tok_per_word_r
       |FROM inst i JOIN enc e USING (word)
       |GROUP BY i.doc_id
       |ORDER BY i.doc_id""".stripMargin
  }

  // -- sub-document block dedup ----------------------------------------------

  /** Sub-document (block-level) duplication scan — the RefinedWeb/CCNet
    * "line-level dedup" adapted to a newline-free corpus: each document
    * splits into consecutive `blockTokens`-token blocks, a block is
    * duplicated if the SAME token content appears in ≥2 documents
    * (xxhash64 of the joined block — same 64-bit collision argument as
    * [[Dedup.docShingles]]), and each document reports how much of it
    * is such shared boilerplate. This catches templated spans inside
    * otherwise-distinct documents — material whole-doc dedup (d01) and
    * near-dup pairing (d02+) both structurally miss.
    *
    * Scale: one explode to (doc, block-hash) — ~n_tokens/blockTokens
    * rows per doc, 16 B each after hashing — one block-keyed count
    * (partial-aggregated), one equi-join back. No pair enumeration
    * anywhere: cost is linear in corpus tokens regardless of how hot a
    * block is, which is why this is the FIRST pass a 100 TB pipeline
    * runs (cheap, linear) before the quadratic-prone near-dup stages. */
  def blockDedup(docs: DataFrame, blockTokens: Int = 20): DataFrame = {
    val blocks = docs
      .select(col("doc_id"), wsTokens(col("text")).as("toks"))
      .select(col("doc_id"), posexplode(
        transform(
          sequence(lit(0),
            floor((size(col("toks")) - 1) / lit(blockTokens)).cast("int")),
          i => concat_ws(" ",
            slice(col("toks"), i * blockTokens + 1, lit(blockTokens)))))
        .as(Seq("block_no", "block")))
      .select(col("doc_id"), col("block_no"), xxhash64(col("block")).as("bh"))
    val df = blocks.groupBy(col("bh"))
      .agg(countDistinct(col("doc_id")).as("bdf"))
    blocks.join(df, Seq("bh"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_blocks"),
        count(when(col("bdf") > 1, 1)).as("n_dup_blocks"))
      .select(col("doc_id"), col("n_blocks"), col("n_dup_blocks"),
        round(col("n_dup_blocks").cast(DoubleType) /
          col("n_blocks").cast(DoubleType), 6).as("dup_block_frac"))
      .orderBy(col("doc_id"))
  }

  /** t18 — 20-token block duplication per document, hash-gated (DuckDB
    * reproduces the block content; the 64-bit hash never surfaces). */
  def t18BlockDedup(spark: SparkSession, dir: String): DataFrame =
    blockDedup(Tables.documents(spark, dir))

  // block slicing mirrored: block i = tokens [i*20+1, i*20+20], with a
  // ragged final block (slice stops at the array end on both engines)
  val t18Sql: String =
    """WITH b AS (
      |  SELECT doc_id, i.i AS block_no,
      |         array_to_string(w[i.i * 20 + 1 : i.i * 20 + 20], ' ') AS block
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |  CROSS JOIN LATERAL (
      |    SELECT unnest(range(0, (len(w) - 1) // 20 + 1)) AS i) i),
      |df AS (SELECT block, COUNT(DISTINCT doc_id) AS bdf FROM b GROUP BY block)
      |SELECT doc_id,
      |  COUNT(*) AS n_blocks,
      |  CAST(COALESCE(SUM(CASE WHEN bdf > 1 THEN 1 END), 0) AS BIGINT)
      |    AS n_dup_blocks,
      |  ROUND(CAST(COALESCE(SUM(CASE WHEN bdf > 1 THEN 1 END), 0) AS DOUBLE)
      |        / CAST(COUNT(*) AS DOUBLE), 6) AS dup_block_frac
      |FROM b JOIN df USING (block)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // -- vocabulary growth ------------------------------------------------------

  /** t19 — vocabulary-growth (Heaps-law) report over 3-GRAM types:
    * ingest the corpus in doc-id order, split it into 20 equal
    * id-ranges, and report per bucket how many NEVER-SEEN-BEFORE
    * trigram types debut and the cumulative type inventory — the
    * corpus-health curve that tells a crawl whether new data still
    * brings new language or just recombinations of the old (a plateau
    * = diminishing returns; the signal behind data-selection decisions
    * at 100 TB). Trigram types, not unigrams: this corpus' word
    * vocabulary saturates in the first bucket, while its n-gram
    * inventory keeps growing the way real text's does (the measured
    * curve decays ~1283 → 425 debuts across 20 buckets at sf0.01).
    *
    * "First seen" is an aggregate, not a scan-order dependence: a
    * type's debut bucket is bucket(min doc_id containing it) — one
    * exploded-shingle pass, one type-keyed min over the 8-byte hashed
    * gram, one grouped count, and a 20-row window for the
    * running total. All integers; the hash never surfaces (the oracle
    * uses the raw gram — the d02 collision argument). */
  def vocabGrowth(docs: DataFrame): DataFrame = {
    val buckets = 20
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val span = maxId / buckets + 1 // ids 0..maxId → buckets 0..buckets-1
    val debut = Dedup.docShingles(docs)
      .groupBy(col("shingle")).agg(min(col("doc_id")).as("first_id"))
      .select(expr(s"first_id DIV $span").as("bucket"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    debut.groupBy(col("bucket"))
      .agg(count(lit(1)).as("new_terms"))
      .withColumn("cum_vocab", sum(col("new_terms")).over(w).cast("long"))
      .orderBy(col("bucket"))
  }

  def t19VocabGrowth(spark: SparkSession, dir: String): DataFrame =
    vocabGrowth(Tables.documents(spark, dir))

  val t19Sql: String =
    s"""WITH mx AS (SELECT MAX(doc_id) // 20 + 1 AS span FROM documents),
      |sh AS (
      |  ${Dedup.sqlShingles("documents")}),
      |debut AS (
      |  SELECT shingle, MIN(doc_id) AS first_id FROM sh GROUP BY shingle),
      |b AS (
      |  SELECT CAST(first_id // (SELECT span FROM mx) AS BIGINT) AS bucket,
      |         CAST(COUNT(*) AS BIGINT) AS new_terms
      |  FROM debut GROUP BY 1)
      |SELECT bucket, new_terms,
      |  CAST(SUM(new_terms) OVER (ORDER BY bucket
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_vocab
      |FROM b
      |ORDER BY bucket""".stripMargin

  /** Minimum bigram support of the t22 gate — below this PMI is noise
    * (mirrored literally in [[t22Sql]]). */
  val pmiMinCount = 25

  /** t22 — collocation mining by pointwise mutual information:
    * PMI(a,b) = ln( c(ab)·N / (c(a)·c(b)) ) over adjacent-token
    * bigrams, support-filtered, top-50. Three passes over the exploded
    * token stream (unigram counts, bigram counts, one scalar slot
    * total) joined on the term — every count an exact integer, the
    * single ln applied to an identically-formed double quotient in
    * both engines (the t16/t21 round-6 convention), so the gate
    * hash-matches. At 100 TB this is the d02 posting-list profile:
    * counts shuffle on the term, never the corpus; the support filter
    * runs BEFORE the unigram joins so only collocation-grade bigrams
    * ever reach a join. */
  def t22PmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(wsTokens(col("text")).as("toks"))
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val nSlots = toks.agg(
      sum(greatest(size(col("toks")) - 1, lit(0))).as("nslots"))
    val bi = toks.select(explode(bigramsAll(col("toks"))).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= pmiMinCount)
      .withColumn("parts", split(col("b"), " "))
      .select(col("parts").getItem(0).as("w1"),
        col("parts").getItem(1).as("w2"), col("cab"))
    bi
      .join(uni.select(col("w").as("w1"), col("cw").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("cw").as("c2")), "w2")
      .crossJoin(broadcast(nSlots))
      .select(col("w1"), col("w2"), col("cab"),
        round(log((col("cab") * col("nslots")).cast(DoubleType) /
          (col("c1") * col("c2")).cast(DoubleType)), 6).as("pmi_r"))
      .orderBy(col("pmi_r").desc, col("w1"), col("w2"))
      .limit(50)
  }

  /** DuckDB twin of t22: positional lateral unnest bigrams (the t21
    * pattern), identical integer products and round-6 ln. */
  val t22Sql: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |inst AS (
       |  SELECT w[j.j] AS w1, w[j.j + 1] AS w2
       |  FROM w CROSS JOIN LATERAL (SELECT unnest(range(1, len(w))) AS j) j),
       |big AS (
       |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cab
       |  FROM inst GROUP BY 1, 2
       |  HAVING COUNT(*) >= $pmiMinCount),
       |uni AS (
       |  SELECT token AS term, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(string_split(text, ' ')) AS token
       |        FROM documents) t
       |  GROUP BY token),
       |n AS (
       |  SELECT CAST(SUM(CASE WHEN len(w) >= 2 THEN len(w) - 1
       |                       ELSE 0 END) AS BIGINT) AS nslots FROM w)
       |SELECT w1, w2, cab,
       |  ROUND(LN(CAST(cab * nslots AS DOUBLE)
       |           / CAST(ua.cnt * ub.cnt AS DOUBLE)), 6) AS pmi_r
       |FROM big JOIN uni ua ON ua.term = w1
       |         JOIN uni ub ON ub.term = w2
       |CROSS JOIN n
       |ORDER BY pmi_r DESC, w1, w2
       |LIMIT 50""".stripMargin

  /** Rank depth of the t23 Zipf fit (mirrored in [[t23Sql]]). */
  val zipfRanks = 200

  /** t23 — Zipf/power-law fit of the token rank-frequency curve: least
    * squares of ln(freq) on ln(rank) over the top-[[zipfRanks]] tokens
    * (slope ≈ −1 on natural language; a corpus-health signal — a flat
    * slope means boilerplate, a cliff means template spam). Top ranks
    * come from orderBy+limit (TakeOrdered — no global window over the
    * vocabulary); the rank window then runs over ≤[[zipfRanks]] rows,
    * bounded by declaration. The regression runs on round-9 ln inputs
    * with EXACT decimal moment sums (the q28 discipline: decimal →
    * string-hop → one fixed IEEE sequence), so slope/intercept/r² are
    * hash-gated, not toleranced. */
  def t23ZipfFit(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.DecimalSums.{asDouble, mdec}
    val top = Tables.documents(spark, dir)
      .select(explode(wsTokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w")).limit(zipfRanks)
    val ranked = top.withColumn("rk",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("w"))))
    val xy = ranked.select(
      round(log(col("rk").cast(DoubleType)), 9).as("x"),
      round(log(col("cnt").cast(DoubleType)), 9).as("y"))
    val mom = xy.agg(
      count(lit(1)).as("n"),
      sum(mdec(col("x"))).as("sx"), sum(mdec(col("y"))).as("sy"),
      sum(mdec(col("x") * col("y"))).as("sxy"),
      sum(mdec(col("x") * col("x"))).as("sxx"),
      sum(mdec(col("y") * col("y"))).as("syy"))
    val d = mom.select(col("n"), col("n").cast(DoubleType).as("nd"),
      asDouble(col("sx")).as("dsx"), asDouble(col("sy")).as("dsy"),
      asDouble(col("sxy")).as("dsxy"), asDouble(col("sxx")).as("dsxx"),
      asDouble(col("syy")).as("dsyy"))
    val num = col("nd") * col("dsxy") - col("dsx") * col("dsy")
    val den = col("nd") * col("dsxx") - col("dsx") * col("dsx")
    val slope = num / den
    d.select(
      col("n").as("n_ranks"),
      round(slope, 6).as("slope_r"),
      round((col("dsy") - slope * col("dsx")) / col("nd"), 6)
        .as("intercept_r"),
      round(num * num /
        (den * (col("nd") * col("dsyy") - col("dsy") * col("dsy"))), 6)
        .as("r2_r"))
  }

  /** DuckDB twin of t23: same TakeOrdered → rank → round-9 ln →
    * decimal moments → identical IEEE expression trees. */
  val t23Sql: String = {
    import graft.functions.DecimalSums.{sqlAsDouble, sqlMdec}
    s"""WITH tf AS (
       |  SELECT token AS w, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(string_split(text, ' ')) AS token
       |        FROM documents) t
       |  GROUP BY token),
       |top AS (SELECT w, cnt FROM tf ORDER BY cnt DESC, w LIMIT $zipfRanks),
       |rk AS (SELECT cnt,
       |         ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS rk FROM top),
       |xy AS (SELECT ROUND(LN(CAST(rk AS DOUBLE)), 9) AS x,
       |              ROUND(LN(CAST(cnt AS DOUBLE)), 9) AS y FROM rk),
       |mom AS (
       |  SELECT COUNT(*) AS n,
       |    SUM(${sqlMdec("x")}) AS sx, SUM(${sqlMdec("y")}) AS sy,
       |    SUM(${sqlMdec("x * y")}) AS sxy,
       |    SUM(${sqlMdec("x * x")}) AS sxx,
       |    SUM(${sqlMdec("y * y")}) AS syy
       |  FROM xy),
       |d AS (
       |  SELECT n, CAST(n AS DOUBLE) AS nd,
       |    ${sqlAsDouble("sx")} AS dsx, ${sqlAsDouble("sy")} AS dsy,
       |    ${sqlAsDouble("sxy")} AS dsxy, ${sqlAsDouble("sxx")} AS dsxx,
       |    ${sqlAsDouble("syy")} AS dsyy
       |  FROM mom)
       |SELECT n AS n_ranks,
       |  ROUND((nd * dsxy - dsx * dsy) / (nd * dsxx - dsx * dsx), 6)
       |    AS slope_r,
       |  ROUND((dsy - ((nd * dsxy - dsx * dsy) / (nd * dsxx - dsx * dsx))
       |         * dsx) / nd, 6) AS intercept_r,
       |  ROUND((nd * dsxy - dsx * dsy) * (nd * dsxy - dsx * dsy) /
       |        ((nd * dsxx - dsx * dsx) * (nd * dsyy - dsy * dsy)), 6)
       |    AS r2_r
       |FROM d""".stripMargin
  }

  /** Weights of the t24 linear quality model (mirrored in [[t24Sql]]):
    * a fixed, published-weight stand-in for the distilled quality
    * classifier (fasttext-style) a CCNet/RefinedWeb-class pipeline runs
    * over every document — batch MODEL INFERENCE as an engine stage.
    * Shapes the judgment the way those filters do: stopword density up,
    * word-length plausibility up, digit spam down, a saturating length
    * prior up. */
  val t24Bias = -1.2
  val t24KeepThreshold = 0.15

  /** t24 — batch model inference: score every document with the
    * fixed-weight linear quality classifier and a SOFTSIGN squash
    * (raw/(1+|raw|)) — deliberately rational arithmetic: a sigmoid's
    * exp() is a transcendental whose last-ulp rounding differs between
    * libm implementations, while +,×,÷,| | are IEEE-exact in BOTH
    * engines, so the scores (and the keep decision at the threshold)
    * are bit-identical and the gate can hash them with NO rounding
    * convention. Features reuse t02's hash-proven expressions; the
    * length prior is the rational n/(n+500), not log(n), for the same
    * reason. One projection, no shuffle until the gate's ORDER BY —
    * model inference at 100 TB is a map. */
  def t24QualityModel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val nd = col("n_chars").cast(DoubleType)
    val raw = lit(t24Bias) +
      lit(3.0) * stopwordRatio(col("text")) +
      lit(1.5) * least(avgTokenLen(col("text")) / lit(10.0), lit(1.0)) -
      lit(2.0) * digitRatio(col("text")) +
      lit(0.8) * (nd / (nd + lit(500.0)))
    Tables.documents(spark, dir)
      .withColumn("__raw", raw)
      .select(col("doc_id"),
        (col("__raw") / (lit(1.0) + abs(col("__raw")))).as("model_score"),
        ((col("__raw") / (lit(1.0) + abs(col("__raw")))) >=
          lit(t24KeepThreshold)).as("keep"))
      .orderBy(col("doc_id"))
      .limit(1000)
  }

  val t24Sql: String =
    s"""WITH f AS (
       |  SELECT doc_id,
       |    $t24Bias + 3.0 * ($sqlStopCnt / $sqlNTok)
       |      + 1.5 * least(($sqlAvgTokLen) / 10.0, 1.0)
       |      - 2.0 * ($sqlDigitRatio)
       |      + 0.8 * (CAST(n_chars AS DOUBLE)
       |               / (CAST(n_chars AS DOUBLE) + 500.0)) AS raw
       |  FROM documents)
       |SELECT doc_id,
       |  raw / (1.0 + abs(raw)) AS model_score,
       |  raw / (1.0 + abs(raw)) >= $t24KeepThreshold AS keep
       |FROM f
       |ORDER BY doc_id
       |LIMIT 1000""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t24_quality_model"    -> t24QualityModel _,
    "t23_zipf_fit"         -> t23ZipfFit _,
    "t22_pmi_collocations" -> t22PmiCollocations _,
    "t14_pii_redaction"   -> t14PiiRedaction _,
    "t13_decontamination" -> t13Decontamination _,
    "t15_decontamination_capped" -> t15DecontaminationCapped _,
    "t12_sequence_pack"  -> t12SequencePack _,
    "t01_token_stats"    -> t01TokenStats _,
    "t02_quality_scores" -> t02QualityScores _,
    "t03_lang_id"        -> t03LangId _,
    "t04_fingerprints"   -> t04Fingerprints _,
    "t05_lang_profile"   -> t05LangProfile _,
    "t06_poly_fingerprints" -> t06PolyFingerprints _,
    "t07_scrub"          -> t07Scrub _,
    "t08_repetition"     -> t08Repetition _,
    "t09_token_topk"     -> t09TokenTopK _,
    "t10_cms_estimates"  -> t10CmsTopkEstimates _,
    "t11_tfidf_topterms" -> t11TfidfTopTerms _,
    "t16_lm_logprob"     -> t16LmLogprob _,
    "t17_bpe_merges"     -> t17BpeMerges _,
    "t20_bpe_encode"     -> t20BpeEncode _,
    "t21_bigram_logprob" -> t21BigramLogprob _,
    "t18_block_dedup"    -> t18BlockDedup _,
    "t19_vocab_growth"   -> t19VocabGrowth _,
    "t25_chunk_windows"  -> t25ChunkWindows _,
  )

  val oracles: Map[String, String] = Map(
    "t24_quality_model"    -> t24Sql,
    "t23_zipf_fit"         -> t23Sql,
    "t22_pmi_collocations" -> t22Sql,
    "t14_pii_redaction"   -> t14Sql,
    "t13_decontamination" -> t13Sql,
    "t15_decontamination_capped" -> t13Sql, // cap must lose no contaminated gram

    "t12_sequence_pack"  -> t12Sql,
    "t01_token_stats"    -> t01Sql,
    "t02_quality_scores" -> t02Sql,
    "t03_lang_id"        -> t03Sql,
    "t04_fingerprints"   -> t04Sql,
    "t05_lang_profile"   -> t05Sql,
    "t07_scrub"          -> t07Sql,
    "t08_repetition"     -> t08Sql,
    "t09_token_topk"     -> t09Sql,
    "t11_tfidf_topterms" -> t11Sql,
    "t16_lm_logprob"     -> t16Sql,
    "t17_bpe_merges"     -> t17Sql,
    "t20_bpe_encode"     -> t20Sql,
    "t21_bigram_logprob" -> t21Sql,
    "t18_block_dedup"    -> t18Sql,
    "t19_vocab_growth"   -> t19Sql,
    "t25_chunk_windows"  -> t25Sql,
    // rows-only by design (no DuckDB twin exists):
    //  - t06: fingerprints come from our codegen'd polynomial RollingHash
    //    expression; DuckDB has no equivalent hash family, and mirroring
    //    the constants in SQL would re-implement the operator, not check
    //    it. Semantics pinned in RollingHashSpec (closed-form values).
    //  - t10: the count-min sketch is engine-specific state; its
    //    guarantee is est >= exact with bounded overshoot, which is an
    //    inequality, not an equality a hash gate can express. The bound
    //    is pinned against the exact counts in TextAnalysisSpec.
  )
}
