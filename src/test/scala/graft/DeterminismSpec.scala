package graft

/** Partitioning-independence pins for the round-3 gate additions: the
  * driver's hash gate compares one run's bytes, so any
  * partition-order-dependent result would pass locally and flake
  * cross-run. Digesting under two shuffle widths catches the classic
  * causes (double summation order, unstable ranks, hash-collision
  * order) at toy scale. (The pre-existing catalog was verified 32-vs-8
  * via full Verify runs in round 2; streaming is replay-pinned
  * separately.) */
class DeterminismSpec extends SparkSpec {

  private val roundThree = Seq(
    "q29_bloom_pruned_join", "q30_hll_distinct_rollup", "q31_zorder_curve",
    "v11_busy_window_stats", "s06_knn_quantized", "p03_data_profile",
    "t11_tfidf_topterms", "d10_incremental_dedup")

  private val roundFive = Seq(
    "m03_decode_profile", "m06_pixel_resize", "p04_hash_split",
    "p05_approx_profile", "p06_source_mix", "t12_sequence_pack",
    "t13_decontamination", "t14_pii_redaction", "d11_minhash_capped",
    "d12_semantic_dedup", "p07_shuffle_shards", "q32_cube_revenue",
    "q33_salted_flag_stats", "q34_salted_brand_revenue",
    "q35_grouping_sets_revenue", "q36_order_value_quartiles", "s07_knn_ivfsq")

  private def pinWidths(names: Seq[String]): Unit =
    names.foreach { name =>
      val q = SparkEntry.queries(name)
      def at(width: String) = GraftSession.withConf(spark)(
        "spark.sql.shuffle.partitions" -> width)(digest(q(spark, sf)))
      val a = at("4")
      val b = at("7")
      assert(a == b, s"$name digest diverges across shuffle widths")
    }

  test("round-3 queries digest identically under different shuffle widths") {
    pinWidths(roundThree)
  }

  test("round-4/5 queries digest identically under different shuffle widths") {
    pinWidths(roundFive)
  }

  private val roundSix = Seq(
    "d13_semantic_dedup_lsh", "t15_decontamination_capped",
    "p08_stratified_split", "w03_quality_audit", "s08_hybrid_knn",
    "q37_above_nation_avg")

  test("round-6 queries digest identically under different shuffle widths") {
    pinWidths(roundSix)
  }

  // round 9: the new gate queries (v30 is a streaming runner —
  // replay-pinned separately, the v18 convention) plus d14, whose
  // quantizer (two-level, hierarchical assignment) and survivor
  // clustering (starContract) both changed this round
  private val roundNine = Seq(
    "s15_mutual_knn_ivf", "s16_contrastive_bucketed",
    "x06_star_components", "g24_dsv2_roundtrip",
    "d14_semantic_dedup_ivf", "t24_quality_model")

  test("round-9 queries digest identically under different shuffle widths") {
    pinWidths(roundNine)
  }

  // round 10: the quantile-sketch rollup (merge-order invariance is its
  // whole reason to exist) and the bucketed-edge pagerank gate
  private val roundTen = Seq("q40_quantile_rollup", "x07_pagerank_bucketed",
    "g25_hbase_put_batch", "w08_sketch_rollup")

  test("round-10 queries digest identically under different shuffle widths") {
    pinWidths(roundTen)
  }

  // round 10 tail: zone-map skipping (repartitionByRange(16) fixes the
  // file layout regardless of session width, and pruning must be
  // invisible either way), k-core (observed-count convergence must not
  // depend on partitioning), persisted IVF (fit + parquet round trip).
  // v31/v32 are streaming runners — replay-pinned separately.
  private val roundTenTail = Seq("w09_zone_map_skipping", "x08_kcore",
    "s17_knn_ivf_persisted", "d16_semantic_decontam")

  test("round-10-tail queries digest identically under different shuffle widths") {
    pinWidths(roundTenTail)
  }

  // round 13: the multimodal pairings (band join + distinct + Hamming
  // verify must not depend on partitioning) and the OR-dial mutual
  // graph (two fits + candidate union + mutual filter)
  private val roundThirteen = Seq("m10_image_neardup", "m11_audio_neardup",
    "s21_mutual_knn_ordial")

  test("round-13 queries digest identically under different shuffle widths") {
    pinWidths(roundThirteen)
  }
}
