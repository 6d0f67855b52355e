package graft

import org.scalatest.funsuite.AnyFunSuite

/** Layout invariance — the generic 100 TB readiness claim, asserted:
  * a declared query's CONTENT must not depend on how the engine happens
  * to partition the work. Each sampled query runs under the default
  * test layout and again under a hostile one (prime shuffle width,
  * file splits forced tiny), and the row multisets must match exactly.
  *
  * The sample is chosen for layout sensitivity, not convenience: the
  * two-phase prefix machinery (q120/q121 — range partitions + driver
  * offsets), partition-id-keyed local phases (q127's _pid skyline
  * prune), driver-side refinement state (q113/q133), per-partition
  * lambda work behind repartitions (q83/q143), sketch merges whose
  * partial states form differently per layout (q137/q138), typed
  * TopK folds whose cap order must be merge-invariant (q92/q142), and
  * the warm-start drift audit's collect (q136).
  *
  * Multiset comparison, not ordered: the ORDER contract is the DuckDB
  * oracle's business (hash compare); invariance here claims the
  * CONTENT is layout-independent.
  */
class LayoutInvarianceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private val sample = Seq(
    "q83_cdc_dedup",
    "q92_stratified_exact_k",
    "q113_exact_median",
    "q120_sorted_neighborhood",
    "q121_budget_select",
    "q127_skyline",
    "q133_grouped_quantiles",
    "q136_centroid_drift",
    "q137_hll_merge",
    "q138_cms_merge",
    "q140_token_drift",
    "q141_hist_quantile_merge",
    "q142_weighted_sample",
    "q143_repeated_spans",
    // round-9 widening: CC-labeled split assignment (iterate-
    // materialize rounds + md5 buckets) and the skew report's
    // refinement-path quantiles over a pinned counts table
    "q147_split_leakage",
    "q155_skew_report",
    // round-9 continuation: two-phase global ranks feeding OLS terms
    // (q171) and a rank-keyed join (q186), multi-selection refinement
    // cuts (q168 global, q185 ×12), and the post-repartition
    // quantize-digest lambda (q180 — the q83/q143 shape)
    "q168_mad_outliers",
    "q171_zipf_fit",
    "q180_embed_dedup",
    "q185_rfm_scores",
    "q186_quantile_normalize",
    // round-10 continuation: the new rank/prefix family — doubled-avg-
    // rank statistics (q231/q236), weighted-median and Gini group
    // offsets (q242/q244), the KM/log-rank distinct-duration walks
    // (q247/q248), the two-period rank join (q250), and the session
    // sweep whose rn-keyed self-join must see identical range
    // boundaries on both passes (q253)
    "q231_mann_whitney",
    "q236_spearman",
    "q242_weighted_median",
    "q244_gini_concentration",
    "q247_kaplan_meier",
    "q248_logrank",
    "q250_rank_movers",
    "q253_littles_law",
    // round-12 widening: the classifier's exact-double-sum order-
    // independence claim (q334), next-fit binning on the two-phase
    // running sum with a data-derived driver scalar (q335), and the
    // t-closeness dense grid whose cumsums must not see layout (q338)
    "q334_quality_classifier",
    "q335_compaction_plan",
    "q338_t_closeness",
    // round-12 second batch: the grid ε-join + core-subgraph CC
    // labels (q345), three iterate-materialize loops whose per-round
    // argmax/min elections must not see partitioning — farthest-point
    // (q346), greedy cover (q347), and Borůvka min-edge rounds (q348)
    "q345_dbscan_grid",
    "q346_kcenter_coreset",
    "q347_source_cover",
    "q348_mst_clusters",
    // KN's count-of-counts model and the ablation's moment sums must
    // be exact (DECIMAL / BIGINT) and so layout-blind
    "q349_kn_perplexity",
    "q350_source_ablation",
    // the whitening factorization is driver-side from round@9 cells;
    // both corpus scans are order-independent DECIMAL sums
    "q351_embed_whitening",
    // round-14: the contraction CC's merge elections + compression
    // fixpoints, the condensed tree's k-pass resolutions, and the
    // per-point attachment min — every step must elect identical
    // minima under any partitioning
    "q353_dendrogram_cut",
    "q358_hdbscan",
    "q359_glosh_outliers",
    // the per-doc suffix arrays and longest repeats read the global
    // suffix order through per-doc windows and the rung jump
    "q366_suffix_array",
    "q367_longest_repeat",
    // round-16: the distributed dense rank behind the global suffix
    // order (range repartition + per-partition dense_rank + driver
    // offset prefix sum) must elect the identical ranks — and so the
    // identical argmax pair — under any partition count/width
    "q374_cross_doc_repeat",
    // and the matching statistics stack the order index + running-sum
    // two-phase primitives on top of it
    "q375_cross_doc_coverage",
    // KNN-Shapley's per-query ranks and exact-decimal reverse cumsum
    // ride the same primitives — values must not see partitioning
    "q376_knn_shapley",
    // round-17: span removal's keep-first election (min struct per
    // exact window text) + the per-doc dense-position cover window
    // behind a repartition, and the rebuilt text itself, must not see
    // layout; the selection gate stacks BOTH two-phase running sums
    // (token prefix + exact-decimal value prefix) on the cached
    // valuation
    "q378_span_removal",
    "q379_value_select")

  private def contents(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sf).collect()
      .map(_.toString).sorted.toSeq

  test("query content is identical under a hostile partition layout") {
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val prevSplit = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val baseline = sample.map(q => q -> contents(q)).toMap
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
      sample.foreach { q =>
        assert(contents(q) == baseline(q),
          s"$q content changed under 7 shuffle partitions / 16 KB splits")
      }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      spark.conf.set("spark.sql.files.maxPartitionBytes", prevSplit)
    }
  }
}
