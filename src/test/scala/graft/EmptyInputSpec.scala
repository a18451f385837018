package graft

import org.scalatest.funsuite.AnyFunSuite

/** Degenerate-input robustness: representative operators from each
  * family must return EMPTY results (not throw) when every table is
  * empty — the first thing that happens in production when a partition
  * or date-range filter matches nothing upstream.
  */
class EmptyInputSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  /** Same schemas as the real testdata, zero rows. */
  private lazy val emptyDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_empty").toString
    Tables.names.foreach { n =>
      Tables(spark, TestSpark.sf, n).limit(0)
        .write.mode("overwrite").parquet(s"$dir/$n.parquet")
    }
    dir
  }

  private val representative = Seq(
    "q1_pricing_summary",   // scan + agg
    "q5_region_revenue",    // star join
    "sessionize",           // window cumsum
    "dedup_minhash_lsh",    // LSH banding self-join
    "dedup_exact",          // hash groupBy
    "ann_bruteforce",       // broadcast query set
    "text_stats",           // per-row projection
    "scd2_intervals",       // stacked windows
    "graph_triangles",      // self-join graph build (emits one stats row)
    "events_markov",        // lag pairs
    "orders_backlog",       // sweep line
    "text_inverted_index",  // explode + relative df band
    "q13_custdist",         // outer join + double agg
    "decontaminate_bloom",  // bloom aggregate over empty benchmark
    "text_cms_freq",        // CMS aggregate over empty stream
    "graph_link_prediction",// wedge join on empty edge list
    "events_attribution",   // range-join pairs
    "events_changepoint",   // CUSUM windows
    "mm_phash_dedup",       // signature banding
    "intervals_merge",      // sweep windows
    // round-8 additions (#160-172)
    "text_perplexity",      // bigram LM over empty corpus
    "corpus_quality_buckets", // ntile over empty scores
    "corpus_dsir_weights",  // likelihood ratio, empty target + corpus
    "graph_lpa",            // label propagation on empty edges
    "embed_pca_power",      // power iteration over empty cloud
    "text_bm25",            // retrieval with empty postings AND queries
    "text_quality_classifier", // hashed dot product per empty doc set
    "ann_ivf_pq",           // composite index over empty corpus
    "corpus_temperature_mix", // mixture over zero sources
    "graph_kcore",          // peeling an empty graph
    "text_collocations",    // PMI over empty bigram space
    "ann_hard_negatives",   // label-filtered scan, no vectors
    "split_leakage_safe",   // cluster split of nothing
    // round-9 additions (#174-183)
    "q12_shipmode",         // fact join, empty both sides
    "text_entropy",         // bits arithmetic over no docs
    "quality_ensemble",     // rank fusion of zero signals
    "corpus_epoch_plan",    // plan over zero sources (empty max)
    "ts_acf",               // lag windows over an empty axis
    "dedup_minhash_est",    // calibration with no candidates
    "graph_bfs",            // BFS from an empty landmark set
    "embed_dim_stats",      // order stats of an empty cloud
    "sample_fixed_k",       // top-k of empty strata
    "events_dispersion",    // dispersion over an empty axis
    "ts_cross_corr",        // pair grid over an empty axis
    "text_source_jaccard",  // vocabulary sets of no sources
    "mix_curriculum",       // schedule over zero sources
    "ann_mmr",              // greedy steps over an empty pool
    "dedup_threshold_sweep",// sweep of zero candidates
    "events_user_overlap",  // audiences of no events
    "embed_label_drift",    // halves of an empty cloud
    "text_script_profile",  // char classes of no docs
    "window_rolling_median",// frames over no orders
    "mm_audio_features",    // features of no payloads
    "join_asof_nearest",    // nearest pair over no events
    "dedup_prefix",         // prefix groups of no docs
    "corpus_vocab_growth",  // growth curve of an empty corpus
    "events_active_users",  // rolling distinct over no days
    "graph_modularity",     // scoring an empty partition (1 stats row)
    // round-10 additions (#199-206)
    "graph_closeness",      // BFS from no landmarks
    "text_kneser_ney",      // KN over an empty bigram table
    "text_langid_eval",     // confusion cells of no docs
    "quality_classifier_eval", // 1 stats row of null confusion counts
    "events_forecast_snaive",  // backtest over an empty axis
    "corpus_chunks",        // chunking no docs
    "embed_quantile_clip",  // clip profile of an empty cloud
    "join_interval_overlap",   // overlap join with no sessions/windows
    "join_asof_forward",    // forward window over no events
    "graph_assortativity",  // 1 stats row of null moments
    "graph_degree_stats",   // 1 stats row of null order stats
    "corpus_length_histogram", // buckets of no docs
    "corpus_hapax_rate",    // hapax sets of no sources
    "embed_pq_distortion",  // codebook cells of an empty cloud
    "join_scd2_asof",       // containment join over no intervals
    "events_funnel_strict", // 1 stats row of zero stages
    "quality_signal_corr",  // 1 stats row of null correlations
    "corpus_ngram_coverage",   // coverage of an empty vocabulary
    "text_boilerplate",     // chunk furniture of no docs
    "ts_anomaly_seasonal",  // cells of an empty log
    "orders_repeat_rate",   // loyalty of no purchases
    // round-11 additions (#220-229)
    "events_lifecycle",     // growth accounting of an empty log
    "orders_supplier_leadtime", // lead times of no lines
    "supplier_hhi",         // concentration of no volume
    "orders_basket_profile",    // share window over no buckets
    "events_interarrival",  // gaps of an empty log
    "corpus_novelty",       // chunk types of no docs
    "dedup_source_matrix",  // passage overlap of no sources
    "embed_centroid_sim",   // centroids of an empty cloud
    "ann_probe_dial",       // dial curve with no queries
    "ts_decompose",         // decomposition over an empty axis
    "corpus_dup_profile",   // dup rates of no docs
    "orders_discount_lift", // empty baseline cross join
    "embed_dim_moments",    // moments of an empty cloud
    "graph_hits",           // iterations over an empty edge list
    "quality_calibration",  // deciles of no scores
    "dedup_banding_sweep",  // 3 zero-candidate config rows
    "embed_label_consistency", // kNN graph of an empty cloud
    "corpus_pack_efficiency",  // packing no docs
    "cdc_merge_apply",      // merge of an empty snapshot + empty batch
    "ann_ivf_balance",      // occupancy of no cells
    "mix_achieved_shares",  // epoch plan over no sources
    "decontamination_report", // agreement of two empty flag sets
    "graph_local_clustering", // triangles of an empty graph
    "orders_reorder_interval", // gaps of no purchases
    "window_rolling_slope", // frames over no months
    "agg_weighted_median",  // weighted rank of no lines
    "corpus_length_drift",  // halves of no docs
    "orders_seasonal_index",// months of no orders
    "graph_avg_neighbor_degree", // neighbors in an empty graph
    // round-12 additions (#249-259)
    "q11_important_stock",  // threshold against a null 1-row total
    "q16_parts_supplier",   // distinct pairs of no lines
    "join_asof_tolerance",  // tolerance window over no events
    "ann_filtered",         // label partitions of an empty corpus
    "ann_rerank",           // shortlist of an empty corpus (null maxabs)
    "agg_sketch_union",     // 2 empty-sketch union rows (size 0)
    "events_burstiness",    // gaps of an empty log
    "quality_rule_overlap", // 6 pair rows of null counts
    "ts_cusum",             // cusum over an empty axis
    "events_entropy_rate",  // 1 __rate row of null totals
    "sessions_concurrency", // hours of no sessions
    // round-13 additions (#262-274)
    "audit_key_skew",       // top-5 of no keys
    "events_funnel_latency",// histogram of no conversions
    "orders_hazard_curve",  // life table of no gaps
    "quality_rule_kappa",   // 6 degenerate pair rows (den = 0)
    "ann_graph_search",     // beam from a null entry, no queries
    "mm_shot_boundaries",   // frames of no payloads
    "ts_bollinger_breakout",// bands over an empty axis
    "orders_brand_switch",  // transitions of no orders
    "events_anomaly_iqr",   // quartiles of an empty histogram
    "graph_embeddedness",   // wedges of an empty edge list
    "mm_audio_vad",         // energy of no payloads
    "quality_cascade_plan", // pricing join against zero cells
    "text_vocab_gini",      // 1 row of null sums (empty vocabulary)
    "embed_text_conflict",  // planted class of an empty corpus
    "text_code_detect",     // structural counts of no docs
    "graph_walk_corpus",    // walks from no nodes
    "ann_binary_hamming",   // signatures of an empty corpus
    "embed_matryoshka_eval",// both rankings empty, no queries
    "ts_period_detect",     // arg-max over an empty lag table
    "sample_class_balanced",// rank windows over no classes
    "text_template_coverage", // top-100 of an empty gram space
    "orders_abc_migration", // two empty halves, empty outer join
    // round-14 additions (#284-290)
    "cdc_compact",          // file plan of an empty merged snapshot
    "mm_image_resize",      // real codec over no docs
    "agg_qdigest",          // sketch + exact join over no events
    "parts_skyline",        // frontier of no parts
    "ts_theil_sen",         // pairwise slopes of an empty axis
    "quality_rule_shapley", // coalition values of an empty pattern table
    "mm_image_phash",       // real-pixel signatures of no docs
    "layout_partition_advisor", // grouping sets over no orders
    "layout_skipping_audit",    // min/max stats of no files
    // round-15 additions (#293-299)
    "agg_hll_distinct",     // HLL registers of no shingles
    "cdc_time_travel",      // as-of view of an empty base + log
    "ts_mann_kendall",      // pair signs over an empty daily axis
    "agg_spearman",         // rank moments of no lineitems
    "graph_rich_club",      // degree suffix sums of an empty graph
    "mm_image_hist",        // real codec over no docs
    "events_seq_support",   // witness probe over no streams
    // round-16 additions (#300-306)
    "stats_ks_test",        // CDF sweep of an empty axis
    "stats_mannwhitney",    // global agg: one row of null moments
    "stats_welch_t",        // pair frame of an empty moment table
    "stats_cramers_v",      // global agg: one row of null chi2
    "stats_benford",        // digit histogram of no cents
    "ts_max_drawdown",      // running peak over an empty axis
    "mm_image_edges",       // real codec over no docs
    // round-17 additions (#307-312)
    "stats_anova",          // global agg: one row, null F
    "stats_power_mde",      // pair frame of an empty moment table
    "stats_bootstrap_ci",   // zero resamples, null CI
    "events_cuped",         // user moments of no events
    "quality_fleiss_kappa", // rater agreement over no docs
    "ts_seasonal_strength", // detrend of an empty axis
    "cdc_vacuum_plan",      // segments of an empty log
    // round-18 additions (#314-316)
    "privacy_k_anonymity",  // cells of an empty table
    "privacy_l_diversity",  // diversity of no members
    "sample_neyman",        // allocation over no strata
    "mm_audio_pcm_energy",  // real audio codec over no docs
    "stats_ols_2var",       // singular normal equations, null betas
    "er_fuzzy_link",        // linkage of an empty feed
    // round-19 additions (#320+)
    "layout_footer_audit",  // footer stats of a zero-file write
    "er_golden_record",     // clusters from an empty master + feeds
    "sample_bottomk",       // bottom-k sketch of no events
    "privacy_t_closeness",  // EMD over an empty cell table
    "mm_feature_extract",   // pixels-true features of no assets
    "mm_frame_sample",      // keyframes of no videos
    "layout_zorder_footer", // two zero-file writes, no probes read
    "stats_two_proportion", // empty arms, null z
    "quality_profile",      // 5 profile rows, all stats null
    "quality_constraints",  // 7 checks, null verdicts (can't assert)
    // round-20 additions (#328+)
    "corpus_bpe_encode",    // learn loop exhausts on an empty corpus
    "mix_domains_tokened",  // rates of no sources, empty kept set
    "ann_ivf_incremental",  // frozen centroids of no vectors
    "url_host_rollup",      // host gate over no canonicals
    "layout_rowgroup_scan", // zero-file write, zero surviving groups
    "layout_pruned_scan",   // zero-file write, zero surviving files
    "layout_hilbert_footer", // two zero-file writes, no probes read
    // round-20 batch 2 (#338-341)
    "er_blocking_eval",     // five keys scored over an empty master
    "events_drift_chi2",    // no cells -> no per-type rows (never 0/0)
    "layout_overlap_depth", // two zero-file writes, no intervals
    "corpus_bpe_vocab_sweep", // four budgets of an empty vocabulary
    "sample_pps",           // bottom-k of no weighted rows
    "layout_compact_files", // compacting zero files is a no-op
    "graph_betweenness",    // no edges -> no seeds -> no paths
    "ann_ivf_recluster",    // reclustering an empty index is empty
    // round-21 (#346-348)
    "dedup_allpairs_exact", // no shingles -> no prefixes -> no pairs
    "layout_bloom_scan",    // no probe keys, zero data files written
    "stats_perm_test",      // null-stats row (no users to permute)
    "sample_coreset",       // no points: the lone objective row (null)
    "layout_schema_evolution", // zero files in both epochs -> empty
    "stats_holm_adjust",    // no types -> no pairs -> no verdicts
    "agg_moments_skew",     // lone ALL row, null moments
    "join_pit_features",    // no labels -> no training rows
    "agg_winsorized_mean",  // no types -> no bounds -> empty
    // round-22 additions (#355-359)
    "stats_bh_adjust",      // no types -> no pairs -> no verdicts
    "text_pii_luhn",        // no docs -> nothing to plant or scrub
    "corpus_unigram_encode", // empty vocab, no words to segment
    "pack_sequences_binned", // no docs -> no shards -> no bins
    "embed_jl_project",     // no vectors -> no queries -> no recall
    "corpus_tokenizer_eval", // two empty encodes -> empty comparison
    "corpus_unigram_vocab_sweep", // four budgets of an empty vocabulary
    "events_asof_conversion", // no purchases -> nothing to attribute
    // round-23 additions
    "corpus_wordpiece_encode", // empty role vocab, no words to match
    "privacy_dp_release",   // no customers -> no cells to perturb
    "ts_holt_winters",      // no events -> no series >= the 168h bar
    "corpus_wordpiece_vocab_sweep", // null global aggs filtered out
    "privacy_dp_mean",      // no customers -> no cells to release
    "events_survival",      // no views -> empty cohort -> no curve
    "mix_temperature")      // no sources -> no mixture rows

  for (name <- representative)
    test(s"$name handles an all-empty input without throwing") {
      val rows = SparkEntry.queries(name)(spark, emptyDir).collect()
      // graph_triangles / graph_modularity aggregate to a single stats
      // row (zero counts, null score); everything else must be empty
      if (name == "graph_triangles") {
        assert(rows.length == 1)
        assert(rows.head.getAs[Long]("n_triangles") == 0L)
      } else if (name == "stats_perm_test") {
        // global agg: one row, zero users, null spends and null p —
        // a test with no units must refuse a verdict, not invent one
        assert(rows.length == 1)
        assert(rows.head.isNullAt(rows.head.fieldIndex("p")))
      } else if (name == "agg_moments_skew") {
        // the merged ALL row survives with null stats — no fabricated
        // shape numbers from an empty stream
        assert(rows.length == 1)
        assert(rows.head.getAs[String]("event_type") == "ALL")
        assert(rows.head.isNullAt(rows.head.fieldIndex("skewness")))
      } else if (name == "sample_coreset") {
        // no points: only the k-center objective row, with null radius
        assert(rows.length == 1)
        assert(rows.head.getAs[Long]("sel_order") == 99L)
        assert(rows.head.isNullAt(rows.head.fieldIndex("dist_to_set")))
      } else if (name == "graph_modularity") {
        assert(rows.length == 1)
        assert(rows.head.getAs[Long]("n_communities") == 0L)
      } else if (name == "quality_classifier_eval") {
        // global agg: one row, null counts, null metrics — no 0/0
        assert(rows.length == 1)
        assert(rows.head.isNullAt(rows.head.fieldIndex("tp")))
        assert(rows.head.isNullAt(rows.head.fieldIndex("f1_score")))
      } else if (name == "graph_assortativity" ||
          name == "graph_degree_stats" || name == "quality_signal_corr") {
        // global agg over an empty input: one row of null stats
        assert(rows.length == 1)
        assert(rows.head.isNullAt(rows.head.schema.fieldNames.length - 1))
      } else if (name == "events_funnel_strict") {
        // global agg: one row of ZERO stage counts, null rates
        assert(rows.length == 1)
        assert(rows.head.getAs[Long]("n_view") == 0L)
        assert(rows.head.isNullAt(rows.head.fieldIndex("click_rate")))
      } else if (name == "dedup_banding_sweep") {
        // one global-agg row per banding config: zero candidates, null
        // precision — no 0/0
        assert(rows.length == 3)
        assert(rows.forall(_.getAs[Long]("n_candidates") == 0L))
        assert(rows.forall(_.isNullAt(
          rows.head.fieldIndex("precision_at_05"))))
      } else if (name == "agg_sketch_union") {
        // the two union rows always exist; empty input = empty sketches
        assert(rows.length == 2)
        assert(rows.forall(_.getAs[Long]("sketch_size") == 0L))
      } else if (name == "quality_rule_overlap") {
        // the 6-pair rule dim survives with null counts — no 0/0
        assert(rows.length == 6)
        assert(rows.forall(_.isNullAt(rows.head.fieldIndex("jaccard"))))
      } else if (name == "events_entropy_rate") {
        // the global __rate row survives with null totals
        assert(rows.length == 1)
        assert(rows.head.getAs[String]("src") == "__rate")
        assert(rows.head.isNullAt(rows.head.fieldIndex("ent_bits")))
      } else if (name == "quality_rule_kappa") {
        // the 6-pair rule dim survives; den = 0 → degenerate, null κ
        assert(rows.length == 6)
        assert(rows.forall(_.getAs[String]("agreement") == "degenerate"))
        assert(rows.forall(_.isNullAt(rows.head.fieldIndex("kappa"))))
      } else if (name == "text_vocab_gini") {
        // global agg: one row of null sums — no 0/0
        assert(rows.length == 1)
        assert(rows.head.isNullAt(rows.head.fieldIndex("gini")))
      } else if (name == "stats_mannwhitney" ||
          name == "stats_cramers_v" || name == "stats_anova" ||
          name == "stats_bootstrap_ci" || name == "quality_fleiss_kappa" ||
          name == "stats_ols_2var" || name == "er_fuzzy_link" ||
          name == "stats_two_proportion") {
        // global agg over an empty input: one row of null stats
        assert(rows.length == 1)
        assert(rows.head.isNullAt(rows.head.schema.fieldNames.length - 1))
      } else if (name == "quality_profile") {
        // the 5-column report survives with zero counts, null stats
        assert(rows.length == 5)
        assert(rows.forall(_.getAs[Long]("n_rows") == 0L))
        assert(rows.forall(_.isNullAt(
          rows.head.fieldIndex("completeness"))))
        assert(rows.forall(_.isNullAt(
          rows.head.fieldIndex("approx_distinct"))))
      } else if (name == "quality_constraints") {
        // the 7-check suite survives; verdicts are NULL (a check over
        // nothing is unknowable, never a fabricated pass)
        assert(rows.length == 7)
        assert(rows.forall(_.isNullAt(rows.head.fieldIndex("passed"))))
        assert(rows.forall(_.isNullAt(rows.head.fieldIndex("metric"))))
      } else if (name == "graph_rich_club") {
        // the 12-row threshold axis survives: zero counts, null phi
        assert(rows.length == 12)
        assert(rows.forall(_.getAs[Long]("n_nodes") == 0L))
        assert(rows.forall(_.isNullAt(rows.head.fieldIndex("phi"))))
      } else if (name == "layout_rowgroup_scan") {
        // global agg: zero files written, zero rows decoded, null bounds
        assert(rows.length == 1)
        assert(rows.head.getAs[Long]("files_total") == 0L)
        assert(rows.head.getAs[Long]("n_rows") == 0L)
        assert(rows.head.isNullAt(rows.head.fieldIndex("min_day_read")))
      } else if (name == "layout_pruned_scan") {
        // global agg: no files to prune, so no skip share (never 0/0)
        assert(rows.length == 1)
        assert(rows.head.getAs[Long]("files_total") == 0L)
        assert(rows.head.getAs[Long]("files_read") == 0L)
        assert(rows.head.getAs[Long]("n_rows") == 0L)
        assert(rows.head.isNullAt(rows.head.fieldIndex("skip_frac")))
        assert(rows.head.isNullAt(rows.head.fieldIndex("min_day_read")))
      } else assert(rows.isEmpty, s"$name emitted ${rows.length} rows")
    }
}
