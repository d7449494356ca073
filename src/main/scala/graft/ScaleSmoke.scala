package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange}
import org.apache.spark.sql.functions._

/** sf0.1 → sf1.0 scale smoke for the heavy operator family: builds a 10x
  * dataset from the sf0.1 fixtures (replicas made UNRELATED — rotated
  * alphabets for text, rotated vectors for embeddings — so duplicate/ANN
  * workload shape is preserved instead of planting 10-way clone clusters),
  * times each heavy query at both scales, and pins the executed plan's
  * exchange count so a scale-up cannot silently add shuffles.
  *
  * Usage: runMain graft.ScaleSmoke [baseSfDir] [scaledOutDir]
  * Emits one JSON line per query and a summary file scale_out/sf1_smoke.json.
  */
object ScaleSmoke {

  private val Factor = 10
  private val IdStride = 10000000L

  /** Replica text transform: alphabet rotated by `i` makes replica words
    * (hence shingles) unrelated to the original — corpus grows 10x without
    * growing any near-dup cluster 10x, which is what a real 10x corpus
    * does. */
  private def rotText(c: org.apache.spark.sql.Column, i: Int) = {
    val lo = "abcdefghijklmnopqrstuvwxyz"
    val hi = lo.toUpperCase
    val rl = lo.drop(i) + lo.take(i)
    val rh = hi.drop(i) + hi.take(i)
    if (i == 0) c else translate(c, lo + hi, rl + rh)
  }

  /** Replica embedding transform: cyclic rotation of an iid-gaussian vector
    * is another iid-gaussian vector, uncorrelated with the original. */
  private def rotVec(c: org.apache.spark.sql.Column, i: Int, dim: Int) =
    if (i == 0) c
    else concat(slice(c, i + 1, dim - i), slice(c, 1, i))

  def buildScaled(spark: SparkSession, baseDir: String, outDir: String): Unit = {
    val fs = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(fs)

    // non-key columns (lang/source/label/...) pass through unchanged, so
    // group-by cardinalities are preserved while rows multiply
    val docs = Tables.documents(spark, baseDir)
    (0 until Factor).map { i =>
      docs.withColumn("doc_id", col("doc_id") + lit(i * IdStride))
        .withColumn("text", rotText(col("text"), i))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val emb = Tables.embeddings(spark, baseDir)
    (0 until Factor).map { i =>
      emb.withColumn("vec_id", col("vec_id") + lit(i * IdStride))
        .withColumn("embedding", rotVec(col("embedding"), i, 64))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // events: ids shift, user/value distributions stay (10x rows per key —
    // what a longer retention window looks like)
    val ev = Tables.events(spark, baseDir)
    (0 until Factor).map { i =>
      ev.withColumn("event_id", col("event_id") + lit(i * IdStride))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")

    // orders: same year range (partition count fixed, rows per partition
    // 10x — the compaction workload at scale)
    val o = Tables.orders(spark, baseDir)
    (0 until Factor).map { i =>
      o.withColumn("o_orderkey", col("o_orderkey") + lit(i * 1000000000L))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")

    // lineitem: key shift only — the expectation rules read value columns
    // whose distributions stay, which is exactly what a 10x fact table does
    val li = spark.read.parquet(s"$baseDir/lineitem.parquet")
    (0 until Factor).map { i =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(i * 1000000000L))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    copyDims(spark, baseDir, outDir)
  }

  /** Dimension tables pass through unchanged — a 10x FACT table keeps
    * its dimensions (customers/suppliers don't decuple because orders
    * do), which is exactly the broadcast-side stability the smoke wants
    * to exercise. Idempotent top-up so pre-existing scaled dirs gain
    * newly-needed dims without a rebuild. */
  def copyDims(spark: SparkSession, baseDir: String, outDir: String): Unit =
    Seq("customer", "supplier", "nation", "region", "part").foreach { t =>
      val dst = java.nio.file.Paths.get(s"$outDir/$t.parquet")
      if (!java.nio.file.Files.exists(dst))
        spark.read.parquet(s"$baseDir/$t.parquet")
          .write.mode("overwrite").parquet(dst.toString)
    }

  private val Heavy = Seq(
    "d28_dedup_exact", "d29_minhash_neardup", "d40_ngram_neardup",
    "d62_dedup_groups", "d63_dup_clusters", "d74_span_dedup",
    "d100_dedup_increment", "d101_neardup_increment",
    "d102_importance_sample",
    "q68_decontaminate", "t94_top_tokens",
    "s44_ann_ivf", "s95_ann_pq", "s99_ann_ivfpq",
    "q87_compact", "q89_zorder", "p88_pipeline",
    "t105_bpe_train", "t106_bpe_encode", "t107_bigram_counts",
    "t108_lm_perplexity", "t109_quality_classifier",
    "t110_line_dedup", "t114_pack_sequences",
    "t115_bm25", "t116_c4_filter", "t117_ngram_novelty",
    "s118_cluster_stats", "s119_diversity_sample",
    // r8 web-corpus family. d138/d135 gates are fixture-bounded by design
    // (planted-duplicate slices); substringDedup's corpus-scale shape is
    // the same postings pattern t110 already smokes.
    "d137_soft_dedup", "t140_score_calibrate",
    // r8 data-ops + batch serve (full-table gates)
    "q143_snapshot_diff", "q144_expectations", "s145_ann_batch",
    // r8 event analytics, sampling, profiling, sketch gates. t151's
    // zero-shuffle map scan shares t116's smoked shape but the kernel
    // differs, so it earns its own row.
    "q149_funnel", "q154_retention", "q152_skew_profile",
    "d150_group_sample", "t153_cms_freq", "t155_collocations",
    "t151_script_profile", "q157_scd2", "q159_rate_anomaly",
    "q160_ab_test", "q161_histogram", "q162_gap_fill",
    "q163_drop_anomaly",
    // r9 analytics round-out: the iterative graph op (checkpointed
    // per-iteration aggregates), the time-RANGE window, the two-pass
    // quantile binning, and the pairs-sized MI profile
    "q167_pagerank", "q164_rolling_window", "q165_quantile_bins",
    "t166_mutual_info", "q170_hits", "d169_sorted_neighborhood",
    "q168_asof_forward", "q171_winsorize", "q172_robust_outliers",
    "d173_negative_samples", "d174_fuzzy_join", "q175_twap",
    "q176_ppr", "q177_pagerank_weighted", "q178_incremental_agg",
    "str179_stream_rollup", "q180_kcore", "q181_event_transitions",
    // r9: the streaming family at both scales. These time the whole
    // replayed pipeline (micro-batch state commits included); the pinned
    // exchange counts are those of the returned result plan — the
    // per-batch plan shape is pinned by StreamingSpec instead, since a
    // completed stream exposes no executedPlan post-hoc.
    "str103_stream_neardup_ingest", "str112_stream_quality",
    "str127_stream_topn", "str148_stream_curate",
    // r11: the remaining streaming gates, so EVERY str* pipeline has a
    // 10x ratio + pinned exchange counts in the smoke artifact
    "str39_stream_window", "str48_cdc_stream", "str82_stream_session",
    "str90_stream_join", "str92_stream_dedup", "str156_stream_funnel",
    "str266_stream_top_contributors",
    // r9: the composed media pipeline showcase
    "p182_media_pipeline",
    // r9: sketch-fold rolling distinct (corpus pass + buckets-sized
    // range join) and the iterative LPA rounds
    "q183_rolling_distinct", "q184_label_propagation",
    // r9: basket pair expansion (capped quadratic) + attribution's
    // entity-windowed span join + the KLL window fold
    "q189_copurchase", "q187_attribution", "q190_rolling_quantile",
    // r9: posting-style TF-IDF (corpus token pass) + the decomposition
    "t193_tfidf_terms", "q194_seasonal",
    // r10: perceptual dHash near-dup (banded Hamming LSH over per-doc
    // 64-bit hashes — 8 B/doc/band shuffle) and the bounded-admission
    // replay stream (per-batch audit commits included)
    "m197_phash_neardup", "str198_stream_backpressure",
    // r10: degree-oriented triangle census (wedge join bounded at
    // O(m^1.5)), frontier-expansion BFS, and the two-aggregate
    // golden-record survivorship
    "q199_triangles", "q200_bfs_reach", "d201_golden_record",
    // r10: O(log n)-round alternating-star components and the
    // exact-decimal assortativity reduce
    "q202_connected_components", "q203_assortativity",
    // r10: days-sized ACF, PageRank-over-words, privacy audit, and the
    // star-edge incremental CC fold (base never re-read)
    "q204_autocorr", "t205_textrank", "q206_k_anonymity",
    "q207_cc_increment",
    // r10: gaps-and-islands coverage + Heaps-curve vocabulary growth
    "q208_interval_coverage", "t209_vocab_growth",
    // r10: streaming CC maintenance (star-edge fold per batch), the
    // distributed-rank RFM tiling, and exact grouped quantiles by
    // distributed selection
    "str210_stream_components", "q211_rfm", "q212_exact_quantiles",
    // r10 late batch: the basket pair-expansion family (rules + item
    // neighbors ride q189's capped self-join), the lossless deletion-
    // neighborhood edit join (postings = Σ(|s|+1) rows), weighted
    // Bellman-Ford rounds, and the wedge-join link predictor
    "q213_assoc_rules", "q214_item_similarity", "d215_edit_join",
    "q216_sssp", "q219_link_predict",
    // r10 late batch: days-sized stats (trend/xcorr/EWMA stacks), the
    // one-aggregate Benford/kappa reduces, the distributed-rank Gini,
    // and streaming co-occurrence maintenance (additive pair rollup)
    "q217_trend", "q218_benford", "q220_xcorr", "q221_ewma",
    "q222_kappa", "q223_gini", "str224_stream_cooccur",
    // r10 late batch: the distinct-value cumulative machinery (range
    // buckets + broadcast offsets) under the two exact rank statistics
    "q225_ks_drift", "q226_rank_test",
    // r10 late batch: cells-sized χ² and the quartile+fence compose
    "q227_chi2", "q228_boxplot",
    // r10 late batch: streaming drift maintenance + read-side KS
    "str229_stream_drift",
    // r10 wave 4: FD audit (batch + streaming pair-count maintenance),
    // weighted top-k draw, multi-source landmark BFS, vocabulary
    // pair-overlap, distributed midranks, calendar-bounded pair
    // statistics, containment pair mining, PAVA fit + broadcast scoring
    "q230_fd_profile", "str235_stream_fd", "d231_weighted_sample",
    "q232_double_smooth", "q233_harmonic", "t234_source_overlap",
    "q236_runs_test", "q237_spearman", "q238_theil_sen",
    "q239_mann_kendall", "d240_containment", "t241_isotonic",
    // r10 wave 5: single-aggregate statistics (DiD, corr matrix,
    // entropy, HHI, Zipf), group×domain EMD, streaming moment IVM
    "q242_diff_in_diff", "q243_t_closeness", "q244_corr_matrix",
    "t245_zipf", "q246_hhi", "q247_entropy", "str248_stream_corr",
    // r10 wave 6: exact-decimal changepoint argmax, domain-sized
    // weighted-median selection, streaming entropy read-side
    "q249_changepoint", "q250_weighted_median", "str251_stream_entropy",
    // r10 wave 7: the codegen'd audio-energy kernel + HOF span trim
    "m252_audio_energy", "m253_silence_trim",
    // r10 wave 8: burstiness reduction, replace-arithmetic code router,
    // streaming concentration read-side
    "q254_burstiness", "t255_code_detect", "str256_stream_hhi",
    // r10 wave 9: erasure cascade audit, price-volume-mix decomposition
    "q257_erasure_audit", "q258_price_volume_mix",
    // r10 wave 10: sequence completeness audit, exact-decimal peaks
    "q259_sequence_audit", "q260_peaks",
    // r10 wave 11: shape-keyed template mining, streaming completeness
    "d261_template_mine", "str262_stream_seq_audit",
    // r10 wave 12: distributed-prefix ABC classification
    "q263_abc_analysis",
    // r10 wave 13: block-bounded duplicate transactions, LSH-recall eval
    "d264_dup_transactions", "d265_lsh_eval",
    // r10 wave 14: streaming per-key sum maintenance + top-k read
    "str266_stream_top_contributors",
    // r11 wave 1: survival curve, dose-response trend, community
    // modularity, overdispersion screen, streaming exact-median IVM
    "q267_kaplan_meier", "q268_ca_trend", "q269_modularity",
    "q270_overdispersion", "str271_stream_median",
    // r11 wave 2: sequential containment, corpus dup-gram fraction,
    // audience overlap, tile fan-out, streaming exact distinct
    "q272_followed_by", "t273_dup_gram_fraction", "q274_audience_overlap",
    "m275_tile_plan", "str276_stream_distinct",
    // r11 wave 3: power-law tail fit, reciprocity, window funnel
    "q277_degree_powerlaw", "q278_reciprocity", "q279_window_funnel",
    // r11 wave 4: scene cuts over frame signatures, Hamilton allocation
    "m280_scene_cuts", "q281_allocation",
    // r11 wave 5: lexical diversity, hapax rate, interval gaps,
    // streaming Benford lens
    "t282_lexical_diversity", "t283_hapax_rate", "q284_interval_gaps",
    "str285_stream_benford",
    // r11 wave 6: JS divergence between source mixtures, Kish ESS
    "t286_js_divergence", "q287_ess", "q288_srm",
    // r12 wave 1: classifier-eval family (distributed-midrank AUC,
    // one-aggregate confusion/calibration/Brier) + ranked-list eval
    "q289_roc_auc", "q290_confusion", "q291_calibration", "q292_ece",
    "q293_brier", "q294_rank_eval",
    // r12 wave 2: BH-FDR step-up (report-sized), CUPED (two exact
    // aggregates), Theil index, Lorenz deciles (one prefix aggregate)
    "q295_bh_fdr", "q296_cuped", "q297_theil", "q298_lorenz",
    // r12 wave 3: bounded-bin streaming histogram + quantile read,
    // lcm-keyed aspect bucketing over a global rank, readability scan
    "str299_stream_histogram", "m300_aspect_buckets",
    "t301_readability",
    // r12 wave 4: cohort LTV (calendar-sized cum window), one-pass
    // schema drift profile, streaming PSI lens, power/MDE pre-readout
    "q302_cohort_ltv", "q303_schema_drift", "str304_stream_psi",
    "q305_power_mde",
    // r12 wave 5: portable-session corpus stats, anti-join RI audit,
    // grid-binned PR threshold sweep
    "q306_session_stats", "q307_ref_integrity", "q308_pr_curve",
    // r12 wave 6: category-set drift (distinct full-outer) and the
    // Palma two-tail concentration cut
    "q309_category_drift", "q310_palma",
    // r13 wave 1: tokenizer fertility (zero-shuffle encode + one
    // keyed aggregate), Welch t-test, Poisson-bootstrap CI (map-side
    // rows×reps combine), Kaplan–Meier, CUSUM prefix-extremum,
    // Atkinson index
    "t311_tokenizer_fertility", "q312_welch_ttest", "q313_bootstrap_ci",
    "q314_kaplan_meier", "q315_cusum", "q316_atkinson",
    // r13 wave 2: full-outer snapshot diff, rank-bucketed lift table,
    // double-median MAD screen, index compaction mid-stream, fitted
    // histogram loop
    "q317_table_diff", "q318_lift_curve", "q319_mad_profile",
    "d320_index_compact", "str321_fitted_histogram",
    // r13 wave 3: log-rank survival compare, Markov path transitions,
    // RAKE keyphrases, forecast accuracy
    "q322_log_rank", "q323_path_transitions", "t324_keyphrases",
    "q325_forecast_accuracy",
    // r13 wave 5: exact streaming quantile lens, Cohen's kappa,
    // letterbox pad plan
    "str326_stream_quantiles", "q327_cohen_kappa", "m328_pad_plan",
    // r13 wave 6: Matthews correlation report, chi-square independence
    "q329_mcc", "q330_chi2_independence", "q331_freshness",
    // r14: batch drop ledger (full pipeline + audit write),
    // manifest-pointer commit (write/overwrite/append/compact/vacuum),
    // streaming HLL distinct state, streaming freshness state
    "p332_drop_ledger", "q333_manifest_commit",
    "str334_stream_distinct_sketch", "str335_stream_freshness",
    "str336_stream_upsert_manifest", "str337_stream_jsd",
    // r14 wave 2: k-group rank test, G-test, post-stratification,
    // LLR collocations, encoding-anomaly + lexicon screens, PACF,
    // seasonal strength, manifest time-travel/fsck, streaming SPRT
    "q338_kruskal_wallis", "q339_g_test", "q340_post_strat",
    "t341_llr_collocations", "t342_mojibake", "t343_lexicon_screen",
    "q344_pacf", "q345_seasonal_strength", "q346_time_travel",
    "q347_manifest_fsck", "str348_stream_sprt",
    // r14 wave 3: conformal guarantee layer, UCB bandit readout,
    // join-explosion pre-flight, leave-one-out target encoding
    "q349_conformal", "q350_ucb", "q351_join_explosion",
    "q352_target_encode",
    // r14 wave 4: two more lenses on the grouped value-count state
    "str353_stream_tukey", "str354_stream_conformal",
    // r14 wave 5: paired model comparison, multi-rater agreement,
    // pairwise-preference ranking
    "q355_mcnemar", "q356_fleiss_kappa", "q357_bradley_terry",
    // r14 wave 6: stratified association, effect sizes, live BT board
    "q358_cmh", "q359_contingency_effects", "str360_stream_bt",
    // r15: catalog time travel, the Gram-regression family (batch,
    // granger, streaming), the reliability/paired-eval package, and
    // the clustering/linkage/forecast additions
    "q361_catalog_time_travel", "q362_linear_fit", "q363_levene",
    "q364_platt", "q365_dp_release", "q366_phonetic_join",
    "q367_kmeans", "q368_croston", "q369_granger",
    "q370_welch_anova", "q371_ipw", "str372_stream_linear_fit",
    "q373_wilcoxon", "q374_friedman", "q375_cronbach", "q376_icc",
    "q377_cox", "q378_paired_t")

  private def runOne(spark: SparkSession, name: String, dir: String)
      : (Double, Int, Int) = {
    val (sec, result) = Bench.timeGate(spark, name, dir)
    val nodes = graft.plans.PlanNodes(result.toTry.get.queryExecution.executedPlan)
    (sec, nodes.count(_.isInstanceOf[Exchange]),
      nodes.count(_.isInstanceOf[BroadcastExchangeExec]))
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/graft_sf1")
    val spark = GraftSession.local()

    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$outDir/documents.parquet"))) {
      println(s"[scale] building ${Factor}x data at $outDir from $baseDir")
      buildScaled(spark, baseDir, outDir)
    } else copyDims(spark, baseDir, outDir) // top-up newly-needed dims

    Bench.warmUp(spark, baseDir)

    // Optional subset for iteration (same contract as Bench); a subset run
    // writes to sf1_smoke_partial.json so the full artifact is never
    // clobbered by a partial one.
    val selected = Heavy.filter(n => Bench.only.forall(_.contains(n)))

    val rows = selected.map { name =>
      // two runs per (query, scale), keep the min: the first base run of a
      // query also pays its one-time codegen/ML-job warmup, which at these
      // fixture sizes rivals the query itself and poisons the ratio
      val (tb, eb, bb) = Seq.fill(2)(runOne(spark, name, baseDir)).minBy(_._1)
      val (ts, es, bs) = Seq.fill(2)(runOne(spark, name, outDir)).minBy(_._1)
      val line = f"""{"query":"$name","sf01_sec":$tb%.2f,"sf1_sec":$ts%.2f,""" +
        f""""ratio":${ts / tb}%.2f,"exchanges":[$eb,$es],"broadcasts":[$bb,$bs]}"""
      println(s"[scale] $line")
      line
    }
    val out = rows.mkString("[", ",\n", "]")
    val dir = java.nio.file.Paths.get("scale_out")
    java.nio.file.Files.createDirectories(dir)
    val fileName =
      if (Bench.only.isDefined) "sf1_smoke_partial.json" else "sf1_smoke.json"
    java.nio.file.Files.write(dir.resolve(fileName),
      (out + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
