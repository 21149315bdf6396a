package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Machine-checked physical-plan properties — the scale contract.
  * Each assertion pins a plan shape that keeps a query viable at
  * 100 TB: filters reaching the parquet scan, pruned read schemas,
  * broadcast (not shuffle) joins for small dims, TakeOrderedAndProject
  * (not global sort) for top-k, two-phase aggregation, and
  * whole-stage codegen coverage of the hot path.
  */
class PlanSpec extends SparkTestBase {

  private def planOf(df: DataFrame): String = {
    df.collect() // let AQE settle to the final physical plan
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  test("q1_agg: filter pushed to parquet scan, pruned schema, partial agg, codegen") {
    val p = planOf(q("q1_agg"))
    // Catalyst rewrites  to_date(l_shipdate) <= d  into a pushable
    // LessThan(l_shipdate, d+1) on the raw timestamp column
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"),
      s"shipdate predicate must reach the lineitem scan:\n$p")
    // grouped agg runs map-side partial then final after the exchange
    assert(p.contains("partial_sum") || p.contains("Functions [partial"),
      s"aggregation must be two-phase:\n$p")
    // formatted mode marks codegen'd operators with "[codegen id : n]"
    assert(p.contains("[codegen id :"), s"hot path must codegen:\n$p")
    // scan must not read the full 16-column lineitem schema
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_partkey"),
      s"scan must prune unused lineitem columns:\n$readSchema")
  }

  test("j_broadcast_brand_volume: dim side broadcasts, fact side never shuffles for the join") {
    val p = planOf(q("j_broadcast_brand_volume"))
    assert(p.contains("BroadcastHashJoin"), s"part-dim join must broadcast:\n$p")
    assert(p.contains("BroadcastExchange"), s"small side must be the broadcast side:\n$p")
  }

  test("o3_recent_headlines: top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = planOf(q("o3_recent_headlines"))
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not globally sort:\n$p")
  }

  test("q3_revenue_by_nation: 5-way star join broadcasts every dimension") {
    val p = planOf(q("q3_revenue_by_nation"))
    // customer/orders at sf0.001 are broadcast-sized; the only
    // acceptable shuffle exchanges are for the final aggregation
    assert(p.contains("BroadcastHashJoin"), s"star dims must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no sort-merge join should survive AQE at this dim size:\n$p")
  }

  test("j1_pending_anti_join: anti join probes a keys-only projection") {
    val p = planOf(q("j1_pending_anti_join"))
    assert(p.contains("LeftAnti"), s"pending detection must be an anti join:\n$p")
  }

  test("t_bm25: corpus stats broadcast, top-k is TakeOrderedAndProject") {
    val p = planOf(q("t_bm25"))
    assert(p.contains("TakeOrderedAndProject"),
      s"bm25 top-k must not globally sort:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"corpus stats must broadcast to the scoring side:\n$p")
  }

  test("t_perplexity: LM probability lookup is a broadcast join") {
    val p = planOf(q("t_perplexity"))
    assert(p.contains("BroadcastHashJoin"),
      s"the per-doc stream must not shuffle for the LM lookup:\n$p")
  }

  test("dedup_segments: one hash exchange covers the df window and doc agg") {
    val p = planOf(q("dedup_segments"))
    // window over seg_key + final groupBy(doc_id): exactly two hash
    // exchanges (plus the result sort) — the join-back formulation
    // had three plus a doubled exploded scan. AQE formatted output
    // lists every node twice (final + initial plan details), so two
    // logical exchanges show four Arguments lines.
    val hashEx = p.linesIterator.count(_.contains("Arguments: hashpartitioning"))
    assert(hashEx <= 4, s"expected <=2 hash exchanges (x2 AQE details), found $hashEx:\n$p")
    assert(p.contains("Window"), s"df must come from a window:\n$p")
  }

  test("c4 filters: single scan, flags computed in codegen, no shuffle") {
    val p = planOf(q("t_c4_filters"))
    val hashEx = p.linesIterator.count(_.contains("Arguments: hashpartitioning"))
    assert(hashEx == 0, s"per-doc filters must not shuffle:\n$p")
    // the only exchange is the result ORDER BY's range partitioning
    assert(p.contains("* Project"), s"flag pass must codegen:\n$p")
  }

  test("w_first_last_per_day: identical window specs collapse to one Window node") {
    // formatted AQE output repeats the tree as Final + Initial plan;
    // count Window nodes in the final tree only
    val p = planOf(q("w_first_last_per_day")).split("== Initial Plan ==")(0)
    val windows = p.linesIterator.count(_.matches(""".*\bWindow \(\d+\).*"""))
    assert(windows == 1,
      s"first/last over one spec must share one Exchange+Sort, found $windows:\n$p")
  }

  test("no query plans a cartesian or nested-loop join, except the deliberate ANN baselines") {
    // sim_cosine_topk is the documented brute-force baseline;
    // sim_cosine_ivf / sim_semdedup broadcast a tiny query×centroid
    // (resp. corpus×16-centroid) assignment. t_bm25 / t_dsir_weights /
    // t_perplexity / a_heavy_hitters broadcast a ONE-ROW (or ≤256-row)
    // corpus-stats aggregate — a BNLJ against a 1-row build side is a
    // scalar pipeline, not a quadratic scan. Everything else must be
    // hash/merge-joinable: a BNLJ sneaking into any other query is a
    // quadratic scan at 100 TB.
    // t_pmi_bigrams / t_tfidf_topk / a_benford / a_ks_drift /
    // g_triangles / q22_idle_customers likewise broadcast a ONE-ROW
    // totals/stats aggregate (q22's is the scalar balance
    // threshold); sim_knn_graph broadcasts the 16-row centroid
    // table (the IVF cell assignment, same as sim_cosine_ivf).
    // q11_important_stock compares against a ONE-ROW broadcast scalar
    // threshold (same shape as q22's balance threshold).
    // t_source_epochs crosses the per-source stats with a ONE-ROW
    // (T, Σw) totals aggregate — the budget denominator.
    // sim_kmeans / sim_cluster_purity broadcast the 8-row centroid
    // table for both Lloyd assignment passes (the sim_cosine_ivf
    // shape, twice); sim_kmeans_converged is the same 8-row
    // broadcast per bounded pass, and sim_ivf_pq_search crosses the
    // corpus with the 16-row coarse codebook for cell assignment
    // (its search join proper is a broadcast HASH join on
    // (cell, m, code) — pinned separately below).
    val allowed = Set("sim_cosine_topk", "sim_cosine_ivf", "sim_semdedup",
      "t_bm25", "t_dsir_weights", "t_perplexity", "a_heavy_hitters",
      "t_pmi_bigrams", "t_tfidf_topk", "sim_knn_graph",
      "a_benford", "a_ks_drift", "g_triangles", "q22_idle_customers",
      "q11_important_stock", "t_source_epochs",
      "sim_kmeans", "sim_cluster_purity",
      // recall eval composes the two ANN baselines above, so it
      // inherits their deliberate broadcast cross shapes
      "sim_kmeans_converged", "sim_ivf_pq_search", "sim_ann_recall_eval",
      // ev_rfm_segments broadcasts the ONE-ROW corpus-max-day anchor
      // (the q22 scalar-threshold shape); sim_matryoshka_recall
      // composes the brute-force baseline twice by design
      // t_contrastive_pairs broadcasts the 16-row cell quantizer
      "ev_rfm_segments", "sim_matryoshka_recall", "t_contrastive_pairs",
      // sim_rrf_fusion broadcasts the 10 query vectors over one
      // corpus scan (the sim_cosine_topk brute baseline as the
      // fusion's vector leg); t_temperature_mix / w_dow_seasonality /
      // a_chi_square cross with ONE-ROW totals/normalizer aggregates
      // (the q22 scalar shape)
      "sim_rrf_fusion", "t_temperature_mix", "w_dow_seasonality",
      // a_psi_drift crosses with three ONE-ROW/9-ROW broadcast
      // scalars (midpoint date, decile edges, period totals)
      "a_chi_square", "a_psi_drift",
      // pipeline_corpus_build inherits t_source_epochs' ONE-ROW
      // (T, Σw) totals cross for its epoch-plan stage
      "pipeline_corpus_build",
      // the persisted/incremental ANN serving family composes the
      // SAME dataflows as sim_cosine_ivf / sim_ivf_pq_search /
      // sim_cosine_topk (16-row broadcast centroid/coarse-codebook
      // crosses for cell routing; the brute baseline in the recall
      // eval), so it inherits their deliberate broadcast crosses
      "sim_ivf_persisted", "sim_ivf_pq_persisted", "sim_ivf_incremental",
      "sim_ivf_append_balance", "sim_pq_recall_eval",
      // a_hll_set_algebra crosses the ≤5-row per-segment sketch
      // lattice with itself (64-int vectors) and broadcast-filters
      // the 10-row pair lattice over the distinct-members projection
      // (an OR-predicate BNLJ against a tiny build side) — sketch
      // algebra is deliberately lattice×lattice, never pair×fact
      "a_hll_set_algebra",
      // a_mann_kendall's pairwise sign join is days² — CALENDAR-
      // bounded (2.4k days → 2.9M pairs at every sf), never rows²;
      // its tail crosses three ONE-ROW aggregates. a_poisson_bootstrap
      // crosses two ONE-ROW aggregates (replicate folds × point
      // estimate). sim_mmr's candidate leg broadcasts the 5 query
      // vectors (the sim_cosine_topk brute shape); its greedy steps
      // are equi-joins on bounded 720-row frames
      "a_mann_kendall", "a_poisson_bootstrap", "sim_mmr",
      // ev_markov_stationary crosses the ≤25-cell transition frame
      // with the ONE-ROW states/totals aggregates; e_pca_power
      // crosses the ONE-ROW Gram row with the ONE-ROW vector count
      "ev_markov_stationary", "e_pca_power",
      // a_welch_ttest / ev_survival_km / e_standardize cross ONE-ROW
      // stats aggregates; a_ipf_raking crosses the ≤5-row lang dim
      // with the broadcast ≤20-row source dim to complete the grid
      "a_welch_ttest", "ev_survival_km", "e_standardize", "a_ipf_raking",
      // sim_rocchio_prf runs the broadcast 5-query brute baseline
      // twice (init + expanded re-retrieval); w_seasonal_decompose
      // crosses the ONE-ROW grand-mean aggregate
      "sim_rocchio_prf", "w_seasonal_decompose",
      // w_theil_sen shares a_mann_kendall's calendar²-bounded
      // pairwise day join and crosses the ONE-ROW median slope
      "w_theil_sen",
      // a_mutual_info crosses the ONE-ROW N total with the tiny
      // cell/margin frames (the a_chi_square shape); t_good_turing
      // crosses the ONE-ROW (T, N₁) totals with the ≤max-frequency
      // counts-of-counts frame
      "a_mutual_info", "t_good_turing",
      // e_binary_hamming_recall composes the deliberate brute-force
      // cosine baseline for ground truth, and its own search leg
      // scans the 16-byte codes against the 10 broadcast query codes
      // (the sim_cosine_topk brute shape on a 32×-compressed input)
      "e_binary_hamming_recall",
      // t_kneser_ney crosses the ONE-ROW distinct-bigram total B
      // (the continuation-probability denominator) with the held-out
      // stream — the t_perplexity vocab-scalar shape
      "t_kneser_ney",
      // t_isotonic_calibration's prefix/interval/target joins are
      // inequality joins over the CONSTANT ≤11-row bin-prefix frame
      // (bins² intervals × bins targets ≤ 1000 rows, broadcast) —
      // the corpus itself reduces through the 10-bin aggregate first
      "t_isotonic_calibration",
      // sim_ivf_nprobe_sweep shares sim_cosine_ivf's deliberate
      // 16-centroid broadcast cross (both assignment passes) and
      // composes the brute-force truth baseline
      "sim_ivf_nprobe_sweep",
      // o_join_cardinality_est crosses three ONE-ROW aggregates per
      // edge (side stats × join count — the q22 scalar shape); the
      // join counts themselves are hash joins
      "o_join_cardinality_est",
      // a_bh_fdr crosses the ONE-ROW corpus-rate aggregate with the
      // bounded lang×source cell frame (the q22 scalar shape)
      "a_bh_fdr",
      // q_basket_pairs / t_domain_cap cross ONE-ROW totals (basket
      // count; kept-corpus total) with bounded group frames
      "q_basket_pairs", "t_domain_cap",
      // sim_ari shares sim_cosine_ivf's deliberate 16-centroid
      // broadcast assignment cross (twice, two seeds) and crosses
      // the ONE-ROW pair-total aggregates of each ARI comparison
      "sim_ari",
      // a_cuped crosses the ONE-ROW time midpoint and the ONE-ROW
      // pooled theta; a_negbin_fit the ONE-ROW global user count;
      // a_james_stein the ONE-ROW pooled moments + S_between
      "a_cuped", "a_negbin_fit", "a_james_stein",
      // w_backtest_mase crosses the broadcast date spine (bounded by
      // the calendar) with the ≤|event_types| distinct-type frame
      "w_backtest_mase",
      // t_naive_bayes crosses each test token with the ≤|langs|
      // broadcast class table — the deliberate |classes| fan-out of
      // multinomial scoring (linear in the corpus)
      "t_naive_bayes",
      // t_doremi_mixture crosses ONE-ROW totals (corpus tokens,
      // corpus mean NLL, the G-row normalizer)
      "t_doremi_mixture",
      // w_pot_gpd crosses the ONE-ROW day count and ONE-ROW
      // threshold; w_anomaly_esd the ONE-ROW per-round moments
      "w_pot_gpd", "w_anomaly_esd",
      // g_assortativity crosses the ONE-ROW node-count aggregate;
      // sim_silhouette broadcasts the 8-row k-means codebook (the
      // sim_kmeans assignment cross); w_periodogram crosses the
      // calendar-bounded day series with the ≤512-row Fourier grid
      // and the ONE-ROW power total — day×frequency terms are
      // bounded at ANY corpus scale
      "g_assortativity", "sim_silhouette", "w_periodogram",
      // a_permutation_test crosses the calendar-bounded day series
      // with the ONE-ROW observed stats and the 64-rep grid;
      // a_hodges_lehmann shares a_mann_kendall's calendar²-bounded
      // pairwise day join and crosses the ONE-ROW rank bounds;
      // a_theil_index crosses ONE-ROW totals (n, Σx, μ) into the
      // customer and nation folds
      "a_permutation_test", "a_hodges_lehmann", "a_theil_index",
      // t_boilerplate_suffix / e_intrinsic_dim / ev_growth_accounting
      // cross ONE-ROW broadcast scalars (corpus total; vector count;
      // max observed day); sim_ndcg composes the registered
      // broadcast-query ANN baselines (ivfSampleTopK + bruteForceTopK,
      // the sim_ann_recall_eval shape)
      "t_boilerplate_suffix", "e_intrinsic_dim", "ev_growth_accounting",
      "sim_ndcg",
      // a_runs_test crosses the ONE-ROW day count and ONE-ROW median;
      // t_vocab_growth crosses the ONE-ROW corpus vocab total with the
      // ONE-ROW regression moments
      "a_runs_test", "t_vocab_growth",
      // w_pacf crosses the ONE-ROW (μ, n) moments into the
      // calendar-bounded lag frame
      "w_pacf",
      // ev_entropy_rate / t_term_burstiness / a_beta_posterior cross
      // ONE-ROW totals (transition count; corpus doc count; distinct
      // user count) with bounded cell/term/type frames
      "ev_entropy_rate", "t_term_burstiness", "a_beta_posterior",
      // t_dup_quality_bias crosses the ONE-ROW dup-group moments with
      // the ONE-ROW singleton moments (the Welch contrast)
      "t_dup_quality_bias",
      // ONE-ROW broadcast scalars again: g_modularity (ordered-pair
      // total), t_perplexity_buckets (corpus token total + doc count),
      // t_neyman_allocation (Σ weight + leftover seats), dedup_funnel
      // (per-tier marginal counts), o_storage_tiers (max date + row
      // total)
      "g_modularity", "t_perplexity_buckets", "t_neyman_allocation",
      "dedup_funnel", "o_storage_tiers",
      // t_t_closeness crosses the ONE-ROW corpus total into the
      // bounded decile grid; w_hurst crosses the ONE-ROW log-log
      // slope back onto the 4-row per-size frame
      "t_t_closeness", "w_hurst",
      // a_tail_dependence crosses four ONE-ROW quantile thresholds;
      // w_season_strength crosses the ONE-ROW grand mean (the
      // w_seasonal_decompose shape it replicates)
      "a_tail_dependence", "w_season_strength",
      // e_participation_ratio crosses the ONE-ROW vector count with
      // the ONE-ROW trace/Frobenius reduction; q_dq_freshness crosses
      // the ONE-ROW warehouse-max date onto the 3-row table legs
      "e_participation_ratio", "q_dq_freshness",
      // ev_retention_decay crosses the ONE-ROW max-day anchor and the
      // ONE-ROW fitted slope onto the bounded k grid
      "ev_retention_decay",
      // round-10 ONE-ROW broadcast scalars: sim_mrr_map (the corpus
      // MRR/MAP means onto the 10-query frame — and it composes the
      // deliberate broadcast-query brute baseline), dedup_source_matrix
      // (the pair total onto the source²-bounded cells),
      // w_mad_anomalies (rank bounds + median + MAD onto the
      // calendar-bounded day frame), t_data_card / ev_bot_flags (rank
      // bounds + medians + the C4 pass-rate row onto one-row /
      // user-bounded frames); r_rerank_agreement composes the
      // broadcast-query brute baseline (the sim_cosine_topk shape)
      "sim_mrr_map", "dedup_source_matrix", "w_mad_anomalies",
      "t_data_card", "ev_bot_flags", "r_rerank_agreement",
      // ev_dau_mau crosses the ONE-ROW max-day anchor (the
      // ev_retention_decay shape); ev_hill_tail crosses the ONE-ROW
      // adaptive-k scalar and the ONE-ROW threshold order statistic
      "ev_dau_mau", "ev_hill_tail",
      // round-11 session-2 ONE-ROW broadcast scalars: w_croston (the
      // calendar min/max bounds exploded per brand), a_cramers_v (the
      // (n, r, c) contingency totals onto the ≤r·c cell frame),
      // e_abtt_isotropy (the vector count onto the Gram row, then the
      // one-row direction/mu frame onto the corpus pass),
      // ev_fano_dispersion (the span-minute scalar onto the per-type
      // stats); ev_logrank crosses the ≤2-row group totals onto the
      // horizon-bounded time table plus the one-row fold output
      "w_croston", "a_cramers_v", "e_abtt_isotropy", "ev_fano_dispersion",
      "ev_logrank",
      // a_kendall_taub shares a_mann_kendall's calendar²-bounded
      // pairwise DAY join (pairs of days, never of rows) and crosses
      // the ONE-ROW day count
      "a_kendall_taub",
      // a_bootstrap_bca crosses the ONE-ROW exact-moment point frame
      // onto the 64-row rep fold (the a_poisson_bootstrap shape);
      // sim_eps_advisor crosses the ONE-ROW edge-count total onto the
      // ranked edge frame before the top-slice filter
      "a_bootstrap_bca", "sim_eps_advisor",
      // dedup_method_agreement crosses the ONE-ROW union total onto
      // the ≤3-row category frame (both pair sets come from the
      // registered banded/blocked constructions)
      "dedup_method_agreement",
      // round-11 session-3 ONE-ROW broadcast scalars: a_anova_f /
      // a_levene_bf (the group-moment totals cross, plus the
      // broadcast ≤5-row median frame), a_jarque_bera (the exact
      // mean onto the calendar-bounded day frame), w_durbin_watson
      // (the ONE-ROW OLS fit onto the day frame)
      "a_anova_f", "a_levene_bf", "a_jarque_bera", "w_durbin_watson",
      // sim_davies_bouldin / sim_calinski_harabasz inherit
      // sim_kmeans' deliberate 8-row centroid broadcast crosses; the
      // DB separation matrix is the k×k (≤64-pair) centroid
      // self-cross — bounded by k² at ANY corpus size — plus
      // ONE-ROW index scalars
      "sim_davies_bouldin", "sim_calinski_harabasz",
      // e_jl_distortion inherits sim_knn_graph's 16-row
      // cell-assignment cross and crosses the CONSTANT 1024-cell ±1
      // projection matrix plus ONE-ROW edge/count scalars
      "e_jl_distortion",
      // w_granger_causality crosses the ONE-ROW Cramer-solved fit
      // onto the calendar-bounded lagged day frame (twice, one per
      // direction — the w_pacf one-row-moments shape)
      "w_granger_causality",
      // ev_nelson_aalen crosses the ONE-ROW horizon timestamp and
      // the ONE-ROW user count onto the duration ledger (the
      // ev_survival_km shape it extends)
      "ev_nelson_aalen",
      // a_qq_normal crosses the ONE-ROW exact-moment (n, μ, σ) frame
      // onto the value-level quantile walk and the ONE-ROW QQ
      // correlation back onto the 19-point grid;
      // q_referential_integrity assembles its 4-row report by
      // crossing ONE-ROW total × ONE-ROW orphan-count aggregates
      "a_qq_normal", "q_referential_integrity",
      // ev_markov_mixing shares ev_markov_stationary's bounded
      // ≤25-cell matrix crosses; a_friedman_test crosses the ONE-ROW
      // treatment count and the ONE-ROW χ² frame onto the k-row
      // rank-sum frame; a_simpsons_slopes crosses the ONE-ROW pooled
      // fit onto the ≤|returnflag| group frame
      "ev_markov_mixing", "a_friedman_test", "a_simpsons_slopes",
      // round-12 batch 82: a_wilcoxon_signrank's rank join is the
      // CALENDAR²-bounded month-pair diff multiset crossed with
      // itself (≤ #months² at every sf — the a_mann_kendall class)
      // plus ONE-ROW tie/W₂ scalars; w_adf_test crosses the ONE-ROW
      // Cramer fit onto the lagged day frame (the
      // w_granger_causality shape); t_unigram_kl crosses the
      // ONE-ROW corpus-token total onto the (source, token) frame;
      // sim_maxsim_multivector broadcasts the 16 query sub-vectors
      // over one corpus-slot scan — the sim_cosine_topk deliberate
      // brute baseline on 4× slot rows
      "a_wilcoxon_signrank", "w_adf_test", "t_unigram_kl",
      "sim_maxsim_multivector",
      // batch 83: a_ks_two_sample crosses the ONE-ROW (N1, N2)
      // totals onto the value-level cumulative grid (the q22 scalar
      // shape); w_spectral_entropy shares w_periodogram's
      // calendar-bounded day×frequency grid cross (≤512 broadcast
      // frequencies) plus the ONE-ROW spectrum-total scalar
      "a_ks_two_sample", "w_spectral_entropy",
      // batch 85: w_ewma_control crosses the ONE-ROW exact-moment
      // (n, μ, σ) frame onto the calendar-bounded day series for the
      // chart fold (the w_durbin_watson one-row-fit shape)
      "w_ewma_control")
    val offenders = SparkEntry.queries.keys.filterNot(allowed).flatMap { name =>
      // initial plan only (no execution): join strategy is visible pre-AQE
      val p = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      if (p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"))
        Some(name)
      else None
    }
    assert(offenders.isEmpty, s"quadratic joins in: ${offenders.mkString(", ")}")
  }

  test("q19_disjunctive: CNF extraction pushes each side of the OR to its scan") {
    val p = planOf(q("q19_disjunctive"))
    // lineitem keeps only the quantity disjunction, part only the
    // brand×size disjunction — both reach PushedFilters, so the join
    // sees a fraction of both inputs even though the predicate is an
    // OR across tables
    assert(p.contains("PushedFilters: [IsNotNull(l_partkey), Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)"),
      s"quantity disjunction must push into the lineitem scan:\n$p")
    assert(p.contains("EqualTo(p_brand,Brand#12)"),
      s"brand/size disjunction must push into the part scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"part side must broadcast:\n$p")
  }

  test("o_zorder_layout: morton key is codegen'd, one exchange total") {
    val p = planOf(q("o_zorder_layout"))
    // one hash exchange for the bucket agg; the trailing
    // rangepartitioning exchange only orders the 256-row result
    // (inline plan string: formatted AQE mode lists Final+Initial
    // details and would double-count)
    val inline = q("o_zorder_layout").queryExecution.executedPlan.toString
    assert(inline.split("Exchange hashpartitioning").length - 1 == 1,
      s"z-order rollup needs exactly one hash shuffle:\n$inline")
    assert(p.contains("partial_count") || p.contains("Functions [partial"),
      s"bucket agg must be two-phase:\n$p")
    assert(p.contains("[codegen id :"), s"bit-interleave must codegen:\n$p")
  }

  test("a_countmin: sketch build is a two-phase aggregate, probes broadcast") {
    val p = planOf(q("a_countmin"))
    // the vocab aggregate now materializes at its localCheckpoint, so
    // the visible plan starts at the checkpoint scan — the two-phase
    // property to pin is the sketch/probe aggregation (partial_sum /
    // partial_min before the exchange)
    assert(p.contains("partial_"),
      s"256-cell sketch must combine map-side:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"probe-side join against the tiny sketch must broadcast:\n$p")
  }

  test("q6_revenue_forecast: all three predicates reach the parquet scan") {
    val p = planOf(q("q6_revenue_forecast"))
    assert(p.contains("LessThan(l_quantity"),
      s"quantity predicate must push down:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_discount"),
      s"discount range must push down:\n$p")
    assert(p.contains("LessThan(l_shipdate") || p.contains("LessThanOrEqual(l_shipdate"),
      s"shipdate range must push down (rewritten off to_date):\n$p")
  }

  test("ev_funnel: one events scan, type filter pushed, no join") {
    val p = planOf(q("ev_funnel"))
    // scan count in the final-plan tree only (formatted AQE output
    // repeats the tree as Initial Plan; node details follow after)
    val scans = p.split("== Initial Plan ==")(0)
      .linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"single-pass funnel must scan events once, found $scans:\n$p")
    assert(p.contains("In(event_type"),
      s"signup/purchase filter must reach the scan:\n$p")
    assert(!p.contains("Join"), s"conditional-min agg replaces the join:\n$p")
  }

  test("q5_supplier_volume: dims broadcast, orderdate filter pushes down") {
    val p = planOf(q("q5_supplier_volume"))
    assert(p.contains("BroadcastHashJoin"), s"supplier/nation/region must broadcast:\n$p")
    assert(p.contains("IsNotNull(o_orderdate)") || p.contains("o_orderdate"),
      s"order-date range must prune the orders scan:\n$p")
  }

  test("t_winnow_fingerprint: the winnowing expression stays inside codegen") {
    val p = planOf(q("t_winnow_fingerprint"))
    assert(p.contains("[codegen id :"), s"fingerprint scan stage must codegen:\n$p")
  }

  test("date-partitioned layout: a day filter prunes to partition filters") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir()
    graft.sources.Tables.table(spark, sf, "events")
      .withColumn("day", to_date(col("ts")))
      .write.partitionBy("day").parquet(s"$dir/ev")
    val firstDay = spark.read.parquet(s"$dir/ev")
      .agg(min(col("day"))).head().getDate(0)
    val p = planOf(spark.read.parquet(s"$dir/ev")
      .filter(col("day") === lit(firstDay)).groupBy().count())
    assert(p.contains("PartitionFilters: [isnotnull(day") ||
      p.contains("PartitionFilters: [(day"),
      s"day predicate must become a partition filter, not a row filter:\n$p")
  }

  test("dynamic partition pruning: a dim filter prunes the partitioned fact") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir()
    graft.sources.Tables.table(spark, sf, "events")
      .withColumn("day", to_date(col("ts")))
      .write.partitionBy("day").parquet(s"$dir/fact")
    val fact = spark.read.parquet(s"$dir/fact")
    // a real dim table with a SELECTIVE non-partition predicate —
    // the DPP shape: the fact's PartitionFilters must carry a
    // dynamicpruning subquery, so at 100 TB only the dim-selected
    // partitions are scanned
    // the dim predicate must be a comparison (isLikelySelective):
    // a bare boolean column does not qualify, and `b = true` gets
    // boolean-simplified back to the bare column — use string equality
    fact.select(col("day")).distinct()
      .withColumn("tag",
        when(dayofmonth(col("day")) === 2, "keep").otherwise("drop"))
      .write.parquet(s"$dir/dim")
    val dim = spark.read.parquet(s"$dir/dim").filter(col("tag") === "keep")
    // aggregate a real data column so the fact scan has non-zero
    // estimated size (DPP's pruning-benefit check needs it)
    val joined = fact.join(dim, Seq("day")).agg(sum(col("value")))
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      s"partition-keyed dim join must plan dynamic partition pruning:\n$p")
  }

  test("range-partitioned sorted layout plans a rangepartitioning exchange") {
    import org.apache.spark.sql.functions._
    // the ordered-write layout lever (clustered parquet for min/max
    // data skipping): repartitionByRange + sortWithinPartitions must
    // plan one range Exchange + intra-partition Sort, no global sort
    val df = graft.sources.Tables.table(spark, sf, "orders")
      .repartitionByRange(4, col("o_orderdate"))
      .sortWithinPartitions(col("o_orderdate"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("rangepartitioning"),
      s"layout write must range-partition:\n$p")
    assert(p.contains("Sort [o_orderdate"), s"must sort within partitions:\n$p")
  }

  test("a_gini_revenue / a_ks_drift / mm_shard_manifest: no data-wide single-partition sort or window") {
    // two-phase distributed ranking (operators.Ranking): the rank /
    // running-sum window must be partitioned by the frozen range pid,
    // and the only SinglePartition exchange allowed is the final
    // one-row result aggregate — never a Window or Sort input.
    // mm_shard_manifest joined the list in round 5: its per-doc byte
    // cumsum is manifest-sized (every doc), so a global window there
    // is the same one-reducer funnel gini/ks had.
    for (name <- Seq("a_gini_revenue", "a_ks_drift", "mm_shard_manifest")) {
      val p = planOf(q(name))
      val finalPlan = p.split("== Initial Plan ==")(0)
      val winLines = finalPlan.linesIterator
        .filter(_.matches(""".*\bWindow \(\d+\).*""")).toSeq
      // every Window node must key on __pid (partition-local)
      val detail = p.linesIterator
        .filter(_.contains("Arguments: [")).mkString("\n")
      assert(!detail.contains("windowspecdefinition(") ||
        detail.contains("windowspecdefinition(__pid"),
        s"$name: windows must partition by the range pid:\n$p")
      assert(winLines.isEmpty || p.contains("__pid"),
        s"$name: no partition-less window allowed:\n$p")
    }
  }

  test("enrichBatch: mock-index rank plans no unpartitioned window (parity-pipeline scale pin)") {
    // The enrichment mock-index contract (`row_number() over
    // (order by link) - 1`, SURVEY §7.5) used to plan a
    // single-reducer global Window over the whole bronze corpus —
    // the parity pipeline's one genuine 100×-scale killer (round-12
    // verdict #2). It now goes through Ranking.sortedRanges (stored
    // sorted range partitions, each row numbered in place plus its
    // partition's carried offset), the path Enrich.appendFresh
    // classifies and writes from; this pin fails if anyone
    // reintroduces a corpus-wide window or any exchange after the
    // range partitioning.
    import spark.implicits._
    val now = java.sql.Timestamp.valueOf("2024-05-01 12:00:00")
    val bronze = (1 to 64).map(i =>
      graft.model.RawHeadline(s"title $i", f"https://x.test/$i%03d",
        "g1", now)).toDS()
    val out = graft.enrich.Enrich
      .enrichBatch(spark, bronze, graft.enrich.MockEnricher, now)
    val p = planOf(out.toDF())
    assert(!p.linesIterator.exists(_.matches(""".*\bWindow \(\d+\).*""")),
      s"enrichBatch: no window allowed, partition-less or not:\n$p")
    assert(!p.linesIterator.exists(l =>
      l.contains("Arguments: SinglePartition") && l.contains("Exchange")),
      s"enrichBatch: no single-partition exchange allowed:\n$p")
    assert(!p.contains("Exchange"),
      s"enrichBatch: the stored range partitions are numbered in place:\n$p")
    // the index contract itself: 0-based, dense, ordered by link
    val idx = out.collect().sortBy(_.link)
    assert(idx.map(_.sentiment).toSeq ==
      (0 until 64).map(i => graft.model.Domains.sentiments(i % 3)))
  }

  test("a barrier's scan reports no partitioning; the silver grain reads as one partition") {
    import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val keyed = spark.range(200).withColumn("k", col("id") % 7).repartition(4, col("k"))
    val stored = Barrier.materialize(keyed)
    assert(stored.queryExecution.executedPlan.outputPartitioning
      .isInstanceOf[UnknownPartitioning])
    assert(planOf(stored.groupBy(col("k")).count()).contains("Exchange"),
      "a keyed aggregate over a barrier re-shuffles")
    val silver = keyed.select(col("id").cast("string").as("link"),
      (col("k") % 3).cast("string").as("sentiment"), col("k").cast("string").as("category"),
      timestamp_seconds(col("id") * 3600).as("processed_at"))
    val grain = graft.jobs.GoldJob.silverGrain(silver).frame
    val p = planOf(grain.filter(col("set") === graft.jobs.GrainCell.ByCategory)
      .groupBy(col("analysis_date"), col("category")).agg(sum(col("links")).as("n"))
      .withColumn("share", col("n") / sum(col("n")).over(Window.partitionBy(col("analysis_date")))))
    assert(!p.contains("Exchange"),
      s"aggregates and windows over the silver grain's frame plan no exchange:\n$p")
  }

  test("t_mixture_sample / t_stratified_sample: map-side top-k, no stratum-wide window") {
    // TopKAggBy partial aggregate trims each map task to k rows per
    // lang before the shuffle; a Window here would sort whole strata
    // on one task per language
    for (name <- Seq("t_mixture_sample", "t_stratified_sample")) {
      val p = planOf(q(name))
      assert(!p.contains("Window"),
        s"$name: per-stratum quota must not be a window:\n$p")
      assert(p.contains("partial_topkaggby"),
        s"$name: quota must partial-aggregate map-side:\n$p")
    }
  }

  test("j_semi_active_customers: broadcast semi join + two-phase agg (r4 bench-regression pin)") {
    val p = planOf(q("j_semi_active_customers"))
    assert(p.contains("LeftSemi"), s"must plan a semi join:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"semi join must be hash/merge, never nested-loop:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_"),
      s"per-segment count must combine map-side:\n$p")
  }

  test("w_dist_suite: one Window node over one exchange (r4 bench-regression pin)") {
    // percent_rank/cume_dist/nth_value share a single window spec —
    // one Exchange + Sort + Window; the 5-value partition key is the
    // documented low-cardinality demo, but the plan must not multiply
    // the shuffle per function
    val p = planOf(q("w_dist_suite")).split("== Initial Plan ==")(0)
    val windows = p.linesIterator.count(_.matches(""".*\bWindow \(\d+\).*"""))
    assert(windows == 1,
      s"three distribution functions must share one Window node, found $windows:\n$p")
  }

  test("q4 / q21: EXISTS decorrelates to semi (and anti) joins, no per-row subquery") {
    val p4 = planOf(q("q4_order_priority"))
    assert(p4.contains("LeftSemi"), s"q4 EXISTS must plan a semi join:\n$p4")
    assert(!p4.contains("Subquery"), s"q4 must not re-execute a subquery per row:\n$p4")
    val p21 = planOf(q("q21_waiting_supplier"))
    assert(p21.contains("LeftSemi") && p21.contains("LeftAnti"),
      s"q21 EXISTS/NOT EXISTS must plan semi+anti joins:\n$p21")
    assert(!p21.contains("Subquery"), s"q21 must not re-execute subqueries per row:\n$p21")
  }

  test("q17 / q20: correlated scalar agg runs as aggregate-then-join (one pass each)") {
    for (name <- Seq("q17_small_quantity", "q20_promo_share")) {
      val p = planOf(q(name))
      assert(p.contains("partial_"),
        s"$name: per-part carries must partial-aggregate:\n$p")
      assert(!p.contains("Subquery"),
        s"$name: the correlated avg must not re-execute per row:\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$name: aggregate-then-join must stay hash-joinable:\n$p")
    }
  }

  test("ev_tumbling_daily: events scan prunes to the referenced columns") {
    val p = planOf(q("ev_tumbling_daily"))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("props") && !readSchema.contains("session_id"),
      s"events scan must not read unreferenced wide columns:\n$readSchema")
  }

  test("t_chunk_overlap: narrow generator pipeline — no shuffle before the presentation sort") {
    // chunking must stream: generator + slice stay in one stage; the
    // only exchange allowed is the final global ORDER BY
    val p = planOf(q("t_chunk_overlap")).split("== Initial Plan ==")(0)
    val exchanges = p.linesIterator.count(_.matches(""".*\bExchange \(\d+\).*"""))
    assert(exchanges <= 1,
      s"chunking must not shuffle before the final sort, found $exchanges exchanges:\n$p")
    // "* Generate" = the generator participates in whole-stage codegen
    assert(p.contains("* Generate"),
      s"chunk fan-out must be a codegen'd generator:\n$p")
  }

  test("t_weighted_sample: top-k plans as TakeOrderedAndProject, not a global sort") {
    // priority sampling takes the k smallest ξ: per-partition heads
    // + driver merge, never a corpus-wide sort
    val p = planOf(q("t_weighted_sample"))
    assert(p.contains("TakeOrderedAndProject"),
      s"priority sample must not globally sort:\n$p")
  }

  test("dedup_resolve_best: survivor argmax is a two-phase min(struct) aggregate, no window") {
    val p = planOf(q("dedup_resolve_best"))
    assert(!p.split("== Initial Plan ==")(0).contains("Window ("),
      s"survivor selection must not sort groups through a window:\n$p")
    assert(p.contains("partial_min") || p.contains("Functions [partial"),
      s"survivor argmax must partial-aggregate map-side:\n$p")
  }

  test("o_training_order: in-shard order via sort_array in the aggregate, no corpus sort") {
    // the only Sort in the plan is the 16-row presentation order; the
    // training order itself is built inside the per-shard aggregate
    val p = planOf(q("o_training_order"))
    assert(!p.split("== Initial Plan ==")(0).contains("Window ("),
      s"training order must not window:\n$p")
    val exchanges = "Exchange".r.findAllIn(p.split("== Initial Plan ==")(0)).size
    assert(exchanges <= 2,
      s"expected only the shard hash + presentation exchanges, got $exchanges:\n$p")
  }

  test("t_quality_sweep: one two-phase aggregate, threshold explode after it") {
    val p = planOf(q("t_quality_sweep"))
    val pre = p.split("== Initial Plan ==")(0)
    assert(!pre.contains("Window ("), s"sweep must not window:\n$p")
    val exchanges = "Exchange".r.findAllIn(pre).size
    assert(exchanges <= 2,
      s"expected only the lang hash + presentation exchanges, got $exchanges:\n$p")
    // the ×9 fan-out (Generate) must sit ABOVE the aggregate — plans
    // print top-down, so the generator appears before HashAggregate
    val g = pre.indexOf("Generate")
    val h = pre.indexOf("HashAggregate")
    assert(g >= 0 && h > g,
      s"threshold explode must run over per-lang rows, not the corpus:\n$p")
  }

  test("t_source_epochs: plan stats broadcast back, no window or per-source sort") {
    // the extra-epoch membership is a per-doc threshold test against
    // broadcast per-source stats — never a rank within the source
    val p = planOf(q("t_source_epochs"))
    assert(!p.split("== Initial Plan ==")(0).contains("Window ("),
      s"epoch planner must not rank within sources:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"per-source plan must join back via broadcast:\n$p")
  }

  test("sql_recursive_batched: recursion reads checkpointed frames, never the orders scan") {
    // the UnionLoop re-evaluates its input once per iteration — if
    // the monthly aggregate or the batch arrays were still lazy
    // dataflows, every recursion level would re-scan orders (the
    // original sql_recursive 28 s failure mode, now 16x worse per
    // level batch). Both frames must enter the recursion as
    // materialized localCheckpoints.
    val p = planOf(q("sql_recursive_batched"))
    assert(!p.contains("parquet"),
      s"recursion input must be pre-materialized, not a live scan:\n$p")
    assert(p.contains("UnionLoop") || p.contains("ExistingRDD"),
      s"expected a recursion over checkpointed frames:\n$p")
  }

  test("sim_ivf_pq_search: LUT search is a broadcast hash join, top-k is group-limited") {
    val p = planOf(q("sim_ivf_pq_search"))
    // the candidate scoring join (cell, m, code) must be a broadcast
    // HASH join — the corpus codes stream past the tiny query LUT
    assert(p.contains("BroadcastHashJoin"),
      s"ADC search must broadcast the LUT:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-side shuffle for the search join:\n$p")
    // per-query top-k prunes before ranking (WindowGroupLimit)
    assert(p.contains("WindowGroupLimit"),
      s"top-k must group-limit, not rank everything:\n$p")
  }

  test("t_k_anonymity: two stacked two-phase aggregates, no window") {
    val p = planOf(q("t_k_anonymity"))
    val pre = p.split("== Initial Plan ==")(0)
    assert(!pre.contains("Window ("), s"audit must not window:\n$p")
    assert(p.contains("partial_count") || p.contains("Functions [partial"),
      s"QI aggregation must be two-phase:\n$p")
    val exchanges = "Exchange".r.findAllIn(pre).size
    assert(exchanges <= 3,
      s"expected QI hash + rollup hash + presentation sort, got $exchanges:\n$p")
  }

  test("pipeline_corpus_build: stage handoff is a checkpoint — the dedup funnel never recomputes") {
    val p = planOf(q("pipeline_corpus_build"))
    val pre = p.split("== Initial Plan ==")(0)
    // the `clean` barrier has two consumers (per-source stats and the
    // epoch join-back); its localCheckpoint shows as ExistingRDD
    // scans downstream, and NONE of the dedup funnel's machinery
    // (MinHash banding, shingle hashing, the LSH self-join) appears
    // in the final plan — it ran once at checkpoint time
    assert(p.contains("Scan ExistingRDD"),
      s"stage handoff must read the checkpoint:\n$p")
    assert(!p.contains("minhash") && !p.contains("xxhash64"),
      s"the dedup funnel must not re-run inside the packing plan:\n$p")
    // packing windows partition per shard — never a global sort
    assert(!pre.contains("Window ().orderBy") &&
      !p.linesIterator.exists(l => l.contains("Arguments: SinglePartition")
        && l.contains("Exchange")),
      s"no single-partition funnel in the packing stage:\n$p")
    // epoch-plan cross is the deliberate one-row totals broadcast
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"plan join-back must broadcast:\n$p")
  }
}
