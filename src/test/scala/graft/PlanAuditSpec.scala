package graft

import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan,
  LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter,
  GlobalLimit, Join, LeafNode, LogicalPlan, Window => LWindow}
import org.apache.spark.sql.catalyst.plans.logical.BROADCAST

/** Structural plan audit over the WHOLE registry (r9 VERDICT #1): Spark
  * implements a Window with an empty partitionSpec by moving every input
  * row to ONE partition — fine over a grouped/distinct-value table whose
  * cardinality is bounded by the value domain, a serial OOM over raw
  * base-table rows whose cardinality grows with data volume. This spec
  * walks every registered query's optimized plan and fails if any
  * unpartitioned Window can reach a file-scan leaf without passing
  * through an Aggregate (i.e. it windows raw rows, not a histogram).
  * This is the gate that would have caught x_quantile_bins' full-table
  * ntile before it shipped.
  */
class PlanAuditSpec extends SparkSpec {

  // Documented exemptions (each has a stated scale path or bounded input):
  //  - w1_pagination: reference-faithful global row_number; the scale
  //    path is w1b_keyset_pagination (SURVEY §7.4).
  //  - x_zorder_layout: deliberate whole-table layout gauge — measures
  //    the clustered write order itself, documented in PERFORMANCE.md.
  private val exempt = Set("w1_pagination", "x_zorder_layout")

  // Fixed-cardinality dimension tables: a window over these is bounded
  // by construction (TPC-H pins region=5, nation=25 at every SF). The
  // scan leaf is identified by its (possibly pruned) output attributes.
  private val dimCols = Set("n_nationkey", "n_name", "n_regionkey",
    "n_comment", "r_regionkey", "r_name", "r_comment")

  // Dense surrogate keys: a `key < k` / `key = k` / `key IN (...)`
  // predicate bounds the subtree to O(k) rows at ANY data volume — the
  // idiom the ANN family uses to pin its query set (vec_id < 50) and the
  // dedup family uses for donor/benchmark sets (doc_id < 25). A
  // predicate on a VALUE column (n_chars < 500) does NOT bound — it
  // stays a constant fraction of an unbounded corpus — so only the key
  // columns below qualify.
  private val denseKeys = Set("vec_id", "doc_id", "event_id",
    "o_orderkey", "l_orderkey", "p_partkey", "s_suppkey", "c_custkey")

  private def keyPrefixBound(e: Expression): Boolean = e match {
    case And(l, r) => keyPrefixBound(l) || keyPrefixBound(r)
    case LessThan(a: AttributeReference, _: Literal) => denseKeys(a.name)
    case LessThanOrEqual(a: AttributeReference, _: Literal) => denseKeys(a.name)
    case EqualTo(a: AttributeReference, _: Literal) => denseKeys(a.name)
    case EqualTo(_: Literal, a: AttributeReference) => denseKeys(a.name)
    case GreaterThan(_: Literal, a: AttributeReference) => denseKeys(a.name)
    case GreaterThanOrEqual(_: Literal, a: AttributeReference) =>
      denseKeys(a.name)
    case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      denseKeys(a.name)
    case _ => false
  }

  private def rawBelow(p: LogicalPlan): Boolean = p match {
    case _: Aggregate => false
    // a LIMIT bounds the window's input cardinality by construction
    // (x_rrf_fusion ranks two top-30 legs — 30 rows, any corpus size)
    case _: GlobalLimit => false
    case f: Filter if keyPrefixBound(f.condition) => false
    case l: LeafNode =>
      // LogicalRelation / DataSourceV2*Relation are scans of data that
      // grows with volume; LogicalRDD (a localCheckpoint boundary) and
      // LocalRelation (literals) are not — the checkpointed subplans in
      // this repo are all grouped tables (replicate medians, shortlist
      // heaps) whose own shape is audited where they are built.
      val cls = l.getClass.getSimpleName
      cls.contains("Relation") && !cls.startsWith("Local") &&
        !(l.output.nonEmpty && l.output.forall(a => dimCols(a.name)))
    case other => other.children.exists(rawBelow)
  }

  // Build every registered plan ONCE and share it across the audits.
  private lazy val plans: Seq[(String, LogicalPlan)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val plan =
        try fn(spark, "/root/testdata/sf0.001").queryExecution.optimizedPlan
        catch { case e: Throwable =>
          fail(s"$name failed to build: ${e.getMessage}")
        }
      (name, plan)
    }

  test("no unpartitioned Window consumes raw base-table rows") {
    val offenders = plans
      .filterNot { case (n, _) => exempt(n) }
      .flatMap { case (name, plan) =>
        plan.collect {
          case w: LWindow if w.partitionSpec.isEmpty && rawBelow(w.child) =>
            s"$name: unpartitioned window " +
              w.windowExpressions.map(_.name).mkString(",") +
              " over a base-table scan"
        }
      }
    assert(offenders.isEmpty,
      s"${offenders.size} scale-unsafe windows:\n${offenders.mkString("\n")}")
  }

  // rawBelow's LogicalRDD exemption is only sound while every
  // checkpointed subplan in the registry is a grouped/bounded table.
  // Nothing in rawBelow itself can verify that (LogicalRDD does not
  // carry its originating plan), so the exemption is RESTRICTED to this
  // pinned set of queries known — by review of their build sites — to
  // checkpoint only bounded subplans (ADVICE r10 low #5). A new query
  // that introduces a localCheckpoint fails the pin test below and must
  // be reviewed + added here explicitly; it cannot silently bypass the
  // window/cross-product/broadcast audits by checkpointing a raw scan.
  private val checkpointPinned: Set[String] = Set(
    "j4_tree_closure", "j4b_deep_closure", "x_ann_clustered_ivf_recall",
    "x_ann_clustered_lsh_recall", "x_ann_filtered_recall",
    "x_ann_ivf_probe_quality",
    "x_ann_ivf_trained_probe_quality", "x_ann_ivfpq256_recall",
    "x_ann_ivfpq256_residual_recall", "x_ann_ivfpq_recall",
    "x_ann_ivfpq_residual_recall", "x_ann_multiprobe_quality",
    "x_ann_pq_adc_recall", "x_ann_quality", "x_ann_tables_probes_quality",
    "x_ann_trained_quality", "x_autocorrelation", "x_best_passage",
    "x_bfs_distances",
    "x_bm25", "x_bootstrap_ci", "x_bootstrap_median_ci", "x_bpe_fertility",
    "x_bpe_tokenize", "x_burst_hours",
    // r13 additions, reviewed: x_capture_recapture checkpoints the
    // skinny (doc_id, sha256) projection (the dedup-family posture —
    // O(docs) but never text); the others checkpoint O(groups)/O(arms)/
    // O(months)/O(frequency-of-frequencies) aggregates.
    "x_capture_recapture", "x_good_turing", "x_ipw_ate",
    "x_levene_variance", "x_theil_sen", "x_ucb_allocation",
    // x_permutation_test checkpoints the O(B) per-relabeling diff table;
    // x_quantile_treatment_effect the (arm, distinct-cent-value) cumsum
    "x_permutation_test", "x_quantile_treatment_effect",
    // x_assortativity reuses orderGraph's checkpointed edge list;
    // x_ljung_box checkpoints the 30-row centered daily series + ACF
    "x_assortativity", "x_ljung_box",
    // x_hurst_exponent checkpoints the 720-row hourly spine + the
    // 4-row per-block-size mean R/S table; x_t_closeness the
    // O(classes × buckets) grouped count
    "x_hurst_exponent", "x_t_closeness",
    // x_season_detect checkpoints the 30-row centered series + 13-row ACF
    "x_season_detect",
    // x_kruskal_wallis checkpoints the (grp, value) histogram + 5-row
    // rank sums; x_kendall_tau the ~80-row monthly series
    "x_kruskal_wallis", "x_kendall_tau",
    // x_rate_ratio checkpoints the 2-row cohort counts;
    // x_decision_stump the ≤50-row scored-split table
    "x_rate_ratio", "x_decision_stump",
    // x_cochran_armitage checkpoints the 11-row discount-level table
    "x_cochran_armitage",
    // r14 survival family: each checkpoints the skinny (dur, event,
    // grp) spell projection — O(orders) × 3 narrow columns, the
    // x_capture_recapture posture; all downstream windows run over the
    // O(distinct days) histogram
    "x_kaplan_meier", "x_nelson_aalen", "x_logrank_test",
    "x_hazard_ratio", "x_restricted_mean_survival",
    // x_frequent_itemsets checkpoints the (oid, sorted-item-array)
    // basket table — O(baskets) rows × bounded basket width (≤ order
    // line count), read once per counting level — and the O(items)/
    // O(pairs) frequent levels the Apriori candidate join re-reads
    "x_frequent_itemsets",
    // r16 additions, reviewed: x_benjamini_yekutieli checkpoints the
    // O(nations) per-test count table (read by tot, the harmonic
    // ladder, and the scoring pass); x_brown_forsythe the O(groups)
    // deviation statistics (the x_levene_variance posture);
    // x_seasonal_mann_kendall the (priority, day) daily series —
    // bounded by the calendar, read by the pair join, season sizes and
    // tie counts; x_croston_backtest the same day-grain table plus the
    // O(brands) estimate row
    "x_benjamini_yekutieli", "x_brown_forsythe",
    "x_seasonal_mann_kendall", "x_croston_backtest",
    // x_grubbs_outlier checkpoints the (priority, day) daily-count
    // table — bounded by the calendar, read by the moment pass and the
    // extreme-row pick
    "x_grubbs_outlier",
    // r17 additions, reviewed: x_generalized_esd checkpoints the same
    // calendar-bounded daily table plus the per-round 5-row winner
    // picks and the shrinking remainder (5 anti-join rounds of
    // O(calendar) rows); x_tukey_fences the value-domain-bounded
    // (priority, cents) histogram; x_theil_inequality the O(customers)
    // skinny (ck, nk, rev) grouped projection (the x_capture_recapture
    // posture) and the O(nations) grouped table; x_page_trend and
    // x_cochran_q the O(months×k) complete-block cell tables (the
    // x_friedman_test site), x_cochran_q additionally the O(months×k)
    // binary-flag table
    "x_generalized_esd", "x_tukey_fences", "x_theil_inequality",
    "x_page_trend", "x_cochran_q",
    // x_quade_test and x_nemenyi_posthoc checkpoint the O(months×k)
    // complete-block cell table (the shared completeBlocks spine —
    // same bounded subplan as friedman/page/cochran/kendalls_w)
    "x_quade_test", "x_nemenyi_posthoc",
    // x_rank_biased_overlap checkpoints the skinny 4-column grouped
    // supplier table (O(suppliers), never fact rows — the
    // x_capture_recapture posture); both rank passes and the scalar
    // count re-read it instead of re-scanning lineitem
    "x_rank_biased_overlap",
    // x_tsb_backtest checkpoints one bounded frame, shared with
    // x_croston_backtest through bktScored: the (brand, day) demand
    // grain, O(brands × demand days), never fact rows
    "x_tsb_backtest",
    // r19 additions, reviewed: x_dunn_posthoc checkpoints the
    // (grp, cent-value) grouped histogram — the x_kruskal_wallis site
    // verbatim (O(groups × distinct values), never fact rows), re-read
    // by the value-total and rank-sum passes; x_pettitt_test the
    // (priority, day) daily-count table — calendar-bounded (the
    // x_grubbs_outlier site), re-read by the pooled-series regroup,
    // the tie histogram and the rank cumsum
    "x_dunn_posthoc", "x_pettitt_test",
    // r19 second wave, reviewed: x_kpss_test checkpoints the pooled
    // calendar-bounded (day, y) table (re-read by the moment pass and
    // the 12-lag ladder); x_fligner_killeen the (grp, cent-value)
    // histogram (the kruskal site — re-read by the group counts, the
    // weighted medians, and the deviation regroup); x_cramers_v the
    // O(rows × cols) contingency table (re-read by both margins and
    // the dense-grid join)
    "x_kpss_test", "x_fligner_killeen", "x_cramers_v",
    // r19 third wave, reviewed: x_theta_forecast checkpoints the
    // O(months) revenue series (re-read by the OLS moment pass and the
    // SES ladder); x_err_eval / x_map_eval checkpoint the skinny
    // (doc_id, rel) grade projection — O(docs) × 2 narrow columns, the
    // x_ndcg_eval site verbatim — so the 10-row rank windows never see
    // a raw text scan
    "x_theta_forecast", "x_err_eval", "x_map_eval",
    // r19 fourth wave, reviewed: x_durbin_watson / x_breusch_pagan /
    // x_chow_test checkpoint the shared pooled (day, y) table
    // (dailyTrend — calendar-bounded, re-read by the OLS moment pass
    // and the residual/segment passes); x_friedman_aligned the
    // O(months × k) aligned complete-block cells (the completeBlocks
    // spine plus one aligned column, re-read by the value histogram
    // and both rank-sum passes)
    "x_durbin_watson", "x_breusch_pagan", "x_chow_test",
    "x_friedman_aligned",
    // pre-seal review r19: x_snht_changepoint / x_buishand_range moved
    // onto the shared dailyCum spine (the x_chow_test site) — same
    // calendar-bounded pooled (day, y) checkpoint, re-read by the
    // moment pass, the cumsum and the argmax pick
    "x_snht_changepoint", "x_buishand_range",
    // x_kendalls_w checkpoints the O(months×k) complete-block cell
    // table (the x_friedman_test site, shared rationale)
    "x_kendalls_w",
    // x_abc_xyz (r17 scan fold): checkpoints the (brand, day) grain
    // carrying exact DECIMAL day revenue + quantized day quantity —
    // O(brands × calendar days), read by the revenue, calendar and
    // weekly passes (was 4 lineitem scans, now 1)
    "x_abc_xyz",
    // r20 additions, reviewed: x_granger_causality checkpoints the
    // pooled (day, cnt, revm) grain (dailyCntRevMil — calendar-
    // bounded, re-read by the sufficient-sum pass and the residual
    // pass); x_dickey_fuller the dailyTrend pooled (day, y) table
    // (the dw/bp site verbatim, re-read by the sum and residual
    // passes); x_partial_autocorr the dailyCum pooled (day, y) table
    // (the snht/buishand site — one lag-ladder projection over it);
    // x_mincer_zarnowitz the O(months) scored ladder frame (re-read
    // by the OLS sums and the SSR pass — checkpointing AFTER the
    // 40-lag window so the serial window runs once); x_anderson_
    // darling the (scope, daily-count-value) histogram — O(scopes ×
    // distinct small-integer counts), re-read by the moment pass and
    // the ranked term pass
    "x_granger_causality", "x_dickey_fuller", "x_partial_autocorr",
    "x_mincer_zarnowitz", "x_anderson_darling",
    // x_betweenness_sample checkpoints the per-round frontier/settled/
    // dependency tables — skinny (sid, node, long) rows, ≤ k·|V| with
    // k = 3 seeds (the x_bfs_distances BFS-ladder posture) — plus, r17,
    // the top-64-per-node strongest-relation edge backbone (≤ 64·|V|
    // rows by construction: the bounded-heap top-k output) and its node
    // list
    "x_betweenness_sample",
    // x_cox_one_step / x_cumulative_incidence reuse the survival
    // family's checkpointed spell projection; x_isotonic_calibration
    // checkpoints the 10-row calibration-bin table its O(bins³)
    // max-min join re-reads
    "x_cox_one_step", "x_cumulative_incidence", "x_isotonic_calibration",
    // x_shapley_attribution checkpoints the 8-row coalition-value spine
    // and the 3-row channel-credit table
    "x_shapley_attribution",
    // x_tukey_hsd checkpoints the 5-row per-group sufficient statistics
    // its pairwise grid and MSW both re-read
    "x_tukey_hsd",
    // r15 additions, reviewed: x_fisher_exact checkpoints the 1-row
    // 2x2 counts and the O(rare margin) log-prob ladder;
    // x_friedman_test the O(months x k) complete-block cell table;
    // x_jonckheere_terpstra the grouped (level, quantity) histogram;
    // x_weibull_fit rides the survival family's checkpointed skinny
    // spell projection (same site as x_kaplan_meier);
    // x_textrank_keywords checkpoints the vocabulary-bounded word
    // graph (edges/wdeg) and the per-iteration O(vocab) rank table
    // (the x_pagerank pattern); x_clustering_coeff checkpoints the
    // corpus-relative-support co-purchase backbone (r17: sup >= max(2,
    // 0.01% of orders) — bounded by the catalog's true affinities at
    // ANY corpus size, the itemsets minsup-fraction posture), its
    // degree table, the oriented edges, and the enumerated triangle
    // corners
    "x_fisher_exact", "x_friedman_test", "x_jonckheere_terpstra",
    "x_weibull_fit", "x_textrank_keywords", "x_clustering_coeff",
    "x_chi2_independence",
    "x_classifier_agreement", "x_classifier_report", "x_cluster_size_dist",
    "x_cluster_topics", "x_collocations", "x_cooccurrence_recs",
    "x_curation_pipeline", "x_cusum_changepoint", "x_dedup_band_tuning",
    "x_dedup_chain_clusters", "x_dedup_clusters",
    "x_dedup_embedding_clusters", "x_dedup_pipeline", "x_dedup_quality",
    "x_dq_expectations",
    "x_degree_histogram", "x_embedding_outliers", "x_empirical_bayes",
    "x_entropy_rate",
    // (x_hll_set_ops unpinned in r20: the array-native shingler made it
    // a single linear plan with no checkpoint boundary at all)
    "x_fuzzy_passjoin", "x_hard_negatives", "x_hits",
    "x_image_dhash",
    "x_kcore", "x_ks_statistic", "x_label_propagation", "x_link_prediction",
    "x_lm_bigram", "x_market_basket", "x_maxscore_prune", "x_mmr_rerank",
    "x_mrr_eval", "x_ndcg_eval", "x_negative_sampling", "x_ordered_funnel",
    "x_pagerank", "x_ppmi_embeddings", "x_prf_expansion",
    "x_proportion_ztest", "x_psi_drift", "x_quality_classifier",
    "x_random_projection", "x_recs_holdout_eval", "x_robust_stats",
    "x_rrf_fusion", "x_semdedup", "x_shingle_profile", "x_simhash_hamming",
    "x_sliding_distinct", "x_source_divergence", "x_source_overlap",
    "x_span_corruption", "x_sq_int8_recall", "x_target_encoding",
    "x_triangle_count", "x_winsorized_stats", "x_zorder_layout",
    // r20 optimization round, reviewed: each checkpoints a BOUNDED
    // grouped grain that downstream aggregates/ranks fork 2-4 times —
    // x_tsb_demand the (brand, day) demand grain (was four fact passes);
    // x_mase_forecast / x_theil_u_forecast the O(months) revenue series
    // (shared monthlyRevMil, forked by the ladder + naive + count aggs);
    // x_lorenz_curve / x_palma_ratio the O(entities) revenue grain
    // (globalRank's two-pass rank + the totals fork it); x_hoover_index
    // the O(customers) grain (totals + quantized-deviation aggs). All
    // pre-checkpoint plans are one scan + one grouped aggregate — no raw
    // scan, window, or cross product hides behind any of them.
    "x_tsb_demand", "x_mase_forecast", "x_theil_u_forecast",
    "x_lorenz_curve", "x_palma_ratio", "x_hoover_index",
    // r21 optimization round, reviewed: the rest of the demand family
    // adopts the x_tsb_demand posture — each checkpoints its ONE
    // (brand, day) demand grain (scan + grouped aggregate, nothing
    // hidden) and derives the calendar-span / last-day scalars from it
    // instead of paying a second pruned fact scan (FK asserted by the
    // oracle gate; twins still lineitem-derived, hash-compared).
    "x_croston_demand", "x_safety_stock", "x_newsvendor_quantile",
    "x_eoq_policy")

  test("localCheckpoint boundaries appear only in reviewed queries") {
    val withRdd = plans.collect {
      case (name, plan) if plan.collectLeaves().exists(
          _.getClass.getSimpleName.startsWith("LogicalRDD")) => name
    }.toSet
    val unreviewed = withRdd -- checkpointPinned
    val stale = checkpointPinned -- withRdd
    assert(unreviewed.isEmpty,
      s"queries with unreviewed checkpoint boundaries (audit their " +
        s"pre-checkpoint plan, then pin): ${unreviewed.toSeq.sorted}")
    assert(stale.isEmpty,
      s"pinned queries no longer checkpoint (unpin): ${stale.toSeq.sorted}")
  }

  test("no cross product joins two unbounded inputs") {
    // crossJoin(broadcast(oneRowAgg)) — the scalar-fanout idiom all over
    // this repo — is fine: the agg side never passes rawBelow. What this
    // catches is the O(N·M) shape: a conditionless join where BOTH sides
    // scale with data volume.
    val offenders = plans.flatMap { case (name, plan) =>
      plan.collect {
        case j: Join if j.condition.isEmpty &&
            rawBelow(j.left) && rawBelow(j.right) =>
          s"$name: cross product over two base-table scans"
      }
    }
    assert(offenders.isEmpty,
      s"${offenders.size} unbounded cross products:\n${offenders.mkString("\n")}")
  }

  test("no forced broadcast of an unbounded input") {
    // broadcast() is a FORCE — Spark ships that side to every executor
    // regardless of its size, so a broadcast of anything that grows with
    // data volume (even filtered: a predicate does not bound cardinality
    // at 100x) is a deferred OOM. Grouped/checkpointed sides are bounded
    // by construction and pass rawBelow=false.
    val offenders = plans.flatMap { case (name, plan) =>
      plan.collect {
        case j: Join =>
          val sides = Seq(
            (j.hint.leftHint, j.left, "left"),
            (j.hint.rightHint, j.right, "right"))
          sides.collect {
            case (Some(h), side, which)
                if h.strategy.contains(BROADCAST) && rawBelow(side) =>
              s"$name: forced broadcast of an unbounded $which side"
          }
      }.flatten
    }
    assert(offenders.isEmpty,
      s"${offenders.size} unbounded broadcasts:\n${offenders.mkString("\n")}")
  }
}
