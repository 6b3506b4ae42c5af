package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Shuffle-count regression pin over both bench tiers (round 11).
  *
  * Every Exchange in a plan is a full materialize-and-repartition of its
  * input — at 100 TB the dominant cost term. The plan audits catch
  * SHAPE defects (unpartitioned windows, unbounded broadcasts); what
  * they cannot catch is a refactor that quietly ADDS a shuffle to an
  * already-sound plan (a lost co-partitioning, a new distinct, an
  * aggregate that stopped partial-aggregating). This spec pins the
  * exact number of shuffle exchanges in the physical plan of every
  * headline and heavy-tier query; a diff is loud and must be reviewed
  * (either the regression is fixed or the pin is consciously updated
  * with the reason in the commit).
  *
  * AQE is disabled for the PLANNING session here: adaptive re-planning
  * rewrites shuffles at runtime from observed sizes (good in prod,
  * nondeterministic for a pin), and `AdaptiveSparkPlanExec` hides its
  * pre-execution plan from `collect`. The pinned numbers are the static
  * planner's shuffle count — the upper bound AQE then optimizes.
  */
class ShuffleCountSpec extends SparkSpec {

  private def countShuffles(p: SparkPlan): Int =
    p.collect { case _: ShuffleExchangeLike => 1 }.sum

  private lazy val planSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  /** Graduated fresh-tier members (rotations r14+, r13 verdict #5): no
    * longer benched per round, but their plan shapes stay pinned here so
    * a shuffle regression in a past tier member is still loud. */
  private val freshAlumni: Seq[String] = Seq(
    "x_fdr_bh", "x_cuped", "x_regression_discontinuity",
    "x_group_sequential", "x_dedup_saturation", "x_mahalanobis_outliers",
    // r15 graduation (the r14 fresh tier)
    "x_mannwhitney_u", "x_kendall_tau", "x_cochran_armitage",
    "x_ipw_ate", "x_hurst_exponent", "x_capture_recapture",
    // r16 graduation (the r15 fresh tier)
    "x_kaplan_meier", "x_logrank_test", "x_frequent_itemsets",
    "x_shapley_attribution", "x_tukey_hsd", "x_isotonic_calibration",
    // r17 graduation (the r16 fresh tier)
    "x_croston_demand", "x_textrank_keywords", "x_clustering_coeff",
    "x_holt_winters", "x_welch_anova", "x_jonckheere_terpstra",
    // r18 graduation (the r17 fresh tier)
    "x_betweenness_sample", "x_croston_backtest", "x_abc_xyz",
    "x_grubbs_outlier",
    // r19 graduation (the r18 fresh tier)
    "x_generalized_esd", "x_tukey_fences", "x_theil_inequality",
    "x_page_trend", "x_cochran_q", "x_kendalls_w", "x_eoq_policy")

  private lazy val counts: Map[String, Int] =
    (SparkEntry.benchQueries ++ SparkEntry.heavyQueries ++
      SparkEntry.freshQueries ++ freshAlumni).map { name =>
      val df = SparkEntry.queries(name)(planSession, "/root/testdata/sf0.001")
      name -> countShuffles(df.queryExecution.executedPlan)
    }.toMap

  // Pinned static-planner shuffle counts (sf0.001 plans; data-independent
  // — exchange count comes from the logical shape, not row counts).
  // Caveat: queries built around eager localCheckpoint stages (the graph
  // and PQ families) execute those stages during plan CONSTRUCTION; the
  // pin covers the residual visible plan (x_pagerank's 0 is "all work
  // behind checkpoints", not "no shuffles ever") — still a valid drift
  // tripwire, since a structural change upstream of a checkpoint changes
  // which plan survives to be counted.
  private val pinned: Map[String, Int] = Map(
    "a4_group_counts" -> 2,
    "j1_header_detail" -> 3,
    "j6_set_ops" -> 3,
    "q_category_rollup" -> 3,
    "q_sales_by_period" -> 2,
    "q_sales_by_vendor" -> 2,
    "q_sales_cube" -> 2,
    "q_stock_coverage" -> 2,
    "q_top_products" -> 1,
    "w1b_keyset_pagination" -> 0,
    "w2_latest_per_key" -> 2,
    "w5_rank_ntile" -> 3,
    "x_ann_clustered_ivf_recall" -> 19,
    // r14 re-pin: the PQ/ADC encode prefix is memoized per session
    // (SimilarityOps shared()), so the per-query plans now start from
    // checkpointed intermediates; the k64 gauges also moved to the
    // one-scan-per-nprobe prefix discipline the k256 gauges already used
    "x_ann_ivfpq256_recall" -> 23,
    "x_ann_ivfpq256_residual_recall" -> 23,
    "x_ann_ivfpq_recall" -> 30,
    "x_ann_ivfpq_residual_recall" -> 23,
    "x_ann_multiprobe" -> 2,
    "x_ann_pq_adc_recall" -> 42,
    // r15 fresh-tier rotation members (survival/itemset/attribution):
    // x_isotonic_calibration's 0 is the checkpoint caveat above (the
    // PAV prefix runs during construction); x_frequent_itemsets dropped
    // 11 -> 7 in the r16 rework (the oid counting self-joins replaced
    // by per-basket array combinatorics: what remains is the level
    // count shuffles + candidate join + final sort, all O(candidates))
    // r17 fresh-tier rotation members: x_abc_xyz's 10 is the residual
    // plan off the checkpointed day grain (brand revenue agg + the
    // 25-row cum window + weekly/xyz aggs + the final brand join/sort
    // — all O(brands×weeks) inputs; the ONE fact scan runs at
    // checkpoint build); x_betweenness_sample's 2 and
    // x_croston_backtest's 2 are the checkpoint caveat above (the
    // BFS/backward ladder and the train/holdout scoring run during
    // construction); x_grubbs_outlier dropped 3 -> 1 in r18 when the
    // staged t-quantile moved the moment agg + extreme-pick window
    // behind the pick-frame checkpoint (5 bounded rows) — the visible
    // residual is the final sort
    "x_abc_xyz" -> 10,
    "x_betweenness_sample" -> 2,
    // r21 re-pin (reviewed): croston_backtest 2 -> 3 — the old shape hid
    // its work behind backtestDaily/est checkpoints (2 = the residual
    // holdout join + sort); the array rewrite runs the whole protocol
    // as one visible query off the single grain checkpoint: the brand
    // array aggregate, the dmax scalar aggregate, and the output sort
    "x_croston_backtest" -> 3,
    "x_grubbs_outlier" -> 1,
    // r18 fresh-tier rotation (the r17 additions): the block-spine
    // members' visible plans start from the checkpointed complete-block
    // cells (page_trend's 1 is the final sort; cochran_q/kendalls_w add
    // the rank/tie groupings); x_generalized_esd's 1 is the residual
    // verdict join — the five Rosner rounds and the staged t-quantile
    // run during construction behind checkpoints; x_theil_inequality's
    // 9 spans the three decomposition grains off the checkpointed
    // customer table; x_tukey_fences' 6 is the cents-histogram cumsum +
    // fence-count groupings; x_eoq_policy's 4 is the day-grain agg +
    // policy joins
    "x_cochran_q" -> 3,
    "x_eoq_policy" -> 3,
    "x_generalized_esd" -> 1,
    "x_kendalls_w" -> 3,
    "x_page_trend" -> 1,
    "x_theil_inequality" -> 9,
    "x_tukey_fences" -> 6,
    // r19 fresh-tier rotation (the r18 additions): every plan runs on
    // a bounded post-aggregation grain. The inequality pair's 2/3 are
    // single customer-grain aggregates + broadcast scalars;
    // lorenz/palma's 8/7 are the globalRank decomposition (grouped
    // starts + partitioned window + value rejoin) plus the
    // decile/threshold groupings, all O(suppliers)/O(customers);
    // quade/nemenyi's 5/3 are rank windows + pair joins off the
    // checkpointed complete-block cells; the forecast-evaluation
    // pair's 4s are O(months) grouped windows; tsb_demand's 7 is the
    // brand-day ladder stack; rbo's 9 is two globalRanks + the
    // max-rank histogram cumsum over O(suppliers).
    // r20 optimization re-pins (reviewed): tsb 7 -> 5 and mase 4 -> 3 /
    // theil_u 4 -> 2 moved their grouped grains behind reviewed
    // checkpoints (PlanAuditSpec) so the repeated fact passes left the
    // visible plan; lorenz 8 -> 7 / palma 7 -> 6 likewise checkpoint
    // the entity grain globalRank used to re-derive
    "x_atkinson_index" -> 2,
    "x_hoover_index" -> 3,
    "x_lorenz_curve" -> 7,
    "x_mase_forecast" -> 3,
    "x_nemenyi_posthoc" -> 3,
    "x_palma_ratio" -> 6,
    "x_quade_test" -> 5,
    // r21 re-pin (reviewed): rbo 9 -> 2 — only ranks <= depth(100) can
    // contribute to the max-rank histogram, so the two full globalRank
    // decompositions (each: distinct-value cumsum exchange + per-value
    // window exchange + rejoin) collapse to two TakeOrderedAndProject
    // top-100s (bounded per-partition heaps, not ShuffleExchangeLike);
    // the remaining two exchanges are the base grain aggregate's
    "x_rank_biased_overlap" -> 2,
    "x_theil_u_forecast" -> 2,
    // r21 re-pin (reviewed): tsb 5 -> 3 — the three brand-partitioned
    // window passes and the separate probability aggregate + join fold
    // into one groupBy(brand) sorted-array aggregate; what remains is
    // that aggregate's exchange, the scalar-anchor aggregate's, and the
    // output sort's
    "x_tsb_demand" -> 3,
    "x_frequent_itemsets" -> 7,
    "x_isotonic_calibration" -> 0,
    "x_kaplan_meier" -> 3,
    "x_logrank_test" -> 4,
    "x_shapley_attribution" -> 2,
    "x_tukey_hsd" -> 2,
    // r16 fresh-tier rotation members (the r15 demand/stats/graph
    // battery): x_croston_demand's 4 is the dim join + day-grain
    // groupBy + the brand-keyed window stack + final sort;
    // x_textrank_keywords' 0 is the checkpoint caveat above (graph
    // build + rank iterations run during construction);
    // x_jonckheere_terpstra's 9 is the dense-grid build over the
    // checkpointed histogram (distincts + grid join + two cumsum
    // windows), all O(levels×values)
    "x_clustering_coeff" -> 3,
    // r21 re-pin (reviewed): croston 4 -> 3 and eoq 4 -> 3 — both adopt
    // the tsb sorted-array/grain-scalar shape (croston: three window
    // passes -> one groupBy(brand); eoq: span scan -> grain fold);
    // remaining exchanges are the brand aggregate, the scalar-anchor
    // aggregate, and the output sort
    "x_croston_demand" -> 3,
    "x_holt_winters" -> 5,
    "x_jonckheere_terpstra" -> 9,
    "x_textrank_keywords" -> 0,
    "x_welch_anova" -> 3,
    // r14 fresh-tier rotation members
    "x_capture_recapture" -> 4,
    "x_cochran_armitage" -> 2,
    "x_hurst_exponent" -> 2,
    "x_ipw_ate" -> 2,
    "x_kendall_tau" -> 1,
    "x_mannwhitney_u" -> 3,
    "x_cuped" -> 6,
    // r20 optimization re-pins (reviewed): curation 8 -> 13 exposes the
    // formerly-checkpointed funnel subtree in one plan (the 8 unioned
    // stage scans collapsed into one conditional aggregate + stack, so
    // MORE of the pipeline is visible while total exchanges fell);
    // hits 2 -> 4 moved the half-step checkpoint to the raw sums (the
    // L1-normalize crossJoin is now visible); hll 3 -> 4 replaced the
    // window shingler + 3x-Expand distinct with the (pair, shingle)
    // pre-aggregate; pagerank 0 -> 6 runs all six rank rounds as ONE
    // visible linear query (was: every round behind its own barrier)
    // r21 re-pin (reviewed): curation 13 -> 11 — the within-doc 3-gram
    // repetition gate became a per-row sorted-array fold (per-doc
    // statistic, no shuffle), dropping the 3-gram explode's aggregate
    // exchange and its join back to docs
    "x_curation_pipeline" -> 11,
    "x_dedup_saturation" -> 5,
    "x_fdr_bh" -> 4,
    "x_group_sequential" -> 4,
    "x_mahalanobis_outliers" -> 1,
    "x_regression_discontinuity" -> 4,
    "x_dedup_exact" -> 2,
    "x_dedup_minhash" -> 2,
    "x_fuzzy_pieces_d2" -> 2,
    // r21 optimization re-pins (reviewed): hits 4 -> 2 folds each
    // half-step's L1 total into the checkpoint job via Dataset.observe —
    // the per-half-step scalar-aggregate exchange + crossJoin broadcast
    // left the plan entirely (the two remaining exchanges are the final
    // join + sort); recs 14 -> 16 replaces the two separate era grains
    // (each behind its own checkpoint, hiding its exchanges) with ONE
    // era-conditional (c, sp) grain whose consumers are visible folds —
    // two MORE exchanges are visible while the fact join now runs once
    // instead of twice (34 -> 29 jobs, one fact pass saved at scale)
    "x_hits" -> 2,
    "x_hll_set_ops" -> 4,
    "x_pagerank" -> 6,
    "x_recs_holdout_eval" -> 16,
    "x_sim_topk" -> 2,
    "x_text_stats" -> 2,
    "x_tfidf_terms" -> 6)

  test("headline, heavy and fresh-tier shuffle counts match the pinned plan shapes") {
    val drift = counts.toSeq.sortBy(_._1).flatMap { case (n, c) =>
      pinned.get(n) match {
        case Some(p) if p == c => None
        case Some(p) => Some(s"$n: pinned $p, now $c")
        case None => Some(s"$n: unpinned (count $c)")
      }
    }
    val stale = (pinned.keySet -- counts.keySet).toSeq.sorted
    assert(drift.isEmpty && stale.isEmpty,
      s"shuffle-count drift:\n${drift.mkString("\n")}" +
        (if (stale.nonEmpty) s"\nstale pins: $stale" else "") +
        s"\ncurrent counts for re-pinning:\n" +
        counts.toSeq.sorted.map { case (n, c) => s"    \"$n\" -> $c," }
          .mkString("\n"))
  }
}
