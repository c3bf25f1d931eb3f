"""Mathematical invariants of the round-5c/5d operator families
(preference QA, classifier evals, inference/causal statistics,
retrieval agreement, time-series exacts, DP release, factorization).

The oracle parity test proves cross-engine agreement; these prove the
algorithms satisfy the laws that make their outputs meaningful:
Bradley-Terry recovers the planted signal and conserves normalization,
isotonic equals classic PAVA, Shapley satisfies efficiency, the
Aalen-Johansen curves partition unity, DTW and the binseg argmax match
exact reference computations, the SVT budget halts, and rank-1 ALS
beats the global-mean baseline.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from alma_publish_to_marc_spark import tables

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def q(spark):
    import __spark_entry__ as e

    qs = e.queries()
    return lambda name: qs[name](spark, SF_SMOKE)


def test_bradley_terry_recovers_length_signal(spark, q):
    # Votes are generated as len_a + noise > len_b, so a source's true
    # strength is monotone in its mean document length. The fitted
    # top-5 mean length must exceed the bottom-5 mean length — BT
    # recovering the planted signal, not noise.
    rows = q("bradley_terry_strength").collect()
    tables.release()
    from alma_publish_to_marc_spark.tables import load

    mean_len = dict(load(spark, SF_SMOKE, "documents")
                    .groupBy("source")
                    .agg(F.avg("n_chars").alias("m")).collect())
    ranked = sorted(rows, key=lambda r: r["rank"])
    top = sum(mean_len[r["model"]] for r in ranked[:5]) / 5
    bottom = sum(mean_len[r["model"]] for r in ranked[-5:]) / 5
    assert top > bottom


def test_bradley_terry_normalization_and_games(spark, q):
    rows = q("bradley_terry_strength").collect()
    tables.release()
    k = len(rows)
    # mean-1e6 renormalization: floor errors lose < 1 unit per model
    assert k * 1_000_000 - k <= sum(r["strength_e6"] for r in rows) \
        <= k * 1_000_000
    # every game has one winner: total wins == total games / 2
    assert sum(r["wins"] for r in rows) * 2 == sum(r["n_games"]
                                                   for r in rows)
    assert all(r["wins"] <= r["n_games"] for r in rows)


def test_wilson_bound_is_a_lower_bound(spark, q):
    rows = q("pairwise_winrate_wilson").collect()
    for r in rows:
        assert 0 <= r["wilson_lb_e6"] <= r["winrate_e6"]
        assert r["wins_m1"] <= r["n_votes"]


def test_kappa_bounded_and_consistent_with_agreement(spark, q):
    rows = q("annotator_agreement_kappa").collect()
    assert {r["pair"] for r in rows} == {"h0~h1", "h0~h2", "h1~h2"}
    for r in rows:
        assert -1_000_000 <= r["kappa_e6"] <= 1_000_000
        assert 0 <= r["agree"] <= r["n_items"]


def test_fleiss_kappa_identity(spark, q):
    r = q("fleiss_kappa_items").collect()[0]
    # kappa == (p_bar - p_e) / (1 - p_e) up to e6 floor error
    pb, pe, kap = (r["p_bar_e6"] / 1e6, r["p_e_e6"] / 1e6,
                   r["kappa_e6"] / 1e6)
    assert abs(kap - (pb - pe) / (1 - pe)) < 1e-4
    assert -1 <= kap <= 1


def test_length_bias_monotone_signal(spark, q):
    # The vote rule is len_a + U[-30,30] > len_b, so once the gap
    # exceeds 30 the longer side wins EVERY vote; the top bucket must
    # be saturated and every rate must be a valid probability.
    rows = {r["bucket"]: r for r in q("preference_length_bias").collect()}
    for r in rows.values():
        assert 0 <= r["winrate_e6"] <= 1_000_000
        assert r["longer_wins"] <= r["n_votes"]
    assert rows[8]["winrate_e6"] == 1_000_000  # gap >= 200 >> 30


def test_transitivity_triads_partition(spark, q):
    r = q("preference_transitivity_audit").collect()[0]
    tables.release()
    # with the generator's strong length signal the majority
    # tournament is near-total-order: cyclic triads are a small
    # minority of decided triangles
    assert r["n_cyclic"] + r["n_transitive"] > 0
    assert r["n_cyclic"] <= r["n_transitive"]
    assert r["n_edges"] + r["n_tied_pairs"] <= \
        r["n_models"] * (r["n_models"] - 1) // 2


def test_position_bias_pooled_is_weighted_mean(spark, q):
    rows = q("annotator_position_bias").collect()
    n = sum(r["n_votes"] for r in rows)
    a = sum(r["a_votes"] for r in rows)
    pooled = rows[0]["pooled_rate_e6"]
    assert pooled == 1_000_000 * a // n
    assert sum(r["skew_e6"] * r["n_votes"] for r in rows) // n \
        in range(-3, 4)  # weighted skews cancel up to floor error


def test_isotonic_calibration_matches_pava_and_is_monotone(spark, q):
    # The minimax identity must equal classic pool-adjacent-violators
    # run on the same bins, the fit must be monotone nondecreasing,
    # and isotonic regression preserves total positive mass.
    rows = sorted(q("isotonic_calibration").collect(),
                  key=lambda r: r["bin"])
    tables.release()
    iso = [r["iso_e6"] for r in rows]
    assert iso == sorted(iso)
    assert all(0 <= v <= 1_000_000 for v in iso)

    # reference PAVA (weighted) on the collected bins
    blocks = [[r["pos"], r["n_docs"]] for r in rows]
    merged: list[list[int]] = []
    for b in blocks:
        merged.append(list(b))
        while len(merged) > 1 and (merged[-2][0] * merged[-1][1]
                                   >= merged[-1][0] * merged[-2][1]):
            p2, n2 = merged.pop()
            merged[-1][0] += p2
            merged[-1][1] += n2
    # expand blocks back to bins
    ref: list[float] = []
    bi = 0
    for p, n in merged:
        cnt = 0
        while bi < len(blocks) and cnt < n:
            cnt += blocks[bi][1]
            ref.append(p / n)
            bi += 1
    assert len(ref) == len(rows)
    for got, want in zip(iso, ref):
        assert abs(got - int(want * 1_000_000)) <= 2

    mass_iso = sum(r["n_docs"] * r["iso_e6"] for r in rows)
    mass_raw = sum(r["pos"] for r in rows) * 1_000_000
    assert abs(mass_iso - mass_raw) <= len(rows) * max(
        r["n_docs"] for r in rows)


def test_negative_sampling_table_is_a_distribution(spark, q):
    rows = sorted(q("negative_sampling_table").collect(),
                  key=lambda r: (-r["cnt"], r["token"]))
    probs = [r["prob_e6"] for r in rows]
    assert probs == sorted(probs, reverse=True)  # monotone in count
    assert rows[-1]["cum_e6"] <= 1_000_000
    assert rows[-1]["cum_e6"] >= 1_000_000 - len(rows)
    # 3/4 power flattens the head: top token's probability share must
    # be strictly below its raw frequency share
    tot_cnt = sum(r["cnt"] for r in rows)
    assert probs[0] < 1_000_000 * rows[0]["cnt"] // tot_cnt + 1


def test_wasserstein_shift_bounds(spark, q):
    from alma_publish_to_marc_spark.plans import dq_queries as DQ

    rows = q("wasserstein_source_shift").collect()
    tables.release()
    assert len(rows) == 20
    for r in rows:
        assert 0 <= r["ks_e6"] <= 1_000_000
        assert r["ks_e6"] <= r["w1_e6"]
        assert r["w1_e6"] <= DQ.WASS_BUCKETS * 1_000_000


def test_brier_decomposition_identity_and_bounds(spark, q):
    r = q("brier_decomposition").collect()[0]
    for c in ("brier_e6", "rel_e6", "res_e6", "unc_e6"):
        assert 0 <= r[c] <= 1_000_000, c
    # resolution cannot exceed uncertainty (law of total variance)
    assert r["res_e6"] <= r["unc_e6"] + 1
    # Murphy identity up to within-bin prediction variance (binning
    # discards it; the scores are tightly clustered so it is small)
    lhs = r["brier_e6"]
    rhs = r["rel_e6"] - r["res_e6"] + r["unc_e6"]
    assert abs(lhs - rhs) < 50_000


def test_greedy_coverage_is_submodular(spark, q):
    rows = sorted(q("greedy_coverage_selection").collect(),
                  key=lambda r: r["rank"])
    tables.release()
    gains = [r["gain"] for r in rows]
    assert gains == sorted(gains, reverse=True)  # diminishing returns
    cum = 0
    for r in rows:
        cum += r["gain"]
        assert r["cum_covered"] == cum
        assert 0 <= r["coverage_e6"] <= 1_000_000
    assert len({r["doc_id"] for r in rows}) == len(rows)


def test_roc_curve_monotone_and_conserved(spark, q):
    rows = sorted(q("roc_curve_points").collect(), key=lambda r: r["k"])
    tprs = [r["tpr_e6"] for r in rows]
    fprs = [r["fpr_e6"] for r in rows]
    # raising the threshold can only shrink the predicted-positive set
    assert tprs == sorted(tprs, reverse=True)
    assert fprs == sorted(fprs, reverse=True)
    # endpoints: threshold at min selects everything; past max, nothing
    assert tprs[0] == 1_000_000 and fprs[0] == 1_000_000
    assert tprs[-1] == 0 and fprs[-1] == 0
    pp = rows[0]["tp"] + rows[0]["fn"]
    nn = rows[0]["tp"] + rows[0]["fn"] + rows[0]["fp"] + rows[0]["tn"]
    for r in rows:
        assert r["tp"] + r["fn"] == pp  # actual positives conserved
        assert r["tp"] + r["fn"] + r["fp"] + r["tn"] == nn
        assert 0 <= r["f1_e6"] <= 1_000_000
        assert r["youden_e6"] == r["tpr_e6"] - r["fpr_e6"]


def test_fairness_audit_gaps_cancel(spark, q):
    rows = q("fairness_group_audit").collect()
    tables.release()
    assert len(rows) == 20
    nn = sum(r["n_docs"] for r in rows)
    for r in rows:
        for c in ("pos_rate_e6", "tpr_e6", "fpr_e6"):
            assert 0 <= r[c] <= 1_000_000, c
        assert -1_000_000 <= r["dp_gap_e6"] <= 1_000_000
    # group rates weighted by size must average back to the pooled
    # rate (up to per-group e6 floor error)
    assert abs(sum(r["n_docs"] * r["dp_gap_e6"] for r in rows)) <= 2 * nn


def test_map_ops_suite_consistent_with_counts(spark, q):
    rows = q("map_ops_suite").collect()
    assert rows
    for r in rows:
        assert r["boosted"] >= 4 and r["boosted"] % 2 == 0
        assert r["n_types"] >= 1
        assert r["total_events"] >= r["boosted"] // 2


def test_forecast_backtest_shapes(spark, q):
    rows = q("forecast_backtest_mase").collect()
    tables.release()
    assert len(rows) == 5  # one per event type
    for r in rows:
        assert r["n_test"] == 7
        assert r["n_train"] >= 14
        assert 0 <= r["smape_e6"] <= 2_000_000  # sMAPE is bounded by 2
        # cross-multiplied MASE identity
        if r["sae_naive"] > 0:
            assert r["mase_e6"] == (1_000_000 * r["sae_model"]
                                    * r["n_train"]) \
                // (r["sae_naive"] * r["n_test"])


def test_preference_end2end_consistent_with_parts(spark, q):
    rows = q("preference_qa_end2end").collect()
    tables.release()
    assert len(rows) == 20
    assert sorted(r["rank"] for r in rows) == list(range(1, 21))
    kmin = rows[0]["kappa_min_e6"]
    for r in rows:
        assert r["kappa_min_e6"] == kmin  # one corpus-level gate
        assert 0 <= r["edge_win_share_e6"] <= 1_000_000
        assert r["edge_wins"] <= r["edges"]
    # BT rank and raw edge dominance must broadly agree: the top-rank
    # model wins a majority of its decided edges
    top = min(rows, key=lambda r: r["rank"])
    assert top["edge_win_share_e6"] >= 500_000


def test_cuped_moment_consistency(spark, q):
    r = q("cuped_variance_reduction").collect()[0]
    assert r["n_t"] + r["n_c"] == r["n_users"]
    assert 0 <= r["var_reduction_e6"] <= 1_000_000


def test_personalized_pagerank_localizes_mass(spark, q):
    rows = q("personalized_pagerank").collect()
    seeds = [r for r in rows if r["is_seed"] == 1]
    assert len(seeds) == 5
    total = sum(r["ppr_tera"] for r in rows)
    assert total <= 1_000_000_000_000  # floors only leak mass down
    # restart localization: seed nodes hold far more than their
    # population share of the mass
    seed_mass = sum(r["ppr_tera"] for r in seeds)
    assert seed_mass * len(rows) > 5 * total


def test_median_ci_brackets_exact_median(spark, q):
    from alma_publish_to_marc_spark.tables import load

    rows = {r["event_type"]: r for r in
            q("median_ci_order_stats").collect()}
    ev = (load(spark, SF_SMOKE, "events")
          .select("event_type",
                  F.expr("cast(round(value * 1000, 0) as bigint)")
                  .alias("vm")).collect())
    by_type: dict = {}
    for r in ev:
        by_type.setdefault(r["event_type"], []).append(r["vm"])
    for t, vals in by_type.items():
        vals.sort()
        lower_median = vals[(len(vals) + 1) // 2 - 1]
        got = rows[t]
        assert got["median_m"] == lower_median
        assert got["ci_lo_m"] <= got["median_m"] <= got["ci_hi_m"]
        assert got["lo_rank"] <= got["med_rank"] <= got["hi_rank"]


def test_prf_expansion_output_shape(spark, q):
    rows = sorted(q("prf_query_expansion").collect(),
                  key=lambda r: r["rank"])
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # the expanded query matches at most seed+expansion terms
    assert all(1 <= r["n_terms_matched"] <= 6 for r in rows)
    assert all(r["newly_retrieved"] in (0, 1) for r in rows)


def test_kendall_tau_bounds_and_pair_identity(spark, q):
    rows = q("kendall_tau_rankings").collect()
    assert len(rows) == 5
    for r in rows:
        assert r["concordant"] + r["discordant"] == \
            r["n_common"] * (r["n_common"] - 1) // 2
        assert -1_000_000 <= r["tau_e6"] <= 1_000_000


def test_motif_beats_discord(spark, q):
    rows = q("timeseries_motif_discovery").collect()
    tables.release()
    assert len(rows) == 5
    for r in rows:
        # the motif is the best pair anywhere, so it is at least as
        # good as the discord window's best partner
        assert r["motif_corr_e6"] >= r["discord_corr_e6"]
        assert -1_000_000 <= r["discord_corr_e6"] \
            <= r["motif_corr_e6"] <= 1_000_000
        assert r["motif_s2"] >= r["motif_s1"] + 5  # non-overlap


def test_eb_shrinkage_pulls_toward_grand_mean(spark, q):
    rows = q("empirical_bayes_shrinkage").collect()
    tables.release()
    assert len(rows) == 20
    nn = sum(r["n_docs"] for r in rows)
    grand_e3 = sum(r["n_docs"] * r["raw_mean_e3"] for r in rows) // nn
    for r in rows:
        assert 0 <= r["weight_e6"] <= 1_000_000
        # shrunk mean lies between raw mean and the grand mean
        lo = min(r["raw_mean_e3"], grand_e3) - 1000
        hi = max(r["raw_mean_e3"], grand_e3) + 1000
        assert lo <= r["shrunk_mean_e3"] <= hi


def test_permutation_test_pvalue_is_valid(spark, q):
    r = q("permutation_test_pvalue").collect()[0]
    assert r["k_perms"] == 19
    assert 0 <= r["n_extreme"] <= r["k_perms"]
    # p in (0, 1]: the +1 correction makes p >= 1/(K+1) = 5%
    assert 50_000 <= r["p_value_e6"] <= 1_000_000
    # arm split is random (user_id % 2 vs random value), so the
    # observed delta should NOT be extreme: p above the 5% floor
    assert r["p_value_e6"] > 50_000


def test_stratified_att_accounts_strata(spark, q):
    r = q("stratified_att_estimate").collect()[0]
    assert r["n_treated"] > 0 and r["n_control"] > 0
    assert 1 <= r["n_strata_used"] <= 10
    assert r["n_strata_used"] + r["n_strata_dropped"] <= 10


def test_bh_correction_step_up_property(spark, q):
    rows = sorted(q("fdr_bh_correction").collect(),
                  key=lambda r: r["bh_rank"])
    assert len(rows) == 5
    ps = [r["p_e6"] for r in rows]
    assert ps == sorted(ps)  # ranked by p
    # rejections form a prefix of the p-ordered list (step-up)
    flags = [r["rejected"] for r in rows]
    assert flags == sorted(flags, reverse=True)
    for r in rows:
        assert 1 <= r["p_num"] <= r["p_den"]


def test_sparse_vector_budget_semantics(spark, q):
    rows = sorted(q("dp_sparse_vector").collect(),
                  key=lambda r: r["day_rel"])
    released = [r for r in rows if r["released"] == 1]
    assert len(released) <= 3  # the budget cap
    # once the budget is spent, nothing is queried or released again
    spent = False
    count = 0
    for r in rows:
        assert r["queried"] == (0 if spent else 1)
        count += r["released"]
        if count >= 3:
            spent = True
        # suppressed days carry no answer; released days carry one
        assert (r["dp_answer"] is not None) == (r["released"] == 1)


def test_shapley_efficiency_axiom(spark, q):
    rows = q("shapley_channel_attribution").collect()
    assert len(rows) == 4
    # efficiency: attributions sum exactly to v(full) - v(empty)
    # (numerators carry denominator 4! = 24)
    total_num = sum(r["shapley_num"] for r in rows)
    assert total_num == 24 * (rows[0]["v_full"] - rows[0]["v_empty"])
    # monotone game: v is a containment count, so phi >= 0
    assert all(r["shapley_num"] >= 0 for r in rows)


def test_binseg_split_is_exact_argmax(spark, q):
    from alma_publish_to_marc_spark.tables import load

    rows = {r["event_type"]: r for r in q("binseg_changepoint").collect()}
    tables.release()
    # brute-force the same argmax in Python on the densified series
    ev = (load(spark, SF_SMOKE, "events")
          .select("event_type",
                  F.expr("unix_micros(cast(ts as timestamp))"
                         " div 86400000000").alias("day")).collect())
    series: dict = {}
    days = [r["day"] for r in ev]
    mind, maxd = min(days), max(days)
    for r in ev:
        series.setdefault(r["event_type"], [0] * (maxd - mind + 1))
        series[r["event_type"]][r["day"] - mind] += 1
    from fractions import Fraction
    for t, xs in series.items():
        n = len(xs)
        best_d, best_v = None, None
        s1 = 0
        for d in range(n - 1):
            s1 += xs[d]
            s2 = sum(xs) - s1
            v = Fraction(s1 * s1, d + 1) + Fraction(s2 * s2, n - d - 1)
            if best_v is None or v > best_v:
                best_d, best_v = d, v
        assert rows[t]["split_day"] == best_d, t
        assert rows[t]["delta_sse_e6"] >= 0


def test_dtw_matches_reference_dp(spark, q):
    from alma_publish_to_marc_spark.tables import load

    rows = {(r["type_a"], r["type_b"]): r
            for r in q("dtw_series_distance").collect()}
    tables.release()
    assert len(rows) == 10
    # rebuild the normalized series and check one pair against a
    # textbook O(n^2) DTW in Python
    ev = (load(spark, SF_SMOKE, "events")
          .select("event_type",
                  F.expr("unix_micros(cast(ts as timestamp))"
                         " div 86400000000").alias("day")).collect())
    days = [r["day"] for r in ev]
    mind, maxd = min(days), max(days)
    series: dict = {}
    for r in ev:
        series.setdefault(r["event_type"], [0] * (maxd - mind + 1))
        series[r["event_type"]][r["day"] - mind] += 1

    def norm(xs):
        s = max(sum(xs), 1)
        return [(v * 1000 * len(xs)) // s for v in xs]

    def dtw(xs, ys):
        big = 10 ** 18
        prev = [0] + [big] * len(ys)
        for i in range(1, len(xs) + 1):
            cur = [big]
            for j in range(1, len(ys) + 1):
                cur.append(abs(xs[i - 1] - ys[j - 1])
                           + min(prev[j], prev[j - 1], cur[j - 1]))
            prev = cur
        return prev[-1]

    for (ta, tb), r in rows.items():
        want = dtw(norm(series[ta]), norm(series[tb]))
        assert r["dtw_cost"] == want, (ta, tb)
        assert r["dtw_cost"] >= 0


def test_aalen_johansen_identity(spark, q):
    rows = sorted(q("competing_risks_incidence").collect(),
                  key=lambda r: r["t"])
    assert rows
    for r in rows:
        s_after = r["s_minus"] * (1 - (r["d_convert"] + r["d_churn"])
                                  / r["n_risk"])
        # the AJ construction: incidences + survival partition unity
        assert abs(r["cif_convert"] + r["cif_churn"] + s_after - 1.0) \
            < 1e-4
        assert 0 <= r["cif_convert"] <= 1 and 0 <= r["cif_churn"] <= 1
    # CIFs are nondecreasing in t
    for a, b in zip(rows, rows[1:]):
        assert b["cif_convert"] >= a["cif_convert"] - 1e-9
        assert b["cif_churn"] >= a["cif_churn"] - 1e-9


def test_slo_alert_requires_both_windows(spark, q):
    rows = q("slo_burn_rate_alerts").collect()
    tables.release()
    assert len(rows) == 30
    for r in rows:
        assert r["alert"] == (r["burn1_e6"] > 1_000_000
                              and r["burn7_e6"] > 1_000_000)
        assert r["errs"] <= r["total"]


def test_posting_gamma_beats_flat_for_frequent_terms(spark, q):
    rows = q("posting_gap_stats").collect()
    assert rows
    # Elias-gamma identity per row and compression on dense lists
    for r in rows:
        assert r["flat_bits"] == 64 * r["df"]
        assert r["gamma_bits"] >= 64 + (r["df"] - 1)  # >=1 bit per gap
    dense = [r for r in rows if r["df"] >= 100]
    assert dense and all(r["ratio_e6"] < 1_000_000 for r in dense)


def test_als_rank1_beats_global_mean(spark, q):
    r = q("als_rank1_sweep").collect()[0]
    tables.release()
    assert r["n_ratings"] > 0
    # even rank-1 personalization must beat the global-mean predictor
    assert r["mse_model_e3"] < r["mse_baseline_e3"]
    assert r["u_checksum"] != 0 and r["v_checksum"] != 0


def test_silhouette_bounds_and_panel(spark, q):
    rows = q("kmeans_silhouette_sampled").collect()
    tables.release()
    assert len(rows) == 20  # 500 vecs / 25
    for r in rows:
        assert -1_000_000 <= r["silhouette_e6"] <= 1_000_000
        assert r["a_q2"] >= 0 and r["b_q2"] >= 0
        # sign consistency: s > 0 iff the own cell is closer
        if r["silhouette_e6"] > 0:
            assert r["b_q2"] >= r["a_q2"]


def test_overdispersion_identity(spark, q):
    rows = q("overdispersion_check").collect()
    tables.release()
    assert len(rows) == 5
    for r in rows:
        assert r["dispersion_e6"] >= 0
        assert r["overdispersed"] == (r["dispersion_e6"] > 1_000_000)


def test_chi2_residuals_marginals(spark, q):
    rows = q("chi2_cell_residuals").collect()
    tables.release()
    assert len(rows) == 35  # 5 types x 7 dows
    n = sum(r["observed"] for r in rows)
    # expectations reproduce the total up to per-cell floor error
    assert abs(sum(r["expected_e3"] for r in rows) - 1000 * n) \
        <= len(rows)


def test_seasonal_decomposition_additivity(spark, q):
    rows = q("seasonal_decomposition").collect()
    assert len(rows) == 120  # 5 types x 24 full-window days
    for r in rows:
        # additivity: 1000*x == trend + seasonal + remainder exactly
        # (the decomposition DEFINES remainder as the difference)
        assert 1000 * r["x"] == (r["trend_e3"] + r["seasonal_e3"]
                                 + r["remainder_e3"])


def test_packing_efficiency_bounds(spark, q):
    rows = q("packing_efficiency_audit").collect()
    assert rows
    for r in rows:
        assert r["nfd_bins"] >= r["lb_bins"] >= 1
        assert 0 < r["efficiency_e6"] <= 1_000_000
        # next-fit waste is bounded: frag < bins * budget
        assert 0 <= r["frag_tokens"] < r["nfd_bins"] * 256


def test_extremeness_compare_kernel_exact_at_large_magnitudes(spark, duck):
    # The quotient-then-remainder comparison must agree with exact
    # Fraction arithmetic at magnitudes where the naive |a|*d0 cross-
    # multiplication overflows int64 (the 10x scale probe caught that).
    from fractions import Fraction

    cases = [
        (2**61, 3, 2**61 - 1, 3),
        (2**61, 3, (2**61) // 3 * 5, 5),
        (7 * 10**17, 56_250_000, 7 * 10**17 - 1, 56_250_000),
        (123456789012345678, 999983, 123456789012345678, 999979),
        (5, 7, 4, 7),
    ]
    expr = ("case when {a} / {d} > {a0} / {d0} then 1"
            " when {a} / {d} = {a0} / {d0}"
            " and ({a} % {d}) * {d0} >= ({a0} % {d0}) * {d}"
            " then 1 else 0 end")
    for a, d, a0, d0 in cases:
        want = int(Fraction(a, d) >= Fraction(a0, d0))
        sq = expr.format(a=a, d=d, a0=a0, d0=d0)
        got_spark = spark.sql(
            "select " + sq.replace("/", "div") + " as v").collect()[0][0]
        got_duck = duck.execute(
            "select " + sq.replace("/", "//") + " as v").fetchone()[0]
        assert got_spark == got_duck == want, (a, d, a0, d0)


def test_twa_reference_integral(spark, q):
    from alma_publish_to_marc_spark.tables import load

    rows = {r["event_type"]: r
            for r in q("time_weighted_average").collect()}
    ev = (load(spark, SF_SMOKE, "events")
          .select("event_type",
                  F.expr("unix_micros(cast(ts as timestamp))").alias("t"),
                  F.expr("cast(round(value * 1000, 0) as bigint)")
                  .alias("vm"), "event_id").collect())
    series: dict = {}
    for r in ev:
        series.setdefault(r["event_type"], []).append(
            (r["t"], r["event_id"], r["vm"]))
    import math
    for ty, pts in series.items():
        pts.sort()
        trap2 = sum((pts[i + 1][0] - pts[i][0])
                    * (pts[i][2] + pts[i + 1][2])
                    for i in range(len(pts) - 1))
        span = pts[-1][0] - pts[0][0]
        assert rows[ty]["twa_e3"] == math.floor(trap2 / (2.0 * span))
        assert rows[ty]["n_samples"] == len(pts)
