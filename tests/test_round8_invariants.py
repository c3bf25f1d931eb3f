"""Semantic invariants for the round-8 query families — properties
that must hold regardless of data (the oracle gate proves cross-engine
equality; these prove the answers make sense)."""

from __future__ import annotations

from alma_publish_to_marc_spark import tables

SF = "/root/testdata/sf0.001"


def test_grid_neighbor_join_counts_are_consistent(spark):
    from alma_publish_to_marc_spark.plans.spatial_queries import (
        grid_neighbor_join,
    )
    from alma_publish_to_marc_spark.tables import load

    rows = grid_neighbor_join(spark, SF).collect()
    n_events = load(spark, SF, "events").count()
    assert sum(r["n_points"] for r in rows) == n_events
    # directed neighbor counts double-count each unordered pair
    assert sum(r["sum_neighbors"] for r in rows) % 2 == 0


def test_quadtree_rollup_is_a_pyramid(spark):
    from alma_publish_to_marc_spark.plans.spatial_queries import (
        quadtree_tile_rollup,
    )

    rows = {r["level_bits"]: r for r in
            quadtree_tile_rollup(spark, SF).collect()}
    bits = sorted(rows, reverse=True)
    for hi, lo in zip(bits, bits[1:]):
        # coarser levels have fewer tiles and denser max tiles
        assert rows[lo]["n_tiles"] <= rows[hi]["n_tiles"]
        assert rows[lo]["max_tile"] >= rows[hi]["max_tile"]


def test_hotspot_scores_are_ranked(spark):
    from alma_publish_to_marc_spark.plans.spatial_queries import (
        HOT_TOPK, spatial_hotspot_cells,
    )

    rows = spatial_hotspot_cells(spark, SF).collect()
    assert len(rows) == HOT_TOPK
    gis = [r["gi_e6"] for r in rows]
    assert gis == sorted(gis, reverse=True)
    assert gis[0] > 0  # the top hotspot is above the lattice mean


def test_boruvka_forest_is_bounded(spark):
    from alma_publish_to_marc_spark.plans.spatial_queries import (
        SP_R2, boruvka_lightest_edges,
    )
    from alma_publish_to_marc_spark.tables import load

    rows = boruvka_lightest_edges(spark, SF).collect()
    n_edges = sum(r["n_edges"] for r in rows)
    n_nodes = load(spark, SF, "events").count()
    assert 1 <= n_edges <= n_nodes  # a forest of lightest picks
    assert all(0 <= r["w_bucket"] * 32 <= SP_R2 for r in rows)


def test_bloom_has_no_false_negatives(spark):
    from alma_publish_to_marc_spark.plans.storage_queries import (
        BF_FILES, file_bloom_skip_audit,
    )

    rows = file_bloom_skip_audit(spark, SF).collect()
    assert rows
    for r in rows:
        # the defining bloom property: every true file passes
        assert r["files_passed"] >= r["files_true"], r
        assert r["false_passes"] >= 0
        assert r["files_passed"] + r["files_skipped"] == BF_FILES


def test_ucb1_order_is_a_permutation(spark):
    from alma_publish_to_marc_spark.plans.decision_queries import (
        ucb1_arm_ranking,
    )

    rows = ucb1_arm_ranking(spark, SF).collect()
    assert sorted(r["pull_order"] for r in rows) == list(
        range(1, len(rows) + 1))
    by_order = sorted(rows, key=lambda r: r["pull_order"])
    scores = [r["ucb_e6"] for r in by_order]
    assert scores == sorted(scores, reverse=True)


def test_successive_halving_schedule(spark):
    from alma_publish_to_marc_spark.plans.decision_queries import (
        successive_halving_plan,
    )

    rows = successive_halving_plan(spark, SF).collect()
    import collections

    byr = collections.Counter(r["eliminated_round"] for r in rows)
    n = len(rows)
    # round r halves the survivors (keep ceil(n/2))
    alive = n
    for r in range(3):
        kept = (alive + 1) // 2
        assert byr[r] == alive - kept, (r, dict(byr))
        alive = kept
    assert byr[-1] == alive


def test_bh_rejections_are_a_prefix(spark):
    from alma_publish_to_marc_spark.plans.inference_queries import (
        _permutation_bh_fdr,
    )

    rows = sorted(_permutation_bh_fdr(spark, SF).collect(),
                  key=lambda r: r["pos"])
    for r in rows:
        assert 0 < r["p_e6"] <= 1_000_000
    flags = [r["rejected"] for r in rows]
    # step-up: rejections form a prefix of the p-ordered list
    assert flags == sorted(flags, reverse=True)


def test_mutual_information_bounds(spark):
    from alma_publish_to_marc_spark.plans.inference_queries import (
        _mutual_information,
    )

    for r in _mutual_information(spark, SF).collect():
        # MI >= 0 up to per-cell flooring slack
        assert r["mi_e9"] >= -r["n_cells"]
        assert r["mi_e9"] <= min(r["h_type_e9"], r["h_feat_e9"]) \
            + r["n_cells"]


def test_erasure_cascade_shares(spark):
    from alma_publish_to_marc_spark.plans.governance_queries import (
        erasure_cascade_audit,
    )

    rows = {r["table_name"]: r for r in
            erasure_cascade_audit(spark, SF).collect()}
    assert set(rows) == {"customer", "orders", "lineitem"}
    for r in rows.values():
        assert 0 <= r["n_erased"] <= r["n_total"]
        assert 0 <= r["share_e6"] <= 1_000_000
    assert rows["orders"]["n_erased"] > 0  # the cascade reaches facts


def test_krippendorff_alpha_detects_agreement(spark):
    from alma_publish_to_marc_spark.plans.eval_queries import (
        _krippendorff_alpha,
    )

    row = _krippendorff_alpha(spark, SF).collect()[0]
    # raters agree on ~80% of labels -> clearly positive alpha, < 1
    assert 200_000 < row["alpha_e6"] < 1_000_000
    assert row["nn"] == 3 * row["units"]


def test_filter_audits_are_ledgers(spark):
    from alma_publish_to_marc_spark.plans.corpus_queries import (
        gopher_rules_audit, repetition_filter_audit,
    )

    rep = repetition_filter_audit(spark, SF).collect()[0]
    assert rep["n_pass"] <= rep["n_docs"]
    for c in ("fail_top2gram", "fail_ttr", "fail_top1"):
        assert 0 <= rep[c] <= rep["n_docs"]
    go = gopher_rules_audit(spark, SF).collect()[0]
    assert go["n_pass"] <= go["n_docs"]
    assert go["n_docs"] == rep["n_docs"]


def test_pass_at_k_is_monotone_in_k(spark):
    from alma_publish_to_marc_spark.plans.eval_queries import _pass_at_k

    rows = {r["k"]: r for r in _pass_at_k(spark, SF).collect()}
    assert rows[1]["pass_at_k_e6"] <= rows[5]["pass_at_k_e6"] \
        <= rows[10]["pass_at_k_e6"]
    assert rows[10]["pass_at_k_e6"] <= 1_000_000


def test_token_packing_fill_and_ceiling(spark):
    from alma_publish_to_marc_spark.plans.corpus_queries import (
        PACK_CAP, token_stream_packing,
    )

    for r in token_stream_packing(spark, SF).collect():
        assert r["n_windows"] == -(-r["total_tokens"] // PACK_CAP)
        assert 0 < r["fill_e6"] <= 1_000_000
        assert 0 <= r["straddling_docs"] <= r["n_docs"]


def test_rbo_is_monotone_and_bounded(spark):
    from alma_publish_to_marc_spark.plans.ir_queries import (
        _rank_biased_overlap,
    )

    rows = sorted(_rank_biased_overlap(spark, SF).collect(),
                  key=lambda r: r["d"])
    xs = [r["x_d"] for r in rows]
    assert xs == sorted(xs)               # prefix intersections grow
    assert all(x <= r["d"] for x, r in zip(xs, rows))
    cums = [r["rbo_cum_e12"] for r in rows]
    assert cums == sorted(cums)           # weights are positive
    assert cums[-1] <= 10 ** 12           # RBO <= 1


def test_hill_estimator_is_positive(spark):
    from alma_publish_to_marc_spark.plans.inference_queries import (
        _hill_tail_index,
    )

    row = _hill_tail_index(spark, SF).collect()[0]
    assert row["hill_e9"] > 0
    assert row["alpha_e6"] > 0
    assert row["xk_cents"] > 0


def test_interval_union_never_exceeds_sum(spark):
    from alma_publish_to_marc_spark.plans.behavior_queries import (
        interval_union_length,
    )
    from alma_publish_to_marc_spark.tables import load
    from pyspark.sql import functions as F

    rows = interval_union_length(spark, SF).collect()
    covered = sum(r["sum_covered_s"] for r in rows)
    raw = (load(spark, SF, "events")
           .select(F.expr("(cast(round(value * 100) as bigint) % 3600"
                          " + 60)").alias("d"))
           .agg(F.sum("d")).collect()[0][0])
    # union length <= sum of interval lengths (overlaps removed)
    assert 0 < covered <= raw


def test_two_hop_reach_dominates_one_hop(spark):
    from alma_publish_to_marc_spark.plans.spatial_queries import (
        two_hop_reachability,
    )

    rows = two_hop_reachability(spark, SF).collect()
    assert rows
    for r in rows:
        assert 1 <= r["n1"] <= r["n_le2"]


def test_pinball_fit_brackets_the_quantile(spark):
    from alma_publish_to_marc_spark.plans.inference_queries import (
        _pinball_quantile_fit,
    )
    from alma_publish_to_marc_spark.tables import load
    from pyspark.sql import functions as F

    rows = {r["event_type"]: r["best_c_cents"]
            for r in _pinball_quantile_fit(spark, SF).collect()}
    exact = (load(spark, SF, "events")
             .groupBy("event_type")
             .agg(F.expr("percentile(round(value * 100), 0.9)")
                   .alias("p90")).collect())
    for r in exact:
        # grid optimum lands within one grid step of the true p90
        assert abs(rows[r["event_type"]] - r["p90"]) <= 250, r


def test_rd_sides_are_populated(spark):
    from alma_publish_to_marc_spark.plans.inference_queries import (
        _regression_discontinuity,
    )

    row = _regression_discontinuity(spark, SF).collect()[0]
    assert row["n_below"] > 0 and row["n_above"] > 0
    assert row["rd_estimate_e6"] == (row["mean_above_e6"]
                                     - row["mean_below_e6"])


def test_divergences_obey_known_inequalities(spark):
    from alma_publish_to_marc_spark.plans.dq_queries import divergence_suite

    r = divergence_suite(spark, SF).collect()[0]
    slack = 2 * r["n_bins"]  # per-bin floor slack
    assert r["kl_e9"] >= -slack
    assert -slack <= r["js_e9"] <= 693_147_181 + slack  # JS <= ln 2
    assert -slack <= r["hellinger2_e9"] <= 10 ** 9 + slack
    assert -slack <= r["tvd_e9"] <= 10 ** 9 + slack
    # Lin's bound: JS <= TVD·ln2 fails only for disjoint supports;
    # with add-one smoothing JS stays below ln2·TVD + slack... keep
    # the cheap universal ones: H^2/2 <= TVD (Le Cam)
    assert r["hellinger2_e9"] // 2 <= r["tvd_e9"] + slack


def test_elasticity_is_negative_where_demand_slopes_down(spark):
    from alma_publish_to_marc_spark.plans.decision_queries import (
        price_elasticity_by_brand,
    )

    rows = price_elasticity_by_brand(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["n"] >= 2
        # slope is finite and sane (|elasticity| < 100)
        assert abs(r["elasticity_e6"]) < 100_000_000


def test_safety_stock_components_compose(spark):
    from alma_publish_to_marc_spark.plans.decision_queries import (
        SS_LEAD_DAYS, safety_stock_reorder,
    )

    for r in safety_stock_reorder(spark, SF).collect():
        assert r["safety_stock_e6"] >= 0
        lower = r["mu_daily_e6"] * SS_LEAD_DAYS + r["safety_stock_e6"]
        # ROP = mu*L + SS up to the floors' 1e-6 slack
        assert abs(r["reorder_point_e6"] - lower) <= SS_LEAD_DAYS + 2


def test_srm_split_is_roughly_even(spark):
    from alma_publish_to_marc_spark.plans.behavior_queries import (
        sample_ratio_mismatch,
    )

    rows = sample_ratio_mismatch(spark, SF).collect()
    assert rows
    flagged = sum(r["srm_flag"] for r in rows)
    # a correct md5 hash split should rarely flag (chi2 > crit on
    # ~5% of days by construction)
    assert flagged <= max(2, len(rows) // 4)
    for r in rows:
        assert r["n0"] > 0 and r["n1"] > 0


def test_vocab_coverage_monotone_in_k(spark):
    from alma_publish_to_marc_spark.plans.lm_queries import (
        vocab_coverage_at_k,
    )

    rows = {r["k"]: r for r in vocab_coverage_at_k(spark, SF).collect()}
    ks = sorted(rows)
    for a, b in zip(ks, ks[1:]):
        assert rows[a]["coverage_e6"] <= rows[b]["coverage_e6"]
        assert rows[a]["n_types"] <= rows[b]["n_types"] <= b
    assert rows[ks[-1]]["coverage_e6"] <= 1_000_000


def test_best_of_n_curve_is_monotone(spark):
    from alma_publish_to_marc_spark.plans.eval_queries import (
        _best_of_n_gain,
    )

    rows = {r["n"]: r["mean_best_e6"]
            for r in _best_of_n_gain(spark, SF).collect()}
    ns = sorted(rows)
    for a, b in zip(ns, ns[1:]):
        assert rows[a] <= rows[b]          # more samples never hurt
    assert rows[ns[-1]] <= 999 * 1_000_000  # scores bounded by 998


def test_denormalization_amplifies_dims_only(spark):
    from alma_publish_to_marc_spark.plans.storage_queries import (
        denormalization_cost_audit,
    )

    rows = {r["table_name"]: r for r in
            denormalization_cost_audit(spark, SF).collect()}
    assert rows["lineitem"]["amplification_e6"] == 1_000_000
    for t in ("orders", "customer", "part", "supplier"):
        # every dim row is repeated per joining fact row
        assert rows[t]["wide_bytes"] >= rows[t]["star_bytes"] // 2
        assert rows[t]["amplification_e6"] > 0


def test_walk_forward_folds_expand(spark):
    from alma_publish_to_marc_spark.plans.timeseries_queries import (
        _walk_forward_splits,
    )

    rows = sorted(_walk_forward_splits(spark, SF).collect(),
                  key=lambda r: r["fold"])
    for a, b in zip(rows, rows[1:]):
        assert a["train_end_day"] < b["train_end_day"]
        assert a["n_train"] <= b["n_train"]   # expanding window
    for r in rows:
        assert r["n_train"] > 0 and r["n_test"] > 0


def test_odds_ratio_ledger_is_consistent(spark):
    from alma_publish_to_marc_spark.plans.inference_queries import (
        _odds_ratio_ci,
    )

    rows = _odds_ratio_ci(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["a"] + r["b"] + r["c"] + r["d"] == rows[0]["a"] \
            + rows[0]["b"] + rows[0]["c"] + rows[0]["d"]
        assert r["or_e6"] > 0 and r["se2_e9"] > 0
        assert r["significant"] in (0, 1)


def test_mcnemar_counts_compose(spark):
    from alma_publish_to_marc_spark.plans.eval_queries import (
        _mcnemar_paired_test,
    )

    r = _mcnemar_paired_test(spark, SF).collect()[0]
    # model B has the easier threshold -> more correct, more c than b
    assert r["b_correct"] >= r["a_correct"]
    assert r["c"] >= r["b"]
    assert 0 <= r["b"] + r["c"] <= r["n"]


def _events_pdf():
    import pandas as pd

    pdf = pd.read_parquet(SF + "/events.parquet",
                          columns=["user_id", "event_type", "value", "ts"])
    pdf["cents"] = (pdf["value"] * 100).round(0).astype("int64")
    return pdf


def test_kruskal_wallis_matches_pandas_reference(spark):
    from alma_publish_to_marc_spark.plans.rank_queries import (
        _kruskal_wallis,
    )

    r = _kruskal_wallis(spark, SF).collect()[0]
    pdf = _events_pdf()
    ranks = pdf["cents"].rank(method="average")
    n = len(pdf)
    s = sum(g.sum() ** 2 / len(g)
            for _, g in ranks.groupby(pdf["event_type"]))
    h = 12.0 * s / (n * (n + 1)) - 3.0 * (n + 1)
    tie3 = int(sum(t ** 3 - t for t in pdf["cents"].value_counts()))
    h_corr = h / (1.0 - tie3 / float(n ** 3 - n))
    assert r["n_events"] == n and r["tie_term"] == tie3
    assert abs(r["h_e6"] / 1e6 - h_corr) < 2e-6


def test_wilcoxon_matches_pandas_reference(spark):
    from alma_publish_to_marc_spark.plans.rank_queries import (
        _wilcoxon_signed_rank,
    )

    r = _wilcoxon_signed_rank(spark, SF).collect()[0]
    pdf = _events_pdf()
    # normalize whatever unit pyarrow handed pandas to integer micros
    us = pdf["ts"].astype("datetime64[us]").astype("int64")
    day = (us - us.min()) // 86_400_000_000
    x = pdf["cents"].where(day < 15, 0).groupby(pdf["user_id"]).sum()
    y = pdf["cents"].where(day >= 15, 0).groupby(pdf["user_id"]).sum()
    d = (x - y)[lambda s: s != 0]
    ranks = d.abs().rank(method="average")
    wplus = float(ranks[d > 0].sum())
    n = len(d)
    tie3 = int(sum(t ** 3 - t for t in d.abs().value_counts()))
    num = wplus - n * (n + 1) / 4.0
    var = n * (n + 1) * (2 * n + 1) / 24.0 - tie3 / 48.0
    assert r["n_pairs"] == n and r["w_plus_x2"] == int(2 * wplus)
    assert abs(r["z_e6"] / 1e6 - num / var ** 0.5) < 2e-6


def test_levene_matches_pandas_reference(spark):
    from alma_publish_to_marc_spark.plans.rank_queries import (
        _levene_brown_forsythe,
    )

    r = _levene_brown_forsythe(spark, SF).collect()[0]
    pdf = _events_pdf()
    med = pdf.groupby("event_type")["cents"].transform("median")
    z = (pdf["cents"] - med).abs()
    n, k = len(pdf), pdf["event_type"].nunique()
    zbar = z.mean()
    g = z.groupby(pdf["event_type"])
    ss_b = sum(len(gi) * (gi.mean() - zbar) ** 2 for _, gi in g)
    ss_w = sum(((gi - gi.mean()) ** 2).sum() for _, gi in g)
    f = (ss_b / (k - 1)) / (ss_w / (n - k))
    assert r["n_events"] == n and r["k_groups"] == k
    assert abs(r["f_e4"] / 1e4 - f) < 2e-4


def test_cochran_q_exact_rational(spark):
    from alma_publish_to_marc_spark.plans.rank_queries import (
        COCHRAN_CENTS, _cochran_q,
    )

    r = _cochran_q(spark, SF).collect()[0]
    pdf = _events_pdf()
    x = (pdf[pdf["cents"] > COCHRAN_CENTS]
         .groupby(["user_id", "event_type"]).size().clip(upper=1)
         .unstack(fill_value=0))
    k = int(r["k_treatments"])
    cj = x.sum(axis=0)
    ri = x.sum(axis=1)
    assert r["q_num"] == (k - 1) * (k * int((cj ** 2).sum())
                                    - int(cj.sum()) ** 2)
    assert r["q_den"] == k * int(ri.sum()) - int((ri ** 2).sum())
    assert r["q_e6"] == (1_000_000 * r["q_num"]) // r["q_den"]


def test_elo_replay_matches_pure_python(spark):
    import pandas as pd

    from alma_publish_to_marc_spark.plans.preference_queries import (
        ELO_CLAMP, ELO_INIT, ELO_K_MILLI, ELO_MATCHES,
        elo_rating_trajectory,
    )

    rows = elo_rating_trajectory(spark, SF).collect()
    pdf = pd.read_parquet(SF + "/events.parquet")
    pdf["cents"] = (pdf["value"] * 100).round(0).astype("int64")
    pdf["us"] = pdf["ts"].astype("datetime64[us]").astype("int64")
    pdf = pdf.sort_values(["user_id", "us", "event_id"])
    types = sorted(pdf["event_type"].unique())
    matches = []
    for _, g in pdf.groupby("user_id", sort=False):
        prev = None
        for r in g.itertuples():
            if prev is not None and prev.event_type != r.event_type \
                    and prev.cents != r.cents:
                w, l = ((r.event_type, prev.event_type)
                        if r.cents > prev.cents
                        else (prev.event_type, r.event_type))
                matches.append((r.us, r.event_id, w, l))
            prev = r
    matches.sort()
    matches = matches[:ELO_MATCHES]
    rating = {t: ELO_INIT for t in types}
    for _, _, w, l in matches:
        d = rating[w] - rating[l]
        d = max(-ELO_CLAMP, min(ELO_CLAMP, d))
        # Python // == Spark div here: the dividend is >= 0
        delta = (ELO_K_MILLI * (800_000 - (400_000 + d))) // 800_000
        rating[w] += delta
        rating[l] -= delta
    got = {r["player"]: r["rating_milli"] for r in rows}
    assert got == rating
    assert all(r["n_matches"] == len(matches) for r in rows)
    assert sum(got.values()) == ELO_INIT * len(types)  # zero-sum


def test_iv_wald_matches_pandas_reference(spark):
    import math

    import pandas as pd

    from alma_publish_to_marc_spark.plans.inference_queries import (
        _iv_wald_estimate,
    )

    r = _iv_wald_estimate(spark, SF).collect()[0]
    li = pd.read_parquet(SF + "/lineitem.parquet", columns=["l_orderkey"])
    x = li.groupby("l_orderkey").size()
    o = pd.read_parquet(SF + "/orders.parquet",
                        columns=["o_orderkey", "o_custkey", "o_totalprice"])
    o["y"] = ((o["o_totalprice"] * 100).round(0) + 50) // 100
    c = pd.read_parquet(SF + "/customer.parquet",
                        columns=["c_custkey", "c_nationkey"])
    c["z"] = (c["c_nationkey"] < 12).astype("int64")
    b = (o.assign(x=o["o_orderkey"].map(x))
         .merge(c[["c_custkey", "z"]], left_on="o_custkey",
                right_on="c_custkey"))
    b = b.dropna(subset=["x"])
    n = len(b)
    sx, sy, sz = int(b.x.sum()), int(b.y.sum()), int(b.z.sum())
    szy, szx = int((b.z * b.y).sum()), int((b.z * b.x).sum())
    sxy, sxx = int((b.x * b.y).sum()), int((b.x * b.x).sum())
    assert r["n"] == n
    assert r["first_stage_cov"] == n * szx - sz * sx
    assert r["beta_iv_e6"] == math.floor(
        1e6 * float(n * szy - sz * sy) / float(n * szx - sz * sx))
    assert r["beta_ols_e6"] == math.floor(
        1e6 * float(n * sxy - sx * sy) / float(n * sxx - sx * sx))


def test_countsketch_median_is_exact_for_top_terms(spark):
    from alma_publish_to_marc_spark.operators.sketches import (
        countsketch_point_estimate,
    )

    rows = countsketch_point_estimate(spark, SF).collect()
    assert len(rows) == 20
    for r in rows:
        assert r["bias"] == r["est_count"] - r["exact_count"]
        assert r["exact_count"] > 0
    # signed-median cancellation: the estimate can never be more
    # one-sided than a Count-Min read of the same heavy term would be
    # (no guarantee per row, but the panel must not be ALL inflated)
    assert any(r["bias"] <= 0 for r in rows) or \
        all(r["bias"] == 0 for r in rows)


def test_recursive_l_diversity_matches_pandas(spark):
    import pandas as pd

    from alma_publish_to_marc_spark.plans.governance_queries import (
        _RLD_C, _RLD_L, recursive_l_diversity_audit,
    )

    r = recursive_l_diversity_audit(spark, SF).collect()[0]
    c = pd.read_parquet(SF + "/customer.parquet")
    c["bal_c"] = (c["c_acctbal"] * 100).round(0).astype("int64")
    c["decile"] = ((c["bal_c"] + 100_000) * 10 // 1_100_000).clip(upper=9)
    o = pd.read_parquet(SF + "/orders.parquet",
                        columns=["o_custkey", "o_orderpriority"])
    j = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    n_classes = n_under = n_viol = 0
    for _, g in j.groupby(["c_nationkey", "c_mktsegment", "decile"]):
        cnts = sorted(g.groupby("o_orderpriority").size(), reverse=True)
        tot, m, r1 = sum(cnts), len(cnts), cnts[0]
        r2 = cnts[1] if m > 1 else 0
        n_classes += 1
        if m < _RLD_L:
            n_under += 1
        if m < _RLD_L or r1 >= _RLD_C * (tot - r1 - r2):
            n_viol += 1
    assert (r["n_classes"], r["n_under_l_distinct"], r["n_violating"]) \
        == (n_classes, n_under, n_viol)


def test_holt_winters_matches_pure_python(spark):
    import pandas as pd

    from alma_publish_to_marc_spark.plans.timeseries_queries import (
        _HW_M, _HW_SCALE, _holt_winters_additive,
    )

    rows = sorted(_holt_winters_additive(spark, SF).collect(),
                  key=lambda r: r["h"])
    pdf = pd.read_parquet(SF + "/events.parquet", columns=["ts"])
    day = pd.Series(pdf["ts"].astype("datetime64[us]").astype("int64")
                    // 86_400_000_000)
    counts = day.value_counts().sort_index()
    days = range(int(counts.index.min()), int(counts.index.max()) + 1)
    ys = [int(counts.get(d, 0)) * _HW_SCALE for d in days]

    def tdiv(a, b):  # truncating div, matching Spark div / DuckDB //
        q = abs(a) // b
        return q if a >= 0 else -q

    lvl = tdiv(sum(ys[:_HW_M]), _HW_M)
    s = [y - lvl for y in ys[:_HW_M]]
    b = 0
    for d in range(_HW_M, len(ys)):
        j = d % _HW_M
        l_new = tdiv((ys[d] - s[j]) + 4 * (lvl + b), 5)
        b = tdiv((l_new - lvl) + 9 * b, 10)
        s[j] = tdiv((ys[d] - l_new) + 4 * s[j], 5)
        lvl = l_new
    t = len(ys)
    for r in rows:
        assert r["n_days"] == t
        assert r["level_e6"] == lvl and r["trend_e6"] == b
        assert r["forecast_e6"] == lvl + r["h"] * b \
            + s[(t - 1 + r["h"]) % _HW_M]


def test_haar_energy_parseval(spark):
    import pandas as pd

    from alma_publish_to_marc_spark.plans.timeseries_queries import (
        _HAAR_N, _haar_wavelet_energy,
    )

    rows = {r["level"]: r for r in
            _haar_wavelet_energy(spark, SF).collect()}
    assert sorted(rows) == [1, 2, 3, 4, 5]
    for lv, r in rows.items():
        assert r["n_pairs"] == _HAAR_N >> lv
        assert r["energy"] >= 0
    # unnormalized Parseval: 2^L * sum(x^2) == sum_k 2^(L-k) E_k
    #                        + (final approx)^2
    pdf = pd.read_parquet(SF + "/events.parquet", columns=["ts"])
    day = (pdf["ts"].astype("datetime64[us]").astype("int64")
           // 86_400_000_000)
    counts = day.value_counts()
    base = int(counts.index.min())
    xs = [int(counts.get(base + i, 0)) for i in range(_HAAR_N)]
    lhs = (2 ** 5) * sum(x * x for x in xs)
    # recompute final approx by summing all (it's sum of all values)
    approx = sum(xs)
    rhs = sum((2 ** (5 - lv)) * rows[lv]["energy"] for lv in rows) \
        + approx * approx
    assert lhs == rhs


def test_collated_grouping_equals_lower_grouping(spark):
    from alma_publish_to_marc_spark.functions.scalar_queries import (
        _collated_group_counts,
    )
    from alma_publish_to_marc_spark.tables import load
    from pyspark.sql import functions as F

    got = {r["source_canonical"]: r["n_docs"]
           for r in _collated_group_counts(spark, SF).collect()}
    ref = {r["s"]: r["n"] for r in
           load(spark, SF, "documents")
           .groupBy(F.lower("source").alias("s"))
           .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == ref


def test_friedman_matches_pandas_reference(spark):
    import pandas as pd

    from alma_publish_to_marc_spark.plans.rank_queries import (
        _friedman_test,
    )

    r = _friedman_test(spark, SF).collect()[0]
    pdf = _events_pdf()
    cells = (pdf.groupby(["user_id", "event_type"])["cents"].sum()
             .unstack(fill_value=0))
    ranks = cells.rank(axis=1, method="average")
    n, k = cells.shape
    rj = ranks.sum(axis=0)
    a = float((ranks ** 2).to_numpy().sum())
    c = n * k * (k + 1) ** 2 / 4.0
    num = (k - 1) * float(((rj - n * (k + 1) / 2.0) ** 2).sum())
    den = a - c
    assert r["n_blocks"] == n and r["k"] == k
    # engine output is in doubled-rank units: num x4, den x4
    assert abs(r["chi2_num"] / max(r["chi2_den"], 1) - num / den) < 1e-9
    assert r["chi2_e6"] == (1_000_000 * r["chi2_num"]) // r["chi2_den"]


def test_average_precision_matches_pandas(spark):
    import math

    import pandas as pd

    from alma_publish_to_marc_spark.operators.learning import (
        _pr_auc_average_precision,
    )

    r = _pr_auc_average_precision(spark, SF).collect()[0]
    pdf = pd.read_parquet(SF + "/documents.parquet",
                          columns=["n_chars", "lang"])
    pdf["y"] = (pdf["lang"] == "en").astype(int)
    runs = (pdf.groupby("n_chars")
            .agg(cnt=("y", "size"), pos=("y", "sum"))
            .sort_index(ascending=False))
    p_total, n_total = int(runs.pos.sum()), int(runs.cnt.sum())
    cumpos = cumcnt = 0
    ap = 0
    for _, row in runs.iterrows():
        cumpos += int(row.pos)
        cumcnt += int(row.cnt)
        ap += math.floor(1e12 * (float(row.pos) * cumpos)
                         / (float(p_total) * cumcnt))
    assert (r["ap_e12"], r["n_pos"], r["n_total"], r["n_runs"]) \
        == (ap, p_total, n_total, len(runs))
    # AP lives in (0, 1]; length is only a weak lang signal, so it
    # should land near the positive base rate, not at an extreme
    assert 0 < r["ap_e12"] <= 10 ** 12
    assert abs(r["ap_e12"] / 1e12 - p_total / n_total) < 0.25


def test_gbdt_replay_matches_pure_python(spark):
    import pandas as pd

    from alma_publish_to_marc_spark.operators.learning import (
        _GBDT_CUTS, _GBDT_DIMS, _GBDT_ROUNDS, _gbdt_stump_rounds,
    )

    rows = sorted(_gbdt_stump_rounds(spark, SF).collect(),
                  key=lambda r: r["round"])
    emb = pd.read_parquet(SF + "/embeddings.parquet")
    y = [1000 if lb == 0 else 0 for lb in emb["label"]]
    q = [[int(round(float(v) * 1000)) for v in e[:_GBDT_DIMS]]
         for e in emb["embedding"]]

    def tdiv(a, b):
        return abs(a) // b * (1 if a >= 0 else -1)

    cuts = []
    for d in range(_GBDT_DIMS):
        lo = min(r[d] for r in q)
        hi = max(r[d] for r in q)
        for t in range(1, _GBDT_CUTS + 1):
            cuts.append((d, lo + (hi - lo) * t // (_GBDT_CUTS + 1)))
    pred = [0] * len(y)
    for rnd, out in zip(range(1, _GBDT_ROUNDS + 1), rows):
        r = [yy - pp for yy, pp in zip(y, pred)]
        best = None
        for d, thr in cuts:
            left = [i for i in range(len(r)) if q[i][d] <= thr]
            n_l, n_r = len(left), len(r) - len(left)
            if n_l == 0 or n_r == 0:
                continue
            s_l = sum(r[i] for i in left)
            s_r = sum(r) - s_l
            g = (float(s_l) * s_l * n_r + float(s_r) * s_r * n_l) \
                / float(n_l * n_r)
            key = (-g, d, thr)
            if best is None or key < best[0]:
                best = (key, d, thr, n_l, n_r, s_l, s_r)
        _, d, thr, n_l, n_r, s_l, s_r = best
        v_l, v_r = tdiv(s_l, 2 * n_l), tdiv(s_r, 2 * n_r)
        assert (out["dim"], out["thr"], out["leaf_l_e3"],
                out["leaf_r_e3"]) == (d, thr, v_l, v_r), rnd
        pred = [pp + (v_l if q[i][d] <= thr else v_r)
                for i, pp in enumerate(pred)]
        sse = sum((yy - pp) ** 2 for yy, pp in zip(y, pred))
        assert out["sse_after_e6"] == sse
    # boosting must not increase training SSE
    sses = [r["sse_after_e6"] for r in rows]
    assert sses == sorted(sses, reverse=True)


def test_energy_distance_matches_brute_force(spark):
    from alma_publish_to_marc_spark.plans.rank_queries import (
        _energy_distance_two_sample,
    )

    r = _energy_distance_two_sample(spark, SF).collect()[0]
    pdf = _events_pdf()
    x = list(pdf.loc[pdf.event_type == "click", "cents"])
    y = list(pdf.loc[pdf.event_type == "view", "cents"])
    dxy = sum(abs(a - b) for a in x for b in y)
    dxx = sum(abs(a - b) for i, a in enumerate(x) for b in x[i + 1:])
    dyy = sum(abs(a - b) for i, a in enumerate(y) for b in y[i + 1:])
    assert (r["nx"], r["ny"]) == (len(x), len(y))
    assert (r["dxy"], r["dxx"], r["dyy"]) == (dxy, dxx, dyy)
    e = (2.0 * dxy / (len(x) * len(y)) - 2.0 * dxx / len(x) ** 2
         - 2.0 * dyy / len(y) ** 2)
    assert abs(r["energy_m_cents"] / 1000.0 - e) < 2e-3
    assert r["energy_m_cents"] >= 0  # energy distance is nonneg


def test_youden_threshold_is_the_argmax(spark):
    import pandas as pd

    from alma_publish_to_marc_spark.operators.learning import (
        _youden_j_threshold,
    )

    r = _youden_j_threshold(spark, SF).collect()[0]
    pdf = pd.read_parquet(SF + "/documents.parquet",
                          columns=["n_chars", "lang"])
    pdf["y"] = (pdf["lang"] == "en").astype(int)
    p = int(pdf.y.sum())
    n = len(pdf) - p
    best = None
    for thr in sorted(pdf.n_chars.unique()):
        tp = int(pdf.loc[pdf.n_chars >= thr, "y"].sum())
        fp = int((pdf.n_chars >= thr).sum()) - tp
        key = (-(tp * n - fp * p), thr)
        if best is None or key < best[0]:
            best = (key, thr, tp, fp)
    assert (r["threshold"], r["tp"], r["fp"]) == best[1:]


def test_imputation_audit_ledger(spark):
    from alma_publish_to_marc_spark.plans.dq_queries import (
        group_mean_imputation_audit,
    )

    rows = group_mean_imputation_audit(spark, SF).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 < r["n_masked"] < r["n"]       # ~10%, never all/none
        assert r["worst_err"] <= r["abs_err_sum"]
        assert r["impute_cents"] > 0


def test_partition_pruning_is_in_the_plan(spark):
    from alma_publish_to_marc_spark.plans import storage_queries as SQ

    df = SQ.partition_pruning_roundtrip(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    try:
        assert "PartitionFilters" in plan
        import re

        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and "event_type" in m.group(1), m
        # the pruned scan must not carry the partition predicate as a
        # row-group data filter (that would mean pruning didn't bind)
        rows = df.collect()
        assert sum(r["n"] for r in rows) > 0
    finally:
        tables.release()


def test_double_sweep_extends_eccentricity(spark):
    from alma_publish_to_marc_spark.operators.graph_queries import (
        DIAM_ROUNDS, graph_diameter_double_sweep,
    )

    r = graph_diameter_double_sweep(spark, SF).collect()[0]
    # the peripheral restart can never see a SMALLER eccentricity
    assert r["diameter_lb"] >= r["ecc1"]
    assert 0 < r["ecc1"] <= DIAM_ROUNDS
    # both sweeps saturate the same connected component
    assert r["n_reached1"] == r["n_reached2"] > 1
    assert r["far_node"] != r["start_node"]
    tables.release()


def test_rocchio_confusion_is_a_partition(spark):
    from alma_publish_to_marc_spark.operators.learning import (
        _rocchio_centroid_eval,
    )
    from alma_publish_to_marc_spark.tables import load

    rows = _rocchio_centroid_eval(spark, SF).collect()
    n_vecs = load(spark, SF, "embeddings").count()
    assert sum(r["n"] for r in rows) == n_vecs
    for r in rows:
        assert r["correct"] == int(r["true_label"] == r["pred_label"])
    # linear separability sanity: the diagonal dominates chance (10%)
    diag = sum(r["n"] for r in rows if r["correct"] == 1)
    assert diag * 10 > n_vecs


def test_nw_alignment_matches_pure_python(spark):
    import pandas as pd

    from alma_publish_to_marc_spark.plans.timeseries_queries import (
        _NW_GAP, _NW_MATCH, _NW_MISS, _NW_SPLIT, _nw_alignment,
    )

    r = _nw_alignment(spark, SF).collect()[0]
    pdf = pd.read_parquet(SF + "/events.parquet",
                          columns=["ts", "event_type"])
    day = (pdf["ts"].astype("datetime64[us]").astype("int64")
           // 86_400_000_000)
    d = day - day.min()
    dom = {}
    for dd, g in pdf.groupby(d):
        vc = g["event_type"].value_counts()
        best = min((-c, t) for t, c in vc.items())
        dom[int(dd)] = best[1]
    a = [dom[k] for k in sorted(dom) if k < _NW_SPLIT]
    b = [dom[k] for k in sorted(dom) if k >= _NW_SPLIT]
    prev = list(range(0, -len(b) - 1, -1))
    for ai in a:
        new = [prev[0] + _NW_GAP]
        for j, bj in enumerate(b, start=1):
            new.append(max(
                prev[j - 1] + (_NW_MATCH if ai == bj else _NW_MISS),
                prev[j] + _NW_GAP, new[j - 1] + _NW_GAP))
        prev = new
    assert (r["len_a"], r["len_b"], r["nw_score"]) \
        == (len(a), len(b), prev[len(b)])
    # identical sequences would score 2*len; bound sanity
    assert r["nw_score"] <= _NW_MATCH * min(r["len_a"], r["len_b"])


def test_qini_curve_is_anchored_and_consistent(spark):
    from alma_publish_to_marc_spark.plans.behavior_queries import (
        qini_curve_deciles,
    )
    from alma_publish_to_marc_spark.tables import load
    from pyspark.sql import functions as F

    rows = sorted(qini_curve_deciles(spark, SF).collect(),
                  key=lambda r: r["decile"])
    assert [r["decile"] for r in rows] == list(range(1, 11))
    users = (load(spark, SF, "events").groupBy("user_id")
             .agg(F.max((F.col("event_type") == "purchase")
                        .cast("long")).alias("y"))
             .collect())
    n = len(users)
    # depths are monotone and the last point covers everyone
    cums = [r["cum_users"] for r in rows]
    assert cums == sorted(cums) and cums[-1] == n
    for r in rows:
        assert 0 <= r["conv_treat"] <= r["cum_users"]
        assert 0 <= r["conv_ctrl"] <= r["cum_users"]


def test_rmst_matches_km_area(spark):
    from alma_publish_to_marc_spark.plans.behavior_queries import (
        _RMST_TAU, kaplan_meier_churn, rmst_survival,
    )

    r = rmst_survival(spark, SF).collect()[0]
    km = sorted(kaplan_meier_churn(spark, SF).collect(),
                key=lambda x: x["m"])
    # integrate the same step curve in exact e12 fixed-point
    surv, prev_t, area = 10 ** 12, 0, 0
    for row in km:
        if row["m"] > _RMST_TAU:
            break
        area += surv * (min(row["m"], _RMST_TAU) - prev_t)
        surv = surv * (row["n_risk"] - row["churned"]) // row["n_risk"]
        prev_t = row["m"]
    area += surv * (_RMST_TAU - prev_t)
    assert r["rmst_e12_months"] == area
    assert 0 < r["rmst_e12_months"] <= _RMST_TAU * 10 ** 12
    assert 0 <= r["surv_at_tau_e12"] <= 10 ** 12


def test_eoq_scales_with_sqrt_demand(spark):
    from alma_publish_to_marc_spark.plans.decision_queries import (
        EOQ_ORDER_COST_CENTS, eoq_order_quantity,
    )

    rows = eoq_order_quantity(spark, SF).collect()
    assert 0 < len(rows) <= 10
    for r in rows:
        ref = (2 * r["demand"] * EOQ_ORDER_COST_CENTS
               / r["holding_c"]) ** 0.5
        assert abs(r["eoq_e3"] / 1000.0 - ref) < 2e-3
    ds = [r["demand"] for r in rows]
    assert ds == sorted(ds, reverse=True)


def test_pacf_lag1_equals_acf_lag1(spark):
    from alma_publish_to_marc_spark.plans.timeseries_queries import (
        _pacf_durbin_levinson,
    )

    rows = {r["lag"]: r["pacf_e6"] for r in
            _pacf_durbin_levinson(spark, SF).collect()}
    assert set(rows) == {1, 2, 3}
    for v in rows.values():
        assert -1_000_000 <= v <= 1_000_000


def test_markov_removal_matches_pure_python(spark):
    import pandas as pd

    from alma_publish_to_marc_spark.plans.behavior_queries import (
        _MRA_CHANNELS, _MRA_CONV, _MRA_K, _MRA_NULL,
        markov_removal_attribution,
    )

    rows = {r["channel"]: r for r in
            markov_removal_attribution(spark, SF).collect()}
    pdf = pd.read_parquet(SF + "/events.parquet",
                          columns=["user_id", "event_type", "event_id",
                                   "ts"])
    pdf["us"] = pdf["ts"].astype("datetime64[us]").astype("int64")
    pdf = pdf.sort_values(["user_id", "us", "event_id"])

    def state(t):
        return _MRA_CONV if t == "purchase" \
            else _MRA_CHANNELS.index(t) + 2

    counts = {}
    for _, g in pdf.groupby("user_id", sort=False):
        seq = [state(t) for t in g["event_type"]]
        if _MRA_CONV in seq:
            seq = seq[:seq.index(_MRA_CONV) + 1]
        path = [1] + seq + ([] if seq[-1] == _MRA_CONV else [_MRA_NULL])
        for a, b in zip(path, path[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + 1

    def absorb(removed=None):
        m = dict(counts)
        if removed is not None:
            for i in range(1, 8):
                if (i, removed) in m:
                    m[(i, _MRA_NULL)] = m.get((i, _MRA_NULL), 0) \
                        + m.pop((i, removed))
        rows_tot = {i: sum(m.get((i, j), 0) for j in range(1, 8))
                    for i in range(1, 8)}
        a = {i: 0 for i in range(1, 8)}
        a[_MRA_CONV] = 10 ** 12
        for _ in range(_MRA_K):
            new = {}
            for i in range(1, 8):
                if i == _MRA_CONV:
                    new[i] = 10 ** 12
                elif i == _MRA_NULL:
                    new[i] = 0
                else:
                    s = sum(m.get((i, j), 0) * a[j] for j in range(1, 8))
                    new[i] = s // max(rows_tot[i], 1)
            a = new
        return a[1]

    base = absorb()
    for ci, ch in enumerate(_MRA_CHANNELS):
        rem = absorb(removed=ci + 2)
        r = rows[ch]
        assert (r["base_e12"], r["removed_e12"]) == (base, rem), ch
        assert r["removal_effect_e6"] == \
            (1_000_000 * (base - rem)) // max(base, 1)
        assert 0 <= r["removal_effect_e6"] <= 1_000_000


def test_power_sample_size_matches_formula(spark):
    import math

    from alma_publish_to_marc_spark.plans.inference_queries import (
        _PWR_MDE_REL_E6, _PWR_Z_ALPHA, _PWR_Z_BETA, _ab_power_sample_size,
    )

    r = _ab_power_sample_size(spark, SF).collect()[0]
    p1 = r["conv"] / r["users"]
    p2 = p1 * (1.0 + _PWR_MDE_REL_E6 / 1e6)
    pbar = (p1 + p2) / 2.0
    num = (_PWR_Z_ALPHA * math.sqrt(2 * pbar * (1 - pbar))
           + _PWR_Z_BETA * math.sqrt(p1 * (1 - p1) + p2 * (1 - p2)))
    n = math.ceil(num * num / (p2 - p1) ** 2)
    assert r["n_per_arm"] == n
    assert r["p1_e6"] == math.floor(1e6 * p1)
    # smaller effects need more samples: sanity floor
    assert r["n_per_arm"] > r["users"] // 100


def test_cramers_v_bounds(spark):
    from alma_publish_to_marc_spark.plans.behavior_queries import (
        cramers_v_association,
    )

    r = cramers_v_association(spark, SF).collect()[0]
    assert 0 <= r["v_e6"] <= 1_000_000
    assert 0 <= r["v_corrected_e6"] <= r["v_e6"] + 1  # correction shrinks
    assert r["r_levels"] > 1 and r["c_levels"] > 1
    assert r["chi2_e6"] >= 0


def test_stickiness_is_a_valid_ratio(spark):
    from alma_publish_to_marc_spark.plans.behavior_queries import (
        dau_wau_stickiness,
    )

    rows = dau_wau_stickiness(spark, SF).collect()
    assert len(rows) == 30
    for r in rows:
        assert 0 < r["dau"] <= r["wau"]
        assert r["stickiness_e6"] == (1_000_000 * r["dau"]) // r["wau"]
        assert r["stickiness_e6"] <= 1_000_000


def test_gains_chart_is_monotone_and_anchored(spark):
    from alma_publish_to_marc_spark.operators.learning import (
        _gains_chart_deciles,
    )

    rows = sorted(_gains_chart_deciles(spark, SF).collect(),
                  key=lambda r: r["decile"])
    assert [r["decile"] for r in rows] == list(range(1, 11))
    gains = [r["gain_e6"] for r in rows]
    assert gains == sorted(gains)             # gains accumulate
    assert rows[-1]["gain_e6"] == 1_000_000   # full depth = all positives
    assert rows[-1]["cum_docs"] >= rows[-1]["cum_pos"]
    lifts = [r["lift_e6"] for r in rows]
    assert lifts[-1] == 1_000_000             # full depth lift = 1


def test_erlang_b_recursion_matches_python(spark):
    from alma_publish_to_marc_spark.plans.decision_queries import (
        _ERL_MAX_K, _ERL_TARGET_E9, erlang_b_blocking,
    )

    r = erlang_b_blocking(spark, SF).collect()[0]
    # replay the recursion from the reported load (floored e6 is a
    # lower bound; re-derive bounds rather than exact equality)
    assert r["load_e6"] > 0
    a_lo = r["load_e6"] / 1e6
    b = 1.0
    k_found = 0
    for k in range(1, _ERL_MAX_K + 1):
        b = (a_lo * b) / (k + a_lo * b)
        if k_found == 0 and b < _ERL_TARGET_E9 / 1e9:
            k_found = k
    # the engine's a is >= a_lo, so it can't need FEWER servers
    assert r["servers_needed"] >= k_found > 0
    assert 0 <= r["blocking_at_max_e9"] < _ERL_TARGET_E9


def test_chain_ladder_triangle_consistency(spark):
    from alma_publish_to_marc_spark.plans.behavior_queries import (
        chain_ladder_projection,
    )

    rows = sorted(chain_ladder_projection(spark, SF).collect(),
                  key=lambda r: r["cohort"])
    assert rows
    maxlag = max(r["latest_lag"] for r in rows)
    for r in rows:
        # development factors are >= 1 (cumulative spend can't shrink)
        assert r["ultimate_dollars"] >= r["known_dollars"] > 0
        # cohort + its own development depth = the newest month
        assert r["cohort"] + r["latest_lag"] == rows[0]["cohort"] \
            + maxlag
    # the oldest cohort is fully developed: known == ultimate
    oldest = rows[0]
    assert oldest["ultimate_dollars"] == oldest["known_dollars"]


def test_stump_cv_partitions_and_beats_chance(spark):
    from alma_publish_to_marc_spark.operators.learning import (
        _SCV_FOLDS, _stump_cv_accuracy,
    )
    from alma_publish_to_marc_spark.tables import load

    rows = sorted(_stump_cv_accuracy(spark, SF).collect(),
                  key=lambda r: r["fold"])
    assert [r["fold"] for r in rows] == list(range(_SCV_FOLDS))
    n_vecs = load(spark, SF, "embeddings").count()
    assert sum(r["test_n"] for r in rows) == n_vecs
    for r in rows:
        assert 0 <= r["test_correct"] <= r["test_n"]
        assert r["acc_e6"] == (1_000_000 * r["test_correct"]) \
            // r["test_n"]
    # pooled CV accuracy must beat the 10%-minority always-0 floor:
    # predicting the majority class alone gives ~90%, so require > 50%
    pooled = sum(r["test_correct"] for r in rows) / n_vecs
    assert pooled > 0.5


def test_bakeoff_matches_pure_python(spark):
    import pandas as pd

    from alma_publish_to_marc_spark.plans.timeseries_queries import (
        _BAKE_H, _forecast_model_bakeoff,
    )

    rows = {r["model"]: r for r in
            _forecast_model_bakeoff(spark, SF).collect()}
    assert set(rows) == {"seasonal_naive", "train_mean", "drift"}
    pdf = pd.read_parquet(SF + "/events.parquet", columns=["ts"])
    day = (pdf["ts"].astype("datetime64[us]").astype("int64")
           // 86_400_000_000)
    counts = day.value_counts()
    base = int(counts.index.min())
    span = int(counts.index.max()) - base + 1
    ys = [int(counts.get(base + i, 0)) for i in range(span)]
    nt = len(ys) - _BAKE_H

    def tdiv(a, b):  # Spark div / DuckDB // truncate; Python // floors
        return abs(a) // b * (1 if a >= 0 else -1)

    mean = tdiv(sum(ys[:nt]), nt)
    slope = tdiv(ys[nt - 1] - ys[0], nt - 1)
    errs = {"seasonal_naive": 0, "train_mean": 0, "drift": 0}
    for h in range(1, _BAKE_H + 1):
        actual = ys[nt + h - 1]
        errs["seasonal_naive"] += abs(actual - ys[nt + h - 1 - 7])
        errs["train_mean"] += abs(actual - mean)
        errs["drift"] += abs(actual - (ys[nt - 1] + h * slope))
    for m, r in rows.items():
        assert (r["abs_err_sum"], r["h_days"]) == (errs[m], _BAKE_H), m
        assert r["mae_e6"] == (1_000_000 * errs[m]) // _BAKE_H


def test_greedy_matching_is_feasible_and_greedy(spark):
    from alma_publish_to_marc_spark.operators.dedup_queries import (
        _GPM_PREFIX, _greedy_pair_matching,
    )

    r = _greedy_pair_matching(spark, SF).collect()[0]
    assert 0 < r["n_matched"] <= r["n_candidates"] <= _GPM_PREFIX
    # mean matched score can't be below 0.5 (the candidate threshold)
    assert r["score_sum_e6"] >= 500_000 * r["n_matched"]


def test_weiszfeld_reduces_l1_cost_vs_centroid(spark):
    import pandas as pd

    from alma_publish_to_marc_spark.plans.spatial_queries import (
        SP_CELL, SP_OCC, geometric_median_weiszfeld,
    )

    # rebuild the point cloud (corpus-derived side, module rule)
    import hashlib

    pdf = pd.read_parquet(SF + "/events.parquet", columns=["event_id"])
    g = 1
    while g * g * SP_OCC < len(pdf):
        g *= 2
    side = g * SP_CELL

    r = geometric_median_weiszfeld(spark, SF).collect()[0]
    mx, my = r["med_x_e6"] / 1e6, r["med_y_e6"] / 1e6
    assert 0 <= mx < side and 0 <= my < side

    def coord(seed, key):
        h = hashlib.md5((seed + str(key)).encode()).hexdigest()
        return int(h[:12], 16) % side

    xs = [coord("sx:", k) for k in pdf["event_id"]]
    ys = [coord("sy:", k) for k in pdf["event_id"]]
    assert r["n_points"] == len(xs)
    cx, cy = sum(xs) / len(xs), sum(ys) / len(ys)

    def cost(px, py):
        return sum(((x - px) ** 2 + (y - py) ** 2) ** 0.5
                   for x, y in zip(xs, ys))

    assert cost(mx, my) <= cost(cx, cy) + 1e-6  # Weiszfeld descends


def test_greenwood_bands_bracket_the_km_curve(spark):
    from alma_publish_to_marc_spark.plans.behavior_queries import (
        kaplan_meier_churn, km_greenwood_ci,
    )

    km = {r["m"]: r for r in kaplan_meier_churn(spark, SF).collect()}
    for r in km_greenwood_ci(spark, SF).collect():
        assert 0 <= r["lo95_e6"] <= r["surv_e6"] <= r["hi95_e6"] \
            <= 1_000_000
        # the point estimate matches the KM twin (round-6 vs floor-e6)
        assert abs(r["surv_e6"] / 1e6 - km[r["m"]]["survival"]) < 2e-6


def test_nrr_is_a_share_of_base(spark):
    from alma_publish_to_marc_spark.plans.behavior_queries import (
        _NRR_MAX_K, nrr_by_cohort,
    )

    rows = nrr_by_cohort(spark, SF).collect()
    assert rows
    for r in rows:
        assert 1 <= r["k"] <= _NRR_MAX_K
        assert r["base_dollars"] > 0
        assert r["nrr_e6"] == (1_000_000 * r["k_dollars"]) \
            // r["base_dollars"]


def test_cohens_d_matches_pandas(spark):
    import math

    from alma_publish_to_marc_spark.plans.rank_queries import (
        _cohens_d_effect,
    )

    r = _cohens_d_effect(spark, SF).collect()[0]
    pdf = _events_pdf()
    x = pdf.loc[pdf.event_type == "click", "cents"].astype(float)
    y = pdf.loc[pdf.event_type == "view", "cents"].astype(float)
    sp = math.sqrt(((x.var(ddof=1) * (len(x) - 1))
                    + (y.var(ddof=1) * (len(y) - 1)))
                   / (len(x) + len(y) - 2))
    d = (x.mean() - y.mean()) / sp
    g = d * (1 - 3 / (4 * (len(x) + len(y)) - 9))
    assert (r["n1"], r["n2"]) == (len(x), len(y))
    assert abs(r["cohens_d_e6"] / 1e6 - d) < 2e-6
    assert abs(r["hedges_g_e6"] / 1e6 - g) < 2e-6
    assert abs(r["hedges_g_e6"]) <= abs(r["cohens_d_e6"]) + 1


def test_posthoc_pairs_are_complete_and_antisymmetric(spark):
    from alma_publish_to_marc_spark.plans.rank_queries import (
        _posthoc_pairwise_diffs,
    )

    rows = _posthoc_pairwise_diffs(spark, SF).collect()
    assert len(rows) == 10  # C(5,2)
    seen = set()
    for r in rows:
        assert r["ta"] < r["tb"]
        seen.add((r["ta"], r["tb"]))
        assert r["significant"] in (0, 1)
        # z and the raw diff must agree in sign (se > 0)
        if r["diff_microdollars"] > 0:
            assert r["z_e6"] >= 0
    assert len(seen) == 10
