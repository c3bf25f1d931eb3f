"""Semantic invariants for the round-7 query families — properties
that must hold regardless of data, checked at smoke scale (the oracle
gate proves cross-engine equality; these prove the answers make
sense)."""

from __future__ import annotations

import math

from alma_publish_to_marc_spark import tables

SF = "/root/testdata/sf0.001"


def test_matryoshka_recall_monotone(spark):
    from alma_publish_to_marc_spark.operators.embedding_queries import (
        MRL_DIMS, _mrl_recall,
    )
    rows = {r["dim"]: r for r in _mrl_recall(spark, SF).collect()}
    # the full-dim arm is the self-check: identical ranking → recall 1
    assert rows[MRL_DIMS[-1]]["recall"] == 1.0
    for r in rows.values():
        assert 0 <= r["hits"] <= r["n_exact"]


def test_bq_hamming_bounds(spark):
    from alma_publish_to_marc_spark.operators.embedding_queries import (
        _bq_topk,
    )
    for r in _bq_topk(spark, SF).collect():
        assert 0 <= r["hamming"] <= 64
        assert 1 <= r["rank"] <= 10


def test_gram_diagonal_nonnegative(spark):
    from alma_publish_to_marc_spark.operators.embedding_queries import (
        _gram_matrix,
    )
    rows = _gram_matrix(spark, SF).collect()
    assert len(rows) == 2080  # upper triangle of 64x64
    for r in rows:
        if r["i"] == r["j"]:
            assert r["gram"] >= 0


def test_equi_depth_buckets_partition_domain(spark):
    from alma_publish_to_marc_spark.plans.optimizer_queries import (
        HIST_BUCKETS, equi_depth_histogram,
    )
    rows = sorted(equi_depth_histogram(spark, SF).collect(),
                  key=lambda r: r["bucket"])
    assert 1 <= len(rows) <= HIST_BUCKETS
    for a, b in zip(rows, rows[1:]):
        assert a["hi"] < b["lo"]          # buckets tile, no overlap
    assert sum(r["n_rows"] for r in rows) > 0


def test_abc_classes_cover_revenue(spark):
    from alma_publish_to_marc_spark.plans.decision_queries import (
        abc_pareto_classes,
    )
    rows = {r["abc_class"]: r for r in
            abc_pareto_classes(spark, SF).collect()}
    tables.release()
    assert "A" in rows
    total_share = sum(r["share_e4"] for r in rows.values())
    # integer floors can undercount a few e4 units, never overcount
    assert 9_990 <= total_share <= 10_000
    if "C" in rows:  # head classes carry more revenue per part
        a = rows["A"]
        c = rows["C"]
        assert a["rev_cents"] * c["n_parts"] > c["rev_cents"] * a["n_parts"]


def test_var_cvar_ordering(spark):
    from alma_publish_to_marc_spark.plans.decision_queries import (
        var_cvar_risk,
    )
    for r in var_cvar_risk(spark, SF).collect():
        # the tail mean sits at or above the tail threshold
        assert r["cvar_cents"] >= r["var_cents"]
        assert 1 <= r["tail_k"] <= r["n_orders"]


def test_conformance_deciles_bounded(spark):
    from alma_publish_to_marc_spark.plans.process_queries import (
        conformance_fitness,
    )
    rows = conformance_fitness(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r["fit_decile"] <= 10
        assert 0 <= r["n_allowed"] <= r["n_moves"]


def test_zonemap_sorted_layout_skips_at_least_natural(spark):
    from alma_publish_to_marc_spark.plans.storage_queries import (
        zonemap_skip_audit,
    )
    rows = zonemap_skip_audit(spark, SF).collect()
    by = {(r["layout"], r["pred_id"]): r for r in rows}
    for pid in {k[1] for k in by}:
        nat, srt = by[("natural", pid)], by[("shipdate_sorted", pid)]
        assert 0 <= nat["n_skipped"] <= nat["n_files"]
        # range layout can never skip a smaller FRACTION of files for a
        # range predicate on its own sort key
        assert (srt["n_skipped"] * nat["n_files"]
                >= nat["n_skipped"] * srt["n_files"])


def test_vocab_ablation_monotone(spark):
    from alma_publish_to_marc_spark.plans.lm_queries import (
        vocab_ablation_curve,
    )
    rows = sorted(vocab_ablation_curve(spark, SF).collect(),
                  key=lambda r: r["n_merges"])
    for a, b in zip(rows, rows[1:]):
        # more merges never increase the token count
        assert b["total_tokens"] <= a["total_tokens"]
        assert b["chars_per_token_e4"] >= a["chars_per_token_e4"]


def test_stockout_days_sane(spark):
    from alma_publish_to_marc_spark.plans.decision_queries import (
        stockout_detection,
    )
    for r in stockout_detection(spark, SF).collect():
        assert 0 <= r["n_stockout"] <= r["n_parts"]
        if r["n_stockout"] == 0:
            assert r["mean_days_to_out"] == -1
        else:
            assert r["mean_days_to_out"] >= 0


def test_token_bucket_accounts_every_event(spark):
    from alma_publish_to_marc_spark.plans.governance_queries import (
        token_bucket_rate_limit,
    )
    from alma_publish_to_marc_spark.tables import load
    rows = token_bucket_rate_limit(spark, SF).collect()
    n_users = load(spark, SF, "events").select("user_id").distinct().count()
    assert sum(r["n_users"] for r in rows) == n_users


def test_exact_percentile_matches_driver_sort(spark):
    from alma_publish_to_marc_spark.plans.optimizer_queries import (
        _PCT_TARGETS, exact_global_percentile,
    )
    from alma_publish_to_marc_spark.tables import load
    got = {r["pct"]: r for r in
           exact_global_percentile(spark, SF).collect()}
    # explicit half-up, matching both engines' SQL round() — Python
    # round() is half-EVEN and would flake on a true .5 (CLAUDE.md)
    cents = sorted(
        math.floor(r["value"] * 100 + 0.5)
        for r in load(spark, SF, "events").select("value").collect())
    n = len(cents)
    for p in _PCT_TARGETS:
        k = (n * p + 99) // 100
        assert got[p]["k"] == k
        assert got[p]["pctl_cents"] == cents[k - 1], p
