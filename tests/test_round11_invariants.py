"""Round-11 semantic invariants.

The oracle gate proves Spark == DuckDB at the shipped constants; these
pin claims the gate can't see:

- CAP-invariance of the depth-adaptive suffix family: escalation is a
  skew-bounding device, PROVABLY result-neutral (hot-block grants are
  exact). Forcing the Spark side to production CAP (1e5 — nothing
  escalates) against the UNCHANGED CAP=64-baked oracles must stay
  value-identical. A regression here means a level is leaking or a
  grant is wrong in a way the fixed-CAP parity gate cannot notice.
- suffix_span_removal internal consistency at real testdata scale
  (the hypothesis property test proves definition-equality on tiny
  adversarial corpora; this checks bookkeeping on the planted-dup
  corpus).
- bpe_domain_compression cross-checks against corpus-wide totals.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from alma_publish_to_marc_spark import tables  # noqa: E402

SF = "/root/testdata/sf0.001"


def _duck(sql: str, sf_dir: str = SF):
    import duckdb

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{sf_dir}/{t}.parquet'")
    return con.execute(sql).df()


def test_suffix_family_cap_invariant(spark):
    import pandas as pd

    from alma_publish_to_marc_spark.plans import corpus_queries as cq

    keys = ("suffix_lcp_repeats", "suffix_span_removal")
    old = cq._SFX_CAP
    try:
        frames = {}
        for cap in (64, 100000):
            cq._SFX_CAP = cap
            for k in keys:
                fn, _sql = cq.QUERIES[k]
                pdf = (fn(spark, SF).toPandas()
                       .sort_values("doc_id").reset_index(drop=True))
                frames[(k, cap)] = pdf
            from alma_publish_to_marc_spark import registry
            tables.release()
            spark.catalog.clearCache()
        for k in keys:
            pd.testing.assert_frame_equal(frames[(k, 64)],
                                          frames[(k, 100000)])
    finally:
        cq._SFX_CAP = old


def test_suffix_span_removal_bookkeeping(spark):
    from alma_publish_to_marc_spark.plans import corpus_queries as cq

    rows = cq.suffix_span_removal(spark, SF).collect()
    assert len(rows) == 500  # one row per document, spine preserved
    n_docs_touched = 0
    for r in rows:
        kept = r["clean_text"].split(" ") if r["clean_text"] else []
        # '' splits to [''] when nothing was removed from a 1-word doc
        n_kept = len([w for w in kept if w != ""])
        assert r["n_words"] - r["n_removed"] == n_kept, r
        assert 0 <= r["n_spans_removed"] <= r["n_removed"]
        # a removed span has >= _SFX_RM_T words, so runs are bounded
        if r["n_removed"]:
            assert r["n_spans_removed"] >= 1
            assert r["n_removed"] >= cq._SFX_RM_T * 0 + r["n_spans_removed"]
            # each merged run covers >= _SFX_RM_T words
            assert r["n_removed"] >= cq._SFX_RM_T * r["n_spans_removed"]
            n_docs_touched += 1
    # the planted-dup corpus must actually exercise the removal path
    assert n_docs_touched > 0
    # consistency with the ranker: docs whose longest repeat is below
    # the removal threshold must be untouched
    best = {r["doc_id"]: r["longest_rep_words"]
            for r in cq.suffix_lcp_repeats(spark, SF).collect()}
    for r in rows:
        if best[r["doc_id"]] < cq._SFX_RM_T:
            assert r["n_removed"] == 0, r


def test_bpe_domain_compression_totals(spark):
    from alma_publish_to_marc_spark.plans import lm_queries as lm

    rows = lm.bpe_domain_compression(spark, SF).collect()
    assert rows and all(r["n_docs"] > 0 for r in rows)
    # domain totals must add up to the corpus-wide figures
    tot_docs = sum(r["n_docs"] for r in rows)
    assert tot_docs == 500
    duck = _duck("SELECT count(*) AS n, sum(len(regexp_split_to_array("
                 "trim(text), '\\s+'))) AS w FROM documents")
    assert int(duck["w"][0]) == sum(r["total_words"] for r in rows)
    for r in rows:
        # BPE merges only ever shrink the symbol count: tokens per
        # pretoken start at len(chars) and end >= 1 => chars/token >= 1
        assert r["chars_per_token_e4"] >= 10000
        assert r["total_tokens"] > 0


def test_doremi_mixture_reweight_trajectory(spark):
    from alma_publish_to_marc_spark.plans import corpus_queries as cq

    rows = cq.doremi_mixture_reweight(spark, SF).collect()
    by_t: dict = {}
    for r in rows:
        by_t.setdefault(r["t"], []).append(r)
    n_dom = len(by_t[0])
    assert sorted(by_t) == list(range(6))
    for t, grp in by_t.items():
        assert len(grp) == n_dom
        s = sum(r["weight_e6"] for r in grp)
        # floored shares: sum within |D| of exactly 1e6
        assert 1_000_000 - n_dom <= s <= 1_000_000
    # t=0 is uniform
    for r in by_t[0]:
        assert r["weight_e6"] == 1_000_000 // n_dom
    # the max-payoff domain's weight is nondecreasing in t and ends
    # strictly dominant (hedge concentrates on the worst excess loss)
    top = max(by_t[0], key=lambda r: (r["payoff"], r["source"]))
    traj = [next(r for r in by_t[t] if r["source"] == top["source"])
            ["weight_e6"] for t in range(6)]
    assert all(a <= b for a, b in zip(traj, traj[1:]))
    # ... and strictly dominates every LOWER-payoff domain (bucketing
    # can tie several domains at the top payoff — those end equal)
    assert traj[-1] > max(r["weight_e6"] for r in by_t[5]
                          if r["payoff"] < top["payoff"])
    # payoffs are rank-bucketed into [0, 8)
    assert all(0 <= r["payoff"] < 8 for r in rows)


def test_data_epoch_allocation_budget(spark):
    from alma_publish_to_marc_spark.plans import corpus_queries as cq

    rows = cq.data_epoch_allocation(spark, SF).collect()
    assert rows
    corpus = sum(r["unique_words"] for r in rows)
    spent = sum(r["raw_tokens_used"] for r in rows)
    assert spent <= cq._DEA_BUDGET_MULT * corpus
    for r in rows:
        assert 0 <= r["epochs_taken"] <= cq._DEA_MAX_EPOCHS
        assert r["raw_tokens_used"] == (r["epochs_taken"]
                                        * r["unique_words"])
        # effective value decays: total gain <= epochs * U * 1e4 and
        # >= the first-epoch gain when any epoch was taken
        if r["epochs_taken"] > 0:
            assert r["effective_tokens_e4"] >= 10000 * r["unique_words"]
            assert (r["effective_tokens_e4"]
                    <= 10000 * r["raw_tokens_used"])
            assert 0 < r["avg_value_e4"] <= 10000
    # no epoch left on the table: the cheapest untaken epoch must not
    # fit the remaining budget (greedy maximality) unless all taken
    remaining = cq._DEA_BUDGET_MULT * corpus - spent
    untaken_costs = [r["unique_words"] for r in rows
                     if r["epochs_taken"] < cq._DEA_MAX_EPOCHS]
    if untaken_costs:
        assert min(untaken_costs) > remaining


def test_privacy_composition_budget_theory(spark):
    from alma_publish_to_marc_spark.plans import governance_queries as gq

    rows = gq.privacy_composition_budget(spark, SF).collect()
    assert len(rows) == len({r["event_type"] for r in rows}) * 3
    by_eps: dict = {}
    for r in rows:
        assert r["eps_basic_e6"] == r["eps_adv_e6"] + r["adv_saves_e6"]
        assert r["eps_adv_e6"] > 0 and r["eps_basic_e6"] > 0
        # advanced composition wins once k > ~2 ln(1/delta)/(1-em1)^2
        if r["steps"] > 100:
            assert r["adv_saves_e6"] > 0, r
        by_eps.setdefault(r["eps0_e6"], []).append(r)
    assert sorted(by_eps) == [10000, 20000, 50000]
    # monotone in k within a grid setting
    for grp in by_eps.values():
        grp = sorted(grp, key=lambda r: r["steps"])
        for a, b in zip(grp, grp[1:]):
            if a["steps"] < b["steps"]:
                assert a["eps_basic_e6"] < b["eps_basic_e6"]
                assert a["eps_adv_e6"] < b["eps_adv_e6"]


def test_dawid_skene_parameters(spark):
    from alma_publish_to_marc_spark.plans import preference_queries as pq

    rows = pq.dawid_skene_label_model(spark, SF).collect()
    assert len(rows) == pq._N_ANNOTATORS
    n = rows[0]["n_items"]
    assert n > 0
    for r in rows:
        assert 0 <= r["alpha_e6"] <= 1_000_000
        assert 0 <= r["beta_e6"] <= 1_000_000
        assert 0 <= r["pi_e6"] <= 1_000_000
        assert 0 <= r["n_flipped"] <= n
        # annotators here are majority-correlated noisy raters: the
        # fitted confusion must be better than coin-flip on both axes
        assert r["alpha_e6"] > 500_000
        assert r["beta_e6"] > 500_000


def test_distinct_ngram_diversity_bounds(spark):
    from alma_publish_to_marc_spark.plans import lm_queries as lm

    rows = lm.distinct_ngram_diversity(spark, SF).collect()
    by_src: dict = {}
    for r in rows:
        assert 0 < r["distinct_ngrams"] <= r["total_ngrams"]
        assert 0 < r["distinct_frac_e6"] <= 1_000_000
        # per-doc type sums over-count global types
        assert (r["within_doc_distinct_frac_e6"]
                >= r["distinct_frac_e6"])
        by_src.setdefault(r["source"], {})[r["n"]] = r
    for grp in by_src.values():
        assert sorted(grp) == [1, 2, 3]
        # occurrence totals shrink by exactly docs-with->=n-words per
        # n step; weaker monotone check keeps it schema-robust
        assert (grp[1]["total_ngrams"] > grp[2]["total_ngrams"]
                > grp[3]["total_ngrams"])
        # longer grams are more distinct
        assert (grp[1]["distinct_frac_e6"] <= grp[2]["distinct_frac_e6"]
                <= grp[3]["distinct_frac_e6"])


def test_continuous_batching_dominates_static(spark):
    from alma_publish_to_marc_spark.plans import (
        inference_queries as iq,
    )

    rows = iq.continuous_batching_replay(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["n_requests"] > 0
        assert 0 <= r["cont_total_wait"]
        # iteration-level admission is work-conserving; batch-of-B
        # admission can only add wait (a request never starts earlier
        # by waiting for batch-mates)
        assert r["cont_total_wait"] <= r["static_total_wait"]
        assert r["speedup_e4"] >= 10000
        assert (r["cont_mean_wait_e4"]
                == (10000 * r["cont_total_wait"]) // r["n_requests"])


def test_lsm_replay_conservation(spark):
    from alma_publish_to_marc_spark.plans import storage_queries as sq

    rows = {r["policy"]: r
            for r in sq.lsm_compaction_replay(spark, SF).collect()}
    assert set(rows) == {"leveled", "tiered"}
    for r in rows.values():
        # compaction moves rows, never creates or drops them
        assert (r["l1"] + r["l2"] + r["l3"] + r["l4"]
                == r["ingested"])
        # every ingested row is written at least once
        assert r["total_written"] >= r["ingested"]
        assert r["write_amp_e4"] >= 10000
        assert r["n_days"] > 0
    assert (rows["leveled"]["ingested"] == rows["tiered"]["ingested"])


def test_preemption_replay_grid(spark):
    from alma_publish_to_marc_spark.plans import (
        posttrain_queries as pq,
    )

    rows = sorted(pq.preemption_loss_replay(spark, SF).collect(),
                  key=lambda r: r["cadence_min"])
    assert [r["cadence_min"] for r in rows] == [5, 15, 30, 60]
    assert sum(r["is_grid_optimal"] for r in rows) == 1
    n = rows[0]["n_preempt"]
    for r in rows:
        assert r["n_preempt"] == n
        # lost work per preemption is bounded by the cadence
        assert (0 <= r["lost_work_us"]
                < n * r["cadence_min"] * 60_000_000)
        assert (r["total_overhead_us"]
                == r["lost_work_us"] + r["ckpt_cost_us"])
    # checkpoint write cost decreases with longer cadence
    costs = [r["ckpt_cost_us"] for r in rows]
    assert all(a >= b for a, b in zip(costs, costs[1:]))


def test_compute_optimal_frontier_regimes(spark):
    from alma_publish_to_marc_spark.plans import (
        posttrain_queries as pq,
    )

    rows = sorted(pq.compute_optimal_frontier(spark, SF).collect(),
                  key=lambda r: r["c_e15"])
    assert [r["c_e15"] for r in rows] == sorted(pq._COF_FLOPS_E15)
    supply = rows[0]["supply_tokens"]
    for r in rows:
        assert r["supply_tokens"] == supply
        assert r["d_opt"] == pq._COF_TPP * r["n_opt"]
        assert r["d_clip"] == min(r["d_opt"], supply)
        assert r["data_limited"] == (1 if r["d_opt"] > supply else 0)
        # rebalance conserves compute to within one quotient step: the
        # IEEE division is correctly ROUNDED, so floor(C/(6d)) can sit
        # one above the exact integer floor when the true quotient is
        # epsilon below an integer — deterministic in both engines,
        # but the conservation check must allow that one step
        assert (6 * (r["n_adj"] - 1) * r["d_clip"]
                < r["c_e15"] * 10 ** 15)
        assert (6 * r["n_adj"] * r["d_clip"]
                <= r["c_e15"] * 10 ** 15 + 6 * r["d_clip"])
        assert r["loss_e6"] > 1_690_000  # above the irreducible term
    # unconstrained loss falls with compute; once data-limited it
    # degrades vs the unconstrained trend but stays monotone non-
    # increasing in C (more compute never hurts at fixed supply)
    losses = [r["loss_e6"] for r in rows]
    assert all(a >= b for a, b in zip(losses, losses[1:]))
    # the largest budget must be data-limited on every test corpus
    assert rows[-1]["data_limited"] == 1


def test_gradient_noise_scale_moments(spark):
    from alma_publish_to_marc_spark.plans import (
        posttrain_queries as pq,
    )

    rows = pq.gradient_noise_scale_proxy(spark, SF).collect()
    assert rows
    for r in rows:
        # Cauchy-Schwarz: n * sumsq >= sum^2 => proxy nonnegative
        assert (r["n"] * r["sumsq_cents"]
                >= r["sum_cents"] * r["sum_cents"])
        assert r["gns_e2"] >= 0
        b = r["batch_pow2"]
        assert b == 0 or (b & (b - 1)) == 0  # a power of two
        if b:
            assert 100 * b <= r["gns_e2"] < 100 * 2 * b or b == 2 ** 20


def test_suffix_chain_memo_shares_and_releases(spark):
    """The r12 suffix-chain memo must (a) hand repeat callers the SAME
    persisted chain within a session/sf_dir, and (b) die with
    tables.release() so per-key bench/parity runs stand alone."""
    from alma_publish_to_marc_spark.plans import corpus_queries as CQ

    tables.release()
    levels1, base1 = CQ._suffix_chain(spark, SF)
    levels2, base2 = CQ._suffix_chain(spark, SF)
    assert levels1 is levels2 and base1 is base2  # shared, not rebuilt
    n = tables.release()
    assert n >= len(levels1)  # the chain's persists were tracked
    levels3, _ = CQ._suffix_chain(spark, SF)
    assert levels3 is not levels1  # memo cleared with the persists
    tables.release()
