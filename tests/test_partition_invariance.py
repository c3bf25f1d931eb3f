"""Partition-count invariance gate (round 9).

The CLAUDE.md float-reduction rules exist because engine-default
double associations depend on PARTITIONING — the same query can return
different floors on 5 vs 32 shuffle partitions long before it ever
disagrees with DuckDB. This test attacks that surface directly: every
curated key (the ones whose outputs pass through double expressions,
interpreted folds, or driver-paced float state) must produce
BIT-IDENTICAL rows under a radically different shuffle-partition
count. A violation here is a partition-dependent reduction — the exact
bug class the r8 verdict flagged on the pre-r9 Weiszfeld.

Keys are curated rather than exhaustive: integer-only queries can't
fail this by construction, and the full-registry double run belongs to
the parity sweep, not CI.
"""

from __future__ import annotations

import pytest

from alma_publish_to_marc_spark import tables

SF = "/root/testdata/sf0.001"

# Queries whose outputs pass through doubles / folds / driver-paced
# float state — the partition-sensitivity surface.
KEYS = (
    "geometric_median_weiszfeld",   # integer fixed-point fold (r9 fix)
    "spatial_hotspot_cells",        # Gi* double expression + floor
    "grpo_group_advantage",         # (n·r−s)/sqrt(...) floor
    "covariate_balance_smd",        # SMD double over integer moments
    "skewness_kurtosis_profile",    # sqrt-based shape stats
    "int8_quantization_error",      # per-vector double folds
    "hill_tail_index",              # per-term ln floors
    "winsorized_stats",             # round(sum(int)/n, 4)
    "anova_eta_squared",            # group-sorted float fold
    "kalman_filter_1d",             # integer LIST fold over day spine
    # ordering-sensitive folds: invariance fails if a sort_array/ORDER
    # BY ever falls off a collect_list feeding a sequential fold
    "gae_advantage_fold",
    "epsilon_greedy_replay",
    "theta_method_forecast",
    "raking_ipf_weights",           # persisted-cells iteration
    # round 10: blocked suffix ranking (window adjacency must not
    # depend on shuffle layout) and the draft-policy power fold
    "suffix_lcp_repeats",
    "suffix_repeat_topk",
    "speculative_draft_policy",
    # round 11: the only new double surface — per-row IEEE tree off an
    # exact integer k (partition-invariant by construction; pinned)
    "privacy_composition_budget",
    "compute_optimal_frontier",     # constant-literal sqrt tree off
                                    # exact integer supply (round 11)
    # round 12: per-doc ln() sum rounded at 4dp — partitioning changed
    # by the fan_out + pairs/uni persists, so pin the invariance
    "ngram_lm_perplexity",
)


@pytest.mark.parametrize("name", KEYS)
def test_result_is_partition_count_invariant(spark, name):
    from alma_publish_to_marc_spark import registry

    fn = registry.queries()[name]

    def run() -> list:
        rows = fn(spark, SF).collect()
        spark.catalog.clearCache()
        tables.release()
        return sorted(tuple(r) for r in rows)

    # Pin BOTH sides explicitly: relying on the session default for the
    # baseline made the gate vacuous on hosts whose CPU count is ~5
    # (the fixture default is the core count — r9 advice).
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        base = run()
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        alt = run()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert alt == base, (
        f"{name} is partition-count dependent: a reduction's result "
        f"changed between 32 and 5 shuffle partitions — an "
        f"engine-default float association or unstable tie-break "
        f"reached the output (see CLAUDE.md float-reduction rules)")
