"""Regenerate tests/audit_snapshot.json — the checked-in plan-shape
snapshot for the frozen bench core suite (bench.HEADLINE[:CORE_16]).

tests/test_audit_snapshot.py diffs each core key's live audit counters
(shuffles, single_part, sort_merge_joins, pushed_filter_scans, ...)
against this file, so a plan regression — an extra shuffle creeping
into item_info_flagship, a broadcast silently degrading to SMJ — fails
CI mechanically instead of waiting for a human to eyeball AUDIT_r{N}.
This is the plan-shape analog of bench.py's runtime regression guard
(VERDICT r8 "Next round" item 5).

A DELIBERATE plan change (new operator version, better strategy) is
recorded by rerunning:

    python tools/audit_snapshot.py

and committing the refreshed JSON alongside the plan change.

Counters are captured at sf0.001 (the test fixture's scale) so
stats-driven join selection is deterministic across runs.
"""

from __future__ import annotations

import json
import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_SMOKE = "/root/testdata/sf0.001"
SNAP_PATH = os.path.join(_ROOT, "tests", "audit_snapshot.json")

# Beyond the bench headliners (round 10, VERDICT r9 item 6): the §2
# reference-surface core and the iterative / driver-paced family — the
# keys where a silent plan regression (an SMJ replacing a broadcast in
# an unrolled round, a pushdown falling off the flagship's siblings)
# hurts most at 100x and where runtime alone won't catch it because the
# frames involved are tiny at test scale.
EXTRA = (
    # §2 core not already in bench.HEADLINE
    "marc_field_extraction",
    "marc_size_guard",
    "versioned_temporal_merge",
    "backfill_item_policy",
    "backfill_temp_locations",
    "delete_with_history",
    "publish_set_grouping",
    "anti_join_deletes",
    "warehouse_catalog",
    # iterative / driver-paced (unrolled rounds or per-round collect)
    "absorption_to_purchase",
    "bpe_train_merges",
    "kmeans_fixed_point",
    "pagerank_fixed_point",
    "geometric_median_weiszfeld",
    "raking_ipf_weights",
    # round-10 plan family (VERDICT r10 item 2): the depth-adaptive
    # suffix chain is the heaviest plan in the repo (multi-level
    # escalation shuffles, no global sort / no RangePartitioning — the
    # shape to freeze) and the serving/Matryoshka keys pin their
    # broadcast-1-row-aggregate idiom.
    "suffix_lcp_repeats",
    "suffix_repeat_topk",
    "speculative_draft_policy",
    "matryoshka_topk",
    "matryoshka_recall_eval",
    "nucleus_cutoff_profile",
    "shuffle_autocorrelation_audit",
    # round-11 additions (suffix-driven any-length span removal rides
    # the same chain; the BPE domain report pins its broadcast join)
    "suffix_span_removal",
    "bpe_domain_compression",
    "watermark_greenlist_detect",
    "parallelism_plan_budget",
    # round-11 batch 2: mixture/epoch planning (tiny-frame window
    # idiom), DP accounting (constant-folded grid), Dawid-Skene EM
    # (broadcast 1-row M-step rounds), distinct-n (two-phase exact
    # distinct)
    "doremi_mixture_reweight",
    "data_epoch_allocation",
    "privacy_composition_budget",
    "dawid_skene_label_model",
    "distinct_ngram_diversity",
    # round-11 batch 3: serving/storage/ops replays (single-row fold
    # frames fed by map-side aggregates — the day-spine contract)
    "continuous_batching_replay",
    "lsm_compaction_replay",
    "preemption_loss_replay",
    "compute_optimal_frontier",
    "gradient_noise_scale_proxy",
)


def capture(spark, names=None) -> dict:
    import bench
    import explain_audit
    from alma_publish_to_marc_spark import registry, tables

    core = names or (list(bench.HEADLINE) + list(EXTRA))
    qs = registry.queries()
    out = {}
    for name in core:
        df = qs[name](spark, SF_SMOKE)
        props = explain_audit.summarize(spark, df)
        props.pop("_plan")
        spark.catalog.clearCache()
        tables.release()
        out[name] = props
    return out


def main() -> None:
    from alma_publish_to_marc_spark.session import get_spark

    spark = get_spark("audit-snapshot", cpus=8)
    out = capture(spark)
    with open(SNAP_PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {SNAP_PATH} ({len(out)} keys)")


if __name__ == "__main__":
    main()
