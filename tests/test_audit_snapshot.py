"""Plan-shape regression guard for the frozen bench core suite.

Every core key's scale-relevant physical-plan counters (shuffles,
single-partition stages, join strategies, pushed-filter scans, scan
widths, codegen spans) must match the checked-in snapshot
``tests/audit_snapshot.json`` EXACTLY. This converts the per-round
AUDIT_r{N} eyeball into CI: an extra shuffle creeping into
item_info_flagship, a broadcast degrading to SortMergeJoin, or a filter
falling out of the parquet pushdown fails here mechanically — the
plan-shape analog of bench.py's runtime regression guard.

A DELIBERATE plan change is recorded by regenerating the snapshot:

    python tools/audit_snapshot.py

and committing the refreshed JSON with the plan change (the diff then
documents exactly which counters moved).
"""

from __future__ import annotations

import json
import os
import sys

import pytest

from alma_publish_to_marc_spark import tables

_HERE = os.path.dirname(os.path.abspath(__file__))
SNAP_PATH = os.path.join(_HERE, "audit_snapshot.json")

with open(SNAP_PATH) as _f:
    SNAPSHOT = json.load(_f)


@pytest.mark.parametrize("name", sorted(SNAPSHOT))
def test_core_plan_counters_match_snapshot(spark, name):
    sys.path.insert(0, os.path.join(os.path.dirname(_HERE), "tools"))
    import explain_audit
    from alma_publish_to_marc_spark import registry

    fn = registry.queries()[name]
    df = fn(spark, "/root/testdata/sf0.001")
    props = explain_audit.summarize(spark, df)
    props.pop("_plan")
    spark.catalog.clearCache()
    tables.release()
    expect = SNAPSHOT[name]
    diffs = {k: (expect.get(k), props.get(k))
             for k in set(expect) | set(props)
             if expect.get(k) != props.get(k)}
    assert not diffs, (
        f"plan-shape drift on {name}: {diffs} — if the plan change is "
        f"deliberate, regenerate with `python tools/audit_snapshot.py` "
        f"and commit the refreshed snapshot")
