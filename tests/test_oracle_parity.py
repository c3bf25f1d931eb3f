"""Every registered query must match its DuckDB oracle at sf0.001 AND
keep every single-task plan stage fed by a bounded shape.

This mirrors the driver's correctness gate (row count + column set +
order-insensitive cell compare) so regressions surface in `pytest`
before the driver sees them. The heavier sf0.01 sweep lives in
tools/check_parity.py.

The bounded-feeder gate (VERDICT r7 item 3) mechanizes what docstrings
used to assert by hand: for every unpartitioned Window and every
SinglePartition Exchange, tools/explain_audit traces the operator that
determines how many rows enter the single task. Only cardinality-
BOUNDED leaves are allowed — an aggregate (grouped reduction),
TakeOrdered/limit, a literal LocalTableScan, or a Range spine; joins /
explodes / unions of bounded inputs stay bounded and are structural.
A corpus `scan` leaf means unbounded data moves to ONE task — the
thing SCALE.md forbids — and fails here mechanically, not by reviewer
luck (it caught simpsons_paradox_scan and histogram_quantile_sketch
in round 8).
"""

from __future__ import annotations

import re

import pytest

from alma_publish_to_marc_spark import tables
from tools.check_parity import compare
from tools.explain_audit import summarize

from .conftest import SF_SMOKE, persisted_rdd_ids

# cardinality-bounded leaf operators (see module docstring)
_BOUNDED_LEAVES = {"aggregate", "take_ordered", "limit", "local_table",
                   "range"}
# structural wrappers that preserve boundedness of their inputs
_STRUCTURAL = {"window", "single", "join", "generate", "union"}


def _leaves(tag: str) -> set[str]:
    return {t for t in re.findall(r"[a-z_]+", tag) if t not in _STRUCTURAL}


def _names():
    import __spark_entry__ as e

    return sorted(e.queries().keys())


def _params():
    """Headline bench keys stay in the default run (the per-commit
    smoke gate); the remaining ~540 params are marked slow so the
    default suite fits the driver's verification budget (pytest.ini —
    run the rest with `pytest -m slow`)."""
    import bench

    fast = set(bench.HEADLINE)
    return [n if n in fast else pytest.param(n, marks=pytest.mark.slow)
            for n in _names()]


@pytest.mark.parametrize("name", _params())
def test_query_matches_oracle(spark, duck, name):
    import __spark_entry__ as e

    # a prior test's lingering persist would replace subtrees with
    # opaque InMemoryTableScans and blind the feeder classifier
    spark.catalog.clearCache()
    tables.release()
    before = persisted_rdd_ids(spark)
    df = e.queries()[name](spark, SF_SMOKE)
    feeders = summarize(spark, df)["bounded_stage_feeders"]
    bad = [t for t in feeders if _leaves(t) - _BOUNDED_LEAVES]
    assert not bad, (
        f"{name}: single-task stage fed by an unbounded shape {bad} — "
        "an unpartitioned window / single-partition exchange must be fed "
        "by aggregate/take_ordered/limit/local_table/range (or "
        "joins/explodes of those); see tools/explain_audit.py")
    sdf = df.toPandas()  # rows-only check for non-SQL-expressible ops
    oracles = e.oracle_sql()
    if name in oracles:
        ddf = duck.execute(oracles[name]).fetchdf()
        problems = compare(name, sdf, ddf)
        hard = [p for p in problems
                if "APPROX" in p or "rowcount" in p or "columns" in p]
        assert not hard, problems
    # leak gate: every persist the key made is on the tables ledger, so
    # releasing it (no clearCache in between) restores the pre-key set
    tables.release()
    after = persisted_rdd_ids(spark)
    assert after == before, (
        f"{name}: untracked persisted RDDs {sorted(after - before)}")


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) >= 10
