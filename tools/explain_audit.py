"""Physical-plan audit: for each headline query, print the formatted
plan plus a summary of scale-relevant properties — exchange (shuffle)
count, broadcast joins, pushed filters, scan schema width, and
whole-stage-codegen coverage.

Usage: python tools/explain_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2:]


# Operators that neither grow nor bound their input's cardinality —
# the feeder trace walks THROUGH them to find what actually determines
# the row count entering a single-task stage. Expand multiplies by a
# constant arity (grouping sets), so a bounded input stays bounded.
_PASSTHROUGH = {
    "Project", "Filter", "Sort", "Exchange", "BroadcastExchange",
    "ColumnarToRow", "InputAdapter", "Coalesce", "Window",
    "WindowGroupLimit", "Expand", "AdaptiveSparkPlan",
}

_TREE_LINE = re.compile(
    r"^([ :|+-]*)\*?\s*([A-Za-z][A-Za-z0-9_]*(?: [A-Za-z][\w.]*)*?)"
    r"\s*\((\d+)\)\s*$")


def _parse_plan_forest(plan: str):
    """Parse every operator-tree segment of a formatted plan (main plan
    + subquery trees) into {id: (name, [child_ids])}."""
    nodes: dict[int, tuple[str, list[int]]] = {}
    stack: list[tuple[int, int]] = []  # (indent, id)
    for line in plan.splitlines():
        m = _TREE_LINE.match(line)
        if not m:
            # detail blocks / blank lines end the current tree segment
            if line.strip() and not line.startswith((" ", ":", "+")):
                stack = []
            continue
        indent, name, nid = len(m.group(1)), m.group(2), int(m.group(3))
        if nid in nodes:  # detail header like "(12) Window" never matches
            continue
        nodes[nid] = (name, [])
        while stack and stack[-1][0] >= indent:
            stack.pop()
        if stack:
            nodes[stack[-1][1]][1].append(nid)
        stack.append((indent, nid))
    return nodes


def _details_by_id(plan: str) -> dict[int, str]:
    """Map operator id -> its detail block text."""
    out: dict[int, str] = {}
    cur, buf = None, []
    for line in plan.splitlines():
        m = re.match(r"^\((\d+)\) ([A-Za-z].*)$", line)
        if m:
            if cur is not None:
                out[cur] = "\n".join(buf)
            # keep the header tail: ReusedExchange carries its
            # "[Reuses operator id: N]" THERE, not in the body
            cur, buf = int(m.group(1)), [m.group(2)]
        elif cur is not None:
            buf.append(line)
    if cur is not None:
        out[cur] = "\n".join(buf)
    return out


_UNPART_WINDOW = re.compile(
    r"windowspecdefinition\((?:specifiedwindowframe|"
    r"\S+#\d+\w* (?:ASC|DESC))")


def _classify_feeder(nid, nodes, details) -> str:
    """Name the first cardinality-determining operator at/below nid."""
    seen = set()
    while True:
        if nid in seen or nid not in nodes:
            return "unknown"
        seen.add(nid)
        name, children = nodes[nid]
        head = name.split()[0]
        if head == "ReusedExchange":
            m = re.search(r"Reuses operator id: (\d+)",
                          details.get(nid, ""))
            if not m:
                return "reused"
            nid = int(m.group(1))
            continue
        if head in _PASSTHROUGH:
            if len(children) == 1:
                nid = children[0]
                continue
            return head.lower() if not children else "multi"
        if head in ("HashAggregate", "SortAggregate", "ObjectHashAggregate"):
            return "aggregate"
        if head == "TakeOrderedAndProject":
            return "take_ordered"
        if head in ("GlobalLimit", "LocalLimit", "CollectLimit"):
            return "limit"
        if head == "LocalTableScan":
            return "local_table"
        if head == "Range":
            return "range"
        if head == "Scan":
            return "cached" if "ExistingRDD" in name else "scan"
        if head == "InMemoryTableScan":
            return "cached"
        if head == "Generate":
            # explode multiplies rows by array arity — bounded input
            # stays bounded; recurse so the leaf is judged
            return ("generate(" + _classify_feeder(
                children[0], nodes, details) + ")" if children
                else "generate")
        if "Join" in head or head == "CartesianProduct":
            # a join of two bounded sides is bounded (|L|·|R| worst
            # case) — recurse so the whitelist can judge the leaves
            if "LeftSemi" in name or "LeftAnti" in name:
                # semi/anti output ⊆ left side; right only filters
                return _classify_feeder(children[0], nodes, details)
            parts = [_classify_feeder(c, nodes, details) for c in children]
            return "join(" + ",".join(parts) + ")"
        if head == "Union":
            parts = [_classify_feeder(c, nodes, details) for c in children]
            return "union(" + ",".join(parts) + ")"
        return head.lower()


def bounded_stage_feeders(plan: str) -> list[str]:
    """For every single-task stage — an unpartitioned Window or a
    SinglePartition Exchange — trace the operator that determines how
    many rows enter it. Returns tags like ``window<-aggregate`` /
    ``single<-take_ordered``; ``...<-scan`` means an UNBOUNDED corpus
    scan feeds one task (the thing SCALE.md forbids). The whitelist
    lives in tests/test_plan_properties.py (VERDICT r7 item 3)."""
    nodes = _parse_plan_forest(plan)
    details = _details_by_id(plan)
    tags: list[str] = []
    for nid, (name, children) in nodes.items():
        head = name.split()[0]
        det = details.get(nid, "")
        if head == "Window" and _UNPART_WINDOW.search(det):
            child = children[0] if children else nid
            tags.append("window<-" + _classify_feeder(child, nodes, details))
        elif head == "Exchange" and "Arguments: SinglePartition" in det:
            child = children[0] if children else nid
            tags.append("single<-" + _classify_feeder(child, nodes, details))
    return sorted(tags)


def summarize(spark, df) -> dict:
    """Scale-relevant physical-plan properties of an (un-executed)
    DataFrame, with AQE disabled for the static view. Keys double as
    the structural contract tests/test_plan_properties.py pins."""
    aqe_prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted")
        cg = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_prev)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    scans = re.findall(r"ReadSchema: (struct<[^\n]*)", plan)
    m = re.search(r"Found (\d+) WholeStageCodegen", cg)
    return {
        "shuffles": len(re.findall(r"Arguments: hashpartitioning", plan)),
        "range_shuffles": len(re.findall(r"Arguments: rangepartitioning", plan)),
        "single_part": len(re.findall(r"Arguments: SinglePartition", plan)),
        # windowspecdefinition whose FIRST argument is the frame or an
        # ordered column = no PARTITION BY → the whole input moves to
        # one task (the `WindowExec: No Partition Defined` warning).
        "unpartitioned_windows": len(re.findall(
            r"windowspecdefinition\((?:specifiedwindowframe|"
            r"\S+#\d+\w* (?:ASC|DESC))", plan)),
        "broadcast_joins": len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)),
        "broadcast_nl_joins": len(
            re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)),
        "sort_merge_joins": len(re.findall(r"\(\d+\) SortMergeJoin", plan)),
        "in_memory_scans": len(re.findall(r"InMemoryTableScan", plan)),
        "scans": len(scans),
        "scan_widths": [s.count(":") for s in scans],
        "pushed_filter_scans": sum(1 for p in pushed if p.strip()),
        "codegen_spans": int(m.group(1)) if m else 0,
        "bounded_stage_feeders": bounded_stage_feeders(plan),
        "_plan": plan,
    }


def main() -> None:
    from alma_publish_to_marc_spark.session import get_spark
    from alma_publish_to_marc_spark import registry, tables

    spark = get_spark("explain-audit")
    qs = registry.queries()
    # Default: EVERY registry key (VERDICT r06 item 4) — one audit
    # section per query so a shuffle regression anywhere is caught
    # mechanically. Pass names to subset.
    names = ONLY or list(qs)
    for name in names:
        if name not in qs:
            continue
        df = qs[name](spark, SF_DIR)
        # AQE wraps un-executed plans in AdaptiveSparkPlan, under which
        # the "codegen" explain reports 0 WholeStageCodegen subtrees
        # (compiled only at execution). Disable it AFTER building the
        # frame so the audit sees the static plan, and restore the
        # previous value in `finally` — anything built in this session
        # outside the registry wrappers (whose tune() re-enables AQE)
        # must not silently plan without it.
        props = summarize(spark, df)
        plan = props.pop("_plan")
        # driver-paced queries persist frames during construction;
        # drop them so a full-registry audit doesn't accumulate cache
        # (tables.release also sweeps deferred staged-parquet dirs)
        spark.catalog.clearCache()
        tables.release()
        print(f"== {name}: " + " ".join(
            f"{k}={v}" for k, v in props.items()))
        if "-v" in sys.argv or os.environ.get("AUDIT_VERBOSE"):
            print(plan)


if __name__ == "__main__":
    main()
