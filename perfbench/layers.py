"""Per-layer metrics of a traced run, and the spans that feed them.

Spans are set from the benchmark's side, around calls into the engine's
public functions (:func:`instrument`); Spark job metrics come from the
event log (:mod:`tracing`). Unless a metric's name says otherwise it is
per op (one publish drop or one reporting query), averaged over the traced
ops; ``report.*`` metrics are per pass. A layer the workload never calls
reads 0.

``sources.publish.parse_passes`` counts the stages that scanned the drop's
publish files (each runs the parse UDF), per drop; 1.0 is ideal.
``sources.publish.python_s`` is the Python-worker time of those stages, so
it includes the split UDF whenever Spark fuses the split into the parse
stage (a drop of at least nproc files); ``plans.publish_split.python_s``
is the Python-worker time of the drop's other stages, which is the split
when it runs behind its own shuffle.

``LAYER_MAP`` records which end-to-end metric each layer's metrics should
move, on which workload, and where they should stay flat.
"""

from __future__ import annotations

from collections import defaultdict

from workloads import REPORT_KEYS

# (layer, metrics, should move → workload, flat on)
LAYER_MAP = [
    ("session", ["session.get_spark_s"], "setup_s on every workload", "-"),
    ("tables", ["tables.load.calls", "tables.load.s", "tables.load.jobs"],
     "op_p50_s, run_s on report_queries", "publish_incremental"),
    ("registry / plans / operators (reporting keys)",
     ["report.build_s", "report.build_jobs", "report.exec_s",
      "report.<key>.build_s", "report.<key>.exec_s"],
     "run_s, op_p50_s on report_queries", "publish_incremental"),
    ("sources.publish",
     ["sources.publish.parse_passes", "sources.publish.python_s",
      "sources.publish.landing_bytes"],
     "op_p50_s, records_per_s on publish_incremental", "report_queries"),
    ("plans.publish_split(_fast)",
     ["plans.publish_split.build_s", "plans.publish_split.python_s"],
     "op_p50_s, records_per_s on publish_incremental", "report_queries"),
    ("plans.pipeline",
     ["plans.pipeline.extract_build_s", "plans.pipeline.write_s",
      "plans.pipeline.counters_s", "plans.pipeline.rows_written_per_input_row",
      "plans.pipeline.warehouse_bytes_written"],
     "op_p50_s, stored_bytes_per_input_byte on publish_incremental",
     "report_queries"),
    ("operators.upsert", ["operators.upsert.build_s"],
     "op_p50_s on publish_incremental", "report_queries"),
    ("Spark (per op)",
     ["spark.jobs", "spark.stages", "spark.tasks", "spark.job_gap_s",
      "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
      "spark.python_s", "spark.shuffle_read_bytes",
      "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.input_bytes",
      "spark.output_bytes", "spark.persisted_rdds_after_op"],
     "op_p50_s of the workload the op belongs to", "-"),
    ("process tree",
     ["process.peak_rss_mb", "process.cpu_s", "process.core_utilization"],
     "run_s on every workload", "-"),
    ("benchmark", ["trace.overhead_s", "op_count"],
     "nothing: tracing cost and the sample count behind op_p50_s", "-"),
]

_RATIOS = ("plans.pipeline.rows_written_per_input_row",
           "process.core_utilization")
_HIGHER = ("sources.publish.landing_bytes", "process.core_utilization",
           "op_count")


def _unit(name: str) -> str:
    if name in _RATIOS:
        return "ratio"
    if name.endswith(("_s", ".s")):
        return "s"
    if "bytes" in name:
        return "bytes"
    return "MB" if name.endswith("_mb") else "count"


def metric_names() -> list[tuple[str, str, str]]:
    """(name, unit, better) for every per-layer metric, in LAYER_MAP order."""
    out = []
    for _, names, _, _ in LAYER_MAP:
        for n in names:
            for e in ([n.replace("<key>", k) for k in REPORT_KEYS]
                      if "<key>" in n else [n]):
                out.append((e, _unit(e),
                            "higher" if e in _HIGHER else "lower"))
    return out


def instrument(tracer) -> None:
    """Wrap the engine's layer entry points in spans."""
    from pyspark.sql.readwriter import DataFrameWriter

    from alma_publish_to_marc_spark import metrics, tables
    from alma_publish_to_marc_spark.operators import upsert
    from alma_publish_to_marc_spark.plans import pipeline, publish_split
    from alma_publish_to_marc_spark.sources import publish

    tracer.patch_function(tables, "load", "tables.load")
    for f in ("read_publish_records", "read_delete_manifests"):
        tracer.patch_function(publish, f, "sources.publish")
    tracer.patch_function(publish_split, "split_publish", "plans.publish_split")
    for f in ("extract_bib_brief", "extract_holding_brief", "extract_items",
              "extract_bib_parts"):
        tracer.patch_function(pipeline, f, "plans.pipeline.extract")
    tracer.patch_function(metrics, "run_counters", "plans.pipeline.counters")
    for f in ("merge_upsert", "delete_with_history", "cascade_delete_holdings",
              "stale_holdings_for_published_bibs"):
        tracer.patch_function(upsert, f, "operators.upsert")
    tracer.patch_method(DataFrameWriter, "parquet", "plans.pipeline.write")


def per_layer(tracer, jobs, *, n_passes: int, session_start_s: float,
              run_s: float, cpu_s: float, peak_rss_mb: float,
              overhead_s: float, op_count: int) -> dict[str, float]:
    import os

    from tracing import busy_seconds

    spans = tracer.spans
    by_id = {s.sid: s for s in spans}

    def path(sid):
        while sid is not None:
            s = by_id[sid]
            yield s
            sid = s.parent

    def top(name):
        """Outermost spans of ``name`` (a layer function calling itself
        through another patched binding is counted once)."""
        return [s for s in spans if s.name == name
                and not any(a.name == name for a in path(s.parent))]

    ops = [s for s in spans if s.name == "op"]
    n_ops = max(1, len(ops))
    drops = [s for s in ops if "records" in s.attrs]
    n_drops = len(drops)
    op_jobs = defaultdict(list)       # op sid → jobs
    layer_jobs = defaultdict(list)    # span name → jobs under it
    for j in jobs.values():
        names = set()
        op = None
        for s in path(j.span):
            names.add(s.name)
            if s.name == "op":
                op = s
        if op is None:
            continue
        op_jobs[op.sid].append(j)
        for n in names:
            layer_jobs[n].append(j)
    all_jobs = [j for js in op_jobs.values() for j in js]
    drop_jobs = [j for s in drops for j in op_jobs[s.sid]]

    def jsum(key, js=all_jobs):
        return sum(j.m.get(key, 0.0) for j in js)

    def dur(name):
        return sum(s.t1 - s.t0 for s in top(name))

    def per_drop(v):
        return v / n_drops if n_drops else 0.0

    out = {
        "session.get_spark_s": session_start_s,
        "tables.load.calls": len(top("tables.load")) / n_ops,
        "tables.load.s": dur("tables.load") / n_ops,
        "tables.load.jobs": len(layer_jobs["tables.load"]) / n_ops,
        "report.build_s": dur("report.build") / n_passes,
        "report.build_jobs": len(layer_jobs["report.build"]) / n_passes,
        "report.exec_s": dur("report.exec") / n_passes,
        "sources.publish.parse_passes": per_drop(jsum("passes.publish_parse")),
        "sources.publish.python_s": per_drop(jsum("python_s.publish_parse")),
        "sources.publish.landing_bytes": per_drop(
            sum(s.attrs["landing_bytes"] for s in drops)),
        "plans.publish_split.build_s": per_drop(dur("plans.publish_split")),
        "plans.publish_split.python_s": per_drop(jsum("python_s.other", drop_jobs)),
        "plans.pipeline.extract_build_s": per_drop(dur("plans.pipeline.extract")),
        "plans.pipeline.write_s": per_drop(dur("plans.pipeline.write")),
        "plans.pipeline.counters_s": per_drop(dur("plans.pipeline.counters")),
        "plans.pipeline.rows_written_per_input_row": (
            jsum("records_written") / sum(s.attrs["records"] for s in drops)
            if n_drops else 0.0),
        "plans.pipeline.warehouse_bytes_written": per_drop(
            jsum("output_bytes", layer_jobs["plans.pipeline.write"])),
        "operators.upsert.build_s": per_drop(dur("operators.upsert")),
        "spark.jobs": len(all_jobs) / n_ops,
        "spark.stages": sum(j.stages for j in all_jobs) / n_ops,
        "spark.tasks": sum(j.tasks for j in all_jobs) / n_ops,
        "spark.job_gap_s": sum(
            (s.t1 - s.t0) - busy_seconds(op_jobs[s.sid], s.t0, s.t1)
            for s in ops) / n_ops,
        "spark.executor_run_s": jsum("run_s") / n_ops,
        "spark.executor_cpu_s": jsum("cpu_s") / n_ops,
        "spark.gc_s": jsum("gc_s") / n_ops,
        "spark.python_s": jsum("python_s") / n_ops,
        "spark.shuffle_read_bytes": jsum("shuffle_read_bytes") / n_ops,
        "spark.shuffle_write_bytes": jsum("shuffle_write_bytes") / n_ops,
        "spark.spill_bytes": jsum("spill_bytes") / n_ops,
        "spark.input_bytes": jsum("input_bytes") / n_ops,
        "spark.output_bytes": jsum("output_bytes") / n_ops,
        "spark.persisted_rdds_after_op": max(
            (s.attrs.get("persisted_rdds", 0) for s in ops), default=0),
        "process.peak_rss_mb": peak_rss_mb,
        "process.cpu_s": cpu_s / n_passes,
        "process.core_utilization": (cpu_s / n_passes)
        / (run_s * len(os.sched_getaffinity(0))),
        "trace.overhead_s": overhead_s,
        "op_count": op_count,
    }
    for key in REPORT_KEYS:
        for kind in ("build", "exec"):
            ss = [s for s in top(f"report.{kind}") if s.attrs.get("key") == key]
            out[f"report.{key}.{kind}_s"] = (
                sum(s.t1 - s.t0 for s in ss) / n_passes)
    return out
