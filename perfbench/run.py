"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--size full|tiny]

Runs from the root of a checkout. Makes the workload's inputs from the
seed, starts the engine's session (``session.get_spark`` on
``local[n]``, n the workload's task threads), runs the workload's untimed
warm-up, then passes of the workload's ops until ``--seconds`` have gone by
(always at least one whole pass), and checks every op's output outside the
timed region. ``setup_s`` is the session's start, cold in a fresh process,
plus the warm-up. ``run_s`` is a pass's time taken op by op: the sum over
the workload's ops of each op's median over the passes; ``op_p50_s`` is the
median of those per-op medians. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics of
BENCHMARK.json with ``--trace 1``.

``--trace 1`` first measures exactly like ``--trace 0``, then restarts the
session with an uncompressed, non-rolling event log, wraps the engine's
layer functions in spans and measures again, then restarts once more and
measures untraced as the reference for the tracing overhead. Spans and
per-job records are written to ``.perfbench_out/`` at the end. Everything else the run
writes lives under ``.perfbench_work/`` and is removed on exit.

The first run in a checkout, whatever its workload, also builds the
publish workload's base warehouse into ``.perfbench_cache/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    p.add_argument("--build-base", metavar="DIR",
                   help="build the publish base warehouse into DIR and exit")
    return p.parse_args(argv)


def _prepare_env(work: str, task_threads: int | None = None) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``;
    run ``task_threads`` task threads (all cores if None)."""
    for sub in ("tmp", "spark-local", "spark-warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(min(task_threads or nproc, nproc))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.sql.warehouse.dir="
        + os.path.join(work, "spark-warehouse"),
        "--conf", "spark.local.dir=" + os.path.join(work, "spark-local"),
        "--conf", "spark.driver.extraJavaOptions=-Djava.io.tmpdir=" + tmp,
        "pyspark-shell"])
    os.chdir(work)


def _start_session(started: list):
    """get_spark to first action. ``started`` keeps every context object
    alive: ``session`` ships the package to a context once per id()."""
    from alma_publish_to_marc_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.range(1).count()
    started.append(spark.sparkContext)
    return spark, time.perf_counter() - t0


def _shutdown(spark) -> None:
    """Stop the session and the JVM this process launched, and wait."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _measure(wl, spark, tracer, seconds: float):
    """Passes until ``seconds`` have gone by or the workload's pass limit
    is reached; returns the passes' ops."""
    passes = []
    t_end = time.perf_counter() + seconds
    while True:
        passes.append(wl.run_pass(spark, tracer))
        if time.perf_counter() >= t_end or len(passes) == wl.max_passes:
            return passes


def _op_medians(passes) -> list[float]:
    """Each op's median time over the passes. A slow moment of the host
    then moves an op's figure only if it hits most of that op's runs."""
    times: dict[str, list[float]] = {}
    for p in passes:
        for o in p:
            times.setdefault(o.name, []).append(o.seconds)
    return [statistics.median(t) for t in times.values()]


def _run_s(passes) -> float:
    return sum(_op_medians(passes))


def _end_to_end(wl, setup_s: float, passes) -> dict[str, float]:
    run_s = _run_s(passes)
    return {
        "setup_s": setup_s,
        "run_s": run_s,
        "op_p50_s": statistics.median(_op_medians(passes)),
        "records_per_s": wl.records_per_pass / run_s,
        "stored_bytes_per_input_byte": wl.stored_bytes_per_input_byte(),
    }


def _traced(wl, spark, seconds: float, session_start_s: float,
            n_untraced_ops: int, out_path: str, started: list):
    """Per-layer metrics: restart the session with an event log and
    measure under spans, then restart without either and measure again as
    the reference for the tracing overhead. Both follow the untraced
    measurement, so neither pays the process's first-op cold start.
    Returns (session, ops of both measurements, metrics)."""
    import layers
    import tracing

    evdir = os.path.join(os.getcwd(), "eventlog")
    os.makedirs(evdir)
    jvm_system = spark._jvm.java.lang.System
    log_conf = tracing.event_log_conf(evdir)
    spark.stop()
    for k, v in log_conf.items():
        jvm_system.setProperty(k, v)
    spark, _ = _start_session(started)
    tracer = tracing.Tracer(spark.sparkContext, enabled=True)
    layers.instrument(tracer)
    cpu0 = tracing.tree_cpu_seconds()
    try:
        with tracing.RssSampler() as rss:
            traced = _measure(wl, spark, tracer, seconds)
    finally:
        tracer.unpatch()
    cpu_s = tracing.tree_cpu_seconds() - cpu0
    spark.stop()            # flushes and closes the event log
    for k in log_conf:
        jvm_system.clearProperty(k)
    spark, _ = _start_session(started)
    reference = _measure(wl, spark, tracing.Tracer(), seconds)
    jobs = tracing.read_event_log(evdir)
    tracing.attribute_jobs(tracer, jobs)
    traced_run_s = _run_s(traced)
    metrics = layers.per_layer(
        tracer, jobs, n_passes=len(traced),
        session_start_s=session_start_s,
        run_s=traced_run_s, cpu_s=cpu_s, peak_rss_mb=rss.peak,
        overhead_s=traced_run_s - _run_s(reference),
        op_count=n_untraced_ops)
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as fh:
        json.dump({"spans": [vars(s) for s in tracer.spans],
                   "jobs": [{**{k: v for k, v in vars(j).items() if k != "m"},
                             "m": dict(j.m)} for j in jobs.values()],
                   "metrics": metrics}, fh, default=str)
    return spark, traced + reference, metrics


def main(argv=None) -> int:
    args = _parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    if args.build_base:
        import workloads

        _prepare_env(args.build_base + ".work")
        spark = _start_session([])[0]
        try:
            workloads.build_base(spark, args.size, args.build_base)
        finally:
            _shutdown(spark)
            os.chdir(ROOT)
            shutil.rmtree(args.build_base + ".work", ignore_errors=True)
        return 0

    import workloads  # noqa: E402  (needs sys.path above)
    from tracing import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; expected one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    import alma_publish_to_marc_spark  # noqa: F401  (fail early without it)

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    wl = spark = None
    try:
        _prepare_env(work, workloads.WORKLOADS[args.workload].task_threads)
        workloads.base_warehouse(args.size)
        wl = workloads.WORKLOADS[args.workload](args.seed, work, args.size)
        wl.generate()
        started = []
        spark, start_s = _start_session(started)
        warm = wl.warm_up(spark)
        setup_s = start_s + sum(o.seconds for o in warm)
        passes = _measure(wl, spark, Tracer(), args.seconds)
        metrics = _end_to_end(wl, setup_s, passes)
        if args.trace:
            out = os.path.join(ROOT, ".perfbench_out",
                               f"{args.workload}-seed{args.seed}.trace.json")
            spark, more, layer_metrics = _traced(
                wl, spark, args.seconds, start_s,
                sum(len(p) for p in passes), out, started)
            passes += more
            names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
            metrics = layer_metrics
        else:
            names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        wl.finish(passes)
        ops = warm + [o for p in passes for o in p]
        for o in ops:
            for problem in o.problems:
                print(f"failed op {o.name}: {problem}", file=sys.stderr)
        failed = sum(not o.ok for o in ops)
        result = {
            "correct": failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {n: {"value": metrics[n], "unit": u} for n, u in names},
        }
    finally:
        if spark is not None:
            _shutdown(spark)
        os.chdir(ROOT)
        if wl is not None:
            wl.cleanup()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
